package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, StringType}

/** One-pass dataset profiling: per-column counts, null counts, distinct
  * counts, numeric moments and exact interpolated quartiles, string
  * length stats — the "what is in this 100 TB table" query.
  *
  * Everything is ONE `df.agg(...)` — a single scan with partial
  * (map-side) aggregation, no joins, no per-column passes. Exact
  * `count_distinct` and `percentile` are used so results are
  * engine-checkable (the DuckDB oracle recomputes them); at extreme
  * cardinalities swap `countDistinct` for `approx_count_distinct` and
  * `percentile` for `percentile_approx` — same plan shape, sketch
  * memory instead of exact state.
  *
  * Output is LONG-form — one row per (column, stat) — so any schema
  * profiles into the same 3-column frame (easy to store, diff between
  * snapshots, and hash-compare).
  */
object Profile {

  // ---- at-rest encryption plumbing: sketches AGGREGATE the array's
  // user data (value histograms, frequency cells), so an encrypted
  // array's sketch sidecars must be ciphertext too — parquet cells via
  // the same modular-encryption options as fragment data, JSON params
  // via the AES-GCM envelope with role "sketch". Plaintext arrays are
  // untouched (all helpers no-op to plain IO).
  private def encKeyId(spark: org.apache.spark.sql.SparkSession,
      uri: String): Option[String] =
    graft.storage.ArrayTable.encryptionKeyId(spark, uri)

  private def encOpts(spark: org.apache.spark.sql.SparkSession,
      uri: String): Map[String, String] =
    encKeyId(spark, uri).map(graft.storage.Encryption.writeOptions)
      .getOrElse(Map.empty)

  private def sketchKey(spark: org.apache.spark.sql.SparkSession,
      uri: String): Option[Array[Byte]] =
    encKeyId(spark, uri).map(id => graft.storage.Encryption.requireKey(
      spark.sparkContext.hadoopConfiguration, id, uri))

  private def sketchWriteJson(spark: org.apache.spark.sql.SparkSession,
      uri: String, path: String, content: String): Unit =
    graft.storage.Encryption.envelopeWrite(spark, sketchKey(spark, uri),
      path, "sketch", content)

  private def sketchReadJson(spark: org.apache.spark.sql.SparkSession,
      uri: String, path: String): String =
    graft.storage.Encryption.envelopeRead(spark, sketchKey(spark, uri),
      path, "sketch")

  /** Profile `cols` (default: every column) of `df` in one aggregate
    * pass. Returns (column, stat, value: double) rows; string columns
    * report length stats, numeric columns report value stats. */
  def profile(df: DataFrame, cols: Seq[String] = Nil): DataFrame = {
    val names = if (cols.nonEmpty) cols else df.columns.toSeq
    val aggs: Seq[Column] = names.flatMap { name =>
      val c = col(name)
      val common = Seq(
        count(c).cast("double").as(s"${name}__count"),
        sum(when(c.isNull, 1L).otherwise(0L)).cast("double").as(s"${name}__nulls"),
        countDistinct(c).cast("double").as(s"${name}__distinct"))
      df.schema(name).dataType match {
        case _: NumericType => common ++ Seq(
          min(c).cast("double").as(s"${name}__min"),
          max(c).cast("double").as(s"${name}__max"),
          avg(c.cast("double")).as(s"${name}__mean"),
          percentile(c.cast("double"), lit(0.25)).as(s"${name}__p25"),
          percentile(c.cast("double"), lit(0.5)).as(s"${name}__p50"),
          percentile(c.cast("double"), lit(0.75)).as(s"${name}__p75"))
        case StringType => common ++ Seq(
          min(length(c)).cast("double").as(s"${name}__min_len"),
          max(length(c)).cast("double").as(s"${name}__max_len"),
          avg(length(c).cast("double")).as(s"${name}__mean_len"))
        case _ => common
      }
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    // unpivot the single wide row to (column, stat, value)
    val pairs = wide.columns.map { full =>
      // split at the LAST "__": stat names never contain it, but a
      // source column name may (e.g. "a__b__count" → ("a__b", "count"))
      val cut     = full.lastIndexOf("__")
      val colName = full.substring(0, cut)
      val stat    = full.substring(cut + 2)
      struct(lit(colName).as("column"), lit(stat).as("stat"),
        col(s"`$full`").as("value"))
    }
    wide.select(explode(array(pairs.toSeq: _*)).as("p"))
      .select(col("p.column"), col("p.stat"), col("p.value"))
  }

  // ---------------------------------------- incremental fragment sketches

  /** Incremental, MERGEABLE profiling of an array-table: each fragment
    * gets a persisted sketch row-set (counts, null counts, exact
    * decimal sums, min/max, and an HLL distinct-count sketch —
    * DataSketches binary via `hll_sketch_agg`), written once beside
    * the array under `__profile/`. A merged profile then reads ONLY
    * the tiny sketch files: exact stats merge exactly (sums add,
    * min/min, max/max) and distinct counts merge through
    * `hll_union_agg` — the sketch property that makes profiling a
    * 100 TB table incremental: new data costs one pass over the NEW
    * fragment, and re-profiling costs zero data reads. (The exact
    * one-pass [[profile]] stays the small-table / oracle-checkable
    * form; `countDistinct` and `percentile` do not merge.) */
  def writeFragmentSketches(spark: org.apache.spark.sql.SparkSession,
      uri: String, cols: Seq[String], lgConfigK: Int = 12): Int = {
    import graft.storage.ArrayTable
    val fs = graft.storage.VFS(spark)
    val done = if (fs.exists(s"$uri/__profile"))
      fs.ls(s"$uri/__profile").map(p => p.substring(p.lastIndexOf('/') + 1))
        .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).toSet
    else Set.empty[String]
    val todo = ArrayTable.fragments(spark, uri).filterNot(f => done(f.name))
    todo.foreach { f =>
      val df = spark.read.parquet(s"${f.path}/data")
      val aggs = cols.flatMap { name =>
        val c = col(name)
        val numeric = df.schema(name).dataType.isInstanceOf[NumericType]
        Seq(
          count(c).as(s"${name}__n"),
          sum(when(c.isNull, 1L).otherwise(0L)).as(s"${name}__nulls"),
          hll_sketch_agg(when(c.isNull, null)
            .otherwise(c.cast("string")), lit(lgConfigK)).as(s"${name}__hll"),
          (if (numeric) min(c).cast("double") else lit(null).cast("double"))
            .as(s"${name}__min"),
          (if (numeric) max(c).cast("double") else lit(null).cast("double"))
            .as(s"${name}__max"),
          // decimal sum: exact and ORDER-INDEPENDENT, so merged sums
          // are reproducible however fragments and partitions split
          (if (numeric) sum(c.cast(org.apache.spark.sql.types.DecimalType(32, 6)))
           else lit(null).cast(org.apache.spark.sql.types.DecimalType(38, 6)))
            .as(s"${name}__sum"))
      }
      val wide = df.agg(aggs.head, aggs.tail: _*)
      val long = cols.map { name =>
        struct(lit(name).as("column"), col(s"`${name}__n`").as("n"),
          col(s"`${name}__nulls`").as("nulls"), col(s"`${name}__hll`").as("hll"),
          col(s"`${name}__min`").as("min"), col(s"`${name}__max`").as("max"),
          col(s"`${name}__sum`").cast(org.apache.spark.sql.types.DecimalType(38, 6)).as("sum"))
      }
      wide.select(explode(array(long: _*)).as("s"))
        .select(lit(f.name).as("fragment"), col("s.*"))
        .coalesce(1).write.mode("overwrite").options(encOpts(spark, uri))
        .parquet(s"$uri/__profile/${f.name}.parquet")
    }
    todo.size
  }

  /** Exact top-k most frequent values of a column — the categorical
    * complement to the numeric quartiles: one map-side-combined count
    * aggregation (vocabulary-sized result), then the shared
    * bounded-heap top-k with the deterministic (count desc, value asc)
    * tie rule — never a corpus-wide rank window. NULLs excluded.
    * Returns (value string, cnt, rank). */
  def frequentValues(df: DataFrame, colName: String, k: Int = 20): DataFrame = {
    val counts = df.filter(col(colName).isNotNull)
      .groupBy(col(colName).cast("string").as("value"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("__k", lit(0))
    graft.ops.Similarity.topKPerKey(counts, "__k", "value", "cnt", k)
      .select(col("value"), col("cnt").cast("long").as("cnt"), col("rank"))
  }

  // ------------------------------------- incremental quantile histograms

  /** Per-fragment equi-width HISTOGRAMS for a numeric column over
    * fixed global bounds — the mergeable quantile complement to the
    * HLL sketches ([[profile]]'s exact `percentile` does not merge).
    * Bucket counts add exactly across fragments/appends, so the merge
    * reads only the tiny histogram files, and the quantile estimate
    * carries a DETERMINISTIC error bound: the estimate and the true
    * quantile value share a bucket, so |est - exact| <= bucket width
    * (pinned by the `hist_quantile_gate` oracle).
    *
    * Bounds are pinned in a `_bounds.json` sidecar on first write and
    * re-checked on every incremental call — a fragment histogrammed
    * against different bounds would merge into garbage. Out-of-bounds
    * values clamp into the end buckets (the bound still holds for
    * quantiles that land strictly inside the range). */
  def writeFragmentHistograms(spark: org.apache.spark.sql.SparkSession,
      uri: String, colName: String, lo: Double, hi: Double,
      buckets: Int = 64): Int = {
    require(hi > lo && buckets >= 2, s"bad histogram spec [$lo, $hi] x $buckets")
    import graft.storage.ArrayTable
    import graft.core.Json._
    val fs = graft.storage.VFS(spark)
    val dir = s"$uri/__profile_hist/$colName"
    val boundsPath = s"$dir/_bounds.json"
    if (fs.exists(boundsPath)) {
      val o = parse(sketchReadJson(spark, uri, boundsPath)).obj
      def d(k: String) = o(k).getOrElse(sys.error(s"bounds missing $k")).dbl
      require(d("lo") == lo && d("hi") == hi && d("buckets").toInt == buckets,
        s"histogram bounds mismatch at $dir: stored " +
          s"[${d("lo")}, ${d("hi")}] x ${d("buckets").toInt}, asked [$lo, $hi] x $buckets")
    } else sketchWriteJson(spark, uri, boundsPath, render(JObj(Seq(
      "lo" -> JNum(lo), "hi" -> JNum(hi), "buckets" -> JLong(buckets)))))
    val done = fs.ls(dir).map(p => p.substring(p.lastIndexOf('/') + 1))
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).toSet
    val todo = ArrayTable.fragments(spark, uri).filterNot(f => done(f.name))
    val width = (hi - lo) / buckets
    todo.foreach { f =>
      val df = spark.read.parquet(s"${f.path}/data")
      df.select(col(colName).cast("double").as("__v")).filter(col("__v").isNotNull)
        .select(least(greatest(floor((col("__v") - lit(lo)) / lit(width)), lit(0.0)),
          lit((buckets - 1).toDouble)).cast("int").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("cnt"))
        .coalesce(1).write.mode("overwrite").options(encOpts(spark, uri))
        .parquet(s"$dir/${f.name}.parquet")
    }
    todo.size
  }

  /** Merged (bucket, cnt) counts over the LIVE fragments — sketch
    * files only, no data reads. `at` restricts the merge to an MVCC
    * timestamp window (sketches are per fragment, so a windowed merge
    * is just a different file subset — the snapshot-comparison
    * primitive behind [[histogramDrift]]). */
  def mergedHistogram(spark: org.apache.spark.sql.SparkSession,
      uri: String, colName: String,
      at: Option[(Long, Long)] = None): DataFrame = {
    import graft.storage.ArrayTable
    val frags0 = ArrayTable.fragments(spark, uri)
    val frags = at match {
      case Some((t0, t1)) => frags0.filter(f => f.ts >= t0 && f.ts <= t1)
      case None => frags0
    }
    if (frags.isEmpty) {
      // a window before the first fragment is a legal question with an
      // empty answer, not a parquet-inference crash
      import spark.implicits._
      spark.emptyDataset[(Int, Long)].toDF("bucket", "cnt")
    } else {
      val dir = s"$uri/__profile_hist/$colName"
      requireSketches(graft.storage.VFS(spark), dir, frags.map(_.name),
        "histogram", s"writeFragmentHistograms / CALL system.histogram('$uri', '$colName')")
      spark.read.parquet(frags.map(f => s"$dir/${f.name}.parquet"): _*)
        .groupBy("bucket").agg(sum("cnt").as("cnt"))
    }
  }

  /** Total-variation distance between two histograms over the same
    * pinned bounds: 0.5 * sum_b |p1(b) - p2(b)| in [0, 1] — the
    * "did the distribution shift between snapshot t and t'" number,
    * computed from sketch files alone (combine with the `at` window
    * of [[mergedHistogram]]; zero data reads, zero corpus passes).
    * Bucket-width resolution: shifts inside one bucket are invisible,
    * the usual equi-width-sketch contract. */
  def histogramDrift(h1: Seq[(Int, Long)], h2: Seq[(Int, Long)]): Double = {
    val n1 = h1.map(_._2).sum.toDouble
    val n2 = h2.map(_._2).sum.toDouble
    if (n1 == 0 || n2 == 0) return if (n1 == n2) 0.0 else 1.0
    // group-sum duplicate bucket keys so ungrouped per-fragment rows
    // are a legal input (toMap alone would keep one row per bucket
    // while n counts them all — inconsistent probabilities)
    def fold(h: Seq[(Int, Long)]) =
      h.groupBy(_._1).map { case (b, rs) => b -> rs.map(_._2).sum }
    val m1 = fold(h1); val m2 = fold(h2)
    0.5 * (m1.keySet ++ m2.keySet).toSeq.sorted.map { b =>
      math.abs(m1.getOrElse(b, 0L) / n1 - m2.getOrElse(b, 0L) / n2)
    }.sum
  }

  /** Quantile estimate from a merged histogram: find the bucket
    * holding rank ceil(q*n), interpolate linearly inside it. The true
    * q-quantile value lies in the same bucket (both are determined by
    * that rank), so |estimate - exact| <= (hi-lo)/buckets for
    * quantiles strictly inside the bounds. */
  def histogramQuantile(hist: Seq[(Int, Long)], lo: Double, hi: Double,
      buckets: Int, q: Double): Double = {
    require(q >= 0.0 && q <= 1.0)
    val width = (hi - lo) / buckets
    val sorted = hist.sortBy(_._1)
    val n = sorted.map(_._2).sum
    if (n == 0) return Double.NaN
    val target = math.max(1L, math.ceil(q * n).toLong)
    var cum = 0L
    for ((b, cnt) <- sorted) {
      if (cum + cnt >= target) {
        val frac = (target - cum).toDouble / cnt
        return lo + width * (b + frac)
      }
      cum += cnt
    }
    hi
  }

  // ------------------------------------- incremental count-min sketches

  /** Per-fragment COUNT-MIN sketches for a column — the mergeable
    * point-frequency complement to [[frequentValues]] (exact top-k
    * needs the raw data on every query; the CMS answers "how often
    * does value v occur" from sketch files alone, for ANY v, after
    * the fact). Each fragment contributes sparse rows
    * (d, bucket, cnt) where bucket = xxhash64(value, d) mod width for
    * d in [0, depth): a groupBy over at most depth x width cells, so
    * the per-fragment pass is one map-side-combined aggregation and
    * the sketch file is tiny regardless of fragment size. Counts add
    * element-wise, so fragment sketches merge EXACTLY — the merged
    * sketch equals a one-shot sketch of the whole table row for row
    * (pinned by the `cms_gate` oracle), and merging reads only sketch
    * files. Estimates are the classic CMS guarantee: est >= true
    * always (deterministic), est <= true + e*N/width with probability
    * 1 - e^-depth per probe.
    *
    * depth/width are pinned in a `_cms.json` sidecar on first write
    * and re-checked on every incremental call — sketches built with
    * different hash families would merge into garbage. Returns the
    * number of fragments newly sketched (0 = everything current). */
  def writeFragmentCms(spark: org.apache.spark.sql.SparkSession,
      uri: String, colName: String, depth: Int = 4, width: Int = 4096): Int = {
    require(depth >= 1 && depth <= 16 && width >= 16,
      s"bad cms spec depth=$depth width=$width")
    import graft.storage.ArrayTable
    import graft.core.Json._
    val fs = graft.storage.VFS(spark)
    val dir = s"$uri/__profile_cms/$colName"
    val paramsPath = s"$dir/_cms.json"
    if (fs.exists(paramsPath)) {
      val o = parse(sketchReadJson(spark, uri, paramsPath)).obj
      def i(k: String) = o(k).getOrElse(sys.error(s"cms params missing $k")).dbl.toInt
      require(i("depth") == depth && i("width") == width,
        s"cms params mismatch at $dir: stored ${i("depth")}x${i("width")}, " +
          s"asked ${depth}x$width")
    } else sketchWriteJson(spark, uri, paramsPath, render(JObj(Seq(
      "depth" -> JLong(depth), "width" -> JLong(width)))))
    val done = fs.ls(dir).map(p => p.substring(p.lastIndexOf('/') + 1))
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).toSet
    val todo = ArrayTable.fragments(spark, uri).filterNot(f => done(f.name))
    todo.foreach { f =>
      val df = spark.read.parquet(s"${f.path}/data")
      cmsCells(df, colName, depth, width)
        .coalesce(1).write.mode("overwrite").options(encOpts(spark, uri))
        .parquet(s"$dir/${f.name}.parquet")
    }
    todo.size
  }

  /** The (d, bucket, cnt) cell rows of a one-shot CMS over `df` —
    * also the per-fragment kernel of [[writeFragmentCms]], so a
    * direct sketch of the full table compares row-for-row against the
    * fragment merge. */
  def cmsCells(df: DataFrame, colName: String, depth: Int, width: Int): DataFrame =
    df.select(col(colName).as("__v")).filter(col("__v").isNotNull)
      .select(posexplode(transform(sequence(lit(0), lit(depth - 1)),
        d => pmod(xxhash64(col("__v"), d), lit(width.toLong)))))
      .groupBy(col("pos").as("d"), col("col").as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Fails loudly (and descriptively) when a LIVE fragment has no
    * sketch sidecar under `dir` — a fragment written after the last
    * sketch pass would otherwise surface as a raw path-not-found
    * AnalysisException deep inside the parquet reader. Names the
    * stale fragments and the remedy. */
  private def requireSketches(fs: graft.storage.VFS, dir: String,
      live: Seq[String], kind: String, remedy: String): Unit = {
    val have = fs.ls(dir).map(p => p.substring(p.lastIndexOf('/') + 1))
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).toSet
    val stale = live.filterNot(have)
    require(stale.isEmpty,
      s"$kind sketches at $dir are stale: fragment(s) ${stale.mkString(", ")} " +
        s"have no sidecar (written after the last sketch pass); run $remedy first")
  }

  /** Merged (d, bucket, cnt) cells over the LIVE fragments — sketch
    * files only, no data reads. Raises a descriptive error when any
    * live fragment is unsketched (see [[requireSketches]]). */
  def mergedCms(spark: org.apache.spark.sql.SparkSession,
      uri: String, colName: String): DataFrame = {
    import graft.storage.ArrayTable
    val live = ArrayTable.fragments(spark, uri).map(_.name)
    val dir = s"$uri/__profile_cms/$colName"
    requireSketches(graft.storage.VFS(spark), dir, live, "cms",
      s"writeFragmentCms / CALL system.cms('$uri', '$colName')")
    spark.read.parquet(live.map(n => s"$dir/$n.parquet"): _*)
      .groupBy("d", "bucket").agg(sum("cnt").as("cnt"))
  }

  /** Point-frequency estimates for `probes` against a merged sketch:
    * est(v) = min over d of cnt(d, bucket_d(v)). The probes re-derive
    * their buckets with the SAME hash family (probe column type must
    * match the sketched column — xxhash64 of a long and of its string
    * form differ). The probes are the preserved side of a left join, so
    * absent cells count 0 (value never seen); that side cannot be a
    * broadcast build side, so no hint is given. */
  def cmsEstimates(spark: org.apache.spark.sql.SparkSession, uri: String,
      colName: String, probes: DataFrame, probeCol: String): DataFrame = {
    import graft.core.Json._
    val fs = graft.storage.VFS(spark)
    val o = parse(sketchReadJson(spark, uri,
      s"$uri/__profile_cms/$colName/_cms.json")).obj
    def i(k: String) = o(k).getOrElse(sys.error(s"cms params missing $k")).dbl.toInt
    val (depth, width) = (i("depth"), i("width"))
    val pb = probes.select(col(probeCol).as("value"))
      .select(col("value"), posexplode(transform(sequence(lit(0), lit(depth - 1)),
        d => pmod(xxhash64(col("value"), d), lit(width.toLong)))))
      .select(col("value"), col("pos").as("d"), col("col").as("bucket"))
    pb.join(mergedCms(spark, uri, colName), Seq("d", "bucket"), "left")
      .na.fill(0L, Seq("cnt"))
      .groupBy("value").agg(min("cnt").as("estimate"))
  }

  /** Merge the per-fragment sketches of the LIVE fragment set into one
    * profile row per column: exact n/nulls/min/max/sum plus the HLL
    * union's distinct estimate. Reads sketch files only — no data. */
  def mergedSketchProfile(spark: org.apache.spark.sql.SparkSession,
      uri: String): DataFrame = {
    import graft.storage.ArrayTable
    val live = ArrayTable.fragments(spark, uri).map(_.name)
    requireSketches(graft.storage.VFS(spark), s"$uri/__profile", live,
      "profile", s"writeFragmentSketches / CALL system.profile('$uri', ...)")
    val sketches = spark.read.parquet(
      live.map(n => s"$uri/__profile/$n.parquet"): _*)
    sketches.groupBy("column").agg(
      sum("n").as("n"),
      sum("nulls").as("nulls"),
      min("min").as("min"),
      max("max").as("max"),
      sum("sum").as("sum"),
      round(hll_sketch_estimate(hll_union_agg(col("hll"), lit(true))), 0)
        .cast("long").as("ndv_estimate"))
  }
}
