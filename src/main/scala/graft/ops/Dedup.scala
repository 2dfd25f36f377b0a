package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication family for training-data pipelines, designed around
  * Spark's shuffle model:
  *
  *  - exact: one hash-aggregate shuffle on the content key
  *  - MinHash + banded LSH: per-row signature (narrow, codegen'd higher-
  *    order functions — no UDFs), explode to (band, bucketHash), ONE
  *    shuffle to bucket-join candidates, exact Jaccard verify on
  *    candidates only. Never a cross join; skewed buckets are capped.
  *  - SimHash: 64-bit signature + banded exact-match candidates with
  *    hamming-distance verify.
  *  - embedding cosine: random-hyperplane LSH buckets + exact cosine
  *    verify on candidates.
  *
  * All candidate generation is deliberately *pair-bounded*: buckets
  * larger than `maxBucket` are dropped (their contents are near-certain
  * boilerplate at corpus scale and would otherwise explode quadratic
  * pair counts — standard practice for web-scale dedup).
  */
object Dedup {

  /** Exact dedup on arbitrary key columns: keep the row with the lowest
    * `idCol` per key. One shuffle; no window needed — min_by avoids the
    * sort of row_number. */
  def exact(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame = {
    val others = df.columns.filterNot(c => keyCols.contains(c)).toSeq
    df.groupBy(keyCols.map(col): _*)
      .agg(min_by(struct(others.map(col): _*), col(idCol)).as("__kept"))
      .select(keyCols.map(col) ++ others.map(c => col(s"__kept.$c").as(c)): _*)
  }

  /** Exact dedup on a content hash (cheaper shuffle key than full text at
    * 100 TB: hash first, shuffle 8-byte keys). */
  def exactByHash(df: DataFrame, textCol: String, idCol: String): DataFrame =
    exact(df.withColumn("__h", xxhash64(col(textCol))), Seq("__h"), idCol)
      .drop("__h")

  /** MinHash signature as an array<long> of `numHashes` minima over the
    * shingle set. The expensive string hash runs ONCE per shingle; the
    * hash family is then derived by re-hashing the resulting 8-byte
    * longs (seeded xxhash64), which is ~an order of magnitude cheaper
    * than hashing the strings per lane. Pure column expressions. */
  def minhashSignature(shingleCol: Column, numHashes: Int = 64): Column =
    minhashSignatureFromHashes(
      transform(shingleCol, s => xxhash64(s)), numHashes)

  /** MinHash over pre-hashed shingles (array<long>) — native kernel. */
  def minhashSignatureFromHashes(hashCol: Column, numHashes: Int = 64): Column =
    graft.functions.MinHashSig(hashCol, numHashes)

  /** Candidate pairs from banded LSH over minhash signatures.
    * Returns (idA, idB) with idA < idB, distinct. */
  def lshCandidates(df: DataFrame, idCol: String, sigCol: String,
      bands: Int, maxBucket: Int = 64): DataFrame = {
    val rowsPerBand = expr(s"size($sigCol) / $bands")
    val banded = df.select(col(idCol).as("__id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col(sigCol), b * rowsPerBand + 1, rowsPerBand), b))))
      .select(col("__id"), col("pos").as("__band"), col("col").as("__bucket"))
    bucketedPairs(banded, maxBucket)
  }

  /** Distinct (a, b) pairs (a < b) of ids sharing a (band, bucket), for
    * any banding scheme producing (__id, __band, __bucket) rows. If the
    * input also carries a `__p` payload column (e.g. the full simhash a
    * band was sliced from), each pair is emitted with both payloads as
    * (`__pA`, `__pB`) — small payloads ride the one bucket shuffle
    * instead of paying two join-backs.
    *
    * ONE shuffle total: hash-partition on (band, bucket), sort within
    * partitions so buckets are contiguous, then stream each bucket in a
    * narrow pass — cap enforcement, pair emission and memory bound
    * (<= maxBucket ids buffered) all happen inline. This replaces the
    * window-count + self-join formulation, whose bucket-size window
    * added a full wide exchange before the join. Buckets larger than
    * `maxBucket` are DROPPED, not paired: past that density a bucket is
    * a quadratic cross-product of (near-)identical content that exact
    * dedup should have removed first — the cap is what bounds worst-case
    * work at corpus scale.
    *
    * `dedupPairs = false` skips the final distinct: with a SINGLE band
    * whose buckets partition the ids (each id in exactly one bucket —
    * e.g. k-means cell assignment), a pair can only ever be emitted
    * once and the distinct is pure overhead. Multi-band schemes MUST
    * keep it — the same pair surfaces once per colliding band. */
  def bucketedPairs(banded: DataFrame, maxBucket: Int,
      dedupPairs: Boolean = true): DataFrame = {
    val hasPayload = banded.columns.contains("__p")
    val laid = banded.repartition(col("__band"), col("__bucket"))
      .sortWithinPartitions(col("__band"), col("__bucket"))
    val idField = laid.schema("__id")
    val outFields = Seq(idField.copy(name = "a"), idField.copy(name = "b")) ++
      (if (hasPayload) {
        val p = laid.schema("__p")
        Seq(p.copy(name = "__pA"), p.copy(name = "__pB"))
      } else Nil)
    val outSchema = org.apache.spark.sql.types.StructType(outFields)
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    val pIdx = if (hasPayload) laid.columns.indexOf("__p") else -1
    val bandIdx = laid.columns.indexOf("__band")
    val bucketIdx = laid.columns.indexOf("__bucket")
    // cap observability: how many buckets the density cap dropped, and
    // how many member rows they held (graft.core.Stats counters)
    val droppedBuckets = graft.core.Stats.counter(
      banded.sparkSession, "dedup.lsh_buckets_dropped")
    val droppedRows = graft.core.Stats.counter(
      banded.sparkSession, "dedup.lsh_rows_in_dropped_buckets")
    laid.mapPartitions { rows =>
      val it = rows.buffered
      new Iterator[org.apache.spark.sql.Row] {
        private var pairs: Iterator[org.apache.spark.sql.Row] = Iterator.empty
        @annotation.tailrec
        private def advance(): Boolean =
          if (pairs.hasNext) true
          else if (!it.hasNext) false
          else {
            val band = it.head.get(bandIdx); val bucket = it.head.get(bucketIdx)
            val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
            val ps = scala.collection.mutable.ArrayBuffer.empty[Any]
            var over = false
            var seen = 0L
            while (it.hasNext && it.head.get(bandIdx) == band &&
                it.head.get(bucketIdx) == bucket) {
              val r = it.next()
              seen += 1
              if (!over) {
                ids += r.get(0)
                if (pIdx >= 0) ps += r.get(pIdx)
                if (ids.size > maxBucket) {
                  over = true; ids.clear(); ps.clear()
                  droppedBuckets.add(1L)
                }
              }
            }
            if (over) droppedRows.add(seen)
            if (!over && ids.size >= 2) {
              val arr = ids.toArray
              val parr = ps.toArray
              pairs = arr.indices.iterator.flatMap { i =>
                (i + 1 until arr.length).iterator.map { j =>
                  val asc = arr(i).asInstanceOf[Comparable[Any]].compareTo(arr(j)) <= 0
                  val (x, y) = if (asc) (i, j) else (j, i)
                  if (pIdx >= 0)
                    org.apache.spark.sql.Row(arr(x), arr(y), parr(x), parr(y))
                  else org.apache.spark.sql.Row(arr(x), arr(y))
                }
              }
            }
            advance()
          }
        def hasNext: Boolean = advance()
        def next(): org.apache.spark.sql.Row = {
          if (!advance()) throw new NoSuchElementException
          pairs.next()
        }
      }
    }.filter(col("a") =!= col("b"))
      .transform(p => if (dedupPairs) p.distinct() else p)
  }

  /** MinHash-LSH near-duplicate pairs with exact Jaccard verification.
    * `df` must carry idCol and textCol. Returns (a, b, jaccard).
    *
    * Verification runs on the HASHED shingle sets (long arrays — much
    * cheaper set ops than strings; collision risk ~n²/2⁶⁴), and only
    * for candidates whose signature-estimated Jaccard is within 0.15 of
    * the threshold — the cheap 64-lane estimate kills the bulk of the
    * false-positive bucket collisions before the exact set ops. */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7, materializeSigs: Boolean = true): DataFrame = {
    // native one-pass rolling-hash shingles (no substring churn)
    def normHashes(c: Column) = graft.functions.ShingleHashes(
      lower(regexp_replace(trim(c), TextAnalysis.WsClass + "+", " ")), k)
    // Only the NARROW signatures are materialized (numHashes longs per
    // doc, ~0.5 KB) — they are reused by the banding pass and both
    // estimate joins. localCheckpoint, NOT cache(): CacheManager pins
    // cache entries for the JVM's lifetime (each call re-registering the
    // same plan leaked storage across a 78-query bench sweep until later
    // shuffles spilled), whereas checkpoint blocks are released by the
    // ContextCleaner as soon as the returned frame is dropped. The full
    // shingle-hash sets (comparable in size to the text itself) are
    // recomputed in the one narrow verify pass below instead of pinning
    // a corpus-sized copy.
    //
    // materializeSigs=false trades 3 recomputes of the signature pass
    // (pure CPU, shuffle-free) for full lineage: localCheckpoint blocks
    // are NOT recoverable after an executor loss, which fails the job
    // on a long-lived cluster; the lazy plan recomputes anywhere. Keep
    // true for single-node/bench runs, false for 1000-executor jobs
    // where losing one executor mid-dedup must not kill the pipeline.
    // NOT widened (a size-gated round-robin widen measured a wash here
    // in interleaved A/B at sf0.1, OPTIMIZATION_r20.md negative result
    // 1 — the extra exchange of the text costs what the parallelism
    // wins; the signature kernel is cheap per byte, unlike media decode)
    val dfw = df.select(col(idCol), col(textCol))
    val sigsPlan = dfw.select(col(idCol),
        minhashSignatureFromHashes(normHashes(col(textCol)), numHashes).as("__sig"))
    val sigs = if (materializeSigs) sigsPlan.localCheckpoint(true) else sigsPlan
    val cands = lshCandidates(sigs, idCol, "__sig", bands)
    // Corpus-side join strategy: at bench scale the fastest plan
    // BROADCASTS the sig/shingle frames under the candidate pairs, and
    // Catalyst picks that on its own — but only because its size
    // estimate of an array-producing projection is bogus (ArrayType's
    // defaultSize counts an unbounded array<long> as ONE element, so a
    // shingle-hash frame that is really ~8 bytes/char estimates at
    // ~9 MB regardless of corpus size). The misestimate survives into
    // runtime — it lives in leaf/LogicalRDD stats, not in any
    // materialized shuffle AQE could re-measure — so past the broadcast
    // threshold the static plan collects GIGABYTES to the driver
    // (found by the 100x scale rehearsal: a 109 MB corpus became a
    // 1 GB+ broadcast that blew spark.driver.maxResultSize). Decide
    // from the honest number we do have: the INPUT relation's size
    // (file bytes for a parquet scan) times a conservative expansion
    // factor for compressed text -> 8-byte shingle hashes, and pin
    // merge joins (shuffle both sides on the id key — the always-safe
    // 100 TB shape) once the corpus can't credibly fit a broadcast.
    // `graft.dedup.corpusBroadcastMaxBytes` overrides the threshold
    // (tests force the merge branch at small scale through it).
    val corpusSide = corpusJoinSide(df)
    // Two-stage verification, sized to what each stage actually needs:
    // the estimate join ships only the 64-lane signatures for every
    // candidate (the est filter kills ~98% of bucket collisions), and
    // the heavy shingle-hash sets are joined ONLY for the est
    // survivors — a pair set small enough that AQE broadcasts it, so
    // the corpus-side hs frame never shuffles. Joining hs for all
    // candidates (the old shape) shipped ~25x more bytes per pair.
    val estMatch = graft.functions.LaneMatches(col("__sigA"), col("__sigB"))
      .cast("double") / numHashes.toDouble
    val estPairs = cands
      .join(corpusSide(sigs.select(col(idCol).as("a"), col("__sig").as("__sigA"))), "a")
      .join(corpusSide(sigs.select(col(idCol).as("b"), col("__sig").as("__sigB"))), "b")
      .withColumn("__est", estMatch)
      .filter(col("__est") >= threshold - 0.15)
      .select("a", "b")
    val hs = dfw.select(col(idCol), normHashes(col(textCol)).as("__hs"))
    estPairs
      .join(corpusSide(hs.select(col(idCol).as("a"), col("__hs").as("__hsA"))), "a")
      .join(corpusSide(hs.select(col(idCol).as("b"), col("__hs").as("__hsB"))), "b")
      .withColumn("jaccard", hashedJaccard(col("__hsA"), col("__hsB")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Distinct CROSS pairs (a from side 0, b from side 1) of ids
    * sharing a (band, bucket). Input rows: (__id, __side byte,
    * __band, __bucket). Same one-shuffle streaming shape as
    * [[bucketedPairs]], but each bucket buffers the two sides
    * separately and emits only side0 x side1 — within-side
    * near-duplicates are NOT this operator's job, and at corpus scale
    * skipping them cuts the emitted pair count by the corpus-side
    * bucket density squared. Either side exceeding `maxBucket` drops
    * the bucket (same density rationale as bucketedPairs). */
  def crossBucketedPairs(banded: DataFrame, maxBucket: Int): DataFrame = {
    val laid = banded.repartition(col("__band"), col("__bucket"))
      .sortWithinPartitions(col("__band"), col("__bucket"))
    val idField = laid.schema("__id")
    val outSchema = org.apache.spark.sql.types.StructType(
      Seq(idField.copy(name = "a"), idField.copy(name = "b")))
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    val idIdx = laid.columns.indexOf("__id")
    val sideIdx = laid.columns.indexOf("__side")
    val bandIdx = laid.columns.indexOf("__band")
    val bucketIdx = laid.columns.indexOf("__bucket")
    val droppedBuckets = graft.core.Stats.counter(
      banded.sparkSession, "dedup.lsh_buckets_dropped")
    val droppedRows = graft.core.Stats.counter(
      banded.sparkSession, "dedup.lsh_rows_in_dropped_buckets")
    laid.mapPartitions { rows =>
      val it = rows.buffered
      new Iterator[org.apache.spark.sql.Row] {
        private var pairs: Iterator[org.apache.spark.sql.Row] = Iterator.empty
        @annotation.tailrec
        private def advance(): Boolean =
          if (pairs.hasNext) true
          else if (!it.hasNext) false
          else {
            val band = it.head.get(bandIdx); val bucket = it.head.get(bucketIdx)
            val as = scala.collection.mutable.ArrayBuffer.empty[Any]
            val bs = scala.collection.mutable.ArrayBuffer.empty[Any]
            var over = false
            var seen = 0L
            while (it.hasNext && it.head.get(bandIdx) == band &&
                it.head.get(bucketIdx) == bucket) {
              val r = it.next()
              seen += 1
              if (!over) {
                (if (r.getByte(sideIdx) == 0) as else bs) += r.get(idIdx)
                if (as.size > maxBucket || bs.size > maxBucket) {
                  over = true; as.clear(); bs.clear()
                  droppedBuckets.add(1L)
                }
              }
            }
            if (over) droppedRows.add(seen)
            if (!over && as.nonEmpty && bs.nonEmpty)
              pairs = as.iterator.flatMap(x =>
                bs.map(y => org.apache.spark.sql.Row(x, y)))
            advance()
          }
        def hasNext: Boolean = advance()
        def next(): org.apache.spark.sql.Row = {
          if (!advance()) throw new NoSuchElementException
          pairs.next()
        }
      }
    }.distinct()
  }

  /** Decontamination: corpus docs near-duplicating any document of a
    * REFERENCE set (eval benchmarks, a held-out split, a previous
    * snapshot) — the cross-corpus variant of [[minhashNearDups]].
    * Returns (corpus_id, ref_id, jaccard >= threshold), exact-verified.
    *
    * Same scale spine as the within-corpus op: one banding shuffle
    * (both sides banded with the SAME hash family, so a corpus doc and
    * a ref doc with equal shingle sets land in equal buckets in every
    * band), cross-only pair emission ([[crossBucketedPairs]] — the
    * corpus's internal duplicate structure never inflates the pair
    * set), signature-estimate prefilter, then exact Jaccard on hashed
    * shingle sets. Broadcast-vs-merge join strategy is decided per
    * side from honest input sizes ([[corpusFitsBroadcast]]): a small
    * eval set rides broadcasts, two big corpora pin merge joins. */
  def crossNearDups(corpus: DataFrame, corpusId: String, corpusText: String,
      ref: DataFrame, refId: String, refText: String,
      k: Int = 5, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7, maxBucket: Int = 64,
      materializeSigs: Boolean = true): DataFrame = {
    def normHashes(c: Column) = graft.functions.ShingleHashes(
      lower(regexp_replace(trim(c), TextAnalysis.WsClass + "+", " ")), k)
    def sigsOf(df: DataFrame, id: String, text: String) = {
      val plan = df.select(col(id).as("__id"),
        minhashSignatureFromHashes(normHashes(col(text)), numHashes).as("__sig"))
      if (materializeSigs) plan.localCheckpoint(true) else plan
    }
    val csigs = sigsOf(corpus, corpusId, corpusText)
    val rsigs = sigsOf(ref, refId, refText)
    val rowsPerBand = expr(s"size(__sig) / $bands")
    def banded(sigs: DataFrame, side: Int) = sigs
      .select(col("__id"), lit(side).cast("byte").as("__side"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("__sig"), b * rowsPerBand + 1, rowsPerBand), b))))
      .select(col("__id"), col("__side"),
        col("pos").as("__band"), col("col").as("__bucket"))
    val cands = crossBucketedPairs(
      banded(csigs, 0).unionByName(banded(rsigs, 1)), maxBucket)
    val cSide = corpusJoinSide(corpus)
    val rSide = corpusJoinSide(ref)
    val estMatch = graft.functions.LaneMatches(col("__sigA"), col("__sigB"))
      .cast("double") / numHashes.toDouble
    val estPairs = cands
      .join(cSide(csigs.select(col("__id").as("a"), col("__sig").as("__sigA"))), "a")
      .join(rSide(rsigs.select(col("__id").as("b"), col("__sig").as("__sigB"))), "b")
      .filter(estMatch >= threshold - 0.15)
      .select("a", "b")
    val chs = corpus.select(col(corpusId).as("a"),
      normHashes(col(corpusText)).as("__hsA"))
    val rhs = ref.select(col(refId).as("b"),
      normHashes(col(refText)).as("__hsB"))
    estPairs
      .join(cSide(chs), "a")
      .join(rSide(rhs), "b")
      .withColumn("jaccard", hashedJaccard(col("__hsA"), col("__hsB")))
      .filter(col("jaccard") >= threshold)
      .select(col("a").as("corpus_id"), col("b").as("ref_id"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** True iff `df`'s HONEST input size — its optimized-plan estimate,
    * which for a file scan is file bytes, taken BEFORE any
    * array-producing projection wrecks it — times `expansion`
    * (compressed text -> 8-byte hash arrays) fits the broadcast-safety
    * budget. Gate every join that puts an array projection of a corpus
    * under candidate pairs on this, never on Catalyst's own estimate of
    * the projected frame (see the minhashNearDups comment for the
    * failure mode).
    *
    * The budget's job is to refuse broadcasts that could kill the
    * driver (the rehearsal's 1 GB+ collect vs the 1 GB default
    * `spark.driver.maxResultSize`), NOT to re-apply Spark's
    * deliberately conservative 10 MB `autoBroadcastJoinThreshold` —
    * that heuristic exists because Catalyst can't tell a hot inner
    * frame from a cold one, whereas here the frame is known corpus
    * data joined exactly twice. Default 256 MB of ESTIMATED expanded
    * size (~25 MB of input file bytes): comfortably driver/executor
    * safe, and still 5+ orders of magnitude below any 100 TB corpus,
    * which pins merge joins long before it matters.
    * `graft.dedup.corpusBroadcastMaxBytes` overrides the budget. */
  private[ops] def corpusFitsBroadcast(df: DataFrame,
      expansion: Long = 10L): Boolean = {
    val spark = df.sparkSession
    val maxBc = spark.conf.getOption("graft.dedup.corpusBroadcastMaxBytes")
      .map(_.toLong)
      .getOrElse(256L << 20)
    maxBc > 0 &&
      df.queryExecution.optimizedPlan.stats.sizeInBytes * expansion <= maxBc
  }

  /** Identity below the broadcast gate; pins a shuffle-on-key merge
    * join (the always-safe 100 TB shape) above it. */
  private[ops] def corpusJoinSide(df: DataFrame): DataFrame => DataFrame =
    if (corpusFitsBroadcast(df)) identity
    else d => d.hint("merge")

  /** Exact Jaccard of two hashed shingle sets (sorted-distinct
    * `array<long>`, the [[graft.functions.ShingleHashes]] contract) —
    * native merge-scan kernel, value-identical to
    * `size(array_intersect)/size(array_union)` on such arrays. */
  def hashedJaccard(a: Column, b: Column): Column =
    graft.functions.SortedLongJaccard(a, b)

  /** Connected components over a dup-pair edge list. Returns
    * (id, cluster) where cluster = the component's minimum id.
    *
    * Two execution paths, picked by the materialized edge count:
    *
    *  - `<= driverLimit` edges (the common case: LSH candidate pairs
    *    are bucket-capped, so the edge list is orders of magnitude
    *    smaller than the corpus): ONE cluster action collects the
    *    distinct edges and a driver-side union-find with path
    *    compression labels them in O(E α(E)) — no per-round Spark jobs
    *    at all, which is what dominated the old iterative formulation.
    *  - larger: alternating large-star / small-star rounds (Kiveris et
    *    al., "Connected Components in MapReduce and Beyond", SoCC'14 —
    *    public algorithm). Converges in O(log n) rounds regardless of
    *    component DIAMETER, unlike min-label propagation whose round
    *    count is the longest chain — a 10k-link chain of near-dups no
    *    longer aborts. Each round is two groupBy/join shuffles of the
    *    (sparse) edge list only; min() aggregates partially map-side,
    *    so a mega-component's hub key doesn't single-thread the round.
    *
    * Mid-convergence labels are WRONG clusters, not approximate ones —
    * the star path still refuses to return them, but its 64-round bound
    * is a safety net (log2 of any real edge count), not a cliff. */
  def dupClusters(pairs: DataFrame, driverLimit: Long = 1L << 20,
      driverByteLimit: Long = 256L << 20): DataFrame = {
    // localCheckpoint, not cache(): cached plans keep the static
    // shuffle-partition count (spark.sql.optimizer.
    // canChangeCachedPlanOutputPartitioning defaults false, so AQE
    // cannot coalesce them), which made every round-1 star leg run its
    // map side over numShufflePartitions near-empty partitions — the
    // profiled cost of dedup_star_gate was five ~64-task stages of pure
    // per-task overhead on a KB-scale edge list. The checkpoint
    // materializes the AQE-coalesced partitioning (size-adaptive: tiny
    // edge lists collapse to a task or two, 100 TB edge lists keep
    // their width) and its blocks are ContextCleaner-reclaimed like
    // every other checkpoint in this pipeline. Same MEMORY_AND_DISK
    // storage as cache(), minus the CacheManager pinning.
    val edges0 = pairs.select(col("a"), col("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint(true)
    // One stats job decides the path. Row count alone under-estimates
    // driver pressure for wide string ids (URLs, content hashes): 1M
    // edges of 200-char URLs is ~1 GB of Row objects, so the byte
    // estimate gates the collect too.
    val isString = edges0.schema("a").dataType ==
      org.apache.spark.sql.types.StringType
    val (n, bytes) =
      if (isString) {
        val r = edges0.agg(count(lit(1)),
          coalesce(sum(length(col("a")) + length(col("b"))), lit(0L))).head()
        // per edge: 2x chars for UTF-16 Strings, plus the collected Row
        // (header + 2 refs) AND the union-find HashMap entries the ids
        // land in (~2 nodes + boxing) — ~144B of structure per edge
        (r.getLong(0), r.getLong(1) * 2 + r.getLong(0) * 144)
      } else {
        val c = edges0.count()
        // two boxed longs in a Row + two HashMap nodes: ~128B/edge
        (c, c * 128)
      }
    // edges0's checkpoint blocks are reclaimed by the ContextCleaner
    // once the frame is unreferenced (the returned frame never reads
    // them: union-find collected already; the star path reads the last
    // round's own checkpoint)
    if (n <= driverLimit && bytes <= driverByteLimit)
      driverUnionFind(pairs.sparkSession, edges0)
    else starClusters(edges0)
  }

  /** Driver-side union-find over a collected edge list: path-compressed
    * find, union-by-min (the smaller id always becomes the root, so the
    * final root IS the component minimum). String ids compare in UTF-8
    * BYTE order — `String.compareTo` is UTF-16 code-unit order, which
    * disagrees with Spark's `least`/`min` (UTF8String bytes) for
    * supplementary-plane characters, and the two paths must pick the
    * same representative for the same input. */
  private def driverUnionFind(spark: org.apache.spark.sql.SparkSession,
      edges: DataFrame): DataFrame = {
    def lt(x: Any, y: Any): Boolean = (x, y) match {
      case (a: String, b: String) =>
        val ab = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val bb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var i = 0
        val m = math.min(ab.length, bb.length)
        while (i < m && ab(i) == bb(i)) i += 1
        if (i < m) (ab(i) & 0xff) < (bb(i) & 0xff) else ab.length < bb.length
      case _ => x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
    }
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x // second pass: compress the walked path onto the root
      while (parent.get(c) != r) { val nxt = parent.get(c); parent.put(c, r); c = nxt }
      r
    }
    // one job, not toLocalIterator's per-partition sequence; the edge
    // list is <= driverLimit rows by construction, so this is bounded
    edges.collect().foreach { row =>
      val a = row.get(0); val b = row.get(1)
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val idType = edges.schema("a").dataType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType, nullable = false),
      org.apache.spark.sql.types.StructField("cluster", idType, nullable = false)))
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size())
    parent.keySet().forEach(id => rows.add(org.apache.spark.sql.Row(id, find(id))))
    spark.createDataFrame(rows, schema)
  }

  /** Alternating large-star/small-star CC (Kiveris et al., SoCC'14).
    * Fixpoint is a star per component centered at its minimum id. */
  private def starClusters(edges0: DataFrame): DataFrame = {
    var cur = edges0
    var curCnt = -1L // unknown orientation vs the first round's output
    var converged = false
    var round = 0
    val maxRounds = 64
    while (!converged && round < maxRounds) {
      // large-star(u): m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u
      val sym = cur.union(cur.select(col("b").as("a"), col("a").as("b")))
      val mins = sym.groupBy("a").agg(min(col("b")).as("__mn"))
      val large = sym.join(mins, "a").where(col("b") > col("a"))
        .select(col("b").as("a"), least(col("__mn"), col("a")).as("b"))
        .where(col("a") =!= col("b")).distinct()
      // small-star(u) on big→small orientation: m = min(N(u)); emit
      // (v, m) for v ∈ N(u) \ {m} plus (u, m)
      val or = large.select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      val smins = or.groupBy("u").agg(min(col("v")).as("__m"))
      // localCheckpoint each round: lineage truncation — each round's
      // plan embeds the previous round's ~16x (sym/mins/large/or/smins
      // each re-reference it), so without truncation the logical plan
      // grows exponentially and the DRIVER dies on plan analysis.
      // Dataset-level checkpoint keeps rows as InternalRows end-to-end
      // (the old explicit-RDD form paid an InternalRow->Row->InternalRow
      // round-trip per round). The dropped round's blocks are reclaimed
      // by the ContextCleaner when GC collects the unreferenced RDD;
      // until then they are MEMORY_AND_DISK — they spill, not OOM.
      val next = or.join(smins, "u").where(col("v") =!= col("__m"))
        .select(col("v").as("a"), col("__m").as("b"))
        .union(smins.select(col("u").as("a"), col("__m").as("b")))
        .distinct().localCheckpoint(true)
      val nextCnt = next.count()
      // set equality: equal cardinality + empty one-sided difference
      val changed = nextCnt != curCnt ||
        next.join(cur, Seq("a", "b"), "left_anti").limit(1).count() > 0
      cur = next; curCnt = nextCnt
      converged = !changed
      round += 1
    }
    // the final round's blocks stay persisted: the returned frame reads
    // from them (lineage is truncated, a recompute is impossible); the
    // ContextCleaner reclaims them once the caller drops the frame
    require(converged,
      s"dup clustering did not converge in $maxRounds star rounds — " +
        "this exceeds the proven O(log n) bound and indicates a bug")
    cur.select(col("a").as("id"), col("b").as("cluster"))
      .union(cur.select(col("b").as("id"), col("b").as("cluster")))
      .distinct()
  }

  /** Drop near-duplicates: cluster the dup graph and keep only each
    * component's smallest id. Chains (a~b, b~c, but a!~c) collapse to
    * one survivor — unlike the naive "drop every larger pair member". */
  def dropNearDups(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7): DataFrame = {
    val pairs = minhashNearDups(df, idCol, textCol, threshold = threshold)
    val clusters = dupClusters(pairs)
    val losers = clusters.filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** 64-bit SimHash from token hashes: sign of per-bit weighted sums.
    * Native one-pass codegen'd kernel, bit-identical to the former
    * per-bit HOF aggregate (see [[graft.functions.SimHash64]] and
    * VectorKernelsSpec); no shuffle. */
  def simhash(textCol: Column): Column =
    graft.functions.SimHash64(TextAnalysis.tokens(textCol))

  def hammingDist64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: 4 bands of 16 bits as LSH (pigeonhole: any
    * pair within hamming distance 3 shares at least one exact band),
    * verified by true hamming distance. */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1024): DataFrame = {
    // streamed capped buckets instead of a raw self-join: a hot bucket
    // (e.g. thousands of empty/boilerplate docs sharing simhash 0)
    // would otherwise go quadratic; within the cap the pigeonhole
    // guarantee (hamming<=3 -> some band matches) is preserved exactly.
    // BEHAVIOR CHANGE: default tightened 4096 -> 1024; callers that
    // relied on pairs from 1025-4096-member buckets must pass
    // maxBucket = 4096 explicitly to keep the previous recall surface.
    // Cap 1024 bounds a degenerate at-cap bucket at ~0.5M streamed
    // pairs (4096 admitted ~8.4M); on hash-distributed 16-bit buckets
    // real bucket sizes are ~corpus/65536 per band, so the recall gate
    // (pigeonhole missed = 0) is unaffected until a bucket genuinely
    // holds >1024 near-identical docs — exact-dedup's job first.
    // The 8-byte simhash rides the bucket shuffle as the payload, so
    // verification needs no join-backs (and no cache).
    hash64NearDups(
      df.select(col(idCol), simhash(col(textCol)).as("__sig64")),
      idCol, "__sig64", maxHamming, maxBucket)
  }

  /** Near-duplicate pairs among arbitrary 64-BIT SIGNATURES — the
    * pigeonhole pair stage shared by [[simhashNearDups]] (text) and
    * image dHash ([[Multimodal.imageDHash]]): 4x16-bit exact-match
    * bands (hamming <= 3 forces at least one band equal), streamed
    * capped buckets with the signature riding the one shuffle as
    * payload, exact hamming verify inline. Returns (a, b, hamming). */
  def hash64NearDups(df: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1024): DataFrame = {
    val banded = df
      .select(col(idCol).as("__id"), col(hashCol).cast("long").as("__p"))
      .select(col("__id"), col("__p"),
        posexplode(array((0 until 4).map(i =>
          shiftright(col("__p"), i * 16).bitwiseAND(0xFFFFL)): _*)))
      .select(col("__id"), col("pos").as("__band"), col("col").as("__bucket"), col("__p"))
    bucketedPairs(banded, maxBucket)
      .select(col("a"), col("b"),
        hammingDist64(col("__pA"), col("__pB")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** n-gram Jaccard similarity between documents of a candidate pair
    * set — exact verification primitive, also usable standalone on an
    * explicit pair list. */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, n: Int = 3): DataFrame = {
    val grams = df.select(col(idCol), TextAnalysis.wordNgrams(col(textCol), n).as("__g"))
    // gram arrays are corpus-sized however small Catalyst thinks the
    // projection is — same broadcast gate as minhashNearDups
    val corpusSide = corpusJoinSide(df)
    val left = corpusSide(grams.select(col(idCol).as("a"), col("__g").as("__gA")))
    val right = corpusSide(grams.select(col(idCol).as("b"), col("__g").as("__gB")))
    pairs.join(left, "a").join(right, "b")
      .withColumn("jaccard",
        size(array_intersect(col("__gA"), col("__gB"))).cast("double") /
          size(array_union(col("__gA"), col("__gB"))).cast("double"))
      .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Embedding near-dup pairs: banded random-hyperplane LSH + exact
    * cosine verify. Each band is an independent `bitsPerBand`-bit sign
    * sketch (hyperplanes derived from xxhash64 of (band, bit, dim) —
    * deterministic, no stored model); a pair is a candidate if ANY band
    * matches, so recall at minCosine 0.95 is
    * 1-(1-(1-θ/π)^bits)^bands ≈ 0.98 for 4x12 instead of ~0.8 for a
    * single 16-bit sketch. One shuffle on (band, bucket). */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
      bands: Int = 4, bitsPerBand: Int = 12,
      minCosine: Double = 0.95, maxBucket: Int = 1024): DataFrame = {
    // maxBucket default tightened 4096 -> 1024 (round 10, mirroring
    // simhashNearDups round 9): a degenerate bucket at the old cap
    // admits ~8.4M candidate pairs; at 1024 it is ~0.5M. Recall cost is
    // confined to >1024-member near-identical cliques — boilerplate
    // that exact dedup should remove first, and any member pair inside
    // a kept bucket still surfaces via its other (band, bucket) hits.
    // BEHAVIOR CHANGE for callers relying on the old default: pass
    // maxBucket = 4096 explicitly to keep the previous recall surface.
    val sketches = array((0 until bands).map(band =>
      Similarity.hyperplaneSketch(col(vecCol), bitsPerBand, seedOffset = band * 1000)): _*)
    // streamed capped buckets carry only (band, bucket, id) — vectors
    // rejoin after candidate dedup so embeddings aren't duplicated x
    // bands, and a degenerate bucket (e.g. a sea of zero vectors
    // sharing one sketch) can't go quadratic
    val banded = df.select(col(idCol).as("__id"), posexplode(sketches))
      .select(col("__id"), col("pos").as("__band"), col("col").as("__bucket"))
    val cands = bucketedPairs(banded, maxBucket)
    // the vector frame is an array projection of the whole corpus —
    // exactly the shape Catalyst size-misestimates as broadcast-small
    // (see the minhashNearDups comment), so ride the same honest-size
    // gate: embeddings at 4-8 bytes/dim expand less than text->shingle
    // hashes, but a 100 TB corpus side still must never broadcast
    val corpusSide = corpusJoinSide(df)
    val vecs = df.select(col(idCol), col(vecCol))
    val va = corpusSide(vecs.select(col(idCol).as("a"), col(vecCol).as("__vA")))
    val vb = corpusSide(vecs.select(col(idCol).as("b"), col(vecCol).as("__vB")))
    cands.join(va, "a").join(vb, "b")
      .withColumn("cosine", Similarity.cosine(col("__vA"), col("__vB")))
      .filter(col("cosine") >= minCosine)
      .select(col("a"), col("b"), round(col("cosine"), 6).as("cosine"))
  }

  /** SemDeDup-style semantic near-dup pairs: cluster the corpus with
    * the IVF coarse quantizer (sample-trained k-means — one corpus
    * pass), then compare only WITHIN each cluster cell, verified by
    * exact cosine. Published as "SemDeDup" (Abbas et al., 2023,
    * arXiv:2303.09540): semantic duplicates concentrate inside k-means
    * cells, so within-cell comparison finds them at ~1/nClusters of
    * all-pairs cost.
    *
    * vs [[embeddingNearDups]] (hyperplane LSH): LSH targets HIGH
    * cosine (near-identical vectors, bit-equal sketches); the
    * clustered path stays effective at moderate thresholds (~0.9)
    * where sign-sketch collision probability collapses. Both ride the
    * same streamed capped-bucket machinery — cells are buckets of the
    * one (band=0, cell) shuffle, `maxCell` bounds the quadratic
    * within-cell work, and identical vectors always share a cell
    * (deterministic argmin), so exact-duplicate recall is structural.
    * Cells larger than `maxCell` are dropped with the same rationale
    * as every other cap here: a >maxCell near-identical clique is
    * exact-dedup's job first. */
  def semanticNearDups(df: DataFrame, idCol: String, vecCol: String,
      nClusters: Int = 16, minCosine: Double = 0.9,
      maxCell: Int = 4096, coarseProbe: Option[(Int, Int)] = None): DataFrame = {
    {
      import org.apache.spark.sql.types._
      require(Seq(ByteType, ShortType, IntegerType, LongType)
        .contains(df.schema(idCol).dataType),
        s"semanticNearDups needs an integral id column, got " +
          df.schema(idCol).dataType.simpleString)
    }
    val cents = Similarity.trainCentroids(df, idCol, vecCol, nClusters)
    // coarseProbe = Some((m, nprobe)): two-level assignment — the
    // k-scaling path for SemDeDup's published ~100k-cell shape, where
    // the flat O(k)-dots-per-row argmin dominates (measured 2.6x at
    // k=2048 in the 100x rehearsal; the gap widens linearly in k).
    // Recall caveat is bounded: identical vectors still ALWAYS share a
    // cell (same deterministic expression on both), so exact-duplicate
    // recall stays structural; only near-dup pairs whose two members
    // straddle a coarse-probe boundary can be missed, and every
    // emitted pair remains exact-cosine-verified.
    val assign: Column => Column = coarseProbe match {
      case None => v => Similarity.assignNarrow(v, cents)
      case Some((m, nprobe)) =>
        val (coarse, members) = Similarity.trainCoarse(cents, m, df.sparkSession)
        v => Similarity.assignHierarchical(v, cents, coarse, members, nprobe)
    }
    val session = df.sparkSession
    import session.implicits._
    // Specialized cell-pair kernel instead of the generic
    // bucketedPairs + expression verify: vectors ride the ONE cell
    // shuffle and pairs are scored on PRIMITIVE float arrays inside
    // the streaming emitter, with only >=threshold survivors ever
    // materialized as rows. The generic path built 50M boxed
    // payload-pair rows and evaluated an interpreted dot per pair at
    // the 100x rehearsal (202k vecs / 404 cells): 124 s with
    // join-back verify, 43 s with payload verify, 13 s with this
    // kernel. Candidates stay n*cellSize/2 (linear at constant cell
    // size); memory is one <=maxCell cell buffered per task.
    val prepped = df.select(
        assign(col(vecCol)).as("_1"),
        col(idCol).cast("long").as("_2"),
        transform(col(vecCol), v => v.cast("float")).as("_3"))
      .as[(Long, Long, Array[Float])]
      .repartition(col("_1")).sortWithinPartitions(col("_1"))
    val minCos = minCosine
    val cap = maxCell
    val pairs = prepped.mapPartitions { rows =>
      val it = rows.buffered
      new Iterator[(Long, Long, Double)] {
        private var out: Iterator[(Long, Long, Double)] = Iterator.empty
        @annotation.tailrec
        private def advance(): Boolean =
          if (out.hasNext) true
          else if (!it.hasNext) false
          else {
            val cell = it.head._1
            val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
            val vecs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
            var over = false
            while (it.hasNext && it.head._1 == cell) {
              val r = it.next()
              if (!over) {
                ids += r._2; vecs += r._3
                if (ids.size > cap) { over = true; ids.clear(); vecs.clear() }
              }
            }
            if (!over && ids.size >= 2) {
              val n = ids.size
              val norms = new Array[Double](n)
              var i = 0
              while (i < n) {
                val v = vecs(i); var s = 0.0; var j = 0
                while (j < v.length) { s += v(j).toDouble * v(j); j += 1 }
                norms(i) = math.sqrt(s); i += 1
              }
              out = (0 until n).iterator.flatMap { x =>
                (x + 1 until n).iterator.flatMap { y =>
                  val vx = vecs(x); val vy = vecs(y)
                  var s = 0.0; var j = 0
                  while (j < vx.length) { s += vx(j).toDouble * vy(j); j += 1 }
                  val cos = s / (norms(x) * norms(y))
                  if (cos >= minCos) {
                    val (a, b) = if (ids(x) <= ids(y)) (ids(x), ids(y))
                                 else (ids(y), ids(x))
                    Iterator.single((a, b, cos))
                  } else Iterator.empty
                }
              }
            }
            advance()
          }
        def hasNext: Boolean = advance()
        def next(): (Long, Long, Double) = {
          if (!advance()) throw new NoSuchElementException; out.next()
        }
      }
    }
    pairs.toDF("a", "b", "cosine")
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b"), round(col("cosine"), 6).as("cosine"))
  }

  /** Drop semantic near-dups: cluster the pair graph, keep each
    * component's smallest id (consistent with [[dropNearDups]]). */
  def dropSemanticDups(df: DataFrame, idCol: String, vecCol: String,
      nClusters: Int = 16, minCosine: Double = 0.9,
      maxCell: Int = 4096): DataFrame = {
    val pairs = semanticNearDups(df, idCol, vecCol, nClusters, minCosine, maxCell)
    val losers = dupClusters(pairs).filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  // --------------------------------------------------------------------
  // Edit-distance near-dup / fuzzy join (record linkage).
  //
  // EXACT (no recall loss), unlike the LSH families above: candidate
  // generation uses the PassJoin pigeonhole (Li/Deng/Feng, VLDB 2012 —
  // public algorithm): split each indexed string into k+1 contiguous
  // segments; any string within edit distance k must contain at least
  // one segment verbatim, start position shifted by at most k (each of
  // the <= k edits breaks at most one segment, and net indels before the
  // intact segment shift it by at most k). So candidates come from ONE
  // equi-join on (segment, segmentIdx, indexedLength) — never a cross
  // join — and are verified with the threshold-bounded `levenshtein`
  // (O(k * min(len)) per pair, not O(len^2)).
  //
  // Scale shape: both arms run on DISTINCT strings first (vocab-scale,
  // often orders of magnitude below corpus-scale for short linkage keys
  // like names/titles/URLs), then expand back to id pairs with joins
  // whose output is exactly the result — so corpus size only enters
  // through the distinct() and the output cardinality. Keys per distinct
  // string are O(k^2) constants; skewed segment buckets are real pairs
  // by construction (verified, never capped) and AQE skew-join splits
  // them.

  /** PassJoin segment bounds for segment `i` of a length-`l` string
    * split into `p` parts: first p-rem parts have length floor(l/p), the
    * last rem have floor(l/p)+1. Returns (0-based start, length). */
  private def segBounds(p: Int, lCol: Column, iCol: Column): (Column, Column) = {
    val b = floor(lCol.cast("double") / p).cast("int")
    val rem = (lCol % p).cast("int")
    val cut = lit(p) - rem
    val start = when(iCol < cut, iCol * b).otherwise(iCol * b + (iCol - cut))
    (start, when(iCol < cut, b).otherwise(b + 1))
  }

  /** Candidate text pairs (probe text, indexed text) within edit
    * distance `k`, over frames of DISTINCT non-null strings in column
    * `__t`. Exact: a qualifying pair is missed only if the indexed side
    * is shorter than k+1 chars — the caller covers that residue (for
    * such pairs every string within distance k has length <= 2k, so the
    * residue arm is a broadcast join against a trivially small side). */
  private def editCandidates(probeTexts: DataFrame, idxTexts: DataFrame,
      k: Int): DataFrame = {
    val p = k + 1
    val idx = idxTexts.select(col("__t"), length(col("__t")).as("__l"))
      .filter(col("__l") >= p)
      .select(col("__t").as("__ti"), col("__l").as("__lx"),
        explode(transform(sequence(lit(0), lit(k)), { i =>
          val (st, ln) = segBounds(p, col("__l"), i)
          struct(i.as("__i"), col("__t").substr(st + 1, ln).as("__seg"))
        })).as("__s"))
      .select(col("__ti"), col("__lx"), col("__s.__i").as("__i"),
        col("__s.__seg").as("__seg"))
    // For every plausible indexed length lx in [l-k, l+k] (>= p), probe
    // the substrings a length-lx string's segments could align to:
    // segment i's bounds computed FROM lx, start shifted by at most k,
    // clamped inside this string.
    val probe = probeTexts.select(col("__t"), length(col("__t")).as("__l"))
      .select(col("__t").as("__tp"),
        explode(array_distinct(flatten(flatten(
          transform(filter(sequence(col("__l") - k, col("__l") + k),
              l => l >= p), { lx =>
            transform(sequence(lit(0), lit(k)), { i =>
              val (st, ln) = segBounds(p, lx, i)
              transform(filter(sequence(st - k, st + k),
                  s => s >= 0 && s <= col("__l") - ln), { s =>
                struct(lx.cast("int").as("__lx"), i.as("__i"),
                  col("__t").substr(s + 1, ln).as("__seg"))
              })
            })
          }))))).as("__s"))
      .select(col("__tp"), col("__s.__lx").as("__lx"), col("__s.__i").as("__i"),
        col("__s.__seg").as("__seg"))
    // no distinct here: the sole caller (editTextPairs) distincts after
    // unioning the residue arm — one exchange over the candidate set,
    // with map-side partial aggregation absorbing the O(k^2)
    // per-pair duplicates this join emits
    probe.join(idx, Seq("__lx", "__i", "__seg"))
      .select(col("__tp"), col("__ti"))
  }

  /** Verified distinct-string pairs within edit distance `k`:
    * (__tp, __ti, dist). Includes the short-indexed residue arm. */
  private def editTextPairs(probeTexts: DataFrame, idxTexts: DataFrame,
      k: Int): DataFrame = {
    // Residue: indexed strings shorter than k+1 are never segmented; any
    // probe within distance k of one has length <= 2k. Broadcast the
    // short indexed side (strings of < k+1 chars are vanishingly rare in
    // real linkage keys) against the short probe slice.
    val shortIdx = idxTexts.filter(length(col("__t")) < k + 1)
      .select(col("__t").as("__ti"))
    val shortProbe = probeTexts.filter(length(col("__t")) <= 2 * k)
      .select(col("__t").as("__tp"))
    val residue = shortProbe.join(broadcast(shortIdx),
      abs(length(col("__tp")) - length(col("__ti"))) <= k, "inner")
      .select(col("__tp"), col("__ti"))
    editCandidates(probeTexts, idxTexts, k).unionByName(residue)
      .distinct()
      .withColumn("dist", levenshtein(col("__tp"), col("__ti"), k))
      .filter(col("dist") >= 0)
  }

  /** All id pairs (a < b) whose `textCol` values are within edit
    * distance `maxDist`, with the exact distance: fuzzy self-dedup for
    * record linkage keys (names, titles, URLs). Null texts are ignored.
    * Distinct-string candidate core + output-bound expansion joins; the
    * equal-text arm (dist 0) never touches the candidate machinery. */
  def editNearDups(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 2): DataFrame = {
    require(maxDist >= 1 && maxDist <= 8,
      s"maxDist must be in [1, 8], got $maxDist (k+1 segments per string" +
        " and O(k^2) probe keys — beyond ~8 use ngram/minhash families)")
    val rows = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"), col(textCol).as("__t"))
    // checkpoint: the distinct-text frame feeds FOUR plan branches
    // (segment index, probe expansion, and both residue legs inside
    // editTextPairs) — uncheckpointed, each branch re-ran the scan +
    // distinct exchange (r21 stage profile: edit_drop_gate was ~35
    // small stages, most of them repeats of this subtree). Vocab-
    // scale by the operator's contract (distinct linkage keys), so
    // materializing it is safe at any corpus size; AQE-coalesced
    // partitioning rides along, as in dupClusters (r20).
    val texts = rows.select(col("__t")).distinct().localCheckpoint(true)
    // dist >= 1 pairs between distinct texts; keep one orientation (each
    // unordered text pair is found in at least one probe/index direction
    // because the longer side is always indexable).
    val crossTexts = editTextPairs(texts, texts, maxDist)
      .filter(col("__tp") < col("__ti"))
    val crossPairs = crossTexts
      .join(rows.select(col("__t").as("__tp"), col("__id").as("__ida")), "__tp")
      .join(rows.select(col("__t").as("__ti"), col("__id").as("__idb")), "__ti")
      .select(least(col("__ida"), col("__idb")).as("a"),
        greatest(col("__ida"), col("__idb")).as("b"), col("dist"))
    // dist 0 pairs: equal texts, straight equi-join, output-bound.
    val samePairs = rows.select(col("__t"), col("__id").as("__ida"))
      .join(rows.select(col("__t"), col("__id").as("__idb")), "__t")
      .filter(col("__ida") < col("__idb"))
      .select(col("__ida").as("a"), col("__idb").as("b"), lit(0).as("dist"))
    crossPairs.unionByName(samePairs)
  }

  /** Fuzzy equi-join for record linkage across two tables: all
    * (leftId, rightId, dist) with edit distance <= maxDist between the
    * key columns (dist 0 = exact match included). Same distinct-string
    * core; left/right of any relative size — candidate work scales with
    * DISTINCT keys, expansion with output. */
  def editJoin(left: DataFrame, leftId: String, leftText: String,
      right: DataFrame, rightId: String, rightText: String,
      maxDist: Int = 2): DataFrame = {
    require(maxDist >= 1 && maxDist <= 8,
      s"maxDist must be in [1, 8], got $maxDist")
    require(leftId != rightId && leftId != "dist" && rightId != "dist",
      s"output id columns must be distinct and not 'dist': $leftId, $rightId")
    val lRows = left.filter(col(leftText).isNotNull)
      .select(col(leftId).as("__lid"), col(leftText).as("__t"))
    val rRows = right.filter(col(rightText).isNotNull)
      .select(col(rightId).as("__rid"), col(rightText).as("__t"))
    // checkpointed for the same repeated-subtree reason as
    // editNearDups' texts (each side feeds its pigeonhole leg AND a
    // residue leg); vocab-scale by contract
    val lTexts = lRows.select(col("__t")).distinct().localCheckpoint(true)
    val rTexts = rRows.select(col("__t")).distinct().localCheckpoint(true)
    // Equal-text pairs skip the candidate machinery entirely.
    val same = lRows.join(rRows, Seq("__t"))
      .select(col("__lid"), col("__rid"), lit(0).as("dist"))
    val cross = editTextPairs(lTexts, rTexts, maxDist)
      .filter(col("__tp") =!= col("__ti"))
      .join(lRows.select(col("__t").as("__tp"), col("__lid")), "__tp")
      .join(rRows.select(col("__t").as("__ti"), col("__rid")), "__ti")
      .select(col("__lid"), col("__rid"), col("dist"))
    same.unionByName(cross)
      .withColumnRenamed("__lid", leftId).withColumnRenamed("__rid", rightId)
  }

  /** Best-match linkage: for each left row with any match within
    * `maxDist`, the single closest right row (ties by lowest rightId —
    * deterministic). One extra shuffle on leftId over editJoin. */
  def editJoinBest(left: DataFrame, leftId: String, leftText: String,
      right: DataFrame, rightId: String, rightText: String,
      maxDist: Int = 2): DataFrame = {
    editJoin(left, leftId, leftText, right, rightId, rightText, maxDist)
      .groupBy(col(leftId))
      // struct min = (dist asc, rightId asc): exact argmin, stable ties
      .agg(min(struct(col("dist"), col(rightId))).as("__best"))
      .select(col(leftId), col(s"__best.$rightId").as(rightId),
        col("__best.dist").as("dist"))
  }

  /** Drop fuzzy duplicates: keep the lowest-id row of each connected
    * component of the within-`maxDist` pair graph (same cluster
    * semantics as dropNearDups/dropSemanticDups, but EXACT edges).
    * Survivors of distinct components are pairwise > maxDist apart by
    * construction — no edge ever crosses components.
    *
    * Clustering runs on the DISTINCT-TEXT rep graph, never on id pairs:
    * same-text rows are a clique whose C(n,2) edges add nothing to
    * connectivity, so each text group is contracted to its min-id rep
    * first (component min id = min over group mins — identical keep
    * set, vocab-sized CC input instead of output-sized). Null-text rows
    * are kept untouched, matching editNearDups ignoring them. */
  def dropEditDups(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 2): DataFrame = {
    require(maxDist >= 1 && maxDist <= 8,
      s"maxDist must be in [1, 8], got $maxDist")
    val rows = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"), col(textCol).as("__t"))
    // checkpoint: reps feeds FIVE branches (both editTextPairs sides
    // with their residue legs, both edge-expansion joins, and the keep
    // anti-join) — same repeated-subtree cost as editNearDups' texts,
    // and the same vocab-scale safety argument
    val reps = rows.groupBy(col("__t")).agg(min(col("__id")).as("__rep"))
      .localCheckpoint(true)
    val edges = editTextPairs(reps.select(col("__t")),
        reps.select(col("__t")), maxDist)
      .filter(col("__tp") < col("__ti"))
      .join(reps.select(col("__t").as("__tp"), col("__rep").as("a")), "__tp")
      .join(reps.select(col("__t").as("__ti"), col("__rep").as("b")), "__ti")
      .select(col("a"), col("b"))
    val losers = dupClusters(edges).filter(col("id") =!= col("cluster"))
      .select(col("id").as("__rep"))
    val keep = reps.join(losers, Seq("__rep"), "left_anti")
      .select(col("__rep").as(idCol), col("__t").as(textCol))
    df.join(keep, Seq(idCol, textCol), "left_semi")
      .unionByName(df.filter(col(textCol).isNull))
  }
}
