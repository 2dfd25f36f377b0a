package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set,
  * one narrow pass over the corpus, per-query top-k via window. The dot
  * product is a codegen'd higher-order `aggregate(zip_with(...))`, no
  * UDF.
  *
  * Scale path: IVF — a deterministic coarse quantizer (centroids chosen
  * by hash-sampling the corpus, refined by one Lloyd step) partitions
  * the corpus by nearest centroid; queries probe only `nprobe` cells.
  * At 100 TB the corpus side stays partitioned/bucketed by centroid id,
  * so a probe touches a small fraction of files.
  */
object Similarity {

  /** dot(a, b) over array<float|double> columns — native codegen'd
    * kernel, bit-identical to the former `aggregate(zip_with(...))`
    * formulation (which evaluates an interpreted lambda per component;
    * see [[graft.functions.DotF]] and VectorKernelsSpec). */
  def dot(a: Column, b: Column): Column = graft.functions.DotF(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** `nBits` sign bits of pseudo-random hyperplane projections packed
    * into a long. Hyperplane component for (bit i, dim j) is derived
    * from xxhash64(i, j) mapped to [-1, 1] — deterministic, no stored
    * model. */
  def hyperplaneSketch(vec: Column, nBits: Int = 16, seedOffset: Int = 0): Column =
    graft.functions.VecSignBits(vec, nBits, seedOffset)

  /** Exact per-key top-k WITHOUT shuffling the full scored set: a
    * bounded per-partition heap (memory = |keys seen in partition| * k)
    * cuts each partition's contribution to <= k rows per key, then ONE
    * small aggregation (map-side partial, <= nPartitions*k rows per key
    * in flight) merges the partials. This replaces the
    * `row_number().over(partitionBy(key))` formulation, which shuffles
    * every scored row — the scale-killer when |corpus| x |queries| is
    * large. Expects columns (keyCol, idCol, scoreCol); ids must be
    * Comparable for deterministic tie-breaks (score desc, id asc).
    * (long key, long id) inputs take [[topKReducePrimitive]]'s
    * array-backed heaps, any other pair [[topKReduceGeneric]]'s rows. */
  def topKPerKey(scored: DataFrame, keyCol: String, idCol: String,
      scoreCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val proj = scored.select(col(keyCol), col(idCol), col(scoreCol).cast("double"))
    val primitive = proj.schema(0).dataType == LongType &&
      proj.schema(1).dataType == LongType
    val reduced = if (primitive) topKReducePrimitive(proj, k)
                  else topKReduceGeneric(proj, k)
    // merge partials: sort-truncate inside an aggregate (partial agg
    // applies map-side), then explode ranks. negate(score) makes the
    // struct's natural ascending sort = (score desc, id asc).
    reduced
      .groupBy(col(keyCol))
      .agg(slice(array_sort(collect_list(
        struct(negate(col(scoreCol).cast("double")).as("__ns"), col(idCol)))),
        1, k).as("__top"))
      .select(col(keyCol), posexplode(col("__top")))
      .select(col(keyCol), col("col.*"), (col("pos") + 1).cast("long").as("rank"))
      .select(col(keyCol), col(idCol), negate(col("__ns")).as(scoreCol), col("rank"))
  }

  /** Row-based per-partition heap pass — works for any Comparable id
    * type. Kept set per key = top-k by (score desc, id asc). */
  private def topKReduceGeneric(proj: DataFrame, k: Int): DataFrame = {
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(proj.schema)
    def cmpIds(a: Any, b: Any): Int =
      a.asInstanceOf[Comparable[Any]].compareTo(b)
    // PQ dequeues its max; order so the WORST candidate (lowest score,
    // then largest id) is the max.
    val worstFirst: Ordering[(Double, Any)] = new Ordering[(Double, Any)] {
      def compare(x: (Double, Any), y: (Double, Any)): Int = {
        val c = java.lang.Double.compare(y._1, x._1)
        if (c != 0) c else cmpIds(x._2, y._2)
      }
    }
    proj.mapPartitions { rows =>
      val heaps = scala.collection.mutable.HashMap
        .empty[Any, scala.collection.mutable.PriorityQueue[(Double, Any)]]
      rows.foreach { r =>
        val heap = heaps.getOrElseUpdate(r.get(0),
          scala.collection.mutable.PriorityQueue.empty[(Double, Any)](worstFirst))
        heap.enqueue((r.getDouble(2), r.get(1)))
        if (heap.size > k) heap.dequeue()
      }
      heaps.iterator.flatMap { case (key, heap) =>
        heap.iterator.map(e => org.apache.spark.sql.Row(key, e._2, e._1))
      }
    }
  }

  /** Primitive fast path for (long key, long id): array-backed bounded
    * heaps, no Row allocation / boxed-Comparable dispatch per input
    * row. Same kept set and tie rule as [[topKReduceGeneric]] —
    * top-k by (score desc, id asc), pinned by `OpsSpec` equality.
    * Reads and writes through [[KeyIdScore]], built once. */
  private def topKReducePrimitive(proj: DataFrame, k: Int): DataFrame =
    proj.as(KeyIdScore).mapPartitions { rows =>
      val heaps = scala.collection.mutable.LongMap.empty[LongTopKHeap]
      rows.foreach { case (key, id, s) =>
        heaps.getOrElseUpdate(key, new LongTopKHeap(k)).offer(s, id)
      }
      heaps.iterator.flatMap { case (key, h) =>
        h.drain().map { case (s, id) => (key, id, s) }
      }
    }(KeyIdScore).toDF(proj.columns.toSeq: _*)

  /** The (key, id, score) encoder of [[topKReducePrimitive]], built once
    * per JVM: deriving it through `session.implicits._` runs TypeTag
    * reflection on every top-k call, which every BM25, ANN, IVF, PQ and
    * RRF query pays at construction and planning time. */
  private val KeyIdScore: org.apache.spark.sql.Encoder[(Long, Long, Double)] = {
    import org.apache.spark.sql.Encoders
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaDouble)
  }

  /** Cross-corpus SEMANTIC decontamination: every corpus row whose
    * embedding is >= `minCosine` close to ANY reference embedding
    * (eval set, held-out split) — the embedding-space sibling of
    * [[Dedup.crossNearDups]]. The reference side is eval-set-sized by
    * definition, so it broadcasts and the corpus side is ONE narrow
    * pass (per-row dots against the broadcast rows — no shuffle, no
    * top-k state); norms compute once per row on each side. Returns
    * (corpus_id, ref_id, cosine >= minCosine). */
  def crossCosineMatches(corpus: DataFrame, corpusId: String, corpusVec: String,
      ref: DataFrame, refId: String, refVec: String,
      minCosine: Double = 0.99): DataFrame = {
    val c = corpus.select(col(corpusId).as("corpus_id"), col(corpusVec).as("__cv"))
      .withColumn("__cn", norm(col("__cv")))
    val r = ref.select(col(refId).as("ref_id"), col(refVec).as("__rv"))
      .withColumn("__rn", norm(col("__rv")))
    c.join(broadcast(r))
      .withColumn("cosine", dot(col("__cv"), col("__rv")) / (col("__cn") * col("__rn")))
      .filter(col("cosine") >= minCosine)
      .select(col("corpus_id"), col("ref_id"), round(col("cosine"), 6).as("cosine"))
  }

  /** Brute-force cosine top-k: for each row of `queries`, the k nearest
    * corpus rows. Queries are broadcast (small side); the corpus side
    * never shuffles — per-partition bounded heaps reduce the scored set
    * to <= nPartitions*k rows per query before the final tiny merge. */
  def bruteForceTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String, k: Int = 10): DataFrame = {
    // norms computed once per row (NOT once per pair)
    val q = queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv"))
      .withColumn("__qn", norm(col("__qv")))
    val c = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv"))
      .withColumn("__cn", norm(col("__cv")))
    val scored = c.join(broadcast(q))
      .withColumn("cosine", dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
    topKPerKey(scored, "query_id", "neighbor_id", "cosine", k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"), col("rank"))
  }

  /** Deterministic IVF coarse quantizer: centroids = hash-ordered
    * corpus sample, collected to the driver (n is small by definition).
    * `orderBy(hash).limit(n)` plans as a distributed
    * TakeOrderedAndProject (per-partition top-n + driver merge) — no
    * global sort, unlike a row_number window, so it holds at corpus
    * scale. Returns (centroid_id, centroid values as doubles). */
  def sampleCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int): Seq[(Long, Seq[Double])] = {
    val sampled = corpus.select(col(idCol), col(vecCol))
      .orderBy(xxhash64(col(idCol))).limit(nCentroids)
      .select(col(vecCol)).collect()
    sampled.toSeq.zipWithIndex.map { case (r, i) =>
      i.toLong -> r.getSeq[Any](0).map {
        case f: java.lang.Float => f.toDouble
        case d: java.lang.Double => d.doubleValue()
        case n: java.lang.Number => n.doubleValue()
      }
    }
  }

  /** One Lloyd (k-means) refinement step, scale-safe: each partition
    * accumulates per-cell (count, element-wise sum) locally — narrow,
    * bounded by nCentroids*dim doubles — and only those tiny partials
    * reach the driver, where cells re-center to their mean. Empty cells
    * keep their seed. The corpus never shuffles.
    *
    * Assignment runs as a PRIMITIVE kernel inside the same
    * mapPartitions (unit-normalized centroid matrix captured in the
    * closure, tight double loops) rather than the `assignNarrow`
    * expression: at k=404 centroids the per-row expression argmin
    * evaluated interpreted and one step took 14.8 s over a 103k-row
    * sample in the 100x rehearsal vs ~1 s for this kernel. Semantics
    * are bit-identical: same (float->double) left-to-right dot
    * accumulation as [[graft.functions.DotF]], same max-dot/min-id
    * tie rule as [[assignNarrow]], same partition-ordered partial
    * merge arithmetic as before. */
  def lloydStep(corpus: DataFrame, vecCol: String,
      cents: Seq[(Long, Seq[Double])]): Seq[(Long, Seq[Double])] = {
    val dim = cents.head._2.size
    val centIds: Array[Long] = cents.map(_._1).toArray
    val unit: Array[Array[Double]] = cents.map { case (_, v) =>
      val n = math.sqrt(v.map(x => x * x).sum)
      (if (n == 0) v else v.map(_ / n)).toArray
    }.toArray
    val session = corpus.sparkSession
    import session.implicits._
    val vecs = corpus
      .select(transform(col(vecCol), v => v.cast("double")).as("_1"))
      .as[Array[Double]]
    val partials = vecs.mapPartitions { rows =>
      val acc = scala.collection.mutable.HashMap.empty[Long, (Long, Array[Double])]
      rows.foreach { v =>
        // argmax dot over unit centroids; tie -> smallest centroid id
        // (mirrors assignNarrow's (negated score, id) struct min)
        var bestId = Long.MaxValue
        var bestS = Double.NegativeInfinity
        var c = 0
        while (c < unit.length) {
          val u = unit(c)
          var s = 0.0
          var j = 0
          while (j < dim) { s += v(j) * u(j); j += 1 }
          if (s > bestS || (s == bestS && centIds(c) < bestId)) {
            bestS = s; bestId = centIds(c)
          }
          c += 1
        }
        val (n, sum) = acc.getOrElseUpdate(bestId, (0L, new Array[Double](dim)))
        var i = 0
        while (i < dim) { sum(i) += v(i); i += 1 }
        acc(bestId) = (n + 1, sum)
      }
      acc.iterator.map { case (cid, (n, s)) => (cid, n, s.toSeq) }
    }.collect()
    val merged = partials.groupBy(_._1).map { case (cid, ps) =>
      val n = ps.map(_._2).sum
      val s = ps.map(_._3).reduce((a, b) => a.lazyZip(b).map(_ + _))
      cid -> s.map(_ / n)
    }
    cents.map { case (cid, seed) => cid -> merged.getOrElse(cid, seed) }
  }

  /** Per-centroid (negated-score, id) structs as one literal-backed
    * array expression — ascending struct sort order = best centroid
    * first (max cosine, tie -> min id). Centroids are UNIT-normalized on
    * the driver and the row norm is dropped: argmax over dot(v, ĉ_i)
    * equals argmax over cosine(v, c_i) because ||v|| is constant across
    * centroids — one dot product per centroid instead of three.
    *
    * The centroid table embeds as TWO compact literals (`typedlit` —
    * one ArrayData node each) and the per-centroid loop is a
    * `transform` over them, NOT per-centroid `array(lit, lit, ...)`
    * trees: at k centroids x d dims the literal-tree form is k*d
    * expression nodes (~26k at k=404, d=64 — measured falling off
    * whole-stage codegen and going ~15x slower in the 100x SemDeDup
    * rehearsal); this form is O(1) nodes at any k. Same [[DotF]]
    * kernel, same operand order, so scores are bit-identical to the
    * old formulation. */
  private def centroidSims(vec: Column, cents: Seq[(Long, Seq[Double])]): Column = {
    val unit = cents.map { case (cid, v) =>
      val n = math.sqrt(v.map(x => x * x).sum)
      cid -> (if (n == 0) v else v.map(_ / n))
    }
    val table = typedLit(unit.map(_._2))
    val ids = typedLit(unit.map(_._1))
    transform(sequence(lit(0), lit(unit.size - 1)), i =>
      struct(negate(dot(vec, element_at(table, i + 1))).as("ns"),
        element_at(ids, i + 1).as("id")))
  }

  /** Nearest-centroid id, computed NARROWLY: centroids are driver-side
    * literals, so assignment is a per-row expression — zero shuffle,
    * zero row blow-up (the broadcast-join + groupBy(id) formulation
    * re-shuffled the whole corpus keyed by id). Since the re-split
    * capability made corpus-sized REASSIGNMENT a maintenance verb,
    * this is the [[graft.functions.AssignCellK]] codegen kernel — the
    * HOF form ([[assignHof]], kept as the differential oracle)
    * evaluates an interpreted lambda per centroid per row (~0.36 µs
    * per row×centroid measured at the 100× rehearsal: minutes per
    * corpus pass at k in the hundreds, the same k-scaling wall
    * [[lloydStep]] already hit and fixed for training). Bit-identical
    * scores and tie rule, pinned by `VectorKernelsSpec`. */
  def assignNarrow(vec: Column, cents: Seq[(Long, Seq[Double])]): Column =
    graft.functions.AssignCellK(vec, cents)

  /** The HOF formulation [[assignNarrow]] replaced — the kernel's
    * differential oracle. */
  private[graft] def assignHof(vec: Column, cents: Seq[(Long, Seq[Double])]): Column =
    array_min(centroidSims(vec, cents)).getField("id")

  /** The `nprobe` nearest centroid ids, narrowly — no window, no
    * shuffle. Kernelized ([[graft.functions.ProbeCellsK]]) for the
    * same reason as [[assignNarrow]]: the HOF form ([[probeHof]], the
    * differential oracle) materializes and sorts the FULL k-struct
    * sims array per row through interpreted lambdas, and after
    * adaptive re-splits grew k into the hundreds that cost runs per
    * BATCH VECTOR in the semantic stream, not just per query. Same
    * (score asc, id asc) order, Double.compare semantics. */
  def probeNarrow(vec: Column, cents: Seq[(Long, Seq[Double])], nprobe: Int): Column =
    graft.functions.ProbeCellsK(vec, cents, nprobe)

  /** The HOF formulation [[probeNarrow]] replaced — the kernel's
    * differential oracle. */
  private[graft] def probeHof(vec: Column, cents: Seq[(Long, Seq[Double])],
      nprobe: Int): Column =
    transform(slice(array_sort(centroidSims(vec, cents)), 1, nprobe),
      s => s.getField("id"))

  /** Driver-side twin of [[probeNarrow]] for an already-collected
    * vector: same score (negated dot against the UNIT centroid, the
    * query NOT normalized — argmin is norm-invariant) and the same
    * (score asc, id asc) tie order, so the two forms pick identical
    * cells. Used to decide partition pruning without running a Spark
    * job that re-evaluates the probe expressions. */
  private[graft] def probeDriver(v: Seq[Double], cents: Seq[(Long, Seq[Double])],
      nprobe: Int): Seq[Long] =
    cents.map { case (cid, c) =>
      val n = math.sqrt(c.map(x => x * x).sum)
      val u = if (n == 0) c else c.map(_ / n)
      var d = 0.0
      var i = 0
      val len = math.min(v.length, u.length)
      while (i < len) { d += v(i) * u(i); i += 1 }
      (-d, cid)
    }.sorted.take(nprobe).map(_._2)

  /** Two-level coarse quantizer OVER a fine-centroid table: clusters
    * the k fine centroids into ~nCoarse groups (reusing the sampled
    * trainer + Lloyd steps — the centroid table is itself just a tiny
    * corpus), then records which fine centroids live in each group.
    * Empty groups are dropped, group ids re-densified to 0..m-1.
    *
    * This is the documented k-scaling fix for [[assignNarrow]]: the
    * flat literal-table argmin is O(k) dots per row, fine to k ~ low
    * thousands of cells; a SemDeDup-style deployment wants ~100k
    * cells, where two-level probing does O(m + k*nprobe/m) dots per
    * row (~1.6k at k=100k, m=316, nprobe=4) with everything still a
    * narrow expression — zero shuffles, zero corpus joins.
    *
    * Returns (coarse centroids with ids 0..m-1, member fine-centroid
    * POSITIONS per group — fine ids from [[trainCentroids]] are
    * already dense 0..k-1, so position == id). */
  def trainCoarse(cents: Seq[(Long, Seq[Double])], nCoarse: Int,
      spark: org.apache.spark.sql.SparkSession,
      lloydSteps: Int = 2): (Seq[(Long, Seq[Double])], Seq[Seq[Int]]) = {
    require(cents.nonEmpty && nCoarse >= 1)
    import spark.implicits._
    val df = cents.map { case (cid, v) => (cid, v) }.toDF("__cid", "__cv")
    // train on ALL fine centroids (the "corpus" here is k rows)
    val per = math.max(1, math.ceil(cents.size.toDouble / nCoarse).toInt)
    val coarse0 = trainCentroids(df, "__cid", "__cv", nCoarse, lloydSteps, per)
    val assigned = df
      .select(col("__cid"), assignNarrow(col("__cv"), coarse0).as("__g"))
      .collect() // k rows — bounded driver metadata, like the centroid tables
      .map(r => (r.getLong(0).toInt, r.getLong(1)))
    val byG = assigned.groupBy(_._2)
      .map { case (g, ms) => g -> ms.map(_._1).sorted.toSeq }
    val nonEmpty = coarse0.filter(c => byG.contains(c._1))
    (nonEmpty.zipWithIndex.map { case ((_, v), i) => (i.toLong, v) },
      nonEmpty.map { case (old, _) => byG(old) })
  }

  /** Hierarchical nearest-centroid assignment: probe the `nprobe`
    * closest COARSE groups, then exact argmin over only their member
    * fine centroids. Same [[graft.functions.DotF]] kernel and the same
    * (max score, min id) tie rule as [[assignNarrow]], so whenever the
    * true nearest fine centroid's group is probed the result is
    * IDENTICAL to the flat assignment (pinned by `hier_assign_gate`);
    * with nprobe = m it degenerates to exactly [[assignNarrow]].
    * All tables embed as compact `typedlit`s (O(1) expression nodes
    * at any k) and the whole thing is one narrow per-row expression. */
  def assignHierarchical(vec: Column, cents: Seq[(Long, Seq[Double])],
      coarse: Seq[(Long, Seq[Double])], members: Seq[Seq[Int]],
      nprobe: Int): Column = {
    require(coarse.size == members.size && members.forall(_.nonEmpty),
      "coarse groups must be non-empty (trainCoarse drops empty ones)")
    // kernelized ([[graft.functions.HierAssignK]]) like assignNarrow /
    // probeNarrow: the HOF form ([[assignHierHof]], the differential
    // oracle) paid an interpreted dot per fine candidate per row
    graft.functions.HierAssignK(vec, cents, coarse, members, nprobe)
  }

  /** The HOF formulation [[assignHierarchical]] replaced — the
    * kernel's differential oracle. */
  private[graft] def assignHierHof(vec: Column, cents: Seq[(Long, Seq[Double])],
      coarse: Seq[(Long, Seq[Double])], members: Seq[Seq[Int]],
      nprobe: Int): Column = {
    val unit = cents.map { case (cid, v) =>
      val n = math.sqrt(v.map(x => x * x).sum)
      cid -> (if (n == 0) v else v.map(_ / n))
    }
    val table = typedLit(unit.map(_._2))
    val ids = typedLit(unit.map(_._1))
    // member positions pre-shifted to element_at's 1-base
    val memberTab = typedLit(members.map(_.map(_ + 1)))
    val probed = transform(
      slice(array_sort(centroidSims(vec, coarse)), 1, nprobe),
      s => s.getField("id"))
    val cand = flatten(transform(probed,
      g => element_at(memberTab, g.cast("int") + 1)))
    array_min(transform(cand, i =>
      struct(negate(dot(vec, element_at(table, i))).as("ns"),
        element_at(ids, i).as("id")))).getField("id")
  }

  /** fine position → coarse group id, inverted from the members table.
    * Requires dense fine ids 0..k-1 (the [[trainCoarse]] contract) —
    * checked HERE so the two-level layout write and the probe's
    * group-dir pruning share one invariant: a drift between the two
    * would scan the wrong group dirs. */
  private def groupOfFine(cents: Seq[(Long, Seq[Double])],
      members: Seq[Seq[Int]]): Array[Long] = {
    require(cents.zipWithIndex.forall { case ((id, _), i) => id == i },
      "two-level geometry requires dense fine ids 0..k-1")
    val a = new Array[Long](cents.size)
    members.zipWithIndex.foreach { case (ms, g) =>
      ms.foreach(p => a(p) = g.toLong) }
    a
  }

  /** HOF formulation of [[graft.functions.HierProbeK]] — the kernel's
    * differential oracle (same struct-sort ordering as [[probeHof]]
    * restricted to the probed groups' members). */
  private[graft] def hierProbeHof(vec: Column, cents: Seq[(Long, Seq[Double])],
      coarse: Seq[(Long, Seq[Double])], members: Seq[Seq[Int]],
      nprobeCoarse: Int, nfine: Int): Column = {
    val unit = cents.map { case (cid, v) =>
      val n = math.sqrt(v.map(x => x * x).sum)
      cid -> (if (n == 0) v else v.map(_ / n))
    }
    val table = typedLit(unit.map(_._2))
    val ids = typedLit(unit.map(_._1))
    val memberTab = typedLit(members.map(_.map(_ + 1)))
    val probed = transform(
      slice(array_sort(centroidSims(vec, coarse)), 1, nprobeCoarse),
      s => s.getField("id"))
    val cand = flatten(transform(probed,
      g => element_at(memberTab, g.cast("int") + 1)))
    transform(slice(array_sort(transform(cand, i =>
        struct(negate(dot(vec, element_at(table, i))).as("ns"),
          element_at(ids, i).as("id")))), 1, nfine),
      s => s.getField("id"))
  }

  /** Train the IVF coarse quantizer on a deterministic hash-ordered
    * SAMPLE (trainPerCentroid vectors per centroid), not the full
    * corpus — TakeOrderedAndProject keeps the sampling pass scale-safe
    * and the Lloyd refinements then touch only the tiny cached sample.
    * One corpus pass total, independent of lloydSteps — at 100 TB,
    * full-corpus k-means iterations are the cost that makes coarse
    * quantizers unaffordable; sample training is the standard fix
    * (cf. IVF trainers in public ANN systems). */
  def trainCentroids(corpus: DataFrame, corpusId: String, corpusVec: String,
      nCentroids: Int, lloydSteps: Int = 2,
      trainPerCentroid: Int = 256): Seq[(Long, Seq[Double])] = {
    val train = corpus.select(col(corpusId).as("__tid"), col(corpusVec).as("__tv"))
      .orderBy(xxhash64(col("__tid"))).limit(nCentroids * trainPerCentroid)
      .cache()
    val seeds = sampleCentroids(train, "__tid", "__tv", nCentroids)
    val cents = (0 until lloydSteps).foldLeft(seeds)((c, _) =>
      lloydStep(train, "__tv", c))
    train.unpersist()
    cents
  }

  /** One HIERARCHICAL Lloyd step — [[lloydStep]] with the per-row
    * argmax restricted to the `nprobe` nearest coarse groups' member
    * fine centroids: O(m + nprobe × k/m) dots per row instead of O(k),
    * which is what makes refinement affordable at fine-cell counts
    * past the flat ceiling (the flat step at k = 10⁵ is the k-scaling
    * wall again, in the trainer this time). Same max-dot/min-id tie
    * rule and partial-merge arithmetic as [[lloydStep]]; with
    * nprobe = m it computes exactly the flat step. */
  private def lloydStepHier(corpus: DataFrame, vecCol: String,
      fine: Seq[(Long, Seq[Double])], coarse: Seq[(Long, Seq[Double])],
      members: Seq[Seq[Int]], nprobe: Int): Seq[(Long, Seq[Double])] = {
    val dim = fine.head._2.size
    def unitOf(cs: Seq[(Long, Seq[Double])]): Array[Array[Double]] =
      cs.map { case (_, v) =>
        val n = math.sqrt(v.map(x => x * x).sum)
        (if (n == 0) v else v.map(_ / n)).toArray
      }.toArray
    val fineIds: Array[Long] = fine.map(_._1).toArray
    val fineUnit = unitOf(fine)
    val coarseUnit = unitOf(coarse)
    val memberTab: Array[Array[Int]] = members.map(_.toArray).toArray
    val np = math.min(math.max(1, nprobe), coarse.size)
    val session = corpus.sparkSession
    import session.implicits._
    val vecs = corpus
      .select(transform(col(vecCol), v => v.cast("double")).as("_1"))
      .as[Array[Double]]
    val partials = vecs.mapPartitions { rows =>
      val acc = scala.collection.mutable.HashMap.empty[Long, (Long, Array[Double])]
      val topG = new Array[Int](np)
      val topS = new Array[Double](np)
      rows.foreach { v =>
        // top-np coarse groups by dot (insertion selection, max first)
        var filled = 0
        var g = 0
        while (g < coarseUnit.length) {
          val u = coarseUnit(g)
          var s = 0.0
          var j = 0
          while (j < dim) { s += v(j) * u(j); j += 1 }
          if (filled < np || s > topS(filled - 1)) {
            var pos = if (filled < np) filled else np - 1
            while (pos > 0 && s > topS(pos - 1)) {
              topS(pos) = topS(pos - 1); topG(pos) = topG(pos - 1); pos -= 1
            }
            topS(pos) = s; topG(pos) = g
            if (filled < np) filled += 1
          }
          g += 1
        }
        // exact argmax over the probed groups' member fine centroids
        var bestId = Long.MaxValue
        var bestS = Double.NegativeInfinity
        var gi = 0
        while (gi < filled) {
          val ms = memberTab(topG(gi))
          var mi = 0
          while (mi < ms.length) {
            val u = fineUnit(ms(mi))
            var s = 0.0
            var j = 0
            while (j < dim) { s += v(j) * u(j); j += 1 }
            val id = fineIds(ms(mi))
            if (s > bestS || (s == bestS && id < bestId)) {
              bestS = s; bestId = id
            }
            mi += 1
          }
          gi += 1
        }
        val (n, sum) = acc.getOrElseUpdate(bestId, (0L, new Array[Double](dim)))
        var i = 0
        while (i < dim) { sum(i) += v(i); i += 1 }
        acc(bestId) = (n + 1, sum)
      }
      acc.iterator.map { case (cid, (n, s)) => (cid, n, s.toSeq) }
    }.collect()
    val merged = partials.groupBy(_._1).map { case (cid, ps) =>
      val n = ps.map(_._2).sum
      val s = ps.map(_._3).reduce((a, b) => a.lazyZip(b).map(_ + _))
      cid -> s.map(_ / n)
    }
    fine.map { case (cid, seed) => cid -> merged.getOrElse(cid, seed) }
  }

  /** Scale-safe trainer for fine-cell counts past the flat ceiling:
    * global hash-ordered seeds (k-means random init over the sample),
    * a coarse/member table over the seeds ([[trainCoarse]] — the fine
    * table is itself a k-row corpus), `lloydSteps` HIERARCHICAL
    * refinements, and the final coarse/member tables rebuilt over the
    * refined fine centroids. Total cost O(sample × (m + nprobe × k/m))
    * dots per step — never O(sample × k), which at k = 10⁵ is what
    * makes flat training (and flat assignment) unaffordable.
    *
    * Geometry is driver-held and expression-embedded (same contract as
    * the flat table): k × dim is required to stay small enough to
    * serialize with tasks. */
  private[graft] def trainCentroidsTwoLevel(corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, lloydSteps: Int = 2, trainPerCell: Int = 64)
      : (Seq[(Long, Seq[Double])], Seq[(Long, Seq[Double])], Seq[Seq[Int]]) = {
    val spark = corpus.sparkSession
    val train = corpus.select(col(idCol).as("__tid"), col(vecCol).as("__tv"))
      .orderBy(xxhash64(col("__tid")))
      .limit(math.min(k.toLong * trainPerCell, Int.MaxValue.toLong - 1).toInt)
      .cache()
    // finally, not success-path: the geometry-size require below (and
    // any trainer failure) must not leave the sample pinned — a
    // maintenance loop retrying the compact would accumulate the leak
    try {
      val fine0 = sampleCentroids(train, "__tid", "__tv", k)
      val dim = fine0.head._2.size
      require(fine0.size.toLong * dim <= (1L << 24),
        s"two-level geometry too large to embed: $k cells x $dim dims " +
          "(driver-held, task-serialized) — lower the cell count or raise " +
          "resplitTargetRows")
      val m = math.max(1, math.min(MaxIvfCells,
        math.ceil(math.sqrt(fine0.size.toDouble)).toInt))
      val refined = (0 until math.max(0, lloydSteps)).foldLeft(fine0) { (f, _) =>
        val (c, mem) = trainCoarse(f, m, spark)
        lloydStepHier(train.select("__tv"), "__tv", f, c, mem, nprobe = 2)
      }
      val (coarse, members) = trainCoarse(refined, m, spark)
      (refined, coarse, members)
    } finally train.unpersist()
  }

  /** IVF top-k: probe the `nprobe` closest centroids per query; exact
    * cosine within probed cells only. Approximate (recall < 1) but the
    * corpus-side work drops by ~nCentroids/nprobe. The corpus NEVER
    * shuffles: cell assignment is a narrow expression and the (small)
    * probe set broadcasts onto it (mirrors the reference asv indexing
    * workload, tiledb/tests/perf/benchmarks/indexing.py:8-45). */
  /** `filter` restricts the SEARCHED rows (metadata-filtered vector
    * search — "nearest neighbors among label=1 docs"): applied before
    * scoring so the top-k heap fills with eligible rows only, while
    * the quantizer still trains on the FULL corpus — the filter
    * changes the result set, not the cell geometry, so one set of
    * centroids serves every predicate. */
  def ivfTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int = 10, nCentroids: Int = 16, nprobe: Int = 4,
      lloydSteps: Int = 2, trainPerCentroid: Int = 256,
      filter: Option[Column] = None): DataFrame = {
    val cents = trainCentroids(corpus, corpusId, corpusVec,
      nCentroids, lloydSteps, trainPerCentroid)
    val corpusCells = filter.map(corpus.filter).getOrElse(corpus)
      .select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv"))
      .withColumn("centroid_id", assignNarrow(col("__cv"), cents))
    val probes = queries
      .select(col(queryId).as("query_id"), col(queryVec).as("__qv"))
      .withColumn("centroid_id",
        explode(probeNarrow(col("__qv"), cents, nprobe)))
    val scored = corpusCells.join(broadcast(probes), Seq("centroid_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
    topKPerKey(scored, "query_id", "neighbor_id", "cosine", k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"), col("rank"))
  }

  /** Build a PERSISTENT IVF index: train the quantizer, assign every
    * vector to its cell narrowly, and write the corpus partitioned BY
    * CELL (`partitionBy(centroid_id)` — one directory per cell) with
    * the unit centroids in a JSON sidecar. Repeated queries then pay
    * neither training nor assignment, and — the actual point at
    * 100 TB — [[ivfIndexTopK]] reads ONLY the probed cell directories
    * via static partition pruning, so each query scans a
    * ~nprobe/nCentroids fraction of the corpus instead of all of it. */
  /** `payload` columns ride INTO the cell files (metadata the search
    * can filter on — labels, sources, timestamps), enabling
    * [[ivfIndexTopK]]'s `filter` without any join back to the corpus:
    * the predicate pushes into the pruned cell scan itself. */
  def buildIvfIndex(corpus: DataFrame, corpusId: String, corpusVec: String,
      uri: String, nCentroids: Int = 16, lloydSteps: Int = 2,
      trainPerCentroid: Int = 256, payload: Seq[String] = Nil,
      encryptionKey: Option[String] = None): Unit = {
    require(!payload.exists(IvfCellCols), s"payload clashes with cell columns: $payload")
    val cents = trainCentroids(corpus, corpusId, corpusVec,
      nCentroids, lloydSteps, trainPerCentroid)
    // a rebuild starts the generation ladder over — clear any prior
    // versioned cells dirs so the fresh gen-0 write is the live one
    graft.storage.VFS(corpus.sparkSession).delete(uri)
    invalidateGeometry(uri) // the legacy sidecar path is reused in place
    // vectors ARE user data: an encrypted corpus needs its ANN index
    // (cells + centroid/codebook sidecars) encrypted; appends/compacts
    // inherit the key from the dir marker
    encryptionKey.foreach(id =>
      graft.storage.Encryption.markDir(corpus.sparkSession, uri, id))
    corpus.select(col(corpusId).as("neighbor_id") +: col(corpusVec).as("vec")
        +: payload.map(col): _*)
      .withColumn("centroid_id", assignNarrow(col("vec"), cents))
      .withColumn("__q", quantizeInt8(col("vec")))
      .select(col("neighbor_id") +: col("vec") +: col("__q.codes").as("codes")
        +: col("__q.scale").as("scale") +: col("centroid_id")
        +: payload.map(col): _*)
      .write.partitionBy("centroid_id").mode("overwrite")
      .options(graft.storage.Encryption.dirWriteOptions(corpus.sparkSession, uri))
      .parquet(s"$uri/cells")
    // payload column list is PINNED here so appends validate against a
    // tiny sidecar read instead of re-inferring the parquet schema of
    // the whole (growing) cells tree per batch
    graft.storage.Encryption.dirJsonWrite(corpus.sparkSession, uri,
      s"$uri/centroids.json", centroidsJsonStr(cents, payload))
  }

  /** Incrementally add vectors to a persisted IVF index: assign each
    * new vector to its nearest EXISTING centroid (narrow literal
    * argmin, zero shuffle of anything but the new batch) and append to
    * the cell directories. Batch-sized work — the indexed corpus is
    * never re-read, the quantizer never retrains, and probe-time
    * static partition pruning is unchanged (appends only add files
    * inside `centroid_id=` dirs). The trade is quantization drift: if
    * the vector distribution shifts far from the training sample, cell
    * occupancy skews and recall decays — rebuild (`buildIvfIndex`)
    * re-trains, exactly like the dedup index's rebuild-to-re-cluster. */
  def appendToIvfIndex(batch: DataFrame, batchId: String, batchVec: String,
      uri: String): Unit = {
    val spark = batch.sparkSession
    // ONE generation resolution for centroids + payload (see
    // metaPathFor). An append racing a RE-SPLITTING major could still
    // assign by the retired geometry and land rows whose cell ids the
    // new geometry never probes (recall loss until the next major
    // reassigns them) — the quiesce-appends-around-majors contract
    // covers this, and the major's guarded inc reset aborts the common
    // interleaving loudly.
    val genPath = cellsPath(spark, uri)
    val (cents, twoLevel) = indexGeometryAt(spark, uri, genPath)
    // payload columns come from the build-time sidecar (one tiny json
    // read per append — NOT a parquet schema inference over the whole
    // cells tree, which a per-micro-batch streaming append would pay
    // repeatedly); indexes built before the sidecar key fall back to
    // the schema walk once
    val payload = indexPayloadAt(spark, uri, genPath).getOrElse(
      spark.read.parquet(genPath)
        .schema.fieldNames.filterNot(IvfCellCols).toSeq)
    val missing = payload.filterNot(batch.columns.contains)
    require(missing.isEmpty, s"append batch lacks index payload columns: $missing")
    // two-level geometry assigns hierarchically — same O(√k) bound as
    // the probe; flat geometry keeps the exact O(k) kernel
    val assign = twoLevel match {
      case None => assignNarrow(col("vec"), cents)
      case Some((c, mem)) => assignHierarchical(col("vec"), cents, c, mem, 4)
    }
    batch.select(col(batchId).as("neighbor_id") +: col(batchVec).as("vec")
        +: payload.map(col): _*)
      .withColumn("centroid_id", assign)
      .withColumn("__q", quantizeInt8(col("vec")))
      .select(col("neighbor_id") +: col("vec") +: col("__q.codes").as("codes")
        +: col("__q.scale").as("scale") +: col("centroid_id")
        +: payload.map(col): _*)
      // ONE flat centroid-SORTED file per append, with centroid_id as
      // a data column — NOT partitionBy, which writes one file per
      // touched cell per append (~nCentroids files/batch): per-batch
      // probe cost measured ~4 ms per inc file, so the partitioned
      // shape grew a 2× sawtooth between folds on the streaming
      // rehearsal. The sort gives the probe's centroid_id predicate
      // row-group pruning instead of dir pruning — the text index's
      // exact design. A rare LARGE append pays a single writer task;
      // bulk loads belong in buildIvfIndex / compactIvfIndex.
      .repartition(1).sortWithinPartitions("centroid_id")
      .write.mode("append")
      .options(graft.storage.Encryption.dirWriteOptions(spark, uri))
      .parquet(cellsIncPath(spark, uri))
  }

  /** The cells as one tiered table ([[graft.storage.TieredTable]]):
    * base `cells` plus the INC tier `cells_inc` that
    * [[appendToIvfIndex]] writes, so that [[minorCompactIvfIndex]] can
    * fold appends WITHOUT rewriting the base cells (bounded in-loop
    * streaming maintenance, the same lifecycle as
    * [[graft.ops.DedupIndex]]). Readers always resolve complete
    * generations, even concurrently with (or after a crash of)
    * [[compactIvfIndex]]. */
  private def cellsTable(uri: String) = graft.storage.TieredTable(uri, "cells")

  /** Live INC-tier cells dir. */
  def cellsIncPath(spark: org.apache.spark.sql.SparkSession, uri: String): String =
    cellsTable(uri).incPath(graft.storage.VFS(spark))

  /** Every reader's view of the cells: base ∪ inc. TWO partitioned
    * legs (never one multi-root read — key=value partition discovery
    * across roots is a hard Spark error), which is fine at leg count
    * 2; the probed `centroid_id isin` prunes partition dirs in both. */
  private[graft] def readCellsAll(spark: org.apache.spark.sql.SparkSession,
      uri: String): DataFrame = {
    val (inc, base) = cellsTable(uri).resolve(graft.storage.VFS(spark))
    readCellsAllFrom(spark, uri, base, inc)
  }

  /** [[readCellsAll]] against PRE-RESOLVED tier paths: callers that
    * also read the centroid sidecar must take base + geometry from ONE
    * resolution — a re-splitting major flips cells AND centroids
    * together, and geometry from generation G with cells from G+1
    * would prune by the wrong cells. Resolve both tiers with
    * [[graft.storage.TieredTable.resolve]] (inc first: a read racing a
    * major sees appended rows twice, never not at all). */
  private def readCellsAllFrom(spark: org.apache.spark.sql.SparkSession,
      uri: String, basePath: String, inc: String,
      baseFilter: Option[Column] = None): DataFrame = {
    val base0 = spark.read.parquet(basePath)
    // baseFilter applies to the BASE leg only, BEFORE layout columns
    // drop: a two-level probe prunes the base's group_id partition
    // dirs here (the inc tier is flat and carries no group column)
    val base1 = baseFilter.map(base0.filter).getOrElse(base0)
    // two-level layout metadata: group_id is the partition dir key,
    // derivable from the geometry sidecar — never part of the rows
    val base = if (base1.columns.contains("group_id")) base1.drop("group_id")
      else base1
    // the cells' payload schema lives in the geometry sidecar, so this
    // leg still infers its schema from the files
    cellsTable(uri).incRows(spark, inc, None).fold(base) { incLeg =>
      // flat inc files carry centroid_id as a DATA column (long); a
      // FLAT base leg's is partition-inferred (int). Align by casting
      // the BASE side UP — partition pruning still evaluates predicates
      // over a cast partition column, while a narrowing cast on the
      // inc side's data attribute would block parquet predicate
      // pushdown and defeat the row-group pruning the flat sorted
      // layout exists for. A TWO-LEVEL base already stores centroid_id
      // as a long data column — no cast, keep its row-group pruning.
      val aligned =
        if (base.schema("centroid_id").dataType ==
            org.apache.spark.sql.types.LongType) base
        else base.withColumn("centroid_id", col("centroid_id").cast("long"))
      aligned.unionByName(incLeg)
    }
  }

  /** reserved cell-file columns (everything else is search payload) */
  private val IvfCellCols: Set[String] =
    Set("neighbor_id", "vec", "codes", "scale", "centroid_id", "group_id")

  /** Live (base) cells directory of a persisted IVF index. */
  def cellsPath(spark: org.apache.spark.sql.SparkSession, uri: String): String =
    cellsTable(uri).basePath(graft.storage.VFS(spark))

  /** Hard cap on re-split cell count — the same partition-dir sanity
    * bound as the search index's bucket cap (a probe touches only
    * nprobe cells regardless, but a cells tree with 10⁶ dirs is a
    * listing/metastore problem, not a data problem). */
  val MaxIvfCells: Int = 4096

  /** Hard ceiling for TWO-LEVEL re-splits. The layout stops binding
    * the cell count at [[MaxIvfCells]] (fine cells ride as a sorted
    * data column inside ≤ √k coarse partition dirs), so the bound
    * moves to the geometry itself: k × dim doubles are driver-held and
    * task-serialized (the same contract as the flat table), checked by
    * the trainer. At 10⁹ rows × 512 target this allows the full ~2M/
    * 512 ≈ wanted cells up to 131072 before per-cell occupancy starts
    * growing linearly again. */
  val MaxIvfCellsTwoLevel: Int = 1 << 17

  /** MAJOR maintenance of a persisted IVF index: fold base ∪ inc into
    * a new base generation with ONE file per cell, then reset the inc
    * tier ([[graft.storage.TieredTable.major]]). Appends accumulate one
    * batch-sized file each, and the per-file open cost eventually
    * dominates probe reads. One pass of the stored vectors —
    * hash-repartitioned on the cell id (each cell lands whole in one
    * task, parallelism = cell count) — no centroid retraining, no
    * assignment recompute (the stored centroid_id IS the assignment).
    * The cheap maintenance verb between appends and a full
    * [[buildIvfIndex]] retrain, mirroring the dedup index's append →
    * compact → build ladder. Concurrent probes keep reading the old
    * generation until the marker flips, and a crash leaves the old
    * generation live (no delete-then-rename window).
    *
    * CONSISTENCY WINDOW: between the base flip and the inc reset (or
    * after a crash/abort there), appended rows exist in BOTH tiers; a
    * concurrent ad-hoc probe can transiently return a duplicated
    * neighbor occupying two top-k slots. Deliberately NOT deduped
    * probe-side (O(index)-per-probe shuffle to guard one instant — see
    * [[ivfIndexTopK]]); the window is lull-time-only by the
    * quiesce-appends contract, and this fold's exact-row distinct heals
    * any crash residue on the next run.
    *
    * `resplitTargetRows` > 0 makes the major ADAPTIVE: when mean cell
    * occupancy has outgrown the target — the corpus grew ≥2× past the
    * geometry (hysteresis, so majors don't churn the quantizer) — the
    * fold RE-TRAINS the centroids at `totalRows / target` cells
    * (capped at [[MaxIvfCells]], never shrinking) and reassigns every
    * vector while it is already rewriting them. This is what keeps
    * probe cost FLAT across corpus decades: per-query candidates are
    * O(nprobe × targetRows) at any index size, where a fixed geometry
    * degrades linearly (measured: the 100× streaming rehearsal's
    * late/early hit 3.2× on bootstrap-64 cells at 200k vectors). The
    * new centroids ride INSIDE the new generation (`_centroids.json`)
    * so geometry and cells flip atomically — a concurrent probe reads
    * either (old cells, old centroids) or (new, new), never a mix.
    * 0 (default) = fixed geometry, the pre-r17 behavior.
    *
    * `maxFlatCells` (default [[MaxIvfCells]]) bounds the FLAT layout:
    * a re-split wanting more cells flips to the TWO-LEVEL layout —
    * fine cells as a sorted data column inside ≤ √k coarse partition
    * dirs, coarse/member tables riding the generation sidecar — so the
    * dir-count cap stops binding the cell count (and with it, per-cell
    * occupancy at 10⁹-row corpora). Tests shrink it to force the
    * two-level path at spec scale.
    *
    * OPERATING POINT past the cap (measured r19, BASELINE.md
    * "two-level recall curve": 202k worst-case uniform-sphere vecs,
    * 12,625 cells, recall@10 across the (nprobeCoarse, nprobe) grid):
    * candidates/query = nprobe × target at EVERY nprobeCoarse — the
    * coarse dial buys recall with √k-scale centroid dots, never
    * candidate volume. `nprobeCoarse = 8` captures ~80% of the
    * available coarse-dial recall gain (e.g. .282 → .313 at the
    * nprobe=12 budget) and is the recommended default; the residual
    * gap vs flat IVF at matched budget (~0.055 at npc=12 on the
    * adversarial uniform distribution) closes at ~2× nprobe. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession, uri: String,
      resplitTargetRows: Long = 0, maxFlatCells: Int = MaxIvfCells): Unit = {
    val cells = cellsTable(uri)
    val resplitFrom = cells.major(spark, "ivf.compact.afterCellsFlip") { next =>
      val (incPath0, genPath) = cells.resolve(graft.storage.VFS(spark))
      val (cents0, twoLevel0) = indexGeometryAt(spark, uri, genPath)
      val nCells = cents0.size
      val raw = readCellsAllFrom(spark, uri, genPath, incPath0)
      val payload = indexPayloadAt(spark, uri, genPath)
        .getOrElse(raw.schema.fieldNames.filterNot(IvfCellCols).toSeq)
      // sizing from the RAW count (columnar, no shuffle; crash-replay
      // duplicates inflate it only until this very fold heals them)
      val wantCells =
        if (resplitTargetRows <= 0) nCells
        else math.min(MaxIvfCellsTwoLevel.toLong, math.max(nCells.toLong,
          math.ceil(raw.count().toDouble / resplitTargetRows).toLong)).toInt
      val resplit = resplitTargetRows > 0 && wantCells >= 2 * nCells
      val all = raw.distinct() // exact-row heal only; changed-vec re-appends stay visible
      // re-train on the raw read (sampling tolerates replay dupes; the
      // distinct()'d frame would re-run its shuffle per action). Wanting
      // more cells than the flat ceiling flips the geometry AND layout
      // to two-level — the hierarchical trainer keeps training O(√k)
      // dots per sample row where the flat one is O(k).
      val (cents, twoLevel) =
        if (!resplit) (cents0, twoLevel0)
        else if (wantCells <= maxFlatCells)
          (trainCentroids(raw, "neighbor_id", "vec", wantCells), None)
        else {
          val (f, c, mem) = trainCentroidsTwoLevel(raw, "neighbor_id", "vec",
            wantCells)
          (f, Some((c, mem)))
        }
      val folded =
        if (!resplit) all
        else all.drop("centroid_id").withColumn("centroid_id", twoLevel match {
          case None => assignNarrow(col("vec"), cents)
          // hierarchical assignment — the flat argmin at k past the
          // ceiling is the k-scaling wall the kernel work retired
          case Some((c, mem)) =>
            assignHierarchical(col("vec"), cents, c, mem, nprobe = 4)
        })
      twoLevel match {
        case None =>
          folded
            .repartition(math.max(1, cents.size), col("centroid_id"))
            .write.partitionBy("centroid_id").mode("overwrite")
            .options(graft.storage.Encryption.dirWriteOptions(spark, uri))
            .parquet(next)
        case Some((coarse, members)) =>
          // TWO-LEVEL layout: ≤ √k coarse partition dirs (group_id), fine
          // centroid_id a range-clustered SORTED data column within — dir
          // pruning on the probed groups, row-group pruning on the probed
          // fine cells, and the dir count stays bounded at any k
          val groupOf = groupOfFine(cents, members)
          folded
            .withColumn("group_id", element_at(
              typedlit(groupOf.toSeq), col("centroid_id").cast("int") + 1))
            .repartitionByRange(math.max(1, coarse.size),
              col("group_id"), col("centroid_id"))
            .sortWithinPartitions("group_id", "centroid_id")
            .write.partitionBy("group_id").mode("overwrite")
            .options(graft.storage.Encryption.dirWriteOptions(spark, uri))
            .parquet(next)
      }
      // geometry rides in the generation, written BEFORE the flip marker
      graft.storage.Encryption.dirJsonWrite(spark, uri,
        s"$next/_centroids.json", geometryJsonStr(cents, payload, twoLevel))
      if (resplit) Some(nCells -> cents.size) else None
    }
    resplitFrom.foreach { case (from, to) =>
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"ivf re-split $uri: $from -> $to cells " +
          s"(target $resplitTargetRows rows/cell)")
    }
  }

  /** BOUNDED maintenance (r16): fold ONLY the inc-tier cells into few
    * flat centroid-sorted files (~250k rows each, the same shape
    * appends write — row-group pruning on the sorted column, file
    * count reset to ~1) in a new inc generation
    * ([[graft.storage.TieredTable.minorFold]]) — O(appends since the
    * last major compact), never a base rewrite. This is what
    * [[graft.streaming.EventStreams.semanticDedupStream]]'s in-loop
    * `compactEvery` runs, so the cadence batch's stall tracks the
    * streamed-in volume, not the index size. Reader-safe (generation
    * flip); single-writer vs appends (guarded). */
  def minorCompactIvfIndex(spark: org.apache.spark.sql.SparkSession,
      uri: String): Unit =
    cellsTable(uri).minorFold(spark, Seq("centroid_id"))(
      graft.storage.TieredTable.filesFor)

  /** Tier stats + major-compact advisory: base = the live cells
    * generation, inc = the live cells_inc generation. Listings only,
    * no data read — cheap enough for an operator poll loop. */
  def maintenanceAdvice(spark: org.apache.spark.sql.SparkSession,
      uri: String): graft.storage.MaintenanceAdvice =
    graft.storage.TieredTable.advice(graft.storage.VFS(spark), cellsTable(uri))

  /** Sidecar path for a given cells generation: the IN-GENERATION
    * `_centroids.json` when present (written by every compact since
    * the re-split capability landed — a re-splitting major REPLACES
    * the centroids, so the sidecar must flip atomically with the
    * cells it describes), else the index-root legacy sidecar (whose
    * geometry is fixed at build and never flips). */
  private def metaPathFor(spark: org.apache.spark.sql.SparkSession,
      uri: String, genPath: String): String = {
    val inGen = s"$genPath/_centroids.json"
    if (graft.storage.VFS(spark).exists(inGen)) inGen else s"$uri/centroids.json"
  }

  private def centroidsJsonStr(cents: Seq[(Long, Seq[Double])],
      payload: Seq[String]): String =
    geometryJsonStr(cents, payload, None)

  /** [[centroidsJsonStr]] plus the optional TWO-LEVEL tables: coarse
    * group centroids (dense ids 0..m-1) and per-group member fine
    * POSITIONS. Readers without the keys see a flat geometry —
    * pre-two-level indexes parse unchanged. */
  private def geometryJsonStr(cents: Seq[(Long, Seq[Double])],
      payload: Seq[String],
      twoLevel: Option[(Seq[(Long, Seq[Double])], Seq[Seq[Int]])]): String = {
    import graft.core.Json._
    val base = Seq(
      "centroids" -> JArr(cents.map { case (cid, v) =>
        JObj(Seq("id" -> JLong(cid), "v" -> JArr(v.map(JNum(_)))))
      }),
      "payload" -> JArr(payload.map(JStr)))
    val extra = twoLevel.toSeq.flatMap { case (coarse, members) => Seq(
      "coarse" -> JArr(coarse.map { case (cid, v) =>
        JObj(Seq("id" -> JLong(cid), "v" -> JArr(v.map(JNum(_)))))
      }),
      "members" -> JArr(members.map(ms =>
        JArr(ms.map(p => JLong(p.toLong))))))
    }
    JObj(base ++ extra).render
  }

  private type Geometry =
    (Seq[(Long, Seq[Double])], Option[(Seq[(Long, Seq[Double])], Seq[Seq[Int]])])
  private type GeometryFull = (Geometry, Option[Seq[String]])

  /** Parsed-geometry memo. Geometry sidecars are immutable per
    * GENERATION, but re-parsing one per probe is a real driver cost
    * once re-splits grow k (a 12k-cell × 128-dim table is ~13 MB of
    * JSON floats — measured as the dominant per-query wall at the
    * two-level rehearsal). Keyed by path + (len, mtime) because the
    * LEGACY sidecar path is rewritten in place by rebuilds. LRU 16 —
    * geometries are MBs of driver heap, and an app probing more than
    * 16 distinct generations at once is re-parse traffic, not a leak. */
  private val geomCache =
    new java.util.LinkedHashMap[String, GeometryFull](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, GeometryFull]): Boolean = size() > 16
    }

  /** Drop memoized geometry under `uri` — REQUIRED on in-place
    * rebuilds: the legacy sidecar path is rewritten in place, and the
    * (len, mtime) fingerprint cannot distinguish a rebuild that lands
    * within the filesystem's mtime granularity (1 s on S3A) with a
    * same-length JSON. Generation-riding sidecars never need this
    * (their paths are never rewritten). */
  private def invalidateGeometry(uri: String): Unit =
    geomCache.synchronized {
      val it = geomCache.keySet().iterator()
      // path-boundary prefix: invalidating "/x/idx" must not evict
      // "/x/idx2"'s entries (keys are "<metaPath>@len:mtime", so a
      // sibling uri sharing the raw prefix would otherwise match)
      while (it.hasNext) {
        val k = it.next()
        if (k.startsWith(uri + "/") || k.startsWith(uri + "@")) it.remove()
      }
    }

  private def geometryFullAt(spark: org.apache.spark.sql.SparkSession,
      uri: String, genPath: String): GeometryFull = {
    val metaPath = metaPathFor(spark, uri, genPath)
    val key = {
      val (len, mtime) = graft.storage.VFS(spark).fileStamp(metaPath)
      s"$metaPath@$len:$mtime"
    }
    geomCache.synchronized {
      val hit = geomCache.get(key)
      if (hit != null) return hit
    }
    import graft.core.Json._
    val o = graft.core.Json.parse(
      graft.storage.Encryption.dirJsonRead(spark, uri, metaPath)).obj
    def table(tk: String) = o(tk).map(_.arr.map { c =>
      val co = c.obj
      co("id").get.long -> co("v").get.arr.map(_.dbl)
    })
    val fine = table("centroids").get
    val twoLevel = for {
      coarse <- table("coarse")
      members <- o("members").map(_.arr.map(_.arr.map(_.long.toInt)))
    } yield (coarse, members)
    val geo = ((fine, twoLevel), o("payload").map(_.arr.map(_.str)))
    geomCache.synchronized { geomCache.put(key, geo) }
    geo
  }

  /** Full persisted geometry at a resolved generation: fine centroids
    * plus the two-level tables when present. Memoized per sidecar
    * fingerprint (see [[geomCache]]). */
  private[graft] def indexGeometryAt(spark: org.apache.spark.sql.SparkSession,
      uri: String, genPath: String): Geometry =
    geometryFullAt(spark, uri, genPath)._1

  /** Payload column list pinned at build; None for pre-payload-key
    * indexes (callers fall back to schema inference once). Rides the
    * geometry memo — an append must not re-parse a multi-MB sidecar
    * for a column list. */
  private def indexPayloadAt(spark: org.apache.spark.sql.SparkSession,
      uri: String, genPath: String): Option[Seq[String]] =
    geometryFullAt(spark, uri, genPath)._2

  /** Centroids of a persisted IVF index (the LIVE generation's — see
    * [[metaPathFor]]; callers that also scan the cells should resolve
    * the generation once and use [[indexCentroidsAt]]). */
  def indexCentroids(spark: org.apache.spark.sql.SparkSession,
      uri: String): Seq[(Long, Seq[Double])] =
    indexCentroidsAt(spark, uri, cellsPath(spark, uri))

  private def indexCentroidsAt(spark: org.apache.spark.sql.SparkSession,
      uri: String, genPath: String): Seq[(Long, Seq[Double])] =
    indexGeometryAt(spark, uri, genPath)._1

  /** Top-k against a persisted IVF index. The probed cell ids (at most
    * |queries| * nprobe, and queries are small by contract) collapse to
    * a literal IN filter on the partition column, so the parquet scan
    * statically prunes to the probed directories — visible as
    * PartitionFilters in the plan, and as a ~nprobe/nCentroids input
    * fraction at any corpus size.
    *
    * `rerank > 0` switches to the two-phase quantized plan: phase 1
    * scores the probed cells on their int8 codes — parquet column
    * pruning means the scan reads the 1-byte `codes` column, NOT the
    * 4-byte `vec` column, a ~4x IO cut on the dominant read — and
    * keeps the top-`rerank` candidates per query; phase 2 fetches TRUE
    * vectors for those candidates only (broadcast semi-join inside the
    * probed cells) and re-scores exactly, emitting the top-k. With
    * `rerank` a small multiple of k the result matches the exact scan
    * (int8 cosine error ~1e-3 only needs the true top-k inside the
    * top-`rerank` approximate candidates). */
  /** `filter` is a predicate over the index's PAYLOAD columns (stored
    * at build via `buildIvfIndex(payload = ...)`): it applies inside
    * the statically-pruned cell scan — pushed to parquet alongside
    * the partition pruning, no join back to the corpus — and before
    * any heap fills, so filtered search returns k ELIGIBLE rows. */
  /** `nprobeCoarse` only applies to TWO-LEVEL indexes (re-split past
    * the flat cell ceiling): how many coarse groups the fine-cell
    * probe searches. Clamped to [2, m]; with `nprobeCoarse = m` the
    * probe degenerates to the exact flat selection. */
  def ivfIndexTopK(spark: org.apache.spark.sql.SparkSession, uri: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int = 10, nprobe: Int = 4, rerank: Int = 0,
      filter: Option[Column] = None, nprobeCoarse: Int = 4): DataFrame = {
    if (rerank > 0) boundRerank(spark, rerank, "ivf") // same broadcast shape
    // ONE generation resolution for geometry + cells: a re-splitting
    // major flips both together, and centroids from generation G over
    // the cells of G+1 would probe the wrong partitions
    // (inc first; a major can be forced between the tier resolutions —
    // FlipRaceSpec: duplicates tolerated, rows never lost)
    val (incPath0, genPath) =
      cellsTable(uri).resolve(graft.storage.VFS(spark), "ivf.read.betweenResolves")
    val (cents, twoLevel) = indexGeometryAt(spark, uri, genPath)
    // flat geometry: O(k) probe kernel. Two-level geometry (a re-split
    // past the flat ceiling): probe the nearest coarse groups, select
    // the nprobe nearest fine cells among their members — O(√k) dots
    // per query at any cell count
    val probeCells = twoLevel match {
      case None => probeNarrow(col("__qv"), cents, nprobe)
      case Some((coarse, members)) =>
        graft.functions.HierProbeK(col("__qv"), cents, coarse, members,
          math.min(coarse.size, math.max(2, nprobeCoarse)), nprobe)
    }
    val probes = queries
      .select(col(queryId).as("query_id"), col(queryVec).as("__qv"))
      .withColumn("centroid_id", explode(probeCells))
    val cellIds = probes.select("centroid_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    // two-level base leg: prune the coarse partition dirs of the
    // probed fine cells (groups derive from the members table)
    val baseFilter = twoLevel.map { case (_, members) =>
      val groupOf = groupOfFine(cents, members)
      val groups = cellIds.map(cid => groupOf(cid.toInt)).distinct
      col("group_id").isin(groups: _*)
    }
    val cells0 = readCellsAllFrom(spark, uri, genPath, incPath0, baseFilter)
      .filter(col("centroid_id").isin(cellIds: _*))
    val cells = filter.map(cells0.filter).getOrElse(cells0)
    // NO per-probe (query, neighbor) dedup, deliberately: a neighbor
    // row can exist in both tiers ONLY inside the major compact's
    // window between its base flip and inc reset — and majors require
    // quiesced appends (a streaming in-loop fold is minor-only and
    // never duplicates across tiers), so the window touches only
    // ad-hoc queries racing a lull-time major, transiently, for one
    // probe. A dedup here would shuffle probe-content that approaches
    // the whole index when a large query batch probes every cell —
    // O(index) per batch, measured +50% on the semantic stream — to
    // guard that instant. See compactIvfIndex's scaladoc.
    if (rerank <= 0) {
      val scored = cells.join(broadcast(probes), Seq("centroid_id"))
        .withColumn("cosine", cosine(col("__qv"), col("vec")))
      topKPerKey(scored, "query_id", "neighbor_id", "cosine", k)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
    } else {
      // phase 1: narrow approximate scan (codes + scale only)
      val approx = cells
        .select(col("centroid_id"), col("neighbor_id"), col("codes"), col("scale"))
        .join(broadcast(probes), Seq("centroid_id"))
        .withColumn("__as", cosine(col("__qv"),
          dequantizeInt8(struct(col("codes").as("codes"), col("scale").as("scale")))))
      val cands = topKPerKey(approx, "query_id", "neighbor_id", "__as", rerank)
        .select(col("query_id"), col("neighbor_id"))
      // phase 2: exact re-rank of the candidate ids only
      val candVecs = cells.select(col("neighbor_id"), col("vec"))
        .join(broadcast(cands.select("neighbor_id").distinct()),
          Seq("neighbor_id"), "left_semi")
      val qv = queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv"))
      val scored = candVecs
        .join(broadcast(cands), Seq("neighbor_id"))
        .join(broadcast(qv), Seq("query_id"))
        .withColumn("cosine", cosine(col("__qv"), col("vec")))
      topKPerKey(scored, "query_id", "neighbor_id", "cosine", k)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
    }
  }

  /** recall@k of an approximate top-k result vs the exact one, as one
    * scalar row — the driver-checkable correctness gate for IVF. */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    val hit = exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("__hits"))
    val all = exact.agg(count(lit(1)).as("__n"))
    // benign 1x1 crossJoin: both sides are single-row global aggregates
    // (sanctioned in ScaleGuardSpec's crossJoin allowlist)
    hit.crossJoin(all)
      .select((col("__hits").cast("double") / col("__n")).as("recall"))
  }

  // ------------------------------------- deterministic random projection

  /** Deterministic SPARSE RANDOM PROJECTION (the Achlioptas
    * Johnson-Lindenstrauss construction): out_i = sum_j v_j * s(i,j)
    * with s in {+1, 0, -1} drawn (1/6, 2/3, 1/6) from the md5-24-bit
    * hash of (salt, i, j) — the cheap dimensionality reduction in
    * front of brute-force/IVF search when 64+ dims cost too much per
    * distance. Two properties the md5 derivation buys:
    *  - REPRODUCIBLE everywhere: the matrix is a pure function of
    *    (salt, dims) — no trained state, no stored artifact, any
    *    engine with md5 rebuilds it bit-identically (the DuckDB
    *    oracle replays the whole projection), and a re-run months
    *    later projects into the SAME space, so stored projections
    *    stay comparable.
    *  - EXACT entries: +-1/0 (the sqrt(3/k) normalization is
    *    deliberately omitted — a global scalar changes no cosine and
    *    no rank), so the per-row work is `outDim` fused [[DotF]]
    *    dot products against literal rows: narrow, codegen'd, zero
    *    shuffle, zero corpus pass to "train".
    * Returns long-form (idCol, proj_idx, value) rows. */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
      outDim: Int, inDim: Int, salt: String = "graft"): DataFrame = {
    require(outDim >= 1 && inDim >= 1 && outDim <= 4096,
      s"bad projection dims $inDim -> $outDim")
    val md = java.security.MessageDigest.getInstance("MD5")
    def h24(key: String): Long = {
      val d = md.digest(key.getBytes("UTF-8"))
      ((d(0) & 0xFFL) << 16) | ((d(1) & 0xFFL) << 8) | (d(2) & 0xFFL)
    }
    val m: Array[Array[Float]] = Array.tabulate(outDim)(i =>
      Array.tabulate(inDim) { j =>
        (h24(s"$salt:${i}_$j") % 6) match {
          case 0 => 1f
          case 1 => -1f
          case _ => 0f
        }
      })
    val projected = array((0 until outDim).map(i =>
      graft.functions.DotF(col(vecCol), lit(m(i)))): _*)
    df.select(col(idCol), posexplode(projected))
      .select(col(idCol), col("pos").as("proj_idx"),
        round(col("col"), 6).as("value"))
  }

  // ------------------------------------------------- int8 quantization

  /** Symmetric per-vector int8 quantization: scale = max|x| / 127,
    * codes = round(x / scale) — 4x smaller embedding storage (the
    * difference between a 100 TB and a 25 TB vector store) with
    * cosine typically preserved to ~1e-3 on unit-norm vectors.
    * Narrow per-row expressions, zero shuffle, no state: each vector
    * carries its own scale, so quantization needs no corpus pass and
    * re-quantizing a batch is batch-sized work. Returns
    * (…, codes tinyint array, scale float). All-zero vectors get
    * scale 0 and all-zero codes. */
  def quantizeInt8(vec: Column): Column = {
    val scale = greatest(aggregate(transform(vec, x => abs(x)),
      lit(0.0f), (a, x) => greatest(a, x)), lit(0.0f)) / 127.0f
    struct(
      when(scale === 0.0f, transform(vec, _ => lit(0.toByte)))
        .otherwise(transform(vec, x => round(x / scale).cast("tinyint")))
        .as("codes"),
      scale.cast("float").as("scale"))
  }

  /** Inverse: codes * scale back to float. Lossy by round(); the
    * round-trip error bound is scale/2 per component. */
  def dequantizeInt8(q: Column): Column =
    transform(q.getField("codes"), c => c.cast("float") * q.getField("scale"))

  // ------------------------------------------------- product quantization
  // PQ (Jegou et al., "Product Quantization for Nearest Neighbor
  // Search", TPAMI 2011 — public method): split the vector into m
  // subspaces, k-means each subspace to ksub centroids, store one code
  // per subspace. At m=8, ksub=16 a 64-dim float vector becomes 8
  // codes = 8 bytes — a 32x memory cut vs float32 (int8 is only 4x),
  // which is the difference between a vector store that fits in
  // cluster RAM at 100 TB corpus scale and one that doesn't. Queries
  // score against codes via ADC (one LUT of <q_s, C_s,j> per query,
  // score = sum of m table lookups per candidate — no full dot).

  /** Train a PQ codebook: per-subspace k-means (L2, deterministic
    * seeding and ties) over a bounded hash-ordered corpus sample —
    * the standard PQ practice (codebooks train on a sample regardless
    * of corpus size; FAISS does the same), so driver state is
    * trainN*dim doubles by construction, never corpus-sized. Vectors
    * are unit-normalized BEFORE training and encoding, so ADC dot
    * approximates cosine directly. Returns
    * codebook(s)(j) = centroid j of subspace s (ksub per subspace). */
  def trainPq(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ksub: Int = 16, lloydSteps: Int = 4,
      trainN: Int = 4096): Seq[Seq[Seq[Double]]] = {
    require(m >= 1 && ksub >= 1 && lloydSteps >= 0)
    val rows = corpus.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .orderBy(xxhash64(col("__id")), col("__id")).limit(trainN)
      .select(transform(col("__v"), x => x.cast("double")).as("__v"))
      .collect()
    require(rows.nonEmpty, "trainPq: empty corpus")
    val sample: Array[Array[Double]] = rows.map { r =>
      val v = r.getSeq[Double](0).toArray
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    (0 until m).map { s =>
      val sub = sample.map(v =>
        java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      kmeansL2(sub, ksub, lloydSteps)
    }
  }

  /** Driver-side L2 k-means over a bounded sample: seeds = first k
    * DISTINCT points in sample order (zero-padded if the sample has
    * fewer distinct points), assignment by min squared distance with
    * smallest-index ties, empty cells keep their previous centroid.
    * Deterministic end to end. */
  private def kmeansL2(points: Array[Array[Double]], k: Int,
      steps: Int): Seq[Seq[Double]] = {
    val dsub = points.head.length
    val seeds = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val used = scala.collection.mutable.HashSet.empty[Seq[Double]]
    var i = 0
    while (seeds.size < k && i < points.length) {
      if (used.add(points(i).toSeq)) seeds += points(i).clone()
      i += 1
    }
    while (seeds.size < k) seeds += new Array[Double](dsub)
    var cents: Array[Array[Double]] = seeds.toArray
    var step = 0
    while (step < steps) {
      val sums = Array.fill(k)(new Array[Double](dsub))
      val counts = new Array[Long](k)
      points.foreach { p =>
        var best = 0
        var bestD = Double.MaxValue
        var j = 0
        while (j < k) {
          var d = 0.0
          var t = 0
          while (t < dsub) { val x = p(t) - cents(j)(t); d += x * x; t += 1 }
          if (d < bestD) { bestD = d; best = j } // strict: ties keep min j
          j += 1
        }
        counts(best) += 1
        var t = 0
        while (t < dsub) { sums(best)(t) += p(t); t += 1 }
      }
      cents = Array.tabulate(k)(j =>
        if (counts(j) == 0) cents(j) else sums(j).map(_ / counts(j)))
      step += 1
    }
    cents.map(_.toSeq).toSeq
  }

  /** Unit-normalize a vector column to doubles (zero vectors pass
    * through as zeros). Narrow. The norm binds through
    * [[graft.ops.TextAnalysis.once]] — inlined per-element it would
    * re-run the dim-wide aggregate for EVERY component. */
  def unitNorm(vec: Column): Column =
    graft.ops.TextAnalysis.once(sqrt(aggregate(vec, lit(0.0), (a, x) =>
      a + x.cast("double") * x.cast("double")))) { n =>
      when(n === 0.0, transform(vec, _ => lit(0.0)))
        .otherwise(transform(vec, x => x.cast("double") / n))
    }

  /** PQ-encode a vector, narrowly: per subspace, argmin-L2 code over
    * the codebook computed as argmin_j (||C_j||^2 - 2<v_s, C_j>) (the
    * ||v_s||^2 term is constant across j), strict-less ties to the
    * smallest code. Runs as the native [[graft.functions.PqEncodeK]]
    * kernel — the corpus-wide pass of a PQ build must be primitive
    * loops, not m*ksub interpreted lambda evals per row. Input must
    * already be unit-normalized ([[unitNorm]]). Returns array<int> of
    * m codes. */
  def pqEncode(vec: Column, codebook: Seq[Seq[Seq[Double]]]): Column =
    graft.functions.PqEncodeK(vec, codebook)

  /** Reconstruct the (normalized) vector from its PQ codes — the
    * concatenation of the coded centroids. Narrow; used by the
    * round-trip gate and for re-ranking without the original vectors. */
  def pqDecode(codes: Column, codebook: Seq[Seq[Seq[Double]]]): Column =
    flatten(array(codebook.zipWithIndex.map { case (cents, s) =>
      element_at(typedLit(cents), element_at(codes, s + 1) + 1)
    }: _*))

  /** Per-query ADC lookup table: lut(s)(j) = <q_s, C_s,j> over the
    * unit-normalized query. Computed ONCE per query row (queries are
    * the broadcast side), m*ksub doubles each. */
  def pqLut(qvec: Column, codebook: Seq[Seq[Seq[Double]]]): Column =
    graft.ops.TextAnalysis.once(qvec) { v =>
      val dsub = codebook.head.head.size
      array(codebook.zipWithIndex.map { case (cents, s) =>
        val table = typedLit(cents)
        graft.ops.TextAnalysis.once(slice(v, s * dsub + 1, dsub)) { sub =>
          transform(sequence(lit(0), lit(cents.size - 1)), j =>
            dot(sub, element_at(table, j + 1)))
        }
      }: _*)
    }

  /** ADC score = sum of m LUT lookups — approximate cosine of the
    * (unit-normalized) pair. No dot product over the full dimension
    * touches the corpus row. Native [[graft.functions.AdcScore]]
    * kernel: this runs once per (query x candidate) pair — the one
    * place PQ lives or dies on per-row cost. */
  def adcScore(lut: Column, codes: Column, m: Int): Column =
    graft.functions.AdcScore(lut, codes)

  /** Flat PQ top-k: train (or take) a codebook, encode the corpus once
    * (narrow), broadcast the queries with their per-query LUTs, rank
    * candidates by ADC score, and optionally re-rank the top `rerank`
    * ADC candidates by exact cosine (fetched from the corpus row that
    * is ALREADY in hand — no second corpus pass). The corpus never
    * shuffles; per-candidate work is m table lookups instead of a
    * dim-wide dot. Returns (query_id, neighbor_id, cosine, rank) where
    * cosine is exact when rerank > 0, else the ADC approximation. */
  /** Hard ceiling on `rerank`. The top-k heaps grow geometrically (a
    * huge rerank with few real candidates costs nothing there), but
    * the re-rank phase BROADCASTS the candidate id set — queries x
    * rerank rows — back onto the corpus, and above ~1M ids per query
    * that "tiny" broadcast is a driver/executor memory foot-gun, not a
    * ranking improvement (rerank beyond the candidate count changes
    * nothing). "Re-rank everything" callers pass the corpus count,
    * which stays far below this at any corpus an un-sharded broadcast
    * could serve anyway. */
  val MaxRerank: Int = 1 << 20

  private def boundRerank(spark: org.apache.spark.sql.SparkSession,
      rerank: Int, who: String): Int = {
    require(rerank <= MaxRerank,
      s"$who: rerank=$rerank exceeds the $MaxRerank ceiling — the re-rank " +
        "candidate broadcast is sized by rerank, so pass the corpus row " +
        "count for \"re-rank everything\", not a huge constant")
    if (rerank > (1 << 16)) {
      graft.core.Stats.counter(spark, s"$who.rerank_oversized").add(1L)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"$who: rerank=$rerank broadcasts up to rerank ids per query " +
          "back onto the corpus; values beyond the real candidate count " +
          "only grow that broadcast")
    }
    rerank
  }

  def pqTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int = 10, m: Int = 8, ksub: Int = 16, rerank: Int = 0,
      codebookOpt: Option[Seq[Seq[Seq[Double]]]] = None): DataFrame = {
    if (rerank > 0) boundRerank(corpus.sparkSession, rerank, "pq")
    val codebook = codebookOpt.getOrElse(
      trainPq(corpus, corpusId, corpusVec, m, ksub))
    val coded = corpus
      .select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv"))
      .withColumn("codes", pqEncode(unitNorm(col("__cv")), codebook))
    val q = queries
      .select(col(queryId).as("query_id"), col(queryVec).as("__qv"))
      .withColumn("__lut", pqLut(unitNorm(col("__qv")), codebook))
    val scored = coded.join(broadcast(q))
      .withColumn("__adc", adcScore(col("__lut"), col("codes"), codebook.size))
    if (rerank <= 0)
      topKPerKey(scored, "query_id", "neighbor_id", "__adc", k)
        .select(col("query_id"), col("neighbor_id"),
          round(col("__adc"), 6).as("cosine"), col("rank"))
    else {
      // phase 2 mirrors ivfIndexTopK's re-rank: the candidate id set is
      // q*rerank rows (tiny), broadcast back onto the corpus to fetch
      // true vectors — no corpus shuffle, one extra narrow scan.
      val cands = topKPerKey(scored, "query_id", "neighbor_id", "__adc",
        math.max(rerank, k)).select(col("query_id"), col("neighbor_id"))
      val candVecs = corpus
        .select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv"))
        .join(broadcast(cands.select("neighbor_id").distinct()),
          Seq("neighbor_id"), "left_semi")
      val exact = candVecs
        .join(broadcast(cands), Seq("neighbor_id"))
        .join(broadcast(q.select(col("query_id"), col("__qv"))), Seq("query_id"))
        .withColumn("cosine", cosine(col("__qv"), col("__cv")))
      topKPerKey(exact, "query_id", "neighbor_id", "cosine", k)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
    }
  }

  /** Persist a PQ index: the corpus as (id, codes) — the 32x-smaller
    * representation is the whole point; originals stay wherever they
    * live — plus the codebook as a JSON sidecar. One narrow encode
    * pass, no shuffle. */
  def buildPqIndex(corpus: DataFrame, corpusId: String, corpusVec: String,
      uri: String, m: Int = 8, ksub: Int = 16,
      encryptionKey: Option[String] = None): Unit = {
    val spark = corpus.sparkSession
    val codebook = trainPq(corpus, corpusId, corpusVec, m, ksub)
    graft.storage.VFS(spark).delete(uri)
    invalidateGeometry(uri) // the legacy sidecar path is reused in place
    encryptionKey.foreach(id => graft.storage.Encryption.markDir(spark, uri, id))
    corpus.select(col(corpusId).as("neighbor_id"),
        pqEncode(unitNorm(col(corpusVec)), codebook).as("codes"))
      .write.mode("overwrite")
      .options(graft.storage.Encryption.dirWriteOptions(spark, uri))
      .parquet(s"$uri/codes")
    import graft.core.Json._
    val json = JObj(Seq("m" -> JLong(m.toLong), "ksub" -> JLong(ksub.toLong),
      "codebook" -> JArr(codebook.map(sub =>
        JArr(sub.map(c => JArr(c.map(JNum(_))))))))).render
    graft.storage.Encryption.dirJsonWrite(spark, uri, s"$uri/codebook.json", json)
  }

  /** Live codes directory of a persisted PQ index. Maintenance flips
    * generations ([[graft.storage.VersionedDir]], the plain
    * `uri/codes` dir being generation 0): concurrent probes always
    * resolve a complete directory, as with the IVF cells dir. */
  def pqCodesPath(spark: org.apache.spark.sql.SparkSession,
      uri: String): String =
    graft.storage.VersionedDir.resolve(graft.storage.VFS(spark), uri, "codes")

  /** Incrementally add vectors to a persisted PQ index: encode with
    * the EXISTING codebook (batch-sized narrow pass, no retrain, the
    * indexed corpus is never re-read) and append. Same quantization-
    * drift trade as [[appendToIvfIndex]]: if the distribution shifts
    * far from the training sample, rebuild re-trains. */
  def appendToPqIndex(batch: DataFrame, batchId: String, batchVec: String,
      uri: String): Unit = {
    val cb = pqCodebook(batch.sparkSession, uri)
    batch.select(col(batchId).as("neighbor_id"),
        pqEncode(unitNorm(col(batchVec)), cb).as("codes"))
      .write.mode("append")
      .options(graft.storage.Encryption.dirWriteOptions(batch.sparkSession, uri))
      .parquet(pqCodesPath(batch.sparkSession, uri))
  }

  /** Merge a PQ index's accumulated append files into a fresh
    * generation (one pass over the 8-byte codes — cheap by
    * construction), committed via the reader-safe generation flip. The
    * flip is guarded by the live listing taken before the read: an
    * [[appendToPqIndex]] landing in between writes into the generation
    * being retired, so the flip aborts loudly ("quiesce appends")
    * instead of dropping its rows, and the live generation stays. */
  def compactPqIndex(spark: org.apache.spark.sql.SparkSession,
      uri: String): Unit = {
    val fs = graft.storage.VFS(spark)
    val before = graft.storage.VersionedDir.liveListing(fs, uri, "codes")
    val cur = graft.storage.VersionedDir.resolve(fs, uri, "codes")
    val next = graft.storage.VersionedDir.next(fs, uri, "codes")
    val codes = spark.read.parquet(cur)
    // ~4M (id, 8-byte codes) rows per output file ≈ 100 MB
    val nFiles = math.max(1, (codes.count() / 4000000L).toInt)
    codes.repartition(nFiles).write
      .options(graft.storage.Encryption.dirWriteOptions(spark, uri))
      .parquet(next)
    // race injection: the read → guarded-commit window
    graft.storage.FlipHooks.at("pq.compact.beforeCommit")
    graft.storage.VersionedDir.commitGuarded(fs, uri, "codes", next, before)
  }

  /** Load a persisted PQ codebook. */
  def pqCodebook(spark: org.apache.spark.sql.SparkSession,
      uri: String): Seq[Seq[Seq[Double]]] = {
    import graft.core.Json._
    val root = parse(graft.storage.Encryption.dirJsonRead(spark, uri, s"$uri/codebook.json"))
    root.obj("codebook").get.arr.map(sub =>
      sub.arr.map(c => c.arr.map(_.dbl)))
  }

  /** Query a persisted PQ index: ADC over the codes table only — the
    * scan reads (id, codes) rows, never a float vector. Scores are the
    * ADC cosine approximation (re-ranking needs the original vectors,
    * which the index deliberately does not store). */
  def pqIndexTopK(spark: org.apache.spark.sql.SparkSession, uri: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int = 10): DataFrame = {
    val codebook = pqCodebook(spark, uri)
    val coded = spark.read.parquet(pqCodesPath(spark, uri))
    val q = queries
      .select(col(queryId).as("query_id"), col(queryVec).as("__qv"))
      .withColumn("__lut", pqLut(unitNorm(col("__qv")), codebook))
    val scored = coded.join(broadcast(q))
      .withColumn("__adc", adcScore(col("__lut"), col("codes"), codebook.size))
    topKPerKey(scored, "query_id", "neighbor_id", "__adc", k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("__adc"), 6).as("cosine"), col("rank"))
  }

  // ----------------------------------------------- IVF + PQ composition

  /** Persist an IVF+PQ index — the production ANN shape (FAISS's
    * workhorse): vectors assigned to coarse cells (static partition
    * pruning at probe time, like [[buildIvfIndex]]) and stored as PQ
    * codes ONLY (8 bytes each at m=8/ksub=256). A probe then reads
    * ~nprobe/nCentroids of an already-32x-smaller table — the two
    * reductions multiply. Codes are over the unit vectors themselves,
    * NOT per-cell residuals: residual coding buys ADC accuracy at the
    * cost of a per-(query, cell) LUT; with exact re-ranking downstream
    * ([[ivfPqTopK]]'s `rerankFrom`) the simpler single-LUT scheme wins. */
  def buildIvfPqIndex(corpus: DataFrame, corpusId: String, corpusVec: String,
      uri: String, nCentroids: Int = 16, m: Int = 8, ksub: Int = 256,
      encryptionKey: Option[String] = None): Unit = {
    val spark = corpus.sparkSession
    val cents = trainCentroids(corpus, corpusId, corpusVec, nCentroids)
    val codebook = trainPq(corpus, corpusId, corpusVec, m, ksub)
    graft.storage.VFS(spark).delete(uri)
    invalidateGeometry(uri) // the legacy sidecar path is reused in place
    encryptionKey.foreach(id => graft.storage.Encryption.markDir(spark, uri, id))
    corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__v"))
      .withColumn("centroid_id", assignNarrow(col("__v"), cents))
      .select(col("neighbor_id"),
        pqEncode(unitNorm(col("__v")), codebook).as("codes"),
        col("centroid_id"))
      .write.partitionBy("centroid_id").mode("overwrite")
      .options(graft.storage.Encryption.dirWriteOptions(spark, uri))
      .parquet(s"$uri/cells")
    import graft.core.Json._
    graft.storage.Encryption.dirJsonWrite(spark, uri, s"$uri/centroids.json",
      JObj(Seq("centroids" -> JArr(cents.map { case (cid, v) =>
        JObj(Seq("id" -> JLong(cid), "v" -> JArr(v.map(JNum(_)))))
      }))).render)
    graft.storage.Encryption.dirJsonWrite(spark, uri, s"$uri/codebook.json",
      JObj(Seq("m" -> JLong(m.toLong), "ksub" -> JLong(ksub.toLong),
        "codebook" -> JArr(codebook.map(sub =>
          JArr(sub.map(c => JArr(c.map(JNum(_))))))))).render)
  }

  /** Query an IVF+PQ index: probe the nprobe nearest cells (static
    * partition pruning on `centroid_id=` dirs), ADC-score their 8-byte
    * codes against the per-query LUT, and optionally re-rank the ADC
    * top-`rerank` by exact cosine against a caller-provided vector
    * frame (the index stores no vectors — `rerankFrom` is typically
    * the source corpus, touched only by a broadcast semi-join of the
    * tiny candidate id set). With nprobe = nCentroids and
    * rerank >= corpus the result equals exact brute force — the
    * probe-all gate pins that identity. */
  def ivfPqTopK(spark: org.apache.spark.sql.SparkSession, uri: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int = 10, nprobe: Int = 4,
      rerankFrom: Option[(DataFrame, String, String)] = None,
      rerank: Int = 100): DataFrame = {
    if (rerankFrom.isDefined) boundRerank(spark, rerank, "ivfpq")
    val cents = indexCentroids(spark, uri)
    val codebook = pqCodebook(spark, uri)
    val probes = queries
      .select(col(queryId).as("query_id"), col(queryVec).as("__qv"))
      .withColumn("__lut", pqLut(unitNorm(col("__qv")), codebook))
      .withColumn("centroid_id",
        explode(probeNarrow(col("__qv"), cents, nprobe)))
    // Probed cell ids computed DRIVER-SIDE from the raw query vectors
    // (queries are broadcast-small by contract): collecting
    // probes.distinct() instead would evaluate the per-query LUT and
    // probe expansion once here and AGAIN in the join below — an
    // extra Spark job per batch doing the expensive half twice.
    val cellIds = queries
      .select(col(queryVec).cast("array<double>"))
      .collect()
      .flatMap(r => probeDriver(r.getSeq[Double](0), cents, nprobe))
      .distinct.toSeq
    val cells = spark.read.parquet(s"$uri/cells")
      .filter(col("centroid_id").isin(cellIds: _*))
    val scored = cells.join(broadcast(probes), Seq("centroid_id"))
      .withColumn("__adc", adcScore(col("__lut"), col("codes"), codebook.size))
    rerankFrom match {
      case None =>
        topKPerKey(scored, "query_id", "neighbor_id", "__adc", k)
          .select(col("query_id"), col("neighbor_id"),
            round(col("__adc"), 6).as("cosine"), col("rank"))
      case Some((corpus, cid, cvec)) =>
        val cands = topKPerKey(scored, "query_id", "neighbor_id", "__adc",
          math.max(rerank, k)).select(col("query_id"), col("neighbor_id"))
        val candVecs = corpus
          .select(col(cid).as("neighbor_id"), col(cvec).as("__cv"))
          .join(broadcast(cands.select("neighbor_id").distinct()),
            Seq("neighbor_id"), "left_semi")
        val qv = queries.select(col(queryId).as("query_id"),
          col(queryVec).as("__qv"))
        val exact = candVecs
          .join(broadcast(cands), Seq("neighbor_id"))
          .join(broadcast(qv), Seq("query_id"))
          .withColumn("cosine", cosine(col("__qv"), col("__cv")))
        topKPerKey(exact, "query_id", "neighbor_id", "cosine", k)
          .select(col("query_id"), col("neighbor_id"),
            round(col("cosine"), 6).as("cosine"), col("rank"))
    }
  }
}

/** Bounded binary heap over (score, id) keeping the top-k by
  * (score desc, id asc). Root is the WORST kept entry ("worse" =
  * lower score, tie -> larger id), so an incoming candidate either
  * beats the root and replaces it or is discarded in O(1).
  * Parallel primitive arrays — constructed per key inside a
  * mapPartitions task, never serialized.
  *
  * Storage grows GEOMETRICALLY up to k instead of allocating k slots
  * up front: a caller passing a huge k ("re-rank everything",
  * k = corpus count) pays for the candidates actually offered, not
  * for k — the eager version measured 28 s of pure allocation churn
  * at k = 1<<20 with ~400 real candidates per key. */
private final class LongTopKHeap(k: Int) {
  private var scores = new Array[Double](math.min(k, 16))
  private var ids = new Array[Long](math.min(k, 16))
  private var n = 0
  private def ensure(): Unit =
    if (n == scores.length && n < k) {
      val cap = math.min(k, math.max(scores.length * 2, 16))
      scores = java.util.Arrays.copyOf(scores, cap)
      ids = java.util.Arrays.copyOf(ids, cap)
    }
  // is (s1, i1) worse than (s2, i2)?
  private def worse(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
    s1 < s2 || (s1 == s2 && i1 > i2)
  def offer(s: Double, id: Long): Unit =
    if (n < k) {
      ensure()
      var i = n; scores(i) = s; ids(i) = id; n += 1
      while (i > 0) {
        val p = (i - 1) >> 1
        if (worse(scores(i), ids(i), scores(p), ids(p))) { swap(i, p); i = p }
        else return
      }
    } else if (worse(scores(0), ids(0), s, id)) {
      scores(0) = s; ids(0) = id
      var i = 0
      while (true) {
        val l = 2 * i + 1; val r = l + 1; var w = i
        if (l < n && worse(scores(l), ids(l), scores(w), ids(w))) w = l
        if (r < n && worse(scores(r), ids(r), scores(w), ids(w))) w = r
        if (w == i) return
        swap(i, w); i = w
      }
    }
  private def swap(a: Int, b: Int): Unit = {
    val s = scores(a); scores(a) = scores(b); scores(b) = s
    val t = ids(a); ids(a) = ids(b); ids(b) = t
  }
  def drain(): Iterator[(Double, Long)] =
    (0 until n).iterator.map(i => (scores(i), ids(i)))
}
