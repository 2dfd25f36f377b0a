package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import graft.ops.{AsOf, Dedup, Similarity}

/** Plan-shape guards for the operators that must survive a 100x
  * scale-up: these assert the ABSENCE of the anti-patterns that are
  * invisible at test scale but fatal at 100 TB — a window without
  * partitioning (all rows to one task), a shuffle to a single
  * partition on a corpus-sized input, a missing broadcast that turns a
  * small-side join into a full shuffle. Regressions here pass every
  * correctness test and then fall over on a real cluster, which is why
  * they get their own spec. */
class ScaleGuardSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: DataFrame): SparkPlan = Shim.plannedPhysical(df)
  private def windows(df: DataFrame) = plan(df).collect { case w: WindowExec => w }
  private def singlePartExchanges(df: DataFrame) = plan(df).collect {
    case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
  }
  private def broadcasts(df: DataFrame) = plan(df).collect {
    case b: BroadcastExchangeExec => b
  }

  private lazy val docs = (0 until 200).map(i =>
    (i.toLong, s"document number $i with shared template text about topic ${i % 9} " +
      s"and some filler words repeated ${"again " * (i % 4)}"))
    .toDF("doc_id", "text")

  private lazy val vecs = (0 until 200).map(i =>
    (i.toLong, Array.tabulate(16)(j => math.sin(i * 7 + j * 13).toFloat)))
    .toDF("vec_id", "embedding")

  test("crossJoin allowlist: only the two sanctioned sites exist in main sources") {
    // a crossJoin on data-scale frames is the canonical 100 TB
    // anti-pattern; exactly two sites are sanctioned and both are
    // size-bounded by construction:
    //   - Similarity.recallAtK: 1x1 join of two single-row global
    //     aggregates (scalar recall);
    //   - Dense.scala: the lazy dense coordinate grid — the cartesian
    //     product IS the dense domain semantics, quarantined to the
    //     ndarray presentation API (Dense.readDirect), never on a
    //     corpus-data path.
    // anything else must justify itself here.
    val hits = mainSourcesContaining(src =>
      src.contains(".crossJoin(") || src.contains("crossJoin _"))
    assert(hits == Set("src/main/scala/graft/ops/Similarity.scala",
      "src/main/scala/graft/storage/Dense.scala"),
      s"unsanctioned crossJoin site(s): $hits")
  }

  test("CodegenFallback allowlist: every hot-path kernel implements doGenCode") {
    // a CodegenFallback expression breaks the whole-stage-codegen span
    // it sits in AND boxes its inputs per row — fine for a once-per-
    // write sort key, fatal in a per-row scan kernel. Exactly one site
    // is sanctioned: HilbertIndex (write-order key, evaluated once per
    // ingested row on the write path, never in a read/query plan).
    // A new kernel must implement doGenCode or justify itself here.
    val hits = mainSourcesContaining(_.contains("with CodegenFallback"))
    assert(hits == Set("src/main/scala/graft/functions/HilbertIndex.scala"),
      s"unsanctioned CodegenFallback site(s): $hits")
  }

  /** Main-source files whose text matches `pred` — the shared scanner
    * for the source-level allowlist guards (walk stream closed). */
  private def mainSourcesContaining(pred: String => Boolean): Set[String] = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    try {
      walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          if (pred(src)) Some(p.toString) else None
        }.toSet
    } finally walk.close()
  }

  test("minhashNearDups: merge joins pinned once the corpus can't fit a broadcast") {
    // The corpus-side sig/shingle frames are array projections that
    // Catalyst ALWAYS estimates as broadcast-small (ArrayType's
    // defaultSize counts an unbounded array as one element), and the
    // misestimate survives to runtime — at the 100x rehearsal the
    // static plan broadcast a 1 GB+ shingle frame and blew
    // spark.driver.maxResultSize. minhashNearDups therefore gates the
    // broadcast shape on the INPUT relation's honest size; force the
    // over-threshold branch and assert the static plan is pure
    // shuffle-on-key merge joins with zero broadcasts.
    spark.conf.set("graft.dedup.corpusBroadcastMaxBytes", "1")
    val big = try {
      val p = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
      assert(broadcasts(p).isEmpty,
        "corpus-side frame planned as broadcast past the size gate")
      assert(plan(p).toString.contains("SortMergeJoin"))
      // ngramJaccard's corpus gram frames ride the same gate
      val pairs = Seq((1L, 2L), (3L, 4L)).toDF("a", "b")
      val nj = Dedup.ngramJaccard(docs, "doc_id", "text", pairs, n = 2)
      assert(broadcasts(nj).isEmpty,
        "ngramJaccard gram frame planned as broadcast past the size gate")
      p.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    } finally spark.conf.unset("graft.dedup.corpusBroadcastMaxBytes")
    // default branch keeps the bench-scale broadcast fast path, and
    // both shapes produce identical pairs
    val fast = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
    assert(broadcasts(fast).nonEmpty)
    assert(fast.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == big)
  }

  test("near-dup pipelines: no windows, no single-partition shuffles") {
    val pipelines = Seq(
      Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5),
      Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 3),
      Dedup.embeddingNearDups(vecs, "vec_id", "embedding", minCosine = 0.9))
    pipelines.foreach { df =>
      assert(windows(df).isEmpty, s"window in near-dup plan:\n${plan(df)}")
      assert(singlePartExchanges(df).isEmpty,
        s"single-partition shuffle in near-dup plan:\n${plan(df)}")
    }
  }

  test("kNN: query side broadcasts, corpus side never funnels to one partition") {
    val q = vecs.filter($"vec_id" < 5)
    val brute = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      q, "vec_id", "embedding", k = 5)
    assert(broadcasts(brute).nonEmpty, s"no broadcast in brute kNN plan:\n${plan(brute)}")
    assert(singlePartExchanges(brute).isEmpty,
      s"single-partition shuffle in brute kNN plan:\n${plan(brute)}")
    assert(windows(brute).isEmpty, "brute kNN must use bounded heaps, not a rank window")
    val ivf = Similarity.ivfTopK(vecs, "vec_id", "embedding",
      q, "vec_id", "embedding", k = 5, nCentroids = 8, nprobe = 2)
    assert(broadcasts(ivf).nonEmpty, s"no broadcast in IVF plan:\n${plan(ivf)}")
    assert(singlePartExchanges(ivf).isEmpty,
      s"single-partition shuffle in IVF plan:\n${plan(ivf)}")
    assert(windows(ivf).isEmpty, "IVF must use bounded heaps, not a rank window")
  }

  test("PQ: queries+LUTs broadcast, corpus stays narrow, heaps not windows") {
    val q = vecs.filter($"vec_id" < 5)
    val cb = Similarity.trainPq(vecs, "vec_id", "embedding", m = 4, ksub = 8)
    val adc = Similarity.pqTopK(vecs, "vec_id", "embedding",
      q, "vec_id", "embedding", k = 5, codebookOpt = Some(cb))
    assert(broadcasts(adc).nonEmpty, s"no broadcast in PQ ADC plan:\n${plan(adc)}")
    assert(singlePartExchanges(adc).isEmpty,
      s"single-partition shuffle in PQ ADC plan:\n${plan(adc)}")
    assert(windows(adc).isEmpty, "PQ must use bounded heaps, not a rank window")
    val rr = Similarity.pqTopK(vecs, "vec_id", "embedding",
      q, "vec_id", "embedding", k = 5, rerank = 20, codebookOpt = Some(cb))
    assert(broadcasts(rr).nonEmpty && windows(rr).isEmpty &&
      singlePartExchanges(rr).isEmpty,
      s"re-rank phase broke the PQ plan shape:\n${plan(rr)}")
  }

  test("as-of join: single shuffle pass, windows always partitioned") {
    val trades = Seq((1L, 10L, "t1"), (1L, 20L, "t2"), (2L, 15L, "t3"))
      .toDF("uid", "ts", "tag")
    val quotes = Seq((1L, 5L, 1.0), (1L, 18L, 2.0), (2L, 12L, 3.0))
      .toDF("uid", "ts", "px")
    val joined = AsOf.join(trades, quotes, Seq("uid"), "ts", "ts")
    val ws = windows(joined)
    assert(ws.nonEmpty, "as-of is window-based by design")
    ws.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"unpartitioned window in as-of plan:\n${plan(joined)}"))
    assert(singlePartExchanges(joined).isEmpty,
      s"single-partition shuffle in as-of plan:\n${plan(joined)}")
  }

  test("exact dedup: one hash-agg shuffle, no window ranking") {
    val deduped = Dedup.exact(docs.unionByName(docs), Seq("text"), "doc_id")
    assert(windows(deduped).isEmpty,
      s"window in exact-dedup plan (min_by regressed to rank?):\n${plan(deduped)}")
    assert(singlePartExchanges(deduped).isEmpty,
      s"single-partition shuffle in exact-dedup plan:\n${plan(deduped)}")
  }

  test("semantic dedup: ONE cell shuffle, no join-backs, no broadcasts") {
    // the kernel design: vectors ride the single repartition-on-cell;
    // a second exchange or any join would mean the join-back verify
    // formulation (2 corpus-scale joins of the candidate set) crept
    // back in — the 100x rehearsal measured that at 15x the cost
    val pairs = Dedup.semanticNearDups(vecs, "vec_id", "embedding",
      nClusters = 4, minCosine = 0.9)
    val exchanges = plan(pairs).collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1,
      s"semantic dedup must shuffle exactly once (cells):\n${plan(pairs)}")
    assert(broadcasts(pairs).isEmpty && windows(pairs).isEmpty,
      s"unexpected broadcast/window in semantic-dedup plan:\n${plan(pairs)}")
  }

  test("bm25: query terms broadcast, top-k via heaps, no corpus windows") {
    val q = Seq((0L, "document topic"), (1L, "filler template")).toDF("qid", "qtext")
    val top = graft.ops.Search.bm25TopK(docs, "doc_id", "text", q, "qid", "qtext", k = 5)
    // the (term, slot, idf) table rides inside the scoring operator:
    // nothing broadcasts
    assert(plan(top).collect { case e: graft.ops.Bm25ProbeExec => e }.size == 1 &&
      broadcasts(top).isEmpty,
      s"bm25 top-k must score in one Bm25ProbeExec with no broadcast:\n${plan(top)}")
    assert(windows(top).isEmpty,
      s"bm25 top-k must use bounded heaps, not a rank window:\n${plan(top)}")
    assert(singlePartExchanges(top).isEmpty,
      s"single-partition shuffle in bm25 plan:\n${plan(top)}")
  }

  test("crossNearDups: one bucket shuffle spine, no windows, cross-only") {
    val ref = docs.filter($"doc_id" < 20)
      .select(($"doc_id" + 1000L).as("ref_id"), upper($"text").as("text"))
    val pairs = Dedup.crossNearDups(docs, "doc_id", "text",
      ref, "ref_id", "text", threshold = 0.5)
    assert(windows(pairs).isEmpty,
      s"window in cross-dedup plan:\n${plan(pairs)}")
    assert(singlePartExchanges(pairs).isEmpty,
      s"single-partition shuffle in cross-dedup plan:\n${plan(pairs)}")
  }

  test("token mixture sample: one narrow filter pass, no windows or joins") {
    val withTok = docs.withColumn("source",
        concat(lit("s"), (col("doc_id") % 3).cast("string")))
      .withColumn("n_tokens", graft.ops.TextAnalysis.tokenCount(col("text")))
    val kept = graft.ops.Curation.tokenMixtureSample(withTok, "source",
      "doc_id", "n_tokens", Map("s0" -> 0.5, "s1" -> 0.5))
    val p = plan(kept)
    assert(windows(kept).isEmpty && singlePartExchanges(kept).isEmpty,
      s"mixture keep must be a narrow filter:\n$p")
    assert(!p.toString.contains("Join"),
      s"rates are literals — no join may appear:\n$p")
  }

  test("packedTokenIds: ids move only in the pack-co-locating shuffle") {
    val packs = graft.ops.Packing.packedTokenIds(docs, "doc_id", "text", 64L)
    assert(windows(packs).isEmpty,
      s"packing must not rank with windows:\n${plan(packs)}")
    assert(singlePartExchanges(packs).isEmpty,
      s"single-partition shuffle in packed-ids plan:\n${plan(packs)}")
  }

  test("MVCC resolution plans ONE scan per schema version, not per fragment") {
    import graft.storage.ArrayTable
    import spark.implicits._
    val uri = TestSession.tmpDir("resolution-plan")
    val seed = Seq.tabulate(8)(i => (i.toLong, i * 1.0)).toDF("k", "v")
    ArrayTable.ingest(spark, seed, uri, Seq("k"), overwrite = true,
      tsOpt = Some(1000L))
    for (i <- 1 until 8)
      ArrayTable.write(spark, seed.withColumn("k", $"k" + lit(i * 8L)), uri,
        tsOpt = Some(1000L + i))
    ArrayTable.delete(spark, uri, "v < 0.5", tsOpt = Some(5000L))
    val read = ArrayTable.read(spark, uri) // tombstone forces resolution
    assert(read.count() == 8 * 8 - 8)
    val physical = read.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(physical).length
    assert(scans == 1,
      s"8 same-version fragments must share ONE multi-path scan " +
        s"(r13: the per-fragment union cost 80.8 s to plan at 1k " +
        s"fragments), got $scans scans:\n$physical")
  }

  test("stratified sample: picked ids broadcast, corpus never re-shuffles") {
    val sampled = graft.ops.Curation.stratifiedSample(docs, "text", "doc_id", 3)
    assert(broadcasts(sampled).nonEmpty,
      s"picked-id semi-join should broadcast (|classes|*n rows):\n${plan(sampled)}")
    assert(windows(sampled).isEmpty,
      s"stratified sample must use bounded heaps, not a window:\n${plan(sampled)}")
    assert(singlePartExchanges(sampled).isEmpty,
      s"single-partition shuffle in stratified-sample plan:\n${plan(sampled)}")
  }
}
