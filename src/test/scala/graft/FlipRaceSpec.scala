package graft

import graft.ops.{DedupIndex, Search, Similarity}
import graft.storage.FlipHooks
import org.apache.spark.sql.functions._

/** DETERMINISTIC flip-during-read interleavings for all three
  * persisted indexes, via [[graft.storage.FlipHooks]] pause points.
  * The concurrency rehearsal samples these windows under real timing;
  * this spec FORCES each one, so the reader-safety contracts are
  * pinned, not sampled:
  *
  *  - a reader that resolved the INC tier pre-flip and the base
  *    post-flip sees appended rows DUPLICATED, never missing (the
  *    r17 tier-ordering fix, now exercised on demand);
  *  - a probe landing inside a major's base-flip → inc-reset window
  *    sees both tiers' copies and still returns the exact result;
  *  - a search probe inside the commit → cleanup window reads the
  *    rewritten genstats with retired grace dirs still on disk (the
  *    r18 exclusion-carry fix).
  */
class FlipRaceSpec extends SparkSpec {
  import spark.implicits._

  private def docText(salt: String, i: Int): String =
    s"$salt document $i " +
      (0 until 12).map(j => s"w${salt}${i}x$j").mkString(" ")

  private def mkCorpus(n: Int, salt: String) =
    (0 until n).map(i => (i.toLong, docText(salt, i))).toDF("doc_id", "text")

  private def ndMatches(uri: String, b: org.apache.spark.sql.DataFrame) =
    DedupIndex.probe(b, "doc_id", "text", uri, threshold = 0.5)
      .select("id", "match_id").as[(Long, Long)].collect().toSet

  test("dedup: major forced between a probe's inc and base resolution " +
    "— appended rows duplicate, never vanish") {
    val uri = TestSession.tmpDir("fliprace-nd-read")
    DedupIndex.build(mkCorpus(40, "alpha"), "doc_id", "text", uri)
    DedupIndex.append(Seq((500L, docText("alpha", 7)))
      .toDF("doc_id", "text"), "doc_id", "text", uri)
    val nearDup = Seq((900L, docText("alpha", 7) + " zz")).toDF("doc_id", "text")
    val expected = ndMatches(uri, nearDup)
    assert(expected == Set((900L, 7L), (900L, 500L)), expected.toString)
    // force the EXACT window the r17 ordering fix closed: the probe
    // resolves the (old) inc tier, a full major flips base + resets
    // inc, the probe then resolves the NEW base. Rows from the append
    // now live in both resolved tiers — the pair distinct heals the
    // duplication, and nothing may vanish (base-first resolution would
    // pair the OLD base with the NEW empty inc and lose doc 500).
    var fired = false
    FlipHooks.setOnce("dedup.read.betweenResolves") {
      DedupIndex.compact(spark, uri); fired = true
    }
    try {
      val inWindow = ndMatches(uri, nearDup)
      assert(fired, "pause point never fired")
      assert(inWindow == expected,
        s"probe across the flip diverged: $inWindow vs $expected")
    } finally FlipHooks.clear()
    // steady state after the forced flip is unchanged
    assert(ndMatches(uri, nearDup) == expected)
  }

  test("dedup: probes forced inside BOTH compact windows (base flipped, " +
    "inc not yet reset) return the exact result") {
    val uri = TestSession.tmpDir("fliprace-nd-window")
    DedupIndex.build(mkCorpus(40, "alpha"), "doc_id", "text", uri)
    DedupIndex.append(Seq((500L, docText("alpha", 7)))
      .toDF("doc_id", "text"), "doc_id", "text", uri)
    val nearDup = Seq((900L, docText("alpha", 7) + " zz")).toDF("doc_id", "text")
    val expected = ndMatches(uri, nearDup)
    var afterData: Option[Set[(Long, Long)]] = None
    var afterSigs: Option[Set[(Long, Long)]] = None
    FlipHooks.setOnce("dedup.compact.afterDataFlip") {
      afterData = Some(ndMatches(uri, nearDup))
    }
    FlipHooks.setOnce("dedup.compact.afterSigsFlip") {
      afterSigs = Some(ndMatches(uri, nearDup))
    }
    try {
      DedupIndex.compact(spark, uri)
      assert(afterData.contains(expected),
        s"probe in the data-flip window diverged: $afterData vs $expected")
      assert(afterSigs.contains(expected),
        s"probe in the sigs-flip window diverged: $afterSigs vs $expected")
    } finally FlipHooks.clear()
    assert(ndMatches(uri, nearDup) == expected)
  }

  test("ivf: major forced between a query's inc and base resolution — " +
    "appended neighbors stay visible") {
    val uri = TestSession.tmpDir("fliprace-ivf-read")
    val vecs = (0 until 200).map(i =>
      (i.toLong, Array.tabulate(16)(j => math.sin(i * 7 + j * 13).toFloat)))
      .toDF("vec_id", "embedding")
    Similarity.buildIvfIndex(vecs, "vec_id", "embedding", uri, nCentroids = 8)
    // append one vector identical to vec 3's — it must be the query's
    // other top hit from the moment it lands
    val extra = Seq((900L,
      Array.tabulate(16)(j => math.sin(3 * 7 + j * 13).toFloat)))
      .toDF("vec_id", "embedding")
    Similarity.appendToIvfIndex(extra, "vec_id", "embedding", uri)
    val q = vecs.filter($"vec_id" === 3L)
    def hits() = Similarity.ivfIndexTopK(spark, uri, q, "vec_id", "embedding",
        k = 4, nprobe = 8)
      .select("neighbor_id").as[Long].collect().toSet
    val expected = hits()
    assert(expected.contains(900L), s"appended vec not probed: $expected")
    var fired = false
    FlipHooks.setOnce("ivf.read.betweenResolves") {
      Similarity.compactIvfIndex(spark, uri); fired = true
    }
    try {
      val inWindow = hits()
      assert(fired, "pause point never fired")
      // duplicates can occupy extra top-k slots inside the window
      // (documented transient) — the DISTINCT hit set may only shrink
      // toward the strongest hits, never lose the appended neighbor
      assert(inWindow.contains(900L) && inWindow.contains(3L),
        s"neighbor lost across the forced flip: $inWindow")
    } finally FlipHooks.clear()
    assert(hits() == expected)
  }

  test("ivf: query forced inside the cells-flip → inc-reset window") {
    val uri = TestSession.tmpDir("fliprace-ivf-window")
    val vecs = (0 until 200).map(i =>
      (i.toLong, Array.tabulate(16)(j => math.sin(i * 7 + j * 13).toFloat)))
      .toDF("vec_id", "embedding")
    Similarity.buildIvfIndex(vecs, "vec_id", "embedding", uri, nCentroids = 8)
    val extra = Seq((900L,
      Array.tabulate(16)(j => math.sin(3 * 7 + j * 13).toFloat)))
      .toDF("vec_id", "embedding")
    Similarity.appendToIvfIndex(extra, "vec_id", "embedding", uri)
    val q = vecs.filter($"vec_id" === 3L)
    def hitSet() = Similarity.ivfIndexTopK(spark, uri, q, "vec_id", "embedding",
        k = 4, nprobe = 8)
      .select("neighbor_id").as[Long].collect().toSet
    var inWindow: Option[Set[Long]] = None
    FlipHooks.setOnce("ivf.compact.afterCellsFlip") {
      inWindow = Some(hitSet())
    }
    try {
      Similarity.compactIvfIndex(spark, uri)
      assert(inWindow.exists(s => s.contains(900L) && s.contains(3L)),
        s"neighbor lost inside the flip window: $inWindow")
    } finally FlipHooks.clear()
  }

  test("search: probe forced inside the commit → cleanup window reads " +
    "retired grace dirs as excluded (exclusion carry)") {
    val uri = TestSession.tmpDir("fliprace-search")
    val docs = mkCorpus(20, "alpha")
    Search.buildIndex(docs, "doc_id", "text", uri, buckets = 8)
    val b1 = Seq((50L, docText("alpha", 3) + " extra")).toDF("doc_id", "text")
    Search.appendBatchToIndex(b1, "doc_id", "text", uri, "batch-1")
    Search.compactIndex(spark, uri) // major #1: batch-1 folded, grace dir
    val q = Seq((0L, docText("alpha", 3))).toDF("qid", "qtext")
    val cols = Seq($"query_id", $"doc_id", $"score", $"rank")
    def topk() = Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 5)
      .select(cols: _*).collect().toSet
    val expected = topk()
    // major #2 retires batch-1 (excluded only via the OLD genstats);
    // the probe fires after the new genstats + commit but BEFORE the
    // retired dirs are deleted — exactly the crash/concurrent-probe
    // exposure the r18 exclusion-carry fix closes
    var inWindow: Option[Set[org.apache.spark.sql.Row]] = None
    val b2 = Seq((51L, docText("alpha", 5) + " fresh")).toDF("doc_id", "text")
    Search.appendBatchToIndex(b2, "doc_id", "text", uri, "batch-2")
    val expected2 = Search.bm25TopK(
      docs.unionByName(b1).unionByName(b2), "doc_id", "text",
      q, "qid", "qtext", k = 5).select(cols: _*).collect().toSet
    FlipHooks.setOnce("search.compact.afterFlip") {
      inWindow = Some(topk())
    }
    try {
      Search.compactIndex(spark, uri)
      assert(inWindow.contains(expected2),
        s"probe inside the cleanup window diverged:\n$inWindow\nvs\n$expected2")
    } finally FlipHooks.clear()
    assert(topk() == expected2)
  }

  private def causeChain(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(16).toSeq

  test("grace boundary (slow prober): a dedup probe plan resolved " +
    "pre-fold survives exactly `grace`=2 subsequent minor folds") {
    val uri = TestSession.tmpDir("fliprace-grace-nd")
    DedupIndex.build(mkCorpus(40, "alpha"), "doc_id", "text", uri)
    DedupIndex.append(Seq((500L, docText("alpha", 7)))
      .toDF("doc_id", "text"), "doc_id", "text", uri)
    val nearDup = Seq((900L, docText("alpha", 7) + " zz")).toDF("doc_id", "text")
    // the plan pins its resolved inc generation at construction — this
    // is the "slow prober": materialization happens fold cadences later
    def slowPlan() =
      DedupIndex.candidatePairsFor(nearDup, "doc_id", "text", uri)
    def foldOnce(i: Int): Unit = {
      DedupIndex.append(Seq((600L + i, docText("beta", i)))
        .toDF("doc_id", "text"), "doc_id", "text", uri)
      DedupIndex.minorCompact(spark, uri)
    }
    // within the window: TWO folds after resolving (grace = 2), the
    // pinned generation is still on disk and the probe completes
    val p1 = slowPlan()
    foldOnce(1); foldOnce(2)
    assert(p1.count() >= 1, "probe within the grace window failed")
    // beyond the window: a THIRD fold retires the pinned generation —
    // the slow prober fails LOUDLY (file gone), never silently wrong.
    // This pins the documented contract: finish within `grace`
    // maintenance cycles of resolving, or re-resolve and retry.
    val p2 = slowPlan()
    foldOnce(3); foldOnce(4); foldOnce(5)
    val e = intercept[Throwable] { p2.count() }
    assert(causeChain(e).exists(c =>
      c.isInstanceOf[java.io.FileNotFoundException] ||
        Option(c.getMessage).exists(_.contains("FileNotFound")) ||
        Option(c.getMessage).exists(_.contains("does not exist"))),
      s"expected a loud missing-file failure beyond grace, got: $e")
    // a fresh resolution recovers immediately
    assert(slowPlan().count() >= 1)
  }

  test("grace boundary (slow prober): an ivf inc-tier plan survives " +
    "exactly grace=2 minor folds, like the dedup tiers") {
    val uri = TestSession.tmpDir("fliprace-grace-ivf")
    val vecs = (0 until 200).map(i =>
      (i.toLong, Array.tabulate(16)(j => math.sin(i * 7 + j * 13).toFloat)))
      .toDF("vec_id", "embedding")
    Similarity.buildIvfIndex(vecs, "vec_id", "embedding", uri, nCentroids = 8)
    def appendOne(i: Long): Unit = Similarity.appendToIvfIndex(
      Seq((900L + i, Array.tabulate(16)(j => math.sin(i * 11 + j * 5).toFloat)))
        .toDF("vec_id", "embedding"), "vec_id", "embedding", uri)
    appendOne(0)
    val q = vecs.filter($"vec_id" === 3L)
    // the plan pins its resolved cells_inc generation at construction
    def slowPlan() = Similarity.ivfIndexTopK(spark, uri, q, "vec_id",
      "embedding", k = 4, nprobe = 8)
    val p1 = slowPlan()
    appendOne(1); Similarity.minorCompactIvfIndex(spark, uri)
    appendOne(2); Similarity.minorCompactIvfIndex(spark, uri)
    assert(p1.count() >= 1, "ivf probe within the grace window failed")
    val p2 = slowPlan()
    (3L to 5L).foreach { i =>
      appendOne(i); Similarity.minorCompactIvfIndex(spark, uri) }
    val e = intercept[Throwable] { p2.count() }
    assert(causeChain(e).exists(c =>
      c.isInstanceOf[java.io.FileNotFoundException] ||
        Option(c.getMessage).exists(_.contains("does not exist"))),
      s"expected a loud missing-file failure beyond grace, got: $e")
    assert(slowPlan().count() >= 1)
  }

  test("grace boundary (slow prober): a search probe plan survives one " +
    "fold cadence, fails loudly at the second") {
    val uri = TestSession.tmpDir("fliprace-grace-search")
    val docs = mkCorpus(20, "alpha")
    Search.buildIndex(docs, "doc_id", "text", uri, buckets = 8)
    val q = Seq((0L, docText("alpha", 3))).toDF("qid", "qtext")
    def append(i: Int): Unit = Search.appendBatchToIndex(
      Seq((50L + i, docText("alpha", 3) + s" extra$i")).toDF("doc_id", "text"),
      "doc_id", "text", uri, s"batch-$i")
    append(1); append(2)
    // plan pins the pending batch dirs it listed (leaf-dir selection)
    val slow = Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 5)
    // fold 1 subsumes batch-1/2 but keeps them one grace cycle: the
    // slow prober still completes
    Search.minorCompactIndex(spark, uri)
    assert(slow.count() >= 1, "probe within the one-cycle grace failed")
    val slow2 = Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 5)
    // fold 2 retires the grace dirs — beyond the contract, loud failure
    append(3); append(4)
    Search.minorCompactIndex(spark, uri)
    Search.minorCompactIndex(spark, uri)
    val e = intercept[Throwable] { slow2.count() }
    assert(causeChain(e).exists(c =>
      c.isInstanceOf[java.io.FileNotFoundException] ||
        Option(c.getMessage).exists(_.contains("does not exist"))),
      s"expected a loud missing-file failure beyond grace, got: $e")
    assert(Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 5)
      .count() >= 1)
  }

  test("search: major forced between a probe's base resolution and its " +
    "inc listing — the pre-flip view stays consistent (grace)") {
    val uri = TestSession.tmpDir("fliprace-search-read")
    val docs = mkCorpus(20, "alpha")
    Search.buildIndex(docs, "doc_id", "text", uri, buckets = 8)
    val b1 = Seq((50L, docText("alpha", 3) + " extra")).toDF("doc_id", "text")
    Search.appendBatchToIndex(b1, "doc_id", "text", uri, "batch-1")
    val q = Seq((0L, docText("alpha", 3))).toDF("qid", "qtext")
    val cols = Seq($"query_id", $"doc_id", $"score", $"rank")
    def topk() = Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 5)
      .select(cols: _*).collect().toSet
    val expected = topk()
    var fired = false
    FlipHooks.setOnce("search.read.afterBaseResolve") {
      Search.compactIndex(spark, uri); fired = true
    }
    try {
      val inWindow = topk()
      assert(fired, "pause point never fired")
      assert(inWindow == expected,
        s"pre-flip view inconsistent across the forced major: $inWindow")
    } finally FlipHooks.clear()
    assert(topk() == expected)
  }

  test("dedup: a real append inside the minor fold's read → commit " +
    "window aborts the fold loudly; nothing is lost, a re-run folds") {
    val uri = TestSession.tmpDir("fliprace-fold-nd")
    DedupIndex.build(mkCorpus(40, "alpha"), "doc_id", "text", uri)
    def appendOne(id: Long, salt: String): Unit = DedupIndex.append(
      Seq((id, docText(salt, id.toInt))).toDF("doc_id", "text"),
      "doc_id", "text", uri)
    appendOne(501L, "beta"); appendOne(502L, "beta")
    val incBefore = DedupIndex.liveDataIncPath(spark, uri)
    var fired = false
    FlipHooks.setOnce("tiered.data.fold.beforeCommit") {
      appendOne(600L, "gamma"); fired = true
    }
    try {
      val e = intercept[RuntimeException] { DedupIndex.minorCompact(spark, uri) }
      assert(fired, "pause point never fired")
      assert(e.getMessage.contains("quiesce"), e.getMessage)
    } finally FlipHooks.clear()
    assert(DedupIndex.liveDataIncPath(spark, uri) == incBefore,
      "the aborted fold moved the live inc generation")
    assert(DedupIndex.readSigsAll(spark, uri).count() == 43L)
    val dataRows = DedupIndex.readDataAll(spark, uri).count()
    DedupIndex.minorCompact(spark, uri)
    assert(DedupIndex.liveDataIncPath(spark, uri) != incBefore, "re-run did not fold")
    assert(DedupIndex.readSigsAll(spark, uri).count() == 43L)
    assert(DedupIndex.readDataAll(spark, uri).count() == dataRows)
  }

  test("ivf: a real append inside the minor fold's read → commit window " +
    "aborts the fold loudly; nothing is lost, a re-run folds") {
    val uri = TestSession.tmpDir("fliprace-fold-ivf")
    val vecs = (0 until 200).map(i =>
      (i.toLong, Array.tabulate(16)(j => math.sin(i * 7 + j * 13).toFloat)))
      .toDF("vec_id", "embedding")
    Similarity.buildIvfIndex(vecs, "vec_id", "embedding", uri, nCentroids = 8)
    def appendOne(i: Long): Unit = Similarity.appendToIvfIndex(
      Seq((900L + i, Array.tabulate(16)(j => math.sin(i * 11 + j * 5).toFloat)))
        .toDF("vec_id", "embedding"), "vec_id", "embedding", uri)
    appendOne(0); appendOne(1)
    val incBefore = Similarity.cellsIncPath(spark, uri)
    var fired = false
    FlipHooks.setOnce("tiered.cells.fold.beforeCommit") {
      appendOne(2); fired = true
    }
    try {
      val e = intercept[RuntimeException] {
        Similarity.minorCompactIvfIndex(spark, uri)
      }
      assert(fired, "pause point never fired")
      assert(e.getMessage.contains("quiesce"), e.getMessage)
    } finally FlipHooks.clear()
    assert(Similarity.cellsIncPath(spark, uri) == incBefore,
      "the aborted fold moved the live inc generation")
    assert(Similarity.readCellsAll(spark, uri).count() == 203L)
    Similarity.minorCompactIvfIndex(spark, uri)
    assert(Similarity.cellsIncPath(spark, uri) != incBefore, "re-run did not fold")
    assert(Similarity.readCellsAll(spark, uri).count() == 203L)
  }

  test("pq: a real append inside the compaction's read → commit window " +
    "aborts the flip loudly; nothing is lost, a re-run compacts") {
    val uri = TestSession.tmpDir("fliprace-compact-pq")
    def vecs(ids: Seq[Long]) = ids.map(i =>
      (i, Array.tabulate(16)(j => math.sin(i * 7 + j * 13).toFloat))).toDF("vec_id", "embedding")
    Similarity.buildPqIndex(vecs(0L until 200L), "vec_id", "embedding", uri, m = 4, ksub = 8)
    def appendOne(i: Long): Unit =
      Similarity.appendToPqIndex(vecs(Seq(900L + i)), "vec_id", "embedding", uri)
    def codeRows() = spark.read.parquet(Similarity.pqCodesPath(spark, uri)).count()
    appendOne(0); appendOne(1)
    val liveBefore = Similarity.pqCodesPath(spark, uri)
    var fired = false
    FlipHooks.setOnce("pq.compact.beforeCommit") {
      appendOne(2); fired = true
    }
    try {
      val e = intercept[RuntimeException] { Similarity.compactPqIndex(spark, uri) }
      assert(fired, "pause point never fired")
      assert(e.getMessage.contains("quiesce"), e.getMessage)
    } finally FlipHooks.clear()
    assert(Similarity.pqCodesPath(spark, uri) == liveBefore,
      "the aborted compaction moved the live generation")
    assert(codeRows() == 203L)
    Similarity.compactPqIndex(spark, uri)
    assert(Similarity.pqCodesPath(spark, uri) != liveBefore, "re-run did not compact")
    assert(codeRows() == 203L)
  }
}
