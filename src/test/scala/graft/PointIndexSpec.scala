package graft

import graft.ops.DedupIndex
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim

/** Lifecycle + parity of [[graft.storage.PointIndex]] — the
  * executor-resident point-lookup serving of the dedup index's base
  * tier (the probe path of long-id tiers). Every claim the scan path
  * earned stays pinned here against the point path: exact pair parity,
  * generation-flip invalidation, inc-leg freshness, the
  * no-base-tier-scan plan shape, and the scan fallback for unservable
  * schemas. The scan path is reached by input: a string-id twin of a
  * corpus, which PointIndex cannot serve. */
class PointIndexSpec extends SparkSpec {
  import spark.implicits._

  private def docText(salt: String, i: Int): String =
    s"$salt document $i " +
      (0 until 12).map(j => s"w${salt}${i}x$j").mkString(" ")

  private def mkCorpus(n: Int, salt: String) =
    (0 until n).map(i => (i.toLong, docText(salt, i))).toDF("doc_id", "text")

  /** `df` with its long `doc_id` cast to string. */
  private def asStrIds(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("doc_id", col("doc_id").cast("string"))

  /** Probe pairs, ids read back as longs. `strIds` probes with the
    * string-id twin of `batch` (for an index built over string ids). */
  private def matches(uri: String, batch: org.apache.spark.sql.DataFrame,
      strIds: Boolean = false) =
    DedupIndex.probe(if (strIds) asStrIds(batch) else batch, "doc_id", "text",
        uri, threshold = 0.5)
      .select(col("id").cast("long"), col("match_id").cast("long"))
      .as[(Long, Long)].collect().toSet

  test("point path is the default plan — no base-tier file scan — and " +
    "its pairs match the scan path exactly") {
    val uri = TestSession.tmpDir("pointindex-parity")
    DedupIndex.build(mkCorpus(50, "alpha"), "doc_id", "text", uri)
    // the same corpus with string ids takes the scan path; signatures
    // depend only on text, so its pairs must map 1:1 onto the point
    // path's
    val strUri = TestSession.tmpDir("pointindex-parity-strid")
    DedupIndex.build(asStrIds(mkCorpus(50, "alpha")), "doc_id", "text", strUri)
    // batch: near-dups of docs 3 and 7 + one fresh doc
    val batch = Seq(
      (900L, docText("alpha", 3) + " zz"),
      (901L, docText("alpha", 7) + " qq"),
      (902L, "entirely fresh content block qwerty asdf zxcv"))
      .toDF("doc_id", "text")
    val planned = Shim.plannedPhysical(
      DedupIndex.candidatePairsFor(batch, "doc_id", "text", uri))
    // the base tier must NOT appear as a file scan: it is served from
    // the executor-resident generation maps (an RDD scan)
    val tierScans = planned.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.metadata.get("Location").exists(_.contains("pointindex-parity")) => s
    }
    assert(tierScans.isEmpty,
      s"base tier still scanned under the point path:\n$planned")
    val strPlanned = Shim.plannedPhysical(
      DedupIndex.candidatePairsFor(asStrIds(batch), "doc_id", "text", strUri))
    assert(strPlanned.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.metadata.get("Location").exists(_.contains("pointindex-parity-strid")) => s
    }.nonEmpty, s"string-id twin did not scan its tier:\n$strPlanned")
    val viaPoint = matches(uri, batch)
    assert(viaPoint.contains((900L, 3L)) && viaPoint.contains((901L, 7L)),
      viaPoint.toString)
    assert(!viaPoint.exists(_._1 == 902L), "fresh doc matched corpus")
    val viaScan = matches(strUri, batch, strIds = true)
    assert(viaPoint == viaScan,
      s"point/scan divergence: only-point=${viaPoint -- viaScan} " +
        s"only-scan=${viaScan -- viaPoint}")
  }

  test("append rides the fresh inc leg; a major flip refreshes the " +
    "served generation (never a stale map)") {
    val uri = TestSession.tmpDir("pointindex-flip")
    DedupIndex.build(mkCorpus(40, "beta"), "doc_id", "text", uri)
    val probe = Seq((900L, docText("beta", 7) + " zz")).toDF("doc_id", "text")
    assert(matches(uri, probe).contains((900L, 7L))) // map populated
    // appended rows must be visible IMMEDIATELY (inc leg is a fresh
    // scan, not part of the once-per-generation map)
    DedupIndex.append(Seq((500L, docText("beta", 7)))
      .toDF("doc_id", "text"), "doc_id", "text", uri)
    val withInc = matches(uri, probe)
    assert(withInc.contains((900L, 500L)),
      s"appended doc invisible to the point probe: $withInc")
    // major compact folds inc into a NEW base generation: the served
    // map must refresh (path-keyed), keeping both matches
    DedupIndex.compact(spark, uri)
    val afterFlip = matches(uri, probe)
    assert(afterFlip.contains((900L, 7L)) && afterFlip.contains((900L, 500L)),
      s"stale generation map after major flip: $afterFlip")
  }

  test("in-place rebuild invalidates the served legacy generation") {
    val uri = TestSession.tmpDir("pointindex-rebuild")
    DedupIndex.build(mkCorpus(40, "gamma"), "doc_id", "text", uri)
    val probeGamma = Seq((901L, docText("gamma", 3))).toDF("doc_id", "text")
    assert(matches(uri, probeGamma).nonEmpty) // map populated
    // rebuild at the SAME uri over a disjoint corpus: legacy generation
    // paths are identical, so only explicit invalidation keeps the
    // probe off the pre-rebuild map
    DedupIndex.build(mkCorpus(40, "delta"), "doc_id", "text", uri)
    assert(matches(uri, probeGamma).isEmpty,
      "probe served pre-rebuild rows from a stale generation map")
    val probeDelta = Seq((902L, docText("delta", 3))).toDF("doc_id", "text")
    assert(matches(uri, probeDelta).exists(_._2 == 3L))
  }

  test("serving traffic is counted: miss on first touch, hits after, " +
    "refresh on a flip") {
    val uri = TestSession.tmpDir("pointindex-counters")
    DedupIndex.build(mkCorpus(30, "eps"), "doc_id", "text", uri)
    val probe = Seq((904L, docText("eps", 5))).toDF("doc_id", "text")
    graft.core.Stats.reset()
    matches(uri, probe)
    val misses0 = graft.core.Stats.counterValue("pointindex.misses")
    assert(misses0 >= 1L, graft.core.Stats.countersSnapshot.toString)
    matches(uri, probe)
    assert(graft.core.Stats.counterValue("pointindex.hits") >= 1L)
    DedupIndex.append(Seq((500L, docText("eps", 7)))
      .toDF("doc_id", "text"), "doc_id", "text", uri)
    DedupIndex.compact(spark, uri)
    matches(uri, probe)
    assert(graft.core.Stats.counterValue("pointindex.refreshes") >= 1L,
      graft.core.Stats.countersSnapshot.toString)
  }

  test("non-long ids are unservable: probe falls back to the scan path " +
    "and still matches") {
    val uri = TestSession.tmpDir("pointindex-strid")
    val corpus = (0 until 30)
      .map(i => (s"doc-$i", docText("zeta", i))).toDF("doc_id", "text")
    DedupIndex.build(corpus, "doc_id", "text", uri)
    val batch = Seq(("probe-1", docText("zeta", 4) + " zz")).toDF("doc_id", "text")
    val m = DedupIndex.probe(batch, "doc_id", "text", uri, threshold = 0.5)
      .select("id", "match_id").as[(String, String)].collect().toSet
    assert(m.contains(("probe-1", "doc-4")), m.toString)
  }

  test("a major flip WARMS the new generation's maps: the first " +
    "post-flip probe is a hit, never a rebuild") {
    val uri = TestSession.tmpDir("pointindex-warm")
    DedupIndex.build(mkCorpus(40, "theta"), "doc_id", "text", uri)
    val probe = Seq((900L, docText("theta", 7) + " zz")).toDF("doc_id", "text")
    assert(matches(uri, probe).contains((900L, 7L))) // maps populated
    DedupIndex.append(Seq((500L, docText("theta", 7)))
      .toDF("doc_id", "text"), "doc_id", "text", uri)
    DedupIndex.compact(spark, uri)
    // the flip schedules an async warm; await it, then the first probe
    // against the new generation must find warm maps (hits only)
    val f = graft.storage.PointIndex.lastWarm
    assert(f != null, "compact scheduled no warm")
    f.get(120, java.util.concurrent.TimeUnit.SECONDS)
    graft.core.Stats.reset()
    assert(matches(uri, probe).contains((900L, 500L)))
    val snap = graft.core.Stats.countersSnapshot
    assert(snap.getOrElse("pointindex.hits", 0L) >= 2L, snap.toString)
    assert(snap.getOrElse("pointindex.misses", 0L) == 0L &&
      snap.getOrElse("pointindex.refreshes", 0L) == 0L,
      s"first post-flip probe rebuilt instead of riding the warm: $snap")
  }

  test("per-probe broadcasts are leased and destroyed: created == " +
    "destroyed across a probe loop (no accumulation)") {
    val uri = TestSession.tmpDir("pointindex-lease")
    DedupIndex.build(mkCorpus(40, "iota"), "doc_id", "text", uri)
    val probe = Seq((900L, docText("iota", 3) + " zz")).toDF("doc_id", "text")
    matches(uri, probe) // maps + fixtures warm
    graft.core.Stats.reset()
    (0 until 5).foreach(_ => matches(uri, probe))
    val snap = graft.core.Stats.countersSnapshot
    val created = snap.getOrElse("pointindex.bcast_created", 0L)
    // both probe terms (bucket + sig lookups) ride leased broadcasts
    assert(created >= 10L, snap.toString)
    assert(created == snap.getOrElse("pointindex.bcast_destroyed", 0L),
      s"leaked probe broadcasts: $snap")
  }

  test("malformed-tier null handling matches the scan path's effective " +
    "filter: null buckets/bands drop, null ids survive as null rows") {
    val path = TestSession.tmpDir("pointindex-nulls")
    val rows = Seq(
      (java.lang.Integer.valueOf(1), java.lang.Long.valueOf(10L), java.lang.Long.valueOf(100L)),
      (java.lang.Integer.valueOf(1), java.lang.Long.valueOf(10L), null.asInstanceOf[java.lang.Long]),
      (null.asInstanceOf[java.lang.Integer], java.lang.Long.valueOf(10L), java.lang.Long.valueOf(101L)),
      (java.lang.Integer.valueOf(2), null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(102L)))
      .toDF("band", "bucket", "id")
    rows.write.parquet(path)
    val keys = Seq((10L, 1)).toDF("bucket", "band")
    val served = graft.storage.PointIndex
      .bucketRows(spark, s"$path#t", path, keys).get.collect()
    // probed (band=1, bucket=10): the real id AND the null-id row (the
    // scan path keeps it — it counts toward over-cap groups); the
    // null-band and null-bucket rows are invisible on both paths
    assert(served.length == 2, served.mkString(";"))
    assert(served.exists(r => !r.isNullAt(2) && r.getLong(2) == 100L))
    assert(served.exists(r => r.isNullAt(2)), served.mkString(";"))
  }

  test("sig tier with null ELEMENTS inside an array builds and serves " +
    "(no NPE; null slots read as 0, matching the columnar scan)") {
    val path = TestSession.tmpDir("pointindex-signulls")
    Seq((1L, Seq[java.lang.Long](7L, null, 3L)),
        (2L, Seq[java.lang.Long](9L)))
      .toDF("id", "sig").write.parquet(path)
    val served = graft.storage.PointIndex
      .sigRows(spark, s"$path#s", path, Seq(1L, 2L).toDF("id")).get
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(served(1L) == List(7L, 0L, 3L), served.toString)
    assert(served(2L) == List(9L))
  }

  test("shuffle lookup mode (giant batches over the broadcast cap) " +
    "routes to the same shards and matches broadcast mode exactly") {
    val uri = TestSession.tmpDir("pointindex-shufflemode")
    DedupIndex.build(mkCorpus(60, "mu"), "doc_id", "text", uri)
    val batch = (0 until 8).map(i =>
      (900L + i, docText("mu", i) + " zz")).toDF("doc_id", "text")
    val viaBroadcast = matches(uri, batch)
    assert(viaBroadcast.nonEmpty)
    // cap of 1 forces EVERY probe (bucket keys AND sig ids) through the
    // keys-shuffle + zipPartitions mode — the routing-parity contract
    // (shardOf == DataFrame repartition placement) is exactly what this
    // pins: a mis-routed key silently loses its matches
    spark.conf.set("graft.index.pointBroadcastCap", "1")
    val viaShuffle = try matches(uri, batch)
      finally spark.conf.unset("graft.index.pointBroadcastCap")
    assert(viaBroadcast == viaShuffle,
      s"mode divergence: only-bcast=${viaBroadcast -- viaShuffle} " +
        s"only-shuffle=${viaShuffle -- viaBroadcast}")
  }

  test("duplicate rows across tiers (crash window) emit no duplicate " +
    "pairs through the point path") {
    val uri = TestSession.tmpDir("pointindex-dup")
    val corpus = mkCorpus(30, "eta")
    DedupIndex.build(corpus, "doc_id", "text", uri)
    // simulate the base-flip → inc-reset crash window: the same doc's
    // rows live in BOTH tiers (append writes them to inc; the base
    // already has them after an interrupted major's re-run)
    DedupIndex.append(corpus.filter(col("doc_id") === 7L),
      "doc_id", "text", uri)
    val probe = Seq((900L, docText("eta", 7) + " zz")).toDF("doc_id", "text")
    val rows = DedupIndex.probe(probe, "doc_id", "text", uri, threshold = 0.5)
      .collect()
    assert(rows.count(r => r.getLong(0) == 900L && r.getLong(1) == 7L) == 1,
      s"pair not deduped across tiers: ${rows.mkString(";")}")
  }
}
