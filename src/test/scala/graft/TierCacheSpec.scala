package graft

import graft.ops.DedupIndex
import org.apache.spark.sql.functions._

/** Lifecycle of the dedup index's SCAN-served base tiers — the tiers
  * [[graft.storage.PointIndex]] cannot serve (here: string ids), read
  * by one plain parquet scan of the resolved generation. Every
  * mutation route (generation flip, in-place rebuild) must land probes
  * on the right rows. The suite keeps the name of the block-manager
  * cache that once served this path; its test titles still say
  * "cached" for the same reason. */
class TierCacheSpec extends SparkSpec {
  import spark.implicits._

  /** Mutually DISSIMILAR docs (per-doc token vocabulary) so probes
    * match only deliberate near-copies, never corpus neighbors. */
  private def docText(salt: String, i: Int): String =
    s"$salt document $i " +
      (0 until 12).map(j => s"w${salt}${i}x$j").mkString(" ")

  /** String ids: a tier PointIndex cannot serve, so probes scan it. */
  private def mkCorpus(n: Int, salt: String) =
    (0 until n).map(i => (i.toString, docText(salt, i))).toDF("doc_id", "text")

  private def matches(uri: String, batch: org.apache.spark.sql.DataFrame) =
    DedupIndex.probe(batch, "doc_id", "text", uri, threshold = 0.5)
      .select(col("id").cast("long"), col("match_id").cast("long"))
      .as[(Long, Long)].collect().toSet

  test("major compact flips the cached generation: probes track the new base") {
    val uri = TestSession.tmpDir("tiercache-flip")
    DedupIndex.build(mkCorpus(40, "alpha"), "doc_id", "text", uri)
    val nearDup = Seq(("900", docText("alpha", 7) + " zz")).toDF("doc_id", "text")
    val before = matches(uri, nearDup)
    assert(before.contains((900L, 7L)), before.toString)
    // append a doc the probe should ALSO match, fold it into the base
    DedupIndex.append(Seq(("500", docText("alpha", 7)))
      .toDF("doc_id", "text"), "doc_id", "text", uri)
    DedupIndex.compact(spark, uri)
    val after = matches(uri, nearDup)
    assert(after.contains((900L, 7L)) && after.contains((900L, 500L)),
      s"stale generation scanned after major flip: $after")
  }

  test("in-place rebuild invalidates the cached legacy generation") {
    val uri = TestSession.tmpDir("tiercache-rebuild")
    DedupIndex.build(mkCorpus(40, "alpha"), "doc_id", "text", uri)
    val probeAlpha = Seq(("901", docText("alpha", 3))).toDF("doc_id", "text")
    assert(matches(uri, probeAlpha).nonEmpty)
    // rebuild at the SAME uri over a disjoint corpus: the legacy
    // generation paths are identical, so the probe must read the
    // rebuilt files, never the pre-rebuild rows
    DedupIndex.build(mkCorpus(40, "omega"), "doc_id", "text", uri)
    assert(matches(uri, probeAlpha).isEmpty,
      "probe served pre-rebuild rows from a stale generation")
    val probeOmega = Seq(("902", docText("omega", 3))).toDF("doc_id", "text")
    assert(matches(uri, probeOmega).exists(_._2 == 3L))
  }
}
