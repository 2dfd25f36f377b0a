package graft

import graft.ops.{DedupIndex, Similarity}

/** The maintenance advice of the two-tier dedup and IVF indexes comes
  * from their [[graft.storage.TieredTable]] listings: appends show up
  * in the inc tier, and a major empties it again. */
class TieredTableSpec extends SparkSpec {
  import spark.implicits._

  test("dedup maintenanceAdvice: appends fill the inc tier, compact empties it") {
    val uri = TestSession.tmpDir("tiered-advice-nd")
    val docs = (0 until 30).map(i => (i.toLong,
      s"document $i " + (0 until 10).map(j => s"w${i}x$j").mkString(" ")))
      .toDF("doc_id", "text")
    DedupIndex.build(docs, "doc_id", "text", uri)
    assert(DedupIndex.maintenanceAdvice(spark, uri).incFiles == 0)
    (1 to 2).foreach(i => DedupIndex.append(
      Seq((100L + i, s"appended document $i with a few more words"))
        .toDF("doc_id", "text"), "doc_id", "text", uri))
    val a1 = DedupIndex.maintenanceAdvice(spark, uri)
    assert(a1.incFiles > 0 && a1.needsMajor(0.0, 1L), a1.toString)
    DedupIndex.compact(spark, uri)
    val a2 = DedupIndex.maintenanceAdvice(spark, uri)
    assert(a2.incFiles == 0, a2.toString)
  }

  test("ivf maintenanceAdvice: appends fill the inc tier, compactIvfIndex empties it") {
    val uri = TestSession.tmpDir("tiered-advice-ivf")
    val vecs = (0 until 100).map(i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 7 + j * 13).toFloat)))
      .toDF("vec_id", "embedding")
    Similarity.buildIvfIndex(vecs, "vec_id", "embedding", uri, nCentroids = 4)
    assert(Similarity.maintenanceAdvice(spark, uri).incFiles == 0)
    (1 to 2).foreach(i => Similarity.appendToIvfIndex(
      Seq((500L + i, Array.tabulate(8)(j => math.cos(i * 3 + j).toFloat)))
        .toDF("vec_id", "embedding"), "vec_id", "embedding", uri))
    val a1 = Similarity.maintenanceAdvice(spark, uri)
    assert(a1.incFiles > 0 && a1.needsMajor(0.0, 1L), a1.toString)
    Similarity.compactIvfIndex(spark, uri)
    val a2 = Similarity.maintenanceAdvice(spark, uri)
    assert(a2.incFiles == 0, a2.toString)
  }
}
