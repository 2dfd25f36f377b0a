package graft

import graft.tools.ScaleRehearsal

class ScaleRehearsalSpec extends SparkSpec {
  import spark.implicits._

  test("synthesizeDocs: mult copies, distinct ids, copy 0 verbatim, copies > 0 extend the text") {
    val mult = 3
    val out = TestSession.tmpDir("scale")
    ScaleRehearsal.synthesizeDocs(spark, sf, out, mult)
    val input = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val synth = spark.read.parquet(s"$out/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    assert(synth.length == mult * input.size)
    assert(synth.map(_._1).distinct.length == synth.length)
    val byCopy = synth.groupBy { case (id, _) => id >> 24 }
    assert(byCopy.keySet == (0L until mult).toSet)
    assert(byCopy(0L).toMap == input)
    for (c <- 1L until mult; (id, text) <- byCopy(c)) {
      val orig = input(id - (c << 24))
      assert(text.startsWith(orig + " "), s"copy $c of doc ${id - (c << 24)}")
    }
  }
}
