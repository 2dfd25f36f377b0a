package perfbench

import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.{SparkSession, functions}
import org.apache.spark.sql.functions._
import graft.core.ArraySchema
import graft.storage.ArrayTable

/** `array_writes`: seeded append batches of 1k-40k orders into a keyed
  * array. Every 4th batch rewrites existing keys (an upsert), every 8th
  * is preceded by a conditional delete and followed by `consolidate` +
  * `vacuum` and a full read whose row count and order-insensitive
  * checksum must equal the live set tracked here. The cadence is short
  * enough that one measuring window holds several consolidation cycles.
  * Timestamps are a logical clock, so MVCC order never depends on the
  * wall clock. */
final class ArrayWrites(spark: SparkSession, seed: Long, workdir: String, rec: Recorder)
    extends Workload {
  import Gen._

  private val r = new SplittableRandom(seed * 31 + 4)
  private val live = mutable.LongMap.empty[Order]
  private var nextKey = 1L
  private var clock = 0L
  private var batch = 0
  private var uri = ""
  private val appendedRows = mutable.ArrayBuffer.empty[(Double, Int)]

  val cycle = 8
  val foreground: Seq[String] = Seq("append", "upsert")

  private def create(u: String): Unit =
    ArrayTable.create(spark, u, ArraySchema.infer(OrderSchema, Seq("o_orderkey")))

  def setup(): Unit = { uri = s"$workdir/writes/measured"; create(uri) }

  /** One full cycle on a scratch array; the tracked state then restarts
    * empty for the measured one. */
  def warmup(): Unit = {
    val measured = uri
    uri = s"$workdir/writes/warm"
    create(uri)
    (0 until cycle).foreach(step)
    live.clear(); nextKey = 1L; clock = 0L; batch = 0; appendedRows.clear()
    uri = measured
  }

  def step(i: Int): Unit = {
    batch += 1
    val n = 1000 + r.nextInt(39001)
    if (batch % 8 == 0) delete()
    if (batch % 4 == 0) {
      val lo = 1L + (r.nextLong() & Long.MaxValue) % (nextKey - 1)
      val rows = (lo until math.min(lo + n, nextKey)).map(k => order(r, k))
      write("upsert", rows)
    } else {
      val rows = (nextKey until nextKey + n).map(k => order(r, k))
      nextKey += n
      write("append", rows)
    }
    if (batch % 8 == 0) consolidate()
  }

  private def delete(): Unit = {
    val st = Statuses(r.nextInt(3)); val price = 1000 + r.nextInt(30000)
    val cond = s"o_orderstatus == '$st' and o_totalprice < $price"
    clock += 1
    val ts = clock
    rec.op("delete")(ArrayTable.delete(spark, uri, cond, Some(ts)))(_ => None)
    live.filterInPlace { case (_, o) => !(o.status == st && o.price < price) }
  }

  private def write(kind: String, rows: Seq[Order]): Unit = {
    clock += 1
    val ts = clock
    val df = orderDf(spark, rows)
    rec.op(kind)(rec.span("storage.write")(ArrayTable.write(spark, df, uri, Some(ts)))) { f =>
      if (f.cellCount == rows.size) None else Some(s"$kind wrote ${f.cellCount} cells, want ${rows.size}")
    }.foreach(f => rec.note("storage.write_bytes", bytesUnder(f.path)))
    appendedRows += ((rec.ops.last.wallMs, rows.size))
    // the manifest listing every write pays (in nextSeq), timed apart
    if (rec.tracedRound) {
      val t0 = System.nanoTime()
      val n = ArrayTable.fragments(spark, uri).size
      rec.note("storage.fragments_ms", (System.nanoTime() - t0) / 1e6)
      rec.note("storage.fragments_live", n)
    }
    rows.foreach(o => live(o.ok) = o)
  }

  private def consolidate(): Unit = {
    rec.op("consolidate") {
      val f = ArrayTable.consolidate(spark, uri)
      ArrayTable.vacuum(spark, uri)
      f
    }(_ => None).foreach(f => rec.note("storage.consolidate_bytes_rewritten", bytesUnder(f.path)))
    rec.op("verify")(fingerprint())(checkFingerprint)
  }

  private def fingerprint(): (Long, Long, Long) = {
    val row = ArrayTable.read(spark, uri).agg(count(lit(1)), sum(col("o_orderkey")),
      sum(col("o_orderkey") * 31 + col("o_custkey") * 17 +
        functions.round(col("o_totalprice") * 100).cast("long") + ascii(col("o_orderstatus")))).head()
    (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1), if (row.isNullAt(2)) 0L else row.getLong(2))
  }

  private def checkFingerprint(got: (Long, Long, Long)): Option[String] = {
    val want = (live.size.toLong, live.keysIterator.sum, live.valuesIterator.map(orderMix).sum)
    if (got == want) None else Some(s"live set after consolidation: got $got, want $want")
  }

  private def bytesUnder(p: String): Double = Core.bytesUnder(spark, p)

  private var bytesPerUserByte = Double.NaN
  private var bytesOnDisk = Double.NaN

  /** Final consolidation, then space amplification: the array's size on
    * disk over the same live rows written once as plain parquet. */
  def finish(): Unit = {
    consolidate()
    bytesOnDisk = bytesUnder(uri)
    val plain = s"$uri.plain"
    ArrayTable.read(spark, uri).write.mode("overwrite").parquet(plain)
    bytesPerUserByte = bytesOnDisk / bytesUnder(plain)
  }

  def metrics(traced: Boolean): Map[String, Metric] = {
    val app = rec.lat("append", "upsert")
    val m = mutable.LinkedHashMap[String, Metric](
      "append_p50_ms" -> Metric(Pct.median(app), "ms"),
      "append_rows_per_s" -> Metric(
        appendedRows.map(_._2).sum / (appendedRows.map(_._1).sum / 1e3), "1/s"),
      "consolidate_s" -> Metric(Pct.median(rec.lat("consolidate")) / 1e3, "s"),
      "bytes_per_user_byte" -> Metric(bytesPerUserByte, "ratio"))
    Pct.p90(app).foreach(v => m("append_p90_ms") = Metric(v, "ms"))
    if (traced) {
      val t = rec.ops.filter(o => o.traced && o.ok)
      def extra(k: String) = t.flatMap(_.extra.get(k)).toSeq
      m("storage.fragments_ms") = Metric(Pct.median(extra("storage.fragments_ms")), "ms")
      m("storage.fragments_live") = Metric(Pct.median(extra("storage.fragments_live")), "count")
      m("storage.write_bytes") = Metric(Pct.median(extra("storage.write_bytes")), "B")
      m("storage.consolidate_bytes_rewritten") =
        Metric(Pct.median(extra("storage.consolidate_bytes_rewritten")), "B")
      m("storage.bytes_on_disk") = Metric(bytesOnDisk, "B")
    }
    m.toMap
  }
}
