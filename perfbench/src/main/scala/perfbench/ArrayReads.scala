package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import graft.core.ArraySchema
import graft.query.{ArrayQuery, MultiIndex, QueryCondition}
import graft.storage.ArrayTable

/** `array_reads`: small-result reads against a 16-fragment lineitem
  * array and an orders array that needs MVCC resolution (an overlapping
  * upsert fragment plus a conditional-delete tombstone). Every op is
  * collected to the driver and compared with rows filtered from the
  * generator's own copy of the data. Steps cycle through the eight op
  * kinds in a fixed order; only their parameters are drawn from the
  * seed, so the mix is the same in every run. */
final class ArrayReads(spark: SparkSession, seed: Long, workdir: String, rec: Recorder)
    extends Workload {
  import Gen._

  private val Orders = 150000
  private val Frags = 16
  private val perFrag = (Orders + Frags - 1) / Frags
  private val lines = lineitem(seed, Orders)
  // first line index of each order key (lines are generated key-sorted)
  private val firstIdx: Array[Int] = {
    val a = new Array[Int](Orders + 2)
    var i = lines.length - 1
    java.util.Arrays.fill(a, lines.length)
    while (i >= 0) { a(lines(i).ok.toInt) = i; i -= 1 }
    var k = Orders
    while (k >= 1) { if (a(k) > a(k + 1)) a(k) = a(k + 1); k -= 1 }
    a
  }
  private def fragOf(ok: Long): Int = ((ok - 1) / perFrag).toInt
  private def linesIn(lo: Long, hi: Long): IndexedSeq[Line] = {
    val l = math.max(1L, lo).toInt; val h = math.min(Orders.toLong, hi).toInt
    if (h < l) IndexedSeq.empty else lines.slice(firstIdx(l), firstIdx(h + 1)).toIndexedSeq
  }

  // orders after the upsert and the tombstone, indexed by key
  private val gr = new SplittableRandom(seed * 31 + 2)
  private val baseOrders = (1L to Orders).map(k => order(gr, k))
  private val upLo = 1L + gr.nextInt(Orders * 7 / 8)
  private val upserts = (upLo until upLo + Orders / 10).map(k => order(gr, k))
  private val delPrice = 50000 + gr.nextInt(150000)
  private val delCond = s"o_orderstatus == 'P' and o_totalprice < $delPrice"
  private val liveOrders: Map[Long, Order] = {
    val m = baseOrders.map(o => o.ok -> o).toMap ++ upserts.map(o => o.ok -> o)
    m.filterNot { case (_, o) => o.status == "P" && o.price < delPrice }
  }

  private val liUri = s"$workdir/catalog/tpch/lineitem"
  private val ordUri = s"$workdir/catalog/tpch/orders"
  private val r = new SplittableRandom(seed * 31 + 3)

  val cycle = 8
  val foreground: Seq[String] =
    Seq("slice", "points", "cond", "agg", "time_travel", "meta_agg", "sql", "mvcc_read")

  def setup(): Unit = {
    ArrayTable.create(spark, liUri,
      ArraySchema.infer(LineSchema, Seq("l_orderkey", "l_linenumber")))
    (0 until Frags).foreach { f =>
      val rows = linesIn(f.toLong * perFrag + 1, (f + 1).toLong * perFrag)
      ArrayTable.write(spark, lineDf(spark, rows), liUri, Some(1000L + f))
    }
    ArrayTable.create(spark, ordUri, ArraySchema.infer(OrderSchema, Seq("o_orderkey")))
    ArrayTable.write(spark, orderDf(spark, baseOrders), ordUri, Some(100L))
    ArrayTable.write(spark, orderDf(spark, upserts), ordUri, Some(200L))
    ArrayTable.delete(spark, ordUri, delCond, Some(300L))
  }

  def warmup(): Unit = foreground.foreach(runOp)

  def step(i: Int): Unit = runOp(foreground(i % cycle))

  def finish(): Unit = ()

  // ---------------------------------------------------------------- ops

  private def rowsOf(df: DataFrame): Array[Row] = {
    rec.span("plans.plan")(df.queryExecution.executedPlan)
    rec.span("exec.execute")(df.collect())
  }
  private def same[A](what: String, got: Seq[A], want: Seq[A]): Option[String] =
    if (got == want) None
    else Some(s"$what: ${got.size} rows, want ${want.size}; first diff " +
      got.zipAll(want, null, null).find(p => p._1 != p._2).toString.take(200))

  /** Storage-layer metadata for a traced ArrayQuery op: listing time,
    * live and MBR-pruned fragment counts, fast-path availability. */
  private def storageNotes(uri: String, at: Option[(Long, Long)],
      ranges: Map[String, (Option[Any], Option[Any])]): Unit = if (rec.tracedRound) {
    val t0 = System.nanoTime()
    val live = ArrayTable.fragments(spark, uri)
    rec.note("storage.fragments_ms", (System.nanoTime() - t0) / 1e6)
    rec.note("storage.fragments_live", live.size)
    val fast = ArrayTable.fastPathFragments(spark, uri, at, ranges)
    rec.note("storage.fastpath", if (fast.isDefined) 1 else 0)
    fast.foreach(f => rec.note("storage.fragments_scanned_ratio", f.size.toDouble / live.size))
  }

  /** Whether a source or SQL read planned as a columnar DSv2 scan. */
  private def scanNote(df: DataFrame): Unit = if (rec.tracedRound && df != null)
    rec.note("sources.batch_scan",
      if (df.queryExecution.executedPlan.toString.contains("BatchScan")) 1 else 0)

  private def query(q: => ArrayQuery): DataFrame = rec.span("query.build")(q.df)

  private def runOp(kind: String): Unit = kind match {
    case "slice" =>
      val lo = 1L + r.nextInt(Orders - 200); val hi = lo + 200
      rec.op(kind) {
        rowsOf(query(ArrayQuery(spark, liUri)
          .multiIndex("l_orderkey" -> MultiIndex.RangeIncl(Some(lo), Some(hi)))
          .attrs("l_quantity", "l_extendedprice")))
          .map(x => (x.getLong(0), x.getInt(1), x.getDouble(2), x.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
      } { got => same(kind, got, linesIn(lo, hi).map(x => (x.ok, x.ln, x.qty, x.price))) }
      storageNotes(liUri, None, Map("l_orderkey" -> (Some(lo), Some(hi))))
    case "points" =>
      val keys = Seq.fill(20)(1L + r.nextInt(Orders)).distinct.sorted
      rec.op(kind) {
        rowsOf(query(ArrayQuery(spark, liUri)
          .multiIndex("l_orderkey" -> MultiIndex.Points(keys)).attrs("l_partkey")))
          .map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).sortBy(t => (t._1, t._2)).toSeq
      } { got => same(kind, got, keys.flatMap(k => linesIn(k, k)).map(x => (x.ok, x.ln, x.pk))) }
      storageNotes(liUri, None, Map.empty)
    case "cond" =>
      val lo = 1L + r.nextInt(Orders - 2000); val hi = lo + 2000
      val q = 2 + r.nextInt(10); val flag = Flags(r.nextInt(3))
      val c = s"l_quantity < $q and l_returnflag == '$flag'"
      rec.op(kind) {
        rowsOf(query(ArrayQuery(spark, liUri)
          .multiIndex("l_orderkey" -> MultiIndex.RangeIncl(Some(lo), Some(hi)))
          .cond(c).attrs("l_quantity", "l_returnflag")))
          .map(x => (x.getLong(0), x.getInt(1), x.getDouble(2), x.getString(3))).sortBy(t => (t._1, t._2)).toSeq
      } { got =>
        same(kind, got, linesIn(lo, hi).filter(x => x.qty < q && x.flag == flag)
          .map(x => (x.ok, x.ln, x.qty, x.flag)))
      }
      if (rec.tracedRound) {
        val schema = ArrayTable.schemaOf(spark, liUri)
        val t0 = System.nanoTime(); QueryCondition.compile(c, Some(schema))
        rec.note("query.compile_ms", (System.nanoTime() - t0) / 1e6)
      }
      storageNotes(liUri, None, Map("l_orderkey" -> (Some(lo), Some(hi))))
    case "agg" =>
      val lo = 1L + r.nextInt(Orders - 5000); val hi = lo + 5000
      rec.op(kind) {
        rowsOf(query(ArrayQuery(spark, liUri)
          .multiIndex("l_orderkey" -> MultiIndex.RangeIncl(Some(lo), Some(hi)))
          .agg(Map("l_extendedprice" -> Seq("sum", "max"), "l_quantity" -> Seq("min", "count")))))
          .head
      } { row =>
        val ls = linesIn(lo, hi)
        val sum = ls.map(_.price).sum
        val got = (row.getAs[Double]("l_extendedprice_sum"), row.getAs[Double]("l_extendedprice_max"),
          row.getAs[Double]("l_quantity_min"), row.getAs[Long]("l_quantity_count"))
        val ok = math.abs(got._1 - sum) <= 1e-9 * math.max(1.0, math.abs(sum)) &&
          got._2 == ls.map(_.price).max && got._3 == ls.map(_.qty).min && got._4 == ls.size
        if (ok) None else Some(s"agg: got $got, want ($sum, ${ls.map(_.price).max}, ${ls.map(_.qty).min}, ${ls.size})")
      }
      storageNotes(liUri, None, Map("l_orderkey" -> (Some(lo), Some(hi))))
    case "time_travel" =>
      val a = r.nextInt(Frags - 3); val b = a + r.nextInt(4)
      val lo = a.toLong * perFrag + 1 + r.nextInt((b - a + 1) * perFrag); val hi = lo + 300
      rec.op(kind) {
        rowsOf(query(ArrayQuery(spark, liUri).timestamp(1000L + a, 1000L + b)
          .multiIndex("l_orderkey" -> MultiIndex.RangeIncl(Some(lo), Some(hi)))
          .attrs("l_discount")))
          .map(x => (x.getLong(0), x.getInt(1), x.getDouble(2))).sortBy(t => (t._1, t._2)).toSeq
      } { got =>
        same(kind, got, linesIn(lo, hi).filter(x => fragOf(x.ok) <= b)
          .map(x => (x.ok, x.ln, x.disc)))
      }
      storageNotes(liUri, Some((1000L + a, 1000L + b)), Map("l_orderkey" -> (Some(lo), Some(hi))))
    case "meta_agg" =>
      val spec = if (r.nextBoolean()) Seq("count") else Seq("min", "max")
      rec.op(kind) {
        rowsOf(query(ArrayQuery(spark, liUri).agg(Map("l_orderkey" -> spec)))).head
      } { row =>
        val want = if (spec == Seq("count")) Seq(lines.length.toLong) else Seq(1L, Orders.toLong)
        val got = spec.map(s => row.getAs[Long](s"l_orderkey_$s"))
        if (got == want) None else Some(s"meta_agg $spec: got $got, want $want")
      }
      storageNotes(liUri, None, Map.empty)
    case "sql" =>
      val lo = 1L + r.nextInt(Orders - 200); val hi = lo + 200
      var df: DataFrame = null
      rec.op(kind) {
        df = rec.span("query.build")(spark.sql(
          s"SELECT l_orderkey, l_linenumber, l_extendedprice FROM graft.tpch.lineitem " +
            s"WHERE l_orderkey BETWEEN $lo AND $hi"))
        rowsOf(df).map(x => (x.getLong(0), x.getInt(1), x.getDouble(2))).sortBy(t => (t._1, t._2)).toSeq
      } { got => same(kind, got, linesIn(lo, hi).map(x => (x.ok, x.ln, x.price))) }
      scanNote(df)
    case "mvcc_read" =>
      val lo = 1L + r.nextInt(Orders - 500); val hi = lo + 500
      var df: DataFrame = null
      rec.op(kind) {
        df = rec.span("query.build")(spark.read.format("graft").load(ordUri)
          .where(col("o_orderkey").between(lo, hi)))
        rowsOf(df).map(x => Order(x.getAs[Long]("o_orderkey"), x.getAs[Long]("o_custkey"),
          x.getAs[String]("o_orderstatus"), x.getAs[Double]("o_totalprice"),
          x.getAs[String]("o_orderpriority"))).sortBy(_.ok).toSeq
      } { got => same(kind, got, (lo to hi).flatMap(liveOrders.get)) }
      scanNote(df)
      storageNotes(ordUri, None, Map("o_orderkey" -> (Some(lo), Some(hi))))
  }

  def metrics(traced: Boolean): Map[String, Metric] = {
    val all = rec.lat(foreground: _*)
    val m = scala.collection.mutable.LinkedHashMap[String, Metric](
      "read_p50_ms" -> Metric(Pct.median(all), "ms"))
    Pct.p90(all).foreach(v => m("read_p90_ms") = Metric(v, "ms"))
    if (traced) {
      val t = rec.ops.filter(o => o.traced && o.ok && foreground.contains(o.kind)).toSeq
      def spanMed(name: String) = Pct.median(t.flatMap(_.spans.filter(_._1 == name)
        .map { case (_, s, e) => (e - s) / 1e6 }))
      def extra(key: String) = t.flatMap(_.extra.get(key))
      m("query.build_ms") = Metric(spanMed("query.build"), "ms")
      m("query.compile_ms") = Metric(Pct.median(extra("query.compile_ms")), "ms")
      foreground.foreach(k => m(s"query.${k}_p50_ms") = Metric(Pct.median(rec.lat(k)), "ms"))
      val scans = extra("sources.batch_scan")
      m("sources.columnar_scan_ratio") = Metric(scans.sum / math.max(1, scans.size), "ratio")
      m("storage.fragments_ms") = Metric(Pct.median(extra("storage.fragments_ms")), "ms")
      m("storage.fragments_live") = Metric(Pct.median(extra("storage.fragments_live")), "count")
      m("storage.fragments_scanned_ratio") =
        Metric(Pct.median(extra("storage.fragments_scanned_ratio")), "ratio")
      val fp = extra("storage.fastpath")
      m("storage.fastpath_ratio") = Metric(fp.sum / math.max(1, fp.size), "ratio")
      // the write path as the fixture build exercised it
      val frags = ArrayTable.fragments(spark, liUri)
      m("storage.write_bytes") = Metric(frags.map(f => Core.bytesUnder(spark, f.path)).sum / frags.size, "B")
      m("storage.bytes_on_disk") = Metric(Core.bytesUnder(spark, liUri) + Core.bytesUnder(spark, ordUri), "B")
    }
    m.toMap
  }
}
