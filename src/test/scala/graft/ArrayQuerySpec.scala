package graft

import graft.query.{ArrayQuery, MultiIndex}
import graft.query.MultiIndex.{Points, RangeIncl}
import graft.storage.ArrayTable

class ArrayQuerySpec extends SparkSpec {
  import spark.implicits._

  private lazy val uri: String = {
    val u = TestSession.tmpDir("aq")
    val df = (1L to 50L).map(i => (i, (i % 5).toInt, i * 2.0, s"s$i")).toDF("x", "y", "v", "s")
    ArrayTable.ingest(spark, df, u, Seq("x", "y"), tsOpt = Some(100L), overwrite = true)
    u
  }

  test("projection: attrs + dims + noCoords") {
    val q = ArrayQuery(spark, uri).attrs("v")
    assert(q.df.columns.toSeq == Seq("x", "y", "v"))
    assert(ArrayQuery(spark, uri).noCoords.attrs("v").df.columns.toSeq == Seq("v"))
    assert(ArrayQuery(spark, uri).dims("x").attrs("s").df.columns.toSeq == Seq("x", "s"))
  }

  test("multiIndex + cond compose into one filtered plan") {
    val q = ArrayQuery(spark, uri)
      .multiIndex("x" -> RangeIncl(Some(10L), Some(30L)))
      .cond("v > 30.0")
    val xs = q.df.select("x").as[Long].collect().sorted
    assert(xs.toSeq == (16L to 30L))
    // point-list selection
    val p = ArrayQuery(spark, uri).multiIndex("x" -> Points(Seq(3L, 7L, 999L)))
    assert(p.df.count() == 2)
  }

  test("order C/F/G/U") {
    val c = ArrayQuery(spark, uri).withOrder("C").df.select("x").as[Long].collect()
    assert(c.toSeq == c.sorted.toSeq)
    val f = ArrayQuery(spark, uri).withOrder("F").df.select("y").as[Int].collect()
    assert(f.toSeq == f.sorted.toSeq)
    assert(ArrayQuery(spark, uri).withOrder("G").df.count() == 50)
    assertThrows[IllegalArgumentException] { ArrayQuery(spark, uri).withOrder("Z") }
  }

  test("agg rides the same plan with slicing + condition") {
    val r = ArrayQuery(spark, uri)
      .multiIndex("x" -> RangeIncl(Some(1L), Some(10L)))
      .cond("y != 0")
      .agg(Map("v" -> Seq("sum", "count")))
      .df.collect()(0)
    // x in 1..10 with x%5 != 0 -> x in {1,2,3,4,6,7,8,9}, v = 2x
    assert(r.getAs[Double]("v_sum") == 2.0 * (1 + 2 + 3 + 4 + 6 + 7 + 8 + 9))
    assert(r.getAs[Long]("v_count") == 8L)
  }

  test("timestamp travel through the builder") {
    val u2 = TestSession.tmpDir("aq2")
    ArrayTable.ingest(spark, Seq((1L, 1.0)).toDF("x", "v"), u2, Seq("x"), tsOpt = Some(100L), overwrite = true)
    ArrayTable.write(spark, Seq((2L, 2.0)).toDF("x", "v"), u2, Some(200L))
    assert(ArrayQuery(spark, u2).timestamp(0L, 150L).df.count() == 1)
    assert(ArrayQuery(spark, u2).df.count() == 2)
  }

  test("pure count over the full selection is served from manifests (no scan)") {
    val q = ArrayQuery(spark, uri).agg(Map("v" -> Seq("count")))
    assert(q.df.collect()(0).getAs[Long]("v_count") == 50L)
    // the plan must not touch parquet — metadata only
    val plan = q.df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Relation") && !plan.contains("parquet"), plan)

    // dim min/max are served from fragment MBRs on the same path
    val mm = ArrayQuery(spark, uri).agg(Map("x" -> Seq("min", "max")))
    val mmRow = mm.df.collect()(0)
    assert(mmRow.getAs[Long]("x_min") == 1L && mmRow.getAs[Long]("x_max") == 50L)
    assert(!mm.df.queryExecution.optimizedPlan.toString.contains("parquet"))

    // attr min/max (not provable from manifests), sum, conditions, or
    // ranges fall through to the scan path
    val mixed = ArrayQuery(spark, uri).agg(Map("v" -> Seq("count", "sum")))
    assert(mixed.df.queryExecution.optimizedPlan.toString.contains("parquet"))
    val attrMin = ArrayQuery(spark, uri).agg(Map("v" -> Seq("min")))
    assert(attrMin.df.queryExecution.optimizedPlan.toString.contains("parquet"))
    val conded = ArrayQuery(spark, uri).cond("y != 0").agg(Map("v" -> Seq("count")))
    assert(conded.df.queryExecution.optimizedPlan.toString.contains("parquet"))
    assert(conded.df.collect()(0).getAs[Long]("v_count") == 40L)
  }

  test("a manifest-served aggregate builds no scan: zero Spark jobs") {
    // count and dim min/max answer from manifests; building .df must not
    // start the read path's parquet schema-inference job either
    val (count, countJobs) = jobsOf(ArrayQuery(spark, uri).agg(Map("v" -> Seq("count"))).df)
    assert(countJobs.isEmpty, countJobs.toString)
    assert(count.collect()(0).getAs[Long]("v_count") == 50L)
    val (mm, mmJobs) = jobsOf(ArrayQuery(spark, uri).agg(Map("x" -> Seq("min", "max"))).df)
    assert(mmJobs.isEmpty, mmJobs.toString)
    val mmRow = mm.collect()(0)
    assert(mmRow.getAs[Long]("x_min") == 1L && mmRow.getAs[Long]("x_max") == 50L)
  }

  test("slice, points, cond and time-travel reads: no job to build, one to collect") {
    val u = TestSession.tmpDir("aqjobs")
    val mk = (lo: Long, hi: Long) =>
      (lo to hi).map(i => (i, (i % 5).toInt, i * 2.0, s"s$i")).toDF("x", "y", "v", "s")
    ArrayTable.ingest(spark, mk(1L, 20L), u, Seq("x", "y"), tsOpt = Some(100L), overwrite = true)
    ArrayTable.write(spark, mk(21L, 40L), u, Some(200L))
    ArrayTable.write(spark, mk(41L, 60L), u, Some(300L))
    val reads = Seq(
      ("slice", ArrayQuery(spark, u).multiIndex("x" -> RangeIncl(Some(10L), Some(30L)))
        .attrs("v"), 21),
      ("points", ArrayQuery(spark, u).multiIndex("x" -> Points(Seq(3L, 33L, 59L)))
        .attrs("s"), 3),
      ("cond", ArrayQuery(spark, u).multiIndex("x" -> RangeIncl(Some(10L), Some(30L)))
        .cond("v > 30.0").attrs("v"), 15),
      ("time travel", ArrayQuery(spark, u).timestamp(0L, 250L).attrs("v"), 40))
    reads.foreach { case (what, q, n) =>
      val (df, buildJobs) = jobsOf(q.df)
      assert(buildJobs.isEmpty, s"$what: building .df started $buildJobs")
      val (rows, runJobs) = jobsOf(df.collect())
      assert(runJobs.size == 1, s"$what: collect ran $runJobs")
      assert(rows.length == n, what)
    }
  }

  test("metadata count falls through when shadowing or deletes make it unsafe") {
    val u2 = TestSession.tmpDir("aqc")
    import spark.implicits._
    val mk = (lo: Long, hi: Long) => (lo to hi).map(i => (i, i * 1.0)).toDF("x", "v")
    ArrayTable.ingest(spark, mk(1L, 10L), u2, Seq("x"), tsOpt = Some(100L), overwrite = true)
    // overlapping rewrite of x in 5..10 -> shadowing: scan must dedup, so
    // the fast path must NOT report 10 + 6
    ArrayTable.write(spark, mk(5L, 10L), u2, Some(200L))
    val shadowed = ArrayQuery(spark, u2).agg(Map("v" -> Seq("count")))
    assert(shadowed.df.collect()(0).getAs[Long]("v_count") == 10L)
    assert(shadowed.df.queryExecution.optimizedPlan.toString.contains("parquet"))
    // dim min/max stay manifest-served even under shadowing: a rewrite
    // of existing coords never changes the coordinate set
    val mmShadow = ArrayQuery(spark, u2).agg(Map("x" -> Seq("min", "max")))
    val mmSRow = mmShadow.df.collect()(0)
    assert(mmSRow.getAs[Long]("x_min") == 1L && mmSRow.getAs[Long]("x_max") == 10L)
    assert(!mmShadow.df.queryExecution.optimizedPlan.toString.contains("parquet"))
    // but mixing in a count under shadowing forces the scan for all
    val mmCount = ArrayQuery(spark, u2).agg(Map("x" -> Seq("min", "count")))
    assert(mmCount.df.queryExecution.optimizedPlan.toString.contains("parquet"))
    assert(mmCount.df.collect()(0).getAs[Long]("x_count") == 10L)
    // disjoint append (x in 11..20): fast path applies again
    ArrayTable.write(spark, mk(11L, 20L), u2, Some(300L))
    val disjointAt = ArrayQuery(spark, u2).timestamp(201L, 400L)
      .agg(Map("v" -> Seq("count")))
    assert(disjointAt.df.collect()(0).getAs[Long]("v_count") == 10L)
    assert(!disjointAt.df.queryExecution.optimizedPlan.toString.contains("parquet"))
    // a tombstone inside the window disables the fast path
    ArrayTable.delete(spark, u2, "x == 15", tsOpt = Some(400L))
    val afterDel = ArrayQuery(spark, u2).agg(Map("v" -> Seq("count")))
    assert(afterDel.df.queryExecution.optimizedPlan.toString.contains("parquet"))
    assert(afterDel.df.collect()(0).getAs[Long]("v_count") == 19L)
  }

  test("estimated result sizes are positive and cover requested columns") {
    val est = ArrayQuery(spark, uri).attrs("v").estimatedResultSizes()
    assert(est.keySet == Set("x", "y", "v"))
    assert(est.values.forall(_ > 0))
  }

  test("batch iteration (incomplete-query analogue)") {
    val batches = ArrayQuery(spark, uri).df.let(df =>
      ArrayQuery(spark, uri).toLocalIterator(batchRows = 16).toSeq)
    assert(batches.map(_.size).sum == 50)
    assert(batches.forall(_.size <= 16))
  }

  private implicit class LetOps[A](a: A) { def let[B](f: A => B): B = f(a) }
}
