package graft

import graft.storage.ArrayTable
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

class GraftSourceSpec extends SparkSpec {
  import spark.implicits._

  private def sample = (1L to 100L).map(i => (i, (i % 4).toInt, i * 1.5)).toDF("x", "y", "v")

  test("write via format('graft') creates the array; append adds a fragment") {
    val uri = TestSession.tmpDir("dsv1")
    sample.write.format("graft").option("dims", "x,y").save(uri)
    assert(ArrayTable.exists(spark, uri))
    assert(ArrayTable.fragments(spark, uri).size == 1)
    Seq((200L, 0, 9.9)).toDF("x", "y", "v").write.format("graft")
      .mode(SaveMode.Append).save(uri)
    assert(ArrayTable.fragments(spark, uri).size == 2)
    assert(spark.read.format("graft").load(uri).count() == 101)
    // ErrorIfExists
    assertThrows[RuntimeException] {
      sample.write.format("graft").option("dims", "x,y").save(uri)
    }
  }

  test("read via format('graft'): pruning, pushdown, projection") {
    val uri = TestSession.tmpDir("dsv1r")
    sample.write.format("graft").option("dims", "x,y").save(uri)
    val df = spark.read.format("graft").load(uri)
    assert(df.schema.fieldNames.toSeq == Seq("x", "y", "v"))
    val filtered = df.filter($"x" between(10, 20)).filter($"y" === 1)
    val got = filtered.select("x").as[Long].collect().sorted
    assert(got.toSeq == (10L to 20L).filter(_ % 4 == 1))
    // column pruning through the relation
    assert(df.select("v").columns.toSeq == Seq("v"))
    assert(df.filter($"v" < 10.0).count() == 6)
  }

  test("time travel via reader options") {
    val uri = TestSession.tmpDir("dsv1t")
    ArrayTable.ingest(spark, sample.filter($"x" <= 50), uri, Seq("x", "y"),
      tsOpt = Some(100L), overwrite = true)
    ArrayTable.write(spark, sample.filter($"x" > 50), uri, Some(200L))
    val early = spark.read.format("graft")
      .option("t0", "0").option("t1", "150").load(uri)
    assert(early.count() == 50)
    assert(spark.read.format("graft").load(uri).count() == 100)
  }

  test("v2 path: fast-path reads plan as a columnar BatchScan with pushed filters") {
    val uri = TestSession.tmpDir("dsv2plan")
    sample.write.format("graft").option("dims", "x,y").save(uri)
    val df = spark.read.format("graft").load(uri)
      .filter($"x" between (10, 20)).select("x", "v")
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.size == 1, s"expected BatchScanExec, plan:\n${df.queryExecution.executedPlan}")
    val scan = scans.head.scan
    assert(scan.isInstanceOf[
      org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan])
    val ps = scan.asInstanceOf[
      org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan]
    assert(ps.pushedFilters.nonEmpty, "dim range filters must reach the parquet scan")
    assert(ps.readDataSchema.fieldNames.toSeq == Seq("x", "v"), "columns must prune")
    assert(df.select("x").as[Long].collect().sorted.toSeq == (10L to 20L))
  }

  test("v2 path: fragment MBR pruning reaches the file index") {
    val uri = TestSession.tmpDir("dsv2mbr")
    // two disjoint fragments: x in [1,50] and x in [51,100]
    ArrayTable.ingest(spark, sample.filter($"x" <= 50), uri, Seq("x", "y"),
      tsOpt = Some(100L), overwrite = true)
    ArrayTable.write(spark, sample.filter($"x" > 50), uri, Some(200L))
    val df = spark.read.format("graft").load(uri).filter($"x" <= 10)
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.size == 1)
    val ps = scans.head.scan.asInstanceOf[
      org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan]
    assert(ps.fileIndex.rootPaths.size == 1, "second fragment must MBR-prune away")
    assert(df.count() == 10)
  }

  test("v2 path: MBR pruning keeps the tightest pushed bound per dim") {
    val uri = TestSession.tmpDir("dsv2tight")
    // three disjoint fragments: x in [1,30], [31,60], [61,100]
    ArrayTable.ingest(spark, sample.filter($"x" <= 30), uri, Seq("x", "y"),
      tsOpt = Some(100L), overwrite = true)
    ArrayTable.write(spark, sample.filter($"x" > 30 && $"x" <= 60), uri, Some(200L))
    ArrayTable.write(spark, sample.filter($"x" > 60), uri, Some(300L))
    val df = spark.read.format("graft").load(uri).filter($"x" > 5 && $"x" > 70)
    val ps = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.head.asInstanceOf[org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan]
    import org.apache.spark.sql.sources.GreaterThan
    val pushed = ps.pushedFilters.toSeq
    assert(pushed.indexOf(GreaterThan("x", 5L)) >= 0 &&
      pushed.indexOf(GreaterThan("x", 5L)) < pushed.indexOf(GreaterThan("x", 70L)),
      s"the looser bound must be pushed first: $pushed")
    assert(ps.fileIndex.rootPaths.size == 1, s"x > 70 must prune two of three fragments: " +
      ps.fileIndex.rootPaths)
    assert(df.count() == 30)
  }

  test("v2 path: a 40-fragment fast-path read plans without a listing job") {
    val uri = TestSession.tmpDir("dsv2forty")
    ArrayTable.create(spark, uri, graft.core.ArraySchema.infer(sample.schema, Seq("x", "y")))
    (1L to 40L).foreach(i => ArrayTable.write(spark, sample.filter($"x" === i), uri, Some(100L + i)))
    // an attr filter: no fragment prunes, so all 40 dirs reach the scan
    // (above Spark's 32-path parallel-listing threshold)
    val df = spark.read.format("graft").load(uri).filter($"y" =!= 2)
    val (plan, planJobs) = jobsOf(df.queryExecution.executedPlan)
    val ps = plan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.head.asInstanceOf[org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan]
    assert(ps.fileIndex.rootPaths.size == 40)
    assert(planJobs.isEmpty, s"planning must not list the fragments in a job: $planJobs")
    val (rows, runJobs) = jobsOf(df.select("x").as[Long].collect())
    assert(runJobs.size == 1, runJobs.toString)
    assert(rows.sorted.toSeq == (1L to 40L).filter(_ % 4 != 2))
  }

  test("resolution reads start no parquet inference or listing job") {
    // the mvcc_read shape: an overlapping rewrite plus a tombstone
    val uri = TestSession.tmpDir("dsv2resjobs")
    ArrayTable.ingest(spark, sample, uri, Seq("x", "y"), tsOpt = Some(100L), overwrite = true)
    ArrayTable.write(spark, sample.limit(5).withColumn("v", lit(0.0)), uri, Some(200L))
    ArrayTable.delete(spark, uri, "y == 1", Some(300L))
    def parquetJobs(body: => Long): (Long, Seq[Seq[String]]) = {
      val (n, jobs) = jobsOf(body)
      (n, jobs.filter(_.exists(_.startsWith("parquet at"))))
    }
    val (all, apiJobs) = parquetJobs(ArrayTable.read(spark, uri).collect().length.toLong)
    assert(apiJobs.isEmpty, apiJobs.toString)
    assert(all == (1L to 100L).count(_ % 4 != 1))
    val (some, srcJobs) = parquetJobs(spark.read.format("graft").load(uri)
      .where($"x".between(10, 60)).collect().length.toLong)
    assert(srcJobs.isEmpty, srcJobs.toString)
    assert(some == (10L to 60L).count(_ % 4 != 1))
  }

  test("resolution reads inline as columnar plans (no RDD row scan)") {
    // overlapping fragments AND a tombstone: the full MVCC resolution
    // path (shadowing window + delete anti-filter)
    val uri = TestSession.tmpDir("dsv2res")
    ArrayTable.ingest(spark, sample, uri, Seq("x", "y"), tsOpt = Some(100L), overwrite = true)
    ArrayTable.write(spark, sample.limit(5).withColumn("v", lit(0.0)), uri, Some(200L))
    ArrayTable.delete(spark, uri, "y == 1", Some(300L))
    val df = spark.read.format("graft").load(uri)
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    // the resolution plan is inlined: every leaf is a columnar parquet
    // file scan; nothing crosses an opaque RDD[Row] boundary
    val leaves = plan.collectLeaves()
    assert(leaves.nonEmpty)
    leaves.foreach { l =>
      assert(l.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec] ||
        l.isInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec],
        s"expected a columnar file scan leaf, got ${l.getClass.getName}\n$plan")
    }
    val opaque = plan.collect {
      case r: org.apache.spark.sql.execution.RowDataSourceScanExec => r
      case r: org.apache.spark.sql.execution.RDDScanExec => r
      case d: org.apache.spark.sql.execution.DeserializeToObjectExec => d
    }
    assert(opaque.isEmpty, s"resolution read must not pass through RDD rows:\n$plan")
    // and the results are still MVCC-correct: 5 shadowed rows, y==1 deleted
    val expect = sample.withColumn("v", when($"x" <= 5, 0.0).otherwise($"v"))
      .filter($"y" =!= 1)
    assert(df.count() == expect.count())
    assert(df.filter($"v" === 0.0).count() ==
      expect.filter($"v" === 0.0).count())
    // attr filters + projection still work through the inlined plan
    assert(df.filter($"v" > 100.0).select("x").as[Long].collect().sorted.toSeq ==
      expect.filter($"v" > 100.0).select("x").as[Long].collect().sorted.toSeq)
  }

  test("resolution reads MBR-prune fragment files from dim-range filters") {
    // three disjoint fragments + a tombstone, so the read NEEDS the
    // resolution path (delete anti-filter) — the DSv2 fast path is off
    val uri = TestSession.tmpDir("dsv2resmbr")
    ArrayTable.ingest(spark, sample.filter($"x" <= 30), uri, Seq("x", "y"),
      tsOpt = Some(100L), overwrite = true)
    ArrayTable.write(spark, sample.filter($"x" > 30 && $"x" <= 60), uri, Some(200L))
    ArrayTable.write(spark, sample.filter($"x" > 60), uri, Some(300L))
    ArrayTable.delete(spark, uri, "y == 3", Some(400L))
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val plan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      plan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.toSeq
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan match {
            case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
              p.fileIndex.inputFiles.toSeq
            case _ => Nil
          }
      }.flatten
    }
    val all = spark.read.format("graft").load(uri)
    val narrow = all.filter($"x" <= 10)
    assert(scannedFiles(all).size >= 3, "unfiltered read plans every fragment")
    // only the first fragment's files survive file-level pruning
    assert(scannedFiles(narrow).size < scannedFiles(all).size,
      s"dim-range filter must prune fragment files:\n${narrow.queryExecution.executedPlan}")
    // and results stay MVCC-correct under the pruned plan
    assert(narrow.select("x").as[Long].collect().sorted.toSeq ==
      (1L to 10L).filter(_ % 4 != 3))
    // time travel composes with pruning: read before the delete
    val early = spark.read.format("graft").option("t1", "350").load(uri)
      .filter($"x" <= 10)
    assert(early.select("x").as[Long].collect().sorted.toSeq == (1L to 10L))
  }

  test("v1 buildScan fallback keeps the internal-row contract") {
    // the designated correctness fallback for sessions WITHOUT
    // GraftExtensions never runs under GraftSession — exercise its
    // InternalRow handoff (needConversion=false) directly: row layout
    // must follow requiredColumns order/types exactly
    val uri = TestSession.tmpDir("v1direct")
    ArrayTable.ingest(spark, sample, uri, Seq("x", "y"), tsOpt = Some(100L), overwrite = true)
    ArrayTable.write(spark, sample.limit(5).withColumn("v", lit(0.0)), uri, Some(200L))
    ArrayTable.delete(spark, uri, "y == 1", Some(300L))
    val rel = graft.sources.GraftRelation(spark.sqlContext, uri, None, None)
    val rdd = rel.buildScan(Array("v", "x"),
      Array(org.apache.spark.sql.sources.LessThanOrEqual("x", 10L)))
      .asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]]
    val got = rdd.map(ir => (ir.getDouble(0), ir.getLong(1))) // requiredColumns order
      .collect().sortBy(_._2)
    val expect = (1L to 10L).filter(_ % 4 != 1)
      .map(x => (if (x <= 5) 0.0 else x * 1.5, x))
    assert(got.toSeq == expect)
  }

  test("write-triggered cache refresh still reaches cached resolution reads") {
    // CacheManager matches on the ANALYZED plan — inlining at optimizer
    // time (not analysis) keeps cached graft reads in LogicalRelation
    // form, so the V1 write command's recache-by-relation still finds
    // them and re-executes (fresh fragment listing). Fast-path (DSv2)
    // reads keep standard Spark file-source snapshot semantics instead:
    // a Dataset handle created before the write pins its fragment
    // listing (see GraftSource scaladoc).
    val uri = TestSession.tmpDir("dsv1cache")
    ArrayTable.ingest(spark, sample, uri, Seq("x", "y"), tsOpt = Some(100L), overwrite = true)
    // tombstone forces the resolution path (V1 LogicalRelation)
    ArrayTable.delete(spark, uri, "y == 1", Some(200L))
    val df = spark.read.format("graft").load(uri)
    df.cache()
    try {
      val n0 = df.count()
      assert(n0 == sample.filter($"y" =!= 1).count())
      Seq((500L, 0, 1.0)).toDF("x", "y", "v").write.format("graft")
        .mode(SaveMode.Append).save(uri)
      assert(df.count() == n0 + 1, "cached resolution read must see the append")
    } finally df.unpersist()
  }

  test("sql over the source via temp view") {
    val uri = TestSession.tmpDir("dsv1sql")
    sample.write.format("graft").option("dims", "x,y").save(uri)
    spark.read.format("graft").load(uri).createOrReplaceTempView("arr")
    val n = spark.sql("SELECT count(*) AS n FROM arr WHERE x <= 10 AND v > 5.0")
      .as[Long].collect()(0)
    assert(n == (1L to 10L).count(_ * 1.5 > 5.0))
  }
}
