package graft

import graft.core.{ArraySchema, Attr, Dim, Stats}
import graft.storage.{ArrayTable, Filestore, Filters, Ingest, VFS}
import graft.functions.HilbertIndex
import org.apache.spark.sql.functions._

class StorageExtrasSpec extends SparkSpec {
  import spark.implicits._

  test("from_csv ingestion round-trips") {
    val csvDir = TestSession.tmpDir("csv-src")
    Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5)).toDF("id", "name", "score")
      .write.option("header", "true").mode("overwrite").csv(csvDir)
    val uri = TestSession.tmpDir("csv-arr")
    Ingest.fromCsv(spark, csvDir, uri, Seq("id"))
    val back = ArrayTable.read(spark, uri)
    assert(back.count() == 3)
    assert(back.filter($"id" === 2).select("name").as[String].collect()(0) == "b")
  }

  test("from_parquet and write_direct-style append") {
    val uri = TestSession.tmpDir("pq-arr")
    Ingest.fromParquet(spark, s"$sf/region.parquet", uri, Seq("r_regionkey"))
    val n0 = ArrayTable.read(spark, uri).count()
    assert(n0 > 0)
    // append along the key dim: new rows land after the current max
    val more = spark.read.parquet(s"$sf/region.parquet")
    Ingest.appendAlong(spark, more, uri, "r_regionkey")
    val all = ArrayTable.read(spark, uri)
    assert(all.count() == n0 * 2)
    assert(all.agg(max($"r_regionkey")).as[Long].collect()(0) >= n0 * 2 - 1)
  }

  test("filestore round-trips chunked binary content") {
    val uri = TestSession.tmpDir("fs")
    val payload = Array.tabulate(3 * 1024 * 1024 + 17)(i => (i * 31 + 7).toByte)
    Filestore.write(spark, uri, payload)
    val back = Filestore.read(spark, uri)
    assert(java.util.Arrays.equals(back, payload))
    assert(Filestore.size(spark, uri) == payload.length.toLong)
    val out = TestSession.tmpDir("fs-out") + "/file.bin"
    Filestore.copyTo(spark, uri, out)
    assert(VFS(spark).fileSize(out) == payload.length.toLong)
  }

  test("float-scale filter encodes/decodes losslessly at its precision") {
    val df = Seq(1.25, 2.50, -3.75).toDF("v")
    val enc = df.select(Filters.floatScaleEncode($"v", 0.25, 0.0).as("e"))
    assert(enc.as[Long].collect().toSeq == Seq(5L, 10L, -15L))
    val dec = enc.select(Filters.floatScaleDecode($"e", 0.25, 0.0).as("d"))
    assert(dec.as[Double].collect().toSeq == Seq(1.25, 2.50, -3.75))
    assert(Filters.compressionCodec(Seq("noop", "zstd")).contains("zstd"))
    assert(Filters.compressionCodec(Seq("bit-shuffle")).isEmpty)
  }

  test("current_domain bounds writes; expand allows more") {
    val uri = TestSession.tmpDir("cd")
    val schema = ArraySchema(
      dims = Seq(Dim("x", "int64", Some(("0", "1000")))),
      attrs = Seq(Attr("v", "float64")),
      currentDomain = Some(Map("x" -> ("0", "10"))))
    ArrayTable.create(spark, uri, schema)
    ArrayTable.write(spark, Seq((5L, 1.0)).toDF("x", "v"), uri, Some(100L))
    assertThrows[RuntimeException] {
      ArrayTable.write(spark, Seq((50L, 1.0)).toDF("x", "v"), uri, Some(200L))
    }
    assert(ArrayTable.read(spark, uri).count() == 1) // failed fragment removed
    ArrayTable.expandCurrentDomain(spark, uri, Map("x" -> ("0", "100")))
    ArrayTable.write(spark, Seq((50L, 1.0)).toDF("x", "v"), uri, Some(300L))
    assert(ArrayTable.read(spark, uri).count() == 2)
  }

  test("hilbert index: bijective on a grid, locality beats row-major on tail dims") {
    val bits = 4
    val pts = for (x <- 0L until 16L; y <- 0L until 16L) yield (x, y)
    val idx = pts.map { case (x, y) => HilbertIndex.index(Array(x, y), bits) }
    assert(idx.distinct.size == 256) // bijection over the grid
    assert(idx.forall(i => i >= 0 && i < 256))
    // locality: consecutive hilbert cells are adjacent in space
    val byIdx = pts.zip(idx).sortBy(_._2).map(_._1)
    val steps = byIdx.sliding(2).map { case Seq((ax, ay), (bx, by)) =>
      math.abs(ax - bx) + math.abs(ay - by) }.toSeq
    assert(steps.forall(_ == 1)) // true Hilbert curve: unit steps only
  }

  test("hilbert cell order writes and reads back complete") {
    val uri = TestSession.tmpDir("hilb")
    val schema = ArraySchema(
      dims = Seq(Dim("x", "int64", Some(("0", "63"))), Dim("y", "int64", Some(("0", "63")))),
      attrs = Seq(Attr("v", "float64")),
      cellOrder = "hilbert")
    ArrayTable.create(spark, uri, schema)
    val df = (for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y, x * 100.0 + y))
      .toDF("x", "y", "v")
    ArrayTable.write(spark, df, uri, Some(100L))
    assert(ArrayTable.read(spark, uri).count() == 1024)
    assert(ArrayTable.read(spark, uri, ranges = Map("x" -> (Some(0L), Some(3L))))
      .count() == 4 * 32)
  }

  test("bloom filter pipeline lands in the parquet footer; codec applies") {
    val uri = TestSession.tmpDir("bloomfrag")
    val schema = ArraySchema(
      dims = Seq(Dim("x", "int64")),
      attrs = Seq(
        Attr("v", "int64", filters = Seq("zstd", "bloom")),
        Attr("s", "utf8", isVar = true)))
    ArrayTable.create(spark, uri, schema)
    val df = (1L to 2000L).map(i => (i, i * 7L, s"s$i")).toDF("x", "v", "s")
    ArrayTable.write(spark, df, uri, Some(100L))
    // open the written fragment file with parquet-mr and inspect
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val dataDir = new org.apache.hadoop.fs.Path(
      ArrayTable.fragments(spark, uri).head.path + "/data")
    val file = dataDir.getFileSystem(conf).listStatus(dataDir)
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try {
      val rg = reader.getFooter.getBlocks.get(0)
      val cols = rg.getColumns.asScala.map(c => c.getPath.toDotString -> c).toMap
      assert(cols("v").getCodec.toString.toLowerCase.contains("zstd"), cols("v").getCodec)
      val bloomReader = reader.getBloomFilterDataReader(rg)
      assert(bloomReader.readBloomFilter(cols("v")) != null,
        "bloom filter missing for attr with 'bloom' in its pipeline")
      assert(bloomReader.readBloomFilter(cols("s")) == null,
        "no bloom expected for attrs without the filter")
    } finally reader.close()
    // round-trip unaffected
    assert(ArrayTable.read(spark, uri).count() == 2000L)
  }

  test("stats listener collects and dumps") {
    Stats.enable(spark)
    Stats.reset()
    spark.read.parquet(s"$sf/region.parquet").count()
    // QueryExecutionListener is async; poll briefly
    val deadline = System.currentTimeMillis() + 10000
    while (Stats.collected.isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(Stats.collected.nonEmpty)
    assert(Stats.dump().contains("graft query stats"))
    Stats.disable(spark)
    val q = spark.read.parquet(s"$sf/region.parquet").filter($"r_regionkey" > 1)
    assert(Stats.queryStats(q).contains("sizeInBytes"))
  }

  test("operator counters surface executor-side cap drops in the dump") {
    Stats.reset()
    // one bucket of 40 ids with cap 8 -> every pair dropped, counted
    val banded = (0 until 40).map(i => (i.toLong, 0, 7L))
      .toDF("__id", "__band", "__bucket")
    val pairs = graft.ops.Dedup.bucketedPairs(banded, maxBucket = 8)
    assert(pairs.count() == 0)
    assert(Stats.counterValue("dedup.lsh_buckets_dropped") == 1L)
    assert(Stats.counterValue("dedup.lsh_rows_in_dropped_buckets") == 40L)
    assert(Stats.dump().contains("dedup.lsh_buckets_dropped"))
    // an under-cap bucket increments nothing further
    Stats.reset()
    val small = (0 until 4).map(i => (i.toLong, 0, 7L))
      .toDF("__id", "__band", "__bucket")
    assert(graft.ops.Dedup.bucketedPairs(small, maxBucket = 8).count() == 6)
    assert(Stats.counterValue("dedup.lsh_buckets_dropped") == 0L)
    assert(Stats.countersSnapshot.values.forall(_ == 0L))
  }

  test("VFS.lsFilesRecursive: the listStatus walk lists what listFiles lists, " +
    "sorted, with _SUCCESS and checksum siblings in a nested tree") {
    val root = TestSession.tmpDir("vfs-walk")
    // a spark write leaves _SUCCESS plus .crc siblings (the local FS
    // hides those) under nested partition dirs
    Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "p").write.partitionBy("p").parquet(s"$root/t")
    val fs = VFS(spark)
    fs.writeString(s"$root/top.json", "{}")
    fs.writeString(s"$root/x/y/z/deep.txt", "deep")
    fs.mkdirs(s"$root/empty/dir")
    val hpath = new org.apache.hadoop.fs.Path(root)
    val hfs = hpath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = hfs.listFiles(hpath, true)
    val want = Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.toString).toSeq
    val got = fs.lsFilesRecursive(root)
    assert(got == want.sorted, s"walk $got\nlistFiles ${want.sorted}")
    assert(got.exists(_.endsWith("/t/_SUCCESS")) && got.exists(_.endsWith("/deep.txt")) &&
      Seq("/p=a/", "/p=b/").forall(d => got.exists(f => f.contains(d) && f.endsWith(".parquet"))),
      got)
    assert(new java.io.File(s"$root/t/._SUCCESS.crc").exists() && !got.exists(_.endsWith(".crc")),
      s"checksum files must stay hidden as listFiles hides them: $got")
    assert(fs.lsFilesRecursive(s"$root/missing").isEmpty)
    assert(fs.lsFilesRecursive(s"$root/top.json") == want.filter(_.endsWith("/top.json")))
  }
}
