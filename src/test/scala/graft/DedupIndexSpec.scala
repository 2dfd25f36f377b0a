package graft

import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import graft.ops.{Dedup, DedupIndex}

class DedupIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus = spark.read.parquet(s"$sf/documents.parquet")
    .select("doc_id", "text")

  private lazy val indexUri = {
    val uri = TestSession.tmpDir("minhash-index")
    DedupIndex.build(corpus, "doc_id", "text", uri)
    uri
  }

  // batch: 30 planted near-dups of corpus docs + 5 fresh docs with
  // content no corpus doc resembles
  private lazy val batch = {
    val planted = corpus.orderBy("doc_id").limit(30)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("text", concat(col("text"), lit(" xyzzy")))
    val fresh = (0 until 5).map(i => (2000000L + i,
      s"completely unrelated fresh content block $i qwertyuiop asdfghjkl " +
        s"zxcvbnm unique token salad ${i * 37}")).toDF("doc_id", "text")
    planted.unionByName(fresh)
  }

  // string-id twin of the fixture: PointIndex serves only long ids, so
  // probes of this index take the scan path
  private def asStrIds(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("doc_id", col("doc_id").cast("string"))

  private lazy val strIndexUri = {
    val uri = TestSession.tmpDir("minhash-index-strid")
    DedupIndex.build(asStrIds(corpus), "doc_id", "text", uri)
    uri
  }

  test("probe finds planted near-dups, leaves fresh docs unmatched") {
    val matches = DedupIndex.probe(batch, "doc_id", "text", indexUri,
      threshold = 0.6).collect()
    val matchedIds = matches.map(_.getLong(0)).toSet
    // every planted doc matches at least its own source doc
    val planted = batch.filter(col("doc_id") < 2000000L)
      .select("doc_id").as[Long].collect().toSet
    assert(planted.subsetOf(matchedIds),
      s"missed planted dups: ${planted -- matchedIds}")
    // planted docs match their exact source among the matches
    val selfPairs = matches.filter(r => r.getLong(1) == r.getLong(0) - 1000000L)
    assert(selfPairs.length == planted.size)
    // fresh docs match nothing
    assert(matches.forall(_.getLong(0) < 2000000L), "fresh doc matched corpus")
  }

  test("probe agrees with the one-shot batch path on the same corpus") {
    // one-shot: union corpus+batch, near-dup pairs crossing the boundary
    val all = corpus.unionByName(batch)
    val oneShot = Dedup.minhashNearDups(all, "doc_id", "text", threshold = 0.6)
      .filter((col("a") >= 1000000L) =!= (col("b") >= 1000000L))
      .select(greatest(col("a"), col("b")).as("id"),
        least(col("a"), col("b")).as("match_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaIndex = DedupIndex.probe(batch, "doc_id", "text", indexUri,
        threshold = 0.6, verifyWith = Some(corpus))
      .select("id", "match_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaIndex == oneShot,
      s"index-probe vs one-shot mismatch: only-index=${viaIndex -- oneShot} " +
        s"only-oneshot=${oneShot -- viaIndex}")
  }

  test("exact verification tightens estimate-only matches") {
    val estOnly = DedupIndex.probe(batch, "doc_id", "text", indexUri, threshold = 0.6)
    val verified = DedupIndex.probe(batch, "doc_id", "text", indexUri,
      threshold = 0.6, verifyWith = Some(corpus))
    assert(verified.columns.contains("jaccard"))
    // verified matches are a subset of est-threshold candidates' keyspace
    val v = verified.select("id", "match_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = estOnly.select("id", "match_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(v.nonEmpty && e.nonEmpty)
    // exact jaccard of planted " xyzzy" suffix edits stays >= 0.6, so
    // the self pairs survive verification
    assert(v.count { case (a, b) => b == a - 1000000L } == 30)
  }

  test("dropAgainstIndex removes dups, keeps fresh docs") {
    val kept = DedupIndex.dropAgainstIndex(batch, "doc_id", "text", indexUri,
      threshold = 0.6).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2000000L, 2000001L, 2000002L, 2000003L, 2000004L))
  }

  test("append extends the index incrementally") {
    val uri = TestSession.tmpDir("minhash-index-app")
    // index over the first half, append the second half
    val half1 = corpus.filter(col("doc_id") % 2 === 0)
    val half2 = corpus.filter(col("doc_id") % 2 === 1)
    DedupIndex.build(half1, "doc_id", "text", uri)
    DedupIndex.append(half2, "doc_id", "text", uri)
    val m = DedupIndex.probe(batch, "doc_id", "text", uri, threshold = 0.6)
      .filter(col("match_id") === col("id") - 1000000L)
    assert(m.count() == 30, "appended-index probe must still find all planted dups")
  }

  test("compact re-clusters appended bucket files; probe results unchanged") {
    val uri = TestSession.tmpDir("minhash-index-cmp")
    DedupIndex.build(corpus.filter(col("doc_id") % 2 === 0), "doc_id", "text", uri)
    DedupIndex.append(corpus.filter(col("doc_id") % 2 === 1), "doc_id", "text", uri)
    def pairs() = DedupIndex.probe(batch, "doc_id", "text", uri, threshold = 0.6)
      .select("id", "match_id").as[(Long, Long)].collect().toSet
    // compact flips the data GENERATION — resolve via liveDataPath;
    // appends live in the INC tier, so count BOTH tiers (the probe's
    // view) and pin that the major compact folds the inc tier away
    def filesIn(path: String) = Option(new java.io.File(
        path.stripPrefix("file:")).listFiles())
      .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
    def dataFiles() = filesIn(DedupIndex.liveDataPath(spark, uri)) +
      filesIn(DedupIndex.liveDataIncPath(spark, uri))
    val before = pairs()
    val filesBefore = dataFiles()
    assert(filesIn(DedupIndex.liveDataIncPath(spark, uri)) > 0,
      "append must land in the inc tier")
    DedupIndex.compact(spark, uri, filesPerBand = 2)
    val filesAfter = dataFiles()
    assert(filesAfter < filesBefore,
      s"compact must shrink the file count ($filesBefore -> $filesAfter)")
    assert(filesIn(DedupIndex.liveDataIncPath(spark, uri)) == 0,
      "major compact must fold the inc tier into the base")
    assert(pairs() == before, "compact must not change probe results")
    // compacted layout matches a from-scratch rebuild pair-for-pair
    val rebuilt = TestSession.tmpDir("minhash-index-rb")
    DedupIndex.build(corpus, "doc_id", "text", rebuilt)
    val fresh = DedupIndex.probe(batch, "doc_id", "text", rebuilt, threshold = 0.6)
      .select("id", "match_id").as[(Long, Long)].collect().toSet
    assert(pairs() == fresh)
  }

  test("minorCompact: folds ONLY the inc tier — base untouched, file " +
    "count bounded, probe results identical") {
    val uri = TestSession.tmpDir("minhash-index-minor")
    DedupIndex.build(corpus.filter(col("doc_id") % 2 === 0), "doc_id", "text", uri)
    // several small appends = several inc files per table
    (0 until 4).foreach(i => DedupIndex.append(
      corpus.filter(col("doc_id") % 8 === 2 * i + 1), "doc_id", "text", uri))
    def pairs() = DedupIndex.probe(batch, "doc_id", "text", uri, threshold = 0.6)
      .select("id", "match_id").as[(Long, Long)].collect().toSet
    def filesIn(path: String) = Option(new java.io.File(
        path.stripPrefix("file:")).listFiles())
      .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
    val expected = pairs()
    assert(expected.nonEmpty)
    val basePathBefore = DedupIndex.liveDataPath(spark, uri)
    val incFilesBefore = filesIn(DedupIndex.liveDataIncPath(spark, uri)) +
      filesIn(DedupIndex.liveSigsIncPath(spark, uri))
    DedupIndex.minorCompact(spark, uri)
    // bounded maintenance: the base generation did not move, the inc
    // tiers flipped to folded generations with fewer files
    assert(DedupIndex.liveDataPath(spark, uri) == basePathBefore,
      "minor fold must not touch the base generation")
    assert(DedupIndex.liveDataIncPath(spark, uri).contains("_v"))
    assert(DedupIndex.liveSigsIncPath(spark, uri).contains("_v"))
    val incFilesAfter = filesIn(DedupIndex.liveDataIncPath(spark, uri)) +
      filesIn(DedupIndex.liveSigsIncPath(spark, uri))
    assert(incFilesAfter < incFilesBefore,
      s"minor fold must shrink inc files ($incFilesBefore -> $incFilesAfter)")
    assert(pairs() == expected, "minor fold must not change probe results")
    // sig rows conserved across the tiers (value-preserving coalesce)
    assert(DedupIndex.readSigsAll(spark, uri).count() == corpus.count())
    // a minor fold then still composes with a major compact
    DedupIndex.compact(spark, uri)
    assert(pairs() == expected)
    // and appends after the fold land in the (reset) inc tier again
    DedupIndex.append(corpus.limit(0), "doc_id", "text", uri)
    assert(pairs() == expected)
  }

  test("compact on an empty bootstrap index: append and probe still work") {
    // the documented streaming bootstrap builds over an EMPTY frame; a
    // maintenance compact firing before the first batch (idle stream)
    // must leave the index probe-able and append-able
    val uri = TestSession.tmpDir("minhash-index-empty")
    DedupIndex.build(corpus.limit(0), "doc_id", "text", uri)
    DedupIndex.compact(spark, uri)
    assert(DedupIndex.probe(batch, "doc_id", "text", uri,
      threshold = 0.6).count() == 0L)
    DedupIndex.append(corpus, "doc_id", "text", uri)
    DedupIndex.compact(spark, uri)
    assert(DedupIndex.probe(batch, "doc_id", "text", uri, threshold = 0.6)
      .filter(col("id") < 2000000L).count() > 0L)
  }

  test("compact is reader-safe: probes concurrent with and interleaved around the flip") {
    val uri = TestSession.tmpDir("minhash-index-rs")
    DedupIndex.build(corpus.filter(col("doc_id") % 2 === 0), "doc_id", "text", uri)
    DedupIndex.append(corpus.filter(col("doc_id") % 2 === 1), "doc_id", "text", uri)
    def pairs() = DedupIndex.probe(batch, "doc_id", "text", uri, threshold = 0.6)
      .select("id", "match_id").as[(Long, Long)].collect().toSet
    val expected = pairs()
    assert(expected.nonEmpty)
    // probes loop in another thread WHILE compact flips the generation
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    @volatile var stop = false
    val reader = Future {
      var n = 0
      while (!stop) { assert(pairs() == expected, "concurrent probe diverged"); n += 1 }
      n
    }
    DedupIndex.compact(spark, uri, filesPerBand = 2)
    stop = true
    val loops = Await.result(reader, scala.concurrent.duration.Duration("120s"))
    assert(loops > 0, "reader thread never completed a probe")
    // a reader that RESOLVED before a flip keeps a complete directory:
    // the previous generation survives as the grace copy
    val preResolved = spark.read.parquet(
      DedupIndex.liveDataPath(spark, uri))
    val nRows = preResolved.count()
    DedupIndex.compact(spark, uri, filesPerBand = 1)
    assert(preResolved.count() == nRows, "pre-flip reader lost its directory")
    assert(pairs() == expected, "post-flip probe diverged")
    // a crashed, uncommitted generation attempt is invisible to readers
    // and retired by the next compact
    val fake = s"$uri/data_v9"
    graft.storage.VFS(spark).mkdirs(fake)
    assert(pairs() == expected, "uncommitted leftover changed probe results")
    DedupIndex.compact(spark, uri, filesPerBand = 1)
    assert(!graft.storage.VFS(spark).exists(fake), "crashed attempt not retired")
    assert(pairs() == expected)
  }

  test("probe plan: bucket isin prunes the index scan (cached: in-memory " +
    "batch stats; uncached: parquet pushdown), index never shuffles") {
    // pins the SCAN path's plan shapes over the string-id twin (the
    // point path has its own spec); base tiers are never cached, so
    // only the parquet-pushdown arm of the title remains
    Seq(DedupIndex.readDataAll(spark, strIndexUri),
        DedupIndex.readSigsAll(spark, strIndexUri)).foreach { df =>
      val p = Shim.plannedPhysical(df)
      val mem = p.collect {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
      }
      assert(mem.isEmpty, s"tier read planned over a cached relation:\n$p")
    }
    // the candidate stage holds the bucket-table scan (probe
    // checkpoints it eagerly, truncating lineage in the final frame)
    val df = DedupIndex.candidatePairsFor(asStrIds(batch), "doc_id", "text",
      strIndexUri)
    val plan = Shim.plannedPhysical(df)
    // a parquet scan of the tier with the In literal PUSHED to footers
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.metadata.get("Location").exists(l =>
            l.contains("minhash-index") && l.contains("/data")) => s
    }
    assert(scans.nonEmpty, s"no index bucket-table scan found:\n$plan")
    scans.foreach { s =>
      val pushed = s.metadata.getOrElse("PushedFilters", "")
      assert(pushed.contains("In(bucket") || pushed.contains("In(`bucket`"),
        s"bucket probe not pushed: $pushed")
    }
    // the CANDIDATE join broadcasts the batch side and streams the
    // index scan with NO exchange in between (the index rows are
    // consumed map-side, never shuffled or sorted). The probe-scale
    // bucket-cap counts legitimately aggregate the pruned scan — so
    // the assertion is existential: some broadcast join reaches a
    // scan exchange-free.
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(joins.nonEmpty, s"no broadcast join in probe plan:\n$plan")
    val mapSide = joins.exists { j =>
      val streamed = if (j.buildSide.toString.contains("Right")) j.left else j.right
      val exch = streamed.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e }
      val scan = streamed.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      exch.isEmpty && scan.nonEmpty
    }
    assert(mapSide, s"no exchange-free index-scan join in probe plan:\n$plan")
    // the one pair-distinct shuffle above the join ships narrow rows:
    // no signature arrays ride it
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.nonEmpty)
    shuffles.foreach { e =>
      val wide = e.output.filter(_.dataType.isInstanceOf[
        org.apache.spark.sql.types.ArrayType])
      assert(wide.isEmpty, s"signature array rides the pair shuffle: ${e.output}")
    }
  }

  test("above maxProbeKeys: semi-join path, no giant In literal, same matches") {
    // scan path via the string-id twin: force the semi-join with a tiny
    // key budget — the plan must carry a broadcast LEFT SEMI join on
    // bucket instead of a literal In, and the matches must be identical
    // to the pushdown path's
    val strBatch = asStrIds(batch)
    val plan = Shim.plannedPhysical(
      DedupIndex.candidatePairsFor(strBatch, "doc_id", "text", strIndexUri,
        maxProbeKeys = 3))
    val viaSemi = DedupIndex.probe(strBatch, "doc_id", "text", strIndexUri,
      threshold = 0.6, maxProbeKeys = 3)
    val inLiterals = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.metadata.get("Location").exists(_.contains("minhash-index")) =>
        s.metadata.getOrElse("PushedFilters", "")
    }
    assert(inLiterals.nonEmpty, s"no index scan:\n$plan")
    inLiterals.foreach(p => assert(!p.contains("In(bucket") && !p.contains("In(`bucket`"),
      s"In literal survived above maxProbeKeys: ${p.take(200)}"))
    val semis = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if j.joinType.toString == "LeftSemi" => j
    }
    assert(semis.nonEmpty, s"no broadcast semi-join on bucket:\n$plan")
    val viaIsin = DedupIndex.probe(strBatch, "doc_id", "text", strIndexUri,
      threshold = 0.6)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "match_id").as[(String, String)].collect().toSet
    assert(pairs(viaSemi) == pairs(viaIsin))
  }

  test("degenerate buckets are dropped at build, probes stay bounded") {
    val uri = TestSession.tmpDir("minhash-index-cap")
    // 200 identical boilerplate docs (one dense bucket per band) + 10
    // distinct docs
    val boiler = (0 until 200).map(i => (i.toLong,
      "exactly the same boilerplate text repeated in every copy of this notice"))
    val real = (0 until 10).map(i => (1000L + i,
      s"genuinely distinct document body number $i with its own words ${i * 31}"))
    val corpus = (boiler ++ real).toDF("doc_id", "text")
    DedupIndex.build(corpus, "doc_id", "text", uri, maxBucket = 64)
    // probing with a copy of the boilerplate finds NOTHING (the dense
    // bucket was dropped — same as Dedup.bucketedPairs semantics);
    // probing with a near-copy of a distinct doc still matches it
    val probeBatch = Seq(
      (9001L, "exactly the same boilerplate text repeated in every copy of this notice"),
      (9002L, "genuinely distinct document body number 3 with its own words 93 zz"))
      .toDF("doc_id", "text")
    val m = DedupIndex.probe(probeBatch, "doc_id", "text", uri, threshold = 0.5)
      .collect()
    assert(!m.exists(_.getLong(0) == 9001L), s"dense bucket leaked pairs: ${m.toSeq}")
    assert(m.exists(r => r.getLong(0) == 9002L && r.getLong(1) == 1003L),
      s"distinct doc not matched: ${m.toSeq}")
  }

  test("at-cap buckets: probe replicates the one-shot corpus∪batch cap") {
    val uri = TestSession.tmpDir("minhash-index-atcap")
    // exactly 64 identical docs: AT the cap, so build KEEPS the bucket
    val boiler = "borderline bucket density document body repeated exactly " +
      "sixty four times across this synthetic corpus for the cap parity test"
    val corpus = (0 until 64).map(i => (i.toLong, boiler)).toDF("doc_id", "text")
    DedupIndex.build(corpus, "doc_id", "text", uri, maxBucket = 64)
    assert(spark.read.parquet(s"$uri/data").count() > 0, "at-cap bucket must be kept")
    // one more copy pushes corpus∪batch to 65 — the one-shot path drops
    // the bucket whole, so the probe must emit NOTHING for this doc
    val batch = Seq((999L, boiler)).toDF("doc_id", "text")
    val viaIndex = DedupIndex.probe(batch, "doc_id", "text", uri, threshold = 0.5)
    assert(viaIndex.count() == 0, viaIndex.collect().toSeq.toString)
    val oneShot = Dedup.minhashNearDups(corpus.unionByName(batch), "doc_id", "text",
      threshold = 0.5).filter(col("a") === 999L || col("b") === 999L)
    assert(oneShot.count() == 0)
  }

  test("saturated probe counts its suppressed groups — never silent") {
    val uri = TestSession.tmpDir("minhash-index-suppress")
    // exactly at-cap corpus bucket; one probe doc pushes corpus∪batch
    // over, so the probe suppresses the group — and must COUNT it, the
    // probe-side analogue of dedup.lsh_buckets_dropped
    val boiler = "borderline bucket density document body repeated exactly " +
      "sixty four times across this synthetic corpus for the cap parity test"
    val corpus64 = (0 until 64).map(i => (i.toLong, boiler)).toDF("doc_id", "text")
    DedupIndex.build(corpus64, "doc_id", "text", uri, maxBucket = 64)
    graft.core.Stats.reset()
    val hot = Seq((999L, boiler)).toDF("doc_id", "text")
    assert(DedupIndex.probe(hot, "doc_id", "text", uri, threshold = 0.5)
      .count() == 0L)
    val suppressed = graft.core.Stats.counterValue(
      "dedup_index.probe_groups_suppressed")
    assert(suppressed > 0L, "saturated probe must count suppressed groups")
    // an unsaturated probe touches no counter
    graft.core.Stats.reset()
    val cool = Seq((998L,
      "completely different content touching no dense bucket at all zz"))
      .toDF("doc_id", "text")
    DedupIndex.probe(cool, "doc_id", "text", uri, threshold = 0.5).count()
    assert(graft.core.Stats.counterValue(
      "dedup_index.probe_groups_suppressed") == 0L)
  }

  test("empty append writes nothing; minor fold skips a zero-row inc tier") {
    val uri = TestSession.tmpDir("minhash-index-idle")
    DedupIndex.build(corpus.limit(10), "doc_id", "text", uri)
    def incListing() =
      graft.storage.VersionedDir.liveListing(graft.storage.VFS(spark),
        uri, "data_inc") ++
      graft.storage.VersionedDir.liveListing(graft.storage.VFS(spark),
        uri, "sigs_inc")
    // an idle stream's all-duplicate batch appends an EMPTY frame: no
    // files may land in either inc tier
    DedupIndex.append(corpus.limit(0), "doc_id", "text", uri)
    assert(incListing().isEmpty, s"empty append left files: ${incListing()}")
    // legacy zero-row inc files (written before the skip existed): the
    // minor fold must NOT rewrite/flip an empty generation over them
    corpus.limit(0).select(lit(0).as("band"), lit(0L).as("bucket"),
        lit(0L).as("id"))
      .coalesce(1).write.mode("append")
      .parquet(DedupIndex.liveDataIncPath(spark, uri))
    val dataIncBefore = DedupIndex.liveDataIncPath(spark, uri)
    DedupIndex.minorCompact(spark, uri)
    assert(DedupIndex.liveDataIncPath(spark, uri) == dataIncBefore,
      "minor fold must not flip a generation for zero rows")
    // probes remain correct throughout
    assert(DedupIndex.probe(batch, "doc_id", "text", uri, threshold = 0.6)
      .count() >= 0L)
  }

  test("a point-path probe with pending incs starts no schema-inference job") {
    val uri = TestSession.tmpDir("minhash-index-noinfer")
    DedupIndex.build(corpus.filter(col("doc_id") % 2 === 0), "doc_id", "text", uri)
    DedupIndex.append(corpus.filter(col("doc_id") % 2 === 1 && col("doc_id") < 40),
      "doc_id", "text", uri)
    val fs = graft.storage.VFS(spark)
    Seq(DedupIndex.liveDataIncPath(spark, uri), DedupIndex.liveSigsIncPath(spark, uri))
      .foreach(inc => assert(graft.storage.VersionedDir.hasDataFiles(
        fs.lsFilesRecursive(inc).toSet), s"no pending inc rows at $inc"))
    graft.core.Stats.reset()
    // the first probe also builds both base tiers' point maps
    val (matched, jobs) = jobsOf(DedupIndex.probe(batch, "doc_id", "text", uri,
      threshold = 0.6).filter(col("match_id") === col("id") - 1000000L).count())
    assert(graft.core.Stats.counterValue("pointindex.misses") == 2L,
      "probe did not take the point path on both tiers")
    val inferring = jobs.filter(_.exists(_.startsWith("parquet at")))
    assert(inferring.isEmpty, s"schema-inference job(s): ${inferring.mkString("; ")}")
    assert(matched == 30L, "every planted dup's source is indexed")
  }

  test("params mismatch is loud") {
    assertThrows[Exception] {
      DedupIndex.readParams(spark, TestSession.tmpDir("no-such-index"))
    }
  }
}
