package graft

import graft.ops.Search
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._

class SearchSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the cat sat on the mat"),
    (1L, "the dog sat on the log"),
    (2L, "cats and dogs and cats"),
    (3L, "an entirely unrelated sentence about spark"),
    (4L, "")).toDF("doc_id", "text")

  test("termsOf: lowercases, splits on non-word runs, drops empties") {
    val t = Seq("The CAT, sat!  on %% the mat.").toDF("x")
      .select(Search.termsOf($"x")).as[Seq[String]].head()
    assert(t == Seq("the", "cat", "sat", "on", "the", "mat"))
    val empty = Seq("", "  ,,, ").toDF("x")
      .select(Search.termsOf($"x")).as[Seq[String]].collect()
    assert(empty.forall(_.isEmpty))
  }

  test("postings: tf and dl from one grouping; empty docs emit nothing") {
    val p = Search.postings(docs, "doc_id", "text")
    val row = p.filter($"doc_id" === 0L && $"term" === "the").head()
    assert(row.getAs[Long]("tf") == 2L && row.getAs[Long]("dl") == 6L)
    assert(p.filter($"doc_id" === 4L).count() == 0L)
    // one row per (doc, term)
    assert(p.groupBy("doc_id", "term").count().filter($"count" > 1).count() == 0L)
  }

  test("bm25: exact hand-computed score for a single-term query") {
    // corpus: N=5 docs, sum dl = 6+6+5+6+0 = 23, avgdl = 23/5
    // term "cat": df=1 (doc 0), tf=1, dl=6
    val q = Seq((100L, "cat")).toDF("qid", "qtext")
    val got = Search.bm25Scores(docs, "doc_id", "text", q, "qid", "qtext")
      .select($"query_id", $"doc_id", $"score").as[(Long, Long, Double)].collect()
    assert(got.length == 1 && got(0)._1 == 100L && got(0)._2 == 0L)
    val n = 5.0; val df = 1.0; val tf = 1.0; val dl = 6.0; val avgdl = 23.0 / 5
    val idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
    val expect = idf * tf * 2.25 / (tf + 1.25 * (0.25 + 0.75 * dl / avgdl))
    assert(math.abs(got(0)._3 - expect) < 1e-12, s"got ${got(0)._3} want $expect")
  }

  test("bm25: rarer terms outscore common ones; tf saturates sublinearly") {
    val q = Seq((1L, "spark"), (2L, "sat")).toDF("qid", "qtext")
    val s = Search.bm25Scores(docs, "doc_id", "text", q, "qid", "qtext")
      .select($"query_id", $"score").as[(Long, Double)].collect().toMap
    assert(s(1L) > s(2L), s"idf of df=1 'spark' ${s(1L)} must beat df=2 'sat' ${s(2L)}")
    // doc 2 has tf=2 for "cats": score grows with tf but less than 2x
    val q2 = Seq((9L, "cats")).toDF("qid", "qtext")
    val tf2 = Search.bm25Scores(docs, "doc_id", "text", q2, "qid", "qtext")
      .select($"score").as[Double].head()
    val oneTf = Search.bm25Scores(
      docs.withColumn("text", regexp_replace($"text", "and cats$", "")),
      "doc_id", "text", q2, "qid", "qtext").select($"score").as[Double].head()
    assert(tf2 > oneTf && tf2 < 2 * oneTf)
  }

  test("bm25TopK: multi-term queries rank, k bounds, deterministic ties") {
    val q = Seq((0L, "cat dog sat")).toDF("qid", "qtext")
    val top = Search.bm25TopK(docs, "doc_id", "text", q, "qid", "qtext", k = 2)
      .orderBy($"rank").select($"doc_id", $"rank").as[(Long, Long)].collect()
    assert(top.length == 2 && top.map(_._2).toSeq == Seq(1L, 2L))
    // docs 0 and 1 are symmetric for this query (cat vs dog, same tf/dl):
    // equal rounded scores must tie-break to the smaller doc_id first
    assert(top(0)._1 == 0L || top(0)._1 == 1L)
    val both = Search.bm25TopK(docs, "doc_id", "text", q, "qid", "qtext", k = 4)
      .orderBy($"rank").select($"doc_id", $"score").as[(Long, Double)].collect()
    assert(both(0)._2 == both(1)._2, "symmetric docs score identically")
    assert(both(0)._1 == 0L && both(1)._1 == 1L, "equal scores order by doc_id")
  }

  test("requireAllTerms: AND semantics over corpus-present terms") {
    def top(qtext: String) = Search.bm25TopK(docs, "doc_id", "text",
        Seq((1L, qtext)).toDF("qid", "qtext"), "qid", "qtext", k = 10,
        requireAllTerms = true)
      .select($"doc_id").as[Long].collect().toSet
    assert(top("cat mat") == Set(0L), "only doc 0 has both terms")
    assert(top("cat dog") == Set.empty[Long], "no doc has both")
    // a term absent from the corpus can't be required of any doc
    assert(top("cat zzzqqq") == Set(0L))
    // scores are unchanged from OR mode for surviving docs
    val andScore = Search.bm25TopK(docs, "doc_id", "text",
      Seq((1L, "cat mat")).toDF("qid", "qtext"), "qid", "qtext", k = 10,
      requireAllTerms = true).select($"score").as[Double].head()
    val orScore = Search.bm25TopK(docs, "doc_id", "text",
      Seq((1L, "cat mat")).toDF("qid", "qtext"), "qid", "qtext", k = 10)
      .filter($"doc_id" === 0L).select($"score").as[Double].head()
    assert(andScore == orScore)
  }

  test("maxDfFraction: high-df terms elide; rare terms keep exact scores") {
    // "sat" has df 2/5 = 0.4; "cat" df 1/5 = 0.2
    val q = Seq((1L, "sat cat")).toDF("qid", "qtext")
    val full = Search.bm25Scores(docs, "doc_id", "text", q, "qid", "qtext")
      .select($"doc_id", $"score").as[(Long, Double)].collect().toMap
    val elided = Search.bm25Scores(docs, "doc_id", "text", q, "qid", "qtext",
        maxDfFraction = 0.3)
      .select($"doc_id", $"score").as[(Long, Double)].collect().toMap
    val catOnly = Search.bm25Scores(docs, "doc_id", "text",
        Seq((1L, "cat")).toDF("qid", "qtext"), "qid", "qtext")
      .select($"doc_id", $"score").as[(Long, Double)].collect().toMap
    assert(elided == catOnly, "eliding 'sat' must leave exactly the 'cat' scores")
    assert(full.keySet == Set(0L, 1L) && elided.keySet == Set(0L))
  }

  test("tfidfKeywords: distinctive terms outrank ubiquitous ones") {
    // "the" is in every doc (idf = ln(1) = 0 -> score 0, never a top
    // keyword over positive scores); each doc's unique word wins
    val corpus = Seq(
      (0L, "the zebra zebra runs the field"),
      (1L, "the quasar shines in the field"),
      (2L, "the fossil sits in the field")).toDF("doc_id", "text")
    val kw = Search.tfidfKeywords(corpus, "doc_id", "text", k = 2)
      .select($"doc_id", $"term", $"rank").as[(Long, String, Long)]
      .collect().toSeq
    val first = kw.filter(_._3 == 1L).map(r => r._1 -> r._2).toMap
    assert(first == Map(0L -> "zebra", 1L -> "quasar", 2L -> "fossil"), first)
    // exactly k rows per doc, ranked 1..k
    assert(kw.groupBy(_._1).forall(_._2.map(_._3).sorted == Seq(1L, 2L)))
    // "the" never outranks a positive-idf term
    assert(!kw.exists(r => r._2 == "the" && r._3 == 1L))
  }

  test("elision and hot-term probes are counted, never silent") {
    graft.core.Stats.reset()
    // "the" df 2/5 = 0.4 > HotTermDfFraction: a hot-term probe even
    // with elision off
    val q = Seq((1L, "the cat")).toDF("qid", "qtext")
    Search.bm25Scores(docs, "doc_id", "text", q, "qid", "qtext").count()
    assert(graft.core.Stats.counterValue("bm25.hot_terms_probed") == 1L)
    assert(graft.core.Stats.counterValue("bm25.query_terms_elided") == 0L)
    // with elision on, the same term is counted as elided
    graft.core.Stats.reset()
    Search.bm25Scores(docs, "doc_id", "text", q, "qid", "qtext",
      maxDfFraction = 0.3).count()
    assert(graft.core.Stats.counterValue("bm25.query_terms_elided") == 1L)
    // a cool query touches no counter
    graft.core.Stats.reset()
    Search.bm25Scores(docs, "doc_id", "text",
      Seq((1L, "cat")).toDF("qid", "qtext"), "qid", "qtext").count()
    assert(graft.core.Stats.counterValue("bm25.hot_terms_probed") == 0L)
  }

  test("bm25 index: probe equals inline pair-for-pair; append equals rebuild") {
    val uri = s"target/test-bm25-idx-${System.nanoTime()}"
    val q = Seq((0L, "cat dog sat"), (1L, "spark sentence")).toDF("qid", "qtext")
    try {
      Search.buildIndex(docs, "doc_id", "text", uri, buckets = 8)
      val inline = Search.bm25TopK(docs, "doc_id", "text", q, "qid", "qtext", k = 5)
      val idx = Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 5)
      val cols = Seq($"query_id", $"doc_id", $"score", $"rank")
      assert(idx.select(cols: _*).exceptAll(inline.select(cols: _*)).count() == 0L &&
        inline.select(cols: _*).exceptAll(idx.select(cols: _*)).count() == 0L)
      // append shifts df/avgdl for EVERYONE, exactly like a rebuild
      val batch = Seq((50L, "a freshly appended cat sentence")).toDF("doc_id", "text")
      Search.appendBatchToIndex(batch, "doc_id", "text", uri, "batch-1")
      val inlineAll = Search.bm25TopK(docs.unionByName(batch), "doc_id", "text",
        q, "qid", "qtext", k = 5)
      val idxAll = Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 5)
      assert(idxAll.select(cols: _*).exceptAll(inlineAll.select(cols: _*)).count() == 0L &&
        inlineAll.select(cols: _*).exceptAll(idxAll.select(cols: _*)).count() == 0L)
      // the appended doc is actually retrievable
      assert(idxAll.filter($"doc_id" === 50L).count() > 0)
    } finally graft.storage.VFS(spark).delete(uri)
  }

  test("bm25 batch appends: idempotent replay, compact folds, probes stay exact") {
    val uri = s"target/test-bm25-inc-${System.nanoTime()}"
    val q = Seq((0L, "cat dog sat"), (1L, "appended spark")).toDF("qid", "qtext")
    val cols = Seq($"query_id", $"doc_id", $"score", $"rank")
    def same(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame) =
      x.select(cols: _*).exceptAll(y.select(cols: _*)).count() == 0L &&
        y.select(cols: _*).exceptAll(x.select(cols: _*)).count() == 0L
    try {
      Search.buildIndex(docs, "doc_id", "text", uri, buckets = 8)
      val b1 = Seq((50L, "an appended cat doc")).toDF("doc_id", "text")
      val b2 = Seq((51L, "another appended spark doc")).toDF("doc_id", "text")
      Search.appendBatchToIndex(b1, "doc_id", "text", uri, "batch-1")
      // REPLAY of the same tag must be a no-op in effect
      Search.appendBatchToIndex(b1, "doc_id", "text", uri, "batch-1")
      Search.appendBatchToIndex(b2, "doc_id", "text", uri, "batch-2")
      val full = docs.unionByName(b1).unionByName(b2)
      val inline = Search.bm25TopK(full, "doc_id", "text", q, "qid", "qtext", k = 5)
      val probed = Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 5)
      assert(same(probed, inline), "probe over base+batches must equal inline")
      Search.compactIndex(spark, uri)
      val compacted = Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 5)
      assert(same(compacted, inline), "probe after compact must equal inline")
      // the folded generation carries its own stats; a crashed
      // not-yet-deleted inc dir with a folded tag must not double-count
      graft.storage.VFS(spark).writeString(
        s"$uri/postings_inc/batch-1/_stats.json", "{\"nDocs\":1,\"sumDl\":4}")
      val ghost = Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 5)
      assert(same(ghost, inline), "re-materialized folded tag must be ignored")
      // compact with nothing pending is a no-op
      Search.compactIndex(spark, uri)
      assert(same(Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 5), inline))
    } finally graft.storage.VFS(spark).delete(uri)
  }

  test("minorCompactIndex: bounded fold — base untouched, pending dirs " +
    "collapse to one fold dir, probes stay exact through every transition") {
    val uri = s"target/test-bm25-minor-${System.nanoTime()}"
    val q = Seq((0L, "cat dog sat"), (1L, "appended spark")).toDF("qid", "qtext")
    val cols = Seq($"query_id", $"doc_id", $"score", $"rank")
    def same(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame) =
      x.select(cols: _*).exceptAll(y.select(cols: _*)).count() == 0L &&
        y.select(cols: _*).exceptAll(x.select(cols: _*)).count() == 0L
    val fs = graft.storage.VFS(spark)
    def incTags() = fs.ls(s"$uri/postings_inc")
      .map(p => p.substring(p.lastIndexOf('/') + 1))
    def probed() = Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 5)
    try {
      Search.buildIndex(docs, "doc_id", "text", uri, buckets = 8)
      val basePath = graft.storage.VersionedDir.resolve(fs, uri, "postings")
      val batches = (1 to 4).map(i => Seq((50L + i,
        s"appended cat doc number $i mentioning spark too")).toDF("doc_id", "text"))
      batches.zipWithIndex.foreach { case (b, i) =>
        Search.appendBatchToIndex(b, "doc_id", "text", uri, s"batch-${i + 1}") }
      val full = batches.foldLeft(docs)(_ unionByName _)
      val inline = Search.bm25TopK(full, "doc_id", "text", q, "qid", "qtext", k = 5)
      assert(same(probed(), inline))
      Search.minorCompactIndex(spark, uri)
      // bounded: the base generation did not move; the pending set
      // collapsed to one fold dir (sources linger one grace cycle)
      assert(graft.storage.VersionedDir.resolve(fs, uri, "postings") == basePath,
        "minor fold must not touch the base generation")
      assert(incTags().exists(_.startsWith("fold-")), incTags().toString)
      assert(same(probed(), inline), "probe after minor fold diverged")
      // a crash-replayed FOLDED tag re-materializes its dir: excluded
      // via the fold's subsumed-tags list, never double-counted
      Search.appendBatchToIndex(batches.head, "doc_id", "text", uri, "batch-1")
      assert(same(probed(), inline), "re-materialized folded tag double-counted")
      // the next maintenance pass retires the grace sources
      Search.minorCompactIndex(spark, uri)
      assert(!incTags().exists(_.startsWith("batch-")),
        s"grace dirs must retire on the next pass: ${incTags()}")
      assert(same(probed(), inline))
      // new appends land NEXT TO the fold; a second fold subsumes both
      // (fold-of-fold — exclusion is transitive, not chain-dependent)
      val b5 = Seq((60L, "a fifth appended doc about spark cats")).toDF("doc_id", "text")
      Search.appendBatchToIndex(b5, "doc_id", "text", uri, "batch-5")
      val inline2 = Search.bm25TopK(full.unionByName(b5), "doc_id", "text",
        q, "qid", "qtext", k = 5)
      assert(same(probed(), inline2))
      Search.minorCompactIndex(spark, uri)
      assert(same(probed(), inline2))
      // a MAJOR after minors folds everything into a new base; pending
      // fold dirs grace one cycle, then a follow-up pass empties the tier
      Search.compactIndex(spark, uri)
      assert(same(probed(), inline2), "probe after major diverged")
      Search.compactIndex(spark, uri)
      assert(incTags().isEmpty, s"inc tier must drain after grace: ${incTags()}")
      assert(same(probed(), inline2))
      // fold tags are maintenance-owned
      val e = intercept[IllegalArgumentException] {
        Search.appendBatchToIndex(b5, "doc_id", "text", uri, "fold-000009")
      }
      assert(e.getMessage.contains("reserved"))
      // empty batches append nothing (no tag-dir churn from idle streams)
      Search.appendBatchToIndex(docs.limit(0), "doc_id", "text", uri, "batch-9")
      assert(incTags().isEmpty)
    } finally fs.delete(uri)
  }

  test("major compact: retired grace dirs stay excluded by the NEW " +
    "genstats, and fold numbers are monotonic across majors") {
    val uri = s"target/test-bm25-retired-${System.nanoTime()}"
    val q = Seq((0L, "cat dog sat"), (1L, "appended spark")).toDF("qid", "qtext")
    val cols = Seq($"query_id", $"doc_id", $"score", $"rank")
    def same(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame) =
      x.select(cols: _*).exceptAll(y.select(cols: _*)).count() == 0L &&
        y.select(cols: _*).exceptAll(x.select(cols: _*)).count() == 0L
    val fs = graft.storage.VFS(spark)
    def incTags() = fs.ls(s"$uri/postings_inc")
      .map(p => p.substring(p.lastIndexOf('/') + 1))
    def probed() = Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 5)
    def genstats() = fs.readString(
      s"${graft.storage.VersionedDir.resolve(fs, uri, "postings")}/_genstats.json")
    try {
      Search.buildIndex(docs, "doc_id", "text", uri, buckets = 8)
      val b1 = Seq((50L, "an appended cat doc")).toDF("doc_id", "text")
      val b2 = Seq((51L, "another appended spark doc")).toDF("doc_id", "text")
      Search.appendBatchToIndex(b1, "doc_id", "text", uri, "batch-1")
      Search.compactIndex(spark, uri) // major #1: batch-1 folded, lingers as grace
      Search.appendBatchToIndex(b2, "doc_id", "text", uri, "batch-2")
      // major #2: batch-1 is RETIRED here (excluded only via the OLD
      // genstats) — the rewritten genstats must still carry its tag,
      // or a crash/probe between the flip and the delete re-exposes it
      Search.compactIndex(spark, uri)
      assert(genstats().contains("batch-1"),
        s"retired grace tag dropped from the new genstats: ${genstats()}")
      val inline = Search.bm25TopK(docs.unionByName(b1).unionByName(b2),
        "doc_id", "text", q, "qid", "qtext", k = 5)
      assert(same(probed(), inline))
      // simulate the crash window: the retired dir re-materializes
      // (same tag, same rows) AFTER the major that retired it — it
      // must stay excluded from stats and scans
      Search.appendBatchToIndex(b1, "doc_id", "text", uri, "batch-1")
      assert(same(probed(), inline),
        "re-materialized retired grace dir double-counted after major")
      Search.compactIndex(spark, uri) // cleanup pass retires the ghost
      assert(incTags().isEmpty, incTags().toString)

      // fold-number monotonicity: fold-000001, then majors that strip
      // every fold tag from the live snapshot — the persisted
      // high-water mark must keep the next fold from reusing 000001
      val mk = (i: Long) => Seq((60L + i, s"fold numbering doc $i spark cat"))
        .toDF("doc_id", "text")
      Search.appendBatchToIndex(mk(1), "doc_id", "text", uri, "nb-1")
      Search.appendBatchToIndex(mk(2), "doc_id", "text", uri, "nb-2")
      Search.minorCompactIndex(spark, uri)
      assert(incTags().contains("fold-000001"), incTags().toString)
      Search.compactIndex(spark, uri) // folds fold-000001 into the base
      Search.compactIndex(spark, uri) // drain: deletes the grace fold dir
      // a major whose snapshot holds NO fold tags rewrites genstats;
      // only the high-water mark remembers 000001 now
      Search.appendBatchToIndex(mk(3), "doc_id", "text", uri, "nb-3")
      Search.compactIndex(spark, uri)
      Search.appendBatchToIndex(mk(4), "doc_id", "text", uri, "nb-4")
      Search.appendBatchToIndex(mk(5), "doc_id", "text", uri, "nb-5")
      Search.minorCompactIndex(spark, uri)
      val folds = incTags().filter(_.startsWith("fold-"))
      assert(folds.nonEmpty && !folds.contains("fold-000001"),
        s"fold counter restarted after majors: $folds")
      val inline2 = Search.bm25TopK(
        (1L to 5L).map(mk).foldLeft(docs.unionByName(b1).unionByName(b2))(_ unionByName _),
        "doc_id", "text", q, "qid", "qtext", k = 5)
      assert(same(probed(), inline2), "probe diverged after numbering sequence")
    } finally fs.delete(uri)
  }

  test("maintenanceAdvice: needsMajor flips as the inc tier outgrows " +
    "the base, resets after a major") {
    val uri = s"target/test-bm25-advice-${System.nanoTime()}"
    try {
      Search.buildIndex(docs.limit(2), "doc_id", "text", uri, buckets = 8)
      val a0 = Search.maintenanceAdvice(spark, uri)
      assert(a0.incFiles == 0 && a0.incBytes == 0L)
      assert(!a0.needsMajor(0.25, 1L), "no inc tier, no major")
      // appends make the inc tier a large fraction of the tiny base
      (1 to 3).foreach(i => Search.appendBatchToIndex(
        docs, "doc_id", "text", uri, s"batch-$i"))
      val a1 = Search.maintenanceAdvice(spark, uri)
      assert(a1.incFiles > 0 && a1.incBytes > 0L)
      assert(a1.needsMajor(0.25, 1L), a1.toString)
      // the absolute floor vetoes ratio-only triggers
      assert(!a1.needsMajor(0.0, Long.MaxValue))
      Search.compactIndex(spark, uri)
      val a2 = Search.maintenanceAdvice(spark, uri)
      assert(!a2.needsMajor(0.25, 1L), a2.toString)
      assert(a2.baseBytes >= a1.baseBytes, "major must grow the base tier")
    } finally graft.storage.VFS(spark).delete(uri)
  }

  test("bm25 index probe: at most 6 Spark jobs and no listing job, with " +
    "more leaf dirs selected than Spark's parallel-discovery threshold") {
    val uri = s"target/test-bm25-jobs-${System.nanoTime()}"
    val q = Seq((0L, "the cat sat on the mat log"),
      (1L, "dogs and cats an entirely unrelated sentence about spark")).toDF("qid", "qtext")
    val batches = Seq(100L, 200L).map(off =>
      docs.select(($"doc_id" + off).as("doc_id"), $"text"))
    val fs = graft.storage.VFS(spark)
    try {
      Search.buildIndex(docs, "doc_id", "text", uri, buckets = 64)
      batches.zipWithIndex.foreach { case (b, i) =>
        Search.appendBatchToIndex(b, "doc_id", "text", uri, s"batch-${i + 1}") }
      // precondition: the probe selects more leaf dirs than the default
      // spark.sql.sources.parallelPartitionDiscovery.threshold (32)
      val tbs = q.select(explode(Search.termsOf($"qtext")).as("t"))
        .select(pmod(xxhash64($"t"), lit(64L)).cast("int")).as[Int].collect().toSet
      val selected = fs.lsFilesRecursive(uri).map(f => f.substring(0, f.lastIndexOf('/')))
        .distinct.count { d =>
          val name = d.substring(d.lastIndexOf('/') + 1)
          name.startsWith("tb=") && tbs(name.substring(3).toInt)
        }
      assert(selected > 32, s"only $selected leaf dirs selected")
      val (got, probeJobs) = jobsOf(Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 5)
        .select("query_id", "doc_id", "score", "rank").collect())
      assert(probeJobs.nonEmpty && probeJobs.size <= 6,
        s"${probeJobs.size} jobs: ${probeJobs.mkString("; ")}")
      assert(!probeJobs.flatten.exists(_.startsWith("parquet at")),
        s"file-listing job in the probe: ${probeJobs.mkString("; ")}")
      val inline = Search.bm25TopK(batches.foldLeft(docs)(_ unionByName _),
        "doc_id", "text", q, "qid", "qtext", k = 5)
      assert(got.toSet == inline.select("query_id", "doc_id", "score", "rank").collect().toSet)
    } finally fs.delete(uri)
  }

  test("bm25 index probe: at most 4 Spark jobs, no broadcast exchange or " +
    "local-table job, the same rows as inline bm25TopK") {
    val uri = s"target/test-bm25-jobs4-${System.nanoTime()}"
    val q = Seq((0L, "the cat sat on the mat log"),
      (1L, "dogs and cats an entirely unrelated sentence about spark")).toDF("qid", "qtext")
    val batches = Seq(100L, 200L).map(off =>
      docs.select(($"doc_id" + off).as("doc_id"), $"text"))
    try {
      Search.buildIndex(docs, "doc_id", "text", uri, buckets = 64)
      batches.zipWithIndex.foreach { case (b, i) =>
        Search.appendBatchToIndex(b, "doc_id", "text", uri, s"batch-${i + 1}") }
      val ((probe, got), jobs) = jobsOf {
        val p = Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 5)
        (p, p.collect())
      }
      assert(jobs.nonEmpty && jobs.size <= 4, s"${jobs.size} jobs: ${jobs.mkString("; ")}")
      val plan = probe.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange") && !plan.contains("LocalTableScan"),
        s"probe plan broadcasts a local table:\n$plan")
      val inline = Search.bm25TopK(batches.foldLeft(docs)(_ unionByName _),
        "doc_id", "text", q, "qid", "qtext", k = 5)
      assert(got.toSeq.sortBy(r => (r.getLong(0), r.getLong(3))) ==
        inline.collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(3))))
    } finally graft.storage.VFS(spark).delete(uri)
  }

  test("bm25 idf: the driver value equals Spark's log expression bit for bit") {
    def sparkIdf(dfs: org.apache.spark.sql.DataFrame, n: Double) =
      dfs.select($"df", log(lit(1.0) + (lit(n) - $"df" + lit(0.5)) / ($"df" + lit(0.5))))
        .as[(Double, Double)].collect()
    Seq(1L, 2L, 10L, 977L, 100000L).foreach { n =>
      // generated rows evaluate through codegen, local rows interpreted
      val generated = sparkIdf(spark.range(1, n + 1).select($"id".cast("double").as("df")),
        n.toDouble)
      val local = sparkIdf((1L to math.min(n, 50L)).map(_.toDouble).toDF("df"), n.toDouble)
      assert(generated.length == n)
      (generated ++ local).foreach { case (df, want) =>
        val got = Search.idf(n.toDouble, df)
        assert(got == want, s"N=$n df=$df: driver $got, Spark $want")
      }
    }
  }

  test("postings bucket files are sorted by (term, doc_id)") {
    val uri = s"target/test-bm25-sorted-${System.nanoTime()}"
    val fs = graft.storage.VFS(spark)
    try {
      Search.buildIndex(docs, "doc_id", "text", uri, buckets = 4)
      val files = fs.lsFilesRecursive(uri).filter(f =>
        f.endsWith(".parquet") && f.contains("/tb="))
      val rows = files.map(f => spark.read.parquet(f).select("term", "doc_id")
        .as[(String, Long)].collect().toSeq)
      assert(rows.exists(_.map(_._1).distinct.size > 1),
        s"no bucket file holds two terms: ${rows.map(_.size)}")
      rows.zip(files).foreach { case (r, f) =>
        assert(r == r.sorted, s"$f is not (term, doc_id)-sorted: $r")
      }
    } finally fs.delete(uri)
  }

  test("bm25 index probe plan: bucket partitions prune, terms push down") {
    val uri = s"target/test-bm25-plan-${System.nanoTime()}"
    try {
      Search.buildIndex(docs, "doc_id", "text", uri, buckets = 8)
      // driver-side bucket hash must equal the writer's pmod(xxhash64)
      val sqlTb = docs.select(explode(Search.termsOf($"text")).as("t")).distinct()
        .select($"t", pmod(xxhash64($"t"), lit(8L)).cast("int").as("tb"))
        .as[(String, Int)].collect()
      val m = sqlTb.toMap
      assert(m.nonEmpty)
      val got = Search.bm25IndexTopK(spark, uri,
        Seq((0L, "cat")).toDF("qid", "qtext"), "qid", "qtext", k = 3)
      assert(got.count() >= 1)
      val plan = got.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [") && plan.contains("term"),
        s"term filter must reach the parquet scan:\n$plan")
    } finally graft.storage.VFS(spark).delete(uri)
  }

  test("bm25 index probe above maxProbeTerms: semi-join fallback, same answer") {
    val uri = s"target/test-bm25-fallback-${System.nanoTime()}"
    val q = Seq((0L, "cat dog sat"), (1L, "spark sentence")).toDF("qid", "qtext")
    val cols = Seq($"query_id", $"doc_id", $"score", $"rank")
    try {
      Search.buildIndex(docs, "doc_id", "text", uri, buckets = 8)
      val pushed = Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 5)
      graft.core.Stats.reset()
      // force the over-cap path: 2 allowed probe terms, batch has more
      val fb = Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 5,
        maxProbeTerms = 2)
      assert(fb.select(cols: _*).exceptAll(pushed.select(cols: _*)).count() == 0L &&
        pushed.select(cols: _*).exceptAll(fb.select(cols: _*)).count() == 0L,
        "fallback probe must answer exactly like the pushed probe")
      // the degradation is counted, and the plan carries the semi-join
      assert(graft.core.Stats.counterValue("bm25.index_probe_semi_join") >= 1L)
      val plan = fb.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("leftsemi"),
        s"over-cap probe must go through the broadcast semi-join:\n$plan")
      // beyond 16x the pushable cap even the fallback refuses — loudly,
      // with the split-the-batch remedy, instead of an unbounded
      // driver-side broadcast of the term set
      val wide = Seq((0L, (1 to 40).map(i => s"uniqterm$i").mkString(" ")))
        .toDF("qid", "qtext")
      val e = intercept[IllegalArgumentException] {
        Search.bm25IndexTopK(spark, uri, wide, "qid", "qtext", k = 5,
          maxProbeTerms = 1).count()
      }
      assert(e.getMessage.contains("split the query batch"),
        s"hard-cap failure must name the remedy: ${e.getMessage}")
    } finally graft.storage.VFS(spark).delete(uri)
  }

  test("bm25 plan: postings build map-side-combines; queries broadcast") {
    val q = Seq((0L, "cat dog")).toDF("qid", "qtext")
    val executed = Search.bm25Scores(docs, "doc_id", "text", q, "qid", "qtext")
      .queryExecution.executedPlan
    val plan = executed.toString
    // the query side's (term, slot, idf) table rides inside the one
    // scoring operator: nothing broadcasts
    assert(executed.collect { case e: graft.ops.Bm25ProbeExec => e }.size == 1 &&
      executed.collect { case e: BroadcastExchangeExec => e }.isEmpty,
      s"scores must come from one Bm25ProbeExec with no broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian products:\n$plan")
  }

  test("rrfFuse: reciprocal-rank fusion semantics and tie-breaks") {
    // ranking A: doc 1 first, doc 2 second; ranking B: doc 2 first,
    // doc 3 second. Fused: doc2 = 1/62 + 1/61 tops doc1 = 1/61.
    val a = Seq((0L, 1L, 1L), (0L, 2L, 2L)).toDF("query_id", "doc_id", "rank")
    val b = Seq((0L, 2L, 1L), (0L, 3L, 2L)).toDF("query_id", "doc_id", "rank")
    val fused = Search.rrfFuse(Seq(a, b), k = 3)
      .orderBy("rank").as[(Long, Long, Double, Long)].collect().toSeq
    assert(fused.map(_._2) == Seq(2L, 1L, 3L), fused)
    val s2 = BigDecimal(1.0 / 62 + 1.0 / 61).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    assert(BigDecimal(fused.head._3) == s2, fused.head)
    // a doc present in only one ranking still scores; equal fused
    // scores break by doc_id (docs 1 and 3 at rank 1 in one list each)
    val c = Seq((0L, 3L, 1L)).toDF("query_id", "doc_id", "rank")
    val tied = Search.rrfFuse(Seq(a.filter($"doc_id" === 1L), c), k = 2)
      .orderBy("rank").as[(Long, Long, Double, Long)].collect().toSeq
    assert(tied.map(_._2) == Seq(1L, 3L), tied)
    assert(tied.map(_._3).distinct.size == 1) // same score, id tie-break
  }

  test("bm25 index probe: exactly 1 Spark job, no df treeAggregate, " +
    "the same rows as inline bm25TopK") {
    val uri = s"target/test-bm25-jobs1-${System.nanoTime()}"
    val q = Seq((0L, "the cat sat on the mat log"),
      (1L, "dogs and cats an entirely unrelated sentence about spark")).toDF("qid", "qtext")
    val batches = Seq(100L, 200L).map(off =>
      docs.select(($"doc_id" + off).as("doc_id"), $"text"))
    try {
      Search.buildIndex(docs, "doc_id", "text", uri, buckets = 64)
      batches.zipWithIndex.foreach { case (b, i) =>
        Search.appendBatchToIndex(b, "doc_id", "text", uri, s"batch-${i + 1}") }
      val (got, jobs) = jobsOf(Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 5).collect())
      assert(jobs.size == 1, s"${jobs.size} jobs: ${jobs.mkString("; ")}")
      assert(!jobs.flatten.exists(_.startsWith("treeAggregate at")),
        s"df treeAggregate in the probe: ${jobs.mkString("; ")}")
      val inline = Search.bm25TopK(batches.foldLeft(docs)(_ unionByName _),
        "doc_id", "text", q, "qid", "qtext", k = 5)
      assert(got.nonEmpty && got.toSet == inline.collect().toSet)
    } finally graft.storage.VFS(spark).delete(uri)
  }

  test("bm25 index probe: a batch whose terms are all absent from the index runs no Spark job") {
    val uri = s"target/test-bm25-jobs0-${System.nanoTime()}"
    try {
      Search.buildIndex(docs, "doc_id", "text", uri, buckets = 8)
      Search.appendBatchToIndex(Seq((50L, "an appended cat doc")).toDF("doc_id", "text"),
        "doc_id", "text", uri, "batch-1")
      val q = Seq((0L, "zebra quokka"), (1L, "")).toDF("qid", "qtext")
      val (got, jobs) = jobsOf(Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 5).collect())
      assert(got.isEmpty && jobs.isEmpty, s"${jobs.size} jobs: ${jobs.mkString("; ")}")
    } finally graft.storage.VFS(spark).delete(uri)
  }

  /** Every term's df over the index's live roots two ways: summed from
    * their term lexicons, and counted by `termDf` over their postings. */
  private def lexiconAndScanDf(uri: String, terms: Seq[String]) = {
    val (roots, _, _, _) = Search.liveState(spark, uri)
    val scan = roots.map(r => spark.read.schema("term string").parquet(r.path).select("term"))
      .reduce(_ unionByName _)
    (Search.probeDf(spark, uri, roots, terms),
      Search.termDf(scan.queryExecution.toRdd, 0).df.toMap)
  }

  test("bm25 lexicons: summed lexicon df equals termDf for every term over " +
    "base, appends, a replayed tag, a minor fold, a major and a zero-doc build") {
    val uri = s"target/test-bm25-lex-${System.nanoTime()}"
    val empty = s"target/test-bm25-lex0-${System.nanoTime()}"
    val b1 = Seq((50L, "an appended cat doc"), (51L, "cat cat log")).toDF("doc_id", "text")
    val b2 = Seq((52L, "another appended spark doc")).toDF("doc_id", "text")
    // the replay of tag batch-1 carries different rows
    val b1r = Seq((53L, "a replayed dog sentence about mats")).toDF("doc_id", "text")
    val vocab = Seq(docs, b1, b2, b1r).flatMap(_.select("text").as[String].collect())
      .flatMap(_.toLowerCase.split("[^\\p{L}\\p{N}]+")).filter(_.nonEmpty).distinct
    def check(at: String, step: String): Unit = {
      val (lex, scan) = lexiconAndScanDf(at, vocab)
      assert(lex == scan, s"$step: lexicon df $lex != scanned df $scan")
    }
    val q = Seq((0L, "cat dog sat"), (1L, "appended spark mats")).toDF("qid", "qtext")
    try {
      Search.buildIndex(docs, "doc_id", "text", uri, buckets = 8)
      check(uri, "base")
      Search.appendBatchToIndex(b1, "doc_id", "text", uri, "batch-1")
      check(uri, "append 1")
      Search.appendBatchToIndex(b2, "doc_id", "text", uri, "batch-2")
      check(uri, "append 2")
      // a probe caches batch-1's lexicon; the replay commits a new nonce
      Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 5).collect()
      Search.appendBatchToIndex(b1r, "doc_id", "text", uri, "batch-1")
      check(uri, "replayed tag")
      val inline = Search.bm25TopK(docs.unionByName(b1r).unionByName(b2), "doc_id", "text",
        q, "qid", "qtext", k = 5)
      assert(Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 5).collect().toSet ==
        inline.collect().toSet, "probe after the replay diverged")
      Search.minorCompactIndex(spark, uri)
      check(uri, "minor fold")
      Search.compactIndex(spark, uri)
      check(uri, "major")
      // the streaming bootstrap shape: an index over zero docs, then a batch
      Search.buildIndex(docs.limit(0), "doc_id", "text", empty, buckets = 8)
      check(empty, "zero-doc build")
      assert(lexiconAndScanDf(empty, vocab)._1.isEmpty)
      Search.appendBatchToIndex(b2, "doc_id", "text", empty, "batch-1")
      check(empty, "append to the zero-doc build")
    } finally {
      graft.storage.VFS(spark).delete(uri)
      graft.storage.VFS(spark).delete(empty)
    }
  }

  test("bm25 lexicons of an encrypted index hold no plaintext term") {
    val enc = s"target/test-bm25-lexenc-${System.nanoTime()}"
    val fs = graft.storage.VFS(spark)
    graft.storage.Encryption.enable(spark, "lexkey", "L" * 32)
    try {
      // checks the lexicons on disk now (a fold retires its sources)
      var seen = Set.empty[String]
      def checkLexicons(): Unit =
        fs.lsFilesRecursive(enc).filter(_.endsWith("/_lexicon.json")).foreach { f =>
          seen += f
          val text = new String(fs.readBytes(f), "ISO-8859-1")
          assert(text.startsWith("GFT1"), s"$f: lexicon not enveloped")
          Seq("cat", "unrelated", "sentence", "spark").foreach(t =>
            assert(!text.contains(t), s"$f leaks '$t'"))
        }
      Search.buildIndex(docs, "doc_id", "text", enc, buckets = 4, encryptionKey = Some("lexkey"))
      Seq("batch-1", "batch-2").foreach(t => Search.appendBatchToIndex(
        Seq((50L, s"unrelated cat $t")).toDF("doc_id", "text"), "doc_id", "text", enc, t))
      checkLexicons()
      Search.minorCompactIndex(spark, enc)
      Search.compactIndex(spark, enc)
      checkLexicons()
      // build, two appends, one fold, one major
      assert(seen.size == 5, seen)
      val q = Seq((0L, "unrelated cat")).toDF("qid", "qtext")
      assert(Search.bm25IndexTopK(spark, enc, q, "qid", "qtext", k = 5).count() > 0)
    } finally fs.delete(enc)
  }

  test("bm25 roots without a lexicon fail loudly at probe and fold time, naming " +
    "Search.buildIndex") {
    val uri = s"target/test-bm25-nolex-${System.nanoTime()}"
    val fs = graft.storage.VFS(spark)
    val q = Seq((0L, "cat dog")).toDF("qid", "qtext")
    // what an older writer left: no lexicon, no nonce in the commit sidecar
    def strip(root: String, stats: String): Unit = {
      fs.delete(s"$root/_lexicon.json")
      fs.writeString(stats, fs.readString(stats).replaceAll(",\"nonce\":\"[^\"]*\"", ""))
    }
    def assertNamesRebuild(e: Throwable): Unit =
      assert(Option(e.getMessage).exists(_.contains("Search.buildIndex")), e.toString)
    try {
      Search.buildIndex(docs, "doc_id", "text", uri, buckets = 8)
      assert(Search.isCurrentIndex(spark, uri))
      Seq("batch-1", "batch-2").foreach(t => Search.appendBatchToIndex(
        Seq((50L, s"a cat $t")).toDF("doc_id", "text"), "doc_id", "text", uri, t))
      strip(s"$uri/postings_inc/batch-1/postings", s"$uri/postings_inc/batch-1/_stats.json")
      val probe = Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 5)
      assertNamesRebuild(intercept[Throwable](probe.collect()))
      assertNamesRebuild(intercept[Throwable](Search.minorCompactIndex(spark, uri)))
      assert(fs.ls(s"$uri/postings_inc").forall(!_.contains("fold-")),
        "a failed fold must write nothing")
      strip(s"$uri/postings", s"$uri/_stats.json")
      assertNamesRebuild(intercept[Throwable](Search.compactIndex(spark, uri)))
      // an older layout's params: the build-once fixture check rebuilds it
      fs.writeString(s"$uri/_params.json", "{\"buckets\":8,\"layout\":1}")
      assert(!Search.isCurrentIndex(spark, uri))
    } finally fs.delete(uri)
  }

  test("bm25 contribution and 6-decimal rounding equal Spark's expression bit for bit") {
    def sparkScores(rows: org.apache.spark.sql.DataFrame, k1: Double, b: Double, avgdl: Double) = {
      val tfD = $"tf".cast("double")
      val c = $"idf" * tfD * lit(k1 + 1.0) /
        (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * $"dl".cast("double") / lit(avgdl)))
      rows.select($"idf", $"tf", $"dl", c, round(c, 6))
        .as[(Double, Long, Long, Double, Double)].collect()
    }
    for ((n, sumDl) <- Seq((5L, 23L), (977L, 12345L), (100000L, 3141593L));
         (k1, b) <- Seq((1.25, 0.75), (1.2, 0.5), (2.0, 1.0))) {
      val avgdl = Search.avgdl(n, sumDl)
      def grid(ids: org.apache.spark.sql.DataFrame) = ids
        .select(($"id" % 23 + 1).as("tf"), ($"id" * 13 % n + 1).cast("double").as("df"), $"id")
        .select($"tf", ($"tf" + $"id" * 7 % 301).as("dl"),
          log(lit(1.0) + (lit(n.toDouble) - $"df" + lit(0.5)) / ($"df" + lit(0.5))).as("idf"))
      // generated rows evaluate through codegen, local rows interpreted
      val generated = sparkScores(grid(spark.range(0, 4000).toDF()), k1, b, avgdl)
      val local = sparkScores(grid((0L until 200L).toDF("id")), k1, b, avgdl)
      assert(generated.length == 4000 && local.length == 200)
      (generated ++ local).foreach { case (idf, tf, dl, raw, rounded) =>
        val got = Search.contribution(idf, tf.toDouble, dl.toDouble, k1, b, avgdl)
        assert(got == raw, s"N=$n k1=$k1 b=$b tf=$tf dl=$dl idf=$idf: $got vs Spark $raw")
        assert(Search.round6(got) == rounded, s"round6($got) = ${Search.round6(got)}, Spark $rounded")
      }
    }
    // values at and around 6-decimal HALF_UP ties
    val ties = Seq(0.0000005, 0.0000015, 1.2345665, 2.5000005, 0.1234565, 1e-7, 123.4567895,
      0.30000000000000004, 3.0, 1.0 / 3)
    val local = ties.toDF("s").select($"s", round($"s", 6)).as[(Double, Double)].collect()
    val generated = spark.range(0, ties.size).select(
      element_at(typedLit(ties), ($"id" + 1).cast("int")).as("s"))
      .select($"s", round($"s", 6)).as[(Double, Double)].collect()
    (local ++ generated).foreach { case (v, want) =>
      assert(Search.round6(v) == want, s"round6($v) = ${Search.round6(v)}, Spark $want")
    }
  }

  test("bm25 index probe decides like inline bm25TopK: AND mode, elision and " +
    "its count, the hot-term count, string ids, a batch that hits nothing") {
    val uri = s"target/test-bm25-parity-${System.nanoTime()}"
    val counters = Seq("bm25.query_terms_elided", "bm25.hot_terms_probed")
    def counted(body: => Array[org.apache.spark.sql.Row]) = {
      graft.core.Stats.reset()
      val rows = body.toSet
      (rows, counters.map(graft.core.Stats.counterValue))
    }
    def both(q: org.apache.spark.sql.DataFrame, maxDfFraction: Double = 1.0,
        requireAllTerms: Boolean = false) = {
      val idx = counted(Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 3,
        maxDfFraction = maxDfFraction, requireAllTerms = requireAllTerms).collect())
      val inline = counted(Search.bm25TopK(docs, "doc_id", "text", q, "qid", "qtext", k = 3,
        maxDfFraction = maxDfFraction, requireAllTerms = requireAllTerms).collect())
      assert(idx == inline, s"index $idx\ninline $inline")
      idx
    }
    try {
      Search.buildIndex(docs, "doc_id", "text", uri, buckets = 8)
      // AND mode: "cat mat" only doc 0; "cat dog" none; an absent term
      // is not required; a query id given twice keeps both rows' terms
      val (and, _) = both(Seq((1L, "cat mat"), (2L, "cat dog"), (3L, "cat zzzqqq"),
        (4L, "the sat on"), (4L, "log")).toDF("qid", "qtext"), requireAllTerms = true)
      assert(and.map(r => (r.getLong(0), r.getLong(1))) == Set((1L, 0L), (3L, 0L), (4L, 1L)), and)
      // elision: "sat" (df 2/5) and "the" elide at 0.3, "cat" stays
      val (elided, Seq(nElided, _)) = both(Seq((1L, "sat cat"), (2L, "the dog"))
        .toDF("qid", "qtext"), maxDfFraction = 0.3)
      assert(nElided == 2L && elided.map(_.getLong(1)) == Set(0L, 1L), elided)
      // hot terms ("the", "sat": df 2/5 > 0.2) are counted once per term
      val (_, Seq(_, hot)) = both(Seq((1L, "the cat"), (2L, "sat the")).toDF("qid", "qtext"))
      assert(hot == 2L)
      // string query ids keep their type
      val (strs, _) = both(Seq(("a", "cat dog sat"), ("b", "spark sentence"), ("c", ""))
        .toDF("qid", "qtext"))
      assert(strs.map(_.getString(0)) == Set("a", "b"), strs)
      // a batch whose terms hit nothing, and a null text
      val (none, _) = both(Seq((1L, "zzzqqq xyzzy"), (2L, null)).toDF("qid", "qtext"))
      assert(none.isEmpty)
    } finally graft.storage.VFS(spark).delete(uri)
  }

  test("bm25 index probe: more scoring reducers merge per-query heaps to the same rows") {
    val uri = s"target/test-bm25-reducers-${System.nanoTime()}"
    val q = Seq((0L, "the cat sat"), (1L, "dogs and cats"), (2L, "on the log"),
      (3L, "spark sentence")).toDF("qid", "qtext")
    try {
      Search.buildIndex(docs, "doc_id", "text", uri, buckets = 8)
      Search.appendBatchToIndex(docs.select(($"doc_id" + 10).as("doc_id"), $"text"),
        "doc_id", "text", uri, "batch-1")
      val probe = Search.bm25IndexTopK(spark, uri, q, "qid", "qtext", k = 2)
      val exec = probe.queryExecution.executedPlan.collectFirst {
        case e: graft.ops.Bm25ProbeExec => e
      }.getOrElse(fail(s"no probe operator:\n${probe.queryExecution.executedPlan}"))
      def run(parts: Int) = exec.run(_ => parts).map(_.copy()).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      val one = run(1)
      assert(one == probe.as[(Long, Long, Double, Long)].collect().toSet)
      assert(one.map(_._1) == Set(0L, 1L, 2L, 3L) && one.forall(_._4 <= 2L), one)
      Seq(2, 3, 7).foreach(p => assert(run(p) == one, s"$p reducers"))
    } finally graft.storage.VFS(spark).delete(uri)
  }

  test("inline bm25TopK: one Bm25ProbeExec, 7 Spark jobs, no broadcast") {
    val q = Seq((0L, "the cat sat"), (1L, "dogs and cats"), (2L, "spark sentence"))
      .toDF("qid", "qtext")
    val (top, jobs) = jobsOf {
      val t = Search.bm25TopK(docs, "doc_id", "text", q, "qid", "qtext", k = 2)
      (t, t.collect())
    }
    // the postings checkpoint, nDocs and sumDl (an AQE map stage and a
    // result job each), the df count, then the one scoring job: no job
    // collects a query-term table to broadcast
    assert(jobs.size == 7, s"${jobs.size} jobs: ${jobs.mkString("; ")}")
    assert(jobs.count(_.exists(_.contains("Bm25Probe.scala"))) == 1 &&
      jobs.last.exists(_.contains("Bm25Probe.scala")), jobs.mkString("; "))
    val executed = top._1.queryExecution.executedPlan
    assert(executed.collect { case e: graft.ops.Bm25ProbeExec => e }.size == 1 &&
      executed.collect { case e: BroadcastExchangeExec => e }.isEmpty, executed)
    assert(top._2.map(r => (r.getLong(0), r.getLong(3))).toSet ==
      Set((0L, 1L), (0L, 2L), (1L, 1L), (2L, 1L)), top._2.toSeq)
  }

  test("bm25 scoring: a scan task's flushed partial sums merge to the same rows") {
    val q = Seq((0L, "the cat sat on the mat"), (1L, "dogs and cats"), (2L, "the log"))
      .toDF("qid", "qtext")
    def exec(d: org.apache.spark.sql.DataFrame) = d.queryExecution.executedPlan.collectFirst {
      case e: graft.ops.Bm25ProbeExec => e
    }.getOrElse(fail(s"no scoring operator:\n${d.queryExecution.executedPlan}"))
    Seq(Search.bm25TopK(docs, "doc_id", "text", q, "qid", "qtext", k = 3),
      Search.bm25Scores(docs, "doc_id", "text", q, "qid", "qtext"),
      Search.bm25Scores(docs, "doc_id", "text", q, "qid", "qtext", requireAllTerms = true))
      .foreach { d =>
        val e = exec(d)
        def run(parts: Int, bound: Long) =
          e.run(_ => parts, bound).map(_.copy()).collect().map(_.toSeq(d.schema)).toSet
        val whole = run(1, graft.ops.Bm25Probe.RowsPerReducer)
        assert(whole.nonEmpty && whole == d.collect().map(_.toSeq).toSet)
        Seq(1L, 2L, 3L).foreach { bound =>
          Seq(1, 3).foreach(p => assert(run(p, bound) == whole, s"bound $bound, $p reducers"))
        }
      }
  }

  test("bm25TopK docFilter: global df and avgdl, ranks over the filtered docs only") {
    val tagged = docs.withColumn("lang", when($"doc_id" % 2 === 0, "en").otherwise("fr"))
    val q = Seq((0L, "the cat sat"), (1L, "dogs and cats the log")).toDF("qid", "qtext")
    val got = Search.bm25TopK(tagged, "doc_id", "text", q, "qid", "qtext", k = 2,
      docFilter = Some($"lang" === "en")).as[(Long, Long, Double, Long)].collect().toSet
    val want = Search.bm25Scores(tagged, "doc_id", "text", q, "qid", "qtext")
      .filter($"doc_id" % 2 === 0).as[(Long, Long, Double)].collect().toSeq
      .groupBy(_._1).toSeq.flatMap { case (qid, rs) =>
        rs.map(r => (r._2, Search.round6(r._3))).sortBy(r => (-r._2, r._1)).take(2)
          .zipWithIndex.map { case ((doc, s), i) => (qid, doc, s, i + 1L) }
      }.toSet
    assert(got.map(r => (r._1, r._2)) == Set((0L, 0L), (1L, 2L), (1L, 0L)), got)
    assert(got == want)
  }

  test("bm25 scoring reducers: one per RowsPerReducer contributions, with no cap") {
    import graft.ops.Bm25Probe.{RowsPerReducer, reducers}
    assert(reducers(0L) == 1 && reducers(RowsPerReducer) == 1 && reducers(RowsPerReducer + 1) == 2)
    // far past the session's shuffle partitions: each reducer's sums stay bounded
    val many = 64L * spark.sessionState.conf.numShufflePartitions
    assert(reducers(many * RowsPerReducer) == many)
  }

  test("inline bm25: integral doc ids widen to long; other id types are refused") {
    val q = Seq((0L, "the cat sat"), (1L, "dogs and cats")).toDF("qid", "qtext")
    val asLong = Search.bm25TopK(docs, "doc_id", "text", q, "qid", "qtext", k = 3)
      .as[(Long, Long, Double, Long)].collect().toSet
    val asInt = Search.bm25TopK(docs.select($"doc_id".cast("int").as("doc_id"), $"text"),
      "doc_id", "text", q, "qid", "qtext", k = 3)
    assert(asInt.schema("doc_id").dataType == org.apache.spark.sql.types.LongType)
    assert(asLong.nonEmpty && asInt.as[(Long, Long, Double, Long)].collect().toSet == asLong)
    val e = intercept[IllegalArgumentException] {
      Search.bm25Scores(docs.select($"doc_id".cast("string").as("doc_id"), $"text"),
        "doc_id", "text", q, "qid", "qtext")
    }
    assert(e.getMessage.contains("doc id column doc_id must be integral, got StringType"), e)
  }
}
