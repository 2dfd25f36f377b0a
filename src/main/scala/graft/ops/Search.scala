package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructField}
import org.apache.spark.unsafe.types.UTF8String

/** Full-text retrieval over the document corpus: an inverted index
  * (postings) plus BM25 scoring and top-k search. A training-data
  * pipeline uses this for eval-set contamination lookup, quality
  * retrieval ("find the docs most similar to this prompt") and
  * source triage — the reference has no search surface at all
  * (SURVEY §2.12: no scalar function library, computation happens in
  * numpy), so this is extension surface in the BASELINE.json
  * north-star sense.
  *
  * Scale design (the 100 TB story):
  *  - the postings build is SHUFFLE-FREE: term frequency and document
  *    length are row-local facts, counted inside the row by the
  *    [[graft.functions.TermCounts]] kernel — no corpus-sized exchange
  *    at all (previously one `groupBy(doc_id, term)` shuffle);
  *  - the query terms resolve on the driver (a query batch is small
  *    by definition) and the postings are restricted to them.
  *    Document frequency (df) comes from the persisted index's per-root
  *    term lexicons, summed on the driver at probe time; the inline
  *    path counts it over the restricted postings inside each scan
  *    task, the partial counts merging on the driver ([[termDf]], one
  *    job). Either way the vocabulary table never shuffles;
  *  - ONE scoring core serves both paths: the [[Bm25Probe]] operator
  *    over the restricted postings — an index probe's scan, or the
  *    inline path's in-memory postings. The batch's (term → query
  *    slot, idf) table is decided once on the driver
  *    ([[scoringTable]]) and the operator looks each streamed posting's
  *    term up in it — postings stream, nothing corpus-sized shuffles on
  *    an unbounded key;
  *  - per-(query, doc) score assembly is one shuffle of MATCHING
  *    pairs only, summed per scan task first. A task hands its partial
  *    sums on at a fixed bound, and the exchange gets one reducer per
  *    that many contribution rows, so neither side's sums grow with
  *    the corpus. Top-k keeps the operator's bounded per-query heaps,
  *    never a `row_number().over(partitionBy(query))` window, which
  *    would hash-partition every scored row onto |queries| reducers
  *    (the classic skew bomb when queries are few and the corpus is
  *    huge). The scoring is 1 Spark job, which the caller's action
  *    starts.
  */
object Search {

  /** Unicode-word terms, lowercased: split on any non-letter/digit
    * run, drop empties. Mirrors the tokenizer the perplexity oracle
    * already replays in DuckDB (`string_split_regex(lower(text),
    * '[^\p{L}\p{N}]+')`), so every Search oracle is value-exact.
    *
    * Kernel-backed ([[graft.functions.Tokens]]) like
    * [[NgramLm.lmTokens]]: corpusStats and the query-term splits paid
    * the regex NFA per document/query; the kernel is the same direct
    * character-class walk TermCounts uses (TokensSpec pins equality
    * with the `split`-on-`[^\p{L}\p{N}]+` expression). */
  def termsOf(text: Column): Column = graft.functions.Tokens(lower(text))

  /** Inverted index: one row per (doc, term) with the term frequency
    * and the document length riding along. Columns: doc_id, term,
    * tf (long), dl (long).
    *
    * Term frequency is a row-local fact, so it is counted INSIDE the
    * row by the [[graft.functions.TermCounts]] kernel — the old
    * `explode + groupBy(doc_id, term)` shape paid a full exchange of
    * one row per distinct (doc, term) per map partition plus the
    * Java-regex token split; this plan is a pure narrow
    * Project -> Generate with zero shuffles (guide §2.3/2.4).
    * Output rows are identical (kernel-vs-expression tokenization
    * equality pinned by TermCountsSpec). */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.TermCounts(lower(col(textCol)))).as("__e"))
      .select(col("doc_id"), col("__e.term").as("term"),
        col("__e.tf").as("tf"), col("__e.dl").as("dl"))

  /** Exact integer corpus stats: (nDocs, sum of doc lengths). One
    * tiny job; division into avgdl happens ONCE on the driver so both
    * engines compute `sum/n` with a single rounding step. */
  def corpusStats(docs: DataFrame, idCol: String, textCol: String): (Long, Long) = {
    val r: Row = docs
      .select(size(termsOf(col(textCol))).cast("long").as("__dl"))
      .agg(count(lit(1)).as("n"), sum(col("__dl")).as("s"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** BM25 scores for every (query, doc) pair sharing at least one
    * term. Query terms are DISTINCT (standard for short queries —
    * query-side tf is ignored, documented). idf is the
    * Robertson/Lucene non-negative variant
    * `ln(1 + (N - df + 0.5)/(df + 0.5))`.
    *
    * Output: (query_id, doc_id, score raw double), one unranked
    * [[Bm25Probe]] node (see [[inlineBatch]]). Callers round for
    * presentation; [[bm25TopK]] ranks on the 6-decimal rounding so
    * ordering is reproducible across engines. Integral doc ids come back long. */
  def bm25Scores(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qidCol: String, qtextCol: String,
      k1: Double = 1.25, b: Double = 0.75,
      materializePostings: Boolean = true,
      maxDfFraction: Double = 1.0,
      requireAllTerms: Boolean = false): DataFrame =
    inlineBatch(docs, idCol, textCol, queries, qidCol, qtextCol, None, k1, b,
      materializePostings, maxDfFraction, requireAllTerms, None)

  /** The inline path: `docs`' postings restricted to the query terms,
    * scored by one [[Bm25Probe]] node (ranked with `k`, raw sums
    * without). nDocs, sumDl and df are counted eagerly, before the node
    * is built: df over the restricted postings ([[termDf]], one job),
    * exact because they hold EVERY posting of the query terms. A
    * `docFilter` joins the filtered doc ids onto the node's child after
    * df is counted, so df and avgdl stay global; a doc's score depends
    * only on its own postings, so the filtered scores and ranks are
    * those of the whole corpus restricted to the filtered docs. */
  private def inlineBatch(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qidCol: String, qtextCol: String, k: Option[Int],
      k1: Double, b: Double, materializePostings: Boolean, maxDfFraction: Double,
      requireAllTerms: Boolean, docFilter: Option[Column]): DataFrame = {
    // the operator reads long doc ids; narrower integral ids widen exactly
    val idType = docs.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"bm25: doc id column $idCol must be integral, got $idType")
    // The postings frame feeds THREE consumers (sumDl, the df count,
    // the scoring job) — without materialization each one re-runs
    // the tokenize + count subtree (measured 23 s -> 8 s at the 10x
    // rehearsal, 50k docs). localCheckpoint, not cache, for the same
    // CacheManager-pinning reason as minhashNearDups; pass false on
    // long-lived clusters where executor loss must not fail the job
    // (or use buildIndex + bm25IndexTopK, the real at-scale path).
    val postPlan = postings(docs, idCol, textCol).withColumn("doc_id", col("doc_id").cast(LongType))
    val post = if (materializePostings) postPlan.localCheckpoint(true) else postPlan
    // exact-integer corpus stats WITHOUT extra text passes:
    // sum(dl over docs) = sum(tf over postings); empty docs hold no
    // postings but contribute 0 either way. nDocs counts all docs.
    val nDocs = docs.count()
    val sumDl = Option(post.agg(sum(col("tf"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val qt = queryTerms(queries, qidCol, qtextCol)
    val restricted = restrictToTerms(post, qt.terms, MaxPushedTerms)
    val df = termDf(restricted.select(col("term")).queryExecution.toRdd, 0).df
    // docFilter = metadata-restricted retrieval (Lucene-style filtered
    // search): a filter narrows the result set, not the collection
    // statistics, and the top-k holds k ELIGIBLE docs
    val scored = docFilter.fold(restricted)(f => restricted.join(
        docs.filter(f).select(col(idCol).cast(LongType).as("doc_id")), Seq("doc_id"), "left_semi"))
      .select("term", "doc_id", "tf", "dl")
    Shim.ofRows(docs.sparkSession, Bm25Probe(scored, qt.qid.dataType, Bm25Batch(CountedDf(df),
      qt.pairs.toSeq, nDocs, sumDl, k, k1, b, maxDfFraction, requireAllTerms)))
  }

  /** Default cap on the terms a probe pushes as `term isin(...)`
    * literals; larger term sets restrict through a broadcast left-semi
    * join ([[restrictToTerms]]). */
  private val MaxPushedTerms = 1 << 15

  /** A query batch's distinct terms per query, resolved on the DRIVER
    * with ONE collect of `(query_id, array_distinct(terms))` — Catalyst
    * folds that projection over a local query frame, so it usually
    * runs no job at all. `pairs` holds one (query_id, term) per
    * distinct term of a query (a null or empty text holds none);
    * `qid` is the query-id field with the caller's type. */
  private final case class QueryTerms(qid: StructField, pairs: Array[(Any, String)]) {
    lazy val terms: Array[String] = pairs.map(_._2).distinct
  }

  private def queryTerms(queries: DataFrame, qidCol: String,
      qtextCol: String): QueryTerms = {
    val q = queries.select(col(qidCol).as("query_id"),
      array_distinct(termsOf(col(qtextCol))).as("terms"))
    QueryTerms(q.schema("query_id"), q.collect().flatMap { r =>
      if (r.isNullAt(1)) Nil else r.getSeq[String](1).map(t => (r.get(0), t))
    })
  }

  /** `post` restricted to `terms`: a `term isin(...)` filter (pushed
    * into a parquet scan's row groups) up to `maxPushed` terms; above
    * that a broadcast left-semi join, since tens of thousands of
    * literals bloat the plan. */
  private def restrictToTerms(post: DataFrame, terms: Array[String],
      maxPushed: Int): DataFrame =
    if (terms.length <= maxPushed) post.filter(col("term").isin(terms.toSeq: _*))
    else post.join(broadcast(post.sparkSession.createDataset(terms.toSeq)(
      org.apache.spark.sql.Encoders.STRING).toDF("term")), Seq("term"), "left_semi")

  /** A probed term in more than this fraction of all docs triggers a
    * hot-term warning (and the `bm25.hot_terms_probed` counter) even
    * with elision off: its postings are a corpus-fraction scan for
    * near-zero idf, and at 100 TB the operator should KNOW they are
    * paying it. Warn-only — results never change without opt-in. */
  val HotTermDfFraction: Double = 0.2

  /** A query batch's scoring decisions, made on the driver from its
    * (query, term) pairs and the probed terms' df:
    *  - `ids`: the query ids holding a kept term, in the caller's type;
    *    a query's SLOT is its index here;
    *  - `entries`: one (term, slot, idf) per kept (query, term) pair, in
    *    pair order (a query id given twice keeps both rows' terms);
    *  - `need`: per slot, the kept pairs an AND-mode doc must match;
    *  - `contributions`: Σ df over the kept pairs, the contribution
    *    rows scoring will produce. */
  private[ops] final case class ScoringTable(ids: Array[Any],
      entries: Array[(String, Int, Double)], need: Option[Array[Long]], contributions: Long)

  private[ops] def scoringTable(spark: org.apache.spark.sql.SparkSession,
      pairs: Seq[(Any, String)], df: scala.collection.Map[String, Long], nDocs: Long,
      maxDfFraction: Double, requireAllTerms: Boolean): ScoringTable = {
    val n = nDocs.toDouble
    // df of every probed term present in the postings, joined to the
    // (query, term) pairs
    val qdf = pairs.flatMap { case (q, t) => df.get(t).map(d => (q, t, d.toDouble)) }
    def distinctTerms(rows: Seq[(Any, String, Double)]): Long =
      rows.map(_._2).distinct.length.toLong
    // optional stopword elision — the production knob for the
    // worst-case term: a term in >maxDfFraction of all docs has
    // near-zero idf but corpus-fraction-sized postings, so scoring
    // it costs a full corpus pass for ~no ranking signal. Off by
    // default (1.0): elision changes results, callers opt in — but
    // every elision and every hot term probed is logged + counted
    // (Stats counters `bm25.query_terms_elided`,
    // `bm25.hot_terms_probed`) either way: no silent caps, and no
    // silent full-corpus rankings.
    val kept = qdf.filter(_._3 <= maxDfFraction * n)
    if (n > 0) {
      val log5 = org.slf4j.LoggerFactory.getLogger(getClass)
      val hot = distinctTerms(qdf.filter(_._3 > HotTermDfFraction * n))
      if (hot > 0) {
        graft.core.Stats.counter(spark, "bm25.hot_terms_probed").add(hot)
        log5.warn(s"bm25: $hot probed term(s) appear in >" +
          s"${(HotTermDfFraction * 100).toInt}% of the $nDocs docs — " +
          "each costs a corpus-fraction ranking pass for near-zero " +
          "idf; consider maxDfFraction elision")
      }
      if (maxDfFraction < 1.0) {
        val elided = distinctTerms(qdf) - distinctTerms(kept)
        if (elided > 0) {
          graft.core.Stats.counter(spark, "bm25.query_terms_elided").add(elided)
          log5.info(s"bm25: elided $elided query term(s) with df > " +
            s"$maxDfFraction * $nDocs docs")
        }
      }
    }
    val ids = kept.map(_._1).distinct
    val slotOf = ids.zipWithIndex.toMap
    // conjunctive (AND) mode keeps docs matching EVERY non-elided query
    // term: a (query, doc) pair's contribution count must equal its
    // query's kept-pair count (postings rows are unique per (doc,
    // term), so count == distinct matched terms)
    val need =
      if (!requireAllTerms) None
      else {
        val perQuery = kept.groupBy(_._1).map { case (q, ts) => q -> ts.length.toLong }
        Some(ids.map(perQuery).toArray)
      }
    ScoringTable(ids.toArray, kept.map { case (q, t, d) => (t, slotOf(q), idf(n, d)) }.toArray,
      need, kept.map(_._3).sum.toLong)
  }

  /** The BM25 length normalizer's mean document length (1.0 for an
    * empty corpus), divided ONCE on the driver from exact integers. */
  private[graft] def avgdl(nDocs: Long, sumDl: Long): Double =
    if (nDocs == 0L) 1.0 else sumDl.toDouble / nDocs

  /** One posting's BM25 contribution, `idf * tf * (k1 + 1) / (tf + k1 *
    * ((1 - b) + b * dl / avgdl))`, evaluated exactly as that Spark
    * expression evaluates it (the formula the DuckDB oracles replay):
    * the same double operations in the same order (`k1 + 1` and `1 - b`
    * folded on the driver as its literals are). `SearchSpec` pins `==`
    * equality. */
  private[graft] def contribution(idf: Double, tf: Double, dl: Double, k1: Double,
      b: Double, avgdl: Double): Double =
    idf * tf * (k1 + 1.0) / (tf + k1 * ((1.0 - b) + b * dl / avgdl))

  /** `score` rounded to 6 decimals HALF_UP, as Spark's `round(_, 6)`
    * rounds a double (through its shortest decimal string). */
  private[graft] def round6(score: Double): Double =
    if (score.isNaN || score.isInfinite) score
    else java.math.BigDecimal.valueOf(score).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  /** BM25 idf, `ln(1 + (N - df + 0.5)/(df + 0.5))`, evaluated on the
    * driver exactly as Spark's `log(lit(1.0) + (lit(n) - df + lit(0.5))
    * / (df + lit(0.5)))` evaluates it: the same double operations in
    * the same order, and `StrictMath.log`, which Spark's `Log` calls.
    * Its argument is `(N + 1)/(df + 0.5) > 0` for every N >= 0 and
    * df >= 1, so the null Spark returns at or below zero never arises.
    * `SearchSpec` pins `==` equality with the Spark expression. */
  private[graft] def idf(n: Double, df: Double): Double =
    StrictMath.log(1.0 + (n - df + 0.5) / (df + 0.5))

  /** Document frequency of every term in postings rows, and their Σtf
    * (0 without a tf column). */
  private[graft] final case class TermDf(df: scala.collection.Map[String, Long], sumTf: Long)

  /** Document frequency of every term in the postings `rows` (the term
    * at ordinal `termAt`), plus the Σ of the long tf at `tfAt` when it
    * is >= 0, counted in ONE job with no exchange at probe sizes: each
    * scan task counts the terms of its own rows, and the driver merges
    * the per-task counts by `treeAggregate` (depth 2), so at most
    * O(terms x sqrt(tasks)) partial entries reach it. A
    * `groupBy(term).count().collect()` plans an exchange, and AQE runs
    * it as two jobs. The inline path counts its probed terms' df here
    * before it builds its [[Bm25Probe]] node; the index writers count a
    * root's whole lexicon here. */
  private[graft] def termDf(rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      termAt: Int, tfAt: Int = -1): TermDf = {
    type Counts = scala.collection.mutable.HashMap[String, Long]
    def merge(a: (Counts, Long), b: (Counts, Long)): (Counts, Long) = {
      val (big, small) = if (a._1.size >= b._1.size) (a._1, b._1) else (b._1, a._1)
      small.foreach { case (t, c) => big.update(t, big.getOrElse(t, 0L) + c) }
      (big, a._2 + b._2)
    }
    val (df, sumTf) = rows
      .mapPartitions { it =>
        // keyed by the row's UTF-8 bytes (cloned on first sight: the
        // scan reuses its row buffer); decoded once per distinct term
        val m = new java.util.HashMap[UTF8String, Array[Long]]()
        var tf = 0L
        it.foreach { r =>
          if (!r.isNullAt(termAt)) {
            val c = m.get(r.getUTF8String(termAt))
            if (c == null) m.put(r.getUTF8String(termAt).clone(), Array(1L)) else c(0) += 1L
          }
          if (tfAt >= 0 && !r.isNullAt(tfAt)) tf += r.getLong(tfAt)
        }
        val out = new Counts()
        m.forEach((t, c) => out.update(t.toString, c(0)))
        Iterator.single((out, tf))
      }
      .treeAggregate((new Counts(), 0L))(merge, merge)
    TermDf(df, sumTf)
  }

  /** Top-k docs per query by BM25, ranked on the 6-decimal-rounded
    * score with doc_id ascending as the tie-break (rounded ranking
    * keeps the order stable under last-ulp float differences between
    * engines; ties at 6 decimals are broken deterministically).
    * Output: (query_id, doc_id, score, rank), one ranked [[Bm25Probe]]
    * node (see [[inlineBatch]]) — the scoring core an index probe uses,
    * so it needs [[graft.core.GraftExtensions]] too.
    *
    * requireAllTerms = conjunctive (AND) retrieval: only docs matching
    * EVERY query term that exists in the corpus (and survives elision)
    * are ranked — absent terms can't be required of any doc, matching
    * standard AND-semantics over the indexable vocabulary. docFilter =
    * metadata-restricted retrieval: df/avgdl stay GLOBAL and ranks are
    * assigned after the restriction. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qidCol: String, qtextCol: String,
      k: Int = 10, k1: Double = 1.25, b: Double = 0.75,
      maxDfFraction: Double = 1.0,
      requireAllTerms: Boolean = false,
      docFilter: Option[Column] = None): DataFrame = {
    require(k > 0, s"bm25TopK: k must be positive, got $k")
    inlineBatch(docs, idCol, textCol, queries, qidCol, qtextCol, Some(k), k1, b,
      materializePostings = true, maxDfFraction, requireAllTerms, docFilter)
  }

  /** Reciprocal-rank fusion (the RRF hybrid-retrieval combiner):
    * fused_score(q, d) = sum over input rankings of 1/(rrfK + rank),
    * top-k per query by (rounded score desc, doc_id asc). The
    * standard way to merge a lexical ([[bm25TopK]]) and a semantic
    * (ANN cosine) ranking without score calibration — ranks, not raw
    * scores, carry the signal, so the wildly different score scales
    * never meet. rrfK = 60 is the published default.
    *
    * Scale shape: every input is already top-k-bounded PER QUERY, so
    * the union + groupBy moves only queries x (sum of input k's) rows
    * — a candidate-set shuffle, never a corpus shuffle — and the
    * final rank rides the shared bounded-heap top-k. Inputs must
    * carry (query_id, doc_id, rank); rename upstream columns to fuse
    * heterogeneous id spaces deliberately, not accidentally. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int = 10, rrfK: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(rrfK >= 1, s"rrfK must be >= 1, got $rrfK")
    val tagged = rankings
      .map(_.select(col("query_id"), col("doc_id"), col("rank")))
      .reduce(_ unionByName _)
    // the per-pair contributions are summed through a SORTED left
    // fold, not sum(): with 3+ input rankings a double sum's
    // accumulation order is partition-nondeterministic and round(_, 6)
    // could flip at a boundary between runs. The sorted fold is
    // bit-deterministic for any ranking count, and for the 2-ranking
    // case it is bit-identical to the plain two-term sum (IEEE
    // addition of two doubles is order-insensitive and 0.0 + a == a),
    // so the DuckDB oracle needs no change. Lists are one element per
    // input ranking — candidate-set sized, never corpus-sized.
    val fused = tagged
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sort_array(collect_list(lit(1.0) / (lit(rrfK) + col("rank")))).as("__c"))
      .select(col("query_id"), col("doc_id"),
        round(aggregate(col("__c"), lit(0.0), (a, x) => a + x), 6).as("score"))
    graft.ops.Similarity.topKPerKey(fused, "query_id", "doc_id", "score", k)
  }

  /** Top-k TF-IDF keywords per document — the classic corpus-triage /
    * topic-labeling op (what "characterizes" each doc against the
    * corpus). score = tf * ln(N/df) with plain idf (df <= N keeps it
    * non-negative), ranked per doc by (6-decimal-rounded score desc,
    * term asc) — the same rounded-rank contract as [[bm25TopK]], so
    * ordering is engine-stable.
    *
    * Scale shape: ONE postings aggregation (tf per (doc, term) — the
    * [[postings]] pass), df aggregated FROM those postings
    * (vocabulary-sized, map-side combined), then one term-keyed join
    * postings-vs-df — df is NOT broadcast (a 100 TB corpus has a
    * billion-term vocabulary; the term join is the honest shuffle) —
    * and per-doc top-k on bounded heaps ([[Similarity.topKPerKey]]),
    * never a corpus-wide rank window. */
  def tfidfKeywords(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    val nDocs = docs.count()
    // the postings materialize ONCE (two consumers: the df aggregation
    // and the score join) — pinned DISK_ONLY, not localCheckpoint:
    // the checkpoint's MEMORY_AND_DISK blocks compete with the join's
    // sort buffers inside one executor heap, and at the 100x rehearsal
    // (500k docs, ~50M posting rows) that OOMed an 8 GB heap. Posting
    // rows are corpus-token-scale — they belong on disk.
    val post = postings(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val df = post.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("__df"))
    val scored = post.join(df, "term")
      .select(col("doc_id"), col("term"),
        round(col("tf").cast("double") *
          log(lit(nDocs.toDouble) / col("__df")), 6).as("__s"))
    Similarity.topKPerKey(scored, "doc_id", "term", "__s", k)
      .select(col("doc_id"), col("term"), col("__s").as("score"), col("rank"))
  }

  // -------------------------------------------------------------------
  // Persisted inverted index
  // -------------------------------------------------------------------

  private def statsPath(uri: String) = s"$uri/_stats.json"
  private def paramsPath(uri: String) = s"$uri/_params.json"
  private def postingsPath(uri: String) = s"$uri/postings"

  /** `_params.json` layout version: 2 = every postings root carries a
    * term lexicon ([[writeLexicon]]) and its commit sidecar a nonce. */
  private val IndexLayout = 2L

  /** True when `uri` holds a complete index of the current layout
    * (`_params.json`, written last by [[buildIndex]], says so). Probes
    * and folds of an older layout fail loudly instead; a build-once
    * fixture uses this to rebuild. */
  def isCurrentIndex(spark: org.apache.spark.sql.SparkSession, uri: String): Boolean =
    graft.storage.VFS(spark).exists(paramsPath(uri)) &&
      readJson(spark, uri, paramsPath(uri))("layout").exists(_.long == IndexLayout)

  private def termBucket(term: Column, buckets: Int): Column =
    pmod(xxhash64(term), lit(buckets.toLong)).cast("int")

  /** The ONE postings writer: `post` (term, doc_id, tf, dl) bucketed
    * into `tb=NN/` dirs by term hash, each bucket's files sorted by
    * (term, doc_id) so footer stats can prune to the probed terms.
    * Build, batch append, minor fold and major all write through here.
    *
    * The sort leads with `tb`, the partition column: the planned write
    * requires its input ordered by `tb` and, when it is not, adds its
    * own sort on `tb` — and Catalyst then drops a (term, doc_id) sort
    * below it, so the files came out in doc order. A spec reads a
    * bucket file back and checks the (term, doc_id) order.
    *
    * NOTE: a parquet BLOOM FILTER on `term` was tried here and reverted
    * after measurement: (a) parquet silently DROPS the bloom whenever a
    * chunk is fully dictionary-encoded — the dictionary is already
    * exact membership, and the in()-pushdown threshold raised in
    * GraftSession lets the reader prune on it — and (b) where it did
    * materialize it added an erratic ~66 KB/file footer that broke the
    * tier-size monotonicity [[maintenanceAdvice]] compares (a 2-doc
    * base read LARGER than its 4x-corpus major compaction). Sorted
    * files + footer stats + dictionary in() pruning are the layout.
    * Pruning needs more than one page per file: a bucket file of a
    * few thousand rows is a single page, which a probe reads whole. */
  private def writePostings(post: DataFrame, uri: String, buckets: Int,
      target: String): Unit =
    post.withColumn("tb", termBucket(col("term"), buckets))
      .repartition(col("tb"))
      .sortWithinPartitions(col("tb"), col("term"), col("doc_id"))
      .write.options(graft.storage.Encryption.dirWriteOptions(post.sparkSession, uri))
      .partitionBy("tb").parquet(target)

  /** ONE flat scan over the base generation plus every pending batch
    * dir — never a union of per-dir reads. The per-leg union shape
    * costs a fixed ~0.4 s of listing/footer/plan work per pending dir
    * (measured: a probe at 100 pending dirs degraded 1.68 s → 45.7 s,
    * linear in dir count), the r13 MVCC-resolution lesson recurring
    * on the search index.
    *
    * Multi-root partition DISCOVERY cannot express this (key=value
    * inference across roots at different depths is a hard Spark error,
    * CONFLICTING_DIRECTORY_STRUCTURES), so bucket pruning moves from
    * partition filters to PATH SELECTION: one listing per root picks
    * exactly the `tb=` dirs in `tbs` (None = all), and the selected
    * leaf dirs — which contain only files — read as one scan with the
    * explicit data schema. Strictly stronger than `tb isin` pruning:
    * pruned buckets are never listed into the scan at all. The frame
    * has NO tb column; the writer-side value is `termBucket(term)`,
    * a pure function callers recompute when they need the layout.
    *
    * The selected leaf dirs are listed HERE too, and the scan is built
    * over that listing ([[Shim.leafDirIndex]], read through
    * [[Shim.parquetOf]]):
    * `spark.read.parquet(dirs)` would list them again and, once they
    * exceed Spark's parallel-discovery threshold (32 paths — reached by
    * a probe as soon as one inc dir is pending), spend a Spark job on
    * that listing (measured: 164 ms of a 1.1 s probe). Build, minor fold
    * and major read through here as well. */
  private def readPostingsMulti(spark: org.apache.spark.sql.SparkSession,
      roots: Seq[String], tbs: Option[Array[Int]]): DataFrame = {
    val fs = graft.storage.VFS(spark)
    val want: Int => Boolean = tbs match {
      case Some(a) => a.toSet
      case None => _ => true
    }
    val entries = roots.filter(fs.exists).flatMap(fs.ls)
    // loud, not silent: a postings root may contain ONLY tb= bucket
    // dirs and _/. sidecars (_SUCCESS, _genstats.json, .crc). Anything
    // else — flat data files, a different partition column, a foreign
    // layout — would otherwise be dropped from every probe and
    // compaction (the stats sidecars never validate the layout)
    entries.find { e =>
      val name = e.substring(e.lastIndexOf('/') + 1)
      !name.startsWith("tb=") && !name.startsWith("_") && !name.startsWith(".")
    }.foreach(f => sys.error(
      s"postings layout unrecognized: entry outside tb= bucket dirs " +
        s"at $f — rebuild the index with Search.buildIndex"))
    val dirs = entries.filter { d =>
      val name = d.substring(d.lastIndexOf('/') + 1)
      name.startsWith("tb=") &&
        scala.util.Try(name.substring(3).toInt).toOption.exists(want)
    }
    // an index built over zero docs (streaming bootstrap) writes only
    // _SUCCESS — no tb= dirs — and lands here on the empty frame; a
    // bucket selection matching no dirs (terms hashing to buckets this
    // index never wrote) is likewise a legitimate empty
    if (dirs.isEmpty) emptyPostings(spark)
    else Shim.parquetOf(spark, Shim.leafDirIndex(spark, dirs, PostingsSchema), PostingsSchema)
  }

  private val PostingsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "term string, doc_id bigint, tf bigint, dl bigint")

  private def emptyPostings(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], PostingsSchema)

  // --- per-root term lexicons ---

  /** A committed postings root (the build dir, a base generation, or an
    * inc dir's `postings`) and the nonce its commit sidecar carries. */
  private[graft] final case class PostingsRoot(path: String, nonce: Option[String])

  /** One lexicon row: the term's `tb` bucket and its df, the term's row
    * count in that root. */
  private final case class LexEntry(tb: Int, df: Long)
  private type Lexicon = Map[String, LexEntry]

  private def lexiconPath(root: String) = s"$root/_lexicon.json"

  private def newNonce(): String = java.util.UUID.randomUUID().toString

  /** The `tb` bucket [[writePostings]] gives `term`: Math.floorMod ==
    * Spark's pmod for signed longs (remainderUnsigned would diverge for
    * non-power-of-two bucket counts). */
  private def bucketOf(term: String, buckets: Int): Int =
    java.lang.Math.floorMod(xxhash64Of(term), buckets.toLong).toInt

  private def lexiconOf(df: scala.collection.Map[String, Long], buckets: Int): Lexicon =
    df.iterator.map { case (t, d) => t -> LexEntry(bucketOf(t, buckets), d) }.toMap

  /** The exact lexicon of the row union of roots: df adds per term. */
  private def sumLexicons(lexicons: Seq[Lexicon]): Lexicon =
    lexicons.sortBy(-_.size).reduceOption { (acc, l) =>
      l.foldLeft(acc) { case (m, (t, e)) =>
        m.updated(t, m.get(t).fold(e)(p => LexEntry(p.tb, p.df + e.df)))
      }
    }.getOrElse(Map.empty)

  /** Writes `root`'s lexicon, sorted by (tb, term), through the index's
    * sidecar envelope (an encrypted index keeps its terms encrypted).
    * The caller writes the root's commit sidecar with `nonce` AFTER
    * this, so a committed root always has its lexicon. */
  private def writeLexicon(spark: org.apache.spark.sql.SparkSession, uri: String,
      root: String, nonce: String, lex: Lexicon): Unit = {
    import graft.core.Json._
    val rows = lex.toSeq.sortBy { case (t, e) => (e.tb, t) }.map { case (t, e) =>
      JArr(Seq(JStr(t), JLong(e.tb), JLong(e.df)))
    }
    graft.storage.Encryption.dirJsonWrite(spark, uri, lexiconPath(root),
      render(JObj(Seq("nonce" -> JStr(nonce), "terms" -> JArr(rows)))))
  }

  /** `root`'s lexicon, from the cache or its sidecar. A root written
    * before lexicons existed has no nonce in its commit sidecar (and no
    * lexicon): that fails loudly and names the rebuild. A lexicon that
    * vanished with its root (a grace dir retired under a slow probe)
    * fails with the file-not-found error. */
  private def readLexicon(spark: org.apache.spark.sql.SparkSession, uri: String,
      root: PostingsRoot): Lexicon = {
    val nonce = root.nonce.getOrElse(sys.error(s"bm25 postings root ${root.path} has no " +
      "term lexicon (written by an older version) — rebuild the index with Search.buildIndex"))
    LexiconCache.get(root.path, nonce).getOrElse {
      import graft.core.Json._
      val o = readJson(spark, uri, lexiconPath(root.path))
      require(o("nonce").exists(_.str == nonce), s"bm25 lexicon of ${root.path} belongs " +
        "to another write of that root than the committed one")
      val lex: Lexicon = o("terms").map(_.arr).getOrElse(Nil).iterator.map { r =>
        val a = r.arr
        a(0).str -> LexEntry(a(1).long.toInt, a(2).long)
      }.toMap
      LexiconCache.put(root.path, nonce, lex)
      lex
    }
  }

  /** df of each of `terms` present in the roots: the sum of the roots'
    * lexicon entries. An index probe takes its df from here, so it
    * scans the postings once, to score. */
  private[graft] def probeDf(spark: org.apache.spark.sql.SparkSession, uri: String,
      roots: Seq[PostingsRoot], terms: Seq[String]): Map[String, Long] = {
    val lexicons = roots.map(readLexicon(spark, uri, _))
    terms.distinct.flatMap { t =>
      val df = lexicons.iterator.map(_.get(t).fold(0L)(_.df)).sum
      if (df > 0) Some(t -> df) else None
    }.toMap
  }

  /** Parsed lexicons on the driver, keyed by (root path, commit
    * nonce): a root is write-once, and a rewrite of the same path
    * (a tag replay, a rebuild) commits a new nonce, so an entry never
    * goes stale. Least-recently-used entries leave above a fixed byte
    * bound (a lexicon larger than the bound is never kept); a miss
    * re-reads the sidecar. */
  private object LexiconCache {
    private val MaxBytes = 64L << 20
    private val entries =
      new java.util.LinkedHashMap[(String, String), (Lexicon, Long)](16, 0.75f, true)
    private var bytes = 0L

    def get(root: String, nonce: String): Option[Lexicon] =
      synchronized(Option(entries.get((root, nonce))).map(_._1))

    def put(root: String, nonce: String, lex: Lexicon): Unit = {
      // a rough heap size: the term's chars plus the map node and entry
      val size = lex.keysIterator.map(t => 96L + 2L * t.length).sum
      if (size <= MaxBytes) synchronized {
        Option(entries.put((root, nonce), (lex, size))).foreach(old => bytes -= old._2)
        bytes += size
        val eldest = entries.values.iterator
        while (bytes > MaxBytes) { bytes -= eldest.next()._2; eldest.remove() }
      }
    }
  }

  private def readJson(spark: org.apache.spark.sql.SparkSession, uri: String,
      path: String): graft.core.Json.JObj =
    graft.core.Json.parse(graft.storage.Encryption.dirJsonRead(spark, uri, path)).obj

  private def long(o: graft.core.Json.JObj, k: String): Long =
    o(k).getOrElse(sys.error(s"bm25 index missing $k")).long

  /** Term bucket count, pinned in `_params.json` at build. */
  private def readBuckets(spark: org.apache.spark.sql.SparkSession,
      uri: String): Int = long(readJson(spark, uri, paramsPath(uri)), "buckets").toInt

  /** Build (or rebuild) the BM25 index at `uri`. One corpus text pass
    * (the postings aggregation), one range write.
    *
    * Index layout: `postings/tb=NN/` term-hash-bucketed postings
    * (term, doc_id, tf, dl), each bucket's files SORTED by term so
    * parquet footer stats prune to the probed terms;
    * `postings/_lexicon.json` the root's term lexicon (per term its
    * `tb` bucket and df); `_stats.json` the exact-integer corpus stats
    * (nDocs, sumDl) that BM25 needs globally plus the write's nonce;
    * and `_params.json` the bucket count and layout version. Every
    * postings root — this one, each batch append, each minor fold, each
    * major generation — is write-once and carries its own lexicon,
    * written before its commit sidecar, so a probe sums df over the
    * roots it lists without reading a posting. The lexicon and Σtf come
    * from one `treeAggregate` over the just-written postings
    * ([[termDf]]).
    *
    * The 100 TB story mirrors [[DedupIndex]]: build once (one corpus
    * pass, one shuffle), then every query batch reads only the
    * buckets (path selection of `tb=` dirs) and row groups
    * (term-range footer stats) its terms live in — steady-state cost
    * proportional to the query terms' postings, never the corpus. */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
      uri: String, buckets: Int = 64,
      encryptionKey: Option[String] = None): Unit = {
    // probe-side cost depends on this: bm25IndexTopK prunes by PATH
    // SELECTION, listing up to one `tb=` dir per bucket in every
    // postings root it scans, so the bucket count bounds the probe's
    // listing and file count, not just the layout. 4096 keeps the
    // worst case bounded; a corpus needing more buckets wants a
    // partitioned index per shard, not wider roots.
    require(buckets > 0 && buckets <= 4096,
      s"buckets must be in [1, 4096], got $buckets (a probe lists up " +
        "to one tb= dir per bucket in every postings root)")
    import graft.core.Json._
    val spark = docs.sparkSession
    graft.storage.VFS(spark).delete(uri)
    // postings carry the corpus TERMS — an encrypted corpus needs an
    // encrypted index. The dir marker makes appends/compactions
    // inherit the key with no further plumbing.
    encryptionKey.foreach(id => graft.storage.Encryption.markDir(spark, uri, id))
    writePostings(postings(docs, idCol, textCol), uri, buckets, postingsPath(uri))
    // lexicon and stats from the JUST-WRITTEN postings (sum(dl) =
    // sum(tf)) + a metadata-only row count — no second corpus text
    // pass. The read tolerates an index built over zero docs (the
    // streaming bootstrap shape), whose postings dir holds no tb= dirs.
    val written = termDf(readPostingsMulti(spark, Seq(postingsPath(uri)), None)
      .queryExecution.toRdd, 0, 2)
    val nonce = newNonce()
    writeLexicon(spark, uri, postingsPath(uri), nonce, lexiconOf(written.df, buckets))
    graft.storage.Encryption.dirJsonWrite(spark, uri, statsPath(uri),
      render(JObj(Seq("nDocs" -> JLong(docs.count()), "sumDl" -> JLong(written.sumTf),
        "nonce" -> JStr(nonce)))))
    graft.storage.Encryption.dirJsonWrite(spark, uri, paramsPath(uri),
      render(JObj(Seq("buckets" -> JLong(buckets), "layout" -> JLong(IndexLayout)))))
  }

  // --- incremental batch appends (idempotent, streaming-safe) ---

  private def incPath(uri: String) = s"$uri/postings_inc"

  /** One committed inc dir: per-batch append (`tags` empty) or a MINOR
    * FOLD dir (`tags` = the batch/fold tags whose postings it
    * subsumes — transitively, so exclusion never depends on a chain of
    * still-present intermediate folds). */
  private case class IncDir(dir: String, tag: String, nDocs: Long,
      sumDl: Long, tags: Seq[String], nonce: Option[String]) {
    def root: PostingsRoot = PostingsRoot(s"$dir/postings", nonce)
  }

  /** One snapshot of the index, from ONE listing of the inc tier: the
    * live base postings generation with its exact stats (nDocs,
    * sumDl), the base's already-folded tag set, the fold-number
    * high-water mark, and every committed inc dir. */
  private case class IncState(base: PostingsRoot, baseDocs: Long, baseDl: Long,
      folded: Set[String], foldHw: Int, committed: Seq[IncDir]) {
    /** (retired, pending): committed dirs already subsumed by the base
      * generation's folded tag set or by another committed fold's tag
      * list — grace dirs, kept one maintenance cycle for in-flight
      * probes — and the rest. */
    def retiredAndPending: (Seq[IncDir], Seq[IncDir]) = {
      val excluded = folded ++ committed.flatMap(_.tags)
      committed.partition(d => excluded(d.tag))
    }
  }

  /** All COMMITTED inc dirs (stats sidecar present — it doubles as the
    * commit marker) plus the base generation's state. With
    * `retireCrashed` (MAINTENANCE verbs only — never a read path),
    * also deletes stats-less `fold-` dirs: fold tags are
    * maintenance-owned (reserved in [[appendBatchToIndex]]) and
    * maintenance is single-writer, so a marker-less fold dir seen by a
    * maintenance verb can only be a CRASHED earlier fold — but the
    * same dir seen by a concurrent PROBE is the current fold's
    * in-flight write, which a read path must ignore, not delete. */
  private def incCommitted(spark: org.apache.spark.sql.SparkSession,
      uri: String, retireCrashed: Boolean = false): IncState = {
    val fs = graft.storage.VFS(spark)
    val base = graft.storage.VersionedDir.resolve(fs, uri, "postings")
    val genStatsPath = s"$base/_genstats.json"
    // ONE parse of the generation's `_genstats.json`: exact base stats,
    // folded tags and the persisted fold high-water mark. The build
    // generation has none — its stats are the root `_stats.json`, and
    // nothing is folded into it yet.
    val (baseDocs, baseDl, folded, hw, baseNonce) =
      if (fs.exists(genStatsPath)) {
        val o = readJson(spark, uri, genStatsPath)
        (long(o, "nDocs"), long(o, "sumDl"),
          o("tags").map(_.arr.map(_.str).toSet).getOrElse(Set.empty[String]),
          o("foldHw").map(_.long.toInt).getOrElse(0), o("nonce").map(_.str))
      } else {
        val o = readJson(spark, uri, statsPath(uri))
        (long(o, "nDocs"), long(o, "sumDl"), Set.empty[String], 0, o("nonce").map(_.str))
      }
    // race injection: a major can be forced AFTER the base+genstats
    // resolution, BEFORE the inc listing — the old generation and its
    // grace dirs must still read as a consistent pre-flip view
    graft.storage.FlipHooks.at("search.read.afterBaseResolve")
    val dirs =
      if (!fs.exists(incPath(uri))) Seq.empty
      else fs.ls(incPath(uri)).sorted
    val committed = dirs.flatMap { d =>
      val tag = d.substring(d.lastIndexOf('/') + 1)
      if (!fs.exists(s"$d/_stats.json")) {
        if (retireCrashed && tag.startsWith(FoldTagPrefix)) fs.delete(d)
        None
      } else try {
        val o = readJson(spark, uri, s"$d/_stats.json")
        Some(IncDir(d, tag, long(o, "nDocs"), long(o, "sumDl"),
          o("tags").map(_.arr.map(_.str)).getOrElse(Nil), o("nonce").map(_.str)))
      } catch {
        // the dir vanished between the listing and this read: a
        // RETIRED grace dir deleted by a concurrent maintenance verb.
        // It was excluded from scans and stats anyway — skipping is
        // the same decision, without surfacing the race as a probe
        // failure. (Only FileNotFound: malformed stats still throw.)
        case _: java.io.FileNotFoundException => None
      }
    }
    // fold-number high-water mark: max over every tag this index still
    // remembers (dirs present, their subsumed tags, the base's folded
    // set) AND the persisted mark — a major compact rewrites the folded
    // set from its own snapshot, so without the carry a post-major fold
    // counter would restart at 1 and could collide with a stale grace
    // dir. A probe holding a retired fold path can then never see that
    // path re-materialize with different content within its grace window.
    val foldHw = (committed.map(_.tag) ++ committed.flatMap(_.tags) ++ folded)
      .flatMap(foldNum).maxOption.getOrElse(0).max(hw)
    IncState(PostingsRoot(base, baseNonce), baseDocs, baseDl, folded, foldHw, committed)
  }

  /** The live index state: the postings roots — the base generation
    * (VersionedDir — compaction flips reader-safely) first, then the
    * postings of the PENDING inc dirs, committed
    * batch/fold dirs not yet subsumed by the base generation's folded
    * tag set or by another committed fold's tag list — the summed
    * exact stats, and the bucket count. A batch dir only counts once
    * its `_stats.json` exists (written AFTER its postings — the sidecar
    * doubles as the commit marker); retired-but-not-yet-deleted grace
    * dirs (one maintenance cycle, for in-flight probes) are excluded
    * from both the scan roots and the stats, so a crash between any
    * commit and its source cleanup never double-counts. Reads each
    * index-level sidecar once. */
  private[graft] def liveState(spark: org.apache.spark.sql.SparkSession,
      uri: String): (Seq[PostingsRoot], Long, Long, Int) = {
    val st = incCommitted(spark, uri)
    val pending = st.retiredAndPending._2
    (st.base +: pending.map(_.root), st.baseDocs + pending.map(_.nDocs).sum,
      st.baseDl + pending.map(_.sumDl).sum, readBuckets(spark, uri))
  }

  /** IDEMPOTENT per-batch append — the streaming-safe append: the
    * batch's postings land in their own `postings_inc/<tag>/`
    * directory with a per-batch stats sidecar written last. Replaying
    * the same tag (micro-batch retry, crash replay) OVERWRITES the same
    * directory — effectively-once: postings and stats are never
    * doubled. The batch's lexicon and Σtf come from one `treeAggregate`
    * over its postings, and the lexicon is written before the stats
    * sidecar, whose nonce is new on every write (a replay included);
    * idf and the length normalizer
    * shift for ALL queries as the corpus grows — exactly BM25's
    * definition, and the index path stays equal to an inline run over
    * corpus ∪ batches. Probes union the base generation with pending
    * batch dirs; [[minorCompactIndex]] and [[compactIndex]] fold them
    * reader-safely. */
  def appendBatchToIndex(docs: DataFrame, idCol: String, textCol: String,
      uri: String, tag: String): Unit = {
    require(tag.nonEmpty && !tag.contains('/'), s"bad batch tag '$tag'")
    require(!tag.startsWith(FoldTagPrefix),
      s"batch tag '$tag' uses the reserved '$FoldTagPrefix' prefix " +
        "(minor-fold dirs are maintenance-owned)")
    import graft.core.Json._
    val spark = docs.sparkSession
    val fs = graft.storage.VFS(spark)
    // empty batch = nothing to index: an idle stream would otherwise
    // drip zero-row tag dirs that every probe lists and every fold
    // rewrites (replaying an empty batch re-skips — still idempotent)
    if (docs.isEmpty) return
    val dir = s"${incPath(uri)}/$tag"
    fs.delete(dir)
    val batch = postings(docs, idCol, textCol).localCheckpoint(true)
    val buckets = readBuckets(spark, uri)
    writePostings(batch, uri, buckets, s"$dir/postings")
    val written = termDf(batch.queryExecution.toRdd, batch.schema.fieldIndex("term"),
      batch.schema.fieldIndex("tf"))
    val nonce = newNonce()
    writeLexicon(spark, uri, s"$dir/postings", nonce, lexiconOf(written.df, buckets))
    graft.storage.Encryption.dirJsonWrite(spark, uri, s"$dir/_stats.json",
      render(JObj(Seq("nDocs" -> JLong(docs.count()), "sumDl" -> JLong(written.sumTf),
        "nonce" -> JStr(nonce)))))
  }

  /** Reserved prefix of minor-fold inc dirs — maintenance-owned. */
  private val FoldTagPrefix = "fold-"

  private def foldNum(tag: String): Option[Int] =
    if (tag.startsWith(FoldTagPrefix))
      scala.util.Try(tag.substring(FoldTagPrefix.length).toInt).toOption
    else None

  /** BOUNDED maintenance (r17) — the search-index analogue of
    * [[graft.ops.DedupIndex.minorCompact]]: fold the PENDING inc batch
    * dirs into ONE `fold-NNNNNN` inc dir (re-bucketed `tb=` layout,
    * term-sorted — the same per-file pruning as the base), leaving the
    * base generation untouched. Cost is O(appends since the last MAJOR
    * compact), never O(corpus) — which is what makes this safe inside
    * a streaming foreachBatch at any index size (the probe tax of N
    * pending dirs is ~0.4 s/dir of listing/plan work; the fold resets
    * the pending count to 1). [[compactIndex]] (major, O(corpus))
    * remains the lull-time verb that folds everything into the base.
    *
    * The fold rewrites the exact row union of its sources, so its
    * lexicon is their lexicons summed on the driver, with no data job.
    *
    * Crash-safe without a VersionedDir flip of its own: the fold dir's
    * `_stats.json` (written LAST, carrying the merged nDocs/sumDl and
    * the subsumed source tags) is the commit marker — a crash before
    * it leaves a stats-less dir the next maintenance pass retires; a
    * crash after it leaves the sources on disk but EXCLUDED from every
    * read and stats sum (their tags are listed). Committed sources are
    * kept one maintenance cycle as grace for in-flight probes that
    * listed them pre-fold, then deleted by the NEXT maintenance verb —
    * so the probe-duration contract is: finish within one fold cadence
    * of resolving the pending list. Single-writer vs appends, like all
    * maintenance (the in-loop caller serializes by construction). */
  def minorCompactIndex(spark: org.apache.spark.sql.SparkSession,
      uri: String): Unit = {
    import graft.core.Json._
    val fs = graft.storage.VFS(spark)
    val st = incCommitted(spark, uri, retireCrashed = true)
    val (retired, pending) = st.retiredAndPending
    // retired dirs have had their one-cycle grace: clean them up even
    // when there is nothing new to fold
    if (pending.size <= 1) { retired.foreach(d => fs.delete(d.dir)); return }
    // fold numbers never reuse a LIVE number (see IncState.foldHw)
    val dir = f"${incPath(uri)}/$FoldTagPrefix${st.foldHw + 1}%06d"
    val lex = sumLexicons(pending.map(d => readLexicon(spark, uri, d.root)))
    fs.delete(dir)
    writePostings(
      readPostingsMulti(spark, pending.map(_.root.path), None),
      uri, readBuckets(spark, uri), s"$dir/postings")
    val tags = (pending.map(_.tag) ++ pending.flatMap(_.tags)).distinct
    val nonce = newNonce()
    writeLexicon(spark, uri, s"$dir/postings", nonce, lex)
    graft.storage.Encryption.dirJsonWrite(spark, uri, s"$dir/_stats.json",
      render(JObj(Seq("nDocs" -> JLong(pending.map(_.nDocs).sum),
        "sumDl" -> JLong(pending.map(_.sumDl).sum),
        "tags" -> JArr(tags.map(JStr)), "nonce" -> JStr(nonce)))))
    retired.foreach(d => fs.delete(d.dir))
  }

  /** Fold the base generation AND every pending inc dir into a NEW
    * base postings generation (re-bucketed, re-sorted — restores
    * footer-stat pruning globally), flipping generations through
    * [[graft.storage.VersionedDir]]: a concurrent probe always
    * resolves a complete generation, and a crash at any point leaves
    * a consistent index (the generation's folded-tags list — which
    * carries the pending dirs' tags AND their transitively subsumed
    * tags — excludes not-yet-deleted inc dirs from double-counting).
    * The folded inc dirs are kept ONE maintenance cycle as grace for
    * in-flight probes that listed them pre-flip (the r16 ADVICE race:
    * immediate deletion could yank a pending dir mid-scan), then
    * deleted by the next maintenance verb; dirs already retired by an
    * earlier fold are deleted here. The new generation's lexicon is the
    * sum of its sources' lexicons, as in [[minorCompactIndex]].
    * O(corpus) — the lull-time verb; [[minorCompactIndex]] is the
    * bounded in-loop one. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, uri: String): Unit = {
    import graft.core.Json._
    val fs = graft.storage.VFS(spark)
    // ONE listing drives the whole fold: the rows read, the stats
    // summed, and the tags recorded all come from the same snapshot
    // of the inc tier. (A second listing could see a batch the first
    // one missed — its rows and stats would land in the new
    // generation while its tag stayed off the folded list, and the
    // next read would double-count it.)
    val st = incCommitted(spark, uri, retireCrashed = true)
    val (retired, pendingDirs) = st.retiredAndPending
    if (pendingDirs.isEmpty) { retired.foreach(d => fs.delete(d.dir)); return }
    val n = st.baseDocs + pendingDirs.map(_.nDocs).sum
    val sumDl = st.baseDl + pendingDirs.map(_.sumDl).sum
    val sources = st.base +: pendingDirs.map(_.root)
    val lex = sumLexicons(sources.map(readLexicon(spark, uri, _)))
    val target = graft.storage.VersionedDir.next(fs, uri, "postings")
    writePostings(readPostingsMulti(spark, sources.map(_.path), None),
      uri, readBuckets(spark, uri), target)
    // the new folded set covers EVERY dir in the listing snapshot —
    // pending (now baked into the generation) AND retired grace dirs
    // (already excluded, but excluded via the OLD genstats: dropping
    // their entries would re-expose them as pending if a crash — or a
    // concurrent probe — lands between the commit below and the
    // trailing deletes, double-counting their stats and re-scanning
    // their postings)
    val tags = ((pendingDirs ++ retired).map(_.tag) ++
      (pendingDirs ++ retired).flatMap(_.tags)).distinct
    // the fold-number high-water mark survives the genstats rewrite:
    // the folded set resets to this snapshot's tags, so numbers seen
    // only in the OLD set would otherwise be forgotten and reused by
    // the next minor fold
    val nonce = newNonce()
    writeLexicon(spark, uri, target, nonce, lex)
    graft.storage.Encryption.dirJsonWrite(spark, uri, s"$target/_genstats.json",
      render(JObj(Seq("nDocs" -> JLong(n), "sumDl" -> JLong(sumDl),
        "tags" -> JArr(tags.map(JStr)), "foldHw" -> JLong(st.foldHw),
        "nonce" -> JStr(nonce)))))
    graft.storage.VersionedDir.commit(fs, uri, "postings", target)
    // race injection: the commit → cleanup window (retired grace dirs
    // still on disk; the rewritten genstats must keep them excluded —
    // the r18 exclusion-carry fix, pinned deterministically)
    graft.storage.FlipHooks.at("search.compact.afterFlip")
    retired.foreach(d => fs.delete(d.dir))
  }

  /** Tier stats + major-compact advisory for a persisted BM25 index:
    * base = the live postings generation, inc = the PENDING batch/fold
    * dirs (grace dirs excluded — their bytes are already counted in
    * the fold that subsumed them). Listings only, no data read. */
  def maintenanceAdvice(spark: org.apache.spark.sql.SparkSession,
      uri: String): graft.storage.MaintenanceAdvice = {
    val (roots, _, _, _) = liveState(spark, uri)
    graft.storage.MaintenanceAdvice.of(graft.storage.VFS(spark), Seq(roots.head.path),
      roots.tail.map(_.path))
  }

  /** Top-k BM25 against a persisted index. The query batch's terms
    * resolve on the driver in one collect (bounded: a query batch is
    * small by definition; `maxProbeTerms` guards the contract); their
    * buckets select the `tb=` dirs the scan lists (path selection in
    * [[readPostingsMulti]] — pruned buckets are never listed), and the
    * terms push into the scan as a `term isin` predicate, so row groups
    * prune on the sorted term column. Results match [[bm25TopK]]
    * pair-for-pair (pinned by the `bm25_index_topk` oracle and
    * `SearchSpec`).
    *
    * The frame is one [[Bm25Probe]] node over that scan, and building it
    * only resolves the index state and lists the files. When the
    * caller's action runs it, the driver sums the probed terms' df over
    * the listed roots' term lexicons ([[probeDf]], cached per root
    * write) and decides idf, elision, hot terms and the AND counts
    * ([[scoringTable]]); then 1 Spark job scores
    * ([[Bm25Probe.topK]]): per-task (query, doc) sums, one exchange,
    * then rounding, the AND filter and bounded per-query heaps (one
    * more exchange only above ~1M contribution rows). A batch none of
    * whose terms is in the index runs no job. No scoring DataFrame is
    * built or planned per probe, and AQE never splits the scoring: each
    * job, and each plan, is a fixed cost that dominates at probe sizes.
    * A probe planned before a fold and run after its grace cycle fails
    * loudly on the files it listed. Needs [[graft.core.GraftExtensions]]
    * (set by [[graft.core.GraftSession]]), which plans the node. */
  def bm25IndexTopK(spark: org.apache.spark.sql.SparkSession, uri: String,
      queries: DataFrame, qidCol: String, qtextCol: String,
      k: Int = 10, k1: Double = 1.25, b: Double = 0.75,
      maxProbeTerms: Int = MaxPushedTerms, maxDfFraction: Double = 1.0,
      requireAllTerms: Boolean = false): DataFrame = {
    require(k > 0, s"bm25IndexTopK: k must be positive, got $k")
    val (roots, nDocs, sumDl, buckets) = liveState(spark, uri)
    // the bucket count bounds the probe's path selection (up to one
    // listed `tb=` dir per bucket and root); buildIndex enforces
    // <= 4096 at write time, but the cost is paid HERE from persisted
    // params — re-validate so a foreign or legacy index fails loudly
    require(buckets > 0 && buckets <= 4096,
      s"bm25IndexTopK: index at $uri declares $buckets term buckets " +
        "(outside [1, 4096]); rebuild it with buckets <= 4096")
    val qt = queryTerms(queries, qidCol, qtextCol)
    val terms = qt.terms
    // Above maxProbeTerms the term list stops being pushable (32k+
    // string literals through isin bloat the plan), but the batch is
    // still servable: degrade to the broadcast left-semi probe shape
    // DedupIndex uses for oversized key sets. Bucket-dir pruning
    // survives; only the row-group term pruning is given up, and the
    // degradation is counted, never silent.
    if (terms.length > maxProbeTerms) {
      // the degraded path BROADCASTS the distinct query terms, so it
      // needs its own hard ceiling: beyond 16x the pushable cap
      // (~512k terms, tens of MB broadcast) the batch must be split by
      // the caller — fail with that message instead of broadcasting
      val hardCap = maxProbeTerms.toLong * 16
      require(terms.length <= hardCap,
        s"bm25IndexTopK: query batch has > hard cap $hardCap distinct " +
          "terms; split the query batch into smaller chunks and union " +
          "the results")
      graft.core.Stats.counter(spark, "bm25.index_probe_semi_join").add(1L)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"bm25IndexTopK: query batch exceeds $maxProbeTerms distinct terms; " +
          "probing via broadcast semi-join (bucket pruning only)")
    }
    val tbs = terms.map(bucketOf(_, buckets)).distinct
    // ONE scan over base + pending dirs, bucket-pruned by PATH
    // SELECTION inside readPostingsMulti; term pruning pushes into the
    // row groups of the selected files
    val post = restrictToTerms(readPostingsMulti(spark, roots.map(_.path), Some(tbs)),
        terms, maxProbeTerms)
      .select("term", "doc_id", "tf", "dl")
    Shim.ofRows(spark, Bm25Probe(post, qt.qid.dataType, Bm25Batch(LexiconDf(uri, roots),
      qt.pairs.toSeq, nDocs, sumDl, Some(k), k1, b, maxDfFraction, requireAllTerms)))
  }

  /** Driver-side xxhash64 of a UTF-8 string with Spark's seed (42) —
    * must equal the `xxhash64(term)` the writer bucketed with. */
  private def xxhash64Of(s: String): Long = {
    val bytes = s.getBytes("UTF-8")
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
      bytes.length, 42L)
  }
}
