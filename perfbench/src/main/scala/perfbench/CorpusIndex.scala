package perfbench

import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Stats
import graft.ops.{Dedup, DedupIndex, Search}
import graft.tools.ScaleRehearsal

/** `corpus_index`: a 3x synthetic documents corpus (3k docs, Zipf
  * vocabulary) plus 10% planted near-duplicate edits, a BM25 index and
  * a MinHash dedup index over it.
  *
  * The measuring window is the serving loop: six 8-query BM25 index
  * top-k probes, then an append of 200 new docs to both indexes, so
  * probes run against a growing number of pending inc dirs. Steps count
  * from the window start, so every run sees the same cadence. After the
  * window: a 100-doc dedup probe (20 of them planted near-dups of
  * indexed docs), a minor fold of both indexes, and the batch step
  * (near-dup drop over corpus and planted copies, BM25 top-k for one
  * query per 40 docs).
  *
  * Checks: every planted copy is dropped; BM25 top-k (batch and index)
  * equals a plain-Scala BM25 ranking over corpus and appended docs;
  * every planted copy in a probe batch finds its original. */
final class CorpusIndex(spark: SparkSession, seed: Long, workdir: String, rec: Recorder)
    extends Workload {
  import Gen._

  private val BaseDocs = 1000
  private val Mult = 3
  private val K = 10
  private val vocab = vocabulary(seed, 3000)
  private val zipf = new Zipf(vocab.length)
  private val r = new SplittableRandom(seed * 31 + 6)
  private val base = docs(r, vocab, zipf, 1L to BaseDocs)

  private val dir = s"$workdir/corpus"
  private val bm25Uri = s"$dir/bm25"
  private val dedupUri = s"$dir/dedup"
  private var corpus: DataFrame = _
  private var planted: Seq[(Doc, Long)] = Nil
  private var nextId = 1L << 40
  private var appends = 0
  private var pendingIncs = 0
  private var batchDocs = 0
  // the index reference grows with appends; the batch step ranks the
  // fixture corpus alone
  private val ref = new Bm25Ref
  private val corpusRef = new Bm25Ref
  private def corpusDocs = corpusRef.docs.size

  val foreground: Seq[String] = Seq("bm25_probe")
  /** Six BM25 probes per append. */
  private val schedule = Seq.fill(6)("bm25_probe") :+ "index_append"
  val cycle: Int = schedule.size

  def setup(): Unit = {
    docDf(spark, base).write.parquet(s"$dir/base/documents.parquet")
    ScaleRehearsal.synthesizeDocs(spark, s"$dir/base", s"$dir/docs", Mult)
    corpus = spark.read.parquet(s"$dir/docs/documents.parquet").select("doc_id", "text")
    Search.buildIndex(corpus, "doc_id", "text", bm25Uri)
    DedupIndex.build(corpus, "doc_id", "text", dedupUri)
    corpus.collect().foreach { x =>
      ref.add(x.getLong(0), x.getString(1)); corpusRef.add(x.getLong(0), x.getString(1))
    }
    planted = plant(corpusDocs / 10)
  }

  private def fresh(n: Int): Seq[Doc] = {
    val ids = (0 until n).map(_ => { nextId += 1; nextId })
    docs(r, vocab, zipf, ids)
  }

  /** Near-dup copies of long indexed docs, paired with their originals. */
  private def plant(n: Int): Seq[(Doc, Long)] = {
    val long = ref.docs.filter(_._3 >= 40)
    (0 until n).map { _ =>
      val (id, text, _) = long(r.nextInt(long.size))
      nextId += 1
      (nearDup(r, Doc(id, text), nextId, vocab), id)
    }
  }

  /** Query texts of three words: one head term (in most docs), one
    * middle and one tail term of the Zipf ranking, so every probe does
    * comparable work whatever the seed. */
  private def queries(n: Int): Seq[Doc] =
    (0 until n).map(q => Doc(q.toLong,
      Seq(vocab(r.nextInt(30)), vocab(30 + r.nextInt(270)), vocab(300 + r.nextInt(vocab.length - 300)))
        .mkString(" ")))

  /** Driver-side code paths of a probe take several calls to reach
    * steady speed, hence the repeated BM25 probes. */
  def warmup(): Unit = {
    bm25Probe(); dedupProbe(); bm25Probe(); indexAppend(); bm25Probe(); bm25Probe()
  }

  def step(i: Int): Unit = if (schedule(i % cycle) == "index_append") indexAppend() else bm25Probe()

  // -------------------------------------------------------------- batch

  private def batchStep(): Unit = {
    val all = corpus.unionByName(docDf(spark, planted.map(_._1)))
    batchDocs = corpusDocs + planted.size
    val plantedIds = planted.map(_._1.id).toSet
    rec.op("dedup_batch") {
      rec.span("ops.dedup")(Dedup.dropNearDups(all, "doc_id", "text").select("doc_id").collect())
        .map(_.getLong(0))
    } { kept =>
      val leaked = kept.count(plantedIds)
      if (leaked == 0 && kept.length <= corpusDocs) None
      else Some(s"dedup kept $leaked of ${plantedIds.size} planted copies (${kept.length} rows)")
    }
    val qs = (0 until corpusDocs).filter(_ % 40 == 0).map { j =>
      val w = corpusRef.docs(j)._2.split(" ")
      Doc(j.toLong, Seq.fill(3)(w(r.nextInt(w.length))).mkString(" "))
    }
    rec.op("bm25_batch") {
      rec.span("ops.bm25_topk")(Search.bm25TopK(corpus, "doc_id", "text", docDf(spark, qs),
        "doc_id", "text", k = K).collect())
    } { rows => corpusRef.check(qs, rows, K) }
  }

  // ------------------------------------------------------------ serving

  private def counters(): Map[String, Long] = Stats.countersSnapshot

  private def noteCounters(before: Map[String, Long]): Unit = if (rec.tracedRound) {
    val after = counters()
    Seq("tiercache.hits", "pointindex.hits", "bm25.hot_terms_probed",
      "dedup_index.probe_groups_suppressed").foreach { k =>
      rec.note(s"stats.$k", (after.getOrElse(k, 0L) - before.getOrElse(k, 0L)).toDouble)
    }
    rec.note("storage.pending_incs_at_probe", pendingIncs)
  }

  private def bm25Probe(): Unit = {
    val qs = queries(8)
    val before = if (rec.tracedRound) counters() else Map.empty[String, Long]
    rec.op("bm25_probe") {
      rec.span("ops.index_probe")(
        Search.bm25IndexTopK(spark, bm25Uri, docDf(spark, qs), "doc_id", "text", k = K).collect())
    } { rows => ref.check(qs, rows, K) }
    noteCounters(before)
  }

  private def dedupProbe(): Unit = {
    val copies = plant(20)
    val batch = fresh(80) ++ copies.map(_._1)
    val before = if (rec.tracedRound) counters() else Map.empty[String, Long]
    rec.op("dedup_probe") {
      rec.span("ops.dedup_probe")(
        DedupIndex.probe(docDf(spark, batch), "doc_id", "text", dedupUri).select("id", "match_id").collect())
        .map(x => (x.getLong(0), x.getLong(1))).toSet
    } { pairs =>
      val missed = copies.filterNot { case (d, orig) => pairs((d.id, orig)) }
      if (missed.isEmpty) None
      else Some(s"dedup probe missed ${missed.size} of ${copies.size} planted copies, e.g. ${missed.head._1.id}")
    }
    noteCounters(before)
  }

  private def indexAppend(): Unit = {
    val batch = fresh(200)
    appends += 1
    val df = docDf(spark, batch)
    rec.op("index_append") {
      rec.span("ops.bm25_append")(Search.appendBatchToIndex(df, "doc_id", "text", bm25Uri, s"a$appends"))
      rec.span("ops.dedup_append")(DedupIndex.append(df, "doc_id", "text", dedupUri))
    }(_ => None)
    batch.foreach(d => ref.add(d.id, d.text))
    pendingIncs += 1
  }

  private def fold(): Unit = {
    rec.op("fold") {
      rec.span("ops.bm25_fold")(Search.minorCompactIndex(spark, bm25Uri))
      rec.span("ops.dedup_fold")(DedupIndex.minorCompact(spark, dedupUri))
    }(_ => None)
    pendingIncs = 1
  }

  /** After the serving window: a dedup probe, a minor fold of the
    * pending appends, then the batch step over the fixture's corpus and
    * the planted copies (appended docs are not part of it). */
  def finish(): Unit = { dedupProbe(); fold(); batchStep() }

  def metrics(traced: Boolean): Map[String, Metric] = {
    val probes = rec.lat(foreground: _*)
    val m = mutable.LinkedHashMap[String, Metric](
      "probe_p50_ms" -> Metric(Pct.median(probes), "ms"),
      "index_append_p50_ms" -> Metric(Pct.median(rec.lat("index_append")), "ms"),
      "batch_docs_per_s" -> Metric(batchDocs /
        (Pct.median(rec.ops.filter(o => o.kind == "dedup_batch" && o.ok).map(_.wallMs).toSeq) / 1e3), "1/s"))
    Pct.p90(probes).foreach(v => m("probe_p90_ms") = Metric(v, "ms"))
    if (traced) {
      val t = rec.ops.filter(o => o.traced && o.ok).toSeq
      def med(kind: String) = Pct.median(t.filter(_.kind == kind).map(_.wallMs))
      m("ops.dedup_ms") = Metric(med("dedup_batch"), "ms")
      m("ops.bm25_topk_ms") = Metric(med("bm25_batch"), "ms")
      m("ops.index_probe_ms") = Metric(med("bm25_probe"), "ms")
      m("ops.dedup_probe_ms") = Metric(med("dedup_probe"), "ms")
      m("ops.index_append_ms") = Metric(med("index_append"), "ms")
      m("ops.minor_fold_ms") = Metric(med("fold"), "ms")
      val probesT = t.filter(o => o.kind == "bm25_probe" || o.kind == "dedup_probe")
      Seq("stats.tiercache.hits", "stats.pointindex.hits", "stats.bm25.hot_terms_probed",
        "stats.dedup_index.probe_groups_suppressed", "storage.pending_incs_at_probe").foreach { k =>
        val xs = probesT.flatMap(_.extra.get(k))
        m(k) = Metric(if (xs.isEmpty) 0.0 else xs.sum / xs.size, "count")
      }
    }
    m.toMap
  }
}

/** Plain-Scala BM25 (k1 = 1.25, b = 0.75, idf = ln(1 + (N - df + 0.5) /
  * (df + 0.5)), distinct query terms, ranked by score rounded to 6
  * decimals then doc id) over every doc added so far: the independent
  * reference for both BM25 paths. */
final class Bm25Ref {
  val docs = mutable.ArrayBuffer.empty[(Long, String, Int)]
  private val postings = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Int, Int)]]
  private var sumDl = 0L

  private def terms(text: String): Array[String] =
    text.toLowerCase(java.util.Locale.ROOT).split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty)

  def add(id: Long, text: String): Unit = {
    val ts = terms(text)
    val idx = docs.size
    docs += ((id, text, ts.length))
    sumDl += ts.length
    ts.groupBy(identity).foreach { case (t, occ) =>
      postings.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += ((idx, occ.length))
    }
  }

  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  /** Reference score of every doc matching the query. */
  def scores(q: String): Map[Long, Double] = {
    val n = docs.size.toDouble
    val avgdl = sumDl / n
    val acc = mutable.HashMap.empty[Int, Double]
    terms(q).distinct.foreach { t =>
      postings.get(t).foreach { ps =>
        val df = ps.size.toDouble
        val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        ps.foreach { case (d, tf) =>
          val s = idf * tf * 2.25 / (tf + 1.25 * (0.25 + 0.75 * docs(d)._3 / avgdl))
          acc(d) = acc.getOrElse(d, 0.0) + s
        }
      }
    }
    acc.map { case (d, s) => docs(d)._1 -> s }.toMap
  }

  /** Compare engine rows (query_id, doc_id, score, rank) with the
    * reference top-k. Positions may differ only between docs whose
    * reference scores tie within the 6-decimal rounding. */
  def check(qs: Seq[Gen.Doc], rows: Array[org.apache.spark.sql.Row], k: Int): Option[String] = {
    val got = rows.groupBy(_.getAs[Long]("query_id")).map { case (q, rs) =>
      q -> rs.sortBy(_.getAs[Long]("rank")).map(x => (x.getAs[Long]("doc_id"), x.getAs[Double]("score"))).toSeq
    }
    qs.iterator.map { q =>
      val all = scores(q.text)
      val want = all.toSeq.map { case (d, s) => (d, round6(s)) }.sortBy { case (d, s) => (-s, d) }.take(k)
      val g = got.getOrElse(q.id, Nil)
      if (g.size != want.size) Some(s"query ${q.id} '${q.text}': ${g.size} hits, want ${want.size}")
      else g.zip(want).collectFirst {
        case ((gd, gs), (wd, ws)) if math.abs(gs - ws) > 1.5e-6 ||
            math.abs(round6(all.getOrElse(gd, Double.NaN)) - ws) > 1.5e-6 =>
          s"query ${q.id} '${q.text}': got doc $gd score $gs, want doc $wd score $ws"
      }
    }.collectFirst { case Some(e) => e }
  }
}
