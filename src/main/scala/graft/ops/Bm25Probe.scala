package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet,
  GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** Where a BM25 batch's df comes from. */
private[ops] sealed trait DfSource { def summary: String }

/** The term lexicons of the index at `uri`, over the postings roots the
  * probe's scan lists, summed when the node executes ([[Search.probeDf]]). */
private[ops] final case class LexiconDf(uri: String, roots: Seq[Search.PostingsRoot])
    extends DfSource { def summary: String = s"lexicons of ${roots.size} roots" }

/** df the inline path counted over its restricted postings ([[Search.termDf]]). */
private[ops] final case class CountedDf(df: scala.collection.Map[String, Long])
    extends DfSource { def summary: String = s"counted for ${df.size} terms" }

/** What one BM25 batch scores: where its df comes from, its distinct
  * (query id, term) pairs, ids in the caller's type, and the corpus's
  * exact stats. `k` = None scores every (query, doc) pair, unranked. */
private[ops] final case class Bm25Batch(df: DfSource, pairs: Seq[(Any, String)], nDocs: Long,
    sumDl: Long, k: Option[Int], k1: Double, b: Double, maxDfFraction: Double,
    requireAllTerms: Boolean) {
  def summary: String =
    s"k=${k.fold("all")(_.toString)}, k1=$k1, b=$b, pairs=${pairs.size}, df=${df.summary}, " +
      s"nDocs=$nDocs, sumDl=$sumDl, maxDfFraction=$maxDfFraction, requireAllTerms=$requireAllTerms"
}

/** One BM25 batch as a Catalyst node over its restricted postings
  * (`child`; `postings` are its term, doc_id, tf, dl attributes, listed
  * as the node's expressions so column pruning above the node keeps
  * them): an index probe's scan, or the inline path's in-memory
  * postings. Output: (query_id, doc_id, score, rank) with a `k`, or
  * (query_id, doc_id, score) with the raw sums without one. The child
  * stays a plan child, so its pushed filters, its semi joins and its
  * file listing show in the executed plan, and nothing runs until the
  * caller's action. Planned by [[Bm25ProbeStrategy]] (injected by
  * [[graft.core.GraftExtensions]]) into [[Bm25ProbeExec]]. */
private[graft] case class Bm25Probe(batch: Bm25Batch, postings: Seq[Attribute],
    output: Seq[Attribute], child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def stringArgs: Iterator[Any] = Iterator(batch.summary)
  override protected def withNewChildInternal(c: LogicalPlan): Bm25Probe = copy(child = c)
}

private[graft] object Bm25Probe {
  /** The batch's node over `post` (term, doc_id, tf, dl). Ranked
    * columns are nullable exactly as [[Similarity.topKPerKey]] reports
    * them: with long query ids (doc ids are always long) it reads
    * through a primitive tuple. Unranked columns are all nullable. */
  def apply(post: org.apache.spark.sql.DataFrame, qidType: DataType,
      batch: Bm25Batch): Bm25Probe = {
    val child = post.queryExecution.analyzed
    val boxed = batch.k.isEmpty || qidType != LongType
    Bm25Probe(batch, child.output, Seq(
      AttributeReference("query_id", qidType, boxed)(),
      AttributeReference("doc_id", LongType, boxed)(),
      AttributeReference("score", DoubleType, boxed)()) ++
      batch.k.map(_ => AttributeReference("rank", LongType, nullable = false)()), child)
  }

  /** The (query, doc) partials one scan task holds before it hands
    * them to the exchange, and the rows one scoring reducer merges on
    * average: the two bounds on the scoring job's memory. */
  val RowsPerReducer: Long = 1L << 20

  /** Reducers for `contributions` rows (Σ df over the kept (query,
    * term) pairs, known on the driver before the scoring job): one per
    * `RowsPerReducer` with no cap, as a task's partials never outnumber
    * its contributions. A probe-sized batch gets 1, and no merge runs. */
  def reducers(contributions: Long): Int =
    math.max(1L, (contributions + RowsPerReducer - 1) / RowsPerReducer).toInt

  private final class Acc { var sum = 0.0; var n = 0L }

  /** Adds (s, n) to the (slot, doc) sum, creating it at 0.0 as
    * `HashAggregate`'s `sum` buffer starts; true when it was created. */
  private def add(acc: Array[mutable.LongMap[Acc]], slot: Int, doc: Long,
      s: Double, n: Long): Boolean = {
    var m = acc(slot)
    if (m == null) { m = mutable.LongMap.empty[Acc]; acc(slot) = m }
    var a = m.getOrNull(doc)
    val created = a == null
    if (created) { a = new Acc; m.update(doc, a) }
    a.sum += s
    a.n += n
    created
  }

  private def fixedRow(fields: Int): UnsafeRow = {
    val size = UnsafeRow.calculateBitSetWidthInBytes(fields) + 8 * fields
    val r = new UnsafeRow(fields)
    r.pointTo(new Array[Byte](size), size)
    r
  }

  /** The scoring job: one RDD pipeline over the postings `rows`
    * (`at` = ordinals of term, doc_id, tf, dl).
    *  - Each scan task sums its (query slot, doc) contributions in scan
    *    order, as a partial `HashAggregate` does. Once it holds
    *    `partialBound` sums it hands them to the exchange and starts
    *    again, so a task's memory stays bounded on whole-corpus
    *    postings; the reducers merge partials from any number of
    *    sources.
    *  - One exchange on (slot, doc) into `parts` reducers, each merging
    *    the partials in arrival order as the final `HashAggregate`
    *    does, then applying the AND filter.
    *  - Without `k` the reducers emit (query_id, doc_id, raw score)
    *    rows. With it they round to 6 decimals HALF_UP and keep a
    *    bounded top-k heap per query; with more than one reducer the
    *    per-reducer heaps merge in one more exchange keyed by query.
    *    Rows: (query_id, doc_id, score, rank), ranked by rounded score
    *    desc, then doc_id asc, as [[Similarity.topKPerKey]] ranks. */
  def topK(rows: RDD[InternalRow], at: Array[Int], table: Search.ScoringTable,
      schema: StructType, k: Option[Int], k1: Double, b: Double, avgdl: Double,
      parts: Int, partialBound: Long = RowsPerReducer): RDD[InternalRow] = {
    val slots = table.ids.length
    val toId = CatalystTypeConverters.createToCatalystConverter(schema(0).dataType)
    val ids = table.ids.map(toId)
    val need = table.need.orNull
    val lookup = new java.util.HashMap[UTF8String, Array[(Int, Double)]]()
    table.entries.groupBy(_._1).foreach { case (t, es) =>
      lookup.put(UTF8String.fromString(t), es.map(e => (e._2, e._3)))
    }
    val Array(termAt, docAt, tfAt, dlAt) = at
    val partials = rows.mapPartitions { it =>
      Iterator.continually(it).takeWhile(_.hasNext).flatMap { _ =>
        val acc = new Array[mutable.LongMap[Acc]](slots)
        var held = 0L
        while (held < partialBound && it.hasNext) {
          val r = it.next()
          val es = lookup.get(r.getUTF8String(termAt))
          if (es != null) {
            val doc = r.getLong(docAt)
            val tf = r.getLong(tfAt).toDouble
            val dl = r.getLong(dlAt).toDouble
            es.foreach { case (slot, idf) =>
              if (add(acc, slot, doc, Search.contribution(idf, tf, dl, k1, b, avgdl), 1L))
                held += 1
            }
          }
        }
        for {
          slot <- Iterator.range(0, slots) if acc(slot) != null
          (doc, a) <- acc(slot).iterator
        } yield {
          val r = fixedRow(4)
          r.setInt(0, slot); r.setLong(1, doc); r.setDouble(2, a.sum); r.setLong(3, a.n)
          (java.lang.Math.floorMod(31 * slot + java.lang.Long.hashCode(doc), parts), r: InternalRow)
        }
      }
    }
    // (slot, doc, raw score) of every pair that passes the AND filter
    val summed = Shim.shuffleUnsafeRows(partials, parts, 4).mapPartitions { it =>
      val acc = new Array[mutable.LongMap[Acc]](slots)
      it.foreach(r => add(acc, r.getInt(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      Iterator.range(0, slots).filter(acc(_) != null).flatMap { slot =>
        acc(slot).iterator.collect {
          case (doc, a) if need == null || a.n == need(slot) => (slot, doc, a.sum)
        }
      }
    }
    if (k.isEmpty) return summed.mapPartitions { it =>
      val toRow = UnsafeProjection.create(schema)
      it.map { case (slot, doc, s) => toRow(new GenericInternalRow(Array[Any](ids(slot), doc, s))) }
    }
    def heaps(): Array[LongTopKHeap] = new Array[LongTopKHeap](slots)
    def offer(hs: Array[LongTopKHeap], slot: Int, score: Double, doc: Long): Unit = {
      if (hs(slot) == null) hs(slot) = new LongTopKHeap(k.get)
      hs(slot).offer(score, doc)
    }
    val scored = summed.mapPartitions { it =>
      val hs = heaps()
      it.foreach { case (slot, doc, s) => offer(hs, slot, Search.round6(s), doc) }
      Iterator.single(hs)
    }
    val merged =
      if (parts == 1) scored
      else {
        val byQuery = math.min(parts, slots)
        val cands = scored.flatMap { hs =>
          Iterator.range(0, slots).filter(hs(_) != null).flatMap { slot =>
            hs(slot).drain().map { case (s, doc) =>
              val r = fixedRow(3)
              r.setInt(0, slot); r.setLong(1, doc); r.setDouble(2, s)
              (slot % byQuery, r: InternalRow)
            }
          }
        }
        Shim.shuffleUnsafeRows(cands, byQuery, 3).mapPartitions { it =>
          val hs = heaps()
          it.foreach(r => offer(hs, r.getInt(0), r.getDouble(2), r.getLong(1)))
          Iterator.single(hs)
        }
      }
    merged.mapPartitions { it =>
      val toRow = UnsafeProjection.create(schema)
      it.flatMap { hs =>
        Iterator.range(0, slots).filter(hs(_) != null).flatMap { slot =>
          hs(slot).drain().toArray
            .sortWith((x, y) => x._1 > y._1 || (x._1 == y._1 && x._2 < y._2)).iterator
            .zipWithIndex.map { case ((s, doc), i) =>
              toRow(new GenericInternalRow(Array[Any](ids(slot), doc, s, i + 1L)))
            }
        }
      }
    }
  }
}

/** Plans [[Bm25Probe]] into [[Bm25ProbeExec]] over its planned child. */
private[graft] object Bm25ProbeStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: Bm25Probe => Bm25ProbeExec(p.batch, p.postings, p.output, planLater(p.child)) :: Nil
    case _ => Nil
  }
}

/** Executes one BM25 batch in 1 Spark job over its child's RDD. The
  * driver first takes the probed terms' df — summed over the listed
  * roots' term lexicons ([[Search.probeDf]]) for an index probe, or the
  * map the inline path counted — and makes the idf, elision, hot-term
  * and AND decisions ([[Search.scoringTable]]); then the scoring job
  * ([[Bm25Probe.topK]]) runs, or none when no probed term is in the
  * corpus. All of it happens when the caller's action executes the
  * node, so a probe planned before a fold and run after it reads the
  * lexicons and files it listed. */
private[graft] case class Bm25ProbeExec(batch: Bm25Batch, postings: Seq[Attribute],
    output: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def stringArgs: Iterator[Any] = Iterator(batch.summary)
  override protected def withNewChildInternal(c: SparkPlan): Bm25ProbeExec = copy(child = c)

  override protected def doExecute(): RDD[InternalRow] = run(Bm25Probe.reducers)

  /** Collects the batch's rows. A batch none of whose terms is in the
    * corpus starts no job: the default collect would post one for the
    * RDD with no partitions. */
  override def executeCollect(): Array[InternalRow] = {
    val rows = execute()
    if (rows.getNumPartitions == 0) Array.empty
    else rows.map(_.copy()).collect()
  }

  /** The batch's work, with `reducers` sizing the scoring exchange from
    * the contribution-row count and `partialBound` bounding each scan
    * task's partial sums. */
  private[graft] def run(reducers: Long => Int,
      partialBound: Long = Bm25Probe.RowsPerReducer): RDD[InternalRow] = {
    val at = postings.map(a => child.output.indexWhere(_.exprId == a.exprId)).toArray
    val df = batch.df match {
      case LexiconDf(uri, roots) => Search.probeDf(session, uri, roots, batch.pairs.map(_._2))
      case CountedDf(counted) => counted
    }
    val table = Search.scoringTable(session, batch.pairs, df, batch.nDocs,
      batch.maxDfFraction, batch.requireAllTerms)
    if (table.entries.isEmpty) sparkContext.emptyRDD[InternalRow]
    else Bm25Probe.topK(child.execute(), at, table, DataTypeUtils.fromAttributes(output),
      batch.k, batch.k1, batch.b, Search.avgdl(batch.nDocs, batch.sumDl),
      reducers(table.contributions), partialBound)
  }
}
