package graft.query

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.ArraySchema
import graft.storage.ArrayTable
import graft.query.MultiIndex.DimSel

/** The reference's reusable query proxy re-expressed as a fluent,
  * immutable builder over the array-table (reference: `A.query(attrs,
  * cond, dims, coords, order, ...)` at tiledb/query.py:13-316,
  * tiledb/dense_array.py:110-193, tiledb/sparse_array.py:321-408).
  *
  * Everything is lazy: the builder assembles ONE DataFrame plan —
  * ranges and conditions land in the parquet scan as pushed filters,
  * projections prune columns, aggregates ride the same plan. `order`
  * reproduces the reference's result-layout orders ('C' row-major,
  * 'F' col-major, 'G' global/storage order, 'U' unordered; reference:
  * tiledb/multirange_indexing.py:746-756) — the only sorts the
  * reference has.
  */
case class ArrayQuery(
    spark: SparkSession,
    uri: String,
    attrSel: Option[Seq[String]] = None,
    dimSel: Option[Seq[String]] = None,
    condExpr: Option[String] = None,
    ranges: Map[String, DimSel] = Map.empty,
    at: Option[(Long, Long)] = None,
    order: String = "U",
    aggSpecs: Option[Map[String, Seq[String]]] = None) {

  def attrs(names: String*): ArrayQuery = copy(attrSel = Some(names))
  /** dims(...) selects which dim columns come back (coords toggle) */
  def dims(names: String*): ArrayQuery = copy(dimSel = Some(names))
  def noCoords: ArrayQuery = copy(dimSel = Some(Nil))
  def cond(expression: String): ArrayQuery = copy(condExpr = Some(expression))
  def multiIndex(sel: (String, DimSel)*): ArrayQuery = copy(ranges = ranges ++ sel)
  /** open-timestamp range (time travel) */
  def timestamp(t0: Long, t1: Long): ArrayQuery = copy(at = Some((t0, t1)))
  /** 'C' row-major | 'F' col-major | 'G' global (storage) | 'U' unordered */
  def withOrder(o: String): ArrayQuery = {
    require(Set("C", "F", "G", "U")(o), s"unknown order $o")
    copy(order = o)
  }
  def agg(specs: Map[String, Seq[String]]): ArrayQuery = copy(aggSpecs = Some(specs))

  lazy val schema: ArraySchema = ArrayTable.schemaOf(spark, uri)

  /** Build the lazy DataFrame plan. A manifest-served aggregate
    * ([[metadataAgg]]) returns before the scan is built. */
  def df: DataFrame = aggSpecs.flatMap(metadataAgg).getOrElse(scanDf)

  private def scanDf: DataFrame = {
    // simple bounds go into the fragment-pruning read path; complex
    // per-dim selections (point lists, multi-ranges) become predicates
    val simpleBounds = ranges.collect {
      case (d, MultiIndex.RangeIncl(lo, hi)) => d -> (lo, hi)
      case (d, MultiIndex.Point(v)) => d -> (Some(v): Option[Any], Some(v): Option[Any])
    }
    val base = ArrayTable.read(spark, uri, at = at, ranges = simpleBounds,
      keepVersionCols = order == "G")
    val complex = ranges.filterNot { case (_, s) =>
      s.isInstanceOf[MultiIndex.RangeIncl] || s.isInstanceOf[MultiIndex.Point] }
    val selected = if (complex.isEmpty) base else MultiIndex(base, complex)
    val filtered = condExpr.map(c =>
      selected.filter(QueryCondition.compile(c, Some(schema)))).getOrElse(selected)

    aggSpecs match {
      case Some(specs) =>
        Aggregates.agg(filtered.drop(ArrayTable.TS, ArrayTable.SEQ), specs)
      case None =>
        val dimCols = dimSel.getOrElse(schema.dimNames)
        val attrCols = attrSel.getOrElse(schema.attrNames)
        val ordered = order match {
          case "C" => filtered.orderBy(schema.dimNames.map(col): _*)
          case "F" => filtered.orderBy(schema.dimNames.reverse.map(col): _*)
          case "G" => filtered.orderBy(col(ArrayTable.TS), col(ArrayTable.SEQ))
            .drop(ArrayTable.TS, ArrayTable.SEQ)
          case _ => filtered
        }
        ordered.select((dimCols ++ attrCols).map(col): _*)
    }
  }

  /** Aggregate pushdown to fragment manifests (the Spark-side analogue
    * of the reference's channel-aggregate scan computation, core.cc:
    * 400-430, and of DSv2 `SupportsPushDownAggregates`): zero data read
    * at any scale when every requested (attr, op) pair is provably
    * answerable from manifests over the FULL selection (no condition,
    * no ranges, no tombstones in the timestamp window):
    *
    *   - `count` = sum of fragment cell counts — additionally needs no
    *     possible shadowing (duplicates allowed, <=1 fragment, or all
    *     MBRs pairwise disjoint), since a shadowing rewrite changes the
    *     visible cell count.
    *   - `min`/`max` on a DIM = extreme of the fragment MBRs —
    *     shadowing is irrelevant here (a rewrite of existing coords
    *     never changes the coordinate set), only tombstones disable it.
    *
    * Anything else falls through to the scan. */
  private def metadataAgg(specs: Map[String, Seq[String]]): Option[DataFrame] = {
    import graft.core.Json._
    val pairs = specs.toSeq.flatMap { case (a, ops) => ops.map(a -> _) }
    val servable = pairs.nonEmpty && pairs.forall {
      case (attr, "count") => schema.hasColumn(attr)
      case (attr, "min" | "max") => ArrayTable.mbrServable(schema, attr)
      case _ => false
    }
    if (!servable || condExpr.nonEmpty || ranges.nonEmpty) None
    else {
      val sel = ArrayTable.select(spark, uri, at)
      val needCount = pairs.exists(_._2 == "count")
      if (sel.dels.nonEmpty || sel.frags.isEmpty || (needCount && sel.needDedup)) None
      else {
        val total = sel.frags.map(_.cellCount).sum
        val cols = pairs.map {
          case (attr, "count") => Some(lit(total).as(s"${attr}_count"))
          case (attr, op) =>
            sel.mbrExtreme(attr, takeMin = op == "min").map { v =>
              val l = v match {
                case JLong(x) => lit(x); case JNum(x) => lit(x)
                case JStr(x) => lit(x); case _ => lit(null)
              }
              // float dims surface as Double (Aggregates.aggColumn parity)
              val out = schema.dim(attr).sparkField.dataType match {
                case FloatType => DoubleType
                case other => other
              }
              l.cast(out).as(s"${attr}_$op")
            }
        }
        if (cols.exists(_.isEmpty)) None
        else Some(spark.range(1).select(cols.flatten: _*))
      }
    }
  }

  /** Estimated result sizes per requested column, from Catalyst plan
    * statistics (reference: estimated_result_sizes,
    * tiledb/multirange_indexing.py:317-342) — upper-bound bytes. */
  def estimatedResultSizes(): Map[String, Long] = {
    val plan = df.queryExecution.optimizedPlan
    val total = plan.stats.sizeInBytes
    val fields = plan.schema.fields
    val weights = fields.map(f => f.name -> math.max(1, f.dataType.defaultSize)).toMap
    val wsum = weights.values.sum
    fields.map(f => f.name ->
      (total * weights(f.name) / math.max(1, wsum)).toLong).toMap
  }

  /** Batch iteration for results larger than driver memory — the
    * incomplete-query loop collapses to an iterator over the
    * distributed result (reference: return_incomplete retry loop,
    * tiledb/multirange_indexing.py:344-354, core.cc:1260-1368; Spark
    * spills instead of retrying). */
  def toLocalIterator(batchRows: Int = 65536): Iterator[Seq[Row]] =
    df.toLocalIterator().asScala.grouped(batchRows).map(_.toSeq)

  private implicit class IterOps[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = scala.jdk.CollectionConverters.IteratorHasAsScala(it).asScala
  }
}

object ArrayQuery {
  def apply(spark: SparkSession, uri: String): ArrayQuery =
    new ArrayQuery(spark, uri)
}
