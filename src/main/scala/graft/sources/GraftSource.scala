package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{ByteType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.storage.ArrayTable

/** The array-table as a first-class Spark data source:
  *
  * {{{
  *   spark.read.format("graft").load(uri)                     // full read
  *   spark.read.format("graft").option("t0","0").option("t1","1500").load(uri)
  *   df.write.format("graft").option("dims","x,y").mode("append").save(uri)
  * }}}
  *
  * Reads go through DataSource V2: `getTable` takes the array's
  * fragment selection (`ArrayTable.select`, the one every array read
  * makes) and, when a bare multi-path parquet scan is semantically
  * sufficient (no shadowing/tombstones/version drift/enum decode —
  * `Selection.fastPath`), serves a columnar `BatchScan`: Spark's
  * vectorized `ParquetScan` with pushed filters + pruned columns over
  * the same pre-listed, declared-schema file index the resolution
  * reads scan (`ArrayTable.fileIndex`), after fragment MBR pruning at
  * plan time. When MVCC resolution is required the table advertises
  * no read capability, so Spark falls back to the V1
  * `PrunedFilteredScan` below, which composes the full resolution
  * DataFrame. Writes always take the V1 path (append one immutable
  * fragment per save — MVCC preserved for every writer).
  *
  * Staleness contract: a Dataset handle created BEFORE a write pins the
  * fragment listing it planned with — the standard Spark file-source
  * snapshot semantics (`spark.read.parquet` behaves the same). A new
  * `load(uri)` always sees the latest fragments. CACHED resolution
  * reads are refreshed by the write command's recache-by-relation;
  * cached fast-path (DSv2) reads keep their snapshot until unpersist —
  * an acceptable trade for an MVCC store, where a pinned snapshot is a
  * feature (time travel makes any snapshot reproducible explicitly).
  */
class GraftSource extends RelationProvider with CreatableRelationProvider
    with DataSourceRegister with TableProvider {

  override def shortName(): String = "graft"

  private def path(parameters: Map[String, String]): String =
    parameters.getOrElse("path", sys.error("graft source needs a path"))

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation =
    GraftRelation(sqlContext, path(parameters),
      parameters.get("t0").map(_.toLong), parameters.get("t1").map(_.toLong))

  // ------------------------------------------------------ DataSource V2

  /** Empty schema when the array doesn't exist yet: a write to a fresh
    * uri must reach the V1 create path instead of erroring here. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val uri = Option(options.get("path")).getOrElse(sys.error("graft source needs a path"))
    if (ArrayTable.exists(spark, uri)) ArrayTable.schemaOf(spark, uri).sparkSchema
    else new StructType()
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val uri = Option(properties.get("path")).getOrElse(sys.error("graft source needs a path"))
    GraftTable(SparkSession.active, uri,
      Option(properties.get("t0")).map(_.toLong),
      Option(properties.get("t1")).map(_.toLong))
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val uri = path(parameters)
    val exists = ArrayTable.exists(spark, uri)
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        sys.error(s"array already exists at $uri")
      case SaveMode.Ignore if exists => // no-op
      case _ =>
        val overwrite = mode == SaveMode.Overwrite
        if (!exists || overwrite) {
          val dims = parameters.getOrElse("dims",
            sys.error("graft write needs option 'dims' (comma-separated) to create an array"))
            .split(",").map(_.trim).toSeq
          val dups = parameters.get("allowsDuplicates").exists(_.toBoolean)
          ArrayTable.ingest(spark, data, uri, dims, overwrite = true,
            allowsDuplicates = dups)
        } else {
          ArrayTable.write(spark, data, uri)
        }
    }
    createRelation(sqlContext, parameters)
  }
}

case class GraftRelation(sqlContext: SQLContext, uri: String,
    t0: Option[Long], t1: Option[Long])
    extends BaseRelation with PrunedFilteredScan {

  private def spark: SparkSession = sqlContext.sparkSession
  private lazy val arraySchema = ArrayTable.schemaOf(spark, uri)
  private[graft] def at: Option[(Long, Long)] = ArrayTable.window(t0, t1)

  override def schema: StructType = arraySchema.sparkSchema

  /** All filters are also evaluated by the inner plan; report none as
    * fully handled only for those we can't translate (Spark re-checks
    * everything we return). */
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters.filterNot(GraftRelation.translatable)

  /** The scan already produces `InternalRow`s (the resolution plan's
    * own output via `toRdd`), so Spark must not re-convert. */
  override def needConversion: Boolean = false

  /** Correctness fallback only: sessions running with
    * [[graft.core.GraftExtensions]] never reach this — the
    * [[graft.plans.ResolutionReadInline]] rule replaces the relation
    * with the resolution plan itself during analysis, keeping the read
    * columnar end-to-end. Here the resolved DataFrame's `toRdd` output
    * is handed over as-is (no InternalRow -> Row detour). */
  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    // dim bounds -> fragment MBR pruning + pushed range predicates
    val dimSet = arraySchema.dimNames.toSet
    val bounds = GraftRelation.boundsOf(filters.filter(f =>
      GraftRelation.refs(f).forall(dimSet)), dimSet)
    val base = ArrayTable.read(spark, uri, at = at, ranges = bounds)
    val withFilters = filters.flatMap(GraftRelation.toColumn)
      .foldLeft(base)(_ filter _)
    val projected = withFilters.select(requiredColumns.map(col).toSeq: _*)
    projected.queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}

object GraftRelation {

  def refs(f: Filter): Seq[String] = f.references.toSeq

  def translatable(f: Filter): Boolean = toColumnOpt(f).isDefined

  def toColumn(f: Filter): Option[org.apache.spark.sql.Column] = toColumnOpt(f)

  private def toColumnOpt(f: Filter): Option[org.apache.spark.sql.Column] = f match {
    case EqualTo(a, v) => Some(col(a) === v)
    case GreaterThan(a, v) => Some(col(a) > v)
    case GreaterThanOrEqual(a, v) => Some(col(a) >= v)
    case LessThan(a, v) => Some(col(a) < v)
    case LessThanOrEqual(a, v) => Some(col(a) <= v)
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case And(l, r) => for { lc <- toColumnOpt(l); rc <- toColumnOpt(r) } yield lc && rc
    case Or(l, r) => for { lc <- toColumnOpt(l); rc <- toColumnOpt(r) } yield lc || rc
    case Not(c) => toColumnOpt(c).map(!_)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case _ => None
  }

  /** Extract per-dim inclusive bounds from pushable filters for
    * fragment MBR pruning. Conservative: only top-level AND-ed
    * comparisons on a single dim contribute, and each side keeps its
    * tightest bound (max of lows, min of highs), so `dim > 5 AND
    * dim > 10` prunes with 10 whichever came first. */
  def boundsOf(filters: Array[Filter], dims: Set[String])
      : Map[String, (Option[Any], Option[Any])] = {
    def walk(f: Filter): Seq[(String, Option[Any], Option[Any])] = f match {
      case EqualTo(a, v) if dims(a) => Seq((a, Some(v), Some(v)))
      case GreaterThan(a, v) if dims(a) => Seq((a, Some(v), None))
      case GreaterThanOrEqual(a, v) if dims(a) => Seq((a, Some(v), None))
      case LessThan(a, v) if dims(a) => Seq((a, None, Some(v)))
      case LessThanOrEqual(a, v) if dims(a) => Seq((a, None, Some(v)))
      case And(l, r) => walk(l) ++ walk(r)
      case _ => Nil
    }
    // one dim's literals share the dim's type; an incomparable pair
    // keeps the first, either being a valid bound
    def tightest(vs: Seq[Any], takeMax: Boolean): Option[Any] =
      vs.reduceOption { (a, b) =>
        val cmp = (a, b) match {
          case (x: java.lang.Comparable[_], y) if x.getClass == y.getClass =>
            x.asInstanceOf[java.lang.Comparable[Any]].compareTo(y)
          case _ => 0
        }
        if (cmp == 0 || (cmp > 0) == takeMax) a else b
      }
    filters.flatMap(walk).groupBy(_._1).map { case (d, bs) =>
      d -> (tightest(bs.flatMap(_._2), takeMax = true),
            tightest(bs.flatMap(_._3), takeMax = false))
    }
  }
}

/** V2 table. Path-based loads (`format("graft")`) advertise BATCH_READ
  * only when the metadata proves a bare parquet scan is sufficient;
  * otherwise Spark's loader sees no read capability and falls back to
  * the V1 relation on the same class.
  *
  * Catalog-loaded tables (`viaCatalog`, from [[GraftCatalog]]) have no
  * V1 fallback to fall to, so they always advertise BATCH_READ plus
  * the V1 write bridge: resolution-needing reads are rewritten by
  * [[graft.plans.ResolutionReadInline]] at OPTIMIZATION time (pushed
  * dim filters drive fragment MBR file pruning, incl. for
  * spark.table(...).filter(...) incremental reads); if that rule is
  * absent — a session without GraftExtensions — the scan builder fails
  * LOUDLY below rather than serving rows that skip
  * shadowing/tombstones. */
case class GraftTable(spark: SparkSession, uri: String,
    t0: Option[Long], t1: Option[Long], viaCatalog: Boolean = false)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  private[graft] def at: Option[(Long, Long)] = ArrayTable.window(t0, t1)

  private lazy val arraySchema =
    if (ArrayTable.exists(spark, uri)) Some(ArrayTable.schemaOf(spark, uri)) else None

  private lazy val selection: Option[ArrayTable.Selection] =
    arraySchema.map(_ => ArrayTable.select(spark, uri, at))

  /** True when a bare parquet scan would be WRONG (shadowing,
    * tombstones, version drift, enum decode). */
  private[graft] def needsResolution: Boolean = selection.exists(!_.fastPath)

  override def name(): String = s"graft:$uri"

  override def schema(): StructType =
    arraySchema.map(_.sparkSchema).getOrElse(new StructType())

  /** Surfaced by `DESCRIBE TABLE EXTENDED` / `SHOW TBLPROPERTIES`:
    * the array's structural metadata (dims, sparsity, duplicates
    * policy, fragment count) — cheap manifest-level facts only. */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    arraySchema.foreach { sch =>
      m.put("dims", sch.dimNames.mkString(","))
      m.put("sparse", sch.sparse.toString)
      m.put("allowsDuplicates", sch.allowsDuplicates.toString)
      m.put("fragments", ArrayTable.fragments(spark, uri).size.toString)
      m.put("uri", uri)
    }
    // OUTSIDE the schema block: the marker read needs no key material,
    // and the one session that most needs to DISCOVER the key id from
    // SHOW TBLPROPERTIES is precisely a keyless one (where resolving
    // the schema above would fail). The key NAME only, never material.
    ArrayTable.encryptionKeyId(spark, uri)
      .foreach(id => m.put("encryption.key", id))
    m
  }

  override def capabilities(): java.util.Set[TableCapability] =
    if (viaCatalog)
      java.util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)
    else if (selection.exists(_.fastPath)) java.util.EnumSet.of(TableCapability.BATCH_READ)
    else java.util.Collections.emptySet()

  /** A resolution-needing table hands out a scan builder that fails at
    * EXECUTION, not construction: Spark's V2 pushdown batch constructs
    * a builder for every V2 relation in a plan — including the target
    * of a `DELETE FROM`, whose scan is never executed (the delete goes
    * through [[deleteWhere]]). Failing eagerly would break SQL deletes
    * on any array that already has a tombstone; failing in `toBatch`
    * still guarantees no extension-less session can ever read rows
    * that skip shadowing/tombstones. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    if (needsResolution) {
      val msg = s"graft array at $uri needs MVCC resolution (shadowing/" +
        "tombstones/schema drift/enums); catalog reads of such arrays require " +
        "spark.sql.extensions=graft.core.GraftExtensions (set by GraftSession), " +
        "which inlines the resolution plan at optimization time"
      val tableSchema = schema()
      new ScanBuilder {
        override def build(): org.apache.spark.sql.connector.read.Scan =
          new org.apache.spark.sql.connector.read.Scan {
            override def readSchema(): StructType = tableSchema
            override def description(): String = s"graft unresolved-read guard: $uri"
            override def toBatch: org.apache.spark.sql.connector.read.Batch =
              sys.error(msg)
          }
      }
    } else new GraftScanBuilder(spark, uri, selection.get, options)
  }

  /** SQL `DELETE FROM ... WHERE ...`: the pushed filters translate to
    * the SAME QueryCondition string an API delete takes, so the SQL
    * path writes the same metadata-only tombstone — O(filters), no
    * data rewrite, MVCC-visible (time travel before the delete's ts
    * still sees the rows), applied by readers exactly like an API
    * delete. A bare `DELETE FROM t` (no WHERE) writes one whole-table
    * truncation log entry — also metadata-only and history-preserving.
    * Untranslatable predicates are refused in `canDeleteWhere`, which
    * Spark surfaces as an analysis error rather than a wrong delete. */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    t0.isEmpty && t1.isEmpty && filters.forall {
      case _: org.apache.spark.sql.sources.AlwaysTrue => true
      case _: org.apache.spark.sql.sources.AlwaysFalse => true
      case f => graft.query.QueryCondition.fromFilter(f).isDefined
    }

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    // the filter array is a conjunction; a bare DELETE arrives as
    // [AlwaysTrue]
    if (filters.exists(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysFalse])) return
    val real = filters.filterNot(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])
    if (real.isEmpty) {
      // bare DELETE: one truncation log entry — history-preserving like
      // a predicate delete (time travel below it still resolves), and
      // O(1) metadata instead of renaming every fragment
      if (ArrayTable.fragments(spark, uri).nonEmpty)
        ArrayTable.truncate(spark, uri)
    } else {
      val cond = real.flatMap(f => graft.query.QueryCondition.fromFilter(f))
      require(cond.length == real.length,
        s"untranslatable DELETE predicate among: ${real.mkString(", ")}")
      ArrayTable.delete(spark, uri,
        if (cond.length == 1) cond.head else cond.mkString("(", ") and (", ")"))
    }
  }

  /** `INSERT INTO` / `INSERT OVERWRITE` through the V1 bridge into the
    * fragment write path: append = one immutable MVCC fragment;
    * overwrite = a truncation log entry then the new fragment (the
    * schema object — enums, fills, duplicates flag — survives, unlike
    * drop+recreate, and pre-overwrite states stay time-travelable).
    * The InsertableRelation's own overwrite flag duplicates what the
    * builder already told us; the builder is authoritative. */
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var overwrite = false
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
        overwrite = true; this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: InsertableRelation =
            (data: DataFrame, _: Boolean) => {
              // overwrite = truncation event + fresh fragment: pre-insert
              // states stay time-travelable; consolidate+vacuum reclaim
              if (overwrite && ArrayTable.fragments(spark, uri).nonEmpty)
                ArrayTable.truncate(spark, uri)
              ArrayTable.write(spark, data, uri)
            }
        }
    }
}

/** Delegating scan builder over a fast-path selection: fragment MBR
  * pruning from the pushed filters happens here (partition-pruning
  * analogue, driver-side), then Spark's own vectorized ParquetScan
  * serves the data over [[ArrayTable.fileIndex]] — columnar batches,
  * row-group stat pruning and column pruning included. */
class GraftScanBuilder(spark: SparkSession, uri: String,
    sel: ArrayTable.Selection,
    options: CaseInsensitiveStringMap) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private val dataSchema: StructType = sel.schema.fileSchema
  private var requiredSchema: StructType = dataSchema
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(GraftRelation.translatable)
    filters // parquet pushdown is best-effort: everything re-evaluates above the scan
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(required: StructType): Unit =
    requiredSchema = StructType(dataSchema.fields.filter(f =>
      required.fieldNames.contains(f.name)))

  /** Manifest-served aggregates: ungrouped COUNT(*) / COUNT(dim) /
    * MIN(dim) / MAX(dim) collapse to ONE driver-local row computed
    * from fragment manifests — zero files read, O(fragments) work at
    * any array size. This builder only exists on the metadata-clean
    * fast path (no shadowing, tombstones, or drift in the window), so
    * the manifest numbers ARE the data's. Declined whenever filters
    * were pushed (counts would need evaluation) or an MBR endpoint is
    * missing. COUNT(attr) is declined too: SQL counts non-nulls and
    * manifests don't track attr validity. */
  private var aggResult: Option[(StructType, org.apache.spark.sql.catalyst.InternalRow)] = None

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    serveAgg(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    aggResult = serveAgg(agg)
    aggResult.isDefined
  }

  private def serveAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, org.apache.spark.sql.catalyst.InternalRow)] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    import org.apache.spark.sql.connector.expressions.NamedReference
    import graft.core.Json.{JLong, JNum, JStr}
    if (pushed.nonEmpty || agg.groupByExpressions.nonEmpty) return None
    val dimTypes = sel.schema.dims.map(d => d.name -> d.sparkField.dataType).toMap
    def refName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case n: NamedReference if n.fieldNames.length == 1 => Some(n.fieldNames()(0))
        case _ => None
      }
    val total = sel.frags.map(_.cellCount).sum
    def extreme(dim: String, takeMin: Boolean): Option[Any] =
      sel.mbrExtreme(dim, takeMin).flatMap(v => (v, dimTypes(dim)) match {
        case (JLong(l), LongType) => Some(l)
        case (JLong(l), IntegerType) => Some(l.toInt)
        case (JLong(l), ShortType) => Some(l.toShort)
        case (JLong(l), ByteType) => Some(l.toByte)
        case (JLong(l), DoubleType) => Some(l.toDouble)
        case (JLong(l), FloatType) => Some(l.toFloat)
        case (JNum(n), DoubleType) => Some(n)
        case (JNum(n), FloatType) => Some(n.toFloat)
        case (JStr(s), StringType) =>
          Some(org.apache.spark.unsafe.types.UTF8String.fromString(s))
        case _ => None
      })
    val served = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        Some((StructField("count(*)", org.apache.spark.sql.types.LongType,
          nullable = false), total: Any))
      case c: Count if !c.isDistinct =>
        // dims are non-null by construction, so COUNT(dim) = row count
        refName(c.column).filter(dimTypes.contains).map(n =>
          (StructField(s"count($n)", org.apache.spark.sql.types.LongType,
            nullable = false), total: Any))
      case m: Min =>
        refName(m.column).flatMap(n =>
          extreme(n, takeMin = true).map(v =>
            (StructField(s"min($n)", dimTypes(n)), v)))
      case m: Max =>
        refName(m.column).flatMap(n =>
          extreme(n, takeMin = false).map(v =>
            (StructField(s"max($n)", dimTypes(n)), v)))
      case _ => None
    }
    if (served.exists(_.isEmpty)) None
    else {
      val fields = served.flatten
      Some((StructType(fields.map(_._1)),
        org.apache.spark.sql.catalyst.InternalRow.fromSeq(fields.map(_._2))))
    }
  }

  override def build(): Scan = aggResult match {
    case Some((aggSchema, row)) =>
      new org.apache.spark.sql.connector.read.LocalScan {
        override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = Array(row)
        override def readSchema(): StructType = aggSchema
        override def description(): String = s"graft manifest-aggregate: $uri"
      }
    case None => buildFileScan()
  }

  private def buildFileScan(): Scan = {
    val dimSet = sel.schema.dimNames.toSet
    val bounds = GraftRelation.boundsOf(
      pushed.filter(f => GraftRelation.refs(f).forall(dimSet)), dimSet)
    val index = ArrayTable.fileIndex(spark, sel.pruned(bounds).frags, sel.schema)
    val delegate = org.apache.spark.sql.execution.datasources.v2.parquet
      .ParquetScanBuilder(spark, index, dataSchema, dataSchema, options)
    org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan(
      spark, delegate.hadoopConf, index,
      dataSchema, requiredSchema, new StructType(),
      pushed, options)
  }
}
