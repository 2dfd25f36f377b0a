package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to `private[sql]` Column <-> Expression conversion (Spark 4
  * moved Column onto ColumnNode; the classic converter is package-
  * private). Lives in an org.apache.spark.sql subpackage purely for
  * access; no Spark internals are modified. */
object Shim {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER ColumnNode -> Expression conversion. `toExpression` defers
    * behind a `ColumnNodeExpression` wrapper that only the session's
    * analyzer unwraps — inside an injected SQL FunctionBuilder the
    * wrapper survives to codegen and throws Unevaluable. This runs the
    * classic converter immediately, yielding a plain Catalyst tree. */
  def toExpressionEager(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** A Catalyst predicate as the data-source filter Spark pushes to V1
    * sources (top-level columns only); None when it has no such form. */
  def toSourceFilter(e: Expression): Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = false)

  /** DataFrame over an already-resolved logical plan (private[sql] in
    * classic). Used by the MERGE rewrite to re-execute the statement's
    * source query as a plain frame. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `rows` shuffled into `parts` partitions, each to the partition id
    * it is keyed by, through the serializer Spark SQL's exchanges use
    * (`UnsafeRowSerializer`, private[spark]). Every value must be an
    * UnsafeRow of `numFields` fields that is not reused. The reduce side
    * reuses one row buffer: read each row before taking the next. */
  def shuffleUnsafeRows(rows: org.apache.spark.rdd.RDD[(Int, org.apache.spark.sql.catalyst.InternalRow)],
      parts: Int, numFields: Int): org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.catalyst.InternalRow
    val byId = new org.apache.spark.Partitioner {
      override def numPartitions: Int = parts
      override def getPartition(key: Any): Int = key.asInstanceOf[Int]
    }
    new org.apache.spark.rdd.ShuffledRDD[Int, InternalRow, InternalRow](rows, byId)
      .setSerializer(new org.apache.spark.sql.execution.UnsafeRowSerializer(numFields))
      .map(_._2)
  }

  /** The physical plan with exchanges planned (EnsureRequirements
    * applied), unwrapped from the AQE adapter — AdaptiveSparkPlanExec
    * has no children, so a plain `collect` over `executedPlan` sees
    * nothing once AQE wraps the query. Used by plan-shape assertions
    * (scale guards). */
  def plannedPhysical(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.execution.SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }

  /** A file index over the data files directly inside `leafDirs`,
    * listed HERE, one `listStatus` per dir on the driver, with `schema`
    * declared. The index is built over a [[FileStatusCache]] seeded
    * with that listing, so Spark never re-lists the dirs:
    * `spark.read.parquet(dirs)` lists them again itself and, above
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` paths,
    * does it in a Spark job. Files are filtered by Spark's own rule
    * (`_`/`.` names are not data) and carry block locations unless
    * `spark.sql.sources.ignoreDataLocality` is set, as in Spark's
    * listing. A dir that vanished before its listing throws
    * `FileNotFoundException`, as `spark.read` does. */
  def leafDirIndex(spark: org.apache.spark.sql.SparkSession, leafDirs: Seq[String],
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.execution.datasources.InMemoryFileIndex = {
    import org.apache.hadoop.fs.{FileStatus, LocatedFileStatus, Path}
    import org.apache.spark.sql.execution.datasources._
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = session.sessionState.newHadoopConf()
    val located = !session.sessionState.conf.ignoreDataLocality
    val listed = leafDirs.map { d =>
      val raw = new Path(d)
      val fs = raw.getFileSystem(conf)
      val dir = fs.makeQualified(raw)
      val files = fs.listStatus(dir).filter(s => s.isFile &&
        !org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(s.getPath.getName))
      dir -> files.map {
        case s: LocatedFileStatus => s: FileStatus
        case s if !located => s
        // the long constructor: the short one reads permissions, which
        // forks a process per file on the local FS (Spark's own note)
        case s => new LocatedFileStatus(s.getLen, s.isDirectory, s.getReplication,
          s.getBlockSize, s.getModificationTime, 0, null, null, null, null,
          s.getPath, s.hasAcl, s.isEncrypted, s.isErasureCoded,
          fs.getFileBlockLocations(s, 0, s.getLen))
      }
    }
    val cache = new FileStatusCache {
      private val seeded = new java.util.concurrent.ConcurrentHashMap[Path, Array[FileStatus]]()
      listed.foreach { case (p, fs) => seeded.put(p, fs) }
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = Option(seeded.get(path))
      override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = seeded.put(path, files)
      override def invalidateAll(): Unit = seeded.clear()
    }
    new InMemoryFileIndex(session, listed.map(_._1), Map.empty[String, String],
      Some(schema), cache)
  }

  /** The Spark schema of the parquet file `file`, read from its footer
    * on the driver the way Spark's schema inference reads one (the
    * stored Spark row schema when present, else the converted parquet
    * types): `spark.read.parquet(dir)` reads the same footer inside a
    * Spark job. Encrypted footers decrypt through the session's crypto
    * factory, as in a scan. */
  def parquetFileSchema(spark: org.apache.spark.sql.SparkSession,
      file: String): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
      ParquetToSparkSchemaConverter}
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = session.sessionState.newHadoopConf()
    val path = new org.apache.hadoop.fs.Path(file)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf, path).build())
    try ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(path, reader.getFooter),
      new ParquetToSparkSchemaConverter(session.sessionState.conf))
    finally reader.close()
  }

  /** The parquet relation over `index`, read with the declared `schema`:
    * planning it reads no footer. */
  def parquetOf(spark: org.apache.spark.sql.SparkSession,
      index: org.apache.spark.sql.execution.datasources.FileIndex,
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.datasources._
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    session.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema, schema,
      None, new parquet.ParquetFileFormat(), Map.empty[String, String])(session))
  }
}
