package graft.core

import org.apache.spark.sql.types._
import Json._

/** Array-table schema model: a dense or sparse N-dimensional array whose
  * cells carry named attributes — the core abstraction of the reference
  * (reference: tiledb/array_schema.py:39-132, tiledb/dimension.py:13-86,
  * tiledb/attribute.py:14-110, tiledb/enumeration.py:15-116).
  *
  * Spark-native re-expression: an array-table is a directory holding
  * `__schema/schema_v{n}.json` plus timestamped Parquet fragments; dims
  * and attrs become DataFrame columns. Domains/tile extents inform
  * partitioning and fragment MBR pruning rather than physical tiling.
  */
case class Dim(
    name: String,
    dtype: String,
    /** inclusive (lower, upper) domain, rendered as strings; None for
      * var-length string dims (reference: tiledb/dimension.py:52-57) */
    domain: Option[(String, String)] = None,
    /** chunking unit -> range-partition width hint at write time */
    tile: Option[Long] = None) {
  require(Dtypes.validDimDtype(dtype), s"invalid dimension dtype $dtype for dim $name")
  def sparkField: StructField = StructField(name, Dtypes.sparkType(dtype), nullable = false)
}

case class Attr(
    name: String,
    dtype: String,
    nullable: Boolean = false,
    /** var-length flag; informational in Spark (strings/binary/arrays are
      * natively variable) */
    isVar: Boolean = false,
    /** fill value for unwritten dense cells, as a JSON-rendered literal
      * (reference: tiledb/attribute.py:87-104) */
    fill: Option[String] = None,
    /** name of the bound enumeration, if dictionary-encoded
      * (reference: tiledb/attribute.py:109-110) */
    enumLabel: Option[String] = None,
    /** ordered codec pipeline names — storage-layer hints mapped to
      * parquet compression where possible (reference: tiledb/filter.py) */
    filters: Seq[String] = Nil) {
  def sparkField: StructField = {
    val dt = enumLabel.map(_ => IntegerType: DataType).getOrElse(Dtypes.sparkType(dtype))
    StructField(name, dt, nullable)
  }
}

/** Named, optionally ordered dictionary for categorical attributes
  * (reference: tiledb/enumeration.py:15-116). Attribute stores int codes;
  * reads decode via broadcast join / array lookup. Extendable. */
case class Enumeration(name: String, values: Seq[String], ordered: Boolean = false) {
  def extend(more: Seq[String]): Enumeration = {
    require(more.forall(!values.contains(_)), "enumeration extension must add new values")
    copy(values = values ++ more)
  }
}

case class ArraySchema(
    dims: Seq[Dim],
    attrs: Seq[Attr],
    sparse: Boolean = true,
    cellOrder: String = "row-major",  // row-major | col-major | hilbert | unordered
    tileOrder: String = "row-major",
    capacity: Long = 10000L,          // sparse cells per data tile -> rows per parquet row-group hint
    allowsDuplicates: Boolean = false,
    enums: Seq[Enumeration] = Nil,
    /** shrinkable/expandable ND-rectangle bounding the writable region
      * (reference: current_domain, tiledb/array_schema.py:398-416,
      * tiledb/current_domain.py:8-52, tiledb/ndrectangle.py:9-54) */
    currentDomain: Option[Map[String, (String, String)]] = None,
    version: Int = 1) {
  require(dims.nonEmpty, "schema needs at least one dimension")
  require(dims.map(_.name).distinct.size == dims.size, "duplicate dim names")
  require(attrs.map(_.name).distinct.size == attrs.size, "duplicate attr names")
  require((dims.map(_.name) intersect attrs.map(_.name)).isEmpty, "dim/attr name collision")
  require(!(!sparse && allowsDuplicates), "allows_duplicates is sparse-only")
  attrs.flatMap(_.enumLabel).foreach { e =>
    require(enums.exists(_.name == e), s"attr references unknown enumeration $e")
  }

  def dimNames: Seq[String] = dims.map(_.name)
  def attrNames: Seq[String] = attrs.map(_.name)
  def enumeration(name: String): Enumeration = enums.find(_.name == name).get
  def attr(name: String): Attr = attrs.find(_.name == name)
    .getOrElse(sys.error(s"no such attribute: $name"))
  def dim(name: String): Dim = dims.find(_.name == name)
    .getOrElse(sys.error(s"no such dimension: $name"))
  def hasColumn(name: String): Boolean =
    dims.exists(_.name == name) || attrs.exists(_.name == name)
  def dtypeOf(name: String): String =
    dims.find(_.name == name).map(_.dtype)
      .orElse(attrs.find(_.name == name).map(_.dtype))
      .getOrElse(sys.error(s"no such column: $name"))

  /** Spark schema of reads: dim columns first, then attrs (decoded enums
    * keep their logical dtype at the read API layer). */
  def sparkSchema: StructType = StructType(dims.map(_.sparkField) ++ attrs.map(_.sparkField))

  /** Schema of a fragment's parquet files as scans declare it:
    * [[sparkSchema]] with every column nullable, as parquet reads them
    * back (enum attrs stay int codes). */
  def fileSchema: StructType = StructType(sparkSchema.fields.map(_.copy(nullable = true)))

  def toJson: String = JObj(Seq(
    "version" -> JLong(version),
    "sparse" -> JBool(sparse),
    "cell_order" -> JStr(cellOrder),
    "tile_order" -> JStr(tileOrder),
    "capacity" -> JLong(capacity),
    "allows_duplicates" -> JBool(allowsDuplicates),
    "dims" -> JArr(dims.map(d => JObj(Seq(
      "name" -> JStr(d.name), "dtype" -> JStr(d.dtype),
      "domain" -> d.domain.map(t => JArr(Seq(JStr(t._1), JStr(t._2)))).getOrElse(JNull),
      "tile" -> d.tile.map(JLong).getOrElse(JNull))))),
    "attrs" -> JArr(attrs.map(a => JObj(Seq(
      "name" -> JStr(a.name), "dtype" -> JStr(a.dtype),
      "nullable" -> JBool(a.nullable), "var" -> JBool(a.isVar),
      "fill" -> a.fill.map(JStr).getOrElse(JNull),
      "enum" -> a.enumLabel.map(JStr).getOrElse(JNull),
      "filters" -> JArr(a.filters.map(JStr)))))),
    "enums" -> JArr(enums.map(e => JObj(Seq(
      "name" -> JStr(e.name), "ordered" -> JBool(e.ordered),
      "values" -> JArr(e.values.map(JStr)))))),
    "current_domain" -> currentDomain.map(cd => JObj(cd.toSeq.sortBy(_._1)
      .map { case (d, (lo, hi)) => d -> JArr(Seq(JStr(lo), JStr(hi))) }))
      .getOrElse(JNull),
  )).render
}

object ArraySchema {
  def fromJson(s: String): ArraySchema = {
    val o = Json.parse(s).obj
    ArraySchema(
      dims = o("dims").get.arr.map { dv =>
        val d = dv.obj
        Dim(d("name").get.str, d("dtype").get.str,
          d("domain").flatMap { case JArr(Seq(a, b)) => Some((a.str, b.str)); case _ => None },
          d("tile").flatMap { case JLong(t) => Some(t); case _ => None })
      },
      attrs = o("attrs").get.arr.map { av =>
        val a = av.obj
        Attr(a("name").get.str, a("dtype").get.str,
          nullable = a("nullable").get.bool, isVar = a("var").get.bool,
          fill = a("fill").flatMap(_.strOpt), enumLabel = a("enum").flatMap(_.strOpt),
          filters = a("filters").map(_.arr.map(_.str)).getOrElse(Nil))
      },
      sparse = o("sparse").get.bool,
      cellOrder = o("cell_order").get.str,
      tileOrder = o("tile_order").get.str,
      capacity = o("capacity").get.long,
      allowsDuplicates = o("allows_duplicates").get.bool,
      enums = o("enums").map(_.arr.map { ev =>
        val e = ev.obj
        Enumeration(e("name").get.str, e("values").get.arr.map(_.str), e("ordered").get.bool)
      }).getOrElse(Nil),
      currentDomain = o("current_domain").flatMap {
        case cd: JObj => Some(cd.fields.map {
          case (d, JArr(Seq(lo, hi))) => d -> (lo.str, hi.str)
          case (d, _) => d -> ("", "")
        }.toMap)
        case _ => None
      },
      version = o("version").get.long.toInt)
  }

  /** Infer an array-table schema from a Spark DataFrame schema: the named
    * columns become dimensions, the rest attributes — the moral
    * equivalent of the reference's pandas ingestion inference
    * (reference: tiledb/dataframe_.py:139-283,364-490). */
  def infer(schema: StructType, dimCols: Seq[String], sparse: Boolean = true): ArraySchema = {
    val dims = dimCols.map { n =>
      val f = schema(n)
      Dim(n, Dtypes.fromSpark(f.dataType))
    }
    val attrs = schema.fields.filterNot(f => dimCols.contains(f.name)).map { f =>
      Attr(f.name, Dtypes.fromSpark(f.dataType), nullable = f.nullable,
        isVar = f.dataType == StringType || f.dataType == BinaryType || f.dataType.isInstanceOf[ArrayType])
    }
    ArraySchema(dims, attrs.toSeq, sparse = sparse)
  }
}
