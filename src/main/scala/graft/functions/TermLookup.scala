package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the (query slot, idf) entries of a term
  * in a query batch's broadcast term table — array<struct<slot, idf>>,
  * null for a term the table does not hold.
  *
  * This is how a BM25 probe attaches idf to each posting
  * ([[graft.ops.Search]]): the table is query-batch sized, built on the
  * driver and shipped as a `SparkContext.broadcast` variable, which
  * starts no Spark job. A broadcast JOIN against the same rows as a
  * local relation costs a collect job of its own before the scan can
  * start. The lookup is one hash probe per row (keyed by the row's
  * UTF-8 bytes, no String decode); a map literal's `element_at` would
  * scan its keys linearly.
  */
case class TermLookup(child: Expression,
    table: Broadcast[java.util.HashMap[UTF8String, ArrayData]]) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"term_lookup expects a string column, got ${child.dataType}")

  override def dataType: DataType = ArrayType(TermLookup.ElemType, containsNull = false)
  override def nullable: Boolean = true

  @transient private lazy val entries = table.value

  def lookup(term: UTF8String): ArrayData = entries.get(term)

  override def nullSafeEval(input: Any): Any = lookup(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("termLookup", this, classOf[TermLookup].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $self.lookup($c);\n${ev.isNull} = ${ev.value} == null;")
  }

  override protected def withNewChildInternal(newChild: Expression): TermLookup =
    copy(child = newChild)

  override def prettyName: String = "term_lookup"
}

object TermLookup {
  val ElemType: StructType = StructType(Seq(
    StructField("slot", IntegerType, nullable = false),
    StructField("idf", DoubleType, nullable = false)))

  /** The broadcastable table of (term, slot, idf) entries: each term
    * maps to its (slot, idf) entries in their given order. */
  def table(entries: Seq[(String, Int, Double)]): java.util.HashMap[UTF8String, ArrayData] = {
    val m = new java.util.HashMap[UTF8String, ArrayData]()
    entries.groupBy(_._1).foreach { case (t, es) =>
      m.put(UTF8String.fromString(t), new GenericArrayData(
        es.map { case (_, slot, idf) => InternalRow(slot, idf) }.toArray[Any]))
    }
    m
  }

  def apply(term: Column, table: Broadcast[java.util.HashMap[UTF8String, ArrayData]]): Column =
    Shim.toColumn(TermLookup(Shim.toExpression(term), table))
}
