package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: ORDERED Unicode-word tokens of a string
  * — the order-preserving sibling of [[TermCounts]] (which drops order
  * to count). Defined to be EXACTLY
  * `filter(split(text, "[^\\p{L}\\p{N}]+"), t -> length(t) > 0)`:
  * tokens are maximal runs of Unicode letter/number codepoints, in
  * document order, duplicates kept. `TokensSpec` pins
  * kernel-vs-expression equality over every BMP codepoint plus
  * supplementary sweeps, the same discipline as `TermCountsSpec`.
  *
  * Why: [[graft.ops.NgramLm.lmTokens]] and
  * [[graft.ops.Search.termsOf]] walked the `java.util.regex` NFA over
  * every document on every pass (optimization guide §4: an interpreted
  * / expensive expression where a direct kernel exists — the r20
  * TermCounts kernel removed the regex from the BM25 build, but the
  * LM training/scoring passes and the query-side term split still
  * paid it). Direct character-class checks replace the NFA walk; the
  * element type mirrors `split`'s (containsNull = true) so downstream
  * schemas are unchanged. */
case class Tokens(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"tokens expects a string column, got ${child.dataType}")

  // containsNull mirrors split(...)'s ArrayType(StringType) so swapping
  // the kernel in never changes a downstream schema (elements are in
  // fact never null)
  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  override def nullSafeEval(input: Any): Any =
    Tokens.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Tokens.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Tokens =
    copy(child = newChild)

  override def prettyName: String = "tokens"
}

object Tokens {
  def compute(s: UTF8String): ArrayData = {
    val str = s.toString
    val n = str.length
    val out = new java.util.ArrayList[Any]()
    var i = 0
    while (i < n) {
      val cp = str.codePointAt(i)
      val w = Character.charCount(cp)
      if (TermCounts.isTokenCp(cp)) {
        val start = i
        i += w
        var done = false
        while (i < n && !done) {
          val c2 = str.codePointAt(i)
          if (TermCounts.isTokenCp(c2)) i += Character.charCount(c2) else done = true
        }
        out.add(UTF8String.fromString(str.substring(start, i)))
      } else i += w
    }
    new GenericArrayData(out.toArray)
  }

  def apply(c: Column): Column = Shim.toColumn(Tokens(Shim.toExpression(c)))
}
