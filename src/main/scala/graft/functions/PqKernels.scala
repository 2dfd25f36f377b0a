package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types._

/* Native Catalyst kernels for the product-quantization hot paths
  * (same rationale and pattern as [[VectorKernels]]): the HOF
  * formulations evaluate an interpreted lambda per array element, which
  * is fatal exactly where PQ is supposed to win — ADC scoring runs per
  * (query x candidate) pair and encoding runs once per corpus row.
  * Each kernel reproduces its HOF predecessor bit-exactly (same
  * left-to-right accumulation, same strict-less argmin tie rule, same
  * null poisoning), pinned by `VectorKernelsSpec`.
  */

/** ADC score: sum over subspaces s of lut(s)(codes(s)). Mirrors
  * `aggregate(sequence(0, m-1), 0.0, (acc, s) -> acc +
  * element_at(element_at(lut, s+1), codes(s)+1))` exactly — including
  * the null result when a code indexes outside its LUT row (Spark's
  * element_at past the end is an error-or-null; the HOF chain we
  * replace nulls the sum). */
case class AdcScore(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(ArrayType(DoubleType, _), _), ArrayType(IntegerType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"adc_score expects (array<array<double>>, array<int>), got $l / $r")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(lut: Any, codes: Any): Any =
    AdcScore.compute(lut.asInstanceOf[ArrayData], codes.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, c) => {
      val r = ctx.freshName("adcR")
      s"""java.lang.Double $r = graft.functions.AdcScore.compute($l, $c);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcScore =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "adc_score"
}

object AdcScore {
  def compute(lut: ArrayData, codes: ArrayData): java.lang.Double = {
    val m = lut.numElements()
    if (codes.numElements() < m) return null
    var acc = 0.0
    var s = 0
    while (s < m) {
      if (lut.isNullAt(s) || codes.isNullAt(s)) return null
      val row = lut.getArray(s)
      val j = codes.getInt(s)
      if (j < 0 || j >= row.numElements() || row.isNullAt(j)) return null
      acc += row.getDouble(j)
      s += 1
    }
    acc
  }

  def apply(lut: Column, codes: Column): Column =
    Shim.toColumn(AdcScore(Shim.toExpression(lut), Shim.toExpression(codes)))
}

/** PQ encode: per subspace s, argmin_j of
  * `c2(s)(j) - 2 * dot(v[s*dsub ..], codebook(s)(j))` with the strict
  * `<` rule (ties keep the smallest j) — the kernel form of the
  * typedlit-table struct-min in [[graft.ops.Similarity.pqEncode]],
  * with c2 precomputed the same way (per-centroid left-to-right
  * sum of squares) and the dot accumulated left-to-right like
  * [[DotF]]. Input must be the unit-normalized double vector; a null
  * element or a length not equal to m*dsub nulls the row. */
case class PqEncodeK(child: Expression, codebook: Seq[Seq[Seq[Double]]])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_encode expects array<double> (unit-normalized), got $t")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  @transient private lazy val tables: Array[Array[Array[Double]]] =
    codebook.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val c2: Array[Array[Double]] =
    codebook.map(_.map(c => c.map(x => x * x).sum).toArray).toArray

  override def nullSafeEval(input: Any): Any =
    PqEncodeK.compute(input.asInstanceOf[ArrayData], tables, c2)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tbl = ctx.addReferenceObj("pqTables", tables, "double[][][]")
    val cc2 = ctx.addReferenceObj("pqC2", c2, "double[][]")
    nullSafeCodeGen(ctx, ev, v => {
      val r = ctx.freshName("pqR")
      s"""org.apache.spark.sql.catalyst.util.ArrayData $r =
         |  graft.functions.PqEncodeK.compute($v, $tbl, $cc2);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
         |""".stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncodeK =
    copy(child = newChild)
  override def prettyName: String = "pq_encode"
}

object PqEncodeK {
  def compute(v: ArrayData, tables: Array[Array[Array[Double]]],
      c2: Array[Array[Double]]): ArrayData = {
    val m = tables.length
    val dsub = tables(0)(0).length
    if (v.numElements() != m * dsub) return null
    val vec = new Array[Double](m * dsub)
    var i = 0
    while (i < vec.length) {
      if (v.isNullAt(i)) return null
      vec(i) = v.getDouble(i)
      i += 1
    }
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      val table = tables(s)
      val cs = c2(s)
      val off = s * dsub
      var best = 0
      var bestD = Double.MaxValue
      var j = 0
      while (j < table.length) {
        val cent = table(j)
        var dp = 0.0
        var t = 0
        while (t < dsub) { dp += vec(off + t) * cent(t); t += 1 }
        val d = cs(j) - 2.0 * dp
        if (d < bestD) { bestD = d; best = j } // strict: ties keep min j
        j += 1
      }
      codes(s) = best
      s += 1
    }
    new GenericArrayData(codes)
  }

  def apply(vec: Column, codebook: Seq[Seq[Seq[Double]]]): Column =
    Shim.toColumn(PqEncodeK(Shim.toExpression(vec), codebook))
}
