package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst matrix-vector product: `array<array<float|double>>`
  * times `array<float|double>` -> `array<double>`, `out[k] = Σ_i
  * m[k][i] * v[i]` with left-to-right accumulation per row — the k
  * output components of [[DotProduct]] in ONE compact node.
  *
  * Why not k DotProduct columns: each carries its own row-literal, and
  * Catalyst's per-column work compounds quadratically — measured 12.7 s
  * of pure plan/codegen overhead for 16 projection columns on 500 rows
  * (q198). Why not a higher-order `transform`/`aggregate` lambda: HOFs
  * evaluate interpreted, ~50x slower than this codegen'd nested loop on
  * the 100x corpus (51 s -> ~4 s). Same doctrine as [[DotProduct]]: one
  * tight loop inside WholeStageCodegen, interpreted fallback identical,
  * both bit-exact vs the oracle's unrolled left-assoc SQL chains.
  */
case class MatVec(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def prettyName: String = "graft_matvec"

  private def rowIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(ArrayType(FloatType, _), _)  => true
    case ArrayType(ArrayType(DoubleType, _), _) => false
    case other => throw new IllegalArgumentException(
      s"graft_matvec expects array<array<float|double>> matrix, got $other")
  }

  private def vecIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _)  => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"graft_matvec expects array<float|double> vector, got $other")
  }

  @transient private lazy val mFloat = rowIsFloat(left)
  @transient private lazy val vFloat = vecIsFloat(right)

  // Row/vector length mismatches truncate to the common prefix, the
  // DotProduct convention.
  override def nullSafeEval(a: Any, b: Any): Any = {
    val m = a.asInstanceOf[ArrayData]
    val v = b.asInstanceOf[ArrayData]
    val rows = m.numElements()
    val out = new Array[Double](rows)
    val mf = mFloat
    val vf = vFloat
    var k = 0
    while (k < rows) {
      val row = m.getArray(k)
      val n = math.min(row.numElements(), v.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) {
        val x = if (mf) row.getFloat(i).toDouble else row.getDouble(i)
        val y = if (vf) v.getFloat(i).toDouble else v.getDouble(i)
        acc += x * y
        i += 1
      }
      out(k) = acc
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mGet = if (rowIsFloat(left)) "getFloat" else "getDouble"
    val vGet = if (vecIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val rows = ctx.freshName("rows")
      val out = ctx.freshName("out")
      val k = ctx.freshName("k")
      val row = ctx.freshName("row")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |int $rows = $a.numElements();
         |double[] $out = new double[$rows];
         |for (int $k = 0; $k < $rows; $k++) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $row = $a.getArray($k);
         |  int $n = java.lang.Math.min($row.numElements(), $b.numElements());
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += (double) $row.$mGet($i) * (double) $b.$vGet($i);
         |  }
         |  $out[$k] = $acc;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MatVec =
    copy(left = newLeft, right = newRight)
}

object MatVec {
  /** Column-API entry point. */
  def apply(m: Column, v: Column): Column =
    org.apache.spark.sql.graft.bridge.column(MatVec(
      org.apache.spark.sql.graft.bridge.expression(m),
      org.apache.spark.sql.graft.bridge.expression(v)))
}
