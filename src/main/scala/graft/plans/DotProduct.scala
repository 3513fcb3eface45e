package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst dot-product over `array<float>`/`array<double>` columns.
  *
  * Why an Expression and not SQL: a 64-dim dot product written as SQL is
  * either a higher-order `aggregate` lambda (interpreted, ~10us/row) or a
  * 64-term unrolled sum whose expression tree blows generated methods past
  * the codegen limits, dropping whole stages back to interpreted eval
  * (~35us/row — measured on the knn queries). A single compact node keeps
  * every plan that scores vectors inside WholeStageCodegen: `doGenCode`
  * emits one tight loop, and the interpreted fallback is the same loop on
  * ArrayData. Accumulation is left-to-right in both paths — bit-identical
  * to the DuckDB oracle's fold (graft.functions.Vectors.dotSql).
  *
  * This is preference tier (b) from the build brief: a scalar Expression,
  * not a whole-operator plan — candidate *generation* stays declarative
  * (broadcast/bucket/list joins) and Catalyst keeps optimizing around it.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

  // Inputs must be array<float> or array<double> — enforced here rather
  // than via ExpectsInputTypes (whose types are private[sql]).
  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _)  => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"graft_dot expects array<float|double> inputs, got $other")
  }

  // cached: interpreted eval must not re-derive types per row
  @transient private lazy val leftIsFloat = elemIsFloat(left)
  @transient private lazy val rightIsFloat = elemIsFloat(right)

  // Mismatched lengths truncate to the shorter side (spec-pinned):
  // a partial sum over the common prefix, like zip_with semantics.
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val lf = leftIsFloat
    val rf = rightIsFloat
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (double) $a.$lGet($i) * (double) $b.$rGet($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Column-API entry point. */
  def apply(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.bridge.column(DotProduct(
      org.apache.spark.sql.graft.bridge.expression(a),
      org.apache.spark.sql.graft.bridge.expression(b)))
}
