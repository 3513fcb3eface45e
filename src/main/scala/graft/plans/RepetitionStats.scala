package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass intra-document repetition profile over word k-grams — the
  * native core of the Gopher/C4 "repetitious document" quality rules
  * (top-n-gram mass fraction, duplicated-n-gram mass fraction).
  *
  * Returns `struct(n_grams, n_distinct, top_count, dup_occ)` for the
  * document's k-word shingles under the `split(text, ' ')` convention
  * ([[WordShingles]] — trailing/consecutive-space empties kept):
  * total gram positions, distinct grams, the modal gram's count, and the
  * total mass of grams occurring more than once. All four are exact
  * integer counts, so every downstream ratio is a single double division
  * and every filter decision can cross-multiply — the q88 exactness
  * doctrine.
  *
  * The point of the expression is the SHAPE it buys the query: the whole
  * statistic is per-document, so one hash map per row inside a codegen'd
  * projection replaces the explode → (doc_id, gram) count → per-doc
  * re-aggregate pipeline — at 100 TB that is a corpus scan with ZERO
  * shuffle versus a corpus-sized exchange keyed by (doc, gram). Memory is
  * bounded by the document's own gram count, the same per-row envelope
  * the shingling family already assumes. Same playbook as
  * [[DotProduct]]/[[RollingHash]]/[[WordShingles]]: compact scalar node,
  * bit-identical output, codegen via a single static call.
  */
case class RepetitionStats(child: Expression, k: Int)
    extends UnaryExpression {

  require(k >= 1, "gram width must be >= 1")

  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("top_count", LongType, nullable = false),
    StructField("dup_occ", LongType, nullable = false)))

  override def prettyName: String = "graft_repstats"

  override def nullSafeEval(input: Any): Any =
    RepetitionStats.compute(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = ctx.addReferenceObj("repetitionStats", RepetitionStats,
      "graft.plans.RepetitionStats$")
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = $obj.compute($c, $k);")
  }

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}

object RepetitionStats {
  /** Shared by interpreted eval and generated code. */
  def compute(s: UTF8String, k: Int): InternalRow = {
    // split on single space, limit -1 — the WordShingles convention
    val words = s.toString.split(" ", -1)
    val n = words.length - k + 1
    if (n <= 0)
      return new GenericInternalRow(Array[Any](0L, 0L, 0L, 0L))
    // int[] cells avoid per-increment boxing in the hot loop
    val counts = new java.util.HashMap[String, Array[Int]](n * 2)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < n) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      val cell = counts.get(sb.toString)
      if (cell == null) counts.put(sb.toString, Array(1)) else cell(0) += 1
      i += 1
    }
    var top = 0L
    var dup = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()(0)
      if (c > top) top = c
      if (c > 1) dup += c
    }
    new GenericInternalRow(
      Array[Any](n.toLong, counts.size.toLong, top, dup))
  }

  /** Column-API entry point. */
  def apply(c: Column, k: Int): Column =
    org.apache.spark.sql.graft.bridge.column(RepetitionStats(
      org.apache.spark.sql.graft.bridge.expression(c), k))
}
