package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Rabin-Karp rolling-hash fingerprint over a string column: one
  * pass producing the whole-document polynomial hash plus winnowing-style
  * statistics (min / max / distinct count) over all 8-char-gram hashes.
  *
  * Semantics are bit-equal to the portable SQL formulation it replaces
  * (q49): character codes are code points (≙ Spark `ascii` over
  * `split(text,'')` / DuckDB `ascii` over `string_split(text,'')` — the
  * conventions agree on ASCII and this corpus is ASCII); every hash is a
  * left fold `acc = (acc*31 + c) mod 1e9+7` seeded with the window's
  * first code, exactly DuckDB `list_reduce`'s seeding.
  *
  * Why an Expression: the SQL version builds a per-char code array, then
  * a per-position `aggregate` lambda over a `slice` — interpreted
  * higher-order functions allocating O(n) arrays per document (~5 ms/doc,
  * the slowest scan query in round 1). This node is one codegen-friendly
  * call doing the same arithmetic in a primitive loop, O(8n) with no
  * allocation beyond the gram-hash set. Same playbook as [[DotProduct]]:
  * a compact scalar Expression keeps the scan inside WholeStageCodegen.
  *
  * Returns struct<h, g_min, g_max, n_distinct> (all BIGINT); the gram
  * fields are null when the document is shorter than 8 characters.
  */
case class RollingHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = RollingHash.schema

  override def prettyName: String = "graft_rollhash"

  override def nullSafeEval(input: Any): Any =
    RollingHash.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = ctx.addReferenceObj("rollingHash", RollingHash,
      "graft.plans.RollingHash$")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $obj.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

object RollingHash {
  val Base = 31L
  val Mod = 1000000007L
  val Gram = 8

  val schema: StructType = StructType(Seq(
    StructField("h", LongType, nullable = true),
    StructField("g_min", LongType, nullable = true),
    StructField("g_max", LongType, nullable = true),
    StructField("n_distinct", LongType, nullable = true)))

  /** Shared by interpreted eval and generated code. */
  def compute(s: UTF8String): InternalRow = {
    val str = s.toString
    // code points, stepping over surrogate pairs like split(text,'')+ascii
    var cn = 0
    var i = 0
    while (i < str.length) { i += Character.charCount(str.codePointAt(i)); cn += 1 }
    val codes = new Array[Long](cn)
    i = 0
    var j = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      codes(j) = cp.toLong
      i += Character.charCount(cp)
      j += 1
    }
    val out = new GenericInternalRow(4)
    if (cn == 0) return out // all-null fields
    var h = codes(0)
    i = 1
    while (i < cn) { h = (h * Base + codes(i)) % Mod; i += 1 }
    out.update(0, h)
    if (cn >= Gram) {
      var gMin = Long.MaxValue
      var gMax = Long.MinValue
      val seen = new java.util.HashSet[Long]()
      // TRUE rolling update (drop codes(p)·B^7, shift, add — all mod M,
      // residues exactly the per-position fold's; RollingHashSpec pins
      // parity): O(n) multiplies instead of O(8n). Same kernel as
      // CdcBoundaries.compute.
      var bPow = 1L
      var k = 1
      while (k < Gram) { bPow = (bPow * Base) % Mod; k += 1 }
      var g = codes(0)
      k = 1
      while (k < Gram) { g = (g * Base + codes(k)) % Mod; k += 1 }
      var p = 0
      var more = true
      while (more) {
        if (g < gMin) gMin = g
        if (g > gMax) gMax = g
        seen.add(g)
        if (p < cn - Gram) {
          g = (((g - (codes(p) * bPow) % Mod + Mod) % Mod) * Base
            + codes(p + Gram)) % Mod
          p += 1
        } else more = false
      }
      out.update(1, gMin)
      out.update(2, gMax)
      out.update(3, seen.size.toLong)
    }
    out
  }

  /** Column-API entry point. */
  def apply(c: Column): Column =
    org.apache.spark.sql.graft.bridge.column(RollingHash(
      org.apache.spark.sql.graft.bridge.expression(c)))
}
