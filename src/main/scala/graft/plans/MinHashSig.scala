package graft.plans


import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash signature: for a shingle array, computes all K
  * signature slots in one pass — slot i is the lexicographic minimum of
  * md5("i:" || shingle) over the shingles (a salted hash ≙ one random
  * permutation per slot). Output is array<string> of K lowercase-hex
  * minima, byte-identical to the SQL formulation
  * `array_min(transform(sh, s -> md5(concat('i:', s))))` repeated K
  * times (lowercase-hex md5 compares identically as bytes and as text).
  *
  * Why native: the SQL shape walks the shingle array K times through
  * interpreted lambdas, allocating a K-th hash array per pass; this
  * node hashes each (slot, shingle) pair once in a tight loop with a
  * reused digest and keeps only the running minima — the signature step
  * dominates the MinHash+LSH pipeline's scan cost.
  */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {

  require(k >= 1, "signature length must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  // An empty shingle array yields null (no minimum exists), so the
  // expression is nullable regardless of the child's nullability, and
  // generated code must propagate the null flag itself — nullSafeCodeGen
  // alone only handles null INPUTS.
  override def nullable: Boolean = true

  override def prettyName: String = "graft_minhash_sig"

  override def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = ctx.addReferenceObj("minHashSig", MinHashSig,
      "graft.plans.MinHashSig$")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = $obj.compute($c, $k);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  /** Shared by interpreted eval and generated code. Returns null for an
    * empty shingle array (no minimum exists — mirrors array_min on an
    * empty array being null-ish; callers filter empties first).
    *
    * Hot-path shape: shingle bytes are extracted once (not once per
    * slot), minima are tracked as raw digest bytes compared
    * unsigned-lexicographically (identical ordering to the lowercase
    * hex text), and only the K winners are hex-rendered. */
  def compute(shingles: ArrayData, k: Int): GenericArrayData = {
    val n = shingles.numElements()
    if (n == 0) return null
    val digest = Digests.md5()
    val bytes = new Array[Array[Byte]](n)
    var j = 0
    while (j < n) { bytes(j) = shingles.getUTF8String(j).getBytes; j += 1 }
    val mins = new Array[Any](k)
    var i = 0
    while (i < k) {
      val salt = (i.toString + ":").getBytes("UTF-8")
      var best: Array[Byte] = null
      j = 0
      while (j < n) {
        digest.reset()
        digest.update(salt)
        digest.update(bytes(j))
        val d = digest.digest()
        if (best == null || Digests.compareUnsigned(d, best) < 0) best = d
        j += 1
      }
      mins(i) = UTF8String.fromString(Digests.toHex(best))
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** Column-API entry point. */
  def apply(c: Column, k: Int): Column =
    org.apache.spark.sql.graft.bridge.column(MinHashSig(
      org.apache.spark.sql.graft.bridge.expression(c), k))
}
