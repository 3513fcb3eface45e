package graft

import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types.LongType

/** Spark's generated-code cache holds a session's working set: code
  * compiled once is served again after more distinct classes than
  * Spark's default 100 entries were compiled in between. */
class CodegenCacheSpec extends SparkSpec {

  test("the test fixture sizes the codegen cache from Sessions") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries").toInt ==
      Sessions.CodegenCacheEntries)
  }

  test("code compiled before 150 other classes is served from the cache") {
    spark // the fixture sizes the JVM-wide cache before anything compiles
    // each literal is inlined into the generated source, so every
    // projection is a distinct class; a cache hit returns the class
    // compiled the first time, a miss compiles a new one
    def projectionClass(i: Int): Class[_] =
      GenerateUnsafeProjection.generate(
        Seq(Add(BoundReference(0, LongType, nullable = false),
          Literal(1000000L + i)))).getClass
    val first = projectionClass(0)
    val others = (1 to 150).map(projectionClass)
    assert(others.distinct.size == 150 && !others.contains(first))
    assert(projectionClass(0) eq first,
      "the first projection's class was evicted and compiled again")
  }
}
