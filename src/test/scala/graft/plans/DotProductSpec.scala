package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Vectors

/** Native DotProduct expression: interpreted vs codegen vs JVM-loop
  * parity, float/double/mixed element types. */
class DotProductSpec extends SparkSpec {
  import spark.implicits._

  private val a = Array.tabulate(64)(i => (math.sin(i) * 0.1).toFloat)
  private val b = Array.tabulate(64)(i => (math.cos(i) * 0.1).toFloat)

  test("matches the bit-exact JVM fold on float arrays") {
    val expected = Vectors.dotJvm(a, b)
    val got = Seq((a, b)).toDF("x", "y")
      .select(DotProduct(col("x"), col("y")).as("d"))
      .head.getDouble(0)
    assert(got == expected)
  }

  test("handles double and mixed element types") {
    val ad = a.map(_.toDouble)
    val got = Seq((ad, b)).toDF("x", "y")
      .select(DotProduct(col("x"), col("y")).as("d"))
      .head.getDouble(0)
    assert(got == Vectors.dotJvm(a, b))
  }

  test("interpreted eval equals codegen result") {
    val df = Seq((a, b)).toDF("x", "y")
    val viaCodegen = df.select(DotProduct(col("x"), col("y"))).head.getDouble(0)
    val conf = "spark.sql.codegen.wholeStage"
    val prev = spark.conf.get(conf)
    try {
      spark.conf.set(conf, "false")
      val interpreted = df.select(DotProduct(col("x"), col("y"))).head.getDouble(0)
      assert(interpreted == viaCodegen)
    } finally spark.conf.set(conf, prev)
  }

  test("null array yields null, short arrays dot their overlap") {
    val df = Seq((Some(a), None: Option[Array[Float]])).toDF("x", "y")
    assert(df.select(DotProduct(col("x"), col("y"))).head.isNullAt(0))
    val short = Seq((Array(1f, 2f), Array(3f))).toDF("x", "y")
    assert(short.select(DotProduct(col("x"), col("y"))).head.getDouble(0) == 3.0)
  }

  test("every function GraftExtensions injects resolves on the session") {
    val injected = collection.mutable.ArrayBuffer.empty[String]
    new GraftExtensions()(new org.apache.spark.sql.SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit =
        injected += f._1.funcName
    })
    assert(injected.contains("graft_dot") &&
      injected.contains("graft_bloom_agg"), injected)
    val missing = injected.filterNot(spark.catalog.functionExists)
    assert(missing.isEmpty, s"not resolvable on the session: $missing")
  }

  test("registers as a SQL function") {
    val got = spark.sql(
      """SELECT graft_dot(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)),
        |                 array(CAST(3 AS FLOAT), CAST(4 AS FLOAT))) AS d""".stripMargin)
      .head.getDouble(0)
    assert(got == 11.0)
  }

  test("keeps a knn-shaped plan inside WholeStageCodegen") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = e.select(col("vec_id"), col("embedding"),
      sqrt(Vectors.dot("embedding", "embedding")).as("nrm"))
    val q = broadcast(n.limit(3).select(col("vec_id").as("q_id"),
      col("embedding").as("qe"), col("nrm").as("qn")))
    val c = n.select(col("vec_id").as("nb_id"), col("embedding").as("ce"),
      col("nrm").as("cn"))
    val scored = q.join(c, col("q_id") =!= col("nb_id"))
      .select(col("q_id"), col("nb_id"),
        (Vectors.dot("qe", "ce") / (col("qn") * col("cn"))).as("cos"))
    scored.collect() // materialize so AQE finalizes the physical plan
    val plan = scored.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen stages; the scoring Project
    // and the join must carry one (the 64-term SQL chain this node
    // replaces knocked the whole stage off codegen)
    assert(plan.contains("*(3) Project") || plan.contains("*(2) Project"),
      s"expected codegen'd scoring Project in plan:\n$plan")
    assert(plan.contains("graft_dot"))
  }
}
