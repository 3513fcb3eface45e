package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Parity proof for the native RollingHash expression against the
  * portable SQL formulation it replaced in q49 (same fold seeding, base
  * 31, mod 1e9+7), plus edge cases. */
class RollingHashSpec extends SparkSpec {
  import spark.implicits._

  private def sqlFormulation(df: org.apache.spark.sql.DataFrame) = df
    .select(col("doc_id"),
      expr("transform(split(text, ''), c -> CAST(ascii(c) AS BIGINT))")
        .as("codes"))
    .filter(size(col("codes")) >= 8)
    .select(col("doc_id"), col("codes"), expr(
      """transform(sequence(1, size(codes) - 7), i ->
        |  aggregate(slice(codes, i + 1, 7), codes[i - 1],
        |    (a, b) -> (a*31 + b) % 1000000007))""".stripMargin).as("gs"))
    .select(col("doc_id"),
      expr("""aggregate(slice(codes, 2, size(codes) - 1), codes[0],
             |  (a, b) -> (a*31 + b) % 1000000007)""".stripMargin).as("h"),
      array_min(col("gs")).as("g_min"),
      array_max(col("gs")).as("g_max"),
      size(array_distinct(col("gs"))).cast("long").as("n_distinct"))

  private def nativeFormulation(df: org.apache.spark.sql.DataFrame) = df
    .filter(length(col("text")) >= 8)
    .select(col("doc_id"), RollingHash(col("text")).as("r"))
    .select(col("doc_id"), col("r.h").as("h"), col("r.g_min").as("g_min"),
      col("r.g_max").as("g_max"), col("r.n_distinct").as("n_distinct"))

  test("matches the SQL formulation on the test corpus") {
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
    val a = sqlFormulation(docs).collect().map(_.toSeq).toSet
    val b = nativeFormulation(docs).collect().map(_.toSeq).toSet
    assert(a.nonEmpty && a == b)
  }

  test("edge cases: exact gram length, repeats, and short-input nulls") {
    val docs = Seq(
      (1L, "abcdefgh"),            // exactly one gram
      (2L, "aaaaaaaaaa"),          // all grams identical
      (3L, "The quick brown fox jumps over the lazy dog")
    ).toDF("doc_id", "text")
    val a = sqlFormulation(docs).collect().map(_.toSeq).toSet
    val b = nativeFormulation(docs).collect().map(_.toSeq).toSet
    assert(a == b)
    val one = nativeFormulation(docs).filter(col("doc_id") === 2).head()
    assert(one.getLong(4) == 1L) // n_distinct of identical grams
    // shorter than one gram: h defined, gram stats null
    val short = Seq((9L, "abc")).toDF("doc_id", "text")
      .select(RollingHash(col("text")).as("r"))
      .select(col("r.h"), col("r.g_min")).head()
    assert(!short.isNullAt(0) && short.isNullAt(1))
  }

  test("SQL registration via graft_rollhash") {
    val r = spark.sql("SELECT graft_rollhash('abcdefgh').h AS h").head()
    // fold: seed 'a', then *31 + c for the remaining 7 chars, mod 1e9+7
    val expect = "abcdefgh".map(_.toLong)
      .reduceLeft((a, c) => (a * 31 + c) % 1000000007L)
    assert(r.getLong(0) == expect)
  }
}
