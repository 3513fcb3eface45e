package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Misra-Gries heavy hitters: the N/(capacity+1) superset guarantee under
  * adversarial (zipf-skewed, vocab >> capacity) data and shifting
  * partitionings — the decrement and merge-cut paths both fire — plus the
  * exactness of the full sketch-then-confirm pipeline (the q115 shape)
  * against a brute-force group-count. */
class HeavyHittersSpec extends SparkSpec {
  import spark.implicits._

  // zipf-ish stream: item i of 1..120 appears ceil(600/i) times, so a
  // handful of items dominate and the tail forces constant evictions at
  // capacity 20 (vocab 120 >> 20)
  private val stream: Seq[String] =
    (1 to 120).flatMap(i => Seq.fill((600 + i - 1) / i)(s"item$i"))
  private val exact: Map[String, Long] =
    stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
  private val n = stream.size.toLong

  test("candidates contain every key above N/(capacity+1), any partitioning") {
    val cap = 20
    val mustSurvive = exact.filter(_._2 > n / (cap + 1)).keySet
    assert(mustSurvive.nonEmpty && mustSurvive.size < cap,
      s"test data broken: ${mustSurvive.size} guaranteed keys at cap $cap")
    for (parts <- Seq(1, 7, 32)) {
      val row = stream.toDF("tok")
        .repartition(parts)
        .agg(HeavyHitters(col("tok"), cap).as("sk"))
        .select(col("sk.total"), col("sk.cand"))
        .head()
      assert(row.getLong(0) == n, s"parts=$parts total")
      val cand = row.getSeq[String](1).toSet
      assert(cand.size <= cap, s"parts=$parts overflowed capacity")
      val missing = mustSurvive -- cand
      assert(missing.isEmpty,
        s"parts=$parts lost guaranteed heavy hitters: $missing")
    }
  }

  test("sketch-then-confirm equals the brute-force threshold answer") {
    // threshold 1/24 of the stream with capacity 25: 1/24 > 1/26, so the
    // guarantee covers it; confirm pass = exact counts of candidates only
    val cap = 25
    val expect = exact.filter { case (_, c) => c * 24 >= n }
    val toks = stream.toDF("tok").repartition(13)
    val sk = toks.agg(HeavyHitters(col("tok"), cap).as("sk"))
      .select(col("sk.total").as("total"), col("sk.cand").as("cand"))
      .cache()
    try {
      val got = toks
        .join(broadcast(sk.select(explode(col("cand")).as("tok"))), "tok")
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(sk.select(col("total"))))
        .filter(col("cnt") * 24 >= col("total"))
        .select(col("tok"), col("cnt"))
        .collect()
        .map(r => r.getString(0) -> r.getLong(1))
        .toMap
      assert(got == expect)
    } finally sk.unpersist(blocking = false)
  }

  test("SQL registration: graft_heavy_hitters runs from query text") {
    stream.toDF("tok").createOrReplaceTempView("hh_toks")
    val row = spark.sql(
      "SELECT graft_heavy_hitters(tok, 20) AS sk FROM hh_toks")
      .select(col("sk.total")).head()
    assert(row.getLong(0) == n)
  }

  test("non-string child is rejected at analysis, not mid-task") {
    import spark.implicits._
    val df = Seq(1L, 2L).toDF("v")
    val e = intercept[Exception] {
      df.agg(HeavyHitters(col("v"), 8)).collect()
    }
    assert(e.getMessage.contains("STRING"),
      s"expected an analysis-time type error, got: ${e.getMessage}")
  }
}
