package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Parity proof for the native RepetitionStats expression against the
  * explode → count → re-aggregate pipeline it replaces (built on the
  * already-parity-proven WordShingles), plus hand-computed edges. */
class RepetitionStatsSpec extends SparkSpec {
  import spark.implicits._

  /** The shuffle-based formulation: per-(doc, gram) counts re-aggregated
    * per doc — the shape the expression collapses into one projection. */
  private def viaShuffle(df: org.apache.spark.sql.DataFrame) =
    df.select(col("id"),
        explode(WordShingles(col("text"), 3, distinct = false)).as("g"))
      .groupBy(col("id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("id"))
      .agg(sum(col("c")).as("n_grams"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_count"),
        coalesce(sum(when(col("c") > 1, col("c"))), lit(0L)).as("dup_occ"))

  test("matches the shuffle formulation on the corpus") {
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id").as("id"), col("text"))
    val a = viaShuffle(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    val b = docs
      .select(col("id"), RepetitionStats(col("text"), 3).as("r"))
      .filter(col("r.n_grams") > 0)
      .select(col("id"), col("r.n_grams"), col("r.n_distinct"),
        col("r.top_count"), col("r.dup_occ"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(a.nonEmpty && a == b)
  }

  test("hand-computed edges: all-same, no-dup, short, empty, space runs") {
    val docs = Seq(
      (1L, "a a a a a"),     // 3 grams, all "a a a": top=3, dup=3
      (2L, "p q r s"),       // 2 distinct grams, no dups
      (3L, "x y"),           // < 3 words: zero row
      (4L, ""),              // empty text: zero row
      (5L, "a b  a b "))     // empties count as tokens (split rule)
      .toDF("id", "text")
    val got = docs.select(col("id"), RepetitionStats(col("text"), 3).as("r"))
      .select(col("id"), col("r.n_grams"), col("r.n_distinct"),
        col("r.top_count"), col("r.dup_occ"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got(1L) == ((3L, 1L, 3L, 3L)))
    assert(got(2L) == ((2L, 2L, 1L, 0L)))
    assert(got(3L) == ((0L, 0L, 0L, 0L)))
    assert(got(4L) == ((0L, 0L, 0L, 0L)))
    // "a b  a b " -> tokens [a,b,,a,b,]: grams "a b ","b  a"," a b","a b "
    // -> 4 grams, 3 distinct, top 2, dup 2
    assert(got(5L) == ((4L, 3L, 2L, 2L)))
  }

  test("SQL registration via graft_repstats") {
    val one = spark.sql(
      "SELECT graft_repstats('a a a a', 3) AS r").select("r.*").head()
    assert((one.getLong(0), one.getLong(1), one.getLong(2), one.getLong(3))
      == ((2L, 1L, 2L, 2L)))
  }
}
