package graft.functions

import graft.SparkSpec

/** Contract checks for the bloom SQL surface (`graft_bloom_agg` /
  * `graft_bloom_contains`, injected by [[graft.plans.GraftExtensions]]):
  * no false negatives (the property the q72 prefilter->confirm
  * pattern's exactness rests on), plausible selectivity, and argument
  * validation. */
class BloomsSpec extends SparkSpec {
  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    val rnd = new scala.util.Random(23)
    // small side: 400 members; big side: members + 20k non-members
    val members = List.tabulate(400)(i => s"m-$i-${rnd.nextInt(1 << 20)}")
    val others = List.tabulate(20000)(i => s"x-$i-${rnd.nextInt(1 << 20)}")
    members.toDF("k").createOrReplaceTempView("bloom_small")
    (members ++ others).toDF("k").createOrReplaceTempView("bloom_big")
  }

  test("prefilter keeps every true member (no false negatives)") {
    val missed = spark.sql(
      """SELECT count(*) FROM bloom_big b
        |JOIN bloom_small s USING (k)
        |WHERE NOT graft_bloom_contains(
        |  (SELECT graft_bloom_agg(xxhash64(k), 4096L) FROM bloom_small),
        |  xxhash64(b.k))""".stripMargin).head().getLong(0)
    assert(missed == 0L)
  }

  test("prefilter + exact confirm equals the unfiltered join") {
    val confirmed = spark.sql(
      """SELECT count(*) FROM (
        |  SELECT k FROM bloom_big
        |  WHERE graft_bloom_contains(
        |    (SELECT graft_bloom_agg(xxhash64(k), 4096L) FROM bloom_small),
        |    xxhash64(k))) c
        |JOIN bloom_small s USING (k)""".stripMargin).head().getLong(0)
    val plain = spark.sql(
      """SELECT count(*) FROM bloom_big b JOIN bloom_small s USING (k)"""
    ).head().getLong(0)
    assert(confirmed == plain)
    assert(plain == 400L)
  }

  test("prefilter actually prunes (false-positive rate stays small)") {
    val kept = spark.sql(
      """SELECT count(*) FROM bloom_big
        |WHERE graft_bloom_contains(
        |  (SELECT graft_bloom_agg(xxhash64(k), 4096L) FROM bloom_small),
        |  xxhash64(k))""".stripMargin).head().getLong(0)
    // 400 members + fp among 20k non-members; the 4096-item sizing keeps
    // fpp ~3%, assert a loose 10% bound so the test is not flaky
    assert(kept >= 400L && kept <= 400L + 2000L, s"kept=$kept")
  }

  test("overloaded bloom still has no false negatives") {
    // 400 members forced into a filter sized for 32 items: fpp
    // degrades (that costs probe-side pruning, never answers) but the
    // exactness guarantee the q72 pattern rests on must survive
    val missed = spark.sql(
      """SELECT count(*) FROM bloom_small s
        |WHERE NOT graft_bloom_contains(
        |  (SELECT graft_bloom_agg(xxhash64(k), 32L) FROM bloom_small),
        |  xxhash64(s.k))""".stripMargin).head().getLong(0)
    assert(missed == 0L)
  }

  test("bad arity fails loudly") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_bloom_agg() FROM bloom_small").collect()
    }
    assert(e.getMessage.contains("graft_bloom_agg"))
  }
}
