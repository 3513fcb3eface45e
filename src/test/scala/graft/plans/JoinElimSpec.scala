package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The PK-FK join-elimination rule: under a declared integrity edge a
  * key-only dimension join must vanish from the optimized plan AND
  * return exactly what the real join returns; every correctness
  * boundary — a filtered dimension, a dimension column escaping the
  * join, an outer join, an undeclared edge — must leave the join in
  * place. Uses the test corpus's lineitem→part edge (q122-audited). */
class JoinElimSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def li() = spark.read.parquet(s"$dir/lineitem.parquet")
    .select(col("l_partkey"), col("l_quantity"))
  private def pt() = spark.read.parquet(s"$dir/part.parquet")

  private def declare(): Unit =
    JoinElim.declare(s"$dir/lineitem.parquet", "l_partkey",
      s"$dir/part.parquet", "p_partkey")

  private def scans(df: org.apache.spark.sql.DataFrame): Set[String] =
    SummaryRewrite.scannedPaths(df)

  private def joined() =
    li().join(pt().select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_partkey"))
      .agg(sum(floor(col("l_quantity")).cast("long")).as("q"))

  override def afterAll(): Unit = {
    JoinElim.clear()
    super.afterAll()
  }

  test("declared key-only join is eliminated and answer-preserving") {
    JoinElim.clear()
    val before = joined().collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(scans(joined()).exists(_.endsWith("part.parquet")),
      "undeclared edge must keep the join")
    declare()
    val after = joined()
    assert(!scans(after).exists(_.endsWith("part.parquet")),
      "declared key-only join still scans the dimension")
    assert(after.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == before, "elimination changed the answer")
  }

  test("a filtered dimension blocks elimination") {
    declare()
    val df = li().join(
        pt().filter(col("p_size") > 20).select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_partkey")).agg(count(lit(1)).as("n"))
    assert(scans(df).exists(_.endsWith("part.parquet")),
      "a filtered dim no longer matches every fact row")
  }

  test("a dimension column escaping the join blocks elimination") {
    declare()
    val df = li().join(pt().select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand")).agg(count(lit(1)).as("n"))
    assert(scans(df).exists(_.endsWith("part.parquet")))
  }

  test("an outer join blocks elimination") {
    declare()
    val df = li().join(pt().select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"), "left_outer")
      .groupBy(col("p_partkey")).agg(count(lit(1)).as("n"))
    assert(scans(df).exists(_.endsWith("part.parquet")))
  }

  test("randomized differential: declared rewrites equal the real join") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val tmp = java.nio.file.Files.createTempDirectory("graft_je").toString
    // dim: unique pks 0..199 with a payload; fact: fks drawn FROM the
    // pk set (referential integrity holds by construction), a value,
    // and nulls nowhere — the declared contract
    val pks = (0L until 200L).toSeq
    Seq.fill(120)((pks(rnd.nextInt(200)), rnd.nextInt(1000)))
      .toDF("fk", "v").write.mode("overwrite").parquet(s"$tmp/fact.parquet")
    pks.map(k => (k, s"p$k")).toDF("pk", "name")
      .write.mode("overwrite").parquet(s"$tmp/dim.parquet")
    def fact() = spark.read.parquet(s"$tmp/fact.parquet")
    def dim() = spark.read.parquet(s"$tmp/dim.parquet")
    // query shapes over the join, all reading nothing from dim but pk
    val shapes: Seq[() => org.apache.spark.sql.DataFrame] = Seq(
      () => fact().join(dim().select(col("pk")), col("fk") === col("pk"))
        .groupBy(col("pk")).agg(sum(col("v")).as("s")),
      () => fact().filter(col("v") % 3 === 0)
        .join(dim().select(col("pk")), col("fk") === col("pk"))
        .groupBy((col("pk") % 7).as("b")).agg(count(lit(1)).as("n")),
      () => fact().join(dim().select(col("pk")), col("pk") === col("fk"))
        .select(col("pk"), col("v")).orderBy(col("pk"), col("v")),
      () => fact().join(dim().select(col("pk")), col("fk") === col("pk"))
        .agg(count(lit(1)).as("n"), sum(col("pk")).as("sk")))
    JoinElim.clear()
    val plain = shapes.map(q => q().collect().map(_.toSeq).toSeq.sorted(
      Ordering.by((r: Seq[Any]) => r.mkString("|"))))
    JoinElim.declare(s"$tmp/fact.parquet", "fk",
      s"$tmp/dim.parquet", "pk")
    shapes.zip(plain).zipWithIndex.foreach { case ((q, want), i) =>
      val df = q()
      assert(!scans(df).exists(_.endsWith("dim.parquet")),
        s"shape $i not eliminated")
      val got = df.collect().map(_.toSeq).toSeq.sorted(
        Ordering.by((r: Seq[Any]) => r.mkString("|")))
      assert(got == want, s"shape $i answer changed under elimination")
    }
    JoinElim.clear()
  }

  test("fact-side filters stay transparent to elimination") {
    declare()
    val df = li().filter(col("l_quantity") > 10)
      .join(pt().select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_partkey")).agg(count(lit(1)).as("n"))
    assert(!scans(df).exists(_.endsWith("part.parquet")),
      "a fact-side filter cannot break integrity")
    JoinElim.clear()
    val plain = li().filter(col("l_quantity") > 10)
      .join(pt().select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_partkey")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    declare()
    assert(df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == plain)
  }
}
