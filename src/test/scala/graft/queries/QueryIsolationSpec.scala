package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._

import graft.{Sessions, SparkEntry, SparkSpec}
import graft.plans.SummaryRewrite

/** A query's result, plan and job count must not depend on which
  * queries the session ran before it. q151, q166 and q177 each declare
  * what an optimizer rule may use (a rollup, an integrity edge, a unique
  * key); the declaration must end with the query that made it. */
class QueryIsolationSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def build(name: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  test("q166's edge and q177's key do not outlive their queries") {
    build("q166_join_elim")
    build("q177_distinct_elim")
    val keyOnly = spark.read.parquet(s"$dir/lineitem.parquet")
      .join(spark.read.parquet(s"$dir/part.parquet").select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_partkey")).agg(count(lit(1)).as("n"))
    assert(SummaryRewrite.scannedPaths(keyOnly).exists(_.endsWith("part.parquet")),
      "a later key-only lineitem-part join was eliminated")
    val distinct = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey")).distinct()
    assert(distinct.queryExecution.optimizedPlan
        .collect { case a: Aggregate => a }.nonEmpty,
      "a later distinct over o_orderkey lost its Aggregate")
  }

  test("the same queries in two orders give the same rows, scans and jobs") {
    val names = Seq("q151_rollup_route", "q166_join_elim",
      "q177_distinct_elim", "q10_join_dims", "q11_semi_join")
    val sc = spark.sparkContext
    /** (rows, scanned file names, jobs) of one build-and-collect. The
      * rollup q151 writes lives in a fresh temp dir per run, so scans
      * compare by file name. */
    def observe(name: String, tag: String) = {
      sc.setJobGroup(tag, tag, interruptOnCancel = false)
      try {
        val df = build(name)
        val scans = SummaryRewrite.scannedPaths(df)
          .map(p => new java.io.File(p).getName)
        val rows = df.collect().map(_.toSeq).toSeq
        (rows, scans, sc.statusTracker.getJobIdsForGroup(tag).length)
      } finally {
        sc.clearJobGroup()
        Sessions.releaseAll(spark)
      }
    }
    // one untimed pass first, as Bench and perfbench run one: the
    // per-JVM sizing memos (Tables.rowCount) then count in neither order
    names.foreach(n => observe(n, s"isolation|warm|$n"))
    val forward = names.map(n => n -> observe(n, s"isolation|fwd|$n")).toMap
    val backward = names.reverse.map(n => n -> observe(n, s"isolation|bwd|$n")).toMap
    names.foreach { n =>
      val (fRows, fScans, fJobs) = forward(n)
      val (bRows, bScans, bJobs) = backward(n)
      assert(fRows == bRows, s"$n: rows depend on query order")
      assert(fScans == bScans, s"$n: scans $fScans vs $bScans")
      assert(fJobs == bJobs, s"$n: $fJobs jobs vs $bJobs")
      assert(fRows.nonEmpty && fJobs > 0, s"$n ran nothing")
    }
  }
}
