package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The materialized-rollup routing rule: a covered aggregate must scan
  * the SUMMARY parquet (plan-shape assertion on the optimized tree) and
  * return exactly what the fact-table aggregate returns; every
  * correctness boundary in the rule's scope — uncovered aggregate,
  * intervening filter, global (group-less) aggregate — must leave the
  * fact scan untouched. */
class SummaryRewriteSpec extends SparkSpec {

  private val factPath = "/root/testdata/sf0.001/lineitem.parquet"

  private def fact() = spark.read.parquet(factPath)

  /** Root paths of every parquet scan in the optimized plan. */
  private def scanned(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.map(_.toUri.getPath).toSet
        case _ => Set.empty[String]
      }
    }.flatten.toSet

  private def withSummary(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_summary").toFile
    val sumPath = s"${dir.getAbsolutePath}/rollup.parquet"
    fact()
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("cnt"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))
      .write.mode("overwrite").parquet(sumPath)
    SummaryRewrite.register(factPath, spark.read.parquet(sumPath),
      keys = Seq("l_returnflag", "l_linestatus"),
      partials = Map(
        ("sum", "l_quantity") -> "sum_qty",
        ("count", "*") -> "cnt",
        // l_quantity is non-null in this data, so its per-column count
        // (avg's denominator) is the row count — the registrar's
        // nullness assertion the avg rewrite documents
        ("count", "l_quantity") -> "cnt",
        ("min", "l_extendedprice") -> "min_price",
        ("max", "l_extendedprice") -> "max_price"))
    try body(sumPath)
    finally {
      SummaryRewrite.clear()
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(dir)
    }
  }

  private def covered() = fact()
    .groupBy(col("l_returnflag"))
    .agg(sum(col("l_quantity")).as("q"), count(lit(1)).as("n"),
      max(col("l_extendedprice")).as("mx"))

  test("a covered aggregate reroutes to the rollup and stays exact") {
    val want = covered().collect().map(_.toSeq).toSet // before registration
    withSummary { sumPath =>
      val df = covered()
      val scans = scanned(df)
      assert(scans.exists(_.contains("rollup.parquet")),
        s"expected the rollup scan in $scans")
      assert(!scans.contains(factPath),
        "the fact scan must be gone after the rewrite")
      assert(df.collect().map(_.toSeq).toSet == want,
        "rewritten aggregate diverged from the fact-table answer")
    }
  }

  test("coarser regrouping and key projections stay covered") {
    // group by ONE of the two summary keys, emitting the key through an
    // alias — min-of-mins must re-merge across the collapsed key.
    // (def, not val: a DataFrame's optimized plan is a lazy val, so a
    // pre-registration instance would pin the unrewritten plan)
    def q() = fact().groupBy(col("l_linestatus").as("ls"))
      .agg(min(col("l_extendedprice")).as("mn"))
    val want = q().collect().map(_.toSeq).toSet
    withSummary { _ =>
      assert(scanned(q()).exists(_.contains("rollup.parquet")))
      assert(q().collect().map(_.toSeq).toSet == want)
    }
  }

  test("avg reroutes as sum-of-sums over per-column counts, exactly") {
    // quantities are integral doubles, so sum-of-partial-sums (and the
    // final division) are order-exact — equality is bitwise
    def q() = fact().groupBy(col("l_returnflag"))
      .agg(avg(col("l_quantity")).as("aq"))
    val want = q().collect().map(_.toSeq).toSet
    withSummary { _ =>
      assert(scanned(q()).exists(_.contains("rollup.parquet")))
      assert(q().collect().map(_.toSeq).toSet == want)
      // avg of a column without the required (sum + per-column count)
      // partials keeps the fact scan — min/max coverage is not enough
      val noCnt = fact().groupBy(col("l_returnflag"))
        .agg(avg(col("l_extendedprice")).as("ap"))
      assert(scanned(noCnt).contains(factPath))
    }
  }

  test("count of a NULL literal keeps the fact scan (it is not count(*))") {
    def q() = fact().groupBy(col("l_returnflag"))
      .agg(count(lit(null)).as("n"))
    val want = q().collect().map(_.toSeq).toSet // all-zero counts
    withSummary { _ =>
      assert(scanned(q()).contains(factPath),
        "count(NULL) must not rewrite to sum-of-counts")
      assert(q().collect().map(_.toSeq).toSet == want)
    }
  }

  test("a multi-path scan sharing the registered path keeps the fact scan") {
    withSummary { _ =>
      // the second path's rows would silently vanish if the first-root
      // match rewrote this to the rollup
      val multi = spark.read
        .parquet(factPath, "/root/testdata/sf0.001/lineitem.parquet")
        .groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity")).as("q"))
      assert(scanned(multi).contains(factPath))
    }
  }

  test("uncovered shapes keep the fact scan") {
    withSummary { _ =>
      // aggregate on a column with no registered partial
      val uncovered = fact().groupBy(col("l_returnflag"))
        .agg(sum(col("l_tax")).as("t"))
      assert(scanned(uncovered).contains(factPath))
      // a filter between aggregate and scan blocks the rewrite
      val filtered = fact().filter(col("l_quantity") > 10)
        .groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity")).as("q"))
      assert(scanned(filtered).contains(factPath))
      // distinct aggregation is not algebraic over the rollup
      val distinctAgg = fact().groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_linestatus")).as("d"))
      assert(scanned(distinctAgg).contains(factPath))
      // global aggregate (empty-fact count identity does not transfer)
      val global = fact().agg(sum(col("l_quantity")).as("q"))
      assert(scanned(global).contains(factPath))
      // grouping by a non-key column
      val nonKey = fact().groupBy(col("l_shipdate"))
        .agg(sum(col("l_quantity")).as("q"))
      assert(scanned(nonKey).contains(factPath))
    }
  }
}
