package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}

/** The one installer of graft's optimizer rules, planner strategies and
  * SQL functions. [[graft.Sessions.local]] (and the test fixture) pass
  * it to `withExtensions` when they build their session; a session
  * that graft does not build gets graft with
  * `spark.sql.extensions=graft.plans.GraftExtensions`. Every rule is a
  * no-op until a query declares what it may use (a summary, an integrity
  * edge, a unique key) or plans a native node, so installing them all up
  * front makes a session's rules independent of the queries it has run. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // materialized-rollup routing (no-op until a summary is registered)
    ext.injectOptimizerRule(_ => SummaryRewrite)
    // PK-FK join elimination (no-op until an edge is declared)
    ext.injectOptimizerRule(_ => JoinElim)
    // distinct elimination (no-op until a unique key is declared)
    ext.injectOptimizerRule(_ => DistinctElim)
    // native ASOF join planning (no-op unless an AsofJoinPlan is present)
    ext.injectPlannerStrategy(_ => AsofStrategy)
    // pruning/pushdown through the ASOF node (same no-op condition)
    ext.injectOptimizerRule(_ => AsofPrune)
    // native interval-overlap join planning
    ext.injectPlannerStrategy(_ => OverlapStrategy)
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_matvec"),
      new ExpressionInfo(classOf[MatVec].getName, "graft_matvec"),
      (args: Seq[Expression]) => MatVec(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_maxsim"),
      new ExpressionInfo(classOf[MaxSim].getName, "graft_maxsim"),
      (args: Seq[Expression]) => MaxSim(args(0), args(1),
        foldInt(args(2), "graft_maxsim m"))))
    ext.injectFunction((
      FunctionIdentifier("graft_rollhash"),
      new ExpressionInfo(classOf[RollingHash].getName, "graft_rollhash"),
      (args: Seq[Expression]) => RollingHash(args(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "graft_shingles"),
      (args: Seq[Expression]) => WordShingles(args(0),
        foldInt(args(1), "graft_shingles k"),
        foldBool(args(2), "graft_shingles distinct"))))
    ext.injectFunction((
      FunctionIdentifier("graft_repstats"),
      new ExpressionInfo(classOf[RepetitionStats].getName, "graft_repstats"),
      (args: Seq[Expression]) => RepetitionStats(args(0),
        foldInt(args(1), "graft_repstats k"))))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash"),
      (args: Seq[Expression]) => MinHashSig(args(0),
        foldInt(args(1), "graft_minhash k"))))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHashAgg].getName, "graft_simhash"),
      (args: Seq[Expression]) => SimHashAgg(args(0)).toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[TopKAgg].getName, "graft_topk"),
      (args: Seq[Expression]) => TopKAgg(args(0),
        foldInt(args(1), "graft_topk k")).toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("graft_gram"),
      new ExpressionInfo(classOf[GramAgg].getName, "graft_gram"),
      (args: Seq[Expression]) => GramAgg(args(0)).toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("graft_heavy_hitters"),
      new ExpressionInfo(classOf[HeavyHitters].getName, "graft_heavy_hitters"),
      (args: Seq[Expression]) => HeavyHitters(args(0),
        foldInt(args(1), "graft_heavy_hitters capacity"))
        .toAggregateExpression()))
    // Spark's runtime bloom filter, exposed as SQL: the broadcast
    // prefilter for decontamination and anti-join pruning. The agg folds
    // a LONG key (xxhash64 for strings) into a fixed-size mergeable
    // filter; Spark binds the probe's bloom side once per query, so it
    // must be a constant or scalar subquery:
    // `graft_bloom_contains((SELECT graft_bloom_agg(..) FROM small), k)`.
    // A bloom has no false negatives, so prefilter -> exact confirm join
    // equals the plain join; `expected_items` sizes the false-positive
    // rate (3% at the default), never the answer.
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(classOf[BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      {
        case Seq(key) => new BloomFilterAggregate(key,
          BloomExpectedItems).toAggregateExpression()
        case Seq(key, items) => new BloomFilterAggregate(key,
          foldLong(items, "graft_bloom_agg expected_items"))
          .toAggregateExpression()
        case args => throw new IllegalArgumentException(
          s"graft_bloom_agg(key[, expected_items]): got ${args.size} args")
      }: Seq[Expression] => Expression))
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName,
        "graft_bloom_contains"),
      {
        case Seq(bloom, key) => BloomFilterMightContain(bloom, key)
        case args => throw new IllegalArgumentException(
          s"graft_bloom_contains(bloom, key): got ${args.size} args")
      }: Seq[Expression] => Expression))
  }

  /** `graft_bloom_agg`'s expected distinct keys when the caller gives no
    * estimate: small-side sets up to ~4M keys (~4.7 MB filter at 3% fpp). */
  private val BloomExpectedItems: Long = 4L * 1000 * 1000

  private def foldLong(e: Expression, what: String): Long = e.eval() match {
    case i: Int => i.toLong
    case l: Long => l
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def foldInt(e: Expression, what: String): Int = e.eval() match {
    case i: Int => i
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def foldBool(e: Expression, what: String): Boolean = e.eval() match {
    case b: Boolean => b
    case other => throw new IllegalArgumentException(
      s"$what must be a boolean literal, got $other")
  }
}
