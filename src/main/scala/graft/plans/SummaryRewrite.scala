package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference,
  Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression,
  Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan,
  Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}

/** Materialized-rollup routing — the first optimizer `Rule[LogicalPlan]`
  * in the library, and the warehouse capability that makes a 100 TB fact
  * table queryable interactively: an `Aggregate` whose grouping columns
  * and aggregate functions are COVERED by a registered summary table is
  * rewritten to re-aggregate the summary instead of scanning the fact.
  * sum re-aggregates as sum-of-sums, count(*) as sum-of-counts, min/max
  * as min-of-mins/max-of-maxes, and avg as sum-of-sums over
  * sum-of-per-column-counts (double-typed only; the per-column count
  * partial is required because avg ignores NULLs where count(*) does
  * not) — the algebraic-merge property the engine's own partial
  * aggregation already relies on, lifted from map-side combine to
  * table granularity.
  *
  * Scope is deliberately strict (every condition is a correctness
  * boundary, not a convenience): the aggregate's child must be the bare
  * registered fact scan (a column-pruning Project of plain attributes
  * is looked through; ANY Filter blocks the rewrite — a predicate on a
  * non-grouping column is unanswerable from the rollup), grouping
  * columns must be a subset of the summary's keys, every aggregate must
  * be a registered DISTINCT-free sum/count(*)/min/max with no FILTER
  * clause, and at least one grouping column is required (a global
  * aggregate over an EMPTY fact yields count()=0 from the fact but
  * NULL from sum over the empty summary — the one algebraic identity
  * that does not transfer).
  *
  * Output attributes keep the ORIGINAL exprIds (each rewritten column is
  * re-aliased under the id the parent operators resolved against), and
  * the summary subtree is instantiated with FRESH attribute ids per
  * rewrite site, so two rewritten aggregates in one plan cannot collide.
  *
  * Install: [[GraftExtensions]]; a session that graft does not build
  * gets graft with `spark.sql.extensions=graft.plans.GraftExtensions`.
  * The rule is a no-op until `SummaryRewrite.register(factPath,
  * summaryDf, keys, partials)`; q151 clears its registration once its
  * plan is optimized. The summary
  * should be a MATERIALIZED table (its optimized plan is captured at
  * registration); registering the fact-derived query frame directly
  * would re-aggregate the fact and defeat the point.
  */
object SummaryRewrite extends Rule[LogicalPlan] {

  /** A registered rollup: the summary's optimized plan, its key
    * columns, and (func, factColumn) → summaryColumn. `func` is one of
    * "sum" | "min" | "max" | "count" (factColumn "*" for count). */
  private final case class Reg(plan: LogicalPlan, keys: Set[String],
      partials: Map[(String, String), String])

  private val regs = new ConcurrentHashMap[String, Reg]()

  /** Register `summary` as the rollup of the parquet fact at
    * `factPath`, keyed by `keys`. Fails loud if the summary schema is
    * missing a key or partial column. */
  def register(factPath: String, summary: DataFrame, keys: Seq[String],
      partials: Map[(String, String), String]): Unit = {
    val cols = summary.schema.fieldNames.toSet
    val missing = (keys ++ partials.values).filterNot(cols)
    require(missing.isEmpty,
      s"graft SummaryRewrite: summary lacks columns ${missing.mkString(",")}")
    regs.put(normalize(factPath),
      Reg(summary.queryExecution.optimizedPlan, keys.toSet, partials))
  }

  /** Drop every registration (the rule stays installed as a no-op). */
  def clear(): Unit = regs.clear()

  /** Root paths (path component) of every parquet scan in a frame's
    * optimized plan — the shared introspection behind the plan-pinning
    * queries' fail-loud requires (q151/q158). */
  def scannedPaths(df: DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.map(_.toUri.getPath).toSet
        case _ => Set.empty[String]
      }
    }.flatten.toSet

  /** Canonical fully-qualified URI: "/x" and "file:/x" normalize to the
    * same key, while s3://a/x and hdfs://b/x stay DISTINCT — a
    * path-component-only key would let scans on a different filesystem
    * collide with a registration. */
  private[plans] def normalize(p: String): String = {
    val path = new org.apache.hadoop.fs.Path(p)
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .map(s => s.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    path.getFileSystem(conf).makeQualified(path).toString
  }

  /** The fact scan under an Aggregate child, looked at through any
    * stack of attribute/rename Projects: the path, plus the map from
    * each visible attribute's exprId to the UNDERLYING fact column name
    * (a `groupBy(col.as("x"))` leaves its Alias in a child Project, so
    * name identity alone would miss the key). */
  private[plans] def factKey(plan: LogicalPlan)
      : Option[(String, Map[Long, String])] = plan match {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation =>
        // exactly ONE root path, compared with scheme/authority intact: a
        // multi-path scan whose first path collides with the registration
        // (or an s3://a vs hdfs://b path-component collision) must keep
        // the fact scan, not silently drop the extra paths' rows
        fs.location.rootPaths match {
          case Seq(p) => Some((normalize(p.toString),
            lr.output.map(a => a.exprId.id -> a.name).toMap))
          case _ => None
        }
      case _ => None
    }
    case Project(ps, child) =>
      factKey(child).flatMap { case (path, m) =>
        val mapped = ps.map {
          case a: AttributeReference =>
            m.get(a.exprId.id).map(a.exprId.id -> _)
          case al @ Alias(a: AttributeReference, _) =>
            m.get(a.exprId.id).map(al.exprId.id -> _)
          case _ => None
        }
        if (mapped.exists(_.isEmpty)) None
        else Some((path, mapped.flatten.toMap))
      }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    // short-circuit when nothing is registered: the rule ships installed
    // in GraftExtensions, so every session would otherwise pay the
    // factKey walk on every Aggregate for nothing
    if (regs.isEmpty) plan
    else plan.transformUp {
      case agg @ Aggregate(grouping, aggExprs, child, _)
          if grouping.nonEmpty =>
        factKey(child) match {
          case Some((path, m)) if regs.containsKey(path) =>
            rewrite(agg, grouping, aggExprs, regs.get(path), m)
              .getOrElse(agg)
          case _ => agg
        }
    }

  private def rewrite(agg: Aggregate, grouping: Seq[
      org.apache.spark.sql.catalyst.expressions.Expression],
      aggExprs: Seq[NamedExpression], reg: Reg,
      m: Map[Long, String]): Option[LogicalPlan] = {
    // every grouping expression must resolve (through the projection
    // map) to a summary-key fact column
    def keyOf(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Option[(Long, String)] = e match {
      case a: AttributeReference =>
        m.get(a.exprId.id).filter(reg.keys).map(a.exprId.id -> _)
      case Alias(a: AttributeReference, _) =>
        m.get(a.exprId.id).filter(reg.keys).map(a.exprId.id -> _)
      case _ => None
    }
    val groupKeys: Map[Long, String] =
      grouping.map(e => keyOf(e).getOrElse(return None)).toMap
    // fresh summary instance per rewrite site (unique exprIds)
    val fresh = reg.plan.transformUp {
      case lr: LogicalRelation => lr.newInstance()
    }
    val out = fresh.output.map(a => a.name -> a).toMap
    val newAggExprs: Seq[NamedExpression] = aggExprs.map {
      case a: AttributeReference if groupKeys.contains(a.exprId.id) =>
        Alias(out(groupKeys(a.exprId.id)), a.name)(exprId = a.exprId)
      case al @ Alias(a: AttributeReference, name)
          if groupKeys.contains(a.exprId.id) =>
        Alias(out(groupKeys(a.exprId.id)), name)(exprId = al.exprId)
      case al @ Alias(ae: AggregateExpression, name)
          if !ae.isDistinct && ae.filter.isEmpty =>
        def factCol(e: org.apache.spark.sql.catalyst.expressions.Expression)
            : Option[String] = e match {
          case a: AttributeReference => m.get(a.exprId.id)
          case _ => None
        }
        import org.apache.spark.sql.catalyst.expressions.{Cast, Divide,
          Expression => Expr}
        val merged: Option[Expr] = ae.aggregateFunction match {
          case s: Sum => factCol(s.child)
            .flatMap(n => reg.partials.get(("sum", n)))
            .map(c => Sum(out(c)).toAggregateExpression())
          case mi: Min => factCol(mi.child)
            .flatMap(n => reg.partials.get(("min", n)))
            .map(c => Min(out(c)).toAggregateExpression())
          case mx: Max => factCol(mx.child)
            .flatMap(n => reg.partials.get(("max", n)))
            .map(c => Max(out(c)).toAggregateExpression())
          // count(*) / count(lit) only when the literal is NON-null:
          // count(NULL) is 0 per group, which sum-of-counts is not
          case c: Count if c.children.forall {
            case l: Literal => l.value != null
            case _ => false
          } => reg.partials.get(("count", "*"))
            .map(c2 => Sum(out(c2)).toAggregateExpression())
          // avg = sum-of-sums / sum-of-PER-COLUMN-counts. The
          // denominator must be a registered ("count", col) partial —
          // count(*) would overcount when the column has NULLs, and the
          // rule cannot see nullness, so the registrar asserts it.
          // Double-returning averages only: Decimal avg has its own
          // scale/rounding contract a division would not reproduce.
          case av: Average
              if av.dataType == org.apache.spark.sql.types.DoubleType =>
            for {
              n <- factCol(av.child)
              scol <- reg.partials.get(("sum", n))
              ccol <- reg.partials.get(("count", n))
            } yield Divide(
              Cast(Sum(out(scol)).toAggregateExpression(),
                org.apache.spark.sql.types.DoubleType),
              Cast(Sum(out(ccol)).toAggregateExpression(),
                org.apache.spark.sql.types.DoubleType))
          case _ => None
        }
        merged match {
          case Some(e) =>
            // the parent operators resolved this exprId at the ORIGINAL
            // type; a re-aggregate can widen it (Sum over a decimal sum
            // gains precision) — cast back so the rewrite stays
            // type-transparent
            val typed =
              if (e.dataType == ae.dataType) e
              else Cast(e, ae.dataType)
            Alias(typed, name)(exprId = al.exprId)
          case None => return None
        }
      case _ => return None
    }
    val newGrouping = grouping.map(e => out(groupKeys(keyOf(e).get._1)))
    Some(Aggregate(newGrouping, newAggExprs, fresh))
  }
}
