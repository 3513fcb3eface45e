package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference,
  NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression,
  Complete, First}
import org.apache.spark.sql.catalyst.expressions.{EqualTo,
  PredicateHelper}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join,
  LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Distinct elimination under a DECLARED unique key — the library's third
  * optimizer `Rule[LogicalPlan]`, closing the warehouse-constraint trio:
  * [[SummaryRewrite]] exploits declared column summaries, [[JoinElim]]
  * declared referential integrity, and this rule declared UNIQUENESS.
  * Spark tracks no uniqueness metadata, so `df.distinct()` or
  * `dropDuplicates("pk")` over a table whose key is already unique pays a
  * full corpus-wide hash aggregate — at 100 TB, the single largest
  * pointless shuffle a pipeline can run (every row crosses the exchange
  * to deduplicate a set with no duplicates).
  *
  * By the time extension rules run, both forms are one `Aggregate`:
  * `.distinct()` arrives as Aggregate(out, out, child) and
  * `.dropDuplicates(keys)` as Aggregate(keys, keys ++ first(others),
  * child). The rule rewrites either to a Project exactly when:
  *
  *  - every grouping expression is a bare attribute, and every
  *    aggregate output is either one of those attributes or
  *    `first(attr)` / `any_value(attr)` over a bare attribute (the
  *    shape ReplaceDeduplicateWithAggregate emits — under uniqueness
  *    each group IS one row, so first() is the identity);
  *  - SOME grouping attribute is provably unique at the aggregate's
  *    child ([[uniqueAt]]): a tuple containing a key that never
  *    repeats never repeats itself.
  *
  * The uniqueness walk generalizes the original scan-chain check
  * (Projects and Filters over a declared scan — filters only shrink a
  *  duplicate-free set) with two join cases a star schema needs:
  *
  *  - LeftSemi/LeftAnti preserve LEFT uniqueness unconditionally (each
  *    left row appears at most once, values untouched);
  *  - an INNER equi-join preserves the MANY side's uniqueness when
  *    some equality conjunct `fk = pk` has its pk side resolve (through
  *    Projects/Filters only) to a column whose uniqueness is DECLARED —
  *    either directly here, or as the pk of a [[JoinElim]] integrity
  *    edge (whose contract asserts exactly that). A unique-keyed dim
  *    matches each fact row at most once, so fact rows are never
  *    duplicated (extra join conjuncts and filters only REMOVE rows);
  *    dim-side attributes do NOT inherit uniqueness (they repeat once
  *    per matching fact row). So `dropDuplicates(pk)` above a whole
  *    star join collapses to a projection — at 100 TB, the difference
  *    between a free pass-through and shuffling the joined fact.
  *
  * The declaration (`(path, column)` unique) is the caller's audited
  * assertion — `count(*) = count(DISTINCT col)`, the q52-profile
  * check — the same RELY-constraint contract JoinElim documents.
  *
  * Replacement preserves exprIds exactly: grouping outputs are the
  * child's own attributes, and each `first(attr) AS name` becomes
  * `attr AS name` under the ORIGINAL alias exprId, so parents resolve
  * untouched (the SummaryRewrite move).
  *
  * Install: [[GraftExtensions]]; a session that graft does not build
  * gets graft with `spark.sql.extensions=graft.plans.GraftExtensions`.
  * The rule is a no-op until [[declare]]; q177 clears its key once its
  * plan is optimized.
  */
object DistinctElim extends Rule[LogicalPlan] with PredicateHelper {

  private final case class Key(path: String, column: String)

  private val keys = ConcurrentHashMap.newKeySet[Key]()

  /** Declare `path.column` unique (the caller's audited assertion). */
  def declare(path: String, column: String): Unit =
    keys.add(Key(SummaryRewrite.normalize(path), column))

  /** Drop every declaration (the rule stays installed as a no-op). */
  def clear(): Unit = keys.clear()

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (keys.isEmpty) plan
    else plan.transformUp {
      case agg: Aggregate => eliminate(agg).getOrElse(agg)
    }

  private def eliminate(agg: Aggregate): Option[LogicalPlan] = {
    val groupAttrs = agg.groupingExpressions.map {
      case a: AttributeReference => Some(a)
      case _ => None
    }
    if (groupAttrs.exists(_.isEmpty) || groupAttrs.isEmpty) return None
    val groupIds = groupAttrs.flatten.map(_.exprId).toSet
    // every output: a grouping attr, or first()/any_value() of an attr
    val rewritten: Seq[Option[NamedExpression]] = agg.aggregateExpressions.map {
      case a: AttributeReference if groupIds.contains(a.exprId) => Some(a)
      case al @ Alias(a: AttributeReference, name)
          if groupIds.contains(a.exprId) =>
        Some(Alias(a, name)(exprId = al.exprId))
      case al @ Alias(AggregateExpression(
          First(a: AttributeReference, false), Complete, false, None, _),
          name) =>
        Some(Alias(a, name)(exprId = al.exprId))
      case _ => None
    }
    if (rewritten.exists(_.isEmpty)) return None
    if (groupAttrs.flatten.exists(a => uniqueAt(agg.child, a.exprId.id)))
      Some(Project(rewritten.flatten, agg.child))
    else None
  }

  /** Is the attribute `id` provably duplicate-free in `plan`'s output?
    * Project/Filter levels map the id downward; the declared-scan check
    * runs once, where the chain bottoms out (not per level — the walk
    * is O(depth) per attribute). Join cases per the scaladoc. */
  private def uniqueAt(plan: LogicalPlan, id: Long): Boolean = plan match {
    case Filter(_, child) => uniqueAt(child, id)
    case Project(ps, child) =>
      ps.collectFirst {
        case a: AttributeReference if a.exprId.id == id => a.exprId.id
        case al @ Alias(a: AttributeReference, _)
            if al.exprId.id == id => a.exprId.id
      }.exists(uniqueAt(child, _))
    case Join(l, r, LeftSemi | LeftAnti, _, _) =>
      l.output.exists(_.exprId.id == id) && uniqueAt(l, id)
    case Join(l, r, Inner, Some(cond), _) =>
      val conjuncts = splitConjunctivePredicates(cond)
      // the witness must be a CROSS-side equality: unique dim key on
      // one operand, a FACT-side attribute on the other — a dim-local
      // equality (or pk = pk) says nothing about match multiplicity
      // and would license eliminating a genuinely row-multiplying join
      def manyToOne(fact: LogicalPlan, dim: LogicalPlan): Boolean =
        fact.output.exists(_.exprId.id == id) && uniqueAt(fact, id) &&
          conjuncts.exists {
            case EqualTo(x: AttributeReference, y: AttributeReference) =>
              (onSide(fact, x) && dimKeyUnique(dim, y.exprId.id)) ||
                (onSide(fact, y) && dimKeyUnique(dim, x.exprId.id))
            case _ => false
          }
      manyToOne(l, r) || manyToOne(r, l)
    case other =>
      JoinElim.sideWalk(other).exists { case (path, m, _) =>
        m.get(id).exists(c => keys.contains(Key(path, c)))
      }
  }

  private def onSide(side: LogicalPlan, a: AttributeReference): Boolean =
    side.output.exists(_.exprId == a.exprId)

  /** The join-key attribute resolves through the dim side's
    * Projects/Filters to a scan column declared unique — directly, or
    * as the pk of a JoinElim integrity edge. (The dim side must be a
    * plain scan chain: a join inside it could re-duplicate the key.) */
  private def dimKeyUnique(dim: LogicalPlan, keyId: Long): Boolean =
    dim.output.exists(_.exprId.id == keyId) &&
      JoinElim.sideWalk(dim).exists { case (path, m, _) =>
        m.get(keyId).exists(c =>
          keys.contains(Key(path, c)) || JoinElim.pkDeclared(path, c))
      }

}
