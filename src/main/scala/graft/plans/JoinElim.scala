package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference,
  EqualTo, Expression, IsNotNull, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan,
  Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}

/** PK-FK join elimination — the library's second optimizer
  * `Rule[LogicalPlan]`, and the other half of the warehouse-constraint
  * story [[SummaryRewrite]] started: Spark's optimizer carries no
  * referential-integrity metadata, so a star-schema query that joins a
  * dimension but reads nothing from it still pays the full join — at
  * 100 TB, a shuffle or broadcast probe per fact row for NOTHING. Under
  * a DECLARED integrity edge the join is the identity map on the fact
  * side, and this rule removes it.
  *
  * A join `fact ⋈ dim ON fact.fk = dim.pk` collapses to `fact` (with
  * the pk attribute re-aliased onto fk under its ORIGINAL exprId, so
  * parents resolve untouched — the SummaryRewrite move) exactly when:
  *
  *  - the join is INNER with the single equality `fk = pk` on bare,
  *    equal-typed attributes;
  *  - the dim side is the declared key table's scan, looked at only
  *    through column-pruning Projects (ANY Filter on the dim blocks
  *    elimination — a filtered dimension no longer matches every fact
  *    row), and after pruning its output is EXACTLY the pk attribute
  *    (any other surviving dim column is used somewhere above);
  *  - the fact side reaches the declared fact scan through Projects
  *    and Filters only (fact-side filters never break integrity; an
  *    intervening outer join COULD inject nulls into fk, so anything
  *    else declines), with fk mapping to the declared column;
  *  - the edge `(fact, fk) → (dim, pk)` was declared via [[declare]].
  *
  * The declaration is a data contract the optimizer cannot check row-
  * by-row: pk unique, fk non-null, every fk present in pk — precisely
  * what the q122 referential-integrity audit measures, which is what
  * licenses declaring it (q166 wires the two together). Dropping a join
  * the data violates would change answers; that is the declarer's
  * responsibility, as in every warehouse that ships RELY constraints.
  *
  * Install: [[GraftExtensions]]; a session that graft does not build
  * gets graft with `spark.sql.extensions=graft.plans.GraftExtensions`.
  * The rule is a no-op until [[declare]]; a query that declares an
  * edge clears it once its plan is optimized (q166), so no declaration
  * outlives the query that made it.
  */
object JoinElim extends Rule[LogicalPlan] with PredicateHelper {

  /** A declared integrity edge: fact parquet root + fk column →
    * dim parquet root + pk column. */
  private final case class Edge(factPath: String, fk: String,
      dimPath: String, pk: String)

  private val edges = ConcurrentHashMap.newKeySet[Edge]()

  /** Declare `fact.fk → dim.pk` (pk unique; fk non-null and always
    * present in pk — the caller's audited assertion, see q122). */
  def declare(factPath: String, fk: String, dimPath: String,
      pk: String): Unit =
    edges.add(Edge(SummaryRewrite.normalize(factPath), fk,
      SummaryRewrite.normalize(dimPath), pk))

  /** Drop every declaration (the rule stays installed as a no-op). */
  def clear(): Unit = edges.clear()

  /** Is `dimPath.pk` the pk side of ANY declared edge? An edge's
    * contract asserts pk uniqueness, which [[DistinctElim]]'s
    * uniqueness walk reuses to carry declared-unique keys through
    * many-to-one star joins. */
  private[plans] def pkDeclared(dimPath: String, pk: String): Boolean = {
    val it = edges.iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.dimPath == dimPath && e.pk == pk) return true
    }
    false
  }

  /** ONE walk for both join sides: the scan under `plan` through
    * Projects (attribute/rename mapping, as in
    * [[SummaryRewrite.factKey]]) and Filters, returning the path, the
    * exprId → underlying-column map (child-level ids kept — a filter
    * below a projection references scan-level attributes), and every
    * filter conjunct collected on the way. The CALLER decides what the
    * filters may be: the fact side ignores them (row drops never break
    * integrity), the dim side admits only IsNotNull(pk) guards. */
  private[plans] def sideWalk(plan: LogicalPlan)
      : Option[(String, Map[Long, String], Seq[Expression])] = plan match {
    case Filter(cond, child) =>
      sideWalk(child).map { case (p, m, fs) =>
        (p, m, fs ++ splitConjunctivePredicates(cond))
      }
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation => fs.location.rootPaths match {
        case Seq(p) => Some((SummaryRewrite.normalize(p.toString),
          lr.output.map(a => a.exprId.id -> a.name).toMap, Nil))
        case _ => None
      }
      case _ => None
    }
    case Project(ps, child) =>
      sideWalk(child).flatMap { case (path, m, fs) =>
        val mapped = ps.map {
          case a: AttributeReference =>
            m.get(a.exprId.id).map(a.exprId.id -> _)
          case al @ Alias(a: AttributeReference, _) =>
            m.get(a.exprId.id).map(al.exprId.id -> _)
          case _ => None
        }
        if (mapped.exists(_.isEmpty)) None
        else Some((path, m ++ mapped.flatten.toMap, fs))
      }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (edges.isEmpty) plan
    else plan.transformUp {
      case j @ Join(l, r, Inner, Some(EqualTo(
          a: AttributeReference, b: AttributeReference)), _) =>
        // try both orientations and both operand orders
        eliminate(l, r, a, b).orElse(eliminate(l, r, b, a))
          .orElse(eliminate(r, l, a, b)).orElse(eliminate(r, l, b, a))
          .getOrElse(j)
    }

  /** `fact ⋈ dim ON fkAttr = pkAttr` → Project(fact.* + pk := fk). */
  private def eliminate(fact: LogicalPlan, dim: LogicalPlan,
      fkAttr: AttributeReference, pkAttr: AttributeReference)
      : Option[LogicalPlan] =
    for {
      _ <- Option.when(fkAttr.dataType == pkAttr.dataType)(())
      // dim: Projects plus join-inferred IsNotNull(pk) guards only
      // (NullPropagation adds one under every inner equi-join; a null
      // pk never joins, so stripping it with the join loses nothing —
      // any OTHER predicate must block), output exactly the pk
      (dimPath, dimMap, dimFilters) <- sideWalk(dim)
      _ <- Option.when(dim.output.map(_.exprId.id) == Seq(pkAttr.exprId.id))(())
      pkName <- dimMap.get(pkAttr.exprId.id)
      _ <- Option.when(dimFilters.forall {
        case IsNotNull(a: AttributeReference) =>
          dimMap.get(a.exprId.id).contains(pkName)
        case _ => false
      })(())
      // fact: filters are transparent (row drops never break integrity)
      (factPath, factMap, _) <- sideWalk(fact)
      fkName <- factMap.get(fkAttr.exprId.id)
      _ <- Option.when(
        edges.contains(Edge(factPath, fkName, dimPath, pkName)))(())
    } yield Project(
      fact.output :+ Alias(fkAttr, pkAttr.name)(exprId = pkAttr.exprId),
      fact)
}
