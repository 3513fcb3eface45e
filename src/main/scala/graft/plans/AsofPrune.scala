package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet,
  Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan,
  Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Pruning/pushdown through the native nodes — the library's fourth
  * optimizer `Rule[LogicalPlan]`, and the one that makes
  * [[AsofJoinPlan]] and [[OverlapJoinPlan]] first-class citizens of
  * Catalyst's scan optimization instead of barriers. Every custom
  * logical node is opaque to the built-in ColumnPruning and
  * PushDownPredicates rules, so without this rule a query that filters
  * and narrows the result of a native join reads EVERY column of both
  * inputs and processes EVERY row — at 100 TB the difference between a
  * two-column pruned parquet scan with pushed predicates and a
  * full-width full-table read. The built-ins stop at the node; this
  * rule carries their work through it:
  *
  *  - `Filter` above an ASOF node: deterministic conjuncts that
  *    reference only LEFT-side output move below into the left child.
  *    Sound because the node is a left-preserving 1:1 map — each left
  *    row produces exactly one output row whose left columns are
  *    unchanged, and each row's match depends only on the RIGHT side
  *    (dropping other left rows never changes it). Conjuncts touching
  *    payload columns stay above (a payload predicate observes the
  *    match, which does not exist before the join); general right-side
  *    pushdown would CHANGE who matches, so it never happens — with ONE
  *    exception: a deterministic conjunct over the JOIN KEY alone is
  *    MIRRORED onto the right child through the key equality (both keys
  *    bare attributes, so the rewrite is a substitution). Sound because
  *    every left row of a failing key is itself dropped by the left
  *    push, so the right rows those keys would have matched are
  *    unobservable; right rows of surviving keys all pass the mirrored
  *    predicate, so no surviving row's match changes. At scale this is
  *    what lets a `WHERE key % 7 = 0` cut BOTH scans, not just one.
  *  - `Filter` above an OVERLAP node: the overlap join is a plain
  *    INNER join on a per-pair predicate, so single-side deterministic
  *    conjuncts push to BOTH children — a pair whose row fails a
  *    one-sided predicate is dropped whether the row dies before or
  *    after the join. Key-only conjuncts mirror to the OPPOSITE child
  *    too (same soundness as the ASOF case, inner-join flavor: a pair
  *    needs both keys equal, so a key failing the predicate on either
  *    side can produce no output).
  *  - Non-deterministic conjuncts stay above in both cases
  *    (fewer/reordered evaluations would change their meaning).
  *  - `Project` above either node: left child pruned to the referenced
  *    left columns plus its join columns, right child pruned to the
  *    referenced payload columns plus ITS join columns, and the node's
  *    payload list shrinks to match. Attributes keep their exprIds
  *    (the inserted child Projects select bare attributes), so the
  *    parent resolves untouched.
  *
  * All rewrites bottom out at the parquet scan: physical planning's
  * `PhysicalOperation` collapses the inserted Project/Filter chains
  * into the relation, so `ReadSchema` narrows and `PushedFilters`
  * populate exactly as they would under a built-in join. Fires only on
  * plans containing a native node; terminates because each rewrite
  * strictly shrinks a child's output or moves a conjunct that then no
  * longer matches.
  *
  * Install: [[GraftExtensions]], with the two strategies; a session
  * that graft does not build gets graft with
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
object AsofPrune extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // ---- ASOF filter pushdown: left-only deterministic conjuncts ----
    case Filter(cond, a: AsofJoinPlan) =>
      val (push, keep) = splitConjuncts(cond).partition(c =>
        c.deterministic && c.references.subsetOf(a.left.outputSet))
      if (push.isEmpty) Filter(cond, a)
      else {
        val pushed = a.copy(
          left = Filter(push.reduce(And2), a.left),
          right = mirror(push, a.leftKey, a.rightKey)
            .reduceOption(And2).map(Filter(_, a.right)).getOrElse(a.right))
        keep.reduceOption(And2).map(Filter(_, pushed)).getOrElse(pushed)
      }

    // ---- OVERLAP filter pushdown: inner join, both sides eligible ----
    case Filter(cond, o: OverlapJoinPlan) =>
      val conjuncts = splitConjuncts(cond)
      val pushL = conjuncts.filter(c =>
        c.deterministic && c.references.subsetOf(o.left.outputSet))
      val pushR = conjuncts.filter(c =>
        c.deterministic && !c.references.isEmpty &&
          c.references.subsetOf(o.right.outputSet))
      if (pushL.isEmpty && pushR.isEmpty) Filter(cond, o)
      else {
        val keep = conjuncts.filterNot(c =>
          pushL.contains(c) || pushR.contains(c))
        val allL = pushL ++ mirror(pushR, o.rightKey, o.leftKey)
        val allR = pushR ++ mirror(pushL, o.leftKey, o.rightKey)
        val pushed = o.copy(
          left = allL.reduceOption(And2).map(Filter(_, o.left))
            .getOrElse(o.left),
          right = allR.reduceOption(And2).map(Filter(_, o.right))
            .getOrElse(o.right))
        keep.reduceOption(And2).map(Filter(_, pushed)).getOrElse(pushed)
      }

    // ---- ASOF column pruning ----
    case Project(ps, a: AsofJoinPlan) =>
      val refs = AttributeSet(ps.flatMap(_.references))
      val joinRefsL = a.leftKey.references ++ a.leftTs.references
      val joinRefsR = a.rightKey.references ++ a.rightTs.references
      // output payload attrs are withNullability(true) copies sharing
      // exprIds with a.payload, so membership tests line up
      val keepPayload = a.payload.filter(refs.contains)
      val needL = a.left.output.filter(at =>
        refs.contains(at) || joinRefsL.contains(at))
      val needR = a.right.output.filter(at =>
        keepPayload.contains(at) || joinRefsR.contains(at))
      if (needL.length == a.left.output.length &&
          needR.length == a.right.output.length) Project(ps, a)
      else Project(ps, a.copy(
        left = if (needL.length == a.left.output.length) a.left
               else Project(needL, a.left),
        right = if (needR.length == a.right.output.length) a.right
                else Project(needR, a.right),
        payload = keepPayload))

    // ---- OVERLAP column pruning ----
    case Project(ps, o: OverlapJoinPlan) =>
      val refs = AttributeSet(ps.flatMap(_.references))
      val joinRefsL = o.leftKey.references ++ o.leftStart.references ++
        o.leftEnd.references
      val joinRefsR = o.rightKey.references ++ o.rightStart.references ++
        o.rightEnd.references
      val keepPayload = o.payload.filter(refs.contains)
      val needL = o.left.output.filter(at =>
        refs.contains(at) || joinRefsL.contains(at))
      val needR = o.right.output.filter(at =>
        keepPayload.contains(at) || joinRefsR.contains(at))
      if (needL.length == o.left.output.length &&
          needR.length == o.right.output.length) Project(ps, o)
      else Project(ps, o.copy(
        left = if (needL.length == o.left.output.length) o.left
               else Project(needL, o.left),
        right = if (needR.length == o.right.output.length) o.right
                else Project(needR, o.right),
        payload = keepPayload))
  }

  /** Conjuncts of `push` referencing ONLY the source-side key, rewritten
    * over the key equality onto the other side's key — defined only when
    * both keys are bare attributes (the facade's form; an expression key
    * would make the substitution unsound). */
  private def mirror(push: Seq[Expression], fromKey: Expression,
      toKey: Expression): Seq[Expression] = (fromKey, toKey) match {
    case (fk: Attribute, tk: Attribute) =>
      push.filter(c => c.references.nonEmpty &&
          c.references.subsetOf(AttributeSet(fk :: Nil)))
        .map(_.transform {
          case at: Attribute if at.semanticEquals(fk) => tk
        })
    case _ => Nil
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  private def And2(l: Expression, r: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.And(l, r)
}
