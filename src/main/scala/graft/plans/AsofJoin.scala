package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute,
  BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan,
  SparkStrategy}
import org.apache.spark.unsafe.types.UTF8String

/** Native ASOF join — the library's first WHOLE-OPERATOR extension
  * (preference tier (c) of the build brief: custom `LogicalPlan` +
  * `SparkStrategy` + `SparkPlan`, after tiers (a) composition and (b)
  * scalar expressions/aggregates): for every left row, the right row of
  * the same key with the greatest `ts` ≤ the left's; null payload when
  * none. Same contract as [[graft.operators.TemporalJoins.asof]]
  * (right unique per (key, ts); the q57 semantics), which remains the
  * tier-(a) form and its differential baseline.
  *
  * Why a physical operator where the union+window composition already
  * answers correctly: the composed plan materializes BOTH sides into
  * one null-padded union (left width + payload width on every row),
  * sorts that, and runs a window operator whose running `last()` state
  * management is generic. The merge join this node plans does ONE
  * co-partitioned sort per side at native width and then a single
  * forward pass per partition: the right cursor advances monotonically,
  * state is ONE copied payload row, and no unioned null-padding ever
  * exists. Same exchanges, strictly less data through them, no window
  * buffering — the shape every database's ASOF JOIN implements.
  *
  * Catalyst integration: `requiredChildDistribution` = clustered on
  * each key and `requiredChildOrdering` = (key, ts) per side, so
  * EnsureRequirements plants the co-partitioned exchanges and sorts
  * exactly as it does for a SortMergeJoin — AQE coalescing included;
  * `outputOrdering`/`outputPartitioning` advertise the left side's, so
  * a downstream per-key operation reuses the sort. The node is opaque
  * to the BUILT-IN rewrite rules (a correctness barrier, like every
  * custom node); [[AsofPrune]] restores column pruning and left-side
  * filter pushdown through it, so scans underneath keep their narrow
  * `ReadSchema` and `PushedFilters` without caller pre-projection.
  *
  * Keys may be any atomic type (interpreted ordering; UTF8String keys
  * are defensively copied out of the reused cursor row); `ts` must be
  * TIMESTAMP/LONG-backed (compared as raw micros).
  */
object AsofJoin {

  /** The declarative surface: left's columns plus `rightPayload` from
    * the matching right row per `direction` — "backward" (the latest
    * right at-or-before each left's `ts`, the ASOF default), "forward"
    * (the earliest right strictly after), or "nearest" (whichever of
    * the two is closer; backward wins distance ties — the
    * [[graft.operators.TemporalJoins.nearest]] rule, pandas
    * merge_asof's direction surface). `toleranceUs` bounds the match
    * distance inclusively when set (right `ts` must be LONG-backed
    * micros for the comparison). [[AsofStrategy]] plans the node; it is
    * installed with [[GraftExtensions]] — a session that graft does not
    * build gets graft with `spark.sql.extensions=graft.plans.GraftExtensions`. */
  def join(left: DataFrame, right: DataFrame, key: String, ts: String,
      rightPayload: Seq[String], direction: String = "backward",
      toleranceUs: Option[Long] = None): DataFrame = {
    require(Set("backward", "forward", "nearest")(direction),
      s"graft AsofJoin: unknown direction '$direction'")
    require(toleranceUs.forall(_ >= 0), "negative tolerance")
    import org.apache.spark.sql.functions.col
    // self-join hazard: if both frames derive from one scan, their
    // attributes share exprIds, and an optimizer rule seeing the left
    // side already "provide" user_id#N prunes it off the right child
    // (reproduced: INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND at execution).
    // Re-aliasing the right side under reserved names forces fresh,
    // unshared exprIds — a rename survives RemoveRedundantAliases.
    val sfx = "__asof_r"
    val r2 = right.select(right.columns.map(c => col(c).as(c + sfx)): _*)
    val l = left.queryExecution.analyzed
    val r = r2.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"graft AsofJoin: no column '$n' in ${p.output.map(_.name)}"))
    org.apache.spark.sql.graft.bridge.ofRows(left.sparkSession,
        AsofJoinPlan(l, r, attr(l, key), attr(r, key + sfx),
          attr(l, ts), attr(r, ts + sfx),
          rightPayload.map(p => attr(r, p + sfx)),
          direction, toleranceUs))
      .select(left.columns.map(col) ++
        rightPayload.map(p => col(p + sfx).as(p)): _*)
  }
}

/** Logical ASOF node: resolved by construction (built from analyzed
  * children and their own attributes). */
case class AsofJoinPlan(left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression,
    payload: Seq[Attribute],
    direction: String = "backward",
    toleranceUs: Option[Long] = None) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsofJoinPlan]] as [[AsofJoinExec]]. */
object AsofStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinPlan(l, r, lk, rk, lt, rt, p, d, tol) =>
      AsofJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, p, d,
        tol) :: Nil
    case _ => Nil
  }
}

/** Physical sort-merge ASOF join: one forward pass per co-partitioned,
  * (key, ts)-sorted partition pair; cursor state is one copied payload
  * row. */
case class AsofJoinExec(left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression,
    payload: Seq[Attribute],
    direction: String = "backward",
    toleranceUs: Option[Long] = None) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil) ::
      ClusteredDistribution(rightKey :: Nil) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override def outputPartitioning = left.outputPartitioning

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)

  /** Values evaluated off a reused cursor row must not alias its
    * buffer once the cursor advances. */
  private def own(v: Any): Any = v match {
    case s: UTF8String => s.copy()
    case other => other
  }

  /** Null keys/timestamps are UNMATCHABLE (SQL equality semantics): a
    * null-key/ts right row can never be anyone's partner and is
    * skipped; a null-key/ts left row emits the null payload. Explicit,
    * because the naive path would silently unbox null to 0L/compare a
    * null UTF8String — either wrong answers or an NPE — and the
    * composed union+window form instead CO-GROUPS nulls (a window
    * partition of their own), which is not join semantics either; the
    * divergence is this documented rule. */
  private def isNullAt(e: Expression, row: InternalRow): Boolean =
    e.eval(row) == null

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeyB = BindReferences.bindReference(leftKey, left.output)
    val rKeyB = BindReferences.bindReference(rightKey, right.output)
    val lTsB = BindReferences.bindReference(leftTs, left.output)
    val rTsB = BindReferences.bindReference(rightTs, right.output)
    val keyOrd = org.apache.spark.sql.graft.bridge
      .orderingFor(leftKey.dataType)
    val payloadAttrs = payload
    val rightOut = right.output
    val fwdEnabled = direction != "backward"
    val bwdEnabled = direction != "forward"
    val tol = toleranceUs.getOrElse(Long.MaxValue)
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val payloadProj = UnsafeProjection.create(payloadAttrs, rightOut)
      val rBuf = rIter.buffered
      val joined = new JoinedRow
      val nullRow = new GenericInternalRow(payloadAttrs.length)
      var heldKey: Any = null
      var held: InternalRow = null
      var heldTs: Long = 0L
      lIter.map { l =>
        val lk = lKeyB.eval(l)
        if (lk == null || isNullAt(lTsB, l)) joined(l, nullRow): InternalRow
        else {
          val lt = lTsB.eval(l).asInstanceOf[Long]
          var scan = true
          while (scan && rBuf.hasNext) {
            val r = rBuf.head
            val rk = rKeyB.eval(r)
            if (rk == null || isNullAt(rTsB, r)) rBuf.next() // unmatchable
            else {
              val cmp = keyOrd.compare(rk, lk)
              if (cmp < 0) rBuf.next() // stale key: cursor past it, drop
              else if (cmp == 0) {
                val rts = rTsB.eval(r).asInstanceOf[Long]
                if (rts <= lt) {
                  if (bwdEnabled) { // forward-only never reads the hold
                    held = payloadProj(r).copy()
                    heldKey = own(rk)
                    heldTs = rts
                  }
                  rBuf.next()
                } else scan = false
              } else scan = false
            }
          }
          // backward candidate: the hold, if it is this key's and in
          // tolerance (distance arithmetic is exact: rts <= lt here)
          val bOk = bwdEnabled && held != null &&
            keyOrd.compare(heldKey, lk) == 0 && lt - heldTs <= tol
          // forward candidate: PEEK the head, never consume — the same
          // row may be a later left's backward partner (the loop above
          // absorbs it once lt passes its ts). Strictly after: a right
          // at exactly lt is backward, matching the composed form's
          // union tag order.
          var fRow: InternalRow = null
          var fd = 0L
          if (fwdEnabled && rBuf.hasNext) {
            val r = rBuf.head
            val rk = rKeyB.eval(r)
            if (rk != null && !isNullAt(rTsB, r) &&
                keyOrd.compare(rk, lk) == 0) {
              val rts = rTsB.eval(r).asInstanceOf[Long]
              if (rts - lt <= tol) { fRow = r; fd = rts - lt }
            }
          }
          // backward wins distance ties (bd <= fd) — the
          // TemporalJoins.nearest rule
          val p =
            if (bOk && (fRow == null || lt - heldTs <= fd)) held
            else if (fRow != null) payloadProj(fRow).copy()
            else nullRow
          joined(l, p): InternalRow
        }
      }
    }
  }
}
