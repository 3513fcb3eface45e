package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute,
  BindReferences, Expression, JoinedRow, SortOrder, UnsafeProjection,
  UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan,
  SparkStrategy}

/** Native interval-overlap join — the library's SECOND whole-operator
  * extension (tier (c): custom `LogicalPlan` + `SparkStrategy` +
  * physical `SparkPlan`), proving the [[AsofJoin]] machinery
  * generalizes. For every (left, right) pair of the same key whose
  * CLOSED intervals intersect (`l.start <= r.end && r.start <= l.end`),
  * emit the left row plus the right payload — the
  * [[graft.operators.TemporalJoins.overlap]] contract, which remains
  * the tier-(a) form and its differential baseline.
  *
  * Why a physical operator where the binned equi-join answers
  * correctly: the composed plan EXPLODES both sides by time bin (rows
  * multiply by span/bin), shuffles the exploded frames, and needs the
  * max-start-bin rule to de-duplicate pairs that share several bins —
  * and its cost carries a tuning knob (bin width) that must be re-fit
  * whenever span distributions drift. The plane sweep this node plans
  * does ONE merge pass per co-partitioned (key, start)-sorted partition
  * pair: each arriving row pairs with the opposite side's ACTIVE list
  * (evicting intervals whose end precedes the new start — they can
  * never match again, every future start is no smaller), so each true
  * pair is emitted exactly once at its LATER endpoint's arrival, no
  * explosion, no dedup, no knob. Memory per key is the true interval
  * concurrency — the same quantity that lower-bounds the output itself
  * (q161 measures exactly it); a key where everything overlaps
  * materializes its rows, which any algorithm emitting those |n|²
  * pairs must pay anyway.
  *
  * Catalyst integration mirrors AsofJoinExec: clustered distribution +
  * per-side (key, start) ordering, so EnsureRequirements plants the
  * SortMergeJoin-shaped exchanges (AQE included). Null keys or bounds
  * are UNMATCHABLE and dropped (inner-join semantics). Start/end must
  * be LONG-backed (epoch-µs); an inverted interval (end < start)
  * matches exactly what the raw inequality says it matches — rows
  * whose start precedes its end AND whose end reaches its start —
  * identical to the tier-(a) binned form and to a SQL self-join
  * oracle, and the spec pins the three-way agreement on randomized
  * data CONTAINING inverted rows.
  */
object OverlapJoin {

  /** Declarative surface: left's columns plus `rightPayload` for every
    * overlapping same-key pair. [[OverlapStrategy]] plans the node; it
    * is installed with [[GraftExtensions]] — a session that graft does
    * not build gets graft with `spark.sql.extensions=graft.plans.GraftExtensions`. */
  def join(left: DataFrame, right: DataFrame, key: String,
      lStart: String, lEnd: String, rStart: String, rEnd: String,
      rightPayload: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    // the AsofJoin self-join hazard: shared exprIds between children let
    // the optimizer prune "already provided" attributes off the right
    // child — re-alias the right side under reserved names
    val sfx = "__ovl_r"
    val r2 = right.select(right.columns.map(c => col(c).as(c + sfx)): _*)
    val l = left.queryExecution.analyzed
    val r = r2.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"graft OverlapJoin: no column '$n' in ${p.output.map(_.name)}"))
    org.apache.spark.sql.graft.bridge.ofRows(left.sparkSession,
        OverlapJoinPlan(l, r, attr(l, key), attr(r, key + sfx),
          attr(l, lStart), attr(l, lEnd),
          attr(r, rStart + sfx), attr(r, rEnd + sfx),
          rightPayload.map(p => attr(r, p + sfx))))
      .select(left.columns.map(col) ++
        rightPayload.map(p => col(p + sfx).as(p)): _*)
  }
}

/** Logical overlap-join node: resolved by construction. */
case class OverlapJoinPlan(left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftStart: Expression, leftEnd: Expression,
    rightStart: Expression, rightEnd: Expression,
    payload: Seq[Attribute]) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ payload
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): OverlapJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[OverlapJoinPlan]] as [[OverlapJoinExec]]. */
object OverlapStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case OverlapJoinPlan(l, r, lk, rk, ls, le, rs, re, p) =>
      OverlapJoinExec(planLater(l), planLater(r), lk, rk, ls, le, rs, re,
        p) :: Nil
    case _ => Nil
  }
}

/** Physical plane-sweep overlap join: one merge pass per co-partitioned,
  * (key, start)-sorted partition pair; state per key is the two active
  * interval lists (bounded by true concurrency). */
case class OverlapJoinExec(left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftStart: Expression, leftEnd: Expression,
    rightStart: Expression, rightEnd: Expression,
    payload: Seq[Attribute]) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ payload

  // maxActive SUMS each task's peak (activeL + activeR) length, so with
  // a single partition it IS the operator's peak state — the documented
  // "memory per key = true interval concurrency" bound made observable
  // (OverlapJoinSpec pins it on a skewed one-sided key, where losing
  // same-side eviction would grow it to the row count)
  override lazy val metrics = Map(
    "maxActive" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "peak buffered intervals (per-task peaks summed)"))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil) ::
      ClusteredDistribution(rightKey :: Nil) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(
      Seq(SortOrder(leftKey, Ascending), SortOrder(leftStart, Ascending)),
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightStart, Ascending)))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): OverlapJoinExec =
    copy(left = newLeft, right = newRight)

  /** A buffered active interval: owned (copied) row + its bounds. */
  private final class Active(val row: InternalRow, val start: Long,
    val end: Long)

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeyB = BindReferences.bindReference(leftKey, left.output)
    val rKeyB = BindReferences.bindReference(rightKey, right.output)
    val lsB = BindReferences.bindReference(leftStart, left.output)
    val leB = BindReferences.bindReference(leftEnd, left.output)
    val rsB = BindReferences.bindReference(rightStart, right.output)
    val reB = BindReferences.bindReference(rightEnd, right.output)
    val keyOrd = org.apache.spark.sql.graft.bridge
      .orderingFor(leftKey.dataType)
    val payloadAttrs = payload
    val rightOut = right.output
    val maxActive = longMetric("maxActive")
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val payloadProj = UnsafeProjection.create(payloadAttrs, rightOut)
      val lBuf = lIter.buffered
      val rBuf = rIter.buffered
      // active lists hold OWNED rows: left rows full-width, right rows
      // already projected to the payload (the narrower the better — the
      // active list is the operator's only state)
      val activeL = new scala.collection.mutable.ArrayBuffer[Active]
      val activeR = new scala.collection.mutable.ArrayBuffer[Active]
      var curKey: Any = null
      var haveKey = false
      var taskPeak = 0
      def notePeak(): Unit = {
        val n = activeL.length + activeR.length
        if (n > taskPeak) { maxActive.add(n - taskPeak); taskPeak = n }
      }
      val joined = new JoinedRow
      val out = new scala.collection.mutable.ArrayDeque[InternalRow]

      def evict(buf: scala.collection.mutable.ArrayBuffer[Active],
          start: Long): Unit =
        buf.filterInPlace(_.end >= start) // one compacting pass

      // null key/bounds rows are unmatchable; returns the key or null
      def rowKey(keyB: Expression, sB: Expression, eB: Expression,
          row: InternalRow): Any = {
        val k = keyB.eval(row)
        if (k == null || sB.eval(row) == null || eB.eval(row) == null) null
        else k
      }

      def keyChange(k: Any): Unit = {
        if (!haveKey || keyOrd.compare(k, curKey) != 0) {
          activeL.clear(); activeR.clear()
          // own the stored key: a UTF8String evaluated off an UnsafeRow
          // points into a buffer the sorter reuses (and overwrites on
          // spill) as the cursor advances — the AsofJoinExec own() hazard
          curKey = k match {
            case u: org.apache.spark.unsafe.types.UTF8String => u.copy()
            case other => other
          }
          haveKey = true
        }
      }

      def own(row: InternalRow): InternalRow = row match {
        case u: UnsafeRow => u.copy()
        case other => other.copy()
      }

      def processLeft(): Unit = {
        val row = lBuf.next()
        val k = rowKey(lKeyB, lsB, leB, row)
        if (k != null) {
          keyChange(k)
          val s = lsB.eval(row).asInstanceOf[Long]
          val e = leB.eval(row).asInstanceOf[Long]
          // evict BOTH lists on every arrival: merged (key, start) order
          // guarantees every future start (either side) is >= s, so a
          // same-side interval with end < s is equally dead — without
          // this, a key with many left rows and few right arrivals
          // buffers every left interval and per-key memory is bounded by
          // row count, not the documented true interval concurrency
          evict(activeR, s)
          evict(activeL, s)
          val owned = own(row)
          var i = 0
          while (i < activeR.length) {
            val r = activeR(i)
            // r.end >= s by eviction; r.start <= e is the remaining
            // check — and it is the WHOLE remaining check even for an
            // inverted interval (e < s), matching the raw inequality
            if (r.start <= e) out.append(new JoinedRow(owned, r.row))
            i += 1
          }
          // an inverted interval can never match a FUTURE row (its
          // start >= s > e forbids f.start <= e), so it joins the
          // active list only when valid
          if (e >= s) { activeL += new Active(owned, s, e); notePeak() }
        }
      }

      def processRight(): Unit = {
        val row = rBuf.next()
        val k = rowKey(rKeyB, rsB, reB, row)
        if (k != null) {
          keyChange(k)
          val s = rsB.eval(row).asInstanceOf[Long]
          val e = reB.eval(row).asInstanceOf[Long]
          evict(activeL, s)
          evict(activeR, s) // same-side eviction — see processLeft
          val proj = payloadProj(row).copy()
          var i = 0
          while (i < activeL.length) {
            val l = activeL(i)
            if (l.start <= e) out.append(new JoinedRow(l.row, proj))
            i += 1
          }
          if (e >= s) { activeR += new Active(proj, s, e); notePeak() }
        }
      }

      // merged (key, start) order across both sides; on full ties the
      // side choice is irrelevant (pairing happens at the LATER arrival,
      // and inclusive bounds make both orders emit the same pair once)
      def cmpHeads(): Int = {
        val l = lBuf.head; val r = rBuf.head
        val lk = lKeyB.eval(l); val rk = rKeyB.eval(r)
        // null keys sort wherever their side's sort put them; process
        // immediately (they drop inside process*)
        if (lk == null) return -1
        if (rk == null) return 1
        val c = keyOrd.compare(lk, rk)
        if (c != 0) c
        else {
          val ls = lsB.eval(l); val rs = rsB.eval(r)
          if (ls == null) return -1
          if (rs == null) return 1
          java.lang.Long.compare(ls.asInstanceOf[Long],
            rs.asInstanceOf[Long])
        }
      }

      new Iterator[InternalRow] {
        override def hasNext: Boolean = {
          while (out.isEmpty && (lBuf.hasNext || rBuf.hasNext)) {
            if (!rBuf.hasNext) processLeft()
            else if (!lBuf.hasNext) processRight()
            else if (cmpHeads() <= 0) processLeft()
            else processRight()
          }
          out.nonEmpty
        }
        override def next(): InternalRow = out.removeHead()
      }
    }
  }
}
