package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** DataStream-flavored facade over Spark Datasets — the reference's public
  * API surface (SURVEY §2.1–2.5) re-expressed Spark-first.
  *
  * Reference shape: `DataStream<T>` = lazy transformation DAG over an
  * unbounded stream (`streaming/api/datastream/DataStream.java:42-56` in
  * /root/reference). Here the DAG is the Dataset logical plan: `map/flatMap/
  * filter` declare Catalyst nodes, chaining/fusion is WholeStageCodegen, the
  * shuffle behind `keyBy` is `HashPartitioning` — none of the reference's
  * runtime layers (StreamGraph/JobGraph/MiniCluster/mailbox, SURVEY §3) are
  * reimplemented because Spark provides them.
  *
  * The same facade fronts bounded (batch `Dataset`) and unbounded
  * (Structured Streaming) plans — `isStreaming` on the underlying Dataset
  * decides how terminal ops execute, mirroring how the reference runs its
  * one API over finite `fromElements` and infinite `addSource` inputs.
  */
final class GStream[T](val ds: Dataset[T], val bufferTimeoutMs: Long = -1L) {

  /** ≙ SingleOutputStreamOperator.setBufferTimeout (SingleOutputStream
    * Operator.java:102; default 100 ms, StreamExecutionEnvironment.
    * java:41,61) — the reference's latency/throughput knob: how long an
    * output buffer may sit before flushing downstream. Spark's
    * micro-batch analogue is the trigger interval, so the value recorded
    * here becomes `Trigger.ProcessingTime(ms)` on queries this facade
    * starts ([[print]]/[[addSink]]); -1 restores the engine default
    * (run batches as fast as they fill — the reference's timeout=0
    * spirit). The setting travels through downstream transformations
    * (map/filter/keyBy/…) to whichever facade sink ends the chain —
    * chaining must not silently drop a latency setting. */
  def setBufferTimeout(ms: Long): GStream[T] = new GStream(ds, ms)

  private def triggered(w: org.apache.spark.sql.streaming.DataStreamWriter[T])
      : org.apache.spark.sql.streaming.DataStreamWriter[T] =
    if (bufferTimeoutMs >= 0)
      w.trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime(bufferTimeoutMs))
    else w

  /** Derived stream: the transformation result CARRIES this handle's
    * buffer timeout — chaining map/filter/... between setBufferTimeout
    * and the sink must not silently drop the latency setting. */
  private def derive[R](d: Dataset[R]): GStream[R] =
    new GStream(d, bufferTimeoutMs)

  /** 1→1 transform ≙ DataStream.map (DataStream.java:136-146). */
  def map[R: Encoder](f: T => R): GStream[R] = derive(ds.map(f))

  /** 1→N transform ≙ DataStream.flatMap (DataStream.java:148-159). */
  def flatMap[R: Encoder](f: T => IterableOnce[R]): GStream[R] =
    derive(ds.flatMap(f(_).iterator))

  /** Predicate keep/drop ≙ DataStream.filter (DataStream.java:161-180). */
  def filter(p: T => Boolean): GStream[T] = derive(ds.filter(p))

  /** Hash-repartition by a key function ≙ keyBy (KeyedStream.java:61-88).
    * Keys are functions, not columns, exactly like the reference's
    * KeySelector (SURVEY §1.4); Spark's HashPartitioning replaces the
    * murmur key-group scheme — no 128-group indirection is replicated
    * because Spark state rescales per shuffle partition. */
  def keyBy[K: Encoder](f: T => K)(implicit et: Encoder[T]): KeyedGStream[K, T] =
    new KeyedGStream(ds, ds.groupByKey(f), f, bufferTimeoutMs)

  /** ≙ DataStream.union — same-type stream merge (SURVEY §2.7). */
  def union(other: GStream[T]): GStream[T] = derive(ds.union(other.ds))

  /** Engine-managed streaming deduplication within the event-time
    * horizon (`Dataset.dropDuplicatesWithinWatermark`, Spark 3.5+):
    * keeps the first arrival per `cols` tuple and drops re-arrivals
    * until the watermark passes the kept row's event time — the
    * at-least-once-source → effectively-once cleanup, with state the
    * engine itself expires (unlike plain dropDuplicates on a stream,
    * whose key set grows forever). The hand-built content twin
    * (IncrementalDedup's MinHash machine) dedups by SIMILARITY; this
    * is its exact-identity engine-native counterpart, the same
    * native-vs-hand-built pairing as IncrementalSessions /
    * session_window. Caller must have a watermark on the stream
    * (withWatermark upstream); batch datasets fall back to plain
    * dropDuplicates semantics. */
  def deduplicateWithinWatermark(cols: Seq[String]): GStream[T] =
    derive(if (ds.isStreaming) ds.dropDuplicatesWithinWatermark(cols)
      else ds.dropDuplicates(cols))

  /** ≙ connect + CoMapFunction (cut from the reference, SURVEY §2.7):
    * two differently-typed streams mapped into one output type, then
    * merged. Spark has no binary operator node for this; mapping each
    * side and unioning is plan-equivalent (both sides stay narrow). */
  def connect[B](other: GStream[B]): ConnectedGStreams[T, B] =
    new ConnectedGStreams(ds, other.ds, bufferTimeoutMs)

  /** ≙ event-time enablement: assign watermarked event time to a field
    * (the reference's collectWithTimestamp/emitWatermark path is a no-op
    * stub — StreamSourceContexts.java:74-93; Structured Streaming's
    * `withWatermark` restores it). */
  def withWatermark(eventTimeCol: String, delay: String): GStream[T] =
    derive(ds.withWatermark(eventTimeCol, delay))

  /** ≙ SingleOutputStreamOperator.name (SingleOutputStreamOperator.
    * java:37): attach a display name to the operator. Spark-first shape:
    * a SubqueryAlias plan node — visible in explain()/UI, a no-op for
    * execution, exactly the reference's "names show in logs/UI" role. */
  def name(n: String): GStream[T] = derive(ds.alias(n))

  /** Explicit-Encoder escape hatch ≙ map(f, TypeInformation)
    * (DataStream.java:144): for types the implicit derivation can't
    * reach (the reference's MissingTypeInfo path). Distinct name — an
    * overload of [[map]] erases to the same signature. */
  def mapTyped[R](f: T => R, enc: Encoder[R]): GStream[R] =
    derive(ds.map(f)(enc))

  /** Explicit-Encoder flatMap ≙ flatMap(f, TypeInformation). */
  def flatMapTyped[R](f: T => IterableOnce[R], enc: Encoder[R]): GStream[R] =
    derive(ds.flatMap(f(_).iterator)(enc))

  /** ≙ partitionCustom(Partitioner, keySelector) (DataStream.java /
    * api/common/functions/Partitioner.java — dead code in the reference:
    * no caller survives the prune). Spark's declarative engine does not
    * expose slot-level placement, so this drops to the RDD layer: the
    * user function picks the exact partition index per record.
    * Batch-only (an RDD round-trip; streaming plans should use
    * [[keyBy]]/[[rebalance]], as all live reference code does). */
  def partitionCustom(pf: (T, Int) => Int, n: Int)(
      implicit et: Encoder[T]): GStream[T] = {
    val part = new org.apache.spark.Partitioner {
      def numPartitions: Int = n
      def getPartition(key: Any): Int =
        ((key.asInstanceOf[Int] % n) + n) % n
    }
    implicit val ct: scala.reflect.ClassTag[T] = et.clsTag
    val rdd = ds.rdd.map(t => (pf(t, n), t)).partitionBy(part).values
    derive(ds.sparkSession.createDataset(rdd))
  }

  /** Round-robin redistribution ≙ rebalance (RebalancePartitioner.java). */
  def rebalance(n: Int): GStream[T] = derive(ds.repartition(n))

  /** ≙ SingleOutputStreamOperator.setParallelism — in Spark, parallelism
    * is the partition count of the stage. */
  def setParallelism(n: Int): GStream[T] = rebalance(n)

  /** ≙ print() sink (PrintSinkFunction.java:40-86): batch → show all rows;
    * streaming → console sink per microbatch. Update mode: the facade's
    * keyed operators (reduce/minBy/maxBy/process) emit update-mode
    * changelogs, which an Append-mode sink would reject at start();
    * Update is also valid for plain projections. */
  def print(): Unit =
    if (ds.isStreaming)
      triggered(ds.writeStream.format("console").outputMode(OutputMode.Update))
        .start()
    else ds.show(Int.MaxValue, truncate = false)

  /** ≙ print(sinkIdentifier) (DataStream.java:201): prefix every printed
    * record with the identifier. Like the reference's PrintSinkFunction
    * the line is emitted from the task that produced it (per-subtask
    * stdout), not routed through the driver. */
  def print(sinkIdentifier: String): Unit = {
    val prefix = sinkIdentifier + "> "
    if (ds.isStreaming) {
      triggered(ds.writeStream.outputMode(OutputMode.Update)
        .foreach(new org.apache.spark.sql.ForeachWriter[T] {
          def open(partitionId: Long, epochId: Long): Boolean = true
          // System.out directly: resolved per call, so redirection
          // (tests, containers capturing task stdout) is honored
          def process(value: T): Unit = System.out.println(prefix + value)
          def close(errorOrNull: Throwable): Unit = ()
        })).start()
    } else ds.foreach((t: T) => System.out.println(prefix + t))
  }

  /** ≙ addSink(SinkFunction): per-element terminal callback
    * (SinkFunction.java:31-79). Batch foreach; streaming callers use the
    * [[addSink(writer:* ForeachWriter overload]]. */
  def addSink(f: T => Unit): Unit = ds.foreach(f(_))

  /** ≙ addSink(RichSinkFunction) with open/invoke/close lifecycle
    * (SinkFunction.java + AbstractRichFunction): Spark's ForeachWriter
    * IS that contract (open per partition/epoch, process per record,
    * close with the failure cause). Streaming → a started foreach-sink
    * query (returned for await/stop); batch → the same writer driven
    * once per partition, Flink-batch-style. */
  def addSink(writer: org.apache.spark.sql.ForeachWriter[T])
      : Option[org.apache.spark.sql.streaming.StreamingQuery] =
    if (ds.isStreaming)
      Some(triggered(ds.writeStream.outputMode(OutputMode.Update)
        .foreach(writer)).start())
    else {
      ds.foreachPartition { (it: Iterator[T]) =>
        val pid = Option(org.apache.spark.TaskContext.get())
          .map(_.partitionId()).getOrElse(0)
        if (writer.open(pid.toLong, 0L)) {
          // exactly one close per open: a close(null) that itself throws
          // must not be followed by a second close(e) from the catch
          try it.foreach(writer.process)
          catch { case e: Throwable => writer.close(e); throw e }
          writer.close(null)
        } else writer.close(null)
      }
      None
    }

  /** Escape hatch ≙ DataStream.transform (DataStream.java:225-284): attach
    * arbitrary per-partition logic. Catalyst sees an opaque node, so use
    * only where declarative ops genuinely can't express the semantics. */
  def transform[R: Encoder](f: Iterator[T] => Iterator[R]): GStream[R] =
    derive(ds.mapPartitions(f))

  /** ≙ RichMapFunction lifecycle (RichFunction.open/close,
    * `api/common/functions/AbstractRichFunction.java`): `open` runs once
    * per partition before the first record (connection setup, model
    * load), `close` after the last. Spark-first shape: a mapPartitions
    * whose setup cost amortizes across the partition — the same reason
    * the reference scopes rich lifecycle per subtask, not per record. */
  def mapRich[C, R: Encoder](open: () => C)(f: (C, T) => R)(
      close: C => Unit = (_: C) => ()): GStream[R] =
    derive(ds.mapPartitions { it =>
      val ctx = open()
      // close exactly once, and also on partial consumption / failure:
      // the task completion listener covers limit()/take()/exceptions,
      // the once-flag makes repeated hasNext probes after exhaustion
      // safe. (A val closure, not a local def: a def would lift to a
      // GStream method and drag non-serializable `this` into the task.)
      val closed = new java.util.concurrent.atomic.AtomicBoolean(false)
      val closeOnce: () => Unit =
        () => if (closed.compareAndSet(false, true)) close(ctx)
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => closeOnce()))
      new Iterator[R] {
        def hasNext: Boolean = {
          val h = it.hasNext
          if (!h) closeOnce()
          h
        }
        def next(): R = f(ctx, it.next())
      }
    })

  /** ≙ DataStream.iterate (cut from the pruned reference; full Flink
    * feeds records back through the loop until none re-enter). Spark's
    * DAG engine has no cyclic dataflow, so the facade offers the batch
    * fixed-point shape — repeatedly apply `step` until `converged` says
    * stop (or `maxIter` is hit, loudly, the ConnectedComponents
    * posture), truncating lineage every round so plans don't grow with
    * the iteration count. This is the pattern the repo's own iterative
    * operator (graft.operators.ConnectedComponents) uses, exposed on
    * the facade. Batch-only: streaming iteration needs a feedback edge
    * Structured Streaming does not have.
    *
    * @param converged (previous, next) => stop? — called once per round */
  def iterate(maxIter: Int)(step: GStream[T] => GStream[T])(
      converged: (GStream[T], GStream[T]) => Boolean): GStream[T] = {
    require(!ds.isStreaming, "iterate is batch-only (no feedback edge in SS)")
    var cur = derive(ds.localCheckpoint())
    var it = 0
    while (it < maxIter) {
      val next = derive(step(cur).ds.localCheckpoint())
      if (converged(cur, next)) return next
      cur = next
      it += 1
    }
    throw new IllegalStateException(
      s"iterate did not converge within $maxIter rounds; raise maxIter")
  }

  /** ≙ side outputs (OutputTag, Plumbing — SURVEY §2.6): Spark has no
    * in-band side channel, so the facade codifies the standard two-filter
    * fan-out. LAZY: each branch re-derives from the input, so a branch
    * over a bare scan keeps predicate pushdown and column pruning (the
    * re-scan is often cheaper than materializing), but an N-way split of
    * an EXPENSIVE upstream recomputes it N times — use
    * [[sideOutputScoped]] (batch) or [[sideOutputForeach]] (streaming)
    * for the reference's one-pass emission (`OperatorChain.java:458-466`,
    * `ChainingOutput.collect(outputTag, ...)`). Returns (matching, rest). */
  def sideOutput(pred: T => Boolean): (GStream[T], GStream[T]) =
    (derive(ds.filter(pred)), derive(ds.filter((t: T) => !pred(t))))

  /** One-pass side output, batch: the upstream is persisted ONCE, both
    * branches materialize from the cached blocks inside `use`, and the
    * cache is released afterwards (scoped, like Dedup.withScratch — no
    * block-manager residue escapes). The upstream computation runs
    * exactly once no matter how many actions the branches run —
    * TypesAndLifecycleSpec pins this with a source accumulator. */
  def sideOutputScoped[R](pred: T => Boolean)(
      use: (GStream[T], GStream[T]) => R): R = {
    require(!ds.isStreaming,
      "sideOutputScoped is batch-only; streaming splits use sideOutputForeach")
    // respect a caller-established cache: persisting again would be a
    // no-op, but unpersisting in finally would drop THEIR cache entry
    val callerCached = ds.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val cached =
      if (callerCached) ds
      else ds.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try use(derive(cached.filter(pred)),
      derive(cached.filter((t: T) => !pred(t))))
    finally if (!callerCached) cached.unpersist(blocking = false)
  }

  /** One-pass side output, streaming: a foreachBatch dual-writer — each
    * micro-batch is computed once, persisted, routed to both sinks, and
    * released. Returns the configured writer; the caller sets
    * checkpointing/trigger and starts it. */
  def sideOutputForeach(pred: T => Boolean)(
      matchSink: Dataset[T] => Unit, restSink: Dataset[T] => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[T] =
    ds.writeStream.foreachBatch { (batch: Dataset[T], _: Long) =>
      val c = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try { matchSink(c.filter(pred)); restSink(c.filter((t: T) => !pred(t))) }
      finally c.unpersist(blocking = false)
    }

  /** ≙ the broadcast state pattern (Flink 1.11 `connect(BroadcastStream)`
    * + `BroadcastProcessFunction` — cut from the reference like the rest
    * of §2.7): enrich a stream against a SLOWLY CHANGING dimension that
    * refreshes while the query runs. Spark shape: the dimension is
    * reloaded at every micro-batch boundary (a fresh `loadDim` read — a
    * plain stream-static join would freeze the file listing at plan
    * time) and handed to `process` broadcast-hinted, so the enrichment
    * join never shuffles the stream side. Updates become visible at the
    * NEXT micro-batch — the same refresh granularity Flink's broadcast
    * stream gives between checkpoints. Returns the configured writer;
    * the caller sets checkpointing/trigger and starts it. */
  def connectBroadcast(loadDim: SparkSession => DataFrame)(
      process: (Dataset[T], DataFrame) => DataFrame)(
      sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[T] =
    ds.writeStream.foreachBatch { (batch: Dataset[T], _: Long) =>
      sink(process(batch, broadcast(loadDim(batch.sparkSession))))
    }

  def toDataset: Dataset[T] = ds
}

/** Keyed stream ≙ KeyedStream<T,K> (KeyedStream.java:42-88): gates keyed
  * state + keyed aggregation. Wraps KeyValueGroupedDataset.
  */
final class KeyedGStream[K, T](
    private val input: Dataset[T],
    val grouped: org.apache.spark.sql.KeyValueGroupedDataset[K, T],
    val keyFn: T => K,
    val bufferTimeoutMs: Long = -1L)(implicit ek: Encoder[K], et: Encoder[T]) {

  // results keep carrying the upstream setBufferTimeout through keyBy
  private def derive[R](d: Dataset[R]): GStream[R] =
    new GStream(d, bufferTimeoutMs)

  /** Keyed reduce with the reference's semantics
    * (StreamGroupedReduce.java:35-55): fold each record into per-key state
    * and emit the updated aggregate *per input record* (update-mode
    * changelog output).
    *
    * Batch: only the final per-key value is observable downstream in the
    * reference too (its sinks see the last update win), so this delegates
    * to `reduceGroups` — a partial-aggregating, shuffle-once plan.
    *
    * Streaming: `flatMapGroupsWithState` in Update mode with a per-key
    * `ValueState` (`GroupState[T]`), emitting every intermediate fold —
    * one output per input record, in arrival order within the group, the
    * exact emission sequence of the reference (SURVEY §7.4). */
  def reduce(f: (T, T) => T): GStream[T] =
    if (input.isStreaming) {
      val step = (_: K, it: Iterator[T], state: GroupState[T]) => {
        var acc = state.getOption
        val out = it.map { v =>
          acc = Some(acc.fold(v)(f(_, v)))
          state.update(acc.get)
          acc.get
        }
        out
      }
      derive(grouped.flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.NoTimeout)(step))
    } else {
      derive(grouped.reduceGroups(f).map(_._2))
    }

  /** Running sum ≙ KeyedStream sum machinery (SumAggregator.java /
    * SumFunction.java, dead code in the reference — SURVEY §2.3 —
    * restored here). The caller supplies the merge that adds the summed
    * field and carries the record (replacing the reference's reflective
    * FieldAccessor): `sumBy((a, b) => a.copy(n = a.n + b.n))`. Delegates
    * to [[reduce]], so the update-mode emission semantics carry over. */
  def sumBy(merge: (T, T) => T): GStream[T] = reduce(merge)

  /** ≙ ComparableAggregator MIN/MINBY: keep the element whose projection
    * is smallest (minBy keeps the whole record, like the reference). */
  def minBy[C: Ordering](sel: T => C): GStream[T] =
    reduce((a, b) => if (Ordering[C].lteq(sel(a), sel(b))) a else b)

  /** ≙ ComparableAggregator MAX/MAXBY. */
  def maxBy[C: Ordering](sel: T => C): GStream[T] =
    reduce((a, b) => if (Ordering[C].gteq(sel(a), sel(b))) a else b)

  /** ≙ KeyedProcessFunction (KeyedProcessFunction.java:52-125): per-record
    * processing with per-key ValueState and a timer. Spark mapping: keyed
    * state = `GroupState[S]`; processing-time timer = `GroupStateTimeout.
    * ProcessingTimeTimeout`, event-time timer = `EventTimeTimeout` (input
    * must carry a watermark — [[GStream.withWatermark]]) — `onTimer`
    * fires when the key times out, the same callback contract as the
    * reference's timer service (InternalTimerServiceImpl.java:183-216:
    * onProcessingTime / advanceWatermark).
    *
    * Streaming-only (the reference's process functions are inherently
    * stateful-streaming; batch callers use map/mapPartitions). */
  /** Modern stateful-processing path ≙ the same KeyedProcessFunction
    * surface on Spark 4's transformWithState: ValueState/ListState/
    * MapState handles, multiple named timers per key, native TTL —
    * a 1:1 match for the reference's state+timer plumbing (SURVEY §2.6).
    * Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`). */
  def transformWithState[O: Encoder](
      processor: org.apache.spark.sql.streaming.StatefulProcessor[K, T, O],
      timeMode: org.apache.spark.sql.streaming.TimeMode,
      outputMode: OutputMode): GStream[O] =
    derive(grouped.transformWithState(processor, timeMode, outputMode))

  /** ≙ coGroup (cut from the reference's prune — full Flink's
    * DataStream.coGroup): per-key combination of two keyed streams with
    * access to BOTH full groups. Spark-first: KeyValueGroupedDataset
    * .cogroup — one co-partitioned shuffle of each side on the shared
    * key, no materialized join product. Batch-shaped (group iterators
    * are bounded); streams should use interval joins or process(). */
  def cogroup[U, R: Encoder](other: KeyedGStream[K, U])(
      f: (K, Iterator[T], Iterator[U]) => IterableOnce[R]): GStream[R] =
    derive(grouped.cogroup(other.grouped)(
      (k, as, bs) => f(k, as, bs).iterator))

  def process[S: Encoder, O: Encoder](
      pf: KeyedProcess[K, T, S, O],
      timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout)
      : GStream[O] = {
    val step = (key: K, it: Iterator[T], state: GroupState[S]) => {
      if (state.hasTimedOut) {
        // materialize BEFORE any state op so a lazy onTimer iterator
        // still sees the state it read; then clear the key ONLY if the
        // callback left it untouched — the reference's contract lets
        // onTimer keep state and re-arm its timer (periodic flush).
        val ctx = Ctx(state)
        val out = pf.onTimer(key, ctx).iterator.toVector
        if (!ctx.touched) state.remove()
        out.iterator
      } else {
        val out = it.flatMap(v => pf.processElement(key, v, Ctx(state)))
        out
      }
    }
    derive(grouped.flatMapGroupsWithState(OutputMode.Update, timeout)(step))
  }

  /** Keyed side outputs ≙ emitting to an `OutputTag` from inside
    * `KeyedProcessFunction.processElement` (KeyedProcessFunction.
    * java:52-125 + flink-core OutputTag — `ctx.output(tag, value)`): a
    * stateful validator routes each record to the MAIN channel or an
    * exceptions channel from the same per-key state pass. The
    * processor's emissions are tagged (`Right` = main, `Left` = side);
    * the facade runs flatMapGroupsWithState ONCE over the keyed input
    * and hands back a [[TaggedGStream]] whose splits are plain
    * non-stateful filters over that single pass — never a second
    * stateful operator, never a recomputation of the state fold
    * (KeyedProcessSpec proves one-pass with a source accumulator).
    *
    * The combined encoder resolves from `spark.implicits._` at the call
    * site (`Option` is a Product, so the pair encoder is the ordinary
    * product encoder); missing channel slots are nulls in the carrier
    * tuple, which never escapes — the splits flatten them away. */
  def processTagged[S: Encoder, O, SIDE](
      pf: KeyedProcessTagged[K, T, S, O, SIDE],
      timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout)(
      implicit both: Encoder[(Option[O], Option[SIDE])],
      oe: Encoder[O], se: Encoder[SIDE]): TaggedGStream[O, SIDE] = {
    val toPair = (e: Either[SIDE, O]) =>
      e.fold(s => (Option.empty[O], Some(s)), o => (Some(o), Option.empty[SIDE]))
    val step = (key: K, it: Iterator[T], state: GroupState[S]) => {
      if (state.hasTimedOut) {
        val ctx = Ctx(state)
        val out = pf.onTimer(key, ctx).iterator.toVector
        if (!ctx.touched) state.remove()
        out.iterator.map(toPair)
      } else {
        it.flatMap(v => pf.processElement(key, v, Ctx(state)).iterator.map(toPair))
      }
    }
    new TaggedGStream(
      grouped.flatMapGroupsWithState(OutputMode.Update, timeout)(step),
      bufferTimeoutMs)
  }
}

/** The two channels of a [[KeyedGStream.processTagged]] pass, pending a
  * split. `main`/`side` are the LAZY branches (each action re-derives
  * the stateful pass — fine for one-branch consumption); `scoped` and
  * `foreach` are the ONE-PASS splits, mirroring the unkeyed
  * [[GStream.sideOutputScoped]]/[[GStream.sideOutputForeach]] doctrine:
  * the tagged union materializes once, both channels filter from it. */
final class TaggedGStream[O, SIDE](
    private val tagged: Dataset[(Option[O], Option[SIDE])],
    private val bufferTimeoutMs: Long)(
    implicit oe: Encoder[O], se: Encoder[SIDE]) {

  private def mainOf(d: Dataset[(Option[O], Option[SIDE])]): Dataset[O] =
    d.flatMap(_._1.iterator)
  private def sideOf(d: Dataset[(Option[O], Option[SIDE])]): Dataset[SIDE] =
    d.flatMap(_._2.iterator)

  /** Lazy main channel (re-runs the stateful pass per action). */
  def main: GStream[O] = new GStream(mainOf(tagged), bufferTimeoutMs)
  /** Lazy side channel (re-runs the stateful pass per action). */
  def side: GStream[SIDE] = new GStream(sideOf(tagged), bufferTimeoutMs)

  /** One-pass batch split: the tagged pass is persisted once, both
    * channels materialize from the cached blocks inside `use`, and the
    * cache is released afterwards (scoped — no block-manager residue). */
  def scoped[R](use: (GStream[O], GStream[SIDE]) => R): R = {
    require(!tagged.isStreaming,
      "scoped is batch-only; streaming splits use foreach")
    val cached = tagged
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try use(new GStream(mainOf(cached), bufferTimeoutMs),
      new GStream(sideOf(cached), bufferTimeoutMs))
    finally cached.unpersist(blocking = false)
  }

  /** One-pass streaming split: a foreachBatch dual-writer — each
    * micro-batch of the stateful pass is computed once, persisted,
    * routed to both sinks, released. Returns the configured writer;
    * the caller sets checkpointing/trigger and starts it. */
  def foreach(mainSink: Dataset[O] => Unit, sideSink: Dataset[SIDE] => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[(Option[O], Option[SIDE])] =
    tagged.writeStream.foreachBatch {
      (batch: Dataset[(Option[O], Option[SIDE])], _: Long) =>
        val c = batch
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try { mainSink(mainOf(c)); sideSink(sideOf(c)) }
        finally c.unpersist(blocking = false)
    }
}

/** Mutable per-key state + timer handle passed to [[KeyedProcess]] — the
  * facade's `ValueState` + `TimerService` (ValueState.java, TimerService.
  * java:39-59). */
final case class Ctx[S](gs: GroupState[S]) {
  /** Whether the user callback mutated state or re-armed a timer —
    * read by process()'s onTimer path to decide default cleanup. */
  private[streaming] var touched: Boolean = false
  def value: Option[S] = gs.getOption
  def update(s: S): Unit = { touched = true; gs.update(s) }
  def clear(): Unit = { touched = true; gs.remove() }
  /** Register a processing-time timer `delayMs` from now (per key; the
    * latest registration wins, like re-registering in the reference).
    * Requires the enclosing process() to use ProcessingTimeTimeout. */
  def registerTimer(delayMs: Long): Unit = {
    touched = true
    gs.setTimeoutDuration(delayMs)
  }
  /** Register an event-time timer at `tsMillis`: fires when the stream's
    * watermark passes it (≙ registerEventTimeTimer,
    * InternalTimerServiceImpl.java:169/206-216). Requires
    * EventTimeTimeout + a watermarked input. */
  def registerEventTimer(tsMillis: Long): Unit = {
    touched = true
    gs.setTimeoutTimestamp(tsMillis)
  }
  /** Current event-time watermark (ms), 0 before the first advance. */
  def currentWatermark: Long = gs.getCurrentWatermarkMs()
}

/** Two connected streams pending a co-map (≙ ConnectedStreams +
  * CoMapFunction/CoFlatMapFunction, cut — SURVEY §2.7). */
final class ConnectedGStreams[A, B](
    private val a: org.apache.spark.sql.Dataset[A],
    private val b: org.apache.spark.sql.Dataset[B],
    private val bufferTimeoutMs: Long = -1L) {
  def map[R: Encoder](fa: A => R, fb: B => R): GStream[R] =
    new GStream(a.map(fa).union(b.map(fb)), bufferTimeoutMs)
  def flatMap[R: Encoder](fa: A => IterableOnce[R],
      fb: B => IterableOnce[R]): GStream[R] =
    new GStream(a.flatMap(fa(_).iterator).union(b.flatMap(fb(_).iterator)),
      bufferTimeoutMs)
}

/** User contract ≙ KeyedProcessFunction<K,I,O>. */
trait KeyedProcess[K, I, S, O] extends Serializable {
  def processElement(key: K, value: I, ctx: Ctx[S]): IterableOnce[O]
  /** Fired when the key's processing-time timer expires. */
  def onTimer(key: K, ctx: Ctx[S]): IterableOnce[O] = Nil
}

/** User contract ≙ KeyedProcessFunction with an `OutputTag` side channel
  * (`ctx.output(tag, v)` in the reference): every emission names its
  * channel — `Right(o)` to the main output, `Left(s)` to the side
  * (exceptions/late/debug) channel. Consumed via
  * [[KeyedGStream.processTagged]]. */
trait KeyedProcessTagged[K, I, S, O, SIDE] extends Serializable {
  def processElement(key: K, value: I, ctx: Ctx[S]): IterableOnce[Either[SIDE, O]]
  /** Fired when the key's timer expires; may emit to either channel. */
  def onTimer(key: K, ctx: Ctx[S]): IterableOnce[Either[SIDE, O]] = Nil
}

/** User contract ≙ SourceFunction<T> (source/SourceFunction.java:29-36
  * in the reference): `run(ctx)` loops emitting records until it returns
  * or `cancel()` flips the implementation's running flag. */
trait SourceFunction[T] extends Serializable {
  def run(ctx: SourceContext[T]): Unit
  def cancel(): Unit
}

/** ≙ SourceFunction.SourceContext: the emit surface handed to `run`.
  * `collectWithTimestamp`/`emitWatermark` mirror the reference's API; in
  * the reference both are no-op stubs end-to-end
  * (StreamSourceContexts.java:74-93), and here event time is assigned
  * declaratively downstream via [[GStream.withWatermark]], so the
  * timestamp variant simply emits (the record carries its own time
  * field) and watermarks are engine-managed. */
trait SourceContext[T] {
  def collect(t: T): Unit
  def collectWithTimestamp(t: T, ts: Long): Unit = collect(t)
  def emitWatermark(wm: Long): Unit = ()
}

/** ≙ StreamExecutionEnvironment (SURVEY §2.1): source construction. */
final class StreamEnv(val spark: SparkSession) {
  import spark.implicits._

  /** Bounded source from elements ≙ env.fromElements
    * (StreamExecutionEnvironment.java:159-174). */
  def fromElements[T: Encoder](xs: T*): GStream[T] =
    new GStream(spark.createDataset(xs))

  /** ≙ env.fromCollection (StreamExecutionEnvironment.java:176-187). */
  def fromCollection[T: Encoder](xs: Seq[T]): GStream[T] =
    new GStream(spark.createDataset(xs))

  /** Unbounded source ≙ env.addSource(SourceFunction)
    * (StreamExecutionEnvironment.java:189-199): runs the reference's
    * run-loop contract on a driver daemon thread feeding a MemoryStream
    * — each `ctx.collect` lands in the next micro-batch. The driver
    * thread IS the reference's source task (its sources are also
    * single-threaded per subtask); production-scale sources should be
    * DataSource v2 `readStream` formats instead, which parallelize
    * across executors. Returns the unbounded stream; stop the loop via
    * the function's own `cancel()`, exactly the reference's shutdown
    * path (StreamSource.java cancel()). An exception from `run` fails
    * every job of this env, as in the reference: the query itself would
    * idle on its MemoryStream (Structured Streaming has no external
    * poison-pill for a source), so [[JobClient]] reads the failure from
    * here and stops the job's queries. */
  def addSource[T: Encoder](fn: SourceFunction[T]): GStream[T] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[T]
    val ctx = new SourceContext[T] {
      def collect(t: T): Unit = mem.addData(t)
    }
    val th = new Thread(() => fn.run(ctx), s"graft-source-${fn.getClass.getSimpleName}")
    th.setDaemon(true)
    th.setUncaughtExceptionHandler((t, e) => {
      sourceFailure.compareAndSet(null, e)
      System.err.println(s"[graft] SourceFunction thread ${t.getName} died: $e")
    })
    th.start()
    new GStream(mem.toDS())
  }

  /** The first exception thrown by an [[addSource]] run loop. */
  private val sourceFailure =
    new java.util.concurrent.atomic.AtomicReference[Throwable]()

  /** Executor-parallel unbounded source ≙ env.addSource(
    * ParallelSourceFunction) with setParallelism(n) (SURVEY §2.1's
    * production mapping; ref `StreamExecutionEnvironment.java:189-199`):
    * a DataSource-v2 MicroBatchStream whose per-partition offset ranges
    * are read by one executor task each — scales out, replays
    * deterministically (exactly-once), unlike the driver-thread
    * [[addSource]] adapter. */
  def addParallelSource[T: Encoder](
      fn: graft.sources.ParallelSourceFunction[T]): GStream[T] = {
    val id = graft.sources.PartitionedSource
      .register(fn, implicitly[Encoder[T]])
    new GStream(spark.readStream
      .format(classOf[graft.sources.PartitionedSourceProvider].getName)
      .option(graft.sources.PartitionedSource.IdKey, id)
      .load().as[T])
  }

  /** Unbounded source ≙ env.addSource(SourceFunction): tests feed a
    * MemoryStream; production sources are `spark.readStream` formats. */
  def fromDataset[T](ds: Dataset[T]): GStream[T] = new GStream(ds)

  /** ≙ env.executeAsync(jobName) → JobClient (StreamExecutionEnvironment
    * .java:201-229; flink-core JobClient): detached handle over the
    * job's running queries. In the reference, execute() submits the
    * built StreamGraph; here every facade sink already started its
    * Structured Streaming query eagerly (Spark owns the job graph), so
    * the handle snapshots the session's active queries — status, cancel
    * and await compose over them exactly like the reference's client
    * does over its one JobGraph. */
  def executeAsync(jobName: String = "graft-job"): JobClient =
    new JobClient(jobName, spark.streams.active.toSeq,
      System.currentTimeMillis(), () => Option(sourceFailure.get))

  /** ≙ env.execute(jobName) → JobExecutionResult (StreamExecution
    * Environment.java:201-214): BLOCK until every query of the job
    * terminates (for an unbounded job that means until cancel/stop —
    * the reference's semantics too), then report the job's wall-clock
    * runtime. Accumulator results live on GMetrics (§2.3), matching
    * where this facade moved the reference's accumulator map. */
  def execute(jobName: String = "graft-job"): JobResult =
    executeAsync(jobName).getJobExecutionResult
}

/** ≙ JobExecutionResult (flink-core api/common/JobExecutionResult.java):
  * the blocking execute()'s summary — job identity + runtime. */
final case class JobResult(jobId: java.util.UUID, jobName: String,
    runtimeMs: Long)

/** ≙ JobClient (flink-core/execution/JobClient.java:40-75): job-level
  * status/cancel/await over the queries the job comprises. Status is the
  * reference's JobStatus surface collapsed to the three states Spark
  * exposes: RUNNING (any query active), FAILED (a source of the env
  * threw, or any query terminated with an exception), FINISHED. */
final class JobClient private[streaming] (val jobName: String,
    queries: Seq[org.apache.spark.sql.streaming.StreamingQuery],
    startedAtMs: Long, sourceFailure: () => Option[Throwable]) {

  /** ≙ JobClient.getJobID. */
  val jobId: java.util.UUID = java.util.UUID.randomUUID()

  /** ≙ JobClient.getJobStatus (non-blocking). Failure wins over
    * activity: a job with one dead and one live query reports FAILED
    * immediately (the documented "any query terminated with an
    * exception"), not RUNNING until the healthy query also stops. */
  def getJobStatus: String =
    if (sourceFailure().isDefined || queries.exists(_.exception.isDefined))
      "FAILED"
    else if (queries.exists(_.isActive)) "RUNNING"
    else "FINISHED"

  /** ≙ JobClient.cancel: stop every still-active query of the job. */
  def cancel(): Unit = queries.foreach(q => if (q.isActive) q.stop())

  /** ≙ JobClient.getJobExecutionResult: block until the job terminates
    * (rethrows the first query failure, like the reference's
    * ExecutionException path), then report identity + runtime. A failed
    * source stops the job's queries and is rethrown as the cause of a
    * [[JobExecutionException]]. */
  def getJobExecutionResult: JobResult = {
    queries.foreach { q =>
      while (!q.awaitTermination(100) && sourceFailure().isEmpty) ()
    }
    sourceFailure().foreach { e =>
      cancel()
      throw new JobExecutionException(s"job $jobName failed: a source threw", e)
    }
    JobResult(jobId, jobName, System.currentTimeMillis() - startedAtMs)
  }
}

/** ≙ JobExecutionException (flink-runtime): a job failed; the cause is
  * the failure that ended it. */
final class JobExecutionException(msg: String, cause: Throwable)
  extends RuntimeException(msg, cause)

object StreamEnv {
  def apply(spark: SparkSession): StreamEnv = new StreamEnv(spark)
  implicit def tuple2Encoder[A: Encoder, B: Encoder]: Encoder[(A, B)] =
    Encoders.tuple(implicitly[Encoder[A]], implicitly[Encoder[B]])
  /** ≙ EitherTypeInfo (flink-core .../typeutils/EitherTypeInfo.java):
    * sealed-ADT encoding for Either-typed streams. Spark has no product
    * encoder for sealed hierarchies, so this is the kryo-serialized
    * escape hatch — fine for map/filter pipelines (opaque binary
    * column), not for columnar ops on the payload (project to a tuple
    * first, as the reference's own docs advise for performance). */
  implicit def eitherEncoder[L, R]: Encoder[Either[L, R]] =
    Encoders.kryo[Either[L, R]]
}
