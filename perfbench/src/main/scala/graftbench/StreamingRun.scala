package graftbench

import java.io.File

import scala.collection.mutable
import scala.util.{Random, Try}

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, TimeMode}

import graft.Sessions
import graft.sources.Tables
import graft.streaming.{IncrementalAgg, IncrementalAggProcessor,
  IncrementalCompaction, IncrementalCompactionProcessor, StreamEnv}

/** The streaming workload: the events table, in event-time order, is cut
  * into micro-batches (the seed fixes the cut points) and replayed in a
  * closed loop through two twins. A batch is added to the twin's
  * MemoryStream only after `processAllAvailable` returned for the one
  * before. Every pass (warm-up, settling and timed) starts fresh queries
  * with fresh checkpoints. */
final class StreamingRun(spark: SparkSession, conf: Conf, rec: RunRecord) {
  import spark.implicits._
  private implicit val sqlCtx: SQLContext = spark.sqlContext
  private val sc = spark.sparkContext

  /** Micro-batches per twin and pass. */
  val Batches = 10

  spark.conf.set("spark.sql.streaming.stateStore.providerClass",
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
  private val jobs = new GroupListener
  private val progress = new TriggerListener
  if (conf.trace) {
    sc.addSparkListener(jobs)
    spark.streams.addListener(progress)
  }

  private val events = Tables(spark, conf.data, "events")
  // The replayed input belongs to the harness, not the program: both are
  // set to null before the retained heap is read.
  private var contribs =
    IncrementalAgg.contribs(events).collect().sortBy(_.tsMicros)
  private var changes = IncrementalCompaction.changes(events).collect()
    .sortBy(c => (c.tsMicros, c.eventId))
  private val nEvents = contribs.length

  /** runId -> pass and twin, to attribute jobs and progress reports. */
  private val runPass = mutable.HashMap.empty[String, Int]
  private val runTwin = mutable.HashMap.empty[String, String]

  /** A running twin: it takes slices of the event order and reads its
    * final view back in the shape of its batch twin. */
  private abstract class Feed(val twin: String, sink: String) {
    val query: String = Workloads.twins.toMap.apply(twin)
    def q: StreamingQuery
    def feed(from: Int, until: Int): Unit
    def table: DataFrame = spark.table(sink)
    def view(): DataFrame
    /** Per-key event counts summed over the view. */
    def counted(): Long
  }

  private def memorySink(df: DataFrame, sink: String, mode: OutputMode) =
    df.writeStream.format("memory").queryName(sink).outputMode(mode)
      .option("checkpointLocation", s"${conf.out}/ckpt/$sink").start()

  private final class AggFeed(sink: String) extends Feed("agg", sink) {
    private val in = MemoryStream[IncrementalAgg.Contrib]
    val q: StreamingQuery = memorySink(StreamEnv(spark).fromDataset(in.toDS())
      .keyBy(_.userId)
      .transformWithState(new IncrementalAggProcessor, TimeMode.None(),
        OutputMode.Update())
      .toDataset.toDF(), sink, OutputMode.Update)
    def feed(from: Int, until: Int): Unit = {
      in.addData(contribs.slice(from, until).toSeq)
      q.processAllAvailable()
    }
    // the latest emission per key is the one with the highest fold count
    def view(): DataFrame = table.groupBy(col("userId"))
      .agg(max_by(struct(col("cents"), col("lastTsMicros")), col("nEvents"))
        .as("s"), max(col("nEvents")).as("n_events"))
      .select(col("userId").as("user_id"), col("n_events"),
        col("s.cents").as("cents"),
        timestamp_micros(col("s.lastTsMicros")).as("last_ts"))
    def counted(): Long = view().agg(sum(col("n_events"))).head().getLong(0)
  }

  private final class CompactionFeed(sink: String)
      extends Feed("compaction", sink) {
    private val in = MemoryStream[IncrementalCompaction.Change]
    val q: StreamingQuery = memorySink(StreamEnv(spark).fromDataset(in.toDS())
      .keyBy(_.userId)
      .transformWithState(new IncrementalCompactionProcessor, TimeMode.None(),
        OutputMode.Update())
      .toDataset.toDF(), sink, OutputMode.Update)
    def feed(from: Int, until: Int): Unit = {
      in.addData(changes.slice(from, until).toSeq)
      q.processAllAvailable()
    }
    // latest snapshot per key: the one that absorbed the most changes
    private def latest = table.filter(!col("late")).groupBy(col("userId"))
      .agg(max_by(struct(col("tsMicros"), col("eventType"), col("cents"),
        col("live")), col("nChanges")).as("s"),
        max(col("nChanges")).as("n_changes"))
    // q116 drops the keys whose latest change is a tombstone
    def view(): DataFrame = latest.filter(col("s.live"))
      .select(col("userId").as("user_id"),
        timestamp_micros(col("s.tsMicros")).as("last_ts"),
        col("s.eventType").as("last_type"), col("s.cents").as("last_cents"),
        col("n_changes"))
    def counted(): Long = latest.agg(sum(col("n_changes"))).head().getLong(0)
  }

  private def newFeed(twin: String, sink: String): Feed = twin match {
    case "agg" => new AggFeed(sink)
    case "compaction" => new CompactionFeed(sink)
  }

  /** Slice boundaries over the event order: `Batches` batches whose sizes
    * vary by up to 3x. */
  private def cuts(r: Random): Seq[Int] = {
    val w = Seq.fill(Batches)(0.5 + r.nextDouble())
    w.scanLeft(0.0)(_ + _).map(x => math.round(x / w.sum * nEvents).toInt)
  }

  /** One operation: a trigger, timed from adding the batch until
    * `processAllAvailable` returns. */
  private def trigger(op: String, pass: Int, rows: Long)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    rec.attempted += 1
    val ok = try { body; true } catch {
      case e: Throwable => rec.fail(op, pass, e); false
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (pass == Passes.WarmUp) rec.warmMs(op) = ms
    else rec.ops += OpRecord(op, pass, ms, rows, ok, execS = ms / 1e3)
  }

  /** The memory sink (and temp view) of a twin in a pass. */
  private def sink(twin: String, pass: Int): String =
    if (pass < 0) s"${twin}_w${-pass}" else s"${twin}_p$pass"

  private def runPass(pass: Int): Unit = {
    val r = conf.rng(pass)
    val cut = cuts(r)
    val order = r.shuffle(Workloads.twins.map(_._1))
    val mark = rec.startPass()
    val feeds = order.map { twin =>
      val feed = Try(newFeed(twin, sink(twin, pass)))
      feed.foreach { f =>
        runPass(f.q.runId.toString) = pass
        runTwin(f.q.runId.toString) = twin
      }
      cut.sliding(2).zipWithIndex.foreach { case (Seq(a, b), i) =>
        trigger(s"$twin#$i", pass, b - a)(feed.get.feed(a, b))
      }
      feed.foreach(_.q.stop())
      twin -> feed
    }
    if (pass >= 0) rec.endPass(mark)
    // one view read per twin and pass; it fails if the query never started
    feeds.foreach { case (twin, feed) =>
      rec.attempted += 1
      try {
        val f = feed.get
        val view = f.view()
        rec.views += Map("twin" -> f.twin, "query" -> f.query, "pass" -> pass,
          "rows" -> view.count(), "fed" -> nEvents, "counted" -> f.counted())
        if (pass == Passes.WarmUp) {
          val dir = s"${conf.out}/results/${f.query}"
          view.write.mode("overwrite").parquet(dir)
          rec.results(f.query) = dir
        }
      } catch { case e: Throwable => rec.fail(s"$twin#view", pass, e) }
      spark.catalog.dropTempView(sink(twin, pass))
    }
    deleteTree(new File(s"${conf.out}/ckpt"))
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def run(): Unit = {
    runPass(Passes.WarmUp)
    rec.setupS = Main.sinceJvmStart()
    conf.settling.foreach(runPass)
    val start = System.nanoTime()
    var pass = 0
    while (pass < conf.minPasses || (System.nanoTime() - start) / 1e9 < conf.seconds) {
      runPass(pass)
      pass += 1
    }
    contribs = null
    changes = null
    Sessions.releaseAll(spark)
    rec.retainedHeapMb = Main.retainedHeapMb()
    if (conf.trace) layers(pass)
  }

  private def layers(passes: Int): Unit = {
    org.apache.spark.BenchBus.drain(sc)
    val timed = progress.triggers.filter(t => runPass.get(t.runId).exists(_ >= 0))
    timed.foreach { t =>
      rec.triggers += Map("pass" -> runPass(t.runId), "twin" -> runTwin(t.runId),
        "rows" -> t.inputRows, "state_rows" -> t.stateRows,
        "state_bytes" -> t.stateBytes)
    }
    val withData = timed.filter(_.inputRows > 0)
    val perPass = (0 until passes).map { p =>
      val runs = runPass.collect { case (id, `p`) => id }.toSet
      runs.foreach { id =>
        val own = jobs.sum(_ == id)
        rec.structure += Map("op" -> runTwin(id), "pass" -> p,
          "jobs" -> own.jobs, "stages" -> own.stages, "exchanges" -> 0)
      }
      val exec = jobs.sum(runs.contains)
      val execS = rec.ops.filter(o => o.pass == p && o.ok).map(_.execS).sum
      val byRun = withData.filter(t => runs.contains(t.runId)).groupBy(_.runId)
      Map(
        "exec.exec_s" -> execS,
        "exec.jobs" -> exec.jobs.toDouble,
        "exec.stages" -> exec.stages.toDouble,
        "exec.tasks" -> exec.tasks.toDouble,
        "exec.task_run_s" -> exec.runMs / 1e3,
        "exec.task_cpu_s" -> exec.cpuNs / 1e9,
        "exec.gc_s" -> exec.gcMs / 1e3,
        "exec.busy_share" ->
          (if (execS > 0) exec.runMs / 1e3 / (conf.cores * execS) else 0.0),
        "exec.shuffle_write_mb" -> exec.shuffleWrite / Main.MB,
        "exec.shuffle_read_mb" -> exec.shuffleRead / Main.MB,
        "exec.spill_mb" -> exec.spill / Main.MB,
        "streaming.state_rows" -> byRun.values.map(_.last.stateRows).sum.toDouble,
        "streaming.state_mem_mb_first" ->
          byRun.values.map(_.head.stateBytes).sum / Main.MB,
        "streaming.state_mem_mb_last" ->
          byRun.values.map(_.last.stateBytes).sum / Main.MB)
    }
    rec.layers ++= Main.medianLayers(rec, perPass)
    rec.layers("streaming.plan_ms") = Main.median(withData.map(_.planMs.toDouble))
    rec.layers("streaming.add_batch_ms") =
      Main.median(withData.map(_.addBatchMs.toDouble))
    rec.layers("streaming.wal_commit_ms") =
      Main.median(withData.map(_.walCommitMs.toDouble))
    rec.layers("caches.cold_extra_s") = Main.coldExtraS(rec)
  }
}
