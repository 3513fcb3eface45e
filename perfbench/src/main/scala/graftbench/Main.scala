package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.{Sessions, SparkEntry}

/** Options of one run; see perfbench/run.py, which supplies them. */
final case class Conf(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, out: String, cores: Int, minPasses: Int,
    settlePasses: Int) {
  /** The random stream of a pass (see `Passes`): operation order and, on
    * streaming, the micro-batch cuts. */
  def rng(pass: Int): Random = new Random(seed * 1000003L + pass)

  /** Pass numbers of the settling passes, in the order they run. */
  def settling: Seq[Int] = (0 until settlePasses).map(Passes.settle)
}

/** Pass numbers: the timed passes are 0, 1, ...; the passes before them
  * are negative. */
object Passes {
  /** Cold pass: writes every result; `setup_s` ends with it. */
  val WarmUp = -1
  /** The i-th settling pass: untimed, run exactly like a timed one,
    * because passes keep getting faster for a while after the cold one
    * (README, Run shape). */
  def settle(i: Int): Int = -2 - i
}

/** One attempted operation of a settling or timed pass. `rows` is the
  * result's row count for a query and the number of events fed for a
  * trigger. */
final case class OpRecord(name: String, pass: Int, ms: Double, rows: Long,
    ok: Boolean, buildS: Double = 0, planS: Double = 0, execS: Double = 0,
    shape: PlanShape = PlanShape(0, 0, 0L), scratchBlocks: Int = 0)

/** What a run hands back to run.py as `run.json`. */
final class RunRecord(conf: Conf) {
  var setupS = 0.0
  var retainedHeapMb = 0.0
  val passS = mutable.ArrayBuffer.empty[Double]
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val warmMs = mutable.LinkedHashMap.empty[String, Double]
  val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
  /** query name -> directory of its written result */
  val results = mutable.LinkedHashMap.empty[String, String]
  /** streaming views per pass: row count and summed per-key counts */
  val views = mutable.ArrayBuffer.empty[Map[String, Any]]
  /** per operation and traced pass: jobs, stages and exchanges */
  val structure = mutable.ArrayBuffer.empty[Map[String, Any]]
  /** per traced streaming trigger: input rows, state rows and state bytes */
  val triggers = mutable.ArrayBuffer.empty[Map[String, Any]]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  /** per timed pass: the JVM's class loads and JIT compile time */
  val jvm = mutable.ArrayBuffer.empty[Map[String, Double]]

  /** Where a timed pass started: wall clock and the JVM's counters. */
  final case class Mark(nanos: Long, classes: Long, jitMs: Long)

  def startPass(): Mark = Mark(System.nanoTime(),
    ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime)

  /** Records a timed pass's wall time and, for the `jvm` layer, the
    * classes loaded (Spark's generated code among them) and the JIT
    * compile time (summed over compiler threads) during it. */
  def endPass(from: Mark): Unit = {
    val to = startPass()
    passS += (to.nanos - from.nanos) / 1e9
    jvm += Map("jvm.classes_loaded" -> (to.classes - from.classes).toDouble,
      "jvm.jit_s" -> (to.jitMs - from.jitMs) / 1e3)
  }
  /** Operations attempted: warm-up, settling and timed operations, and on
    * streaming the read of each twin's view in every pass. */
  var attempted = 0L

  def fail(op: String, pass: Int, e: Throwable): Unit = {
    val msg = Option(e.getMessage).getOrElse("").linesIterator.nextOption()
      .getOrElse("")
    failures += Map("op" -> op, "pass" -> pass,
      "error" -> e.getClass.getName, "message" -> msg.take(300))
    System.err.println(s"[perfbench] $op (pass $pass) failed: " +
      s"${e.getClass.getName}: $msg")
  }

  def json: String = Serialization.write(Map(
    "workload" -> conf.workload, "seed" -> conf.seed, "cores" -> conf.cores,
    "trace" -> conf.trace, "setup_s" -> setupS, "pass_s" -> passS,
    "settle_passes" -> conf.settling,
    "retained_heap_mb" -> retainedHeapMb, "attempted" -> attempted,
    "ops" -> ops.map(o => Map("name" -> o.name, "pass" -> o.pass,
      "ms" -> o.ms, "rows" -> o.rows, "ok" -> o.ok)),
    "warm_ms" -> warmMs, "failures" -> failures, "results" -> results,
    "views" -> views, "structure" -> structure, "triggers" -> triggers,
    "layers" -> layers,
    "oracles" -> Main.oracles(
      if (conf.workload == "streaming") Workloads.twins.map(_._2)
      else Workloads.relational)))(DefaultFormats)
}

object Main {
  val MB: Double = 1024.0 * 1024.0

  def oracles(names: Seq[String]): Map[String, String] = {
    val all = SparkEntry.oracleSql
    names.map(n => n -> all(n)).toMap
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toVector.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Heap in use after full collections, once it stops falling. Spark's
    * ContextCleaner frees broadcast and shuffle blocks on its own thread,
    * only after a collection has enqueued their weak references, so one
    * collection is followed by a pause and another until the reading
    * holds. */
  def retainedHeapMb(): Double = {
    val heap = ManagementFactory.getMemoryMXBean
    def collected(): Long = { System.gc(); heap.getHeapMemoryUsage.getUsed }
    var least = collected()
    var falling = true
    var rounds = 0
    while (falling && rounds < 10) {
      Thread.sleep(300)
      val now = collected()
      falling = now < least - 256 * 1024
      least = math.min(least, now)
      rounds += 1
    }
    least / MB
  }

  /** Seconds since this JVM started. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** `caches.cold_extra_s`: warm-up time minus median timed time, summed
    * over operations. */
  def coldExtraS(rec: RunRecord): Double =
    rec.warmMs.map { case (n, warm) =>
      val timed = rec.ops.filter(o => o.name == n && o.ok && o.pass >= 0)
        .map(_.ms)
      if (timed.isEmpty) 0.0 else (warm - median(timed)) / 1e3
    }.sum

  /** Median over passes of each per-pass layer value, the `jvm` layer's
    * included. */
  def medianLayers(rec: RunRecord,
      perPass: Seq[Map[String, Double]]): Map[String, Double] = {
    val all = perPass.zip(rec.jvm).map { case (a, b) => a ++ b }
    all.flatMap(_.keys).distinct
      .map(k => k -> median(all.flatMap(_.get(k)))).toMap
  }

  private def write(path: String, s: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    kv.get("dump-oracles") match {
      case Some(path) =>
        write(path, Serialization.write(oracles(Workloads.checkedQueries))(
          DefaultFormats))
      case None =>
        val conf = Conf(kv("workload"), kv("seed").toLong,
          kv("seconds").toDouble, kv("trace") == "1", kv("data"), kv("out"),
          kv("cores").toInt, kv("min-passes").toInt, kv("settle-passes").toInt)
        require(Set("relational", "streaming")(conf.workload),
          s"unknown workload ${conf.workload}")
        val spark = Sessions.local(conf.cores.toString)
        val rec = new RunRecord(conf)
        if (conf.workload == "streaming") new StreamingRun(spark, conf, rec).run()
        else new BatchRun(spark, conf, rec).run()
        write(s"${conf.out}/run.json", rec.json)
        spark.stop()
    }
  }
}

/** A batch workload: warm-up pass that writes every result, then the
  * settling and the timed passes of `Sessions.runFully`, each operation
  * followed by `Sessions.releaseAll` off the clock. */
final class BatchRun(spark: SparkSession, conf: Conf, rec: RunRecord) {
  private val names = Workloads.relational
  private val sc = spark.sparkContext
  private val fns = names.map(n => n -> SparkEntry.queries(n)).toMap
  private val jobs = new GroupListener
  if (conf.trace) sc.addSparkListener(jobs)

  private def inGroup[T](group: String)(body: => T): T =
    if (!conf.trace) body
    else {
      sc.setJobGroup(group, group, interruptOnCancel = false)
      try body finally sc.clearJobGroup()
    }

  private def warmUp(): Unit =
    conf.rng(Passes.WarmUp).shuffle(names).foreach { n =>
      val dir = s"${conf.out}/results/$n"
      val t0 = System.nanoTime()
      rec.attempted += 1
      try {
        inGroup(s"warm|$n")(
          fns(n)(spark, conf.data).write.mode("overwrite").parquet(dir))
        rec.results(n) = dir
      } catch { case e: Throwable => rec.fail(n, Passes.WarmUp, e) }
      finally Sessions.releaseAll(spark)
      rec.warmMs(n) = (System.nanoTime() - t0) / 1e6
    }

  private def timed(n: String, pass: Int): Unit = {
    val tag = s"$pass/$n"
    val t0 = System.nanoTime()
    rec.attempted += 1
    try {
      val df = inGroup(s"build|$tag")(fns(n)(spark, conf.data))
      val t1 = System.nanoTime()
      inGroup(s"plan|$tag")(df.queryExecution.executedPlan)
      val t2 = System.nanoTime()
      val rows = inGroup(s"exec|$tag")(Sessions.runFully(df))
      val t3 = System.nanoTime()
      val shape =
        if (conf.trace) PlanShape(df.queryExecution.executedPlan)
        else PlanShape(0, 0, 0L)
      val scratch = if (conf.trace) sc.getPersistentRDDs.size else 0
      rec.ops += OpRecord(n, pass, (t3 - t0) / 1e6, rows, ok = true,
        (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, shape, scratch)
    } catch {
      case e: Throwable =>
        rec.fail(n, pass, e)
        rec.ops += OpRecord(n, pass, (System.nanoTime() - t0) / 1e6, -1L,
          ok = false)
    } finally Sessions.releaseAll(spark)
  }

  def run(): Unit = {
    warmUp()
    rec.setupS = Main.sinceJvmStart()
    conf.settling.foreach(p => conf.rng(p).shuffle(names).foreach(timed(_, p)))
    val start = System.nanoTime()
    var pass = 0
    while (pass < conf.minPasses || (System.nanoTime() - start) / 1e9 < conf.seconds) {
      val mark = rec.startPass()
      conf.rng(pass).shuffle(names).foreach(timed(_, pass))
      rec.endPass(mark)
      pass += 1
    }
    Sessions.releaseAll(spark)
    rec.retainedHeapMb = Main.retainedHeapMb()
    if (conf.trace) layers(pass)
  }

  private def layers(passes: Int): Unit = {
    org.apache.spark.BenchBus.drain(sc)
    val perPass = (0 until passes).map { p =>
      val ops = rec.ops.filter(o => o.pass == p && o.ok)
      val build = jobs.sum(_.startsWith(s"build|$p/"))
      val exec = jobs.sum(_.startsWith(s"exec|$p/"))
      val execS = ops.map(_.execS).sum
      ops.foreach { o =>
        val own = jobs.sum(g => g == s"build|$p/${o.name}" ||
          g == s"exec|$p/${o.name}")
        rec.structure += Map("op" -> o.name, "pass" -> p, "jobs" -> own.jobs,
          "stages" -> own.stages, "exchanges" -> o.shape.exchanges)
      }
      Map(
        "queries.build_s" -> ops.map(_.buildS).sum,
        "queries.build_jobs" -> build.jobs.toDouble,
        "queries.scratch_blocks" -> ops.map(_.scratchBlocks).sum.toDouble,
        "plans.plan_s" -> ops.map(_.planS).sum,
        "plans.exchanges" -> ops.map(_.shape.exchanges).sum.toDouble,
        "plans.native_nodes" -> ops.map(_.shape.nativeNodes).sum.toDouble,
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
        "sources.scan_mb" -> ops.map(_.shape.scanBytes).sum / Main.MB,
        "sources.scan_rows" -> (build.scanRows + exec.scanRows).toDouble)
    }
    rec.layers ++= Main.medianLayers(rec, perPass)
    rec.layers("caches.cold_extra_s") = Main.coldExtraS(rec)
  }
}
