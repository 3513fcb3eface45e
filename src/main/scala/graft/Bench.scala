package graft

/** Benchmark main: per-query seconds on the SF dir from
  * SPARK_GRAFT_SF_DIR. Each query runs twice: an untimed warmup (JIT +
  * codegen + file-cache) and a timed steady-state pass — single-shot
  * timings on a cold JVM mostly measure classloading, which a long-lived
  * cluster never pays per query. Queries execute their FULL physical plan
  * (Sessions.runFully) — a count() would let the optimizer prune the
  * projections and sorts under test. Failed queries report -1 and print
  * `[bench] <query> failed: <class>: <message line>` on stderr.
  *
  * Interference evidence (round-7 ask #4): the sweep runs on a shared
  * host whose episodic contention inflated different queries on
  * otherwise-identical runs (214–311 s spread documented in SURVEY). When
  * a timed pass exceeds 3x the trailing median of completed queries (and
  * a 1.5 s floor, so cheap queries never trip it), the query is re-run
  * once and BOTH times are recorded — `{"t": first, "retry": second}` —
  * so a reader can separate a host spike (retry near the median) from a
  * genuine regression (retry confirms the first number) without solo
  * re-probes. The best (min) time feeds the total, since the total's job
  * is the steady-state suite cost.
  *
  * Output protocol (round-7 ask #1): the full per-query object is printed
  * first and written to BENCH_LAST.json; then, LAST on stdout after
  * spark.stop(), a SHORT summary line with no per-query map — three
  * rounds of `parsed: null` established that the driver's tail capture
  * truncates the 187-entry line mid-number, so the parseable line must be
  * one the tail cannot cut. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    // releaseAll after every run: clearCache alone misses localCheckpoint
    // RDD blocks (withScratch / CC iterations), whose lazy reclamation
    // distorted BENCH_r04 — the timed pass must never reuse warmup state
    // nor inherit block-manager churn from earlier queries.
    // a failure is reported on stderr (stdout carries only the two JSON
    // lines) and the run goes on; a failed timed pass records -1
    def failed(name: String, e: Throwable): Unit = System.err.println(
      s"[bench] $name failed: ${e.getClass.getName}: " +
        Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse(""))
    ordered.foreach { case (name, fn) =>
      try Sessions.runFully(fn(spark, sfDir))
      catch { case e: Throwable => failed(name, e) }
      Sessions.releaseAll(spark)
    }
    def timeOnce(name: String, fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val ok =
        try { Sessions.runFully(fn(spark, sfDir)); true }
        catch { case e: Throwable => failed(name, e); false }
      val dt = (System.nanoTime() - t0) / 1e9
      Sessions.releaseAll(spark)
      if (ok) dt else -1.0
    }
    val done = collection.mutable.ArrayBuffer.empty[Double]
    def trailingMedian: Double = {
      val s = done.filter(_ >= 0).sorted
      if (s.isEmpty) Double.MaxValue else s(s.size / 2)
    }
    // name -> (first, Option(retry)); best = min of the two feeds the total
    val results: Seq[(String, Double, Option[Double])] =
      ordered.map { case (name, fn) =>
        val t = timeOnce(name, fn)
        val med = trailingMedian
        val spiked = t >= 0 && done.count(_ >= 0) >= 5 &&
          t > 1.5 && t > 3.0 * med
        val retry = if (spiked) Some(timeOnce(name, fn)) else None
        val best = retry.filter(_ >= 0).map(math.min(t, _)).getOrElse(t)
        done += best
        (name, t, retry)
      }
    val qs = results.map {
      case (k, t, Some(r)) => "\"" + k + "\":{\"t\":" + t + ",\"retry\":" + r + "}"
      case (k, t, None)    => "\"" + k + "\":" + t
    }.mkString("{", ",", "}")
    val bests = results.map { case (_, t, r) =>
      r.filter(_ >= 0).map(math.min(t, _)).getOrElse(t)
    }
    val total = bests.filter(_ >= 0).sum
    val nOk = bests.count(_ >= 0)
    val (slowName, slowSec) =
      results.zip(bests).filter(_._2 >= 0)
        .map { case ((n, _, _), b) => (n, b) }
        .sortBy(-_._2).headOption.getOrElse(("none", 0.0))
    val retried = results.count(_._3.isDefined)
    // sfDir comes from the environment and slowName from query keys;
    // both are interpolated into JSON string positions. Escape quotes,
    // backslashes AND control characters — a raw newline would split
    // the one-line protocol itself, and RFC 8259 forbids unescaped
    // chars < 0x20 inside strings (ADVICE r8 item 4 + review catch).
    def jstr(s: String): String = s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    }
    val sfJ = jstr(sfDir)
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfJ"}"""
    println(full)
    // Persist the full object (driver artifact + local cross-round diffs).
    sys.env.get("SPARK_GRAFT_BENCH_OUT").orElse(Some("BENCH_LAST.json"))
      .foreach { p =>
        try java.nio.file.Files.write(java.nio.file.Paths.get(p),
          full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        catch { case _: Throwable => () }
      }
    spark.stop()
    // SHORT summary as the LAST stdout line — no per-query map, immune to
    // tail truncation and executor-shutdown log interleaving. This is the
    // line the driver should parse; the full map lives in BENCH_LAST.json.
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":$nOk,""" +
        s""""retried":$retried,"slowest":{"name":"${jstr(slowName)}","sec":$slowSec},""" +
        s""""detail":"BENCH_LAST.json","sf":"$sfJ"}"""
    println(summary)
  }
}
