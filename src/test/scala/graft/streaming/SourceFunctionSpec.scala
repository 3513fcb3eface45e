package graft.streaming

import java.util.concurrent.atomic.AtomicBoolean

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec

/** The reference's SourceFunction run/cancel contract
  * (source/SourceFunction.java:29-36 + StreamExecutionEnvironment.
  * java:189-199) driven through StreamEnv.addSource: a driver-thread
  * run loop feeding an unbounded stream, stopped by cancel(). */
class SourceFunctionSpec extends SparkSpec {
  import spark.implicits._

  /** Shaped like the reference's canonical source: a while(running)
    * emit loop with a volatile cancel flag. */
  class CountSource(limit: Int) extends SourceFunction[Int] {
    val running = new AtomicBoolean(true)
    @volatile var emitted = 0
    def run(ctx: SourceContext[Int]): Unit = {
      var i = 1
      while (running.get() && i <= limit) {
        ctx.collect(i)
        emitted = i
        i += 1
      }
    }
    def cancel(): Unit = running.set(false)
  }

  test("addSource runs the run-loop and every emission reaches the sink") {
    val env = StreamEnv(spark)
    val src = new CountSource(100)
    val q = env.addSource(src).toDataset
      .writeStream.format("memory").queryName("sfn_all")
      .outputMode(OutputMode.Append).start()
    try {
      val rows = awaitTable("sfn_all")(_.length == 100)
      assert(rows.map(_.getInt(0)).sorted.toSeq == (1 to 100))
    } finally q.stop()
  }

  test("cancel() stops an unbounded run loop") {
    val env = StreamEnv(spark)
    // unbounded: emits until cancelled (limit effectively infinite)
    val src = new CountSource(Int.MaxValue) {
      override def run(ctx: SourceContext[Int]): Unit = {
        var i = 1
        while (running.get()) {
          ctx.collect(i)
          emitted = i
          i += 1
          Thread.sleep(1) // pace the loop so cancel lands mid-stream
        }
      }
    }
    val q = env.addSource(src).toDataset
      .writeStream.format("memory").queryName("sfn_cancel")
      .outputMode(OutputMode.Append).start()
    try {
      awaitTable("sfn_cancel")(_.length >= 5)
      src.cancel()
      // after cancel the loop must terminate: emitted stops advancing
      val stoppedAt = { Thread.sleep(300); src.emitted }
      Thread.sleep(300)
      assert(src.emitted == stoppedAt, "run loop kept emitting after cancel()")
      // and everything emitted before cancel still drains to the sink
      val rows = awaitTable("sfn_cancel")(_.length >= stoppedAt)
      assert(rows.map(_.getInt(0)).distinct.length == rows.length)
    } finally q.stop()
  }

  test("a source that throws fails its job: FAILED status, execute throws") {
    val env = StreamEnv(spark)
    val boom = new IllegalStateException("source broke")
    val src = new CountSource(3) {
      override def run(ctx: SourceContext[Int]): Unit = {
        super.run(ctx)
        throw boom
      }
    }
    val q = env.addSource(src).toDataset
      .writeStream.format("memory").queryName("sfn_fail")
      .outputMode(OutputMode.Append).start()
    try {
      // records emitted before the failure still reach the sink
      awaitTable("sfn_fail")(_.length == 3)
      val client = env.executeAsync("failing-source")
      assert(client.getJobStatus == "FAILED")
      // execute must end the job, not idle on the source's MemoryStream
      val thrown = intercept[JobExecutionException] {
        Await.result(Future(env.execute("failing-source")), 60.seconds)
      }
      assert(thrown.getCause eq boom)
      assert(!q.isActive, "the failed job's query is still running")
    } finally q.stop()
  }
}
