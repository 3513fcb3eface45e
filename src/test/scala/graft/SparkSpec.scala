package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites

  /** Poll a memory-sink table until `pred` holds. Needed for queries using
    * GroupStateTimeout.ProcessingTimeTimeout: Spark keeps scheduling
    * no-data batches to evaluate timeouts, so `processAllAvailable` never
    * observes a stable no-new-data condition and blocks forever. */
  def awaitTable(name: String, timeoutMs: Long = 60000)(
      pred: Array[org.apache.spark.sql.Row] => Boolean): Array[org.apache.spark.sql.Row] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var rows = spark.table(name).collect()
    while (!pred(rows) && System.currentTimeMillis() < deadline) {
      Thread.sleep(200)
      rows = spark.table(name).collect()
    }
    assert(pred(rows), s"timed out waiting on $name; rows=${rows.mkString(",")}")
    rows
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // static and JVM-wide: this session, the first of the forked test
      // JVM, sizes the generated-code cache for every suite
      .config("spark.sql.codegen.cache.maxEntries",
        graft.Sessions.CodegenCacheEntries.toLong)
      // Spark 4.1's checksum checkpoint file manager deadlocks state-store
      // delta commits on local[n] (commit blocks forever awaiting the
      // checksum-write future); plain checkpoint files are fine for tests.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      // static (SparkEnv) conf read by every UnsafeExternalSorter: force
      // a spill every 50k inserted rows, so specs CAN drive the sorter's
      // spill-read path (whose shared read buffer invalidates previously
      // returned rows — the UTF8String ownership hazard OverlapJoinSpec
      // pins). Ordinary suites sort far fewer rows per task; a suite
      // that does cross 50k merely spills, which is correct behavior.
      .config("spark.shuffle.spill.numElementsForceSpillThreshold", "50000")
      // static conf; needed by specs that saveAsTable (bucketing)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      // graft's rules and functions, installed as in Sessions.local
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
