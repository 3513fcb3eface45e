package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.plans.GraftExtensions

/** Shared session construction + full-plan execution. `local` builds the
  * session of every graft main (Verify, Bench, Probe, Plans, PlanDump)
  * and of the perfbench harness; the test fixture `SparkSpec.session`
  * builds its own but takes [[CodegenCacheEntries]] from here. It is one
  * place for local-mode config, and the one place graft's rules and
  * functions enter a session ([[GraftExtensions]]). */
object Sessions {
  /** Entries of Spark's generated-code cache (`spark.sql.codegen.cache
    * .maxEntries`, default 100). One cold pass over all 259 queries
    * compiles 3,759 distinct classes (c4, sf0.1); at 100 entries most
    * are evicted before their next use, so re-running a query compiled
    * and JIT-warmed its code again (a perfbench `relational` pass
    * recompiled 210–260 classes). 8192 holds that working set about
    * twice over. The cache holds only what was compiled, so a small
    * workload pays only for its own classes; the full sweep ends with
    * about 110 MB more heap and 32 MB more Metaspace than at 100
    * entries. Spark's cache is JVM-wide and sized by the first session
    * to generate code. */
  val CodegenCacheEntries = 8192

  def local(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // local-mode scan parallelism: the test/probe corpora are single
      // parquet FILES of a few-to-50 MB, which the 128 MB default reads
      // as ONE task — every pre-shuffle stage then runs single-threaded
      // (measured: the 100x k-means assign serialized 4 corpus scans on
      // one core). 8 MB splits the probe files across the pool; a real
      // cluster keeps the default (its inputs arrive as many files).
      .config("spark.sql.files.maxPartitionBytes", s"${8 * 1024 * 1024}")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Release everything a query run may have pinned in the block manager.
    * `clearCache()` only drops CacheManager (DataFrame-level) entries;
    * localCheckpoint blocks (Dedup.withScratch results, ConnectedComponents
    * per-iteration checkpoints) are RDD-level persists that the
    * ContextCleaner reclaims lazily — across a 96-query sweep they pile up
    * and distort later timings (BENCH_r04 inflated untouched queries 2–4×).
    * Unpersisting them explicitly makes every timed pass start cold. */
  def releaseAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    // blocking: releaseAll always runs off-the-clock (between timed
    // passes), and an async drop would overlap the next measurement with
    // block-removal churn — the distortion this helper exists to stop
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  /** Execute the query's FULL physical plan and return the row count.
    * `df.count()` would instead plan Aggregate(count(1)) over the
    * query, letting the optimizer prune unreferenced projections and
    * final sorts — a projection-heavy operator would be "benchmarked"
    * as a bare scan. toRdd runs the executed plan as written. */
  def runFully(df: DataFrame): Long = {
    val rdd = df.queryExecution.toRdd
    rdd.mapPartitions(it => Iterator.single(it.size.toLong)).fold(0L)(_ + _)
  }
}
