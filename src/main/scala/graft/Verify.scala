package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names — dev-loop subset runs
    // (the dumped oracle_sql.json is filtered to match, so tools/check.py
    // compares exactly the queries that were dumped); or `--sql-only` to
    // rewrite the FULL oracle_sql.json without re-running any query
    // (oracle-SQL-only edits leave the parquet dumps valid)
    val sqlOnly = args.length > 2 && args(2) == "--sql-only"
    val only: Option[Set[String]] =
      if (args.length > 2 && !sqlOnly) Some(args(2).split(",").toSet) else None
    def selected[T](m: Map[String, T]): Map[String, T] =
      only.fold(m)(names => m.view.filterKeys(names).toMap)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus)
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // written BEFORE the sweep: it is pure metadata, and a mid-sweep JVM
    // death would otherwise leave the completed query dumps unusable
    val json = selected(SparkEntry.oracleSql)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (sqlOnly) { spark.stop(); return }
    // sorted, as Bench runs them: an order-dependent fault then shows in
    // both mains
    selected(SparkEntry.queries).toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // drop any stale output first: if this run's query throws, a
      // previous run's parquet must not be compared as green
      val target = new java.io.File(s"$outDir/$name")
      if (target.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete()
        }
        rm(target)
      }
      // dump the rows of the builder's own QueryExecution, as Bench runs
      // it: q151/q166/q177 pin their rewritten plans and then clear the
      // declaration, and a `write` of the frame would plan it afresh
      // without the rewrite, leaving the rewritten answer unchecked
      try {
        val df = fn(spark, sfDir)
        org.apache.spark.sql.graft.bridge
          .internalCreateDataFrame(spark, df.queryExecution.toRdd, df.schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(
          s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      }
      // builders release their own scratch caches (Dedup.withScratch);
      // this guards against future builders that persist without it
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
