package graftbench

/** The benchmark's operations. Each batch operation is one query of
  * `SparkEntry.queries`; the streaming workload replays events through
  * the twins below. */
object Workloads {
  /** Short relational queries, in which planning, scans and per-job fixed
    * cost dominate and the query functions do no work of their own, and
    * two short queries that reach the layers the relational ones bypass:
    * q98 runs its Lloyd rounds inside the query function (jobs and lazy
    * localCheckpoint frames) and q38's final plan holds graft's native
    * SimHash node and the candidate-pair shuffles. */
  val relational: Seq[String] = Seq(
    "q01_tpch_q1", "q06_agg_minmax", "q10_join_dims", "q11_semi_join",
    "q12_anti_join", "q14_window_rank", "q19_rollup",
    "q166_join_elim", "q177_distinct_elim",
    "q98_kmeans", "q38_dedup_simhash")

  /** Streaming twin -> the batch query whose result its final view must
    * equal. */
  val twins: Seq[(String, String)] = Seq(
    "agg" -> "q117_incremental_agg",
    "compaction" -> "q116_changelog_compact")

  /** Every query whose oracle result the benchmark compares against. */
  def checkedQueries: Seq[String] =
    relational ++ twins.map(_._2)
}
