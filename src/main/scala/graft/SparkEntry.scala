package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every operator module's registry; each key has a
  * matching DuckDB oracle in `oracleSql` (or a deliberate omission for
  * ops that aren't ANSI-SQL-expressible, which the driver downgrades to a
  * rows-only check).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q02_revenue_by_nation")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ops.Relational.queries ++ ops.Events.queries ++
      ops.TextAnalysis.queries ++ ops.Dedup.queries ++
      ops.Similarity.queries ++ multimodal.Multimodal.queries ++
      ops.Pipeline.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    ops.Relational.oracle ++ ops.Events.oracle ++
      ops.TextAnalysis.oracle ++ ops.Dedup.oracle ++
      ops.Similarity.oracle ++ multimodal.Multimodal.oracle ++
      ops.Pipeline.oracle

  /** Queries whose CONSTRUCTION executes a real streaming run (the
    * returned frame is the gate's memory-sink table, or the builder
    * eagerly seeds sink writes / a streamed ingest). One canonical
    * set, consumed by two mechanisms: the test sweeps exclude them
    * from board-wide batch passes (each gate executes once, where its
    * own spec drives it), and Verify runs them CONCURRENTLY on
    * separate scheduler pools — each gate's wall time is dominated by
    * a per-micro-batch trigger floor, which is idle time that overlaps
    * across independent gates. That floor was once taken as fixed; part
    * of it was per-run set-up the gates no longer pay (Hadoop forks per
    * checkpoint file, and a recompile of every generated class on each
    * run's new session clone: see `MemoryGate.GateConfs`).
    * Correctness is untouched (per-gate checkpoints, state dirs, and
    * uniquely named sink tables — the driver's hash gate proves it
    * every round). Bench stays serial:
    * timings must price each query alone.
    */
  val streamingGated: Set[String] = Set("d10_stream_dedup",
    "e07_stream_hourly_counts", "e14_kinesis_roundtrip_agg",
    "e34_dlq_replay_agg", "e35_dlq_replay_under_fault",
    "s49_ann_stream_ingest_serving", "e39_stream_asof_attribution",
    "e16_stream_sessions", "e18_stream_static_join",
    "e19_stream_interval_join", "e21_stream_outer_join",
    "e24_stream_dedup_watermark", "e26_stream_full_outer_join",
    "e27_stream_chained_agg", "e29_stream_join_rollup")
}
