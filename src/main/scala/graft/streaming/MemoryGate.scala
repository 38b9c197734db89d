package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared scaffold for the oracle-gated streaming queries (e07, e16,
  * d10): run a streaming aggregation to completion into a named memory
  * sink and hand back the result table. One definition of the
  * stop/await discipline instead of a copy per gate.
  */
object MemoryGate {

  /** Complete-mode execution of `df` into memory table `name`: process
    * everything available, then stop — bounded-fixture semantics (a
    * production query keeps running; these gates terminate so the
    * driver can hash the result).
    */
  def complete(s: SparkSession, df: DataFrame, name: String): DataFrame =
    run(s, df, name, "complete")

  /** Append-mode execution — the mode stream-stream joins emit in
    * (each matched pair exactly once, no result-table replacement).
    */
  def append(s: SparkSession, df: DataFrame, name: String): DataFrame =
    run(s, df, name, "append")

  /** State partition count for the gated runs. A streaming query plans
    * one state store PER shuffle partition PER stateful operator PER
    * micro-batch — commit/snapshot overhead scales with the partition
    * count, not the data, and the gated fixtures are small. 8 keeps the
    * gates honest (real shuffles, real state machinery, multi-partition
    * parallelism) without paying 32 stores' bookkeeping per batch. A
    * production deployment sizes this to the cluster the same way —
    * state partitioning is fixed at the query's FIRST run and recorded
    * in its checkpoint, so it is a per-query deployment choice, not a
    * semantics choice (results are partition-count-independent; the
    * hash gate proves it).
    */
  private val StatePartitions = "8"

  /** Session confs for every gated run (and the test session, which
    * applies the same list).
    *
    * State store backend: RocksDB, not the default heap-backed
    * HDFSBackedStateStore. The default keeps every key of every stateful
    * operator's state ON HEAP per executor — at 100 TB stream-stream
    * join state (e19/e21/e26/e29) that is an executor-OOM waiting for a
    * skewed key, and GC pressure long before that. RocksDB spills state
    * to local disk with a bounded block cache, and changelog
    * checkpointing ships per-batch deltas instead of re-uploading full
    * SST snapshots — the production configuration for large-state
    * Structured Streaming. Correctness is backend-invariant (the oracle
    * hash gate proves it per query); only the memory ceiling moves.
    *
    * Checkpoint files: a gate sets no checkpoint location, so Spark
    * writes its offset log, commit log and state under a temporary
    * `temporary-<uuid>` directory in `java.io.tmpdir` and deletes it
    * when the query stops. That is a local (`file:`) path, which Spark
    * would write through Hadoop's local file system; without Hadoop's
    * native IO library that forks `chmod`/`ls` several times per file,
    * and those forks, not RocksDB, were most of a small gate's
    * per-batch cost. [[LocalCheckpointFileManager]] writes the same
    * files with java.nio (one rename per file) and leaves non-local
    * paths to Spark's own managers.
    *
    * Artifact isolation off: Spark caches generated classes
    * (`CodeGenerator.compile`) per task context class loader as well as
    * per source, and every streaming query runs on a clone of its
    * session with a new session UUID, for which executors build a new
    * isolated class loader (`Executor.isolatedSessionCache`). With
    * isolation on, every gate run therefore missed the cache and its
    * tasks waited on Janino recompiling every class the cold run had
    * already compiled (11 per warm e07). Isolation keeps jars, files and
    * classes added to one session out of another; gate sessions add
    * none, so it protects nothing here, and with it off a warm gate
    * compiles nothing.
    */
  val GateConfs: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true",
    // skip RocksDB's per-store row-count maintenance (a full state
    // scan on load when the count is unknown; bookkeeping per commit
    // otherwise). The count feeds only the numTotalStateRows METRIC —
    // results are identical (the hash gate proves it per query); the
    // documented production knob for commit-latency-sensitive jobs.
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" ->
      "false",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[LocalCheckpointFileManager].getName,
    "spark.sql.artifact.isolation.enabled" -> "false")

  /** ONE isolated gate session per (SparkContext, conf signature),
    * shared by every gate that needs that exact conf set — the r11
    * verdict's floor-shaving lever. A fresh `newSession()` per gate
    * paid clone + sessionState construction (analyzer, catalogs,
    * extension re-application) once per gated query for confs that are
    * IDENTICAL across the family; the cache pays it once per JVM. The
    * isolation argument is unchanged: the gate confs (8 state
    * partitions, [[GateConfs]], the complete-mode no-data skip)
    * live on the cached clone only and never leak to the caller's
    * session. Nothing STATEFUL is shared between gates on the clone:
    * each streaming query still gets its own checkpoint + state
    * directories and its own uniquely-named memory sink table (the
    * per-gate namespace — returned frames stay valid across gates),
    * so no closed-region property weakens; the hash gates prove it.
    *
    * Why (applicationId, mode) IS the full cache key: `newSession()`
    * builds the clone's SessionState from the shared SparkContext's
    * SparkConf — it never inherits a caller session's RUNTIME conf
    * overrides (that is `newSession`'s documented isolation, distinct
    * from `cloneSession`). So two callers on one context receive
    * identical clones no matter what their own sessions carry, and
    * the key's two components are exactly the clone's determinants.
    * One sharing consequence to know: the memory sink registers per
    * QUERY NAME in the clone's shared temp catalog, so re-running a
    * gate under an already-used name REPLACES the table that a
    * previously returned frame reads — board sweeps use unique names;
    * a caller re-gating a name should collect the old frame first.
    */
  private val gateSessions =
    new java.util.concurrent.ConcurrentHashMap[String, SparkSession]()

  private def gateSession(s: SparkSession, mode: String): SparkSession = {
    // complete vs append differ in the no-data-batch conf (below), so
    // they are distinct signatures; keyed by applicationId so a test
    // JVM with a different context never receives a stale clone
    val key = s"${s.sparkContext.applicationId}|$mode"
    gateSessions.computeIfAbsent(key, _ => {
      val g = s.newSession()
      g.conf.set("spark.sql.shuffle.partitions", StatePartitions)
      GateConfs.foreach { case (k, v) => g.conf.set(k, v) }
      // COMPLETE-mode gates don't need the no-data finalizing batch:
      // it exists to advance the watermark so APPEND-mode operators
      // can emit/evict their closed regions, but complete mode
      // re-emits the full result table every batch and evicts nothing
      // — the extra batch just re-commits every state store
      // (partitions × ops) to rewrite an identical table. Append
      // gates keep it: their final windows/joins FLUSH on exactly
      // that batch.
      if (mode == "complete")
        g.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
          "false")
      g
    })
  }

  /** One definition of the start/process/stop/await discipline.
    *
    * The run executes on the cached isolated clone ([[gateSession]])
    * with the gate's conf set applied there only. Earlier rounds
    * swapped `spark.sql.shuffle.partitions` on the shared session
    * under a lock, which serialized gates against each other but
    * still leaked 8 partitions into any batch query planned
    * concurrently on the same session; the clone removes the hazard
    * instead of narrowing it, and needs no lock. The clone inherits
    * builder-time confs (UTC session timezone, nanosAsLong) from the
    * SparkConf; the gate plans are pure DataFrame API, so re-analysis
    * on the clone resolves nothing session-local. The memory sink's
    * table registers in the clone's temp catalog — read it there, and
    * hand back a result bound to the clone (its conf is the right one
    * for the tiny post-gate presentation transforms too).
    */
  private def run(s: SparkSession, df: DataFrame, name: String,
      mode: String): DataFrame = {
    val g = gateSession(s, mode)
    val rebound = org.apache.spark.sql.graft.SessionRebind
      .rebind(df, g)
    val q = rebound.writeStream.outputMode(mode)
      .format("memory").queryName(name)
      .start()
    try q.processAllAvailable()
    finally {
      // measurement hook (off by default): per-micro-batch duration
      // breakdown to stderr, so gate cost attributes to addBatch /
      // state commit / offset bookkeeping instead of guesswork.
      // Diagnostics must never preempt q.stop() (an exception here
      // would leak a running query into the shared gate clone and
      // mask the primary failure), so the hook swallows its own errors.
      try {
        if (s.conf.get("spark.graft.gate.progress", "false") == "true")
          q.recentProgress.foreach { p =>
            System.err.println(s"[gate $name] batch=${p.batchId} " +
              s"rows=${p.numInputRows} durationMs=${p.durationMs} " +
              s"state=${p.stateOperators.map(o =>
                s"(rows=${o.numRowsTotal},updated=${o.numRowsUpdated}," +
                  s"commitMs=${o.commitTimeMs},mem=${o.memoryUsedBytes})")
                .mkString(";")}")
          }
      } catch { case e: Throwable =>
        System.err.println(s"[gate $name] progress hook failed: " +
          e.getMessage)
      }
      q.stop(); q.awaitTermination(30000)
    }
    g.table(name)
  }
}
