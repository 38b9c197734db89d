package graft.sink

import scala.collection.mutable

import org.apache.spark.TaskContext
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.apache.spark.util.LongAccumulator

/** The Kinesis sink, re-expressing the reference's `Sink` facade
  * (/root/reference/sink.go) on Structured Streaming:
  *
  *  - `Send(msg, topic)` (sink.go:66-77) → rows flowing through a
  *    streaming query; the topic is either a per-query `stream` option or
  *    a per-row `stream` column (dynamic routing — the per-topic producer
  *    map becomes per-stream grouping inside each write task);
  *  - UUIDv4 partition keys sprayed per message (utils.go:15-19) →
  *    generated in each write task when no partitionKey is given,
  *    seeded per write (per micro-batch for `start`) and per partition;
  *  - the per-topic producer goroutine and its dual trigger
  *    (batchproducer.go:244-261) → micro-batch trigger supplies the time
  *    axis, in-task chunking ≤500 supplies the size axis;
  *  - `Close()`'s flush-with-timeout (sink.go:111-126) → the final epoch
  *    commits before `stop()` returns (`spark.sql.streaming.stopTimeout`);
  *  - `Restart()` (sink.go:128-140) → restart the query on the same
  *    checkpoint; delivery stays at-least-once across the replayed epoch.
  *
  * Scale posture: no driver-side per-record state; every record is
  * handled inside its partition's task, and stats travel on accumulators
  * (Spark sums them natively across 1000s of tasks).
  */
object KinesisSink extends Logging {

  /** Task-summed delivery counters, mirroring `StatsBatch`
    * (batchproducer.go:58-66) — the per-interval snapshot becomes
    * monotonic accumulators the driver can diff per progress event.
    */
  final class Metrics private (
      val recordsSent: LongAccumulator,
      val recordsDropped: LongAccumulator,
      val kinesisErrors: LongAccumulator,
      val putRequests: LongAccumulator) extends Serializable {
    /** Add one task's totals. */
    def add(s: WriteStats): Unit = {
      recordsSent.add(s.recordsSent)
      recordsDropped.add(s.recordsDropped)
      kinesisErrors.add(s.kinesisErrors)
      putRequests.add(s.putRequests)
    }
  }

  object Metrics {
    def register(spark: SparkSession): Metrics = {
      val Seq(sent, dropped, errors, requests) = WriteStats.names
        .map(n => spark.sparkContext.longAccumulator(s"graft.kinesis.$n"))
      new Metrics(sent, dropped, errors, requests)
    }
  }

  /** Normalize any input frame to the wire schema
    * `(stream string, partitionKey string, data binary)`:
    * missing partitionKey → null, which the write task replaces with a
    * UUIDv4 (utils.go:15-19; see [[KinesisTaskRouter]]); missing stream
    * column → the query-level default; string `data` is cast to binary
    * (the reference's payloads are opaque bytes). The projection is
    * deterministic, so its generated code is compiled once and reused.
    */
  def toWire(df: DataFrame, defaultStream: Option[String]): DataFrame = {
    val cols = df.columns.toSet
    require(cols.contains("data"), "input must have a 'data' column")
    val withStream =
      if (cols.contains("stream")) df
      else df.withColumn("stream", lit(defaultStream.getOrElse(
        throw new IllegalArgumentException(
          "no 'stream' column and no default stream option"))))
    val withPk =
      if (cols.contains("partitionKey")) withStream
      else withStream.withColumn("partitionKey", lit(null).cast(StringType))
    withPk.select(
      col("stream").cast(StringType),
      col("partitionKey").cast(StringType),
      col("data").cast(BinaryType))
  }

  /** One row of the dead-letter quarantine: the record delivery gave
    * up on (attempt-capped or load-shed), its routing, and the reason.
    */
  final case class DeadLetterRow(stream: String, partitionKey: String,
      data: Array[Byte], reason: String)

  /** Delivers one partition through a [[KinesisTaskRouter]]; returns the
    * dead-lettered records (strictly — delivery completes before the
    * iterator is handed back; the buffer holds only DROPPED records,
    * bounded by the admission-bounded batch), with the keys they were
    * sent under, generated ones included. Shared by both [[writeBatch]]
    * actions.
    */
  private def deliverPartition(rows: Iterator[Row], o: KinesisSinkOptions,
      m: Metrics, writeSeed: Long): Iterator[DeadLetterRow] = {
    val dropped = mutable.ArrayBuffer.empty[DeadLetterRow]
    val router = KinesisTaskRouter(o, writeSeed, TaskContext.getPartitionId(),
      (stream, r, why) =>
        dropped += DeadLetterRow(stream, r.partitionKey, r.data, why))
    rows.foreach(r =>
      router.add(r.getString(0), r.getString(1), r.getAs[Array[Byte]](2)))
    m.add(router.flush())
    dropped.iterator
  }

  /** Write one (micro-)batch, each partition through its own router.
    * Missing keys are seeded from one seed drawn here, so a retried task
    * re-sends the keys it sent before; a replayed micro-batch draws a
    * new seed and so gets new keys.
    *
    * With `dead_letter_path` configured, the SAME delivery pass runs as
    * a `mapPartitions` whose action is a parquet append of the
    * quarantined records — the DLQ files land through Spark's
    * committer (no torn files; a failed job's attempts are discarded),
    * and delivery keeps its at-least-once contract: a replayed epoch
    * re-sends and may re-quarantine (dedup on read by partitionKey if
    * needed). The reference can only COUNT its drops (StatsBatch); the
    * quarantine keeps the records themselves for replay/forensics.
    * Micro-batches append small files — `Layout.compact` is the
    * maintenance op.
    */
  def writeBatch(wire: DataFrame, o: KinesisSinkOptions, m: Metrics): Unit = {
    val seed = KinesisTaskRouter.newWriteSeed()
    o.deadLetterPath match {
      case None =>
        wire.foreachPartition { rows: Iterator[Row] =>
          // drops counted only
          deliverPartition(rows, o, m, seed).foreach(_ => ())
        }
      case Some(path) =>
        import org.apache.spark.sql.Encoders
        wire.mapPartitions(rows => deliverPartition(rows, o, m, seed))(
            Encoders.product[DeadLetterRow])
          .write.mode("append").parquet(path)
    }
  }

  /** Batch-mode write (the library surface for non-streaming callers). */
  def write(df: DataFrame, options: Map[String, String]): Metrics = {
    val o = KinesisSinkOptions.fromMap(options)
    val m = Metrics.register(df.sparkSession)
    writeBatch(toWire(df, o.stream), o, m)
    m
  }

  /** Replay the dead-letter quarantine — the closed loop the DLQ
    * exists for: after the fault is fixed (throttle lifted, stream
    * recreated, payload bug patched), re-send everything quarantined
    * so far and REMOVE what this replay consumed. The consumed set is
    * snapshotted FIRST (file listing), so records quarantined by a
    * concurrent writer — or re-quarantined by this very replay, if the
    * fault persists — land in NEW files and survive untouched; the
    * snapshot files are deleted only after the replay's delivery job
    * (including its own DLQ append) completes. A crash between
    * delivery and deletion re-replays on the next run — at-least-once,
    * the sink's own contract, and the reason replay targets should
    * tolerate duplicates (the partitionKey travels with the record for
    * exactly that dedup). Returns the delivery metrics; rows whose
    * delivery fails again are re-quarantined with fresh reasons.
    */
  def replayDeadLetters(spark: SparkSession,
      options: Map[String, String]): Metrics = {
    val o = KinesisSinkOptions.fromMap(options)
    val path = o.deadLetterPath.getOrElse(throw new IllegalArgumentException(
      "replayDeadLetters needs dead_letter_path"))
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Metrics.register(spark)
    val consumed = fs.listStatus(p).map(_.getPath)
      .filter(f => f.getName.endsWith(".parquet"))
    if (consumed.isEmpty) return Metrics.register(spark)
    val m = Metrics.register(spark)
    val quarantined = spark.read
      .parquet(consumed.map(_.toString): _*)
      .select(col("stream"), col("partitionKey"), col("data"))
    writeBatch(quarantined, o, m)
    consumed.foreach(f => fs.delete(f, false))
    m
  }

  /** `Close()` parity (S6, sink.go:111-126): drain-then-stop, bounding
    * the drain by the configured flush timeout
    * (`kinesis_flush_timeout_ms`, default 30 s like the reference's
    * `kinesis_flush_timeout`).
    *
    * `query.stop()` alone is NOT a graceful flush — Spark cancels the
    * query's jobs immediately — so this first waits (bounded) for the
    * pending backlog via `processAllAvailable`. On timeout the stop
    * proceeds anyway: unlike the reference, nothing is lost — the
    * uncommitted epoch replays from the checkpoint on restart
    * (at-least-once). The stop-timeout conf is set on the QUERY's own
    * session (not whatever session is thread-active), under the
    * session's lock so concurrent stops can't cross-contaminate.
    */
  def stop(query: StreamingQuery, options: Map[String, String]): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val o = KinesisSinkOptions.fromMap(options)
    try Await.result(Future(query.processAllAvailable()),
      o.flushTimeoutMs.millis)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        logWarning(s"kinesis-sink: backlog not drained within " +
          s"${o.flushTimeoutMs} ms; stopping anyway (epoch will replay " +
          "from checkpoint on restart)")
    }
    val spark = query.sparkSession
    spark.synchronized {
      val prev = spark.conf.getOption("spark.sql.streaming.stopTimeout")
      spark.conf.set("spark.sql.streaming.stopTimeout",
        o.flushTimeoutMs.toString)
      try query.stop()
      finally prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stopTimeout", v)
        case None => spark.conf.unset("spark.sql.streaming.stopTimeout")
      }
    }
  }

  /** Streaming-mode write — the `Send` surface (S3). Validates options at
    * start, like `New` (batchproducer.go:143-153). Stop/restart on the
    * same checkpoint dir gives `Close`/`Restart` (S6/S7) semantics.
    */
  def start(df: DataFrame, options: Map[String, String],
      checkpointDir: String, queryName: String = "kinesis-graft",
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery = {
    val o = KinesisSinkOptions.fromMap(options) // fail fast
    val m = Metrics.register(df.sparkSession)
    df.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        writeBatch(toWire(batch, o.stream), o, m)
      }
      .start()
  }
}
