package graft.sink

import java.util.concurrent.ThreadLocalRandom
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.internal.Logging
import org.apache.spark.sql.catalyst.util.RandomUUIDGenerator

/** Writer configuration, mirroring the reference's `Config` knobs and
  * defaults (/root/reference/batchproducer/batchproducer.go:73-124):
  * batch ≤500 (Kinesis API cap, :14-15, validated :143-145), default
  * maxAttemptsPerRecord 10 (:121), backoff base 50 ms doubling per
  * consecutive error (:334-344), load-shed after ≥5 consecutive request
  * errors (:354-357). Knobs the reference needs for its unbounded buffer
  * (BufferSize, AddBlocksWhenBufferFull, FlushInterval) have no writer
  * equivalent — a Spark micro-batch is already bounded and the trigger
  * interval lives on the streaming query (`Trigger.ProcessingTime`).
  *
  * `onPersistentErrorDrop`: the reference can only drop when errors
  * persist (its caller owns the thread); a Spark task can instead fail
  * and let the scheduler retry the task, so failing is our default and
  * dropping is opt-in.
  */
final case class KinesisWriterConfig(
    batchSize: Int = 500,
    maxAttemptsPerRecord: Int = 10,
    baseBackoffMs: Long = 50L,
    maxBackoffMs: Long = 30000L,
    maxConsecutiveErrors: Int = 5,
    onPersistentErrorDrop: Boolean = false) {
  require(batchSize >= 1 && batchSize <= 500,
    s"batchSize must be in [1,500], got $batchSize") // batchproducer.go:143-145
  require(maxAttemptsPerRecord >= 1, "maxAttemptsPerRecord must be >= 1")
}

/** Counters mirroring `StatsBatch`
  * (/root/reference/batchproducer/batchproducer.go:58-66). Surfaced per
  * task; Spark sums task metrics natively when these back CustomMetrics.
  */
final case class WriteStats(
    recordsSent: Long = 0L,
    recordsDropped: Long = 0L,
    kinesisErrors: Long = 0L,
    putRequests: Long = 0L) {
  def +(o: WriteStats): WriteStats = WriteStats(
    recordsSent + o.recordsSent, recordsDropped + o.recordsDropped,
    kinesisErrors + o.kinesisErrors, putRequests + o.putRequests)

  /** `(metric name, value)` per counter: the one list of names both sink
    * surfaces publish (accumulators, DSv2 task and sink metrics).
    */
  def named: Seq[(String, Long)] = Seq("recordsSent" -> recordsSent,
    "recordsDropped" -> recordsDropped, "kinesisErrors" -> kinesisErrors,
    "putRequests" -> putRequests)
}

object WriteStats {
  val names: Seq[String] = WriteStats().named.map(_._1)
}

/** Async error reporting seam, mirroring the reference's `Events()`
  * channel (/root/reference/sink.go:106-109, event.go:4-33). In the
  * streaming sink this is fed into the `StreamingQueryListener` bus.
  */
trait KinesisEventListener extends Serializable {
  def onError(message: String): Unit
}
object KinesisEventListener {
  val noop: KinesisEventListener = new KinesisEventListener {
    override def onError(message: String): Unit = ()
  }
}

/** The data plane of the reference's batch producer, re-expressed as a
  * pure per-task function `Iterator[KinesisRecord] → WriteStats` — the
  * [[KinesisTaskRouter]] of each write task runs one per stream.
  *
  * Semantics preserved from the reference:
  *  - micro-batching ≤ `batchSize` ≤ 500 records per `PutRecords`
  *    (`takeRecordsFromBuffer`/`recordsToInput`, batchproducer.go:396-421);
  *  - exponential backoff 50 ms·2ⁿ⁻¹ after n consecutive request errors,
  *    reset on success (`sendBatch`, batchproducer.go:334-344,367-368);
  *  - request-level failure → error event + retry of the whole batch
  *    (batchproducer.go:349-361), except after `maxConsecutiveErrors`
  *    failures: drop the batch if `onPersistentErrorDrop` (the
  *    reference's load-shed, batchproducer.go:354-357) else rethrow so
  *    Spark's task retry takes over — strictly better than the
  *    reference, which had no outer retry layer;
  *  - partial failure → selective re-send of only the failed entries
  *    (`returnSomeFailedRecordsToBuffer`, batchproducer.go:438-456),
  *    attempt-capped per record at `maxAttemptsPerRecord` then dropped
  *    with an error event (batchproducer.go:445-453);
  *  - stats counters per `StatsBatch` (batchproducer.go:458-470).
  *
  * Deliberate improvement: the reference re-enqueues failed records via
  * goroutines and documents that this breaks ordering
  * (batchproducer.go:360,423-426,434-437); here retries happen in-task
  * and in-place, so intra-partition order is preserved.
  *
  * `sleep` is injectable so tests assert the backoff schedule against a
  * recorded clock instead of wall time (the reference's tests assert
  * 6–16 ms wall-clock windows, batchproducer_test.go:734-808 — flaky by
  * design; we record instead).
  */
final class KinesisRecordWriter(
    client: KinesisPutRecords,
    stream: String,
    config: KinesisWriterConfig = KinesisWriterConfig(),
    listener: KinesisEventListener = KinesisEventListener.noop,
    sleep: Long => Unit = Thread.sleep,
    deadLetter: (KinesisRecord, String) => Unit =
      KinesisRecordWriter.noDeadLetter) extends Serializable {
  import KinesisRecordWriter.Attempt

  /** Write everything in `records`; returns the stats. Throws after
    * `maxConsecutiveErrors` request-level failures unless configured to
    * drop. Never buffers more than one batch — constant memory per task
    * regardless of partition size, which is what makes this safe on a
    * 100 TB input split across thousands of tasks.
    */
  def write(records: Iterator[KinesisRecord]): WriteStats = {
    var stats = WriteStats()
    var consecutiveErrors = 0
    records.grouped(config.batchSize).foreach { group =>
      var pending = group.map(Attempt(_, 0)).toSeq
      // Consecutive partial-failure rounds for THIS batch: per-record
      // throttling must back off too, or a transiently throttled shard
      // burns all maxAttemptsPerRecord within milliseconds and drops
      // records (the reference's re-enqueued records implicitly waited
      // for the next flush tick; we wait explicitly).
      var partialRetries = 0
      while (pending.nonEmpty) {
        // Backoff before any attempt that follows an error, mirroring
        // sendBatch's entry delay (batchproducer.go:334-344).
        val errorStreak = math.max(consecutiveErrors, partialRetries)
        if (errorStreak > 0) {
          val exp = math.min(errorStreak - 1, 20)
          sleep(math.min(config.baseBackoffMs << exp, config.maxBackoffMs))
        }
        val attempt = pending
        try {
          val results = client.putRecords(stream, attempt.map(_.record))
          stats = stats.copy(putRequests = stats.putRequests + 1)
          consecutiveErrors = 0
          val (failed, succeeded) = attempt.zip(results).partition(_._2.failed)
          stats = stats.copy(recordsSent = stats.recordsSent + succeeded.size)
          // Selective retry of only the failed entries, order preserved;
          // attempt-capped drop (batchproducer.go:438-456).
          val (retry, dropped) = failed
            .map { case (a, r) => (Attempt(a.record, a.attempts + 1), r) }
            .partition(_._1.attempts < config.maxAttemptsPerRecord)
          dropped.foreach { case (a, r) =>
            listener.onError(s"dropping record after ${a.attempts} attempts: " +
              s"${r.errorCode.getOrElse("")} ${r.errorMessage.getOrElse("")}")
            deadLetter(a.record, s"max_attempts:${a.attempts}:" +
              s"${r.errorCode.getOrElse("")}")
          }
          stats = stats.copy(recordsDropped = stats.recordsDropped + dropped.size)
          pending = retry.map(_._1)
          partialRetries = if (pending.isEmpty) 0 else partialRetries + 1
        } catch {
          case e: KinesisRequestException =>
            stats = stats.copy(
              kinesisErrors = stats.kinesisErrors + 1,
              putRequests = stats.putRequests + 1)
            consecutiveErrors += 1
            listener.onError(s"PutRecords request failed: ${e.getMessage}")
            if (consecutiveErrors >= config.maxConsecutiveErrors) {
              if (config.onPersistentErrorDrop) {
                // Load-shed, mirroring batchproducer.go:354-357.
                listener.onError(
                  s"dropping batch of ${attempt.size} after $consecutiveErrors " +
                    "consecutive request errors")
                attempt.foreach(a => deadLetter(a.record,
                  s"load_shed:$consecutiveErrors"))
                stats = stats.copy(
                  recordsDropped = stats.recordsDropped + attempt.size)
                pending = Seq.empty
                consecutiveErrors = 0
              } else {
                throw new KinesisRequestException(
                  s"$consecutiveErrors consecutive PutRecords failures on " +
                    s"stream '$stream': ${e.getMessage}")
              }
            }
          // else: loop retries the same `pending` batch, order intact.
        }
      }
    }
    stats
  }
}

private object KinesisRecordWriter {
  private final case class Attempt(record: KinesisRecord, attempts: Int)

  /** Default dead-letter sink: none. Both drop sites (the per-record
    * attempt cap and the load-shed batch drop) route through the
    * callback, so a configured DLQ sees EVERY record the at-least-once
    * contract gives up on, with the reason it was given up.
    */
  private[sink] val noDeadLetter: (KinesisRecord, String) => Unit =
    (_, _) => ()
}

/** One write task's delivery core, shared by both sink surfaces
  * ([[KinesisSink]]'s foreachBatch path and the DSv2 writer). It routes
  * `(stream, partitionKey, data)` values into per-stream buffers of at
  * most `batchSize` records, each flushed through that stream's own
  * [[KinesisRecordWriter]], so task memory is O(streams · batchSize)
  * whatever the partition size. A null `stream` goes to the `stream`
  * option's default. A null `partitionKey` gets a UUIDv4 string
  * (utils.go:15-19) from Spark's `RandomUUIDGenerator`, seeded by
  * [[KinesisTaskRouter.keySeed]] from the write's seed and the task's
  * partition id: a retried task regenerates the same keys, and no task
  * waits on the JVM-wide `SecureRandom`. Request errors are logged as
  * warnings, and every record delivery gives up on reaches `deadLetter`
  * with its stream, generated key and reason.
  */
private[sink] final class KinesisTaskRouter(
    client: KinesisPutRecords,
    config: KinesisWriterConfig,
    defaultStream: Option[String],
    writeSeed: Long,
    partitionId: Int,
    deadLetter: (String, KinesisRecord, String) => Unit,
    sleep: Long => Unit = Thread.sleep) {
  import KinesisTaskRouter.Lane

  private val fallbackStream = defaultStream.orNull
  private val keys =
    RandomUUIDGenerator(KinesisTaskRouter.keySeed(writeSeed, partitionId))
  // insertion order: the final flush visits streams in first-seen order
  private val lanes = new java.util.LinkedHashMap[String, Lane]()
  private var total = WriteStats()

  /** Everything this task has sent, dropped and requested so far. */
  def stats: WriteStats = total

  def add(stream: String, partitionKey: String, data: Array[Byte]): Unit = {
    val s = if (stream != null) stream else fallbackStream
    var lane = lanes.get(s)
    if (lane == null) lane = open(s)
    lane.buf += KinesisRecord(
      if (partitionKey != null) partitionKey else keys.getNextUUID().toString,
      data)
    if (lane.buf.size >= config.batchSize) drain(lane)
  }

  /** Flush every stream's buffer; returns the task's total stats. */
  def flush(): WriteStats = {
    lanes.values.forEach(drain(_))
    total
  }

  // The per-row path stays small; a new stream, or a null one with no
  // default, is handled here.
  private def open(stream: String): Lane = {
    if (stream == null) throw new IllegalArgumentException(
      "record has null 'stream' and no default stream option is set")
    val lane = new Lane(new KinesisRecordWriter(client, stream, config,
      KinesisTaskRouter.warn, sleep, (r, why) => deadLetter(stream, r, why)),
      new ArrayBuffer[KinesisRecord](config.batchSize))
    lanes.put(stream, lane)
    lane
  }

  private def drain(lane: Lane): Unit = if (lane.buf.nonEmpty) {
    total = total + lane.writer.write(lane.buf.iterator)
    lane.buf.clear()
  }
}

private[sink] object KinesisTaskRouter extends Logging {
  private final class Lane(val writer: KinesisRecordWriter,
      val buf: ArrayBuffer[KinesisRecord])

  private val warn: KinesisEventListener =
    msg => logWarning(s"kinesis-sink: $msg")

  /** A write's key seed, drawn once per write before its tasks run (per
    * micro-batch on the foreachBatch path).
    */
  def newWriteSeed(): Long = ThreadLocalRandom.current().nextLong()

  /** The key generator's seed for one partition of a write: the write
    * seed times an odd constant, plus the partition id. A plain sum
    * would give seed s, partition p+1 the keys of seed s+1, partition p;
    * the multiplier keeps any two writes whose seeds differ by less than
    * 2^24 apart for every pair of partition ids.
    */
  def keySeed(writeSeed: Long, partitionId: Int): Long =
    writeSeed * 0x9E3779B97F4A7C15L + partitionId

  /** The router for partition `partitionId` of a write seeded with
    * `writeSeed`, with sink options `o`.
    */
  def apply(o: KinesisSinkOptions, writeSeed: Long, partitionId: Int,
      deadLetter: (String, KinesisRecord, String) => Unit =
        (_, _, _) => ()): KinesisTaskRouter =
    new KinesisTaskRouter(KinesisSinkOptions.resolveClient(o), o.writer,
      o.stream, writeSeed, partitionId, deadLetter)
}
