package graft.sink

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** DSv2 *source* half of `format("kinesis-graft")`: completes the
  * reference's consumption path — its integration suite reads back what
  * the sink wrote via `GetShardIterator(TRIM_HORIZON)` + a `GetRecords`
  * loop (/root/reference/integration_test.go:112-143) — as a Structured
  * Streaming `MicroBatchStream` (plus a convenience batch `Scan`).
  *
  * Scale model: one input partition per shard per micro-batch, so read
  * parallelism is the stream's shard count — on a real cluster each
  * executor core drains its own shard, exactly how Kinesis consumers
  * scale. Offsets are per-shard next-sequence-numbers plus the retired
  * (drained-to-close) shard set, checkpointed by Spark; recovery replays
  * the batch from the same `(start, end)` bounds, so a restarted query
  * never re-delivers records from committed epochs (the source-side twin
  * of the sink's `TestRestart`,
  * /root/reference/integration_test.go:175-198). Resharding is FOLLOWED:
  * closed parents drain to their final sequence, then children are
  * admitted at TRIM_HORIZON (see `reconcileLayout`), preserving per-key
  * order across the transition; only a lineage-less layout change fails
  * the query.
  *
  * Options (same Viper-derived surface as the sink,
  * [[KinesisSinkOptions]]): `stream` (required here), `aws_region_name`
  * (required — parity with utils.go:24-26), `client` (`fake:<name>` in
  * this zero-egress env), `starting_position`
  * (`trim_horizon` default | `latest` | `at_timestamp` with
  * `starting_timestamp_ms` — the "replay from this instant" entry
  * point, seeking each shard's ApproximateArrivalTimestamp),
  * `max_records_per_fetch`
  * (GetRecords page size, default 10000 — the AWS cap),
  * `max_records_per_trigger` (admission control: cap per micro-batch,
  * split across shards; 0 = unbounded).
  */
private[sink] object KinesisGraftSource {
  val readSchema: StructType = StructType(Seq(
    StructField("stream", StringType),
    StructField("partitionKey", StringType),
    StructField("data", BinaryType),
    StructField("shardId", StringType),
    StructField("sequenceNumber", LongType)))

  def streamName(opts: KinesisSinkOptions): String =
    opts.stream.getOrElse(throw new IllegalArgumentException(
      "kinesis-graft source requires the 'stream' option"))
}

/** Thrown when the stream's shard layout changed in a way the source
  * cannot FOLLOW safely: a new shard appeared without lineage (so its
  * records cannot be ordered against committed data — real splits and
  * merges always carry parent ids), or a shard vanished while its
  * checkpointed cursor had not reached its end (retention expired under
  * the query: data loss). Genuine splits/merges do NOT raise this — see
  * `KinesisGraftMicroBatchStream.latestOffset`, which drains closed
  * parents to their final sequence and then admits their children.
  */
final class KinesisReshardingException(msg: String)
    extends IllegalStateException(msg)

/** Source progress, JSON-serialized into the checkpoint's offset log:
  *
  *  - `shardOffsets` — next-sequence cursor per ACTIVE shard (open, or
  *    closed-but-still-draining);
  *  - `done` — shards drained to their close (end-of-shard) and retired;
  *    kept in the offset so a restart never re-admits a finished parent,
  *    and so child admission ("all parents done?") survives recovery
  *    mid-reshard.
  *
  * `json()` MUST be canonical (fixed field order, keys sorted): the
  * streaming engine detects "new data" by comparing offset JSON strings,
  * so two equal offsets serialized in different orders would read as
  * different — the rotating admission allocation built exactly that, and
  * every trigger then committed an empty "new" batch forever (observed:
  * 8,270 consecutive identical-offset commits before canonicalization).
  *
  * `fromJson` also accepts the v1 format (a flat shard→seq map) so a
  * checkpoint written before resharding-follow restores cleanly (as all
  * shards active, none done — exactly what v1 could express).
  */
private[sink] final case class KinesisSourceOffset(
    shardOffsets: Map[String, Long],
    done: Set[String] = Set.empty) extends Offset {
  private implicit val fmts: Formats = DefaultFormats
  override def json(): String =
    Serialization.write(scala.collection.immutable.ListMap(
      "done" -> done.toSeq.sorted,
      "pos" -> scala.collection.immutable.SortedMap(shardOffsets.toSeq: _*)))
}

private[sink] object KinesisSourceOffset {
  private implicit val fmts: Formats = DefaultFormats
  def fromJson(json: String): KinesisSourceOffset = {
    val parsed = org.json4s.jackson.JsonMethods.parse(json)
    (parsed \ "pos") match {
      case o: org.json4s.JObject =>
        KinesisSourceOffset(o.extract[Map[String, Long]],
          (parsed \ "done").extract[Seq[String]].toSet)
      case _ => // v1: flat map
        KinesisSourceOffset(Serialization.read[Map[String, Long]](json))
    }
  }
}

private[sink] final class KinesisGraftScanBuilder(
    options: CaseInsensitiveStringMap) extends ScanBuilder {
  import scala.jdk.CollectionConverters._
  private val opts =
    KinesisSinkOptions.fromMap(options.asCaseSensitiveMap().asScala.toMap)
  private val startingPosition =
    options.getOrDefault("starting_position", "trim_horizon")
      .toUpperCase match {
      case "TRIM_HORIZON" => "TRIM_HORIZON"
      case "LATEST" => "LATEST"
      case "AT_TIMESTAMP" => "AT_TIMESTAMP"
      case other => throw new IllegalArgumentException(
        "starting_position must be trim_horizon|latest|at_timestamp, " +
          s"got '$other'")
    }
  // AT_TIMESTAMP's instant (epoch millis) — the operational "replay
  // from two hours ago" entry point. Required with at_timestamp,
  // rejected otherwise (a silently ignored timestamp is worse than an
  // error).
  private val startingTimestampMs: Long = {
    val raw = Option(options.get("starting_timestamp_ms"))
    if (startingPosition == "AT_TIMESTAMP")
      raw.map(_.toLong).getOrElse(throw new IllegalArgumentException(
        "starting_position=at_timestamp requires starting_timestamp_ms"))
    else if (raw.isDefined)
      throw new IllegalArgumentException(
        "starting_timestamp_ms is only valid with " +
          "starting_position=at_timestamp")
    else 0L
  }
  private val fetchLimit =
    options.getOrDefault("max_records_per_fetch", "10000").toInt
  // Admission control lives at the source, not in a cluster-spanning
  // buffer: cap how far each micro-batch's end offset may advance (the
  // maxOffsetsPerTrigger pattern; the scale-correct replacement for the
  // reference's bounded buffer + Add backpressure, sink.go:84-109 —
  // see SCALE.md "Sink"). 0 = unbounded.
  private val maxPerTrigger =
    options.getOrDefault("max_records_per_trigger", "0").toLong

  override def build(): Scan = new Scan {
    override def readSchema(): StructType = KinesisGraftSource.readSchema
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
      new KinesisGraftMicroBatchStream(opts, startingPosition, fetchLimit,
        maxPerTrigger, startingTimestampMs)
    override def toBatch: Batch = new KinesisGraftBatch(opts, fetchLimit)
  }
}

private[sink] final class KinesisGraftMicroBatchStream(
    opts: KinesisSinkOptions, startingPosition: String, fetchLimit: Int,
    maxPerTrigger: Long, startingTimestampMs: Long = 0L)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.ReportsSourceMetrics {
  private val stream = KinesisGraftSource.streamName(opts)

  /** Source-side twin of the sink's `ReportsSinkMetrics`: per-trigger
    * operational gauges in the progress event — the backlog number an
    * operator alarms on (`recordsBehindLatest`, the Kinesis
    * MillisBehindLatest analogue in records) plus the reshard-follow
    * state (active vs retired shard counts, which move exactly when a
    * split/merge is being drained). The backlog is measured against the
    * shard ends `latestOffset` read while planning this trigger (Kafka's
    * `latestPartitionOffsets` pattern), so it is the backlog as of
    * planning time and costs no second end-of-shard probe: real Kinesis
    * pays one call per probe against a 5-reads/s-per-shard limit.
    */
  override def metrics(latestConsumedOffset: java.util.Optional[Offset])
      : java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    if (latestConsumedOffset.isPresent) {
      val off = latestConsumedOffset.get() match {
        case k: KinesisSourceOffset => k
        case other => KinesisSourceOffset.fromJson(other.json())
      }
      val ends = plannedEnds
      val behind = off.shardOffsets.map { case (sh, p) =>
        math.max(0L, ends.getOrElse(sh, p) - p)
      }.sum
      m.put("recordsBehindLatest", behind.toString)
      m.put("activeShards", off.shardOffsets.size.toString)
      m.put("retiredShards", off.done.size.toString)
    }
    m
  }

  /** Each active shard's drain target as read by the last
    * `latestOffset(start, limit)`; what [[metrics]] measures the backlog
    * against.
    */
  @volatile private var plannedEnds: Map[String, Long] = Map.empty

  // Driver-side client: shard discovery + end-of-shard probes only; the
  // data plane runs in executor-side partition readers.
  @transient private lazy val client = KinesisSinkOptions.resolveReadClient(opts)

  /** The sequence a newly admitted shard starts at: TRIM_HORIZON (and
    * LATEST-born children, whose every record postdates query start)
    * read from 0; AT_TIMESTAMP seeks the shard's first record at or
    * after the configured instant — which is also 0 for any shard
    * created after that instant, so one rule serves shards that existed
    * at start and shards born from later splits alike.
    */
  private def admitSeq(shardId: String): Long =
    if (startingPosition == "AT_TIMESTAMP")
      client.sequenceAtTimestamp(stream, shardId, startingTimestampMs)
    else 0L

  override def initialOffset(): Offset = {
    val desc = client.describeShards(stream)
    val present = desc.map(_.shardId).toSet
    if (startingPosition == "LATEST")
      // skip all history: open shards start at their current end; closed
      // shards have nothing new to say — born retired
      KinesisSourceOffset(
        desc.filter(_.open)
          .map(d => d.shardId -> client.latestSequence(stream, d.shardId))
          .toMap,
        desc.filterNot(_.open).map(_.shardId).toSet)
    else
      // TRIM_HORIZON / AT_TIMESTAMP: start at the lineage ROOTS (shards
      // with no parent still in the layout) at their admit position;
      // descendants are admitted by the follow logic in latestOffset as
      // their parents drain to close — the Kinesis ordering guarantee
      // (parent records precede child records for every partition key)
      // made structural. An AT_TIMESTAMP root whose whole log predates
      // the instant starts at its end and retires on the first
      // reconcile, handing off to its children.
      KinesisSourceOffset(
        desc.filter(_.parentIds.forall(p => !present.contains(p)))
          .map(d => d.shardId -> admitSeq(d.shardId)).toMap)
  }

  override def latestOffset(): Offset =
    KinesisSourceOffset(client.describeShards(stream)
      .map(d => d.shardId -> client.latestSequence(stream, d.shardId)).toMap)

  /** Resharding FOLLOW: reconcile the checkpointed cursor set against
    * the live layout. Real splits/merges carry lineage, and the
    * consumer's contract (the KCL's) is: drain each closed parent to
    * its close — its final sequence — THEN admit its children at
    * TRIM_HORIZON. Because a child's first record was written after its
    * parent's last, and we never plan a child slice until every parent
    * is retired, per-key order is preserved across the transition and
    * nothing is lost or re-read. The layout version travels in the
    * offset itself (active cursors + retired set), so recovery
    * mid-reshard resumes the drain exactly. (The reference never lists
    * shards at all — its producer takes the layout as fixed,
    * `batchproducer/batchproducer.go` has no ListShards call — and its
    * consumer is a static-layout integration test,
    * /root/reference/integration_test.go:112-143.)
    *
    * Two layout changes remain UNfollowable and fail the query loudly
    * (restart with a fresh checkpoint to adopt the new layout):
    * a new shard with no lineage (its records cannot be ordered against
    * committed data), and a shard vanishing while undrained (retention
    * expired under the query — data loss).
    */
  private def reconcileLayout(
      s: KinesisSourceOffset): (Map[String, Long], Set[String]) = {
    val desc = client.describeShards(stream)
    val byId = desc.map(d => d.shardId -> d).toMap

    val vanished = s.shardOffsets.keySet.filterNot(byId.contains)
    if (vanished.nonEmpty)
      throw new KinesisReshardingException(
        s"stream '$stream': shard(s) ${vanished.toSeq.sorted.mkString(",")} " +
          "vanished from the layout while undrained — retention expired " +
          "under the query (data loss). Restart with a fresh checkpoint.")

    // retire closed shards whose cursor reached their final length
    var done = s.done
    var pos = s.shardOffsets
    s.shardOffsets.foreach { case (sh, p) =>
      if (!byId(sh).open && p >= client.latestSequence(stream, sh)) {
        done += sh
        pos -= sh
      }
    }

    // admit never-seen shards whose parents are all retired (a parent
    // absent from the layout counts as retired: it expired before we
    // first looked). A shard whose parents are still draining — or
    // themselves not yet admitted, for a split-of-a-split — waits for a
    // later trigger.
    desc.foreach { d =>
      if (!pos.contains(d.shardId) && !done.contains(d.shardId)) {
        if (d.parentIds.isEmpty)
          throw new KinesisReshardingException(
            s"stream '$stream' was resharded without lineage: new shard " +
              s"'${d.shardId}' has no parent, so its records cannot be " +
              "ordered against committed data. Restart the query with a " +
              "fresh checkpoint to adopt the new layout.")
        if (d.parentIds.forall(p => done.contains(p) || !byId.contains(p)))
          pos += d.shardId -> admitSeq(d.shardId)
      }
    }
    (pos, done)
  }

  /** Trigger counter driving the rotating allocation priority below.
    * Deliberately NOT checkpointed: it is fairness policy, not offset
    * state — the planned (start, end] windows land in the offset log and
    * replay exactly; after a restart the rotation merely restarts.
    */
  private var trigger = 0L

  /** Admission control: cap each micro-batch's advance at
    * `max_records_per_trigger` records TOTAL, allocated across shard
    * backlogs (each shard's slice stays a contiguous, replayable
    * sequence range). Invariants:
    *
    *  - admitted ≤ cap ALWAYS — including when the shard count exceeds
    *    it (the earlier floor-at-1 split could admit up to numShards
    *    records per batch);
    *  - NO STARVATION: lagging shards are served in rotating priority
    *    order, each getting at least one record while budget remains,
    *    and the rotation advances to just past the LAST shard served
    *    that trigger (not by a fixed 1 — advancing by 1 while serving
    *    ~C shards from the rotation point re-serves C−1 of them next
    *    trigger and stretches the worst-case wait to a full rotation of
    *    the shard list). With the pointer skipping the whole served
    *    span each trigger, with L lagging shards and cap C every
    *    lagging shard is served at least once every ⌈L/C⌉ triggers,
    *    whatever non-lagging shards sit between them. A pure
    *    shallowest-first
    *    max-min fill had a liveness hole: with more lagging shards than
    *    budget, a shard whose backlog stays smallest (one stale record
    *    behind steady-trickle siblings) floored to a 0 share on every
    *    single trigger;
    *  - unused budget flows on: a shard lagging less than its share
    *    leaves the remainder for the shards after it in rotation.
    *
    * A backlog then drains over several bounded batches instead of one
    * giant one — the cluster-safe form of the reference's bounded
    * buffer + `Add` backpressure (sink.go:84-109).
    */
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val (from, done) = reconcileLayout(start.asInstanceOf[KinesisSourceOffset])
    // drain target per active cursor: an open shard's current end, a
    // closed shard's final length (max with the cursor so a raced
    // control-plane read can never move a cursor backwards)
    val targets = from.map { case (sh, p) =>
      sh -> math.max(p, client.latestSequence(stream, sh))
    }
    plannedEnds = targets
    if (maxPerTrigger <= 0) KinesisSourceOffset(targets, done)
    else {
      val lags = targets.toSeq.map { case (shard, end) =>
        val s0 = from(shard)
        (shard, s0, math.max(0L, end - s0))
      }.sortBy(_._1)
      val rot = if (lags.isEmpty) 0 else (trigger % lags.size).toInt
      val rotated = lags.drop(rot) ++ lags.take(rot)
      var quota = maxPerTrigger
      var left = rotated.count(_._3 > 0)
      var lastServed = -1
      val next = rotated.zipWithIndex.map { case ((shard, s0, lag), i) =>
        val take =
          if (lag <= 0L || quota <= 0L) 0L
          else {
            // fair share, but never 0 while budget remains (liveness)
            val share = math.min(lag, math.max(1L, quota / left))
            left -= 1; quota -= share
            lastServed = i
            share
          }
        shard -> (s0 + take)
      }.toMap
      // advance the rotation to just past the LAST shard served this
      // trigger (not a fixed +1, which re-serves the same prefix and
      // degrades the wait to a full rotation; not +servedCount, which
      // lands mid-span when non-lagging shards sit between served ones).
      // This is what makes the ⌈L/C⌉ bound above hold for any cap.
      trigger += math.max(1, lastServed + 1)
      KinesisSourceOffset(next, done)
    }
  }

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    if (maxPerTrigger > 0)
      org.apache.spark.sql.connector.read.streaming.ReadLimit
        .maxRows(maxPerTrigger)
    else org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[KinesisSourceOffset].shardOffsets
    val to = end.asInstanceOf[KinesisSourceOffset].shardOffsets
    to.toArray.sortBy(_._1).flatMap { case (shard, endSeq) =>
      // A shard in `to` but absent from `from` was admitted THIS trigger
      // by reconcileLayout — at admitSeq, which under AT_TIMESTAMP is >0
      // for a child whose split predates the configured instant (the
      // child holds pre-instant history). Falling back to 0 here would
      // deliver that history (breaking the "nothing earlier" contract)
      // AND overshoot max_records_per_trigger, whose lag budget was
      // computed from admitSeq. Replay-safe: the instant is fixed config
      // and arrival stamps below the planned end are immutable, so the
      // recomputed seek is identical on recovery.
      val startSeq = from.getOrElse(shard, admitSeq(shard))
      if (endSeq > startSeq)
        Some(KinesisInputPartition(opts, stream, shard, startSeq, endSeq,
          fetchLimit): InputPartition)
      else None
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new KinesisReaderFactory

  override def deserializeOffset(json: String): Offset =
    KinesisSourceOffset.fromJson(json)
  // Kinesis retains data by stream retention policy; nothing to trim on
  // commit (the checkpoint's offset log is the restart cursor).
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Batch read: the full TRIM_HORIZON→current window at planning time. */
private[sink] final class KinesisGraftBatch(
    opts: KinesisSinkOptions, fetchLimit: Int) extends Batch {
  private val stream = KinesisGraftSource.streamName(opts)

  override def planInputPartitions(): Array[InputPartition] = {
    val client = KinesisSinkOptions.resolveReadClient(opts)
    // describeShards, not listShards: a resharded stream keeps its
    // history in CLOSED parents, which a full batch read must include
    client.describeShards(stream).map(_.shardId).sorted.flatMap { shard =>
      val end = client.latestSequence(stream, shard)
      if (end > 0L)
        Some(KinesisInputPartition(opts, stream, shard, 0L, end,
          fetchLimit): InputPartition)
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new KinesisReaderFactory
}

private[sink] final case class KinesisInputPartition(
    opts: KinesisSinkOptions, stream: String, shardId: String,
    startSeq: Long, endSeq: Long, fetchLimit: Int) extends InputPartition

private[sink] final class KinesisReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new KinesisPartitionReader(partition.asInstanceOf[KinesisInputPartition])
}

/** Executor-side shard drain for one micro-batch slice: the reference's
  * iterator loop (/root/reference/integration_test.go:128-139) bounded by
  * the planned `[startSeq, endSeq)` window so replays are exact. Streams
  * pages — per-task memory is one GetRecords page, independent of batch
  * size.
  */
private[sink] final class KinesisPartitionReader(p: KinesisInputPartition)
    extends PartitionReader[InternalRow] {
  private val client = KinesisSinkOptions.resolveReadClient(p.opts)
  private var iterator = client.getShardIterator(
    p.stream, p.shardId, "AT_SEQUENCE_NUMBER", p.startSeq)
  private var page: Iterator[ShardRecord] = Iterator.empty
  private var exhausted = false
  private var current: ShardRecord = _
  // the sequence after the last record fetched; a page asks for at most
  // the rest of the window, so the reader never reads past endSeq
  private var nextSeq = p.startSeq
  private[sink] def fetchedTo: Long = nextSeq

  private val streamUtf8 = UTF8String.fromString(p.stream)
  private val shardUtf8 = UTF8String.fromString(p.shardId)

  private def fetchPage(): Unit = {
    val res = client.getRecords(iterator,
      math.min(p.fetchLimit.toLong, p.endSeq - nextSeq).toInt)
    iterator = res.nextIterator
    if (res.records.isEmpty) {
      // The KinesisGetRecords CONTRACT guarantees an empty page means
      // shard-end reached (a real SDK impl must poll past AWS's empty
      // mid-shard pages before returning) — so the planned window is
      // fully drained: endSeq was a plan-time snapshot and nothing
      // below it can still arrive.
      exhausted = true
    } else {
      nextSeq = res.records.last.sequenceNumber + 1
      // Reaching endSeq means the planned window is read: this slice is
      // done, without an empty page, and any record past it belongs to
      // the next batch.
      if (nextSeq >= p.endSeq) exhausted = true
      page = res.records.iterator.takeWhile(_.sequenceNumber < p.endSeq)
    }
  }

  override def next(): Boolean = {
    if (!page.hasNext && !exhausted) fetchPage()
    if (page.hasNext) { current = page.next(); true } else false
  }

  override def get(): InternalRow =
    new GenericInternalRow(Array[Any](
      streamUtf8,
      UTF8String.fromString(current.record.partitionKey),
      current.record.data,
      shardUtf8,
      current.sequenceNumber))

  override def close(): Unit = ()
}
