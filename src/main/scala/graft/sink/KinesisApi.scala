package graft.sink

import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import scala.collection.immutable.ArraySeq
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One record on the wire: what the reference maps a message to before
  * `PutRecords` (/root/reference/batchproducer/batchproducer.go:412-421 —
  * `PutRecordsRequestEntry{PartitionKey, Data}`).
  */
final case class KinesisRecord(partitionKey: String, data: Array[Byte])

/** Per-record outcome of a PutRecords call, mirroring
  * `PutRecordsResultEntry` (ErrorCode/ErrorMessage set on failure).
  */
final case class PutResultEntry(errorCode: Option[String] = None,
    errorMessage: Option[String] = None) {
  def failed: Boolean = errorCode.isDefined || errorMessage.isDefined
}

/** Request-level failure (whole PutRecords call rejected). */
final class KinesisRequestException(msg: String) extends RuntimeException(msg)

/** A record as returned by the consumption path: the wire record plus the
  * shard-relative sequence number `GetRecords` stamps on it and its
  * approximate arrival time (the `ApproximateArrivalTimestamp` real
  * Kinesis attaches server-side — what `AT_TIMESTAMP` iterators seek
  * on).
  */
final case class ShardRecord(sequenceNumber: Long, record: KinesisRecord,
    arrivalMillis: Long = 0L)

/** One `GetRecords` page: records in sequence order plus the iterator for
  * the next page (an open shard always has a next iterator — the
  * reference's consumption loop relies on exactly this pair,
  * /root/reference/integration_test.go:128-139).
  */
final case class GetRecordsResult(records: Seq[ShardRecord],
    nextIterator: String)

/** Control-plane view of one shard: identity, lineage, and whether it is
  * still open for writes — the `ListShards` fields a resharding-aware
  * consumer needs (`ShardId`, `ParentShardId`/`AdjacentParentShardId`,
  * and open/closed via the presence of `SequenceNumberRange
  * .EndingSequenceNumber`). A CLOSED shard's history stays readable until
  * retention expiry and its [[KinesisGetRecords.latestSequence]] is its
  * final, immutable length — the drain target the source follows it to.
  */
final case class ShardDesc(shardId: String, parentIds: Seq[String],
    open: Boolean)

/** Read-side client seam, one level above the raw AWS calls the
  * reference's integration suite consumes with
  * (`GetShardIterator`/`GetRecords`,
  * /root/reference/integration_test.go:112-143):
  *
  *  - `listShards` — `DescribeStream.Shards` (:99);
  *  - `getShardIterator` — iterator types `TRIM_HORIZON`, `LATEST`,
  *    `AT_SEQUENCE_NUMBER` (:113-117);
  *  - `getRecords` — one page + next iterator (:128-139);
  *  - `latestSequence` — the shard's current end position; a real SDK
  *    impl derives it from a `LATEST` iterator probe, the fake reads its
  *    log length. The micro-batch planner needs this driver-side bound to
  *    make each batch's contents deterministic under checkpoint replay.
  *
  * Iterators are opaque strings; sequence numbers are monotone per shard.
  * They are modeled as dense per-shard Longs (what the fake provides and
  * what the source's offset arithmetic — admission-control budgeting,
  * `[start, end)` batch windows — relies on). Real Kinesis sequence
  * numbers are opaque ~186-bit decimals, so a real SDK implementation of
  * THIS trait must maintain its own per-shard dense counter (records
  * consumed since TRIM_HORIZON) and keep the AWS sequence string as an
  * internal cursor — or the seam would need String offsets and
  * count-based admission (the spark-kinesis-asl/Flink shape), a
  * different trade documented here rather than silently half-made.
  *
  * CONTRACT (load-bearing for exactly-once): `getRecords` may return an
  * EMPTY records list ONLY when the iterator has reached the shard's
  * current end — the micro-batch partition readers treat an empty page
  * as "this planned slice is fully drained". Raw AWS `GetRecords` does
  * NOT guarantee this (it returns empty pages mid-shard); a real SDK
  * implementation of this trait must therefore loop internally —
  * re-polling `NextShardIterator` while `MillisBehindLatest > 0` and no
  * records arrive — before returning an empty page. Returning a raw
  * empty mid-shard page would make Spark commit the batch and skip the
  * remainder of the planned range: silent at-most-once delivery.
  */
trait KinesisGetRecords extends Serializable {
  def listShards(stream: String): Seq[String]
  def getShardIterator(stream: String, shardId: String,
      iteratorType: String, startingSequence: Long = 0L): String
  def getRecords(iterator: String, limit: Int): GetRecordsResult
  def latestSequence(stream: String, shardId: String): Long

  /** First sequence number in the shard whose arrival time is at or
    * after `epochMs` (the shard's length if none is) — the position an
    * `AT_TIMESTAMP` start resolves to. Arrival times are monotone per
    * shard (Kinesis stamps server-side at append), so this is a prefix
    * cut. Default 0 (= TRIM_HORIZON) for implementations without
    * arrival metadata.
    */
  def sequenceAtTimestamp(stream: String, shardId: String,
      epochMs: Long): Long = 0L

  /** Full shard inventory WITH lineage — what the source's
    * resharding-follow logic plans against (drain closed parents to
    * their final `latestSequence`, then admit children). The default
    * models a static layout (everything open, no lineage); a real SDK
    * implementation must override it from `ListShards`' `ParentShardId`
    * / `AdjacentParentShardId` / `SequenceNumberRange` fields, or
    * splits on a live stream will be mis-read as an unfollowable
    * layout change and fail the query.
    */
  def describeShards(stream: String): Seq[ShardDesc] =
    listShards(stream).map(ShardDesc(_, Nil, open = true))
}

/** The single-method client seam — the reference's one great testability
  * idea (`BatchingKinesisClient`,
  * /root/reference/batchproducer/batchproducer.go:68-71): everything the
  * data plane needs from AWS is one `PutRecords` call, so a real SDK
  * client and an in-memory fake are interchangeable. In this zero-egress
  * environment all delivery claims are verified against [[FakeKinesis]]
  * (the reference likewise only ever talks to localstack in CI,
  * /root/reference/.travis.yml:6-12).
  *
  * Implementations MUST be safe to call from multiple executor task
  * threads: on a real cluster each write task owns its own record slice
  * but shares a per-JVM client.
  */
trait KinesisPutRecords extends Serializable {
  /** Send ≤500 records to `stream`; returns one entry per input record in
    * order. Throws [[KinesisRequestException]] on request-level failure.
    */
  def putRecords(stream: String, records: Seq[KinesisRecord]): Seq[PutResultEntry]
}

/** In-memory Kinesis with the same fault-injection surface as the
  * reference's mock client
  * (/root/reference/batchproducer/batchproducer_test.go:810-842):
  *
  *  - `failRequests` — every request throws (mirrors `shouldErr` → "oh
  *    noes", :823-825); can be flipped at runtime to model recovery;
  *  - magic partition key `"fail"` — that record's result entry carries
  *    an error (mirrors :831-836) while the rest succeed;
  *  - `latencyMs` — injected per-request latency (mirrors `sleepFor`,
  *    :827).
  *
  * Storage is an append log per stream so round-trip tests can do
  * order-insensitive multiset comparison, mirroring the reference's
  * integration suite (/root/reference/integration_test.go:151-157).
  *
  * A JVM-wide registry (`FakeKinesis.named`) lets serialized Spark tasks
  * in local mode share one store with the driver: the task serializes
  * only the name, and resolves the shared instance lazily per-JVM.
  *
  * Read cost model, what the real service charges per call: an
  * end-of-shard probe ([[latestSequence]], a `LATEST` iterator) is O(1),
  * a [[getRecords]] page is O(page), and [[sequenceAtTimestamp]] is
  * O(log shard length). Each runs under the per-stream lock on the live
  * log, and each page is a copy that later appends cannot change.
  */
final class FakeKinesis(val latencyMs: Long = 0L)
    extends KinesisPutRecords with KinesisGetRecords {
  val failRequests = new AtomicBoolean(false)
  /** Fail this many requests, then succeed (for backoff-recovery tests). */
  val failNextRequests = new AtomicInteger(0)
  val requestCount = new AtomicInteger(0)
  /** INITIAL shard count for streams created after this point. Each
    * stream FREEZES its layout at its first write or read (see
    * [[shardCount]]), so flipping `numShards` later cannot silently
    * remap checkpointed per-shard offsets onto different records — real
    * Kinesis reshards by [[splitShard]]/[[mergeShards]], never by
    * re-hashing history. A flip on an already-touched stream surfaces as
    * a CONTROL-PLANE divergence only (phantom lineage-less shards in
    * [[listShards]]/[[describeShards]]) — the shape the source correctly
    * refuses to follow, unlike a real split/merge which carries lineage.
    */
  val numShards = new AtomicInteger(1)
  /** Virtual arrival clock: each stored record is stamped with
    * `clock.incrementAndGet()` — a strictly monotone fake of real
    * Kinesis's server-side ApproximateArrivalTimestamp. Tests read it
    * to learn "now" and replay from a mid-log instant (AT_TIMESTAMP).
    */
  val clock = new java.util.concurrent.atomic.AtomicLong(0L)

  // ----- shard layout & storage ---------------------------------------
  //
  // Real-Kinesis resharding model: every shard owns a CONTIGUOUS range
  // of the 128-bit MD5 hash-key space and keeps its OWN append log. A
  // split closes the parent (its log freezes at its final length) and
  // hands each half of its range to a new child; a merge closes two
  // ADJACENT shards into one child spanning both ranges. Writes route to
  // the open owner of md5(partitionKey) — so for every partition key,
  // parent history strictly precedes child history: the ordering
  // guarantee the source's drain-parents-then-admit-children follow
  // logic relies on. Sequence numbers are PER-SHARD dense ordinals
  // (0,1,2,… within the shard) — the per-shard space real Kinesis has,
  // which admission control's budgeting relies on; a CLOSED shard's
  // latestSequence is its final, immutable length (the drain target).

  private val HashSpace = BigInt(1) << 128

  private final class ShardState(val shardId: String,
      val startHash: BigInt, val endHash: BigInt, // owns [startHash, endHash)
      val parentIds: Seq[String]) {
    /** (record, arrivalMillis) — arrival stamped from [[clock]] at
      * append, monotone per shard by construction. */
    val log = new ArrayBuffer[(KinesisRecord, Long)]()
    var open: Boolean = true
  }

  private final class StreamState(val initialCount: Int) {
    // insertion order = creation order: describeShards lists parents
    // before their children
    val shards = new java.util.LinkedHashMap[String, ShardState]()
    val global = new ArrayBuffer[KinesisRecord]()
    var nextShardIndex: Int = initialCount
    var everResharded: Boolean = false
  }

  private val streams = new ConcurrentHashMap[String, StreamState]()

  private def shardName(i: Int): String = f"shardId-$i%012d"

  /** The stream's state, its layout frozen at first touch (write or
    * read): `numShards.get()` equal hash-range slices.
    */
  private def state(stream: String): StreamState =
    streams.computeIfAbsent(stream, _ => {
      val n = numShards.get()
      val st = new StreamState(n)
      val step = HashSpace / n
      (0 until n).foreach { i =>
        val lo = step * i
        val hi = if (i == n - 1) HashSpace else step * (i + 1)
        st.shards.put(shardName(i), new ShardState(shardName(i), lo, hi, Nil))
      }
      st
    })

  /** The stream's INITIAL shard count, frozen at first touch. */
  def shardCount(stream: String): Int = state(stream).initialCount

  private def hashOf(pk: String): BigInt =
    BigInt(new java.math.BigInteger(1,
      FakeKinesis.md5.get().digest(pk.getBytes("UTF-8"))))

  override def putRecords(stream: String,
      records: Seq[KinesisRecord]): Seq[PutResultEntry] = {
    require(records.nonEmpty && records.size <= 500,
      s"PutRecords accepts 1..500 records, got ${records.size}")
    // Freeze the shard layout at the very first write attempt — even one
    // that failure injection rejects wholesale. Freezing only on the
    // per-record success branch let a numShards flip between a fully
    // failed first write and its retry remap the stream, contradicting
    // the "frozen at first touch" contract above.
    val st = state(stream)
    if (latencyMs > 0) Thread.sleep(latencyMs)
    requestCount.incrementAndGet()
    if (failRequests.get() || failNextRequests.getAndUpdate(n => math.max(0, n - 1)) > 0)
      throw new KinesisRequestException("oh noes")
    records.map { r =>
      if (r.partitionKey == "fail")
        PutResultEntry(Some("ProvisionedThroughputExceededException"),
          Some("injected per-record failure"))
      else {
        val h = hashOf(r.partitionKey)
        st.synchronized {
          val owner = st.shards.values.asScala
            .find(s => s.open && s.startHash <= h && h < s.endHash)
            .getOrElse(throw new IllegalStateException(
              s"no open shard owns hash $h on stream '$stream'"))
          owner.log += ((r, clock.incrementAndGet()))
          st.global += r
        }
        PutResultEntry()
      }
    }
  }

  def stored(stream: String): Seq[KinesisRecord] = {
    val st = streams.get(stream)
    if (st == null) Seq.empty else st.synchronized { st.global.toSeq }
  }

  def storedPayloads(stream: String): Seq[String] =
    stored(stream).map(r => new String(r.data, "UTF-8"))

  def streamNames: Set[String] = streams.keySet().asScala.toSet

  def clear(): Unit = streams.clear()

  // ----- resharding (control-plane mutations) --------------------------

  /** Real-Kinesis `SplitShard`: closes `shardId` and hands each half of
    * its hash range to a new child. Returns the two child shard ids.
    */
  def splitShard(stream: String, shardId: String): (String, String) = {
    val st = state(stream)
    st.synchronized {
      val s = Option(st.shards.get(shardId)).getOrElse(
        throw new IllegalArgumentException(s"unknown shard '$shardId'"))
      require(s.open, s"cannot split closed shard '$shardId'")
      val mid = (s.startHash + s.endHash) / 2
      require(mid > s.startHash, s"shard '$shardId' range too narrow to split")
      s.open = false
      val c1 = new ShardState(shardName(st.nextShardIndex),
        s.startHash, mid, Seq(shardId))
      val c2 = new ShardState(shardName(st.nextShardIndex + 1),
        mid, s.endHash, Seq(shardId))
      st.nextShardIndex += 2
      st.shards.put(c1.shardId, c1)
      st.shards.put(c2.shardId, c2)
      st.everResharded = true
      (c1.shardId, c2.shardId)
    }
  }

  /** Real-Kinesis `MergeShards`: closes two ADJACENT open shards and
    * creates one child spanning both hash ranges. Returns the child id.
    */
  def mergeShards(stream: String, shardA: String, shardB: String): String = {
    val st = state(stream)
    st.synchronized {
      def get(id: String) = Option(st.shards.get(id)).getOrElse(
        throw new IllegalArgumentException(s"unknown shard '$id'"))
      val a = get(shardA)
      val b = get(shardB)
      require(a.open && b.open,
        s"cannot merge closed shard(s): '$shardA' open=${a.open}, " +
          s"'$shardB' open=${b.open}")
      val (lo, hi) =
        if (a.endHash == b.startHash) (a, b)
        else if (b.endHash == a.startHash) (b, a)
        else throw new IllegalArgumentException(
          s"shards '$shardA' and '$shardB' are not adjacent")
      a.open = false
      b.open = false
      val c = new ShardState(shardName(st.nextShardIndex),
        lo.startHash, hi.endHash, Seq(lo.shardId, hi.shardId))
      st.nextShardIndex += 1
      st.shards.put(c.shardId, c)
      st.everResharded = true
      c.shardId
    }
  }

  // ----- read side (KinesisGetRecords) -------------------------------

  /** CONTROL plane: like real Kinesis ListShards, reports the LIVE open
    * layout. For a stream that has never been split/merged the view is
    * derived from the live `numShards` value — after a flip it diverges
    * from the frozen data plane, which is exactly how the source sees a
    * lineage-less layout change. The DATA plane (routing, iterators,
    * [[latestSequence]]) is never re-hashed, so the divergence is
    * visible but can never silently remap checkpointed offsets onto
    * different records.
    */
  override def listShards(stream: String): Seq[String] = {
    val st = state(stream) // first control-plane touch freezes the data plane
    st.synchronized {
      if (st.everResharded)
        st.shards.values.asScala.filter(_.open).map(_.shardId).toSeq
      else (0 until numShards.get()).map(shardName)
    }
  }

  /** Full inventory with lineage (open AND closed shards). On an
    * un-resharded stream whose `numShards` was flipped up, the extra
    * control-plane shards appear as OPEN shards with NO lineage — the
    * unfollowable shape (real splits always carry parent ids) the
    * source's follow logic rejects loudly.
    */
  override def describeShards(stream: String): Seq[ShardDesc] = {
    val st = state(stream)
    st.synchronized {
      val real = st.shards.values.asScala.toSeq
        .map(s => ShardDesc(s.shardId, s.parentIds, s.open))
      val phantoms =
        if (!st.everResharded && numShards.get() > st.initialCount)
          (st.initialCount until numShards.get())
            .map(i => ShardDesc(shardName(i), Nil, open = true))
        else Seq.empty
      real ++ phantoms
    }
  }

  /** `f` applied to the shard's live log under the stream lock, or
    * `ifUnknown` for a shard id the stream does not have. `f` must copy
    * out whatever it returns: the log keeps growing after the lock is
    * released.
    */
  private def withLog[A](stream: String, shardId: String, ifUnknown: => A)(
      f: ArrayBuffer[(KinesisRecord, Long)] => A): A = {
    val st = state(stream)
    st.synchronized {
      val s = st.shards.get(shardId)
      if (s == null) ifUnknown else f(s.log)
    }
  }

  override def getShardIterator(stream: String, shardId: String,
      iteratorType: String, startingSequence: Long): String = {
    val start = iteratorType match {
      case "TRIM_HORIZON" => 0L
      case "LATEST" => latestSequence(stream, shardId)
      case "AT_SEQUENCE_NUMBER" => startingSequence
      case "AFTER_SEQUENCE_NUMBER" => startingSequence + 1
      case other => throw new IllegalArgumentException(
        s"unsupported iterator type '$other'")
    }
    s"$stream|$shardId|$start"
  }

  override def getRecords(iterator: String, limit: Int): GetRecordsResult = {
    val Array(stream, shardId, startStr) = iterator.split('|')
    val start = math.max(startStr.toLong.toInt, 0)
    val page = withLog(stream, shardId, Array.empty[ShardRecord]) { log =>
      val end = math.min(log.size.toLong, start.toLong + limit).toInt
      Array.tabulate(math.max(end - start, 0)) { i =>
        val (r, at) = log(start + i)
        ShardRecord((start + i).toLong, r, at)
      }
    }
    GetRecordsResult(ArraySeq.unsafeWrapArray(page),
      s"$stream|$shardId|${start + page.length}")
  }

  override def latestSequence(stream: String, shardId: String): Long =
    withLog(stream, shardId, 0L)(_.size.toLong)

  /** Binary search for the first arrival at or after `epochMs`: each
    * shard's arrival stamps come from [[clock]] in append order, so they
    * are monotone.
    */
  override def sequenceAtTimestamp(stream: String, shardId: String,
      epochMs: Long): Long =
    withLog(stream, shardId, 0L) { log =>
      var lo = 0
      var hi = log.size
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (log(mid)._2 < epochMs) lo = mid + 1 else hi = mid
      }
      lo.toLong
    }
}

object FakeKinesis {
  private val registry = new ConcurrentHashMap[String, FakeKinesis]()

  /** Per-JVM named instance — the seam Spark local-mode tests use to share
    * a store between driver assertions and executor-side writer tasks.
    */
  def named(name: String): FakeKinesis =
    registry.computeIfAbsent(name, _ => new FakeKinesis())

  def drop(name: String): Unit = registry.remove(name)

  /** One MD5 digest per thread for shard routing: `digest` resets it, and
    * `getInstance` on every record costs a provider lookup.
    */
  private val md5 = ThreadLocal.withInitial[MessageDigest](
    () => MessageDigest.getInstance("MD5"))
}
