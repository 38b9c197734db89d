package graft.sink

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite

/** The read side of [[FakeKinesis]]: pages, end-of-shard probes and
  * timestamp seeks against the shard log they read, and what each call
  * costs. A probe must not scale with the shard's length and a page only
  * with its own size, as the real service charges; otherwise the
  * benchmark's source timings measure the test double.
  */
class FakeKinesisSpec extends AnyFunSuite {

  private val shard0 = "shardId-000000000000"

  private def rec(i: Int) = KinesisRecord(s"k$i", s"m$i".getBytes("UTF-8"))

  /** Puts `recs` in request-sized groups, in order. */
  private def put(fake: FakeKinesis, stream: String,
      recs: Seq[KinesisRecord]): Unit =
    recs.grouped(500).foreach(fake.putRecords(stream, _))

  /** Every record of the shard from TRIM_HORIZON, read `limit` at a time. */
  private def drain(fake: FakeKinesis, stream: String, shardId: String,
      limit: Int): Seq[ShardRecord] = {
    val out = ArrayBuffer.empty[ShardRecord]
    var it = fake.getShardIterator(stream, shardId, "TRIM_HORIZON")
    var more = true
    while (more) {
      val page = fake.getRecords(it, limit)
      assert(page.records.size <= limit)
      out ++= page.records
      it = page.nextIterator
      more = page.records.nonEmpty
    }
    out.toSeq
  }

  test("pages of any size concatenate to exactly the shard's log, on an " +
      "open shard and on a closed parent") {
    val fake = new FakeKinesis()
    val pre = (0 until 2345).map(rec)
    put(fake, "s", pre)
    // one shard and one stream: record i is sequence i, stamped i + 1
    val want = pre.zipWithIndex.map { case (r, i) =>
      ShardRecord(i.toLong, r, i + 1L)
    }
    Seq(1, 7, 10000).foreach { limit =>
      assert(drain(fake, "s", shard0, limit) == want, s"open, limit $limit")
    }

    val (c1, c2) = fake.splitShard("s", shard0)
    put(fake, "s", (2345 until 3000).map(rec))
    Seq(1, 7, 10000).foreach { limit =>
      assert(drain(fake, "s", shard0, limit) == want, s"closed, limit $limit")
    }
    assert(fake.latestSequence("s", shard0) == 2345L)
    Seq(c1, c2).foreach { c =>
      val rs = drain(fake, "s", c, 7)
      assert(rs.map(_.sequenceNumber) == (0L until rs.size.toLong), c)
      assert(rs.size.toLong == fake.latestSequence("s", c), c)
    }
  }

  test("a page is a snapshot: later appends leave it unchanged") {
    val fake = new FakeKinesis()
    put(fake, "s", (0 until 50).map(rec))
    val it = fake.getShardIterator("s", shard0, "TRIM_HORIZON")
    val page = fake.getRecords(it, 100)
    val before = page.records.toList
    put(fake, "s", (50 until 1050).map(rec))
    assert(page.records.size == 50)
    assert(page.records == before)
    assert(page.nextIterator == s"s|$shard0|50")
    assert(fake.getRecords(page.nextIterator, 10000).records.size == 1000)
  }

  test("an unknown shard id reads as an empty shard") {
    val fake = new FakeKinesis()
    put(fake, "s", (0 until 10).map(rec))
    val ghost = "shardId-000000000099"
    assert(fake.latestSequence("s", ghost) == 0L)
    assert(fake.sequenceAtTimestamp("s", ghost, 5L) == 0L)
    assert(fake.getShardIterator("s", ghost, "LATEST") == s"s|$ghost|0")
    val page = fake.getRecords(s"s|$ghost|0", 100)
    assert(page.records.isEmpty)
    assert(page.nextIterator == s"s|$ghost|0")
  }

  test("sequenceAtTimestamp matches a linear scan at every stamp") {
    val fake = new FakeKinesis()
    fake.numShards.set(4)
    // two streams share the clock, so each shard's stamps have gaps
    (0 until 6).foreach { b =>
      put(fake, "s", (b * 100 until b * 100 + 100).map(rec))
      put(fake, "other", (0 until 37).map(rec))
    }
    val end = fake.clock.get()
    fake.listShards("s").foreach { sh =>
      val stamps = drain(fake, "s", sh, 10000).map(_.arrivalMillis)
      assert(stamps.nonEmpty && stamps == stamps.sorted, sh)
      (0L to end + 2).foreach { t =>
        val i = stamps.indexWhere(_ >= t)
        val want = if (i < 0) stamps.size.toLong else i.toLong
        assert(fake.sequenceAtTimestamp("s", sh, t) == want, s"$sh at $t")
      }
    }
  }

  test("a reader paging during appends sees a gap-free prefix and a " +
      "latestSequence that never falls") {
    val fake = new FakeKinesis()
    val total = 20000
    val writer = new Thread(() => put(fake, "s", (0 until total).map(rec)))
    writer.start()
    val seen = ArrayBuffer.empty[ShardRecord]
    var it = fake.getShardIterator("s", shard0, "TRIM_HORIZON")
    var lastLatest = 0L
    var drained = false
    while (!drained) {
      val writerDone = !writer.isAlive
      val latest = fake.latestSequence("s", shard0)
      assert(latest >= lastLatest, s"latestSequence fell $lastLatest -> $latest")
      lastLatest = latest
      val page = fake.getRecords(it, 7)
      // a page holds only records already appended
      assert(seen.size + page.records.size <= fake.latestSequence("s", shard0))
      seen ++= page.records
      it = page.nextIterator
      drained = page.records.isEmpty && writerDone
    }
    writer.join()
    assert(seen.map(_.sequenceNumber) == (0L until total.toLong))
    assert(seen.map(_.record.partitionKey) == (0 until total).map(i => s"k$i"))
  }

  test("an end-of-shard probe and a small page allocate O(1) and O(page), " +
      "not O(shard length)") {
    val mx = ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    assume(mx.isThreadAllocatedMemorySupported && mx.isThreadAllocatedMemoryEnabled)
    val fake = new FakeKinesis()
    // one record instance keeps the heap small: only the log grows
    val r = KinesisRecord("k", Array[Byte](1, 2, 3))
    val batch = Seq.fill(500)(r)
    (0 until 400).foreach(_ => fake.putRecords("big", batch))
    val id = Thread.currentThread().getId
    def allocated(f: => Any): Long = {
      val before = mx.getThreadAllocatedBytes(id)
      f
      mx.getThreadAllocatedBytes(id) - before
    }
    val it = fake.getShardIterator("big", shard0, "AT_SEQUENCE_NUMBER", 100000L)
    // warm-up: class loading and first-call set-up are not per-call cost
    (0 until 3).foreach { _ =>
      fake.latestSequence("big", shard0)
      fake.getRecords(it, 10)
    }
    assert(fake.latestSequence("big", shard0) == 200000L)
    val limit = 256L * 1024
    val probe = allocated(fake.latestSequence("big", shard0))
    assert(probe < limit, s"latestSequence allocated $probe bytes")
    val page = allocated(fake.getRecords(it, 10))
    assert(page < limit, s"a 10-record page allocated $page bytes")
  }
}
