package graft.sink

import scala.collection.mutable.ArrayBuffer
import org.scalatest.funsuite.AnyFunSuite

/** Port of the reference's batch-producer behavioral asserts
  * (/root/reference/batchproducer/batchproducer_test.go) onto the
  * per-task writer: config validation, size-triggered batching, backoff
  * schedule on request errors, consecutive-error counting with reset,
  * load-shed vs fail policy, selective per-record retry with attempt cap,
  * stats counters — plus our stronger guarantee, input order across
  * request-level retries (per-record failures keep order per batch only;
  * `KinesisTaskRouterSpec` checks that form).
  * Timing-window asserts from the reference (6–16 ms wall-clock,
  * :734-808) become recorded-clock asserts via the injectable `sleep`.
  */
class KinesisRecordWriterSpec extends AnyFunSuite {

  private def rec(pk: String, payload: String) =
    KinesisRecord(pk, payload.getBytes("UTF-8"))

  private def recs(n: Int, prefix: String = "r"): Seq[KinesisRecord] =
    (0 until n).map(i => rec(s"pk$i", s"$prefix$i"))

  private class RecordingListener extends KinesisEventListener {
    val errors = new ArrayBuffer[String]()
    override def onError(m: String): Unit = errors.synchronized { errors += m }
  }

  test("config validation mirrors New's bounds (batchproducer.go:143-145)") {
    assertThrows[IllegalArgumentException](KinesisWriterConfig(batchSize = 0))
    assertThrows[IllegalArgumentException](KinesisWriterConfig(batchSize = 501))
    assertThrows[IllegalArgumentException](
      KinesisWriterConfig(maxAttemptsPerRecord = 0))
    KinesisWriterConfig(batchSize = 1)
    KinesisWriterConfig(batchSize = 500)
  }

  test("size trigger: n records with batchSize b → ceil(n/b) requests " +
      "(batchproducer_test.go:272-310)") {
    val fake = new FakeKinesis()
    val w = new KinesisRecordWriter(fake, "s",
      KinesisWriterConfig(batchSize = 10), sleep = _ => ())
    val stats = w.write(recs(25).iterator)
    assert(fake.requestCount.get() == 3)
    assert(stats.recordsSent == 25 && stats.recordsDropped == 0)
    assert(fake.storedPayloads("s") == (0 until 25).map(i => s"r$i"))
  }

  test("never exceeds the 500-record Kinesis cap (batchproducer.go:14-15)") {
    val fake = new FakeKinesis() // FakeKinesis require()s ≤500 per request
    val w = new KinesisRecordWriter(fake, "s", sleep = _ => ())
    val stats = w.write(recs(1200).iterator)
    assert(fake.requestCount.get() == 3 && stats.recordsSent == 1200)
  }

  test("request error → backoff 50ms·2^(n-1) then retry; reset on success " +
      "(batchproducer.go:334-344,367-368)") {
    val fake = new FakeKinesis()
    fake.failNextRequests.set(3)
    val sleeps = new ArrayBuffer[Long]()
    val listener = new RecordingListener
    val w = new KinesisRecordWriter(fake, "s",
      KinesisWriterConfig(batchSize = 10), listener, sleeps += _)
    val stats = w.write(recs(10).iterator)
    assert(sleeps.toSeq == Seq(50L, 100L, 200L))
    assert(stats.kinesisErrors == 3 && stats.recordsSent == 10)
    assert(listener.errors.count(_.contains("request failed")) == 3)
    assert(fake.storedPayloads("s") == (0 until 10).map(i => s"r$i"))
  }

  test("consecutive-error counter resets after a success") {
    val fake = new FakeKinesis()
    val sleeps = new ArrayBuffer[Long]()
    val w = new KinesisRecordWriter(fake, "s",
      KinesisWriterConfig(batchSize = 5), sleep = sleeps += _)
    fake.failNextRequests.set(1)
    w.write(recs(5).iterator) // one error → sleep 50, then success
    fake.failNextRequests.set(1)
    w.write(recs(5, "b").iterator) // counter must restart at 50, not 100
    assert(sleeps.toSeq == Seq(50L, 50L))
  }

  test("persistent request errors fail the task by default " +
      "(outer retry layer is Spark's)") {
    val fake = new FakeKinesis()
    fake.failRequests.set(true)
    val sleeps = new ArrayBuffer[Long]()
    val w = new KinesisRecordWriter(fake, "s",
      KinesisWriterConfig(batchSize = 10), sleep = sleeps += _)
    val e = intercept[KinesisRequestException](w.write(recs(10).iterator))
    assert(e.getMessage.contains("5 consecutive"))
    assert(sleeps.toSeq == Seq(50L, 100L, 200L, 400L)) // 5 attempts, 4 waits
  }

  test("load-shed policy drops the in-flight batch after 5 consecutive " +
      "errors (batchproducer.go:354-357) and recovers for the next batch") {
    val fake = new FakeKinesis()
    fake.failNextRequests.set(5)
    val listener = new RecordingListener
    val w = new KinesisRecordWriter(fake, "s",
      KinesisWriterConfig(batchSize = 10, onPersistentErrorDrop = true),
      listener, _ => ())
    val stats = w.write(recs(20).iterator)
    assert(stats.recordsDropped == 10 && stats.recordsSent == 10)
    assert(stats.kinesisErrors == 5)
    assert(listener.errors.exists(_.contains("dropping batch of 10")))
    assert(fake.storedPayloads("s") == (10 until 20).map(i => s"r$i"))
  }

  test("partial failure: only failed entries are re-sent " +
      "(batchproducer.go:438-456), successes are never duplicated") {
    // Client that fails each keyed record a fixed number of times.
    val sent = new ArrayBuffer[String]()
    val failuresLeft = scala.collection.mutable.Map("pk1" -> 2, "pk3" -> 1)
    val client = new KinesisPutRecords {
      override def putRecords(stream: String, records: Seq[KinesisRecord]) =
        records.map { r =>
          if (failuresLeft.getOrElse(r.partitionKey, 0) > 0) {
            failuresLeft(r.partitionKey) -= 1
            PutResultEntry(Some("Throttled"), Some("try again"))
          } else { sent += new String(r.data, "UTF-8"); PutResultEntry() }
        }
    }
    val w = new KinesisRecordWriter(client, "s",
      KinesisWriterConfig(batchSize = 10), sleep = _ => ())
    val stats = w.write(recs(5).iterator)
    assert(stats.recordsSent == 5 && stats.recordsDropped == 0)
    assert(sent.size == 5, "a record was duplicated or lost")
    // First round delivers r0,r2,r4; retries deliver r3 then r1.
    assert(sent.toSet == (0 until 5).map(i => s"r$i").toSet)
  }

  test("per-record attempt cap then drop with error event " +
      "(batchproducer.go:445-453) — magic 'fail' key like the mock client") {
    val fake = new FakeKinesis()
    val listener = new RecordingListener
    val w = new KinesisRecordWriter(fake, "s",
      KinesisWriterConfig(batchSize = 10, maxAttemptsPerRecord = 3),
      listener, _ => ())
    val records = Seq(rec("ok1", "a"), rec("fail", "poison"), rec("ok2", "b"))
    val stats = w.write(records.iterator)
    assert(stats.recordsSent == 2 && stats.recordsDropped == 1)
    // initial call + 2 selective retries of the poison record
    assert(fake.requestCount.get() == 3)
    assert(listener.errors.exists(_.contains("dropping record after 3 attempts")))
    assert(fake.storedPayloads("s") == Seq("a", "b"))
  }

  test("per-record (partial) failures back off between retry rounds — a " +
      "transiently throttled shard must not burn all attempts instantly") {
    val fake = new FakeKinesis()
    val sleeps = new ArrayBuffer[Long]()
    val w = new KinesisRecordWriter(fake, "s",
      KinesisWriterConfig(batchSize = 10, maxAttemptsPerRecord = 4),
      sleep = sleeps += _)
    val stats = w.write(Seq(rec("ok", "a"), rec("fail", "poison")).iterator)
    // initial send + 3 selective retries of the poison record, each
    // preceded by growing backoff
    assert(sleeps.toSeq == Seq(50L, 100L, 200L),
      s"partial retries must back off, got $sleeps")
    assert(stats.recordsSent == 1 && stats.recordsDropped == 1)
  }

  test("invariant sweep (seeded): every record is delivered exactly once " +
      "or counted dropped; requests never exceed batchSize") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 50) {
      val n = rnd.nextInt(60) + 1
      val batch = rnd.nextInt(17) + 1
      val maxAtt = rnd.nextInt(3) + 1
      val records = (0 until n).map { i =>
        val pk = if (rnd.nextInt(5) == 0) "fail" else s"pk$i"
        KinesisRecord(pk, s"t$trial-$i".getBytes("UTF-8"))
      }
      val nPoison = records.count(_.partitionKey == "fail")
      var maxReqSize = 0
      val fake = new FakeKinesis()
      val counting = new KinesisPutRecords {
        override def putRecords(s: String, rs: Seq[KinesisRecord]) = {
          maxReqSize = math.max(maxReqSize, rs.size)
          fake.putRecords(s, rs)
        }
      }
      val w = new KinesisRecordWriter(counting, "s",
        KinesisWriterConfig(batchSize = batch, maxAttemptsPerRecord = maxAtt),
        sleep = _ => ())
      val stats = w.write(records.iterator)
      assert(maxReqSize <= batch, s"trial $trial: request of $maxReqSize > $batch")
      assert(stats.recordsSent == n - nPoison, s"trial $trial sent")
      assert(stats.recordsDropped == nPoison, s"trial $trial dropped")
      assert(fake.stored("s").size == n - nPoison, s"trial $trial stored")
    }
  }

  test("intra-partition order is preserved across request-level retries " +
      "(improvement over the reference's documented ordering break, " +
      "batchproducer.go:423-426)") {
    val fake = new FakeKinesis()
    val w = new KinesisRecordWriter(fake, "s",
      KinesisWriterConfig(batchSize = 7), sleep = _ => ())
    fake.failNextRequests.set(1)
    w.write(recs(40).iterator)
    assert(fake.storedPayloads("s") == (0 until 40).map(i => s"r$i"))
  }
}
