package graft.sink

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.streaming.GraftQueryEvents

/** Round-trip parity with the reference's integration suite
  * (/root/reference/integration_test.go): TestSend (send → close → read
  * back, :159-173) and TestRestart (send → close → restart → send →
  * verify all, :175-198), with order-insensitive multiset comparison
  * (:151-157) against the in-memory FakeKinesis instead of localstack.
  */
class KinesisSinkSpec extends SparkTestBase {
  import org.apache.spark.sql.Row

  private def payloads(msgs: Seq[String]) = {
    import spark.implicits._
    msgs.toDF("s").select(col("s").cast("binary").as("data"))
  }

  test("toWire: uuid partition keys per record (utils.go:15-19), " +
      "default stream, binary data") {
    val wire = KinesisSink.toWire(payloads(Seq("a", "b", "c")), Some("t"))
    val rows = wire.collect()
    assert(wire.columns.toSeq == Seq("stream", "partitionKey", "data"))
    assert(rows.map(_.getString(0)).forall(_ == "t"))
    val pks = rows.map(_.getString(1))
    assert(pks.distinct.length == 3, "partition keys must be unique uuids")
    assert(pks.forall(_.matches("[0-9a-f-]{36}")))
  }

  test("toWire rejects input without data column / without any stream") {
    import spark.implicits._
    intercept[IllegalArgumentException] {
      KinesisSink.toWire(Seq("x").toDF("notdata"), Some("t"))
    }
    intercept[IllegalArgumentException] {
      KinesisSink.toWire(Seq("x").toDF("data"), None)
    }
  }

  test("streaming TestSend parity: memory source → sink → stop → verify") {
    val fake = FakeKinesis.named("rt3")
    fake.clear()
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val source = MemoryStream[String]
    val df = source.toDF().select(col("value").cast("binary").as("data"))
    val ckpt = Files.createTempDirectory("ckpt-send").toString
    val events = GraftQueryEvents.attach(spark)
    val q = KinesisSink.start(df,
      Map("aws_region_name" -> "us-east-1", "stream" -> "it-topic",
        "client" -> "fake:rt3"), ckpt, queryName = "send-parity")
    val msgs = (0 until 5).map(i => s"test message $i")
    source.addData(msgs)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30000)
    assert(fake.storedPayloads("it-topic").sorted == msgs.sorted)
    val seen = events.drain()
    assert(seen.exists { case GraftQueryEvents.Started("send-parity") => true
      case _ => false })
    assert(seen.exists { case p: GraftQueryEvents.Progress =>
      p.queryName == "send-parity" && p.numInputRows > 0
      case _ => false }, s"no progress event with rows in $seen")
    events.detach(spark)
  }

  test("streaming TestRestart parity: stop, restart on same checkpoint, " +
      "send more, verify all (integration_test.go:175-198)") {
    val fake = FakeKinesis.named("rt4")
    fake.clear()
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val source = MemoryStream[String]
    val df = source.toDF().select(col("value").cast("binary").as("data"))
    val ckpt = Files.createTempDirectory("ckpt-restart").toString
    val opts = Map("aws_region_name" -> "us-east-1",
      "stream" -> "restart-topic", "client" -> "fake:rt4")

    val q1 = KinesisSink.start(df, opts, ckpt)
    val first = (0 until 5).map(i => s"before-$i")
    source.addData(first)
    q1.processAllAvailable()
    q1.stop()
    q1.awaitTermination(30000)
    assert(fake.storedPayloads("restart-topic").sorted == first.sorted)

    // Restart on the same checkpoint — S7 (sink.go:128-140).
    val q2 = KinesisSink.start(df, opts, ckpt)
    val second = (0 until 5).map(i => s"after-$i")
    source.addData(second)
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination(30000)
    assert(fake.storedPayloads("restart-topic").sorted ==
      (first ++ second).sorted,
      "restart must deliver new records exactly; committed epoch not replayed")
  }

  test("stop with flush timeout drains the final epoch (Close parity, " +
      "sink.go:111-126)") {
    val fake = FakeKinesis.named("rt5")
    fake.clear()
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val source = MemoryStream[String]
    val df = source.toDF().select(col("value").cast("binary").as("data"))
    val ckpt = Files.createTempDirectory("ckpt-stop").toString
    val opts = Map("aws_region_name" -> "r", "stream" -> "stop-topic",
      "client" -> "fake:rt5", "kinesis_flush_timeout_ms" -> "20000")
    val q = KinesisSink.start(df, opts, ckpt)
    source.addData((0 until 50).map(i => s"m$i"))
    // NO processAllAvailable here: stop() itself must drain the backlog
    // within the flush timeout before stopping (Close semantics).
    KinesisSink.stop(q, opts)
    assert(!q.isActive)
    assert(fake.stored("stop-topic").size == 50, "final epoch must drain")
    // conf restored
    assert(spark.conf.getOption("spark.sql.streaming.stopTimeout").isEmpty ||
      spark.conf.get("spark.sql.streaming.stopTimeout") != "20000")
  }

  test("dead-letter quarantine: attempt-capped drops land in the DLQ " +
      "parquet with routing + reason; delivered records are unaffected") {
    import spark.implicits._
    val fake = FakeKinesis.named("dlq1")
    fake.clear()
    val dlq = Files.createTempDirectory("graft-dlq").toString + "/q"
    // the magic 'fail' partition key poisons one record (FakeKinesis
    // parity with the reference's mock); two healthy records around it
    val df = Seq(("ok1", "a"), ("fail", "poison"), ("ok2", "b"))
      .toDF("partitionKey", "s")
      .select($"partitionKey", $"s".cast("binary").as("data"))
    val m = KinesisSink.write(df, Map(
      "aws_region_name" -> "us-east-1", "stream" -> "topic-d",
      "client" -> "fake:dlq1", "max_attempts_per_record" -> "2",
      "base_backoff_ms" -> "1", "dead_letter_path" -> dlq))
    assert(m.recordsSent.value == 2 && m.recordsDropped.value == 1)
    assert(fake.storedPayloads("topic-d").sorted == Seq("a", "b"))
    val q = spark.read.parquet(dlq)
      .select($"stream", $"partitionKey",
        $"data".cast("string").as("payload"), $"reason")
      .collect()
    assert(q.length == 1, s"exactly the poison record quarantines: " +
      s"${q.mkString(",")}")
    val r = q.head
    assert(r.getString(0) == "topic-d" && r.getString(1) == "fail" &&
      r.getString(2) == "poison" &&
      r.getString(3).startsWith("max_attempts:2"),
      s"DLQ row must carry routing + payload + reason: $r")
  }

  test("dead-letter quarantine: a load-shed batch (persistent request " +
      "errors under on_persistent_error=drop) quarantines whole") {
    import spark.implicits._
    val fake = FakeKinesis.named("dlq2")
    fake.clear()
    fake.failNextRequests.set(1000) // every request fails
    val dlq = Files.createTempDirectory("graft-dlq2").toString + "/q"
    val df = Seq("x1", "x2", "x3").toDF("s")
      .select($"s".cast("binary").as("data"))
      .coalesce(1)
    val m = KinesisSink.write(df, Map(
      "aws_region_name" -> "us-east-1", "stream" -> "topic-e",
      "client" -> "fake:dlq2", "on_persistent_error" -> "drop",
      "base_backoff_ms" -> "1", "dead_letter_path" -> dlq))
    fake.failNextRequests.set(0)
    assert(m.recordsDropped.value == 3 && m.recordsSent.value == 0)
    val q = spark.read.parquet(dlq)
      .select($"data".cast("string").as("p"), $"reason").collect()
    assert(q.map(_.getString(0)).sorted.toSeq == Seq("x1", "x2", "x3"),
      s"the whole shed batch must quarantine: ${q.mkString(",")}")
    assert(q.forall(_.getString(1).startsWith("load_shed:")),
      "load-shed rows must carry the load_shed reason")
  }

  test("dead-letter replay: after the fault clears, replay re-sends " +
      "the quarantine and removes exactly what it consumed") {
    import spark.implicits._
    val fake = FakeKinesis.named("dlq3")
    fake.clear()
    fake.failNextRequests.set(1000)
    val dlq = Files.createTempDirectory("graft-dlq3").toString + "/q"
    val opts = Map(
      "aws_region_name" -> "us-east-1", "stream" -> "topic-f",
      "client" -> "fake:dlq3", "on_persistent_error" -> "drop",
      "base_backoff_ms" -> "1", "dead_letter_path" -> dlq)
    val df = Seq("y1", "y2").toDF("s")
      .select($"s".cast("binary").as("data")).coalesce(1)
    KinesisSink.write(df, opts)
    assert(fake.storedPayloads("topic-f").isEmpty &&
      spark.read.parquet(dlq).count() == 2, "precondition: all shed")

    fake.failNextRequests.set(0) // the fault clears
    val m = KinesisSink.replayDeadLetters(spark, opts)
    assert(m.recordsSent.value == 2 && m.recordsDropped.value == 0)
    assert(fake.storedPayloads("topic-f").sorted == Seq("y1", "y2"),
      "replay must deliver the quarantined records")
    assert(spark.read.parquet(dlq).count() == 0,
      "replay must remove exactly what it consumed")
    // idempotent on an empty quarantine
    assert(KinesisSink.replayDeadLetters(spark, opts).recordsSent.value == 0)
  }

  test("sink option validation fails fast (batchproducer.go:143-153)") {
    intercept[IllegalArgumentException] {
      KinesisSinkOptions.fromMap(Map("stream" -> "s")) // region missing
    }
    intercept[IllegalArgumentException] {
      KinesisSinkOptions.fromMap(Map("aws_region_name" -> "r",
        "batch_size" -> "501"))
    }
    intercept[IllegalArgumentException] {
      KinesisSinkOptions.fromMap(Map("aws_region_name" -> "r",
        "on_persistent_error" -> "explode"))
    }
    val o = KinesisSinkOptions.fromMap(Map("aws_region_name" -> "r",
      "kinesis_endpoint" -> "localhost:4568"))
    assert(o.endpoint.contains("http://localhost:4568")) // utils.go:33-37
    assert(o.flushTimeoutMs == 30000L) // sink.go:19
    assert(o.writer.batchSize == 500) // sink.go:51
  }
}
