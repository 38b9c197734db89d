package graft.sink

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The DSv2 `format("kinesis-graft")` surface: streaming writes and
  * restart, option validation at plan time, and sink metrics in
  * StreamingQueryProgress. What it shares with [[KinesisSink]] (round
  * trips, routing, fallbacks, counters) is checked in `SinkSurfacesSpec`.
  */
class KinesisGraftProviderSpec extends SparkTestBase {

  test("streaming write reports sink CustomMetrics in progress " +
      "(StatsBatch parity, batchproducer.go:58-66)") {
    val fake = FakeKinesis.named("dsv2-stream")
    fake.clear()
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val source = MemoryStream[String]
    val ckpt = Files.createTempDirectory("ckpt-dsv2").toString
    val q = source.toDF().select(col("value").cast("binary").as("data"))
      .writeStream.format("kinesis-graft")
      .option("aws_region_name", "us-east-1")
      .option("stream", "s-topic")
      .option("client", "fake:dsv2-stream")
      .option("checkpointLocation", ckpt)
      .start()
    source.addData((0 until 123).map(i => s"m$i"))
    q.processAllAvailable()
    val metrics = q.lastProgress.sink.metrics
    q.stop(); q.awaitTermination(30000)
    assert(fake.stored("s-topic").size == 123)
    assert(metrics.get("recordsSent").toLong == 123,
      s"sink metrics missing recordsSent: $metrics")
    assert(metrics.get("putRequests").toLong >= 1)
    assert(metrics.get("recordsDropped").toLong == 0)
  }

  test("DSv2 streaming restart on the same checkpoint does not re-deliver") {
    val fake = FakeKinesis.named("dsv2-restart")
    fake.clear()
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val source = MemoryStream[String]
    val ckpt = Files.createTempDirectory("ckpt-dsv2-restart").toString
    def start() = source.toDF()
      .select(col("value").cast("binary").as("data"))
      .writeStream.format("kinesis-graft")
      .option("aws_region_name", "r").option("stream", "rt")
      .option("client", "fake:dsv2-restart")
      .option("checkpointLocation", ckpt)
      .start()
    val q1 = start()
    source.addData((0 until 10).map(i => s"x$i"))
    q1.processAllAvailable(); q1.stop(); q1.awaitTermination(30000)
    assert(fake.stored("rt").size == 10)
    val q2 = start()
    source.addData((10 until 15).map(i => s"x$i"))
    q2.processAllAvailable(); q2.stop(); q2.awaitTermination(30000)
    assert(fake.storedPayloads("rt").sorted ==
      (0 until 15).map(i => s"x$i").sorted,
      "restart must deliver only new data exactly once")
  }

  test("plan-time validation: missing data column / missing stream fail " +
      "before any task runs") {
    import spark.implicits._
    val noData = Seq("x").toDF("notdata")
    val e1 = intercept[Exception] {
      noData.write.format("kinesis-graft")
        .option("aws_region_name", "r").option("stream", "s")
        .option("client", "fake:x").mode("append").save()
    }
    assert(e1.getMessage.contains("data"))
    // By-name append fills the absent nullable stream column with nulls,
    // so this surfaces at write time, not plan time — but with a clear
    // message naming the fix.
    val noStream = Seq("x").toDF("s").select(col("s").cast("binary").as("data"))
    val e2 = intercept[Exception] {
      noStream.write.format("kinesis-graft")
        .option("aws_region_name", "r")
        .option("client", "fake:x").mode("append").save()
    }
    val messages = Iterator.iterate(e2: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(messages.contains("no default stream option"), messages)
  }

  test("dead_letter_path is rejected before any task runs") {
    val fake = FakeKinesis.named("dsv2-dlq")
    fake.clear()
    fake.requestCount.set(0)
    import spark.implicits._
    val e = intercept[Exception] {
      Seq("x").toDF("s").select(col("s").cast("binary").as("data"))
        .write.format("kinesis-graft")
        .option("aws_region_name", "r").option("stream", "s")
        .option("client", "fake:dsv2-dlq")
        .option("dead_letter_path", Files.createTempDirectory("dsv2-dlq").toString)
        .mode("append").save()
    }
    val messages = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(messages.contains("KinesisSink.write/start"), messages)
    assert(fake.requestCount.get() == 0 && fake.streamNames.isEmpty)
  }
}
