package graft.sink

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.AppendData
import org.apache.spark.sql.connector.read.streaming.ReportsSinkMetrics
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, V2TableWriteExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkTestBase
import graft.sink.KinesisTaskRouterSpec.UuidV4

/** One spec, run against both sink surfaces: `KinesisSink.write` (the
  * foreachBatch path) and `df.write.format("kinesis-graft")` (DSv2).
  * Both deliver through the same per-task router, so the same input
  * must land the same way and report the same counters under the same
  * names. Round-trips compare multisets, like the reference's
  * integration suite (integration_test.go:151-173).
  */
class SinkSurfacesSpec extends SparkTestBase {

  /** A sink surface: writes `df` with `opts` and returns the counters
    * it reports, by metric name.
    */
  private case class Surface(name: String,
      write: (DataFrame, Map[String, String]) => Map[String, Long])

  private val foreachBatch = Surface("foreachBatch", { (df, opts) =>
    val m = KinesisSink.write(df, opts)
    Seq(m.recordsSent, m.recordsDropped, m.kinesisErrors, m.putRequests)
      .map(a => a.name.get.stripPrefix("graft.kinesis.") -> a.value.toLong)
      .toMap
  })

  /** Runs a batch DSv2 write; returns the write command's execution. */
  private def dsv2Write(df: DataFrame,
      opts: Map[String, String]): QueryExecution = {
    val done = new LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.isInstanceOf[AppendData]) done.put(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      df.write.format("kinesis-graft").options(opts).mode("append").save()
      val qe = done.poll(60, TimeUnit.SECONDS)
      assert(qe != null, "no DSv2 write reached the listener")
      qe
    } finally spark.listenerManager.unregister(listener)
  }

  // A batch DSv2 write reports through its table's sink metrics; the
  // table is taken from the write command's plan.
  private val dsv2 = Surface("dsv2", { (df, opts) =>
    val table = dsv2Write(df, opts).analyzed.asInstanceOf[AppendData].table
      .asInstanceOf[DataSourceV2Relation].table
    table.asInstanceOf[ReportsSinkMetrics].metrics().asScala
      .map { case (k, v) => k -> v.toLong }.toMap
  })

  private def opts(client: String, extra: (String, String)*) =
    Map("aws_region_name" -> "us-east-1", "client" -> s"fake:$client") ++ extra

  private def fresh(name: String): FakeKinesis = {
    val fake = FakeKinesis.named(name)
    fake.clear()
    fake
  }

  private def causes(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")

  for (s <- Seq(foreachBatch, dsv2)) {
    val client = s"surfaces-${s.name}"

    test(s"${s.name}: default stream round-trip with uuid keys") {
      val fake = fresh(client)
      import spark.implicits._
      val msgs = (0 until 1234).map(i => s"msg-$i")
      val got = s.write(msgs.toDF("s").select($"s".cast("binary").as("data")),
        opts(client, "stream" -> "topic-a"))
      assert(fake.storedPayloads("topic-a").sorted == msgs.sorted)
      val keys = fake.stored("topic-a").map(_.partitionKey)
      assert(keys.distinct.size == keys.size && keys.forall(_.matches(UuidV4)),
        "each record gets its own UUIDv4 key")
      assert(got("recordsSent") == 1234 && got("recordsDropped") == 0)
      assert(got("putRequests") >= 3, "at most 500 records per request")
    }

    test(s"${s.name}: stream column routing keeps partition order") {
      val fake = fresh(client)
      import spark.implicits._
      // three source partitions of 200 ids each; batch_size 7 makes every
      // stream flush many times per task
      val df = spark.range(0, 600, 1, 3).select(
        concat(lit("t"), $"id" % 3).as("stream"),
        concat(lit("k"), $"id").as("partitionKey"),
        $"id".cast("string").cast("binary").as("data"))
      val got = s.write(df, opts(client, "batch_size" -> "7"))
      assert(got("recordsSent") == 600)
      assert(fake.streamNames == Set("t0", "t1", "t2"))
      for (t <- 0 until 3) {
        val recs = fake.stored(s"t$t")
        val ids = recs.map(r => new String(r.data, "UTF-8").toInt)
        assert(ids.sorted == (t until 600 by 3), s"stream t$t content")
        assert(recs.forall(r => r.partitionKey == s"k${new String(r.data, "UTF-8")}"),
          "explicit partition keys are kept")
        ids.groupBy(_ / 200).foreach { case (p, seq) =>
          assert(seq == seq.sorted, s"partition $p out of order in t$t")
        }
      }
    }

    test(s"${s.name}: null stream and partitionKey fall back") {
      val fake = fresh(client)
      import spark.implicits._
      val df = Seq[(String, String, String)](
          (null, "k0", "p0"), ("s1", null, "p1"), (null, null, "p2"),
          ("s1", "k3", "p3"))
        .toDF("stream", "partitionKey", "s")
        .select($"stream", $"partitionKey", $"s".cast("binary").as("data"))
      s.write(df, opts(client, "stream" -> "dflt"))
      assert(fake.storedPayloads("dflt").sorted == Seq("p0", "p2"))
      assert(fake.storedPayloads("s1").sorted == Seq("p1", "p3"))
      val keys = (fake.stored("dflt") ++ fake.stored("s1"))
        .map(r => new String(r.data, "UTF-8") -> r.partitionKey).toMap
      assert(keys("p0") == "k0" && keys("p3") == "k3")
      assert(Seq("p1", "p2").forall(p => keys(p).matches(UuidV4)),
        s"null keys get UUIDv4 keys: $keys")
      val e = intercept[Exception](s.write(df, opts(client)))
      assert(causes(e).contains("no default stream option"), causes(e))
    }

    test(s"${s.name}: counters for a poison partition key") {
      fresh(client)
      import spark.implicits._
      val df = (0 until 20).map(i => (if (i == 7) "fail" else s"k$i", s"v$i"))
        .toDF("partitionKey", "s")
        .select($"partitionKey", $"s".cast("binary").as("data"))
        .coalesce(1)
      val got = s.write(df, opts(client, "stream" -> "poison",
        "max_attempts_per_record" -> "2", "base_backoff_ms" -> "1"))
      // one request for all 20, one selective retry of the poison record
      assert(got == Map("recordsSent" -> 19L, "recordsDropped" -> 1L,
        "kinesisErrors" -> 0L, "putRequests" -> 2L))
    }
  }

  test("dsv2: the write node's SQL metrics count each partition's last batch") {
    fresh("surfaces-sql-metrics")
    import spark.implicits._
    // two partitions of 617 records: 500 flushed while writing, 117 at
    // the end of each task
    val df = spark.range(0, 1234, 1, 2).select($"id".cast("string")
      .cast("binary").as("data"))
    val qe = dsv2Write(df,
      opts("surfaces-sql-metrics", "stream" -> "sql-metrics"))
    val sql = qe.executedPlan.collectFirst { case w: V2TableWriteExec =>
      w.metrics.collect { case (n, m) if WriteStats.names.contains(n) =>
        n -> m.value }
    }.getOrElse(fail(s"no V2 write node in ${qe.executedPlan}"))
    assert(sql == Map("recordsSent" -> 1234L, "recordsDropped" -> 0L,
      "kinesisErrors" -> 0L, "putRequests" -> 4L), sql)
  }
}
