package graft.sink

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.expressions.Transform
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.streaming.ReportsSinkMetrics
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource-v2 sink: `df.writeStream.format("kinesis-graft")` /
  * `df.write.format("kinesis-graft")` — the v1 ergonomics layer over the
  * same per-task [[KinesisTaskRouter]] the foreachBatch adapter uses
  * (SURVEY.md §7.2 component 3). Unlike that adapter it has no
  * dead-letter queue, so `dead_letter_path` is rejected.
  *
  * Option surface mirrors the reference's Viper config
  * (/root/reference/utils.go:23-46, README.md:51-55) via
  * [[KinesisSinkOptions]]; delivery counters surface as DSv2
  * CustomMetrics — the Spark-native form of the reference's `StatsBatch`
  * → `StatReceiver` plumbing (batchproducer.go:49-66,458-470): task
  * metrics are summed by Spark and appear per micro-batch in
  * `StreamingQueryProgress.sink.metrics`.
  *
  * Input schema contract (same as [[KinesisSink.toWire]]'s output):
  * `data binary` required; `partitionKey string` optional (a UUIDv4 per
  * record when absent or null — utils.go:15-19 — generated in the task,
  * seeded per write, per partition and, when streaming, per epoch);
  * `stream string` optional when the `stream` option names a default.
  * A retried task re-sends the keys it generated before; a streaming
  * epoch replayed after a restart gets new ones, because the restarted
  * query draws a new write seed.
  */
final class KinesisGraftProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "kinesis-graft"

  // Table schema is the READ schema (the Kafka-connector convention):
  // writes validate the query's own schema in newWriteBuilder, and
  // by-name append matches the query's columns into this superset (the
  // read-only shardId/sequenceNumber columns arrive null and the writer
  // ignores them).
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KinesisGraftSource.readSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new KinesisGraftTable(schema)
}

object KinesisGraftProvider {
  val wireSchema: StructType = StructType(Seq(
    StructField("stream", StringType),
    StructField("partitionKey", StringType),
    StructField("data", BinaryType)))
}

private final class KinesisGraftTable(schema: StructType)
    extends Table with SupportsWrite with SupportsRead with ReportsSinkMetrics {
  override def name(): String = "kinesis-graft"
  override def schema(): StructType = schema

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new KinesisGraftScanBuilder(options)

  // Driver-side running totals, summed from task commit messages by the
  // epoch commit — this is what StreamingQueryProgress.sink.metrics
  // renders (ReportsSinkMetrics), the Spark-native StatReceiver
  // (batchproducer.go:49-66).
  private[sink] val totals = new AtomicReference(WriteStats())

  override def metrics(): util.Map[String, String] =
    totals.get().named.map { case (n, v) => n -> v.toString }.toMap.asJava
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val opts = KinesisSinkOptions.fromMap(
      info.options().asCaseSensitiveMap().asScala.toMap)
    val s = info.schema()
    require(s.fieldNames.contains("data") &&
        s("data").dataType == BinaryType,
      "kinesis-graft requires a binary 'data' column")
    val hasStreamCol = s.fieldNames.contains("stream")
    require(hasStreamCol || opts.stream.isDefined,
      "kinesis-graft needs a 'stream' column or a 'stream' option")
    require(opts.deadLetterPath.isEmpty, "kinesis-graft has no dead-letter " +
      "queue; write through KinesisSink.write/start to use dead_letter_path")
    new WriteBuilder {
      override def build(): Write = new KinesisGraftWrite(s, opts, totals)
    }
  }
}

/** Declared sink metrics (driver side): Spark sums the per-task values.
  * Spark re-creates a v2 custom metric from its class name, so each
  * counter keeps its own no-argument class.
  */
private object GraftMetric {
  sealed abstract class Sum(index: Int, desc: String) extends CustomSumMetric {
    override def name(): String = WriteStats.names(index)
    override def description(): String = desc
  }
  final class Sent extends Sum(0, "records delivered to Kinesis")
  final class Dropped extends Sum(1, "records dropped after retry caps")
  final class Errors extends Sum(2, "PutRecords request failures")
  final class Requests extends Sum(3, "PutRecords requests issued")
  def all: Array[CustomMetric] =
    Array(new Sent, new Dropped, new Errors, new Requests)

  def task(stats: WriteStats): Array[CustomTaskMetric] =
    stats.named.map { case (n, v) =>
      new CustomTaskMetric {
        override def name(): String = n
        override def value(): Long = v
      }
    }.toArray[CustomTaskMetric]
}

private final case class GraftCommitMessage(stats: WriteStats)
    extends WriterCommitMessage

private object GraftCommitMessage {
  def addTo(totals: AtomicReference[WriteStats],
      messages: Array[WriterCommitMessage]): Unit = {
    val batch = messages.collect { case GraftCommitMessage(s) => s }
      .foldLeft(WriteStats())(_ + _)
    totals.updateAndGet(_ + batch)
  }
}

/** One DSv2 write, batch or streaming. Its key seed is drawn once, here,
  * before any task runs, so every task of the write (every epoch, for a
  * streaming query run) derives its keys from it.
  */
private final class KinesisGraftWrite(
    schema: StructType, opts: KinesisSinkOptions,
    totals: AtomicReference[WriteStats])
    extends Write with BatchWrite with StreamingWrite {
  private val factory =
    new GraftWriterFactory(schema, opts, KinesisTaskRouter.newWriteSeed())

  override def toBatch: BatchWrite = this
  override def toStreaming: StreamingWrite = this
  override def supportedCustomMetrics(): Array[CustomMetric] = GraftMetric.all
  // both interfaces default this to true; the class must pick one
  override def useCommitCoordinator(): Boolean = true

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    factory
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = factory

  // By the time tasks report, their records are flushed — the
  // Flush-on-Close drain (sink.go:111-126) is implicit per batch/epoch.
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    GraftCommitMessage.addTo(totals, messages)
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    GraftCommitMessage.addTo(totals, messages)
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

private final class GraftWriterFactory(schema: StructType,
    opts: KinesisSinkOptions, writeSeed: Long)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(schema, KinesisTaskRouter(opts, writeSeed, partitionId))
  // Each epoch of a streaming run gets its own keys: its id is mixed
  // into the write seed.
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(schema,
      KinesisTaskRouter(opts, writeSeed + epochId, partitionId))
}

/** Per-task DSv2 writer: extracts `(stream, partitionKey, data)` from
  * each row and delivers through its partition's [[KinesisTaskRouter]].
  */
private final class GraftDataWriter(schema: StructType,
    router: KinesisTaskRouter) extends DataWriter[InternalRow] {
  private val streamIdx = schema.fieldNames.indexOf("stream")
  private val pkIdx = schema.fieldNames.indexOf("partitionKey")
  private val dataIdx = schema.fieldNames.indexOf("data")

  // By-name append fills absent nullable columns with nulls, so a query
  // without a stream or partitionKey column arrives here as null values;
  // the router's fallbacks handle both.
  private def string(row: InternalRow, i: Int): String =
    if (i < 0 || row.isNullAt(i)) null else row.getUTF8String(i).toString

  override def write(row: InternalRow): Unit =
    router.add(string(row, streamIdx), string(row, pkIdx),
      row.getBinary(dataIdx))

  // Spark reads currentMetricsValues() after writeAll and before
  // commit(), so the final flush belongs here for the SQL metrics to
  // count each partition's last batch.
  override def writeAll(rows: java.util.Iterator[InternalRow]): Unit = {
    while (rows.hasNext) write(rows.next())
    router.flush()
  }

  // A no-op flush after writeAll; it delivers the rest for a caller
  // that feeds rows through write() alone.
  override def commit(): WriterCommitMessage = GraftCommitMessage(router.flush())
  override def abort(): Unit = ()
  override def close(): Unit = ()

  override def currentMetricsValues(): Array[CustomTaskMetric] =
    GraftMetric.task(router.stats)
}
