package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the read-only parquet fixtures described in FIXTURES.md.
  *
  * All operators take a `dir` (a scale-factor directory such as
  * `/root/testdata/sf0.01`) and read the tables they need through here, so
  * the scan always goes through the same code path: a plain
  * `spark.read.parquet` that Catalyst can push filters and column pruning
  * into. The inferred schema is cached, never data — at 100 TB the
  * tables don't fit in memory, and the parquet reader + pushdown is the
  * scalable access path.
  *
  * Schema cache: `spark.read.parquet(path)` starts a one-task Spark job
  * on every call just to read a footer and infer the schema. [[load]]
  * and [[loadStream]] infer it once and then read with
  * `spark.read.schema(cached).parquet(path)`. The cache key is the
  * table path's leaf files (path, length, modification time) plus the
  * session's SQL conf (`spark.conf.getAll`), so rewriting the table or
  * changing any conf (`spark.sql.parquet.binaryAsString`,
  * `nanosAsLong`, ...) infers again. File sources make the data schema
  * nullable either way, so the schema and the plan are the ones an
  * uncached read gives; only the inference job goes away.
  */
object Tables {
  /** Every fixture table (TESTDATA.md). */
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Dimension tables small enough to broadcast at any scale factor:
    * region is 5 rows and nation 25 at every SF (FIXTURES.md §B). */
  val broadcastable: Set[String] = Set("region", "nation")

  /** `events.ts` has shipped under two parquet encodings so far, and the
    * operator code must see a plain `TimestampType` regardless of which
    * one the fixture generation picked:
    *
    *  - TIMESTAMP(NANOS): Spark 4 refuses it (PARQUET_TYPE_ILLEGAL)
    *    unless `spark.sql.legacy.parquet.nanosAsLong=true` is set —
    *    every session builder in this repo sets it. The column then
    *    arrives as LongType nanos; convert to TimestampType micros with
    *    floor division (`/` on columns is double division and would
    *    round half-up where DuckDB's ns→µs read truncates — 1 µs skew).
    *  - timestamp[us] with no timezone: Spark reads TIMESTAMP_NTZ,
    *    which `unix_micros` and `withWatermark` reject. Cast to
    *    TimestampType — the session timezone is pinned to UTC in every
    *    entry point, so the cast reinterprets the same wall-clock as the
    *    same instant and DuckDB's naive-timestamp oracle semantics are
    *    unchanged.
    */
  private def normalizeTs(tsType: DataType)(df: DataFrame): DataFrame =
    tsType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  /** What a cached schema was inferred from: the leaf files under the
    * table path and the session's SQL conf. */
  private final case class SchemaSource(
      files: Seq[(String, Long, Long)], conf: Map[String, String])

  /** Table path → (source, inferred schema); one entry per path. */
  private val schemas =
    new ConcurrentHashMap[String, (SchemaSource, StructType)]()

  private def leafFiles(spark: SparkSession,
      path: Path): Seq[(String, Long, Long)] = {
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(st: FileStatus): Seq[(String, Long, Long)] =
      if (st.isDirectory)
        fs.listStatus(st.getPath).sortBy(_.getPath.toString).toSeq
          .flatMap(walk)
      else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
    walk(fs.getFileStatus(path))
  }

  /** `spark.read.parquet(path)` with the schema inference served from
    * [[schemas]] when neither the files nor the conf changed. The
    * inference runs outside any lock: concurrent first reads of one
    * path may both infer, and the last one stored wins (same value). A
    * missing path falls through to Spark's own read and its error.
    */
  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    val files =
      try Some(leafFiles(spark, new Path(path)))
      catch { case _: FileNotFoundException => None }
    files.fold(spark.read.parquet(path)) { fs =>
      val source = SchemaSource(fs, spark.conf.getAll)
      val schema = Option(schemas.get(path)) match {
        case Some((cached, s)) if cached == source => s
        case _ =>
          val s = spark.read.parquet(path).schema
          schemas.put(path, (source, s))
          s
      }
      spark.read.schema(schema).parquet(path)
    }
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = readParquet(spark, s"$dir/$name.parquet")
    if (name == "events") normalizeTs(df.schema("ts").dataType)(df) else df
  }

  /** Streaming read of one fixture table: file-stream over the SF dir
    * narrowed to the table's parquet (streaming sources need a
    * directory), with the SAME guarded ts conversion as [[load]] — the
    * streaming gates (e07/e16/d10) must see the schema batch queries
    * see, including if the fixture is ever regenerated with µs
    * timestamps.
    */
  def loadStream(spark: SparkSession, dir: String, name: String): DataFrame = {
    val raw = readParquet(spark, s"$dir/$name.parquet")
    val streamed = spark.readStream.schema(raw.schema)
      .option("pathGlobFilter", s"$name.parquet")
      .parquet(dir)
    if (name == "events") normalizeTs(raw.schema("ts").dataType)(streamed)
    else streamed
  }
}
