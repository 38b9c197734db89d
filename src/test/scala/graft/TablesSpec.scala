package graft

import java.time.{LocalDateTime, ZoneOffset}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `Tables` caches the schema it infers, never data: a repeated read
  * starts no inference job and plans exactly like `spark.read.parquet`,
  * and a rewritten table or a changed conf infers again.
  */
class TablesSpec extends SparkTestBase {

  test("a second load starts no Spark job and gives spark.read.parquet's " +
      "schema and analyzed plan") {
    Tables.all.foreach { name =>
      Tables.load(spark, sfSmoke, name).schema // infer (or already cached)
      val (again, jobs) = countingJobs {
        val df = Tables.load(spark, sfSmoke, name)
        df.queryExecution.analyzed
        Tables.loadStream(spark, sfSmoke, name).schema
        df
      }
      assert(jobs == 0, s"$name: a cached load started $jobs jobs")
      if (name != "events") {
        val plain = spark.read.parquet(s"$sfSmoke/$name.parquet")
        assert(again.schema == plain.schema, name)
        assert(again.queryExecution.analyzed
          .sameResult(plain.queryExecution.analyzed), name)
      }
    }
  }

  test("overwriting a table with another ts encoding is seen by the " +
      "next load") {
    val dir = tmpDir("tables-ts")
    val us = 1704067200123456L
    def write(t: DataType, v: Any): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(1L, v)), 1),
        StructType(Seq(StructField("event_id", LongType),
          StructField("ts", t))))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    def loaded: Long = Tables.load(spark, dir, "events")
      .select(unix_micros(col("ts"))).head().getLong(0)
    write(LongType, us * 1000L)
    assert(loaded == us)
    // an hour later, now as TIMESTAMP_NTZ micros: a stale LongType
    // schema would read the micros as nanos
    val later = us + 3600L * 1000000L
    write(TimestampNTZType, LocalDateTime.ofEpochSecond(later / 1000000L,
      ((later % 1000000L) * 1000L).toInt, ZoneOffset.UTC))
    assert(loaded == later)
  }

  test("flipping spark.sql.parquet.binaryAsString infers the schema " +
      "again") {
    // written outside Spark: Spark stores its own schema in the footer,
    // and inference prefers that stored schema over binaryAsString
    val dir = tmpDir("tables-binary")
    val schema = MessageTypeParser.parseMessageType(
      "message blobs { required int64 id; required binary body; }")
    val w = ExampleParquetWriter.builder(
        new Path(s"$dir/blobs.parquet/part-0.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("id", 1L).append("body", "abc"))
    finally w.close()
    def bodyType = Tables.load(spark, dir, "blobs").schema("body").dataType
    assert(bodyType == BinaryType)
    withConfs("spark.sql.parquet.binaryAsString" -> "true") {
      assert(bodyType == StringType)
      assert(Tables.load(spark, dir, "blobs").select("body").head()
        .getString(0) == "abc")
    }
    assert(bodyType == BinaryType)
  }
}
