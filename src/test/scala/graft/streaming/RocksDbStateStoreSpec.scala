package graft.streaming

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Pins the streaming state-store backend: every stateful gate must run
  * on RocksDB, not the heap-backed default. The conf alone proves
  * nothing (a typo'd provider class name fails only at query start, and
  * only for queries with stateful operators), so this spec runs a real
  * stateful query and asserts RocksDB's own metrics appear in the
  * progress — the backend was LOADED and served the state.
  */
class RocksDbStateStoreSpec extends SparkTestBase {

  test("MemoryGate confs name the RocksDB provider and the class loads") {
    val provider = MemoryGate.GateConfs.toMap
      .apply("spark.sql.streaming.stateStore.providerClass")
    assert(provider.contains("RocksDBStateStoreProvider"))
    // fail here, not at the first gated query, if the class name rots
    Class.forName(provider)
    ()
  }

  test("MemoryGate confs name the local checkpoint file manager, the " +
      "class loads, and a stopped query's checkpoint holds no temp file") {
    val cls = MemoryGate.GateConfs.toMap
      .apply("spark.sql.streaming.checkpointFileManagerClass")
    // Spark instantiates it by this exact constructor
    Class.forName(cls).getConstructor(classOf[org.apache.hadoop.fs.Path],
      classOf[org.apache.hadoop.conf.Configuration])
    // a gate's own checkpoint is a temporary directory Spark deletes at
    // stop, so the same conf list (the test session's) runs here with a
    // checkpoint location that survives the query
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ckpt = tmpDir("rocksdb-ckpt")
    val source = MemoryStream[Long]
    val q = source.toDF().groupBy(($"value" % 3).as("k")).count()
      .writeStream.outputMode("complete").format("memory")
      .queryName("ckpt_manager_probe")
      .option("checkpointLocation", ckpt).start()
    try {
      source.addData(1L, 2L, 3L); q.processAllAvailable()
      source.addData(4L, 5L); q.processAllAvailable()
    } finally { q.stop(); q.awaitTermination(30000) }
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
      .iterator().asScala.map(_.getFileName.toString).toSeq
    assert(!files.exists(_.endsWith(".tmp")), s"temp files left: $files")
    // Hadoop's local FS writes a .crc beside each file; none here means
    // the offset and commit logs went through the NIO manager
    assert(files.contains("0") && files.contains("1"), files)
    assert(!files.exists(f => f == ".0.crc" || f == ".1.crc"),
      s"log files written through Hadoop's local FS: $files")
    assert(spark.table("ckpt_manager_probe").count() == 3)
  }

  test("a stateful streaming query reports RocksDB state-store metrics") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val source = MemoryStream[(Long, Timestamp)]
    val agg = source.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour"), $"user_id")
      .agg(count(lit(1)).as("n"))
    // append mode, so the watermark is actually load-bearing (evicts
    // closed windows from RocksDB) — the production shape every gated
    // query runs in; complete mode would ignore the watermark and grow
    // state without bound
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("rocksdb_probe").start()
    try {
      def t(s: String) = Timestamp.valueOf(s"2024-01-01 $s:00")
      source.addData((1L, t("00:00")), (1L, t("00:01")), (2L, t("00:02")))
      q.processAllAvailable()
      val metrics = q.lastProgress.stateOperators.toSeq
        .flatMap(_.customMetrics.keySet().toArray.map(_.toString))
      assert(metrics.exists(_.toLowerCase.contains("rocksdb")),
        s"no rocksdb custom metrics in state operator progress: $metrics")
      // advance the watermark past the hour-0 window's end so append
      // mode emits (and evicts) its two finalized groups
      source.addData((3L, t("02:00")))
      q.processAllAvailable()
    } finally { q.stop(); q.awaitTermination(30000) }
    // two finalized (window, user) groups: user 1 twice, user 2 once;
    // user 3's hour-2 window is still open and correctly NOT emitted
    assert(spark.table("rocksdb_probe").count() == 2)
  }
}
