package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager,
  HDFSMetadataLog}
import org.apache.spark.sql.streaming.Trigger

import graft.SparkTestBase

/** [[LocalCheckpointFileManager]] against the contract of Spark's
  * rename-based atomic writes: the unit cases on a temp directory, the
  * concurrent-writer detection of `HDFSMetadataLog`, and a stateful
  * RocksDB query restarting across Spark's default manager and this one
  * in both directions.
  */
class LocalCheckpointFileManagerSpec extends SparkTestBase {

  private val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val SparkDefault = classOf[FileContextBasedCheckpointFileManager].getName

  private def manager(dir: String): CheckpointFileManager =
    new LocalCheckpointFileManager(new Path(dir), new Configuration())

  private def writeAtomic(fm: CheckpointFileManager, p: Path, s: String,
      overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }

  private def read(p: NioPath): String = new String(Files.readAllBytes(p), UTF_8)

  private def names(dir: String): Set[String] =
    Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).toSet

  private def tmpFiles(root: String): Seq[String] =
    Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".tmp")).toSeq

  test("no-overwrite onto an existing file raises Hadoop's " +
      "FileAlreadyExistsException and keeps the old bytes") {
    val dir = tmpDir("lcfm-noover")
    val fm = manager(dir)
    val p = new Path(dir, "0")
    writeAtomic(fm, p, "first", overwrite = false)
    val e = intercept[FileAlreadyExistsException] {
      writeAtomic(fm, p, "second", overwrite = false)
    }
    assert(e.getCause.isInstanceOf[java.nio.file.FileAlreadyExistsException])
    assert(read(java.nio.file.Paths.get(dir, "0")) == "first")
    assert(names(dir) == Set("0"), "no temp file may be left behind")
  }

  test("overwrite replaces the bytes; content is invisible before close") {
    val dir = tmpDir("lcfm-over")
    val fm = manager(dir)
    val p = new Path(dir, "state.changelog")
    writeAtomic(fm, p, "old bytes", overwrite = true)
    val out = fm.createAtomic(p, true)
    out.write("new".getBytes(UTF_8))
    out.flush()
    assert(read(java.nio.file.Paths.get(dir, "state.changelog")) == "old bytes",
      "the final path must not change before close()")
    out.close()
    assert(read(java.nio.file.Paths.get(dir, "state.changelog")) == "new")
    assert(names(dir) == Set("state.changelog"))

    val fresh = new Path(dir, "1")
    val pending = fm.createAtomic(fresh, false)
    pending.write("x".getBytes(UTF_8))
    pending.flush()
    assert(!fm.exists(fresh), "an unpublished file must not exist")
    pending.close()
    assert(fm.exists(fresh))
  }

  test("cancel leaves neither the final file nor the temp file") {
    val dir = tmpDir("lcfm-cancel")
    val fm = manager(dir)
    Seq(true, false).foreach { overwrite =>
      val out = fm.createAtomic(new Path(dir, s"c-$overwrite"), overwrite)
      out.write("partial".getBytes(UTF_8))
      out.cancel()
      out.close() // after cancel, a no-op: nothing is published
    }
    assert(names(dir).isEmpty, s"left behind: ${names(dir)}")
  }

  test("a stale .crc sibling is removed, so LocalFileSystem reads the " +
      "replaced bytes") {
    val dir = tmpDir("lcfm-crc")
    val conf = new Configuration()
    val local = FileSystem.getLocal(conf)
    val p = new Path(dir, "metadata")
    val h = local.create(p, true)
    h.write("written by Hadoop's checksummed local FS".getBytes(UTF_8))
    h.close()
    assert(names(dir).contains(".metadata.crc"))
    writeAtomic(manager(dir), p, "replaced", overwrite = true)
    assert(!names(dir).contains(".metadata.crc"))
    val in = local.open(p)
    try assert(new String(in.readAllBytes(), UTF_8) == "replaced")
    finally in.close()
  }

  test("mkdirs creates nested local directories; the manager reports local") {
    val dir = tmpDir("lcfm-mkdirs")
    val fm = manager(dir)
    fm.mkdirs(new Path(dir, "a/b/c"))
    assert(Files.isDirectory(java.nio.file.Paths.get(dir, "a", "b", "c")))
    assert(fm.isLocal)
  }

  /** Publishes a batch without the existence check `add` makes first: a
    * second query that passed its check before the first one published.
    */
  private class RacingLog(s: SparkSession, path: String)
      extends HDFSMetadataLog[String](s, path) {
    def managerClass: String = fileManager.getClass.getName
    def publish(batchId: Long, md: String): Unit =
      write(batchIdToPath(batchId), out => serialize(md, out))
  }

  test("HDFSMetadataLog: a second writer of the same batch is refused " +
      "exactly as on Spark's default manager") {
    Seq(SparkDefault, classOf[LocalCheckpointFileManager].getName)
      .foreach { cls =>
        withConfs(ManagerKey -> cls) {
          val dir = tmpDir("lcfm-log") + "/offsets"
          val a = new RacingLog(spark, dir)
          assert(a.managerClass == cls)
          assert(a.add(0L, "from a"))
          val b = new RacingLog(spark, dir)
          assert(!b.add(0L, "from b"), s"$cls: existing batch re-added")
          intercept[java.util.ConcurrentModificationException] {
            b.publish(0L, "from b")
          }
          assert(new HDFSMetadataLog[String](spark, dir).get(0L)
            .contains("from a"), s"$cls: the first writer's batch changed")
          // (Spark's own manager leaves the losing writer's temp file)
          if (cls != SparkDefault)
            assert(tmpFiles(dir).isEmpty, s"temp files: ${tmpFiles(dir)}")
        }
      }
  }

  test("a stateful RocksDB query restarts across Spark's default manager " +
      "and this one, in both directions, without replay or loss") {
    val root = tmpDir("lcfm-restart")
    val input = s"$root/in"
    val ckpt = s"$root/ckpt"
    Files.createDirectories(java.nio.file.Paths.get(input))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Map[String, Long])]()
    def addFile(i: Int, keys: Seq[String]): Unit = {
      val tmp = java.nio.file.Paths.get(root, s"f$i.json")
      Files.write(tmp, keys.map(k => s"""{"k":"$k"}""").asJava, UTF_8)
      Files.move(tmp, java.nio.file.Paths.get(input, s"f$i.json"))
      ()
    }
    def runOnce(cls: String): Unit = withConfs(ManagerKey -> cls) {
      val q = spark.readStream.schema("k STRING").json(input)
        .groupBy("k").count()
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, id: Long) =>
          seen.add(id -> df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
          ()
        }
        .start()
      try q.awaitTermination(60000)
      finally q.stop()
      assert(q.exception.isEmpty, q.exception)
    }
    val local = classOf[LocalCheckpointFileManager].getName
    addFile(0, Seq("a", "a", "b"))
    runOnce(SparkDefault)
    addFile(1, Seq("a", "c"))
    runOnce(local)
    addFile(2, Seq("b", "c", "c"))
    runOnce(SparkDefault)

    val batches = seen.asScala.toSeq
    assert(batches.map(_._1) == Seq(0L, 1L, 2L),
      s"each run must commit exactly one new batch: ${batches.map(_._1)}")
    // update mode emits each touched key's running count: the state
    // carried across both switches, each file counted exactly once
    assert(batches(0)._2 == Map("a" -> 2L, "b" -> 1L))
    assert(batches(1)._2 == Map("a" -> 3L, "c" -> 1L))
    assert(batches(2)._2 == Map("b" -> 2L, "c" -> 3L))
    // both managers really wrote: Hadoop's local FS leaves checksums,
    // the NIO manager does not
    val commits = names(s"$ckpt/commits")
    assert(commits.contains(".0.crc") && !commits.contains(".1.crc") &&
      commits.contains(".2.crc"), s"commit log files: $commits")
    assert(tmpFiles(ckpt).isEmpty, s"temp files left: ${tmpFiles(ckpt)}")
  }
}
