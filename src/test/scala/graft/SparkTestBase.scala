package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite (one JVM-wide session is fine: getOrCreate). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val sfSmoke = "/root/testdata/sf0.001"
  val sfVerify = "/root/testdata/sf0.01"

  /** Streaming-gated queries execute a real run at construction time
    * (their returned batch result is the gate's memory table); the
    * board-wide batch sweeps cover only queries whose construction
    * stays lazy. Shared by every sweep so a new gate is excluded once.
    */
  protected val streamingGated: Set[String] = SparkEntry.streamingGated

  /** Fresh temp directory, recursively deleted at JVM exit (File
    * .deleteOnExit never removes non-empty directories, so the ad-hoc
    * per-suite variants of this helper leaked fixture-sized data every
    * run).
    */
  def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-$name")
    SparkTestBase.cleanupAtExit(d)
    d.toString
  }

  /** `body`'s result and the number of Spark jobs started while it ran.
    * Drains the listener bus before and after, so jobs of earlier work
    * are not counted and jobs of `body` are.
    */
  def countingJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    def drain(): Unit = {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethods.find(m =>
        m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        .get.invoke(bus)
      ()
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    drain()
    sc.addSparkListener(l)
    val out =
      try { val r = body; drain(); r }
      finally sc.removeSparkListener(l)
    (out, jobs.get)
  }

  /** Run `body` with session confs overridden, restoring (or unsetting)
    * every key afterwards — the session is shared JVM-wide across
    * suites, so any conf override MUST go through here or it leaks into
    * whichever suite runs next.
    */
  def withConfs(kv: (String, String)*)(body: => Unit): Unit = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

object SparkTestBase {
  /** ONE JVM shutdown hook draining a synchronized list — a hook PER
    * tmpDir call (the old form) accumulates an unbounded thread per
    * temp directory across the suites sharing this JVM, and every hook
    * thread starts concurrently at exit with no ordering guarantee.
    */
  private val exitDirs =
    java.util.Collections.synchronizedList(
      new java.util.ArrayList[java.nio.file.Path]())
  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def del(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(del)); f.delete(); ()
      }
      exitDirs.synchronized {
        exitDirs.forEach(d => del(d.toFile))
      }
    }))

  private[graft] def cleanupAtExit(d: java.nio.file.Path): Unit = {
    hookInstalled
    exitDirs.add(d)
    ()
  }

  lazy val session: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("graft-test")
    // The config-installed extension path under test in
    // GraftExtensionsSpec; per-suite registerAll calls stay, proving
    // the two registration paths coexist.
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Same confs as the MemoryGate production gates: every stateful
    // streaming spec (sessionizer, dedup, watermark, sink restart)
    // exercises RocksDB, not the heap-backed default, writes its
    // checkpoint through LocalCheckpointFileManager, and reuses the
    // generated classes of earlier queries (artifact isolation off).
    .config(graft.streaming.MemoryGate.GateConfs.toMap)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
