package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Everything a workload needs for one run. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val traced: Boolean, val out: Path, val fixtures: Path, val pinsFile: Path,
    val cores: Int) {
  val tracer = new Tracer(false)
  val exec = new ExecCounters(tracer)
  val report = new Report
  val rng = new scala.util.Random(seed)

  /** Route the executor work of `body` into bucket `k`. */
  def bucket[T](k: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(exec.Key)
    sc.setLocalProperty(exec.Key, k)
    try body finally sc.setLocalProperty(exec.Key, prev)
  }

  def drainBus(): Unit =
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)

  /** Counters that carry across machines, printed next to wall times:
    * the executor work of every bucket whose name starts with `prefix`. */
  def counters(prefix: String): String = {
    drainBus()
    val bs = exec.keys.filter(_.startsWith(prefix)).toSeq.map(exec.bucket)
    val sum = (f: exec.Bucket => java.util.concurrent.atomic.LongAdder) =>
      bs.map(f(_).sum).sum
    s"local[$cores] stages=${sum(_.stages)} tasks=${sum(_.tasks)} " +
      s"shuffle_bytes=${sum(_.shuffleBytes)}"
  }

  def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

/** Benchmark entry point; `perfbench/run.py` builds the harness and
  * launches it. One run = one workload at one seed:
  *
  * {{{
  * Main --workload sink_write|kinesis_pipeline|board --seed N --seconds S
  *      --trace 0|1 --out DIR --fixtures DIR --pins FILE [--write-pins FILE]
  * }}}
  *
  * Writes `DIR/result.json` (attempted, failed, metric values) and, in a
  * traced run, `DIR/spans-<workload>-<seed>.jsonl`. `--write-pins`
  * records the board's pinned results.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def arg(k: String) = a.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val workload = arg("--workload")
    val out = Paths.get(arg("--out")).toAbsolutePath
    Files.createDirectories(out)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fixtures = Paths.get(arg("--fixtures")).toAbsolutePath
    val ctx = new Ctx(spark, arg("--seed").toLong, arg("--seconds").toDouble,
      arg("--trace") == "1", out, fixtures, Paths.get(arg("--pins")), cores)
    spark.sparkContext.addSparkListener(ctx.exec)
    try {
      workload match {
        case "fixtures" => Fixtures.ensure(spark, fixtures)
        case "sink_write" => SinkWrite.run(ctx)
        case "kinesis_pipeline" => Pipeline.run(ctx)
        case "board" => Board.run(ctx, a.get("--write-pins").map(Paths.get(_)))
        case other => throw new IllegalArgumentException(
          s"unknown workload '$other'")
      }
      if (ctx.traced) {
        SinkWrite.envelope(ctx)
        ctx.drainBus()
        val spans = ctx.tracer.assignParents()
        ctx.tracer.write(out.resolve(s"spans-$workload-${ctx.seed}.jsonl"),
          spans)
        ctx.tracer.selfTimes(spans).foreach { case (name, (self, n)) =>
          ctx.report.metric(s"self.${name}_ms", self / n)
        }
      }
      Files.writeString(out.resolve("result.json"), ctx.report.resultJson)
    } finally {
      spark.sparkContext.setLogLevel("OFF")
      spark.stop()
    }
  }
}
