package perfbench

import java.math.MathContext
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{SparkEntry, Tables}

/** `board`: the registered operator board as a closed loop of one query at
  * a time, `fn(spark, sf).count()`, over the scale-factor-0.1 tables of
  * [[Fixtures]]. The full board (246 rows, ~140 s warm on 4 cores) does
  * not fit one run, so the run takes a fixed subset stratified by family
  * (d/e/m/p/q/s/t) plus two streaming gates. The seed only fixes the row
  * order of each pass. The cold first pass of every row is set-up; the
  * timed part is warm passes.
  *
  * Output check: each row's row count and order-insensitive content hash
  * must equal the values pinned in `board_pins.tsv`; rows pinned as
  * count-only are checked by count.
  */
object Board {
  val Rows: Seq[String] = Seq(
    "d02_minhash_signatures", "d14_snapshot_upsert",
    "e01_hourly_type_counts", "e17_cohort_retention",
    "e07_stream_hourly_counts", "e14_kinesis_roundtrip_agg",
    "m03_frame_sample", "p01_curation_pipeline",
    "q01_pricing_summary", "q13_above_brand_avg",
    "s01_cosine_topk", "t02_top_terms")

  /** The module each family's rows come from. */
  val Modules: Map[Char, String] = Map('d' -> "ops.dedup",
    'e' -> "ops.events", 'p' -> "ops.pipeline", 'q' -> "ops.relational",
    's' -> "ops.similarity", 't' -> "ops.text_analysis",
    'm' -> "multimodal")

  // ---- output pins ------------------------------------------------------

  final case class Pin(rows: Long, hash: Option[String])

  def readPins(p: Path): Map[String, Pin] =
    Files.readAllLines(p).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val f = l.split("\t")
        f(0) -> Pin(f(1).toLong, if (f(2).startsWith("count-only")) None else Some(f(2)))
      }.toMap

  /** Values are compared at 8 significant digits (floats at 6), so a
    * different summation order across partitions reads the same. */
  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else new java.math.BigDecimal(d).round(new MathContext(8)).stripTrailingZeros.toString
    case f: Float =>
      if (f.isNaN || f.isInfinite) f.toString
      else new java.math.BigDecimal(f.toDouble).round(new MathContext(6)).stripTrailingZeros.toString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Order-insensitive content hash: the wrapping sum of each row's
    * 64-bit MD5 prefix. */
  def contentHash(rows: Array[Row]): String = {
    val md5 = MessageDigest.getInstance("MD5")
    val sum = rows.foldLeft(0L) { (acc, row) =>
      val d = md5.digest(canon(row).getBytes("UTF-8"))
      acc + java.nio.ByteBuffer.wrap(d).getLong
    }
    f"$sum%016x"
  }

  // ---- the run ------------------------------------------------------------

  final case class Timing(row: String, ms: Double, traced: Boolean)

  def run(ctx: Ctx, writePins: Option[Path]): Unit = {
    val r = ctx.report
    val spark = ctx.spark
    val sf = ctx.fixtures.toString
    val fns = SparkEntry.queries
    val gated = SparkEntry.streamingGated
    require(Rows.forall(fns.contains), "unknown board row: " +
      Rows.filterNot(fns.contains).mkString(","))
    val pins = if (writePins.isDefined) Map.empty[String, Pin]
      else readPins(ctx.pinsFile)
    @volatile var current = ""
    val plans = new PlanCollector(ctx.tracer, () => current)
    spark.listenerManager.register(plans)
    val fam = (row: String) => row.head
    def order(): Seq[String] = ctx.rng.shuffle(Rows)

    def runRow(row: String, traced: Boolean): (Long, Double) = {
      current = row
      val key = s"board.${fam(row)}" + (if (traced) ".traced" else "")
      ctx.tracer.on = traced
      val res = ctx.timeMs {
        ctx.tracer.span("board.row", row) {
          ctx.bucket(key) {
            val df = ctx.tracer.span("board.build", row)(fns(row)(spark, sf))
            ctx.tracer.span("board.count", row)(df.count())
          }
        }
      }
      if (traced) ctx.drainBus()
      ctx.tracer.on = false
      res
    }
    def checkCount(row: String, n: Long): Unit =
      pins.get(row).foreach(p => r.check(p.rows == n,
        s"$row returned $n rows, pinned ${p.rows}"))

    // Set-up: touch every table once, then the cold first pass, which
    // also takes each row's output for the check against its pin.
    val compile0 = CodeGenerator.compileTime
    val (found, setupMs) = ctx.timeMs {
      Tables.all.foreach(t => Tables.load(spark, sf, t).count())
      order().map { row =>
        current = row
        val out = scala.util.Try(ctx.bucket(s"board.${fam(row)}") {
          fns(row)(spark, sf).collect()
        })
        out.failed.foreach(e => r.line(s"$row failed: $e"))
        row -> out.map(rs => Pin(rs.length, Some(contentHash(rs))))
          .getOrElse(Pin(-1, None))
      }
    }
    val compileMs = (CodeGenerator.compileTime - compile0) / 1e6
    r.metric("setup_s", setupMs / 1000)
    ctx.drainBus(); plans.take()
    writePins match {
      case Some(p) =>
        Files.writeString(p, "# row\trows\tcontent hash, or count-only: <reason>\n" +
          found.sortBy(x => Rows.indexOf(x._1)).map { case (row, pin) =>
            s"$row\t${pin.rows}\t${pin.hash.getOrElse("-")}"
          }.mkString("", "\n", "\n"))
      case None =>
        found.foreach { case (row, got) =>
          val want = pins.get(row)
          r.check(want.exists(_.rows == got.rows),
            s"$row: ${got.rows} rows, pinned ${want.map(_.rows)}")
          want.flatMap(_.hash).foreach(h => r.check(got.hash.contains(h),
            s"$row: content hash ${got.hash.getOrElse("-")}, pinned $h"))
        }
    }

    // Timed: whole warm passes, row by row in a fresh seeded order each
    // pass, until the run length is used up; the clock is read only
    // between passes, so every row has as many samples as every other. A
    // traced run makes three passes, untraced, traced, untraced; the
    // difference between the traced pass and the mean of the other two
    // is the tracing overhead.
    val timings = mutable.ArrayBuffer.empty[Timing]
    val perFamily = mutable.Map.empty[Char, PlanCollector.Totals]
    var resultRows = 0L
    val t0 = System.nanoTime()
    def more(pass: Int) =
      if (ctx.traced) pass < 3 else (System.nanoTime() - t0) / 1e9 < ctx.seconds
    var pass = 0
    while (more(pass)) {
      val traced = ctx.traced && pass == 1
      order().foreach { row =>
        val res = scala.util.Try(runRow(row, traced))
        res.failed.foreach(e => r.line(s"$row failed: $e"))
        val (n, ms) = res.getOrElse((-1L, 0.0))
        checkCount(row, n)
        resultRows += math.max(n, 0L)
        timings += Timing(row, ms, traced)
        if (traced) perFamily(fam(row)) =
          perFamily.getOrElse(fam(row), PlanCollector.Totals()) + plans.take()
      }
      pass += 1
    }
    ctx.drainBus()
    val exchanges = plans.take().exchanges + perFamily.values.map(_.exchanges).sum
    spark.listenerManager.unregister(plans)

    // Metrics over untraced warm passes (a traced run uses them all for
    // the layer split, and the untraced ones for the overhead).
    val warm = timings.filter(t => !t.traced && t.ms > 0).toSeq
    // per-row minimum over warm runs, the board's own convention (Bench)
    val perRow = warm.groupBy(_.row).map { case (k, ts) => k -> ts.map(_.ms).min }
    val boardMs = perRow.values.sum
    val qs = warm.map(_.ms)
    val counters = ctx.counters("board") + s" exchanges=$exchanges rows=$resultRows"
    val bucketLine = (f: Char) => {
      val b = ctx.exec.bucket(s"board.$f")
      s"stages=${b.stages.sum} tasks=${b.tasks.sum} shuffle_bytes=${b.shuffleBytes.sum}"
    }
    Rows.foreach(row => r.line(f"  $row%-34s ${perRow.getOrElse(row, 0.0)}%9.1f ms"))
    r.metric("throughput_per_s", perRow.size / (boardMs / 1000))
    r.metric("latency_p50_ms", Stats.median(qs))
    r.metric("latency_tail_ms", Stats.quantile(qs, 0.95))
    r.timing("board_s", boardMs / 1000, "s", perRow.size,
      s"local[${ctx.cores}] passes=$pass " + Modules.keys.toSeq.sorted
        .map(f => s"$f:{${bucketLine(f)}}").mkString(" ") + s" exchanges=$exchanges rows=$resultRows")
    r.timing("query_p50_ms", r.value("latency_p50_ms"), "ms", qs.size, counters)
    r.timing("query_p95_ms", r.value("latency_tail_ms"), "ms", qs.size, counters)
    r.timing("setup_s", setupMs / 1000, "s", Rows.size,
      f"cold pass incl. table warm-up; codegen compile $compileMs%.0f ms")

    if (ctx.traced) {
      val tr = timings.filter(_.traced).toSeq
      r.metric("functions.codegen_compile_ms", compileMs)
      Modules.foreach { case (f, module) =>
        r.metric(s"$module.s",
          tr.filter(t => fam(t.row) == f).map(_.ms).sum / 1000)
        val p = perFamily.getOrElse(f, PlanCollector.Totals())
        r.metric(s"plans.$f.planning_ms", p.planningMs)
        val b = ctx.exec.bucket(s"board.$f.traced")
        r.metric(s"exec.$f.task_ms", b.taskMs.sum.toDouble)
        r.metric(s"exec.$f.gc_ms", b.gcMs.sum.toDouble)
        r.metric(s"exec.$f.shuffle_bytes", b.shuffleBytes.sum.toDouble)
        r.metric(s"exec.$f.spill_bytes", b.spillBytes.sum.toDouble)
        r.metric(s"exec.$f.stages", b.stages.sum.toDouble)
        r.metric(s"exec.$f.tasks", b.tasks.sum.toDouble)
        r.metric(s"exec.$f.exchanges", p.exchanges.toDouble)
      }
      r.metric("plans.graft_rules_ms",
        perFamily.values.map(_.graftRulesMs).sum)
      r.metric("streaming.gates.s",
        tr.filter(t => gated(t.row)).map(_.ms).sum / 1000)
      val trMs = tr.map(_.ms).sum
      val untrMs = warm.map(_.ms).sum / 2
      r.metric("trace.overhead.throughput_pct", 100 * (trMs - untrMs) / trMs)
      r.metric("trace.overhead.latency_p50_ms",
        Stats.median(tr.map(_.ms)) - Stats.median(qs))
    }
  }
}
