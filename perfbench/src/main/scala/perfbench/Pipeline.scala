package perfbench

import java.nio.charset.StandardCharsets.US_ASCII
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.sink.{FakeKinesis, KinesisRecord}

/** `kinesis_pipeline`: Structured Streaming from a Kinesis stream to
  * Kinesis streams, as users run it, driven open-loop.
  *
  *  - The input stream has one shard per core and starts with a backlog
  *    (a restart after downtime); catch-up rate = backlog / time from the
  *    first trigger's start to the progress event whose committed offsets
  *    cover the whole backlog.
  *  - A generator thread appends small records on a fixed schedule
  *    (`Rate` records/s, about a quarter of the catch-up rate measured on
  *    a 4-core box). Event latency runs from a record's due-to-send time
  *    to the progress event of the first micro-batch whose committed
  *    source offset covers it, over records due after the query caught
  *    up (backlog drained and a trigger read less than its cap). The
  *    generator picks each record's partition key so it knows the shard
  *    and sequence number the record gets, so no timed region polls the
  *    fake.
  *  - The query reads with `max_records_per_trigger`, routes each record
  *    to one of two output streams by its payload's first byte, and
  *    writes through the DSv2 sink.
  *  - The generator injects one request failure on the output fake at a
  *    seeded cadence; each costs one 50 ms backoff, far from load-shed.
  */
object Pipeline {
  val Rate = 40000
  val MaxPerTrigger = 50000
  val BacklogTarget = 600000
  val PayloadBytes = 100
  val SetupReps = 5
  val WarmRecords = 20000L
  val KeysPerShard = 64
  /** Generator lateness above this makes the run invalid. */
  val MaxLagP99Ms = 100.0

  private val Region = "us-east-1"

  /** Partition keys per shard: the fake gives shard i of n the i-th equal
    * slice of the 128-bit MD5 space. */
  def keysPerShard(n: Int): Array[Array[String]] = {
    val space = BigInt(1) << 128
    val step = space / n
    val md5 = MessageDigest.getInstance("MD5")
    val out = Array.fill(n)(mutable.ArrayBuffer.empty[String])
    var j = 0
    while (out.exists(_.size < KeysPerShard)) {
      val k = s"key-$j"
      val h = BigInt(1, md5.digest(k.getBytes("UTF-8")))
      val s = math.min(n - 1, (h / step).toInt)
      if (out(s).size < KeysPerShard) out(s) += k
      j += 1
    }
    out.map(_.toArray)
  }

  /** Record `id` → route byte, id, filler. */
  def payload(id: Long, route: Char): Array[Byte] = {
    val head = s"$route|$id|"
    (head + "x" * math.max(0, PayloadBytes - head.length)).getBytes(US_ASCII)
  }

  final class Progress(val at: Double, val start: Double, val batch: Long,
      val durations: Map[String, Long],
      val pos: Map[Int, Long], val behind: Long,
      val sink: Map[String, Long])

  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    val spark = ctx.spark
    val n = ctx.cores
    val perShard = (BacklogTarget + n - 1) / n
    val backlog = perShard.toLong * n
    val keys = keysPerShard(n)
    val routeRng = new scala.util.Random(ctx.seed)
    val maxGen = (Rate * (ctx.seconds + 5)).toInt
    val routes = Array.fill((backlog + maxGen).toInt)(
      if (routeRng.nextBoolean()) 'a' else 'b')
    def record(id: Long): KinesisRecord = {
      val shard = (id % n).toInt
      KinesisRecord(keys(shard)(((id / n) % KeysPerShard).toInt),
        payload(id, routes(id.toInt)))
    }
    def seed(fake: FakeKinesis, stream: String, count: Long): Unit = {
      fake.numShards.set(n)
      (0L until count).grouped(500).foreach(g =>
        fake.putRecords(stream, g.map(record)))
    }
    def query(in: String, out: String, ckpt: String) = {
      val src = spark.readStream.format("kinesis-graft")
        .option("aws_region_name", Region).option("stream", "in")
        .option("client", s"fake:$in")
        .option("max_records_per_trigger", MaxPerTrigger.toString)
        .load()
      src.select(
        concat(lit("out-"), substring(col("data").cast("string"), 1, 1))
          .as("stream"),
        col("partitionKey"), col("data"))
        .writeStream.format("kinesis-graft")
        .option("aws_region_name", Region).option("client", s"fake:$out")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0L))
        .start()
    }

    // The backlog is seeded into the test double before anything is
    // timed; its cost is the fake's, not the program's.
    val inName = s"pl-in-${ctx.seed}"
    val inFake = FakeKinesis.named(inName)
    val (_, seedMs) = ctx.timeMs(seed(inFake, "in", backlog))
    r.line(f"backlog seeding (test double, not timed): ${seedMs / 1000}%.3f s")

    // Set-up, several times: start a query over a small, already seeded
    // stream, drain it and stop it. The first round is cold.
    val setups = (1 to SetupReps).map { rep =>
      val w = s"pl-warm-${ctx.seed}-$rep"
      seed(FakeKinesis.named(w), "in", WarmRecords)
      val (_, ms) = ctx.timeMs {
        val q = query(w, s"$w-out", ctx.out.resolve(s"ckpt-$w").toString)
        q.processAllAvailable(); q.stop()
      }
      FakeKinesis.drop(w); FakeKinesis.drop(s"$w-out")
      ms
    }
    r.metric("setup_s", Stats.median(setups) / 1000)
    r.timing("setup_s", Stats.median(setups) / 1000, "s", SetupReps,
      f"warm queries of $WarmRecords records; first (cold) ${setups.head / 1000}%.3f s")
    val outName = s"pl-out-${ctx.seed}"
    val outFake = FakeKinesis.named(outName)

    // Progress events: coverage of generator records, per-trigger spans.
    val progress = mutable.ArrayBuffer.empty[Progress]
    @volatile var t0 = 0.0
    @volatile var drainedAt = Double.NaN
    // The first trigger after the backlog drained that read less than its
    // cap: the query has also worked off the generator records that queued
    // up during the catch-up. The steady phase starts here, so its length
    // does not depend on how long the catch-up took.
    @volatile var caughtUpAt = Double.NaN
    val covered = Array.fill(n)(0L)
    val latDue = mutable.ArrayBuffer.empty[Double]
    val latMs = mutable.ArrayBuffer.empty[Double]
    val shardRe = "\"shardId-0*(\\d+)\":(\\d+)".r
    @volatile var queryId: java.util.UUID = null
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.id != queryId) return
        val at = ctx.tracer.now
        val src = p.sources.head
        val pos = shardRe.findAllMatchIn(src.endOffset)
          .map(m => m.group(1).toInt -> m.group(2).toLong).toMap
        val durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val behind = Option(src.metrics.get("recordsBehindLatest")).map(_.toLong).getOrElse(0L)
        val sink = p.sink.metrics.asScala.map { case (k, v) => k -> v.toLong }.toMap
        progress.synchronized {
          progress += new Progress(at, start, p.batchId, durations, pos,
            behind, sink)
        }
        if (drainedAt.isNaN && (0 until n).forall(s => pos.getOrElse(s, 0L) >= perShard))
          drainedAt = at
        if (caughtUpAt.isNaN && !drainedAt.isNaN && p.numInputRows < MaxPerTrigger)
          caughtUpAt = at
        (0 until n).foreach { s =>
          val to = pos.getOrElse(s, 0L)
          var seq = math.max(covered(s), perShard.toLong)
          while (seq < to) {
            val j = (seq - perShard) * n + s
            val due = t0 + j * 1000.0 / Rate
            latDue += due; latMs += at - due
            seq += 1
          }
          covered(s) = math.max(covered(s), to)
        }
        if (ctx.tracer.on) {
          val trig = ctx.tracer.record("stream.trigger", s"batch-${p.batchId}", 0L,
            start, start + durations.getOrElse("triggerExecution", 0L))
          var t = start
          Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
            "addBatch", "commitOffsets").foreach { k =>
            durations.get(k).foreach { d =>
              ctx.tracer.record(s"stream.$k", s"batch-${p.batchId}", trig, t, t + d)
              t += d
            }
          }
        }
      }
    }
    spark.streams.addListener(listener)

    // The generator: due time of record j is t0 + j / Rate.
    @volatile var halt = false
    @volatile var faultsOn = true
    var injected = 0
    val lags = mutable.ArrayBuffer.empty[Double]
    var generated = 0L
    val faultRng = new scala.util.Random(ctx.seed * 31 + 7)
    val gen = new Thread("perfbench-generator") {
      override def run(): Unit = {
        var nextFault = t0 + 1000 + faultRng.nextInt(400)
        while (!halt) {
          val now = ctx.tracer.now
          val target = math.min(maxGen.toLong, ((now - t0) * Rate / 1000).toLong)
          if (target > generated) {
            val upto = math.min(target, generated + 500)
            lags += now - (t0 + generated * 1000.0 / Rate)
            inFake.putRecords("in", (generated until upto).map(j => record(backlog + j)))
            generated = upto
          } else Thread.sleep(1)
          if (faultsOn && now >= nextFault) {
            outFake.failNextRequests.incrementAndGet()
            injected += 1
            nextFault += 300 + faultRng.nextInt(400)
          }
        }
      }
    }

    val ckpt = ctx.out.resolve(s"ckpt-pl-${ctx.seed}").toString
    val q = ctx.bucket("kinesis_pipeline") { query(inName, outName, ckpt) }
    queryId = q.id
    t0 = ctx.tracer.now
    gen.start()
    val end = t0 + ctx.seconds * 1000
    // A traced run traces every other second of the steady phase; events
    // due in the untraced seconds are the reference for the overhead.
    def tracedAt(t: Double) =
      ctx.traced && !caughtUpAt.isNaN && t >= caughtUpAt &&
        ((t - caughtUpAt) / 1000).toInt % 2 == 1
    while (ctx.tracer.now < end) {
      Thread.sleep(10)
      val now = ctx.tracer.now
      if (now > end - 1500) faultsOn = false
      ctx.tracer.on = tracedAt(now)
    }
    halt = true
    gen.join()
    val ran = scala.util.Try(q.processAllAvailable())
    r.check(ran.isSuccess, s"query failed: ${ran.failed.map(_.toString).getOrElse("")}")
    ctx.drainBus()
    ctx.tracer.on = false
    q.stop()
    spark.streams.removeListener(listener)

    // ---- results -----------------------------------------------------
    val ps = progress.synchronized(progress.toList)
    val first = ps.find(_.batch == 0).map(_.start).getOrElse(t0)
    val drained = !drainedAt.isNaN && drainedAt <= end
    r.check(drained, s"backlog of $backlog not drained within ${ctx.seconds} s")
    val catchup = if (drained) backlog / ((drainedAt - first) / 1000) else 0.0
    val caughtUp = drained && !caughtUpAt.isNaN && caughtUpAt <= end
    r.check(caughtUp, s"query did not catch up with the generator within ${ctx.seconds} s")
    val inSteady = (due: Double) => caughtUp && due >= caughtUpAt && due < end
    val steady = latDue.indices.filter(i => inSteady(latDue(i))).map(i => latMs(i))
    r.check(steady.size >= 1000, s"only ${steady.size} steady-phase events")
    val lagP99 = if (lags.isEmpty) 0.0 else Stats.quantile(lags.toSeq, 0.99)
    r.check(lagP99 <= MaxLagP99Ms,
      f"generator fell behind its schedule: lag p99 $lagP99%.1f ms (run invalid)")
    val last = ps.sortBy(_.batch).lastOption.map(_.sink).getOrElse(Map.empty)
    val errors = last.getOrElse("kinesisErrors", -1L)
    val dropped = last.getOrElse("recordsDropped", -1L)
    r.check(errors == injected, s"sink counted $errors request errors, injected $injected")
    r.check(dropped == 0, s"sink dropped $dropped records")
    r.check(outFake.failNextRequests.get() == 0, "an injected failure was never consumed")

    // at-least-once: every input record in its routed output stream
    val total = backlog + generated
    val seen = new Array[Byte](total.toInt)
    var dups = 0L
    var misrouted = 0L
    Seq('a', 'b').foreach { route =>
      outFake.stored(s"out-$route").foreach { rec =>
        val d = rec.data
        val bar = d.indexOf('|'.toByte, 2)
        val id = new String(d, 2, bar - 2, US_ASCII).toInt
        if (routes(id) != route || d(0) != route.toByte) misrouted += 1
        if (seen(id) > 0) dups += 1 else seen(id) = 1
      }
    }
    val missing = seen.count(_ == 0)
    r.attempted += total
    r.failed += missing + misrouted
    if (missing + misrouted > 0)
      r.line(s"CHECK FAILED: $missing records missing, $misrouted misrouted")

    val counters = ctx.counters("kinesis_pipeline") +
      s" requests=${outFake.requestCount.get()} rows=$total duplicates=$dups"
    r.metric("throughput_per_s", catchup)
    // The tail is p90, not p99: events of one micro-batch share their
    // latency, so the ~50 steady-phase triggers of a run are the
    // independent samples, and p99 is the single slowest trigger.
    if (steady.nonEmpty) {
      r.metric("latency_p50_ms", Stats.median(steady))
      r.metric("latency_tail_ms", Stats.quantile(steady, 0.9))
      r.metric("pipeline.event_p99_ms", Stats.quantile(steady, 0.99))
    }
    r.timing("catchup_records_per_s", catchup, "1/s", backlog.toInt, counters)
    r.timing("event_p50_ms", if (steady.isEmpty) 0 else Stats.median(steady), "ms",
      steady.size, counters)
    r.timing("event_p90_ms", if (steady.isEmpty) 0 else Stats.quantile(steady, 0.9),
      "ms", steady.size, counters)
    r.timing("event_p99_ms", if (steady.isEmpty) 0 else Stats.quantile(steady, 0.99),
      "ms", steady.size, s"triggers=${ps.size} " + counters)
    r.timing("gen.lag_p99_ms", lagP99, "ms", lags.size,
      s"rate=$Rate/s injected_faults=$injected duplicates=$dups")

    if (ctx.traced) {
      val steadyPs = ps.filter(p => caughtUp && p.at >= caughtUpAt)
      // mean per trigger: the phases are whole milliseconds, so a median
      // would often read the same on every run
      val perTrigger = (k: String, xs: Seq[Progress]) =>
        Stats.mean(xs.map(_.durations.getOrElse(k, 0L).toDouble))
      r.metric("sink.writer.kinesis_errors", errors.toDouble)
      r.metric("sink.writer.records_dropped", dropped.toDouble)
      r.metric("sink.source.latest_offset_ms", perTrigger("latestOffset", ps))
      r.metric("sink.source.backlog_records",
        if (steadyPs.isEmpty) 0 else Stats.median(steadyPs.map(_.behind.toDouble)))
      r.metric("sink.source.backlog_slope_per_s",
        Stats.slope(steadyPs.map(p => (p.at / 1000, p.behind.toDouble))))
      r.metric("streaming.add_batch_ms", perTrigger("addBatch", steadyPs))
      r.metric("streaming.wal_commit_ms", perTrigger("walCommit", steadyPs))
      r.metric("streaming.commit_offsets_ms", perTrigger("commitOffsets", steadyPs))
      r.metric("streaming.query_planning_ms", perTrigger("queryPlanning", steadyPs))
      r.metric("streaming.batches", ps.size.toDouble)
      r.metric("gen.lag_p99_ms", lagP99)
      val (tr, untr) = latDue.indices.filter(i => inSteady(latDue(i)))
        .partition(i => tracedAt(latDue(i)))
      if (untr.nonEmpty && tr.nonEmpty)
        r.metric("trace.overhead.latency_p50_ms",
          Stats.median(tr.map(latMs)) - Stats.median(untr.map(latMs)))
      // The fake's own read cost for this run's input volume, calling it
      // directly in 10,000-record pages: the floor under any source
      // change. No claim may rest on it.
      val get = (1 to 3).map { _ =>
        ctx.timeMs {
          inFake.listShards("in").foreach { sh =>
            var it = inFake.getShardIterator("in", sh, "TRIM_HORIZON", 0L)
            var more = true
            while (more) {
              val page = inFake.getRecords(it, 10000)
              it = page.nextIterator
              more = page.records.nonEmpty
            }
          }
        }._2
      }
      r.metric("sink.fake.get_ms", Stats.median(get))
    }
    FakeKinesis.drop(inName); FakeKinesis.drop(outName)
  }
}
