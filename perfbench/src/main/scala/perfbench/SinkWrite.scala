package perfbench

import java.nio.charset.StandardCharsets.US_ASCII

import scala.collection.mutable

import org.apache.commons.math3.distribution.NormalDistribution
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.sink.{FakeKinesis, KinesisRecord, KinesisRecordWriter, KinesisSink}

/** `sink_write`: the paper's producer at saturation, as a closed loop of
  * bulk writes from one thread. Each call writes a pre-materialised
  * frame through one of the two sink surfaces, cycling through
  * (KinesisSink.write | DSv2 write) x (with | without a partitionKey
  * column), into a fresh `FakeKinesis` so every call sees empty logs.
  *
  * Input, from the seed: records spread over `cores` source partitions,
  * routed to 8 streams by a Zipf-skewed `stream` column; log-normal
  * payloads of a few hundred bytes plus exactly 1% of 32-256 KiB, so a
  * 500-record request can pass 5 MiB while every record stays under
  * 1 MiB. Each payload starts with "<partition>:<sequence>:", which the
  * output check uses for identity and per-partition order.
  */
object SinkWrite {
  val Streams = 8
  val RecordsPerCall = 16000
  val SetupReps = 5

  final case class Rec(stream: Int, part: Int, seq: Int, pk: String,
      data: Array[Byte])

  private val Options = Map("aws_region_name" -> "us-east-1")

  /** The seed permutes a fixed multiset of payload sizes and stream
    * routes, so every seed writes the same bytes to each stream: the
    * spread between seeds is the program's, not the input's. */
  def inputs(seed: Long, parts: Int): IndexedSeq[Rec] = {
    val rng = new scala.util.Random(seed)
    val n = RecordsPerCall - RecordsPerCall % parts
    val nBig = n / 100
    val normal = new NormalDistribution(0, 1)
    val small = (0 until n - nBig).map { i =>
      val z = normal.inverseCumulativeProbability((i + 0.5) / (n - nBig))
      math.min(8192, math.exp(math.log(300) + 0.6 * z).toInt)
    }
    val big = (0 until nBig).map(i => (32 + 224 * (i + 0.5) / nBig).toInt * 1024)
    val sizes = rng.shuffle(small ++ big)
    val zipf = (0 until Streams).map(k => 1.0 / math.pow(k + 1, 1.1))
    val counts = zipf.map(z => math.round(n * z / zipf.sum).toInt)
    val streams = rng.shuffle(counts.zipWithIndex.flatMap { case (c, k) =>
      Seq.fill(if (k == 0) c + n - counts.sum else c)(k)
    })
    (0 until n).map { i =>
      val part = i / (n / parts)
      val seq = i % (n / parts)
      val header = s"$part:$seq:".getBytes(US_ASCII)
      val data = new Array[Byte](math.max(sizes(i), header.length + 8))
      rng.nextBytes(data)
      System.arraycopy(header, 0, data, 0, header.length)
      Rec(streams(i), part, seq, s"k${rng.nextInt(1 << 20)}", data)
    }
  }

  /** The input as two cached frames, with and without a partitionKey
    * column; partition p of each holds source partition p in order. */
  def frames(ctx: Ctx, recs: IndexedSeq[Rec]): (DataFrame, DataFrame) = {
    val spark = ctx.spark
    val schema = StructType(Seq(StructField("stream", StringType),
      StructField("partitionKey", StringType), StructField("data", BinaryType)))
    val rows = recs.map(r => Row(s"s${r.stream}", r.pk, r.data))
    val withPk = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, ctx.cores), schema).cache()
    val noPk = withPk.select("stream", "data").cache()
    withPk.count(); noPk.count()
    (withPk, noPk)
  }

  /** One write call through one surface into fake `name`. */
  def write(df: DataFrame, dsv2: Boolean, name: String): Unit = {
    val opts = Options + ("client" -> s"fake:$name")
    if (dsv2)
      df.write.format("kinesis-graft").options(opts).mode("append").save()
    else {
      val m = KinesisSink.write(df, opts)
      require(m.recordsDropped.sum == 0, s"${m.recordsDropped.sum} dropped")
    }
  }

  /** Delivered multiset per stream equals the input, each source
    * partition's records arrive in order within their stream, and with a
    * partitionKey column the keys pass through. Returns the failures. */
  def verify(fake: FakeKinesis, recs: IndexedSeq[Rec], withPk: Boolean,
      parts: Int): Seq[String] = {
    val perPart = recs.size / parts
    val seen = new Array[Int](recs.size)
    val errs = mutable.ArrayBuffer.empty[String]
    (0 until Streams).foreach { k =>
      val last = Array.fill(parts)(-1)
      fake.stored(s"s$k").foreach { r =>
        val d = r.data
        val c1 = d.indexOf(':'.toByte)
        val c2 = d.indexOf(':'.toByte, c1 + 1)
        val part = new String(d, 0, c1, US_ASCII).toInt
        val seq = new String(d, c1 + 1, c2 - c1 - 1, US_ASCII).toInt
        val i = part * perPart + seq
        val want = recs(i)
        seen(i) += 1
        if (want.stream != k) errs += s"record $part:$seq routed to s$k"
        else if (!java.util.Arrays.equals(want.data, d))
          errs += s"record $part:$seq payload differs"
        else if (withPk && want.pk != r.partitionKey)
          errs += s"record $part:$seq partition key differs"
        if (seq <= last(part)) errs += s"s$k: $part:$seq after $part:${last(part)}"
        last(part) = seq
      }
    }
    val missing = seen.count(_ == 0)
    val dups = seen.count(_ > 1)
    if (missing > 0) errs += s"$missing records not delivered"
    if (dups > 0) errs += s"$dups records delivered more than once"
    errs.take(5).toSeq
  }

  final case class Call(variant: Int, ms: Double, records: Int,
      requests: Int, traced: Boolean)

  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    val parts = ctx.cores
    val recs = inputs(ctx.seed, parts)
    val dfs = frames(ctx, recs)
    val bytes = recs.map(_.data.length.toLong).sum
    r.line(s"sink_write: ${recs.size} records/call, ${bytes / 1024} KiB/call, " +
      s"${recs.count(_.data.length >= 32 * 1024)} records >= 32 KiB, " +
      s"$Streams streams, $parts source partitions, local[${ctx.cores}]")

    var callNo = 0
    def call(variant: Int, traced: Boolean, coalesce: Boolean = false): Call = {
      callNo += 1
      val name = s"sw-${ctx.seed}-$callNo"
      val fake = FakeKinesis.named(name)
      val withPk = variant % 2 == 0
      val dsv2 = variant / 2 == 1
      val df0 = if (withPk) dfs._1 else dfs._2
      val df = if (coalesce) df0.coalesce(1) else df0
      ctx.tracer.on = traced
      val (thrown, ms) = ctx.timeMs {
        ctx.tracer.span("sink.write", s"call-$callNo") {
          ctx.bucket("sink_write") {
            scala.util.Try(write(df, dsv2, name)).failed.toOption
          }
        }
      }
      if (traced) ctx.drainBus()
      ctx.tracer.on = false
      val requests = fake.requestCount.get()
      val errs = try thrown.map(e => Seq(s"write threw: $e"))
          .getOrElse(verify(fake, recs, withPk, parts))
        finally { fake.clear(); FakeKinesis.drop(name) }
      r.check(errs.isEmpty, s"call $callNo (variant $variant): " +
        errs.mkString("; "))
      Call(variant, ms, recs.size, requests, traced)
    }

    // Set-up, several times: one write call through each surface and
    // variant, each into a fresh client. The first round is cold (class
    // loading, codegen, JIT of the sink's paths); the rounds also warm the
    // timed loop up. Generating the input and caching the frames is the
    // harness's own work and is not timed.
    val setups = (1 to SetupReps).map { _ =>
      (0 until 4).map(v => call(v, traced = false).ms).sum
    }
    r.metric("setup_s", Stats.median(setups) / 1000)
    r.timing("setup_s", Stats.median(setups) / 1000, "s", SetupReps,
      f"rounds of 4 calls; first (cold) round ${setups.head / 1000}%.3f s")
    val calls = mutable.ArrayBuffer.empty[Call]
    val t0 = System.nanoTime()
    var i = 0
    // A traced run alternates untraced and traced cycles of the four
    // variants; the difference between the two is the tracing overhead.
    while ((System.nanoTime() - t0) / 1e9 < ctx.seconds || i % 8 != 0) {
      calls += call(i % 4, traced = ctx.traced && (i / 4) % 2 == 1)
      i += 1
    }
    val rate = (cs: Seq[Call]) => cs.map(_.records).sum / (cs.map(_.ms).sum / 1000)
    val lat = calls.map(_.ms).toSeq
    val reqs = calls.map(_.requests).sum
    val counters = ctx.counters("sink_write") + s" requests=$reqs " +
      s"rows=${calls.map(_.records).sum}"
    r.metric("throughput_per_s", rate(calls.toSeq))
    r.metric("latency_p50_ms", Stats.median(lat))
    r.metric("latency_tail_ms", Stats.quantile(lat, 0.9))
    r.timing("records_per_s", r.value("throughput_per_s"), "1/s", calls.size, counters)
    r.timing("write_p50_ms", r.value("latency_p50_ms"), "ms", lat.size, counters)
    r.timing("write_p90_ms", r.value("latency_tail_ms"), "ms", lat.size, counters)

    if (ctx.traced) {
      val (fb, dsv2) = calls.partition(_.variant < 2)
      r.metric("sink.foreach_batch.records_per_s", rate(fb.toSeq))
      r.metric("sink.dsv2_write.records_per_s", rate(dsv2.toSeq))
      r.metric("sink.writer.requests", reqs.toDouble / calls.size)
      r.metric("sink.writer.records_per_request",
        calls.map(_.records).sum.toDouble / reqs)
      val single = Seq(call(0, traced = false, coalesce = true),
        call(3, traced = false, coalesce = true))
      r.metric("sink.writer.single_task_records_per_s", rate(single))
      val (untr, tr) = calls.partition(!_.traced)
      r.metric("trace.overhead.throughput_pct",
        100 * (rate(untr.toSeq) - rate(tr.toSeq)) / rate(untr.toSeq))
      r.metric("trace.overhead.latency_p50_ms",
        Stats.median(tr.map(_.ms).toSeq) - Stats.median(untr.map(_.ms).toSeq))
      // The fake's own cost for one call's volume, calling it directly:
      // the floor under any sink change. No claim may rest on it.
      val put = (1 to 3).map { _ =>
        val fake = new FakeKinesis()
        ctx.timeMs {
          recs.groupBy(_.stream).foreach { case (k, rs) =>
            rs.grouped(500).foreach(g => fake.putRecords(s"s$k",
              g.map(x => KinesisRecord(x.pk, x.data))))
          }
        }._2
      }
      r.metric("sink.fake.put_ms", Stats.median(put))
    }
  }

  /** The reference envelope: at 6 ms per request, 500 records take one
    * request (6-8 ms in the reference's tests) and 600 take two
    * (12-16 ms). Request counts are checked; wall times are reported,
    * not gated. It needs no Spark, so every traced run reports it. */
  def envelope(ctx: Ctx): Unit = {
    val r = ctx.report
    Seq(500 -> 1, 600 -> 2).foreach { case (n, want) =>
      val recs = (0 until n).map(i => KinesisRecord(s"pk$i", s"m$i".getBytes))
      val times = (1 to 10).map { _ =>
        val fake = new FakeKinesis(latencyMs = 6)
        val (_, ms) = ctx.timeMs {
          new KinesisRecordWriter(fake, "envelope").write(recs.iterator)
        }
        r.check(fake.requestCount.get() == want,
          s"$n records took ${fake.requestCount.get()} requests, want $want")
        ms
      }
      r.metric(s"sink.writer.envelope_${n}_ms", Stats.median(times))
      r.line(f"envelope $n records: ${Stats.median(times)}%.2f ms p50 " +
        s"($want request(s); reference ${if (n == 500) "6-8" else "12-16"} ms)")
    }
  }
}
