package graft.sink

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The DSv2 source half of `format("kinesis-graft")`: the read API seam,
  * batch + micro-batch reads, and full source→sink round trips
  * replicating the reference's integration suite — `TestSend` and
  * `TestRestart` consume what the sink wrote via
  * `GetShardIterator`/`GetRecords`
  * (/root/reference/integration_test.go:112-198).
  */
class KinesisGraftSourceSpec extends SparkTestBase {

  private def put(fake: FakeKinesis, stream: String, msgs: Seq[String]): Unit =
    msgs.grouped(500).foreach { g =>
      fake.putRecords(stream,
        g.map(m => KinesisRecord(s"pk-$m", m.getBytes("UTF-8"))))
    }

  /** FakeKinesis's partition-key routing (contiguous md5 hash ranges —
    * shard i of n owns [i·2¹²⁸/n, (i+1)·2¹²⁸/n)), in one place: the
    * liveness tests search for keys landing on specific shards, and four
    * drifting copies of the routing would keep "finding" keys for a
    * routing FakeKinesis no longer uses.
    */
  private def shardOf(pk: String, n: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(pk.getBytes("UTF-8"))
    val h = BigInt(new java.math.BigInteger(1, md))
    math.min(n - 1, (h / ((BigInt(1) << 128) / n)).toInt)
  }

  /** First key with the given prefix that routes to shard `sh` of `n`. */
  private def keyOn(prefix: String, sh: Int, n: Int): String =
    Iterator.from(0).map(i => s"$prefix-$i")
      .find(pk => shardOf(pk, n) == sh).get

  // ----- read API seam (FakeKinesis virtual shards) -------------------

  test("TRIM_HORIZON iterator drains the full log in order") {
    val fake = new FakeKinesis()
    put(fake, "t", (0 until 7).map(i => s"m$i"))
    val it = fake.getShardIterator("t", "shardId-000000000000", "TRIM_HORIZON")
    val res = fake.getRecords(it, 100)
    assert(res.records.map(r => new String(r.record.data, "UTF-8")) ==
      (0 until 7).map(i => s"m$i"))
    assert(res.records.map(_.sequenceNumber) == (0L until 7L))
    // caught up: next page is empty
    assert(fake.getRecords(res.nextIterator, 100).records.isEmpty)
  }

  test("getRecords pages by limit and the next iterator resumes exactly") {
    val fake = new FakeKinesis()
    put(fake, "t", (0 until 10).map(i => s"m$i"))
    val it = fake.getShardIterator("t", "shardId-000000000000", "TRIM_HORIZON")
    val p1 = fake.getRecords(it, 4)
    val p2 = fake.getRecords(p1.nextIterator, 4)
    val p3 = fake.getRecords(p2.nextIterator, 4)
    assert(p1.records.size == 4 && p2.records.size == 4 && p3.records.size == 2)
    val all = (p1.records ++ p2.records ++ p3.records)
      .map(r => new String(r.record.data, "UTF-8"))
    assert(all == (0 until 10).map(i => s"m$i"))
  }

  test("virtual shards partition the log disjointly and completely") {
    val fake = new FakeKinesis()
    fake.numShards.set(4)
    put(fake, "t", (0 until 200).map(i => s"m$i"))
    val shards = fake.listShards("t")
    assert(shards.size == 4)
    val perShard = shards.map { s =>
      val it = fake.getShardIterator("t", s, "TRIM_HORIZON")
      fake.getRecords(it, 1000).records
    }
    // sequence numbers are dense per-shard ordinals (0, 1, 2, …) — the
    // per-shard space real Kinesis has, which admission control's
    // per-shard cap splitting relies on
    perShard.foreach { rs =>
      assert(rs.map(_.sequenceNumber) == (0L until rs.size.toLong))
    }
    // disjoint union of payloads == whole log
    val payloads = perShard.flatten.map(r => new String(r.record.data, "UTF-8"))
    assert(payloads.size == 200 && payloads.distinct.size == 200)
    assert(perShard.map(_.size).forall(_ > 0), "hash routing left a shard empty")
  }

  test("LATEST iterator skips existing records, sees new ones") {
    val fake = new FakeKinesis()
    put(fake, "t", Seq("old1", "old2"))
    val it = fake.getShardIterator("t", "shardId-000000000000", "LATEST")
    assert(fake.getRecords(it, 100).records.isEmpty)
    put(fake, "t", Seq("new1"))
    val res = fake.getRecords(it, 100)
    assert(res.records.map(r => new String(r.record.data, "UTF-8")) == Seq("new1"))
    assert(fake.latestSequence("t", "shardId-000000000000") == 3L)
  }

  // ----- batch read ---------------------------------------------------

  private def readBatch(clientName: String, stream: String): DataFrame =
    spark.read.format("kinesis-graft")
      .option("aws_region_name", "us-east-1")
      .option("stream", stream)
      .option("client", s"fake:$clientName")
      .load()

  test("TestSend parity: sink write then batch read through the engine " +
      "(integration_test.go:159-173)") {
    val fake = FakeKinesis.named("src-send")
    fake.clear()
    fake.numShards.set(2)
    val expected = Seq("time", "to", "test out", "our", "kinesis stream!")
    import spark.implicits._
    // write through the DSv2 sink, as TestSend does through Send
    expected.toDF("s")
      .select(col("s").cast("binary").as("data"))
      .write.format("kinesis-graft")
      .option("aws_region_name", "us-east-1")
      .option("stream", "round-trip")
      .option("client", "fake:src-send")
      .mode("append").save()
    // read back through the DSv2 source (order-insensitive multiset
    // compare, as stringSliceToMap does)
    val got = readBatch("src-send", "round-trip")
      .select(col("data").cast("string")).as[String].collect().toSeq
    assert(got.sorted == expected.sorted)
  }

  test("batch read exposes shardId and per-shard monotone sequenceNumbers") {
    val fake = FakeKinesis.named("src-schema")
    fake.clear()
    fake.numShards.set(4)
    put(fake, "s", (0 until 100).map(i => s"m$i"))
    val rows = readBatch("src-schema", "s")
      .select("shardId", "sequenceNumber", "partitionKey", "stream")
      .collect()
    assert(rows.length == 100)
    assert(rows.map(_.getString(3)).forall(_ == "s"))
    assert(rows.map(_.getString(0)).distinct.length == 4)
    rows.groupBy(_.getString(0)).values.foreach { rs =>
      val seqs = rs.map(_.getLong(1)).toSeq
      assert(seqs == seqs.sorted)
    }
  }

  // ----- micro-batch read + restart -----------------------------------

  test("TestRestart parity: checkpointed source restart delivers each " +
      "record exactly once (integration_test.go:175-198)") {
    val fake = FakeKinesis.named("src-restart")
    fake.clear()
    fake.numShards.set(2)
    val expected = Seq("testing", "a restart", "between", "message sends")
    val ckpt = Files.createTempDirectory("ckpt-src-restart").toString
    val received = mutable.ArrayBuffer.empty[String]

    def runQuery(): Unit = {
      val q = spark.readStream.format("kinesis-graft")
        .option("aws_region_name", "us-east-1")
        .option("stream", "restart-topic")
        .option("client", "fake:src-restart")
        .load()
        .select(col("data").cast("string").as("payload"))
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          received.synchronized {
            received ++= batch.collect().map(_.getString(0))
          }
          ()
        }
        .option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable(); q.stop(); q.awaitTermination(30000)
    }

    // send one message, consume, stop — then send the rest and restart,
    // mirroring TestRestart's send/Close/Restart/send sequence
    put(fake, "restart-topic", expected.take(1))
    runQuery()
    assert(received.toSeq == expected.take(1))
    put(fake, "restart-topic", expected.drop(1))
    runQuery()
    assert(received.sorted == expected.sorted,
      s"restart must deliver only new records, exactly once: $received")
  }

  test("micro-batch read honors starting_position=latest") {
    val fake = FakeKinesis.named("src-latest")
    fake.clear()
    put(fake, "lt", Seq("before1", "before2"))
    val ckpt = Files.createTempDirectory("ckpt-src-latest").toString
    val received = mutable.ArrayBuffer.empty[String]
    val q = spark.readStream.format("kinesis-graft")
      .option("aws_region_name", "us-east-1")
      .option("stream", "lt")
      .option("client", "fake:src-latest")
      .option("starting_position", "latest")
      .load()
      .select(col("data").cast("string").as("payload"))
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        received.synchronized {
          received ++= batch.collect().map(_.getString(0))
        }
        ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    assert(received.isEmpty, "latest must skip pre-existing records")
    put(fake, "lt", Seq("after1"))
    q.processAllAvailable(); q.stop(); q.awaitTermination(30000)
    assert(received.toSeq == Seq("after1"))
  }

  test("max_records_per_trigger drains a backlog over bounded " +
      "micro-batches (backpressure parity, sink.go:84-109)") {
    val fake = FakeKinesis.named("src-throttle")
    fake.clear()
    fake.numShards.set(2)
    put(fake, "tt", (0 until 100).map(i => s"m$i"))
    val ckpt = Files.createTempDirectory("ckpt-src-throttle").toString
    val batches = mutable.ArrayBuffer.empty[Long]
    val received = mutable.ArrayBuffer.empty[String]
    val q = spark.readStream.format("kinesis-graft")
      .option("aws_region_name", "us-east-1")
      .option("stream", "tt")
      .option("client", "fake:src-throttle")
      .option("max_records_per_trigger", "10")
      .load()
      .select(col("data").cast("string").as("payload"))
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = batch.collect().map(_.getString(0))
        received.synchronized { received ++= rows; batches += rows.length }
        ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable(); q.stop(); q.awaitTermination(30000)
    assert(received.sorted == (0 until 100).map(i => s"m$i").sorted,
      "throttled drain must still deliver everything exactly once")
    val nonEmpty = batches.filter(_ > 0)
    assert(nonEmpty.size > 5,
      s"backlog should drain over many bounded batches, got $batches")
    assert(nonEmpty.max <= 10, s"a batch exceeded the cap: $batches")
  }

  test("end-to-end: sink -> Kinesis -> source -> watermarked windowed agg " +
      "matches the batch computation") {
    // The full engine loop: analytics over a stream CONSUMED through the
    // connector, not just delivery parity — JSON event payloads written
    // via the DSv2 sink, read back via the source, aggregated with an
    // event-time window, checked against the same aggregation run as a
    // batch query on the same records.
    val fake = FakeKinesis.named("src-e2e")
    fake.clear()
    fake.numShards.set(4)
    import spark.implicits._
    val events = (0 until 600).map { i =>
      val minute = i % 45 // 45 one-minute buckets over 3 quarter-hours
      ("""{"t":"2024-03-01 07:%02d:%02d","k":"u%d"}"""
        .format(minute, i % 60, i % 7), s"pk$i")
    }
    events.toDF("payload", "partitionKey")
      .select($"partitionKey", $"payload".cast("binary").as("data"))
      .write.format("kinesis-graft")
      .option("aws_region_name", "us-east-1")
      .option("stream", "e2e").option("client", "fake:src-e2e")
      .mode("append").save()

    def parse(df: org.apache.spark.sql.DataFrame) = df
      .select(get_json_object($"data".cast("string"), "$.t")
          .cast("timestamp").as("ts"),
        get_json_object($"data".cast("string"), "$.k").as("k"))
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(window($"ts", "15 minutes").getField("start").as("w"), $"k")
      .agg(count(lit(1)).as("n"))

    val ckpt = Files.createTempDirectory("ckpt-src-e2e").toString
    val streamed = mutable.Map.empty[(java.sql.Timestamp, String), Long]
    val q = agg(parse(spark.readStream.format("kinesis-graft")
        .option("aws_region_name", "us-east-1")
        .option("stream", "e2e").option("client", "fake:src-e2e")
        .load())
        .withWatermark("ts", "10 minutes"))
      .writeStream.outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.collect().foreach { r =>
          streamed.synchronized {
            streamed((r.getTimestamp(0), r.getString(1))) = r.getLong(2)
          }
        }
        ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable(); q.stop(); q.awaitTermination(30000)

    val batch = agg(parse(readBatch("src-e2e", "e2e")))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(batch.nonEmpty && batch.keySet.map(_._1).size == 3)
    assert(streamed.toMap == batch,
      s"streamed ${streamed.size} groups vs batch ${batch.size}")
  }

  test("randomized restart soak: many put/consume/stop rounds deliver " +
      "exactly once (seeded)") {
    val rnd = new scala.util.Random(0xBEEF)
    val fake = FakeKinesis.named("src-soak")
    fake.clear()
    fake.numShards.set(1 + rnd.nextInt(4))
    val ckpt = Files.createTempDirectory("ckpt-src-soak").toString
    val received = mutable.ArrayBuffer.empty[String]
    var sent = 0
    (0 until 6).foreach { round =>
      val batch = 1 + rnd.nextInt(40)
      put(fake, "soak", (sent until sent + batch).map(i => s"r$i"))
      sent += batch
      val q = spark.readStream.format("kinesis-graft")
        .option("aws_region_name", "us-east-1")
        .option("stream", "soak")
        .option("client", "fake:src-soak")
        // exercise throttled and unthrottled rounds
        .option("max_records_per_trigger",
          if (round % 2 == 0) "7" else "0")
        .load()
        .select(col("data").cast("string").as("payload"))
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          received.synchronized { received ++= b.collect().map(_.getString(0)) }
          ()
        }
        .option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable(); q.stop(); q.awaitTermination(30000)
    }
    assert(received.sorted == (0 until sent).map(i => s"r$i").sorted,
      s"soak: sent $sent, got ${received.size} " +
        s"(${received.size - received.distinct.size} dups)")
  }

  test("data plane freezes at first touch while the control plane " +
      "reports the live layout: flipping numShards cannot remap records " +
      "but IS visible to resharding detection") {
    val fake = new FakeKinesis()
    fake.numShards.set(2)
    put(fake, "fz", (0 until 50).map(i => s"m$i"))
    // data-plane view under the FROZEN layout (what checkpointed
    // offsets were committed against)
    def snapshot(): Seq[Seq[String]] =
      (0 until fake.shardCount("fz")).map(i => f"shardId-$i%012d").map { s =>
        val it = fake.getShardIterator("fz", s, "TRIM_HORIZON")
        fake.getRecords(it, 1000).records
          .map(r => new String(r.record.data, "UTF-8"))
      }
    val before = snapshot()
    assert(fake.listShards("fz").size == 2)
    fake.numShards.set(4)
    // control plane reports the reshard (how detection sees it)...
    assert(fake.listShards("fz").size == 4,
      "ListShards must report the live layout, like real Kinesis")
    // ...but the data plane cannot re-hash history
    assert(fake.shardCount("fz") == 2, "routing must stay frozen")
    assert(snapshot() == before, "per-shard logs must be byte-identical")
  }

  test("resharding mid-query fails the query loudly instead of " +
      "delivering against a remapped layout") {
    val fake = FakeKinesis.named("src-reshard")
    fake.clear()
    fake.numShards.set(2)
    put(fake, "rs", (0 until 20).map(i => s"m$i"))
    val ckpt = Files.createTempDirectory("ckpt-src-reshard").toString
    val received = mutable.ArrayBuffer.empty[String]
    def start() = spark.readStream.format("kinesis-graft")
      .option("aws_region_name", "us-east-1")
      .option("stream", "rs")
      .option("client", "fake:src-reshard")
      .load()
      .select(col("data").cast("string").as("payload"))
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = batch.collect().map(_.getString(0))
        received.synchronized { received ++= rows }
        ()
      }
      .option("checkpointLocation", ckpt)
      .start()
    val q = start()
    q.processAllAvailable()
    assert(received.size == 20, "pre-reshard delivery must complete")
    fake.numShards.set(5) // split: 2 -> 5 shards under the running query
    put(fake, "rs", Seq("after-split"))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
      q.awaitTermination(30000)
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    val reshard = chain(ex).collectFirst {
      case e: KinesisReshardingException => e
    }
    assert(reshard.isDefined,
      s"query must die with KinesisReshardingException, got: $ex")
    assert(reshard.get.getMessage.contains("resharded") &&
      reshard.get.getMessage.contains("fresh checkpoint"),
      s"error must tell the operator what happened and the remedy: " +
        reshard.get.getMessage)
    // the documented remedy works: a fresh checkpoint adopts the new
    // layout (the fake's data plane still routes over the hash ranges
    // frozen at first touch, so all records remain readable)
    try q.stop() catch { case _: Exception => () }
    received.clear()
    val ckpt2 = Files.createTempDirectory("ckpt-src-reshard2").toString
    val q2 = spark.readStream.format("kinesis-graft")
      .option("aws_region_name", "us-east-1")
      .option("stream", "rs")
      .option("client", "fake:src-reshard")
      .load()
      .select(col("data").cast("string").as("payload"))
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = batch.collect().map(_.getString(0))
        received.synchronized { received ++= rows }
        ()
      }
      .option("checkpointLocation", ckpt2)
      .start()
    q2.processAllAvailable(); q2.stop(); q2.awaitTermination(30000)
    assert(received.sorted ==
      ((0 until 20).map(i => s"m$i") :+ "after-split").sorted,
      "fresh-checkpoint restart must deliver the full log")
  }

  test("admission control: total admitted per batch never exceeds " +
      "max_records_per_trigger, even with more shards than budget") {
    val fake = FakeKinesis.named("src-admission")
    fake.clear()
    fake.numShards.set(8)
    put(fake, "adm", (0 until 200).map(i => s"m$i"))
    val opts = KinesisSinkOptions.fromMap(Map(
      "aws_region_name" -> "us-east-1", "stream" -> "adm",
      "client" -> "fake:src-admission"))
    def admitted(cap: Long): Long = {
      val ms = new KinesisGraftMicroBatchStream(opts, "TRIM_HORIZON", 10000, cap)
      val start = ms.initialOffset().asInstanceOf[KinesisSourceOffset]
      val end = ms.latestOffset(start,
        org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(cap))
        .asInstanceOf[KinesisSourceOffset]
      end.shardOffsets.map { case (s, e) =>
        e - start.shardOffsets.getOrElse(s, 0L)
      }.sum
    }
    // 8 shards, cap 3: the old floor-at-1 split admitted 8; must be <= 3
    assert(admitted(3) == 3)
    assert(admitted(10) == 10)
    // cap above backlog: everything admitted, nothing phantom
    assert(admitted(1000) == 200)
    // successive capped batches drain the backlog exactly
    val ms = new KinesisGraftMicroBatchStream(opts, "TRIM_HORIZON", 10000, 64)
    var cur = ms.initialOffset().asInstanceOf[KinesisSourceOffset]
    var total = 0L
    var batches = 0
    var progressed = true
    while (progressed) {
      val next = ms.latestOffset(cur,
        org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(64))
        .asInstanceOf[KinesisSourceOffset]
      val adv = next.shardOffsets.map { case (s, e) =>
        e - cur.shardOffsets.getOrElse(s, 0L)
      }.sum
      assert(adv <= 64, s"batch $batches admitted $adv > cap")
      progressed = adv > 0
      total += adv; batches += 1; cur = next
    }
    assert(total == 200, s"drain must be exact, got $total")
  }

  test("offset JSON is canonical regardless of map insertion order " +
      "(the engine compares offsets BY JSON; a non-canonical form made " +
      "every trigger look like new data — an infinite empty-batch loop)") {
    val a = KinesisSourceOffset(
      scala.collection.immutable.ListMap("shardId-000000000001" -> 7L,
        "shardId-000000000000" -> 3L))
    val b = KinesisSourceOffset(
      scala.collection.immutable.ListMap("shardId-000000000000" -> 3L,
        "shardId-000000000001" -> 7L))
    assert(a.json() == b.json(), s"${a.json()} vs ${b.json()}")
    assert(KinesisSourceOffset.fromJson(a.json()) == b)
  }

  test("admission control liveness: no shard starves when lagging " +
      "shards outnumber the trigger budget (rotating priority)") {
    // The shallowest-first max-min fill had a liveness hole: a shard
    // whose backlog stays smallest floored to a 0 share on EVERY
    // trigger while deeper siblings took the whole cap. Reproduce the
    // shape — one shard with a single stale record, three with deep
    // backlogs — and require every lagging shard to advance within
    // ceil(4/1) = 4 triggers at cap 1.
    val fake = FakeKinesis.named("src-liveness")
    fake.clear()
    fake.numShards.set(4)
    val pks = (0 until 4).map(sh => keyOn("lv", sh, 4))
    // shard 0: one stale record; shards 1-3: deep backlogs
    fake.putRecords("lv", Seq(KinesisRecord(pks(0), "stale".getBytes)))
    (0 until 30).foreach { _ =>
      fake.putRecords("lv", (1 until 4).map(sh =>
        KinesisRecord(pks(sh), "deep".getBytes)))
    }
    val opts = KinesisSinkOptions.fromMap(Map(
      "aws_region_name" -> "us-east-1", "stream" -> "lv",
      "client" -> "fake:src-liveness"))
    val ms = new KinesisGraftMicroBatchStream(opts, "TRIM_HORIZON", 10000, 1)
    var cur = ms.initialOffset().asInstanceOf[KinesisSourceOffset]
    val advanced = scala.collection.mutable.Set.empty[String]
    (0 until 4).foreach { _ =>
      val next = ms.latestOffset(cur,
        org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(1))
        .asInstanceOf[KinesisSourceOffset]
      val adv = next.shardOffsets.filter { case (s, e) =>
        e > cur.shardOffsets.getOrElse(s, 0L)
      }
      assert(adv.values.zip(adv.keys.map(cur.shardOffsets.getOrElse(_, 0L)))
        .map { case (e, s0) => e - s0 }.sum <= 1, "cap exceeded")
      advanced ++= adv.keys
      cur = next
    }
    assert(advanced.size == 4,
      s"every lagging shard must be served within 4 triggers: $advanced")
  }

  test("admission control liveness holds at cap >= 2: every lagging " +
      "shard served within ceil(L/C) triggers") {
    // cap=1 happens to be tight under ANY rotation policy; the ⌈L/C⌉
    // bound is only discriminating at cap ≥ 2. Six deep shards, cap 2:
    // the rotation must clear all six in 3 triggers. A fixed +1 advance
    // re-serves one shard of the previous pair each trigger and needs 5.
    val fake = FakeKinesis.named("src-liveness2")
    fake.clear()
    fake.numShards.set(6)
    val pks = (0 until 6).map(sh => keyOn("lw", sh, 6))
    (0 until 20).foreach { _ =>
      fake.putRecords("lw", pks.map(pk => KinesisRecord(pk, "deep".getBytes)))
    }
    val opts = KinesisSinkOptions.fromMap(Map(
      "aws_region_name" -> "us-east-1", "stream" -> "lw",
      "client" -> "fake:src-liveness2"))
    val ms = new KinesisGraftMicroBatchStream(opts, "TRIM_HORIZON", 10000, 2)
    var cur = ms.initialOffset().asInstanceOf[KinesisSourceOffset]
    val advanced = scala.collection.mutable.Set.empty[String]
    (0 until 3).foreach { _ =>
      val next = ms.latestOffset(cur,
        org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(2))
        .asInstanceOf[KinesisSourceOffset]
      val adv = next.shardOffsets.filter { case (s, e) =>
        e > cur.shardOffsets.getOrElse(s, 0L)
      }
      assert(adv.values.zip(adv.keys.map(cur.shardOffsets.getOrElse(_, 0L)))
        .map { case (e, s0) => e - s0 }.sum <= 2, "cap exceeded")
      advanced ++= adv.keys
      cur = next
    }
    assert(advanced.size == 6,
      s"every lagging shard must be served within ceil(6/2)=3 triggers: " +
        s"$advanced")
  }

  test("admission control rotation skips non-lagging shards without " +
      "re-serving the same lagging shard") {
    // Lagging shards separated by caught-up ones: the pointer must land
    // past the last SERVED shard, not advance by served-count (which
    // strands it mid-span and re-serves the same lagging shard while
    // the other starves). Two lagging shards, cap 1 → strict
    // alternation over 4 triggers: each served exactly twice.
    val fake = FakeKinesis.named("src-liveness3")
    fake.clear()
    fake.numShards.set(4)
    val pk0 = keyOn("lx", 0, 4)
    val pk2 = keyOn("lx", 2, 4)
    (0 until 10).foreach { _ =>
      fake.putRecords("lx", Seq(KinesisRecord(pk0, "a".getBytes),
        KinesisRecord(pk2, "b".getBytes)))
    }
    val opts = KinesisSinkOptions.fromMap(Map(
      "aws_region_name" -> "us-east-1", "stream" -> "lx",
      "client" -> "fake:src-liveness3"))
    val ms = new KinesisGraftMicroBatchStream(opts, "TRIM_HORIZON", 10000, 1)
    var cur = ms.initialOffset().asInstanceOf[KinesisSourceOffset]
    val servedCounts = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    (0 until 4).foreach { _ =>
      val next = ms.latestOffset(cur,
        org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(1))
        .asInstanceOf[KinesisSourceOffset]
      next.shardOffsets.foreach { case (s, e) =>
        if (e > cur.shardOffsets.getOrElse(s, 0L)) servedCounts(s) += 1
      }
      cur = next
    }
    assert(servedCounts.values.toSeq.sorted == Seq(2, 2),
      s"two lagging shards at cap 1 must alternate: $servedCounts")
  }

  test("shard layout freezes on a fully-failed first write (failure " +
      "injection cannot expose a numShards flip to the retry)") {
    val fake = FakeKinesis.named("freeze-on-fail")
    fake.clear()
    fake.numShards.set(2)
    fake.failNextRequests.set(1)
    intercept[KinesisRequestException] {
      fake.putRecords("fz", Seq(KinesisRecord("k", "v".getBytes)))
    }
    // the flip lands between the failed first write and its retry
    fake.numShards.set(8)
    fake.putRecords("fz", Seq(KinesisRecord("k", "v".getBytes)))
    assert(fake.shardCount("fz") == 2,
      "layout must freeze at the first write ATTEMPT, not the first success")
    // the control plane reports the live flip (resharding detection's
    // view); the frozen DATA plane is what keeps the retry un-remapped
    assert(fake.listShards("fz").size == 8)
  }

  test("source reports operational metrics in streaming progress: " +
      "backlog + reshard-follow state (ReportsSourceMetrics, the " +
      "source-side twin of the sink's custom metrics)") {
    val fake = FakeKinesis.named("src-metrics")
    fake.clear()
    fake.numShards.set(2)
    put(fake, "mx", (0 until 30).map(i => s"m$i"))
    val ckpt = Files.createTempDirectory("ckpt-src-metrics").toString
    val q = spark.readStream.format("kinesis-graft")
      .option("aws_region_name", "us-east-1")
      .option("stream", "mx")
      .option("client", "fake:src-metrics")
      .load()
      .select(col("data").cast("string").as("payload"))
      .writeStream
      .foreachBatch { (_: DataFrame, _: Long) => () }
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      val m = q.lastProgress.sources.head.metrics
      assert(m.get("recordsBehindLatest") == "0",
        s"fully drained stream must report zero backlog: $m")
      assert(m.get("activeShards") == "2" && m.get("retiredShards") == "0",
        s"static layout: 2 active, 0 retired: $m")
      // a split mid-query: once the parent drains, the gauges move —
      // exactly the signal an operator watches during a reshard
      fake.splitShard("mx", "shardId-000000000000")
      put(fake, "mx", (0 until 5).map(i => s"post$i"))
      q.processAllAvailable()
      val m2 = q.lastProgress.sources.head.metrics
      assert(m2.get("recordsBehindLatest") == "0", s"drained again: $m2")
      assert(m2.get("retiredShards") == "1",
        s"drained parent must show as retired: $m2")
      assert(m2.get("activeShards") == "3",
        s"two children + the untouched shard stay active: $m2")
    } finally { q.stop(); q.awaitTermination(30000) }
  }

  test("one end-of-shard probe per shard per trigger: the backlog gauge " +
      "reuses the ends planning read, and a slice reader stops at its " +
      "window's end") {
    val fake = FakeKinesis.named("src-plan-ends")
    fake.clear()
    fake.numShards.set(2)
    put(fake, "pe", (0 until 40).map(i => s"m$i"))
    val opts = KinesisSinkOptions.fromMap(Map(
      "aws_region_name" -> "us-east-1", "stream" -> "pe",
      "client" -> "fake:src-plan-ends"))
    val ms = new KinesisGraftMicroBatchStream(opts, "TRIM_HORIZON", 10000, 10)
    val start = ms.initialOffset()
    val end = ms.latestOffset(start,
      org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(10))
    // records that arrive after planning are the next trigger's news
    put(fake, "pe", (0 until 25).map(i => s"late$i"))
    val m = ms.metrics(java.util.Optional.of(end))
    assert(m.get("recordsBehindLatest") == "30",
      s"40 planned-visible records, 10 admitted: $m")
    // each slice is far smaller than a page and its shard holds more:
    // the reader must fetch exactly its window, not a full page
    val parts = ms.planInputPartitions(start, end)
      .map(_.asInstanceOf[KinesisInputPartition])
    assert(parts.map(p => p.endSeq - p.startSeq).sum == 10)
    parts.foreach { part =>
      val r = new KinesisPartitionReader(part)
      var n = 0L
      while (r.next()) n += 1
      assert(n == part.endSeq - part.startSeq)
      assert(r.fetchedTo == part.endSeq,
        s"${part.shardId}: read to ${r.fetchedTo}, window ends at " +
          s"${part.endSeq}")
    }
  }

  test("source option validation: missing stream fails fast") {
    val e = intercept[Exception] {
      spark.read.format("kinesis-graft")
        .option("aws_region_name", "us-east-1")
        .option("client", "fake:x")
        .load()
        .collect()
    }
    val messages = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(messages.contains("stream"), messages)
  }
}
