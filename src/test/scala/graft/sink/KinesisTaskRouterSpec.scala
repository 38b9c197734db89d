package graft.sink

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** Properties of the per-task delivery core both sink surfaces share,
  * checked without Spark. A scripted client wraps [[FakeKinesis]] like
  * `KinesisRecordWriterSpec`'s invariant sweep does, but throws request
  * errors and fails individual records on a generated schedule; `sleep`
  * is recorded into the same event log as the requests, so the backoff
  * schedule can be checked against the outcomes that caused it.
  */
class KinesisTaskRouterSpec extends AnyFunSuite {
  import KinesisTaskRouterSpec._

  private val params = Test.Parameters.default
    .withMinSuccessfulTests(300)
    .withInitialSeed(Seed(42L))

  private def check(p: Prop): Unit = {
    val res = Test.check(params, p)
    assert(res.passed, Pretty.pretty(res))
  }

  private def forAllRuns(f: Run => Prop): Prop = Prop.forAll(genCase)(c => f(deliver(c)))

  test("delivered and dead-lettered records together are the input multiset") {
    check(forAllRuns { r =>
      val delivered = r.delivered.toSeq.flatMap { case (s, ids) => ids.map(s -> _) }
      val dead = r.dead.map { case (s, id, _) => s -> id }
      val calls = r.log.collect { case c: Call => c }
      ((delivered ++ dead).sorted == r.c.input.sorted) :| "multiset" &&
        (r.stats.recordsSent == delivered.size) :| "recordsSent" &&
        (r.stats.recordsDropped == dead.size) :| "recordsDropped" &&
        (r.stats.putRequests == calls.size) :| "putRequests" &&
        (r.stats.kinesisErrors == calls.count(_.failed.isEmpty)) :| "kinesisErrors"
    })
  }

  test("each stream's delivered order is its input order, batch by batch") {
    // Within one batch, a record that failed individually is re-sent
    // after the records that succeeded in an earlier round, exactly as
    // PutRecords partial failures behave; with no such failures the
    // delivered order is the input order itself.
    check(forAllRuns { r =>
      val failures = mutable.Map.empty[Int, Int].withDefaultValue(0)
      r.log.foreach {
        case Call(_, ids, Some(failed)) =>
          ids.zip(failed).foreach { case (id, f) => if (f) failures(id) += 1 }
        case _ =>
      }
      Prop.all(r.c.streams.map { s =>
        val sent = r.delivered.getOrElse(s, Nil).toSet
        val want = r.c.input.collect { case (`s`, id) => id }
          .grouped(r.c.config.batchSize)
          .flatMap(b => b.filter(sent).sortBy(failures))
          .toSeq
        (r.delivered.getOrElse(s, Nil) == want) :| s"stream $s"
      }: _*)
    })
  }

  test("no record is attempted more than maxAttemptsPerRecord times") {
    check(forAllRuns { r =>
      val attempts = r.log.collect { case Call(_, ids, Some(_)) => ids }.flatten
        .groupBy(identity).values.map(_.size)
      (attempts.isEmpty || attempts.max <= r.c.config.maxAttemptsPerRecord) :|
        s"attempts ${attempts.maxOption}"
    })
  }

  test("no request holds more than batchSize records") {
    check(forAllRuns { r =>
      r.log.collect { case c: Call => c.ids.size }
        .forall(n => n >= 1 && n <= r.c.config.batchSize) :| "request size"
    })
  }

  test("sleeps follow min(base·2ⁿ⁻¹, maxBackoffMs) and reset after a success") {
    // n is the writer's error streak: request errors since the last
    // request that returned, or partial-failure rounds of the current
    // batch, whichever is larger. Both restart with every new batch.
    check(forAllRuns { r =>
      val cfg = r.c.config
      val seen = mutable.Set.empty[Int]
      val attempts = mutable.Map.empty[Int, Int].withDefaultValue(0)
      val slept = ArrayBuffer.empty[Long]
      var errors = 0
      var rounds = 0
      val checks = ArrayBuffer.empty[Prop]
      r.log.foreach {
        case Slept(ms) => slept += ms
        case Call(_, ids, failed) =>
          if (!ids.exists(seen)) { errors = 0; rounds = 0 }
          seen ++= ids
          val n = math.max(errors, rounds)
          val want =
            if (n == 0) Nil
            else List(math.min(cfg.baseBackoffMs << (n - 1), cfg.maxBackoffMs))
          checks += (slept.toList == want) :| s"slept $slept before a call at streak $n"
          slept.clear()
          failed match {
            case None =>
              errors += 1
              if (errors >= cfg.maxConsecutiveErrors) errors = 0 // load-shed
            case Some(fs) =>
              errors = 0
              val retry = ids.zip(fs).collect { case (id, true) => id }
                .count { id => attempts(id) += 1; attempts(id) < cfg.maxAttemptsPerRecord }
              rounds = if (retry == 0) 0 else rounds + 1
          }
      }
      Prop.all(checks.toSeq :+ (slept.isEmpty :| "trailing sleep"): _*)
    })
  }

  test("missing keys are UUIDv4 strings fixed by (write seed, partition id)") {
    val a = generatedKeys(7L, 3)
    assert(a == generatedKeys(7L, 3), "same seed and partition, same keys")
    assert(a.forall(_.matches(UuidV4)), a.find(!_.matches(UuidV4)))
    // (8, 2) is (7, 3) shifted by one along each axis: a seed that were
    // the plain sum of the two would repeat (7, 3)'s keys
    val all = Seq(a, generatedKeys(7L, 4), generatedKeys(8L, 3),
      generatedKeys(8L, 2), generatedKeys(-7L, 3)).flatten
    assert(all.distinct.size == all.size, "no key repeats across tasks")
  }

  test("explicit keys pass through; missing ones do not shift the sequence") {
    val n = 1000
    val sent = generatedKeys(7L, 3, n, i => if (i % 3 == 0) s"k$i" else null)
    assert((0 until n by 3).forall(i => sent(i) == s"k$i"))
    val generated = sent.indices.filter(_ % 3 != 0).map(sent)
    assert(generated == generatedKeys(7L, 3, generated.size))
  }
}

object KinesisTaskRouterSpec {
  /** An RFC 4122 version 4 UUID string, as `uuid()` and the reference's
    * `generateID` (utils.go:15-19) produce.
    */
  val UuidV4 = "^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$"

  /** The keys a router for (`writeSeed`, `partitionId`) sends for `n`
    * records to one stream, whose keys `key(i)` gives (null: generate).
    */
  def generatedKeys(writeSeed: Long, partitionId: Int, n: Int = 100000,
      key: Int => String = _ => null): Seq[String] = {
    val sent = ArrayBuffer.empty[String]
    val client = new KinesisPutRecords {
      override def putRecords(stream: String,
          records: Seq[KinesisRecord]): Seq[PutResultEntry] = {
        sent ++= records.map(_.partitionKey)
        records.map(_ => PutResultEntry())
      }
    }
    val router = new KinesisTaskRouter(client, KinesisWriterConfig(),
      Some("s"), writeSeed, partitionId, (_, _, _) => ())
    (0 until n).foreach(i => router.add(null, key(i), Array.emptyByteArray))
    router.flush()
    sent.toSeq
  }

  /** One request's fate: a request error, or the records at the set
    * bits of `mask` fail individually (0: all succeed).
    */
  sealed trait Step
  case object RequestError extends Step
  final case class Partial(mask: Long) extends Step

  sealed trait Event
  final case class Slept(ms: Long) extends Event
  /** `failed` is None when the request threw. */
  final case class Call(stream: String, ids: Seq[Int],
      failed: Option[Seq[Boolean]]) extends Event

  /** `input` is `(stream, id)` per record; the id is the payload. */
  final case class Case(input: Vector[(String, Int)],
      config: KinesisWriterConfig, schedule: Vector[Step]) {
    def streams: Seq[String] = input.map(_._1).distinct
  }

  final case class Run(c: Case, stats: WriteStats,
      delivered: Map[String, Seq[Int]], dead: Seq[(String, Int, String)],
      log: Seq[Event])

  val genCase: Gen[Case] = for {
    n <- Gen.choose(0, 60)
    streams <- Gen.listOfN(n, Gen.frequency(5 -> "a", 3 -> "b", 1 -> "c"))
    batchSize <- Gen.choose(1, 8)
    maxAttempts <- Gen.choose(1, 4)
    base <- Gen.choose(1L, 50L)
    maxBackoff <- Gen.choose(base, base * 8)
    chunks <- Gen.listOf(Gen.frequency(
      2 -> Gen.choose(1, 6).map(k => Vector.fill[Step](k)(RequestError)),
      3 -> Gen.zip(Gen.long, Gen.long).map { case (a, b) => Vector(Partial(a & b)) },
      3 -> Gen.const(Vector(Partial(0L)))))
  } yield Case(streams.zipWithIndex.toVector,
    KinesisWriterConfig(batchSize = batchSize,
      maxAttemptsPerRecord = maxAttempts, baseBackoffMs = base,
      maxBackoffMs = maxBackoff, onPersistentErrorDrop = true),
    chunks.flatten.toVector)

  private def id(r: KinesisRecord): Int = new String(r.data, "UTF-8").toInt

  /** Follows `schedule` request by request, then succeeds. */
  private final class Scripted(schedule: Vector[Step], log: ArrayBuffer[Event])
      extends KinesisPutRecords {
    val fake = new FakeKinesis()
    private var next = 0

    override def putRecords(stream: String,
        records: Seq[KinesisRecord]): Seq[PutResultEntry] = {
      val step = if (next < schedule.size) schedule(next) else Partial(0L)
      next += 1
      step match {
        case RequestError =>
          log += Call(stream, records.map(id), None)
          throw new KinesisRequestException("scripted request error")
        case Partial(mask) =>
          val failed = records.indices.map(i => (mask >>> i & 1L) == 1L)
          val ok = records.zip(failed).collect { case (rec, false) => rec }
          if (ok.nonEmpty) fake.putRecords(stream, ok)
          log += Call(stream, records.map(id), Some(failed))
          failed.map(f =>
            if (f) PutResultEntry(Some("Scripted"), Some("scripted failure"))
            else PutResultEntry())
      }
    }
  }

  def deliver(c: Case): Run = {
    val log = ArrayBuffer.empty[Event]
    val dead = ArrayBuffer.empty[(String, Int, String)]
    val client = new Scripted(c.schedule, log)
    val router = new KinesisTaskRouter(client, c.config, None, 0L, 0,
      (s, rec, why) => dead += ((s, id(rec), why)), ms => log += Slept(ms))
    c.input.foreach { case (s, i) =>
      router.add(s, s"k$i", i.toString.getBytes("UTF-8"))
    }
    val stats = router.flush()
    Run(c, stats,
      c.streams.map(s => s -> client.fake.stored(s).map(id)).toMap,
      dead.toSeq, log.toSeq)
  }
}
