package graft

import org.apache.spark.sql.functions._

import graft.ops.Events

/** The e40 card promoted to engine behavior (Events.saltedAggAuto):
  * pins (1) direct / forced-salt / auto path identity on the real
  * fixture, (2) the switch decision itself WITHOUT plan forensics —
  * saltDecision is the separated, directly-callable arithmetic — and
  * (3) the stats-first budget rung: a sub-budget auto call plans the
  * direct aggregation without running a single sizing job.
  */
class SaltedAggSpec extends SparkTestBase {

  private def events = Tables.load(spark, sfSmoke, "events")

  private def rounded(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.select(col("event_type"), col("n"), round(col("sv"), 2),
        col("mn"), col("mx"))
      .orderBy("event_type").collect().map(_.toSeq.toSeq).toSeq

  test("direct, forced-salt and auto paths are result-identical over " +
      "count/sum/min/max (the decomposability contract)") {
    val aggs = Seq(
      Events.SaltCount("n"),
      Events.SaltSum(col("value"), "sv"),
      Events.SaltMin(col("value"), "mn"),
      Events.SaltMax(col("value"), "mx"))
    def run(mode: String, budget: Option[Long] = None) = rounded(
      Events.saltedAggAuto(spark, events, Seq("event_type"), aggs,
        spread = Some(col("event_id")), mode = Some(mode),
        budgetBytes = budget))
    val direct = run("direct")
    assert(direct.nonEmpty)
    assert(run("salt") === direct)
    // auto with budget 0: the sizing pass runs, the 5-key axis salts
    assert(run("auto", budget = Some(0L)) === direct)
    // auto with an unreachable budget: the zero-job direct rung
    assert(run("auto", budget = Some(Long.MaxValue)) === direct)
  }

  test("SaltAvg and SaltApproxDistinct are mode-identical: the " +
      "(sum, count) struct partial and the HLL register merge give " +
      "the direct answer at any salt fan-out (r15)") {
    val aggs = Seq(
      Events.SaltAvg(col("value"), "av"),
      Events.SaltApproxDistinct(col("user_id"), "du"))
    def run(mode: String) = Events.saltedAggAuto(spark, events,
        Seq("event_type"), aggs, spread = Some(col("event_id")),
        mode = Some(mode), budgetBytes = Some(0L))
      .select(col("event_type"), round(col("av"), 6), col("du"))
      .orderBy("event_type").collect().map(_.toSeq.toSeq).toSeq
    val direct = run("direct")
    assert(direct.nonEmpty && direct.forall(r =>
      r(2).asInstanceOf[Long] > 0L))
    assert(run("salt") === direct,
      "salted avg/approx-distinct must equal the direct plan " +
        "(HLL register merge is exact; avg divides merged partials)")
    assert(run("auto") === direct)
    // null semantics: avg of an all-null group is null, not 0/0
    import spark.implicits._
    val withNulls = Seq(("a", Some(2.0)), ("a", Some(4.0)),
        ("b", None: Option[Double]))
      .toDF("k", "v")
    Seq("direct", "salt").foreach { m =>
      val got = Events.saltedAggAuto(spark, withNulls, Seq("k"),
          Seq(Events.SaltAvg(col("v"), "av")), mode = Some(m))
        .orderBy("k").collect()
      assert(got(0).getDouble(1) == 3.0 && got(1).isNullAt(1),
        s"mode $m: avg null semantics broke: ${got.mkString(",")}")
    }
  }

  test("float SaltSum/SaltAvg logs the reassociation warning; " +
      "reserved working names and alias-key collisions fail fast " +
      "(r14 ADVICE / r15)") {
    import spark.implicits._
    val df = Seq(("a", 1.5)).toDF("k", "v")
    // the slf4j logger is log4j2-backed in this JVM: capture via an
    // appender on the named logger (the WindowWarningSpec pattern)
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    val cfg = ctx.getConfiguration
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "graft-salt-warn", null, null, true, Array.empty) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("re-associate")) { captured.add(m); () }
      }
    }
    appender.start()
    cfg.getRootLogger.addAppender(appender,
      org.apache.logging.log4j.Level.WARN, null)
    ctx.updateLoggers()
    try {
      Events.saltedAggAuto(spark, df, Seq("k"),
        Seq(Events.SaltSum(col("v"), "sv")),
        mode = Some("salt")).collect()
      assert(!captured.isEmpty,
        "float SaltSum must log the reassociation warning")
    } finally {
      cfg.getRootLogger.removeAppender("graft-salt-warn")
      appender.stop()
      ctx.updateLoggers()
    }
    // reserved working columns: fail fast, never silent corruption
    val clash = Seq(("a", 1L, 0L)).toDF("k", "v", "__salt")
    val e1 = intercept[IllegalArgumentException] {
      Events.saltedAggAuto(spark, clash, Seq("k"),
        Seq(Events.SaltCount("n")), mode = Some("salt"))
    }
    assert(e1.getMessage.contains("__salt"), s"wrong error: $e1")
    // agg alias colliding with a grouping key: same discipline
    val e2 = intercept[IllegalArgumentException] {
      Events.saltedAggAuto(spark, df, Seq("k"),
        Seq(Events.SaltCount("k")), mode = Some("direct"))
    }
    assert(e2.getMessage.contains("grouping keys"), s"wrong error: $e2")
  }

  test("cardDir (r15): the decision read back from a persisted skew " +
      "card equals the live sizing decision; results are identical " +
      "through the card path; a missing axis fails loudly") {
    import spark.implicits._
    val d = tmpDir("salt-card-spec")
    val p = 8L
    Events.skewCardFor(events, Seq(
        "event_type" -> coalesce(col("event_type"), lit("<null>"))), p)
      .write.mode("overwrite").parquet(d)
    // decision parity: card salt_n == the live saltDecision at the
    // same reducer budget (the card IS the decision, precomputed)
    val live = Events.saltDecision(spark, events, Seq("event_type"), p)
    assert(Events.saltFromCard(spark, d, Seq("event_type")) === live,
      "the persisted card must carry the live decision")
    // result parity through the full card path
    val aggs = Seq(Events.SaltCount("n"),
      Events.SaltSum(col("value"), "sv"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_type"), col("n"), round(col("sv"), 2))
        .orderBy("event_type").collect().map(_.toSeq.toSeq).toSeq
    val viaCard = rows(Events.saltedAggAuto(spark, events,
      Seq("event_type"), aggs, cardDir = Some(d)))
    val viaLive = rows(Events.saltedAggAuto(spark, events,
      Seq("event_type"), aggs, budgetBytes = Some(0L)))
    assert(viaCard === viaLive && viaCard.nonEmpty)
    // a forced mode still wins over the card (the zero-cost override)
    assert(rows(Events.saltedAggAuto(spark, events, Seq("event_type"),
      aggs, mode = Some("direct"), cardDir = Some(d))) === viaLive)
    // missing axis: loud failure naming the axis, never a silent
    // fallback to live sizing
    val e = intercept[IllegalArgumentException] {
      Events.saltedAggAuto(spark, events, Seq("user_id"), aggs,
        cardDir = Some(d))
    }
    assert(e.getMessage.contains("user_id") &&
      e.getMessage.contains("no card row"), s"wrong error: $e")
  }

  test("saltDecision: the e40 ceil-division arithmetic, pinned on " +
      "constructed skew without plan forensics") {
    import spark.implicits._
    // 90 rows on one hot key + 10 singletons, budget P=10:
    // target = ceil(100/10) = 10, salt_n = ceil(90/10) = 9
    val hot = (Seq.fill(90)("hot") ++ (1 to 10).map(i => s"k$i"))
      .toDF("k")
    assert(Events.saltDecision(spark, hot, Seq("k"), 10L) === 9L)
    // balanced: 10 keys x 10 rows, target 10 -> salt_n 1 (direct)
    val flat = (1 to 100).map(i => s"k${i % 10}").toDF("k")
    assert(Events.saltDecision(spark, flat, Seq("k"), 10L) === 1L)
    // empty frame: nothing to salt
    assert(Events.saltDecision(spark,
      hot.filter(lit(false)), Seq("k"), 10L) === 1L)
    // degenerate budget P=1: one reducer holds everything anyway
    assert(Events.saltDecision(spark, hot, Seq("k"), 1L) === 1L)
  }

  test("auto under budget: direct plan, ZERO sizing jobs (the " +
      "stats-first rung — the containment/ANN switch discipline)") {
    val ev = events // the parquet footer read happens HERE, not below
    // constructing the auto plan under budget must not size by job:
    // the scan estimate answers for free
    val (out, jobs) = countingJobs(Events.saltedAggAuto(spark, ev,
      Seq("event_type"), Seq(Events.SaltCount("n"))))
    assert(jobs === 0, s"sub-budget auto construction ran $jobs sizing jobs")
    assert(out.columns.toSeq === Seq("event_type", "n"))
  }

  test("null semantics survive the two-phase rewrite: sum/min/max " +
      "ignore nulls identically in partial and combine, count counts " +
      "rows, an all-null group stays null") {
    import spark.implicits._
    val rows = Seq(
      ("a", Some(3L)), ("a", None), ("a", Some(7L)),
      ("b", None), ("b", None), // all-null group
      ("c", Some(-2L)))
    val df = rows.toDF("k", "v")
    val aggs = Seq(Events.SaltCount("n"), Events.SaltSum($"v", "sv"),
      Events.SaltMin($"v", "mn"), Events.SaltMax($"v", "mx"))
    def run(mode: String) =
      Events.saltedAggWith(spark, df, Seq("k"), aggs,
        saltN = if (mode == "salt") 5L else 1L)
        .orderBy("k").collect().map(_.toSeq.toSeq).toSeq
    val direct = run("direct")
    assert(run("salt") === direct)
    // the contract itself, not just path identity: count counts ROWS
    // (3 for group a incl. the null), null-ignoring sum/min/max, and
    // the all-null group b is null across sv/mn/mx but n = 2
    val a = direct.find(_.head == "a").get
    assert(a === Seq("a", 3L, 10L, 3L, 7L))
    val b = direct.find(_.head == "b").get
    assert(b === Seq("b", 2L, null, null, null))
  }

  test("d09's star hubs ride the auto path and stay window-free " +
      "(the flooded-band task-skew guard)") {
    import spark.implicits._
    val bands = spark.range(200)
      .select(col("id").as("doc_id"),
        (col("id") % 7).cast("string").as("band"))
    val cand = ops.Dedup.starCandidates(spark, bands)
    // hub = min per band: members 0..6 are their bands' hubs
    assert(cand.filter($"b_id" < 7).count() === 0)
    assert(cand.count() === 200L - 7L)
    // the hub computation must not plan a per-band window (one task
    // per flooded band): no WindowExec anywhere in the physical plan
    assert(!cand.queryExecution.executedPlan.toString.contains("Window"),
      "star hubs regressed to a per-band window sort")
  }
}
