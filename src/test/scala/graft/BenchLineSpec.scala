package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench artifact channel's invariants, pinned at the CURRENT
  * board (they are board-size-dependent, so every added query
  * re-checks them for free):
  *
  *  - every registered query name maps to a UNIQUE 2-char line key
  *    (a collision silently falls back to 3-char full codes, which
  *    re-risks the driver's 2000-char tail-window overflow that ate
  *    BENCH_r01/r02);
  *  - the line's worst case fits the bench's line budget: the kept
  *    set at the widest values the formatter prints, with every
  *    optional extra present, so no run falls back to the
  *    value-ordered drop that churns the key set.
  */
class BenchLineSpec extends AnyFunSuite {

  test("short line keys are collision-free across the whole board") {
    val names = SparkEntry.queries.keySet.toSeq
    val keyed = names.groupBy(Bench.shortKey)
    val collided = keyed.filter(_._2.size > 1)
    assert(collided.isEmpty,
      s"short-key collisions would push the line back to full codes: " +
        s"$collided")
    // non-all-digit codes (e11b) keep their full code by design —
    // unique but uncompressed; keep them rare so they don't erode the
    // tail budget the 2-char scheme exists for
    val long = keyed.keys.filter(_.length > 2)
    assert(long.size <= 2 && long.forall(_.length <= 4),
      s"uncompressed keys must stay rare and short: $long")
  }

  test("the line-exempt set names real queries and leaves the kept " +
      "set inside the tail window at worst-case value widths") {
    val names = SparkEntry.queries.keySet
    val stale = Bench.LineExempt.filterNot(names)
    assert(stale.isEmpty,
      s"LineExempt names queries that no longer exist (a rename would " +
        s"silently re-churn the emitted key set): $stale")
    // sizing: the widest line the kept set can print must fit the
    // bench's 1900-char LineBudget (not the raw 2000-char tail window:
    // the value-ordered churn this set exists to prevent comes back as
    // soon as the line exceeds the BUDGET). Built with Bench's own
    // formatter, every part at its widest:
    //  - each kept row at the widest value fmt prints below 100 s
    //    (3 chars, "2.9"; from 3 s up it prints whole seconds);
    //  - the total and wx at 4 chars (a >= 1000 s board), rep at the
    //    board size, the qdrop extra that is always present, the
    //    longer sf;
    //  - two exempt rows riding the line through the safety valve
    //    (say one failure and one slow row) without starting churn.
    // A board that grows past this needs more exempt designations
    // BEFORE the value-ordered fallback starts churning the key set.
    val riding = Bench.LineExempt.toSeq.sorted.take(2)
    val onLine = names.toSeq.sorted
      .filter(n => !Bench.LineExempt(n) || riding.contains(n))
    val worst = Bench.jsonLine("9999", contended = false,
      s""","wx":9999,"rep":${names.size}""",
      onLine.map(n => Bench.shortKey(n) -> 2.9),
      dropped = names.size - onLine.size, sf = "0.01")
    assert(worst.length <= 1900,
      s"kept set too large for the line budget at worst-case widths: " +
        s"${onLine.size} entries -> ${worst.length} chars; designate " +
        "more exempt rows")
    // healthy-and-trivial gate: a failed or expensive exempt row must
    // ride the line (regressions are never hidden by the exemption)
    assert(!Bench.lineExemptNow("t01_token_stats", -1.0))
    assert(!Bench.lineExemptNow("t01_token_stats", 1.6))
    assert(Bench.lineExemptNow("t01_token_stats", 0.2))
    assert(!Bench.lineExemptNow("e16_stream_sessions", 0.2))
  }
}
