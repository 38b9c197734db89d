package graft.streaming

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Tables}

/** Per-run set-up cost of a gate: a warm gate reuses the generated
  * classes of an earlier run of the same query shape instead of
  * recompiling them on the new session clone every streaming run gets.
  */
class MemoryGateSpec extends SparkTestBase {

  test("a second gate run of the same aggregation compiles zero " +
      "generated classes") {
    def hourly(name: String) = MemoryGate.complete(spark,
      Tables.loadStream(spark, sfSmoke, "events")
        .groupBy(window(col("ts"), "1 hour").getField("start")
          .as("hour_start"), col("event_type"))
        .agg(count(lit(1)).as("n")),
      name)
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val cold = hourly("gate_compile_cold").count()
    val before = compiles
    val warm = hourly("gate_compile_warm").count()
    val compiled = compiles - before
    assert(warm == cold && warm > 0)
    assert(compiled == 0,
      s"the warm gate run recompiled $compiled generated classes")
  }
}
