package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds (fractional), so
  * spans taken by the harness and spans reported by Spark's listeners
  * (job start/end, planning phases, trigger progress) share one clock.
  * `group` is the run, batch or query id the span belongs to.
  */
final case class Span(id: Long, parent: Long, name: String, group: String,
    start: Double, end: Double) {
  def ms: Double = end - start
}

/** In-memory span recorder. Disabled, `span` only runs its body, so an
  * untraced run pays one branch per layer call. Spans are written out
  * once, when the run ends.
  */
final class Tracer(@volatile var on: Boolean) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def now: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def span[T](name: String, group: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val parent = stack.headOption.getOrElse(0L)
      open.set(id :: stack)
      val t0 = now
      try body
      finally {
        open.set(stack)
        add(Span(id, parent, name, group, t0, now))
      }
    }

  /** Record a span timed elsewhere, whether or not tracing is on (the
    * caller decides). Parent -1 means "find it later by containment"
    * ([[assignParents]]). Returns the span's id. */
  def record(name: String, group: String, parent: Long, start: Double,
      end: Double): Long = {
    val id = ids.incrementAndGet()
    add(Span(id, parent, name, group, start, end))
    id
  }

  private def add(s: Span): Unit = spans.synchronized { spans += s }

  def all: Seq[Span] = spans.synchronized { spans.toList }

  /** Give every span recorded without a parent the innermost span that
    * contains it, within the 1 ms resolution of listener timestamps.
    * Sound because each workload issues its layer calls from one thread,
    * one at a time. */
  def assignParents(): Seq[Span] = {
    val ss = all
    ss.map { s =>
      if (s.parent >= 0) s
      else {
        val p = ss.filter(c => c.id != s.id && c.start <= s.start + 1 &&
          c.end >= s.end - 1 && c.ms >= s.ms && c.parent >= 0)
        s.copy(parent = if (p.isEmpty) 0L else p.minBy(_.ms).id)
      }
    }
  }

  /** Self time per span name: each span's duration minus the part of it
    * its children cover, summed per name, with the span count. */
  def selfTimes(ss: Seq[Span]): Map[String, (Double, Int)] = {
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      val self = group.map { s =>
        val cs = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0.0
        var reach = s.start
        cs.foreach { case (a, b) =>
          if (b > reach) { covered += b - math.max(a, reach); reach = b }
        }
        math.max(0.0, s.ms - covered)
      }.sum
      name -> (self, group.size)
    }
  }

  def write(path: java.nio.file.Path, ss: Seq[Span]): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try ss.sortBy(_.start).foreach { s =>
      w.write(f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""group":"${s.group}","start":${s.start}%.3f,"end":${s.end}%.3f}""")
      w.newLine()
    } finally w.close()
  }
}

/** Executor work per bucket, from task and stage events. The harness
  * names the bucket through a job-local property, so work launched from
  * a query's own threads (which inherit the property) lands in the
  * bucket of the layer call that started it. Jobs become spans.
  */
final class ExecCounters(tracer: Tracer) extends SparkListener {
  val Key = "perfbench.bucket"
  final class Bucket {
    val taskMs, gcMs, shuffleBytes, spillBytes, stages, tasks = new LongAdder
  }
  private val buckets = new ConcurrentHashMap[String, Bucket]()
  private val stageBucket = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, String, Boolean)]()

  def bucket(k: String): Bucket = buckets.computeIfAbsent(k, _ => new Bucket)
  def keys: Set[String] = buckets.keySet().asScala.toSet

  private def keyOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Key))).getOrElse("other")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val k = keyOf(e.properties)
    e.stageIds.foreach(stageBucket.put(_, k))
    jobStart.put(e.jobId, (e.time, k, tracer.on))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t0, k, traced) =>
      if (traced) tracer.record("spark.job", k, -1L, t0.toDouble, e.time.toDouble)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    bucket(stageBucket.getOrDefault(e.stageInfo.stageId, "other"))
      .stages.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val b = bucket(stageBucket.getOrDefault(e.stageId, "other"))
    b.tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      b.taskMs.add(m.executorRunTime)
      b.gcMs.add(m.jvmGCTime)
      b.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      b.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

/** Planning and plan shape per successful action: analysis,
  * optimization and physical planning from each query's
  * `QueryPlanningTracker`, the time Catalyst spent in graft's own rules,
  * and the shuffle exchanges of the executed plan. Totals accumulate
  * until [[take]], which the harness calls at layer boundaries after
  * draining the listener bus. */
final class PlanCollector(tracer: Tracer, group: () => String)
    extends QueryExecutionListener {
  import PlanCollector.Totals
  private var acc = Totals()

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
    val phases = qe.tracker.phases
    val planning = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs.toDouble).sum
    if (tracer.on) phases.foreach { case (phase, p) =>
      tracer.record(s"plan.$phase", group(), -1L, p.startTimeMs.toDouble,
        p.endTimeMs.toDouble)
    }
    val rules = qe.tracker.rules.collect {
      case (name, r) if name.startsWith("graft.") => r.totalTimeNs / 1e6
    }.sum
    val ex = PlanCollector.exchanges(qe.executedPlan)
    synchronized { acc = acc + Totals(planning, rules, ex) }
  }

  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()

  def take(): Totals = synchronized { val t = acc; acc = Totals(); t }
}

object PlanCollector {
  final case class Totals(planningMs: Double = 0, graftRulesMs: Double = 0,
      exchanges: Int = 0) {
    def +(o: Totals): Totals = Totals(planningMs + o.planningMs,
      graftRulesMs + o.graftRulesMs, exchanges + o.exchanges)
  }

  /** Shuffle exchanges in a physical plan, looking through adaptive
    * query stages and subqueries; reused exchanges do not count. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case e: ShuffleExchangeLike =>
      1 + e.children.map(exchanges).sum
    case other =>
      other.children.map(exchanges).sum + other.subqueries.map(exchanges).sum
  }
}
