package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Spans around the benchmark's calls into the program, plus Spark's own
  * scheduler and planner counters attributed to those spans.
  *
  * A span sets a Spark job group named after itself; the `SparkListener`
  * reads the group back from job and stage events, so every job and task
  * lands in the innermost span that caused it. A `QueryExecutionListener`
  * call carries no job group, so each query execution goes to the
  * innermost span open when its physical planning started (spans run on
  * one thread, one at a time). Spans and counters stay in memory until
  * [[report]]. When tracing is off, [[span]] is a plain call.
  */
final class Trace(spark: SparkSession, registered: Boolean) {
  private val sc = spark.sparkContext

  private final class Span(val id: Int, val name: String, val parent: Int,
      val setup: Boolean, val start: Long) {
    val startMs: Long = System.currentTimeMillis()
    var end = 0L
    var endMs = 0L
    def ms: Double = (end - start) / 1e6
  }
  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private var stack: List[Span] = Nil
  private var inSetup = true
  private var requests = 0
  private val counters = mutable.LinkedHashMap[String, Double]()

  private def group(id: Int) = s"perfbench-$id"

  /** Whether requests run traced right now; switchable mid-run. */
  var enabled: Boolean = registered

  private val spark_ = new SparkCounters
  if (registered) {
    sc.addSparkListener(spark_)
    spark.listenerManager.register(spark_)
  }

  /** Marks the end of set-up: later spans count per request. */
  def setupDone(): Unit = inSetup = false

  /** Forgets the request-phase spans and counters recorded so far (a
    * traced warm-up); set-up spans stay.
    */
  def reset(): Unit = {
    spans.filterInPlace(_.setup)
    counters.clear()
    requests = 0
  }

  /** Marks one traced request as complete. */
  def requestDone(): Unit = if (enabled) requests += 1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(nextId, name, stack.headOption.fold(-1)(_.id), inSetup,
        System.nanoTime())
      nextId += 1
      spans += s
      stack = s :: stack
      sc.setJobGroup(group(s.id), name)
      try body
      finally {
        s.end = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(group(p.id), p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** A layer counter's mean per traced request. */
  def counter(name: String): Double = counters.getOrElse(name, 0.0) / math.max(requests, 1)

  /** Adds `v` to a layer counter (named `Layer.metric`). */
  def add(name: String, v: Double): Unit =
    if (enabled) counters(name) = counters.getOrElse(name, 0.0) + v

  /** Per-layer metrics. Span `X` reports `X.self_ms` (its time minus its
    * children's); span `X.y` reports `X.y_ms`. Request-phase figures are
    * means per traced request; set-up spans report their total once.
    * Counters are means per traced request. `spark.*` sums the scheduler
    * and planner counters of every request-phase span, per request.
    */
  def report(): Map[String, Double] = {
    spark_.quiesce()
    val planner = plannerStats()
    def stat(s: Span): GroupStat = {
      val g = spark_.stat(group(s.id))
      planner.get(s.id).foreach(g += _)
      g
    }
    val perReq = math.max(requests, 1).toDouble
    val childMs = mutable.Map[Int, Double]().withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) childMs(s.parent) += s.ms)
    val out = mutable.LinkedHashMap[String, Double]()
    spans.groupBy(_.name).foreach { case (name, ss) =>
      val (key, ms) =
        if (name.contains('.')) (name + "_ms", ss.map(_.ms).sum)
        else (name + ".self_ms", ss.map(s => s.ms - childMs(s.id)).sum)
      out(key) = if (ss.head.setup) ms else ms / perReq
      val jobs = ss.map(s => stat(s).jobs).sum.toDouble
      out(name.takeWhile(_ != '.') + ".jobs") =
        out.getOrElse(name.takeWhile(_ != '.') + ".jobs", 0.0) +
          (if (ss.head.setup) jobs else jobs / perReq)
    }
    counters.foreach { case (k, v) => out(k) = v / perReq }
    val st = new GroupStat
    spans.filterNot(_.setup).foreach(s => st += stat(s))
    out ++= Seq(
      "spark.analysis_ms" -> st.analysisMs / perReq,
      "spark.optimizer_ms" -> st.optimizerMs / perReq,
      "spark.planning_ms" -> st.planningMs / perReq,
      "spark.jobs" -> st.jobs / perReq,
      "spark.stages" -> st.stages / perReq,
      "spark.tasks" -> st.tasks / perReq,
      "spark.executor_run_ms" -> st.runMs / perReq,
      "spark.executor_cpu_ms" -> st.cpuMs / perReq,
      "spark.task_max_ms" -> st.taskMaxMs,
      "spark.shuffle_bytes" -> st.shuffleBytes / perReq,
      "spark.spill_bytes" -> st.spillBytes / perReq,
      "spark.gc_ms" -> st.gcMs / perReq,
      "spark.collect_ms" -> st.collectMs / perReq)
    out.toMap
  }

  /** The innermost span open when `qe`'s planning started. */
  private def spanOf(qe: QueryExecution): Option[Span] = {
    val ph = qe.tracker.phases
    val at = Seq("planning", "optimization", "analysis").flatMap(ph.get).headOption.map(_.startTimeMs)
    at.flatMap(t => spans.filter(s => s.startMs <= t && t <= s.endMs).lastOption)
  }

  /** Planner phases and collect time per span id, each query execution
    * going to the innermost span open when its planning started.
    */
  private def plannerStats(): Map[Int, GroupStat] = {
    val out = mutable.Map[Int, GroupStat]()
    spark_.executions.foreach { case (fn, qe, ns) =>
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).fold(0.0)(_.durationMs.toDouble)
      spanOf(qe).foreach { s =>
        val g = out.getOrElseUpdate(s.id, new GroupStat)
        g.analysisMs += ms("analysis"); g.optimizerMs += ms("optimization")
        g.planningMs += ms("planning")
        if (fn == "collect") g.collectMs += ns / 1e6
      }
    }
    out.toMap
  }

  /** SQL metric `metric` of the executed plan nodes that `node` picks,
    * summed over the request-phase query executions planned inside
    * spans named `name`, per request.
    */
  def planMetric(name: String, metric: String)(node: SparkPlan => Boolean): Double = {
    spark_.quiesce()
    val total = spark_.executions.filter { case (_, qe, _) =>
      spanOf(qe).exists(s => s.name == name && !s.setup)
    }.map { case (_, qe, _) =>
      PlanWalk.collect(qe.executedPlan) { case p if node(p) => p }
        .flatMap(_.metrics.get(metric)).map(_.value.toDouble).sum
    }.sum
    total / math.max(requests, 1).toDouble
  }

  /** Rows read from storage by the spans named `name`, per request. */
  def recordsRead(name: String): Double = {
    spark_.quiesce()
    spans.filter(_.name == name).map(s => spark_.stat(group(s.id)).recordsRead).sum /
      math.max(requests, 1).toDouble
  }
}

/** Walks executed plans through adaptive query stages. */
private object PlanWalk extends AdaptiveSparkPlanHelper

/** Accumulated scheduler/planner counters of one job group. */
final class GroupStat {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0.0; var cpuMs = 0.0; var taskMaxMs = 0.0
  var shuffleBytes = 0.0; var spillBytes = 0.0; var gcMs = 0.0
  var recordsRead = 0.0
  var analysisMs = 0.0; var optimizerMs = 0.0; var planningMs = 0.0; var collectMs = 0.0

  def +=(o: GroupStat): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuMs += o.cpuMs; taskMaxMs = math.max(taskMaxMs, o.taskMaxMs)
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes; gcMs += o.gcMs
    recordsRead += o.recordsRead; analysisMs += o.analysisMs
    optimizerMs += o.optimizerMs; planningMs += o.planningMs; collectMs += o.collectMs
  }
}

/** Spark's `SparkListener` (counters keyed by job group) and
  * `QueryExecutionListener` (every query execution, for [[Trace]] to
  * attribute). Events arrive on Spark's listener thread; every access is
  * synchronized.
  */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  private val byGroup = mutable.Map[String, GroupStat]()
  private val stageGroup = mutable.Map[Int, String]()
  private val executions_ = mutable.ArrayBuffer[(String, QueryExecution, Long)]()
  private var events = 0L

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  private def statOf(g: String): GroupStat = byGroup.getOrElseUpdate(g, new GroupStat)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    val g = groupOf(e.properties)
    statOf(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    events += 1
    val g = groupOf(e.properties)
    stageGroup(e.stageInfo.stageId) = g
    statOf(g).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val s = statOf(stageGroup.getOrElse(e.stageId, ""))
    s.tasks += 1
    s.taskMaxMs = math.max(s.taskMaxMs, e.taskInfo.duration.toDouble)
    Option(e.taskMetrics).foreach { m =>
      s.runMs += m.executorRunTime
      s.cpuMs += m.executorCpuTime / 1e6
      s.gcMs += m.jvmGCTime
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.recordsRead += m.inputMetrics.recordsRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { events += 1; executions_ += ((funcName, qe, durationNs)) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { events += 1; executions_ += ((funcName, qe, 0L)) }

  /** Waits until no listener event has arrived for 300 ms (at most 10 s),
    * so counters of the last span are in before they are read.
    */
  def quiesce(): Unit = {
    var last = -1L; var stable = 0; var waited = 0
    while (stable < 3 && waited < 100) {
      Thread.sleep(100); waited += 1
      val now = synchronized(events)
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
  }

  /** Scheduler counters of one job group. */
  def stat(g: String): GroupStat = synchronized {
    val s = new GroupStat
    byGroup.get(g).foreach(s += _)
    s
  }

  /** Every query execution reported so far: (action, execution, ns). */
  def executions: Seq[(String, QueryExecution, Long)] = synchronized(executions_.toSeq)
}
