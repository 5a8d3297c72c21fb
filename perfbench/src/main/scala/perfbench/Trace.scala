package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed layer call. Times are `System.nanoTime`; `parent` is -1 for a
  * request's root span; spans of one request share `req`. */
final case class Span(id: Int, parent: Int, req: Long, name: String,
                      start: Long, end: Long) {
  def dur: Long = end - start
}

/** JVM-wide GC and JIT time spent during one request. */
final case class JvmDelta(gcMs: Long, gcCount: Long, jitMs: Long)

/** Span recorder for the traced run. Spans stay in memory and are written
  * out once, after the run. When off, `request` and `span` only evaluate
  * their body. */
final class Tracer(val on: Boolean) {
  private val done = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private var nextId = 0
  private var req = 0L
  /** JVM deltas per request id. */
  val jvm = mutable.Map[Long, JvmDelta]()
  /** Adds to an epoch-ms stamp (Spark's listener times) to put it on this
    * tracer's `System.nanoTime` scale. */
  val epochToNanoNs: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L

  /** Id of the latest request. */
  def current: Long = req

  /** A new request: its root span, and every span inside shares its id. */
  def request[T](name: String)(body: => T): T =
    if (!on) body
    else {
      req += 1
      val id = req
      val (g, c, j) = (Jvm.gcMs, Jvm.gcCount, Jvm.jitMs)
      try span(name)(body)
      finally jvm(id) = JvmDelta(Jvm.gcMs - g, Jvm.gcCount - c, Jvm.jitMs - j)
    }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, req, name, t0, System.nanoTime())
        open = open.tail
      }
    }

  def spans: Seq[Span] = done.toSeq
}

object Trace {
  /** Self time per span id: its duration minus the part of its interval
    * that its child spans cover (overlapping children count once). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.dur - covered)
    }.toMap
  }

  def write(spans: Seq[Span], f: java.io.File): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}""")
    } finally w.close()
  }

  /** Spans for listener-reported intervals (epoch ms), each attached under
    * the innermost span of `spans` that covers its start and clipped to it.
    * Intervals that start inside no span are dropped. New ids count up from
    * `firstId`. */
  def attach(spans: Seq[Span], intervals: Seq[(String, Long, Long)],
             epochToNanoNs: Long, firstId: Int): Seq[Span] = {
    val byStart = spans.sortBy(_.start)
    var nextId = firstId
    intervals.flatMap { case (name, startMs, endMs) =>
      val (a, b) = (startMs * 1000000L + epochToNanoNs, endMs * 1000000L + epochToNanoNs)
      // stamps are whole ms, so a start may read up to one ms early
      byStart.filter(s => a >= s.start - 1000000L && a <= s.end).lastOption.map { p =>
        nextId += 1
        Span(nextId - 1, p.id, p.req, name, math.max(a, p.start), math.min(math.max(a, b), p.end))
      }
    }
  }

  /** (calls, total self ms) per span name. */
  def selfByName(spans: Seq[Span]): Map[String, (Int, Double)] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ((ss.size, ss.map(s => self(s.id)).sum / 1e6))
    }
  }
}

/** One finished task's metrics; `launch` is epoch ms. */
final case class TaskRec(launch: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                         schedMs: Long, shuffleRead: Long, shuffleWrite: Long,
                         spill: Long)

/** One successful query's Catalyst phases as (name, start, end) in epoch
  * ms, with the node counts of its optimized and final physical plans and
  * whether that plan holds the OSL interpreter's `MapGroups`. */
final case class QueryRec(phases: Seq[(String, Long, Long)], logical: Int,
                          physical: Int, mapGroups: Boolean)

/** What Spark's own hooks report while the traced run goes: jobs, stage
  * completions and tasks from the listener bus, and each executed query's
  * planning tracker from a `QueryExecutionListener`. Times are epoch ms;
  * the benchmark attributes each record to the request it fell in. */
final class ExecListener extends SparkListener with QueryExecutionListener {
  private object Aqe extends AdaptiveSparkPlanHelper
  private val jobStart = new ConcurrentHashMap[Int, Long]
  val jobs = new ConcurrentLinkedQueue[(Long, Long)]
  val stageEnds = new ConcurrentLinkedQueue[Long]
  val tasks = new ConcurrentLinkedQueue[TaskRec]
  val queries = new ConcurrentLinkedQueue[QueryRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStart.put(e.jobId, e.time): Unit

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(t0 => jobs.add((t0, e.time)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageEnds.add(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis)): Unit

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) {
      // the scheduler-delay formula of Spark's own stage page
      val delay = if (!info.finished) 0L else info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
      tasks.add(TaskRec(info.launchTime, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, math.max(0L, delay), m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    scala.util.Try {
      val phases = qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }
      val nodes = Aqe.collect(qe.executedPlan) { case p => p }
      QueryRec(phases, qe.optimizedPlan.collect { case p => p }.size, nodes.size,
        nodes.exists(_.nodeName.contains("MapGroups")))
    }.foreach(q => if (q.phases.nonEmpty) queries.add(q))

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** The traced run's spans joined with what Spark's hooks reported. A
  * listener record belongs to the route request (`route.*` root span) its
  * start falls in; records outside every route (set-up, untraced cycles,
  * probes) are dropped. */
final class Layers(tracer: Tracer, l: ExecListener, oslRequests: Set[Long]) {
  private val own = tracer.spans
  val routes: Seq[Span] = own.filter(s => s.parent < 0 && s.name.startsWith("route."))
  private val routeReqs = routes.map(_.req).toSet
  private def reqAt(epochMs: Long): Option[Long] = {
    val ns = epochMs * 1000000L + tracer.epochToNanoNs
    // stamps are whole ms: a record may read up to one ms early
    routes.find(r => ns >= r.start - 1000000L && ns <= r.end).map(_.req)
  }

  val queries: Seq[(Long, QueryRec)] =
    l.queries.asScala.toSeq.flatMap(q => reqAt(q.phases.map(_._2).min).map(_ -> q))
  val jobs: Seq[(Long, Long)] = l.jobs.asScala.toSeq.filter(j => reqAt(j._1).isDefined)
  val stages: Int = l.stageEnds.asScala.count(t => reqAt(t).isDefined)
  val tasks: Seq[TaskRec] = l.tasks.asScala.toSeq.filter(x => reqAt(x.launch).isDefined)
  val jvm: Seq[JvmDelta] = routes.flatMap(r => tracer.jvm.get(r.req))
  val oslQueries: Seq[QueryRec] = queries.collect { case (r, q) if oslRequests(r) => q }

  /** Share of OSL requests that ran a plan holding `MapGroups`. */
  def tierBFrac: Double =
    if (oslRequests.isEmpty) 0.0
    else oslRequests.count(r => queries.exists { case (q, x) => q == r && x.mapGroups }).toDouble /
      oslRequests.size

  private val phaseSpan = Map(QueryPlanningTracker.ANALYSIS -> "catalyst.analyze",
    QueryPlanningTracker.OPTIMIZATION -> "catalyst.optimize",
    QueryPlanningTracker.PLANNING -> "catalyst.physical")

  /** The tracer's spans, plus a span per Catalyst phase and per Spark job
    * under the innermost route span that covers its start. */
  val spans: Seq[Span] = own ++ Trace.attach(own.filter(s => routeReqs(s.req)),
    queries.flatMap(_._2.phases.collect {
      case (n, a, b) if phaseSpan.contains(n) => (phaseSpan(n), a, b)
    }) ++ jobs.map { case (a, b) => ("exec", a, b) }, tracer.epochToNanoNs,
    firstId = own.size)

  private val self = Trace.selfByName(spans)
  /** (calls, self ms) per span name over the route requests only. */
  val routeSelf: Map[String, (Int, Double)] = Trace.selfByName(spans.filter(s => routeReqs(s.req)))
  /** Mean self time per call of the spans named `n`, probes included. */
  def perCall(n: String): Double = self.get(n).map { case (c, ms) => ms / c }.getOrElse(0.0)
}

/** JVM-wide GC and JIT totals. */
object Jvm {
  import java.lang.management.ManagementFactory

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  def gcCount: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionCount).filter(_ >= 0).sum
  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime).getOrElse(0L)

  /** Used heap after two full collections, in MiB. run.py starts the JVM
    * without `-XX:+ExplicitGCInvokesConcurrent`, so each `System.gc()`
    * is a stop-the-world full GC; the pause between them lets Spark's
    * cleaner drop what the first one freed. */
  def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc()
    Thread.sleep(200)
    System.gc()
    Thread.sleep(200)
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }
}
