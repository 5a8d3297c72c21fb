package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkStatusTracker
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}

/** The one measurement main for registry queries. Each query's time splits
  * along Catalyst's pipeline: DataFrame construction (build), analysis and
  * optimization, physical planning, and execution. Execution runs the
  * already-planned QueryExecution itself, so no phase is planned twice.
  * After a query's last rep Trace prints its min and all wall times, the
  * logical plan's node and expression counts (total and per node class),
  * every job with its stage count and `graft.` call site, every completed
  * stage's tasks, wall, run, CPU, GC, shuffle and spill, the post-AQE
  * shuffle-read partition counts, and the static and final formatted plans.
  *
  * Set-up is [[Bench]]'s: `local[$SPARK_GRAFT_CPUS]`, the hot-table cache
  * and one warm run at sf0.001. A failed query ends the run non-zero.
  *
  * Usage: `runMain graft.Trace <query>[,<query>…] [sfDir] [reps]` */
object Trace {

  final case class Phases(buildMs: Double, optimizeMs: Double,
                          physicalMs: Double, execMs: Double) {
    def totalMs: Double = buildMs + optimizeMs + physicalMs + execMs
  }

  /** A job of the traced rep; `stages` counts every stage it submitted,
    * skipped ones included (the statusTracker's count, as in Bench).
    * `site` is empty when no `graft.` frame is on the job's stack, as for
    * the jobs AQE submits for its query stages. */
  final case class Job(id: Int, stages: Int, site: String)

  /** A completed stage attempt of the traced rep. Times in ms, sizes in
    * bytes. */
  final case class Stage(id: Int, attempt: Int, name: String, tasks: Int,
                         wallMs: Long, runMs: Long, cpuMs: Long, gcMs: Long,
                         shuffleRead: Long, shuffleWrite: Long,
                         memSpill: Long, diskSpill: Long)

  /** One traced query. Jobs, stages and plans describe the last rep, whose
    * job group is `group`. `byClass` is (node class, nodes, expressions),
    * heaviest first. */
  final case class Result(name: String, group: String, reps: Seq[Phases],
                          byClass: Seq[(String, Int, Int)],
                          jobs: Seq[Job], stages: Seq[Stage],
                          shuffleReads: Seq[Int],
                          staticPlan: String, finalPlan: String) {
    def logicalNodes: Int = byClass.map(_._2).sum
    def logicalExprs: Int = byClass.map(_._3).sum
    def stageCount: Int = jobs.map(_.stages).sum
  }

  private val groups = new AtomicInteger

  /** Run the planned QueryExecution to completion and drop its rows: full
    * materialization, like Bench's noop sink, without a write command. */
  private def execute(df: DataFrame): Unit = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe)(qe.executedPlan.execute().foreach(_ => ()))
  }

  /** Trace `reps` timed runs of one query; each rep runs in its own job
    * group. Exceptions propagate. Exposed separately from [[main]] so
    * TraceSpec can drive it with a synthetic registry entry. */
  def traceQuery(spark: SparkSession, name: String,
                 fn: (SparkSession, String) => DataFrame,
                 sfDir: String, reps: Int): Result = {
    require(reps >= 1, s"reps must be >= 1, got $reps")
    val sc = spark.sparkContext
    val group = s"trace_${groups.incrementAndGet()}"
    val rec = new Recorder(group)
    sc.addSparkListener(rec)
    try {
      var df: DataFrame = null
      var staticPlan = ""
      val phases = (1 to reps).map { r =>
        val last = r == reps
        System.gc() // Bench's reap between timed runs
        sc.setJobGroup(if (last) group else s"${group}_r$r", name)
        try {
          val t0 = System.nanoTime()
          df = fn(spark, sfDir)
          val t1 = System.nanoTime()
          df.queryExecution.optimizedPlan // analysis + optimizer
          val t2 = System.nanoTime()
          df.queryExecution.executedPlan // physical planning + preparations
          val t3 = System.nanoTime()
          if (last) staticPlan = df.queryExecution.explainString(FormattedMode)
          val t4 = System.nanoTime()
          execute(df)
          val t5 = System.nanoTime()
          Phases((t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6, (t5 - t4) / 1e6)
        } finally sc.clearJobGroup()
      }
      drain(sc.statusTracker, rec)
      val byClass = df.queryExecution.logical
        .collect { case p =>
          (p.getClass.getSimpleName, p.expressions.map(_.collect { case e => e }.size).sum) }
        .groupBy(_._1).map { case (k, v) => (k, v.size, v.map(_._2).sum) }
        .toSeq.sortBy { case (k, _, e) => (-e, k) }
      Result(name, group, phases,
        byClass = byClass,
        jobs = rec.jobs.asScala.toSeq.sortBy(_.id),
        stages = rec.stages.asScala.toSeq.sortBy(s => (s.id, s.attempt)),
        shuffleReads = shuffleReads(df.queryExecution.executedPlan),
        staticPlan = staticPlan,
        finalPlan = df.queryExecution.explainString(FormattedMode))
    } finally sc.removeSparkListener(rec)
  }

  /** Jobs and completed stages of one job group, fed by the listener bus. */
  private final class Recorder(val group: String) extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[Job]()
    val stages = new ConcurrentLinkedQueue[Stage]()
    private val stageIds = ConcurrentHashMap.newKeySet[Int]()
    private val jobIds = ConcurrentHashMap.newKeySet[Int]()
    val ended = ConcurrentHashMap.newKeySet[Int]()

    override def onJobStart(js: SparkListenerJobStart): Unit =
      if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
        js.stageIds.foreach(stageIds.add)
        jobIds.add(js.jobId)
        val site = js.stageInfos.lastOption
          .map(_.details.linesIterator
            .filter(l => l.contains("graft.") && !l.contains("graft.Trace$"))
            .take(2).mkString(" <- ").take(160))
          .getOrElse("")
        jobs.add(Job(js.jobId, js.stageIds.size, site))
      }

    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      if (jobIds.contains(je.jobId)) ended.add(je.jobId)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      if (stageIds.contains(i.stageId)) {
        val wall = (for (a <- i.completionTime; b <- i.submissionTime) yield a - b).getOrElse(-1L)
        val m = i.taskMetrics
        stages.add(Stage(i.stageId, i.attemptNumber(), i.name.takeWhile(_ != '\n').take(40),
          i.numTasks, wall, m.executorRunTime, m.executorCpuTime / 1000000, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled, m.diskBytesSpilled))
      }
    }
  }

  /** Wait until the listener bus has delivered the group: every job the
    * recorder saw start has ended, and the recorder's and the
    * statusTracker's views are the same across two polls (Bench's method;
    * both are fed asynchronously). Bounded at 15 s, as in Bench. */
  private def drain(tracker: SparkStatusTracker, rec: Recorder): Unit = {
    def snapshot() = {
      val ids = tracker.getJobIdsForGroup(rec.group).toSeq.sorted
      (rec.jobs.size, rec.ended.size, rec.stages.size, ids,
        ids.flatMap(id => tracker.getJobInfo(id).map(_.stageIds.length)).sum)
    }
    var last = snapshot()
    var stable = false
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (!stable && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val again = snapshot()
      stable = again == last && again._1 == again._2
      last = again
    }
  }

  /** Post-AQE partition count of every shuffle read (the formatted plan
    * only prints "coalesced"). */
  private def shuffleReads(p: SparkPlan): Seq[Int] = {
    val here = p match {
      case r: AQEShuffleReadExec => Seq(r.partitionSpecs.length)
      case _ => Nil
    }
    val below = p match {
      case a: AdaptiveSparkPlanExec => shuffleReads(a.executedPlan)
      case q: QueryStageExec => shuffleReads(q.plan)
      case _ => Nil
    }
    here ++ below ++ p.children.flatMap(shuffleReads) ++ p.subqueries.flatMap(shuffleReads)
  }

  /** The printed report of one traced query. */
  def report(t: Result): Seq[String] = {
    val n = t.name
    t.reps.zipWithIndex.map { case (p, i) =>
      f"TRACE $n rep=${i + 1} build=${p.buildMs}%.0fms optimize=${p.optimizeMs}%.0fms " +
        f"physical=${p.physicalMs}%.0fms exec=${p.execMs}%.0fms total=${p.totalMs}%.0fms"
    } ++ Seq(
      f"TRACE $n min=${t.reps.map(_.totalMs).min / 1e3}%.3f " +
        s"all=${t.reps.map(p => f"${p.totalMs / 1e3}%.3f").mkString(",")}",
      s"TRACE $n logicalNodes=${t.logicalNodes} exprNodes=${t.logicalExprs}"
    ) ++ t.byClass.map { case (k, c, e) => f"  NODE $k%-30s nodes=$c%3d exprNodes=$e%7d" } ++ Seq(
      s"TRACE $n jobs=${t.jobs.size} stages=${t.stageCount} " +
        s"ranStages=${t.stages.size} tasks=${t.stages.map(_.tasks).sum}"
    ) ++ t.jobs.map(j => f"  JOB ${j.id}%4d stages=${j.stages}%2d at [${j.site}]") ++
      t.stages.map { s =>
        f"  STAGE ${s.id}%4d.${s.attempt} tasks=${s.tasks}%3d wall=${s.wallMs}%5dms " +
          f"run=${s.runMs}%5dms cpu=${s.cpuMs}%5dms gc=${s.gcMs}%4dms " +
          s"shuffleRead=${s.shuffleRead}B shuffleWrite=${s.shuffleWrite}B " +
          s"memSpill=${s.memSpill}B diskSpill=${s.diskSpill}B ${s.name}"
      } ++ Seq(
        s"TRACE $n shuffleReadPartitions=${t.shuffleReads.mkString(",")}",
        "==== static plan (explain formatted, before execution)",
        t.staticPlan,
        "==== final adaptive plan (after execution)",
        t.finalPlan)
  }

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.hotCache = true
    val ok = try {
      for (name <- names) {
        val fn = Queries.allQueries.getOrElse(name, sys.error(s"unknown query: $name"))
        execute(fn(spark, "/root/testdata/sf0.001")) // warm codegen/JIT, as Bench does
        report(traceQuery(spark, name, fn, sfDir, reps)).foreach(println)
      }
      true
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        false
    } finally spark.stop()
    if (!ok) sys.exit(1)
  }
}
