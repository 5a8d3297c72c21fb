package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Trace's per-query step on a synthetic registry entry with one shuffle:
  * the phase split, the job-group attribution of jobs and stages, the
  * logical-plan counts and the final adaptive plan. */
class TraceSpec extends SparkSpec {

  private def oneShuffle(s: SparkSession, dir: String): DataFrame =
    s.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count()

  private def boom(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Seq(1).toDF("d").selectExpr("assert_true(d > 1) AS v")
  }

  test("one traced query: phases, its group's stages and jobs, plan counts and the final plan") {
    val t = Trace.traceQuery(spark, "q_one_shuffle", oneShuffle, "/unused", 2)
    assert(t.reps.size == 2)
    t.reps.foreach { p =>
      assert(Seq(p.buildMs, p.optimizeMs, p.physicalMs, p.execMs).forall(_ >= 0), p)
    }
    val tracker = spark.sparkContext.statusTracker
    val jobIds = tracker.getJobIdsForGroup(t.group)
    assert(t.jobs.map(_.id).toSet == jobIds.toSet)
    assert(t.stageCount ==
      jobIds.flatMap(id => tracker.getJobInfo(id).map(_.stageIds.length)).sum)
    assert(t.jobs.nonEmpty)
    assert(t.stages.map(_.tasks).sum > 0)
    assert(t.stages.exists(_.shuffleWrite > 0), "the groupBy's map stage writes a shuffle")
    assert(t.logicalNodes ==
      oneShuffle(spark, "/unused").queryExecution.logical.collect { case p => p }.size)
    assert(t.byClass.exists(_._1 == "Aggregate"))
    assert(t.finalPlan.contains("isFinalPlan=true"))
    assert(t.staticPlan.contains("isFinalPlan=false"))
    assert(Trace.report(t).exists(_.startsWith("TRACE q_one_shuffle min=")))
  }

  test("a failed query propagates instead of being reported") {
    intercept[Exception](Trace.traceQuery(spark, "q_boom", boom, "/unused", 1))
  }
}
