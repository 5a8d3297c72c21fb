package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession =
    GraftSession.builder("local[2]", 4).appName("graft-test").getOrCreate()

  /** The plan's file scans (descends through AQE wrappers — collect()
    * treats them as leaves). */
  def scansOf(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
    case q: QueryStageExec => scansOf(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scansOf)
  }

  /** The plan's first sort-merge join (descends through AQE's leaf-like
    * QueryStageExec wrappers explicitly). */
  def findSmj(p: SparkPlan): Option[SortMergeJoinExec] = p match {
    case a: AdaptiveSparkPlanExec => findSmj(a.executedPlan)
    case j: SortMergeJoinExec => Some(j)
    case q: QueryStageExec => findSmj(q.plan)
    case other => other.children.iterator.flatMap(findSmj).nextOption()
  }

  override def afterAll(): Unit = {
    // shared across suites in one JVM; do not stop
    super.afterAll()
  }
}
