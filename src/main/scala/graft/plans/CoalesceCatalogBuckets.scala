package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.internal.SQLConf

import graft.sources.ManifestFileIndex

/** Sizes the catalog's bucketed scans to the cluster: one task per core,
  * not one per id-hash bucket. OpenSet hashes customers into many
  * partitions but runs them on a fixed pool of worker threads
  * (`src/asyncpool.h:82-165`); a bucketed [[FileSourceScanExec]] otherwise
  * launches `storage_buckets` tasks however small the snapshot is.
  *
  * For every scan over a [[ManifestFileIndex]] the rule sets
  * `optionalNumCoalescedBuckets = k`, the largest divisor of the bucket
  * count n that is no greater than the task count Spark's own sizing
  * would give the snapshot's files unbucketed ([[splitCount]]). Small
  * snapshots run one task per core; once the cluster has n cores, or a
  * bucket's average bytes reach `filesOpenCostInBytes` (Spark's own price
  * of opening a file, 4 MiB by default), k = n and the plan is left
  * untouched ([[numTasks]]).
  *
  * The claimed `HashPartitioning(id, k)` stays truthful: bucket b is
  * `pmod(h, n)`, and for k dividing n, `pmod(h, n) mod k = pmod(h, k)` —
  * so person windows, `groupBy(id)` and co-partitioned joins stay
  * exchange-free. A coalesced scan gives up the (id, stamp) order claim
  * (a coalesced task reads several sorted files) and Spark sorts each
  * partition instead. The bytes guard keeps that sort to snapshots whose
  * buckets cost less to read than to open, the regime where a task per
  * bucket is mostly fixed overhead.
  *
  * k is sized on the WHOLE relation, not the pruned selection, so every
  * scan of one snapshot claims the same partitioning: a self-join stays
  * exchange-free, and the WAL-overlay union's two branches coalesce alike
  * (the union's consumer re-shuffles it on id with or without the rule,
  * because its merged branch is partitioned by a shuffle, not by buckets).
  * A join against a scan of ANOTHER relation may adopt this scan's
  * `HashPartitioning(id, k)` and shuffle the other side into k partitions.
  *
  * Injected as a post-planner-strategy rule: it runs on each (re)planned
  * physical plan under adaptive execution, before `EnsureRequirements`
  * places exchanges against the partitioning it sets.
  */
case class CoalesceCatalogBuckets(spark: SparkSession) extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case s: FileSourceScanExec if s.optionalNumCoalescedBuckets.isEmpty &&
        s.relation.location.isInstanceOf[ManifestFileIndex] &&
        s.relation.bucketSpec.isDefined =>
      val n = s.relation.bucketSpec.get.numBuckets
      val fileBytes = s.relation.location.listFiles(Nil, Nil)
        .flatMap(_.files.map(_.getLen))
      val minPartitionNum = conf.filesMinPartitionNum.getOrElse(
        conf.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM)
          .getOrElse(spark.sparkContext.defaultParallelism))
      val k = CoalesceCatalogBuckets.numTasks(n, fileBytes, conf.filesOpenCostInBytes,
        conf.filesMaxPartitionBytes, minPartitionNum)
      if (k < n) s.copy(optionalNumCoalescedBuckets = Some(k)) else s
  }
}

object CoalesceCatalogBuckets {

  /** The task count for a scan of `numBuckets` buckets over files of
    * these sizes: n while a bucket's average bytes reach the open cost
    * (each bucket is worth its own, sort-free task), otherwise the
    * largest divisor of n within [[splitCount]]. */
  def numTasks(numBuckets: Int, fileBytes: Seq[Long], openCost: Long,
               maxPartitionBytes: Long, minPartitionNum: Int): Int =
    if (fileBytes.sum / numBuckets >= openCost) numBuckets
    else numCoalesced(numBuckets,
      splitCount(fileBytes, openCost, maxPartitionBytes, minPartitionNum))

  /** The task count Spark's unbucketed file scan gives files of these
    * sizes: total bytes, each file charged the open cost, over the split
    * size of `FilePartition.maxSplitBytes` (the same formula, so it folds
    * in the core count, the open cost and `maxPartitionBytes`). */
  def splitCount(fileBytes: Seq[Long], openCost: Long, maxPartitionBytes: Long,
                 minPartitionNum: Int): Long = {
    val total = fileBytes.map(_ + openCost).sum
    val maxSplit =
      math.min(maxPartitionBytes, math.max(openCost, total / minPartitionNum))
    total / maxSplit
  }

  /** The largest divisor of `numBuckets` no greater than `splits` (at
    * least 1): coalescing by a divisor keeps `HashPartitioning(id, k)`
    * truthful. */
  def numCoalesced(numBuckets: Int, splits: Long): Int =
    (math.min(numBuckets.toLong, splits).toInt to 2 by -1)
      .find(numBuckets % _ == 0).getOrElse(1)
}
