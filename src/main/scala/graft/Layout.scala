package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical layout for the events table at scale.
  *
  * The reference co-locates each customer's events in one compressed blob
  * inside a hash partition (`src/rpc_insert.cpp:154`: partition =
  * `(|hash(id)| % 13337) % partitionCount`). The Spark-native equivalent is
  * a BUCKETED table: `bucketBy(id)` + `sortBy(id, stamp)` means
  *
  *   - every per-person operation grouped on the `id` column itself
  *     (`groupBy(id)`, the interpreter's sorted groups, window over
  *     `partitionBy(id)`, person-level joins) reads pre-clustered data with
  *     NO shuffle — at 100 TB the shuffle this avoids is the dominant cost
  *     of the whole engine;
  *   - rows inside each bucket are already (id, stamp)-sorted, so the
  *     per-customer interpreter receives its rows in event order without a
  *     per-group sort.
  *
  * Bucketed tables require the session catalog (`saveAsTable`) — parquet
  * directories alone don't carry bucket metadata.
  */
object Layout {

  /** Write the normalized events as a bucketed, per-person-sorted table. */
  def writeBucketedEvents(events: DataFrame, table: String, buckets: Int = 32): Unit =
    events.write
      .mode("overwrite")
      .bucketBy(buckets, "id")
      .sortBy("id", "stamp")
      .format("parquet")
      .saveAsTable(table)

  def readTable(spark: SparkSession, table: String): DataFrame = spark.table(table)

  /** Date-partitioned AND id-bucketed events: `event_date` directory
    * partitions give time-framed queries partition PRUNING (a `.range(iso,
    * iso)` frame over one week of a 100 TB store opens 7 directories, not
    * 36 500), while the id buckets inside each partition keep per-person
    * operations shuffle-free. This mirrors the reference's two-level
    * layout — time blocks within hash partitions (`src/table.h` blocks,
    * `src/rpc_insert.cpp:154` partitions) — in native Spark catalog terms. */
  def writePartitionedEvents(events: DataFrame, table: String,
                             buckets: Int = 32): Unit =
    events
      .withColumn("event_date", to_date(timestamp_millis(col("stamp"))))
      .write
      .mode("overwrite")
      .partitionBy("event_date")
      .bucketBy(buckets, "id")
      .sortBy("id", "stamp")
      .format("parquet")
      .saveAsTable(table)

  /** Time-framed read over a [[writePartitionedEvents]] table: applies the
    * frame to BOTH the millisecond stamp (row-exact bounds) and the
    * `event_date` partition column (so Catalyst prunes whole directories —
    * the stamp alone cannot prune, because partition pruning only sees
    * predicates on partition columns). The derived date bounds are
    * inclusive-widened to the stamp bounds' UTC dates, so no qualifying row
    * is ever outside the scanned partitions. */
  def timeFramedEvents(spark: SparkSession, table: String,
                       fromMs: Long, toMs: Long): DataFrame =
    spark.table(table)
      .where(col("event_date")
        .between(to_date(timestamp_millis(lit(fromMs))),
          to_date(timestamp_millis(lit(toMs)))))
      .where(col("stamp").between(fromMs, toMs))

  /** Run an OSL script over a [[writePartitionedEvents]] table with
    * automatic time-partition pruning: when the script's readable stamp
    * window is statically bounded ([[graft.osl.OslEngine.staticScanWindow]]
    * — e.g. a top-level `.range(iso, iso)` scan), the read carries
    * `event_date` bounds that Catalyst turns into PartitionFilters, so a
    * one-week query over a years-deep store opens 7 directories, not
    * 36 500. The date bounds are inclusive-widened from the stamp window
    * (date is monotone in stamp, so no qualifying row is outside the
    * scanned partitions); the script's own frame does the row-exact
    * filtering, exactly as over an unpartitioned read. */
  def oslQuery(spark: SparkSession, table: String, script: String,
               now: Long, sessionGapMs: Long = 30L * 60L * 1000L): DataFrame = {
    val base = spark.table(table)
    val pruned = graft.osl.OslEngine.staticScanWindow(script, now) match {
      case Some((lo, hi)) =>
        var p = base
        if (lo > Long.MinValue)
          p = p.where(col("event_date") >= to_date(timestamp_millis(lit(lo))))
        if (hi < Long.MaxValue)
          p = p.where(col("event_date") <= to_date(timestamp_millis(lit(hi))))
        p
      case None => base
    }
    graft.osl.OslEngine.query(pruned.drop("event_date"), script, now, sessionGapMs)
  }

  /** True when a per-person aggregation over `df` keyed on `id` would
    * shuffle (used by specs/benchmarks to prove the bucketed layout removes
    * the Exchange). */
  def personAggShuffles(df: DataFrame): Boolean = {
    val plan = df.groupBy("id").agg(count(lit(1))).queryExecution.executedPlan
    plan.toString.contains("Exchange")
  }

  /** Bucketed corpus layout: the documents (or any doc-keyed artifact —
    * signature index, quality scores, dedup labels) bucketed on the key
    * column. Every equi-join between two tables bucketed the same way
    * (candidate-pair text verification, signature lookups, label
    * enrichment) and every `groupBy(key)` reads co-located buckets with NO
    * exchange on either side — at corpus scale the dedup family's joins
    * stop shuffling the corpus entirely. Same `saveAsTable` requirement as
    * the events layout (parquet directories carry no bucket metadata). */
  def writeBucketedCorpus(docs: DataFrame, table: String,
                          keyCol: String = "doc_id",
                          buckets: Int = 32): Unit =
    docs.write
      .mode("overwrite")
      .bucketBy(buckets, keyCol)
      .sortBy(keyCol)
      .format("parquet")
      .saveAsTable(table)

  /** True when a sort-merge equi-join of `a` and `b` on `key` would
    * SHUFFLE either side (specs prove co-bucketed corpus tables join
    * exchange-free). The merge hint pins the join strategy — tiny test
    * frames would otherwise broadcast, whose BroadcastExchange is not a
    * shuffle and says nothing about bucketing; the probe looks for the
    * hash-partitioning exchange specifically. */
  def keyJoinShuffles(a: DataFrame, b: DataFrame, key: String): Boolean =
    a.hint("merge").join(b, Seq(key)).queryExecution.executedPlan
      .toString.contains("Exchange hashpartitioning")
}
