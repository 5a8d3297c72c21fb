package graft

import org.apache.spark.sql.SparkSession

/** Standard session configuration for the graft engine.
  *
  * Centralizes the settings every entry point (Verify, Bench, tests, user code)
  * needs so a query behaves identically regardless of who built the session:
  *
  *   - `spark.sql.legacy.parquet.nanosAsLong` — legacy driver data carried
  *     INT64 TIMESTAMP(NANOS), which Spark otherwise rejects
  *     (PARQUET_TYPE_ILLEGAL); with the flag such files read as epoch-nanos
  *     Long. Current driver files ship timestamp[us] (read as
  *     TIMESTAMP_NTZ), where the flag is inert — [[Tables.events]]
  *     dispatches on the column's actual type.
  *   - UTC session timezone — all date-part semantics (day-of-week, trunc)
  *     must match the DuckDB oracle, which operates in UTC.
  *   - shuffle partitions default 32 — sized for local[32]; on a real cluster
  *     AQE coalescing makes the initial number less critical.
  *   - AQE on — runtime coalescing + skew-join handling, the scale path for
  *     100 TB inputs.
  */
object GraftSession {

  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE coalescing keeps `parallelismFirst` (Spark default): the target
      // partition size is max(shuffleBytes / defaultParallelism,
      // minPartitionSize) — i.e. DERIVED from input size and cluster width,
      // never a constant. The stock 1 MiB minPartitionSize floor, however,
      // collapses any sub-32 MiB exchange to a handful of tasks: measured on
      // the OSL chain family, the whole sort+window+aggregate stage ran as
      // ONE 1.1 s task on a 32-core host (31 cores idle) because the person
      // shuffle is ~2 MiB. 64 KiB keeps tiny exchanges parallel up to
      // cluster width while changing NOTHING at scale (any real partition is
      // megabytes, so the total/parallelism term dominates the max() long
      // before the floor matters). SPARK_GRAFT_CONF overrides it.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // Tungsten page size: Spark derives it from heap/cores (~18 MiB in
      // the 16 GiB local[32] bench JVM, 64 MiB on a typical big-heap
      // executor) and every sort/agg/window TASK allocates and zeroes at
      // least one page — a 16-task ladder stage churned ~300 MB of pages
      // for ~6k rows/task, and per-stage jvmGCTime (graft.Trace prints it)
      // showed 1-3 s of collector time per chain query. 2 MiB pages cut
      // that churn ~9x; large sorts just chain more pages (the page table
      // allows 8192 pages/consumer = 16 GiB per operator, far above any
      // sane per-task state). Interleaved A/B on a 10-query mixed subset:
      // 9.4-10.0 s -> 7.6-8.5 s. Huge-memory executors override it through
      // SPARK_GRAFT_CONF.
      .config("spark.buffer.pageSize", "2m")
      // Let AQE re-plan the OUTPUT partitioning of cached plans too — off by
      // default, which pins every memoized index stage (memoStage /
      // localCheckpoint frames) at the static shuffle-partition count; small
      // cached index frames then pay 32 near-empty tasks per downstream
      // stage. With it on, cached frames coalesce by bytes like everything
      // else; at scale partitions are byte-sized either way.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // Catalog events tables are id-bucketed AND (id, stamp)-sorted with
      // ONE live file per bucket (Catalog.insertLocked invariant). This
      // flag lets FileSourceScanExec claim that sort order, which removes
      // the per-person Sort under every OSL window — off by default only
      // because the file-per-bucket check can slow planning on huge
      // multi-file buckets, a shape our commit protocol never produces.
      // The claim holds only for an uncoalesced scan (one task per
      // bucket): CoalesceCatalogBuckets packs a small snapshot's buckets
      // into one task per core, and Spark then sorts each task instead;
      // once a bucket's average bytes reach the file open cost, or the
      // cores match the buckets, the claim returns.
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // zstd ~ 2x smaller files than snappy at comparable scan speed — at
      // 100 TB the scan is IO-bound, so storage compression is throughput.
      // (The reference ships LZ4 level 5 for the same trade, src/table.h:128.)
      .config("spark.sql.parquet.compression.codec", "zstd")
      // Engine extensions (native function registry + plan rewrites) ride
      // the standard config hook, so the same line works on spark-submit
      // against a real cluster with no code changes.
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // The generated-class cache defaults to 100 entries; a many-query
      // workload (the 100-query bench sweep, or any long-lived serving
      // session) holds far more distinct codegen stages than that, and a
      // thrashed cache re-runs Janino per stage per query — measured as a
      // uniform ~2-4x inflation of warm queries in the full sweep vs the
      // same queries isolated. Size it to hold the whole workload.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
    // experiment hook: override any spark conf from the environment as
    // SPARK_GRAFT_CONF="k=v;k2=v2" (A/B runs without recompiling). Values
    // may not contain ';' (the entry separator); malformed fragments fail
    // LOUDLY instead of silently setting an empty-string key.
    sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.nonEmpty)
      .foldLeft(b) { (bb, kv) =>
        require(kv.contains("="),
          s"SPARK_GRAFT_CONF fragment without '=': '$kv'")
        val Array(k, v) = kv.split("=", 2)
        require(k.trim.nonEmpty,
          s"SPARK_GRAFT_CONF fragment with empty key: '$kv'")
        bb.config(k.trim, v)
      }
  }

  /** Apply the graft-required runtime confs to an externally built session
    * (e.g. the driver's own Verify session). Safe to call repeatedly. */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    spark
  }
}
