package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{BucketingUtils, FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DateType, IntegerType, StructField, StructType}

import graft.TableCommit

/** Bucket-aware read path for the catalog's events store (round-16
  * directive #1: person-scoped queries over INGESTED tables must read
  * exchange-free and sort-free, like the reference's permanently
  * hash-partitioned inserts — `/root/reference/src/rpc_insert.cpp:154` —
  * and stamp-sorted person grids — `src/grid.cpp:1194-1369`).
  *
  * `spark.read.parquet` drops bucket metadata, so every window/groupBy on
  * `id` over an ingested table used to pay `Exchange hashpartitioning(id)`
  * plus a per-person sort. This wires the committed snapshot into Spark's
  * NATIVE bucketed-scan machinery instead:
  *
  *   - [[ManifestFileIndex]] lists exactly the manifest's live files (the
  *     snapshot-isolation contract of [[TableCommit]] — retired files stay
  *     on disk through the grace window but are never listed), grouped as
  *     one partition per `__bucket=b` (or per `(__bucket=b, event_date=d)`
  *     pair for `date_partition` tables — round-17 #1) so partition
  *     pruning keeps working through the standard rule;
  *   - the relation carries `BucketSpec(n, id, sort=(id, stamp))`, and the
  *     catalog writes files whose bucket id (murmur3 `hash(id) pmod n` —
  *     Spark's own `HashPartitioning.partitionIdExpression`) is embedded in
  *     the file NAME, which is how `FileSourceScanExec` maps files to
  *     output partitions;
  *   - the scan runs one task per core, not one per bucket: the
  *     [[graft.plans.CoalesceCatalogBuckets]] rule coalesces the n buckets
  *     into k tasks, the largest divisor of n within the split count
  *     Spark would give the snapshot's bytes unbucketed. It coalesces only
  *     while a bucket's average bytes are below `filesOpenCostInBytes`; a
  *     bigger snapshot, or a cluster with n cores, keeps k = n;
  *   - the scan also claims the (id, stamp) sort order when it is NOT
  *     coalesced (k = n) and holds one live file per bucket among the
  *     SELECTED partitions, so `Window.partitionBy(id).orderBy(stamp)` —
  *     every OSL compile — needs NO exchange and NO sort. Undated tables
  *     always hold one file per bucket (the insert merge rewrites whole
  *     touched buckets as one file); dated tables do whenever date pruning
  *     selects one date. Otherwise — a coalesced task reads several sorted
  *     files, or a bucket holds several dates — Spark drops the order
  *     claim, sorts each task's rows, and plans keep the exchange-free
  *     half. For dated tables that asymmetry is the adjudicated trade of
  *     the two layouts (Catalog.TableSettings.datePartition); a coalesced
  *     snapshot trades the per-bucket tasks for a per-task sort of less
  *     than n x `filesOpenCostInBytes` (128 MiB at the defaults) in all.
  *
  * The claimed `HashPartitioning(id, k)` is truthful (same murmur3 hash at
  * write time, and `pmod(h, n) mod k = pmod(h, k)` for k dividing n), so
  * co-partitioned joins against genuinely shuffled frames stay correct —
  * the reason the legacy xxhash64 layout cannot ride this path and falls
  * back to the explicit-file-list read.
  */
object BucketedEvents {

  /** The file name Spark's bucketed scan expects: the bucket id embedded
    * before the first extension dot (`part-…-<uuid>_00003.c000.parquet`),
    * parsed back by `BucketingUtils.getBucketId`. */
  def bucketedFileName(name: String, bucket: Int): String = {
    val dot = name.indexOf('.')
    val tag = BucketingUtils.bucketIdToString(bucket)
    if (dot < 0) name + tag
    else name.substring(0, dot) + tag + name.substring(dot)
  }

  /** True iff every live file's NAME carries its bucket id — the
    * precondition for the native bucketed scan. Manifest entries are
    * relative paths (`[event_date=D/]file`); only the basename carries the
    * tag. Files written before this path existed (or by the legacy
    * xxhash64 layout) fail it and the caller falls back to the
    * explicit-file-list read. */
  def allBucketNamed(state: TableCommit.State): Boolean =
    state.buckets.forall { case (b, fs) =>
      fs.forall { f =>
        val base = f.substring(f.lastIndexOf('/') + 1)
        BucketingUtils.getBucketId(base).contains(b)
      }
    }

  /** The committed snapshot as a bucketed DataFrame with columns
    * `dataSchema ++ (__bucket int [, event_date date])`. Caller guarantees
    * [[allBucketNamed]] and a murmur3-bucketed layout; `dateParted` tables
    * carry `event_date=D/` prefixes in their manifest entries. */
  def snapshot(spark: SparkSession, root: String, state: TableCommit.State,
               dataSchema: StructType, numBuckets: Int,
               dateParted: Boolean = false): DataFrame = {
    val rootPath = new Path(root)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val fs = rootPath.getFileSystem(hadoopConf)
    def status(b: Int, name: String): FileStatus =
      fs.getFileStatus(new Path(rootPath, s"__bucket=$b/$name"))
    val partitionSchema =
      if (dateParted) ManifestFileIndex.datedPartitionSchema
      else ManifestFileIndex.partitionSchema
    val parts: Seq[(InternalRow, Array[FileStatus])] =
      if (!dateParted)
        state.buckets.toSeq.sortBy(_._1).map { case (b, names) =>
          (InternalRow(b), names.map(status(b, _)).toArray)
        }
      else
        state.buckets.toSeq.sortBy(_._1).flatMap { case (b, names) =>
          names.groupBy(n => n.takeWhile(_ != '/')).toSeq.sortBy(_._1)
            .map { case (dd, ns) =>
              // DateType's internal form: days since epoch of the dir value
              val days = java.time.LocalDate
                .parse(dd.stripPrefix("event_date=")).toEpochDay.toInt
              (InternalRow(b, days), ns.map(status(b, _)).toArray)
            }
        }
    val index = new ManifestFileIndex(rootPath, partitionSchema, parts)
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = partitionSchema,
      dataSchema = StructType(dataSchema.fields.map(_.copy(nullable = true))),
      bucketSpec = Some(BucketSpec(numBuckets, Seq("id"), Seq("id", "stamp"))),
      fileFormat = new ParquetFileFormat(),
      options = Map.empty[String, String])(spark)
    spark.baseRelationToDataFrame(relation)
  }
}

/** A [[FileIndex]] over exactly the manifest's live file set — never a
  * directory listing, so retired-but-not-yet-vacuumed files are invisible
  * and readers get snapshot isolation for free. One `PartitionDirectory`
  * per partition value (bucket id, or (bucket id, date)) keeps partition
  * pruning working through the standard `PruneFileSourcePartitions` rule. */
final class ManifestFileIndex(root: Path, override val partitionSchema: StructType,
                              parts: Seq[(InternalRow, Array[FileStatus])])
    extends FileIndex {

  override def rootPaths: Seq[Path] = Seq(root)

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // bind partition filters to the partition columns by NAME — the same
    // binding PartitioningAwareFileIndex.prunePartitions applies
    val selected =
      if (partitionFilters.isEmpty) parts
      else {
        val ord = partitionSchema.fieldNames.zipWithIndex.toMap
        val predicate = partitionFilters.reduce(
          org.apache.spark.sql.catalyst.expressions.And)
        val bound = Predicate.create(predicate.transform {
          case a: AttributeReference if ord.contains(a.name) =>
            BoundReference(ord(a.name), partitionSchema(a.name).dataType,
              nullable = false)
        })
        bound.initialize(0)
        parts.filter { case (row, _) => bound.eval(row) }
      }
    selected.map { case (row, files) => PartitionDirectory(row, files) }
  }

  override def inputFiles: Array[String] =
    parts.flatMap(_._2.map(_.getPath.toString)).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = parts.flatMap(_._2.map(_.getLen)).sum
}

object ManifestFileIndex {
  val partitionSchema: StructType =
    StructType(Seq(StructField("__bucket", IntegerType, nullable = false)))
  val datedPartitionSchema: StructType =
    StructType(Seq(StructField("__bucket", IntegerType, nullable = false),
      StructField("event_date", DateType, nullable = false)))
}
