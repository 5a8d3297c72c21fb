package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, Not}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, count, lit, row_number}

import graft.osl.OslEngine
import graft.plans.CoalesceCatalogBuckets
import graft.sources.ManifestFileIndex

/** The catalog's bucketed scans sized to the cluster
  * ([[CoalesceCatalogBuckets]]): the pure sizing, and exact rows plus an
  * exchange-free person partitioning on every coalesced read shape. */
class BucketCoalesceSpec extends SparkSpec {
  import spark.implicits._

  private val MiB = 1L << 20
  private val OpenCost = 4 * MiB // spark.sql.files.openCostInBytes default
  private val MaxPartition = 128 * MiB // spark.sql.files.maxPartitionBytes default

  private def sized(numBuckets: Int, fileBytes: Seq[Long], cores: Int): Int =
    CoalesceCatalogBuckets.numTasks(numBuckets, fileBytes, OpenCost, MaxPartition, cores)

  test("sizing: one task per core for small snapshots, n once the bytes or cores warrant it") {
    // a tiny 32-bucket snapshot on 4 cores: one task per core
    assert(sized(32, Seq.fill(32)(100L << 10), cores = 4) == 4)
    // 32 buckets on 32 cores: k = n, the plan is left unchanged
    assert(sized(32, Seq.fill(32)(100L << 10), cores = 32) == 32)
    // 100 TB in 32 buckets on 4 cores: the bytes warrant n tasks
    assert(sized(32, Seq.fill(32)((100L << 40) / 32), cores = 4) == 32)
    // a mid-size 2 GiB snapshot on 4 cores: Spark's split count alone
    // would give 16, but a 64 MiB bucket is worth its own sort-free task
    assert(CoalesceCatalogBuckets.splitCount(Seq.fill(32)(64 * MiB), OpenCost,
      MaxPartition, 4) == 17)
    assert(sized(32, Seq.fill(32)(64 * MiB), cores = 4) == 32)
    // the bytes guard is the bucket's AVERAGE against the open cost, over
    // all its files (a dated bucket holds one file per date)
    assert(sized(32, Seq.fill(32)(OpenCost - 1), cores = 4) == 4)
    assert(sized(32, Seq.fill(32)(OpenCost), cores = 4) == 32)
    assert(sized(32, Seq.fill(32 * 8)(OpenCost / 8), cores = 4) == 32)
    // k is the largest DIVISOR of n within the split count
    assert(CoalesceCatalogBuckets.numCoalesced(6, 4) == 3)
    assert(CoalesceCatalogBuckets.numCoalesced(7, 4) == 1)
    assert(CoalesceCatalogBuckets.numCoalesced(32, 0) == 1)
  }

  private val Day = 86400000L
  private val D0 = 1704067200000L // 2024-01-01T00:00Z

  private def ev(id: String, ms: Long, e: String, v: Double) =
    s"""{"id":"$id","stamp":$ms,"event":"$e","value":$v}"""

  /** 40 customers x 5 events, one per day, each stamp distinct. */
  private val rows: Seq[(String, Long, String, Double)] =
    for (u <- 0 until 40; d <- 0 until 5) yield
      (s"u$u", D0 + d * Day + u * 1000L, if (d % 2 == 0) "view" else "buy",
        (u * 10 + d).toDouble)

  private def freshApi(): Api =
    new Api(spark, Files.createTempDirectory("graft_coalesce").toString)

  private def create(api: Api, t: String, settings: TableSettings): Unit =
    api.tableCreate(TableMeta(t, Seq(PropDef("value", "double")), settings))

  private def insert(api: Api, t: String, rs: Seq[(String, Long, String, Double)]): Unit =
    api.insert(t, rs.map { case (id, ms, e, v) => ev(id, ms, e, v) }, nowMs = D0 + 30 * Day)

  /** Each row with its per-person stamp rank, read through the person
    * window every OSL compile plans — the read that needs the claimed
    * partitioning (and, coalesced, Spark's re-sort). */
  private def ranked(df: DataFrame): DataFrame =
    df.withColumn("rn", row_number().over(Window.partitionBy("id").orderBy("stamp")))
      .select("id", "stamp", "event", "value", "rn")

  private def expected(rs: Seq[(String, Long, String, Double)]): Seq[String] =
    rs.groupBy(_._1).values.flatMap(_.sortBy(_._2).zipWithIndex.map {
      case ((id, ms, e, v), i) => s"[$id,$ms,$e,$v,${i + 1}]"
    }).toSeq.sorted

  private def collected(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** The read's bucketed scans are coalesced to the session's 2 cores, and
    * the person window needs no id exchange. */
  private def assertCoalescedWindow(df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan
    val ks = scansOf(plan).map(_.optionalNumCoalescedBuckets)
    assert(ks.nonEmpty && ks.forall(_ == Some(2)), s"expected k = 2, got $ks\n$plan")
    assert(!plan.toString.contains("Exchange hashpartitioning(id"), plan.toString)
  }

  test("coalesced murmur3 table: exact rows and per-person order, no person exchange") {
    val api = freshApi()
    create(api, "flat", TableSettings())
    insert(api, "flat", rows)
    val df = ranked(api.catalog.events("flat"))
    assertCoalescedWindow(df)
    assert(collected(df) == expected(rows))
    // the rule's split count is Spark's own: total bytes over
    // FilePartition.maxSplitBytes on the same files
    val scan = scansOf(df.queryExecution.executedPlan).head
    val dirs = scan.relation.location.listFiles(Nil, Nil)
    val lens = dirs.flatMap(_.files.map(_.getLen))
    val conf = spark.sessionState.conf
    assert(CoalesceCatalogBuckets.splitCount(lens, conf.filesOpenCostInBytes,
        conf.filesMaxPartitionBytes, spark.sparkContext.defaultParallelism) ==
      lens.map(_ + conf.filesOpenCostInBytes).sum / FilePartition.maxSplitBytes(spark, dirs))
  }

  test("date_partition table with multi-file buckets: exact rows, no person exchange") {
    val api = freshApi()
    create(api, "dated", TableSettings(datePartition = true))
    insert(api, "dated", rows)
    val df = ranked(api.catalog.events("dated"))
    val idx = scansOf(df.queryExecution.executedPlan).head.relation.location
      .asInstanceOf[ManifestFileIndex]
    assert(idx.listFiles(Nil, Nil).size > 32, "expected several date files per bucket")
    assertCoalescedWindow(df)
    assert(collected(df) == expected(rows))
    // a framed read prunes dates but sizes k on the whole relation
    val framed = ranked(api.catalog.eventsFramed("dated", D0 + Day, D0 + 2 * Day - 1))
    assertCoalescedWindow(framed)
    assert(collected(framed) == expected(rows.filter(r => r._2 >= D0 + Day && r._2 < D0 + 2 * Day)))
  }

  /** For each scan matching `p`, the number of exchanges hash-partitioned
    * on `id` alone on its path up to the plan's root. */
  private def idShufflesAbove(plan: SparkPlan, p: FileSourceScanExec => Boolean): Seq[Int] = {
    def onId(e: ShuffleExchangeLike): Boolean = e.outputPartitioning match {
      case HashPartitioning(Seq(a: Attribute), _) => a.name == "id"
      case _ => false
    }
    def walk(n: SparkPlan, above: Int): Seq[Int] = n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, above)
      case q: QueryStageExec => walk(q.plan, above)
      case s: FileSourceScanExec => if (p(s)) Seq(above) else Nil
      case e: ShuffleExchangeLike => walk(e.child, above + (if (onId(e)) 1 else 0))
      case other => other.children.flatMap(walk(_, above))
    }
    walk(plan, 0)
  }

  test("read through a pending WAL overlay: exact rows, both branches coalesced alike") {
    // the last two days of five customers stay pending: their buckets
    // merge through the overlay, every other bucket reads as committed
    val (pending, base) =
      rows.partition(r => r._2 >= D0 + 3 * Day && r._1.drop(1).toInt < 5)
    // 32 buckets coalesce to the session's 2 cores; 2 buckets stay as they are
    val untouchedShuffles = for ((buckets, k) <- Seq(32 -> Some(2), 2 -> None)) yield {
      val api = freshApi()
      create(api, "wal", TableSettings(storageBuckets = buckets, flushRows = 100000))
      insert(api, "wal", base)
      api.catalog.flush("wal", D0 + 30 * Day)
      val gens = api.catalog.eventVersions("wal")
      insert(api, "wal", pending)
      assert(api.catalog.eventVersions("wal") == gens, "expected a pending WAL batch")
      val df = ranked(api.catalog.events("wal"))
      assert(collected(df) == expected(rows), s"$buckets buckets")
      val plan = df.queryExecution.executedPlan
      val ks = scansOf(plan).map(_.optionalNumCoalescedBuckets)
      assert(ks.size == 2 && ks.forall(_ == k), s"expected $k on both branches, got $ks\n$plan")
      // the untouched-bucket branch (the scan that prunes the touched
      // buckets away): a single path to the root
      val untouched = idShufflesAbove(plan,
        _.partitionFilters.exists(_.isInstanceOf[Not]))
      assert(untouched.size == 1, plan.toString)
      untouched.head
    }
    // the union's merged branch is partitioned by the shuffle, not the
    // buckets, so the person window re-shuffles the union on id with or
    // without coalescing; coalescing adds no id exchange of its own
    assert(untouchedShuffles == Seq(1, 1), s"id exchanges over the untouched scan: $untouchedShuffles")
  }

  test("pruned customer fetch over a coalesced scan: exactly that customer's rows") {
    val api = freshApi()
    create(api, "cust", TableSettings())
    insert(api, "cust", rows)
    val df = ranked(api.catalog.customerEvents("cust", "u7"))
    assertCoalescedWindow(df)
    val pf = df.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("__bucket"), s"customer fetch lost bucket pruning: $pf")
    assert(collected(df) == expected(rows.filter(_._1 == "u7")))
  }

  test("joins against a shuffled side and a self-join: exact rows, no exchange on the bucketed sides") {
    // 32 buckets coalesce to the session's 2 cores; 2 buckets stay as they
    // are. Either claim must be truthful: a false one silently drops rows
    val shuffled = (0 until 40).map(u => (s"u$u", u)).toDF("id", "tag")
      .repartition(col("id"))
    for ((buckets, k) <- Seq(32 -> Some(2), 2 -> None)) {
      val api = freshApi()
      create(api, "shop", TableSettings(storageBuckets = buckets))
      insert(api, "shop", rows)
      val joined = api.catalog.events("shop").groupBy("id")
        .agg(count(lit(1)).as("n")).hint("merge")
        .join(shuffled, Seq("id"))
      val got = joined.collect().map(r => r.getString(0) -> (r.getLong(1), r.getInt(2))).toMap
      assert(got == (0 until 40).map(u => s"u$u" -> (5L, u)).toMap, s"$buckets buckets: $got")
      val smj = findSmj(joined.queryExecution.executedPlan)
      assert(smj.isDefined, s"expected a sort-merge join:\n${joined.queryExecution.executedPlan}")
      assert(scansOf(smj.get.left).map(_.optionalNumCoalescedBuckets) == Seq(k),
        s"expected coalescing $k on the bucketed side:\n${smj.get.left}")
      val leftShuffles = smj.get.left.collect {
        case e: ShuffleExchangeLike => e
        case q: ShuffleQueryStageExec => q
      }
      assert(leftShuffles.isEmpty, s"bucketed join side re-exchanged:\n${smj.get.left}")
      // a self-join: both scans of one snapshot claim the same k, so
      // neither side is re-exchanged
      val perId = api.catalog.events("shop").groupBy("id").agg(count(lit(1)).as("n"))
      val self = perId.hint("merge").join(perId.withColumnRenamed("n", "m"), Seq("id"))
      val selfRows = self.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(selfRows == (0 until 40).map(u => s"u$u" -> (5L, 5L)).toMap, s"$buckets buckets: $selfRows")
      val selfPlan = self.queryExecution.executedPlan
      assert(findSmj(selfPlan).isDefined, s"expected a sort-merge join:\n$selfPlan")
      assert(scansOf(selfPlan).map(_.optionalNumCoalescedBuckets) == Seq(k, k), selfPlan.toString)
      assert(!selfPlan.toString.contains("Exchange"), s"self-join re-exchanged:\n$selfPlan")
    }
  }

  /** Every node of the plan, root first, through AQE's wrappers. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** The plan's first node named `name`. */
  private def node(p: SparkPlan, name: String): SparkPlan =
    nodes(p).find(_.nodeName == name).getOrElse(fail(s"no $name in\n$p"))

  private def shuffles(ns: Seq[SparkPlan]) = ns.collect { case e: ShuffleExchangeLike => e }
  private def sorts(ns: Seq[SparkPlan]) = ns.collect { case s: SortExec => s }

  test("Tier B rides the bucketed scan: no person exchange below MapGroups or the write-back CoGroup") {
    // perfbench's `basket` shape: an each_row with if/else tallies, which
    // only the interpreter runs
    val basket =
      """each_row where event.is(== 'buy')
        |  if value.is(> 200)
        |    << 'bulk'
        |  else
        |    << 'single'
        |  end
        |end
        |""".stripMargin
    val writeback = "total = sum(value) where event.is(== 'buy')"
    val now = D0 + 30 * Day
    val parquetDir = Files.createTempDirectory("graft_tierb").toString + "/events"
    rows.toDF("id", "stamp", "event", "value").write.parquet(parquetDir)
    val plain = spark.read.parquet(parquetDir)
    val prior = Seq(("u1", 7.0), ("u2", 9.0)).toDF("id", "total")
    val wantTree = collected(OslEngine.query(plain, basket, now, forceTierB = true))
    val wantProps = collected(OslEngine.propWriteback(plain, prior, writeback, now))
    assert(wantTree.nonEmpty && wantProps.size == 40)
    // 2 buckets stay uncoalesced at local[2]: the scan's (id, stamp) order
    // serves the groups, so no sort either; 32 buckets coalesce to 2 and
    // need one stamp sort, but still no exchange
    for ((buckets, nSorts) <- Seq(2 -> 0, 32 -> 1)) {
      val api = freshApi()
      api.tableCreate(TableMeta("tb", Seq(PropDef("value", "double"),
        PropDef("total", "double", isCustomer = true)), TableSettings(storageBuckets = buckets)))
      insert(api, "tb", rows)
      api.catalog.mergeCustomers("tb", prior)
      val events = api.catalog.events("tb")
      val tree = OslEngine.query(events, basket, now)
      assert(collected(tree) == wantTree, s"$buckets buckets")
      val mapGroups = node(tree.queryExecution.executedPlan, "MapGroups")
      assert(shuffles(nodes(mapGroups)).isEmpty, s"$buckets buckets: exchange below MapGroups\n$mapGroups")
      assert(sorts(nodes(mapGroups)).size == nSorts, s"$buckets buckets: expected $nSorts sorts\n$mapGroups")
      // the write-back cogroup: only the customers side is exchanged
      val props = OslEngine.propWriteback(events, api.catalog.customers("tb"), writeback, now)
      assert(collected(props) == wantProps, s"$buckets buckets")
      val eventSide = node(props.queryExecution.executedPlan, "CoGroup").children.head
      assert(scansOf(eventSide).nonEmpty && shuffles(nodes(eventSide)).isEmpty,
        s"$buckets buckets: events side of CoGroup exchanged\n$eventSide")
    }
  }
}
