package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{Api, PropDef, TableMeta, TableSettings}
import graft.osl.OslEngine

/** One executed operation. `version` is the number of live insert batches
  * applied before it ran, so a check can replay the model to that point. */
final case class Rec(i: Int, kind: String, read: Boolean, ms: Double,
                     out: String, err: Option[String], version: Int,
                     arg: String = "", rows: Int = 0)

/** A workload: a table built in set-up, then a fixed cycle of operations
  * run in a closed loop by one client. */
abstract class Workload(val spark: SparkSession, val dir: File, val seed: Long) {
  val table = "events"
  protected var routes: Routes = _
  /** (set-up, ms, events) of every bulk-load request of the timed set-ups. */
  val setupInserts = mutable.ArrayBuffer[(Int, Double, Int)]()

  def cycleLen: Int
  /** Table shape: customers, mean events each, settings, bulk-load batch. */
  def customers: Int
  def meanEvents: Int
  def settings: TableSettings
  def loadBatch: Int
  protected lazy val history: Vector[Ev] = Gen.history(seed, customers, meanEvents)

  /** Builds a fresh table from the seeded inputs (one timed set-up): a new
    * warehouse, the history bulk-loaded through the insert route in
    * `loadBatch`-sized requests, then a flush. Records each request. */
  def setup(rep: Int): Unit = {
    val wh = new File(dir, s"rep$rep")
    val a = new Api(spark, wh.getPath)
    a.tableCreate(TableMeta(table,
      Seq(PropDef("product", "text"), PropDef("qty", "int"), PropDef("price", "double")),
      settings))
    routes = new Routes(spark, a, new Tracer(false), oslRequests, routesInserts)
    if (rep > 0) Fs.rm(new File(dir, s"rep${rep - 1}"))
    history.grouped(loadBatch).foreach { b =>
      val t0 = System.nanoTime()
      a.insert(table, b.map(_.json), Gen.Now)
      setupInserts += ((rep, (System.nanoTime() - t0) / 1e6, b.size))
    }
    val t0 = System.nanoTime()
    a.catalog.flush(table, Gen.Now)
    setupInserts += ((rep, (System.nanoTime() - t0) / 1e6, 0))
    afterLoad()
  }
  protected def afterLoad(): Unit = ()

  /** Runs operation `i` of the schedule. */
  def run(i: Int): Rec
  /** Checks every record against its reference; returns one message per
    * wrong output. Runs after the timed phase. */
  def check(recs: Seq[Rec]): Seq[String]
  def inputBytes: Long

  /** What the traced routes collect: the ids of OSL requests, and the
    * facts of each insert. */
  val oslRequests = mutable.ArrayBuffer[Long]()
  val routesInserts = mutable.ArrayBuffer[InsertFacts]()

  def api: Api = routes.api
  def trace(t: Tracer): Unit =
    routes = new Routes(spark, routes.api, t, oslRequests, routesInserts)
  def eventsDir: File = new File(new File(api.warehouse, table), "events")

  /** Bytes of the live committed snapshot. */
  def storedBytes: Long =
    graft.TableCommit.read(eventsDir.getPath).map(_.buckets.toSeq.flatMap {
      case (b, fs) => fs.map(f => new File(eventsDir, s"__bucket=$b/$f").length)
    }.sum).getOrElse(0L)

  protected def timed(i: Int, kind: String, read: Boolean, version: Int,
                      arg: String = "", rows: Int = 0)(body: => String): Rec = {
    val t0 = System.nanoTime()
    val (out, err) =
      try (body, None)
      catch { case e: Exception => ("", Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
    Rec(i, kind, read, (System.nanoTime() - t0) / 1e6, out, err, version, arg, rows)
  }
}

/** Small file helpers for the benchmark's own work directory. */
object Fs {
  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete(): Unit
  }
  def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
    else if (f.isFile) Seq(f) else Nil
}

/** Execution-bound: a fixed mix of OSL scripts over a seeded table large
  * enough that task execution dominates. The table does not change after
  * set-up. */
final class OslScale(spark: SparkSession, dir: File, seed: Long)
    extends Workload(spark, dir, seed) {
  val customers = 4000
  val meanEvents = 25
  val loadBatch = 25000
  val settings: TableSettings = TableSettings(flushRows = loadBatch * 4)

  private lazy val model = { val m = new Model; m.add(history); m }
  def inputBytes: Long = model.inputBytes

  private sealed trait Q { def name: String }
  private final case class EventQ(name: String, script: String,
                                  expect: Model => String) extends Q
  private final case class SegQ(name: String, script: String,
                                expect: Model => String) extends Q
  private final case class HistQ(name: String, script: String, bucket: Double,
                                 min: Double, max: Double, value: Seq[Ev] => Double) extends Q

  private def is(e: String)(x: Ev) = x.event == e

  /** `viewed`/`carted`/`bought` funnel: a view, a later cart, a later
    * purchase (stamps are unique per customer, so "later" is strict). */
  private def funnel(evs: Seq[Ev]): Set[Vector[String]] = {
    val v = evs.indexWhere(is("view"))
    if (v < 0) Set.empty
    else {
      val c = evs.indexWhere(is("cart"), v + 1)
      if (c < 0) Set(Vector("viewed"))
      else if (evs.indexWhere(is("purchase"), c + 1) < 0) Set(Vector("viewed"), Vector("carted"))
      else Set(Vector("viewed"), Vector("carted"), Vector("bought"))
    }
  }

  private val mix: Vector[Q] = Vector(
    EventQ("tally",
      """select
        |  count id as people
        |end
        |each_row where event.is(== 'cart') || event.is(== 'purchase')
        |  << event, product
        |end
        |""".stripMargin,
      _.tree(evs => evs.filter(e => e.event == "cart" || e.event == "purchase")
        .map(e => Vector(e.event, e.product)).toSet)),
    EventQ("funnel",
      """each_row where event.is(== 'view')
        |  << 'viewed'
        |  each_row.continue().next() where event.is(== 'cart')
        |    << 'carted'
        |    each_row.continue().next() where event.is(== 'purchase')
        |      << 'bought'
        |    end
        |  end
        |end
        |""".stripMargin,
      _.tree(funnel)),
    EventQ("recent",
      """select
        |  count id as people
        |end
        |each_row.look_back(30_days, now) where event.is(== 'support')
        |  << product
        |end
        |""".stripMargin,
      _.tree(evs => evs.filter(e => e.event == "support" && e.stamp >= Gen.Now - 30 * Gen.DayMs)
        .map(e => Vector(e.product)).toSet)),
    SegQ("segments",
      """@segment loyal
        |if event.ever(== 'purchase') && event.ever(== 'support')
        |  return(true)
        |end
        |@segment bulk
        |if qty.ever(>= 5) && event.ever(== 'cart')
        |  return(true)
        |end
        |""".stripMargin,
      _.segments(Seq(
        "loyal" -> (evs => evs.exists(is("purchase")) && evs.exists(is("support"))),
        "bulk" -> (evs => evs.exists(_.qty >= 5) && evs.exists(is("cart")))))),
    HistQ("spend",
      """spend = sum(price) where event.is(== 'purchase')
        |return(spend)
        |""".stripMargin, 250.0, 0.0, 2500.0,
      evs => evs.filter(is("purchase")).map(_.cents).sum / 100.0),
    // Tier B only: a container accumulated per person
    HistQ("breadth",
      """seen = set()
        |each_row where event.is(== 'view')
        |  seen = seen + product
        |end
        |return(len(seen))
        |""".stripMargin, 2.0, 0.0, 20.0,
      evs => evs.filter(is("view")).map(_.product).distinct.size.toDouble),
    // Tier B only: if/else around tallies
    EventQ("basket",
      """each_row where event.is(== 'purchase')
        |  if qty.is(> 2)
        |    << 'bulk'
        |  else
        |    << 'single'
        |  end
        |end
        |""".stripMargin,
      _.tree(evs => evs.filter(is("purchase"))
        .map(e => Vector(if (e.qty > 2) "bulk" else "single")).toSet)))

  def cycleLen: Int = mix.size

  private def exec(r: Routes, q: Q): String = q match {
    case q: EventQ => r.queryEvent(table, q.script, Gen.Now)
    case q: SegQ => r.querySegment(table, q.script, Gen.Now, countable = false)
    case q: HistQ => r.queryHistogram(table, q.name, q.script, Gen.Now, q.bucket, q.min, q.max)
  }

  def run(i: Int): Rec = {
    val q = mix(i % mix.size)
    timed(i, q.name, read = true, 0)(exec(routes, q))
  }

  /** Every script's model answer; event and segment scripts that run on
    * Tier A are also held to the interpreter's (forced Tier B) answer. */
  def check(recs: Seq[Rec]): Seq[String] = {
    val expected: Map[String, Seq[String]] = mix.map {
      case q: EventQ => q.name -> (Seq(q.expect(model)) ++ tierBReference(q))
      case q: SegQ => q.name -> (Seq(q.expect(model)) ++ tierBReference(q))
      case q: HistQ => q.name -> Seq(model.histogram(q.name, q.value, q.bucket, q.min, q.max))
    }.toMap
    recs.flatMap(r => Workload.mismatch(r, expected(r.kind)))
  }

  private def tierBReference(q: Q): Seq[String] = {
    import org.apache.spark.sql.functions._
    val ev = api.catalog.events(table)
    q match {
      case EventQ(_, script, _) =>
        val compiled = OslEngine.query(ev, script, now = Gen.Now)
        if (Workload.runsTierB(compiled)) Nil
        else {
          val program = graft.osl.Parser.program(script)
          val aliases =
            if (program.select.nonEmpty) program.select.map(_.alias) else Seq("id")
          Seq(graft.ResultTree.toJson(graft.ResultTree.fromProgramSort(
            OslEngine.query(ev, script, now = Gen.Now, forceTierB = true), aliases, program.sort)))
        }
      case SegQ(_, script, _) =>
        val counts = OslEngine.segments(ev, script, now = Gen.Now, forceTierB = true)
          .groupBy(col("segment")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        Seq(graft.osl.Parser.segments(script).map(d =>
          s"""{"segment":"${d.name}","count":${counts.getOrElse(d.name, 0L)}}""")
          .mkString("[", ",", "]"))
      case _ => Nil
    }
  }
}

/** Storage-bound: inserts (group commit) interleaved with every read route
  * on a table built in set-up. Reads between drains pay the WAL overlay. */
final class CdpLive(spark: SparkSession, dir: File, seed: Long)
    extends Workload(spark, dir, seed) {
  val customers = 2000
  val meanEvents = 15
  val batch = 100
  val flushRows = 4 * batch
  val settings: TableSettings = TableSettings(flushRows = flushRows, storageBuckets = 8)
  def loadBatch: Int = history.size
  /** The live model: advanced as batches are generated and inserted. */
  private lazy val live = { val m = new Model; m.add(history); m }
  private val batches = mutable.ArrayBuffer[Vector[Ev]]()
  private var pending = 0
  private val pick = new scala.util.Random(seed ^ 0x5eedL)
  def inputBytes: Long = live.inputBytes

  private val tally =
    """select
      |  count id as people
      |end
      |each_row where event.is(== 'purchase')
      |  << product
      |end
      |""".stripMargin
  private val byIndex =
    """@segment p03_fans
      |if product.ever(== 'p03')
      |  return(true)
      |end
      |""".stripMargin
  private val byEngine =
    """@segment loyal
      |if event.ever(== 'purchase') && event.ever(== 'support')
      |  return(true)
      |end
      |""".stripMargin
  private val refresh =
    """@segment sharers
      |if event.ever(== 'share')
      |  return(true)
      |end
      |""".stripMargin

  /** Four inserts per cycle: with `flush_rows` = 4 batches, the fourth
    * insert of every cycle drains the WAL. The reads before it (event,
    * customer, engine-path segment) read through the WAL overlay; the ones
    * after it (index-countable segment, property) answer from the property
    * index. */
  private val cycle = Vector("insert", "event", "insert", "customer", "insert",
    "segment_engine", "insert", "segment_index", "property", "refresh")
  def cycleLen: Int = cycle.size

  override protected def afterLoad(): Unit =
    graft.PropIndex.ensure(spark, api.catalog, table): Unit

  def run(i: Int): Rec = {
    val v = batches.size
    cycle(i % cycle.size) match {
      case "insert" =>
        val b = Gen.liveBatch(seed, v, batch, live)
        batches += b
        live.add(b)
        val r = timed(i, "insert", read = false, v + 1, rows = b.size)(
          routes.insert(table, b.map(_.json), Gen.Now))
        pending += b.size
        if (pending >= flushRows) pending = 0
        r
      case "event" => timed(i, "event", read = true, v)(routes.queryEvent(table, tally, Gen.Now))
      case "property" => timed(i, "property", read = true, v)(
        routes.queryProperty(table, "product", indexed = pending == 0))
      case "customer" =>
        val id = live.rowAt(pick.nextInt(live.rowCount)).id
        timed(i, "customer", read = true, v, arg = id)(routes.queryCustomer(table, id))
      case "segment_index" => timed(i, "segment_index", read = true, v)(
        routes.querySegment(table, byIndex, Gen.Now, countable = pending == 0))
      case "segment_engine" => timed(i, "segment_engine", read = true, v)(
        routes.querySegment(table, byEngine, Gen.Now, countable = false))
      case "refresh" => timed(i, "refresh", read = false, v)(
        routes.segmentRefresh(table, refresh, Gen.Now))
    }
  }

  def check(recs: Seq[Rec]): Seq[String] = {
    val m = new Model
    m.add(history)
    var applied = 0
    recs.flatMap { r =>
      while (applied < r.version) { m.add(batches(applied)); applied += 1 }
      val exp = r.kind match {
        case "insert" => """{"message":"yummy"}"""
        case "event" => m.tree(evs => evs.filter(_.event == "purchase")
          .map(e => Vector(e.product)).toSet)
        case "property" => m.property(_.product)
        case "customer" => m.customer(r.arg)
        case "segment_index" => m.segments(Seq("p03_fans" -> (_.exists(_.product == "p03"))))
        case "segment_engine" => m.segments(Seq("loyal" -> (evs =>
          evs.exists(_.event == "purchase") && evs.exists(_.event == "support"))))
        case "refresh" => """{"refreshed":["sharers"]}"""
      }
      Workload.mismatch(r, Seq(exp))
    }
  }
}

object Workload {
  /** Why `r` fails its check: it threw, or its output differs from one of
    * the references (each must match exactly). None when it passes. */
  def mismatch(r: Rec, references: Seq[String]): Option[String] =
    r.err.map(e => s"${r.kind}#${r.i} threw $e").orElse(
      references.find(_ != r.out).map(exp =>
        s"${r.kind}#${r.i}: got ${r.out.take(300)} expected ${exp.take(300)}"))

  def runsTierB(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("MapGroups")

  val names = Seq("osl_scale", "cdp_live")

  def apply(name: String, spark: SparkSession, dir: File, seed: Long): Workload =
    name match {
      case "osl_scale" => new OslScale(spark, dir, seed)
      case "cdp_live" => new CdpLive(spark, dir, seed)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (known: ${names.mkString(", ")})")
    }
}
