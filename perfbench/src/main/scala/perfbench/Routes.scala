package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Api, PropIndex, ResultTree}
import graft.osl.{OslEngine, Parser}

/** One traced insert: its latency, whether it committed a generation (a
  * WAL drain) or only appended, and the bytes it added to the table
  * directory against the request bytes it carried. */
final case class InsertFacts(ms: Double, committed: Boolean, bytesWritten: Long,
                             bytesIn: Long)

/** The routes the workloads call. Each is the real `Api` call, traced or
  * not. Traced, the call is the root span of a request (`route.*`); the
  * benchmark later attaches the Catalyst phases and Spark jobs that Spark's
  * own hooks report inside it (`Trace.attach`). Three things happen inside
  * a route where no hook sees them, so the traced run times them next to
  * the route:
  *  - the index-path reads call `PropIndex.ensure` first, the call the
  *    route itself makes first (`Api.querySegment`, `Api.queryProperty`),
  *    so the index build shows as its own span and the route then finds
  *    the index current;
  *  - after an OSL route, a `probe.osl` request repeats the route's parse,
  *    read-plan and OSL-build calls without executing them. They mirror
  *    `Api.queryEvent`, `Api.querySegment` (engine path) and
  *    `Api.queryHistogram`, and are the only copied route code;
  *  - after the event and customer routes, `probe.render` renders the tree
  *    the route returned with `ResultTree.toJson` again, and
  *    `probe.read_plan` repeats `Catalog.customerEvents`.
  * Probe requests run outside every route span, so Spark work they start is
  * attributed to no route. */
final class Routes(spark: SparkSession, val api: Api, t: Tracer,
                   oslRequests: mutable.Buffer[Long],
                   inserts: mutable.Buffer[InsertFacts]) {

  private def oslRoute(name: String)(body: => String): String =
    t.request(name) {
      if (t.on) oslRequests += t.current
      body
    }

  private def probeOsl(table: String, parse: => Any, read: => DataFrame)(
      build: (DataFrame, Long) => DataFrame): Unit =
    if (t.on) t.request("probe.osl") {
      val gap = api.catalog.describe(table).settings.sessionTimeMs
      t.span("osl.parse")(parse)
      val ev = t.span("catalog.read_plan")(read)
      t.span("osl.build")(build(ev, gap))
    }

  def insert(table: String, lines: Seq[String], now: Long): String =
    if (!t.on) api.insert(table, lines, now)
    else {
      val dir = new java.io.File(api.warehouse, table)
      def bytes = Fs.files(dir).map(_.length).sum
      val (gen0, bytes0) = (api.catalog.eventVersions(table).lastOption, bytes)
      val t0 = System.nanoTime()
      val out = t.request("route.insert")(api.insert(table, lines, now))
      val ms = (System.nanoTime() - t0) / 1e6
      inserts += InsertFacts(ms, api.catalog.eventVersions(table).lastOption != gen0,
        math.max(0L, bytes - bytes0), lines.map(_.length + 1L).sum)
      out
    }

  def queryEvent(table: String, script: String, now: Long): String = {
    val out = oslRoute("route.queryEvent")(api.queryEvent(table, script, now))
    probeOsl(table, Parser.program(script), OslEngine.staticScanWindow(script, now) match {
      case Some((lo, hi)) => api.catalog.eventsFramed(table, lo, hi)
      case None => api.catalog.events(table)
    })((ev, gap) => OslEngine.query(ev, script, now = now, sessionGapMs = gap))
    if (t.on) {
      val nodes = Routes.readTree(out)
      t.request("probe.render")(t.span("result.render")(ResultTree.toJson(nodes)))
    }
    out
  }

  /** `countable`: the script is an index-countable equality lookup and no
    * WAL is pending, so the route answers from the property index. */
  def querySegment(table: String, script: String, now: Long, countable: Boolean): String =
    if (countable) t.request("route.querySegment.index") {
      if (t.on) t.span("propindex.ensure")(PropIndex.ensure(spark, api.catalog, table))
      api.querySegment(table, script, now)
    }
    else {
      val out = oslRoute("route.querySegment")(api.querySegment(table, script, now))
      probeOsl(table, Parser.segments(script), api.catalog.events(table))(
        (ev, gap) => OslEngine.segments(ev, script, now = now, sessionGapMs = gap))
      out
    }

  /** `indexed`: no WAL is pending, so the route reads the property index. */
  def queryProperty(table: String, prop: String, indexed: Boolean): String =
    t.request(if (indexed) "route.queryProperty.index" else "route.queryProperty") {
      if (t.on && indexed) t.span("propindex.ensure")(PropIndex.ensure(spark, api.catalog, table))
      api.queryProperty(table, prop)
    }

  def queryCustomer(table: String, id: String): String = {
    val out = t.request("route.queryCustomer")(api.queryCustomer(table, id))
    if (t.on) t.request("probe.read_plan")(
      t.span("catalog.read_plan")(api.catalog.customerEvents(table, id)))
    out
  }

  def queryHistogram(table: String, name: String, script: String, now: Long,
                     bucket: Double, min: Double, max: Double): String = {
    val out = oslRoute("route.queryHistogram")(
      api.queryHistogram(table, name, script, now, Some(bucket), Some(min), Some(max)))
    probeOsl(table, Parser.program(script), api.catalog.events(table))(
      (ev, gap) => OslEngine.histogram(ev, script, now = now, sessionGapMs = gap))
    out
  }

  def segmentRefresh(table: String, script: String, now: Long): String =
    t.request("route.segmentRefresh")(api.segmentRefresh(table, script, now))
}

object Routes {
  /** Reads the event route's `{"_":[…]}` tree back into `ResultTree` nodes,
    * so its rendering can be timed on the tree the route returned.
    * `ResultTree.toJson` of the result gives `json` back. */
  def readTree(json: String): Seq[ResultTree.Node] = {
    var i = 0
    def peek = json.charAt(i)
    def expect(s: String): Unit = {
      require(json.startsWith(s, i), s"expected $s at $i of ${json.take(80)}")
      i += s.length
    }
    def value(): Any = peek match {
      case '"' =>
        val sb = new StringBuilder
        i += 1
        while (peek != '"') {
          if (peek == '\\') i += 1
          sb += peek
          i += 1
        }
        i += 1
        sb.toString
      case 'n' => expect("null"); null
      case _ =>
        val from = i
        while (i < json.length && "-+.eE0123456789".indexOf(peek) >= 0) i += 1
        val num = json.substring(from, i)
        if (num.exists(".eE".contains(_))) num.toDouble else num.toLong
    }
    def list[T](item: () => T): Seq[T] = {
      expect("[")
      val out = mutable.ArrayBuffer[T]()
      while (peek != ']') {
        if (out.nonEmpty) expect(",")
        out += item()
      }
      i += 1
      out.toSeq
    }
    def node(): ResultTree.Node = {
      expect("{\"g\":")
      val g = value()
      expect(",\"c\":")
      val c = list(() => value())
      val kids = if (peek == ',') { expect(",\"_\":"); list(() => node()) } else Nil
      expect("}")
      ResultTree.Node(g, c, kids)
    }
    expect("{\"_\":")
    val nodes = list(() => node())
    expect("}")
    nodes
  }
}
