package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Route-shaped façade mirroring the reference's REST surface
  * (`src/rpc.h:25-94`). Each method corresponds to one route and returns the
  * route's JSON body as a String (or a DataFrame where the caller composes
  * further). HTTP itself is out of scope — any server (or none) can sit in
  * front of this; the semantics live here.
  *
  * | Reference route                        | Method            |
  * |----------------------------------------|-------------------|
  * | POST /v1/table/{t}                     | tableCreate       |
  * | GET /v1/table/{t}                      | tableDescribe     |
  * | GET /v1/tables                         | tableList         |
  * | DELETE /v1/table/{t}                   | tableDrop         |
  * | PUT /v1/table/{t}/property/{p}         | propertyAdd       |
  * | DELETE /v1/table/{t}/property/{p}      | propertyDrop      |
  * | PUT /v1/table/{t}/settings             | settingsUpdate    |
  * | POST /v1/insert/{t}                    | insert            |
  * | POST /v1/query/{t}/event               | queryEvent        |
  * | POST /v1/query/{t}/segment             | querySegment      |
  * | GET /v1/query/{t}/property/{p}         | queryProperty     |
  * | GET /v1/query/{t}/customer?id=         | queryCustomer     |
  * | POST /v1/query/{t}/histogram/{name}    | queryHistogram    |
  * | PUT /v1/subscription/{t}/{seg}/{sub}   | subscriptionCreate|
  * | DELETE /v1/subscription/{t}/{seg}/{sub}| subscriptionDelete|
  * | (web-hook push)                        | subscriptionPoll  |
  * | (background refresh loop)              | segmentRefresh    |
  * | GET /v1/status                         | status            |
  *
  * Cluster/internode routes are intentionally absent: Spark's cluster
  * manager, shuffle and storage replication replace them (SURVEY §2.1).
  */
final class Api(spark: SparkSession, val warehouse: String,
                clock: () => Long = () => System.currentTimeMillis()) {

  val catalog = new Catalog(spark, warehouse)

  // ------------------------------------------------------------------- tables
  def tableCreate(meta: TableMeta): String = {
    catalog.create(meta)
    s"""{"message":"created","table":"${meta.table}"}"""
  }

  def tableDescribe(table: String): String = {
    val m = catalog.describe(table)
    val props = m.properties.map { p =>
      val extras =
        (if (p.isSet) ",\"is_set\":true" else "") +
        (if (p.isCustomer) ",\"is_customer\":true" else "")
      s"""{"name":"${p.name}","type":"${p.ptype}"$extras}"""
    }.mkString(",")
    s"""{"table":"${m.table}","properties":[$props],"event_order":[${m.settings.eventOrder.map("\"" + _ + "\"").mkString(",")}]}"""
  }

  def tableList(): String =
    catalog.list().map("\"" + _ + "\"").mkString("{\"tables\":[", ",", "]}")

  def tableDrop(table: String): String = {
    catalog.drop(table)
    s"""{"message":"dropped","table":"$table"}"""
  }

  def propertyAdd(table: String, prop: PropDef): String = {
    catalog.addProperty(table, prop)
    s"""{"message":"added","table":"$table","property":"${prop.name}"}"""
  }

  def propertyDrop(table: String, name: String): String = {
    catalog.dropProperty(table, name)
    s"""{"message":"dropped","table":"$table","property":"$name"}"""
  }

  def settingsUpdate(table: String, f: TableSettings => TableSettings): String = {
    catalog.updateSettings(table, f)
    s"""{"message":"updated","table":"$table"}"""
  }

  // ------------------------------------------------------------------- insert
  /** `POST /v1/insert/{t}`: a batch of JSON event objects (one per line /
    * array element), parsed against the table schema with stamp
    * normalization, then upserted (src/rpc_insert.cpp). */
  def insert(table: String, jsonEvents: Seq[String], nowMs: Long): String = {
    // append to the pending WAL; the catalog group-commits the bucket merge
    // once TableSettings.flushRows rows accumulate (0 = merge every batch).
    // Parsing (schema coercion, second/ISO stamp normalization) happens at
    // drain/overlay via Catalog.parsePending — the same transform either way
    catalog.insertRaw(table, jsonEvents, nowMs)
    s"""{"message":"yummy"}""" // the reference's insert ack (src/rpc_insert.cpp)
  }

  // ------------------------------------------------------------------ queries
  /** `POST /v1/query/{t}/event`: OSL script → group-tree JSON (`g/c/_`). */
  def queryEvent(table: String, script: String, nowMs: Long,
                 trim: Int = 0): String = {
    val m = catalog.describe(table)
    val program = graft.osl.Parser.program(script)
    val selects =
      (if (program.select.nonEmpty) program.select
       else Seq(graft.osl.Ast.SelectCol("count", "id", "id", None, all = false)))
    // statically-bounded scan windows (a top-level `.range(iso, iso)` etc.)
    // prune the store's event_date partitions on date_partition tables —
    // the row-exact frame stays with the script, exactly as unpruned
    // (round-17 #1; Layout.oslQuery does the same for standalone layouts)
    val ev = graft.osl.OslEngine.staticScanWindow(script, nowMs) match {
      case Some((lo, hi)) => catalog.eventsFramed(table, lo, hi)
      case None => catalog.events(table)
    }
    val df = graft.osl.OslEngine.query(ev, script,
      now = nowMs, sessionGapMs = m.settings.sessionTimeMs)
    val nodes = ResultTree.fromProgramSort(df, selects.map(_.alias), program.sort, trim)
    ResultTree.toJson(nodes)
  }

  /** `POST /v1/query/{t}/segment`: @segment script(s) → per-segment counts.
    *
    * INDEX-COUNTABLE segments (the reference's bitmap short-circuit,
    * `src/oloop_segment.cpp:184-196`): a definition whose whole body is
    * `if <prop>.ever(== <literal>) return(true)` is a value-index lookup —
    * the population is the index's distinct-customer count for that
    * (prop, value), zero row scans. Equality only: our index stores exact
    * per-(value, bucket) counts (not person bitmaps), which sum across
    * values only disjointly — a range predicate could double-count a
    * person matching two values. When EVERY definition is countable (and
    * no WAL overlays uncommitted rows), the whole route answers
    * index-only; otherwise the standard engine pass runs. */
  def querySegment(table: String, script: String, nowMs: Long): String = {
    val m = catalog.describe(table)
    val defs = graft.osl.Parser.segments(script)
    val counts = indexCountable(m, table, defs) match {
      case Some(lookups) =>
        val idx = PropIndex.ensure(spark, catalog, table)
        lookups.map { case (name, (prop, vType, litV)) =>
          val n = PropIndex.valueCounts(idx, prop)
            .where(col("value_str").cast(vType) === lit(litV))
            .agg(coalesce(sum(col("customers")), lit(0L)))
            .collect().head.getLong(0)
          name -> n
        }.toMap
      case None =>
        graft.osl.OslEngine.segments(catalog.events(table), script,
            now = nowMs, sessionGapMs = m.settings.sessionTimeMs)
          .groupBy(col("segment")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    defs.map(d => s"""{"segment":"${d.name}","count":${counts.getOrElse(d.name, 0L)}}""")
      .mkString("[", ",", "]")
  }

  /** Some((name -> (prop, sparkType, typed literal)) per def) when EVERY
    * definition is an index-countable equality lookup; None otherwise. */
  private def indexCountable(m: TableMeta, table: String,
                             defs: Seq[graft.osl.Ast.SegmentDef])
      : Option[Seq[(String, (String, org.apache.spark.sql.types.DataType, Any))]] = {
    import graft.osl.Ast._
    import org.apache.spark.sql.types._
    if (defs.isEmpty || catalog.hasPendingWal(table)) return None
    val lookups = defs.map { d =>
      d.code match {
        case Seq(If(PropTest(prop, "ever", Comparator("==", Lit(v)), None, false),
                    Seq(Return(Some(Lit(t)))), Seq()))
            if t.truthy && PropIndex.indexable(m, prop) =>
          // lossless (type, literal) pairings only — anything else keeps
          // the engine's full coercion semantics
          val typed: Option[(DataType, Any)] =
            (m.eventsSchema(prop).dataType, v) match {
              case (StringType, s: graft.osl.VStr)   => Some((StringType, s.s))
              case (LongType, i: graft.osl.VInt)     => Some((LongType, i.i))
              case (DoubleType, i: graft.osl.VInt)   => Some((DoubleType, i.i.toDouble))
              case (DoubleType, f: graft.osl.VDbl)   => Some((DoubleType, f.d))
              case (BooleanType, b: graft.osl.VBool) => Some((BooleanType, b.b))
              case _ => None
            }
          typed.map(tv => d.name -> ((prop, tv._1, tv._2)))
        case _ => None
      }
    }
    if (lookups.forall(_.isDefined)) Some(lookups.flatten) else None
  }

  /** `GET /v1/query/{t}/property/{p}` with the full parameter surface
    * (docs/rest/README.md:296-316): value search modes
    * (`gt/gte/lt/lte/eq/between/rx/sub`), `bucket=` numeric grouping,
    * `order=asc/desc` (by customer count; default desc), `trim=` top-k, and
    * `segments=` per-segment distinct-customer counts (`*` = everyone;
    * named segments read the membership last written by [[segmentRefresh]]).
    * All answered by one scan + one hash aggregation; memberships broadcast. */
  def queryProperty(table: String, prop: String,
                    bucket: Option[Double] = None,
                    modes: Seq[(String, String)] = Nil,
                    order: String = "desc", trim: Int = 0,
                    segments: Seq[String] = Nil): String = {
    require(bucket.forall(_ > 0), s"bucket must be > 0, got ${bucket.get}")
    // every search mode is a VALUE-level predicate — evaluable on raw rows
    // and on the materialized value index alike
    def applyModes(df: DataFrame, str: org.apache.spark.sql.Column): DataFrame = {
      val num = str.try_cast("double") // ANSI-safe numeric view
      modes.foldLeft(df) { case (d, (op, v)) =>
        op match {
          case "gt"  => d.where(num > v.toDouble)
          case "gte" => d.where(num >= v.toDouble)
          case "lt"  => d.where(num < v.toDouble)
          case "lte" => d.where(num <= v.toDouble)
          case "eq"  => d.where(num === v.toDouble)
          case "between" => // "lo,hi": >= lo and < hi (reference: between + and)
            val Array(lo, hi) = v.split(",", 2).map(_.trim.toDouble)
            d.where(num >= lo && num < hi)
          case "rx"  => d.where(str.rlike(v))
          case "sub" => d.where(str.contains(v))
          case other => throw new IllegalArgumentException(s"bad search mode '$other'")
        }
      }
    }
    val segNames = if (segments.isEmpty) Seq("*") else segments
    val m = catalog.describe(table)
    // INDEX-ONLY path (the reference's attribute-index answer,
    // src/oloop_property.cpp:34-307): plain distinct-person counts over an
    // indexable scalar prop with no numeric re-bucketing and no named
    // segments read the materialized (prop, value, bucket) postings —
    // zero event-row scans. Falls back to the row scan otherwise (numeric
    // bucket= merges values, so per-value counts can't sum; a pending WAL
    // holds uncommitted rows the index doesn't cover).
    val indexOnly = bucket.isEmpty && segNames == Seq("*") &&
      PropIndex.indexable(m, prop) && !catalog.hasPendingWal(table)
    val limited =
      if (indexOnly) {
        val vType = m.eventsSchema(prop).dataType
        val counts = PropIndex.valueCounts(
          PropIndex.ensure(spark, catalog, table), prop)
        val sorted = applyModes(counts, col("value_str"))
          .select(col("value_str").cast(vType).as("__v"),
            col("customers").as("__c0"))
          .orderBy(
            if (order == "asc") col("__c0").asc else col("__c0").desc,
            col("__v").asc)
        if (trim > 0) sorted.limit(trim) else sorted
      } else {
        val ev = catalog.events(table)
        val c = col(prop)
        val num = c.cast("string").try_cast("double")
        val filtered = applyModes(ev, c.cast("string"))
        val valueCol = bucket match {
          case Some(b) => (floor(num / b) * b).as("__v")
          case None    => c.as("__v")
        }
        val withFlags = segNames.zipWithIndex.foldLeft(filtered.select(valueCol, col("id"))) {
          case (df, ("*", i)) => df.withColumn(s"__s$i", lit(true))
          case (df, (name, i)) =>
            val members = graft.streaming.Streams.membership(spark,
              new java.io.File(warehouse, table).toString, name)
              .select(col("id").as("__mid"))
            df.join(broadcast(members), df("id") === col("__mid"), "left")
              .withColumn(s"__s$i", col("__mid").isNotNull).drop("__mid")
        }
        val aggs = segNames.indices.map(i =>
          countDistinct(when(col(s"__s$i"), col("id"))).as(s"__c$i"))
        val counted = withFlags.groupBy(col("__v"))
          .agg(aggs.head, aggs.tail: _*)
        // reference default: descending by customer count (first segment)
        val sorted = counted.orderBy(
          if (order == "asc") col("__c0").asc else col("__c0").desc,
          col("__v").asc)
        if (trim > 0) sorted.limit(trim) else sorted
      }
    val rows = limited.collect()
    rows.map { r =>
      val v = Option(r.get(0)).map {
        case s: String => Json.str(s)
        case d: Double => if (d == d.floor && math.abs(d) < 1e15) d.toLong.toString else d.toString
        case o => o.toString
      }.getOrElse("null")
      if (segNames == Seq("*"))
        s"""{"value":$v,"customers":${r.getLong(1)}}"""
      else {
        val cs = segNames.zipWithIndex.map { case (n, i) =>
          s""""$n":${r.getLong(1 + i)}"""
        }.mkString(",")
        s"""{"value":$v,"counts":{$cs}}"""
      }
    }.mkString("[", ",", "]")
  }

  /** `GET /v1/query/{t}/customer?id=`: one customer's history as JSON.
    * Reads only the customer's id-hash bucket (partition-pruned). */
  def queryCustomer(table: String, id: Any): String =
    Customers.historyJson(catalog.customerEvents(table, id), id)

  /** Reference histogram fill/clip (`src/result.cpp:780-941`
    * jsonResultHistogramFill): applied whenever `bucket=` is set. min/max
    * default to the OBSERVED key set; `min=`/`max=` override. Every count at
    * a key >= max totals into one re-injected max branch (tail clipping);
    * keys missing from [min, max) zero-fill; keys below min stay as-is. */
  private def histogramRender(rows: Seq[(Double, Long)], bucket: Option[Double],
                              minO: Option[Double], maxO: Option[Double]): String = {
    def fmt(g: Double) =
      if (g == g.floor && math.abs(g) < 1e15) g.toLong.toString else g.toString
    require(bucket.forall(_ > 0), s"bucket must be > 0, got ${bucket.get}")
    val filled: Seq[(Double, Long)] = bucket match {
      case _ if rows.isEmpty => Nil
      case None => rows.sortBy(_._1)
      case Some(b) =>
        val keys = rows.map(_._1)
        val mn = minO.getOrElse(keys.min)
        val mx = maxO.getOrElse(keys.max)
        val overflow = rows.filter(_._1 >= mx).map(_._2).sum
        val kept = rows.filter(_._1 < mx).toMap
        // Fill keys on the SAME grid as the data (floor(v/b)*b): indexing
        // from floor(mn/b) and multiplying per key — never accumulating —
        // so fractional buckets (0.1*3 != 0.30000000000000004) can't
        // produce a zero-filled twin next to a real entry.
        val k0 = math.floor(mn / b)
        val zeroFill = Iterator.from(0).map(i => (k0 + i) * b)
          .takeWhile(_ < mx)
          .filterNot(kept.contains).map(_ -> 0L).toSeq
        (kept.toSeq ++ zeroFill :+ (mx -> overflow)).sortBy(_._1)
    }
    filled.map { case (g, c) => s"""{"g":${fmt(g)},"c":$c}""" }
      .mkString("[", ",", "]")
  }

  /** `POST /v1/query/{t}/histogram/{name}`: per-person `return(expr)` →
    * bucketed distinct-person counts, filled/clipped per the reference
    * (src/oloop_histogram.cpp + result.cpp histogram fill). */
  def queryHistogram(table: String, name: String, script: String, nowMs: Long,
                     bucket: Option[Double] = None,
                     min: Option[Double] = None,
                     max: Option[Double] = None,
                     foreach: Option[String] = None,
                     foreachMax: Int = 256): String = {
    require(bucket.forall(_ > 0), s"bucket must be > 0, got ${bucket.get}")
    val m = catalog.describe(table)
    def runOne(inject: String): Seq[(Double, Long)] = {
      val perPerson = graft.osl.OslEngine.histogram(catalog.events(table),
        inject + script, now = nowMs, sessionGapMs = m.settings.sessionTimeMs)
      val keyed = bucket match {
        case Some(b) => perPerson.groupBy((floor(col("value") / b) * b).as("g"))
        case None => perPerson.groupBy(col("value").as("g"))
      }
      keyed.agg(countDistinct(col("id")).as("customers"))
        .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
    }
    def render(rows: Seq[(Double, Long)]): String =
      histogramRender(rows, bucket, min, max)
    foreach match {
      case None => s"""{"name":"$name","histogram":${render(runOne(""))}}"""
      case Some(prop) =>
        val groups = foreachHistogram(catalog.events(table),
          catalog.events(table), script, prop,
          bucket, nowMs, m.settings.sessionTimeMs, foreachMax)
        val inner = groups.map { case (v, rows) =>
          s"""${Json.str(v)}:${render(rows)}"""
        }.mkString(",")
        s"""{"name":"$name","histogram":{$inner}}"""
    }
  }

  /** `foreach=` histogram evaluation as ONE distributed plan: the distinct
    * value walk feeds [[graft.osl.OslEngine.histogramForeach]], which binds
    * `each_value` per customer IN MEMORY inside a single per-person pass,
    * and one grouped aggregation buckets every value's per-person returns
    * together. Replaces |values| sequential driver-looped Spark jobs with 2
    * jobs total regardless of value count. Returns (value → bucket rows) in
    * the distinct-collect order the sequential loop produced.
    *
    * `maxValues` bounds the per-value fan-out (each distinct value is a
    * whole histogram in the response, and `each_value` state is
    * per-(person, value)); the reference iterates the property's FULL
    * value index (src/oloop_histogram.cpp:232-330), so exceeding the bound
    * FAILS LOUDLY — a silent cap would drop response groups (round-17 #4;
    * callers raise `foreachMax` deliberately instead). */
  private def foreachHistogram(events: DataFrame, valuesFrom: DataFrame,
                               script: String, prop: String,
                               bucket: Option[Double], nowMs: Long,
                               sessionGapMs: Long,
                               maxValues: Int): Seq[(String, Seq[(Double, Long)])] = {
    require(maxValues > 0, s"foreach_max must be > 0, got $maxValues")
    // value walk over the UNFILTERED table — the reference reads the
    // property index, which segment membership does not narrow. limit+1
    // detects (without scanning) whether the true value set exceeds the cap
    val values = valuesFrom.select(col(prop)).distinct()
      .limit(maxValues + 1).collect().map(_.get(0)).filter(_ != null)
    require(values.length <= maxValues,
      s"foreach=$prop has more than $maxValues distinct values; raise " +
        s"foreach_max (the response carries one histogram PER value) or " +
        s"bucket the property instead")
    if (values.isEmpty) return Nil
    val perPerson = graft.osl.OslEngine.histogramForeach(
      events, script, scala.collection.immutable.ArraySeq.unsafeWrapArray(values),
      now = nowMs, sessionGapMs = sessionGapMs)
    val keyed = bucket match {
      case Some(b) => perPerson.groupBy(col("each_value"),
        (floor(col("value") / b) * b).as("g"))
      case None => perPerson.groupBy(col("each_value"), col("value").as("g"))
    }
    val grouped = keyed.agg(countDistinct(col("id")).as("customers"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (k, rs) =>
        k -> scala.collection.immutable.ArraySeq.unsafeWrapArray(
          rs.map(r => (r.getDouble(1), r.getLong(2)))): (String, Seq[(Double, Long)]) }
    values.toSeq.map(v => String.valueOf(v) ->
      grouped.getOrElse(String.valueOf(v), Nil))
  }

  // ------------------------------------------------------- segments + subs
  /** Segment refresh over the stored table — the reference's background
    * refresh loop (`src/oloop_seg_refresh.cpp`), run on demand or on the
    * schedule each `@segment`'s `refresh=` flag dictates. Membership diffs
    * append enter/exit events that subscriptions consume. */
  def segmentRefresh(table: String, script: String, nowMs: Long): String = {
    val defs = graft.osl.Parser.segments(script)
    val fns: Map[String, graft.streaming.Streams.SegmentFn] =
      defs.map { d =>
        d.name -> ((ev: DataFrame) =>
          graft.osl.OslEngine.segments(ev, script, now = nowMs)
            .where(col("segment") === d.name))
      }.toMap
    graft.streaming.Streams.refreshSegments(spark,
      new java.io.File(warehouse, table).toString, fns, nowMs,
      // the committed catalog view, never the raw listing (round 16)
      historyOverride = Some(_ => catalog.events(table)))
    // hand the refresh's enter/exit diff to the push worker — delivery is
    // async so a slow webhook can't stall the refresh loop
    schedulePushDrain(table, nowMs)
    // streaming small-file maintenance: fold the append-only enter/exit
    // log back to one file once it fragments
    graft.streaming.Streams.compactSegmentEvents(spark,
      new java.io.File(warehouse, table).toString): Unit
    defs.map(d => "\"" + d.name + "\"").mkString("{\"refreshed\":[", ",", "]}")
  }

  /** `PUT /v1/subscription/{t}/{segment}/{sub}`: register an independent
    * feed over the segment's enter/exit events (docs/rest/README.md:160-216;
    * default retention 3 h). With `pushUrl` set, the feed is PUSH-delivered:
    * every ingest batch / segment refresh drains pending messages to the
    * webhook ([[subscriptionPushDrain]]) — the reference broker's
    * per-subscriber queue + notify (src/message_broker.h:19-130). Without
    * it, the feed is poll-only ([[subscriptionPoll]]). */
  def subscriptionCreate(table: String, segment: String, sub: String,
                         retentionMs: Long = 3L * 3600 * 1000,
                         nowMs: Long, pushUrl: Option[String] = None): String = {
    val f = subFile(table, segment, sub)
    f.getParentFile.mkdirs()
    writeSub(f, cursor = nowMs - retentionMs, retentionMs,
      pushUrl = pushUrl.getOrElse(""))
    s"""{"message":"subscribed","segment":"$segment","subscriber":"$sub"}"""
  }

  def subscriptionDelete(table: String, segment: String, sub: String): String = {
    val f = subFile(table, segment, sub)
    require(f.isFile, s"no such subscription '$sub'")
    f.delete()
    s"""{"message":"unsubscribed","segment":"$segment","subscriber":"$sub"}"""
  }

  /** Poll a subscription: enter/exit messages since the subscriber's cursor
    * (each feed is independent), in the reference's message shape.
    *
    * The cursor is a (stamp, id) watermark, not a bare stamp — a refresh
    * stamps its whole diff batch with one nowMs, so a poll racing a refresh
    * re-delivers the remaining same-stamp rows on the next poll instead of
    * permanently skipping them. A missing event log reads as an empty feed;
    * any other read failure propagates to the caller. */
  def subscriptionPoll(table: String, segment: String, sub: String,
                       nowMs: Long): String = {
    val f = subFile(table, segment, sub)
    require(f.isFile, s"no such subscription '$sub'")
    val st = readSub(f)
    val (events, payload, newCursor, newCursorId) =
      pendingMessages(table, segment, sub, st, nowMs)
    writeSub(f, newCursor, st.retentionMs, newCursorId, st.pushUrl)
    val _ = events
    payload
  }

  /** The subscription's undelivered messages since its cursor, in the
    * reference's message shape, plus the advanced cursor. Shared by the
    * poll and push paths so both deliver identical feeds. */
  private def pendingMessages(table: String, segment: String, sub: String,
                              st: SubState, nowMs: Long)
      : (Array[org.apache.spark.sql.Row], String, Long, String) = {
    val logDir = new java.io.File(warehouse, s"$table/segment_events")
    def scan(): Array[org.apache.spark.sql.Row] =
      if (!logDir.isDirectory) Array.empty[org.apache.spark.sql.Row]
      else graft.streaming.Streams.segmentEvents(spark,
          new java.io.File(warehouse, table).toString)
        .where(col("segment") === segment &&
          col("stamp") > (nowMs - st.retentionMs) &&
          (col("stamp") > st.cursor ||
            (col("stamp") === st.cursor && col("id").cast("string") > st.cursorId)))
        .orderBy(col("stamp"), col("id"))
        .collect()
    // a compaction swap renames the log dir under a planned scan for a
    // moment; one recover-and-retry absorbs the race (cursor semantics are
    // file-independent, so the retried read sees the identical feed)
    val events =
      try scan()
      catch { case _: Exception =>
        graft.Fs.recoverForRead(logDir.toString)
        scan()
      }
    val msgs = events.map { r =>
      val stamp = r.getAs[Long]("stamp")
      val iso = java.time.Instant.ofEpochMilli(stamp).toString
      s"""{"stamp":$stamp,"stamp_iso":"$iso","uid":${Json.str(String.valueOf(r.getAs[Any]("id")))},"state":"${r.getAs[String]("state")}"}"""
    }.mkString(",")
    val (newCursor, newCursorId) = events.lastOption
      .map(r => (r.getAs[Long]("stamp"), String.valueOf(r.getAs[Any]("id"))))
      .getOrElse((st.cursor, st.cursorId))
    val payload =
      s"""{"segment":"$segment","subscriber":"$sub","count":${events.length},"messages":[$msgs]}"""
    (events, payload, newCursor, newCursorId)
  }

  /** Push delivery: drain every push-registered subscription of `table`,
    * POSTing its pending enter/exit batch to the registered webhook. The
    * cursor advances ONLY on a 2xx response — a failed or unreachable hook
    * leaves it in place, so the next drain retries the same batch
    * (at-least-once, like the reference broker's retained per-subscriber
    * queues, src/message_broker.h:19-130); retention bounds the replay
    * window exactly as it bounds a slow poller. Empty batches are not
    * posted. Returns a JSON delivery report. Ingest batches and segment
    * refreshes enqueue this via [[schedulePushDrain]] — the POSTs run on
    * the push worker thread, never on the hot path. */
  def subscriptionPushDrain(table: String, nowMs: Long): String = {
    val subsRoot = new java.io.File(warehouse, s"$table/subs")
    val subs = for {
      segDir <- Option(subsRoot.listFiles()).getOrElse(Array.empty).toSeq
      if segDir.isDirectory
      f <- Option(segDir.listFiles()).getOrElse(Array.empty).toSeq
      if f.isFile && f.getName.endsWith(".properties")
    } yield (segDir.getName, f.getName.stripSuffix(".properties"), f)
    val reports = subs.flatMap { case (segment, sub, f) =>
      // per-subscription isolation: one broken/racing subscription (e.g.
      // deleted between the listing and the read) must not abort the whole
      // drain — its batch just retries next cycle
      try {
        val st = readSub(f)
        if (st.pushUrl.isEmpty) None
        else {
          val (events, payload, newCursor, newCursorId) =
            pendingMessages(table, segment, sub, st, nowMs)
          if (events.isEmpty)
            Some(s"""{"subscriber":"$sub","segment":"$segment","delivered":0}""")
          else {
            val ok = postJson(st.pushUrl, payload)
            if (ok) writeSub(f, newCursor, st.retentionMs, newCursorId, st.pushUrl)
            Some(s"""{"subscriber":"$sub","segment":"$segment","delivered":${
              if (ok) events.length else 0},"ok":$ok}""")
          }
        }
      } catch { case e: Exception =>
        Some(s"""{"subscriber":"$sub","segment":"$segment","delivered":0,"ok":false,"error":${Json.str(
          Option(e.getMessage).getOrElse(e.getClass.getName).take(200))}}""")
      }
    }
    s"""{"pushed":[${reports.mkString(",")}]}"""
  }

  // ------------------------------------------------- async push delivery
  // The ingest/refresh hot paths only ENQUEUE a drain request; one daemon
  // worker performs the webhook POSTs (the reference broker decouples
  // delivery from insert the same way — per-subscriber queues drained by
  // the broker thread, src/message_broker.h:19-130). N slow subscribers
  // (10 s timeout each) therefore delay only later DELIVERIES, never an
  // ingest batch or a refresh. Requests per table coalesce: scheduling
  // while one is queued just merges the drain timestamp (max wins), so a
  // burst of batches against a hanging hook queues O(1) work, and cursors
  // still advance only on 2xx — delivery stays at-least-once.
  private val pushPending =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private lazy val pushExec =
    java.util.concurrent.Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "graft-push-drain"); t.setDaemon(true); t
    }

  /** Enqueue a push drain of `table`'s subscriptions, evaluated by the
    * worker with drain timestamp `nowMs` (callers pass their own pinned
    * time — the ingest path passes a FRESH clock() per batch, so retention
    * keeps moving on a long-running stream instead of freezing at the
    * stream-start timestamp). */
  def schedulePushDrain(table: String, nowMs: Long): Unit = {
    var fresh = false
    pushPending.compute(table, (_, old) => {
      if (old == null) { fresh = true; java.lang.Long.valueOf(nowMs) }
      else java.lang.Long.valueOf(math.max(old.longValue(), nowMs))
    })
    if (fresh) pushExec.execute { () =>
      val now = pushPending.remove(table)
      if (now != null)
        try subscriptionPushDrain(table, now.longValue()): Unit
        catch { case _: Exception => () }
    }
  }

  /** Await completion of every push drain scheduled before this call
    * (single worker thread: a sentinel task runs after them). Test hook
    * and graceful-shutdown aid. */
  def pushDrainAwait(timeoutMs: Long = 30000L): Unit =
    pushExec.submit(new Runnable { def run(): Unit = () })
      .get(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS): Unit

  private def postJson(url: String, body: String): Boolean =
    try {
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
        .timeout(java.time.Duration.ofSeconds(10))
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
        .build()
      val rsp = Api.httpClient.send(req,
        java.net.http.HttpResponse.BodyHandlers.discarding())
      rsp.statusCode() >= 200 && rsp.statusCode() < 300
    } catch { case _: Exception => false }

  private final case class SubState(cursor: Long, cursorId: String,
                                    retentionMs: Long, pushUrl: String)

  private def subFile(table: String, segment: String, sub: String) =
    new java.io.File(new java.io.File(warehouse, table), s"subs/$segment/$sub.properties")

  private def writeSub(f: java.io.File, cursor: Long, retentionMs: Long,
                       cursorId: String = "", pushUrl: String = ""): Unit = {
    val p = new java.util.Properties()
    p.setProperty("cursor", cursor.toString)
    p.setProperty("cursor_id", cursorId)
    p.setProperty("retention_ms", retentionMs.toString)
    p.setProperty("push_url", pushUrl)
    val out = new java.io.FileOutputStream(f)
    try p.store(out, null) finally out.close()
  }

  private def readSub(f: java.io.File): SubState = {
    val p = new java.util.Properties()
    val in = new java.io.FileInputStream(f)
    try p.load(in) finally in.close()
    SubState(p.getProperty("cursor").toLong,
      Option(p.getProperty("cursor_id")).getOrElse(""),
      p.getProperty("retention_ms").toLong,
      Option(p.getProperty("push_url")).getOrElse(""))
  }

  // ---------------------------------------------------------------- streaming
  /** Live ingest into a catalog table — the reference's insert drain loop
    * (`src/oloop_insert.cpp`) as Structured Streaming: micro-batches append
    * to the table's event log, `on_insert` segments refresh incrementally
    * for the touched customers only, and their enter/exit events feed any
    * registered [[subscriptionPoll]] cursors. The stream must carry the
    * table's events schema (id, stamp, event, …). */
  def startIngest(table: String, stream: DataFrame, checkpoint: String,
                  onInsertScript: Option[String] = None,
                  nowMs: Long): org.apache.spark.sql.streaming.StreamingQuery = {
    require(catalog.exists(table), s"no such table '$table'")
    // Schema contract validated at stream START, not first batch: columns
    // the table doesn't declare would be silently dropped by insert's
    // aligned select (a behavior change from the old flat-append route —
    // data loss the user only notices at read time), so reject them loudly
    // here where the fix (declare the property / drop the column) is clear.
    locally {
      val declared = catalog.describe(table).eventsSchema.fieldNames.toSet
      val extra = stream.columns.filterNot(declared)
      require(extra.isEmpty,
        s"stream carries undeclared columns ${extra.mkString(", ")} for " +
          s"table '$table' — declare them as properties or drop them upstream")
    }
    val fns: Map[String, graft.streaming.Streams.SegmentFn] =
      onInsertScript.map { script =>
        graft.osl.Parser.segments(script)
          // only segments flagged on_insert=true refresh per batch (the
          // reference defaults the flag to FALSE, rpc_query.cpp:693); the
          // rest wait for the scheduled refresh loop
          .filter(_.flags.get("on_insert").exists(_.equalsIgnoreCase("true")))
          .map { d =>
            d.name -> ((ev: DataFrame) =>
              graft.osl.OslEngine.segments(ev, script, now = nowMs)
                .where(col("segment") === d.name))
          }.toMap
      }.getOrElse(Map.empty)
    graft.streaming.Streams.startIngest(stream,
      new java.io.File(warehouse, table).toString, checkpoint, fns,
      // per-batch clock(): the drain cutoff must track wall time on a
      // long-running stream, not freeze at the stream-start nowMs — and
      // the enqueue is O(1), so subscriber health never gates batch latency
      afterBatch = () => schedulePushDrain(table, clock()),
      // route each micro-batch through the CATALOG insert pipeline
      // (upsert/z-order/TTL + the bucketed manifest-committed layout) and
      // read segment history from the committed view — a flat append next
      // to a manifest store would be invisible to catalog reads (round 16;
      // the reference's insert consumer drains into the same table store,
      // src/oloop_insert.cpp:166-183). Streamed tables thereby ride the
      // same exchange-free person-scoped plans as batch-inserted ones.
      ingest = Some { b =>
        // a stream need not carry every declared prop — absent ones land
        // as nulls, and present ones CAST to the declared type (the same
        // coercion the raw-JSON route's schema-driven parse applies; an
        // uncastable value fails the batch loudly instead of failing later
        // inside unionByName with a confusing merge error)
        val m = catalog.describe(table)
        val aligned = m.eventsSchema.fields.foldLeft(b)((df, f) =>
          if (df.columns.contains(f.name))
            df.withColumn(f.name, col(f.name).cast(f.dataType))
          else df.withColumn(f.name, lit(null).cast(f.dataType)))
        catalog.insert(table, aligned, clock())
      },
      history = Some(_ => catalog.events(table)))
  }

  // -------------------------------------------------------------------- batch
  /** `POST /v1/query/{t}/batch` (docs/rest/README.md:379-415): one text
    * block mixing `@segment` definitions (refreshed first), `@use` (segment
    * scope for what follows), `@property name [bucket=]` and
    * `@histogram name [bucket=|min=|max=|foreach=]` sections with their
    * scripts — answered as one combined JSON document. */
  def queryBatch(table: String, script: String, nowMs: Long): String = {
    final case class Section(kind: String, header: String, body: StringBuilder)
    val sections = scala.collection.mutable.ArrayBuffer.empty[Section]
    script.linesIterator.foreach { line =>
      val t = line.trim
      if (t.startsWith("@")) {
        val kind = t.drop(1).takeWhile(!_.isWhitespace)
        sections += Section(kind, t.drop(1 + kind.length).trim, new StringBuilder)
      } else if (sections.nonEmpty)
        sections.last.body.append(line).append("\n")
    }

    def flags(header: String): (Seq[String], Map[String, String]) = {
      val parts = header.split("\\s+").filter(_.nonEmpty)
      val (kv, bare) = parts.partition(_.contains("="))
      (bare.toSeq, kv.map { p =>
        val Array(k, v) = p.split("=", 2); k -> v
      }.toMap)
    }
    // time literals in flag values (5_minutes) expand like the lexer does
    def spanMs(v: String): Double = graft.osl.Lexer.lex(s"x = $v")
      .collectFirst { case graft.osl.Lexer.TInt(ms) => ms.toDouble }
      .getOrElse(v.toDouble)

    // 1. refresh all @segment sections in one pass
    val segSections = sections.filter(_.kind == "segment")
    if (segSections.nonEmpty) {
      val segScript = segSections
        .map(s => s"@segment ${s.header}\n${s.body}").mkString("\n")
      segmentRefresh(table, segScript, nowMs)
    }

    var useSegments: Seq[String] = Nil
    def memberFilter(df: DataFrame): DataFrame =
      if (useSegments.isEmpty) df
      else {
        val members = useSegments.map { name =>
          graft.streaming.Streams.membership(spark,
            new java.io.File(warehouse, table).toString, name)
        }.reduce(_ union _).distinct()
        df.join(broadcast(members), Seq("id"), "left_semi")
      }

    val props = scala.collection.mutable.ArrayBuffer.empty[String]
    val hists = scala.collection.mutable.ArrayBuffer.empty[String]
    sections.foreach { s =>
      s.kind match {
        case "use" => useSegments = s.header.split("\\s+").filter(_.nonEmpty).toSeq
        case "property" =>
          val (bare, kv) = flags(s.header)
          val name = bare.head
          val segs = if (useSegments.isEmpty) Nil else "*" +: useSegments
          props += s""""$name":${queryProperty(table, name,
            bucket = kv.get("bucket").map(spanMs), segments = segs)}"""
        case "histogram" =>
          val (bare, kv) = flags(s.header)
          val name = bare.head
          val bucket = kv.get("bucket").map(spanMs)
          val minO = kv.get("min").map(spanMs)
          val maxO = kv.get("max").map(spanMs)
          val events = memberFilter(catalog.events(table))
          val m = catalog.describe(table)
          def runOne(inject: String): Seq[(Double, Long)] = {
            val perPerson = graft.osl.OslEngine.histogram(events,
              inject + s.body.toString,
              now = nowMs, sessionGapMs = m.settings.sessionTimeMs)
            val keyed = bucket match {
              case Some(b) => perPerson.groupBy((floor(col("value") / b) * b).as("g"))
              case None => perPerson.groupBy(col("value").as("g"))
            }
            keyed.agg(countDistinct(col("id")).as("c"))
              .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
          }
          val counted: Seq[(String, Seq[(Double, Long)])] = kv.get("foreach") match {
            case None => Seq("" -> runOne(""))
            case Some(prop) =>
              // one grouped plan over all values — see [[foreachHistogram]]
              foreachHistogram(events, catalog.events(table),
                s.body.toString, prop, bucket, nowMs, m.settings.sessionTimeMs,
                kv.get("foreach_max").map(_.toInt).getOrElse(256))
          }
          def render(rows: Seq[(Double, Long)]): String =
            histogramRender(rows, bucket, minO, maxO)
          hists += (counted match {
            case Seq(("", rows)) => s""""$name":${render(rows)}"""
            case groups =>
              val inner = groups.map { case (v, rows) =>
                s"""${Json.str(v)}:${render(rows)}"""
              }.mkString(",")
              s""""$name":{$inner}"""
          })
        case _ => () // segment handled above
      }
    }

    val segCounts =
      if (segSections.isEmpty) ""
      else {
        val counts = segSections.map { s =>
          val name = s.header.split("\\s+").head
          val segDir = graft.streaming.Streams.membershipDir(
            new java.io.File(warehouse, table).toString, name)
          val n =
            if (!new java.io.File(segDir).isDirectory) 0L // not yet refreshed
            else spark.read.parquet(segDir).count()
          s"""{"segment":"$name","count":$n}"""
        }
        s""""segments":[${counts.mkString(",")}],"""
      }
    s"""{$segCounts"properties":{${props.mkString(",")}},"histograms":{${hists.mkString(",")}}}"""
  }

  // ------------------------------------------------------------------- status
  /** Cluster status with real executor topology. The reference's sentinel
    * tracks node membership itself (`src/sentinel.cpp`); here Spark's
    * cluster manager owns membership, so status reports what the manager
    * actually scheduled: one entry per executor (host, port, running tasks,
    * cached bytes). On `local[*]` that is the single driver-executor; on
    * `spark://`/YARN/K8s it is the live fleet — the same JSON either way,
    * so clients need no deployment-specific handling. */
  def status(): String = {
    val sc = spark.sparkContext
    val tables = catalog.list()
    val execs = sc.statusTracker.getExecutorInfos.map { e =>
      s"""{"host":"${e.host()}","port":${e.port()},"runningTasks":${e.numRunningTasks()},"cachedBytes":${e.totalOffHeapStorageMemory() + e.totalOnHeapStorageMemory()}}"""
    }
    s"""{"tables":${tables.length},"spark":"${spark.version}","master":"${sc.master}","applicationId":"${sc.applicationId}","defaultParallelism":${sc.defaultParallelism},"executors":[${execs.mkString(",")}]}"""
  }
}

object Api {
  /** Shared webhook client for subscription push delivery — one connection
    * pool per JVM, like the reference broker's outbound side. */
  private[graft] lazy val httpClient: java.net.http.HttpClient =
    java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(5))
      .build()
}
