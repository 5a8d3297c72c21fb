package graft.osl

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, KeyValueGroupedDataset, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Ast._

/** Runs OSL scripts over the normalized event DataFrame
  * `(id, stamp, event, …props)` — the engine's Tier B path (SURVEY §7.1):
  *
  *   events grouped on the `id` attribute, sorted by stamp within each
  *   person → per-customer [[Interpreter]] → per-person, per-node partial
  *   aggregates → relational merge.
  *
  * Every route runs that pass through one helper, [[perPerson]]. Because
  * it groups on the `id` attribute itself, the planner reuses a child's
  * `HashPartitioning(id)`: over the catalog's bucketed scan there is no
  * person exchange, and no stamp sort unless the scan was coalesced. Over
  * any other frame the one shuffle is on `id`, plus the final tiny
  * group-node aggregation. Partials are already deduplicated with the
  * reference's distinct-key semantics, so the merge is plain SUM/MIN/MAX —
  * associative, partial-aggregatable, skew-tolerant.
  */
object OslEngine {

  val MaxDepth = 8 // result tree key depth cap (src/result.h:19)

  /** Flattened per-person, per-node partial emitted by the interpreter. */
  private val partialSchema: StructType = {
    val gs = (1 to MaxDepth).map(i => StructField(s"g$i", StringType, nullable = true))
    StructType(
      StructField("depth", IntegerType) +: gs)
  }

  private def fullPartialSchema(nSel: Int): StructType = {
    val aggFields = (0 until nSel).flatMap { j =>
      Seq(
        StructField(s"s_$j", LongType), StructField(s"c_$j", LongType),
        StructField(s"mn_$j", DoubleType), StructField(s"mx_$j", DoubleType),
        StructField(s"l_$j", LongType), StructField(s"ls_$j", StringType),
        StructField(s"q_$j", LongType))
    }
    StructType(partialSchema.fields ++ aggFields)
  }

  /** Convert one person's Spark Rows into the interpreter's value arrays. */
  private def personRows(it: Iterator[Row]): IndexedSeq[Array[Value]] =
    ArraySeq.unsafeWrapArray(it.map { row =>
      val out = new Array[Value](row.length)
      var i = 0
      while (i < out.length) {
        out(i) = if (row.isNullAt(i)) VNone else Value(row.get(i))
        i += 1
      }
      out
    }.toArray)

  /** Run an event query script; returns the group-tree nodes as rows
    * `(depth, g1..g8, <select aliases…>)`. */
  def query(events: DataFrame, script: String,
            now: Long, sessionGapMs: Long = 30 * 60 * 1000L,
            forceTierB: Boolean = false,
            stampedRowIds: Boolean = false): DataFrame = {
    val program = Parser.program(script)
    if (!forceTierB && !stampedRowIds) {
      // a reference to a prop the frame doesn't carry resolves to NIL in
      // the interpreter (Value.cmp string semantics) but to an UNRESOLVED
      // column in a compiled plan — Tier A's eager withColumn/select
      // construction then throws AnalysisException mid-compile. That's a
      // decline, not an error: Tier B is the authority for missing-prop
      // scripts (round 15 — previously the exception escaped to the
      // caller and the query crashed instead of answering).
      val compiled =
        try TierA.compile(program, events, now, sessionGapMs)
        catch { case _: org.apache.spark.sql.AnalysisException => None }
      compiled match {
        case Some(df) => return df
        case None => ()
      }
    }
    val selects =
      (if (program.select.nonEmpty) program.select
       else Seq(SelectCol("count", "id", "id", None, all = false))).toVector

    val partials = runInterpreter(prefilter(events, program.code, now),
      program, selects.length, now, sessionGapMs, stampedRowIds)

    val gCols = (1 to MaxDepth).map(i => col(s"g$i"))
    val aggExprs = selects.zipWithIndex.map { case (sel, j) =>
      // sums are ×10,000 fixed-point longs: exact merge, then one double
      // division — equal to the oracle's CAST(SUM(DECIMAL) AS DOUBLE)
      sel.agg match {
        case "count"          => sum(col(s"c_$j")).as(sel.alias)
        case "sum"            => (sum(col(s"s_$j")) / lit(10000.0)).as(sel.alias)
        case "min"            => min(col(s"mn_$j")).as(sel.alias)
        case "max"            => max(col(s"mx_$j")).as(sel.alias)
        case "avg"            => (sum(col(s"s_$j")) / lit(10000.0) / sum(col(s"c_$j"))).as(sel.alias)
        // `value`: last tally wins — deterministic here via the max tally
        // sequence across persons (the reference overwrites in merge order,
        // src/result.cpp:347-351, which is thread-arbitrary). Output type
        // follows the SOURCE property: text properties return the string
        // (result.cpp:709-711), everything else the number.
        case "value" =>
          val isText = events.schema.fields
            .find(_.name == sel.prop).exists(_.dataType == StringType)
          if (isText)
            when(max(col(s"q_$j")) >= 0,
              max(struct(col(s"q_$j").as("q"), col(s"ls_$j").as("v")))
                .getField("v")).as(sel.alias)
          else
            when(max(col(s"q_$j")) >= 0,
              max(struct(col(s"q_$j").as("q"), col(s"l_$j").as("l")))
                .getField("l") / 10000.0).as(sel.alias)
        // `var`: deduped tally counter (src/queryinterpreter.cpp:306-311)
        case _ /*var*/        => sum(col(s"c_$j")).as(sel.alias)
      }
    }
    partials.groupBy(col("depth") +: gCols: _*)
      .agg(aggExprs.head, aggExprs.tail: _*)
  }

  /** Run a multi-`@segment` script; returns membership `(segment, id)`.
    * All segments evaluate in ONE pass over each customer. */
  def segments(events: DataFrame, script: String,
               now: Long, sessionGapMs: Long = 30 * 60 * 1000L,
               forceTierB: Boolean = false): DataFrame = {
    val allDefs = Parser.segments(script)
    // MIXED compilation: each definition compiles independently when its
    // shape allows; a funnel segment in the script no longer drags the
    // declarative ones into the interpreter. Declarative defs share one
    // aggregation pass; funnel (chain) defs compile to window-exists plans
    // (round 4); the rest share one interpreter pass.
    val (aggDefs0, rest0) =
      if (forceTierB) (Nil, allDefs)
      else allDefs.partition(d => TierA.segmentCompilable(d, now))
    val (chainDefs0, defs0) =
      if (forceTierB) (Nil, rest0)
      else rest0.partition(d => TierA.segmentChainCompilable(d, now))
    // one batch compile for every compilable def (shared aggregation pass);
    // the probes above are pure AST shape checks, so each def is compiled
    // exactly once. A def referencing a prop the frame doesn't carry
    // throws AnalysisException mid-compile — that's a DECLINE to the
    // interpreter's nil semantics, not an error (round 15, same seam as
    // query/histogram): re-route every compiled def to Tier B.
    val (defs, compiled) =
      try {
        val c = (TierA.compileSegments(aggDefs0, events, now).toSeq ++
          chainDefs0.map(d => TierA.compileSegmentChain(d, events, now).get))
          .reduceOption(_ unionByName _)
        (defs0, c)
      } catch {
        case _: org.apache.spark.sql.AnalysisException =>
          (allDefs, None)
      }
    (compiled, defs) match {
      case (Some(c), Seq()) => return c
      case _ =>
    }
    val colIdx = columnIndex(events)
    val interps = defs.map(d =>
      (d.name, new Interpreter(Program(Nil, d.code), colIdx, now, sessionGapMs)))
    // single-definition, single-each_row segment scripts admit the same
    // index pre-filter: skipped persons are simply non-members
    val source = defs match {
      case Seq(d) => prefilter(events, d.code, now)
      case _ => events
    }
    val interpreted = perPerson(source) { (pid, rows) =>
      interps.iterator.collect {
        case (name, interp) if interp.run(VStr(pid), rows).returned.lastOption.exists(_.truthy) =>
          (name, pid)
      }
    }(Encoders.product[(String, String)]).toDF("segment", "id")
    compiled.map(_.unionByName(interpreted)).getOrElse(interpreted)
  }

  /** Run a histogram-style script: per-person `return(expr)` values
    * (src/oloop_histogram.cpp) — returns `(id, value)` rows. */
  def histogram(events: DataFrame, script: String,
                now: Long, sessionGapMs: Long = 30 * 60 * 1000L,
                forceTierB: Boolean = false): DataFrame = {
    val program = Parser.program(script)
    if (!forceTierB) {
      // missing-prop references decline to the interpreter (nil
      // semantics), same as the event-query route (round 15)
      val compiled =
        try TierA.compileHistogram(program, events, now, sessionGapMs)
        catch { case _: org.apache.spark.sql.AnalysisException => None }
      compiled match {
        case Some(df) => return df
        case None => ()
      }
    }
    val interp = new Interpreter(program, columnIndex(events), now, sessionGapMs)
    perPerson(events) { (pid, rows) =>
      interp.run(VStr(pid), rows).returned.iterator.map(v => (pid, v.asDouble))
    }(Encoders.product[(String, Double)]).toDF("id", "value")
  }

  /** Foreach-mode histogram (`each_value` iteration,
    * src/oloop_histogram.cpp:232-330): for EVERY customer × EVERY distinct
    * value of the foreach property, run the script with the `each_value`
    * variable bound and emit the per-person return values. Returns
    * `(each_value, id, value)` rows.
    *
    * Scale shape: ONE per-person pass — the same [[perPerson]] pass the
    * plain histogram pays — with the (bounded, index-walk-sized) value list
    * riding in the closure; the inner loop over values happens in memory
    * against the customer's already-sorted rows, exactly the reference's
    * per-partition loop. The alternative (one full query per value, driver
    * sequential) costs |values| Spark jobs and |values| shuffles. */
  def histogramForeach(events: DataFrame, script: String, values: Seq[Any],
                       now: Long, sessionGapMs: Long = 30 * 60 * 1000L): DataFrame = {
    val program = Parser.program(script)
    val interp = new Interpreter(program, columnIndex(events), now, sessionGapMs)
    val vals: Array[Any] = values.toArray
    perPerson(events) { (pid, rows) =>
      vals.iterator.flatMap { v =>
        val res = interp.run(VStr(pid), rows, Map("each_value" -> Value(v)))
        res.returned.iterator.map(r => (String.valueOf(v), pid, r.asDouble))
      }
    }(Encoders.product[(String, String, Double)]).toDF("each_value", "id", "value")
  }

  /** Run a script per customer and emit the customer-property write-back
    * frame `(id, <customer props…>)` — one row per person whose script
    * assigned at least one declared prop (reference `setGridProps` /
    * `propsChanged`, `src/queryinterpreter.cpp:3116-3264`; docs
    * `docs/osl/language_reference.md` "customer properties").
    *
    * `customers` declares the prop schema (`id` + typed prop columns) and
    * seeds each person's prop variables with their stored values, so reads
    * before writes see the customer record and untouched props survive the
    * whole-row merge downstream ([[graft.operators.CustomerProps.writeBack]]).
    *
    * Scale shape: ONE cogroup on the `id` attribute, events sorted by
    * stamp — the same key the storage layer buckets by, so a bucketed
    * events scan keeps its partitioning and only the customers side is
    * exchanged to match it; the output carries only ids + prop values,
    * never the event history. Persons without events emit nothing (the
    * reference only runs `on_insert` scripts for customers whose data
    * changed). */
  def propWriteback(events: DataFrame, customers: DataFrame, script: String,
                    now: Long, sessionGapMs: Long = 30 * 60 * 1000L): DataFrame = {
    val idField = events.schema("id")
    require(customers.columns.contains("id"), "customers frame must carry an id column")
    // CoGroup needs one key field on both sides, type and nullability alike.
    // Only the customers side (exchanged anyway) is reshaped, so the events
    // side keeps its partitioning; a null customer id matches no person.
    val cu = if (customers.schema("id") == idField) customers else {
      val id = col("id").try_cast(idField.dataType)
      customers.where(id.isNotNull).withColumn("id",
        if (idField.nullable) when(id.isNotNull, id)
        else coalesce(id, lit(0).cast(idField.dataType)))
    }
    val cIdx = columnIndex(cu)
    val propFields = cu.schema.fields.filterNot(_.name == "id").toVector
    require(propFields.nonEmpty, "customers frame declares no customer props")
    val outSchema = StructType(StructField("id", idField.dataType) +: propFields)
    val interp = new Interpreter(Parser.program(script), columnIndex(events), now,
      sessionGapMs, propNames = propFields.map(_.name).toSet)

    byPerson(events).cogroupSorted(byPerson(cu))(col("stamp"))() {
      (key: Row, evIt: Iterator[Row], cuIt: Iterator[Row]) =>
        if (!evIt.hasNext) Iterator.empty // customer row only: script doesn't run
        else {
          val rows = personRows(evIt)
          val init: Map[String, Value] = cuIt.nextOption() match {
            case Some(cr) => propFields.map { f =>
              val i = cIdx(f.name)
              f.name -> (if (cr.isNullAt(i)) (VNone: Value) else Value(cr.get(i)))
            }.toMap
            case None => propFields.map(_.name -> (VNone: Value)).toMap
          }
          val res = interp.run(VStr(String.valueOf(key.get(0))), rows, init)
          if (res.props.isEmpty) Iterator.empty
          else Iterator(Row.fromSeq(
            key.get(0) +: propFields.map(f => valueToSpark(res.props(f.name), f.dataType))))
        }
    }(ExpressionEncoder(outSchema)).toDF()
  }

  /** OSL value → Spark value under the DECLARED prop type — the schema
    * validation half of the reference's `setGridProps` (set props need
    * containers, empty sets store as NONE, scalars coerce per type). Set
    * elements are sorted for a deterministic stored order (the reference's
    * sets are unordered; any fixed order is faithful). */
  private def valueToSpark(v: Value, dt: DataType): Any = v match {
    case VNone => null
    case _ => dt match {
      case LongType    => v.asLong
      case IntegerType => v.asLong.toInt
      case DoubleType  => v.asDouble
      case StringType  => v.asStr
      case BooleanType => v.truthy
      case ArrayType(et, _) =>
        val items = v match {
          case VList(xs) => xs
          case VSet(xs)  => xs.toVector.sortBy(_.asStr)
          case other     => Vector(other)
        }
        if (items.isEmpty) null // empty set -> NONE (queryinterpreter.cpp:3146)
        else items.map(x => valueToSpark(x, et))
      case _ => null
    }
  }

  /** The widest stamp window a script can READ, when that window is
    * statically bounded — the hook that lets a date-partitioned events
    * layout prune whole directories for ranged queries (round-16 #5; the
    * reference reads only the index blocks its range covers,
    * `src/table.h` time blocks).
    *
    * Sound by construction: Some((lo, hi)) is returned ONLY for programs
    * whose every history read is a top-level `each_row` with a
    * constant-evaluable frame and whose where/body/select expressions read
    * nothing beyond the spawning row — no nested levels (a `.continue()`
    * step may match arbitrarily far ahead), no inline aggs, no
    * `.ever/.never` (both scan the whole history). Everything else returns
    * None = scan everything. An unframed top-level each_row widens the
    * window to (MinValue, MaxValue), which callers treat as no pruning. */
  def staticScanWindow(script: String, now: Long): Option[(Long, Long)] = {
    val program = Parser.program(script)
    def exprLocal(e: Expr): Boolean = e match {
      case Lit(_) | VarRef(_) | PropRef(_) => true
      case ListLit(xs) => xs.forall(exprLocal)
      case SetLit(xs) => xs.forall(exprLocal)
      case DictLit(ps) => ps.forall { case (k, v) => exprLocal(k) && exprLocal(v) }
      case BinOp(_, l, r) => exprLocal(l) && exprLocal(r)
      case UnOp(_, x) => exprLocal(x)
      case Call(_, args) => args.forall(exprLocal)
      case MethodCall(r, _, args) => exprLocal(r) && args.forall(exprLocal)
      case Subscript(r, i) => exprLocal(r) && exprLocal(i)
      case PropTest(_, kind, cmp, frame, _) =>
        // is/is_not test the CURRENT row; ever/never (and any framed
        // variant) scan history beyond it
        (kind == "is" || kind == "is_not") && frame.isEmpty &&
          exprLocal(cmp.operand)
      case InlineAgg(_, _, _, _, _) => false
    }
    def stmtLocal(s: Stmt): Boolean = s match {
      case EachRow(_, _, _) => false // nested level: reads past the row
      case Assign(t, _, v) => exprLocal(t) && exprLocal(v)
      case If(c, b, e) => exprLocal(c) && b.forall(stmtLocal) && e.forall(stmtLocal)
      case ForIn(_, it, b) => exprLocal(it) && b.forall(stmtLocal)
      case Tally(gs) => gs.forall(exprLocal)
      case Return(v) => v.forall(exprLocal)
      case Break(_, _, _) | ContinueStmt | ExitStmt => true
      case ExprStmt(e) => exprLocal(e)
    }
    val windows = program.code.map {
      case EachRow(mods, where, body)
          if exprLocal(where) && body.forall(stmtLocal) =>
        TierA.constBounds(mods.frame, now)
      case s if stmtLocal(s) =>
        Some((Long.MaxValue, Long.MinValue)) // reads no rows: empty window
      case _ => None
    }
    if (windows.exists(_.isEmpty) || windows.isEmpty) None
    else {
      val bs = windows.flatten
      val lo = bs.map(_._1).min
      val hi = bs.map(_._2).max
      if (lo > hi) None // no statement reads rows — nothing to prune against
      else Some((lo, hi))
    }
  }

  // ------------------------------------------------------------------ private
  /** Tier B index pre-filter (SURVEY §4.1): when the whole script is one
    * each_row, a person whose rows never satisfy the (weakened, row-pure)
    * where can produce no tallies/returns — semi-join them away before the
    * per-customer interpreter runs. The reference answers the same question
    * from its bitmap index before mounting customers. */
  private def prefilter(events: DataFrame, code: Seq[Stmt], now: Long): DataFrame =
    code match {
      case Seq(er: EachRow) =>
        TierA.rowPredicateWeakening(er.where, events.columns.toSet, now) match {
          case Some(pred) =>
            events.join(events.where(pred).select("id").distinct(), Seq("id"), "left_semi")
          case None => events
        }
      case _ => events
    }

  private def runInterpreter(events: DataFrame, program: Program, nSel: Int,
                             now: Long, sessionGapMs: Long,
                             stampedRowIds: Boolean): DataFrame = {
    val interp = new Interpreter(program, columnIndex(events), now, sessionGapMs, stampedRowIds)
    perPerson(events) { (pid, rows) =>
      interp.run(VStr(pid), rows).nodes.iterator.map { case (path, bufs) =>
        val gs: Seq[Any] = (0 until MaxDepth).map(i =>
          if (i < path.length) path(i) else null)
        val aggs: Seq[Any] = (0 until nSel).flatMap { j =>
          val b = bufs(j)
          Seq(b.sumFixed, b.cnt,
            if (b.cnt > 0) b.min else Double.MaxValue,
            if (b.cnt > 0) b.max else Double.MinValue,
            b.lastFixed, b.lastStr, b.lastSeq)
        }
        Row.fromSeq((path.length +: gs) ++ aggs)
      }
    }(ExpressionEncoder(fullPartialSchema(nSel))).toDF()
  }

  private def columnIndex(df: DataFrame): Map[String, Int] =
    df.schema.fieldNames.zipWithIndex.toMap

  /** `df` grouped by person on the `id` attribute itself, never a function
    * of it, so the planner can reuse a child's `HashPartitioning(id)`. The
    * one-field Row key takes the column's own type: long ids in the
    * registry tables, string ids in the catalog. */
  private def byPerson(df: DataFrame): KeyValueGroupedDataset[Row, Row] =
    df.groupBy(col("id")).as[Row, Row](
      ExpressionEncoder(StructType(Seq(df.schema("id")))), ExpressionEncoder(df.schema))

  /** The Tier B per-person pass: `f(pid, rows)` once per customer, over
    * that customer's rows in stamp order (ties in arbitrary order). `pid`
    * is the id's string form. */
  private def perPerson[U: Encoder](events: DataFrame)(
      f: (String, IndexedSeq[Array[Value]]) => Iterator[U]): Dataset[U] =
    byPerson(events).flatMapSortedGroups(col("stamp")) { (key: Row, it: Iterator[Row]) =>
      f(String.valueOf(key.get(0)), personRows(it))
    }
}
