package graft.osl

import scala.collection.mutable

import Ast._

/** Per-customer OSL interpreter (Tier B, SURVEY §7.1).
  *
  * Executes a parsed [[Ast.Program]] against one customer's time-ordered
  * rows. Runs inside [[OslEngine]]'s per-person pass (sorted groups on the
  * `id` attribute) — pure Scala, no Spark types — and emits one partial-aggregate record per touched group
  * node, already deduplicated with the reference's distinct-key semantics
  * (`src/queryinterpreter.cpp:167-334`): key = (column, distinct value,
  * row-or-0-for-people, group node). Partials merge relationally downstream.
  *
  * Cursor semantics for nested `each_row` follow
  * `src/queryinterpreter.cpp:2430-2577`: `.continue()` inherits the outer
  * cursor, `.next()` advances once before evaluating, `.limit(n)` stops
  * after n matches, `break(n)/break('all'|'top')` unwind multiple frames.
  */
final class Interpreter(
    program: Program,
    columns: Map[String, Int], // property name -> row array index
    now: Long,
    sessionGapMs: Long = 30 * 60 * 1000L,
    // `stamp_counts` query param (src/rpc_query.cpp:329): the per-row part
    // of the distinct key becomes the row STAMP, so rows sharing a stamp
    // count as one larger row (src/queryinterpreter.cpp:249-251)
    stampedRowIds: Boolean = false,
    // declared `is_customer` property names: reads resolve against the
    // seeded customer record, and any assignment marks the person for
    // write-back (reference propsChanged / setGridProps,
    // src/queryinterpreter.cpp:3116-3264)
    propNames: Set[String] = Set.empty) extends Serializable {

  import Interpreter._

  private val selects: Vector[SelectCol] =
    (if (program.select.nonEmpty) program.select
     else Seq(SelectCol("count", "id", "id", None, all = false))).toVector

  private val stampIdx = columns.getOrElse("stamp", -1)
  private val sessionReferenced = referencesSession(program)

  /** Execute for one customer. Rows must be sorted by (stamp, insertion).
    * `initialVars` seeds customer-property variables from the stored
    * customer record before the script runs (reference getGridProps).
    * Returns (tally partials, script return values, prop write-back). */
  def run(personId: Value, rows: IndexedSeq[Array[Value]],
          initialVars: Map[String, Value] = Map.empty): PersonResult = {
    val st = new State(personId, rows)
    st.vars ++= initialVars
    // `var` select columns declare script variables (reference: PSHRESCOL
    // pushes columnVars[i].value, src/queryinterpreter.cpp:1868-1880)
    selects.foreach(s => if (s.agg == "var") st.vars.getOrElseUpdate(s.prop, VInt(0)))
    if (sessionReferenced && stampIdx >= 0) st.computeSessions()
    try execBlock(program.code, st)
    catch { case ExitException => () }
    // All declared props go back when ANY changed (setGridProps iterates
    // every prop var once propsChanged is set): untouched props carry
    // their seeded value, so the downstream whole-row merge is lossless.
    val props =
      if (st.propsChanged)
        propNames.iterator.map(n => n -> st.vars.getOrElse(n, VNone)).toMap
      else Map.empty[String, Value]
    PersonResult(st.nodes.toMap, st.returned.toVector, props)
  }

  // ------------------------------------------------------------------- state
  final class State(val personId: Value, val rows: IndexedSeq[Array[Value]]) {
    val vars: mutable.Map[String, Value] = mutable.Map.empty
    var cursor: Int = 0
    // the reference interpreter runs a script with the cursor ON the
    // person's first row (top-level code can read row/customer props before
    // any each_row — test/test_db.h:296-318 "are props still set" relies on
    // it); an invalid initial cursor made those reads nil
    var cursorValid: Boolean = rows.nonEmpty
    /** Depth of enclosing each_row loops. Frame anchors, `.continue` and
      * `.next`/`.is` row semantics key on being INSIDE a row iteration —
      * not on cursor validity, which (like the reference) now also holds at
      * top level for plain prop reads. */
    var rowLoopDepth: Int = 0
    val sessions: Array[Long] = new Array[Long](rows.length)
    /** Any assignment to a declared customer prop → write-back this person
      * (reference's propsChanged hash-check, queryinterpreter.cpp:3117). */
    var propsChanged: Boolean = false
    /** group-node -> per-select (sum, count, min, max) */
    val nodes: mutable.Map[Vector[String], Array[AggBuf]] = mutable.Map.empty
    val seen: mutable.Set[(Int, Vector[String], String, Long)] = mutable.Set.empty
    val returned: mutable.ArrayBuffer[Value] = mutable.ArrayBuffer.empty
    var loopDepth: Int = 0
    /** Monotonic tally order stamp — `value` select columns keep the value
      * of the LAST tally per node (src/queryinterpreter.cpp:303-305). */
    var tallySeq: Long = 0L

    def computeSessions(): Unit = {
      var s = 1L
      var prev = Long.MinValue
      var i = 0
      while (i < rows.length) {
        val st = rows(i)(stampIdx).asLong
        if (prev != Long.MinValue && st - prev > sessionGapMs) s += 1
        sessions(i) = s
        prev = st
        i += 1
      }
    }

    def stampAt(i: Int): Long =
      if (stampIdx >= 0 && i >= 0 && i < rows.length) rows(i)(stampIdx).asLong else 0L
  }

  final case class PersonResult(
      nodes: Map[Vector[String], Array[AggBuf]],
      returned: Vector[Value],
      props: Map[String, Value] = Map.empty)

  // ------------------------------------------------------------- control flow
  private sealed trait Signal
  private case object SNormal extends Signal
  private final case class SBreak(depth: Int, all: Boolean, top: Boolean) extends Signal
  private case object SContinue extends Signal
  private case object SReturn extends Signal
  private case object ExitException extends RuntimeException with scala.util.control.NoStackTrace

  /** Shared loop-frame unwind, mirroring the reference's breakDepth machine
    * (src/queryinterpreter.cpp:428-459, 2312-2327). Called by both ForIn and
    * EachRow with the body's signal; returns None to keep iterating, or
    * Some(sig) for the frame to return (SNormal = this frame exits cleanly).
    * - break      -> exit this frame.
    * - break N    -> unwind N frames.
    * - break('all') -> unwind every frame; script continues after outermost.
    * - break('top') -> unwind all but the outermost frame, which continues
    *   iterating (breakDepth = nestDepth-1); at nest depth 1 it degenerates
    *   to a plain break. */
  private def handleLoopSignal(sig: Signal, st: State): Option[Signal] = sig match {
    case SNormal | SContinue => None
    case SBreak(_, _, true) =>
      if (st.loopDepth <= 2) Some(SNormal)
      else Some(SBreak(0, all = false, top = true))
    case SBreak(_, true, _) =>
      if (st.loopDepth == 1) Some(SNormal)
      else Some(SBreak(0, all = true, top = false))
    case SBreak(1, _, _) => Some(SNormal)
    case SBreak(d, _, _) => Some(SBreak(d - 1, all = false, top = false))
    case s => Some(s)
  }

  private def execBlock(stmts: Seq[Stmt], st: State): Signal = {
    var i = 0
    while (i < stmts.length) {
      execStmt(stmts(i), st) match {
        case SNormal => ()
        case s => return s
      }
      i += 1
    }
    SNormal
  }

  private def execStmt(stmt: Stmt, st: State): Signal = stmt match {
    case Assign(target, op, rhs) =>
      val v = eval(rhs, st)
      val newVal = op match {
        case "=" => v
        case "+=" => Value.plus(evalTarget(target, st), v)
        case "-=" => Value.minus(evalTarget(target, st), v)
      }
      target match {
        case VarRef(n) =>
          st.vars(n) = newVal
          if (propNames(n)) st.propsChanged = true
        case PropRef(n) =>
          st.vars(n) = newVal // customer-prop write-back: modeled as var
          if (propNames(n)) st.propsChanged = true
        case sub: Subscript =>
          // nested subscripts update bottom-up: nested['a']['b'] = v
          // rebuilds each enclosing container (reference cvar subscripts
          // return references, so nesting is free there)
          def update(target: Expr, nv: Value): Unit = target match {
            case VarRef(n) =>
              st.vars(n) = nv
              if (propNames(n)) st.propsChanged = true
            case PropRef(n) =>
              st.vars(n) = nv
              if (propNames(n)) st.propsChanged = true
            case Subscript(r2, i2) =>
              val container = eval(r2, st)
              val key = eval(i2, st)
              val updated = container match {
                case VDict(m) => VDict(m + (key.asStr -> nv))
                case VList(xs) =>
                  val i = key.asLong.toInt
                  if (i >= 0 && i < xs.length) VList(xs.updated(i, nv)) else VList(xs)
                case _ => VDict(Map(key.asStr -> nv))
              }
              update(r2, updated)
            case _ => ()
          }
          update(sub, newVal)
        case _ => ()
      }
      SNormal

    case If(cond, body, elseBody) =>
      if (eval(cond, st).truthy) execBlock(body, st)
      else if (elseBody.nonEmpty) execBlock(elseBody, st)
      else SNormal

    case ForIn(v, iterable, body) =>
      val items: Seq[Value] = eval(iterable, st) match {
        case VList(xs) => xs
        case VSet(xs) => xs.toSeq
        case VDict(m) => m.keys.map(VStr).toSeq
        case VStr(s) => s.map(c => VStr(c.toString))
        case _ => Nil
      }
      st.loopDepth += 1
      try {
        var i = 0
        while (i < items.length) {
          st.vars(v) = items(i)
          handleLoopSignal(execBlock(body, st), st).foreach(s => return s)
          i += 1
        }
        SNormal
      } finally st.loopDepth -= 1

    case er: EachRow => execEachRow(er, st)

    case Tally(groups) =>
      tally(groups.map(g => canonKey(eval(g, st))), st)
      SNormal

    case Return(v) =>
      v.foreach(e => st.returned += eval(e, st))
      SReturn

    case Break(d, all, top) => SBreak(d, all, top)
    case ContinueStmt => SContinue
    case ExitStmt => throw ExitException
    case ExprStmt(e) => eval(e, st); SNormal
  }

  private def execEachRow(er: EachRow, st: State): Signal = {
    val rows = st.rows
    val n = rows.length
    if (n == 0) return SNormal
    val outerCursor = st.cursor
    val outerValid = st.cursorValid
    val reverse = er.mods.reverse
    val limit = er.mods.limit.map(e => eval(e, st).asLong).getOrElse(Long.MaxValue)

    val inRowLoop = st.rowLoopDepth > 0
    var start =
      if (er.mods.continueFrom && inRowLoop && outerValid) outerCursor
      else er.mods.from.map(e => eval(e, st).asLong.toInt)
        .getOrElse(if (reverse) n - 1 else 0)
    if (er.mods.next) start += (if (reverse) -1 else 1)

    // frame bounds on the row stamp: nested loops anchor at the OUTER
    // cursor; top-level loops at their own first row (reverse: last)
    val anchorStamp =
      if (inRowLoop && outerValid) st.stampAt(outerCursor)
      else st.stampAt(if (reverse) n - 1 else 0)
    val (lo, hi) = frameBounds(er.mods.frame, anchorStamp, st)

    var matches = 0L
    var i = start
    st.loopDepth += 1
    st.rowLoopDepth += 1
    try {
      while (i >= 0 && i < n && matches < limit) {
        val stp = st.stampAt(i)
        if (stp >= lo && stp <= hi) {
          st.cursor = i
          st.cursorValid = true
          if (eval(er.where, st).truthy) {
            matches += 1
            handleLoopSignal(execBlock(er.body, st), st).foreach(s => return s)
          }
        }
        i += (if (reverse) -1 else 1)
      }
      SNormal
    } finally {
      st.loopDepth -= 1
      st.rowLoopDepth -= 1
      st.cursor = outerCursor
      st.cursorValid = outerValid
    }
  }

  private def frameBounds(frame: Option[Frame], anchorStamp: Long, st: State): (Long, Long) =
    frame match {
      case None => (Long.MinValue, Long.MaxValue)
      case Some(Within(span, anchor)) =>
        val a = eval(anchor, st).asLong
        val s = eval(span, st).asLong
        (a - s, a + s)
      case Some(LookAhead(span, anchor)) =>
        val a = anchor.map(e => eval(e, st).asLong).getOrElse(anchorStamp)
        (a, if (eval(span, st).asLong == Long.MaxValue) Long.MaxValue else a + eval(span, st).asLong)
      case Some(LookBack(span, anchor)) =>
        val a = anchor.map(e => eval(e, st).asLong).getOrElse(anchorStamp)
        (if (eval(span, st).asLong == Long.MaxValue) Long.MinValue else a - eval(span, st).asLong, a)
      // ISO8601 strings convert like the reference's stamp coercion
      // (marshal_ISO8601_to_stamp, src/queryinterpreter.cpp:464-480);
      // range bounds are inclusive
      case Some(DateRange(s, e)) => (asStamp(eval(s, st)), asStamp(eval(e, st)))
    }

  /** Stamp coercion for frame bounds: ISO8601 strings parse to epoch ms. */
  private def asStamp(v: Value): Long = v match {
    case VStr(s) if s.exists(c => c == '-' || c == ':') =>
      try java.time.OffsetDateTime.parse(s).toInstant.toEpochMilli
      catch { case _: Throwable =>
        try java.time.Instant.parse(s).toEpochMilli
        catch { case _: Throwable => v.asLong } }
    case other => other.asLong
  }

  // ------------------------------------------------------------------- tally
  /** Emit the current row into every prefix node of the group path
    * (`src/queryinterpreter.cpp:324-333`). */
  private def tally(path: Seq[String], st: State): Unit = {
    var depth = 1
    while (depth <= path.length) {
      val node = path.take(depth).toVector
      val bufs = st.nodes.getOrElseUpdate(node,
        Array.fill(selects.length)(new AggBuf))
      var j = 0
      while (j < selects.length) {
        val sel = selects(j)
        sel.agg match {
          case "var" =>
            // `var x`: counts tallies, deduped per (current value of x, row,
            // node) — the distinct value is the VARIABLE's value, not a row
            // column (src/queryinterpreter.cpp:242-244, 306-311)
            val dv = st.vars.getOrElse(sel.prop, VNone).asStr
            val dedupKey = (j, node, dv, rowKeyAt(st))
            if (sel.all || !st.seen.contains(dedupKey)) {
              if (!sel.all) st.seen += dedupKey
              bufs(j).addVar()
            }
          case _ =>
            val isPeople = sel.prop == "id"
            val rawVal: Value =
              if (isPeople) st.personId
              else rowValue(sel.prop, st)
            if (rawVal != VNone) {
              val distinctVal = sel.withKey match {
                case Some(k) => rowValue(k, st).asStr
                case None => rawVal.asStr
              }
              // `count session` parses to dist_count_person mode in the
              // reference (queryparserosl.h:1092-1100): the row part of the
              // key is 0, so each session number counts once per person/node
              val rowKey = if (isPeople || sel.prop == "session") 0L else rowKeyAt(st)
              val dedupKey = (j, node, distinctVal, rowKey)
              if (sel.all || !st.seen.contains(dedupKey)) {
                if (!sel.all) st.seen += dedupKey
                if (sel.agg == "value") {
                  // last tally wins per node (src/queryinterpreter.cpp:303);
                  // the reference carries the raw TYPED value (result.cpp:
                  // 709-718) — keep both numeric and text forms
                  st.tallySeq += 1
                  bufs(j).setLast(Interpreter.toFixed(rawVal.asDouble),
                    rawVal.asStr, st.tallySeq)
                } else bufs(j).add(sel.agg, rawVal)
              }
            }
        }
        j += 1
      }
      depth += 1
    }
  }

  private def rowKeyAt(st: State): Long =
    if (stampedRowIds) st.stampAt(st.cursor) else st.cursor.toLong

  private def rowValue(prop: String, st: State): Value =
    prop match {
      case "id" => st.personId
      case "session" =>
        if (st.cursorValid && st.cursor < st.sessions.length) VInt(st.sessions(st.cursor)) else VNone
      case _ =>
        columns.get(prop) match {
          case Some(i) if st.cursorValid => st.rows(st.cursor)(i)
          case _ => VNone
        }
    }

  // -------------------------------------------------------------- expressions
  private def evalTarget(target: Expr, st: State): Value = target match {
    case VarRef(n) => st.vars.getOrElse(n, VNone)
    case _ => eval(target, st)
  }

  private[osl] def eval(e: Expr, st: State): Value = e match {
    case Lit(v) => v
    case ListLit(items) => VList(items.map(eval(_, st)).toVector)
    case SetLit(items) => VSet(items.map(eval(_, st)).toSet)
    case DictLit(pairs) =>
      // bare-word keys ({fruits: ...}) read as literal strings when no such
      // variable is defined (reference dict literals accept unquoted keys)
      VDict(pairs.map { case (k, v) =>
        val key = k match {
          case VarRef(n) if !st.vars.contains(n) && !columns.contains(n) => n
          case other => eval(other, st).asStr
        }
        key -> eval(v, st)
      }.toMap)

    case VarRef(name) => lookup(name, st)
    case PropRef(name) => lookup(name, st)

    case Subscript(recv, idx) =>
      val c = eval(recv, st)
      val k = eval(idx, st)
      c match {
        case VDict(m) => m.getOrElse(k.asStr, VNone)
        case VList(xs) =>
          val i = k.asLong.toInt
          if (i >= 0 && i < xs.length) xs(i) else VNone
        case VStr(s) =>
          val i = k.asLong.toInt
          if (i >= 0 && i < s.length) VStr(s(i).toString) else VNone
        case _ => VNone
      }

    case UnOp("!", x) => VBool(!eval(x, st).truthy)
    case UnOp("-", x) =>
      eval(x, st) match {
        case VInt(i) => VInt(-i)
        case VBool(b) => VBool(!b) // cvar unary minus flips bools (var.h:1257-1258)
        case VStr(str) => VStr("-" + str) // var.h:1259-1260
        case v => VDbl(-v.asDouble)
      }
    case UnOp(_, x) => eval(x, st)

    case BinOp(op, l, r) => binop(op, l, r, st)

    case pt: PropTest => VBool(evalPropTest(pt, st))
    case ia: InlineAgg => evalInlineAgg(ia, st)

    case MethodCall(recv, name, args) =>
      methodCall(eval(recv, st), name, args.map(eval(_, st)), st)

    case Call(name, args) => call(name, args, st)
  }

  private def lookup(name: String, st: State): Value = name match {
    case "now" => VInt(now)
    case "cursor" => VInt(st.cursor.toLong)
    case "row_count" => VInt(st.rows.length.toLong)
    case "first_stamp" => if (st.rows.nonEmpty) VInt(st.stampAt(0)) else VNone
    case "last_stamp" => if (st.rows.nonEmpty) VInt(st.stampAt(st.rows.length - 1)) else VNone
    case "session_count" =>
      if (st.rows.isEmpty) VInt(0) else { st.computeSessions(); VInt(st.sessions.last) }
    case "id" => st.personId
    case "stamp" if st.cursorValid => VInt(st.stampAt(st.cursor))
    case "event_time" if st.cursorValid => VInt(st.stampAt(st.cursor))
    case _ =>
      st.vars.get(name) match {
        case Some(v) => v
        case None => rowValue(name, st)
      }
  }

  private def binop(op: String, le: Expr, re: Expr, st: State): Value = op match {
    case "&&" => VBool(eval(le, st).truthy && eval(re, st).truthy)
    case "||" => VBool(eval(le, st).truthy || eval(re, st).truthy)
    case _ =>
      val l = eval(le, st)
      val r = eval(re, st)
      op match {
        case "+" => Value.plus(l, r)
        case "-" => Value.minus(l, r)
        case "*" => Value.times(l, r)
        case "/" => Value.div(l, r)
        case "==" => VBool(Value.eq(l, r))
        case "!=" => VBool(!Value.eq(l, r))
        case ">" => VBool(Value.cmp(l, r) > 0)
        case ">=" => VBool(Value.cmp(l, r) >= 0)
        case "<" => VBool(Value.cmp(l, r) < 0)
        case "<=" => VBool(Value.cmp(l, r) <= 0)
        case "in" => VBool(Value.contains(r, l))
        case "contains" => VBool(Value.contains(l, r))
        case "any" => VBool(Value.any(l, r))
        case _ => VNone
      }
  }

  private def applyCmp(cmp: Comparator, rowVal: Value, st: State): Boolean = cmp.op match {
    case "truthy" => eval(cmp.operand, st).truthy
    case "==" => Value.eq(rowVal, eval(cmp.operand, st))
    case "!=" => !Value.eq(rowVal, eval(cmp.operand, st))
    case ">" => Value.cmp(rowVal, eval(cmp.operand, st)) > 0
    case ">=" => Value.cmp(rowVal, eval(cmp.operand, st)) >= 0
    case "<" => Value.cmp(rowVal, eval(cmp.operand, st)) < 0
    case "<=" => Value.cmp(rowVal, eval(cmp.operand, st)) <= 0
    case "in" => Value.contains(eval(cmp.operand, st), rowVal)
    case "contains" => Value.contains(rowVal, eval(cmp.operand, st))
    case "any" => Value.any(rowVal, eval(cmp.operand, st))
    case _ => false
  }

  private def evalPropTest(pt: PropTest, st: State): Boolean = {
    def valueAt(i: Int): Value = pt.prop match {
      case "event_time" | "stamp" => VInt(st.stampAt(i))
      case "session" => if (i < st.sessions.length) VInt(st.sessions(i)) else VNone
      case p => columns.get(p).map(ci => st.rows(i)(ci)).getOrElse(VNone)
    }
    pt.kind match {
      case "is" | "is_not" =>
        // `.is` needs a row-iteration cursor (language_reference.md:98
        // "the row cursor must be set")
        if (st.rowLoopDepth == 0 || !st.cursorValid) return false
        val m = applyCmp(pt.cmp, valueAt(st.cursor), st)
        if (pt.kind == "is") m else !m
      case "ever" | "never" =>
        // inside each_row the frame anchors at the cursor row; at top level
        // (segment scripts) single-arg frames anchor at query `now`
        val inRow = st.rowLoopDepth > 0 && st.cursorValid
        val anchorStamp = if (inRow) st.stampAt(st.cursor) else now
        val (lo, hi) = frameBounds(pt.frame, anchorStamp, st)
        val startI = if (pt.next && inRow) st.cursor + 1 else 0
        var i = startI
        var found = false
        while (i < st.rows.length && !found) {
          val stp = st.stampAt(i)
          if (stp >= lo && stp <= hi && applyCmp(pt.cmp, valueAt(i), st)) found = true
          i += 1
        }
        if (pt.kind == "ever") found else !found
      case _ => false
    }
  }

  private def evalInlineAgg(ia: InlineAgg, st: State): Value = {
    val anchorStamp =
      if (st.rowLoopDepth > 0 && st.cursorValid) st.stampAt(st.cursor) else now
    val (lo, hi) = frameBounds(ia.frame, anchorStamp, st)
    val outerCursor = st.cursor
    val outerValid = st.cursorValid
    var sumFixed = 0L // ×10,000 fixed point — exact, engine-portable sums
    var cnt = 0L
    var minV = Double.MaxValue
    var maxV = Double.MinValue
    var firstRow = -1L
    val distinct = mutable.Set.empty[String]
    st.rowLoopDepth += 1 // the agg's internal scan IS a row iteration (`.is` valid)
    try {
      val n = st.rows.length
      var k = 0
      while (k < n) {
        val i = if (ia.reverse) n - 1 - k else k
        val stp = st.stampAt(i)
        if (stp >= lo && stp <= hi) {
          st.cursor = i
          st.cursorValid = true
          if (eval(ia.where, st).truthy) {
            if (firstRow < 0) firstRow = i.toLong
            val v = ia.arg.map(eval(_, st)).getOrElse(VInt(1))
            if (v != VNone) {
              cnt += 1
              sumFixed += Interpreter.toFixed(v.asDouble)
              minV = math.min(minV, v.asDouble)
              maxV = math.max(maxV, v.asDouble)
              distinct += v.asStr
            }
          }
        }
        k += 1
      }
    } finally {
      st.rowLoopDepth -= 1
      st.cursor = outerCursor
      st.cursorValid = outerValid
    }
    ia.kind match {
      case "sum" => VDbl(sumFixed / 10000.0)
      case "count" => VInt(cnt)
      case "dcount" => VInt(distinct.size.toLong)
      case "min" => if (cnt > 0) VDbl(minV) else VNone
      case "max" => if (cnt > 0) VDbl(maxV) else VNone
      case "avg" => if (cnt > 0) VDbl(sumFixed / 10000.0 / cnt) else VNone
      case "test" => VBool(cnt > 0)
      case "row" => if (firstRow >= 0) VInt(firstRow) else VNone
      case _ => VNone
    }
  }

  private def methodCall(recv: Value, name: String, args: Seq[Value], st: State): Value =
    (name, recv) match {
      case ("split", VStr(s)) =>
        val sep = args.headOption.map(_.asStr).getOrElse(" ")
        VList(s.split(java.util.regex.Pattern.quote(sep), -1).toVector.map(VStr))
      case ("find", VStr(s)) => VInt(s.indexOf(args.head.asStr).toLong)
      case ("rfind", VStr(s)) => VInt(s.lastIndexOf(args.head.asStr).toLong)
      case ("slice", VStr(s)) =>
        val a = args.head.asLong.toInt
        val b = args.lift(1).map(_.asLong.toInt).getOrElse(s.length)
        val lo = math.max(0, if (a < 0) s.length + a else a)
        val hi = math.min(s.length, if (b < 0) s.length + b else b)
        VStr(if (lo < hi) s.substring(lo, hi) else "")
      case ("strip", VStr(s)) => VStr(s.trim)
      case ("append", VList(xs)) => VList(xs ++ args)
      case ("add", VSet(xs)) => VSet(xs ++ args)
      case ("remove", VList(xs)) => VList(xs.filterNot(x => args.exists(Value.eq(_, x))))
      case ("remove", VSet(xs)) => VSet(xs.filterNot(x => args.exists(Value.eq(_, x))))
      case ("pop", VList(xs)) => if (xs.nonEmpty) xs.last else VNone
      case ("clear", _) => VNone
      case ("keys", VDict(m)) => VList(m.keys.map(VStr).toVector)
      case ("update", VDict(m)) =>
        args.headOption match {
          case Some(VDict(m2)) => VDict(m ++ m2)
          case _ => VDict(m)
        }
      case _ => VNone
    }

  private def call(name: String, argEs: Seq[Expr], st: State): Value = {
    lazy val args = argEs.map(eval(_, st))
    name match {
      case "bucket" =>
        val v = args(0); val size = args(1)
        if (v.isNumeric && size.asDouble != 0) {
          (v, size) match {
            case (VInt(i), VInt(s)) => VInt(math.floorDiv(i, s) * s)
            case _ => VDbl(math.floor(v.asDouble / size.asDouble) * size.asDouble)
          }
        } else VNone
      case "round" =>
        // C round() on the scaled double (marshal_round,
        // src/queryinterpreter.cpp:508-533): halves away from zero AFTER
        // the power-of-ten multiply, so round(5.545, 2) == 5.55
        val power = math.pow(10.0, args.lift(1).map(_.asLong.toDouble).getOrElse(0.0))
        VDbl(Interpreter.cRound(args(0).asDouble * power) / power)
      case "trunc" => VInt(args(0).asDouble.toLong)
      case "fix" =>
        // string-formatting round (marshal_fix, src/queryinterpreter.cpp:
        // 535-574): abs value, C round at the scaled power, re-insert the
        // decimal point, re-apply the sign
        val places = math.min(args(1).asLong.toInt, 10)
        val v0 = args(0).asDouble
        val neg = v0 < 0
        val power = if (places != 0) math.pow(10.0, places) else 1.0
        val rounded = Interpreter.cRound(math.abs(v0) * power).toLong
        var str = rounded.toString
        if (str.length <= places) str = "0" * (places - str.length + 1) + str
        if (places != 0)
          str = str.substring(0, str.length - places) + "." + str.substring(str.length - places)
        VStr(if (neg) "-" + str else str)
      case "to_seconds" => VInt(args(0).asLong / 1000L)
      case "to_minutes" => VInt(args(0).asLong / 60000L)
      case "to_hours" => VInt(args(0).asLong / 3600000L)
      case "to_days" => VInt(args(0).asLong / 86400000L)
      case "to_weeks" => VInt(args(0).asLong / 604800000L)
      case "iso8601_to_stamp" =>
        VInt(java.time.Instant.parse(args(0).asStr).toEpochMilli)
      case "get_row" =>
        val i = args(0).asLong.toInt
        if (i >= 0 && i < st.rows.length)
          VDict(columns.map { case (n2, ci) => n2 -> st.rows(i)(ci) })
        else VNone
      case n if n.startsWith("get_") || n.startsWith("start_of_") =>
        dateMarshal(n, args(0).asLong)
      case "set" => VSet(args.toSet)
      case "list" => VList(args.toVector)
      case "dict" => VDict(Map.empty)
      case "len" => args(0) match {
        case VList(xs) => VInt(xs.length.toLong)
        case VSet(xs) => VInt(xs.size.toLong)
        case VDict(m) => VInt(m.size.toLong)
        case VStr(s) => VInt(s.length.toLong)
        case _ => VInt(0)
      }
      case "keys" => args(0) match {
        case VDict(m) => VList(m.keys.map(VStr).toVector)
        case _ => VList(Vector.empty)
      }
      case "range" =>
        val (a, b) = if (args.size > 1) (args(0).asLong, args(1).asLong) else (0L, args(0).asLong)
        VList((a until b).map(VInt(_)).toVector)
      case "int" => VInt(args(0).asLong)
      case "float" => VDbl(args(0).asDouble)
      case "str" => VStr(args(0).asStr)
      case "url_decode" => urlDecode(args(0).asStr)
      case "log" | "debug" =>
        st.vars("__debug_log") = Value.plus(
          st.vars.getOrElse("__debug_log", VList(Vector.empty)), VList(args.toVector))
        VNone
      case other =>
        // unknown function: treat as property read in call position (defensive)
        st.vars.getOrElse(other, VNone)
    }
  }

  private def dateMarshal(name: String, ms: Long): Value = {
    val zdt = java.time.Instant.ofEpochMilli(ms).atZone(java.time.ZoneOffset.UTC)
    import java.time.temporal.{ChronoField => CF}
    name match {
      case "get_second" => VInt(zdt.getSecond.toLong)
      case "get_minute" => VInt(zdt.getMinute.toLong)
      case "get_hour" => VInt(zdt.getHour.toLong)
      case "get_month" => VInt(zdt.getMonthValue.toLong)
      case "get_quarter" => VInt(((zdt.getMonthValue - 1) / 3 + 1).toLong)
      case "get_year" => VInt(zdt.getYear.toLong)
      // 1 = Sunday … 7 = Saturday (Spark/oracle convention)
      case "get_day_of_week" => VInt((zdt.getDayOfWeek.getValue % 7 + 1).toLong)
      case "get_day_of_month" => VInt(zdt.getDayOfMonth.toLong)
      case "get_day_of_year" => VInt(zdt.getDayOfYear.toLong)
      case "start_of_second" => VInt(ms - ms % 1000L)
      case "start_of_minute" => VInt(ms - ms % 60000L)
      case "start_of_hour" => VInt(ms - ms % 3600000L)
      case "start_of_day" | "date_day" => VInt(ms - ms % 86400000L)
      case "start_of_week" =>
        // ISO Monday start (matches Spark date_trunc('week'))
        val d = zdt.toLocalDate
        val monday = d.minusDays((d.getDayOfWeek.getValue - 1).toLong)
        VInt(monday.atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli)
      case "start_of_month" =>
        VInt(zdt.toLocalDate.withDayOfMonth(1).atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli)
      case "start_of_quarter" =>
        val m = ((zdt.getMonthValue - 1) / 3) * 3 + 1
        VInt(zdt.toLocalDate.withMonth(m).withDayOfMonth(1).atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli)
      case "start_of_year" =>
        VInt(zdt.toLocalDate.withDayOfYear(1).atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli)
      case _ => VNone
    }
  }

  private def urlDecode(url: String): Value = {
    try {
      val u = new java.net.URI(url)
      val params: Map[String, Value] = Option(u.getRawQuery) match {
        case Some(q) if q.nonEmpty =>
          q.split("&").toSeq.map { kv =>
            kv.split("=", 2) match {
              case Array(k, v) => k -> (VStr(java.net.URLDecoder.decode(v, "UTF-8")): Value)
              case Array(k) => k -> (VBool(true): Value)
            }
          }.toMap
        case _ => Map.empty
      }
      VDict(Map(
        "host" -> VStr(Option(u.getHost).getOrElse("")),
        "path" -> VStr(Option(u.getPath).getOrElse("")),
        "query" -> VStr(Option(u.getRawQuery).getOrElse("")),
        "params" -> VDict(params)))
    } catch { case _: Throwable => VNone }
  }

  /** Canonical group-key string: ints without decimal point. */
  private def canonKey(v: Value): String = v match {
    case VDbl(d) if d == d.floor && math.abs(d) < 1e15 => d.toLong.toString
    case other => other.asStr
  }
}

object Interpreter {
  /** Mergeable aggregate buffer: one per (node, select column).
    *
    * Sums accumulate in ×10,000 fixed point (mirroring the reference's
    * double representation, `src/grid.cpp:809` / SURVEY §1.2): exact,
    * order-independent, and equal to a SQL DECIMAL(·,4) sum — so merged
    * results hash-match the DuckDB oracle regardless of row visit order. */
  final class AggBuf extends Serializable {
    var sumFixed: Long = 0L // value ×10,000
    var cnt: Long = 0L
    var min: Double = Double.MaxValue
    var max: Double = Double.MinValue
    var lastFixed: Long = 0L // `value` modifier: last tallied value ×10,000
    var lastStr: String = null // `value` on text properties: the raw string
    var lastSeq: Long = -1L  // tally order stamp for last-write-wins merge
    def add(agg: String, v: Value): Unit = {
      cnt += 1
      val d = v.asDouble
      sumFixed += Interpreter.toFixed(d)
      if (d < min) min = d
      if (d > max) max = d
    }
    /** `var` modifier: each deduped tally adds 1 (src/queryinterpreter.cpp:306). */
    def addVar(): Unit = { cnt += 1; sumFixed += 10000L }
    def setLast(fixed: Long, str: String, seq: Long): Unit = {
      lastFixed = fixed; lastStr = str; lastSeq = seq
    }
  }

  /** C `round()`: halves away from zero. */
  def cRound(x: Double): Double =
    if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)

  /** double → ×10,000 fixed point, HALF_UP — identical to SQL
    * `CAST(x AS DECIMAL(·,4))`. */
  def toFixed(d: Double): Long =
    java.math.BigDecimal.valueOf(d).movePointRight(4)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  def referencesSession(p: Ast.Program): Boolean = {
    val found = new java.util.concurrent.atomic.AtomicBoolean(false)
    def inExpr(e: Ast.Expr): Unit = e match {
      case Ast.VarRef("session") | Ast.PropRef("session") => found.set(true)
      case Ast.VarRef("session_count") => found.set(true)
      case Ast.BinOp(_, l, r) => inExpr(l); inExpr(r)
      case Ast.UnOp(_, x) => inExpr(x)
      case Ast.Call(n, as) => if (n.contains("session")) found.set(true); as.foreach(inExpr)
      case Ast.MethodCall(r, _, as) => inExpr(r); as.foreach(inExpr)
      case Ast.Subscript(r, i) => inExpr(r); inExpr(i)
      case Ast.ListLit(xs) => xs.foreach(inExpr)
      case Ast.SetLit(xs) => xs.foreach(inExpr)
      case Ast.DictLit(ps) => ps.foreach { case (k, v) => inExpr(k); inExpr(v) }
      case Ast.PropTest(p2, _, cmp, _, _) =>
        if (p2 == "session") found.set(true)
        inExpr(cmp.operand)
      case Ast.InlineAgg(_, arg, _, _, w) => arg.foreach(inExpr); inExpr(w)
      case _ => ()
    }
    def inStmt(s: Ast.Stmt): Unit = s match {
      case Ast.Assign(t, _, v) => inExpr(t); inExpr(v)
      case Ast.If(c, b, eb) => inExpr(c); b.foreach(inStmt); eb.foreach(inStmt)
      case Ast.ForIn(_, it, b) => inExpr(it); b.foreach(inStmt)
      case Ast.EachRow(m, w, b) =>
        m.from.foreach(inExpr); m.limit.foreach(inExpr); inExpr(w); b.foreach(inStmt)
      case Ast.Tally(gs) => gs.foreach(inExpr)
      case Ast.Return(v) => v.foreach(inExpr)
      case Ast.ExprStmt(e) => inExpr(e)
      case _ => ()
    }
    p.code.foreach(inStmt)
    if (p.select.exists(c => c.prop == "session" || c.withKey.contains("session"))) found.set(true)
    found.get()
  }
}
