package graft.osl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TimeFns
import Ast._

/** Tier A: compile declarative OSL scripts straight to Catalyst plans
  * (SURVEY §7.2 M2 — capability detection mirroring the reference's
  * `Macro_s` flags).
  *
  * Compilable shape: an optional `select` section plus exactly one
  * un-modified `each_row where <row-predicate>` whose body is a single
  * tally. That covers the reference's bread-and-butter queries
  * (README.md:152-196) and runs fully codegen'd — filter pushdown, partial
  * aggregation, no per-customer interpretation. Everything else returns
  * None and runs through the Tier B interpreter with identical semantics
  * (spec-enforced).
  *
  * Output schema/values match `OslEngine.query` exactly: `(depth, g1..g8,
  * <aliases>)`, group keys canonicalized like the interpreter, sums through
  * DECIMAL(28,4) (= the interpreter's ×10,000 fixed point).
  */
object TierA {

  def compile(program: Program, events: DataFrame, now: Long,
              sessionGapMs: Long): Option[DataFrame] = {
    val selects =
      (if (program.select.nonEmpty) program.select
       else Seq(SelectCol("count", "id", "id", None, all = false))).toVector

    // leading `n = 0`-style inits compile by DROPPING them: writeOnly
    // below proves the assigned names are never read, so the assignments
    // can't influence any result column (body accumulations likewise
    // vanish inside flattenBody under the same proof)
    val coreCode = program.code.dropWhile {
      case Assign(VarRef(_), _, _) => true
      case _ => false
    }
    coreCode match {
      case Seq(er @ EachRow(mods, _, _)) if !mods.continueFrom && !mods.next =>
        for {
          // top-level frame (round 5): bounds are per-person constants —
          // the interpreter evaluates frameBounds ONCE with the cursor
          // invalid, anchoring anchor-less frames at the first (reverse:
          // last) row — so they compile to a stamp predicate; None =
          // unframed, outer None = unsupported shape → Tier B
          topFrame <- topFrameBounds(mods, now)
          // assignments target write-only simple vars (dropped) or integer
          // read-accumulators (materialized as running-count windows below);
          // anything else is Tier B: the interpreter resolves bare names
          // vars-first (Interpreter.lookup), so an unmodeled read would
          // observe the accumulation. Pure-accumulator WHERE conjuncts
          // (`n < 3` — the pre-increment stateful cap) extract to a static
          // visit cap + residual where (see splitWhereCaps/capSolve).
          (writeOnly, accums, residualW, whereCap, dynCap) <-
            classifyVars(program, events)
          // top-level `.limit(n)` (literal, positive) compiles: the visited
          // set is the first (reverse: last) n where-matching rows per
          // person — a cumulative-match-count cap on the same person sort.
          // A where-cap is the SAME mechanism (both bound the count of
          // residual-where matches visited), so they compose by min.
          // Under a DYNAMIC cap (round 15) visits are no longer a prefix
          // of residual matches: both caps move to a post-fold rank on
          // the gate's vis output (dynRankCap below).
          topLimit0 <- limitOf(mods, now)
          topLimit = if (dynCap.isDefined) None
            else (topLimit0.toSeq ++ whereCap.toSeq).reduceOption(_ min _)
          dynRankCap = if (dynCap.isEmpty) None
            else (topLimit0.toSeq ++ whereCap.toSeq).reduceOption(_ min _)
          // top-level `.from(k)` (literal): iteration starts at 0-based row
          // index k — single loops handle it below; chains thread it into
          // level 0's eligibility (chainWitnesses __fc0)
          topFrom <- fromOf(mods, now)
          // extracted where-caps leave a residual where; reads of
          // accumulated names compile to their window column
          erW = residualW.map(w => er.copy(where = w)).getOrElse(er)
          accNames = accums.map(_._1).toSet ++
            dynCap.toSeq.flatMap(_.caps.map(_.name))
          erC = if (accNames.isEmpty) erW else substAccums(erW, accNames)
          levels0 <- extractLevels(erC, now, topLimit, None, None, mods.reverse)
          levels = if (levels0.size > 1 && topFrom.isDefined)
            levels0.head.copy(fromStart = topFrom) +: levels0.tail
          else levels0
          // a `var x` select dedups tallies on x's VALUE (Interpreter.tally
          // dedup key) — inert for write-only accumulation only while the
          // value is constant per row visit and visits can't repeat a row:
          // assignments must lead their bodies (never sit between tallies)
          // and `.from` restart steps (row revisits at different
          // accumulated values) stay Tier B
          if !selects.exists(s => s.agg == "var" && writeOnly(s.prop)) ||
            (assignsLeadingOnly(program.code) && !levels.exists(_.isFromStep))
          // accumulator windows count the TOP loop's visited rows. Single
          // loops compile directly; a 2-level continue().next() chain
          // compiles with framed and/or `.limit(n)` inner steps (per-spawn
          // eligibility is decided in-row from the collected spawn tuples)
          // — only `.reverse()` and `.from(k)` inner steps stay Tier B,
          // because their visited sets are not "spawns strictly before the
          // row" (see chainAccumOk). A DEEPER chain (any depth up to
          // MaxDepth) compiles when every inner step is PLAIN (round 9):
          // the per-spawn tuple gains the running level-1 match count, and
          // reachability composes through per-level running-max windows —
          // a row is a level-j visit for spawn s0 iff P(j-1)(row⁻) >
          // P1(s0). Depth-3 chains also compile FRAMED (finite
          // look_ahead) and GUARDED inner steps (round 11): reachability
          // becomes an interval count between endpoint prefix counts
          // (see chainDeepOk)
          // carried caps (round 15): a gating accumulator read below a
          // chain step joins the chain machinery as one more accumulator
          // — spawns ARE the fold's visits, so its per-spawn value is
          // affine on the ordinal path and the `__acc_` column (built by
          // the chainWitnesses fold, not the plain accum loop) rides the
          // collect tuples
          accumsEff = accums ++ dynCap.toSeq.flatMap(_.caps.filter(_.carried)
            .map(c => (c.name, c.init, c.parts)))
          if accumsEff.isEmpty || levels.size == 1 ||
            (levels.size == 2 && chainAccumOk(levels(1)) &&
              chainCollectSafe(levels, accumsEff, events)) ||
            (levels.size >= 3 && chainDeepOk(levels, accumsEff) &&
              chainCollectSafe(levels, accumsEff, events) &&
              mixedRowSidesOk(levels, events, now, accumsEff))
          tallies = levels.flatMap(_.tallies)
          if tallies.nonEmpty &&
            tallies.forall { case (_, gs) => gs.nonEmpty && gs.size <= OslEngine.MaxDepth } &&
            // multi-tally dedup differs under `all` (a row may reach the same
            // node via two tallies — or, in a chain, via two outer cursor
            // positions) -> Tier B for mixed shapes
            ((tallies.size == 1 && levels.size == 1) || selects.forall(!_.all))
          wheres = levels.map(_.where)
          guards = levels.flatMap(_.guard)
          // guarded-increment conditions compile exactly like tally guards
          accumConds = accums.flatMap(_._3.flatMap(_.cond)) ++
            dynCap.toSeq.flatMap(_.caps.flatMap(_.parts.flatMap(_.cond)))
          personTests <- personTestColumns(
            wheres ++ guards ++ tallies.flatMap(_._1) ++ accumConds, now,
            rowCtx = Some(events))
          // validate every expression compiles (placeholders for person tests)
          placeholder = personTests.map { case (pt, _, _) => pt -> (lit(true): Column) }.toMap
          _ <- traverse((wheres ++ guards ++ accumConds).map(compileExpr(_, now, placeholder)))
          // dynamic gate row sides must compile AND be numeric — a
          // non-numeric side would string-compare per row in the
          // interpreter (Value.cmp), which the double gate can't replay
          _ <- traverse(dynCap.toSeq.flatMap(_.caps.flatMap(_.gates)).map { case (_, e) =>
            compileExpr(e, now, placeholder).filter { c =>
              try probeType(events, c)
                .isInstanceOf[org.apache.spark.sql.types.NumericType]
              catch { case scala.util.control.NonFatal(_) => false }
            }
          })
          _ <- traverse(tallies.map(_._1.map(compileExpr(_, now, placeholder))
            .getOrElse(Some(lit(true)))))
          _ <- traverse(tallies.map(t =>
            traverse(t._2.map(g => compileExpr(g, now, placeholder)))))
          // `value` (last tally wins, merged by write-sequence) compiles
          // for ONE tally at one level — conditional or not: the writing
          // rows are exactly the rows satisfying the tally predicate with a
          // non-null source prop, so the interpreter's global write counter
          // collapses to the per-person rank among those rows (uniform
          // writes per row), and the merge key is a window column counting
          // them. Multi-tally/chain shapes write non-uniformly -> Tier B.
          valueOk = tallies.size == 1 && levels.size == 1
          aggs <- traverse(selects.zipWithIndex.map { case (s, j) =>
            if (s.agg != "value") compileAgg(s)
            else if (valueOk && s.withKey.isEmpty && s.prop != "id" &&
                s.prop != "session" && events.columns.contains(s.prop))
              Some(s.alias -> valueAgg(s, j, events))
            else None
          })
        } yield {
          val needsSession = Interpreter.referencesSession(program)
          // `session` AND `session_count` materialize together (round 15
          // fix: a compiled `session_count` reference previously hit an
          // unresolved column at analysis — loud, but it should compile:
          // the interpreter's value is the person's LAST 1-based session
          // index = max(session) over the partition). Catalyst prunes
          // whichever column the program doesn't actually read.
          val base0 = if (needsSession) {
            val W = org.apache.spark.sql.expressions.Window
            graft.operators.EventOps.sessionize(events, sessionGapMs)
              .withColumn("session_count",
                max(col("session")).over(W.partitionBy(col("id"))))
          } else events
          // person-level predicates (unframed ever/never) evaluate over the
          // customer's FULL history: window columns, added pre-filter; each
          // test's predicate comes from its own builder (exists-compare for
          // constant operands, scanned-prop aggregate compare for
          // current-row-dependent ones)
          // one projection for ALL person-test windows (they only read event
          // columns, never each other) — one analyzer pass instead of one
          // per test (round 18)
          val base = if (personTests.isEmpty) base0
            else base0.withColumns(personTests.zipWithIndex.map {
              case ((_, winCol, _), i) => s"__pt$i" -> winCol }.toMap)
          val real: Map[PropTest, Column] = personTests.zipWithIndex.map {
            case ((pt, _, mk), i) => pt -> mk(col(s"__pt$i"), Map.empty)
          }.toMap
          // late-bound variants for tests whose operand reads an in-chain
          // accumulator (__accs_): chainPlan re-derives the predicate per
          // collected spawn tuple (round 9 — ever-reads below a chain step)
          val realB: Map[PropTest, Map[String, Column] => Column] =
            personTests.zipWithIndex.collect {
              case ((pt, _, mk), i)
                  if opndReadsChainAccum(pt.cmp.operand) =>
                pt -> ((b: Map[String, Column]) => mk(col(s"__pt$i"), b))
            }.toMap
          // top-level frame bounds: constant sides fold straight into the
          // row predicate; first/last_stamp-anchored sides ride min/max
          // windows over the person partition (same id exchange as the rest
          // of the plan). Inclusive, like Interpreter.frameBounds.
          val (baseTF, topFrameCond) = topFrame match {
            case None => (base, None)
            case Some((lo, hi)) =>
              var b = base
              val Wp = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
              def side(bnd: TopB, isLo: Boolean): Option[Column] = bnd match {
                case TInf => None
                case TCst(v) =>
                  Some(if (isLo) col("stamp") >= v else col("stamp") <= v)
                case TMin(d) =>
                  if (!b.columns.contains("__tfmin"))
                    b = b.withColumn("__tfmin", min(col("stamp")).over(Wp))
                  Some(if (isLo) col("stamp") >= col("__tfmin") + d
                       else col("stamp") <= col("__tfmin") + d)
                case TMax(d) =>
                  if (!b.columns.contains("__tfmax"))
                    b = b.withColumn("__tfmax", max(col("stamp")).over(Wp))
                  Some(if (isLo) col("stamp") >= col("__tfmax") + d
                       else col("stamp") <= col("__tfmax") + d)
              }
              val conds = side(lo, isLo = true).toSeq ++ side(hi, isLo = false).toSeq
              (b, conds.reduceOption(_ && _))
          }

          if (levels.size == 1) {
            val where = levels.head.where
            val lvlTallies = levels.head.tallies
            val limitN = levels.head.limitN
            val predF0 = compileExpr(where, now, real).get
            val predF = topFrameCond.map(predF0 && _).getOrElse(predF0)
            val tallyPredsF = lvlTallies.map(_._1.map(p => compileExpr(p, now, real).get)
              .getOrElse(lit(true)))
            val tallyGroupsF = lvlTallies.map(t => t._2.map(g => compileExpr(g, now, real).get))
            val W = org.apache.spark.sql.expressions.Window
            val frame = W.partitionBy(col("id")).orderBy(col("stamp"))
            // `.from(k)`: only rows at 0-based person-row index >= k are
            // scanned (reverse: the scan walks DOWN from index k)
            val base1 = topFrom match {
              case None => baseTF
              case Some(k) =>
                val withRn = baseTF.withColumn("__rn0", row_number().over(frame))
                // reverse: the interpreter starts AT index k and walks down,
                // visiting nothing when the person has <= k rows (no clamp)
                if (mods.reverse)
                  withRn.withColumn("__cnt0",
                    count(lit(1)).over(W.partitionBy(col("id"))))
                else withRn
            }
            val effPred = topFrom match {
              case None => predF
              case Some(k) =>
                if (mods.reverse)
                  predF && col("__rn0") <= k + 1 && col("__cnt0") > k
                else predF && col("__rn0") >= k + 1
            }
            val filtered0 = (limitN match {
              case None => base1.where(effPred)
              case Some(n) =>
                // `.limit(n)`: stop after n where-matches — keep rows whose
                // match rank from the scan start (reverse: from the end) is
                // within the cap; same (id, stamp) sort as every window here
                val cum = count(when(effPred, 1)).over(
                  if (mods.reverse) frame.rowsBetween(W.currentRow, W.unboundedFollowing)
                  else frame.rowsBetween(W.unboundedPreceding, W.currentRow))
                base1.withColumn("__mc0", cum)
                  .where(effPred && col("__mc0") <= n).drop("__mc0")
            }).drop("__rn0", "__cnt0", "__tfmin", "__tfmax")
            // read-accumulator variables: every row of `filtered0` IS a
            // visited row, so the value every body read observes — init
            // plus each visited row's (possibly if-guarded) increments,
            // all applied before any read of the visit — is a running SUM
            // in scan order (reverse tops walk backward, so their visits
            // accumulate from the scan's end). Guards compile like tally
            // predicates; a null/false guard contributes 0 (the
            // interpreter's falsy skip).
            // Reverse tops use a DESC RUNNING frame, not an ascending
            // current→unbounded-following one: Spark streams a running
            // frame sequentially in sort order — one add per row, in
            // exactly the interpreter's backward fold order, so
            // floating-point increments stay bit-identical — while an
            // unbounded-FOLLOWING frame re-aggregates ascending from each
            // row (different fp association AND O(rows²) per person).
            // The DESC order mirrors the forward scan EXACTLY, ties
            // included: it descends on the forward sort's own row_number,
            // not on the (possibly duplicated) stamp.
            val (accBase0, accFrame, accTmp) =
              if (mods.reverse && (accums.nonEmpty || dynCap.isDefined)) {
                val b = filtered0.withColumn("__ord0", row_number().over(frame))
                (b, W.partitionBy(col("id")).orderBy(col("__ord0").desc)
                  .rowsBetween(W.unboundedPreceding, W.currentRow), Seq("__ord0"))
              } else
                (filtered0, frame.rowsBetween(W.unboundedPreceding, W.currentRow),
                 Seq.empty[String])
            // DYNAMIC where-cap (round 15): every row of filtered0 is a
            // residual-where CANDIDATE; the GatedFold window replays the
            // interpreter's sequential gate — vis = (running acc CMP
            // row side), acc updates only on visits — over the same
            // running frame the accumulators use (reverse tops ride the
            // identical DESC order). Visited rows filter on vis (plus
            // the post-fold visit-rank cap when `.limit(n)` or a static
            // cap on ANOTHER accumulator composes), and body reads of
            // the gating name observe the fold's post-visit acc.
            val accBase = dynCap match {
              case None => accBase0
              case Some(dc) =>
                val gates = dc.caps.zipWithIndex.flatMap { case (c, i) =>
                  c.gates.map { case (op, e) =>
                    (i, op, compileExpr(e, now, real).get.cast("double")) }
                }
                val fold = graft.functions.GatedFold.gatedFoldN(
                  dc.caps.map(c => (c.init.toDouble,
                    foldStages(c.parts, now, real, None))),
                  lit(true), gates).over(accFrame)
                val b0 = accBase0.withColumn("__gf", fold)
                val visCol = col("__gf").getField("vis")
                val (b1, visCond) = dynRankCap match {
                  case None => (b0, visCol)
                  case Some(m) =>
                    (b0.withColumn("__gfr",
                       count(when(visCol, 1)).over(accFrame)),
                     visCol && col("__gfr") <= m)
                }
                dc.caps.zipWithIndex.foldLeft(b1.where(visCond)) {
                  case (df2, (c, i)) => df2.withColumn(s"__acc_${c.name}",
                    col("__gf").getField(if (i == 0) "acc" else s"acc$i"))
                }.drop("__gf", "__gfr")
            }
            // accumulator windows are mutually independent (each reads only
            // event columns + its own guards), and so are the per-select
            // write-rank windows — ONE projection for all of them instead
            // of one analyzer pass per column (round 18)
            val accCols: Seq[(String, Column)] =
              accums.map { case (n, init, parts) =>
                val acc =
                  if (foldNeeded(init, parts))
                    // multi-statement / nonzero-init fp accumulators: the
                    // statement-ordered FoldSum replays the interpreter's
                    // exact add sequence (round 13)
                    graft.functions.FoldSum.foldSum(init.toDouble,
                      foldStages(parts, now, real, None)).over(accFrame)
                  else
                    lit(init) + coalesce(
                      sum(perVisitInc(parts, now, real)).over(accFrame), lit(0L))
                s"__acc_$n" -> acc
              }
            // per-person write rank for `value` selects (merge key): counts
            // the WRITING rows — tally predicate satisfied, source non-null.
            // A reverse top scans backward, so its LAST write is the
            // earliest-stamp writer: rank from the end instead
            val writePred = tallyPredsF.headOption.getOrElse(lit(true))
            val vqFrame = {
              val f = W.partitionBy(col("id")).orderBy(col("stamp"))
              if (mods.reverse) f.rowsBetween(W.currentRow, W.unboundedFollowing)
              else f.rowsBetween(W.unboundedPreceding, W.currentRow)
            }
            val vqCols: Seq[(String, Column)] =
              selects.zipWithIndex.collect {
                case (s, j) if s.agg == "value" =>
                  s"__vq_$j" -> count(
                    when(writePred && col(s.prop).isNotNull, 1)).over(vqFrame)
              }
            val derived = accCols ++ vqCols
            // batch only when no derived column reads another's name (an
            // accumulator increment that referenced a sibling `__acc_`
            // column must keep the sequential projection order)
            val derivedNames = derived.map(_._1).toSet
            val independent = derived.forall { case (_, c) =>
              !readsAny(c, derivedNames)
            }
            val filtered = (if (derived.isEmpty) accBase
                            else if (independent) accBase.withColumns(derived.toMap)
                            else derived.foldLeft(accBase) {
                              case (df, (n, c)) => df.withColumn(n, c) })
              .drop(accTmp: _*)
            if (lvlTallies.size == 1 && lvlTallies.head._1.isEmpty)
              rollupPlan(filtered, tallyGroupsF.head, selects, aggs)
            else
              explodePlan(filtered, tallyGroupsF, tallyPredsF, selects, aggs)
          } else
            chainPlan(baseTF, levels, now, real, selects, aggs, topFrameCond,
              accumsEff, realB, dynCap, dynRankCap)
        }
      case _ => None
    }
  }

  /** Compile a `.continue().next()` funnel chain relationally.
    *
    * Interpreter semantics (src/queryinterpreter.cpp:2430-2577): level-k's
    * cursor starts one past the level-(k-1) match and scans forward, so a
    * row fires at level k iff SOME strictly-increasing row chain matching
    * `where`s 1..k-1 ends before it (within each level's cursor-anchored
    * frame). Tally dedup is per (row, node), so multiple chains to the same
    * row count once — existence, not paths.
    *
    * Existence composes row-locally: a row is VISITED at level k iff it
    * matches `where`k and some visited level-(k-1) row precedes it — the
    * LATEST such row is always the best witness, for the frame bound
    * (closest stamp) and for `.limit(1)` (fewest intervening matches)
    * alike. So each level adds one max-over-preceding-rows window carrying
    * the latest visited previous row's (rn, stamp):
    *   eligible_k = witness exists
    *              [&& stamp - witness.stamp <= span      -- framed level]
    *              [&& lastSameLevelMatch.rn <= witness.rn -- limit(1)]
    * One sort-shuffle on `id` computes every window; tallies flow through
    * the explode plan with eligibility AND'ed in. */
  /** Inner-step shapes that compose with chain accumulators: forward OR
    * reverse (round 11) continue().next() steps, optionally framed and
    * `.limit(n)`-capped — per-spawn eligibility is decided IN-ROW from
    * the collected spawn tuples (stamp for the frame check, the spawn's
    * cumulative inner-match count for the limit check, exactly the
    * witness arithmetic [[chainWitnesses]] uses). A REVERSE step's
    * visited rows sit BEFORE its spawn, so the tuples collect over the
    * FOLLOWING window and every check mirrors (the rev `__mc1` already
    * counts from the right). `.from(k)` RESTART steps (round 11) also
    * compose: every spawn rescans the SAME fixed tail (row index ≥ k),
    * so a row's visitors can sit on EITHER side — tuples collect over a
    * two-sided range window (the frame inverted around the row), the
    * index floor and any `.limit(n)` are spawn-INDEPENDENT row checks
    * (limits are upstream-gated to unframed restarts), and frames
    * anchor per tuple. */
  private def chainAccumOk(l1: ChainLevel): Boolean = true

  /** A PLAIN chain step: unguarded, unframed, unlimited, forward, no
    * restart — its visited set from spawn s is exactly "where-matching
    * rows strictly after s". */
  private def plainStep(l: ChainLevel): Boolean =
    l.guard.isEmpty && unframedStep(l)

  /** Plain except possibly a guard: unframed, unlimited, forward, no
    * restart. */
  private def unframedStep(l: ChainLevel): Boolean =
    l.spanMs.isEmpty && l.contraSpanMs.isEmpty &&
      l.limitN.isEmpty && !l.reverse && !l.isFromStep

  private def conjunctsOf(e: Expr): Seq[Expr] = e match {
    case BinOp("&&", l, r) => conjunctsOf(l) ++ conjunctsOf(r)
    case x => Seq(x)
  }

  /** A guard conjunct whose only data references are in-chain accumulator
    * reads (`__accs_` rewrites): a pure function of the SPAWN tuple —
    * increments lead the top body, so nothing changes during a nested
    * scan and the interpreter observes the spawn's running value. Such
    * conjuncts evaluate per collected tuple / ordinal (with the tuple
    * binds) instead of folding into the row-count predicates. Calls
    * require a nonempty argument list: a zero-arg builtin (`get_row()`)
    * is cursor-dependent even with no argument to inspect. */
  private def spawnPure(e: Expr): Boolean = e match {
    case Lit(_) => true
    case VarRef("now") | PropRef("now") => true
    case VarRef(n)  => n.startsWith("__accs_")
    case PropRef(n) => n.startsWith("__accs_")
    case BinOp(_, l, r) => spawnPure(l) && spawnPure(r)
    case UnOp(_, x)     => spawnPure(x)
    case Call(_, as)    => as.nonEmpty && as.forall(spawnPure)
    case _ => false
  }

  /** Guards on inner chain steps (k ≥ 2, evaluated at the parent-level
    * row) split by top-level `&&` conjunct: accumulator-free conjuncts
    * fold into the count/ladder predicates, spawn-pure conjuncts
    * evaluate per tuple — a conjunct that mixes both (e.g. `n < price`)
    * declines on the COLLECT path (its interval counts need
    * spawn-independent predicates), but a comparison-shaped mixed
    * conjunct compiles on the ORDINAL path (round 12, see
    * [[MixedBound]]). */
  private def guardSplitOk(l: ChainLevel): Boolean =
    l.guard.forall(g => conjunctsOf(g).forall(c =>
      spawnPure(c) || !readsName(c, _.startsWith("__accs_"))))

  /** A MIXED guard conjunct — a bare in-chain accumulator read compared
    * against a row expression (`n < price`, `get_hour(stamp) > n`) —
    * normalized to "acc OP rowExpr". On the ordinal path the j-th spawn's
    * accumulator value is the affine init + c·j, so the conjunct is a
    * per-row bound on the spawn ordinal: when the satisfied set is
    * downward-closed in j (OP and the sign of c agree — see
    * [[mixedSolvable]]), reach stays a spawn PREFIX and the conjunct
    * folds into the reachability ladder as one `least(...)` term —
    * hi(row) = the largest satisfying ordinal, computed in-row with
    * exact integer arithmetic (see chainPlan's `mixedHi`). Only plain
    * `BinOp` comparisons compile; `.is(OP acc)` prop-test forms and
    * non-bare accumulator sides stay Tier B (pinned). */
  private case class MixedBound(acc: String, op: String, rowExpr: Expr)

  private def bareAccName(e: Expr): Option[String] = e match {
    case VarRef(n) if n.startsWith("__accs_")  => Some(n.stripPrefix("__accs_"))
    case PropRef(n) if n.startsWith("__accs_") => Some(n.stripPrefix("__accs_"))
    case _ => None
  }

  private val mixedCmpOps = Set("<", "<=", ">", ">=")
  private def flipCmp(op: String): String = op match {
    case "<" => ">"
    case "<=" => ">="
    case ">" => "<"
    case ">=" => "<="
  }

  /** Affine-in-accumulator side: `n`, `n ± k`, `k + n` (recursively, so
    * `n + 1 - 2` works) → (name, shift). The accumulator is a long
    * (mixed bounds require literal-constant increments), so shifting the
    * comparison — `n + s OP R ⟺ n OP R − s` — is exact integer
    * arithmetic, the same as the interpreter's own `Value.plus` fold
    * (round 13, residue item: non-bare accumulator sides). */
  private def accShifted(e: Expr): Option[(String, Long)] = e match {
    case _ if bareAccName(e).isDefined => bareAccName(e).map(_ -> 0L)
    case BinOp("+", a, Lit(VInt(k))) =>
      accShifted(a).map { case (n, s) => (n, s + k) }
    case BinOp("+", Lit(VInt(k)), a) =>
      accShifted(a).map { case (n, s) => (n, s + k) }
    case BinOp("-", a, Lit(VInt(k))) =>
      accShifted(a).map { case (n, s) => (n, s - k) }
    case _ => None
  }

  private def shiftRow(e: Expr, d: Long): Expr =
    if (d == 0L) e else BinOp("-", e, Lit(VInt(d)))

  private def mixedBoundOf(c: Expr): Option[MixedBound] = c match {
    case BinOp(op, l, r) if mixedCmpOps(op) =>
      (accShifted(l), accShifted(r)) match {
        case (Some((a, s)), None) if !readsName(r, _.startsWith("__acc")) =>
          Some(MixedBound(a, op, shiftRow(r, s)))
        case (None, Some((a, s))) if !readsName(l, _.startsWith("__acc")) =>
          Some(MixedBound(a, flipCmp(op), shiftRow(l, s)))
        case _ => None
      }
    // `.is(OP acc)` prop-test form (round 13): `p.is(> n)` at the guarded
    // row means `p > n ⟺ n < p` — the same bound with the prop as the
    // row side. Unframed `.is` only (frames re-anchor the scan; `.is_not`
    // complements differently on nil props — the interpreter's nil
    // compare is falsy under BOTH `.is(>)` and `.is_not(>)`, which no
    // single flipped op reproduces).
    case PropTest(p, "is", Comparator(op, o), None, false)
        if mixedCmpOps(op) && !p.startsWith("__accs_") =>
      accShifted(o).map { case (a, s) =>
        MixedBound(a, flipCmp(op), shiftRow(PropRef(p), s))
      }
    case _ => None
  }

  /** The (init, total-per-visit-increment) of a constant-literal
    * accumulator — defined exactly when the ordinal-path increment gate
    * holds (same extraction as chainPlan's `bindsOf`). */
  private def accAffine(accums: Seq[(String, Long, Seq[AccumPart])],
                        n: String): Option[(Long, Long)] =
    accums.collectFirst { case (m, init, parts) if m == n =>
      (init, parts.flatMap(_.incThen).collect { case Lit(VInt(k)) => k }.sum)
    }

  /** Is the mixed conjunct's satisfied ordinal set downward-closed — a
    * PREFIX of the spawn sequence? value(j) = init + c·j: increasing c
    * needs an upper-bounding OP, decreasing c a lower-bounding one; a
    * zero slope is j-independent (hi is all-or-nothing). The suffix
    * forms would break the prefix reach structure the K-ladder encodes
    * and stay Tier B — under a FORWARD top. */
  private def mixedSolvable(mb: MixedBound,
                            accums: Seq[(String, Long, Seq[AccumPart])]): Boolean =
    accAffine(accums, mb.acc).exists { case (_, c) =>
      c == 0 || (if (c > 0) mb.op == "<" || mb.op == "<="
                 else mb.op == ">" || mb.op == ">=")
    }

  /** Reverse-top dual (round 14): under a REVERSE top the j-th BACKWARD
    * spawn ordinal carries value init + c·j, and reachability of a hop y
    * is a SUFFIX in backward-ordinal space (i ≥ T − K(y) + 1, K the
    * forward prefix ladder, T the person's spawn total). A mixed guard
    * whose satisfied set is upward-closed in i — increasing c with a
    * lower-bounding OP, decreasing c with an upper-bounding one: exactly
    * the classes the forward top DECLINES — keeps every per-hop valid
    * set a suffix [max(T−K+1, lo), T], and a union of common-upper
    * suffixes is contiguous, so the existing max-ladder composes with
    * prev := least(K, T − lo(y) + 1). Prefix-form guards under a reverse
    * top leave per-hop sets with hop-dependent LOWER ends (unions gap)
    * and stay Tier B. */
  private def mixedSuffixSolvable(mb: MixedBound,
                                  accums: Seq[(String, Long, Seq[AccumPart])])
      : Boolean =
    accAffine(accums, mb.acc).exists { case (_, c) =>
      c == 0 || (if (c > 0) mb.op == ">" || mb.op == ">="
                 else mb.op == "<" || mb.op == "<=")
    }

  /** [[guardSplitOk]] widened by the mixed class: every conjunct
    * spawn-pure, accumulator-free, or a recognized mixed bound. */
  private def guardSplitMixedOk(l: ChainLevel): Boolean =
    l.guard.forall(g => conjunctsOf(g).forall(c =>
      spawnPure(c) || !readsName(c, _.startsWith("__accs_")) ||
        mixedBoundOf(c).isDefined))

  private def mixedBoundsAt(levels: Seq[ChainLevel], k: Int): Seq[MixedBound] =
    levels(k).guard.map(conjunctsOf(_).filterNot(spawnPure)
      .filter(readsName(_, _.startsWith("__accs_")))
      .flatMap(mixedBoundOf)).getOrElse(Nil)

  /** Shape gate for chains carrying any mixed conjunct: every mixed
    * conjunct PREFIX-solvable under a forward top / SUFFIX-solvable
    * under a reverse top (round 14 — the backward-ordinal dual, see
    * [[mixedSuffixSolvable]]), and no deepest-step `.limit(m)` when the
    * DEEPEST step itself is mixed-guarded — the G-lookup's "latest match
    * is valid for every eligible spawn" fails once last-hop validity
    * depends on the spawn. */
  private def chainMixedOk(levels: Seq[ChainLevel],
                           accums: Seq[(String, Long, Seq[AccumPart])]): Boolean = {
    def aligned(mb: MixedBound) =
      if (levels.head.reverse) mixedSuffixSolvable(mb, accums)
      else mixedSolvable(mb, accums)
    def contra(mb: MixedBound) =
      if (levels.head.reverse) mixedSolvable(mb, accums)
      else mixedSuffixSolvable(mb, accums)
    val at = (2 until levels.size).map(k => k -> mixedBoundsAt(levels, k))
    at.forall(_._2.isEmpty) ||
      at.forall { case (k, mbs) =>
        mbs.forall(mb => aligned(mb) || contra(mb)) &&
          // CONTRA-direction bounds (round 14: suffix forms under a
          // forward top / prefix forms under a reverse top) compile only
          // at the DEEPEST level over a range-bounded hop window: per-hop
          // valid sets become arbitrary intervals whose union can gap,
          // so entries are the exact merged-interval union over the
          // frame-bounded hop window — no closed-form ladder fold exists
          // (the mismatched endpoint varies per hop). Round 15: the
          // window may follow any direction (mixedUnionDirOk) — finite
          // forward look_ahead, finite aligned reverse look_back, or a
          // finite-bracket framed restart.
          mbs.filterNot(aligned).forall(_ => k == levels.size - 1 &&
            mixedUnionDirOk(levels.last)) &&
          // a mixed-guarded DEEPEST may be limited when the limit is an
          // exact per-hop computation (round 14): framed forward — the
          // hop collect carries (count, mixed-folded K) pairs; framed
          // reverse / unframed restart — the nonFwdLimDeepOk machinery
          // is already per-hop/row-level exact. The forward G-lookup
          // alone can't carry it (min(K, hi) isn't hop-monotone).
          // Round 15: CONTRA forms under a FRAMED deepest limit compose
          // too — the union's interval collect gains the same per-hop
          // rank filter (mixedUnionFrameOk no longer requires
          // unlimited); non-forward limited deepests stay aligned-only.
          (mbs.isEmpty || k < levels.size - 1 ||
            levels.last.limitN.isEmpty ||
            nonFwdLimDeepOk(levels.last) ||
            fwdLimCollectOk(levels.last)) &&
          // a mixed-guarded MIDDLE must itself be UNLIMITED (round 14:
          // the limited-middle G-conjunct needs hop-monotone reach, and
          // a mixed least-fold breaks that monotonicity); the deepest
          // case is governed by the per-hop rule above
          (mbs.isEmpty || k == levels.size - 1 || levels(k).limitN.isEmpty)
      }
  }

  /** A contra-direction mixed bound's hop window must be range-bounded:
    * finite forward look_ahead (the per-row interval collect is then
    * capped by the frame's row density). A deepest `.limit(m)` composes
    * since round 15: each hop's interval only counts when the row is
    * within the hop's first m deepest matches — the fwdLimCollect rank
    * filter applied to the collected interval structs. */
  private def mixedUnionFrameOk(l: ChainLevel): Boolean =
    frameableStep(l) && l.spanMs.exists(_ != Long.MaxValue)

  /** Round-15 continuation: the contra union composes with NON-FORWARD
    * deepests too — the hop window follows the step's direction (finite
    * aligned REVERSE look_back: hops follow the row; finite-bracket
    * FRAMED RESTART: hops bracket it), and a deepest `.limit(m)` joins
    * as that direction's own per-hop rank filter (reverse: the backward
    * between-count D(y⁻) − C(r) ≤ m−1; restart: the floored rank
    * C'(r) − G(y) ≤ m). UNFRAMED restarts stay Tier B — the bracket is
    * unbounded, so the interval collect has no cap. */
  private def mixedUnionDirOk(l: ChainLevel): Boolean =
    mixedUnionFrameOk(l) ||
      (l.reverse && l.contraSpanMs.isEmpty &&
        l.spanMs.exists(_ != Long.MaxValue)) ||
      (l.isFromStep && (l.spanMs.isDefined || l.contraSpanMs.isDefined) && {
        val (dLo, dHi) = deepS1Offsets(l)
        dLo.isDefined && dHi.isDefined
      })

  private def hasMixedGuards(levels: Seq[ChainLevel]): Boolean =
    (2 until levels.size).exists(k => mixedBoundsAt(levels, k).nonEmpty)

  /** Every mixed conjunct's row side must compile AND be a numeric type
    * the solved bound reproduces bit-for-bit. DOUBLE/FLOAT sides
    * (round 14) solve exactly through floor/ceil inclusive bounds —
    * valid because the interpreter's own long-vs-double compare
    * converts the accumulator to double, which is lossless while
    * |value| stays inside 2^53. The magnitude gate bounds it:
    * |init| ≤ 2^51 and |c| ≤ 2^21 keep |init + c·j| < 2^53 for any j a
    * Spark window partition can hold (< 2^31 rows). Round 15 applies
    * the same gate to INTEGRAL sides: the solved-bound arithmetic
    * clamps row sides to ±2^62 and offsets them by ±init, ±(c−1)
    * (wrap-free only under the gate — an ungated init near Long.Max
    * would make `bound − init` overflow). Wilder literals decline to
    * the interpreter rather than mimic wrap/fp rounding (the shiftB
    * policy). */
  private def mixedRowSidesOk(levels: Seq[ChainLevel], events: DataFrame,
                              now: Long,
                              accums: Seq[(String, Long, Seq[AccumPart])])
      : Boolean = {
    import org.apache.spark.sql.types.{ByteType, DoubleType, FloatType,
      IntegerType, LongType, ShortType}
    (2 until levels.size).forall(k => mixedBoundsAt(levels, k).forall { mb =>
      try compileExpr(mb.rowExpr, now, Map.empty).exists { c =>
        probeType(events, c) match {
          case LongType | IntegerType | ShortType | ByteType |
               DoubleType | FloatType =>
            accAffine(accums, mb.acc).exists { case (init, slope) =>
              math.abs(init) <= (1L << 51) && math.abs(slope) <= (1L << 21)
            }
          case _ => false
        }
      }
      catch { case scala.util.control.NonFatal(_) => false }
    })
  }

  /** Is the step's guard free of row-prop conjuncts (absent, or every
    * conjunct spawn-pure)? Required under an intermediate-step limit,
    * whose count space must be the bare level-1 where. */
  private def rowFreeGuard(l: ChainLevel): Boolean =
    l.guard.forall(g => conjunctsOf(g).forall(spawnPure))

  /** Deep (≥3-level) chain accumulators. Reachability from a spawn
    * composes through running-max windows: with `P1(x)` = count of
    * level-1 matches through x and `Pj(x)` = max over level-j matches
    * y ≤ x of `P(j-1)(y−1)`, a row r is a level-j visit for spawn s0 iff
    * `P(j-1)(r−1) > P1(s0)` — a chain s0 < s1 < … < s(j-1) < r exists
    * exactly when some level-(j-1) match before r has seen a deeper prefix
    * than s0 had (monotonicity of the running counts; induction on j).
    * Each level needs ONE extra window over the SAME person sort, and the
    * collected tuple still carries a single count.
    *
    * Depth ≥ 4 requires every inner step PLAIN. Depth 3 (round 11) also
    * compiles FRAMED (finite look_ahead) and GUARDED inner steps: with
    * exactly one intermediate level, reachability is the count of
    * spawning level-1 matches (pred₁ ∧ the level-2 step's guard) in the
    * stamp interval (s0, s0+span₁] ∩ [r−span₂, r) — and an interval
    * count between prefix counts at its ENDPOINTS is computable in-row
    * because prefix counts are monotone: C(min(a,b)) = min(C(a), C(b)).
    * The tuple carries C(s0) and C(s0+span₁) (a rangeBetween window at
    * the spawn); the row carries C(r⁻) and C(r−span₂−1); reach ⇔
    * min(upper endpoints) > max(lower endpoints).
    *
    * ONE inner `.limit(n)` also composes (round 11), because an ordinal
    * bound is itself a stamp bound under monotone counts:
    *  - on the INTERMEDIATE step ("first n level-1 matches after the
    *    spawn"): s1 is valid iff C(s1) ≤ C(s0)+n, so C(s0)+n is simply
    *    one more min-term among the upper endpoints. Needs an UNGUARDED
    *    deepest step — the limit counts pred₁ VISITS while the interval
    *    count is over SPAWNING matches pred₁∧guard₂, and they only
    *    coincide when guard₂ is absent.
    *  - on the DEEPEST step ("r among the first m level-2 matches after
    *    s1", i.e. C₂(r)−C₂(s1) ≤ m): later s1 is always better (C₂
    *    monotone), and if the stamp interval holds ≥1 spawning match
    *    the LATEST spawning match at-or-before the interval's upper
    *    endpoint lies inside it — so reach ⇔ interval count > 0 ∧
    *    C₂(r) − G(upper) ≤ m, where G(x) = max over spawning matches
    *    y ≤ x of C₂(y) is monotone (G at a min of stamps = min of Gs).
    *    G(r⁻) is a row window, G(s0+span₁) rides the tuple.
    * Look_back, reverse and `.from` inner steps, and BOTH steps limited,
    * stay Tier B.
    *
    * GUARDS on inner steps (round 11) compose at ANY depth via the
    * split in [[guardSplitOk]]: row-prop conjuncts restrict ROWS
    * uniformly across spawns, so they fold into the ladder/count
    * predicates (`__Pj` gains the guard gating step j+1 — evaluated at
    * the level-j row — and the induction is unchanged); spawn-pure
    * accumulator conjuncts prune SPAWNS uniformly across rows — the
    * chain-existence machinery stays unguarded and the conjunct is
    * AND'ed per tuple/ordinal with the spawn binds. Frames and limits
    * remain depth-3-only. */
  private def chainDeepOk(levels: Seq[ChainLevel],
                          accums: Seq[(String, Long, Seq[AccumPart])]): Boolean =
    // a reverse TOP only changes which rows spawn (level-0 eligibility,
    // folded into spawnCond); the inner scans still walk forward, so the
    // reachability ladder is direction-independent.
    // MIXED accum+row guard conjuncts (round 12) compile ONLY through
    // the ordinal ladder (the collect path's interval counts need
    // spawn-independent predicates), so their presence narrows the gate
    // to exactly the ordinal-eligible shapes.
    (if (hasMixedGuards(levels))
       levels.size <= OslEngine.MaxDepth && chainOrdinalOnly(levels, accums)
     else chainDeepPlainOk(levels, accums))

  private def chainDeepPlainOk(levels: Seq[ChainLevel],
                               accums: Seq[(String, Long, Seq[AccumPart])])
      : Boolean =
    levels.size <= OslEngine.MaxDepth &&
      levels.drop(2).forall(guardSplitOk) &&
      (if (levels.size == 3)
         dir3StepOk(levels(1)) && dir3StepOk(levels(2)) &&
           // MID-step limits need a row-prop-free deepest guard (the
           // limit counts pred₁ VISITS, the interval counts SPAWNING
           // matches — they must coincide). Forward-mid limits are an
           // upper-endpoint min-term, reverse-mid limits a lower-endpoint
           // max-term (the n closest matches below the spawn), UNFRAMED
           // restart-mid limits a rank cap folded into the count
           // predicate (every spawn sees the identical floored
           // sequence), and FRAMED restart-mid limits (round 15) one
           // more upper-endpoint min-term n + G(s0) — under rowFreeGuard
           // the rank space IS the interval-count space, and G (the
           // below-frame floored count at the spawn) already rides the
           // tuple as the interval's own lower endpoint (__mlo/__cmx).
           (levels(1).limitN.isEmpty || rowFreeGuard(levels(2))) &&
           // DEEPEST-step limits keep the forward G/Γ machinery: both
           // steps must scan forward (backward / absolute-floor visit
           // counts are not the forward match-count difference it prices).
           // Round 14: non-forward deepest limits compose on the ORDINAL
           // path only (framed reverse: exact max over the filtered hop
           // set; unframed restart: row-level floored-count conjunct) —
           // the depth-3 COLLECT interval-G machinery stays forward-only
           (levels(2).limitN.isEmpty ||
             (frameableStep(levels(1)) && frameableStep(levels(2))) ||
             (nonFwdLimDeepOk(levels(2)) && chainOrdinalOnly(levels, accums)))
       else
         // depth ≥ 4 (round 11): middle steps stay unframed/unlimited,
         // but the DEEPEST step may carry a finite look_ahead and/or a
         // `.limit(m)` — validity of a last-hop row y for spawn s0
         // (`__P(size−3)(y) > cm(s0)`) is monotone in y, so valid rows
         // form a SUFFIX and "the latest match is best" holds: a frame
         // range-bounds the last ladder window, a limit is one
         // spawn-independent G-lookup conjunct (see chainPlan). Round 12:
         // the deepest step may also be REVERSE or a RESTART (unlimited)
         // — hop validity is K-monotone in the hop row in any direction,
         // so the final ladder window just flips/brackets (lastHopWin).
         // Round 14: non-forward deepest limits, ordinal path only; and
         // framed / reverse / restart MIDDLE steps, also ordinal-only
         // (the collect path's reachability counts stay forward-plain).
         (levels.tail.init.forall(unframedStep) ||
           chainOrdinalOnly(levels, accums)) &&
           dir3StepOk(levels.last) &&
           (levels.last.limitN.isEmpty || frameableStep(levels.last) ||
             (nonFwdLimDeepOk(levels.last) &&
               chainOrdinalOnly(levels, accums))))

  /** Depth-3 inner-step shapes the interval-count reachability handles:
    * forward, no restart, no look_back; finite look_ahead, split-ok
    * guards (see [[guardSplitOk]]) and `.limit(n)` on either or BOTH
    * steps (round 12 — an intermediate limit needs a row-prop-free
    * deepest guard) compose. */
  private def frameableStep(l: ChainLevel): Boolean =
    l.contraSpanMs.isEmpty && !l.reverse && !l.isFromStep

  /** EITHER depth-3 step may be forward (finite look_ahead), REVERSE
    * (aligned look_back only) or a `.from(k)` RESTART (round 12): every
    * combination keeps reachability an interval count over the spawning
    * level-1 matches, because each direction only moves the s1
    * interval's endpoints — to the row's other side for a non-forward
    * DEEPEST step (reverse: s1 ∈ (r, r+b]; restart: s1 ∈ [r−a, r+b]) and
    * to the spawn's other side for a non-forward MIDDLE step (reverse:
    * s1 ∈ [s0−a1, s0); restart: s1 ∈ [s0−b, s0+a]) — and monotone prefix
    * counts price any endpoint direction. Limit interactions are gated
    * separately (see the depth-3 branch of [[chainDeepPlainOk]]). */
  private def dir3StepOk(l: ChainLevel): Boolean =
    frameableStep(l) || (l.reverse && l.contraSpanMs.isEmpty) || l.isFromStep

  /** `.limit(m)` on a NON-FORWARD deepest step (round 14), ordinal path
    * only. REVERSE needs a finite aligned `look_back`: valid hops y for a
    * row r are the mid-matches in (r, r+b] with fewer than m deep matches
    * strictly between r and y — a PREFIX of the following hops (the
    * between-count grows with y), while the ladder value K grows with
    * LATER hops, so no single extreme hop decides both criteria and reach
    * must be the exact max over the filtered hop set; the frame bounds
    * the per-row hop-candidate collect (O(rows-in-span) structs, the
    * round-11/12 collect-window cost class). An unframed reverse limit
    * would need an unbounded following collect — Tier B. An UNFRAMED
    * RESTART deepest: every hop rescans the identical floored tail, so
    * the limit is one row-level count conjunct (r among the first m
    * floored deep matches). A FRAMED restart deepest (round 15) prices
    * per hop instead — see [[fromFramedLimOk]].
    * Reference: src/queryinterpreter.cpp:2437-2577. */
  private def nonFwdLimDeepOk(l: ChainLevel): Boolean =
    (l.reverse && l.contraSpanMs.isEmpty &&
      l.spanMs.exists(_ != Long.MaxValue)) ||
      (l.isFromStep && l.spanMs.isEmpty && l.contraSpanMs.isEmpty) ||
      fromFramedLimOk(l)

  /** A FRAMED `.from(k)` restart step + `.limit(m)` (round 15), ordinal
    * path, deepest OR middle: every hop rescans from the same absolute
    * floor, but its frame cuts a DIFFERENT prefix of the floored tail —
    * so no single row-level rank cap exists. The row's rank in hop y's
    * scan is exact arithmetic though: rank = C'(r) − G(y), with C' the
    * running floored-match count and G(y) the floored matches strictly
    * below y's frame (stamp < st_y − back), a per-hop range-window
    * count. The ladder prices it with the filtered-hop-max collect the
    * framed-reverse limit uses — (G, K) structs over the inverted-frame
    * bracket — which must be FINITE on both sides to bound the per-row
    * hop array (a half-infinite frame leaves the bracket unbounded →
    * Tier B; the witness path has no such restriction, its max-G
    * window needs no collect). */
  private def fromFramedLimOk(l: ChainLevel): Boolean =
    l.isFromStep && (l.spanMs.isDefined || l.contraSpanMs.isDefined) && {
      val (dLo, dHi) = deepS1Offsets(l)
      dLo.isDefined && dHi.isDefined
    }

  /** A FORWARD framed deepest limit priced by the exact per-hop collect
    * (round 14): needed whenever the G-lookup's monotone-dominance
    * argument doesn't hold — a mixed guard at the deepest (min(K, hi)
    * isn't hop-monotone) or non-plain middles below (sliding/flipped
    * window maxima aren't monotone). The frame bounds the per-row hop
    * array. */
  private def fwdLimCollectOk(l: ChainLevel): Boolean =
    frameableStep(l) && l.spanMs.exists(_ != Long.MaxValue)

  /** (mA, mB): the spawn's position relative to a mid-step visit —
    * s0 ∈ [s1−mA, s1+mB]; None = that side unbounded. Used for the
    * spawn-collect window bounds and the range-bounded memory gate. */
  private def midSpawnOffsets(l: ChainLevel): (Option[Long], Option[Long]) =
    if (l.isFromStep) {
      val a = l.spanMs
      val b = l.contraSpanMs
      (a match {
        case Some(x) if x != Long.MaxValue => Some(x)
        case Some(_) => None
        case None => if (b.isDefined) Some(0L) else None
      },
       b match {
        case Some(x) if x != Long.MaxValue => Some(x)
        case Some(_) => None
        case None => if (a.isDefined) Some(0L) else None
      })
    }
    else if (l.reverse) (Some(0L), l.spanMs.filter(_ != Long.MaxValue))
    else (l.spanMs.filter(_ != Long.MaxValue), Some(0L))

  /** (dLo, dHi): the s1 interval of a deepest-step visit relative to the
    * row — s1 ∈ [r+dLo, r+dHi]; None = that side unbounded. */
  private def deepS1Offsets(l: ChainLevel): (Option[Long], Option[Long]) =
    if (l.isFromStep) {
      val a = l.spanMs
      val b = l.contraSpanMs
      (a match {
        case Some(x) if x != Long.MaxValue => Some(-x)
        case Some(_) => None
        case None => if (b.isDefined) Some(0L) else None
      },
       b match {
        case Some(x) if x != Long.MaxValue => Some(x)
        case Some(_) => None
        case None => if (a.isDefined) Some(0L) else None
      })
    }
    else if (l.reverse) (Some(0L), l.spanMs.filter(_ != Long.MaxValue))
    else (l.spanMs.filter(_ != Long.MaxValue).map(-_), Some(0L))

  /** Chain-accumulator shapes whose per-spawn values derive from the spawn
    * ORDINAL alone (value = init + c·j): plain inner steps (any depth —
    * round 11), forward top, constant integer-literal increments. These
    * compile without collecting spawn tuples: with plain steps the spawns
    * that reach a row at level j always form a PREFIX of the spawn
    * sequence — the reachability condition "∃ level-(j−1) visit from s
    * before r" only loosens as s moves earlier — so the per-row entry
    * array is `sequence(1, K_j(r))`, and the prefix SIZE composes through
    * running-max windows exactly like the round-9 count ladder:
    *   K_1(r) = spawns strictly before r (one running count);
    *   K_j(r) = max over pred_(j−1) rows y < r of K_(j−1)(y)
    * (a spawn reaches level j at r iff it reaches level j−1 at some
    * earlier pred_(j−1) row; the union of prefixes is the largest).
    * One window per level, NO collected array, NO per-person row-bound
    * probe — the deep-chain window state is `depth` longs.
    *
    * REVERSE tops ride the same ladder (round 11): the spawn SET and the
    * inner scans are direction-independent — only the accumulator value
    * mapping changes, because the backward scan gives the forward-i-th
    * spawn ordinal T−i+1 (T = the person's total spawn count, one more
    * full-partition count on the same sort). The eligible prefix of
    * forward size K maps to backward ordinals {T−K+1 … T}, so the entry
    * array is `sequence(T−K+1, T)` instead of `sequence(1, K)`.
    *
    * Inner-step GUARDS at levels ≥ 2 (round 11) ride the ordinal path
    * too: row-prop conjuncts fold into the K-ladder window predicates,
    * spawn-pure conjuncts evaluate per ordinal (the binds give the
    * exact value init + c·j). The FIRST chain step must stay fully
    * plain — its guard is evaluated at the SPAWN and makes some top
    * visits non-spawning, breaking the visit-ordinal = spawn-ordinal
    * value mapping (those shapes collect). */
  private def chainOrdinalOnly(levels: Seq[ChainLevel],
                               accums: Seq[(String, Long, Seq[AccumPart])]): Boolean = {
    // the DEEPEST step may be framed (finite look_ahead) and/or limited
    // when at least one intermediate level separates it from the spawn
    // (round 11): its frame anchors at the last-hop row, so reach stays
    // "∃ valid last hop in [r−span, r)" — suffix-monotone, hence still a
    // spawn PREFIX. At depth 2 the deepest step IS the first — its frame
    // anchors at the spawn itself and old spawns fall OUT of frame (not
    // a prefix), so depth-2 framed/limited shapes keep collecting.
    levels.size >= 2 && plainStep(levels(1)) &&
      // MIDDLE levels (round 14 — previously plain-only): any direction
      // with its cursor-anchored frame rides the per-level hopWin — each
      // level's reach set stays a spawn PREFIX, so the max-ladder
      // composes under any direction mix. A FORWARD middle may also be
      // LIMITED: the latest in-frame hop dominates both reach (K is
      // hop-monotone) and limit validity (largest hop count = smallest
      // between-count), so a failing limit at the latest hop fails at
      // every hop — the level's reach zeroes under one G-conjunct
      // (C_j − G_j ≤ n). Non-forward middle limits stay Tier B (the
      // best-reach and best-limit hops diverge).
      (2 until levels.size - 1).forall { k =>
        val l = levels(k)
        // a LIMITED forward middle's G-conjunct needs the hop-side reach
        // column monotone: every level BELOW it must be unframed forward
        // (running-max windows; sliding/flipped windows aren't
        // monotone). When monotonicity fails, a FRAMED forward middle
        // limit prices exactly PER HOP instead (round 15 — the deepest
        // fwdLimCollect machinery applied at the level; the frame bounds
        // the collect, so unframed forms above non-monotone levels stay
        // Tier B). A LIMITED unframed RESTART middle is simpler: every
        // hop rescans the identical floored tail, so its limit is a
        // row-level count conjunct on the level's visit predicate. A
        // LIMITED framed REVERSE middle prices exactly per hop (the
        // same filtered-hop-max collect the reverse deepest uses), so
        // it needs no monotonicity below it — and so does a LIMITED
        // FRAMED RESTART middle (round 15): each hop's rank is
        // C'(r) − G(y), collected per hop over the finite inverted-frame
        // bracket (fromFramedLimOk).
        (l.limitN.isEmpty || (frameableStep(l) &&
          ((2 until k).forall(i => unframedStep(levels(i))) ||
            l.spanMs.exists(_ != Long.MaxValue))) ||
          (l.isFromStep && l.spanMs.isEmpty && l.contraSpanMs.isEmpty) ||
          fromFramedLimOk(l) ||
          (l.reverse && l.contraSpanMs.isEmpty &&
            l.spanMs.exists(_ != Long.MaxValue))) &&
          dir3StepOk(l) && guardSplitMixedOk(l)
      } &&
      (levels.size == 2 ||
        // round 12: the deepest step may also be REVERSE / RESTART
        // (unlimited) — the final ladder window flips (lastHopWin).
        // Round 14: non-forward deepest LIMITS compose too (framed
        // reverse / unframed restart — see nonFwdLimDeepOk; those two
        // are EXACT per-hop computations, so they tolerate non-monotone
        // reach below). The FORWARD deepest-limit G-lookup ("latest hop
        // dominates") needs monotone reach: middles must be unframed
        // forward under it.
        (dir3StepOk(levels.last) && guardSplitMixedOk(levels.last) &&
          (levels.last.limitN.isEmpty || nonFwdLimDeepOk(levels.last) ||
            // framed forward limits always compile (the per-hop collect
            // prices them exactly when monotonicity fails); UNFRAMED
            // forward limits keep the G-lookup, which needs unframed
            // forward middles below it
            fwdLimCollectOk(levels.last) ||
            (frameableStep(levels.last) &&
              levels.slice(2, levels.size - 1).forall(unframedStep))))) &&
      accums.forall { case (_, _, parts) =>
        parts.forall(p => p.cond.isEmpty &&
          p.incThen.forall { case Lit(VInt(_)) => true; case _ => false })
      } &&
      // mixed accum+row conjuncts (round 12) ride ONLY this path — the
      // shape gate rules out the forms the K-ladder can't encode
      chainMixedOk(levels, accums)
  }

  /** Per-person row bound above which the residual COLLECT chain-accum
    * path (guarded / limited / reverse-top / non-literal increments with
    * no finite frame) declines to Tier B: its window state is
    * O(spawns-per-person) structs, and the interpreter's streaming
    * per-person scan is the safer engine for a pathological person. The
    * reference caps a person's grid at eventMax = 5000 (src/table.h:122),
    * so the default never fires on spec-compliant stores. */
  @volatile var maxCollectSpawnRows: Long = 5000L

  /** (canonicalized plan, probed-at millis) → max rows per person. The
    * probe is an eager Spark job at COMPILE time; the same events frame is
    * compiled repeatedly (every deep-chain query), so cache with a short
    * TTL. Keyed by the full canonicalized plan STRING plus the semantic
    * hash, not the 32-bit hash alone — this is a memory-safety gate, and a
    * bare-hash collision between two different event frames could admit
    * the O(spawns)-struct collect plan on data past the bound. The string
    * pins plan structure and scan locations; the hash adds what the string
    * elides (LocalRelation prints only its schema, so in-memory frames
    * with equal schemas need the data-sensitive hash to disambiguate).
    * Catalog tables naturally invalidate — each
    * committed generation scans an explicit file list, so the canonical
    * plan changes with the data; the TTL guards raw directory scans whose
    * listing can go stale. Entries are evicted past TTL (the key is a
    * plan-sized string; distinct live plans are few, but don't hoard). */
  private val rowBoundCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]
  private val RowBoundTtlMs = 5 * 60 * 1000L
  // over-margin entries re-probe on this shorter clock instead of every
  // compile: a table whose max rows/person sits near the gate would
  // otherwise pay a full Spark aggregate per deep-chain compile
  private val RowBoundEdgeTtlMs = 30 * 1000L

  private def maxRowsPerPerson(events: DataFrame): Long = {
    val canon = events.queryExecution.logical.canonicalized
    // the canonical plan string pins scan DIRECTORIES, not their contents:
    // a raw-directory scan that gains files keeps the same canonical plan,
    // so growth within the TTL could ride a stale low bound through the
    // memory gate. Fingerprint the resolved file listing into the key —
    // committed generations and appended raw files alike change the
    // listing (the commit protocol never rewrites a data file in place),
    // so growth is a cache MISS, not a stale hit. LocalRelations list no
    // files; the data-sensitive semantic hash still disambiguates those.
    val listing = events.inputFiles.sorted.mkString("\u0000").hashCode
    val key = canon.semanticHash().toString + ":" + listing + ":" + canon.toString
    val nowT = System.currentTimeMillis()
    val hit = rowBoundCache.get(key)
    // a cached bound within 10% of the gate gets the SHORT ttl, not full
    // trust: near the edge, an unfingerprinted growth path (e.g. a
    // re-written file at the same path) being wrong admits the memory
    // spike the gate exists to stop — bound that exposure to 30 s
    val margin = maxCollectSpawnRows - maxCollectSpawnRows / 10
    if (hit != null && nowT - hit._1 <
        (if (hit._2 < margin) RowBoundTtlMs else RowBoundEdgeTtlMs))
      return hit._2
    val v = events.groupBy(col("id")).count().agg(max(col("count"))).head().get(0)
    val mx = if (v == null) 0L else v.asInstanceOf[Long]
    rowBoundCache.entrySet().removeIf(e => nowT - e.getValue._1 >= RowBoundTtlMs)
    rowBoundCache.put(key, (nowT, mx))
    mx
  }

  /** Is the chain-accumulator plan memory-safe for this data? Ordinal and
    * range-bounded shapes always are; the residual collect path checks the
    * actual max rows per person (one cheap count aggregate — conservative:
    * spawns ≤ rows) against [[maxCollectSpawnRows]]. */
  private def chainCollectSafe(levels: Seq[ChainLevel],
                               accums: Seq[(String, Long, Seq[AccumPart])],
                               events: DataFrame): Boolean = {
    def fin(l: ChainLevel) =
      l.spanMs.exists(_ != Long.MaxValue) && l.contraSpanMs.isEmpty
    // a restart step's collect window is bounded iff BOTH inverted sides
    // are finite: the lower needs a finite ahead span (or a back-only
    // frame pinning spawns at-or-after the row), the upper a finite back
    // span (or an ahead-only frame pinning them at-or-before)
    def finFrom(l: ChainLevel) = {
      val loFin = l.spanMs.exists(_ != Long.MaxValue) ||
        (l.spanMs.isEmpty && l.contraSpanMs.isDefined)
      val hiFin = l.contraSpanMs.exists(_ != Long.MaxValue) ||
        (l.contraSpanMs.isEmpty && l.spanMs.isDefined)
      loFin && hiFin
    }
    // the collect window is range-bounded only when EVERY hop from spawn
    // to row is finite (depth 2: span₁; depth 3: span₁+span₂ — see
    // collectW in chainPlan); otherwise the row-bound memory gate decides
    val rangeBounded =
      if (levels.size == 2 && levels(1).isFromStep) finFrom(levels(1))
      else if (levels.size == 2) fin(levels(1))
      // depth-3 (round 12): any direction combination is range-bounded
      // exactly when every side of the spawn-range formula is finite —
      // s0 ∈ [r + dLo − mA, r + dHi + mB] (see midSpawnOffsets /
      // deepS1Offsets; one-sided frames pin to their anchor's side)
      else if (levels.size == 3) {
        val (mA, mB) = midSpawnOffsets(levels(1))
        val (dLo, dHi) = deepS1Offsets(levels(2))
        mA.isDefined && mB.isDefined && dLo.isDefined && dHi.isDefined
      }
      else false
    chainOrdinalOnly(levels, accums) || rangeBounded ||
      maxRowsPerPerson(events) <= maxCollectSpawnRows
  }

  private def chainPlan(base: DataFrame,
                        levels: Seq[ChainLevel],
                        now: Long, real: Map[PropTest, Column],
                        selects: Vector[SelectCol],
                        aggs: Seq[(String, Column)],
                        topFrameCond: Option[Column] = None,
                        accums: Seq[(String, Long, Seq[AccumPart])] = Nil,
                        realB: Map[PropTest, Map[String, Column] => Column] =
                          Map.empty,
                        dynCap: Option[DynCap] = None,
                        dynRankCap: Option[Long] = None): DataFrame = {
    val (df0, eligible, levelPreds) =
      chainWitnesses(base, levels, now, real, topFrameCond, accums,
        dynCap, dynRankCap)
    if (accums.isEmpty) {
      val tallyPreds = levels.zip(eligible).zip(levelPreds).flatMap {
        case ((lvl, elig), p) =>
          lvl.tallies.map(_._1.map(ip => compileExpr(ip, now, real).get)
            .getOrElse(lit(true)) && p && elig)
      }
      val tallyGroups = levels.flatMap(_.tallies).map(t =>
        t._2.map(g => compileExpr(g, now, real).get))
      explodePlan(df0, tallyGroups, tallyPreds, selects, aggs)
    } else {
      // Chain accumulators (round 8): increments lead the TOP body, so the
      // value a level-1 visit observes is its SPAWN's running sum — and a
      // row is visited once per visited spawn strictly before it
      // (queryinterpreter continue().next() scan). Tally dedup stays per
      // (row, node): the row's entry array enumerates the DISTINCT spawn
      // value tuples and array_distinct collapses same-node duplicates, so
      // a row reached by spawns with equal (or same-key-mapping) values
      // counts once — exactly the interpreter's distinct-key semantics.
      val W = org.apache.spark.sql.expressions.Window
      val person = W.partitionBy(col("id")).orderBy(col("stamp"))
      val prevRows = person.rowsBetween(W.unboundedPreceding, -1)
      val visited0 = levelPreds.head && eligible.head
      // `__acc_` columns are materialized INSIDE chainWitnesses (right
      // after level-0 eligibility) so that a chain-step guard reading the
      // accumulator resolves in the witness windows too.
      // round 18: ladder columns accumulate through a ColBatch — each
      // dependency-free run costs one analyzer pass instead of one per
      // withColumn (the __K ladder's per-level deps flush naturally)
      val cb = new ColBatch(df0)
      val ordinal = chainOrdinalOnly(levels, accums)
      // depth-3 framed inner steps (round 11): finite frame spans feed the
      // interval-count reachability below (depth ≥ 4 is gated plain, and
      // depth 2 checks frames per tuple via spawnOk — both leave these None)
      val span1Fin =
        if (levels.size == 3) levels(1).spanMs.filter(_ != Long.MaxValue)
        else None
      val span2Fin =
        if (levels.size == 3) levels(2).spanMs.filter(_ != Long.MaxValue)
        else None
      // depth-3 inner limits (round 11, BOTH since round 12): an
      // intermediate-step limit is an extra min-term over the upper
      // endpoint counts, a deepest-step limit a running-max C₂ lookup
      // (alone) or a Γ-array read at the capped ordinal (with lim1)
      val lim1 = if (levels.size == 3) levels(1).limitN else None
      val lim2 = if (levels.size == 3) levels(2).limitN else None
      // depth-3 deepest-step direction (round 12): a reverse or restart
      // deepest step moves the s1 interval's endpoints to the row's
      // other side; the row-side endpoint columns land in d3Ub/d3Lb
      // (built inside the collect block below)
      val deep3Rev = levels.size == 3 && levels(2).reverse
      val deep3From = levels.size == 3 && levels(2).isFromStep
      var d3Ub: Option[Column] = None
      var d3Lb: Option[Column] = None
      // MIDDLE-step direction (round 12, gated to exactly one non-forward
      // step): the mid's visited set per spawn becomes a stamp interval
      // on the spawn's other side / around it — tuple-side endpoint
      // fields replace the forward __cm/__hi pair
      val mid3Rev = levels.size == 3 && levels(1).reverse
      val mid3From = levels.size == 3 && levels(1).isFromStep
      val mrSpan = if (mid3Rev) levels(1).spanMs.filter(_ != Long.MaxValue)
                   else None
      val (mfAhead, mfBack) =
        if (mid3From) (levels(1).spanMs, levels(1).contraSpanMs)
        else (None, None)
      val mfAFin = mfAhead.exists(_ != Long.MaxValue)
      val mfBFin = mfBack.exists(_ != Long.MaxValue)
      // one-sided restart frames pin s1 to the spawn's side
      val mfHiCm = mid3From && mfAhead.isEmpty && mfBack.isDefined
      val mfLoCmx = mid3From && mfBack.isEmpty && mfAhead.isDefined
      // the lower tuple-endpoint window offset (reverse span / back side)
      val midLoOff: Option[Long] =
        if (mid3Rev) mrSpan
        else if (mfBFin) mfBack
        else None
      // deepest-step frames/limits past depth 2 (round 11): both keep the
      // spawn-PREFIX structure because they constrain the LAST-HOP row,
      // whose validity for a spawn (`ladder(y) ≥ v`) is suffix-monotone —
      // a frame range-bounds the FINAL ladder window ("∃ valid last hop
      // in [r−span, r)"), a limit becomes one spawn-independent conjunct
      // comparing the deep-match count against G = the count at the
      // LATEST last-hop match, which is valid for every eligible spawn.
      // The depth-3 COLLECT path keeps its interval-count machinery
      // (span2Fin/lim2 above — an s0-anchored first frame needs it);
      // these drive the ordinal path (depth ≥ 3) and collect depth ≥ 4.
      val spanDeep =
        if (levels.size >= 3) levels.last.spanMs.filter(_ != Long.MaxValue)
        else None
      val limDeep = if (levels.size >= 3) levels.last.limitN else None
      // guard split (round 11), inner steps k ≥ 2 (guard evaluated at the
      // level-(k−1) row): row-prop conjuncts restrict ROWS uniformly
      // across spawns → folded into the count/ladder predicates below;
      // spawn-pure conjuncts (accumulator-only reads — increments lead
      // the top body, so a nested scan observes the SPAWN's running
      // value) prune SPAWNS uniformly across rows → AND'ed per
      // tuple/ordinal with the spawn binds inside the entry transform
      // MIXED conjuncts (round 12 — accumulator vs row prop, e.g.
      // `get_hour(stamp) > n`) are their own class: gated to the ordinal
      // path, where they fold into the K-ladder as per-row ordinal
      // bounds (see mixedHi below) — neither a row-guard fold (the
      // accumulator is the SPAWN's, not this row's) nor a spawn guard
      // (the row side varies per witness row)
      val guardSplits: Map[Int, (Option[Column], Seq[Expr], Seq[MixedBound])] =
        (2 until levels.size).map { k =>
          val cs = levels(k).guard.map(conjunctsOf).getOrElse(Nil)
          val (sp, rest) = cs.partition(spawnPure)
          val (mxRaw, rp) =
            rest.partition(readsName(_, _.startsWith("__accs_")))
          k -> ((rp.reduceOption(BinOp("&&", _, _))
                   .map(g => compileExpr(g, now, real).get), sp,
                 mxRaw.flatMap(mixedBoundOf)))
        }.toMap
      def rowGuard(k: Int): Option[Column] = guardSplits.get(k).flatMap(_._1)
      def spawnGuards(k: Int): Seq[Expr] =
        guardSplits.get(k).map(_._2).getOrElse(Nil)
      def mixedAt(k: Int): Seq[MixedBound] =
        guardSplits.get(k).map(_._3).getOrElse(Nil)
      require(guardSplits.valuesIterator.forall(_._3.isEmpty) ||
          chainOrdinalOnly(levels, accums),
        "mixed guard conjuncts must ride the ordinal path (gate bug)")
      // largest spawn ordinal j satisfying a mixed conjunct at THIS row:
      // value(j) = init + c·j, normalized to a positive slope by negating
      // both sides when c < 0, so the bound is ⌊(R − init − strict)/c⌋ —
      // pmod makes the dividend an exact multiple of c, so the decimal
      // quotient is integral and rounds to itself (exact at any scale,
      // no fp division). A null row side means the interpreter's nil
      // compare (falsy) — hi coalesces to 0 ("no ordinal passes").
      // clamp/saturation helpers (shared by mixedNorm + inclBound; see
      // the saturation note on inclBound below)
      val SAFE = 1L << 62
      val LONG_EDGE = 9.223372036854776e18 // 2^63, exactly a double
      def clampSafe(c: Column): Column =
        least(greatest(c, lit(-SAFE)), lit(SAFE))
      def mixedNorm(mb: MixedBound): (Long, Long, Column, String, Boolean) = {
        val (init, c) = accAffine(accums, mb.acc).get
        val raw = compileExpr(mb.rowExpr, now, real).get
        val floating = probeType(base, raw) match {
          case org.apache.spark.sql.types.DoubleType |
               org.apache.spark.sql.types.FloatType => true
          case _ => false
        }
        val rd = if (floating) raw.cast("double") else raw.cast("long")
        // NaN ranks GREATEST engine-wide (Spark comparisons, the
        // interpreter's Double.compare, DuckDB — see Value.cmp; the
        // reference's fixed-point storage can't even hold a NaN).
        // Substitute +Infinity up front: the saturation branches below
        // then price it exactly, and it NEGATES correctly under a
        // negative slope (NaN itself wouldn't flip to "least").
        val r0 =
          if (floating) when(isnan(rd), lit(Double.PositiveInfinity)).otherwise(rd)
          else rd
        if (c >= 0) (c, init, r0, mb.op, floating)
        else {
          // negating a LONG row side of Long.MinValue would WRAP (to
          // itself); clamp first — exact, every gated accumulator value
          // is strictly inside ±2^53 ≪ ±2^62 (doubles negate exactly)
          val neg = if (floating) -r0 else -clampSafe(r0)
          (-c, -init, neg, flipCmp(mb.op), floating)
        }
      }
      def floorDivC(a: Column, d: Long): Column =
        ((a - pmod(a, lit(d))).cast("decimal(38,0)") / lit(d)).cast("long")
      // the INCLUSIVE long bound of a (possibly double) row side: the
      // integer values v satisfying `v OP R` are exactly v ≤/≥ this
      // bound. DOUBLE sides solve exactly through floor/ceil (both
      // return LONG): v < R ⟺ v ≤ ceil(R)−1, v ≤ R ⟺ v ≤ floor(R),
      // v > R ⟺ v ≥ floor(R)+1, v ≥ R ⟺ v ≥ ceil(R) — no fp division,
      // and the magnitude gate (mixedRowSidesOk) keeps every compared
      // accumulator value inside the exact long↔double range, so this
      // matches the interpreter's double compare bit-for-bit. (NaN row
      // sides never reach here — mixedNorm substitutes +Infinity, the
      // engine-wide NaN-greatest ordering.)
      //
      // Saturation (round 15): Spark's ceil/floor SATURATE at
      // Long.Min/MaxValue for |R| ≥ 2^63 (incl. ±Infinity), so the ±1
      // adjust would WRAP ("none pass" flips to "all pass"); a LONG row
      // side at Long.MinValue wraps the same way under `<`. The gate
      // bounds every reachable accumulator value strictly inside ±2^53
      // (|init| ≤ 2^51, |c| ≤ 2^21, < 2^31 rows per window partition),
      // so clamping the bound to ±2^62 never changes which ordinals
      // pass, and it keeps the callers' ±init, ±(c−1) offsets
      // (|…| ≤ 2^51, 2^21) and the ladder folds wrap-free. Out-of-range
      // doubles resolve the compare as a constant: the down-closed side
      // of +huge and the up-closed side of −huge admit every gated
      // value (sentinel ±2^62); the opposite sides admit none (null →
      // the callers' falsy defaults).
      def inclBound(r0: Column, op: String, floating: Boolean): Column =
        if (!floating) {
          val r = clampSafe(r0)
          op match {
            case "<" => r - 1
            case "<=" => r
            case ">" => r + 1
            case ">=" => r
          }
        } else {
          val b = op match {
            case "<" => ceil(r0) - 1
            case "<=" => floor(r0)
            case ">" => floor(r0) + 1
            case ">=" => ceil(r0)
          }
          val allPass = op match {
            case "<" | "<=" => r0 >= lit(LONG_EDGE)
            case ">" | ">=" => r0 <= lit(-LONG_EDGE)
          }
          when(abs(r0) < lit(LONG_EDGE), clampSafe(b))
            .when(allPass,
              lit(if (op == "<" || op == "<=") SAFE else -SAFE))
            .otherwise(lit(null))
        }
      // largest ordinal o with value(o) = init + c·o satisfying the bound
      // (DOWN-closed forms — {<, <=} after positive-slope normalization);
      // exact integer arithmetic, null row side coalesces to 0 ("none")
      def entryHi(mb: MixedBound): Column = {
        val (cc, ii, rr, op, fl) = mixedNorm(mb)
        val hi =
          if (cc == 0L) {
            val const = op match {
              case "<"  => lit(ii) < rr
              case "<=" => lit(ii) <= rr
              case ">"  => lit(ii) > rr
              case ">=" => lit(ii) >= rr
            }
            when(const, lit(Long.MaxValue)).otherwise(lit(0L))
          } else op match {
            case "<" | "<=" =>
              floorDivC(inclBound(rr, op, fl) - lit(ii), cc)
            case other => throw new IllegalStateException(
              s"entryHi on non-down-closed mixed op $other (gate bug)")
          }
        coalesce(hi, lit(0L))
      }
      // smallest satisfying ordinal (UP-closed forms — {>, >=} after
      // normalization); null row side coalesces to MaxValue ("none")
      def entryLo(mb: MixedBound): Column = {
        val (cc, ii, rr, op, fl) = mixedNorm(mb)
        val lo =
          if (cc == 0L) {
            val const = op match {
              case "<"  => lit(ii) < rr
              case "<=" => lit(ii) <= rr
              case ">"  => lit(ii) > rr
              case ">=" => lit(ii) >= rr
            }
            when(const, lit(1L)).otherwise(lit(Long.MaxValue))
          } else op match {
            case ">" | ">=" =>
              floorDivC(inclBound(rr, op, fl) - lit(ii) + lit(cc) - 1, cc)
            case other => throw new IllegalStateException(
              s"entryLo on non-up-closed mixed op $other (gate bug)")
          }
        coalesce(lo, lit(Long.MaxValue))
      }
      // the ALIGNED fold term (matches the reach set's closure direction):
      // forward tops cap the prefix at entryHi; reverse tops cap the
      // suffix SIZE at T − lo + 1 (lo clamped to ≥ 1), both folded with
      // least() into the K-ladder (round 12 forward; round 14 reverse)
      def mixedHi(mb: MixedBound): Column =
        if (!levels.head.reverse) entryHi(mb)
        else coalesce(
          col("__spawnT") - greatest(entryLo(mb), lit(1L)) + lit(1L),
          lit(0L))
      // closure-direction tests mirroring the chainMixedOk gate
      def alignedMb(mb: MixedBound): Boolean =
        if (levels.head.reverse) mixedSuffixSolvable(mb, accums)
        else mixedSolvable(mb, accums)
      // contra bounds at the deepest level switch its entries from the
      // sequence(1..K) prefix to the exact merged-interval union __ordU
      val mixedUnionLast = levels.size >= 3 &&
        mixedAt(levels.size - 1).exists(mb => !alignedMb(mb))
      // a framed FORWARD deepest limit prices per-hop (round 14) when
      // the G-lookup's dominance argument fails: deepest mixed bounds
      // (min(K, hi) isn't hop-monotone) or non-plain middles below
      val fwdLimCollect = levels.size >= 3 &&
        levels.last.limitN.isDefined && frameableStep(levels.last) &&
        levels.last.spanMs.exists(_ != Long.MaxValue) &&
        (mixedAt(levels.size - 1).nonEmpty ||
          !levels.slice(2, levels.size - 1).forall(unframedStep))
      val spawnCond = levels(1).guard
        .map(g => visited0 && compileExpr(g, now, real).get).getOrElse(visited0)
      // the FINAL reachability-ladder window, by deepest-step direction
      // (round 12): forward — valid last hops precede the row
      // (range-bounded when framed, else the caller's default); reverse —
      // they FOLLOW it within the aligned span; restart — they bracket it
      // per the inverted frame. Works at any depth: hop validity for a
      // spawn is K-monotone in the hop row, so "max K over the flipped
      // window" is reach in every direction.
      def hopWin(l: ChainLevel,
                 default: org.apache.spark.sql.expressions.WindowSpec)
          : org.apache.spark.sql.expressions.WindowSpec = {
        if (l.reverse)
          l.spanMs.filter(_ != Long.MaxValue)
            .map(b => person.rangeBetween(1L, b))
            .getOrElse(person.rangeBetween(1L, W.unboundedFollowing))
        else if (l.isFromStep) {
          val (dLo, dHi) = deepS1Offsets(l)
          person.rangeBetween(dLo.getOrElse(W.unboundedPreceding),
            dHi.getOrElse(W.unboundedFollowing))
        }
        else l.spanMs.filter(_ != Long.MaxValue)
          .map(sp => person.rangeBetween(-sp, -1)).getOrElse(default)
      }
      def lastHopWin(default: org.apache.spark.sql.expressions.WindowSpec)
          : org.apache.spark.sql.expressions.WindowSpec =
        hopWin(levels.last, default)
      if (ordinal) {
        // ORDINAL path (round 9): plain inner steps with constant literal
        // increments on a forward top — the j-th spawn's accumulator
        // value is exactly init + c·j, so the per-spawn entry array
        // derives from sequence(1, running_spawn_count): the window
        // carries ONE scalar instead of an O(spawns) struct array (the
        // memory spike the collected path risks at a pathological person,
        // VERDICT r8 "What's wrong #2").
        cb.add("__spawnN",
          coalesce(sum(when(spawnCond, lit(1L))).over(prevRows), lit(0L)))
        // reverse top: backward ordinals need the person's TOTAL spawn
        // count (same sort, full-partition frame — no extra exchange);
        // computed BEFORE the ladder since round 14 — reverse-top mixed
        // fold terms read it (mixedHi's T − lo + 1)
        if (levels.head.reverse)
          cb.add("__spawnT",
            coalesce(sum(when(spawnCond, lit(1L))).over(
              person.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)),
              lit(0L)))
        // a LIMITED unframed RESTART middle's visit set is the first m
        // floored where-matches — identical for every hop (round 14):
        // materialize the floored running count once per such level; the
        // conjunct gates the level's visit predicate everywhere below.
        // FRAMED restart-middle limits (round 15) have NO row-level cap
        // (each hop's frame cuts a different prefix) — they price per
        // hop inside the K-ladder's (G, K) collect branch instead.
        def unframedFrom(l: ChainLevel): Boolean =
          l.isFromStep && l.spanMs.isEmpty && l.contraSpanMs.isEmpty
        (2 until levels.size - 1).foreach { i =>
          val l = levels(i)
          if (unframedFrom(l) && l.limitN.isDefined) {
            val curRows =
              person.rowsBetween(W.unboundedPreceding, W.currentRow)
            cb.add(s"__mcF$i",
              count(when(levelPreds(i) &&
                col("__rn") >= lit(l.fromStart.get + 1), 1)).over(curRows))
          }
        }
        def fromMidLim(i: Int): Option[Column] =
          if (i >= 2 && i < levels.size - 1 && unframedFrom(levels(i)) &&
              levels(i).limitN.isDefined)
            Some(col(s"__mcF$i") <= lit(levels(i).limitN.get))
          else None
        // ANY depth (round 11): the spawns reaching a row at level j form
        // a PREFIX of the spawn sequence, and the prefix size composes
        // through running-max windows — K_j(r) = max over pred_(j−1) rows
        // y < r of K_(j−1)(y), base K_1 = __spawnN (see chainOrdinalOnly)
        (2 until levels.size).foreach { j =>
          val prev0 = if (j == 2) col("__spawnN") else col(s"__K${j - 1}")
          // a MIXED conjunct gating step j caps which spawn ordinals this
          // row extends: reach_j(r) = ∪_y [1, min(K_(j−1)(y), hi_j(y))]
          // stays a prefix, so the ladder's max folds the min directly
          val mbsJ = mixedAt(j)
          val contraJ = mbsJ.filterNot(alignedMb)
          val his = mbsJ.filter(alignedMb).map(mixedHi)
          val prev = if (his.isEmpty) prev0 else least((prev0 +: his): _*)
          // the guard gating step j evaluates at the level-(j−1) row —
          // its row-prop part restricts which rows extend reach; a
          // from-step level's absolute index floor gates which of its
          // rows act as hops for the NEXT level (round 14)
          val hopPred0 = {
            val base =
              if (j - 1 >= 2 && levels(j - 1).isFromStep)
                levelPreds(j - 1) &&
                  col("__rn") >= lit(levels(j - 1).fromStart.get + 1)
              else levelPreds(j - 1)
            fromMidLim(j - 1).map(base && _).getOrElse(base)
          }
          val wPred = rowGuard(j).map(hopPred0 && _).getOrElse(hopPred0)
          // each level's ladder window follows ITS step's direction and
          // frame (round 14 — previously middles were gated plain):
          // forward = preceding (range-bounded when framed), reverse =
          // following within the aligned span, restart = the inverted
          // frame's bracket. Reach stays a spawn PREFIX per level, so
          // the max composes in any direction mix.
          val win =
            if (j == levels.size - 1) lastHopWin(prevRows)
            else hopWin(levels(j), prevRows)
          if (j == levels.size - 1 && contraJ.nonEmpty) {
            // round 14: CONTRA-direction mixed bounds at the deepest
            // level (suffix forms under a forward top / prefix forms
            // under a reverse top). Per hop y the valid entry-ordinal
            // set is an arbitrary interval [lo(y), hi(y)] — its
            // mismatched endpoint varies per hop, so the union over hops
            // can GAP and no single ladder value represents it. Entries
            // are computed exactly: collect per-hop intervals over the
            // frame-bounded preceding window, sort, merge overlapping
            // intervals, and flatten the merged sequences (output size
            // ≤ spawns; intermediate ≤ hops-in-frame).
            // hop window by deepest-step direction (round 15): forward
            // hops precede the row within the finite look_ahead; reverse
            // hops FOLLOW it within the aligned look_back; framed-restart
            // hops BRACKET it per the inverted frame (all range-bounded
            // by mixedUnionDirOk)
            val lastL = levels.last
            val unionWin =
              if (lastL.reverse)
                person.rangeBetween(1L, lastL.spanMs.get)
              else if (lastL.isFromStep) {
                val (uLo, uHi) = deepS1Offsets(lastL)
                person.rangeBetween(uLo.get, uHi.get)
              } else person.rangeBetween(-spanDeep.get, -1L)
            val rev = levels.head.reverse
            val ivLo =
              if (!rev) greatest((lit(1L) +: contraJ.map(entryLo)): _*)
              else // T − prev + 1 already folds the aligned suffix caps
                greatest(lit(1L), col("__spawnT") - prev + lit(1L))
            val ivHi =
              if (!rev) prev // aligned caps already folded via least
              else least((col("__spawnT") +: contraJ.map(entryHi)): _*)
            val ivType = "array<struct<lo:bigint,hi:bigint>>"
            // round 15: a deepest `.limit(m)` composes with the union —
            // a hop's interval only counts when the row sits within the
            // hop's first m deepest matches (C(r) − C(y) ≤ m, the same
            // rank the fwdLimCollect branch prices); the hop's running
            // count rides the collected struct and filters in-row before
            // the sort/merge
            val limM = levels.last.limitN
            // the rank filter in the DIRECTION's own count space
            // (round 15): forward carries the hop's inclusive deep count
            // (between-count C(r) − c ≤ m); reverse the hop's EXCLUSIVE
            // count (backward between-count c − C(r) ≤ m−1); restart the
            // hop's below-frame floored count G (rank C'(r) − G ≤ m)
            val deepPredU =
              if (lastL.isFromStep)
                levelPreds(levels.size - 1) &&
                  col("__rn") >= lit(lastL.fromStart.get + 1)
              else levelPreds(levels.size - 1)
            limM.foreach { _ =>
              cb.add("__cdcU",
                count(when(deepPredU, 1)).over(
                  person.rowsBetween(W.unboundedPreceding, W.currentRow)))
              if (lastL.isFromStep) {
                val backOff = lastL.contraSpanMs.getOrElse(0L) // finite by gate
                cb.add("__gUc",
                  count(when(deepPredU, 1)).over(
                    person.rangeBetween(W.unboundedPreceding, -backOff - 1L)))
              }
            }
            val hopC: Option[Column] = limM.map { _ =>
              if (lastL.isFromStep) col("__gUc")
              else if (lastL.reverse)
                col("__cdcU") - when(deepPredU, lit(1L)).otherwise(lit(0L))
              else col("__cdcU")
            }
            val hopStruct = hopC match {
              case None => struct(ivLo.as("lo"), ivHi.as("hi"))
              case Some(c) =>
                struct(ivLo.as("lo"), ivHi.as("hi"), c.as("c"))
            }
            cb.add("__ivArr",
              collect_list(when(wPred && ivLo <= ivHi, hopStruct))
                .over(unionWin))
            cb.add("__ordU", {
                val arr = limM match {
                  case None => col("__ivArr")
                  case Some(m) => transform(
                    filter(col("__ivArr"),
                      e =>
                        if (lastL.reverse)
                          e.getField("c") - col("__cdcU") <= lit(m - 1)
                        else col("__cdcU") - e.getField("c") <= lit(m)),
                    e => struct(e.getField("lo").as("lo"),
                      e.getField("hi").as("hi")))
                }
                val merged = aggregate(
                  array_sort(arr),
                  array().cast(ivType),
                  (acc, h) => {
                    val lastIv = element_at(acc, -1)
                    when(size(acc) === 0, array(h))
                      .when(h.getField("lo") <= lastIv.getField("hi") + 1,
                        concat(slice(acc, lit(1), size(acc) - 1),
                          array(struct(lastIv.getField("lo").as("lo"),
                            greatest(lastIv.getField("hi"),
                              h.getField("hi")).as("hi")))))
                      .otherwise(concat(acc, array(h)))
                  })
                flatten(transform(merged,
                  iv => sequence(iv.getField("lo"), iv.getField("hi"))))
              })
            // __ivArr/__cdcU/__gUc intermediates stay in the frame (the
            // entry select prunes them; an explicit drop would only add a
            // Project and another analyzer pass)
          } else if (j == levels.size - 1 && fwdLimCollect) {
            // round 14: framed FORWARD deepest + .limit(m) when the
            // hop-side values aren't monotone (deepest mixed fold /
            // non-plain middles): collect (deep-count, K) per candidate
            // hop over the frame-bounded preceding window and take the
            // exact max over hops whose between-count C(r) − C(y) ≤ m.
            val sp = spanDeep.get
            val m = levels.last.limitN.get
            val deepPred = levelPreds(levels.size - 1)
            val curRows =
              person.rowsBetween(W.unboundedPreceding, W.currentRow)
            cb.add("__cdcF", count(when(deepPred, 1)).over(curRows))
            cb.add("__hopArrF",
              collect_list(when(wPred, struct(col("__cdcF").as("c"),
                prev.as("k")))).over(person.rangeBetween(-sp, -1L)))
            cb.add(s"__K$j",
              coalesce(aggregate(
                filter(col("__hopArrF"),
                  e => col("__cdcF") - e.getField("c") <= lit(m)),
                lit(0L),
                (acc, e) => greatest(acc, e.getField("k"))), lit(0L)))
          } else if (levels(j).reverse && levels(j).limitN.isDefined) {
            // round 14: REVERSE step + .limit(m) — deepest OR middle
            // (generalized this round). A hop y (level-(j−1) match in
            // (r, r+b]) only visits r when fewer than m level-j matches
            // sit strictly BETWEEN r and y — validity holds for a PREFIX
            // of the following hops (the between-count grows with y)
            // while the ladder value K grows with LATER hops, so reach
            // is the exact max over the filtered hop set: collect
            // (between-count, K) per candidate hop over the frame-bounded
            // following window and filter/max in-row. D is the inclusive
            // running level-j match count; D(y⁻) − D(r) ≤ m − 1 is the
            // interpreter's backward-scan cap exactly.
            val b = levels(j).spanMs.get // gate: finite aligned frame
            val m = levels(j).limitN.get
            val jPred = levelPreds(j)
            val curRows =
              person.rowsBetween(W.unboundedPreceding, W.currentRow)
            cb.add(s"__cdcR$j", count(when(jPred, 1)).over(curRows))
            cb.add(s"__hopArr$j",
              collect_list(when(wPred, struct(
                (col(s"__cdcR$j") -
                  when(jPred, lit(1L)).otherwise(lit(0L))).as("d"),
                prev.as("k")))).over(person.rangeBetween(1L, b)))
            cb.add(s"__K$j",
              coalesce(aggregate(
                filter(col(s"__hopArr$j"),
                  e => e.getField("d") - col(s"__cdcR$j") <= lit(m - 1)),
                lit(0L),
                (acc, e) => greatest(acc, e.getField("k"))), lit(0L)))
          } else if (levels(j).isFromStep && levels(j).limitN.isDefined &&
              (levels(j).spanMs.isDefined || levels(j).contraSpanMs.isDefined)) {
            // round 15: FRAMED `.from(k)` RESTART step + .limit(m) —
            // deepest OR middle. Every hop rescans from the absolute
            // floor, but its frame cuts a DIFFERENT prefix of the
            // floored tail, so no row-level rank cap exists (the
            // unframed form's __mcD/__mcF trick). Exact per hop instead:
            // row r's rank in hop y's scan is C'(r) − G(y) — C' the
            // running floored level-j match count, G(y) the floored
            // matches strictly BELOW y's frame (stamp < st_y − back, a
            // range window at the hop; matches above the frame can't
            // precede r while r is in frame, stamps being person-unique
            // and sorted). Hops bracket the row (r ∈ y's frame ⟺
            // st_y ∈ [r − ahead, r + back]), so collect (G, K) per
            // candidate hop over the finite bracket window
            // (fromFramedLimOk gates both sides finite) and take the
            // exact max over hops whose rank is ≤ m.
            val m = levels(j).limitN.get
            val l = levels(j)
            val (dLo, dHi) = deepS1Offsets(l) // both finite by gate
            val jPredF = levelPreds(j) &&
              col("__rn") >= lit(l.fromStart.get + 1)
            val backOff: Long = l.contraSpanMs match {
              case Some(b) => b // finite by gate
              case None => 0L // pure look_ahead: frame lower = hop stamp
            }
            val curRows =
              person.rowsBetween(W.unboundedPreceding, W.currentRow)
            cb.add(s"__cdcX$j", count(when(jPredF, 1)).over(curRows))
            cb.add(s"__ggX$j", count(when(jPredF, 1)).over(
              person.rangeBetween(W.unboundedPreceding, -backOff - 1L)))
            cb.add(s"__hopArrX$j",
              collect_list(when(wPred, struct(col(s"__ggX$j").as("g"),
                prev.as("k")))).over(person.rangeBetween(dLo.get, dHi.get)))
            cb.add(s"__K$j",
              coalesce(aggregate(
                filter(col(s"__hopArrX$j"),
                  e => col(s"__cdcX$j") - e.getField("g") <= lit(m)),
                lit(0L),
                (acc, e) => greatest(acc, e.getField("k"))), lit(0L)))
          } else if (j < levels.size - 1 && levels(j).limitN.isDefined &&
              frameableStep(levels(j)) &&
              levels(j).spanMs.exists(_ != Long.MaxValue) &&
              !(2 until j).forall(i => unframedStep(levels(i)))) {
            // round 15: a FRAMED forward MIDDLE limit above NON-MONOTONE
            // (framed/flipped/restart) levels — the G-conjunct's
            // dominance argument fails exactly as at the deepest
            // (round 14: min over non-monotone K isn't carried by the
            // latest hop), so price per hop: collect (level-j count, K)
            // per candidate hop over the frame-bounded preceding window,
            // filter by the between-count cap C_j(r) − C_j(y) ≤ m — the
            // interpreter's per-scan visit rank exactly (every counted
            // match in (y, r] is inside y's frame because r is) — and
            // take the max K. Bounded by the frame's row density.
            val sp = levels(j).spanMs.get
            val m = levels(j).limitN.get
            val jPred = levelPreds(j)
            val curRows =
              person.rowsBetween(W.unboundedPreceding, W.currentRow)
            cb.add(s"__cdcM$j", count(when(jPred, 1)).over(curRows))
            cb.add(s"__hopArrM$j",
              collect_list(when(wPred, struct(col(s"__cdcM$j").as("c"),
                prev.as("k")))).over(person.rangeBetween(-sp, -1L)))
            cb.add(s"__K$j",
              coalesce(aggregate(
                filter(col(s"__hopArrM$j"),
                  e => col(s"__cdcM$j") - e.getField("c") <= lit(m)),
                lit(0L),
                (acc, e) => greatest(acc, e.getField("k"))), lit(0L)))
          } else if (j < levels.size - 1 && levels(j).limitN.isDefined &&
              frameableStep(levels(j))) {
            // round 14: a LIMITED forward middle — the latest in-frame
            // hop y* dominates both reach (K hop-monotone; no mixed
            // bounds at a limited level, gate-enforced) and limit
            // validity (largest hop count = smallest between-count
            // C_j(y_j) − C_j(y*)), so the level's reach is the plain
            // ladder max gated by ONE row-level conjunct at y*.
            val n = levels(j).limitN.get
            val curRows =
              person.rowsBetween(W.unboundedPreceding, W.currentRow)
            cb.add(s"__c$j",
              count(when(levelPreds(j), 1)).over(curRows))
            cb.add(s"__g$j",
              max(when(wPred, col(s"__c$j"))).over(win))
            cb.add(s"__K$j",
              when(col(s"__c$j") - col(s"__g$j") <= lit(n),
                coalesce(max(when(wPred, prev)).over(win), lit(0L)))
                .otherwise(lit(0L)))
          } else
            cb.add(s"__K$j",
              coalesce(max(when(wPred, prev)).over(win), lit(0L)))
        }
      } else {
        // COLLECT path: ordered spawn tuples strictly before this row
        // (guarded spawns only); each tuple carries the spawn's stamp
        // (frame check) and — under a `.limit(n)` — its cumulative
        // inner-match count (the same witness arithmetic chainWitnesses
        // uses: matches in (spawn, row] = mc(row) − mc(spawn) ≤ n).
        // chainWitnesses already materialized `__mc1` when limited. A
        // FINITE forward frame bounds the collect window itself
        // (rangeBetween(-span, -1)): in-flight tuples are capped by the
        // frame's time width instead of the person's whole history.
        // deep chains (round 9): each tuple also carries the running
        // level-1 match count THROUGH the spawn row, and reachability
        // composes through per-level running-max windows — __P1(x) is the
        // level-1 match count strictly before x, and __Pj(x) the max over
        // level-j matches y < x of __P(j-1)(y). A row r is then a level-j
        // visit for spawn s0 iff __P(j-1)(r) > __cm(s0): a full chain
        // s0 < s1 < … < s(j-1) < r exists exactly when some level-(j-1)
        // match before r saw a deeper prefix than existed at s0
        // (monotone running counts; induction on j).
        // Depth-3 framed/guarded inner steps (round 11): the counted
        // "level-1 match" is a SPAWNING one (pred₁ ∧ level-2 guard), and
        // reachability becomes an interval count — level-1 matches with
        // stamp in (s0, s0+span₁] ∩ [r−span₂, r). Prefix counts are
        // monotone, so the interval count is min(upper-endpoint prefix
        // counts) − max(lower-endpoint prefix counts): C(s0) and
        // C(s0+span₁) ride the tuple (the latter a rangeBetween window
        // evaluated AT the spawn), C(r⁻) and C(r−span₂−1) are row
        // columns. Plain shapes degenerate to __P1 > __cm exactly.
        if (levels.size >= 3) {
          val curRows = person.rowsBetween(W.unboundedPreceding, W.currentRow)
          val predA0 = rowGuard(2).map(levelPreds(1) && _).getOrElse(levelPreds(1))
          // a mid RESTART's absolute index floor is spawn-independent, so
          // it folds into the counted predicate itself (round 12); so
          // does its `.limit(n)` — gated to UNFRAMED restarts, where
          // every spawn sees the identical floored sequence, the cap is
          // the row's rank among floored matches (the witness's __mc1).
          // A FRAMED restart mid's rank diverges per spawn (round 15) —
          // its cap stays OUT of predA and joins the upper-endpoint
          // min-terms as n + G(s0) instead (see lim1Ub below).
          val predA = {
            val floored =
              if (mid3From)
                predA0 && col("__rn") >= lit(levels(1).fromStart.get + 1)
              else predA0
            if (mid3From && lim1.isDefined &&
                mfAhead.isEmpty && mfBack.isEmpty)
              floored && col("__mc1") <= lit(lim1.get)
            else floored
          }
          cb.add("__cm1c", count(when(predA, 1)).over(curRows))
          cb.add("__P1", count(when(predA, 1)).over(prevRows))
          // __hiA: count through s0+span — the FORWARD/ahead upper side
          // (a mid-reverse step's span is its LOWER side instead)
          if (!mid3Rev) span1Fin.foreach { sp =>
            cb.add("__hiA", count(when(predA, 1))
              .over(person.rangeBetween(W.unboundedPreceding, sp)))
          }
          // __loM: count through s0 − off − 1 — the tuple-side LOWER
          // endpoint of a mid reverse (off = aligned span) or restart
          // (off = back side)
          midLoOff.foreach { off =>
            cb.add("__loM", count(when(predA, 1))
              .over(person.rangeBetween(W.unboundedPreceding, -off - 1)))
          }
          if (!deep3Rev && !deep3From) span2Fin.foreach { sp =>
            cb.add("__loA", count(when(predA, 1))
              .over(person.rangeBetween(W.unboundedPreceding, -sp - 1)))
          }
          // REVERSE / RESTART deepest steps (round 12): the s1 interval's
          // endpoints sit on the row's OTHER side — reverse: s1 ∈ (r, r+b];
          // restart: s1 ∈ [r−a, r+b] (the frame inverted around the row,
          // one-sided frames pinning s1 to the row's side). Monotone
          // prefix counts price any endpoint: the upper is a
          // rangeBetween(…, +off) count (or the person TOTAL when
          // unbounded), the lower C(r) itself (reverse, strict) or
          // C(r−a−1) (restart).
          if (deep3Rev || deep3From) {
            def cnt(w: org.apache.spark.sql.expressions.WindowSpec) =
              count(when(predA, 1)).over(w)
            def total: Column = {
              if (!cb.columns.contains("__d3tot"))
                cb.add("__d3tot", cnt(
                  person.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)))
              col("__d3tot")
            }
            def upTo(off: Long): Column = {
              if (!cb.columns.contains("__d3hi"))
                cb.add("__d3hi",
                  cnt(person.rangeBetween(W.unboundedPreceding, off)))
              col("__d3hi")
            }
            if (deep3Rev) {
              d3Ub = Some(levels(2).spanMs match {
                case Some(b) if b != Long.MaxValue => upTo(b)
                case _ => total
              })
              d3Lb = Some(col("__cm1c")) // s1 > r strictly
            } else {
              val ahead = levels(2).spanMs
              val back = levels(2).contraSpanMs
              d3Ub = Some(back match {
                case Some(b) if b != Long.MaxValue => upTo(b)
                case Some(_) => total
                case None => if (ahead.isDefined) col("__cm1c") else total
              })
              d3Lb = ahead match {
                case Some(a) if a != Long.MaxValue =>
                  cb.add("__d3lo", cnt(
                    person.rangeBetween(W.unboundedPreceding, -a - 1)))
                  Some(col("__d3lo"))
                case Some(_) => None
                case None =>
                  if (back.isDefined) Some(col("__P1")) else None
              }
            }
          }
          // deepest-step `.limit(m)` (round 11): C₂(x) = inclusive count
          // of deepest-where matches, G(x) = max over spawning level-1
          // matches y ≤ x of C₂(y). Reach needs C₂(r) − G(upper) ≤ m,
          // with G(upper) = min(G(r⁻), G(s0+span₁)) by monotonicity —
          // the row carries __g2, the spawn tuple __g2hi.
          lim2.foreach { _ =>
            cb.add("__c2c", count(when(levelPreds(2), 1)).over(curRows))
            if (lim1.isEmpty) {
              cb.add("__g2",
                max(when(predA, col("__c2c"))).over(prevRows))
              span1Fin.foreach { sp =>
                cb.add("__g2hi", max(when(predA, col("__c2c")))
                  .over(person.rangeBetween(W.unboundedPreceding, sp)))
              }
            } else {
              // BOTH steps limited (round 12): the intermediate cap makes
              // the latest VALID s1 the pred₁ match at ordinal
              // k* = min(upper endpoints incl. C(s0)+n), so the deep
              // limit needs Γ(k*) = C₂ at that match — monotone in the
              // ordinal, indexable from a per-row array of match-C₂s.
              // The array window is the same span the s1 interval allows
              // (within span₂ of r when framed), so ordinals offset by
              // the window's base count (__loA / 0) index it exactly.
              val w = span2Fin.map(sp => person.rangeBetween(-sp, -1))
                .getOrElse(prevRows)
              cb.add("__g2arr",
                collect_list(when(predA, col("__c2c"))).over(w))
            }
          }
          (2 to levels.size - 2).foreach { j =>
            // fold the row-prop part of the guard gating step j+1
            // (evaluated at the level-j row) into the ladder window
            val wPred = rowGuard(j + 1)
              .map(levelPreds(j) && _).getOrElse(levelPreds(j))
            // depth ≥ 4 framed / non-forward deepest step: its only
            // consumer is the deepest level's reach, so flip/bound the
            // FINAL __P window by the deepest step's direction
            val win =
              if (levels.size >= 4 && j == levels.size - 2)
                lastHopWin(prevRows)
              else prevRows
            cb.add(s"__P$j",
              max(when(wPred, col(s"__P${j - 1}"))).over(win))
          }
        }
        val svFields =
          accums.map { case (n, _, _) => col(s"__acc_$n").as(n) } ++
            Seq(col("stamp").as("__st")) ++
            levels(1).limitN.map(_ => col("__mc1").as("__mc")).toSeq ++
            // a FRAMED `.from(k)` + `.limit(n)` level 1 (round 15): the
            // tuple carries G(y) — the floored matches strictly below
            // the spawn's frame (chainWitnesses' `__gg1`) — so spawnOk
            // can price the per-spawn rank C'(r) − G(y) exactly (depth-2
            // visits AND depth-3 level-1 tallies)
            (if (levels(1).isFromStep && levels(1).limitN.isDefined &&
                 (levels(1).spanMs.isDefined || levels(1).contraSpanMs.isDefined))
               Seq(col("__gg1").as("__g")) else Nil) ++
            (if (levels.size >= 3) Seq(col("__cm1c").as("__cm")) else Nil) ++
            (if (span1Fin.isDefined && !mid3Rev)
               Seq(col("__hiA").as("__hi")) else Nil) ++
            // mid reverse/restart tuple endpoints (round 12): the
            // exclusive count at the spawn and the lower-offset count
            (if (mid3Rev || mfLoCmx) Seq(col("__P1").as("__cmx")) else Nil) ++
            (if (midLoOff.isDefined) Seq(col("__loM").as("__mlo")) else Nil) ++
            (if (lim2.isDefined && span1Fin.isDefined && lim1.isEmpty)
               Seq(col("__g2hi").as("__ghi")) else Nil)
        val svStruct = struct(svFields: _*)
        // a finite-frame chain bounds how far a ROW can sit past its
        // spawn, so the collect window itself is range-bounded: depth 2 by
        // span₁ (the row is within frame of the spawn); depth 3 by
        // span₁+span₂ (the row is within span₂ of s1, s1 within span₁ of
        // the spawn) — and ONLY when every hop is finite. A depth-3 chain
        // with just one finite hop is unbounded spawn→row and must keep
        // the full preceding window (the row-bound memory gate applies).
        val collectW = levels.size match {
          // a `.from(k)` RESTART step (round 11): every spawn scans the
          // same fixed tail, so visitors sit on EITHER side of the row —
          // invert the (spawn-anchored) frame to bound which spawn
          // stamps can reach this row: ahead a ⇒ spawn ≥ row−a,
          // back b ⇒ spawn ≤ row+b; a missing side pins the spawn to
          // the row's own side; unframed ⇒ the whole person
          case 2 if levels(1).isFromStep =>
            val ahead = levels(1).spanMs
            val back = levels(1).contraSpanMs
            val lo = ahead match {
              case Some(a) if a != Long.MaxValue => -a
              case Some(_) => W.unboundedPreceding
              case None => if (back.isDefined) 0L else W.unboundedPreceding
            }
            val hi = back match {
              case Some(b) if b != Long.MaxValue => b
              case Some(_) => W.unboundedFollowing
              case None => if (ahead.isDefined) 0L else W.unboundedFollowing
            }
            person.rangeBetween(lo, hi)
          // a REVERSE inner step (round 11) visits rows BEFORE its spawn:
          // collect the spawns AFTER this row, range-bounded by a finite
          // aligned span (the spawn sits within span ABOVE the row)
          case 2 if levels(1).reverse => levels(1).spanMs match {
            case Some(sp) if sp != Long.MaxValue && levels(1).contraSpanMs.isEmpty =>
              person.rangeBetween(1, sp)
            case _ => person.rowsBetween(1, W.unboundedFollowing)
          }
          case 2 => levels(1).spanMs match {
            case Some(sp) if sp != Long.MaxValue && levels(1).contraSpanMs.isEmpty =>
              person.rangeBetween(-sp, -1)
            case _ => prevRows
          }
          // depth 3, ANY direction combination (round 12): s1 lives in
          // [r+dLo, r+dHi] (the deepest step's interval) and the spawn in
          // [s1−mA, s1+mB] (the mid step's inversion), so spawns live in
          // [r + dLo − mA, r + dHi + mB] — one inclusive-superset range
          // window when every side is finite (the per-tuple reach check
          // prunes exactly); forward-forward unbounded keeps the
          // strictly-preceding window, anything else the whole person
          // (row-bound gated)
          case 3 =>
            val (mA, mB) = midSpawnOffsets(levels(1))
            val (dLo, dHi) = deepS1Offsets(levels(2))
            (mA, mB, dLo, dHi) match {
              case (Some(a), Some(b), Some(lo), Some(hi)) =>
                person.rangeBetween(lo - a, hi + b)
              case _ if frameableStep(levels(1)) && frameableStep(levels(2)) =>
                prevRows
              case _ =>
                person.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
            }
          case _ => prevRows
        }
        cb.add("__sv",
          collect_list(when(spawnCond, svStruct)).over(collectW))
      }
      // deepest-step `.limit(m)` conjunct (ordinal depth ≥ 3, collect
      // depth ≥ 4 — the depth-3 collect path uses the interval G
      // machinery above instead): __cdc = inclusive deep-match count;
      // __gd = its value at the LATEST last-hop match (in-frame when
      // framed), which is valid for every eligible spawn — so the
      // check is spawn-independent. Null __gd only occurs when the
      // ladder already says "no eligible spawn".
      val deepLimCond: Option[Column] =
        limDeep.filter(_ => ordinal || levels.size >= 4).flatMap { m =>
          if (ordinal && fwdLimCollect)
            None // round 14: priced inside the per-hop collect branch
          else if (levels.last.reverse)
            None // round 14: folded into the __K ladder's filtered hop max
          else if (levels.last.isFromStep &&
              (levels.last.spanMs.isDefined || levels.last.contraSpanMs.isDefined))
            None // round 15: framed restart limits price per hop in the ladder
          else if (levels.last.isFromStep) {
            // round 14: UNFRAMED restart deepest + .limit(m) — every hop
            // rescans the identical floored tail, so the visited set is
            // the first m floored deep matches for EVERY hop and spawn:
            // one row-level count conjunct.
            val curRows =
              person.rowsBetween(W.unboundedPreceding, W.currentRow)
            val floored = levelPreds(levels.size - 1) &&
              col("__rn") >= lit(levels.last.fromStart.get + 1)
            cb.add("__mcD", count(when(floored, 1)).over(curRows))
            Some(col("__mcD") <= lit(m))
          } else Some {
            val curRows =
              person.rowsBetween(W.unboundedPreceding, W.currentRow)
            val lastWin = spanDeep.map(sp => person.rangeBetween(-sp, -1))
              .getOrElse(prevRows)
            val k = levels.size - 2
            val matchPred0 =
              if (k >= 2 && levels(k).isFromStep)
                levelPreds(k) &&
                  col("__rn") >= lit(levels(k).fromStart.get + 1)
              else levelPreds(k)
            val matchPred = rowGuard(k + 1)
              .map(matchPred0 && _).getOrElse(matchPred0)
            cb.add("__cdc",
              count(when(levelPreds(levels.size - 1), 1)).over(curRows))
            cb.add("__gd",
              max(when(matchPred, col("__cdc"))).over(lastWin))
            col("__cdc") - col("__gd") <= lit(m)
          }
        }
      // per-spawn eligibility, evaluated in-row on each collected tuple —
      // frame checks mirror on a reverse step (spanMs points WITH the
      // scan; the rev __mc1 counts from the right, so the limit
      // subtraction is direction-agnostic)
      def spawnOk(v: Column): Column = if (levels(1).isFromStep) {
        // restart step: the frame anchors at the SPAWN and the row may
        // sit on either side — mirror Interpreter.frameBounds exactly:
        // look_ahead ⇒ [st, st+a], look_back ⇒ [st−b, st], within ⇒
        // [st−s, st+s] (one-sided frames pin the row to the spawn's
        // side). The index floor and limit are row-level, not per-tuple.
        val st = v.getField("__st")
        val loC = levels(1).contraSpanMs match {
          case Some(b) =>
            Some(if (b == Long.MaxValue) lit(true)
                 else col("stamp") >= st - b)
          case None => levels(1).spanMs.map(_ => col("stamp") >= st)
        }
        val hiC = levels(1).spanMs match {
          case Some(a) =>
            Some(if (a == Long.MaxValue) lit(true)
                 else col("stamp") <= st + a)
          case None => levels(1).contraSpanMs.map(_ => col("stamp") <= st)
        }
        // FRAMED + `.limit(n)` (round 15): the rank of this row in THIS
        // spawn's scan is C'(r) − G(y) — C' the floored running match
        // count (`__mc1`), G the tuple's below-frame count (`__g`).
        // The unframed cap stays row-level in ent1's rowP (G ≡ 0 there).
        val limC = levels(1).limitN.flatMap { n =>
          if (levels(1).spanMs.isDefined || levels(1).contraSpanMs.isDefined)
            Some(col("__mc1") - v.getField("__g") <= lit(n))
          else None
        }
        (loC.toSeq ++ hiC.toSeq ++ limC.toSeq)
          .reduceOption(_ && _).getOrElse(lit(true))
      } else {
        val rev = levels(1).reverse
        val span = levels(1).spanMs.map(sp =>
          if (sp == Long.MaxValue) lit(true)
          else if (rev) v.getField("__st") - col("stamp") <= sp
          else col("stamp") - v.getField("__st") <= sp)
        val contra = levels(1).contraSpanMs.map(sp =>
          if (rev)
            col("stamp") >= v.getField("__st") &&
              (if (sp == Long.MaxValue) lit(true)
               else col("stamp") - v.getField("__st") <= sp)
          else
            col("stamp") <= v.getField("__st") &&
              (if (sp == Long.MaxValue) lit(true)
               else v.getField("__st") - col("stamp") <= sp))
        val limit = levels(1).limitN.map(n =>
          col("__mc1") - v.getField("__mc") <= n)
        (span.toSeq ++ contra.toSeq ++ limit.toSeq)
          .reduceOption(_ && _).getOrElse(lit(true))
      }
      // per-tuple person-test map: late-bound tests re-derive their compare
      // with the tuple's accumulator binds (ever-reads below a chain step)
      def realFor(b: Map[String, Column]): Map[PropTest, Column] =
        if (realB.isEmpty) real
        else real ++ realB.map { case (pt, f) => pt -> f(b) }
      def bindsOf(v: Column): Map[String, Column] =
        if (ordinal)
          // v IS the spawn ordinal j: value = init + c·j (constant literal
          // increments — guaranteed by chainOrdinalOnly)
          accums.map { case (n, init, parts) =>
            val c = parts.flatMap(_.incThen)
              .collect { case Lit(VInt(k)) => k }.sum
            s"__accs_$n" -> (lit(init) + lit(c) * v)
          }.toMap
        else
          accums.map { case (n, _, _) => s"__accs_$n" -> v.getField(n) }.toMap
      val typeBinds: Map[String, Column] =
        accums.map { case (n, _, _) => s"__accs_$n" -> lit(0L) }.toMap
      // ordinal entry arrays: forward tops enumerate the eligible prefix
      // 1..K; reverse tops map it to backward ordinals T−K+1..T (callers
      // gate on K >= 1 — an unguarded sequence would DESCEND at K = 0)
      def ordinalSeq(k: Column): Column =
        if (levels.head.reverse)
          sequence(col("__spawnT") - k + lit(1L), col("__spawnT"))
        else sequence(lit(1L), k)
      def nodeStruct(d: Int, keys: Seq[Column]): Column =
        struct((lit(d).as("depth") +:
          (0 until OslEngine.MaxDepth).map(i =>
            (if (i < d) keys(i) else lit(null).cast("string")).as(s"g${i + 1}"))): _*)
      // every ladder/witness column is in place — materialize the batch
      // once; the entry constructions below only need df for type probes
      val dfF = cb.df
      // level-0 tallies fire once per visited top row
      val ent0: Seq[Column] = levels(0).tallies.flatMap { case (ip, gs) =>
        val p = ip.map(x => compileExpr(x, now, real).get).getOrElse(lit(true)) &&
          levelPreds(0) && eligible(0)
        val keys = gs.map(g => canonKey(dfF, compileExpr(g, now, real).get))
        (1 to gs.length).map(d => array(when(p, nodeStruct(d, keys)).otherwise(lit(null))))
      }
      // level-1 tallies fire once per (row, distinct spawn tuple); the
      // whole per-spawn expansion sits behind the ROW predicate, so
      // non-candidate rows skip the lambda entirely
      val nodeType = "array<struct<depth:int," +
        (1 to OslEngine.MaxDepth).map(i => s"g$i:string").mkString(",") + ">>"
      val ent1: Seq[Column] = levels(1).tallies.flatMap { case (ip, gs) =>
        // eligible(1) ("some spawn can reach this row") is implied by the
        // per-tuple conditions (a tuple exists = a spawn precedes; frames/
        // limits re-check per tuple via spawnOk) — leaving it OUT lets
        // Catalyst prune the witness-struct and row_number windows from
        // the accum plan entirely: one running-count window survives.
        // Restart steps add their spawn-independent row checks here: the
        // absolute index floor, and — UNFRAMED only, where every spawn
        // sees the identical match sequence — the fixed-sequence rank
        // cap. A FRAMED restart's rank diverges per spawn and is priced
        // per tuple in spawnOk (round 15).
        val rowP =
          if (levels(1).isFromStep) {
            var p = levelPreds(1) &&
              col("__rn") >= lit(levels(1).fromStart.get + 1)
            if (levels(1).spanMs.isEmpty && levels(1).contraSpanMs.isEmpty)
              levels(1).limitN.foreach(n => p = p && col("__mc1") <= n)
            p
          } else levelPreds(1)
        val canonFlags = gs.map { g =>
          val probe = compileExpr(g, now, realFor(typeBinds), typeBinds).get
          probeType(dfF, probe)
            .isInstanceOf[org.apache.spark.sql.types.NumericType]
        }
        val (spawnArr, nonEmpty) =
          if (ordinal) (ordinalSeq(col("__spawnN")), col("__spawnN") >= 1)
          else (col("__sv"), size(col("__sv")) > 0)
        (1 to gs.length).map { d =>
          when(rowP && nonEmpty,
            transform(spawnArr, v => {
              val b = bindsOf(v)
              val r = realFor(b)
              val p = ip.map(x => compileExpr(x, now, r, b).get).getOrElse(lit(true))
              val keys = gs.zip(canonFlags).map { case (g, num) =>
                canonPure(compileExpr(g, now, r, b).get, num)
              }
              // depth-3 collect windows can be TWO-SIDED (reverse/restart
              // at either step) — the frame checks in spawnOk were
              // window-coupled at depth 2, so level-1 visits must restore
              // the scan-direction ordering explicitly: a forward mid
              // visits rows strictly AFTER its spawn, a reverse mid
              // strictly BEFORE, a restart either side (round 12)
              val orderOk =
                if (levels.size < 3 || levels(1).isFromStep) lit(true)
                else if (levels(1).reverse) v.getField("__st") > col("stamp")
                else v.getField("__st") < col("stamp")
              val ok = if (ordinal) p else spawnOk(v) && orderOk && p
              when(ok, nodeStruct(d, keys)).otherwise(lit(null))
            }))
            .otherwise(array().cast(nodeType))
        }
      }
      // deeper-level tallies (round 9) fire once per (row, distinct spawn
      // tuple) whose chain exists: __P(j-1)(row) > __cm(spawn) — plain
      // inner steps by the gate, so any pred-j row after a valid
      // level-(j-1) visit IS visited from it (see the __P ladder above).
      val entDeep: Seq[Column] =
        (2 until levels.size).flatMap { j =>
          levels(j).tallies.flatMap { case (ip, gs) =>
            // eligibility is implied per tuple by the reachability check
            // (ordinal: baked into the K_j prefix size); a RESTART
            // step's absolute index floor is a row-level gate (any level
            // since round 14 — middles may be restarts on the ordinal
            // path)
            val rowP = {
              val base =
                if (levels(j).isFromStep)
                  levelPreds(j) &&
                    col("__rn") >= lit(levels(j).fromStart.get + 1)
                else levelPreds(j)
              // an UNFRAMED from-limited MIDDLE's tally rows are capped
              // by the same floored-count conjunct (ordinal path only);
              // a FRAMED one's cap is per hop, already folded into its
              // K-ladder value (the round-15 (G, K) collect branch)
              if (ordinal && j < levels.size - 1 && levels(j).isFromStep &&
                  levels(j).spanMs.isEmpty && levels(j).contraSpanMs.isEmpty &&
                  levels(j).limitN.isDefined)
                base && col(s"__mcF$j") <= lit(levels(j).limitN.get)
              else base
            }
            val canonFlags = gs.map { g =>
              val probe = compileExpr(g, now, realFor(typeBinds), typeBinds).get
              probeType(dfF, probe)
                .isInstanceOf[org.apache.spark.sql.types.NumericType]
            }
            val (spawnArrJ, nonEmptyJ) =
              if (ordinal && j == levels.size - 1 && mixedUnionLast)
                (col("__ordU"), size(col("__ordU")) > 0)
              else if (ordinal) (ordinalSeq(col(s"__K$j")), col(s"__K$j") >= 1)
              else (col("__sv"), size(col("__sv")) > 0)
            (1 to gs.length).map { d =>
              when(rowP && nonEmptyJ,
                transform(spawnArrJ, v => {
                  val b = bindsOf(v)
                  val r = realFor(b)
                  val p = ip.map(x => compileExpr(x, now, r, b).get).getOrElse(lit(true))
                  // ordinal: v IS an eligible spawn ordinal (the K_j
                  // prefix) — reachability already decided. Collect path,
                  // depth-3 framed shapes: interval count between endpoint
                  // prefix counts (monotone ⇒ min/max of endpoints); plain
                  // shapes reduce to __P(j-1)(r) > __cm(s0) exactly
                  val reach0 =
                    if (ordinal) lit(true)
                    else if (j == 2) {
                      // an intermediate-step limit is an ordinal upper
                      // bound C(s1) ≤ C(s0)+n — one more min-term; a
                      // reverse/restart deepest step swaps in the
                      // other-side endpoint columns (d3Ub/d3Lb), and a
                      // restart adds its spawn-independent index floor
                      // mid-side endpoints: forward = (C(s0), s0+span1];
                      // reverse = [s0−a1, s0); restart = the inverted
                      // frame's sides (one-sided pins to the spawn)
                      val (midUbs, midLbs) =
                        if (mid3Rev)
                          (Seq(v.getField("__cmx")),
                           midLoOff.map(_ => v.getField("__mlo")).toSeq)
                        else if (mid3From)
                          ((if (mfAFin) Seq(v.getField("__hi"))
                            else if (mfHiCm) Seq(v.getField("__cm"))
                            else Nil),
                           (if (mfBFin) Seq(v.getField("__mlo"))
                            else if (mfLoCmx) Seq(v.getField("__cmx"))
                            else Nil))
                        else
                          (span1Fin.map(_ => v.getField("__hi")).toSeq,
                           Seq(v.getField("__cm")))
                      // a mid limit by direction: forward — the first n
                      // matches AFTER the spawn are an upper-endpoint
                      // min-term; reverse — the n closest matches BELOW
                      // it are a lower-endpoint max-term; UNFRAMED
                      // restart — folded into the counted predicate
                      // upstream; FRAMED restart (round 15) — rank =
                      // C(s1) − G(s0) ≤ n with G the below-frame floored
                      // count, which IS the interval's own tuple-side
                      // lower endpoint (__mlo / __cmx; an infinite back
                      // side never cuts, G ≡ 0) — one more min-term
                      val lim1Ub =
                        if (mid3Rev) None
                        else if (mid3From) lim1.flatMap { n =>
                          if (mfAhead.isEmpty && mfBack.isEmpty) None
                          else Some((
                            if (mfBFin) v.getField("__mlo")
                            else if (mfLoCmx) v.getField("__cmx")
                            else lit(0L)) + lit(n))
                        }
                        else lim1.map(n => v.getField("__cm") + lit(n))
                      // clamped at the natural 0 floor: every other lb
                      // term is a count (≥ 0), but C(s0⁻) − n can go
                      // negative for early spawns and would otherwise
                      // make `ub > lb` pass with an EMPTY interval
                      val lim1Lb =
                        if (mid3Rev)
                          lim1.map(n =>
                            greatest(v.getField("__cmx") - lit(n), lit(0L)))
                        else None
                      val ubs =
                        (if (deep3Rev || deep3From) Seq(d3Ub.get)
                         else Seq(col("__P1"))) ++
                        midUbs ++ lim1Ub
                      val lbs = midLbs ++ lim1Lb.toSeq ++
                        (if (deep3Rev || deep3From) d3Lb.toSeq
                         else span2Fin.map(_ => col("__loA")).toSeq)
                      val ub = if (ubs.size == 1) ubs.head else least(ubs: _*)
                      // an unframed restart mid has no lower endpoint at
                      // all (s1 anywhere before r): reach is just ub > 0
                      val lb =
                        if (lbs.isEmpty) lit(0L)
                        else if (lbs.size == 1) lbs.head
                        else greatest(lbs: _*)
                      val base0 = ub > lb
                      val base =
                        if (deep3From)
                          base0 &&
                            col("__rn") >= lit(levels(2).fromStart.get + 1)
                        else base0
                      // a deepest-step limit: the LATEST spawning match in
                      // the (nonempty, by `base`) interval maximizes C₂,
                      // and G at the interval's upper endpoint IS that
                      // match's C₂ (both G windows are non-null whenever
                      // `base` holds, so the null-skipping `least` is safe)
                      lim2.map { m =>
                        val g =
                          if (lim1.isEmpty) {
                            val gs = Seq(col("__g2")) ++
                              span1Fin.map(_ => v.getField("__ghi"))
                            if (gs.size == 1) gs.head else least(gs: _*)
                          } else {
                            // both limits: Γ at the capped ordinal k* = ub
                            // (1-based in the array after the window-base
                            // offset; ub > lb ≥ base whenever `base` holds,
                            // so the index is in range)
                            val baseOrd = span2Fin.map(_ => col("__loA"))
                              .getOrElse(lit(0L))
                            element_at(col("__g2arr"),
                              (ub - baseOrd).cast("int"))
                          }
                        base && col("__c2c") - g <= lit(m)
                      }.getOrElse(base)
                    } else col(s"__P${j - 1}") > v.getField("__cm")
                  // the deepest level also carries the spawn-independent
                  // deep-limit conjunct (ordinal ≥ 3 / collect ≥ 4)
                  val reach =
                    if (j == levels.size - 1)
                      deepLimCond.map(reach0 && _).getOrElse(reach0)
                    else reach0
                  // spawn-pure guard conjuncts of every step on the
                  // chain to level j prune spawns per tuple/ordinal
                  val spg = (2 to j).flatMap(spawnGuards)
                    .map(x => compileExpr(x, now, r, b).get)
                  val keys = gs.zip(canonFlags).map { case (g, num) =>
                    canonPure(compileExpr(g, now, r, b).get, num)
                  }
                  when((Seq(reach, p) ++ spg).reduce(_ && _),
                    nodeStruct(d, keys)).otherwise(lit(null))
                }))
                .otherwise(array().cast(nodeType))
            }
          }
        }
      explodeEntryArrays(dfF, ent0 ++ ent1 ++ entDeep, selects, aggs)
    }
  }

  /** The shared witness machinery: per level k>0, the latest visited
    * level-(k-1) row's (rn, stamp [, cum-match-count]) as a max-over-
    * preceding-rows struct, and the eligibility column deciding whether a
    * where-matching row is VISITED at its level. One sort-shuffle on `id`
    * computes every window. Returns (augmented frame, per-level
    * eligibility, per-level where-predicates). */
  private def chainWitnesses(base: DataFrame, levels: Seq[ChainLevel],
                             now: Long, real: Map[PropTest, Column],
                             topFrameCond: Option[Column] = None,
                             accums: Seq[(String, Long, Seq[AccumPart])] = Nil,
                             dynCap: Option[DynCap] = None,
                             dynRankCap: Option[Long] = None)
      : (DataFrame, Seq[Column], Seq[Column]) = {
    val W = org.apache.spark.sql.expressions.Window
    val person = W.partitionBy(col("id"))
    // round 18: witness columns accumulate through a ColBatch — each
    // dependency-free run of window columns costs ONE analyzer pass
    val cb = new ColBatch(base)
    cb.add("__rn", row_number().over(person.orderBy(col("stamp"))))
    // absolute-anchored step frames: spawn-independent [lo, hi] stamp
    // bounds fold into the level's row predicate (the interpreter skips
    // out-of-bounds rows before the where runs, uniformly per spawn) —
    // person-anchored sides ride min/max windows on the same partition
    val absSides = levels.flatMap(_.absBounds.toSeq.flatMap(b => Seq(b._1, b._2)))
    if (absSides.exists(_.isInstanceOf[TMin]))
      cb.add("__afmin", min(col("stamp")).over(person))
    if (absSides.exists(_.isInstanceOf[TMax]))
      cb.add("__afmax", max(col("stamp")).over(person))
    def absCond(b: (TopB, TopB)): Column = {
      def side(bnd: TopB, isLo: Boolean): Option[Column] = bnd match {
        case TInf => None
        case TCst(v) => Some(if (isLo) col("stamp") >= v else col("stamp") <= v)
        case TMin(d) => Some(if (isLo) col("stamp") >= col("__afmin") + d
                             else col("stamp") <= col("__afmin") + d)
        case TMax(d) => Some(if (isLo) col("stamp") >= col("__afmax") + d
                             else col("stamp") <= col("__afmax") + d)
      }
      (side(b._1, isLo = true).toSeq ++ side(b._2, isLo = false).toSeq)
        .foldLeft(lit(true): Column)(_ && _)
    }
    val levelPreds = levels.map { l =>
      val p = compileExpr(l.where, now, real).get
      l.absBounds.map(b => p && absCond(b)).getOrElse(p)
    }
    // Order the witness windows by `stamp` itself, not `__rn`: per-person
    // stamps are unique by contract (TierB's stable sort and the interpreter
    // break ties arbitrarily — see TierPropertySpec), so the orderings are
    // identical, and sharing the row_number window's (id, stamp) sort lets
    // every window in the chain ride ONE physical Sort instead of two.
    val prevRows = person.orderBy(col("stamp"))
      .rowsBetween(W.unboundedPreceding, -1)
    val curRows = person.orderBy(col("stamp"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    // mirrored frames for `.reverse()` levels: the loop walks BACKWARD from
    // the spawn, so the witness is the NEAREST FOLLOWING spawn (min rn > r)
    // and the match counter accumulates from the right. The nearest spawn
    // is the best witness by the same argument as the forward case: stamps
    // are sorted, frames are stamp-intervals containing the spawn→row
    // stretch, and the nearest spawn's loop has made the fewest matches.
    val nextRows = person.orderBy(col("stamp"))
      .rowsBetween(1, W.unboundedFollowing)
    val curRowsR = person.orderBy(col("stamp"))
      .rowsBetween(W.currentRow, W.unboundedFollowing)
    val allRows = person.orderBy(col("stamp"))
      .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    // level 0 visits every match, capped by a top-level `.limit(n)` (first
    // — reverse: last — n where-matching rows per person) and floored by a
    // top-level `.from(k)` (rows at 0-based index >= k; a reverse top
    // starts AT index k and walks down, visiting nothing when the person
    // has <= k rows — the interpreter's no-clamp start). Materialized as a
    // column so later witness windows can reference it (a window expression
    // can't nest inside another window's aggregate).
    val head = levels.head
    // running frame shared by the accumulator folds (and the round-15
    // dynamic-cap gate below): forward = the (id, stamp) running frame;
    // reverse tops mirror over the forward sort's own row_number so ties
    // replay the interpreter's backward fold exactly (see the note at
    // the accums loop below)
    val accRunFrame =
      if (head.reverse)
        person.orderBy(col("__rn").desc)
          .rowsBetween(W.unboundedPreceding, W.currentRow)
      else curRows
    val fromCond0: Option[Column] = head.fromStart.map { k0 =>
      cb.add("__fc0",
        if (head.reverse)
          col("__rn") <= k0 + 1 && count(lit(1)).over(allRows) > k0
        else col("__rn") >= k0 + 1)
      col("__fc0")
    }
    val elig0: Column = {
      // a top-level frame gates which rows level 0 VISITS — exactly like a
      // `.from` floor (the interpreter skips out-of-frame rows before the
      // where runs, so they neither spawn nor count toward `.limit`)
      val fc = (fromCond0.toSeq ++ topFrameCond.toSeq)
        .foldLeft(lit(true): Column)(_ && _)
      dynCap match {
        case Some(dc) =>
          // round 15: a DYNAMIC where-cap on a chain top. Candidacy
          // (residual where + frame/from floors) evaluates IN-ROW inside
          // the GatedFold — the witness windows need every row, so the
          // single-loop path's pre-filter is not available — and the
          // fold's vis output gates which rows SPAWN. `.limit(n)` and
          // static caps on OTHER accumulators compose as a post-fold
          // visit rank (dynRankCap; the pre-fold `head.limitN` is None
          // by construction — compile() routes it here). Level-0 body
          // reads of the gating name ride the fold's post-visit acc;
          // reads below chain steps decline upstream (classifyVars).
          val gates = dc.caps.zipWithIndex.flatMap { case (c, i) =>
            c.gates.map { case (op, e) =>
              (i, op, compileExpr(e, now, real).get.cast("double")) }
          }
          val cand = levelPreds.head && fc
          cb.add("__gf", graft.functions.GatedFold.gatedFoldN(
            dc.caps.map(c => (c.init.toDouble,
              foldStages(c.parts, now, real, None))),
            cand, gates).over(accRunFrame))
          val vis = col("__gf").getField("vis")
          val cond = dynRankCap match {
            case None => vis
            case Some(m) =>
              cb.add("__mc0", count(when(vis, 1)).over(accRunFrame))
              vis && col("__mc0") <= m
          }
          dc.caps.zipWithIndex.foreach { case (c, i) =>
            cb.add(s"__acc_${c.name}",
              col("__gf").getField(if (i == 0) "acc" else s"acc$i"))
          }
          cond
        case None => head.limitN match {
          case None => fc
          case Some(n) =>
            cb.add("__mc0",
              count(when(levelPreds.head && fc, 1))
                .over(if (head.reverse) curRowsR else curRows))
            fc && col("__mc0") <= n
        }
      }
    }
    var visited: Column = levelPreds.head && elig0
    // accumulator running sums materialize HERE, before the k>=1 witness
    // windows: a chain-step guard may read the accumulator (rewritten to
    // `__acc_<n>` by substAccums), and its value at a candidate spawn row
    // is exactly the running sum over level-0 visits through that row.
    // A reverse top folds from the person's END: use a RUNNING frame over
    // the mirrored order (__rn DESC — the forward sort's own row_number,
    // so ties mirror the forward scan exactly), NOT an ascending
    // current→unbounded-following frame. Spark streams a running frame
    // sequentially in sort order — one add per row in exactly the
    // interpreter's backward fold order, so floating-point increments
    // stay bit-identical (round 11; the single-loop twin landed in round
    // 10) — while an unbounded-FOLLOWING frame re-aggregates ascending
    // from each row (different fp association AND O(rows²) per person).
    // carried caps (round 15) arrive in `accums` so the chain machinery
    // binds them, but their `__acc_` columns were already built by the
    // dynCap GatedFold above — a plain sum here would miss the gates
    val capBuilt = dynCap.toSeq.flatMap(_.caps.map(_.name)).toSet
    accums.filterNot(a => capBuilt(a._1)).foreach { case (n, init, parts) =>
      val acc =
        if (foldNeeded(init, parts))
          // multi-statement / nonzero-init fp accumulators (round 13):
          // FoldSum replays the interpreter's statement-ordered add
          // sequence; non-visited rows skip every stage (guard AND)
          graft.functions.FoldSum.foldSum(init.toDouble,
            foldStages(parts, now, real, Some(visited))).over(accRunFrame)
        else
          lit(init) + coalesce(
            sum(when(visited, perVisitInc(parts, now, real)))
              .over(accRunFrame),
            lit(0L))
      cb.add(s"__acc_$n", acc)
    }
    val eligible: Seq[Column] = elig0 +: (1 until levels.length).map { k =>
      val rev = levels(k).reverse
      // an `if`-wrapped nested loop spawns only from parent rows satisfying
      // the guard — AND it into the witness condition. Spawn-pure
      // accumulator conjuncts (`__accs_` reads on steps k ≥ 2, round 11)
      // are dropped HERE: they have no row-level meaning in the witness
      // windows, and the accum path — the only one where they occur —
      // never consults these eligibility columns for deep levels (reach
      // is decided per collected tuple / ordinal, where chainPlan ANDs
      // the spawn-pure parts with the spawn binds). Without accums the
      // filter is a no-op (no `__accs_` rewrite exists).
      val spawn = levels(k).guard
        .map(g => conjunctsOf(g)
          .filterNot(readsName(_, _.startsWith("__accs_")))
          .reduceOption(BinOp("&&", _, _)))
        .flatten
        .map(g => visited && compileExpr(g, now, real).get)
        .getOrElse(visited)
      val elig: Column = if (levels(k).isFromStep) {
        // `.from(k)` step: the loop restarts at ABSOLUTE row `start` for
        // every spawn, so (a) the row-index floor is spawn-independent,
        // (b) an unframed step needs only SOME spawn anywhere in the
        // person, (c) a framed step needs some spawn whose stamp brackets
        // the row — the nearest at-or-before (max stamp) / at-or-after
        // (min stamp) spawn is optimal per side, and a spawn may be the
        // row itself — and (d) an UNFRAMED `.limit(n)` counts the same
        // fixed match sequence every run, so the cap is the row's
        // absolute rank among where-matches past the floor; a FRAMED
        // limit prices per spawn via the max-G witness below (round 15).
        val start = levels(k).fromStart.get
        val rowCond = col("__rn") >= start + 1
        levels(k).limitN.foreach { _ =>
          cb.add(s"__mc$k",
            count(when(levelPreds(k) && rowCond, 1)).over(curRows))
        }
        val ahead = levels(k).spanMs
        val back = levels(k).contraSpanMs
        if (levels(k).limitN.isDefined && (ahead.nonEmpty || back.nonEmpty)) {
          // FRAMED `.from(k)` + `.limit(n)` (round 15): per-spawn match
          // sequences diverge (each spawn's frame cuts a different prefix
          // of the floored tail), but this row's rank in spawn y's scan
          // is C'(r) − G(y) — C' the running floored-match count
          // (`__mc$k` above), G(y) the floored matches strictly BELOW y's
          // frame (stamp < st_y − b, a range-window count at the spawn;
          // matches above the frame can't precede r once r is in frame,
          // stamps being person-unique and sorted). The BEST spawn
          // maximizes G, so eligibility is ONE max-G window over the
          // bracketing spawns (st_y ∈ [r−ahead, r+back]) — no collect,
          // and a missing/infinite side just unbounds the max window.
          val n = levels(k).limitN.get
          val backOff: Option[Long] = back match {
            case Some(b) if b != Long.MaxValue => Some(b)
            case Some(_) => None // infinite back side: the frame never cuts
            case None => Some(0L) // pure look_ahead: frame lower = spawn stamp
          }
          cb.add(s"__gg$k", backOff match {
            case Some(b) => count(when(levelPreds(k) && rowCond, 1))
              .over(person.orderBy(col("stamp"))
                .rangeBetween(W.unboundedPreceding, -b - 1))
            case None => lit(0L)
          })
          val (dLo, dHi) = deepS1Offsets(levels(k))
          val bracket = person.orderBy(col("stamp")).rangeBetween(
            dLo.getOrElse(W.unboundedPreceding),
            dHi.getOrElse(W.unboundedFollowing))
          cb.add(s"__gw$k",
            max(when(spawn, col(s"__gg$k"))).over(bracket))
          rowCond && (col(s"__mc$k") - col(s"__gw$k") <= n)
        } else {
          val frameElig: Column =
            if (ahead.isEmpty && back.isEmpty) {
              cb.add(s"__pv$k", max(when(spawn, lit(1))).over(allRows))
              col(s"__pv$k").isNotNull
            } else {
              val sides = ahead.map { a =>
                cb.add(s"__pv$k",
                  max(when(spawn, col("stamp"))).over(curRows))
                col(s"__pv$k").isNotNull &&
                  (if (a == Long.MaxValue) lit(true)
                   else col("stamp") - col(s"__pv$k") <= a)
              }.toSeq ++ back.map { b =>
                cb.add(s"__nv$k",
                  min(when(spawn, col("stamp"))).over(curRowsR))
                col(s"__nv$k").isNotNull &&
                  (if (b == Long.MaxValue) lit(true)
                   else col(s"__nv$k") - col("stamp") <= b)
              }.toSeq
              sides.reduce(_ || _)
            }
          var e = rowCond && frameElig
          levels(k).limitN.foreach(n => e = e && col(s"__mc$k") <= n)
          e
        }
      } else {
        // `.limit(n)`: the interpreter tallies a row only while its inner
        // loop has made < n matches — i.e. the row's rank among
        // where-matches strictly after (reverse: before) the witness is
        // <= n. Carried as a cumulative match count: the witness remembers
        // its own count, the row compares; the subtraction cancels
        // direction.
        levels(k).limitN.foreach { _ =>
          cb.add(s"__mc$k",
            count(when(levelPreds(k), 1)).over(if (rev) curRowsR else curRows))
        }
        val wFields = Seq(col("__rn").as("rn"), col("stamp").as("st")) ++
          levels(k).limitN.map(_ => col(s"__mc$k").as("mc"))
        cb.add(s"__pv$k",
          if (rev) min(when(spawn, struct(wFields: _*))).over(nextRows)
          else max(when(spawn, struct(wFields: _*))).over(prevRows))
        val witness = col(s"__pv$k")
        var e = witness.isNotNull
        levels(k).spanMs.foreach { span =>
          e = e &&
            (if (rev) witness.getField("st") - col("stamp") <= span
             else col("stamp") - witness.getField("st") <= span)
        }
        // a frame pointing AGAINST the scan direction: the cursor-advanced
        // scan only reaches rows past the witness, so the row must sit at
        // the witness stamp itself (and within the span on that side) —
        // usually empty, compiled honestly rather than interpreted slowly
        levels(k).contraSpanMs.foreach { span =>
          e = e &&
            (if (rev)
               col("stamp") >= witness.getField("st") &&
                 col("stamp") - witness.getField("st") <= span
             else
               col("stamp") <= witness.getField("st") &&
                 witness.getField("st") - col("stamp") <= span)
        }
        levels(k).limitN.foreach { n =>
          e = e && (col(s"__mc$k") - witness.getField("mc") <= n)
        }
        e
      }
      visited = levelPreds(k) && elig
      elig
    }
    (cb.df, eligible, levelPreds)
  }

  /** One chain level: its where, its tallies, its `.limit(n)` match cap
    * (allowed on any level, including the top; None = unlimited), its
    * cursor-anchored frame spans in ms (`spanMs` points WITH the scan
    * direction, `contraSpanMs` AGAINST it — a `.look_back` on a forward
    * step; None = unframed on that side), the `if` guard (evaluated at the
    * PARENT row) under which the level's loop was entered (None =
    * unconditional), and — for `.from(k)` anchored levels — the absolute
    * 0-based start row index (`.next()` already folded in). */
  final case class ChainLevel(where: Expr,
                              tallies: Seq[(Option[Expr], Seq[Expr])],
                              limitN: Option[Long],
                              spanMs: Option[Long],
                              guard: Option[Expr],
                              reverse: Boolean = false,
                              contraSpanMs: Option[Long] = None,
                              fromStart: Option[Long] = None,
                              isFromStep: Boolean = false,
                              absBounds: Option[(TopB, TopB)] = None)

  /** Decompose a default-mods `each_row` into a chain of levels: each level
    * may end in exactly one nested `each_row.continue().next()` chain step
    * (`.limit(n)` with a positive literal on ANY chain level — the
    * cumulative-count witness logic is per-level; frames must be
    * cursor-anchored with literal spans, in EITHER direction — a
    * backward-pointing frame compiles to its honest witness-stamp bound),
    * or one `each_row.from(k)` step (forward, literal k: the loop restarts
    * at absolute row k per spawn — frames anchor at the spawn, limits only
    * when unframed since per-spawn match counts diverge under a frame).
    * An else-less `if` wrapping the nested loop becomes that level's
    * guard. None = not chain-shaped -> Tier B. */
  private def extractLevels(top: EachRow, now: Long,
                            limitN: Option[Long] = None,
                            spanMs: Option[Long] = None,
                            guard: Option[Expr] = None,
                            reverse: Boolean = false,
                            contraSpanMs: Option[Long] = None,
                            fromStart: Option[Long] = None,
                            isFromStep: Boolean = false,
                            absBounds: Option[(TopB, TopB)] = None)
      : Option[Seq[ChainLevel]] =
    flattenBody(top.body, None).flatMap { case (tallies, nested) =>
      val head = ChainLevel(top.where, tallies, limitN, spanMs, guard,
        reverse, contraSpanMs, fromStart, isFromStep, absBounds)
      nested match {
        case None => Some(Vector(head))
        case Some((n, g)) if n.mods.continueFrom =>
          for {
            (span, contra, abs) <- chainSpan(n.mods.frame, n.mods.reverse, now)
            lim <- limitOf(n.mods, now)
            rest <- extractLevels(n, now, lim, span, g, n.mods.reverse, contra,
              absBounds = abs)
          } yield head +: rest
        case Some((n, g)) =>
          // `.from(k)` step: absolute restart, forward only
          for {
            k <- fromOf(n.mods, now).flatten
            (ahead, back, abs) <- fromStepFrame(n.mods.frame, now)
            lim <- limitOf(n.mods, now)
            // spawn-relative frames + limit compile since round 15: the
            // row's rank in spawn y's scan is C'(r) − G(y) with G a
            // per-spawn range-window count (witness path: one max-G
            // window; accum paths: per-tuple/per-hop G) — downstream
            // gates decline the shapes their machinery can't price
            rest <- extractLevels(n, now, lim, ahead, g, reverse = false, back,
              Some(k + (if (n.mods.next) 1L else 0L)), isFromStep = true,
              absBounds = abs)
          } yield head +: rest
      }
    }

  /** A `.continue()` chain step's frame, when the compiler covers it:
    * cursor-anchored literal spans as `(aligned, contra, None)` — aligned
    * points with the scan (`.look_ahead` forward / `.look_back` reversed,
    * and the binding half of `.within`), contra against it (the scan can
    * only reach a contra row at the anchor stamp itself; the compiled
    * witness-stamp bound evaluates that honestly). 'forever' (MaxValue)
    * spans drop the non-binding bound. Frames with EXPLICIT anchors
    * (`now`, literals, ISO `.range` ends, `first/last_stamp`) have
    * spawn-independent bounds → `(None, None, Some(bounds))`, folded into
    * the level's row predicate. None = unsupported shape. */
  private def chainSpan(frame: Option[Frame], reverse: Boolean, now: Long)
      : Option[(Option[Long], Option[Long], Option[(TopB, TopB)])] = {
    frame match {
      case None => Some((None, None, None))
      case Some(LookAhead(s, None)) =>
        litSpan(s, now).map { v =>
          if (!reverse) (if (v == Long.MaxValue) None else Some(v), None, None)
          else (None, Some(v), None) // against a reverse scan: stamp >= anchor
        }
      case Some(LookBack(s, None)) =>
        litSpan(s, now).map { v =>
          if (reverse) (if (v == Long.MaxValue) None else Some(v), None, None)
          else (None, Some(v), None) // against a forward scan: stamp <= anchor
        }
      case Some(Within(s, anchor))
          if anchor == PropRef("stamp") || anchor == VarRef("stamp") =>
        // only the aligned half can bind on a cursor-advanced scan
        litSpan(s, now).map(v => (if (v == Long.MaxValue) None else Some(v), None, None))
      case Some(f) => frameAsBounds(f, now, None).map(b => (None, None, Some(b)))
    }
  }

  /** A `.from(k)` step's frame as `(aheadSpan, backSpan, absBounds)`:
    * spawn-relative halves for cursor-anchored frames (the absolute
    * restart walks the whole tail, so both can bind — `.look_ahead` keeps
    * rows in [spawn, spawn+a], `.look_back` in [spawn-b, spawn], `.within`
    * either side; MaxValue = direction-only bound), or spawn-independent
    * constant bounds for explicit anchors. */
  private def fromStepFrame(frame: Option[Frame], now: Long)
      : Option[(Option[Long], Option[Long], Option[(TopB, TopB)])] = frame match {
    case None => Some((None, None, None))
    case Some(LookAhead(s, None)) => litSpan(s, now).map(v => (Some(v), None, None))
    case Some(LookBack(s, None))  => litSpan(s, now).map(v => (None, Some(v), None))
    case Some(Within(s, anchor))
        if anchor == PropRef("stamp") || anchor == VarRef("stamp") =>
      litSpan(s, now).map(v =>
        if (v == Long.MaxValue) (None, None, None) else (Some(v), Some(v), None))
    case Some(f) => frameAsBounds(f, now, None).map(b => (None, None, Some(b)))
  }

  /** Constant-fold the integer arithmetic the interpreter would evaluate
    * cursor-invalid: `+ - *` over int literals, WHOLE doubles and `now`
    * (unary minus included) — so `look_ahead(2_days + 12_hours)`,
    * `.limit(1 + 1)` or `now - 7_days` anchors compile instead of
    * sending the whole script to Tier B. Overflow or any other shape →
    * None: the interpreter wraps on overflow, and a non-whole double
    * inside arithmetic truncates at a different point than a per-leaf
    * fold would — both decline rather than mimic (the shiftB policy). */
  private def constLong(e: Expr, now: Long): Option[Long] = e match {
    case Lit(VInt(i)) => Some(i)
    case Lit(VDbl(d)) => if (d.isWhole) Some(d.toLong) else None
    case VarRef("now") | PropRef("now") => Some(now)
    case UnOp("-", x) =>
      constLong(x, now).flatMap(v =>
        try Some(Math.negateExact(v))
        catch { case _: ArithmeticException => None })
    case BinOp(op, l, r) if op == "+" || op == "-" || op == "*" =>
      for {
        a <- constLong(l, now)
        b <- constLong(r, now)
        v <- (try Some(op match {
                case "+" => Math.addExact(a, b)
                case "-" => Math.subtractExact(a, b)
                case _   => Math.multiplyExact(a, b)
              })
              catch { case _: ArithmeticException => None })
      } yield v
    case _ => None
  }

  private def litSpan(e: Expr, now: Long): Option[Long] = e match {
    // a BARE double span truncates like the interpreter's asLong
    case Lit(VDbl(d)) => Some(d.toLong)
    case other => constLong(other, now)
  }

  /** One side of a per-person-constant frame bound. */
  sealed trait TopB
  final case class TCst(v: Long) extends TopB // constant epoch ms
  final case class TMin(d: Long) extends TopB // first_stamp + d
  final case class TMax(d: Long) extends TopB // last_stamp + d
  case object TInf extends TopB               // unbounded side

  /** A top-level loop's frame as per-person-constant [lo, hi] stamp bounds,
    * mirroring Interpreter.frameBounds with the cursor INVALID: anchor-less
    * `.look_back`/`.look_ahead` anchor at the FIRST row's stamp (reverse
    * tops: the LAST row's), explicit anchors evaluate as numerics
    * (`now`, literals, `first_stamp`/`last_stamp` builtins), and `.range`
    * ends additionally accept ISO8601 strings (the interpreter's asStamp
    * coercion applies to `.range` only). `Some(None)` = unframed;
    * `None` = a shape the window tier can't express → Tier B (dynamic
    * anchors/spans, strings outside `.range`, overflowing arithmetic —
    * the interpreter's wrap-around is semantics we decline, not mimic). */
  private def topFrameBounds(m: EachRowMods, now: Long)
      : Option[Option[(TopB, TopB)]] = m.frame match {
    case None => Some(None)
    case Some(f) =>
      val anchorless: TopB = if (m.reverse) TMax(0) else TMin(0)
      frameAsBounds(f, now, Some(anchorless)).map(Some(_))
  }

  /** A frame's per-person-constant [lo, hi] bounds, or None when a side is
    * dynamic. `anchorless` supplies the anchor for anchor-less
    * `.look_back`/`.look_ahead` (top loops: the first/reverse-last row's
    * stamp); None there means anchor-less frames are NOT constant (chain
    * steps anchor at the spawn cursor — the witness machinery's job). */
  private def frameAsBounds(f: Frame, now: Long, anchorless: Option[TopB])
      : Option[(TopB, TopB)] = {
    def endNum(e: Expr): Option[TopB] = e match {
      case Lit(VDbl(d)) => Some(TCst(d.toLong)) // bare double: asLong
      case VarRef("first_stamp") | PropRef("first_stamp") => Some(TMin(0))
      case VarRef("last_stamp") | PropRef("last_stamp")   => Some(TMax(0))
      // stamp-anchored arithmetic (round 11): `first_stamp + 7_days`,
      // `last_stamp - 2_hours` — constant shifts ride the TopB offsets
      case BinOp("+", l, r) if endNum(l).isDefined || endNum(r).isDefined =>
        endNum(l).zip(constLong(r, now)).flatMap { case (b, d) => shiftB(b, d) }
          .orElse(constLong(l, now).zip(endNum(r))
            .flatMap { case (d, b) => shiftB(b, d) })
      case BinOp("-", l, r) if constLong(l, now).isEmpty =>
        endNum(l).zip(constLong(r, now)).flatMap { case (b, d) => shiftB(b, -d) }
      case other => constLong(other, now).map(TCst)
    }
    def endStamp(e: Expr): Option[TopB] = e match {
      case Lit(VStr(s)) =>
        try Some(TCst(java.time.OffsetDateTime.parse(s).toInstant.toEpochMilli))
        catch { case _: Throwable =>
          try Some(TCst(java.time.Instant.parse(s).toEpochMilli))
          catch { case _: Throwable => None } }
      case other => endNum(other)
    }
    def shiftB(b: TopB, d: Long): Option[TopB] =
      try Some(b match {
        case TCst(v) => TCst(Math.addExact(v, d))
        case TMin(x) => TMin(Math.addExact(x, d))
        case TMax(x) => TMax(Math.addExact(x, d))
        case TInf    => TInf
      }) catch { case _: ArithmeticException => None }
    f match {
      case LookBack(s, a) =>
        for {
          sv <- litSpan(s, now)
          av <- a.map(endNum).getOrElse(anchorless)
          lo <- if (sv == Long.MaxValue) Some(TInf) else shiftB(av, -sv)
        } yield (lo, av)
      case LookAhead(s, a) =>
        for {
          sv <- litSpan(s, now)
          av <- a.map(endNum).getOrElse(anchorless)
          hi <- if (sv == Long.MaxValue) Some(TInf) else shiftB(av, sv)
        } yield (av, hi)
      case Within(s, a) =>
        for {
          sv <- litSpan(s, now)
          if sv != Long.MaxValue // interpreter wraps a±MaxValue; decline
          av <- endNum(a)
          lo <- shiftB(av, -sv)
          hi <- shiftB(av, sv)
        } yield (lo, hi)
      case DateRange(s, e2) =>
        for (lo <- endStamp(s); hi <- endStamp(e2)) yield (lo, hi)
    }
  }

  /** The level's literal match cap: Some(None) = no limit, Some(Some(n))
    * = `.limit(n)` with a positive int literal, None = unsupported shape
    * (dynamic/zero/negative limits run Tier B). */
  private def limitOf(m: EachRowMods, now: Long): Option[Option[Long]] =
    m.limit match {
      case None => Some(None)
      case Some(e) => constLong(e, now).filter(_ >= 1).map(Some(_))
    }

  /** Literal non-negative `.from(k)` start offset: Some(None) = absent,
    * None = dynamic/negative -> Tier B. */
  private def fromOf(m: EachRowMods, now: Long): Option[Option[Long]] =
    m.from match {
      case None => Some(None)
      case Some(e) => constLong(e, now).filter(_ >= 0).map(Some(_))
    }

  /** A nested loop the chain compiler accepts: the classic
    * `.continue().next()` cursor step (`.from` present is ignored — the
    * interpreter gives `.continue` precedence when the cursor is live), or
    * a forward `.from(k)` absolute-restart step with a literal k. */
  private def isChainStep(m: EachRowMods): Boolean =
    (m.continueFrom && m.next && limitOf(m, 1L).isDefined) ||
    (!m.continueFrom && !m.reverse && fromOf(m, 1L).exists(_.isDefined) &&
      limitOf(m, 1L).isDefined)

  /** Single-tally fast path: Spark `rollup` generates every prefix node in
    * one pass with partial aggregation. */
  private def rollupPlan(filtered: DataFrame, gCols: Seq[Column],
                         selects: Vector[SelectCol],
                         aggs: Seq[(String, Column)]): DataFrame = {
    val d = gCols.length
    val withG = gCols.zipWithIndex.foldLeft(filtered) { case (df, (g, i)) =>
      df.withColumn(s"g${i + 1}", canonKey(filtered, g))
    }
    val gNames = (1 to d).map(i => col(s"g$i"))
    val gid = grouping_id(gNames: _*)
    val rolled = withG.rollup(gNames: _*)
      .agg(aggs.head._2.as(aggs.head._1),
        (aggs.tail.map { case (n, c) => c.as(n) } :+ gid.as("__gid")): _*)
    // grouping_id bit i set = column i grouped OUT; tally nodes are the
    // contiguous prefixes (gid = 0, 1, 3, 7, …); the grand total (all
    // out) has no tally equivalent (src/queryinterpreter.cpp:324-333).
    val depth = (lit(d) - expr("bit_count(__gid)")).cast("int").as("depth")
    val padded = (d + 1 to OslEngine.MaxDepth).map(i =>
      lit(null).cast("string").as(s"g$i"))
    // rollup only generates prefix groupings; drop the grand total,
    // which has no tally-tree equivalent
    rolled
      .where(col("__gid") =!= ((1 << d) - 1))
      .select((depth +: gNames) ++ padded ++ selects.map(s => col(s.alias)): _*)
  }

  /** Multi-tally / conditional-tally path: emit every (tally, prefix-depth)
    * node as a struct, explode, dedupe per (node, row) — the interpreter's
    * distinct-key semantics (src/queryinterpreter.cpp:242-255) — then one
    * hash aggregation per node. */
  private def explodePlan(filtered: DataFrame, tallyGroups: Seq[Seq[Column]],
                          tallyPreds: Seq[Column], selects: Vector[SelectCol],
                          aggs: Seq[(String, Column)]): DataFrame = {
    val entries: Seq[Column] = tallyGroups.zip(tallyPreds).flatMap { case (gs, p) =>
      val keys = gs.map(g => canonKey(filtered, g))
      (1 to gs.length).map { d =>
        val fields = lit(d).as("depth") +:
          (0 until OslEngine.MaxDepth).map(i =>
            (if (i < d) keys(i) else lit(null).cast("string")).as(s"g${i + 1}"))
        when(p, struct(fields: _*)).otherwise(lit(null))
      }
    }
    explodeEntryArrays(filtered, Seq(array(entries: _*)), selects, aggs)
  }

  /** Shared explode/aggregate tail: concat the per-row entry arrays,
    * dedupe per (node, row) — the interpreter's distinct-key semantics
    * (src/queryinterpreter.cpp:242-255): duplicate (node, row) pairs can
    * only arise WITHIN one row's combined entry array — identical structs
    * — so an in-row array_distinct replaces a whole-frame dropDuplicates,
    * whose first()-over-strings buffer forced a SortAggregate + an extra
    * shuffle — then one hash aggregation per node. */
  private def explodeEntryArrays(filtered: DataFrame, entryArrays: Seq[Column],
                                 selects: Vector[SelectCol],
                                 aggs: Seq[(String, Column)]): DataFrame = {
    val all = if (entryArrays.size == 1) entryArrays.head
              else concat(entryArrays: _*)
    val nodeCols = col("__n.depth").as("depth") +:
      (1 to OslEngine.MaxDepth).map(i => col(s"__n.g$i").as(s"g$i"))
    val pathCols = Seq("depth") ++ (1 to OslEngine.MaxDepth).map(i => s"g$i")
    // only the aggregate inputs survive the explode; the node aggregation
    // carries (node, id, select props) — not the whole event row
    val needed = ("id" +:
      (selects.flatMap(s => s.prop +: s.withKey.toSeq) ++
        filtered.columns.filter(_.startsWith("__vq_")))).distinct
      .filter(filtered.columns.contains)
    val exploded = filtered
      .withColumn("__n",
        explode(array_distinct(filter(all, x => x.isNotNull))))
      .select(nodeCols ++ needed.map(col): _*)
    exploded.groupBy(pathCols.map(col): _*)
      .agg(aggs.head._2.as(aggs.head._1),
        aggs.tail.map { case (n, c) => c.as(n) }: _*)
      .select(pathCols.map(col) ++ selects.map(s => col(s.alias)): _*)
  }

  /** Flatten an each_row body of tallies, (nestable) else-less `if`s and at
    * most one chain-step nested loop into per-tally predicates plus the
    * nested loop (paired with the accumulated `if` guard it sits under —
    * the loop spawns only from rows satisfying it); anything else is not
    * Tier-A-able. */
  private def flattenBody(body: Seq[Stmt], pred: Option[Expr])
      : Option[(Vector[(Option[Expr], Seq[Expr])], Option[(EachRow, Option[Expr])])] =
    body.foldLeft(Option((Vector.empty[(Option[Expr], Seq[Expr])],
        Option.empty[(EachRow, Option[Expr])]))) {
      case (None, _) => None
      // write-only accumulation before any tally of this body: dropped —
      // compile() only proceeds when writeOnlyAssignedVars proves the
      // names are never read (and guards the `var`-select dedup case)
      case (s @ Some((acc, nested)), Assign(VarRef(_), _, _))
          if acc.isEmpty && nested.isEmpty => s
      // an if whose branches are ONLY var-assigns is pure accumulation
      // (classifyVars proved the names write-only or leading accumulators
      // materialized as window columns): dropped like the bare assigns —
      // this is the only else-bearing if flattenBody accepts
      case (s @ Some((acc, nested)), If(_, t, e2))
          if acc.isEmpty && nested.isEmpty && (t ++ e2).nonEmpty &&
            (t ++ e2).forall(_.isInstanceOf[Assign]) => s
      case (Some((acc, nested)), Tally(gs)) => Some((acc :+ (pred, gs), nested))
      case (Some((acc, nested)), If(c, thenB, elseB)) if elseB.isEmpty =>
        val combined = pred.map(p => BinOp("&&", p, c): Expr).orElse(Some(c))
        flattenBody(thenB, combined).flatMap { case (ts, n2) =>
          if (nested.isDefined && n2.isDefined) None
          else Some((acc ++ ts, nested.orElse(n2)))
        }
      case (Some((acc, None)), e: EachRow) if isChainStep(e.mods) =>
        Some((acc, Some((e, pred))))
      case _ => None
    }

  private def frameExprs(f: Frame): Seq[Expr] = f match {
    case Within(s, a)    => Seq(s, a)
    case LookAhead(s, a) => s +: a.toSeq
    case LookBack(s, a)  => s +: a.toSeq
    case DateRange(s, e) => Seq(s, e)
  }

  /** Every expression the interpreter evaluates OUTSIDE assignment
    * right-hand sides — the read positions that can observe a script
    * variable. (An assignment's rhs is evaluated too, but its value only
    * flows into the assigned variable, so for classification it lives or
    * dies with the assignment itself.) */
  private def readPositions(sts: Seq[Stmt]): Seq[Expr] = {
    val reads = Seq.newBuilder[Expr]
    def walk(ss: Seq[Stmt]): Unit = ss.foreach {
      case Assign(_, _, _) => () // rhs dropped with the assignment
      case If(c, b, e)     => reads += c; walk(b); walk(e)
      case ForIn(_, it, b) => reads += it; walk(b)
      case EachRow(mods, w, b) =>
        reads += w
        mods.from.foreach(reads += _)
        mods.limit.foreach(reads += _)
        mods.frame.foreach(f => reads ++= frameExprs(f))
        walk(b)
      case Tally(gs)   => reads ++= gs
      case Return(v)   => v.foreach(reads += _)
      case ExprStmt(e) => reads += e
      case _           => ()
    }
    walk(sts)
    reads.result()
  }

  /** Does `e` read (bare-name lookup) any name satisfying `d`? The
    * interpreter resolves bare identifiers vars-first (Interpreter.lookup
    * shadows row columns). `PropTest.prop` and select props are NOT reads:
    * the interpreter resolves those against row columns only
    * (Interpreter.evalPropTest valueAt / rowValue). */
  private def readsName(e: Expr, d: String => Boolean): Boolean = e match {
    case VarRef(n)  => d(n)
    case PropRef(n) => d(n)
    case Lit(_)     => false
    case ListLit(xs) => xs.exists(readsName(_, d))
    case SetLit(xs)  => xs.exists(readsName(_, d))
    case DictLit(ps) => ps.exists { case (k, v) => readsName(k, d) || readsName(v, d) }
    case BinOp(_, l, r) => readsName(l, d) || readsName(r, d)
    case UnOp(_, x)     => readsName(x, d)
    case Call(_, as)    => as.exists(readsName(_, d))
    case MethodCall(r0, _, as) => readsName(r0, d) || as.exists(readsName(_, d))
    case Subscript(r0, i)      => readsName(r0, d) || readsName(i, d)
    case PropTest(_, _, cmp, frame, _) =>
      readsName(cmp.operand, d) || frame.exists(frameExprs(_).exists(readsName(_, d)))
    case InlineAgg(_, arg, frame, _, w) =>
      arg.exists(readsName(_, d)) || readsName(w, d) ||
        frame.exists(frameExprs(_).exists(readsName(_, d)))
  }

  /** The program's assigned variable names, when every assignment is
    * droppable: all targets are simple `VarRef`s and no assigned name is
    * READ outside an assignment right-hand side. A never-read var can
    * only reach the result through a `var x` select's dedup key, which
    * [[compile]] guards separately. None = some assignment isn't provably
    * inert (a read exists, or a target is a container/customer prop). */
  private def writeOnlyAssignedVars(program: Program): Option[Set[String]] = {
    val assigned = Set.newBuilder[String]
    var simple = true
    def walk(sts: Seq[Stmt]): Unit = sts.foreach {
      case Assign(VarRef(n), _, _) => assigned += n
      case Assign(_, _, _)         => simple = false
      case If(_, b, e)             => walk(b); walk(e)
      case ForIn(_, _, b)          => walk(b)
      case EachRow(_, _, b)        => walk(b)
      case _                       => ()
    }
    walk(program.code)
    val d = assigned.result()
    if (!simple) return None
    if (d.isEmpty) return Some(d)
    if (readPositions(program.code).exists(readsName(_, d))) None else Some(d)
  }

  /** Interpreter builtins win bare-name lookup over script vars
    * (Interpreter.lookup) — an "accumulator" with one of these names would
    * actually read the builtin, so classification declines it. */
  private val builtinNames = Set("now", "cursor", "row_count", "first_stamp",
    "last_stamp", "session_count", "id", "stamp", "event_time")

  /** One per-visit increment contribution of a read-accumulator: a plain
    * leading assignment (`cond=None`, always `incThen`) or a leading
    * `if cond { n ± inc … } [else { n ± inc … }]` statement — compiled
    * `when(cond, Σ incThen).otherwise(Σ incElse)`, which matches the
    * interpreter exactly: a null/false guard takes the else branch
    * (falsy-skip when there is none). Increments are Exprs: integer
    * literals (`Lit(VInt)`, possibly negative) or — round 8 — a numeric
    * row-prop reference (optionally under `UnOp("-", _)` for `-=`), whose
    * null reads add 0 like the interpreter's `Value.plus(_, VNone)`. */
  private final case class AccumPart(cond: Option[Expr],
                                     incThen: Seq[Expr], incElse: Seq[Expr])

  /** One gating accumulator of a DYNAMIC where-conjunct cap: its gate
    * conjuncts `(cmpOp, accum-free row expr)` — static-literal conjuncts
    * on the same name join as constant sides — and the accumulator's
    * init/parts for its [[graft.functions.GatedFold]] stage group.
    * `carried` (round 15): the name is read BELOW a chain step — the
    * fold's post-visit column then joins the chain machinery like any
    * other accumulator (spawns ARE the fold's visits, so the j-th
    * spawn's value is affine init + c·j on the ordinal path, and the
    * collect path's tuples carry the `__acc_` column verbatim). */
  private final case class CapAcc(name: String, gates: Seq[(String, Expr)],
                                  init: Long, parts: Seq[AccumPart],
                                  carried: Boolean = false)

  /** A DYNAMIC where-conjunct cap (round 15): one or more gating
    * accumulators priced by ONE GatedFold whose buffer is the JOINT
    * (acc_0…acc_{n−1}, visited) tuple — a visit requires EVERY gate to
    * pass, and every accumulator updates on a visit (the interpreter's
    * vars-first pre-increment where-eval, conjunct by conjunct). */
  private final case class DynCap(caps: Seq[CapAcc])

  /** Compile one visit's total increment for an accumulator. Non-literal
    * refs pass through `coalesce(_, 0)` — a null prop must not null the
    * whole visit's contribution (the interpreter adds 0 for VNone). */
  private def perVisitInc(parts: Seq[AccumPart], now: Long,
                          real: Map[PropTest, Column]): Column = {
    def one(e: Expr): Column = e match {
      case Lit(VInt(k)) => lit(k)
      case other => coalesce(compileExpr(other, now, real).get, lit(0L))
    }
    def side(incs: Seq[Expr]): Column =
      incs.map(one).reduceOption(_ + _).getOrElse(lit(0L))
    parts.map {
      case AccumPart(None, t, _) => side(t)
      case AccumPart(Some(c), t, e) =>
        when(compileExpr(c, now, real).get, side(t)).otherwise(side(e))
    }.reduceOption(_ + _).getOrElse(lit(0L))
  }

  private def isIntLitE(e: Expr): Boolean = e match {
    case Lit(VInt(_)) => true
    case _ => false
  }

  /** Multi-statement or nonzero-init FLOATING-POINT accumulators need the
    * statement-ordered fold ([[graft.functions.FoldSum]]): a plain window
    * SUM re-associates the interpreter's left-fold add sequence
    * (`((init+v1)+v2)` vs `init+(v1+v2)`), which diverges in final ULPs.
    * Literal-only accumulators are exact long arithmetic under any
    * association, and the single-statement zero-init fp shape IS a plain
    * running sum (`0 + v` is the IEEE identity the interpreter also
    * computes), so both keep the cheaper built-in SUM. */
  private def foldNeeded(init: Long, parts: Seq[AccumPart]): Boolean = {
    val incs = parts.flatMap(p => p.incThen ++ p.incElse)
    incs.exists(!isIntLitE(_)) &&
      (init != 0L || parts.size > 1 ||
        parts.exists(p => p.incThen.size > 1 || p.incElse.size > 1))
  }

  /** [[graft.functions.FoldSum]] stages for one accumulator — one
    * (guard, value-as-double) pair per increment statement, in statement
    * order. `visited` (chain builder) ANDs into every guard so
    * non-visited rows skip the whole visit. A null guard skips its stage
    * (the interpreter's falsy branch); null VALUES coalesce to 0.0 —
    * the interpreter ADDS zero for nil props (`Value.plus(_, VNone)`)
    * rather than skipping. Int literals widen exactly (`|k| < 2^53`). */
  private def foldStages(parts: Seq[AccumPart], now: Long,
                         real: Map[PropTest, Column],
                         visited: Option[Column]): Seq[(Column, Column)] = {
    def dbl(e: Expr): Column = e match {
      case Lit(VInt(k)) => lit(k.toDouble)
      case other =>
        coalesce(compileExpr(other, now, real).get.cast("double"), lit(0.0))
    }
    def onTop(g: Column): Column = visited.map(_ && g).getOrElse(g)
    parts.flatMap {
      case AccumPart(None, t, _) =>
        t.map(e => (visited.getOrElse(lit(true)), dbl(e)))
      case AccumPart(Some(c), t, e2) =>
        val g = compileExpr(c, now, real).get
        t.map(x => (onTop(g), dbl(x))) ++
          e2.map(x => (onTop(!coalesce(g, lit(false))), dbl(x)))
    }
  }

  /** Classify the program's assigned variable names into (write-only names,
    * integer read-accumulators `(name, init, parts)`), or None when
    * some assignment fits neither class (→ Tier B).
    *
    * Write-only names compile by dropping their assignments
    * ([[writeOnlyAssignedVars]]). A READ name compiles as an accumulator
    * when its value at every read site is provably
    * `init + Σ_visited-rows Σ_parts (guard ? inc : 0)`:
    *  - exactly one top-level leading init `n = <int literal>`;
    *  - every other assignment to n is a LEADING statement of the single
    *    top-level loop's body — `n = n ± <int lit>` / `n += <int lit>` /
    *    `n -= <int lit>`, either bare or inside an else-less `if` whose
    *    branch contains only such assignments (round 7: the guard becomes
    *    a conditional running-sum term; guards must not read any
    *    accumulator name — mid-visit they'd observe a partial sum) — so
    *    each visited row adds its (possibly guarded) constants BEFORE
    *    any read of the visit executes (a read between two increments
    *    would observe a partial sum; leading-only rules that out);
    *  - reads appear only inside that body (if-conditions / tally groups /
    *    is-test operands — positions [[compile]] rewrites to the window
    *    column via [[substAccums]]), never in the loop's `where` (evaluated
    *    PRE-increment), never inside an ever/never test (those compile as
    *    windows over the pre-filter frame, where the accumulator column
    *    doesn't exist), and never named by a select (`var`/`value` dedup
    *    keys would observe per-row values);
    *  - the name shadows no interpreter builtin (those win lookup), and
    *    the body nests no loop (per-spawn accumulation is not one window).
    * Reads in positions the expression compiler declines anyway (inline
    * aggs, containers, method calls, framed is-tests) need no special
    * handling — compile() falls back to Tier B on them.
    *
    * Increment values: integer literals (exact long arithmetic in both
    * tiers — Value.plus VInt+VInt) or, round 8, a NUMERIC row-prop
    * reference (`spend = spend + product_price`). The non-literal form is
    * floating-point, so it compiles only when the compiled add sequence is
    * the interpreter's add sequence exactly: init must be 0 (the window
    * sum folds left from zero like the interpreter's running value), the
    * accumulator must have exactly ONE increment statement with at most
    * one increment per branch (a second add would re-associate
    * `(n+a)+b` as `n+(a+b)`). Reverse tops compile too — single loops
    * since round 10, chain tops since round 11: both window builders
    * switch to a DESC RUNNING frame over the forward sort's own
    * row_number, which Spark streams in exactly the interpreter's
    * backward fold order (an unbounded-FOLLOWING frame would re-aggregate
    * ascending — different fp association and O(rows²) per person). Null
    * props add 0 (Value.plus(_, VNone)), matched by coalesce in
    * [[perVisitInc]]. */
  private def classifyVars(program: Program, events: DataFrame)
      : Option[(Set[String], Seq[(String, Long, Seq[AccumPart])],
                Option[Expr], Option[Long], Option[DynCap])] = {
    val eventCols: Set[String] = events.columns.toSet
    val numericCols: Set[String] = events.schema.fields.collect {
      case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] => f.name
    }.toSet
    writeOnlyAssignedVars(program) match {
      case Some(w) => return Some((w, Nil, None, None, None))
      case None    => ()
    }
    // mirror compile()'s core-shape split: leading inits + one top loop
    val (inits, rest) = program.code.span {
      case Assign(VarRef(_), _, _) => true
      case _ => false
    }
    val er = rest match {
      // frames allowed: they only shrink the visited set, and the window
      // in compile() counts exactly the post-filter (visited) rows
      case Seq(e: EachRow) if !e.mods.continueFrom && !e.mods.next => e
      case _ => return None
    }
    def isVarAssign(s: Stmt): Boolean = s match {
      case Assign(VarRef(_), _, _) => true
      case _ => false
    }
    def hasAssign(sts: Seq[Stmt]): Boolean = sts.exists {
      case _: Assign        => true
      case If(_, t, e2)     => hasAssign(t) || hasAssign(e2)
      case EachRow(_, _, b) => hasAssign(b)
      case ForIn(_, _, b)   => hasAssign(b)
      case _                => false
    }
    def hasLoop(sts: Seq[Stmt]): Boolean = sts.exists {
      case _: EachRow | _: ForIn => true
      case If(_, t, e2)          => hasLoop(t) || hasLoop(e2)
      case _                     => false
    }
    // leading accumulation statements: bare var-assigns, or ifs whose
    // branches hold only var-assigns (the guarded-increment form; an
    // assignment-free else is the else-less case)
    def isAccumIf(s: Stmt): Boolean = s match {
      case If(_, thenB, elseB) =>
        (thenB ++ elseB).nonEmpty && (thenB ++ elseB).forall(isVarAssign)
      case _ => false
    }
    val lead = er.body.takeWhile(s => isVarAssign(s) || isAccumIf(s))
    val bodyRest = er.body.drop(lead.length)
    if (hasAssign(bodyRest)) return None
    // nested loops (round 8, deepened round 9): a single chain of
    // continue().next() steps (any depth up to MaxDepth-1 steps),
    // assignment-free inside — reads below a step observe the SPAWNING
    // level-0 visit's value, which chainPlan enumerates per spawn
    def directLoops(sts: Seq[Stmt]): Seq[Stmt] = sts.flatMap {
      case e: EachRow   => Seq(e)
      case f: ForIn     => Seq(f)
      case If(_, t, e2) => directLoops(t) ++ directLoops(e2)
      case _            => Nil
    }
    def chainOf(e: EachRow): Option[Seq[EachRow]] = directLoops(e.body) match {
      case Seq()                                    => Some(Seq(e))
      case Seq(n: EachRow) if isChainStep(n.mods)   => chainOf(n).map(e +: _)
      case _                                        => None
    }
    val chainSteps: Seq[EachRow] = directLoops(bodyRest) match {
      case Seq()                                => Nil
      case Seq(e: EachRow) if isChainStep(e.mods) =>
        chainOf(e).getOrElse(return None)
      case _                                    => return None
    }
    if (chainSteps.size >= OslEngine.MaxDepth) return None
    val bodyAssigns = lead.flatMap {
      case a: Assign    => Seq(a)
      case If(_, t, e2) => (t ++ e2).collect { case a: Assign => a }
      case _            => Nil
    }
    val leadConds = lead.collect { case If(c, _, _) => c }
    val initAssigns = inits.collect { case a: Assign => a }
    val d: Set[String] =
      (initAssigns ++ bodyAssigns).collect { case Assign(VarRef(n), _, _) => n }.toSet
    if (d.exists(builtinNames)) return None
    val allReads = readPositions(program.code)
    val readNames = d.filter(n => allReads.exists(readsName(_, Set(n))))
    val writeOnly = d -- readNames
    val dR: String => Boolean = readNames
    // reads in the WHERE observe the PRE-increment value (the interpreter
    // evaluates the where before the body's leading increments run):
    // n_before = init + c × (visits so far). Because n only changes on
    // VISITED rows, the first time a pure-accumulator conjunct fails, n
    // freezes and the conjunct stays false for every later row — so the
    // visited set is exactly the first m* matches of the residual where, a
    // static `.limit(m*)` solved at compile time ([[capSolve]]; the
    // reference compiles the canonical stateful-cap script through the
    // same sequential VM, src/queryparserosl.h:3726-3812). Extractable:
    // top-level `&&` conjuncts comparing ONE accumulator to an integer
    // literal; any other accumulator read in the where stays Tier B.
    val (residualWhere, capConjs0, dynConjs) = splitWhereCaps(er.where, dR)
      .getOrElse(return None)
    if (program.select.exists(s => dR(s.prop) || s.withKey.exists(dR))) return None
    // reads inside ever/never OPERANDS now compile (round 8): the
    // interpreter evaluates the operand once per visit in the visiting
    // row's scope, which personTestColumns models as a scanned-prop
    // aggregate compared at the current row (unsupported op / non-numeric
    // prop shapes decline there, falling through to Tier B). What must
    // still decline HERE: reads in FRAME expressions (frameBounds evaluates
    // them mid-visit into window bounds no fixed WindowSpec can carry) and
    // reads under a `.next()`-shifted test (cursor-dependent scan start).
    def everReads(e: Expr): Boolean = e match {
      case PropTest(_, _, cmp, frame, nx) =>
        frame.toSeq.flatMap(frameExprs).exists(readsName(_, dR)) ||
          (nx && readsName(cmp.operand, dR)) ||
          everReads(cmp.operand)
      case ListLit(xs) => xs.exists(everReads)
      case SetLit(xs)  => xs.exists(everReads)
      case DictLit(ps) => ps.exists { case (k, v) => everReads(k) || everReads(v) }
      case BinOp(_, l, r) => everReads(l) || everReads(r)
      case UnOp(_, x)     => everReads(x)
      case Call(_, as)    => as.exists(everReads)
      case MethodCall(r0, _, as) => everReads(r0) || as.exists(everReads)
      case Subscript(r0, i)      => everReads(r0) || everReads(i)
      case InlineAgg(_, a, _, _, w) => a.exists(everReads) || everReads(w)
      case _ => false
    }
    if (allReads.exists(everReads)) return None
    chainSteps.foreach { e =>
      // the inner where / frame / limit evaluate DURING the spawn's scan —
      // reads there are not the spawn-constant the entry transform models
      if (readsName(e.where, dR)) return None
      if ((e.mods.from.toSeq ++ e.mods.limit.toSeq ++
           e.mods.frame.toSeq.flatMap(frameExprs)).exists(readsName(_, dR)))
        return None
      // ever/never operands BELOW the chain step now compile (round 9):
      // substAccums rewrites their reads to __accs_<n>, and the late-bound
      // realB predicate re-derives the compare per collected spawn tuple.
      // The step's own WHERE keeps declining via the readsName check
      // above (it evaluates during the scan, not at a visit); shapes
      // personTestColumns can't model (non-numeric prop, non-compare op,
      // frames reading accums) still fall through to Tier B there.
    }
    // a guard evaluates mid-visit, BETWEEN increments: any reference to an
    // assigned name there is either a partial-sum read (as a variable) or a
    // shadowing row column sharing the name — both stay interpreted. And
    // every name a guard references must be a real event column or builtin:
    // the interpreter resolves a missing prop to nil (falsy), where a
    // compiled col(...) would fail analysis.
    def guardRefNames(e: Expr): Set[String] = e match {
      case VarRef(n)  => Set(n)
      case PropRef(n) => Set(n)
      case PropTest(p, _, cmp, frame, _) =>
        Set(p) ++ guardRefNames(cmp.operand) ++
          frame.toSeq.flatMap(frameExprs).flatMap(guardRefNames)
      case BinOp(_, l, r) => guardRefNames(l) ++ guardRefNames(r)
      case UnOp(_, x)     => guardRefNames(x)
      case Call(_, as)    => as.flatMap(guardRefNames).toSet
      case MethodCall(r0, _, as) =>
        guardRefNames(r0) ++ as.flatMap(guardRefNames)
      case Subscript(r0, i) => guardRefNames(r0) ++ guardRefNames(i)
      case ListLit(xs) => xs.flatMap(guardRefNames).toSet
      case SetLit(xs)  => xs.flatMap(guardRefNames).toSet
      case DictLit(ps) =>
        ps.flatMap { case (k, v) => guardRefNames(k) ++ guardRefNames(v) }.toSet
      case InlineAgg(_, a, _, _, w) =>
        a.toSeq.flatMap(guardRefNames).toSet ++ guardRefNames(w)
      case _ => Set.empty
    }
    if (leadConds.nonEmpty) {
      val allowed = eventCols ++ builtinNames + "session"
      val refs = leadConds.flatMap(guardRefNames).toSet
      if (refs.exists(d) || !refs.forall(allowed)) return None
    }
    // self-referencing increment form: Some((target, incExpr)) when `a` is
    // one — incExpr is an integer literal or a bare name reference (whose
    // numeric-column validity is checked below), possibly negated for the
    // minus forms. None otherwise (the caller declines a READ name
    // assigned outside these forms; write-only assigns stay unchecked —
    // they are dropped wholesale).
    def incVal(e: Expr): Option[Expr] = e match {
      case Lit(VInt(_))         => Some(e)
      case VarRef(_) | PropRef(_) => Some(e)
      case _ => None
    }
    def neg(e: Expr): Expr = e match {
      case Lit(VInt(k)) => Lit(VInt(-k))
      case other        => UnOp("-", other)
    }
    def selfRef(e: Expr, m: String): Boolean = e match {
      case VarRef(m2)  => m2 == m
      case PropRef(m2) => m2 == m
      case _ => false
    }
    def incFormOf(a: Assign): Option[(String, Expr)] = a match {
      case Assign(VarRef(m), "+=", e) => incVal(e).map(m -> _)
      case Assign(VarRef(m), "-=", e) => incVal(e).map(x => m -> neg(x))
      case Assign(VarRef(m), "=", BinOp("+", s, e)) if selfRef(s, m) =>
        incVal(e).map(m -> _)
      case Assign(VarRef(m), "=", BinOp("+", e, s)) if selfRef(s, m) =>
        incVal(e).map(m -> _)
      case Assign(VarRef(m), "=", BinOp("-", s, e)) if selfRef(s, m) =>
        incVal(e).map(x => m -> neg(x))
      case _ => None
    }
    def targets(a: Assign, n: String): Boolean = a match {
      case Assign(VarRef(m), _, _) => m == n
      case _ => false
    }
    def isIntLit(e: Expr): Boolean = e match {
      case Lit(VInt(_)) => true
      case _ => false
    }
    // a non-literal increment must be a NUMERIC row column that no script
    // var shadows (vars win bare-name lookup) and no builtin preempts
    def numericRef(e: Expr): Boolean = e match {
      case UnOp("-", x) => numericRef(x)
      case VarRef(p)  => numericCols(p) && !d(p) && !builtinNames(p)
      case PropRef(p) => numericCols(p) && !d(p) && !builtinNames(p)
      case _ => false
    }
    def accumOf(n: String): Option[(Long, Seq[AccumPart])] = {
      val init = initAssigns.collect {
        case a @ Assign(VarRef(m), _, _) if m == n => a
      } match {
        case Seq(Assign(_, "=", Lit(VInt(v)))) => v
        // negative literals parse as a unary minus (round 15)
        case Seq(Assign(_, "=", UnOp("-", Lit(VInt(v))))) => -v
        case _ => return None
      }
      // every body assignment to a READ name must be an increment form
      if (bodyAssigns.exists(a => targets(a, n) &&
          !incFormOf(a).exists(_._1 == n))) return None
      // per-visit contributions in leading order: bare assigns accumulate
      // unconditionally; an if's branch assigns accumulate under its guard
      // (else-branch under the guard's falsy complement)
      def branchIncs(sts: Seq[Stmt]): Seq[Expr] = sts.collect { case a: Assign => a }
        .flatMap(incFormOf(_).collect { case (m, e) if m == n => e }.toSeq)
      val parts = lead.flatMap {
        case a: Assign =>
          incFormOf(a).collect { case (m, e) if m == n => AccumPart(None, Seq(e), Seq(e)) }.toSeq
        case If(c, thenB, elseB) =>
          val t = branchIncs(thenB)
          val e2 = branchIncs(elseB)
          if (t.isEmpty && e2.isEmpty) Nil else Seq(AccumPart(Some(c), t, e2))
        case _ => Nil
      }
      // non-literal increments: exact fp parity needs the interpreter's
      // add sequence — init 0, one increment statement with one increment
      // per branch, forward scan, numeric un-shadowed column refs
      val allIncs = parts.flatMap(p => p.incThen ++ p.incElse)
      if (allIncs.exists(!isIntLit(_))) {
        // round 13: ANY number of statements/parts and nonzero integer
        // inits compile — multi-statement / nonzero-init fp accumulators
        // ride the statement-ordered FoldSum window fold (see
        // [[foldNeeded]]); the single-statement zero-init shape keeps the
        // plain running SUM. Reverse tops compose with both builders (the
        // DESC running frame streams in the interpreter's backward fold
        // order, one update per row). Values must be numeric un-shadowed
        // refs or literals either way.
        if (allIncs.exists(e => !isIntLit(e) && !numericRef(e))) return None
      }
      Some((init, parts))
    }
    // round 15: DYNAMIC caps. A conjunct needs the sequential
    // [[graft.functions.GatedFold]] gate when its row side is dynamic,
    // OR when its accumulator's recurrence can't capSolve (guarded or
    // row-prop increments — no constant per-visit slope, so the
    // freeze-once-failed prefix argument doesn't hold; the fold prices
    // the exact recurrence either way). MULTIPLE gating names compile
    // through ONE fold with the JOINT (acc_0…acc_{n−1}, vis) buffer
    // (round 15 second act — a visit needs every gate, every gating
    // accumulator updates on a visit); static conjuncts on a gating name
    // join its gate as constant sides. Chain TOPS compose (the fold's
    // vis gates which rows spawn — see chainWitnesses); reads of a
    // gating name BELOW a chain step decline per cap below.
    def capSolvable(nm: String): Boolean = accumOf(nm).exists { case (_, parts) =>
      parts.isEmpty ||
        parts.forall(p => p.cond.isEmpty && p.incThen.forall(isIntLit))
    }
    val (capStatics, foldStatics) = capConjs0.partition(c => capSolvable(c._1))
    val dynNames: Seq[String] =
      (dynConjs.map(_._1) ++ foldStatics.map(_._1)).distinct
    val (dynStatics, capConjs) = capStatics.partition(c => dynNames.contains(c._1))
    val dynCap: Option[DynCap] =
      if (dynNames.isEmpty) None
      else Some(DynCap(dynNames.map { n =>
        // chain tops compose since round 15: the fold gates which rows
        // SPAWN (chainWitnesses evaluates candidacy in-row — the witness
        // windows need every row). Reads of a gating name BELOW a chain
        // step also compose (round 15, `carried`): spawns ARE the fold's
        // visits, so the j-th spawn observes init + c·j (ordinal path,
        // int-literal increments) or the tuple-carried `__acc_` column
        // (collect path) — compile() widens its accums with carried
        // caps so both bind paths serve the reads. (The step's own
        // where / frame / limit reads declined above, as for any
        // accumulator.)
        val carried = chainSteps.exists(st => readPositions(Seq(st)).exists(
          readsName(_, Set(n))))
        val (init, parts) = accumOf(n).getOrElse(return None)
        if (parts.isEmpty) return None // never incremented: a static conjunct
        // INT-literal increments live exactly in the fold's double buffer
        // only inside ±2^53: gate |init| ≤ 2^51 and per-visit literal |Δ| ≤
        // 2^21 (< 2^31 visits per window partition). Prop increments make
        // the interpreter's own value a double fold — bit-identical to the
        // GatedFold sequence at any magnitude, no gate needed.
        val litDelta = parts.map { p =>
          def s(es: Seq[Expr]) = es.collect { case Lit(VInt(k)) => math.abs(k) }.sum
          math.max(s(p.incThen), s(p.incElse))
        }.sum
        if (math.abs(init) > (1L << 51) || litDelta > (1L << 21)) return None
        CapAcc(n,
          dynConjs.filter(_._1 == n).map(c => (c._2, c._3)) ++
            (foldStatics ++ dynStatics).filter(_._1 == n)
              .map(c => (c._2, Lit(VInt(c._3)): Expr)),
          init, parts, carried)
      }))
    // names read OUTSIDE the where need a materialized window column; a
    // name read ONLY in (extracted) where conjuncts needs no column at all
    // — its effect is entirely the static visit cap (the dynamic gate's
    // name rides the fold either way)
    val matReads = allReads.filterNot(_ eq er.where)
    val matNames = readNames.filter(n => matReads.exists(readsName(_, Set(n))))
    val accums = matNames.filterNot(dynNames.contains).toSeq.sorted.map { n =>
      val (init, parts) = accumOf(n).getOrElse(return None)
      (n, init, parts)
    }
    // solve each cap conjunct: a constant per-visit increment (all parts
    // unconditional integer literals) makes m* static; anything dynamic
    // (guarded or row-prop increments) stays Tier B
    val capMs: Seq[Long] = capConjs.map { case (nm, op, k) =>
      val (init, parts) = accumOf(nm).getOrElse(return None)
      if (parts.isEmpty) {
        // initialized but never incremented: the conjunct is constant
        if (capHolds(init, op, k)) Long.MaxValue else 0L
      } else {
        if (!parts.forall(p => p.cond.isEmpty && p.incThen.forall(isIntLit)))
          return None
        val c = parts.flatMap(_.incThen).collect { case Lit(VInt(v)) => v }.sum
        capSolve(init, c, op, k).getOrElse(Long.MaxValue)
      }
    }
    val whereCap: Option[Long] =
      capMs.minOption.filter(_ != Long.MaxValue)
    Some((writeOnly, accums,
      if (capConjs0.isEmpty && dynConjs.isEmpty) None else Some(residualWhere),
      whereCap, dynCap))
  }

  /** Does `init CMP k` hold? (cap-conjunct evaluation at a fixed value) */
  private def capHolds(x: Long, op: String, k: Long): Boolean = op match {
    case "<" => x < k; case "<=" => x <= k
    case ">" => x > k; case ">=" => x >= k
    case "==" => x == k; case _ => x != k
  }

  /** First visit ordinal m >= 0 at which `init + c*m CMP k` FAILS — how
    * many rows the loop visits before a pure-accumulator where-conjunct
    * turns false (after which n freezes, so the conjunct stays false for
    * every later row and only the FIRST failure matters). None = never
    * fails (the conjunct is inert). Exact long arithmetic. */
  private def capSolve(init: Long, c: Long, op: String, k: Long): Option[Long] = {
    if (!capHolds(init, op, k)) return Some(0L)
    if (c == 0) return None // constant and holding
    def ceilDiv(a: Long, b: Long): Long = (a + b - 1) / b // a, b > 0
    op match {
      case "==" => Some(1L) // held at m=0; c != 0 moves x off k at m=1
      case "!=" => // fails at the unique integral m >= 1 with x == k
        val diff = k - init
        if (diff % c == 0 && diff / c >= 1) Some(diff / c) else None
      case "<" => // first m with x >= k (k > init since it held at 0)
        if (c < 0) None else Some(ceilDiv(k - init, c))
      case "<=" => // first m with x > k (k >= init)
        if (c < 0) None else Some((k - init) / c + 1)
      case ">" => // first m with x <= k (init > k)
        if (c > 0) None else Some(ceilDiv(init - k, -c))
      case _ => // ">=": first m with x < k (init >= k)
        if (c > 0) None else Some((init - k) / (-c) + 1)
    }
  }

  /** Split a where into (residual, static cap conjuncts `(name, cmpOp,
    * k)`, DYNAMIC cap conjuncts `(name, cmpOp, rowExpr)`): top-level `&&`
    * conjuncts of the form `<accum> cmp <int literal>` (either operand
    * order) extract statically; `<accum> cmp <accum-free row expr>`
    * (round 15 — the reference's budget pattern `n < price`) extract
    * dynamically, to be priced by the [[graft.functions.GatedFold]]
    * sequential window gate. None when any OTHER conjunct still reads an
    * accumulator (→ Tier B). A where with no accumulator reads passes
    * through unchanged. */
  private def splitWhereCaps(where: Expr, dR: String => Boolean)
      : Option[(Expr, Seq[(String, String, Long)],
                Seq[(String, String, Expr)])] = {
    if (!readsName(where, dR)) return Some((where, Nil, Nil))
    def conjuncts(e: Expr): Seq[Expr] = e match {
      case BinOp("&&", l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val cmpOps = Set("<", "<=", ">", ">=", "==", "!=")
    def flip(op: String) = op match {
      case "<" => ">"; case "<=" => ">="; case ">" => "<"; case ">=" => "<="
      case x => x
    }
    def nameOf(e: Expr): Option[String] = e match {
      case VarRef(n) if dR(n)  => Some(n)
      case PropRef(n) if dR(n) => Some(n)
      case _ => None
    }
    val caps = Seq.newBuilder[(String, String, Long)]
    val dyn = Seq.newBuilder[(String, String, Expr)]
    val rest = Seq.newBuilder[Expr]
    conjuncts(where).foreach {
      case BinOp(op, l, Lit(VInt(k))) if cmpOps(op) && nameOf(l).isDefined =>
        caps += ((nameOf(l).get, op, k))
      case BinOp(op, Lit(VInt(k)), r) if cmpOps(op) && nameOf(r).isDefined =>
        caps += ((nameOf(r).get, flip(op), k))
      // dynamic side: any accumulator-free row expression (flip-safe for
      // the nil string path too — compareTo is antisymmetric)
      case BinOp(op, l, r) if cmpOps(op) && nameOf(l).isDefined &&
          !readsName(r, dR) =>
        dyn += ((nameOf(l).get, op, r))
      case BinOp(op, l, r) if cmpOps(op) && nameOf(r).isDefined &&
          !readsName(l, dR) =>
        dyn += ((nameOf(r).get, flip(op), l))
      case other =>
        if (readsName(other, dR)) return None
        rest += other
    }
    val residual = rest.result().reduceOption(BinOp("&&", _, _))
      .getOrElse(Lit(VBool(true)))
    Some((residual, caps.result(), dyn.result()))
  }

  /** Rewrite reads of accumulator names to their materialized window
    * column (`PropRef("__acc_<n>")` compiles to the column [[compile]]
    * adds over the visited-row frame). Assignment targets keep their name
    * — flattenBody drops the statements whole.
    *
    * Level-aware (round 8): reads INSIDE a nested chain-step loop observe
    * the SPAWNING top visit's value, not the current row's running count —
    * those rewrite to `__accs_<n>`, which chainPlan binds per spawn value
    * inside the entry-array transform. */
  /** Does an (already substAccums-rewritten) operand read an IN-CHAIN
    * accumulator (`__accs_<n>`)? Such tests need the late-bound realB
    * entry — their compare re-derives per collected spawn tuple. */
  private def opndReadsChainAccum(e: Expr): Boolean = e match {
    case VarRef(n)  => n.startsWith("__accs_")
    case PropRef(n) => n.startsWith("__accs_")
    case BinOp(_, l, r) => opndReadsChainAccum(l) || opndReadsChainAccum(r)
    case UnOp(_, x)     => opndReadsChainAccum(x)
    case Call(_, as)    => as.exists(opndReadsChainAccum)
    case ListLit(xs)    => xs.exists(opndReadsChainAccum)
    case _ => false
  }

  private def substAccums(er: EachRow, names: Set[String]): EachRow = {
    var inChain = false
    def pfx = if (inChain) "__accs_" else "__acc_"
    def sx(e: Expr): Expr = e match {
      case VarRef(n) if names(n)  => PropRef(pfx + n)
      case PropRef(n) if names(n) => PropRef(pfx + n)
      case ListLit(xs) => ListLit(xs.map(sx))
      case SetLit(xs)  => SetLit(xs.map(sx))
      case DictLit(ps) => DictLit(ps.map { case (k, v) => (sx(k), sx(v)) })
      case BinOp(op, l, r) => BinOp(op, sx(l), sx(r))
      case UnOp(op, x)     => UnOp(op, sx(x))
      case Call(f, as)     => Call(f, as.map(sx))
      case MethodCall(r0, m, as) => MethodCall(sx(r0), m, as.map(sx))
      case Subscript(r0, i)      => Subscript(sx(r0), sx(i))
      case PropTest(p, k, Comparator(op, o), fr, nx) =>
        PropTest(p, k, Comparator(op, sx(o)), fr.map(sf), nx)
      case InlineAgg(k, a, fr, rev, w) =>
        InlineAgg(k, a.map(sx), fr.map(sf), rev, sx(w))
      case other => other
    }
    def sf(f: Frame): Frame = f match {
      case Within(s, a)    => Within(sx(s), sx(a))
      case LookAhead(s, a) => LookAhead(sx(s), a.map(sx))
      case LookBack(s, a)  => LookBack(sx(s), a.map(sx))
      case DateRange(s, e) => DateRange(sx(s), sx(e))
    }
    def st(s: Stmt): Stmt = s match {
      case Assign(t, op, v)  => Assign(t, op, sx(v))
      case If(c, b, e)       => If(sx(c), b.map(st), e.map(st))
      case Tally(gs)         => Tally(gs.map(sx))
      case ForIn(v, it, b)   => ForIn(v, sx(it), b.map(st))
      case EachRow(m, w, b) if isChainStep(m) && !inChain =>
        // reads at or below the chain step observe the spawn's value
        inChain = true
        val r = EachRow(m, sx(w), b.map(st))
        inChain = false
        r
      case EachRow(m, w, b)  => EachRow(m, sx(w), b.map(st))
      case Return(v)         => Return(v.map(sx))
      case ExprStmt(e)       => ExprStmt(sx(e))
      case other             => other
    }
    er.copy(body = er.body.map(st))
  }

  /** True when assignments appear only as LEADING statements of the
    * top-level code and of each_row bodies — i.e. no tally can execute
    * before an assignment within one row visit (the `var`-select dedup
    * precondition; see [[compile]]). Assignments inside `if` bodies or
    * after a body's first non-assignment fail. */
  private def assignsLeadingOnly(sts: Seq[Stmt]): Boolean = {
    def noAssigns(b: Seq[Stmt]): Boolean = b.forall {
      case _: Assign       => false
      case If(_, t, e)     => noAssigns(t) && noAssigns(e)
      case EachRow(_, _, b2) => noAssigns(b2)
      case ForIn(_, _, b2) => noAssigns(b2)
      case _               => true
    }
    sts.dropWhile(_.isInstanceOf[Assign]).forall {
      case _: Assign         => false
      case If(_, t, e)       => noAssigns(t) && noAssigns(e)
      case EachRow(_, _, b2) => assignsLeadingOnly(b2)
      case ForIn(_, _, b2)   => noAssigns(b2)
      case _                 => true
    }
  }

  /** Un-shifted ever/never tests compile to window-exists columns over the
    * customer's history (the interpreter scans all rows within the frame
    * bounds, src/queryinterpreter.cpp:2580-2720 via frameBounds):
    *  - no frame                  -> exists over the whole person partition;
    *  - now/first/last-anchored   -> exists with constant or person-constant
    *    stamp bounds (first/last via min/max(stamp) person windows);
    *  - cursor-anchored look_back/look_ahead/within -> a RANGE window frame
    *    on stamp, [lo, hi] inclusive like the interpreter's bounds.
    *
    * Returns per test `(pt, windowCol, mkPred)`: the caller materializes
    * `windowCol` as `__pt{i}` on the PRE-FILTER frame and maps the test to
    * `mkPred(col("__pt{i}"))` wherever it appears.
    *
    * Two operand classes (round 8):
    *  - ROW-INDEPENDENT operands (literals / `now`): the test is a
    *    per-person constant — one exists-window, predicate `== 1/0`.
    *  - CURRENT-ROW-DEPENDENT operands (accumulator reads, row props,
    *    `stamp`): the interpreter evaluates the operand ONCE per visit in
    *    the visiting row's scope (Interpreter.applyCmp evals `cmp.operand`
    *    against the CURSOR row) and compares every scanned row's prop to
    *    it — so the window must aggregate the SCANNED rows' prop values
    *    (min/max/collect_set + a null-row flag) and the comparison happens
    *    OUTSIDE the window, against the current row. Supported for numeric
    *    props with ==/!=/>/>=/</<= (`rowCtx` supplies the schema);
    *    anything else declines — including every row-dependent operand in
    *    segment context (`rowCtx = None`), where no current row exists.
    *    Null semantics mirror Value.eq/cmp exactly: a null (VNone) scanned
    *    value never ==-matches, always !=-matches a non-null operand, and
    *    under the interpreter's string-fallback compare ("" vs digits)
    *    matches `<`/`<=` but never `>`/`>=`; a null operand (1/0) compares
    *    as "" against digit strings.
    * A test whose shape is not expressible poisons compilation (returns
    * None) — correctness never falls through to a wrong column. */
  /** Each compiled ever/never test returns (test, window aggregate column,
    * predicate builder). The builder takes the materialized aggregate
    * column AND a bind map: an operand reading an in-chain accumulator
    * (`__accs_<n>`, round 9) resolves through the binds — chainPlan calls
    * it per collected spawn tuple, everything else passes Map.empty. */
  private def personTestColumns(exprs: Seq[Expr], now: Long,
                                rowCtx: Option[DataFrame] = None)
      : Option[Seq[(PropTest, Column, (Column, Map[String, Column]) => Column)]] = {
    val tests = scala.collection.mutable.LinkedHashSet.empty[PropTest]
    var sawUncompilable = false
    def walk(e: Expr): Unit = e match {
      case pt @ PropTest(_, k, _, _, next) if k == "ever" || k == "never" =>
        if (next) sawUncompilable = true else tests += pt
      case BinOp(_, l, r) => walk(l); walk(r)
      case UnOp(_, x) => walk(x)
      case _ => ()
    }
    exprs.foreach(walk)
    if (sawUncompilable) return None
    val W = org.apache.spark.sql.expressions.Window
    val person = W.partitionBy(col("id"))
    // person-constant stamp anchors (evaluated over the full history)
    def anchorCol(e: Expr): Option[Column] = e match {
      case VarRef("now") | PropRef("now") => Some(lit(now))
      case Lit(VInt(i)) => Some(lit(i))
      case Lit(VDbl(d)) => Some(lit(d.toLong))
      case Lit(VStr(s)) => // ISO literals in .range frames
        try Some(lit(java.time.OffsetDateTime.parse(s).toInstant.toEpochMilli))
        catch { case _: Throwable =>
          try Some(lit(java.time.Instant.parse(s).toEpochMilli))
          catch { case _: Throwable => None } }
      case VarRef("last_stamp") => Some(max(col("stamp")).over(person))
      case VarRef("first_stamp") => Some(min(col("stamp")).over(person))
      case _ => None
    }
    def spanMs(e: Expr): Option[Long] = e match {
      case Lit(VInt(i)) => Some(i)
      case Lit(VDbl(d)) => Some(d.toLong)
      case _ => None
    }
    // the scanned-row set as (value projection, window): bounded frames
    // fold stamp bounds into the projection over the person partition;
    // cursor-anchored frames become RANGE windows on stamp
    final case class EvScan(proj: Column => Column,
                            w: org.apache.spark.sql.expressions.WindowSpec)
    def bounded(lo: Column, hi: Column) =
      EvScan(c => when(col("stamp").between(lo, hi), c), person)
    def ranged(lo: Long, hi: Long) = {
      val loB = if (lo == Long.MinValue) W.unboundedPreceding else lo
      val hiB = if (hi == Long.MaxValue) W.unboundedFollowing else hi
      EvScan(identity,
        person.orderBy(col("stamp")).rangeBetween(loB, hiB))
    }
    def scanOf(pt: PropTest): Option[EvScan] = pt.frame match {
      case None => Some(EvScan(identity, person))
      case Some(Within(span, anchor)) =>
        (spanMs(span), anchorCol(anchor)) match {
          case (Some(s), Some(a)) => Some(bounded(a - s, a + s))
          case (Some(s), None) if anchor == PropRef("stamp") || anchor == VarRef("stamp") =>
            Some(ranged(-s, s))
          case _ => None
        }
      case Some(LookBack(span, anchor)) =>
        (spanMs(span), anchor) match {
          case (Some(s), None) => // cursor-anchored
            Some(ranged(if (s == Long.MaxValue) Long.MinValue else -s, 0L))
          case (Some(s), Some(a)) => anchorCol(a).map(ac =>
            bounded(if (s == Long.MaxValue) lit(Long.MinValue) else ac - s, ac))
          case _ => None
        }
      case Some(LookAhead(span, anchor)) =>
        (spanMs(span), anchor) match {
          case (Some(s), None) =>
            Some(ranged(0L, if (s == Long.MaxValue) Long.MaxValue else s))
          case (Some(s), Some(a)) => anchorCol(a).map(ac =>
            bounded(ac, if (s == Long.MaxValue) lit(Long.MaxValue) else ac + s))
          case _ => None
        }
      case Some(DateRange(s, e)) =>
        for (lo <- anchorCol(s); hi <- anchorCol(e)) yield bounded(lo, hi)
    }
    // names the operand reads ("now" is a constant, not a row read)
    def opndRefs(e: Expr): Set[String] = e match {
      case VarRef(n)  => Set(n) - "now"
      case PropRef(n) => Set(n) - "now"
      case BinOp(_, l, r) => opndRefs(l) ++ opndRefs(r)
      case UnOp(_, x)     => opndRefs(x)
      case Call(_, as)    => as.flatMap(opndRefs).toSet
      case ListLit(xs)    => xs.flatMap(opndRefs).toSet
      case _ => Set.empty
    }
    val numericProps: Set[String] = rowCtx.toSeq.flatMap(_.schema.fields.collect {
      case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] => f.name
    }).toSet ++ Set("stamp", "event_time")
    // operand must stay in the interpreter's NUMERIC compare branch
    // (Value.cmp/eq go string-wise the moment either side is non-numeric)
    def numOpnd(e: Expr): Boolean = e match {
      case Lit(VInt(_)) | Lit(VDbl(_)) => true
      // __acc_ = top-level running-sum column; __accs_ = in-chain read,
      // late-bound to the spawn tuple's value (round 9)
      case VarRef(n)  => n == "now" || n.startsWith("__acc") || numericProps(n)
      case PropRef(n) => n == "now" || n.startsWith("__acc") || numericProps(n)
      case BinOp(op, l, r) => Set("+", "-", "*", "/")(op) && numOpnd(l) && numOpnd(r)
      case UnOp("-", x) => numOpnd(x)
      case Call(_, as)  => as.forall(numOpnd) // marshal fns are all numeric
      case _ => false
    }
    val aggOps = Set("==", "!=", ">", ">=", "<", "<=")
    traverse(tests.toSeq.map { pt =>
      val propCol = if (pt.prop == "event_time") col("stamp") else col(pt.prop)
      if (opndRefs(pt.cmp.operand).isEmpty) {
        // row-independent operand: per-person-constant exists window
        for {
          rowPred <- compileCmp(propCol, pt.cmp, now)
          sc <- scanOf(pt)
        } yield (pt, max(sc.proj(when(rowPred, 1))).over(sc.w),
          (c: Column, _: Map[String, Column]) =>
            coalesce(c, lit(0)) === (if (pt.kind == "ever") 1 else 0))
      } else {
        // current-row-dependent operand: aggregate the scanned props, compare
        // at the visiting row (only meaningful where a current row exists)
        for {
          _ <- rowCtx
          _ <- if (aggOps(pt.cmp.op) && numericProps(pt.prop) &&
                   numOpnd(pt.cmp.operand)) Some(()) else None
          _ <- compileExpr(pt.cmp.operand, now) // compilability check
          sc <- scanOf(pt)
        } yield {
          val needs = pt.cmp.op match {
            case ">"          => Seq("mx")
            case ">="         => Seq("mx", "hn")
            case "<" | "<="   => Seq("mn", "hn")
            case "==" | "!="  => Seq("vs", "hn")
          }
          val fieldCols = needs.map {
            case "mx" => max(sc.proj(propCol)).over(sc.w).as("mx")
            case "mn" => min(sc.proj(propCol)).over(sc.w).as("mn")
            case "vs" => collect_set(sc.proj(propCol)).over(sc.w).as("vs")
            case "hn" => max(sc.proj(when(propCol.isNull, lit(1)))).over(sc.w).as("hn")
          }
          val winCol = struct(fieldCols: _*)
          val mk = (c: Column, binds: Map[String, Column]) => {
            // late-bound operand: in-chain accumulator reads resolve to the
            // spawn tuple's value (chainPlan passes the tuple binds)
            val o = compileExpr(pt.cmp.operand, now, Map.empty, binds).get
            def f(n: String) = c.getField(n)
            def hn = coalesce(f("hn") === 1, lit(false))
            // null-operand (VNone, e.g. 1/0) rows compare via the
            // interpreter's string fallback — see the scaladoc table
            val found = pt.cmp.op match {
              case ">"  => when(o.isNull, f("mx").isNotNull).otherwise(f("mx") > o)
              case ">=" => when(o.isNull, f("mx").isNotNull || hn).otherwise(f("mx") >= o)
              case "<"  => when(o.isNull, lit(false)).otherwise(hn || f("mn") < o)
              case "<=" => when(o.isNull, hn).otherwise(hn || f("mn") <= o)
              case "==" => when(o.isNull, hn)
                .otherwise(coalesce(exists(f("vs"), x => x === o), lit(false)))
              case "!=" => when(o.isNull, size(f("vs")) > 0)
                .otherwise(hn || coalesce(exists(f("vs"), x => x =!= o), lit(false)))
            }
            val p = coalesce(found, lit(false))
            if (pt.kind == "ever") p else !p
          }
          (pt, winCol, mk)
        }
      }
    })
  }

  /** Compile a histogram-route script (`x = agg(col) where rowPred …;
    * return(expr)`, src/oloop_histogram.cpp) to one hash aggregation:
    * `groupBy(id).agg(conditional aggs)` → `select(id, return-expr)`.
    * Conditional aggregates run over ALL of a person's rows (no pre-filter:
    * a person with zero matching rows still returns, with empty-agg
    * defaults). Matches the interpreter exactly:
    *  - sums/avgs go through ×10,000 HALF_UP fixed point (= DECIMAL(28,4));
    *  - count/dcount skip nil (null) argument values;
    *  - empty min/max/avg/row are nil, which every numeric consumption
    *    reads as 0 — compiled as coalesce(…, 0).
    * Frames, `.reverse`, session references, vars referencing other vars
    * and non-inline-agg assignments decline to the interpreter. */
  def compileHistogram(program: Program, events0: DataFrame,
                       now: Long,
                       sessionGapMs: Long = 30 * 60 * 1000L): Option[DataFrame] = {
    if (program.select.nonEmpty || program.code.isEmpty) return None
    // round 15: session references compile on this route too — the base
    // sessionizes, the per-row `session` joins the row columns (inline
    // agg wheres/args), and `session_count` (the person's LAST 1-based
    // index = max(session)) is served in the RETURN as an implicit
    // aggregated var (`return(session_count)` is the reference's
    // canonical per-person session count, src/oloop_histogram.cpp).
    val needsSession = Interpreter.referencesSession(program)
    val events = if (needsSession)
      graft.operators.EventOps.sessionize(events0, sessionGapMs)
    else events0
    val rowCols = events.columns.toSet
    // every name referenced below must be a row column or builtin — inline
    // aggs referencing earlier VARS (or anything stateful) decline
    def rowPure(e: Expr): Boolean = e match {
      case Lit(VNone) => false // nil literals have non-numeric compare semantics
      case Lit(_) => true
      case VarRef("now") | PropRef("now") => true
      case VarRef(n) => rowCols(n)
      case PropRef(n) => rowCols(n)
      case ListLit(xs) => xs.forall(rowPure)
      case BinOp(_, l, r) => rowPure(l) && rowPure(r)
      case UnOp(_, x) => rowPure(x)
      case Call(_, as) => as.forall(rowPure)
      case PropTest(p, k, cmp, None, false) if k == "is" || k == "is_not" =>
        rowCols(p) && rowPure(cmp.operand)
      case _ => false
    }
    val (assigns, ret) = (program.code.init, program.code.last)
    val retExpr = ret match {
      case Return(Some(e)) => e
      case _ => return None
    }
    val vars = scala.collection.mutable.LinkedHashMap.empty[String, Column]
    assigns.foreach {
      case Assign(VarRef(name), "=", ia: InlineAgg)
          if ia.frame.isEmpty && !ia.reverse && rowPure(ia.where) &&
            ia.arg.forall(rowPure) && !rowCols(name) =>
        val pred = compileExpr(ia.where, now).getOrElse(return None)
        val argC = ia.arg.map(a => compileExpr(a, now).getOrElse(return None))
        val arg = argC.getOrElse(lit(1L))
        // ×10,000 fixed point with HALF_UP — exactly Interpreter.toFixed
        val fixed = when(pred, arg.cast(org.apache.spark.sql.types.DecimalType(28, 4)))
        val c: Column = ia.kind match {
          case "sum" => coalesce(sum(fixed).cast("double"), lit(0.0))
          case "count" => count(when(pred, arg))
          case "dcount" => countDistinct(when(pred, arg))
          case "min" => coalesce(min(when(pred, arg.cast("double"))), lit(0.0))
          case "max" => coalesce(max(when(pred, arg.cast("double"))), lit(0.0))
          case "avg" => coalesce(
            (sum(fixed).cast("double") / count(when(pred, arg))), lit(0.0))
          // long 0/1: VBool is numeric to the interpreter (asDouble = 1/0),
          // so every numeric consumption of a test var agrees
          case "test" => (count(when(pred, arg)) > 0).cast("long")
          case _ => return None // `row` needs the person row index
        }
        vars(name) = c
      case _ => return None
    }
    // `session_count` rides the RETURN as an implicit aggregated var
    // (the interpreter's expression eval serves it — its `.is` valueAt
    // does NOT, so PropTests on it still decline via compileExpr)
    def retRefsSessionCount(e: Expr): Boolean = e match {
      case VarRef("session_count") => true
      case BinOp(_, l, r) => retRefsSessionCount(l) || retRefsSessionCount(r)
      case UnOp(_, x) => retRefsSessionCount(x)
      case Call(_, as) => as.exists(retRefsSessionCount)
      case _ => false
    }
    if (retRefsSessionCount(retExpr))
      vars.getOrElseUpdate("session_count",
        coalesce(max(col("session")), lit(0L)))
    if (vars.isEmpty) return None
    // the return expr may only reference the declared vars (+ now/literals)
    def retOk(e: Expr): Boolean = e match {
      case Lit(VNone) => false
      case Lit(_) => true
      case VarRef("now") | PropRef("now") => true
      case VarRef(n) => vars.contains(n)
      case PropRef(n) => vars.contains(n)
      case BinOp(_, l, r) => retOk(l) && retOk(r)
      case UnOp(_, x) => retOk(x)
      case Call(_, as) => as.forall(retOk)
      case _ => false
    }
    if (!retOk(retExpr)) return None
    val agged = events.groupBy(col("id"))
      .agg(vars.head._2.as(s"__v_${vars.head._1}"),
        vars.tail.map { case (n, c) => c.as(s"__v_$n") }.toSeq: _*)
    val varMap: Map[String, Column] = vars.keys.map(n => n -> col(s"__v_$n")).toMap
    def compileRet(e: Expr): Option[Column] = e match {
      case VarRef(n) if varMap.contains(n) => Some(varMap(n))
      case PropRef(n) if varMap.contains(n) => Some(varMap(n))
      case BinOp(op, l, r) =>
        for { lc <- compileRet(l); rc <- compileRet(r); c <- binop(op, lc, rc) } yield c
      case UnOp("!", x) => compileRet(x).map(!_)
      case UnOp("-", x) => compileRet(x).map(c => -c)
      case Call(name, as) => traverse(as.map(compileRet)).flatMap(marshal(name, _))
      case other => compileExpr(other, now)
    }
    // interpreter person ids surface as strings (the id's string form)
    compileRet(retExpr).map(rc =>
      agged.select(col("id").cast("string").as("id"),
        rc.cast("double").as("value")))
  }

  /** Compile a multi-`@segment` script to relational membership when every
    * definition is declarative: `if <person-pred> return(true) [else
    * return(false)]` or `return(<person-pred>)`, where the predicate is a
    * boolean combination of ever/never tests and comparisons over inline
    * aggregates. One groupBy(id) computes every segment's membership column
    * (Catalyst reuses the aggregation exchange across the per-segment
    * branches); the refresh loop then scales as one scan + one shuffle
    * instead of per-person interpretation. Top-level frames anchor at `now`
    * (src/queryinterpreter.cpp cursor-invalid anchor), so bounds are
    * constants. Anything else — nested each_row (funnel segments), vars,
    * non-constant anchors — declines to the interpreter. */
  /** Cheap shape probe: would [[compileSegments]] accept this definition?
    * Translates the AST to (discarded) Columns — no DataFrame plan is
    * built, so callers can partition a script's definitions per-def
    * without paying a full aggregate-plan construction per probe. */
  def segmentCompilable(d: SegmentDef, now: Long): Boolean =
    segmentMember(d.code, now).isDefined

  def compileSegments(defs: Seq[SegmentDef], events: DataFrame,
                      now: Long): Option[DataFrame] = {
    if (defs.isEmpty) return None
    val members = defs.map(d => segmentMember(d.code, now).getOrElse(return None))
    val agged = events.groupBy(col("id"))
      .agg(members.head.as("__m_0"),
        members.tail.zipWithIndex.map { case (m, i) => m.as(s"__m_${i + 1}") }: _*)
    Some(defs.zipWithIndex.map { case (d, i) =>
      agged.where(col(s"__m_$i"))
        .select(lit(d.name).as("segment"), col("id").cast("string").as("id"))
    }.reduce(_ unionByName _))
  }

  /** Probe: does [[compileSegmentChain]] accept this definition? Pure AST +
    * Column-translation check, no DataFrame plan built. */
  def segmentChainCompilable(d: SegmentDef, now: Long): Boolean =
    segChainPlanned(d.code, now).isDefined

  /** Compile a funnel-shaped segment — a `.continue().next()` chain whose
    * innermost body is `return(true)` (optionally under else-less `if`s) —
    * to a window-exists plan: membership = some row is VISITED at the
    * innermost level and satisfies the return guards. The interpreter
    * stops the whole script at the first `return`, so only the constant
    * `return(true)` compiles (scanning continues while the `if` guard is
    * false, which is exactly exists-semantics); `return(<expr>)` with a
    * non-constant value would report the FIRST visited row's value and
    * declines. The cohort funnel segments of the reference README
    * (README.md:244-316) all take this shape. */
  def compileSegmentChain(d: SegmentDef, events: DataFrame,
                          now: Long): Option[DataFrame] =
    segChainPlanned(d.code, now).map { case (levels, ret) =>
      val exprs = levels.map(_.where) ++ levels.flatMap(_.guard) :+ ret
      val pts = personTestColumns(exprs, now).get
      val base = pts.zipWithIndex.foldLeft(events) {
        case (df, ((_, winCol, _), i)) => df.withColumn(s"__pt$i", winCol)
      }
      val real: Map[PropTest, Column] = pts.zipWithIndex.map {
        case ((pt, _, mk), i) => pt -> mk(col(s"__pt$i"), Map.empty)
      }.toMap
      val (df, eligible, levelPreds) = chainWitnesses(base, levels, now, real)
      val memberRow = levelPreds.last && eligible.last &&
        compileExpr(ret, now, real).get
      df.groupBy(col("id"))
        .agg(max(when(memberRow, 1)).as("__m"))
        .where(col("__m") === 1)
        .select(lit(d.name).as("segment"), col("id").cast("string").as("id"))
    }

  /** The validated (levels, membership-condition) decomposition of a
    * funnel-segment body, or None. */
  private def segChainPlanned(code: Seq[Stmt], now: Long)
      : Option[(Seq[ChainLevel], Expr)] = {
    if (Interpreter.referencesSession(Program(Nil, code))) return None
    extractSegChain(code, now).filter { case (levels, ret) =>
      val exprs = levels.map(_.where) ++ levels.flatMap(_.guard) :+ ret
      personTestColumns(exprs, now) match {
        case Some(pts) =>
          val ph = pts.map { case (pt, _, _) => pt -> (lit(true): Column) }.toMap
          exprs.forall(e => compileExpr(e, now, ph).isDefined)
        case None => false
      }
    }
  }

  /** Decompose `each_row … [each_row.continue().next() …]* return(true)`
    * (each nest optionally under else-less `if`s; optional trailing
    * `return(false)` fall-through at top level). */
  private def extractSegChain(code: Seq[Stmt], now: Long)
      : Option[(Seq[ChainLevel], Expr)] = {
    def levelsOf(er: EachRow, limitN: Option[Long], spanMs: Option[Long],
                 guard: Option[Expr], reverse: Boolean,
                 absBounds: Option[(TopB, TopB)]): Option[(Seq[ChainLevel], Expr)] = {
      def inner(body: Seq[Stmt], pred: Option[Expr])
          : Option[Either[(EachRow, Option[Expr]), Expr]] = body match {
        case Seq(n: EachRow) if isChainStep(n.mods) => Some(Left((n, pred)))
        case Seq(If(c, b, e)) if e.isEmpty =>
          val comb = pred.map(p => BinOp("&&", p, c): Expr).orElse(Some(c))
          inner(b, comb)
        case Seq(Return(Some(Lit(VBool(true))))) =>
          Some(Right(pred.getOrElse(Lit(VBool(true)))))
        case _ => None
      }
      def level = ChainLevel(er.where, Nil, limitN, spanMs, guard, reverse,
        absBounds = absBounds)
      inner(er.body, None).flatMap {
        case Right(ret) => Some((Seq(level), ret))
        case Left((n, g)) if n.mods.continueFrom =>
          for {
            (span, contra, abs) <- chainSpan(n.mods.frame, n.mods.reverse, now)
            if contra.isEmpty // segment steps stay cursor-aligned
            lim <- limitOf(n.mods, now)
            (rest, ret) <- levelsOf(n, lim, span, g, n.mods.reverse, abs)
          } yield (level +: rest, ret)
        case Left(_) => None // `.from(k)` steps: query chains only
      }
    }
    code match {
      case Seq(er: EachRow) if isTopShape(er.mods) =>
        levelsOf(er, None, None, None, reverse = false, absBounds = None)
      case Seq(er: EachRow, Return(Some(Lit(VBool(false)))))
          if isTopShape(er.mods) =>
        levelsOf(er, None, None, None, reverse = false, absBounds = None)
      case _ => None
    }
  }

  /** The membership aggregate-boolean for one segment body, or None. */
  private def segmentMember(code: Seq[Stmt], now: Long): Option[Column] = {
    def isRet(s: Stmt, v: Boolean): Boolean = s match {
      case Return(Some(Lit(VBool(b)))) => b == v
      case _ => false
    }
    code match {
      case Seq(If(cond, Seq(t), e)) if isRet(t, v = true) &&
          (e.isEmpty || (e.length == 1 && isRet(e.head, v = false))) =>
        translateBool(cond, now)
      case Seq(Return(Some(expr))) => translateBool(expr, now)
      case _ => None
    }
  }

  /** Constant frame bounds at top level (cursor invalid → anchor = now). */
  private[osl] def constBounds(frame: Option[Frame], now: Long): Option[(Long, Long)] = {
    def c(e: Expr): Option[Long] = e match {
      case VarRef("now") | PropRef("now") => Some(now)
      case Lit(VInt(i)) => Some(i)
      case Lit(VDbl(d)) => Some(d.toLong)
      case Lit(VStr(s)) =>
        try Some(java.time.OffsetDateTime.parse(s).toInstant.toEpochMilli)
        catch { case _: Throwable =>
          try Some(java.time.Instant.parse(s).toEpochMilli)
          catch { case _: Throwable => None } }
      case _ => None
    }
    def span(e: Expr): Option[Long] = e match {
      case Lit(VInt(i)) => Some(i)
      case Lit(VDbl(d)) => Some(d.toLong)
      case _ => None
    }
    frame match {
      case None => Some((Long.MinValue, Long.MaxValue))
      case Some(Within(s, a)) => for (sv <- span(s); av <- c(a)) yield (av - sv, av + sv)
      case Some(LookBack(s, a)) =>
        for (sv <- span(s); av <- a.map(c).getOrElse(Some(now)))
          yield (if (sv == Long.MaxValue) Long.MinValue else av - sv, av)
      case Some(LookAhead(s, a)) =>
        for (sv <- span(s); av <- a.map(c).getOrElse(Some(now)))
          yield (av, if (sv == Long.MaxValue) Long.MaxValue else av + sv)
      case Some(DateRange(s, e)) => for (lo <- c(s); hi <- c(e)) yield (lo, hi)
    }
  }

  /** True when the expression references no row column or script var —
    * only such operands mean the same thing per scanned row and at the
    * cursor-invalid segment top level (where the interpreter evaluates a
    * bare name to nil; a compiled per-scanned-row compare would silently
    * diverge — caught by SegmentOperandSpec). */
  private def rowFree(e: Expr): Boolean = e match {
    case Lit(_) => true
    case VarRef("now") | PropRef("now") => true
    case VarRef(_) | PropRef(_) => false
    case ListLit(xs) => xs.forall(rowFree)
    case SetLit(xs)  => xs.forall(rowFree)
    case DictLit(ps) => ps.forall { case (k, v) => rowFree(k) && rowFree(v) }
    case BinOp(_, l, r) => rowFree(l) && rowFree(r)
    case UnOp(_, x)     => rowFree(x)
    case Call(_, as)    => as.forall(rowFree)
    case _ => false
  }

  /** Boolean person-predicate → one aggregate Column. */
  private def translateBool(e: Expr, now: Long): Option[Column] = e match {
    // `.next()` is accepted as a no-op: at segment top level the cursor is
    // invalid, so the interpreter's scan start (cursor+1) collapses to 0 —
    // the same full-history scan (Interpreter.evalPropTest:481).
    case PropTest(prop, kind, cmp, frame, _) if kind == "ever" || kind == "never" =>
      for {
        _ <- if (rowFree(cmp.operand)) Some(()) else None
        rowPred <- compileCmp(col(prop), cmp, now)
        found <- existsAgg(rowPred, frame, now)
      } yield if (kind == "ever") found else !found
    case BinOp("&&", l, r) =>
      for (lc <- translateBool(l, now); rc <- translateBool(r, now)) yield lc && rc
    case BinOp("||", l, r) =>
      for (lc <- translateBool(l, now); rc <- translateBool(r, now)) yield lc || rc
    case UnOp("!", x) => translateBool(x, now).map(!_)
    case BinOp(op, l, r) if Set("==", "!=", ">", ">=", "<", "<=")(op) =>
      for (lc <- translateVal(l, now); rc <- translateVal(r, now); c <- binop(op, lc, rc)) yield c
    case Lit(VBool(b)) => Some(lit(b))
    case _ => None
  }

  /** `exists row: rowPred && stamp in frame` as ONE aggregate Column
    * (segment context: cursor invalid, anchors default to `now`).
    * Constant bounds fold into the row predicate. Person-dependent anchors
    * (`first_stamp`/`last_stamp`, Interpreter builtins :415-416) can't
    * appear as per-row bounds inside the same aggregation — but after
    * dropping vacuous sides (every stamp is >= min(stamp) and <= max(stamp))
    * each such frame is one-sided, and a one-sided existence test is an
    * aggregate comparison:
    *   exists pred-row with stamp >= L  <=>  max(stamp | pred) >= L
    *   exists pred-row with stamp <= U  <=>  min(stamp | pred) <= U
    * with L/U built from min/max(stamp) aggregates of the same groupBy.
    * Frames with person-dependent bounds on BOTH sides decline (None). */
  private def existsAgg(rowPred: Column, frame: Option[Frame],
                        now: Long): Option[Column] = {
    sealed trait B
    case class Cst(v: Long) extends B        // constant epoch ms
    case class PMin(d: Long) extends B       // min(stamp) + d
    case class PMax(d: Long) extends B       // max(stamp) + d
    case object Inf extends B                // unbounded on that side

    def end(e: Expr): Option[B] = e match {
      case VarRef("now") | PropRef("now") => Some(Cst(now))
      case Lit(VInt(i)) => Some(Cst(i))
      case Lit(VDbl(d)) => Some(Cst(d.toLong))
      case Lit(VStr(s)) => // ISO literals, like constBounds
        try Some(Cst(java.time.OffsetDateTime.parse(s).toInstant.toEpochMilli))
        catch { case _: Throwable =>
          try Some(Cst(java.time.Instant.parse(s).toEpochMilli))
          catch { case _: Throwable => None } }
      case VarRef("last_stamp") | PropRef("last_stamp") => Some(PMax(0))
      case VarRef("first_stamp") | PropRef("first_stamp") => Some(PMin(0))
      case _ => None
    }
    def span(e: Expr): Option[Long] = e match {
      case Lit(VInt(i)) => Some(i)
      case Lit(VDbl(d)) => Some(d.toLong)
      case _ => None
    }
    def shift(b: B, s: Long): B = b match {
      case _ if s == Long.MaxValue || s == Long.MinValue => Inf
      case Cst(v) => Cst(v + s)
      case PMin(d) => PMin(d + s)
      case PMax(d) => PMax(d + s)
      case Inf => Inf
    }
    val bounds: Option[(B, B)] = frame match {
      case None => Some((Inf, Inf))
      case Some(Within(s, a)) =>
        for (sv <- span(s); av <- end(a)) yield (shift(av, -sv), shift(av, sv))
      case Some(LookBack(s, a)) =>
        for (sv <- span(s); av <- a.map(end).getOrElse(Some(Cst(now))))
          yield (shift(av, -sv), av)
      case Some(LookAhead(s, a)) =>
        for (sv <- span(s); av <- a.map(end).getOrElse(Some(Cst(now))))
          yield (av, shift(av, sv))
      case Some(DateRange(s, e2)) => for (lo <- end(s); hi <- end(e2)) yield (lo, hi)
    }
    bounds.flatMap { case (lo0, hi0) =>
      // vacuous person bounds: stamp >= min+d (d<=0) / <= max+d (d>=0)
      val lo = lo0 match { case PMin(d) if d <= 0 => Inf; case b => b }
      val hi = hi0 match { case PMax(d) if d >= 0 => Inf; case b => b }
      // constant bounds fold into the row predicate (inclusive, like
      // Interpreter.frameBounds)
      val pred = Seq(
        lo match { case Cst(v) => Some(col("stamp") >= v); case _ => None },
        hi match { case Cst(v) => Some(col("stamp") <= v); case _ => None })
        .flatten.foldLeft(rowPred)(_ && _)
      def pcol(b: B): Column = b match {
        case PMin(d) => min(col("stamp")) + lit(d)
        case PMax(d) => max(col("stamp")) + lit(d)
        case _ => lit(0L)
      }
      (lo, hi) match {
        case (Cst(_) | Inf, Cst(_) | Inf) =>
          Some(coalesce(max(when(pred, 1)), lit(0)) === 1)
        case (pl @ (PMin(_) | PMax(_)), Cst(_) | Inf) =>
          Some(coalesce(max(when(pred, col("stamp"))) >= pcol(pl), lit(false)))
        case (Cst(_) | Inf, pu @ (PMin(_) | PMax(_))) =>
          Some(coalesce(min(when(pred, col("stamp"))) <= pcol(pu), lit(false)))
        case _ => None // person-dependent on both sides: not one aggregate
      }
    }
  }

  /** Numeric sub-expressions over inline aggregates (constant-frame,
    * row-pure, never-nil kinds only). */
  private def translateVal(e: Expr, now: Long): Option[Column] = e match {
    case ia: InlineAgg if !ia.reverse =>
      for {
        (lo, hi) <- constBounds(ia.frame, now)
        wherePred <- compileExpr(ia.where, now)
        argC <- ia.arg.map(a => compileExpr(a, now)).getOrElse(Some(lit(1L)))
      } yield {
        val pred =
          if (lo == Long.MinValue && hi == Long.MaxValue) wherePred
          else wherePred && col("stamp").between(lo, hi)
        val fixed = when(pred, argC.cast(org.apache.spark.sql.types.DecimalType(28, 4)))
        ia.kind match {
          case "sum" => coalesce(sum(fixed).cast("double"), lit(0.0))
          case "count" => count(when(pred, argC)).cast("double")
          case "dcount" => countDistinct(when(pred, argC)).cast("double")
          case "test" => (count(when(pred, argC)) > 0).cast("double")
          case _ => return None // min/max/avg are nil when empty: interpreter compare semantics
        }
      }
    case Lit(VInt(i)) => Some(lit(i.toDouble))
    case Lit(VDbl(d)) => Some(lit(d))
    case VarRef("now") | PropRef("now") => Some(lit(now.toDouble))
    case BinOp(op, l, r) if Set("+", "-", "*", "/")(op) =>
      for (lc <- translateVal(l, now); rc <- translateVal(r, now); c <- binop(op, lc, rc)) yield c
    case UnOp("-", x) => translateVal(x, now).map(c => -c)
    case _ => None
  }

  /** A row-pure WEAKENING of an each_row `where`: the conjunction of those
    * top-level conjuncts that are positive row tests compilable to Columns
    * (dropping frames, ever/never, vars — each drop widens the match set,
    * so `persons with ≥1 row matching the weakening` is a superset of
    * `persons whose loop body ever runs`). Used by the Tier B index
    * pre-filter (SURVEY §4.1 — the reference answers this from its bitmap
    * index, src/oloop_query.cpp). None when nothing usable survives. */
  def rowPredicateWeakening(where: Expr, rowCols: Set[String],
                            now: Long): Option[Column] = {
    def conjuncts(e: Expr): Seq[Expr] = e match {
      case BinOp("&&", l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def pure(e: Expr): Boolean = e match {
      case Lit(_) => true
      case VarRef("now") | PropRef("now") => true
      case VarRef(n) => rowCols(n)
      case PropRef(n) => rowCols(n)
      case ListLit(xs) => xs.forall(pure)
      case BinOp(_, l, r) => pure(l) && pure(r)
      case UnOp(_, x) => pure(x)
      case Call(_, as) => as.forall(pure)
      case _ => false
    }
    val usable = conjuncts(where).filter {
      // only POSITIVE row tests: a never/is_not conjunct can hold for
      // persons with no matching rows at all
      case PropTest(p, "is", cmp, _, _) => rowCols(p) && pure(cmp.operand)
      case b @ BinOp(op, _, _)
        if Set("==", ">", ">=", "<", "<=", "in", "contains", "any")(op) => pure(b)
      case _ => false
    }
    val compiled = usable.flatMap(c => compileExpr(c, now))
    if (compiled.isEmpty) None else Some(compiled.reduce(_ && _))
  }

  private def isDefault(m: EachRowMods): Boolean =
    !m.reverse && isTopShape(m)

  /** Top-level loop shape Tier A covers: `.reverse()` is allowed — a
    * backward TOP-LEVEL scan visits the same row SET when unlimited (tally
    * dedup is per (row, node), nested witnesses depend only on the visited
    * set), and order-sensitive `value` selects compile too (their write
    * rank counts from the scan's end). */
  private def isTopShape(m: EachRowMods): Boolean =
    isTopLoop(m) && m.limit.isEmpty && m.from.isEmpty

  /** [[isTopShape]] relaxed to admit `.limit`/`.from` (validated separately
    * by [[limitOf]]/[[fromOf]] — literal values compile, dynamic ones run
    * Tier B; `.from` additionally requires a single-level loop). */
  private def isTopLoop(m: EachRowMods): Boolean =
    !m.continueFrom && !m.next && m.frame.isEmpty

  private def traverse[T](xs: Seq[Option[T]]): Option[Seq[T]] =
    if (xs.forall(_.isDefined)) Some(xs.map(_.get)) else None

  /** Resolve an expression's data type against `df`'s SCHEMA only: the
    * probe runs through a zero-row LocalRelation, so the analyzer touches a
    * 2-node plan instead of re-walking the caller's full tree (a chain
    * frame's type probe re-analyzed a ~50-operator plan PER tally group —
    * measured as part of the round-18 build-phase profile; guide §1). */
  private[osl] def probeType(df: org.apache.spark.sql.DataFrame, c: Column)
      : org.apache.spark.sql.types.DataType =
    df.sparkSession
      .createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        df.schema)
      .select(c).schema.head.dataType

  /** True iff `c` reads any of `names`: walks the column's expression for
    * attribute references, unresolved or resolved (a star reads every
    * column). The one dependency test for batching derived columns into a
    * single `withColumns` projection — [[ColBatch]] and the accumulator /
    * write-rank batch both use it. */
  private def readsAny(c: Column, names: scala.collection.Set[String]): Boolean = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRegex, UnresolvedStar}
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.classic.ColumnConversions.expression
    names.nonEmpty && expression(c).exists {
      case a: UnresolvedAttribute => a.nameParts.exists(names)
      case a: AttributeReference => names(a.name)
      case _: UnresolvedStar | _: UnresolvedRegex => true
      case _ => false
    }
  }

  /** Batches consecutive "add a derived column" steps into single
    * [[org.apache.spark.sql.Dataset.withColumns]] projections. Every
    * Dataset operation runs the FULL analyzer eagerly (DeduplicateRelations
    * alone was ~half the chain family's 140-260 ms build phase, once per
    * withColumn — round-18 BuildProfile), so N independent ladder columns
    * should cost ONE pass, not N. Semantics are preserved exactly: a column
    * whose expression references a still-pending name ([[readsAny]])
    * flushes the batch first, so each batch is
    * internally dependency-free and `withColumns` order-independence holds;
    * re-adding a pending name flushes too (replacement must see the prior
    * projection). Reading [[df]] flushes. The analyzer extracts the batch's
    * window expressions into per-spec Window nodes exactly as the optimizer's
    * CollapseWindow would have merged the sequential form, so the optimized
    * plan is unchanged (verified against plans/r18 dumps). */
  private final class ColBatch(df0: org.apache.spark.sql.DataFrame) {
    private var base = df0
    private val pending =
      scala.collection.mutable.LinkedHashMap.empty[String, Column]
    private def flush(): Unit =
      if (pending.nonEmpty) {
        base = base.withColumns(pending.toMap)
        pending.clear()
      }
    /** Flushed + pending column names (the `df.columns.contains` analogue). */
    def columns: Set[String] = base.columns.toSet ++ pending.keySet
    def add(name: String, c: Column): Unit = {
      if (pending.contains(name) || readsAny(c, pending.keySet)) flush()
      pending(name) = c
    }
    /** The materialized frame; flushes any pending batch first. */
    def df: org.apache.spark.sql.DataFrame = { flush(); base }
  }

  /** Canonical group-key string, matching Interpreter.canonKey: integral
    * doubles render without a decimal point. The rewrite applies only to
    * NUMERIC-typed keys — Interpreter.canonKey rewrites VDbl only, so string
    * keys ('007', ' 7', '1e3') must pass through verbatim in both tiers. */
  private def canonKey(df: org.apache.spark.sql.DataFrame, c: Column): Column =
    canonPure(c, probeType(df, c)
      .isInstanceOf[org.apache.spark.sql.types.NumericType])

  /** The type-independent half of [[canonKey]]: callers that already know
    * whether the key is numeric (e.g. a lambda-bound spawn value, which
    * cannot be schema-probed) canonicalize without a DataFrame. */
  private def canonPure(c: Column, numeric: Boolean): Column =
    if (!numeric) c.cast("string")
    else {
      val asD = c.cast("double")
      when(c.isNull, lit(null).cast("string"))
        .when(asD === floor(asD) && abs(asD) < 1e15,
          asD.cast("long").cast("string"))
        .otherwise(c.cast("string"))
    }

  private def compileAgg(s: SelectCol): Option[(String, Column)] = s.agg match {
    case "count" if s.prop == "id" && s.withKey.isEmpty =>
      Some(s.alias -> countDistinct(col("id")))
    case "count" if s.prop == "id" =>
      // `with` overrides the distinct value, but the dedup cache resets per
      // CUSTOMER (queryinterpreter.cpp:96, 223-226): the count is distinct
      // (person, key) pairs, not distinct key values across persons
      Some(s.alias -> countDistinct(col("id"), col(s.withKey.get)))
    case "count" if s.prop == "session" && s.withKey.isEmpty =>
      // `count session` = dist_count_person mode (queryparserosl.h:1092-1100)
      // with the same per-customer dedup scope
      Some(s.alias -> countDistinct(col("id"), col("session")))
    case "count" if s.withKey.isEmpty =>
      // non-id count: one unit per matching row per node (row-distinct key)
      Some(s.alias -> count(col(s.prop)))
    case "sum" => Some(s.alias -> graft.functions.AggFns.dsum(col(s.prop).cast("double")))
    case "min" => Some(s.alias -> min(col(s.prop).cast("double")))
    case "max" => Some(s.alias -> max(col(s.prop).cast("double")))
    case "avg" => Some(s.alias -> graft.functions.AggFns.davg(col(s.prop).cast("double")))
    case "var" if s.withKey.isEmpty =>
      // the dedup key (node, var value, row) reduces to one count per
      // deduped row per node (queryinterpreter.cpp:242-244, 306-311):
      // either the variable is never assigned (always nil), or compile()'s
      // write-only + leading-assignment + no-`.from` guard proves its
      // value is constant per row visit and visits never repeat a row
      Some(s.alias -> count(lit(1)))
    case _ => None // remaining with-key variants -> Tier B
  }

  /** `value` select: last write wins per node, merged across persons by the
    * write-sequence counter then the value itself (OslEngine merge
    * semantics, src/result.cpp:347-351 made deterministic). For one
    * unconditional tally the counter order per node equals the per-person
    * rank among non-null writing rows (`__vq_j`), so the merge is
    * max(struct(rank, value)). Text properties carry the raw string;
    * numeric ones the ×10,000 fixed point (= Interpreter.toFixed). */
  private def valueAgg(s: SelectCol, j: Int, events: DataFrame): Column = {
    val q = col(s"__vq_$j")
    val isText = events.schema.fields
      .find(_.name == s.prop).exists(_.dataType ==
        org.apache.spark.sql.types.StringType)
    if (isText)
      max(when(col(s.prop).isNotNull, struct(q.as("q"), col(s.prop).as("v"))))
        .getField("v")
    else {
      val fixedL = (col(s.prop).cast(org.apache.spark.sql.types.DecimalType(28, 4))
        * 10000).cast("long")
      max(when(col(s.prop).isNotNull, struct(q.as("q"), fixedL.as("l"))))
        .getField("l") / 10000.0
    }
  }

  /** Compile the supported expression subset; None = not Tier-A-able.
    * `person` maps the person-constant ever/never tests (already
    * materialized as window-exists columns) to their boolean columns. */
  /** `binds` resolves names to caller-supplied Columns BEFORE the default
    * `col(n)` — the hook that lets chain-accumulator reads compile inside a
    * higher-order `transform` lambda (the name binds to the lambda
    * variable's struct field, not to a frame column). */
  def compileExpr(e: Expr, now: Long,
                  person: Map[PropTest, Column] = Map.empty,
                  binds: Map[String, Column] = Map.empty): Option[Column] = e match {
    case pt: PropTest if person.contains(pt) => Some(person(pt))
    case Lit(VInt(i)) => Some(lit(i))
    case Lit(VDbl(d)) => Some(lit(d))
    case Lit(VStr(s)) => Some(lit(s))
    case Lit(VBool(b)) => Some(lit(b))
    case Lit(VNone) => Some(lit(null))
    case VarRef("now") | PropRef("now") => Some(lit(now))
    case VarRef(n) if binds.contains(n)  => Some(binds(n))
    case PropRef(n) if binds.contains(n) => Some(binds(n))
    case VarRef("stamp") | PropRef("stamp") => Some(col("stamp"))
    case VarRef("event_time") => Some(col("stamp"))
    case VarRef(n) => Some(col(n)) // row property (validated by analyzer)
    case PropRef(n) => Some(col(n))
    case ListLit(items) => traverse(items.map(compileExpr(_, now, person, binds))).map(array(_: _*))

    case UnOp("!", x) => compileExpr(x, now, person, binds).map(!_)
    case UnOp("-", x) => compileExpr(x, now, person, binds).map(c => -c)

    case BinOp(op, l, r) =>
      for { lc <- compileExpr(l, now, person, binds); rc <- compileExpr(r, now, person, binds); c <- binop(op, lc, rc) } yield c

    case PropTest(prop, kind, cmp, None, false) if kind == "is" || kind == "is_not" =>
      // the interpreter's `.is` valueAt resolves "session"/"stamp" and
      // row COLUMNS only — `session_count.is(...)` reads a MISSING prop
      // there (nil, Value.cmp string semantics), so it must NOT compare
      // the materialized session_count column (round 15): decline to
      // Tier B, which prices the nil compare exactly. Bare-expression
      // reads (`where session_count > 1`) stay compiled — the
      // interpreter's VarRef path does serve those.
      if (prop == "session_count") None
      else compileCmp(col(prop), cmp, now, binds).map(c => if (kind == "is") c else !c)

    case Call(name, args) =>
      traverse(args.map(compileExpr(_, now, person, binds))).flatMap(as => marshal(name, as))

    case _ => None // frames, ever/never, inline aggs, containers -> Tier B
  }

  private def binop(op: String, l: Column, r: Column): Option[Column] = op match {
    case "&&" => Some(l && r)
    case "||" => Some(l || r)
    case "+" => Some(l + r)
    case "-" => Some(l - r)
    case "*" => Some(l * r)
    case "/" => Some(l / r)
    case "==" => Some(l === r)
    case "!=" => Some(l =!= r)
    case ">" => Some(l > r)
    case ">=" => Some(l >= r)
    case "<" => Some(l < r)
    case "<=" => Some(l <= r)
    case "in" => Some(array_contains(r, l))
    case "contains" => Some(array_contains(l, r))
    case "any" => Some(arrays_overlap(l, r))
    case _ => None
  }

  private def compileCmp(prop: Column, cmp: Comparator, now: Long,
                         binds: Map[String, Column] = Map.empty): Option[Column] =
    compileExpr(cmp.operand, now, binds = binds).flatMap { o =>
      cmp.op match {
        case "==" => Some(prop === o)
        case "!=" => Some(prop =!= o)
        case ">" => Some(prop > o)
        case ">=" => Some(prop >= o)
        case "<" => Some(prop < o)
        case "<=" => Some(prop <= o)
        case "in" => Some(array_contains(o, prop))
        case "contains" => Some(array_contains(prop, o))
        case "any" => Some(arrays_overlap(prop, o))
        case "truthy" => Some(o =!= lit(0) && o.isNotNull)
        case _ => None
      }
    }

  private def marshal(name: String, as: Seq[Column]): Option[Column] = name match {
    // `int(x)`: the interpreter parses through double then truncates
    // toward zero, with 0 for nil/unparseable (Value.asLong) — the
    // double→long cast matches (truncation, NaN→0, ±Inf→Long.Min/Max)
    // and the coalesce supplies the nil/unparseable 0. Long inputs
    // round-trip exactly below 2^53 (stamps ~1.7e12 and prop values are
    // far below). Known residue: Scala-specific string forms the SQL
    // cast rejects ("3.7f") read 0 here vs 3 interpreted — numeric
    // strings without suffixes are the compiled contract.
    case "int" if as.size == 1 =>
      Some(coalesce(as(0).cast("double").cast("long"), lit(0L)))
    case "bucket" if as.size == 2 => Some(TimeFns.bucket(as(0), as(1)))
    case "to_seconds" => Some(TimeFns.toSeconds(as(0)))
    case "to_minutes" => Some(TimeFns.toMinutes(as(0)))
    case "to_hours" => Some(TimeFns.toHours(as(0)))
    case "to_days" => Some(TimeFns.toDays(as(0)))
    case "to_weeks" => Some(TimeFns.toWeeks(as(0)))
    case "get_second" => Some(TimeFns.getSecond(as(0)))
    case "get_minute" => Some(TimeFns.getMinute(as(0)))
    case "get_hour" => Some(TimeFns.getHour(as(0)))
    case "get_month" => Some(TimeFns.getMonth(as(0)))
    case "get_quarter" => Some(TimeFns.getQuarter(as(0)))
    case "get_year" => Some(TimeFns.getYear(as(0)))
    case "get_day_of_week" => Some(TimeFns.getDayOfWeek(as(0)))
    case "get_day_of_month" => Some(TimeFns.getDayOfMonth(as(0)))
    case "get_day_of_year" => Some(TimeFns.getDayOfYear(as(0)))
    case "start_of_second" => Some(TimeFns.startOfSecond(as(0)))
    case "start_of_minute" => Some(TimeFns.startOfMinute(as(0)))
    case "start_of_hour" => Some(TimeFns.startOfHour(as(0)))
    case "start_of_day" | "date_day" => Some(TimeFns.startOfDay(as(0)))
    case "start_of_week" => Some(TimeFns.startOfWeek(as(0)))
    case "start_of_month" => Some(TimeFns.startOfMonth(as(0)))
    case "start_of_quarter" => Some(TimeFns.startOfQuarter(as(0)))
    case "start_of_year" => Some(TimeFns.startOfYear(as(0)))
    case _ => None
  }
}
