package graft

import org.apache.spark.sql.functions._

import graft.osl._

/** OSL engine semantics, mirroring the reference's documented behavior:
  * README.md:152-316 (event query + segment walkthroughs) and
  * test/test_osl_language.h-style language cases. */
class OslSpec extends SparkSpec {
  import spark.implicits._

  // 2024-01-01 is a Monday → get_day_of_week = 2 (Sunday=1 convention)
  private val Mon = 1704067200000L
  private val Tue = Mon + 86400000L
  private val H = 3600000L

  private def highstreet = Seq(
    // id, stamp, event, product_name, product_price, product_group
    ("alice", Mon + 1 * H, "purchase", "fly rod", 99.95, Seq("outdoor", "angling")),
    ("alice", Mon + 2 * H, "purchase", "gilded spoon", 27.99, Seq("outdoor")),
    ("bob", Mon + 3 * H, "purchase", "fly rod", 99.95, Seq("outdoor")),
    ("bob", Tue + 1 * H, "purchase", "hammer", 19.99, Seq("hardware"))
  ).toDF("id", "stamp", "event", "product_name", "product_price", "product_group")

  test("README event query: tally tree with distinct-person counts per node") {
    val script =
      """select
        |  count id
        |  count product_name as purchased
        |  sum product_price as total_spent
        |end
        |each_row where product_group.is(contains 'outdoor')
        |  << get_day_of_week(stamp), product_name
        |end
        |""".stripMargin
    val out = OslEngine.query(highstreet, script, now = Tue + 10 * H)
      .select("depth", "g1", "g2", "id", "purchased", "total_spent")
      .collect()
      .map(r => (r.getInt(0), r.getString(1), Option(r.getString(2)).getOrElse(""),
        r.getLong(3), r.getLong(4), math.round(r.getDouble(5) * 100) / 100.0))
      .toSet
    assert(out == Set(
      (1, "2", "", 2L, 3L, 227.89),          // Monday: both people, 3 rows
      (2, "2", "fly rod", 2L, 2L, 199.90),   // both bought a fly rod
      (2, "2", "gilded spoon", 1L, 1L, 27.99)))
  }

  test("reference docs/osl anatomy example: first color -> next differing colors") {
    // docs/osl/README.md:45-66 — store the first did_foo's color, then tally
    // the next (up to 3) did_foo rows whose color DIFFERS, grouped under the
    // first color. Assignment + nested var reference -> interpreter path.
    val data = Seq(
      ("u1", Mon + 1 * H, "did_foo", "red"),
      ("u1", Mon + 2 * H, "did_foo", "red"),   // same color: not a match
      ("u1", Mon + 3 * H, "did_foo", "blue"),
      ("u1", Mon + 4 * H, "did_foo", "green"),
      ("u1", Mon + 5 * H, "other", "pink"),    // wrong event
      ("u2", Mon + 1 * H, "did_foo", "blue"),
      ("u2", Mon + 2 * H, "did_foo", "blue")   // never differs -> no tallies
    ).toDF("id", "stamp", "event", "color_selected")
    val script =
      """select
        |  count id as customers
        |end
        |each_row.limit(1) where event.is(== 'did_foo')
        |  first_color = color_selected
        |  each_row.continue().next().limit(3) where event.is(== 'did_foo') && color_selected.is(!= first_color)
        |    << first_color, color_selected
        |  end
        |end
        |""".stripMargin
    val out = OslEngine.query(data, script, now = Tue)
      .select("depth", "g1", "g2", "customers")
      .collect()
      .map(r => (r.getInt(0), r.getString(1), Option(r.getString(2)).getOrElse(""),
        r.getLong(3)))
      .toSet
    assert(out == Set(
      (1, "red", "", 1L),
      (2, "red", "blue", 1L),
      (2, "red", "green", 1L)))
  }

  test("tally dedup: same row tallied twice counts once (non-all)") {
    val script =
      """select
        |  count id
        |  sum product_price as spent
        |end
        |each_row where event.is(== 'purchase')
        |  << 'a'
        |  << 'a'
        |end
        |""".stripMargin
    val one = Seq(("u1", Mon, "purchase", "x", 10.0, Seq("g")))
      .toDF("id", "stamp", "event", "product_name", "product_price", "product_group")
    val out = OslEngine.query(one, script, now = Tue).select("id", "spent")
      .as[(Long, Double)].head()
    assert(out == ((1L, 10.0)))
  }

  test("README segments: nested continue().next() funnel + ever()") {
    val script =
      """@segment grommet_then_panini
        |each_row where event.is(== 'cart_item') && product_name.is(== 'grommet')
        |  each_row.continue().next() where event.is(== 'cart_item') && product_name.is(== 'panini press')
        |    return(true)
        |  end
        |end
        |@segment has_outdoor
        |if product_group.ever(contains 'outdoor')
        |  return(true)
        |end
        |""".stripMargin
    val data = Seq(
      ("u1", Mon + 1 * H, "cart_item", "grommet", 1.0, Seq[String]()),
      ("u1", Mon + 2 * H, "cart_item", "panini press", 1.0, Seq[String]()),
      ("u2", Mon + 1 * H, "cart_item", "panini press", 1.0, Seq[String]()),
      ("u2", Mon + 2 * H, "cart_item", "grommet", 1.0, Seq[String]()),
      ("u3", Mon + 1 * H, "cart_item", "grommet", 1.0, Seq("outdoor"))
    ).toDF("id", "stamp", "event", "product_name", "product_price", "product_group")
    val m = OslEngine.segments(data, script, now = Tue)
      .as[(String, String)].collect().toSet
    assert(m == Set(("grommet_then_panini", "u1"), ("has_outdoor", "u3")))
  }

  test("each_row limit + reverse") {
    val script =
      """select
        |  sum product_price as spent
        |end
        |each_row.reverse().limit(1) where event.is(== 'purchase')
        |  << 'last'
        |end
        |""".stripMargin
    val data = Seq(
      ("u1", Mon + 1 * H, "purchase", "a", 1.0, Seq[String]()),
      ("u1", Mon + 2 * H, "purchase", "b", 2.0, Seq[String]()),
      ("u1", Mon + 3 * H, "purchase", "c", 5.0, Seq[String]())
    ).toDF("id", "stamp", "event", "product_name", "product_price", "product_group")
    val out = OslEngine.query(data, script, now = Tue).select("spent")
      .as[Double].head()
    assert(out == 5.0) // reverse: last purchase only
  }

  test("inline aggregations and histogram return") {
    val script =
      """total = sum(product_price) where event.is(== 'purchase')
        |n = count(product_price) where event.is(== 'purchase')
        |return(bucket(total, 50))
        |""".stripMargin
    val data = Seq(
      ("u1", Mon + 1 * H, "purchase", "a", 60.0, Seq[String]()),
      ("u1", Mon + 2 * H, "purchase", "b", 70.0, Seq[String]()), // total 130 -> bucket 100
      ("u2", Mon + 1 * H, "purchase", "c", 20.0, Seq[String]())  // total 20 -> bucket 0
    ).toDF("id", "stamp", "event", "product_name", "product_price", "product_group")
    val out = OslEngine.histogram(data, script, now = Tue)
      .as[(String, Double)].collect().toMap
    assert(out == Map("u1" -> 100.0, "u2" -> 0.0))
  }

  test("histogramForeach ≡ per-value injected histogram runs") {
    // the single-pass grouped foreach plan must agree with the reference's
    // semantics: bind each_value, run the script per customer, per value
    // (src/oloop_histogram.cpp:232-330 inner loop)
    val script =
      """n = count(id) where product_name == each_value
        |return(n)
        |""".stripMargin
    val values = Seq("fly rod", "gilded spoon", "hammer")
    val grouped = OslEngine.histogramForeach(highstreet, script, values, now = Tue)
      .as[(String, String, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    val looped = values.map { v =>
      v -> OslEngine.histogram(highstreet, s"each_value = '$v'\n" + script,
        now = Tue, forceTierB = true)
        .as[(String, Double)].collect().toSet
    }.toMap
    assert(grouped == looped)
    assert(grouped("fly rod") == Set(("alice", 1.0), ("bob", 1.0)))
    assert(grouped("hammer") == Set(("alice", 0.0), ("bob", 1.0)))
  }

  test("propWriteback matches customers whose id differs in type or nullability") {
    // long, non-nullable event ids; the stored totals seed the script
    val ev = Seq((1L, Mon, "purchase", 2.0), (1L, Mon + H, "purchase", 3.0), (2L, Mon, "view", 4.0))
      .toDF("id", "stamp", "event", "product_price")
    val script = "total = total + sum(product_price) where event.is(== 'purchase')"
    val customers = Seq(
      Seq(("1", 10.0), ("2", 20.0)).toDF("id", "total"), // string ids
      Seq((Option(1L), 10.0), (Option(2L), 20.0), (None, 30.0)).toDF("id", "total")) // a null id
    for (cu <- customers) {
      val out = OslEngine.propWriteback(ev, cu, script, now = Tue)
        .as[(Long, Double)].collect().toMap
      assert(out == Map(1L -> 15.0, 2L -> 20.0), cu.schema.toString)
    }
  }

  test("language: vars, containers, for/in, break, if/else") {
    val script =
      """total = 0
        |items = [1, 2, 3, 4]
        |for x in items
        |  if x == 3
        |    break
        |  end
        |  total = total + x
        |end
        |d = {'a': 10, 'b': 20}
        |if 'a' in d
        |  total = total + d['a']
        |else
        |  total = 0
        |end
        |return(total)
        |""".stripMargin
    val data = Seq(("u1", Mon, "e", "x", 1.0, Seq[String]()))
      .toDF("id", "stamp", "event", "product_name", "product_price", "product_group")
    val out = OslEngine.histogram(data, script, now = Tue).as[(String, Double)].head()
    assert(out == (("u1", 13.0))) // 1+2 then +10
  }

  test("time marshals and builtins") {
    val script =
      """span_days = to_days(last_stamp - first_stamp)
        |return(span_days + row_count)
        |""".stripMargin
    val data = Seq(
      ("u1", Mon, "e", "x", 1.0, Seq[String]()),
      ("u1", Mon + 3 * 86400000L, "e", "y", 1.0, Seq[String]())
    ).toDF("id", "stamp", "event", "product_name", "product_price", "product_group")
    val out = OslEngine.histogram(data, script, now = Tue).as[(String, Double)].head()
    assert(out == (("u1", 5.0))) // 3 days + 2 rows
  }

  test("sessions: session property and session_count") {
    val script = """return(session_count)"""
    val data = Seq(
      ("u1", Mon, "e", "x", 1.0, Seq[String]()),
      ("u1", Mon + 10 * 60000L, "e", "y", 1.0, Seq[String]()),
      ("u1", Mon + 10 * H, "e", "z", 1.0, Seq[String]())
    ).toDF("id", "stamp", "event", "product_name", "product_price", "product_group")
    val out = OslEngine.histogram(data, script, now = Tue).as[(String, Double)].head()
    assert(out == (("u1", 2.0)))
    // round 15: the histogram route COMPILES `return(session_count)`
    // (implicit max(session) var) — both tiers agree
    assert(TierA.compileHistogram(Parser.program(script), data, Tue).isDefined)
    assert(OslEngine.histogram(data, script, now = Tue, forceTierB = true)
      .as[(String, Double)].head() == (("u1", 2.0)))

    // round 15: session/session_count references compile in Tier A on
    // single loops (sessionize windows + the max(session) person column;
    // a compiled session_count previously failed analysis — the column
    // was never materialized). Tier A ≡ Tier B on all three surfaces:
    // session tally keys, session_count tallies, session_count wheres.
    tierDiff(
      """select
        |  count id as customers
        |  count session as sessions
        |end
        |each_row where event.is(!= 'nope')
        |  << session, product_name
        |end
        |""".stripMargin, data)
    tierDiff(
      """select
        |  count id as customers
        |end
        |each_row where event.is(== 'e')
        |  << session_count
        |end
        |""".stripMargin, data)
    tierDiff(
      """select
        |  count id as customers
        |  count event as n_rows
        |end
        |each_row where session_count > 1
        |  << session, event
        |end
        |""".stripMargin, data)
    // `.is()` on session_count reads a MISSING prop in the interpreter
    // (valueAt resolves "session"/"stamp"/row columns only — nil,
    // Value.cmp string semantics: {<, <=, !=} hold, {>, >=, ==} fail).
    // Tier A declines; both tiers agree on the nil outcome.
    locally {
      val script =
        """select
          |  count id as customers
          |end
          |each_row where session_count.is(> 1)
          |  << session, event
          |end
          |""".stripMargin
      assert(TierA.compile(Parser.program(script), data, Tue, 1800000L).isEmpty,
        "expected Tier B for session_count.is")
      val a = OslEngine.query(data, script, now = Tue)
      val b = OslEngine.query(data, script, now = Tue, forceTierB = true)
      assert(a.collect().isEmpty && b.collect().isEmpty) // nil `>` fails
    }
    locally { // nil `<` HOLDS (Value.cmp string path) — rows survive
      val script =
        """select
          |  count id as customers
          |end
          |each_row where session_count.is(< 1)
          |  << event
          |end
          |""".stripMargin
      assert(TierA.compile(Parser.program(script), data, Tue, 1800000L).isEmpty)
      val b = OslEngine.query(data, script, now = Tue, forceTierB = true)
      assert(b.collect().nonEmpty)
      val a = OslEngine.query(data, script, now = Tue) // falls back to B
      assert(a.collect().toSet.map((r: org.apache.spark.sql.Row) => r.toString) ==
        b.collect().toSet.map((r: org.apache.spark.sql.Row) => r.toString))
    }
    // a MISSING prop in a compiled position no longer crashes the query:
    // the AnalysisException is a DECLINE (Tier B answers with the
    // reference's nil semantics)
    locally {
      val script =
        """select
          |  count id as customers
          |end
          |each_row where bogus_prop.is(< 1)
          |  << event
          |end
          |""".stripMargin
      val a = OslEngine.query(data, script, now = Tue)
      val b = OslEngine.query(data, script, now = Tue, forceTierB = true)
      assert(a.collect().nonEmpty && a.collect().length == b.collect().length)
    }
    // ...and on the SEGMENTS route: a def referencing a missing prop
    // re-routes EVERY compiled def to the interpreter (nil semantics),
    // instead of throwing out of OslEngine.segments
    locally {
      val segs =
        """@segment oops
          |if bogus_prop.ever(== 'x')
          |  return(true)
          |end
          |@segment everyone
          |if event.ever(== 'e')
          |  return(true)
          |end
          |""".stripMargin
      val m = OslEngine.segments(data, segs, now = Tue)
        .as[(String, String)].collect().toSet
      assert(m == Set(("everyone", "u1")))
    }
  }

  test("ever/never with look_back frame") {
    val script =
      """@segment recent_buyer
        |if event.within(2_hours, last_stamp).ever(== 'purchase')
        |  return(true)
        |end
        |""".stripMargin
    val data = Seq(
      ("u1", Mon + 1 * H, "view", "x", 1.0, Seq[String]()),
      ("u1", Mon + 9 * H, "purchase", "y", 1.0, Seq[String]()),
      ("u2", Mon + 1 * H, "purchase", "x", 1.0, Seq[String]()),
      ("u2", Mon + 9 * H, "view", "y", 1.0, Seq[String]())
    ).toDF("id", "stamp", "event", "product_name", "product_price", "product_group")
    val m = OslEngine.segments(data, script, now = Mon + 10 * H)
      .as[(String, String)].collect().toSet
    assert(m == Set(("recent_buyer", "u1"))) // u2's purchase is 9h before last_stamp
  }

  test("Tier A compiles the declarative shape and matches Tier B exactly") {
    val script =
      """select
        |  count id as customers
        |  count product_name as purchased
        |  sum product_price as total_spent
        |  min product_price as cheapest
        |  avg product_price as avg_price
        |end
        |each_row where product_group.is(contains 'outdoor') && product_price.is(> 20)
        |  << get_day_of_week(stamp), product_name
        |end
        |""".stripMargin
    // Tier A must actually engage (no flatMapGroups in the plan)
    val a = OslEngine.query(highstreet, script, now = Tue)
    assert(!a.queryExecution.executedPlan.toString.contains("MapGroups"))
    val b = OslEngine.query(highstreet, script, now = Tue, forceTierB = true)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("depth", "g1", "g2", "customers", "purchased", "total_spent", "cheapest", "avg_price")
      .collect()
      .map(r => (r.getInt(0), r.getString(1), Option(r.getString(2)),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))
      .toSet
    assert(canon(a) == canon(b))
    assert(canon(a).nonEmpty)
  }

  test("Tier A declines non-declarative scripts (nesting, frames, limit)") {
    // literal top-level limits compile (round 4); zero/dynamic ones decline
    val p1 = Parser.program(
      "each_row.limit(0) where event.is(== 'x')\n  << event\nend\n")
    assert(TierA.compile(p1, highstreet, Tue, 1800000L).isEmpty)
    val p1b = Parser.program(
      "each_row.limit(1) where event.is(== 'x')\n  << event\nend\n")
    assert(TierA.compile(p1b, highstreet, Tue, 1800000L).isDefined)
    // .next()-shifted ever depends on the cursor position -> Tier B;
    // unframed and framed (window-expressible) forms compile
    val p2 = Parser.program(
      "each_row where event.next().ever(== 'x')\n  << event\nend\n")
    assert(TierA.compile(p2, highstreet, Tue, 1800000L).isEmpty)
    val p3 = Parser.program(
      "each_row where event.ever(== 'x')\n  << event\nend\n")
    assert(TierA.compile(p3, highstreet, Tue, 1800000L).isDefined)
    val p4 = Parser.program(
      "each_row where event.within(2_hours, last_stamp).ever(== 'x')\n  << event\nend\n")
    assert(TierA.compile(p4, highstreet, Tue, 1800000L).isDefined)
  }

  test("Tier A write-only accumulations: compiled when unread, declined when read") {
    // the q_osl_var_tally idiom — init + leading accumulation + var select —
    // compiles (round 5): the variable is never read and dedup stays per-row
    val varTally =
      """select
        |  count id as customers
        |  var n as hits
        |end
        |n = 0
        |each_row where event.is(== 'purchase')
        |  n = n + 1
        |  << product_name
        |end
        |""".stripMargin
    assert(TierA.compile(Parser.program(varTally), highstreet, Tue, 1800000L).isDefined)
    tierDiff(varTally)
    // reading the accumulated value (tally group) compiles as a
    // running-count window over the visited rows (round 5)
    val read =
      """select
        |  count id as customers
        |end
        |n = 0
        |each_row where event.is(== 'purchase')
        |  n = n + 1
        |  << bucket(n, 2)
        |end
        |""".stripMargin
    assert(TierA.compile(Parser.program(read), highstreet, Tue, 1800000L).isDefined)
    tierDiff(read)
    // assignment AFTER a tally with a `var` select on the assigned name:
    // the dedup key changes between tallies -> Tier B (leading-only rule)
    val late = Parser.program(
      """select
        |  var n as hits
        |end
        |each_row where event.is(== 'purchase')
        |  << product_name
        |  n = n + 1
        |  << 'again', product_name
        |end
        |""".stripMargin)
    assert(TierA.compile(late, highstreet, Tue, 1800000L).isEmpty)
    // same late assignment WITHOUT a var select is inert -> compiles
    val lateNoVar =
      """select
        |  count id as customers
        |end
        |each_row where event.is(== 'purchase')
        |  << product_name
        |  n = n + 1
        |end
        |""".stripMargin
    assert(TierA.compile(Parser.program(lateNoVar), highstreet, Tue, 1800000L).isEmpty)
    // (body assignments after a tally stay Tier B even unread — flattenBody
    // only drops LEADING ones — but leading unread accumulation compiles)
    val leadNoVar =
      """select
        |  count id as customers
        |end
        |each_row where event.is(== 'purchase')
        |  n = n + 1
        |  << product_name
        |end
        |""".stripMargin
    assert(TierA.compile(Parser.program(leadNoVar), highstreet, Tue, 1800000L).isDefined)
    tierDiff(leadNoVar)
    // `.from` restart chain + var select on the assigned name -> Tier B
    // (row revisits at different accumulated values break the dedup proof)
    val fromVar = Parser.program(
      """select
        |  var n as hits
        |end
        |each_row where event.is(== 'cart_item')
        |  n = n + 1
        |  << 'outer', product_name
        |  each_row.from(0) where event.is(== 'cart_item')
        |    << 'inner', product_name
        |  end
        |end
        |""".stripMargin)
    assert(TierA.compile(fromVar, highstreet, Tue, 1800000L).isEmpty)
  }

  test("Tier A read accumulators: running-count window ≡ interpreter") {
    // richer history: several visited rows per person, interleaved noise
    val data = Seq(
      ("u1", Mon + 1 * H, "purchase", "a", 10.0, Seq("g")),
      ("u1", Mon + 2 * H, "view", "x", 0.0, Seq("g")),
      ("u1", Mon + 3 * H, "purchase", "b", 20.0, Seq("g")),
      ("u1", Mon + 4 * H, "purchase", "c", 30.0, Seq("g")),
      ("u1", Mon + 5 * H, "purchase", "d", 40.0, Seq("g")),
      ("u2", Mon + 1 * H, "purchase", "e", 15.0, Seq("g")),
      ("u2", Mon + 2 * H, "purchase", "f", 25.0, Seq("g")),
      ("u3", Mon + 6 * H, "view", "y", 0.0, Seq("g"))
    ).toDF("id", "stamp", "event", "product_name", "product_price", "product_group")
    // the purchase-index tally: group key IS the accumulated value
    val byIndex =
      """select
        |  count id as customers
        |end
        |n = 0
        |each_row where event.is(== 'purchase')
        |  n = n + 1
        |  << n, product_name
        |end
        |""".stripMargin
    tierDiff(byIndex, data)
    // explicit result pin (not just tier equivalence): visit indexes 1..4
    val pinned = OslEngine.query(data, byIndex, now = Tue)
      .where(col("depth") === 1).select("g1", "customers")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(pinned == Set(("1", 2L), ("2", 2L), ("3", 1L), ("4", 1L)))
    // read in an if-guard: "first two purchases" without .limit
    tierDiff(
      """select
        |  count id as customers
        |  sum product_price as spent
        |end
        |n = 0
        |each_row where event.is(== 'purchase')
        |  n = n + 1
        |  if n <= 2
        |    << 'early', product_name
        |  end
        |  << 'all'
        |end
        |""".stripMargin, data)
    // reverse top scan: indexes count from the history's end
    tierDiff(
      """select
        |  count id as customers
        |end
        |n = 0
        |each_row.reverse() where event.is(== 'purchase')
        |  n = n + 1
        |  << n, product_name
        |end
        |""".stripMargin, data)
    // interplay with .limit (visited set capped) and .from (start offset)
    tierDiff(
      """select
        |  count id as customers
        |end
        |n = 0
        |each_row.limit(3) where event.is(== 'purchase')
        |  n = n + 1
        |  << n
        |end
        |""".stripMargin, data)
    tierDiff(
      """select
        |  count id as customers
        |end
        |n = 0
        |each_row.from(1) where event.is(== 'purchase')
        |  n = n + 1
        |  << n, product_name
        |end
        |""".stripMargin, data)
    // custom init, decrement, and a second (constant, never-incremented) var
    tierDiff(
      """select
        |  count id as customers
        |end
        |n = 10
        |k = 25
        |each_row where event.is(== 'purchase')
        |  n = n - 2
        |  << n, bucket(product_price, k)
        |end
        |""".stripMargin, data)
    // accumulator read in an is-test comparator operand
    tierDiff(
      """select
        |  count id as customers
        |end
        |n = 0
        |each_row where event.is(== 'purchase')
        |  n = n + 1
        |  if product_price.is(> n)
        |    << 'pricier_than_index'
        |  end
        |end
        |""".stripMargin, data)
    // declines (correct via Tier B): read in the where (pre-increment),
    // read under ever, non-integer init, conditional increment
    def declines(script: String): Unit =
      assert(TierA.compile(Parser.program(script), data, Tue, 1800000L).isEmpty,
        s"expected Tier B for:\n$script")
    declines(
      """n = 0
        |each_row where event.is(== 'purchase') && product_price.is(> n)
        |  n = n + 1
        |  << product_name
        |end
        |""".stripMargin)
    declines(
      """n = 0
        |each_row where event.is(== 'purchase')
        |  n = n + 1
        |  if event.ever(== n)
        |    << 'x'
        |  end
        |end
        |""".stripMargin)
    declines(
      """n = 0.5
        |each_row where event.is(== 'purchase')
        |  n = n + 1
        |  << n
        |end
        |""".stripMargin)
  }

  test("Tier A guarded accumulators: conditional running sums ≡ interpreter") {
    val data = Seq(
      ("u1", Mon + 1 * H, "purchase", "a", 10.0, Seq("g")),
      ("u1", Mon + 2 * H, "view", "x", 0.0, Seq("g")),
      ("u1", Mon + 3 * H, "purchase", "b", 20.0, Seq("g")),
      ("u1", Mon + 4 * H, "purchase", "c", 30.0, Seq("g")),
      ("u2", Mon + 1 * H, "purchase", "e", 15.0, Seq("g")),
      ("u2", Mon + 2 * H, "view", "z", 0.0, Seq("g")),
      ("u3", Mon + 6 * H, "view", "y", 0.0, Seq("g"))
    ).toDF("id", "stamp", "event", "product_name", "product_price", "product_group")
    // round 7: an if-guarded increment leads the body — the purchases-so-far
    // counter keyed at EVERY visited row (the guard compiles to a
    // conditional running-sum term, not a visit count)
    tierDiff(
      """select
        |  count id as customers
        |end
        |n = 0
        |each_row where stamp.is(> 0)
        |  if event.is(== 'purchase')
        |    n = n + 1
        |  end
        |  << n, event
        |end
        |""".stripMargin, data)
    // mixed parts: unconditional visit count + guarded bonus on the SAME var
    tierDiff(
      """select
        |  count id as customers
        |end
        |n = 0
        |each_row where stamp.is(> 0)
        |  n = n + 1
        |  if product_price.is(> 12)
        |    n = n + 10
        |  end
        |  << n
        |end
        |""".stripMargin, data)
    // two accumulators, one guarded; both read in a tally if-condition's
    // comparator operands (the positions substAccums rewrites)
    tierDiff(
      """select
        |  count id as customers
        |end
        |rows = 0
        |buys = 0
        |each_row where stamp.is(> 0)
        |  rows = rows + 1
        |  if event.is(== 'purchase')
        |    buys = buys + 1
        |  end
        |  if product_price.is(>= buys) && product_price.is(< rows + 100)
        |    << 'cheap_vs_buys'
        |  end
        |end
        |""".stripMargin, data)
    // guard may hold an ever person-test (window-exists over the history)
    tierDiff(
      """select
        |  count id as customers
        |end
        |n = 0
        |each_row where event.is(== 'purchase')
        |  if event.ever(== 'view')
        |    n = n + 1
        |  end
        |  << n
        |end
        |""".stripMargin, data)
    // reverse scan composes: guarded visits accumulate from the end
    tierDiff(
      """select
        |  count id as customers
        |end
        |n = 0
        |each_row.reverse() where stamp.is(> 0)
        |  if event.is(== 'purchase')
        |    n = n + 1
        |  end
        |  << n
        |end
        |""".stripMargin, data)
    // else-branch increments: when(c, kT).otherwise(kE) — a falsy guard
    // takes the else, exactly the interpreter's branch choice
    tierDiff(
      """select
        |  count id as customers
        |end
        |n = 0
        |each_row where stamp.is(> 0)
        |  if event.is(== 'purchase')
        |    n = n + 1
        |  else
        |    n = n + 100
        |  end
        |  << n
        |end
        |""".stripMargin, data)
    def declines(script: String): Unit =
      assert(TierA.compile(Parser.program(script), data, Tue, 1800000L).isEmpty,
        s"expected Tier B for:\n$script")
    // a guard reading an accumulator observes a mid-visit partial sum
    declines(
      """n = 0
        |each_row where stamp.is(> 0)
        |  if n.is(< 2)
        |    n = n + 1
        |  end
        |  << n
        |end
        |""".stripMargin)
    // a non-increment assignment in the else branch stays interpreted
    declines(
      """n = 0
        |each_row where stamp.is(> 0)
        |  if event.is(== 'purchase')
        |    n = n + 1
        |  else
        |    n = 0
        |  end
        |  << n
        |end
        |""".stripMargin)
    // an if mixing an assignment with a tally is not a leading accumulation
    declines(
      """n = 0
        |each_row where stamp.is(> 0)
        |  if event.is(== 'purchase')
        |    n = n + 1
        |    << 'buy'
        |  end
        |  << n
        |end
        |""".stripMargin)
  }

  test("Tier A framed top-level loops: stamp bounds ≡ interpreter") {
    val data = Seq(
      ("u1", Mon + 1 * H, "purchase", "a", 10.0, Seq("g")),
      ("u1", Mon + 5 * H, "purchase", "b", 20.0, Seq("g")),
      ("u1", Mon + 30 * H, "purchase", "c", 30.0, Seq("g")),
      ("u1", Mon + 31 * H, "view", "x", 0.0, Seq("g")),
      ("u2", Mon + 2 * H, "purchase", "d", 15.0, Seq("g")),
      ("u2", Mon + 40 * H, "purchase", "e", 25.0, Seq("g")),
      ("u3", Mon + 50 * H, "view", "y", 0.0, Seq("g"))
    ).toDF("id", "stamp", "event", "product_name", "product_price", "product_group")
    // now-anchored trailing window — "events in the last 24 hours"
    tierDiff(
      """select
        |  count id as customers
        |end
        |each_row.look_back(24_hours, now) where event.is(== 'purchase')
        |  << product_name
        |end
        |""".stripMargin, data)
    // constant .range with ISO ends
    tierDiff(
      """select
        |  count id as customers
        |  sum product_price as spent
        |end
        |each_row.range('2024-01-01T00:00:00Z', '2024-01-02T06:00:00Z') where event.is(== 'purchase')
        |  << product_name
        |end
        |""".stripMargin, data)
    // anchor-less look_ahead: the person's first day of history
    tierDiff(
      """select
        |  count id as customers
        |end
        |each_row.look_ahead(24_hours) where event.is(== 'purchase')
        |  << product_name
        |end
        |""".stripMargin, data)
    // first_stamp-anchored within; and the degenerate anchor-less look_back
    // (only rows AT the first stamp qualify — honest compilation)
    tierDiff(
      """select
        |  count id as customers
        |end
        |each_row.within(6_hours, first_stamp) where event.is(== 'purchase')
        |  << product_name
        |end
        |""".stripMargin, data)
    tierDiff(
      """select
        |  count id as customers
        |end
        |each_row.look_back(12_hours) where event.is(== 'purchase')
        |  << product_name
        |end
        |""".stripMargin, data)
    // reverse top: anchor-less frames anchor at the LAST row
    tierDiff(
      """select
        |  count id as customers
        |end
        |each_row.reverse().look_back(24_hours) where event.is(== 'purchase')
        |  << product_name
        |end
        |""".stripMargin, data)
    // frame + limit + read accumulator compose on the same visited set
    tierDiff(
      """select
        |  count id as customers
        |end
        |n = 0
        |each_row.look_back(36_hours, now).limit(2) where event.is(== 'purchase')
        |  n = n + 1
        |  << n, product_name
        |end
        |""".stripMargin, data)
    // framed top over a funnel chain: only in-window signups spawn
    tierDiff(
      """select
        |  count id as customers
        |end
        |each_row.look_ahead(30_hours) where event.is(== 'purchase')
        |  << 'first_purchase'
        |  each_row.continue().next() where event.is(== 'purchase')
        |    << 'repeat'
        |  end
        |end
        |""".stripMargin, data)
    // dynamic anchor (row-dependent) declines to Tier B
    assert(TierA.compile(Parser.program(
      """each_row.within(2_hours, stamp) where event.is(== 'purchase')
        |  << product_name
        |end
        |""".stripMargin), data, Tue, 1800000L).isEmpty)
  }

  test("Tier A absolute-anchored chain-step frames ≡ interpreter") {
    val data = Seq(
      ("u1", Mon + 1 * H, "signup", "s", 0.0, Seq("g")),
      ("u1", Mon + 8 * H, "purchase", "a", 10.0, Seq("g")),
      ("u1", Mon + 26 * H, "purchase", "b", 20.0, Seq("g")),
      ("u2", Mon + 20 * H, "signup", "s", 0.0, Seq("g")),
      ("u2", Mon + 27 * H, "purchase", "c", 30.0, Seq("g")),
      ("u2", Mon + 44 * H, "purchase", "d", 40.0, Seq("g")),
      ("u3", Mon + 2 * H, "purchase", "e", 50.0, Seq("g"))
    ).toDF("id", "stamp", "event", "product_name", "product_price", "product_group")
    // ISO .range on a continue-step: only in-window purchases convert
    tierDiff(
      """select
        |  count id as customers
        |end
        |each_row where event.is(== 'signup')
        |  << 'signup'
        |  each_row.continue().next().range('2024-01-01T06:00:00Z', '2024-01-02T04:00:00Z') where event.is(== 'purchase')
        |    << 'in_window', product_name
        |  end
        |end
        |""".stripMargin, data)
    // now-anchored look_back on a step (Tue + 30h window reaches back)
    tierDiff(
      """select
        |  count id as customers
        |end
        |each_row where event.is(== 'signup')
        |  << 'signup'
        |  each_row.continue().next().look_back(30_hours, now) where event.is(== 'purchase')
        |    << 'recent', product_name
        |  end
        |end
        |""".stripMargin, data)
    // person-anchored within on a step (first day of each person's history)
    tierDiff(
      """select
        |  count id as customers
        |end
        |each_row where event.is(== 'signup')
        |  << 'signup'
        |  each_row.continue().next().within(24_hours, first_stamp) where event.is(== 'purchase')
        |    << 'first_day', product_name
        |  end
        |end
        |""".stripMargin, data)
    // absolute frame + .limit on the step: the cap counts in-window matches
    tierDiff(
      """select
        |  count id as customers
        |end
        |each_row where event.is(== 'signup')
        |  << 'signup'
        |  each_row.continue().next().look_back(48_hours, now).limit(1) where event.is(== 'purchase')
        |    << 'first_recent', product_name
        |  end
        |end
        |""".stripMargin, data)
    // from-step with an absolute frame + limit (newly compilable: the
    // bounds are spawn-independent, so the match sequence is fixed)
    tierDiff(
      """select
        |  count id as customers
        |end
        |each_row where event.is(== 'signup')
        |  << 'signup'
        |  each_row.from(0).range('2024-01-01T00:00:00Z', '2024-01-02T06:00:00Z').limit(2) where event.is(== 'purchase')
        |    << 'windowed', product_name
        |  end
        |end
        |""".stripMargin, data)
  }

  private def tierDiff(script: String,
                       data: org.apache.spark.sql.DataFrame = highstreet): Unit = {
    val p = Parser.program(script)
    assert(TierA.compile(p, data, Tue, 1800000L).isDefined, "expected Tier A to engage")
    val a = OslEngine.query(data, script, now = Tue)
    val b = OslEngine.query(data, script, now = Tue, forceTierB = true)
    val cols = a.columns
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect()
        .map(r => cols.map(c => Option(r.get(r.fieldIndex(c))).map {
          case d: Double => (math.round(d * 10000) / 10000.0).toString
          case o => o.toString
        }.orNull).toVector).toSet
    assert(canon(a) == canon(b), s"tier mismatch for:\n$script")
    assert(canon(a).nonEmpty)
  }

  test("Tier A ≡ Tier B: unframed ever/never person predicates") {
    tierDiff(
      """select
        |  count id as customers
        |  sum product_price as spent
        |end
        |each_row where product_name.ever(== 'fly rod') && event.is(== 'purchase')
        |  << get_day_of_week(stamp)
        |end
        |""".stripMargin)
    tierDiff(
      """each_row where product_name.never(== 'hammer')
        |  << event
        |end
        |""".stripMargin)
  }

  test("Tier A ≡ Tier B: count id with session (distinct-key override)") {
    val data = Seq(
      ("u1", Mon + 1 * H, "purchase", "a", 1.0, Seq[String]()),
      ("u1", Mon + 2 * H, "purchase", "b", 1.0, Seq[String]()), // same session
      ("u1", Mon + 9 * H, "purchase", "c", 1.0, Seq[String]()), // new session
      ("u2", Mon + 1 * H, "purchase", "d", 1.0, Seq[String]())
    ).toDF("id", "stamp", "event", "product_name", "product_price", "product_group")
    tierDiff(
      """select
        |  count id as customers
        |  count id with session as sessions
        |  count session as sessions2
        |end
        |each_row where event.is(== 'purchase')
        |  << event
        |end
        |""".stripMargin, data)
  }

  test("Tier A ≡ Tier B: framed ever/never (cursor, now and last_stamp anchors)") {
    val data = Seq(
      ("u1", Mon + 1 * H, "purchase", "a", 1.0, Seq[String]()),
      ("u1", Mon + 9 * H, "view", "b", 1.0, Seq[String]()),
      ("u2", Mon + 8 * H, "purchase", "c", 1.0, Seq[String]()),
      ("u2", Mon + 9 * H, "view", "d", 1.0, Seq[String]()),
      ("u3", Mon + 1 * H, "view", "e", 1.0, Seq[String]())
    ).toDF("id", "stamp", "event", "product_name", "product_price", "product_group")
    // person-constant anchor: purchase within 2h of the person's last event
    tierDiff(
      """each_row where event.within(2_hours, last_stamp).ever(== 'purchase')
        |  << event
        |end
        |""".stripMargin, data)
    // cursor-anchored look_back: rows preceded by a purchase within 2h
    tierDiff(
      """each_row where event.look_back(2_hours).ever(== 'purchase') && event.is(== 'view')
        |  << product_name
        |end
        |""".stripMargin, data)
    // cursor-anchored look_ahead never: rows NOT followed by a view in 2h
    tierDiff(
      """each_row where event.look_ahead(2_hours).never(== 'view')
        |  << event
        |end
        |""".stripMargin, data)
  }

  test("Tier A ≡ Tier B: top-level .limit(n), forward and reverse") {
    val data = Seq(
      ("u1", Mon + 1 * H, "purchase", "a", 10.0, Seq[String]()),
      ("u1", Mon + 2 * H, "view",     "b",  1.0, Seq[String]()),
      ("u1", Mon + 3 * H, "purchase", "c", 20.0, Seq[String]()),
      ("u1", Mon + 4 * H, "purchase", "d", 40.0, Seq[String]()),
      ("u2", Mon + 1 * H, "purchase", "e",  5.0, Seq[String]()),
      ("u3", Mon + 1 * H, "view",     "f",  1.0, Seq[String]())
    ).toDF("id", "stamp", "event", "product_name", "product_price", "product_group")
    // first 2 purchases per person: u1 -> {a, c}, u2 -> {e}
    tierDiff(
      """select
        |  count id as customers
        |  sum product_price as spent
        |end
        |each_row.limit(2) where event.is(== 'purchase')
        |  << product_name
        |end
        |""".stripMargin, data)
    // last 2 purchases per person: u1 -> {c, d}, u2 -> {e}
    tierDiff(
      """each_row.reverse().limit(2) where event.is(== 'purchase')
        |  << product_name
        |end
        |""".stripMargin, data)
    // chain under a limited top: only the first purchase spawns the nested
    // scan, so u1's view@2h is reachable but nothing after purchase@3h is
    tierDiff(
      """each_row.limit(1) where event.is(== 'purchase')
        |  each_row.continue().next() where event.is(== 'view')
        |    << product_name
        |  end
        |end
        |""".stripMargin, data)
    // `.from(k)`: scan starts at 0-based row index k — u1 skips purchase@1h
    tierDiff(
      """each_row.from(1) where event.is(== 'purchase')
        |  << product_name
        |end
        |""".stripMargin, data)
    // from + limit compose: first match at-or-after index 1
    tierDiff(
      """each_row.from(1).limit(1) where event.is(== 'purchase')
        |  << product_name
        |end
        |""".stripMargin, data)
    // reverse from: walk DOWN from index 2 -> u1 sees {c, a}
    tierDiff(
      """each_row.from(2).reverse() where event.is(== 'purchase')
        |  << product_name
        |end
        |""".stripMargin, data)
    // round 5: chains under a shifted top start compile too (__fc0 floor):
    // u1's idx>=1 purchases are c@3h and d@4h; only c has a following one
    tierDiff(
      """each_row.from(1) where event.is(== 'purchase')
        |  each_row.continue().next() where event.is(== 'purchase')
        |    << product_name
        |  end
        |end
        |""".stripMargin, data)
  }

  test("Tier A ≡ Tier B: .reverse() chain steps (backward funnels)") {
    val data = Seq(
      // u1: view then purchase -> purchase has a PRECEDING view
      ("u1", Mon + 1 * H, "view", "a", 1.0, Seq[String]()),
      ("u1", Mon + 2 * H, "purchase", "b", 30.0, Seq[String]()),
      // u2: purchase with no preceding view (view comes after)
      ("u2", Mon + 1 * H, "purchase", "c", 5.0, Seq[String]()),
      ("u2", Mon + 2 * H, "view", "d", 1.0, Seq[String]()),
      // u3: view 20h before purchase — outside a 16h look_back
      ("u3", Mon + 1 * H, "view", "e", 1.0, Seq[String]()),
      ("u3", Mon + 21 * H, "purchase", "f", 9.0, Seq[String]())
    ).toDF("id", "stamp", "event", "product_name", "product_price", "product_group")
    // last-touch shape: each purchase, scan BACKWARD for a view
    tierDiff(
      """select
        |  count id as customers
        |  count product_name as n_rows
        |end
        |each_row where event.is(== 'purchase')
        |  << 'purchase'
        |  each_row.continue().next().reverse() where event.is(== 'view')
        |    << 'had_prior_view', product_name
        |  end
        |end
        |""".stripMargin, data)
    // framed: the preceding view must fall within 16h of the purchase
    tierDiff(
      """select
        |  count id as customers
        |end
        |each_row where event.is(== 'purchase')
        |  each_row.continue().next().reverse().look_back(16_hours) where event.is(== 'view')
        |    << 'recent_prior_view'
        |  end
        |end
        |""".stripMargin, data)
    // top-level reverse: same visited SET (order-only change) -> compiles
    tierDiff(
      """select
        |  count id as customers
        |  sum product_price as spent
        |end
        |each_row.reverse() where event.is(== 'purchase')
        |  << 'purchase', product_name
        |end
        |""".stripMargin, data)
    // reverse top + forward chain: spawn set is order-independent
    tierDiff(
      """select
        |  count id as customers
        |end
        |each_row.reverse() where event.is(== 'view')
        |  each_row.continue().next() where event.is(== 'purchase')
        |    << 'view_then_purchase'
        |  end
        |end
        |""".stripMargin, data)
    // limit(1): only the nearest preceding view is visited
    tierDiff(
      """select
        |  count id as customers
        |  count product_name as n_rows
        |end
        |each_row where event.is(== 'purchase')
        |  each_row.continue().next().reverse().limit(1) where event.is(== 'view')
        |    << 'nearest_view', product_name
        |  end
        |end
        |""".stripMargin,
      Seq(
        ("u1", Mon + 1 * H, "view", "v1", 1.0, Seq[String]()),
        ("u1", Mon + 2 * H, "view", "v2", 1.0, Seq[String]()),
        ("u1", Mon + 3 * H, "purchase", "p", 30.0, Seq[String]())
      ).toDF("id", "stamp", "event", "product_name", "product_price", "product_group"))
  }

  test("Tier A ≡ Tier B: nested continue().next() funnel chains") {
    val data = Seq(
      // u1: full signup -> view -> purchase chain
      ("u1", Mon + 1 * H, "signup", "a", 1.0, Seq[String]()),
      ("u1", Mon + 2 * H, "view", "b", 2.0, Seq[String]()),
      ("u1", Mon + 3 * H, "purchase", "c", 30.0, Seq[String]()),
      ("u1", Mon + 4 * H, "purchase", "d", 40.0, Seq[String]()),
      // u2: purchase BEFORE signup (must not count), then view after
      ("u2", Mon + 1 * H, "purchase", "e", 5.0, Seq[String]()),
      ("u2", Mon + 2 * H, "signup", "f", 1.0, Seq[String]()),
      ("u2", Mon + 3 * H, "view", "g", 1.0, Seq[String]()),
      // u3: signup only
      ("u3", Mon + 1 * H, "signup", "h", 1.0, Seq[String]()),
      // u4: view -> purchase but never signed up
      ("u4", Mon + 1 * H, "view", "i", 1.0, Seq[String]()),
      ("u4", Mon + 2 * H, "purchase", "j", 9.0, Seq[String]())
    ).toDF("id", "stamp", "event", "product_name", "product_price", "product_group")
    // two-level funnel with tallies at both levels
    tierDiff(
      """select
        |  count id as customers
        |  count product_name as n_rows
        |  sum product_price as spent
        |end
        |each_row where event.is(== 'signup')
        |  << 'signup'
        |  each_row.continue().next() where event.is(== 'purchase')
        |    << 'converted', product_name
        |  end
        |end
        |""".stripMargin, data)
    // three-level chain: signup -> view -> purchase in strict row order
    tierDiff(
      """select
        |  count id as customers
        |end
        |each_row where event.is(== 'signup')
        |  each_row.continue().next() where event.is(== 'view')
        |    each_row.continue().next() where event.is(== 'purchase')
        |      << 'signup_view_purchase'
        |    end
        |  end
        |end
        |""".stripMargin, data)
    // conditional tally inside the inner level
    tierDiff(
      """select
        |  count id as customers
        |  sum product_price as spent
        |end
        |each_row where event.is(== 'signup')
        |  each_row.continue().next() where event.is(== 'purchase')
        |    if product_price.is(> 10)
        |      << 'big_purchase'
        |    end
        |    << 'any_purchase'
        |  end
        |end
        |""".stripMargin, data)
  }

  test("Tier A ≡ Tier B: limit(1) funnel chains (first match per step)") {
    val data = Seq(
      // u1: signup, purchase, purchase — only the FIRST purchase tallies
      ("u1", Mon + 1 * H, "signup", "a", 1.0, Seq[String]()),
      ("u1", Mon + 2 * H, "purchase", "b", 10.0, Seq[String]()),
      ("u1", Mon + 3 * H, "purchase", "c", 20.0, Seq[String]()),
      // u2: signup, purchase, signup, purchase — BOTH purchases are a
      // first-match for some signup
      ("u2", Mon + 1 * H, "signup", "d", 1.0, Seq[String]()),
      ("u2", Mon + 2 * H, "purchase", "e", 30.0, Seq[String]()),
      ("u2", Mon + 3 * H, "signup", "f", 1.0, Seq[String]()),
      ("u2", Mon + 4 * H, "purchase", "g", 40.0, Seq[String]()),
      // u3: purchase before any signup — nothing tallies
      ("u3", Mon + 1 * H, "purchase", "h", 5.0, Seq[String]()),
      // u4: a row that is both steps' predicate never blocks itself
      ("u4", Mon + 1 * H, "signup", "i", 1.0, Seq[String]()),
      ("u4", Mon + 2 * H, "signup", "j", 1.0, Seq[String]()),
      ("u4", Mon + 3 * H, "purchase", "k", 50.0, Seq[String]())
    ).toDF("id", "stamp", "event", "product_name", "product_price", "product_group")
    tierDiff(
      """select
        |  count id as customers
        |  count product_name as n_rows
        |  sum product_price as spent
        |end
        |each_row where event.is(== 'signup')
        |  each_row.continue().next().limit(1) where event.is(== 'purchase')
        |    << 'first_purchase', product_name
        |  end
        |end
        |""".stripMargin, data)
    // 3-level with limit(1) innermost
    tierDiff(
      """select
        |  count id as customers
        |end
        |each_row where event.is(== 'signup')
        |  each_row.continue().next() where event.is(== 'purchase')
        |    each_row.continue().next().limit(1) where event.is(== 'purchase')
        |      << 'second_purchase'
        |    end
        |  end
        |end
        |""".stripMargin, data)
    // framed steps: purchase within 90 minutes of the signup cursor — u1's
    // 1h gap qualifies, u2's 1h gaps qualify, u4's 2h gap does not
    tierDiff(
      """select
        |  count id as customers
        |  count product_name as n_rows
        |end
        |each_row where event.is(== 'signup')
        |  each_row.continue().next().look_ahead(5400000) where event.is(== 'purchase')
        |    << 'fast_conversion', product_name
        |  end
        |end
        |""".stripMargin, data)
    tierDiff( // within(span, stamp) is the same forward bound; with limit(1)
      """select
        |  count id as customers
        |end
        |each_row where event.is(== 'signup')
        |  each_row.continue().next().within(90_minutes, stamp).limit(1) where event.is(== 'purchase')
        |    << 'first_fast_conversion'
        |  end
        |end
        |""".stripMargin, data)
  }

  test("Tier A declines non-chain nesting (odd frames, dyn limit, else)") {
    def declines(script: String): Unit =
      assert(TierA.compile(Parser.program(script), highstreet, Tue, 1800000L).isEmpty,
        s"expected Tier B for:\n$script")
    declines( // dynamic (non-literal) limit
      """x = 2
        |each_row where event.is(== 'signup')
        |  each_row.continue().next().limit(x) where event.is(== 'purchase')
        |    << 'first_x'
        |  end
        |end
        |""".stripMargin)
    // round 5: an EXPLICIT constant anchor on a chain step compiles — the
    // bounds are spawn-independent and fold into the level predicate
    tierDiff(
      """each_row where product_group.is(contains 'outdoor')
        |  each_row.continue().next().within(1_days, now) where event.is(== 'purchase')
        |    << 'recent_conversion', product_name
        |  end
        |end
        |""".stripMargin)
    declines( // row/var-dependent frame anchor on a chain step
      """each_row where event.is(== 'signup')
        |  each_row.continue().next().within(1_days, product_price) where event.is(== 'purchase')
        |    << 'odd_anchor'
        |  end
        |end
        |""".stripMargin)
    // round 5: a backward frame on a forward chain step COMPILES (to its
    // honest nothing-past-the-anchor bound) — the scan can't reach rows at
    // or before the cursor, so both tiers agree on EMPTY
    locally {
      val script =
        """each_row where product_name.is(== 'fly rod')
          |  each_row.continue().next().look_back(1_days) where event.is(== 'purchase')
          |    << 'weird'
          |  end
          |end
          |""".stripMargin
      val p = Parser.program(script)
      assert(TierA.compile(p, highstreet, Tue, 1800000L).isDefined,
        "expected the contra-framed chain to compile")
      assert(OslEngine.query(highstreet, script, now = Tue).isEmpty)
      assert(OslEngine.query(highstreet, script, now = Tue, forceTierB = true).isEmpty)
    }
    declines( // if with an ELSE branch around the nested loop
      """each_row where event.is(== 'signup')
        |  if product_price.is(> 5)
        |    each_row.continue().next() where event.is(== 'purchase')
        |      << 'conditional_chain'
        |    end
        |  else
        |    << 'cheap'
        |  end
        |end
        |""".stripMargin)
    // a from-step with BOTH a frame and a limit COMPILES since round 15
    // (per-spawn match counts diverge under the frame, but each spawn's
    // rank is C'(r) − G(y) — the max-G witness); Tier A ≡ Tier B
    tierDiff(
      """select
        |  count id as customers
        |end
        |each_row where product_name.is(== 'fly rod')
        |  each_row.from(0).look_back(1_days).limit(1) where event.is(== 'purchase')
        |    << 'framed_limited'
        |  end
        |end
        |""".stripMargin, highstreet)
    declines( // reverse from-step -> interpreter
      """each_row where event.is(== 'signup')
        |  each_row.from(3).reverse() where event.is(== 'purchase')
        |    << 'rev_from'
        |  end
        |end
        |""".stripMargin)
  }

  test("Tier A ≡ Tier B: .from(k) restart chain steps") {
    val data = Seq(
      ("u1", Mon + 1 * H, "purchase", "a", 10.0, Seq[String]()),
      ("u1", Mon + 2 * H, "signup",   "s",  0.0, Seq[String]()),
      ("u1", Mon + 3 * H, "view",     "b",  1.0, Seq[String]()),
      ("u1", Mon + 4 * H, "purchase", "c", 20.0, Seq[String]()),
      ("u2", Mon + 1 * H, "signup",   "s",  0.0, Seq[String]()),
      ("u2", Mon + 30 * H, "purchase", "d", 5.0, Seq[String]()), // 29h gap
      ("u3", Mon + 1 * H, "purchase", "e",  7.0, Seq[String]())  // no signup
    ).toDF("id", "stamp", "event", "product_name", "product_price", "product_group")
    // a from-step rescans from an ABSOLUTE row per spawn, so with
    // .look_back it reaches rows BEFORE the spawning cursor — the search
    // shape a .continue() chain cannot express (prior-event attribution):
    // u1's purchase@1h is 1h before its signup; u2's purchase comes after
    tierDiff(
      """select
        |  count id as customers
        |  count event as n_rows
        |end
        |each_row where event.is(== 'signup')
        |  each_row.from(0).look_back(1_days) where event.is(== 'purchase')
        |    << 'prior_purchase', product_name
        |  end
        |end
        |""".stripMargin, data)
    // unframed with .next() and limit: the first 2 where-matches at
    // index >= 2, once ANY spawn exists (u1's view@3h spawns; purchase@4h)
    tierDiff(
      """select
        |  count id as customers
        |end
        |each_row where event.is(== 'view')
        |  each_row.from(1).next().limit(2) where event.is(== 'purchase')
        |    << 'early_purchases'
        |  end
        |end
        |""".stripMargin, data)
    // within-framed from-step: spawn stamp brackets the row on EITHER side
    // (u1: purchases 1h before and 2h after its signup both qualify)
    tierDiff(
      """select
        |  count id as customers
        |end
        |each_row where event.is(== 'signup')
        |  each_row.from(0).within(1_days, stamp) where event.is(== 'purchase')
        |    << 'near_signup'
        |  end
        |end
        |""".stripMargin, data)
  }

  test("Tier A ≡ Tier B: limit(n) and if-guarded funnel chains") {
    def both(script: String): Unit = tierDiff(script)
    both( // limit > 1 on the innermost level
      """select
        |  count id as customers
        |  count event as n_rows
        |end
        |each_row where product_name.is(== 'fly rod')
        |  each_row.continue().next().limit(2) where event.is(== 'purchase')
        |    << 'first_two', product_name
        |  end
        |end
        |""".stripMargin)
    both( // nested loop under an else-less if (guarded spawn)
      """select
        |  count id as customers
        |end
        |each_row where event.is(== 'purchase')
        |  << 'bought'
        |  if product_price.is(> 50)
        |    each_row.continue().next() where event.is(== 'purchase')
        |      << 'after_big_ticket', product_name
        |    end
        |  end
        |end
        |""".stripMargin)
    both( // guard + frame + limit together
      """select
        |  count id as customers
        |  count event as n_rows
        |end
        |each_row where product_name.is(== 'fly rod')
        |  if product_price.is(> 50)
        |    each_row.continue().next().look_ahead(2_days).limit(3) where event.is(== 'purchase')
        |      << 'guarded_framed', product_name
        |    end
        |  end
        |end
        |""".stripMargin)
  }

  test("Tier A ≡ Tier B: histogram inline-agg scripts compile to one aggregation") {
    def histDiff(script: String,
                 data: org.apache.spark.sql.DataFrame = highstreet): Unit = {
      val p = Parser.program(script)
      assert(TierA.compileHistogram(p, data, Tue).isDefined,
        s"expected histogram Tier A to engage for:\n$script")
      val a = OslEngine.histogram(data, script, now = Tue)
      assert(!a.queryExecution.executedPlan.toString.contains("MapGroups"))
      val b = OslEngine.histogram(data, script, now = Tue, forceTierB = true)
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0),
          math.round(r.getDouble(1) * 10000) / 10000.0)).toSet
      assert(canon(a) == canon(b), s"histogram tier mismatch for:\n$script")
      assert(canon(a).nonEmpty)
    }
    histDiff(
      """total = sum(product_price) where event.is(== 'purchase')
        |return(bucket(total, 25))
        |""".stripMargin)
    histDiff(
      """n = count(event) where product_group.is(contains 'outdoor')
        |d = dcount(product_name) where event.is(== 'purchase')
        |return(n * 100 + d)
        |""".stripMargin)
    histDiff( // empty matches: min/avg are nil -> 0 under numeric use
      """m = max(product_price) where event.is(== 'no_such_event')
        |a = avg(product_price) where event.is(== 'purchase')
        |return(m + a)
        |""".stripMargin)
    histDiff(
      """seen = test(event) where product_price.is(> 100)
        |return(seen)
        |""".stripMargin)
    // interpreter-only shapes still decline: frames, var-referencing wheres
    assert(TierA.compileHistogram(Parser.program(
      """t = sum(product_price).look_back(2_hours) where event.is(== 'purchase')
        |return(t)
        |""".stripMargin), highstreet, Tue).isEmpty)
    assert(TierA.compileHistogram(Parser.program(
      """lo = min(product_price) where event.is(== 'purchase')
        |n = count(event) where product_price.is(> lo)
        |return(n)
        |""".stripMargin), highstreet, Tue).isEmpty)
  }

  test("Tier A ≡ Tier B: declarative segment scripts compile to one aggregation") {
    def segDiff(script: String,
                data: org.apache.spark.sql.DataFrame = highstreet): Unit = {
      val defs = Parser.segments(script)
      assert(TierA.compileSegments(defs, data, Tue).isDefined,
        s"expected segment Tier A to engage for:\n$script")
      val a = OslEngine.segments(data, script, now = Tue)
      assert(!a.queryExecution.executedPlan.toString.contains("MapGroups"))
      val b = OslEngine.segments(data, script, now = Tue, forceTierB = true)
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(canon(a) == canon(b), s"segment tier mismatch for:\n$script")
    }
    segDiff(
      """@segment buyers
        |if event.ever(== 'purchase')
        |  return(true)
        |end
        |@segment outdoor_browsers
        |if product_group.ever(contains 'outdoor') && event.never(== 'purchase')
        |  return(true)
        |end
        |""".stripMargin)
    segDiff( // framed ever anchored at now + inline-agg comparison
      """@segment recent_buyers
        |if event.look_back(36_hours).ever(== 'purchase')
        |  return(true)
        |end
        |@segment big_spenders
        |if (sum(product_price) where event.is(== 'purchase')) > 100
        |  return(true)
        |else
        |  return(false)
        |end
        |""".stripMargin)
    segDiff( // bare boolean return
      """@segment active
        |return((count(event) where event.is(!= 'nothing')) > 1)
        |""".stripMargin)
    // funnels and var-stateful segments still interpret
    assert(TierA.compileSegments(Parser.segments(
      """@segment signup_then_purchase
        |each_row where event.is(== 'signup')
        |  each_row.continue().next() where event.is(== 'purchase')
        |    return(true)
        |  end
        |end
        |""".stripMargin), highstreet, Tue).isEmpty)
    // MIXED script: the declarative def compiles, the funnel interprets,
    // and the union matches the all-interpreted result
    val mixed =
      """@segment buyers
        |if event.ever(== 'purchase')
        |  return(true)
        |end
        |@segment browse_then_buy
        |each_row where event.is(== 'browse')
        |  each_row.continue().next() where event.is(== 'purchase')
        |    return(true)
        |  end
        |end
        |""".stripMargin
    def canonSeg(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    val ma = canonSeg(OslEngine.segments(highstreet, mixed, now = Tue))
    val mb = canonSeg(OslEngine.segments(highstreet, mixed, now = Tue,
      forceTierB = true))
    assert(ma == mb && ma.exists(_._1 == "buyers"))
  }

  test("Tier A ≡ Tier B: `var` select without assignments is a deduped count") {
    tierDiff(
      """select
        |  count id as customers
        |  var n as hits
        |end
        |each_row where event.is(== 'purchase')
        |  << product_name
        |end
        |""".stripMargin)
    // a script that ASSIGNS the var compiles too (round 5): write-only
    // accumulation leading its body keeps the dedup per-row
    tierDiff(
      """select
        |  var n as hits
        |end
        |each_row where event.is(== 'purchase')
        |  n = n + 1
        |  << product_name
        |end
        |""".stripMargin)
  }

  test("Tier A ≡ Tier B: `value` selects (numeric and text, last write wins)") {
    tierDiff(
      """select
        |  count id as customers
        |  value product_price as last_price
        |  value product_name as last_name
        |end
        |each_row where event.is(== 'purchase')
        |  << get_day_of_week(stamp)
        |end
        |""".stripMargin)
    // conditional single tallies compile too (round 4): the write counter
    // collapses to the rank among predicate-satisfying writing rows
    tierDiff(
      """select
        |  value product_price as last_price
        |end
        |each_row where event.is(== 'purchase')
        |  if product_price.is(> 20)
        |    << product_name
        |  end
        |end
        |""".stripMargin)
  }

  test("Tier A ≡ Tier B: multiple tallies per row") {
    tierDiff(
      """select
        |  count id as customers
        |  count product_name as n_rows
        |  sum product_price as spent
        |end
        |each_row where event.is(== 'purchase')
        |  << product_name
        |  << get_day_of_week(stamp), product_name
        |end
        |""".stripMargin)
  }

  test("Tier A ≡ Tier B: conditional (if-wrapped) tallies") {
    tierDiff(
      """select
        |  count id as customers
        |  sum product_price as spent
        |end
        |each_row where event.is(== 'purchase')
        |  << 'all'
        |  if product_price.is(> 50)
        |    << 'big', product_name
        |  end
        |end
        |""".stripMargin)
  }

  test("sort section parses into SortSpec (default desc)") {
    val p = Parser.program(
      """select
        |  count id as customers
        |end
        |sort
        |  customers
        |  group asc
        |end
        |each_row where event.is(== 'x')
        |  << event
        |end
        |""".stripMargin)
    assert(p.sort == Seq(Ast.SortSpec("customers", false), Ast.SortSpec("group", true)))
  }

  test("customer history JSON: ordered events, nulls omitted, sets expanded") {
    val e = Seq(
      ("u1", 20L, "b", Some(2.0), Seq("t1", "t2")),
      ("u1", 10L, "a", None, Seq[String]()),
      ("u2", 5L, "z", Some(1.0), Seq[String]())
    ).toDF("id", "stamp", "event", "value", "tags")
    val json = Customers.historyJson(e, "u1")
    assert(json.startsWith("{\"id\":\"u1\",\"events\":["))
    val firstEvent = json.split("\\[", 2)(1)
    assert(firstEvent.indexOf("\"event\":\"a\"") < firstEvent.indexOf("\"event\":\"b\""))
    assert(!json.contains("u2"))
    assert(json.contains("\"tags\":[\"t1\",\"t2\"]"))
    // row 'a' has null value -> omitted
    assert(!json.split("\\},\\{")(0).contains("\"value\""))
  }

  test("language: dict/list mutation, subscripts, methods, len/keys") {
    // mirrors test_osl_language.h container cases via per-person script
    val script =
      """d = {'cheeses': {'orange': 'chedder', 'hard': 'parmesan'}}
        |d['cheeses'] = d['cheeses'] - ['orange']
        |l = [1, 2, 3]
        |l = l + [4]
        |l = l - [2]
        |s = 'a,b,c'
        |parts = s.split(',')
        |total = len(keys(d['cheeses'])) + len(l) + len(parts)
        |return(total)
        |""".stripMargin
    val data = Seq(("u1", 1L, "e")).toDF("id", "stamp", "event")
    val out = OslEngine.histogram(data, script, now = Tue).as[(String, Double)].head()
    assert(out == (("u1", 7.0))) // 1 key + 3 list + 3 parts
  }

  test("language: url_decode parts and params") {
    val script =
      """parts = url_decode('http://somehost.com/this/is/the/path?param1=one&param3')
        |ok = 0
        |if parts['host'] == 'somehost.com'
        |  ok = ok + 1
        |end
        |if parts['path'] == '/this/is/the/path'
        |  ok = ok + 1
        |end
        |if parts['params']['param1'] == 'one'
        |  ok = ok + 1
        |end
        |if parts['params']['param3'] == true
        |  ok = ok + 1
        |end
        |return(ok)
        |""".stripMargin
    val data = Seq(("u1", 1L, "e")).toDF("id", "stamp", "event")
    val out = OslEngine.histogram(data, script, now = Tue).as[(String, Double)].head()
    assert(out == (("u1", 4.0)))
  }

  test("language: bucket/round/fix/trunc math marshals") {
    val script =
      """a = bucket(537, 100)
        |b = round(2.5)
        |c = int(fix(37.05782, 2) == '37.06')
        |d = trunc(9.99)
        |return(a + b + c + d)
        |""".stripMargin
    val data = Seq(("u1", 1L, "e")).toDF("id", "stamp", "event")
    val out = OslEngine.histogram(data, script, now = Tue).as[(String, Double)].head()
    // 500 + 3 (C round(): 2.5 away from zero -> 3) + 1 + 9
    assert(out == (("u1", 513.0)))
  }

  test("language: break('all') unwinds nested each_row") {
    val script =
      """n = 0
        |each_row where event.is(!= '__none__')
        |  each_row where event.is(!= '__none__')
        |    n = n + 1
        |    break('all')
        |  end
        |  n = n + 100
        |end
        |return(n)
        |""".stripMargin
    val data = Seq(("u1", 1L, "a"), ("u1", 2L, "b")).toDF("id", "stamp", "event")
    val out = OslEngine.histogram(data, script, now = Tue).as[(String, Double)].head()
    assert(out == (("u1", 1.0))) // inner body once, outer continuation skipped
  }

  test("language: break('top') in 3-deep nest unwinds to the outermost loop") {
    // Reference (queryinterpreter.cpp:436-439): break('top') sets
    // breakDepth = nestDepth-1 — BOTH inner loops exit, the outermost
    // continues. Per outer iteration (2 rows): +1 at depth 3, skip the
    // rest of depth 2 and depth 1 bodies' tails? No — only loops unwind;
    // the outermost body continues AFTER its inner loop: +1 (inner) then
    // +1000 (outer tail) per outer row.
    val script =
      """n = 0
        |each_row where event.is(!= '__none__')
        |  each_row where event.is(!= '__none__')
        |    each_row where event.is(!= '__none__')
        |      n = n + 1
        |      break('top')
        |      n = n + 10
        |    end
        |    n = n + 100
        |  end
        |  n = n + 1000
        |end
        |return(n)
        |""".stripMargin
    val data = Seq(("u1", 1L, "a"), ("u1", 2L, "b")).toDF("id", "stamp", "event")
    val out = OslEngine.histogram(data, script, now = Tue).as[(String, Double)].head()
    // per outer row: depth-3 body runs once (+1), depth-2 loop is unwound
    // (no +100), outer tail runs (+1000) -> 2 * 1001
    assert(out == (("u1", 2002.0)))
  }

  test("language: break('top') in for/in mixes with each_row") {
    val script =
      """n = 0
        |for x in [1, 2]
        |  for y in [1, 2, 3]
        |    n = n + 1
        |    break('top')
        |  end
        |  n = n + 10
        |end
        |return(n)
        |""".stripMargin
    val data = Seq(("u1", 1L, "a")).toDF("id", "stamp", "event")
    val out = OslEngine.histogram(data, script, now = Tue).as[(String, Double)].head()
    // inner for exits after first y; outer continues its tail: 2 * 11
    assert(out == (("u1", 22.0)))
  }

  test("select `value` keeps the last tallied row's value per node") {
    val script =
      """select
        |  count id
        |  value product_price as last_price
        |end
        |each_row where event.is(== 'purchase')
        |  << product_name
        |end
        |""".stripMargin
    val data = Seq(
      ("u1", Mon + 1 * H, "purchase", "rod", 10.0, Seq[String]()),
      ("u1", Mon + 2 * H, "purchase", "rod", 25.0, Seq[String]()),
      ("u1", Mon + 3 * H, "purchase", "net", 7.0, Seq[String]())
    ).toDF("id", "stamp", "event", "product_name", "product_price", "product_group")
    val out = OslEngine.query(data, script, now = Tue)
      .select("g1", "last_price").as[(String, Double)].collect().toMap
    assert(out == Map("rod" -> 25.0, "net" -> 7.0)) // last row wins per node
  }

  test("select `value` on a text property returns the string") {
    val script =
      """select
        |  count id
        |  value product_name as last_product
        |end
        |each_row where event.is(== 'purchase')
        |  << 'all'
        |end
        |""".stripMargin
    val data = Seq(
      ("u1", Mon + 1 * H, "purchase", "rod", 1.0, Seq[String]()),
      ("u1", Mon + 2 * H, "purchase", "net", 2.0, Seq[String]())
    ).toDF("id", "stamp", "event", "product_name", "product_price", "product_group")
    val out = OslEngine.query(data, script, now = Tue)
      .select("g1", "last_product").as[(String, String)].head()
    assert(out == (("all", "net")))
  }

  test("select `var` declares a script variable and counts deduped tallies") {
    val script =
      """select
        |  count id
        |  var n_loops as loops
        |end
        |each_row where event.is(== 'purchase')
        |  n_loops = n_loops + 1
        |  << 'a'
        |  << 'a'
        |end
        |""".stripMargin
    val data = Seq(
      ("u1", Mon + 1 * H, "purchase", "x", 1.0, Seq[String]()),
      ("u1", Mon + 2 * H, "purchase", "y", 1.0, Seq[String]())
    ).toDF("id", "stamp", "event", "product_name", "product_price", "product_group")
    val out = OslEngine.query(data, script, now = Tue)
      .select("g1", "loops").as[(String, Long)].collect().toMap
    // per row: two << 'a' tallies dedup to one (same var value, row, node)
    assert(out == Map("a" -> 2L))
  }

  test("reference test_count_methods: normal and stamped row-id counting") {
    // Mirrors /root/reference/test/test_count_methods.h: 5 rows for one
    // user — 2 sharing stamp T0 (rabbit, val 100), 3 sharing stamp T1
    // (goat, val 200) — tallied by (some_thing, some_color).
    val T0 = 1458800000000L
    val T1 = 1458801000000L
    val data = Seq(
      ("user1", T0, "some event", "rabbit", "orange", 100.0),
      ("user1", T0, "some event", "rabbit", "purple", 100.0),
      ("user1", T1, "some event", "goat", "green", 200.0),
      ("user1", T1, "some event", "goat", "golden", 200.0),
      ("user1", T1, "some event", "goat", "cyan", 200.0)
    ).toDF("id", "stamp", "event", "some_thing", "some_color", "some_val")
    val script =
      """select
        |  count id
        |  count some_thing as things
        |  count some_color as colors
        |  sum some_val as vals
        |end
        |each_row where event.is(== 'some event')
        |  << some_thing, some_color
        |end
        |""".stripMargin
    def depth1(stamped: Boolean) =
      OslEngine.query(data, script, now = T1 + 1000, forceTierB = true,
          stampedRowIds = stamped)
        .where(col("depth") === 1)
        .select("g1", "id", "things", "colors", "vals")
        .collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
        .toMap
    // normal count: c = [1,3,3,600] goat / [1,2,2,200] rabbit
    val normal = depth1(stamped = false)
    assert(normal("goat") == ((1L, 3L, 3L, 600.0)))
    assert(normal("rabbit") == ((1L, 2L, 2L, 200.0)))
    // date count (useStampedRowIds): rows sharing a stamp count once for
    // same-valued aggregates: goat [1,1,3,200], rabbit [1,1,2,100]
    val stamped = depth1(stamped = true)
    assert(stamped("goat") == ((1L, 1L, 3L, 200.0)))
    assert(stamped("rabbit") == ((1L, 1L, 2L, 100.0)))
  }

  test("reference test_sessions: session numbering, count session, session_count") {
    // Mirrors /root/reference/test/test_sessions.h: 9 events in 3 bursts
    // separated by years -> 3 sessions; node 'all' counts [1,3,9]
    // (people, distinct sessions, rows).
    val stamps = Seq(1458800000L, 1458800100L, 1458800200L,
      1545220000L, 1545220100L, 1545220900L,
      1631600000L, 1631600400L, 1631601200L)
    val strs = Seq("rabbit", "train", "cat", "dog", "cat", "rabbit",
      "train", "plane", "automobile")
    val vals = (100 to 108).map(_.toDouble)
    val data = stamps.indices.map(i =>
      ("user1", stamps(i) * 1000L, "some event", strs(i), vals(i)))
      .toDF("id", "stamp", "event", "some_str", "some_val")
    val script =
      """select
        |  count id
        |  count session as sessions
        |  count some_val as vals
        |end
        |n_in_2 = 0
        |each_row where event.is(== 'some event')
        |  << 'all', some_str
        |  if session == 2
        |    n_in_2 = n_in_2 + 1
        |  end
        |end
        |return(int(session_count == 3) * 100 + n_in_2)
        |""".stripMargin
    val hist = OslEngine.histogram(data, script, now = 1631610000000L)
      .as[(String, Double)].head()
    assert(hist == (("user1", 103.0))) // session_count==3 true; 3 rows in session 2
    val tree = OslEngine.query(data, script, now = 1631610000000L, forceTierB = true)
      .where(col("depth") === 1)
      .select("id", "sessions", "vals").as[(Long, Long, Long)].collect().toSeq
    assert(tree == Seq((1L, 3L, 9L))) // reference c = [1,3,9]
  }

  // The reference's language suite uses 5 purchase rows for one user:
  // fruits orange/apple/pear/banana/orange (test_osl_language.h:19-58)
  private def fruitRows = Seq(
    ("u1", 1458820830000L, "purchase", "orange", 5.55),
    ("u1", 1458820831000L, "purchase", "apple", 9.95),
    ("u1", 1458820832000L, "purchase", "pear", 12.49),
    ("u1", 1458820833000L, "purchase", "banana", 2.49),
    ("u1", 1458820834000L, "purchase", "orange", 5.55)
  ).toDF("id", "stamp", "event", "fruit", "price")

  /** Run `script` (which increments `ok` per passing check) and assert all
    * `expected` checks passed — the ASSERTDEBUGLOG equivalent. */
  private def checkScript(script: String, expected: Int,
                          data: org.apache.spark.sql.DataFrame = fruitRows): Unit = {
    val wrapped = s"ok = 0\n$script\nreturn(ok)\n"
    val out = OslEngine.histogram(data, wrapped, now = 1458830000000L)
      .as[(String, Double)].head()
    assert(out._2 == expected.toDouble, s"script checks failed: got ${out._2}/$expected")
  }

  test("reference osl_language: containers contains/any semantics") {
    checkScript(
      """test_value = ['apple', 'pear', 'orange']
        |ok = ok + int(test_value[0] == 'apple')
        |ok = ok + int(test_value[1] != 'apple')
        |ok = ok + int(len(test_value) == 3)
        |ok = ok + int('apple' in test_value)
        |ok = ok + int((test_value contains 'donkey') == false)
        |ok = ok + int(test_value contains ['apple', 'pear'])
        |ok = ok + int((test_value contains ['apple', 'duck']) == false)
        |ok = ok + int(test_value any ['donkey', 'apple', 'bear'])
        |ok = ok + int((test_value any ['donkey', 'duck', 'bear']) == false)
        |""".stripMargin, 9)
  }

  test("reference osl_language: dict literals with bare keys, nested update") {
    checkScript(
      """test_value = {
        |  fruits: ['apple', 'orange', 'pear', 'banana'],
        |  animals: ['zebra', 'unicorn', 'donkey'],
        |  a_boolean: true
        |}
        |ok = ok + int(len(test_value) == 3)
        |ok = ok + int(len(test_value['fruits']) == 4)
        |ok = ok + int(test_value['animals'][1] == 'unicorn')
        |someDict = {'hello': 'goodbye', 'many': [1,2,3,4]}
        |someDict = someDict + {'fresh': 'prince'}
        |ok = ok + int(len(someDict) == 3)
        |someDict = someDict - 'hello'
        |ok = ok + int(len(someDict) == 2)
        |someDict['cheese'] = {'orange': ['chedder'], 'soft': ['mozza', 'cream']}
        |someDict['cheese'] = someDict['cheese'] - 'orange'
        |ok = ok + int(len(someDict['cheese']) == 1)
        |some_set = set('one', 'two', 'three')
        |ok = ok + int(len(some_set) == 3)
        |some_set = some_set - 'two'
        |ok = ok + int(len(some_set) == 2)
        |nested = {}
        |nested['yellow'] = {}
        |nested['yellow']['green'] = 'this is green'
        |ok = ok + int(nested['yellow']['green'] == 'this is green')
        |""".stripMargin, 9)
  }

  test("reference osl_language: for-loop break/continue counters") {
    checkScript(
      """source_list = ['one', 'two', 'three', 'four', 'five', 'six', 'seven']
        |counter = 0
        |for item in source_list
        |  counter = counter + 1
        |  if counter == 3
        |    break
        |  end
        |end
        |ok = ok + int(counter == 3)
        |counter = 0
        |after_count = 0
        |for item in source_list
        |  counter = counter + 1
        |  if counter >= 3
        |    continue
        |  end
        |  after_count = after_count + 1
        |end
        |ok = ok + int(counter == 7)
        |ok = ok + int(after_count == 2)
        |letter_list = ['a', 'b', 'c', 'd']
        |counter = 0
        |for number in source_list
        |  for letter in letter_list
        |    if number == 'three' && letter == 'c'
        |      break(2)
        |    end
        |    counter = counter + 1
        |  end
        |end
        |ok = ok + int(counter == 10)
        |""".stripMargin, 4)
  }

  test("reference osl_language: each_row .range is inclusive, .reverse flips") {
    checkScript(
      """counter = 0
        |last = 0
        |ordered = true
        |each_row.range('2016-03-24T12:00:31+00:00', '2016-03-24T12:00:33+00:00') where event.is(== 'purchase')
        |  counter = counter + 1
        |  if last != 0 && stamp < last
        |    ordered = false
        |  end
        |  last = stamp
        |end
        |ok = ok + int(counter == 3)
        |ok = ok + int(ordered)
        |rcounter = 0
        |rlast = 0
        |rordered = true
        |each_row.reverse().range('2016-03-24T12:00:31+00:00', '2016-03-24T12:00:33+00:00') where event.is(== 'purchase')
        |  rcounter = rcounter + 1
        |  if rlast != 0 && stamp > rlast
        |    rordered = false
        |  end
        |  rlast = stamp
        |end
        |ok = ok + int(rcounter == 3)
        |ok = ok + int(rordered)
        |""".stripMargin, 4)
  }

  test("reference osl_language: number functions round and bucket") {
    checkScript(
      """ok = ok + int(round(33.544, 2) == 33.54)
        |ok = ok + int(round(8.3854, 2) == 8.39)
        |ok = ok + int(round(12.4912, 2) == 12.49)
        |ok = ok + int(round(5.545, 2) == 5.55)
        |ok = ok + int(bucket(513, 25) == 500)
        |ok = ok + int(bucket(525, 25) == 525)
        |ok = ok + int(bucket(551, 25) == 550)
        |ok = ok + int(bucket(5.11, 0.25) == 5.00)
        |ok = ok + int(bucket(5.25, 0.25) == 5.25)
        |ok = ok + int(bucket(5.51, 0.25) == 5.50)
        |ok = ok + int(fix(5.545, 2) == '5.55')
        |ok = ok + int(fix(-5.545, 2) == '-5.55')
        |ok = ok + int(fix(0.07, 2) == '0.07')
        |""".stripMargin, 13)
  }

  test("reference osl_language: each_row .continue inherits the outer cursor") {
    checkScript(
      """counter = 0
        |each_row.limit(1) where event.is(== 'purchase')
        |  each_row.continue() where event.is(== 'purchase')
        |    counter = counter + 1
        |  end
        |end
        |ok = ok + int(counter == 5)
        |""".stripMargin, 1)
  }

  test("reference osl_language: .continue().next(), .from, loose str==num") {
    checkScript(
      """counter = 0
        |each_row.limit(1) where event.is(== 'purchase')
        |  each_row.continue().next() where event.is(== 'purchase')
        |    counter = counter + 1
        |  end
        |end
        |ok = ok + int(counter == 4)
        |fcounter = 0
        |each_row.from(2) where event.is(== 'purchase')
        |  fcounter = fcounter + 1
        |end
        |ok = ok + int(fcounter == 3)
        |someVar = '3.14'
        |ok = ok + int(someVar == 3.14)
        |someDict = {'hello': 'goodbye', 'many': [1,2,3,4]}
        |ok = ok + int(someDict['many'][1] == 2)
        |someDict = someDict - ['hello', 'many']
        |ok = ok + int(len(someDict) == 0)
        |someSet = set()
        |someSet = someSet + 'hello'
        |someSet = someSet + 'goodbye'
        |someSet = someSet + 'hello'
        |ok = ok + int(len(someSet) == 2)
        |someSet = someSet - 'hello'
        |ok = ok + int(len(someSet) == 1)
        |""".stripMargin, 7)
  }

  test("Tier B index pre-filter: non-matching persons are skipped, results equal") {
    // u2 has no 'signup' at all -> pre-filtered away before interpretation;
    // membership must be identical either way. The inner loop is a plain
    // `.next()` (no cursor inheritance) so the script is NOT chain-shaped
    // and genuinely exercises the interpreter + pre-filter path.
    val data = Seq(
      ("u1", Mon + 1 * H, "signup"), ("u1", Mon + 2 * H, "purchase"),
      ("u2", Mon + 1 * H, "view"), ("u3", Mon + 1 * H, "signup")
    ).toDF("id", "stamp", "event")
    val script =
      """@segment converted
        |each_row where event.is(== 'signup')
        |  each_row.next() where event.is(== 'purchase')
        |    return(true)
        |  end
        |end
        |""".stripMargin
    assert(!TierA.segmentChainCompilable(Parser.segments(script).head, Tue))
    val members = OslEngine.segments(data, script, now = Tue)
      .select("id").as[String].collect().toSet
    assert(members == Set("u1"))
    // the weakening appears as a left-semi join in the plan
    val plan = OslEngine.segments(data, script, now = Tue)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan.take(1500))
  }

  test("funnel segments compile to window-exists membership (no interpreter)") {
    val data = Seq(
      ("u1", Mon + 1 * H, "signup"), ("u1", Mon + 2 * H, "purchase"),
      ("u2", Mon + 1 * H, "view"), ("u3", Mon + 2 * H, "signup"),
      ("u3", Mon + 1 * H, "purchase") // purchase BEFORE signup: not a member
    ).toDF("id", "stamp", "event")
    val script =
      """@segment converted
        |each_row where event.is(== 'signup')
        |  each_row.continue().next() where event.is(== 'purchase')
        |    return(true)
        |  end
        |end
        |""".stripMargin
    assert(TierA.segmentChainCompilable(Parser.segments(script).head, Tue))
    val members = OslEngine.segments(data, script, now = Tue)
      .select("id").as[String].collect().toSet
    assert(members == Set("u1"))
    val b = OslEngine.segments(data, script, now = Tue, forceTierB = true)
      .select("id").as[String].collect().toSet
    assert(b == members)
  }

  // The 4 page_view events from /root/reference/test/test_db.h:24-59
  private def testDbRows = {
    val S = 1000L
    Seq(
      ("user1", 1458820830L * S, "page_view", "blog", null.asInstanceOf[String], null.asInstanceOf[Seq[String]]),
      ("user1", 1458820840L * S, "page_view", "home page", "google.co.uk", Seq("big", "floppy", "slippers")),
      ("user1", 1458820841L * S, "page_view", "home page", "google.co.uk", Seq("silly", "floppy", "ears")),
      ("user1", 1458820900L * S, "page_view", "about", null.asInstanceOf[String], null.asInstanceOf[Seq[String]])
    ).toDF("id", "stamp", "event", "page", "referral_source", "referral_search")
  }

  test("reference test_db: iterating a set property skips nil rows, c=[1,1,2,2]") {
    val script =
      """select
        |  count id
        |  count session as sessions
        |  count page as pages
        |  count referral_source as sources
        |end
        |counter = 0
        |each_row where page.is(!= nil)
        |  for ref in referral_search
        |    counter = counter + 1
        |    << id, referral_source, ref
        |  end
        |end
        |""".stripMargin
    val out = OslEngine.query(testDbRows, script, now = 1458830000000L,
        forceTierB = true)
      .where(col("depth") === 1)
      .select("id", "sessions", "pages", "sources")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 1L, 2L, 2L))) // reference c = [1,1,2,2]
  }

  test("reference test_db: nested reverse().within() timing windows, c=[1,2]/[1,1]") {
    val script =
      """select
        |  count id
        |  count page as pages
        |end
        |each_row.reverse().limit(1) where page.is(== 'home page')
        |  match_stamp = stamp
        |  each_row.continue().next().reverse().within(10_seconds, match_stamp) where event.is(== 'page_view')
        |    << 'test1', 'home_page', page
        |  end
        |end
        |each_row.reverse().limit(1) where page.is(== 'home page')
        |  match_stamp = stamp
        |  each_row.continue().next().reverse().within(100_seconds, match_stamp) where event.is(== 'page_view')
        |    << 'test2', 'home_page', page
        |  end
        |end
        |""".stripMargin
    val byG1 = OslEngine.query(testDbRows, script, now = 1458830000000L)
      .where(col("depth") === 1)
      .select("g1", "id", "pages")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(byG1("test1") == ((1L, 1L))) // 10s window: one row
    assert(byG1("test2") == ((1L, 2L))) // 100s window: both home-page-era rows
  }

  test("language: get_row returns the row as a dict") {
    val script =
      """r = get_row(cursor + 1)
        |return(int(r['event'] == 'b'))
        |""".stripMargin
    val data = Seq(("u1", 1L, "a"), ("u1", 2L, "b")).toDF("id", "stamp", "event")
    val out = OslEngine.histogram(data, script, now = Tue).as[(String, Double)].head()
    assert(out == (("u1", 1.0)))
  }

  test("time literals expand at lex time") {
    val toks = Lexer.lex("x = 3_months + 2_weeks")
    // time literals carry their unit: they lex to TTime (ms), not bare TInt
    val ints = toks.collect { case Lexer.TTime(v) => v }
    assert(ints == Vector(3L * 31 * 86400000L, 2L * 7 * 86400000L))
  }
}
