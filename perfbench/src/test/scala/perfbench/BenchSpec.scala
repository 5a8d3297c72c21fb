package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own arithmetic and inputs; no Spark session needed. */
class BenchSpec extends AnyFunSuite {

  test("tail percentile: highest with at least 10 samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == ((90.0, 90.0)))
    val (p, v) = Stats.tail((1 to 21).map(_.toDouble))
    assert(v == 11.0 && math.abs(p - 100.0 * 11 / 21) < 1e-9)
    // too few samples for such a percentile: the median stands in
    assert(Stats.tail((1 to 20).map(_.toDouble)) == ((50.0, 10.5)))
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("generator: same seed, same bytes; another seed, other bytes") {
    def bytes(seed: Long) = Gen.history(seed, 200, 10).map(_.json).mkString("\n")
    assert(bytes(7) == bytes(7))
    assert(bytes(7) != bytes(8))
    def live(seed: Long) = {
      val m = new Model
      m.add(Gen.history(seed, 200, 10))
      (0 until 5).flatMap { k =>
        val b = Gen.liveBatch(seed, k, 50, m)
        m.add(b)
        b.map(_.json)
      }
    }
    assert(live(7) == live(7))
    assert(live(7) != live(8))
  }

  test("generator: no duplicate rows, stamps inside the TTL, exact prices") {
    val m = new Model
    m.add(Gen.history(3, 300, 12))
    (0 until 10).foreach(k => m.add(Gen.liveBatch(3, k, 100, m)))
    val rows = (0 until m.rowCount).map(m.rowAt)
    assert(rows.map(e => (e.id, e.stamp)).distinct.size == rows.size)
    assert(rows.forall(e => e.stamp < Gen.Now && e.stamp >= Gen.Now - Gen.HistoryMs))
    assert(rows.map(_.id).groupBy(identity).values.forall(_.size < 5000))
    assert(rows.map(_.event).toSet == Gen.Events.toSet)
    // every seed loads the same volume
    assert(Seq(1L, 2L, 3L).map(Gen.history(_, 300, 12).size) == Seq(3600, 3600, 3600))
    // two decimals: the JSON text parses back to exactly cents / 100
    assert(rows.forall(e => e.json.split("\"price\":")(1).stripSuffix("}").toDouble == e.price))
  }

  test("output check flags a perturbed output") {
    val m = new Model
    m.add(Gen.history(5, 100, 8))
    val expected = m.property(_.product)
    val ok = Rec(0, "property", read = true, 1.0, expected, None, 0)
    assert(Workload.mismatch(ok, Seq(expected)).isEmpty)
    val perturbed = ok.copy(out = expected.replaceFirst("\"customers\":(\\d+)", "\"customers\":999999"))
    assert(perturbed.out != expected)
    assert(Workload.mismatch(perturbed, Seq(expected)).isDefined)
    // every reference must match, not just one
    assert(Workload.mismatch(ok, Seq(expected, "[]")).isDefined)
    assert(Workload.mismatch(ok.copy(err = Some("boom")), Seq(expected)).isDefined)
  }

  test("span self time: duration minus the union of child intervals") {
    val spans = Seq(
      Span(0, -1, 1, "root", 0, 100),
      Span(1, 0, 1, "a", 10, 30),
      Span(2, 0, 1, "b", 20, 50), // overlaps a: covered once
      Span(3, 0, 1, "c", 60, 70),
      Span(4, 3, 1, "d", 62, 65), // grandchild: counts against c only
      Span(5, 0, 1, "e", 95, 120)) // clipped to the parent's end
    val self = Trace.selfTimes(spans)
    assert(self(0) == 100 - (40 + 10 + 5))
    assert(self(1) == 20 && self(2) == 30)
    assert(self(3) == 10 - 3 && self(4) == 3)
    val byName = Trace.selfByName(spans)
    assert(byName("root") == ((1, 45 / 1e6)))
  }

  test("listener intervals attach under the innermost covering span") {
    val off = 5000000L // epoch ms 0 is 5 ms on the tracer's scale
    val spans = Seq(
      Span(0, -1, 1, "route.a", 0, 100000000L),
      Span(1, 0, 1, "propindex.ensure", 10000000L, 40000000L),
      Span(2, -1, 2, "route.b", 200000000L, 300000000L))
    val got = Trace.attach(spans, Seq(("exec", 10, 20), ("exec", 50, 500),
      ("exec", 150, 160), ("catalyst.analyze", 210, 212)), off, firstId = 3)
    assert(got == Seq(
      Span(3, 1, 1, "exec", 15000000L, 25000000L),
      Span(4, 0, 1, "exec", 55000000L, 100000000L), // clipped to its parent
      Span(5, 2, 2, "catalyst.analyze", 215000000L, 217000000L)))
  }

  test("the event route's tree reads back to the same rendering") {
    val json = """{"_":[{"g":"p0\"x","c":[3,1.5],"_":[{"g":null,"c":[2]},{"g":12,"c":[1]}]},{"g":"b","c":[0]}]}"""
    assert(graft.ResultTree.toJson(Routes.readTree(json)) == json)
    assert(Routes.readTree("""{"_":[]}""").isEmpty)
  }
}
