package perfbench

import scala.collection.mutable

/** One generated CDP event. `cents` carries the price exactly (two
  * decimals, so the engine's x10,000 fixed-point sums stay exact). */
final case class Ev(id: String, stamp: Long, event: String, product: String,
                    qty: Long, cents: Long) {
  def price: Double = cents / 100.0

  /** The insert body line, in the table's schema order. */
  def json: String = {
    val p = s"${cents / 100}.${"%02d".format(cents % 100)}"
    s"""{"id":"$id","stamp":$stamp,"event":"$event","product":"$product","qty":$qty,"price":$p}"""
  }
}

/** Seeded CDP event generator shared by the workloads. Everything it emits
  * is a function of the seed (and, for live batches, of the batches before
  * it): the same seed gives the same bytes.
  *
  *  - customer activity is skewed (Pareto event counts, capped well under
  *    the table's `eventMax`);
  *  - 8 event types with fixed weights, a text prop (`product`), an int
  *    prop (`qty`) and a two-decimal double (`price`);
  *  - stamps are unique per customer (no exact-duplicate rows, no stamp
  *    ties) and lie inside the TTL before [[Gen.Now]].
  */
object Gen {
  /** The fixed `nowMs` every query and insert runs at: 2024-01-01T00:00Z. */
  val Now = 1704067200000L
  val DayMs = 86400000L
  /** History window of the initial table (well inside the 5-year TTL). */
  val HistoryMs = 120L * DayMs
  val MaxPerCustomer = 400

  val Events = Vector("view", "search", "click", "cart", "purchase", "signup",
    "share", "support")
  private val eventWeights = Vector(30, 15, 20, 10, 8, 2, 5, 10)
  val Products: Vector[String] = Vector.tabulate(24)(i => f"p$i%02d")

  def customerId(i: Int): String = f"c$i%06d"

  private def pick[T](r: scala.util.Random, xs: Vector[T], weights: Vector[Int]): T = {
    var u = r.nextInt(weights.sum)
    var i = 0
    while (u >= weights(i)) { u -= weights(i); i += 1 }
    xs(i)
  }

  /** Zipf-like product popularity. */
  private val productWeights = Vector.tabulate(Products.size)(i => 240 / (i + 1) + 1)

  private def event(r: scala.util.Random, id: String, stamp: Long): Ev =
    Ev(id, stamp, pick(r, Events, eventWeights), pick(r, Products, productWeights),
      1L + r.nextInt(5), 100L + r.nextInt(30000))

  /** Pareto-distributed event count per customer: most customers are
    * light, a few are heavy. */
  private def activity(r: scala.util.Random, mean: Int): Int = {
    val xm = math.max(1.0, mean / 3.0) // alpha 1.5 → mean = 3 xm
    val n = (xm / math.pow(1.0 - r.nextDouble(), 1.0 / 1.5)).toInt
    math.max(1, math.min(MaxPerCustomer, n))
  }

  /** Distinct millisecond stamps in [lo, hi). */
  private def stamps(r: scala.util.Random, n: Int, lo: Long, hi: Long,
                     taken: collection.Set[Long]): Array[Long] = {
    val out = mutable.LinkedHashSet[Long]()
    while (out.size < n) {
      val s = lo + (r.nextDouble() * (hi - lo)).toLong
      if (!taken.contains(s)) out += s
    }
    out.toArray.sorted
  }

  /** The initial table: `customers` customers with exactly
    * `customers * mean` events between them, in customer order. The skewed
    * counts are nudged up or down on random customers until they hit the
    * total, so every seed loads the same volume. */
  def history(seed: Long, customers: Int, mean: Int): Vector[Ev] = {
    val r = new scala.util.Random(seed)
    val counts = Array.fill(customers)(activity(r, mean))
    var excess = counts.map(_.toLong).sum - customers.toLong * mean
    while (excess != 0) {
      val c = r.nextInt(customers)
      if (excess > 0 && counts(c) > 1) { counts(c) -= 1; excess -= 1 }
      else if (excess < 0 && counts(c) < MaxPerCustomer) { counts(c) += 1; excess += 1 }
    }
    val out = Vector.newBuilder[Ev]
    counts.indices.foreach { c =>
      val id = customerId(c)
      stamps(r, counts(c), Now - HistoryMs, Now, Set.empty)
        .foreach(s => out += event(r, id, s))
    }
    out.result()
  }

  /** Live insert batch `k`: 80% of its events go to existing customers
    * (chosen by activity, so active customers get more), 20% to new ones;
    * all stamps fall in the last day before [[Gen.Now]] and never collide
    * with a stamp the customer already has. `state` is the model the batch
    * extends; it is only read. */
  def liveBatch(seed: Long, k: Int, size: Int, state: Model): Vector[Ev] = {
    val r = new scala.util.Random(seed * 1000003L + k)
    val picked = mutable.LinkedHashMap[String, Int]()
    (0 until size).foreach { i =>
      val id =
        if (r.nextInt(5) < 4 && state.rowCount > 0) state.rowAt(r.nextInt(state.rowCount)).id
        else customerId(1000000 + k * size + i)
      picked(id) = picked.getOrElse(id, 0) + 1
    }
    picked.toVector.flatMap { case (id, n) =>
      stamps(r, n, Now - DayMs, Now, state.stampsOf(id)).map(s => event(r, id, s))
    }
  }
}
