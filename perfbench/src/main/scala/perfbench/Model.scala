package perfbench

import scala.collection.mutable

/** In-memory model of the rows inserted so far, and the expected answer of
  * every read the workloads make, computed from those rows alone. The
  * renderings follow the route contracts: group trees sort children by
  * count descending then label ascending, property counts the same way,
  * customer histories by stamp (stamps are unique per customer). */
final class Model {
  private val rows = mutable.ArrayBuffer[Ev]()
  private val byId = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Ev]]()
  private val stampSets = mutable.HashMap[String, mutable.HashSet[Long]]()
  private var bytes = 0L

  def add(evs: Seq[Ev]): Unit = evs.foreach { e =>
    rows += e
    byId.getOrElseUpdate(e.id, mutable.ArrayBuffer()) += e
    stampSets.getOrElseUpdate(e.id, mutable.HashSet()) += e.stamp
    bytes += e.json.length + 1
  }

  def rowCount: Int = rows.size
  def rowAt(i: Int): Ev = rows(i)
  def inputBytes: Long = bytes
  def stampsOf(id: String): collection.Set[Long] =
    stampSets.getOrElse(id, Set.empty[Long])

  /** A customer's events in stamp order. */
  def history(id: String): Seq[Ev] =
    byId.get(id).map(_.sortBy(_.stamp).toSeq).getOrElse(Nil)

  private def persons: Iterator[(String, Seq[Ev])] =
    byId.iterator.map { case (id, evs) => id -> evs.sortBy(_.stamp).toSeq }

  // ------------------------------------------------------------ renderings

  /** `count id` group tree: every path a person tallies counts that person
    * once at each of its prefix nodes. */
  def tree(paths: Seq[Ev] => Set[Vector[String]]): String = {
    val members = mutable.HashMap[Vector[String], mutable.HashSet[String]]()
    persons.foreach { case (id, evs) =>
      paths(evs).foreach { p =>
        (1 to p.length).foreach(d =>
          members.getOrElseUpdate(p.take(d), mutable.HashSet()) += id)
      }
    }
    def level(prefix: Vector[String]): Seq[String] =
      members.keys.filter(k => k.length == prefix.length + 1 && k.startsWith(prefix))
        .toSeq.map(k => (k, members(k).size))
        .sortBy { case (k, n) => (-n, k.last) }
        .map { case (k, n) =>
          val kids = level(k)
          val sub = if (kids.isEmpty) "" else kids.mkString(",\"_\":[", ",", "]")
          s"""{"g":${Model.str(k.last)},"c":[$n]$sub}"""
        }
    level(Vector.empty).mkString("{\"_\":[", ",", "]}")
  }

  /** Segment route answer: members per definition, in definition order. */
  def segments(defs: Seq[(String, Seq[Ev] => Boolean)]): String =
    defs.map { case (name, member) =>
      val n = persons.count { case (_, evs) => member(evs) }
      s"""{"segment":"$name","count":$n}"""
    }.mkString("[", ",", "]")

  /** Property route answer for a text prop: distinct customers per value. */
  def property(prop: Ev => String): String = {
    val m = mutable.HashMap[String, mutable.HashSet[String]]()
    rows.foreach(e => m.getOrElseUpdate(prop(e), mutable.HashSet()) += e.id)
    m.toSeq.map { case (v, ids) => (v, ids.size) }
      .sortBy { case (v, n) => (-n, v) }
      .map { case (v, n) => s"""{"value":${Model.str(v)},"customers":$n}""" }
      .mkString("[", ",", "]")
  }

  /** Customer route answer. */
  def customer(id: String): String =
    history(id).map { e =>
      s"""{"stamp":${e.stamp},"event":${Model.str(e.event)},"product":${Model.str(e.product)},"qty":${e.qty},"price":${Model.num(e.price)}}"""
    }.mkString(s"""{"id":${Model.str(id)},"events":[""", ",", "]}")

  /** Histogram route answer: one value per person, bucketed by
    * `floor(v / b) * b`, distinct persons per bucket, then the reference's
    * fill: keys below `max` zero-fill from `min`, everything at or above
    * `max` totals into the `max` branch. */
  def histogram(name: String, value: Seq[Ev] => Double, bucket: Double,
                min: Double, max: Double): String = {
    val counts = mutable.HashMap[Double, Long]()
    persons.foreach { case (_, evs) =>
      val g = math.floor(value(evs) / bucket).toLong * bucket
      counts(g) = counts.getOrElse(g, 0L) + 1
    }
    Model.histogramJson(name, counts.toSeq, bucket, min, max)
  }
}

object Model {
  /** The histogram route's rendering with `bucket`, `min` and `max` set:
    * keys below `max` zero-fill from `min`; keys at or above `max` total
    * into the `max` branch. */
  def histogramJson(name: String, rows: Seq[(Double, Long)], bucket: Double,
                    min: Double, max: Double): String = {
    val body =
      if (rows.isEmpty) Nil
      else {
        val overflow = rows.filter(_._1 >= max).map(_._2).sum
        val kept = rows.filter(_._1 < max).toMap
        val k0 = math.floor(min / bucket)
        val fill = Iterator.from(0).map(i => (k0 + i) * bucket).takeWhile(_ < max)
          .filterNot(kept.contains).map(_ -> 0L).toSeq
        (kept.toSeq ++ fill :+ (max -> overflow)).sortBy(_._1)
      }
    body.map { case (g, c) => s"""{"g":${num(g)},"c":$c}""" }
      .mkString(s"""{"name":"$name","histogram":[""", ",", "]}")
  }

  def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Doubles render as the routes render them: integral values without a
    * fraction, others with Java's shortest round-trip form. */
  def num(d: Double): String =
    if (d == d.floor && math.abs(d) < 1e15) d.toLong.toString else d.toString
}
