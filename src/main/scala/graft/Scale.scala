package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scaling harness: measures how the scale-critical registry queries behave
  * as the corpus grows, on data larger than the test sets — deterministic ×N
  * replicas of the sf0.1 tables written to /tmp (key ids offset per replica,
  * document texts perturbed with a replica-unique token so near-dup
  * structure is preserved but exact collapse across replicas is impossible;
  * event user ids offset so the person population scales with the data).
  *
  * Every leg is a [[Queries.allQueries]] entry run by name over the replica
  * directory, so Scale times the same oracle-checked queries Bench and
  * Trace time. `runMain graft.Scale [factors] [leg filter]` (default
  * factors `1,4,10`) prints one cold/warm wall-second pair per (leg,
  * factor) plus a least-squares scaling exponent — the evidence behind
  * SCALING.md. A query whose cost is linear in input with constant overhead
  * shows an exponent well below 1 at these sizes; anything super-linear (a
  * hidden self-join, an unbounded collect) shows >1 and fails loudly here
  * long before a 1000-executor run would.
  */
object Scale {
  private val usage = "usage: graft.Scale <factor,factor[,...]> [leg filter]"

  /** The default legs, in run order: the dedup and text kernels, the event
    * aggregations, the ANN family (cold runs include the index build, and
    * the eval set stays the 10 base queries at every factor), and the
    * Tier-A OSL shapes, whose windows all ride one (id, stamp) sort so cost
    * must scale with events/cores, never with persons². */
  val legs: Seq[String] = Seq(
    "q_dedup_exact", "q_minhash_lsh_pairs", "q_neardup_star",
    "q_dup_span_coverage", "q_bm25_topk", "q_funnel3", "q_sessions_per_user",
    "q_event_type_counts", "q_kmeans_clusters", "q_bloom_semijoin",
    "q_source_drift", "q_skew_distinct", "q_osl_ever_read",
    "q_osl_chain_accum", "q_ann_ivf_topk", "q_ann_pq_topk", "q_ann_lsh_topk",
    "q_ann_recall", "q_osl_where_read", "q_osl_chain3_accum",
    "q_osl_reverse_chain_accum", "q_osl_chain3_framed", "q_osl_chain3_limited",
    "q_osl_chain4_guarded", "q_osl_chain4_limited", "q_osl_chain_reverse_inner",
    "q_osl_from_accum", "q_osl_chain_mixed_guard", "q_osl_chain3_both",
    "q_osl_chain3_rev_deep", "q_osl_chain3_restart", "q_osl_chain3_rev_mid",
    "q_osl_chain3_dual_rev", "q_osl_chain4_rev", "q_osl_multi_accum",
    "q_osl_mixed_shift_guard", "q_osl_chain3_restart_framed_mixed",
    "q_osl_mixed_reverse_top", "q_osl_mixed_suffix_guard",
    "q_osl_chain3_rev_deep_limited", "q_osl_chain4_rev_mid",
    "q_osl_chain_ever_read", "q_osl_prop_accum",
    "q_osl_chain3_restart_framed_limited", "q_osl_where_dynamic_dual",
    "q_osl_where_dynamic_carried")

  /** Tables grown ×N, with the key columns each replica offsets. Every
    * other table is linked unchanged, so dimension joins see the base rows. */
  val replicated: Map[String, Seq[String]] = Map(
    "documents" -> Seq("doc_id"),
    "events" -> Seq("event_id", "user_id"),
    "embeddings" -> Seq("vec_id"),
    "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey"))

  /** The factors and legs `args` select, or why they are unusable. Checked
    * before Spark starts or any replica is written. The optional second
    * argument keeps the legs whose name contains one of its comma-separated
    * substrings (`ann_` for the ANN family, `a,b` for two shapes). */
  def parseArgs(args: Seq[String],
                names: Seq[String] = legs): Either[String, (Seq[Int], Seq[String])] = {
    val factors = args.headOption.getOrElse("1,4,10")
      .split(",").map(_.trim.toInt).toSeq
    val filter = args.lift(1).getOrElse("").split(",").map(_.trim).filter(_.nonEmpty)
    val unknown = names.filterNot(Queries.allQueries.contains)
    val selected = names.filter(l => filter.isEmpty || filter.exists(l.contains))
    // the exponent is a slope over log(factor): one distinct factor has none
    if (factors.distinct.size < 2)
      Left("the scaling exponent needs at least two distinct factors, got " +
        factors.mkString(","))
    else if (unknown.nonEmpty)
      Left(s"legs missing from the query registry: ${unknown.mkString(",")}")
    else if (selected.isEmpty)
      Left(s"no leg matches the filter ${filter.mkString(",")}")
    else Right((factors, selected))
  }

  /** Writes the ×`n` replica of the tables in `base` as `out/<table>.parquet`
    * (the layout [[Tables.path]] reads) and returns `out`. Replica `r`
    * offsets each [[replicated]] key column by r·10⁷ (at its own type) and,
    * for r > 0, appends ` rep<r>` to a `text` column. A replicated table
    * whose earlier write finished is kept; unreplicated tables are
    * symlinked to the base file. */
  def replicate(spark: SparkSession, base: String, out: String, n: Int): String = {
    Tables.all.foreach { table =>
      val src = Paths.get(Tables.path(base, table)).toAbsolutePath
      val dst = Paths.get(Tables.path(out, table))
      replicated.get(table) match {
        case _ if !Files.exists(src) =>
        case Some(keys) if !Files.exists(dst.resolve("_SUCCESS")) =>
          val df = spark.read.parquet(src.toString)
          val reps = (0 until n).map { r =>
            val shifted = keys.foldLeft(df)((d, c) =>
              d.withColumn(c, (col(c) + lit(r * 10000000L)).cast(df.schema(c).dataType)))
            if (r > 0 && df.columns.contains("text"))
              shifted.withColumn("text", concat(col("text"), lit(s" rep$r")))
            else shifted
          }
          reps.reduce(_ unionByName _)
            .repartition(spark.sparkContext.defaultParallelism)
            .write.mode("overwrite").parquet(dst.toString)
        case None if !Files.exists(dst, java.nio.file.LinkOption.NOFOLLOW_LINKS) =>
          Files.createDirectories(dst.getParent)
          Files.createSymbolicLink(dst, src)
        case _ =>
      }
    }
    out
  }

  /** Least-squares slope of log(t) on log(factor): the scaling exponent. */
  def exponent(factors: Seq[Int], times: Seq[Double]): Double = {
    val xs = factors.map(f => math.log(f.toDouble))
    val ys = times.map(math.log)
    val xm = xs.sum / xs.size; val ym = ys.sum / ys.size
    xs.zip(ys).map { case (x, y) => (x - xm) * (y - ym) }.sum /
      xs.map(x => (x - xm) * (x - xm)).sum
  }

  def main(args: Array[String]): Unit = {
    val (factors, selected) = parseArgs(args.toSeq) match {
      case Right(p) => p
      case Left(why) =>
        System.err.println(s"$usage: $why")
        sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = "/root/testdata/sf0.1"
    val dirs = factors.map(f => replicate(spark, base, s"/tmp/graft_scale/x$f", f))

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def run(name: String, dir: String): Unit =
      Queries.allQueries(name)(spark, dir).write.mode("overwrite").format("noop").save()

    // untimed JVM/codegen warm-up against the BASE tables: without it the
    // first leg's x1 cold time absorbs session start-up and skews its
    // fitted exponent (a 10s warm-up at x1 reads as a NEGATIVE slope).
    // The base paths differ from every replica path, so memoized index
    // stages stay COLD for all measured runs.
    selected.foreach(run(_, base))
    val width = selected.map(_.length).max
    println(s"%-${width}s ".format("leg") +
      factors.map(f => f"${s"x$f cold/warm"}%16s").mkString(" ") + " exponent(cold)")
    val rows = selected.map { name =>
      // cold = first run at each factor (includes any index/memo build —
      // the part that actually scales with data); warm = min of 2 repeats
      // (steady-state with memoized index stages hot). The exponent is fit
      // on COLD times: a memo hit would otherwise hide super-linear builds.
      val times = dirs.map { dir =>
        val cold = time(run(name, dir))
        val warm = (1 to 2).map(_ => time(run(name, dir))).min
        (cold, warm)
      }
      val slope = exponent(factors, times.map(_._1))
      println(s"%-${width}s ".format(name) +
        times.map(t => f"${t._1}%7.2f/${t._2}%-7.2f").mkString + f" $slope%8.2f")
      (name, slope)
    }
    val worst = rows.maxBy(_._2)
    println(f"WORST ${worst._1} exponent=${worst._2}%.2f")
    spark.stop()
  }
}
