package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling harness: measures how the scale-critical operators behave as the
  * corpus grows, on data the driver does not ship — deterministic ×N
  * replicas of the sf0.1 tables written to /tmp (doc ids offset per replica,
  * texts perturbed with a replica-unique token so near-dup structure is
  * preserved but exact collapse across replicas is impossible; event user
  * ids offset so the person population scales with the data).
  *
  * `runMain graft.Scale [factors]` (default `1,4,10`) prints one wall-second
  * line per (operator, factor) plus a least-squares scaling exponent — the
  * evidence behind SCALING.md. An operator whose cost is linear in input
  * with constant overhead shows an exponent well below 1 at these sizes;
  * anything super-linear (a hidden self-join, a driver bottleneck) shows >1
  * and fails loudly here long before a 1000-executor run would.
  */
object Scale {
  def main(args: Array[String]): Unit = {
    val factors = args.headOption.getOrElse("1,4,10")
      .split(",").map(_.trim.toInt).toSeq
    // the exponent is a slope over log(factor): one distinct factor has none
    if (factors.distinct.size < 2) {
      System.err.println("usage: graft.Scale <factor,factor[,...]> [operator filter]" +
        s": the scaling exponent needs at least two distinct factors, got ${factors.mkString(",")}")
      sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = "/root/testdata/sf0.1"
    val work = "/tmp/graft_scale"

    def replicate(table: String, n: Int, idCols: Seq[String],
                  perturbText: Boolean): String = {
      val out = s"$work/${table}_x$n"
      if (!new java.io.File(out).exists()) {
        val src = spark.read.parquet(s"$base/$table.parquet")
        val reps = (0 until n).map { r =>
          val off = lit(r.toLong * 10000000L)
          val shifted = idCols.foldLeft(src)((df, c) =>
            df.withColumn(c, col(c) + off))
          if (perturbText && r > 0)
            shifted.withColumn("text", concat(col("text"), lit(s" rep$r")))
          else shifted
        }
        reps.reduce(_ unionByName _)
          .repartition(spark.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(out)
      }
      out
    }

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def noop(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    // operator -> (docsPath, eventsPath, embeddingsPath) => DataFrame
    val ops: Seq[(String, (String, String, String) => DataFrame)] = Seq(
      "dedup_exact" -> ((d: String, _: String, _: String) => {
        val docs = spark.read.parquet(d)
        operators.Dedup.exactGroups(docs, col("doc_id"), col("text"))
      }),
      "minhash_lsh_pairs" -> ((d: String, _: String, _: String) => {
        val docs = spark.read.parquet(d)
        operators.Dedup.minhashCandidates(docs, col("doc_id"), col("text"))
      }),
      "neardup_star_cc" -> ((d: String, _: String, _: String) => {
        val docs = spark.read.parquet(d)
        val edges = operators.Dedup.minhashStarEdges(docs, col("doc_id"), col("text"))
        operators.Dedup.connectedComponents(edges, docs.select(col("doc_id")))
          .groupBy(col("label")).agg(count(lit(1)).as("n"))
      }),
      // Round-17 #7: the dedup chain's claimed worst case MEASURED — a
      // pathological boilerplate cluster (|corpus|/10 near-identical docs,
      // distinct texts, ALL landing in the same LSH buckets) through
      // star-edges -> connected components -> edit-distance verify. The
      // hot bucket must cost n−1 edges and n−1 Levenshtein pairs (linear),
      // never the 5·10¹¹-pair collect_list blowup the star layout exists
      // to prevent (Dedup.scala star-edge scaladoc).
      "neardup_hotbucket" -> ((d: String, _: String, _: String) => {
        val base = spark.read.parquet(d).select(col("doc_id"), col("text"))
        val boiler = Seq.tabulate(60)(i => s"w${i % 12}").mkString(" ")
        val nHot = math.max(100L, base.count() / 10)
        val hot = spark.range(nHot).select(
          (col("id") + 900000000L).as("doc_id"),
          concat(lit(boiler + " end"),
            (col("id") % 37).cast("string")).as("text"))
        val docs = base.unionByName(hot)
        val edges = operators.Dedup.minhashStarEdges(docs, col("doc_id"), col("text"))
        val comp = operators.Dedup.connectedComponents(edges, docs.select(col("doc_id")))
          .groupBy(col("label")).agg(count(lit(1)).as("n"))
          .agg(max(col("n")).as("max_cluster"), count(lit(1)).as("n_components"))
        val ver = operators.Dedup.editDistanceVerify(docs, col("doc_id"),
            col("text"), edges, 0.5)
          .agg(count(lit(1)).as("verified_pairs"), avg(col("edit_sim")).as("mean_sim"))
        comp.crossJoin(ver)
      }),
      "dup_span_coverage" -> ((d: String, _: String, _: String) => {
        val docs = spark.read.parquet(d)
        operators.Dedup.duplicatedSpanCoverage(docs, col("doc_id"), col("text"))
      }),
      "bm25_topk" -> ((d: String, _: String, _: String) => {
        val docs = spark.read.parquet(d)
        operators.Similarity.bm25TopK(docs, col("doc_id"), col("text"),
          Seq("data", "model", "training"), 20)
      }),
      "funnel3" -> ((_: String, e: String, _: String) => {
        val ev = normalizeEvents(spark.read.parquet(e))
        operators.EventOps.funnelN(ev, Seq("signup", "purchase", "churn"),
          30L * 24 * 3600 * 1000)
      }),
      "sessions" -> ((_: String, e: String, _: String) => {
        val ev = normalizeEvents(spark.read.parquet(e))
        operators.EventOps.sessionize(ev)
          .groupBy(col("id")).agg(max(col("session")).as("sessions"))
      }),
      "event_tally" -> ((_: String, e: String, _: String) => {
        val ev = normalizeEvents(spark.read.parquet(e))
        ev.groupBy(col("event")).agg(count(lit(1)).as("n"),
          countDistinct(col("id")).as("people"))
      }),
      // Lloyd's k-means: per iteration one scan vs the broadcast centroid
      // matrix + one k×dim partial agg — cost must be linear in vectors
      "kmeans" -> ((_: String, _: String, m: String) => {
        val emb = spark.read.parquet(m)
        operators.Similarity.kmeansCentroids(emb, 4, 2)
      }),
      // Bloom pre-filtered semi-join: erroring users' events. The filter
      // build scales with the (replica-scaled) key set, the probe with the
      // event scan — both linear, no corpus shuffle
      "bloom_semijoin" -> ((_: String, e: String, _: String) => {
        val ev = normalizeEvents(spark.read.parquet(e))
        val errUsers = ev.where(col("event") === "error").select(col("id"))
        operators.BloomOps.bloomSemiJoin(ev, col("id"), errUsers, col("id"))
          .groupBy(col("event")).agg(count(lit(1)).as("n"))
      }),
      // per-source KL drift: one token-bucket kernel scan + bucket-sized
      // model frames — must scale with tokens, never with vocabulary
      "source_drift" -> ((d: String, _: String, _: String) => {
        val docs = spark.read.parquet(d)
        operators.Sampling.groupDriftKL(docs, col("source"), col("text"))
      }),
      // skew-salted exact distinct: two partial-combined hash aggs; the
      // replica-scaled user population is the distinct set
      "salted_distinct" -> ((_: String, e: String, _: String) => {
        val ev = normalizeEvents(spark.read.parquet(e))
        operators.EventOps.saltedDistinctCount(ev, col("event"), col("id"))
      }),
      // round-8 Tier A shapes — all windows over ONE (id, stamp) sort, so
      // cost must scale with events/cores, never with persons²
      "osl_ever_read" -> ((_: String, e: String, _: String) => {
        val ev = normalizeEvents(spark.read.parquet(e))
        graft.osl.OslEngine.query(ev,
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where stamp.is(> 0)
            |  n += 1
            |  if value.ever(> n * 50)
            |    << 'big_history', event
            |  end
            |  << 'all', event
            |end
            |""".stripMargin, now = 1719792000000L)
      }),
      // per-spawn entry arrays: exploded cells scale with signup×purchase
      // pairs per person (the interpreter's own visit count), not corpus²
      "osl_chain_accum" -> ((_: String, e: String, _: String) => {
        val ev = normalizeEvents(spark.read.parquet(e))
        graft.osl.OslEngine.query(ev,
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.continue().next() where event.is(== 'purchase')
            |    << n, event
            |  end
            |end
            |""".stripMargin, now = 1719792000000L)
      }),
      // ANN family (round 9): cold runs include the index build — IVF's
      // centroid assignment, PQ's codebook training loop, LSH's signature
      // scan. That cold path is exactly where an ANN operator could go
      // super-linear; the eval set stays the 10 base queries at every
      // factor, so measured growth is all corpus/index
      "ann_ivf_topk" -> ((_: String, _: String, m: String) => {
        val emb = spark.read.parquet(m)
        operators.Similarity.ivfTopK(emb, emb.where(col("vec_id") < 10), k = 5)
          .select(col("qid"), col("rank"), col("nid"))
      }),
      "ann_pq_topk" -> ((_: String, _: String, m: String) => {
        val emb = spark.read.parquet(m)
        operators.Similarity.pqTopK(emb, emb.where(col("vec_id") < 10), k = 5)
          .select(col("qid"), col("rank"), col("nid"))
      }),
      "ann_lsh_topk" -> ((_: String, _: String, m: String) => {
        val emb = spark.read.parquet(m)
        operators.Similarity.lshTopK(emb, emb.where(col("vec_id") < 10),
          dim = 64, k = 5)
          .select(col("qid"), col("rank"), col("nid"))
      }),
      // recall report = brute force (eval-set bounded) + all three
      // approximate pipelines + semi-join intersections end-to-end
      "ann_recall" -> ((_: String, _: String, m: String) => {
        val emb = spark.read.parquet(m)
        operators.Similarity.annQualityReport(
          emb, emb.where(col("vec_id") < 10), k = 5)
      }),
      // round-9 Tier A shapes: static where-cap (solved to a .limit),
      // depth-3 chain accumulators (collect path + per-tuple existence),
      // ever-read below a chain step (late-bound per-spawn compare)
      "osl_where_read" -> ((_: String, e: String, _: String) => {
        val ev = normalizeEvents(spark.read.parquet(e))
        graft.osl.OslEngine.query(ev,
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'purchase') && n < 3
            |  n += 1
            |  << n, event
            |end
            |""".stripMargin, now = 1719792000000L)
      }),
      "osl_chain3_accum" -> ((_: String, e: String, _: String) => {
        val ev = normalizeEvents(spark.read.parquet(e))
        graft.osl.OslEngine.query(ev,
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.continue().next() where event.is(== 'view')
            |    each_row.continue().next() where event.is(== 'purchase')
            |      << n, event
            |    end
            |  end
            |end
            |""".stripMargin, now = 1719792000000L)
      }),
      "osl_reverse_chain_accum" -> ((_: String, e: String, _: String) => {
        val ev = normalizeEvents(spark.read.parquet(e))
        graft.osl.OslEngine.query(ev,
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |spend = 0
            |each_row.reverse() where event.is(== 'signup')
            |  spend = spend + value
            |  each_row.continue().next() where event.is(== 'purchase')
            |    << bucket(spend, 200), event
            |  end
            |end
            |""".stripMargin, now = 1719792000000L)
      }),
      "osl_chain3_framed" -> ((_: String, e: String, _: String) => {
        val ev = normalizeEvents(spark.read.parquet(e))
        graft.osl.OslEngine.query(ev,
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.continue().next().look_ahead(12_hours) where event.is(== 'view')
            |    each_row.continue().next().look_ahead(24_hours) where event.is(== 'purchase')
            |      << n, event
            |    end
            |  end
            |end
            |""".stripMargin, now = 1719792000000L)
      }),
      "osl_chain3_limited" -> ((_: String, e: String, _: String) => {
        val ev = normalizeEvents(spark.read.parquet(e))
        graft.osl.OslEngine.query(ev,
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.continue().next().look_ahead(12_hours).limit(2) where event.is(== 'view')
            |    each_row.continue().next().look_ahead(24_hours) where event.is(== 'purchase')
            |      << n, event
            |    end
            |  end
            |end
            |""".stripMargin, now = 1719792000000L)
      }),
      "osl_chain4_guarded" -> ((_: String, e: String, _: String) => {
        val ev = normalizeEvents(spark.read.parquet(e))
        graft.osl.OslEngine.query(ev,
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.continue().next() where event.is(== 'view')
            |    if value.is(> 50)
            |      each_row.continue().next() where event.is(== 'click')
            |        if n <= 3
            |          each_row.continue().next() where event.is(== 'purchase')
            |            << n, event
            |          end
            |        end
            |      end
            |    end
            |  end
            |end
            |""".stripMargin, now = 1719792000000L)
      }),
      "osl_chain4_limited" -> ((_: String, e: String, _: String) => {
        val ev = normalizeEvents(spark.read.parquet(e))
        graft.osl.OslEngine.query(ev,
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.continue().next() where event.is(== 'view')
            |    each_row.continue().next() where event.is(== 'click')
            |      each_row.continue().next().look_ahead(48_hours).limit(1) where event.is(== 'purchase')
            |        << n, event
            |      end
            |    end
            |  end
            |end
            |""".stripMargin, now = 1719792000000L)
      }),
      "osl_chain_reverse_inner" -> ((_: String, e: String, _: String) => {
        val ev = normalizeEvents(spark.read.parquet(e))
        graft.osl.OslEngine.query(ev,
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'purchase')
            |  n += 1
            |  each_row.continue().next().reverse().look_back(24_hours).limit(2) where event.is(== 'view')
            |    << n, event
            |  end
            |end
            |""".stripMargin, now = 1719792000000L)
      }),
      "osl_from_accum" -> ((_: String, e: String, _: String) => {
        val ev = normalizeEvents(spark.read.parquet(e))
        graft.osl.OslEngine.query(ev,
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.from(0).look_back(24_hours) where event.is(== 'view')
            |    << n, event
            |  end
            |end
            |""".stripMargin, now = 1719792000000L)
      }),
      "osl_chain_mixed_guard" -> ((_: String, e: String, _: String) => {
        val ev = normalizeEvents(spark.read.parquet(e))
        graft.osl.OslEngine.query(ev,
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.continue().next() where event.is(== 'view')
            |    if get_hour(stamp) > n
            |      each_row.continue().next() where event.is(== 'purchase')
            |        << n, event
            |      end
            |    end
            |  end
            |end
            |""".stripMargin, now = 1719792000000L)
      }),
      "osl_chain3_both" -> ((_: String, e: String, _: String) => {
        val ev = normalizeEvents(spark.read.parquet(e))
        graft.osl.OslEngine.query(ev,
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.continue().next().limit(2) where event.is(== 'view')
            |    each_row.continue().next().limit(2) where event.is(== 'purchase')
            |      << n, event
            |    end
            |  end
            |end
            |""".stripMargin, now = 1719792000000L)
      }),
      "osl_chain3_rev_deep" -> ((_: String, e: String, _: String) => {
        val ev = normalizeEvents(spark.read.parquet(e))
        graft.osl.OslEngine.query(ev,
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.continue().next() where event.is(== 'view')
            |    each_row.continue().next().reverse().look_back(24_hours) where event.is(== 'purchase')
            |      << n, event
            |    end
            |  end
            |end
            |""".stripMargin, now = 1719792000000L)
      }),
      "osl_chain3_restart" -> ((_: String, e: String, _: String) => {
        val ev = normalizeEvents(spark.read.parquet(e))
        graft.osl.OslEngine.query(ev,
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.continue().next() where event.is(== 'view')
            |    each_row.from(1).look_back(24_hours) where event.is(== 'purchase')
            |      << n, event
            |    end
            |  end
            |end
            |""".stripMargin, now = 1719792000000L)
      }),
      "osl_chain3_rev_mid" -> ((_: String, e: String, _: String) => {
        val ev = normalizeEvents(spark.read.parquet(e))
        graft.osl.OslEngine.query(ev,
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.continue().next().reverse().look_back(24_hours) where event.is(== 'view')
            |    each_row.continue().next().look_ahead(24_hours) where event.is(== 'purchase')
            |      << n, event
            |    end
            |  end
            |end
            |""".stripMargin, now = 1719792000000L)
      }),
      "osl_chain3_dual_rev" -> ((_: String, e: String, _: String) => {
        val ev = normalizeEvents(spark.read.parquet(e))
        graft.osl.OslEngine.query(ev,
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.continue().next().reverse().look_back(24_hours).limit(2) where event.is(== 'view')
            |    each_row.continue().next().reverse().look_back(12_hours) where event.is(== 'purchase')
            |      << n, event
            |    end
            |  end
            |end
            |""".stripMargin, now = 1719792000000L)
      }),
      "osl_chain4_rev" -> ((_: String, e: String, _: String) => {
        val ev = normalizeEvents(spark.read.parquet(e))
        graft.osl.OslEngine.query(ev,
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.continue().next() where event.is(== 'view')
            |    each_row.continue().next() where event.is(== 'click')
            |      each_row.continue().next().reverse().look_back(24_hours) where event.is(== 'purchase')
            |        << n, event
            |      end
            |    end
            |  end
            |end
            |""".stripMargin, now = 1719792000000L)
      }),
      "osl_multi_accum" -> ((_: String, e: String, _: String) => {
        val ev = normalizeEvents(spark.read.parquet(e))
        graft.osl.OslEngine.query(ev,
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |total = 0
            |n = 0
            |each_row where stamp.is(> 0)
            |  if event.is(== 'purchase')
            |    total += value
            |  end
            |  total += 1
            |  n += 1
            |  << bucket(total, 500), bucket(n, 40)
            |end
            |""".stripMargin, now = 1719792000000L)
      }),
      "osl_mixed_shift_guard" -> ((_: String, e: String, _: String) => {
        val ev = normalizeEvents(spark.read.parquet(e))
        graft.osl.OslEngine.query(ev,
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.continue().next() where event.is(== 'view')
            |    if n + 1 < get_hour(stamp)
            |      each_row.continue().next() where event.is(== 'purchase')
            |        << n, event
            |      end
            |    end
            |  end
            |end
            |""".stripMargin, now = 1719792000000L)
      }),
      "osl_chain3_restart_framed_mixed" -> ((_: String, e: String, _: String) => {
        val ev = normalizeEvents(spark.read.parquet(e))
        graft.osl.OslEngine.query(ev,
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 50
            |each_row where event.is(== 'signup')
            |  n -= 2
            |  each_row.continue().next() where event.is(== 'view')
            |    if n >= get_hour(stamp)
            |      each_row.from(1).look_back(24_hours) where event.is(== 'purchase')
            |        << n, event
            |      end
            |    end
            |  end
            |end
            |""".stripMargin, now = 1719792000000L)
      }),
      "osl_mixed_reverse_top" -> ((_: String, e: String, _: String) => {
        val ev = normalizeEvents(spark.read.parquet(e))
        graft.osl.OslEngine.query(ev,
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row.reverse() where event.is(== 'signup')
            |  n += 1
            |  each_row.continue().next() where event.is(== 'view')
            |    if n > get_hour(stamp)
            |      each_row.continue().next() where event.is(== 'purchase')
            |        << n, event
            |      end
            |    end
            |  end
            |end
            |""".stripMargin, now = 1719792000000L)
      }),
      "osl_mixed_suffix_guard" -> ((_: String, e: String, _: String) => {
        val ev = normalizeEvents(spark.read.parquet(e))
        graft.osl.OslEngine.query(ev,
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 80
            |each_row where event.is(== 'signup')
            |  n -= 7
            |  each_row.continue().next() where event.is(== 'view')
            |    if int(value) >= n
            |      each_row.continue().next().look_ahead(24_hours) where event.is(== 'purchase')
            |        << n, event
            |      end
            |    end
            |  end
            |end
            |""".stripMargin, now = 1719792000000L)
      }),
      "osl_chain3_rev_deep_limited" -> ((_: String, e: String, _: String) => {
        val ev = normalizeEvents(spark.read.parquet(e))
        graft.osl.OslEngine.query(ev,
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.continue().next() where event.is(== 'view')
            |    each_row.continue().next().reverse().look_back(24_hours).limit(2) where event.is(== 'purchase')
            |      << n, event
            |    end
            |  end
            |end
            |""".stripMargin, now = 1719792000000L)
      }),
      "osl_chain4_rev_mid" -> ((_: String, e: String, _: String) => {
        val ev = normalizeEvents(spark.read.parquet(e))
        graft.osl.OslEngine.query(ev,
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.continue().next() where event.is(== 'view')
            |    each_row.continue().next().reverse().look_back(24_hours) where event.is(== 'click')
            |      each_row.continue().next() where event.is(== 'purchase')
            |        << n, event
            |      end
            |    end
            |  end
            |end
            |""".stripMargin, now = 1719792000000L)
      }),
      "osl_chain_ever_read" -> ((_: String, e: String, _: String) => {
        val ev = normalizeEvents(spark.read.parquet(e))
        graft.osl.OslEngine.query(ev,
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.continue().next() where event.is(== 'purchase')
            |    if value.ever(> n * 50)
            |      << n, event
            |    end
            |  end
            |end
            |""".stripMargin, now = 1719792000000L)
      }),
      "osl_prop_accum" -> ((_: String, e: String, _: String) => {
        val ev = normalizeEvents(spark.read.parquet(e))
        graft.osl.OslEngine.query(ev,
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |spend = 0
            |each_row where stamp.is(> 0)
            |  if event.is(== 'purchase')
            |    spend = spend + value
            |  end
            |  << bucket(spend, 200), event
            |end
            |""".stripMargin, now = 1719792000000L)
      }),
      // round 15: framed restart limit at the DEEPEST — the ordinal
      // ladder's per-hop (G, K) struct collect over the inverted-frame
      // bracket; state is capped by the frame's row density, so cost
      // must stay linear in data as replicas multiply the population
      "osl_restart_framed_lim" -> ((_: String, e: String, _: String) => {
        val ev = normalizeEvents(spark.read.parquet(e))
        graft.osl.OslEngine.query(ev,
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.continue().next() where event.is(== 'view')
            |    each_row.from(1).look_back(24_hours).limit(2) where event.is(== 'purchase')
            |      << n, event
            |    end
            |  end
            |end
            |""".stripMargin, now = 1719792000000L)
      }),
      // round 15: the JOINT dual-gate fold + a carried below-chain read —
      // one GatedFold window plus the ordinary funnel machinery; no
      // collect anywhere, so nothing may grow super-linearly
      "osl_dyn_carried" -> ((_: String, e: String, _: String) => {
        val ev = normalizeEvents(spark.read.parquet(e))
        graft.osl.OslEngine.query(ev,
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |k = 0
            |each_row where event.is(== 'signup') && n < value && k < get_hour(stamp)
            |  n += value
            |  k += 1
            |  each_row.continue().next() where event.is(== 'purchase')
            |    << bucket(n, 50), event
            |  end
            |end
            |""".stripMargin, now = 1719792000000L)
      }))

    // optional second arg: run only operators whose name contains one of
    // the comma-separated substrings (e.g. `runMain graft.Scale 1,4,10
    // ann_` for the ANN family, or `a,b` for two specific shapes)
    val opFilter = (if (args.length > 1) args(1) else "")
      .split(",").map(_.trim).filter(_.nonEmpty)
    val selected = ops.filter(o =>
      opFilter.isEmpty || opFilter.exists(o._1.contains))
    // untimed JVM/codegen warm-up against the BASE tables: without it the
    // first operator's x1 cold time absorbs session start-up and skews its
    // fitted exponent (a 10s warm-up at x1 reads as a NEGATIVE slope).
    // The base paths differ from every replica path, so memoized index
    // stages stay COLD for all measured runs.
    selected.foreach { case (_, fn) =>
      noop(fn(s"$base/documents.parquet", s"$base/events.parquet",
        s"$base/embeddings.parquet"))
    }
    println(f"${"operator"}%-20s " +
      factors.map(f => f"${s"x$f cold/warm"}%16s").mkString(" ") + " exponent(cold)")
    val rows = selected.map { case (name, fn) =>
      // cold = first run at each factor (includes any index/memo build —
      // the part that actually scales with data); warm = min of 2 repeats
      // (steady-state with memoized index stages hot). The exponent is fit
      // on COLD times: a memo hit would otherwise hide super-linear builds.
      val times = factors.map { f =>
        val d = replicate("documents", f, Seq("doc_id"), perturbText = true)
        val e = replicate("events", f, Seq("event_id", "user_id"), perturbText = false)
        val m = replicate("embeddings", f, Seq("vec_id"), perturbText = false)
        val cold = time(noop(fn(d, e, m)))
        val warm = (1 to 2).map(_ => time(noop(fn(d, e, m)))).min
        (cold, warm)
      }
      // least-squares slope of log(t_cold) on log(f): the scaling exponent
      val xs = factors.map(f => math.log(f.toDouble))
      val ys = times.map(t => math.log(t._1))
      val xm = xs.sum / xs.size; val ym = ys.sum / ys.size
      val slope = xs.zip(ys).map { case (x, y) => (x - xm) * (y - ym) }.sum /
        xs.map(x => (x - xm) * (x - xm)).sum
      println(f"$name%-20s ${times.map(t => f"${t._1}%7.2f/${t._2}%-7.2f").mkString} $slope%8.2f")
      (name, times.map(_._1), slope)
    }
    val worst = rows.maxBy(_._3)
    println(f"WORST ${worst._1} exponent=${worst._3}%.2f")
    spark.stop()
  }

  /** The OpenSet normalization [[Tables.events]] applies, for a parquet path
    * outside the test-table loader. */
  private def normalizeEvents(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val stamp = raw.schema("ts").dataType match {
      case TimestampType    => unix_millis(col("ts"))
      case TimestampNTZType => unix_millis(col("ts").cast(TimestampType))
      case LongType         => expr("ts div 1000000")
      case other => throw new IllegalArgumentException(s"ts: $other")
    }
    raw.select(col("user_id").as("id"), stamp.as("stamp"),
      col("event_type").as("event"), col("value"), col("props"), col("event_id"))
  }
}
