package graft

/** Plan-quality invariants over the registry queries — the properties that
  * keep these operators viable at 100 TB: filters reach the parquet scan,
  * small dimensions broadcast, projections prune the read schema, and
  * Tier-A-able OSL scripts never fall back to per-customer interpretation.
  * Asserted on the sf0.001 data the driver ships. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Queries.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("customer fetch pushes the id filter into the parquet scan") {
    val p = Customers.history(Tables.events(spark, dir), 42L)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("EqualTo(user_id,42)"), p.take(2000))
  }

  test("small dimension joins broadcast (no shuffle of the fact side)") {
    assert(plan("q_mktsegment_orders").contains("BroadcastHashJoin"))
    assert(plan("q_region_nation_rollup").contains("BroadcastHashJoin"))
    assert(plan("q_customer_prop_enrichment").contains("BroadcastHashJoin"))
  }

  test("projections prune the events read schema to referenced columns") {
    val p = plan("q_event_type_counts")
    // value/event/user_id are read; the props JSON column (carried by the
    // Tables.events projection but unused here) must be pruned at the scan
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.nonEmpty)
    assert(!readSchema.contains("props"), readSchema)
  }

  test("Tier-A-able OSL scripts never interpret (no MapGroups in plan)") {
    for (q <- Seq("q_osl_event_tally", "q_osl_ever_multitally", "q_osl_chain_funnel",
        "q_osl_framed_funnel", "q_osl_guarded_funnel", "q_osl_reverse_funnel",
        "q_osl_funnel_segment", "q_osl_segments", "q_osl_histogram",
        "q_osl_var_tally", // write-only accumulation compiles (round 5)
        "q_osl_accum_tally", // READ accumulator → running-count window (round 5)
        "q_osl_top_range", // framed top loop → constant stamp predicate (round 5)
        "q_osl_guarded_accum", // if-guarded increment → conditional sum (round 7)
        "q_osl_ever_read", // accumulator read in an ever operand (round 8)
        "q_osl_chain_accum", // per-spawn chain accumulator values (round 8)
        "q_osl_prop_accum", // non-literal running prop sum (round 8)
        "q_osl_where_read", // pre-increment where cap -> static limit (round 9)
        "q_osl_chain3_accum", // depth-3 chain accumulators (round 9)
        "q_osl_chain_ever_read", // ever-read below a chain step (round 9)
        "q_osl_reverse_accum", // reverse fp accumulator, DESC running frame (round 10)
        "q_osl_reverse_chain_accum", // reverse CHAIN-top fp accumulator (round 11)
        "q_osl_chain3_framed", // framed inner steps below a depth-3 accum (round 11)
        "q_osl_chain3_limited", // intermediate-step limit below a depth-3 accum (round 11)
        "q_osl_chain3_limit_deep", // deepest-step limit below a depth-3 accum (round 11)
        "q_osl_chain4_guarded", // split guards on deep chain steps (round 11)
        "q_osl_chain4_limited", // framed+limited deepest step at depth 4 (round 11)
        "q_osl_chain_reverse_inner", // reverse inner step, FOLLOWING collect (round 11)
        "q_osl_from_accum", // restart step, inverted-frame two-sided collect (round 11)
        "q_osl_chain_mixed_guard", // mixed accum-vs-row guard, ladder least-fold (round 12)
        "q_osl_chain3_both", // both inner limits, Γ-array at the capped ordinal (round 12)
        "q_osl_chain3_rev_deep", // reverse deepest step, other-side endpoints (round 12)
        "q_osl_chain3_restart", // restart deepest step, inverted-frame endpoints (round 12)
        "q_osl_chain3_rev_mid", // reverse MIDDLE step, tuple-side endpoints (round 12)
        "q_osl_chain3_restart_mid", // restart MIDDLE step, floor folded into counts (round 12)
        "q_osl_chain3_dual_rev", // both steps reverse + rev-mid limit (round 12)
        "q_osl_chain4_rev", // depth-4 reverse deepest, flipped ladder window (round 12)
        "q_osl_mixed_value_guard", // int(value) mixed guard over a double prop (round 12)
        "q_osl_where_dynamic", // dynamic where-cap, GatedFold window (round 15)
        "q_osl_where_dynamic_chain")) // ...and on a chain top (round 15)
      assert(!plan(q).contains("MapGroups"), s"$q fell back to Tier B")
    // the dynamic cap's plan: ONE GatedFold running window on the person
    // exchange, no collect, no static limit machinery (round 15)
    locally {
      val p = plan("q_osl_where_dynamic")
      assert(p.contains("graft_gated_fold"), s"GatedFold missing:\n$p")
      assert(!p.contains("collect_list"))
      val w = p.linesIterator.count(_.trim.startsWith("+- Window"))
      assert(w == 1, s"expected 1 Window node, got $w:\n$p")
    }
    // and an interpreter-only shape does (sanity that the probe works):
    // a guard READING the accumulator observes a mid-visit partial sum ->
    // Tier B (plain conditional increments compile since round 7)
    val tierB = graft.osl.OslEngine.query(
      Tables.events(spark, dir),
      """select
        |  count id as customers
        |end
        |n = 0
        |each_row where event.is(== 'purchase')
        |  if value.is(> n)
        |    n = n + 1
        |  end
        |  << bucket(n, 2)
        |end
        |""".stripMargin, now = Queries.OslNow)
    assert(tierB.queryExecution.executedPlan.toString.contains("MapGroups"))
  }

  test("ordinal chain-accum plan: ONE window, no collected spawn array") {
    // the round-9 ordinal path derives per-spawn entries from
    // sequence(1, running_spawn_count): the witness-struct and row_number
    // windows prune away, and NO collect_list survives — the chain's whole
    // window state is one running count (VERDICT r8 memory item)
    val p = plan("q_osl_chain_accum")
    assert(!p.contains("collect_list"),
      "ordinal chain-accum must not collect spawn tuples")
    val windows = p.linesIterator.count(_.trim.startsWith("+- Window"))
    assert(windows == 1, s"expected exactly one Window node, got $windows:\n$p")
    // round 11 extends the ordinal path to ANY depth of plain steps: the
    // eligible spawns for a level-j row are a PREFIX of the spawn
    // sequence, sized by a running-max ladder — depth 3 is TWO windows
    // (running spawn count + one K level) and depth 4 THREE, with no
    // collected array and no row-bound probe anywhere
    // round 11: guarded deep chains ride the ordinal path too — the
    // row-prop guard folds into a ladder window predicate and the accum
    // guard evaluates per ordinal, so the window count stays at `depth`
    for ((q, w) <- Seq("q_osl_chain3_accum" -> 2, "q_osl_chain4_accum" -> 3,
        "q_osl_chain4_guarded" -> 3,
        // framed+limited deepest step: the final ladder window turns
        // range-bounded and the limit adds the __cdc/__gd pair — since
        // round 18's batched column construction, __cdc's running count
        // lands in the SAME Window node as the co-spec'd ladder level
        // (one fewer pass over the partition buffer), so depth 4 + the
        // __gd level = 4 nodes on the same exchange, still no collect
        "q_osl_chain4_limited" -> 4,
        // round 12: a mixed accum-vs-row guard folds into the ladder as
        // a least(prev, hi) term — in-row arithmetic, no extra window
        "q_osl_chain_mixed_guard" -> 2,
        // round 12: a depth-4 REVERSE deepest step only flips the final
        // ladder window to the following side — still three windows
        "q_osl_chain4_rev" -> 3,
        // round 13: FoldSum rides the same running frame the plain
        // accumulator uses — one extra window column, not a new node
        // class (ADVICE r13: pin the FoldSum plan shape). Round 18's
        // batched construction puts both accumulators in ONE Window node
        // (same spec, one partition pass).
        "q_osl_multi_accum" -> 1,
        // round 14 collect-free shapes: mixed over a framed restart
        // deepest (ladder + bracket window + spawn count), reverse-top
        // mixed (one more full-partition total), non-forward middles
        // (per-level hopWin — same node count as plain depth 4), the
        // restart-deepest limit (a row-level count column), the
        // forward-middle limit (the C/G running pair), and double row
        // sides (in-row floor/ceil arithmetic, no new window)
        // (counts re-pinned in round 18: batched construction lands
        // same-spec window columns in one Window node — fewer partition
        // passes, identical results; see OPTIMIZATION_r18.md §3)
        "q_osl_chain3_restart_framed_mixed" -> 3,
        "q_osl_mixed_reverse_top" -> 2,
        "q_osl_chain4_rev_mid" -> 3,
        "q_osl_chain4_framed_mid" -> 3,
        "q_osl_chain3_restart_limited" -> 3,
        "q_osl_chain4_mid_limited" -> 4,
        "q_osl_mixed_double_guard" -> 2)) {
      val dp = plan(q)
      assert(!dp.contains("collect_list"),
        s"$q must ride the ordinal prefix ladder, not a collect")
      val dw = dp.linesIterator.count(_.trim.startsWith("+- Window"))
      assert(dw == w, s"$q: expected $w Window nodes, got $dw:\n$dp")
    }
    // round-14 exact per-hop shapes DO collect — but over frame-bounded
    // windows (state capped by the frame's row density, never the
    // person's history): reverse limits (deepest + middle), the
    // contra-direction merged-interval union, and the mixed limited
    // deepest. Pin the window count AND that the collect is present.
    for ((q, w) <- Seq("q_osl_chain3_rev_deep_limited" -> 2,
        "q_osl_chain4_rev_mid_limited" -> 3,
        "q_osl_mixed_suffix_guard" -> 2,
        "q_osl_mixed_limited_deepest" -> 2,
        // round 15: framed forward middle limit above a non-monotone
        // level — per-hop (count, K) collect at the limited level
        "q_osl_chain5_mid_limited" -> 4)) {
      val dp = plan(q)
      assert(dp.contains("collect_list"),
        s"$q prices per hop and must carry its frame-bounded collect")
      val dw = dp.linesIterator.count(_.trim.startsWith("+- Window"))
      assert(dw == w, s"$q: expected $w Window nodes, got $dw:\n$dp")
    }
  }

  test("spark.sql works over the registered views (SQL surface)") {
    Tables.registerViews(spark, dir)
    graft.functions.DotProduct.register(spark) // expose graft_dot to raw SQL
    val n = spark.sql(
      "SELECT COUNT(DISTINCT id) FROM events WHERE event = 'purchase'")
      .head().getLong(0)
    assert(n > 0)
    val dot = spark.sql(
      "SELECT graft_dot(CAST(embedding AS ARRAY<DOUBLE>), CAST(embedding AS ARRAY<DOUBLE>)) FROM embeddings LIMIT 1")
      .head().getDouble(0)
    assert(dot > 0.0)
  }

  test("brute-force ANN broadcasts the query side") {
    assert(plan("q_ann_cosine_topk").contains("BroadcastNestedLoopJoin") ||
      plan("q_ann_cosine_topk").contains("BroadcastHashJoin"))
  }

  test("as-of join plans as union + one window — no range/theta join") {
    val p = plan("q_asof_prior_click")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
    assert(p.contains("Union") && p.contains("Window"), p.take(2000))
  }

  test("temperature mix broadcasts the rates; the data side never shuffles") {
    val p = plan("q_temperature_mix")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("extensions rewrite the zip_with/aggregate fold to native graft_dot") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // spark.range (not a LocalRelation — ConvertToLocalRelation would
    // evaluate the whole projection at plan time and hide the rewrite)
    val df = spark.range(2).select(
      when(col("id") === 0, array(lit(1.0), lit(2.0), lit(3.0)))
        .otherwise(array(lit(1.0), lit(2.0))).as("a"), // unequal len -> null
      array(lit(4.0), lit(5.0), lit(6.0)).as("b"))
    val folded = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("d"))
    // the optimizer must have replaced the interpreted fold
    val opt = folded.queryExecution.optimizedPlan.toString
    assert(opt.contains("graft_dot"), opt)
    assert(!opt.contains("aggregate("), opt)
    // ...with identical semantics, including the unequal-length null
    val got = folded.as[Option[Double]].collect().toSet
    assert(got == Set(Some(32.0), None), got.toString)
    // SQL surface: graft_dot resolves through the injected registry entry
    val viaSql = spark.sql("SELECT graft_dot(array(1d, 2d), array(3d, 4d))")
      .as[Double].collect().head
    assert(viaSql == 11.0)
  }

  test("catalog events read back BUCKETED: person-scoped plans carry no exchange and no sort") {
    // Round-16 directive #1: ingested tables are permanently id-bucketed +
    // (id, stamp)-sorted on disk (the reference's layout —
    // src/rpc_insert.cpp:154 hash partitions, src/grid.cpp:1194-1369
    // stamp-sorted grids); the manifest-backed bucketed relation exposes
    // that to Catalyst, so the person exchange AND the per-person sort —
    // the dominant 100 TB cost of every person-scoped query — vanish.
    import org.apache.spark.sql.functions.{count => fcount, lit => flit}
    val api = new Api(spark,
      java.nio.file.Files.createTempDirectory("graft_bkt").toString)
    val now = 1704067200000L
    def ev(id: String, t: Long, e: String, v: Double) =
      s"""{"id":"$id","stamp":"${1704067200L + t}","event":"$e","value":$v}"""
    val batch1 = (0 until 8).flatMap(u => Seq(
      ev(s"u$u", u * 10L, "signup", 1.0),
      ev(s"u$u", u * 10L + 1, "view", 2.0),
      ev(s"u$u", u * 10L + 2, "purchase", 30.0)))
    val batch2 = (0 until 8).map(u => ev(s"u$u", u * 10L + 3, "view", 4.0))
    // "shop" keeps the 32-bucket default, which CoalesceCatalogBuckets
    // sizes down to the local[2] session (2 tasks); "shop2" holds 2
    // buckets, which the rule leaves uncoalesced — the regime in which the
    // scan also claims the (id, stamp) order
    for ((t, buckets) <- Seq("shop" -> 32, "shop2" -> 2)) {
      api.tableCreate(TableMeta(t, Seq(PropDef("value", "double")),
        TableSettings(storageBuckets = buckets)))
      api.insert(t, batch1, nowMs = now)
      api.insert(t, batch2, nowMs = now) // second gen: buckets re-merge
    }
    val events = api.catalog.events("shop")

    // (a) groupBy(id) aggregates in place: zero Exchange anywhere
    val aggPlan = events.groupBy("id").agg(fcount(flit(1)))
      .queryExecution.executedPlan.toString
    assert(!aggPlan.contains("Exchange"), s"person agg still shuffles:\n$aggPlan")
    assert(!aggPlan.contains("Sort"), aggPlan)

    // (b) a Tier-A OSL chain funnel over the uncoalesced table: the person
    // window rides the bucket layout — no id exchange, no (id, stamp)
    // sort; the only exchange left is the final tiny result-tree rollup
    val chain = graft.osl.OslEngine.query(api.catalog.events("shop2"),
      """select
        |  count id as customers
        |  sum value as total_value
        |end
        |each_row where event.is(== 'signup')
        |  << 'signup'
        |  each_row.continue().next() where event.is(== 'view')
        |    each_row.continue().next() where event.is(== 'purchase')
        |      << 'converted'
        |    end
        |  end
        |end
        |""".stripMargin, now = now + 86400000L)
    val p = chain.queryExecution.executedPlan.toString
    assert(!p.contains("MapGroups"), s"chain fell back to Tier B:\n$p")
    assert(!p.contains("Exchange hashpartitioning(id"),
      s"person window still pays the id exchange:\n$p")
    val stampSorts = p.linesIterator
      .filter(l => l.trim.startsWith("+- Sort") || l.trim.startsWith("Sort "))
      .filter(_.contains("stamp"))
    assert(stampSorts.isEmpty,
      s"person window still sorts by stamp:\n${stampSorts.mkString("\n")}\n$p")
    // parity: the bucketed-path rows are exactly the committed snapshot
    val got = events.collect().map(_.toString).sorted.toSeq
    assert(got.size == 32, s"expected 32 committed rows, got ${got.size}")
    assert(chain.collect().nonEmpty)

    // (c) single-customer fetch: filter-only plan — no exchange, no sort,
    // and bucket pruning reaches the scan (SelectedBucketsCount)
    val cust = api.catalog.customerEvents("shop", "u3")
    val cp = cust.queryExecution.executedPlan.toString
    assert(!cp.contains("Exchange") && !cp.contains("Sort"), cp)
    assert(cust.count() == 4)

    // (d) the claimed HashPartitioning is TRUTHFUL (murmur3 = Spark's own
    // bucket hash): a join against a genuinely SHUFFLED side co-partitions
    // correctly — the silent-corruption case a false claim would hit
    import spark.implicits._
    val shuffled = (0 until 8).map(u => (s"u$u", u)).toDF("id", "tag")
      // forces a real HashPartitioning exchange on the other side
      .repartition(org.apache.spark.sql.functions.col("id"))
    val joined = api.catalog.events("shop").groupBy("id")
      .agg(fcount(flit(1)).as("n")).hint("merge")
      .join(shuffled, Seq("id"))
    // a false claim silently DROPS rows here (the sides would co-partition
    // under two different hashes) — the values check is the real guard
    val rows = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows == (0 until 8).map(u => s"u$u" -> 4L).toMap,
      s"co-partitioned join dropped rows — the partitioning claim is false: $rows")
    // and the bucketed side itself contributed no shuffle: the SMJ's left
    // (agg-over-scan) subtree is exchange-free — the OTHER side conformed
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ShuffleQueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val pl = joined.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val smj = findSmj(pl)
    assert(smj.isDefined, s"expected a sort-merge join:\n$pl")
    val leftShuffles = smj.get.left.collect {
      case e: ShuffleExchangeLike => e
      case q: ShuffleQueryStageExec => q
    }
    assert(leftShuffles.isEmpty,
      s"bucketed join side re-exchanged:\n${smj.get.left}")
  }

  test("catalog-backed registry queries ride the bucketed store") {
    // q_catalog_funnel reads the 32-bucket CatalogStore, which
    // CoalesceCatalogBuckets sizes to the local[2] session: two tasks, the
    // person window still exchange-free (HashPartitioning(id, 2) is
    // truthful for 2 | 32) and still Tier A
    val funnel = Queries.queries("q_catalog_funnel")(spark, dir)
    val fp = funnel.queryExecution.executedPlan.toString
    assert(!fp.contains("MapGroups"), s"catalog funnel fell back to Tier B:\n$fp")
    assert(!fp.contains("Exchange hashpartitioning(id"),
      s"catalog funnel still pays the person exchange:\n$fp")
    val coalesced = scansOf(funnel.queryExecution.executedPlan)
      .map(_.optionalNumCoalescedBuckets)
    assert(coalesced.nonEmpty && coalesced.forall(_ == Some(2)),
      s"expected the 32-bucket scan coalesced to 2 tasks, got $coalesced\n$fp")
    // the same funnel over a 2-bucket twin of the store, which the rule
    // leaves uncoalesced: the person window needs NO id exchange and NO
    // stamp sort — the storage layout carries both (round 16)
    val twinCat = new Catalog(spark,
      java.nio.file.Files.createTempDirectory("graft_twin").toString)
    twinCat.create(TableMeta("twin",
      Seq(PropDef("value", "double"), PropDef("props", "text"),
        PropDef("event_id", "int")),
      TableSettings(idTextual = false, eventMax = 10000000, storageBuckets = 2)))
    twinCat.insert("twin", Tables.events(spark, dir), nowMs = Queries.OslNow)
    val twin = graft.osl.OslEngine.query(twinCat.events("twin"),
        QueriesOsl.ChainFunnelScript, now = Queries.OslNow)
      .select("depth", "g1", "g2", "customers", "n_rows", "total_value")
    val p = twin.queryExecution.executedPlan.toString
    assert(!p.contains("MapGroups"), s"catalog funnel fell back to Tier B:\n$p")
    assert(!p.contains("Exchange hashpartitioning(id"),
      s"catalog funnel still pays the person exchange:\n$p")
    val stampSorts = p.linesIterator
      .filter(l => l.contains("Sort [") && l.contains("stamp"))
    assert(stampSorts.isEmpty, s"catalog funnel still sorts by stamp:\n$p")
    // both bucket counts give the same tree
    assert(twin.collect().map(_.toString).sorted.toSeq ==
      funnel.collect().map(_.toString).sorted.toSeq)
    // q_catalog_customer: pruned to the id's hash bucket, filter-only plan
    val cp = plan("q_catalog_customer")
    assert(!cp.contains("Exchange") && !cp.contains("Sort ["), cp.take(3000))
    val pf = cp.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("__bucket"), s"customer fetch lost bucket pruning: $pf")
  }

  test("date-partitioned catalog store prunes event_date for framed scans (round-17 #1)") {
    // q_catalog_range_tally scans the DATED ingested store with a
    // statically-bounded `.range()` frame: the executed plan must carry
    // event_date PartitionFilters with BOTH bounds, open strictly fewer
    // files than the store holds, and keep the exchange-free person claim.
    val df = Queries.queries("q_catalog_range_tally")(spark, dir)
    val executed = df.queryExecution.executedPlan
    val p = executed.toString
    val pf = p.linesIterator.find(l =>
      l.contains("PartitionFilters") && l.contains("event_date")).getOrElse("")
    assert(pf.contains(">=") && pf.contains("<="),
      s"expected two-sided event_date partition bounds, got: $pf\n${p.take(3000)}")
    assert(!p.contains("Exchange hashpartitioning(id"),
      s"dated store lost the bucket partitioning claim:\n$p")
    // the scan's selected file set is a strict subset of the live store
    val scans = scansOf(executed)
    assert(scans.nonEmpty, p.take(2000))
    val selected = scans.map(_.selectedPartitions.totalNumberOfFiles).sum
    val total = scans.map(_.relation.location.inputFiles.length.toLong).sum
    assert(selected > 0 && selected < total,
      s"expected pruned file set, got $selected of $total")
    // the frame covers 11 calendar days: per bucket at most 11 of the
    // store's date splits stay selected
    val perBucket = scans.map(_.selectedPartitions.partitionCount).sum
    val buckets = 32 // CatalogStore default storage_buckets
    assert(perBucket <= 11 * buckets,
      s"expected <= ${11 * buckets} (bucket, date) partitions, got $perBucket")
    // row parity with the same script over the raw frame (oracle double-
    // checks in CI; this guards the pruning itself against row loss)
    val script =
      """select
        |  count id as customers
        |  count event as n_rows
        |  sum value as total_value
        |end
        |each_row.range('2024-01-10T00:00:00Z', '2024-01-20T00:00:00Z') where event.is(== 'purchase')
        |  << get_day_of_week(stamp), event
        |end
        |""".stripMargin
    val raw = graft.osl.OslEngine.query(Tables.events(spark, dir), script,
        now = Queries.OslNow)
      .select(org.apache.spark.sql.functions.col("depth"),
        org.apache.spark.sql.functions.col("g1"),
        org.apache.spark.sql.functions.col("g2"),
        org.apache.spark.sql.functions.col("customers"),
        org.apache.spark.sql.functions.col("n_rows"),
        org.apache.spark.sql.functions.col("total_value"))
      .collect().map(_.toString).sorted.toSeq
    val got = df.collect().map(_.toString).sorted.toSeq
    assert(got == raw, s"dated store diverged:\n got=$got\n exp=$raw")
    assert(got.nonEmpty)
  }

  test("date-partitioned store: single-date frames reclaim the sort-free claim") {
    // The adjudicated trade (round-17 #1): date splits cost the (id, stamp)
    // order claim on UNFRAMED scans (multi-file buckets -> Spark re-sorts,
    // exchange-free), but a frame pruning to ONE date leaves one file per
    // selected bucket and Spark's own single-file check restores the claim.
    // 2 buckets: a count CoalesceCatalogBuckets leaves uncoalesced on the
    // local[2] session (a coalesced scan never claims the order)
    import org.apache.spark.sql.functions.{count => fcount, lit => flit}
    val api = new Api(spark,
      java.nio.file.Files.createTempDirectory("graft_dated").toString)
    api.tableCreate(TableMeta("shopd", Seq(PropDef("value", "double")),
      TableSettings(datePartition = true, storageBuckets = 2)))
    val day = 86400000L
    val d0 = 1704067200000L // 2024-01-01T00:00Z
    def ev(id: String, ms: Long, e: String, v: Double) =
      s"""{"id":"$id","stamp":$ms,"event":"$e","value":$v}"""
    val batch = for (u <- 0 until 6; d <- 0 until 5) yield
      ev(s"u$u", d0 + d * day + u * 1000L, if (d % 2 == 0) "view" else "purchase", d.toDouble)
    api.insert("shopd", batch, nowMs = d0 + 30 * day)
    // (a) unframed person agg: exchange-free (order claim legitimately lost)
    val full = api.catalog.events("shopd")
    val aggPlan = full.groupBy("id").agg(fcount(flit(1)))
      .queryExecution.executedPlan.toString
    assert(!aggPlan.contains("Exchange hashpartitioning(id"),
      s"dated store lost the bucket claim:\n$aggPlan")
    assert(full.count() == 30)
    // (b) one-day frame: sort-free AND exchange-free window plan
    val framed = api.catalog.eventsFramed("shopd", d0 + 2 * day, d0 + 2 * day + day - 1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("stamp")
    val ranked = framed.withColumn("rn",
      org.apache.spark.sql.functions.row_number().over(w))
    val rp = ranked.queryExecution.executedPlan.toString
    assert(!rp.contains("Exchange hashpartitioning(id"), rp)
    val stampSorts = rp.linesIterator
      .filter(l => l.contains("Sort [") && l.contains("stamp"))
    assert(stampSorts.isEmpty,
      s"single-date frame should reclaim the sort claim:\n$rp")
    assert(framed.count() == 6)
    // (c) layout-determining settings are frozen once data exists (ADVICE)
    val thrown = intercept[IllegalArgumentException] {
      api.catalog.updateSettings("shopd", _.copy(storageBuckets = 8))
    }
    assert(thrown.getMessage.contains("immutable"))
    intercept[IllegalArgumentException] {
      api.catalog.updateSettings("shopd", _.copy(datePartition = false))
    }
    // non-layout settings still update
    api.catalog.updateSettings("shopd", _.copy(eventMax = 123))
    assert(api.catalog.describe("shopd").settings.eventMax == 123)
  }

  test("property-value index answers with ZERO event-row scans (round-17 #2)") {
    // q_propindex_counts must read ONLY propindex parquet — the whole point
    // of the materialized index is that /property queries stop scanning
    // event history (the reference's attribute index,
    // src/oloop_property.cpp:34-307)
    val df = Queries.queries("q_propindex_counts")(spark, dir)
    val scans = scansOf(df.queryExecution.executedPlan)
    assert(scans.nonEmpty)
    val files = scans.flatMap(_.relation.location.inputFiles)
    assert(files.nonEmpty)
    assert(files.forall(_.contains("/propindex/")),
      s"index query read non-index files:\n${files.filterNot(_.contains("/propindex/")).mkString("\n")}")
    assert(df.collect().nonEmpty)
  }

  test("hot-table cache returns identical results to cold scans") {
    def rows(name: String) =
      Queries.queries(name)(spark, dir).collect().map(_.toString).sorted.toSeq
    // windowed, aggregated, and sampled shapes — order/partitioning-sensitive
    // if anything were; results must not depend on the cached layout
    val names = Seq("q_lineitem_pricing", "q_sessions_per_user", "q_train_val_test")
    val cold = names.map(rows)
    Tables.hotCache = true
    try {
      val warm = names.map(rows)
      assert(cold == warm)
    } finally Tables.hotCache = false
  }
}
