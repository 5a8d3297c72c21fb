package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.AggFns._
import graft.functions.TimeFns
import graft.operators.{EventOps, Segments, TextOps}

import graft.Queries._

/** Registry family: OSL script-engine queries — tally trees, accumulators,
  * funnels/chains (the Tier-A compiler surface), histograms, segments,
  * property endpoints.
  * Split from Queries.scala in round 13 (pure mechanical move). */
object QueriesOsl {

  /** The canonical 3-level chain funnel — shared by the raw-parquet route
    * (`q_osl_chain_funnel`) and the ingested-catalog route
    * (`q_catalog_funnel`), which must produce the identical tree. */
  private[graft] val ChainFunnelScript: String =
    """select
      |  count id as customers
      |  count event as n_rows
      |  sum value as total_value
      |end
      |each_row where event.is(== 'signup')
      |  << 'signup'
      |  each_row.continue().next() where event.is(== 'view')
      |    << 'viewed'
      |    each_row.continue().next() where event.is(== 'purchase')
      |      << 'converted', bucket(value, 100)
      |    end
      |  end
      |end
      |""".stripMargin

  private[graft] val ChainFunnelOracle: String =
    s"""$E, r AS (
          SELECT id, event, value,
                 ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS rn
          FROM e),
        m1 AS (SELECT id, MIN(rn) AS m FROM r WHERE event = 'signup' GROUP BY id),
        lv2 AS (SELECT r.id, r.value, r.rn FROM r JOIN m1 ON r.id = m1.id
                WHERE r.event = 'view' AND r.rn > m1.m),
        m2 AS (SELECT id, MIN(rn) AS m FROM lv2 GROUP BY id),
        lv3 AS (SELECT r.id, r.value,
                  CAST(CAST(FLOOR(r.value / 100) * 100 AS BIGINT) AS VARCHAR) AS b
                FROM r JOIN m2 ON r.id = m2.id
                WHERE r.event = 'purchase' AND r.rn > m2.m),
        lv1 AS (SELECT id, value FROM r WHERE event = 'signup')
        SELECT CAST(1 AS INTEGER) AS depth, 'signup' AS g1, CAST(NULL AS VARCHAR) AS g2,
          COUNT(DISTINCT id) AS customers, COUNT(*) AS n_rows, ${dsumSql("value")} AS total_value
        FROM lv1
        UNION ALL
        SELECT CAST(1 AS INTEGER), 'viewed', CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*), ${dsumSql("value")}
        FROM lv2
        UNION ALL
        SELECT CAST(1 AS INTEGER), 'converted', CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*), ${dsumSql("value")}
        FROM lv3
        UNION ALL
        SELECT CAST(2 AS INTEGER), 'converted', b,
          COUNT(DISTINCT id), COUNT(*), ${dsumSql("value")}
        FROM lv3 GROUP BY b"""

  val entries: Seq[Q] = Seq(

    // Round 16: the same funnel through the INGESTED catalog store —
    // murmur3-bucketed, (id, stamp)-sorted, manifest-committed parquet
    // built by the full insert pipeline (CatalogStore, once per process ×
    // dataset). The person window rides the storage layout: ZERO
    // `Exchange hashpartitioning(id)` and ZERO stamp sort in the plan
    // (PlanSpec pins the shape; the reference gets this from permanent
    // insert-time hash partitioning, src/rpc_insert.cpp:154). The oracle
    // is the raw-data funnel — row parity with the source is exact, see
    // CatalogStore's scaladoc.
    Q("q_catalog_funnel",
      (s, dir) => {
        graft.osl.OslEngine.query(CatalogStore.events(s, dir),
            ChainFunnelScript, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"), col("total_value"))
      },
      Some(ChainFunnelOracle)),

    // Round 16: single-customer fetch from the ingested store — the scan
    // prunes to the id's hash bucket (1/storage_buckets of the table; the
    // reference answers GET /customer from the person's partition,
    // src/oloop_person.cpp) with no exchange and no sort.
    Q("q_catalog_customer",
      (s, dir) => {
        CatalogStore.customerEvents(s, dir, 7L)
          .select(col("event_id"), col("stamp"), col("event"), col("value"))
      },
      Some(s"""$E SELECT event_id, stamp, event, value FROM e WHERE id = 7""")),

    // Round 17: a statically-bounded `.range(iso, iso)` scan over the
    // DATE-PARTITIONED ingested store (`date_partition = true`,
    // `__bucket=B/event_date=D/` layout): the frame's stamp window becomes
    // event_date PartitionFilters — the scan opens ~10 of the store's date
    // directories instead of the full history (PlanSpec pins the executed
    // plan's PartitionFilters + file count; the reference iterates only the
    // index blocks its range covers, src/queryinterpreter.cpp:2460-2533).
    // Row-exactness stays with the script's own frame, so the oracle is
    // the same SQL as the raw-parquet `q_osl_top_range`.
    Q("q_catalog_range_tally",
      (s, dir) => {
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
        CatalogStore.oslQueryDated(s, dir, script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"), col("total_value"))
      },
      Some(s"""$E, p AS (
          SELECT id, CAST(dayofweek(make_timestamp(stamp * 1000)) + 1 AS VARCHAR) AS g1,
                 event AS g2, value
          FROM e WHERE event = 'purchase'
            AND stamp >= 1704844800000 AND stamp <= 1705708800000)
        SELECT CAST(2 AS INTEGER) AS depth, g1, g2,
          COUNT(DISTINCT id) AS customers, COUNT(*) AS n_rows, ${dsumSql("value")} AS total_value
        FROM p GROUP BY g1, g2
        UNION ALL
        SELECT CAST(1 AS INTEGER) AS depth, g1, CAST(NULL AS VARCHAR) AS g2,
          COUNT(DISTINCT id) AS customers, COUNT(*) AS n_rows, ${dsumSql("value")} AS total_value
        FROM p GROUP BY g1""")),

    // Round 17: the materialized property-value index — distinct-customer
    // counts per value answered from (prop, value, bucket) postings with
    // ZERO event-row scans (PlanSpec pins that no events parquet is read),
    // like the reference's attribute index (src/oloop_property.cpp:34-307).
    // Exactness without bitmaps: storage buckets partition PERSONS, so
    // per-bucket COUNT(DISTINCT id) partials sum to the global count. The
    // oracle is the full scan the index replaces.
    Q("q_propindex_counts",
      (s, dir) => {
        val cat = CatalogStore.catalogOf(s, dir)
        PropIndex.valueCounts(
            PropIndex.ensure(s, cat, CatalogStore.tableName), "event")
          .select(col("value_str").as("event"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E SELECT event, COUNT(DISTINCT id) AS customers,
        COUNT(*) AS n_rows FROM e GROUP BY event""")),

    // The DATED store's index: built through the per-(bucket, date)
    // POSTINGS tier (round 17 — a daily insert re-indexes one day, the
    // serving counts re-aggregate from postings, never events). Same
    // oracle: the full scan both tiers replace.
    Q("q_propindex_dated",
      (s, dir) => {
        val cat = CatalogStore.catalogOfDated(s, dir)
        PropIndex.valueCounts(
            PropIndex.ensure(s, cat, CatalogStore.tableNameDated), "event")
          .select(col("value_str").as("event"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E SELECT event, COUNT(DISTINCT id) AS customers,
        COUNT(*) AS n_rows FROM e GROUP BY event""")),

    // Full OSL pipeline: parse -> per-customer interpreter (sorted groups)
    // -> relational merge. Script mirrors README.md:152-196.
    Q("q_osl_event_tally",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |  sum value as total_value
            |end
            |each_row where event.is(== 'purchase')
            |  << get_day_of_week(stamp), event
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"), col("total_value"))
      },
      Some(s"""$E, p AS (
          SELECT id, CAST(dayofweek(make_timestamp(stamp * 1000)) + 1 AS VARCHAR) AS g1,
                 event AS g2, value
          FROM e WHERE event = 'purchase')
        SELECT CAST(2 AS INTEGER) AS depth, g1, g2,
          COUNT(DISTINCT id) AS customers, COUNT(*) AS n_rows, ${dsumSql("value")} AS total_value
        FROM p GROUP BY g1, g2
        UNION ALL
        SELECT CAST(1 AS INTEGER) AS depth, g1, CAST(NULL AS VARCHAR) AS g2,
          COUNT(DISTINCT id) AS customers, COUNT(*) AS n_rows, ${dsumSql("value")} AS total_value
        FROM p GROUP BY g1""")),

    // Three-level continue().next() funnel through the EVENT-QUERY route:
    // Tier A compiles the chain to row_number + greedy-chain min windows
    // (one sort-shuffle on id, no interpreter). Oracle mirrors the greedy
    // construction: a row fires at level k iff it sits after the earliest
    // chain matching levels 1..k-1.
    Q("q_osl_chain_funnel",
      (s, dir) => {
        graft.osl.OslEngine.query(Tables.events(s, dir), ChainFunnelScript,
            now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"), col("total_value"))
      },
      Some(ChainFunnelOracle)),

    // Reverse (backward-scan) funnel: for each purchase, the views that
    // PRECEDE it within 16h — the last-touch shape expressed in OSL. A
    // `.reverse()` chain step compiles to a nearest-FOLLOWING-spawn witness
    // window (min-struct over following rows), sharing the same single
    // (id, stamp) sort as forward chains.
    Q("q_osl_reverse_funnel",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |each_row where event.is(== 'purchase')
            |  << 'purchase'
            |  each_row.continue().next().reverse().look_back(16_hours) where event.is(== 'view')
            |    << 'prior_view'
            |  end
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("customers"), col("n_rows"))
      },
      Some(s"""$E, r AS (
          SELECT id, event, stamp,
                 ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS rn
          FROM e),
        lv1 AS (SELECT id FROM r WHERE event = 'purchase'),
        lv2 AS (SELECT a.id FROM r a WHERE a.event = 'view' AND EXISTS (
                  SELECT 1 FROM r p WHERE p.id = a.id AND p.event = 'purchase'
                    AND p.rn > a.rn AND p.stamp - a.stamp <= 57600000))
        SELECT CAST(1 AS INTEGER) AS depth, 'purchase' AS g1,
          COUNT(DISTINCT id) AS customers, COUNT(*) AS n_rows
        FROM lv1 HAVING COUNT(*) > 0
        UNION ALL
        SELECT CAST(1 AS INTEGER), 'prior_view', COUNT(DISTINCT id), COUNT(*)
        FROM lv2 HAVING COUNT(*) > 0""")),

    // Time-framed funnel through the event-query route: purchases within
    // 24h AFTER a signup (cursor-anchored look_ahead step). Tier A compiles
    // this to latest-witness windows; the oracle uses the same
    // max-over-preceding construction.
    Q("q_osl_framed_funnel",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |  sum value as total_value
            |end
            |each_row where event.is(== 'signup')
            |  << 'signup'
            |  each_row.continue().next().look_ahead(1_days) where event.is(== 'purchase')
            |    << 'purchase_24h', bucket(value, 100)
            |  end
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"), col("total_value"))
      },
      Some(s"""$E, r AS (
          SELECT id, event, value, stamp,
                 ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS rn
          FROM e),
        w AS (
          SELECT *, MAX(CASE WHEN event = 'signup' THEN stamp END)
            OVER (PARTITION BY id ORDER BY rn
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ws
          FROM r),
        lv2 AS (SELECT id, value,
                  CAST(CAST(FLOOR(value / 100) * 100 AS BIGINT) AS VARCHAR) AS b
                FROM w
                WHERE event = 'purchase' AND ws IS NOT NULL
                  AND stamp - ws <= 86400000),
        lv1 AS (SELECT id, value FROM r WHERE event = 'signup')
        SELECT CAST(1 AS INTEGER) AS depth, 'signup' AS g1, CAST(NULL AS VARCHAR) AS g2,
          COUNT(DISTINCT id) AS customers, COUNT(*) AS n_rows, ${dsumSql("value")} AS total_value
        FROM lv1
        UNION ALL
        SELECT CAST(1 AS INTEGER), 'purchase_24h', CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*), ${dsumSql("value")}
        FROM lv2
        UNION ALL
        SELECT CAST(2 AS INTEGER), 'purchase_24h', b,
          COUNT(DISTINCT id), COUNT(*), ${dsumSql("value")}
        FROM lv2 GROUP BY b""")),

    // Guarded + match-limited funnel (round 4 Tier A shapes): the nested
    // loop spawns only from signup rows passing an `if` guard, and tallies
    // at most the first 2 purchase matches per spawn. Compiles to the
    // latest-witness window plan with a cumulative-match-count witness
    // field (src/queryinterpreter.cpp:2430-2577 `.limit`, 231: matches <
    // limit). Oracle mirrors: max spawn-row cum-count over preceding rows.
    Q("q_osl_guarded_funnel",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |each_row where event.is(== 'signup')
            |  << 'signup'
            |  if value.is(> 10)
            |    each_row.continue().next().limit(2) where event.is(== 'purchase')
            |      << 'purchase_after', bucket(value, 200)
            |    end
            |  end
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, r AS (
          SELECT id, event, value,
                 ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS rn,
                 SUM(CASE WHEN event = 'purchase' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY id ORDER BY stamp
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mc
          FROM e),
        w AS (
          SELECT *, MAX(CASE WHEN event = 'signup' AND value > 10 THEN mc END)
            OVER (PARTITION BY id ORDER BY rn
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wmc
          FROM r),
        lv2 AS (SELECT id, value,
                  CAST(CAST(FLOOR(value / 200) * 200 AS BIGINT) AS VARCHAR) AS b
                FROM w WHERE event = 'purchase' AND wmc IS NOT NULL
                  AND mc - wmc <= 2),
        lv1 AS (SELECT id FROM e WHERE event = 'signup')
        SELECT CAST(1 AS INTEGER) AS depth, 'signup' AS g1, CAST(NULL AS VARCHAR) AS g2,
          COUNT(DISTINCT id) AS customers, COUNT(*) AS n_rows FROM lv1
        UNION ALL
        SELECT CAST(1 AS INTEGER), 'purchase_after', CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*) FROM lv2
        UNION ALL
        SELECT CAST(2 AS INTEGER), 'purchase_after', b, COUNT(DISTINCT id), COUNT(*)
        FROM lv2 GROUP BY b""")),

    // OSL `var` select aggregator: declares a script variable; the result
    // column counts tallies deduped per (var value, row, node)
    // (src/queryinterpreter.cpp:242-244, 306-311). The variable mutates per
    // row, so the dedup key stays row-unique and the node count equals the
    // tallied-row count.
    Q("q_osl_var_tally",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  var n as hits
            |end
            |each_row where event.is(== 'purchase')
            |  n = n + 1
            |  << get_day_of_week(stamp)
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("g1"), col("customers"), col("hits"))
      },
      Some(s"""$E SELECT CAST(dayofweek(make_timestamp(stamp * 1000)) + 1 AS VARCHAR) AS g1,
        COUNT(DISTINCT id) AS customers, COUNT(*) AS hits
        FROM e WHERE event = 'purchase' GROUP BY g1""")),

    // Framed TOP-LEVEL loop (round 5): the scan itself is time-boxed —
    // `.range(iso, iso)` bounds compile to a constant stamp predicate
    // AND'ed into the row filter (scan-speed, no window, no interpreter;
    // the common "query this date window" shape of the reference's REST
    // examples). Bounds are inclusive like Interpreter.frameBounds.
    Q("q_osl_top_range",
      (s, dir) => {
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
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"), col("total_value"))
      },
      Some(s"""$E, p AS (
          SELECT id, CAST(dayofweek(make_timestamp(stamp * 1000)) + 1 AS VARCHAR) AS g1,
                 event AS g2, value
          FROM e WHERE event = 'purchase'
            AND stamp >= 1704844800000 AND stamp <= 1705708800000)
        SELECT CAST(2 AS INTEGER) AS depth, g1, g2,
          COUNT(DISTINCT id) AS customers, COUNT(*) AS n_rows, ${dsumSql("value")} AS total_value
        FROM p GROUP BY g1, g2
        UNION ALL
        SELECT CAST(1 AS INTEGER) AS depth, g1, CAST(NULL AS VARCHAR) AS g2,
          COUNT(DISTINCT id) AS customers, COUNT(*) AS n_rows, ${dsumSql("value")} AS total_value
        FROM p GROUP BY g1""")),

    // READ accumulator (round 5): the per-person purchase index drives both
    // a tally group and an if-guard. Tier A compiles the variable to a
    // running-count window over the visited rows — one sort-shuffle, no
    // interpreter (OslSpec pins Tier A ≡ Tier B for this shape). Counts
    // only: rank assignment among same-stamp ties is arbitrary in both
    // engines, but tied rows share their stamp (hence day-of-week), so
    // count-type selects are tie-order-independent.
    Q("q_osl_accum_tally",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'purchase')
            |  n = n + 1
            |  if n <= 3
            |    << n, get_day_of_week(stamp)
            |  end
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, p AS (
          SELECT id, stamp,
                 ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS n
          FROM e WHERE event = 'purchase'),
        q AS (
          SELECT CAST(n AS VARCHAR) AS g1,
                 CAST(dayofweek(make_timestamp(stamp * 1000)) + 1 AS VARCHAR) AS g2,
                 id
          FROM p WHERE n <= 3)
        SELECT CAST(2 AS INTEGER) AS depth, g1, g2,
          COUNT(DISTINCT id) AS customers, COUNT(*) AS n_rows
        FROM q GROUP BY g1, g2
        UNION ALL
        SELECT CAST(1 AS INTEGER), g1, CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM q GROUP BY g1""")),

    // Tier A widened shapes in one script: an unframed `ever` person
    // predicate (window-exists, no interpreter) + an unconditional tally +
    // an if-wrapped tally — compiles to filter/explode/dedup/hash-agg with
    // zero flatMapGroups (the OslSpec differential tests pin Tier A ≡ B).
    Q("q_osl_ever_multitally",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |  sum value as total_value
            |end
            |each_row where event.ever(== 'error') && event.is(== 'purchase')
            |  << 'all'
            |  if value.is(> 100)
            |    << 'big', get_day_of_week(stamp)
            |  end
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"), col("total_value"))
      },
      Some(s"""$E, pe AS (
          SELECT id FROM e GROUP BY id
          HAVING SUM(CASE WHEN event = 'error' THEN 1 ELSE 0 END) > 0),
        p AS (
          SELECT e.id, e.value, e.stamp FROM e JOIN pe USING (id)
          WHERE e.event = 'purchase')
        SELECT CAST(1 AS INTEGER) AS depth, 'all' AS g1, CAST(NULL AS VARCHAR) AS g2,
          COUNT(DISTINCT id) AS customers, COUNT(*) AS n_rows, ${dsumSql("value")} AS total_value
        FROM p
        UNION ALL
        SELECT CAST(1 AS INTEGER), 'big', CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*), ${dsumSql("value")}
        FROM p WHERE value > 100
        UNION ALL
        SELECT CAST(2 AS INTEGER), 'big',
          CAST(dayofweek(make_timestamp(stamp * 1000)) + 1 AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*), ${dsumSql("value")}
        FROM p WHERE value > 100 GROUP BY 3""")),

    // Framed (cursor-anchored) ever inside a Tier A script: purchases with a
    // signup in the trailing 24h window — compiles to a RANGE window frame
    // on stamp, no interpreter (PlanSpec-style: zero MapGroups).
    Q("q_osl_framed_ever",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |each_row where event.look_back(24_hours).ever(== 'signup') && event.is(== 'purchase')
            |  << get_day_of_week(stamp)
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("g1"), col("customers"), col("n_rows"))
      },
      Some(s"""$E SELECT CAST(dayofweek(make_timestamp(p.stamp * 1000)) + 1 AS VARCHAR) AS g1,
        COUNT(DISTINCT p.id) AS customers, COUNT(*) AS n_rows
        FROM e p WHERE p.event = 'purchase' AND EXISTS (
          SELECT 1 FROM e s2 WHERE s2.id = p.id AND s2.event = 'signup'
            AND s2.stamp BETWEEN p.stamp - 86400000 AND p.stamp)
        GROUP BY g1""")),

    // OSL @segment scripts: ever/never predicates evaluated per customer.
    Q("q_osl_segments",
      (s, dir) => {
        val script =
          """@segment buyers
            |if event.ever(== 'purchase')
            |  return(true)
            |end
            |@segment errorless
            |if event.never(== 'error')
            |  return(true)
            |end
            |""".stripMargin
        val m = graft.osl.OslEngine.segments(Tables.events(s, dir), script, now = OslNow)
          .groupBy(col("segment")).agg(count(lit(1)).as("n"))
        // a segment with zero members still reports population 0
        import s.implicits._
        Seq("buyers", "errorless").toDF("segment")
          .join(m, Seq("segment"), "left")
          .select(col("segment"), coalesce(col("n"), lit(0L)).as("population"))
      },
      Some(s"""$E SELECT 'buyers' AS segment, COUNT(*) AS population FROM (
          SELECT id FROM e GROUP BY id
          HAVING COUNT(CASE WHEN event = 'purchase' THEN 1 END) > 0)
        UNION ALL
        SELECT 'errorless', COUNT(*) FROM (
          SELECT id FROM e GROUP BY id
          HAVING COUNT(CASE WHEN event = 'error' THEN 1 END) = 0)""")),

    // OSL nested sequence iteration (continue().next()) as a segment —
    // purchase strictly after a signup row.
    Q("q_osl_funnel_segment",
      (s, dir) => {
        val script =
          """@segment signup_then_purchase
            |each_row where event.is(== 'signup')
            |  each_row.continue().next() where event.is(== 'purchase')
            |    return(true)
            |  end
            |end
            |""".stripMargin
        graft.osl.OslEngine.segments(Tables.events(s, dir), script, now = OslNow)
          .groupBy(col("segment")).agg(count(lit(1)).as("population"))
      },
      Some(s"""$E, r AS (
          SELECT id, event, ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS rn
          FROM e),
        sg AS (SELECT id, MIN(rn) AS srn FROM r WHERE event = 'signup' GROUP BY id)
        SELECT 'signup_then_purchase' AS segment, COUNT(*) AS population FROM (
          SELECT DISTINCT sg.id FROM sg JOIN r ON r.id = sg.id
          WHERE r.event = 'purchase' AND r.rn > sg.srn)""")),

    // `.from(0)` absolute-restart chain step with a BACKWARD frame: for
    // every signup, the purchases up to 1 day BEFORE it (prior-event
    // attribution — a shape `.continue()` cursors can't reach). Round 5:
    // compiles to bidirectional nearest-spawn witnesses on the one
    // (id, stamp) sort (src/queryinterpreter.cpp:2440-2447 `.from` start).
    Q("q_osl_from_restart",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |each_row where event.is(== 'signup')
            |  each_row.from(0).look_back(1_days) where event.is(== 'purchase')
            |    << 'prior_purchase', get_day_of_week(stamp)
            |  end
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .where(col("depth") === 2)
          .select(col("g2").as("dow"), col("customers"), col("n_rows"))
      },
      Some(s"""$E, pp AS (
          SELECT DISTINCT p.id, p.stamp
          FROM e p JOIN e s ON p.id = s.id AND s.event = 'signup'
            AND p.stamp BETWEEN s.stamp - 86400000 AND s.stamp
          WHERE p.event = 'purchase')
        SELECT CAST(dayofweek(make_timestamp(stamp * 1000)) + 1 AS VARCHAR) AS dow,
          COUNT(DISTINCT id) AS customers, COUNT(*) AS n_rows
        FROM pp GROUP BY dow""")),

    // OSL histogram script: per-person inline aggregation -> bucket
    // (src/oloop_histogram.cpp semantics; fixed-point sums for parity).
    Q("q_osl_histogram",
      (s, dir) => {
        val script =
          """total = sum(value) where event.is(== 'purchase')
            |return(bucket(total, 100))
            |""".stripMargin
        graft.osl.OslEngine.histogram(Tables.events(s, dir), script, now = OslNow)
          .groupBy(col("value").as("bucket"))
          .agg(count(lit(1)).as("customers"))
      },
      Some(s"""$E, p AS (
          SELECT id, COALESCE(CAST(SUM(CASE WHEN event = 'purchase' THEN CAST(value AS DECIMAL(28,4)) END) AS DOUBLE), 0.0) AS total
          FROM e GROUP BY id)
        SELECT FLOOR(total / 100) * 100 AS bucket, COUNT(*) AS customers
        FROM p GROUP BY 1""")),

    Q("q_property_filter_modes",
      (s, dir) => {
        val e = Tables.events(s, dir)
        e.where(col("event").rlike("^(sign|err)") || col("event").contains("view"))
          .groupBy(col("event"))
          .agg(countDistinct(col("id")).as("customers"))
      },
      Some(s"""$E SELECT event, COUNT(DISTINCT id) AS customers FROM e
        WHERE regexp_matches(event, '^(sign|err)') OR contains(event, 'view')
        GROUP BY event""")),

    Q("q_customer_prop_enrichment",
      (s, dir) => {
        val e = Tables.events(s, dir)
        val props = Tables.customer(s, dir)
          .select(col("c_custkey").as("id"), col("c_mktsegment"))
        graft.operators.CustomerProps.enrich(e, props)
          .groupBy(col("c_mktsegment"))
          .agg(countDistinct(col("id")).as("customers"),
            count(lit(1)).as("n_rows"))
      },
      Some(s"""$E SELECT c_mktsegment, COUNT(DISTINCT e.id) AS customers, COUNT(*) AS n_rows
        FROM e LEFT JOIN customer ON e.id = c_custkey
        GROUP BY c_mktsegment""")),

    // OSL script-driven customer-prop WRITE-BACK (setGridProps,
    // src/queryinterpreter.cpp:3116-3264): the script assigns declared
    // is_customer props per person; the result is the write-back updates
    // frame a catalog merge would apply (Catalog.runPropWriteback). One
    // cogroup on the id attribute — the storage bucketing key, so a
    // bucketed events scan is not exchanged.
    Q("q_osl_prop_writeback",
      (s, dir) => {
        import org.apache.spark.sql.types._
        val script =
          """total_value = sum(value) where event.is(== 'purchase')
            |purchase_count = count(id) where event.is(== 'purchase')
            |""".stripMargin
        val cust = s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(
            StructField("id", LongType),
            StructField("total_value", DoubleType),
            StructField("purchase_count", LongType))))
        graft.osl.OslEngine.propWriteback(Tables.events(s, dir), cust, script,
          now = OslNow)
      },
      Some(s"""$E SELECT id,
        COALESCE(CAST(SUM(CASE WHEN event = 'purchase' THEN CAST(value AS DECIMAL(28,4)) END) AS DOUBLE), 0.0) AS total_value,
        COUNT(CASE WHEN event = 'purchase' THEN 1 END) AS purchase_count
        FROM e GROUP BY id""")),

    // foreach-mode histogram (`each_value` iteration over a property's
    // distinct values, src/oloop_histogram.cpp:232-330) compiled as ONE
    // grouped plan: a single per-person pass (sorted groups on id) binds
    // each_value per customer in memory, then one aggregation buckets every
    // value's per-person returns — not |values| driver-looped queries.
    Q("q_histogram_foreach",
      (s, dir) => {
        val e = Tables.events(s, dir)
        // limit+1 + require: the value walk must never SILENTLY truncate
        // (round-17 #4 — the reference iterates the full value index); the
        // events column holds 5 values, so the bound documents rather than
        // bites
        val values = e.select(col("event")).distinct().limit(257)
          .collect().map(_.get(0)).filter(_ != null)
        require(values.length <= 256, s"foreach over ${values.length} values")
        val script = "n = count(id) where event == each_value\nreturn(n)\n"
        graft.osl.OslEngine.histogramForeach(
            e, script, scala.collection.immutable.ArraySeq.unsafeWrapArray(values),
            now = OslNow)
          .groupBy(col("each_value"),
            (floor(col("value") / 5) * 5).cast("double").as("bucket"))
          .agg(countDistinct(col("id")).as("customers"))
      },
      Some(s"""$E, vals AS (SELECT DISTINCT event AS v FROM e WHERE event IS NOT NULL),
        persons AS (SELECT DISTINCT id FROM e),
        counts AS (SELECT id, event AS v, COUNT(*) AS cnt FROM e GROUP BY 1, 2),
        per AS (
          SELECT vals.v, p.id, COALESCE(c.cnt, 0) AS cnt
          FROM vals CROSS JOIN persons p
          LEFT JOIN counts c ON c.id = p.id AND c.v = vals.v)
        SELECT v AS each_value, CAST(FLOOR(cnt / 5.0) * 5 AS DOUBLE) AS bucket,
          COUNT(DISTINCT id) AS customers
        FROM per GROUP BY 1, 2""")),

    // Round-7 Tier A widening: an IF-GUARDED accumulator (purchases-so-far
    // counter bumped only on purchase rows, read as every visited row's
    // tally key) compiles to a conditional running-sum window on the single
    // person sort — no interpreter. Oracle = the same inclusive conditional
    // running count in SQL.
    Q("q_osl_guarded_accum",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where stamp.is(> 0)
            |  if event.is(== 'purchase')
            |    n = n + 1
            |  end
            |  << n, event
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, p AS (
          SELECT id, event,
            SUM(CASE WHEN event = 'purchase' THEN 1 ELSE 0 END)
              OVER (PARTITION BY id ORDER BY stamp
                    ROWS UNBOUNDED PRECEDING) AS n
          FROM e WHERE stamp > 0)
        SELECT CAST(2 AS INTEGER) AS depth, CAST(n AS VARCHAR) AS g1,
          event AS g2, COUNT(DISTINCT id) AS customers, COUNT(*) AS n_rows
        FROM p GROUP BY g1, g2
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(n AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM p GROUP BY CAST(n AS VARCHAR)""")),

    // Round-8 Tier A widening: an accumulator READ inside an ever-test
    // OPERAND (`value.ever(> n * 50)` — "does this person's history ever
    // exceed 50× the rows seen so far") compiles to a scanned-prop MAX
    // window on the person partition compared at the visiting row, instead
    // of interpreting. Oracle = the same row_number × person-max compare.
    Q("q_osl_ever_read",
      (s, dir) => {
        val script =
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
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, p AS (
          SELECT id, event,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS n,
            MAX(value) OVER (PARTITION BY id) AS mx
          FROM e WHERE stamp > 0)
        SELECT CAST(2 AS INTEGER) AS depth, 'big_history' AS g1, event AS g2,
          COUNT(DISTINCT id) AS customers, COUNT(*) AS n_rows
        FROM p WHERE mx > 50 * n GROUP BY event HAVING COUNT(*) > 0
        UNION ALL
        SELECT CAST(1 AS INTEGER), 'big_history', CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM p WHERE mx > 50 * n HAVING COUNT(*) > 0
        UNION ALL
        SELECT CAST(2 AS INTEGER), 'all', event,
          COUNT(DISTINCT id), COUNT(*)
        FROM p GROUP BY event
        UNION ALL
        SELECT CAST(1 AS INTEGER), 'all', CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM p""")),

    // Round-8 Tier A widening: an accumulator on a CHAIN — the increment
    // leads the top body, the read sits in the inner step's tally, so each
    // purchase tallies once per preceding signup under that signup's
    // ordinal ("which signup # funneled this purchase"). Compiled as a
    // spawn-value array (collect over the preceding window) exploded into
    // per-(row, distinct spawn value) tally entries — no interpreter.
    // Oracle = the signup-ordinal × later-purchase join.
    Q("q_osl_chain_accum",
      (s, dir) => {
        val script =
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
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        pairs AS (
          SELECT p.id, p.stamp, su.i
          FROM e p JOIN su ON su.id = p.id AND su.stamp < p.stamp
          WHERE p.event = 'purchase')
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM pairs GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM pairs GROUP BY i""")),

    // Round-11 Tier A widening: a REVERSE chain top with a FLOATING-POINT
    // accumulator — spend folds BACKWARD over signups (the interpreter
    // scans the person's rows descending; increments lead the body), and
    // each later purchase tallies under the spawning signup's
    // backward-running spend bucket. Compiled: the chain-witness
    // accumulator runs as a running sum over a __rn-DESC running frame —
    // Spark streams it in exactly the interpreter's backward fold order,
    // so the doubles are bit-identical (never an unbounded-FOLLOWING
    // frame, which re-aggregates ascending: different association and
    // O(rows²) per person). Inner scans still walk forward under a
    // reverse top. A purchase reached by several signups with the SAME
    // bucket tallies once (per-(row, node) dedup) — the oracle's
    // DISTINCT. Reference: reverse scan src/queryinterpreter.cpp
    // (iter walks indices down) + continue().next() forward semantics.
    Q("q_osl_reverse_chain_accum",
      (s, dir) => {
        val script =
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
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            SUM(COALESCE(value, 0)) OVER (PARTITION BY id ORDER BY stamp DESC
                  ROWS UNBOUNDED PRECEDING) AS spend
          FROM e WHERE event = 'signup'),
        pairs AS (
          SELECT DISTINCT p.id, p.stamp,
            CAST(CAST(FLOOR(b.spend / 200) * 200 AS BIGINT) AS VARCHAR) AS g1
          FROM e p JOIN su b ON b.id = p.id AND b.stamp < p.stamp
          WHERE p.event = 'purchase')
        SELECT CAST(2 AS INTEGER) AS depth, g1, 'purchase' AS g2,
          COUNT(DISTINCT id) AS customers, COUNT(*) AS n_rows
        FROM pairs GROUP BY g1
        UNION ALL
        SELECT CAST(1 AS INTEGER), g1, CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM pairs GROUP BY g1""")),

    // Late round 8: the FRAMED + LIMITED chain-accumulator shape — each
    // purchase within 24 h of a signup, while that signup's scan has made
    // at most 2 purchase-matches, tallied under the signup's ordinal.
    // Compiled per-spawn: the collected tuples carry the spawn stamp and
    // its cumulative purchase count, checked in-row. Oracle: running
    // purchase count difference reproduces the per-spawn match-count cap.
    Q("q_osl_chain_accum_framed",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.continue().next().look_ahead(24_hours).limit(2) where event.is(== 'purchase')
            |    << n, event
            |  end
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, ec AS (
          SELECT id, stamp, event,
            SUM(CASE WHEN event = 'purchase' THEN 1 ELSE 0 END)
              OVER (PARTITION BY id ORDER BY stamp
                    ROWS UNBOUNDED PRECEDING) AS pc
          FROM e),
        su AS (
          SELECT id, stamp, pc,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM ec WHERE event = 'signup'),
        pairs AS (
          SELECT p.id, p.stamp, su.i
          FROM ec p JOIN su ON su.id = p.id AND su.stamp < p.stamp
            AND p.stamp - su.stamp <= 86400000
            AND p.pc - su.pc <= 2
          WHERE p.event = 'purchase')
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM pairs GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM pairs GROUP BY i""")),

    // Round-8 Tier A widening: a NON-LITERAL accumulator — running spend
    // (`spend = spend + value` under a purchase guard), read as a bucketed
    // tally key. Compiles to a conditional double running-sum window whose
    // add sequence is exactly the interpreter's fold. Oracle: the same
    // cumulative conditional sum (both engines stream the default
    // cumulative frame sequentially in (stamp) order, so the double sums
    // agree bit-for-bit; the hash gate would catch an engine that didn't).
    Q("q_osl_prop_accum",
      (s, dir) => {
        val script =
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
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, p AS (
          SELECT id, event,
            SUM(CASE WHEN event = 'purchase' THEN value ELSE 0 END)
              OVER (PARTITION BY id ORDER BY stamp
                    ROWS UNBOUNDED PRECEDING) AS spend
          FROM e WHERE stamp > 0),
        k AS (
          SELECT id, event,
            CAST(CAST(FLOOR(spend / 200) * 200 AS BIGINT) AS VARCHAR) AS g1
          FROM p)
        SELECT CAST(2 AS INTEGER) AS depth, g1, event AS g2,
          COUNT(DISTINCT id) AS customers, COUNT(*) AS n_rows
        FROM k GROUP BY g1, event
        UNION ALL
        SELECT CAST(1 AS INTEGER), g1, CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM k GROUP BY g1""")),

    // Round-10 Tier A widening: the REVERSE twin of q_osl_prop_accum — a
    // floating-point accumulator under a `.reverse()` top. The interpreter
    // folds the per-visit adds in DESCENDING row order; Tier A compiles it
    // as a running sum over a DESC running frame (ordered by the forward
    // sort's own row_number, mirrored), which Spark — like DuckDB's
    // `ORDER BY stamp DESC ROWS UNBOUNDED PRECEDING` here — streams
    // sequentially in exactly that backward order, so the doubles are
    // bit-identical across all three engines. Reference: reverse scan
    // semantics src/queryinterpreter.cpp (iter walks indices down).
    // Tie caveat (shared with the forward twin): both the engine's person
    // sort and this oracle order by stamp alone, so bit-exactness across
    // engines assumes (id, stamp)-unique data — pinned by VerifySpec's
    // uniqueness guard over the driver testdata.
    Q("q_osl_reverse_accum",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |spend = 0
            |each_row.reverse() where stamp.is(> 0)
            |  if event.is(== 'purchase')
            |    spend = spend + value
            |  end
            |  << bucket(spend, 200), event
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, p AS (
          SELECT id, event,
            SUM(CASE WHEN event = 'purchase' THEN value ELSE 0 END)
              OVER (PARTITION BY id ORDER BY stamp DESC
                    ROWS UNBOUNDED PRECEDING) AS spend
          FROM e WHERE stamp > 0),
        k AS (
          SELECT id, event,
            CAST(CAST(FLOOR(spend / 200) * 200 AS BIGINT) AS VARCHAR) AS g1
          FROM p)
        SELECT CAST(2 AS INTEGER) AS depth, g1, event AS g2,
          COUNT(DISTINCT id) AS customers, COUNT(*) AS n_rows
        FROM k GROUP BY g1, event
        UNION ALL
        SELECT CAST(1 AS INTEGER), g1, CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM k GROUP BY g1""")),

    // Round-9 Tier A widening: an accumulator READ in the top-level WHERE
    // — the canonical stateful-cap script ("visit at most 3 purchases").
    // The where observes the PRE-increment value and n freezes once the
    // conjunct fails, so the visited set is the first m* where-matches: a
    // static `.limit(m*)` solved at compile time (TierA.capSolve; the
    // reference compiles the same script through its sequential VM,
    // src/queryparserosl.h:3726-3812). The tally reads n post-increment
    // (the visit ordinal). Oracle = rank-capped purchase rows.
    Q("q_osl_where_read",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'purchase') && n < 3
            |  n += 1
            |  << n, event
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, p0 AS (
          SELECT id, event,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS n
          FROM e WHERE event = 'purchase'),
        p AS (SELECT * FROM p0 WHERE n <= 3)
        SELECT CAST(2 AS INTEGER) AS depth, CAST(n AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM p GROUP BY n
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(n AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM p GROUP BY n""")),

    // Round-9 Tier A widening: accumulators on a DEPTH-3 chain (plain
    // inner steps) — signup -> view -> purchase, tallying the running
    // signup ordinal at the deepest level. Compiled per-spawn: each
    // collected tuple carries the running view-match count through its
    // spawn, and a purchase row is a level-2 visit for spawn i iff a view
    // lies strictly between them (match-count difference >= 1). Tally
    // dedup is per (row, node), so the oracle is the DISTINCT
    // (purchase, signup-ordinal) pairs with an interleaved view.
    Q("q_osl_chain3_accum",
      (s, dir) => {
        val script =
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
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        trip AS (
          SELECT DISTINCT p.id, p.stamp, su.i
          FROM e p JOIN su ON su.id = p.id AND su.stamp < p.stamp
          WHERE p.event = 'purchase'
            AND EXISTS (SELECT 1 FROM e v
              WHERE v.id = p.id AND v.event = 'view'
                AND v.stamp > su.stamp AND v.stamp < p.stamp))
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM trip GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM trip GROUP BY i""")),

    // Round-11 Tier A widening: a DEPTH-3 chain accumulator with FRAMED
    // inner steps — signup -> view within 12 h -> purchase within 24 h of
    // the view, tallying the running signup ordinal at the deepest level.
    // With exactly one intermediate level, per-spawn reachability is an
    // INTERVAL COUNT of views in (signup, signup+12h] ∩ [purchase−24h,
    // purchase): prefix counts are monotone, so the count between interval
    // endpoints is min(endpoint prefix counts) − max(...) — the spawn
    // tuple carries its own endpoint counts (a rangeBetween window at the
    // signup), the row carries the other two. The collect window is
    // range-bounded by span1+span2 (36 h), so this shape is memory-safe
    // WITHOUT the row-bound gate. Reference: nested frame semantics
    // src/queryinterpreter.cpp:2460-2533.
    Q("q_osl_chain3_framed",
      (s, dir) => {
        val script =
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
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        trip AS (
          SELECT DISTINCT p.id, p.stamp, su.i
          FROM e p JOIN su ON su.id = p.id AND su.stamp < p.stamp
          WHERE p.event = 'purchase'
            AND EXISTS (SELECT 1 FROM e v
              WHERE v.id = p.id AND v.event = 'view'
                AND v.stamp > su.stamp AND v.stamp - su.stamp <= 43200000
                AND v.stamp < p.stamp AND p.stamp - v.stamp <= 86400000))
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM trip GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM trip GROUP BY i""")),

    // Round-11 Tier A widening: an inner `.limit(n)` on the INTERMEDIATE
    // step of a depth-3 chain accumulator — only the first 2 views within
    // 12 h of each signup spawn the purchase scan. The ordinal bound
    // "s1 among the first n level-1 matches after the spawn" is
    // C(s1) ≤ C(s0)+n, and prefix counts are monotone in stamp, so it is
    // one more min-term over the interval's upper endpoint counts — the
    // reach check stays pure in-row arithmetic on the collected tuple.
    // Reference: nested loop match cap src/queryinterpreter.cpp:2437-2533.
    Q("q_osl_chain3_limited",
      (s, dir) => {
        val script =
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
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        trip AS (
          SELECT DISTINCT p.id, p.stamp, su.i
          FROM e p JOIN su ON su.id = p.id AND su.stamp < p.stamp
          WHERE p.event = 'purchase'
            AND EXISTS (SELECT 1 FROM e v
              WHERE v.id = p.id AND v.event = 'view'
                AND v.stamp > su.stamp AND v.stamp - su.stamp <= 43200000
                AND v.stamp < p.stamp AND p.stamp - v.stamp <= 86400000
                AND (SELECT COUNT(*) FROM e v2
                  WHERE v2.id = p.id AND v2.event = 'view'
                    AND v2.stamp > su.stamp AND v2.stamp <= v.stamp) <= 2))
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM trip GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM trip GROUP BY i""")),

    // Round-11 Tier A widening: an inner `.limit(m)` on the DEEPEST step
    // of a depth-3 chain accumulator — each view within 48 h of the
    // signup scans only its FIRST purchase within 48 h. Reach needs
    // C₂(r) − C₂(s1) ≤ m for some valid view s1; later views always do
    // better (C₂ monotone), and the latest spawning view at-or-before
    // the interval's upper endpoint lies inside the (nonempty) interval,
    // so reach ⇔ interval count > 0 ∧ C₂(r) − min(G(r⁻), G(s0+span₁))
    // ≤ m with G = running max of C₂ over spawning views (the row
    // carries G(r⁻), the spawn tuple G(s0+span₁)).
    Q("q_osl_chain3_limit_deep",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.continue().next().look_ahead(48_hours) where event.is(== 'view')
            |    each_row.continue().next().look_ahead(48_hours).limit(1) where event.is(== 'purchase')
            |      << n, event
            |    end
            |  end
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        trip AS (
          SELECT DISTINCT p.id, p.stamp, su.i
          FROM e p JOIN su ON su.id = p.id AND su.stamp < p.stamp
          WHERE p.event = 'purchase'
            AND EXISTS (SELECT 1 FROM e v
              WHERE v.id = p.id AND v.event = 'view'
                AND v.stamp > su.stamp AND v.stamp - su.stamp <= 172800000
                AND v.stamp < p.stamp AND p.stamp - v.stamp <= 172800000
                AND (SELECT COUNT(*) FROM e p2
                  WHERE p2.id = p.id AND p2.event = 'purchase'
                    AND p2.stamp > v.stamp AND p2.stamp <= p.stamp) <= 1))
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM trip GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM trip GROUP BY i""")),

    // Round-11 Tier A widening: guards on DEEP chain-accumulator steps —
    // a depth-4 signup -> view -> click -> purchase chain where the click
    // step is guarded by a ROW prop (view value > 50: folds into the
    // reachability-ladder window predicate — it restricts rows uniformly
    // across spawns) and the purchase step by an ACCUMULATOR read
    // (n <= 3: the interpreter evaluates it mid-nested-scan where n still
    // holds the SPAWN's running ordinal, so it prunes spawns uniformly
    // across rows and evaluates per ordinal). Literal increments + plain
    // first step keep this on the collect-free ordinal path: three
    // running windows on one (id, stamp) sort, no spawn-tuple array.
    // Reference: nested guard semantics src/queryinterpreter.cpp:2460-2533.
    Q("q_osl_chain4_guarded",
      (s, dir) => {
        val script =
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
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        quad AS (
          SELECT DISTINCT p.id, p.stamp, su.i
          FROM e p JOIN su ON su.id = p.id AND su.stamp < p.stamp
          WHERE p.event = 'purchase' AND su.i <= 3
            AND EXISTS (SELECT 1 FROM e v
              WHERE v.id = p.id AND v.event = 'view' AND v.value > 50
                AND v.stamp > su.stamp AND v.stamp < p.stamp
                AND EXISTS (SELECT 1 FROM e c
                  WHERE c.id = p.id AND c.event = 'click'
                    AND c.stamp > v.stamp AND c.stamp < p.stamp)))
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM quad GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM quad GROUP BY i""")),

    // Round-11 Tier A widening: a FRAMED + LIMITED deepest step at depth
    // 4 — signup -> view -> click -> the FIRST purchase within 48 h of
    // the click. Validity of a click c for a spawn (a view chain exists
    // through c) is monotone in c, so valid clicks form a SUFFIX and the
    // latest in-frame click is valid for every eligible spawn: the frame
    // range-bounds the FINAL reachability-ladder window
    // (rangeBetween(-48h, -1)) and the limit is one spawn-independent
    // conjunct C(r) − G ≤ 1, G = the purchase count at the latest
    // in-frame click. Still the collect-free ordinal path.
    // Reference: nested frame semantics src/queryinterpreter.cpp:2460-2533.
    Q("q_osl_chain4_limited",
      (s, dir) => {
        val script =
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
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        quad AS (
          SELECT DISTINCT p.id, p.stamp, su.i
          FROM e p JOIN su ON su.id = p.id AND su.stamp < p.stamp
          WHERE p.event = 'purchase'
            AND EXISTS (SELECT 1 FROM e v
              WHERE v.id = p.id AND v.event = 'view'
                AND v.stamp > su.stamp AND v.stamp < p.stamp
                AND EXISTS (SELECT 1 FROM e c
                  WHERE c.id = p.id AND c.event = 'click'
                    AND c.stamp > v.stamp AND c.stamp < p.stamp
                    AND p.stamp - c.stamp <= 172800000
                    AND (SELECT COUNT(*) FROM e p2
                      WHERE p2.id = p.id AND p2.event = 'purchase'
                        AND p2.stamp > c.stamp AND p2.stamp <= p.stamp) <= 1)))
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM quad GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM quad GROUP BY i""")),

    // Round-11 Tier A widening: a REVERSE inner step below a chain
    // accumulator — for each purchase (carrying its running ordinal), the
    // nested loop scans BACKWARD and visits the 2 nearest preceding views
    // within 24 h. Visited rows sit BEFORE their spawn, so the compiled
    // spawn tuples collect over the FOLLOWING window (range-bounded by
    // the aligned look_back span) with mirrored frame checks; the reverse
    // cumulative match count makes the limit subtraction
    // direction-agnostic. Reference: backward nested scan
    // src/queryinterpreter.cpp:2437-2458.
    Q("q_osl_chain_reverse_inner",
      (s, dir) => {
        val script =
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
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, pu AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'purchase'),
        pairs AS (
          SELECT DISTINCT v.id, v.stamp, pu.i
          FROM e v JOIN pu ON pu.id = v.id AND v.stamp < pu.stamp
          WHERE v.event = 'view' AND pu.stamp - v.stamp <= 86400000
            AND (SELECT COUNT(*) FROM e v2
              WHERE v2.id = v.id AND v2.event = 'view'
                AND v2.stamp >= v.stamp AND v2.stamp < pu.stamp) <= 2)
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'view' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM pairs GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM pairs GROUP BY i""")),

    // Round-11 Tier A widening: a `.from(0)` RESTART step below a chain
    // accumulator — for each signup (carrying its running ordinal), the
    // nested loop rescans the person from row 0 and visits the views in
    // the 24 h window BEFORE that signup. Every spawn scans the same
    // fixed tail, so a view's visitors sit on its FUTURE side here: the
    // compiled spawn tuples collect over the inverted-frame range window
    // (spawns in [row, row+24h]) and the look_back bounds anchor per
    // tuple. Reference: absolute restart scan
    // src/queryinterpreter.cpp:2437-2458 (from-anchored cursor).
    Q("q_osl_from_accum",
      (s, dir) => {
        val script =
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
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        pairs AS (
          SELECT DISTINCT v.id, v.stamp, su.i
          FROM e v JOIN su ON su.id = v.id
          WHERE v.event = 'view' AND v.stamp <= su.stamp
            AND su.stamp - v.stamp <= 86400000)
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'view' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM pairs GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM pairs GROUP BY i""")),

    // Round-12 Tier A widening: BOTH depth-3 inner steps limited —
    // signup -> the first 2 views after it -> the first 2 purchases
    // after the view. The intermediate cap joins the upper-endpoint
    // min-terms (the latest VALID view for a spawn is the one at ordinal
    // k* = min(C(r⁻), C(s0)+2)), and the deepest limit reads Γ(k*) — the
    // purchase count at that view — from a per-row array of match
    // counts (exact base-offset indexing; span₂-bounded when framed).
    // Reference: nested limit scan src/queryinterpreter.cpp:2460-2533.
    Q("q_osl_chain3_both",
      (s, dir) => {
        val script =
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
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        tri AS (
          SELECT DISTINCT p.id, p.stamp, su.i
          FROM e p JOIN su ON su.id = p.id AND su.stamp < p.stamp
          WHERE p.event = 'purchase'
            AND EXISTS (SELECT 1 FROM e v
              WHERE v.id = p.id AND v.event = 'view'
                AND v.stamp > su.stamp AND v.stamp < p.stamp
                AND (SELECT COUNT(*) FROM e v2
                  WHERE v2.id = v.id AND v2.event = 'view'
                    AND v2.stamp > su.stamp AND v2.stamp <= v.stamp) <= 2
                AND (SELECT COUNT(*) FROM e p2
                  WHERE p2.id = v.id AND p2.event = 'purchase'
                    AND p2.stamp > v.stamp AND p2.stamp <= p.stamp) <= 2))
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM tri GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM tri GROUP BY i""")),

    // Round-12 Tier A widening: a REVERSE deepest step below a depth-3
    // accumulator — signup -> view (forward) -> purchases BEFORE the
    // view, within 24 h back. The s1 interval flips to the row's future
    // side ((r, r+24h] ∩ (s0, ∞)), priced by the same monotone endpoint
    // counts with one rangeBetween(…, +24h) row window; spawn tuples
    // collect over a two-sided range window. Oracle: purchases preceded
    // ... followed within 24 h by a view that follows the signup.
    // Reference: reverse nested scan src/queryinterpreter.cpp:2437-2533.
    Q("q_osl_chain3_rev_deep",
      (s, dir) => {
        val script =
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
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        tri AS (
          SELECT DISTINCT p.id, p.stamp, su.i
          FROM e p JOIN su ON su.id = p.id
          WHERE p.event = 'purchase'
            AND EXISTS (SELECT 1 FROM e v
              WHERE v.id = p.id AND v.event = 'view'
                AND v.stamp > su.stamp AND v.stamp > p.stamp
                AND v.stamp - p.stamp <= 86400000))
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM tri GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM tri GROUP BY i""")),

    // Round-12 Tier A widening: a RESTART deepest step below a depth-3
    // accumulator — signup -> view -> rescan the person from row index 1
    // visiting purchases within 24 h at-or-before the view. The view
    // interval comes from inverting the frame around the purchase
    // (v ∈ [p, p+24h]) and the index floor is a spawn-independent row
    // check. Reference: from-anchored cursor
    // src/queryinterpreter.cpp:2437-2458.
    Q("q_osl_chain3_restart",
      (s, dir) => {
        val script =
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
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        rn AS (
          SELECT id, stamp, event,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS r
          FROM e),
        tri AS (
          SELECT DISTINCT p.id, p.stamp, su.i
          FROM rn p JOIN su ON su.id = p.id
          WHERE p.event = 'purchase' AND p.r >= 2
            AND EXISTS (SELECT 1 FROM e v
              WHERE v.id = p.id AND v.event = 'view'
                AND v.stamp > su.stamp
                AND p.stamp <= v.stamp AND v.stamp - p.stamp <= 86400000))
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM tri GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM tri GROUP BY i""")),

    // Round-12 Tier A widening: a REVERSE MIDDLE step — signup -> views
    // BEFORE the signup (within 24 h back) -> purchase within 24 h after
    // the view. The s1 interval moves to the SPAWN's other side
    // ([s0−24h, s0)), priced by tuple-side endpoint windows (exclusive
    // count at the spawn + the lower-offset count); spawn tuples collect
    // over a two-sided range window. Oracle: purchases within 24 h after
    // a view that precedes the signup by at most 24 h.
    Q("q_osl_chain3_rev_mid",
      (s, dir) => {
        val script =
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
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        tri AS (
          SELECT DISTINCT p.id, p.stamp, su.i
          FROM e p JOIN su ON su.id = p.id
          WHERE p.event = 'purchase'
            AND EXISTS (SELECT 1 FROM e v
              WHERE v.id = p.id AND v.event = 'view'
                AND v.stamp < su.stamp AND su.stamp - v.stamp <= 86400000
                AND v.stamp < p.stamp AND p.stamp - v.stamp <= 86400000))
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM tri GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM tri GROUP BY i""")),

    // Round-12 Tier A widening: a RESTART MIDDLE step — signup -> rescan
    // from row index 1 visiting views within 24 h at-or-before the
    // signup -> purchase within 24 h after the view. The absolute index
    // floor folds into the counted predicate (spawn-independent); the
    // view interval inverts the frame around the SPAWN.
    Q("q_osl_chain3_restart_mid",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.from(1).look_back(24_hours) where event.is(== 'view')
            |    each_row.continue().next().look_ahead(24_hours) where event.is(== 'purchase')
            |      << n, event
            |    end
            |  end
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        rn AS (
          SELECT id, stamp, event,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS r
          FROM e),
        tri AS (
          SELECT DISTINCT p.id, p.stamp, su.i
          FROM e p JOIN su ON su.id = p.id
          WHERE p.event = 'purchase'
            AND EXISTS (SELECT 1 FROM rn v
              WHERE v.id = p.id AND v.event = 'view' AND v.r >= 2
                AND v.stamp <= su.stamp AND su.stamp - v.stamp <= 86400000
                AND v.stamp < p.stamp AND p.stamp - v.stamp <= 86400000))
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM tri GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM tri GROUP BY i""")),

    // Round-12 Tier A widening: BOTH steps non-forward + a REVERSE-mid
    // limit — signup -> the 2 CLOSEST views before it (within 24 h) ->
    // purchases before the view (within 12 h). The endpoint assembly is
    // modular, so mid terms (tuple-side, incl. the limit's clamped
    // lower-endpoint max-term C(s0⁻)−n) and deep terms (row-side,
    // future-facing) compose freely; the spawn collect window spans the
    // general [r+dLo−mA, r+dHi+mB] inversion. Oracle: purchases within
    // 12 h before a view that is among the signup's 2 closest preceding
    // views within 24 h.
    Q("q_osl_chain3_dual_rev",
      (s, dir) => {
        val script =
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
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        tri AS (
          SELECT DISTINCT p.id, p.stamp, su.i
          FROM e p JOIN su ON su.id = p.id
          WHERE p.event = 'purchase'
            AND EXISTS (SELECT 1 FROM e v
              WHERE v.id = p.id AND v.event = 'view'
                AND v.stamp < su.stamp AND su.stamp - v.stamp <= 86400000
                AND (SELECT COUNT(*) FROM e v2
                  WHERE v2.id = v.id AND v2.event = 'view'
                    AND v2.stamp > v.stamp AND v2.stamp < su.stamp
                    AND su.stamp - v2.stamp <= 86400000) <= 1
                AND p.stamp < v.stamp AND v.stamp - p.stamp <= 43200000))
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM tri GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM tri GROUP BY i""")),

    // Round-12 Tier A widening: a REVERSE deepest step at DEPTH 4 —
    // signup -> view -> click -> purchases BEFORE the click (within
    // 24 h back). Hop validity is K-monotone in the hop row in any
    // direction, so the final reachability-ladder window flips to the
    // FOLLOWING side (rangeBetween(1, 24h)) — still the collect-free
    // ordinal path, three windows on one (id) exchange. Oracle:
    // purchases followed within 24 h by a click that completes a
    // signup -> view -> click chain.
    Q("q_osl_chain4_rev",
      (s, dir) => {
        val script =
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
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        tri AS (
          SELECT DISTINCT p.id, p.stamp, su.i
          FROM e p JOIN su ON su.id = p.id
          WHERE p.event = 'purchase'
            AND EXISTS (SELECT 1 FROM e c
              WHERE c.id = p.id AND c.event = 'click'
                AND c.stamp > p.stamp AND c.stamp - p.stamp <= 86400000
                AND EXISTS (SELECT 1 FROM e v
                  WHERE v.id = p.id AND v.event = 'view'
                    AND v.stamp > su.stamp AND v.stamp < c.stamp)))
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM tri GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM tri GROUP BY i""")),

    // Round-12: `int()` compiles (truncate-through-double, nil -> 0), so
    // a DOUBLE prop reaches the mixed-guard machinery via explicit
    // conversion — the guard compares the view's truncated value against
    // the spawning signup's ordinal, exactly int-vs-int on both tiers.
    // Oracle: DuckDB TRUNC (toward zero) + BIGINT cast.
    Q("q_osl_mixed_value_guard",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.continue().next() where event.is(== 'view')
            |    if int(value) > n
            |      each_row.continue().next() where event.is(== 'purchase')
            |        << n, event
            |      end
            |    end
            |  end
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        tri AS (
          SELECT DISTINCT p.id, p.stamp, su.i
          FROM e p JOIN su ON su.id = p.id AND su.stamp < p.stamp
          WHERE p.event = 'purchase'
            AND EXISTS (SELECT 1 FROM e v
              WHERE v.id = p.id AND v.event = 'view'
                AND v.stamp > su.stamp AND v.stamp < p.stamp
                AND CAST(TRUNC(v.value) AS BIGINT) > su.i))
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM tri GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM tri GROUP BY i""")),

    // Round-12 Tier A widening: a MIXED guard conjunct — the spawn's
    // accumulator compared against a row property of the guarded step's
    // row (`get_hour(stamp) > n` at the view). On the ordinal path the
    // j-th signup's value is affine (init + c·j), so the conjunct is a
    // per-row bound on the spawn ordinal: reach stays a spawn PREFIX and
    // the reachability ladder folds least(K, hi(row)) with hi computed
    // in-row by exact integer arithmetic — no collected array, still one
    // (id) exchange. Oracle: purchases preceded by a view whose hour
    // exceeds the spawning signup's ordinal.
    // Reference: guard scan semantics src/queryinterpreter.cpp:2437-2577.
    Q("q_osl_chain_mixed_guard",
      (s, dir) => {
        val script =
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
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        tri AS (
          SELECT DISTINCT p.id, p.stamp, su.i
          FROM e p JOIN su ON su.id = p.id AND su.stamp < p.stamp
          WHERE p.event = 'purchase'
            AND EXISTS (SELECT 1 FROM e v
              WHERE v.id = p.id AND v.event = 'view'
                AND v.stamp > su.stamp AND v.stamp < p.stamp
                AND hour(make_timestamp(v.stamp * 1000)) > su.i))
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM tri GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM tri GROUP BY i""")),

    // Round-9 Tier A widening: an EVER-read BELOW a chain step — the
    // operand observes the SPAWNING signup's running ordinal, so the
    // compiled compare (person-level max(value) aggregate vs n*50)
    // re-derives per collected spawn tuple (TierA realB late binding).
    // Oracle: (purchase, signup-ordinal) pairs where the person's max
    // value exceeds 50x the ordinal.
    Q("q_osl_chain_ever_read",
      (s, dir) => {
        val script =
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
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        mv AS (SELECT id, MAX(value) AS mx FROM e GROUP BY id),
        pairs AS (
          SELECT p.id, p.stamp, su.i
          FROM e p
          JOIN su ON su.id = p.id AND su.stamp < p.stamp
          JOIN mv ON mv.id = p.id
          WHERE p.event = 'purchase' AND mv.mx > su.i * 50)
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM pairs GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM pairs GROUP BY i""")),

    // Round-9 Tier A widening: a DEPTH-4 chain accumulator — signup ->
    // view -> purchase -> click, tallying the signup ordinal at the
    // deepest level. Compiled with the reachability ladder (__P1 running
    // count, __P2 running max of __P1 over purchase rows; a click row is
    // a level-3 visit for spawn i iff __P2(row) > c1(spawn)). Oracle:
    // (click, signup-ordinal) pairs with an interleaved view-then-purchase
    // chain strictly between them.
    Q("q_osl_chain4_accum",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.continue().next() where event.is(== 'view')
            |    each_row.continue().next() where event.is(== 'purchase')
            |      each_row.continue().next() where event.is(== 'click')
            |        << n, event
            |      end
            |    end
            |  end
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        quad AS (
          SELECT DISTINCT c.id, c.stamp, su.i
          FROM e c JOIN su ON su.id = c.id AND su.stamp < c.stamp
          WHERE c.event = 'click'
            AND EXISTS (SELECT 1 FROM e v JOIN e p
              ON p.id = v.id AND v.stamp < p.stamp
              WHERE v.id = c.id AND v.event = 'view' AND p.event = 'purchase'
                AND v.stamp > su.stamp AND p.stamp < c.stamp))
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'click' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM quad GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM quad GROUP BY i""")),

    // Round-13 Tier A widening: MULTI-STATEMENT accumulator bodies — the
    // reference's avg idiom accumulates `total` (guarded, floating-point)
    // AND the row count in ONE loop body (`+=` fold,
    // src/queryinterpreter.cpp:1786; select-avg semantics). The fp
    // accumulator takes TWO adds per visit ((t+value)+1 — a window SUM
    // would re-associate as t+(value+1)), so Tier A compiles it with
    // FoldSum: a statement-ordered window fold whose running frame updates
    // once per row in scan order, bit-identical to the interpreter. The
    // oracle replays the same sequence by EXPLODING each visit into its
    // per-statement increments (k = 1, 2) and running DuckDB's cumulative
    // sum over the doubled rows — both engines stream running frames
    // sequentially, so the doubles match to the last ULP.
    Q("q_osl_multi_accum",
      (s, dir) => {
        val script =
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
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, p AS (
          SELECT id, stamp, event, value,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS rn
          FROM e WHERE stamp > 0),
        x AS (
          SELECT id, rn, 1 AS k,
            CASE WHEN event = 'purchase' THEN value END AS inc FROM p
          UNION ALL SELECT id, rn, 2 AS k, 1.0 AS inc FROM p),
        s AS (
          SELECT id, rn, k,
            SUM(inc) OVER (PARTITION BY id ORDER BY rn, k
                           ROWS UNBOUNDED PRECEDING) AS tot
          FROM x),
        v AS (
          SELECT id,
            CAST(CAST(FLOOR(tot / 500) * 500 AS BIGINT) AS VARCHAR) AS g1,
            CAST((rn // 40) * 40 AS VARCHAR) AS g2
          FROM s WHERE k = 2)
        SELECT CAST(2 AS INTEGER) AS depth, g1, g2,
          COUNT(DISTINCT id) AS customers, COUNT(*) AS n_rows
        FROM v GROUP BY g1, g2
        UNION ALL
        SELECT CAST(1 AS INTEGER), g1, CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM v GROUP BY g1""")),

    // The chain-read twin: the multi-statement fp accumulator observed
    // BELOW a `.continue().next()` step — each later purchase tallies
    // under the spawning signup's post-visit total ((t+value)+1 per
    // signup). The chain-witness builder materializes the same FoldSum
    // running fold before collecting spawn tuples; a purchase reached by
    // several signups with the SAME bucket tallies once (per-(row, node)
    // dedup — the oracle's DISTINCT).
    Q("q_osl_multi_accum_chain",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |total = 0
            |each_row where event.is(== 'signup')
            |  total += value
            |  total += 1
            |  each_row.continue().next() where event.is(== 'purchase')
            |    << bucket(total, 500), event
            |  end
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su0 AS (
          SELECT id, stamp, value,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS rn
          FROM e WHERE event = 'signup'),
        x AS (
          SELECT id, rn, stamp, 1 AS k, value AS inc FROM su0
          UNION ALL SELECT id, rn, stamp, 2 AS k, 1.0 AS inc FROM su0),
        s AS (
          SELECT id, rn, stamp, k,
            SUM(inc) OVER (PARTITION BY id ORDER BY rn, k
                           ROWS UNBOUNDED PRECEDING) AS tot
          FROM x),
        su AS (SELECT id, stamp, tot FROM s WHERE k = 2),
        pairs AS (
          SELECT DISTINCT p.id, p.stamp,
            CAST(CAST(FLOOR(b.tot / 500) * 500 AS BIGINT) AS VARCHAR) AS g1
          FROM e p JOIN su b ON b.id = p.id AND b.stamp < p.stamp
          WHERE p.event = 'purchase')
        SELECT CAST(2 AS INTEGER) AS depth, g1, 'purchase' AS g2,
          COUNT(DISTINCT id) AS customers, COUNT(*) AS n_rows
        FROM pairs GROUP BY g1
        UNION ALL
        SELECT CAST(1 AS INTEGER), g1, CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM pairs GROUP BY g1""")),

    // Round-13 mixed-guard residue, item 1: a NON-BARE accumulator side —
    // `n + 1 < get_hour(stamp)` normalizes at extraction to
    // `n < get_hour(stamp) − 1` (exact long arithmetic, the interpreter's
    // own `Value.plus` fold), then rides the same K-ladder least-fold as
    // the bare form (`TierA.accShifted`). Reference comparison semantics:
    // src/queryparserosl.h:2167-2524.
    Q("q_osl_mixed_shift_guard",
      (s, dir) => {
        val script =
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
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        tri AS (
          SELECT DISTINCT p.id, p.stamp, su.i
          FROM e p JOIN su ON su.id = p.id AND su.stamp < p.stamp
          WHERE p.event = 'purchase'
            AND EXISTS (SELECT 1 FROM e v
              WHERE v.id = p.id AND v.event = 'view'
                AND v.stamp > su.stamp AND v.stamp < p.stamp
                AND su.i + 1 < hour(make_timestamp(v.stamp * 1000))))
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM tri GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM tri GROUP BY i""")),

    // Round-13 mixed-guard residue, item 2: the `.is(OP acc)` PROP-TEST
    // form — `event_id.is(>= n)` at the view row is `event_id >= n ⟺
    // n <= event_id`, the same per-row ordinal bound with the prop as
    // the row side (integral-prop gate unchanged; nil props compare
    // falsy — hi coalesces to 0). Reference: src/oloop_query.cpp
    // property-test compare dispatch.
    Q("q_osl_mixed_is_guard",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 7
            |  each_row.continue().next() where event.is(== 'view')
            |    if event_id.is(>= n)
            |      each_row.continue().next() where event.is(== 'purchase')
            |        << n, event
            |      end
            |    end
            |  end
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            7 * ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS n7
          FROM e WHERE event = 'signup'),
        tri AS (
          SELECT DISTINCT p.id, p.stamp, su.n7
          FROM e p JOIN su ON su.id = p.id AND su.stamp < p.stamp
          WHERE p.event = 'purchase'
            AND EXISTS (SELECT 1 FROM e v
              WHERE v.id = p.id AND v.event = 'view'
                AND v.stamp > su.stamp AND v.stamp < p.stamp
                AND v.event_id >= su.n7))
        SELECT CAST(2 AS INTEGER) AS depth, CAST(n7 AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM tri GROUP BY n7
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(n7 AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM tri GROUP BY n7""")),

    // Round-14 adjudication query (VERDICT r13 #1): a MIXED guard
    // (decreasing accumulator, lower-bounding `>=`) over a FRAMED
    // `.from(1).look_back(24h)` RESTART deepest. The restart deepest is a
    // bare nested `each_row.from(k)` (`.from` is interpreter-dead under
    // `.continue()` — Interpreter.execEachRow resolves the scan start
    // continueFrom-first); the mixed bound folds into the ordinal ladder
    // (least(K, hi)) while lastHopWin brackets the inverted restart frame
    // (s1 ∈ [r, r+24h]) and the `__rn` index floor stays
    // spawn-independent. Reference: src/queryinterpreter.cpp:2437-2577
    // (loop restart), src/queryparserosl.h:2167-2524 (guard compare).
    Q("q_osl_chain3_restart_framed_mixed",
      (s, dir) => {
        val script =
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
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            50 - 2 * ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS nv
          FROM e WHERE event = 'signup'),
        rn AS (
          SELECT id, stamp, event,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS r
          FROM e),
        tri AS (
          SELECT DISTINCT p.id, p.stamp, su.nv
          FROM rn p JOIN su ON su.id = p.id
          WHERE p.event = 'purchase' AND p.r >= 2
            AND EXISTS (SELECT 1 FROM e v
              WHERE v.id = p.id AND v.event = 'view'
                AND v.stamp > su.stamp
                AND su.nv >= hour(make_timestamp(v.stamp * 1000))
                AND p.stamp <= v.stamp AND v.stamp - p.stamp <= 86400000))
        SELECT CAST(2 AS INTEGER) AS depth, CAST(nv AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM tri GROUP BY nv
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(nv AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM tri GROUP BY nv""")),

    // Round-14 widening (VERDICT r13 #4): `.limit(m)` on a REVERSE
    // deepest step (framed). A hop (view) only visits the purchases with
    // fewer than m purchase matches strictly between them — valid hops
    // are a PREFIX of the following views while the ladder value grows
    // with LATER hops, so reach is the exact max over the filtered hop
    // set (collected over the frame-bounded following window, the
    // round-11/12 collect-window cost class).
    // Reference: src/queryinterpreter.cpp:2437-2577 (backward scan cap).
    Q("q_osl_chain3_rev_deep_limited",
      (s, dir) => {
        val script =
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
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        tri AS (
          SELECT DISTINCT p.id, p.stamp, su.i
          FROM e p JOIN su ON su.id = p.id
          WHERE p.event = 'purchase'
            AND EXISTS (SELECT 1 FROM e v
              WHERE v.id = p.id AND v.event = 'view'
                AND v.stamp > su.stamp AND v.stamp > p.stamp
                AND v.stamp - p.stamp <= 86400000
                AND (SELECT COUNT(*) FROM e p2
                     WHERE p2.id = p.id AND p2.event = 'purchase'
                       AND p2.stamp > p.stamp AND p2.stamp < v.stamp) < 2))
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM tri GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM tri GROUP BY i""")),

    // Round-14 widening: `.limit(m)` on an UNFRAMED RESTART deepest —
    // every hop rescans the identical floored tail, so the visited set
    // is the first m floored purchase matches for every hop and spawn:
    // one row-level count conjunct on the ordinal path.
    Q("q_osl_chain3_restart_limited",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.continue().next() where event.is(== 'view')
            |    each_row.from(1).limit(2) where event.is(== 'purchase')
            |      << n, event
            |    end
            |  end
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        rn AS (
          SELECT id, stamp, event,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS r
          FROM e),
        pp AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS pr
          FROM rn WHERE event = 'purchase' AND r >= 2),
        tri AS (
          SELECT DISTINCT p.id, p.stamp, su.i
          FROM pp p JOIN su ON su.id = p.id
          WHERE p.pr <= 2
            AND EXISTS (SELECT 1 FROM e v
              WHERE v.id = p.id AND v.event = 'view'
                AND v.stamp > su.stamp))
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM tri GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM tri GROUP BY i""")),

    // Round-14 widening (VERDICT r13 #5): a MIXED guard under a REVERSE
    // top. Reachability in backward-ordinal space is a SUFFIX
    // (i ≥ T−K+1), so upward-closed guard classes — here increasing
    // accumulator with a lower-bounding op (`n > get_hour(stamp)`) —
    // compose as least(K, T − lo + 1) on the same ordinal ladder (the
    // exact dual of the forward-top prefix fold).
    // Reference: src/queryparserosl.h:2167-2524 (guard compares),
    // src/queryinterpreter.cpp reverse scan.
    Q("q_osl_mixed_reverse_top",
      (s, dir) => {
        val script =
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
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp DESC) AS i
          FROM e WHERE event = 'signup'),
        tri AS (
          SELECT DISTINCT p.id, p.stamp, su.i
          FROM e p JOIN su ON su.id = p.id AND su.stamp < p.stamp
          WHERE p.event = 'purchase'
            AND EXISTS (SELECT 1 FROM e v
              WHERE v.id = p.id AND v.event = 'view'
                AND v.stamp > su.stamp AND v.stamp < p.stamp
                AND su.i > hour(make_timestamp(v.stamp * 1000))))
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM tri GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM tri GROUP BY i""")),

    // Round-14 widening (VERDICT r13 #5): a SUFFIX-direction mixed guard
    // — decreasing accumulator with an upper-bounding compare
    // (`int(value) >= n`: satisfied ordinals sit ABOVE a bound) over a
    // FRAMED forward deepest. Per-hop valid ordinal intervals can GAP
    // across hops, so entries are the exact merged-interval union over
    // the frame-bounded hop window (collect → sort → merge → flatten;
    // output ≤ spawns). Reference: src/queryparserosl.h:2167-2524.
    Q("q_osl_mixed_suffix_guard",
      (s, dir) => {
        val script =
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
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            80 - 7 * ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS nv
          FROM e WHERE event = 'signup'),
        tri AS (
          SELECT DISTINCT p.id, p.stamp, su.nv
          FROM e p JOIN su ON su.id = p.id AND su.stamp < p.stamp
          WHERE p.event = 'purchase'
            AND EXISTS (SELECT 1 FROM e v
              WHERE v.id = p.id AND v.event = 'view'
                AND v.stamp > su.stamp AND v.stamp < p.stamp
                AND p.stamp - v.stamp <= 86400000
                AND CAST(TRUNC(v.value) AS BIGINT) >= su.nv))
        SELECT CAST(2 AS INTEGER) AS depth, CAST(nv AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM tri GROUP BY nv
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(nv AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM tri GROUP BY nv""")),

    // Round-14 widening: a REVERSE MIDDLE step at depth 4 (previously
    // Tier B — middles were gated plain on the ordinal path). Each
    // level's ladder window follows ITS step's direction: the click
    // level scans BACKWARD from views within 24 h, so its reach window
    // flips to the following side; reach stays a spawn prefix per level
    // and the max-ladder composes. Oracle: purchase after a click that
    // precedes (within 24 h) a view that follows the signup.
    Q("q_osl_chain4_rev_mid",
      (s, dir) => {
        val script =
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
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        tri AS (
          SELECT DISTINCT p.id, p.stamp, su.i
          FROM e p JOIN su ON su.id = p.id
          WHERE p.event = 'purchase'
            AND EXISTS (SELECT 1 FROM e c
              WHERE c.id = p.id AND c.event = 'click'
                AND c.stamp < p.stamp
                AND EXISTS (SELECT 1 FROM e v
                  WHERE v.id = p.id AND v.event = 'view'
                    AND v.stamp > su.stamp AND v.stamp > c.stamp
                    AND v.stamp - c.stamp <= 86400000)))
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM tri GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM tri GROUP BY i""")),

    // Round-14 widening: a FRAMED FORWARD MIDDLE step at depth 4 — the
    // click must follow its view within 24 h; the click level's ladder
    // window range-bounds to [r−24h, r) on the same single exchange.
    Q("q_osl_chain4_framed_mid",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.continue().next() where event.is(== 'view')
            |    each_row.continue().next().look_ahead(24_hours) where event.is(== 'click')
            |      each_row.continue().next() where event.is(== 'purchase')
            |        << n, event
            |      end
            |    end
            |  end
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        tri AS (
          SELECT DISTINCT p.id, p.stamp, su.i
          FROM e p JOIN su ON su.id = p.id
          WHERE p.event = 'purchase'
            AND EXISTS (SELECT 1 FROM e c
              WHERE c.id = p.id AND c.event = 'click'
                AND c.stamp < p.stamp
                AND EXISTS (SELECT 1 FROM e v
                  WHERE v.id = p.id AND v.event = 'view'
                    AND v.stamp > su.stamp AND v.stamp < c.stamp
                    AND c.stamp - v.stamp <= 86400000)))
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM tri GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM tri GROUP BY i""")),

    // Round-14 widening: `.limit(m)` on a FORWARD MIDDLE step at depth 4
    // — a click is a valid mid visit from view v only among the first 2
    // clicks after v. The latest preceding view dominates both reach and
    // limit validity, so the click level's reach zeroes under one
    // G-conjunct (C_click − G ≤ 2) on the same single exchange.
    Q("q_osl_chain4_mid_limited",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.continue().next() where event.is(== 'view')
            |    each_row.continue().next().limit(2) where event.is(== 'click')
            |      each_row.continue().next() where event.is(== 'purchase')
            |        << n, event
            |      end
            |    end
            |  end
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        tri AS (
          SELECT DISTINCT p.id, p.stamp, su.i
          FROM e p JOIN su ON su.id = p.id
          WHERE p.event = 'purchase'
            AND EXISTS (SELECT 1 FROM e c
              WHERE c.id = p.id AND c.event = 'click'
                AND c.stamp < p.stamp
                AND EXISTS (SELECT 1 FROM e v
                  WHERE v.id = p.id AND v.event = 'view'
                    AND v.stamp > su.stamp AND v.stamp < c.stamp
                    AND (SELECT COUNT(*) FROM e c2
                         WHERE c2.id = p.id AND c2.event = 'click'
                           AND c2.stamp > v.stamp
                           AND c2.stamp <= c.stamp) <= 2)))
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM tri GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM tri GROUP BY i""")),

    // Round-14 widening: a BARE DOUBLE row side in a mixed guard
    // (`value > n` — no explicit int() conversion). The inclusive
    // ordinal bound solves exactly through floor/ceil (v < R ⟺
    // v ≤ ⌈R⌉−1), bit-matching the interpreter's long-vs-double compare
    // while the magnitude gate keeps values inside the exact long↔double
    // range. Reference: src/queryparserosl.h value-compare dispatch.
    Q("q_osl_mixed_double_guard",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.continue().next() where event.is(== 'view')
            |    if value > n
            |      each_row.continue().next() where event.is(== 'purchase')
            |        << n, event
            |      end
            |    end
            |  end
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        tri AS (
          SELECT DISTINCT p.id, p.stamp, su.i
          FROM e p JOIN su ON su.id = p.id AND su.stamp < p.stamp
          WHERE p.event = 'purchase'
            AND EXISTS (SELECT 1 FROM e v
              WHERE v.id = p.id AND v.event = 'view'
                AND v.stamp > su.stamp AND v.stamp < p.stamp
                -- NaN note (round 15): the engine ranks NaN GREATEST in
                -- comparisons (Spark/DuckDB/interpreter all agree — see
                -- Value.cmp), so `v.value > su.i` matches on NaN-bearing
                -- worlds too; pinned by the TierChainAccumSpec
                -- saturation world differential
                AND v.value > su.i))
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM tri GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM tri GROUP BY i""")),

    // Round-14 widening: a MIXED guard on a LIMITED (framed forward)
    // deepest — the G-lookup can't carry it (min(K, hi) isn't
    // hop-monotone), so the limit prices per hop: (deep-count, folded K)
    // structs collected over the frame-bounded preceding window,
    // filtered by the between-count and maxed in-row.
    Q("q_osl_mixed_limited_deepest",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.continue().next() where event.is(== 'view')
            |    if get_hour(stamp) > n
            |      each_row.continue().next().look_ahead(24_hours).limit(2) where event.is(== 'purchase')
            |        << n, event
            |      end
            |    end
            |  end
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        tri AS (
          SELECT DISTINCT p.id, p.stamp, su.i
          FROM e p JOIN su ON su.id = p.id
          WHERE p.event = 'purchase'
            AND EXISTS (SELECT 1 FROM e v
              WHERE v.id = p.id AND v.event = 'view'
                AND v.stamp > su.stamp AND v.stamp < p.stamp
                AND p.stamp - v.stamp <= 86400000
                AND hour(make_timestamp(v.stamp * 1000)) > su.i
                AND (SELECT COUNT(*) FROM e p2
                     WHERE p2.id = p.id AND p2.event = 'purchase'
                       AND p2.stamp > v.stamp
                       AND p2.stamp <= p.stamp) <= 2))
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM tri GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM tri GROUP BY i""")),

    // Round-14 widening: a LIMITED framed REVERSE MIDDLE step — a click
    // is a valid mid visit from view v only among the first 2 clicks
    // scanning BACKWARD from v within 24 h. Priced exactly per hop at
    // the click level: (between-count, K) structs over the following
    // frame window, filtered and maxed in-row (the reverse-deepest
    // machinery generalized to any level).
    Q("q_osl_chain4_rev_mid_limited",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.continue().next() where event.is(== 'view')
            |    each_row.continue().next().reverse().look_back(24_hours).limit(2) where event.is(== 'click')
            |      each_row.continue().next() where event.is(== 'purchase')
            |        << n, event
            |      end
            |    end
            |  end
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        tri AS (
          SELECT DISTINCT p.id, p.stamp, su.i
          FROM e p JOIN su ON su.id = p.id
          WHERE p.event = 'purchase'
            AND EXISTS (SELECT 1 FROM e c
              WHERE c.id = p.id AND c.event = 'click'
                AND c.stamp < p.stamp
                AND EXISTS (SELECT 1 FROM e v
                  WHERE v.id = p.id AND v.event = 'view'
                    AND v.stamp > su.stamp AND v.stamp > c.stamp
                    AND v.stamp - c.stamp <= 86400000
                    AND (SELECT COUNT(*) FROM e c2
                         WHERE c2.id = p.id AND c2.event = 'click'
                           AND c2.stamp > c.stamp
                           AND c2.stamp < v.stamp) <= 1)))
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM tri GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM tri GROUP BY i""")),

    // Round-15 widening: a DYNAMIC where-conjunct cap — the reference's
    // canonical budget pattern (`n < value` compared against the ROW's
    // value, src/queryinterpreter.cpp:2151-2274 where-eval + vars-first
    // lookup). A failing row does NOT freeze the scan, so the visited set
    // is a sequential (acc, vis) recurrence; Tier A prices it with the
    // GatedFold window (one running frame on the same person exchange).
    // The oracle replays the identical recurrence as a recursive CTE in
    // per-person purchase order — DuckDB's double adds run in the same
    // sequence, so the fp fold is bit-exact.
    Q("q_osl_where_dynamic",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |  sum value as total_spend
            |end
            |n = 0
            |each_row where event.is(== 'purchase') && n < value
            |  n += value
            |  << get_day_of_week(stamp), event
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"), col("total_spend"))
      },
      Some(s"""WITH RECURSIVE e AS (
          SELECT user_id AS id, epoch_ms(ts) AS stamp,
                 event_type AS event, value FROM events),
        m AS (
          SELECT id, stamp, value,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'purchase'),
        f AS (
          SELECT id, 0 AS i, CAST(0.0 AS DOUBLE) AS acc, FALSE AS vis,
                 CAST(NULL AS BIGINT) AS stamp, CAST(NULL AS DOUBLE) AS value
          FROM (SELECT DISTINCT id FROM m)
          UNION ALL
          SELECT m.id, m.i,
            CASE WHEN f.acc < m.value
                 THEN f.acc + COALESCE(m.value, 0) ELSE f.acc END,
            COALESCE(f.acc < m.value, FALSE),
            m.stamp, m.value
          FROM f JOIN m ON m.id = f.id AND m.i = f.i + 1),
        vis AS (
          SELECT id,
            CAST(dayofweek(make_timestamp(stamp * 1000)) + 1 AS VARCHAR) AS g1,
            'purchase' AS g2, value
          FROM f WHERE vis)
        SELECT CAST(2 AS INTEGER) AS depth, g1, g2,
          COUNT(DISTINCT id) AS customers, COUNT(*) AS n_rows,
          ${dsumSql("value")} AS total_spend
        FROM vis GROUP BY g1, g2
        UNION ALL
        SELECT CAST(1 AS INTEGER) AS depth, g1, CAST(NULL AS VARCHAR) AS g2,
          COUNT(DISTINCT id) AS customers, COUNT(*) AS n_rows,
          ${dsumSql("value")} AS total_spend
        FROM vis GROUP BY g1""")),

    // Round-15 widening #3: a FRAMED forward MIDDLE limit above a
    // NON-MONOTONE level (the framed click step below it) — the round-14
    // G-conjunct's dominance argument fails there, so the limit prices
    // exactly per hop: (level count, K) structs collected over the
    // frame-bounded window, filtered by the between-count cap. Oracle:
    // the nested-EXISTS chain with the rank cap as a correlated count.
    Q("q_osl_chain5_mid_limited",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.continue().next() where event.is(== 'view')
            |    each_row.continue().next().look_ahead(24_hours) where event.is(== 'click')
            |      each_row.continue().next().look_ahead(24_hours).limit(2) where event.is(== 'purchase')
            |        each_row.continue().next() where event.is(== 'error')
            |          << n, event
            |        end
            |      end
            |    end
            |  end
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        tri AS (
          SELECT DISTINCT z.id, z.stamp, su.i
          FROM e z JOIN su ON su.id = z.id
          WHERE z.event = 'error'
            AND EXISTS (SELECT 1 FROM e p
              WHERE p.id = z.id AND p.event = 'purchase'
                AND p.stamp < z.stamp
                AND EXISTS (SELECT 1 FROM e c
                  WHERE c.id = z.id AND c.event = 'click'
                    AND c.stamp < p.stamp
                    AND p.stamp - c.stamp <= 86400000
                    AND (SELECT COUNT(*) FROM e p2
                         WHERE p2.id = z.id AND p2.event = 'purchase'
                           AND p2.stamp > c.stamp
                           AND p2.stamp <= p.stamp) <= 2
                    AND EXISTS (SELECT 1 FROM e v
                      WHERE v.id = z.id AND v.event = 'view'
                        AND v.stamp < c.stamp
                        AND c.stamp - v.stamp <= 86400000
                        AND v.stamp > su.stamp))))
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'error' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM tri GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM tri GROUP BY i""")),

    // Round-15 widening #2: the dynamic cap on a CHAIN TOP — budget-gated
    // signups spawn a purchase funnel. The GatedFold's candidacy child
    // evaluates the residual where in-row (witness windows need every
    // row); vis gates which rows spawn. Oracle: the same recursive-CTE
    // recurrence picks the visited signups, and a purchase fires iff ANY
    // visited signup precedes it (⟺ it follows the EARLIEST one).
    Q("q_osl_where_dynamic_chain",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup') && n < value
            |  n += 1
            |  each_row.continue().next() where event.is(== 'purchase')
            |    << 'funnel', event
            |  end
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""WITH RECURSIVE e AS (
          SELECT user_id AS id, epoch_ms(ts) AS stamp,
                 event_type AS event, value FROM events),
        m AS (
          SELECT id, stamp, value,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        f AS (
          SELECT id, 0 AS i, CAST(0.0 AS DOUBLE) AS acc, FALSE AS vis,
                 CAST(NULL AS BIGINT) AS stamp
          FROM (SELECT DISTINCT id FROM m)
          UNION ALL
          SELECT m.id, m.i,
            CASE WHEN f.acc < m.value THEN f.acc + 1 ELSE f.acc END,
            COALESCE(f.acc < m.value, FALSE),
            m.stamp
          FROM f JOIN m ON m.id = f.id AND m.i = f.i + 1),
        vs AS (SELECT id, MIN(stamp) AS s0 FROM f WHERE vis GROUP BY id),
        p AS (
          SELECT e.id FROM e JOIN vs ON vs.id = e.id AND e.stamp > vs.s0
          WHERE e.event = 'purchase')
        SELECT CAST(2 AS INTEGER) AS depth, 'funnel' AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM p
        UNION ALL
        SELECT CAST(1 AS INTEGER) AS depth, 'funnel' AS g1,
          CAST(NULL AS VARCHAR) AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM p""")),

    // Round-15 widening: FRAMED `.from(k)` restart steps + `.limit(m)`.
    // Every hop rescans from the same absolute floor, but its frame cuts
    // a DIFFERENT prefix of the floored tail — so unlike the unframed
    // form (round 14) there is no row-level rank cap. The rank of row r
    // in hop y's scan is exact arithmetic though: C'(r) − G(y), with C'
    // the running floored-match count and G(y) the floored matches
    // strictly below y's frame (a range-window count at the hop). Depth 2
    // prices it per collected spawn tuple (the tuple carries G).
    // Reference: src/queryinterpreter.cpp:2437-2577 (from/frame/limit
    // resolution in the row loop).
    Q("q_osl_restart_framed_limited",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.from(1).within(12_hours, stamp).limit(2) where event.is(== 'view')
            |    << n, event
            |  end
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        rn AS (
          SELECT id, stamp, event,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS r
          FROM e),
        vw AS (
          SELECT id, stamp FROM rn WHERE event = 'view' AND r >= 2),
        tri AS (
          SELECT DISTINCT w.id, w.stamp, su.i
          FROM vw w JOIN su ON su.id = w.id
          WHERE w.stamp BETWEEN su.stamp - 43200000 AND su.stamp + 43200000
            AND (SELECT COUNT(*) FROM vw q
                 WHERE q.id = w.id AND q.stamp >= su.stamp - 43200000
                   AND q.stamp <= w.stamp) <= 2)
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'view' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM tri GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM tri GROUP BY i""")),

    // Depth-3: the framed-from-limited step at the DEEPEST level — the
    // ordinal ladder's (G, K) per-hop collect over the inverted-frame
    // bracket (hops = views whose frame contains the purchase).
    Q("q_osl_chain3_restart_framed_limited",
      (s, dir) => {
        val script =
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
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        rn AS (
          SELECT id, stamp, event,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS r
          FROM e),
        pp AS (
          SELECT id, stamp FROM rn WHERE event = 'purchase' AND r >= 2),
        tri AS (
          SELECT DISTINCT p.id, p.stamp, su.i
          FROM pp p JOIN su ON su.id = p.id
          WHERE EXISTS (SELECT 1 FROM e v
            WHERE v.id = p.id AND v.event = 'view' AND v.stamp > su.stamp
              AND p.stamp BETWEEN v.stamp - 86400000 AND v.stamp
              AND (SELECT COUNT(*) FROM pp q
                   WHERE q.id = p.id AND q.stamp >= v.stamp - 86400000
                     AND q.stamp <= p.stamp) <= 2))
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM tri GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM tri GROUP BY i""")),

    // Depth-3: the framed-from-limited step at the MIDDLE level — this
    // one rides the COLLECT path (level 1 can't be ordinal): under
    // rowFreeGuard the rank space is the interval-count space, so the
    // cap is one more upper-endpoint min-term n + G(s0), with G already
    // the tuple's own below-frame lower endpoint.
    Q("q_osl_chain3_restart_framed_mid_limited",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.from(1).look_back(24_hours).limit(2) where event.is(== 'view')
            |    each_row.continue().next() where event.is(== 'purchase')
            |      << n, event
            |    end
            |  end
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        rn AS (
          SELECT id, stamp, event,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS r
          FROM e),
        vv AS (
          SELECT id, stamp FROM rn WHERE event = 'view' AND r >= 2),
        tri AS (
          SELECT DISTINCT p.id, p.stamp, su.i
          FROM e p JOIN su ON su.id = p.id
          WHERE p.event = 'purchase'
            AND EXISTS (SELECT 1 FROM vv v
              WHERE v.id = p.id AND v.stamp < p.stamp
                AND v.stamp BETWEEN su.stamp - 86400000 AND su.stamp
                AND (SELECT COUNT(*) FROM vv q
                     WHERE q.id = p.id
                       AND q.stamp >= su.stamp - 86400000
                       AND q.stamp <= v.stamp) <= 2))
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM tri GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM tri GROUP BY i""")),

    // Depth-4: the framed-from-limited step at a MIDDLE level — the same
    // (G, K) collect applied at its level; K composes through the plain
    // deepest's running-max ladder.
    Q("q_osl_chain4_restart_framed_mid_limited",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.continue().next() where event.is(== 'view')
            |    each_row.from(1).look_back(24_hours).limit(1) where event.is(== 'click')
            |      each_row.continue().next() where event.is(== 'purchase')
            |        << n, event
            |      end
            |    end
            |  end
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        rn AS (
          SELECT id, stamp, event,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS r
          FROM e),
        cc AS (
          SELECT id, stamp FROM rn WHERE event = 'click' AND r >= 2),
        tri AS (
          SELECT DISTINCT p.id, p.stamp, su.i
          FROM e p JOIN su ON su.id = p.id
          WHERE p.event = 'purchase'
            AND EXISTS (SELECT 1 FROM cc c
              WHERE c.id = p.id AND c.stamp < p.stamp
                AND EXISTS (SELECT 1 FROM e v
                  WHERE v.id = p.id AND v.event = 'view'
                    AND v.stamp > su.stamp
                    AND c.stamp BETWEEN v.stamp - 86400000 AND v.stamp
                    AND (SELECT COUNT(*) FROM cc q
                         WHERE q.id = p.id
                           AND q.stamp >= v.stamp - 86400000
                           AND q.stamp <= c.stamp) <= 1)))
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM tri GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM tri GROUP BY i""")),

    // Round-15 widening: MULTIPLE gating accumulators in a dynamic
    // where-cap — `n < value && m < get_hour(stamp)` with both names
    // incremented. ONE GatedFold prices the joint recurrence: its buffer
    // is the (n, m, vis) tuple, a visit requires EVERY gate, and both
    // accumulators update on a visit (the interpreter's vars-first
    // pre-increment where-eval, src/queryinterpreter.cpp:2151-2274). The
    // oracle replays the identical joint recurrence as a recursive CTE in
    // per-person purchase order — same double-add sequence, bit-exact fp.
    Q("q_osl_where_dynamic_dual",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |  sum value as total_spend
            |end
            |n = 0
            |m = 0
            |each_row where event.is(== 'purchase') && n < value && m < get_hour(stamp)
            |  n += value
            |  m += 1
            |  << get_day_of_week(stamp), event
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"), col("total_spend"))
      },
      Some(s"""WITH RECURSIVE e AS (
          SELECT user_id AS id, epoch_ms(ts) AS stamp,
                 event_type AS event, value FROM events),
        mm AS (
          SELECT id, stamp, value,
            hour(make_timestamp(stamp * 1000)) AS hr,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'purchase'),
        f AS (
          SELECT id, 0 AS i, CAST(0.0 AS DOUBLE) AS n,
                 CAST(0.0 AS DOUBLE) AS m, FALSE AS vis,
                 CAST(NULL AS BIGINT) AS stamp, CAST(NULL AS DOUBLE) AS value
          FROM (SELECT DISTINCT id FROM mm)
          UNION ALL
          SELECT mm.id, mm.i,
            CASE WHEN COALESCE(f.n < mm.value AND f.m < mm.hr, FALSE)
                 THEN f.n + COALESCE(mm.value, 0) ELSE f.n END,
            CASE WHEN COALESCE(f.n < mm.value AND f.m < mm.hr, FALSE)
                 THEN f.m + 1 ELSE f.m END,
            COALESCE(f.n < mm.value AND f.m < mm.hr, FALSE),
            mm.stamp, mm.value
          FROM f JOIN mm ON mm.id = f.id AND mm.i = f.i + 1),
        vis AS (
          SELECT id,
            CAST(dayofweek(make_timestamp(stamp * 1000)) + 1 AS VARCHAR) AS g1,
            'purchase' AS g2, value
          FROM f WHERE vis)
        SELECT CAST(2 AS INTEGER) AS depth, g1, g2,
          COUNT(DISTINCT id) AS customers, COUNT(*) AS n_rows,
          ${dsumSql("value")} AS total_spend
        FROM vis GROUP BY g1, g2
        UNION ALL
        SELECT CAST(1 AS INTEGER) AS depth, g1, CAST(NULL AS VARCHAR) AS g2,
          COUNT(DISTINCT id) AS customers, COUNT(*) AS n_rows,
          ${dsumSql("value")} AS total_spend
        FROM vis GROUP BY g1""")),

    // Round-15: SESSION references compile in Tier A (the table row said
    // Tier B — stale): `needsSession` sessionizes the base (lag/gap/sum
    // windows on the same person sort) and round 15 adds the
    // `session_count` column (max(session) over the person — previously
    // a compiled session_count reference hit an unresolved column at
    // analysis). Oracle: the identical LAG/SUM sessionization in SQL.
    Q("q_osl_session_tally",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |  count session as sessions
            |end
            |each_row where event.is(!= 'error')
            |  << session, event
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"), col("sessions"))
      },
      Some(s"""$E, sz AS (
          SELECT id, stamp, event,
            1 + SUM(CASE WHEN prev IS NOT NULL AND stamp - prev > 1800000
                         THEN 1 ELSE 0 END)
              OVER (PARTITION BY id ORDER BY stamp
                    ROWS UNBOUNDED PRECEDING) AS session
          FROM (SELECT id, stamp, event,
                  LAG(stamp) OVER (PARTITION BY id ORDER BY stamp) AS prev
                FROM e)),
        p AS (
          SELECT id, CAST(session AS VARCHAR) AS g1, event AS g2, session
          FROM sz WHERE event != 'error')
        SELECT CAST(2 AS INTEGER) AS depth, g1, g2,
          COUNT(DISTINCT id) AS customers, COUNT(*) AS n_rows,
          COUNT(DISTINCT (id, session)) AS sessions
        FROM p GROUP BY g1, g2
        UNION ALL
        SELECT CAST(1 AS INTEGER), g1, CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*), COUNT(DISTINCT (id, session))
        FROM p GROUP BY g1""")),

    // session_count as a BARE expression in the WHERE and the tally key
    // (the round-15 fix's regression surface: the max(session) person
    // window; the interpreter's VarRef path serves bare reads — the
    // `.is()` form reads a MISSING prop there and stays Tier B).
    Q("q_osl_session_count_where",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |each_row where session_count > 1 && event.is(== 'purchase')
            |  << session_count, event
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, sz AS (
          SELECT id, stamp, event,
            1 + SUM(CASE WHEN prev IS NOT NULL AND stamp - prev > 1800000
                         THEN 1 ELSE 0 END)
              OVER (PARTITION BY id ORDER BY stamp
                    ROWS UNBOUNDED PRECEDING) AS session
          FROM (SELECT id, stamp, event,
                  LAG(stamp) OVER (PARTITION BY id ORDER BY stamp) AS prev
                FROM e)),
        sc AS (
          SELECT id, stamp, event,
            MAX(session) OVER (PARTITION BY id) AS session_count
          FROM sz),
        p AS (
          SELECT id, CAST(session_count AS VARCHAR) AS g1, event AS g2
          FROM sc WHERE session_count > 1 AND event = 'purchase')
        SELECT CAST(2 AS INTEGER) AS depth, g1, g2,
          COUNT(DISTINCT id) AS customers, COUNT(*) AS n_rows
        FROM p GROUP BY g1, g2
        UNION ALL
        SELECT CAST(1 AS INTEGER), g1, CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM p GROUP BY g1""")),

    // Round-15 widening: a CONTRA-direction mixed guard over a FRAMED
    // RESTART deepest with a `.limit` — the merged-interval union's hop
    // window BRACKETS the row (the inverted frame) and the rank filter
    // is the restart's own floored C'(r) − G(y) ≤ m. The most composite
    // shape of the round: contra union × framed restart × limit.
    Q("q_osl_mixed_suffix_restart_limited",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup')
            |  n += 1
            |  each_row.continue().next() where event.is(== 'view')
            |    if get_hour(stamp) < n
            |      each_row.from(1).look_back(24_hours).limit(2) where event.is(== 'purchase')
            |        << n, event
            |      end
            |    end
            |  end
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""$E, su AS (
          SELECT id, stamp,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        rn AS (
          SELECT id, stamp, event,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS r
          FROM e),
        pp AS (
          SELECT id, stamp FROM rn WHERE event = 'purchase' AND r >= 2),
        tri AS (
          SELECT DISTINCT p.id, p.stamp, su.i
          FROM pp p JOIN su ON su.id = p.id
          WHERE EXISTS (SELECT 1 FROM e v
            WHERE v.id = p.id AND v.event = 'view' AND v.stamp > su.stamp
              AND hour(make_timestamp(v.stamp * 1000)) < su.i
              AND p.stamp BETWEEN v.stamp - 86400000 AND v.stamp
              AND (SELECT COUNT(*) FROM pp q
                   WHERE q.id = p.id AND q.stamp >= v.stamp - 86400000
                     AND q.stamp <= p.stamp) <= 2))
        SELECT CAST(2 AS INTEGER) AS depth, CAST(i AS VARCHAR) AS g1,
          'purchase' AS g2, COUNT(DISTINCT id) AS customers,
          COUNT(*) AS n_rows
        FROM tri GROUP BY i
        UNION ALL
        SELECT CAST(1 AS INTEGER), CAST(i AS VARCHAR), CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM tri GROUP BY i""")),

    // Round-15 widening: a CARRIED cap — the gating accumulator read
    // BELOW a chain step. Spawns ARE the fold's visits, so the gating
    // name joins the chain machinery like any other accumulator: each
    // purchase after a budget-admitted signup tallies under the spawn's
    // post-visit running spend. The oracle replays the (acc, vis)
    // recurrence, keeps the visited signups' post-visit values, and
    // joins purchases after them.
    Q("q_osl_where_dynamic_carried",
      (s, dir) => {
        val script =
          """select
            |  count id as customers
            |  count event as n_rows
            |end
            |n = 0
            |each_row where event.is(== 'signup') && n < value
            |  n += value
            |  each_row.continue().next() where event.is(== 'purchase')
            |    << bucket(n, 50), event
            |  end
            |end
            |""".stripMargin
        graft.osl.OslEngine.query(Tables.events(s, dir), script, now = OslNow)
          .select(col("depth"), col("g1"), col("g2"),
            col("customers"), col("n_rows"))
      },
      Some(s"""WITH RECURSIVE e AS (
          SELECT user_id AS id, epoch_ms(ts) AS stamp,
                 event_type AS event, value FROM events),
        m AS (
          SELECT id, stamp, value,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY stamp) AS i
          FROM e WHERE event = 'signup'),
        f AS (
          SELECT id, 0 AS i, CAST(0.0 AS DOUBLE) AS acc, FALSE AS vis,
                 CAST(NULL AS BIGINT) AS stamp
          FROM (SELECT DISTINCT id FROM m)
          UNION ALL
          SELECT m.id, m.i,
            CASE WHEN f.acc < m.value
                 THEN f.acc + COALESCE(m.value, 0) ELSE f.acc END,
            COALESCE(f.acc < m.value, FALSE),
            m.stamp
          FROM f JOIN m ON m.id = f.id AND m.i = f.i + 1),
        sp AS (SELECT id, stamp, acc FROM f WHERE vis),
        pairs AS (
          SELECT DISTINCT p.id, p.stamp,
            CAST(CAST(FLOOR(b.acc / 50) * 50 AS BIGINT) AS VARCHAR) AS g1
          FROM e p JOIN sp b ON b.id = p.id AND b.stamp < p.stamp
          WHERE p.event = 'purchase')
        SELECT CAST(2 AS INTEGER) AS depth, g1, 'purchase' AS g2,
          COUNT(DISTINCT id) AS customers, COUNT(*) AS n_rows
        FROM pairs GROUP BY g1
        UNION ALL
        SELECT CAST(1 AS INTEGER), g1, CAST(NULL AS VARCHAR),
          COUNT(DISTINCT id), COUNT(*)
        FROM pairs GROUP BY g1""")),
  )
}
