package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.matching.Regex

/** Regenerates PLANS.md: the physical plans of representative registry
  * queries with the scale-critical properties called out. Run after plan
  * changes: `sbt "runMain graft.Plans"`. Plans are captured COLD (no hot
  * cache) so parquet pushdown/pruning — the 100 TB fast path — is visible. */
object Plans {
  private case class P(name: String, why: String)

  private val picks = Seq(
    P("q_lineitem_pricing",
      "whole-stage codegen hash agg over exact DECIMAL sums; scan prunes to the 5 referenced columns"),
    P("q_mktsegment_orders",
      "small dimension broadcast (no shuffle of the fact side)"),
    P("q_customer_history",
      "customer fetch: the id filter is PUSHED into the parquet scan"),
    P("q_osl_chain_funnel",
      "3-step OSL funnel compiled to windows: ONE (id, stamp) sort-shuffle for the whole chain, " +
        "in-row array_distinct tally dedup, 2 exchanges total"),
    P("q_osl_reverse_funnel",
      "backward (.reverse()) chain step: nearest-following-spawn min-struct witness on the SAME single sort"),
    P("q_osl_from_restart",
      "absolute-restart (.from) chain step with a backward frame: bidirectional nearest-spawn " +
        "witnesses, still ONE (id, stamp) sort-shuffle for the whole chain"),
    P("q_osl_accum_tally",
      "READ accumulator (n = n + 1 driving a tally group + guard) compiled to a running-count " +
        "window over the visited rows: same single (id, stamp) sort, no interpreter"),
    P("q_osl_top_range",
      "framed top-level loop: .range(iso, iso) bounds fold into the row predicate as constant " +
        "stamp comparisons — scan-speed time-boxing, no window, no interpreter"),
    P("q_minhash_lsh_pairs",
      "MinHash LSH: compiled signature kernel at scan speed; only (doc_id, band-sig) rows shuffle; " +
        "pairs generated inside buckets"),
    P("q_neardup_components",
      "near-dup clustering: LSH pairs feed min-label propagation; the plan shows the final " +
        "label join only — per-round frames are checkpointed, O(edge-touched vertices), and a " +
        "driver union-find replaces the loop below a broadcast-style edge threshold"),
    P("q_bigram_topk",
      "bigram top-k: explode to (bigram, doc) then ONE two-phase hash agg (partial count + " +
        "partial distinct-doc) and a 20-row takeOrdered — no windows, no second shuffle of raw tokens"),
    P("q_histogram_foreach",
      "histogram foreach=prop: ONE grouped plan binds each_value per customer inside a single " +
        "per-person pass (sorted groups on id) — one shuffle + one bucket aggregation for ALL " +
        "property values, replacing 256 sequential driver-looped queries"),
    P("q_ann_ivf_topk",
      "IVF ANN: memoized broadcast centroids, cell equi-join touches nprobe/nlist of the corpus"),
    P("q_semdedup",
      "SemDedup: quadratic cosine confined to IVF cells (shuffle key = cell)"),
    P("q_pack_sequences",
      "sequence packing: one running-sum window per source stream, then partial-aggregated packs"),
    P("q_asof_prior_click",
      "as-of join via tagged union: ONE shuffle + ONE sort on the key carries the right payload " +
        "forward — no range/theta join anywhere in the plan"),
    P("q_temperature_mix",
      "temperature rebalance: tiny per-source rates broadcast back; the data side is a scan-speed " +
        "filter, never shuffled"),
    P("q_unigram_bits",
      "unigram-LM scoring: vocab-sized model agg, token join (AQE-broadcastable), one doc agg"),
    P("q_simhash_neardup",
      "SimHash banded near-dup: one kernel scan for 60-bit signatures, only (doc_id, 15-bit " +
        "chunk) rows shuffle, Hamming verify confined to bucket candidates — pigeonhole-exact"),
    P("q_dsir_weights",
      "DSIR importance weights: bucket-sized model from ONE conditional agg, 1-row totals " +
        "broadcast, scoring join AQE-broadcasts the bucket table, one groupBy(doc)"),
    P("q_dup_span_coverage",
      "substring-level dedup: one posting kernel scan (narrow 60-bit hashes, text never " +
        "shuffles), duplicate detection via a count-only window over the hash (one posting " +
        "shuffle), coverage via a per-doc bounded window — no corpus self-join"),
    P("q_ann_pq_topk",
      "PQ-ADC search: corpus encoded once to 4-int codes; queries broadcast with inline " +
        "distance tables; scoring is array lookups + adds in codegen — no vector math on " +
        "the scan side"),
    P("q_kmeans_clusters",
      "Lloyd's k-means: per iteration ONE scan against the driver-held k×dim centroid " +
        "matrix (assignment computed BELOW the explode — once per row, not per element) " +
        "plus a hash agg that partial-combines to k×dim rows per task; embeddings never " +
        "shuffle"),
    P("q_bloom_semijoin",
      "Bloom pre-filtered semi-join: the reference-key Bloom filter probes at scan speed " +
        "on the fact side, so the exact verify join shuffles only matches + fpp·corpus " +
        "rows instead of the corpus"),
    P("q_source_drift",
      "corpus-mix KL drift: one compiled token-bucket kernel scan feeds a (source, bucket) " +
        "hash agg that partial-combines to sources×buckets rows per task; every later " +
        "frame is bucket-sized and broadcast — the text never shuffles"),
    P("q_skew_distinct",
      "skew-salted exact distinct: two partial-combined hash aggs — the first keyed " +
        "(key, value-hash salt) so a hot key spreads over 16 reducers, the second " +
        "keys-sized — no single task ever sees a whole hot key"),
    P("q_topk_agg",
      "bounded-heap top-k per key: ObjectHashAggregate with partial buffers capped at " +
        "k — the exchange carries keys×k entries, never the table, and no window sort " +
        "of a key's full history exists in the plan"),
    P("q_source_overlap",
      "source-pair overlap: 60-bit shingle-hash postings (text never shuffles), ONE " +
        "groupBy(hash) with in-row pair generation — no postings self-join, no " +
        "standalone DISTINCT exchange"),
    P("q_osl_chain_accum",
      "chain accumulator (round 9 ordinal path): the whole chain is ONE running-" +
        "count window on the (id, stamp) sort — per-spawn tally entries derive " +
        "IN-ROW from sequence(1, spawn_count) (value = init + c*j), witness and " +
        "row_number windows pruned, no collected array, no self-join — then one " +
        "hash agg per node"),
    P("q_osl_prop_accum",
      "non-literal accumulator (round 8): the running prop sum is one conditional " +
        "running-sum window on the same person sort as the tally machinery — no " +
        "interpreter MapGroups in the plan"),
    P("q_osl_where_read",
      "accumulator read in the WHERE (round 9): the stateful cap `n < 3` is solved " +
        "STATICALLY (capSolve) and folds into the top `.limit` row_number filter — " +
        "the plan is the plain limited-loop shape, no accumulator window at all"),
    P("q_osl_chain3_accum",
      "depth-3 chain accumulator (round 9 reachability ladder): __P1 running-count " +
        "and __P2 running-max windows all ride the ONE (id, stamp) sort — one window " +
        "per chain level, no self-join, no collected array in the plan"),
    P("q_osl_chain4_accum",
      "depth-4 chain accumulator: the same ladder with one more running-max level — " +
        "cost grows one window per level on the same single exchange"),
    P("q_osl_chain_ever_read",
      "ever-read below a chain step (round 9): the `.ever` predicate resolves " +
        "against per-person test columns computed on the same sort; spawn-tuple " +
        "binds stay in-row — no per-spawn re-scan"),
    P("q_osl_reverse_accum",
      "reverse single-loop fp accumulator (round 10): row_number (ASC) then a " +
        "DESC running sum — two intra-partition sorts on ONE exchange, streaming " +
        "the interpreter's backward fold bit-exactly (never an unbounded-FOLLOWING " +
        "frame, which re-aggregates ascending and is O(rows²) per person)"),
    P("q_osl_reverse_chain_accum",
      "reverse CHAIN-top fp accumulator (round 11): the chain-witness running sum " +
        "rides a __rn-DESC running frame on the same single (id) exchange as the " +
        "witness windows — backward fold bit-exact, inner scan still forward, " +
        "spawn tuples collected once"),
    P("q_osl_chain3_framed",
      "depth-3 chain accumulator with FRAMED inner steps (round 11): reachability " +
        "is an interval count between endpoint prefix counts (two rangeBetween " +
        "windows), all on the ONE (id) exchange — and the collect window itself is " +
        "range-bounded by span1+span2, so the plan is memory-safe without the " +
        "row-bound gate"),
    P("q_osl_chain3_limited",
      "depth-3 chain accumulator with an INTERMEDIATE-step .limit(n) (round 11): " +
        "the ordinal cap C(s0)+n is one more min-term over the interval's upper " +
        "endpoint counts — same windows as the framed shape, zero extra state, " +
        "collect window still range-bounded by span1+span2"),
    P("q_osl_chain3_limit_deep",
      "depth-3 chain accumulator with a DEEPEST-step .limit(m) (round 11): reach " +
        "adds C2(r) − min(G(r⁻), G(s0+span1)) <= m with G a running max of the " +
        "deep-match count over spawning rows — two more windows on the same (id) " +
        "exchange, no self-join"),
    P("q_osl_chain4_guarded",
      "depth-4 chain accumulator with SPLIT guards (round 11): the row-prop guard " +
        "folds into a ladder window predicate and the accumulator-reading guard " +
        "evaluates per ordinal — still the collect-free ordinal path, three " +
        "windows on one exchange, no spawn-tuple array"),
    P("q_osl_chain4_limited",
      "depth-4 chain accumulator with a FRAMED+LIMITED deepest step (round 11): " +
        "valid last hops form a suffix, so the final ladder window range-bounds " +
        "(rangeBetween(-span, -1)) and the limit is one spawn-independent " +
        "__cdc/__gd conjunct — five windows on ONE (id) exchange, ordinal path, " +
        "no collected array"),
    P("q_osl_chain_reverse_inner",
      "reverse inner step below a chain accumulator (round 11): spawn tuples " +
        "collect over the FOLLOWING window, range-bounded by the aligned " +
        "look_back span (rangeBetween(1, span)) — mirrored frame checks ride " +
        "the same single (id) exchange, no self-join"),
    P("q_osl_from_accum",
      "restart step below a chain accumulator (round 11): every spawn rescans " +
        "the same absolute tail, so tuples collect over the inverted-frame " +
        "range window (here spawns in [row, row+24h]) — the index floor and " +
        "frame checks are in-row arithmetic on the same single (id) exchange"),
    P("q_osl_chain3_both",
      "BOTH depth-3 inner steps limited (round 12): the intermediate cap is " +
        "one more upper-endpoint min-term and the deepest limit reads the " +
        "purchase count at the capped ordinal from a per-row match-count " +
        "array (span-bounded when framed) — still windows over ONE (id) " +
        "exchange, no self-join"),
    P("q_osl_chain3_rev_deep",
      "REVERSE deepest step below a depth-3 accumulator (round 12): with " +
        "constant increments this rides the collect-free ORDINAL path — the " +
        "final reachability-ladder window flips to the FOLLOWING side " +
        "(rangeBetween(1, 24h)), two windows on one (id) exchange, no " +
        "collected array, no self-join"),
    P("q_osl_chain3_restart",
      "RESTART deepest step below a depth-3 accumulator (round 12): ordinal " +
        "path — the final ladder window brackets the row per the inverted " +
        "frame (a look_back-only restart inverts to the FOLLOWING side, " +
        "rangeBetween(0, 24h)) and the from(k) floor is a row-level " +
        "__rn gate; two windows, no collected array"),
    P("q_osl_chain3_rev_mid",
      "REVERSE middle step below a depth-3 accumulator (round 12): the s1 " +
        "interval moves to the SPAWN's other side ([s0-24h, s0)), priced by " +
        "tuple-side endpoint windows (exclusive spawn count + lower-offset " +
        "count) over a two-sided collect — one (id) exchange, no self-join"),
    P("q_osl_chain3_restart_mid",
      "RESTART middle step below a depth-3 accumulator (round 12): the " +
        "absolute from(k) floor folds into the counted predicate " +
        "(spawn-independent) and the view interval inverts the frame around " +
        "the spawn — same interval-count reachability, same exchange"),
    P("q_osl_chain3_dual_rev",
      "BOTH steps reverse + a reverse-mid limit (round 12): mid terms " +
        "(tuple-side endpoints incl. the clamped C(s0-)-n max-term) and deep " +
        "terms (row-side, future-facing) compose modularly; the collect " +
        "window spans the general [r+dLo-mA, r+dHi+mB] inversion — one (id) " +
        "exchange, no self-join"),
    P("q_osl_chain4_rev",
      "depth-4 REVERSE deepest step (round 12): hop validity is K-monotone " +
        "in the hop row in any direction, so the final reachability-ladder " +
        "window flips to the FOLLOWING side (rangeBetween(1, 24h)) — still " +
        "the collect-free ordinal path, three windows on one (id) exchange"),
    P("q_osl_chain_mixed_guard",
      "MIXED accum-vs-row guard conjunct (round 12): the j-th spawn's affine " +
        "accumulator value makes `get_hour(stamp) > n` a per-row bound on the " +
        "spawn ordinal, folded into the reachability ladder as least(prev, hi) " +
        "— exact integer arithmetic in-row, two windows on ONE (id) exchange, " +
        "no collected spawn array"),
    P("q_osl_mixed_value_guard",
      "int(value) mixed guard (round 12): the compiled int() — truncate " +
        "through double, nil->0 — makes a DOUBLE prop an exact-integer row " +
        "side for the ordinal prefix bound; same two-window ladder plan"),
    P("q_osl_multi_accum",
      "multi-statement nonzero-init fp accumulator (round 13 FoldSum): the " +
        "statement-ordered DeclarativeAggregate rides the SAME single running " +
        "frame the plain accumulator uses — one hashpartitioning(id) exchange, " +
        "one extra window column vs the SUM path, O(1) buffer state, pure " +
        "Catalyst If/Add updates (codegen-able), no interpreter MapGroups"),
    P("q_osl_multi_accum_chain",
      "FoldSum below a chain step (round 13): the chain-witness builder " +
        "materializes the same statement-ordered fold before tuple collection " +
        "— single-exchange chain-witness shape, the fold adds one window " +
        "column, no extra shuffle"),
    P("q_osl_mixed_shift_guard",
      "AFFINE accumulator side `n + 1 < get_hour(stamp)` (round 13): " +
        "accShifted folds the literal shift into the affine intercept at " +
        "extraction, so the compiled plan is IDENTICAL in shape to the " +
        "round-12 mixed ladder — least-fold on the K-ladder, two windows on " +
        "one (id) exchange, no collect"),
    P("q_osl_mixed_is_guard",
      ".is(OP acc) prop-test mixed form (round 13): the prop-test compare " +
        "lowers to the same per-row ordinal bound with the integral prop as " +
        "the row side — same two-window ladder plan, nil props coalesce the " +
        "bound to 0 in-row"),
    P("q_osl_chain3_restart_framed_mixed",
      "MIXED guard over a FRAMED .from(k) restart deepest (round 14): the " +
        "mixed bound folds into the ordinal ladder (least(K, hi)) while the " +
        "final ladder window brackets the inverted restart frame " +
        "(rangeBetween(0, 24h)) and the from(k) floor is a row-level __rn " +
        "gate — collect-free ordinal path, windows on ONE (id) exchange"),
    P("q_osl_chain3_rev_deep_limited",
      "REVERSE deepest + .limit(m) (round 14): valid hops are a prefix of " +
        "the following mids while K grows with later hops, so reach is the " +
        "exact max over the filtered hop set — (between-count, K) structs " +
        "collected over the frame-bounded following window " +
        "(rangeBetween(1, 24h)), filtered/maxed in-row; one (id) exchange, " +
        "per-row state bounded by the frame's row density"),
    P("q_osl_chain3_restart_limited",
      "UNFRAMED restart deepest + .limit(m) (round 14): every hop rescans " +
        "the identical floored tail, so the limit is ONE row-level count " +
        "conjunct (__mcD <= m) — no per-hop state at all, same collect-free " +
        "ordinal windows on one (id) exchange"),
    P("q_osl_mixed_reverse_top",
      "MIXED guard under a REVERSE top (round 14): backward-ordinal reach " +
        "is a suffix, so the upward-closed guard folds as " +
        "least(K, T - lo + 1) — the forward fold's exact dual, one extra " +
        "full-partition count (__spawnT) on the SAME (id) exchange, " +
        "collect-free"),
    P("q_osl_mixed_suffix_guard",
      "CONTRA-direction (suffix) mixed guard over a framed deepest " +
        "(round 14): per-hop valid ordinal intervals can gap, so entries " +
        "are the exact merged-interval union — interval structs collected " +
        "over the frame-bounded hop window, sorted/merged/flattened " +
        "in-row; state bounded by the frame's row density, one (id) " +
        "exchange, no self-join"),
    P("q_osl_chain4_rev_mid",
      "REVERSE middle step at depth 4 (round 14): the click level's " +
        "ladder window flips to the following side (rangeBetween(1, 24h)) " +
        "while every other level keeps its own direction — still the " +
        "collect-free ordinal path, three windows on ONE (id) exchange"),
    P("q_osl_chain4_framed_mid",
      "FRAMED forward middle at depth 4 (round 14): the click level's " +
        "ladder window range-bounds to [r-24h, r) — per-level hopWin, " +
        "same single-exchange window ladder, no collected array"),
    P("q_osl_chain4_mid_limited",
      "LIMITED forward middle at depth 4 (round 14): the latest hop " +
        "dominates reach and limit validity, so the click level's reach " +
        "zeroes under ONE G-conjunct (C - G <= 2) — two extra running " +
        "windows on the same (id) exchange, no per-hop state"),
    P("q_osl_chain4_rev_mid_limited",
      "LIMITED framed reverse MIDDLE (round 14): the filtered-hop-max " +
        "collect generalized to the click level — (between-count, K) " +
        "structs over its following frame window, exact per hop; deeper " +
        "levels consume the result through the ordinary max-ladder"),
    P("q_osl_mixed_limited_deepest",
      "MIXED guard on a framed LIMITED deepest (round 14): the limit " +
        "prices per hop — (deep-count, mixed-folded K) structs collected " +
        "over the frame-bounded preceding window, filtered by the " +
        "between-count, maxed in-row; state bounded by the frame's row " +
        "density on the same (id) exchange"),
    P("q_osl_mixed_double_guard",
      "BARE double row side in a mixed guard (round 14): the inclusive " +
        "ordinal bound solves exactly through floor/ceil (v < R iff " +
        "v <= ceil(R)-1), clamped to +-2^62 against Long saturation and " +
        "NaN ranked greatest (round 15) — same two-window ladder plan " +
        "as the integral mixed shapes, no fp division anywhere"),
    P("q_osl_where_dynamic",
      "DYNAMIC where-conjunct cap (round 15): the visited-set recurrence " +
        "rides ONE GatedFold running window — buffer = (acc, vis) pair, " +
        "gate compares chained ahead of the fold stages — on the person " +
        "exchange; no collect, no MapGroups, no static limit machinery"),
    P("q_osl_where_dynamic_chain",
      "dynamic cap on a CHAIN TOP (round 15): the fold's candidacy child " +
        "evaluates the residual where in-row (witness windows need every " +
        "row) and vis gates which rows spawn — the funnel machinery is " +
        "unchanged on the same exchange"),
    P("q_osl_chain5_mid_limited",
      "framed forward MIDDLE limit above a NON-MONOTONE level " +
        "(round 15): the G-conjunct's dominance fails, so the limit " +
        "prices per hop — (level-count, K) structs collected over the " +
        "frame-bounded window, filtered by the between-count cap; state " +
        "capped by frame row density, never the person's history"),
    P("q_osl_restart_framed_limited",
      "FRAMED .from(k) + .limit (round 15, depth 2): the spawn tuples " +
        "carry G (the below-frame floored count) and the rank check " +
        "C'(r) - G <= n evaluates per tuple — the collect window is the " +
        "finite inverted-frame bracket, state capped by frame density"),
    P("q_osl_chain3_restart_framed_limited",
      "framed restart DEEPEST limit (round 15): the ordinal ladder " +
        "collects (G, K) structs per hop over the finite bracket window " +
        "and takes the exact max over hops whose rank passes — same " +
        "single person exchange, no MapGroups, collect bounded by the " +
        "frame's row density"),
    P("q_osl_chain3_restart_framed_mid_limited",
      "framed restart limit at the depth-3 MIDDLE (round 15): the " +
        "collect path's interval counts gain ONE min-term n + G(s0) — " +
        "G is the tuple's own below-frame lower endpoint, so the plan " +
        "is byte-identical in window count to the unlimited form"),
    P("q_osl_chain4_restart_framed_mid_limited",
      "framed restart MIDDLE limit (round 15): the (G, K) collect at its " +
        "level; deeper levels consume the exact result through the " +
        "ordinary running-max ladder — one window per level on one " +
        "exchange"),
    P("q_osl_where_dynamic_dual",
      "JOINT dynamic cap (round 15): TWO gating accumulators ride ONE " +
        "GatedFold running window — buffer = (n, m, vis) tuple, both " +
        "gates chained ahead of both stage groups; still no collect, no " +
        "MapGroups, one window on the person exchange"),
    P("q_osl_where_dynamic_carried",
      "CARRIED cap (round 15): the gating accumulator read below a " +
        "chain step rides the fold column into the chain machinery - " +
        "same single person exchange, the funnel windows unchanged"),
    P("q_osl_mixed_suffix_restart_limited",
      "contra union x framed restart x limit (round 15): ONE interval " +
        "collect over the bracket window carries (lo, hi, G) per hop; " +
        "the rank filter and the merged-interval flatten happen in-row " +
        "- still the single person exchange"),
    P("q_osl_session_tally",
      "OSL session references (round 15): the sessionize lag/gap/sum " +
        "windows ride the SAME (id, stamp) sort as the tally machinery " +
        "- no extra exchange; count session = one countDistinct(id, " +
        "session) beside the other aggregators"),
    P("q_ann_ivf_indexed",
      "persisted IVF index (round 11): the cells scan carries an explicit " +
        "PartitionFilters: cell IN (probed) — a query reads nprobe/nlist of the " +
        "corpus bytes by construction; centroids are a collected broadcast"),
    P("q_catalog_funnel",
      "round 16: the chain funnel over an INGESTED catalog table — the scan " +
        "says 'Bucketed: true' with a ManifestFileIndex location, and the whole " +
        "person-window chain runs with ZERO Exchange hashpartitioning(id): the " +
        "storage layout carries the partitioning (the reference's permanent " +
        "insert-time partitioning, src/rpc_insert.cpp:154). The scan runs one " +
        "task per core ('Coalesced to k' — CoalesceCatalogBuckets), so Spark " +
        "sorts each task by (id, stamp); once a bucket's average bytes reach " +
        "the file open cost, or the cluster has a core per bucket, the scan is not coalesced " +
        "and claims the (id, stamp) order too — ZERO Sort"),
    P("q_catalog_customer",
      "round 16: single-person fetch from the ingested store — filter-only " +
        "plan, partition-pruned to the id's hash bucket (PartitionFilters on " +
        "__bucket), no exchange, no sort"),
    P("q_ann_recall",
      "round 16: the 4-method quality report is ONE pair scan (a single " +
        "broadcast query frame carries the IVF cells / LSH signature / PQ " +
        "distance table), ONE rank window over the tagged union, one (qid, nid) " +
        "hit window, one global agg — 6 scheduled jobs, down from 11; the " +
        "encoded corpus materializes once via lazy localCheckpoint (codegen " +
        "defers non-condition columns into the pair loop otherwise)"),
    P("q_catalog_range_tally",
      "round 17: a statically-bounded .range() scan over the DATE-PARTITIONED " +
        "ingested store — PartitionFilters carry BOTH event_date bounds, so the " +
        "scan opens only the frame's ~11 date splits per bucket (a one-week " +
        "query over 5-year retention opens ~0.4% of the store); the bucket " +
        "partitioning claim survives (zero Exchange hashpartitioning(id)), and " +
        "a frame pruning to ONE date reclaims the sort-free claim via Spark's " +
        "single-file-per-bucket check (the adjudicated layout trade)"),
    P("q_propindex_counts",
      "round 17: distinct-customer counts per property value answered from the " +
        "materialized (prop, value, bucket) postings — every scanned file lives " +
        "under propindex/ (zero event-row reads, the reference's attribute " +
        "index); per-bucket COUNT(DISTINCT id) partials sum exactly because " +
        "buckets partition persons"))

  /** `plan` with its run-specific tokens replaced, so two runs that build
    * the same plan print the same text: expression ids (`#908L`) and
    * `plan_id=` numbers renumbered by first appearance, temp-directory
    * paths, `@<hex>` object hashes and `$$Lambda$…/0x…` class names. */
  private[graft] def normalize(plan: String): String = {
    def renumber(s: String, re: Regex, token: Int => String): String = {
      val seen = mutable.HashMap.empty[String, Int]
      re.replaceAllIn(s, m =>
        Regex.quoteReplacement(token(seen.getOrElseUpdate(m.group(1), seen.size))))
    }
    val tmp = Regex.quote(Paths.get(System.getProperty("java.io.tmpdir")).toString)
    val ids = renumber(plan, "#(\\d+)".r, i => s"#$i")
    renumber(ids, "plan_id=(\\d+)".r, i => s"plan_id=$i")
      .replaceAll(s"$tmp/([A-Za-z_-]+)\\d+", "<tmp>/$1")
      // Spark abbreviates a long scan location with "...", so the random
      // name's length moves the cut: drop the temp path's cut tail
      .replaceAll("(<tmp>/[A-Za-z_-]+)[^\\s,\\]]*\\.\\.\\.", "$1/...")
      .replaceAll("\\$\\$Lambda(\\$\\d+)?/0x[0-9a-f]+", Regex.quoteReplacement("$$Lambda"))
      .replaceAll("(?<=[\\w$])@[0-9a-f]+\\b", "@<hash>")
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.hotCache = false
    val dir = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan evidence for the scale-critical properties\n\n")
    sb.append("Generated by `sbt \"runMain graft.Plans\"` at sf0.001, cold scans\n")
    sb.append("(no hot-table cache) so parquet pushdown/pruning is visible.\n")
    picks.foreach { p =>
      val plan = normalize(Queries.queries(p.name)(spark, dir)
        .queryExecution.executedPlan.toString)
      sb.append(s"\n## ${p.name}\n\n${p.why}\n\n```\n")
      // keep the tree readable: drop codegen ids and trim very long lines
      // (FileScan lines get extra width — PartitionFilters/PushedFilters,
      // the pruning evidence, print after the 200-char mark)
      plan.linesIterator.take(60).foreach { l =>
        sb.append(l.take(if (l.contains("FileScan")) 420 else 200)).append('\n')
      }
      sb.append("```\n")
    }
    appendBucketedAB(spark, dir, sb)
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"PLANS.md written (${picks.size} plans + bucketed-layout A/B)")
    spark.stop()
  }

  /** Bucketed-corpus A/B: the doc-keyed enrichment join over plain parquet
    * vs co-bucketed tables ([[Layout.writeBucketedCorpus]]), with broadcast
    * disabled (a 100 TB corpus never broadcasts). The flat plan shows TWO
    * `Exchange hashpartitioning(doc_id)` feeding the SortMergeJoin; the
    * bucketed plan's only exchange is the sources-sized rollup. Measured
    * shuffle bytes for the same pair of plans are in SCALING.md
    * (`graft.LayoutBench`). */
  private def appendBucketedAB(spark: org.apache.spark.sql.SparkSession,
                               dir: String, sb: StringBuilder): Unit = {
    import org.apache.spark.sql.functions._
    Seq("plans_docs_b", "plans_scores_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(s"spark-warehouse/$t"))
    }
    val docs = Tables.documents(spark, dir)
    def scores(d: org.apache.spark.sql.DataFrame) = d.select(col("doc_id"),
      graft.operators.TextOps.tokenCount(col("text")).as("n_tokens"),
      md5(col("text")).as("fp"))
    Layout.writeBucketedCorpus(docs, "plans_docs_b")
    Layout.writeBucketedCorpus(scores(docs), "plans_scores_b")
    val flatScores = java.nio.file.Files.createTempDirectory("plans-scores").toString
    scores(docs).write.mode("overwrite").parquet(flatScores)
    def enrich(d: org.apache.spark.sql.DataFrame,
               s: org.apache.spark.sql.DataFrame) =
      d.join(s, Seq("doc_id")).groupBy(col("source"))
        .agg(sum(col("n_tokens")).as("tokens"), count(lit(1)).as("docs"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for ((tag, df) <- Seq(
        "flat parquet (both join sides exchange)" ->
          enrich(docs, spark.read.parquet(flatScores)),
        "co-bucketed tables (join exchange-free; only the rollup shuffles)" ->
          enrich(spark.table("plans_docs_b"), spark.table("plans_scores_b")))) {
        df.count() // materialize so AQE finalizes the plan
        sb.append(s"\n## bucketed corpus layout A/B — $tag\n\n```\n")
        normalize(df.queryExecution.executedPlan.toString).linesIterator.take(40)
          .foreach(l => sb.append(l.take(200)).append('\n'))
        sb.append("```\n")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
