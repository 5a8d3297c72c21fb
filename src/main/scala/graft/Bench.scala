package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every registry query against SPARK_GRAFT_SF_DIR and
  * prints one JSON line with per-query wall seconds. Each query is forced
  * with a noop sink (full materialization, no collect-to-driver). */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      // per-query stage/job counts ride the status store (round-16 #6:
      // BENCH.json carries the sec/stage evidence itself, so the noise
      // adjudication quotes ONE file); both measured sweeps' jobs must
      // survive until the end-of-run snapshot, above the 1000 default
      .config("spark.ui.retainedJobs", "20000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.hotCache = true // warm-engine mode (see Tables.hotCache)

    // Optional subset filter for targeted A/B runs: comma-separated query
    // names (exact match). Unset = full registry sweep.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = only match {
      case Some(set) => Queries.benchNames.filter(set)
      case None => Queries.benchNames
    }

    // Force FULL materialization: count() lets Catalyst prune computed
    // columns (a projection-heavy query would measure as a metadata count);
    // the noop sink evaluates every output column without writing.
    def run(name: String, dir: String): Option[String] =
      try {
        Queries.allQueries(name)(spark, dir)
          .write.mode("overwrite").format("noop").save()
        None
      } catch {
        case t: Throwable =>
          Some(Option(t.getMessage).getOrElse(t.getClass.getName).take(200))
      }

    // Warm the JVM/codegen with a full pass at the smallest SF: generated
    // classes are cached by source, so each measured query then runs
    // steady-state instead of paying first-compile + JIT (measured swings of
    // 1s vs 27s on identical plans otherwise). Warmup failures are ignored;
    // the measured pass reports them.
    names.foreach(run(_, "/root/testdata/sf0.001"))

    // Let the ContextCleaner reap blocks from unreferenced cached/
    // checkpointed RDDs between queries — an iterative operator's leftovers
    // otherwise squeeze storage memory for every query after it.
    def reap(): Unit = System.gc()

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Two timed passes at the target SF, report the per-query MIN (declared
    // as "stat":"min-of-2" in the output): single-shot timings in a 45-query
    // JVM swing 2-10x from GC/compile noise; the min is the steady-state
    // cost a warm executor pays. The passes are INTERLEAVED (full sweep 1,
    // then full sweep 2) so a query's two samples land minutes apart — a
    // co-tenant CPU spike that covers one back-to-back pair would otherwise
    // poison both samples and the min alike.
    val best = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val idx = names.zipWithIndex.toMap
    for (pass <- 1 to 2; name <- names) {
      reap()
      // per-(query, pass) job group: pass 2's groups supply the profile
      spark.sparkContext.setJobGroup(s"b${pass}_${idx(name)}", name)
      val t0 = System.nanoTime()
      val err = run(name, sfDir)
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.clearJobGroup()
      // A crashed query must not masquerade as a fast result: report -1.
      err.foreach(errors(name) = _)
      val v = if (err.isDefined) -1.0 else dt
      best(name) = best.get(name) match {
        case Some(p) if p < 0 || v < 0 => -1.0
        case Some(p) => math.min(p, v)
        case None => v
      }
    }
    val results = names.map(n => n -> best(n))
    // Drain the listener bus before snapshotting: the status store is
    // listener-fed (async), and a fixed sleep raced co-tenant load. Poll
    // until the whole-run profile is STABLE across two reads (bounded).
    val tracker = spark.sparkContext.statusTracker
    def snapshot(): Map[String, (Long, Long)] = names.map { n =>
      val jobIds = tracker.getJobIdsForGroup(s"b2_${idx(n)}")
      val stages = jobIds.flatMap(id =>
        tracker.getJobInfo(id).map(_.stageIds.length.toLong)).sum
      n -> ((stages, jobIds.length.toLong))
    }.toMap
    var profile = snapshot()
    var stable = false
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (!stable && System.nanoTime() < deadline) {
      Thread.sleep(500)
      val again = snapshot()
      stable = again == profile
      profile = again
    }
    // Keep the JSON line COMPACT (ms precision): the harness that reads it
    // keeps only a bounded tail of the process output, and full double
    // precision over ~60 queries pushed the line start past that window.
    def sec(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v) => "\"" + k + "\":" + sec(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val errJson = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }
      .mkString("{", ",", "}")
    // per-query scheduled stage/job counts — ALWAYS from pass 2 (steady
    // state; pass 1 can carry hot-cache build jobs), regardless of which
    // pass supplied the min time: identical plans schedule identical
    // counts either pass, so the profile describes the min run's PLAN.
    // A SIBLING key so the harness's {"queries": name->sec} parse is
    // untouched; the sec/stage noise protocol reads this file alone
    val profJson = results.flatMap { case (k, _) =>
      profile.get(k).map { case (s, j) =>
        "\"" + k + "\":{\"stages\":" + s + ",\"jobs\":" + j + "}" }
    }.mkString("{", ",", "}")
    // The harness keeps only a bounded TAIL of process output; at 90+
    // queries a single all-in-one line overflows it and the line START
    // (where "value" lives) is lost (round 4 recorded parsed:null). So:
    //   1. persist the full payload to BENCH.json next to the repo root,
    //   2. print the per-query map on its own line (best-effort detail),
    //   3. print a LAST, tiny, self-checked total line the tail always holds.
    // the leg: core count and the JVM's max heap, so a diff of two records
    // can tell whether they measured the same configuration
    val heapMb = Runtime.getRuntime.maxMemory >> 20
    val full = s"""{"metric":"total","value":${sec(total)},"unit":"sec","stat":"min-of-2","queries":$qs,"errors":$errJson,"profile":$profJson,"sf":"$sfDir","cpus":${cpus.toInt},"driver_heap_mb":$heapMb}"""
    if (only.isEmpty) try { // subset A/B runs must not clobber the real record
      java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH.json"),
        (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Throwable => () } // read-only cwd must not kill the bench
    println(full)
    // Round 18: the harness keeps only the LAST ~2000 bytes of output, and
    // the full per-query map is ~5 KB — two rounds running the driver's
    // per-query PERF comparison got nothing ({} / n_common 0). Re-emit the
    // per-query seconds as SHORT self-delimiting chunk lines immediately
    // before the tail, sorted ASCENDING by time so the chunks that survive
    // the bounded tail window are the SLOWEST (most regression-relevant)
    // queries; plus one aggregate-stats line that always fits. Same
    // numbers as "queries" in the full line — reporting only, the timed
    // region and the tail line are untouched. Errored queries (-1) stay out
    // of the chunks, where a per-query comparator would read -1 as a time:
    // nerrors and BENCH.json's "errors" carry them.
    val byTime = results.filter(_._2 >= 0).sortBy(_._2)
    val chunks = byTime.grouped(12).toSeq
    chunks.zipWithIndex.foreach { case (c, i) =>
      val body = c.map { case (k, v) => "\"" + k + "\":" + sec(v) }
        .mkString("{", ",", "}")
      println(s"""{"metric":"queries","part":${i + 1},"of":${chunks.size},"queries":$body}""")
    }
    val ok = results.map(_._2).filter(_ >= 0)
    val geomean =
      if (ok.exists(_ > 0)) math.exp(ok.filter(_ > 0).map(math.log).sum / ok.count(_ > 0))
      else 0.0
    val sortedOk = ok.sorted
    val p50 = if (sortedOk.nonEmpty) sortedOk(sortedOk.size / 2) else 0.0
    println(s"""{"metric":"stats","nqueries":${results.size},"nerrors":${errors.size},"geomean":${sec(geomean)},"p50":${sec(p50)},"qmin":${sec(sortedOk.headOption.getOrElse(0.0))},"qmax":${sec(sortedOk.lastOption.getOrElse(0.0))},"total":${sec(total)}}""")
    val sfName = new java.io.File(sfDir).getName
    val tail = s"""{"metric":"total","value":${sec(total)},"unit":"sec","stat":"min-of-2","nqueries":${results.size},"nerrors":${errors.size},"sf":"$sfName","detail":"BENCH.json"}"""
    // Self-check: reporting must never silently rot again — the final line
    // has a fixed small shape; if it ever grows past a conservative bound,
    // fail LOUDLY so the regression is seen instead of parsed:null.
    require(tail.length < 250, s"bench tail line too long (${tail.length}): $tail")
    println(tail)
    spark.stop()
  }
}
