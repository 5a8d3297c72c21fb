package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * [--work <dir>]`.
  *
  * One process, one closed-loop client, `local[<cores>]`. Set-up builds the
  * workload's table three times and reports the median. One untimed cycle
  * warms the JIT and Spark's caches, then whole cycles run until `--seconds`
  * have passed and more than `2 * Stats.TailBeyond` operations were timed.
  * With `--trace 1` every other cycle runs traced (route spans, Spark's
  * listener records) and the result carries the per-layer metrics; the
  * untraced cycles in between give the tracing overhead. Every output, warm-up
  * included, is checked against its reference after the timed phase. The
  * last stdout line is the result JSON. */
object Main {
  val SetupReps = 3
  val WarmUpCycles = 1

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val work = new File(opts.getOrElse("work", ".bench_build/work")).getAbsoluteFile
    val json = run(opt("workload"), opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", work)
    println(json)
  }

  private def secondsOf(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def run(workload: String, seed: Long, seconds: Double, traced: Boolean,
          work: File): String = {
    val cores = Runtime.getRuntime.availableProcessors
    val runDir = new File(work, s"$workload-$seed-${ProcessHandle.current.pid}")
    runDir.mkdirs()
    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", new File(runDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getPath)
      .config("spark.log.level", "ERROR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try measure(spark, Workload(workload, spark, new File(runDir, "tables"), seed),
      seconds, traced, cores, new File(work, "traces"))
    finally {
      spark.stop()
      Fs.rm(runDir)
    }
  }

  private def measure(spark: SparkSession, w: Workload, seconds: Double,
                      traced: Boolean, cores: Int, traceDir: File): String = {
    val listener = new ExecListener
    if (traced) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(listener)
    }
    val setupS = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      w.setup(rep)
      secondsOf(t0)
    }
    val recs = mutable.ArrayBuffer[Rec]()
    var next = 0
    def cycle(): Double = {
      val t0 = System.nanoTime()
      (0 until w.cycleLen).foreach { _ => recs += w.run(next); next += 1 }
      secondsOf(t0)
    }
    (0 until WarmUpCycles).foreach(_ => cycle()) // JIT, codegen caches, the property index

    val tracer = new Tracer(true)
    val plain, tracedCycles = mutable.ArrayBuffer[Double]()
    val timedFrom = recs.size
    val t0 = System.nanoTime()
    var k = 0
    while (secondsOf(t0) < seconds || recs.size - timedFrom <= 2 * Stats.TailBeyond ||
        plain.isEmpty || (traced && tracedCycles.isEmpty)) {
      if (traced && k % 2 == 1) {
        w.trace(tracer)
        tracedCycles += cycle()
        w.trace(new Tracer(false))
      } else plain += cycle()
      k += 1
    }
    val wallS = secondsOf(t0)
    val heapMb = Jvm.liveHeapMb()
    val timedRecs = recs.drop(timedFrom)
    System.err.println(f"[perfbench] set-up ${setupS.map(s => f"$s%.2f").mkString("/")} s; " +
      f"timed $wallS%.1f s; per-op median ms: " + timedRecs.groupBy(_.kind).toSeq.sortBy(_._1)
        .map { case (n, rs) => f"$n ${Stats.median(rs.map(_.ms).toSeq)}%.0f" }.mkString(", "))

    val c0 = System.nanoTime()
    val wrong = w.check(recs.toSeq)
    System.err.println(f"[perfbench] checked ${recs.size} outputs in ${secondsOf(c0)}%.1f s")
    wrong.take(5).foreach(m => System.err.println(s"[perfbench] WRONG $m"))
    recs.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (kind, rs) =>
      System.err.println(s"[perfbench] sample $kind: ${rs.head.out.take(160)}")
    }

    val metrics: Seq[(String, Double, String)] =
      if (!traced) endToEnd(w, setupS, plain.toSeq, timedRecs.toSeq, heapMb)
      else {
        BenchBus.drain(spark.sparkContext)
        val layers = new Layers(tracer, listener, w.oslRequests.toSet)
        traceDir.mkdirs()
        Trace.write(layers.spans,
          new File(traceDir, s"${w.getClass.getSimpleName}-${w.seed}.jsonl"))
        perLayer(w, layers, tracedCycles.toSeq, plain.toSeq, cores)
      }
    val body = metrics.map { case (n, v, u) =>
      s""""$n":{"value":${if (v.isNaN || v.isInfinite) 0.0 else v},"unit":"$u"}"""
    }.mkString(",")
    s"""{"correct":${wrong.isEmpty},"attempted":${recs.size},"failed":${wrong.size},"metrics":{$body}}"""
  }

  private def endToEnd(w: Workload, setupS: Seq[Double], cycles: Seq[Double],
                       timed: Seq[Rec], heapMb: Double): Seq[(String, Double, String)] = {
    val all = timed.map(_.ms)
    val reads = timed.filter(_.read).map(_.ms)
    val (tailP, tailV) = Stats.tail(all)
    System.err.println(f"[perfbench] ${timed.size} timed ops in ${cycles.size} cycles; " +
      f"tail = p$tailP%.1f of ${all.size} samples")
    // insert throughput per cycle of live inserts where the workload makes
    // them, else per set-up bulk load (its closing flush included); median
    // over cycles or set-ups
    val liveInserts = timed.filter(_.kind == "insert").map(r => (r.i / w.cycleLen, r.ms, r.rows))
    val inserts = if (liveInserts.nonEmpty) liveInserts else w.setupInserts.toSeq
    val ingest = inserts.groupBy(_._1).values.map(g => g.map(_._3).sum / (g.map(_._2).sum / 1000.0))
    Seq(
      ("setup_s", Stats.median(setupS), "s"),
      ("wall_s", Stats.median(cycles), "s"),
      ("ops_per_s", timed.size / cycles.sum, "1/s"),
      ("latency_p50_ms", Stats.median(all), "ms"),
      ("latency_tail_ms", tailV, "ms"),
      ("read_p50_ms", Stats.median(reads), "ms"),
      ("ingest_events_per_s", Stats.median(ingest.toSeq), "1/s"),
      ("stored_bytes_per_input_byte", w.storedBytes.toDouble / w.inputBytes, "ratio"),
      ("heap_live_mb", heapMb, "MiB"))
  }

  private def perLayer(w: Workload, l: Layers, tracedCycles: Seq[Double],
                       plainCycles: Seq[Double], cores: Int): Seq[(String, Double, String)] = {
    val reqs = math.max(1, l.routes.size).toDouble
    val reqMs = l.routes.map(_.dur).sum / 1e6
    val ins = w.routesInserts
    val (drains, appends) = ins.partition(_.committed)
    def mean(xs: collection.Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val t = l.tasks

    val total = l.routeSelf.values.map(_._2).sum
    System.err.println(s"[perfbench] traced: ${l.routes.size} requests, ${reqMs.round} ms; " +
      "self-time share of request time by layer:")
    l.routeSelf.toSeq.sortBy(-_._2._2).foreach { case (n, (c, ms)) =>
      System.err.println(f"[perfbench]   $n%-22s ${100 * ms / total}%6.2f%%  ($c calls, $ms%.1f ms)")
    }
    l.routes.groupBy(_.name).toSeq.sortBy(-_._2.map(_.dur).sum).foreach { case (n, rs) =>
      System.err.println(f"[perfbench]   request $n%-22s ${100 * rs.map(_.dur).sum / 1e6 / reqMs}%6.2f%% of request time")
    }
    Seq("osl.parse", "osl.build", "catalog.read_plan", "result.render").foreach { n =>
      System.err.println(f"[perfbench]   probe $n%-20s ${l.perCall(n)}%.2f ms per call")
    }
    Seq(
      ("osl.parse_ms", l.perCall("osl.parse"), "ms"),
      ("osl.build_ms", l.perCall("osl.build"), "ms"),
      ("osl.tier_b_frac", l.tierBFrac, "ratio"),
      ("catalyst.analyze_ms", l.perCall("catalyst.analyze"), "ms"),
      ("catalyst.optimize_ms", l.perCall("catalyst.optimize"), "ms"),
      ("catalyst.physical_ms", l.perCall("catalyst.physical"), "ms"),
      ("catalyst.logical_nodes", mean(l.oslQueries.map(_.logical.toDouble)), "count"),
      ("catalyst.physical_nodes", mean(l.oslQueries.map(_.physical.toDouble)), "count"),
      ("exec.jobs", l.jobs.size / reqs, "count"),
      ("exec.stages", l.stages / reqs, "count"),
      ("exec.ms_per_stage", if (l.stages == 0) 0.0 else reqMs / l.stages, "ms"),
      ("exec.tasks", t.size / reqs, "count"),
      ("exec.task_run_ms", t.map(_.runMs).sum / reqs, "ms"),
      ("exec.task_cpu_ms", t.map(_.cpuNs).sum / 1e6 / reqs, "ms"),
      ("exec.task_gc_ms", t.map(_.gcMs).sum / reqs, "ms"),
      ("exec.scheduler_delay_ms", t.map(_.schedMs).sum / reqs, "ms"),
      ("exec.shuffle_read_bytes", t.map(_.shuffleRead).sum / reqs, "bytes"),
      ("exec.shuffle_write_bytes", t.map(_.shuffleWrite).sum / reqs, "bytes"),
      ("exec.spill_bytes", t.map(_.spill).sum / reqs, "bytes"),
      ("exec.core_busy_frac", t.map(_.runMs).sum / (reqMs * cores), "ratio"),
      ("result.render_ms", l.perCall("result.render"), "ms"),
      ("catalog.append_ms", mean(appends.map(_.ms)), "ms"),
      ("catalog.drain_ms", mean(drains.map(_.ms)), "ms"),
      ("catalog.commits", drains.size.toDouble, "count"),
      ("catalog.read_plan_ms", l.perCall("catalog.read_plan"), "ms"),
      ("catalog.bytes_written_per_input_byte",
        if (ins.isEmpty) 0.0 else ins.map(_.bytesWritten).sum.toDouble / ins.map(_.bytesIn).sum, "ratio"),
      ("catalog.files", if (ins.isEmpty) 0.0 else Fs.files(w.eventsDir).size.toDouble, "count"),
      ("propindex.ensure_ms", l.perCall("propindex.ensure"), "ms"),
      ("segments.refresh_ms", mean(l.routes.filter(_.name == "route.segmentRefresh").map(_.dur / 1e6)), "ms"),
      ("jvm.gc_ms", l.jvm.map(_.gcMs).sum / reqs, "ms"),
      ("jvm.gc_count", l.jvm.map(_.gcCount).sum / reqs, "count"),
      ("jvm.jit_ms", l.jvm.map(_.jitMs).sum / reqs, "ms"),
      ("trace.overhead_frac", Stats.median(tracedCycles) / Stats.median(plainCycles), "ratio"))
  }
}
