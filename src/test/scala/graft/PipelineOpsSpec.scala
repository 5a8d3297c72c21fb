package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, Sampling, Similarity, TextIndex, TextOps}

/** LLM-pipeline operator specs: dedup family, ANN, text analysis,
  * multimodal plumbing. */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  private val docA = "the quick brown fox jumps over the lazy dog again and again ok"
  private val docA2 = "the quick brown fox jumps over the lazy dog again and again ok" // exact dup
  private val docB = "the quick brown fox jumps over the lazy dog again and again yes" // near dup
  private val docC = "completely different words appear here with nothing shared at all whatsoever"

  private def docs = Seq((0L, docA), (1L, docA2), (2L, docB), (3L, docC))
    .toDF("doc_id", "text")

  test("connected components: chains collapse to min-id label, isolated keep own") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val ids = (1L to 12L).toDF("doc_id")
    val cc = Dedup.connectedComponents(pairs, ids)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(cc(_) == 1L)) // 4-chain -> label 1
    assert(cc(10L) == 10L && cc(11L) == 10L)
    assert(cc(5L) == 5L && cc(12L) == 12L) // isolated vertices
  }

  test("nearDedup keeps one representative per cluster plus unclustered docs") {
    // docs 0/1/2 form one near-dup cluster (exact + near); 3 is unrelated
    val kept = Dedup.nearDedup(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 3L))
  }

  test("prioritized exact dedup keeps the preferred source's copy") {
    val d = Seq(
      (10L, "same text here", "crawl"),
      (11L, "same text here", "curated"),   // preferred -> representative
      (12L, "same text here", "crawl"),
      (13L, "unique text", "crawl"),
      (14L, "other dup", "wiki"), (15L, "other dup", "wiki") // unlisted src, min id
    ).toDF("doc_id", "text", "source")
    val out = Dedup.exactDedupPrioritized(d, col("doc_id"), col("text"),
        col("source"), Seq("curated", "crawl"))
      .select("representative", "kept_source", "n_copies")
      .as[(Long, String, Long)].collect().toSet
    assert(out == Set((11L, "curated", 3L), (13L, "crawl", 1L), (14L, "wiki", 2L)))
  }

  test("contamination counts distinct benchmark n-gram overlaps") {
    val corpus = Seq(
      (10L, "one two three four five six seven eight nine ten"),
      (11L, "totally different words with no benchmark overlap here at all ok")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (1L, "one two three four five six seven eight plus tail words")
    ).toDF("doc_id", "text")
    val out = TextOps.contaminationCounts(corpus, bench, n = 8)
      .as[(Long, Long)].collect().toMap
    assert(out(10L) == 1L) // the single shared 8-gram
    assert(out(11L) == 0L) // clean doc still reported
  }

  test("exact dedup groups by content hash") {
    val g = Dedup.exactGroups(docs, col("doc_id"), col("text"))
    assert(g.count() == 3)
    val dup = g.where(col("n_copies") === 2).select("representative").as[Long].head()
    assert(dup == 0L)
    assert(Dedup.exactDedup(docs, "doc_id", "text").count() == 3)
  }

  test("minhash LSH finds exact and near dups, not unrelated docs") {
    val pairs = Dedup.minhashCandidates(docs, col("doc_id"), col("text"))
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))          // exact dup always collides
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated never
  }

  test("indexed ngram jaccard == cross-join ngram jaccard") {
    val cross = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 0.01)
      .as[(Long, Long, Double)].collect().toSet
    val indexed = Dedup.ngramJaccardPairsIndexed(docs, col("doc_id"), col("text"), 0.01)
      .as[(Long, Long, Double)].collect().toSet
    assert(indexed == cross)
    assert(cross.nonEmpty) // the near-dup docs share most shingles
    // stop-shingle cap: capping at df<=1 removes every shared shingle here
    assert(Dedup.ngramJaccardPairsIndexed(docs, col("doc_id"), col("text"), 0.01,
      maxDocFreq = Some(1L)).count() == 0)
  }

  test("minhash jaccard estimate: exact dups score 1.0, estimates stay in [0,1]") {
    val est = Dedup.minhashJaccardEstimate(docs, col("doc_id"), col("text"))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(est((0L, 1L)) == 1.0) // identical text -> identical signature
    // near-dup scores below exact but well above zero; all estimates valid
    assert(est((0L, 2L)) > 0.3 && est((0L, 2L)) < 1.0)
    assert(est.values.forall(j => j >= 0.0 && j <= 1.0))
  }

  test("LSH band signatures: Catalyst expression path == compiled kernel path") {
    // withLshBands (pure Column expressions) and the UDF kernel inside
    // minhashCandidates must be byte-identical; compare sigs per (doc, band).
    val exprSigs = Dedup.withLshBands(docs.select(col("doc_id"), col("text")), col("text"))
      .select(col("doc_id"), explode(col("lsh_bands")).as("b"))
      .select(col("doc_id"), col("b.band"), col("b.sig"))
      .as[(Long, Int, String)].collect().toSet
    // reach the kernel through the public API: pairs must match expression path
    val exprPairs = {
      val e = Dedup.withLshBands(docs.select(col("doc_id"), col("text")), col("text"))
        .select(col("doc_id"), explode(col("lsh_bands")).as("b"))
        .select(col("doc_id"), col("b.band").as("band"), col("b.sig").as("sig"))
      val a = e.as("a"); val b = e.as("b")
      a.join(b, col("a.band") === col("b.band") && col("a.sig") === col("b.sig")
          && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id")).distinct()
        .as[(Long, Long)].collect().toSet
    }
    val kernelPairs = Dedup.minhashCandidates(docs, col("doc_id"), col("text"))
      .as[(Long, Long)].collect().toSet
    assert(exprSigs.nonEmpty)
    assert(kernelPairs == exprPairs)
  }

  test("star edges: identical components to all-pairs, linear edge count") {
    // a 4-copy duplicate cluster: all-pairs emits C(4,2)=6 pairs per shared
    // bucket; star emits 3 edges — components must not change
    val clones = Seq(
      (20L, "the same boilerplate sentence repeated across mirrors"),
      (21L, "the same boilerplate sentence repeated across mirrors"),
      (22L, "the same boilerplate sentence repeated across mirrors"),
      (23L, "the same boilerplate sentence repeated across mirrors"),
      (24L, "a completely different document about gardening and soil")
    ).toDF("doc_id", "text")
    val ids = clones.select("doc_id")
    def comps(edges: org.apache.spark.sql.DataFrame) =
      Dedup.connectedComponents(edges, ids).as[(Long, Long)].collect().toMap
    val allPairs = Dedup.minhashCandidates(clones, col("doc_id"), col("text"))
    val star = Dedup.minhashStarEdges(clones, col("doc_id"), col("text"))
    assert(comps(star) == comps(allPairs))
    val starEdges = star.as[(Long, Long)].collect().toSet
    // star: exactly rep->member edges, linear in cluster size
    assert(starEdges == Set((20L, 21L), (20L, 22L), (20L, 23L)))
    val pairEdges = allPairs.as[(Long, Long)].collect().toSet
    assert(pairEdges.size == 6) // quadratic form for comparison
    // nearDedup keeps one representative per cluster plus the singleton
    assert(Dedup.nearDedup(clones, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet == Set(20L, 24L))

    // a hot bucket: n near-identical, distinct boilerplate texts landing in
    // the same LSH buckets. Star edges stay linear — within a band each
    // member takes one edge from its bucket's representative, so at most
    // n − 1 edges per band, never the n(n−1)/2 all-pairs — and edit-distance
    // verify runs on those edges only
    val n = 200
    val boiler = Seq.tabulate(60)(i => s"w${i % 12}").mkString(" ")
    val hot = (0 until n).map(i => (900000000L + i, s"$boiler end$i"))
      .toDF("doc_id", "text")
    val hotEdges = Dedup.minhashStarEdges(hot, col("doc_id"), col("text"))
    val edges = hotEdges.as[(Long, Long)].collect()
    val bands = 4
    assert(edges.length <= bands * (n - 1) && edges.length < n * (n - 1) / 2)
    assert(edges.groupBy(_._2).values.forall(_.length <= bands),
      "one in-edge per member per band")
    val hotComps = Dedup.connectedComponents(hotEdges, hot.select("doc_id"))
      .as[(Long, Long)].collect()
    assert(hotComps.length == n && hotComps.map(_._2).toSet == Set(900000000L))
    val verified = Dedup.editDistanceVerify(hot, col("doc_id"), col("text"),
      hotEdges, 0.5).count()
    assert(verified <= edges.length)
  }

  test("persisted text index: candidates match from-scratch; append is incremental") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tidx").toString
    val idx = s"$dir/minhash_idx"
    val c1 = Seq(
      (30L, "the same boilerplate sentence repeated across mirrors"),
      (31L, "the same boilerplate sentence repeated across mirrors"),
      (32L, "a completely different document about gardening and soil")
    ).toDF("doc_id", "text")
    TextIndex.build(c1, col("doc_id"), col("text"), idx)
    // reading the index produces the exact pairs the kernel path produces
    val fromIdx = TextIndex.candidatePairs(spark, idx)
      .as[(Long, Long)].collect().toSet
    val scratch = Dedup.minhashCandidates(c1, col("doc_id"), col("text"))
      .as[(Long, Long)].collect().toSet
    assert(fromIdx == scratch && fromIdx.contains((30L, 31L)))
    // incremental append: only the new doc is signed; re-sent docs are no-ops
    val c2 = Seq(
      (31L, "the same boilerplate sentence repeated across mirrors"), // already indexed
      (33L, "the same boilerplate sentence repeated across mirrors")  // new dup
    ).toDF("doc_id", "text")
    TextIndex.append(c2, col("doc_id"), col("text"), idx)
    val sigs = TextIndex.signatures(spark, idx)
    assert(sigs.count() == 4)
    assert(sigs.groupBy(col("doc_id")).count().where(col("count") > 1).count() == 0)
    // the appended doc joins the existing cluster via stored signatures only
    val star = TextIndex.starEdges(spark, idx).as[(Long, Long)].collect().toSet
    assert(star == Set((30L, 31L), (30L, 33L)))
    // round 15: a REBUILD is generational — the next generation lands
    // beside the live one, the pointer flips atomically, and the retired
    // generation stays as the reader grace window (the old in-place
    // overwrite exposed a footerless window to concurrent readers)
    TextIndex.build(c1, col("doc_id"), col("text"), idx)
    assert(new java.io.File(s"${idx}_v1").isDirectory, "rebuild -> gen 1")
    assert(new java.io.File(idx).isDirectory,
      "the retired generation is the reader grace window")
    assert(TextIndex.signatures(spark, idx).count() == 3) // rebuilt corpus
    // the NEXT rebuild reclaims the grace generation
    TextIndex.build(c1, col("doc_id"), col("text"), idx)
    assert(new java.io.File(s"${idx}_v2").isDirectory &&
      new java.io.File(s"${idx}_v1").isDirectory &&
      !new java.io.File(idx).isDirectory)
    // appends keep landing in the current generation
    TextIndex.append(c2, col("doc_id"), col("text"), idx)
    assert(TextIndex.signatures(spark, idx).count() == 4)
  }

  test("round-15 soak: TextIndex readers during appends and rebuilds") {
    // the generational-rebuild twin of the ANN store soak: a live
    // candidate-pairs reader runs through appends and two full rebuilds,
    // barriered so no reader spans two maintenance cycles (the grace
    // envelope); every read must return the full pair set
    val dir = java.nio.file.Files.createTempDirectory("graft_tidx_soak").toString
    val idx = s"$dir/idx"
    def corp(n: Int) = (0 until n).map(i =>
      (i.toLong, if (i % 2 == 0) "the same boilerplate sentence repeated"
                 else s"unique document number $i about topic ${i % 7}"))
      .toDF("doc_id", "text")
    TextIndex.build(corp(20), col("doc_id"), col("text"), idx)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val completed = new java.util.concurrent.atomic.AtomicLong(0)
    val reader = new Thread(() =>
      try while (!stop.get()) {
        // all even docs share one text → the star must link 2→ every
        // other even doc present at read time (≥ 9 edges, monotone)
        val edges = TextIndex.starEdges(spark, idx).count()
        assert(edges >= 9, s"partial star: $edges edges")
        completed.incrementAndGet(): Unit
      } catch { case t: Throwable => errs.add(t) })
    reader.start()
    def barrier(): Unit = {
      val at = completed.get()
      val t0 = System.nanoTime()
      while (completed.get() < at + 1 && errs.isEmpty &&
        System.nanoTime() - t0 < 60e9) Thread.sleep(10)
    }
    try {
      barrier(); TextIndex.append(corp(30), col("doc_id"), col("text"), idx)
      barrier(); TextIndex.build(corp(40), col("doc_id"), col("text"), idx)
      barrier(); TextIndex.append(corp(50), col("doc_id"), col("text"), idx)
      barrier(); TextIndex.build(corp(50), col("doc_id"), col("text"), idx)
      barrier()
    } finally { stop.set(true); reader.join(120000) }
    assert(errs.isEmpty,
      s"reader failed during maintenance: ${Option(errs.peek()).map(_.toString)}")
    assert(completed.get() >= 5, s"reader starved: ${completed.get()}")
    assert(TextIndex.signatures(spark, idx).count() == 50)
  }

  test("dsir importance weights: target-like docs score above background-like") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta", true),
      (1L, "alpha beta gamma epsilon", true),
      (2L, "omega psi chi phi", false),
      (3L, "omega psi chi upsilon", false),
      (4L, "alpha beta omega psi", true) // mixed
    ).toDF("doc_id", "text", "is_en")
    val w = Sampling.dsirWeights(corpus, col("doc_id"), col("text"), col("is_en"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(w.size == 5 && w.values.forall(_._1 == 4L)) // 4 tokens each
    // pure-target docs positive, pure-background negative, mixed between
    assert(w(0L)._2 > 0 && w(1L)._2 > 0)
    assert(w(2L)._2 < 0 && w(3L)._2 < 0)
    assert(w(4L)._2 < w(0L)._2 && w(4L)._2 > w(2L)._2)
    // deterministic: same input -> bit-identical weights
    val w2 = Sampling.dsirWeights(corpus, col("doc_id"), col("text"), col("is_en"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(w.forall { case (k, (_, v)) => w2(k) == v })
  }

  test("simhash banded near-dup == brute-force within maxDist") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"),   // exact dup: hd 0
      (2L, "the quick brown fox jumps over the lazy cat"),   // near: small hd
      (3L, "completely unrelated text about financial markets today"),
      (4L, "")
    ).toDF("doc_id", "text")
    val banded = Dedup.simhashNearDupPairs(corpus, col("doc_id"), col("text"))
      .as[(Long, Long, Int)].collect().toSet
    // brute force over all pairs with the same (60-bit) signatures
    val sigs = corpus.select(col("doc_id"),
      Dedup.simhash(col("text"), 60).as("sig")).as[(Long, Long)].collect().toMap
    val brute = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      hd = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if hd <= 3
    } yield (a, b, hd)).toSet
    assert(banded == brute)
    assert(banded.contains((0L, 1L, 0))) // exact dup found at distance 0
    // pigeonhole precondition enforced
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDupPairs(corpus, col("doc_id"), col("text"), maxDist = 4, bands = 4)
    }
  }

  test("ngram jaccard: dup=1.0, near-dup high, unrelated filtered") {
    val p = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(p((0L, 1L)) == 1.0)
    assert(p((0L, 2L)) > 0.5 && p((0L, 2L)) < 1.0)
    assert(!p.contains((0L, 3L)))
  }

  test("simhash: identical texts equal; near-dups close in hamming; unrelated far") {
    val sh = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(sh(0L) == sh(1L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0L), sh(2L)) < ham(sh(0L), sh(3L)))
  }

  test("fingerprint & simhash kernels == expression forms") {
    val mixed = docs.union(Seq((4L, "ab"), (5L, "")).toDF("doc_id", "text"))
    val fp = mixed.select(
      TextOps.fingerprint(col("text")).as("k"),
      TextOps.fingerprintExpr(col("text")).as("e"))
      .as[(String, String)].collect()
    fp.foreach { case (k, e) => assert(k == e) }
    val sh = mixed.select(
      Dedup.simhash(col("text")).as("k"),
      Dedup.simhashExpr(col("text")).as("e"))
      .as[(Long, Long)].collect()
    sh.foreach { case (k, e) => assert(k == e) }
  }

  test("fingerprint stable and discriminating") {
    val fp = docs.select(col("doc_id"), TextOps.fingerprint(col("text")).as("f"))
      .as[(Long, String)].collect().toMap
    assert(fp(0L) == fp(1L))
    assert(fp(0L) != fp(3L))
    assert(fp(0L).split("\\|").length == 4)
  }

  test("text quality signals") {
    val q = TextOps.withQualitySignals(Seq((1L, "the cat sat")).toDF("doc_id", "text"))
      .select("n_tokens", "n_stopwords", "mean_token_len", "stopword_ratio")
      .head()
    assert(q.getInt(0) == 3)
    assert(q.getInt(1) == 1)
    assert(math.abs(q.getDouble(2) - 3.0) < 1e-9)
    assert(math.abs(q.getDouble(3) - 1.0 / 3) < 1e-9)
  }

  test("DotProduct codegen expression == lambda fold, bit-exact") {
    val v = Seq(
      (0L, Array(0.1f, -2.5f, 3.75f, 0.33f)),
      (1L, Array(1.5f, 0.25f, -0.125f, 9.9f))
    ).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val a = v.select(col("e").as("ea")).crossJoin(v.select(col("e").as("eb")))
    // exclude the extensions' fold->native rewrite for this test, or the
    // parity check would compare the native expression to itself
    val ruleName = graft.plans.RewriteDotProduct.ruleName
    val prev = spark.conf.getOption("spark.sql.optimizer.excludedRules")
    spark.conf.set("spark.sql.optimizer.excludedRules", ruleName)
    try {
      val folded = a.select(
        Similarity.dot(col("ea"), col("eb")).as("native"),
        Similarity.dotFold(col("ea"), col("eb")).as("fold"))
      assert(!folded.queryExecution.optimizedPlan.toString
        .matches("(?s).*graft_dot.*graft_dot.*"), "rule exclusion ineffective")
      val rows = folded.as[(Double, Double)].collect()
      assert(rows.nonEmpty)
      rows.foreach { case (n, f) => assert(n == f) } // exact, not approx
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.optimizer.excludedRules", p)
      case None => spark.conf.unset("spark.sql.optimizer.excludedRules")
    }
  }

  test("cosine similarity basics") {
    val v = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(1f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f)), (3L, Array(0.9f, 0.1f, 0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(v, v.where(col("vec_id") === 0), 2)
      .select("rank", "nid").as[(Int, Long)].collect().toMap
    assert(top(1) == 1L) // identical vector first (cos=1)
    assert(top(2) == 3L) // then the nearly-parallel one
  }

  test("IVF: probes the right cell, finds in-cluster neighbors") {
    // two well-separated clusters; ids 0-3 cluster X, ids 4-7 cluster Y
    val v = (0L to 3L).map(i => (i, Array(1f, 0.01f * i, 0f))) ++
      (4L to 7L).map(i => (i, Array(0f, 0.01f * i, 1f)))
    val df = v.toDF("vec_id", "embedding")
    val out = Similarity.ivfTopK(df, df.where(col("vec_id") === 0), k = 3,
      nlist = 2, nprobe = 1)
      .select("nid").as[Long].collect().toSet
    assert(out.nonEmpty)
    assert(out.subsetOf(Set(1L, 2L, 3L))) // only cluster-X neighbors
  }

  test("PQ: sampled vectors encode to their own codes; ADC ranks the exact dup first") {
    // 8 vectors, dim 4, m=2 subspaces, ksub=4 codewords -> stride 2 samples
    // vec_ids 0,2,4,6 as codewords 0..3. Vector 1 duplicates 0, so its PQ
    // code equals 0's in every subspace and ADC puts it at rank 1 for q=0.
    val v = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f)), (3L, Array(0f, 0.9f, 0.1f, 0f)),
      (4L, Array(0f, 0f, 1f, 0f)), (5L, Array(0f, 0f, 0.9f, 0.1f)),
      (6L, Array(0f, 0f, 0f, 1f)), (7L, Array(0.1f, 0f, 0f, 0.9f))
    ).toDF("vec_id", "embedding")
    // SEED mechanics (pre-Lloyd): each sampled vector is its own nearest
    // seed codeword — pins the strided seeding the refinement starts from
    val seed = Similarity.pqCodebooksSeed(v, 2, 4)
    val encSeed = v.select(col("vec_id"),
        Similarity.pqCodeKernel(seed)(col("embedding").cast("array<double>")).as("code"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(encSeed(0L) == Seq(0, 0) && encSeed(2L) == Seq(1, 0))
    assert(encSeed(4L) == Seq(2, 1) || encSeed(4L)(0) == 2) // sub 1 of vec 4 = (1,0)
    // SHIPPED (refined) books: exact duplicates still share a code, and
    // ADC still ranks the duplicate first — refinement moves codewords to
    // assignment means, never splits identical vectors
    val enc = Similarity.pqEncode(v, m = 2, ksub = 4)
      .select(col("vec_id"), col("code")).as[(Long, Seq[Int])].collect().toMap
    assert(enc(1L) == enc(0L)) // exact dup -> same code
    val top = Similarity.pqTopK(v, v.where(col("vec_id") === 0), k = 3,
        m = 2, ksub = 4)
      .select("rank", "nid").as[(Int, Long)].collect().toMap
    assert(top(1) == 1L) // the exact duplicate ranks first
  }

  test("PQ recall: ADC top-k stays inside the query's cluster") {
    // 4 well-separated clusters of 8 vectors each (ids in cluster blocks, so
    // the stride-8 sample picks one codeword per cluster). Codes then
    // identify clusters in BOTH subspaces, every same-cluster vector shares
    // the query's code (minimal adist), and ADC top-3 for a cluster-A query
    // must be cluster-A members only.
    def clusterVec(c: Int, i: Int): Array[Float] = {
      val base = Array.fill(4)(0f)
      base(c) = 1f
      base((c + 1) % 4) = 0.01f * i // small in-cluster jitter
      base
    }
    val v = for (c <- 0 until 4; i <- 0 until 8)
      yield ((c * 8 + i).toLong, clusterVec(c, i))
    val df = v.toDF("vec_id", "embedding")
    val top = Similarity.pqTopK(df, df.where(col("vec_id") === 0), k = 3,
        m = 2, ksub = 4)
      .select("nid").as[Long].collect().toSet
    assert(top.size == 3 && top.subsetOf((1L to 7L).toSet),
      s"ADC left the cluster: $top")
  }

  test("PQ Lloyd refinement ships only a recall win: refined >= seed on the pinned eval (round-17 #6)") {
    // the real embeddings table, the registry's pinned eval set (vec_id<10)
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.where(col("vec_id") < 10)
    val k = 5
    val exact = Similarity.bruteForceTopK(emb, queries, k)
      .select(col("qid"), col("nid")).as[(Long, Long)].collect().toSet
    def recallOf(books: Array[Array[Array[Double]]]): Double = {
      val enc = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        .select(col("vec_id").as("nid"), Similarity.pqCodeKernel(books)(col("e")).as("code"))
        .localCheckpoint(false)
      val got = Similarity.pqSearch(enc, books, queries, k, m = 4, ksub = 16)
        .select(col("qid"), col("nid")).as[(Long, Long)].collect().toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val seed = Similarity.pqCodebooksSeed(emb, 4, 16)
    val refined = Similarity.pqLloydStep(emb, seed, 4, 16)
    val (rSeed, rRefined) = (recallOf(seed), recallOf(refined))
    info(f"PQ recall@$k: seed=$rSeed%.3f refined=$rRefined%.3f")
    assert(rRefined >= rSeed,
      f"Lloyd refinement REGRESSED recall: $rRefined%.3f < $rSeed%.3f — do not ship")
    // and the shipped pqCodebooks ARE the refined books (not the seed)
    val shipped = Similarity.pqCodebooks(emb, 4, 16)
    assert(shipped.flatten.flatten.toSeq == refined.flatten.flatten.toSeq)
  }

  test("semDedup drops lower-id near-duplicates within a cell only") {
    // n=6, nlist=2 -> strided centroids at vec_ids 0 and 3.
    // 1 duplicates 0; 2 is nearly parallel to 0; 4 duplicates 3;
    // 5 is diagonal (cos 0.707 to both centroids, tie -> larger cid cell).
    val v = Seq(
      (0L, Array(1f, 0f)), (1L, Array(1f, 0f)), (2L, Array(0.99f, 0.14f)),
      (3L, Array(0f, 1f)), (4L, Array(0f, 0.9f)), (5L, Array(0.7f, 0.7f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(v, tau = 0.95, nlist = 2)
      .as[(Long, Long, Boolean)].collect()
      .map { case (id, cell, kept) => id -> ((cell, kept)) }.toMap
    assert(out(0L)._2 && out(3L)._2 && out(5L)._2) // representatives kept
    assert(!out(1L)._2 && !out(2L)._2 && !out(4L)._2) // near-dups dropped
    assert(out(0L)._1 == out(1L)._1 && out(1L)._1 == out(2L)._1)
    assert(out(5L)._1 == out(3L)._1) // tie goes to the larger centroid id
  }

  test("BPE merge training follows pair frequency with deterministic ties") {
    // words: "aa" x2, "ab" x1  ->  pairs (a,a):2, (a,b):1
    val d = Seq((0L, "aa aa ab")).toDF("doc_id", "text")
    val m = TextOps.trainBpeMerges(d, col("text"), nMerges = 5)
    // merge1 collapses "aa"; "ab" still holds the (a,b) pair -> merge2
    assert(m == Seq(("a", "a"), ("a", "b")))  // then no pairs remain

    // classic shape: "low" x3 "lowest" x1 -> (l,o) 4, (o,w) 4 ... tie
    // breaks lexicographically: (l,o) first, then (lo,w)
    val d2 = Seq((0L, "low low low lowest")).toDF("doc_id", "text")
    val m2 = TextOps.trainBpeMerges(d2, col("text"), nMerges = 2)
    assert(m2 == Seq(("l", "o"), ("lo", "w")))
  }

  test("editDistanceVerify: normalized similarity filter over candidate pairs") {
    val docs = Seq(
      (1L, "abcdefghij"),            // 10 chars
      (2L, "abcdefghiX"),            // lev 1 -> sim 0.9
      (3L, "XXXXXXXXXX"),            // lev 9 vs doc1 -> sim 0.1
      (4L, "abcdefghij")             // identical to doc1 -> sim 1.0
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val out = Dedup.editDistanceVerify(docs, col("doc_id"), col("text"), pairs, 0.85)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(out == Set((1L, 2L, 1, 0.9), (1L, 4L, 0, 1.0)))
  }

  test("BPE encode applies merges by rank; vocab encoded once, docs rebuilt") {
    // with merges Seq(("l","o"), ("lo","w")): "low" -> l o w -> lo w -> low
    // "slow" -> s l o w -> s lo w -> s low; "owl" -> o w l (no (o,w) merge)
    val merges = Seq(("l", "o"), ("lo", "w"))
    val d = Seq((1L, "low slow"), (2L, "owl")).toDF("doc_id", "text")
    val out = TextOps.bpeEncode(d, col("doc_id"), col("text"), merges)
      .as[(Long, Seq[String], Int)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out(1L) == ((Seq("low", "s", "low"), 3)))
    assert(out(2L) == ((Seq("o", "w", "l"), 3)))
  }

  test("PII counts and redaction") {
    val d = Seq(
      (0L, "contact bob.smith+x@example.co.uk or 10.0.0.1 now"),
      (1L, "call 555-123-4567 twice 555.987.6543"),
      (2L, "clean text with no identifiers at all")
    ).toDF("doc_id", "text")
    val got = d.select(col("doc_id"), TextOps.piiCounts(col("text")).as("c"),
        TextOps.piiRedact(col("text")).as("r"))
      .select(col("doc_id"), col("c.emails"), col("c.ipv4s"), col("c.phones"), col("r"))
      .as[(Long, Int, Int, Int, String)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
    assert(got(0L) == ((1, 1, 0, "contact <EMAIL> or <IP> now")))
    assert(got(1L) == ((0, 0, 2, "call <PHONE> twice <PHONE>")))
    assert(got(2L) == ((0, 0, 0, "clean text with no identifiers at all")))
  }

  test("packSequences: exclusive offsets, pack = first-token chunk") {
    val d = Seq(
      ("a", 0L, 100), ("a", 1L, 100), ("a", 2L, 80), ("a", 3L, 10),
      ("b", 0L, 300)
    ).toDF("source", "doc_id", "toks")
    val out = Sampling.packSequences(d, col("source"), col("doc_id"),
        col("toks"), budget = 256)
      .select("source", "doc_id", "token_offset", "pack")
      .as[(String, Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> ((t._3, t._4))).toMap
    assert(out(("a", 0L)) == ((0L, 0L)))
    assert(out(("a", 1L)) == ((100L, 0L)))
    assert(out(("a", 2L)) == ((200L, 0L)))  // starts in pack 0, straddles
    assert(out(("a", 3L)) == ((280L, 1L)))  // first token past the boundary
    assert(out(("b", 0L)) == ((0L, 0L)))    // streams pack independently
    // non-power-of-two budget: pack must be exact integer floor division
    val odd = Sampling.packSequences(d, col("source"), col("doc_id"),
        col("toks"), budget = 90)
      .select("source", "doc_id", "pack").as[(String, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(odd(("a", 1L)) == 1L)  // offset 100 -> pack 1
    assert(odd(("a", 2L)) == 2L)  // offset 200 -> pack 2
    assert(odd(("a", 3L)) == 3L)  // offset 280 -> pack 3
  }

  test("LSH signature buckets identical vectors together") {
    val v = Seq(
      (0L, Array.fill(8)(1f)), (1L, Array.fill(8)(1f)),
      (2L, Array.tabulate(8)(i => if (i % 2 == 0) 1f else -1f))
    ).toDF("vec_id", "embedding")
    val sig = v.select(col("vec_id"),
      Similarity.lshSignature(col("embedding"), 8).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(sig(0L) == sig(1L))
  }

  test("multimodal: metadata + fallback decode for non-image bytes") {
    val assets = Seq((1L, "hello world"), (2L, ""))
      .toDF("asset_id", "text")
      .select(col("asset_id"), encode(col("text"), "UTF-8").as("asset"))
    val meta = Multimodal.withMetadata(assets)
      .select("asset_id", "meta.byte_len", "meta.format")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getString(2)))).toMap
    assert(meta(1L)._1 == 11L)
    assert(meta(1L)._2 == "unknown")
    val feats = Multimodal.decodeImage(assets)
    assert(feats.schema == Multimodal.decodeSchema)
    assert(feats.count() == 2)
    // text bytes are not an image: deterministic stand-in dims, decoded=false
    val r1 = feats.where(col("asset_id") === 1L).head()
    assert(!r1.getBoolean(4))
    assert(r1.getInt(1) == 1 + (11 % 64)) // width from byte length
  }

  test("multimodal: real PNG and BMP decode via ImageIO round-trip") {
    // real image bytes written by the JDK encoder itself
    def imgBytes(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      img.setRGB(0, 0, 0x336699)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val assets = Seq(
      (1L, imgBytes("png", 17, 9)),
      (2L, imgBytes("bmp", 5, 31)),
      (3L, Array[Byte](1, 2, 3)) // garbage -> fallback
    ).toDF("asset_id", "asset")
    val out = Multimodal.decodeImage(assets)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getBoolean(4))).toMap
    assert(out(1L) == ((17, 9, 3, true)))
    assert(out(2L) == ((5, 31, 3, true)))
    assert(out(3L)._4 == false)
    // format sniff agrees with the real containers
    val fmts = Multimodal.withMetadata(assets)
      .select(col("asset_id"), col("meta.format")).as[(Long, String)]
      .collect().toMap
    assert(fmts(1L) == "png")
    assert(fmts(2L) == "bmp")
  }

  test("multimodal: real WAV decode via AudioSystem round-trip + fallback") {
    val assets = Seq((7L, 16000, 1600), (8L, 44100, 441))
      .toDF("asset_id", "rate", "n")
      .select(col("asset_id"),
        Multimodal.wavColumn(col("asset_id"), col("rate"), col("n")).as("asset"))
      .union(Seq((9L, "not audio at all".getBytes("UTF-8")))
        .toDF("asset_id", "asset"))
    val out = Multimodal.decodeAudio(assets)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4), r.getLong(5),
          r.getBoolean(6)))).toMap
    assert(out(7L) == ((16000, 1, 16, 1600L, 100L, true)))
    assert(out(8L) == ((44100, 1, 16, 441L, 10L, true))) // floor(441000/44100)
    assert(!out(9L)._6 && out(9L)._5 == -1L)
  }

  test("multimodal: pngColumn synthesizes bytes ImageIO decodes to the requested dims") {
    val df = Seq((7L, 13, 21)).toDF("asset_id", "w", "h")
      .select(col("asset_id"),
        Multimodal.pngColumn(col("asset_id"), col("w"), col("h")).as("asset"))
    val r = Multimodal.decodeImage(df).head()
    assert((r.getInt(1), r.getInt(2), r.getBoolean(4)) == ((13, 21, true)))
  }

  test("png magic bytes sniffed") {
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A)
    val assets = Seq((1L, png)).toDF("asset_id", "asset")
    val f = Multimodal.withMetadata(assets).select("meta.format").as[String].head()
    assert(f == "png")
  }

  test("repetition signals: hand-computed bigram fraction and distinct ratio") {
    val docs = Seq(
      (1L, "a b a b a b"),       // bigrams: ab ba ab ba ab -> top 3/5; 2/6 distinct
      (2L, "w x y z"),           // all bigrams unique -> 1/3; 4/4 distinct
      (3L, "solo"),              // one token: no bigrams -> 0.0; ratio 1.0
      (4L, ""),                  // zero tokens -> (0.0, 0.0)
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextOps.repetitionFilter(docs, maxTopBigramFrac = 0.5,
        minDistinctRatio = 0.5)
      .select("doc_id", "top_bigram_frac", "distinct_token_ratio", "keep")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(out(1L) == ((3.0 / 5, 2.0 / 6, false)))
    assert(out(2L) == ((1.0 / 3, 1.0, true)))
    assert(out(3L) == ((0.0, 1.0, true)))
    assert(out(4L) == ((0.0, 0.0, false)))
    assert(out(5L) == ((0.0, 0.0, false)))
  }

  test("capPerKey keeps the first k rows per key deterministically") {
    val df = (1 to 20).map(i => (i.toLong, s"src${i % 2}")).toDF("id", "src")
    val kept = Sampling.capPerKey(df, col("src"), col("id"), 3)
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    assert(kept == Set(("src0", 2L), ("src0", 4L), ("src0", 6L),
      ("src1", 1L), ("src1", 3L), ("src1", 5L)))
  }

  test("unigramBits: surprisal from corpus frequencies, hand-computed") {
    // corpus: a a a b -> p(a)=3/4, p(b)=1/4; bits(a)=round(log2(4/3),4)=0.415,
    // bits(b)=2.0. doc1="a a" -> 0.415; doc2="a b" -> (0.415+2)/2 = 1.2075
    val docs = Seq((1L, "a a"), (2L, "a b")).toDF("doc_id", "text")
    val out = TextOps.unigramBits(docs, col("doc_id"), col("text"), 1.0)
      .as[(Long, Long, Double, Boolean)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(out(1L) == ((2L, 0.415, true)))
    assert(out(2L) == ((2L, 1.2075, false)))
  }

  test("temperatureMix: alpha-tempered keep fractions, smallest source full") {
    // A has 4 rows, B has 1: alpha=0.5 -> w = n^-0.5, keep_frac A = 0.5, B = 1
    val df = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "A"), (5L, "B"))
      .toDF("doc_id", "src")
    val out = Sampling.temperatureMix(df, col("doc_id"), col("src"), 0.5)
    val fracs = out.select("src", "keep_frac").distinct()
      .as[(String, Double)].collect().toMap
    assert(fracs.get("B").contains(1.0))
    assert(fracs.get("A").forall(f => math.abs(f - 0.5) < 1e-12))
    // B's single row always survives; A keeps exactly the bucket<50 subset
    val kept = out.select("doc_id").as[Long].collect().toSet
    val expectA = df.where(col("src") === "A" &&
      Sampling.hashBucket(col("doc_id")) < 50)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == expectA + 5L)
  }

  test("lineDedup drops high-doc-frequency lines, keeps order, empties covered") {
    val docs = Seq(
      (1L, "boiler\nkeep one\nboiler2"),
      (2L, "boiler\nunique line\nboiler2"),
      (3L, "boiler\nboiler2"),
      (4L, "boiler")
    ).toDF("doc_id", "text")
    // "boiler" df=4, "boiler2" df=3 -> dropped at maxDocFreq=2; rest kept
    val out = TextOps.lineDedup(docs, col("doc_id"), col("text"), "\n", 2L)
      .as[(Long, String, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out(1L) == (("keep one", 1L)))
    assert(out(2L) == (("unique line", 1L)))
    assert(out(3L) == (("", 0L)))
    assert(out(4L) == (("", 0L)))
    assert(out.size == 4)
  }

  test("perplexityBuckets: NTILE sizes (larger first) and monotone cut points") {
    // 5 docs of distinct predictability -> ranks are total-ordered; NTILE(3)
    // over 5 rows gives bucket sizes 2,2,1 with bits monotone across buckets
    val d = Seq(
      (1L, "common common common common"),        // most predictable
      (2L, "common common common rare1"),
      (3L, "common common rare2 rare3"),
      (4L, "common rare4 rare5 rare6"),
      (5L, "rare7 rare8 rare9 rareA")             // least predictable
    ).toDF("doc_id", "text")
    val out = TextOps.perplexityBuckets(d, col("doc_id"), col("text"))
      .select("doc_id", "bits_per_token", "bucket")
      .as[(Long, Double, Int)].collect().sortBy(_._1)
    val byBucket = out.groupBy(_._3).view.mapValues(_.map(_._1).toSet).toMap
    assert(byBucket(1) == Set(1L, 2L) && byBucket(2) == Set(3L, 4L)
      && byBucket(3) == Set(5L))
    // bits are monotone non-decreasing along the bucket order
    val bits = out.sortBy(r => (r._3, r._2)).map(_._2)
    assert(bits.zip(bits.tail).forall { case (a, b) => a <= b })
  }

  test("duplicatedSpanCoverage: shared spans, internal repeats, interval union") {
    // k=3. Doc 1 and 2 share the 5-token run "a b c d e" -> every 3-gram in
    // it is duplicated, covering all 5 tokens of doc 1 and the first 5 of
    // doc 2. Doc 3 repeats "x y z" internally (positions 0 and 3) -> its own
    // 3-gram duplicates itself, covering tokens 0-2 and 3-5 = 6 of 7.
    // Doc 4 shares nothing. Doc 5 is shorter than k (no windows).
    val d = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e unrelated tail words"),
      (3L, "x y z x y z seven"),
      (4L, "totally disjoint tokens only here"),
      (5L, "too short")
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpanCoverage(d, col("doc_id"), col("text"), k = 3)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((5L, 5L, 1.0)))
    assert(out(2L) == ((8L, 5L, 5.0 / 8)))
    assert(out(3L) == ((7L, 6L, 6.0 / 7)))
    assert(out(4L) == ((5L, 0L, 0.0)))
    assert(out(5L) == ((2L, 0L, 0.0)))
  }

  test("kmeansCentroids: hand case converges to the two obvious clusters") {
    // Two tight groups on orthogonal axes. Seeds = vec_ids 0 and 1 — one
    // from each group, so one iteration already separates them; the second
    // iteration must be a fixed point.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (1L, Array(0.0f, 1.0f)), (3L, Array(0.1f, 0.9f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.kmeansCentroids(emb, 2, 2)
      .as[(Long, Int, Double, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // cluster 0 = {0,2}: centroid (0.95, 0.05); cluster 1 = {1,3}: (0.05, 0.95)
    assert(out((0L, 0)) == ((0.95, 2L)) && out((0L, 1)) == ((0.05, 2L)))
    assert(out((1L, 0)) == ((0.05, 2L)) && out((1L, 1)) == ((0.95, 2L)))
  }

  test("kmeansCentroids: deterministic, counts partition the corpus") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = Similarity.kmeansCentroids(emb, 3, 2).collect().toSet
    val b = Similarity.kmeansCentroids(emb, 3, 2).collect().toSet
    assert(a == b)
    val sizes = Similarity.kmeansCentroids(emb, 3, 2)
      .where(col("pos") === 0).agg(sum("n")).as[Long].head()
    assert(sizes == emb.count())
  }

  test("bloomSemiJoin and bloomAntiJoin equal the exact joins (long keys)") {
    val large = (1L to 200L).map(i => (i, s"row$i")).toDF("k", "payload")
    val small = Seq(5L, 17L, 17L, 300L).toDF("sk") // dup + non-matching member
    val semi = graft.operators.BloomOps
      .bloomSemiJoin(large, col("k"), small, col("sk"))
      .select("k").as[Long].collect().toSet
    assert(semi == Set(5L, 17L))
    val anti = graft.operators.BloomOps
      .bloomAntiJoin(large, col("k"), small, col("sk"))
      .select("k").as[Long].collect().toSet
    assert(anti == (1L to 200L).toSet -- Set(5L, 17L))
    // empty reference set: semi keeps nothing, anti keeps everything
    val none = Seq.empty[Long].toDF("sk")
    assert(graft.operators.BloomOps
      .bloomSemiJoin(large, col("k"), none, col("sk")).count() == 0L)
    assert(graft.operators.BloomOps
      .bloomAntiJoin(large, col("k"), none, col("sk")).count() == 200L)
  }

  test("resizeImage: NN-resized pixel sums match the synthesis formula") {
    val d = Seq((5L, 4, 4), (9L, 7, 3)).toDF("asset_id", "w", "h")
      .select(col("asset_id"),
        Multimodal.pngColumn(col("asset_id"), col("w"), col("h")).as("asset"))
    val out = Multimodal.resizeImage(d, 2, 2)
      .as[(Long, Int, Int, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    // expected: decode is lossless, NN mapping is floor(x'·W/2), so every
    // resized pixel is the formula value at the mapped source coordinate
    def sums(s: Long, w: Int, h: Int): (Long, Long, Long) = {
      var sr = 0L; var sg = 0L; var sb = 0L
      for (y <- 0 until 2; x <- 0 until 2) {
        val rgb = (s * 2654435761L + (x * w / 2) * 31L + (y * h / 2) * 17L) & 0xFFFFFF
        sr += (rgb >> 16) & 0xFF; sg += (rgb >> 8) & 0xFF; sb += rgb & 0xFF
      }
      (sr, sg, sb)
    }
    for ((s, w, h) <- Seq((5L, 4, 4), (9L, 7, 3))) {
      val (sr, sg, sb) = sums(s, w, h)
      assert(out(s) == ((s, 2, 2, sr, sg, sb, true)))
    }
    // undecodable bytes: total stage, decoded=false, zero sums
    val junk = Seq((1L, Array[Byte](1, 2, 3))).toDF("asset_id", "asset")
    val f = Multimodal.resizeImage(junk, 2, 2).collect()(0)
    assert(!f.getBoolean(6) && f.getLong(3) == 0L)
  }

  test("sampleFrames: every stride-th GIF frame with true decoded dims") {
    val d = Seq((3L, 5, 4, 4)).toDF("asset_id", "w", "h", "n")
      .select(col("asset_id"),
        Multimodal.gifColumn(col("asset_id"), col("w"), col("h"), col("n")).as("asset"))
    val out = Multimodal.sampleFrames(d, 2)
      .as[(Long, Int, Int, Int, Int, Boolean)].collect().sortBy(_._2)
    // 4 frames shrinking from 5×4 by 1 per frame; stride 2 -> frames 0, 2
    assert(out.toSeq == Seq((3L, 0, 5, 4, 4, true), (3L, 2, 3, 2, 4, true)))
    val junk = Seq((1L, Array[Byte](9, 9))).toDF("asset_id", "asset")
    val fb = Multimodal.sampleFrames(junk, 2).collect()(0)
    assert(fb.getInt(1) == -1 && !fb.getBoolean(5))
  }

  test("sourceShingleOverlap: hand-computed pairwise Jaccard") {
    val d = Seq(
      (1L, "a b c d", "A"),   // shingles {a b c, b c d}
      (2L, "a b c x", "B"),   // shingles {a b c, b c x}
      (3L, "q r s", "C")      // shingles {q r s}
    ).toDF("doc_id", "text", "source")
    val out = Dedup.sourceShingleOverlap(d, col("source"), col("text"))
      .as[(String, String, Long, Long, Long, Double)].collect().toSet
    // only pairs sharing at least one shingle surface; A∩B = {a b c}
    assert(out == Set(("A", "B", 2L, 2L, 1L, 0.333333)))
  }

  test("saltedDistinctCount is exact under any salt count") {
    val rnd = new scala.util.Random(13)
    // one hot key with many repeated values + a long tail
    val rows = (0 until 2000).map(i => ("hot", (rnd.nextInt(120)).toLong)) ++
      (0 until 100).map(i => (s"k${i % 7}", i.toLong))
    val d = rows.toDF("k", "v")
    val plain = d.groupBy(col("k")).agg(countDistinct(col("v")))
      .as[(String, Long)].collect().toMap
    for (salts <- Seq(1, 3, 16)) {
      val salted = graft.operators.EventOps
        .saltedDistinctCount(d, col("k"), col("v"), salts)
        .as[(String, Long)].collect().toMap
      assert(salted == plain, s"salts=$salts")
    }
  }

  test("tokenBucketsKernel matches its Column-expr parity twin") {
    val d = Seq((1L, "the quick  brown fox"), (2L, ""), (3L, "  a  "),
      (4L, "punct, mix! 123 ok")).toDF("id", "text")
    val rows = d.select(col("id"),
        TextOps.tokenBucketsKernel(64)(col("text")).as("k"),
        TextOps.tokenBucketsExpr(col("text"), 64).as("e"))
      .as[(Long, Seq[Long], Seq[Long])].collect()
    rows.foreach { case (id, k, e) => assert(k == e, s"id $id") }
    // null text: kernel yields an empty array, the expr twin null — both
    // explode to zero rows (the only way either is consumed)
    val nulls = Seq((5L, null.asInstanceOf[String])).toDF("id", "text")
    assert(nulls.select(explode(TextOps.tokenBucketsKernel(64)(col("text")))).count() == 0)
    assert(nulls.select(explode(TextOps.tokenBucketsExpr(col("text"), 64))).count() == 0)
  }

  test("groupDriftKL: single group diverges zero; hand formula matches") {
    // one group: p_gb == q_b in every bucket, every term log2(1) = 0
    val one = Seq((1L, "a b c a"), (2L, "b c")).toDF("doc_id", "text")
      .withColumn("src", lit("s"))
    val z = Sampling.groupDriftKL(one, col("src"), col("text"), buckets = 8)
      .select("kl_bits").as[Double].head()
    assert(z == 0.0)

    // two groups over a 4-bucket space: replicate the formula independently
    val d = Seq(("A", "x x y"), ("B", "y z z z")).toDF("src", "text")
    val out = Sampling.groupDriftKL(d, col("src"), col("text"), buckets = 4)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def bucket(tok: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(tok.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      (java.lang.Long.parseLong(hex.take(6), 16) % 4).toInt
    }
    val toks = Map("A" -> Seq("x", "x", "y"), "B" -> Seq("y", "z", "z", "z"))
    val cgb = toks.map { case (g, ts) =>
      g -> ts.groupBy(bucket).view.mapValues(_.size.toLong).toMap
    }
    val cb = (0 until 4).map(b =>
      b -> cgb.values.map(_.getOrElse(b, 0L)).sum).toMap
    val n = cb.values.sum
    toks.foreach { case (g, ts) =>
      val ng = ts.size.toLong
      val kl = (0 until 4).map { b =>
        val p = (cgb(g).getOrElse(b, 0L) + 1).toDouble / (ng + 4)
        val q = (cb(b) + 1).toDouble / (n + 4)
        BigDecimal(p * (math.log(p / q) / math.log(2.0)))
          .setScale(8, BigDecimal.RoundingMode.HALF_UP)
      }.sum.toDouble
      assert(out(g) == ((ng, kl)), s"group $g")
      assert(out(g)._2 >= 0.0, s"KL must be non-negative for $g")
    }
  }

  test("bloomSemiJoin string keys and null handling match join semantics") {
    val large = Seq(("a", 1), ("b", 2), (null, 3), ("d", 4))
      .toDF("k", "v")
    val small = Seq("b", "d", "zz").toDF("sk")
    val semi = graft.operators.BloomOps
      .bloomSemiJoin(large, col("k"), small, col("sk"))
      .select("v").as[Int].collect().toSet
    assert(semi == Set(2, 4)) // null key never matches
    val anti = graft.operators.BloomOps
      .bloomAntiJoin(large, col("k"), small, col("sk"))
      .select("v").as[Int].collect().toSet
    assert(anti == Set(1, 3)) // anti keeps the null-key row
  }
}
