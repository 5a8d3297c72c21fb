package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col

/** Scale's pieces without timing: the leg names resolve in the registry,
  * the argument checks, the ×N replica of a tiny base directory, and the
  * exponent fit. */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("every default leg is a registry query") {
    assert(Scale.legs.nonEmpty && Scale.legs.distinct == Scale.legs)
    assert(Scale.legs.filterNot(Queries.allQueries.contains).isEmpty)
  }

  test("arguments: two distinct factors and a filter that matches a leg") {
    assert(Scale.parseArgs(Seq("1,4", "q_bloom_semijoin")) ==
      Right((Seq(1, 4), Seq("q_bloom_semijoin"))))
    assert(Scale.parseArgs(Seq("1,4", "ann_,q_funnel3"))
      .map(_._2.toSet) == Right(Set("q_funnel3", "q_ann_ivf_topk",
        "q_ann_pq_topk", "q_ann_lsh_topk", "q_ann_recall")))
    assert(Scale.parseArgs(Nil).map(_._2) == Right(Scale.legs))
    assert(Scale.parseArgs(Seq("4,4", "q_funnel3")).isLeft)
    assert(Scale.parseArgs(Seq("1,4", "no_such_leg")).isLeft)
    assert(Scale.parseArgs(Seq("1,4"), Seq("q_funnel3", "q_no_such_query")).isLeft)
  }

  test("replicate x2: rows double, ids disjoint, texts perturbed only for r > 0") {
    val base = Files.createTempDirectory("graft_scale_base").toString
    Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
      .write.parquet(Tables.path(base, "documents"))
    Seq((10L, 7L, "signup"), (11L, 7L, "purchase"), (12L, 8L, "view"))
      .toDF("event_id", "user_id", "event_type")
      .write.parquet(Tables.path(base, "events"))
    Seq((0L, 0.5), (1L, 0.25)).toDF("vec_id", "x")
      .write.parquet(Tables.path(base, "embeddings"))
    Seq((100, "1-URGENT"), (101, "2-HIGH")).toDF("o_orderkey", "o_orderpriority")
      .write.parquet(Tables.path(base, "orders"))
    Seq((100, 3.0), (100, 4.0), (101, 5.0)).toDF("l_orderkey", "l_quantity")
      .write.parquet(Tables.path(base, "lineitem"))
    Seq((0, "AFRICA"), (1, "AMERICA")).toDF("r_regionkey", "r_name")
      .write.parquet(Tables.path(base, "region"))
    val out = Files.createTempDirectory("graft_scale_x2").toString + "/x2"
    assert(Scale.replicate(spark, base, out, 2) == out)

    def read(dir: String, t: String) = spark.read.parquet(Tables.path(dir, t))
    for ((table, keys) <- Scale.replicated) {
      val b = read(base, table)
      val r = read(out, table)
      assert(r.schema == b.schema, table)
      assert(r.count() == 2 * b.count(), table)
      keys.foreach { k =>
        val baseIds = b.select(col(k).cast("long")).as[Long].collect().toSet
        val ids = r.select(col(k).cast("long")).as[Long].collect().toSet
        assert(ids == baseIds ++ baseIds.map(_ + 10000000L), s"$table.$k")
      }
    }
    val docs = read(out, "documents").as[(Long, String)].collect().toSet
    assert(docs == Set((1L, "alpha beta"), (2L, "gamma delta"),
      (10000001L, "alpha beta rep1"), (10000002L, "gamma delta rep1")))
    assert(read(out, "region").as[(Int, String)].collect().toSet ==
      read(base, "region").as[(Int, String)].collect().toSet)
    assert(!Files.exists(java.nio.file.Paths.get(Tables.path(out, "nation"))),
      "a table missing from the base stays missing")
  }

  test("exponent fit: 1.0 for time proportional to factor, 0.0 for constant time") {
    val fs = Seq(1, 4, 10)
    assert(math.abs(Scale.exponent(fs, fs.map(_.toDouble)) - 1.0) < 1e-9)
    assert(math.abs(Scale.exponent(fs, fs.map(_ => 2.5))) < 1e-9)
    assert(math.abs(Scale.exponent(fs, fs.map(f => 3.0 * f * f)) - 2.0) < 1e-9)
  }
}
