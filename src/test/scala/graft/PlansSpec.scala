package graft

import org.scalatest.funsuite.AnyFunSuite

/** PLANS.md's normalizer on plain strings: run-specific tokens vanish,
  * operator changes do not. */
class PlansSpec extends AnyFunSuite {

  private val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")).toString

  private def dump(ids: Seq[Int], planId: Int, store: String, lambda: String,
                   hash: String, join: String): String =
    s"""AdaptiveSparkPlan isFinalPlan=false
       |+- $join [id#${ids(0)}L], [id#${ids(1)}L], Inner
       |   :- Exchange hashpartitioning(id#${ids(0)}L, 4), ENSURE_REQUIREMENTS, [plan_id=$planId]
       |   :  +- MapGroups graft.osl.OslEngine$$$$$$Lambda$$$lambda@$hash, id#${ids(0)}L
       |   +- FileScan parquet [id#${ids(1)}L,stamp#${ids(2)}L] Location: ManifestFileIndex(1 paths)[$tmp/graft_catstore$store/a59118/events]
       |   +- FileScan parquet [x#${ids(2)}L] Location: InMemoryFileIndex(1 paths)[file:${s"$tmp/graft_annidx$store/ivf_a5911835005aa029f1008f44/cells".take(60)}..., PartitionFilters: []
       |      +- ObjectHashAggregate(keys=[id#${ids(1)}L], functions=[agg(graft.functions.TopK$$Agg@$hash)])
       |""".stripMargin

  test("dumps differing only in ids, hashes and temp paths normalize to the same text") {
    val a = dump(Seq(908, 909, 910), 11, "11449959849651127150",
      "5263/0x00007fd905470478", "6385b96c", "SortMergeJoin")
    val b = dump(Seq(10341, 10184, 77), 65, "2234",
      "5548/0x00007f0011223344", "70027aec", "SortMergeJoin")
    assert(a != b)
    assert(Plans.normalize(a) == Plans.normalize(b))
    val n = Plans.normalize(a)
    assert(n.contains("id#0L") && n.contains("stamp#2L") && n.contains("[plan_id=0]"))
    assert(n.contains("<tmp>/graft_catstore/a59118/events"))
    assert(n.contains("[file:<tmp>/graft_annidx/..., PartitionFilters"),
      "a location Spark cut short keeps only the temp placeholder")
    assert(n.contains("OslEngine$$$Lambda@<hash>") && n.contains("TopK$Agg@<hash>"))
  }

  test("a dump with one changed operator still differs") {
    val a = dump(Seq(1, 2, 3), 5, "42", "1/0x01", "abc", "SortMergeJoin")
    val b = dump(Seq(1, 2, 3), 5, "42", "1/0x01", "abc", "BroadcastHashJoin")
    assert(Plans.normalize(a) != Plans.normalize(b))
  }
}
