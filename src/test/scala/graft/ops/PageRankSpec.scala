package graft.ops

import graft.SparkSpec

class PageRankSpec extends SparkSpec {
  import spark.implicits._

  test("hand-computed fixed-point ranks on a 3-node graph") {
    // A(1) -> B(2), A -> C(3), B -> C : after 1 iteration
    //   init = FP/3, base = 15*init//100
    //   r(A) = base; r(B) = base + 85*(init//2)//100
    //   r(C) = base + 85*(init//2 + init)//100
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("s", "d")
    val out = PageRank.ranks(edges, "s", "d", iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val init = PageRank.FP / 3
    val base = 15L * init / 100
    assert(out(1L) == base)
    assert(out(2L) == base + 85L * (init / 2) / 100)
    assert(out(3L) == base + 85L * (init / 2 + init) / 100)
  }

  test("multi-iteration: in-flow ordering holds, ranks deterministic across reruns") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 3L), (3L, 1L)).toDF("s", "d")
    def run() = PageRank.ranks(edges, "s", "d", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = run()
    val b = run()
    assert(a == b) // bit-identical across independent executions
    // node 3 receives from three sources; node 4 is a source-only node
    assert(a(3L) > a(1L) && a(3L) > a(2L) && a(1L) > a(4L))
    // the double view is the exact fp value scaled
    val d = PageRank.ranks(edges, "s", "d", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(d(3L) == a(3L).toDouble / 1e12)
  }

  test("empty edge list: 0 rows with the (id, rank_fp, rank) schema") {
    val edges = Seq.empty[(Long, Long)].toDF("s", "d")
    val out = PageRank.ranks(edges, "s", "d", iters = 3)
    assert(out.columns.toSeq === Seq("id", "rank_fp", "rank"))
    assert(out.schema.map(_.dataType.typeName) === Seq("long", "long", "double"))
    assert(out.count() === 0)
  }
}
