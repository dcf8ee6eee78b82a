package graft.ops

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class CommunitiesSpec extends SparkSpec {

  test("two triangles joined by a bridge separate into two communities") {
    import spark.implicits._
    // triangle {1,2,3}, triangle {4,5,6}, bridge 3-4; hand-unrolled:
    // after 3 synchronous min-tie rounds {1,2,3}->1 and {4,5,6}->3
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("s", "d")
    val out = Communities.labelPropagation(edges, "s", "d", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L))
  }

  test("edge direction and duplicate edges do not change the result") {
    import spark.implicits._
    val base = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L)).toDF("s", "d")
    val noisy = Seq((2L, 1L), (1L, 2L), (3L, 2L), (1L, 3L), (3L, 1L),
      (5L, 4L), (4L, 5L), (4L, 5L)).toDF("s", "d")
    def run(df: org.apache.spark.sql.DataFrame) =
      Communities.labelPropagation(df, "s", "d", iters = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(base) === run(noisy))
  }

  test("identical labels under any partitioning (synchronous determinism)") {
    val o = Tables.orders(spark, sf("sf0.001"))
      .select(col("o_orderkey"), (col("o_custkey") * 2).as("src"))
    val l = Tables.lineitem(spark, sf("sf0.001"))
      .select(col("l_orderkey"), (col("l_suppkey") * 2 + 1).as("dst"))
    val edges = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select("src", "dst")
    def run(parts: Int) =
      Communities.labelPropagation(edges.repartition(parts), "src", "dst", iters = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = run(1)
    assert(a === run(7))
    assert(a.nonEmpty)
  }

  test("every node lands in a community led by some node id") {
    val o = Tables.orders(spark, sf("sf0.001"))
      .select(col("o_orderkey"), (col("o_custkey") * 2).as("src"))
    val l = Tables.lineitem(spark, sf("sf0.001"))
      .select(col("l_orderkey"), (col("l_suppkey") * 2 + 1).as("dst"))
    val edges = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select("src", "dst")
    val out = Communities.labelPropagation(edges, "src", "dst", iters = 3)
    val ids = out.select("id").collect().map(_.getLong(0)).toSet
    val lbls = out.select("community").collect().map(_.getLong(0)).toSet
    assert(lbls.subsetOf(ids), "labels must be node ids")
    assert(out.count() === ids.size.toLong, "one row per node")
  }

  test("equals the round-1-by-join reference for 1 to 4 rounds") {
    import spark.implicits._
    val o = Tables.orders(spark, sf("sf0.001"))
      .select(col("o_orderkey"), (col("o_custkey") * 2).as("src"))
    val l = Tables.lineitem(spark, sf("sf0.001"))
      .select(col("l_orderkey"), (col("l_suppkey") * 2 + 1).as("dst"))
    val orderFlow = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("src").as("s"), col("dst").as("d"))
    def g(es: (Option[Long], Option[Long])*) = es.toDF("s", "d")
    val graphs = Seq(
      "order flow" -> orderFlow,
      "two triangles" -> g(Some(1L) -> Some(2L), Some(2L) -> Some(3L), Some(1L) -> Some(3L),
        Some(4L) -> Some(5L), Some(5L) -> Some(6L), Some(4L) -> Some(6L), Some(3L) -> Some(4L)),
      "self-loop" -> g(Some(1L) -> Some(1L), Some(1L) -> Some(2L), Some(3L) -> Some(3L)),
      "duplicate and reversed" -> g(Some(1L) -> Some(2L), Some(2L) -> Some(1L),
        Some(1L) -> Some(2L), Some(2L) -> Some(3L), Some(3L) -> Some(2L), Some(4L) -> Some(3L)),
      "null endpoints" -> g(Some(1L) -> None, None -> Some(2L), Some(2L) -> Some(3L),
        None -> None, Some(4L) -> None, Some(3L) -> Some(1L)))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq.sortBy(_.toString)
    for ((name, edges) <- graphs; iters <- 1 to 4) {
      val got = rows(Communities.labelPropagation(edges, "s", "d", iters))
      val want = rows(LabelPropagationReference.labelPropagation(edges, "s", "d", iters))
      assert(got === want, s"$name, $iters rounds")
      assert(got.nonEmpty, s"$name, $iters rounds")
    }
  }
}
