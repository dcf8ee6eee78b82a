package graft.llm

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class DedupSpec extends SparkSpec {

  test("exact dedup groups duplicated normalized text") {
    import spark.implicits._
    val df = Seq(
      (1L, "Hello  World"),
      (2L, "hello world"),
      (3L, "other doc")
    ).toDF("doc_id", "text")
    val out = Dedup.exact(df, "doc_id", "text").collect()
    assert(out.length === 2)
    val grp = out.find(_.getAs[Long]("group_size") === 2L).get
    assert(grp.getAs[Long]("rep_id") === 1L)
  }

  test("minhash LSH finds all high-jaccard pairs it emits (no false positives)") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val out = Dedup.minHashNearDups(docs, "doc_id", "text", 16, 4, 0.85)
    // exact verify stage guarantees jaccard >= tau on every emitted pair
    assert(out.filter(col("jaccard") < 0.85).count() === 0)
    assert(out.filter(col("id_a") >= col("id_b")).count() === 0)
  }

  test("containment flags a subset document at 1.0 where jaccard stays lower") {
    import spark.implicits._
    val big = (1 to 20).map(i => s"tok$i").mkString(" ")
    val sub = (1 to 19).map(i => s"tok$i").mkString(" ") // strict subset
    val other = (100 to 119).map(i => s"tok$i").mkString(" ")
    val df = Seq((1L, big), (2L, sub), (3L, other)).toDF("doc_id", "text")
    val out = Dedup.minHashContainment(df, "doc_id", "text", 16, 4, tau = 0.9)
      .collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("id_a") === 1L && out.head.getAs[Long]("id_b") === 2L)
    assert(out.head.getAs[Double]("containment") === 1.0) // 19/min(20,19)
    // the symmetric measure on the same pair: 19/20 < 1 — containment
    // is the strictly-larger signal for subset shapes
    val jac = Dedup.minHashNearDups(df, "doc_id", "text", 16, 4, tau = 0.5).collect()
    assert(jac.head.getAs[Double]("jaccard") < 1.0)
  }

  test("connected components: chains collapse to min id, singletons self-represent") {
    import spark.implicits._
    // components: {1,2,3} (chain), {10,11}, {20} isolated
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("id")
    val out = ComponentsReference.connectedComponents(edges, "id_a", "id_b", nodes, "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("connected components: strict mode rejects partial convergence") {
    import spark.implicits._
    // a 5-node chain has diameter 4 > maxIter=1: labels still moving
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val e = intercept[IllegalStateException] {
      ComponentsReference.connectedComponents(edges, "id_a", "id_b", nodes, "id", maxIter = 1)
    }
    assert(e.getMessage.contains("maxIter"))
    // non-strict returns the partial labels instead of throwing
    val partial = ComponentsReference.connectedComponents(edges, "id_a", "id_b", nodes, "id",
      maxIter = 1, strict = false)
    assert(partial.count() === 5)
  }

  test("large-star/small-star CC: same labels as propagation on fixed shapes") {
    import spark.implicits._
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("id")
    val out = Dedup.connectedComponentsStar(edges, "id_a", "id_b", nodes, "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L))
    // a deep chain converges in O(log d) rounds — well under a budget
    // that propagation (O(d)) would blow
    val chain = (1L until 32L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val chainNodes = (1L to 32L).toDF("id")
    val starLabels = Dedup.connectedComponentsStar(chain, "id_a", "id_b",
      chainNodes, "id", maxIter = 8).collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(starLabels.forall(_._2 === 1L))
    intercept[IllegalStateException] {
      ComponentsReference.connectedComponents(chain, "id_a", "id_b", chainNodes, "id", maxIter = 8)
    }
  }

  test("large-star/small-star CC: label equality with propagation on random graphs") {
    import spark.implicits._
    // seeded random graphs across densities — equality is the contract
    // that makes the star variant a drop-in swap at scale
    (1 to 8).foreach { seed =>
      val rng = new scala.util.Random(seed)
      val n = 20 + rng.nextInt(40)
      val nEdges = rng.nextInt(2 * n)
      val edges = Seq.fill(nEdges)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val nodesDf = (0L until n.toLong).toDF("id")
      val edgesDf = edges.toDF("id_a", "id_b")
      val prop = ComponentsReference.connectedComponents(edgesDf, "id_a", "id_b", nodesDf, "id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val star = Dedup.connectedComponentsStar(edgesDf, "id_a", "id_b", nodesDf, "id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(star === prop, s"label mismatch at seed=$seed n=$n edges=$nEdges")
    }
  }

  test("minhash clusters: members share a representative, sizes consistent") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val pairs = Dedup.minHashNearDups(docs, "doc_id", "text", 16, 4, 0.85).collect()
    val clusters = Dedup.minHashClusters(docs, "doc_id", "text", 16, 4, 0.85)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(clusters.size === docs.count())
    // every emitted near-dup pair ends up in the same cluster
    pairs.foreach { p =>
      assert(clusters(p.getLong(0))._1 === clusters(p.getLong(1))._1)
    }
    // representative is a member of its own cluster with matching size
    val bySize = clusters.values.groupBy(identity).map { case ((rep, sz), v) => (rep, sz) -> v.size }
    bySize.foreach { case ((_, sz), n) => assert(sz === n) }
    assert(clusters.exists { case (_, (_, sz)) => sz > 1 }) // real dups exist
  }

  test("incremental minhash pairs == full pairs restricted to delta-touching (2 splits)") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf())
    val full = Dedup.minHashNearDups(docs, "doc_id", "text",
        numPerm = 16, bands = 4, tau = 0.85, maxBucket = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (frac <- Seq(0.1, 0.5)) {
      val marked = docs.withColumn("is_delta",
        graft.llm.Sampling.u01(col("doc_id"), "split") >= 1.0 - frac)
      val deltaIds = marked.filter(col("is_delta")).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      val inc = Dedup.minHashNearDupsIncremental(marked, "doc_id", "text",
          "is_delta", numPerm = 16, bands = 4, tau = 0.85, maxBucket = 64)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val expected = full.filter { case (a, b, _) =>
        deltaIds.contains(a) || deltaIds.contains(b)
      }
      assert(inc === expected, s"delta fraction $frac")
      assert(inc.size < full.size)
    }
  }

  test("simhash near-identical token sets have small hamming distance") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"), // 1 token differs
      (3L, "completely different words entirely unrelated content here now")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simHashNearDups(df, "doc_id", "text", maxDist = 20).collect()
    val close = pairs.find(r => r.getAs[Long]("id_a") === 1L && r.getAs[Long]("id_b") === 2L)
    assert(close.isDefined, "near-identical docs must be a candidate pair")
    assert(close.get.getAs[Int]("hamming") <= 12)
  }
}
