package graft.llm

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PqSpec extends SparkSpec {
  import spark.implicits._

  /** Seeded clustered corpus: 8 well-separated centers in 64-d, 10
    * points each, queries = one point per center.
    */
  private def corpus: Seq[(Long, Seq[Float])] = {
    val r = new Random(5)
    val centers = Seq.fill(8)(Seq.fill(64)(r.nextGaussian() * 10.0))
    (0 until 80).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + r.nextGaussian() * 0.5).toFloat))
    }
  }

  test("PQ recall: asymmetric-distance top-5 finds the exact-L2 neighbors on clustered data") {
    val df = corpus.toDF("vec_id", "embedding")
    val out = Pq.pqTopK(df, "vec_id", "embedding", col("id") % 10 === 0, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byQ = out.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }

    // exact L2 top-5 per query in plain Scala
    val vecs = corpus.map { case (id, v) => id -> v.map(_.toDouble) }.toMap
    def l2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val queries = corpus.map(_._1).filter(_ % 10 == 0)
    val recalls = queries.map { q =>
      val exact = vecs.keys.filter(_ != q).toSeq
        .sortBy(n => (l2(vecs(q), vecs(n)), n)).take(5).toSet
      byQ(q).intersect(exact).size / 5.0
    }
    val mean = recalls.sum / recalls.size
    // PQ keeps the coarse geometry but loses WITHIN-cell ordering by
    // construction (same codes => identical adist, id tie-break) —
    // the documented tradeoff that exact re-ranking on top of PQ
    // candidates repairs. On this seed: 0.6 — far above the 5/79
    // ≈ 0.06 random baseline, below the 1.0 an exact scan gets.
    assert(mean >= 0.5, s"mean PQ recall@5 = $mean")
    assert(mean > 0.3, s"PQ no better than chance: $mean")
  }

  test("ADC orders same-cluster before cross-cluster (quantization preserves the geometry)") {
    val df = corpus.toDF("vec_id", "embedding")
    val out = Pq.pqTopK(df, "vec_id", "embedding", col("id") % 10 === 0, k = 5)
      .collect()
    // query i*10 belongs to cluster (i*10 % 8); its top-5 live there too
    assert(out.forall(r => r.getLong(1) % 8 == r.getLong(0) % 8),
      "a top-5 neighbor crossed clusters — quantization broke the geometry")
  }

  test("deterministic under repartitioning (pinned seeds, folds, and tie-breaks)") {
    val df = corpus.toDF("vec_id", "embedding")
    val a = Pq.pqTopK(df, "vec_id", "embedding", col("id") % 10 === 0, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val b = Pq.pqTopK(df.repartition(7), "vec_id", "embedding",
        col("id") % 10 === 0, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(a == b)
  }

  test("IVF-PQ: same answers as the brute ADC scan when the probed cells cover the cluster") {
    val df = corpus.toDF("vec_id", "embedding")
    val brute = Pq.pqTopK(df, "vec_id", "embedding", col("id") % 10 === 0, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ivf = Pq.ivfPqTopK(df, "vec_id", "embedding", col("id") % 10 === 0, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // 8 well-separated clusters, 8 cells, nprobe=2: the query's own
    // cell is always probed, and the whole true top-5 lives there —
    // the gated scan must return the identical ranking (same adist
    // doubles: the ADC arithmetic is shared)
    assert(ivf == brute, s"IVF gating changed results:\n  only-brute=${brute -- ivf}\n  only-ivf=${ivf -- brute}")
  }

  test("IVF-PQ candidates are genuinely gated: neighbors come only from probed cells") {
    val df = corpus.toDF("vec_id", "embedding")
    val base = df.select(col("vec_id").cast("long").as("id"),
      Similarity.toDoubleVec(col("embedding")).as("v"))
    val cents = Similarity.lloydCentroids(base, "id", "v", k = 8, iters = 1)
    val cellOf = Similarity.assignCells(base, "id", "v", cents)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val probed = Similarity.probeCells(base.filter(col("id") % 10 === 0),
        "id", "v", cents, nprobe = 2)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getInt(1)).toSet }
    val out = Pq.ivfPqTopK(df, "vec_id", "embedding", col("id") % 10 === 0, k = 5)
      .collect()
    assert(out.nonEmpty)
    assert(out.forall(r => probed(r.getLong(0)).contains(cellOf(r.getLong(1)))),
      "a neighbor came from an unprobed cell")
  }

  test("adist is a true squared-distance surrogate: non-negative everywhere") {
    val df = corpus.toDF("vec_id", "embedding")
    val out = Pq.pqTopK(df, "vec_id", "embedding", col("id") % 10 === 0, k = 5)
    assert(out.collect().forall(_.getDouble(2) >= 0.0))
  }
}
