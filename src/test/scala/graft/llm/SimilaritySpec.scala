package graft.llm

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class SimilaritySpec extends SparkSpec {

  test("brute-force topk: k rows per query, cosine in [-1,1], self excluded") {
    val out = Similarity.bruteTopK(Tables.embeddings(spark, sf("sf0.01")),
      "vec_id", "embedding", col("id") % 40 === 0, k = 5).cache()
    val perQuery = out.groupBy("query_id").count().collect()
    assert(perQuery.forall(_.getLong(1) === 5L))
    assert(out.filter(col("cosine") > 1.0001 || col("cosine") < -1.0001).count() === 0)
    assert(out.filter(col("query_id") === col("neighbor_id")).count() === 0)
  }

  test("refineBlock is a deterministic refinement of the label partition") {
    val emb = Tables.embeddings(spark, sf("sf0.01"))
    val blk = Similarity.refineBlock(col("label"), col("embedding"), bits = 3)
    val rows = emb.withColumn("blk", blk).select("label", "blk").distinct().collect()
    // every refined block lives inside exactly one label block
    assert(rows.map(_.getString(1)).distinct.length === rows.length)
    assert(rows.forall(r => r.getString(1).startsWith(s"${r.getInt(0)}:")))
    // and the refinement is real: more blocks than labels
    assert(rows.length > rows.map(_.getInt(0)).distinct.length)
    // determinism: a second evaluation produces the identical mapping
    val again = emb.withColumn("blk", blk).select("label", "blk").distinct().collect()
    assert(again.map(r => (r.getInt(0), r.getString(1))).toSet ===
      rows.map(r => (r.getInt(0), r.getString(1))).toSet)
  }

  test("multi-probe recall dominates plain lsh on the same planes") {
    val emb = Tables.embeddings(spark, sf("sf0.01"))
    val planes = Similarity.md5Planes(dim = 64, groups = 16, bitsPerGroup = 10)
    def pairs(probes: Int) = Similarity.lshTopK(emb, "vec_id", "embedding",
      col("id") % 40 === 0, k = 5, planes, probes)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.bruteTopK(emb, "vec_id", "embedding",
      col("id") % 40 === 0, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = pairs(0)
    val probed = pairs(10)
    val rPlain = (brute & plain).size.toDouble / brute.size
    val rProbed = (brute & probed).size.toDouble / brute.size
    info(s"recall@5 plain=$rPlain probed=$rProbed")
    // probing only ADDS candidate buckets, so recall can't go down —
    // this dominance is the invariant; the improvement MARGIN depends on
    // the synthetic embedding geometry (testdata can regenerate
    // mid-round), so it's logged, not asserted
    assert(rProbed >= rPlain)
    info(f"multi-probe recall margin = ${rProbed - rPlain}%.3f")
  }

  test("lsh topk recall vs brute force") {
    val emb = Tables.embeddings(spark, sf("sf0.01"))
    val brute = Similarity.bruteTopK(emb, "vec_id", "embedding",
      col("id") % 40 === 0, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(emb, "vec_id", "embedding",
      col("id") % 40 === 0, k = 5,
      Similarity.md5Planes(dim = 64, groups = 16, bitsPerGroup = 6))
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    info(s"recall@5 = $recall (${lsh.size} approx rows, ${brute.size} exact)")
    assert(recall > 0.5) // approximate method, md5-derived → deterministic bound
  }

  test("mips topk: k rows per query, self excluded, order is by raw dot not cosine") {
    val emb = Tables.embeddings(spark, sf("sf0.01"))
    val out = Similarity.mipsTopK(emb, "vec_id", "embedding",
      col("id") % 40 === 0, k = 5).cache()
    val perQuery = out.groupBy("query_id").count().collect()
    assert(perQuery.forall(_.getLong(1) === 5L))
    assert(out.filter(col("query_id") === col("neighbor_id")).count() === 0)
    // the raw-dot objective is real: where MIPS and cosine pick
    // different neighbor SETS, the difference is exactly the item-norm
    // term cosine erases. Logged, not asserted (geometry-dependent).
    val cos = Similarity.bruteTopK(emb, "vec_id", "embedding",
      col("id") % 40 === 0, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mips = out.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    info(f"mips∩cosine overlap = ${(mips & cos).size.toDouble / mips.size}%.3f")
  }

  test("mips lsh recall vs brute mips, and determinism") {
    val emb = Tables.embeddings(spark, sf("sf0.01"))
    val brute = Similarity.mipsTopK(emb, "vec_id", "embedding",
      col("id") % 40 === 0, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planes = Similarity.md5Planes(dim = 65, groups = 16, bitsPerGroup = 6)
    def run() = Similarity.mipsLshTopK(emb, "vec_id", "embedding",
      col("id") % 40 === 0, k = 5, planes)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = run()
    val recall = (brute & approx).size.toDouble / brute.size
    info(s"mips lsh recall@5 = $recall (${approx.size} approx rows, ${brute.size} exact)")
    assert(recall > 0.5) // lifted-bucket approximation, md5-derived → deterministic bound
    assert(run() === approx) // md5 planes + max-norm lift: fully deterministic
  }

  test("mips multi-probe recall dominates plain lifted lsh on the same planes") {
    val emb = Tables.embeddings(spark, sf("sf0.01"))
    val planes = Similarity.md5Planes(dim = 65, groups = 16, bitsPerGroup = 10)
    def pairs(probes: Int) = Similarity.mipsLshTopK(emb, "vec_id", "embedding",
      col("id") % 40 === 0, k = 5, planes, probes)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.mipsTopK(emb, "vec_id", "embedding",
      col("id") % 40 === 0, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = pairs(0); val probed = pairs(10)
    val rPlain = (brute & plain).size.toDouble / brute.size
    val rProbed = (brute & probed).size.toDouble / brute.size
    info(s"mips recall@5 plain=$rPlain probed=$rProbed")
    // probing only ADDS lifted buckets — dominance is the invariant;
    // the margin is geometry-dependent (logged, not asserted)
    assert(rProbed >= rPlain)
  }

  test("ivf multi-probe recall dominates single-probe recall") {
    val emb = Tables.embeddings(spark, sf("sf0.01"))
    val brute = Similarity.bruteTopK(emb, "vec_id", "embedding",
      col("id") % 40 === 0, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def ivf(np: Int) = Similarity.ivfTopK(emb, "vec_id", "embedding", "label",
      col("id") % 40 === 0, k = 5, dim = 64, nprobe = np)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val r1 = (brute & ivf(1)).size.toDouble / brute.size
    val r2 = (brute & ivf(2)).size.toDouble / brute.size
    info(s"ivf recall@5: nprobe=1 $r1, nprobe=2 $r2")
    assert(r2 >= r1) // probing more cells can only add candidates
    // label cells are coarse similarity proxies on this synthetic set:
    // measured (deterministic) recall is 0.123 → 0.292; the knob more
    // than doubles recall at 2× probe cost
    assert(r2 >= 2 * r1 * 0.9 && r2 > 0.25)
  }

  test("kmeans: inertia is non-increasing across Lloyd iterations, cells well-formed") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    def inertia(iters: Int): (Double, Long, Set[Int]) = {
      val a = Similarity.kmeansCells(emb, "vec_id", "embedding", k = 8, iters = iters)
        .cache()
      val s = a.agg(sum("dist")).head().getDouble(0)
      val n = a.count()
      val cells = a.select("cell").distinct().collect().map(_.getInt(0)).toSet
      a.unpersist()
      (s, n, cells)
    }
    val (i0, n0, c0) = inertia(0)
    val (i1, n1, _) = inertia(1)
    val (i2, n2, _) = inertia(2)
    info(f"inertia: init $i0%.3f -> 1 iter $i1%.3f -> 2 iters $i2%.3f")
    assert(n0 === emb.count() && n1 === n0 && n2 === n0) // every vector assigned once
    assert(c0.subsetOf((0 until 8).toSet))
    assert(i1 <= i0 && i2 <= i1) // Lloyd monotonicity
    assert(i1 < i0 * 0.999)      // and the first update actually moves
  }

  test("kmeans cells drive ivfTopK (index construction composes with search)") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val cells = Similarity.kmeansCells(emb, "vec_id", "embedding", k = 8, iters = 1)
      .select(col("vec_id").as("cid"), col("cell"))
    val indexed = emb.join(cells, emb("vec_id") === cells("cid")).drop("cid")
    val out = Similarity.ivfTopK(indexed, "vec_id", "embedding", "cell",
      col("id") % 40 === 0, k = 5, dim = 64)
    val perQuery = out.groupBy("query_id").count().collect()
    assert(perQuery.nonEmpty && perQuery.forall(_.getLong(1) === 5L))
  }

  test("int8 quantization: codes integral in [-127,127], high recall vs exact") {
    val emb = Tables.embeddings(spark, sf("sf0.01"))
    val q = Similarity.quantizeInt8(emb, "vec_id", "embedding").cache()
    // every code is an integral double within the int8 range
    val bad = q.select(explode(col("qvec")).as("c"))
      .filter(col("c") =!= floor(col("c")) || abs(col("c")) > 127).count()
    assert(bad === 0)
    // each vector's max |code| is exactly 127 (symmetric scaling hits
    // the extreme point by construction)
    val notSaturated = q.select(array_max(transform(col("qvec"),
      c => abs(c))).as("mx")).filter(col("mx") =!= 127.0).count()
    assert(notSaturated === 0)
    val brute = Similarity.bruteTopK(emb, "vec_id", "embedding",
      col("id") % 40 === 0, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Similarity.bruteTopK(q, "vec_id", "qvec",
      col("id") % 40 === 0, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & quant).size.toDouble / brute.size
    info(s"int8 recall@5 = $recall")
    assert(recall > 0.8) // 8-bit codes barely move a 64-dim cosine ranking
    q.unpersist()
  }

  test("hardNegatives excludes same-label vectors; knnClassify recovers clustered labels") {
    import spark.implicits._
    // two tight clusters: label 0 near x-axis, label 1 near z-axis;
    // query 100 (label 0) sits inside cluster 0
    val vecs = Seq(
      (100L, Seq(1.0f, 0.05f, 0.0f), 0),
      (1L, Seq(1.0f, 0.0f, 0.0f), 0),
      (2L, Seq(0.95f, 0.1f, 0.0f), 0),
      (3L, Seq(0.9f, 0.0f, 0.1f), 0),
      (4L, Seq(0.0f, 0.0f, 1.0f), 1),
      (5L, Seq(0.1f, 0.0f, 0.95f), 1),
      (6L, Seq(0.0f, 0.1f, 0.9f), 1)
    ).toDF("vec_id", "embedding", "label")
    val qp = col("id") === 100L
    val neg = Similarity.hardNegatives(vecs, "vec_id", "embedding", "label", qp, k = 2)
      .collect()
    assert(neg.length == 2)
    assert(neg.forall(r => Set(4L, 5L, 6L).contains(r.getLong(1)))) // only label-1
    // 5 is the closest label-1 vector to the x-axis query
    assert(neg.minBy(_.getInt(3)).getLong(1) == 5L)

    val cls = Similarity.knnClassify(vecs, "vec_id", "embedding", "label", qp, k = 3)
      .collect()
    assert(cls.length == 1)
    val r = cls(0)
    assert(r.getLong(0) == 100L && r.getInt(1) == 0 &&
      r.getLong(2) == 3L && r.getBoolean(4)) // 3 of 3 votes from cluster 0
  }

  test("bucketed label arms: different-label invariant, k bound, agreement with exact") {
    val emb = Tables.embeddings(spark, sf("sf0.01"))
    val planes = Similarity.md5Planes(dim = 64, groups = 16, bitsPerGroup = 6)
    val qp = col("id") % 40 === 0
    val lbl = emb.select(col("vec_id"), col("label"))

    val neg = Similarity.hardNegativesBucketed(emb, "vec_id", "embedding",
      "label", qp, k = 5, planes).cache()
    // every returned neighbor carries a DIFFERENT label than its query
    val labeled = neg
      .join(lbl.toDF("query_id", "qlbl"), "query_id")
      .join(lbl.toDF("neighbor_id", "nlbl"), "neighbor_id")
    assert(labeled.filter(col("qlbl") === col("nlbl")).count() === 0)
    // at most k per query, ranks contiguous from 1
    val perQ = neg.groupBy("query_id")
      .agg(count(lit(1)).as("n"), max("rank").as("mx"), min("rank").as("mn"))
    assert(perQ.filter(col("n") > 5 || col("mx") =!= col("n") || col("mn") =!= 1)
      .count() === 0)
    // recall vs the exact all-pairs form — logged; hard negatives are
    // different-label NEAR vectors, so on clustered geometry they are
    // exactly the pairs LSH keeps co-bucketed (deterministic md5 planes)
    val exact = Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
      qp, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = neg.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"hard-negative bucketed recall@5 = $recall")
    assert(recall > 0.3)
    neg.unpersist()
    // Hamming-1 probing only ADDS candidate buckets → recall can't drop
    // (the lshTopK dominance invariant, label-arm edition)
    val probed = Similarity.hardNegativesBucketed(emb, "vec_id", "embedding",
        "label", qp, k = 5, planes, probes = 6)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rProbed = (exact & probed).size.toDouble / exact.size
    info(s"hard-negative bucketed recall@5 with probes=6: $rProbed")
    assert(rProbed >= recall)

    val exactCls = Similarity.knnClassify(emb, "vec_id", "embedding", "label",
      qp, k = 5)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val cls = Similarity.knnClassifyBucketed(emb, "vec_id", "embedding",
      "label", qp, k = 5, planes).collect()
    // at most one verdict per query, every query also answered exactly,
    // and the correct flag is internally consistent
    assert(cls.map(_.getLong(0)).distinct.length === cls.length)
    assert(cls.forall(r => exactCls.contains(r.getLong(0))))
    assert(cls.forall(r => r.getBoolean(4) == (r.getInt(1) == r.getInt(3))))
    // agreement with the exact vote is LOGGED, not asserted, on the real
    // testdata: its labels are weak geometric proxies (the ivf test above
    // measures label-cell recall at 0.12–0.29), so a candidate set with
    // recall ~0.5 legitimately flips near-tied majority votes
    val agree = cls.count(r => exactCls(r.getLong(0)) == r.getInt(1))
    info(s"knn-classify bucketed vs exact agreement = $agree/${cls.length}")
  }

  test("bucketed label arms match exact forms on clustered geometry") {
    import spark.implicits._
    // 6 tight clusters, label = cluster id — here bucket candidates
    // contain every informative neighbor, so both arms must agree
    val r = new scala.util.Random(33)
    val centers = Seq.fill(6)(Seq.fill(64)(r.nextGaussian() * 8.0))
    val vecs = (0 until 120).map { i =>
      (i.toLong, centers(i % 6).map(x => (x + r.nextGaussian() * 0.4).toFloat),
        i % 6)
    }.toDF("vec_id", "embedding", "label")
    val planes = Similarity.md5Planes(dim = 64, groups = 16, bitsPerGroup = 4)
    val qp = col("id") < 6

    val exactNeg = Similarity.hardNegatives(vecs, "vec_id", "embedding",
      "label", qp, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val buckNeg = Similarity.hardNegativesBucketed(vecs, "vec_id", "embedding",
      "label", qp, k = 3, planes)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val negRecall = (exactNeg & buckNeg).size.toDouble / exactNeg.size
    info(s"clustered hard-negative recall@3 = $negRecall")
    assert(negRecall >= 0.8)

    val exactCls = Similarity.knnClassify(vecs, "vec_id", "embedding", "label",
      qp, k = 5).collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(4)))
    val buckCls = Similarity.knnClassifyBucketed(vecs, "vec_id", "embedding",
      "label", qp, k = 5, planes)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(4)))
    assert(exactCls.forall(_._3) && buckCls.forall(_._3)) // all classified right
    assert(buckCls.toSet === exactCls.toSet)
  }

  test("knnGraph: known answers within blocks, k bound, no self/cross-block edges") {
    import spark.implicits._
    val vecs = Seq(
      // block 0: three axis-ish vectors — 1's nearest is 2, then 3
      (1L, Seq(1.0f, 0.0f, 0.0f), 0),
      (2L, Seq(0.9f, 0.1f, 0.0f), 0),
      (3L, Seq(0.0f, 1.0f, 0.0f), 0),
      // block 1: an isolated pair
      (4L, Seq(0.0f, 0.0f, 1.0f), 1),
      (5L, Seq(0.0f, 0.1f, 0.9f), 1)
    ).toDF("vec_id", "embedding", "label")
    val edges = Similarity.knnGraph(vecs, "vec_id", "embedding", "label", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    val bySrc = edges.groupBy(_._1)
    assert(bySrc.values.forall(_.length <= 2))
    assert(bySrc(1L).sortBy(_._3).map(_._2).toSeq == Seq(2L, 3L))
    // block-1 nodes only see each other
    assert(bySrc(4L).map(_._2).toSeq == Seq(5L) && bySrc(5L).map(_._2).toSeq == Seq(4L))
    assert(edges.forall { case (s, d, _) => s != d })
  }

  test("rpRerankTopK: near-perfect recall on clustered geometry; exact score fidelity") {
    import spark.implicits._
    val r = new scala.util.Random(21)
    val centers = Seq.fill(6)(Seq.fill(64)(r.nextGaussian() * 8.0))
    val vecs = (0 until 120).map { i =>
      (i.toLong, centers(i % 6).map(x => (x + r.nextGaussian() * 0.5).toFloat))
    }.toDF("vec_id", "embedding")
    val pred = org.apache.spark.sql.functions.col("id") % 20 === 0
    val brute = Similarity.bruteTopK(vecs, "vec_id", "embedding", pred, k = 5)
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(2)))
    val rerank = Similarity.rpRerankTopK(vecs, "vec_id", "embedding", pred,
        k = 5, shortlist = 24)
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(2)))
    val bSet = brute.map(_._1).toSet
    val recall = rerank.map(_._1).count(bSet.contains).toDouble / brute.length
    info(f"clustered-geometry recall@5 at shortlist 24/120: $recall%.3f")
    assert(recall >= 0.9, s"recall $recall — JL shortlist missed cluster structure")
    // score fidelity: any returned pair's cosine is the EXACT brute
    // cosine (rerank never distorts scores, unlike PQ/LSH)
    val bMap = brute.toMap
    rerank.foreach { case (pair, c) =>
      if (bMap.contains(pair)) assert(bMap(pair) == c, s"cosine distorted for $pair")
    }
  }

  test("hammingRerankTopK: sign-sketch shortlist recovers clustered structure; exact scores; zero distance for twins") {
    import spark.implicits._
    val r = new scala.util.Random(27)
    val centers = Seq.fill(6)(Seq.fill(64)(r.nextGaussian() * 8.0))
    val vecs = (0 until 120).map { i =>
      (i.toLong, centers(i % 6).map(x => (x + r.nextGaussian() * 0.5).toFloat))
    }.toDF("vec_id", "embedding")
    val pred = org.apache.spark.sql.functions.col("id") % 20 === 0
    val brute = Similarity.bruteTopK(vecs, "vec_id", "embedding", pred, k = 5)
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(2)))
    val ham = Similarity.hammingRerankTopK(vecs, "vec_id", "embedding", pred,
        k = 5, shortlist = 24)
      .collect().map(x => ((x.getLong(0), x.getLong(1)),
        (x.getLong(2), x.getDouble(3))))
    val bSet = brute.map(_._1).toSet
    val recall = ham.map(_._1).count(bSet.contains).toDouble / brute.length
    info(f"clustered-geometry hamming recall@5 at shortlist 24/120: $recall%.3f")
    assert(recall >= 0.9, s"recall $recall — sign sketch missed cluster structure")
    // score fidelity: rerank cosines are the exact brute cosines
    val bMap = brute.toMap
    ham.foreach { case (pair, (_, c)) =>
      if (bMap.contains(pair)) assert(bMap(pair) == c, s"cosine distorted for $pair")
    }
    // hamming bounded by the sketch width; same-cluster pairs differ in
    // few bits (Charikar: P[bit] = theta/pi)
    assert(ham.forall { case (_, (h, _)) => h >= 0 && h <= 64 })
    // an exact duplicate vector has Hamming 0 to its twin and surfaces rank 1
    val withDup = vecs.union(Seq((999L,
      vecs.filter($"vec_id" === 0L).head.getSeq[Float](1))).toDF("vec_id", "embedding"))
    val dup = Similarity.hammingRerankTopK(withDup, "vec_id", "embedding",
        org.apache.spark.sql.functions.col("id") === 999L, k = 1, shortlist = 8)
      .collect()
    assert(dup.length == 1 && dup(0).getLong(1) == 0L && dup(0).getLong(2) == 0L
      && math.abs(dup(0).getDouble(3) - 1.0) < 1e-12)

    // real-data recall: logged + loose deterministic bound (md5 planes)
    val emb = graft.Tables.embeddings(spark, sf("sf0.01"))
    val qp = org.apache.spark.sql.functions.col("id") % 40 === 0
    val bReal = Similarity.bruteTopK(emb, "vec_id", "embedding", qp, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val hReal = Similarity.hammingRerankTopK(emb, "vec_id", "embedding", qp,
        k = 5, shortlist = 64)
      .select("query_id", "neighbor_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val rReal = (bReal & hReal).size.toDouble / bReal.size
    info(f"real-data hamming recall@5 at shortlist 64: $rReal%.3f")
    assert(rReal > 0.5)
  }

  test("hammingRerankBucketedTopK: bucket+sketch funnel recall on clustered geometry; exact scores") {
    import spark.implicits._
    val r = new scala.util.Random(29)
    val centers = Seq.fill(6)(Seq.fill(64)(r.nextGaussian() * 8.0))
    val vecs = (0 until 120).map { i =>
      (i.toLong, centers(i % 6).map(x => (x + r.nextGaussian() * 0.5).toFloat))
    }.toDF("vec_id", "embedding")
    val pred = org.apache.spark.sql.functions.col("id") % 20 === 0
    val brute = Similarity.bruteTopK(vecs, "vec_id", "embedding", pred, k = 5)
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(2)))
    val funnel = Similarity.hammingRerankBucketedTopK(vecs, "vec_id", "embedding",
        pred, k = 5, Similarity.md5Planes(64, 16, 4), shortlist = 24)
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(3)))
    val bSet = brute.map(_._1).toSet
    val recall = funnel.map(_._1).count(bSet.contains).toDouble / brute.length
    info(f"hamming-funnel recall@5 (16x4 buckets, shortlist 24): $recall%.3f")
    assert(recall >= 0.9)
    val bMap = brute.toMap
    funnel.foreach { case (pair, c) =>
      if (bMap.contains(pair)) assert(bMap(pair) == c, s"cosine distorted for $pair")
    }
    // funnel output is a subset-refinement of the flat hamming arm's
    // candidate space: both end in exact cosine, so any pair both
    // return carries the identical score
    val flat = Similarity.hammingRerankTopK(vecs, "vec_id", "embedding", pred,
        k = 5, shortlist = 24)
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(3))).toMap
    funnel.foreach { case (pair, c) =>
      if (flat.contains(pair)) assert(flat(pair) == c)
    }

    // Hamming-1 probing recovers recall that fine exact-match buckets
    // lose: with deliberately over-fine planes (4 groups × 7 bits on a
    // 120-row corpus — expected occupancy < 1) query-side probing can
    // only ADD candidates (flip masks include 0), and on this pinned
    // fixture it strictly recovers brute pairs the exact buckets miss.
    val finePlanes = Similarity.md5Planes(64, 4, 7)
    def recallAt(probes: Int): Double = {
      val got = Similarity.hammingRerankBucketedTopK(vecs, "vec_id",
          "embedding", pred, k = 5, finePlanes, shortlist = 24, probes = probes)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      got.count(bSet.contains).toDouble / brute.length
    }
    val r0 = recallAt(0)
    val r7p = recallAt(7)
    info(f"fine-bucket recall@5: probes=0 $r0%.3f, probes=7 $r7p%.3f")
    assert(r7p >= r0)
    assert(r7p > 0.5, s"probed recall $r7p — probing failed to recover structure")
  }

  test("rpRerankBucketedTopK: bucket-funneled recall on clustered geometry; exact scores") {
    import spark.implicits._
    val r = new scala.util.Random(22)
    val centers = Seq.fill(6)(Seq.fill(64)(r.nextGaussian() * 8.0))
    val vecs = (0 until 120).map { i =>
      (i.toLong, centers(i % 6).map(x => (x + r.nextGaussian() * 0.5).toFloat))
    }.toDF("vec_id", "embedding")
    val pred = org.apache.spark.sql.functions.col("id") % 20 === 0
    val brute = Similarity.bruteTopK(vecs, "vec_id", "embedding", pred, k = 5)
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(2)))
    val funnel = Similarity.rpRerankBucketedTopK(vecs, "vec_id", "embedding",
        pred, k = 5, Similarity.md5Planes(dim = 64, groups = 16, bitsPerGroup = 4),
        rpOutDim = 16, shortlist = 24)
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(2)))
    val bSet = brute.map(_._1).toSet
    val recall = funnel.map(_._1).count(bSet.contains).toDouble / brute.length
    info(f"bucket-funnel recall@5 (16x4 buckets, shortlist 24): $recall%.3f")
    assert(recall >= 0.85, s"recall $recall — bucket funnel missed cluster structure")
    // the funnel never distorts a returned score (exact final stage)
    val bMap = brute.toMap
    funnel.foreach { case (pair, c) =>
      if (bMap.contains(pair)) assert(bMap(pair) == c, s"cosine distorted for $pair")
    }
    // and its results never exceed the shortlist/bucket contract: each
    // query returns at most k rows, self excluded
    val byQ = funnel.groupBy(_._1._1)
    assert(byQ.values.forall(_.length <= 5))
    assert(funnel.forall { case ((q, n), _) => q != n })
  }
}
