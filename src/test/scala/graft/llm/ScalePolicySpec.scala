package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the scale-policy anchor points to the measured decade arms in
  * SCALE_DECADES_r6.json and exercises the auto entry points
  * end-to-end on the sf0.001 embeddings table.
  */
class ScalePolicySpec extends SparkSpec {

  test("lshBitsFor reproduces the measured flat-time decade anchors") {
    assert(ScalePolicy.lshBitsFor(20000) == 10)  // sf1 arm 16:10:10
    assert(ScalePolicy.lshBitsFor(60000) == 12)  // sf3 arm 16:12:12
    assert(ScalePolicy.lshBitsFor(200000) == 13) // sf10 arm *:13:13
    // clamps: tiny corpora never go below 4 bits, huge never above 20
    assert(ScalePolicy.lshBitsFor(10) == 4)
    assert(ScalePolicy.lshBitsFor(Long.MaxValue) == 20)
  }

  test("lshBitsFor grows monotonically with corpus (occupancy held)") {
    val decades = Seq(2000L, 20000L, 200000L, 2000000L, 20000000L)
    val bits = decades.map(ScalePolicy.lshBitsFor(_))
    assert(bits == bits.sorted)
    // one decade = log2(10) ~ 3.3 bits; consecutive decades differ by 3 or 4
    bits.sliding(2).foreach { case Seq(a, b) => assert(b - a == 3 || b - a == 4) }
  }

  test("lshGroupsFor doubles per +3 bits beyond the 16x10 anchor") {
    assert(ScalePolicy.lshGroupsFor(10) == 16)
    assert(ScalePolicy.lshGroupsFor(12) == 32) // ceil(2/3)=1 doubling
    assert(ScalePolicy.lshGroupsFor(13) == 32) // the measured 200k recall arm
    assert(ScalePolicy.lshGroupsFor(16) == 64)
    assert(ScalePolicy.lshGroupsFor(6) == 16)  // never below base
  }

  test("blockBitsFor reproduces the measured knn decade anchors and floors at 0") {
    assert(ScalePolicy.blockBitsFor(20000, blocks = 10) == 3)  // sf1 b3 (log2(8) = 3)
    assert(ScalePolicy.blockBitsFor(60000, blocks = 10) == 5)  // sf3 b5 (ceil(log2(24)) = 5)
    assert(ScalePolicy.blockBitsFor(200000, blocks = 10) == 7) // sf10 b7 (ceil(log2(80)) = 7)
    assert(ScalePolicy.blockBitsFor(1000, blocks = 10) == 0)   // already bounded
  }

  test("lshTopKAuto returns the lshTopK schema and plausible neighbors") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = emb.count()
    val out = ScalePolicy.lshTopKAuto(emb, "vec_id", "embedding",
      col("vec_id") % 10 === 0, k = 3, corpus = n)
    assert(out.columns.toSeq == Seq("query_id", "neighbor_id", "cosine", "rank"))
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getInt(3) >= 1 && r.getInt(3) <= 3))
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
  }

  test("mipsTopKAuto returns the mips schema, k-bounded, with real lifted-bucket recall") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val n = emb.count()
    val out = ScalePolicy.mipsTopKAuto(emb, "vec_id", "embedding",
      col("id") % 40 === 0, k = 5, corpus = n)
    assert(out.columns.toSeq == Seq("query_id", "neighbor_id", "dot", "rank"))
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getInt(3) >= 1 && r.getInt(3) <= 5))
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.mipsTopK(emb, "vec_id", "embedding",
      col("id") % 40 === 0, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & got).size.toDouble / brute.size
    info(s"mipsTopKAuto recall@5 = $recall (derived knobs at corpus $n)")
    assert(recall > 0.4)
  }

  test("refinedBlockAuto: identity cast for bounded corpora, refined key above") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = emb.count()
    // sf0.001 has few rows per label: policy says no refinement
    val plain = emb.withColumn("blk",
      ScalePolicy.refinedBlockAuto(col("label"), col("embedding"), n, blocks = 10))
    assert(plain.filter(col("blk") =!= col("label").cast("string")).count() == 0)
    // forcing a large virtual corpus produces a strictly finer key
    val fine = emb.withColumn("blk",
      ScalePolicy.refinedBlockAuto(col("label"), col("embedding"),
        corpus = 1000000, blocks = 10))
    val coarse = plain.select(countDistinct("blk")).first().getLong(0)
    val refined = fine.select(countDistinct("blk")).first().getLong(0)
    assert(refined > coarse)
    // refined key still starts with the base block (prefix property)
    assert(fine.filter(!col("blk").startsWith(col("label").cast("string"))).count() == 0)
  }

  test("semanticCellsFor anchors: pinned-arm corpora map to the measured ks") {
    // sf0.1 bench corpus (2k vectors) at the default occupancy -> ~k=4;
    // sf1 (20k) -> 32 (the measured scale arm); LAION-440M at the
    // paper's k=50k implies occupancy ~8.8k (documented regime)
    assert(ScalePolicy.semanticCellsFor(2000) === 4)
    assert(ScalePolicy.semanticCellsFor(20000) === 32)
    assert(ScalePolicy.semanticCellsFor(100) === 2) // floor
    // occupancy stays bounded: cells * targetRows >= corpus
    for (n <- Seq(1000L, 50000L, 1000000L)) {
      val k = ScalePolicy.semanticCellsFor(n)
      assert(k.toLong * 640 >= n)
    }
  }

  test("label-family Autos equal the bucketed forms at the derived parameters") {
    val emb = graft.Tables.embeddings(spark, sf())
    val n = emb.count()
    val qp = col("id") % 40 === 0
    val bits = ScalePolicy.lshBitsFor(n)
    val planes = Similarity.md5Planes(64, ScalePolicy.lshGroupsFor(bits), bits)
    // collected-set equality (exceptAll trips a Catalyst
    // ATTRIBUTE_NOT_FOUND rebind on this window+dedup plan shape)
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    val autoNeg = ScalePolicy.hardNegativesAuto(emb, "vec_id", "embedding",
      "label", qp, k = 5, corpus = n)
    val manualNeg = Similarity.hardNegativesBucketed(emb, "vec_id", "embedding",
      "label", qp, k = 5, planes, probes = bits)
    assert(rows(autoNeg) === rows(manualNeg))
    val autoCls = ScalePolicy.knnClassifyAuto(emb, "vec_id", "embedding",
      "label", qp, k = 5, corpus = n)
    val manualCls = Similarity.knnClassifyBucketed(emb, "vec_id", "embedding",
      "label", qp, k = 5, planes, probes = bits)
    assert(rows(autoCls) === rows(manualCls))
    assert(rows(autoNeg).nonEmpty && rows(autoCls).nonEmpty)
  }

  test("ivfCellsFor anchors; ivfTopKAuto equals the pinned Lloyd+ivfTopK composition") {
    assert(ScalePolicy.ivfCellsFor(500) === 2)
    assert(ScalePolicy.ivfCellsFor(2000) === 8)    // the kmeans_cells pin
    assert(ScalePolicy.ivfCellsFor(20000) === 64)  // the ann_ivfpq_scaled pin
    assert(ScalePolicy.ivfCellsFor(200000) === 512)
    // occupancy stays within 2x of target either side (power-of-two rounding)
    for (n <- Seq(1000L, 50000L, 5000000L)) {
      val c = ScalePolicy.ivfCellsFor(n)
      assert(n.toDouble / c >= 320.0 / 2 || c == 2)
      assert(n.toDouble / c <= 320.0 * 2)
    }
    val emb = graft.Tables.embeddings(spark, sf())
    val n = emb.count()
    val qp = col("id") % 40 === 0
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    val auto = ScalePolicy.ivfTopKAuto(emb, "vec_id", "embedding", qp,
      k = 5, corpus = n)
    val cells = Similarity.kmeansCells(emb, "vec_id", "embedding",
        ScalePolicy.ivfCellsFor(n), iters = 1)
      .select(col("vec_id").as("__kid"), col("cell"))
    val manual = Similarity.ivfTopK(
      emb.join(cells, col("vec_id") === col("__kid")).drop("__kid"),
      "vec_id", "embedding", "cell", qp, k = 5, dim = 64, nprobe = 4)
    assert(rows(auto) === rows(manual))
    assert(rows(auto).nonEmpty)
  }

  test("hammingRerankAuto equals the bucketed funnel at the derived parameters") {
    // r7 finding (SCALE_DECADES_r7 hamming_arm_decades): the pinned
    // 16×6 funnel LOSES to a flat popcount scan at 200k while policy
    // planes win 4.1× — so the Auto must hand the funnel exactly the
    // occupancy-constant planes + Hamming-1 probes the law derives.
    val emb = graft.Tables.embeddings(spark, sf())
    val n = emb.count()
    val qp = col("id") % 40 === 0
    val bits = ScalePolicy.lshBitsFor(n)
    val planes = Similarity.md5Planes(64, ScalePolicy.lshGroupsFor(bits), bits)
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    val auto = ScalePolicy.hammingRerankAuto(emb, "vec_id", "embedding",
      qp, k = 5, corpus = n)
    val manual = Similarity.hammingRerankBucketedTopK(emb, "vec_id", "embedding",
      qp, k = 5, planes, shortlist = ScalePolicy.HammingShortlist,
      probes = ScalePolicy.hammingProbesFor(bits))
    assert(rows(auto) === rows(manual))
    // the measured knob laws themselves (NOTES_r8 sweep anchors)
    assert(ScalePolicy.hammingProbesFor(13) === 4)
    assert(ScalePolicy.hammingProbesFor(3) === 3)
    assert(ScalePolicy.HammingShortlist === 256)
    assert(rows(auto).nonEmpty)
    assert(auto.columns.toSeq ===
      Seq("query_id", "neighbor_id", "hamming", "cosine", "rank"))
  }

  test("shortlistFor: the measured recall law picks the smallest sufficient width; past-ceiling targets are refused") {
    // anchors = MIN recall across the 20k/60k/200k decades (r9 sweep,
    // SCALE_DECADES_r9): 64→0.147, 128→0.223, 256→0.301, 512→0.374,
    // 1024→0.423, 2048→0.440 — log-linear ~+0.07/doubling through 512,
    // saturating at the GENERATE stage's candidate-recall ceiling
    assert(ScalePolicy.shortlistFor(0.10) === 64)
    assert(ScalePolicy.shortlistFor(0.147) === 64)
    assert(ScalePolicy.shortlistFor(0.15) === 128)
    assert(ScalePolicy.shortlistFor(0.30) === 256)
    assert(ScalePolicy.shortlistFor(0.35) === 512)
    assert(ScalePolicy.shortlistFor(0.40) === 1024)
    assert(ScalePolicy.shortlistFor(0.44) === 2048)
    // 0.5+ recall is NOT purchasable with this knob — the refusal names
    // the ceiling instead of silently under-delivering
    val ex = intercept[IllegalArgumentException](ScalePolicy.shortlistFor(0.5))
    assert(ex.getMessage.contains("ceiling"))
    // the anchors are monotone in width (a law, not noise)
    assert(ScalePolicy.ShortlistRecall.map(_._2) ===
      ScalePolicy.ShortlistRecall.map(_._2).sorted)
    // provably conservative: the promised anchor at each width is the
    // MIN-envelope of the per-corpus measurements — every measured
    // corpus meets or exceeds it, so a returned width can over-deliver
    // but never under-deliver on a measured corpus
    ScalePolicy.ShortlistRecall.foreach { case (w, promised) =>
      val perCorpus = ScalePolicy.ShortlistRecallByCorpus.map {
        case (corpus, anchors) => corpus -> anchors.toMap.apply(w) }
      assert(promised === perCorpus.values.min, s"width $w not the min-envelope")
      perCorpus.foreach { case (corpus, measured) =>
        assert(measured >= promised, s"corpus $corpus under-delivers at width $w") }
    }
    // hammingRerankAuto threads a recall target through to the funnel:
    // equal to the manual call at the derived shortlist
    val emb = graft.Tables.embeddings(spark, sf())
    val n = emb.count()
    val qp = col("id") % 40 === 0
    val bits = ScalePolicy.lshBitsFor(n)
    val planes = Similarity.md5Planes(64, ScalePolicy.lshGroupsFor(bits), bits)
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    val auto = ScalePolicy.hammingRerankAuto(emb, "vec_id", "embedding",
      qp, k = 5, corpus = n, targetRecall = Some(0.37))
    val manual = Similarity.hammingRerankBucketedTopK(emb, "vec_id", "embedding",
      qp, k = 5, planes, shortlist = 512,
      probes = ScalePolicy.hammingProbesFor(bits))
    assert(rows(auto) === rows(manual))
  }

  test("semanticDedupAuto verdicts match semanticDedup at the derived k") {
    val emb = graft.Tables.embeddings(spark, sf())
    val n = emb.count()
    val auto = ScalePolicy.semanticDedupAuto(emb, "vec_id", "embedding",
      corpus = n, tau = 0.35)
    val manual = SemDedup.semanticDedup(emb, "vec_id", "embedding",
      ScalePolicy.semanticCellsFor(n), iters = 1, tau = 0.35)
    assert(auto.exceptAll(manual).count() === 0)
    assert(manual.exceptAll(auto).count() === 0)
    assert(auto.count() === n)
  }
}
