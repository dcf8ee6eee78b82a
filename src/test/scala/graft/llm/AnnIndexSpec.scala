package graft.llm

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Build-once/probe-many contract: probing the persisted index with
  * the corpus's own query slice reproduces the monolithic operators
  * bit-exactly at equal planes/probes — including through a parquet
  * round-trip (what "persisted" actually means), so refreshing the
  * index on a schedule and probing per batch changes no returned row.
  */
class AnnIndexSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("topK probe equals monolithic lshTopK at equal planes (with and without probes)") {
    val emb = graft.Tables.embeddings(spark, sf())
    val planes = Similarity.md5Planes(64, 16, 6)
    val qp = col("id") % 40 === 0
    val queries = emb.filter(col("vec_id") % 40 === 0)
    val (buckets, vectors) = AnnIndex.build(emb, "vec_id", "embedding", planes)
    val probe = AnnIndex.topK(buckets, vectors, queries, "vec_id", "embedding",
      planes, k = 5)
    val mono = Similarity.lshTopK(emb, "vec_id", "embedding", qp, k = 5, planes)
    assert(rows(probe) === rows(mono))
    assert(rows(probe).nonEmpty)
    // multi-probe: flips are query-side, index untouched
    val finePlanes = Similarity.md5Planes(64, 16, 10)
    val (fb, fv) = AnnIndex.build(emb, "vec_id", "embedding", finePlanes)
    val probeP = AnnIndex.topK(fb, fv, queries, "vec_id", "embedding",
      finePlanes, k = 5, probes = 10)
    val monoP = Similarity.lshTopK(emb, "vec_id", "embedding", qp, k = 5,
      finePlanes, probes = 10)
    assert(rows(probeP) === rows(monoP))
  }

  test("hammingTopK probe equals the monolithic funnel, including the policy/probe parameters") {
    val emb = graft.Tables.embeddings(spark, sf())
    // the bits/groups the SCALE_DECADES_r6 occupancy policy gives for
    // this fixture: round(log2(500 / 20)) = 5 bits, and 16 groups below
    // the 10-bit anchor
    assert(emb.count() === 500)
    val bits = 5
    val planes = Similarity.md5Planes(64, 16, bits)
    val qp = col("id") % 40 === 0
    val queries = emb.filter(col("vec_id") % 40 === 0)
    val (buckets, vectors) = AnnIndex.buildHamming(emb, "vec_id", "embedding", planes)
    val probe = AnnIndex.hammingTopK(buckets, vectors, queries, "vec_id",
      "embedding", planes, k = 5, shortlist = 32, probes = bits)
    val mono = Similarity.hammingRerankBucketedTopK(emb, "vec_id", "embedding",
      qp, k = 5, planes, shortlist = 32, probes = bits)
    assert(rows(probe) === rows(mono))
    assert(rows(probe).nonEmpty)
  }

  test("a parquet round-trip of the index changes no returned row") {
    val emb = graft.Tables.embeddings(spark, sf())
    val planes = Similarity.md5Planes(64, 16, 6)
    val queries = emb.filter(col("vec_id") % 40 === 0)
    val (buckets, vectors) = AnnIndex.build(emb, "vec_id", "embedding", planes)
    val dir = Files.createTempDirectory("ann_idx").toFile.getAbsolutePath
    buckets.write.parquet(s"$dir/buckets")
    vectors.write.parquet(s"$dir/vectors")
    val live = AnnIndex.topK(buckets, vectors, queries, "vec_id", "embedding",
      planes, k = 5)
    val persisted = AnnIndex.topK(
      spark.read.parquet(s"$dir/buckets"), spark.read.parquet(s"$dir/vectors"),
      queries, "vec_id", "embedding", planes, k = 5)
    assert(rows(persisted) === rows(live))
  }

  test("ivfTopK probe equals the monolithic Lloyd+ivfTopK composition, incl. parquet round-trip") {
    val emb = graft.Tables.embeddings(spark, sf())
    val qp = col("id") % 40 === 0
    val queries = emb.filter(col("vec_id") % 40 === 0)
    val (vectors, cents, _) = AnnIndex.buildIvf(emb, "vec_id", "embedding",
      cells = 8, iters = 1)
    val probe = AnnIndex.ivfTopK(vectors, cents, queries, "vec_id", "embedding",
      k = 5, nprobe = 2)
    val cellsDf = Similarity.kmeansCells(emb, "vec_id", "embedding", 8, 1)
      .select(col("vec_id").as("__kid"), col("cell"))
    val mono = Similarity.ivfTopK(
      emb.join(cellsDf, col("vec_id") === col("__kid")).drop("__kid"),
      "vec_id", "embedding", "cell", qp, k = 5, dim = 64, nprobe = 2)
    assert(rows(probe) === rows(mono))
    assert(rows(probe).nonEmpty)
    val dir = Files.createTempDirectory("ivf_idx").toFile.getAbsolutePath
    vectors.write.parquet(s"$dir/vectors")
    cents.write.parquet(s"$dir/cents")
    val persisted = AnnIndex.ivfTopK(
      spark.read.parquet(s"$dir/vectors"), spark.read.parquet(s"$dir/cents"),
      queries, "vec_id", "embedding", k = 5, nprobe = 2)
    assert(rows(persisted) === rows(probe))
  }

  test("ivfAssign delta ingest == full rebuild at the same centroids; probes see the delta") {
    // build on the old 90%, assign the new 10% without retraining:
    // assignment must equal kmeansCells' own rule under the SAME
    // centroids, and a probe against (old ∪ delta) must surface an
    // exact-duplicate delta vector at cosine 1
    val emb = graft.Tables.embeddings(spark, sf())
    val split = Sampling.withSplit(emb, "vec_id", Seq("old" -> 0.9, "new" -> 0.1))
    val old = split.filter(col("split") === "old")
    val fresh = split.filter(col("split") === "new")
    val (vectors, cents, quant) = AnnIndex.buildIvf(old, "vec_id", "embedding",
      cells = 8, iters = 1)
    val delta = IvfAssignReference.ivfAssign(fresh, "vec_id", "embedding", quant)
    assert(delta.columns.toSeq === vectors.columns.toSeq)
    // rule equality: assigning the OLD corpus against the QUANTIZER
    // reproduces the index's own cell column exactly (against the
    // member-mean probe centroids it would NOT — that mismatch is the
    // reason buildIvf persists both tables)
    val reassigned = IvfAssignReference.ivfAssign(old, "vec_id", "embedding", quant)
      .select(col("corpus_id"), col("cell").as("re_cell"))
    val diff = vectors.join(reassigned, "corpus_id")
      .filter(col("cell") =!= col("re_cell")).count()
    assert(diff === 0, s"$diff old vectors assigned differently than the build")
    // probe the unioned index with an exact copy of a delta vector
    import spark.implicits._
    val copy = fresh.orderBy("vec_id").limit(1)
      .select(col("vec_id"), col("embedding")).collect()(0)
    val probeQ = Seq((900000L + copy.getLong(0), copy.getSeq[Float](1)))
      .toDF("vec_id", "embedding")
    // nprobe = all 8 cells: probe ranking (cosine to member-means) and
    // delta assignment (L2 to the quantizer) may legitimately disagree
    // about a boundary cell, so only the all-cells probe guarantees the
    // twin is searched — the k=1 result must then be the twin at cos 1
    val hit = AnnIndex.ivfTopK(vectors.union(delta), cents, probeQ,
      "vec_id", "embedding", k = 1, nprobe = 8).collect()
    assert(hit.length === 1 && hit(0).getLong(1) === copy.getLong(0))
    assert(math.abs(hit(0).getDouble(2) - 1.0) < 1e-12)
  }

  test("a (grp, bucket)-bucketed index table probes with NO index-side exchange") {
    // the scaladoc's 1000-executor claim, verified: writing the bucket
    // table bucketBy(grp, bucket) lets every probe's equi-join read the
    // index pre-partitioned — only the (small) query side shuffles
    val emb = graft.Tables.embeddings(spark, sf())
    val planes = Similarity.md5Planes(64, 16, 6)
    val queries = emb.filter(col("vec_id") % 40 === 0)
    val (buckets, vectors) = AnnIndex.build(emb, "vec_id", "embedding", planes)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the shuffle-join path so bucket co-location (not a
      // broadcast) is what eliminates the index-side exchange
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      buckets.write.mode("overwrite").format("parquet")
        .bucketBy(8, "grp", "bucket").sortBy("grp", "bucket").saveAsTable("aidx_buckets")
      val probe = AnnIndex.topK(spark.table("aidx_buckets"), vectors,
        queries, "vec_id", "embedding", planes, k = 5)
      probe.collect()
      // AQE prints Final + Initial plans — assert on the FINAL only
      val plan = probe.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(plan.contains("Bucketed: true"),
        s"index scan must be bucketed:\n${plan.take(3000)}")
      // the index side must NOT re-shuffle on (grp, bucket): every
      // hash-exchange on those keys in the plan belongs to the probe
      // side only, so there is at most one
      val gbExchanges = plan.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning") && l.contains("grp") &&
          l.contains("bucket"))
      assert(gbExchanges <= 1,
        s"index side re-shuffled on (grp, bucket) — $gbExchanges exchanges:\n${plan.take(3000)}")
      // and the rows are identical to the unbucketed probe
      val plain = AnnIndex.topK(buckets, vectors, queries, "vec_id",
        "embedding", planes, k = 5)
      assert(rows(probe) === rows(plain))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS aidx_buckets")
    }
  }

  test("ivfAssignStream (map-side argmin) is bit-equal to ivfAssign; ivfChurn reads 0 vs quantizer, the drift gap vs member-means") {
    val emb = graft.Tables.embeddings(spark, sf())
    val (vectors, cents, quant) = AnnIndex.buildIvf(emb, "vec_id", "embedding",
      cells = 8, iters = 1)
    // the stream-legal literal-argmin form must reproduce the batch
    // crossJoin+window form exactly: same dist fold, same tie rule
    val win = IvfAssignReference.ivfAssign(emb, "vec_id", "embedding", quant)
    val lit = AnnIndex.ivfAssignStream(emb, "vec_id", "embedding", quant)
    assert(lit.columns.toSeq === win.columns.toSeq)
    assert(rows(lit) === rows(win))
    // churn vs the TRAINING quantizer is zero by construction (stored
    // cells ARE its argmins)...
    val zero = AnnIndex.ivfChurn(vectors, quant).collect()(0)
    assert(zero.getLong(0) === emb.count())
    assert(zero.getLong(1) === 0L && zero.getDouble(2) === 0.0)
    // ...while churn vs the member-mean probe centroids is the
    // measured quantizer-drift gap (borderline vectors a single Lloyd
    // pass leaves astride two cells) — nonzero, but a small fraction
    val drift = AnnIndex.ivfChurn(vectors, cents).collect()(0)
    info(s"member-mean churn: ${drift.getLong(1)}/${drift.getLong(0)} = ${drift.getDouble(2)}")
    assert(drift.getLong(1) > 0L && drift.getDouble(2) < 0.5)
  }

  test("a corpus_id-bucketed vectors table reranks with NO vector-side exchange; nrm-carry buckets probe identically") {
    // the other half of the 1000-executor layout: the rerank's only
    // corpus-sized join (full vectors by candidate id) reads the
    // vectors table pre-partitioned — only the candidate side shuffles
    val emb = graft.Tables.embeddings(spark, sf())
    val planes = Similarity.md5Planes(64, 16, 6)
    val queries = emb.filter(col("vec_id") % 40 === 0)
    val (buckets, vectors) = AnnIndex.build(emb, "vec_id", "embedding", planes)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      vectors.write.mode("overwrite").format("parquet")
        .bucketBy(8, "corpus_id").sortBy("corpus_id").saveAsTable("aidx_vectors")
      val probe = AnnIndex.topK(buckets, spark.table("aidx_vectors"),
        queries, "vec_id", "embedding", planes, k = 5)
      probe.collect()
      val plan = probe.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(plan.contains("Bucketed: true"),
        s"vectors scan must be bucketed:\n${plan.take(3000)}")
      // every single-key id hash-exchange belongs to the candidate side
      // (the pair-keyed dedup exchange is a different shape); the
      // corpus-sized vectors never re-shuffle
      val nExchanges = plan.linesIterator.count(
        _.contains("Exchange hashpartitioning(neighbor_id"))
      assert(nExchanges <= 1,
        s"vectors side re-shuffled on id — $nExchanges exchanges:\n${plan.take(3000)}")
      val plain = AnnIndex.topK(buckets, vectors, queries, "vec_id",
        "embedding", planes, k = 5)
      assert(rows(probe) === rows(plain))
      // r8 ADVICE nrm-carry layout: widened bucket rows are accepted and
      // probe bit-identically (topK schema-sniffs the nrm column and
      // fetches v alone from the vectors table)
      val bktsNrm = buckets.join(
        vectors.select(col("corpus_id"), col("nrm")), "corpus_id")
      val carried = AnnIndex.topK(bktsNrm, vectors, queries, "vec_id",
        "embedding", planes, k = 5)
      assert(rows(carried) === rows(plain))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS aidx_vectors")
    }
  }

  test("full IVF lifecycle: build → probe → streamed drifted deltas → churn crosses 2x baseline → re-train restores it") {
    // the runnable closed-loop shape of ivfChurn's scaladoc contract
    // (r9 verdict #4): a user copies this end-to-end — persist the
    // index, probe it, ingest a drifted delta stream via
    // ivfAssignStream's exactly-once parquet append, watch the nightly
    // churn observation cross the re-train threshold, re-train with
    // buildIvf, and see the monitor read baseline again.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val emb = graft.Tables.embeddings(spark, sf())
      .select(col("vec_id"), col("embedding"))
    def memberMeans(v: org.apache.spark.sql.DataFrame) = Similarity.cellCentroids(
      v.select(col("corpus_id").as("id"), col("cell"), col("v")), dim = 64)

    // BUILD: persist the index pair as production would
    val dir = Files.createTempDirectory("graft_ivf_life").toString
    val (vectors, cents, quant) = AnnIndex.buildIvf(emb, "vec_id", "embedding",
      cells = 8, iters = 1)
    vectors.write.parquet(s"$dir/vectors")
    quant.write.parquet(s"$dir/quantizer")
    val v0 = spark.read.parquet(s"$dir/vectors")
    val q0 = spark.read.parquet(s"$dir/quantizer")
    // baseline = member-mean churn right after the build (the
    // borderline vectors a single Lloyd pass leaves astride two cells)
    val baseline = AnnIndex.ivfChurn(v0, memberMeans(v0)).collect()(0).getDouble(2)
    info(f"baseline churn after build: $baseline%.4f")

    // PROBE: the index serves before any delta
    assert(AnnIndex.ivfTopK(v0, cents,
      emb.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
      k = 5, nprobe = 2).count() > 0)

    // DELTA: the arrival distribution drifts hard — 3x the corpus mass
    // in negated and shifted positions (components are ~0.05 in this
    // corpus, so a 0.1 shift relocates the mass), streamed through the
    // map-side argmin into its own append-only delta table, which
    // unions with the build's vectors (scaladoc)
    val deltas = Seq[(Long, org.apache.spark.sql.Column => org.apache.spark.sql.Column)](
        (1000000L, x => -x), (2000000L, x => x + lit(0.1)), (3000000L, x => x - lit(0.1)))
      .flatMap { case (off, f) =>
        emb.select((col("vec_id") + off).as("id"),
            transform(Similarity.toDoubleVec(col("embedding")), f).as("emb"))
          .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
      }
    val mem = MemoryStream[(Long, Seq[Double])]
    mem.addData(deltas)
    val q = AnnIndex.ivfAssignStream(mem.toDF().toDF("id", "emb"),
        "id", "emb", q0)
      .writeStream.format("parquet")
      .option("path", s"$dir/deltas")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000); q.stop()
    val v1 = v0.union(spark.read.parquet(s"$dir/deltas"))
    assert(v1.count() === 4 * emb.count())

    // MONITOR: member means now sit between the old and drifted mass,
    // the frozen-quantizer assignments don't — churn crosses the
    // re-train-at-2x-baseline contract
    val churn = AnnIndex.ivfChurn(v1, memberMeans(v1)).collect()(0).getDouble(2)
    info(f"churn after drifted deltas: $churn%.4f (threshold ${2 * baseline}%.4f)")
    assert(churn > 2 * baseline,
      f"drifted deltas must trip the monitor: $churn%.4f <= ${2 * baseline}%.4f")

    // RE-TRAIN: rebuild on the full corpus; the monitor reads a fresh
    // single-Lloyd-pass baseline again, under the trip threshold
    val full = emb.select(col("vec_id"),
        Similarity.toDoubleVec(col("embedding")).as("embedding"))
      .union(deltas.toDF("vec_id", "embedding"))
    val (v2, _, _) = AnnIndex.buildIvf(full, "vec_id", "embedding",
      cells = 8, iters = 1)
    val after = AnnIndex.ivfChurn(v2, memberMeans(v2)).collect()(0).getDouble(2)
    info(f"churn after re-train: $after%.4f")
    assert(after < churn / 2, "re-training must collapse the churn")
    assert(after < 2 * baseline, "post-re-train churn must sit back under the trip threshold")
  }

  test("disjoint external queries probe the index (no self-exclusion interference)") {
    // external ids far outside the corpus id space: every corpus
    // vector is a legal neighbor, and an exact copy surfaces at
    // cosine 1 rank 1
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, sf())
    val planes = Similarity.md5Planes(64, 16, 6)
    val (buckets, vectors) = AnnIndex.build(emb, "vec_id", "embedding", planes)
    val copy = emb.orderBy("vec_id").limit(1)
      .select(col("vec_id"), col("embedding")).collect()(0)
    val queries = Seq((1000000L + copy.getLong(0), copy.getSeq[Float](1)))
      .toDF("vec_id", "embedding")
    val out = AnnIndex.topK(buckets, vectors, queries, "vec_id", "embedding",
      planes, k = 3).collect()
    assert(out.nonEmpty)
    val top = out.minBy(_.getInt(3))
    assert(top.getLong(1) === copy.getLong(0))
    assert(math.abs(top.getDouble(2) - 1.0) < 1e-12)
  }
}
