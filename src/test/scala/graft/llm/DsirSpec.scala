package graft.llm

import java.security.MessageDigest

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class DsirSpec extends SparkSpec {

  /** Independent h32: JDK MessageDigest md5, NOT Spark's expression —
    * exercises the full hashing chain from the other side.
    */
  private def jh32(s: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
  }

  private def lnMicro(p: Double): Long =
    math.floor(math.log(p) * 1e6 + 0.5).toLong

  /** Driver-side reference DSIR weights over a token-list corpus. */
  private def refWeights(docs: Seq[(Long, String)], target: Set[Long],
                         buckets: Int): Map[Long, (Long, Long)] = {
    def feats(text: String): Seq[Long] = {
      val ws = text.trim.toLowerCase.split("\\s+").toSeq
      ws.map(w => jh32(s"u:$w") % buckets) ++
        ws.zip(ws.drop(1)).map { case (a, b) => jh32(s"b:$a $b") % buckets }
    }
    val perDoc = docs.map { case (id, t) =>
      id -> feats(t).groupBy(identity).map { case (b, xs) => b -> xs.size.toLong } }
    val raw = perDoc.flatMap(_._2).groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).sum }
    val tgt = perDoc.filter(kv => target(kv._1)).flatMap(_._2)
      .groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).sum }
    val nr = raw.values.sum; val nt = tgt.values.sum
    val model = raw.keys.map { b =>
      b -> (lnMicro((tgt.getOrElse(b, 0L) + 1).toDouble / (nt + buckets)) -
        lnMicro((raw(b) + 1).toDouble / (nr + buckets)))
    }.toMap
    perDoc.map { case (id, fs) =>
      id -> (fs.values.sum, fs.map { case (b, m) => m * model(b) }.sum)
    }.toMap
  }

  test("importance weights match an independent JDK-md5 recompute exactly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the log"),
      (3L, "cat cat dog mat"),
      (4L, "stock market prices fell sharply today"),
      (5L, "the cat and the dog sat"))
    val df = docs.toDF("doc_id", "text")
    val out = Dsir.importanceWeights(df, "doc_id", "text",
        col("doc_id") <= 2, buckets = 64).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_feats"), r.getAs[Long]("w_micro"))).toMap
    val ref = refWeights(docs, Set(1L, 2L), buckets = 64)
    assert(out === ref) // exact integer agreement, all five docs
  }

  test("weights separate target-like from non-target text on the documents table") {
    val docs = Tables.documents(spark, sf())
    val w = Dsir.importanceWeights(docs, "doc_id", "text",
      col("source").isin("src0", "src1"), buckets = 1024)
    val m = w.join(docs.select(col("doc_id"),
        col("source").isin("src0", "src1").as("tgt")), "doc_id")
      .groupBy("tgt").agg(avg("avg_w").as("mw"))
      .collect().map(r => r.getAs[Boolean]("tgt") -> r.getAs[Double]("mw")).toMap
    assert(m(true) > m(false),
      s"target docs must score higher under their own model: $m")
  }

  test("map-side literal-model scorer is bit-equal to the join scorer") {
    val docs = Tables.documents(spark, sf())
    val tgt = col("source").isin("src0", "src1")
    val model = Dsir.bucketModel(docs, "doc_id", "text", tgt, buckets = 1024)
      .collect().map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("lr_micro"))
      .toMap
    // Sentinel default: if scoring ever consulted it (a bucket missing
    // from the model on the training corpus itself), equality breaks.
    val mapSide = Dsir.scoreWith(docs, "doc_id", "text", model,
        defaultMicro = Long.MinValue / 4, buckets = 1024).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_feats"), r.getAs[Long]("w_micro"))).toMap
    val joined = Dsir.importanceWeightsShuffled(docs, "doc_id", "text", tgt,
        buckets = 1024).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_feats"), r.getAs[Long]("w_micro"))).toMap
    assert(mapSide === joined)
  }

  test("dense array-literal scorer is bit-equal to the map literal and the join form, zero exchanges") {
    val docs = Tables.documents(spark, sf())
    val tgt = col("source").isin("src0", "src1")
    val modelDf = Dsir.bucketModel(docs, "doc_id", "text", tgt, buckets = 1024)
      .localCheckpoint()
    val model = modelDf.collect()
      .map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("lr_micro")).toMap
    // poisoned default: consulted ⇒ equality breaks (same sentinel
    // discipline as the map-literal test)
    val lr = Dsir.denseModel(modelDf, 1024, defaultMicro = Long.MinValue / 4)
    assert(lr.size === 1024)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_feats"), r.getAs[Long]("w_micro"),
          r.getAs[Double]("avg_w"))).toMap
    val dense = Dsir.scoreDense(docs, "doc_id", "text", lr, 1024)
    assert(key(dense) === key(Dsir.scoreWith(docs, "doc_id", "text", model,
      defaultMicro = Long.MinValue / 4, buckets = 1024)))
    assert(key(dense) === key(
      Dsir.importanceWeightsShuffled(docs, "doc_id", "text", tgt, 1024)))
    val plan = dense.queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"), s"dense scorer must not shuffle:\n$plan")
  }

  test("production map-side weights are bit-equal to the shuffled reference form") {
    val docs = Tables.documents(spark, sf())
    val tgt = col("source").isin("src0", "src1")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_feats"), r.getAs[Long]("w_micro"),
          r.getAs[Double]("avg_w"))).toMap
    val prod = key(Dsir.importanceWeights(docs, "doc_id", "text", tgt, 1024))
    val ref = key(Dsir.importanceWeightsShuffled(docs, "doc_id", "text", tgt, 1024))
    assert(prod === ref)
  }

  test("above the dense-model bucket ceiling, weights route to the broadcast-join form") {
    // r11: the dense UnsafeArrayData literal is measured flat to 1M
    // buckets (NOTES_r11 / SCALE_DECADES_r11), so the dispatch ceiling moved from
    // the janino map-literal bound (2048) to the measured dense width
    // (DenseModelMaxBuckets = 1M). Past it the plan must carry the
    // model as a join, not a literal; at DSIR's production 10k — the
    // width r7 routed to the join — it now stays a joinless dense
    // projection, and values must agree with the explicit shuffled
    // call at both widths.
    val docs = Tables.documents(spark, sf())
    val tgt = col("source").isin("src0", "src1")
    val buckets = Dsir.DenseModelMaxBuckets * 2
    val routed = Dsir.importanceWeights(docs, "doc_id", "text", tgt, buckets)
    assert(routed.queryExecution.sparkPlan.toString.contains("Join"),
      "above the ceiling the scoring path must be the broadcast join")
    for (b <- Seq(1024, 10000)) {
      val under = Dsir.importanceWeights(docs, "doc_id", "text", tgt, b)
      assert(!under.queryExecution.sparkPlan.toString.contains("Join"),
        s"at or under the ceiling (B=$b) the literal-model projection stays joinless")
      def key(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_feats"), r.getAs[Long]("w_micro"))).toMap
      assert(key(under) ===
        key(Dsir.importanceWeightsShuffled(docs, "doc_id", "text", tgt, b)))
    }
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_feats"), r.getAs[Long]("w_micro"))).toMap
    assert(key(routed) ===
      key(Dsir.importanceWeightsShuffled(docs, "doc_id", "text", tgt, buckets)))
  }

  test("streaming arrivals score identically to batch — stateless, model as literal") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sf())
    val model = Dsir.bucketModel(docs, "doc_id", "text",
        col("source").isin("src0", "src1"), buckets = 1024)
      .collect().map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("lr_micro"))
      .toMap
    val arrivals = docs.select("doc_id", "text").orderBy("doc_id").limit(6)
      .collect().map(r => (r.getAs[Long](0), r.getAs[String](1))).toSeq

    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val sdf = mem.toDF().toDF("doc_id", "text")
    val out = Dsir.scoreWith(sdf, "doc_id", "text", model,
      defaultMicro = 0L, buckets = 1024)
    val q = out.writeStream.format("memory").queryName("dsir_stream").start()
    try {
      mem.addData(arrivals.take(3)); q.processAllAvailable()
      mem.addData(arrivals.drop(3)); q.processAllAvailable()
      assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally q.stop()
    val streamed = spark.table("dsir_stream").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("w_micro")).toMap
    val batch = Dsir.scoreWith(
        docs.select("doc_id", "text").orderBy("doc_id").limit(6),
        "doc_id", "text", model, defaultMicro = 0L, buckets = 1024).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("w_micro")).toMap
    assert(streamed === batch && streamed.size === 6)
  }

  test("gumbel top-k resample equals the driver-side sort of the scored corpus") {
    val docs = Tables.documents(spark, sf())
    val k = 50
    val out = Dsir.resample(docs, "doc_id", "text",
      col("source").isin("src0", "src1"), buckets = 1024, k = k).collect()
    assert(out.length === k)
    assert(out.map(_.getAs[Int]("rank")).toSeq === (1 to k))

    // Reference: weights (already verified exactly above) + JDK-side
    // gumbel, full sort, take k.
    val w = Dsir.importanceWeights(docs, "doc_id", "text",
        col("source").isin("src0", "src1"), buckets = 1024).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("w_micro"))
    val scored = w.map { case (id, wm) =>
      val u = (jh32(s"dsir:$id") + 0.5) / 4294967296.0
      val g = math.floor(-math.log(-math.log(u)) * 1e6 + 0.5).toLong
      (id, wm + g)
    }
    val expect = scored.sortBy { case (id, s) => (-s, id) }.take(k).map(_._1).toSeq
    assert(out.map(_.getAs[Long]("doc_id")).toSeq === expect)
    // selection is weight-biased, not just noise: the chosen set's mean
    // weight exceeds the corpus mean
    val meanAll = w.map(_._2).sum.toDouble / w.length
    val chosen = out.map(_.getAs[Long]("w_micro"))
    assert(chosen.sum.toDouble / chosen.length > meanAll)
  }
}
