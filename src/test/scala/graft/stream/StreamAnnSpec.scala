package graft.stream

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.llm.{IvfAssignReference, Similarity}

/** Streaming ANN probe vs the persisted LSH index: streamed matches
  * must equal the batch run of the same operator on the same delta
  * (house invariant), emitted cosines must be the EXACT brute cosines
  * (never distorted — the index only gates candidates), an exact copy
  * of a corpus vector must be caught at cosine 1, and the distinct
  * variant must collapse cross-group multiplicity.
  */
class StreamAnnSpec extends SparkSpec {

  private val planes = Similarity.md5Planes(dim = 64, groups = 8, bitsPerGroup = 4)

  private def corpus() = graft.Tables.embeddings(spark, sf("sf0.001"))
    .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))

  test("streamed matches equal the batch run; cosines exact; copies caught") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val emb = corpus()
    val (buckets, vectors) = StreamAnn.bucketIndex(emb, "vec_id", "embedding", planes)
    val bucketsM = buckets.localCheckpoint()
    val vectorsM = vectors.localCheckpoint()
    val base = emb.orderBy("vec_id").limit(3).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    // delta: an exact copy of a corpus vector, a noised copy, a random
    val r = new scala.util.Random(7)
    val delta = Seq(
      (900000L, base(0)._2),
      (900001L, base(1)._2.map(x => x + r.nextGaussian().toFloat * 0.01f)),
      (900002L, Seq.fill(64)(r.nextGaussian().toFloat))
    )
    val mem = MemoryStream[(Long, Seq[Float])]
    val sdf = mem.toDF().toDF("id", "embedding")
    val out = StreamAnn.matches(sdf, bucketsM, vectorsM, "id", "embedding",
      planes, minCosine = 0.5)
    val q = out.writeStream.format("memory").queryName("ann_stream")
      .outputMode("append").start()
    try {
      mem.addData(delta.take(1)); q.processAllAvailable()
      mem.addData(delta.drop(1)); q.processAllAvailable()
      val streamed = spark.table("ann_stream").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getInt(2), x.getDouble(3))).toSet
      val batch = StreamAnn.matches(delta.toDF("id", "embedding"),
          bucketsM, vectorsM, "id", "embedding", planes, minCosine = 0.5)
        .collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getInt(2), x.getDouble(3))).toSet
      assert(streamed == batch)
      // the exact copy matches its source in EVERY group at cosine 1
      val copy = streamed.filter(t => t._1 == 900000L && t._2 == base(0)._1)
      assert(copy.size == planes.length, s"copy hit ${copy.size} of ${planes.length} groups")
      assert(copy.forall(_._4 > 0.999999))
      // emitted cosines are the exact pairwise cosines (no distortion):
      // recompute one pair brute-force
      def cos(a: Seq[Float], b: Seq[Float]): Double = {
        val (ad, bd) = (a.map(_.toDouble), b.map(_.toDouble))
        val dot = ad.zip(bd).map { case (x, y) => x * y }.foldLeft(0.0)(_ + _)
        dot / (math.sqrt(ad.map(x => x * x).foldLeft(0.0)(_ + _)) *
          math.sqrt(bd.map(x => x * x).foldLeft(0.0)(_ + _)))
      }
      val vecById = emb.collect().map(r2 => r2.getLong(0) -> r2.getSeq[Float](1)).toMap
      streamed.filter(_._1 == 900001L).take(3).foreach { case (_, cid, _, c) =>
        val expect = cos(delta(1)._2, vecById(cid))
        assert(math.abs(expect - c) < 1e-12, s"cosine drift: $c vs $expect")
      }
    } finally q.stop()
  }

  test("streaming IVF delta-ingest: parquet-appended rows are bit-equal to batch ivfAssign; the unioned index probes the delta") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.AnnIndex
    val emb = corpus()
    val (vectors, cents, quant) = AnnIndex.buildIvf(emb, "vec_id", "embedding",
      cells = 8, iters = 1)
    val vectorsM = vectors.localCheckpoint()
    val quantM = quant.localCheckpoint()
    val base = emb.orderBy("vec_id").limit(3).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val r = new scala.util.Random(11)
    val delta = Seq(
      (910000L, base(0)._2),
      (910001L, base(1)._2.map(x => x + r.nextGaussian().toFloat * 0.01f)),
      (910002L, Seq.fill(64)(r.nextGaussian().toFloat)))
    val work = java.nio.file.Files.createTempDirectory("ivf_ingest").toFile.getPath
    val mem = MemoryStream[(Long, Seq[Float])]
    // the documented deployment: a stateless projection through the
    // NATIVE parquet sink (exactly-once via the file-sink manifest)
    val q = AnnIndex.ivfAssignStream(
        mem.toDF().toDF("id", "embedding"), "id", "embedding", quantM)
      .writeStream.format("parquet")
      .option("path", s"$work/delta")
      .option("checkpointLocation", s"$work/ckpt")
      .outputMode("append").start()
    try {
      mem.addData(delta.take(1)); q.processAllAvailable()
      mem.addData(delta.drop(1)); q.processAllAvailable()
    } finally q.stop()
    val appended = spark.read.parquet(s"$work/delta")
    def sig(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getSeq[Double](2), x.getDouble(3)))
      .sortBy(_._1).toSeq
    val batch = IvfAssignReference.ivfAssign(delta.toDF("id", "embedding"),
      "id", "embedding", quantM)
    assert(sig(appended) === sig(batch),
      "stream-appended rows must be bit-equal to the batch assignment")
    // the union of (build vectors, appended delta) serves probes that
    // surface the streamed exact copy at cosine 1
    val probeQ = Seq((990000L, base(0)._2)).toDF("vec_id", "embedding")
    val hit = AnnIndex.ivfTopK(
      vectorsM.union(appended.select("corpus_id", "cell", "v", "nrm")),
      cents, probeQ, "vec_id", "embedding", k = 2, nprobe = 8).collect()
    val ids = hit.map(_.getLong(1)).toSet
    assert(ids.contains(910000L) && ids.contains(base(0)._1),
      s"probe must see both the streamed copy and its source, got $ids")
    assert(hit.forall(h => math.abs(h.getDouble(2) - 1.0) < 1e-12))
  }
}
