package graft.stream

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.llm.Dedup

/** Stream-vs-corpus near-dup: the streamed match set must equal the
  * batch run of the same operator on the same delta (house invariant),
  * exact copies of corpus docs must be caught, and verified jaccards
  * must be the true set Jaccard.
  */
class StreamDedupSpec extends SparkSpec {

  private val numPerm = 32
  private val bands = 8
  private val tau = 0.7

  private def corpus() = {
    val docs = graft.Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id").cast("long").as("id"), col("text"))
    Dedup.bandedIndex(docs, "id", "text", numPerm, bands, maxBucket = 64)
  }

  test("streamed matches equal the batch run on the same delta") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val index = corpus()
    val base = graft.Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id").cast("long").as("id"), col("text"))
      .orderBy("id").limit(4).collect()
    // delta: two exact copies of corpus docs, one lightly edited, one novel
    val delta = Seq(
      (100000L, base(0).getString(1)),
      (100001L, base(1).getString(1)),
      (100002L, base(2).getString(1) + " extra tail word"),
      (100003L, "entirely novel text with words appearing nowhere else zqx wvu")
    )
    val mem = MemoryStream[(Long, String)]
    val sdf = mem.toDF().toDF("id", "text")
    val out = StreamDedup.nearDupMatches(sdf, index, "id", "text", numPerm, bands, tau)
    val q = out.writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    try {
      mem.addData(delta.take(2)); q.processAllAvailable()
      mem.addData(delta.drop(2)); q.processAllAvailable()
      val streamed = spark.table("neardup_stream")
        .select("id", "corpus_id", "band_idx", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      val batch = StreamDedup.nearDupMatches(
          delta.toDF("id", "text"), index, "id", "text", numPerm, bands, tau)
        .select("id", "corpus_id", "band_idx", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      assert(streamed == batch)
      // exact copies share every band with their source — caught in every
      // band whose bucket survived the index's skew cap (the sf0.001
      // corpus has planted dup groups, so a band can be capped away)
      val copyRows = streamed.filter(t => t._1 == 100000L && t._2 == base(0).getLong(0))
      assert(copyRows.nonEmpty && copyRows.size <= bands)
      assert(copyRows.forall(_._4 == 1.0))
      // the novel doc matches nothing
      assert(!streamed.exists(_._1 == 100003L))
    } finally q.stop()
  }

  test("jaccard is the true word-set Jaccard and tau filters apply") {
    import spark.implicits._
    val index = corpus()
    val doc = graft.Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id").cast("long").as("id"), col("text"))
      .orderBy("id").limit(1).collect()(0)
    val edited = doc.getString(1) + " zz yy xx"
    val out = StreamDedup.nearDupMatches(
      Seq((200000L, edited)).toDF("id", "text"), index, "id", "text",
      numPerm, bands, tau = 0.0)
      .filter(col("corpus_id") === doc.getLong(0))
      .select("jaccard").distinct().collect()
    assert(out.length == 1)
    // mirror TextHash.wordSet exactly: whitespace split, no case folding
    def ws(s: String) = s.trim.split("\\s+").filter(_.nonEmpty).toSet
    val a = ws(edited); val b = ws(doc.getString(1))
    val expected = (a & b).size.toDouble / (a | b).size
    assert(math.abs(out(0).getDouble(0) - expected) < 1e-12)
  }
}
