package graft.functions

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.llm.Similarity

/** Bit-equality of the fused vector kernels (`dot_native`,
  * `plane_buckets`, `simhash_native`, `minhash_sig`, `intersect_card`)
  * against the higher-order forms in [[KernelReference]] and the
  * built-ins — including null elements and ragged lengths. The
  * operators call only the kernels, so these equalities are the claim
  * that the kernels compute the folds the DuckDB oracle restates.
  */
class VectorExpressionsSpec extends SparkSpec {

  private def vecs = Similarity.withNorm(
    Tables.embeddings(spark, sf("sf0.01"))
      .select(col("vec_id"), Similarity.toDoubleVec(col("embedding")).as("v")), "v")

  test("dot_native equals the higher-order zip_with/aggregate fold bit-for-bit") {
    val df = vecs.limit(200).crossJoin(
      vecs.limit(200).select(col("vec_id").as("id2"), col("v").as("v2")))
    val cmp = df.select(
      KernelReference.dot(col("v"), col("v2")).as("hof"),
      call_function("dot_native", col("v"), col("v2")).as("native"))
    assert(cmp.filter(col("hof") =!= col("native")).count() === 0)
    assert(cmp.filter(col("native").isNull).count() === 0)
  }

  test("null element propagates to null result") {
    import spark.implicits._
    val df = Seq((Seq(Some(1.0), None, Some(3.0)), Seq(Some(1.0), Some(2.0), Some(3.0))))
      .toDF("a", "b")
    val out = df.select(call_function("dot_native", col("a"), col("b")),
      KernelReference.dot(col("a"), col("b"))).collect()
    assert(out(0).isNullAt(0) && out(0).isNullAt(1))
  }

  test("ragged-length input is NULL, matching the higher-order form") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
    val out = df.select(
      call_function("dot_native", col("a"), col("b")).as("native"),
      KernelReference.dot(col("a"), col("b")).as("hof")).collect()(0)
    assert(out.isNullAt(0) && out.isNullAt(1))
  }

  test("simhash_native equals the 60-fold higher-order form bit-for-bit") {
    import graft.llm.TextHash
    val hs = Tables.documents(spark, sf("sf0.01"))
      .select(transform(TextHash.wordSet(col("text")), t => TextHash.h60(t)).as("hs"))
    val cmp = hs.select(
      KernelReference.simhash(col("hs")).as("hof"),
      call_function("simhash_native", col("hs")).as("native"))
    assert(cmp.filter(col("hof") =!= col("native")).count() === 0)
    assert(cmp.filter(col("native").isNull).count() === 0)
    // empty array: every vote sum is 0 (not > 0) => signature 0
    import spark.implicits._
    val empty = Seq(Seq.empty[Long]).toDF("hs")
      .select(call_function("simhash_native", col("hs"))).collect()(0)
    assert(empty.getLong(0) === 0L)
  }

  test("minhash_sig equals the nested higher-order form bit-for-bit") {
    import graft.llm.TextHash
    val hs = Tables.documents(spark, sf("sf0.01"))
      .select(array_distinct(transform(TextHash.wordSet(col("text")),
        t => TextHash.h32(t))).as("hs"))
    val cmp = hs.select(
      KernelReference.minhashSignature(col("hs"), 16).as("hof"),
      call_function("minhash_sig", col("hs"), lit(16)).as("native"))
    assert(cmp.filter(not(col("hof") <=> col("native"))).count() === 0)
    // empty input: all-null signature, like array_min over empty
    import spark.implicits._
    val empty = Seq(Seq.empty[Long]).toDF("hs")
      .select(call_function("minhash_sig", col("hs"), lit(4))).collect()(0)
    assert(empty.getAs[scala.collection.Seq[Any]](0).forall(_ == null))
  }

  test("intersect_card equals size(array_intersect) on distinct arrays") {
    import graft.llm.TextHash
    val hs = Tables.documents(spark, sf("sf0.01"))
      .select(col("doc_id"), array_distinct(transform(TextHash.wordSet(col("text")),
        t => TextHash.h32(t))).as("hs"))
    val pairs = hs.limit(60).crossJoin(
      hs.limit(60).select(col("hs").as("hs2")))
    val cmp = pairs.select(
      size(array_intersect(col("hs"), col("hs2"))).as("builtin"),
      call_function("intersect_card", col("hs"), col("hs2")).as("native"))
    assert(cmp.filter(col("builtin") =!= col("native")).count() === 0)
    import spark.implicits._
    val e = Seq((Seq.empty[Long], Seq(1L, 2L))).toDF("a", "b")
      .select(call_function("intersect_card", col("a"), col("b"))).collect()(0)
    assert(e.getInt(0) === 0)
  }

  test("plane_buckets equals the HOF literal fold bit-for-bit") {
    val planes = Similarity.md5Planes(dim = 64, groups = 4, bitsPerGroup = 6)
    def hofBuckets(v: org.apache.spark.sql.Column) = KernelReference.planeBuckets(v, planes)
    val cmp = vecs.select(
      hofBuckets(col("v")).as("hof"),
      call_function("plane_buckets", col("v"), typedLit(planes)).as("native"))
    assert(cmp.filter(col("hof") =!= col("native")).count() === 0)
    assert(cmp.filter(col("native").isNull).count() === 0)
    // degenerate vectors: null element / ragged length -> every dot is
    // NULL in the HOF form -> all-zero buckets; kernel mirrors this
    import spark.implicits._
    val degen = Seq(
      Seq[java.lang.Double](1.0, null, 3.0) ++ Seq.fill[java.lang.Double](61)(0.0),
      Seq[java.lang.Double](1.0, 2.0)).toDF("v")
    val d = degen.select(
      hofBuckets(col("v")).as("hof"),
      call_function("plane_buckets", col("v"), typedLit(planes)).as("native")).collect()
    d.foreach { r =>
      assert(r.getSeq[Long](0) === Seq(0L, 0L, 0L, 0L))
      assert(r.getSeq[Long](1) === Seq(0L, 0L, 0L, 0L))
    }
    // NULL vector -> NULL result
    val nv = Seq(Option.empty[Seq[Double]]).toDF("v")
      .select(call_function("plane_buckets", col("v"), typedLit(planes))).collect()(0)
    assert(nv.isNullAt(0))
  }

  test("native loop is not slower than higher-order form") {
    val df = vecs.crossJoin(vecs.select(col("v").as("v2"))).cache()
    df.count() // materialize
    def time(c: org.apache.spark.sql.Column): Double = {
      val t0 = System.nanoTime()
      df.select(sum(c)).collect()
      (System.nanoTime() - t0) / 1e9
    }
    time(KernelReference.dot(col("v"), col("v2")))                 // warm both
    time(call_function("dot_native", col("v"), col("v2")))
    val hof = time(KernelReference.dot(col("v"), col("v2")))
    val native = time(call_function("dot_native", col("v"), col("v2")))
    info(f"hof=$hof%.2fs native=$native%.2fs speedup=${hof / native}%.1fx (250k pairs x 64 dims)")
    assert(native <= hof * 1.2) // allow noise; expectation is native is faster
    df.unpersist()
  }
}
