package graft.stream

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

import graft.llm.Similarity

/** Streaming similarity probe against a persisted sign-LSH bucket
  * index — the online-retrieval complement of the batch ANN family
  * (and the vector twin of [[StreamDedup]]): the batch side builds
  * the bucket index once ([[bucketIndex]], written out as tables);
  * the stream buckets each arriving vector MAP-SIDE (pure projection,
  * the same planes) and equi-joins the static index per micro-batch,
  * so new vectors are matched against the full historical corpus
  * WITHOUT any stream-side state proportional to corpus size.
  *
  * Scale shape (the 100 TB question): per-trigger work is
  * O(batch × bucket occupancy) through the (grp, bucket) equi-join —
  * never all-pairs; the index is two static tables re-planned per
  * micro-batch (pruning/broadcast apply as in batch). Storage follows
  * the skinny-projection discipline: the bucket table carries only
  * (corpus_id, grp, bucket) — the 64-d vectors live ONCE in a
  * separate table and re-enter by a candidate-sized id equi-join,
  * instead of being duplicated into all `groups` bucket rows.
  *
  * Emission is threshold-based (`cosine ≥ minCosine`), not top-k: a
  * per-query rank window is illegal on an unaggregated stream (the
  * reference's own illegal-window bug, SURVEY §2.11) and a top-k per
  * micro-batch would silently change meaning as trigger boundaries
  * move; a threshold is trigger-invariant. Cross-group multiplicity
  * follows [[StreamDedup.nearDupMatches]]'s convention: a pair hit in
  * g groups emits g rows with bit-identical cosine — dedupe
  * downstream (`dropDuplicatesWithinWatermark` on (id, corpus_id)),
  * or treat any-row-exists as the flag.
  */
object StreamAnn {

  /** The persisted index pair: `(buckets, vectors)` — buckets =
    * (corpus_id, grp, bucket) skinny rows, vectors = (corpus_id, v,
    * nrm) once per vector. Both are batch DataFrames the caller
    * materializes (parquet/table) and refreshes on its own schedule.
    */
  def bucketIndex(df: DataFrame, idCol: String, vecCol: String,
                  planes: Seq[Seq[Seq[Double]]]): (DataFrame, DataFrame) =
    // one build, two probe surfaces: the same index tables serve this
    // stream probe and the batch build-once/probe-many entry points
    // (AnnIndex.topK / hammingTopK)
    graft.llm.AnnIndex.build(df, idCol, vecCol, planes)

  /** Stream-static probe: one output row per (vector, corpus vector,
    * group) bucket hit with exact cosine ≥ `minCosine`. STATELESS
    * (append mode, no watermark required). `planes` MUST match the
    * index build — buckets are positional.
    */
  def matches(stream: DataFrame, buckets: DataFrame, vectors: DataFrame,
              idCol: String, vecCol: String,
              planes: Seq[Seq[Seq[Double]]], minCosine: Double): DataFrame = {
    val probe = Similarity.withNorm(
        stream.select(col(idCol).cast("long").as("id"),
          Similarity.toDoubleVec(col(vecCol)).as("qv")), "qv")
      .withColumnRenamed("__norm", "qn")
      .withColumn("__buckets", Similarity.bucketsAll(col("qv"), planes))
      .select(col("id"), col("qv"), col("qn"),
        posexplode(col("__buckets")).as(Seq("grp", "bucket")))
    probe.join(buckets, Seq("grp", "bucket"))
      .filter(col("corpus_id") =!= col("id"))
      .join(vectors, "corpus_id")
      .select(col("id"), col("corpus_id"), col("grp"),
        (Similarity.dot(col("qv"), col("v")) / (sqrt(col("qn")) * sqrt(col("nrm"))))
          .as("cosine"))
      .filter(col("cosine") >= minCosine)
  }
}
