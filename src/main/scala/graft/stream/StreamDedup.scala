package graft.stream

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.llm.Dedup
import graft.llm.TextHash.{h32, wordSet}

/** Streaming near-duplicate detection against a persisted MinHash-LSH
  * index — the in-flight complement of the batch delta operator
  * (`Dedup.minHashNearDupsIncremental`, driver query
  * `dedup_incremental`): the batch side builds and refreshes the
  * banded index ([[Dedup.bandedIndex]], written out as a table); the
  * stream probes it per micro-batch, so new documents are flagged
  * against the full historical corpus WITHOUT any stream-side state
  * proportional to corpus size.
  *
  * Scale shape (the 100 TB question): the stream side carries only the
  * current micro-batch through a (band_idx, band_hash) equi-join —
  * exactly the bucketed candidate generation of the batch family,
  * never all-pairs. The index side is a static table: Spark re-plans
  * it per micro-batch, so partition pruning / broadcast apply as in
  * batch, the corpus-side skew cap is baked into the index at build
  * time, and per-trigger work is O(batch × bucket occupancy). The
  * exact-Jaccard verify runs on the token-hash sets carried by both
  * sides (the same primitive-array kernel as the batch verify).
  *
  * Reference basis: the reference's streaming jobs are
  * stateless-transform pipelines over a stream joined to nothing
  * (kafka_to_gcs_by_spark_streaming.py); this operator extends the
  * same stream-static pattern to the LLM-pipeline dedup surface.
  */
object StreamDedup {

  /** Per-band near-dup matches of a (possibly streaming) document
    * frame against a prebuilt [[Dedup.bandedIndex]]: one output row
    * per (doc, corpus doc, band) bucket hit that survives the exact
    * Jaccard verify at `tau`. STATELESS (no watermark required, append
    * mode) — a doc matching a corpus doc in g bands emits g rows with
    * bit-identical jaccard; deduplicate downstream
    * (`dropDuplicatesWithinWatermark` on (id, corpus_id)) when
    * multiplicity matters, or treat any-row-exists as the flag.
    *
    * `numPerm`/`bands` MUST match the index build — the signature
    * permutations are positional.
    */
  def nearDupMatches(docs: DataFrame, index: DataFrame,
                     idCol: String, textCol: String,
                     numPerm: Int, bands: Int, tau: Double): DataFrame = {
    require(numPerm % bands == 0, s"bands ($bands) must divide numPerm ($numPerm)")
    val rows = numPerm / bands
    val probe = docs
      .select(col(idCol).as("id"), Dedup.wordHashSet(wordSet(col(textCol))).as("hs"))
      .withColumn("sig", Dedup.minhashSignature(col("hs"), numPerm))
      .withColumn("bands", Dedup.bandHashes(col("sig"), bands, rows))
      .select(col("id"), col("hs"),
        posexplode(col("bands")).as(Seq("band_idx", "band_hash")))
    val corpus = index.select(col("id").as("corpus_id"),
      col("hs").as("corpus_hs"), col("band_idx"), col("band_hash"))
    val inter = Dedup.intersectCard(col("hs"), col("corpus_hs"))
    probe.join(corpus, Seq("band_idx", "band_hash"))
      .filter(col("id") =!= col("corpus_id"))
      .select(col("id"), col("corpus_id"), col("band_idx"),
        (inter.cast("double") /
          (size(col("hs")) + size(col("corpus_hs")) - inter).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= tau)
  }
}
