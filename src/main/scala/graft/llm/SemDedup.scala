package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Semantic deduplication — the SemDeDup recipe (Abbas et al. 2023,
  * "SemDeDup: Data-efficient learning at web-scale through semantic
  * deduplication", public): cluster the embedding space with k-means,
  * then prune near-duplicate PAIRS only within each cluster, keeping
  * the member farthest from the cluster centroid (the paper's
  * diversity-preserving choice — the "edge" example survives, the
  * redundant center-mass copies drop).
  *
  * This is the scale path for embedding-cosine dedup that
  * `dedup_embedding`'s scaladoc promises: the pair space is
  * Σ cell² instead of n², and the cluster count is a CORPUS-SIZED
  * knob — k ∝ n/occupancy holds per-cell work constant as the corpus
  * grows (the occupancy law SCALE_DECADES_r6 measured for LSH bits and
  * block bits; SemDeDup itself runs k = 50k on LAION-440M for exactly this
  * reason). Centroids are k·dim doubles of driver state broadcast to
  * every executor (Similarity.kmeansCells), assignment is one
  * broadcast-join pass over the vectors, and the within-cell
  * self-join shuffles each vector once on its cell id.
  *
  * Determinism: kmeansCells is the order-pinned Lloyd loop already
  * oracle-replayed bit-for-bit by `kmeans_cells`; the dominance
  * relation (larger centroid distance wins, ties to smaller id) and
  * the argmax dup attribution (highest cosine, ties to smaller id)
  * are total orders, so the keep/drop decision is unique regardless
  * of partitioning.
  */
object SemDedup {

  /** Per-vector semantic-dedup verdict:
    * `(vec_id, cell, keep, dup_of, dup_cosine)` where `keep = 0` iff
    * some same-cell vector with strictly larger centroid distance
    * (ties: smaller id) has cosine ≥ `tau`; `dup_of` is that
    * dominating vector with the highest cosine (ties: smaller id).
    *
    * Every vector appears exactly once — the caller filters
    * `keep = 1` for the retained corpus or joins `dup_of` for audit.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    k: Int, iters: Int, tau: Double): DataFrame = {
    val cells = Similarity.kmeansCells(df, idCol, vecCol, k, iters)
    val base = Similarity.withNorm(
      df.select(col(idCol).as("vec_id"),
        Similarity.toDoubleVec(col(vecCol)).as("v")), "v")
    val j = cells.join(base, "vec_id")
      .select(col("vec_id"), col("cell"), col("dist"), col("v"), col("__norm"))
    dedupOnCells(j, tau)
  }

  /** [[semanticDedup]] over the PERSISTED IVF index
    * ([[AnnIndex.buildIvf]]'s `(vectors, _, quantizer)` tables) — the
    * nightly-dedup shape: the Lloyd training the monolithic form
    * repeats per run (the measured ~6× dominant cost of the 20k/64-cell
    * build, NOTES_r8 / SCALE_DECADES_r8) is read from the index
    * instead. The centroid distance the dominance rule needs is
    * recomputed MAP-SIDE from the
    * quantizer (`nrm + cn − 2·v·cv` — the assignment's own expression,
    * so bit-equal to kmeansCells' `dist` column; SemDedupSpec pins
    * indexed == monolithic through a parquet round-trip).
    */
  def semanticDedupIndexed(vectors: DataFrame, quantizer: DataFrame,
                           tau: Double): DataFrame = {
    val j = vectors.join(broadcast(quantizer), col("cell") === col("c_cell"))
      .select(col("corpus_id").as("vec_id"), col("cell"),
        (col("nrm") + col("cn") - lit(2.0) * Similarity.dot(col("v"), col("cv")))
          .as("dist"),
        col("v"), col("nrm").as("__norm"))
    dedupOnCells(j, tau)
  }

  /** Shared core over `(vec_id, cell, dist, v, __norm)` rows. */
  private def dedupOnCells(j: DataFrame, tau: Double): DataFrame = {
    // Dominance pairs within a cell: y (farther from centroid) may
    // absorb x. Skinny projection — ids + cosine only cross the
    // exchange, vectors never ride the candidate shuffle (the
    // r6-measured 25-40x shuffle cut on the LSH family).
    val cand = j.as("x").join(j.as("y"),
        col("x.cell") === col("y.cell") &&
          (col("y.dist") > col("x.dist") ||
            (col("y.dist") === col("x.dist") &&
              col("y.vec_id") < col("x.vec_id"))))
      .select(col("x.vec_id").as("vec_id"), col("y.vec_id").as("cand_id"),
        (Similarity.dot(col("x.v"), col("y.v")) /
          (sqrt(col("x.__norm")) * sqrt(col("y.__norm")))).as("cand_cos"))
      .filter(col("cand_cos") >= tau)

    val w = Window.partitionBy("vec_id")
      .orderBy(col("cand_cos").desc, col("cand_id"))
    val dups = cand.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cand_id").as("dup_of"),
        col("cand_cos").as("dup_cosine"))

    j.select("vec_id", "cell").join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("dup_of").isNull, 1).otherwise(0).cast("int").as("keep"),
        col("dup_of"), col("dup_cosine"))
  }
}
