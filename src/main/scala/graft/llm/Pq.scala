package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou, Douze, Schmid 2011 — the FAISS `PQ`
  * shape, public knowledge): split each `dim`-vector into `m`
  * subvectors, learn a tiny k-means codebook per subspace, store each
  * vector as `m` small codes (here 4 × 4 bits of code id ≈ 16× the
  * compression of the raw floats), and answer queries by ASYMMETRIC
  * DISTANCE: the exact query subvector against the centroid of each
  * stored code — Σ_s ‖q_s − c_{s,code_s(x)}‖². Completes the engine's
  * vector-compression family: int8 scalar quantization
  * ([[Similarity.quantizeInt8]]) shrinks 4×, PQ shrinks 16–64× and is
  * what makes billion-vector scans affordable.
  *
  * Determinism: codebooks reuse the pinned [[Similarity.lloydCentroids]]
  * recipe per subspace (seeds = k smallest ids' subvectors, order-
  * pinned folds, ties to smallest code); the collected centroid
  * doubles re-enter as exact literals; the ADC sum folds subspaces in
  * fixed order (init 0.0 — identical IEEE chain to the oracle's
  * list_reduce). The full pipeline — 4 Lloyd runs, encoding, distance
  * tables — replays in the DuckDB oracle.
  *
  * Scale design (100 TB): codebooks are m·k·(dim/m) = dim·k doubles —
  * driver metadata, broadcast as ONE nested literal. Encoding is m
  * broadcast assignment passes (k rows each). The query scan reads
  * only the (vec_id, m codes) table — the 16×-smaller index IS the
  * point; at production scale the scan composes with IVF cells
  * ([[Similarity.ivfTopK]]) so each query touches only its probed
  * cells' code lists (classic IVF-PQ). Top-k plans as
  * WindowGroupLimit.
  */
object Pq {

  /** `(query_id, neighbor_id, adist, rank)` — top-k by asymmetric PQ
    * distance, ties broken by neighbor id, self excluded.
    */
  /** Codebook training + corpus encoding, shared by the brute ADC
    * scan and the IVF-PQ composition: returns the per-subspace
    * codebooks (driver metadata, m × codes × dim/m doubles) and the
    * `(vec_id, codes[m])` table.
    *
    * m sequential Lloyd trainings (each its own persist + seed collect
    * + per-iteration assign-crossJoin-window-groupBy-collect job) and
    * m assignment passes unioned through a groupBy. Measured
    * (PqStageExp, sf0.1, local[32], warm): encode = 1.9 of pq_topk's
    * 2.0 s — training coordination, not the ADC scan, IS the query.
    * A fused form (one seed collect, one job per Lloyd iteration for
    * all subspaces, per-row unrolled argmin) was measured and lost
    * (r12, 2.59 vs 2.41 s on pq_topk): the saved coordination jobs are
    * cheap at this scale while the unrolled argmin costs more per
    * pass than the window form.
    */
  def encode(df: DataFrame, idCol: String, vecCol: String,
             dim: Int, m: Int, codes: Int,
             iters: Int): (Seq[Seq[(Int, Seq[Double])]], DataFrame) = {
    require(dim % m == 0, s"dim=$dim must split evenly into m=$m subspaces")
    val sub = dim / m
    val base = df.select(col(idCol).cast("long").as("id"),
      Similarity.toDoubleVec(col(vecCol)).as("v"))

    def subDf(s: Int): DataFrame =
      base.select(col("id"), slice(col("v"), s * sub + 1, sub).as("vs"))

    val books: Seq[Seq[(Int, Seq[Double])]] =
      (0 until m).map(s => Similarity.lloydCentroids(subDf(s), "id", "vs", codes, iters))

    // encode: m assignment passes → one (vec_id, [code_0..code_{m-1}]) row
    val codeRows = (0 until m).map { s =>
      Similarity.assignCells(subDf(s), "id", "vs", books(s))
        .select(col("vec_id"), lit(s).as("s"), col("cell").as("code"))
    }.reduce(_.unionByName(_))
    val encoded = codeRows.groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("s"), col("code")))),
        x => x.getField("code")).as("codes"))
    (books, encoded)
  }

  /** The hoisted per-query ADC distance-table column (see pqTopK).
    *
    * The codebook rides the plan as ONE row-major primitive-double
    * [[DenseLit]] literal — `(s, c, d) → s·codes·sub + c·sub + d` with
    * O(1) offset arithmetic — not a nested `typedlit(Seq[Seq[Seq[_]]])`:
    * the boxed object graph re-serializes per action and its curve is
    * heap-hostile as codebooks grow (the r11/r12 encoding law; PqSpec
    * pins bit-equality of the flat form against the boxed reference).
    * Each squared-diff term and its fold order are operand-identical
    * to the old `slice`+`zip_with` form, so values are bit-identical.
    */
  private def dtColumn(qv: Column, books: Seq[Seq[(Int, Seq[Double])]],
                       m: Int, codes: Int, sub: Int): Column = {
    val flat = DenseLit.doubles(
      books.flatMap(_.sortBy(_._1).flatMap(_._2)).toArray)
    transform(sequence(lit(0), lit(m - 1)), s =>
      transform(sequence(lit(0), lit(codes - 1)), c =>
        aggregate(sequence(lit(0), lit(sub - 1)), lit(0.0), (acc, d) => {
          val x = element_at(qv, (s * lit(sub) + d + 1).cast("int")) -
            element_at(flat,
              (s * lit(codes * sub) + c * lit(sub) + d + 1).cast("int"))
          acc + x * x
        })))
  }

  /** adist = Σ_s dt[s][codes[s]] — fixed fold order, init 0.0. */
  private def adistColumn(dt: Column, codesCol: Column, m: Int): Column =
    aggregate(sequence(lit(0), lit(m - 1)), lit(0.0), (acc, s) =>
      acc + element_at(element_at(dt, s + 1),
        element_at(codesCol, s + 1).cast("int") + 1))

  def pqTopK(df: DataFrame, idCol: String, vecCol: String,
             queryPred: Column, k: Int,
             dim: Int = 64, m: Int = 4, codes: Int = 16,
             iters: Int = 1): DataFrame = {
    val sub = dim / m
    val base = df.select(col(idCol).cast("long").as("id"),
      Similarity.toDoubleVec(col(vecCol)).as("v")).persist()
    // The cache above serves ONLY the codebook-training collects
    // inside encode() (m Lloyd loops, each an eager action over
    // base); it is released right after the last of them, so the
    // final lazy ADC scan the caller executes re-derives the skinny
    // (id, v) projection from the column-pruned source scan — that
    // re-read is the cheap part, and scoping the cache to training
    // keeps repeated invocations from accumulating cached blocks.
    val (books, encoded) = encode(base, "id", "v", dim, m, codes, iters)

    // ADC via hoisted per-query distance tables (the classic trick):
    // dt[s][code] = ‖q_s − c_{s,code}‖² computed ONCE per query row
    // (m·codes values), so the corpus-sized scan pays 4 array lookups
    // + 3 adds per pair instead of 4 × 16-dim squared-diff folds
    // (measured 131 → 27 s at 20k vectors; 9× more pairs at 60k
    // vectors stays 27 s — job overhead dominates once the per-pair
    // expression is 4 lookups). Pure hoisting — the same
    // IEEE ops on the same inputs in the same fold order, so adist is
    // bit-identical to the unhoisted form and the oracle's per-pair
    // restatement.
    val q = base.filter(queryPred)
      .select(col("id").as("query_id"), col("v").as("qv"))
      .withColumn("dt", dtColumn(col("qv"), books, m, codes, sub))
      .select("query_id", "dt")
    val scored = q.join(encoded, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        adistColumn(col("dt"), col("codes"), m).as("adist"))
    base.unpersist()
    val w = Window.partitionBy("query_id").orderBy(col("adist"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "adist", "rank")
  }

  /** IVF-PQ (the FAISS `IVFx,PQy` composition — the 100 TB shape):
    * coarse k-means cells gate the CANDIDATE SET (each query scans
    * only its `nprobe` nearest cells' code lists, an equi-join on the
    * cell id — never the full corpus), PQ asymmetric distance scores
    * it. Per-query work drops from O(corpus) to O(corpus ·
    * nprobe/cells), and `cells` is the corpus-sized knob (k ∝ n /
    * target-cell-occupancy, the [[ScalePolicy]] law — FAISS guidance
    * is k ≈ √n-to-n/100 at billion scale).
    *
    * Every stage reuses an already-oracled pinned recipe: coarse
    * cells = [[Similarity.lloydCentroids]] on the full vectors (the
    * kmeans_cells replay), codebooks/encoding = [[encode]] (the
    * pq_topk replay), probing = same ‖q‖²+‖c‖²−2q·c ranking with
    * ties to the smaller cell. The oracle replays ALL of it — five
    * Lloyd trainings, two assignments, the probe ranking, and the
    * hoisted-ADC scan — end to end.
    */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String,
                queryPred: Column, k: Int,
                dim: Int = 64, cells: Int = 8, cellIters: Int = 1,
                nprobe: Int = 2, m: Int = 4, codes: Int = 16,
                iters: Int = 1): DataFrame = {
    val sub = dim / m
    val base = df.select(col(idCol).cast("long").as("id"),
      Similarity.toDoubleVec(col(vecCol)).as("v")).persist()

    // Cache scoped to the training collects only (the coarse Lloyd
    // loop + encode()'s m codebook Lloyds) — released after the last
    // eager action; the caller's lazy assignment/probe/ADC execution
    // re-derives the skinny projection (see pqTopK's note).
    val cellCents = Similarity.lloydCentroids(base, "id", "v", cells, cellIters)
    val cellOf = Similarity.assignCells(base, "id", "v", cellCents)
      .select(col("vec_id"), col("cell"))
    val (books, encoded) = encode(base, "id", "v", dim, m, codes, iters)
    val codesByCell = encoded.join(cellOf, "vec_id")

    val queries = base.filter(queryPred)
    val probes = Similarity.probeCells(queries, "id", "v", cellCents, nprobe)
      .withColumnRenamed("vec_id", "query_id")
    val qdt = queries
      .select(col("id").as("query_id"), col("v").as("qv"))
      .withColumn("dt", dtColumn(col("qv"), books, m, codes, sub))
      .select("query_id", "dt")

    val scored = probes.join(codesByCell, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(qdt), Seq("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        adistColumn(col("dt"), col("codes"), m).as("adist"))
    base.unpersist()
    val w = Window.partitionBy("query_id").orderBy(col("adist"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "adist", "rank")
  }
}
