package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-pass second-moment (Gram) matrix over an embedding column —
  * the statistic behind PCA, whitening, and covariance-based outlier
  * screens on an embedded corpus (public practice: batch PCA/ZCA
  * preprocessing; the 64×64 result is what a driver-side eigensolver
  * consumes, exactly as k-means consumes k centroid rows).
  *
  * Scale design (100 TB): each row expands map-side to its
  * dim·(dim+1)/2 upper-triangle products and partial aggregation
  * collapses every partition to ≤ 2 080 cells BEFORE the shuffle (the
  * expand is the combiner's input, never cross-node traffic) — total
  * shuffle volume is O(cells × partitions), independent of corpus
  * size.
  *
  * Determinism + speed: each product is quantized to a fixed-point
  * LONG (pico units, `floor(p·10¹² + 0.5)`) BEFORE summation. The
  * float×float product and the ·10¹² scaling are single IEEE
  * multiplies — bit-identical in every engine, no libm — so the
  * quantization has NO cross-engine boundary hazard at all, and long
  * addition is exact and associative (partitioning order cannot
  * matter).
  *
  * Execution: a fused per-partition accumulator loop (`mapPartitions`
  * — the SURVEY §7 last resort, taken here on measurement). The
  * declarative forms were built first and both lose by an order of
  * magnitude at sf0.1: explode + HashAggregate over DECIMAL(30,12)
  * cells 21 s, the same over quantized-long cells 19 s — higher-order
  * lambdas evaluate interpreted, so 10M tiny struct rows dominate.
  * The accumulator runs the same 10M multiply-adds in one codegen-free
  * tight loop (~1 s) and ships dim·(dim+1)/2 longs per partition —
  * the combiner-state shape the explode form only approximates.
  */
object EmbeddingStats {

  /** The fused accumulator behind [[gram]]: upper-triangle cell sums
    * in 10⁻¹² integer units plus the row count.
    */
  def gramTotals(df: DataFrame, vecCol: String, dim: Int): (Array[Long], Long) = {
    require(dim > 0, s"dim must be positive, got $dim")
    val spark = df.sparkSession
    import spark.implicits._
    val cells = dim * (dim + 1) / 2

    val parts = df.select(Similarity.toDoubleVec(col(vecCol)))
      .as[Array[Double]]
      .mapPartitions { it =>
        val acc = new Array[Long](cells)
        var n = 0L
        while (it.hasNext) {
          val v = it.next(); n += 1
          var k = 0; var i = 0
          while (i < dim) {
            val vi = v(i)
            var j = i
            while (j < dim) {
              acc(k) += math.floor(vi * v(j) * 1e12 + 0.5).toLong
              k += 1; j += 1
            }
            i += 1
          }
        }
        if (n == 0) Iterator.empty else Iterator((acc, n))
      }
      .collect() // O(partitions) rows of fixed dim²/2 longs — metadata

    val total = new Array[Long](cells)
    var rows = 0L
    parts.foreach { case (acc, n) =>
      rows += n
      var k = 0
      while (k < cells) { total(k) += acc(k); k += 1 }
    }
    (total, rows)
  }

  /** Upper-triangle Gram entries `(i, j, s, n)`, i ≤ j, with
    * `s = Σ_rows v[i]·v[j]` at 10⁻¹² resolution (exact integer
    * summation, emitted as DOUBLE). `dim` must match the embedding
    * length. Headroom: |v[i]·v[j]| ≤ 10⁴ keeps 10¹⁶ rows inside the
    * long range. Driver state: one (dim·(dim+1)/2)-long vector per
    * partition — O(partitions) metadata, the PrefixSum/k-means
    * precedent.
    */
  def gram(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    val spark = df.sparkSession
    val (total, rows) = gramTotals(df, vecCol, dim)
    val out = for { i <- 0 until dim; j <- i until dim } yield {
      val k = i * dim - i * (i - 1) / 2 + (j - i)
      (i, j, total(k).toDouble / 1e12, rows)
    }
    spark.createDataFrame(out).toDF("i", "j", "s", "n")
  }

  /** Dominant principal direction of the (uncentered) Gram by fixed-
    * count power iteration, plus the per-vector projection score —
    * the PCA/whitening first component over an embedding column.
    *
    * The iteration is O(iters·dim²) DRIVER math on the collected
    * integer Gram (dim=64 → trivial); the expensive parts stay
    * distributed: one [[gramTotals]] pass to build G, one map-side
    * projection pass to score every vector (a zip_with/aggregate fold
    * against the broadcast literal direction — no shuffle, no UDF).
    *
    * Determinism: G's cells are exact integers ÷ 10¹²; every fold
    * (matvec j-ascending, norm i-ascending, projection d-ascending)
    * is a sequential left fold restated identically in the oracle's
    * `list_reduce`, so the direction and every score are
    * bit-identical cross-engine after `iters` iterations from the
    * all-ones start vector (no convergence test — a fixed iteration
    * count is what an oracle can replay). Convergence is
    * eigengap-limited: pick `iters` for the spectrum at hand
    * (pca_project uses 40 ≈ 1.2% Rayleigh residual on the bench
    * embeddings; EmbeddingStatsSpec measures the curve).
    */
  def pcaProject(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                 iters: Int): DataFrame = {
    val (total, rows) = gramTotals(df, vecCol, dim)
    require(rows > 0, "pcaProject: embedding input is empty")
    require(total.exists(_ != 0L),
      "pcaProject: Gram matrix is all-zero (every embedding is the zero " +
        "vector) — the power iteration has no dominant direction")
    val g = Array.ofDim[Double](dim, dim)
    for (i <- 0 until dim; j <- i until dim) {
      val k = i * dim - i * (i - 1) / 2 + (j - i)
      val s = total(k).toDouble / 1e12
      g(i)(j) = s
      g(j)(i) = s
    }
    var v = Array.fill(dim)(1.0)
    var it = 0
    while (it < iters) {
      val w = new Array[Double](dim)
      var i = 0
      while (i < dim) {
        var acc = 0.0
        var j = 0
        while (j < dim) { acc += g(i)(j) * v(j); j += 1 }
        w(i) = acc
        i += 1
      }
      var nrm2 = 0.0
      i = 0
      while (i < dim) { nrm2 += w(i) * w(i); i += 1 }
      val nrm = math.sqrt(nrm2)
      require(nrm > 0.0,
        s"pcaProject: power iteration collapsed to the zero vector at " +
          s"iteration $it (start vector in the Gram's null space)")
      i = 0
      while (i < dim) { w(i) = w(i) / nrm; i += 1 }
      v = w
      it += 1
    }
    val dir = typedlit(v.toSeq)
    df.select(col(idCol), Similarity.toDoubleVec(col(vecCol)).as("__v"))
      .select(col(idCol),
        aggregate(zip_with(col("__v"), dir, (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x).as("pc1"))
  }

  /** Johnson–Lindenstrauss random projection `dim → outDim`: rows of
    * the projection matrix are [[Similarity.md5Planes]] (group 0) —
    * uniform-symmetric md5-derived entries, so the EXACT doubles
    * restate in the oracle (the LSH-planes trick, here keeping the
    * raw dot VALUES instead of sign buckets). Entry variance is 1/12,
    * so squared distances scale by outDim/12 in expectation —
    * distance RATIOS (all JL consumers care about) are preserved
    * within the JL distortion bound; EmbeddingStatsSpec measures the
    * concentration on seeded Gaussian data.
    *
    * Output `(vec_id, j, y)`, one row per projected coordinate
    * (j ∈ 1..outDim). Scale design: a pure projection — the plane
    * matrix is ONE nested literal (outDim·dim doubles, broadcast with
    * the plan), the per-row cost is outDim fused dot folds, zero
    * shuffles. At 100 TB this is the cheap pre-pass that lets the
    * ANN / clustering family work in 4× fewer dimensions.
    */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
                    dim: Int, outDim: Int): DataFrame = {
    val planes = Similarity.md5Planes(dim, groups = 1, bitsPerGroup = outDim).head
    df.select(col(idCol).cast("long").as("vec_id"),
        Similarity.toDoubleVec(col(vecCol)).as("v"))
      .select(col("vec_id"), col("v"),
        posexplode(typedlit(planes)).as(Seq("p", "plane")))
      .select(col("vec_id"), (col("p") + 1).cast("long").as("j"),
        Similarity.dot(col("v"), col("plane")).as("y"))
  }
}
