package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * - [[bruteTopK]] — exact cosine top-k: query set × corpus join with
  *   the dot product as a sequential left fold ([[dot]], the fused
  *   `dot_native` kernel — no UDF). The fold order is element order,
  *   so the DuckDB oracle reproduces bit-identical doubles.
  *   O(|Q|·|C|·d); right when |Q| is a filter-pushed sample.
  *
  * - [[lshTopK]] — the scale path: random-hyperplane LSH. Each vector
  *   maps to a sign-bit bucket; candidates share a bucket in at least
  *   one of the plane groups, then exact cosine + top-k within
  *   candidates. Replaces the |Q|×|C| blowup with per-bucket joins.
  *   Planes come from a seeded JVM RNG (driver-side constants,
  *   broadcast as literals into the plan).
  *
  * At 100 TB the corpus side is additionally block-partitioned
  * (`repartitionByRange` on bucket) so each executor streams one
  * bucket shard; norms are precomputed once (`withNorm`).
  */
object Similarity {

  /** Sequential left-fold dot product — deterministic double math —
    * through the fused `dot_native` kernel (graft.functions.DotProduct,
    * ~75× the `zip_with`/`aggregate` fold on 64-dim vectors).
    * VectorExpressionsSpec pins it bit-for-bit to that fold, including
    * null and ragged inputs.
    */
  def dot(a: Column, b: Column): Column = call_function("dot_native", a, b)

  def toDoubleVec(c: Column): Column = transform(c, _.cast("double"))

  def withNorm(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("__norm", dot(col(vecCol), col(vecCol)))

  /** Exact top-k cosine neighbors for rows matching `queryPred`.
    * Ties broken by neighbor id — fully deterministic.
    */
  def bruteTopK(df: DataFrame, idCol: String, vecCol: String,
                queryPred: Column, k: Int): DataFrame = {
    val base = withNorm(df.select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("v")), "v")
    val q = base.filter(queryPred).select(col("id").as("query_id"),
      col("v").as("qv"), col("__norm").as("qn"))
    val scored = q.join(base.filter(col("id").isNotNull), col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        (dot(col("qv"), col("v")) / (sqrt(col("qn")) * sqrt(col("__norm"))))
          .as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** k-nearest-neighbor edge list within blocks: for every vector,
    * its top-k cosine neighbors among vectors sharing `blockCol` —
    * the k-NN graph that seeds near-dup clustering, label
    * propagation, and diversity sampling over an embedded corpus.
    *
    * Scale design: the pair space is block-bounded (Σ cell²), exactly
    * like `dedup_embedding`; at 100 TB the block key comes from IVF
    * cells ([[kmeansCells]]) or LSH buckets instead of a label. The
    * per-source top-k plans as WindowGroupLimit (rank pushed below
    * the final sort), so only k edges per source survive the window
    * shuffle. Deterministic: cosine tie broken by neighbor id.
    */
  def knnGraph(df: DataFrame, idCol: String, vecCol: String,
               blockCol: String, k: Int): DataFrame = {
    val base = withNorm(df.select(col(idCol).as("id"), col(blockCol).as("blk"),
      toDoubleVec(col(vecCol)).as("v")), "v")
    val scored = base.as("a").join(base.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("src"), col("b.id").as("dst"),
        (dot(col("a.v"), col("b.v")) / (sqrt(col("a.__norm")) * sqrt(col("b.__norm"))))
          .as("cosine"))
    val w = Window.partitionBy("src").orderBy(col("cosine").desc, col("dst"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("src", "dst", "cosine", "rank")
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the top-k most-similar vectors carrying a DIFFERENT
    * label — the negatives that actually move an embedding model.
    * Exact scoring (BroadcastNestedLoopJoin over the query sample —
    * the same inherent-cost baseline as [[bruteTopK]]); at corpus
    * scale generate candidates from LSH buckets / IVF cells first and
    * exact-verify, exactly as ann_lsh/ann_ivf do for positives.
    */
  def hardNegatives(df: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, queryPred: Column, k: Int): DataFrame = {
    val base = withNorm(df.select(col(idCol).as("id"), col(labelCol).as("lbl"),
      toDoubleVec(col(vecCol)).as("v")), "v")
    val q = base.filter(queryPred).select(col("id").as("query_id"),
      col("lbl").as("qlbl"), col("v").as("qv"), col("__norm").as("qn"))
    val scored = q.join(base, col("lbl") =!= col("qlbl"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        (dot(col("qv"), col("v")) / (sqrt(col("qn")) * sqrt(col("__norm"))))
          .as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** k-NN majority-vote classification: each query vector takes the
    * modal label of its k nearest LABELED neighbors (queries are
    * excluded from the reference set); ties break to the smallest
    * label, then-tied cosine ranks to the smallest neighbor id —
    * fully deterministic. The semi-supervised labeling pass a
    * curation pipeline runs to extend sparse labels over an embedded
    * corpus. Exact scoring baseline; blocked candidates at scale, as
    * [[hardNegatives]].
    */
  def knnClassify(df: DataFrame, idCol: String, vecCol: String,
                  labelCol: String, queryPred: Column, k: Int): DataFrame = {
    val base = withNorm(df.select(col(idCol).as("id"), col(labelCol).as("lbl"),
      toDoubleVec(col(vecCol)).as("v")), "v")
    val q = base.filter(queryPred).select(col("id").as("query_id"),
      col("lbl").as("true_label"), col("v").as("qv"), col("__norm").as("qn"))
    val refs = base.filter(!queryPred)
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    val nn = q.join(refs, col("id") =!= col("query_id"))
      .select(col("query_id"), col("true_label"), col("id").as("neighbor_id"),
        col("lbl").as("nlbl"),
        (dot(col("qv"), col("v")) / (sqrt(col("qn")) * sqrt(col("__norm"))))
          .as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
    val wVote = Window.partitionBy("query_id")
      .orderBy(col("votes").desc, col("nlbl"))
    nn.groupBy("query_id", "true_label", "nlbl")
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(wVote))
      .filter(col("vr") === 1)
      .select(col("query_id"), col("nlbl").as("predicted_label"),
        col("votes"), col("true_label"),
        (col("nlbl") === col("true_label")).as("correct"))
  }

  /** Labeled LSH bucket candidates — the shared generator for the
    * label-aware ANN scale arms ([[hardNegativesBucketed]],
    * [[knnClassifyBucketed]]): (query, neighbor, labels, exact
    * cosine) pairs from the (grp, bucket) equi-join. Cosine is
    * computed BEFORE the cross-group dedup (bit-identical per group —
    * the lshTopK skinny-projection discipline) so the dedup exchange
    * carries ~40 bytes/row, not two 64-d vectors. `neighborPred`
    * restricts the corpus side (e.g. exclude the query sample for
    * classification). `probes` > 0 adds query-side Hamming-1 probing
    * (the [[lshTopK]] flip masks) — the recall-restoration half of
    * the occupancy-constant scale recipe; the indexed corpus never
    * grows.
    */
  private def labeledBucketCands(df: DataFrame, idCol: String, vecCol: String,
                                 labelCol: String, queryPred: Column,
                                 neighborPred: Column,
                                 planes: Seq[Seq[Seq[Double]]],
                                 probes: Int): DataFrame = {
    val base = withNorm(df.select(col(idCol).as("id"), col(labelCol).as("lbl"),
        toDoubleVec(col(vecCol)).as("v")), "v")
      .withColumn("__buckets", bucketsAll(col("v"), planes))
    val exploded = base.select(col("id"), col("lbl"), col("v"), col("__norm"),
      posexplode(col("__buckets")).as(Seq("grp", "bucket")))
    val q0 = exploded.filter(queryPred).select(col("id").as("query_id"),
      col("lbl").as("qlbl"), col("v").as("qv"), col("__norm").as("qn"),
      col("grp"), col("bucket"))
    val q = if (probes <= 0) q0 else q0
      .withColumn("__flip",
        explode(typedLit(0L +: Seq.tabulate(probes)(1L << _))))
      .withColumn("bucket", expr("bucket ^ __flip"))
      .drop("__flip")
    q.join(exploded.filter(neighborPred), Seq("grp", "bucket"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("qlbl"), col("id").as("neighbor_id"),
        col("lbl").as("nlbl"),
        (dot(col("qv"), col("v")) / (sqrt(col("qn")) * sqrt(col("__norm"))))
          .as("cosine"))
      .dropDuplicates("query_id", "neighbor_id")
  }

  /** [[hardNegatives]]' scale arm: same-output hard-negative mining
    * with candidates from LSH buckets instead of the all-pairs
    * different-label join — per-query work is bucket occupancy, so a
    * negative must share a bucket with the query to be considered
    * (exactly the production recipe the hardNegatives scaladoc
    * promises: generate from buckets, exact-verify).
    */
  def hardNegativesBucketed(df: DataFrame, idCol: String, vecCol: String,
                            labelCol: String, queryPred: Column, k: Int,
                            planes: Seq[Seq[Seq[Double]]],
                            probes: Int = 0): DataFrame = {
    val cands = labeledBucketCands(df, idCol, vecCol, labelCol, queryPred,
      lit(true), planes, probes)
      .filter(col("nlbl") =!= col("qlbl"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** [[knnClassify]]'s scale arm: majority vote over the top-k
    * BUCKET-generated labeled neighbors (corpus side excludes the
    * query sample, as in the exact form). Vote ties to the smallest
    * label — identical finishing, only the candidate generator
    * changes.
    */
  def knnClassifyBucketed(df: DataFrame, idCol: String, vecCol: String,
                          labelCol: String, queryPred: Column, k: Int,
                          planes: Seq[Seq[Seq[Double]]],
                          probes: Int = 0): DataFrame = {
    val cands = labeledBucketCands(df, idCol, vecCol, labelCol, queryPred,
      !queryPred, planes, probes)
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    val nn = cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
    val wVote = Window.partitionBy("query_id")
      .orderBy(col("votes").desc, col("nlbl"))
    nn.groupBy("query_id", "qlbl", "nlbl")
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(wVote))
      .filter(col("vr") === 1)
      .select(col("query_id"), col("nlbl").as("predicted_label"),
        col("votes"), col("qlbl").as("true_label"),
        (col("nlbl") === col("qlbl")).as("correct"))
  }

  /** Coarse sign-bucket refinement for a block key: the group-0
    * bucket of `planes` appended to an existing block column. This is
    * how block-bounded pair operators ([[knnGraph]],
    * `dedup_embedding`) keep Σ cell² linear as the corpus grows: a
    * FIXED block vocabulary (e.g. 10 labels) makes per-block pairs
    * quadratic in corpus (measured: `knn_graph` 8.6× for 10× data on
    * the r5 sf1 slice — quadratic pair work under a then-dominant
    * fixed cost), while log₂-growing refinement bits hold block
    * occupancy constant.
    */
  def refineBlock(blockCol: Column, vecCol: Column, bits: Int): Column = {
    val planes = md5Planes(dim = 64, groups = 1, bitsPerGroup = bits)
    concat(blockCol.cast("string"), lit(":"),
      element_at(bucketsAll(toDoubleVec(vecCol), planes), 1)
        .cast("string"))
  }

  /** All group buckets at once (bit p of group g set iff
    * v·plane_{g,p} > 0) through the fused `plane_buckets` kernel: the
    * planes flatten ONCE into a primitive double[] reference object,
    * so there is no plane expression tree to janino-compile (the
    * per-element `lit` form took 12.6 s first-run / 3.2 s warm on
    * 16×6×64 planes, the nested-literal HOF fold 1.3 s / 0.2 s).
    * Same sequential accumulation order as [[dot]], so bucket values
    * are bit-identical to the HOF fold (VectorExpressionsSpec).
    */
  def bucketsAll(vecCol: Column, planes: Seq[Seq[Seq[Double]]]): Column =
    call_function("plane_buckets", vecCol, typedLit(planes))

  /** Oracle-expressible deterministic hyperplanes: component (g, p, d)
    * = md5("g:p:d") first-8-hex-digits / 2³² − 0.5 ∈ [−0.5, 0.5) — the
    * repo's TextHash trick lifted to plane generation, so DuckDB can
    * restate the exact same doubles (`('0x' || substr(md5(…), 1,
    * 8))::BIGINT / 4294967296.0 - 0.5`; both conversions are exact in
    * IEEE double). Uniform-symmetric components instead of Gaussian —
    * for sign-projection LSH only the direction distribution matters
    * and the uniform cube is isotropic enough in practice (recall is
    * asserted against brute force in SimilaritySpec).
    */
  def md5Planes(dim: Int, groups: Int, bitsPerGroup: Int): Seq[Seq[Seq[Double]]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def comp(g: Int, p: Int, d: Int): Double = {
      val hex = md.digest(s"$g:$p:$d".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0 - 0.5
    }
    Seq.tabulate(groups, bitsPerGroup, dim)(comp)
  }

  /** Order-pinned member-mean centroids of a celled base table
    * ((id, cell, v) → (c_cell, cv, cn)) — the probe centroids of
    * [[ivfTopK]], factored out so [[AnnIndex.buildIvf]] persists the
    * IDENTICAL table (bit-equal folds: members summed in id order).
    */
  private[graft] def cellCentroids(base: DataFrame, dim: Int): DataFrame =
    base.groupBy("cell")
      .agg(sort_array(collect_list(struct(col("id"), col("v")))).as("lst"),
        count(lit(1)).as("n"))
      .select(col("cell").as("c_cell"),
        transform(sequence(lit(0), lit(dim - 1)), i =>
          aggregate(col("lst"), lit(0.0),
            (acc, sv) => acc + element_at(sv.getField("v"), (i + 1).cast("int")))
            / col("n")).as("cv"))
      .withColumn("cn", dot(col("cv"), col("cv")))

  /** IVF-style approximate top-k with predefined cells: the corpus is
    * indexed by `cellCol` (here a given coarse partition — a k-means
    * assignment in a full pipeline), per-cell centroids are computed
    * with order-pinned element-wise folds (deterministic ⇒
    * oracle-expressible), each query probes its `nprobe` nearest
    * centroids and searches only those cells. The centroid table is
    * tiny (≤ #cells rows) and broadcasts; per-query work is
    * O(nprobe · |C| / #cells) — nprobe is the recall/cost knob (cells
    * are disjoint, so multi-probe candidates need no dedup).
    */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String, cellCol: String,
              queryPred: Column, k: Int, dim: Int, nprobe: Int = 1): DataFrame = {
    val base = withNorm(df.select(col(idCol).as("id"), col(cellCol).as("cell"),
      toDoubleVec(col(vecCol)).as("v")), "v")
    val cents = cellCentroids(base, dim)
    val q = base.filter(queryPred)
      .select(col("id").as("query_id"), col("v").as("qv"), col("__norm").as("qn"))
    val probeW = Window.partitionBy("query_id")
      .orderBy(col("probe_cos").desc, col("c_cell"))
    val probe = q.join(broadcast(cents))
      .withColumn("probe_cos",
        dot(col("qv"), col("cv")) / (sqrt(col("qn")) * sqrt(col("cn"))))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("qv"), col("qn"), col("c_cell").as("probe_cell"))
    val scored = probe.join(base,
        col("cell") === col("probe_cell") && col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        (dot(col("qv"), col("v")) / (sqrt(col("qn")) * sqrt(col("__norm"))))
          .as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Approximate top-k: candidates share a sign-bucket in ≥1 group,
    * scored with exact cosine, deduplicated across groups.
    * `queryPred` is expressed over the renamed `id` column.
    *
    * `probes` > 0 enables multi-probe (Lv et al., VLDB'07 shape): each
    * query additionally probes the buckets at Hamming distance 1 in
    * its first `probes` bit positions — QUERY-side only, so the
    * indexed corpus never grows. This is the scale recipe's second
    * half: bits/group grows with log₂(corpus) to hold bucket occupancy
    * constant (else candidate work is quadratic in corpus — measured
    * 12.2× for 10× data at 16×6 on the r5 sf1 slice), and the recall
    * that finer buckets lose comes back from probing adjacent buckets
    * at linear (1+probes)× query cost instead of from more plane
    * groups at linear index+query cost (measured: 16×9+p9 beats both
    * 32×9 and 48×10 on BOTH time and recall at sf1 — NOTES_r5).
    */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String,
              queryPred: Column, k: Int,
              planes: Seq[Seq[Seq[Double]]], probes: Int = 0): DataFrame = {
    val base = withNorm(df.select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("v")), "v")
      .withColumn("__buckets", bucketsAll(col("v"), planes))
    val exploded = base.select(col("id"), col("v"), col("__norm"),
      posexplode(col("__buckets")).as(Seq("grp", "bucket")))
    val q0 = exploded.filter(queryPred).select(col("id").as("query_id"),
      col("v").as("qv"), col("__norm").as("qn"), col("grp"), col("bucket"))
    // flip masks 0 (the exact bucket), 1, 2, 4, … as one tiny literal
    // array exploded on the query side; XOR is oracle-expressible.
    val q = if (probes <= 0) q0 else q0
      .withColumn("__flip",
        explode(typedLit(0L +: Seq.tabulate(probes)(1L << _))))
      .withColumn("bucket", expr("bucket ^ __flip"))
      .drop("__flip")
    // Project to the (query, neighbor, cosine) triple BEFORE the
    // cross-group dedup: a candidate surfacing in g groups yields g
    // bit-identical cosines (same operands, same expression), so
    // dedup after the projection returns the same rows — but the
    // dedup exchange then carries 24 bytes/row instead of both
    // 64-dim vectors (~1 KB/row, a measured ~25× shuffle-volume
    // difference that exhausted local disk on the sf3 scaled-query
    // experiment). The redundant dot products this recomputes are
    // map-side arithmetic — orders of magnitude cheaper than the
    // shuffle bytes they avoid.
    val cand = q.join(exploded, Seq("grp", "bucket"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        (dot(col("qv"), col("v")) / (sqrt(col("qn")) * sqrt(col("__norm"))))
          .as("cosine"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Exact maximum-inner-product top-k (MIPS): for each query vector,
    * the k corpus vectors maximizing the RAW dot product — the
    * retrieval objective of recommender/two-tower models, where the
    * learned item norm IS part of the score and cosine's
    * normalization would erase it. Same inherent-cost baseline shape
    * as [[bruteTopK]] (query sample × corpus, sequential-fold dots,
    * deterministic (dot desc, id) ties); [[mipsLshTopK]] is the scale
    * arm.
    */
  def mipsTopK(df: DataFrame, idCol: String, vecCol: String,
               queryPred: Column, k: Int): DataFrame = {
    val base = df.select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("v"))
    val q = base.filter(queryPred).select(col("id").as("query_id"), col("v").as("qv"))
    val scored = q.join(base, col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        dot(col("qv"), col("v")).as("dot"))
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "dot", "rank")
  }

  /** [[mipsTopK]]'s scale arm: MIPS reduced to sign-LSH over
    * AUGMENTED vectors (Bachrach et al., RecSys'14 / Neyshabur &
    * Srebro, ICML'15). Sign-LSH buckets angles, but MIPS order is not
    * an angular order — a long vector beats a well-aligned short one
    * — so the corpus is lifted one dimension to
    * `x̂ = [x, sqrt(m² − ‖x‖²)]` (m² the max corpus squared norm),
    * making every `‖x̂‖` equal m, and the query to `q̂ = [q, 0]`: then
    * `cos(q̂, x̂) ∝ q·x`, so angular buckets over the lifted vectors
    * ARE inner-product buckets. Candidates share a lifted bucket in
    * ≥1 plane group (+ optional Hamming-1 probes, as [[lshTopK]]),
    * then exact 64-dim dots verify — identical output schema to the
    * brute form, per-query work = bucket occupancy instead of |C|.
    *
    * Determinism/oracle: m² is a max (no float-sum ambiguity), the
    * lift component is `sqrt(greatest(0, m² − ‖x‖²))` restated
    * verbatim in DuckDB, planes are [[md5Planes]] at dim+1, and the
    * query lift appends a literal 0.0 so both engines fold the same
    * 65 terms. Scale: the max-norm scalar is a broadcast (one row),
    * buckets are map-side, and only (grp, bucket) joins shuffle —
    * the lshTopK recipe with bits/group growing as log₂(corpus).
    */
  def mipsLshTopK(df: DataFrame, idCol: String, vecCol: String,
                  queryPred: Column, k: Int,
                  planes: Seq[Seq[Seq[Double]]], probes: Int = 0): DataFrame = {
    val base0 = withNorm(df.select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("v")), "v")
    val m2 = base0.agg(max(col("__norm")).as("__m2"))
    val base = base0.crossJoin(broadcast(m2))
    val corpus = base
      .withColumn("__buckets", bucketsAll(
        concat(col("v"), array(sqrt(greatest(lit(0.0), col("__m2") - col("__norm"))))),
        planes))
      .select(col("id"), col("v"), posexplode(col("__buckets")).as(Seq("grp", "bucket")))
    val q0 = base.filter(queryPred)
      .withColumn("__buckets", bucketsAll(concat(col("v"), array(lit(0.0))), planes))
      .select(col("id").as("query_id"), col("v").as("qv"),
        posexplode(col("__buckets")).as(Seq("grp", "bucket")))
    val q = if (probes <= 0) q0 else q0
      .withColumn("__flip",
        explode(typedLit(0L +: Seq.tabulate(probes)(1L << _))))
      .withColumn("bucket", expr("bucket ^ __flip"))
      .drop("__flip")
    // skinny projection before the cross-group dedup — the lshTopK
    // shuffle-volume discipline (bit-identical dots per group).
    val cand = q.join(corpus, Seq("grp", "bucket"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        dot(col("qv"), col("v")).as("dot"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("neighbor_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "dot", "rank")
  }

  /** Deterministic Lloyd k-means for IVF cell construction — the
    * missing first stage of the [[ivfTopK]] index (which takes cells
    * as given). Everything is pinned for engine-exact restatement:
    * seeds are the `k` smallest ids (distributed top-k, no RNG),
    * assignment is argmin of `‖v‖² + ‖c‖² − 2·v·c` with ties to the
    * smallest cell id, centroid updates are order-pinned element-wise
    * folds (vectors summed in id order), and empty cells keep their
    * previous centroid.
    *
    * Scale design (100 TB): centroids are k·dim doubles — driver
    * state by construction (the same O(small-metadata) pattern as
    * PrefixSum). Each iteration is one broadcast cross join (k per
    * row) + one per-cell aggregation; nothing ever shuffles the
    * vectors except the k-row centroid agg. The collected doubles
    * re-enter as exact binary literals, so iteration count does not
    * erode determinism.
    */
  def kmeansCells(df: DataFrame, idCol: String, vecCol: String,
                  k: Int, iters: Int): DataFrame = {
    val cents = lloydCentroids(df, idCol, vecCol, k, iters)
    assignCells(df, idCol, vecCol, cents)
  }

  /** The Lloyd loop of [[kmeansCells]], returning the centroids
    * themselves — reused by the product-quantization codebooks
    * ([[Pq]]), which need the centroid VALUES for asymmetric distance
    * tables, not just assignments. Identical pinned computation
    * (seed = k smallest ids, order-pinned element folds, empty cells
    * keep their previous centroid).
    */
  def lloydCentroids(df: DataFrame, idCol: String, vecCol: String,
                     k: Int, iters: Int): Seq[(Int, Seq[Double])] = {
    require(k > 0 && iters >= 0, s"need k>0, iters>=0; got k=$k iters=$iters")
    val base = withNorm(df.select(col(idCol).as("id"),
      toDoubleVec(col(vecCol)).as("v")), "v").persist()

    // seeds: the k smallest ids (TakeOrdered — distributed, no global sort)
    var cents: Seq[(Int, Seq[Double])] = base.orderBy("id").limit(k)
      .select("v").collect().toSeq
      .map(_.getSeq[Double](0)).zipWithIndex.map { case (v, i) => (i, v) }
    val dim = cents.head._2.length

    (0 until iters).foreach { _ =>
      val upd = assignOn(base, centFrame(df, cents))
        .join(base, col("vec_id") === col("id"))
        .groupBy("cell")
        .agg(sort_array(collect_list(struct(col("id"), col("v")))).as("lst"),
          count(lit(1)).as("cnt"))
        .select(col("cell"), transform(sequence(lit(0), lit(dim - 1)), i =>
          aggregate(col("lst"), lit(0.0),
            (acc, sv) => acc + element_at(sv.getField("v"), (i + 1).cast("int")))
            / col("cnt")).as("cv"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toMap
      cents = cents.map { case (j, old) => (j, upd.getOrElse(j, old)) }
    }
    base.unpersist()
    cents
  }

  /** One nearest-centroid assignment pass: `(vec_id, cell, dist)` with
    * dist = ‖v‖² + ‖c‖² − 2·v·c, ties to the smallest cell id.
    */
  def assignCells(df: DataFrame, idCol: String, vecCol: String,
                  cents: Seq[(Int, Seq[Double])]): DataFrame = {
    val base = withNorm(df.select(col(idCol).as("id"),
      toDoubleVec(col(vecCol)).as("v")), "v")
    assignOn(base, centFrame(df, cents))
  }

  /** JL-prefilter + exact re-rank ANN: shortlist each query's
    * `shortlist` nearest corpus rows by squared L2 in the `outDim`
    * Johnson–Lindenstrauss projection ([[EmbeddingStats.randomProject]]'s
    * md5 planes — 4× less arithmetic per pair at outDim = dim/4),
    * then score ONLY the shortlist with exact 64-d cosine. The
    * prefilter+rerank composition is the pattern FAISS/ScaNN pipelines
    * end with regardless of the coarse index (IVF, PQ, or — here —
    * a dense projection): candidates from a cheap space, the final
    * ranking from the exact one, so ranking quality degrades only
    * through shortlist misses (recall measured in SimilaritySpec),
    * never through score distortion.
    *
    * Deterministic end to end: projection dots are the rp_project
    * doubles, shortlist ranks tie on neighbor id, rerank is the
    * bruteTopK cosine — fully restated in the oracle.
    */
  def rpRerankTopK(df: DataFrame, idCol: String, vecCol: String,
                   queryPred: Column, k: Int, dim: Int = 64,
                   outDim: Int = 16, shortlist: Int = 32): DataFrame = {
    val planes = md5Planes(dim, groups = 1, bitsPerGroup = outDim).head
    // No persist: nothing here runs an eager action before the caller
    // executes the returned plan, so a persist/unpersist pair inside
    // this function would never be consulted (CacheManager lookup
    // happens at execution, after the unpersist) — both self-join
    // sides re-derive the skinny projection from the column-pruned
    // scan, which is the cheap part; the y-projection is outDim dots.
    val base = withNorm(df.select(col(idCol).cast("long").as("id"),
        toDoubleVec(col(vecCol)).as("v")), "v")
      .withColumn("y", transform(typedlit(planes), p => dot(col("v"), p)))
    val q = base.filter(queryPred)
      .select(col("id").as("query_id"), col("v").as("qv"),
        col("__norm").as("qn"), col("y").as("qy"))
    val l2p = aggregate(
      zip_with(col("qy"), col("y"), (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)
    val short = q.join(base, col("id") =!= col("query_id"))
      .select(col("query_id"), col("qv"), col("qn"),
        col("id").as("neighbor_id"), col("v"), col("__norm"),
        l2p.as("d2"))
    val sw = Window.partitionBy("query_id").orderBy(col("d2"), col("neighbor_id"))
    val cand = short.withColumn("srn", row_number().over(sw))
      .filter(col("srn") <= shortlist)
    val scored = cand.select(col("query_id"), col("neighbor_id"),
      (dot(col("qv"), col("v")) / (sqrt(col("qn")) * sqrt(col("__norm"))))
        .as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** [[rpRerankTopK]]'s scale form — the full FAISS-style funnel:
    * sign-LSH buckets GENERATE candidates (pair space = matching
    * buckets, never all-pairs), the 16-d JL projection CHEAPENS the
    * shortlist selection (outDim/dim of the arithmetic per candidate),
    * and exact 64-d cosine scores ONLY the shortlist — so returned
    * scores are exact (never distorted), recall degrades only through
    * bucket/shortlist misses, and every stage's work is bounded by
    * the previous stage's output.
    *
    * Shuffle discipline: candidate rows carry (id, y[outDim]) through
    * the bucket join — never the 64-d vectors (the dedup family's
    * measured 25–40× skinny-projection lesson); the shortlist is
    * deduped on (query, neighbor, d2) — d2 is bit-identical across
    * bucket groups (same operands, same fold) so the dedup is exact —
    * and the full vectors re-enter by two id equi-joins sized by the
    * SHORTLIST, not the candidate set.
    */
  def rpRerankBucketedTopK(df: DataFrame, idCol: String, vecCol: String,
                           queryPred: Column, k: Int,
                           planes: Seq[Seq[Seq[Double]]],
                           rpOutDim: Int = 16, shortlist: Int = 32): DataFrame = {
    val dim = planes.head.head.length
    val rp = md5Planes(dim, groups = 1, bitsPerGroup = rpOutDim).head
    val base = withNorm(df.select(col(idCol).cast("long").as("id"),
        toDoubleVec(col(vecCol)).as("v")), "v")
      .withColumn("y", transform(typedlit(rp), p => dot(col("v"), p)))
      .withColumn("__buckets", bucketsAll(col("v"), planes))
    val exploded = base.select(col("id"), col("y"),
      posexplode(col("__buckets")).as(Seq("grp", "bucket")))
    val q = exploded.filter(queryPred).select(col("id").as("query_id"),
      col("y").as("qy"), col("grp"), col("bucket"))
    val l2p = aggregate(
      zip_with(col("qy"), col("y"), (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)
    val cand = q.join(exploded, Seq("grp", "bucket"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"), l2p.as("d2"))
      .dropDuplicates("query_id", "neighbor_id")
    val sw = Window.partitionBy("query_id").orderBy(col("d2"), col("neighbor_id"))
    val short = cand.withColumn("srn", row_number().over(sw))
      .filter(col("srn") <= shortlist)
      .select("query_id", "neighbor_id")
    val vecs = base.select(col("id"), col("v"), col("__norm"))
    val scored = short
      .join(vecs.select(col("id").as("query_id"), col("v").as("qv"),
        col("__norm").as("qn")), "query_id")
      .join(vecs.select(col("id").as("neighbor_id"), col("v"), col("__norm")),
        "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("v")) / (sqrt(col("qn")) * sqrt(col("__norm"))))
          .as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Binary-quantization ANN — the 1-bit point of the compression
    * family (int8 → PQ → JL → THIS): each vector compresses to 64
    * sign bits against md5-derived hyperplanes (8 bytes — a 32×
    * smaller index than the float vectors), the prefilter is a brute
    * Hamming scan over the packed sketches (XOR + popcount, ~64×
    * cheaper per candidate than a float cosine and 60× skinnier
    * rows), and exact cosine scores only the top-`shortlist` — so
    * returned scores are exact, the binary code only selects. The
    * sketch is 2×32 bits (two BIGINTs), not 1×64: the engines must
    * agree on every packed value, and a 63-bit shift overflows
    * DuckDB's BIGINT while Spark wraps — 32-bit groups keep the whole
    * lattice inside both engines' exact range. Sign-sketch Hamming
    * approximates angle (Charikar 2002: P[bit differs] = θ/π), so
    * Hamming rank ≈ cosine rank on clustered geometry.
    *
    * Scale: the scan is linear-per-query like [[Pq.pqTopK]]'s ADC —
    * the deliberate compression-baseline shape; at corpus scale the
    * sketch slots into the bucket funnel as the SELECT stage exactly
    * as the JL projection does in [[rpRerankBucketedTopK]]. Shuffle
    * discipline: the all-pairs prefilter carries (id, s1, s2) only —
    * 24 bytes/row; full vectors re-enter by two shortlist-sized id
    * equi-joins.
    */
  def hammingRerankTopK(df: DataFrame, idCol: String, vecCol: String,
                        queryPred: Column, k: Int, dim: Int = 64,
                        shortlist: Int = 32): DataFrame = {
    val planes = md5Planes(dim, groups = 2, bitsPerGroup = 32)
    val base = withNorm(df.select(col(idCol).cast("long").as("id"),
        toDoubleVec(col(vecCol)).as("v")), "v")
      .withColumn("__sk", bucketsAll(col("v"), planes))
      .select(col("id"), col("v"), col("__norm"),
        element_at(col("__sk"), 1).as("s1"), element_at(col("__sk"), 2).as("s2"))
    val sk = base.select("id", "s1", "s2")
    val qsk = base.filter(queryPred).select(col("id").as("query_id"),
      col("s1").as("q1"), col("s2").as("q2"))
    val ham = qsk.join(sk, col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        (expr("bit_count(q1 ^ s1)") + expr("bit_count(q2 ^ s2)"))
          .cast("long").as("hamming"))
    val hw = Window.partitionBy("query_id").orderBy(col("hamming"), col("neighbor_id"))
    val short = ham.withColumn("hrn", row_number().over(hw))
      .filter(col("hrn") <= shortlist)
      .select("query_id", "neighbor_id", "hamming")
    val scored = short
      .join(base.select(col("id").as("query_id"), col("v").as("qv"),
        col("__norm").as("qn")), "query_id")
      .join(base.select(col("id").as("neighbor_id"), col("v").as("nv"),
        col("__norm").as("nn")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        (dot(col("qv"), col("nv")) / (sqrt(col("qn")) * sqrt(col("nn"))))
          .as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "hamming", "cosine", "rank")
  }

  /** [[hammingRerankTopK]]'s funnel form — the binary code in its
    * scale slot: sign-LSH buckets GENERATE candidates (pair space =
    * matching buckets, never all-pairs), the 2×32-bit sketch SELECTS
    * the shortlist (XOR + popcount over 24-byte candidate rows —
    * cheaper per candidate AND per shuffled byte than even the JL
    * funnel's 16-double projection), and exact cosine scores only the
    * shortlist. Same contract as [[rpRerankBucketedTopK]]: returned
    * scores exact, recall degrades only through bucket/shortlist
    * misses, every stage's work bounded by the previous stage's
    * output. Hamming is bit-identical across bucket groups (same
    * sketches, same popcount), so the cross-group dedup is exact.
    *
    * `probes` > 0 probes the Hamming-1 buckets of the first `probes`
    * bit positions QUERY-side (the [[lshTopK]] multi-probe shape,
    * Lv et al. VLDB'07): the recall the occupancy-constant bits lose
    * at scale comes back at (1+probes)× candidate cost with the index
    * unchanged — the other half of the measured scale recipe
    * (SCALE_DECADES_r6, probes and shortlist per the NOTES_r8 sweep).
    */
  def hammingRerankBucketedTopK(df: DataFrame, idCol: String, vecCol: String,
                                queryPred: Column, k: Int,
                                planes: Seq[Seq[Seq[Double]]],
                                shortlist: Int = 32,
                                probes: Int = 0): DataFrame = {
    val dim = planes.head.head.length
    val skPlanes = md5Planes(dim, groups = 2, bitsPerGroup = 32)
    val base = withNorm(df.select(col(idCol).cast("long").as("id"),
        toDoubleVec(col(vecCol)).as("v")), "v")
      .withColumn("__sk", bucketsAll(col("v"), skPlanes))
      .withColumn("s1", element_at(col("__sk"), 1))
      .withColumn("s2", element_at(col("__sk"), 2))
      .withColumn("__buckets", bucketsAll(col("v"), planes))
    val exploded = base.select(col("id"), col("s1"), col("s2"),
      posexplode(col("__buckets")).as(Seq("grp", "bucket")))
    val q0 = exploded.filter(queryPred).select(col("id").as("query_id"),
      col("s1").as("q1"), col("s2").as("q2"), col("grp"), col("bucket"))
    // flip masks 0 (exact bucket), 1, 2, 4, … exploded query-side only
    // — the corpus-side index never grows (lshTopK's probe shape)
    val q = if (probes <= 0) q0 else q0
      .withColumn("__flip",
        explode(typedLit(0L +: Seq.tabulate(probes)(1L << _))))
      .withColumn("bucket", expr("bucket ^ __flip"))
      .drop("__flip")
    val cand = q.join(exploded, Seq("grp", "bucket"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        (expr("bit_count(q1 ^ s1)") + expr("bit_count(q2 ^ s2)"))
          .cast("long").as("hamming"))
      .dropDuplicates("query_id", "neighbor_id")
    val sw = Window.partitionBy("query_id").orderBy(col("hamming"), col("neighbor_id"))
    val short = cand.withColumn("srn", row_number().over(sw))
      .filter(col("srn") <= shortlist)
      .select("query_id", "neighbor_id", "hamming")
    val vecs = base.select(col("id"), col("v"), col("__norm"))
    val scored = short
      .join(vecs.select(col("id").as("query_id"), col("v").as("qv"),
        col("__norm").as("qn")), "query_id")
      .join(vecs.select(col("id").as("neighbor_id"), col("v"), col("__norm")),
        "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        (dot(col("qv"), col("v")) / (sqrt(col("qn")) * sqrt(col("__norm"))))
          .as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "hamming", "cosine", "rank")
  }

  /** Top-`nprobe` nearest centroids per row (ties to smaller cell id)
    * — the IVF probe set; [[assignCells]] is the nprobe=1 case.
    * `(vec_id, cell)`, nprobe rows per input row.
    */
  def probeCells(df: DataFrame, idCol: String, vecCol: String,
                 cents: Seq[(Int, Seq[Double])], nprobe: Int): DataFrame = {
    val base = withNorm(df.select(col(idCol).as("id"),
      toDoubleVec(col(vecCol)).as("v")), "v")
    // per-row × per-cell distance dots are the hot loop (assignOn)
    val scored = base.crossJoin(broadcast(centFrame(df, cents)))
      .select(col("id").as("vec_id"), col("cell"),
        (col("__norm") + col("cn") - lit(2.0) * dot(col("v"), col("cv")))
          .as("dist"))
    val w = Window.partitionBy("vec_id").orderBy(col("dist"), col("cell"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nprobe)
      .select("vec_id", "cell")
  }

  private def centFrame(df: DataFrame, cents: Seq[(Int, Seq[Double])]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    cents.toDF("cell", "cv").withColumn("cn", dot(col("cv"), col("cv")))
  }

  private def assignOn(base: DataFrame, cdf: DataFrame): DataFrame = {
    // assignment is the n×k hot loop of every Lloyd call (kmeans
    // cells, IVF builds, PQ codebooks): the native dot is ~75× the HOF
    // fold per dot at the SAME IEEE accumulation order — measured on
    // ann_ivf_scaled (NOTES_r8)
    val scored = base.crossJoin(broadcast(cdf))
      .select(col("id").as("vec_id"), col("cell"),
        (col("__norm") + col("cn") - lit(2.0) * dot(col("v"), col("cv")))
          .as("dist"))
    val w = Window.partitionBy("vec_id").orderBy(col("dist"), col("cell"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** Symmetric per-vector int8 scalar quantization (the FAISS `SQ8`
    * shape, public knowledge): scale = max|x| / 127, code =
    * round(x / scale). At 100 TB this is the memory play that makes
    * vector search feasible — 4× smaller vectors, integer dot
    * products; cosine over the codes needs no dequantization because
    * the per-vector scales cancel in the ratio.
    *
    * Determinism: rounding is written as `floor(x/s + 0.5)` — plain
    * IEEE ops the oracle restates verbatim (`round()` half-even vs
    * half-up varies by engine, floor does not). Spark's `floor`
    * returns LongType, so `qvec` is a true integer array (|code| ≤
    * 127) and every downstream dot product over it is exact in
    * doubles. The 1e-30 floor guards the all-zero vector.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = toDoubleVec(col(vecCol))
    df.select(col(idCol), v.as("__v"))
      .withColumn("__scale",
        greatest(array_max(transform(col("__v"), x => abs(x))), lit(1e-30)) / 127.0)
      .select(col(idCol),
        transform(col("__v"), x => floor(x / col("__scale") + lit(0.5))).as("qvec"),
        col("__scale").as("scale"))
  }
}
