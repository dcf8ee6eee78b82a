package graft.llm

import org.apache.spark.sql.{Column, DataFrame}

/** Measured scale laws from `SCALE_DECADES_r6.json` packaged as
  * parameter policies, so a library user gets the knob growth the
  * two-decade experiments showed is REQUIRED rather than re-deriving
  * it per corpus:
  *
  *  - LSH sign-bucket occupancy is corpus/2^bits per group; holding it
  *    constant (the flat-time arm across sf1→sf3→sf10: 2.03 → 2.90 →
  *    3.56 s at 500 queries) needs `bits ≈ log₂(corpus / occupancy)`.
  *    Every FIXED-bits arm grew linearly per query with corpus
  *    (16×6: 2.37 → 2.90 → 5.54 s), which is quadratic total work in
  *    the queries-∝-corpus regime the driver queries run in.
  *  - Hamming-1 multi-probe alone cannot hold RECALL at constant
  *    occupancy once bits grow (collision mass p^bits decays
  *    exponentially: measured 0.760 at 16×10+p10/20k but 0.530 at
  *    16×13+p13/200k on the deliberately hard synthetic geometry);
  *    OR-amplification must grow with the bit delta — 32×13+p13
  *    restored 0.751 at 200k. Measured rate: ~2× groups per +3 bits.
  *  - Block-bounded pair operators ([[Similarity.knnGraph]] etc.)
  *    need `refineBlock` bits growing the same way: the FIXED b3
  *    recipe was itself quadratic one decade later (1.62 → 4.15 →
  *    44.5 s) while `3 + log₂(n/20k)` stayed flat (1.62 / 1.34 /
  *    2.62 s) at 91 % of in-block-optimal mean edge cosine.
  *  - The binary-sketch FUNNEL is not the LSH family (r8 sweep,
  *    NOTES_r8): its recall lives in the 64-bit-sketch shortlist,
  *    not the probe set — probes flatten at 4 and shortlist 256 is
  *    the ~corpus-invariant recall plateau, so [[hammingRerankAuto]]
  *    pins (min(4, bits) probes, 256 shortlist) rather than
  *    probes = bits.
  *  - IVF cells are the same occupancy knob ([[ivfCellsFor]]): fixed
  *    cells make probes linear in corpus AND skew the cell equi-join
  *    (8 keys cannot occupy 32 cores — the r6 IVF-PQ decade).
  *
  * The driver queries keep their pinned parameters (their DuckDB
  * oracles restate the exact planes); these policies are the
  * production entry point where corpus size is a runtime quantity.
  */
object ScalePolicy {

  /** Bits per LSH group holding expected bucket occupancy at
    * `targetOccupancy` rows: round(log₂(corpus / targetOccupancy)),
    * clamped to [4, 20]. Anchors (occupancy 20): 20k→10, 60k→12,
    * 200k→13 — the measured flat-time arms.
    */
  def lshBitsFor(corpus: Long, targetOccupancy: Int = 20): Int = {
    require(corpus > 0, s"corpus must be positive, got $corpus")
    require(targetOccupancy > 0, s"targetOccupancy must be positive, got $targetOccupancy")
    val raw = math.round(math.log(corpus.toDouble / targetOccupancy) / math.log(2)).toInt
    math.max(4, math.min(20, raw))
  }

  /** OR-amplification matching the measured recall-restoration rate:
    * double the groups for every 3 bits beyond the 16×10 anchor
    * (never below `baseGroups`). Anchors: bits 10→16 groups,
    * bits 13→32 (the 200k arm that restored recall 0.751 at constant
    * occupancy).
    */
  def lshGroupsFor(bits: Int, baseBits: Int = 10, baseGroups: Int = 16): Int = {
    require(bits >= 1, s"bits must be >= 1, got $bits")
    val doublings = math.max(0, math.ceil((bits - baseBits) / 3.0).toInt)
    baseGroups << doublings
  }

  /** [[Similarity.lshTopK]] with planes, probes, and amplification
    * derived from the corpus size by the measured policies. Probes =
    * bits (all Hamming-1 buckets — query-side only, index unchanged).
    */
  def lshTopKAuto(df: DataFrame, idCol: String, vecCol: String,
                  queryPred: Column, k: Int, corpus: Long, dim: Int = 64,
                  targetOccupancy: Int = 20): DataFrame = {
    val bits = lshBitsFor(corpus, targetOccupancy)
    val groups = lshGroupsFor(bits)
    Similarity.lshTopK(df, idCol, vecCol, queryPred, k,
      Similarity.md5Planes(dim, groups, bits), probes = bits)
  }

  /** [[Similarity.mipsLshTopK]] under the SAME occupancy policies as
    * [[lshTopKAuto]]: the r12 sweep measured the LIFTED space
    * following the cosine occupancy law (SCALE_DECADES_r12
    * `mips_lift_occupancy_law` — fixed 16×6 grows 3.8× over the
    * 20k→200k decade while finer-bits+probes beats it on both time
    * and recall), so the bits/groups/probes knobs transfer unchanged;
    * only the planes move to dim+1 for the lift component.
    */
  def mipsTopKAuto(df: DataFrame, idCol: String, vecCol: String,
                   queryPred: Column, k: Int, corpus: Long, dim: Int = 64,
                   targetOccupancy: Int = 20): DataFrame = {
    val bits = lshBitsFor(corpus, targetOccupancy)
    val groups = lshGroupsFor(bits)
    Similarity.mipsLshTopK(df, idCol, vecCol, queryPred, k,
      Similarity.md5Planes(dim + 1, groups, bits), probes = bits)
  }

  /** Refinement bits holding expected rows-per-block at or BELOW
    * `targetRows`: ceil(log₂(corpus / blocks / targetRows)), floored
    * at 0 (no refinement for corpora the base blocking already
    * bounds). Ceil, not round — pair work is quadratic in occupancy,
    * so erring on the finer side is the cheap direction. Anchors
    * (10 blocks, target 250): 20k→3, 60k→5, 200k→7 — the flat-time
    * decade arms.
    */
  def blockBitsFor(corpus: Long, blocks: Int, targetRows: Int = 250): Int = {
    require(corpus > 0 && blocks > 0 && targetRows > 0,
      s"corpus/blocks/targetRows must be positive, got $corpus/$blocks/$targetRows")
    val perBlock = corpus.toDouble / blocks
    if (perBlock <= targetRows) 0
    else math.min(20, math.ceil(math.log(perBlock / targetRows) / math.log(2)).toInt)
  }

  /** Block key for [[Similarity.knnGraph]]-family operators with the
    * refinement bits derived from corpus size: the base block column
    * unchanged when occupancy is already bounded, else refined by
    * [[Similarity.refineBlock]] with [[blockBitsFor]] bits.
    */
  def refinedBlockAuto(blockCol: Column, vecCol: Column,
                       corpus: Long, blocks: Int,
                       targetRows: Int = 250): Column = {
    val bits = blockBitsFor(corpus, blocks, targetRows)
    if (bits == 0) blockCol.cast("string")
    else Similarity.refineBlock(blockCol, vecCol, bits)
  }

  /** SemDeDup cluster count holding expected cell occupancy at
    * `targetRows`: ceil(corpus / targetRows), min 2 — the same
    * quadratic-pair-space law as [[blockBitsFor]] applied to k-means
    * cells (pair work is Σ cell² ≈ n²/k with fixed k; the sf1 screen
    * measured pinned k=8 at 4.3× for 10× data while the k=32 arm cut
    * it ~2×, BENCH_SF1_r6; SemDeDup itself runs k=50k on LAION-440M,
    * i.e. occupancy ~9k). Ceil errs toward more cells — the cheap
    * direction for quadratic work.
    */
  def semanticCellsFor(corpus: Long, targetRows: Int = 640): Int = {
    require(corpus > 0 && targetRows > 0,
      s"corpus/targetRows must be positive, got $corpus/$targetRows")
    math.max(2, math.ceil(corpus.toDouble / targetRows).toInt)
  }

  /** [[SemDedup.semanticDedup]] with the cluster count derived from
    * the corpus size.
    */
  def semanticDedupAuto(df: DataFrame, idCol: String, vecCol: String,
                        corpus: Long, tau: Double, iters: Int = 1,
                        targetRows: Int = 640): DataFrame =
    SemDedup.semanticDedup(df, idCol, vecCol,
      semanticCellsFor(corpus, targetRows), iters, tau)

  /** Planes for the LABEL-family bucketed arms
    * ([[Similarity.hardNegativesBucketed]] /
    * [[Similarity.knnClassifyBucketed]]) derived from corpus size:
    * occupancy-constant bits + OR-amplified groups, the lshTopKAuto
    * pairing (the Auto entry points additionally probe Hamming-1
    * buckets query-side, probes = bits — recall restoration at
    * (1+bits)x query cost, index unchanged). The driver queries pin 16×6 (their oracles restate the
    * exact planes); at 200k vectors the pinned planes were measured
    * quadratic (93.6 s vs the policy arm — NOTES_r7 /
    * SCALE_DECADES_r7), the same law as every other fixed-bits member.
    */
  def labelPlanesFor(corpus: Long, dim: Int = 64,
                     targetOccupancy: Int = 20): Seq[Seq[Seq[Double]]] = {
    val bits = lshBitsFor(corpus, targetOccupancy)
    Similarity.md5Planes(dim, lshGroupsFor(bits), bits)
  }

  /** [[Similarity.hardNegativesBucketed]] with [[labelPlanesFor]]
    * planes.
    */
  def hardNegativesAuto(df: DataFrame, idCol: String, vecCol: String,
                        labelCol: String, queryPred: Column, k: Int,
                        corpus: Long, dim: Int = 64,
                        targetOccupancy: Int = 20): DataFrame =
    Similarity.hardNegativesBucketed(df, idCol, vecCol, labelCol, queryPred,
      k, labelPlanesFor(corpus, dim, targetOccupancy),
      probes = lshBitsFor(corpus, targetOccupancy))

  /** [[Similarity.knnClassifyBucketed]] with [[labelPlanesFor]]
    * planes.
    */
  def knnClassifyAuto(df: DataFrame, idCol: String, vecCol: String,
                      labelCol: String, queryPred: Column, k: Int,
                      corpus: Long, dim: Int = 64,
                      targetOccupancy: Int = 20): DataFrame =
    Similarity.knnClassifyBucketed(df, idCol, vecCol, labelCol, queryPred,
      k, labelPlanesFor(corpus, dim, targetOccupancy),
      probes = lshBitsFor(corpus, targetOccupancy))

  /** IVF coarse-cell count holding per-cell occupancy near
    * `targetRows`, rounded to a power of two:
    * 2^round(log₂(corpus/targetRows)), clamped to [2, 2²⁰] — the
    * [[semanticCellsFor]] law applied to IVF probing (per-query
    * candidate work is corpus·nprobe/cells, so fixed cells make the
    * probe linear in corpus; the r6 IVF-PQ decade additionally
    * measured fixed-8-cell SKEW losing at 60k — 8 join keys cannot
    * occupy 32 cores). Anchors: 500→2⁰·… ≈ 2, 2 000→8 (the pinned
    * kmeans_cells arm), 20 000→64 (the measured ann_ivfpq_scaled
    * arm), 200 000→512.
    */
  def ivfCellsFor(corpus: Long, targetRows: Int = 320): Int = {
    require(corpus > 0 && targetRows > 0,
      s"corpus/targetRows must be positive, got $corpus/$targetRows")
    val raw = math.log(corpus.toDouble / targetRows) / math.log(2)
    1 << math.max(1, math.min(20, math.round(raw).toInt))
  }

  /** IVF-exact ANN with the cell count derived from the corpus size:
    * deterministic Lloyd cells ([[Similarity.kmeansCells]],
    * `ivfCellsFor` seeds), then [[Similarity.ivfTopK]] probing
    * `nprobe` cells with exact cosine — the policy entry point whose
    * pinned-parameter driver twin is `ann_ivf_scaled`.
    */
  def ivfTopKAuto(df: DataFrame, idCol: String, vecCol: String,
                  queryPred: Column, k: Int, corpus: Long, dim: Int = 64,
                  nprobe: Int = 4, iters: Int = 1,
                  targetRows: Int = 320): DataFrame = {
    val cells = Similarity.kmeansCells(df, idCol, vecCol,
        ivfCellsFor(corpus, targetRows), iters)
      .select(org.apache.spark.sql.functions.col("vec_id").as("__kid"),
        org.apache.spark.sql.functions.col("cell"))
    val withCell = df.join(cells,
      org.apache.spark.sql.functions.col(idCol) ===
        org.apache.spark.sql.functions.col("__kid")).drop("__kid")
    Similarity.ivfTopK(withCell, idCol, vecCol, "cell", queryPred, k, dim, nprobe)
  }

  /** Probe count for the binary-sketch funnel: min(4, bits). The
    * funnel has a second gate the LSH family lacks — the 64-bit
    * sketch shortlist — so probes mostly feed candidates into the cut
    * that discards them: measured at 200k (NOTES_r8 sweep),
    * probes 0→4 buys recall 0.247→0.335 at +6 s while 4→13 buys
    * +0.023 at +6.7 s. Four is where the probe curve flattens at
    * every shortlist measured.
    */
  def hammingProbesFor(bits: Int): Int = math.min(4, bits)

  /** Sketch-shortlist width for the funnel: 256. Measured (NOTES_r8):
    * the rerank is shortlist-bounded so widening 64→256 is ~free at
    * fixed corpus (12.1→13.6 s at 200k; FASTER within noise at
    * 20k/60k), while recall at (policy planes, p4, sl256) is roughly
    * corpus-invariant across three decades (0.375/0.335/0.335 at
    * 20k/60k/200k) — the constant-recall scale point, equal to the
    * flat scan's own sketch-ceiling recall (0.332 at sl256) at 3.7×
    * less time. The 2×32-bit sketch's resolving power is fixed, so
    * holding recall while the corpus grows is the shortlist's job,
    * not the probes'.
    */
  val HammingShortlist = 256

  /** Measured recall-vs-shortlist law of the binary-sketch funnel at
    * the policy planes and [[hammingProbesFor]] probes (r9 sweep,
    * SCALE_DECADES_r9: recall@5 vs brute, 200-query slices, three
    * decades 20k/60k/200k). Each anchor is the MINIMUM across the
    * decades — the conservative face of a law that is roughly
    * corpus-invariant at every width (±0.05):
    *
    *   shortlist:  64    128   256   512   1024  2048
    *   recall:    0.147 0.223 0.301 0.374 0.423 0.440
    *
    * Log-linear at ~+0.07/doubling through 512, then SATURATING: the
    * 1024→2048 doubling buys +0.003..+0.017 at up to 1.4× the time.
    * The ceiling is the GENERATE stage's candidate recall — a true
    * neighbor sharing no bucket with the query in any group can never
    * enter the shortlist, so past ~0.44 the shortlist is no longer the
    * binding constraint. A user who needs 0.5+ recall cannot buy it
    * with this knob: they need more bucket mass (more groups/probes at
    * linear index/query cost) or the exact paths
    * ([[Similarity.rpRerankTopK]] wider shortlists /
    * [[Similarity.bruteTopK]]).
    */
  val ShortlistRecall: Seq[(Int, Double)] = Seq(
    64 -> 0.147, 128 -> 0.223, 256 -> 0.301, 512 -> 0.374,
    1024 -> 0.423, 2048 -> 0.440)

  /** The per-corpus anchors behind [[ShortlistRecall]] (the same r9
    * sweep, SCALE_DECADES_r9 `recall_vs_shortlist`; policy planes +
    * p4 probes at each decade). [[ShortlistRecall]] takes the MINIMUM
    * of these at every width — the 60k corpus is the worst face
    * throughout — so the law the refusal contract promises is
    * conservative BY CONSTRUCTION: every measured corpus meets or
    * exceeds the table's recall at each width (ScalePolicySpec pins
    * the min-envelope identity against these anchors).
    */
  val ShortlistRecallByCorpus: Map[Long, Seq[(Int, Double)]] = Map(
    20000L -> Seq(64 -> 0.193, 128 -> 0.272, 256 -> 0.355,
      512 -> 0.423, 1024 -> 0.476, 2048 -> 0.479),
    60000L -> Seq(64 -> 0.147, 128 -> 0.223, 256 -> 0.301,
      512 -> 0.374, 1024 -> 0.423, 2048 -> 0.440),
    200000L -> Seq(64 -> 0.243, 128 -> 0.276, 256 -> 0.335,
      512 -> 0.385, 1024 -> 0.432, 2048 -> 0.450))

  /** Smallest measured shortlist width whose conservative recall
    * anchor meets `targetRecall` — the [[ShortlistRecall]] law as a
    * knob. Throws (with the measured ceiling in the message) for
    * targets past what the funnel can reach at any width, so the
    * recall budget is an explicit, refusable contract rather than a
    * silent shortfall. The promise is the worst measured corpus's
    * ([[ShortlistRecallByCorpus]]): a returned width may over-deliver
    * on other corpora, never under-deliver on a measured one.
    */
  def shortlistFor(targetRecall: Double): Int = {
    require(targetRecall > 0, s"targetRecall must be positive, got $targetRecall")
    ShortlistRecall.collectFirst { case (sl, r) if r >= targetRecall => sl }
      .getOrElse(throw new IllegalArgumentException(
        f"targetRecall=$targetRecall%.3f exceeds the funnel's measured " +
          f"ceiling ${ShortlistRecall.last._2}%.3f (shortlist saturates at " +
          "the bucket-stage candidate recall — use more plane groups, " +
          "rpRerankTopK, or bruteTopK for higher recall)"))
  }

  /** [[Similarity.hammingRerankBucketedTopK]] with every knob derived
    * from the corpus size — the policy entry point of the binary-
    * sketch funnel (r7 finding: at 200k vectors the PINNED 16×6
    * funnel LOSES even to the flat popcount scan, 54.6 vs 38.3 s,
    * while policy planes win 4.1× —
    * `SCALE_DECADES_r7.json.hamming_arm_decades`). GENERATE stage:
    * the occupancy law [[lshTopKAuto]] packages (bits ≈
    * log₂(corpus/occupancy), groups OR-amplified ~2× per +3 bits).
    * SELECT stage: [[hammingProbesFor]] probes and the
    * [[HammingShortlist]] cut — NOT probes = bits: the r8 sweep
    * measured the funnel's recall living in the shortlist, with
    * probes flattening at 4 (the sketch gate discards what extra
    * probes admit). At the derived knobs the funnel matches the flat
    * popcount scan's recall (0.335 vs 0.332 at 200k) at 3.7× less
    * time, growing 5.4× per 10× corpus in the queries-∝-corpus
    * regime.
    */
  def hammingRerankAuto(df: DataFrame, idCol: String, vecCol: String,
                        queryPred: Column, k: Int, corpus: Long,
                        dim: Int = 64, targetOccupancy: Int = 20,
                        targetRecall: Option[Double] = None): DataFrame = {
    val bits = lshBitsFor(corpus, targetOccupancy)
    Similarity.hammingRerankBucketedTopK(df, idCol, vecCol, queryPred, k,
      Similarity.md5Planes(dim, lshGroupsFor(bits), bits),
      shortlist = targetRecall.map(shortlistFor).getOrElse(HammingShortlist),
      probes = hammingProbesFor(bits))
  }
}
