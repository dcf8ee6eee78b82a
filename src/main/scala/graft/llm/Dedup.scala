package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextHash._

/** Deduplication operators for training-data pipelines: exact
  * (hash-groupBy), MinHash-LSH near-dup (shingle → minhash → band →
  * bucket-join → exact-Jaccard verify), and SimHash.
  *
  * Scale design (100 TB):
  * - exact: one hash shuffle on the normalized-text digest; group
  *   payload is ids only.
  * - minhash: signatures are computed map-side by the fused
  *   `minhash_sig` kernel (no shuffle, no UDF); the only shuffle is the
  *   band-bucket self-join, keyed by (band index, band hash) — the
  *   standard LSH trick that replaces the O(n²) pair space with
  *   per-bucket candidate generation. Hot buckets (boilerplate docs)
  *   are the skew risk: cap candidates per bucket or salt in a
  *   production run; kept exact here.
  * - simhash: map-side 60-bit signature; banded (4 × 15 bits) bucket
  *   join for candidates, then popcount(xor) Hamming verify.
  */
object Dedup {

  /** Exact dedup groups over normalized text: one row per distinct
    * normalized form with representative (min id) and group size.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(normalize(col(textCol))).as("text_hash"))
      .groupBy("text_hash")
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("group_size"))

  /** MinHash signature from a materialized token-hash array column:
    * `numPerm` affine permutations `(h·a_j + b_j) mod P` (P = 2³¹−1) with
    * `a_j = 1 + 7919·j`, `b_j = 1 + 104729·j` — literal constants so
    * the oracle can restate them — folded to their minima, in one pass
    * through the fused `minhash_sig` kernel (graft.functions.MinHashSig;
    * the nested HOF form re-walks the array numPerm times through
    * interpreted lambdas). VectorExpressionsSpec pins it bit-for-bit
    * to that HOF form.
    */
  def minhashSignature(hashesCol: Column, numPerm: Int): Column =
    call_function("minhash_sig", hashesCol, lit(numPerm))

  /** |A ∩ B| on distinct long-array sets through the `intersect_card`
    * probe-table kernel — `size(array_intersect(a, b))` without the
    * intermediate array (VectorExpressionsSpec).
    */
  def intersectCard(a: Column, b: Column): Column =
    call_function("intersect_card", a, b)

  /** Distinct token-hash set `array_distinct(transform(toks, h32))` in
    * one pass through the `wordgram_h32` kernel (n=1 word "grams", no
    * prefix/mod — see graft.functions.TextHashKernels; per-token md5 →
    * hex → conv through an interpreted HOF is the measured map-side
    * cost of the minhash family). Equal to that HOF incl.
    * first-occurrence dedup order (TextHashExpressionsSpec).
    */
  def wordHashSet(toks: Column): Column =
    call_function("wordgram_h32", toks, lit(1), lit(""), lit(0L), lit(true))

  /** Fold `rows` signature values per band into one bucket hash
    * (base-31 accumulation; init 0 ⇒ identical to DuckDB's init-free
    * list_reduce since 0·31+m₀ = m₀).
    */
  def bandHashes(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      aggregate(slice(sig, b * rows + 1, lit(rows)), lit(0L), (acc, m) => acc * 31L + m))

  /** Drop rows of (band_idx, band_hash) buckets holding more than
    * `cap` members — a bucket shared by hundreds of documents is a
    * non-discriminative band (boilerplate), and its O(c²) pair blowup
    * is the classic LSH skew failure at scale. Deterministic (count
    * depends only on data), mirrored in the oracle SQL.
    */
  private def capBuckets(buckets: DataFrame, cap: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band_idx", "band_hash")
    buckets.withColumn("__bc", count(lit(1)).over(w))
      .filter(col("__bc") <= cap)
      .drop("__bc")
  }

  /** Near-duplicate pairs via MinHash-LSH with exact-Jaccard
    * verification: returns (id_a, id_b, jaccard) with id_a < id_b and
    * jaccard ≥ tau, deduplicated across bands. Buckets larger than
    * `maxBucket` are skipped (see [[capBuckets]]).
    */
  def minHashNearDups(df: DataFrame, idCol: String, textCol: String,
                      numPerm: Int, bands: Int, tau: Double,
                      maxBucket: Int = 64): DataFrame = {
    // |A∪B| = |A|+|B|−|A∩B| from precomputed sizes — one set op per
    // pair instead of two, and the intersection is a cardinality-only
    // native kernel (no intermediate array).
    jaccardVerify(
      minhashCandidates(df, idCol, textCol, numPerm, bands, maxBucket), tau)
  }

  /** Containment near-dups over the SAME banded candidates:
    * |A∩B| / min(|A|,|B|) ≥ tau — the asymmetric measure that catches
    * a small document embedded verbatim in a large one, where Jaccard
    * stays low (|A∩B|/|A∪B| shrinks with the size ratio). Candidate
    * recall is still minhash-LSH (tuned for Jaccard): a containment
    * pair with an extreme size ratio ALSO has low signature agreement,
    * so this surfaces moderate-ratio containment — the honest scope of
    * minhash banding (size-stratified hashing is the extreme-ratio
    * tool; the oracle applies identical candidates, so Spark and
    * DuckDB agree exactly either way).
    */
  def minHashContainment(df: DataFrame, idCol: String, textCol: String,
                         numPerm: Int, bands: Int, tau: Double,
                         maxBucket: Int = 64): DataFrame =
    minhashCandidates(df, idCol, textCol, numPerm, bands, maxBucket)
      .withColumn("containment",
        col("inter").cast("double") /
          least(col("na"), col("nb")).cast("double"))
      .filter(col("containment") >= tau)
      .select("id_a", "id_b", "containment")

  /** Incremental near-dup maintenance: the pairs a NEW ingest batch
    * (rows where `deltaCol` is true) forms against the WHOLE corpus —
    * without ever re-pairing history against itself. Band buckets
    * containing no delta doc are skipped wholesale
    * (semi-join on the delta's bucket keys), and surviving pairs must
    * carry ≥ 1 delta side, so per-batch work scales with the delta's
    * bucket footprint, not |history|². At production scale the banded
    * signature table IS the persisted index — history's signatures are
    * read back, only the delta's are computed.
    *
    * Exactly equals the full run's pairs restricted to delta-touching
    * ones: bucket capping counts FULL membership before the
    * restriction, and any (delta, old) pair shares a bucket that by
    * definition contains the delta doc (DedupSpec property + the
    * dedup_incremental oracle).
    */
  def minHashNearDupsIncremental(df: DataFrame, idCol: String, textCol: String,
                                 deltaCol: String, numPerm: Int, bands: Int,
                                 tau: Double, maxBucket: Int = 64): DataFrame = {
    // the ONE shared bucket builder (capping counts full membership
    // here, before any restriction — load-bearing for exactness)
    val capped = bandedBuckets(df, idCol, textCol, numPerm, bands, maxBucket,
      extraCols = Seq(deltaCol))
    val deltaBuckets = capped.filter(col(deltaCol))
      .select("band_idx", "band_hash").distinct()
    val restricted = capped
      .join(deltaBuckets, Seq("band_idx", "band_hash"), "left_semi")
    jaccardVerify(
      bucketPairs(restricted, col(s"a.$deltaCol") || col(s"b.$deltaCol")), tau)
  }

  /** The banded signature table behind every minhash variant —
    * (id, hs, band_idx, band_hash) + `extraCols` carried through,
    * skew-capped and persisted (self-joins would otherwise recompute
    * the md5 hashing + signatures per side; at production scale
    * write this table out — it IS the persisted LSH index). The exact
    * verify runs on the hashed-long token sets (`hs`), not the
    * strings: primitive intersects, 8-byte shuffle payloads
    * (collisions, if any, perturb the oracle identically).
    */
  private def bandedBuckets(df: DataFrame, idCol: String, textCol: String,
                            numPerm: Int, bands: Int, maxBucket: Int,
                            extraCols: Seq[String] = Nil): DataFrame = {
    val rows = numPerm / bands
    val docs = df.select((col(idCol).as("id") +: extraCols.map(col)) :+
        wordSet(col(textCol)).as("toks"): _*)
      .withColumn("hs", wordHashSet(col("toks")))
      .withColumn("sig", minhashSignature(col("hs"), numPerm))
      .withColumn("bands", bandHashes(col("sig"), bands, rows))
    capBuckets(docs.select((col("id") +: extraCols.map(col)) ++ Seq(col("hs"),
        posexplode(col("bands")).as(Seq("band_idx", "band_hash"))): _*), maxBucket)
      .persist()
  }

  /** Deduplicated (id_a < id_b) bucket-sharing pairs with their exact
    * overlap stats (inter, na, nb); `pairCond` adds variant-specific
    * join constraints. The intersection cardinality and set sizes are
    * computed BEFORE the cross-band dedup: a pair sharing g bands
    * yields g bit-identical stat rows, so deduping after the
    * projection returns the same pairs — but the dedup exchange then
    * carries three scalars instead of BOTH token-hash sets (the same
    * skinny-shuffle rule as Similarity.lshTopK; with ~1 KB of hashes
    * per side, that is a ~2-orders-of-magnitude shuffle-byte cut at
    * the cost of re-running the map-side intersection kernel on the
    * ≤(bands−1)/bands duplicate fraction).
    */
  private def bucketPairs(buckets: DataFrame,
                          pairCond: Column = lit(true)): DataFrame =
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.id") < col("b.id") && pairCond)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        intersectCard(col("a.hs"), col("b.hs")).as("inter"),
        size(col("a.hs")).as("na"), size(col("b.hs")).as("nb"))
      .dropDuplicates("id_a", "id_b")

  /** Exact-Jaccard verify tail shared by all pair variants. */
  private def jaccardVerify(pairs: DataFrame, tau: Double): DataFrame =
    pairs
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= tau)
      .select("id_a", "id_b", "jaccard")

  private def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                                numPerm: Int, bands: Int,
                                maxBucket: Int): DataFrame =
    bucketPairs(bandedBuckets(df, idCol, textCol, numPerm, bands, maxBucket))

  /** The banded signature table as a PUBLIC product — (id, hs,
    * band_idx, band_hash), corpus-side skew-capped and persisted.
    * This is the LSH index a production pipeline writes out once per
    * corpus build and serves lookups from; [[graft.stream.StreamDedup]]
    * probes it from a stream. Same table every batch variant here
    * builds internally.
    */
  def bandedIndex(df: DataFrame, idCol: String, textCol: String,
                  numPerm: Int, bands: Int, maxBucket: Int = 64): DataFrame =
    bandedBuckets(df, idCol, textCol, numPerm, bands, maxBucket)

  /** 60-bit SimHash over a materialized token-hash array (h60 per
    * distinct token): bit j is set when the +1/−1 vote sum of
    * token-hash bits j is positive. One pass through the
    * `simhash_native` kernel (graft.functions.SimHash); the 60-fold
    * HOF form it replaces re-walks the array once per bit.
    * VectorExpressionsSpec pins the two bit-for-bit.
    */
  def simhash(hashes: Column): Column = call_function("simhash_native", hashes)

  /** SimHash near-dup pairs: banded 15-bit buckets (any shared band ⇒
    * candidate), Hamming distance popcount(xor) ≤ maxDist.
    */
  def simHashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxDist: Int, maxBucket: Int = 64): DataFrame = {
    val docs = df
      .select(col(idCol).as("id"),
        call_function("h60_array", wordSet(col(textCol))).as("hs"))
      .select(col("id"), simhash(col("hs")).as("sim"))
    val banded = capBuckets(docs.select(col("id"), col("sim"),
      posexplode(transform(sequence(lit(0), lit(3)), b =>
        call_function("shiftright", col("sim"), b.cast("int") * 15).bitwiseAND(32767L)))
        .as(Seq("band_idx", "band_hash"))), maxBucket)
      .persist()
    banded.as("a")
      .join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sim").as("sim_a"), col("b.sim").as("sim_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "sim_a", "sim_b", "hamming")
  }

  /** Connected components by large-star/small-star alternation
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): every node's representative is the smallest id in its
    * component. `DedupSpec` property-tests label equality with the
    * iterative min-label propagation kept in the test tree
    * (`ComponentsReference`), strict guard included.
    *
    * Each round rewrites the EDGE SET instead of propagating labels:
    *  - large-star(u): every neighbor v > u re-attaches to
    *    m = min(Γ(u) ∪ {u}) — one neighborhood aggregate + one join;
    *  - small-star(u): every neighbor v ≤ u (and u itself) attaches to
    *    the min of the ≤-side neighborhood.
    * The fixpoint is a star forest: every node's single edge points at
    * its component minimum. Convergence is O(log d) rounds vs
    * min-label propagation's O(d) — the asymptotic win the paper
    * proves — with two wide phases per round over a table that is
    * EDGE-sized and shrinking, where propagation's per-round state is
    * node-sized and static.
    *
    * Measured at sf0.1 (32 threads, minhash pair graph of the
    * dedup_clusters query, 1775 pairs / 5000 docs): propagation
    * 5.0 s warm, star alternation 3.0 s warm — the star form WINS
    * even on this shallow clique-ish family (unlike the broadcast and
    * pointer-doubling alternatives, which lost): near-dup components
    * converge in one star round, and a round's two phases + one
    * equality check cost less than propagation's three checkpointed
    * rounds + counts. [[minHashClusters]] therefore uses it; the
    * propagation form is the independently-tested reference.
    *
    * @param edges (srcCol, dstCol) pairs, any orientation
    * @param nodes one row per node id (singletons become their own
    *              representative)
    * @param strict when true (default), throw if the edge set is still
    *               changing at `maxIter` — partial labels would split
    *               one component into several clusters downstream;
    *               when false, log and return them
    * @return (id, rep) — rep = min id of the component
    */
  def connectedComponentsStar(edges: DataFrame, srcCol: String, dstCol: String,
                              nodes: DataFrame, nodeCol: String,
                              maxIter: Int = 25, strict: Boolean = true): DataFrame = {
    // Convergence is probed by observe() metrics that ride the
    // checkpoint actions (r13) — ZERO extra jobs per round, where the
    // set-equality anti-join probe paid 2 jobs/round. Soundness: the
    // flags count ROW-LEVEL rewrites (large: a neighbor re-attached to
    // m ≠ u; small: a ≤-side neighbor moved to a different min), so
    // flags==0 ⟺ both phases were the identity ⟹ small == e. The
    // converse (set equality ⟹ flags 0) is Kiveris et al. SoCC'14's
    // potential argument: a large-star/small-star round leaves the
    // edge set unchanged only at a star forest, where both phases are
    // row-identities. Observe metrics may be re-reported under stage
    // retries, but the probe only compares them to ZERO, which
    // retries preserve. The flags are coalesced to 0 so an empty
    // round reads 0, not a null. `large` is checkpointed too (r5:
    // 11.0 s with, 12.8 s without): small-star reads it twice and
    // ReusedExchange does not survive AQE re-planning across those
    // consumers, so without it large recomputes. Each checkpoint is
    // released as soon as the next round's edge set supersedes it;
    // only the final edge table, which the returned plan reads, stays.
    // canonical undirected edges (a < b), self-loops dropped
    val e0 = edges.select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .distinct()
    val obs0 = org.apache.spark.sql.Observation()
    var e = e0.observe(obs0, count(lit(1)).as("n")).localCheckpoint()
    var converged = obs0.get("n").asInstanceOf[Long] == 0L // rides the ckpt job
    var i = 0
    while (!converged && i < maxIter) {
      // ---- large-star: (v > u) -> min(Γ(u) ∪ {u})
      val nbrs = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v"))) // ...reuses e's checkpoint
      val mins = nbrs.groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val obsL = org.apache.spark.sql.Observation()
      // changed(large) = some v>u re-attached below u (m ≠ u); for
      // v>u rows m ≤ u < v always, so m ≠ u ⟺ the emitted edge
      // differs from the input edge
      val large = nbrs.join(mins, "u")
        .observe(obsL, coalesce(sum(when(col("v") > col("u") && col("m") =!= col("u"), 1L)
          .otherwise(0L)), lit(0L)).as("chg"))
        .filter(col("v") > col("u") && col("v") =!= col("m"))
        .select(least(col("v"), col("m")).as("a"), greatest(col("v"), col("m")).as("b"))
        .distinct()
        .localCheckpoint()
      // ---- small-star: (v ≤ u) ∪ {u} -> min of that set
      val nbrsL = large.select(col("b").as("u"), col("a").as("v")) // v < u by canon
      val minsL = nbrsL.groupBy("u").agg(min(col("v")).as("m"))
      val obsS = org.apache.spark.sql.Observation()
      // changed(small) = some ≤-side neighbor moved to a different
      // min (v ≠ m); the singleton group (k=1, v = m) re-emits its
      // edge unchanged
      val small = nbrsL.join(minsL, "u")
        .observe(obsS, coalesce(sum(when(col("v") =!= col("m"), 1L).otherwise(0L)), lit(0L))
          .as("chg"))
        .select(col("v"), col("m"), col("u"))
        .select(explode(array(
          struct(col("v").as("x"), col("m")),
          struct(col("u").as("x"), col("m")))).as("s"))
        .select(col("s.x"), col("s.m"))
        .filter(col("x") =!= col("m"))
        .select(least(col("x"), col("m")).as("a"), greatest(col("x"), col("m")).as("b"))
        .distinct()
        .localCheckpoint()
      // fixpoint when the round was a no-op (star forests are
      // invariant under both phases)
      converged =
        obsS.get("chg").asInstanceOf[Long] == 0L &&
          obsL.get("chg").asInstanceOf[Long] == 0L
      releaseCheckpoint(e); releaseCheckpoint(large)
      e = small
      i += 1
    }
    if (!converged) {
      val msg = s"connectedComponentsStar hit maxIter=$maxIter before the edge " +
        "fixpoint; labels would split components"
      if (strict) throw new IllegalStateException(msg)
      else org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
    // star forest: every non-min node carries edges only to its
    // component min; groupBy(min) also covers the 2-node case cleanly
    val labels = e.groupBy(col("b").as("id")).agg(min(col("a")).as("rep"))
    nodes.select(col(nodeCol).as("id")).distinct()
      .join(labels.withColumnsRenamed(Map("id" -> "l_id", "rep" -> "l_rep")),
        col("id") === col("l_id"), "left")
      .select(col("id"), coalesce(col("l_rep"), col("id")).as("rep"))
  }

  /** Drops the blocks of a `localCheckpoint`ed DataFrame once nothing
    * reads it any more. `unpersist()` does not reach them: the
    * checkpoint is an RDD behind the plan, not a cache-manager entry,
    * and would otherwise stay until the ContextCleaner runs after a GC.
    */
  private def releaseCheckpoint(ckpt: DataFrame): Unit =
    ckpt.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** Near-dup clusters over [[minHashNearDups]] pairs: every document
    * labeled with its cluster representative (min doc id) and the
    * cluster size. Singletons are their own 1-doc cluster.
    * Components via [[connectedComponentsStar]] (measured 1.7× faster
    * than propagation on this pair-graph family — see its scaladoc;
    * labels proven equal in DedupSpec).
    */
  def minHashClusters(df: DataFrame, idCol: String, textCol: String,
                      numPerm: Int, bands: Int, tau: Double,
                      maxBucket: Int = 64): DataFrame = {
    val pairs = minHashNearDups(df, idCol, textCol, numPerm, bands, tau, maxBucket)
    val comp = connectedComponentsStar(pairs, "id_a", "id_b",
      df.select(col(idCol)), idCol)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("rep_id")
    comp.select(col("id").as("doc_id"), col("rep").as("rep_id"))
      .withColumn("cluster_size", count(lit(1)).over(w))
  }

  /** Exact n-gram (character trigram) Jaccard with MinHash band-bucket
    * candidate generation (the [[minHashNearDups]] machinery applied
    * to the gram sets): each document's sketch-gram set is minhashed
    * (`numPerm` perms), folded into `bands` band hashes, and two
    * documents become a candidate pair iff they share a (band, hash)
    * bucket inside the same block. A J-similar pair shares a band with
    * probability 1−(1−J^rows)^bands (rows=2, bands=8 ⇒ ≥ 0.9997 at
    * J=0.8; identical docs always collide) — while the pair space
    * collapses from block-quadratic (the round-1 all-pairs
    * scale-killer: a popular (lang, len_band) block at 100 TB holds
    * millions of docs → O(c²)) to Σ_bucket min(c, cap)².
    *
    * Single-gram posting keys were tried and rejected: on a
    * small-vocabulary corpus every individual gram is corpus-common,
    * so any df-capped inverted index drops exactly the grams that
    * identical short documents share. Band hashes are combinations of
    * `rows` minhash values — discriminative even when each gram is
    * not.
    *
    * Scale design: the bucket shuffle carries only (id, block, band)
    * — never the gram arrays; full gram sets are re-joined onto the
    * surviving candidate pairs for the exact verify. `maxBucket` is a
    * skew guard against degenerate mega-clusters (a boilerplate
    * cluster of c docs genuinely contains O(c²) qualifying pairs — at
    * that point pair enumeration itself is the bottleneck and a
    * representative-based dedup is the right tool); the default is
    * set above this corpus's largest cluster so recall is complete.
    * Everything is deterministic and mirrored in the oracle SQL.
    *
    * @param modP keep only grams with hash ≡ 0 (mod modP) — a
    *             deterministic mod-p sketch: Jaccard over the sketch
    *             estimates full-set Jaccard while cutting the per-pair
    *             intersect by ~modP². modP=1 disables sketching.
    * @param numPerm minhash permutations over the gram set.
    * @param bands band count (rows per band = numPerm / bands).
    * @param maxBucket skip (band, hash) buckets with more members.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCols: Seq[String], n: Int, tau: Double,
                        modP: Int = 4, numPerm: Int = 16, bands: Int = 8,
                        maxBucket: Int = 4096): DataFrame = {
    val rows = numPerm / bands
    // Grams are hashed to 32-bit longs map-side: intersects run on
    // primitive longs instead of strings, shuffles carry 8-byte
    // values. Hash collisions would perturb Jaccard identically in
    // the oracle (same md5-derived hash).
    val docs = df.select((col(idCol).as("id") +: blockCols.map(col)) :+
      call_function("ngram_h32_set", col(textCol), lit(n), lit(modP.toLong))
        .as("grams"): _*)
      .persist()
    // Empty-gram docs get null band hashes and fall out of the
    // equi-join naturally (their Jaccard is NULL anyway).
    val banded = docs.select(Seq(col("id")) ++ blockCols.map(col) :+
      posexplode(bandHashes(minhashSignature(col("grams"), numPerm), bands, rows))
        .as(Seq("band_idx", "band_hash")): _*)
    val capped = capBuckets(banded, maxBucket)
    val cond = (blockCols.map(c => col(s"a.$c") === col(s"b.$c")) :+
      (col("a.band_idx") === col("b.band_idx")) :+
      (col("a.band_hash") === col("b.band_hash"))).reduce(_ && _) &&
      col("a.id") < col("b.id")
    val cand = capped.as("a").join(capped.as("b"), cond)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    cand
      .join(docs.select(col("id").as("id_a"), col("grams").as("ga")), Seq("id_a"))
      .join(docs.select(col("id").as("id_b"), col("grams").as("gb")), Seq("id_b"))
      .withColumn("inter", intersectCard(col("ga"), col("gb")))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (size(col("ga")) + size(col("gb")) - col("inter")).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= tau)
  }
}
