package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import TextHash.{h32, words}

/** Data Selection via Importance Resampling — the DSIR recipe (Xie et
  * al. 2023, public): score every raw document by the log likelihood
  * ratio of a TARGET hashed-n-gram language model over the RAW one,
  * then resample without replacement by Gumbel top-k on the log
  * weights. The target model is fit on a small curated slice (here a
  * deterministic source predicate standing in for "looks like
  * Wikipedia"); the raw model on the whole corpus.
  *
  * Scale design (100 TB): features are hashed word uni+bigrams into a
  * FIXED bucket space (default 1024, DSIR itself uses 10k) — both
  * models are bucket-count tables bounded by `buckets` regardless of
  * corpus size, built by one map-side-combined aggregation each, and
  * re-enter as a MAP LITERAL in the scoring projection (collected at
  * ≤buckets rows — bounded driver metadata). Per-document feature
  * extraction is explode + hash at scan speed; model-fit shuffles
  * carry ≤ partitions x buckets bucket-count cells (map-side combine
  * collapses each partition to the bucket space before the exchange),
  * and scoring itself is a pure per-row expression — ZERO
  * doc-proportional shuffles end to end. The (doc, bucket) pair-table
  * form survives as [[importanceWeightsShuffled]], the independent
  * replay the oracle CTEs mirror and the spec compares against.
  * Gumbel noise is a pure per-row md5 deviate (Sampling.u01
  * family) so resampling is reproducible under retries and engines.
  *
  * Numeric determinism: each bucket's two log probabilities are
  * quantized to integer micro-nats INDEPENDENTLY
  * (`floor(ln(p)*1e6 + 0.5)`, the Registry/LangModel policy), the
  * ratio is their exact integer difference, and every per-document
  * reduction is 64-bit integer arithmetic — partitioning-independent
  * and bit-identical in DuckDB. The Gumbel transform quantizes the
  * same way, so the resampling ORDER (score_micro, doc_id) is a total
  * integer order on both engines.
  */
object Dsir {

  /** Hashed uni+bigram bag-of-features: `(doc_id, bucket, m)`.
    * Unigrams hash "u:w", bigrams "b:w1 w2" — disjoint key spaces
    * before the modulus, exactly restatable via md5 in any engine.
    */
  def hashedFeatures(df: DataFrame, idCol: String, textCol: String,
                     buckets: Int): DataFrame = {
    val (uni, bi) = featureArrays(textCol, buckets)
    df.select(col(idCol).as("doc_id"), explode(concat(uni, bi)).as("bucket"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("m"))
  }

  /** The two hashed-feature arrays of one document — unigram and
    * bigram bucket ids as pure per-row expressions (no explode),
    * through the fused wordgram kernel: "u:w" ≡ prefix "u:" over
    * 1-grams, "b:w1 w2" ≡ prefix "b:" over 2-grams (identical md5
    * bytes, mod applied in-kernel); the interpreted HOF md5 → hex →
    * conv chain it replaces was the measured map-side cost
    * (OPTIMIZATION_r12). Bit-equality with that HOF form is pinned in
    * TextHashExpressionsSpec.
    */
  private def featureArrays(textCol: String, buckets: Int): (Column, Column) = {
    val ws = words(lower(trim(col(textCol))))
    def grams(n: Int, prefix: String) = call_function("wordgram_h32", ws,
      lit(n), lit(prefix), lit(buckets.toLong), lit(false))
    (grams(1, "u:"), grams(2, "b:"))
  }

  /** Bucket log-ratio model `(bucket, lr_micro)`: ln p̂_target −
    * ln p̂_raw per hashed-feature bucket in integer micro-nats, over
    * the buckets observed in the raw corpus (add-one smoothing covers
    * target-absent cells via ct = 0). `buckets`-bounded — broadcast
    * material at any corpus size.
    */
  def bucketModel(df: DataFrame, idCol: String, textCol: String,
                  targetPred: Column, buckets: Int): DataFrame = {
    // Counts straight off the explode, NO per-doc pair table: map-side
    // combine collapses every partition to ≤buckets cells before the
    // exchange, so the shuffle carries partitions x buckets rows no
    // matter how large the corpus — vs the (doc, bucket) pair table
    // whose exchange grows with the corpus. Totals are identical
    // (sum over docs of per-doc multiplicities = plain occurrence
    // count), so the model is bit-equal to the pair-table form.
    val (uni, bi) = featureArrays(textCol, buckets)
    val rc = df.select(explode(concat(uni, bi)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cr"))
    val tc = df.filter(targetPred)
      .select(explode(concat(uni, bi)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("ct"))
    modelTail(rc, tc, buckets)
  }

  /** [[bucketModel]] body over an already-built feature table — the
    * shuffled reference form ([[importanceWeightsShuffled]]).
    */
  private def modelFromFeats(feats: DataFrame, targetIds: DataFrame,
                             buckets: Int): DataFrame =
    modelTail(
      feats.groupBy("bucket").agg(sum("m").as("cr")),
      feats.join(targetIds, "doc_id").groupBy("bucket").agg(sum("m").as("ct")),
      buckets)

  /** Smoothing + integer-quantization tail shared by both model
    * builders: raw/target bucket counts → `(bucket, lr_micro)`.
    */
  private def modelTail(rc: DataFrame, tc: DataFrame,
                        buckets: Int): DataFrame = {
    val totals0 = rc.join(tc, Seq("bucket"), "left")
      .select(col("bucket"), col("cr"), coalesce(col("ct"), lit(0L)).as("ct"))
    val totals = totals0.crossJoin(broadcast(
      totals0.agg(sum("cr").as("nr"), sum("ct").as("nt"))))
    val lnMicro: Column => Column =
      p => floor(log(p) * lit(1e6) + lit(0.5)).cast("long")
    totals.select(col("bucket"),
      (lnMicro((col("ct") + 1).cast("double") /
          (col("nt") + buckets).cast("double")) -
        lnMicro((col("cr") + 1).cast("double") /
          (col("nr") + buckets).cast("double"))).as("lr_micro"))
  }

  /** Map-side DSIR scoring: the trained model re-enters as a MAP
    * LITERAL inside the projection, so scoring is a pure per-row
    * expression — ZERO shuffles over the corpus being scored, and
    * stateless on a stream (each arrival scores itself per
    * micro-batch; the corpus-derived knowledge lives in the literal,
    * never in stream state — the same index-not-state discipline as
    * StreamDedup). `defaultMicro` prices buckets never observed at
    * training time (the add-one smoothed ratio of zero counts: 0 when
    * target and raw totals match in scale; any corpus scored against
    * its own training run never hits it). Integer arithmetic ⇒
    * bit-equal to the join-based scorer (property-tested in DsirSpec).
    */
  def scoreWith(df: DataFrame, idCol: String, textCol: String,
                model: Map[Long, Long], defaultMicro: Long,
                buckets: Int): DataFrame = {
    val m = typedlit(model)
    val (uni, bi) = featureArrays(textCol, buckets)
    val score: Column => Column = arr =>
      aggregate(arr, lit(0L),
        (acc, b) => acc + coalesce(element_at(m, b), lit(defaultMicro)))
    df.select(col(idCol).as("doc_id"), uni.as("__u"), bi.as("__b"))
      .select(col("doc_id"),
        (size(col("__u")) + size(col("__b"))).cast("long").as("n_feats"),
        (score(col("__u")) + score(col("__b"))).as("w_micro"))
      .withColumn("avg_w",
        when(col("n_feats") > 0,
          col("w_micro").cast("double") /
            (col("n_feats").cast("double") * lit(1e6)))
          .otherwise(lit(0.0)))
  }

  /** [[scoreWith]] semantics with the model as ONE dense length-
    * `buckets` ARRAY literal (`defaultMicro` pre-filled into unseen
    * buckets) instead of a map literal. DSIR buckets are already
    * dense ints in [0, buckets), so `element_at(array, b+1)` is an
    * O(1) index where the map literal's `element_at(map, k)` is a
    * LINEAR key scan — the r10 4-arm serving law, NOTES_r10 (map literal
    * climbs 0.44→1.83 s from 256 to 16k keys while the dense array
    * holds ~0.21 s flat; identical expression shapes here). Bit-equal
    * to [[scoreWith]] and the shuffled join (DsirSpec): same integer
    * adds in the same fold. Zero shuffle, stream-legal, and — being
    * one Literal node rather than a 2·buckets-child CreateMap — free
    * of the map literal's janino CreateMap ceiling (the remaining
    * array ceiling is driver/task memory: 8·buckets bytes).
    */
  def scoreDense(df: DataFrame, idCol: String, textCol: String,
                 lr: IndexedSeq[Long], buckets: Int): DataFrame = {
    // UnsafeArrayData literal ([[DenseLit]]): the boxed typedlit
    // encoding re-serializes per action and grows with buckets (the
    // r11 ceiling finding) — at DSIR's production 10k default the
    // difference is small, at fasttext-gate widths (1–10M) decisive
    val m = DenseLit.longs(lr.toArray)
    val (uni, bi) = featureArrays(textCol, buckets)
    val score: Column => Column = arr =>
      aggregate(arr, lit(0L),
        (acc, b) => acc + element_at(m, (b + lit(1L)).cast("int")))
    df.select(col(idCol).as("doc_id"), uni.as("__u"), bi.as("__b"))
      .select(col("doc_id"),
        (size(col("__u")) + size(col("__b"))).cast("long").as("n_feats"),
        (score(col("__u")) + score(col("__b"))).as("w_micro"))
      .withColumn("avg_w",
        when(col("n_feats") > 0,
          col("w_micro").cast("double") /
            (col("n_feats").cast("double") * lit(1e6)))
          .otherwise(lit(0.0)))
  }

  /** [[scoreDense]]'s serving arrays from a trained bucket model:
    * `lr_micro` per bucket with `defaultMicro` filling unseen buckets
    * — bounded driver metadata (`buckets` longs, the model's own
    * ceiling).
    */
  def denseModel(model: DataFrame, buckets: Int,
                 defaultMicro: Long = 0L): IndexedSeq[Long] = {
    val m = model.collect()
      .map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("lr_micro")).toMap
    IndexedSeq.tabulate(buckets)(b => m.getOrElse(b.toLong, defaultMicro))
  }

  /** Measured CROSSOVER of the DENSE array-literal serving path
    * (r10 verdict #2 → r11 ceiling sweep → r12 extended sweep; NOTES_r11/
    * r12, SCALE_DECADES_r11/r12):
    * with the [[DenseLit]] UnsafeArrayData encoding the dense NB
    * scorer is FLAT to 1M buckets — 0.18/0.16/0.20/0.24 s at
    * B = 16k/64k/256k/1M vs a 0.24–0.35 s join arm — and the r12
    * sweep two decades PAST the bound (4M and 16M, bit-equality
    * asserted per width, repeated at a 40× larger corpus) shows the
    * unsafe arm keeps serving without OOM (the boxed encoding OOMed
    * at 16M) but stops WINNING: at B=4M the 38 MB per-action
    * taskBinary broadcast alone (~0.5–0.8 s; 151 MB / ~2 s at 16M)
    * exceeds the join arm's entire width-invariant cost
    * (dense/join = 1.35–2.44 at 4M, 3.7–6.9 at 16M, across both
    * corpus sizes). Serialization is a memcpy at every width — the
    * binding term past 1M is BROADCAST SHIPPING, which the join form
    * avoids by carrying only the ≤vocabulary-row model relation. So
    * the constant stays at the crossover: dense serves up to 1M
    * (DSIR's 10k production default, fasttext-gate widths), the
    * broadcast-join form serves past it — on measurement in both
    * directions (SCALE_DECADES_r12). At a per-action corpus large
    * enough that per-row cost dominates the fixed broadcast, a wider
    * dense literal can win again; re-measure before moving this.
    */
  val DenseModelMaxBuckets = 1 << 20

  /** Per-document DSIR importance weight:
    * `(doc_id, n_feats, w_micro, avg_w)` where `w_micro` =
    * Σ_b m_b · (ln p̂_target(b) − ln p̂_raw(b)) in integer micro-nats
    * under add-one smoothing over `buckets` cells. Documents with no
    * features score 0. `targetPred` selects the target slice from
    * `df` itself (production: a separate curated corpus — identical
    * join shape).
    */
  def importanceWeights(df: DataFrame, idCol: String, textCol: String,
                        targetPred: Column, buckets: Int): DataFrame =
    if (buckets > DenseModelMaxBuckets)
      // Past the measured dense width, route to the broadcast scoring
      // join, which carries the model as a ≤buckets-row broadcast
      // relation instead of a task-broadcast literal.
      importanceWeightsShuffled(df, idCol, textCol, targetPred, buckets)
    else {
      // Fit the buckets-bounded model (two bucket-count aggregations,
      // shuffles carry ≤ partitions x buckets rows), collect it
      // (≤buckets rows — bounded driver metadata, the kmeans-centroid
      // budget), and score MAP-SIDE via the dense array-literal
      // projection (r10: O(1) indexed lookups where the map literal
      // scans keys linearly — the NOTES_r10 serving law): zero
      // doc-proportional shuffles end to end. defaultMicro is never
      // consulted scoring the training corpus itself — every bucket a
      // scored document hashes into was, by construction, counted into
      // the raw model (DsirSpec pins bit-equality of BOTH literal forms
      // to the shuffled form with a poisoned sentinel default).
      val lr = denseModel(
        bucketModel(df, idCol, textCol, targetPred, buckets), buckets)
      scoreDense(df, idCol, textCol, lr, buckets)
    }

  /** The shuffled reference form of [[importanceWeights]]: the
    * (doc, bucket, m) pair table feeds the model fit AND re-enters a
    * broadcast scoring join — the shape the DuckDB oracle CTEs replay
    * and the spec compares the map-side production path against.
    * Kept as the independent-recompute arm; production uses the
    * map-side form (A/B at sf0.1: the pair-table exchange is the
    * dominant cost the literal-model projection deletes).
    */
  def importanceWeightsShuffled(df: DataFrame, idCol: String, textCol: String,
                                targetPred: Column, buckets: Int): DataFrame = {
    // ONE feature pass feeds both the model fit and the scoring join
    // (persist: three consumers — raw counts, target counts, scoring;
    // the explode is the dominant cost and would otherwise run 3x)
    val feats = hashedFeatures(df, idCol, textCol, buckets).persist()
    val model = modelFromFeats(feats,
      df.filter(targetPred).select(col(idCol).as("doc_id")), buckets)

    val scored = feats.join(broadcast(model), "bucket")
      .groupBy("doc_id").agg(
        sum("m").as("n_feats"),
        sum(col("m") * col("lr_micro")).as("w_micro"))
    df.select(col(idCol).as("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("w_micro"), lit(0L)).as("w_micro"))
      .withColumn("avg_w",
        when(col("n_feats") > 0,
          col("w_micro").cast("double") /
            (col("n_feats").cast("double") * lit(1e6)))
          .otherwise(lit(0.0)))
  }

  /** Gumbel top-k resample on the importance weights — k docs without
    * replacement, inclusion probability ∝ softmax of the log weights
    * (the Gumbel-max trick, standard): score = w_micro +
    * floor(−ln(−ln(u))·1e6 + 0.5) with u the md5 deviate of
    * `salt:doc_id` shifted by +0.5/2³² to stay strictly inside (0,1).
    * Top-k by (score desc, doc_id) via TakeOrderedAndProject — no
    * global sort; the rank window runs over the k collected rows
    * only.
    */
  def resample(df: DataFrame, idCol: String, textCol: String,
               targetPred: Column, buckets: Int, k: Int,
               salt: String = "dsir"): DataFrame = {
    val weights = importanceWeights(df, idCol, textCol, targetPred, buckets)
    val u = (h32(concat_ws(":", lit(salt), col("doc_id").cast("string"))) +
      lit(0.5)) / lit(4294967296.0)
    val scored = weights
      .withColumn("gumbel_micro",
        floor(-log(-log(u)) * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("score_micro", col("w_micro") + col("gumbel_micro"))
    scored.orderBy(col("score_micro").desc, col("doc_id")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score_micro").desc, col("doc_id"))))
  }
}
