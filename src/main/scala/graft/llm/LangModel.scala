package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import TextHash._

/** Count-based bigram language-model quality scoring — the CCNet-style
  * "score each document by a reference LM" curation signal (public
  * practice: Wenzek et al., CCNet; the reference engine has no text
  * stage, this extends the training-data surface). The model here is
  * trained on the corpus itself (add-one smoothed bigram MLE); in a
  * production pipeline the count tables would come from a held-out
  * reference corpus — the join shape is identical.
  *
  * Scale design (100 TB): bigram extraction is per-row expression work
  * (zip_with over adjacent word slices, exploded map-side). The count
  * model is vocabulary-bounded — orders of magnitude smaller than the
  * corpus — and every downstream join shuffles only DISTINCT
  * (doc, bigram) pairs (the tfidf minimum: multiplicity `m` rides the
  * pair row, raw token streams never reshuffle). A pre-trained
  * reference model small enough to broadcast turns both joins
  * map-side; the shuffle form here assumes nothing about model size.
  *
  * Numeric determinism: `ln` is NOT bit-reproducible cross-engine
  * (libm vs JVM, Registry policy), so each per-bigram log-likelihood
  * is quantized to integer micro-nats IMMEDIATELY —
  * `floor(ln(p)·10⁶ + 0.5)` — and everything downstream (weighting by
  * multiplicity, per-document summation, the final average) is exact
  * 64-bit integer arithmetic plus one correctly-rounded double
  * division, identical in any engine. The only cross-engine hazard is
  * a last-ulp `ln` difference landing within 10⁻⁹ of a quantization
  * boundary — negligible at any test scale.
  */
object LangModel {

  /** Per-document add-one-smoothed bigram log-likelihood:
    * `(doc_id, n_bigrams, distinct_bigrams, sum_ll_micro, avg_ll)`
    * where each bigram (w1,w2) contributes
    * `ln((c(w1,w2)+1) / (c(w1·)+V))` micro-nats, c(·) are corpus
    * counts over bigram positions, and V is the corpus vocabulary
    * size. Documents with fewer than two tokens emit nothing.
    */
  def bigramScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ws = words(lower(trim(col(textCol))))
    val base = df.select(col(idCol).as("doc_id"), ws.as("__ws"))

    // (doc, w1, w2) bigram stream — map-side explode, no shuffle yet
    val pairs = base.select(
      col("doc_id"),
      explode(zip_with(
        slice(col("__ws"), lit(1), size(col("__ws")) - 1),
        slice(col("__ws"), lit(2), size(col("__ws")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
    // pairs feeds THREE aggregates (docBi, c2, c1) — but persisting it
    // LOSES (r12 interleaved A/B, sf0.1, local[32], median of 5:
    // persist 1.84/1.93/2.58 s vs recompute 1.53/1.57/2.03 s on
    // lm_bigram_score/lm_kneser_ney/ccnet_buckets): the bigram stream
    // is WIDER than its source (one row per word position), so caching
    // it costs more than three cheap re-explodes whose partial aggs
    // collapse map-side.

    // Per-document distinct bigrams with multiplicity — the only
    // full-width shuffle; everything after carries (doc, bigram) pairs
    val docBi = pairs.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("m"))

    // Model: corpus bigram counts, left-context counts, vocab size.
    // All partial-aggregated map-side; c1/V are vocabulary-sized.
    val c2 = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = pairs.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = base
      .select(explode(col("__ws")).as("w")).agg(countDistinct("w").as("v"))

    // Integer micro-nat log-likelihood per distinct bigram (see
    // object doc: quantize BEFORE any reordering aggregate).
    val llMicro = floor(
      log(col("c2").cast("double") / (col("c1") + col("v")).cast("double"))
        * lit(1e6) + lit(0.5)).cast("long").as("ll_micro")

    docBi
      .join(c2.withColumn("c2", col("c2") + 1), Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("m"), llMicro)
      .groupBy("doc_id")
      .agg(
        sum("m").as("n_bigrams"),
        count(lit(1)).as("distinct_bigrams"),
        sum(col("m") * col("ll_micro")).as("sum_ll_micro"))
      .withColumn("avg_ll",
        col("sum_ll_micro").cast("double") /
          (col("n_bigrams").cast("double") * lit(1e6)))
  }

  /** Per-document INTERPOLATED KNESER–NEY bigram log-likelihood (Kneser
    * & Ney 1995; the smoothing every production n-gram LM ships —
    * KenLM's default — where add-one is the classroom baseline):
    *
    *   P(w2|w1) = max(c(w1,w2) − D, 0)/c(w1·)
    *            + (D·N1+(w1,·)/c(w1·)) · N1+(·,w2)/N1+(·,·)
    *
    * The second term is the CONTINUATION probability: how many
    * distinct contexts w2 follows, not how often it occurs — the
    * "Francisco problem" (frequent but only ever after "San" ⇒ tiny
    * continuation weight). D = 0.75, the standard fixed discount.
    *
    * Same scale/determinism skeleton as [[bigramScore]]: all five
    * model tables (c2, c1, N1+(w1,·), N1+(·,w2), N1+(·,·)) are
    * vocabulary-bounded aggregates of the bigram-TYPE table; shuffles
    * carry distinct (doc, bigram) pairs; the double probability
    * assembles in ONE fixed-association expression and quantizes to
    * integer micro-nats immediately. Every bigram in a document also
    * occurs in the (self-trained) corpus counts, so c(w1,w2) ≥ 1 and
    * max(c−D,0) ≥ 0.25 > 0 — P is strictly positive with no smoothing
    * epsilon needed.
    */
  def kneserNeyScore(df: DataFrame, idCol: String, textCol: String,
                     discount: Double = 0.75): DataFrame = {
    val ws = words(lower(trim(col(textCol))))
    val base = df.select(col(idCol).as("doc_id"), ws.as("__ws"))
    val pairs = base.select(
      col("doc_id"),
      explode(zip_with(
        slice(col("__ws"), lit(1), size(col("__ws")) - 1),
        slice(col("__ws"), lit(2), size(col("__ws")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
    // persist measured and rejected — see bigramScore (r12)

    val docBi = pairs.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("m"))
    val c2 = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = pairs.groupBy("w1").agg(count(lit(1)).as("c1"))
    val n1pW1 = c2.groupBy("w1").agg(count(lit(1)).as("n1p"))   // distinct continuations of w1
    val nCtx = c2.groupBy("w2").agg(count(lit(1)).as("nctx"))   // distinct left contexts of w2
    val nBig = c2.agg(count(lit(1)).as("nbig"))                 // total bigram types

    val p = greatest(col("c2").cast("double") - lit(discount), lit(0.0)) /
      col("c1").cast("double") +
      lit(discount) * col("n1p").cast("double") / col("c1").cast("double") *
        (col("nctx").cast("double") / col("nbig").cast("double"))
    val llMicro = floor(log(p) * lit(1e6) + lit(0.5)).cast("long").as("ll_micro")

    docBi
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .join(n1pW1, Seq("w1"))
      .join(nCtx, Seq("w2"))
      .crossJoin(broadcast(nBig))
      .select(col("doc_id"), col("m"), llMicro)
      .groupBy("doc_id")
      .agg(
        sum("m").as("n_bigrams"),
        count(lit(1)).as("distinct_bigrams"),
        sum(col("m") * col("ll_micro")).as("sum_ll_micro"))
      .withColumn("avg_ll",
        col("sum_ll_micro").cast("double") /
          (col("n_bigrams").cast("double") * lit(1e6)))
  }
}
