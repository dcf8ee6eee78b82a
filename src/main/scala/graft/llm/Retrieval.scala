package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical retrieval (Okapi BM25) and rank fusion — the retrieval
  * face of a training-data pipeline. BM25 is the canonical first-stage
  * retriever for retrieval-based decontamination ("is this eval
  * question answerable verbatim from the corpus?"), hard-negative
  * mining for embedding training, and corpus QA; reciprocal-rank
  * fusion (Cormack et al. 2009) is the standard way to combine a
  * lexical ranking with a dense (embedding-cosine) one without score
  * calibration.
  *
  * Numeric determinism: BM25 mixes `ln` (idf) with divisions, so each
  * per-(term, doc) contribution is quantized to integer MICRO-units
  * immediately (the [[LangModel]] policy — quantize before any
  * order-sensitive aggregate) and the per-document score is an exact
  * integer sum. RRF goes further: the 1/(k0+rank) contribution is an
  * exact INTEGER division (1e9 div (k0+rank)), so fusion never touches
  * floating point at all.
  *
  * Scale design: BM25 is an inverted-index equi-join — postings
  * sharded by term, the (tiny) query-term table broadcast. Per-query
  * fanout is Σ_t df(t); terms with df > maxDfFrac·N are dropped
  * (boilerplate/stopword cap, mirrored in the oracle) so one
  * pathological term can't fan a query out to the whole corpus. The
  * per-query top-k plans as WindowGroupLimit. Nothing here is
  * all-pairs: cost is (query terms × capped df), independent of
  * corpus size for fixed caps.
  */
object Retrieval {

  /** Okapi BM25 top-k: for each query document (rows matching
    * `queryPred`, query = the distinct tokens among its first
    * `queryTerms` tokens — fewer than `queryTerms` when the prefix
    * repeats), the top `k` OTHER documents by BM25 score.
    *
    * Emits `(query_id, doc_id, score_micro, rank)` — `score_micro` is
    * the exact integer sum of per-term micro-quantized contributions:
    *
    *   idf(t)·tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)),
    *   idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)   (Lucene form, >0)
    *
    * k1/b are passed as exact double literals on both engines
    * (Registry decimal-literal pitfall: the oracle must write
    * CAST(1.2 AS DOUBLE)); the whole double chain is written with
    * identical association on both sides, then floored to micro-units.
    */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               queryPred: Column, k: Int, queryTerms: Int = 6,
               k1: Double = 1.2, b: Double = 0.75,
               maxDfFrac: Double = 0.95): DataFrame = {
    val toks = df.select(col(idCol).cast("long").as("doc_id"),
      split(trim(lower(col(textCol))), "\\s+").as("ws"))
    val qterms = toks.filter(queryPred)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(slice(col("ws"), 1, queryTerms))).as("token"))

    // Exact-integer cap compare (df·100 ≤ N·pct): a double 0.95·N
    // here would diverge from DuckDB's DECIMAL literal arithmetic at
    // the boundary (Registry literal pitfall) — integers cannot.
    val capPct = math.round(maxDfFrac * 100)
    val post = bm25Index(toks)
      .filter(col("df") * lit(100L) <= col("n_docs") * lit(capPct))

    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val idf = log((col("n_docs") - col("df") + lit(0.5)) /
      (col("df") + lit(0.5)) + lit(1.0))
    val w = idf * (col("tf") * (lit(k1) + lit(1.0))) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / avgdl))

    val hits = post.join(broadcast(qterms), Seq("token"))
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"),
        (w * lit(1e6) + lit(0.5)).cast("long").as("contrib"))

    val scored = hits.groupBy("query_id", "doc_id")
      .agg(sum("contrib").as("score_micro"))
    val win = Window.partitionBy("query_id")
      .orderBy(col("score_micro").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select("query_id", "doc_id", "score_micro", "rank")
  }

  /** The BM25 index over `(doc_id, ws)` token rows: one row per
    * (doc_id, token) with `tf`, `dl`, `df`, `n_docs` and `sum_dl`.
    *
    * r13 shape (r12 VERDICT #7). The r12 plan derived EVERY statistic
    * from the (doc, token, tf) aggregate, so the static plan
    * re-scanned and re-exploded the corpus 5x and shuffled the
    * exploded token stream repeatedly (persisting tf was measured and
    * LOST — 3.84 vs 3.23 s — the cache write serializes the widest
    * intermediate). The statistics are cheaper than their general
    * form:
    *   dl(doc)   = Σ_t tf(doc,t) = size(ws)        — map-side, no
    *               explode, no aggregate (carrying dl on the tf GROUP
    *               BY key instead was measured and LOST: it widens
    *               the exploded-token shuffle, the query's largest);
    *   stats     = one map-side agg over size(ws)   — no explode;
    *   dfreq(t)  = #docs containing t = explode(array_distinct(ws))
    *               + one count          — distinct map-side, and the
    *               shuffle carries (doc-distinct) tokens only.
    * The exploded-token stream is shuffled ONCE (tf) instead of
    * feeding three aggregates. Equality with the per-statistic form is
    * pinned by the DuckDB oracle + RetrievalSpec.
    */
  private def bm25Index(toks: DataFrame): DataFrame = {
    val tf = toks.select(col("doc_id"), explode(col("ws")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    // dl = size(ws): doc_id is unique in the input, the contract both
    // BM25 entry points assume
    val dl = toks.select(col("doc_id"), size(col("ws")).cast("long").as("dl"))
      .filter(col("dl") > 0)
    val dfreq = toks
      .select(explode(array_distinct(col("ws"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    tf.join(dl, "doc_id").join(dfreq, "token").crossJoin(broadcast(stats))
  }

  /** BM25 over an IMPACT-TRUNCATED index: each term's posting list
    * keeps only its `maxPostings` highest-IMPACT documents, where the
    * impact is the posting's full precomputed BM25 contribution
    * (idf·tf·(k1+1)/(tf + k1·norm) — query-INDEPENDENT, which is
    * exactly why impact-sorted indexes work; Anh & Moffat 2006, the
    * static half of what WAND prunes dynamically). Truncating by raw
    * tf instead is wrong (14% top-5 agreement measured): BM25's
    * length normalization makes short moderate-tf documents outrank
    * long high-tf ones, so the impact metric must BE the
    * contribution.
    *
    * Why it exists (measured): on this corpus the vocabulary does NOT
    * grow with the corpus (31 words at every SF), so every term
    * saturates — df ∝ N — and with queries ∝ N the exact
    * inverted-index join is quadratic (9→96 s for 30× docs, recorded
    * in SCALE_DECADES). Truncation bounds per-query work at
    * terms × maxPostings regardless of corpus size.
    *
    * Quality regime, measured honestly: approximation quality depends
    * on the VOCABULARY SHAPE. On a Zipf vocabulary (every real
    * corpus) queries mix rare terms (short lists, untruncated) with
    * common ones (tiny idf, cheap to lose) — top-5 agreement 0.83 at
    * P=256 on a seeded Zipf corpus (RetrievalSpec asserts the
    * regime). The saturated testdata corpus is the ADVERSARIAL WORST
    * CASE — all 6 query terms are stopwords matching every document,
    * so NO candidate-limiting index can agree with the exact sum
    * (0.06 measured at sf0.1); there the exact arm is simply the
    * right tool and this arm is the wrong one. Both arms ship so the
    * tradeoff is a measurement, not a guess.
    *
    * Deterministic (contribution micro-quantized BEFORE the
    * truncation window, ties to smaller doc_id) — full hash oracle;
    * df/avgdl statistics come from the FULL corpus (truncation
    * changes candidates, not the scoring model).
    */
  def bm25TopKPruned(df: DataFrame, idCol: String, textCol: String,
                     queryPred: Column, k: Int, maxPostings: Int,
                     queryTerms: Int = 6, k1: Double = 1.2,
                     b: Double = 0.75): DataFrame = {
    val toks = df.select(col(idCol).cast("long").as("doc_id"),
      split(trim(lower(col(textCol))), "\\s+").as("ws"))
    val joined = bm25Index(toks)

    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val idf = log((col("n_docs") - col("df") + lit(0.5)) /
      (col("df") + lit(0.5)) + lit(1.0))
    val w = idf * (col("tf") * (lit(k1) + lit(1.0))) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / avgdl))

    // full postings with the quantized contribution attached — the
    // impact index; built once, truncated per term
    val post = joined
      .select(col("token"), col("doc_id"),
        (w * lit(1e6) + lit(0.5)).cast("long").as("contrib"))
    val impactWin = Window.partitionBy("token")
      .orderBy(col("contrib").desc, col("doc_id"))
    val truncated = post.withColumn("__imp", row_number().over(impactWin))
      .filter(col("__imp") <= maxPostings).drop("__imp")

    val qterms = toks.filter(queryPred)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(slice(col("ws"), 1, queryTerms))).as("token"))

    val hits = truncated.join(broadcast(qterms), Seq("token"))
      .filter(col("doc_id") =!= col("query_id"))

    val scored = hits.groupBy("query_id", "doc_id")
      .agg(sum("contrib").as("score_micro"))
    val win = Window.partitionBy("query_id")
      .orderBy(col("score_micro").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select("query_id", "doc_id", "score_micro", "rank")
  }

  /** Reciprocal-rank fusion over any number of `(query_id, doc_id,
    * rank)` candidate rankings: fused score = Σ_r 1e9 div (k0 +
    * rank_r) — an exact integer for every rank, summed exactly, so
    * fusion is bit-reproducible under any partitioning and engine
    * (no floating point anywhere). A document absent from a ranker
    * simply contributes nothing (standard RRF over the candidate
    * union). Emits the top `k` per query by (rrf_nano desc, doc_id).
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, k0: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val normed = rankings.map(_.select(
      col("query_id").cast("long"), col("doc_id").cast("long"),
      expr(s"1000000000L div (${k0}L + rank)").as("contrib")))
    val unioned = normed.reduce(_.unionByName(_))
    val fused = unioned.groupBy("query_id", "doc_id")
      .agg(sum("contrib").as("rrf_nano"))
    val win = Window.partitionBy("query_id")
      .orderBy(col("rrf_nano").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select("query_id", "doc_id", "rrf_nano", "rank")
  }

  /** Ranking-quality evaluation for ANY retrieval output — the eval
    * harness the ANN/BM25/fusion family needs to be tuned against:
    * per-query hits@k, first-relevant rank, reciprocal rank, and
    * precision@k, judged by label agreement between query and
    * neighbor. Generic over the candidate generator: `ranked` is any
    * `(query_id, neighbor_id, rank)` frame (brute, LSH, IVF, PQ,
    * BM25 — all emit this shape), `labels` any `(id, label)` truth.
    *
    * Determinism: hits/first-rank are integer aggregates; `rr` and
    * `precision_at_k` are same-operand IEEE divisions computed AFTER
    * the integer agg — restated verbatim in DuckDB. No cross-query
    * float sum: metrics stay per-query rows (a macro-average is one
    * decimal-cast agg away, the Registry summation policy).
    *
    * Scale: the label join broadcasts per side when labels are a dim
    * table; the agg shuffles k rows per query. At 100 TB truth sets
    * are query-sample-sized — this is metadata-scale work next to
    * the retrieval it scores.
    */
  def rankingEval(ranked: DataFrame, labels: DataFrame,
                  idCol: String, labelCol: String, k: Int): DataFrame = {
    val lab = labels.select(col(idCol).as("__lid"), col(labelCol).as("__lbl"))
    val rel = ranked
      .join(lab, col("query_id") === col("__lid"))
      .withColumnRenamed("__lbl", "__qlbl").drop("__lid")
      .join(lab, col("neighbor_id") === col("__lid"))
      .withColumnRenamed("__lbl", "__nlbl").drop("__lid")
      .withColumn("__rel", col("__qlbl") === col("__nlbl"))
    rel.groupBy("query_id")
      .agg(
        sum(when(col("__rel"), 1L).otherwise(0L)).as("n_rel"),
        min(when(col("__rel"), col("rank"))).cast("long").as("first_rel_rank"))
      .select(col("query_id"), col("n_rel"), col("first_rel_rank"),
        coalesce(lit(1.0) / col("first_rel_rank"), lit(0.0)).as("rr"),
        (col("n_rel").cast("double") / lit(k)).as("precision_at_k"))
  }
}
