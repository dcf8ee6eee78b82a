package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextHash._

/** Text analysis for training-data pipelines: language ID (stopword
  * n-gram heuristic), quality scoring, token counting, document
  * fingerprinting. All pure Catalyst expressions — map-side only, no
  * shuffle, fully codegen'd; at 100 TB these run at scan speed.
  */
object TextStats {

  /** Tiny per-language stopword profiles (public-knowledge function
    * words). Deterministic, restated literally in the oracle SQL.
    */
  val Profiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "zu", "mit"),
    "en" -> Seq("the", "a", "of", "and", "to", "is", "in"),
    "es" -> Seq("el", "la", "de", "y", "es", "en", "que"),
    "fr" -> Seq("le", "la", "de", "et", "est", "en", "que"),
    "zh" -> Seq("的", "是", "在", "了", "我", "有", "和")
  )

  /** Stopword hits per language over the distinct word set. */
  def langHits(text: Column): Seq[(String, Column)] =
    Profiles.map { case (lang, ws) =>
      lang -> size(array_intersect(wordSet(text), array(ws.map(lit): _*)))
    }

  /** Language-ID: argmax of profile hits, ties → alphabetically first
    * language (profiles are alphabetical, so the first matching CASE
    * arm is the tie-break).
    */
  def withLangId(df: DataFrame, textCol: String): DataFrame = {
    val hits = langHits(col(textCol))
    val withHits = hits.foldLeft(df) { case (d, (lang, c)) => d.withColumn(s"hits_$lang", c) }
    val m = greatest(hits.map { case (l, _) => col(s"hits_$l") }: _*)
    val pred = hits.map { case (l, _) => (col(s"hits_$l") === m, lit(l)) }
      .foldRight(lit(null).cast("string")) { case ((cond, v), els) => when(cond, v).otherwise(els) }
    withHits.withColumn("pred_lang", pred)
  }

  /** Quality features + score. All ratios derive from exact integer
    * counts, combined with a fixed double expression (identical in
    * the oracle → bit-identical results).
    */
  def withQuality(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val len = length(t)
    val ws = words(t)
    val nWords = size(ws)
    val sumWordLen = aggregate(transform(ws, w => length(w)), lit(0), (a, x) => a + x)
    val digits = len - length(regexp_replace(t, "[0-9]", ""))
    val punct = len - length(regexp_replace(t, "[\\.,;:!\\?]", ""))
    val stopHits = size(array_intersect(wordSet(t), array(
      Profiles.collect { case ("en", ws) => ws }.head.map(lit): _*)))
    val nDistinct = size(wordSet(t))
    df.withColumn("n_chars_len", len)
      .withColumn("n_words", nWords)
      .withColumn("avg_word_len", sumWordLen.cast("double") / nWords)
      .withColumn("digit_ratio", digits.cast("double") / len)
      .withColumn("punct_ratio", punct.cast("double") / len)
      .withColumn("stopword_ratio", stopHits.cast("double") / nDistinct)
      .withColumn("quality_score",
        lit(0.4) * (stopHits.cast("double") / nDistinct)
          + lit(0.3) * (lit(1.0) - digits.cast("double") / len)
          + lit(0.3) * least(sumWordLen.cast("double") / nWords / 8.0, lit(1.0)))
      .withColumn("pass_filter",
        col("quality_score") >= 0.5 && nWords >= 10 && len >= 50)
  }

  /** Token counts: whitespace tokens + a BPE-ish regex tokenizer
    * (letter runs | digit runs | single punctuation).
    */
  def withTokenCounts(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("ws_tokens", size(words(t)))
      .withColumn("re_tokens", regexp_count(t, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")))
      .withColumn("chars_per_token",
        length(t).cast("double") / col("re_tokens"))
  }

  /** Per-document character-distribution Shannon entropy (nats) —
    * the gibberish/binary-blob quality signal: natural-language text
    * sits around 2.5–3.5 nats, while base64 / random blobs push
    * toward ln(alphabet size) and constant-run junk toward 0.
    *
    * `H = ln N − (Σ_c m_c·ln m_c)/N` over per-character counts m_c.
    *
    * Scale (100 TB): explode to (doc, char), then one aggregate pair.
    * Map-side partial aggregation collapses the character stream to
    * ≤|alphabet| rows per document per partition, so the only shuffle
    * carries (doc_id, char, count) — bounded by alphabet size × docs,
    * independent of document length.
    *
    * Determinism (Registry policy): `ln` is not bit-reproducible
    * cross-engine, so each per-(doc,char) `ln m_c` is quantized to
    * integer micro-nats BEFORE the reordering sum (the LangModel
    * pattern); the finishing arithmetic is a fixed IEEE expression
    * over exact integers. Exact while Σ m·ln(m)·10⁶ < 2⁵³ — holds to
    * ~400 MB per single document.
    */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = df
      // split AFTER each code point, not code unit: a bare "" split
      // halves astral (non-BMP) chars into surrogate pairs while
      // DuckDB's string_split(s, '') yields code points — the
      // lookbehind keeps both engines on code points ('.' matches a
      // full code point in Java regex; (?s) covers line terminators)
      .select(col(idCol).as("doc_id"),
        explode(split(col(textCol), "(?s)(?<=.)")).as("ch"))
      .filter(length(col("ch")) > 0) // zero-width end match emits a ""
      .groupBy("doc_id", "ch")
      .agg(count(lit(1)).as("m"))
    val lnMicro = floor(log(col("m").cast("double")) * lit(1e6) + lit(0.5))
      .cast("long")
    counts
      .select(col("doc_id"), col("m"), (col("m") * lnMicro).as("mlnm"))
      .groupBy("doc_id")
      .agg(
        sum(col("m")).as("n_counted"),
        count(lit(1)).as("distinct_chars"),
        sum(col("mlnm")).as("sum_mlnm_micro"))
      .withColumn("entropy",
        (floor(log(col("n_counted").cast("double")) * lit(1e6) + lit(0.5))
          - col("sum_mlnm_micro").cast("double") / col("n_counted").cast("double"))
          / lit(1e6))
  }

  /** Heavy hitters: top-k tokens per group by frequency. The
    * explode→groupBy is the canonical distributed wordcount — partial
    * (map-side) aggregation bounds the shuffle to distinct
    * (group, token) pairs, not token occurrences; the per-group top-k
    * rank filter plans as `WindowGroupLimit` on Spark 4, which prunes
    * to k rows per group *before* the final sort (asserted in
    * TopTokensSpec). Ties break lexicographically so results are
    * deterministic.
    */
  def topTokens(df: DataFrame, textCol: String, groupCol: String,
                k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(col("n").desc, col("token"))
    df.select(col(groupCol), explode(words(lower(col(textCol)))).as("token"))
      .groupBy(col(groupCol), col("token"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Repetition quality signals (Gopher-style, Rae et al. 2021
    * "Scaling Language Models" table A1 — public heuristics):
    * duplicate-word fraction and the character fraction covered by
    * the most frequent word bigram. Highly repetitive documents
    * (boilerplate, keyword stuffing, generation loops) score high on
    * both and fail `pass_repetition`.
    *
    * Scale design: the mode-of-bigrams is NOT an explode+groupBy —
    * the bigram array is sorted per row and folded once
    * (`aggregate` with a (prev, run, best_n, best) struct
    * accumulator, longest run = most frequent value, ties →
    * lexicographically smallest because the array is sorted and the
    * comparison is strict). Pure map-side expression — scan speed at
    * 100 TB, no shuffle; the DuckDB oracle restates it as the
    * equivalent unnest + count + arg-top instead.
    */
  def withRepetition(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val w = words(t)
    val nW = size(w)
    // bigram positions bind the token array through a one-element
    // lambda so the split evaluates once per row, not once per
    // position (the gramHashes O(len²) lesson)
    val bigrams = element_at(transform(array(w), wsv =>
      when(size(wsv) < 2, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(wsv) - 1),
          i => array_join(slice(wsv, i, lit(2)), " ")))), 1)
    val sorted = array_sort(bigrams)
    val acc0 = struct(lit("").as("prev"), lit(0).as("run"),
      lit(0).as("best_n"), lit("").as("best"))
    val top = aggregate(sorted, acc0, (acc, x) => {
      val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
        .otherwise(lit(1))
      val better = run > acc.getField("best_n")
      struct(x.as("prev"), run.as("run"),
        when(better, run).otherwise(acc.getField("best_n")).as("best_n"),
        when(better, x).otherwise(acc.getField("best")).as("best"))
    })
    df.withColumn("n_words", nW)
      .withColumn("dup_word_frac",
        (nW - size(array_distinct(w))).cast("double") / nW)
      .withColumn("top_bigram", top.getField("best"))
      .withColumn("top_bigram_n", top.getField("best_n"))
      .withColumn("top_bigram_char_frac",
        // a bigram seen once is not repetition — short documents would
        // otherwise fail on their first bigram alone
        when(top.getField("best_n") >= 2,
          (top.getField("best_n") * length(top.getField("best"))).cast("double")
            / length(t))
          .otherwise(lit(0.0)))
      .withColumn("pass_repetition",
        col("dup_word_frac") < 0.95 && col("top_bigram_char_frac") < 0.2)
  }

  /** TF-IDF top-k terms per document. The idf is the plain inverse
    * document-frequency RATIO `n_docs / df` rather than its log:
    * `ln` is not bit-reproducible across engines (libm vs JVM last-ulp
    * differences) while integer ratios divide identically in IEEE —
    * and for a fixed term the ranking the log form induces per
    * document is preserved wherever it matters (idf is monotone in
    * the ratio).
    *
    * Scale design: the tf aggregation is the distributed wordcount
    * (map-side partial agg bounds the shuffle to distinct (doc, token)
    * pairs); document frequency is a second aggregation over those
    * pairs (vocabulary-sized output); the scalar doc count broadcasts.
    * The per-doc top-k plans as `WindowGroupLimit` (k rows per group
    * pruned pre-shuffle, like [[topTokens]]).
    */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      explode(words(lower(col(textCol)))).as("token"))
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = df.select(countDistinct(col(idCol)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("token"))
    tf.join(dfreq, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", col("tf").cast("double") * col("n_docs") / col("df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("doc_id", "token", "tf", "df", "score", "rank")
  }

  /** Rolling char-8-gram fingerprint: min 32-bit gram hash (1-perm
    * minhash over character shingles) + distinct gram count.
    */
  def withFingerprint(df: DataFrame, textCol: String): DataFrame = {
    // fused kernel: one byte pass computes both outputs (min h32 +
    // exact distinct-gram count) — the HOF form pays per-gram
    // md5 → hex → conv through interpreted lambdas plus a second
    // string-distinct walk (bit-equality pinned in
    // TextHashExpressionsSpec)
    df.withColumn("__fp", call_function("char_fingerprint", col(textCol), lit(8)))
      .withColumn("fingerprint", col("__fp").getField("fingerprint"))
      .withColumn("n_grams", col("__fp").getField("n_grams"))
      .drop("__fp")
  }
}
