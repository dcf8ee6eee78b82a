package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.llm.{Bpe, Chunking, CountMin, Decontam, Dedup, Dsir, GopherRules, LangModel, Mixture, ParagraphDedup, QualityClassifier, Sampling, TextHash, TextStats, Unigram, Winnow, Wordpiece}
import graft.ops.PrefixSum

/** Training-data curation operators: deterministic splits/sampling,
  * corpus heavy-hitters, and the end-to-end curation pipeline
  * (quality filter → exact dedup → near-dup cluster representatives →
  * quality-ranked token budget). All randomness is md5-derived
  * (TextHash) so every stage restates exactly in the DuckDB oracle.
  */
object CurationQueries {

  /** Deterministic 80/10/10 train/val/test assignment. Map-side only:
    * at 100 TB this is a scan-speed projection with no shuffle, and
    * the assignment is stable under retries, re-partitioning, and
    * corpus growth (a new doc never reassigns an old one — unlike
    * `rand()` or `randomSplit`).
    */
  val trainSplit: Q = Q(
    "train_split",
    (s, dir) => Sampling.withSplit(Tables.documents(s, dir), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("doc_id", "lang", "split_u", "split"),
    Some("""
      WITH u AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 8))::BIGINT
                 / 4294967296.0 AS split_u
        FROM documents)
      SELECT doc_id, lang, split_u,
             CASE WHEN split_u < 0.8 THEN 'train'
                  WHEN split_u < 0.9 THEN 'val'
                  ELSE 'test' END AS split
      FROM u
    """)
  )

  /** Per-language deterministic Bernoulli sample: 50% of English,
    * 20% of everything else (the up/down-weighting shape of corpus
    * mixing). Pure per-row hash-threshold filter — scan speed, exact
    * reproducibility, no sampleBy driver state.
    */
  val stratifiedSample: Q = Q(
    "stratified_sample",
    (s, dir) => Sampling.stratifiedSample(Tables.documents(s, dir),
        "doc_id", "lang", Map("en" -> 0.5), default = 0.2)
      .select("doc_id", "lang", "source"),
    Some("""
      SELECT doc_id, lang, source
      FROM documents
      WHERE ('0x' || substr(md5('sample:' || doc_id::VARCHAR), 1, 8))::BIGINT
              / 4294967296.0
            < CASE WHEN lang = 'en' THEN 0.5 ELSE 0.2 END
    """)
  )

  /** Corpus heavy hitters: top-10 tokens per language. Distributed
    * wordcount (map-side partial agg) + WindowGroupLimit top-k.
    */
  val tokenTopK: Q = Q(
    "token_topk",
    (s, dir) => TextStats.topTokens(Tables.documents(s, dir), "text", "lang", 10),
    Some("""
      WITH tok AS (
        SELECT lang, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        FROM documents),
      c AS (SELECT lang, token, count(*) AS n FROM tok GROUP BY 1, 2)
      SELECT lang, token, n,
             row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rank
      FROM c QUALIFY rank <= 10
    """)
  )

  /** Per-source quota: keep the top-5 docs by quality from each
    * source — the "cap any single domain's contribution" mixing rule.
    * Plans as WindowGroupLimit (pre-shuffle k-per-group prune, same
    * shape as token_topk).
    */
  val perSourceCap: Q = Q(
    "per_source_cap",
    (s, dir) => {
      val w = Window.partitionBy("source")
        .orderBy(col("quality_score").desc, col("doc_id"))
      TextStats.withQuality(Tables.documents(s, dir), "text")
        .select(col("doc_id"), col("source"), col("lang"), col("quality_score"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
    },
    Some("""
      WITH t AS (
        SELECT doc_id, source, lang, text,
               list_distinct(string_split_regex(trim(text), '\s+')) AS toks
        FROM documents),
      f AS (
        SELECT doc_id, source, lang,
               length(text) AS len0,
               string_split_regex(trim(text), '\s+') AS ws,
               length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digits,
               len(list_intersect(toks, ['the','a','of','and','to','is','in'])) AS stop_hits,
               len(toks) AS n_distinct
        FROM t),
      q AS (
        SELECT doc_id, source, lang,
               0.4 * (stop_hits::DOUBLE / n_distinct)
                 + 0.3 * (1.0 - digits::DOUBLE / len0)
                 + 0.3 * least(
                     (list_reduce(list_transform(ws, w -> length(w)), (a, b) -> a + b))::DOUBLE
                       / len(ws) / 8.0, 1.0) AS quality_score
        FROM f)
      SELECT doc_id, source, lang, quality_score,
             row_number() OVER (PARTITION BY source
                                ORDER BY quality_score DESC, doc_id) AS rank
      FROM q QUALIFY rank <= 5
    """)
  )

  /** Token budget for the curation pipeline: survivors are ranked by
    * quality and kept until the cumulative token count crosses this.
    */
  val TokenBudget = 10000L

  /** The curated slice shared by `curation_pipeline` and
    * `training_shards` (r12): the same gate → exact dedup → LSH
    * representatives → quality-desc PrefixSum budget cut;
    * `keepText` threads the text column through the cut for the
    * downstream tokenizer (curation_pipeline leaves it out so its
    * measured shuffle payload is unchanged).
    */
  private[queries] def curatedFrame(s: SparkSession, dir: String,
                                    keepText: Boolean): DataFrame = {
    val docs = Tables.documents(s, dir)
    val textCols = if (keepText) Seq(col("text")) else Seq.empty
    val scored = TextStats.withTokenCounts(
        TextStats.withQuality(docs, "text"), "text")
      .filter(col("pass_filter"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
        col("quality_score"), col("re_tokens"))
    // exact-dedup: keep the min doc_id of each normalized-text group
    // persist: exact feeds BOTH the near-dup clustering and the
    // survivor rejoin — its quality/token-count/window chain is the
    // pipeline's dominant map-side cost and must not run twice
    val exact = scored
      .withColumn("__th", md5(TextHash.normalize(col("text"))))
      .withColumn("__rep0", min("doc_id").over(Window.partitionBy("__th")))
      .filter(col("doc_id") === col("__rep0"))
      .drop("__th", "__rep0")
      .persist()
    // near-dup clusters among the remaining; keep representatives
    val reps = Dedup.minHashClusters(exact, "doc_id", "text",
        numPerm = 16, bands = 4, tau = 0.85, maxBucket = 64)
      .filter(col("doc_id") === col("rep_id"))
      .select("doc_id")
    val surv = exact.join(reps, "doc_id")
      .select(Seq(col("doc_id"), col("lang"), col("quality_score"),
        col("re_tokens")) ++ textCols ++ Seq(
        // descending-quality order as an ascending sort key (exact:
        // IEEE negation) so the range partitioner sees plain asc
        (-col("quality_score")).as("__negq"),
        col("re_tokens").cast(DecimalType(20, 0)).as("__tok"),
        lit(0).as("__g")): _*)
    val cum = PrefixSum.withRunningSum(surv, "__g",
      Seq("__negq", "doc_id"), "__tok", "__cum")
    cum.filter(col("__cum") <= TokenBudget)
      .select(Seq(col("doc_id"), col("lang"), col("quality_score"),
        col("re_tokens")) ++ textCols :+
        col("__cum").cast("long").as("cum_tokens"): _*)
  }

  /** The curation chain as a reusable CTE body ending at `curated`
    * (r12): curation_pipeline selects it directly; training_shards
    * stacks the BPE/WordPiece/packing CTEs on top of it.
    */
  private def curationCtes(keepText: Boolean): String = {
    val kText = if (keepText) ", k.text" else ""
    val cText = if (keepText) ", text" else ""
    s"""
      WITH RECURSIVE q0 AS (
        SELECT doc_id, lang, n_chars, text,
               list_distinct(string_split_regex(trim(text), '\\s+')) AS toks
        FROM documents),
      q1 AS (
        SELECT doc_id, lang, n_chars, text,
               length(text) AS len0,
               string_split_regex(trim(text), '\\s+') AS ws,
               length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digits,
               len(list_intersect(toks, ['the','a','of','and','to','is','in'])) AS stop_hits,
               len(toks) AS n_distinct,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS re_tokens
        FROM q0),
      q2 AS (
        SELECT doc_id, lang, n_chars, text, re_tokens, len0, digits,
               stop_hits, n_distinct, len(ws) AS n_words,
               list_reduce(list_transform(ws, w -> length(w)), (a, b) -> a + b) AS sum_word_len
        FROM q1),
      scored AS (
        SELECT doc_id, lang, n_chars, text, re_tokens, n_words, len0,
               0.4 * (stop_hits::DOUBLE / n_distinct)
                 + 0.3 * (1.0 - digits::DOUBLE / len0)
                 + 0.3 * least(sum_word_len::DOUBLE / n_words / 8.0, 1.0) AS quality_score
        FROM q2),
      kept AS (
        SELECT doc_id, lang, n_chars, text, re_tokens, quality_score
        FROM scored
        WHERE quality_score >= 0.5 AND n_words >= 10 AND len0 >= 50
        QUALIFY doc_id = min(doc_id) OVER (
          PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))),
      ${LlmQueries.minhashPairCteBody("kept")},
      ${LlmQueries.componentCtes},
      surv AS (
        SELECT k.doc_id, k.lang, k.quality_score, k.re_tokens$kText
        FROM kept k JOIN comp c ON c.doc_id = k.doc_id AND c.rep_id = k.doc_id),
      ranked AS (
        SELECT *, CAST(sum(re_tokens) OVER (ORDER BY quality_score DESC, doc_id)
                       AS BIGINT) AS cum
        FROM surv),
      curated AS (
        SELECT doc_id, lang, quality_score, re_tokens$cText,
               cum::BIGINT AS cum_tokens
        FROM ranked WHERE cum <= $TokenBudget)"""
  }

  /** End-to-end curation: quality filter → exact-dedup representative
    * → MinHash near-dup CLUSTER representative → rank by quality →
    * keep the top of the corpus up to a token budget.
    *
    * Every stage is the engine's own operator (TextStats quality,
    * Dedup exact + clusters, PrefixSum budget cut), composed the way
    * a real pretraining-data pipeline chains them. The budget cumsum
    * uses the two-phase distributed PrefixSum — a global
    * `Window.orderBy` would serialize the whole surviving corpus into
    * one task at 100 TB.
    */
  val curationPipeline: Q = Q(
    "curation_pipeline",
    (s, dir) => curatedFrame(s, dir, keepText = false),
    Some(curationCtes(keepText = false) + """
      SELECT doc_id, lang, quality_score, re_tokens, cum_tokens FROM curated
    """)
  )

  /** Benchmark decontamination: train docs sharing any word 8-gram
    * with the held-out (val+test) split. The held-out gram-hash set
    * broadcasts (benchmark-sized at any corpus scale); the train side
    * explodes grams map-side and only join survivors shuffle.
    */
  val decontamOverlap: Q = Q(
    "decontam_overlap",
    (s, dir) => {
      val docs = Sampling.withSplit(Tables.documents(s, dir), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      Decontam.report(docs.filter(col("split") === "train"),
        docs.filter(col("split") =!= "train"), "doc_id", "text", n = 8)
    },
    Some("""
      WITH u AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws,
               ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 8))::BIGINT
                 / 4294967296.0 < 0.8 AS is_train
        FROM documents),
      g AS (
        SELECT doc_id, is_train,
               list_distinct(list_transform(
                 range(1, greatest(len(ws) - 7, 0) + 1),
                 i -> ('0x' || substr(md5(array_to_string(ws[i:i+7], ' ')), 1, 8))::BIGINT)) AS grams
        FROM u),
      banned AS (
        SELECT DISTINCT gh
        FROM (SELECT unnest(grams) AS gh FROM g WHERE NOT is_train) s),
      tg AS (SELECT doc_id, unnest(grams) AS gh FROM g WHERE is_train),
      ov AS (SELECT tg.doc_id, count(*) AS n_overlap
             FROM tg JOIN banned USING (gh) GROUP BY 1)
      SELECT t.doc_id, len(t.grams)::INT AS n_grams,
             coalesce(o.n_overlap, 0)::BIGINT AS n_overlap,
             coalesce(o.n_overlap, 0) > 0 AS contaminated
      FROM g t LEFT JOIN ov o USING (doc_id) WHERE t.is_train
    """)
  )

  /** The full BPE training loop unrolled in SQL (kmeans_cells
    * precedent): per merge i, pair counts over the spaced-symbol word
    * table, a 1-row (count DESC, a, b) argmax, and the merge as the
    * same left fold over the symbols as Bpe's (`list_reduce`).
    *
    * `src` / `pfx` / `withClause` exist for COMPOSITION (r12,
    * training_shards): train the replayed BPE on a prior CTE's slice
    * instead of the raw table, with every CTE name prefixed so the
    * body coexists with the curation chain's names (`m1`, `d`, …)
    * in one statement. Defaults reproduce the standalone oracles
    * byte-for-byte.
    */
  private def bpeCtes(k: Int, src: String = "documents",
                      pfx: String = "", withClause: Boolean = true): String = {
    val head = if (withClause) "\n      WITH " else ",\n      "
    val sb = new StringBuilder(
      s"""$head${pfx}w0 AS MATERIALIZED (
        SELECT word, count(*) AS cnt,
               ' ' || array_to_string(list_filter(string_split(word, ''), c -> c <> ''), ' ') AS s
        FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word FROM $src)
        GROUP BY 1)""")
    for (i <- 1 to k) sb.append(s""",
      ${pfx}p$i AS MATERIALIZED (
        SELECT (p).a AS a, (p).b AS b, CAST(sum(cnt) AS BIGINT) AS n
        FROM (SELECT cnt,
                unnest(list_transform(range(1, len(l)),
                  j -> struct_pack(a := l[j], b := l[j + 1]))) AS p
              FROM (SELECT cnt, list_filter(string_split(s, ' '), x -> x <> '') AS l
                    FROM ${pfx}w${i - 1}))
        GROUP BY 1, 2),
      ${pfx}m$i AS MATERIALIZED (SELECT a, b, n FROM ${pfx}p$i ORDER BY n DESC, a, b LIMIT 1),
      ${pfx}w$i AS MATERIALIZED (SELECT word, cnt,
                list_reduce(
                  list_prepend('', list_filter(string_split(s, ' '), x -> x <> '')),
                  (acc, t) -> CASE WHEN ends_with(acc, ' ' || a) AND t = b
                                   THEN acc || b ELSE acc || ' ' || t END) AS s
              FROM ${pfx}w${i - 1} CROSS JOIN ${pfx}m$i)""")
    sb.toString
  }

  private val BpeMerges = 8

  /** BPE tokenizer training (Sennrich subword merges) on the corpus:
    * the first 8 merges with their weighted pair frequencies. The
    * engine runs the distributed loop (Bpe.train: iterations over the
    * distinct-word table only); the oracle replays the IDENTICAL loop
    * fully unrolled in SQL — agreement proves every pair count,
    * every tie-break, and every left-to-right merge application.
    */
  val bpeVocab: Q = Q(
    "bpe_vocab",
    (s, dir) => {
      import s.implicits._
      Bpe.train(Tables.documents(s, dir), "text", BpeMerges)
        .merges.toDF("rank", "a", "b", "n")
    },
    Some(bpeCtes(BpeMerges) + "\n" +
      (1 to BpeMerges).map(i =>
        s"SELECT $i AS rank, a, b, n FROM m$i").mkString("\n      UNION ALL "))
  )

  /** Per-document token counts under the trained BPE vocabulary —
    * encoding joins the corpus' (doc, word) pairs against the trained
    * word→token-count dictionary, so per-word tokenization cost is
    * paid once per DISTINCT word at training time and the 100 TB
    * encode pass ships one small int per word occurrence.
    */
  val bpeEncode: Q = Q(
    "bpe_encode",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      Bpe.encodeCounts(docs, "doc_id", "text", Bpe.train(docs, "text", BpeMerges))
    },
    Some(bpeCtes(BpeMerges) + s""",
      t AS (SELECT word,
              len(list_filter(string_split(s, ' '), x -> x <> '')) AS toks
            FROM w$BpeMerges),
      d AS (SELECT doc_id,
              unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
            FROM documents)
      SELECT d.doc_id, count(*) AS n_words,
             CAST(sum(t.toks) AS BIGINT) AS bpe_tokens,
             CAST(sum(t.toks) AS DOUBLE) / count(*) AS tokens_per_word
      FROM d JOIN t USING (word) GROUP BY 1
    """)
  )

  /** Exactly-10-per-language PPS sample (probability ∝ document
    * length) via A-ES priorities — the exact-size complement of the
    * Bernoulli samplers. Priorities quantize to integer micro-units
    * before ranking (ln policy); the deviate shifts into (0,1] so no
    * -Inf ever reaches the BIGINT cast; the 2³² constant carries an
    * explicit DOUBLE cast in the oracle (decimal-literal pitfall —
    * a decimal division here would shift ln's input beyond an ulp).
    */
  val ppsSample: Q = Q(
    "pps_sample",
    (s, dir) => Sampling.weightedTopN(Tables.documents(s, dir), "doc_id",
        "lang", col("n_chars").cast("double"), n = 10)
      .select("doc_id", "lang", "n_chars", "prio_micro", "sample_rank"),
    Some("""
      WITH p AS (
        SELECT doc_id, lang, n_chars,
               CAST(floor(
                 ln((('0x' || substr(md5('wtopn:' || doc_id::VARCHAR), 1, 8))::BIGINT + 1)
                    / CAST(4294967296.0 AS DOUBLE))
                 / CAST(n_chars AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS prio_micro
        FROM documents),
      r AS (SELECT *, row_number() OVER (PARTITION BY lang
                                         ORDER BY prio_micro DESC, doc_id)
                        AS sample_rank
            FROM p)
      SELECT doc_id, lang, n_chars, prio_micro, sample_rank
      FROM r WHERE sample_rank <= 10
    """)
  )

  /** Deterministic epoch shuffle + sharding: a reproducible global
    * permutation of the corpus with contiguous positions and
    * data-parallel shard assignment. The oracle is the single-window
    * `row_number() OVER (ORDER BY skey)` form; the engine computes
    * the same ranks with a range-partitioned parallel sort + the
    * PrefixSum offset pattern (Sampling.globalShuffle) — the two
    * agreeing proves the distributed form exact.
    */
  val globalShuffleQ: Q = Q(
    "global_shuffle",
    (s, dir) => Sampling.globalShuffle(Tables.documents(s, dir), "doc_id", nShards = 8)
      .select("doc_id", "skey", "pos", "shard"),
    Some("""
      WITH k AS (
        SELECT doc_id,
               ('0x' || substr(md5('shuffle:' || doc_id::VARCHAR), 1, 15))::BIGINT AS skey
        FROM documents)
      SELECT doc_id, skey,
             row_number() OVER (ORDER BY skey, doc_id) - 1 AS pos,
             (row_number() OVER (ORDER BY skey, doc_id) - 1) % 8 AS shard
      FROM k
    """)
  )

  /** Bloom-prefiltered decontamination — same contamination report as
    * `decontam_overlap`, for an eval set too big to broadcast as a
    * gram table: the banned grams compress to a 32 KB bitmap probed
    * map-side, and only bloom survivors shuffle into the exact-verify
    * join. No false negatives ⇒ bit-identical output, so the oracle
    * is the exact n-gram SQL — the two queries agreeing IS the proof
    * that the prefilter is lossless.
    */
  val decontamBloom: Q = Q(
    "decontam_bloom",
    (s, dir) => {
      val docs = Sampling.withSplit(Tables.documents(s, dir), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      Decontam.bloomReport(docs.filter(col("split") === "train"),
        docs.filter(col("split") =!= "train"), "doc_id", "text", n = 8,
        mBits = 1 << 18, k = 4)
    },
    Some("""
      WITH u AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws,
               ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 8))::BIGINT
                 / 4294967296.0 < 0.8 AS is_train
        FROM documents),
      g AS (
        SELECT doc_id, is_train,
               list_distinct(list_transform(
                 range(1, greatest(len(ws) - 7, 0) + 1),
                 i -> ('0x' || substr(md5(array_to_string(ws[i:i+7], ' ')), 1, 8))::BIGINT)) AS grams
        FROM u),
      banned AS (
        SELECT DISTINCT gh
        FROM (SELECT unnest(grams) AS gh FROM g WHERE NOT is_train) s),
      tg AS (SELECT doc_id, unnest(grams) AS gh FROM g WHERE is_train),
      ov AS (SELECT tg.doc_id, count(*) AS n_overlap
             FROM tg JOIN banned USING (gh) GROUP BY 1)
      SELECT t.doc_id, len(t.grams)::INT AS n_grams,
             coalesce(o.n_overlap, 0)::BIGINT AS n_overlap,
             coalesce(o.n_overlap, 0) > 0 AS contaminated
      FROM g t LEFT JOIN ov o USING (doc_id) WHERE t.is_train
    """)
  )

  /** Gopher-style repetition signals: duplicate-word fraction + the
    * character fraction of the most frequent word bigram. Spark
    * computes the bigram mode with a map-side sorted-array fold (no
    * shuffle); the oracle restates it as unnest + count + top-1.
    */
  val repetitionStats: Q = Q(
    "repetition_stats",
    (s, dir) => TextStats.withRepetition(Tables.documents(s, dir), "text")
      .select("doc_id", "lang", "n_words", "dup_word_frac", "top_bigram",
        "top_bigram_n", "top_bigram_char_frac", "pass_repetition"),
    Some("""
      WITH w AS (
        SELECT doc_id, lang, text,
               string_split_regex(trim(text), '\s+') AS ws
        FROM documents),
      g AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(ws)),
                 i -> ws[i] || ' ' || ws[i+1])) AS gm
        FROM w),
      cnt AS (SELECT doc_id, gm, count(*) AS n FROM g GROUP BY 1, 2),
      top AS (
        SELECT doc_id, gm, n FROM cnt
        QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, gm) = 1)
      SELECT w.doc_id, w.lang, len(ws)::INT AS n_words,
             (len(ws) - len(list_distinct(ws)))::DOUBLE / len(ws) AS dup_word_frac,
             coalesce(t.gm, '') AS top_bigram,
             coalesce(t.n, 0)::INT AS top_bigram_n,
             CASE WHEN coalesce(t.n, 0) >= 2
                  THEN (t.n * length(t.gm))::DOUBLE / length(w.text)
                  ELSE 0.0 END AS top_bigram_char_frac,
             ((len(ws) - len(list_distinct(ws)))::DOUBLE / len(ws) < 0.95
              AND CASE WHEN coalesce(t.n, 0) >= 2
                       THEN (t.n * length(t.gm))::DOUBLE / length(w.text)
                       ELSE 0.0 END < 0.2) AS pass_repetition
      FROM w LEFT JOIN top t USING (doc_id)
    """)
  )

  /** Stride-overlap document chunking (32-token windows, stride 24).
    * Map-side transform+explode — scan speed, no shuffle.
    */
  val docChunks: Q = Q(
    "doc_chunks",
    (s, dir) => Chunking.chunks(Tables.documents(s, dir), "doc_id", "text",
      chunkSize = 32, stride = 24),
    Some("""
      WITH w AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        FROM documents),
      c AS (
        SELECT doc_id, ws,
               unnest(range(CASE WHEN len(ws) <= 32 THEN 1
                            ELSE ceil((len(ws) - 32)::DOUBLE / 24)::BIGINT + 1
                            END)) AS i
        FROM w)
      SELECT doc_id, i::INT AS chunk_idx,
             array_to_string(ws[(i*24+1):(i*24+32)], ' ') AS chunk_text,
             len(ws[(i*24+1):(i*24+32)])::INT AS n_tokens
      FROM c
    """)
  )

  /** Contiguous "concat then split" sequence packing into 512-token
    * training sequences on the distributed PrefixSum (NOT a
    * single-task global window — same scale machinery as
    * `dollar_bars_scalable`).
    */
  val packSequences: Q = Q(
    "pack_sequences",
    (s, dir) => Chunking.packSequences(Tables.documents(s, dir), "doc_id",
      "text", seqLen = 512),
    Some("""
      WITH w AS (
        SELECT doc_id,
               len(string_split_regex(trim(text), '\s+')) AS n_tok
        FROM documents),
      c AS (SELECT doc_id, n_tok,
                   CAST(sum(n_tok) OVER (ORDER BY doc_id) AS BIGINT) AS cum
            FROM w)
      SELECT doc_id, n_tok::INT AS n_tok, cum::BIGINT AS cum_tokens,
             ((cum - n_tok) // 512)::BIGINT AS seq_id,
             ((cum - n_tok) % 512)::BIGINT AS seq_off,
             ((cum - 1) // 512 - (cum - n_tok) // 512 + 1)::BIGINT AS n_seqs
      FROM c
    """)
  )

  /** Whole-document best-fit-decreasing packing, summarized to its
    * oracle-checkable invariants. Bin ASSIGNMENTS are deterministic
    * but algorithm-specific (no SQL replay), so the emitted single
    * row carries what SQL can verify exactly — total packed docs and
    * tokens (conservation: packing must neither drop nor duplicate
    * eligible docs) — plus two booleans the oracle pins to TRUE:
    * `fill_ok` (no bin over 512 tokens) and `half_full_ok` (BFD opens
    * a bin only when a doc fits nowhere, so per partition at most one
    * bin can end ≤ half full — globally at most `partitions` such
    * bins). A packing that dropped docs, overfilled a bin, or
    * degenerated to one-doc-per-bin fails the hash compare.
    */
  val packBestfit: Q = Q(
    "pack_bestfit",
    (s, dir) => {
      val seqLen = 512
      val parts = 32
      val packed = Chunking.packBestFit(Tables.documents(s, dir), "doc_id",
        "text", seqLen, partitions = parts)
      val bins = packed.groupBy("bin_id")
        .agg(sum("n_tok").as("fill"), count(lit(1)).as("n_docs"))
      bins.agg(
        sum("n_docs").cast("long").as("total_docs"),
        sum("fill").cast("long").as("total_tokens"),
        (max(col("fill")) <= lit(seqLen)).as("fill_ok"),
        (sum(when(col("fill") <= lit(seqLen / 2), 1).otherwise(0)) <= lit(parts))
          .as("half_full_ok"))
    },
    Some("""
      WITH w AS (
        SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n_tok
        FROM documents),
      f AS (SELECT * FROM w WHERE n_tok > 0 AND n_tok <= 512)
      SELECT CAST(count(*) AS BIGINT) AS total_docs,
             CAST(sum(n_tok) AS BIGINT) AS total_tokens,
             TRUE AS fill_ok, TRUE AS half_full_ok
      FROM f
    """)
  )

  /** TF-IDF top-3 terms per document (ratio idf — see
    * TextStats.tfidfTopTerms for why not `ln`).
    */
  val tfidfTopTerms: Q = Q(
    "tfidf_top_terms",
    (s, dir) => TextStats.tfidfTopTerms(Tables.documents(s, dir), "doc_id",
      "text", k = 3),
    Some("""
      WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        FROM documents),
      tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
      dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
      SELECT doc_id, token, tf, df,
             tf::DOUBLE * n_docs / df AS score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tf::DOUBLE * n_docs / df DESC, token) AS rank
      FROM tf JOIN dfq USING (token) CROSS JOIN n
      QUALIFY rank <= 3
    """)
  )

  /** Within-corpus verbatim-span dedup signal (Lee et al.): document
    * pairs sharing ≥1 word 8-gram, with the distinct shared-gram
    * count. Grams in > 64 documents are dropped pre-join (boilerplate;
    * bounds per-gram join fanout at 64²) — mirrored in the oracle.
    */
  val dupNgramPairs: Q = Q(
    "dup_ngram_pairs",
    (s, dir) => Decontam.selfOverlapPairs(Tables.documents(s, dir),
      "doc_id", "text", n = 8, maxDf = 64),
    Some("""
      WITH u AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        FROM documents),
      g0 AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                 range(1, greatest(len(ws) - 7, 0) + 1),
                 i -> ('0x' || substr(md5(array_to_string(ws[i:i+7], ' ')), 1, 8))::BIGINT))) AS g
        FROM u),
      g AS (
        SELECT doc_id, g FROM (
          SELECT doc_id, g, count(*) OVER (PARTITION BY g) AS df FROM g0)
        WHERE df <= 64)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
      FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    """)
  )

  /** Quality-weighted Bernoulli subsample: each document survives with
    * probability = its quality score (md5 deviate < score) — the
    * CCNet-style "keep good data more often" stage, as a
    * deterministic map-side filter (no shuffle, retry-stable).
    */
  val qualityWeightedSample: Q = Q(
    "quality_weighted_sample",
    (s, dir) => Sampling.weightedSample(
      TextStats.withQuality(Tables.documents(s, dir), "text"),
      "doc_id", col("quality_score"), salt = "qws")
      .select("doc_id", "lang", "quality_score"),
    Some("""
      WITH t AS (
        SELECT doc_id, lang, text,
               list_distinct(string_split_regex(trim(text), '\s+')) AS toks
        FROM documents),
      f AS (
        SELECT doc_id, lang, toks,
               length(text) AS len0,
               string_split_regex(trim(text), '\s+') AS ws,
               length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digits,
               len(list_intersect(toks, ['the','a','of','and','to','is','in'])) AS stop_hits
        FROM t),
      f2 AS (
        SELECT doc_id, lang, len0, len(ws) AS n_words,
               list_reduce(list_transform(ws, w -> length(w)), (a, b) -> a + b) AS sum_word_len,
               digits, stop_hits, len(toks) AS n_distinct
        FROM f),
      q AS (
        SELECT doc_id, lang,
               0.4 * (stop_hits::DOUBLE / n_distinct)
                 + 0.3 * (1.0 - digits::DOUBLE / len0)
                 + 0.3 * least(sum_word_len::DOUBLE / n_words / 8.0, 1.0) AS quality_score
        FROM f2)
      SELECT doc_id, lang, quality_score
      FROM q
      WHERE ('0x' || substr(md5('qws:' || doc_id::VARCHAR), 1, 8))::BIGINT / 4294967296.0
            < greatest(0.0::DOUBLE, least(quality_score, 1.0::DOUBLE))
    """)
  )

  /** CCNet-style bigram-LM quality score: each document's average
    * add-one-smoothed bigram log-likelihood under corpus counts, in
    * exact integer micro-nats (`ln` quantized per-bigram BEFORE any
    * reordering aggregate — ln is not bit-reproducible cross-engine,
    * LangModel doc). Shuffles carry distinct (doc, bigram) pairs only.
    */
  val lmBigramScore: Q = Q(
    "lm_bigram_score",
    (s, dir) => LangModel.bigramScore(Tables.documents(s, dir), "doc_id", "text"),
    Some("""
      WITH w AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
                 FROM documents),
      be AS (SELECT doc_id, ws[i::INT] AS w1, ws[(i + 1)::INT] AS w2
             FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM w)),
      db AS (SELECT doc_id, w1, w2, count(*) AS m FROM be GROUP BY 1, 2, 3),
      c2 AS (SELECT w1, w2, count(*) AS c2 FROM be GROUP BY 1, 2),
      c1 AS (SELECT w1, count(*) AS c1 FROM be GROUP BY 1),
      vv AS (SELECT count(DISTINCT u.x) AS v FROM (SELECT unnest(ws) AS x FROM w) u),
      t AS (SELECT doc_id, m,
                   floor(ln((c2.c2 + 1)::DOUBLE / (c1.c1 + vv.v)::DOUBLE) * 1e6 + 0.5)::BIGINT AS llm
            FROM db JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vv)
      SELECT doc_id,
             CAST(sum(m) AS BIGINT) AS n_bigrams,
             count(*) AS distinct_bigrams,
             CAST(sum(m * llm) AS BIGINT) AS sum_ll_micro,
             CAST(sum(m * llm) AS BIGINT)::DOUBLE
               / (CAST(sum(m) AS BIGINT)::DOUBLE * 1e6) AS avg_ll
      FROM t GROUP BY 1
    """)
  )

  /** Interpolated Kneser–Ney bigram LM score — the production
    * smoothing next to lm_bigram_score's add-one baseline: discounted
    * bigram MLE interpolated with the CONTINUATION unigram (distinct
    * left-contexts, not frequency — the "Francisco" fix). Same
    * integer micro-nat policy; all five model tables are
    * vocabulary-bounded.
    */
  val lmKneserNey: Q = Q(
    "lm_kneser_ney",
    (s, dir) => LangModel.kneserNeyScore(Tables.documents(s, dir), "doc_id", "text"),
    Some("""
      WITH w AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
                 FROM documents),
      be AS (SELECT doc_id, ws[i::INT] AS w1, ws[(i + 1)::INT] AS w2
             FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM w)),
      db AS (SELECT doc_id, w1, w2, count(*) AS m FROM be GROUP BY 1, 2, 3),
      c2 AS (SELECT w1, w2, count(*) AS c2 FROM be GROUP BY 1, 2),
      c1 AS (SELECT w1, count(*) AS c1 FROM be GROUP BY 1),
      np AS (SELECT w1, count(*) AS n1p FROM c2 GROUP BY 1),
      nc AS (SELECT w2, count(*) AS nctx FROM c2 GROUP BY 1),
      nb AS (SELECT count(*) AS nbig FROM c2),
      t AS (SELECT doc_id, m,
                   floor(ln(
                     greatest(c2.c2::DOUBLE - CAST(0.75 AS DOUBLE), 0.0) / c1.c1::DOUBLE
                       + CAST(0.75 AS DOUBLE) * np.n1p::DOUBLE / c1.c1::DOUBLE
                         * (nc.nctx::DOUBLE / nb.nbig::DOUBLE)
                   ) * 1e6 + 0.5)::BIGINT AS llm
            FROM db JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
                 JOIN np USING (w1) JOIN nc USING (w2) CROSS JOIN nb)
      SELECT doc_id,
             CAST(sum(m) AS BIGINT) AS n_bigrams,
             count(*) AS distinct_bigrams,
             CAST(sum(m * llm) AS BIGINT) AS sum_ll_micro,
             CAST(sum(m * llm) AS BIGINT)::DOUBLE
               / (CAST(sum(m) AS BIGINT)::DOUBLE * 1e6) AS avg_ll
      FROM t GROUP BY 1
    """)
  )

  /** Cross-document span dedup with rewrite (CCNet/RefinedWeb
    * paragraph dedup): 20-word spans repeated anywhere in the corpus
    * survive only at their first (doc_id, chunk_idx) occurrence and
    * each document is reassembled from its surviving spans. One hash
    * shuffle on the span digest + one reassembly shuffle on doc_id.
    */
  val paragraphDedupQ: Q = Q(
    "paragraph_dedup",
    (s, dir) => ParagraphDedup.rewrite(Tables.documents(s, dir), "doc_id", "text",
      spanWords = 20),
    Some("""
      WITH w AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
                 FROM documents),
      c AS (SELECT doc_id, ws,
                   unnest(range(CASE WHEN len(ws) <= 20 THEN 1
                                ELSE ceil((len(ws) - 20)::DOUBLE / 20)::BIGINT + 1 END)) AS i
            FROM w),
      k AS (SELECT doc_id, i::INT AS chunk_idx,
                   array_to_string(ws[(i*20+1):(i*20+20)], ' ') AS chunk_text
            FROM c),
      r AS (SELECT *, row_number() OVER (PARTITION BY md5(chunk_text)
                                         ORDER BY doc_id, chunk_idx) AS rn
            FROM k)
      SELECT doc_id,
             count(*) AS n_chunks,
             count(CASE WHEN rn = 1 THEN 1 END) AS kept_chunks,
             length(coalesce(string_agg(CASE WHEN rn = 1 THEN chunk_text END, ' '
                                        ORDER BY chunk_idx), '')) AS new_len,
             md5(coalesce(string_agg(CASE WHEN rn = 1 THEN chunk_text END, ' '
                                     ORDER BY chunk_idx), '')) AS new_hash
      FROM r GROUP BY 1
    """)
  )

  /** Count-Min-sketch heavy hitters: every token with exact corpus
    * count ≥ 100, found via a 4×1024 bounded sketch (candidates) +
    * exact verify (CountMin doc — map-side sketch state, broadcast
    * cell/candidate tables, non-candidates never shuffle).
    */
  val cmsHeavyHitters: Q = Q(
    "cms_heavy_hitters",
    (s, dir) => CountMin.heavyHitters(Tables.documents(s, dir), "text",
      depth = 4, width = 1024, minCount = 100L),
    Some("""
      WITH tok AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
                   FROM documents),
      tb AS (SELECT tok, j,
                    ('0x' || substr(md5('cms' || j::VARCHAR || ':' || tok), 1, 8))::BIGINT % 1024 AS b
             FROM tok CROSS JOIN range(4) r(j)),
      cells AS (SELECT j, b, count(*) AS cell_cnt FROM tb GROUP BY 1, 2),
      cand AS (SELECT t.tok, min(c.cell_cnt) AS est
               FROM (SELECT DISTINCT tok, j, b FROM tb) t
               JOIN cells c USING (j, b)
               GROUP BY 1 HAVING min(c.cell_cnt) >= 100),
      exact AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1)
      SELECT cand.tok AS token, cand.est, exact.cnt
      FROM cand JOIN exact USING (tok)
      WHERE exact.cnt >= 100
    """)
  )

  /** Maximal duplicated spans (Decontam.dupSpans scaladoc — Lee et
    * al. substring-dedup semantics, first occurrence survives): the
    * position-level report `dup_ngram_pairs` cannot express. One
    * combiner aggregation + one gram join + one doc window.
    */
  val dupSpansQ: Q = Q(
    "dup_spans",
    (s, dir) => Decontam.dupSpans(Tables.documents(s, dir), "doc_id", "text",
      n = 8),
    Some("""
      WITH u AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
                 FROM documents),
      o AS (SELECT doc_id, unnest(range(1, greatest(len(ws) - 7, 0) + 1)) AS pos, ws
            FROM u),
      occ AS (SELECT doc_id, pos::BIGINT AS pos,
                     ('0x' || substr(md5(array_to_string(ws[pos:pos+7], ' ')), 1, 8))::BIGINT AS g
              FROM o),
      a AS (SELECT g, count(*) AS cnt,
                   min(doc_id * 4294967296 + pos) AS firstk
            FROM occ GROUP BY 1),
      d AS (SELECT occ.doc_id, occ.pos FROM occ JOIN a USING (g)
            WHERE cnt >= 2 AND doc_id * 4294967296 + pos <> firstk),
      i AS (SELECT doc_id, pos,
                   pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
            FROM d)
      SELECT doc_id, min(pos) AS span_start,
             max(pos) + 7 AS span_end, count(*) AS n_grams
      FROM i GROUP BY doc_id, grp
    """)
  )

  /** Shared oracle CTE chain: per-document add-one-smoothed bigram
    * avg log-likelihood (the lm_bigram_score arithmetic) joined with
    * the language column — base for the CCNet bucketing query.
    */
  private val bigramAvgLlCtes = """
      WITH w AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
                 FROM documents),
      be AS (SELECT doc_id, ws[i::INT] AS w1, ws[(i + 1)::INT] AS w2
             FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM w)),
      db AS (SELECT doc_id, w1, w2, count(*) AS m FROM be GROUP BY 1, 2, 3),
      c2 AS (SELECT w1, w2, count(*) AS c2 FROM be GROUP BY 1, 2),
      c1 AS (SELECT w1, count(*) AS c1 FROM be GROUP BY 1),
      vv AS (SELECT count(DISTINCT u.x) AS v FROM (SELECT unnest(ws) AS x FROM w) u),
      t AS (SELECT doc_id, m,
                   floor(ln((c2.c2 + 1)::DOUBLE / (c1.c1 + vv.v)::DOUBLE) * 1e6 + 0.5)::BIGINT AS llm
            FROM db JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vv),
      d2 AS (SELECT doc_id,
                    CAST(sum(m * llm) AS BIGINT)::DOUBLE
                      / (CAST(sum(m) AS BIGINT)::DOUBLE * 1e6) AS avg_ll
             FROM t GROUP BY 1),
      sc AS (SELECT d2.doc_id, documents.lang, avg_ll
             FROM d2 JOIN documents USING (doc_id))"""

  /** CCNet perplexity buckets (Wenzek et al. 2019, public): each
    * document's LM score assigns it to head/middle/tail within its
    * language — the curation signal CCNet keeps/drops on. The tercile
    * CUTOFFS come from a deterministic md5-sampled 20% slice (exactly
    * CCNet's own recipe: cutoffs are trained once, then applied as
    * constants), so bucketing the corpus is a BROADCAST join + map
    * comparison — no per-language global sort, no single-task window
    * (a `ntile` over `partitionBy(lang)` would put an entire language
    * in one task at 100 TB; the sampled-cutoff form is the skew-free
    * plan). Sorted-list cutoffs and every comparison restate exactly
    * in DuckDB; languages absent from the sample fall to 'middle'.
    */
  val ccnetBucketsQ: Q = Q(
    "ccnet_buckets",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      // persist: the scored table feeds both the sampled cutoff fit
      // and the final bucketing join — the bigram-LM chain (the
      // dominant cost) must not run twice
      val scored = LangModel.bigramScore(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .select(col("doc_id"), col("lang"), col("avg_ll"))
        .persist()
      val samp = scored.filter(Sampling.u01(col("doc_id"), "ccnet") < 0.2)
      val cuts = samp.groupBy("lang").agg(
        sort_array(collect_list(col("avg_ll"))).as("a"),
        count(lit(1)).as("n"))
      val n1 = greatest(lit(1L), floor(col("n") / 3).cast("long"))
      val n2 = greatest(n1, floor(col("n") * 2 / 3).cast("long"))
      val cc = cuts.select(col("lang"),
        element_at(col("a"), n1.cast("int")).as("c1"),
        element_at(col("a"), n2.cast("int")).as("c2"))
      scored.join(broadcast(cc), Seq("lang"), "left")
        .select(col("doc_id"), col("lang"), col("avg_ll"),
          when(col("c1").isNull, "middle")
            .when(col("avg_ll") > col("c2"), "head")
            .when(col("avg_ll") <= col("c1"), "tail")
            .otherwise("middle").as("bucket"))
    },
    Some(bigramAvgLlCtes + """,
      samp AS (SELECT * FROM sc
               WHERE (('0x' || substr(md5('ccnet:' || doc_id::VARCHAR), 1, 8))::BIGINT)::DOUBLE
                       / CAST(4294967296.0 AS DOUBLE) < 0.2),
      cuts AS (SELECT lang, list_sort(list(avg_ll)) AS a, count(*) AS n
               FROM samp GROUP BY 1),
      cc AS (SELECT lang,
                    a[greatest(1, n // 3)::INT] AS c1,
                    a[greatest(greatest(1, n // 3), 2 * n // 3)::INT] AS c2
             FROM cuts)
      SELECT sc.doc_id, sc.lang, sc.avg_ll,
             CASE WHEN cc.c1 IS NULL THEN 'middle'
                  WHEN sc.avg_ll > cc.c2 THEN 'head'
                  WHEN sc.avg_ll <= cc.c1 THEN 'tail'
                  ELSE 'middle' END AS bucket
      FROM sc LEFT JOIN cc USING (lang)
    """)
  )

  /** Gopher/MassiveWeb rule bundle (GopherRules scaladoc): the named
    * public thresholds as 0/1 verdicts + conjunctive pass, pure
    * per-row HOF expressions — no explode, no shuffle, scan speed.
    */
  val gopherRulesQ: Q = Q(
    "gopher_rules",
    (s, dir) => GopherRules(Tables.documents(s, dir), "doc_id", "text"),
    Some("""
      WITH w AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
                 FROM documents),
      s AS (SELECT doc_id,
              len(ws)::BIGINT AS n_words,
              list_reduce(list_transform(ws, x -> length(x)), (a, b) -> a + b)::BIGINT AS sum_wl,
              len(list_filter(ws, x -> contains(x, '#') OR contains(x, '...')))::BIGINT AS sym,
              len(list_filter(ws, x -> regexp_matches(x, '[a-z]')))::BIGINT AS alpha,
              len(list_intersect(list_distinct(ws),
                  ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']))::BIGINT AS stop_hits
            FROM w),
      t AS (SELECT doc_id, n_words,
              sum_wl::DOUBLE / n_words::DOUBLE AS mean_word_len,
              sym::DOUBLE / n_words::DOUBLE AS symbol_ratio,
              alpha::DOUBLE / n_words::DOUBLE AS alpha_frac,
              stop_hits
            FROM s),
      r AS (SELECT *,
              CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END AS r_word_count,
              CASE WHEN mean_word_len >= 3.0 AND mean_word_len <= 10.0 THEN 1 ELSE 0 END AS r_mean_word_len,
              CASE WHEN symbol_ratio < 0.1 THEN 1 ELSE 0 END AS r_symbol_ratio,
              CASE WHEN alpha_frac > 0.8 THEN 1 ELSE 0 END AS r_alpha_frac,
              CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS r_stopwords
            FROM t)
      SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac, stop_hits,
             r_word_count, r_mean_word_len, r_symbol_ratio, r_alpha_frac, r_stopwords,
             r_word_count * r_mean_word_len * r_symbol_ratio * r_alpha_frac
               * r_stopwords AS passes
      FROM r
    """)
  )

  /** Shared oracle CTE chain for the DSIR family: hashed uni+bigram
    * features, target/raw bucket models, per-doc micro-nat weights
    * (Dsir scaladoc — every ln quantized independently, integer
    * arithmetic after).
    */
  private val dsirWeightsCtes = """
      WITH w AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
                 FROM documents),
      uni AS (SELECT doc_id,
                     ('0x' || substr(md5('u:' || t), 1, 8))::BIGINT % 1024 AS bucket
              FROM (SELECT doc_id, unnest(ws) AS t FROM w)),
      bi AS (SELECT doc_id,
                    ('0x' || substr(md5('b:' || ws[i::INT] || ' ' || ws[(i + 1)::INT]), 1, 8))::BIGINT % 1024 AS bucket
             FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM w)),
      f AS (SELECT doc_id, bucket, count(*) AS m
            FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi) GROUP BY 1, 2),
      rc AS (SELECT bucket, CAST(sum(m) AS BIGINT) AS cr FROM f GROUP BY 1),
      tc AS (SELECT bucket, CAST(sum(m) AS BIGINT) AS ct
             FROM f JOIN documents USING (doc_id)
             WHERE source IN ('src0', 'src1') GROUP BY 1),
      mt AS (SELECT rc.bucket, rc.cr, coalesce(tc.ct, 0::BIGINT) AS ct
             FROM rc LEFT JOIN tc USING (bucket)),
      tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt
              FROM mt),
      model AS (SELECT bucket,
                  floor(ln((ct + 1)::DOUBLE / (nt + 1024)::DOUBLE) * 1e6 + 0.5)::BIGINT
                - floor(ln((cr + 1)::DOUBLE / (nr + 1024)::DOUBLE) * 1e6 + 0.5)::BIGINT AS lr_micro
                FROM mt CROSS JOIN tot),
      sc AS (SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_feats,
                    CAST(sum(m * lr_micro) AS BIGINT) AS w_micro
             FROM f JOIN model USING (bucket) GROUP BY 1),
      wt AS (SELECT d.doc_id,
                    coalesce(sc.n_feats, 0::BIGINT) AS n_feats,
                    coalesce(sc.w_micro, 0::BIGINT) AS w_micro,
                    CASE WHEN coalesce(sc.n_feats, 0::BIGINT) > 0
                         THEN sc.w_micro::DOUBLE / (sc.n_feats::DOUBLE * 1e6)
                         ELSE 0.0::DOUBLE END AS avg_w
             FROM documents d LEFT JOIN sc USING (doc_id))"""

  /** DSIR importance weights (Dsir scaladoc): log-likelihood ratio of
    * a target hashed-n-gram model (sources src0/src1 standing in for
    * the curated slice) over the raw-corpus model, integer micro-nats.
    */
  val dsirWeightsQ: Q = Q(
    "dsir_weights",
    (s, dir) => Dsir.importanceWeights(Tables.documents(s, dir), "doc_id", "text",
      col("source").isin("src0", "src1"), buckets = 1024),
    Some(dsirWeightsCtes + """
      SELECT doc_id, n_feats, w_micro, avg_w FROM wt
    """)
  )

  /** DSIR Gumbel top-k resample: 100 docs without replacement with
    * inclusion ∝ softmax of the importance weights; the Gumbel noise
    * is the md5 deviate of `dsir:doc_id`, quantized to micro-units so
    * the selection order is a total integer order on both engines.
    */
  val dsirResampleQ: Q = Q(
    "dsir_resample",
    (s, dir) => Dsir.resample(Tables.documents(s, dir), "doc_id", "text",
      col("source").isin("src0", "src1"), buckets = 1024, k = 100),
    Some(dsirWeightsCtes + """,
      g AS (SELECT doc_id, n_feats, w_micro, avg_w,
                   floor(-ln(-ln(
                       ((('0x' || substr(md5('dsir:' || doc_id::VARCHAR), 1, 8))::BIGINT)::DOUBLE + 0.5)
                         / CAST(4294967296.0 AS DOUBLE)))
                     * 1e6 + 0.5)::BIGINT AS gumbel_micro
            FROM wt)
      SELECT doc_id, n_feats, w_micro, avg_w, gumbel_micro,
             w_micro + gumbel_micro AS score_micro,
             row_number() OVER (ORDER BY w_micro + gumbel_micro DESC, doc_id) AS rank
      FROM g QUALIFY rank <= 100
    """)
  )

  private val WpMaxWordLen = 24

  /** The greedy wordpiece loop unrolled in SQL on top of [[bpeCtes]]:
    * the vocabulary is the position-tagged symbols of the final BPE
    * word table; each step joins the unfinished (word, pos) states
    * against the vocab on prefix equality and advances by the LONGEST
    * match. Steps are token-indexed (every step consumes one piece;
    * a piece is ≥1 char, so `maxLen` steps finish every non-UNK word
    * of ≤ maxLen chars) while the Spark fold is char-indexed — both
    * compute "repeatedly consume the longest matching prefix".
    */
  private def wordpieceCtes(k: Int, maxLen: Int, src: String = "documents",
                            pfx: String = "",
                            withClause: Boolean = true): String = {
    val sb = new StringBuilder(bpeCtes(k, src, pfx, withClause))
    sb.append(s""",
      ${pfx}vocab AS MATERIALIZED (
        SELECT DISTINCT (p).piece AS piece, (p).cont AS cont
        FROM (SELECT unnest(list_transform(range(1, len(l) + 1),
                j -> struct_pack(piece := l[j], cont := j > 1))) AS p
              FROM (SELECT list_filter(string_split(s, ' '), x -> x <> '') AS l
                    FROM ${pfx}w$k))),
      ${pfx}st0 AS (SELECT word, 1 AS pos, 0 AS toks,
                     (length(word) > $maxLen OR length(word) = 0) AS unk
              FROM ${pfx}w0)""")
    for (i <- 1 to maxLen) sb.append(s""",
      ${pfx}mt$i AS MATERIALIZED (SELECT s.word, max(length(v.piece)) AS l
               FROM ${pfx}st${i - 1} s JOIN ${pfx}vocab v
                 ON v.cont = (s.pos > 1)
                AND substr(s.word, s.pos, length(v.piece)) = v.piece
               WHERE NOT s.unk AND s.pos <= length(s.word)
               GROUP BY 1),
      ${pfx}st$i AS MATERIALIZED (SELECT s.word,
                CASE WHEN m.l IS NOT NULL THEN s.pos + m.l ELSE s.pos END AS pos,
                CASE WHEN m.l IS NOT NULL THEN s.toks + 1 ELSE s.toks END AS toks,
                s.unk OR (s.pos <= length(s.word) AND m.l IS NULL) AS unk
               FROM ${pfx}st${i - 1} s LEFT JOIN ${pfx}mt$i m USING (word))""")
    sb.toString
  }

  /** WordPiece greedy longest-match encoding under the BPE-derived
    * position-tagged vocabulary (Wordpiece.encodeCounts): the second
    * tokenizer family next to BPE's merge replay. The match itself
    * is a zero-shuffle per-row fold over the DISTINCT-word table with
    * the vocab as map literals; the oracle re-derives the vocabulary
    * from the unrolled BPE CTEs and replays greedy matching as
    * `maxLen` prefix-join steps.
    */
  val wordpieceEncode: Q = Q(
    "wordpiece_encode",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      Wordpiece.encodeCounts(docs, "doc_id", "text",
        Bpe.train(docs, "text", BpeMerges), maxWordLen = WpMaxWordLen)
    },
    Some(wordpieceCtes(BpeMerges, WpMaxWordLen) + s""",
      wp AS (SELECT word, CASE WHEN unk THEN 1 ELSE toks END AS toks, unk
             FROM st$WpMaxWordLen),
      d AS (SELECT doc_id,
              unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
            FROM documents)
      SELECT d.doc_id, count(*) AS n_words,
             CAST(sum(wp.toks) AS BIGINT) AS wp_tokens,
             CAST(sum(CASE WHEN wp.unk THEN 1 ELSE 0 END) AS BIGINT) AS unk_words
      FROM d JOIN wp USING (word) GROUP BY 1
    """)
  )

  private val ShardSeqLen = 256
  private val ShardSeqsPerShard = 4

  /** The TrainShards runner's composition as ONE oracle-anchored query
    * (r12): curate (the curation_pipeline chain, text kept) → BPE
    * merges trained ON the curated slice → WordPiece per-doc counts
    * under that vocabulary → PrefixSum packing by the TRAINED
    * tokenizer's counts → shard assignment
    * (`shard = seq_id div $ShardSeqsPerShard`). Every stage is an
    * already-oracled operator; this row pins their COMPOSITION — the
    * oracle stacks the BPE/WordPiece CTEs (ts_-prefixed, trained on
    * the `curated` CTE, not the raw table) onto the curation chain
    * and replays the pack as a running sum in doc-id order, exactly
    * `Chunking.packByCounts`. `tools.TrainShards` writes this same
    * shape to a partitioned store; the CLI's disk layout is
    * TrainShardsSpec's job, the values are this oracle's.
    */
  val trainingShards: Q = Q(
    "training_shards",
    (s, dir) => {
      // The curated slice is consumed by THREE corpus passes (Bpe.train
      // word count, Wordpiece.wordTokenCounts word count, encodeCounts'
      // per-doc explode+join). Persisting it WON the inherited-session
      // A/B (9.6 → 8.9 s) but LOSES the post-kernel one (r12 LoopExp
      // interleaved, sf0.1, local[32], median of 5: persist 10.6 s vs
      // recompute 9.4 s): the text-hash kernels made the re-derived
      // passes cheap (the chain's CC labels are checkpoint-backed and
      // its exact-dedup table is persisted internally, so a re-read
      // replays only joins + the PrefixSum cut), while the cache write
      // serializes the full curated TEXT column.
      val curated = curatedFrame(s, dir, keepText = true)
      val model = Bpe.train(curated, "text", BpeMerges)
      val counts = Wordpiece.encodeCounts(curated, "doc_id", "text", model,
        maxWordLen = WpMaxWordLen)
      Chunking.packByCounts(counts, "doc_id", "wp_tokens", ShardSeqLen)
        .withColumn("shard", expr(s"seq_id div $ShardSeqsPerShard"))
    },
    Some(curationCtes(keepText = true) +
      wordpieceCtes(BpeMerges, WpMaxWordLen, src = "curated", pfx = "ts_",
        withClause = false) + s""",
      ts_tok AS (SELECT word, CASE WHEN unk THEN 1 ELSE toks END AS toks
                 FROM ts_st$WpMaxWordLen),
      ts_doc AS (SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
                 FROM curated),
      ts_counts AS (SELECT d.doc_id, CAST(sum(t.toks) AS BIGINT) AS wp_tokens
                    FROM ts_doc d JOIN ts_tok t USING (word) GROUP BY 1),
      ts_packed AS (SELECT doc_id, wp_tokens,
                      CAST(sum(wp_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum
                    FROM ts_counts)
      SELECT doc_id, wp_tokens::INT AS n_tok, cum::BIGINT AS cum_tokens,
             ((cum - wp_tokens) // $ShardSeqLen)::BIGINT AS seq_id,
             ((cum - wp_tokens) % $ShardSeqLen)::BIGINT AS seq_off,
             ((cum - 1) // $ShardSeqLen - (cum - wp_tokens) // $ShardSeqLen + 1)::BIGINT AS n_seqs,
             (((cum - wp_tokens) // $ShardSeqLen) // $ShardSeqsPerShard)::BIGINT AS shard
      FROM ts_packed
    """)
  )

  private val UgMaxPiece = 6
  private val UgSeedK = 100
  private val UgMaxWord = 16

  /** Unigram-LM tokenizer replay, stage 1: substring seed counts →
    * kept inventory (all single chars + top `seedK` multi-char by
    * (n DESC, piece)) → integer micro-nat seed costs (`ukept`/`uv0`).
    */
  private def unigramSeedCtes: String = s"""
      WITH uw0 AS MATERIALIZED (
        SELECT word, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
              FROM documents)
        GROUP BY 1),
      ucand AS MATERIALIZED (
        SELECT piece, CAST(sum(cnt) AS BIGINT) AS n
        FROM (SELECT cnt, unnest(flatten(list_transform(range(1, length(word) + 1),
                st -> list_transform(range(1, least($UgMaxPiece, length(word) - st + 1) + 1),
                  l -> substr(word, st, l))))) AS piece
              FROM uw0)
        GROUP BY 1),
      ukept AS MATERIALIZED (
        SELECT piece, n FROM ucand WHERE length(piece) = 1
        UNION ALL
        SELECT piece, n FROM (SELECT piece, n FROM ucand WHERE length(piece) > 1
                              ORDER BY n DESC, piece LIMIT $UgSeedK)),
      ut0 AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM ukept),
      uv0 AS MATERIALIZED (
        SELECT piece,
               CAST(-floor(ln(CAST(n AS DOUBLE) / tot) * 1e6 + 0.5) AS BIGINT) AS cost
        FROM ukept CROSS JOIN ut0)"""

  /** One Viterbi pass under vocabulary table `vtab` (piece, cost):
    * forward DP as `maxWord` stepwise position CTEs (packed
    * `cost·64 + len` min — the Unigram.scala tie order), then a
    * backtrace walk emitting the winning pieces. All MATERIALIZED —
    * each step reads its predecessor twice and non-materialized CTEs
    * would inline exponentially.
    */
  private def unigramDpChain(p: String, vtab: String): String = {
    val sb = new StringBuilder
    sb.append(s""",
      ${p}a0 AS MATERIALIZED (
        SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS cost, 0 AS l FROM uw0)""")
    for (i <- 1 to UgMaxWord) sb.append(s""",
      ${p}s$i AS MATERIALIZED (
        SELECT word, $i AS pos,
               min((cost + vcost) * 64 + vlen) // 64 AS cost,
               CAST(min((cost + vcost) * 64 + vlen) % 64 AS INT) AS l
        FROM (SELECT d.word, d.cost, v.cost AS vcost, length(v.piece) AS vlen
              FROM ${p}a${i - 1} d JOIN $vtab v
                ON d.pos = $i - length(v.piece)
               AND substr(d.word, d.pos + 1, length(v.piece)) = v.piece
              WHERE length(d.word) >= $i AND length(v.piece) <= $UgMaxPiece)
        GROUP BY 1),
      ${p}a$i AS MATERIALIZED (
        SELECT * FROM ${p}a${i - 1} UNION ALL SELECT * FROM ${p}s$i)""")
    sb.append(s""",
      ${p}fin AS MATERIALIZED (
        SELECT word, cost FROM ${p}a$UgMaxWord WHERE pos = length(word)),
      ${p}b0 AS MATERIALIZED (
        SELECT word, length(word) AS pos FROM ${p}fin)""")
    for (j <- 1 to UgMaxWord) sb.append(s""",
      ${p}b$j AS MATERIALIZED (
        SELECT b.word, b.pos - a.l AS pos,
               substr(b.word, b.pos - a.l + 1, a.l) AS piece
        FROM ${p}b${j - 1} b JOIN ${p}a$UgMaxWord a
          ON a.word = b.word AND a.pos = b.pos
        WHERE b.pos > 0)""")
    sb.append(s""",
      ${p}p AS MATERIALIZED (
        ${(1 to UgMaxWord).map(j => s"SELECT word, piece FROM ${p}b$j")
      .mkString("\n        UNION ALL ")})""")
    sb.toString
  }

  /** Seed + E-step + M-step: the full `Unigram.train` replay ending
    * at `uv1` (piece, cnt, cost).
    */
  private def unigramTrainCtes: String =
    unigramSeedCtes + unigramDpChain("d1", "uv0") + s""",
      uc1 AS MATERIALIZED (
        SELECT p.piece, CAST(sum(w.cnt) AS BIGINT) AS cnt
        FROM d1p p JOIN uw0 w USING (word) GROUP BY 1),
      ut1 AS (SELECT CAST(sum(cnt) AS DOUBLE) AS tot FROM uc1),
      uv1 AS MATERIALIZED (
        SELECT piece, cnt,
               CAST(-floor(ln(CAST(cnt AS DOUBLE) / tot) * 1e6 + 0.5) AS BIGINT) AS cost
        FROM uc1 CROSS JOIN ut1)"""

  /** Unigram-LM (SentencePiece) tokenizer training: substring seed,
    * one EM round (Viterbi E-step, count-renormalized M-step). The
    * oracle replays the ENTIRE algorithm in SQL — seed counts, the
    * 16-step packed-min DP, the backtrace, and the micro-nat
    * renormalization — so agreement proves every DP cell and tie.
    */
  val unigramVocab: Q = Q(
    "unigram_vocab",
    (s, dir) => Unigram.vocabDF(s,
      Unigram.train(Tables.documents(s, dir), "text",
        UgMaxPiece, UgSeedK, UgMaxWord)),
    Some(unigramTrainCtes + """
      SELECT piece, cnt, cost AS cost_micro FROM uv1
    """)
  )

  /** Per-document Viterbi token statistics under the trained unigram
    * model — globally-optimal segmentation, unlike WordPiece's greedy
    * matcher; the DP runs once per DISTINCT word with the model as a
    * map-literal attribute (zero shuffles), the corpus pass is the
    * shared explode + dictionary join.
    */
  val unigramEncode: Q = Q(
    "unigram_encode",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      Unigram.encodeCounts(docs, "doc_id", "text",
        Unigram.train(docs, "text", UgMaxPiece, UgSeedK, UgMaxWord),
        UgMaxPiece, UgMaxWord)
    },
    Some(unigramTrainCtes + unigramDpChain("d2", "uv1") + s""",
      d2toks AS MATERIALIZED (
        SELECT word, count(*) AS toks FROM d2p GROUP BY 1),
      uwp AS MATERIALIZED (
        SELECT w.word,
               CASE WHEN f.cost IS NULL THEN 0 ELSE t.toks END AS toks,
               CASE WHEN f.cost IS NULL THEN 0 ELSE f.cost END AS cost,
               f.cost IS NULL AS unk
        FROM uw0 w LEFT JOIN d2fin f USING (word)
                   LEFT JOIN d2toks t USING (word)),
      ud AS (SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
             FROM documents)
      SELECT ud.doc_id, count(*) AS n_words,
             CAST(sum(uwp.toks) AS BIGINT) AS unigram_tokens,
             CAST(sum(CASE WHEN uwp.unk THEN 1 ELSE 0 END) AS BIGINT) AS unk_words,
             CAST(sum(uwp.cost) AS BIGINT) AS sum_cost_micro
      FROM ud JOIN uwp USING (word) GROUP BY 1
    """)
  )

  /** Fuzzy vocabulary self-join (typo/variant detection — the string
    * analogue of the MinHash near-dup family): all word pairs within
    * Levenshtein distance 2 via SymSpell deletion-neighborhood
    * blocking — equi-join candidates + exact verify, never the cross
    * product the ORACLE is allowed to run at gate scale.
    */
  val fuzzyWordPairs: Q = Q(
    "fuzzy_word_pairs",
    (s, dir) => graft.ops.FuzzyJoin.editPairs(
      Tables.documents(s, dir)
        .select(explode(TextHash.words(lower(trim(col("text"))))).as("word")),
      "word", maxEdits = 2),
    Some("""
      WITH w AS (SELECT DISTINCT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
                 FROM documents)
      SELECT a.word AS w1, b.word AS w2,
             CAST(levenshtein(a.word, b.word) AS INT) AS dist
      FROM w a JOIN w b
        ON a.word < b.word AND levenshtein(a.word, b.word) <= 2
    """)
  )

  /** Shared winnowing oracle CTEs: ordered 5-gram hash sequence →
    * windowed (w=4) minima per document, distinct within document.
    * Mirrors Winnow.fingerprints exactly (md5-prefix gram hashes,
    * set semantics so no tie rule is needed).
    */
  private val winnowCtes = """
      WITH u AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        FROM documents),
      g AS (
        SELECT doc_id,
               CASE WHEN len(ws) - 4 <= 0 THEN []::BIGINT[]
                    ELSE list_transform(range(1, len(ws) - 4 + 1),
                           i -> ('0x' || substr(md5(array_to_string(ws[i:i+4], ' ')), 1, 8))::BIGINT)
               END AS hs
        FROM u),
      f AS (
        SELECT doc_id,
               CASE WHEN len(hs) - 3 <= 0
                    THEN CASE WHEN len(hs) > 0 THEN [list_min(hs)]
                              ELSE []::BIGINT[] END
                    ELSE list_distinct(list_transform(range(1, len(hs) - 3 + 1),
                           i -> list_min(hs[i:i+3])))
               END AS fps
        FROM g),
      fp AS (SELECT doc_id, unnest(fps) AS fp FROM f)"""

  /** Winnowing fingerprints (MOSS): windowed-min selection over the
    * gram-hash stream — ~2/(w+1) of the grams with a guaranteed hit
    * for any shared span of ≥ w+k−1 words.
    */
  val winnowFingerprints: Q = Q(
    "winnow_fingerprints",
    (s, dir) => Winnow.fingerprints(Tables.documents(s, dir), "doc_id", "text"),
    Some(winnowCtes + """
      SELECT doc_id, fp FROM fp
    """)
  )

  /** MOSS match report: pairs sharing ≥2 winnowed fingerprints, df
    * cap 64 pre-join (the selfOverlapPairs shape over the winnowed
    * table).
    */
  val winnowPairs: Q = Q(
    "winnow_pairs",
    (s, dir) => Winnow.pairs(Tables.documents(s, dir), "doc_id", "text"),
    Some(winnowCtes + """,
      d AS (SELECT doc_id, fp FROM (
              SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS dfc FROM fp)
            WHERE dfc <= 64)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
      FROM d a JOIN d b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 2
    """)
  )

  /** Shared fixtures of the nb_quality_* family: the GPT-3-style
    * supervised quality gate (QualityClassifier doc). Labels are
    * curated-vs-rest by source (srcs 0–3 stand in for the "books +
    * wikipedia" positive class); the train split is the deterministic
    * doc_id % 5 ≠ 0 (retry-stable, growth-stable — same property as
    * train_split's md5 assignment; modulo keeps the oracle a one-line
    * predicate).
    */
  private val nbPos = col("source").isin("src0", "src1", "src2", "src3")
  private val nbPosSql = "source IN ('src0','src1','src2','src3')"
  // oracle CTEs shared by all three queries: train tokens → per-feature
  // counts → global scalars; parameterized on the feature expression so
  // the word-identity and hashing-trick variants restate identically
  private def nbModelSql(featExpr: String): String = s"""
      tr AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
      tok0 AS (SELECT ($nbPosSql) AS pos,
                      unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
               FROM tr),
      tok AS (SELECT pos, $featExpr AS f FROM tok0),
      cnt AS (SELECT f,
                     CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
                     CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
              FROM tok GROUP BY 1),
      st AS (SELECT CAST(sum(c_pos) AS BIGINT) AS tot_pos,
                    CAST(sum(c_neg) AS BIGINT) AS tot_neg,
                    CAST(count(*) AS BIGINT) AS vv
             FROM cnt),
      model AS (SELECT f, c_pos, c_neg,
                       CAST(floor((ln((c_pos + 1)::DOUBLE / (tot_pos + vv)::DOUBLE)
                                 - ln((c_neg + 1)::DOUBLE / (tot_neg + vv)::DOUBLE))
                                  * 1e6 + 0.5) AS BIGINT) AS llr_micro
                FROM cnt CROSS JOIN st)"""
  private def nbScoreSql(featExpr: String): String = s"""
      WITH ${nbModelSql(featExpr)},
      oov AS (SELECT CAST(floor((ln((0 + 1)::DOUBLE / (tot_pos + vv)::DOUBLE)
                               - ln((0 + 1)::DOUBLE / (tot_neg + vv)::DOUBLE))
                                * 1e6 + 0.5) AS BIGINT) AS oov_micro
              FROM st),
      pr AS (SELECT CAST(floor(ln(
                      CAST(sum(CASE WHEN $nbPosSql THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE
                    / CAST(sum(CASE WHEN $nbPosSql THEN 0 ELSE 1 END) AS BIGINT)::DOUBLE)
                    * 1e6 + 0.5) AS BIGINT) AS prior_micro
             FROM tr),
      te AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
             FROM documents WHERE doc_id % 5 = 0),
      tef AS (SELECT doc_id, $featExpr AS f FROM te),
      j AS (SELECT t.doc_id,
                   coalesce(m.llr_micro, o.oov_micro) AS llr,
                   CASE WHEN m.llr_micro IS NULL THEN 1 ELSE 0 END AS is_oov
            FROM tef t LEFT JOIN model m ON t.f = m.f CROSS JOIN oov o)
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(is_oov) AS BIGINT) AS oov_tokens,
             CAST(pr.prior_micro + sum(llr) AS BIGINT) AS score_micro,
             CASE WHEN pr.prior_micro + sum(llr) > 0 THEN 1 ELSE 0 END AS pred_pos
      FROM j CROSS JOIN pr GROUP BY doc_id, pr.prior_micro"""

  /** The trained word-feature NB model table itself — vocabulary-sized
    * output, the artifact a production pipeline persists and serves.
    */
  val nbQualityModel: Q = Q(
    "nb_quality_model",
    (s, dir) => QualityClassifier.nbModel(
      Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(5)) =!= 0),
      "text", nbPos),
    Some(s"""
      WITH ${nbModelSql("w")}
      SELECT f, c_pos, c_neg, llr_micro FROM model
    """)
  )

  /** Held-out 20% scored under the word-feature model + class prior —
    * the quality-gate decision rows (score_micro is what downstream
    * thresholding / Pareto sampling consumes).
    */
  val nbQualityScore: Q = Q(
    "nb_quality_score",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val train = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      QualityClassifier.nbScore(
        docs.filter(pmod(col("doc_id"), lit(5)) === 0), "doc_id", "text",
        QualityClassifier.nbModel(train, "text", nbPos),
        QualityClassifier.nbPrior(train, nbPos))
    },
    Some(nbScoreSql("w"))
  )

  /** The 100 TB form: hashing-trick features into 4096 buckets
    * (Joulin et al. 2016), so the model is HARD-bounded at 4096 rows
    * regardless of corpus vocabulary and the scoring join stays a
    * broadcast at any scale. Same scoring arithmetic, md5-derived
    * buckets restated in the oracle.
    */
  val nbQualityHashed: Q = Q(
    "nb_quality_hashed",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val train = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val feat = QualityClassifier.hashedFeature(4096)
      QualityClassifier.nbScore(
        docs.filter(pmod(col("doc_id"), lit(5)) === 0), "doc_id", "text",
        QualityClassifier.nbModel(train, "text", nbPos, feat),
        QualityClassifier.nbPrior(train, nbPos), feat)
    },
    Some(nbScoreSql(
      "('0x' || substr(md5('nbq:' || w), 1, 8))::BIGINT % 4096"))
  )

  /** The hashed model served through the ONE-row broadcast-map join
    * (QualityClassifier.serveRow + nbScoreBroadcast) — the stream-legal
    * join serving form past the map-literal ceiling: the 4096-bucket
    * model collapses to a single map row broadcast against the scored
    * corpus, per-row integer fold, zero shuffle on the doc side
    * (QualityClassifierSpec plan contract). Same scores as
    * nb_quality_hashed by construction, so the oracle restates the
    * identical SQL — the query pins the PATH, the spec pins the
    * bit-equality.
    */
  val nbQualityBcast: Q = Q(
    "nb_quality_bcast",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val train = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val feat = QualityClassifier.hashedFeature(4096)
      QualityClassifier.nbScoreBroadcast(
        docs.filter(pmod(col("doc_id"), lit(5)) === 0), "doc_id", "text",
        QualityClassifier.serveRow(
          QualityClassifier.nbModel(train, "text", nbPos, feat),
          QualityClassifier.nbPrior(train, nbPos)), feat)
    },
    Some(nbScoreSql(
      "('0x' || substr(md5('nbq:' || w), 1, 8))::BIGINT % 4096"))
  )

  /** The hashed model served through the dense O(1) array-literal form
    * (QualityClassifier.serveDense + nbScoreDense) — the flat-in-B
    * stream serving shape NOTES_r10 records as the winner for
    * hashed features (map lookups are linear key scans; the broadcast
    * map row additionally copies the model into every joined row).
    * Same scores as nb_quality_hashed by construction; the oracle
    * restates the identical SQL — the query pins the PATH under the
    * driver's hash gate, the spec pins the bit-equality.
    */
  val nbQualityDense: Q = Q(
    "nb_quality_dense",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val train = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val feat = QualityClassifier.hashedFeature(4096)
      val model = QualityClassifier.nbModel(train, "text", nbPos, feat)
      val prior = QualityClassifier.nbPrior(train, nbPos)
      val (llr, occ, pm) = QualityClassifier.serveDense(model, prior, 4096)
      QualityClassifier.nbScoreDense(
        docs.filter(pmod(col("doc_id"), lit(5)) === 0), "doc_id", "text",
        llr, occ, pm, 4096)
    },
    Some(nbScoreSql(
      "('0x' || substr(md5('nbq:' || w), 1, 8))::BIGINT % 4096"))
  )

  /** The ONE-call serving surface (QualityClassifier.nbServeAuto, r11):
    * the caller hands over docs + model + prior (+ buckets for a
    * hashed model) and the dispatcher picks the measured winner — here
    * the hashed 4096-bucket model routes to the dense O(1)
    * array-literal path automatically. Same scores as
    * nb_quality_hashed by construction (every route is bit-equal,
    * QualityClassifierSpec); the query pins the AUTO surface
    * end-to-end under the driver's hash gate.
    */
  val nbQualityAuto: Q = Q(
    "nb_quality_auto",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val train = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val feat = QualityClassifier.hashedFeature(4096)
      QualityClassifier.nbServeAuto(
        docs.filter(pmod(col("doc_id"), lit(5)) === 0), "doc_id", "text",
        QualityClassifier.nbModel(train, "text", nbPos, feat),
        QualityClassifier.nbPrior(train, nbPos), feat, buckets = Some(4096))
    },
    Some(nbScoreSql(
      "('0x' || substr(md5('nbq:' || w), 1, 8))::BIGINT % 4096"))
  )

  /** The gate as a FILTER (QualityClassifier.nbFilterDense): held-out
    * docs whose dense-served NB score clears the threshold flow
    * through with ALL their columns — the composable production stage
    * (score-then-replace forms emit score rows; a pipeline wants the
    * document to continue to dedup/tokenize/sink). Zero shuffle,
    * stream-legal; the kept set is provably
    * `nbScoreDense(...).filter(score > thr)` (spec), which is exactly
    * what the oracle restates: the score CTEs of nb_quality_hashed
    * re-joined to the documents table as a WHERE clause.
    */
  val nbQualityGate: Q = Q(
    "nb_quality_gate",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val train = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val model = QualityClassifier.nbModel(train, "text", nbPos,
        QualityClassifier.hashedFeature(4096))
      val (llr, _, pm) = QualityClassifier.serveDense(
        model, QualityClassifier.nbPrior(train, nbPos), 4096)
      QualityClassifier.nbFilterDense(
        docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        "text", llr, pm, minScoreMicro = -1600000L, 4096)
    },
    Some(s"""
      WITH sc AS (${nbScoreSql(
        "('0x' || substr(md5('nbq:' || w), 1, 8))::BIGINT % 4096")})
      SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
      FROM documents d JOIN sc ON d.doc_id = sc.doc_id
      WHERE sc.score_micro > -1600000
    """)
  )

  /** GPT-3's Pareto-sampled quality gate chained over the NB scorer
    * (QualityClassifier.paretoSample doc): kept docs + their quantized
    * keep-probability. The oracle restates the inverse-CDF deviate and
    * the sigmoid; exponent literals are CAST AS DOUBLE (bare -1.0/9.0
    * would run DECIMAL division in DuckDB — Registry literal pitfall).
    */
  val nbQualityPareto: Q = Q(
    "nb_quality_pareto",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val train = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      QualityClassifier.paretoSample(
        QualityClassifier.nbScore(
          docs.filter(pmod(col("doc_id"), lit(5)) === 0), "doc_id", "text",
          QualityClassifier.nbModel(train, "text", nbPos),
          QualityClassifier.nbPrior(train, nbPos)),
        // α = 2 (not GPT-3's 9): the synthetic corpus's vocabulary is
        // near-uniform across sources, so NB scores sit at the prior
        // (p ≈ 0.2) and α = 9 keeps ~0.5 docs per 100 — a 0-row result
        // that would anchor nothing; the heavier tail exercises both
        // filter branches while keeping the arithmetic identical
        "doc_id", "score_micro", alpha = 2.0)
    },
    Some(s"""
      SELECT doc_id, n_tokens, oov_tokens, score_micro, pred_pos,
             CAST(floor(kp * 1e6 + 0.5) AS BIGINT) AS keep_p_micro
      FROM (
        SELECT s.*,
               CAST(1 AS DOUBLE) /
                 (CAST(1 AS DOUBLE) + exp(-(score_micro::DOUBLE / 1e6))) AS kp,
               ('0x' || substr(md5('nbp:' || doc_id::VARCHAR), 1, 8))::BIGINT
                 / 4294967296.0 AS u
        FROM ( ${nbScoreSql("w")} ) s
      ) p
      WHERE pow(CAST(1 AS DOUBLE) - u,
                CAST(-1 AS DOUBLE) / CAST(2 AS DOUBLE)) - CAST(1 AS DOUBLE)
            > CAST(1 AS DOUBLE) - kp
    """)
  )

  /** Held-out confusion matrix + derived metrics for the NB gate —
    * the eval primitive a production filter ships with. One row;
    * ratios are exact-integer IEEE divisions (deterministic without
    * quantization).
    */
  val nbQualityEval: Q = Q(
    "nb_quality_eval",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val train = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val scored = QualityClassifier.nbScore(
        docs.filter(pmod(col("doc_id"), lit(5)) === 0), "doc_id", "text",
        QualityClassifier.nbModel(train, "text", nbPos),
        QualityClassifier.nbPrior(train, nbPos))
      val cm = scored
        .join(docs.select(col("doc_id"), nbPos.cast("int").as("actual")), "doc_id")
        .agg(
          sum(when(col("pred_pos") === 1 && col("actual") === 1, 1L).otherwise(0L)).as("tp"),
          sum(when(col("pred_pos") === 1 && col("actual") === 0, 1L).otherwise(0L)).as("fp"),
          sum(when(col("pred_pos") === 0 && col("actual") === 1, 1L).otherwise(0L)).as("fn"),
          sum(when(col("pred_pos") === 0 && col("actual") === 0, 1L).otherwise(0L)).as("tn"))
      val prec = col("tp").cast("double") / (col("tp") + col("fp")).cast("double")
      val rec = col("tp").cast("double") / (col("tp") + col("fn")).cast("double")
      cm.select(col("tp"), col("fp"), col("fn"), col("tn"),
          when(col("tp") + col("fp") > 0, prec).as("precision"),
          when(col("tp") + col("fn") > 0, rec).as("recall"),
          ((col("tp") + col("tn")).cast("double") /
            (col("tp") + col("fp") + col("fn") + col("tn")).cast("double"))
            .as("accuracy"))
        .withColumn("f1",
          when(col("precision").isNotNull && col("recall").isNotNull &&
            col("precision") + col("recall") > 0,
            lit(2.0) * col("precision") * col("recall") /
              (col("precision") + col("recall"))))
    },
    Some(s"""
      WITH s AS (SELECT * FROM ( ${nbScoreSql("w")} )),
      cm AS (SELECT
               CAST(sum(CASE WHEN s.pred_pos = 1 AND ($nbPosSql) THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(sum(CASE WHEN s.pred_pos = 1 AND NOT ($nbPosSql) THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(sum(CASE WHEN s.pred_pos = 0 AND ($nbPosSql) THEN 1 ELSE 0 END) AS BIGINT) AS fn,
               CAST(sum(CASE WHEN s.pred_pos = 0 AND NOT ($nbPosSql) THEN 1 ELSE 0 END) AS BIGINT) AS tn
             FROM s JOIN documents d ON s.doc_id = d.doc_id),
      m AS (SELECT tp, fp, fn, tn,
                   CASE WHEN tp + fp > 0
                        THEN tp::DOUBLE / (tp + fp)::DOUBLE END AS precision,
                   CASE WHEN tp + fn > 0
                        THEN tp::DOUBLE / (tp + fn)::DOUBLE END AS recall,
                   (tp + tn)::DOUBLE / (tp + fp + fn + tn)::DOUBLE AS accuracy
            FROM cm)
      SELECT tp, fp, fn, tn, precision, recall, accuracy,
             CASE WHEN precision IS NOT NULL AND recall IS NOT NULL
                       AND precision + recall > 0
                  THEN CAST(2 AS DOUBLE) * precision * recall / (precision + recall)
             END AS f1
      FROM m
    """)
  )

  /** Water-filling domain-mixture allocation: a 50% token budget
    * split across sources by skewed dyadic target weights
    * (`2^-(i mod 6)` for `srcI`), with scarce high-weight domains
    * exhausted and their deficit redistributed — the closed-form
    * K-row window computation (Mixture scaladoc). Everything —
    * integer availability, dyadic weights, the λ divisions, the
    * `floor(λ*·w)` cut — restates verbatim in DuckDB.
    */
  val domainMix: Q = Q(
    "domain_mix",
    (s, dir) => Mixture.waterFill(
      TextStats.withTokenCounts(Tables.documents(s, dir), "text"),
      "source", col("re_tokens"),
      d => lit(1.0) / call_function("shiftleft", lit(1), substring(d, 4, 8).cast("int") % 6),
      budgetFrac = 0.5),
    Some("""
      WITH d AS (
        SELECT source AS domain,
               sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')))::BIGINT AS avail_tokens
        FROM documents GROUP BY 1),
      w AS (SELECT domain, avail_tokens,
                   CAST(1 AS DOUBLE) / (1 << (CAST(substr(domain, 4) AS INT) % 6)) AS weight
            FROM d),
      t AS (SELECT sum(avail_tokens)::BIGINT AS tot_a, sum(weight) AS tot_w FROM w),
      c AS (SELECT w.*, t.tot_a, t.tot_w,
                   coalesce(sum(avail_tokens) OVER pre, 0)::BIGINT AS cum_a,
                   coalesce(sum(weight) OVER pre, CAST(0 AS DOUBLE)) AS cum_w
            FROM w CROSS JOIN t
            WINDOW pre AS (ORDER BY CAST(avail_tokens AS DOUBLE) / weight, domain
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      l AS (SELECT *,
                   CAST(CAST(floor(CAST(tot_a AS DOUBLE) * 0.5) AS BIGINT) - cum_a AS DOUBLE)
                     / (tot_w - cum_w) AS lam
            FROM c),
      ls AS (SELECT max(lam) AS lam_star FROM l),
      o AS (SELECT domain, avail_tokens, weight,
                   least(avail_tokens, CAST(floor(lam_star * weight) AS BIGINT)) AS alloc_tokens
            FROM l CROSS JOIN ls)
      SELECT domain, avail_tokens, weight, alloc_tokens,
             alloc_tokens = avail_tokens AS exhausted,
             CAST(alloc_tokens AS DOUBLE) / avail_tokens AS fill_rate
      FROM o
    """)
  )

  /** The mixture allocation applied: per-document deterministic
    * Bernoulli at the domain's fill rate under a K-row broadcast —
    * map-side, retry-stable, expected kept tokens = the water-fill
    * allocation. The oracle replays the full allocation chain and
    * the md5-deviate filter.
    */
  val domainMixSample: Q = Q(
    "domain_mix_sample",
    (s, dir) => {
      val docs = TextStats.withTokenCounts(Tables.documents(s, dir), "text")
      val alloc = Mixture.waterFill(docs, "source", col("re_tokens"),
        d => lit(1.0) / call_function("shiftleft", lit(1), substring(d, 4, 8).cast("int") % 6),
        budgetFrac = 0.5)
      Mixture.applyBernoulli(docs, "doc_id", "source", alloc)
        .select("doc_id", "source", "re_tokens", "fill_rate")
    },
    Some("""
      WITH d AS (
        SELECT source AS domain,
               sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')))::BIGINT AS avail_tokens
        FROM documents GROUP BY 1),
      w AS (SELECT domain, avail_tokens,
                   CAST(1 AS DOUBLE) / (1 << (CAST(substr(domain, 4) AS INT) % 6)) AS weight
            FROM d),
      t AS (SELECT sum(avail_tokens)::BIGINT AS tot_a, sum(weight) AS tot_w FROM w),
      c AS (SELECT w.*, t.tot_a, t.tot_w,
                   coalesce(sum(avail_tokens) OVER pre, 0)::BIGINT AS cum_a,
                   coalesce(sum(weight) OVER pre, CAST(0 AS DOUBLE)) AS cum_w
            FROM w CROSS JOIN t
            WINDOW pre AS (ORDER BY CAST(avail_tokens AS DOUBLE) / weight, domain
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      l AS (SELECT *,
                   CAST(CAST(floor(CAST(tot_a AS DOUBLE) * 0.5) AS BIGINT) - cum_a AS DOUBLE)
                     / (tot_w - cum_w) AS lam
            FROM c),
      ls AS (SELECT max(lam) AS lam_star FROM l),
      o AS (SELECT domain, avail_tokens,
                   least(avail_tokens, CAST(floor(lam_star * weight) AS BIGINT)) AS alloc_tokens
            FROM l CROSS JOIN ls),
      docs AS (SELECT doc_id, source,
                      len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS re_tokens
               FROM documents)
      SELECT doc_id, source, re_tokens,
             CAST(alloc_tokens AS DOUBLE) / avail_tokens AS fill_rate
      FROM docs JOIN o ON docs.source = o.domain
      WHERE ('0x' || substr(md5('mix:' || doc_id::VARCHAR), 1, 8))::BIGINT / 4294967296.0
            < CAST(alloc_tokens AS DOUBLE) / avail_tokens
    """)
  )

  /** Data-constrained epoch planning: a 2× token budget against ≤4
    * repetition epochs per domain — waterFill over 4×-inflated caps
    * (Mixture.epochPlan), so weight-starved domains repeat until the
    * epoch ceiling binds and the deficit water-fills the rest.
    * 2.0/4 = 0.5 keeps the inner budget fraction exact-dyadic.
    */
  val epochPlanQ: Q = Q(
    "epoch_plan",
    (s, dir) => Mixture.epochPlan(
      TextStats.withTokenCounts(Tables.documents(s, dir), "text"),
      "source", col("re_tokens"),
      d => lit(1.0) / call_function("shiftleft", lit(1), substring(d, 4, 8).cast("int") % 6),
      budgetFrac = 2.0, maxEpochs = 4),
    Some("""
      WITH d AS (
        SELECT source AS domain,
               sum(4 * len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')))::BIGINT AS avail_tokens
        FROM documents GROUP BY 1),
      w AS (SELECT domain, avail_tokens,
                   CAST(1 AS DOUBLE) / (1 << (CAST(substr(domain, 4) AS INT) % 6)) AS weight
            FROM d),
      t AS (SELECT sum(avail_tokens)::BIGINT AS tot_a, sum(weight) AS tot_w FROM w),
      c AS (SELECT w.*, t.tot_a, t.tot_w,
                   coalesce(sum(avail_tokens) OVER pre, 0)::BIGINT AS cum_a,
                   coalesce(sum(weight) OVER pre, CAST(0 AS DOUBLE)) AS cum_w
            FROM w CROSS JOIN t
            WINDOW pre AS (ORDER BY CAST(avail_tokens AS DOUBLE) / weight, domain
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      l AS (SELECT *,
                   CAST(CAST(floor(CAST(tot_a AS DOUBLE) * 0.5) AS BIGINT) - cum_a AS DOUBLE)
                     / (tot_w - cum_w) AS lam
            FROM c),
      ls AS (SELECT max(lam) AS lam_star FROM l),
      o AS (SELECT domain, avail_tokens, weight,
                   least(avail_tokens, CAST(floor(lam_star * weight) AS BIGINT)) AS alloc_tokens
            FROM l CROSS JOIN ls)
      SELECT domain, avail_tokens // 4 AS avail_tokens, weight, alloc_tokens,
             CAST(alloc_tokens AS DOUBLE) / CAST(avail_tokens // 4 AS DOUBLE) AS epochs,
             alloc_tokens = avail_tokens AS exhausted
      FROM o
    """)
  )

  /** Quality-annealed curriculum: documents banded by fixed
    * quality-score thresholds (`min(9, floor(q·10))` — map-side, NOT
    * a one-task global ntile), consumed low-band→high-band with an
    * md5 shuffle inside each band, positions from the distributed
    * rank machinery (Sampling.curriculumOrder). The oracle is the
    * single-window `row_number() OVER (ORDER BY band, skey, doc_id)`
    * form — the two agreeing proves the parallel rank exact, as
    * `global_shuffle` does for the unbanded case.
    */
  val curriculumOrderQ: Q = Q(
    "curriculum_order",
    (s, dir) => Sampling.curriculumOrder(
      TextStats.withQuality(Tables.documents(s, dir), "text"),
      "doc_id",
      least(lit(9), floor(col("quality_score") * lit(10.0)).cast("int")),
      nShards = 8)
      .select("doc_id", "band", "skey", "pos", "shard"),
    Some("""
      WITH t AS (
        SELECT doc_id, text,
               list_distinct(string_split_regex(trim(text), '\s+')) AS toks
        FROM documents),
      f AS (
        SELECT doc_id,
               length(text) AS len0,
               string_split_regex(trim(text), '\s+') AS ws,
               length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digits,
               len(list_intersect(toks, ['the','a','of','and','to','is','in'])) AS stop_hits,
               len(toks) AS n_distinct
        FROM t),
      f2 AS (
        SELECT doc_id, len0, len(ws) AS n_words,
               list_reduce(list_transform(ws, w -> length(w)), (a, b) -> a + b) AS sum_word_len,
               digits, stop_hits, n_distinct
        FROM f),
      q AS (
        SELECT doc_id,
               0.4 * (stop_hits::DOUBLE / n_distinct)
                 + 0.3 * (1.0 - digits::DOUBLE / len0)
                 + 0.3 * least(sum_word_len::DOUBLE / n_words / 8.0, 1.0) AS quality_score
        FROM f2),
      b AS (
        SELECT doc_id,
               least(9, CAST(floor(quality_score * CAST(10 AS DOUBLE)) AS INT)) AS band,
               ('0x' || substr(md5('curriculum:' || doc_id::VARCHAR), 1, 15))::BIGINT AS skey
        FROM q)
      SELECT doc_id, band, skey,
             row_number() OVER (ORDER BY band, skey, doc_id) - 1 AS pos,
             (row_number() OVER (ORDER BY band, skey, doc_id) - 1) % 8 AS shard
      FROM b
    """)
  )

  val all: Seq[Q] = Seq(trainSplit, stratifiedSample, tokenTopK, perSourceCap,
    curationPipeline, decontamOverlap, decontamBloom, globalShuffleQ, ppsSample,
    repetitionStats, docChunks,
    packSequences, packBestfit, tfidfTopTerms, dupNgramPairs, qualityWeightedSample,
    lmBigramScore, paragraphDedupQ, cmsHeavyHitters, bpeVocab, bpeEncode,
    dsirWeightsQ, dsirResampleQ, gopherRulesQ, ccnetBucketsQ, dupSpansQ,
    wordpieceEncode, unigramVocab, unigramEncode, fuzzyWordPairs,
    winnowFingerprints, winnowPairs, lmKneserNey,
    nbQualityModel, nbQualityScore, nbQualityHashed, nbQualityBcast,
    nbQualityDense, nbQualityAuto, nbQualityGate,
    nbQualityPareto, nbQualityEval, trainingShards, domainMix, domainMixSample,
    curriculumOrderQ, epochPlanQ)
}
