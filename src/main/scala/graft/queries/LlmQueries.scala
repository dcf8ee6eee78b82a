package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.llm.{AnnIndex, Dedup, EmbeddingStats, Pq, Redact, Retrieval, Similarity, Sparse, TextStats}

/** Training-data pipeline operators over `documents`/`embeddings`:
  * dedup family, similarity search, text analysis, multimodal
  * plumbing (graft.llm). Oracle determinism: all hashes are
  * md5-prefix-derived (TextHash), all float folds are sequential
  * left-folds restated identically in DuckDB (`list_reduce`), all
  * ratios derive from exact integer counts.
  */
object LlmQueries {

  /** Shared oracle CTE: distinct word sets per document. */
  private val toksCte =
    """WITH t AS (
      |  SELECT doc_id, lang, n_chars, text,
      |         list_distinct(string_split_regex(trim(text), '\s+')) AS toks
      |  FROM documents)""".stripMargin

  /** Exact dedup over normalized text (hash-groupBy). */
  val dedupExact: Q = Q(
    "dedup_exact",
    (s, dir) => Dedup.exact(Tables.documents(s, dir), "doc_id", "text"),
    Some("""
      SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS text_hash,
             min(doc_id) AS rep_id, count(*) AS group_size
      FROM documents GROUP BY 1
    """)
  )

  /** Shared CTE chain producing MinHash near-dup pair candidates
    * verified at jaccard ≥ 0.85 (CTE `j`) — used by both the pair
    * query and the clusters query (the latter needs the RECURSIVE
    * keyword on the WITH).
    */
  private def minhashPairCtes(recursive: Boolean): String =
    (if (recursive) "WITH RECURSIVE " else "WITH ") + minhashPairCteBody("documents")

  /** The same CTE chain with a parameterized source relation (must
    * expose doc_id, lang, n_chars, text) — reused by the curation
    * pipeline oracle over its quality-filtered subset.
    */
  private[queries] def minhashPairCteBody(source: String): String = s"""t AS (
        SELECT doc_id, lang, n_chars, text,
               list_distinct(string_split_regex(trim(text), '\\s+')) AS toks
        FROM $source),
      h AS (SELECT doc_id,
                   list_distinct(list_transform(toks, x ->
                     ('0x' || substr(md5(x), 1, 8))::BIGINT)) AS hs
            FROM t),
      sig AS (SELECT doc_id, hs,
                     list_transform(range(16), j ->
                       list_min(list_transform(hs, hh ->
                         (hh * (1 + j * 7919) + (1 + j * 104729)) % 2147483647))) AS mh
              FROM h),
      band0 AS (SELECT doc_id, hs, k AS band_idx,
                      list_reduce(list_transform(range(4), i -> mh[(k * 4 + i + 1)::INT]),
                                  (a, b) -> a * 31 + b) AS band_hash
               FROM sig CROSS JOIN range(4) r(k)),
      band AS (SELECT * FROM band0
               QUALIFY count(*) OVER (PARTITION BY band_idx, band_hash) <= 64),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.hs AS ta, b.hs AS tb
               FROM band a JOIN band b
                 ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
                AND a.doc_id < b.doc_id),
      j AS (SELECT id_a, id_b,
                   len(list_intersect(ta, tb))::DOUBLE
                     / len(list_distinct(list_concat(ta, tb)))::DOUBLE AS jaccard
            FROM cand)"""

  /** MinHash-LSH near-dup pairs: 16 perms, 4 bands × 4 rows, exact
    * word-set Jaccard ≥ 0.85 verify. Buckets above 64 members are
    * skipped (non-discriminative bands — LSH skew cap; mirrored in
    * the oracle's QUALIFY).
    */
  val dedupMinhash: Q = Q(
    "dedup_minhash",
    (s, dir) => Dedup.minHashNearDups(Tables.documents(s, dir), "doc_id", "text",
      numPerm = 16, bands = 4, tau = 0.85, maxBucket = 64),
    Some(s"""
      ${minhashPairCtes(recursive = false)}
      SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.85
    """)
  )

  /** Containment near-dups over the SAME banded candidates:
    * |A∩B| / min(|A|,|B|) — the asymmetric dedup signal for a small
    * document embedded in a larger one (Jaccard shrinks with the size
    * ratio; containment doesn't). Candidates stay minhash-LSH; the
    * oracle restates them identically (Dedup.minHashContainment doc).
    */
  val dedupContainment: Q = Q(
    "dedup_containment",
    (s, dir) => Dedup.minHashContainment(Tables.documents(s, dir), "doc_id", "text",
      numPerm = 16, bands = 4, tau = 0.9, maxBucket = 64),
    Some(s"""
      ${minhashPairCtes(recursive = false)}
      SELECT id_a, id_b,
             len(list_intersect(ta, tb))::DOUBLE
               / least(len(ta), len(tb))::DOUBLE AS containment
      FROM cand
      WHERE len(list_intersect(ta, tb))::DOUBLE
              / least(len(ta), len(tb))::DOUBLE >= 0.9
    """)
  )

  /** Near-dup CLUSTERS: connected components over the minhash pair
    * graph, each document labeled with its representative (min doc id
    * in the component) and cluster size — the O(c)-output
    * representative-based dedup step for boilerplate mega-clusters
    * whose pair enumeration is O(c²). Oracle: recursive CTE
    * propagating reachable ids, min per node.
    */
  val dedupClusters: Q = Q(
    "dedup_clusters",
    (s, dir) => Dedup.minHashClusters(Tables.documents(s, dir), "doc_id", "text",
      numPerm = 16, bands = 4, tau = 0.85, maxBucket = 64),
    Some(s"""
      ${minhashPairCtes(recursive = true)},
      $componentCtes
      SELECT doc_id, rep_id,
             count(*) OVER (PARTITION BY rep_id) AS cluster_size
      FROM comp
    """)
  )

  /** Connected components over the `j` pair CTE, seeded from `t` (so
    * it follows whatever source [[minhashPairCteBody]] was given):
    * recursive reachable-set propagation, min per node — shared by
    * dedup_clusters and the curation pipeline oracle.
    */
  private[queries] def componentCtes: String = """
      edges AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.85),
      und AS (SELECT id_a AS a, id_b AS b FROM edges
              UNION ALL
              SELECT id_b, id_a FROM edges),
      reach(id, r) AS (
        SELECT doc_id, doc_id FROM t
        UNION
        SELECT u.a, reach.r FROM reach JOIN und u ON u.b = reach.id),
      comp AS (SELECT id AS doc_id, min(r) AS rep_id FROM reach GROUP BY 1)"""

  /** Incremental dedup: the newest ~10% of documents (md5-deviate
    * split — "today's ingest batch") paired against the whole corpus
    * without re-pairing history×history (Dedup
    * .minHashNearDupsIncremental). The oracle is the FULL pair run
    * restricted to delta-touching pairs — equality proves the bucket
    * restriction lossless.
    */
  val dedupIncremental: Q = Q(
    "dedup_incremental",
    (s, dir) => Dedup.minHashNearDupsIncremental(
      graft.llm.Sampling.withSplit(Tables.documents(s, dir), "doc_id",
          Seq("old" -> 0.9, "new" -> 0.1))
        .withColumn("is_delta", col("split") === "new"),
      "doc_id", "text", "is_delta", numPerm = 16, bands = 4, tau = 0.85,
      maxBucket = 64),
    Some(s"""
      ${minhashPairCtes(recursive = false)},
      d AS (SELECT doc_id FROM documents
            WHERE ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 8))::BIGINT
                    / 4294967296.0 >= 0.9)
      SELECT id_a, id_b, jaccard FROM j
      WHERE jaccard >= 0.85
        AND (id_a IN (SELECT doc_id FROM d) OR id_b IN (SELECT doc_id FROM d))
    """)
  )

  /** The streaming-ingest dedup shape as a batch-anchored query: the
    * newest ~10% of documents (the "stream") probe a banded LSH index
    * built ONLY from the old 90% (the persisted corpus index —
    * [[Dedup.bandedIndex]]), via the SAME operator the stream runs
    * ([[graft.stream.StreamDedup.nearDupMatches]]; StreamDedupSpec
    * pins stream == this batch path). Differs from dedup_incremental
    * in index semantics: the skew cap counts INDEX membership only
    * (what a prebuilt index can know — stream arrivals must not
    * retroactively uncap corpus buckets), and delta docs never pair
    * with each other (they probe, they aren't indexed).
    */
  val dedupStreamIndex: Q = Q(
    "dedup_stream_index",
    (s, dir) => {
      val docs = graft.llm.Sampling.withSplit(Tables.documents(s, dir),
        "doc_id", Seq("old" -> 0.9, "new" -> 0.1))
      val corpus = docs.filter(col("split") === "old")
        .select(col("doc_id").as("id"), col("text"))
      val delta = docs.filter(col("split") === "new")
        .select(col("doc_id").as("id"), col("text"))
      val index = Dedup.bandedIndex(corpus, "id", "text",
        numPerm = 16, bands = 4, maxBucket = 64)
      graft.stream.StreamDedup.nearDupMatches(delta, index, "id", "text",
          numPerm = 16, bands = 4, tau = 0.85)
        .select(col("id").as("delta_id"), col("corpus_id"), col("jaccard"))
        .distinct()
    },
    Some(s"""
      $toksCte,
      h AS (SELECT doc_id,
                   list_distinct(list_transform(toks, x ->
                     ('0x' || substr(md5(x), 1, 8))::BIGINT)) AS hs
            FROM t),
      sig AS (SELECT doc_id, hs,
                     list_transform(range(16), j ->
                       list_min(list_transform(hs, hh ->
                         (hh * (1 + j * 7919) + (1 + j * 104729)) % 2147483647))) AS mh
              FROM h),
      band0 AS (SELECT doc_id, hs, k AS band_idx,
                      list_reduce(list_transform(range(4), i -> mh[(k * 4 + i + 1)::INT]),
                                  (a, b) -> a * 31 + b) AS band_hash
               FROM sig CROSS JOIN range(4) r(k)),
      nw AS (SELECT doc_id FROM documents
             WHERE ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 8))::BIGINT
                     / 4294967296.0 >= 0.9),
      iband AS (SELECT * FROM band0 WHERE doc_id NOT IN (SELECT doc_id FROM nw)
                QUALIFY count(*) OVER (PARTITION BY band_idx, band_hash) <= 64),
      dband AS (SELECT * FROM band0 WHERE doc_id IN (SELECT doc_id FROM nw)),
      cand AS (SELECT DISTINCT d.doc_id AS delta_id, i.doc_id AS corpus_id,
                      d.hs AS ta, i.hs AS tb
               FROM dband d JOIN iband i
                 ON d.band_idx = i.band_idx AND d.band_hash = i.band_hash)
      SELECT delta_id, corpus_id,
             len(list_intersect(ta, tb))::DOUBLE
               / len(list_distinct(list_concat(ta, tb)))::DOUBLE AS jaccard
      FROM cand
      WHERE len(list_intersect(ta, tb))::DOUBLE
              / len(list_distinct(list_concat(ta, tb)))::DOUBLE >= 0.85
    """)
  )

  /** SimHash near-dup pairs: 60-bit signatures, 4 × 15-bit bands,
    * Hamming ≤ 3, bucket cap 64 (see dedup_minhash).
    */
  val dedupSimhash: Q = Q(
    "dedup_simhash",
    (s, dir) => Dedup.simHashNearDups(Tables.documents(s, dir), "doc_id", "text",
      maxDist = 3, maxBucket = 64),
    Some(s"""
      $toksCte,
      h AS (SELECT doc_id,
                   list_transform(toks, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS hs
            FROM t),
      s AS (SELECT doc_id,
                   list_reduce(list_transform(range(60), j ->
                     CASE WHEN list_reduce(list_transform(hs, hh ->
                            CASE WHEN (hh >> j::INT) & 1 = 1 THEN 1 ELSE -1 END),
                            (a, b) -> a + b) > 0
                          THEN (1::BIGINT << j::INT) ELSE 0::BIGINT END),
                     (a, b) -> a + b) AS sim
            FROM h),
      band0 AS (SELECT doc_id, sim, k AS band_idx,
                      (sim >> (k * 15)::INT) & 32767 AS band_hash
               FROM s CROSS JOIN range(4) r(k)),
      band AS (SELECT * FROM band0
               QUALIFY count(*) OVER (PARTITION BY band_idx, band_hash) <= 64),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.sim AS sim_a, b.sim AS sim_b
               FROM band a JOIN band b
                 ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
                AND a.doc_id < b.doc_id)
      SELECT id_a, id_b, sim_a, sim_b,
             bit_count(xor(sim_a, sim_b)) AS hamming
      FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3
    """)
  )

  /** Char-trigram Jaccard with MinHash band-bucket candidate
    * generation (16 perms, 8 bands × 2 rows, bucket cap 4096) inside
    * (lang, length-band) blocks, mod-4 gram sketching — all
    * deterministic and oracle-mirrored. Replaces the round-1
    * block-all-pairs self-join (the ~470 s sf0.1 scale-killer);
    * recall is complete on this corpus (NgramJaccardSpec proves
    * equality with the exhaustive run).
    */
  val ngramJaccard: Q = Q(
    "ngram_jaccard",
    (s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("len_band", floor(col("n_chars") / 50).cast("int"))
      Dedup.ngramJaccardPairs(d, "doc_id", "text", Seq("lang", "len_band"),
        n = 3, tau = 0.8, modP = 4, numPerm = 16, bands = 8, maxBucket = 4096)
    },
    Some("""
      WITH g AS (
        SELECT doc_id, lang, (n_chars // 50)::INT AS len_band,
               list_distinct(list_filter(
                 list_transform(range(1, greatest(length(text) - 2, 1) + 1),
                   i -> ('0x' || substr(md5(substr(text, i::INT, 3)), 1, 8))::BIGINT),
                 h -> h % 4 = 0)) AS grams
        FROM documents),
      band0 AS (
        SELECT doc_id, lang, len_band, k AS band_idx,
               list_reduce(list_transform(range(2), i -> mh[(k * 2 + i + 1)::INT]),
                           (a, b) -> a * 31 + b) AS band_hash
        FROM (SELECT doc_id, lang, len_band,
                     list_transform(range(16), j ->
                       list_min(list_transform(grams, hh ->
                         (hh * (1 + j * 7919) + (1 + j * 104729)) % 2147483647))) AS mh
              FROM g) CROSS JOIN range(8) r(k)),
      band AS (
        SELECT * FROM band0
        QUALIFY count(*) OVER (PARTITION BY band_idx, band_hash) <= 4096),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM band a JOIN band b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.lang = b.lang AND a.len_band = b.len_band
         AND a.doc_id < b.doc_id),
      pairs AS (
        SELECT c.id_a, c.id_b,
               len(list_intersect(ga.grams, gb.grams))::DOUBLE
                 / (len(ga.grams) + len(gb.grams)
                    - len(list_intersect(ga.grams, gb.grams)))::DOUBLE AS jaccard
        FROM cand c
        JOIN g ga ON ga.doc_id = c.id_a
        JOIN g gb ON gb.doc_id = c.id_b)
      SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.8
    """)
  )

  /** Brute-force cosine top-5 for sampled query vectors (vec_id ≡ 0
    * mod 40) — sequential-fold dot products, bit-identical doubles.
    */
  val cosineTopK: Q = Q(
    "cosine_topk",
    (s, dir) => Similarity.bruteTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
      col("id") % 40 === 0, k = 5),
    Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (SELECT vec_id, v,
                   list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm
            FROM e),
      q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id % 40 = 0),
      s AS (SELECT query_id, t.vec_id AS neighbor_id,
                   list_reduce(list_transform(range(1, 65), i -> qv[i::INT] * t.v[i::INT]),
                               (a, b) -> a + b)
                     / (sqrt(qn) * sqrt(t.nrm)) AS cosine
            FROM q JOIN n t ON t.vec_id <> q.query_id)
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM s QUALIFY rank <= 5
    """)
  )

  /** Random-hyperplane LSH approximate top-5 — the scale path for
    * similarity search. Planes are md5-derived (Similarity.md5Planes)
    * so the oracle restates the exact same doubles — full DuckDB
    * verification; recall vs brute force is asserted in
    * SimilaritySpec.
    */
  val annLsh: Q = Q(
    "ann_lsh_topk",
    (s, dir) => Similarity.lshTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
      col("id") % 40 === 0, k = 5,
      Similarity.md5Planes(dim = 64, groups = 16, bitsPerGroup = 6)),
    Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (SELECT vec_id, v,
                   list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm
            FROM e),
      pl AS (SELECT g, p,
                    list_transform(range(64), d ->
                      ('0x' || substr(md5(g::VARCHAR || ':' || p::VARCHAR || ':' || d::VARCHAR), 1, 8))::BIGINT
                        / 4294967296.0 - 0.5) AS plane
             FROM range(16) rg(g) CROSS JOIN range(6) rp(p)),
      bkt AS (SELECT vec_id, g,
                     sum(CASE WHEN list_reduce(list_transform(range(1, 65), i -> v[i::INT] * plane[i::INT]),
                                               (a, b) -> a + b) > 0
                              THEN (1::BIGINT << p::INT) ELSE 0 END)::BIGINT AS bucket
              FROM n CROSS JOIN pl GROUP BY 1, 2),
      q AS (SELECT vec_id AS query_id, g, bucket FROM bkt WHERE vec_id % 40 = 0),
      cand AS (SELECT DISTINCT q.query_id, t.vec_id AS neighbor_id
               FROM q JOIN bkt t ON q.g = t.g AND q.bucket = t.bucket
                AND t.vec_id <> q.query_id),
      s AS (SELECT c.query_id, c.neighbor_id,
                   list_reduce(list_transform(range(1, 65), i -> a.v[i::INT] * b.v[i::INT]), (x, y) -> x + y)
                     / (sqrt(a.nrm) * sqrt(b.nrm)) AS cosine
            FROM cand c
            JOIN n a ON a.vec_id = c.query_id
            JOIN n b ON b.vec_id = c.neighbor_id)
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM s QUALIFY rank <= 5
    """)
  )

  /** Multi-probe sign-LSH (Lv et al., VLDB'07 shape): 10 bits/group
    * (finer buckets — constant occupancy is the anti-quadratic scale
    * knob; the r5 sf1 curve measured 16×6 at 12.2× for 10× corpus)
    * with each query also probing its 10 Hamming-distance-1 buckets
    * per group, recovering the recall finer buckets lose at
    * query-side-only cost. Measured at sf1 (NOTES_r5, interleaved
    * arms): 16×10+p10 = 3.93 s / recall 0.760 vs baseline 16×6 =
    * 4.63 s / 0.710 — better on BOTH axes. Planes stay md5-derived ⇒
    * full DuckDB oracle (probe = bucket XOR single-bit masks).
    */
  val annLshMultiprobe: Q = Q(
    "ann_lsh_multiprobe",
    (s, dir) => Similarity.lshTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
      col("id") % 40 === 0, k = 5,
      Similarity.md5Planes(dim = 64, groups = 16, bitsPerGroup = 10), probes = 10),
    Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (SELECT vec_id, v,
                   list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm
            FROM e),
      pl AS (SELECT g, p,
                    list_transform(range(64), d ->
                      ('0x' || substr(md5(g::VARCHAR || ':' || p::VARCHAR || ':' || d::VARCHAR), 1, 8))::BIGINT
                        / 4294967296.0 - 0.5) AS plane
             FROM range(16) rg(g) CROSS JOIN range(10) rp(p)),
      bkt AS (SELECT vec_id, g,
                     sum(CASE WHEN list_reduce(list_transform(range(1, 65), i -> v[i::INT] * plane[i::INT]),
                                               (a, b) -> a + b) > 0
                              THEN (1::BIGINT << p::INT) ELSE 0 END)::BIGINT AS bucket
              FROM n CROSS JOIN pl GROUP BY 1, 2),
      q AS (SELECT vec_id AS query_id, g,
                   xor(bucket, CASE WHEN j = 0 THEN 0::BIGINT
                                    ELSE (1::BIGINT << (j - 1)::INT) END) AS bucket
            FROM bkt CROSS JOIN range(11) rf(j) WHERE vec_id % 40 = 0),
      cand AS (SELECT DISTINCT q.query_id, t.vec_id AS neighbor_id
               FROM q JOIN bkt t ON q.g = t.g AND q.bucket = t.bucket
                AND t.vec_id <> q.query_id),
      s AS (SELECT c.query_id, c.neighbor_id,
                   list_reduce(list_transform(range(1, 65), i -> a.v[i::INT] * b.v[i::INT]), (x, y) -> x + y)
                     / (sqrt(a.nrm) * sqrt(b.nrm)) AS cosine
            FROM cand c
            JOIN n a ON a.vec_id = c.query_id
            JOIN n b ON b.vec_id = c.neighbor_id)
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM s QUALIFY rank <= 5
    """)
  )

  /** Embedding-cosine near-duplicate pairs: same-cell (label) blocking
    * — the IVF analogue of LSH blocking — then exact cosine ≥ 0.35 (tuned to the synthetic embedding similarity range).
    * At scale the block key comes from LSH buckets or IVF assignment
    * instead of a given label.
    */
  val dedupEmbedding: Q = Q(
    "dedup_embedding",
    (s, dir) => {
      val base = Similarity.withNorm(
        Tables.embeddings(s, dir).select(col("vec_id"), col("label"),
          Similarity.toDoubleVec(col("embedding")).as("v")), "v")
      base.as("a").join(base.as("b"),
          col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
          (Similarity.dot(col("a.v"), col("b.v")) /
            (sqrt(col("a.__norm")) * sqrt(col("b.__norm")))).as("cosine"))
        .filter(col("cosine") >= 0.35)
    },
    Some("""
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (SELECT vec_id, label, v,
                   list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm
            FROM e),
      p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   list_reduce(list_transform(range(1, 65), i -> a.v[i::INT] * b.v[i::INT]),
                               (x, y) -> x + y)
                     / (sqrt(a.nrm) * sqrt(b.nrm)) AS cosine
            FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
      SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.35
    """)
  )

  /** IVF-style ANN: corpus indexed by label cell, per-cell centroids
    * from order-pinned folds, query probes its nearest centroid
    * (nprobe=1), exact cosine top-5 within the probed cell. Fully
    * deterministic ⇒ full oracle.
    */
  val annIvf: Q = Q(
    "ann_ivf_topk",
    (s, dir) => Similarity.ivfTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
      "label", col("id") % 40 === 0, k = 5, dim = 64),
    Some("""
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (SELECT vec_id, label, v,
                   list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm
            FROM e),
      g AS (SELECT label, list(v ORDER BY vec_id) AS vs, count(*) AS cnt FROM e GROUP BY 1),
      c AS (SELECT label AS c_cell,
                   list_transform(range(64), kk ->
                     list_reduce(list_transform(vs, v -> v[(kk + 1)::INT]), (a, b) -> a + b) / cnt) AS cv
            FROM g),
      c2 AS (SELECT c_cell, cv,
                    list_reduce(list_transform(cv, x -> x * x), (a, b) -> a + b) AS cn
             FROM c),
      q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id % 40 = 0),
      probe AS (
        SELECT qid, qv, qn, c_cell
        FROM q CROSS JOIN c2
        QUALIFY row_number() OVER (PARTITION BY qid ORDER BY
          list_reduce(list_transform(range(1, 65), i -> qv[i::INT] * cv[i::INT]), (a, b) -> a + b)
            / (sqrt(qn) * sqrt(cn)) DESC, c_cell) = 1),
      s AS (SELECT qid AS query_id, t.vec_id AS neighbor_id,
                   list_reduce(list_transform(range(1, 65), i -> qv[i::INT] * t.v[i::INT]), (a, b) -> a + b)
                     / (sqrt(qn) * sqrt(t.nrm)) AS cosine
            FROM probe JOIN n t ON t.label = probe.c_cell AND t.vec_id <> probe.qid)
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM s QUALIFY rank <= 5
    """)
  )

  /** IVF with nprobe=2: each query searches its TWO nearest cells —
    * the recall/cost knob of IVF indexes (probing more cells recovers
    * neighbors that fell across the cell boundary). Cells are
    * disjoint, so the union of per-cell candidates needs no dedup.
    */
  val annIvfMultiprobe: Q = Q(
    "ann_ivf_multiprobe",
    (s, dir) => Similarity.ivfTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
      "label", col("id") % 40 === 0, k = 5, dim = 64, nprobe = 2),
    Some("""
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (SELECT vec_id, label, v,
                   list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm
            FROM e),
      g AS (SELECT label, list(v ORDER BY vec_id) AS vs, count(*) AS cnt FROM e GROUP BY 1),
      c AS (SELECT label AS c_cell,
                   list_transform(range(64), kk ->
                     list_reduce(list_transform(vs, v -> v[(kk + 1)::INT]), (a, b) -> a + b) / cnt) AS cv
            FROM g),
      c2 AS (SELECT c_cell, cv,
                    list_reduce(list_transform(cv, x -> x * x), (a, b) -> a + b) AS cn
             FROM c),
      q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id % 40 = 0),
      probe AS (
        SELECT qid, qv, qn, c_cell
        FROM q CROSS JOIN c2
        QUALIFY row_number() OVER (PARTITION BY qid ORDER BY
          list_reduce(list_transform(range(1, 65), i -> qv[i::INT] * cv[i::INT]), (a, b) -> a + b)
            / (sqrt(qn) * sqrt(cn)) DESC, c_cell) <= 2),
      s AS (SELECT qid AS query_id, t.vec_id AS neighbor_id,
                   list_reduce(list_transform(range(1, 65), i -> qv[i::INT] * t.v[i::INT]), (a, b) -> a + b)
                     / (sqrt(qn) * sqrt(t.nrm)) AS cosine
            FROM probe JOIN n t ON t.label = probe.c_cell AND t.vec_id <> probe.qid)
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM s QUALIFY rank <= 5
    """)
  )

  /** Oracle for BOTH ann_ivf_scaled and ann_index_ivf — the indexed
    * probe is bit-equal to the monolithic composition by construction
    * (AnnIndexSpec), so one SQL text anchors both paths.
    */
  private def annIvfScaledSql: String = kmCellCtes(64) + """,
      n2 AS (SELECT n.vec_id, a2.cell, n.v, n.nrm FROM n JOIN a2 USING (vec_id)),
      g2 AS (SELECT cell, list(v ORDER BY vec_id) AS vs, count(*) AS cnt
             FROM n2 GROUP BY 1),
      cc AS (SELECT cell AS c_cell,
                    list_transform(range(64), kk ->
                      list_reduce(list_transform(vs, v -> v[(kk + 1)::INT]), (a, b) -> a + b) / cnt) AS cv
             FROM g2),
      cc2 AS (SELECT c_cell, cv,
                     list_reduce(list_transform(cv, x -> x * x), (a, b) -> a + b) AS cn
              FROM cc),
      q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id % 40 = 0),
      probe AS (
        SELECT qid, qv, qn, c_cell
        FROM q CROSS JOIN cc2
        QUALIFY row_number() OVER (PARTITION BY qid ORDER BY
          list_reduce(list_transform(range(1, 65), i -> qv[i::INT] * cv[i::INT]), (a, b) -> a + b)
            / (sqrt(qn) * sqrt(cn)) DESC, c_cell) <= 4),
      s AS (SELECT qid AS query_id, t.vec_id AS neighbor_id,
                   list_reduce(list_transform(range(1, 65), i -> qv[i::INT] * t.v[i::INT]), (a, b) -> a + b)
                     / (sqrt(qn) * sqrt(t.nrm)) AS cosine
            FROM probe JOIN n2 t ON t.cell = probe.c_cell AND t.vec_id <> probe.qid)
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM s QUALIFY rank <= 5
    """

  /** The corpus-sized-cells IVF-EXACT arm (cells=64 via
    * deterministic Lloyd, nprobe=4): ann_ivf_topk/_multiprobe keep the
    * label cells (10 FIXED cells, occupancy ∝ corpus — the labeled
    * fixed-cell baseline, 3.9× at sf1), while this arm derives cells
    * from the corpus per the SCALE_DECADES_r6 occupancy law
    * (cells = 2^round(log₂(corpus/320))), the same knob the
    * IVF-PQ family measured (fixed 8 cells: 8-key skew LOSES at 60k;
    * 64 cells restore parallelism AND shrink candidates). Oracle
    * replays the full Lloyd training, both assignments, member-mean
    * probe centroids, the nprobe-4 ranking, and the exact cosine.
    */
  val annIvfScaledQ: Q = Q(
    "ann_ivf_scaled",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cells = Similarity.kmeansCells(emb, "vec_id", "embedding",
          k = 64, iters = 1)
        .select(col("vec_id").as("__kid"), col("cell"))
      Similarity.ivfTopK(emb.join(cells, col("vec_id") === col("__kid"))
          .drop("__kid"),
        "vec_id", "embedding", "cell", col("id") % 40 === 0,
        k = 5, dim = 64, nprobe = 4)
    },
    Some(annIvfScaledSql)
  )

  /** SemDeDup over the PERSISTED IVF index (SemDedup
    * .semanticDedupIndexed): Lloyd cells + quantizer read from the
    * index tables instead of retrained per run — the nightly-dedup
    * shape, bit-equal to semantic_dedup_scaled by construction
    * (SemDedupSpec pins it through a parquet round-trip), so the
    * identical k=32 oracle SQL anchors the path.
    */
  val semanticDedupIndexedQ: Q = Q(
    "semantic_dedup_indexed",
    (s, dir) => {
      val (vectors, _, quant) = AnnIndex.buildIvf(Tables.embeddings(s, dir),
        "vec_id", "embedding", cells = 32, iters = 1)
      graft.llm.SemDedup.semanticDedupIndexed(vectors, quant, tau = 0.35)
    },
    Some(semanticDedupSql(32))
  )

  /** The same IVF search through the PERSISTED index path
    * (AnnIndex.buildIvf / ivfTopK): Lloyd cells and member-mean
    * centroids built once as index tables, queries probe them —
    * bit-equal to ann_ivf_scaled by construction (AnnIndexSpec pins
    * it, including through a parquet round-trip), so the identical
    * oracle SQL anchors this path independently. The split matters
    * MOST here: the monolithic composition repeats the Lloyd
    * training every query batch (NOTES_r8 / SCALE_DECADES_r8 record the curve).
    */
  val annIndexIvfQ: Q = Q(
    "ann_index_ivf",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (vectors, cents, _) = AnnIndex.buildIvf(emb, "vec_id", "embedding",
        cells = 64, iters = 1)
      AnnIndex.ivfTopK(vectors, cents,
        emb.filter(col("vec_id") % 40 === 0), "vec_id", "embedding",
        k = 5, nprobe = 4)
    },
    Some(annIvfScaledSql)
  )

  /** IVF assignment-churn health metric (AnnIndex.ivfChurn) — the
    * re-train trigger for a persisted index accumulating deltas: one
    * row (total, flipped, churn_rate) counting vectors whose stored
    * cell (argmin vs the TRAINING quantizer) differs from their argmin
    * under the CURRENT member-mean centroids. The oracle replays the
    * full Lloyd chain, the member-mean fold, and both argmins — so the
    * drift gap itself (the 34/450-style measurement) is hash-anchored.
    */
  val annIndexChurnQ: Q = Q(
    "ann_index_churn",
    (s, dir) => {
      val (vectors, cents, _) = AnnIndex.buildIvf(Tables.embeddings(s, dir),
        "vec_id", "embedding", cells = 8, iters = 1)
      AnnIndex.ivfChurn(vectors, cents)
    },
    Some(kmCellCtes(8) + """,
      m2 AS (SELECT a.cell, list(n2.v ORDER BY n2.vec_id) AS vs, count(*) AS cnt
             FROM a2 a JOIN n n2 USING (vec_id) GROUP BY 1),
      c2 AS (SELECT cell, list_transform(range(64), kk ->
               list_reduce(list_transform(vs, v -> v[(kk + 1)::INT]), (a, b) -> a + b) / cnt) AS cv
             FROM m2),
      """ + kmAssignCte("a3", "c2") + """
      SELECT count(*)::BIGINT AS total,
             sum(CASE WHEN a2.cell <> a3.cell THEN 1 ELSE 0 END)::BIGINT AS flipped,
             sum(CASE WHEN a2.cell <> a3.cell THEN 1 ELSE 0 END)::DOUBLE / count(*) AS churn_rate
      FROM a2 JOIN a3 USING (vec_id)
    """)
  )

  /** IVF delta ingest (AnnIndex.ivfAssignStream, the streaming-legal
    * map-side argmin): train the quantizer on the 90% "old" corpus,
    * assign the 10% delta against it WITHOUT retraining — the FAISS
    * add() path. Batch and stream share this exact plan (it is a pure
    * projection; StreamAnnSpec pins parquet-appended == batch), so the
    * oracle anchors the streaming ingest's arithmetic too: Lloyd on
    * the old corpus, then the delta's argmin vs the trained centroids.
    */
  val annIvfDeltaQ: Q = Q(
    "ann_ivf_delta",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (_, _, quant) = AnnIndex.buildIvf(
        emb.filter(col("vec_id") % 10 =!= 0), "vec_id", "embedding",
        cells = 8, iters = 1)
      AnnIndex.ivfAssignStream(emb.filter(col("vec_id") % 10 === 0),
          "vec_id", "embedding", quant)
        .select(col("corpus_id"), col("cell"), col("nrm"))
    },
    Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings WHERE vec_id % 10 <> 0),
      n AS (SELECT vec_id, v,
                   list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm
            FROM e),
      c0 AS (SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cell, v AS cv
             FROM e QUALIFY row_number() OVER (ORDER BY vec_id) <= 8),
      a1 AS (
        SELECT vec_id, cell, dist FROM (
          SELECT n.vec_id, c.cell,
                 n.nrm + list_reduce(list_transform(c.cv, x -> x * x), (a, b) -> a + b)
                   - 2 * list_reduce(list_transform(range(1, 65), i -> n.v[i::INT] * c.cv[i::INT]), (a, b) -> a + b) AS dist
          FROM n CROSS JOIN c0 c) t
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) = 1),
      m1 AS (SELECT a.cell, list(n2.v ORDER BY n2.vec_id) AS vs, count(*) AS cnt
             FROM a1 a JOIN n n2 USING (vec_id) GROUP BY 1),
      c1 AS (SELECT p.cell,
                    CASE WHEN m.cnt IS NULL THEN p.cv
                         ELSE list_transform(range(64), kk ->
                           list_reduce(list_transform(m.vs, v -> v[(kk + 1)::INT]), (a, b) -> a + b) / m.cnt)
                    END AS cv
             FROM c0 p LEFT JOIN m1 m USING (cell)),
      d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id % 10 = 0),
      dn AS (SELECT vec_id, v,
                    list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm
             FROM d),
      ad AS (
        SELECT vec_id, cell, nrm FROM (
          SELECT dn.vec_id, c.cell, dn.nrm,
                 dn.nrm + list_reduce(list_transform(c.cv, x -> x * x), (a, b) -> a + b)
                   - 2 * list_reduce(list_transform(range(1, 65), i -> dn.v[i::INT] * c.cv[i::INT]), (a, b) -> a + b) AS dist
          FROM dn CROSS JOIN c1 c) t
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) = 1)
      SELECT vec_id AS corpus_id, cell, nrm FROM ad
    """)
  )

  /** PII redaction. The synthetic corpus carries no PII, so the query
    * deterministically appends synthetic PII (email, URL, long id) —
    * restated identically in the oracle — and the operator masks it.
    */
  val piiScrub: Q = Q(
    "pii_scrub",
    (s, dir) => {
      val aug = Tables.documents(s, dir).withColumn("text_aug",
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or https://ex.org/d/"), col("doc_id"),
          lit(" ref "), lpad(col("doc_id").cast("string"), 9, "0")))
      Redact.withRedactions(aug, "text_aug")
        .select("doc_id", "n_emails", "n_urls", "n_longnums", "redacted")
    },
    Some("""
      WITH aug AS (
        SELECT doc_id,
               text || ' contact user' || doc_id::VARCHAR
                    || '@example.com or https://ex.org/d/' || doc_id::VARCHAR
                    || ' ref ' || lpad(doc_id::VARCHAR, 9, '0') AS t
        FROM documents)
      SELECT doc_id,
             len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
             len(regexp_extract_all(t, 'https?://[^\s]+')) AS n_urls,
             len(regexp_extract_all(t, '[0-9]{7,}')) AS n_longnums,
             regexp_replace(regexp_replace(regexp_replace(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               'https?://[^\s]+', '<URL>', 'g'),
               '[0-9]{7,}', '<NUM>', 'g') AS redacted
      FROM aug
    """)
  )

  /** Per-label embedding centroid (the aggregation step of k-means /
    * class prototypes): element-wise mean with the summation order
    * pinned by vec_id so both engines fold identical IEEE sequences.
    * Output flattened to (label, dim, centroid) scalars.
    */
  val embeddingCentroid: Q = Q(
    "embedding_centroid",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("label"), col("vec_id"), Similarity.toDoubleVec(col("embedding")).as("v"))
      val g = e.groupBy("label")
        .agg(sort_array(collect_list(struct(col("vec_id"), col("v")))).as("lst"),
          count(lit(1)).as("n_vectors"))
      g.select(col("label"),
          posexplode(transform(sequence(lit(0), lit(63)), i =>
            aggregate(col("lst"), lit(0.0),
              (acc, sv) => acc + element_at(sv.getField("v"), (i + 1).cast("int")))
              / col("n_vectors"))).as(Seq("dim", "centroid")),
          col("n_vectors"))
    },
    Some("""
      WITH e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      g AS (SELECT label, list(v ORDER BY vec_id) AS vs, count(*) AS n FROM e GROUP BY 1)
      SELECT label, k AS dim,
             list_reduce(list_transform(vs, v -> v[(k + 1)::INT]), (a, b) -> a + b) / n AS centroid,
             n AS n_vectors
      FROM g CROSS JOIN range(64) r(k)
    """)
  )

  /** Language-ID via stopword-profile hits (n-gram heuristic). */
  val langId: Q = Q(
    "lang_id",
    (s, dir) => TextStats.withLangId(Tables.documents(s, dir), "text")
      .withColumn("is_correct", col("pred_lang") === col("lang"))
      .select("doc_id", "hits_de", "hits_en", "hits_es", "hits_fr", "hits_zh",
        "pred_lang", "is_correct"),
    Some(s"""
      $toksCte,
      h AS (SELECT doc_id, lang,
              len(list_intersect(toks, ['der','die','das','und','ist','zu','mit'])) AS hits_de,
              len(list_intersect(toks, ['the','a','of','and','to','is','in'])) AS hits_en,
              len(list_intersect(toks, ['el','la','de','y','es','en','que'])) AS hits_es,
              len(list_intersect(toks, ['le','la','de','et','est','en','que'])) AS hits_fr,
              len(list_intersect(toks, ['的','是','在','了','我','有','和'])) AS hits_zh
            FROM t),
      m AS (SELECT *, greatest(hits_de, hits_en, hits_es, hits_fr, hits_zh) AS mx FROM h)
      SELECT doc_id, hits_de, hits_en, hits_es, hits_fr, hits_zh,
             CASE WHEN hits_de = mx THEN 'de' WHEN hits_en = mx THEN 'en'
                  WHEN hits_es = mx THEN 'es' WHEN hits_fr = mx THEN 'fr'
                  ELSE 'zh' END AS pred_lang,
             (CASE WHEN hits_de = mx THEN 'de' WHEN hits_en = mx THEN 'en'
                   WHEN hits_es = mx THEN 'es' WHEN hits_fr = mx THEN 'fr'
                   ELSE 'zh' END) = lang AS is_correct
      FROM m
    """)
  )

  /** Quality scoring: exact-integer-derived ratios + fixed double
    * formula (identical expression in the oracle).
    */
  val textQuality: Q = Q(
    "text_quality",
    (s, dir) => TextStats.withQuality(Tables.documents(s, dir), "text")
      .select("doc_id", "n_chars_len", "n_words", "avg_word_len", "digit_ratio",
        "punct_ratio", "stopword_ratio", "quality_score", "pass_filter"),
    Some(s"""
      $toksCte,
      f AS (
        SELECT doc_id, toks,
               length(text) AS len0,
               string_split_regex(trim(text), '\\s+') AS ws,
               length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digits,
               length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS punct,
               len(list_intersect(toks, ['the','a','of','and','to','is','in'])) AS stop_hits
        FROM t),
      f2 AS (
        SELECT doc_id, len0, len(ws) AS n_words,
               list_reduce(list_transform(ws, w -> length(w)), (a, b) -> a + b) AS sum_word_len,
               digits, punct, stop_hits, len(toks) AS n_distinct
        FROM f)
      SELECT doc_id,
             len0 AS n_chars_len,
             n_words,
             sum_word_len::DOUBLE / n_words AS avg_word_len,
             digits::DOUBLE / len0 AS digit_ratio,
             punct::DOUBLE / len0 AS punct_ratio,
             stop_hits::DOUBLE / n_distinct AS stopword_ratio,
             0.4 * (stop_hits::DOUBLE / n_distinct)
               + 0.3 * (1.0 - digits::DOUBLE / len0)
               + 0.3 * least(sum_word_len::DOUBLE / n_words / 8.0, 1.0) AS quality_score,
             (0.4 * (stop_hits::DOUBLE / n_distinct)
               + 0.3 * (1.0 - digits::DOUBLE / len0)
               + 0.3 * least(sum_word_len::DOUBLE / n_words / 8.0, 1.0)) >= 0.5
               AND n_words >= 10 AND len0 >= 50 AS pass_filter
      FROM f2
    """)
  )

  /** Token counting: whitespace + BPE-ish regex tokenizer. */
  val tokenCount: Q = Q(
    "token_count",
    (s, dir) => TextStats.withTokenCounts(Tables.documents(s, dir), "text")
      .select("doc_id", "ws_tokens", "re_tokens", "chars_per_token"),
    Some("""
      SELECT doc_id,
             len(string_split_regex(trim(text), '\s+')) AS ws_tokens,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS re_tokens,
             length(text)::DOUBLE
               / len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS chars_per_token
      FROM documents
    """)
  )

  /** Character-distribution Shannon entropy (quality signal). The
    * micro-nat quantization (TextStats.charEntropy) makes the sums
    * exact integers; the finishing expression is restated verbatim in
    * the oracle.
    */
  val charEntropyQ: Q = Q(
    "char_entropy",
    (s, dir) => TextStats.charEntropy(Tables.documents(s, dir), "doc_id", "text")
      .select("doc_id", "n_counted", "distinct_chars", "sum_mlnm_micro", "entropy"),
    Some("""
      WITH counts AS (
        SELECT doc_id, ch, count(*) AS m
        FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents)
        GROUP BY 1, 2),
      per AS (
        SELECT doc_id, m,
               m * CAST(floor(ln(CAST(m AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS mlnm
        FROM counts),
      agg AS (
        SELECT doc_id,
               CAST(sum(m) AS BIGINT) AS n_counted,
               count(*) AS distinct_chars,
               CAST(sum(mlnm) AS BIGINT) AS sum_mlnm_micro
        FROM per GROUP BY 1)
      SELECT doc_id, n_counted, distinct_chars, sum_mlnm_micro,
             (floor(ln(CAST(n_counted AS DOUBLE)) * 1e6 + 0.5)
               - CAST(sum_mlnm_micro AS DOUBLE) / CAST(n_counted AS DOUBLE)) / 1e6
               AS entropy
      FROM agg
    """)
  )

  /** Char-8-gram rolling fingerprint (1-perm minhash over shingles). */
  val docFingerprint: Q = Q(
    "doc_fingerprint",
    (s, dir) => TextStats.withFingerprint(Tables.documents(s, dir), "text")
      .select("doc_id", "fingerprint", "n_grams"),
    Some("""
      SELECT doc_id,
             list_min(list_transform(range(1, greatest(length(text) - 7, 1) + 1),
               i -> ('0x' || substr(md5(substr(text, i::INT, 8)), 1, 8))::BIGINT)) AS fingerprint,
             len(list_distinct(list_transform(range(1, greatest(length(text) - 7, 1) + 1),
               i -> substr(text, i::INT, 8)))) AS n_grams
      FROM documents
    """)
  )

  /** Multimodal metadata path: opaque bytes + typed metadata columns,
    * verified at the expression level (byte length and digest).
    */
  val multimodalFeatures: Q = Q(
    "multimodal_features",
    (s, dir) => Tables.documents(s, dir)
      .select(col("doc_id"), lit("text").as("modality"),
        octet_length(col("text")).as("n_bytes"),
        sha2(col("text").cast("binary"), 256).as("digest")),
    Some("""
      SELECT doc_id, 'text' AS modality,
             octet_length(encode(text)) AS n_bytes,
             sha256(text) AS digest
      FROM documents
    """)
  )

  /** Oracle CTE: argmin-distance assignment of every vector against
    * centroid table `cents` — `‖v‖² + ‖c‖² − 2·v·c`, ties to the
    * smallest cell (mirrors Similarity.kmeansCells.assign).
    */
  private def kmAssignCte(name: String, cents: String): String = s"""
      $name AS (
        SELECT vec_id, cell, dist FROM (
          SELECT n.vec_id, c.cell,
                 n.nrm + list_reduce(list_transform(c.cv, x -> x * x), (a, b) -> a + b)
                   - 2 * list_reduce(list_transform(range(1, 65), i -> n.v[i::INT] * c.cv[i::INT]), (a, b) -> a + b) AS dist
          FROM n CROSS JOIN $cents c) t
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) = 1)"""

  /** The kmeans_cells oracle chain (`k` cells, one Lloyd update),
    * ending at `a2` = final corpus assignment under the updated
    * centroids `c1` — shared with both IVF-PQ arms.
    */
  private def kmCellCtes(k: Int): String = s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (SELECT vec_id, v,
                   list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm
            FROM e),
      c0 AS (SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cell, v AS cv
             FROM e QUALIFY row_number() OVER (ORDER BY vec_id) <= $k),
      ${kmAssignCte("a1", "c0")},
      m1 AS (SELECT a.cell, list(n2.v ORDER BY n2.vec_id) AS vs, count(*) AS cnt
             FROM a1 a JOIN n n2 USING (vec_id) GROUP BY 1),
      c1 AS (SELECT p.cell,
                    CASE WHEN m.cnt IS NULL THEN p.cv
                         ELSE list_transform(range(64), kk ->
                           list_reduce(list_transform(m.vs, v -> v[(kk + 1)::INT]), (a, b) -> a + b) / m.cnt)
                    END AS cv
             FROM c0 p LEFT JOIN m1 m USING (cell)),
      ${kmAssignCte("a2", "c1")}"""

  /** Deterministic Lloyd k-means (k=8, one update): seeds = 8 smallest
    * ids, one assignment + order-pinned centroid update (empty cells
    * keep their seed), final assignment under the updated centroids.
    * Fully unrolled in the oracle — every distance is the same
    * sequential fold on both engines.
    */
  val kmeansCellsQ: Q = Q(
    "kmeans_cells",
    (s, dir) => Similarity.kmeansCells(Tables.embeddings(s, dir), "vec_id",
      "embedding", k = 8, iters = 1),
    Some(kmCellCtes(8) + """
      SELECT vec_id, cell, dist FROM a2
    """)
  )

  /** JL-prefilter + exact re-rank (the FAISS/ScaNN closing pattern):
    * shortlist 32 by 16-d projected L2, exact 64-d cosine on the
    * shortlist only — ranking quality degrades only through shortlist
    * misses, never score distortion. Makes rp_project load-bearing.
    * Recall on THIS deliberately hard geometry (true neighbors at
    * cos ~0.39 — the corpus that forced LSH to 13 bits): 0.38/0.54/
    * 0.65 at shortlist 32/64/96 of 500; on clustered real-world
    * geometry the spec measures ~1.0. Driver query uses 64 (12.8% of
    * the corpus exactly re-scored).
    */
  val annRpRerankQ: Q = Q(
    "ann_rp_rerank",
    (s, dir) => Similarity.rpRerankTopK(Tables.embeddings(s, dir), "vec_id",
      "embedding", col("id") % 40 === 0, k = 5, shortlist = 64),
    Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (SELECT vec_id, v,
                   list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm
            FROM e),
      pl AS (SELECT p, list_transform(range(64), d ->
               ('0x' || substr(md5('0:' || p::VARCHAR || ':' || d::VARCHAR), 1, 8))::BIGINT
                 / 4294967296.0 - 0.5) AS plane
             FROM (SELECT unnest(range(16)) AS p)),
      yj AS (SELECT vec_id, p,
                    list_reduce(list_transform(range(1, 65), i -> v[i::INT] * plane[i::INT]), (a, b) -> a + b) AS yv
             FROM e CROSS JOIN pl),
      ya AS (SELECT vec_id, list(yv ORDER BY p) AS y FROM yj GROUP BY 1),
      na AS (SELECT n.vec_id, n.v, n.nrm, ya.y FROM n JOIN ya USING (vec_id)),
      q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, y AS qy
            FROM na WHERE vec_id % 40 = 0),
      d AS (SELECT q.query_id, q.qv, q.qn, t.vec_id AS neighbor_id, t.v, t.nrm,
                   list_reduce(list_transform(range(1, 17),
                     i -> (q.qy[i::INT] - t.y[i::INT]) * (q.qy[i::INT] - t.y[i::INT])),
                     (a, b) -> a + b) AS d2
            FROM q JOIN na t ON t.vec_id <> q.query_id),
      sh AS (SELECT * FROM (
               SELECT d.*, row_number() OVER (PARTITION BY query_id
                                              ORDER BY d2, neighbor_id) AS srn
               FROM d) WHERE srn <= 64),
      sc AS (SELECT query_id, neighbor_id,
                    list_reduce(list_transform(range(1, 65), i -> qv[i::INT] * v[i::INT]), (a, b) -> a + b)
                      / (sqrt(qn) * sqrt(nrm)) AS cosine
             FROM sh)
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM sc QUALIFY rank <= 5
    """)
  )

  /** Full IVF-PQ oracle for a (cells, nprobe) arm. */
  private def ivfPqSql(cells: Int, nprobe: Int): String =
    kmCellCtes(cells) + "," + s"""
      ${pqSubCtes(0)},
      ${pqSubCtes(1)},
      ${pqSubCtes(2)},
      ${pqSubCtes(3)},
      qx AS (SELECT vec_id AS query_id, v, nrm FROM n WHERE vec_id % 40 = 0),
      qp AS (SELECT query_id, cell FROM (
               SELECT query_id, cell,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY dist, cell) AS rn
               FROM (
                 SELECT qx.query_id, c.cell,
                        qx.nrm + list_reduce(list_transform(c.cv, x -> x * x), (a, b) -> a + b)
                          - 2 * list_reduce(list_transform(range(1, 65), i -> qx.v[i::INT] * c.cv[i::INT]), (a, b) -> a + b) AS dist
                 FROM qx CROSS JOIN c1 c) t0) t1
             WHERE rn <= $nprobe),
      cand AS (SELECT qp.query_id, a2.vec_id FROM qp JOIN a2 USING (cell)
               WHERE a2.vec_id <> qp.query_id),
      q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id % 40 = 0),
      pair AS (
        SELECT cand.query_id, cand.vec_id AS neighbor_id,
               (((${pqAdcTerm(0)}
                + ${pqAdcTerm(1)})
                + ${pqAdcTerm(2)})
                + ${pqAdcTerm(3)}) AS adist
        FROM cand JOIN q ON q.query_id = cand.query_id
             JOIN cd0 x0 ON x0.vec_id = cand.vec_id
             JOIN cd1 x1 ON x1.vec_id = cand.vec_id
             JOIN cd2 x2 ON x2.vec_id = cand.vec_id
             JOIN cd3 x3 ON x3.vec_id = cand.vec_id)
      SELECT query_id, neighbor_id, adist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adist, neighbor_id) AS rank
      FROM pair QUALIFY rank <= 5
    """

  /** IVF-PQ composition (FAISS IVF8,PQ4x4 shape): coarse cells gate
    * candidates via an equi-join on the probed cell ids (nprobe=2 of
    * 8 — per-query work is corpus·nprobe/cells, and `cells` is the
    * corpus-sized knob, SCALE_DECADES_r6), PQ asymmetric distance
    * scores them. The oracle replays all five Lloyd trainings, both
    * assignments, the probe ranking, and the ADC scan.
    */
  val annIvfPqQ: Q = Q(
    "ann_ivfpq_topk",
    (s, dir) => Pq.ivfPqTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
      col("id") % 40 === 0, k = 5),
    Some(ivfPqSql(cells = 8, nprobe = 2))
  )

  /** The corpus-sized-cells arm (cells=64, nprobe=4): with a fixed
    * cell count the candidate equi-join has only `cells` distinct
    * keys — gating saved arithmetic at 20k vectors (9.5 vs 27 s brute)
    * but 8-key SKEW made it LOSE at 60k (58 vs 27 s). Growing cells
    * with the corpus (the SCALE_DECADES_r6 occupancy law, FAISS practice)
    * restores parallelism AND shrinks candidates; measured in
    * SCALE_DECADES session4_family.
    */
  val annIvfPqScaledQ: Q = Q(
    "ann_ivfpq_scaled",
    (s, dir) => Pq.ivfPqTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
      col("id") % 40 === 0, k = 5, cells = 64, nprobe = 4),
    Some(ivfPqSql(cells = 64, nprobe = 4))
  )

  /** Oracle text for the SemDeDup chain at cluster count `k` — the
    * full Lloyd + dominance + argmax replay, parameterized so the
    * baseline and the scale arm share one definition.
    */
  private def semanticDedupSql(k: Int): String = s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (SELECT vec_id, v,
                   list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm
            FROM e),
      c0 AS (SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cell, v AS cv
             FROM e QUALIFY row_number() OVER (ORDER BY vec_id) <= $k),
      ${kmAssignCte("a1", "c0")},
      m1 AS (SELECT a.cell, list(n2.v ORDER BY n2.vec_id) AS vs, count(*) AS cnt
             FROM a1 a JOIN n n2 USING (vec_id) GROUP BY 1),
      c1 AS (SELECT p.cell,
                    CASE WHEN m.cnt IS NULL THEN p.cv
                         ELSE list_transform(range(64), kk ->
                           list_reduce(list_transform(m.vs, v -> v[(kk + 1)::INT]), (a, b) -> a + b) / m.cnt)
                    END AS cv
             FROM c0 p LEFT JOIN m1 m USING (cell)),
      ${kmAssignCte("a2", "c1")},
      j AS (SELECT a.vec_id, a.cell, a.dist, n2.v, n2.nrm
            FROM a2 a JOIN n n2 USING (vec_id)),
      cand AS (SELECT x.vec_id, y.vec_id AS cand_id,
                      list_reduce(list_transform(range(1, 65), i -> x.v[i::INT] * y.v[i::INT]),
                                  (p, q) -> p + q)
                        / (sqrt(x.nrm) * sqrt(y.nrm)) AS cand_cos
               FROM j x JOIN j y ON x.cell = y.cell
                AND (y.dist > x.dist OR (y.dist = x.dist AND y.vec_id < x.vec_id))),
      d AS (SELECT vec_id, cand_id AS dup_of, cand_cos AS dup_cosine FROM cand
            WHERE cand_cos >= 0.35
            QUALIFY row_number() OVER (PARTITION BY vec_id
                                       ORDER BY cand_cos DESC, cand_id) = 1)
      SELECT a.vec_id, a.cell,
             CASE WHEN d.dup_of IS NULL THEN 1 ELSE 0 END AS keep,
             d.dup_of, d.dup_cosine
      FROM a2 a LEFT JOIN d USING (vec_id)
    """

  /** SemDeDup semantic dedup (SemDedup scaladoc): k-means cells from
    * the SAME deterministic Lloyd loop as kmeans_cells, then each
    * vector is absorbed by its most-similar same-cell neighbor that
    * sits FARTHER from the centroid (cosine ≥ 0.35 — the
    * dedup_embedding threshold on this synthetic geometry; the paper
    * uses ~0.95 on real CLIP embeddings). Oracle replays the full
    * chain: Lloyd, dominance pairs, argmax attribution.
    *
    * k = 8 is pinned for the oracle and measured QUADRATIC at 10×
    * data (1.4 → 5.9 s sf0.1 → sf1, BENCH_SF1_r6) — kept as the
    * labeled fixed-parameter baseline next to `semantic_dedup_scaled`
    * (k = 32, the k ∝ n knob, NOTES_r6), the same baseline/scale-arm
    * pairing as knn_graph / knn_graph_bucketed.
    */
  val semanticDedupQ: Q = Q(
    "semantic_dedup",
    (s, dir) => graft.llm.SemDedup.semanticDedup(Tables.embeddings(s, dir),
      "vec_id", "embedding", k = 8, iters = 1, tau = 0.35),
    Some(semanticDedupSql(8))
  )

  /** The SemDeDup scale arm: k = 32 cells (constant expected
    * occupancy ~n/k as the corpus grows — the paper's own regime, k =
    * 50k on LAION-440M). Pair space Σ cell² shrinks ~4× vs k = 8;
    * same oracle chain with the bigger seed set.
    */
  val semanticDedupScaledQ: Q = Q(
    "semantic_dedup_scaled",
    (s, dir) => graft.llm.SemDedup.semanticDedup(Tables.embeddings(s, dir),
      "vec_id", "embedding", k = 32, iters = 1, tau = 0.35),
    Some(semanticDedupSql(32))
  )

  /** Semantic decontamination — the embedding-space member of the
    * decontam family (decontam_overlap / decontam_bloom are n-gram
    * exact-match; paraphrased leakage defeats them, which is why
    * published pipelines add an embedding-similarity screen): flag
    * every TRAIN vector whose cosine to some EVAL vector reaches τ
    * (0.25 here — the p99 of the same-label null distribution on this
    * synthetic geometry is 0.28, so the flag means "well above
    * chance"; real CLIP/text-embedding screens run ~0.9), with the
    * most-similar eval attribution. Blocked by the label
    * cell like dedup_embedding (at 100 TB the block comes from
    * kmeansCells / LSH — the same Σ cell² bound); eval is the
    * corpus-standard `vec_id % 40 = 0` slice, so eval-side size is
    * benchmark-like (~2.5 %). One equi-join on the block key,
    * (ids, cosine) projection through the exchange, per-train argmax
    * as WindowGroupLimit.
    */
  val decontamSemanticQ: Q = Q(
    "decontam_semantic",
    (s, dir) => {
      val base = Similarity.withNorm(
        Tables.embeddings(s, dir).select(col("vec_id"), col("label"),
          Similarity.toDoubleVec(col("embedding")).as("v")), "v")
      val eval_ = base.filter(col("vec_id") % 40 === 0)
      val train = base.filter(col("vec_id") % 40 =!= 0)
      val scored = train.as("t").join(eval_.as("e"),
          col("t.label") === col("e.label"))
        .select(col("t.vec_id").as("train_id"), col("e.vec_id").as("eval_id"),
          (Similarity.dot(col("t.v"), col("e.v")) /
            (sqrt(col("t.__norm")) * sqrt(col("e.__norm")))).as("cosine"))
        .filter(col("cosine") >= 0.25)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("train_id").orderBy(col("cosine").desc, col("eval_id"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("train_id", "eval_id", "cosine")
    },
    Some("""
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (SELECT vec_id, label, v,
                   list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm
            FROM e),
      p AS (SELECT t.vec_id AS train_id, q.vec_id AS eval_id,
                   list_reduce(list_transform(range(1, 65), i -> t.v[i::INT] * q.v[i::INT]),
                               (x, y) -> x + y)
                     / (sqrt(t.nrm) * sqrt(q.nrm)) AS cosine
            FROM n t JOIN n q ON t.label = q.label
             AND t.vec_id % 40 <> 0 AND q.vec_id % 40 = 0)
      SELECT train_id, eval_id, cosine FROM p
      WHERE cosine >= 0.25
      QUALIFY row_number() OVER (PARTITION BY train_id
                                 ORDER BY cosine DESC, eval_id) = 1
    """)
  )

  /** Int8-quantized cosine top-5 (FAISS SQ8 shape): per-vector
    * symmetric scalar quantization, cosine over the integer codes
    * (scales cancel in the ratio). Integer dot products are exact in
    * doubles, so the scores — and the full ranking — are
    * oracle-verifiable bit-for-bit; recall vs the exact `cosine_topk`
    * ranking is asserted in SimilaritySpec.
    */
  val quantizedTopK: Q = Q(
    "quantized_topk",
    (s, dir) => Similarity.bruteTopK(
        Similarity.quantizeInt8(Tables.embeddings(s, dir), "vec_id", "embedding"),
        "vec_id", "qvec", col("id") % 40 === 0, k = 5)
      .withColumnRenamed("cosine", "qcosine"),
    Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      sc AS (SELECT vec_id, v,
                    greatest(list_max(list_transform(v, y -> abs(y))), 1e-30)
                      / 127.0 AS s
             FROM e),
      qv AS (SELECT vec_id, list_transform(v, x -> floor(x / s + 0.5)) AS q
             FROM sc),
      n AS (SELECT vec_id, q,
                   list_reduce(list_transform(q, x -> x * x), (a, b) -> a + b) AS nrm
            FROM qv),
      qq AS (SELECT vec_id AS query_id, q AS qvq, nrm AS qn FROM n
             WHERE vec_id % 40 = 0),
      s2 AS (SELECT query_id, t.vec_id AS neighbor_id,
                    list_reduce(list_transform(range(1, 65), i -> qvq[i::INT] * t.q[i::INT]),
                                (a, b) -> a + b)
                      / (sqrt(qn) * sqrt(t.nrm)) AS qcosine
             FROM qq JOIN n t ON t.vec_id <> qq.query_id)
      SELECT query_id, neighbor_id, qcosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY qcosine DESC, neighbor_id) AS rank
      FROM s2 QUALIFY rank <= 5
    """)
  )

  /** k-NN edge list within label blocks: every vector's top-3 cosine
    * neighbors in its cell — the graph that seeds near-dup clustering
    * and diversity sampling. Pair space block-bounded (Σ cell²) as in
    * dedup_embedding; per-source top-k plans as WindowGroupLimit. At
    * 100 TB the block key comes from kmeansCells/LSH instead of the
    * label.
    */
  val knnGraphQ: Q = Q(
    "knn_graph",
    (s, dir) => Similarity.knnGraph(Tables.embeddings(s, dir),
      "vec_id", "embedding", "label", k = 3),
    Some("""
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (SELECT vec_id, label, v,
                   list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm
            FROM e),
      s AS (SELECT a.vec_id AS src, b.vec_id AS dst,
                   list_reduce(list_transform(range(1, 65), i -> a.v[i::INT] * b.v[i::INT]),
                               (x, y) -> x + y)
                     / (sqrt(a.nrm) * sqrt(b.nrm)) AS cosine
            FROM n a JOIN n b ON a.label = b.label AND a.vec_id <> b.vec_id)
      SELECT src, dst, cosine,
             row_number() OVER (PARTITION BY src
                                ORDER BY cosine DESC, dst) AS rank
      FROM s QUALIFY rank <= 3
    """)
  )

  /** k-NN graph with LSH-refined blocks — the scale path the
    * `knn_graph` scaladoc promises, made real: block = label + a
    * 3-bit group-0 sign bucket (`Similarity.refineBlock`), so the
    * per-block pair space shrinks ~8× and STAYS bounded as the corpus
    * grows (bits grow with log₂(corpus); a fixed 10-label vocabulary
    * makes Σ cell² quadratic — `knn_graph` measured 8.6× for 10× data
    * on the r5 sf1 slice). Measured at sf1 (NOTES_r5, interleaved
    * arms): 10.2 → 1.1 s (9.6×) at 3 bits, mean edge cosine 0.337 vs
    * 0.389 optimal (87%), strict edge agreement 0.24 — the blocking
    * tradeoff is geometry-dependent, and this synthetic corpus is
    * near-adversarial for sign-LSH (top-3 neighbors average only
    * cos 0.39, i.e. ~67° apart, so one hyperplane cuts a true pair
    * with p ≈ 0.37); real embedding corpora whose near-neighbors sit
    * at cos ≥ 0.9 keep the large majority of edges at the same
    * speedup. Buckets are md5-planes ⇒ full DuckDB oracle.
    */
  val knnGraphBucketed: Q = Q(
    "knn_graph_bucketed",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val blk = Similarity.refineBlock(col("label"), col("embedding"), bits = 3)
      Similarity.knnGraph(emb.withColumn("blk", blk), "vec_id", "embedding", "blk", k = 3)
    },
    Some("""
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (SELECT vec_id, label, v,
                   list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm
            FROM e),
      pl AS (SELECT g, p,
                    list_transform(range(64), d ->
                      ('0x' || substr(md5(g::VARCHAR || ':' || p::VARCHAR || ':' || d::VARCHAR), 1, 8))::BIGINT
                        / 4294967296.0 - 0.5) AS plane
             FROM range(1) rg(g) CROSS JOIN range(3) rp(p)),
      bkt AS (SELECT vec_id,
                     sum(CASE WHEN list_reduce(list_transform(range(1, 65), i -> v[i::INT] * plane[i::INT]),
                                               (a, b) -> a + b) > 0
                              THEN (1::BIGINT << p::INT) ELSE 0 END)::BIGINT AS bucket
              FROM n CROSS JOIN pl GROUP BY 1),
      b2 AS (SELECT n.vec_id, n.label::VARCHAR || ':' || bkt.bucket::VARCHAR AS blk, n.v, n.nrm
             FROM n JOIN bkt ON n.vec_id = bkt.vec_id),
      s AS (SELECT a.vec_id AS src, b.vec_id AS dst,
                   list_reduce(list_transform(range(1, 65), i -> a.v[i::INT] * b.v[i::INT]),
                               (x, y) -> x + y)
                     / (sqrt(a.nrm) * sqrt(b.nrm)) AS cosine
            FROM b2 a JOIN b2 b ON a.blk = b.blk AND a.vec_id <> b.vec_id)
      SELECT src, dst, cosine,
             row_number() OVER (PARTITION BY src
                                ORDER BY cosine DESC, dst) AS rank
      FROM s QUALIFY rank <= 3
    """)
  )

  /** Contrastive hard negatives: top-5 most-similar DIFFERENT-label
    * vectors per query — exact-scoring baseline (as cosine_topk); LSH/
    * IVF candidate generation is the scale path.
    */
  val hardNegativesQ: Q = Q(
    "hard_negatives",
    (s, dir) => Similarity.hardNegatives(Tables.embeddings(s, dir),
      "vec_id", "embedding", "label", col("id") % 40 === 0, k = 5),
    Some("""
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (SELECT vec_id, label, v,
                   list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm
            FROM e),
      q AS (SELECT vec_id AS query_id, label AS qlbl, v AS qv, nrm AS qn
            FROM n WHERE vec_id % 40 = 0),
      s AS (SELECT query_id, t.vec_id AS neighbor_id,
                   list_reduce(list_transform(range(1, 65), i -> qv[i::INT] * t.v[i::INT]),
                               (a, b) -> a + b)
                     / (sqrt(qn) * sqrt(t.nrm)) AS cosine
            FROM q JOIN n t ON t.label <> q.qlbl)
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM s QUALIFY rank <= 5
    """)
  )

  /** k-NN majority-vote label propagation: queries (sampled out of
    * the labeled set) take the modal label of their 5 nearest labeled
    * neighbors; vote ties to the smallest label. The semi-supervised
    * labeling pass over an embedded corpus.
    */
  val knnClassifyQ: Q = Q(
    "knn_classify",
    (s, dir) => Similarity.knnClassify(Tables.embeddings(s, dir),
      "vec_id", "embedding", "label", col("id") % 40 === 0, k = 5),
    Some("""
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (SELECT vec_id, label, v,
                   list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm
            FROM e),
      q AS (SELECT vec_id AS query_id, label AS true_label, v AS qv, nrm AS qn
            FROM n WHERE vec_id % 40 = 0),
      r AS (SELECT * FROM n WHERE NOT (vec_id % 40 = 0)),
      s AS (SELECT query_id, true_label, t.vec_id AS neighbor_id, t.label AS nlbl,
                   list_reduce(list_transform(range(1, 65), i -> qv[i::INT] * t.v[i::INT]),
                               (a, b) -> a + b)
                     / (sqrt(qn) * sqrt(t.nrm)) AS cosine
            FROM q JOIN r t ON t.vec_id <> q.query_id),
      rk AS (SELECT * FROM (
               SELECT *, row_number() OVER (PARTITION BY query_id
                                            ORDER BY cosine DESC, neighbor_id) AS rank
               FROM s) WHERE rank <= 5),
      v AS (SELECT query_id, true_label, nlbl, count(*) AS votes
            FROM rk GROUP BY 1, 2, 3)
      SELECT query_id, nlbl AS predicted_label, votes, true_label,
             nlbl = true_label AS correct
      FROM v
      QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, nlbl) = 1
    """)
  )

  /** Oracle CTE: sparse (id, term_hash, tf) rows over documents —
    * TextHash.h32 term hashing, tokenTopK tokenization convention.
    */
  private val sparseTfCte = """
      t AS (
        SELECT doc_id AS id,
               ('0x' || substr(md5(tok), 1, 8))::BIGINT AS term,
               count(*) AS tf
        FROM (SELECT doc_id,
                     unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
              FROM documents)
        GROUP BY 1, 2)"""

  /** Feature hashing (hashing trick): vocabulary folded into 64
    * buckets, sparse (id, bucket, tf) output — a fixed-width text
    * embedding with zero model dependencies, map-side + one groupBy.
    */
  val hashedTfQ: Q = Q(
    "hashed_tf",
    (s, dir) => Sparse.hashedTf(Tables.documents(s, dir), "doc_id", "text", dim = 64),
    Some(s"""
      WITH $sparseTfCte
      SELECT id, term % 64 AS bucket, CAST(sum(tf) AS BIGINT) AS tf
      FROM t GROUP BY 1, 2
    """)
  )

  /** Inverted-index sparse cosine join: all document pairs ≥ 0.8
    * cosine over df-pruned tf vectors. Pair space = Σ_term df² after
    * pruning (terms in > max(64, n_docs/10) docs dropped —
    * corpus-relative stopword cap), never |n|²; BIGINT dots/norms,
    * one double ratio at the edge.
    */
  val sparseCosineQ: Q = Q(
    "sparse_cosine_pairs",
    (s, dir) => Sparse.sparseCosinePairs(Tables.documents(s, dir), "doc_id", "text",
      tau = 0.8, minDfCap = 64, dfDenom = 10),
    Some(s"""
      WITH $sparseTfCte,
      p AS (SELECT id, term, tf FROM (
              SELECT *, count(*) OVER (PARTITION BY term) AS df FROM t)
            WHERE df <= greatest(64, (SELECT count(DISTINCT doc_id) FROM documents) // 10)),
      n AS (SELECT id, sum(tf * tf) AS n2 FROM p GROUP BY 1),
      d AS (SELECT a.id AS id_a, b.id AS id_b, sum(a.tf * b.tf) AS dot
            FROM p a JOIN p b ON a.term = b.term AND a.id < b.id
            GROUP BY 1, 2)
      SELECT id_a, id_b,
             CAST(dot AS DOUBLE)
               / (sqrt(CAST(n2a AS DOUBLE)) * sqrt(CAST(n2b AS DOUBLE))) AS cosine
      FROM d
      JOIN (SELECT id AS id_a, n2 AS n2a FROM n) USING (id_a)
      JOIN (SELECT id AS id_b, n2 AS n2b FROM n) USING (id_b)
      WHERE CAST(dot AS DOUBLE)
              / (sqrt(CAST(n2a AS DOUBLE)) * sqrt(CAST(n2b AS DOUBLE))) >= 0.8
    """)
  )

  /** One-pass 64×64 Gram matrix over the embedding corpus (PCA/
    * whitening input). Map-side upper-triangle expand collapses to
    * ≤ 2 080 cells per partition before the shuffle; DECIMAL-exact
    * summation (EmbeddingStats doc).
    */
  val embeddingGram: Q = Q(
    "embedding_gram",
    (s, dir) => EmbeddingStats.gram(Tables.embeddings(s, dir), "embedding", dim = 64),
    Some("""
      WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      p AS (SELECT i, j,
                   floor(v[(i + 1)::INT] * v[(j + 1)::INT] * 1e12 + 0.5)::BIGINT AS p
            FROM e CROSS JOIN range(64) r(i) CROSS JOIN range(64) s(j)
            WHERE j >= i)
      SELECT i::INT AS i, j::INT AS j,
             CAST(CAST(sum(p) AS BIGINT) AS DOUBLE) / 1e12 AS s,
             count(*) AS n
      FROM p GROUP BY 1, 2
    """)
  )

  /** The power-iteration loop unrolled in SQL: per iteration, a
    * matvec against the Gram row lists, then L2 normalization — every
    * fold a `list_reduce` in the same ascending order as the engine's
    * driver loop.
    */
  private def pcaCtes(iters: Int): String = {
    val sb = new StringBuilder(
      """
      WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      p AS MATERIALIZED (
        SELECT i, j, floor(v[(i + 1)::INT] * v[(j + 1)::INT] * 1e12 + 0.5)::BIGINT AS p
        FROM e CROSS JOIN range(64) r(i) CROSS JOIN range(64) s(j)),
      gm AS MATERIALIZED (
        SELECT i, list(CAST(CAST(sum_p AS BIGINT) AS DOUBLE) / 1e12 ORDER BY j) AS grow
        FROM (SELECT i, j, sum(p) AS sum_p FROM p GROUP BY 1, 2) GROUP BY i),
      it0 AS MATERIALIZED (SELECT list_transform(range(64), x -> 1.0) AS v)""")
    for (n <- 1 to iters) sb.append(s""",
      w$n AS MATERIALIZED (
        SELECT i, list_reduce(list_transform(range(1, 65),
          j -> grow[j::INT] * pv[j::INT]), (a, b) -> a + b) AS wi
        FROM gm CROSS JOIN (SELECT v AS pv FROM it${n - 1}) prev),
      l$n AS MATERIALIZED (SELECT list(wi ORDER BY i) AS l FROM w$n),
      it$n AS MATERIALIZED (
        SELECT list_transform(l, x ->
          x / sqrt(list_reduce(list_transform(l, y -> y * y), (a, b) -> a + b))) AS v
        FROM l$n)""")
    sb.toString
  }

  private val PcaIters = 40

  /** First principal component scores over the embedding table: the
    * Gram accumulator (embedding_gram) collapses 100 TB of vectors to
    * a 64×64 integer matrix, fixed-count power iteration runs on the
    * driver, and the scores are one shuffle-free projection pass. The
    * oracle rebuilds the Gram AND replays all 40 iterations in SQL —
    * agreement proves the whole chain bit-for-bit. 40 iterations
    * leave ~1.2% Rayleigh residual on this embedding table (the
    * eigengap is small; measured 5.2% @ 12 / 1.2% @ 40 / 0.06% @ 80 —
    * EmbeddingStatsSpec pins the bound).
    */
  val pcaProjectQ: Q = Q(
    "pca_project",
    (s, dir) => EmbeddingStats.pcaProject(Tables.embeddings(s, dir),
      "vec_id", "embedding", dim = 64, iters = PcaIters),
    Some(pcaCtes(PcaIters) + s"""
      SELECT e.vec_id,
             list_reduce(list_transform(range(1, 65),
               d -> f.v[d::INT] * e.v[d::INT]), (a, b) -> a + b) AS pc1
      FROM e CROSS JOIN it$PcaIters f
    """)
  )

  /** Johnson–Lindenstrauss projection 64 → 16: md5-derived plane
    * rows (the LSH trick keeping raw dot values), one row per
    * projected coordinate. The dimensionality-reduction pre-pass of
    * the ANN family; distance-ratio preservation is measured in
    * EmbeddingStatsSpec on seeded data (not testdata geometry).
    */
  val rpProjectQ: Q = Q(
    "rp_project",
    (s, dir) => EmbeddingStats.randomProject(Tables.embeddings(s, dir),
      "vec_id", "embedding", dim = 64, outDim = 16),
    Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      pl AS (SELECT p, list_transform(range(64), d ->
               ('0x' || substr(md5('0:' || p::VARCHAR || ':' || d::VARCHAR), 1, 8))::BIGINT
                 / 4294967296.0 - 0.5) AS plane
             FROM (SELECT unnest(range(16)) AS p))
      SELECT vec_id, p + 1 AS j,
             list_reduce(list_transform(range(1, 65),
               i -> v[i::INT] * plane[i::INT]), (a, b) -> a + b) AS y
      FROM e CROSS JOIN pl
    """)
  )

  /** Per-subspace PQ oracle chain for subspace `s` (16 dims, 16
    * codes, one Lloyd update) — the kmeans_cells replay specialized
    * to the subvector slice, ending in `cd$s` = each vector's decoded
    * centroid for that subspace.
    */
  private def pqSubCtes(s: Int): String = {
    val lo = s * 16 + 1
    val hi = s * 16 + 16
    s"""
      n$s AS (SELECT vec_id, v[$lo:$hi] AS vs,
                     list_reduce(list_transform(v[$lo:$hi], x -> x * x), (a, b) -> a + b) AS nrm
              FROM e),
      c0$s AS (SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS code, vs AS cv
               FROM n$s QUALIFY row_number() OVER (ORDER BY vec_id) <= 16),
      a1$s AS (SELECT vec_id, code FROM (
                 SELECT n.vec_id, c.code,
                        n.nrm + list_reduce(list_transform(c.cv, x -> x * x), (a, b) -> a + b)
                          - 2 * list_reduce(list_transform(range(1, 17), i -> n.vs[i::INT] * c.cv[i::INT]), (a, b) -> a + b) AS dist
                 FROM n$s n CROSS JOIN c0$s c) t
               QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, code) = 1),
      m1$s AS (SELECT a.code, list(n2.vs ORDER BY n2.vec_id) AS vss, count(*) AS cnt
               FROM a1$s a JOIN n$s n2 USING (vec_id) GROUP BY 1),
      c1$s AS (SELECT p.code,
                      CASE WHEN mm.cnt IS NULL THEN p.cv
                           ELSE list_transform(range(16), kk ->
                             list_reduce(list_transform(mm.vss, vv -> vv[(kk + 1)::INT]), (a, b) -> a + b) / mm.cnt)
                      END AS cv
               FROM c0$s p LEFT JOIN m1$s mm USING (code)),
      a2$s AS (SELECT vec_id, code FROM (
                 SELECT n.vec_id, c.code,
                        n.nrm + list_reduce(list_transform(c.cv, x -> x * x), (a, b) -> a + b)
                          - 2 * list_reduce(list_transform(range(1, 17), i -> n.vs[i::INT] * c.cv[i::INT]), (a, b) -> a + b) AS dist
                 FROM n$s n CROSS JOIN c1$s c) t
               QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, code) = 1),
      cd$s AS (SELECT a.vec_id, c.cv FROM a2$s a JOIN c1$s c USING (code))"""
  }

  /** Per-subspace ADC term: ‖q_s − decoded centroid‖² as the same
    * sequential fold the engine runs.
    */
  private def pqAdcTerm(s: Int): String = {
    val off = s * 16
    s"""list_reduce(list_transform(range(1, 17),
        i -> (q.v[(i + $off)::INT] - x$s.cv[i::INT]) * (q.v[(i + $off)::INT] - x$s.cv[i::INT])),
        (a, b) -> a + b)"""
  }

  /** Product quantization top-5 (4 subspaces × 16 codes, one Lloyd
    * update each, asymmetric distance): the oracle replays all four
    * codebook trainings, the encoding, and the ADC scan end to end.
    */
  val pqTopkQ: Q = Q(
    "pq_topk",
    (s, dir) => Pq.pqTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
      col("id") % 40 === 0, k = 5),
    Some(s"""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      ${pqSubCtes(0)},
      ${pqSubCtes(1)},
      ${pqSubCtes(2)},
      ${pqSubCtes(3)},
      q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id % 40 = 0),
      pair AS (
        SELECT q.query_id, x0.vec_id AS neighbor_id,
               (((${pqAdcTerm(0)}
                + ${pqAdcTerm(1)})
                + ${pqAdcTerm(2)})
                + ${pqAdcTerm(3)}) AS adist
        FROM q CROSS JOIN cd0 x0
             JOIN cd1 x1 ON x1.vec_id = x0.vec_id
             JOIN cd2 x2 ON x2.vec_id = x0.vec_id
             JOIN cd3 x3 ON x3.vec_id = x0.vec_id
        WHERE x0.vec_id <> q.query_id)
      SELECT query_id, neighbor_id, adist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adist, neighbor_id) AS rank
      FROM pair QUALIFY rank <= 5
    """)
  )

  /** Shared BM25 oracle CTE chain (inverted index + per-term
    * micro-quantized contributions + per-query ranking) — reused by
    * the plain top-k query and the RRF hybrid. Every double op is
    * written with the association of Retrieval.bm25TopK; the 1.2
    * literal is CAST to DOUBLE (Registry decimal-literal pitfall);
    * the df cap compares exact integers (df·100 ≤ N·95).
    */
  private def bm25Ctes(k: Int): String = s"""
      WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
        FROM documents),
      tf AS (SELECT doc_id, t AS token, count(*) AS tf
             FROM (SELECT doc_id, unnest(ws) AS t FROM toks) GROUP BY 1, 2),
      dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
      dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
      qt AS (SELECT doc_id AS query_id, unnest(list_distinct(ws[1:6])) AS token
             FROM toks WHERE doc_id % 40 = 0),
      hit AS (
        SELECT qt.query_id, tf.doc_id,
               floor((ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                 * (tf * (CAST(1.2 AS DOUBLE) + 1.0))
                 / (tf + CAST(1.2 AS DOUBLE)
                    * (1.0 - 0.75 + 0.75 * dl
                       / (CAST(sum_dl AS DOUBLE) / n_docs)))) * 1e6 + 0.5
                 )::BIGINT AS contrib
        FROM qt JOIN tf USING (token)
             JOIN dl ON tf.doc_id = dl.doc_id
             JOIN dfq ON tf.token = dfq.token
             CROSS JOIN st
        WHERE tf.doc_id <> qt.query_id AND df * 100 <= n_docs * 95),
      sc AS (SELECT query_id, doc_id, CAST(sum(contrib) AS BIGINT) AS score_micro
             FROM hit GROUP BY 1, 2),
      bm AS (
        SELECT query_id, doc_id, score_micro,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score_micro DESC, doc_id) AS rank
        FROM sc QUALIFY rank <= $k)"""

  /** BM25 over the impact-truncated index (top-256 postings per term
    * by the precomputed contribution): the measured scale arm next to
    * bm25_topk's exact baseline — on this saturated 31-word
    * vocabulary the exact join is quadratic (queries ∝ N and every
    * df ∝ N; 9→96 s at 30× docs), truncation bounds per-query work at
    * terms × 256 at any corpus size. Agreement with exact is
    * regime-dependent and measured in Retrieval.bm25TopKPruned's doc:
    * 0.83 on a Zipf vocabulary (the real-world case, spec-asserted),
    * 0.06 on this all-stopword worst case — both arms ship so the
    * choice is informed.
    */
  val bm25PrunedQ: Q = Q(
    "bm25_pruned",
    (s, dir) => Retrieval.bm25TopKPruned(Tables.documents(s, dir), "doc_id",
      "text", col("doc_id") % 40 === 0, k = 5, maxPostings = 256),
    Some(bm25PrunedCtes(5) + """
      SELECT query_id, doc_id, score_micro, rank FROM bm
    """)
  )

  /** Shared impact-truncated BM25 oracle chain, ending at
    * `bm(query_id, doc_id, score_micro, rank ≤ k)` — reused by
    * bm25_pruned and the scaled RRF hybrid.
    */
  private def bm25PrunedCtes(k: Int): String = s"""
      WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
        FROM documents),
      tf AS (SELECT doc_id, t AS token, count(*) AS tf
             FROM (SELECT doc_id, unnest(ws) AS t FROM toks) GROUP BY 1, 2),
      dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
      dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
      hit0 AS (
        SELECT tf.token, tf.doc_id,
               floor((ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                 * (tf * (CAST(1.2 AS DOUBLE) + 1.0))
                 / (tf + CAST(1.2 AS DOUBLE)
                    * (1.0 - 0.75 + 0.75 * dl
                       / (CAST(sum_dl AS DOUBLE) / n_docs)))) * 1e6 + 0.5
                 )::BIGINT AS contrib
        FROM tf JOIN dl ON tf.doc_id = dl.doc_id
             JOIN dfq ON tf.token = dfq.token
             CROSS JOIN st),
      tr AS (SELECT token, doc_id, contrib FROM (
               SELECT token, doc_id, contrib,
                      row_number() OVER (PARTITION BY token
                                         ORDER BY contrib DESC, doc_id) AS imp
               FROM hit0) WHERE imp <= 256),
      qt AS (SELECT doc_id AS query_id, unnest(list_distinct(ws[1:6])) AS token
             FROM toks WHERE doc_id % 40 = 0),
      hit AS (
        SELECT qt.query_id, tr.doc_id, tr.contrib
        FROM qt JOIN tr USING (token)
        WHERE tr.doc_id <> qt.query_id),
      sc AS (SELECT query_id, doc_id, CAST(sum(contrib) AS BIGINT) AS score_micro
             FROM hit GROUP BY 1, 2),
      bm AS (
        SELECT query_id, doc_id, score_micro,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score_micro DESC, doc_id) AS rank
        FROM sc QUALIFY rank <= $k)"""

  /** Okapi BM25 top-5 retrieval: query = first 6 distinct tokens of
    * every 40th document, ranked against the rest of the corpus
    * through the inverted-index join (Retrieval.bm25TopK).
    */
  val bm25Q: Q = Q(
    "bm25_topk",
    (s, dir) => Retrieval.bm25TopK(Tables.documents(s, dir), "doc_id", "text",
      col("doc_id") % 40 === 0, k = 5),
    Some(bm25Ctes(5) + """
      SELECT query_id, doc_id, score_micro, rank FROM bm
    """)
  )

  /** Hybrid retrieval: BM25 top-20 (lexical) fused with brute cosine
    * top-20 (dense, same query ids — the paired-corpus convention of
    * decontam_semantic: document i's embedding is vec i) by exact
    * integer reciprocal-rank fusion, top-10 per query. The fusion
    * stage itself never touches floating point (1e9 div (60+rank)
    * summed as longs), so the fused ranking is engine- and
    * partitioning-independent by construction.
    */
  val rrfHybridQ: Q = Q(
    "rrf_hybrid",
    (s, dir) => {
      val lex = Retrieval.bm25TopK(Tables.documents(s, dir), "doc_id", "text",
        col("doc_id") % 40 === 0, k = 20)
        .select("query_id", "doc_id", "rank")
      val dense = Similarity.bruteTopK(Tables.embeddings(s, dir), "vec_id",
        "embedding", col("id") % 40 === 0, k = 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(Seq(lex, dense), k = 10)
    },
    Some(bm25Ctes(20) + """,
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      nn AS (SELECT vec_id, v,
                    list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm
             FROM e),
      qv AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM nn WHERE vec_id % 40 = 0),
      cs0 AS (SELECT query_id, t.vec_id AS doc_id,
                     list_reduce(list_transform(range(1, 65), i -> qv[i::INT] * t.v[i::INT]),
                                 (a, b) -> a + b)
                       / (sqrt(qn) * sqrt(t.nrm)) AS cosine
              FROM qv JOIN nn t ON t.vec_id <> qv.query_id),
      cs AS (SELECT query_id, doc_id,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, doc_id) AS rank
             FROM cs0 QUALIFY rank <= 20),
      u AS (SELECT query_id, doc_id, 1000000000 // (60 + rank) AS contrib FROM bm
            UNION ALL
            SELECT query_id, doc_id, 1000000000 // (60 + rank) FROM cs),
      f AS (SELECT query_id, doc_id, CAST(sum(contrib) AS BIGINT) AS rrf_nano
            FROM u GROUP BY 1, 2)
      SELECT query_id, doc_id, rrf_nano,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY rrf_nano DESC, doc_id) AS rank
      FROM f QUALIFY rank <= 10
    """)
  )

  /** Scaled RRF hybrid — the same fusion recipe with BOTH input arms
    * swapped for their measured scale forms: lexical = the
    * impact-truncated index (per-query work ≤ terms × 256 postings
    * at any corpus size, vs the exact join's quadratic growth on
    * this saturated vocabulary), dense = bucketed sign-LSH (16
    * groups × 6 bits, candidate space = matching buckets only, vs
    * brute's all-pairs). rrf_hybrid keeps the exact-baseline
    * composition next to this arm so the quality delta of the
    * approximate candidates is always measurable; the fusion stage
    * itself is identical exact-integer arithmetic in both.
    */
  val rrfHybridScaledQ: Q = Q(
    "rrf_hybrid_scaled",
    (s, dir) => {
      val lex = Retrieval.bm25TopKPruned(Tables.documents(s, dir), "doc_id",
        "text", col("doc_id") % 40 === 0, k = 20, maxPostings = 256)
        .select("query_id", "doc_id", "rank")
      val dense = Similarity.lshTopK(Tables.embeddings(s, dir), "vec_id",
        "embedding", col("id") % 40 === 0, k = 20,
        Similarity.md5Planes(dim = 64, groups = 16, bitsPerGroup = 6))
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(Seq(lex, dense), k = 10)
    },
    Some(bm25PrunedCtes(20) + """,
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (SELECT vec_id, v,
                   list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm
            FROM e),
      pl AS (SELECT g, p,
                    list_transform(range(64), d ->
                      ('0x' || substr(md5(g::VARCHAR || ':' || p::VARCHAR || ':' || d::VARCHAR), 1, 8))::BIGINT
                        / 4294967296.0 - 0.5) AS plane
             FROM range(16) rg(g) CROSS JOIN range(6) rp(p)),
      bkt AS (SELECT vec_id, g,
                     sum(CASE WHEN list_reduce(list_transform(range(1, 65), i -> v[i::INT] * plane[i::INT]),
                                               (a, b) -> a + b) > 0
                              THEN (1::BIGINT << p::INT) ELSE 0 END)::BIGINT AS bucket
              FROM n CROSS JOIN pl GROUP BY 1, 2),
      q AS (SELECT vec_id AS query_id, g, bucket FROM bkt WHERE vec_id % 40 = 0),
      cand AS (SELECT DISTINCT q.query_id, t.vec_id AS neighbor_id
               FROM q JOIN bkt t ON q.g = t.g AND q.bucket = t.bucket
                AND t.vec_id <> q.query_id),
      cs0 AS (SELECT c.query_id, c.neighbor_id,
                     list_reduce(list_transform(range(1, 65), i -> a.v[i::INT] * b.v[i::INT]), (x, y) -> x + y)
                       / (sqrt(a.nrm) * sqrt(b.nrm)) AS cosine
              FROM cand c
              JOIN n a ON a.vec_id = c.query_id
              JOIN n b ON b.vec_id = c.neighbor_id),
      cs AS (SELECT query_id, neighbor_id AS doc_id,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rank
             FROM cs0 QUALIFY rank <= 20),
      u AS (SELECT query_id, doc_id, 1000000000 // (60 + rank) AS contrib FROM bm
            UNION ALL
            SELECT query_id, doc_id, 1000000000 // (60 + rank) FROM cs),
      f AS (SELECT query_id, doc_id, CAST(sum(contrib) AS BIGINT) AS rrf_nano
            FROM u GROUP BY 1, 2)
      SELECT query_id, doc_id, rrf_nano,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY rrf_nano DESC, doc_id) AS rank
      FROM f QUALIFY rank <= 10
    """)
  )

  /** Shared labeled-LSH-candidate oracle chain ending at
    * `cand(query_id, qlbl, neighbor_id, nlbl, cosine)` —
    * hard_negatives_scaled / knn_classify_scaled. `neighborFilter` is
    * an extra predicate on the corpus side (e.g. exclude the query
    * sample), "" for none.
    */
  private def labeledLshCtes(neighborFilter: String): String = s"""
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (SELECT vec_id, label, v,
                   list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm
            FROM e),
      pl AS (SELECT g, p,
                    list_transform(range(64), d ->
                      ('0x' || substr(md5(g::VARCHAR || ':' || p::VARCHAR || ':' || d::VARCHAR), 1, 8))::BIGINT
                        / 4294967296.0 - 0.5) AS plane
             FROM range(16) rg(g) CROSS JOIN range(6) rp(p)),
      bkt AS (SELECT vec_id, g,
                     sum(CASE WHEN list_reduce(list_transform(range(1, 65), i -> v[i::INT] * plane[i::INT]),
                                               (a, b) -> a + b) > 0
                              THEN (1::BIGINT << p::INT) ELSE 0 END)::BIGINT AS bucket
              FROM n CROSS JOIN pl GROUP BY 1, 2),
      nb AS (SELECT n.vec_id, n.label, bkt.g, bkt.bucket
             FROM n JOIN bkt ON n.vec_id = bkt.vec_id),
      qs AS (SELECT vec_id AS query_id, label AS qlbl, g, bucket
             FROM nb WHERE vec_id % 40 = 0),
      c0 AS (SELECT DISTINCT qs.query_id, qs.qlbl, t.vec_id AS neighbor_id, t.label AS nlbl
             FROM qs JOIN nb t ON qs.g = t.g AND qs.bucket = t.bucket
              AND t.vec_id <> qs.query_id $neighborFilter),
      cand AS (SELECT c0.query_id, c0.qlbl, c0.neighbor_id, c0.nlbl,
                      list_reduce(list_transform(range(1, 65), i -> a.v[i::INT] * b.v[i::INT]), (x, z) -> x + z)
                        / (sqrt(a.nrm) * sqrt(b.nrm)) AS cosine
               FROM c0 JOIN n a ON a.vec_id = c0.query_id
                       JOIN n b ON b.vec_id = c0.neighbor_id)"""

  /** hard_negatives' scale arm: negatives generated from LSH buckets
    * (candidate must share a bucket with the query) instead of the
    * all-pairs different-label join — 5.5× at sf1 flagged the exact
    * form as the largest label-family grower.
    */
  val hardNegativesScaledQ: Q = Q(
    "hard_negatives_scaled",
    (s, dir) => Similarity.hardNegativesBucketed(Tables.embeddings(s, dir),
      "vec_id", "embedding", "label", col("id") % 40 === 0, k = 5,
      Similarity.md5Planes(dim = 64, groups = 16, bitsPerGroup = 6)),
    Some(labeledLshCtes("") + """
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM cand WHERE nlbl <> qlbl
      QUALIFY rank <= 5
    """)
  )

  /** knn_classify's scale arm: the same majority vote over top-5
    * labeled neighbors, candidates bucket-generated (corpus side
    * excludes the query sample, as in the exact form).
    */
  val knnClassifyScaledQ: Q = Q(
    "knn_classify_scaled",
    (s, dir) => Similarity.knnClassifyBucketed(Tables.embeddings(s, dir),
      "vec_id", "embedding", "label", col("id") % 40 === 0, k = 5,
      Similarity.md5Planes(dim = 64, groups = 16, bitsPerGroup = 6)),
    Some(labeledLshCtes("AND NOT (t.vec_id % 40 = 0)") + """,
      rk AS (SELECT * FROM (
               SELECT cand.*, row_number() OVER (PARTITION BY query_id
                                                 ORDER BY cosine DESC, neighbor_id) AS rank
               FROM cand) WHERE rank <= 5),
      v AS (SELECT query_id, qlbl AS true_label, nlbl, count(*) AS votes
            FROM rk GROUP BY 1, 2, 3)
      SELECT query_id, nlbl AS predicted_label, votes, true_label,
             nlbl = true_label AS correct
      FROM v
      QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, nlbl) = 1
    """)
  )

  /** Binary-quantization ANN (Similarity.hammingRerankTopK scaladoc):
    * 2×32 sign bits per vector (8-byte index, 32× smaller than the
    * floats), brute XOR+popcount Hamming prefilter to a shortlist of
    * 64, exact cosine rerank — the 1-bit point of the compression
    * family next to int8/PQ/JL. The 63-bit shift a 1×64 packing would
    * need overflows DuckDB's BIGINT, so both engines pack 2×32.
    */
  val annHammingRerankQ: Q = Q(
    "ann_hamming_rerank",
    (s, dir) => Similarity.hammingRerankTopK(Tables.embeddings(s, dir),
      "vec_id", "embedding", col("id") % 40 === 0, k = 5, shortlist = 64),
    Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (SELECT vec_id, v,
                   list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm
            FROM e),
      pl AS (SELECT g, p,
                    list_transform(range(64), d ->
                      ('0x' || substr(md5(g::VARCHAR || ':' || p::VARCHAR || ':' || d::VARCHAR), 1, 8))::BIGINT
                        / 4294967296.0 - 0.5) AS plane
             FROM range(2) rg(g) CROSS JOIN range(32) rp(p)),
      bk AS (SELECT vec_id, g,
                    sum(CASE WHEN list_reduce(list_transform(range(1, 65), i -> v[i::INT] * plane[i::INT]),
                                              (a, b) -> a + b) > 0
                             THEN (1::BIGINT << p::INT) ELSE 0 END)::BIGINT AS b
             FROM e CROSS JOIN pl GROUP BY 1, 2),
      sk AS (SELECT vec_id, max(CASE WHEN g = 0 THEN b END) AS s1,
                    max(CASE WHEN g = 1 THEN b END) AS s2
             FROM bk GROUP BY 1),
      q AS (SELECT vec_id AS query_id, s1 AS q1, s2 AS q2 FROM sk WHERE vec_id % 40 = 0),
      h AS (SELECT q.query_id, t.vec_id AS neighbor_id,
                   (bit_count(xor(q.q1, t.s1)) + bit_count(xor(q.q2, t.s2)))::BIGINT AS hamming
            FROM q JOIN sk t ON t.vec_id <> q.query_id),
      sh AS (SELECT * FROM (
               SELECT h.*, row_number() OVER (PARTITION BY query_id
                                              ORDER BY hamming, neighbor_id) AS hrn
               FROM h) WHERE hrn <= 64),
      sc AS (SELECT sh.query_id, sh.neighbor_id, sh.hamming,
                    list_reduce(list_transform(range(1, 65), i -> a.v[i::INT] * b.v[i::INT]), (x, z) -> x + z)
                      / (sqrt(a.nrm) * sqrt(b.nrm)) AS cosine
             FROM sh JOIN n a ON a.vec_id = sh.query_id
                     JOIN n b ON b.vec_id = sh.neighbor_id)
      SELECT query_id, neighbor_id, hamming, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM sc QUALIFY rank <= 5
    """)
  )

  /** The binary code in its funnel slot
    * (Similarity.hammingRerankBucketedTopK): buckets generate,
    * 2×32-bit sketches select (24-byte candidate rows), exact cosine
    * scores the shortlist.
    */
  val annHammingScaledQ: Q = Q(
    "ann_hamming_scaled",
    (s, dir) => Similarity.hammingRerankBucketedTopK(Tables.embeddings(s, dir),
      "vec_id", "embedding", col("id") % 40 === 0, k = 5,
      Similarity.md5Planes(dim = 64, groups = 16, bitsPerGroup = 6),
      shortlist = 64),
    Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (SELECT vec_id, v,
                   list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm
            FROM e),
      pl AS (SELECT g, p,
                    list_transform(range(64), d ->
                      ('0x' || substr(md5(g::VARCHAR || ':' || p::VARCHAR || ':' || d::VARCHAR), 1, 8))::BIGINT
                        / 4294967296.0 - 0.5) AS plane
             FROM range(16) rg(g) CROSS JOIN range(6) rp(p)),
      bkt AS (SELECT vec_id, g,
                     sum(CASE WHEN list_reduce(list_transform(range(1, 65), i -> v[i::INT] * plane[i::INT]),
                                               (a, b) -> a + b) > 0
                              THEN (1::BIGINT << p::INT) ELSE 0 END)::BIGINT AS bucket
              FROM e CROSS JOIN pl GROUP BY 1, 2),
      spl AS (SELECT g, p,
                     list_transform(range(64), d ->
                       ('0x' || substr(md5(g::VARCHAR || ':' || p::VARCHAR || ':' || d::VARCHAR), 1, 8))::BIGINT
                         / 4294967296.0 - 0.5) AS plane
              FROM range(2) rg(g) CROSS JOIN range(32) rp(p)),
      sbk AS (SELECT vec_id, g,
                     sum(CASE WHEN list_reduce(list_transform(range(1, 65), i -> v[i::INT] * plane[i::INT]),
                                               (a, b) -> a + b) > 0
                              THEN (1::BIGINT << p::INT) ELSE 0 END)::BIGINT AS b
              FROM e CROSS JOIN spl GROUP BY 1, 2),
      sk AS (SELECT vec_id, max(CASE WHEN g = 0 THEN b END) AS s1,
                    max(CASE WHEN g = 1 THEN b END) AS s2
             FROM sbk GROUP BY 1),
      qb AS (SELECT vec_id AS query_id, g, bucket FROM bkt WHERE vec_id % 40 = 0),
      cand AS (SELECT DISTINCT qb.query_id, t.vec_id AS neighbor_id
               FROM qb JOIN bkt t ON qb.g = t.g AND qb.bucket = t.bucket
                AND t.vec_id <> qb.query_id),
      h AS (SELECT c.query_id, c.neighbor_id,
                   (bit_count(xor(a.s1, b.s1)) + bit_count(xor(a.s2, b.s2)))::BIGINT AS hamming
            FROM cand c JOIN sk a ON a.vec_id = c.query_id
                        JOIN sk b ON b.vec_id = c.neighbor_id),
      sh AS (SELECT query_id, neighbor_id, hamming FROM (
               SELECT h.*, row_number() OVER (PARTITION BY query_id
                                              ORDER BY hamming, neighbor_id) AS srn
               FROM h) WHERE srn <= 64),
      sc AS (SELECT sh.query_id, sh.neighbor_id, sh.hamming,
                    list_reduce(list_transform(range(1, 65), i -> a.v[i::INT] * b.v[i::INT]), (x, z) -> x + z)
                      / (sqrt(a.nrm) * sqrt(b.nrm)) AS cosine
             FROM sh JOIN n a ON a.vec_id = sh.query_id
                     JOIN n b ON b.vec_id = sh.neighbor_id)
      SELECT query_id, neighbor_id, hamming, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM sc QUALIFY rank <= 5
    """)
  )

  /** ann_rp_rerank's scale form — the full FAISS-style funnel (LSH
    * buckets generate candidates, 16-d JL projection picks the
    * shortlist, exact cosine scores only the shortlist). The labeled
    * baseline `ann_rp_rerank` keeps the all-pairs prefilter next to
    * this arm (22.8× at sf1 — candidate space is queries×corpus even
    * though each candidate is 4× cheaper); here candidate volume is
    * bucket-bounded, so the whole funnel inherits the LSH occupancy
    * law. Returned scores remain EXACT in both forms.
    */
  val annRpRerankScaledQ: Q = Q(
    "ann_rp_rerank_scaled",
    (s, dir) => Similarity.rpRerankBucketedTopK(Tables.embeddings(s, dir),
      "vec_id", "embedding", col("id") % 40 === 0, k = 5,
      Similarity.md5Planes(dim = 64, groups = 16, bitsPerGroup = 6),
      rpOutDim = 16, shortlist = 64),
    Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (SELECT vec_id, v,
                   list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm
            FROM e),
      pl AS (SELECT g, p,
                    list_transform(range(64), d ->
                      ('0x' || substr(md5(g::VARCHAR || ':' || p::VARCHAR || ':' || d::VARCHAR), 1, 8))::BIGINT
                        / 4294967296.0 - 0.5) AS plane
             FROM range(16) rg(g) CROSS JOIN range(6) rp(p)),
      bkt AS (SELECT vec_id, g,
                     sum(CASE WHEN list_reduce(list_transform(range(1, 65), i -> v[i::INT] * plane[i::INT]),
                                               (a, b) -> a + b) > 0
                              THEN (1::BIGINT << p::INT) ELSE 0 END)::BIGINT AS bucket
              FROM e CROSS JOIN pl GROUP BY 1, 2),
      rpl AS (SELECT p, list_transform(range(64), d ->
                ('0x' || substr(md5('0:' || p::VARCHAR || ':' || d::VARCHAR), 1, 8))::BIGINT
                  / 4294967296.0 - 0.5) AS plane
              FROM (SELECT unnest(range(16)) AS p)),
      yj AS (SELECT vec_id, p,
                    list_reduce(list_transform(range(1, 65), i -> v[i::INT] * plane[i::INT]), (a, b) -> a + b) AS yv
             FROM e CROSS JOIN rpl),
      ya AS (SELECT vec_id, list(yv ORDER BY p) AS y FROM yj GROUP BY 1),
      qb AS (SELECT vec_id AS query_id, g, bucket FROM bkt WHERE vec_id % 40 = 0),
      cand AS (SELECT DISTINCT qb.query_id, t.vec_id AS neighbor_id
               FROM qb JOIN bkt t ON qb.g = t.g AND qb.bucket = t.bucket
                AND t.vec_id <> qb.query_id),
      d AS (SELECT c.query_id, c.neighbor_id,
                   list_reduce(list_transform(range(1, 17),
                     i -> (a.y[i::INT] - b.y[i::INT]) * (a.y[i::INT] - b.y[i::INT])),
                     (x, z) -> x + z) AS d2
            FROM cand c JOIN ya a ON a.vec_id = c.query_id
                        JOIN ya b ON b.vec_id = c.neighbor_id),
      sh AS (SELECT query_id, neighbor_id FROM (
               SELECT d.*, row_number() OVER (PARTITION BY query_id
                                              ORDER BY d2, neighbor_id) AS srn
               FROM d) WHERE srn <= 64),
      sc AS (SELECT sh.query_id, sh.neighbor_id,
                    list_reduce(list_transform(range(1, 65), i -> a.v[i::INT] * b.v[i::INT]), (x, z) -> x + z)
                      / (sqrt(a.nrm) * sqrt(b.nrm)) AS cosine
             FROM sh JOIN n a ON a.vec_id = sh.query_id
                     JOIN n b ON b.vec_id = sh.neighbor_id)
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM sc QUALIFY rank <= 5
    """)
  )

  /** Shared oracle CTEs for the persisted-index ANN family: vectors
    * with norms and the 90/10 md5-deviate split (u < 0.9 = "old" =
    * indexed corpus, u ≥ 0.9 = "new" = probe batch — the
    * dedup_stream_index convention), 16×6 sign buckets over ALL
    * vectors, then the candidate equi-join of new-side probes against
    * old-side index rows.
    */
  private def annIndexCtes: String = """
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   ('0x' || substr(md5('split:' || vec_id::VARCHAR), 1, 8))::BIGINT
                     / 4294967296.0 AS u
            FROM embeddings),
      n AS (SELECT vec_id, v,
                   list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm
            FROM e),
      pl AS (SELECT g, p,
                    list_transform(range(64), d ->
                      ('0x' || substr(md5(g::VARCHAR || ':' || p::VARCHAR || ':' || d::VARCHAR), 1, 8))::BIGINT
                        / 4294967296.0 - 0.5) AS plane
             FROM range(16) rg(g) CROSS JOIN range(6) rp(p)),
      bkt AS (SELECT vec_id, g,
                     sum(CASE WHEN list_reduce(list_transform(range(1, 65), i -> v[i::INT] * plane[i::INT]),
                                               (a, b) -> a + b) > 0
                              THEN (1::BIGINT << p::INT) ELSE 0 END)::BIGINT AS bucket
              FROM e CROSS JOIN pl GROUP BY 1, 2),
      qb AS (SELECT b.vec_id AS query_id, b.g, b.bucket
             FROM bkt b JOIN e ON e.vec_id = b.vec_id WHERE e.u >= 0.9),
      ib AS (SELECT b.vec_id AS corpus_id, b.g, b.bucket
             FROM bkt b JOIN e ON e.vec_id = b.vec_id WHERE e.u < 0.9),
      cand AS (SELECT DISTINCT query_id, corpus_id
               FROM qb JOIN ib ON qb.g = ib.g AND qb.bucket = ib.bucket
                AND ib.corpus_id <> qb.query_id)"""

  /** The streaming ANN shape as a batch-anchored query (the
    * dedup_stream_index treatment for [[graft.stream.StreamAnn]]):
    * the newest ~10% of vectors (the "stream") probe a sign-LSH
    * bucket index built ONLY from the old 90% (the persisted index —
    * StreamAnn.bucketIndex = AnnIndex.build), via the SAME operator
    * the stream runs (StreamAnn.matches; StreamAnnSpec pins stream ==
    * this batch path). Threshold emission (cosine ≥ 0.3, inside this
    * corpus's cross-split cosine range — a rank window is illegal on
    * an unaggregated stream), cross-group multiplicity collapsed by
    * distinct over bit-identical rows.
    */
  val annStreamIndexQ: Q = Q(
    "ann_stream_index",
    (s, dir) => {
      val emb = graft.llm.Sampling.withSplit(Tables.embeddings(s, dir),
        "vec_id", Seq("old" -> 0.9, "new" -> 0.1))
      val planes = Similarity.md5Planes(dim = 64, groups = 16, bitsPerGroup = 6)
      val (buckets, vectors) = graft.stream.StreamAnn.bucketIndex(
        emb.filter(col("split") === "old"), "vec_id", "embedding", planes)
      graft.stream.StreamAnn.matches(emb.filter(col("split") === "new"),
          buckets, vectors, "vec_id", "embedding", planes, minCosine = 0.3)
        .select(col("id").as("delta_id"), col("corpus_id"), col("cosine"))
        .distinct()
    },
    Some(s"""
      WITH $annIndexCtes
      SELECT c.query_id AS delta_id, c.corpus_id,
             list_reduce(list_transform(range(1, 65), i -> a.v[i::INT] * b.v[i::INT]), (x, z) -> x + z)
               / (sqrt(a.nrm) * sqrt(b.nrm)) AS cosine
      FROM cand c JOIN n a ON a.vec_id = c.query_id
                  JOIN n b ON b.vec_id = c.corpus_id
      WHERE list_reduce(list_transform(range(1, 65), i -> a.v[i::INT] * b.v[i::INT]), (x, z) -> x + z)
              / (sqrt(a.nrm) * sqrt(b.nrm)) >= 0.3
    """)
  )

  /** Build-once/probe-many ANN (AnnIndex.topK): the same 90/10 split,
    * but top-5 exact-cosine rank against the persisted index — the
    * batch probe surface whose bit-equality to the monolithic lshTopK
    * AnnIndexSpec pins (the index amortizes corpus bucketing across
    * query batches; NOTES_r8 / SCALE_DECADES_r8 record the curve).
    */
  val annIndexTopkQ: Q = Q(
    "ann_index_topk",
    (s, dir) => {
      val emb = graft.llm.Sampling.withSplit(Tables.embeddings(s, dir),
        "vec_id", Seq("old" -> 0.9, "new" -> 0.1))
      val planes = Similarity.md5Planes(dim = 64, groups = 16, bitsPerGroup = 6)
      val (buckets, vectors) = AnnIndex.build(
        emb.filter(col("split") === "old"), "vec_id", "embedding", planes)
      AnnIndex.topK(buckets, vectors, emb.filter(col("split") === "new"),
        "vec_id", "embedding", planes, k = 5)
    },
    Some(s"""
      WITH $annIndexCtes
      SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT c.query_id, c.corpus_id AS neighbor_id,
               list_reduce(list_transform(range(1, 65), i -> a.v[i::INT] * b.v[i::INT]), (x, z) -> x + z)
                 / (sqrt(a.nrm) * sqrt(b.nrm)) AS cosine,
               row_number() OVER (PARTITION BY c.query_id
                                  ORDER BY list_reduce(list_transform(range(1, 65), i -> a.v[i::INT] * b.v[i::INT]), (x, z) -> x + z)
                                             / (sqrt(a.nrm) * sqrt(b.nrm)) DESC,
                                           c.corpus_id) AS rank
        FROM cand c JOIN n a ON a.vec_id = c.query_id
                    JOIN n b ON b.vec_id = c.corpus_id)
      WHERE rank <= 5
    """)
  )

  /** The binary-sketch funnel against the persisted hamming index
    * (AnnIndex.buildHamming / hammingTopK): persisted buckets carry
    * the 2×32-bit sketch so the SELECT stage reads it off the
    * candidate row; exact cosine reranks the shortlist.
    */
  val annIndexHammingQ: Q = Q(
    "ann_index_hamming",
    (s, dir) => {
      val emb = graft.llm.Sampling.withSplit(Tables.embeddings(s, dir),
        "vec_id", Seq("old" -> 0.9, "new" -> 0.1))
      val planes = Similarity.md5Planes(dim = 64, groups = 16, bitsPerGroup = 6)
      val (buckets, vectors) = AnnIndex.buildHamming(
        emb.filter(col("split") === "old"), "vec_id", "embedding", planes)
      AnnIndex.hammingTopK(buckets, vectors, emb.filter(col("split") === "new"),
        "vec_id", "embedding", planes, k = 5, shortlist = 64)
    },
    Some(s"""
      WITH $annIndexCtes,
      spl AS (SELECT g, p,
                     list_transform(range(64), d ->
                       ('0x' || substr(md5(g::VARCHAR || ':' || p::VARCHAR || ':' || d::VARCHAR), 1, 8))::BIGINT
                         / 4294967296.0 - 0.5) AS plane
              FROM range(2) rg(g) CROSS JOIN range(32) rp(p)),
      sbk AS (SELECT vec_id, g,
                     sum(CASE WHEN list_reduce(list_transform(range(1, 65), i -> v[i::INT] * plane[i::INT]),
                                               (a, b) -> a + b) > 0
                              THEN (1::BIGINT << p::INT) ELSE 0 END)::BIGINT AS b
              FROM e CROSS JOIN spl GROUP BY 1, 2),
      sk AS (SELECT vec_id, max(CASE WHEN g = 0 THEN b END) AS s1,
                    max(CASE WHEN g = 1 THEN b END) AS s2
             FROM sbk GROUP BY 1),
      h AS (SELECT c.query_id, c.corpus_id AS neighbor_id,
                   (bit_count(xor(a.s1, b.s1)) + bit_count(xor(a.s2, b.s2)))::BIGINT AS hamming
            FROM cand c JOIN sk a ON a.vec_id = c.query_id
                        JOIN sk b ON b.vec_id = c.corpus_id),
      sh AS (SELECT query_id, neighbor_id, hamming FROM (
               SELECT h.*, row_number() OVER (PARTITION BY query_id
                                              ORDER BY hamming, neighbor_id) AS srn
               FROM h) WHERE srn <= 64),
      sc AS (SELECT sh.query_id, sh.neighbor_id, sh.hamming,
                    list_reduce(list_transform(range(1, 65), i -> a.v[i::INT] * b.v[i::INT]), (x, z) -> x + z)
                      / (sqrt(a.nrm) * sqrt(b.nrm)) AS cosine
             FROM sh JOIN n a ON a.vec_id = sh.query_id
                     JOIN n b ON b.vec_id = sh.neighbor_id)
      SELECT query_id, neighbor_id, hamming, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM sc QUALIFY rank <= 5
    """)
  )

  /** Exact maximum-inner-product top-5 for the sampled queries — the
    * two-tower retrieval objective (raw dot, no normalization: the
    * learned item norm is part of the score). Brute baseline of the
    * MIPS pair; same sampled-query × corpus shape as `cosine_topk`.
    */
  val mipsTopkQ: Q = Q(
    "mips_topk",
    (s, dir) => Similarity.mipsTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
      col("id") % 40 === 0, k = 5),
    Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 40 = 0),
      s AS (SELECT query_id, t.vec_id AS neighbor_id,
                   list_reduce(list_transform(range(1, 65), i -> qv[i::INT] * t.v[i::INT]),
                               (a, b) -> a + b) AS dot
            FROM q JOIN e t ON t.vec_id <> q.query_id)
      SELECT query_id, neighbor_id, dot,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dot DESC, neighbor_id) AS rank
      FROM s QUALIFY rank <= 5
    """)
  )

  /** MIPS at scale: sign-LSH over one-dimension-LIFTED vectors
    * (corpus `x̂ = [x, sqrt(m²−‖x‖²)]`, query `q̂ = [q, 0]` — the
    * Bachrach/Neyshabur–Srebro reduction that turns inner-product
    * order into angular order so LSH buckets apply), candidates from
    * shared lifted buckets, exact dot verify. Planes are md5-derived
    * at dim 65 ⇒ the oracle restates every double; recall vs
    * `mips_topk` is asserted in SimilaritySpec.
    */
  val mipsLshQ: Q = Q(
    "mips_lsh_topk",
    (s, dir) => Similarity.mipsLshTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
      col("id") % 40 === 0, k = 5,
      Similarity.md5Planes(dim = 65, groups = 16, bitsPerGroup = 6)),
    Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (SELECT vec_id, v,
                   list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm
            FROM e),
      m AS (SELECT max(nrm) AS m2 FROM n),
      a AS (SELECT vec_id, v,
                   list_append(v, sqrt(greatest(CAST(0 AS DOUBLE), m2 - nrm))) AS vh,
                   list_append(v, CAST(0 AS DOUBLE)) AS qh
            FROM n CROSS JOIN m),
      pl AS (SELECT g, p,
                    list_transform(range(65), d ->
                      ('0x' || substr(md5(g::VARCHAR || ':' || p::VARCHAR || ':' || d::VARCHAR), 1, 8))::BIGINT
                        / 4294967296.0 - 0.5) AS plane
             FROM range(16) rg(g) CROSS JOIN range(6) rp(p)),
      bkt AS (SELECT vec_id, g,
                     sum(CASE WHEN list_reduce(list_transform(range(1, 66), i -> vh[i::INT] * plane[i::INT]),
                                               (x, y) -> x + y) > 0
                              THEN (1::BIGINT << p::INT) ELSE 0 END)::BIGINT AS bucket
              FROM a CROSS JOIN pl GROUP BY 1, 2),
      qbkt AS (SELECT vec_id, g,
                      sum(CASE WHEN list_reduce(list_transform(range(1, 66), i -> qh[i::INT] * plane[i::INT]),
                                                (x, y) -> x + y) > 0
                               THEN (1::BIGINT << p::INT) ELSE 0 END)::BIGINT AS bucket
               FROM a CROSS JOIN pl WHERE vec_id % 40 = 0 GROUP BY 1, 2),
      cand AS (SELECT DISTINCT q.vec_id AS query_id, t.vec_id AS neighbor_id
               FROM qbkt q JOIN bkt t ON q.g = t.g AND q.bucket = t.bucket
                AND t.vec_id <> q.vec_id),
      s AS (SELECT c.query_id, c.neighbor_id,
                   list_reduce(list_transform(range(1, 65), i -> qa.v[i::INT] * tb.v[i::INT]),
                               (x, y) -> x + y) AS dot
            FROM cand c
            JOIN e qa ON qa.vec_id = c.query_id
            JOIN e tb ON tb.vec_id = c.neighbor_id)
      SELECT query_id, neighbor_id, dot,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dot DESC, neighbor_id) AS rank
      FROM s QUALIFY rank <= 5
    """)
  )

  /** The MEASURED-better MIPS arm as its own full oracle: 16×10
    * lifted buckets + 10 Hamming-1 probes — the r12 sweep
    * (SCALE_DECADES_r12 `mips_lift_occupancy_law`) shows this beats
    * the 16×6 form on BOTH axes at the 200k-corpus decade (6.5 s /
    * recall 0.850 vs 7.4 s / 0.795): finer buckets hold occupancy as
    * the corpus grows, probes buy the recall back query-side. Same
    * lift, same fold restatement; probe masks XOR in SQL.
    */
  val mipsLshMultiprobeQ: Q = Q(
    "mips_lsh_multiprobe",
    (s, dir) => Similarity.mipsLshTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
      col("id") % 40 === 0, k = 5,
      Similarity.md5Planes(dim = 65, groups = 16, bitsPerGroup = 10), probes = 10),
    Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (SELECT vec_id, v,
                   list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm
            FROM e),
      m AS (SELECT max(nrm) AS m2 FROM n),
      a AS (SELECT vec_id, v,
                   list_append(v, sqrt(greatest(CAST(0 AS DOUBLE), m2 - nrm))) AS vh,
                   list_append(v, CAST(0 AS DOUBLE)) AS qh
            FROM n CROSS JOIN m),
      pl AS (SELECT g, p,
                    list_transform(range(65), d ->
                      ('0x' || substr(md5(g::VARCHAR || ':' || p::VARCHAR || ':' || d::VARCHAR), 1, 8))::BIGINT
                        / 4294967296.0 - 0.5) AS plane
             FROM range(16) rg(g) CROSS JOIN range(10) rp(p)),
      bkt AS (SELECT vec_id, g,
                     sum(CASE WHEN list_reduce(list_transform(range(1, 66), i -> vh[i::INT] * plane[i::INT]),
                                               (x, y) -> x + y) > 0
                              THEN (1::BIGINT << p::INT) ELSE 0 END)::BIGINT AS bucket
              FROM a CROSS JOIN pl GROUP BY 1, 2),
      qb AS (SELECT vec_id, g,
                    sum(CASE WHEN list_reduce(list_transform(range(1, 66), i -> qh[i::INT] * plane[i::INT]),
                                              (x, y) -> x + y) > 0
                             THEN (1::BIGINT << p::INT) ELSE 0 END)::BIGINT AS bucket
             FROM a CROSS JOIN pl WHERE vec_id % 40 = 0 GROUP BY 1, 2),
      q AS (SELECT vec_id, g,
                   xor(bucket, CASE WHEN j = 0 THEN 0::BIGINT
                                    ELSE (1::BIGINT << (j - 1)::INT) END) AS bucket
            FROM qb CROSS JOIN range(11) rf(j)),
      cand AS (SELECT DISTINCT q.vec_id AS query_id, t.vec_id AS neighbor_id
               FROM q JOIN bkt t ON q.g = t.g AND q.bucket = t.bucket
                AND t.vec_id <> q.vec_id),
      s AS (SELECT c.query_id, c.neighbor_id,
                   list_reduce(list_transform(range(1, 65), i -> qa.v[i::INT] * tb.v[i::INT]),
                               (x, y) -> x + y) AS dot
            FROM cand c
            JOIN e qa ON qa.vec_id = c.query_id
            JOIN e tb ON tb.vec_id = c.neighbor_id)
      SELECT query_id, neighbor_id, dot,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dot DESC, neighbor_id) AS rank
      FROM s QUALIFY rank <= 5
    """)
  )

  /** Ranking-quality eval harness over the exact top-5 (label
    * agreement as relevance): per-query hits@5 / first-relevant rank
    * / reciprocal rank / precision@5 — the metric layer the
    * ANN-vs-brute recall specs compute ad hoc, as a first-class
    * oracled operator any `(query_id, neighbor_id, rank)` output can
    * feed (Retrieval.rankingEval is generator-generic).
    */
  val retrievalEvalQ: Q = Q(
    "retrieval_eval",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Retrieval.rankingEval(
        Similarity.bruteTopK(emb, "vec_id", "embedding", col("id") % 40 === 0, k = 5),
        emb, "vec_id", "label", k = 5)
    },
    Some("""
      WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (SELECT vec_id, v,
                   list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm
            FROM e),
      q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id % 40 = 0),
      s AS (SELECT query_id, t.vec_id AS neighbor_id,
                   list_reduce(list_transform(range(1, 65), i -> qv[i::INT] * t.v[i::INT]),
                               (a, b) -> a + b)
                     / (sqrt(qn) * sqrt(t.nrm)) AS cosine
            FROM q JOIN n t ON t.vec_id <> q.query_id),
      tk AS (SELECT query_id, neighbor_id, rank FROM (
               SELECT query_id, neighbor_id,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, neighbor_id) AS rank
               FROM s) WHERE rank <= 5),
      lab AS (SELECT vec_id, label FROM embeddings),
      r AS (SELECT t.query_id, t.rank, (ql.label = nl.label) AS rel
            FROM tk t JOIN lab ql ON ql.vec_id = t.query_id
                      JOIN lab nl ON nl.vec_id = t.neighbor_id)
      SELECT query_id,
             sum(CASE WHEN rel THEN 1 ELSE 0 END)::BIGINT AS n_rel,
             CAST(min(CASE WHEN rel THEN rank END) AS BIGINT) AS first_rel_rank,
             coalesce(CAST(1 AS DOUBLE) / min(CASE WHEN rel THEN rank END),
                      CAST(0 AS DOUBLE)) AS rr,
             CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END) AS DOUBLE) / 5 AS precision_at_k
      FROM r GROUP BY 1
    """)
  )

  val all: Seq[Q] = Seq(dedupExact, dedupMinhash, dedupContainment, dedupClusters,
    dedupIncremental, dedupStreamIndex,
    dedupSimhash, dedupEmbedding, ngramJaccard, cosineTopK, annLsh,
    annLshMultiprobe, annIvf,
    annIvfMultiprobe, embeddingCentroid, langId, textQuality, tokenCount,
    charEntropyQ,
    docFingerprint, multimodalFeatures, piiScrub, quantizedTopK, kmeansCellsQ,
    semanticDedupQ, semanticDedupScaledQ, decontamSemanticQ,
    knnGraphQ, knnGraphBucketed, hardNegativesQ, hardNegativesScaledQ,
    knnClassifyQ, knnClassifyScaledQ, hashedTfQ, sparseCosineQ,
    embeddingGram, pcaProjectQ, bm25Q, bm25PrunedQ, rrfHybridQ, rrfHybridScaledQ,
    rpProjectQ,
    pqTopkQ, annIvfPqQ, annIvfPqScaledQ, annRpRerankQ, annRpRerankScaledQ,
    annHammingRerankQ, annHammingScaledQ,
    annStreamIndexQ, annIndexTopkQ, annIndexHammingQ, annIvfScaledQ,
    annIndexIvfQ, semanticDedupIndexedQ, annIndexChurnQ, annIvfDeltaQ,
    mipsTopkQ, mipsLshQ, mipsLshMultiprobeQ, retrievalEvalQ)
}
