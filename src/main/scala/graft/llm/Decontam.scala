package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextHash._

/** Train/eval decontamination: flag training documents that share any
  * word n-gram with a held-out evaluation set — the published
  * benchmark-overlap filter (GPT-3 appendix C / PaLM style n-gram
  * collision; the reference pipeline has no curation stage, this
  * extends the engine's training-data surface).
  *
  * Scale design (100 TB): the held-out set is benchmark-sized (MBs,
  * not TBs), so its distinct gram-hash table is broadcast and the
  * training side never shuffles full text — each train document
  * explodes to (doc_id, gram_hash) pairs map-side, hits the broadcast
  * hash join, and only the surviving hits are aggregated (shuffle
  * keyed by doc_id, bounded by hit count, not corpus size). Gram
  * hashes are md5-derived 32-bit ([[TextHash.h32]]) so the DuckDB
  * oracle reproduces them bit-for-bit. For an eval set too large to
  * broadcast, swap the broadcast join for a bloom-filter pushdown on
  * gram_hash (`might_contain`, see RuntimeFilterSpec) followed by the
  * same exact join — contract unchanged.
  */
object Decontam {

  /** Distinct hashed word n-grams of `text`, in first-occurrence
    * order; documents shorter than `n` words yield an empty set. One
    * pass through the fused `wordgram_h32` kernel: per-gram md5 → hex
    * → conv through interpreted HOF lambdas measured ~3 s per corpus
    * pass at sf0.1 (OPTIMIZATION_r12). TextHashExpressionsSpec pins it
    * bit-for-bit to that HOF form.
    */
  def gramHashes(text: Column, n: Int): Column =
    call_function("wordgram_h32", words(text), lit(n), lit(""), lit(0L), lit(true))

  /** Within-corpus exact n-gram overlap pairs — the verbatim-span
    * dedup signal (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better": substring-level duplication that
    * MinHash's whole-document Jaccard misses). Two documents pair iff
    * they share ≥1 word n-gram; `n_shared` counts the distinct shared
    * grams (a proxy for shared-span length: a verbatim k-word span
    * contributes k−n+1 grams).
    *
    * Scale design (100 TB): the corpus explodes to (doc, gram_hash)
    * map-side; the only wide ops are one gram-keyed window (document
    * frequency) and the gram-keyed self-join. Grams in more than
    * `maxDf` documents are dropped BEFORE the join — they are
    * boilerplate (licenses, headers), and an uncapped hot gram
    * produces df² join rows; the cap bounds per-gram fanout at
    * maxDf² while true long-span duplicates still collide on their
    * rarer grams. Deterministic (df depends only on data) and
    * restated in the oracle.
    */
  def selfOverlapPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int, maxDf: Int = 64): DataFrame = {
    // No persist (function-scoped caches over lazily-returned plans
    // leak — Winnow.pairs note): the df-window and both self-join
    // sides all sit above the IDENTICAL scan→gram-hash→exchange(g)
    // subplan, so ReuseExchange materializes the gram shuffle once
    // and every consumer reads the same shuffle files — the md5 gram
    // hashing (the dominant map-side cost) still runs exactly once.
    val grams = df.select(col(idCol).as("doc_id"),
      explode(gramHashes(col(textCol), n)).as("g"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("g")
    // Static plan shows the subtree twice, but persisting LOSES here
    // (r12 interleaved A/B: persist 1.33 s vs recompute 1.03 s on
    // dup_ngram_pairs) — both sides shuffle at sf0.1 and AQE's
    // runtime ReuseExchange fires.
    val capped = grams.withColumn("__df", count(lit(1)).over(w))
      .filter(col("__df") <= maxDf)
      .drop("__df")
    capped.as("a").join(capped.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Maximal duplicated spans — the position-level half of Lee et
    * al.'s exact substring dedup that [[selfOverlapPairs]]'s
    * pair counts summarize away: for every document, the maximal word
    * runs (≥ n words) all of whose n-grams occur elsewhere in the
    * corpus (or earlier in the same document), EXCLUDING each gram's
    * corpus-first occurrence — "every duplicated substring survives
    * exactly once", the paper's semantics. A duplicated W-word
    * substring appears as W−n+1 consecutive removable gram positions,
    * so its island reconstructs the full span; overlapping duplicated
    * substrings merge into one span (as the paper's cut regions do).
    * Output `(doc_id, span_start, span_end, n_grams)`, 1-based
    * inclusive word positions. Production uses n≈50 tokens; the
    * driver query uses n=8 against the 10–99-word testdata docs.
    *
    * Scale design (100 TB): positioned grams explode map-side; the
    * occurrence count + first-occurrence key per gram is ONE
    * combiner-friendly aggregation (count + min — no per-gram rank
    * window, so a boilerplate gram with 10⁸ occurrences costs a
    * counter, not a single-task sort); the join back is gram-keyed;
    * island assembly is one doc-keyed window bounded by document
    * length. First-occurrence keys pack (doc_id, pos) into one
    * BIGINT — documented bounds doc_id < 2³¹, pos < 2³², far above
    * any real corpus document.
    *
    * CONTRACT: `idCol` must be non-null. Null-id rows are dropped at
    * the occurrence table (the null filters are load-bearing for the
    * exchange reuse below), so a null-id document neither reports
    * spans nor contributes its gram occurrences to other documents'
    * duplicate counts. Assign surrogate ids upstream if null-id text
    * must count.
    */
  def dupSpans(df: DataFrame, idCol: String, textCol: String,
               n: Int): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      words(col(textCol)).as("__ws"))
    // Ordered (non-distinct) gram-hash sequence; positions are the
    // 1-based array index.
    val gramSeq = call_function("wordgram_h32", col("__ws"), lit(n), lit(""),
      lit(0L), lit(false))
    // No persist (function-scoped caches over lazily-returned plans
    // leak — Winnow.pairs note). The occurrence table feeds both the
    // gram aggregate and the join-back, whose natural plans shuffle
    // it through two DIFFERENT exchanges (partial-agg rows vs raw
    // rows — no reuse, gram hashing twice). Pinning ONE explicit
    // hash-exchange on g makes both consumers sit above the
    // identical subplan: ReuseExchange materializes it once, the
    // aggregate runs post-shuffle (map-side combine traded away —
    // the hashing, not the combine, is the dominant cost), and the
    // g-keyed join needs no further shuffle on this side.
    // The explicit null filters are load-bearing for the reuse: the
    // join-back side would otherwise infer isnotnull(pos)/(doc_id)
    // that the aggregate side doesn't, and the asymmetry breaks the
    // subplans' canonical equality (verified in PlanSpec).
    val occ = toks.select(col("doc_id"),
        posexplode(gramSeq).as(Seq("pos0", "g")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
        col("g"))
      .filter(col("doc_id").isNotNull && col("pos").isNotNull &&
        col("g").isNotNull)
      .repartition(col("g"))
    val key = col("doc_id") * lit(4294967296L) + col("pos")
    val agg = occ.groupBy("g").agg(count(lit(1)).as("cnt"),
      min(key).as("firstk"))
    val dup = occ.join(agg, "g")
      .filter(col("cnt") >= 2 && key =!= col("firstk"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    dup.withColumn("grp",
        col("pos") - org.apache.spark.sql.functions.row_number().over(byDoc))
      .groupBy("doc_id", "grp")
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(n - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select("doc_id", "span_start", "span_end", "n_grams")
  }

  /** k double-hashed probe positions of gram hash `g` in an m-bit
    * bloom (m a power of two). Stride forced odd so the probe walk
    * cycles the whole table. `g` is 32-bit ([[TextHash.h32]]) and the
    * multiplier small, so no long overflow under ANSI mode.
    */
  private def bloomPositions(g: Column, mBits: Int, k: Int): Seq[Column] = {
    val stride = pmod(g * lit(1000003L), lit(mBits.toLong)).bitwiseOR(lit(1L))
    (0 until k).map(i => pmod(g + lit(i.toLong) * stride, lit(mBits.toLong)))
  }

  /** Bit `p` of the literal bitmap (array of m/64 longs). */
  private def bitSet(bitmap: Column, p: Column): Column =
    element_at(bitmap, (p / lit(64)).cast("int") + 1)
      .bitwiseAND(call_function("shiftleft", lit(1L), pmod(p, lit(64)).cast("int"))) =!= 0

  /** Distributed bloom build over a gram-hash column: each gram maps
    * to k (word, mask) pairs map-side; `bit_or` partial aggregation
    * collapses them to ≤ m/64 rows per partition before the single
    * tiny shuffle, and only the finished m/64-long bitmap reaches the
    * driver — KBs for millions of grams, independent of input size.
    */
  def bloomBuild(grams: DataFrame, gCol: String, mBits: Int, k: Int): Array[Long] = {
    require(mBits >= 64 && (mBits & (mBits - 1)) == 0, "mBits must be a power of two ≥ 64")
    val pos = array(bloomPositions(col(gCol), mBits, k): _*)
    val words = grams.select(explode(pos).as("p"))
      .select((col("p") / lit(64)).cast("int").as("w"),
        call_function("shiftleft", lit(1L), pmod(col("p"), lit(64)).cast("int")).as("m"))
      .groupBy("w").agg(bit_or(col("m")).as("m"))
      .collect()
    val arr = new Array[Long](mBits / 64)
    words.foreach(r => arr(r.getInt(0)) = r.getLong(1))
    arr
  }

  /** [[report]] for an eval set too large to broadcast as an exact
    * gram table: the banned grams are compressed into an m-bit bloom
    * (no false negatives), the corpus probes the bitmap map-side
    * (codegen'd bit tests against a literal array — zero shuffle,
    * zero broadcast-table memory), and only the surviving candidates
    * (true hits + the ~(1-e^{-kn/m})^k false-positive sliver) meet
    * the banned gram table in a shuffle join for the exact verify.
    * Candidates-then-verify: the result is bit-identical to
    * [[report]], so the oracle IS the exact SQL — only the data
    * volume that crosses the network changes.
    *
    * NOTE: construction is NOT lazy — building the bloom bitmap runs
    * a full Spark job over `heldout` before this method returns. The
    * materialized gram table is held as a local checkpoint (not a
    * registered cache entry), so repeated calls don't accumulate
    * partitions in the cache manager: the ContextCleaner reclaims the
    * blocks once the returned frame is unreferenced. At production
    * scale write the gram table to storage instead (the
    * selfOverlapPairs note) — a local checkpoint, like any cache, is
    * lost with its executor.
    */
  def bloomReport(train: DataFrame, heldout: DataFrame, idCol: String,
                  textCol: String, n: Int, mBits: Int = 1 << 20,
                  k: Int = 4): DataFrame = {
    // read twice (bloom build + exact verify join); eager so the
    // expensive gram explode+distinct runs once, lineage-free
    val banned = heldout
      .select(explode(gramHashes(col(textCol), n)).as("g")).distinct()
      .localCheckpoint(true)
    // DenseLit, not typedlit: the bitmap IS a dense long array, and
    // the boxed encoding re-serializes mBits/64 boxed longs into the
    // taskBinary per action — at the "too large to broadcast" eval
    // sizes this method exists for (mBits in the 2^27 range, millions
    // of longs) that alone costs seconds (the r11 encoding law,
    // DenseLit doc); the unsafe region is a memcpy at any width
    val bitmap = DenseLit.longs(bloomBuild(banned, "g", mBits, k))
    val trainG = train.select(col(idCol).as("doc_id"),
      gramHashes(col(textCol), n).as("grams"))
      .persist()
    val candidates = trainG
      .select(col("doc_id"), explode(col("grams")).as("g"))
      .filter(bloomPositions(col("g"), mBits, k).map(bitSet(bitmap, _)).reduce(_ && _))
    val overlap = candidates.join(banned, "g") // shuffle join: eval side not broadcastable by premise
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    trainG.join(overlap, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("grams")).as("n_grams"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("contaminated", col("n_overlap") > 0)
  }

  /** Per-train-document contamination report against `heldout`:
    * (doc_id, n_grams, n_overlap, contaminated). `n_overlap` counts
    * DISTINCT shared grams (gram sets are deduped per document).
    */
  def report(train: DataFrame, heldout: DataFrame, idCol: String,
             textCol: String, n: Int): DataFrame = {
    // trainG feeds the explode side AND the final left join, which
    // never share an exchange (one side is exploded before its
    // shuffle) — persist WINS 2x here (r12 interleaved A/B:
    // decontam_overlap 0.53 s vs 1.08 s; decontam_bloom 1.26 vs 1.36)
    val trainG = train.select(col(idCol).as("doc_id"),
      gramHashes(col(textCol), n).as("grams"))
      .persist()
    val banned = heldout
      .select(explode(gramHashes(col(textCol), n)).as("g")).distinct()
    val overlap = trainG.select(col("doc_id"), explode(col("grams")).as("g"))
      .join(broadcast(banned), "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    trainG.join(overlap, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("grams")).as("n_grams"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("contaminated", col("n_overlap") > 0)
  }
}
