package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextHash.words

/** Byte-pair-encoding tokenizer TRAINING and encoding (Sennrich,
  * Haddow, Birch 2016 — "Neural Machine Translation of Rare Words
  * with Subword Units"), the vocabulary-construction step every LLM
  * data pipeline runs before token counting and sequence packing.
  * (The reference has no tokenizer stage; this extends the engine's
  * training-data surface.)
  *
  * Representation: each distinct word is a space-delimited symbol
  * string (`"low"` → `" l o w"`). Applying a merge (a, b) is a LEFT
  * FOLD over the symbols: append each symbol, but when the
  * accumulator ends with token `a` (delimiter-checked) and the next
  * symbol is `b`, concatenate instead — greedy left-to-right
  * NON-OVERLAPPING merging, which is exactly the BPE rule including
  * adjacent repeats (`"aaaa"` under (a,a) → `aa aa`, not `aa a a` —
  * a plain string replace gets this wrong because the shared
  * delimiter of back-to-back matches is consumed by the first). The
  * freshly merged token can never false-trigger as a left partner in
  * the same pass: it equals `a+b`, and a delimiter-checked suffix
  * match of ` a` inside `a+b` would need a space inside a token.
  * The oracle restates the identical fold via `list_reduce`.
  *
  * Scale (100 TB): training never touches the corpus after the first
  * word count — iterations run on the DISTINCT-WORD table (Zipf:
  * orders of magnitude smaller than the corpus, the standard BPE
  * trick of weighting by word frequency). Each merge is one
  * pair-count aggregation (map-side partial) + a 1-row argmax to the
  * driver + a map-side fold; the word table is localCheckpointed per
  * iteration so lineage stays O(1) (the CC-loop pattern) — lazily, so
  * the next pair count materialises it instead of a job of its own.
  * Encoding joins the corpus against the trained word→token-count
  * dictionary — per-word work happens once per DISTINCT word, not per
  * occurrence.
  */
object Bpe {

  /** Trained state: the merge list (rank, a, b, weighted count at
    * selection) and the word table (word, cnt, s) with `s` the
    * fully-merged symbol string.
    */
  final case class BpeModel(merges: Seq[(Int, String, String, Long)],
                            wordTable: DataFrame)

  /** `" l o w"` spaced-symbol form of a word. Code-POINT split (the
    * lookbehind — see TextStats.charEntropy): a bare "" split halves
    * astral chars into surrogate pairs and diverges from the oracle's
    * code-point `string_split`.
    */
  def spaced(w: Column): Column =
    concat(lit(" "),
      array_join(filter(split(w, "(?s)(?<=.)"), c => length(c) > 0), " "))

  /** Symbols of a spaced string (drops the delimiter empties). */
  private def symsOf(s: Column): Column =
    filter(split(s, " "), x => length(x) > 0)

  /** One BPE merge pass (a, b) as a left fold — see object doc. */
  private def applyMerge(s: Column, a: String, b: String): Column =
    aggregate(symsOf(s), lit(""), (acc, t) =>
      when(endswith(acc, lit(s" $a")) && t === b, concat(acc, lit(b)))
        .otherwise(concat(acc, lit(" "), t)))

  /** Distinct words of the corpus with occurrence counts. */
  def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(words(lower(trim(col(textCol))))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Adjacent symbol pairs of the spaced form as structs (a, b);
    * empty for words with fewer than two symbols.
    */
  private def pairCol(s: Column): Column = {
    val syms = symsOf(s)
    when(size(syms) < 2, array().cast("array<struct<a:string,b:string>>"))
      .otherwise(zip_with(
        slice(syms, lit(1), size(syms) - 1),
        slice(syms, lit(2), size(syms) - 1),
        (a, b) => struct(a.as("a"), b.as("b"))))
  }

  /** Default merge-selection batch width for [[train]]. Batched
    * selection is bit-identical to sequential by the kept-prefix proof
    * in [[train]] (BpeSpec property-checks it, incl. adversarial
    * corpora); the win is driver round-trips: each round is one
    * pair-count + argmax collect (which also materialises the word
    * table's lazy checkpoint) regardless of how many merges it
    * selects, so a batch that keeps m merges divides the loop's fixed
    * per-round cost by m.
    *
    * r13 set it to 8 (interleaved A/B, local[32], sf0.1, median of 5,
    * against width 1): bpe_vocab 0.96→0.77, bpe_encode 1.25→0.90,
    * wordpiece_encode 1.61→1.23, training_shards flat (6.21→6.33,
    * within noise — its BPE stage is a small slice).
    */
  private[graft] val defaultBatch: Int = 8

  /** Train `numMerges` BPE merges; see [[BpeModel]]. Ties break on
    * (count DESC, a ASC, b ASC) — total order, deterministic. Stops
    * early if no pair remains.
    *
    * `batch` > 1 amortizes the driver round-trip that dominates wall
    * time at production vocab sizes (one Spark job + one collect PER
    * MERGE otherwise — measured in NOTES_r6): each round
    * collects the top `3·batch` pairs and selects a prefix that is
    * PROVABLY the next run of sequential merges, then applies the
    * whole run in one projection. The selection rule that makes the
    * batch bit-identical to `batch = 1`:
    *
    *  1. walk the (n DESC, a, b)-sorted candidates in order, keeping a
    *     pair only while (i) it shares NO symbol — a, b, or the
    *     produced token a+b — with any pair already kept, and (ii) its
    *     product does NOT already exist as a symbol in the table; STOP
    *     at the first violation (the kept set must be a contiguous
    *     prefix of the total order, or a later-ranked-but-conflicting
    *     pair could become sequential's next argmax);
    *  2. trim trailing kept pairs whose count equals the count of the
    *     first pair NOT kept (stop row, batch cap, or collect bound),
    *     so every kept count is STRICTLY above every non-kept count.
    *
    * Why that is exact: applying a merge only touches pairs that
    * involve its symbols, so the counts of the kept (pairwise-
    * disjoint) pairs are invariant while the batch applies. A pair
    * the batch creates, (x, a+b), inherits count ≤ the old (x, a) —
    * a conflicting, hence non-kept, pair, strictly below every kept
    * count after the trim. Rule (ii) closes the one growth channel:
    * if a+b pre-existed as a symbol, an EXISTING (x, a+b) pair would
    * gain the created adjacencies on top of its old count and could
    * overtake a later kept pair — the products applied so far are
    * tracked driver-side precisely to veto those. The initial symbols
    * never need tracking: [[spaced]] splits a word into single code
    * points, and a product a+b has at least two, so no product can
    * equal one. Sequential's argmax at step k is therefore exactly
    * kept pair k, ties included (tied kept pairs are disjoint, so their
    * lexicographic order is preserved). If trimming empties the batch
    * (top two tied and conflicting), one plain sequential step runs
    * instead — a single argmax is always exact. Equivalence is
    * property-checked in BpeSpec (incl. a pre-existing-product
    * adversarial corpus) and re-proven by the unchanged sequential-
    * replay DuckDB oracle every round.
    */
  def train(df: DataFrame, textCol: String, numMerges: Int,
            batch: Int = defaultBatch): BpeModel = {
    require(batch >= 1, s"batch must be >= 1, got $batch")
    // lazy checkpoints: each round's pair count is the job that
    // materialises the word table it reads, and still cuts its lineage
    var cur = wordCounts(df, textCol)
      .withColumn("s", spaced(col("word")))
      .localCheckpoint(eager = false)
    // every applied product (removals are ignored — a stale entry only
    // shortens a batch, never breaks exactness); batch == 1 never
    // consults it
    val products = collection.mutable.Set.empty[String]
    val merges = collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    while (merges.size < numMerges && !exhausted) {
      val want = math.min(batch, numMerges - merges.size)
      val k = if (want == 1) 1 else want * 3
      val top = cur
        .select(col("cnt"), explode(pairCol(col("s"))).as("p"))
        .groupBy(col("p.a"), col("p.b"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(k).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (top.isEmpty) exhausted = true
      else {
        val selected: Seq[(String, String, Long)] =
          if (want == 1) top.take(1).toSeq
          else {
            val used = collection.mutable.Set.empty[String]
            var stop = false
            val kept = Seq.newBuilder[(String, String, Long)]
            var nKept = 0
            var j = 0
            while (!stop && j < top.length && nKept < want) {
              val (a, b, _) = top(j)
              val prod = a + b
              if (used(a) || used(b) || used(prod) || products(prod)) stop = true
              else {
                kept += top(j); nKept += 1
                used += a; used += b; used += prod
                j += 1
              }
            }
            // strict count boundary vs the first non-kept candidate;
            // if every collected row was kept AND the collect may be
            // non-exhaustive (size == k), the unseen tail is bounded
            // by the last collected count — trim against that instead
            val keptSeq = kept.result()
            val boundary: Option[Long] =
              if (keptSeq.size < top.length) Some(top(keptSeq.size)._3)
              else if (top.length == k) Some(top.last._3)
              else None
            val trimmed = boundary match {
              case Some(bn) => keptSeq.reverse.dropWhile(_._3 == bn).reverse
              case None => keptSeq
            }
            if (trimmed.nonEmpty) trimmed else top.take(1).toSeq
          }
        selected.foreach { case (a, b, n) =>
          merges += ((merges.size + 1, a, b, n))
          products += (a + b)
        }
        val applied = selected.foldLeft(col("s")) { case (c, (a, b, _)) =>
          applyMerge(c, a, b)
        }
        cur = cur.withColumn("s", applied).localCheckpoint(eager = false)
      }
    }
    BpeModel(merges.toSeq, cur)
  }

  /** (word, toks) dictionary from the trained word table. */
  def wordTokenCounts(model: BpeModel): DataFrame =
    model.wordTable.select(col("word"), size(symsOf(col("s"))).as("toks"))

  /** Per-document BPE token counts under the trained model:
    * (doc_id, n_words, bpe_tokens, tokens_per_word). The corpus
    * explodes to (doc, word) pairs and joins the word→count
    * dictionary — tokenization cost is paid once per DISTINCT word
    * at training time, and the join carries one small int per word
    * occurrence. Counts cover in-vocabulary words (for the training
    * corpus itself, that is every word).
    */
  def encodeCounts(df: DataFrame, idCol: String, textCol: String,
                   model: BpeModel): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(words(lower(trim(col(textCol))))).as("word"))
      .join(wordTokenCounts(model), "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_words"),
        sum(col("toks")).cast("int").as("bpe_tokens"))
      .withColumn("tokens_per_word",
        col("bpe_tokens").cast("double") / col("n_words"))
}
