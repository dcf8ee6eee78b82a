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
  * iteration so lineage stays O(1) (the CC-loop pattern). Encoding
  * joins the corpus against the trained word→token-count dictionary —
  * per-word work happens once per DISTINCT word, not per occurrence.
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
    * pair-count job + one argmax collect + one checkpoint job
    * regardless of how many merges it selects, so a batch that keeps
    * m merges divides the loop's fixed per-round cost by m.
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
    * MERGE otherwise — measured in tools/BpeLoopExp): each round
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
    * overtake a later kept pair — the symbol vocabulary is tracked
    * driver-side (initial code points + every applied product; one
    * extra distinct-collect at train start) precisely to veto those.
    * Sequential's argmax at step k is therefore exactly kept pair k,
    * ties included (tied kept pairs are disjoint, so their
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
    var cur = wordCounts(df, textCol)
      .withColumn("s", spaced(col("word")))
      .localCheckpoint()
    // ever-existing symbol vocabulary (grows by one product per merge;
    // removals are ignored — a stale entry only shortens a batch,
    // never breaks exactness). batch == 1 never consults it.
    val symbols = collection.mutable.Set.empty[String]
    if (batch > 1)
      symbols ++= cur.select(explode(symsOf(col("s"))).as("c"))
        .distinct().collect().map(_.getString(0))
    val (ms, fin) = mergeLoop(cur, symbols, Seq.empty, numMerges, batch, _ => ())
    BpeModel(ms, fin)
  }

  /** [[train]] with a persisted merge log — the driver-loop
    * failure-recovery path (r6 VERDICT #6: the merge loop is the one
    * driver-sequential stage of the engine, ~250–650 ms/merge
    * measured, so a 30k-merge production vocabulary is hours of
    * driver wall-clock that should not restart from merge 0 on a
    * driver loss). Every `every` merges the full merge list is
    * written atomically (temp + rename) to `dir/merges.tsv`; on
    * restart the log is replayed onto a fresh word count — pure
    * projection chains, no pair-count jobs, no argmax collects — and
    * training continues from the next merge. Replay is bit-exact
    * because training state IS (merge list, fold-applied word table):
    * the same applyMerge folds run in the same order on the same
    * deterministic word count. The ever-symbol veto set is reseeded
    * as (initial symbols of the fresh table) ∪ (products of replayed
    * merges) — exactly the uninterrupted run's set at that point
    * (replayed-table symbols alone would miss merged-away initial
    * symbols and weaken the batch-exactness veto). Bit-identity of
    * interrupted-vs-uninterrupted vocab is BpeResumeSpec's job.
    *
    * Symbols never contain whitespace (words() splits on it), so the
    * TSV log needs no escaping.
    */
  def trainResumable(df: DataFrame, textCol: String, numMerges: Int,
                     batch: Int = 1, dir: String,
                     every: Int = 500): BpeModel = {
    require(batch >= 1, s"batch must be >= 1, got $batch")
    require(every >= 1, s"every must be >= 1, got $every")
    val log = new java.io.File(dir, "merges.tsv")
    new java.io.File(dir).mkdirs()
    // take(numMerges): a log holding MORE merges than this invocation's
    // budget (resume with a smaller numMerges) replays only the prefix,
    // honoring the "up to numMerges TOTAL" contract — replay order is
    // the training order, so the prefix is exactly the smaller run.
    // onDisk keeps the FULL log; the tail beyond the budget is trained
    // capital (~250-650 ms/merge) the final persist must not destroy.
    val onDisk: Seq[(Int, String, String, Long)] =
      if (!log.isFile) Seq.empty
      else {
        val src = scala.io.Source.fromFile(log, "UTF-8")
        try src.getLines().map { ln =>
          val Array(r, a, b, n) = ln.split("\t", 4)
          (r.toInt, a, b, n.toLong)
        }.toVector finally src.close()
      }
    val prior = onDisk.take(numMerges)
    def persist(ms: Seq[(Int, String, String, Long)]): Unit = {
      val tmp = new java.io.File(dir, "merges.tsv.tmp")
      val w = new java.io.PrintWriter(tmp, "UTF-8")
      try ms.foreach { case (r, a, b, n) => w.println(s"$r\t$a\t$b\t$n") }
      finally w.close()
      java.nio.file.Files.move(tmp.toPath, log.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    var cur = wordCounts(df, textCol)
      .withColumn("s", spaced(col("word")))
      .localCheckpoint()
    val symbols = collection.mutable.Set.empty[String]
    if (batch > 1)
      symbols ++= cur.select(explode(symsOf(col("s"))).as("c"))
        .distinct().collect().map(_.getString(0))
    // replay in bounded chunks so the fold's expression tree (and the
    // janino compile it costs) stays O(chunk), with lineage cut per
    // chunk as in the live loop
    prior.grouped(32).foreach { chunk =>
      val applied = chunk.foldLeft(col("s")) { case (c, (_, a, b, _)) =>
        applyMerge(c, a, b)
      }
      cur = cur.withColumn("s", applied).localCheckpoint()
    }
    symbols ++= prior.map(m => m._2 + m._3)
    var sincePersist = 0
    val (ms, fin) = mergeLoop(cur, symbols, prior, numMerges, batch, all => {
      sincePersist += 1
      if (sincePersist >= every) { persist(all.toSeq); sincePersist = 0 }
    })
    // Persist only when it GROWS the log: a smaller-budget resume trains
    // nothing (prior == ms), and rewriting would truncate checkpointed
    // merges beyond the budget — a later resume at the original budget
    // would have to retrain the lost tail. (Periodic persists above are
    // safe: the loop only runs when onDisk.size < numMerges, so every
    // `all` it sees is strictly longer than the on-disk log.)
    if (ms.size > onDisk.size) persist(ms)
    else if (!log.isFile) persist(ms)
    BpeModel(ms, fin)
  }

  /** Shared merge loop: continues from `prior` merges already applied
    * to `cur`, up to `numMerges` TOTAL; `onMerge` sees the full merge
    * list after each selected merge (the resume log hook).
    */
  private def mergeLoop(cur0: DataFrame,
                        symbols: collection.mutable.Set[String],
                        prior: Seq[(Int, String, String, Long)],
                        numMerges: Int, batch: Int,
                        onMerge: collection.Seq[(Int, String, String, Long)] => Unit)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    var cur = cur0
    val merges = collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    merges ++= prior
    var i = prior.size
    var rounds = 0
    var exhausted = false
    while (i < numMerges && !exhausted) {
      rounds += 1
      val want = math.min(batch, numMerges - i)
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
              if (used(a) || used(b) || used(prod) || symbols(prod)) stop = true
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
          merges += ((i + 1, a, b, n)); i += 1
          symbols += (a + b)
          onMerge(merges)
        }
        val applied = selected.foldLeft(col("s")) { case (c, (a, b, _)) =>
          applyMerge(c, a, b)
        }
        cur = cur.withColumn("s", applied).localCheckpoint()
      }
    }
    lastTrainRounds = rounds
    (merges.toSeq, cur)
  }

  /** Diagnostic only (dev measurement, e.g. [[graft.tools.BpeLoopExp]]):
    * number of pair-count rounds the last [[train]] call ran. merges ÷
    * rounds is the realized batch length — how far conflict stops cut
    * the requested `batch` (the exactness rules keep only a pairwise-
    * disjoint, strictly-count-separated prefix per round).
    */
  @volatile var lastTrainRounds: Int = 0

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
