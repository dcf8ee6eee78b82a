package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextHash.words

/** WordPiece-style ENCODING (Wu et al. 2016 / Devlin et al. 2018 —
  * greedy longest-match-first subword tokenization) over a
  * BPE-trained piece vocabulary: the standard "BPE vocab + WordPiece
  * matcher" combination production tokenizers run. Pieces are
  * position-tagged (word-initial vs continuation — BERT's `##`
  * convention, kept as a boolean instead of a string prefix); a word
  * that greedy matching cannot cover becomes one `[UNK]` token, and
  * words longer than `maxWordLen` code units are `[UNK]` outright
  * (BERT's `max_chars_per_word` rule).
  *
  * Scale shape: identical to [[Bpe.encodeCounts]] — the greedy loop
  * runs once per DISTINCT word (Zipf-bounded), as ONE per-row fold
  * expression with the vocabulary inlined as two map literals (the
  * [[Dsir]] broadcast-as-literal discipline): zero joins, zero
  * shuffles, zero driver round-trips in the match itself. The corpus
  * pass is the same explode + dictionary join as BPE encode. The
  * fold is char-indexed (state advances when the index reaches the
  * next unconsumed position), so its step count is bounded by
  * `maxWordLen`, not by token count; the word length is bound to an
  * attribute BEFORE the lambda (the HOF inlining trap — an inlined
  * `length(word)` would re-walk the string per step).
  */
object Wordpiece {

  /** Position-tagged piece vocabulary of a trained BPE word table:
    * every symbol of every fully-merged word, tagged continuation
    * iff it is not word-initial.
    */
  def vocab(model: Bpe.BpeModel): DataFrame =
    model.wordTable
      .select(posexplode(filter(split(col("s"), " "), x => length(x) > 0))
        .as(Seq("j", "piece")))
      .select(col("piece"), (col("j") > 0).as("cont"))
      .distinct()

  private def literalSet(pieces: Seq[String]): Column =
    if (pieces.isEmpty)
      map_from_arrays(array().cast("array<string>"), array().cast("array<int>"))
    else map(pieces.flatMap(p => Seq(lit(p), lit(1))): _*)

  /** Greedy-match state struct for one word `w` (any Column — an
    * attribute or a HOF lambda variable): (pos, toks, unk). `initM`/
    * `contM` MUST be attribute references to bound map columns (the
    * CreateMap-cloning trap — see object doc).
    */
  private[llm] def greedyFold(w: Column, initM: Column, contM: Column,
                              maxPiece: Int, maxWordLen: Int): Column = {
    val steps = sequence(lit(1), greatest(least(length(w), lit(maxWordLen)), lit(1)))
    val init = struct(lit(1).as("pos"), lit(0).as("toks"),
      (length(w) > maxWordLen || length(w) === 0).as("unk"))
    aggregate(steps, init, (st, i) => {
      val active = !st("unk") && (st("pos") === i)
      val m = (1 to maxPiece).foldLeft(lit(0)) { case (els, l) =>
        val sl = w.substr(i, lit(l))
        val hit = when(i === 1, map_contains_key(initM, sl))
          .otherwise(map_contains_key(contM, sl))
        when(hit, length(sl)).otherwise(els)
      }
      when(!active, st).otherwise(
        when(m > 0, struct((st("pos") + m).as("pos"),
          (st("toks") + 1).as("toks"), lit(false).as("unk")))
          .otherwise(struct(st("pos").as("pos"), st("toks").as("toks"),
            lit(true).as("unk"))))
    })
  }

  /** The two vocab map literals (word-initial, continuation) that
    * [[greedyFold]] probes, to bind as columns first.
    */
  def vocabMaps(vs: Seq[(String, Boolean)]): (Column, Column) =
    (literalSet(vs.collect { case (p, false) => p }),
      literalSet(vs.collect { case (p, true) => p }))

  /** Per-document wordpiece token count as ONE pure projection — the
    * streaming/scoring form (no distinct-word table, no joins, no
    * state), UNK words count 1: the fused greedy matcher
    * ([[graft.functions.WordpieceTokenCount]], registered as
    * `wordpiece_count` by GraftExtensions), one primitive loop per
    * word against two hashed vocab sets. Bit-equal on split() input
    * to the per-word [[greedyFold]] (WordpieceNativeSpec, against the
    * HOF form kept in the test tree as `WordpieceReference`); like
    * every kernel call it needs a session carrying GraftExtensions
    * ([[graft.Session]]).
    */
  def tokenCountNative(text: Column, vs: Seq[(String, Boolean)],
                       maxWordLen: Int = 24): Column = {
    require(vs.nonEmpty, "empty wordpiece vocabulary")
    val vocabLit = typedLit(Seq(
      vs.collect { case (p, false) => p },
      vs.collect { case (p, true) => p }))
    call_function("wordpiece_count", words(lower(trim(text))),
      vocabLit, lit(maxWordLen))
  }

  /** (word, toks, unk) for every distinct corpus word under greedy
    * longest-match against `vs` (piece, isContinuation) — exposed
    * separately for specs.
    */
  def wordTokenCounts(df: DataFrame, textCol: String,
                      vs: Seq[(String, Boolean)],
                      maxWordLen: Int): DataFrame = {
    require(vs.nonEmpty, "empty wordpiece vocabulary")
    val maxPiece = vs.map(_._1.length).max
    // bind each vocab map to ONE attribute: referencing the map
    // literal directly inside the fold would clone its 2·|V|-node
    // CreateMap into every probe (24 steps × maxPiece lengths),
    // exploding the expression tree Catalyst has to analyze; a
    // projected column constant-folds once and probes read the
    // attribute.
    val (im, cm) = vocabMaps(vs)
    Bpe.wordCounts(df, textCol)
      .select(col("word"))
      .withColumn("__im", im).withColumn("__cm", cm)
      .withColumn("st",
        greedyFold(col("word"), col("__im"), col("__cm"), maxPiece, maxWordLen))
      .drop("__im", "__cm")
      .select(col("word"),
        when(col("st.unk"), lit(1)).otherwise(col("st.toks")).as("toks"),
        col("st.unk").as("unk"))
  }

  /** Per-document WordPiece token counts under the BPE-derived
    * vocabulary: (doc_id, n_words, wp_tokens, unk_words). An UNK
    * word contributes exactly one token.
    */
  def encodeCounts(df: DataFrame, idCol: String, textCol: String,
                   model: Bpe.BpeModel, maxWordLen: Int = 24): DataFrame = {
    val vs = vocab(model).collect()
      .map(r => (r.getString(0), r.getBoolean(1))).toSeq.sorted
    val perWord = wordTokenCounts(df, textCol, vs, maxWordLen)
    df.select(col(idCol).as("doc_id"),
        explode(words(lower(trim(col(textCol))))).as("word"))
      .join(perWord, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_words"),
        sum(col("toks")).cast("long").as("wp_tokens"),
        sum(when(col("unk"), 1L).otherwise(0L)).as("unk_words"))
  }
}
