package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import TextHash.words

/** Unigram language-model tokenizer (Kudo 2018, the SentencePiece
  * algorithm): seed a piece inventory from frequent substrings, then
  * EM — E-step segments every word by VITERBI under current piece
  * costs, M-step re-estimates costs from the segmentation counts,
  * unused pieces drop out. The third tokenizer family next to BPE
  * (merge replay) and WordPiece (greedy matcher); unlike both, the
  * segmentation is globally optimal per word under the model, not
  * greedy.
  *
  * Determinism policy (LangModel): every piece cost is quantized to
  * integer micro-nats the moment `ln` is taken —
  * `-floor(ln(p)·10⁶ + 0.5)` — so all DP arithmetic is exact 64-bit
  * integers. Viterbi ties (two segmentations, equal integer cost)
  * break by PACKING `cost·64 + pieceLen` and minimizing: the shorter
  * final piece wins, a total order both engines restate exactly. At
  * most one piece can end at a position with a given length (the
  * piece IS that substring), so packed candidates are distinct and
  * `min` is unambiguous.
  *
  * Scale shape: the whole train/encode pipeline is bounded by the
  * DISTINCT-WORD table (Zipf), like [[Bpe]]/[[Wordpiece]]: seeding
  * is one substring-explode aggregation, each E-step is ONE per-row
  * fold expression (the model enters as a map-literal attribute —
  * zero joins, zero shuffles in the DP itself), and the M-step is a
  * piece-count aggregation over Viterbi pieces. The corpus is only
  * touched by the final explode + dictionary join. Driver round
  * trips: 2 small collects (seed counts, E-step counts) — vocab-
  * sized, not corpus-sized.
  */
object Unigram {

  /** Sentinel cost for an unreachable DP state; packed (·64) it still
    * fits a BIGINT with full headroom.
    */
  val Inf: Long = 1000000000000L

  /** Trained model: (piece, viterbiCount, costMicro). */
  final case class UnigramModel(pieces: Seq[(String, Long, Long)])

  private def costMicro(cnt: Long, tot: Double): Long =
    -math.floor(math.log(cnt.toDouble / tot) * 1e6 + 0.5).toLong

  /** All substrings of `word` up to `maxPiece` chars (with
    * multiplicity) — the standard unigram seed inventory.
    */
  private def substringsCol(w: Column, wlen: Column, maxPiece: Int): Column =
    flatten(transform(sequence(lit(1), wlen), st =>
      transform(sequence(lit(1), least(lit(maxPiece), wlen - st + 1)),
        l => w.substr(st, l))))

  /** Distinct corpus words with counts and a bound length attribute
    * (the HOF-inlining discipline: `length(word)` must be an
    * attribute before any lambda references it).
    */
  private def wordTable(df: DataFrame, textCol: String): DataFrame =
    Bpe.wordCounts(df, textCol).withColumn("wlen", length(col("word")))

  /** Viterbi DP state for one word under the bound model map `cm`:
    * returns struct(dp array<long> of per-position costs 0..wlen,
    * bl array<int> of winning piece lengths). Char-indexed fold
    * capped at `maxWord` steps.
    */
  private def viterbiFold(w: Column, wlen: Column, cm: Column,
                          maxPiece: Int, maxWord: Int): Column = {
    val nullL = lit(null).cast("long")
    val steps = sequence(lit(1), greatest(least(wlen, lit(maxWord)), lit(1)))
    val init = struct(array(lit(0L)).as("dp"), array(lit(0)).as("bl"))
    aggregate(steps, init, (st, i) => {
      val dp = st("dp")
      val cands = (1 to maxPiece).map { l =>
        when(i >= l,
          (element_at(dp, i - l + 1) + element_at(cm, w.substr(i - lit(l) + 1, lit(l))))
            * 64 + l)
          .otherwise(nullL)
      }
      val packed = coalesce(least(cands: _*), lit(Inf * 64L))
      struct(
        concat(dp, array(floor(packed / 64).cast("long"))).as("dp"),
        concat(st("bl"), array(pmod(packed, lit(64L)).cast("int"))).as("bl"))
    })
  }

  /** Backtrace: the Viterbi pieces of a word, given the forward
    * state. Empty array when the word is unreachable (cost ≥ Inf)
    * or longer than `maxWord`.
    */
  private def backtraceCol(w: Column, wlen: Column, st: Column,
                           maxWord: Int): Column = {
    val fin = element_at(st("dp"), least(wlen, lit(maxWord)) + 1)
    val walk = aggregate(
      sequence(lit(1), greatest(least(wlen, lit(maxWord)), lit(1))),
      struct(least(wlen, lit(maxWord)).as("pos"),
        array().cast("array<string>").as("ps")),
      (s, _) => {
        val pos = s("pos")
        val l = element_at(st("bl"), pos + 1)
        when(pos > 0,
          struct((pos - l).as("pos"),
            concat(s("ps"), array(w.substr(pos - l + 1, l))).as("ps")))
          .otherwise(s)
      })
    when(wlen > maxWord || fin >= Inf, array().cast("array<string>"))
      .otherwise(walk("ps"))
  }

  private def modelMap(pieces: Seq[(String, Long)]): Column =
    map(pieces.flatMap { case (p, c) => Seq(lit(p), lit(c)) }: _*)

  /** One E-step: per distinct word, Viterbi pieces under `model`
    * ((piece, costMicro) pairs); returns (word, cnt, wlen, ps).
    */
  private def segment(wt: DataFrame, model: Seq[(String, Long)],
                      maxPiece: Int, maxWord: Int): DataFrame = {
    val withMap = wt.withColumn("__cm", modelMap(model))
    val st = viterbiFold(col("word"), col("wlen"), col("__cm"), maxPiece, maxWord)
    withMap.withColumn("__st", st)
      .withColumn("ps",
        backtraceCol(col("word"), col("wlen"), col("__st"), maxWord))
      .select(col("word"), col("cnt"), col("wlen"), col("ps"))
  }

  /** Train: substring seed (all single chars + top `seedK` multi-char
    * pieces by (count DESC, piece ASC)) followed by ONE EM round —
    * the E-step's Viterbi counts renormalize into the final costs and
    * unused seed pieces drop out. Encoding under the returned model
    * is therefore segmentation under exactly the model the counts
    * came from.
    */
  def train(df: DataFrame, textCol: String, maxPiece: Int = 6,
            seedK: Int = 100, maxWord: Int = 16): UnigramModel = {
    val wt = wordTable(df, textCol).localCheckpoint()
    val seed = wt.select(col("cnt"),
        explode(substringsCol(col("word"), col("wlen"), maxPiece)).as("piece"))
      .groupBy("piece").agg(sum("cnt").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val singles = seed.filter(_._1.length == 1)
    val multis = seed.filter(_._1.length > 1)
      .sortBy { case (p, n) => (-n, p) }.take(seedK)
    val kept = singles ++ multis
    val tot0 = kept.map(_._2).sum.toDouble
    val v0 = kept.map { case (p, n) => (p, costMicro(n, tot0)) }
    val counts = segment(wt, v0.toSeq, maxPiece, maxWord)
      .select(col("cnt"), explode(col("ps")).as("piece"))
      .groupBy("piece").agg(sum("cnt").as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val tot1 = counts.map(_._2).sum.toDouble
    UnigramModel(counts.sortBy(_._1).map { case (p, n) =>
      (p, n, costMicro(n, tot1))
    }.toSeq)
  }

  /** The trained vocabulary as rows (piece, cnt, cost_micro). */
  def vocabDF(spark: SparkSession, model: UnigramModel): DataFrame = {
    import spark.implicits._
    model.pieces.toDF("piece", "cnt", "cost_micro")
  }

  /** (word, toks, cost, unk, ps) per distinct corpus word under
    * `model` — the word-level Viterbi surface `encodeCounts`
    * aggregates (public for specs).
    */
  def wordStats(df: DataFrame, textCol: String, model: UnigramModel,
                maxPiece: Int = 6, maxWord: Int = 16): DataFrame = {
    val wt = wordTable(df, textCol)
    val withMap = wt.withColumn("__cm",
      modelMap(model.pieces.map(p => (p._1, p._3))))
    val st = viterbiFold(col("word"), col("wlen"), col("__cm"), maxPiece, maxWord)
    withMap.withColumn("__st", st)
      .withColumn("__fin",
        element_at(col("__st.dp"), least(col("wlen"), lit(maxWord)) + 1))
      .withColumn("__unk", col("wlen") > maxWord || col("__fin") >= Inf)
      .withColumn("ps",
        backtraceCol(col("word"), col("wlen"), col("__st"), maxWord))
      .select(col("word"),
        when(col("__unk"), lit(0)).otherwise(size(col("ps"))).as("toks"),
        when(col("__unk"), lit(0L)).otherwise(col("__fin")).as("cost"),
        col("__unk").as("unk"), col("ps"))
  }

  /** Per-document Viterbi token statistics under `model`:
    * (doc_id, n_words, unigram_tokens, unk_words, sum_cost_micro).
    * A word the model cannot segment (or longer than `maxWord`)
    * counts as UNK: zero tokens, zero cost.
    */
  def encodeCounts(df: DataFrame, idCol: String, textCol: String,
                   model: UnigramModel, maxPiece: Int = 6,
                   maxWord: Int = 16): DataFrame = {
    val perWord = wordStats(df, textCol, model, maxPiece, maxWord)
      .drop("ps")
    df.select(col(idCol).as("doc_id"),
        explode(words(lower(trim(col(textCol))))).as("word"))
      .join(perWord, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_words"),
        sum(col("toks")).cast("long").as("unigram_tokens"),
        sum(when(col("unk"), 1L).otherwise(0L)).as("unk_words"),
        sum(col("cost")).as("sum_cost_micro"))
  }
}
