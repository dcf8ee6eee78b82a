package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003
  * — the MOSS algorithm): slide a window of `w` consecutive k-gram
  * hashes and keep each window's MINIMUM hash. Guarantees: any shared
  * substring of ≥ w+k−1 words produces at least one shared
  * fingerprint (the winnowing guarantee), while storing only
  * ~2/(w+1) of the grams — the bandwidth-reduced alternative to
  * [[Decontam.selfOverlapPairs]]'s full gram explosion, and the
  * third fingerprinting scheme next to the rolling-hash
  * [[TextStats.withFingerprint]] and MinHash.
  *
  * Determinism: the fingerprint SET is position-independent (min of a
  * multiset), so `array_distinct` per document is engine-portable; no
  * tie-breaking rule is needed (ties collapse in the set). Hashes are
  * md5-derived (TextHash.h32) so the oracle restates them exactly.
  *
  * Scale design (100 TB): fingerprint extraction is a PURE PROJECTION
  * — the gram sequence and the windowed minima are higher-order array
  * functions over each row, zero shuffles, O(len·w) per document with
  * w small. Only the (doc, fp) pair table is ever shuffled, and it is
  * ~2/(w+1) the size of the gram table the non-winnowed path ships.
  * HOF-binding note: the gram array is bound through a one-element
  * `transform` (and the pair query projects it to a real column)
  * before any lambda indexes it — an inlined expression would
  * re-evaluate per probe (the O(len²) trap).
  */
object Winnow {

  /** Ordered (non-distinct) k-gram hash sequence of a document. */
  private def gramSeq(text: Column, n: Int): Column =
    element_at(transform(array(TextHash.words(text)), ws => {
      val cnt = size(ws) - (n - 1)
      when(cnt <= 0, array().cast("array<bigint>"))
        .otherwise(transform(sequence(lit(1), cnt),
          i => TextHash.h32(array_join(slice(ws, i, lit(n)), " "))))
    }), 1)

  /** Windowed-minimum selection over a bound gram-sequence column. */
  private def selectMins(hs: Column, w: Int): Column =
    element_at(transform(array(hs), h => {
      val cnt = size(h) - (w - 1)
      when(cnt <= 0,
        when(size(h) > 0, array(array_min(h)))
          .otherwise(array().cast("array<bigint>")))
        .otherwise(array_distinct(transform(sequence(lit(1), cnt),
          i => array_min(slice(h, i, lit(w))))))
    }), 1)

  /** Per-document fingerprint rows `(doc_id, fp)` — distinct within a
    * document. Documents shorter than `k` words emit nothing; those
    * with fewer than `w` grams emit their single global minimum
    * (winnowing degenerates to one window).
    */
  def fingerprints(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 5, w: Int = 4): DataFrame = {
    // Fused kernels when the session carries GraftExtensions: the
    // HOF gram hashing (per-gram md5 → hex → conv, interpreted) and
    // the O(len·w) boxed window-min fold are the measured map-side
    // cost of this operator family (tools/HashExp: ~3 s per gram pass
    // at sf0.1). Bit-equal incl. dedup order (TextHashExpressionsSpec).
    val native = TextHash.nativeHash(df.sparkSession, "wordgram_h32")
    val hs =
      if (native) call_function("wordgram_h32",
        TextHash.words(col(textCol)), lit(k), lit(""), lit(0L), lit(false))
      else gramSeq(col(textCol), k)
    def mins(h: Column) =
      if (native) call_function("winnow_mins", h, lit(w))
      else selectMins(h, w)
    df.select(col(idCol).cast("long").as("doc_id"), hs.as("hs"))
      .select(col("doc_id"), mins(col("hs")).as("fps"))
      .select(col("doc_id"), explode(col("fps")).as("fp"))
  }

  /** Document pairs sharing ≥ `minShared` winnowed fingerprints —
    * the MOSS match report. Same cap-then-equi-join shape as
    * [[Decontam.selfOverlapPairs]] (fingerprints in > `maxDf` docs
    * are boilerplate and are dropped pre-join, bounding per-key
    * fanout at maxDf²), but over the ~2/(w+1)-sized fingerprint
    * table instead of every gram.
    */
  def pairs(df: DataFrame, idCol: String, textCol: String,
            k: Int = 5, w: Int = 4, minShared: Int = 2,
            maxDf: Int = 64): DataFrame = {
    // No persist (a function-scoped cache over a lazily-returned
    // plan either leaks for the session or is released before the
    // caller's action ever consults it): both self-join sides are
    // the IDENTICAL subplan scan→gram-hash→exchange(fp)→window→
    // filter, so ReuseExchange materializes the fingerprint shuffle
    // once and the second side reads the same shuffle files — the
    // md5 gram hashing runs once without any cache to manage.
    val fps = fingerprints(df, idCol, textCol, k, w)
    val dfw = Window.partitionBy("fp")
    // The static plan shows the self-join subtree twice (4 corpus
    // scans) — but unlike TheilSen, persisting here LOSES (interleaved
    // A/B, sf0.1, local[32], median of 5: persist 1.44 s vs recompute
    // 1.06 s): at sf0.1 both sides shuffle and AQE's runtime
    // ReuseExchange does fire, so the cache write is pure overhead.
    val capped = fps.withColumn("__df", count(lit(1)).over(dfw))
      .filter(col("__df") <= maxDf).drop("__df")
    capped.as("a").join(capped.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
