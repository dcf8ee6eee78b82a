package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Exact per-group discrete quantiles by rank selection: the value at
  * rank `ceil(p·n/100)` in (value, tie) order. Pure row selection —
  * no floating-point arithmetic touches the data, so results are
  * engine-exact; the rank itself is computed in INTEGER arithmetic
  * (`(p·n + 99) div 100`) because `ceil(0.9 * n)` in doubles can land
  * on either side of an exact multiple depending on the engine's
  * literal type (DuckDB parses 0.9 as DECIMAL, Spark as DOUBLE).
  *
  * Scale: needs a full per-group sort — inherent to exact quantiles.
  * The 100 TB path is `approx_percentile` (GK/KLL-style mergeable
  * summaries, one pass, no sort); QuantilesSpec bounds it against
  * this exact operator the same way SketchSpec bounds HLL against
  * exact distinct counts.
  */
object Quantiles {

  /** @param pcts integer percentiles in (0, 100]. */
  def exactQuantiles(df: DataFrame, keyCol: String, valCol: String,
                     tieCol: String, pcts: Seq[Int]): DataFrame = {
    require(pcts.forall(p => p > 0 && p <= 100), "percentiles must be in (0,100]")
    val wRank = Window.partitionBy(keyCol).orderBy(col(valCol), col(tieCol))
    df.withColumn("__rn", row_number().over(wRank))
      .withColumn("__cnt", count(lit(1)).over(Window.partitionBy(keyCol)))
      .withColumn("pct", explode(array(pcts.map(lit): _*)))
      .filter(col("__rn") === expr("(pct * __cnt + 99) div 100"))
      .select(col(keyCol), col("pct"), col(valCol).as("quantile_value"),
        col("__cnt").as("n"))
  }

  /** Per-group IQR outlier detection (Tukey fences): rows outside
    * `[q1 − k·IQR, q3 + k·IQR]` of their group — the standard
    * pre-training numeric-cleaning rule. Quartiles come from
    * [[exactQuantiles]] (rank selection, engine-exact); the
    * group-bounds table is group-count-sized and broadcasts, so the
    * flagging pass is a map-side join over the fact scan. All bound
    * arithmetic is plain IEEE on values selected from the data —
    * bit-identical across engines.
    */
  def iqrOutliers(df: DataFrame, keyCol: String, valCol: String,
                  tieCol: String, k: Double = 1.5): DataFrame = {
    val bounds = exactQuantiles(df, keyCol, valCol, tieCol, Seq(25, 75))
      .groupBy(col(keyCol))
      .agg(max(when(col("pct") === 25, col("quantile_value"))).as("q1"),
        max(when(col("pct") === 75, col("quantile_value"))).as("q3"))
      .withColumn("lo", col("q1") - lit(k) * (col("q3") - col("q1")))
      .withColumn("hi", col("q3") + lit(k) * (col("q3") - col("q1")))
    df.join(broadcast(bounds), keyCol)
      .filter(col(valCol) < col("lo") || col(valCol) > col("hi"))
      .select(col(keyCol), col(tieCol), col(valCol), col("lo"), col("hi"))
  }

  /** Per-group winsorization: clip values into their group's
    * [p_lo, p_hi] exact-quantile envelope instead of dropping them —
    * the gentler sibling of [[iqrOutliers]] for feature pipelines
    * where row loss is worse than tail distortion. The bounds come
    * from rank selection (values FROM the data, no float arithmetic),
    * the clip is `least(greatest(...))` on a broadcast bounds join —
    * map-side at any scale.
    */
  def winsorize(df: DataFrame, keyCol: String, valCol: String,
                tieCol: String, loPct: Int = 1, hiPct: Int = 99): DataFrame = {
    val bounds = exactQuantiles(df, keyCol, valCol, tieCol, Seq(loPct, hiPct))
      .groupBy(col(keyCol))
      .agg(max(when(col("pct") === loPct, col("quantile_value"))).as("lo"),
        max(when(col("pct") === hiPct, col("quantile_value"))).as("hi"))
    df.join(broadcast(bounds), keyCol)
      .withColumn(s"${valCol}_wins",
        least(greatest(col(valCol), col("lo")), col("hi")))
  }

  /** Per-group quantile discretization (the QuantileDiscretizer
    * feature op — equal-frequency binning): each row gets the bucket
    * index `1 + #{inner cutoffs strictly below it}` where the
    * nBuckets−1 inner cutoffs are the group's exact rank-selected
    * quantiles. Values FROM the data, integer rank arithmetic, `>`
    * comparisons only — engine-exact like every quantile op here.
    * The cutoff table is group-count-sized and broadcasts; the
    * assignment pass is map-side over the fact scan.
    */
  def bucketize(df: DataFrame, keyCol: String, valCol: String,
                tieCol: String, nBuckets: Int): DataFrame = {
    require(nBuckets >= 2 && 100 % nBuckets == 0,
      "nBuckets must divide 100 (integer percentile ranks)")
    val pcts = (1 until nBuckets).map(_ * 100 / nBuckets)
    val bounds = exactQuantiles(df, keyCol, valCol, tieCol, pcts)
      .groupBy(col(keyCol))
      .agg(pcts.map(p =>
        max(when(col("pct") === p, col("quantile_value"))).as(s"__c$p")).head,
        pcts.map(p =>
          max(when(col("pct") === p, col("quantile_value"))).as(s"__c$p")).tail: _*)
    df.join(broadcast(bounds), keyCol)
      .withColumn("bucket",
        pcts.map(p => when(col(valCol) > col(s"__c$p"), 1).otherwise(0))
          .reduce(_ + _) + 1)
      .drop(pcts.map(p => s"__c$p"): _*)
  }

  /** One (hash, value) observation for the bottom-k sketch. */
  final case class QHV(h: String, v: Double)

  /** Sketch buffer: total row count + an entry list bounded by lazy
    * compaction (prepend is O(1); compacting sorts and truncates, so
    * per-row cost is O(1) amortized — unlike an eager sorted insert).
    */
  final case class QSkBuf(n: Long, size: Int, hs: List[String], vs: List[Double])

  /** Sketch result: total count, sample size m = min(k, n), and the
    * sample's values sorted ascending (ready for rank selection).
    */
  final case class QSkOut(n: Long, m: Int, vs: Array[Double])

  /** Mergeable bottom-k quantile sketch: keep the k entries with the
    * SMALLEST md5 hash — "k smallest of a set" is order-independent,
    * so the aggregate is bit-reproducible under any partitioning or
    * merge order (the property KLL buys with random compaction and
    * loses in determinism). The survivors are a uniform k-sample of
    * the group (md5 is the uniform deviate, Sampling.u01's policy),
    * so sample-rank selection estimates quantiles with DKW rank error
    * ~sqrt(ln(2/δ)/2k). Partial aggregation combines map-side: each
    * task ships ≤2k entries per group, never its rows.
    */
  final class BottomKAgg(k: Int) extends Aggregator[QHV, QSkBuf, QSkOut] {
    require(k > 0, "sketch size k must be positive")

    private def compact(b: QSkBuf): QSkBuf = {
      val kept = b.hs.zip(b.vs).sortBy(identity).take(k)
      QSkBuf(b.n, kept.size, kept.map(_._1), kept.map(_._2))
    }

    override def zero: QSkBuf = QSkBuf(0L, 0, Nil, Nil)
    override def reduce(b: QSkBuf, a: QHV): QSkBuf = {
      val nb = QSkBuf(b.n + 1, b.size + 1, a.h :: b.hs, a.v :: b.vs)
      if (nb.size > 2 * k) compact(nb) else nb
    }
    override def merge(b1: QSkBuf, b2: QSkBuf): QSkBuf =
      compact(QSkBuf(b1.n + b2.n, b1.size + b2.size,
        b1.hs ::: b2.hs, b1.vs ::: b2.vs))
    override def finish(b: QSkBuf): QSkOut = {
      val kept = compact(b)
      QSkOut(kept.n, kept.size, kept.vs.sorted.toArray)
    }
    override def bufferEncoder: org.apache.spark.sql.Encoder[QSkBuf] = Encoders.product[QSkBuf]
    override def outputEncoder: org.apache.spark.sql.Encoder[QSkOut] = Encoders.product[QSkOut]
  }

  /** Per-group approximate quantiles from a [[BottomKAgg]] sketch:
    * the sampled complement of [[exactQuantiles]] — ONE aggregation
    * pass, no per-group sort of the data (only the k-sample sorts,
    * in `finish`), which is the 100 TB shape exact rank selection
    * can't have. The md5 sample is exactly restatable in SQL
    * (`row_number` by hash ≤ k), so unlike `approx_percentile` the
    * estimate itself hash-matches across engines; groups with n ≤ k
    * degenerate to exact quantiles (tie order by hash).
    *
    * @param pcts integer percentiles in (0, 100].
    */
  def sampledQuantiles(df: DataFrame, keyCol: String, valCol: String,
                       idCol: String, k: Int, pcts: Seq[Int],
                       salt: String = "qsketch"): DataFrame = {
    require(pcts.forall(p => p > 0 && p <= 100), "percentiles must be in (0,100]")
    val h = md5(concat_ws(":", lit(salt), col(idCol).cast("string")))
    val agg = udaf(new BottomKAgg(k), Encoders.product[QHV])
    df.select(col(keyCol), h.as("__h"), col(valCol).cast("double").as("__v"))
      .groupBy(col(keyCol))
      .agg(agg(col("__h"), col("__v")).as("__sk"))
      .withColumn("pct", explode(array(pcts.map(lit(_)): _*)))
      .select(col(keyCol), col("pct"),
        element_at(col("__sk.vs"),
          expr("cast((pct * __sk.m + 99) div 100 as int)")).as("quantile_est"),
        col("__sk.m").cast("long").as("n_sample"),
        col("__sk.n").as("n_total"))
  }
}
