package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Exponentially-weighted moving average — the reference's one custom
  * aggregate (SURVEY.md A8/U1, `kafka_upbit_realtime_processing.py:67-70`,
  * α = 0.8 applied over an expanding per-code window `:99-104`).
  *
  * Recurrence (adjust=false form, e₀ = x₀):
  * {{{ e_i = α·x_i + (1−α)·e_{i−1} }}}
  *
  * EWMA is order-sensitive, so Spark's unordered-merge aggregation
  * model can't fold it directly. Two implementations:
  *
  * - [[EwmaAgg]] — a typed [[Aggregator]] (SURVEY.md §7.3): buffers
  *   (ts, value) pairs, merge concatenates, `finish` sorts by ts and
  *   folds the recurrence. Exactly the semantics of an ordered fold
  *   with arbitrary partitioning; O(group size) memory. Right for
  *   grouped "final EWMA per key" at bounded group size.
  *
  * - [[rowwise]] — the 100 TB path for per-row expanding EWMA:
  *   `repartition(key).sortWithinPartitions(key, ts)` then a single
  *   sequential `mapPartitions` scan carrying state across rows
  *   (secondary-sort pattern, SURVEY.md §7.4). One shuffle, O(1)
  *   state per key, no per-row buffer — this is what the reference's
  *   (illegal) `pandas ewm().over(expanding window)` actually meant.
  *
  * The DuckDB oracle reproduces the identical IEEE fold via
  * `list_reduce(list(x ORDER BY ts), (acc, x) -> α*x + (1−α)*acc)`.
  */
object Ewma {

  /** Input row for the aggregator: event-time (any orderable long,
    * e.g. unix micros — must be unique within a group) and value.
    */
  final case class TsVal(ts: Long, v: Double)

  /** Buffer: parallel arrays (product-encodable without kryo). Append
    * is O(n) copy — fine for bounded groups; use [[rowwise]] for
    * unbounded/row-level EWMA.
    */
  final case class Buf(ts: Array[Long], vs: Array[Double])

  /** @param adjust pandas `ewm(adjust=)` semantics: false → the plain
    *                recurrence above — what the reference's UDF used
    *                (it passes `adjust=False` explicitly,
    *                `kafka_upbit_realtime_processing.py:70`); true →
    *                the weighted form
    *                `Σ(1−α)^{n−i}·x_i / Σ(1−α)^{n−i}` (an engine
    *                extension), computed as a parallel (numerator,
    *                denominator) fold so the oracle can restate it
    *                exactly.
    */
  class EwmaAgg(alpha: Double, adjust: Boolean = false) extends Aggregator[TsVal, Buf, Double] {
    override def zero: Buf = Buf(Array.empty, Array.empty)
    override def reduce(b: Buf, a: TsVal): Buf = Buf(b.ts :+ a.ts, b.vs :+ a.v)
    override def merge(b1: Buf, b2: Buf): Buf =
      Buf(b1.ts ++ b2.ts, b1.vs ++ b2.vs)
    // Groups always hold ≥1 row under groupBy; NaN marks the
    // unreachable empty-buffer case rather than inventing a value.
    override def finish(b: Buf): Double = {
      if (b.ts.isEmpty) Double.NaN
      else {
        val order = b.ts.zipWithIndex.sortBy(_._1).map(_._2)
        if (adjust) {
          // num/den fold: num ← x + (1−α)·num, den ← 1 + (1−α)·den
          var num = b.vs(order(0))
          var den = 1.0
          var i = 1
          while (i < order.length) {
            num = b.vs(order(i)) + (1 - alpha) * num
            den = 1.0 + (1 - alpha) * den
            i += 1
          }
          num / den
        } else {
          var e = b.vs(order(0))
          var i = 1
          while (i < order.length) {
            e = alpha * b.vs(order(i)) + (1 - alpha) * e
            i += 1
          }
          e
        }
      }
    }
    override def bufferEncoder: org.apache.spark.sql.Encoder[Buf] = Encoders.product[Buf]
    override def outputEncoder: org.apache.spark.sql.Encoder[Double] = Encoders.scalaDouble
  }

  /** Column-API aggregate: `ewmaUdaf(alpha)(col(tsMicros), col(value))`. */
  def ewmaUdaf(alpha: Double, adjust: Boolean = false): org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(new EwmaAgg(alpha, adjust), Encoders.product[TsVal])

  /** Appends column `outCol` = expanding EWMA of `valCol` per `keyCol`
    * ordered by `orderCols` — the scalable sequential-scan form.
    * Requires rows of a key to be totally ordered by `orderCols`.
    */
  def rowwise(df: DataFrame, keyCol: String, orderCols: Seq[String],
              valCol: String, alpha: Double, outCol: String): DataFrame = {
    val outSchema = df.schema.add(outCol, DoubleType)
    val keyIdx = df.schema.fieldIndex(keyCol)
    val valIdx = df.schema.fieldIndex(valCol)
    df.repartition(col(keyCol))
      .sortWithinPartitions((keyCol +: orderCols).map(col): _*)
      .mapPartitions { it =>
        var curKey: Any = null
        var started = false
        var e = 0.0
        it.map { row =>
          val k = row.get(keyIdx)
          val x = row.getDouble(valIdx)
          if (!started || k != curKey) { curKey = k; started = true; e = x }
          else e = alpha * x + (1 - alpha) * e
          Row.fromSeq(row.toSeq :+ e)
        }
      }(Encoders.row(outSchema))
  }

  /** MACD (Appel): fast/slow expanding EWMAs of `valCol`, their
    * difference, the signal EWMA OF that difference, and the
    * histogram — appended as `(ema_fast, ema_slow, macd, signal,
    * histogram)` per `keyCol` ordered by `orderCols`.
    *
    * FUSED single pass: the signal line is an EWMA of a derived
    * series, so the naive composition is three [[rowwise]] calls —
    * three key-repartitions of the full table. All three recursions
    * share one ordered scan (state = 3 doubles per key), so this
    * runs at exactly [[rowwise]]'s cost: ONE shuffle, one
    * secondary-sorted pass. Init follows [[rowwise]]'s convention
    * (first value seeds each EWMA — signal seeds with the first
    * macd value, i.e. 0).
    *
    * Determinism: every step is the same IEEE double expression in
    * the same order on both engines; the DuckDB oracle replays the
    * folds per row with `list_reduce` over prefix windows.
    */
  def macd(df: DataFrame, keyCol: String, orderCols: Seq[String],
           valCol: String,
           fastAlpha: Double = 2.0 / 13.0, slowAlpha: Double = 2.0 / 27.0,
           signalAlpha: Double = 2.0 / 10.0): DataFrame = {
    val outSchema = df.schema
      .add("ema_fast", DoubleType).add("ema_slow", DoubleType)
      .add("macd", DoubleType).add("signal", DoubleType)
      .add("histogram", DoubleType)
    val keyIdx = df.schema.fieldIndex(keyCol)
    val valIdx = df.schema.fieldIndex(valCol)
    df.repartition(col(keyCol))
      .sortWithinPartitions((keyCol +: orderCols).map(col): _*)
      .mapPartitions { it =>
        var curKey: Any = null
        var started = false
        var ef = 0.0; var es = 0.0; var sig = 0.0
        it.map { row =>
          val k = row.get(keyIdx)
          val x = row.getDouble(valIdx)
          if (!started || k != curKey) {
            curKey = k; started = true
            ef = x; es = x; sig = ef - es // first macd value seeds signal
          } else {
            ef = fastAlpha * x + (1 - fastAlpha) * ef
            es = slowAlpha * x + (1 - slowAlpha) * es
            sig = signalAlpha * (ef - es) + (1 - signalAlpha) * sig
          }
          val m = ef - es
          Row.fromSeq(row.toSeq ++ Seq(ef, es, m, sig, m - sig))
        }
      }(Encoders.row(outSchema))
  }
}
