package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Technical-indicator operators over trade/price series — the
  * feature layer a market-data pipeline runs downstream of the
  * reference's candle/bar jobs (the reference stops at OHLC + EWMA,
  * `kafka_upbit_realtime_processing.py:99-104`; these are the standard
  * next indicators over the same series).
  *
  * Numeric policy (Registry): every order-independent sum goes through
  * fixed-scale DECIMAL (exact, associative — partitioning-proof);
  * derived ratios/roots are computed in DOUBLE with one fixed
  * expression shape so Spark and DuckDB execute identical IEEE ops.
  * Order-sensitive folds (Wilder smoothing) reuse [[Ewma.EwmaAgg]],
  * whose recurrence the oracle restates via `list_reduce`.
  *
  * Scale notes (100 TB):
  * - [[vwap]] is one partial-aggregated groupBy — shuffle bounded by
  *   |groups|, not row count.
  * - [[bollinger]] / [[drawdown]] are single-window scans: one shuffle
  *   on the series key, ROWS frames evaluated in one pass per
  *   partition (no per-row re-aggregation; Spark's running-frame
  *   window implementation is O(n) per key for UNBOUNDED and sliding
  *   SUM/COUNT frames, O(n·log frame) for MAX).
  * - [[rsi]] shuffles twice (lag window + groupBy) on the SAME key, so
  *   the exchange is reused; the EWMA buffer is O(group size) — for
  *   unbounded histories use Ewma.rowwise-style sequential scan.
  */
object Indicators {

  /** Volume-weighted average price per group: Σ(p·q)/Σ(q), both sums
    * DECIMAL-exact ((18,4)×(18,4) → (37,8) products stay exact at
    * scale 8, matching the DECIMAL(19,4) oracle's headroom — a (19,4)²
    * product would cap at Spark's 38-precision limit and lose a scale
    * digit; cast to DOUBLE only for the final division). Input
    * contract: |price|, |qty| < 10¹⁴. Also emits total volume and
    * trade count.
    */
  def vwap(df: DataFrame, keyCols: Seq[String], priceCol: String,
           qtyCol: String): DataFrame = {
    val p = col(priceCol).cast(DecimalType(18, 4))
    val q = col(qtyCol).cast(DecimalType(18, 4))
    df.groupBy(keyCols.map(col): _*)
      .agg(
        (sum(p * q).cast("double") / sum(q).cast("double")).as("vwap"),
        sum(q).cast("double").as("volume"),
        count(lit(1)).as("n_trades"))
  }

  /** Bollinger bands: rolling mean ± k·σ over the trailing `n`-row
    * frame (population σ from exact decimal moments: the frame's
    * count/sum/sum-of-squares are windowed DECIMAL sums, variance
    * `(s2 − s²/c)/c` evaluated in DOUBLE). Rows earlier than `n` use
    * the shorter available frame (standard SQL ROWS semantics).
    *
    * `orderCols` must totally order each key's rows (pass a unique
    * tie-breaker).
    */
  def bollinger(df: DataFrame, keyCol: String, orderCols: Seq[String],
                valueCol: String, n: Int, k: Double): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(orderCols.map(col): _*)
      .rowsBetween(-(n - 1), Window.currentRow)
    // (18,4) keeps v·v exact at scale 8 within the 38-precision cap
    // (DECIMAL(19,4)-oracle headroom; input contract |value| < 10^14)
    val v = col(valueCol).cast(DecimalType(18, 4))
    // materialize the three moment sums in ONE select (= one Window
    // node), derive the bands in a plain projection. Chained
    // withColumns each wrap Project(Window(...)), and the interposed
    // Projects keep CollapseWindow from merging them — the plan ends
    // up re-sorting and re-scanning the frame once per column (caught
    // by PlanSpec's one-Window contract).
    val d = df.select(df.columns.toIndexedSeq.map(col) ++ Seq(
      count(lit(1)).over(w).cast("double").as("__c"),
      sum(v).over(w).cast("double").as("__s"),
      sum(v * v).over(w).cast("double").as("__s2")): _*)
    val mid = col("__s") / col("__c")
    val sd = sqrt(greatest(col("__s2") - col("__s") * col("__s") / col("__c"),
      lit(0.0)) / col("__c"))
    d.withColumn("mid", mid)
      .withColumn("upper", mid + lit(k) * sd)
      .withColumn("lower", mid - lit(k) * sd)
      .drop("__c", "__s", "__s2")
  }

  /** Running-peak drawdown per key: peak = running max of `valueCol`,
    * `drawdown` = peak − value, `drawdown_pct` = (peak − value)/peak
    * (NaN when the peak is 0 — identical IEEE behavior in any engine).
    * One window scan; all per-row arithmetic.
    */
  def drawdown(df: DataFrame, keyCol: String, orderCols: Seq[String],
               valueCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val peak = max(col(valueCol)).over(w)
    df.withColumn("peak", peak)
      .withColumn("drawdown", col("peak") - col(valueCol))
      // zero peak → null pct (ANSI sessions reject x/0; CASE branches
      // evaluate lazily in both engines, so the division never runs)
      .withColumn("drawdown_pct",
        when(col("peak") === 0.0, lit(null).cast("double"))
          .otherwise((col("peak") - col(valueCol)) / col("peak")))
  }

  /** Wilder RSI over each key's full series: up/down moves from
    * `lag(1)`, both smoothed by the Wilder recurrence
    * `a_i = α·x_i + (1−α)·a_{i−1}` with α = 1/period and a₀ = x₀
    * (i.e. [[Ewma.EwmaAgg]] adjust=false — the reference's own EWMA
    * form; classic Wilder seeds with an SMA of the first `period`
    * moves instead, a deliberate, documented simplification that keeps
    * the fold oracle-restatable), then the division-stable equivalent
    * of `100 − 100/(1 + RS)`:
    * `rsi = 100·avg_gain/(avg_gain + avg_loss)`.
    *
    * The denominator is 0 only for a perfectly flat series (every
    * move 0); that case is pinned to the neutral 50 via a lazy CASE —
    * ANSI sessions reject x/0, and the single-division form makes the
    * only special case explicit instead of riding on ±∞ arithmetic.
    *
    * @return one row per key: (key, avg_gain, avg_loss, rsi, n_moves)
    */
  def rsi(df: DataFrame, keyCol: String, tsCol: String, valueCol: String,
          period: Int): DataFrame = {
    val alpha = 1.0 / period
    val lagW = Window.partitionBy(keyCol).orderBy(tsCol)
    val diffed = df
      .select(col(keyCol), unix_micros(col(tsCol)).as("__ts_us"),
        (col(valueCol) - lag(col(valueCol), 1).over(lagW)).as("__diff"))
      .filter(col("__diff").isNotNull)
    val ew = Ewma.ewmaUdaf(alpha)
    diffed
      .select(col(keyCol), col("__ts_us"),
        when(col("__diff") > 0, col("__diff")).otherwise(lit(0.0)).as("__gain"),
        when(col("__diff") < 0, -col("__diff")).otherwise(lit(0.0)).as("__loss"))
      .groupBy(col(keyCol))
      .agg(
        ew(col("__ts_us"), col("__gain")).as("avg_gain"),
        ew(col("__ts_us"), col("__loss")).as("avg_loss"),
        count(lit(1)).as("n_moves"))
      .withColumn("rsi",
        when(col("avg_gain") + col("avg_loss") === 0.0, lit(50.0))
          .otherwise(lit(100.0) * col("avg_gain") / (col("avg_gain") + col("avg_loss"))))
  }

  /** Rolling Pearson correlation between every instrument PAIR over
    * aligned time slots — the pairs-trading / lead-lag signal matrix.
    * Series align on slot close prices (last trade per slot), pair on
    * equal slots with `k1 < k2`, and correlate over a trailing
    * `n`-slot frame from DECIMAL moment sums (Σx, Σy, Σxy, Σx², Σy² —
    * exact, so the one double formula at the edge is bit-reproducible;
    * the bollinger_bands policy extended to cross-moments).
    * Zero-variance frames yield NULL.
    *
    * Scale (100 TB): the slot-close rollup collapses trades to
    * |keys|·|slots| rows BEFORE any pairing. All-pairs is |keys|² and
    * measurably explodes already at bench scale (1500 keys → 6.3M
    * pair-slots at sf0.1), so pairing is restricted to CANDIDATE
    * buckets of `bucketSize` adjacent keys (the sector/liquidity-
    * bucket proxy — a real universe supplies its own candidate list),
    * keeping the join keyed by (slot, bucket) and the pair count
    * linear in keys. One window scan per pair series afterward.
    */
  def rollingPairCorrelation(df: DataFrame, keyCol: String, tsCol: String,
                             valueCol: String, slotDur: String = "1 hour",
                             n: Int = 24, bucketSize: Int = 10): DataFrame = {
    require(bucketSize > 1, "bucketSize must pair at least 2 keys")
    val closes = df
      .groupBy(col(keyCol).as("k"), window(col(tsCol), slotDur))
      .agg(max_by(col(valueCol), col(tsCol)).as("close"))
      .select(col("k"), floor(col("k") / lit(bucketSize)).as("bkt"),
        col("window.start").as("slot"),
        col("close").cast(DecimalType(18, 4)).as("c"))
    val pairs = closes
      .select(col("k").as("k1"), col("bkt"), col("slot"), col("c").as("x"))
      .join(closes.select(col("k").as("k2"), col("bkt"), col("slot"), col("c").as("y")),
        Seq("bkt", "slot"))
      .filter(col("k1") < col("k2"))
    val w = Window.partitionBy("k1", "k2").orderBy("slot")
      .rowsBetween(-(n - 1), Window.currentRow)
    val cd = count(lit(1)).over(w).cast("double")
    val sx = sum(col("x")).over(w).cast("double")
    val sy = sum(col("y")).over(w).cast("double")
    val sxy = sum(col("x") * col("y")).over(w).cast("double")
    val sxx = sum(col("x") * col("x")).over(w).cast("double")
    val syy = sum(col("y") * col("y")).over(w).cast("double")
    val den1 = cd * sxx - sx * sx
    val den2 = cd * syy - sy * sy
    pairs.select(col("k1"), col("k2"), col("slot"),
      col("x").cast("double").as("x"), col("y").cast("double").as("y"),
      count(lit(1)).over(w).as("n_slots"),
      when(den1 <= 0.0 || den2 <= 0.0, lit(null).cast("double"))
        .otherwise((cd * sxy - sx * sy) / (sqrt(den1) * sqrt(den2)))
        .as("corr"))
  }

  /** 4·ln2 and (2·ln2 − 1), written as correctly-rounded double
    * literals so both engines parse the identical bit pattern (a
    * runtime `ln(2)` could differ in the last ulp across libm).
    */
  private val FourLn2 = 2.7725887222397812
  private val TwoLn2M1 = 0.3862943611198906

  /** Kyle (1985) price-impact lambda per instrument: the OLS slope of
    * price change on signed volume, Δp_t = λ·(b_t·q_t) + ε — the
    * canonical "how many price units does a unit of net order flow
    * move the market" estimator, joining [[graft.ops.Vpin]] (flow
    * toxicity) and the Roll spread (implied cost) to complete the
    * classic microstructure triple over the same trade stream.
    *
    * Signs use the tick rule with the [[Vpin]] convention (up-tick +1,
    * down-tick −1, unchanged carries, leading ties +1) so all three
    * estimators agree on flow direction. Determinism: Δp is
    * DECIMAL(18,4) (exact subtraction), signed volume is exact BIGINT,
    * the five regression moments (Σd, Σsv, Σsv², Σd·sv, Σd²) are exact
    * decimal/integer sums — associative, partitioning-proof — and
    * λ / intercept / R² assemble from them in one fixed double
    * expression both engines execute identically. Degenerate groups
    * (zero signed-volume variance) report NULL λ; R² is additionally
    * NULL when Δp has zero variance.
    *
    * Scale: one (key, time) window for the lag/sign forward-fill and
    * one partial-aggregated groupBy on the SAME key — a single shuffle
    * whose reduce side carries |instruments| moment rows, never trades.
    */
  def kyleLambda(df: DataFrame, keyCol: String, orderCols: Seq[String],
                 priceCol: String, qtyCol: String): DataFrame = {
    val byTime = Window.partitionBy(keyCol).orderBy(orderCols.map(col): _*)
    val cum = byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val p = col(priceCol).cast(DecimalType(19, 4))
    // deltas re-tightened to (18,4) so every product stays inside
    // precision 38 EXACTLY — a (20,4)² product hits Spark's precision
    // cap and silently rounds the product to scale 6 (the vwap
    // headroom rule). Input contract: |Δp| < 10¹⁴, |sv| < 10¹⁴ —
    // every moment, including Σsv² below, runs in decimal with that
    // full headroom (a long sv² would wrap silently at |sv| ≈ 3·10⁹
    // while the decimal oracle errors — the engines must agree on the
    // whole contracted range, not just where longs happen to fit).
    val d = (p - lag(p, 1).over(byTime)).cast(DecimalType(18, 4))
    val signed = df
      .withColumn("__d", d)
      .withColumn("__raw", when(col("__d") > 0, 1).when(col("__d") < 0, -1))
      .withColumn("__sign",
        coalesce(last(col("__raw"), ignoreNulls = true).over(cum), lit(1)))
      .filter(col("__d").isNotNull)
      .withColumn("__sv", col("__sign").cast("long") * col(qtyCol).cast("long"))
      .withColumn("__svd", col("__sv").cast(DecimalType(14, 0)))
    val m = signed.groupBy(col(keyCol)).agg(
      count(lit(1)).as("n"),
      sum(col("__d")).as("sd"),
      sum(col("__d") * col("__d")).as("sd2"),
      sum(col("__sv")).as("ssv"),
      sum(col("__svd") * col("__svd")).as("ssv2"),
      sum(col("__d") * col("__svd")).as("sdsv"))
    def dbl(c: String) = col(c).cast("double")
    val nD = col("n").cast("double")
    val cov = nD * dbl("sdsv") - dbl("sd") * dbl("ssv")
    val varSv = nD * dbl("ssv2") - dbl("ssv") * dbl("ssv")
    val varD = nD * dbl("sd2") - dbl("sd") * dbl("sd")
    val lam = when(varSv > 0, cov / varSv)
    m.select(col(keyCol), col("n"),
      lam.as("kyle_lambda"),
      when(varSv > 0, (dbl("sd") - (cov / varSv) * dbl("ssv")) / nD)
        .as("intercept"),
      when(varSv > 0 && varD > 0, cov * cov / (varSv * varD)).as("r2"))
  }

  /** Amihud (2002) illiquidity per (instrument, day):
    * ILLIQ = mean(|Δp_t| / (p_{t−1}·q_t)) — price move per unit of
    * dollar volume traded, the standard daily liquidity feature next
    * to the spread/impact estimators above.
    *
    * Each per-trade ratio is computed in double (identical IEEE op
    * shape both engines) and immediately quantized to integer
    * PICO-units (`floor(x·10¹²)` — the LangModel integer-quantization
    * policy at the grain these tiny ratios need); the daily mean is
    * then exact integer arithmetic over an exact count. Trades with a
    * non-positive previous price or quantity are dropped on both
    * sides identically (the ratio is undefined).
    *
    * Scale: one key-time window + one (key, day) groupBy — map-side
    * partial aggregation, reduce side carries |instrument×day| rows.
    */
  def amihud(df: DataFrame, keyCol: String, tsCol: String,
             priceCol: String, qtyCol: String,
             tieCols: Seq[String] = Nil): DataFrame = {
    val byTime = Window.partitionBy(keyCol).orderBy((tsCol +: tieCols).map(col): _*)
    val p = col(priceCol).cast(DecimalType(20, 4))
    val terms = df
      .withColumn("__p", p)
      .withColumn("__pl", lag(p, 1).over(byTime))
      .withColumn("__d", col("__p") - col("__pl"))
      .filter(col("__d").isNotNull && col("__pl") > 0 && col(qtyCol) > 0)
      .withColumn("__t",
        floor(abs(col("__d").cast("double")) /
          (col("__pl").cast("double") * col(qtyCol).cast("double")) * lit(1e12))
          .cast("long"))
    terms
      .groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n_obs"), sum(col("__t")).as("sum_pico"))
      .withColumn("amihud",
        col("sum_pico").cast("double") / col("n_obs").cast("double") / lit(1e12))
  }

  /** Realized variance vs bipower variation per instrument
    * (Barndorff-Nielsen & Shephard 2004): RV = Σd², BPV =
    * (π/2)·Σ|d_t||d_{t−1}|; BPV is jump-robust, so the gap
    * max(RV − BPV, 0) estimates the jump component and its share of
    * total variance flags discontinuous price moves. Both sums run
    * over the rows where BOTH lags exist (one consistent sample for
    * the pair — documented choice, restated identically in the
    * oracle).
    *
    * Determinism: d is DECIMAL(18,4); d², |d|·|d_lag| are exact
    * decimal products summed exactly; π/2 enters as the
    * correctly-rounded double literal (a runtime `pi()/2` could
    * differ in the last ulp); the assembly is one fixed double
    * expression. Scale: one key window + one groupBy on the same key
    * — single shuffle, |instruments| output rows.
    */
  def bipowerVariation(df: DataFrame, keyCol: String,
                       orderCols: Seq[String], priceCol: String): DataFrame = {
    val byTime = Window.partitionBy(keyCol).orderBy(orderCols.map(col): _*)
    val p = col(priceCol).cast(DecimalType(19, 4))
    // (18,4) deltas keep the (37,8) products precision-exact — see
    // kyleLambda. Input contract: |Δp| < 10¹⁴.
    val d = df
      .withColumn("__d", (p - lag(p, 1).over(byTime)).cast(DecimalType(18, 4)))
      .withColumn("__dl", lag(col("__d"), 1).over(byTime))
      .filter(col("__d").isNotNull && col("__dl").isNotNull)
    val m = d.groupBy(col(keyCol)).agg(
      count(lit(1)).as("n"),
      sum(col("__d") * col("__d")).as("srv"),
      sum(abs(col("__d")) * abs(col("__dl"))).as("sbp"))
    val rv = col("srv").cast("double")
    val bpv = lit(HalfPi) * col("sbp").cast("double")
    m.select(col(keyCol), col("n"),
      rv.as("realized_var"),
      bpv.as("bipower_var"),
      greatest(rv - bpv, lit(0.0)).as("jump_var"),
      when(rv > 0, greatest(rv - bpv, lit(0.0)) / rv).as("jump_share"))
  }

  /** π/2 as a correctly-rounded double literal (Registry literal
    * policy — both engines must parse the identical bit pattern).
    */
  private val HalfPi = 1.5707963267948966

  /** Range-based realized-volatility estimators per (key, day) from
    * intraday OHLC candles: Parkinson (high/low range) and
    * Garman–Klass (range + open/close drift) — 5–7× more
    * sample-efficient than close-to-close variance, the standard
    * daily-vol features over the candle layer.
    *
    * Per candle, `u = ln(H/L)` and `c = ln(C/O)` are quantized to
    * integer MILLI-nats immediately (`ln` is not bit-reproducible
    * cross-engine — LangModel policy; milli keeps Σu² within long
    * range at any realistic candle count); the daily sums are then
    * exact integer arithmetic and the estimators one fixed double
    * expression:
    * Parkinson² = Σu² / (4·ln2·n), GK² = (½·Σu² − (2ln2−1)·Σc²)/n
    * (GK clamped at 0: the unbiased estimator can go negative on
    * drift-dominated days).
    *
    * Scale: one candle aggregation (shuffle keyed by (key, hour),
    * partial-aggregated map-side) + one (key, day) rollup over candle
    * rows — both exchanges carry candle/day counts, never trades.
    * Zero-range candles (L = H possible at low liquidity) contribute
    * u = 0 exactly; candles with a non-positive low are dropped (ln
    * undefined) and excluded in the oracle identically.
    */
  def rangeVolatility(df: DataFrame, keyCol: String, tsCol: String,
                      priceCol: String, candleDur: String = "1 hour"): DataFrame = {
    val candles = df
      .groupBy(col(keyCol), window(col(tsCol), candleDur))
      .agg(
        min_by(col(priceCol), col(tsCol)).as("o"),
        max(col(priceCol)).as("h"),
        min(col(priceCol)).as("l"),
        max_by(col(priceCol), col(tsCol)).as("c"))
      .filter(col("l") > 0)
    val um = floor(log(col("h") / col("l")) * lit(1e3) + lit(0.5)).cast("long")
    val cm = floor(log(col("c") / col("o")) * lit(1e3) + lit(0.5)).cast("long")
    candles
      .select(col(keyCol), to_date(col("window.start")).as("day"),
        um.as("um"), cm.as("cm"))
      .groupBy(col(keyCol), col("day"))
      .agg(
        count(lit(1)).as("n_candles"),
        sum(col("um") * col("um")).as("sum_u2"),
        sum(col("cm") * col("cm")).as("sum_c2"))
      .withColumn("parkinson",
        sqrt(col("sum_u2").cast("double") / (lit(FourLn2) * col("n_candles")) / lit(1e6)))
      .withColumn("garman_klass",
        sqrt(greatest(
          (lit(0.5) * col("sum_u2").cast("double") -
            lit(TwoLn2M1) * col("sum_c2").cast("double")) /
            col("n_candles") / lit(1e6),
          lit(0.0))))
  }
}
