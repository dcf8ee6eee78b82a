package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Indicators

/** Technical-indicator queries (the feature layer downstream of the
  * reference's candle/EWMA jobs — `kafka_upbit_realtime_processing.py`
  * stops at OHLC+EWMA; these are the standard indicators computed over
  * the same series). `events` plays the trade-stream role
  * (FIXTURES.md §B): `user_id` → instrument, `ts` → exchange time,
  * `value` → price; `lineitem` provides the (price, quantity) pairs
  * for VWAP. All four carry full DuckDB oracles under Registry's
  * determinism policy.
  */
object IndicatorQueries {

  private def events(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)

  private val evCte =
    "ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events)"

  /** Daily VWAP per returnflag over lineitem's (extendedprice,
    * quantity): Σ(p·q)/Σ(q), decimal-exact sums, one
    * partial-aggregated groupBy (shuffle bounded by |flag×day|).
    */
  val vwapDaily: Q = Q(
    "vwap_daily",
    (s, dir) => Indicators.vwap(
      Tables.lineitem(s, dir).withColumn("day", to_date(col("l_shipdate"))),
      Seq("l_returnflag", "day"), "l_extendedprice", "l_quantity"),
    Some("""
      WITH li AS (
        SELECT l_returnflag, CAST(l_shipdate AS TIMESTAMP)::DATE AS day,
               CAST(l_extendedprice AS DECIMAL(19,4)) AS p,
               CAST(l_quantity AS DECIMAL(19,4)) AS q
        FROM lineitem)
      SELECT l_returnflag, day,
             CAST(CAST(sum(p * q) AS VARCHAR) AS DOUBLE)
               / CAST(sum(q) AS DOUBLE) AS vwap,
             CAST(sum(q) AS DOUBLE) AS volume,
             count(*) AS n_trades
      FROM li GROUP BY 1, 2
    """)
  )

  /** Bollinger bands: 20-row trailing mean ± 2σ per instrument over a
    * unique (ts, event_id) order. Windowed DECIMAL moment sums keep
    * the bands bit-identical cross-engine; one window scan — a single
    * key shuffle at any scale.
    */
  val bollingerBands: Q = Q(
    "bollinger_bands",
    (s, dir) => Indicators.bollinger(
      events(s, dir).select("event_id", "user_id", "ts", "value"),
      "user_id", Seq("ts", "event_id"), "value", n = 20, k = 2.0),
    Some(s"""
      WITH $evCte,
      m AS (
        SELECT event_id, user_id, ts, value,
               CAST(count(*) OVER w AS DOUBLE) AS cd,
               CAST(sum(CAST(value AS DECIMAL(19,4))) OVER w AS DOUBLE) AS sd,
               CAST(CAST(sum(CAST(value AS DECIMAL(19,4)) * CAST(value AS DECIMAL(19,4)))
                         OVER w AS VARCHAR) AS DOUBLE) AS s2d
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
      SELECT event_id, user_id, ts, value,
             sd / cd AS mid,
             sd / cd + 2.0::DOUBLE * sqrt(greatest(s2d - sd * sd / cd, 0.0::DOUBLE) / cd) AS upper,
             sd / cd - 2.0::DOUBLE * sqrt(greatest(s2d - sd * sd / cd, 0.0::DOUBLE) / cd) AS lower
      FROM m
    """)
  )

  /** Running-peak drawdown per instrument: one window scan (running
    * MAX), per-row arithmetic; `drawdown_pct` is NaN while the peak is
    * 0 — shared IEEE semantics, no special-casing.
    */
  val drawdownSeries: Q = Q(
    "drawdown_series",
    (s, dir) => Indicators.drawdown(
      events(s, dir).select("event_id", "user_id", "ts", "value"),
      "user_id", Seq("ts", "event_id"), "value"),
    Some(s"""
      WITH $evCte
      SELECT event_id, user_id, ts, value,
             max(value) OVER w AS peak,
             max(value) OVER w - value AS drawdown,
             CASE WHEN max(value) OVER w = 0.0::DOUBLE THEN NULL
                  ELSE (max(value) OVER w - value) / max(value) OVER w
             END AS drawdown_pct
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """)
  )

  /** Wilder RSI(14) per instrument: lag-diff gains/losses smoothed by
    * the EwmaAgg recurrence (α = 1/14, a₀ = first move — the
    * documented seeding simplification), restated in the oracle as two
    * `list_reduce` folds over the ts-ordered move lists;
    * `rsi = 100·g/(g+l)` (the division-stable form), flat series
    * pinned to 50.
    */
  val rsiWilder: Q = Q(
    "rsi_wilder",
    (s, dir) => Indicators.rsi(events(s, dir), "user_id", "ts", "value", period = 14),
    Some(s"""
      WITH $evCte,
      d AS (
        SELECT user_id, ts,
               value - lag(value) OVER (PARTITION BY user_id ORDER BY ts) AS diff
        FROM ev),
      f AS (
        SELECT user_id,
               list_reduce(
                 list(CASE WHEN diff > 0 THEN diff ELSE 0.0::DOUBLE END ORDER BY ts),
                 (acc, x) -> (1.0::DOUBLE / 14.0::DOUBLE) * x
                   + (1.0::DOUBLE - 1.0::DOUBLE / 14.0::DOUBLE) * acc) AS avg_gain,
               list_reduce(
                 list(CASE WHEN diff < 0 THEN -diff ELSE 0.0::DOUBLE END ORDER BY ts),
                 (acc, x) -> (1.0::DOUBLE / 14.0::DOUBLE) * x
                   + (1.0::DOUBLE - 1.0::DOUBLE / 14.0::DOUBLE) * acc) AS avg_loss,
               count(*) AS n_moves
        FROM d WHERE diff IS NOT NULL GROUP BY 1)
      SELECT user_id, avg_gain, avg_loss, n_moves,
             CASE WHEN avg_gain + avg_loss = 0.0::DOUBLE THEN 50.0::DOUBLE
                  ELSE 100.0::DOUBLE * avg_gain / (avg_gain + avg_loss)
             END AS rsi
      FROM f
    """)
  )

  /** Daily TWAP per instrument over IRREGULAR ticks: each price is
    * weighted by how long it was the live price (µs until the next
    * tick that day; each day's last tick has no forward interval and
    * drops out — the standard open-interval convention). Exact:
    * weights are integer microseconds, price·weight sums are DECIMAL;
    * only the final ratio is DOUBLE. One lead-window scan + one
    * groupBy, both on the same key.
    */
  val twapDaily: Q = Q(
    "twap_daily",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val w = Window.partitionBy(col("user_id"), col("day"))
        .orderBy(col("ts"), col("event_id"))
      val ticks = events(s, dir)
        .withColumn("day", to_date(col("ts")))
        .withColumn("dt_us",
          lead(unix_micros(col("ts")), 1).over(w) - unix_micros(col("ts")))
        .filter(col("dt_us").isNotNull)
      val p = col("value").cast(DecimalType(12, 4))
      val dt = col("dt_us").cast(DecimalType(18, 0))
      ticks.groupBy("user_id", "day")
        .agg(
          (sum(p * dt).cast("double") / sum(dt).cast("double")).as("twap"),
          sum(dt).cast("double").as("covered_us"),
          count(lit(1)).as("n_intervals"))
    },
    Some(s"""
      WITH $evCte,
      d AS (
        SELECT user_id, CAST(ts AS DATE) AS day, value,
               lead(epoch_us(ts)) OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                        ORDER BY ts, event_id)
                 - epoch_us(ts) AS dt_us
        FROM ev),
      f AS (SELECT user_id, day,
                   CAST(value AS DECIMAL(19,4)) AS p,
                   CAST(dt_us AS DECIMAL(19,0)) AS dt
            FROM d WHERE dt_us IS NOT NULL)
      SELECT user_id, day,
             CAST(CAST(sum(p * dt) AS VARCHAR) AS DOUBLE)
               / CAST(sum(dt) AS DOUBLE) AS twap,
             CAST(sum(dt) AS DOUBLE) AS covered_us,
             count(*) AS n_intervals
      FROM f GROUP BY 1, 2
    """)
  )

  /** VPIN flow toxicity (Easley/López de Prado/O'Hara): tick-rule
    * signed volume in equal-volume buckets (the dollar-bar cumsum,
    * bucket = 500 notional like dollar_bars), trailing-5-bucket
    * |imbalance|/volume ratio. Decimal sums throughout; the tick-rule
    * forward fill is `last(…, ignoreNulls)` = DuckDB
    * `last_value(… IGNORE NULLS)` over the identical frame.
    */
  val vpinToxicity: Q = Q(
    "vpin_toxicity",
    (s, dir) => graft.ops.Vpin.vpin(
      events(s, dir).select(col("user_id"), col("ts"), col("value"),
        col("value").cast(org.apache.spark.sql.types.DecimalType(20, 4)).as("notional")),
      "user_id", "ts", "value", "notional", bucketSize = 500.0, trailing = 5),
    Some("""
      WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
                         CAST(value AS DECIMAL(20,4)) AS notional
                  FROM events),
      s1 AS (SELECT *, value - lag(value) OVER (PARTITION BY user_id ORDER BY ts) AS d
             FROM ev),
      s2 AS (SELECT *, CASE WHEN d > 0 THEN 1 WHEN d < 0 THEN -1 END AS draw FROM s1),
      s3 AS (SELECT *,
               coalesce(last_value(draw IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1) AS sign
             FROM s2),
      b AS (SELECT *,
              CAST(floor(CAST(sum(notional)
                OVER (PARTITION BY user_id ORDER BY ts
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) / 500.0) AS INT) AS bucket
            FROM s3),
      g AS (SELECT user_id, bucket,
              sum(CASE WHEN sign = 1 THEN notional ELSE CAST(0 AS DECIMAL(20,4)) END) AS buy_d,
              sum(CASE WHEN sign = -1 THEN notional ELSE CAST(0 AS DECIMAL(20,4)) END) AS sell_d,
              sum(notional) AS vol_d,
              count(*) AS n_trades
            FROM b GROUP BY 1, 2)
      SELECT user_id, bucket,
             CAST(buy_d AS DOUBLE) AS buy_vol,
             CAST(sell_d AS DOUBLE) AS sell_vol,
             CAST(vol_d AS DOUBLE) AS bucket_vol,
             CAST(abs(buy_d - sell_d) AS DOUBLE) AS abs_imbalance,
             n_trades,
             CAST(sum(abs(buy_d - sell_d))
               OVER (PARTITION BY user_id ORDER BY bucket
                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE) /
             CAST(sum(vol_d)
               OVER (PARTITION BY user_id ORDER BY bucket
                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE) AS vpin
      FROM g
    """)
  )

  /** Parkinson + Garman–Klass daily realized volatility from hourly
    * candles. Milli-nat integer quantization of the per-candle logs
    * (Indicators.rangeVolatility) makes the daily sums exact; the
    * ln-derived constants are identical double literals on both
    * sides.
    */
  val rangeVol: Q = Q(
    "range_volatility",
    (s, dir) => graft.ops.Indicators.rangeVolatility(
      events(s, dir), "user_id", "ts", "value"),
    Some("""
      WITH w AS (
        SELECT user_id,
               make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS ws,
               ts, value
        FROM events),
      c AS (
        SELECT user_id, ws,
               arg_min(value, ts) AS o, max(value) AS h,
               min(value) AS l, arg_max(value, ts) AS cl
        FROM w GROUP BY 1, 2),
      q AS (
        SELECT user_id, ws::DATE AS day,
               CAST(floor(ln(h / l) * 1e3 + 0.5) AS BIGINT) AS um,
               CAST(floor(ln(cl / o) * 1e3 + 0.5) AS BIGINT) AS cm
        FROM c WHERE l > 0),
      a AS (
        SELECT user_id, day, count(*) AS n_candles,
               CAST(sum(um * um) AS BIGINT) AS sum_u2,
               CAST(sum(cm * cm) AS BIGINT) AS sum_c2
        FROM q GROUP BY 1, 2)
      SELECT user_id, day, n_candles, sum_u2, sum_c2,
             sqrt(CAST(sum_u2 AS DOUBLE)
                  / (CAST(2.7725887222397812 AS DOUBLE) * n_candles) / 1e6)
               AS parkinson,
             sqrt(greatest(
               (CAST(0.5 AS DOUBLE) * CAST(sum_u2 AS DOUBLE)
                  - CAST(0.3862943611198906 AS DOUBLE) * CAST(sum_c2 AS DOUBLE))
                 / n_candles / 1e6, 0.0)) AS garman_klass
      FROM a
    """)
  )

  /** Rolling 24-slot Pearson correlation between bucketed instrument
    * pairs over aligned hourly closes — bollinger's decimal-moment
    * policy extended to cross-moments (Σxy exact, one double formula
    * at the edge).
    */
  val pairCorrelation: Q = Q(
    "pair_correlation",
    (s, dir) => graft.ops.Indicators.rollingPairCorrelation(
      events(s, dir).select("user_id", "ts", "value"),
      "user_id", "ts", "value", slotDur = "1 hour", n = 24, bucketSize = 10),
    Some("""
      WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      cl AS (
        SELECT user_id AS k, CAST(floor(user_id / 10) AS BIGINT) AS bkt,
               make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS slot,
               CAST(arg_max(value, ts) AS DECIMAL(18,4)) AS c
        FROM ev GROUP BY 1, 2, 3),
      p AS (
        SELECT a.k AS k1, b.k AS k2, a.slot, a.c AS x, b.c AS y
        FROM cl a JOIN cl b ON a.bkt = b.bkt AND a.slot = b.slot
        WHERE a.k < b.k),
      m AS (
        SELECT k1, k2, slot, x, y,
               count(*) OVER w AS n_slots,
               CAST(count(*) OVER w AS DOUBLE) AS cd,
               CAST(sum(x) OVER w AS DOUBLE) AS sx,
               CAST(sum(y) OVER w AS DOUBLE) AS sy,
               CAST(CAST(sum(x * y) OVER w AS VARCHAR) AS DOUBLE) AS sxy,
               CAST(CAST(sum(x * x) OVER w AS VARCHAR) AS DOUBLE) AS sxx,
               CAST(CAST(sum(y * y) OVER w AS VARCHAR) AS DOUBLE) AS syy
        FROM p
        WINDOW w AS (PARTITION BY k1, k2 ORDER BY slot
                     ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
      SELECT k1, k2, slot,
             CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y, n_slots,
             CASE WHEN cd * sxx - sx * sx <= 0.0::DOUBLE
                    OR cd * syy - sy * sy <= 0.0::DOUBLE THEN NULL
                  ELSE (cd * sxy - sx * sy)
                       / (sqrt(cd * sxx - sx * sx) * sqrt(cd * syy - sy * sy))
             END AS corr
      FROM m
    """)
  )

  /** Per-trade transaction-cost analysis (TCA): effective spread
    * `2|p − mid₀|`, realized spread `2·s·(p − mid_Δ)`, and price
    * impact `2·s·(mid_Δ − mid₀)` with `s` the Lee-Ready-lite side
    * sign vs the prevailing mid. `mid₀` = backward as-of quote at the
    * trade, `mid_Δ` = forward as-of quote ≥ 5 minutes later — the
    * composition of both as-of directions over the same quote
    * stream. All spreads are per-row double arithmetic (no reordering
    * sums), so determinism needs no quantization. Inherits
    * AsOfJoin.directional's contract that right-side timestamps are
    * unique per key (the events table guarantees it) — equal-ts
    * quotes would make the picked mid engine-dependent.
    *
    * Scale: two as-of joins, each one shuffle and one sorted pass of
    * AsOfJoin.directional over the union of trades and quotes per user
    * (the native operator slots in unchanged); output is one row per
    * trade.
    */
  val tcaSpread: Q = Q(
    "tca_spread",
    (s, dir) => {
      val ev = events(s, dir)
      val quotes = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("q_ts"), col("value").as("mid"))
      val trades = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"), col("value").as("price"))
      val before = graft.ops.AsOfJoin.directional(trades, quotes, "user_id",
          "ts", "q_ts", expr("INTERVAL 1 DAY"), "backward")
        .select(col("user_id"), col("event_id"), col("ts"), col("price"),
          col("mid").as("mid_before"))
        .withColumn("h_ts", col("ts") + expr("INTERVAL 5 MINUTES"))
      val both = graft.ops.AsOfJoin.directional(before, quotes, "user_id",
          "h_ts", "q_ts", expr("INTERVAL 1 DAY"), "forward")
        .select(col("user_id"), col("event_id"), col("ts"), col("price"),
          col("mid_before"), col("mid").as("mid_after"))
      val sgn = when(col("price") >= col("mid_before"), 1).otherwise(-1)
      both.filter(col("mid_before").isNotNull)
        .withColumn("side_sign", sgn)
        .withColumn("effective_spread",
          lit(2.0) * abs(col("price") - col("mid_before")))
        .withColumn("realized_spread",
          when(col("mid_after").isNotNull,
            lit(2.0) * col("side_sign") * (col("price") - col("mid_after"))))
        .withColumn("price_impact",
          when(col("mid_after").isNotNull,
            lit(2.0) * col("side_sign") * (col("mid_after") - col("mid_before"))))
    },
    Some("""
      WITH q AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS q_ts, value AS mid
                 FROM events WHERE event_type = 'view'),
      tr AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value AS price
             FROM events WHERE event_type = 'purchase'),
      b AS (
        SELECT tr.user_id, tr.event_id, tr.ts, tr.price, q.mid AS mid_before
        FROM tr LEFT JOIN q
          ON tr.user_id = q.user_id
         AND q.q_ts <= tr.ts AND q.q_ts >= tr.ts - INTERVAL 1 DAY
        QUALIFY row_number() OVER (PARTITION BY tr.user_id, tr.event_id
                                   ORDER BY q.q_ts DESC NULLS LAST) = 1),
      a AS (
        SELECT b.user_id, b.event_id, b.ts, b.price, b.mid_before,
               q.mid AS mid_after
        FROM b LEFT JOIN q
          ON b.user_id = q.user_id
         AND q.q_ts >= b.ts + INTERVAL 5 MINUTE
         AND q.q_ts <= b.ts + INTERVAL 5 MINUTE + INTERVAL 1 DAY
        QUALIFY row_number() OVER (PARTITION BY b.user_id, b.event_id
                                   ORDER BY q.q_ts ASC NULLS LAST) = 1)
      SELECT user_id, event_id, ts, price, mid_before, mid_after,
             CASE WHEN price >= mid_before THEN 1 ELSE -1 END AS side_sign,
             2.0::DOUBLE * abs(price - mid_before) AS effective_spread,
             CASE WHEN mid_after IS NOT NULL THEN
               2.0::DOUBLE * (CASE WHEN price >= mid_before THEN 1 ELSE -1 END)
                 * (price - mid_after) END AS realized_spread,
             CASE WHEN mid_after IS NOT NULL THEN
               2.0::DOUBLE * (CASE WHEN price >= mid_before THEN 1 ELSE -1 END)
                 * (mid_after - mid_before) END AS price_impact
      FROM a WHERE mid_before IS NOT NULL
    """)
  )

  /** Feed-health monitoring: per-instrument inter-arrival gap
    * distribution (n, max, exact p50/p99, mean) — the staleness
    * signal an ingest pipeline alerts on. Gaps are exact integer
    * microseconds; percentiles use the integer ceiling-rank selection
    * of value_quantiles (`max` of the first k sorted = the k-th
    * element), so every output is deterministic with no float
    * percentile interpolation.
    *
    * Scale: one (key, time) window for the lag, one (key, gap) window
    * for ranks, one groupBy — all on the same key partitioning;
    * output is |instruments| rows.
    */
  val feedHealth: Q = Q(
    "feed_health",
    (s, dir) => {
      val byTime = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val g = events(s, dir)
        .select(col("user_id"), col("event_id"),
          (unix_micros(col("ts")) -
            unix_micros(lag(col("ts"), 1).over(byTime))).as("gap_us"))
        .filter(col("gap_us").isNotNull)
      val byGap = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("gap_us"), col("event_id"))
      val ranked = g
        .withColumn("rn", row_number().over(byGap))
        .withColumn("cnt", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
      ranked.groupBy("user_id").agg(
        count(lit(1)).as("n_gaps"),
        max(col("gap_us")).as("max_gap_us"),
        max(when(col("rn") <= expr("(50 * cnt + 99) div 100"), col("gap_us")))
          .as("p50_gap_us"),
        max(when(col("rn") <= expr("(99 * cnt + 99) div 100"), col("gap_us")))
          .as("p99_gap_us"),
        (sum(col("gap_us")).cast("double") / count(lit(1))).as("avg_gap_us"))
    },
    Some("""
      WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events),
      g AS (
        SELECT user_id, event_id,
               epoch_us(ts) - lag(epoch_us(ts))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        FROM e),
      r AS (
        SELECT user_id, gap_us,
               row_number() OVER (PARTITION BY user_id ORDER BY gap_us, event_id) AS rn,
               count(*) OVER (PARTITION BY user_id) AS cnt
        FROM g WHERE gap_us IS NOT NULL)
      SELECT user_id, count(*) AS n_gaps,
             CAST(max(gap_us) AS BIGINT) AS max_gap_us,
             CAST(max(CASE WHEN rn <= (50 * cnt + 99) // 100 THEN gap_us END) AS BIGINT)
               AS p50_gap_us,
             CAST(max(CASE WHEN rn <= (99 * cnt + 99) // 100 THEN gap_us END) AS BIGINT)
               AS p99_gap_us,
             CAST(CAST(sum(gap_us) AS BIGINT) AS DOUBLE) / count(*) AS avg_gap_us
      FROM r GROUP BY 1
    """)
  )

  /** Roll (1984) implied-spread estimator per instrument:
    * spread = 2·√(−cov(Δp_t, Δp_{t−1})) — the classic "effective
    * spread from the serial covariance of price changes" model,
    * complementing tca_spread's realized measure. Determinism: price
    * deltas are DECIMAL(20,4) (exact subtraction), delta products are
    * exact decimals summed exactly; the covariance assembles from the
    * exact moment sums in DOUBLE (decimal→double through VARCHAR on
    * the DuckDB side — the Registry scale-8 rule). A positive serial
    * covariance (model violated) reports NULL spread, flagged.
    */
  val rollSpread: Q = Q(
    "roll_spread",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val d = events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("value").cast(DecimalType(20, 4)).as("p"))
        .withColumn("d", col("p") - lag(col("p"), 1).over(w))
        .withColumn("dl", lag(col("d"), 1).over(w))
        .filter(col("d").isNotNull && col("dl").isNotNull)
      val m = d.groupBy("user_id").agg(
        count(lit(1)).as("n"),
        sum(col("d")).as("sd"), sum(col("dl")).as("sdl"),
        sum(col("d") * col("dl")).as("sddl"))
      def dbl(c: String) = col(c).cast("double")
      val nD = col("n").cast("double")
      val cov = (nD * dbl("sddl") - dbl("sd") * dbl("sdl")) / (nD * nD)
      m.select(col("user_id"), col("n"),
        cov.as("serial_cov"),
        when(cov < 0, lit(2.0) * sqrt(-cov)).as("roll_spread"),
        (cov >= 0).as("model_violated"))
    },
    Some("""
      WITH ev AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
               CAST(value AS DECIMAL(20,4)) AS p
        FROM events),
      d0 AS (
        SELECT user_id, ts, event_id, p,
               p - lag(p) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d
        FROM ev),
      d1 AS (
        SELECT user_id, d,
               lag(d) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dl
        FROM d0),
      m AS (
        SELECT user_id, count(*) AS n,
               sum(d) AS sd, sum(dl) AS sdl, sum(d * dl) AS sddl
        FROM d1 WHERE d IS NOT NULL AND dl IS NOT NULL
        GROUP BY 1),
      dm AS (
        SELECT user_id, n, CAST(n AS DOUBLE) AS nd,
               CAST(CAST(sd AS VARCHAR) AS DOUBLE) AS sd,
               CAST(CAST(sdl AS VARCHAR) AS DOUBLE) AS sdl,
               CAST(CAST(sddl AS VARCHAR) AS DOUBLE) AS sddl
        FROM m)
      SELECT user_id, n,
             (nd * sddl - sd * sdl) / (nd * nd) AS serial_cov,
             CASE WHEN (nd * sddl - sd * sdl) / (nd * nd) < 0
                  THEN 2.0 * sqrt(-((nd * sddl - sd * sdl) / (nd * nd)))
             END AS roll_spread,
             (nd * sddl - sd * sdl) / (nd * nd) >= 0 AS model_violated
      FROM dm
    """)
  )

  /** Kyle (1985) price impact per instrument: OLS slope of Δprice on
    * tick-rule-signed volume (`k` from the props payload — the
    * candles_volume volume role), from exact decimal/integer moment
    * sums. Completes the microstructure triple with vpin_toxicity and
    * roll_spread on the same trade stream and sign convention.
    */
  val kyleLambda: Q = Q(
    "kyle_lambda",
    (s, dir) => {
      import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
      val kSchema = StructType(Seq(StructField("k", IntegerType)))
      Indicators.kyleLambda(
        events(s, dir).select(col("event_id"), col("user_id"), col("ts"),
          col("value"),
          from_json(col("props"), kSchema).getField("k").as("qty")),
        "user_id", Seq("ts", "event_id"), "value", "qty")
    },
    Some("""
      WITH ev AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
               CAST(value AS DECIMAL(19,4)) AS p,
               CAST(props->>'k' AS INT) AS qty
        FROM events),
      d0 AS (
        SELECT user_id, ts, event_id, qty,
               CAST(p - lag(p) OVER w AS DECIMAL(18,4)) AS d,
               CASE WHEN p > lag(p) OVER w THEN 1
                    WHEN p < lag(p) OVER w THEN -1 END AS raw,
               row_number() OVER w AS rn
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sg AS (
        SELECT user_id, d, qty,
               coalesce(last_value(raw IGNORE NULLS) OVER
                 (PARTITION BY user_id ORDER BY rn ROWS UNBOUNDED PRECEDING), 1)
                 AS sign
        FROM d0),
      sv AS (
        SELECT user_id, d, CAST(sign AS BIGINT) * CAST(qty AS BIGINT) AS sv
        FROM sg WHERE d IS NOT NULL),
      m AS (
        SELECT user_id, count(*) AS n,
               sum(d) AS sd, sum(d * d) AS sd2,
               sum(sv) AS ssv,
               sum(CAST(sv AS DECIMAL(14,0)) * CAST(sv AS DECIMAL(14,0)))
                 AS ssv2,
               sum(d * CAST(sv AS DECIMAL(14,0))) AS sdsv
        FROM sv GROUP BY 1),
      dm AS (
        SELECT user_id, n, CAST(n AS DOUBLE) AS nd,
               CAST(CAST(sd AS VARCHAR) AS DOUBLE) AS sd,
               CAST(CAST(sd2 AS VARCHAR) AS DOUBLE) AS sd2,
               CAST(ssv AS DOUBLE) AS ssv,
               CAST(ssv2 AS DOUBLE) AS ssv2,
               CAST(CAST(sdsv AS VARCHAR) AS DOUBLE) AS sdsv
        FROM m)
      SELECT user_id, n,
             CASE WHEN nd * ssv2 - ssv * ssv > 0
                  THEN (nd * sdsv - sd * ssv) / (nd * ssv2 - ssv * ssv)
             END AS kyle_lambda,
             CASE WHEN nd * ssv2 - ssv * ssv > 0
                  THEN (sd - ((nd * sdsv - sd * ssv) / (nd * ssv2 - ssv * ssv))
                          * ssv) / nd
             END AS intercept,
             CASE WHEN nd * ssv2 - ssv * ssv > 0 AND nd * sd2 - sd * sd > 0
                  THEN (nd * sdsv - sd * ssv) * (nd * sdsv - sd * ssv)
                       / ((nd * ssv2 - ssv * ssv) * (nd * sd2 - sd * sd))
             END AS r2
      FROM dm
    """)
  )

  /** Amihud (2002) daily illiquidity per instrument:
    * mean(|Δp| / (p_prev·qty)), each ratio pico-quantized to integer
    * before the exact-integer daily mean (LangModel quantization
    * policy).
    */
  val amihudIlliq: Q = Q(
    "amihud_illiq",
    (s, dir) => {
      import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
      val kSchema = StructType(Seq(StructField("k", IntegerType)))
      Indicators.amihud(
        events(s, dir).select(col("event_id"), col("user_id"), col("ts"),
          col("value"),
          from_json(col("props"), kSchema).getField("k").as("qty")),
        "user_id", "ts", "value", "qty", tieCols = Seq("event_id"))
    },
    Some("""
      WITH ev AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
               CAST(value AS DECIMAL(20,4)) AS p,
               CAST(props->>'k' AS INT) AS qty
        FROM events),
      d0 AS (
        SELECT user_id, ts, qty,
               p - lag(p) OVER w AS d,
               lag(p) OVER w AS pl
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      t AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               CAST(floor(abs(CAST(d AS DOUBLE))
                 / (CAST(pl AS DOUBLE) * CAST(qty AS DOUBLE)) * 1e12) AS BIGINT)
                 AS tq
        FROM d0 WHERE d IS NOT NULL AND pl > 0 AND qty > 0)
      SELECT user_id, day, count(*) AS n_obs,
             CAST(sum(tq) AS BIGINT) AS sum_pico,
             CAST(CAST(sum(tq) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)
               / 1e12 AS amihud
      FROM t GROUP BY 1, 2
    """)
  )

  /** Realized variance vs jump-robust bipower variation per
    * instrument (Barndorff-Nielsen–Shephard), with the jump component
    * and its variance share. Exact decimal moment sums; π/2 as a
    * pinned double literal.
    */
  val bipowerVar: Q = Q(
    "bipower_var",
    (s, dir) => Indicators.bipowerVariation(
      events(s, dir).select(col("event_id"), col("user_id"), col("ts"),
        col("value")),
      "user_id", Seq("ts", "event_id"), "value"),
    Some("""
      WITH ev AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
               CAST(value AS DECIMAL(19,4)) AS p
        FROM events),
      d0 AS (
        SELECT user_id, ts, event_id,
               CAST(p - lag(p) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    AS DECIMAL(18,4)) AS d
        FROM ev),
      d1 AS (
        SELECT user_id, d,
               lag(d) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dl
        FROM d0),
      m AS (
        SELECT user_id, count(*) AS n,
               sum(d * d) AS srv, sum(abs(d) * abs(dl)) AS sbp
        FROM d1 WHERE d IS NOT NULL AND dl IS NOT NULL
        GROUP BY 1),
      dm AS (
        SELECT user_id, n,
               CAST(CAST(srv AS VARCHAR) AS DOUBLE) AS rv,
               CAST(1.5707963267948966 AS DOUBLE)
                 * CAST(CAST(sbp AS VARCHAR) AS DOUBLE) AS bpv
        FROM m)
      SELECT user_id, n,
             rv AS realized_var,
             bpv AS bipower_var,
             greatest(rv - bpv, 0.0) AS jump_var,
             CASE WHEN rv > 0 THEN greatest(rv - bpv, 0.0) / rv END AS jump_share
      FROM dm
    """)
  )

  /** Two-sided CUSUM monitor per user series (Page 1954): z
    * standardized against DECIMAL-exact per-key moments, micro-σ
    * integer recursions with Page restart, full trajectory emitted.
    * The sequential complement to psi_drift's batch window screen;
    * slack 0.5σ / threshold 3σ (standard tuning). The oracle restates
    * the reset recursion as a per-key row-stepped RECURSIVE chain —
    * depth = longest per-user series (~70 here), breadth = all users
    * per step.
    */
  val cusumMonitor: Q = Q(
    "cusum_monitor",
    (s, dir) => graft.ops.Cusum.monitor(events(s, dir), "user_id",
      Seq("ts", "event_id"), "value",
      slackMicro = 500000L, thresholdMicro = 3000000L),
    Some(s"""
      WITH RECURSIVE $evCte,
      p AS (SELECT user_id, ts, event_id, CAST(value AS DECIMAL(19,4)) AS p
            FROM ev),
      m AS (SELECT user_id, count(*) AS n,
                   sum(p) AS s, sum(p * p) AS ss
            FROM p GROUP BY 1),
      st AS (SELECT user_id, n,
                    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
                    sqrt(CAST(n AS DOUBLE) * CAST(CAST(ss AS VARCHAR) AS DOUBLE)
                         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                      / CAST(n AS DOUBLE) AS sigma
             FROM m),
      stf AS (SELECT * FROM st WHERE n >= 2 AND sigma > 0.0),
      zr AS (SELECT p.user_id, p.ts, p.event_id,
                    floor((CAST(p.p AS DOUBLE) - stf.mu) / stf.sigma * 1e6 + 0.5)::BIGINT AS z_micro,
                    row_number() OVER (PARTITION BY p.user_id
                                       ORDER BY p.ts, p.event_id) AS rn
             FROM p JOIN stf USING (user_id)),
      rec AS (
        SELECT user_id, rn, ts, event_id, z_micro,
               greatest(z_micro - 500000, 0) AS s_plus,
               greatest(-z_micro - 500000, 0) AS s_minus
        FROM zr WHERE rn = 1
        UNION ALL
        SELECT z.user_id, z.rn, z.ts, z.event_id, z.z_micro,
               greatest(CASE WHEN r.s_plus >= 3000000 OR r.s_minus >= 3000000
                             THEN 0 ELSE r.s_plus END + z.z_micro - 500000, 0),
               greatest(CASE WHEN r.s_plus >= 3000000 OR r.s_minus >= 3000000
                             THEN 0 ELSE r.s_minus END - z.z_micro - 500000, 0)
        FROM rec r JOIN zr z ON z.user_id = r.user_id AND z.rn = r.rn + 1)
      SELECT user_id, ts, event_id, z_micro,
             CAST(s_plus AS BIGINT) AS s_plus,
             CAST(s_minus AS BIGINT) AS s_minus,
             (s_plus >= 3000000 OR s_minus >= 3000000) AS alarm
      FROM rec
    """)
  )

  /** Theil–Sen robust trend per user series: lower-median pairwise
    * slope (pico-units/µs) over the bottom-64 md5 sample — the
    * 29%-breakdown robust complement to kyle_lambda's OLS. Pair work
    * bounded at k²/2 per key at any series length.
    */
  val theilSenSlope: Q = Q(
    "theilsen_slope",
    (s, dir) => graft.ops.TheilSen.slope(
      events(s, dir).withColumn("x_us", unix_micros(col("ts"))),
      "user_id", "x_us", "value", "event_id", k = 64, salt = "tsen"),
    Some(s"""
      WITH $evCte,
      h AS (SELECT user_id AS key, epoch_us(ts) AS x, value AS y, event_id AS id,
                   ('0x' || substr(md5('tsen:' || event_id::VARCHAR), 1, 8))::BIGINT AS hh
            FROM ev),
      smp AS (SELECT key, x, y, id FROM (
                SELECT key, x, y, id,
                       row_number() OVER (PARTITION BY key ORDER BY hh, id) AS rn
                FROM h) WHERE rn <= 64),
      ns AS (SELECT key, count(*) AS n_sample FROM smp GROUP BY 1),
      pr AS (SELECT a.key,
                    floor((b.y - a.y) / (b.x - a.x) * 1e12 + 0.5)::BIGINT AS slope_pico,
                    a.id AS ia, b.id AS ib
             FROM smp a JOIN smp b ON a.key = b.key AND a.x < b.x),
      rk AS (SELECT key, slope_pico,
                    row_number() OVER (PARTITION BY key
                                       ORDER BY slope_pico, ia, ib) AS prn,
                    count(*) OVER (PARTITION BY key) AS cnt
             FROM pr)
      SELECT key, n_sample, CAST(cnt AS BIGINT) AS n_pairs, slope_pico
      FROM rk JOIN ns USING (key)
      WHERE prn = (cnt + 1) // 2
    """)
  )

  /** MACD (Appel): fast/slow EWMAs, their difference, the signal
    * EWMA of that difference, histogram — per instrument over the
    * trade stream, as ONE fused ordered pass (`Ewma.macd`: the naive
    * composition repartitions the table three times; the fused fold
    * keeps 3 doubles of state and pays exactly `ewma_rowwise`'s one
    * shuffle). The oracle replays all three recursions per row with
    * prefix-window `list_reduce` folds — every step the same IEEE
    * double expression in the same order on both engines (the
    * ewma_rowwise determinism argument, chained).
    */
  val macdSignal: Q = Q(
    "macd_signal",
    (s, dir) => graft.ops.Ewma.macd(
      events(s, dir).select("event_id", "user_id", "ts", "value"),
      "user_id", Seq("ts", "event_id"), "value"),
    Some("""
      WITH base AS (
        SELECT event_id, user_id, ts, value,
               list_reduce(list(value) OVER w,
                 (acc, x) -> (2::DOUBLE / 13::DOUBLE) * x
                           + (1::DOUBLE - 2::DOUBLE / 13::DOUBLE) * acc) AS ema_fast,
               list_reduce(list(value) OVER w,
                 (acc, x) -> (2::DOUBLE / 27::DOUBLE) * x
                           + (1::DOUBLE - 2::DOUBLE / 27::DOUBLE) * acc) AS ema_slow
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      m AS (SELECT *, ema_fast - ema_slow AS macd FROM base),
      sg AS (
        SELECT *, list_reduce(list(macd) OVER w2,
                    (acc, x) -> (2::DOUBLE / 10::DOUBLE) * x
                              + (1::DOUBLE - 2::DOUBLE / 10::DOUBLE) * acc) AS signal
        FROM m
        WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT event_id, user_id, ts, value, ema_fast, ema_slow, macd,
             signal, macd - signal AS histogram
      FROM sg
    """)
  )

  val all: Seq[Q] = Seq(vwapDaily, bollingerBands, drawdownSeries, rsiWilder,
    twapDaily, vpinToxicity, rangeVol, pairCorrelation, tcaSpread, feedHealth,
    rollSpread, kyleLambda, amihudIlliq, bipowerVar, cusumMonitor, theilSenSlope,
    macdSignal)
}
