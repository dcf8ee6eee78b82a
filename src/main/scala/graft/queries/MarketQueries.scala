package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.ops.{AsOfJoin, Candles, DollarBars, Envelope, Ewma, ImbalanceBars, Ofi, RangeJoin}

/** Market-data (reference-parity) queries over the `events` table,
  * which plays the trade/orderbook stream role (FIXTURES.md §B):
  * `ts` → exchange timestamp, `user_id` → instrument code,
  * `value` → price/notional, `event_type` → side/stream routing,
  * `props` (JSON string) → nested payload (the `orderbook_units` role).
  *
  * Every query maps to SURVEY.md §2 operator ids, noted per query.
  */
object MarketQueries {

  /** Dollar-bar size for the `events.value` notional (value ∈ ~[0,200],
    * ~67 events/key ⇒ ~13 bars/key). Reference uses 3 000 000 KRW
    * (`dags_spark_submit_bash_process_raw_data_from_gcs.py:40`).
    */
  val BarSize = 500.0

  private val EwmaAlpha = 0.8

  private def events(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)

  /** `props` payload schema — explicit, never inferred (SURVEY.md §1.2). */
  private val PropsSchema = StructType(Seq(StructField("k", IntegerType)))

  private def withK(df: DataFrame): Column =
    from_json(col("props"), PropsSchema).getField("k")

  /** Flagship: dollar bars (reference `processing_raw_data_from_gcs.py:108-141`).
    * W1 cumsum + P11 floor-bucket + A1-A5 bar agg.
    */
  val dollarBars: Q = Q(
    "dollar_bars",
    (s, dir) => {
      val ev = events(s, dir)
        .select(
          col("user_id"),
          col("ts"),
          col("value"),
          col("value").cast(DecimalType(20, 4)).as("notional")
        )
      DollarBars.bars(ev, "user_id", "ts", "value", "notional", BarSize)
    },
    Some("""
      WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      t AS (
        SELECT user_id, ts, value,
               CAST(sum(CAST(value AS DECIMAL(20,4)))
                    OVER (PARTITION BY user_id ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS cumsum
        FROM ev),
      b AS (SELECT *, CAST(floor(cumsum / 500.0) AS INT) AS bar_num FROM t)
      SELECT user_id, bar_num,
             arg_min(value, ts) AS open,
             max(value)         AS high,
             min(value)         AS low,
             arg_max(value, ts) AS close,
             CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS volume,
             count(*)           AS n_trades,
             min(ts)            AS start_ts,
             max(ts)            AS end_ts
      FROM b GROUP BY 1, 2
    """)
  )

  /** Same bars via the two-phase distributed prefix sum (PrefixSum) —
    * parallelism independent of key count, decimal-exact, so the
    * oracle is IDENTICAL to dollar_bars. The plan for 3-key 100 TB.
    */
  val dollarBarsScalable: Q = Q(
    "dollar_bars_scalable",
    (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), col("ts"), col("value"),
          col("value").cast(DecimalType(20, 4)).as("notional"))
      DollarBars.barsScalable(ev, "user_id", "ts", "value", "notional", BarSize)
    },
    dollarBars.oracle
  )

  /** Tick bars — fixed trade-count sampling (the row-count sibling of
    * dollar bars): bar_num = floor(rank/N) per key via row_number.
    */
  val tickBars: Q = Q(
    "tick_bars",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts")
      events(s, dir)
        .select(col("user_id"), col("ts"), col("value"),
          col("value").cast(DecimalType(20, 4)).as("notional"))
        .withColumn("bar_num",
          floor((row_number().over(w) - 1) / 25).cast("int"))
        .groupBy(col("user_id"), col("bar_num"))
        .agg(
          min_by(col("value"), col("ts")).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), col("ts")).as("close"),
          sum(col("notional")).cast("double").as("volume"),
          count(lit(1)).as("n_trades"),
          min(col("ts")).as("start_ts"),
          max(col("ts")).as("end_ts"))
    },
    Some("""
      WITH t AS (
        SELECT user_id, ts, value,
               CAST(floor((row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1) / 25) AS INT) AS bar_num
        FROM events)
      SELECT user_id, bar_num,
             arg_min(value, ts) AS open,
             max(value)         AS high,
             min(value)         AS low,
             arg_max(value, ts) AS close,
             CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS volume,
             count(*)           AS n_trades,
             min(ts)            AS start_ts,
             max(ts)            AS end_ts
      FROM t GROUP BY 1, 2
    """)
  )

  /** Candle agg SQL fragment shared by tumbling/sliding oracles —
    * mirrors Candles.aggs exactly (decimal-exact sums; volatility from
    * exact moments so Spark and DuckDB run identical IEEE ops).
    */
  private val candleAggSql = """
             arg_min(value, ts) AS open,
             max(value)         AS high,
             min(value)         AS low,
             arg_max(value, ts) AS close,
             CAST(sum(CAST(value AS DECIMAL(10,4))) AS DOUBLE) AS volume,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(10,4))
                           ELSE CAST(0 AS DECIMAL(10,4)) END) AS DOUBLE) AS side_volume,
             CAST(sum(CAST(value AS DECIMAL(10,4))) AS DOUBLE) / count(*) AS avg_value,
             CASE WHEN count(*) > 1 THEN
               sqrt(greatest(
                 (CAST(CAST(sum(CAST(value AS DECIMAL(10,4)) * CAST(value AS DECIMAL(10,4))) AS VARCHAR) AS DOUBLE)
                  - CAST(sum(CAST(value AS DECIMAL(10,4))) AS DOUBLE)
                    * CAST(sum(CAST(value AS DECIMAL(10,4))) AS DOUBLE) / count(*))
                 / (count(*) - 1), 0.0))
             END AS volatility,
             count(*) AS n_events"""

  /** Tumbling 1 h OHLCV candles (reference 10 s candles,
    * `kafka_to_kafka_by_spark_for_druid.py:100-132`): T2 + A1-A7.
    */
  val candlesTumbling: Q = Q(
    "candles_tumbling",
    (s, dir) => Candles.tumbling(events(s, dir), "ts", "user_id", "value",
      "event_type", "purchase", "1 hour"),
    Some(s"""
      WITH w AS (
        SELECT user_id, ts, event_type, value,
               make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS window_start
        FROM events)
      SELECT window_start,
             window_start + INTERVAL 1 HOUR AS window_end,
             user_id,$candleAggSql
      FROM w GROUP BY 1, 2, 3
    """)
  )

  /** Sliding 1 h / 15 min candles (reference 10 min / 15 s,
    * `kafka_upbit_realtime_processing.py:108-194`): T3 + A1-A7.
    */
  val candlesSliding: Q = Q(
    "candles_sliding",
    (s, dir) => Candles.sliding(events(s, dir), "ts", "user_id", "value",
      "event_type", "purchase", "1 hour", "15 minutes"),
    Some(s"""
      WITH g AS (
        SELECT user_id, ts, event_type, value,
               make_timestamp((epoch_us(ts) // 900000000) * 900000000) AS slide_bucket
        FROM events),
      w AS (
        SELECT g.*, slide_bucket - k * (INTERVAL 15 MINUTE) AS window_start
        FROM g CROSS JOIN range(4) r(k)
        WHERE ts < slide_bucket - k * (INTERVAL 15 MINUTE) + INTERVAL 1 HOUR)
      SELECT window_start,
             window_start + INTERVAL 1 HOUR AS window_end,
             user_id,$candleAggSql
      FROM w GROUP BY 1, 2, 3
    """)
  )

  /** Tumbling candles with a SEPARATE volume column + latency mean —
    * the reference druid job's real shape (OHLC on trade_price,
    * volume sums on trade_volume, mean(time_diff);
    * `kafka_to_kafka_by_spark_for_druid.py:107-131`). Here `value`
    * plays price, `k` (props payload) plays volume, and k/1000 plays
    * the collection latency (k is an int, so the double has ≤3
    * decimal digits — no 4-dp decimal-cast tie for the oracle).
    */
  val candlesVolume: Q = Q(
    "candles_volume",
    (s, dir) => {
      val ev = events(s, dir)
      val enriched = ev.select(col("user_id"), col("ts"), col("event_type"),
        col("value"), withK(ev).as("k"),
        (withK(ev).cast("double") / 1000.0).as("latency"))
      Candles.tumbling(enriched, "ts", "user_id", "value",
        "event_type", "purchase", "1 hour",
        volCol = "k", latencyCol = Some("latency"))
    },
    Some(s"""
      WITH w AS (
        SELECT user_id, ts, event_type, value,
               CAST(props->>'k' AS INT) AS k,
               CAST(CAST(props->>'k' AS INT) AS DOUBLE) / 1000.0 AS latency,
               make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS window_start
        FROM events)
      SELECT window_start,
             window_start + INTERVAL 1 HOUR AS window_end,
             user_id,
             arg_min(value, ts) AS open,
             max(value)         AS high,
             min(value)         AS low,
             arg_max(value, ts) AS close,
             CAST(sum(CAST(k AS DECIMAL(18,4))) AS DOUBLE) AS volume,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(k AS DECIMAL(18,4))
                           ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS side_volume,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_value,
             CASE WHEN count(*) > 1 THEN
               sqrt(greatest(
                 (CAST(CAST(sum(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
                  - CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                    * CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*))
                 / (count(*) - 1), 0.0))
             END AS volatility,
             count(*) AS n_events,
             CAST(sum(CAST(latency AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_latency
      FROM w GROUP BY 1, 2, 3
    """)
  )

  /** As-of join (reference `processing_raw_data_from_gcs.py:143-159`,
    * J1+W4): dollar bars built from purchase events, each joined to
    * the latest click event within a 3-day lookback (left outer —
    * bars with no click in range keep nulls).
    */
  /** The (bars, clicks) pair every as-of variant joins: purchase
    * dollar-bars as the left/sparse side, clicks as the right/dense
    * side (reference roles).
    */
  private def barsAndClicks(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = events(s, dir)
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"),
        col("value").cast(DecimalType(20, 4)).as("notional"))
    val bars = DollarBars
      .bars(purchases, "user_id", "ts", "value", "notional", BarSize)
      .select("user_id", "bar_num", "close", "end_ts")
    val clicks = ev
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("value").as("click_value"))
    (bars, clicks)
  }

  /** Oracle CTEs shared by the as-of direction variants. */
  private val asofCtes = """
      WITH p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
      t AS (
        SELECT user_id, ts, value,
               CAST(sum(CAST(value AS DECIMAL(20,4)))
                    OVER (PARTITION BY user_id ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS cumsum
        FROM p),
      b AS (SELECT *, CAST(floor(cumsum / 500.0) AS INT) AS bar_num FROM t),
      bars AS (
        SELECT user_id, bar_num, arg_max(value, ts) AS close, max(ts) AS end_ts
        FROM b GROUP BY 1, 2),
      c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click')"""

  /** Forward as-of: the EARLIEST click within 3 days AFTER each bar
    * close — the "next event after" join (pandas merge_asof
    * direction='forward'); the backward form's single sorted pass with
    * the time order reversed.
    */
  val asofJoinForward: Q = Q(
    "asof_join_forward",
    (s, dir) => {
      val (bars, clicks) = barsAndClicks(s, dir)
      graft.ops.AsOfJoin.directional(bars, clicks, "user_id", "end_ts", "click_ts",
        expr("INTERVAL 3 DAYS"), "forward")
        .select(col("user_id"), col("bar_num"), col("close"), col("end_ts"),
          col("click_ts").as("next_click_ts"), col("click_value").as("next_click_value"))
    },
    Some(s"""
      $asofCtes
      SELECT bars.user_id, bars.bar_num, bars.close, bars.end_ts,
             c.ts AS next_click_ts, c.value AS next_click_value
      FROM bars LEFT JOIN c
        ON bars.user_id = c.user_id
       AND c.ts >= bars.end_ts
       AND c.ts <= bars.end_ts + INTERVAL 3 DAY
      QUALIFY row_number() OVER (PARTITION BY bars.user_id, bars.bar_num
                                 ORDER BY c.ts ASC NULLS LAST) = 1
    """)
  )

  /** Nearest as-of: the click minimizing |click − bar close| within
    * ±3 days (direction='nearest'); the distance ranks in exact
    * integer microseconds, equidistant ties to the earlier click —
    * deterministic on both engines.
    */
  val asofJoinNearest: Q = Q(
    "asof_join_nearest",
    (s, dir) => {
      val (bars, clicks) = barsAndClicks(s, dir)
      graft.ops.AsOfJoin.directional(bars, clicks, "user_id", "end_ts", "click_ts",
        expr("INTERVAL 3 DAYS"), "nearest")
        .select(col("user_id"), col("bar_num"), col("close"), col("end_ts"),
          col("click_ts").as("near_click_ts"), col("click_value").as("near_click_value"))
    },
    Some(s"""
      $asofCtes
      SELECT bars.user_id, bars.bar_num, bars.close, bars.end_ts,
             c.ts AS near_click_ts, c.value AS near_click_value
      FROM bars LEFT JOIN c
        ON bars.user_id = c.user_id
       AND c.ts >= bars.end_ts - INTERVAL 3 DAY
       AND c.ts <= bars.end_ts + INTERVAL 3 DAY
      QUALIFY row_number() OVER (PARTITION BY bars.user_id, bars.bar_num
                                 ORDER BY abs(epoch_us(c.ts) - epoch_us(bars.end_ts)) ASC NULLS LAST,
                                          c.ts ASC NULLS LAST) = 1
    """)
  )

  val asofJoin: Q = Q(
    "asof_join",
    (s, dir) => {
      val ev = events(s, dir)
      val purchases = ev
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"),
          col("value").cast(DecimalType(20, 4)).as("notional"))
      val bars = DollarBars
        .bars(purchases, "user_id", "ts", "value", "notional", BarSize)
        .select("user_id", "bar_num", "close", "end_ts")
      val clicks = ev
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"), col("value").as("click_value"))
      AsOfJoin.joined(bars, clicks, "user_id", "end_ts", "click_ts",
        expr("INTERVAL 3 DAYS"))
        .select(col("user_id"), col("bar_num"), col("close"), col("end_ts"),
          col("click_ts").as("last_click_ts"), col("click_value").as("last_click_value"))
    },
    Some("""
      WITH p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
      t AS (
        SELECT user_id, ts, value,
               CAST(sum(CAST(value AS DECIMAL(20,4)))
                    OVER (PARTITION BY user_id ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS cumsum
        FROM p),
      b AS (SELECT *, CAST(floor(cumsum / 500.0) AS INT) AS bar_num FROM t),
      bars AS (
        SELECT user_id, bar_num, arg_max(value, ts) AS close, max(ts) AS end_ts
        FROM b GROUP BY 1, 2),
      c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click')
      SELECT bars.user_id, bars.bar_num, bars.close, bars.end_ts,
             c.ts AS last_click_ts, c.value AS last_click_value
      FROM bars LEFT JOIN c
        ON bars.user_id = c.user_id
       AND c.ts <= bars.end_ts
       AND c.ts >= bars.end_ts - INTERVAL 3 DAY
      QUALIFY row_number() OVER (PARTITION BY bars.user_id, bars.bar_num
                                 ORDER BY c.ts DESC NULLS LAST) = 1
    """)
  )

  /** Final EWMA per key via the custom order-buffering Aggregator
    * (SURVEY.md A8/U1, α=0.8). Oracle folds the identical recurrence
    * with `list_reduce` — note `1.0::DOUBLE - 0.8` so both sides use
    * the same IEEE value of (1−α), not a decimal-exact 0.2.
    */
  val ewmaLast: Q = Q(
    "ewma_last",
    (s, dir) => {
      val ew = Ewma.ewmaUdaf(EwmaAlpha)
      events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
        .groupBy("user_id")
        .agg(ew(col("ts_us"), col("value")).as("ewma"), count(lit(1)).as("n_events"))
    },
    Some("""
      SELECT user_id,
             list_reduce(list(value ORDER BY ts),
                         (acc, x) -> 0.8 * x + (1.0::DOUBLE - 0.8) * acc) AS ewma,
             count(*) AS n_events
      FROM events GROUP BY 1
    """)
  )

  /** Adjusted (pandas `ewm(adjust=True)`) EWMA — an ENGINE EXTENSION:
    * the reference's UDF explicitly passed `adjust=False`
    * (`kafka_upbit_realtime_processing.py:70`), which is `ewma_last`;
    * this weighted form is offered alongside it. Parallel
    * numerator/denominator fold, restated exactly in the oracle.
    */
  val ewmaAdjusted: Q = Q(
    "ewma_adjusted",
    (s, dir) => {
      val ew = Ewma.ewmaUdaf(EwmaAlpha, adjust = true)
      events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
        .groupBy("user_id")
        .agg(ew(col("ts_us"), col("value")).as("ewma"), count(lit(1)).as("n_events"))
    },
    Some("""
      WITH f AS (
        SELECT user_id,
               list_reduce(list_transform(list(value ORDER BY ts), x -> [x, 1.0::DOUBLE]),
                           (acc, p) -> [p[1] + (1.0::DOUBLE - 0.8) * acc[1],
                                        p[2] + (1.0::DOUBLE - 0.8) * acc[2]]) AS nd,
               count(*) AS n_events
        FROM events GROUP BY 1)
      SELECT user_id, nd[1] / nd[2] AS ewma, n_events FROM f
    """)
  )

  /** The as-of join kept under its scale-form name: since AsOfJoin has
    * one formulation (the single-shuffle union + last-value pass), this
    * is `asof_join` again and shares its oracle.
    */
  val asofJoinScalable: Q = Q(
    "asof_join_scalable",
    (s, dir) => {
      val ev = events(s, dir)
      val purchases = ev
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"),
          col("value").cast(DecimalType(20, 4)).as("notional"))
      val bars = DollarBars
        .bars(purchases, "user_id", "ts", "value", "notional", BarSize)
        .select("user_id", "bar_num", "close", "end_ts")
      val clicks = ev
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"), col("value").as("click_value"))
      AsOfJoin.joined(bars, clicks, "user_id", "end_ts", "click_ts",
        expr("INTERVAL 3 DAYS"))
        .select(col("user_id"), col("bar_num"), col("close"), col("end_ts"),
          col("click_ts").as("last_click_ts"), col("click_value").as("last_click_value"))
    },
    asofJoin.oracle
  )

  /** The as-of join through the engine's NATIVE physical operator
    * (graft.plans.AsOfJoinNative: custom LogicalPlan → injected
    * SparkStrategy → co-partitioned sorted-merge SparkPlan with O(1)
    * per-partition state — no per-band row duplication, no
    * row_number pass). Same semantics ⇒ same oracle as asof_join.
    */
  val asofJoinNative: Q = Q(
    "asof_join_native",
    (s, dir) => {
      val ev = events(s, dir)
      val purchases = ev
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"),
          col("value").cast(DecimalType(20, 4)).as("notional"))
      val bars = DollarBars
        .bars(purchases, "user_id", "ts", "value", "notional", BarSize)
        .select("user_id", "bar_num", "close", "end_ts")
      val clicks = ev
        .filter(col("event_type") === "click")
        .select(col("user_id").as("r_user"), col("ts").as("click_ts"),
          col("value").as("click_value"))
      graft.plans.AsOfJoinNative.join(bars, clicks, "user_id", "end_ts",
        "r_user", "click_ts", tolerance = 3L * 24 * 3600 * 1000000)
        .select(col("user_id"), col("bar_num"), col("close"), col("end_ts"),
          col("click_ts").as("last_click_ts"), col("click_value").as("last_click_value"))
    },
    asofJoin.oracle
  )

  /** Forward as-of through the native operator — same semantics and
    * oracle as `asof_join_forward`, but planned as the co-partitioned
    * sorted-merge pass (the forward match is the merge lookahead
    * itself, so the pass keeps NO copied state at all).
    */
  val asofJoinForwardNative: Q = Q(
    "asof_join_forward_native",
    (s, dir) => {
      val (bars, clicks0) = barsAndClicks(s, dir)
      val clicks = clicks0.withColumnRenamed("user_id", "r_user")
      graft.plans.AsOfJoinNative.join(bars, clicks, "user_id", "end_ts",
        "r_user", "click_ts", tolerance = 3L * 24 * 3600 * 1000000,
        direction = "forward")
        .select(col("user_id"), col("bar_num"), col("close"), col("end_ts"),
          col("click_ts").as("next_click_ts"), col("click_value").as("next_click_value"))
    },
    asofJoinForward.oracle
  )

  /** Nearest as-of through the native operator — same semantics and
    * oracle as `asof_join_nearest` (closest click within ±3 days,
    * equidistant ties to the earlier click); the pass keeps the
    * backward candidate and compares it against the merge lookahead.
    */
  val asofJoinNearestNative: Q = Q(
    "asof_join_nearest_native",
    (s, dir) => {
      val (bars, clicks0) = barsAndClicks(s, dir)
      val clicks = clicks0.withColumnRenamed("user_id", "r_user")
      graft.plans.AsOfJoinNative.join(bars, clicks, "user_id", "end_ts",
        "r_user", "click_ts", tolerance = 3L * 24 * 3600 * 1000000,
        direction = "nearest")
        .select(col("user_id"), col("bar_num"), col("close"), col("end_ts"),
          col("click_ts").as("near_click_ts"), col("click_value").as("near_click_value"))
    },
    asofJoinNearest.oracle
  )

  /** Per-row expanding EWMA — the scalable secondary-sort
    * `mapPartitions` form (SURVEY.md §7.4, W2 frame semantics).
    */
  val ewmaRowwise: Q = Q(
    "ewma_rowwise",
    (s, dir) => Ewma
      .rowwise(events(s, dir).select("event_id", "user_id", "ts", "value"),
        "user_id", Seq("ts", "event_id"), "value", EwmaAlpha, "ewma")
      .select("event_id", "user_id", "ts", "value", "ewma"),
    // event_id tie-breaks the fold order (r9 ADVICE on macd_signal): a
    // duplicate (user_id, ts) would otherwise make the order-sensitive
    // recursion nondeterministic on BOTH engines
    Some("""
      SELECT event_id, user_id, ts, value,
             list_reduce(list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                         (acc, x) -> 0.8 * x + (1.0::DOUBLE - 0.8) * acc) AS ewma
      FROM events
    """)
  )

  /** Order-flow imbalance (W3 lag + P7 conditional), with the nested
    * `props` payload parsed via explicit-schema `from_json` (P2/P4).
    */
  val ofiFlow: Q = Q(
    "ofi_flow",
    (s, dir) => {
      val parsed = events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"),
          withK(events(s, dir)).as("k"))
      Ofi.withOfi(parsed, "user_id", Seq("ts"), "value", "k", "ofi")
    },
    Some("""
      WITH e AS (
        SELECT event_id, user_id, ts, value, CAST(props->>'k' AS INT) AS k
        FROM events),
      l AS (
        SELECT *,
               lag(value) OVER (PARTITION BY user_id ORDER BY ts) AS prev_value,
               lag(k)     OVER (PARTITION BY user_id ORDER BY ts) AS prev_k
        FROM e)
      SELECT event_id, user_id, ts, value, k, prev_value, prev_k,
             (CASE WHEN value >= prev_value THEN k ELSE -prev_k END)
           - (CASE WHEN value <= prev_value THEN k ELSE -prev_k END) AS ofi
      FROM l
    """)
  )

  /** Two-sided book OFI (reference-exact formula,
    * `kafka_upbit_realtime_processing.py:121-128`): a best-bid/ask
    * book is synthesized deterministically from the events stream
    * (bid = value/k, ask mirrored at 200−value with size 100−k), the
    * book struct is lagged per instrument, and the per-side sign
    * logic applied — note the ask otherwise-branch is +prev_ask_size.
    */
  val ofiBook: Q = Q(
    "ofi_book",
    (s, dir) => {
      val ev = events(s, dir)
      val book = ev.select(
        col("event_id"), col("user_id"), col("ts"),
        col("value").as("bid_price"), withK(ev).as("bid_size"),
        (lit(200.0) - col("value")).as("ask_price"),
        (lit(100) - withK(ev)).as("ask_size"))
      Ofi.withBookOfi(book, "user_id", Seq("ts"),
        "bid_price", "bid_size", "ask_price", "ask_size", "ofi")
    },
    Some("""
      WITH e AS (
        SELECT event_id, user_id, ts,
               value AS bid_price, CAST(props->>'k' AS INT) AS bid_size,
               200.0 - value AS ask_price,
               100 - CAST(props->>'k' AS INT) AS ask_size
        FROM events),
      l AS (
        SELECT *,
               lag(bid_price) OVER w AS prev_bid_price,
               lag(bid_size)  OVER w AS prev_bid_size,
               lag(ask_price) OVER w AS prev_ask_price,
               lag(ask_size)  OVER w AS prev_ask_size
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts))
      SELECT event_id, user_id, ts, bid_price, bid_size, ask_price, ask_size,
             prev_bid_price, prev_bid_size, prev_ask_price, prev_ask_size,
             (CASE WHEN bid_price >= prev_bid_price THEN bid_size ELSE -prev_bid_size END)
           - (CASE WHEN ask_price <= prev_ask_price THEN ask_size ELSE prev_ask_size END) AS ofi
      FROM l
    """)
  )

  /** Bucketized range self-join (no equi key): all event pairs within
    * ±30 s of each other. Time-bucket blocking is LOSSLESS (unlike
    * LSH), so the oracle is the plain theta join — see
    * graft.ops.RangeJoin.
    */
  val rangePairs: Q = Q(
    "range_pairs",
    (s, dir) => RangeJoin.selfPairs(events(s, dir), "event_id", "ts",
      toleranceUs = 30000000L),
    Some("""
      WITH e AS (SELECT event_id, epoch_us(ts) AS tus FROM events)
      SELECT a.event_id AS id_a, b.event_id AS id_b,
             b.tus - a.tus AS dt_us
      FROM e a JOIN e b
        ON a.event_id < b.event_id AND abs(a.tus - b.tus) <= 30000000
    """)
  )

  /** Exact distinct cardinality per group (the verification twin of
    * the HLL sketch path — approx_count_distinct is asserted within
    * 5% of this in SketchSpec; the sketch itself is engine-internal
    * and not oracle-expressible).
    */
  val distinctUsers: Q = Q(
    "distinct_users",
    (s, dir) => events(s, dir)
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("n_users"), count(lit(1)).as("n_events")),
    Some("""
      SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
      FROM events GROUP BY 1
    """)
  )

  /** Latest row per (key, type) — W4 row_number-desc dedup
    * (reference `processing_raw_data_from_gcs.py:154-159`).
    */
  val latestPerKey: Q = Q(
    "latest_per_key",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id", "event_type").orderBy(col("ts").desc)
      events(s, dir)
        .withColumn("row_num", row_number().over(w))
        .filter(col("row_num") === 1)
        .select(col("user_id"), col("event_type"), col("event_id").as("last_event_id"),
          col("ts").as("last_ts"), col("value").as("last_value"))
    },
    Some("""
      SELECT user_id, event_type, event_id AS last_event_id,
             ts AS last_ts, value AS last_value
      FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC) = 1
    """)
  )

  /** Scalar enrichment stage (P5 arithmetic, P6 epoch↔timestamp, P8
    * literal date, P2 JSON payload): the reference's
    * `time_diff`/`server_datetime`/`processing_date` derivations
    * (`kafka_to_kafka_by_spark_for_druid.py:90-97`).
    */
  val eventEnrich: Q = Q(
    "event_enrich",
    (s, dir) => {
      val ev = events(s, dir)
      ev.select(
        col("event_id"),
        unix_millis(col("ts")).as("epoch_ms"),
        timestamp_millis(unix_millis(col("ts"))).as("server_datetime"),
        (col("value").cast(DecimalType(10, 4)) * withK(ev).cast(DecimalType(10, 0)))
          .cast("double").as("trade_dollar"),
        to_date(lit("2024-08-07")).as("processing_date")
      )
    },
    Some("""
      SELECT event_id,
             epoch_ms(ts) AS epoch_ms,
             make_timestamp(epoch_ms(ts) * 1000) AS server_datetime,
             CAST(CAST(value AS DECIMAL(10,4)) * CAST(CAST(props->>'k' AS INT) AS DECIMAL(10,0)) AS DOUBLE) AS trade_dollar,
             DATE '2024-08-07' AS processing_date
      FROM events
    """)
  )

  /** Kafka envelope round-trip (P1/P2/P3/P10): wrap whole rows as one
    * JSON `value` column, parse back with the explicit schema, flatten.
    * Oracle is the identity projection — verifies the round-trip is
    * lossless (shortest-round-trip double formatting).
    */
  val envelopeRoundtrip: Q = Q(
    "envelope_roundtrip",
    (s, dir) => {
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType)))
      val wire = Envelope.wrap(events(s, dir), Seq("event_id", "user_id", "event_type", "value"))
      Envelope.parse(wire, schema)
    },
    Some("SELECT event_id, user_id, event_type, value FROM events")
  )

  /** Hourly candles gap-filled to each instrument's full [min, max]
    * hour spine (groupBy candles emit nothing for empty intervals;
    * consumers need one row per bucket with the close carried
    * forward). Spine = per-key `sequence()` explode — output-sized,
    * never a driver loop; fill = `last ignoreNulls` window on the
    * same key partitioning the join used.
    */
  val candlesGapFilled: Q = Q(
    "candles_gap_filled",
    (s, dir) => {
      val hourly = events(s, dir)
        .withColumn("hour", date_trunc("hour", col("ts")))
        .groupBy("user_id", "hour")
        .agg(max_by(col("value"), col("ts")).as("close"),
          count(lit(1)).as("n_trades"))
      Candles.gapFill(hourly, "user_id", "hour", expr("interval 1 hour"), Seq("close"))
        .select(col("user_id"), col("hour"), col("close"), col("close_ff"),
          coalesce(col("n_trades"), lit(0L)).as("n_trades"), col("has_data"))
    },
    Some("""
      WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      c AS (SELECT user_id, date_trunc('hour', ts) AS hour,
                   arg_max(value, ts) AS close, count(*) AS n_trades
            FROM ev GROUP BY 1, 2),
      b AS (SELECT user_id, min(hour) AS mn, max(hour) AS mx FROM c GROUP BY 1),
      sp AS (SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour FROM b),
      j AS (SELECT sp.user_id, sp.hour, c.close, c.n_trades
            FROM sp LEFT JOIN c ON sp.user_id = c.user_id AND sp.hour = c.hour)
      SELECT user_id, hour, close,
             last_value(close IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY hour
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_ff,
             coalesce(n_trades, 0) AS n_trades,
             n_trades IS NOT NULL AS has_data
      FROM j
    """)
  )

  /** Best-book microstructure features over the ofi_book fixture:
    * spread, mid, size-weighted microprice, and book imbalance — the
    * standard per-quote feature map next to OFI. Pure row-local
    * arithmetic (scan-speed, zero shuffle); the imbalance denominator
    * is structurally nonzero here (sizes sum to 100 by construction),
    * and a real feed would guard it the drawdown_pct way.
    */
  val bookFeatures: Q = Q(
    "book_features",
    (s, dir) => {
      val ev = events(s, dir)
      val k = withK(ev).cast("double")
      ev.select(
        col("event_id"), col("user_id"), col("ts"),
        col("value").as("bid_price"), k.as("bid_size"),
        (lit(200.0) - col("value")).as("ask_price"),
        (lit(100.0) - k).as("ask_size"))
        .withColumn("spread", col("ask_price") - col("bid_price"))
        .withColumn("mid", (col("ask_price") + col("bid_price")) / 2.0)
        .withColumn("microprice",
          (col("bid_size") * col("ask_price") + col("ask_size") * col("bid_price"))
            / (col("bid_size") + col("ask_size")))
        .withColumn("imbalance",
          (col("bid_size") - col("ask_size")) / (col("bid_size") + col("ask_size")))
    },
    Some("""
      WITH e AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
               value AS bid_price,
               CAST(CAST(props->>'k' AS INT) AS DOUBLE) AS bid_size,
               200.0::DOUBLE - value AS ask_price,
               100.0::DOUBLE - CAST(CAST(props->>'k' AS INT) AS DOUBLE) AS ask_size
        FROM events)
      SELECT event_id, user_id, ts, bid_price, bid_size, ask_price, ask_size,
             ask_price - bid_price AS spread,
             (ask_price + bid_price) / 2.0::DOUBLE AS mid,
             (bid_size * ask_price + ask_size * bid_price)
               / (bid_size + ask_size) AS microprice,
             (bid_size - ask_size) / (bid_size + ask_size) AS imbalance
      FROM e
    """)
  )

  /** Final top-of-book after an L2 depth-update replay — the batch
    * DuckDB anchor for the streaming `StatefulFeatures.bookReplay`
    * family (T7): a deterministic incremental update feed is
    * synthesized from events (7 price levels per side per key,
    * every 5th update a level delete), and the final book state is
    * last-update-wins per level + best-of-book per key
    * (graft.ops.OrderBook). BookReplaySpec pins this operator equal
    * to the streaming replay's end state on the same updates, so the
    * oracle hash transitively anchors the stateful operator too.
    */
  val bookReplayFinal: Q = Q(
    "book_replay_final",
    (s, dir) => {
      val isBid = pmod(col("event_id"), lit(2)) === 0
      val updates = events(s, dir).select(
        pmod(col("user_id"), lit(16)).as("key"),
        col("event_id").as("seq"),
        when(isBid, lit("bid")).otherwise(lit("ask")).as("side"),
        when(isBid, lit(90) + pmod(col("event_id"), lit(7)))
          .otherwise(lit(101) + pmod(col("event_id"), lit(7)))
          .cast("double").as("price"),
        when(pmod(col("event_id"), lit(5)) === 0, lit(0))
          .otherwise(lit(1) + pmod(col("event_id"), lit(97)))
          .cast("double").as("size"))
      graft.ops.OrderBook.finalTopOfBook(
        updates, "key", "seq", "side", "price", "size")
    },
    Some("""
      WITH upd AS (
        SELECT user_id % 16 AS key, event_id AS seq,
               CASE WHEN event_id % 2 = 0 THEN 'bid' ELSE 'ask' END AS side,
               CAST(CASE WHEN event_id % 2 = 0 THEN 90 + event_id % 7
                         ELSE 101 + event_id % 7 END AS DOUBLE) AS price,
               CAST(CASE WHEN event_id % 5 = 0 THEN 0
                         ELSE 1 + event_id % 97 END AS DOUBLE) AS size
        FROM events),
      fin AS (
        SELECT key, side, price, max_by(size, seq) AS size
        FROM upd GROUP BY 1, 2, 3),
      live AS (SELECT * FROM fin WHERE size > 0),
      top AS (
        SELECT key,
               max(CASE WHEN side = 'bid' THEN price END) AS bid_price,
               max_by(size, CASE WHEN side = 'bid' THEN price END) AS bid_size,
               min(CASE WHEN side = 'ask' THEN price END) AS ask_price,
               min_by(size, CASE WHEN side = 'ask' THEN price END) AS ask_size
        FROM live GROUP BY key)
      SELECT key, bid_price, bid_size, ask_price, ask_size,
             ask_price - bid_price AS spread,
             (ask_price + bid_price) / 2 AS mid
      FROM top
    """)
  )

  /** OHLC re-aggregation: hourly candles computed FROM minutely
    * candles — the mergeability property candle stores depend on
    * (store fine buckets once, serve any coarser granularity by
    * re-aggregation instead of rescanning ticks). The oracle computes
    * the hour DIRECTLY from raw events, so a hash match PROVES the
    * two-level rollup is lossless: open/close via min_by/max_by on
    * the carried first/last event times, high/low as max/min of
    * maxes/mins, volumes as exact decimal sums (associative ⇒
    * regroupable).
    */
  val candlesReagg: Q = Q(
    "candles_reagg",
    (s, dir) => {
      val minutely = events(s, dir)
        .groupBy(col("user_id"), date_trunc("minute", col("ts")).as("mnt"))
        .agg(
          min_by(col("value"), col("ts")).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), col("ts")).as("close"),
          sum(col("value").cast(DecimalType(20, 4))).as("vol_dec"),
          count(lit(1)).as("n_events"),
          min(col("ts")).as("first_ts"),
          max(col("ts")).as("last_ts"))
      minutely
        .groupBy(col("user_id"), date_trunc("hour", col("mnt")).as("hour"))
        .agg(
          min_by(col("open"), col("first_ts")).as("open"),
          max(col("high")).as("high"),
          min(col("low")).as("low"),
          max_by(col("close"), col("last_ts")).as("close"),
          sum(col("vol_dec")).cast("double").as("volume"),
          sum(col("n_events")).as("n_events"))
    },
    Some("""
      WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events)
      SELECT user_id, date_trunc('hour', ts) AS hour,
             arg_min(value, ts) AS open,
             max(value) AS high,
             min(value) AS low,
             arg_max(value, ts) AS close,
             CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS volume,
             count(*) AS n_events
      FROM ev GROUP BY 1, 2
    """)
  )

  /** Tick-imbalance bars (López de Prado §2.3.2) — the reset-
    * accumulator bar family dollar bars' global-cumsum trick cannot
    * express: |Σ tick_sign| within the bar reaches 4 → close ON that
    * row, reset. Engine side: one sequential mapPartitions scan per
    * key (O(1) state); oracle side: the reset re-expressed as a
    * per-key RECURSIVE chain over the global sign cumsum — each step
    * finds the next row at |cum − anchor| ≥ T (correlated min), so
    * agreement proves every boundary, sign, and tie.
    */
  val imbalanceBars: Q = Q(
    "imbalance_bars",
    (s, dir) => ImbalanceBars.bars(
      events(s, dir).select(col("user_id"), col("ts"), col("event_id"), col("value")),
      "user_id", "ts", "value", threshold = 4L, tieCols = Seq("event_id")),
    Some("""
      WITH RECURSIVE ev AS (
        SELECT user_id AS k, CAST(ts AS TIMESTAMP) AS ts, event_id, value AS p
        FROM events),
      s AS (
        SELECT k, ts, event_id, p,
               row_number() OVER (PARTITION BY k ORDER BY ts, event_id) AS rn,
               CASE WHEN p > lag(p) OVER (PARTITION BY k ORDER BY ts, event_id) THEN 1
                    WHEN p < lag(p) OVER (PARTITION BY k ORDER BY ts, event_id) THEN -1
               END AS raw
        FROM ev),
      g AS (
        SELECT k, ts, event_id, p, rn,
               coalesce(last_value(raw IGNORE NULLS) OVER
                 (PARTITION BY k ORDER BY rn ROWS UNBOUNDED PRECEDING), 1) AS b
        FROM s),
      c AS (
        SELECT *, CAST(sum(b) OVER (PARTITION BY k ORDER BY rn
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM g),
      closes AS (
        SELECT k, 0 AS bar_num, CAST(0 AS BIGINT) AS close_rn,
               CAST(0 AS BIGINT) AS anchor
        FROM (SELECT DISTINCT k FROM ev)
        UNION ALL
        SELECT x.k, x.bar_num + 1, x.nxt,
               (SELECT c2.cum FROM c c2 WHERE c2.k = x.k AND c2.rn = x.nxt)
        FROM (SELECT b.k, b.bar_num,
                (SELECT min(c1.rn) FROM c c1
                 WHERE c1.k = b.k AND c1.rn > b.close_rn
                   AND abs(c1.cum - b.anchor) >= 4) AS nxt
              FROM closes b) x
        WHERE x.nxt IS NOT NULL),
      iv AS (
        SELECT k, bar_num - 1 AS bar_num, close_rn,
               lag(close_rn, 1, 0) OVER (PARTITION BY k ORDER BY bar_num) AS prev_rn
        FROM closes WHERE bar_num >= 1),
      mx AS (SELECT k, max(close_rn) AS m, max(bar_num) AS nb
             FROM closes GROUP BY 1),
      a AS (
        SELECT c.k, c.ts, c.p, c.b, c.rn, iv.bar_num
        FROM c JOIN iv ON c.k = iv.k AND c.rn > iv.prev_rn AND c.rn <= iv.close_rn
        UNION ALL
        SELECT c.k, c.ts, c.p, c.b, c.rn, mx.nb AS bar_num
        FROM c JOIN mx ON c.k = mx.k AND c.rn > mx.m)
      SELECT k AS user_id, CAST(bar_num AS INT) AS bar_num,
             arg_min(p, rn) AS open,
             max(p)         AS high,
             min(p)         AS low,
             arg_max(p, rn) AS close,
             CAST(sum(b) AS BIGINT) AS theta,
             count(*)       AS n_trades,
             min(ts)        AS start_ts,
             max(ts)        AS end_ts
      FROM a GROUP BY 1, 2
    """)
  )

  val all: Seq[Q] = Seq(dollarBars, dollarBarsScalable, tickBars, imbalanceBars,
    candlesTumbling, candlesSliding, candlesVolume, candlesGapFilled,
    candlesReagg, asofJoin, asofJoinScalable, asofJoinNative, asofJoinForward,
    asofJoinNearest, asofJoinForwardNative, asofJoinNearestNative,
    ewmaLast, ewmaAdjusted, ewmaRowwise, ofiFlow, ofiBook,
    bookFeatures, bookReplayFinal, rangePairs, distinctUsers, latestPerKey,
    eventEnrich, envelopeRoundtrip)
}
