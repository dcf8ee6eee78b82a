package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.ops.{Compaction, Features, Profiler, Quantiles, Salting, Sessions}
import graft.sources.Layout

/** Operators whose point is the 100 TB execution shape: gap-based
  * sessionization (window + native session_window forms), skew-safe
  * salted aggregation, and exact rank-selected quantiles (the
  * verification twin of `approx_percentile`). All over `events`.
  */
object ScaleQueries {

  private val GapSec = 30000L // ~8.3 h: splits roughly half of the
                              // per-user inter-event gaps (median ~7.3 h)

  private def events(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.events(s, dir)

  /** Oracle CTE computing per-event session indices. Break predicate
    * is strict `>` — SessionsSpec pins that BOTH Spark forms merge an
    * event exactly `gap` after its predecessor.
    */
  private def sessionCte: String = s"""
      WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      d AS (SELECT user_id, ts, value,
              CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
                        > ${GapSec * 1000000L}
                   THEN 1 ELSE 0 END AS is_new
            FROM ev),
      s AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
            FROM d)"""

  private val sessionAggSql = """
      min(ts) AS session_start, max(ts) AS session_end,
      count(*) AS n_events,
      CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS sum_value,
      epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us"""

  /** Gap sessionization, window form (break on gap STRICTLY > gap). */
  val sessionize: Q = Q(
    "sessionize",
    (s, dir) => Sessions.stats(events(s, dir), "user_id", "ts", "value", GapSec),
    Some(s"""
      $sessionCte
      SELECT user_id, session_idx::BIGINT AS session_idx, $sessionAggSql
      FROM s GROUP BY user_id, session_idx
    """)
  )

  /** Gap sessionization via Spark's native `session_window` — same
    * break semantics as the window form (merge on touch), same
    * aggregates, no per-user ordinal.
    */
  val sessionizeNative: Q = Q(
    "sessionize_native",
    (s, dir) => Sessions.statsNative(events(s, dir), "user_id", "ts", "value", GapSec),
    Some(s"""
      $sessionCte
      SELECT user_id, $sessionAggSql
      FROM s GROUP BY user_id, session_idx
    """)
  )

  /** Skew-safe salted aggregation — bit-identical to the plain
    * GROUP BY (decomposable aggregates, decimal-exact sums), so the
    * oracle IS the plain GROUP BY.
    */
  val saltedAgg: Q = Q(
    "salted_agg",
    (s, dir) => Salting.saltedStats(
      events(s, dir).withColumn("dec_value", col("value").cast(DecimalType(20, 4))),
      Seq("event_type"), col("event_id"), "dec_value", "value", salts = 32),
    Some("""
      SELECT event_type,
             CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS sum_value,
             count(*) AS n_events,
             min(value) AS min_value,
             max(value) AS max_value
      FROM events GROUP BY 1
    """)
  )

  /** Incremental compaction: stats(batch1) ⊕ stats(batch2) must equal
    * the full-table aggregate bit-for-bit (decomposable aggregates,
    * decimal-exact sum) — so, like salted_agg, the oracle IS the
    * plain GROUP BY. Batches split on a deterministic time predicate
    * (the daily-delta shape).
    */
  val incrementalStats: Q = Q(
    "incremental_stats",
    (s, dir) => {
      val ev = events(s, dir)
        .withColumn("dec_value", col("value").cast(DecimalType(20, 4)))
      val cut = lit("2024-01-15").cast("timestamp")
      val old = ev.filter(col("ts") < cut)
      val delta = ev.filter(col("ts") >= cut)
      Compaction.finish(Compaction.merge(
        Seq(Compaction.stats(old, Seq("event_type"), "dec_value", "value"),
          Compaction.stats(delta, Seq("event_type"), "dec_value", "value")),
        Seq("event_type")))
    },
    Some("""
      SELECT event_type,
             count(*) AS n_events,
             min(value) AS min_value,
             max(value) AS max_value,
             CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1
    """)
  )

  /** Incremental DISTINCT via mergeable HLL sketches — the same
    * snapshot+delta split as `incremental_stats`, but counting
    * distinct users per event type: sketch each batch, union the
    * sketch states, estimate. The estimate can't hash-match an exact
    * engine, so the emitted row carries the EXACT count (oracle-
    * matchable) plus `est_ok` — whether the merged-sketch estimate
    * landed within ±5 % (3× the lgK=12 relative standard error of
    * 1.04/√2¹² ≈ 1.6 %). The oracle emits TRUE, so a sketch drifting
    * out of its error bound fails the hash compare — the bounds-
    * pinned form of an approximate oracle.
    */
  val distinctSketch: Q = Q(
    "distinct_sketch",
    (s, dir) => {
      val ev = events(s, dir).select("event_type", "user_id", "ts")
      val cut = lit("2024-01-15").cast("timestamp")
      val parts = Seq(ev.filter(col("ts") < cut), ev.filter(col("ts") >= cut))
        .map(d => Compaction.distinctSketch(d, Seq("event_type"), "user_id"))
      val est = Compaction.distinctFinish(
        Compaction.distinctMerge(parts, Seq("event_type")))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"))
      est.join(exact, "event_type")
        .select(col("event_type"), col("n_exact"),
          (abs(col("distinct_est") - col("n_exact")) <= col("n_exact") * 0.05)
            .as("est_ok"))
    },
    Some("""
      SELECT event_type,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
             TRUE AS est_ok
      FROM events GROUP BY 1
    """)
  )

  /** Upsert compaction: latest(latest(base) ∪ latest(delta)) must
    * equal latest over the full table — the CDC snapshot+delta merge.
    * Oracle = plain latest-per-key over everything.
    */
  val upsertLatest: Q = Q(
    "upsert_latest",
    (s, dir) => {
      val ev = events(s, dir).select("user_id", "event_type", "ts", "event_id", "value")
      val cut = lit("2024-01-15").cast("timestamp")
      Compaction.latestMerge(
        Seq(Compaction.latest(ev.filter(col("ts") < cut),
            Seq("user_id", "event_type"), Seq("ts", "event_id")),
          Compaction.latest(ev.filter(col("ts") >= cut),
            Seq("user_id", "event_type"), Seq("ts", "event_id"))),
        Seq("user_id", "event_type"), Seq("ts", "event_id"))
    },
    Some("""
      SELECT user_id, event_type, ts, event_id, value
      FROM (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
              row_number() OVER (PARTITION BY user_id, event_type
                                 ORDER BY ts DESC, event_id DESC) AS rn
            FROM events)
      WHERE rn = 1
    """)
  )

  /** CDC apply with DELETE semantics — the MERGE-INTO complement of
    * `upsert_latest`'s pure upserts: error events act as tombstones
    * ('D'), everything else upserts ('U'). Production shape: latest
    * snapshot (tombstones dropped) + latest of the delta batch,
    * merged, tombstones dropped again — provably equal to one
    * latest-per-key pass over full history with a final tombstone
    * filter, which is what the oracle runs. A key deleted in the
    * snapshot window revives iff the delta carries a newer upsert —
    * the edge the two-phase/full-history equality pins.
    */
  val cdcApply: Q = Q(
    "cdc_apply",
    (s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("ts"),
        col("event_id"), col("value"),
        when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"))
      val cut = lit("2024-01-15").cast("timestamp")
      val snap = Compaction.latest(ev.filter(col("ts") < cut),
          Seq("user_id"), Seq("ts", "event_id"))
        .filter(col("op") =!= "D")
      val delta = Compaction.latest(ev.filter(col("ts") >= cut),
        Seq("user_id"), Seq("ts", "event_id"))
      Compaction.latestMerge(Seq(snap, delta), Seq("user_id"), Seq("ts", "event_id"))
        .filter(col("op") =!= "D")
        .select("user_id", "ts", "event_id", "value")
    },
    Some("""
      SELECT user_id, ts, event_id, value
      FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
              CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
              row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts DESC, event_id DESC) AS rn
            FROM events)
      WHERE rn = 1 AND op <> 'D'
    """)
  )

  /** Multi-granularity rollup: (event_type, day) → (event_type) →
    * grand total in ONE pass — Spark expands grouping sets before the
    * aggregation so the fact table is scanned once, not three times.
    * `grouping_id` disambiguates the NULL markers.
    */
  val rollupStats: Q = Q(
    "rollup_stats",
    (s, dir) => events(s, dir)
      .withColumn("day", to_date(col("ts")))
      .rollup(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(20, 4))).cast("double").as("sum_value"),
        grouping_id().as("gid")),
    Some("""
      SELECT event_type, CAST(ts AS TIMESTAMP)::DATE AS day,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS sum_value,
             grouping(event_type, CAST(ts AS TIMESTAMP)::DATE) AS gid
      FROM events
      GROUP BY ROLLUP(event_type, CAST(ts AS TIMESTAMP)::DATE)
    """)
  )

  /** Pivot: event types to columns (explicit value list ⇒ a single
    * pass of conditional aggregates, no second distinct-values job;
    * the oracle restates it as sum(CASE …) which is exactly Spark's
    * physical rewrite).
    */
  val pivotDaily: Q = Q(
    "pivot_daily",
    (s, dir) => events(s, dir)
      .withColumn("day", to_date(col("ts")))
      .groupBy("day")
      .pivot("event_type", Seq("click", "view", "purchase"))
      .agg(sum(col("value").cast(DecimalType(20, 4))).cast("double")),
    Some("""
      SELECT CAST(ts AS TIMESTAMP)::DATE AS day,
             CAST(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(20,4)) END) AS DOUBLE) AS click,
             CAST(sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(20,4)) END) AS DOUBLE) AS view,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(20,4)) END) AS DOUBLE) AS purchase
      FROM events GROUP BY 1
    """)
  )

  /** Trailing 1-hour per-user sum via a RANGE window frame over epoch
    * micros — the rolling-volume feature. RANGE (value-based) frames,
    * unlike ROWS, include ALL rows inside the time interval
    * regardless of ties.
    */
  val trailingSum: Q = Q(
    "trailing_1h_sum",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("tus"))
        .rangeBetween(-3600000000L, 0L)
      events(s, dir)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("tus"),
          col("value").cast(DecimalType(20, 4)).as("dv"))
        .withColumn("trailing_sum", sum(col("dv")).over(w).cast("double"))
        .select("event_id", "user_id", "tus", "trailing_sum")
    },
    Some("""
      SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
             CAST(sum(CAST(value AS DECIMAL(20,4))) OVER (
               PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS trailing_sum
      FROM events
    """)
  )

  /** Exact per-type value quantiles by integer rank selection. */
  val valueQuantiles: Q = Q(
    "value_quantiles",
    (s, dir) => Quantiles.exactQuantiles(events(s, dir), "event_type", "value",
      "event_id", Seq(25, 50, 75, 90, 99)),
    Some("""
      WITH r AS (
        SELECT event_type, value, event_id,
               row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type) AS cnt
        FROM events)
      SELECT event_type, pct, value AS quantile_value, cnt AS n
      FROM r CROSS JOIN unnest([25, 50, 75, 90, 99]) AS u(pct)
      WHERE rn = (pct * cnt + 99) // 100
    """)
  )

  /** Morton (Z-order) index over (value-bucket, time-bucket): the
    * multi-dimensional clustering key a z-ordered write sorts files
    * by. Pure bit arithmetic — scan speed; oracle restates the
    * identical interleave (Layout.zValueSql).
    */
  val zorderIndex: Q = {
    val zxSql = "(floor(value)::BIGINT & 1023)"
    val zySql = "((epoch_us(CAST(ts AS TIMESTAMP)) // 1000000) & 1023)"
    Q(
      "zorder_index",
      (s, dir) => {
        val ev = events(s, dir)
        ev.select(col("event_id"),
            floor(col("value")).cast("long").bitwiseAND(lit(1023L)).as("zx"),
            expr("(unix_micros(ts) div 1000000) & 1023").as("zy"))
          .withColumn("zval", Layout.zValue(Seq(col("zx"), col("zy")), 10))
      },
      Some(s"""
        SELECT event_id, $zxSql AS zx, $zySql AS zy,
               ${Layout.zValueSql(Seq(zxSql, zySql), 10)} AS zval
        FROM events
      """)
    )
  }

  /** Tukey-fence outlier flagging per event type (IQR rule, exact
    * rank-selected quartiles, broadcast bounds join).
    */
  val outlierFilter: Q = Q(
    "outlier_filter",
    (s, dir) => Quantiles.iqrOutliers(events(s, dir), "event_type", "value",
      "event_id", k = 1.5),
    Some("""
      WITH r AS (
        SELECT event_type, value, event_id,
               row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type) AS cnt
        FROM events),
      q AS (
        SELECT event_type,
               max(CASE WHEN rn = (25 * cnt + 99) // 100 THEN value END) AS q1,
               max(CASE WHEN rn = (75 * cnt + 99) // 100 THEN value END) AS q3
        FROM r GROUP BY 1)
      SELECT e.event_type, e.event_id, e.value,
             q1 - 1.5 * (q3 - q1) AS lo,
             q3 + 1.5 * (q3 - q1) AS hi
      FROM events e JOIN q USING (event_type)
      WHERE e.value < q1 - 1.5 * (q3 - q1)
         OR e.value > q3 + 1.5 * (q3 - q1)
    """)
  )

  /** Single-pass numeric data-quality census over events. */
  val profileNumeric: Q = Q(
    "profile_numeric",
    (s, dir) => Profiler.numericProfile(events(s, dir),
      Seq("event_id", "user_id", "value")),
    Some("""
      SELECT 'event_id' AS column, count(*) AS n,
             count(*) - count(event_id) AS n_null,
             count(DISTINCT event_id) AS n_distinct,
             min(event_id)::DOUBLE AS vmin, max(event_id)::DOUBLE AS vmax
      FROM events
      UNION ALL
      SELECT 'user_id', count(*), count(*) - count(user_id),
             count(DISTINCT user_id), min(user_id)::DOUBLE, max(user_id)::DOUBLE
      FROM events
      UNION ALL
      SELECT 'value', count(*), count(*) - count(value),
             count(DISTINCT value), min(value)::DOUBLE, max(value)::DOUBLE
      FROM events
    """)
  )

  /** Per-type winsorization: values clipped into their group's exact
    * [p1, p99] envelope — row-preserving tail control (the gentler
    * sibling of outlier_filter); broadcast bounds ⇒ map-side clip.
    */
  val winsorizeValues: Q = Q(
    "winsorize_values",
    (s, dir) => Quantiles.winsorize(
      events(s, dir).select("event_type", "event_id", "value"),
      "event_type", "value", "event_id", loPct = 1, hiPct = 99),
    Some("""
      WITH r AS (
        SELECT event_type, value, event_id,
               row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type) AS cnt
        FROM events),
      q AS (
        SELECT event_type,
               max(CASE WHEN rn = (1 * cnt + 99) // 100 THEN value END) AS lo,
               max(CASE WHEN rn = (99 * cnt + 99) // 100 THEN value END) AS hi
        FROM r GROUP BY 1)
      SELECT e.event_type, e.event_id, e.value, lo, hi,
             least(greatest(e.value, lo), hi) AS value_wins
      FROM events e JOIN q USING (event_type)
    """)
  )

  /** Per-type feature normalization (min-max + population z-score):
    * one stats groupBy (|groups| rows, broadcast) + a map-side
    * projection — zero wide shuffles of the fact side. Constant
    * groups yield null, pinned by lazy CASE in both engines.
    */
  val featureScale: Q = Q(
    "feature_scale",
    (s, dir) => Features.scale(
      events(s, dir).select("event_type", "event_id", "value"),
      "event_type", "value"),
    Some("""
      WITH st AS (
        SELECT event_type, count(*) AS n, min(value) AS mn, max(value) AS mx,
               CAST(sum(CAST(value AS DECIMAL(19,4))) AS DOUBLE) AS s,
               CAST(CAST(sum(CAST(value AS DECIMAL(19,4)) * CAST(value AS DECIMAL(19,4)))
                         AS VARCHAR) AS DOUBLE) AS s2
        FROM events GROUP BY 1)
      SELECT e.event_type, e.event_id, e.value,
             CASE WHEN mx = mn THEN NULL
                  ELSE (e.value - mn) / (mx - mn) END AS minmax,
             CASE WHEN sqrt(greatest(s2 - s * s / CAST(n AS DOUBLE), 0.0::DOUBLE)
                            / CAST(n AS DOUBLE)) = 0.0::DOUBLE THEN NULL
                  ELSE (e.value - s / CAST(n AS DOUBLE))
                       / sqrt(greatest(s2 - s * s / CAST(n AS DOUBLE), 0.0::DOUBLE)
                              / CAST(n AS DOUBLE))
             END AS zscore
      FROM events e JOIN st USING (event_type)
    """)
  )

  /** `observe()` promoted to the driver surface: the event scan runs
    * with a CollectMetrics data-quality gate attached (row count, null
    * rate, exact decimal value total, time bounds — the ingest-gate
    * metrics ObserveSpec exercises) and the query's RESULT is the
    * observed metric row itself, populated during the pipeline's own
    * pass (noop sink action, zero extra aggregation jobs) and
    * hash-checked against the oracle's independent scalar aggregates.
    */
  val pipelineMetrics: Q = Q(
    "pipeline_metrics",
    (s, dir) => {
      val obs = org.apache.spark.sql.Observation("ingest_gate")
      val observed = events(s, dir).observe(obs,
        count(lit(1)).as("n_rows"),
        count(when(col("user_id").isNull, 1)).as("n_null_user"),
        sum(col("value").cast(DecimalType(20, 4))).cast("double").as("sum_value"),
        min(col("ts")).as("min_ts"),
        max(col("ts")).as("max_ts"))
      observed.write.mode("overwrite").format("noop").save()
      val m = obs.get
      def ts(v: Any): java.sql.Timestamp = v match {
        case t: java.sql.Timestamp => t
        case i: java.time.Instant => java.sql.Timestamp.from(i)
      }
      import s.implicits._
      Seq((m("n_rows").asInstanceOf[Long], m("n_null_user").asInstanceOf[Long],
        m("sum_value").asInstanceOf[Double], ts(m("min_ts")), ts(m("max_ts"))))
        .toDF("n_rows", "n_null_user", "sum_value", "min_ts", "max_ts")
    },
    Some("""
      SELECT count(*) AS n_rows,
             count(CASE WHEN user_id IS NULL THEN 1 END) AS n_null_user,
             CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS sum_value,
             min(CAST(ts AS TIMESTAMP)) AS min_ts,
             max(CAST(ts AS TIMESTAMP)) AS max_ts
      FROM events
    """)
  )

  /** Mergeable bottom-k quantile sketch (Quantiles.sampledQuantiles):
    * the third mergeable summary next to HLL distinct and CMS counts,
    * and the one-pass sibling of `value_quantiles`' exact rank
    * selection (no per-group sort of the data — only the k-sample
    * sorts). Unlike `approx_percentile`, the md5 bottom-k sample is
    * exactly restatable in SQL, so the ESTIMATE hash-matches: the
    * oracle replays hash-rank ≤ k then sample-rank selection. k=256
    * ⇒ DKW rank error ≲ 0.11 at 95 % — bounded in QuantilesSpec
    * against the exact quantiles.
    */
  val sampledQuantiles: Q = Q(
    "sampled_quantiles",
    (s, dir) => Quantiles.sampledQuantiles(events(s, dir), "event_type", "value",
      "event_id", k = 256, pcts = Seq(10, 50, 90, 99)),
    Some("""
      WITH h AS (
        SELECT event_type, value,
               md5('qsketch:' || CAST(event_id AS VARCHAR)) AS h
        FROM events),
      r AS (SELECT event_type, value, h,
                   row_number() OVER (PARTITION BY event_type ORDER BY h, value) AS rh,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM h),
      samp AS (SELECT * FROM r WHERE rh <= 256),
      rv AS (SELECT event_type, value, n,
                    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rv,
                    count(*) OVER (PARTITION BY event_type) AS m
             FROM samp)
      SELECT event_type, pct, value AS quantile_est,
             CAST(m AS BIGINT) AS n_sample, CAST(n AS BIGINT) AS n_total
      FROM rv CROSS JOIN unnest([10, 50, 90, 99]) AS u(pct)
      WHERE rv = (pct * m + 99) // 100
    """)
  )

  /** Quartile discretization of `value` per event type
    * (Quantiles.bucketize): equal-frequency feature binning with
    * exact rank-selected cutoffs — the fourth member of the exact-
    * quantile family (select / fence / clip / BIN). Broadcast cutoff
    * join, map-side bucket assignment.
    */
  val valueBuckets: Q = Q(
    "value_buckets",
    (s, dir) => Quantiles.bucketize(
        events(s, dir).select("event_type", "event_id", "value"),
        "event_type", "value", "event_id", nBuckets = 4)
      .select("event_type", "event_id", "value", "bucket"),
    Some("""
      WITH r AS (
        SELECT event_type, value, event_id,
               row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type) AS cnt
        FROM events),
      c AS (SELECT event_type,
              max(CASE WHEN rn = (25 * cnt + 99) // 100 THEN value END) AS c25,
              max(CASE WHEN rn = (50 * cnt + 99) // 100 THEN value END) AS c50,
              max(CASE WHEN rn = (75 * cnt + 99) // 100 THEN value END) AS c75
            FROM r GROUP BY 1)
      SELECT e.event_type, e.event_id, e.value,
             1 + (CASE WHEN e.value > c.c25 THEN 1 ELSE 0 END)
               + (CASE WHEN e.value > c.c50 THEN 1 ELSE 0 END)
               + (CASE WHEN e.value > c.c75 THEN 1 ELSE 0 END) AS bucket
      FROM events e JOIN c USING (event_type)
    """)
  )

  /** Population Stability Index per event type — the standard ML
    * feature-drift monitor: decile cutoffs from the REFERENCE window
    * (ts < cut, the train-time distribution), both windows bucketed
    * against them, PSI = Σ (p−q)·ln(p/q) with add-one (Laplace)
    * smoothing so empty buckets stay finite — a documented, exactly
    * restatable convention. Determinism: bucket counts are exact
    * integers; p and q are single correctly-rounded double divisions;
    * each bucket term quantizes to integer NANO-units at the ln
    * (LangModel policy, finer grain because PSI terms are tiny) and
    * the sum is exact 64-bit before ONE final division. Scale shape:
    * cutoffs broadcast (group-count-sized), bucketing map-side, one
    * (type, half, bucket) aggregate — no new shuffle class.
    */
  val psiDrift: Q = Q(
    "psi_drift",
    (s, dir) => {
      val cut = lit("2024-01-15").cast("timestamp")
      val ev = events(s, dir).select(col("event_type"), col("value"),
        col("event_id"), (col("ts") < cut).as("is_ref"))
      val pcts = (1 until 10).map(_ * 10)
      val bounds = Quantiles.exactQuantiles(ev.filter(col("is_ref")),
          "event_type", "value", "event_id", pcts)
        .groupBy(col("event_type"))
        .agg(pcts.map(p =>
          max(when(col("pct") === p, col("quantile_value"))).as(s"c$p")).head,
          pcts.map(p =>
            max(when(col("pct") === p, col("quantile_value"))).as(s"c$p")).tail: _*)
      val bucket = pcts.map(p =>
        when(col("value") > col(s"c$p"), 1).otherwise(0)).reduce(_ + _) + 1
      val counts = ev.join(broadcast(bounds), "event_type")
        .withColumn("bucket", bucket)
        .groupBy("event_type", "bucket")
        .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("cr"),
          sum(when(!col("is_ref"), 1L).otherwise(0L)).as("cc"))
      val tot = counts.groupBy("event_type")
        .agg(sum("cr").as("nr"), sum("cc").as("nc"))
      val p = (col("cr") + 1).cast("double") / (col("nr") + 10).cast("double")
      val q = (col("cc") + 1).cast("double") / (col("nc") + 10).cast("double")
      counts.join(broadcast(tot), "event_type")
        .withColumn("term_nano",
          floor((p - q) * log(p / q) * lit(1e9) + lit(0.5)).cast("long"))
        .groupBy("event_type")
        .agg(max("nr").as("n_ref"), max("nc").as("n_cur"),
          (sum("term_nano").cast("double") / lit(1e9)).as("psi"))
    },
    Some("""
      WITH ev AS (
        SELECT event_type, value, event_id,
               CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-15' AS is_ref
        FROM events),
      r AS (SELECT event_type, value, event_id,
                   row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS cnt
            FROM ev WHERE is_ref),
      c AS (SELECT event_type,
              max(CASE WHEN rn = (10 * cnt + 99) // 100 THEN value END) AS c10,
              max(CASE WHEN rn = (20 * cnt + 99) // 100 THEN value END) AS c20,
              max(CASE WHEN rn = (30 * cnt + 99) // 100 THEN value END) AS c30,
              max(CASE WHEN rn = (40 * cnt + 99) // 100 THEN value END) AS c40,
              max(CASE WHEN rn = (50 * cnt + 99) // 100 THEN value END) AS c50,
              max(CASE WHEN rn = (60 * cnt + 99) // 100 THEN value END) AS c60,
              max(CASE WHEN rn = (70 * cnt + 99) // 100 THEN value END) AS c70,
              max(CASE WHEN rn = (80 * cnt + 99) // 100 THEN value END) AS c80,
              max(CASE WHEN rn = (90 * cnt + 99) // 100 THEN value END) AS c90
            FROM r GROUP BY 1),
      b AS (SELECT e.event_type, e.is_ref,
              1 + (CASE WHEN e.value > c.c10 THEN 1 ELSE 0 END)
                + (CASE WHEN e.value > c.c20 THEN 1 ELSE 0 END)
                + (CASE WHEN e.value > c.c30 THEN 1 ELSE 0 END)
                + (CASE WHEN e.value > c.c40 THEN 1 ELSE 0 END)
                + (CASE WHEN e.value > c.c50 THEN 1 ELSE 0 END)
                + (CASE WHEN e.value > c.c60 THEN 1 ELSE 0 END)
                + (CASE WHEN e.value > c.c70 THEN 1 ELSE 0 END)
                + (CASE WHEN e.value > c.c80 THEN 1 ELSE 0 END)
                + (CASE WHEN e.value > c.c90 THEN 1 ELSE 0 END) AS bucket
            FROM ev e JOIN c USING (event_type)),
      k AS (SELECT event_type, bucket,
                   CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS cr,
                   CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS cc
            FROM b GROUP BY 1, 2),
      t AS (SELECT event_type, CAST(sum(cr) AS BIGINT) AS nr,
                   CAST(sum(cc) AS BIGINT) AS nc
            FROM k GROUP BY 1),
      terms AS (
        SELECT k.event_type, t.nr, t.nc,
               CAST(floor(
                 (CAST(k.cr + 1 AS DOUBLE) / CAST(t.nr + 10 AS DOUBLE)
                  - CAST(k.cc + 1 AS DOUBLE) / CAST(t.nc + 10 AS DOUBLE))
                 * ln((CAST(k.cr + 1 AS DOUBLE) / CAST(t.nr + 10 AS DOUBLE))
                      / (CAST(k.cc + 1 AS DOUBLE) / CAST(t.nc + 10 AS DOUBLE)))
                 * CAST(1e9 AS DOUBLE) + 0.5) AS BIGINT) AS term_nano
        FROM k JOIN t USING (event_type))
      SELECT event_type, max(nr) AS n_ref, max(nc) AS n_cur,
             CAST(sum(term_nano) AS DOUBLE) / CAST(1e9 AS DOUBLE) AS psi
      FROM terms GROUP BY 1
    """)
  )

  val all: Seq[Q] = Seq(sessionize, sessionizeNative, saltedAgg, pipelineMetrics,
    incrementalStats, distinctSketch, upsertLatest, valueQuantiles, rollupStats, pivotDaily,
    trailingSum, zorderIndex, outlierFilter, profileNumeric, winsorizeValues,
    featureScale, sampledQuantiles, valueBuckets, psiDrift, cdcApply)
}
