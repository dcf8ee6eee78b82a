package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.llm.{Sampling, Similarity, TextHash}
import graft.ops.{Analytics, Communities, KCore, LinkPrediction, PageRank, PrefixSum, Scd, Triangles}

/** Product/OLAP analytics over `events` plus relational breadth ops
  * (explicit set operations, semi/anti joins, CUBE, exact
  * correlation): the query surface a warehouse team runs next to the
  * market pipelines. Every query carries a full DuckDB oracle; the
  * determinism policy is Registry's (DECIMAL-exact sums, md5-derived
  * randomness, IEEE-identical double expressions).
  */
object AnalyticsQueries {

  private def events(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.events(s, dir)

  /** DuckDB reads the events parquet as TIMESTAMP_NS; normalize to
    * microseconds to match `Tables.events`.
    */
  private val evCte =
    "ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events)"

  /** Ordered conversion funnel signup → view → click → purchase:
    * stage i counts only events strictly after the user's stage-(i-1)
    * time. Per-stage per-user aggregates joined on the shared user
    * key (one partitioning reused across all four stages).
    */
  val funnelSteps: Q = Q(
    "funnel_steps",
    (s, dir) => Analytics.funnel(events(s, dir), "user_id", "ts", "event_type",
      Seq("signup", "view", "click", "purchase")),
    Some(s"""
      WITH $evCte,
      s0 AS (SELECT user_id, min(ts) AS t0 FROM ev
             WHERE event_type = 'signup' GROUP BY 1),
      s1 AS (SELECT e.user_id, min(e.ts) AS t1 FROM ev e
             JOIN s0 ON e.user_id = s0.user_id
             WHERE e.event_type = 'view' AND e.ts > s0.t0 GROUP BY 1),
      s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM ev e
             JOIN s1 ON e.user_id = s1.user_id
             WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
      s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM ev e
             JOIN s2 ON e.user_id = s2.user_id
             WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
      SELECT s0.user_id, t0, t1, t2, t3,
             1 + CASE WHEN t1 IS NULL THEN 0 ELSE 1 END
               + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
               + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END AS stage_reached
      FROM s0
      LEFT JOIN s1 ON s0.user_id = s1.user_id
      LEFT JOIN s2 ON s0.user_id = s2.user_id
      LEFT JOIN s3 ON s0.user_id = s3.user_id
    """)
  )

  /** Cohort retention: first-activity-day cohorts × active-day
    * offsets (0..14), distinct users per cell.
    */
  val cohortRetention: Q = Q(
    "cohort_retention",
    (s, dir) => Analytics.cohortRetention(events(s, dir), "user_id", "ts", 14),
    Some(s"""
      WITH $evCte,
      f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day FROM ev GROUP BY 1),
      a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM ev)
      SELECT cohort_day,
             CAST(date_diff('day', cohort_day, day) AS INT) AS day_offset,
             count(DISTINCT a.user_id) AS users
      FROM a JOIN f ON a.user_id = f.user_id
      WHERE date_diff('day', cohort_day, day) <= 14
      GROUP BY 1, 2
    """)
  )

  /** 16-bucket equal-width histogram of `events.value`: 1-row bounds
    * aggregate broadcast into the bucketing projection (never a
    * driver collect), DECIMAL-exact per-bucket sums.
    */
  val histogramValue: Q = Q(
    "histogram_value",
    (s, dir) => Analytics.histogram(events(s, dir), "value", 16),
    Some("""
      WITH b AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
      x AS (SELECT value,
                   CAST(least(floor((value - lo) / ((hi - lo) / 16)), 15) AS INT) AS bucket
            FROM events, b)
      SELECT bucket, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS sum_value,
             min(value) AS min_value, max(value) AS max_value
      FROM x GROUP BY 1
    """)
  )

  /** The ranking-window suite (§2.5 breadth): ntile quartiles over a
    * unique (ts, event_id) order; rank / percent_rank / cume_dist over
    * a tying value order (exercises peer-group semantics — identical
    * in any engine); lead over the unique order. percent_rank =
    * (rank-1)/(n-1) and cume_dist = peers/n are exact integer ratios
    * in doubles, so both engines agree bitwise.
    */
  val windowRanks: Q = Q(
    "window_ranks",
    (s, dir) => {
      val seq = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val byValue = Window.partitionBy("user_id").orderBy(col("value").desc)
      events(s, dir).select(
        col("event_id"), col("user_id"), col("value"),
        ntile(4).over(seq).as("quartile"),
        lead("value", 1).over(seq).as("next_value"),
        rank().over(byValue).as("value_rank"),
        percent_rank().over(byValue).as("value_pct_rank"),
        cume_dist().over(byValue).as("value_cume_dist"))
    },
    Some(s"""
      WITH $evCte
      SELECT event_id, user_id, value,
             CAST(ntile(4) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT)
               AS quartile,
             lead(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_value,
             CAST(rank() OVER (PARTITION BY user_id ORDER BY value DESC) AS INT)
               AS value_rank,
             percent_rank() OVER (PARTITION BY user_id ORDER BY value DESC)
               AS value_pct_rank,
             cume_dist() OVER (PARTITION BY user_id ORDER BY value DESC)
               AS value_cume_dist
      FROM ev
    """)
  )

  /** Explicit set operations (§2.8): EXCEPT / INTERSECT between the
    * purchaser and error-reporter user sets, tagged and unioned.
    * Distinct-set semantics (Spark `except`/`intersect` = SQL
    * EXCEPT/INTERSECT).
    */
  val userSetOps: Q = Q(
    "user_set_ops",
    (s, dir) => {
      val ev = events(s, dir)
      def users(t: String) =
        ev.filter(col("event_type") === t).select("user_id").distinct()
      val p = users("purchase")
      val e = users("error")
      p.except(e).withColumn("op", lit("purchase_only"))
        .unionByName(p.intersect(e).withColumn("op", lit("both")))
        .unionByName(e.except(p).withColumn("op", lit("error_only")))
        .select("op", "user_id")
    },
    Some("""
      WITH p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
      e AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
      SELECT 'purchase_only' AS op, user_id FROM (SELECT user_id FROM p EXCEPT SELECT user_id FROM e)
      UNION ALL
      SELECT 'both' AS op, user_id FROM (SELECT user_id FROM p INTERSECT SELECT user_id FROM e)
      UNION ALL
      SELECT 'error_only' AS op, user_id FROM (SELECT user_id FROM e EXCEPT SELECT user_id FROM p)
    """)
  )

  /** Left-semi join: orders with at least one near-max-quantity line.
    * The probe side streams; only the filtered build side shuffles
    * (and broadcasts below the AQE threshold).
    */
  val semiJoinHot: Q = Q(
    "semi_join_hot",
    (s, dir) => {
      val hot = Tables.lineitem(s, dir)
        .filter(col("l_quantity") >= 49).select("l_orderkey")
      Tables.orders(s, dir)
        .join(hot, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    },
    Some("""
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders
      WHERE EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
    """)
  )

  /** Exact decontamination: anti-join train+val docs against the
    * held-out split's content hashes (md5 of whitespace-normalized
    * text). The complement of `decontam_overlap`'s n-gram filter:
    * exact-match removal with a broadcast-sized eval side; the corpus
    * never shuffles (left_anti against a broadcast hash set).
    */
  val decontamExact: Q = Q(
    "decontam_exact",
    (s, dir) => {
      val split = Sampling.withSplit(Tables.documents(s, dir), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .withColumn("content_hash", md5(TextHash.normalize(col("text"))))
      val evalHashes = split.filter(col("split") === "test")
        .select(col("content_hash").as("h")).distinct()
      split.filter(col("split") =!= "test")
        .join(broadcast(evalHashes), col("content_hash") === col("h"), "left_anti")
        .select("doc_id", "lang", "content_hash")
    },
    Some("""
      WITH u AS (
        SELECT doc_id, lang,
               md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_hash,
               ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 8))::BIGINT
                 / 4294967296.0 AS su
        FROM documents),
      t AS (SELECT doc_id, lang, content_hash FROM u WHERE su < 0.9),
      e AS (SELECT DISTINCT content_hash FROM u WHERE su >= 0.9)
      SELECT doc_id, lang, content_hash
      FROM t WHERE NOT EXISTS
        (SELECT 1 FROM e WHERE e.content_hash = t.content_hash)
    """)
  )

  /** Square-root temperature rebalancing of the language mix
    * (multilingual-corpus sampling): language l kept at rate
    * sqrt(n_min/n_l) via the md5-deviate threshold. Rates are a
    * |langs|-row broadcast; the keep decision is map-side.
    */
  val langBalanceSample: Q = Q(
    "lang_balance_sample",
    (s, dir) => Sampling.temperatureSample(Tables.documents(s, dir), "doc_id", "lang")
      .select("doc_id", "lang", "sample_rate"),
    Some("""
      WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
      m AS (SELECT min(n) AS n_min FROM c),
      r AS (SELECT lang, sqrt(CAST(n_min AS DOUBLE) / n) AS sample_rate FROM c, m)
      SELECT d.doc_id, d.lang, r.sample_rate
      FROM documents d JOIN r ON d.lang = r.lang
      WHERE ('0x' || substr(md5('langbal:' || doc_id::VARCHAR), 1, 8))::BIGINT
              / 4294967296.0 < r.sample_rate
    """)
  )

  /** `corr_features` over any lineitem-shaped frame (l_returnflag,
    * l_quantity, l_extendedprice, l_discount): the registry query
    * applies it to the lineitem table, CorrMomentsSpec to hand-built
    * frames at and beyond the TPC-H bounds.
    */
  private[graft] def corrFeaturesOf(lineitem: DataFrame): DataFrame = {
    def dbl(name: String) = col(name).cast("double")
    val nD = col("n").cast("double")
    def corr(sxy: String, sx: String, sxx: String, sy: String, syy: String) =
      (nD * dbl(sxy) - dbl(sx) * dbl(sy)) /
        (sqrt(nD * dbl(sxx) - dbl(sx) * dbl(sx)) *
         sqrt(nD * dbl(syy) - dbl(sy) * dbl(sy)))
    // r13 LONG-UNSCALED moments (r12 VERDICT #5), bit-identical by
    // construction to the r12 DECIMAL(25,8)-product form
    // (CorrMomentsSpec pins it against that form, kept as its
    // reference; the DuckDB oracle hash-checks it end-to-end):
    //
    // 1. Per-row quantization IS the same `cast(x AS DECIMAL(12,4))`
    //    (HALF_UP) as the decimal form; the unscaled integer is then
    //    recovered through one double multiply-round. Exactness:
    //    |v|·10⁴ ≤ 1.05·10⁹ (l_quantity ∈ [1,50], l_extendedprice
    //    < 105 000, l_discount ∈ [0,0.1] — TPC-H spec bounds,
    //    re-measured on every test SF), the decimal→double cast of
    //    a ≤12-significant-digit value and the ·10⁴ product each
    //    err ≤ 1 ulp, so the total error ≤ 2·2⁻⁵²·1.05·10⁹ ≈ 5·10⁻⁷
    //    « 0.5 and round() recovers the integer exactly.
    // 2. Per-row products are single LONG multiplies: the largest,
    //    p_u², is ≤ (1.05·10⁹)² = 1.103·10¹⁸ < 2⁶³−1 (8.4×
    //    headroom). ENFORCED, not assumed: each row raises an error
    //    before any product if an unscaled value is negative or
    //    exceeds √(2⁶³−1) ≈ 3.03·10⁹, so the named precondition
    //    fires under ANSI arithmetic too (a square would overflow
    //    first otherwise).
    // 3. Sums are exact DECIMAL(38,0) over the long products —
    //    capacity 10³⁸ covers any row count to 10¹⁹.
    // 4. The one double per moment is produced by BigDecimal
    //    (unscaled)·10⁻ˢ → doubleValue(): one correctly-rounded
    //    conversion of the exact moment — the same value the
    //    decimal form's DECIMAL(35,8)→double cast and DuckDB's
    //    VARCHAR→DOUBLE cast produce. (A 3-row scalar UDF tail,
    //    deliberately outside the typed-decimal division rules,
    //    whose loss-adjusted scales would round 10⁻⁸ to 10⁻⁶.)
    val rescale = udf { (bd: java.math.BigDecimal, scale: Int) =>
      bd.movePointLeft(scale).doubleValue
    }
    // (x + 0.5).cast(long) == round-half-up for these NON-NEGATIVE
    // columns (error « 0.5, point 1 above) and is a pure codegen
    // primitive — Spark's round() routes every double through a
    // per-row BigDecimal.setScale (measured 0.9 s of the query)
    def u(c: String) = {
      val v = (col(c).cast(DecimalType(12, 4)).cast("double") * lit(1e4) + lit(0.5))
        .cast("long")
      when(v > lit(3037000499L) || v < lit(0L),
        raise_error(lit("corr_features needs l_quantity, l_extendedprice and " +
          "l_discount non-negative with DECIMAL(12,4) unscaled values at most " +
          "3037000499 (sqrt(Long.MaxValue)), so per-row products fit a long"))
          .cast("long"))
        .otherwise(v)
    }
    val li = lineitem.select(
      col("l_returnflag"),
      u("l_quantity").as("qu"),
      u("l_extendedprice").as("pu"),
      u("l_discount").as("du"))
    def s38(c: org.apache.spark.sql.Column) = sum(c.cast(DecimalType(28, 0)))
    val m = li.groupBy("l_returnflag").agg(
      count(lit(1)).as("n"),
      s38(col("qu")).as("squ"), s38(col("pu")).as("spu"), s38(col("du")).as("sdu"),
      s38(col("qu") * col("pu")).as("sqpu"), s38(col("qu") * col("du")).as("sqdu"),
      s38(col("qu") * col("qu")).as("sqqu"), s38(col("pu") * col("pu")).as("sppu"),
      s38(col("du") * col("du")).as("sddu"))
    val scaled = m.select(col("l_returnflag"), col("n"),
      rescale(col("squ"), lit(4)).as("sq"),
      rescale(col("spu"), lit(4)).as("sp"),
      rescale(col("sdu"), lit(4)).as("sd"),
      rescale(col("sqpu"), lit(8)).as("sqp"),
      rescale(col("sqdu"), lit(8)).as("sqd"),
      rescale(col("sqqu"), lit(8)).as("sqq"),
      rescale(col("sppu"), lit(8)).as("spp"),
      rescale(col("sddu"), lit(8)).as("sdd"))
    scaled.select(col("l_returnflag"), col("n"),
      corr("sqp", "sq", "sqq", "sp", "spp").as("corr_qty_price"),
      corr("sqd", "sq", "sqq", "sd", "sdd").as("corr_qty_discount"))
  }

  /** Exact per-group Pearson correlation from DECIMAL-exact raw
    * moments: the sums are exact (DECIMAL(12,4) inputs, DECIMAL(25,8)
    * products, no rounding), so both engines start the final IEEE
    * double arithmetic from bit-identical values. DuckDB casts the
    * scale-8 decimals through VARCHAR (its direct decimal→double cast
    * double-rounds past 2^53 — Registry note).
    */
  val corrFeatures: Q = Q(
    "corr_features",
    (s, dir) => corrFeaturesOf(Tables.lineitem(s, dir)),
    Some("""
      -- width 19 forces DuckDB's int128 decimal kernel: its int64
      -- kernel overflows on (12,4)×(12,4) products, and 19+19 → an
      -- exact DECIMAL(38,8), matching Spark's exact (12,4)×(12,4) →
      -- DECIMAL(25,8) value-for-value.
      WITH li AS (
        SELECT l_returnflag,
               CAST(l_quantity AS DECIMAL(19,4)) AS q,
               CAST(l_extendedprice AS DECIMAL(19,4)) AS p,
               CAST(l_discount AS DECIMAL(19,4)) AS d
        FROM lineitem),
      m AS (
        SELECT l_returnflag, count(*) AS n,
               sum(q) AS sq, sum(p) AS sp, sum(d) AS sd,
               sum(q * p) AS sqp, sum(q * d) AS sqd,
               sum(q * q) AS sqq, sum(p * p) AS spp, sum(d * d) AS sdd
        FROM li GROUP BY 1),
      dm AS (
        SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
               CAST(CAST(sq AS VARCHAR) AS DOUBLE) AS sq,
               CAST(CAST(sp AS VARCHAR) AS DOUBLE) AS sp,
               CAST(CAST(sd AS VARCHAR) AS DOUBLE) AS sd,
               CAST(CAST(sqp AS VARCHAR) AS DOUBLE) AS sqp,
               CAST(CAST(sqd AS VARCHAR) AS DOUBLE) AS sqd,
               CAST(CAST(sqq AS VARCHAR) AS DOUBLE) AS sqq,
               CAST(CAST(spp AS VARCHAR) AS DOUBLE) AS spp,
               CAST(CAST(sdd AS VARCHAR) AS DOUBLE) AS sdd
        FROM m)
      SELECT l_returnflag, n,
             (nd * sqp - sq * sp)
               / (sqrt(nd * sqq - sq * sq) * sqrt(nd * spp - sp * sp))
               AS corr_qty_price,
             (nd * sqd - sq * sd)
               / (sqrt(nd * sqq - sq * sq) * sqrt(nd * sdd - sd * sd))
               AS corr_qty_discount
      FROM dm
    """)
  )

  /** CUBE over (returnflag, linestatus) — all four grouping-set
    * levels in one pass (Expand + partial agg; complements
    * `rollup_stats`'s hierarchy). NULL group labels coalesced to
    * 'ALL' so the hash compare is label-stable.
    */
  val cubeStats: Q = Q(
    "cube_stats",
    (s, dir) => Tables.lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(20, 4))).cast("double").as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n"), col("sum_qty")),
    Some("""
      SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
             coalesce(l_linestatus, 'ALL') AS linestatus,
             count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty
      FROM lineitem
      GROUP BY CUBE (l_returnflag, l_linestatus)
    """)
  )

  /** PageRank over the customer→supplier order-flow graph (customers
    * even node ids, suppliers odd — the raw keys share an id space),
    * 3 fixed iterations of INTEGER fixed-point arithmetic (scale
    * 10¹²): BIGINT sums and `div` are exact and associative, so the
    * iteration is bit-reproducible under any partitioning and the
    * oracle unrolls the identical math — a float PageRank could never
    * hash-match across engines. Suppliers are pure sinks here
    * (dangling — the documented simplification in PageRank).
    */
  val supplierPagerank: Q = Q(
    "supplier_pagerank",
    (s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), (col("o_custkey") * 2).as("src"))
      val l = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), (col("l_suppkey") * 2 + 1).as("dst"))
      val edges = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select("src", "dst")
      PageRank.ranks(edges, "src", "dst", iters = 3)
    },
    Some("""
      WITH e AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
                 FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
      deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
      c0 AS (SELECT 1000000000000 // count(*) AS init,
                    (15 * (1000000000000 // count(*))) // 100 AS base
             FROM nodes),
      r0 AS (SELECT id, init AS r FROM nodes CROSS JOIN c0),
      c1 AS (SELECT e.dst, sum(r.r // d.outdeg) AS s
             FROM e JOIN r0 r ON e.src = r.id JOIN deg d ON e.src = d.src
             GROUP BY 1),
      r1 AS (SELECT id, base + (85 * coalesce(s, 0)) // 100 AS r
             FROM nodes CROSS JOIN c0 LEFT JOIN c1 ON id = c1.dst),
      c2 AS (SELECT e.dst, sum(r.r // d.outdeg) AS s
             FROM e JOIN r1 r ON e.src = r.id JOIN deg d ON e.src = d.src
             GROUP BY 1),
      r2 AS (SELECT id, base + (85 * coalesce(s, 0)) // 100 AS r
             FROM nodes CROSS JOIN c0 LEFT JOIN c2 ON id = c2.dst),
      c3 AS (SELECT e.dst, sum(r.r // d.outdeg) AS s
             FROM e JOIN r2 r ON e.src = r.id JOIN deg d ON e.src = d.src
             GROUP BY 1),
      r3 AS (SELECT id, base + (85 * coalesce(s, 0)) // 100 AS r
             FROM nodes CROSS JOIN c0 LEFT JOIN c3 ON id = c3.dst)
      SELECT id, CAST(r AS BIGINT) AS rank_fp,
             CAST(r AS DOUBLE) / 1e12 AS rank
      FROM r3
    """)
  )

  /** Bag-semantics set operations (EXCEPT ALL / INTERSECT ALL) over
    * the purchase/error user multisets — multiplicity-preserving
    * complements of `user_set_ops`' distinct forms: a user with 3
    * purchases and 1 error keeps 2 `purchase_minus_error` rows and 1
    * `both` row. Spark plans these as aggregate count-difference
    * replication, not joins — no distinct collapse.
    */
  val userBagOps: Q = Q(
    "user_bag_ops",
    (s, dir) => {
      val ev = events(s, dir)
      def users(t: String) =
        ev.filter(col("event_type") === t).select("user_id")
      val p = users("purchase")
      val e = users("error")
      p.exceptAll(e).withColumn("op", lit("purchase_minus_error"))
        .unionByName(p.intersectAll(e).withColumn("op", lit("both")))
        .select("op", "user_id")
    },
    Some("""
      SELECT 'purchase_minus_error' AS op, user_id FROM (
        SELECT user_id FROM events WHERE event_type = 'purchase'
        EXCEPT ALL
        SELECT user_id FROM events WHERE event_type = 'error')
      UNION ALL
      SELECT 'both' AS op, user_id FROM (
        SELECT user_id FROM events WHERE event_type = 'purchase'
        INTERSECT ALL
        SELECT user_id FROM events WHERE event_type = 'error')
    """)
  )

  /** Unpivot (melt) — the inverse of `pivot_daily`'s reshape: the
    * three lineitem measure columns become (metric, value) rows. One
    * Expand node, scan-speed, zero shuffle (the Generate/Expand
    * analogue of the pivot's conditional aggregation).
    */
  val meltMetrics: Q = Q(
    "melt_metrics",
    (s, dir) => Tables.lineitem(s, dir)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "metric", "value"),
    Some("""
      SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value
      FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
    """)
  )

  /** Explicit GROUPING SETS — the third grouping-set form next to
    * `rollup_stats` (hierarchy) and `cube_stats` (all combinations):
    * exactly the listed groupings ((returnflag), (linestatus)), one
    * Expand pass, no unwanted intermediate levels. NULL labels
    * coalesced as in cube_stats for hash-stable output.
    */
  val groupingSetsStats: Q = Q(
    "grouping_sets_stats",
    (s, dir) => Tables.lineitem(s, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(20, 4))).cast("double").as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n"), col("sum_qty")),
    Some("""
      SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
             coalesce(l_linestatus, 'ALL') AS linestatus,
             count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """)
  )

  /** SCD type-2 dimension history: each user's event_type change
    * stream collapsed into versioned `[valid_from, valid_to)`
    * intervals with an open current row (graft.ops.Scd — one shuffle,
    * stacked windows on a single sort).
    */
  val scd2History: Q = Q(
    "scd2_history",
    (s, dir) => Scd.history(events(s, dir), "user_id", "event_type", "ts", "event_id"),
    Some(s"""
      WITH $evCte,
      c AS (SELECT user_id, event_type, ts, event_id,
                   lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
            FROM ev),
      k AS (SELECT user_id, event_type, ts AS valid_from, event_id
            FROM c WHERE prev IS NULL OR prev <> event_type)
      SELECT user_id, event_type, valid_from,
             lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to,
             row_number() OVER (PARTITION BY user_id ORDER BY valid_from, event_id)::INT AS version,
             lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id) IS NULL AS is_current
      FROM k
    """)
  )

  /** Per-vertex triangle counts over the label-blocked k-NN graph —
    * degree-ordered edge orientation (each triangle generated exactly
    * once, wedge fan-out bounded by O(√|E|); graft.ops.Triangles).
    * The oracle counts canonical a<b<c triples directly — orientation
    * is a pure execution strategy, invisible in the result.
    */
  val knnTriangles: Q = Q(
    "knn_triangles",
    (s, dir) => Triangles.perVertex(
      Similarity.knnGraph(Tables.embeddings(s, dir), "vec_id", "embedding", "label", k = 3),
      "src", "dst"),
    Some("""
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (SELECT vec_id, label, v,
                   list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm
            FROM e),
      s AS (SELECT a.vec_id AS src, b.vec_id AS dst,
                   list_reduce(list_transform(range(1, 65), i -> a.v[i::INT] * b.v[i::INT]),
                               (x, y) -> x + y) / (sqrt(a.nrm) * sqrt(b.nrm)) AS cosine
            FROM n a JOIN n b ON a.label = b.label AND a.vec_id <> b.vec_id),
      g AS (SELECT src, dst FROM (
              SELECT src, dst,
                     row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rank
              FROM s) WHERE rank <= 3),
      ce AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
             FROM g WHERE src <> dst),
      tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
              FROM ce e1 JOIN ce e2 ON e2.a = e1.b
                         JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b)
      SELECT vertex, count(*) AS triangles
      FROM (SELECT unnest([x, y, z]) AS vertex FROM tri)
      GROUP BY 1
    """)
  )

  /** First-order Markov transition matrix over per-user event
    * sequences — the behavioral-sequence model behind next-event
    * prediction and anomaly scoring. One user-keyed lag window (the
    * sequence must be read in order), then a |types|²-bounded
    * aggregate; probabilities are exact integer ratios divided once
    * in DOUBLE.
    *
    * Scale: the only full-width exchange is the per-user window sort;
    * the transition aggregate partial-combines map-side to the tiny
    * (from, to) domain, and the per-from normalizing window runs on
    * |types|² rows.
    */
  val eventTransitions: Q = Q(
    "event_transitions",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val t = events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      t.withColumn("p",
        col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy("from_type")).cast("double"))
    },
    Some("""
      WITH s AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS next_type
        FROM events),
      t AS (
        SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
        FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2)
      SELECT from_type, to_type, n,
             CAST(n AS DOUBLE)
               / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
      FROM t
    """)
  )

  /** 2-d Pareto front (skyline) over per-instrument aggregates:
    * instruments not strictly dominated on (total volume, event
    * count) — multi-objective screening (the "no other instrument is
    * at least as liquid AND at least as active, and better on one"
    * cut). The naive skyline is an O(n²) dominance theta-join; in 2-d
    * it collapses to one sort: group y-maxima per distinct x, one
    * running max over x descending (EXCLUSIVE frame), and a point is
    * on the front iff it attains its x-group's y-max and strictly
    * beats every higher-x group's y. Both windows run on the
    * AGGREGATED |instruments|-row table, never on events.
    */
  val paretoFront: Q = Q(
    "pareto_front",
    (s, dir) => {
      val per = events(s, dir)
        .groupBy(col("user_id"))
        .agg(sum(col("value").cast(DecimalType(20, 4))).cast("double")
          .as("total_volume"), count(lit(1)).as("n_events"))
      val grouped = per.groupBy(col("total_volume"))
        .agg(max(col("n_events")).as("mxy"))
      // the exclusive prefix max over DESC total_volume as the
      // two-phase PrefixSum form, not an UNPARTITIONED window
      // (WindowExec "No Partition Defined" — all distinct user-totals
      // to ONE task, the r12 VERDICT #4 100 TB choke): bit-identical
      // (max is associative; PrefixSumSpec pins equality against the
      // window) and parallel
      val mxt = PrefixSum.withRunningMaxDesc(grouped, "total_volume", "mxy", "prev")
      per.join(mxt, "total_volume")
        .select(col("user_id"), col("total_volume"), col("n_events"),
          (col("n_events") === col("mxy") &&
            (col("prev").isNull || col("n_events") > col("prev"))).as("is_pareto"))
    },
    Some("""
      WITH per AS (
        SELECT user_id,
               CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS total_volume,
               count(*) AS n_events
        FROM events GROUP BY 1),
      mxt AS (SELECT total_volume, max(n_events) AS mxy FROM per GROUP BY 1),
      mxp AS (SELECT total_volume, mxy,
                     max(mxy) OVER (ORDER BY total_volume DESC
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS prev
              FROM mxt)
      SELECT p.user_id, p.total_volume, p.n_events,
             (p.n_events = m.mxy AND (m.prev IS NULL OR p.n_events > m.prev))
               AS is_pareto
      FROM per p JOIN mxp m USING (total_volume)
    """)
  )

  /** Label-propagation communities over the same customer↔supplier
    * order-flow graph as `supplier_pagerank` (undirected; customers
    * even ids, suppliers odd). 3 synchronous rounds, most-frequent-
    * neighbor-label with min-label ties — a total preference order,
    * so the oracle unrolls the identical (count → max → min) chain
    * and the result hash-matches, which randomized-tie LPA never
    * could. Mesoscale complement of pagerank/CC/triangles.
    */
  val labelCommunities: Q = Q(
    "label_communities",
    (s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), (col("o_custkey") * 2).as("src"))
      val l = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), (col("l_suppkey") * 2 + 1).as("dst"))
      val edges = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select("src", "dst")
      Communities.labelPropagation(edges, "src", "dst", iters = 3)
    },
    Some("""
      WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
                  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      und AS (SELECT src AS a, dst AS b FROM e0 UNION SELECT dst, src FROM e0),
      l0 AS (SELECT DISTINCT a AS id, a AS lbl FROM und),
      c1 AS (SELECT u.a, l.lbl, count(*) AS cnt
             FROM und u JOIN l0 l ON u.b = l.id GROUP BY 1, 2),
      m1 AS (SELECT a, max(cnt) AS mc FROM c1 GROUP BY 1),
      l1 AS (SELECT c1.a AS id, min(c1.lbl) AS lbl
             FROM c1 JOIN m1 ON c1.a = m1.a AND c1.cnt = m1.mc GROUP BY 1),
      c2 AS (SELECT u.a, l.lbl, count(*) AS cnt
             FROM und u JOIN l1 l ON u.b = l.id GROUP BY 1, 2),
      m2 AS (SELECT a, max(cnt) AS mc FROM c2 GROUP BY 1),
      l2 AS (SELECT c2.a AS id, min(c2.lbl) AS lbl
             FROM c2 JOIN m2 ON c2.a = m2.a AND c2.cnt = m2.mc GROUP BY 1),
      c3 AS (SELECT u.a, l.lbl, count(*) AS cnt
             FROM und u JOIN l2 l ON u.b = l.id GROUP BY 1, 2),
      m3 AS (SELECT a, max(cnt) AS mc FROM c3 GROUP BY 1),
      l3 AS (SELECT c3.a AS id, min(c3.lbl) AS lbl
             FROM c3 JOIN m3 ON c3.a = m3.a AND c3.cnt = m3.mc GROUP BY 1)
      SELECT id, lbl AS community FROM l3
    """)
  )

  /** Spearman rank correlation between value and event time per
    * event type — the robust complement of `corr_features`' Pearson.
    * Ranks are `row_number` over (x, event_id) — INTEGER, so every
    * moment sum is exact 64-bit arithmetic (rank products bounded by
    * n³ ≪ 2⁶³ at any test scale) and both engines start the final
    * IEEE expression from identical values; the tie policy
    * (deterministic id-ranked, not midrank) is pinned here and in
    * the oracle. n·Σxy first multiplies AFTER the double cast — the
    * corr_features overflow discipline.
    */
  val spearmanRank: Q = Q(
    "spearman_rank",
    (s, dir) => {
      val ev = events(s, dir).select(col("event_type"), col("value"),
        unix_micros(col("ts")).as("tus"), col("event_id"))
      val wv = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
      val wt = Window.partitionBy("event_type").orderBy(col("tus"), col("event_id"))
      val ranked = ev
        .withColumn("r1", row_number().over(wv).cast("long"))
        .withColumn("r2", row_number().over(wt).cast("long"))
      val m = ranked.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(col("r1")).as("s1"), sum(col("r2")).as("s2"),
        sum(col("r1") * col("r1")).as("s11"),
        sum(col("r2") * col("r2")).as("s22"),
        sum(col("r1") * col("r2")).as("s12"))
      def dbl(name: String) = col(name).cast("double")
      val nD = col("n").cast("double")
      m.select(col("event_type"), col("n"),
        ((nD * dbl("s12") - dbl("s1") * dbl("s2")) /
          (sqrt(nD * dbl("s11") - dbl("s1") * dbl("s1")) *
            sqrt(nD * dbl("s22") - dbl("s2") * dbl("s2")))).as("rho"))
    },
    Some("""
      WITH r AS (
        SELECT event_type,
               CAST(row_number() OVER (PARTITION BY event_type
                 ORDER BY value, event_id) AS BIGINT) AS r1,
               CAST(row_number() OVER (PARTITION BY event_type
                 ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS BIGINT) AS r2
        FROM events),
      m AS (
        SELECT event_type, count(*) AS n,
               sum(r1) AS s1, sum(r2) AS s2,
               sum(r1 * r1) AS s11, sum(r2 * r2) AS s22,
               sum(r1 * r2) AS s12
        FROM r GROUP BY 1)
      SELECT event_type, n,
             (CAST(n AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE))
             / (sqrt(CAST(n AS DOUBLE) * CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                * sqrt(CAST(n AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))) AS rho
      FROM m
    """)
  )

  /** Pairwise association rules over per-user event-type baskets —
    * the k=2 frequent-itemset/market-basket classic: for every
    * ordered type pair (a → b), support = P(a,b), confidence =
    * P(b|a), lift = P(a,b)/(P(a)P(b)). Baskets are DISTINCT
    * (user, type) memberships; the pair space is |types|²-bounded
    * (the event_transitions discipline), generated by ONE per-user
    * self-join over ≤|types| rows per user — at 100 TB the join is
    * user-partitioned with per-user fanout capped by the type
    * vocabulary, never a corpus cross product. All probabilities are
    * exact integer count ratios divided once in DOUBLE — no ln, so
    * no quantization needed.
    */
  val assocRules: Q = Q(
    "assoc_rules",
    (s, dir) => {
      val m = events(s, dir).select(col("user_id"), col("event_type")).distinct()
      val nUsers = m.select(countDistinct(col("user_id")).as("nu"))
      val tc = m.groupBy(col("event_type").as("t")).agg(count(lit(1)).as("ct"))
      val pairs = m.as("x").join(m.as("y"),
          col("x.user_id") === col("y.user_id") &&
            col("x.event_type") =!= col("y.event_type"))
        .groupBy(col("x.event_type").as("a"), col("y.event_type").as("b"))
        .agg(count(lit(1)).as("cab"))
      pairs
        .join(broadcast(tc.withColumnRenamed("t", "a").withColumnRenamed("ct", "ca")), "a")
        .join(broadcast(tc.withColumnRenamed("t", "b").withColumnRenamed("ct", "cb")), "b")
        .crossJoin(broadcast(nUsers))
        .select(col("a"), col("b"), col("cab"), col("ca"), col("cb"),
          (col("cab").cast("double") / col("nu").cast("double")).as("support"),
          (col("cab").cast("double") / col("ca").cast("double")).as("confidence"),
          (col("cab").cast("double") * col("nu").cast("double") /
            (col("ca").cast("double") * col("cb").cast("double"))).as("lift"))
    },
    Some("""
      WITH m AS (SELECT DISTINCT user_id, event_type FROM events),
      nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS nu FROM events),
      tc AS (SELECT event_type AS t, count(*) AS ct FROM m GROUP BY 1),
      p AS (SELECT x.event_type AS a, y.event_type AS b, count(*) AS cab
            FROM m x JOIN m y
              ON x.user_id = y.user_id AND x.event_type <> y.event_type
            GROUP BY 1, 2)
      SELECT p.a, p.b, CAST(p.cab AS BIGINT) AS cab,
             CAST(ta.ct AS BIGINT) AS ca, CAST(tb.ct AS BIGINT) AS cb,
             CAST(p.cab AS DOUBLE) / CAST(nu.nu AS DOUBLE) AS support,
             CAST(p.cab AS DOUBLE) / CAST(ta.ct AS DOUBLE) AS confidence,
             CAST(p.cab AS DOUBLE) * CAST(nu.nu AS DOUBLE)
               / (CAST(ta.ct AS DOUBLE) * CAST(tb.ct AS DOUBLE)) AS lift
      FROM p JOIN tc ta ON p.a = ta.t JOIN tc tb ON p.b = tb.t
      CROSS JOIN nu
    """)
  )

  /** 30-core of the customer–supplier order-flow graph: 3 unrolled
    * peel rounds (measured fixpoint depth 2 at both gate scales —
    * KCoreSpec re-asserts stability), same graph construction as
    * supplier_pagerank / label_communities. Dense-backbone summary
    * completing the graph family (PageRank, CC, LPA, triangles).
    */
  val kcoreNodes: Q = Q(
    "kcore_nodes",
    (s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), (col("o_custkey") * 2).as("src"))
      val l = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), (col("l_suppkey") * 2 + 1).as("dst"))
      val edges = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select("src", "dst")
      KCore.nodes(edges, "src", "dst", k = 30, rounds = 3)
    },
    Some("""
      WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
                  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      u0 AS (SELECT src AS a, dst AS b FROM e0 UNION SELECT dst, src FROM e0),
      k1 AS (SELECT a FROM (SELECT a, count(*) AS deg FROM u0 GROUP BY 1)
             WHERE deg >= 30),
      u1 AS (SELECT u0.a, u0.b FROM u0 JOIN k1 x ON u0.a = x.a
                                       JOIN k1 y ON u0.b = y.a),
      k2 AS (SELECT a FROM (SELECT a, count(*) AS deg FROM u1 GROUP BY 1)
             WHERE deg >= 30),
      u2 AS (SELECT u1.a, u1.b FROM u1 JOIN k2 x ON u1.a = x.a
                                       JOIN k2 y ON u1.b = y.a),
      k3 AS (SELECT a FROM (SELECT a, count(*) AS deg FROM u2 GROUP BY 1)
             WHERE deg >= 30),
      u3 AS (SELECT u2.a, u2.b FROM u2 JOIN k3 x ON u2.a = x.a
                                       JOIN k3 y ON u2.b = y.a)
      SELECT a AS id, count(*) AS deg FROM u3 GROUP BY 1
    """)
  )

  /** Adamic–Adar link prediction over the embedding kNN graph (same
    * graph as knn_triangles): non-adjacent pairs ranked by
    * Σ 1/ln(deg) over shared neighbors, hub-bounded pair generation,
    * integer micro-quantized contributions.
    */
  val linkPrediction: Q = Q(
    "link_prediction",
    (s, dir) => LinkPrediction.adamicAdar(
      Similarity.knnGraph(Tables.embeddings(s, dir), "vec_id", "embedding",
        "label", k = 3),
      "src", "dst"),
    Some("""
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (SELECT vec_id, label, v,
                   list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm
            FROM e),
      s AS (SELECT a.vec_id AS src, b.vec_id AS dst,
                   list_reduce(list_transform(range(1, 65), i -> a.v[i::INT] * b.v[i::INT]),
                               (x, y) -> x + y) / (sqrt(a.nrm) * sqrt(b.nrm)) AS cosine
            FROM n a JOIN n b ON a.label = b.label AND a.vec_id <> b.vec_id),
      g AS (SELECT src, dst FROM (
              SELECT src, dst,
                     row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rank
              FROM s) WHERE rank <= 3),
      und AS (SELECT src AS a, dst AS b FROM g UNION SELECT dst, src FROM g),
      deg AS (SELECT a, count(*) AS deg FROM und GROUP BY 1),
      hub AS (SELECT und.a AS u, und.b AS w, deg.deg
              FROM und JOIN deg ON und.b = deg.a
              WHERE deg.deg <= 64),
      p AS (SELECT x.u AS id_a, y.u AS id_b,
                   count(*) AS n_common,
                   CAST(sum(floor(1e6 / ln(x.deg) + 0.5)::BIGINT) AS BIGINT) AS aa_micro
            FROM hub x JOIN hub y ON x.w = y.w AND x.u < y.u
            GROUP BY 1, 2 HAVING count(*) >= 2)
      SELECT id_a, id_b, n_common, aa_micro
      FROM p ANTI JOIN und ON p.id_a = und.a AND p.id_b = und.b
    """)
  )

  /** Shared oracle chain for the LSH-refined kNN graph (identical to
    * knn_graph_bucketed in LlmQueries), ending at edge set
    * `g(src, dst)` — the scaled input the graph-analytics twins
    * compose over.
    */
  private val bucketedKnnCtes = """
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (SELECT vec_id, label, v,
                   list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b) AS nrm
            FROM e),
      pl AS (SELECT g, p,
                    list_transform(range(64), d ->
                      ('0x' || substr(md5(g::VARCHAR || ':' || p::VARCHAR || ':' || d::VARCHAR), 1, 8))::BIGINT
                        / 4294967296.0 - 0.5) AS plane
             FROM range(1) rg(g) CROSS JOIN range(3) rp(p)),
      bkt AS (SELECT vec_id,
                     sum(CASE WHEN list_reduce(list_transform(range(1, 65), i -> v[i::INT] * plane[i::INT]),
                                               (a, b) -> a + b) > 0
                              THEN (1::BIGINT << p::INT) ELSE 0 END)::BIGINT AS bucket
              FROM n CROSS JOIN pl GROUP BY 1),
      b2 AS (SELECT n.vec_id, n.label::VARCHAR || ':' || bkt.bucket::VARCHAR AS blk, n.v, n.nrm
             FROM n JOIN bkt ON n.vec_id = bkt.vec_id),
      sc AS (SELECT a.vec_id AS src, b.vec_id AS dst,
                    list_reduce(list_transform(range(1, 65), i -> a.v[i::INT] * b.v[i::INT]),
                                (x, y) -> x + y)
                      / (sqrt(a.nrm) * sqrt(b.nrm)) AS cosine
             FROM b2 a JOIN b2 b ON a.blk = b.blk AND a.vec_id <> b.vec_id),
      g AS (SELECT src, dst FROM (
              SELECT src, dst,
                     row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rank
              FROM sc) WHERE rank <= 3)"""

  /** The LSH-refined kNN graph the scaled graph-analytics twins ride —
    * exactly knn_graph_bucketed's construction (label + 3-bit sign
    * bucket block), so their pair space inherits its measured bound
    * (1.4 s vs knn_graph's 6.4 s at sf1, flat-ratio at 10× data).
    */
  private def bucketedKnnGraph(s: org.apache.spark.sql.SparkSession,
                               dir: String) = {
    val emb = Tables.embeddings(s, dir)
    val blk = Similarity.refineBlock(col("label"), col("embedding"), bits = 3)
    Similarity.knnGraph(emb.withColumn("blk", blk), "vec_id", "embedding", "blk", k = 3)
  }

  /** knn_triangles over the bucketed graph — the scale-arm sibling:
    * same degree-ordered triangle enumeration, input pair space
    * bounded by the LSH block instead of the fixed 10-label
    * vocabulary (whose Σ cell² is quadratic in corpus size).
    */
  val knnTrianglesScaled: Q = Q(
    "knn_triangles_scaled",
    (s, dir) => Triangles.perVertex(bucketedKnnGraph(s, dir), "src", "dst"),
    Some(bucketedKnnCtes + """,
      ce AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
             FROM g WHERE src <> dst),
      tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
              FROM ce e1 JOIN ce e2 ON e2.a = e1.b
                         JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b)
      SELECT vertex, count(*) AS triangles
      FROM (SELECT unnest([x, y, z]) AS vertex FROM tri)
      GROUP BY 1
    """)
  )

  /** link_prediction over the bucketed graph — scale-arm sibling of
    * the Adamic–Adar ranking (same hub bound, same integer
    * micro-quantized contributions; only the edge generator changes).
    */
  val linkPredictionScaled: Q = Q(
    "link_prediction_scaled",
    (s, dir) => LinkPrediction.adamicAdar(bucketedKnnGraph(s, dir), "src", "dst"),
    Some(bucketedKnnCtes + """,
      und AS (SELECT src AS a, dst AS b FROM g UNION SELECT dst, src FROM g),
      deg AS (SELECT a, count(*) AS deg FROM und GROUP BY 1),
      hub AS (SELECT und.a AS u, und.b AS w, deg.deg
              FROM und JOIN deg ON und.b = deg.a
              WHERE deg.deg <= 64),
      p AS (SELECT x.u AS id_a, y.u AS id_b,
                   count(*) AS n_common,
                   CAST(sum(floor(1e6 / ln(x.deg) + 0.5)::BIGINT) AS BIGINT) AS aa_micro
            FROM hub x JOIN hub y ON x.w = y.w AND x.u < y.u
            GROUP BY 1, 2 HAVING count(*) >= 2)
      SELECT id_a, id_b, n_common, aa_micro
      FROM p ANTI JOIN und ON p.id_a = und.a AND p.id_b = und.b
    """)
  )

  val all: Seq[Q] = Seq(funnelSteps, cohortRetention, histogramValue,
    windowRanks, userSetOps, semiJoinHot, decontamExact, langBalanceSample,
    corrFeatures, cubeStats, supplierPagerank, userBagOps, meltMetrics,
    groupingSetsStats, scd2History, knnTriangles, knnTrianglesScaled,
    eventTransitions,
    paretoFront, labelCommunities, spearmanRank, assocRules,
    kcoreNodes, linkPrediction, linkPredictionScaled)
}
