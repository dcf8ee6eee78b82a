package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.llm.TextHash

/** Theil–Sen robust slope estimator (Theil 1950, Sen 1968): the
  * median of all pairwise slopes — 29% breakdown point where OLS
  * ([[graft.queries.IndicatorQueries]] kyle_lambda) breaks on one
  * wild tick. The robust-regression member of the stats family next
  * to Spearman (rank correlation) and MAD-style winsorization.
  *
  * Scale design (100 TB): all-pairs on a full series is quadratic,
  * so slopes are computed on a per-key DETERMINISTIC BOTTOM-K SAMPLE
  * (k smallest md5 deviates — the [[Quantiles]] mergeable-sketch
  * trick, order-independent and engine-exact), bounding pair work at
  * k²/2 per key regardless of series length; Theil–Sen on a random
  * subsample is the standard estimator at scale (sampling keeps the
  * median's consistency). One shuffle for the sample, one
  * key-bounded self-join, one rank selection — no global sorts.
  *
  * Determinism: the sample is md5-pinned; each pairwise slope is one
  * double division quantized to integer PICO-units immediately
  * (slopes here are per-microsecond, hence the fine grain —
  * LangModel policy); the median is rank selection (lower median) on
  * integers. Equal-x pairs are excluded by the a.x < b.x join
  * predicate (slope undefined; both engines drop identically).
  *
  * CACHING CONTRACT (r12 ADVICE): [[slope]] persists its bottom-k
  * sample and returns a lazy DataFrame that references the cache
  * entry — the entry is NOT unpersisted here (the result must stay
  * computable, and the helper cannot know when the caller's last
  * action runs). The engine's own callers (Bench/Verify)
  * `clearCache()` between queries; a library caller embedding this in
  * a long-lived session should do the same after consuming the
  * result.
  */
object TheilSen {

  /** `(key, n_sample, n_pairs, slope_pico)` per key: the lower-median
    * pairwise slope in pico-units per x-unit over the bottom-`k`
    * md5 sample.
    */
  def slope(df: DataFrame, keyCol: String, xCol: String, yCol: String,
            idCol: String, k: Int, salt: String): DataFrame = {
    val hashed = df.select(col(keyCol).as("key"),
        col(xCol).cast("long").as("x"), col(yCol).cast("double").as("y"),
        TextHash.h32(concat(lit(salt + ":"), col(idCol).cast("string")))
          .as("h"), col(idCol).cast("long").as("id"))
    val w = Window.partitionBy("key").orderBy(col("h"), col("id"))
    // The rn≤k filter plans as a PARTIAL WindowGroupLimit (map-side
    // per-key top-k), so the sample exchange carries ≤k rows per key;
    // n_sample rides the sample as a second window over the SAME
    // sorted partition instead of a separate count branch. The two
    // identical self-join subplans were EXPECTED to collapse through
    // ReuseExchange, but at broadcastable sample sizes the planner
    // turns one side into a BroadcastExchange and the reuse never
    // fires (r12 plan audit: 2 scans, 5 windows, 0 ReusedExchange) —
    // hence the persist below, which computes the sample once.
    // Interleaved A/B (LoopExp, sf0.1, local[32], median of 5):
    // persist 1.15 s vs recompute 2.69 s. (The Winnow.pairs
    // function-scope-cache caveat doesn't bite here: the bench/driver
    // clear the cache between queries, the same policy as
    // Dedup.bandedBuckets.)
    val sample = hashed.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).drop("rn", "h")
      .withColumn("n_sample", count(lit(1)).over(Window.partitionBy("key")))
      .persist()

    val pairs = sample.as("a").join(sample.as("b"),
        col("a.key") === col("b.key") && col("a.x") < col("b.x"))
      .select(col("a.key").as("key"), col("a.n_sample").as("n_sample"),
        floor((col("b.y") - col("a.y")) / (col("b.x") - col("a.x"))
          * lit(1e12) + lit(0.5)).cast("long").as("slope_pico"),
        col("a.id").as("ia"), col("b.id").as("ib"))
    val pw = Window.partitionBy("key")
      .orderBy(col("slope_pico"), col("ia"), col("ib"))
    val ranked = pairs
      .withColumn("prn", row_number().over(pw))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("key")))
    ranked.filter(col("prn") === expr("(cnt + 1) div 2"))
      .select(col("key"), col("n_sample"), col("cnt").as("n_pairs"),
        col("slope_pico"))
  }
}
