package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental aggregation: maintain per-key stats as new batches
  * arrive WITHOUT rescanning history. The stats schema is a mergeable
  * partial aggregate — sum/count/min/max are decomposable, and the
  * sum is DECIMAL so merging is exact and order-independent:
  * `merge(stats(A), stats(B)) == stats(A ∪ B)` bit-for-bit (proved by
  * the `incremental_stats` oracle, which IS the plain full-table
  * GROUP BY, and property-checked over random splits in
  * OpPropertySpec).
  *
  * This is the 100 TB daily-pipeline shape: each day aggregates only
  * its delta (O(day)), then one tiny merge over #keys rows folds it
  * into the base table — the full-history scan never happens. Same
  * algebra Spark's own partial aggregation uses within a query,
  * lifted to a persisted cross-run contract.
  */
object Compaction {

  /** Mergeable per-key stats of one batch. `decValCol` must be the
    * DECIMAL cast of the measure (exactness ⇒ merge associativity).
    */
  def stats(df: DataFrame, keyCols: Seq[String], decValCol: String,
            rawValCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(
        sum(col(decValCol)).as("sum_dec"),
        count(lit(1)).as("n_events"),
        min(col(rawValCol)).as("min_value"),
        max(col(rawValCol)).as("max_value"))

  /** Merge any number of stats frames into one (re-aggregate the
    * partials). Input size is O(#keys × #batches) — trivial next to
    * the deltas themselves.
    */
  def merge(parts: Seq[DataFrame], keyCols: Seq[String]): DataFrame =
    parts.reduce(_.unionByName(_))
      .groupBy(keyCols.map(col): _*)
      .agg(
        sum(col("sum_dec")).as("sum_dec"),
        sum(col("n_events")).as("n_events"),
        min(col("min_value")).as("min_value"),
        max(col("max_value")).as("max_value"))

  /** Final user-facing projection (double sum like the query surface). */
  def finish(df: DataFrame): DataFrame =
    df.withColumn("sum_value", col("sum_dec").cast("double")).drop("sum_dec")

  /** Upsert compaction — the non-decomposable sibling of [[stats]]:
    * latest-row-wins state per key, merged the CDC way.
    * `latest(latest(A) ∪ latest(B)) == latest(A ∪ B)` because taking
    * the per-key max under a total order is associative — so a base
    * snapshot absorbs each day's delta by re-running `latest` over
    * snapshot ∪ delta (O(keys + delta), never O(history)).
    *
    * `orderCols` must be a deterministic total order (e.g. ts then a
    * unique id as tie-break) — the same `min_by/max_by` determinism
    * contract as A1/A2.
    */
  def latest(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(c => col(c).desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  def latestMerge(parts: Seq[DataFrame], keyCols: Seq[String],
                  orderCols: Seq[String]): DataFrame =
    latest(parts.reduce(_.unionByName(_)), keyCols, orderCols)

  /** Incremental DISTINCT counting — the non-exact sibling of
    * [[stats]]: per-key HyperLogLog sketches (Spark's Datasketches
    * `hll_sketch_agg`) persisted as binary state. Like the decimal
    * sums, sketches are a mergeable commutative monoid:
    * `union(sketch(A), sketch(B))` estimates exactly what
    * `sketch(A ∪ B)` estimates (property-checked in SketchSpec),
    * so each batch sketches only its delta and the daily merge folds
    * O(keys) sketch blobs — the 100 TB distinct-users-per-day shape
    * where exact distinct would reshuffle all history every day.
    */
  def distinctSketch(df: DataFrame, keyCols: Seq[String],
                     valCol: String, lgK: Int = 12): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(hll_sketch_agg(col(valCol), lit(lgK)).as("dv_sketch"))

  /** Merge sketch states (re-aggregate the partials). */
  def distinctMerge(parts: Seq[DataFrame], keyCols: Seq[String]): DataFrame =
    parts.reduce(_.unionByName(_))
      .groupBy(keyCols.map(col): _*)
      .agg(hll_union_agg(col("dv_sketch")).as("dv_sketch"))

  /** Final user-facing estimate column. */
  def distinctFinish(df: DataFrame): DataFrame =
    df.withColumn("distinct_est", hll_sketch_estimate(col("dv_sketch")))
      .drop("dv_sketch")
}
