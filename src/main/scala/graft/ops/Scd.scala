package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension type-2 history build — collapse a keyed
  * change stream into versioned validity intervals
  * `[valid_from, valid_to)` with an open current row. The classic
  * warehouse operator for turning an event/CDC stream into a
  * dimension table (extension surface — the reference engine stops at
  * append-only ingest, `kafka_to_gcs_by_spark_streaming.py`).
  *
  * Scale design (100 TB): ONE shuffle on the dimension key; the
  * run-collapse filter and the interval windows share the same
  * partitioning+ordering, so Catalyst plans a single Exchange with
  * the Window operators stacked on one sort. Per-key state is the
  * window frame only (lag/lead of one row) — no driver state, no
  * iteration. A key's full history lives in one partition, which is
  * the inherent SCD2 requirement (history is a per-key total order).
  */
object Scd {

  /** Build the type-2 history of `trackCol` per `keyCol`, ordered by
    * (`tsCol`, `tieCol`) — `tieCol` must make the ordering total, or
    * run-collapse would be nondeterministic. Consecutive repeats of
    * the same tracked value collapse into one interval. Emits
    * `(key, value, valid_from, valid_to, version, is_current)`;
    * `valid_to` is null on each key's current row.
    */
  def history(df: DataFrame, keyCol: String, trackCol: String,
              tsCol: String, tieCol: String): DataFrame = {
    val byTime = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val changes = df
      .select(col(keyCol), col(trackCol), col(tsCol), col(tieCol))
      .withColumn("__prev", lag(col(trackCol), 1).over(byTime))
      // first row per key, or tracked value differs from predecessor
      .where(col("__prev").isNull || col("__prev") =!= col(trackCol))

    // same key partitioning + (ts, tie) ordering — no second Exchange
    val nextFrom: Column = lead(col(tsCol), 1).over(byTime)
    changes.select(
      col(keyCol),
      col(trackCol),
      col(tsCol).as("valid_from"),
      nextFrom.as("valid_to"),
      row_number().over(byTime).as("version"),
      nextFrom.isNull.as("is_current"))
  }
}
