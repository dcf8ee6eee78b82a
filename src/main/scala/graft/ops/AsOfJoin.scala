package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftSqlShim

/** As-of join — the reference's only join (SURVEY.md J1+W4,
  * `processing_raw_data_from_gcs.py:143-159`): attach to each left row
  * the single most recent right row with the same key whose timestamp
  * is in `[t − lookback, t]`, keeping left rows with no match
  * (left-outer semantics).
  *
  * The reference states it as an equi+band left join followed by a
  * `row_number` rank; that form tests every left row against every
  * right row of its key, so its cost grows with the product of the two
  * sides per key (the reference has three codes). Here the join is one
  * pass over the union of both sides instead: left and right rows are
  * tagged, partitioned by key, sorted by time, and each left row picks
  * up the nearest right payload seen so far with `last(_, ignoreNulls)`
  * over a running frame. One shuffle, one sort per direction, cost
  * linear in the input. `AsOfJoinReference` in the test tree keeps the
  * join+rank form as the specification these results must equal.
  */
object AsOfJoin {

  val Directions: Seq[String] = Seq("backward", "forward", "nearest")

  private val Key = "__asof_k"
  private val Time = "__asof_t"
  private val Side = "__asof_side"
  private val Payload = "__asof_r"
  private val LeftRow = "__asof_l"
  private val Back = "__asof_b"
  private val Fwd = "__asof_f"
  private val Match = "__asof_m"

  /** Backward as-of, the reference's semantics. */
  def joined(left: DataFrame, right: DataFrame, key: String,
             leftTs: String, rightTs: String, lookback: Column): DataFrame =
    directional(left, right, key, leftTs, rightTs, lookback, "backward")

  /** [[joined]] under its earlier signature. `leftKeys` partitioned the
    * rank of the join+rank form and is ignored; the benchmark harness's
    * copy of `Pipelines.dailyDollarBars` (`perfbench/Daily.scala`)
    * still calls this form.
    */
  def joined(left: DataFrame, right: DataFrame, key: String,
             leftTs: String, rightTs: String, lookback: Column,
             leftKeys: Seq[String]): DataFrame =
    joined(left, right, key, leftTs, rightTs, lookback)

  /** All three pandas-`merge_asof` directions:
    *
    * - `backward` — most recent right row in `[t − tol, t]` (the
    *   reference's semantics; [[joined]] delegates here)
    * - `forward`  — earliest right row in `[t, t + tol]`
    * - `nearest`  — right row minimizing |rt − t| within `[t − tol,
    *   t + tol]`; equidistant ties break to the EARLIER right row
    *
    * Output: every left column, then every right column except `key`,
    * in their own order; right columns are null where nothing matched.
    * One output row per left row. A null key, left time or right time
    * never matches. Right timestamps must be unique per key (the
    * shared determinism contract of every rank-1 pick in this engine).
    *
    * Backward sorts each key's rows by time ascending, forward by time
    * descending, with right rows ahead of left rows at equal times so
    * that both bounds are inclusive; nearest runs both sorts over the
    * same shuffle. Forward reverses the order rather than use a
    * `currentRow … unboundedFollowing` frame, which Spark recomputes
    * for every row.
    */
  def directional(left: DataFrame, right: DataFrame, key: String,
                  leftTs: String, rightTs: String, tolerance: Column,
                  direction: String): DataFrame = {
    require(Directions.contains(direction),
      s"direction must be backward|forward|nearest, got $direction")
    val rightCols = right.columns.toSeq.filter(_ != key)
    val rTagged = right
      .filter(col(key).isNotNull && col(rightTs).isNotNull)
      .select(col(key).as(Key), col(rightTs).as(Time), lit(0).as(Side),
        struct(rightCols.map(col): _*).as(Payload))
    val lTagged = left
      .select(col(key).as(Key), col(leftTs).as(Time), lit(1).as(Side),
        lit(null).cast(rTagged.schema(Payload).dataType).as(Payload),
        struct(left.columns.toIndexedSeq.map(col): _*).as(LeftRow))
    val rPadded = rTagged
      .withColumn(LeftRow, lit(null).cast(lTagged.schema(LeftRow).dataType))

    val t = col(Time)
    def carried(df: DataFrame, name: String, timeOrder: Column): DataFrame =
      df.withColumn(name, last(col(Payload), ignoreNulls = true).over(Window
        .partitionBy(Key).orderBy(timeOrder, col(Side))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // latest right row at or before t / earliest at or after t
    val unioned = rPadded.union(lTagged)
    val withBack = if (direction == "forward") unioned else carried(unioned, Back, t.asc)
    val withBoth = if (direction == "backward") withBack else carried(withBack, Fwd, t.desc)
    def rt(name: String): Column = col(name).getField(rightTs)
    def back = when(rt(Back) >= t - tolerance, col(Back))
    def fwd = when(rt(Fwd) <= t + tolerance, col(Fwd))
    val matched = direction match {
      case "backward" => back
      case "forward" => fwd
      case "nearest" =>
        when(fwd.isNull || (back.isNotNull && t - rt(Back) <= rt(Fwd) - t), back)
          .otherwise(fwd)
    }
    val leftOut = left.schema.fields.toSeq.map { f =>
      val c = col(LeftRow).getField(f.name)
      (if (f.nullable) c else GraftSqlShim.knownNotNull(c)).as(f.name)
    }
    withBoth
      .filter(col(Side) === 1)
      .withColumn(Match, matched)
      .select(leftOut ++ rightCols.map(c => col(Match).getField(c).as(c)): _*)
  }
}
