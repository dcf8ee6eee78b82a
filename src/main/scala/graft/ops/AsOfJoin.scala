package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, RowOrdering}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.GraftSqlShim
import org.apache.spark.sql.types.{ByteType, DayTimeIntervalType, IntegerType, LongType, ShortType,
  TimestampType}

import graft.plans.AsOfJoinNode

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
  * [[graft.plans.AsOfJoinNode]], planned by the
  * [[graft.functions.GraftExtensions]] strategy as
  * [[graft.plans.AsOfJoinExec]]: both sides hash-partitioned on the key
  * and sorted by (key, time), then one merge pass per partition holding
  * O(1) state. `AsOfJoinReference` in the test tree keeps the join+rank
  * form as the specification these results must equal.
  */
object AsOfJoin {

  val Directions: Seq[String] = Seq("backward", "forward", "nearest")

  /** The right key's name inside the join, so that it never shares a
    * name (and, through the alias, an attribute) with the left key.
    */
  private val RightKey = "__asof_rk"

  private val Extensions = classOf[graft.functions.GraftExtensions].getName

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
    * Both time columns are timestamps with a day-time interval
    * `tolerance`, or both longs with an integral one. The tolerance is a
    * constant, evaluated once here on the driver. The session must carry
    * [[graft.functions.GraftExtensions]], whose strategy plans the join.
    * Each of these, the direction and matching key types are checked
    * here, before anything runs.
    */
  def directional(left: DataFrame, right: DataFrame, key: String,
                  leftTs: String, rightTs: String, tolerance: Column,
                  direction: String): DataFrame = {
    require(Directions.contains(direction),
      s"direction must be ${Directions.mkString("|")}, got $direction")
    val spark = left.sparkSession
    requireExtensions(spark.conf.getOption("spark.sql.extensions"))
    // a null key or right time never matches: drop those rows before the
    // shuffle, where the filter reaches the scan
    val r = right.filter(col(key).isNotNull && col(rightTs).isNotNull)
      .withColumnRenamed(key, RightKey)
    val (lk, lt, rk, rt) = (attr(left, key), attr(left, leftTs), attr(r, RightKey), attr(r, rightTs))
    // keys feed a hash ClusteredDistribution and an interpreted ordering,
    // both type-sensitive: an int/bigint mismatch would pass analysis but
    // mis-co-partition, so fail here
    require(lk.dataType == rk.dataType, s"as-of key columns must have identical types, got " +
      s"${lk.dataType.simpleString}/${rk.dataType.simpleString}")
    require(RowOrdering.isOrderable(lk.dataType),
      s"as-of key type ${lk.dataType.simpleString} has no ordering")
    require(Seq(TimestampType, LongType).contains(lt.dataType) && rt.dataType == lt.dataType,
      s"as-of time columns must both be timestamp or long, got " +
        s"${lt.dataType.simpleString}/${rt.dataType.simpleString}")
    val node = AsOfJoinNode(GraftSqlShim.analyzed(left), GraftSqlShim.analyzed(r), lk, lt, rk, rt,
      toleranceOf(spark, tolerance, lt.dataType == TimestampType), direction)
    GraftSqlShim.ofRows(spark, node).drop(RightKey)
  }

  /** Fails unless the `spark.sql.extensions` value names
    * [[graft.functions.GraftExtensions]]: without its strategy the
    * planner has no plan for [[graft.plans.AsOfJoinNode]].
    */
  def requireExtensions(extensions: Option[String]): Unit =
    if (!extensions.exists(_.split(",").map(_.trim).contains(Extensions)))
      throw new IllegalStateException(s"the as-of join needs $Extensions, which this session " +
        s"lacks (spark.sql.extensions = ${extensions.getOrElse("unset")}); build the session " +
        "with graft.Session.local")

  private def attr(df: DataFrame, name: String): Attribute = {
    val out = GraftSqlShim.analyzed(df).output
    out.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"as-of column $name not in [${out.map(_.name).mkString(", ")}]"))
  }

  /** The tolerance in the time columns' unit: µs for a day-time
    * interval against timestamps, the value itself for an integral
    * constant against longs.
    */
  private def toleranceOf(spark: SparkSession, tolerance: Column, timestamps: Boolean): Long = {
    val e = GraftSqlShim.expression(spark, tolerance)
    require(e.resolved && e.foldable, s"as-of tolerance must be a constant, got $e")
    val v = e.eval()
    require(v != null, "as-of tolerance must not be null")
    e.dataType match {
      case _: DayTimeIntervalType if timestamps => v.asInstanceOf[Long]
      case ByteType | ShortType | IntegerType | LongType if !timestamps => v.asInstanceOf[Number].longValue
      case t => throw new IllegalArgumentException(s"as-of tolerance of type ${t.simpleString} " +
        s"does not fit ${if (timestamps) "timestamp" else "long"} time columns: a timestamp " +
        "takes a day-time interval, a long an integral constant")
    }
  }
}
