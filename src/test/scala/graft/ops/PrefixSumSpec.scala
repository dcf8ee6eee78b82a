package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{SparkSpec, Tables}

class PrefixSumSpec extends SparkSpec {

  private def ev = Tables.events(spark, sf())
    .select(col("event_id"), col("user_id"), col("ts"),
      col("value").cast(DecimalType(20, 4)).as("notional"))

  test("two-phase prefix sum equals single-task window cumsum bit-for-bit") {
    val w = Window.partitionBy("user_id").orderBy("ts")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val windowed = ev
      .withColumn("cumsum", sum(col("notional")).over(w).cast("double"))
      .select("event_id", "cumsum")
    val twoPhase = PrefixSum
      .withRunningSum(ev, "user_id", Seq("ts"), "notional", "cumsum")
      .select("event_id", "cumsum")
    val diff = windowed.as("a").join(twoPhase.as("b"), "event_id")
      .filter(col("a.cumsum") =!= col("b.cumsum"))
    assert(diff.count() === 0)
    assert(twoPhase.count() === ev.count())
  }

  test("result is invariant to input partitioning") {
    val a = PrefixSum.withRunningSum(ev.repartition(1), "user_id", Seq("ts"), "notional", "c")
      .select("event_id", "c").orderBy("event_id").collect().toSeq
    val b = PrefixSum.withRunningSum(ev.repartition(17), "user_id", Seq("ts"), "notional", "c")
      .select("event_id", "c").orderBy("event_id").collect().toSeq
    assert(a === b)
  }

  // grouped (total_volume, mxy) table of the pareto_front query
  private def grouped = Tables.events(spark, sf())
    .groupBy(col("user_id"))
    .agg(sum(col("value").cast(DecimalType(20, 4))).cast("double")
      .as("total_volume"), count(lit(1)).as("n_events"))
    .groupBy(col("total_volume"))
    .agg(max(col("n_events")).as("mxy"))

  /** The exclusive running max over DESC order as ONE unpartitioned
    * window — the single-task form withRunningMaxDesc replaces.
    */
  private def windowMaxDesc(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("prev", max(col("mxy")).over(
      Window.orderBy(col("total_volume").desc)
        .rowsBetween(Window.unboundedPreceding, -1)))

  private def prevByKey(df: org.apache.spark.sql.DataFrame) =
    df.select(col("total_volume"), col("prev")).collect()
      .map(r => r.getDouble(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap

  test("withRunningMaxDesc equals the single-task exclusive window bit-for-bit") {
    val g = grouped
    val twoPhase = prevByKey(PrefixSum.withRunningMaxDesc(g, "total_volume", "mxy", "prev"))
    val windowed = prevByKey(windowMaxDesc(g))
    assert(windowed.size === g.count())
    assert(twoPhase === windowed)
    // the first row in DESC order has an empty frame: null
    val top = g.agg(max(col("total_volume"))).collect()(0).getDouble(0)
    assert(twoPhase(top) === None)
    assert(twoPhase.values.count(_.isEmpty) === 1)
  }

  test("withRunningMaxDesc is invariant to input and range partitioning") {
    val g = grouped
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    val runs = try Seq(1, 3, 17).map { n =>
      spark.conf.set(key, n.toString) // the range partition count
      prevByKey(PrefixSum.withRunningMaxDesc(g.repartition(n), "total_volume", "mxy", "prev"))
    } finally spark.conf.set(key, saved)
    assert(runs.forall(_ === runs.head))
    assert(runs.head === prevByKey(windowMaxDesc(g)))
  }
}
