package graft.plans

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{SparkSpec, Tables}
import graft.ops.{AsOfJoin, AsOfJoinReference, DollarBars}

/** Known answers of the `AsOfJoinExec` merge pass, reached the only way
  * the program reaches it: through `AsOfJoin.directional` on long times
  * with an integral tolerance.
  */
class AsOfJoinNativeSpec extends SparkSpec {

  // key 1: 900, then 1100..1900 every 100; key 2: 600; key 3: 100
  private def denseRight = {
    import spark.implicits._
    (Seq((1L, 900L, 9.0)) ++
      (1100L to 1900L by 100).map(ts => (1L, ts, ts / 100.0)) ++
      Seq((2L, 600L, 6.0), (3L, 100L, 1.0))).toDF("k", "rt", "v")
  }

  test("known answer on a hand-built dense right side") {
    import spark.implicits._
    val left = Seq(
      (1L, 1000L, "a"),   // match at 900 (within tol 500)
      (1L, 2000L, "b"),   // right rows at 1100..1900 -> last is 1900
      (2L, 500L, "c"),    // no right row <= 500 for key 2
      (3L, 900L, "d")     // right 100 is <= 900 but out of tolerance
    ).toDF("k", "t", "tag")
    // construction evaluates the tolerance on the driver and starts no job
    spark.sparkContext.setJobGroup("asof-construction", "dense")
    val df = AsOfJoin.directional(left, denseRight, "k", "t", "rt", lit(500L), "backward")
    spark.sparkContext.clearJobGroup()
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup("asof-construction").isEmpty)
    assert(df.columns.toSeq === Seq("k", "t", "tag", "rt", "v"))
    val out = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    assert(out === Set(
      (1L, 1000L, Some(900L)),
      (1L, 2000L, Some(1900L)),
      (2L, 500L, None),
      (3L, 900L, None)))
  }

  private def barsAndClicks = {
    val ev = Tables.events(spark, sf("sf0.001"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"),
        col("value").cast(DecimalType(20, 4)).as("notional"))
    val bars = DollarBars.bars(purchases, "user_id", "ts", "value", "notional", 500.0)
      .select("user_id", "bar_num", "close", "end_ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("value").as("click_value"))
    (bars, clicks)
  }

  private def assertMatchesReference(direction: String): Unit = {
    val (bars, clicks) = barsAndClicks
    val got = AsOfJoin.directional(bars, clicks, "user_id", "end_ts", "click_ts",
      expr("INTERVAL 3 DAYS"), direction)
    val want = AsOfJoinReference.directional(bars, clicks, "user_id", "end_ts", "click_ts",
      expr("INTERVAL 3 DAYS"), Seq("user_id", "bar_num"), direction)
    assert(got.schema === want.schema, direction)
    val g = got.orderBy("user_id", "bar_num").collect().toSeq
    assert(g.exists(!_.isNullAt(4)), direction)
    assert(g === want.orderBy("user_id", "bar_num").collect().toSeq, s"direction=$direction")
  }

  test("equals the join+row_number formulation on the bars/clicks shape") {
    assertMatchesReference("backward")
  }

  test("mismatched key types are rejected at construction") {
    import spark.implicits._
    val left = Seq((1, 10L)).toDF("k", "t")             // int key
    val right = Seq((1L, 5L, 1.0)).toDF("k", "rt", "v") // bigint key
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.directional(left, right, "k", "t", "rt", lit(100L), "backward")
    }
    assert(e.getMessage.contains("as-of key columns must have identical types, got int/bigint"))
  }

  test("null times: null left time -> outer row, null right times skipped") {
    import spark.implicits._
    val left = Seq(
      (1L, Some(1000L), "a"),  // must match rt=900, not the null-rt row
      (1L, None, "b")          // null left time -> no match
    ).toDF("k", "t", "tag")
    val right = Seq(
      (1L, None, 99.0),        // null right time: can never satisfy rt <= t
      (1L, Some(900L), 9.0)
    ).toDF("k", "rt", "v")
    AsOfJoin.Directions.foreach { d =>
      val out = AsOfJoin.directional(left, right, "k", "t", "rt", lit(500L), d)
        .select("tag", "rt", "v").collect()
        .map(r => (r.getString(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
      val a = if (d == "forward") None else Some(900L)
      assert(out === Set(("a", a), ("b", None)), d)
    }
  }

  test("known answer: forward direction") {
    import spark.implicits._
    val left = Seq(
      (1L, 1000L, "a"),   // earliest rt >= 1000 within 500 -> 1100
      (1L, 1850L, "b"),   // 1900 (same row matchable by several lefts)
      (1L, 1900L, "c"),   // exact-equal rt counts (rt >= t inclusive)
      (2L, 500L, "d"),    // right 600 within tol
      (3L, 900L, "e")     // right 100 < t: no forward match
    ).toDF("k", "t", "tag")
    val out = AsOfJoin.directional(left, denseRight, "k", "t", "rt", lit(500L), "forward")
      .select("k", "t", "tag", "rt").collect()
      .map(r => (r.getString(2), if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    assert(out === Set(
      ("a", Some(1100L)), ("b", Some(1900L)), ("c", Some(1900L)),
      ("d", Some(600L)), ("e", None)))
  }

  test("known answer: nearest direction, equidistant tie to earlier") {
    import spark.implicits._
    val left = Seq(
      (1L, 1000L, "a"),   // 900 and 1100 both at d=100: tie -> earlier = 900
      (1L, 1060L, "b"),   // 1100 (d=40) beats 900 (d=160)
      (1L, 1850L, "c"),   // 1800 and 1900 both at d=50: tie -> earlier = 1800
      (1L, 2500L, "d"),   // 1900 at d=600 > tol -> no match
      (2L, 500L, "e")     // only 600 (d=100, forward side)
    ).toDF("k", "t", "tag")
    val out = AsOfJoin.directional(left, denseRight, "k", "t", "rt", lit(500L), "nearest")
      .select("tag", "rt").collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    assert(out === Set(
      ("a", Some(900L)), ("b", Some(1100L)), ("c", Some(1800L)), ("d", None),
      ("e", Some(600L))))
  }

  test("forward/nearest equal the join+rank formulation on bars/clicks") {
    Seq("forward", "nearest").foreach(assertMatchesReference)
  }

  test("invalid direction is rejected at construction") {
    import spark.implicits._
    val left = Seq((1L, 10L)).toDF("k", "t")
    val right = Seq((1L, 5L, 1.0)).toDF("k", "rt", "v")
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.directional(left, right, "k", "t", "rt", lit(100L), "sideways")
    }
    assert(e.getMessage.contains("backward|forward|nearest"))
  }

  test("physical plan is the single-merge operator, no band-join blowup") {
    import spark.implicits._
    val left = Seq((1L, 10L)).toDF("k", "t")
    val right = Seq((1L, 5L, 1.0)).toDF("k", "rt", "v")
    AsOfJoin.Directions.foreach { d =>
      val df = AsOfJoin.directional(left, right, "k", "t", "rt", lit(100L), d)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("AsOfJoin"), s"expected the AsOfJoin operator in:\n$plan")
      assert(!plan.contains("Window") && !plan.contains("BroadcastNestedLoop"),
        s"direction=$d:\n$plan")
    }
  }
}
