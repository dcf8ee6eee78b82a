package graft.plans

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{SparkSpec, Tables}
import graft.ops.{AsOfJoinReference, DollarBars}

class AsOfJoinNativeSpec extends SparkSpec {

  private val ThreeDaysUs = 3L * 24 * 3600 * 1000000

  test("known answer on a hand-built dense right side") {
    import spark.implicits._
    val left = Seq(
      (1L, 1000L, "a"),   // match at 900 (within tol 500)
      (1L, 2000L, "b"),   // right rows at 1100..1900 -> last is 1900
      (2L, 500L, "c"),    // no right row <= 500 for key 2
      (3L, 900L, "d")     // right 100 is <= 900 but out of tolerance
    ).toDF("k", "t", "tag")
    val right = (Seq((1L, 900L, 9.0)) ++
      (1100L to 1900L by 100).map(ts => (1L, ts, ts / 100.0)) ++
      Seq((2L, 600L, 6.0), (3L, 100L, 1.0))).toDF("rk", "rt", "v")
    val out = AsOfJoinNative.join(left, right, "k", "t", "rk", "rt", tolerance = 500L)
      .select("k", "t", "tag", "rt", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    assert(out === Set(
      (1L, 1000L, Some(900L)),
      (1L, 2000L, Some(1900L)),
      (2L, 500L, None),
      (3L, 900L, None)))
  }

  test("equals the join+row_number formulation on the bars/clicks shape") {
    val ev = Tables.events(spark, sf("sf0.001"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"),
        col("value").cast(DecimalType(20, 4)).as("notional"))
    val bars = DollarBars.bars(purchases, "user_id", "ts", "value", "notional", 500.0)
      .select("user_id", "bar_num", "close", "end_ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("r_user"), col("ts").as("click_ts"),
        col("value").as("click_value"))

    val native = AsOfJoinNative.join(bars, clicks, "user_id", "end_ts",
      "r_user", "click_ts", ThreeDaysUs)
      .select(col("user_id"), col("bar_num"), col("close"), col("end_ts"),
        col("click_ts"), col("click_value"))

    val classic = AsOfJoinReference.directional(bars,
      clicks.withColumnRenamed("r_user", "user_id"),
      "user_id", "end_ts", "click_ts",
      expr("INTERVAL 3 DAYS"), Seq("user_id", "bar_num"), "backward")
      .select(col("user_id"), col("bar_num"), col("close"), col("end_ts"),
        col("click_ts"), col("click_value"))

    val n = native.orderBy("user_id", "bar_num").collect().toSeq
    val c = classic.orderBy("user_id", "bar_num").collect().toSeq
    assert(n.nonEmpty)
    assert(n === c)
  }

  test("mismatched key types are rejected at construction") {
    import spark.implicits._
    val left = Seq((1, 10L)).toDF("k", "t")          // int key
    val right = Seq((1L, 5L, 1.0)).toDF("rk", "rt", "v") // bigint key
    val e = intercept[IllegalArgumentException] {
      AsOfJoinNative.join(left, right, "k", "t", "rk", "rt", 100L)
    }
    assert(e.getMessage.contains("identical types"))
  }

  test("null times: null left time -> outer row, null right times skipped") {
    import spark.implicits._
    val left = Seq(
      (1L, Some(1000L), "a"),  // must match rt=900, not the null-rt row
      (1L, None, "b")          // null left time -> no match (band-join semantics)
    ).toDF("k", "t", "tag")
    val right = Seq(
      (1L, None, 99.0),        // null right time: can never satisfy rt <= t
      (1L, Some(900L), 9.0)
    ).toDF("rk", "rt", "v")
    val out = AsOfJoinNative.join(left, right, "k", "t", "rk", "rt", 500L)
      .select("tag", "rt", "v").collect()
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    assert(out === Set(("a", Some(900L)), ("b", None)))
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
    val right = (Seq((1L, 900L, 9.0)) ++
      (1100L to 1900L by 100).map(ts => (1L, ts, ts / 100.0)) ++
      Seq((2L, 600L, 6.0), (3L, 100L, 1.0))).toDF("rk", "rt", "v")
    val out = AsOfJoinNative.join(left, right, "k", "t", "rk", "rt",
      tolerance = 500L, direction = "forward")
      .select("k", "t", "tag", "rt").collect()
      .map(r => (r.getString(2), if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    assert(out === Set(
      ("a", Some(1100L)), ("b", Some(1900L)), ("c", Some(1900L)),
      ("d", Some(600L)), ("e", None)))
  }

  test("known answer: nearest direction, equidistant tie to earlier") {
    import spark.implicits._
    val left = Seq(
      (1L, 1000L, "a"),   // 900 (d=100) beats 1100 (d=100)? tie -> earlier = 900
      (1L, 1060L, "b"),   // 1100 (d=40) beats 900 (d=160)
      (1L, 2500L, "c"),   // 1900 at d=600 > tol -> no match
      (2L, 500L, "d")     // only 600 (d=100, forward side)
    ).toDF("k", "t", "tag")
    val right = (Seq((1L, 900L, 9.0)) ++
      (1100L to 1900L by 100).map(ts => (1L, ts, ts / 100.0)) ++
      Seq((2L, 600L, 6.0))).toDF("rk", "rt", "v")
    val out = AsOfJoinNative.join(left, right, "k", "t", "rk", "rt",
      tolerance = 500L, direction = "nearest")
      .select("tag", "rt").collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    assert(out === Set(
      ("a", Some(900L)), ("b", Some(1100L)), ("c", None), ("d", Some(600L))))
  }

  test("forward/nearest equal the join+rank formulation on bars/clicks") {
    val ev = Tables.events(spark, sf("sf0.001"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"),
        col("value").cast(DecimalType(20, 4)).as("notional"))
    val bars = DollarBars.bars(purchases, "user_id", "ts", "value", "notional", 500.0)
      .select("user_id", "bar_num", "close", "end_ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("r_user"), col("ts").as("click_ts"),
        col("value").as("click_value"))

    for (d <- Seq("forward", "nearest")) {
      val native = AsOfJoinNative.join(bars, clicks, "user_id", "end_ts",
        "r_user", "click_ts", ThreeDaysUs, direction = d)
        .select(col("user_id"), col("bar_num"), col("close"), col("end_ts"),
          col("click_ts"), col("click_value"))
      val classic = AsOfJoinReference.directional(bars,
        clicks.withColumnRenamed("r_user", "user_id"),
        "user_id", "end_ts", "click_ts",
        expr("INTERVAL 3 DAYS"), Seq("user_id", "bar_num"), d)
        .select(col("user_id"), col("bar_num"), col("close"), col("end_ts"),
          col("click_ts"), col("click_value"))
      val n = native.orderBy("user_id", "bar_num").collect().toSeq
      val c = classic.orderBy("user_id", "bar_num").collect().toSeq
      assert(n.nonEmpty, d)
      assert(n === c, s"direction=$d")
    }
  }

  test("invalid direction is rejected at construction") {
    import spark.implicits._
    val left = Seq((1L, 10L)).toDF("k", "t")
    val right = Seq((1L, 5L, 1.0)).toDF("rk", "rt", "v")
    val e = intercept[IllegalArgumentException] {
      AsOfJoinNative.join(left, right, "k", "t", "rk", "rt", 100L, "sideways")
    }
    assert(e.getMessage.contains("backward|forward|nearest")
      || e.getMessage.contains("direction"))
  }

  test("physical plan is the single-merge operator, no band-join blowup") {
    import spark.implicits._
    val left = Seq((1L, 10L)).toDF("k", "t")
    val right = Seq((1L, 5L, 1.0)).toDF("rk", "rt", "v")
    val df = AsOfJoinNative.join(left, right, "k", "t", "rk", "rt", 100L)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), s"expected the AsOfJoin operator in:\n$plan")
    assert(!plan.contains("WindowGroupLimit") && !plan.contains("BroadcastNestedLoop"))
  }
}
