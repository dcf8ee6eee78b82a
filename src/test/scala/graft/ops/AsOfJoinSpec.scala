package graft.ops

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class AsOfJoinSpec extends SparkSpec {

  private def fixtures = {
    val ev = Tables.events(spark, sf())
    val left = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val right = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("value").as("click_value"))
    (left, right)
  }

  test("joined: latest right row within lookback, nulls outside") {
    val (left, right) = fixtures
    val out = AsOfJoin.joined(left, right, "user_id", "ts", "click_ts",
      expr("INTERVAL 3 DAYS"))
    assert(out.count() === left.count()) // left-outer: row count preserved
    // every matched click is <= ts and within lookback
    val bad = out.filter(col("click_ts").isNotNull &&
      (col("click_ts") > col("ts") || col("click_ts") < col("ts") - expr("INTERVAL 3 DAYS")))
    assert(bad.count() === 0)
    assert(out.filter(col("click_ts").isNull).count() > 0) // null path exercised
  }

  test("joined matches the join+rank reference exactly") {
    val (left, right) = fixtures
    val a = AsOfJoin.joined(left, right, "user_id", "ts", "click_ts",
      expr("INTERVAL 3 DAYS"))
    val b = AsOfJoinReference.directional(left, right, "user_id", "ts", "click_ts",
      expr("INTERVAL 3 DAYS"), Seq("user_id", "event_id"), "backward")
    assert(a.schema === b.schema)
    assert(a.orderBy("user_id", "event_id").collect().toSeq ===
      b.orderBy("user_id", "event_id").collect().toSeq)
  }

  test("directional: forward/nearest known answers") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq((1L, t("2024-01-01 12:00:00"), 100L))
      .toDF("k", "ts", "lid")
    val right = Seq(
      (1L, t("2024-01-01 11:59:00"), "before_1m"),
      (1L, t("2024-01-01 12:03:00"), "after_3m"),
      (1L, t("2024-01-01 12:10:00"), "after_10m")
    ).toDF("k", "rts", "tag")
    def run(dir: String) = AsOfJoin.directional(left, right, "k", "ts", "rts",
      expr("INTERVAL 5 MINUTES"), dir)
      .select("tag").head().getString(0)
    assert(run("backward") === "before_1m") // only one at/before t
    assert(run("forward") === "after_3m")   // earliest at/after t within 5m
    assert(run("nearest") === "before_1m")  // 1m beats 3m

    // equidistant tie -> earlier right row
    val tie = Seq(
      (1L, t("2024-01-01 11:58:00"), "before_2m"),
      (1L, t("2024-01-01 12:02:00"), "after_2m")
    ).toDF("k", "rts", "tag")
    val near = AsOfJoin.directional(left, tie, "k", "ts", "rts",
      expr("INTERVAL 5 MINUTES"), "nearest")
      .select("tag").head().getString(0)
    assert(near === "before_2m")

    // out-of-tolerance on the forward side -> null match
    val far = AsOfJoin.directional(left, right.filter(col("tag") === "after_10m"),
      "k", "ts", "rts", expr("INTERVAL 5 MINUTES"), "forward")
    assert(far.filter(col("tag").isNull).count() === 1)
  }

  private val TolUs = 10000000L // INTERVAL 10 SECONDS
  private val T0 = 1722816000000000L

  /** (lid, key, time µs) left rows and (key, time µs, payload) right
    * rows as DataFrames with microsecond timestamps.
    */
  private def frames(ls: Seq[(Long, Option[Int], Option[Long])],
                     rs: Seq[(Option[Int], Option[Long], Option[Double])]): (DataFrame, DataFrame) = {
    import spark.implicits._
    val left = ls.toDF("lid", "k", "us")
      .select(col("lid"), col("k"), timestamp_micros(col("us")).as("ts"))
    val right = rs.toDF("k", "us", "v")
      .select(col("k"), timestamp_micros(col("us")).as("rts"), col("v"))
    (left, right)
  }

  /** Every direction against the reference: same schema, same rows. */
  private def assertMatchesReference(left: DataFrame, right: DataFrame, what: String): Unit =
    AsOfJoin.Directions.foreach { d =>
      val tol = expr("INTERVAL 10 SECONDS")
      val got = AsOfJoin.directional(left, right, "k", "ts", "rts", tol, d)
      val want = AsOfJoinReference.directional(left, right, "k", "ts", "rts", tol,
        Seq("lid"), d)
      assert(got.schema === want.schema, s"$what $d: schema")
      val g = got.orderBy("lid").collect().toSeq
      assert(g.size === left.count(), s"$what $d: one row per left row")
      assert(g === want.orderBy("lid").collect().toSeq, s"$what $d")
    }

  test("directional equals the join+rank reference on the degenerate inputs") {
    val at = Some(T0 + 100 * 1000000L)
    def off(us: Long) = at.map(_ + us)
    val (left, right) = frames(
      Seq(
        (1L, Some(1), at),        // rights exactly tol before and after: both bounds inclusive
        (2L, Some(2), at),        // rights tol + 1 µs before and after: no match
        (3L, Some(3), at),        // right at exactly t
        (4L, None, at),           // null key never matches a null-key right row
        (5L, Some(1), None),      // null left time
        (6L, Some(3), off(5000000L)), // forward side holds only a null-time right row
        (7L, Some(4), at)),       // key with no right rows
      Seq(
        (Some(1), off(-TolUs), Some(1.0)),
        (Some(1), off(TolUs), Some(2.0)),
        (Some(2), off(-TolUs - 1), Some(3.0)),
        (Some(2), off(TolUs + 1), Some(4.0)),
        (Some(3), at, None),      // matched row with a null payload
        (Some(3), None, Some(5.0)),
        (None, at, Some(6.0)),
        (Some(5), at, Some(7.0))))  // key with no left rows
    assertMatchesReference(left, right, "degenerate")
    assertMatchesReference(left, right.limit(0), "empty right")
    assertMatchesReference(left.limit(0), right, "empty left")
  }

  test("directional equals the join+rank reference on seeded random inputs (4 seeds)") {
    (1L to 4L).foreach { seed =>
      val rnd = new Random(seed)
      // half-second grid over 60 s: exact-equal and exactly-tol-apart times are common
      def time() = if (rnd.nextInt(12) == 0) None else Some(T0 + rnd.nextInt(120) * 500000L)
      def key() = if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(3))
      val ls = (0L until 40L).map(lid => (lid, key(), time()))
      // right times unique per key, the contract both forms rely on
      val rs = Seq.fill(60)((key(), time(), if (rnd.nextInt(8) == 0) None else Some(rnd.nextDouble())))
        .groupBy(r => (r._1, r._2)).values.map(_.head).toSeq
      val (left, right) = frames(ls, rs)
      assertMatchesReference(left, right, s"seed=$seed")
    }
  }
}
