package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ScdSpec extends SparkSpec {

  private def ts(s: Long) = new Timestamp(s * 1000L)

  test("runs collapse into versioned intervals with an open current row") {
    import spark.implicits._
    // key 7: A A B B A  → A[1,3) v1, B[3,5) v2, A[5,∞) v3
    val df = Seq(
      (7L, "A", ts(1), 1L), (7L, "A", ts(2), 2L), (7L, "B", ts(3), 3L),
      (7L, "B", ts(4), 4L), (7L, "A", ts(5), 5L),
      (9L, "X", ts(10), 6L) // second key: single open interval
    ).toDF("user_id", "event_type", "ts", "event_id")

    val out = Scd.history(df, "user_id", "event_type", "ts", "event_id")
      .orderBy("user_id", "version").collect()
    assert(out.length === 4)

    val k7 = out.filter(_.getAs[Long]("user_id") == 7L)
    assert(k7.map(_.getAs[String]("event_type")).toSeq === Seq("A", "B", "A"))
    assert(k7.map(_.getAs[Timestamp]("valid_from")).toSeq === Seq(ts(1), ts(3), ts(5)))
    assert(k7.map(_.getAs[Timestamp]("valid_to")).toSeq === Seq(ts(3), ts(5), null))
    assert(k7.map(_.getAs[Int]("version")).toSeq === Seq(1, 2, 3))
    assert(k7.map(_.getAs[Boolean]("is_current")).toSeq === Seq(false, false, true))

    val k9 = out.filter(_.getAs[Long]("user_id") == 9L)
    assert(k9.length === 1 && k9.head.getAs[Boolean]("is_current"))
  }

  test("equal timestamps order by the tie column — deterministic collapse") {
    import spark.implicits._
    // same ts: tie column decides A(id1) then B(id2) → two versions
    val df = Seq((1L, "A", ts(5), 1L), (1L, "B", ts(5), 2L))
      .toDF("user_id", "event_type", "ts", "event_id")
    val out = Scd.history(df, "user_id", "event_type", "ts", "event_id")
      .orderBy("version").collect()
    assert(out.map(_.getAs[String]("event_type")).toSeq === Seq("A", "B"))
    assert(out.map(_.getAs[Boolean]("is_current")).toSeq === Seq(false, true))
  }

  test("intervals tile each key's timeline: valid_to == next valid_from, one current") {
    val ev = graft.Tables.events(spark, sf())
    val out = Scd.history(ev, "user_id", "event_type", "ts", "event_id").cache()
    try {
      // exactly one open row per key
      val open = out.where(col("is_current")).groupBy("user_id").count()
      assert(open.where(col("count") =!= 1).count() === 0)
      // closed rows chain exactly onto the next version's start
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("version")
      val chained = out.withColumn("next_from", lead("valid_from", 1).over(w))
      assert(chained.where(col("valid_to").isNotNull &&
        col("valid_to") =!= col("next_from")).count() === 0)
      // no interval starts with the value its predecessor ended with
      val noRepeat = out.withColumn("prev_val", lag("event_type", 1).over(w))
      assert(noRepeat.where(col("prev_val") === col("event_type")).count() === 0)
    } finally out.unpersist()
  }
}
