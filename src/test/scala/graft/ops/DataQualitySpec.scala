package graft.ops

import graft.SparkSpec
import DataQuality._

class DataQualitySpec extends SparkSpec {

  test("each check kind: metric values and pass/fail on a known table") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), "a", 5.0),
      (Some(2L), "a", 50.0),
      (Some(2L), "b", -1.0), // duplicate id, range violation
      (None, "c", 10.0)      // null id
    ).toDF("id", "tag", "v")
    val ref = Seq(1L, 3L).toDF("k")
    val out = DataQuality.run(df, Seq(
      Completeness("id", atLeast = 0.75),
      Completeness("tag"),
      Uniqueness(Seq("id")),
      InRange("v", 0.0, 50.0),
      SubsetOf("id", ref, "k", "ref")))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
    assert(out("completeness.id") === ((0.75, true)))
    assert(out("completeness.tag") === ((1.0, true)))
    // struct distinct counts the null-id tuple: {1, 2, null} of 4 rows
    assert(out("uniqueness.id") === ((0.75, false)))
    assert(out("range.v") === ((1.0, false)))
    assert(out("subset.id_in_ref") === ((1.0, false))) // id=2 missing from ref
  }

  test("empty table: completeness/uniqueness vacuously pass, zero range violations") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Double)].toDF("id", "v")
    val out = DataQuality.run(empty, Seq(
      Completeness("id"), Uniqueness(Seq("id")), InRange("v", 0.0, 1.0)))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
    assert(out("completeness.id") === ((1.0, true)))
    assert(out("uniqueness.id") === ((1.0, true)))
    assert(out("range.v") === ((0.0, true)))
  }

  test("adding row-local checks adds aggregate expressions, not Spark jobs") {
    import spark.implicits._
    val df = Seq((1L, 2.0), (2L, 3.0)).toDF("id", "v")
    val one = jobsOf("dq-one") {
      DataQuality.run(df, Seq(Completeness("id")))
    }
    val more = jobsOf("dq-more") {
      DataQuality.run(df, Seq(Completeness("id"), Completeness("v"),
        InRange("v", 0.0, 10.0), InRange("id", 0.0, 99.0)))
    }
    assert(one > 0 && more === one,
      s"row-local checks must fuse into the same single pass ($one vs $more jobs)")
    // uniqueness costs one extra shuffle STAGE (two-phase distinct),
    // but still no second scan — job count grows by at most 1
    val uniq = jobsOf("dq-uniq") {
      DataQuality.run(df, Seq(Completeness("id"), Uniqueness(Seq("id"))))
    }
    assert(uniq <= one + 1, s"uniqueness added ${uniq - one} stages")
  }
}
