package graft.queries

import org.apache.spark.sql.DataFrame

import graft.{SparkSpec, Tables}

class CorrMomentsSpec extends SparkSpec {
  import spark.implicits._

  /** (flag -> (n, raw bits of both correlations)): bit equality, so a
    * last-ulp difference or a NaN/-0.0 mismatch fails.
    */
  private def bits(df: DataFrame): Map[String, (Long, Long, Long)] =
    df.collect().map { r =>
      r.getString(0) -> ((r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3))))
    }.toMap

  private def frame(rows: (String, Double, Double, Double)*): DataFrame =
    rows.toDF("l_returnflag", "l_quantity", "l_extendedprice", "l_discount")

  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).toSeq

  test("long-unscaled corr_features equals the DECIMAL reference bit for bit on sf0.001") {
    val li = Tables.lineitem(spark, sf("sf0.001"))
    val got = bits(AnalyticsQueries.corrFeaturesOf(li))
    assert(got.size === 3)
    assert(got === bits(CorrMomentsReference.corrFeatures(li)))
  }

  test("equal to the reference at the TPC-H bounds: quantity 50, price near 105 000, discount 0.10") {
    val li = frame(
      ("A", 50.0, 104999.99, 0.10), ("A", 1.0, 900.01, 0.0), ("A", 49.0, 104998.18, 0.09),
      ("A", 50.0, 104999.99, 0.10), ("A", 25.0, 52500.5, 0.05),
      ("N", 50.0, 104999.99, 0.0), ("N", 2.0, 1800.02, 0.10), ("N", 37.0, 77699.63, 0.07))
    val got = bits(AnalyticsQueries.corrFeaturesOf(li))
    assert(got.keySet === Set("A", "N"))
    assert(got === bits(CorrMomentsReference.corrFeatures(li)))
  }

  test("the range guard raises on a negative or an oversized unscaled value") {
    val inRange = Seq(("A", 50.0, 104999.99, 0.10), ("A", 1.0, 900.01, 0.0))
    val negative = ("A", -1.0, 900.01, 0.0)
    val oversized = ("A", 5.0, 400000.0, 0.05) // unscaled 4·10⁹ > √(2⁶³−1)
    def run(bad: (String, Double, Double, Double)): Seq[String] =
      messages(intercept[Exception] {
        AnalyticsQueries.corrFeaturesOf(frame(inRange :+ bad: _*)).collect()
      })
    // each row is checked before its products, so under ANSI (the
    // default) the oversized value meets the named guard instead of
    // a generic overflow of its square
    for (bad <- Seq(negative, oversized)) {
      val msgs = run(bad)
      assert(msgs.exists(_.contains("corr_features needs")), msgs)
    }
  }
}
