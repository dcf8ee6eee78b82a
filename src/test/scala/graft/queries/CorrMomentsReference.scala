package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** `corr_features` in its plain DECIMAL form: quantity, price and
  * discount cast to DECIMAL(12,4), every per-row product an exact
  * DECIMAL(25,8) (a BigDecimal multiply, precision 25 > the
  * long-backed limit 18), sums and moments exact, then one
  * decimal→double cast per moment. It is the specification that the
  * long-unscaled form in [[AnalyticsQueries.corrFeaturesOf]] must equal
  * bit for bit, not a code path.
  */
object CorrMomentsReference {

  def corrFeatures(lineitem: DataFrame): DataFrame = {
    def dbl(name: String) = col(name).cast("double")
    val nD = col("n").cast("double")
    def corr(sxy: String, sx: String, sxx: String, sy: String, syy: String) =
      (nD * dbl(sxy) - dbl(sx) * dbl(sy)) /
        (sqrt(nD * dbl(sxx) - dbl(sx) * dbl(sx)) *
         sqrt(nD * dbl(syy) - dbl(sy) * dbl(sy)))
    val li = lineitem.select(
      col("l_returnflag"),
      col("l_quantity").cast(DecimalType(12, 4)).as("q"),
      col("l_extendedprice").cast(DecimalType(12, 4)).as("p"),
      col("l_discount").cast(DecimalType(12, 4)).as("d"))
    val m = li.groupBy("l_returnflag").agg(
      count(lit(1)).as("n"),
      sum(col("q")).as("sq"), sum(col("p")).as("sp"), sum(col("d")).as("sd"),
      sum(col("q") * col("p")).as("sqp"), sum(col("q") * col("d")).as("sqd"),
      sum(col("q") * col("q")).as("sqq"), sum(col("p") * col("p")).as("spp"),
      sum(col("d") * col("d")).as("sdd"))
    m.select(col("l_returnflag"), col("n"),
      corr("sqp", "sq", "sqq", "sp", "spp").as("corr_qty_price"),
      corr("sqd", "sq", "sqq", "sd", "sdd").as("corr_qty_discount"))
  }
}
