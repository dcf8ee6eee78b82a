package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The as-of join exactly as the reference states it
  * (`processing_raw_data_from_gcs.py:143-159`): an equi+band left join,
  * then `row_number` per left row over the band's candidates, keeping
  * rank 1. Its cost grows with the product of the two sides per key, so
  * it lives here as the specification that [[AsOfJoin.directional]]
  * must equal, not as a code path.
  *
  * @param leftKeys columns uniquely identifying a left row (the rank's
  *                 partition)
  */
object AsOfJoinReference {

  def directional(left: DataFrame, right: DataFrame, key: String,
                  leftTs: String, rightTs: String, tolerance: Column,
                  leftKeys: Seq[String], direction: String): DataFrame = {
    val l = left.as("l")
    val r = right.as("r")
    val lt = col(s"l.$leftTs")
    val rt = col(s"r.$rightTs")
    val keyEq = col(s"l.$key") === col(s"r.$key")
    val (cond, order) = direction match {
      case "backward" =>
        (keyEq && rt <= lt && rt >= lt - tolerance,
          Seq(rt.desc_nulls_last))
      case "forward" =>
        (keyEq && rt >= lt && rt <= lt + tolerance,
          Seq(rt.asc_nulls_last))
      case "nearest" =>
        (keyEq && rt >= lt - tolerance && rt <= lt + tolerance,
          Seq(abs(unix_micros(rt) - unix_micros(lt)).asc_nulls_last,
            rt.asc_nulls_last))
      case other =>
        throw new IllegalArgumentException(
          s"direction must be backward|forward|nearest, got $other")
    }
    val w = Window
      .partitionBy(leftKeys.map(k => col(s"l.$k")): _*)
      .orderBy(order: _*)
    l.join(r, cond, "left")
      .withColumn("row_num", row_number().over(w))
      .filter(col("row_num") === 1)
      .drop("row_num")
      .drop(col(s"r.$key"))
  }
}
