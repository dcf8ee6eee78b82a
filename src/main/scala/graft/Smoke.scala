package graft

import org.apache.spark.sql.SparkSession

/** Mirrors the driver's smoke check: SparkEntry.entry(spark) must
  * return rows > 0 on a plain session (no special reader configs).
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    // a plain builder on purpose: mirrors the driver, not Session.local
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val n = SparkEntry.entry(spark).count()
    println(s"entry rows=$n ${if (n > 0) "OK" else "EMPTY"}")
    spark.stop()
    if (n == 0) sys.exit(1)
  }
}
