package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.plans.AsOfJoinExec

/** The session every main and spec runs under carries the one policy
  * of [[Session.local]]: UTC, `cores` shuffle partitions, and the
  * engine extensions (native expressions and the as-of strategy).
  */
class SessionSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("reports UTC and one shuffle partition per core") {
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
  }

  test("resolves dot_native, so GraftExtensions is installed") {
    val dot = spark.sql("SELECT dot_native(array(1.0D, 2.0D), array(3.0D, 4.0D))").head().getDouble(0)
    assert(dot === 11.0)
  }

  test("plans asof_join through AsOfJoinExec") {
    val df = SparkEntry.queries("asof_join")(spark, sf())
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan
    assert(collect(plan) { case e: AsOfJoinExec => e }.size === 1, plan)
  }

  test("a second call returns the same session") {
    assert(Session.local(4) eq spark)
    assert(Session.local() eq spark)
  }
}
