package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** The Spark jobs `body` starts on this thread, counted through a job group. */
  def jobsOf(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try { body; sc.statusTracker.getJobIdsForGroup(group).length }
    finally sc.clearJobGroup()
  }
}

object SparkSpec {
  lazy val session: SparkSession = Session.local(4)
}
