package graft

import org.apache.spark.sql.SparkSession

/** The one session policy of the mains and specs (only `Smoke` keeps
  * the driver's plain session, on purpose): `local[cores]` with
  * `cores` shuffle partitions, UTC session time zone,
  * [[graft.functions.GraftExtensions]] installed (native expressions
  * and the as-of planner strategy), no UI, loopback driver address,
  * WARN logging. `getOrCreate`, so a second call in the same JVM
  * returns the session the first built.
  *
  * Callers that need a different conf (AQE off, a longer progress
  * history) set it with `spark.conf.set` on the returned session.
  *
  * The extensions are required, not optional: the vector and
  * text-hash operators (`Similarity.dot`, `Dedup.minhashSignature`,
  * `Decontam.gramHashes`, …) call their native kernel as the only
  * path. On a session without GraftExtensions such an operator fails
  * when its DataFrame is built, with Spark's `UNRESOLVED_ROUTINE`
  * error naming the kernel (e.g. `dot_native`). The plain session of
  * `Smoke` runs only `dollar_bars`, which calls no kernel.
  */
object Session {
  def local(cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
