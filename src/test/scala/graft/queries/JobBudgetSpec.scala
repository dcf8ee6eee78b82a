package graft.queries

import graft.{SparkEntry, SparkSpec, Tables}

/** Ceilings on the Spark jobs a query starts, build and noop write
  * together, at sf0.001 once the query has run before in the JVM (the
  * case every repeated call pays). Each counted job is a fixed floor of
  * driver round-trip, scheduling and task launch on a small input, so a
  * change that adds eager work to a query builder shows up here before
  * it shows up in a benchmark.
  */
class JobBudgetSpec extends SparkSpec {

  /** Jobs of the second build + noop write of `name`. */
  private def secondRunJobs(name: String): Int = {
    val q = SparkEntry.queries(name)
    def run(): Unit = q(spark, sf()).write.format("noop").mode("overwrite").save()
    run()
    jobsOf(s"budget-$name")(run())
  }

  for ((name, ceiling) <- Seq("label_communities" -> 14, "bpe_vocab" -> 12, "q1_pricing" -> 2))
    test(s"$name runs at most $ceiling jobs") {
      val jobs = secondRunJobs(name)
      assert(jobs <= ceiling, s"$name ran $jobs jobs, ceiling $ceiling")
    }

  test("a second read of an unchanged table starts no job") {
    Tables.orders(spark, sf())
    assert(jobsOf("budget-read")(Tables.orders(spark, sf())) === 0)
  }
}
