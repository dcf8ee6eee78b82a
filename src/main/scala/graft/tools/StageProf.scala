package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.{Session, SparkEntry}

/** Per-stage profile of one registry query (dev-side, guide §1.1/§7.1:
  * "open the UI, find the slowest stage" — headless equivalent). Runs
  * the query `reps` times (after one sf0.001 warmup) under the bench's
  * session config and prints every stage of the LAST run: duration,
  * task count, shuffle read/write bytes, GC time — the numbers needed
  * to tell scheduling overhead from compute from shuffle from GC.
  *
  * Usage: SPARK_GRAFT_CPUS=32 tools/run.sh graft.tools.StageProf <sfDir> <query> [reps]
  */
object StageProf {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val query = args(1)
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Session.local()

    case class St(id: Int, name: String, ms: Long, tasks: Int,
                  gcMs: Long, shufReadMB: Double, shufWriteMB: Double,
                  inputMB: Double)
    val stages = collection.mutable.ArrayBuffer.empty[St]
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val dur = for {
          s <- si.submissionTime; c <- si.completionTime
        } yield c - s
        stages += St(si.stageId, si.name.takeWhile(_ != '\n').take(70),
          dur.getOrElse(-1L), si.numTasks, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.inputMetrics.bytesRead / 1e6)
      }
    }

    def force(): Unit =
      SparkEntry.queries(query)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    val warmDir = sfDir.replaceAll("sf[0-9.]+/?$", "sf0.001")
    try force() catch { case _: Throwable => () }
    try { SparkEntry.queries(query)(spark, warmDir)
      .write.format("noop").mode("overwrite").save() } catch { case _: Throwable => () }
    spark.catalog.clearCache(); System.gc()

    var last = 0.0
    for (i <- 1 to reps) {
      stages.clear(); jobs = 0
      if (i == reps) spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      force()
      last = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache(); System.gc()
      println(f"run $i: $last%.3f s")
    }
    // listener events are posted asynchronously; give the bus a moment
    Thread.sleep(1500)
    println(f"\n=== $query @ $sfDir, local[${spark.sparkContext.defaultParallelism}]: last run $last%.3f s, $jobs jobs, ${stages.size} stages ===")
    println(f"${"stage"}%6s ${"ms"}%7s ${"tasks"}%5s ${"gcMs"}%6s ${"shR_MB"}%8s ${"shW_MB"}%8s ${"in_MB"}%8s  name")
    stages.sortBy(-_.ms).foreach { s =>
      println(f"${s.id}%6d ${s.ms}%7d ${s.tasks}%5d ${s.gcMs}%6d ${s.shufReadMB}%8.2f ${s.shufWriteMB}%8.2f ${s.inputMB}%8.2f  ${s.name}")
    }
    val sumMs = stages.map(_.ms.max(0)).sum
    println(f"sum of stage wall ms: $sumMs (job count $jobs; gaps = scheduling/driver/planning)")
    spark.stop()
  }
}
