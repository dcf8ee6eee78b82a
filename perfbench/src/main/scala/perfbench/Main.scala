package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  * `perfbench.Main --workload <w> --seed <n> --seconds <s> --trace <0|1>
  *  --out <dir> --data <curation data dir>`.
  *
  * Generates the workload's inputs, warms up, runs whole rounds of
  * operations for `seconds`, and writes `<out>/result.json`: operation
  * counts, end-to-end figures, per-layer figures when traced, and what
  * the independent checks need. `<out>/trace.json` holds the spans of a
  * traced run.
  */
object Main {
  val Cores = 4

  /** Every per-layer metric, in report order. */
  val LayerMetrics: Seq[String] = (Layers.CommonMetrics ++ Seq("trace.op_p50_ms") ++
    Daily.LayerMetrics ++ Stream.LayerMetrics ++ Curation.LayerMetrics).distinct

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val out = new File(opt("out"))
    val dir = new File(out, "work")
    dir.mkdirs()

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(out, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getPath)
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val trace: Trace = if (traced) new On(spark) else Trace.Off

    val (outcome, check) = workload match {
      case "upbit_daily" =>
        val w = new Daily(spark, dir, seed, trace)
        (w.run(seconds), w.checkJson)
      case "upbit_stream" =>
        val w = new Stream(spark, dir, seed, trace)
        (w.run(seconds), w.checkJson)
      case "curation_mix" =>
        val w = new Curation(spark, new File(opt("data")), dir, trace)
        (w.run(seconds), w.checkJson)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val log = outcome.log
    val lat = log.latenciesMs.toSeq
    val timedSeconds = log.roundsMs.sum / 1000.0
    val e2e = Seq(
      "op_p50_ms" -> Stats.median(lat),
      "rows_per_s" -> (if (timedSeconds > 0)
        outcome.recordsPerRound * log.roundsMs.size / timedSeconds else 0.0),
      "job_s" -> Stats.median(log.roundsMs.toSeq) / 1000.0,
      "live_heap_mb" -> Stats.median(log.liveHeapMb.toSeq))
    // every workload reports every per-layer metric; 0 where it does
    // not call the layer
    val layers = if (!traced) Seq.empty else {
      val got = outcome.layers + ("trace.op_p50_ms" -> Stats.median(lat))
      require(got.keySet.subsetOf(LayerMetrics.toSet), s"unlisted: ${got.keySet -- LayerMetrics}")
      LayerMetrics.map(n => n -> got.getOrElse(n, 0.0))
    }
    trace match {
      case t: On => Files.writeString(new File(out, "trace.json").toPath, t.json)
      case _ =>
    }
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "attempted" -> log.attempted.toString,
      "failed" -> log.failed.toString,
      "timed_ops" -> lat.size.toString,
      "rounds" -> log.roundsMs.size.toString,
      "first_timed_epoch_ms" -> log.firstTimedEpochMs.toString,
      "latencies_ms" -> lat.map(Json.num).mkString("[", ",", "]"),
      "errors" -> log.errors.map(Json.str).mkString("[", ",", "]"),
      "e2e" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) }),
      "check" -> check))
    Files.writeString(new File(out, "result.json").toPath, result)
    spark.stop()
  }
}
