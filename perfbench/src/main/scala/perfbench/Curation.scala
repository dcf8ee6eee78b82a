package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Try

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `curation_mix`: a fixed basket of registry queries run through
  * SparkEntry.queries into the noop sink, one query per operation and
  * the whole basket per round. Most of the basket are queries that
  * each run many Spark jobs, most of them eagerly while the query is
  * being built; the control is a single-pass scan/aggregate query on
  * which a change to the per-job cost should show nothing.
  */
final class Curation(spark: SparkSession, dataDir: File, dir: File, trace: Trace) {
  import Curation._

  private def tableRows(t: String): Long =
    spark.read.parquet(new File(dataDir, s"$t.parquet").getPath).count()

  /** Rows of the input tables one pass reads, table by table per query. */
  private lazy val rowsPerPass: Long = {
    val rows = Basket.flatMap(_._2).distinct.map(t => t -> tableRows(t)).toMap
    Basket.map(_._2.map(rows).sum).sum
  }

  /** Untimed warm-up passes, each with its queries run side by side (a
    * query's first runs are mostly single-threaded driver work: planning,
    * code generation, JIT), which also write each result as parquet for
    * the independent check; then timed passes, one query at a time, into
    * the noop sink.
    */
  def run(seconds: Double): Outcome = {
    val log = new OpLog
    val out = new File(dir, "check")
    val timedOps = ArrayBuffer.empty[(Int, String)]
    (0 until WarmPasses).foreach { _ =>
      val warm = Basket.map { case (name, _) =>
        Future(Try(SparkEntry.queries(name)(spark, dataDir.getPath)
          .write.mode("overwrite").parquet(new File(out, name).getPath)))(ExecutionContext.global)
      }
      warm.foreach(f => log.record(Await.result(f, Duration.Inf)))
      spark.catalog.clearCache()
    }
    def pass(): Unit = Basket.foreach { case (name, _) =>
      val i = log.attempted
      timedOps += (i -> name)
      log.run(timed = true)(trace.op(i, name) {
        val df = trace.span("query.build")(SparkEntry.queries(name)(spark, dataDir.getPath))
        trace.span("query.exec")(df.write.format("noop").mode("overwrite").save())
      })
      spark.catalog.clearCache()
      log.sampleHeap()
    }
    val rows = rowsPerPass
    Rounds.timed(seconds, log)(pass())
    val layers = trace match {
      case t: On => curationLayers(t, timedOps.toSeq)
      case _ => Map.empty[String, Double]
    }
    checkJson = Json.obj(Seq(
      "data_dir" -> Json.str(dataDir.getPath),
      "out_dir" -> Json.str(out.getPath),
      "oracle" -> Json.obj(Basket.map { case (name, _) =>
        name -> SparkEntry.oracleSql.get(name).map(Json.str).getOrElse("null")
      })))
    Outcome(log, rows, layers)
  }

  private def curationLayers(t: On, ops: Seq[(Int, String)]): Map[String, Double] = {
    val all = new Layers(t, ops.map(_._1), Main.Cores, _ => true)
    val perQuery = Basket.flatMap { case (name, _) =>
      val q = new Layers(t, ops.filter(_._2 == name).map(_._1), Main.Cores, _ => true).common
      QueryFields.map { case (f, short) => s"query.$name.$short" -> q(f) }
    }
    val passes = ops.grouped(Basket.size).toSeq
    def perPass(f: Span => Double): Double = Stats.median(passes.map { p =>
      val ids = p.map(_._1).toSet
      t.leaves.filter(s => ids.contains(s.op)).map(f).sum
    })
    all.common ++ perQuery ++ Map(
      "queries.build_ms" -> perPass(s => if (s.name == "query.build") s.ms else 0.0),
      "queries.jobs" -> perPass(_.c.jobs.toDouble))
  }

  /** What the independent check needs, once the run has ended. */
  var checkJson: String = "{}"
}

object Curation {
  /** Side-by-side warm-up passes. With one, each timed pass still ran
    * about 15% faster than the one before it, so the number of passes a
    * run reached moved its medians.
    */
  val WarmPasses = 2

  /** Query → the tables it reads. Two job-heavy queries from the
    * iterative and eager-build family (20 and 21 Spark jobs at
    * sf0.001: graph label propagation and BPE merge rounds) and one
    * single-pass scan/aggregate control (3 jobs).
    */
  val Basket: Seq[(String, Seq[String])] = Seq(
    "label_communities" -> Seq("orders", "lineitem"),
    "bpe_vocab" -> Seq("documents"),
    "q1_pricing" -> Seq("lineitem"))

  /** Layers.common keys reported per query, and their names there. */
  val QueryFields: Seq[(String, String)] = Layers.CommonMetrics.take(10).map(f =>
    f -> f.stripPrefix("op.").stripPrefix("spark."))

  val LayerMetrics: Seq[String] = Seq("queries.build_ms", "queries.jobs") ++
    Basket.flatMap { case (q, _) => QueryFields.map { case (_, f) => s"query.$q.$f" } }
}
