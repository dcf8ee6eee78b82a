package perfbench

import org.apache.spark.sql.DataFrame

/** Per-layer figures from a traced run. Every figure is a median over
  * the timed operations of the per-operation sum over the leaf spans
  * that `work` selects.
  */
final class Layers(t: On, timedOps: Seq[Int], cores: Int, work: Span => Boolean) {
  private val byOp: Map[Int, Seq[Span]] = t.leaves.filter(work).groupBy(_.op)
  private def spansOf(o: Int): Seq[Span] = byOp.getOrElse(o, Nil)

  def perOp(select: Span => Boolean)(f: Span => Double): Double =
    Stats.median(timedOps.map(o => spansOf(o).filter(select).map(f).sum))

  def ms(name: String): Double = perOp(_.name == name)(_.ms)

  private def isBuild(s: Span) = s.name.endsWith(".build")

  /** The build / plan / exec split and the Spark counters of one
    * operation. Build is the time spent constructing DataFrames (eager
    * jobs included); plan is analysis, optimisation and physical
    * planning of the actions; exec is the rest of the actions.
    */
  def common: Map[String, Double] = Map(
    "op.build_ms" -> perOp(isBuild)(_.ms),
    "op.plan_ms" -> perOp(s => !isBuild(s))(_.c.planMs),
    "op.exec_ms" -> perOp(s => !isBuild(s))(s => s.ms - s.c.planMs),
    "spark.jobs" -> perOp(_ => true)(_.c.jobs.toDouble),
    "spark.stages" -> perOp(_ => true)(_.c.stages.toDouble),
    "spark.tasks" -> perOp(_ => true)(_.c.tasks.toDouble),
    "spark.gc_ms" -> perOp(_ => true)(_.c.gcMs.toDouble),
    "spark.shuffle_read_bytes" -> perOp(_ => true)(_.c.shuffleRead.toDouble),
    "spark.shuffle_write_bytes" -> perOp(_ => true)(_.c.shuffleWrite.toDouble),
    "spark.spill_bytes" -> perOp(_ => true)(_.c.spill.toDouble),
    "spark.task_busy_share" -> Stats.median(timedOps.map { o =>
      val s = spansOf(o)
      s.map(_.c.taskMs.toDouble).sum / math.max(cores * s.map(_.ms).sum, 1e-9)
    }),
    "spark.max_task_over_median" -> Stats.median(timedOps.map { o =>
      (1.0 +: spansOf(o).map(_.skew)).max
    }))
}

object Layers {
  /** The keys of [[Layers.common]]. */
  val CommonMetrics: Seq[String] = Seq("op.build_ms", "op.plan_ms", "op.exec_ms", "spark.jobs",
    "spark.stages", "spark.tasks", "spark.gc_ms", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.task_busy_share",
    "spark.max_task_over_median")

  /** Times a layer call on its own: builds the layer's DataFrame in a
    * `<name>.build` span, runs it into the noop sink in a `<name>` span,
    * then materialises it (unspanned) so the next layer's input is
    * already computed.
    */
  def layer(trace: Trace, name: String)(build: => DataFrame): DataFrame = {
    val df = trace.span(name + ".build")(build)
    trace.span(name)(df.write.format("noop").mode("overwrite").save())
    df.persist()
    df.count()
    df
  }
}
