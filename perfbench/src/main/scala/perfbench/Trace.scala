package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.BenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work done inside one span, from the listeners. `planMs` is
  * the analysis + optimisation + physical-planning time of the queries
  * that finished in the span (QueryPlanningTracker phases).
  */
final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                          taskMs: Long = 0, gcMs: Long = 0, shuffleRead: Long = 0,
                          shuffleWrite: Long = 0, spill: Long = 0, planMs: Double = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskMs - o.taskMs, gcMs - o.gcMs, shuffleRead - o.shuffleRead,
    shuffleWrite - o.shuffleWrite, spill - o.spill, planMs - o.planMs)
  def +(o: Counters): Counters = Counters(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    taskMs + o.taskMs, gcMs + o.gcMs, shuffleRead + o.shuffleRead,
    shuffleWrite + o.shuffleWrite, spill + o.spill, planMs + o.planMs)
}

/** One layer call: `op` is the operation it belongs to, `skew` the
  * largest max/median task-duration ratio over the span's stages that
  * ran more than one task (1 when none did).
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long, c: Counters, skew: Double) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around the benchmark's calls into the program. The untraced
  * run uses [[Trace.Off]], which adds nothing around a call.
  */
sealed trait Trace {
  def op[T](index: Int, label: String)(body: => T): T
  def span[T](name: String)(body: => T): T
}

object Trace {
  object Off extends Trace {
    def op[T](index: Int, label: String)(body: => T): T = body
    def span[T](name: String)(body: => T): T = body
  }
}

/** Traced run: a SparkListener and a QueryExecutionListener count the
  * work of every span, and a StreamingQueryListener keeps every
  * micro-batch progress report. Counters are read after draining the
  * listener bus, so a span owns exactly the tasks that ended inside it.
  */
final class On(spark: SparkSession) extends Trace {
  private val sc = spark.sparkContext
  private var total = Counters()
  private val taskDurations = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]
  val progress: ArrayBuffer[StreamingQueryProgress] = ArrayBuffer.empty
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  val opLabels: ArrayBuffer[String] = ArrayBuffer.empty
  private var stack: List[Int] = Nil
  private var currentOp = -1

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      On.this.synchronized { total = total.copy(jobs = total.jobs + 1) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      On.this.synchronized { total = total.copy(stages = total.stages + 1) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = On.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        total = total + Counters(tasks = 1, taskMs = m.executorRunTime, gcMs = m.jvmGCTime,
          shuffleRead = m.shuffleReadMetrics.totalBytesRead,
          shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
          spill = m.memoryBytesSpilled + m.diskBytesSpilled)
      }
      taskDurations.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
    }
  })

  spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager
    .register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val ms = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
        On.this.synchronized { total = total.copy(planMs = total.planMs + ms) }
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      On.this.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })

  private def snapshot(): (Counters, Map[Int, Seq[Long]]) = {
    BenchBus.drain(sc)
    synchronized {
      val d = taskDurations.view.mapValues(_.toSeq).toMap
      taskDurations.clear()
      (total, d)
    }
  }

  /** Progress reports received so far (after draining the bus). */
  def progressSoFar(): Seq[StreamingQueryProgress] = {
    BenchBus.drain(sc)
    synchronized(progress.toList)
  }

  def op[T](index: Int, label: String)(body: => T): T = {
    currentOp = index
    while (opLabels.size <= index) opLabels += ""
    opLabels(index) = label
    span("op")(body)
  }

  def span[T](name: String)(body: => T): T = {
    val (before, _) = snapshot()
    val id = spans.size
    spans += null
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val (after, durations) = snapshot()
      stack = stack.tail
      val ratios = durations.values.filter(_.size > 1).map { d =>
        d.max.toDouble / math.max(Stats.median(d.map(_.toDouble)), 1.0)
      }
      spans(id) = Span(id, parent, currentOp, name, t0, t1, after - before,
        if (ratios.isEmpty) 1.0 else ratios.max)
    }
  }

  /** Leaf spans (no children): their counters do not overlap. */
  def leaves: Seq[Span] = {
    val parents = spans.map(_.parent).toSet
    spans.toSeq.filter(s => !parents.contains(s.id))
  }

  def json: String = spans.map { s =>
    val label = if (s.op >= 0 && s.op < opLabels.size) opLabels(s.op) else ""
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"op_label":${Json.str(label)},""" +
      s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
      s""""jobs":${s.c.jobs},"stages":${s.c.stages},"tasks":${s.c.tasks},"task_ms":${s.c.taskMs},""" +
      s""""gc_ms":${s.c.gcMs},"shuffle_read_bytes":${s.c.shuffleRead},""" +
      s""""shuffle_write_bytes":${s.c.shuffleWrite},"spill_bytes":${s.c.spill},""" +
      s""""plan_ms":${s.c.planMs},"max_task_over_median":${s.skew}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
