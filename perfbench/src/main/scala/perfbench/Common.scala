package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.util.Try

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}

/** Every operation of a run: attempted, failed, and the latency of each
  * one that succeeded. A failed operation is counted and its error
  * kept; it is never timed as a success.
  */
final class OpLog {
  val latenciesMs: ArrayBuffer[Double] = ArrayBuffer.empty
  val errors: ArrayBuffer[String] = ArrayBuffer.empty
  /** Summed latency of each whole timed round's operations. */
  val roundsMs: ArrayBuffer[Double] = ArrayBuffer.empty
  private var roundStart = 0
  var attempted = 0
  var failed = 0
  /** Wall-clock time (epoch ms) when the first timed operation began. */
  var firstTimedEpochMs = 0L
  /** Heap in use after a full collection, one sample per timed operation. */
  val liveHeapMb: ArrayBuffer[Double] = ArrayBuffer.empty

  /** Runs one operation; `timed` operations add their latency. */
  def run(timed: Boolean)(body: => Unit): Boolean = {
    if (timed && firstTimedEpochMs == 0L) firstTimedEpochMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val outcome = Try(body)
    if (timed && outcome.isSuccess) latenciesMs += (System.nanoTime() - t0) / 1e6
    record(outcome)
  }

  /** Counts an untimed operation that has already run. */
  def record(outcome: Try[Unit]): Boolean = {
    attempted += 1
    outcome.failed.foreach { e =>
      failed += 1
      errors += s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(400)}"
    }
    outcome.isSuccess
  }

  /** Counts `n` operations that could not be attempted because an
    * earlier one in the same round failed.
    */
  def skipped(n: Int): Unit = { attempted += n; failed += n }

  /** Collects the heap fully and keeps the size that is left. */
  def sampleHeap(): Unit = {
    System.gc()
    liveHeapMb += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def endRound(): Unit = {
    roundsMs += latenciesMs.drop(roundStart).sum
    roundStart = latenciesMs.size
  }
}

object Rounds {
  /** Runs whole rounds until `seconds` have passed (at least one). A
    * failed operation ends the timed part: its round is not counted,
    * and the run is reported as failed.
    */
  def timed(seconds: Double, log: OpLog)(round: => Unit): Unit = {
    val t0 = System.nanoTime()
    var first = true
    while (log.failed == 0 && (first || (System.nanoTime() - t0) / 1e9 < seconds)) {
      round
      if (log.failed == 0) log.endRound()
      first = false
    }
  }
}

/** What a workload hands back: its operation log, the records one
  * timed round processes and, when traced, its per-layer metrics.
  */
final case class Outcome(log: OpLog, recordsPerRound: Long, layers: Map[String, Double])
