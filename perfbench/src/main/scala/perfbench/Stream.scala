package perfbench

import java.io.{ByteArrayOutputStream, File}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.ops.Envelope
import graft.pipelines.Pipelines
import graft.schema.UpbitSchemas
import graft.stream.StatefulFeatures

/** `upbit_stream`: the 10 s feature stream
  * (`kafka_to_kafka_by_spark_for_druid.py`) as a closed loop with one
  * producer. Two queries read the topic logs through
  * `readStream.format("graft.sources.OffsetFileSource")`:
  * Pipelines.druidFeatures (watermarked 10 s candles) on the trade
  * topic and StatefulFeatures.book (two-sided OFI) on the order-book
  * topic. One operation is one trigger: the producer appends one
  * trigger's records to both logs, then waits until both queries have
  * processed everything; the latency runs from the end of the append
  * to that point. Event time advances by [[SpanMs]] per trigger, so
  * windows close and state is evicted.
  *
  * Both queries start on empty logs and run for the whole run, so the
  * logs grow from trigger to trigger; the run attempts whole rounds of
  * [[RoundTriggers]] triggers.
  */
final class Stream(spark: SparkSession, dir: File, seed: Long, trace: Trace) {
  import Stream._

  private val rnd = new SplittableRandom(seed)
  private val codes = Gen.manyCodes(Codes, rnd)
  private val walk = new Gen.Walk(codes)
  private val batches = ArrayBuffer.empty[(Vector[String], Vector[String])]

  /** Trigger `k`'s trade lines and order-book lines, generated in
    * trigger order from the seed.
    */
  private def batch(k: Int): (Vector[String], Vector[String]) = {
    while (batches.size <= k) {
      val from = T0 + batches.size * SpanMs
      val trades = Gen.times(from, SpanMs, TradesPerTrigger, rnd).toVector
        .map(ts => Gen.trade(codes, walk, rnd.nextInt(Codes), ts, rnd))
      val order = (0 until Codes).toArray
      for (i <- order.indices.reverse) {
        val j = rnd.nextInt(i + 1)
        val t = order(i); order(i) = order(j); order(j) = t
      }
      val books = Gen.times(from, SpanMs, Codes, rnd).toVector.zip(order)
        .map { case (ts, i) => Gen.book(codes, walk, i, ts, rnd) }
      batches += ((trades, books))
    }
    batches(k)
  }

  /** A topic log that grows by whole records: each append rewrites the
    * file beside it and renames it into place, so a concurrent
    * `latestOffset` never counts a half-written line.
    */
  private final class Log(topicDir: File) {
    topicDir.mkdirs()
    private val file = new File(topicDir, "p0.jsonl")
    private val tmp = new File(topicDir, ".p0.jsonl.tmp")
    private val content = new ByteArrayOutputStream()
    Files.write(file.toPath, Array.emptyByteArray)
    def append(lines: Seq[String]): Unit = {
      content.write(lines.mkString("", "\n", "\n").getBytes(UTF_8))
      Files.write(tmp.toPath, content.toByteArray)
      Files.move(tmp.toPath, file.toPath, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
    def path: String = file.getPath
  }

  private def source(path: File, topic: String): DataFrame =
    spark.readStream.format("graft.sources.OffsetFileSource")
      .option("path", path.getPath).option("topic", topic).load()

  /** Order-book wire → the ticks StatefulFeatures.book keys on: the key
    * is the number in the generated code, the prices and sizes those of
    * the best level.
    */
  private def bookTicks(wire: DataFrame): DataFrame =
    Envelope.parse(Envelope.bytesToString(wire), UpbitSchemas.orderbook)
      .select(substring(col("code"), 6, 4).cast("long").as("key"),
        (col("timestamp") * 1000L).as("tsUs"),
        col("orderbook_units").getItem(0).getField("bid_price").as("bidPrice"),
        col("orderbook_units").getItem(0).getField("bid_size").as("bidSize"),
        col("orderbook_units").getItem(0).getField("ask_price").as("askPrice"),
        col("orderbook_units").getItem(0).getField("ask_size").as("askSize"))

  private val tradeLog = new Log(new File(dir, "upbit_trade"))
  private val bookLog = new Log(new File(dir, "upbit_orderbook"))
  /** What the independent check needs, once the run has ended. */
  var checkJson: String = "{}"

  def run(seconds: Double): Outcome = {
    val log = new OpLog
    val cp = new File(dir, "checkpoints")
    val candles = Pipelines.druidFeatures(source(new File(dir, "upbit_trade"), "upbit_trade"),
        Some(Watermark))
      .writeStream.format("memory").queryName("candles").outputMode("append")
      .option("checkpointLocation", new File(cp, "candles").getPath).start()
    val ofi = StatefulFeatures.book(bookTicks(source(new File(dir, "upbit_orderbook"),
        "upbit_orderbook")))
      .writeStream.format("memory").queryName("ofi").outputMode("append")
      .option("checkpointLocation", new File(cp, "ofi").getPath).start()
    val timedOps = ArrayBuffer.empty[Int]
    val perOp = ArrayBuffer.empty[(Int, Seq[StreamingQueryProgress], Double)]
    var seen = 0
    var k = 0
    var ok = true
    /** Whole rounds of [[RoundTriggers]] triggers; after a failed trigger
      * the round's remaining triggers count as failed.
      */
    def round(timed: Boolean): Unit = {
      val end = k + RoundTriggers
      while (ok && k < end) {
        val (trades, books) = batch(k)
        val i = log.attempted
        trace.op(i, s"trigger$k") {
          trace.span("stream.append") {
            tradeLog.append(trades)
            bookLog.append(books)
          }
          ok = log.run(timed)(trace.span("stream.trigger") {
            candles.processAllAvailable()
            ofi.processAllAvailable()
          })
        }
        trace match {
          case t: On =>
            val all = t.progressSoFar()
            if (timed) {
              // the envelope parse of this trigger's records, alone, in batch
              val parseMs = parseAlone(t, trades, UpbitSchemas.trade) +
                parseAlone(t, books, UpbitSchemas.orderbook)
              perOp += ((i, all.drop(seen), parseMs))
            }
            seen = all.size
          case _ =>
        }
        if (timed) {
          timedOps += i
          log.sampleHeap()
        }
        k += 1
      }
      if (!ok) { log.skipped(end - k); k = end }
    }
    try {
      (0 until WarmRounds).foreach(_ => round(timed = false))
      Rounds.timed(seconds, log)(round(timed = true))
    } finally {
      candles.stop()
      ofi.stop()
    }
    val layers = trace match {
      case t: On => streamLayers(t, timedOps.toSeq, perOp.toSeq)
      case _ => Map.empty[String, Double]
    }
    writeCheck(candles)
    Outcome(log, RoundTriggers.toLong * (TradesPerTrigger + Codes), layers)
  }

  private def parseAlone(t: On, lines: Seq[String], schema: org.apache.spark.sql.types.StructType): Double = {
    import spark.implicits._
    val wire = lines.map(_.getBytes(UTF_8)).toDF("value")
    val before = t.spans.size
    t.span("envelope.parse")(Envelope.parse(Envelope.bytesToString(wire), schema)
      .write.format("noop").mode("overwrite").save())
    t.spans(before).ms
  }

  private def streamLayers(t: On, ops: Seq[Int],
                           perOp: Seq[(Int, Seq[StreamingQueryProgress], Double)]): Map[String, Double] = {
    val progressOf = perOp.map { case (i, p, _) => i -> p }.toMap
    def med(f: Seq[StreamingQueryProgress] => Double): Double =
      Stats.median(ops.map(i => f(progressOf.getOrElse(i, Nil))))
    def phase(name: String)(ps: Seq[StreamingQueryProgress]): Double =
      ps.map(p => Option(p.durationMs.get(name)).map(_.toDouble).getOrElse(0.0)).sum
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double)(
        ps: Seq[StreamingQueryProgress]): Double =
      ps.flatMap(_.stateOperators.toSeq).map(f).sum
    /** Value of the last report of each query in the op, summed. */
    def lastState(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double)(
        ps: Seq[StreamingQueryProgress]): Double =
      ps.groupBy(_.id).values.map(q => q.last.stateOperators.map(f).sum).sum
    val q = math.max(ops.size / 4, 1)
    def quarter(part: Seq[Int]): Double =
      Stats.median(part.map(i => phase("latestOffset")(progressOf.getOrElse(i, Nil))))
    val ly = new Layers(t, ops, Main.Cores, _.name == "stream.trigger")
    ly.common ++ Phases.map(p => s"stream.${p}_ms" -> med(phase(p))) ++ Map(
      "stream.input_rows" -> med(_.map(_.numInputRows.toDouble).sum),
      "sources.latestOffset_q1_ms" -> quarter(ops.take(q)),
      "sources.latestOffset_q4_ms" -> quarter(ops.takeRight(q)),
      "envelope.parse_ms" -> Stats.median(perOp.map(_._3)),
      "state.rows_total" -> med(lastState(_.numRowsTotal.toDouble)),
      "state.memory_bytes" -> med(lastState(_.memoryUsedBytes.toDouble)),
      "state.rows_updated" -> med(state(_.numRowsUpdated.toDouble)),
      "state.commit_ms" -> med(state(_.commitTimeMs.toDouble)),
      "state.update_ms" -> med(state(_.allUpdatesTimeMs.toDouble)),
      "state.removal_ms" -> med(state(_.allRemovalsTimeMs.toDouble)),
      "state.rows_dropped_by_watermark" -> med(state(_.numRowsDroppedByWatermark.toDouble)))
  }

  /** The sinks' contents and the logs, for the independent check. */
  private def writeCheck(candles: StreamingQuery): Unit = {
    val out = new File(dir, "check")
    spark.table("candles").coalesce(1).write.mode("overwrite").parquet(new File(out, "candles").getPath)
    spark.table("ofi").coalesce(1).write.mode("overwrite").parquet(new File(out, "ofi").getPath)
    val wm = Option(candles.lastProgress).flatMap(p => Option(p.eventTime.get("watermark")))
      .map(s => java.time.Instant.parse(s).toEpochMilli).getOrElse(0L)
    checkJson = Json.obj(Seq(
      "trade_log" -> Json.str(tradeLog.path),
      "book_log" -> Json.str(bookLog.path),
      "candles" -> Json.str(new File(out, "candles").getPath),
      "ofi" -> Json.str(new File(out, "ofi").getPath),
      "watermark_ms" -> wm.toString))
  }
}

object Stream {
  /** Generated codes: the size of the Upbit KRW list. */
  val Codes = 240
  val TradesPerTrigger = 480
  /** Event time covered by one trigger's records. */
  val SpanMs = 2000L
  /** Triggers per round, and untimed warm-up rounds. */
  val RoundTriggers = 4
  val WarmRounds = 1
  /** The reference's watermark (`kafka_to_kafka_by_spark_for_druid.py:99`). */
  val Watermark = "10 seconds"
  val T0 = 1722816000000L
  val Phases: Seq[String] = Seq("addBatch", "commitOffsets", "getBatch", "latestOffset",
    "queryPlanning", "triggerExecution", "walCommit")
  val LayerMetrics: Seq[String] = Phases.map(p => s"stream.${p}_ms") ++ Seq("stream.input_rows",
    "sources.latestOffset_q1_ms", "sources.latestOffset_q4_ms", "envelope.parse_ms",
    "state.rows_total", "state.memory_bytes", "state.rows_updated", "state.commit_ms",
    "state.update_ms", "state.removal_ms", "state.rows_dropped_by_watermark")
}
