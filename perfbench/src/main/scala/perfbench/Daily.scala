package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ingest.OffsetLookup
import graft.ops.{AsOfJoin, DollarBars}
import graft.pipelines.Pipelines

/** `upbit_daily`: the reference's hourly-ingest-to-daily-analytics path
  * (`processing_raw_data_from_gcs.py`), replayed one day per operation
  * over topic logs holding several days of the three reference codes,
  * one partition per topic.
  *
  * One operation, per topic: offsets for the day (OffsetLookup.window),
  * bounded OffsetFileSource read, Pipelines.rawIngest, parquet write
  * partitioned by (processing_date, code); then a partition-pruned
  * read-back of both topics, Pipelines.dailyDollarBars and the result
  * write. A round is every day once.
  */
final class Daily(spark: SparkSession, dir: File, seed: Long, trace: Trace) {
  import Daily._

  private val topicDir = new File(dir, "topics")
  private val rawDir = new File(dir, "raw")
  private val barsDir = new File(dir, "bars")

  private val index: OffsetLookup.OffsetIndex = {
    val rnd = new SplittableRandom(seed)
    val walk = new Gen.Walk(Gen.UpbitCodes)
    def log(topic: String, perDay: Int)(line: (Int, Long) => String): Seq[(Long, Long)] = {
      val d = new File(topicDir, topic)
      d.mkdirs()
      val out = new BufferedWriter(new OutputStreamWriter(
        new FileOutputStream(new File(d, "p0.jsonl")), UTF_8), 1 << 20)
      val offsets = ArrayBuffer.empty[(Long, Long)]
      try (0 until Days).foreach { day =>
        Gen.times(Day0 + day * DayMs, DayMs, perDay, rnd).foreach { ts =>
          out.write(line(rnd.nextInt(Gen.UpbitCodes.size), ts))
          out.write('\n')
          offsets += (offsets.size.toLong -> ts)
        }
      } finally out.close()
      offsets.toVector
    }
    val trades = log(Trade, TradesPerDay)((i, ts) => Gen.trade(Gen.UpbitCodes, walk, i, ts, rnd))
    val books = log(Book, BooksPerDay)((i, ts) => Gen.book(Gen.UpbitCodes, walk, i, ts, rnd))
    new OffsetLookup.SeqIndex(Map((Trade, 0) -> trades, (Book, 0) -> books))
  }

  private def wire(topic: String, starting: String, ending: String): DataFrame =
    spark.read.format("graft.sources.OffsetFileSource")
      .option("path", new File(topicDir, topic).getPath)
      .option("topic", topic)
      .option("startingOffsets", starting)
      .option("endingOffsets", ending)
      .load()

  private def writeRaw(df: DataFrame, topic: String, raw: File = rawDir): Unit =
    df.write.mode("overwrite").partitionBy("processing_date", "code")
      .parquet(new File(raw, topic).getPath)

  private def readBack(topic: String, day: String, raw: File = rawDir): DataFrame =
    spark.read.parquet(new File(raw, topic).getPath)
      .where(col("processing_date") === to_date(lit(day)))

  private def writeBars(df: DataFrame, day: String, bars: File = barsDir): Unit =
    df.write.mode("overwrite").parquet(new File(bars, day).getPath)

  private def window(topic: String, d: Int, trace: Trace = trace): (String, String) =
    trace.span("ingest.window") {
      OffsetLookup.window(index, topic, Day0 + d * DayMs, Day0 + (d + 1) * DayMs)
    }

  /** The day as the reference's job runs it, writing under `base`. */
  private def op(d: Int, base: File = dir, trace: Trace = trace): Unit = {
    val day = dayString(d)
    val raw = new File(base, "raw")
    Seq(Trade, Book).foreach { topic =>
      val (s, e) = window(topic, d, trace)
      writeRaw(Pipelines.rawIngest(wire(topic, s, e), topic, Some(day)), topic, raw)
    }
    writeBars(Pipelines.dailyDollarBars(readBack(Trade, day, raw), readBack(Book, day, raw),
      BarSize, day), day, new File(base, "bars"))
  }

  /** The same day with every layer timed on its own materialised input.
    * The two projections below copy the ones inside
    * Pipelines.dailyDollarBars, so that DollarBars and AsOfJoin can be
    * timed apart from each other; the day fails unless the copy's
    * result equals the program's on the same inputs.
    */
  private def tracedOp(d: Int, layerBytes: ArrayBuffer[(Int, Long, Long)], opIndex: Int): Unit = {
    val day = dayString(d)
    def l(name: String)(build: => DataFrame) = Layers.layer(trace, name)(build)
    Seq(Trade, Book).foreach { topic =>
      val (s, e) = window(topic, d)
      val w = l("sources.read")(wire(topic, s, e))
      val parsed = l("envelope.parse")(Pipelines.rawIngest(w, topic, Some(day)))
      trace.span("pipelines.rawIngest.write")(writeRaw(parsed, topic))
      val written = new File(new File(rawDir, topic), s"processing_date=$day")
        .listFiles().toSeq.flatMap(_.listFiles().toSeq).filter(_.getName.endsWith(".parquet"))
      layerBytes += ((opIndex, written.map(_.length).sum, written.size.toLong))
      Seq(w, parsed).foreach(_.unpersist())
    }
    val trades = l("pipelines.readBack")(readBack(Trade, day))
    val books = l("pipelines.readBack")(readBack(Book, day))
    val priced = trades.select(col("code"), timestamp_millis(col("timestamp")).as("ts"),
        col("trade_price"),
        (col("trade_price").cast(DecimalType(28, 8)) * col("trade_volume").cast(DecimalType(18, 8)))
          .cast(DecimalType(38, 8)).as("trade_dollar")).persist()
    priced.count()
    val bars = l("ops.DollarBars")(
      DollarBars.bars(priced, "code", "ts", "trade_price", "trade_dollar", BarSize))
    val ob = books.select(col("code"), timestamp_millis(col("timestamp")).as("ob_ts"),
        col("orderbook_units").getItem(0).getField("ask_price").as("best_ask"),
        col("orderbook_units").getItem(0).getField("bid_price").as("best_bid"),
        col("total_ask_size"), col("total_bid_size")).persist()
    ob.count()
    val copy = l("ops.AsOfJoin")(AsOfJoin.joined(bars, ob, "code", "end_ts", "ob_ts",
      expr("INTERVAL 10 SECONDS"), Seq("code", "bar_num")))
    val result = trace.span("pipelines.dailyDollarBars.build")(
      Pipelines.dailyDollarBars(trades, books, BarSize, day))
    trace.span("pipelines.dailyDollarBars.write")(writeBars(result, day))
    val program = result.drop("processing_date")
    require(copy.schema == program.schema && copy.exceptAll(program).isEmpty &&
      program.exceptAll(copy).isEmpty,
      s"$day: the traced copy of Pipelines.dailyDollarBars no longer matches the program")
    spark.catalog.clearCache()
  }

  def run(seconds: Double): Outcome = {
    val log = new OpLog
    val layerBytes = ArrayBuffer.empty[(Int, Long, Long)]
    val timedOps = ArrayBuffer.empty[Int]
    def day(d: Int): Unit = {
      val i = log.attempted
      timedOps += i
      log.run(timed = true)(trace.op(i, dayString(d)) {
        trace match {
          case Trace.Off => op(d)
          case _ => tracedOp(d, layerBytes, i)
        }
      })
      log.sampleHeap()
    }
    // warm-up: untraced days side by side, each under its own directory
    // (a day's first run is mostly single-threaded driver work)
    val warm = (0 until WarmDays).map { d =>
      Future(Try(op(d, new File(dir, s"warm$d"), Trace.Off)))(ExecutionContext.global)
    }
    warm.foreach(f => log.record(Await.result(f, Duration.Inf)))
    System.gc()
    Rounds.timed(seconds, log)((0 until Days).foreach(day))
    val layers = trace match {
      case t: On =>
        val ly = new Layers(t, timedOps.toSeq, Main.Cores, _ => true)
        def bytes(f: ((Int, Long, Long)) => Long) =
          Stats.median(timedOps.toSeq.map(o => layerBytes.filter(_._1 == o).map(f).sum.toDouble))
        ly.common ++ SpanMetrics.map { case (span, metric) => metric -> ly.ms(span) } ++ Map(
          "pipelines.rawIngest.bytes_written" -> bytes(_._2),
          "pipelines.rawIngest.files_written" -> bytes(_._3))
      case _ => Map.empty[String, Double]
    }
    Outcome(log, (TradesPerDay + BooksPerDay).toLong * Days, layers)
  }

  /** What the independent check needs to recompute every day. */
  def checkJson: String = Json.obj(Seq(
    "trade_log" -> Json.str(new File(new File(topicDir, Trade), "p0.jsonl").getPath),
    "book_log" -> Json.str(new File(new File(topicDir, Book), "p0.jsonl").getPath),
    "raw_dir" -> Json.str(rawDir.getPath),
    "bars_dir" -> Json.str(barsDir.getPath),
    "bar_size" -> Json.num(BarSize),
    "days" -> (0 until Days).map(d => Json.obj(Seq(
      "day" -> Json.str(dayString(d)),
      "from_ms" -> (Day0 + d * DayMs).toString,
      "until_ms" -> (Day0 + (d + 1) * DayMs).toString))).mkString("[", ",", "]")))
}

object Daily {
  val Trade = "upbit_trade"
  val Book = "upbit_orderbook"
  val Days = 2
  /** Untimed days before the first timed round. */
  val WarmDays = 2
  val TradesPerDay = 12000
  val BooksPerDay = 6000
  /** Notional per bar in KRW, the reference's dollar-bar size
    * (`dags_spark_submit_bash_process_raw_data_from_gcs.py:40`).
    */
  val BarSize = 3.0e6
  val Day0 = 1722816000000L // 2024-08-05T00:00:00Z
  val DayMs = 86400000L

  /** Span name → per-layer metric name. */
  val SpanMetrics: Seq[(String, String)] = Seq(
    "ingest.window" -> "ingest.window_ms",
    "sources.read" -> "sources.read_ms",
    "envelope.parse" -> "envelope.parse_ms",
    "pipelines.rawIngest.write" -> "pipelines.rawIngest.write_ms",
    "pipelines.readBack" -> "pipelines.readBack_ms",
    "ops.DollarBars" -> "ops.DollarBars.exec_ms",
    "ops.AsOfJoin" -> "ops.AsOfJoin.exec_ms",
    "pipelines.dailyDollarBars.write" -> "pipelines.dailyDollarBars.write_ms")

  val LayerMetrics: Seq[String] = SpanMetrics.map(_._2) ++
    Seq("pipelines.rawIngest.bytes_written", "pipelines.rawIngest.files_written")

  def dayString(d: Int): String =
    java.time.LocalDate.ofEpochDay(Day0 / DayMs + d).toString
}
