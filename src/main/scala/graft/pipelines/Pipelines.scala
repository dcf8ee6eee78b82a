package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

import graft.ops.{AsOfJoin, Candles, DollarBars, Envelope}
import graft.schema.UpbitSchemas

/** The reference's five jobs recomposed from graft.ops stages
  * (SURVEY.md §7.1 "pipelines"). Each is a pure
  * DataFrame ⇒ DataFrame program: sources/sinks stay at the caller
  * (batch read, streaming MemoryStream, or a real Kafka source in
  * production) so the identical plan body serves all three — the
  * engine's answer to the reference duplicating parse/schema logic
  * across six files.
  */
object Pipelines {

  /** `kafka_to_gcs_by_spark_streaming` / `…_batch` /
    * `save_raw_data_from_kafka_to_gcs`: wire envelope → explicit
    * schema → flatten → processing_date enrichment, ready for a
    * Hive-partitioned `(processing_date, code)` file sink.
    */
  def rawIngest(wire: DataFrame, topic: String,
                processingDate: Option[String] = None): DataFrame = {
    val parsed = Envelope.parse(Envelope.bytesToString(wire), UpbitSchemas.forTopic(topic))
    processingDate match {
      case Some(d) => parsed.withColumn("processing_date", to_date(lit(d)))
      case None    => parsed.withColumn("processing_date", current_date())
    }
  }

  /** `kafka_to_kafka_by_spark_for_druid`: trade stream → server
    * event-time + collection-latency enrichment → 10 s tumbling
    * candles (OHLC on trade_price; total/ask volumes summing
    * trade_volume, `kafka_to_kafka_by_spark_for_druid.py:119-129`;
    * per-candle `mean(time_diff)` collection latency `:107,131`) →
    * JSON envelope out.
    */
  def druidFeatures(tradeWire: DataFrame, watermark: Option[String] = None): DataFrame = {
    val parsed = Envelope.parse(Envelope.bytesToString(tradeWire), UpbitSchemas.trade)
      .withColumn("server_datetime", timestamp_millis(col("timestamp")))
      .withColumn("time_diff", col("arrive_time") - col("timestamp") / 1000.0)
    val timed = watermark.fold(parsed)(parsed.withWatermark("server_datetime", _))
    Envelope.wrap(Candles.tumbling(timed, "server_datetime", "code", "trade_price",
      "ask_bid", "ASK", "10 seconds", volCol = "trade_volume",
      latencyCol = Some("time_diff")))
  }

  /** `processing_raw_data_from_gcs` — the flagship daily batch: trades
    * → dollar bars → as-of join of the latest orderbook snapshot
    * within a 10 s lookback → processing_date stamp.
    */
  def dailyDollarBars(trades: DataFrame, orderbooks: DataFrame,
                      dollarBarSize: Double, processingDate: String): DataFrame = {
    val priced = trades.select(col("code"), timestamp_millis(col("timestamp")).as("ts"),
      col("trade_price"),
      (col("trade_price").cast(DecimalType(28, 8)) * col("trade_volume").cast(DecimalType(18, 8)))
        .cast(DecimalType(38, 8)).as("trade_dollar"))
    val bars = DollarBars.bars(priced, "code", "ts", "trade_price", "trade_dollar", dollarBarSize)
    val ob = orderbooks.select(col("code"),
      timestamp_millis(col("timestamp")).as("ob_ts"),
      col("orderbook_units").getItem(0).getField("ask_price").as("best_ask"),
      col("orderbook_units").getItem(0).getField("bid_price").as("best_bid"),
      col("total_ask_size"), col("total_bid_size"))
    AsOfJoin.joined(bars, ob, "code", "end_ts", "ob_ts",
      expr("INTERVAL 10 SECONDS"))
      .withColumn("processing_date", to_date(lit(processingDate)))
  }

  /** `kafka_upbit_realtime_processing` (legal form): orderbook stream
    * → 10-min/15-s sliding stats over the best-level order-book
    * imbalance; EWMA/OFI run in graft.stream.StatefulFeatures (the
    * reference's window-function-on-stream version cannot run).
    */
  def realtimeObi(orderbookWire: DataFrame, watermark: Option[String] = None): DataFrame = {
    val parsed = Envelope.parse(Envelope.bytesToString(orderbookWire), UpbitSchemas.orderbook)
      .withColumn("server_datetime", timestamp_millis(col("timestamp")))
      .withColumn("time_diff", col("arrive_time") - col("timestamp") / 1000.0)
      .withColumn("best", col("orderbook_units").getItem(0))
      // reference OBI is the raw ratio bid_size / ask_size
      // (kafka_upbit_realtime_processing.py:95-97)
      .withColumn("obi", col("best.bid_size") / col("best.ask_size"))
      // bounded [-1, 1] variant — an engine extension, NOT reference
      .withColumn("obi_norm",
        (col("best.bid_size") - col("best.ask_size")) /
          (col("best.bid_size") + col("best.ask_size")))
    val timed = watermark.fold(parsed)(parsed.withWatermark("server_datetime", _))
    timed
      .groupBy(window(col("server_datetime"), "10 minutes", "15 seconds"), col("code"))
      .agg(
        avg(col("obi")).as("mean_obi"),
        avg(col("obi_norm")).as("mean_obi_norm"),
        min_by(col("obi"), col("timestamp")).as("first_obi"),
        max_by(col("obi"), col("timestamp")).as("last_obi"),
        max_by(col("best.ask_price"), col("timestamp")).as("last_best_ask"),
        max_by(col("best.bid_price"), col("timestamp")).as("last_best_bid"),
        max_by(col("best.ask_size"), col("timestamp")).as("last_best_ask_size"),
        max_by(col("best.bid_size"), col("timestamp")).as("last_best_bid_size"),
        avg(col("time_diff")).as("mean_time_diff"),
        count(lit(1)).as("n_snapshots"))
      .select(col("window.start").as("window_start"), col("window.end").as("window_end"),
        col("code"), col("mean_obi"), col("mean_obi_norm"), col("first_obi"),
        col("last_obi"), col("last_best_ask"), col("last_best_bid"),
        col("last_best_ask_size"), col("last_best_bid_size"),
        col("mean_time_diff"), col("n_snapshots"))
  }

  /** Batch composition of the realtime job's OFI stage: the reference
    * lags each window's last best book and applies the two-sided sign
    * logic (`kafka_upbit_realtime_processing.py:121-128`). Window
    * functions are illegal on streams — on a stream this lives in
    * graft.stream.StatefulFeatures.book; in batch it composes
    * directly over [[realtimeObi]]'s windowed aggregate.
    */
  def realtimeBookOfi(orderbookWire: DataFrame): DataFrame =
    graft.ops.Ofi.withBookOfi(realtimeObi(orderbookWire), "code",
      Seq("window_start"), "last_best_bid", "last_best_bid_size",
      "last_best_ask", "last_best_ask_size", "ofi")
}
