package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Deterministic Upbit-shaped fixtures (FIXTURES.md §A) exercising the
  * recomposed reference pipelines end-to-end from the wire envelope.
  */
class PipelinesSpec extends SparkSpec {

  private val codes = Seq("KRW-BTC", "KRW-ETH", "KRW-SOL")

  /** JSON wire rows for n trades per code, ~250 ms apart, prices
    * walking deterministically; interleaved orderbook snapshots.
    */
  private def tradeWire(n: Int): DataFrame = {
    import spark.implicits._
    val rows = for {
      (c, ci) <- codes.zipWithIndex
      i <- 0 until n
    } yield {
      val ts = 1704067200000L + i * 250L + ci
      val price = 1000.0 + ci * 500 + (i * 37 % 100)
      val vol = 0.1 + (i % 7) * 0.05
      tradeJson(c, ts, price, vol, if (i % 3 == 0) "ASK" else "BID", ts * 10 + ci)
    }
    rows.toDF("value")
  }

  private def tradeJson(c: String, ts: Long, price: Double, vol: Double, side: String,
                        seq: Long): String =
    s"""{"type":"trade","code":"$c","timestamp":$ts,"trade_date":"2024-01-01",""" +
      s""""trade_time":"00:00:00","trade_timestamp":$ts,"trade_price":$price,""" +
      s""""trade_volume":$vol,"ask_bid":"$side","prev_closing_price":1000.0,""" +
      s""""change":"RISE","change_price":1.0,"sequential_id":$seq,""" +
      s""""stream_type":"REALTIME","arrive_time":${ts / 1000.0 + 0.05}}"""

  private def orderbookWire(n: Int): DataFrame = {
    import spark.implicits._
    val rows = for {
      (c, ci) <- codes.zipWithIndex
      i <- 0 until n
    } yield bookJson(c, 1704067200100L + i * 500L + ci, 999.0 + ci * 500 + (i % 50), i)
    rows.toDF("value")
  }

  private def bookJson(c: String, ts: Long, bid: Double, i: Int): String = {
    val units = (0 until 5).map { l =>
      s"""{"ask_price":${bid + 1 + l},"bid_price":${bid - l},"ask_size":${1.0 + l},"bid_size":${2.0 + (i + l) % 3}}"""
    }.mkString("[", ",", "]")
    s"""{"type":"orderbook","code":"$c","timestamp":$ts,"total_ask_size":15.0,""" +
      s""""total_bid_size":12.0,"orderbook_units":$units,"stream_type":"REALTIME",""" +
      s""""level":0,"arrive_time":${ts / 1000.0 + 0.04}}"""
  }

  test("rawIngest round-trips the trade envelope losslessly") {
    val wire = tradeWire(20)
    val out = Pipelines.rawIngest(wire, "upbit_trade", Some("2024-01-01"))
    assert(out.count() === 60)
    assert(out.columns.contains("processing_date"))
    // re-wrap and re-parse: stable fixpoint
    val again = Pipelines.rawIngest(
      graft.ops.Envelope.wrap(out.drop("processing_date")), "upbit_trade", Some("2024-01-01"))
    assert(out.orderBy("code", "timestamp").collect().toSeq ===
      again.orderBy("code", "timestamp").collect().toSeq)
    assert(out.filter(col("trade_price").isNull).count() === 0)
  }

  test("unknown topic is rejected") {
    intercept[IllegalArgumentException] {
      Pipelines.rawIngest(tradeWire(1), "nope")
    }
  }

  test("druidFeatures emits 10s candles per code with trade-volume sums and latency mean") {
    val out = Pipelines.druidFeatures(tradeWire(80)) // 80 trades over 20 s
    val parsed = graft.ops.Envelope.parse(out,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("code", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_events", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("volume", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("side_volume", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("avg_latency", org.apache.spark.sql.types.DoubleType))))
    val rows = parsed.collect()
    assert(rows.length === codes.length * 2) // 20 s of data → two 10 s windows × 3 codes
    assert(rows.forall(r => r.getAs[Double]("side_volume") <= r.getAs[Double]("volume")))
    // volumes sum trade_volume (≤ 0.4 per trade), not prices (≥ 1000)
    assert(rows.forall(r => r.getAs[Double]("volume") < r.getAs[Long]("n_events") * 0.5))
    // fixture stamps arrive_time = ts + 50 ms
    assert(rows.forall(r => math.abs(r.getAs[Double]("avg_latency") - 0.05) < 1e-9))
  }

  test("dailyDollarBars: bars join their latest in-lookback orderbook") {
    val trades = graft.ops.Envelope.parse(
      graft.ops.Envelope.bytesToString(tradeWire(40)), graft.schema.UpbitSchemas.trade)
    val obs = graft.ops.Envelope.parse(
      graft.ops.Envelope.bytesToString(orderbookWire(15)), graft.schema.UpbitSchemas.orderbook)
    val out = Pipelines.dailyDollarBars(trades, obs, 500.0, "2024-01-01").cache()
    assert(out.count() > 0)
    assert(out.select("code").distinct().count() === 3)
    // as-of contract: attached orderbook is never newer than the bar end
    assert(out.filter(col("ob_ts") > col("end_ts")).count() === 0)
    assert(out.filter(col("ob_ts").isNotNull &&
      col("ob_ts") < col("end_ts") - expr("INTERVAL 10 SECONDS")).count() === 0)
    // bars are contiguous per code from 0
    val bads = out.groupBy("code").agg(min("bar_num").as("mn")).filter(col("mn") =!= 0)
    assert(bads.count() === 0)

    // known answers: one 1 000 KRW trade per bar, 100 s apart, and
    // books placed on the edges of each bar's 10 s lookback
    import spark.implicits._
    val t0 = 1704067200000L
    val ends = (1 to 4).map(i => t0 + i * 100000L)
    val tradeRows = ends.map(ts => tradeJson("KRW-BTC", ts, 1000.0, 1.0, "BID", ts)) ++
      ends.take(2).map(ts => tradeJson("KRW-ETH", ts, 1000.0, 1.0, "BID", ts + 1))
    val books = Seq(
      ends(0) -> 1.0,            // exactly at end_ts: matches
      ends(1) - 10000L -> 2.0,   // exactly 10 s earlier: matches
      ends(2) - 10001L -> 3.0,   // 10 s + 1 ms earlier: no match
      ends(3) - 9000L -> 4.0,    // in band, older
      ends(3) - 1000L -> 5.0)    // in band, newer: wins
    val known = Pipelines.dailyDollarBars(
      graft.ops.Envelope.parse(tradeRows.toDF("value"), graft.schema.UpbitSchemas.trade),
      graft.ops.Envelope.parse(books.map { case (ts, bid) => bookJson("KRW-BTC", ts, bid, 0) }
        .toDF("value"), graft.schema.UpbitSchemas.orderbook),
      1000.0, "2024-01-01")
      .orderBy("code", "bar_num").collect()
    def opt[T](r: org.apache.spark.sql.Row, c: String) =
      if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[T](c))
    val btc = known.filter(_.getAs[String]("code") == "KRW-BTC")
    assert(btc.map(r => opt[Double](r, "best_bid")).toSeq ===
      Seq(Some(1.0), Some(2.0), None, Some(5.0)))
    assert(btc.map(r => opt[java.sql.Timestamp](r, "ob_ts").map(_.getTime)).toSeq ===
      Seq(Some(ends(0)), Some(ends(1) - 10000L), None, Some(ends(3) - 1000L)))
    // a code with no books keeps its bars, with null book columns
    val eth = known.filter(_.getAs[String]("code") == "KRW-ETH")
    assert(eth.length === 2)
    Seq("ob_ts", "best_ask", "best_bid", "total_ask_size", "total_bid_size").foreach { c =>
      assert(eth.forall(_.isNullAt(eth.head.fieldIndex(c))), c)
    }
  }

  test("realtimeObi sliding stats are keyed per code; ratio OBI and latency present") {
    val out = Pipelines.realtimeObi(orderbookWire(30))
    assert(out.count() > 0)
    // reference OBI = bid_size / ask_size: strictly positive here
    assert(out.filter(col("mean_obi") <= 0).count() === 0)
    // normalized extension stays bounded
    assert(out.filter(col("mean_obi_norm") > 1 || col("mean_obi_norm") < -1).count() === 0)
    assert(out.filter(col("last_best_ask") <= col("last_best_bid")).count() === 0)
    // fixture stamps arrive_time = ts + 40 ms (epoch-scale double
    // rounding leaves ~1e-7 noise on the subtraction)
    assert(out.filter(abs(col("mean_time_diff") - 0.04) > 1e-4).count() === 0)
  }

  test("realtimeBookOfi lags each window's best book with the reference sign logic") {
    val out = Pipelines.realtimeBookOfi(orderbookWire(30)).cache()
    assert(out.count() > 0)
    // first window per code has no previous book
    val firsts = out.groupBy("code").agg(min("window_start").as("w0"))
    val j = out.join(firsts, out("code") === firsts("code") &&
      out("window_start") === firsts("w0"))
    assert(j.filter(col("ofi").isNotNull).count() === 0)
    assert(out.filter(col("ofi").isNotNull).count() > 0)
  }
}
