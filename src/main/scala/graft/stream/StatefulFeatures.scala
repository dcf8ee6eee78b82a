package graft.stream

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.functions._

/** Streaming EWMA + OFI via `flatMapGroupsWithState` — the legal
  * Spark form of the reference's aspirational
  * `kafka_upbit_realtime_processing.py:99-128`, which applies
  * `lag()`/pandas-EWMA window functions to a *streaming* DataFrame
  * (unsupported — SURVEY.md preamble + T7). Keyed state per
  * instrument holds exactly (ewma, prev_price, prev_size): O(1) per
  * key, no buffering, arbitrarily long streams.
  *
  * Semantics match the batch operators exactly on in-order input
  * (proved in StreamingSpec): EWMA recurrence
  * `e ← α·x + (1−α)·e` (graft.ops.Ewma); [[apply]] carries the
  * single-series Cont-style OFI (graft.ops.Ofi.withOfi — documented
  * deviation), [[book]] the reference's two-sided book form
  * (graft.ops.Ofi.withBookOfi).
  *
  * Scale: state is hash-partitioned by key across executors by the
  * `groupByKey` exchange; per-key state is 3 doubles — state-store
  * size is O(#keys), not O(#events). Event-time ordering within a
  * micro-batch is enforced by sorting each group's batch slice
  * (micro-batches are small; cross-batch order is the stream's
  * arrival contract, same as the reference's Kafka-partition order
  * assumption).
  */
object StatefulFeatures {

  case class Tick(key: Long, tsUs: Long, price: Double, size: Int)
  case class FeatState(ewma: Double, prevPrice: Double, prevSize: Int, hasPrev: Boolean)
  case class FeatOut(key: Long, tsUs: Long, price: Double, ewma: Double, ofi: Option[Int])

  case class BookTick(key: Long, tsUs: Long, bidPrice: Double, bidSize: Double,
                      askPrice: Double, askSize: Double)
  case class BookState(prevBidPrice: Double, prevBidSize: Double,
                       prevAskPrice: Double, prevAskSize: Double, hasPrev: Boolean)
  case class BookOut(key: Long, tsUs: Long, ofi: Option[Double])

  case class CusumTick(key: Long, tsUs: Long, id: Long, zMicro: Long)
  case class CusumState(sp: Long, sm: Long)
  case class CusumOut(key: Long, tsUs: Long, zMicro: Long,
                      sPlus: Long, sMinus: Long, alarm: Boolean)

  /** Streaming two-sided CUSUM ([[graft.ops.Cusum]]'s recursion on a
    * stream): input rows arrive ALREADY standardized to integer
    * micro-σ `zMicro` — in production z is a map-side projection
    * against a broadcast pre-trained reference (the PSI/CCNet
    * train-once-apply-as-constants discipline), so the stateful
    * operator carries exactly TWO longs per key. Page restart on
    * alarm. Closed trajectories are bit-identical to the batch
    * operator across any micro-batch split (CusumStreamSpec) because
    * the recursion is pure integer arithmetic.
    *
    * `tieCol` pins the within-micro-batch total order on tied
    * timestamps (the batch twin's (ts, event_id) order); when the
    * input has no such column the caller asserts tsUs is unique per
    * key — the default `lit(0)` tie then never discriminates.
    */
  def cusum(ticks: DataFrame, slackMicro: Long,
            thresholdMicro: Long, tieCol: Option[String] = None): DataFrame = {
    import ticks.sparkSession.implicits._
    val tie = tieCol.map(c => col(c).cast("long")).getOrElse(lit(0L))
    val typed = ticks.select(col("key").cast("long"),
        col("tsUs").cast("long"), tie.as("id"), col("zMicro").cast("long"))
      .as[CusumTick]
    typed.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, it: Iterator[CusumTick], state: GroupState[CusumState]) => {
          val batch = it.toArray.sortBy(t => (t.tsUs, t.id))
          var st = state.getOption.getOrElse(CusumState(0L, 0L))
          val out = batch.map { t =>
            val sp = math.max(0L, st.sp + t.zMicro - slackMicro)
            val sm = math.max(0L, st.sm - t.zMicro - slackMicro)
            val alarm = sp >= thresholdMicro || sm >= thresholdMicro
            st = if (alarm) CusumState(0L, 0L) else CusumState(sp, sm)
            CusumOut(key, t.tsUs, t.zMicro, sp, sm, alarm)
          }
          state.update(st)
          out.iterator
        })
      .toDF()
  }

  def apply(ticks: DataFrame, alpha: Double): DataFrame = {
    import ticks.sparkSession.implicits._
    val typed = ticks
      .select(col("key").cast("long"), col("tsUs").cast("long"),
        col("price").cast("double"), col("size").cast("int"))
      .as[Tick]
    typed
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, it: Iterator[Tick], state: GroupState[FeatState]) => {
          val (out, st) = featStep(alpha, key, it, state.getOption)
          state.update(st)
          out.iterator
        })
      .toDF()
  }

  /** One key's micro-batch through the EWMA/OFI step, in event-time
    * order, from the stored state (none before the key's first tick):
    * the output rows and the state to store. Shared by [[apply]] and
    * [[FeatProcessor]], so both stateful APIs compute the same rows.
    */
  private def featStep(alpha: Double, key: Long, rows: Iterator[Tick],
                       stored: Option[FeatState]): (Array[FeatOut], FeatState) = {
    var st = stored.getOrElse(FeatState(0.0, 0.0, 0, hasPrev = false))
    val out = rows.toArray.sortBy(_.tsUs).map { t =>
      val e = if (!st.hasPrev) t.price else alpha * t.price + (1 - alpha) * st.ewma
      val ofi = if (!st.hasPrev) None
      else {
        val bid = if (t.price >= st.prevPrice) t.size else -st.prevSize
        val ask = if (t.price <= st.prevPrice) t.size else -st.prevSize
        Some(bid - ask)
      }
      st = FeatState(e, t.price, t.size, hasPrev = true)
      FeatOut(key, t.tsUs, t.price, e, ofi)
    }
    (out, st)
  }

  /** `transformWithState` form of [[apply]] — Spark 4's successor
    * stateful API (typed `ValueState` handles, per-state TTL, timers).
    * Output and state semantics are identical to the
    * `flatMapGroupsWithState` form (proved in TransformWithStateSpec);
    * what it adds operationally:
    *
    * - **State TTL**: with `ttl` set, a key idle longer than the TTL
    *   has its state evicted by the store itself — on 100 TB-scale
    *   keyspaces (millions of instruments/sessions) this bounds the
    *   state store without hand-rolled timeout bookkeeping.
    * - RocksDB state store required (`spark.sql.streaming.stateStore
    *   .providerClass` → RocksDBStateStoreProvider); TTL additionally
    *   needs `TimeMode.ProcessingTime`.
    */
  class FeatProcessor(alpha: Double, ttl: Option[java.time.Duration])
      extends StatefulProcessor[Long, Tick, FeatOut] {
    @transient private var state: ValueState[FeatState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      val ttlConf = ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE)
      state = getHandle.getValueState[FeatState]("feat", Encoders.product[FeatState], ttlConf)
    }

    override def handleInputRows(key: Long, rows: Iterator[Tick],
                                 timerValues: TimerValues): Iterator[FeatOut] = {
      val (out, st) = featStep(alpha, key, rows,
        if (state.exists()) Some(state.get()) else None)
      state.update(st)
      out.iterator
    }
  }

  /** [[apply]] through `transformWithState` (see [[FeatProcessor]]).
    * `ttl` evicts idle keys' state; it requires processing-time mode.
    */
  def applyTws(ticks: DataFrame, alpha: Double,
               ttl: Option[java.time.Duration] = None): DataFrame = {
    import ticks.sparkSession.implicits._
    val typed = ticks
      .select(col("key").cast("long"), col("tsUs").cast("long"),
        col("price").cast("double"), col("size").cast("int"))
      .as[Tick]
    typed
      .groupByKey(_.key)
      .transformWithState(new FeatProcessor(alpha, ttl),
        if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None(),
        OutputMode.Append())
      .toDF()
  }

  /** Streaming two-sided book OFI — the stateful form of
    * `graft.ops.Ofi.withBookOfi` (reference-exact sign logic,
    * `kafka_upbit_realtime_processing.py:121-128`, incl. the
    * +prev_ask_size ask branch). State per key is the previous best
    * book (4 doubles) — O(#keys) state store, identical to the batch
    * operator on in-order input (StreamingSpec).
    */
  def book(ticks: DataFrame): DataFrame = {
    import ticks.sparkSession.implicits._
    val typed = ticks
      .select(col("key").cast("long"), col("tsUs").cast("long"),
        col("bidPrice").cast("double"), col("bidSize").cast("double"),
        col("askPrice").cast("double"), col("askSize").cast("double"))
      .as[BookTick]
    typed
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, it: Iterator[BookTick], state: GroupState[BookState]) => {
          val batch = it.toArray.sortBy(_.tsUs)
          var st = state.getOption.getOrElse(BookState(0.0, 0.0, 0.0, 0.0, hasPrev = false))
          val out = batch.map { t =>
            val ofi = if (!st.hasPrev) None
            else {
              val bid = if (t.bidPrice >= st.prevBidPrice) t.bidSize else -st.prevBidSize
              val ask = if (t.askPrice <= st.prevAskPrice) t.askSize else st.prevAskSize
              Some(bid - ask)
            }
            st = BookState(t.bidPrice, t.bidSize, t.askPrice, t.askSize, hasPrev = true)
            BookOut(key, t.tsUs, ofi)
          }
          state.update(st)
          out.iterator
        })
      .toDF()
  }

  case class BookUpdate(key: Long, tsUs: Long, side: String, price: Double,
                        size: Double)
  case class BookSides(bids: Map[Double, Double], asks: Map[Double, Double])
  case class BookTop(key: Long, tsUs: Long,
                     bidPrice: Option[Double], bidSize: Option[Double],
                     askPrice: Option[Double], askSize: Option[Double],
                     spread: Option[Double], mid: Option[Double])

  /** L2 order-book replay from INCREMENTAL depth updates — the form
    * real exchange feeds arrive in (the reference consumes only
    * pre-built `orderbook_units` snapshots;
    * `spark_src/kafka_upbit_realtime_processing.py:121-128` reads
    * best-of-book fields that this operator reconstructs). Each
    * update sets a (side, price) level's size — size 0 deletes the
    * level — and emits the resulting top of book (best bid/ask,
    * spread, mid; nulls while a side is empty).
    *
    * State per key is the live price→size map of both sides —
    * bounded by BOOK DEPTH (venue-capped, e.g. Upbit publishes 15
    * levels), not by stream length; keys hash-partition across
    * executors as in the other stateful operators. In-order input
    * per key is the stream's arrival contract (micro-batch slices
    * sorted, as elsewhere); replay from the same updates is
    * deterministic, proved against a naive single-machine replay and
    * across micro-batch splits in BookReplaySpec.
    */
  def bookReplay(updates: DataFrame): DataFrame = {
    import updates.sparkSession.implicits._
    val typed = updates
      .select(col("key").cast("long"), col("tsUs").cast("long"),
        col("side").cast("string"), col("price").cast("double"),
        col("size").cast("double"))
      .as[BookUpdate]
    typed
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, it: Iterator[BookUpdate], state: GroupState[BookSides]) => {
          val batch = it.toArray.sortBy(_.tsUs)
          var st = state.getOption.getOrElse(BookSides(Map.empty, Map.empty))
          val out = batch.map { u =>
            // fail fast on malformed feed data: silently routing an
            // unknown side into the ask map would corrupt the book
            require(u.side == "bid" || u.side == "ask",
              s"book update side must be 'bid' or 'ask', got '${u.side}' (key=$key ts=${u.tsUs})")
            val isBid = u.side == "bid"
            val m = if (isBid) st.bids else st.asks
            val nm = if (u.size == 0.0) m - u.price else m.updated(u.price, u.size)
            st = if (isBid) st.copy(bids = nm) else st.copy(asks = nm)
            val bb = if (st.bids.isEmpty) None else Some(st.bids.keys.max)
            val ba = if (st.asks.isEmpty) None else Some(st.asks.keys.min)
            BookTop(key, u.tsUs,
              bb, bb.map(st.bids), ba, ba.map(st.asks),
              for { b <- bb; a <- ba } yield a - b,
              for { b <- bb; a <- ba } yield (a + b) / 2)
          }
          state.update(st)
          out.iterator
        })
      .toDF()
  }

  case class VpinTick(key: Long, tsUs: Long, price: Double, vol: Double)
  case class VpinState(prevPrice: Double, sign: Int, hasPrev: Boolean,
                       bucket: Long, cum: Double, buy: Double, sell: Double,
                       nTrades: Long)
  case class VpinBucket(key: Long, bucket: Long, buyVol: Double, sellVol: Double,
                        bucketVol: Double, absImbalance: Double, nTrades: Long)

  /** Streaming VPIN volume buckets — the stateful form of
    * `graft.ops.Vpin.vpin`'s bucket layer: tick-rule signing and
    * equal-volume bucket accumulation as O(1)-per-key state (previous
    * price, carried sign, running cumsum, open-bucket sums). A bucket
    * row is EMITTED the moment the cumsum crosses its boundary
    * (append mode emits only closed buckets; the open bucket stays in
    * state) — on in-order input the emitted rows equal the batch
    * operator's per-bucket aggregates row-for-row except the final
    * open bucket (VpinStreamSpec).
    *
    * Numeric note: the streaming accumulator sums doubles in arrival
    * order, the batch form sums DECIMAL; they agree bit-for-bit when
    * volumes are exactly representable (integers / small binary
    * fractions), and to double rounding otherwise.
    */
  def vpinBuckets(ticks: DataFrame, bucketSize: Double): DataFrame = {
    import ticks.sparkSession.implicits._
    val typed = ticks
      .select(col("key").cast("long"), col("tsUs").cast("long"),
        col("price").cast("double"), col("vol").cast("double"))
      .as[VpinTick]
    typed
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, it: Iterator[VpinTick], state: GroupState[VpinState]) => {
          val batch = it.toArray.sortBy(_.tsUs)
          var st = state.getOption.getOrElse(
            VpinState(0.0, 1, hasPrev = false, 0L, 0.0, 0.0, 0.0, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[VpinBucket]
          batch.foreach { t =>
            val sign =
              if (!st.hasPrev) 1
              else if (t.price > st.prevPrice) 1
              else if (t.price < st.prevPrice) -1
              else st.sign
            val cum = st.cum + t.vol
            val b = math.floor(cum / bucketSize).toLong
            if (b != st.bucket && st.nTrades > 0) {
              out += VpinBucket(key, st.bucket, st.buy, st.sell,
                st.buy + st.sell, math.abs(st.buy - st.sell), st.nTrades)
              st = st.copy(bucket = b, buy = 0.0, sell = 0.0, nTrades = 0L)
            } else if (b != st.bucket) st = st.copy(bucket = b)
            st = st.copy(
              prevPrice = t.price, sign = sign, hasPrev = true, cum = cum,
              buy = st.buy + (if (sign == 1) t.vol else 0.0),
              sell = st.sell + (if (sign == -1) t.vol else 0.0),
              nTrades = st.nTrades + 1)
          }
          state.update(st)
          out.iterator
        })
      .toDF()
  }

  case class ImbTick(key: Long, tsUs: Long, id: Long, price: Double)
  case class ImbState(prevPrice: Double, sign: Int, hasPrev: Boolean,
                      theta: Long, barNum: Int,
                      open: Double, high: Double, low: Double, close: Double,
                      nTrades: Long, startUs: Long, endUs: Long)
  case class ImbBar(key: Long, bar_num: Int, open: Double, high: Double,
                    low: Double, close: Double, theta: Long, n_trades: Long,
                    start_us: Long, end_us: Long)

  /** Streaming tick-imbalance bars — the stateful form of
    * `graft.ops.ImbalanceBars`: tick-rule signing and the reset
    * imbalance accumulator as O(1)-per-key state; a bar row is
    * EMITTED on the row where |θ| reaches the threshold (that row
    * included, matching the batch operator), the open bar stays in
    * state. On in-order input the emitted rows equal the batch
    * operator's closed bars row-for-row (ImbalanceStreamSpec, across
    * arbitrary micro-batch splits).
    *
    * `tieCol` pins the within-micro-batch total order on tied
    * timestamps (the batch twin's (ts, event_id) order); absent it,
    * the caller asserts tsUs is unique per key.
    */
  def imbalanceBars(ticks: DataFrame, threshold: Long,
                    tieCol: Option[String] = None): DataFrame = {
    import ticks.sparkSession.implicits._
    require(threshold >= 1, "imbalance threshold must be >= 1")
    val tie = tieCol.map(c => col(c).cast("long")).getOrElse(lit(0L))
    val typed = ticks
      .select(col("key").cast("long"), col("tsUs").cast("long"),
        tie.as("id"), col("price").cast("double"))
      .as[ImbTick]
    typed
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: Long, it: Iterator[ImbTick], state: GroupState[ImbState]) => {
          val batch = it.toArray.sortBy(t => (t.tsUs, t.id))
          var st = state.getOption.getOrElse(
            ImbState(0.0, 1, hasPrev = false, 0L, 0,
              0.0, Double.MinValue, Double.MaxValue, 0.0, 0L, 0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[ImbBar]
          batch.foreach { t =>
            val sign =
              if (!st.hasPrev) 1
              else if (t.price > st.prevPrice) 1
              else if (t.price < st.prevPrice) -1
              else st.sign
            val fresh = st.nTrades == 0L
            st = st.copy(
              prevPrice = t.price, sign = sign, hasPrev = true,
              theta = st.theta + sign,
              open = if (fresh) t.price else st.open,
              high = if (fresh) t.price else math.max(st.high, t.price),
              low = if (fresh) t.price else math.min(st.low, t.price),
              close = t.price,
              nTrades = st.nTrades + 1,
              startUs = if (fresh) t.tsUs else st.startUs,
              endUs = t.tsUs)
            if (math.abs(st.theta) >= threshold) {
              out += ImbBar(key, st.barNum, st.open, st.high, st.low,
                st.close, st.theta, st.nTrades, st.startUs, st.endUs)
              st = st.copy(theta = 0L, barNum = st.barNum + 1,
                open = 0.0, high = Double.MinValue, low = Double.MaxValue,
                close = 0.0, nTrades = 0L, startUs = 0L, endUs = 0L)
            }
          }
          state.update(st)
          out.iterator
        })
      .toDF()
  }
}
