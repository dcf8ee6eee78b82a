package perfbench

import java.util.SplittableRandom

/** Seeded generator of Upbit wire records (the `upbit_trade` and
  * `upbit_orderbook` JSON shapes of UpbitSchemas). The same seed gives
  * byte-identical records.
  *
  * Every number is chosen to be exact in the program's decimal casts,
  * so that the independent checks can demand equality instead of a
  * tolerance: prices are whole KRW, sizes have four decimals, and the
  * collection delay is a whole number of milliseconds. Timestamps are
  * strictly increasing across the whole log, hence unique per code.
  */
object Gen {

  /** One instrument: its code, starting price, price tick, and the
    * largest size in 1/10 000 units.
    */
  final case class Code(code: String, price: Long, tick: Long, maxSize4: Long)

  /** The reference's three codes, sized so a trade is worth about
    * 2 M KRW on each.
    */
  val UpbitCodes: Vector[Code] = Vector(
    Code("KRW-BTC", 80000000L, 1000L, 500L),
    Code("KRW-ETH", 4000000L, 1000L, 10000L),
    Code("KRW-SOL", 200000L, 50L, 200000L))

  /** `n` generated codes `KRW-C0001`, `KRW-C0002`, …. */
  def manyCodes(n: Int, rnd: SplittableRandom): Vector[Code] =
    Vector.tabulate(n) { i =>
      val price = 100L * (1L + rnd.nextLong(10000L))
      Code(f"KRW-C${i + 1}%04d", price, 1L + price / 1000L, 1L + rnd.nextLong(200000L))
    }

  final class Walk(codes: Vector[Code]) {
    private val price = codes.map(_.price).toArray
    def step(i: Int, rnd: SplittableRandom): Long = {
      val c = codes(i)
      price(i) = math.max(c.tick * 10, price(i) + c.tick * (rnd.nextInt(5) - 2))
      price(i)
    }
  }

  private def dec4(v: Long): String = s"${v / 10000}.${"%04d".format(v % 10000)}"
  private def secs(ms: Long): String = s"${ms / 1000}.${"%03d".format(ms % 1000)}"
  private val DateFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")
  private val TimeFmt = java.time.format.DateTimeFormatter.ofPattern("HH:mm:ss")

  private var seq = 0L

  /** One trade at `ts` (epoch ms) for code `i`. */
  def trade(codes: Vector[Code], walk: Walk, i: Int, ts: Long, rnd: SplittableRandom): String = {
    val c = codes(i)
    val p = walk.step(i, rnd)
    val size4 = 1L + rnd.nextLong(c.maxSize4)
    val delay = 5L + rnd.nextLong(200L)
    val at = java.time.Instant.ofEpochMilli(ts).atZone(java.time.ZoneOffset.UTC)
    seq += 1
    s"""{"type":"trade","code":"${c.code}","timestamp":$ts,"trade_date":"${DateFmt.format(at)}",""" +
      s""""trade_time":"${TimeFmt.format(at)}","trade_timestamp":$ts,"trade_price":$p.0,""" +
      s""""trade_volume":${dec4(size4)},"ask_bid":"${if (rnd.nextBoolean()) "ASK" else "BID"}",""" +
      s""""prev_closing_price":${c.price}.0,"change":"EVEN","change_price":0.0,""" +
      s""""sequential_id":$seq,"stream_type":"REALTIME","arrive_time":${secs(ts + delay)}}"""
  }

  /** One five-level order-book snapshot at `ts` for code `i`. */
  def book(codes: Vector[Code], walk: Walk, i: Int, ts: Long, rnd: SplittableRandom): String = {
    val c = codes(i)
    val mid = walk.step(i, rnd)
    val units = (0 until 5).map { lvl =>
      val ask = mid + c.tick * (lvl + rnd.nextInt(2))
      val bid = mid - c.tick * (lvl + 1)
      (ask, bid, 1L + rnd.nextLong(c.maxSize4), 1L + rnd.nextLong(c.maxSize4))
    }
    val unitJson = units.map { case (a, b, as, bs) =>
      s"""{"ask_price":$a.0,"bid_price":$b.0,"ask_size":${dec4(as)},"bid_size":${dec4(bs)}}"""
    }.mkString("[", ",", "]")
    val delay = 5L + rnd.nextLong(200L)
    s"""{"type":"orderbook","code":"${c.code}","timestamp":$ts,""" +
      s""""total_ask_size":${dec4(units.map(_._3).sum)},"total_bid_size":${dec4(units.map(_._4).sum)},""" +
      s""""orderbook_units":$unitJson,"stream_type":"REALTIME","level":0,"arrive_time":${secs(ts + delay)}}"""
  }

  /** `n` timestamps spread over `[from, from + spanMs)`, strictly
    * increasing (each in its own slot of the span).
    */
  def times(from: Long, spanMs: Long, n: Int, rnd: SplittableRandom): Array[Long] = {
    val slot = spanMs / n
    require(slot >= 2, s"$n records do not fit in $spanMs ms")
    Array.tabulate(n)(k => from + k * slot + rnd.nextLong(slot / 2))
  }
}
