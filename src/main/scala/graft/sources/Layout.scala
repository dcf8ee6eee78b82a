package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) layout key: one long that interleaves several
  * integer dimensions, so that clustering rows by it gives parquet
  * row-group min/max stats locality in every dimension at once
  * (`zorder_index` computes it and restates it for the oracle).
  */
object Layout {

  /** Morton (Z-order) interleave of `dims.size` non-negative integer
    * dimensions, `bits` bits each: bit i of dim j lands at position
    * `i·d + (d−1−j)` — dim 0 is the most significant within each bit
    * group. Clustering files by this single value gives row-group
    * min/max stats locality in EVERY dimension at once, so a
    * multi-column box predicate skips row groups that a single-column
    * sort could only skip on its leading column — the standard
    * multi-dimensional layout trick (public: Morton 1966; Delta/
    * Iceberg `ZORDER BY`). Pure bit arithmetic (shift/and), fully
    * codegen'd, restatable in any engine.
    *
    * Dimensions are masked to `bits` (callers bucket/rescale first);
    * `bits * dims.size` must fit a signed long. Disjoint bit
    * positions make the combining `+` an exact OR.
    */
  def zValue(dims: Seq[Column], bits: Int): Column = {
    val d = dims.size
    require(d > 0 && bits > 0 && bits * d <= 63,
      s"need 0 < bits*dims <= 63, got bits=$bits dims=$d")
    val masked = dims.map(c => c.cast("long").bitwiseAND(lit((1L << bits) - 1)))
    val terms = for {
      i <- 0 until bits
      (c, j) <- masked.zipWithIndex
    } yield shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * d + (d - 1 - j))
    terms.reduce(_ + _)
  }

  /** The same interleave as [[zValue]] in portable SQL, for oracle
    * restatement: `dims` are SQL expressions already masked to
    * `bits` non-negative bits.
    */
  def zValueSql(dims: Seq[String], bits: Int): String = {
    val d = dims.size
    (for {
      i <- 0 until bits
      (e, j) <- dims.zipWithIndex
    } yield s"((($e >> $i) & 1) << ${i * d + (d - 1 - j)})").mkString(" + ")
  }
}
