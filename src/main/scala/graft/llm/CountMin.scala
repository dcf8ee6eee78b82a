package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextHash._

/** Count-Min-sketch heavy hitters (Cormode & Muthukrishnan 2005) —
  * find every token whose corpus frequency reaches a threshold using
  * a FIXED depth×width counter table as the candidate generator, then
  * exact-verify the candidates. The same two-phase shape as the LSH
  * dedup family: a bounded sketch proposes, an exact pass disposes —
  * the output is exact, the sketch only bounds the work.
  *
  * Scale design (100 TB): phase 1 aggregates the token stream into
  * depth×width cells (map-side partial aggregation collapses each
  * partition to ≤ depth·width rows before the shuffle — the sketch IS
  * the combiner state). The cell table and the candidate list are
  * KILOBYTES at any corpus size, so phase 2's exact count runs behind
  * a broadcast semi-join: non-candidate tokens never shuffle. Total
  * cross-node traffic: O(depth·width·partitions) + O(candidates).
  * CMS overestimates only (est ≥ true count), so candidates ⊇ true
  * heavy hitters and the exact filter is sound — no false negatives.
  *
  * Determinism: bucket hashes are md5-derived (TextHash policy), all
  * counts exact integers — fully restatable in the DuckDB oracle.
  */
object CountMin {

  /** Tokens with exact corpus count ≥ `minCount`, via a depth×width
    * CMS candidate pass. Emits `(token, est, cnt)` — `est` is the CMS
    * upper bound (min over the token's depth cells), `cnt` exact.
    */
  def heavyHitters(df: DataFrame, textCol: String,
                   depth: Int = 4, width: Int = 1024,
                   minCount: Long = 100L): DataFrame = {
    require(depth > 0 && width > 0 && minCount > 0,
      s"need positive depth/width/minCount, got $depth/$width/$minCount")

    val tok = df.select(explode(words(lower(trim(col(textCol))))).as("tok"))

    // scalar h32 through the native kernel: the sketch evaluates depth
    // hashes per token occurrence TWICE (cells + candidates), and the
    // md5 → hex UTF8String → conv chain would pay that per call
    // (bit-equality in TextHashExpressionsSpec)
    def bucket(j: Int) = pmod(call_function("h32_native",
      concat(lit(s"cms$j:"), col("tok"))), lit(width))

    // phase 1: the sketch — depth rows per token occurrence, partial-
    // aggregated to ≤ depth·width cells per partition before shuffling
    val cells = tok
      .select(explode(array((0 until depth).map(j =>
        struct(lit(j).as("j"), bucket(j).as("b"))): _*)).as("c"))
      .groupBy(col("c.j").as("j"), col("c.b").as("b"))
      .agg(count(lit(1)).as("cell_cnt"))

    // candidates: distinct tokens whose MINIMUM cell count clears the
    // threshold (CMS point query). Cell table ≤ depth·width rows ⇒
    // broadcast; distinct-token side is vocabulary-bounded.
    val candidates = tok.distinct()
      .select(col("tok"), explode(array((0 until depth).map(j =>
        struct(lit(j).as("j"), bucket(j).as("b"))): _*)).as("c"))
      .join(broadcast(cells), col("c.j") === cells("j") && col("c.b") === cells("b"))
      .groupBy("tok").agg(min("cell_cnt").as("est"))
      .where(col("est") >= minCount)

    // phase 2: exact verify — only candidate tokens survive the
    // broadcast semi-join, so the exact count shuffles candidates only
    tok.join(broadcast(candidates), "tok")
      .groupBy(col("tok").as("token"), col("est"))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
      .select(col("token"), col("est"), col("cnt"))
  }
}
