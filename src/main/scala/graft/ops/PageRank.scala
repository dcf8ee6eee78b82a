package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank over a directed edge list — the second
  * iterative graph operator next to `Dedup.connectedComponentsStar`;
  * ranks entities by mass flow (e.g.
  * customers → the suppliers their order lines touch).
  *
  * All arithmetic is INTEGER fixed-point at scale 10¹² — the float
  * formulation (`0.15/N + 0.85·Σ r/deg`) sums doubles whose result
  * depends on partition merge order, so it can never hash-match a
  * second engine; integer division and BIGINT sums are exact and
  * associative, making every iteration bit-reproducible under any
  * partitioning AND restatable as plain SQL (the oracle unrolls the
  * same iterations with `//`). Remainders truncate toward zero (both
  * engines' semantics for non-negative operands), so a tiny amount of
  * mass leaks per step — deterministically.
  *
  * Dangling nodes (no out-edges) absorb mass without redistributing
  * it — the standard simplification; add a dangling-mass term if the
  * graph needs stochasticity preserved.
  *
  * Scale notes (100 TB): each iteration is one join + one groupBy,
  * both keyed so the exchanges reuse one partitioning; per-iteration
  * state is O(|nodes|). The node count enters as a driver literal
  * (one count job on the persisted node table, one row back).
  * `localCheckpoint` truncates lineage every second iteration (the
  * same load-bearing detail as connectedComponentsStar — plan size, not
  * data, is what explodes). An empty edge list gives 0 rows.
  */
object PageRank {

  /** Fixed-point scale: ranks are stored as `rank · 10¹²` BIGINTs. */
  val FP: Long = 1000000000000L

  /** @param edges directed (srcCol, dstCol) pairs; deduped internally
    * @param iters  fixed iteration count (the oracle must unroll the
    *               same number)
    * @return (id, rank_fp, rank) — rank_fp the exact BIGINT, rank the
    *         DOUBLE view `rank_fp / 10¹²`
    */
  def ranks(edges: DataFrame, srcCol: String, dstCol: String,
            iters: Int): DataFrame = {
    // AQE stays on (r12, graft.tools.LoopExp interleaved, median of
    // 5, sf0.1, local[32]): at 32 shuffle partitions the per-iteration
    // exchanges fragment into 32 tiny tasks each, and AQE's partition
    // coalescing is worth more than its re-planning latency (AQE-off
    // won only the r5 local[4] capture, where there was nothing to
    // coalesce). Lineage is truncated every 2nd iteration and on the
    // last: a skipped checkpoint saves one materialization job but
    // deepens the next iteration's plan by one join+agg level.
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().persist()
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst"))).distinct().persist()
    // N, the uniform init FP/N and the teleport term 0.15·init as
    // DRIVER LITERALS: one count on the persisted node table (O(1)
    // rows back at any scale). The r12 form crossJoined a broadcast
    // 1-row aggregate into EVERY iteration, which rebuilt the
    // broadcast (and re-ran the node count) once per checkpointed
    // step — ~2 extra jobs per iteration for two constants. An empty
    // edge list has N = 0: the literals are then 0 and the loop runs
    // over empty tables, so the result is 0 rows with the usual
    // schema.
    val n = nodes.count()
    val initLit = if (n == 0) 0L else FP / n
    val baseLit = (15 * initLit) / 100
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val eDeg = e.join(deg, "src").persist()
    var r = nodes.select(col("id"), lit(initLit).as("r")).localCheckpoint()
    for (it <- 1 to iters) {
      // Shuffle join on src each iteration. broadcast(r) was measured
      // here and was a wash at 30:1 edges:nodes (the per-iteration
      // synchronous broadcast build eats what the saved exchange
      // gains — same finding as label-propagation CC, where it LOST
      // 2×), so the scale-robust default wins: no driver-size
      // assumption on the rank table. The contrib groupBy collapses
      // map-side to |dst nodes| rows per partition either way.
      val contrib = eDeg.join(r, eDeg("src") === r("id"))
        .select(col("dst"), expr("r div outdeg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("s"))
      val rNext = nodes.join(contrib, col("id") === col("dst"), "left")
        .select(col("id"),
          (lit(baseLit) + expr("(85 * coalesce(s, 0L)) div 100")).as("r"))
      r = if (it % 2 == 0 || it == iters) rNext.localCheckpoint() else rNext
    }
    e.unpersist(); eDeg.unpersist()
    val out = r.select(col("id"), col("r").as("rank_fp"),
      (col("r").cast("double") / lit(1.0e12)).as("rank"))
    nodes.unpersist()
    out
  }
}
