package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by iterative min-label propagation: every
  * node's representative converges to the smallest id in its
  * component, one join + keyed aggregate per round, O(component
  * diameter) rounds. [[Dedup.connectedComponentsStar]] is the operator
  * the system runs; this form lives here as the independent
  * specification it must equal label for label, not as a code path.
  *
  * @param edges (srcCol, dstCol) pairs, any orientation
  * @param nodes one row per node id (singletons become their own
  *              representative)
  * @param strict when true (default), throw if labels are still
  *               changing at `maxIter`; when false, log and return the
  *               partial labels
  * @return (id, rep) — rep = min id of the component
  */
object ComponentsReference {

  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          nodes: DataFrame, nodeCol: String,
                          maxIter: Int = 25, strict: Boolean = true): DataFrame = {
    val und = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .union(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .persist()
    // The loop runs ONLY over edge-endpoint nodes: in a near-dup
    // graph the pair set is tiny relative to the corpus, so the
    // iterative state is O(|edge nodes|), not O(|corpus|); singletons
    // join back once at the end. At 100 TB this is the difference
    // between iterating over megabytes and iterating over the corpus.
    //
    // localCheckpoint (eager) TRUNCATES LINEAGE each iteration — the
    // load-bearing detail of iterative DataFrame algorithms: without
    // it the logical plan doubles per iteration (self-joins on the
    // previous result) and planning/plan-stringification goes
    // exponential long before the data does. On a cluster with
    // dynamic executors, swap for reliable `checkpoint()`.
    // initialize at the ROUND-1 state directly: rep₀(v) = min(v, min
    // neighbor of v) is what the first loop pass would compute from
    // rep = id, but as a plain aggregate it needs no join and no
    // convergence bookkeeping — one full iteration (join + checkpoint
    // + count) cheaper on every graph
    var labels = und.groupBy(col("src")).agg(min(col("dst")).as("__mn"))
      .select(col("src").as("id"), least(col("src"), col("__mn")).as("rep"))
      .localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // propagate-union-aggregate round: each node's new rep is the
      // min over {own rep} ∪ {neighbor reps}, computed as ONE join
      // (reps onto edges by dst) + ONE keyed aggregate over the union
      // — the old three-wide-op form (neighbor groupBy THEN a second
      // join back onto labels) was measured and loses ~1 shuffle per
      // iteration. The own-rep rows ride through the same aggregate
      // tagged __old, so the convergence check (min < old rep) reads
      // the SAME checkpointed result; no extra join.
      // (broadcast(labels) was measured here and LOST 2×: the
      // per-iteration synchronous broadcast build costs more than the
      // shuffle it saves on a near-dup pair graph, whose edge table is
      // itself small — unlike PageRank, where edges outnumber nodes
      // 30:1. Pointer doubling — rep ← rep(rep) per round — also
      // LOST: extra self-join materialization beats the O(diameter) →
      // O(log d) savings at every tested scale.)
      val prop = und.join(labels, und("dst") === labels("id"))
        .select(und("src").as("id"), col("rep"), lit(0).as("__old"))
      val step = labels.select(col("id"), col("rep"), lit(1).as("__old"))
        .unionByName(prop)
        .groupBy("id")
        .agg(min(col("rep")).as("rep"),
          min(when(col("__old") === 1, col("rep"))).as("old_rep"))
        .localCheckpoint()
      val changed = step.filter(col("rep") < col("old_rep")).count()
      labels = step.select("id", "rep")
      converged = changed == 0
      i += 1
    }
    und.unpersist()
    if (!converged) {
      val msg = s"connectedComponents hit maxIter=$maxIter before convergence " +
        "(component diameter exceeds the iteration budget); labels are partial " +
        "and would split one component into several representatives"
      if (strict) throw new IllegalStateException(msg)
      else org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
    // singletons (no edges) never iterate: rep = own id
    nodes.select(col(nodeCol).as("id")).distinct()
      .join(labels.withColumnsRenamed(Map("id" -> "l_id", "rep" -> "l_rep")),
        col("id") === col("l_id"), "left")
      .select(col("id"), coalesce(col("l_rep"), col("id")).as("rep"))
  }
}
