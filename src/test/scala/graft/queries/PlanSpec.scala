package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec

import graft.SparkSpec
import graft.plans.AsOfJoinExec

/** Physical-plan contracts for the headline queries — the shapes the
  * 100 TB design story depends on (EXPLAIN.md).
  */
class PlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("q3_orders: AQE broadcasts the dim sides with no orders-side hint") {
    val df = Registry.byName("q3_orders").fn(spark, sf("sf0.01"))
    df.collect() // run so AQE finalizes the adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast joins in:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      "orders/lineitem join regressed to a shuffle join at bench scale")
  }

  test("q1_pricing: filter is pushed to the parquet scan") {
    val df = Registry.byName("q1_pricing").fn(spark, sf("sf0.01"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"missing scan-level pushdown in:\n$plan")
  }

  test("token_topk: scan reads ONLY the two needed columns of documents") {
    val df = Registry.byName("token_topk").fn(spark, sf("sf0.01"))
    val scan = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(scan.contains("lang") && scan.contains("text"), scan)
    assert(!scan.contains("n_chars") && !scan.contains("source") && !scan.contains("doc_id"),
      s"column pruning regressed — scan reads more than (lang, text): $scan")
  }

  test("stratified_sample: hash-threshold filter keeps the scan as the only plan node group") {
    val df = Registry.byName("stratified_sample").fn(spark, sf("sf0.01"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"sampling must not shuffle:\n$plan")
  }

  test("doc_chunks and repetition_stats are shuffle-free map work") {
    Seq("doc_chunks", "repetition_stats").foreach { name =>
      val df = Registry.byName(name).fn(spark, sf("sf0.01"))
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"$name must not shuffle:\n$plan")
    }
  }

  test("decontam_overlap: held-out gram set joins as broadcast, not shuffle") {
    val df = Registry.byName("decontam_overlap").fn(spark, sf("sf0.01"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"banned-gram join must broadcast:\n$plan")
  }

  test("feature_scale/winsorize_values: stats broadcast onto an unshuffled fact scan") {
    Seq("feature_scale", "winsorize_values").foreach { name =>
      val df = Registry.byName(name).fn(spark, sf("sf0.01"))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"$name bounds table must broadcast:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$name fact side must not shuffle for the join:\n$plan")
    }
  }

  /** Shuffle-exchange count (excludes BroadcastExchange). */
  private def shuffles(plan: String): Int =
    "(?m)[+:]- Exchange ".r.findAllIn(plan).length

  test("vwap_daily: single partial+final aggregate, filter-free pruned scan") {
    val df = Registry.byName("vwap_daily").fn(spark, sf("sf0.01"))
    val plan = df.queryExecution.executedPlan.toString
    // one shuffle total: the groupBy exchange
    assert(shuffles(plan) == 1,
      s"vwap must be one partial-aggregated groupBy:\n$plan")
    assert(plan.contains("partial_sum"), s"map-side combine missing:\n$plan")
    val scan = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(scan.contains("l_returnflag") && scan.contains("l_shipdate") &&
      !scan.contains("l_orderkey"), s"scan not pruned: $scan")
  }

  test("book_features: pure row-local projection — zero shuffles") {
    val df = Registry.byName("book_features").fn(spark, sf("sf0.01"))
    val plan = df.queryExecution.executedPlan.toString
    assert(shuffles(plan) == 0, s"feature map must not shuffle:\n$plan")
  }

  test("twap_daily: lead window and groupBy share one key partitioning") {
    val df = Registry.byName("twap_daily").fn(spark, sf("sf0.01"))
    val plan = df.queryExecution.executedPlan.toString
    // window shuffles on (user, day); the groupBy on the same key
    // must NOT add a second exchange (hash(user, day) satisfies it)
    assert(shuffles(plan) == 1,
      s"twap must reuse the window's partitioning for the groupBy:\n$plan")
  }

  test("bollinger_bands/drawdown_series: ONE key shuffle, ONE Window node") {
    Seq("bollinger_bands", "drawdown_series").foreach { name =>
      val df = Registry.byName(name).fn(spark, sf("sf0.01"))
      val plan = df.queryExecution.executedPlan.toString
      assert(shuffles(plan) == 1,
        s"$name must shuffle once (the series key):\n$plan")
      // a second Window node means the moment sums are being computed
      // twice (the withColumn-inlining trap — see Indicators.bollinger)
      assert("(?m)[+:]- Window ".r.findAllIn(plan).length == 1,
        s"$name must evaluate its window functions in one pass:\n$plan")
    }
  }

  test("scd2_history: run-collapse + interval windows stack on ONE key shuffle") {
    val df = Registry.byName("scd2_history").fn(spark, sf("sf0.01"))
    val plan = df.queryExecution.executedPlan.toString
    assert(shuffles(plan) == 1,
      s"SCD2 must shuffle once on the dimension key:\n$plan")
    assert("(?m)[+:]- Sort ".r.findAllIn(plan).length == 1,
      s"both windows must reuse a single (ts, tie) sort:\n$plan")
  }

  test("paragraph_dedup: exactly digest shuffle + reassembly shuffle") {
    val df = Registry.byName("paragraph_dedup").fn(spark, sf("sf0.01"))
    val plan = df.queryExecution.executedPlan.toString
    assert(shuffles(plan) == 2,
      s"span dedup is one md5 shuffle + one doc_id shuffle, no more:\n$plan")
  }

  test("q5_region_revenue: dims broadcast; date+region filters reach the scans") {
    val df = Registry.byName("q5_region_revenue").fn(spark, sf("sf0.01"))
    df.collect() // finalize AQE
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"dimension joins must broadcast:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
      s"order-date filter must reach the orders scan:\n$plan")
    assert(plan.contains("EqualTo(r_name,ASIA)"),
      s"region filter must reach the region scan:\n$plan")
  }

  test("lm_bigram_score: vocab scalar broadcasts; count-model joins never cartesian") {
    val df = Registry.byName("lm_bigram_score").fn(spark, sf("sf0.01"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      s"1-row vocab table must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no cartesian anywhere in the LM joins:\n$plan")
  }

  test("ann_lsh_multiprobe: candidates come from the (grp,bucket) equi-join, never cartesian") {
    val df = Registry.byName("ann_lsh_multiprobe").fn(spark, sf("sf0.01"))
    val plan = df.queryExecution.executedPlan.toString
    // the probe explode must stay query-side: ONE hash-keyed candidate
    // join; a cartesian/theta form would be the quadratic shape the
    // bucket index exists to avoid
    assert(!plan.contains("CartesianProduct"),
      s"multi-probe candidates regressed to a cartesian:\n${plan.take(3000)}")
    assert(plan.contains("Generate"), // the probe-mask + bucket explodes
      s"expected query-side explode in:\n${plan.take(3000)}")
  }

  test("mips_lsh_topk: lifted-bucket candidates come from the (grp,bucket) equi-join, never cartesian") {
    val df = Registry.byName("mips_lsh_topk").fn(spark, sf("sf0.01"))
    val plan = df.queryExecution.executedPlan.toString
    // the max-norm lift scalar enters as a one-row broadcast; the
    // candidate join must stay hash-keyed on (grp, bucket) — a
    // cartesian form would be the |Q|x|C| shape the lift+bucket
    // reduction exists to avoid
    assert(!plan.contains("CartesianProduct"),
      s"MIPS candidates regressed to a cartesian:\n${plan.take(3000)}")
    assert(plan.contains("Generate"), // the bucket posexplodes
      s"expected bucket explode in:\n${plan.take(3000)}")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"max-norm scalar must broadcast, not shuffle:\n${plan.take(3000)}")
  }

  test("domain_mix_sample: K-row allocation broadcasts onto the corpus scan") {
    val df = Registry.byName("domain_mix_sample").fn(spark, sf("sf0.01"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the apply side is a map-side filter under a broadcast of the
    // domain allocation — a shuffle join here would repartition the
    // whole corpus to apply 20 rates
    assert(plan.contains("BroadcastHashJoin"),
      s"allocation must broadcast-join the corpus:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-side shuffle join applying a K-row allocation:\n${plan.take(3000)}")
  }

  test("dedup_stream_index: probe side stays map-only into the band-bucket equi-join") {
    val df = Registry.byName("dedup_stream_index").fn(spark, sf("sf0.01"))
    val plan = df.queryExecution.executedPlan.toString
    // the streaming-ingest shape: delta docs explode their bands
    // map-side and hit the index on (band_idx, band_hash) — a
    // cartesian/theta form would be the all-pairs shape the persisted
    // index exists to avoid
    assert(!plan.contains("CartesianProduct"),
      s"index probe regressed to a cartesian:\n${plan.take(3000)}")
    assert(plan.contains("Generate"), // the probe-side band explode
      s"expected probe-side band explode in:\n${plan.take(3000)}")
  }

  test("q18_big_orders: the HAVING-filtered aggregate broadcasts into orders (pinned, pre-AQE)") {
    val df = Registry.byName("q18_big_orders").fn(spark, sf("sf0.01"))
    // sparkPlan (pre-AQE): the hint must hold without runtime rescue
    val plan = df.queryExecution.sparkPlan.toString
    val orderJoin = plan.linesIterator.find(_.contains("o_orderkey")).toSeq ++
      plan.linesIterator.filter(_.contains("BroadcastHashJoin"))
    assert(plan.contains("BroadcastHashJoin"),
      s"hot-orders aggregate must broadcast into orders:\n$plan")
    assert(orderJoin.nonEmpty)
  }

  test("q13_custdist: orders pre-aggregates to one row per custkey BEFORE the customer join") {
    val df = Registry.byName("q13_custdist").fn(spark, sf("sf0.01"))
    val plan = df.queryExecution.sparkPlan.toString
    // the join input on the orders side must already be a HashAggregate
    // (agg-before-join), not a raw orders scan feeding the join
    val joinIdx = plan.linesIterator.indexWhere(_.contains("Join"))
    val aggIdxs = plan.linesIterator.zipWithIndex
      .filter(_._1.contains("HashAggregate")).map(_._2).toSeq
    assert(joinIdx >= 0 && aggIdxs.exists(_ > joinIdx),
      s"expected a HashAggregate below the join (agg-before-join):\n$plan")
  }

  test("decontam_bloom: corpus probes a literal bitmap (no broadcast, no shuffle before the filter)") {
    val df = Registry.byName("decontam_bloom").fn(spark, sf("sf0.01"))
    val plan = df.queryExecution.sparkPlan.toString
    // the bloom probe is a scan-side Filter over element_at on a
    // literal array — it must appear, and must NOT be implemented as
    // a join against a broadcast gram table
    // the probe is the element_at bit test (shiftleft mask) — find it
    // by the mask, not by element_at alone (gramHashes' token-binding
    // lambda also uses element_at since the O(len²) fix)
    val probeLine = plan.linesIterator
      .find(l => l.contains("element_at") && l.contains("shiftleft"))
    assert(probeLine.isDefined, s"bloom bit-test filter missing:\n$plan")
    assert(probeLine.get.contains("Filter"),
      s"bloom probe should be a Filter, got:\n${probeLine.get}")
  }

  test("char_entropy: char explode is combined map-side before anything can shuffle") {
    // at sf the single-file documents scan is one partition, so no
    // Exchange plans at all — the durable contract is structural: the
    // FIRST aggregate above the char explode is a partial combine on
    // (doc_id, ch), so any exchange a bigger input forces would carry
    // (doc,ch,count) rows, never the raw character stream
    val df = Registry.byName("char_entropy").fn(spark, sf("sf0.01"))
    val lines = df.queryExecution.sparkPlan.toString.linesIterator.toVector
    val genIdx = lines.indexWhere(_.contains("Generate explode"))
    assert(genIdx >= 0, lines.mkString("\n"))
    val firstAggAbove = lines.take(genIdx).lastIndexWhere(_.contains("HashAggregate"))
    assert(firstAggAbove >= 0 &&
      lines(firstAggAbove).contains("partial_count") &&
      lines(firstAggAbove).contains("ch#"),
      s"explode must feed a (doc_id, ch) partial combine:\n${lines.mkString("\n")}")
    assert(lines.slice(firstAggAbove, genIdx + 1).forall(!_.contains("Exchange")),
      s"nothing may shuffle the raw char stream:\n${lines.mkString("\n")}")
  }

  test("dedup_incremental: the bucket restriction plans as a semi join") {
    val df = Registry.byName("dedup_incremental").fn(spark, sf("sf0.01"))
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("LeftSemi"),
      s"delta-bucket restriction must be a semi join (ids never widen):\n$plan")
  }

  test("pair_correlation: trades collapse to slot closes BEFORE the pair join") {
    val df = Registry.byName("pair_correlation").fn(spark, sf("sf0.01"))
    val lines = df.queryExecution.sparkPlan.toString.linesIterator.toVector
    val joinIdx = lines.indexWhere(l => l.contains("Join") && l.contains("bkt"))
    val aggBelow = lines.drop(joinIdx + 1).exists(_.contains("HashAggregate"))
    assert(joinIdx >= 0 && aggBelow,
      s"pair join must consume slot-close aggregates, not raw trades:\n${lines.mkString("\n")}")
  }

  test("tca_spread: two as-of joins, no cartesian anywhere") {
    val df = Registry.byName("tca_spread").fn(spark, sf("sf0.01"))
    val plan = df.queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("gopher_rules: pure projection — zero shuffles, scan is the only source") {
    val df = Registry.byName("gopher_rules").fn(spark, sf("sf0.01"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"rule bundle must not shuffle:\n$plan")
    assert(!plan.contains("Generate"), s"rule bundle must not explode:\n$plan")
  }

  test("dsir: scoring is a pure projection (model as literal — no join, no exchange); resample top-k is TakeOrdered") {
    // the model fit runs eagerly at construction (two buckets-bounded
    // aggregations + a ≤1024-row collect); the RETURNED plan is the
    // map-side scoring projection over the scan — nothing else
    val w = Registry.byName("dsir_weights").fn(spark, sf("sf0.01"))
    val wplan = w.queryExecution.sparkPlan.toString
    assert(!wplan.contains("Join") && !wplan.contains("Exchange"),
      s"map-side scoring must not join or shuffle the corpus:\n${wplan.take(3000)}")
    val r = Registry.byName("dsir_resample").fn(spark, sf("sf0.01"))
    val rplan = r.queryExecution.sparkPlan.toString
    assert(rplan.contains("TakeOrderedAndProject"),
      s"resample must plan as TakeOrdered (no global sort):\n${rplan.take(3000)}")
    assert(!rplan.contains("Join"),
      s"resample inherits the joinless scoring projection:\n${rplan.take(3000)}")
  }

  test("semantic_dedup: candidates ride the cell equi-join — never a pairwise cartesian") {
    val df = Registry.byName("semantic_dedup").fn(spark, sf("sf0.01"))
    val plan = df.queryExecution.sparkPlan.toString
    // the x-y candidate join must key on cell (equi), with dominance as
    // a post-join condition
    assert(plan.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")) &&
        l.contains("[cell")),
      s"within-cell pairs must come from an equi-join on cell:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // the only nested-loop joins allowed are kmeansCells' deliberate
    // k-row centroid broadcasts (BuildRight, Cross) — a vector-side
    // pairwise nested loop would not carry the Cross marker alone
    val bnlj = plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(l => l.contains("BuildRight") && l.contains("Cross")),
      s"unexpected nested-loop join shape:\n${bnlj.mkString("\n")}")
  }

  test("sampled_quantiles: one aggregation shuffle, no per-group sort of the data") {
    val df = Registry.byName("sampled_quantiles").fn(spark, sf("sf0.01"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"sketch must not rank the data:\n$plan")
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      s"expected the typed sketch aggregate:\n$plan")
    assert(shuffles(plan) == 1,
      s"bottom-k sketch must shuffle once (the groupBy):\n$plan")
  }

  test("value_buckets: cutoffs broadcast onto an unshuffled fact scan") {
    val df = Registry.byName("value_buckets").fn(spark, sf("sf0.01"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"cutoff table must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"fact side must not shuffle for the bucket join:\n$plan")
  }

  test("fuzzy_word_pairs: deletion-variant blocking — no cross product anywhere") {
    val df = Registry.byName("fuzzy_word_pairs").fn(spark, sf("sf0.01"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian") && !plan.contains("NestedLoop"),
      s"fuzzy join must block on variants:\n$plan")
  }

  test("tokenizer encodes: dictionary joins, no cartesian, no window over the corpus") {
    Seq("wordpiece_encode", "unigram_encode").foreach { name =>
      val df = Registry.byName(name).fn(spark, sf("sf0.01"))
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Cartesian") && !plan.contains("NestedLoop"),
        s"$name corpus pass must be a dictionary equi-join:\n$plan")
      assert(!plan.contains("Window"),
        s"$name must not rank anything:\n$plan")
    }
  }

  test("bm25_topk: query terms broadcast onto the postings index; top-k is WindowGroupLimit") {
    val df = Registry.byName("bm25_topk").fn(spark, sf("sf0.01"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"query-term join must broadcast (postings stay sharded by term):\n$plan")
    assert(!plan.contains("Cartesian"),
      s"bm25 must never go all-pairs:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"per-query top-k must push the rank limit below the sort:\n$plan")
  }

  test("rrf_hybrid: fusion is a union + one aggregation — no join between the rankers") {
    val df = Registry.byName("rrf_hybrid").fn(spark, sf("sf0.01"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Union"), s"RRF must fuse via union, not join:\n$plan")
    assert(!plan.contains("Cartesian"), s"no cross product in fusion:\n$plan")
  }

  test("ann_ivfpq_topk: candidates ride the cell equi-join — never a corpus cross product") {
    val df = Registry.byName("ann_ivfpq_topk").fn(spark, sf("sf0.01"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"IVF-PQ candidate generation must equi-join on cell:\n$plan")
  }

  test("theilsen_slope: bottom-k sample pushes as WindowGroupLimit; no cross product") {
    val df = Registry.byName("theilsen_slope").fn(spark, sf("sf0.01"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"sample rank limit must push below the sort:\n$plan")
    assert(!plan.contains("Cartesian"),
      s"pair generation must ride the key equi-join:\n$plan")
  }

  test("cusum_monitor: stats broadcast onto the scan; exactly the agg + repartition exchanges") {
    val df = Registry.byName("cusum_monitor").fn(spark, sf("sf0.01"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"per-key moments must broadcast back, not shuffle-join:\n$plan")
    assert(plan.contains("MapPartitions"),
      s"the recursion must be the sequential scan, not a window:\n$plan")
    // shuffle exchanges only (broadcast exchanges are the point); the
    // AQE toString prints Current + Initial plans, so cut at the marker
    val current = plan.split("== Initial Plan ==")(0)
    val shuffles = "(?<!Broadcast)Exchange (hashpartitioning|RoundRobin|rangepartitioning)".r
      .findAllIn(current).size
    assert(shuffles <= 2,
      s"expected only the moment-agg and repartition shuffles, got $shuffles:\n$current")
  }

  test("self-join families reuse one exchange instead of a session-leaking persist") {
    // winnow_pairs / dup_ngram_pairs: both self-join sides (and the
    // df-window) sit above an identical scan→hash→exchange subplan;
    // dup_spans pins the shared exchange explicitly with
    // repartition(g). The contract: the expensive gram shuffle
    // materializes ONCE (ReusedExchange or a reused AQE shuffle
    // stage) with zero persist() in the operator — persist was
    // A/B-measured for all three in r12 and LOST (the reuse genuinely
    // fires at bench scale).
    Seq("winnow_pairs", "dup_ngram_pairs", "dup_spans")
      .foreach { name =>
        val df = Registry.byName(name).fn(spark, sf("sf0.01"))
        df.collect()
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("InMemoryTableScan"),
          s"$name must not rely on a leaked session cache:\n${plan.take(3000)}")
        assert(plan.contains("ReusedExchange") || plan.contains("(reuses"),
          s"$name lost exchange reuse — hashing now runs per consumer:\n${plan.take(3000)}")
      }
  }

  test("theilsen_slope: the sample is persisted — broadcast defeats its exchange reuse") {
    // The r12 measurement FALSIFIED the reuse contract for TheilSen:
    // at broadcastable sample sizes the planner turns one self-join
    // side into a BroadcastExchange, the scan→rank-window subtree runs
    // twice, and ReuseExchange never fires (persist vs recompute:
    // 1.15 s vs 2.69 s interleaved at sf0.1). The operator's contract
    // is now the persist; the bench/driver clear the cache between
    // queries (the Dedup.bandedBuckets policy).
    val df = Registry.byName("theilsen_slope").fn(spark, sf("sf0.01"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"),
      s"theilsen_slope lost its measured sample persist:\n${plan.take(3000)}")
  }

  /** The as-of guard: the plan holds the AsOfJoin merge exec, computes no
    * Window outside the join's inputs, plans no join operator and no
    * unbounded-following frame.
    */
  private def assertOneSortedPass(name: String, df: DataFrame): Unit = {
    df.collect() // run so AQE finalizes the adaptive plan
    val executed = df.queryExecution.executedPlan
    val plan = executed.toString
    val joins = collect(executed) { case j: AsOfJoinExec => j }
    assert(joins.nonEmpty, s"$name has no AsOfJoin merge exec:\n$plan")
    // the only windows are those that build the join's inputs (DollarBars' running sum)
    def windows(p: SparkPlan) = collect(p) { case w: WindowExec => w }
    val inputWindows = joins.flatMap(j => windows(j.left) ++ windows(j.right))
    assert(windows(executed).forall(w => inputWindows.exists(_ eq w)),
      s"$name computes a Window outside the as-of join's inputs:\n$plan")
    Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin",
      "CartesianProduct").foreach { op =>
      assert(!plan.contains(op), s"$name plans a $op — the as-of join is quadratic again:\n$plan")
    }
    assert(!plan.toLowerCase.contains("unboundedfollowing"),
      s"$name uses an unbounded-following frame, recomputed per row:\n$plan")
  }

  test("native as-of directions plan as the single-merge operator — no band join, no rank pass") {
    Seq("asof_join", "asof_join_forward", "asof_join_nearest").foreach { name =>
      assertOneSortedPass(name, Registry.byName(name).fn(spark, sf("sf0.01")))
    }
  }

  test("as-of joins plan as one sorted pass: no join operator, no unbounded-following frame") {
    import spark.implicits._
    def wire(json: String*) = json.toDF("value")
    val trades = graft.ops.Envelope.parse(wire(
      """{"code":"KRW-BTC","timestamp":1704067200000,"trade_price":1000.0,"trade_volume":1.0}""",
      """{"code":"KRW-BTC","timestamp":1704067201000,"trade_price":1000.0,"trade_volume":1.0}"""),
      graft.schema.UpbitSchemas.trade)
    val books = graft.ops.Envelope.parse(wire(
      """{"code":"KRW-BTC","timestamp":1704067200500,"total_ask_size":1.0,"total_bid_size":1.0,""" +
        """"orderbook_units":[{"ask_price":1001.0,"bid_price":999.0,"ask_size":1.0,"bid_size":1.0}]}"""),
      graft.schema.UpbitSchemas.orderbook)
    assertOneSortedPass("dailyDollarBars",
      graft.pipelines.Pipelines.dailyDollarBars(trades, books, 1000.0, "2024-01-01"))
    assertOneSortedPass("tca_spread", Registry.byName("tca_spread").fn(spark, sf("sf0.01")))
  }

  test("rrf_hybrid_scaled: union fusion; dense candidates bucket-equi-join, never cartesian") {
    val df = Registry.byName("rrf_hybrid_scaled").fn(spark, sf("sf0.01"))
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("Union"), s"scaled RRF must fuse via union:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"),
      s"LSH candidate generation must equi-join on (grp, bucket):\n${plan.take(3000)}")
  }

  test("label-family bucketed arms: candidates equi-join on (grp, bucket), never cartesian") {
    Seq("hard_negatives_scaled", "knn_classify_scaled").foreach { name =>
      val df = Registry.byName(name).fn(spark, sf("sf0.01"))
      val plan = df.queryExecution.sparkPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
        s"$name candidate space must ride the bucket equi-join:\n${plan.take(3000)}")
      assert(plan.linesIterator.exists(l =>
        (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
          l.contains("BroadcastHashJoin")) &&
          l.contains("grp") && l.contains("bucket")),
        s"$name lost the (grp, bucket) join key:\n${plan.take(3000)}")
    }
  }

  test("scaled graph twins: no cartesian; their edge input keys pairs on the refined block") {
    // the twins' own plans are truncated at Triangles/LinkPrediction's
    // internal persist/localCheckpoint, so the edge-generation contract
    // is asserted on knn_graph_bucketed — the IDENTICAL construction
    // (label + 3-bit refineBlock into Similarity.knnGraph) both twins
    // call; the twins' plans are checked cartesian-free end to end
    Seq("knn_triangles_scaled", "link_prediction_scaled").foreach { name =>
      val df = Registry.byName(name).fn(spark, sf("sf0.01"))
      val plan = df.queryExecution.sparkPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name pair space must ride the refined-block equi-join:\n${plan.take(3000)}")
    }
    val edges = Registry.byName("knn_graph_bucketed").fn(spark, sf("sf0.01"))
    val eplan = edges.queryExecution.sparkPlan.toString
    assert(!eplan.contains("CartesianProduct"), eplan.take(3000))
    // any EQUI join keyed on blk qualifies (broadcast at gate scale,
    // shuffle at corpus scale — the key is what bounds the pairs)
    assert(eplan.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")) && l.contains("blk")),
      s"knn_graph_bucketed lost the blk equi-join:\n${eplan.take(3000)}")
  }

  test("persisted-index probes: candidates ride the (grp, bucket) equi-join, never cartesian") {
    Seq("ann_stream_index", "ann_index_topk", "ann_index_hamming").foreach { name =>
      val df = Registry.byName(name).fn(spark, sf("sf0.01"))
      val plan = df.queryExecution.sparkPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
        s"$name probe must ride the bucket equi-join:\n${plan.take(3000)}")
      assert(plan.linesIterator.exists(l =>
        (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
          l.contains("BroadcastHashJoin")) &&
          l.contains("grp") && l.contains("bucket")),
        s"$name lost the (grp, bucket) join key:\n${plan.take(3000)}")
    }
  }

  test("ann_ivf_scaled: candidates gated by the probed-cell equi-join; centroid scans broadcast") {
    val df = Registry.byName("ann_ivf_scaled").fn(spark, sf("sf0.01"))
    val plan = df.queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"candidate space must ride the cell equi-join:\n${plan.take(3000)}")
    assert(plan.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")) && l.contains("cell")),
      s"lost the cell equi-join:\n${plan.take(3000)}")
  }
}
