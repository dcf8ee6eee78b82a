package graft.tools

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkSpec

class CuratePipelineSpec extends SparkSpec {

  test("CuratePipeline.run walks quality -> exact -> neardup -> budget with monotone survival and a budget-true output") {
    val dir = Files.createTempDirectory("graft_curate").toString
    val docs = graft.Tables.documents(spark, sf())
    val budget = 20000L
    val series = CuratePipeline.run(spark, docs, "doc_id", "text", dir, budget)
    series.foreach(s => info(s.json))
    assert(series.map(_.stage) ===
      Seq("input", "quality", "exact", "neardup", "budget"))
    val byStage = series.map(s => s.stage -> s).toMap
    // survival is monotone non-increasing and every stage keeps something
    val counts = series.map(_.docs)
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a },
      s"survival must be monotone: $counts")
    assert(counts.last > 0, "budget slice must be non-empty")
    assert(byStage("input").docs === docs.count())
    // the written slice respects the budget and is quality-topped:
    // its min quality >= the quality of any excluded survivor
    val curated = spark.read.parquet(s"$dir/curated")
    assert(curated.count() === byStage("budget").docs)
    assert(byStage("budget").tokens.get <= budget)
    val maxCum = curated.agg(max("cum_tokens")).collect()(0).getLong(0)
    assert(maxCum <= budget)
    // deterministic: a second run yields the identical kept id set —
    // and drops its OWN three caches (the nbServeAuto lifetime
    // discipline). Only RDDs persisted by jobs of this run count (the
    // SparkContext is shared), each known by the call site that built
    // it. Known library internals that legitimately outlive the call:
    // PrefixSum's plan-referenced sorted cache and Dedup's persisted
    // band index — so the bound on the other caches is 2. Of the
    // run's local checkpoints only the final edge table of the
    // connected-components loop may be left (the cluster labels read
    // it); every earlier round's checkpoint must be released as the
    // loop goes. The listener holds a strong reference to every RDD it
    // sees persisted, so the ContextCleaner cannot free one after a GC:
    // only an explicit unpersist removes it, and the counts do not
    // depend on GC timing.
    val sc = spark.sparkContext
    val tag = "graft.test.curateRun"
    val mark = s"curate-${UUID.randomUUID()}"
    val built = new ConcurrentHashMap[Int, String]()
    val held = new ConcurrentHashMap[Int, AnyRef]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(tag)).foreach { v =>
          if (v == mark) e.stageInfos.flatMap(_.rddInfos)
            .filter(_.storageLevel.isValid).foreach { r =>
              built.put(r.id, r.callSite)
              sc.getPersistentRDDs.get(r.id).foreach(held.put(r.id, _))
            }
          if (v == s"$mark-done") drained.countDown()
        }
    }
    val before = sc.getPersistentRDDs.keySet
    val dir2 = Files.createTempDirectory("graft_curate2").toString
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, mark)
      CuratePipeline.run(spark, docs, "doc_id", "text", dir2, budget)
      // listener events arrive in order: once this job's start is seen,
      // every job of the run above has been seen
      sc.setLocalProperty(tag, s"$mark-done")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS))
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
    val ours = built.asScala.toMap -- before
    val (ckpts, caches) = ours.partition { case (_, site) => site.startsWith("localCheckpoint ") }
    val (own, library) = caches
      .partition { case (_, site) => site.contains("CuratePipeline.scala") }
    def left(rdds: Map[Int, String]) = rdds.filter { case (id, _) => sc.getPersistentRDDs.contains(id) }
    assert(own.size === 3, s"expected the pipeline's scored/exact/surv persists: $ours")
    assert(left(own).isEmpty, s"pipeline must drop its own caches: ${left(own)}")
    assert(left(library).size <= 2, s"library caches beyond the known internals: ${left(library)}")
    assert(ckpts.size >= 2, s"expected the connected-components checkpoints: $ours")
    assert(left(ckpts).size <= 1, s"local checkpoints beyond the final edge table: ${left(ckpts)}")
    held.clear()
    val a = curated.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val b = spark.read.parquet(s"$dir2/curated")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a === b)
  }
}
