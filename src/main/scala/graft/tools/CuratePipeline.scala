package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Session
import graft.llm.{Dedup, TextHash, TextStats}
import graft.ops.PrefixSum

/** The composed curation pipeline as a USER-OPERABLE runnable (the
  * AnnLifecycle treatment applied to the `curation_pipeline` query's
  * shape): point it at a documents parquet and get back the curated
  * training slice plus a stage-by-stage survival report.
  *
  * Stages (each JSON line carries `stage`, surviving `docs`, and
  * `tokens` where counted):
  *  1. `input`    — raw corpus size.
  *  2. `quality`  — Gopher-style heuristic gate
  *     ([[TextStats.withQuality]] `pass_filter`: length / word-length
  *     / digit-ratio bounds), tokens counted with the BPE-ish regex.
  *  3. `exact`    — exact dedup on the md5 of normalized text, min
  *     doc id representative per group.
  *  4. `neardup`  — MinHash-LSH clusters ([[Dedup.minHashClusters]],
  *     banded, bucket-capped — nothing all-pairs), representatives
  *     kept.
  *  5. `budget`   — survivors ranked by quality desc and cut at
  *     `tokenBudget` cumulative tokens via the distributed two-phase
  *     [[PrefixSum]] (a global window would serialize the corpus into
  *     one task at 100 TB); the kept slice is written to
  *     `outDir/curated` with its quality/token/cumulative columns.
  *
  * Every stage is the library call the `curation_pipeline` oracle
  * query pins at sf scale; this main only sequences them over user
  * data and persists the result. Usage:
  *   tools/run.sh graft.tools.CuratePipeline \
  *     <docs.parquet> <idCol> <textCol> <outDir> [tokenBudget=1000000]
  * Smoke-tested in CI on the sf0.001 documents fixture
  * (CuratePipelineSpec).
  */
object CuratePipeline {

  final case class Stage(stage: String, docs: Long, tokens: Option[Long],
                         note: String) {
    def json: String = {
      val t = tokens.map(v => s""","tokens":$v""").getOrElse("")
      s"""{"stage":"${Json.esc(stage)}","docs":$docs$t,"note":"${Json.esc(note)}"}"""
    }
  }

  def run(spark: SparkSession, docs: DataFrame, idCol: String, textCol: String,
          outDir: String, tokenBudget: Long): Seq[Stage] = {
    val out = Seq.newBuilder[Stage]
    out += Stage("input", docs.count(), None, "raw corpus")

    // 2. heuristic quality gate + token counts (one map-side pass)
    val scored = TextStats.withTokenCounts(
        TextStats.withQuality(docs.select(col(idCol).as("doc_id"),
          col(textCol).as("text")), "text"), "text")
      .filter(col("pass_filter"))
      .select(col("doc_id"), col("text"), col("quality_score"), col("re_tokens"))
      .persist() // feeds exact dedup AND the survivor rejoin below
    out += Stage("quality", scored.count(),
      // coalesce: sum over zero survivors is NULL, and getLong would
      // throw (the budget stage below already guards the same way)
      Some(scored.agg(coalesce(sum("re_tokens"), lit(0L)))
        .collect()(0).getLong(0)),
      "heuristic gate (length/word-length/digit-ratio) + regex token counts")

    // 3. exact dedup: min-id representative per normalized-text group
    val exact = scored
      .withColumn("__th", md5(TextHash.normalize(col("text"))))
      .withColumn("__rep0", min("doc_id").over(Window.partitionBy("__th")))
      .filter(col("doc_id") === col("__rep0"))
      .drop("__th", "__rep0")
      .persist()
    out += Stage("exact", exact.count(), None,
      "exact dedup on md5(normalized text), min-id representative")

    // 4. near-dup clusters; keep representatives
    val reps = Dedup.minHashClusters(exact, "doc_id", "text",
        numPerm = 16, bands = 4, tau = 0.85, maxBucket = 64)
      .filter(col("doc_id") === col("rep_id"))
      .select("doc_id")
    val surv = exact.join(reps, "doc_id").persist()
    out += Stage("neardup", surv.count(), None,
      "MinHash-LSH clusters (16 perms / 4 bands / tau 0.85), representatives kept")

    // 5. quality-ordered token-budget cut (distributed prefix sum) + write
    val cum = PrefixSum.withRunningSum(
      surv.select(col("doc_id"), col("text"), col("quality_score"),
        col("re_tokens"),
        (-col("quality_score")).as("__negq"),
        col("re_tokens").cast(DecimalType(20, 0)).as("__tok"),
        lit(0).as("__g")),
      "__g", Seq("__negq", "doc_id"), "__tok", "__cum")
    val kept = cum.filter(col("__cum") <= tokenBudget)
      .select(col("doc_id"), col("text"), col("quality_score"),
        col("re_tokens"), col("__cum").cast("long").as("cum_tokens"))
    kept.write.mode("overwrite").parquet(s"$outDir/curated")
    // the curated slice is on disk now — drop the pipeline's own
    // caches so repeated runs in one session don't accumulate blocks
    // (the QualityClassifier.nbServeAuto cache-lifetime discipline)
    surv.unpersist(); exact.unpersist(); scored.unpersist()
    val curated = spark.read.parquet(s"$outDir/curated")
    out += Stage("budget", curated.count(),
      Some(curated.agg(coalesce(max("cum_tokens"), lit(0L)))
        .collect()(0).getLong(0)),
      s"quality-desc prefix-sum cut at $tokenBudget tokens -> $outDir/curated")
    out.result()
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println("usage: CuratePipeline <docs.parquet> <idCol> <textCol>" +
        " <outDir> [tokenBudget=1000000]")
      sys.exit(2)
    }
    val Array(path, idCol, textCol, outDir) = args.take(4)
    val budget = args.lift(4).map(_.toLong).getOrElse(1000000L)
    val spark = Session.local()
    run(spark, spark.read.parquet(path), idCol, textCol, outDir, budget)
      .foreach(s => println(s.json))
    spark.stop()
  }
}
