package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Session
import graft.llm.{AnnIndex, Similarity}

/** The IVF index lifecycle as a USER-OPERABLE runnable (r10 verdict
  * #3): AnnIndexSpec proves the closed loop — build → persist → probe
  * → delta-ingest → churn monitor → conditional re-train — but a user
  * couldn't point it at their own parquet. This main does exactly
  * that, printing the churn series as JSON lines and exercising the
  * ivfChurn scaladoc's re-train contract (re-train when churn exceeds
  * `retrainFactor` × the post-build baseline).
  *
  * Stages (each JSON line carries `stage`, cumulative `vectors`, and
  * the member-mean `churn` where measured):
  *  1. `build`   — [[AnnIndex.buildIvf]], index triple persisted under
  *     `indexDir/{vectors,centroids,quantizer}`; baseline churn
  *     measured right after (the single-Lloyd-pass borderline mass).
  *  2. `probe`   — [[AnnIndex.ivfTopK]] over a 1-in-50 query sample
  *     against the persisted index (the serve path users run
  *     per-batch).
  *  3. `delta`   — if a delta parquet is given: [[AnnIndex
  *     .ivfAssignStream]]'s map-side argmin (the batch-identical
  *     stream form) appends assignments to `indexDir/deltas`; churn
  *     re-measured over build ∪ deltas.
  *  4. `retrain` — only when churn > retrainFactor × baseline:
  *     [[AnnIndex.buildIvf]] over the full corpus ∪ delta, new index
  *     persisted under `indexDir/retrained/`, churn re-measured (the
  *     monitor must read ~baseline again).
  *
  * Scale shape: every stage is the library call a production pipeline
  * would schedule — one corpus pass each, k·dim-bounded driver state,
  * no all-pairs anywhere (AnnIndex scaladocs carry the arguments).
  *
  * Usage:
  *   tools/run.sh graft.tools.AnnLifecycle \
  *     <vectors.parquet> <idCol> <vecCol> <indexDir> [cells=64] [delta.parquet]
  * Smoke-tested in CI on the sf0.001 embeddings fixture
  * (AnnLifecycleSpec).
  */
object AnnLifecycle {

  final case class Stage(stage: String, vectors: Long, churn: Option[Double],
                         note: String) {
    def json: String = {
      val c = churn.map(v => f""","churn":$v%.4f""").getOrElse("")
      s"""{"stage":"${Json.esc(stage)}","vectors":$vectors$c,"note":"${Json.esc(note)}"}"""
    }
  }

  /** The runnable loop; returns the stage series (printed as JSON
    * lines by [[main]], asserted by AnnLifecycleSpec). `delta` rows
    * must carry the same id/vec columns as `corpus`.
    */
  def run(spark: SparkSession, corpus: DataFrame, idCol: String, vecCol: String,
          indexDir: String, cells: Int, delta: Option[DataFrame],
          k: Int = 5, nprobe: Int = 2,
          retrainFactor: Double = 2.0): Seq[Stage] = {
    val dim = corpus.select(Similarity.toDoubleVec(col(vecCol)).as("v"))
      .limit(1).collect().head.getSeq[Double](0).length
    def memberMeans(v: DataFrame): DataFrame = Similarity.cellCentroids(
      v.select(col("corpus_id").as("id"), col("cell"), col("v")), dim)
    def churnOf(v: DataFrame): Double =
      AnnIndex.ivfChurn(v, memberMeans(v)).collect()(0).getDouble(2)

    val out = Seq.newBuilder[Stage]

    // 1. BUILD + persist
    val (vectors, cents, quant) = AnnIndex.buildIvf(corpus, idCol, vecCol, cells)
    vectors.write.mode("overwrite").parquet(s"$indexDir/vectors")
    cents.write.mode("overwrite").parquet(s"$indexDir/centroids")
    quant.write.mode("overwrite").parquet(s"$indexDir/quantizer")
    val v0 = spark.read.parquet(s"$indexDir/vectors")
    val c0 = spark.read.parquet(s"$indexDir/centroids")
    val q0 = spark.read.parquet(s"$indexDir/quantizer")
    val n0 = v0.count()
    val baseline = churnOf(v0)
    out += Stage("build", n0, Some(baseline),
      s"index persisted at $indexDir; baseline = post-build member-mean churn")

    // 2. PROBE the persisted index (1-in-50 query sample)
    val queries = corpus.filter(pmod(col(idCol).cast("long"), lit(50L)) === 0L)
    val hits = AnnIndex.ivfTopK(v0, c0, queries, idCol, vecCol, k, nprobe).count()
    out += Stage("probe", n0, None,
      s"ivfTopK k=$k nprobe=$nprobe over ${queries.count()} queries -> $hits rows")

    // 3. DELTA ingest through the frozen quantizer + churn monitor
    delta.foreach { d =>
      // overwrite, not append: a re-run against an existing indexDir
      // must not union stale deltas from prior runs into the churn
      // measurement (the build stage above already overwrote the index
      // triple — the deltas dir has to reset with it)
      AnnIndex.ivfAssignStream(d, idCol, vecCol, q0)
        .write.mode("overwrite").parquet(s"$indexDir/deltas")
      val v1 = v0.union(spark.read.parquet(s"$indexDir/deltas"))
      val n1 = v1.count()
      val churn = churnOf(v1)
      val trip = retrainFactor * baseline
      out += Stage("delta", n1, Some(churn),
        f"deltas ingested; re-train trips at $trip%.4f (${retrainFactor}%.1fx baseline)")

      // 4. conditional RE-TRAIN
      if (churn > trip) {
        val full = corpus.select(col(idCol).cast("long").as(idCol),
            Similarity.toDoubleVec(col(vecCol)).as(vecCol))
          .union(d.select(col(idCol).cast("long").as(idCol),
            Similarity.toDoubleVec(col(vecCol)).as(vecCol)))
        val (v2, c2, q2) = AnnIndex.buildIvf(full, idCol, vecCol, cells)
        v2.write.mode("overwrite").parquet(s"$indexDir/retrained/vectors")
        c2.write.mode("overwrite").parquet(s"$indexDir/retrained/centroids")
        q2.write.mode("overwrite").parquet(s"$indexDir/retrained/quantizer")
        val vr = spark.read.parquet(s"$indexDir/retrained/vectors")
        out += Stage("retrain", vr.count(), Some(churnOf(vr)),
          s"churn tripped the monitor; new index at $indexDir/retrained")
      } else
        out += Stage("retrain_skipped", n1, None,
          "churn under the trip threshold; index stays")
    }
    out.result()
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println("usage: AnnLifecycle <vectors.parquet> <idCol> <vecCol>" +
        " <indexDir> [cells=64] [delta.parquet]")
      sys.exit(2)
    }
    val Array(path, idCol, vecCol, indexDir) = args.take(4)
    val cells = args.lift(4).map(_.toInt).getOrElse(64)
    val deltaPath = args.lift(5)
    val spark = Session.local()
    val corpus = spark.read.parquet(path)
    val delta = deltaPath.map(spark.read.parquet(_))
    run(spark, corpus, idCol, vecCol, indexDir, cells, delta)
      .foreach(s => println(s.json))
    spark.stop()
  }
}
