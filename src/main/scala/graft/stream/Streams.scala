package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.Row

import graft.ops.{Candles, Envelope}

/** Streaming pipeline assembly — the reference's five jobs re-expressed
  * as Structured Streaming plans (SURVEY.md §2.1/2.2/2.9, §3.1-3.2).
  *
  * The Kafka boundary is pluggable ([[graft.sources.OffsetFileSource]]
  * stands in for the connector; `KafkaFormatSpec`/`SinkSpec` pin both
  * ends): the
  * downstream plan is identical whether the source is
  * `format("kafka")` in production or a file/MemoryStream source in
  * tests (no kafka connector jar offline — SURVEY.md §7). This is the
  * same "envelope in, envelope out" contract the reference has:
  * bytes/string `value` on the wire, typed struct inside.
  */
object Streams {

  /** Feature pipeline plan (reference
    * `kafka_to_kafka_by_spark_for_druid.py`): parse → event-time +
    * watermark → tumbling candles → re-wrap as JSON `value`.
    * In append mode a window emits once its watermark passes — the
    * reference's own configuration.
    */
  def candleFeatures(wire: DataFrame, schema: StructType, tsCol: String,
                     keyCol: String, valCol: String, sideCol: String,
                     sideValue: String, dur: String, watermark: String): DataFrame = {
    val parsed = Envelope.parse(Envelope.bytesToString(wire), schema)
      .withWatermark(tsCol, watermark)
    Envelope.wrap(
      Candles.tumbling(parsed, tsCol, keyCol, valCol, sideCol, sideValue, dur))
  }

  /** Streaming exact-dedup — the stream form of `Dedup.exact` (llm):
    * drop repeated keys while bounding state with the event-time
    * watermark. `dropDuplicatesWithinWatermark` keeps a key's state
    * only until the watermark passes its event time + delay, so state
    * is O(keys per watermark window), not O(stream history) — the
    * only dedup that survives an unbounded 100 TB/day stream.
    * Exactly-once within the delay window; duplicates farther apart
    * than the delay are the (documented) approximation.
    */
  def dedupWithinWatermark(df: DataFrame, tsCol: String, delay: String,
                           keyCols: Seq[String]): DataFrame =
    df.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Watermarked tumbling-window bottom-k quantile sketch per key —
    * the streaming face of `Quantiles.BottomKAgg`: because the
    * aggregate is order-independent, the window emitted at watermark
    * close is bit-identical to a batch sketch over the same rows
    * (StreamSketchSpec), and state per open (key, window) is the
    * bounded ≤2k-entry buffer, never the rows. Append-mode safe.
    */
  def windowedSketch(df: DataFrame, tsCol: String, keyCol: String,
                     valCol: String, idCol: String, k: Int,
                     windowDur: String, delay: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    import graft.ops.Quantiles
    val agg = udaf(new Quantiles.BottomKAgg(k), Encoders.product[Quantiles.QHV])
    df.withWatermark(tsCol, delay)
      .select(col(tsCol), col(keyCol),
        md5(concat_ws(":", lit("qsketch"), col(idCol).cast("string"))).as("__h"),
        col(valCol).cast("double").as("__v"))
      .groupBy(window(col(tsCol), windowDur), col(keyCol))
      .agg(agg(col("__h"), col("__v")).as("sk"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col(keyCol),
        col("sk.n").as("n"), col("sk.m").as("m"), col("sk.vs").as("vs"))
  }

  /** Stream-stream band (interval) join: left rows match right rows
    * of the same key whose event time is within `[leftTs − bandSec,
    * leftTs]` — the trade↔quote enrichment join. In streaming both
    * inputs MUST be watermarked and the join condition carries the
    * time band on BOTH event-time columns: that is what lets Spark
    * bound each side's state buffer (evict right rows older than
    * watermark − band) instead of buffering the streams forever. The
    * helper therefore applies the watermarks itself (delays are
    * parameters) rather than trusting callers to — an unwatermarked
    * stream-stream inner join compiles and then buffers state without
    * bound. Column refs are side-qualified so identical ts/key names
    * on both inputs don't hit ambiguous-reference errors. In batch
    * the watermark nodes are optimized away (no-op) and the plan is
    * the plain band join (StreamJoinSpec proves stream==batch).
    */
  def bandJoin(left: DataFrame, right: DataFrame, keyCol: String,
               leftTs: String, rightTs: String, bandSec: Long,
               leftDelay: String = "5 seconds",
               rightDelay: String = "5 seconds"): DataFrame = {
    val l = left.withWatermark(leftTs, leftDelay)
    val r = right.withWatermark(rightTs, rightDelay)
    l.join(r,
      l(keyCol) === r(keyCol) &&
        l(leftTs) >= r(rightTs) &&
        l(leftTs) < r(rightTs) + expr(s"INTERVAL $bandSec SECONDS"))
      .drop(r(keyCol))
  }

  /** File sink with checkpoint + processing-time trigger (reference
    * K1: 30-min JSON sink partitioned by (processing_date, code)).
    */
  def fileSink(df: DataFrame, format: String, path: String, checkpoint: String,
               trigger: Trigger, partitionCols: Seq[String]): DataStreamWriter[Row] = {
    val w = df.writeStream
      .format(format)
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
    if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w
  }

  /** `foreachBatch` upsert sink: maintains a latest-state table under
    * `statePath` keyed by `keyCols` with `orderCols` deciding
    * recency — the streaming face of `Compaction.latestMerge`
    * (CDC-style upsert into a file-backed snapshot; file sinks alone
    * are append-only).
    *
    * Durability protocol — generation dirs + atomic pointer commit. A
    * naive `mode("overwrite")` of the state dir deletes the ONLY copy
    * of accumulated state before the replacement commits: a crash in
    * that window loses everything and the replayed batch silently
    * rebuilds from itself alone. Instead each micro-batch writes a
    * fresh `gen-<batchId>` subdirectory (reading the PREVIOUS
    * generation — reader and writer never touch the same files, so no
    * lineage pinning is needed), then commits it by atomically
    * renaming a temp pointer file onto `_LATEST`. A crash at ANY
    * point leaves `_LATEST` on the last fully-written generation;
    * Spark replays the uncommitted batch, which rewrites its own
    * `gen-<batchId>` dir (deterministic name) and re-commits.
    * Superseded generations are reaped only after the swap.
    *
    * Exactly-once then follows from latestMerge idempotence
    * (`latest(state ∪ batch)` twice = once, proved in
    * `UpsertSinkSpec`) — now for crash-DURING-write as well as
    * crash-before-write.
    *
    * Scale notes: each micro-batch is one keyed reduction over
    * state ∪ batch. Rewriting full state per generation is the
    * object-store-compatible lowest common denominator (and what
    * Delta/Iceberg MERGE does under the hood per touched file);
    * partition the generation write by a key prefix so a batch
    * rewrites only the partitions it touches.
    */
  def upsertSink(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
                 statePath: String, checkpoint: String): DataStreamWriter[Row] =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val merged = graft.ops.Compaction.latestMerge(
          latestState(spark, statePath).toSeq :+ batch, keyCols, orderCols)
        val gen = f"gen-$batchId%020d"
        val root = new java.io.File(statePath)
        merged.write.mode("overwrite").parquet(new java.io.File(root, gen).getPath)
        commitGeneration(root, gen)
      }

  /** Read the committed state table written by [[upsertSink]]; None
    * until the first generation commits.
    */
  def latestState(spark: SparkSession, statePath: String): Option[DataFrame] = {
    val root = new java.io.File(statePath)
    val pointer = new java.io.File(root, "_LATEST")
    if (!pointer.isFile) None
    else {
      val gen = new String(
        java.nio.file.Files.readAllBytes(pointer.toPath), "UTF-8").trim
      val dir = new java.io.File(root, gen)
      if (dir.isDirectory) Some(spark.read.parquet(dir.getPath)) else None
    }
  }

  /** Swap `_LATEST` onto `gen` via write-temp + atomic rename, then
    * reap superseded generation dirs (safe: they are no longer
    * referenced; a crash mid-reap leaves only unreferenced garbage
    * that the next commit's reap removes).
    */
  private def commitGeneration(root: java.io.File, gen: String): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    val tmp = new java.io.File(root, s"._latest.$gen.tmp")
    Files.write(tmp.toPath, gen.getBytes("UTF-8"))
    Files.move(tmp.toPath, new java.io.File(root, "_LATEST").toPath,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    root.listFiles().iterator
      .filter(f => f.isDirectory && f.getName.startsWith("gen-") && f.getName != gen)
      .foreach(deleteRecursively)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    f.delete(): Unit
  }
}
