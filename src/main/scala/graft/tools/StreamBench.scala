package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.Session
import graft.llm.Dedup
import graft.stream.{StatefulFeatures, StreamDedup, Streams}

/** Streaming micro-benchmark (dev-side, not part of the driver
  * contract) — the reference is 4/5 streaming jobs but the engine's
  * bench surface was all batch (round-5 verdict item #1). Drives the
  * headline streaming operators with a chunked FILE source at sf0.1
  * volume and records, per operator: rows/sec per trigger, per-trigger
  * latency, and state-store row/byte growth across triggers (from
  * `StreamingQueryProgress` — the same numbers a production monitor
  * would scrape).
  *
  * Method: the events table is replicated `R`× and split into `C`
  * time-ordered chunk files written in ascending-mtime order, so the
  * file source (`maxFilesPerTrigger = 2`) replays them as C/2
  * micro-batches with advancing event time — watermarks move, windows
  * close, and state eviction actually runs, unlike a single all-data
  * batch. Sink is `noop` (operator cost, not sink materialization).
  *
  * Noise discipline (r11 verdict #4 — the batch records' canary/min
  * machinery applied here): three same-code captures moved ±40%
  * absolute in r11 with every relative claim stable, so a single-run
  * single-capture record cannot support cross-round comparison. Each
  * capture now (a) runs every operator [[Reps]] times on fresh
  * checkpoints, publishing all reps and headlining the max rows/s (the
  * stable column — interference only slows a replay down), and (b)
  * embeds two FROZEN canary shapes at head and tail (stateless
  * projection + watermarked tumbling agg) whose ratio across captures
  * is the box/ambience factor. `tools/stream_drift.py` consumes two
  * records, normalizes per-op by the canary factor, and mechanically
  * re-checks the record's relative claims (dense ≥ other serving
  * forms, no B-trend, native ≥ HOF, stateless ⇒ state_rows = 0,
  * stateful bounds).
  *
  * Usage: tools/run.sh graft.tools.StreamBench [sfDir] [replicas] [outJson]
  */
object StreamBench {

  private val Chunks = 40
  private val FilesPerTrigger = 2

  /** Per-op repetitions (fresh checkpoint each) — the stream analog of
    * the batch records' min-of-3: ±40% same-code ambience was measured
    * between single captures (NOTES_r11), so the record publishes every
    * rep and headlines the MAX rows/s (the stable column — interference
    * only ever slows a replay down). Override: SPARK_GRAFT_STREAM_REPS.
    */
  private val Reps = sys.env.getOrElse("SPARK_GRAFT_STREAM_REPS", "2").toInt

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val replicas = args.lift(1).map(_.toInt).getOrElse(5)
    val outJson = args.lift(2).getOrElse("STREAMBENCH_r6.json")
    val spark = Session.local()
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "200")
    val cpus = spark.conf.get("spark.sql.shuffle.partitions")
    import spark.implicits._

    val work = java.nio.file.Files.createTempDirectory("streambench").toFile
    val inputDir = new java.io.File(work, "input").getPath

    // ---- input: events → ticks, replicated, chunked by event time ----
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("value"), col("event_id"))
    val ticks = ev
      .crossJoin(spark.range(replicas).toDF("r"))
      .select(
        col("ts"),
        col("user_id").as("key"),
        unix_micros(col("ts")).as("tsUs"),
        col("value").as("price"),
        (pmod(col("event_id") * replicas + col("r"), lit(97)) + 1).cast("int").as("size"),
        when(pmod(col("event_id") + col("r"), lit(2)) === 0, "bid").otherwise("ask").as("side"),
        floor(pmod(col("value"), lit(20))).as("level_price"),
        pmod(col("event_id") + col("r"), lit(8)).cast("double").as("level_size"),
        (pmod(col("value"), lit(10)) + 1).as("vol"),
        pmod(col("event_id"), lit(10000)).as("dup_key"),
        to_json(struct(col("ts"), col("user_id").cast("string").as("k"),
          when(pmod(col("event_id") + col("r"), lit(2)) === 0, "BID").otherwise("ASK").as("side"),
          col("value").as("v"))).cast("binary").as("value"))
    // time-ordered chunks, one append write each → ascending mtimes, so
    // the file source replays them in event-time order (single-task
    // window is fine in a bench generator)
    val chunked = ticks
      .withColumn("__chunk",
        ntile(Chunks).over(org.apache.spark.sql.expressions.Window.orderBy("tsUs")))
      .localCheckpoint()
    val n = chunked.count()
    for (c <- 1 to Chunks)
      chunked.filter(col("__chunk") === c).drop("__chunk")
        .coalesce(1).write.mode("append").parquet(inputDir)
    val inputSchema = spark.read.parquet(inputDir).schema
    println(s"input rows=$n chunks=$Chunks sf=$sfDir replicas=$replicas")

    def source(): DataFrame = spark.readStream
      .schema(inputSchema)
      .option("maxFilesPerTrigger", FilesPerTrigger)
      .parquet(inputDir)

    // ---- second input: documents stream + the persisted LSH index ----
    // Stream docs are id-offset replicas of the corpus (text repetition
    // only re-probes the same buckets — stream docs never pair with
    // each other, so candidate volume per doc stays realistic); the
    // index is built ONCE from the un-replicated corpus and
    // materialized before any timing, as production would serve it.
    val docInputDir = new java.io.File(work, "docs").getPath
    val docsTbl = graft.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val docChunked = docsTbl
      .crossJoin(spark.range(replicas * 4L).toDF("dr"))
      .select((col("doc_id") + col("dr") * lit(1000000L)).as("id"), col("text"))
      .withColumn("__chunk",
        ntile(Chunks).over(org.apache.spark.sql.expressions.Window.orderBy("id")))
      .localCheckpoint()
    val nDocs = docChunked.count()
    for (c <- 1 to Chunks)
      docChunked.filter(col("__chunk") === c).drop("__chunk")
        .coalesce(1).write.mode("append").parquet(docInputDir)
    val docSchema = spark.read.parquet(docInputDir).schema
    def docSource(): DataFrame = spark.readStream
      .schema(docSchema)
      .option("maxFilesPerTrigger", FilesPerTrigger)
      .parquet(docInputDir)
    val index = Dedup.bandedIndex(
      docsTbl.select(col("doc_id").as("id"), col("text")), "id", "text",
      numPerm = 32, bands = 8, maxBucket = 64)
    println(s"doc input rows=$nDocs index rows=${index.count()}")

    // ---- third input: query-vector stream + the persisted LSH index ----
    // Stream vectors are id-offset replicas of the corpus (same probe
    // distribution as production: arrivals mostly DO have near matches);
    // the index pair is built once from the un-replicated corpus.
    val vecInputDir = new java.io.File(work, "vecs").getPath
    val embTbl = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val annPlanes = graft.llm.Similarity.md5Planes(dim = 64, groups = 16, bitsPerGroup = 6)
    val vecChunked = embTbl
      .crossJoin(spark.range(replicas * 4L).toDF("vr"))
      .select((col("vec_id") + col("vr") * lit(1000000L)).as("id"), col("embedding"))
      .withColumn("__chunk",
        ntile(Chunks).over(org.apache.spark.sql.expressions.Window.orderBy("id")))
      .localCheckpoint()
    val nVecs = vecChunked.count()
    for (c <- 1 to Chunks)
      vecChunked.filter(col("__chunk") === c).drop("__chunk")
        .coalesce(1).write.mode("append").parquet(vecInputDir)
    val vecSchema = spark.read.parquet(vecInputDir).schema
    def vecSource(): DataFrame = spark.readStream
      .schema(vecSchema)
      .option("maxFilesPerTrigger", FilesPerTrigger)
      .parquet(vecInputDir)
    val (annBuckets0, annVectors0) = graft.stream.StreamAnn.bucketIndex(
      embTbl, "vec_id", "embedding", annPlanes)
    val annBuckets = annBuckets0.localCheckpoint()
    val annVectors = annVectors0.localCheckpoint()
    println(s"vec input rows=$nVecs ann index buckets=${annBuckets.count()}")
    // persisted IVF quantizer trained ONCE from the batch corpus — the
    // delta-ingest row measures AnnIndex.ivfAssignStream, the map-side
    // argmin projection that appends stream arrivals to the persisted
    // index (stateless, zero shuffle; bit-equality to the batch
    // assignment is AnnIndexSpec's job, this row is throughput only)
    val (_, _, ivfQuant0) = graft.llm.AnnIndex.buildIvf(
      embTbl, "vec_id", "embedding", cells = 64, iters = 1)
    val ivfQuant = ivfQuant0.localCheckpoint()
    println(s"ivf quantizer cells=${ivfQuant.count()}")
    // DSIR model trained once on the batch corpus, served as a map
    // literal — the scorer is a pure projection (zero stream state)
    val dsirModel = graft.llm.Dsir.bucketModel(
      docsTbl, "doc_id", "text", col("doc_id") % 10 < 2, buckets = 1024)
      .collect().map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("lr_micro"))
      .toMap
    println(s"dsir model buckets=${dsirModel.size}")
    // NB quality model trained once on the batch corpus, served as a
    // map literal — scoring is a stateless pure projection (the
    // model-based quality gate of the GPT-3 pipeline, stream form)
    val nbPos = col("source").isin("src0", "src1", "src2", "src3")
    val nbTrain = graft.Tables.documents(spark, sfDir)
      .filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val (nbM, nbOov, nbPrior) = graft.llm.QualityClassifier.serve(
      graft.llm.QualityClassifier.nbModel(nbTrain, "text", nbPos),
      graft.llm.QualityClassifier.nbPrior(nbTrain, nbPos))
    println(s"nb model features=${nbM.size}")
    // hashed NB model at B=4096 — PAST the literal ceiling (1024), the
    // regime where production serves by join. Two serving forms of the
    // SAME model ride the stream A/B: the one-row broadcast-map join
    // (nbScoreBroadcast — the stream-legal join path; the map arrives
    // as broadcast data, no janino literal cliff) vs the map-literal
    // fold forced past its measured ceiling.
    val nbHashedFeat = graft.llm.QualityClassifier.hashedFeature(4096)
    val nbHashedModel = graft.llm.QualityClassifier.nbModel(
      nbTrain, "text", nbPos, nbHashedFeat).localCheckpoint()
    val nbHashedPrior = graft.llm.QualityClassifier.nbPrior(nbTrain, nbPos)
    val nbHashedRow = graft.llm.QualityClassifier.serveRow(
      nbHashedModel, nbHashedPrior).localCheckpoint()
    val (nbHm, nbHoov, nbHprior) = graft.llm.QualityClassifier.serve(
      nbHashedModel, nbHashedPrior)
    val (nbDllr, nbDocc, nbDprior) = graft.llm.QualityClassifier.serveDense(
      nbHashedModel, nbHashedPrior, 4096)
    println(s"nb hashed model features=${nbHm.size} (B=4096)")
    // r11 (verdict #6): the same gate a DECADE past where the map
    // literal cliffed — B=65536, inside the measured-flat band of
    // NOTES_r11 / SCALE_DECADES_r11. Throughput must hold ~flat vs the
    // 4096 row (the 0.5 MB UnsafeArrayData literal is one memcpy per
    // action).
    val nbHashed64kModel = graft.llm.QualityClassifier.nbModel(
      nbTrain, "text", nbPos,
      graft.llm.QualityClassifier.hashedFeature(65536)).localCheckpoint()
    val (nbD64llr, nbD64occ, nbD64prior) = graft.llm.QualityClassifier
      .serveDense(nbHashed64kModel, nbHashedPrior, 65536)
    println(s"nb hashed 64k model occupied=${nbHashed64kModel.count()} (B=65536)")
    // and at the full measured bound — B = DenseModelMaxBuckets (1M),
    // fasttext-gate width: a 9 MB UnsafeArrayData literal riding every
    // micro-batch's taskBinary; the ceiling sweep says the per-action
    // cost stays sub-second, this row says the stream agrees
    val nbHashed1mModel = graft.llm.QualityClassifier.nbModel(
      nbTrain, "text", nbPos,
      graft.llm.QualityClassifier.hashedFeature(1 << 20)).localCheckpoint()
    val (nbD1mllr, nbD1mocc, nbD1mprior) = graft.llm.QualityClassifier
      .serveDense(nbHashed1mModel, nbHashedPrior, 1 << 20)
    println(s"nb hashed 1m model occupied=${nbHashed1mModel.count()} (B=1048576)")
    // wordpiece vocab trained once on the batch corpus (8 BPE merges),
    // served as map literals — the tokenizer scorer is a stateless
    // pure projection on the stream
    val wpVocab = graft.llm.Wordpiece.vocab(
        graft.llm.Bpe.train(docsTbl, "text", numMerges = 8))
      .collect().map(r => (r.getString(0), r.getBoolean(1))).toSeq.sorted
    println(s"wordpiece vocab pieces=${wpVocab.size}")

    val candleSchema = StructType(Seq(
      StructField("ts", TimestampType), StructField("k", StringType),
      StructField("side", StringType), StructField("v", DoubleType)))

    // ---- frozen canary shapes (r11 verdict #4) ----
    // The control instruments of the batch records, stream form: two
    // FROZEN shapes whose cost is code-independent — a stateless
    // projection (scan+project floor) and a watermarked tumbling agg
    // (shuffle+state floor). They run at the HEAD and TAIL of every
    // capture (each with the same reps as the ops), so the record
    // carries its own ambience measurement: cross-capture comparisons
    // normalize per-op rows/s by the canary ratio
    // (tools/stream_drift.py), and the head/tail spread bounds
    // intra-capture interference. Do not edit these shapes — their
    // value is being identical in every record from r12 on.
    val canaryProject: () => DataFrame = () => source()
      .select(col("key"), (col("price") * 2).as("p2"), col("tsUs"))
    val canaryWindow: () => DataFrame = () => source()
      .withWatermark("ts", "5 seconds")
      .groupBy(window(col("ts"), "10 minutes"), col("key"))
      .agg(sum("price").as("sp"), count(lit(1)).as("cnt"))

    // ---- operators under test ----
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "canary_project" -> canaryProject,
      "canary_window" -> canaryWindow,
      "candle_features" -> (() => Streams.candleFeatures(source(), candleSchema,
        "ts", "k", "v", "side", "ASK", "1 minute", "10 minutes")),
      "stateful_ewma_ofi" -> (() => StatefulFeatures(source(), alpha = 0.8)),
      "stateful_ewma_tws" -> (() => StatefulFeatures.applyTws(source(), alpha = 0.8)),
      "book_replay" -> (() => StatefulFeatures.bookReplay(
        source().select(col("key"), col("tsUs"), col("side"),
          col("level_price").as("price"), col("level_size").as("size")))),
      "vpin_buckets" -> (() => StatefulFeatures.vpinBuckets(
        source().select(col("key"), col("tsUs"), col("price"), col("vol")),
        bucketSize = 500.0)),
      "dedup_watermark" -> (() => Streams.dedupWithinWatermark(
        source(), "ts", "1 hour", Seq("key", "dup_key"))),
      "neardup_vs_index" -> (() => StreamDedup.nearDupMatches(
        docSource(), index, "id", "text", numPerm = 32, bands = 8, tau = 0.7)),
      // streaming ANN probe: stream-static (grp,bucket) equi-join vs the
      // persisted LSH index pair; STATELESS — the corpus lives in the
      // index tables, never in stream state (StreamAnn scaladoc)
      "ann_probe" -> (() => graft.stream.StreamAnn.matches(
        vecSource(), annBuckets, annVectors, "id", "embedding",
        annPlanes, minCosine = 0.6)),
      // IVF delta ingest vs the persisted quantizer: stateless map-side
      // argmin (k·dim centroid literal), the streaming half of the
      // build-once/probe-many index story — state_rows must stay 0
      "ivf_delta_ingest" -> (() => graft.llm.AnnIndex.ivfAssignStream(
        vecSource(), "id", "embedding", ivfQuant)),
      // NB quality gate on the doc stream: map-literal fold per row
      // (QualityClassifier.nbScoreMap) — stateless, zero shuffle
      "nb_quality_score" -> (() => graft.llm.QualityClassifier.nbScoreMap(
        docSource(), "id", "text", nbM, nbOov, nbPrior)),
      // THE 100 TB serving form past LiteralModelMaxFeatures: the
      // B=4096 hashed model as a ONE-row stream-static broadcast join
      // (stateless — nbScore's explode+groupBy re-aggregation would be
      // a stateful streaming agg, the wrong serving shape)
      "nb_quality_score_hashed" -> (() => graft.llm.QualityClassifier
        .nbScoreBroadcast(docSource(), "id", "text", nbHashedRow, nbHashedFeat)),
      // same model forced through the literal path — the stream side of
      // the NOTES_r9 crossover table
      "nb_quality_score_hashed_lit" -> (() => graft.llm.QualityClassifier
        .nbScoreMap(docSource(), "id", "text", nbHm, nbHoov, nbHprior, nbHashedFeat)),
      // dense O(1) array-literal serving of the same hashed model —
      // flat in B (NOTES_r10), the winning stream form for hashed
      // features at any bucket count
      "nb_quality_score_hashed_dense" -> (() => graft.llm.QualityClassifier
        .nbScoreDense(docSource(), "id", "text", nbDllr, nbDocc, nbDprior, 4096)),
      // production width: the dense gate at B=65536 (state_rows must
      // stay 0 and rows/s within ~15% of the 4096 row — the flat-in-B
      // law at a width where the map literal would long have cliffed)
      "nb_quality_score_hashed_dense_64k" -> (() => graft.llm.QualityClassifier
        .nbScoreDense(docSource(), "id", "text", nbD64llr, nbD64occ,
          nbD64prior, 65536)),
      // the full measured dense bound on the stream (B=1M)
      "nb_quality_score_hashed_dense_1m" -> (() => graft.llm.QualityClassifier
        .nbScoreDense(docSource(), "id", "text", nbD1mllr, nbD1mocc,
          nbD1mprior, 1 << 20)),
      "dsir_score" -> (() => graft.llm.Dsir.scoreWith(
        docSource(), "id", "text", dsirModel, defaultMicro = 0L,
        buckets = 1024)),
      // same model as a dense O(1) array literal (the NOTES_r10
      // serving law applied to DSIR) — the production path importanceWeights
      // now serves below the ceiling
      "dsir_score_dense" -> (() => graft.llm.Dsir.scoreDense(
        docSource(), "id", "text",
        IndexedSeq.tabulate(1024)(b => dsirModel.getOrElse(b.toLong, 0L)),
        buckets = 1024)),
      "sketch_quantiles" -> (() => Streams.windowedSketch(
        source(), "ts", "key", "price", "tsUs", k = 64,
        windowDur = "10 minutes", delay = "5 seconds")),
      "imbalance_bars" -> (() => StatefulFeatures.imbalanceBars(
        source(), threshold = 9L)),
      // streaming drift monitor: z standardized map-side against a
      // FIXED pre-trained reference (the production deployment — no
      // stream-side statistics), recursion state = two longs per key
      "cusum_monitor" -> (() => StatefulFeatures.cusum(
        source().select(col("key"), col("tsUs"),
          floor((col("price") - lit(250.0)) / lit(144.0) * lit(1e6) + lit(0.5))
            .cast("long").as("zMicro")),
        slackMicro = 500000L, thresholdMicro = 4000000L)),
      // stream-stream inner band join: trades enriched with same-key
      // quotes within [ts-5s, ts] — two independent file sources over
      // the same input. State = both sides buffered inside
      // watermark-band; the row measures that buffer staying bounded.
      "band_join" -> (() => Streams.bandJoin(
        source().select(col("key"), col("ts"), col("price")),
        source().select(col("key"), col("ts"), col("level_price"),
          col("level_size")),
        "key", "ts", "ts", bandSec = 5)),
      // native fused greedy matcher (wordpiece_count Expression) as a
      // stateless stream scorer
      "wordpiece_score" -> (() => docSource()
        .select(col("id"),
          graft.llm.Wordpiece.tokenCountNative(col("text"), wpVocab)
            .as("wp_tokens"))),
      // tail canaries: the same frozen shapes again at capture end —
      // the head/tail delta is the capture's own ambience reading
      "canary_project_tail" -> canaryProject,
      "canary_window_tail" -> canaryWindow)

    def pct(xs: Seq[Double], p: Double): Double =
      if (xs.isEmpty) 0.0
      else xs.sorted.apply(math.min(xs.size - 1, (p * xs.size).toInt))
    def r1(v: Double) = math.rint(v * 10) / 10
    def r3(v: Double) = math.rint(v * 1000) / 1000

    final case class Rep(wall: Double, rows: Long, nTriggers: Int,
                         trigMs: Seq[Double], rowsPerSec: Seq[Double],
                         stateRows: Seq[Long], stateBytes: Seq[Long]) {
      def rps: Double = if (wall > 0) rows / wall else 0.0
    }

    val results = ops.map { case (name, mk) =>
      // transformWithState requires the RocksDB provider (multiple
      // column families); the others run on the default HDFS-backed
      // store so their state_bytes are comparable with each other
      if (name == "stateful_ewma_tws")
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      else
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      // Reps repetitions per op, fresh checkpoint each (the file-source
      // offsets live in the checkpoint — reusing one would replay
      // nothing). Headline = the MAX-rows/s rep; every rep published.
      val reps = (1 to Reps).map { r =>
        val ckpt = new java.io.File(work, s"ckpt-$name-$r").getPath
        val t0 = System.nanoTime()
        val q: StreamingQuery = mk().writeStream
          .format("noop")
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .start()
        q.processAllAvailable()
        val wall = (System.nanoTime() - t0) / 1e9
        val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
        q.stop()
        Rep(wall,
          progress.map(_.numInputRows).sum,
          progress.size,
          progress.map(_.durationMs.get("triggerExecution").toDouble),
          progress.map(p =>
            p.numInputRows / (p.durationMs.get("triggerExecution").toDouble / 1000)),
          progress.map(_.stateOperators.map(_.numRowsTotal).sum),
          progress.map(_.stateOperators.map(_.memoryUsedBytes).sum))
      }
      val best = reps.maxBy(_.rps)
      val line = Seq(
        s""""rows":${best.rows}""",
        s""""wall_sec":${r3(best.wall)}""",
        s""""rows_per_sec_overall":${r1(best.rps)}""",
        s""""rows_per_sec_runs":${reps.map(r => r1(r.rps)).mkString("[", ",", "]")}""",
        s""""n_triggers":${best.nTriggers}""",
        s""""trigger_ms":{"p50":${r1(pct(best.trigMs, 0.5))},"p95":${r1(pct(best.trigMs, 0.95))},"max":${r1(if (best.trigMs.isEmpty) 0 else best.trigMs.max)}}""",
        s""""rows_per_sec_per_trigger_p50":${r1(pct(best.rowsPerSec, 0.5))}""",
        s""""state_rows":{"first":${best.stateRows.headOption.getOrElse(0L)},"max":${if (best.stateRows.isEmpty) 0L else best.stateRows.max},"last":${best.stateRows.lastOption.getOrElse(0L)}}""",
        s""""state_bytes_max":${if (best.stateBytes.isEmpty) 0L else best.stateBytes.max}"""
      ).mkString("{", ",", "}")
      println(s"$name $line")
      s""""$name":$line"""
    }

    val doc =
      s"""{"sf":"$sfDir","replicas":$replicas,"input_rows":$n,"chunks":$Chunks,""" +
        s""""files_per_trigger":$FilesPerTrigger,"cpus":$cpus,"reps":$Reps,""" +
        s""""operators":${results.mkString("{", ",", "}")}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      (doc + "\n").getBytes("UTF-8"))
    println(s"wrote $outJson")
    spark.stop()
  }
}
