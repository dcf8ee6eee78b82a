package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Build-once / probe-many entry points for the ANN family (r7
  * VERDICT #2): the fixed-500-query label decades identified
  * INDEX-SIDE hashing as the shared linear floor of every monolithic
  * arm — [[Similarity.lshTopK]] and friends re-bucket the whole
  * corpus on every invocation, so Q query batches pay Q corpus
  * passes. This module splits the two halves the way
  * [[graft.stream.StreamAnn]] already does for streams: `build*`
  * returns the index PAIR as plain DataFrames the caller materializes
  * (parquet/table) on its own refresh schedule; `topK`/`hammingTopK`
  * probe the persisted tables with corpus work proportional to
  * CANDIDATES, not corpus size.
  *
  * Index layout (the StreamAnn skinny-projection discipline):
  *  - `buckets`: (corpus_id, grp, bucket) — 24-byte rows, `groups`
  *    rows per vector. The hamming variant adds the 2×32-bit sign
  *    sketch (s1, s2) so the SELECT stage reads it off the candidate
  *    row instead of paying a candidate-sized join BEFORE the
  *    shortlist cut (the measured-cheap side of that trade —
  *    [[Similarity.hammingRerankBucketedTopK]] scaladoc).
  *  - `vectors`: (corpus_id, v, nrm) ONCE per vector — full vectors
  *    re-enter by candidate- or shortlist-sized id equi-joins only.
  *
  * Probing with the corpus itself as `queries` reproduces the
  * monolithic operators bit-exactly at equal planes/probes
  * (AnnIndexSpec pins both families, including through a parquet
  * round-trip) — so the pair (build once) + (probe per batch)
  * amortizes the corpus bucketing across query batches without
  * changing a single returned row. `planes` MUST match between build
  * and probe (md5-derived planes make that a pure (dim, groups,
  * bits) contract — nothing to serialize). Probes exclude
  * corpus_id == query id, the monolithic self-exclusion rule; disjoint
  * id spaces are unaffected.
  *
  * Scale shape (100 TB): the index build is one corpus pass (map-side
  * hashing + the explode); each probe shuffles only (grp, bucket)
  * candidate pairs. At 1000 executors the buckets table partitions on
  * (grp, bucket) — bucketBy at write time co-locates every probe's
  * equi-join with zero index-side exchange.
  */
object AnnIndex {

  /** Sign-LSH index pair `(buckets, vectors)` for [[topK]]. */
  def build(df: DataFrame, idCol: String, vecCol: String,
            planes: Seq[Seq[Seq[Double]]]): (DataFrame, DataFrame) = {
    val base = Similarity.withNorm(
      df.select(col(idCol).cast("long").as("corpus_id"),
        Similarity.toDoubleVec(col(vecCol)).as("v")), "v")
    val buckets = base
      .withColumn("__buckets", Similarity.bucketsAll(col("v"), planes))
      .select(col("corpus_id"), posexplode(col("__buckets")).as(Seq("grp", "bucket")))
    val vectors = base.select(col("corpus_id"), col("v"), col("__norm").as("nrm"))
    (buckets, vectors)
  }

  /** [[build]] plus the 2×32-bit sign sketch on the bucket rows, for
    * the [[hammingTopK]] funnel (bucket GENERATE → popcount SELECT →
    * exact rerank).
    */
  def buildHamming(df: DataFrame, idCol: String, vecCol: String,
                   planes: Seq[Seq[Seq[Double]]]): (DataFrame, DataFrame) = {
    val dim = planes.head.head.length
    val skPlanes = Similarity.md5Planes(dim, groups = 2, bitsPerGroup = 32)
    val base = Similarity.withNorm(
      df.select(col(idCol).cast("long").as("corpus_id"),
        Similarity.toDoubleVec(col(vecCol)).as("v")), "v")
      .withColumn("__sk", Similarity.bucketsAll(col("v"), skPlanes))
      .withColumn("s1", element_at(col("__sk"), 1))
      .withColumn("s2", element_at(col("__sk"), 2))
    val buckets = base
      .withColumn("__buckets", Similarity.bucketsAll(col("v"), planes))
      .select(col("corpus_id"), col("s1"), col("s2"),
        posexplode(col("__buckets")).as(Seq("grp", "bucket")))
    val vectors = base.select(col("corpus_id"), col("v"), col("__norm").as("nrm"))
    (buckets, vectors)
  }

  /** Query-side bucket probe rows: (query_id, grp, bucket) with the
    * Hamming-1 flip masks applied when `probes` > 0 (query side only —
    * the persisted index never grows, [[Similarity.lshTopK]]'s
    * multi-probe shape).
    */
  private def probeBuckets(queries: DataFrame, idCol: String, vecCol: String,
                           planes: Seq[Seq[Seq[Double]]],
                           probes: Int): DataFrame = {
    val q0 = queries
      .select(col(idCol).cast("long").as("query_id"),
        Similarity.toDoubleVec(col(vecCol)).as("qv"))
      .withColumn("__buckets", Similarity.bucketsAll(col("qv"), planes))
      .select(col("query_id"), posexplode(col("__buckets")).as(Seq("grp", "bucket")))
    if (probes <= 0) q0 else q0
      .withColumn("__flip",
        explode(typedLit(0L +: Seq.tabulate(probes)(1L << _))))
      .withColumn("bucket", expr("bucket ^ __flip"))
      .drop("__flip")
  }

  /** Query vectors with norms, keyed for the rerank joins. */
  private def queryVecs(queries: DataFrame, idCol: String,
                        vecCol: String): DataFrame =
    Similarity.withNorm(
      queries.select(col(idCol).cast("long").as("query_id"),
        Similarity.toDoubleVec(col(vecCol)).as("qv")), "qv")
      .withColumnRenamed("__norm", "qn")

  /** Exact-cosine top-k of each query against the persisted index —
    * [[Similarity.lshTopK]] semantics (candidates share a bucket in
    * ≥1 group, exact scores, cross-group dedup) with the corpus
    * bucketing read from `buckets`/`vectors` instead of recomputed.
    *
    * Shuffle discipline: the query side is BROADCAST (a probe's query
    * batch is small by this module's contract — a corpus-sized query
    * set is the monolithic operators' job), so the candidate-gen join
    * and the qv re-entry cost no candidate-sized exchange; the dedup
    * exchange carries the 16-byte (query_id, corpus_id) pair; the
    * full vectors re-enter by ONE candidate-sized id join. That join
    * is irreducible for the exact-score contract: every candidate
    * needs `v` for its dot product, so carrying `nrm` on the bucket
    * rows (the buildHamming s1/s2 trick, r8 ADVICE) cannot drop it —
    * the sketch-carry pays in the hamming funnel ONLY because the
    * popcount shortlist cuts BEFORE any vector re-entry. If `buckets`
    * does carry an `nrm` column, it is used (the vectors join then
    * fetches `v` alone); measured at 200k/500 the two layouts are
    * within noise of each other, so [[build]] keeps the skinny
    * 24-byte bucket rows. What DOES pay at scale is layout:
    * `bucketBy(grp, bucket)` on `buckets` and `bucketBy(corpus_id)`
    * on `vectors` remove both index-side exchanges entirely
    * (AnnIndexSpec's zero-Exchange plan contracts).
    */
  def topK(buckets: DataFrame, vectors: DataFrame, queries: DataFrame,
           idCol: String, vecCol: String, planes: Seq[Seq[Seq[Double]]],
           k: Int, probes: Int = 0): DataFrame = {
    val carriedNrm = buckets.columns.contains("nrm")
    val cols = Seq(col("query_id"), col("corpus_id").as("neighbor_id")) ++
      (if (carriedNrm) Seq(col("nrm")) else Nil)
    val cand = probeBuckets(queries, idCol, vecCol, planes, probes)
      .join(buckets, Seq("grp", "bucket"))
      .filter(col("corpus_id") =!= col("query_id"))
      .select(cols: _*)
      .dropDuplicates("query_id", "neighbor_id")
    val vside =
      if (carriedNrm) vectors.select(col("corpus_id").as("neighbor_id"), col("v"))
      else vectors.select(col("corpus_id").as("neighbor_id"), col("v"), col("nrm"))
    val scored = cand
      .join(broadcast(queryVecs(queries, idCol, vecCol)), "query_id")
      .join(vside, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        (Similarity.dot(col("qv"), col("v")) / (sqrt(col("qn")) * sqrt(col("nrm"))))
          .as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** IVF index triple `(vectors, centroids, quantizer)`: vectors =
    * (corpus_id, cell, v, nrm) under deterministic Lloyd cells
    * ([[Similarity.lloydCentroids]] + assignment); centroids =
    * (c_cell, cv, cn) MEMBER-means in the EXACT fold order
    * [[Similarity.ivfTopK]] computes internally (bit-equal probes);
    * quantizer = (c_cell, cv, cn) the Lloyd TRAINING centroids the
    * assignment argmin actually used. The two centroid tables are
    * different objects (FAISS keeps the same split: the coarse
    * quantizer assigns, the index serves search): probe ranking must
    * match ivfTopK's member-means for bit-equality, while
    * [[ivfAssignStream]] must reuse the training centroids or delta
    * assignments drift from the build's own cells (measured: 34/450
    * borderline flips when assigning against member-means).
    *
    * THIS is where build-once/probe-many pays hardest (NOTES_r10 /
    * SCALE_DECADES_r10,
    * 200k/512 cells, after the native-dot assignment landed: build
    * 26 s ONCE vs 16 s of Lloyd retraining per monolithic batch;
    * probe 1.3 s — breakeven at ~2 batches, ~12× per batch after;
    * before the assignment optimization the same row read 126 s /
    * 104 s / 1.8 s).
    */
  def buildIvf(df: DataFrame, idCol: String, vecCol: String, cells: Int,
               iters: Int = 1, dim: Int = -1): (DataFrame, DataFrame, DataFrame) = {
    val spark = df.sparkSession
    import spark.implicits._
    // dim <= 0 ⇒ derive from the first vector (one limit(1) driver read
    // at build time): a hardcoded default silently produced wrong
    // member-mean probe centroids for any non-matching corpus, because
    // cellCentroids folds element indices over range(dim).
    val d = if (dim > 0) dim
      else df.select(Similarity.toDoubleVec(col(vecCol)).as("v"))
        .limit(1).collect().head.getSeq[Double](0).length
    val trained = Similarity.lloydCentroids(df, idCol, vecCol, cells, iters)
    val assign = Similarity.assignCells(df, idCol, vecCol, trained)
      .select(col("vec_id").as("__kid"), col("cell"))
    val base = Similarity.withNorm(
      df.join(assign, col(idCol) === col("__kid")).drop("__kid")
        .select(col(idCol).cast("long").as("id"), col("cell"),
          Similarity.toDoubleVec(col(vecCol)).as("v")), "v")
    val vectors = base.select(col("id").as("corpus_id"), col("cell"),
      col("v"), col("__norm").as("nrm"))
    val quantizer = trained.toDF("c_cell", "cv")
      .withColumn("cn", Similarity.dot(col("cv"), col("cv")))
    (vectors, Similarity.cellCentroids(base, d), quantizer)
  }

  /** Assign NEW vectors against the persisted QUANTIZER without
    * retraining (the FAISS `add()` path — IVF delta ingest) as a
    * STREAM-LEGAL pure projection: argmin of ‖v‖² + ‖c‖² − 2·v·c over
    * the training centroids with ties to the smallest cell — the exact
    * assignment rule of the build, so a delta ingested this way and
    * appended to the vectors table is indistinguishable from having
    * been present at build time. Pass the `quantizer` table from
    * [[buildIvf]] — NOT the probe centroids (member-means move with
    * membership; assigning against them drifts borderline vectors).
    * Centroid drift itself is the scheduled re-train's job. The
    * quantizer is
    * k·dim doubles (driver state by construction, the Lloyd-loop
    * argument), so instead of a crossJoin + rank window (illegal on an
    * unaggregated stream, and an n·k shuffle even in batch), the argmin
    * runs MAP-SIDE over the quantizer as one array
    * literal: per row, `array_min` over (dist, cell) structs — struct
    * ordering is (dist asc, cell asc), exactly the batch tie rule.
    * Distances use the same [[Similarity.dot]] fold at the same IEEE
    * accumulation order, so assignments are bit-equal to the batch
    * crossJoin + rank-window form kept in the test tree
    * (`IvfAssignReference`; AnnIndexSpec pins zero flips on the build
    * corpus and per-row (v, nrm) equality on a streamed delta).
    *
    * Because the result is a stateless projection, the NATIVE parquet
    * streaming sink appends it exactly-once (file-sink manifest log) —
    * no foreachBatch, no dedup bookkeeping:
    * {{{
    *   AnnIndex.ivfAssignStream(readStream, "id", "emb", quantizer)
    *     .writeStream.format("parquet")
    *     .option("path", vectorsDir).option("checkpointLocation", ckpt)
    *     .start()
    * }}}
    * and the appended rows union with the build's vectors table as
    * [[ivfTopK]] input. Works identically on a batch frame (it is the
    * zero-shuffle assignment form). Re-train cadence is [[ivfChurn]]'s
    * job.
    */
  def ivfAssignStream(stream: DataFrame, idCol: String, vecCol: String,
                      quantizer: DataFrame): DataFrame = {
    val best = argminCell(quantizer, col("v"), col("__norm"))
    Similarity.withNorm(
        stream.select(col(idCol).cast("long").as("corpus_id"),
          Similarity.toDoubleVec(col(vecCol)).as("v")), "v")
      .select(col("corpus_id"), best.as("cell"), col("v"),
        col("__norm").as("nrm"))
  }

  /** Map-side nearest-centroid cell: `array_min` over (dist, cell)
    * structs built from the collected centroid table as ONE array
    * literal — struct ordering is (dist asc, cell asc), the exact
    * batch-assignment tie rule; `dist = ‖v‖² + ‖c‖² − 2·v·c` at the
    * same [[Similarity.dot]] IEEE fold. Zero shuffle, stream-legal.
    *
    * Encoding: the BOXED struct-array `typedLit` — kept ON MEASUREMENT
    * after the r12 flat re-encode was tried and reverted (NOTES_r12 /
    * SCALE_DECADES_r12,
    * 200k rows × dim 64, three bit-equal arms): the per-cell vector
    * here is accessed by REFERENCE (`getField`, no copy), so the boxed
    * arm reads 0.51/1.45/6.3 s at k = 64/256/1024, while the flat
    * [[DenseLit.doubles]] form pays a per-ROW `slice` copy of dim
    * doubles per (row, cell) — 2.9/10.6/42.7 s, ~6× at every k — and
    * k separate per-cell literals cross a codegen-breadth boundary
    * (48 s at k=64 in one giant compiled method, 2.5 s at k=1024 after
    * fallback — non-monotone, not a servable law). The boxed per-ACTION
    * serialization tax this encoding pays is trivial at quantizer
    * widths (k·dim ≤ 32k elements sits on the flat part of the
    * r12 per-action literal curve, ~0.24 s/action; SCALE_DECADES_r12) — the
    * streaming ingest path pays it once per micro-batch against
    * thousands of per-row dots. Flat DenseLit encodings stay where
    * access is O(1)-INDEXED rather than whole-vector (NB/DSIR dense
    * arrays, the bloom bitmap, [[Pq.dtColumn]]'s codebook) — the law
    * is access-pattern-specific, not one-encoding-fits-all.
    */
  private def argminCell(centroids: DataFrame, vec: Column, nrm: Column): Column = {
    val cents = centroids
      .select(col("c_cell").cast("int"), col("cv"), col("cn"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq, r.getDouble(2)))
      .sortBy(_._1).toSeq
    require(cents.nonEmpty, "centroid table is empty")
    val centArr = typedLit(cents) // array<struct<_1:int,_2:array<double>,_3:double>>
    array_min(transform(centArr, c =>
      struct((nrm + c.getField("_3") -
        lit(2.0) * Similarity.dot(vec, c.getField("_2"))).as("dist"),
        c.getField("_1").as("cell"))))
      .getField("cell")
  }

  /** Assignment-churn health metric for a persisted IVF index — the
    * re-train trigger the quantizer-drift measurement motivates
    * (34/450 borderline flips when member-means replace the training
    * quantizer, AnnIndexSpec): one row
    * `(total, flipped, churn_rate)` where `flipped` counts vectors
    * whose stored cell differs from their argmin under the CURRENT
    * member-mean centroids. As [[ivfAssignStream]]
    * deltas accumulate, member means drift away from the frozen
    * training quantizer and churn grows — probe recall decays with it
    * because [[ivfTopK]] ranks probe cells by those member means while
    * membership still reflects the quantizer.
    *
    * Contract: measure churn right after a build as the baseline
    * (synthetic 20k/64-cell corpus: ~7.5% at iters=1 — borderline
    * vectors the single Lloyd pass leaves astride two cells), schedule
    * [[buildIvf]] re-training when churn exceeds ~2× that baseline.
    * Cost: one corpus pass, map-side argmin (k·dim literal centroids),
    * one 3-long aggregate — cheap enough for a nightly `observe()`.
    */
  def ivfChurn(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    val re = argminCell(centroids, col("v"), col("nrm"))
    vectors
      .select(col("cell"), re.as("re_cell"))
      .agg(count(lit(1)).as("total"),
        sum(when(col("cell") =!= col("re_cell"), 1L).otherwise(0L)).as("flipped"))
      .select(col("total"), col("flipped"),
        (col("flipped").cast("double") / col("total")).as("churn_rate"))
  }

  /** Exact-cosine top-k against the persisted IVF index: each query
    * ranks the broadcast centroids, probes its `nprobe` nearest
    * cells through the cell equi-join, exact cosine scores the
    * candidates — [[Similarity.ivfTopK]] semantics with the Lloyd
    * training and centroid folds read from the index instead of
    * recomputed.
    */
  def ivfTopK(vectors: DataFrame, centroids: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nprobe: Int = 1): DataFrame = {
    val q = queryVecs(queries, idCol, vecCol)
    val probeW = Window.partitionBy("query_id")
      .orderBy(col("probe_cos").desc, col("c_cell"))
    val probe = q.join(broadcast(centroids))
      .withColumn("probe_cos",
        Similarity.dot(col("qv"), col("cv")) / (sqrt(col("qn")) * sqrt(col("cn"))))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("qv"), col("qn"), col("c_cell").as("probe_cell"))
    val scored = probe.join(vectors,
        col("cell") === col("probe_cell") && col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id").as("neighbor_id"),
        (Similarity.dot(col("qv"), col("v")) / (sqrt(col("qn")) * sqrt(col("nrm"))))
          .as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Binary-sketch funnel top-k against the persisted hamming index —
    * [[Similarity.hammingRerankBucketedTopK]] semantics: persisted
    * buckets GENERATE, the persisted 2×32-bit sketch SELECTS the
    * shortlist (XOR + popcount on the candidate row), exact cosine
    * scores only the shortlist.
    */
  def hammingTopK(buckets: DataFrame, vectors: DataFrame, queries: DataFrame,
                  idCol: String, vecCol: String,
                  planes: Seq[Seq[Seq[Double]]], k: Int,
                  shortlist: Int = 32, probes: Int = 0): DataFrame = {
    val dim = planes.head.head.length
    val skPlanes = Similarity.md5Planes(dim, groups = 2, bitsPerGroup = 32)
    val qsk = queries
      .select(col(idCol).cast("long").as("query_id"),
        Similarity.toDoubleVec(col(vecCol)).as("qv"))
      .withColumn("__sk", Similarity.bucketsAll(col("qv"), skPlanes))
      .select(col("query_id"), element_at(col("__sk"), 1).as("q1"),
        element_at(col("__sk"), 2).as("q2"))
    val cand = probeBuckets(queries, idCol, vecCol, planes, probes)
      .join(broadcast(qsk), "query_id")
      .join(buckets, Seq("grp", "bucket"))
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id").as("neighbor_id"),
        (expr("bit_count(q1 ^ s1)") + expr("bit_count(q2 ^ s2)"))
          .cast("long").as("hamming"))
      .dropDuplicates("query_id", "neighbor_id")
    val sw = Window.partitionBy("query_id").orderBy(col("hamming"), col("neighbor_id"))
    val short = cand.withColumn("srn", row_number().over(sw))
      .filter(col("srn") <= shortlist)
      .select("query_id", "neighbor_id", "hamming")
    val scored = short
      .join(broadcast(queryVecs(queries, idCol, vecCol)), "query_id")
      .join(vectors.select(col("corpus_id").as("neighbor_id"), col("v"),
        col("nrm")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        (Similarity.dot(col("qv"), col("v")) / (sqrt(col("qn")) * sqrt(col("nrm"))))
          .as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "hamming", "cosine", "rank")
  }
}
