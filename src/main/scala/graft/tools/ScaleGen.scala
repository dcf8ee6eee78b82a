package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Session

/** Generates a COMPLETE sf1 slice (default 10× sf0.1) — every table
  * the engine reads — so the full 125-query surface can run at the
  * next decade (VERDICT r4 "Next round" #3 and beyond).
  *
  * The driver's testdata is read-only and stops at sf0.1, so the next
  * decade is synthesized by replication that PRESERVES each query's
  * workload profile instead of distorting it:
  *
  *  - `orders`/`lineitem`/`customer`/`supplier`/`part`: key-space
  *    translation per replica with CONSISTENT strides (orderkey /
  *    custkey / suppkey / partkey each offset by the same
  *    power-of-ten stride on both sides of every FK), the standard
  *    TPC-H-style scaling — joins stay referentially intact, the
  *    order-flow graph becomes `replicas` disjoint copies, and nodes
  *    AND edges scale linearly exactly as a bigger generator run
  *    would. `region`/`nation` are dimension constants (copied
  *    as-is; nationkeys stay shared, as in real TPC-H scaling).
  *  - `documents`: the corpus is random word sequences over a ~30-word
  *    vocabulary with planted dup/near-dup pairs. Each replica applies a
  *    cyclic permutation of that vocabulary (word i → word i+r mod V).
  *    A bijection on words preserves within-replica pair structure
  *    (planted near-identical word sequences stay near-identical), while
  *    a doc and its shifted copy relate like two random docs — far below
  *    any dup threshold — so pair output scales ~linearly with corpus
  *    size rather than quadratically (which naive text duplication would
  *    cause: every doc would gain C(replicas,2) exact-dup pairs and the
  *    curve would measure the synthetic pathology, not the engine).
  *  - `embeddings`: each replica applies a signed permutation of the
  *    64 dimensions (dim i ← sign(i,r) · dim perm_r(i)). A signed
  *    permutation is orthogonal, so norms and all WITHIN-replica
  *    cosines are preserved EXACTLY (clusters, kNN graphs, near-dup
  *    structure replicate bit-faithfully in geometry), while a vector
  *    and its transformed copy relate like random directions (expected
  *    cosine 0) — so ANN/kNN/dedup output scales linearly, not
  *    quadratically.
  *  - `events`: per-replica user/event-id offsets plus +r MICROSECONDS
  *    on `ts` — window membership is unchanged (windows are ≥ seconds)
  *    and the corpus keeps the unique-(user, ts) property operators
  *    rely on. 10× users at the same per-user density: sessionization,
  *    funnels and window aggregations scale linearly in groups.
  *
  * Replica 0 is the untouched original, so sf1 ⊇ sf0.1. Output stays
  * inside the repo (`target/` — not committed); testdata is never
  * written.
  *
  * Usage: runMain graft.tools.ScaleGen [outDir] [replicas] [srcDir] [tables]
  * `tables` is an optional comma list (e.g. "embeddings") restricting
  * generation — the sf3–sf10 ANN decades need ONLY embeddings, and an
  * embeddings-only slice at replicas=100 is 100× smaller on disk than
  * the full ten-table product.
  */
object ScaleGen {

  /** Next power of 10 strictly above v — keeps offset keys readable. */
  private def stride(v: Long): Long = {
    var s = 10L
    while (s <= v) s *= 10
    s
  }

  def main(args: Array[String]): Unit = {
    val out      = args.headOption.getOrElse("target/scale/sf1")
    val replicas = args.lift(1).map(_.toInt).getOrElse(10)
    val src      = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val AllTables = Set("orders", "lineitem", "customer", "supplier", "part",
      "region", "nation", "events", "embeddings", "documents", "zipfdocs")
    val want: Set[String] = args.lift(3)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(AllTables)
    require(want.subsetOf(AllTables), s"unknown tables: ${want -- AllTables}")
    val spark = Session.local()
    import spark.implicits._

    lazy val orders   = spark.read.parquet(s"$src/orders.parquet")
    lazy val lineitem = spark.read.parquet(s"$src/lineitem.parquet")
    lazy val docs     = spark.read.parquet(s"$src/documents.parquet")
    lazy val emb      = spark.read.parquet(s"$src/embeddings.parquet")
    // events may be TIMESTAMP(NANOS) (old era) or MICROS-NTZ (new) —
    // same dispatch as Tables.eventsRaw, but here the column is kept in
    // whatever logical type it loaded as and only shifted, so the
    // written slice round-trips the CURRENT generator's layout.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    lazy val events   = spark.read.parquet(s"$src/events.parquet")

    // One row of maxima (tiny) drives every stride; orders/customer and
    // lineitem/supplier/part share strides so FKs stay intact. Each
    // stride takes the max over BOTH the PK table and the FK column: a
    // customer/supplier/part key with no referencing row could exceed
    // the FK-side max and cross the next power of ten, which would make
    // replica key ranges overlap (duplicate PKs + join fan-out).
    // (All lazy so a table-subset run touches only what it writes.)
    lazy val customer = spark.read.parquet(s"$src/customer.parquet")
    lazy val supplier = spark.read.parquet(s"$src/supplier.parquet")
    lazy val part     = spark.read.parquet(s"$src/part.parquet")
    lazy val m = orders.agg(max("o_orderkey"), max("o_custkey")).collect()(0)
    lazy val ml = lineitem.agg(max("l_suppkey"), max("l_partkey")).collect()(0)
    lazy val ckMax = m.getLong(1) max customer.agg(max("c_custkey")).collect()(0).getLong(0)
    lazy val skMax = ml.getLong(0) max supplier.agg(max("s_suppkey")).collect()(0).getLong(0)
    lazy val pkMax = ml.getLong(1) max part.agg(max("p_partkey")).collect()(0).getLong(0)
    lazy val okS = stride(m.getLong(0))
    lazy val ckS = stride(ckMax)
    lazy val skS = stride(skMax)
    lazy val pkS = stride(pkMax)
    lazy val docS = stride(docs.agg(max("doc_id")).collect()(0).getLong(0))
    lazy val vecS = stride(emb.agg(max("vec_id")).collect()(0).getLong(0))
    lazy val me = events.agg(max("event_id"), max("user_id")).collect()(0)
    lazy val evS = stride(me.getLong(0))
    lazy val uidS = stride(me.getLong(1))

    def replicate(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until replicas).map(r => shift(df, r)).reduce(_.unionAll(_))

    if (want("orders")) replicate(orders) { (df, r) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(r * okS))
        .withColumn("o_custkey", col("o_custkey") + lit(r * ckS))
    }.write.mode("overwrite").parquet(s"$out/orders.parquet")

    if (want("lineitem")) replicate(lineitem) { (df, r) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(r * okS))
        .withColumn("l_suppkey", col("l_suppkey") + lit(r * skS))
        .withColumn("l_partkey", col("l_partkey") + lit(r * pkS))
    }.write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    if (want("customer")) replicate(customer) { (df, r) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(r * ckS))
    }.write.mode("overwrite").parquet(s"$out/customer.parquet")

    if (want("supplier")) replicate(supplier) { (df, r) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(r * skS))
    }.write.mode("overwrite").parquet(s"$out/supplier.parquet")

    if (want("part")) replicate(part) { (df, r) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(r * pkS))
    }.write.mode("overwrite").parquet(s"$out/part.parquet")

    for (t <- Seq("region", "nation") if want(t))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")

    if (want("events")) replicate(events) { (df, r) =>
      df.withColumn("event_id", col("event_id") + lit(r * evS))
        .withColumn("user_id", col("user_id") + lit(r * uidS))
        .withColumn("ts",
          if (r == 0) col("ts")
          else df.schema("ts").dataType match {
            // nanos-era files load ts as LongType (nanosAsLong)
            case org.apache.spark.sql.types.LongType => col("ts") + lit(r * 1000L)
            case _ => col("ts") + expr(s"INTERVAL $r MICROSECOND")
          })
    }.write.mode("overwrite").parquet(s"$out/events.parquet")

    // Signed dimension permutation per replica: output dim i reads
    // source dim (i + 7r) mod D with a deterministic ± sign. Orthogonal
    // ⇒ norms and within-replica cosines preserved exactly. (At r
    // where 7r ≡ 0 mod D the permutation cycles back to identity, but
    // the sign vector still varies with r, so no replica duplicates
    // another byte-for-byte.)
    if (want("embeddings")) {
    val dims = emb.select(size(col("embedding"))).first().getInt(0)
    replicate(emb) { (df, r) =>
      if (r == 0) df
      else {
        val perm = typedLit((0 until dims).map(i => (i + 7 * r) % dims + 1))
        val sign = typedLit((0 until dims).map(i =>
          if (((i * 2654435761L + r) >>> 3) % 2 == 0) 1.0f else -1.0f))
        df.withColumn("vec_id", col("vec_id") + lit(r * vecS))
          .withColumn("embedding",
            transform(sequence(lit(0), lit(dims - 1)), i =>
              element_at(col("embedding"), element_at(perm, i + 1)) *
                element_at(sign, i + 1)).cast("array<float>"))
      }
    }.write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    }

    if (want("documents")) {
    // The whole vocabulary is ~30 words — a driver-side literal map per
    // replica, applied as a codegen'd transform (no UDF, no join).
    val vocab = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").distinct()
      .as[String].collect().sorted
    val v = vocab.length
    // The shift is cyclic mod v: replica r = v would be a byte-for-byte
    // duplicate of replica 0, reintroducing the quadratic dup pathology
    // this permutation exists to avoid. Max r is replicas-1, so
    // replicas <= v keeps every replica's shift non-zero and distinct.
    require(replicas <= v,
      s"documents vocab has $v words; replicas=$replicas would wrap the cyclic shift " +
        "(replica v duplicates replica 0) — grow the vocab or lower replicas")
    replicate(docs) { (df, r) =>
      val perm = typedLit(vocab.indices.map(i => vocab(i) -> vocab((i + r) % v)).toMap)
      val shifted = array_join(
        transform(split(col("text"), " "), w => coalesce(element_at(perm, w), w)),
        " ")
      df.withColumn("doc_id", col("doc_id") + lit(r * docS))
        .withColumn("text", if (r == 0) col("text") else shifted)
        .withColumn("n_chars", length(col("text")))
    }.write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"  documents: stride=$docS vocab=$v")
    }

    // Zipf-vocabulary documents (mutually exclusive with "documents" —
    // both write documents.parquet): the retrieval family's REALISTIC
    // regime. The driver testdata's 31-word vocabulary is saturated
    // (df ∝ N for every term — adversarial for ANY candidate-limiting
    // index, pruned agreement 0.06); real corpora have Zipf term
    // frequencies over a vocabulary that GROWS with corpus size
    // (Heaps' law), where impact-truncated postings agree 0.8+ with
    // the exact ranking (RetrievalSpec). Word ranks are drawn by the
    // closed-form s=1 inverse CDF — rank = floor(exp(u·ln V)) gives
    // p(rank=k) = ln(1+1/k)/ln V ≈ 1/(k·ln V) — from xxhash64-derived
    // uniforms, so generation is one codegen'd projection per row:
    // distributed, seedless-deterministic, no driver-side rows.
    if (want("zipfdocs")) {
      require(!want("documents"),
        "zipfdocs and documents both write documents.parquet — pick one per out dir")
      val nDocs = docs.count() * replicas
      val v = math.ceil(10.0 * math.pow(nDocs.toDouble, 0.5)).toLong // Heaps β=0.5
      spark.range(nDocs).select(col("id").as("doc_id"))
        .repartition(32)
        .withColumn("len",
          (pmod(xxhash64(col("doc_id"), lit("len")), lit(60)) + 20).cast("int"))
        .withColumn("text", array_join(
          transform(sequence(lit(1), col("len")), j =>
            concat(lit("w"), floor(exp(
              (pmod(xxhash64(col("doc_id"), j, lit("w")), lit(1L << 40))
                .cast("double") + lit(0.5)) / lit((1L << 40).toDouble)
                * log(lit(v.toDouble)))).cast("long").cast("string"))),
          " "))
        .withColumn("lang", element_at(
          typedLit(Seq("en", "zh", "de", "fr", "es")),
          (pmod(xxhash64(col("doc_id"), lit("lang")), lit(5)) + 1).cast("int")))
        .withColumn("source",
          concat(lit("src"), pmod(col("doc_id"), lit(10)).cast("string")))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          length(col("text")).cast("long").as("n_chars"))
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      println(s"  zipfdocs: n=$nDocs vocab=$v")
    }

    println(s"wrote $out: replicas=$replicas tables=${want.toSeq.sorted.mkString(",")}")
    spark.stop()
  }
}
