package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextHash._

/** Sparse bag-of-words vectors in RELATIONAL form — (id, term, weight)
  * rows — and the inverted-index similarity join over them: the
  * pattern that scales text similarity past what dense vectors allow
  * (a dense 100 TB corpus×corpus cosine is |n|² work; the sparse join
  * only touches document pairs that SHARE a term, via one term-keyed
  * shuffle).
  *
  * Everything is exact integer arithmetic until the final cosine
  * ratio: term frequencies are counts, norms and dots are Σtf² /
  * Σtf_a·tf_b BIGINT sums — associative, partitioning-proof, and
  * restated verbatim in the DuckDB oracles.
  */
object Sparse {

  /** Token column: whitespace words of the lowercased text (the
    * tokenTopK/tfidf convention).
    */
  private def tokens(text: Column): Column = words(lower(text))

  /** Sparse term-frequency vectors: one row per (id, term_hash, tf).
    * Terms are md5-hashed to longs ([[TextHash.h32]]) so joins run on
    * 8-byte keys and the oracle reproduces them exactly.
    */
  def sparseTf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // scalar h32 through the native kernel (bit-equal to the md5 →
    // hex → conv chain, TextHashExpressionsSpec)
    df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("id"), call_function("h32_native", col("tok")).as("term"))
      .agg(count(lit(1)).as("tf"))
  }

  /** Feature hashing (the "hashing trick", Weinberger et al. 2009):
    * fold the unbounded vocabulary into `dim` buckets,
    * `bucket = term_hash mod dim`, summing tf per bucket — a
    * fixed-width text embedding with zero model dependencies, ready
    * for the dense Similarity operators. Returned in exploded
    * (id, bucket, tf) form; zero-count buckets are absent (sparse).
    */
  def hashedTf(df: DataFrame, idCol: String, textCol: String, dim: Int): DataFrame = {
    require(dim > 0, "dim must be positive")
    sparseTf(df, idCol, textCol)
      .groupBy(col("id"), (col("term") % dim).as("bucket"))
      .agg(sum(col("tf")).as("tf"))
  }

  /** All-pairs cosine ≥ tau over df-pruned sparse tf vectors — the
    * inverted-index similarity join:
    *
    * 1. terms in more than `max(minDfCap, n_docs div dfDenom)`
    *    documents are dropped (stopwords — they carry no
    *    discrimination and a hot term produces df² join rows; the
    *    standard df-pruning of every production sparse index). The
    *    cap is CORPUS-RELATIVE: a fixed cap silently prunes the whole
    *    vocabulary as the corpus grows past cap/typicality (measured:
    *    64 kept pairs at 500 docs and zero at 5 000). Integer
    *    arithmetic so the oracle restates it exactly; the doc count
    *    enters as a broadcast 1-row aggregate. Cosine is DEFINED over
    *    the pruned vector space — norms and dots use the same term
    *    set, so the measure is self-consistent.
    * 2. candidate pairs come from the term-keyed self-join: only
    *    documents SHARING a surviving term ever meet (pair space is
    *    Σ_term df² after pruning, never |n|²).
    * 3. dot = Σ tf_a·tf_b per pair and norm = Σ tf² per doc are exact
    *    BIGINT sums; the one double op is the final ratio.
    */
  def sparseCosinePairs(df: DataFrame, idCol: String, textCol: String,
                        tau: Double, minDfCap: Int = 64,
                        dfDenom: Int = 10): DataFrame = {
    // persist: the df-window and both join sides reuse the tokenized
    // counts (same rationale as Decontam.selfOverlapPairs)
    val tf = sparseTf(df, idCol, textCol).persist()
    val nDocs = df.agg(countDistinct(col(idCol)).as("__n"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("term")
    val pruned = tf.withColumn("__df", count(lit(1)).over(w))
      .crossJoin(broadcast(nDocs))
      .filter(col("__df") <= greatest(lit(minDfCap.toLong), expr(s"__n div $dfDenom")))
      .drop("__df", "__n")
      .persist()
    val norms = pruned.groupBy("id").agg(sum(col("tf") * col("tf")).as("n2"))
    val dots = pruned.as("a").join(pruned.as("b"),
        col("a.term") === col("b.term") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(sum(col("a.tf") * col("b.tf")).as("dot"))
    dots
      .join(norms.select(col("id").as("id_a"), col("n2").as("n2a")), "id_a")
      .join(norms.select(col("id").as("id_b"), col("n2").as("n2b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("dot").cast("double") /
          (sqrt(col("n2a").cast("double")) * sqrt(col("n2b").cast("double"))))
          .as("cosine"))
      .filter(col("cosine") >= tau)
  }
}
