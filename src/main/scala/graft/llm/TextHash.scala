package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable text hashing shared by the dedup /
  * fingerprint operators. All hashes derive from md5 hex prefixes so
  * the DuckDB oracle can reproduce them bit-for-bit (Spark `hash()` /
  * DuckDB `hash()` are engine-internal and incompatible).
  *
  * Everything here is built-in Catalyst expressions (md5, conv,
  * higher-order array functions) — codegen-friendly, no UDFs
  * (SURVEY.md §7 "functions, not UDFs").
  */
object TextHash {

  /** 32-bit hash from the first 8 md5 hex digits → long ∈ [0, 2³²). */
  def h32(c: Column): Column = conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** 60-bit hash from the first 15 md5 hex digits → long ∈ [0, 2⁶⁰). */
  def h60(c: Column): Column = conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Whitespace tokenization (documents are space-separated). */
  def words(text: Column): Column = split(trim(text), "\\s+")

  /** Distinct token set — order is engine-dependent; use only for
    * order-insensitive ops (sizes, intersections, min-folds).
    */
  def wordSet(text: Column): Column = array_distinct(words(text))


  /** True when the fused md5 kernels should be used: the session
    * carries GraftExtensions. Without them every call site falls back
    * to the portable higher-order form, which TextHashExpressionsSpec
    * pins the kernels against. All kernel call sites dispatch through
    * this.
    */
  def nativeHash(session: org.apache.spark.sql.SparkSession, fn: String): Boolean =
    session.catalog.functionExists(fn)

  /** Canonical text form for exact dedup: lowercase, trimmed,
    * whitespace collapsed.
    */
  def normalize(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")
}
