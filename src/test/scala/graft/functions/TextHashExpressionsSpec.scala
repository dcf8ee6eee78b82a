package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.llm.TextHash._

/** Bit-equality of the fused md5 text-hash kernels against the
  * portable HOF forms they replace — on the real fixture corpus AND
  * adversarial synthetic rows (empty text, docs shorter than the gram
  * width, unicode multi-byte chars, heavy repetition). The operators
  * call only the kernels, so these equalities are the claim that the
  * kernels compute the md5-prefix hashes the DuckDB oracle restates.
  */
class TextHashExpressionsSpec extends SparkSpec {

  import spark.implicits._

  private def docs = Tables.documents(spark, sf("sf0.01"))
    .select(col("doc_id"), col("text"))

  private def weird = Seq(
    (1L, ""),
    (2L, "a"),
    (3L, "ab"),
    (4L, "abc"),
    (5L, "  leading and   trailing  "),
    (6L, "☃ unicode ☃ gram ☃ test ☃ with ☃ multibyte ☃ runes ☃"),
    (7L, "same same same same same same same same same same"),
    (8L, "one two"),
    (9L, "三 个 字 的 文 档 再 来 一 点"),
    (10L, "x y z x y z x y z x y z x y z")
  ).toDF("doc_id", "text")

  private def assertColsEqual(df: org.apache.spark.sql.DataFrame,
                              a: Column, b: Column): Unit = {
    val cmp = df.select(a.as("a"), b.as("b"))
    val bad = cmp.filter(
      (col("a").isNull =!= col("b").isNull) ||
        (col("a").isNotNull && col("a") =!= col("b"))).count()
    assert(bad === 0)
  }

  // ---- wordgram_h32 ----

  test("wordgram_h32 n=1 distinct equals array_distinct(transform(wordSet, h32))") {
    for (d <- Seq(docs, weird)) {
      assertColsEqual(d,
        call_function("wordgram_h32", wordSet(col("text")), lit(1), lit(""),
          lit(0L), lit(true)),
        array_distinct(transform(wordSet(col("text")), t => h32(t))))
    }
  }

  test("wordgram_h32 n=8 distinct equals Decontam.gramHashes") {
    for (d <- Seq(docs, weird)) {
      assertColsEqual(d,
        call_function("wordgram_h32", words(col("text")), lit(8), lit(""),
          lit(0L), lit(true)),
        KernelReference.gramHashes(col("text"), 8))
    }
  }

  test("wordgram_h32 n=5 ordered (non-distinct) equals the Winnow gram sequence") {
    val hof = element_at(transform(array(words(col("text"))), ws => {
      val cnt = size(ws) - 4
      when(cnt <= 0, array().cast("array<bigint>"))
        .otherwise(transform(sequence(lit(1), cnt),
          i => h32(array_join(slice(ws, i, lit(5)), " "))))
    }), 1)
    for (d <- Seq(docs, weird)) {
      assertColsEqual(d,
        call_function("wordgram_h32", words(col("text")), lit(5), lit(""),
          lit(0L), lit(false)),
        hof)
    }
  }

  test("wordgram_h32 prefixed+mod equals the DSIR uni/bigram feature hashes") {
    val ws = words(lower(trim(col("text"))))
    val uniHof = transform(ws, w => h32(concat(lit("u:"), w)) % 1024)
    val biHof = zip_with(
      slice(ws, lit(1), size(ws) - 1), slice(ws, lit(2), size(ws) - 1),
      (a, b) => h32(concat(lit("b:"), a, lit(" "), b)) % 1024)
    for (d <- Seq(docs, weird)) {
      assertColsEqual(d,
        call_function("wordgram_h32", ws, lit(1), lit("u:"), lit(1024L), lit(false)),
        uniHof)
      assertColsEqual(d,
        call_function("wordgram_h32", ws, lit(2), lit("b:"), lit(1024L), lit(false)),
        biHof)
    }
  }

  test("wordgram_h32 null text yields null") {
    val d = Seq((1L, Option.empty[String])).toDF("doc_id", "text")
    val out = d.select(call_function("wordgram_h32", words(col("text")),
      lit(3), lit(""), lit(0L), lit(true))).collect()(0)
    assert(out.isNullAt(0))
  }

  test("wordgram_h32 null ARRAY ELEMENTS: skipped in n>=2 windows, null hash at n=1") {
    // Pins the CHOSEN semantics (r12 ADVICE): for n >= 2 a null element
    // is dropped from its window like array_join (["a", null, "b"] has
    // 2-gram windows joining to "a" and "b"); for n = 1 it maps to a
    // null hash (transform semantics). No production caller produces
    // null elements today (words() = split never does) — this test
    // documents what happens if one ever did, so the kernel and the HOF
    // form can be held to the same contract.
    val arr = array(lit("a"), lit(null).cast("string"), lit("b"))
    val d = Seq(Tuple1(1L)).toDF("doc_id")
    assertColsEqual(d,
      call_function("wordgram_h32", arr, lit(2), lit(""), lit(0L), lit(false)),
      array(h32(lit("a")), h32(lit("b"))))
    assertColsEqual(d,
      call_function("wordgram_h32", arr, lit(1), lit(""), lit(0L), lit(false)),
      array(h32(lit("a")), lit(null).cast("long"), h32(lit("b"))))
    // all-null window (n = 2 over [null, null, "b"]): joins to "" then "b"
    val arr2 = array(lit(null).cast("string"), lit(null).cast("string"), lit("b"))
    assertColsEqual(d,
      call_function("wordgram_h32", arr2, lit(2), lit(""), lit(0L), lit(false)),
      array(h32(lit("")), h32(lit("b"))))
  }

  // ---- ngram_h32_set ----

  test("ngram_h32_set equals the char-trigram HOF chain (n=3, modP=4)") {
    val hof = array_distinct(filter(transform(
      sequence(lit(1), greatest(length(col("text")) - 2, lit(1))),
      i => h32(col("text").substr(i, lit(3)))),
      h => h % 4 === 0))
    for (d <- Seq(docs, weird)) {
      assertColsEqual(d,
        call_function("ngram_h32_set", col("text"), lit(3), lit(4L)), hof)
    }
  }

  test("ngram_h32_set modP=1 keeps every distinct gram hash") {
    val hof = array_distinct(transform(
      sequence(lit(1), greatest(length(col("text")) - 2, lit(1))),
      i => h32(col("text").substr(i, lit(3)))))
    assertColsEqual(weird,
      call_function("ngram_h32_set", col("text"), lit(3), lit(1L)), hof)
  }

  // ---- char_fingerprint ----

  test("char_fingerprint equals the rolling-fingerprint HOF pair") {
    val grams = transform(
      sequence(lit(1), greatest(length(col("text")) - 7, lit(1))),
      i => col("text").substr(i, lit(8)))
    for (d <- Seq(docs, weird)) {
      val native = d.withColumn("__fp",
        call_function("char_fingerprint", col("text"), lit(8)))
      assertColsEqual(native.withColumn("__grams", grams),
        col("__fp").getField("fingerprint"),
        array_min(transform(col("__grams"), g => h32(g))))
      assertColsEqual(native.withColumn("__grams", grams),
        col("__fp").getField("n_grams"),
        size(array_distinct(col("__grams"))))
    }
  }

  // ---- winnow_mins ----

  test("winnow_mins equals Winnow window-min selection over real gram sequences") {
    val hs = call_function("wordgram_h32", words(col("text")), lit(5), lit(""),
      lit(0L), lit(false))
    val hof = element_at(transform(array(col("__hs")), h => {
      val cnt = size(h) - 3
      when(cnt <= 0,
        when(size(h) > 0, array(array_min(h)))
          .otherwise(array().cast("array<bigint>")))
        .otherwise(array_distinct(transform(sequence(lit(1), cnt),
          i => array_min(slice(h, i, lit(4))))))
    }), 1)
    for (d <- Seq(docs, weird)) {
      assertColsEqual(d.withColumn("__hs", hs),
        call_function("winnow_mins", col("__hs"), lit(4)), hof)
    }
  }

  test("winnow_mins synthetic: empty, shorter-than-w, ties, duplicates") {
    val d = Seq(
      Seq.empty[Long],
      Seq(7L),
      Seq(3L, 1L, 2L),
      Seq(5L, 5L, 5L, 5L, 5L),
      Seq(9L, 1L, 8L, 1L, 7L, 1L, 6L),
      Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L)
    ).toDF("hs")
    val hof = element_at(transform(array(col("hs")), h => {
      val cnt = size(h) - 3
      when(cnt <= 0,
        when(size(h) > 0, array(array_min(h)))
          .otherwise(array().cast("array<bigint>")))
        .otherwise(array_distinct(transform(sequence(lit(1), cnt),
          i => array_min(slice(h, i, lit(4))))))
    }), 1)
    assertColsEqual(d, call_function("winnow_mins", col("hs"), lit(4)), hof)
  }

  // ---- scalar + h60 ----

  test("h32_native / h60_native / h60_array equal the md5-conv forms") {
    for (d <- Seq(docs, weird)) {
      assertColsEqual(d, call_function("h32_native", col("text")), h32(col("text")))
      assertColsEqual(d, call_function("h60_native", col("text")), h60(col("text")))
      assertColsEqual(d,
        call_function("h60_array", wordSet(col("text"))),
        transform(wordSet(col("text")), t => h60(t)))
    }
  }
}
