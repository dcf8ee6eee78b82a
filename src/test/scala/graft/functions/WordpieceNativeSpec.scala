package graft.functions

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.llm.{Bpe, Wordpiece, WordpieceReference}

/** The native `wordpiece_count` kernel must be bit-equal to the HOF
  * fold it replaces (`WordpieceReference.tokenCountCol`) — same
  * greedy longest-match, same UNK collapse, same truncated-tail
  * probes — on real corpus vocabularies and on the adversarial hand
  * cases WordpieceSpec pins for the HOF form.
  */
class WordpieceNativeSpec extends SparkSpec {

  private def both(texts: Seq[String], vs: Seq[(String, Boolean)],
                   maxLen: Int = 24): Seq[(String, Int, Int)] = {
    import spark.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val (im, cm) = Wordpiece.vocabMaps(vs)
    df.withColumn("__im", im).withColumn("__cm", cm)
      .select(col("text"),
        WordpieceReference.tokenCountCol(col("text"), vs, col("__im"), col("__cm"),
          maxLen).as("hof"),
        Wordpiece.tokenCountNative(col("text"), vs, maxLen).as("nat"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSeq
  }

  test("native equals HOF on hand vocab incl. greedy dead-ends and UNK") {
    val vs = Seq(("un", false), ("a", false), ("able", true), ("b", true),
      ("le", true), ("unable", false), ("abc", false), ("cd", true))
    val rows = both(Seq(
      "unable able", "abcd", "abc abx ab", "", "   ",
      "aaaa " + "a" * 30, "un unable unableable", "able-able,able"), vs)
    rows.foreach { case (t, hof, nat) =>
      assert(hof === nat, s"text '$t': hof=$hof native=$nat")
    }
  }

  test("native equals HOF on non-ASCII incl. supplementary code points") {
    // 𝕒 (U+1D552) is a surrogate pair in UTF-16 but ONE Spark char;
    // pins that the kernel's code-point matching follows substr().
    val vs = Seq(("𝕒", false), ("b", true), ("é", false),
      ("ü", true), ("éü", false))
    val rows = both(Seq("𝕒b éü é b 𝕒", "éüé"), vs)
    rows.foreach { case (t, hof, nat) =>
      assert(hof === nat, s"text '$t': hof=$hof native=$nat")
    }
  }

  test("native equals HOF doc-for-doc on the real corpus vocabulary") {
    val docs = Tables.documents(spark, sf("sf0.01"))
    val model = Bpe.train(docs, "text", numMerges = 8)
    val vs = Wordpiece.vocab(model).collect()
      .map(r => (r.getString(0), r.getBoolean(1))).toSeq.sorted
    val (im, cm) = Wordpiece.vocabMaps(vs)
    val mismatches = docs
      .withColumn("__im", im).withColumn("__cm", cm)
      .select(col("doc_id"),
        WordpieceReference.tokenCountCol(col("text"), vs, col("__im"), col("__cm")).as("hof"),
        Wordpiece.tokenCountNative(col("text"), vs).as("nat"))
      .filter(col("hof") =!= col("nat"))
      .count()
    assert(mismatches === 0L)
  }

  test("null text row yields NULL like the HOF form") {
    import spark.implicits._
    val vs = Seq(("a", false), ("a", true))
    val df = Seq((1L, "aa"), (2L, null)).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        Wordpiece.tokenCountNative(col("text"), vs).as("nat"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(out(1L) === Some(2))
    assert(out(2L) === None)
  }
}
