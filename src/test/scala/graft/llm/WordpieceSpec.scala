package graft.llm

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class WordpieceSpec extends SparkSpec {

  private def counts(text: String, vs: Seq[(String, Boolean)], maxLen: Int = 24) = {
    import spark.implicits._
    val df = Seq((1L, text)).toDF("doc_id", "text")
    Wordpiece.wordTokenCounts(df, "text", vs, maxLen)
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getBoolean(2))).toMap
  }

  test("greedy longest-match-first on a hand vocabulary") {
    val vs = Seq(("un", false), ("a", false), ("able", true),
      ("b", true), ("le", true), ("unable", false))
    val out = counts("unable able", vs)
    // "unable" matches the full-word piece in one step (longest first)
    assert(out("unable") === ((1, false)))
    // "able": a + ##b + ##le (no word-initial "able"; cont pieces cover)
    assert(out("able") === ((3, false)))
  }

  test("a word greedy matching cannot cover is UNK") {
    val vs = Seq(("ab", false), ("c", true))
    val out = counts("abc abx ab", vs)
    assert(out("abc") === ((2, false))) // ab + ##c
    assert(out("ab") === ((1, false)))
    // "abx": ab matches, then x has no continuation piece -> UNK
    val (_, unk) = out("abx")
    assert(unk)
  }

  test("greedy can dead-end where a different split would succeed") {
    // classic greedy-vs-optimal: vocab {abc-init, a-init, ##b, ##cd}
    // for "abcd": greedy takes "abc" then fails on "d"; optimal
    // a+##b+##cd exists — WordPiece semantics say UNK. Pins that the
    // operator is greedy, not a lattice search.
    val vs = Seq(("abc", false), ("a", false), ("b", true), ("cd", true))
    val (_, unk) = counts("abcd", vs)("abcd")
    assert(unk)
  }

  test("words over maxWordLen are UNK with one token") {
    val vs = Seq(("a", false), ("a", true))
    val out = counts("aaaa " + "a" * 30, vs, maxLen = 24)
    assert(out("aaaa") === ((4, false)))
    assert(out("a" * 30) === ((1, true)))
  }

  test("matches a brute-force greedy reference on the real corpus") {
    val docs = Tables.documents(spark, sf("sf0.01"))
    val model = Bpe.train(docs, "text", numMerges = 8)
    val vs = Wordpiece.vocab(model).collect()
      .map(r => (r.getString(0), r.getBoolean(1))).toSeq.sorted
    val init = vs.collect { case (p, false) => p }.toSet
    val cont = vs.collect { case (p, true) => p }.toSet
    val maxPiece = vs.map(_._1.length).max
    def ref(word: String): (Int, Boolean) = {
      if (word.isEmpty || word.length > 24) return (1, true)
      var pos = 0; var toks = 0
      while (pos < word.length) {
        val lens = math.min(maxPiece, word.length - pos) to 1 by -1
        val set = if (pos == 0) init else cont
        lens.find(l => set(word.substring(pos, pos + l))) match {
          case Some(l) => pos += l; toks += 1
          case None => return (1, true)
        }
      }
      (toks, false)
    }
    val out = Wordpiece.wordTokenCounts(docs, "text", vs, 24)
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getBoolean(2)))
    assert(out.nonEmpty)
    out.foreach { case (w, got) =>
      val want = ref(w)
      val wantToks = if (want._2) 1 else want._1
      assert(got === ((wantToks, want._2)), s"word '$w': got $got want $want")
    }
  }

  test("tokenCountCol projection equals the join-based encode on the corpus") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf("sf0.01"))
    val model = Bpe.train(docs, "text", numMerges = 8)
    val vs = Wordpiece.vocab(model).collect()
      .map(r => (r.getString(0), r.getBoolean(1))).toSeq.sorted
    val (im, cm) = Wordpiece.vocabMaps(vs)
    val direct = docs
      .withColumn("__im", im).withColumn("__cm", cm)
      .select(col("doc_id"),
        WordpieceReference.tokenCountCol(col("text"), vs, col("__im"), col("__cm")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val joined = Wordpiece.encodeCounts(docs, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getLong(2).toInt).toMap
    assert(direct === joined)
  }

  test("encodeCounts is partition-invariant and covers every doc") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val model = Bpe.train(docs, "text", numMerges = 4)
    def run(parts: Int) =
      Wordpiece.encodeCounts(docs.repartition(parts), "doc_id", "text", model)
        .collect().map(r => r.getLong(0) ->
          (r.getInt(1), r.getLong(2), r.getLong(3))).toMap
    val a = run(1)
    assert(a === run(5))
    assert(a.size === docs.count())
  }
}
