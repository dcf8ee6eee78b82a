package graft.llm

import graft.SparkSpec

class BpeSpec extends SparkSpec {

  // the classic BPE worked example: low×5 lower×2 newest×6 widest×3
  private def corpus = {
    import spark.implicits._
    Seq(
      (1L, ("low " * 5).trim + " " + ("lower " * 2).trim),
      (2L, ("newest " * 6).trim + " " + ("widest " * 3).trim)
    ).toDF("doc_id", "text")
  }

  test("train reproduces the hand-computed merge sequence with deterministic ties") {
    val merges = Bpe.train(corpus, "text", numMerges = 5).merges
    // pair counts: (e,s)=9 (s,t)=9 tie → lex picks (e,s); then (es,t)=9;
    // (l,o)=7 (o,w)=7 tie → (l,o); then (lo,w)=7; then (e,w)=6 beats
    // (n,e)/(w,est) on lex
    assert(merges === Seq(
      (1, "e", "s", 9L),
      (2, "es", "t", 9L),
      (3, "l", "o", 7L),
      (4, "lo", "w", 7L),
      (5, "e", "w", 6L)))
  }

  test("adjacent repeats merge the true-BPE way (aaaa → aa aa, not aa a a)") {
    import spark.implicits._
    val rep = Seq((1L, "aaaa aaaa aaa")).toDF("doc_id", "text")
    val model = Bpe.train(rep, "text", numMerges = 2)
    // pairs: aaaa has 3 (a,a), ×2 words; aaa has 2 → (a,a)=8
    assert(model.merges.head === ((1, "a", "a", 8L)))
    // after merge 1: aaaa → [aa, aa] (2 tokens), aaa → [aa, a];
    // merge 2 is then (aa, aa)=2 (beats (aa, a)=1)
    assert(model.merges(1) === ((2, "aa", "aa", 2L)))
    val toks = Bpe.wordTokenCounts(model).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(toks("aaaa") === 1) // aa+aa merged again by merge 2
    assert(toks("aaa") === 2)  // [aa, a]
  }

  test("encodeCounts: tokens per word after the trained merges") {
    import spark.implicits._
    val model = Bpe.train(corpus, "text", numMerges = 5)
    val doc = Seq((9L, "lower newest")).toDF("doc_id", "text")
    val out = Bpe.encodeCounts(doc, "doc_id", "text", model).collect().head
    // "lower" → low|e|r (3), "newest" → n|ew|est (3)
    assert(out.getAs[Int]("n_words") === 2)
    assert(out.getAs[Int]("bpe_tokens") === 6)
    assert(out.getAs[Double]("tokens_per_word") === 3.0)
  }

  /** Naive single-machine BPE (Sennrich reference algorithm) for
    * cross-checking the distributed trainer: word→symbol lists,
    * weighted pair counts, (count DESC, a, b) argmax, greedy
    * left-to-right non-overlapping merge.
    */
  private def naiveBpe(wordCnt: Map[String, Long],
                       numMerges: Int): Seq[(Int, String, String, Long)] = {
    var words: Map[Vector[String], Long] =
      wordCnt.map { case (w, c) => w.split("").filter(_.nonEmpty).toVector -> c }
        .groupMapReduce(_._1)(_._2)(_ + _)
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 1
    var done = false
    while (rank <= numMerges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        syms.sliding(2).foreach {
          case Vector(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + c
          case _            =>
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((a, b), n) = counts.minBy { case ((x, y), m) => (-m, x, y) }
        out += ((rank, a, b, n))
        words = words.map { case (syms, c) =>
          val merged = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              merged += (a + b); i += 2
            } else { merged += syms(i); i += 1 }
          }
          merged.result() -> c
        }.groupMapReduce(_._1)(_._2)(_ + _)
        rank += 1
      }
    }
    out.result()
  }

  test("distributed train equals the naive reference BPE on random corpora (5 seeds)") {
    import spark.implicits._
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      // small alphabet forces repeats, multi-char merges, and ties
      val vocab = Seq.fill(30)((1 to (1 + rnd.nextInt(6)))
        .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
      val text = Seq.fill(120)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val df = Seq((1L, text)).toDF("doc_id", "text")
      val wordCnt = text.split(" ").groupBy(identity)
        .map { case (w, ws) => w -> ws.length.toLong }
      val expected = naiveBpe(wordCnt, 6)
      val got = Bpe.train(df, "text", 6).merges
      assert(got === expected, s"seed $seed")
    }
  }

  test("batched train is bit-identical to sequential on random corpora (5 seeds × 3 batch sizes)") {
    import spark.implicits._
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(100 + seed)
      val vocab = Seq.fill(30)((1 to (1 + rnd.nextInt(6)))
        .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
      val text = Seq.fill(120)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val df = Seq((1L, text)).toDF("doc_id", "text")
      val sequential = Bpe.train(df, "text", 8, batch = 1).merges
      for (b <- Seq(2, 4, 8))
        assert(Bpe.train(df, "text", 8, batch = b).merges === sequential,
          s"seed $seed batch $b")
    }
  }

  test("batched train handles the pre-existing-product trap exactly") {
    import spark.implicits._
    // 'ab' already exists as a word (single merge away from being a
    // symbol), so merging (a,b) later re-feeds existing (x,ab) pairs —
    // the growth channel rule (ii) exists for. Corpus built so the
    // batch WOULD have kept a lower-count pair that sequential
    // overtakes after the boost.
    val text = (Seq.fill(20)("ab") ++ Seq.fill(12)("xab") ++
      Seq.fill(11)("xa b") ++ Seq.fill(7)("cd")).mkString(" ")
    val df = Seq((1L, text)).toDF("doc_id", "text")
    for (m <- 1 to 6; b <- Seq(2, 4, 8))
      assert(Bpe.train(df, "text", m, batch = b).merges ===
        Bpe.train(df, "text", m, batch = 1).merges, s"merges $m batch $b")
  }

  test("batched train matches sequential on the documents table") {
    val docs = graft.Tables.documents(spark, sf("sf0.001"))
    val sequential = Bpe.train(docs, "text", 8, batch = 1).merges
    assert(sequential.size === 8)
    assert(Bpe.train(docs, "text", 8, batch = 8).merges === sequential)
  }

  test("merging to exhaustion stops early and single-symbol words survive") {
    import spark.implicits._
    val tiny = Seq((1L, "a a b")).toDF("doc_id", "text")
    // "a" and "b" are single-symbol words: no adjacent pairs → no merges
    assert(Bpe.train(tiny, "text", 3).merges === Seq.empty)
    val ab = Seq((1L, "ab ab cd")).toDF("doc_id", "text")
    val m = Bpe.train(ab, "text", 10).merges
    // (a,b)=2 then (c,d)=1, then nothing left
    assert(m === Seq((1, "a", "b", 2L), (2, "c", "d", 1L)))
  }
}
