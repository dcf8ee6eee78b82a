package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}

/** Static greedy-matcher kernel the generated Java calls into (Scala
  * object ⇒ static forwarders, same pattern as [[VectorKernels]]).
  */
object WordpieceKernels {

  /** Greedy longest-match-first WordPiece token count for one word,
    * given as a code-point array (Spark string positions are code
    * points, so matching on code points reproduces `substr`/`length`
    * semantics exactly, surrogate pairs included). Returns the token
    * count; an uncoverable word, an empty word, or a word longer than
    * `maxWordLen` code points is UNK = exactly 1 token — the same
    * collapse [[graft.llm.Wordpiece.greedyFold]]'s final
    * `when(unk, 1)` performs.
    *
    * Probe order: longest candidate first, equivalent to the HOF
    * fold's ascending `foldLeft` whose later (longer) hits overwrite
    * earlier ones — including the fold's truncated-tail behavior
    * (`substr(i, l)` past the end returns the tail, whose match value
    * is its ACTUAL length, i.e. the same candidate this kernel probes
    * at length `L - pos`).
    */
  def wordTokens(cps: Array[Int], init: java.util.HashSet[String],
                 cont: java.util.HashSet[String], maxPiece: Int,
                 maxWordLen: Int): Int = {
    val L = cps.length
    if (L == 0 || L > maxWordLen) return 1
    var pos = 0
    var toks = 0
    while (pos < L) {
      val set = if (pos == 0) init else cont
      var l = math.min(maxPiece, L - pos)
      var m = 0
      while (m == 0 && l >= 1) {
        if (set.contains(new String(cps, pos, l))) m = l else l -= 1
      }
      if (m == 0) return 1
      pos += m
      toks += 1
    }
    toks
  }

  /** Per-document count: Σ wordTokens over the word array. A NULL
    * word element counts 1 (inputs come from `split`, which never
    * produces nulls — the value only pins determinism on synthetic
    * arrays).
    */
  def tokenCount(ws: ArrayData, init: java.util.HashSet[String],
                 cont: java.util.HashSet[String], maxPiece: Int,
                 maxWordLen: Int): Int = {
    val n = ws.numElements()
    var total = 0
    var i = 0
    while (i < n) {
      if (ws.isNullAt(i)) total += 1
      else {
        val cps = ws.getUTF8String(i).toString.codePoints().toArray
        total += wordTokens(cps, init, cont, maxPiece, maxWordLen)
      }
      i += 1
    }
    total
  }
}

/** `wordpiece_count(words, vocab, maxWordLen)` — native fused greedy
  * WordPiece scorer: one primitive loop per word against two hashed
  * vocab sets, replacing the interpreted 24-step × maxPiece-probe HOF
  * fold (kept in the test tree as `WordpieceReference`; the measured
  * 18.8× native-kernel lesson from the dedup family, applied to the
  * tokenizer stream scorer). Bit-equal to the HOF form on split()
  * input — proved in WordpieceNativeSpec against `wordTokenCounts`
  * and the stream scorer's batch twin.
  *
  * `vocab` must be a foldable `array<array<string>>` literal of
  * exactly two elements: [word-initial pieces, continuation pieces]
  * (BERT's `##` distinction as set membership, matching
  * [[graft.llm.Wordpiece.vocabMaps]]). It is hashed ONCE per plan
  * into two `java.util.HashSet[String]` reference objects — the
  * [[PlaneBuckets]] flatten-once discipline; per-probe work is one
  * substring + one hash lookup instead of a CreateMap-literal probe
  * tree.
  */
case class WordpieceTokenCount(first: Expression, second: Expression,
                               third: Expression) extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(StringType, _), ArrayType(ArrayType(StringType, _), _), IntegerType)
        if second.foldable && third.foldable => TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"wordpiece_count expects (array<string>, foldable array<array<string>>, " +
          s"foldable int), got (${a.simpleString}, ${b.simpleString}, ${c.simpleString})")
    }

  override def dataType: DataType = IntegerType

  override def nullable: Boolean = true

  /** (initSet, contSet, maxPiece) — hashed once per plan. */
  @transient private lazy val hashed:
      (java.util.HashSet[String], java.util.HashSet[String], Int) = {
    val top = second.eval(null).asInstanceOf[ArrayData]
    require(top.numElements() == 2,
      "wordpiece_count vocab must be [initial pieces, continuation pieces]")
    def toSet(a: ArrayData): java.util.HashSet[String] = {
      val s = new java.util.HashSet[String](a.numElements() * 2)
      var i = 0
      while (i < a.numElements()) {
        require(!a.isNullAt(i), "NULL vocab piece")
        s.add(a.getUTF8String(i).toString)
        i += 1
      }
      s
    }
    val (init, cont) = (toSet(top.getArray(0)), toSet(top.getArray(1)))
    var maxPiece = 1
    init.forEach(p => maxPiece = math.max(maxPiece, p.codePointCount(0, p.length)))
    cont.forEach(p => maxPiece = math.max(maxPiece, p.codePointCount(0, p.length)))
    (init, cont, maxPiece)
  }

  override protected def nullSafeEval(ws: Any, vocab: Any, maxLen: Any): Any = {
    val (init, cont, maxPiece) = hashed
    WordpieceKernels.tokenCount(ws.asInstanceOf[ArrayData], init, cont,
      maxPiece, maxLen.asInstanceOf[Int])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (init, cont, maxPiece) = hashed
    val initRef = ctx.addReferenceObj("wpInit", init, "java.util.HashSet")
    val contRef = ctx.addReferenceObj("wpCont", cont, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, (ws, _, maxLen) =>
      s"${ev.value} = graft.functions.WordpieceKernels.tokenCount(" +
        s"$ws, $initRef, $contRef, $maxPiece, $maxLen);")
  }

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
                                                 t: Expression): WordpieceTokenCount =
    copy(first = f, second = s, third = t)
}
