package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass kernels for the md5 text-hashing family — the
  * measured hot loop of the dedup / ngram / winnow / decontam / DSIR
  * operators (guide §4: built-ins where they exist, a fused codegen'd
  * Expression where the built-in composition is the bottleneck).
  *
  * The portable form these kernels replace is
  * `transform(grams, g => conv(substring(md5(g), 1, 8), 16, 10))`:
  * higher-order lambdas are interpreted per element (ArrayTransform is
  * CodegenFallback), and each element pays md5 → 32-char hex UTF8String
  * → substring → conv (a string base-conversion) → cast. Stage
  * isolation at sf0.1 (OPTIMIZATION_r12, noop sink, median of 5):
  * char-trigram hashing 2.75 s and word-8-gram hashing 3.07 s per pass
  * over the 5 000-doc corpus, vs 0.12 s for the raw text scan. These
  * kernels compute the identical values — md5 over the identical UTF-8
  * bytes, first 4 bytes as an unsigned 32-bit big-endian integer
  * (exactly `conv(substring(hex, 1, 8), 16, 10)`) — in one primitive
  * pass per row with no hex materialization and no per-element lambda
  * dispatch. Bit-equality with the HOF forms is pinned in
  * TextHashExpressionsSpec. The kernels are the only path: every call
  * site needs a session carrying GraftExtensions (graft.Session).
  */
object TextHashKernels {

  private val mdLocal: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  private val Space: Byte = ' '.toByte

  /** First 8 md5 hex digits as a long — bytes 0..3 big-endian. */
  private def first4(d: Array[Byte]): Long =
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)

  /** First 15 md5 hex digits as a long — 60 bits big-endian. */
  private def first15hex(d: Array[Byte]): Long =
    ((d(0) & 0xffL) << 52) | ((d(1) & 0xffL) << 44) | ((d(2) & 0xffL) << 36) |
      ((d(3) & 0xffL) << 28) | ((d(4) & 0xffL) << 20) | ((d(5) & 0xffL) << 12) |
      ((d(6) & 0xffL) << 4) | ((d(7) & 0xffL) >>> 4)

  def h32(s: UTF8String): Long = {
    val md = mdLocal.get()
    first4(md.digest(s.getBytes))
  }

  def h60(s: UTF8String): Long = {
    val md = mdLocal.get()
    first15hex(md.digest(s.getBytes))
  }

  /** `transform(ws, w => h60(w))` in one pass (null element → null). */
  def h60Array(ws: ArrayData): ArrayData = {
    val n = ws.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!ws.isNullAt(i)) out(i) = h60(ws.getUTF8String(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Minimal open-addressed long set for first-occurrence dedup. */
  private final class LongSet(expected: Int) {
    private var cap = 8
    while (cap < expected * 2) cap <<= 1
    private val mask = cap - 1
    private val keys = new Array[Long](cap)
    private val used = new Array[Boolean](cap)
    /** true iff k was NOT already present (and inserts it). */
    def add(k: Long): Boolean = {
      var idx = (java.lang.Long.hashCode(k) & 0x7fffffff) & mask
      while (true) {
        if (!used(idx)) { used(idx) = true; keys(idx) = k; return true }
        if (keys(idx) == k) return false
        idx = (idx + 1) & mask
      }
      false
    }
  }

  /** Word n-gram hashes: for i = 0..(|ws|−n), md5 of
    * `prefix + join(ws[i..i+n−1], " ")` (array_join semantics: null
    * elements skipped, along with their separator), first-4-bytes →
    * long, `% mod` when mod > 0, first-occurrence-distinct when
    * `distinct`. |ws| < n → empty array (the Decontam/Winnow `when`
    * guard). For n = 1 a null element maps to a null hash (the
    * `transform(toks, h32)` semantics the n=1 form replaces).
    */
  def wordgramH32(ws: ArrayData, n: Int, prefix: Array[Byte], mod: Long,
                  distinct: Boolean): ArrayData = {
    val sz = ws.numElements()
    val cnt = sz - (n - 1)
    if (cnt <= 0) return new GenericArrayData(new Array[Any](0))
    val elems = new Array[Array[Byte]](sz)
    var k = 0
    while (k < sz) {
      if (!ws.isNullAt(k)) elems(k) = ws.getUTF8String(k).getBytes
      k += 1
    }
    val md = mdLocal.get()
    val out = new Array[Any](cnt)
    var m = 0
    val seen = if (distinct) new LongSet(cnt) else null
    var seenNull = false
    var i = 0
    while (i < cnt) {
      if (n == 1 && elems(i) == null) {
        if (!distinct || !seenNull) { out(m) = null; m += 1; seenNull = true }
      } else {
        md.reset()
        if (prefix.length > 0) md.update(prefix)
        var first = true
        var j = i
        val end = i + n
        while (j < end) {
          if (elems(j) != null) {
            if (!first) md.update(Space)
            md.update(elems(j))
            first = false
          }
          j += 1
        }
        var h = first4(md.digest())
        if (mod > 0) h %= mod
        if (seen == null || seen.add(h)) { out(m) = h; m += 1 }
      }
      i += 1
    }
    if (m == cnt) new GenericArrayData(out)
    else new GenericArrayData(java.util.Arrays.copyOf(
      out.asInstanceOf[Array[AnyRef]], m))
  }

  /** Char-boundary byte offsets of a UTF-8 buffer: offs(c) = byte
    * offset where char c starts; offs(numChars) = length.
    */
  private def charOffsets(bytes: Array[Byte]): Array[Int] = {
    val offs = new Array[Int](bytes.length + 1)
    var nc = 0
    var b = 0
    while (b < bytes.length) {
      offs(nc) = b
      b += UTF8String.numBytesForFirstByte(bytes(b))
      nc += 1
    }
    offs(nc) = bytes.length
    java.util.Arrays.copyOf(offs, nc + 1)
  }

  /** Distinct mod-sketched char n-gram hashes:
    * `array_distinct(filter(transform(sequence(1, greatest(len−n+1, 1)),
    * i => h32(substr(text, i, n))), h => h % modP === 0))` in one pass.
    */
  def ngramH32Set(text: UTF8String, n: Int, modP: Long): ArrayData = {
    val bytes = text.getBytes
    val offs = charOffsets(bytes)
    val numChars = offs.length - 1
    val upper = math.max(numChars - (n - 1), 1)
    val md = mdLocal.get()
    val out = new Array[Any](upper)
    var m = 0
    val seen = new LongSet(upper)
    var i = 0
    while (i < upper) {
      val start = offs(i)
      val end = offs(math.min(i + n, numChars))
      md.reset()
      md.update(bytes, start, end - start)
      val h = first4(md.digest())
      if (h % modP == 0 && seen.add(h)) { out(m) = h; m += 1 }
      i += 1
    }
    if (m == upper) new GenericArrayData(out)
    else new GenericArrayData(java.util.Arrays.copyOf(
      out.asInstanceOf[Array[AnyRef]], m))
  }

  /** Rolling char-n-gram fingerprint pair in one pass:
    * (min h32 over all grams, count of DISTINCT gram strings) —
    * `array_min(transform(grams, h32))` + `size(array_distinct(grams))`
    * with grams = substr(text, i, n) for i = 1..greatest(len−n+1, 1).
    * String distinctness is exact: grams dedupe by byte-slice equality
    * (hash-probed on the gram's h32, full byte compare on collision),
    * never by hash alone.
    */
  def charFingerprint(text: UTF8String, n: Int): InternalRow = {
    val bytes = text.getBytes
    val offs = charOffsets(bytes)
    val numChars = offs.length - 1
    val upper = math.max(numChars - (n - 1), 1)
    val md = mdLocal.get()
    var minH = Long.MaxValue
    // open-addressed set of byte slices, probed by gram hash
    var cap = 8
    while (cap < upper * 2) cap <<= 1
    val mask = cap - 1
    val hashes = new Array[Long](cap)
    val starts = new Array[Int](cap)
    val ends = new Array[Int](cap)
    val used = new Array[Boolean](cap)
    var nDistinct = 0
    var i = 0
    while (i < upper) {
      val start = offs(i)
      val end = offs(math.min(i + n, numChars))
      md.reset()
      md.update(bytes, start, end - start)
      val h = first4(md.digest())
      if (h < minH) minH = h
      var idx = (java.lang.Long.hashCode(h) & 0x7fffffff) & mask
      var break = false
      while (!break) {
        if (!used(idx)) {
          used(idx) = true; hashes(idx) = h; starts(idx) = start; ends(idx) = end
          nDistinct += 1; break = true
        } else if (hashes(idx) == h && sliceEq(bytes, starts(idx), ends(idx), start, end)) {
          break = true
        } else idx = (idx + 1) & mask
      }
      i += 1
    }
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
    row.update(0, minH)
    row.update(1, nDistinct)
    row
  }

  private def sliceEq(b: Array[Byte], s1: Int, e1: Int, s2: Int, e2: Int): Boolean = {
    if (e1 - s1 != e2 - s2) return false
    var i = 0
    val len = e1 - s1
    while (i < len) {
      if (b(s1 + i) != b(s2 + i)) return false
      i += 1
    }
    true
  }

  /** Winnowing window minima (Winnow.selectMins semantics): empty →
    * empty; fewer than w grams → [min over all]; else the
    * first-occurrence-distinct sequence of each w-window's minimum.
    * Null elements are skipped like array_min (an all-null window
    * yields a null minimum).
    */
  def winnowMins(hs: ArrayData, w: Int): ArrayData = {
    val sz = hs.numElements()
    if (sz == 0) return new GenericArrayData(new Array[Any](0))
    val vals = new Array[Long](sz)
    val nulls = new Array[Boolean](sz)
    var i = 0
    while (i < sz) {
      if (hs.isNullAt(i)) nulls(i) = true else vals(i) = hs.getLong(i)
      i += 1
    }
    def windowMin(from: Int, until: Int): Any = {
      var m = Long.MaxValue
      var any = false
      var j = from
      while (j < until) {
        if (!nulls(j)) { if (!any || vals(j) < m) { m = vals(j); any = true } }
        j += 1
      }
      if (any) m else null
    }
    val cnt = sz - (w - 1)
    if (cnt <= 0) return new GenericArrayData(Array[Any](windowMin(0, sz)))
    val out = new Array[Any](cnt)
    var m = 0
    val seen = new LongSet(cnt)
    var seenNull = false
    i = 0
    while (i < cnt) {
      windowMin(i, i + w) match {
        case null => if (!seenNull) { out(m) = null; m += 1; seenNull = true }
        case v: Long => if (seen.add(v)) { out(m) = v; m += 1 }
      }
      i += 1
    }
    if (m == cnt) new GenericArrayData(out)
    else new GenericArrayData(java.util.Arrays.copyOf(
      out.asInstanceOf[Array[AnyRef]], m))
  }
}

/** Shared shape for the unary kernel expressions: constant parameters
  * live on the case class (extracted from foldable literals at
  * function-registration time), the single child is the data column.
  */
private[functions] trait KernelUnary extends UnaryExpression {
  protected def kernelCall(x: String): String
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => s"${ev.value} = ${kernelCall(x)};")
}

/** `h32_native(s)` ≡ `conv(substring(md5(s), 1, 8), 16, 10)::long`. */
case class H32Native(child: Expression) extends KernelUnary {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"h32_native expects string, got ${dt.simpleString}")
  }
  override def dataType: DataType = LongType
  override protected def nullSafeEval(s: Any): Any =
    TextHashKernels.h32(s.asInstanceOf[UTF8String])
  override protected def kernelCall(x: String): String =
    s"graft.functions.TextHashKernels.h32($x)"
  override protected def withNewChildInternal(c: Expression): H32Native = copy(child = c)
}

/** `h60_native(s)` ≡ `conv(substring(md5(s), 1, 15), 16, 10)::long`. */
case class H60Native(child: Expression) extends KernelUnary {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"h60_native expects string, got ${dt.simpleString}")
  }
  override def dataType: DataType = LongType
  override protected def nullSafeEval(s: Any): Any =
    TextHashKernels.h60(s.asInstanceOf[UTF8String])
  override protected def kernelCall(x: String): String =
    s"graft.functions.TextHashKernels.h60($x)"
  override protected def withNewChildInternal(c: Expression): H60Native = copy(child = c)
}

/** `h60_array(ws)` ≡ `transform(ws, w => h60(w))`. */
case class H60Array(child: Expression) extends KernelUnary {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"h60_array expects array<string>, got ${dt.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override protected def nullSafeEval(ws: Any): Any =
    TextHashKernels.h60Array(ws.asInstanceOf[ArrayData])
  override protected def kernelCall(x: String): String =
    s"graft.functions.TextHashKernels.h60Array($x)"
  override protected def withNewChildInternal(c: Expression): H60Array = copy(child = c)
}

/** `wordgram_h32(ws, n, prefix, mod, distinct)` — see
  * [[TextHashKernels.wordgramH32]]. All parameters but `ws` must be
  * foldable literals (enforced at registration).
  */
case class WordGramH32(child: Expression, n: Int, prefix: String,
                       mod: Long, distinct: Boolean) extends KernelUnary {
  require(n >= 1, "wordgram_h32: n must be >= 1")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"wordgram_h32 expects array<string>, got ${dt.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = n == 1)
  @transient private lazy val prefixBytes: Array[Byte] =
    prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  override protected def nullSafeEval(ws: Any): Any =
    TextHashKernels.wordgramH32(ws.asInstanceOf[ArrayData], n, prefixBytes, mod, distinct)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pref = ctx.addReferenceObj("wgPrefix", prefixBytes, "byte[]")
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.TextHashKernels.wordgramH32($x, $n, $pref, ${mod}L, $distinct);")
  }
  override protected def kernelCall(x: String): String = "" // unused (doGenCode overridden)
  override protected def withNewChildInternal(c: Expression): WordGramH32 = copy(child = c)
}

/** `ngram_h32_set(text, n, modP)` — see [[TextHashKernels.ngramH32Set]]. */
case class NgramH32Set(child: Expression, n: Int, modP: Long) extends KernelUnary {
  require(n >= 1 && modP >= 1, "ngram_h32_set: n and modP must be >= 1")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"ngram_h32_set expects string, got ${dt.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(s: Any): Any =
    TextHashKernels.ngramH32Set(s.asInstanceOf[UTF8String], n, modP)
  override protected def kernelCall(x: String): String =
    s"graft.functions.TextHashKernels.ngramH32Set($x, $n, ${modP}L)"
  override protected def withNewChildInternal(c: Expression): NgramH32Set = copy(child = c)
}

/** `char_fingerprint(text, n)` — see [[TextHashKernels.charFingerprint]]. */
case class CharFingerprint(child: Expression, n: Int) extends KernelUnary {
  require(n >= 1, "char_fingerprint: n must be >= 1")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"char_fingerprint expects string, got ${dt.simpleString}")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("fingerprint", LongType, nullable = false),
    StructField("n_grams", IntegerType, nullable = false)))
  override protected def nullSafeEval(s: Any): Any =
    TextHashKernels.charFingerprint(s.asInstanceOf[UTF8String], n)
  override protected def kernelCall(x: String): String =
    s"graft.functions.TextHashKernels.charFingerprint($x, $n)"
  override protected def withNewChildInternal(c: Expression): CharFingerprint = copy(child = c)
}

/** `winnow_mins(hs, w)` — see [[TextHashKernels.winnowMins]]. */
case class WinnowMins(child: Expression, w: Int) extends KernelUnary {
  require(w >= 1, "winnow_mins: w must be >= 1")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"winnow_mins expects array<bigint>, got ${dt.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override protected def nullSafeEval(hs: Any): Any =
    TextHashKernels.winnowMins(hs.asInstanceOf[ArrayData], w)
  override protected def kernelCall(x: String): String =
    s"graft.functions.TextHashKernels.winnowMins($x, $w)"
  override protected def withNewChildInternal(c: Expression): WinnowMins = copy(child = c)
}
