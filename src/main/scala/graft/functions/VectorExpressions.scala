package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, IntegerType, LongType, StringType}

/** Native Catalyst expression for the embedding dot product — the one
  * hot loop where the built-in composition
  * (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`) is measurably wasteful:
  * zip_with materializes an intermediate array per row and the fold
  * walks it back through generic getters. This expression runs one
  * fused primitive loop, with `doGenCode` emitting straight Java
  * inside WholeStageCodegen (SURVEY.md §7.3 custom-path (b): a scalar
  * Expression, not a plan rule — built-ins express the semantics,
  * this is purely the codegen'd fast path).
  *
  * Semantics (incl. IEEE accumulation order: sequential left fold,
  * NULL if either side or any element is NULL) match the higher-order
  * form exactly — proved in VectorExpressionsSpec. At 100 TB the ANN
  * scoring join is compute-bound on exactly this loop.
  *
  * Registered through the public [[SparkSessionExtensions]] hook
  * ([[GraftExtensions]], `spark.sql.extensions`) as `dot_native`.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_native expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    // Length mismatch → NULL, exactly like the higher-order form:
    // zip_with null-pads the shorter side, the padded product is NULL,
    // and the fold propagates it. (Truncating to min length here would
    // silently diverge from the higher-order form on ragged input.)
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var i = 0
    var acc = 0.0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |if ($x.numElements() != $y.numElements()) { ${ev.isNull} = true; }
         |int $n = $x.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; !${ev.isNull} && $i < $n; $i++) {
         |  if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $acc += $x.getDouble($i) * $y.getDouble($i);
         |}
         |if (!${ev.isNull}) ${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Native 60-bit SimHash signature over an `array<long>` of token
  * hashes — the dedup hot loop where the built-in composition
  * (`aggregate(sequence(0,59), …)` with an inner `aggregate(hashes)`
  * per bit) re-walks the token array 60× per document through
  * interpreted higher-order lambdas. This expression makes one pass:
  * a primitive `long[60]` vote counter updated per element, then the
  * sign fold into the signature.
  *
  * Semantics match the 60-fold HOF form exactly, including
  * its null-element behavior: a NULL token hash votes −1 on every bit
  * (the HOF's `when(NULL…)` falls to the otherwise branch). NULL array
  * → NULL. Proved equal in VectorExpressionsSpec.
  *
  * Reference context: the SimHash family extends the reference's
  * dedup-free pipeline for LLM training data (builder brief); the
  * banding/verify machinery lives in graft.llm.Dedup.
  */
case class SimHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"simhash_native expects array<bigint>, got ${dt.simpleString}")
  }

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  private val Bits = 60

  override protected def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val votes = new Array[Long](Bits)
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i)) {
        var j = 0
        while (j < Bits) { votes(j) -= 1L; j += 1 }
      } else {
        val h = xs.getLong(i)
        var j = 0
        while (j < Bits) { votes(j) += ((h >>> j) & 1L) * 2L - 1L; j += 1 }
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < Bits) { if (votes(j) > 0L) sig |= 1L << j; j += 1 }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val votes = ctx.freshName("votes")
      val sig = ctx.freshName("sig")
      s"""
         |long[] $votes = new long[$Bits];
         |for (int $i = 0; $i < $x.numElements(); $i++) {
         |  if ($x.isNullAt($i)) {
         |    for (int $j = 0; $j < $Bits; $j++) $votes[$j] -= 1L;
         |  } else {
         |    long $h = $x.getLong($i);
         |    for (int $j = 0; $j < $Bits; $j++) $votes[$j] += (($h >>> $j) & 1L) * 2L - 1L;
         |  }
         |}
         |long $sig = 0L;
         |for (int $j = 0; $j < $Bits; $j++) if ($votes[$j] > 0L) $sig |= 1L << $j;
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash =
    copy(child = newChild)
}

/** Static kernels the generated Java calls into (Scala objects emit
  * static forwarders, so `VectorKernels.intersectCard(...)` is valid
  * from codegen'd sources).
  */
object VectorKernels {
  /** |A ∩ B| for two long arrays treated as sets (inputs are
    * `array_distinct`-ed upstream). Open-addressing probe table over
    * the smaller side — no boxing, no intermediate array, unlike
    * `size(array_intersect(...))` which materializes the whole
    * intersection through an OpenHashSet of boxed elements.
    * NULL elements are ignored (cannot match — mirrors
    * `list_intersect` set semantics on non-null members).
    */
  def intersectCard(a: ArrayData, b: ArrayData): Int = {
    val (small, large) = if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val n = small.numElements()
    if (n == 0) return 0
    var cap = 8
    while (cap < n * 2) cap <<= 1
    val mask = cap - 1
    val keys = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    var i = 0
    while (i < n) {
      if (!small.isNullAt(i)) {
        val k = small.getLong(i)
        var idx = (java.lang.Long.hashCode(k) & 0x7fffffff) & mask
        var break = false
        while (!break) {
          if (!used(idx)) { used(idx) = true; keys(idx) = k; break = true }
          else if (keys(idx) == k) break = true
          else idx = (idx + 1) & mask
        }
      }
      i += 1
    }
    // Probe without mutation: inputs are distinct arrays, so each
    // large-side key can match at most once — no double-count, and
    // clearing slots would break other keys' probe chains.
    var count = 0
    val m = large.numElements()
    var j = 0
    while (j < m) {
      if (!large.isNullAt(j)) {
        val k = large.getLong(j)
        var idx = (java.lang.Long.hashCode(k) & 0x7fffffff) & mask
        var break = false
        while (!break) {
          if (!used(idx)) break = true
          else if (keys(idx) == k) { count += 1; break = true }
          else idx = (idx + 1) & mask
        }
      }
      j += 1
    }
    count
  }

  /** One-pass MinHash signature: `numPerm` affine permutations
    * `(h·a_j + b_j) mod P` with `a_j = 1 + 7919·j`,
    * `b_j = 1 + 104729·j` (the same literal constants the DuckDB
    * oracle restates), folded to their minima in a single scan of the
    * token-hash array. Replaces a nested interpreted-HOF form that
    * walks the array numPerm times. NULL elements are skipped (they
    * contribute no candidate minimum, like `list_min` over non-nulls).
    */
  def minhashSig(hashes: ArrayData, numPerm: Int, p: Long): ArrayData = {
    val mins = Array.fill(numPerm)(Long.MaxValue)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      if (!hashes.isNullAt(i)) {
        val h = hashes.getLong(i)
        var j = 0
        while (j < numPerm) {
          val v = (h * (1L + 7919L * j) + (1L + 104729L * j)) % p
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    // Untouched slots (empty / all-null input) become NULL, exactly
    // like array_min over an empty/all-null transform result.
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      mins.map(x => if (x == Long.MaxValue) null else (x: Any)))
  }

  /** All LSH sign-buckets of a vector in one pass: bucket g =
    * Σ_{p: v·plane_{g,p} > 0} 2^p over the flattened `groups×bits×dim`
    * plane matrix. Dot products accumulate in element order (the same
    * sequential IEEE fold as [[DotProduct]]), so buckets are
    * bit-identical to the HOF form `aggregate(transform(...))` they
    * replace. A ragged vector (length ≠ dim) or any NULL element makes
    * every dot NULL in the HOF form, whose `when` then contributes 0
    * to every bit — mirrored here by returning all-zero buckets.
    */
  def planeBuckets(v: ArrayData, flat: Array[Double], groups: Int,
                   bits: Int, dim: Int): ArrayData = {
    val out = new Array[Long](groups)
    val n = v.numElements()
    var degenerate = n != dim
    var i = 0
    while (!degenerate && i < n) {
      if (v.isNullAt(i)) degenerate = true
      i += 1
    }
    if (!degenerate) {
      var g = 0
      var off = 0
      while (g < groups) {
        var sig = 0L
        var p = 0
        while (p < bits) {
          var acc = 0.0
          var d = 0
          while (d < dim) {
            acc += v.getDouble(d) * flat(off + d)
            d += 1
          }
          if (acc > 0) sig |= 1L << p
          p += 1
          off += dim
        }
        out(g) = sig
        g += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** `intersect_card(a, b)` — see [[VectorKernels.intersectCard]]. */
case class IntersectCard(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"intersect_card expects (array<bigint>, array<bigint>), got (${l.simpleString}, ${r.simpleString})")
  }
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullable: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.intersectCard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.functions.VectorKernels.intersectCard($x, $y);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): IntersectCard =
    copy(left = l, right = r)
}

/** `minhash_sig(hashes, numPerm)` — see [[VectorKernels.minhashSig]].
  * numPerm must be a foldable int literal.
  */
case class MinHashSig(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), org.apache.spark.sql.types.IntegerType) if right.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects (array<bigint>, int literal), got (${l.simpleString}, ${r.simpleString})")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = true
  private val P = 2147483647L
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.minhashSig(a.asInstanceOf[ArrayData], b.asInstanceOf[Int], P)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, k) =>
      s"${ev.value} = graft.functions.VectorKernels.minhashSig($x, $k, ${P}L);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): MinHashSig =
    copy(left = l, right = r)
}

/** `plane_buckets(vec, planes)` — all LSH sign-buckets in one fused
  * pass ([[VectorKernels.planeBuckets]]). `planes` must be a foldable
  * `array<array<array<double>>>` literal (groups × bits × dim); it is
  * flattened ONCE per plan into a primitive `double[]` carried as a
  * codegen reference object, replacing the groups×bits HOF tree whose
  * generated code dominated `ann_lsh_topk`'s cold time
  * (janino-compiling the nested-literal fold — NOTES_r3 item 4).
  */
case class PlaneBuckets(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _),
          ArrayType(ArrayType(ArrayType(DoubleType, _), _), _)) if right.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"plane_buckets expects (array<double>, foldable array<array<array<double>>>), " +
        s"got (${l.simpleString}, ${r.simpleString})")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  /** (flat planes, groups, bits, dim) — evaluated once per plan. */
  @transient private lazy val flattened: (Array[Double], Int, Int, Int) = {
    val top = right.eval(null).asInstanceOf[ArrayData]
    val groups = top.numElements()
    require(groups > 0, "plane_buckets needs at least one plane group")
    val g0 = top.getArray(0)
    val bits = g0.numElements()
    require(bits > 0 && bits < 64, s"bits per group must be in [1, 63], got $bits")
    val dim = g0.getArray(0).numElements()
    val flat = new Array[Double](groups * bits * dim)
    var g = 0
    while (g < groups) {
      val ga = top.getArray(g)
      require(ga.numElements() == bits, "ragged plane groups")
      var p = 0
      while (p < bits) {
        val pa = ga.getArray(p)
        require(pa.numElements() == dim, "ragged planes")
        var d = 0
        while (d < dim) {
          flat((g * bits + p) * dim + d) = pa.getDouble(d)
          d += 1
        }
        p += 1
      }
      g += 1
    }
    (flat, groups, bits, dim)
  }

  override protected def nullSafeEval(v: Any, planes: Any): Any = {
    val (flat, groups, bits, dim) = flattened
    VectorKernels.planeBuckets(v.asInstanceOf[ArrayData], flat, groups, bits, dim)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (flat, groups, bits, dim) = flattened
    val flatRef = ctx.addReferenceObj("planesFlat", flat, "double[]")
    nullSafeCodeGen(ctx, ev, (x, _) =>
      s"${ev.value} = graft.functions.VectorKernels.planeBuckets(" +
        s"$x, $flatRef, $groups, $bits, $dim);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PlaneBuckets =
    copy(left = l, right = r)
}

/** Engine extensions — wire with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * or `.withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("dot_native"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_native"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "dot_native takes exactly 2 arguments")
        DotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash_native"),
      new ExpressionInfo(classOf[SimHash].getName, "simhash_native"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "simhash_native takes exactly 1 argument")
        SimHash(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("intersect_card"),
      new ExpressionInfo(classOf[IntersectCard].getName, "intersect_card"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "intersect_card takes exactly 2 arguments")
        IntersectCard(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "minhash_sig takes exactly 2 arguments")
        MinHashSig(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("plane_buckets"),
      new ExpressionInfo(classOf[PlaneBuckets].getName, "plane_buckets"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "plane_buckets takes exactly 2 arguments")
        PlaneBuckets(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("wordpiece_count"),
      new ExpressionInfo(classOf[WordpieceTokenCount].getName, "wordpiece_count"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "wordpiece_count takes exactly 3 arguments")
        WordpieceTokenCount(children.head, children(1), children(2))
      }))
    // --- md5 text-hash kernels (TextHashExpressions) ---
    // Constant params arrive as foldable literals and are extracted at
    // build time onto the case class, so the plan tree carries one
    // child (the data column) plus primitive config.
    def litInt(e: Expression, fn: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$fn expects an int literal parameter, got $other")
    }
    def litLong(e: Expression, fn: String): Long = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v.toLong
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, LongType) => v
      case other => throw new IllegalArgumentException(
        s"$fn expects an integer literal parameter, got $other")
    }
    def litStr(e: Expression, fn: String): String = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: org.apache.spark.unsafe.types.UTF8String, StringType) =>
        v.toString
      case other => throw new IllegalArgumentException(
        s"$fn expects a string literal parameter, got $other")
    }
    def litBool(e: Expression, fn: String): Boolean = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Boolean, BooleanType) => v
      case other => throw new IllegalArgumentException(
        s"$fn expects a boolean literal parameter, got $other")
    }
    ext.injectFunction((
      new FunctionIdentifier("h32_native"),
      new ExpressionInfo(classOf[H32Native].getName, "h32_native"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "h32_native takes exactly 1 argument")
        H32Native(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("h60_native"),
      new ExpressionInfo(classOf[H60Native].getName, "h60_native"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "h60_native takes exactly 1 argument")
        H60Native(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("h60_array"),
      new ExpressionInfo(classOf[H60Array].getName, "h60_array"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "h60_array takes exactly 1 argument")
        H60Array(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("wordgram_h32"),
      new ExpressionInfo(classOf[WordGramH32].getName, "wordgram_h32"),
      (children: Seq[Expression]) => {
        require(children.length == 5,
          "wordgram_h32 takes (ws, n, prefix, mod, distinct)")
        WordGramH32(children.head, litInt(children(1), "wordgram_h32"),
          litStr(children(2), "wordgram_h32"), litLong(children(3), "wordgram_h32"),
          litBool(children(4), "wordgram_h32"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("ngram_h32_set"),
      new ExpressionInfo(classOf[NgramH32Set].getName, "ngram_h32_set"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "ngram_h32_set takes (text, n, modP)")
        NgramH32Set(children.head, litInt(children(1), "ngram_h32_set"),
          litLong(children(2), "ngram_h32_set"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("char_fingerprint"),
      new ExpressionInfo(classOf[CharFingerprint].getName, "char_fingerprint"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "char_fingerprint takes (text, n)")
        CharFingerprint(children.head, litInt(children(1), "char_fingerprint"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("winnow_mins"),
      new ExpressionInfo(classOf[WinnowMins].getName, "winnow_mins"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "winnow_mins takes (hs, w)")
        WinnowMins(children.head, litInt(children(1), "winnow_mins"))
      }))
    // whole-operator extension: the as-of join (SURVEY §7.3 (c))
    ext.injectPlannerStrategy(_ => new graft.plans.AsOfJoinStrategy)
  }
}
