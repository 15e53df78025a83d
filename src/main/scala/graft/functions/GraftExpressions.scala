package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the hot inner loops of the dedup /
  * similarity operators — the two places where composing built-ins is
  * measurably inefficient at scale (each runs once per CANDIDATE PAIR, not
  * once per row):
  *
  *  - [[SortedIntersectCount]] replaces `size(array_intersect(a, b))`: a
  *    merge-scan over two sorted long arrays — no hash set, no result-array
  *    allocation, primitive comparisons only.
  *  - [[QuantizedDot]] replaces a decimal `aggregate(zip_with(...))` dot
  *    product: embeddings are floor-quantized to 2^-20 grid longs and the dot
  *    is exact 64-bit integer arithmetic — order-independent, overflow-free
  *    (|q| < 2^21, 64 products < 2^48), and branch-free in codegen. `floor` on
  *    an exactly-representable double is unambiguous, so DuckDB reproduces the
  *    value bit-for-bit — unlike any float-sum formulation.
  *
  * Both implement `doGenCode`, so they inline into whole-stage codegen instead
  * of falling back to interpreted eval like higher-order functions do.
  */
object GraftExpressions {

  /** Quantization grid: 2^20 steps per unit. */
  val QuantShift = 20
  val Quant: Long = 1L << QuantShift

  /** DuckDB twin of one quantized element. */
  def quantSql(x: String): String = s"CAST(floor(CAST($x AS DOUBLE)*$Quant) AS BIGINT)"

  /** DuckDB twin of [[QuantizedDot]]. */
  def qdotSql(a: String, b: String): String =
    s"list_sum([${quantSql("x[1]")} * ${quantSql("x[2]")} FOR x IN list_zip($a, $b)])"

  // --------------------------------------------------------------------------
  // Registration (per-session runtime registry + SparkSessionExtensions)
  // --------------------------------------------------------------------------

  /** THE single registration list — the runtime registry ([[register]]) and
    * the [[GraftSparkExtensions]] hook both derive from it, so a new
    * expression is added in exactly one place.
    */
  private[functions] val builders: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_sorted_intersect_count", classOf[SortedIntersectCount],
      args => SortedIntersectCount(args(0), args(1))),
    ("graft_qdot", classOf[QuantizedDot], args => QuantizedDot(args(0), args(1))),
    ("graft_intdot", classOf[IntDot], args => IntDot(args(0), args(1))),
    ("graft_simhash32", classOf[SimHash32], args => SimHash32(args(0))),
    ("graft_minhash", classOf[MinHashSig],
      args => MinHashSig(args(0), args(1), MinHashSig.literalK(args(2)))),
    ("graft_sorted_run_stats", classOf[SortedRunStats],
      args => SortedRunStats(args(0))),
    ("graft_hilbert", classOf[HilbertKey],
      args => HilbertKey(args(0), args(1))),
    ("graft_dhash64", classOf[DHash64], args => DHash64(args(0))),
    ("graft_pq_argmin", classOf[PqArgminCode],
      args => PqArgminCode(args(0), PqArgminCode.literalCodebook(args(1)))))

  /** Idempotent per-session registration; call before building plans that use
    * the column wrappers below. A name already bound to its builder here (by
    * an earlier call or by [[GraftSparkExtensions]]) is left alone: binding
    * it again would replace an equal function and log a warning per name
    * per call.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, _, b) =>
      val id = org.apache.spark.sql.catalyst.FunctionIdentifier(name)
      if (!registry.lookupFunctionBuilder(id).contains(b))
        registry.createOrReplaceTempFunction(name, b, "built-in")
    }
  }

  /** Intersection size of two SORTED long-array sets. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    call_function("graft_sorted_intersect_count", a, b)

  /** Exact integer dot product of two float arrays on the 2^-20 grid. */
  def qdot(a: Column, b: Column): Column = call_function("graft_qdot", a, b)

  /** Exact long dot product of two int arrays (e.g. SQ8 code vectors). */
  def intdot(a: Column, b: Column): Column = call_function("graft_intdot", a, b)

  /** 32-bit SimHash of a long-array of feature hashes, in ONE array pass. */
  def simhash32(a: Column): Column = call_function("graft_simhash32", a)

  /** Hilbert-curve distance of a (x, y) cell on the 2^16 × 2^16 grid. */
  def hilbert(x: Column, y: Column): Column = call_function("graft_hilbert", x, y)

  /** k MinHash minima of the double-hash family (h1 + s·(h2>>4)) & 2^60-1,
    * s = 0..k-1, in ONE pass over the aligned hash arrays.
    */
  def minhashSig(h1: Column, h2: Column, k: Int): Column =
    call_function("graft_minhash", h1, h2, org.apache.spark.sql.functions.lit(k))

  /** [distinct count, longest equal run] of a SORTED string array, one pass. */
  def sortedRunStats(a: Column): Column = call_function("graft_sorted_run_stats", a)

  /** 64-bit perceptual dHash of a binary payload ([[graft.multimodal.Dhash]]). */
  def dhash64(payload: Column): Column = call_function("graft_dhash64", payload)

  /** First-hit argmin codeword index of a float sub-vector against a
    * driver-resident codebook, in quantized L2² ([[PqArgminCode]]).
    */
  def pqArgmin(sub: Column, cb: Array[Array[Float]]): Column =
    call_function("graft_pq_argmin", sub,
      org.apache.spark.sql.functions.typedLit(cb.map(_.toSeq).toSeq))
}

/** `SparkSessionExtensions` hook so external users get the functions via
  * `spark.sql.extensions=graft.functions.GraftSparkExtensions`.
  */
class GraftSparkExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    GraftExpressions.builders.foreach { case (name, cls, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
  }
}

/** Count of common elements of two sorted, duplicate-free long arrays — the
  * Jaccard-verification kernel. Equivalent to `size(array_intersect(a, b))`
  * on such inputs, without its per-call hash set.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<bigint>, array<bigint>), got ($l, $r)")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_sorted_intersect_count"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (n1, n2) = (x.numElements(), y.numElements())
    var i = 0; var j = 0; var c = 0
    while (i < n1 && j < n2) {
      val u = x.getLong(i); val v = y.getLong(j)
      if (u == v) { c += 1; i += 1; j += 1 }
      else if (u < v) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (i, j, c) = (ctx.freshName("i"), ctx.freshName("j"), ctx.freshName("c"))
      val (u, v) = (ctx.freshName("u"), ctx.freshName("v"))
      s"""
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $a.numElements() && $j < $b.numElements()) {
         |  long $u = $a.getLong($i); long $v = $b.getLong($j);
         |  if ($u == $v) { $c++; $i++; $j++; }
         |  else if ($u < $v) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SortedIntersectCount = copy(left = newLeft, right = newRight)
}

/** Exact integer dot product of two float arrays floor-quantized to the
  * 2^-20 grid: Σ ⌊a_i·2^20⌋·⌊b_i·2^20⌋ as a long. Deterministic on every
  * engine and reduction order; shorter array bounds the loop.
  */
/** Exact integer dot product of two int arrays — the SQ8 compressed-scan
  * kernel ([[graft.operators.Similarity.sq8TopK]]): 64 multiply-adds in one
  * tight codegen loop instead of the `aggregate(zip_with(...))` HOF chain,
  * which materializes the zipped struct array per row and stays outside
  * whole-stage codegen's fast path.
  */
case class IntDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<int>, array<int>), got ($l, $r)")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_intdot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var i = 0; var s = 0L
    while (i < n) {
      s += x.getInt(i).toLong * y.getInt(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (i, n, s) = (ctx.freshName("i"), ctx.freshName("n"), ctx.freshName("s"))
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ((long) $a.getInt($i)) * $b.getInt($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): IntDot = copy(left = newLeft, right = newRight)
}

case class QuantizedDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float>, array<float>), got ($l, $r)")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_qdot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var i = 0; var s = 0L
    while (i < n) {
      val qa = math.floor(x.getFloat(i).toDouble * GraftExpressions.Quant).toLong
      val qb = math.floor(y.getFloat(i).toDouble * GraftExpressions.Quant).toLong
      s += qa * qb
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (i, n, s) = (ctx.freshName("i"), ctx.freshName("n"), ctx.freshName("s"))
      val (qa, qb) = (ctx.freshName("qa"), ctx.freshName("qb"))
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $qa = (long) Math.floor(((double) $a.getFloat($i)) * ${GraftExpressions.Quant}.0D);
         |  long $qb = (long) Math.floor(((double) $b.getFloat($i)) * ${GraftExpressions.Quant}.0D);
         |  $s += $qa * $qb;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): QuantizedDot = copy(left = newLeft, right = newRight)
}

/** 32-bit SimHash over an array of 64-bit feature hashes: bit j of the result
  * is set iff more elements have bit j set than clear (the sign of Σ ±1 over
  * bit j of each element). Replaces the 32-`aggregate`-HOF formulation — HOFs
  * don't participate in codegen, so that shape re-traversed the array 32× in
  * interpreted eval; this is ONE pass with a 32-slot counter, inlined into
  * whole-stage codegen. Empty array → 0 (no bitsum is > 0).
  */
case class SimHash32(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash32"

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val cnt = new Array[Int](32)
    var i = 0
    while (i < n) {
      val h = x.getLong(i)
      var j = 0
      while (j < 32) { cnt(j) += ((h >>> j) & 1L).toInt; j += 1 }
      i += 1
    }
    // bit j set iff bitsum = 2*cnt - n > 0
    var out = 0L
    var j = 0
    while (j < 32) { if (2 * cnt(j) > n) out |= (1L << j); j += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val (n, cnt, i, j, h, out) = (ctx.freshName("n"), ctx.freshName("cnt"),
        ctx.freshName("i"), ctx.freshName("j"), ctx.freshName("h"), ctx.freshName("out"))
      s"""
         |int $n = $a.numElements();
         |int[] $cnt = new int[32];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $a.getLong($i);
         |  for (int $j = 0; $j < 32; $j++) { $cnt[$j] += (int) (($h >>> $j) & 1L); }
         |}
         |long $out = 0L;
         |for (int $j = 0; $j < 32; $j++) { if (2 * $cnt[$j] > $n) $out |= (1L << $j); }
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash32 =
    copy(child = newChild)
}

/** [distinct count, longest equal run] of a SORTED string array in one pass —
  * the per-document repetition kernel. Equivalent to grouping the elements
  * and taking (count of groups, max group size), but as a narrow codegen
  * scan instead of a shuffle at (doc, element) grain: adjacent equality in a
  * sorted array IS group membership. Null ELEMENTS are skipped (the function
  * is session-registered, so arbitrary SQL can reach it — like [[MinHashSig]]
  * it must not trust `containsNull`); empty/all-null array → [0, 0].
  */
case class SortedRunStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_sorted_run_stats"

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var distinct = 0L; var maxRun = 0L; var run = 0L
    var prev: org.apache.spark.unsafe.types.UTF8String = null
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i)) {
        val cur = x.getUTF8String(i)
        if (prev != null && cur.equals(prev)) run += 1
        else { distinct += 1; run = 1 }
        if (run > maxRun) maxRun = run
        prev = cur
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(Array(distinct, maxRun))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val (n, i, d, r, m) = (ctx.freshName("n"), ctx.freshName("i"),
        ctx.freshName("d"), ctx.freshName("r"), ctx.freshName("m"))
      val (prev, cur) = (ctx.freshName("prev"), ctx.freshName("cur"))
      val utf8 = "org.apache.spark.unsafe.types.UTF8String"
      s"""
         |int $n = $a.numElements();
         |long $d = 0L; long $r = 0L; long $m = 0L;
         |$utf8 $prev = null;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) continue;
         |  $utf8 $cur = $a.getUTF8String($i);
         |  if ($prev != null && $cur.equals($prev)) { $r++; }
         |  else { $d++; $r = 1L; }
         |  if ($r > $m) $m = $r;
         |  $prev = $cur;
         |}
         |${ev.value} =
         |  org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |    .fromPrimitiveArray(new long[] { $d, $m });
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SortedRunStats =
    copy(child = newChild)
}

object MinHashSig {
  /** 2^60 - 1: keeps the double-hash family inside signed-64 range. */
  val Mask: Long = (1L << 60) - 1

  /** The k argument must be a foldable int literal (it shapes the output). */
  def literalK(e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"graft_minhash k must be an int literal, got $other")
  }
}

/** The k MinHash minima of the Kirsch-Mitzenmacher double-hash family
  * `h_s = (h1 + s·(h2 >> 4)) & (2^60-1)`, s = 0..k-1, over two ALIGNED
  * long arrays (the two md5 halves of each shingle), computed in ONE pass.
  * Replaces `transform(sequence(0,k-1), s -> array_min(zip_with(...)))` —
  * k interpreted traversals plus k zipped temp arrays per document.
  * Empty inputs yield null (min of nothing is undefined; callers filter
  * empty shingle sets upstream); null ELEMENTS are skipped like array_min
  * skips them (an all-null array degenerates to MaxValue sentinels).
  */
case class MinHashSig(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) if k > 0 =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<bigint>, array<bigint>) and k > 0, got " +
        s"(${left.dataType}, ${right.dataType}), k=$k")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // empty inputs yield null
  override def prettyName: String = "graft_minhash"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    if (n == 0) return null
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      // skip null slots like the array_min(zip_with(...)) formulation did
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val h1 = x.getLong(i)
        val d = y.getLong(i) >> 4
        var s = 0
        while (s < k) {
          val v = (h1 + s * d) & MinHashSig.Mask
          if (v < mins(s)) mins(s) = v
          s += 1
        }
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (n, mins, i, s, h1, d, v) = (ctx.freshName("n"), ctx.freshName("mins"),
        ctx.freshName("i"), ctx.freshName("s"), ctx.freshName("h1"),
        ctx.freshName("d"), ctx.freshName("v"))
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $mins = new long[$k];
         |  java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) continue;
         |    long $h1 = $a.getLong($i);
         |    long $d = $b.getLong($i) >> 4;
         |    for (int $s = 0; $s < $k; $s++) {
         |      long $v = ($h1 + $s * $d) & ${MinHashSig.Mask}L;
         |      if ($v < $mins[$s]) $mins[$s] = $v;
         |    }
         |  }
         |  ${ev.value} =
         |    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($mins);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): MinHashSig = copy(left = newLeft, right = newRight)
}

/** Hilbert-curve distance of an (x, y) cell on the fixed 2^16 × 2^16 grid
  * (inputs masked to their low 16 bits). The locality-clustering key that
  * strictly dominates Z-order for range scans: consecutive Hilbert distances
  * are ALWAYS grid neighbors (no Z-shape jumps across the plane), so a file
  * sorted by this key answers a 2-D range predicate from fewer row groups.
  *
  * One imperative 16-level loop per row (the classic rx/ry rotate-and-
  * accumulate walk), inlined into whole-stage codegen. An unrolled
  * expression-tree formulation is NOT equivalent here: each level rewrites
  * (x, y) via branches, so inlining doubles the tree per level — the
  * codegen'd loop is what keeps this a cheap per-row kernel. The DuckDB twin
  * ([[graft.functions.Portable.hilbertKeySql]]) spells the same walk as 16
  * nested subqueries.
  */
case class HilbertKey(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (bigint, bigint), got ($l, $r)")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hilbert"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    var x = a.asInstanceOf[Long] & HilbertKey.Mask
    var y = b.asInstanceOf[Long] & HilbertKey.Mask
    var d = 0L
    var s = 1L << (HilbertKey.Bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (x, y, d, s) = (ctx.freshName("x"), ctx.freshName("y"),
        ctx.freshName("d"), ctx.freshName("s"))
      val (rx, ry, t) = (ctx.freshName("rx"), ctx.freshName("ry"), ctx.freshName("t"))
      s"""
         |long $x = $a & ${HilbertKey.Mask}L;
         |long $y = $b & ${HilbertKey.Mask}L;
         |long $d = 0L;
         |for (long $s = ${1L << (HilbertKey.Bits - 1)}L; $s > 0; $s >>= 1) {
         |  long $rx = (($x & $s) > 0) ? 1L : 0L;
         |  long $ry = (($y & $s) > 0) ? 1L : 0L;
         |  $d += $s * $s * ((3L * $rx) ^ $ry);
         |  if ($ry == 0L) {
         |    if ($rx == 1L) { $x = $s - 1 - $x; $y = $s - 1 - $y; }
         |    long $t = $x; $x = $y; $y = $t;
         |  }
         |}
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): HilbertKey = copy(left = newLeft, right = newRight)
}

object HilbertKey {
  /** Bits per dimension (fixed — the key covers a 2^16 × 2^16 grid). */
  val Bits = 16
  val Mask: Long = (1L << Bits) - 1
}

/** 64-bit perceptual dHash over a binary payload — the image near-dup kernel
  * ([[graft.multimodal.Dhash]] holds the arithmetic and the determinism
  * contract). The heavy lifting (ImageIO probe + integer grid + bit pack) is
  * one static call, so `doGenCode` stays a single-invoke statement inside
  * whole-stage codegen — the decode cost is the work itself, not expression
  * interpretation overhead.
  */
case class DHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires binary, got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dhash64"

  override protected def nullSafeEval(a: Any): Any =
    graft.multimodal.Dhash.hash(a.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.multimodal.Dhash.hash($a);")

  override protected def withNewChildInternal(newChild: Expression): DHash64 =
    copy(child = newChild)
}

/** Argmin PQ codeword for ONE subspace: quantized L2² (x·x − 2·x·c + c·c,
  * exact 2^-20-grid integers — [[QuantizedDot]]'s arithmetic) of the input
  * slice against every codeword of a foldable codebook literal, returning
  * the first (lowest) index attaining the minimum.
  *
  * Replaces the unrolled `array_position(array(d_0 … d_{k−1}), array_min(…))`
  * tree: that shape inlines k × (2 qdots + the slice copy) per subspace into
  * the ONE consume method of the downstream Generate, and at pqM·pqK = 64
  * distance subtrees the method crossed janino's 64 KB limit — Spark fell
  * back to interpreted eval for the whole encode stage at EVERY scale
  * (`Code grows beyond 64 KB` in the executor log, easy to miss because the
  * fallback is non-fatal). Here the codebook folds into the plan as two
  * pre-quantized reference arrays and the argmin is one bounded loop —
  * ~20 generated lines per subspace, firmly inside whole-stage codegen.
  *
  * Semantics matched to the unrolled form bit-for-bit (spec-pinned against
  * the composed built-in formulation): quantize = ⌊float·2^20⌋ per element;
  * each dot bounds by the shorter side (a trailing-truncated input slice
  * scores against the codeword prefix, exactly as [[QuantizedDot]] bounds by
  * `min(numElements)`); c·c is the FULL-codeword norm; ties break to the
  * lowest code via strict-less (= `array_position`'s first hit). Null input
  * → null. DuckDB twin: `qdistSql` + first-hit ROW_NUMBER in
  * [[graft.operators.Similarity]]'s pqCodedCtes.
  */
case class PqArgminCode(child: Expression, codebook: Seq[Seq[Float]])
    extends UnaryExpression {
  require(codebook.nonEmpty, "graft_pq_argmin requires a non-empty codebook")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<float>, got $t")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_pq_argmin"

  /** Codewords on the integer grid — computed once per (de)serialized
    * instance, shipped to executors as plan reference objects, never
    * rebuilt per row.
    */
  @transient private lazy val qcb: Array[Array[Long]] =
    codebook.map(_.map(x =>
      math.floor(x.toDouble * GraftExpressions.Quant).toLong).toArray).toArray
  @transient private lazy val cnorm: Array[Long] =
    qcb.map { row =>
      var s = 0L; var i = 0
      while (i < row.length) { s += row(i) * row(i); i += 1 }
      s
    }

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val qa = new Array[Long](n)
    var xx = 0L
    var i = 0
    while (i < n) {
      val q = math.floor(x.getFloat(i).toDouble * GraftExpressions.Quant).toLong
      qa(i) = q; xx += q * q; i += 1
    }
    var best = Long.MaxValue; var bi = -1
    var j = 0
    while (j < qcb.length) {
      val cw = qcb(j)
      val m = math.min(n, cw.length)
      var dot = 0L; var t = 0
      while (t < m) { dot += qa(t) * cw(t); t += 1 }
      val d = xx - 2L * dot + cnorm(j)
      if (d < best) { best = d; bi = j }
      j += 1
    }
    bi
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val qcbRef = ctx.addReferenceObj("qcb", qcb, "long[][]")
    val ccRef = ctx.addReferenceObj("cnorm", cnorm, "long[]")
    nullSafeCodeGen(ctx, ev, a => {
      val (n, qa, xx, i) = (ctx.freshName("n"), ctx.freshName("qa"),
        ctx.freshName("xx"), ctx.freshName("i"))
      val (q, best, bi, j) = (ctx.freshName("q"), ctx.freshName("best"),
        ctx.freshName("bi"), ctx.freshName("j"))
      val (cw, m, dot, t, d) = (ctx.freshName("cw"), ctx.freshName("m"),
        ctx.freshName("dot"), ctx.freshName("t"), ctx.freshName("d"))
      s"""
         |int $n = $a.numElements();
         |long[] $qa = new long[$n];
         |long $xx = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $q = (long) Math.floor(((double) $a.getFloat($i)) * ${GraftExpressions.Quant}.0D);
         |  $qa[$i] = $q; $xx += $q * $q;
         |}
         |long $best = Long.MAX_VALUE; int $bi = -1;
         |for (int $j = 0; $j < $qcbRef.length; $j++) {
         |  long[] $cw = $qcbRef[$j];
         |  int $m = Math.min($n, $cw.length);
         |  long $dot = 0L;
         |  for (int $t = 0; $t < $m; $t++) { $dot += $qa[$t] * $cw[$t]; }
         |  long $d = $xx - 2L * $dot + $ccRef[$j];
         |  if ($d < $best) { $best = $d; $bi = $j; }
         |}
         |${ev.value} = $bi;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PqArgminCode =
    copy(child = newChild)
}

object PqArgminCode {
  /** The codebook argument must be a foldable array<array<float>> literal
    * (it shapes the generated loop's reference arrays).
    */
  def literalCodebook(e: Expression): Seq[Seq[Float]] = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: ArrayData,
        ArrayType(ArrayType(FloatType, _), _)) =>
      (0 until v.numElements()).map(j => v.getArray(j).toFloatArray().toSeq)
    case other => throw new IllegalArgumentException(
      s"graft_pq_argmin codebook must be an array<array<float>> literal, got $other")
  }
}
