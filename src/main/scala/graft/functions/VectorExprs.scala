package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native Catalyst expressions for the vector hot paths (SURVEY.md §4.3
  * escalation rule: built-in functions → custom `Expression` with
  * `doGenCode` → UDF, in that order, and only when the bench demands).
  *
  * The bench demanded: Spark's higher-order `aggregate(zip_with(...))`
  * does not participate in codegen — every similarity pair paid
  * interpreted-lambda overhead (~16 µs/pair at sf0.1). `graft_ldot`
  * compiles to a primitive `long[]` loop inside whole-stage codegen:
  * no boxing, no lambda dispatch, SIMD-friendly.
  */
case class LongDot(left: Expression, right: Expression)
    extends BinaryExpression {
  // inputs are ARRAY<BIGINT> by construction at the (internal) call
  // sites; ExpectsInputTypes is private[sql] in Spark 4 so the type
  // contract lives here instead of in an inputTypes declaration
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_ldot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData].toLongArray()
    val ys = b.asInstanceOf[ArrayData].toLongArray()
    val n = math.min(xs.length, ys.length)
    var i = 0
    var s = 0L
    while (i < n) { s += xs(i) * ys(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val xs = ctx.freshName("xs")
      val ys = ctx.freshName("ys")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |long[] $xs = $a.toLongArray();
         |long[] $ys = $b.toLongArray();
         |int $n = java.lang.Math.min($xs.length, $ys.length);
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) { $s += $xs[$i] * $ys[$i]; }
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `graft_maxsim(qa, qb, subDim)` — ColBERT late-interaction score on
  * quantized vectors: both arrays are read as consecutive sub-vectors
  * of `subDim` elements, and the result is Σ over left sub-vectors of
  * the max dot product against any right sub-vector — exact int64.
  *
  * Exists because the declarative form (aggregate over sequence +
  * array_max ∘ transform ∘ zip_with ∘ slice) is a nested higher-order
  * chain Spark never compiles; at 64 dims it evaluates 64 sub-dots
  * through interpreted lambda dispatch per pair (measured 1.9 s at
  * sf0.1 for 5×5000 pairs). This compiles to three primitive loops
  * inside whole-stage codegen. An empty right side contributes 0
  * (the HOF twin returns NULL there; both sides are fixed-width
  * non-empty at every call site, and VectorExprsSpec pins equality on
  * the real corpus). */
case class MaxSim(left: Expression, right: Expression, subDim: Int)
    extends BinaryExpression {
  require(subDim > 0, "subDim must be positive")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_maxsim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData].toLongArray()
    val ys = b.asInstanceOf[ArrayData].toLongArray()
    val nq = xs.length / subDim
    val nd = ys.length / subDim
    var total = 0L
    var i = 0
    while (i < nq) {
      var best = Long.MinValue
      var j = 0
      while (j < nd) {
        var s = 0L
        var k = 0
        while (k < subDim) { s += xs(i * subDim + k) * ys(j * subDim + k); k += 1 }
        if (s > best) best = s
        j += 1
      }
      if (nd > 0) total += best
      i += 1
    }
    total
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val xs = ctx.freshName("xs")
      val ys = ctx.freshName("ys")
      val nq = ctx.freshName("nq")
      val nd = ctx.freshName("nd")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      val s = ctx.freshName("s")
      val best = ctx.freshName("best")
      val total = ctx.freshName("total")
      s"""
         |long[] $xs = $a.toLongArray();
         |long[] $ys = $b.toLongArray();
         |int $nq = $xs.length / $subDim;
         |int $nd = $ys.length / $subDim;
         |long $total = 0L;
         |for (int $i = 0; $i < $nq; $i++) {
         |  long $best = java.lang.Long.MIN_VALUE;
         |  for (int $j = 0; $j < $nd; $j++) {
         |    long $s = 0L;
         |    for (int $k = 0; $k < $subDim; $k++) {
         |      $s += $xs[$i * $subDim + $k] * $ys[$j * $subDim + $k];
         |    }
         |    if ($s > $best) $best = $s;
         |  }
         |  if ($nd > 0) $total += $best;
         |}
         |${ev.value} = $total;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `graft_quantize(vec, scale)` — FLOAT/DOUBLE vector → BIGINT vector,
  * `CAST(ROUND(CAST(x AS DOUBLE) * scale, 0) AS BIGINT)` per element.
  *
  * Exists because the `transform(embedding, x -> ...)` lambda is a
  * higher-order function, which Spark never compiles — and CollapseProject
  * merges it into the same Project as the downstream similarity
  * expressions, dragging the WHOLE projection to interpreted eval. With
  * quantization native, every similarity hot path (cosine, LSH, IVF) is
  * one fully codegen'd Project.
  *
  * Rounding replicates Spark's `Round` on DoubleType bit-for-bit:
  * `BigDecimal.valueOf(d)` (shortest-string) + HALF_UP — so results are
  * unchanged vs the r2 lambda and the DuckDB oracles on all finite
  * in-range inputs. Non-finite or null elements and long-overflowing
  * products FAIL LOUDLY with a descriptive error (under the session's
  * default ANSI mode the old ROUND∘CAST lambda also threw, with a less
  * specific message; silently wrapping or nulling would corrupt every
  * downstream dot product).
  */
case class QuantizeVec(child: Expression, scale: Long) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_quantize"

  // analysis-time contract: ARRAY<FLOAT> or ARRAY<DOUBLE> only. Without
  // this, an ARRAY<INT> input would reach getDouble over UnsafeArrayData's
  // 4-byte-packed elements and read misaligned garbage silently.
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType |
            org.apache.spark.sql.types.DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_quantize expects ARRAY<FLOAT> or ARRAY<DOUBLE>, got ${other.sql}")
    }

  private def elemIsFloat: Boolean = child.dataType match {
    case org.apache.spark.sql.types.ArrayType(t, _) =>
      t == org.apache.spark.sql.types.FloatType
    case other =>
      throw new IllegalArgumentException(s"graft_quantize expects an array, got $other")
  }

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val isFloat = elemIsFloat
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i))
        throw new IllegalArgumentException(
          s"graft_quantize: null element at index $i")
      val d = (if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)) * scale
      out(i) = QuantizeVec.quantize(d, i)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val getter = if (elemIsFloat) s"(double) $a.getFloat" else s"$a.getDouble"
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |long[] $out = new long[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i))
         |    throw new IllegalArgumentException("graft_quantize: null element at index " + $i);
         |  double $d = $getter($i) * ${scale}L;
         |  $out[$i] = graft.functions.QuantizeVec.quantize($d, $i);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 16-bit random-hyperplane LSH signature of a BIGINT-quantized vector
  * (sign of 16 fixed dot products). Replaces the last interpreted UDF in
  * the ANN hot path (VERDICT r2 #4): the udf boundary deserializes every
  * row to `Seq[Long]` and boxes each element; this compiles to a flat
  * primitive loop inside whole-stage codegen.
  *
  * The hyperplane table is deterministic (splitmix64-derived weights in
  * [-1000, 1000], identical to the r2 UDF, so `q_ann_lsh` buckets are
  * unchanged) and shared as one flat `long[16*128]` codegen reference —
  * no per-row allocation.
  */
case class LshSig(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_lshsig"

  override def nullSafeEval(a: Any): Any = {
    val xs = a.asInstanceOf[ArrayData].toLongArray()
    val p = LshSig.PLANES
    val n = math.min(xs.length, LshSig.Dims)
    var sig = 0L
    var j = 0
    while (j < LshSig.Bits) {
      val base = j * LshSig.Dims
      var s = 0L
      var i = 0
      while (i < n) { s += xs(i) * p(base + i); i += 1 }
      if (s > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val planes = ctx.addReferenceObj("lshPlanes", LshSig.PLANES, "long[]")
      val xs = ctx.freshName("xs")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val s = ctx.freshName("s")
      val sig = ctx.freshName("sig")
      val base = ctx.freshName("base")
      s"""
         |long[] $xs = $a.toLongArray();
         |int $n = java.lang.Math.min($xs.length, ${LshSig.Dims});
         |long $sig = 0L;
         |for (int $j = 0; $j < ${LshSig.Bits}; $j++) {
         |  int $base = $j * ${LshSig.Dims};
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n; $i++) { $s += $xs[$i] * $planes[$base + $i]; }
         |  if ($s > 0) $sig |= (1L << $j);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Deterministic md5-parity LSH signature — the codegen'd replacement
  * for the interpreted `aggregate(transform(sequence(0, n-1), j ->
  * IF(aggregate(zip_with(qv, wLit[j], ...)) >= 0, 1<<j, 0)))` fold the
  * oracled LSH variants shipped with (evaluated on BOTH sides of the
  * candidate self-join, the fold dominated q_knn_graph's runtime).
  * Weight w(j, i) = md5("j|i") first-hex-digit parity ±1 over dims
  * i ∈ 1..64 — the same pure function the DuckDB oracles derive in
  * SQL, so signatures (and LSH buckets) stay bit-identical. Bit j
  * sets on dot ≥ 0 (the det family's tie rule; splitmix `graft_lshsig`
  * uses > 0). Strict 64-dim contract: any other length yields NULL
  * (the SQL zip_with form would null-poison the fold there too). */
case class LshSigMd5(child: Expression, nPlanes: Int) extends UnaryExpression {
  require(nPlanes >= 1 && nPlanes <= 63, "nPlanes must be in [1, 63]")
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_lshsig_md5"

  override def nullSafeEval(a: Any): Any =
    LshSigMd5.sig(a.asInstanceOf[ArrayData], nPlanes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val boxed = ctx.freshName("lshSig")
      s"""
         |java.lang.Long $boxed = graft.functions.LshSigMd5.sig($a, $nPlanes);
         |${ev.isNull} = $boxed == null;
         |${ev.value} = ${ev.isNull} ? 0L : $boxed.longValue();
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshSigMd5 {
  val Dims = 64
  private val MaxPlanes = 63

  /** ±1 per (plane j, dim i), i 1-based — identical to the SQL
    * `(STRPOS('0123456789abcdef', SUBSTR(MD5(j || '|' || i), 1, 1)) - 1)
    * % 2 * 2 - 1` family. */
  val WEIGHTS: Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(MaxPlanes * Dims) { k =>
      val j = k / Dims
      val i = k % Dims + 1
      val dig = md.digest(s"$j|$i".getBytes("UTF-8"))
      (((dig(0) >> 4) & 0xf) % 2 * 2 - 1).toLong
    }
  }

  /** Boxed so generated code can read the null without an extra flag
    * channel; null on a non-64-dim vector. */
  def sig(a: ArrayData, nPlanes: Int): java.lang.Long = {
    val xs = a.toLongArray()
    if (xs.length != Dims) return null
    var sig = 0L
    var j = 0
    while (j < nPlanes) {
      val base = j * Dims
      var s = 0L
      var i = 0
      while (i < Dims) { s += xs(i) * WEIGHTS(base + i); i += 1 }
      if (s >= 0) sig |= (1L << j)
      j += 1
    }
    java.lang.Long.valueOf(sig)
  }
}

object QuantizeVec {
  /** Shared by the interpreted and generated paths (one definition, no
    * template drift). Public + JVM-static-reachable for codegen. */
  def quantize(d: Double, idx: Int): Long = {
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d))
      throw new IllegalArgumentException(
        s"graft_quantize: non-finite element at index $idx: $d")
    try java.math.BigDecimal.valueOf(d)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    catch {
      case _: ArithmeticException =>
        throw new ArithmeticException(
          s"graft_quantize: element at index $idx overflows BIGINT after scaling: $d")
    }
  }
}

object LshSig {
  val Bits = 16
  val Dims = 128

  /** splitmix64(j·1000003 + i) mod 2001 − 1000 — same family as the r2
    * UDF so signatures (and LSH buckets) are bit-identical. */
  val PLANES: Array[Long] = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    Array.tabulate(Bits * Dims) { k =>
      val j = k / Dims
      val i = k % Dims
      math.floorMod(mix(j * 1000003L + i), 2001L) - 1000L
    }
  }
}

object VectorExprs {
  /** Resolution-time guard for literal scalar arguments: a non-foldable
    * expression (column, subquery) would otherwise hit `eval(null)` and
    * die with an opaque ClassCastException/NPE inside function
    * resolution. Shared by this registry and [[GraftExtensions]]. */
  private[functions] def literalLong(e: Expression, fn: String, arg: String): Long = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fn: $arg must be a literal number, got non-foldable expression ${e.sql}")
    e.eval(null) match {
      case n: Number => n.longValue()
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be a literal number, got $other")
    }
  }

  /** [[literalLong]]'s string twin. */
  private[functions] def literalString(e: Expression, fn: String, arg: String): String = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fn: $arg must be a literal string, got non-foldable expression ${e.sql}")
    e.eval(null) match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be a literal string, got $other")
    }
  }

  /** [[literalLong]]'s boolean twin. */
  private[functions] def literalBool(e: Expression, fn: String, arg: String): Boolean = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fn: $arg must be a literal boolean, got non-foldable expression ${e.sql}")
    e.eval(null) match {
      case b: java.lang.Boolean => b.booleanValue()
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be a literal boolean, got $other")
    }
  }

  /** [[literalLong]]'s twin for an `array(...)` of INT literals. */
  private[functions] def literalInts(e: Expression, fn: String, arg: String): Seq[Int] = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fn: $arg must be a literal int array, got non-foldable expression ${e.sql}")
    (e.dataType, e.eval(null)) match {
      case (ArrayType(IntegerType, false), a: ArrayData) => a.toIntArray().toSeq
      case _ => throw new IllegalArgumentException(
        s"$fn: $arg must be a literal int array without NULLs, got ${e.sql}")
    }
  }

  /** Idempotently register the expressions on a session so `expr(...)` /
    * SQL can call them. Safe to call per query. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("graft_ldot"),
      new ExpressionInfo(classOf[LongDot].getName, "graft_ldot"),
      (exprs: Seq[Expression]) => LongDot(exprs.head, exprs(1)))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("graft_quantize"),
      new ExpressionInfo(classOf[QuantizeVec].getName, "graft_quantize"),
      (exprs: Seq[Expression]) => QuantizeVec(exprs.head,
        literalLong(exprs(1), "graft_quantize", "scale")))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("graft_maxsim"),
      new ExpressionInfo(classOf[MaxSim].getName, "graft_maxsim"),
      (exprs: Seq[Expression]) => MaxSim(exprs.head, exprs(1),
        literalLong(exprs(2), "graft_maxsim", "subDim").toInt))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("graft_lshsig"),
      new ExpressionInfo(classOf[LshSig].getName, "graft_lshsig"),
      (exprs: Seq[Expression]) => LshSig(exprs.head))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("graft_lshsig_md5"),
      new ExpressionInfo(classOf[LshSigMd5].getName, "graft_lshsig_md5"),
      (exprs: Seq[Expression]) => LshSigMd5(exprs.head,
        literalLong(exprs(1), "graft_lshsig_md5", "nPlanes").toInt))
  }
}
