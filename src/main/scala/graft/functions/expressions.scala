package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, Round, RuntimeReplaceable, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the engine's hot loops (SURVEY.md
  * §2.8). Spark's higher-order array functions (`transform`/`aggregate`/
  * `zip_with`) are `CodegenFallback` — one of them in a projection drops
  * the whole stage out of whole-stage codegen and evaluates per-element
  * through the interpreter. These expressions generate a tight Java loop
  * instead, keeping the stage inside WSCG, while performing EXACTLY the
  * same IEEE double operations in the same order as both the HOF
  * formulation and the DuckDB oracle — bit-identical results, ~50×
  * cheaper per pair.
  */

/** Sequential dot product of two array<double> columns (no nulls inside
  * the arrays; shorter array bounds the loop). */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** `round(x, scale)`, HALF_UP, as [[Exact.round]] builds it: the native
  * [[RoundDouble]] kernel for a double child, Spark's own `Round` for any
  * other numeric child (decimal rounding, and its result type, stay
  * Spark's). The choice needs the child's resolved type, so it is made
  * when the optimizer replaces this node. */
case class ExactRound(child: Expression, scale: Int)
    extends RuntimeReplaceable with UnaryLike[Expression] {

  override lazy val replacement: Expression = child.dataType match {
    case DoubleType => RoundDouble(child, scale)
    case _ => Round(child, Literal(scale))
  }
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: NumericType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName needs a numeric input, not $t")
  }
  override def prettyName: String = "graft_round"

  override protected def withNewChildInternal(newChild: Expression): ExactRound =
    copy(child = newChild)
}

/** Spark's `round(x, scale)` on a double, bit for bit, at 15–20× less cost.
  * Spark rounds a double through `BigDecimal.valueOf(x).setScale(scale,
  * HALF_UP).doubleValue()` (~450 ns, mostly `Double.toString`); see
  * [[RoundDouble.round]] for the fast path and why it is exact. */
case class RoundDouble(child: Expression, scale: Int) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_round_double"

  override def nullSafeEval(a: Any): Any =
    RoundDouble.round(a.asInstanceOf[Double], scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.RoundDouble.round($a, $scale)")

  override protected def withNewChildInternal(newChild: Expression): RoundDouble =
    copy(child = newChild)
}

object RoundDouble {
  private val Pow10 = Array(1e0, 1e1, 1e2, 1e3, 1e4, 1e5, 1e6, 1e7, 1e8, 1e9,
    1e10, 1e11, 1e12, 1e13, 1e14, 1e15)
  /** |x|·10^s bound of the fast path: below 2^52, so ulp(y) ≤ 1/2, the
    * integer part of y is exact, and BigDecimal's result is a compact
    * long below 2^52 (see [[round]]). */
  private final val Limit = 4e15
  /** Distance from a .5 tie, in ulps of y, below which the fast path
    * defers to BigDecimal. The error it must cover is under 2 ulps. */
  private final val TieUlps = 8.0

  /** Whether [[round]] takes the fast path for `x` at `scale`: scale in
    * 0–15, |x|·10^scale below 4·10^15 (false for NaN and ±Inf), and
    * more than 8 ulps away from a .5 tie. */
  def fastPathApplies(x: Double, scale: Int): Boolean =
    scale >= 0 && scale <= 15 && {
      val y = Math.abs(x) * Pow10(scale)
      y < Limit && Math.abs(y - Math.floor(y) - 0.5) > TieUlps * Math.ulp(y)
    }

  /** Spark's `round(x, scale)` for a double (HALF_UP), bit-identical.
    *
    * Spark computes `HALF_UP(d·10^s) / 10^s` where d is the decimal
    * `Double.toString(x)` prints, converted back to the nearest double.
    * The fast path computes it from y = fl(|x|·10^s):
    *  - Error: d round-trips to x, so |d − x| ≤ ulp(x)/2, which scaled
    *    by 10^s is at most ulp(y); the product adds ulp(y)/2. So
    *    |d|·10^s lies within 1.5 ulp(y) of y.
    *  - Tie margin: when y is more than 8 ulps from n + 1/2 (n =
    *    floor(y)), |d|·10^s is on the same side of that tie, so
    *    HALF_UP(|d|·10^s) = m, where m = n + 1 if y − n > 1/2, else n.
    *    Near the integers the error cannot change m either: a value just
    *    below n still rounds up to n.
    *  - Division: BigDecimal(m, scale s).doubleValue() is the double
    *    nearest to m/10^s. With m < 2^52 and 10^s ≤ 10^15 both exact
    *    doubles, IEEE division of the two is that same correctly rounded
    *    quotient (it is literally JDK 17's `doubleValue` code for a
    *    compact value). HALF_UP is symmetric, so the sign applies after.
    *  - Zero: BigDecimal has no −0.0, so m = 0 gives +0.0 for any sign
    *    of x (−0.0 and small negatives included).
    * Every other input — near-ties, |x|·10^s ≥ 4·10^15, NaN, ±Inf,
    * scales outside 0–15 — takes Spark's own expression: NaN and ±Inf
    * pass through, the rest rounds through BigDecimal. */
  def round(x: Double, scale: Int): Double =
    if (fastPathApplies(x, scale)) {
      val p = Pow10(scale)
      val y = Math.abs(x) * p
      val n = Math.floor(y)
      val m = if (y - n > 0.5) n + 1 else n
      if (m == 0) 0.0 else if (x < 0) -m / p else m / p
    } else if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()
}

/** Cast an array<float> to array<double> in one generated loop (the
  * `transform(v, _.cast(double))` HOF equivalent, WSCG-friendly). */
case class FloatArrayToDouble(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_to_double"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = x.getFloat(i).toDouble; i += 1 }
    ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      s"""
         |final int $n = $a.numElements();
         |final double[] $out = new double[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = (double) $a.getFloat($i);
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): FloatArrayToDouble =
    copy(child = newChild)
}

/** The engine's stable 60-bit hash (first 15 hex chars of md5 — see
  * [[Hashing]]) as a single native expression: no hex-string
  * intermediate, one MD5 over the UTF-8 bytes, big-endian first 8 bytes
  * shifted right 4 bits. Bit-identical to the composed
  * `conv(substr(md5(x),1,15),16,10)` and to the DuckDB oracle. */
case class StableHash60(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hash60"

  override def nullSafeEval(a: Any): Any =
    StableHash60.hash(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.StableHash60.hash($a);")

  override protected def withNewChildInternal(newChild: Expression): StableHash60 =
    copy(child = newChild)
}

/** `Double.doubleToLongBits` as a native expression — the IEEE-754 bit
  * pattern of a double as a long. Used for ORDER-PRESERVING bucketing
  * without knowing the value domain (rank-selection histograms, see
  * [[graft.ops.Quantiles]]): for x ≥ 0 the bits ascend with the value,
  * for x < 0 the magnitude bits ascend as the value descends, so
  * `bits >= 0 ? bits : -(bits & Long.MaxValue)` is monotone over all
  * doubles and its high bits are a domain-free bucket id. Engine-
  * internal only (never oracle-compared). */
case class DoubleBits(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_double_bits"

  override def nullSafeEval(a: Any): Any =
    java.lang.Double.doubleToLongBits(a.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = Double.doubleToLongBits($a);")

  override protected def withNewChildInternal(newChild: Expression): DoubleBits =
    copy(child = newChild)
}

/** 60-bit SimHash over an array of 60-bit token hashes: bit b of the
  * result is set iff a strict majority of tokens have bit b set (ties →
  * 0). One generated call per document instead of a 60-iteration
  * interpreted `aggregate(filter(...))` chain — same integer math. */
case class SimHash60(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash60"

  override def nullSafeEval(a: Any): Any =
    SimHashUtil.simhash60(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.SimHashUtil.simhash60($a);")

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

/** Distinct 3-word shingles of a token array, first-occurrence order —
  * semantically `array_distinct(transform(sequence(...), i ->
  * concat_ws(' ', tk[i], tk[i+1], tk[i+2])))`, but one native call: the
  * HOF formulation re-evaluates its child chain per element and (worse)
  * gets cloned wholesale into generated null/emptiness filters by
  * `InferFiltersFromGenerate`, costing hundreds of regex splits per row. */
case class Shingles3(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles3"

  override def nullSafeEval(a: Any): Any =
    ShingleUtil.shingles3(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.ShingleUtil.shingles3($a);")

  override protected def withNewChildInternal(newChild: Expression): Shingles3 =
    copy(child = newChild)
}

/** Word bigrams "prev next" of a token array — NON-distinct and in
  * position order (a language-model census needs every occurrence,
  * where the dedup shingle set wants each shingle once). Same native
  * rationale as [[Shingles3]]: one call, no per-element lambda
  * re-evaluation, nothing cloned into generated filters. */
case class Bigrams2(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bigrams2"

  override def nullSafeEval(a: Any): Any =
    ShingleUtil.bigrams2(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.ShingleUtil.bigrams2($a);")

  override protected def withNewChildInternal(newChild: Expression): Bigrams2 =
    copy(child = newChild)
}

object ShingleUtil {
  private val SPACE = UTF8String.fromString(" ")

  /** Every adjacent token pair "prev next", in order, duplicates kept. */
  def bigrams2(tk: ArrayData): ArrayData = {
    val n = tk.numElements()
    if (n < 2) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = new Array[AnyRef](n - 1)
    var i = 0
    while (i < n - 1) {
      out(i) = UTF8String.concatWs(SPACE,
        tk.getUTF8String(i), tk.getUTF8String(i + 1))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Static entry point shared by interpreted eval and generated code. */
  def shingles3(tk: ArrayData): ArrayData = {
    val n = tk.numElements()
    if (n < 3) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String](n * 2)
    var i = 0
    while (i < n - 2) {
      seen.add(UTF8String.concatWs(SPACE,
        tk.getUTF8String(i), tk.getUTF8String(i + 1), tk.getUTF8String(i + 2)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      seen.toArray.asInstanceOf[Array[AnyRef]])
  }
}

/** Full MinHash signature in one native call: for each permutation
  * `p` in [0, numPerms), the minimum over the shingle set of
  * hash60(p + ":" + shingle). Bit-identical to the HOF formulation
  * `transform(sequence(0,63), p -> array_min(transform(s, g ->
  * hash60(concat(p,':',g)))))` and to the DuckDB oracle, but one MD5
  * per (perm, shingle) with zero lambda-interpreter overhead. */
case class MinHash60(child: Expression, numPerms: Int)
    extends UnaryExpression {

  // containsNull: an empty shingle set yields an all-null signature
  // (array_min of empty is null), matching the HOF/oracle formulation.
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_minhash60"

  override def nullSafeEval(a: Any): Any =
    MinHashUtil.signature(a.asInstanceOf[ArrayData], numPerms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.MinHashUtil.signature($a, $numPerms);")

  override protected def withNewChildInternal(newChild: Expression): MinHash60 =
    copy(child = newChild)
}

object MinHashUtil {
  /** Static entry point shared by interpreted eval and generated code.
    * Empty shingle set → nulls (array_min of empty is null); callers
    * filter empty docs upstream. */
  def signature(s: ArrayData, numPerms: Int): ArrayData = {
    val n = s.numElements()
    val out = new Array[Any](numPerms)
    if (n == 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    val prefixes = new Array[Array[Byte]](numPerms)
    var p = 0
    while (p < numPerms) { prefixes(p) = (p.toString + ":").getBytes; p += 1 }
    val mins = Array.fill(numPerms)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val g = s.getUTF8String(i).getBytes
      p = 0
      while (p < numPerms) {
        val h = StableHash60.hashBytes(prefixes(p), g)
        if (h < mins(p)) mins(p) = h
        p += 1
      }
      i += 1
    }
    p = 0
    while (p < numPerms) { out(p) = mins(p); p += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

object SimHashUtil {
  /** Static entry point shared by interpreted eval and generated code. */
  def simhash60(hs: ArrayData): Long = {
    val n = hs.numElements()
    val counts = new Array[Int](60)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var b = 0
      while (b < 60) { counts(b) += ((h >>> b) & 1L).toInt; b += 1 }
      i += 1
    }
    var v = 0L
    var b = 0
    while (b < 60) { if (2 * counts(b) > n) v |= 1L << b; b += 1 }
    v
  }
}

object StableHash60 {
  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Static entry point shared by interpreted eval and generated code. */
  def hash(s: UTF8String): Long = hashBytes(Array.emptyByteArray, s.getBytes)

  /** hash60 of `prefix ++ payload` without concatenating the strings. */
  def hashBytes(prefix: Array[Byte], payload: Array[Byte]): Long = {
    val d = md5.get()
    d.reset()
    if (prefix.nonEmpty) d.update(prefix)
    d.update(payload)
    val digest = d.digest()
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (digest(i) & 0xffL); i += 1 }
    v >>> 4
  }
}

/** Argmin codeword assignment against a RUNTIME packed codebook column
  * (array<struct<cid:int, cs:array<double>>>, cid-sorted — the
  * per-(cell, subspace) broadcastable form): returns the entry's cid
  * minimizing |cs|² − 2·(vs·cs), first-wins on ties (= smallest cid).
  * Null for an empty array. A compact generated loop (JIT-friendly,
  * stays inside WSCG — an unrolled `least(struct(...))` generates a
  * method past the JIT's size threshold and runs in the bytecode
  * interpreter). Distances compare exact-IEEE (no round-to-6): this
  * backs rows-only-gated trained codebooks, not the cross-engine-rounded
  * oracle-gated `pqEncode`. |cs|² is recomputed per row with the
  * sequential `dot(cs, cs)` fold. */
case class NearestPackedCodeword(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_nearest_packed"
  // null on an EMPTY codebook array even when both inputs are
  // non-nullable — without this the generated `isNull = true` branch
  // targets the literal `false` and the whole projection falls back to
  // the interpreter
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val vs = a.asInstanceOf[ArrayData]
    val cbk = b.asInstanceOf[ArrayData]
    val m = cbk.numElements()
    if (m == 0) return null
    var best = 0
    var bestD = Double.PositiveInfinity
    var bestCid = -1
    var j = 0
    while (j < m) {
      val entry = cbk.getStruct(j, 2)
      val cs = entry.getArray(1)
      val n = math.min(vs.numElements(), cs.numElements())
      var sq = 0.0
      var acc = 0.0
      var i = 0
      while (i < n) {
        val c = cs.getDouble(i)
        sq += c * c
        acc += vs.getDouble(i) * c
        i += 1
      }
      val d = sq - 2.0 * acc
      if (d < bestD) { bestD = d; bestCid = entry.getInt(0) }
      j += 1
    }
    bestCid
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val m = ctx.freshName("m")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sq = ctx.freshName("sq")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val c = ctx.freshName("c")
      val entry = ctx.freshName("entry")
      val cs = ctx.freshName("cs")
      val bestD = ctx.freshName("bestD")
      val bestCid = ctx.freshName("bestCid")
      s"""
         |final int $m = $b.numElements();
         |double $bestD = Double.POSITIVE_INFINITY;
         |int $bestCid = -1;
         |for (int $j = 0; $j < $m; $j++) {
         |  final InternalRow $entry = $b.getStruct($j, 2);
         |  final ArrayData $cs = $entry.getArray(1);
         |  final int $n = java.lang.Math.min($a.numElements(), $cs.numElements());
         |  double $sq = 0.0;
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $c = $cs.getDouble($i);
         |    $sq += $c * $c;
         |    $acc += $a.getDouble($i) * $c;
         |  }
         |  final double $d = $sq - 2.0 * $acc;
         |  if ($d < $bestD) { $bestD = $d; $bestCid = $entry.getInt(0); }
         |}
         |if ($m == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $bestCid;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestPackedCodeword =
    copy(left = newLeft, right = newRight)
}

/** ADC partial sums for one (query, candidate) pair in a single
  * generated loop: given the query vector `qe` (m·subDim doubles), the
  * candidate's packed code word `code` (m ints, subspace order), and its
  * cell's packed codebook `cbk` (array<struct<s, cid, cs, cc, csq>>
  * sorted by (s, cid) — entry for (s, cid) at index s·kc + cid, kc =
  * entries/m), return [Σ_s q_s·cs, Σ_s cc, Σ_s csq] — the three
  * query-dependent/-independent sums of the exact ADC cosine
  * decomposition. The s-ascending loop performs the identical
  * written-order IEEE double fold as the pivoted fixed-column
  * formulation it replaces, with ×m fewer candidate rows and no wide
  * pivot aggregate. */
case class AdcPartials(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_adc_partials"

  override def nullSafeEval(qAny: Any, codeAny: Any, cbkAny: Any): Any = {
    val qe = qAny.asInstanceOf[ArrayData]
    val code = codeAny.asInstanceOf[ArrayData]
    val cbk = cbkAny.asInstanceOf[ArrayData]
    val m = code.numElements()
    val kc = cbk.numElements() / m
    val subDim = qe.numElements() / m
    var sdot = 0.0
    var scc = 0.0
    var ssq = 0.0
    var s = 0
    while (s < m) {
      val e = cbk.getStruct(s * kc + code.getInt(s), 5)
      val cs = e.getArray(2)
      var acc = 0.0
      var i = 0
      while (i < subDim) {
        acc += qe.getDouble(s * subDim + i) * cs.getDouble(i)
        i += 1
      }
      sdot += acc
      scc += e.getDouble(3)
      ssq += e.getDouble(4)
      s += 1
    }
    ArrayData.toArrayData(Array(sdot, scc, ssq))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, code, cbk) => {
      val m = ctx.freshName("m")
      val kc = ctx.freshName("kc")
      val subDim = ctx.freshName("subDim")
      val sdot = ctx.freshName("sdot")
      val scc = ctx.freshName("scc")
      val ssq = ctx.freshName("ssq")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val e = ctx.freshName("e")
      val cs = ctx.freshName("cs")
      s"""
         |final int $m = $code.numElements();
         |final int $kc = $cbk.numElements() / $m;
         |final int $subDim = $q.numElements() / $m;
         |double $sdot = 0.0;
         |double $scc = 0.0;
         |double $ssq = 0.0;
         |for (int $s = 0; $s < $m; $s++) {
         |  final InternalRow $e =
         |    $cbk.getStruct($s * $kc + $code.getInt($s), 5);
         |  final ArrayData $cs = $e.getArray(2);
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $subDim; $i++) {
         |    $acc += $q.getDouble($s * $subDim + $i) * $cs.getDouble($i);
         |  }
         |  $sdot += $acc;
         |  $scc += $e.getDouble(3);
         |  $ssq += $e.getDouble(4);
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
         |  new double[] { $sdot, $scc, $ssq });
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): AdcPartials =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Greedy BPE merge application over a token array (the ENCODE side of
  * the tokenizer-induction story — [[graft.ops.TextAnalysis.bpeMerges]]
  * learns the merge table, this applies it). Standard BPE semantics:
  * merges apply SEQUENTIALLY in priority order, each as one
  * left-to-right non-overlapping pass ("x x x" under merge (x,x) →
  * ["x x", "x"], never the overlapping middle pair), and a merged token
  * is a first-class token for later merges (chaining: ("a b", c) can
  * reference the output of (a, b)). The sequential priority fold is why
  * this op has no SQL oracle: the oracle engine's list_reduce has no
  * initial-value/list-accumulator form (DuckDB 1.0), so the operator is
  * rows-only-gated with a spec-level reference-implementation parity
  * check instead.
  *
  * The per-row loop is a static JVM method invoked from generated code
  * (like Spark's own regexp machinery): the projection stays inside
  * whole-stage codegen — no `CodegenFallback`, no interpreted
  * higher-order functions — while the merge scan itself runs as
  * JIT-compiled bytecode. Cost per row: O(tokens × merges) worst case,
  * with an early subset guard per merge pass.
  */
case class BpeApply(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe_apply"

  // driver-built UTF8String merge table, serialized with the expression
  @transient private lazy val table: BpeApply.MergeTable =
    BpeApply.MergeTable(
      merges.map(m => UTF8String.fromString(m._1)).toArray,
      merges.map(m => UTF8String.fromString(m._2)).toArray,
      merges.map(m => UTF8String.fromString(m._1 + " " + m._2)).toArray)

  override def nullSafeEval(a: Any): Any =
    BpeApply.encode(a.asInstanceOf[ArrayData], table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val tbl = ctx.addReferenceObj("mergeTable", table,
        classOf[BpeApply.MergeTable].getName)
      s"${ev.value} = graft.functions.BpeApply.encode($a, $tbl);"
    })

  override protected def withNewChildInternal(newChild: Expression): BpeApply =
    copy(child = newChild)
}

object BpeApply {
  /** Priority-ordered merge table in UTF8String form (t1, t2, merged =
    * "t1 t2"), built once on the driver and shipped with the plan. */
  final case class MergeTable(t1: Array[UTF8String], t2: Array[UTF8String],
      merged: Array[UTF8String])

  /** One sequential pass per merge, left-to-right non-overlapping;
    * in-place array reuse between passes (the token count only ever
    * shrinks). Static so generated code calls straight into JIT'd
    * bytecode. */
  def encode(tokens: ArrayData, tbl: MergeTable): ArrayData = {
    var n = tokens.numElements()
    if (n < 2 || tbl.t1.length == 0) return tokens
    val buf = new Array[UTF8String](n)
    var i = 0
    while (i < n) { buf(i) = tokens.getUTF8String(i); i += 1 }
    var m = 0
    while (m < tbl.t1.length) {
      val a = tbl.t1(m); val b = tbl.t2(m); val ab = tbl.merged(m)
      var r = 0 // read
      var w = 0 // write
      while (r < n) {
        if (r + 1 < n && buf(r) == a && buf(r + 1) == b) {
          buf(w) = ab; r += 2
        } else {
          buf(w) = buf(r); r += 1
        }
        w += 1
      }
      n = w
      m += 1
    }
    val out = new Array[Any](n)
    i = 0
    while (i < n) { out(i) = buf(i); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** The document's shingle set as an ASCENDING-sorted array of 60-bit
  * hashes — the compact form the prefix-filtered dedup path joins and
  * verifies on (8-byte elements instead of ~25-byte shingle strings;
  * the sort IS the global prefix order). Intra-document hash collisions
  * (distinct shingles, equal hash60) collapse — at 2^-60 per pair they
  * are beyond negligible, and the family already keys shingles by
  * hash60 corpus-wide (paragraph census, minhash). */
case class SortedHash60Array(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_sorted_hash60"

  override def nullSafeEval(a: Any): Any =
    SortedHash60Array.sortedHash(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.SortedHash60Array.sortedHash($a);")

  override protected def withNewChildInternal(newChild: Expression): SortedHash60Array =
    copy(child = newChild)
}

object SortedHash60Array {
  // NOT named `eval`: the case class inherits Expression.eval, which
  // suppresses the companion's static forwarder and breaks the
  // generated static call
  def sortedHash(s: ArrayData): ArrayData = {
    val n = s.numElements()
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) { hs(i) = StableHash60.hash(s.getUTF8String(i)); i += 1 }
    java.util.Arrays.sort(hs)
    // drop (beyond-negligible) intra-doc collisions so the array is
    // strictly increasing — a set, like the shingle set it encodes
    var w = 0
    i = 0
    while (i < n) {
      if (w == 0 || hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    ArrayData.toArrayData(if (w == n) hs else java.util.Arrays.copyOf(hs, w))
  }
}

/** |A ∩ B| of two ascending-sorted long arrays in one merge pass — the
  * verify kernel of the prefix-filtered dedup path: per candidate pair
  * one linear merge over 8-byte elements, no string comparisons, no
  * interpreted HOF. */
case class SortedLongIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_sorted_intersect"

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedLongIntersectCount.count(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SortedLongIntersectCount.count($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedLongIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedLongIntersectCount {
  def count(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}

/** Top-`keep` nearest centroids of one vector against a broadcast
  * packed centroid table, as one generated call — the IVF assignment
  * primitive as a NARROW MAP. The join+window formulation it replaces
  * materialized N·k (vector, centroid) rows and ranked them through a
  * `Window.partitionBy(vector)` — an N·k-row exchange that inflates the
  * corpus k-fold through a shuffle at exactly the scale IVF exists for.
  * Here the centroids ride along as ONE broadcast row
  * (array<struct<cid:long, ce:array<double>, cnrm:double>>, cid-sorted)
  * and each vector row emits its `keep` cell ids with no exchange at
  * all.
  *
  * Bit-parity with the window formulation (and the DuckDB oracles built
  * on it): cosine = dot(e, ce) / (nrm · cnrm) with the same sequential
  * fold, rounded to 6 decimals by [[RoundDouble]] (bit-identical to
  * Spark's `round`), ranked by (rounded cos DESC, cid ASC) with
  * Double.compare ordering (NaN ranks first, as in Spark sort order).
  */
case class NearestCells(first: Expression, second: Expression,
    third: Expression, keep: Int) extends TernaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_nearest_cells"

  override def nullSafeEval(eAny: Any, nrmAny: Any, packAny: Any): Any =
    NearestCells.topCells(eAny.asInstanceOf[ArrayData],
      nrmAny.asInstanceOf[Double], packAny.asInstanceOf[ArrayData], keep)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (e, nrm, pack) =>
      s"${ev.value} = graft.functions.NearestCells.topCells($e, $nrm, $pack, $keep);")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): NearestCells =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object NearestCells {
  def topCells(e: ArrayData, nrm: Double, pack: ArrayData, keep: Int): ArrayData = {
    val k = pack.numElements()
    val cos = new Array[Double](k)
    val cid = new Array[Long](k)
    var j = 0
    while (j < k) {
      val entry = pack.getStruct(j, 3)
      val ce = entry.getArray(1)
      val n = math.min(e.numElements(), ce.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) { acc += e.getDouble(i) * ce.getDouble(i); i += 1 }
      cos(j) = RoundDouble.round(acc / (nrm * entry.getDouble(2)), 6)
      cid(j) = entry.getLong(0)
      j += 1
    }
    // rank by (cos DESC with Spark sort semantics: NaN largest, cid ASC)
    val idx = Array.range(0, k).sortWith { (x, y) =>
      val c = java.lang.Double.compare(cos(x), cos(y))
      if (c != 0) c > 0 else cid(x) < cid(y)
    }
    val m = math.min(keep, k)
    val out = new Array[Long](m)
    j = 0
    while (j < m) { out(j) = cid(idx(j)); j += 1 }
    ArrayData.toArrayData(out)
  }
}

/** L2 twin of [[NearestCells]] for Lloyd assignment: top-`keep` cells
  * by squared-distance surrogate d = |c|² − 2·(e·c) (the |e|² term is
  * rank-invariant), rounded to 6 by [[RoundDouble]] like the
  * join+window formulation it replaces, ranked (d ASC, cid ASC). The
  * packed row is array<struct<cid:long, ce:array<double>>>. */
case class NearestCellsL2(left: Expression, right: Expression, keep: Int)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_nearest_cells_l2"

  override def nullSafeEval(eAny: Any, packAny: Any): Any =
    NearestCellsL2.topCells(eAny.asInstanceOf[ArrayData],
      packAny.asInstanceOf[ArrayData], keep)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (e, pack) =>
      s"${ev.value} = graft.functions.NearestCellsL2.topCells($e, $pack, $keep);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCellsL2 =
    copy(left = newLeft, right = newRight)
}

object NearestCellsL2 {
  def topCells(e: ArrayData, pack: ArrayData, keep: Int): ArrayData = {
    val k = pack.numElements()
    val dist = new Array[Double](k)
    val cid = new Array[Long](k)
    var j = 0
    while (j < k) {
      val entry = pack.getStruct(j, 2)
      val ce = entry.getArray(1)
      val n = math.min(e.numElements(), ce.numElements())
      var cc = 0.0
      var i = 0
      while (i < ce.numElements()) { val c = ce.getDouble(i); cc += c * c; i += 1 }
      var acc = 0.0
      i = 0
      while (i < n) { acc += e.getDouble(i) * ce.getDouble(i); i += 1 }
      dist(j) = RoundDouble.round(cc - 2.0 * acc, 6)
      cid(j) = entry.getLong(0)
      j += 1
    }
    val idx = Array.range(0, k).sortWith { (x, y) =>
      val c = java.lang.Double.compare(dist(x), dist(y))
      if (c != 0) c < 0 else cid(x) < cid(y)
    }
    val m = math.min(keep, k)
    val out = new Array[Long](m)
    j = 0
    while (j < m) { out(j) = cid(idx(j)); j += 1 }
    ArrayData.toArrayData(out)
  }
}

/** Minimum exact squared L2 distance of a vector to any packed centroid
  * (array<struct<cid:long, ce:array<double>>>) — the k-means objective
  * per row, as a narrow map (the cross-join+window it replaces shuffled
  * N·k rows to find each row's minimum). Exact IEEE per-pair math:
  * |e|² − 2·(e·ce) + |ce|², same sequential folds as the column form. */
case class MinSqDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_min_sqdist"

  override def nullSafeEval(eAny: Any, packAny: Any): Any =
    MinSqDist.minD2(eAny.asInstanceOf[ArrayData], packAny.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (e, pack) =>
      s"${ev.value} = graft.functions.MinSqDist.minD2($e, $pack);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinSqDist =
    copy(left = newLeft, right = newRight)
}

object MinSqDist {
  def minD2(e: ArrayData, pack: ArrayData): Double = {
    val k = pack.numElements()
    var ee = 0.0
    var i = 0
    while (i < e.numElements()) { val x = e.getDouble(i); ee += x * x; i += 1 }
    var best = Double.PositiveInfinity
    var j = 0
    while (j < k) {
      val ce = pack.getStruct(j, 2).getArray(1)
      val n = math.min(e.numElements(), ce.numElements())
      var acc = 0.0
      var cc = 0.0
      i = 0
      while (i < ce.numElements()) { val c = ce.getDouble(i); cc += c * c; i += 1 }
      i = 0
      while (i < n) { acc += e.getDouble(i) * ce.getDouble(i); i += 1 }
      val d2 = ee - 2.0 * acc + cc
      if (d2 < best) best = d2
      j += 1
    }
    best
  }
}

/** Two-level hierarchical cell assignment in one generated call — the
  * billion-scale rung of the IVF ladder: with k cells, flat assignment
  * is N·k dot products; routing through √k level-1 representatives
  * costs N·(√k + probe1·√k) ≈ N·2√k. The packed row is ONE array of
  * (gid, ge, gnrm, members) entries — level-1 representative vector +
  * its member cells (cid, ce, cnrm) — so the whole two-level search is
  * row-local: rank the representatives by rounded cosine (same
  * fold/round/tie-break as [[NearestCells]]), then score ONLY the
  * members of the top `probe1` groups and return the top `keep` cids.
  * Probing every group (probe1 ≥ group count) degenerates to exactly
  * the flat [[NearestCells]] ranking — the spec's exactness anchor. */
case class NearestCellsHier(first: Expression, second: Expression,
    third: Expression, probe1: Int, keep: Int) extends TernaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_nearest_cells_hier"

  override def nullSafeEval(eAny: Any, nrmAny: Any, packAny: Any): Any =
    NearestCellsHier.topCells(eAny.asInstanceOf[ArrayData],
      nrmAny.asInstanceOf[Double], packAny.asInstanceOf[ArrayData],
      probe1, keep)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (e, nrm, pack) =>
      s"${ev.value} = graft.functions.NearestCellsHier.topCells($e, $nrm, $pack, $probe1, $keep);")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): NearestCellsHier =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object NearestCellsHier {
  def topCells(e: ArrayData, nrm: Double, pack: ArrayData,
      probe1: Int, keep: Int): ArrayData = {
    val g = pack.numElements()
    // level 1: rank representatives
    val gcos = new Array[Double](g)
    val gidv = new Array[Long](g)
    var j = 0
    while (j < g) {
      val entry = pack.getStruct(j, 4)
      val ge = entry.getArray(1)
      val n = math.min(e.numElements(), ge.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) { acc += e.getDouble(i) * ge.getDouble(i); i += 1 }
      gcos(j) = RoundDouble.round(acc / (nrm * entry.getDouble(2)), 6)
      gidv(j) = entry.getLong(0)
      j += 1
    }
    val gidx = Array.range(0, g).sortWith { (x, y) =>
      val c = java.lang.Double.compare(gcos(x), gcos(y))
      if (c != 0) c > 0 else gidv(x) < gidv(y)
    }
    // level 2: exact rounded cosine over probed groups' members
    val nProbe = math.min(probe1, g)
    var total = 0
    var p = 0
    while (p < nProbe) {
      total += pack.getStruct(gidx(p), 4).getArray(3).numElements(); p += 1
    }
    val cos = new Array[Double](total)
    val cid = new Array[Long](total)
    var w = 0
    p = 0
    while (p < nProbe) {
      val members = pack.getStruct(gidx(p), 4).getArray(3)
      val m = members.numElements()
      var q = 0
      while (q < m) {
        val entry = members.getStruct(q, 3)
        val ce = entry.getArray(1)
        val n = math.min(e.numElements(), ce.numElements())
        var acc = 0.0
        var i = 0
        while (i < n) { acc += e.getDouble(i) * ce.getDouble(i); i += 1 }
        cos(w) = RoundDouble.round(acc / (nrm * entry.getDouble(2)), 6)
        cid(w) = entry.getLong(0)
        w += 1
        q += 1
      }
      p += 1
    }
    val idx = Array.range(0, total).sortWith { (x, y) =>
      val c = java.lang.Double.compare(cos(x), cos(y))
      if (c != 0) c > 0 else cid(x) < cid(y)
    }
    val m = math.min(keep, total)
    val out = new Array[Long](m)
    j = 0
    while (j < m) { out(j) = cid(idx(j)); j += 1 }
    ArrayData.toArrayData(out)
  }
}

/** int8 scalar-quantize-then-reconstruct of one vector against
  * per-dimension [lo, hi] bounds, in one generated loop: dimension d's
  * code is `min(floor((x-lo)*256/(hi-lo)), 255)` (256 equi-width
  * buckets, top edge clamped into the last bucket), its reconstruction
  * the bucket CENTER `lo + (code+0.5)*(hi-lo)/256` — so the
  * quantization error is ≤ (hi-lo)/512 per dimension for in-range
  * values (spec-asserted). A degenerate dimension (hi == lo) codes to
  * its only value. Emitting the reconstruction (not the code) keeps
  * downstream scoring a plain [[DotProduct]]; the 4-byte→1-byte storage
  * story is the code array, recoverable from the same loop. IEEE
  * operation order matches the DuckDB oracle lambda exactly
  * (sub, ×256.0, ÷range, floor, clamp, +0.5, ×range, ÷256.0, +lo). */
case class ScalarQuantRecon(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_sq_recon"

  override def nullSafeEval(xAny: Any, loAny: Any, hiAny: Any): Any = {
    val x = xAny.asInstanceOf[ArrayData]
    val lo = loAny.asInstanceOf[ArrayData]
    val hi = hiAny.asInstanceOf[ArrayData]
    val n = x.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val l = lo.getDouble(i)
      val h = hi.getDouble(i)
      out(i) =
        if (h == l) l
        else {
          val c = math.min(math.floor((x.getDouble(i) - l) * 256.0 / (h - l)), 255.0)
          val cc = math.max(c, 0.0)
          l + (cc + 0.5) * (h - l) / 256.0
        }
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, lo, hi) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val l = ctx.freshName("l")
      val h = ctx.freshName("h")
      val c = ctx.freshName("c")
      val out = ctx.freshName("out")
      s"""
         |final int $n = $x.numElements();
         |final double[] $out = new double[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $l = $lo.getDouble($i);
         |  final double $h = $hi.getDouble($i);
         |  if ($h == $l) { $out[$i] = $l; }
         |  else {
         |    double $c = java.lang.Math.min(
         |      java.lang.Math.floor(($x.getDouble($i) - $l) * 256.0 / ($h - $l)), 255.0);
         |    $c = java.lang.Math.max($c, 0.0);
         |    $out[$i] = $l + ($c + 0.5) * ($h - $l) / 256.0;
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): ScalarQuantRecon =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Count of boundary-key structs that sort BEFORE-OR-EQUAL this row's
  * key under a per-field (ascending?, nullsFirst?) lexicographic order
  * — the range-id kernel of [[graft.ops.Ranking]]'s deterministic
  * two-phase global rank. The `aggregate()` HOF formulation it replaces
  * is `CodegenFallback`: one of it in the pre-shuffle projection drops
  * the whole stage out of WSCG and evaluates per boundary element
  * through the interpreter with lambda-variable binding. This generates
  * one tight loop (comparisons via `ctx.genComp`, which handles every
  * orderable Catalyst type) and keeps the stage compiled.
  *
  * `children` = boundary array (array<struct of the key fields>)
  * followed by the row's key field expressions. Null handling matches
  * SortOrder semantics field-wise: nulls compare equal to each other,
  * and sort first/last per `nullsFirst`.
  */
case class RangeBucketCount(bounds: Expression, keyFields: Seq[Expression],
    asc: Seq[Boolean], nullsFirst: Seq[Boolean]) extends Expression {
  require(keyFields.nonEmpty && keyFields.length == asc.length &&
    asc.length == nullsFirst.length)

  override def children: Seq[Expression] = bounds +: keyFields
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_range_bucket"

  private def m: Int = keyFields.length
  @transient private lazy val fieldTypes = keyFields.map(_.dataType)
  @transient private lazy val ords = fieldTypes.map(
    org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val bv = bounds.eval(input)
    if (bv == null) return 0
    val arr = bv.asInstanceOf[ArrayData]
    val ks = new Array[Any](m)
    var f = 0
    while (f < m) { ks(f) = keyFields(f).eval(input); f += 1 }
    var cnt = 0
    var i = 0
    while (i < arr.numElements()) {
      val b = arr.getStruct(i, m)
      var c = 0
      f = 0
      while (c == 0 && f < m) {
        val bf = if (b.isNullAt(f)) null else b.get(f, fieldTypes(f))
        val kf = ks(f)
        c =
          if (bf == null && kf == null) 0
          else if (bf == null) { if (nullsFirst(f)) -1 else 1 }
          else if (kf == null) { if (nullsFirst(f)) 1 else -1 }
          else {
            val raw = ords(f).compare(bf, kf)
            if (asc(f)) raw else -raw
          }
        f += 1
      }
      if (c <= 0) cnt += 1
      i += 1
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val bnd = bounds.genCode(ctx)
    val keys = keyFields.map(_.genCode(ctx))
    val arr = ctx.freshName("bndArr")
    val cnt = ctx.freshName("cnt")
    val i = ctx.freshName("i")
    val row = ctx.freshName("bRow")
    val c = ctx.freshName("cmp")
    val fieldCmp = (0 until m).map { f =>
      val dt = fieldTypes(f)
      val bv = ctx.freshName("bv")
      val javaT = CodeGenerator.javaType(dt)
      val getV = CodeGenerator.getValue(row, dt, f.toString)
      val bNullFirst = if (nullsFirst(f)) "-1" else "1"
      val kNullFirst = if (nullsFirst(f)) "1" else "-1"
      val sign = if (asc(f)) "" else "-"
      s"""
         |if ($c == 0) {
         |  boolean bNull = $row.isNullAt($f);
         |  if (bNull || ${keys(f).isNull}) {
         |    $c = (bNull && ${keys(f).isNull}) ? 0
         |      : (bNull ? $bNullFirst : $kNullFirst);
         |  } else {
         |    $javaT $bv = $getV;
         |    $c = $sign(${ctx.genComp(dt, bv, keys(f).value.toString)});
         |  }
         |}
       """.stripMargin
    }.mkString("\n")
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val block =
      code"""
           |${bnd.code}
           |${keys.map(_.code).foldLeft(
              org.apache.spark.sql.catalyst.expressions.codegen.EmptyBlock:
                org.apache.spark.sql.catalyst.expressions.codegen.Block)(_ + _)}
           |int $cnt = 0;
           |if (!${bnd.isNull}) {
           |  org.apache.spark.sql.catalyst.util.ArrayData $arr = ${bnd.value};
           |  for (int $i = 0; $i < $arr.numElements(); $i++) {
           |    org.apache.spark.sql.catalyst.InternalRow $row = $arr.getStruct($i, $m);
           |    int $c = 0;
           |    $fieldCmp
           |    if ($c <= 0) $cnt++;
           |  }
           |}
         """.stripMargin
    ev.copy(code = block, isNull =
      org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral,
      value = org.apache.spark.sql.catalyst.expressions.codegen.JavaCode
        .variable(cnt, IntegerType))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): RangeBucketCount =
    copy(bounds = newChildren.head, keyFields = newChildren.tail)
}
