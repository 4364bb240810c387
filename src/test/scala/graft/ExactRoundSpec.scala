package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, Round}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, StructField, StructType}

import graft.functions.{Exact, RoundDouble}

/** The native double `round` ([[RoundDouble]]) against Spark's own
  * `round`, compared by raw bits: generated code, interpreted eval, and
  * the bare expressions. The inputs cover both of the kernel's paths. */
class ExactRoundSpec extends SparkTestBase {

  private val Scales = 0 to 10

  /** Random magnitudes, random bit patterns, ±4 ulps around every scale's
    * .5 ties, and the special values. */
  private lazy val inputs: Seq[Double] = {
    val r = new scala.util.Random(20261019L)
    val sign = () => if (r.nextBoolean()) 1.0 else -1.0
    val magnitudes = Seq.fill(20000)(
      sign() * r.nextDouble() * math.pow(10, r.nextInt(24) - 8))
    val bits = Seq.fill(5000)(java.lang.Double.longBitsToDouble(r.nextLong()))
    def around(t: Double): Seq[Double] =
      Iterator.iterate(t)(Math.nextDown).slice(1, 5).toSeq ++
        Iterator.iterate(t)(Math.nextUp).take(5).toSeq
    val ties = Scales.flatMap { s =>
      val p = math.pow(10, s)
      val ks = Seq(0L, 1L, 2L, 12L, 999L) ++
        Seq.fill(150)((r.nextDouble() * math.min(4e15 / p, 1e7)).toLong) ++
        Seq.fill(50)((r.nextDouble() * 4e15 / p).toLong)
      ks.flatMap(k => around((k + 0.5) / p)).flatMap(t => Seq(t, -t))
    }
    val special = Seq(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -0.0, 0.0, Double.MinPositiveValue,
      -Double.MinPositiveValue, Double.MaxValue, -Double.MaxValue,
      -1e-9, -4.9e-7, -0.0000004, -0.4, -0.49999999999999994, 5e-7,
      0.5, 1.5, 2.5, 0.125, 1.005, 2.675, 1.0 / 3, -2.0 / 3) ++
      Scales.flatMap { s =>
        val big = 4e15 / math.pow(10, s)
        Seq(big, Math.nextDown(big), -big, big * 7.5, 1e17, 9.007199254740993e15)
      }
    magnitudes ++ bits ++ ties ++ special
  }

  private def frame: DataFrame = {
    val schema = StructType(Seq(StructField("x", DoubleType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(inputs.map(Row(_)), 4), schema)
  }

  /** Every (x, scale) where the kernel's bits differ from Spark's. */
  private def mismatches(df: DataFrame): Seq[String] = {
    val cols = Scales.flatMap(s =>
      Seq(round(col("x"), s).as(s"spark_$s"), Exact.round(col("x"), s).as(s"exact_$s")))
    val out = df.select(col("x") +: cols: _*)
    val plan = out.queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_round_double"), plan)
    out.collect().toSeq.flatMap { row =>
      Scales.flatMap { s =>
        val a = java.lang.Double.doubleToRawLongBits(row.getDouble(1 + 2 * s))
        val b = java.lang.Double.doubleToRawLongBits(row.getDouble(2 + 2 * s))
        if (a == b) None
        else Some(s"round(${row.getDouble(0)}, $s): spark ${row.getDouble(1 + 2 * s)} " +
          s"kernel ${row.getDouble(2 + 2 * s)}")
      }
    }
  }

  private def withConf(kv: (String, String)*)(body: => Unit): Unit = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("the inputs take both the fast path and the BigDecimal fallback " +
      "at every scale") {
    for (s <- Scales) {
      val fast = inputs.count(RoundDouble.fastPathApplies(_, s))
      assert(fast > inputs.size / 3, s"scale $s: fast path taken $fast times")
      assert(inputs.size - fast > 100, s"scale $s: fallback taken ${inputs.size - fast} times")
    }
    assert(!RoundDouble.fastPathApplies(Double.NaN, 6))
    assert(!RoundDouble.fastPathApplies(Double.PositiveInfinity, 6))
    assert(!RoundDouble.fastPathApplies(0.0000005, 6), "a .5 tie is a fallback")
    assert(!RoundDouble.fastPathApplies(4e9, 6), "|x|·10^s ≥ 4·10^15 is a fallback")
    assert(!RoundDouble.fastPathApplies(1.25, 16) && !RoundDouble.fastPathApplies(1.25, -1))
    assert(RoundDouble.fastPathApplies(-1e-9, 6))
  }

  test("generated code: raw bits equal Spark's round at scales 0-10") {
    val bad = mismatches(frame)
    assert(bad.isEmpty, s"${bad.size} mismatches, e.g.\n${bad.take(10).mkString("\n")}")
  }

  test("interpreted eval: raw bits equal Spark's round at scales 0-10") {
    withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val bad = mismatches(frame)
      assert(bad.isEmpty, s"${bad.size} mismatches, e.g.\n${bad.take(10).mkString("\n")}")
    }
    val x = BoundReference(0, DoubleType, nullable = true)
    for (s <- Scales; v <- inputs) {
      val row = InternalRow(v)
      val want = Round(x, Literal(s)).eval(row).asInstanceOf[Double]
      val got = RoundDouble(x, s).eval(row).asInstanceOf[Double]
      assert(java.lang.Double.doubleToRawLongBits(got) ==
        java.lang.Double.doubleToRawLongBits(want), s"round($v, $s): $want vs $got")
    }
  }

  test("-0.0 and small negatives round to +0.0; NaN and ±Inf pass through") {
    for (v <- Seq(-0.0, -1e-9, -4e-7, -0.4); s <- Seq(0, 6)
        if math.abs(v) * math.pow(10, s) < 0.5) {
      assert(java.lang.Double.doubleToRawLongBits(RoundDouble.round(v, s)) == 0L,
        s"round($v, $s) must be +0.0")
    }
    assert(RoundDouble.round(Double.NaN, 6).isNaN)
    assert(RoundDouble.round(Double.NegativeInfinity, 6) == Double.NegativeInfinity)
  }

  test("a non-double input keeps Spark's Round: same type, same values") {
    val df = spark.range(0, 200).select(
      (col("id") * 7 - 700).cast(DecimalType(18, 6)).divide(lit(13)).cast(DecimalType(18, 6)).as("d"),
      (col("id") * 37 - 3000).cast("int").as("i"),
      (col("id") / 7.0 - 10).cast("float").as("f"))
    for (c <- Seq("d", "i", "f"); s <- Seq(-1, 0, 2)) {
      val ours = df.select(Exact.round(col(c), s).as("r"))
      val theirs = df.select(round(col(c), s).as("r"))
      assert(ours.schema == theirs.schema, s"$c at $s")
      assert(ours.collect().toSeq == theirs.collect().toSeq, s"$c at $s")
      val plan = ours.queryExecution.optimizedPlan.toString
      assert(!plan.contains("graft_round_double"), plan)
    }
  }
}
