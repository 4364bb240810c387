package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Exact

/** Approximate (sketch-based) aggregates: the constant-memory summary
  * path for lake-scale dashboard metrics.
  *
  * Exact `COUNT(DISTINCT key)` shuffles every distinct key and exact
  * percentiles sort the column; at 100 TB both are often the most
  * expensive aggregates in a dashboard refresh. Spark's native sketches
  * — HyperLogLog++ for distinct counts, KLL-style quantile summaries
  * for percentiles — are mergeable partial aggregates: each task builds
  * a fixed-size sketch and only sketches cross the wire, so cost is
  * O(data) map-side with O(sketch) shuffle regardless of cardinality.
  *
  * These are deliberately [T]-gated (ScalaTest bounds vs the exact
  * answers) rather than oracle-gated: DuckDB's approx functions use
  * different sketch parameters, so cross-engine equality is not defined.
  */
object Sketches {

  /** Per-group approximate summary: HLL++ distinct count of
    * `distinctCol` (relative error `rsd`) and approximate percentiles
    * of `valueCol` (rank error ≤ n / `accuracy`). */
  def approxSummary(df: DataFrame, groupCols: Seq[String],
      distinctCol: String, valueCol: String,
      percentiles: Seq[Double] = Seq(0.5, 0.95, 0.99),
      rsd: Double = 0.05, accuracy: Int = 10000): DataFrame = {
    val pctArr = array(percentiles.map(lit): _*)
    df.groupBy(groupCols.map(col): _*)
      .agg(
        approx_count_distinct(col(distinctCol), rsd).as("approx_distinct"),
        percentile_approx(col(valueCol), pctArr, lit(accuracy))
          .as("approx_percentiles"),
        count(lit(1)).as("n"))
  }

  /** Exact twin of [[approxSummary]] (for spec bounds and for callers
    * who can afford it at their scale). */
  def exactSummary(df: DataFrame, groupCols: Seq[String],
      distinctCol: String, valueCol: String,
      percentiles: Seq[Double] = Seq(0.5, 0.95, 0.99)): DataFrame = {
    val pctArr = array(percentiles.map(lit): _*)
    df.groupBy(groupCols.map(col): _*)
      .agg(
        countDistinct(col(distinctCol)).as("exact_distinct"),
        percentile(col(valueCol), pctArr).as("exact_percentiles"),
        count(lit(1)).as("n"))
  }

  // ---- count-min sketch -----------------------------------------------

  /** Count-min sketch of a key column's occurrence counts, built with
    * plain aggregates: `depth` seeded xxhash64 hashes route every
    * occurrence to one bucket per row, and ONE map-side-combined
    * aggregation reduces to the `depth × width` cell grid. The shuffle
    * carries at most depth·width keys PER PARTITION regardless of key
    * cardinality — this is the sketch's point at corpus scale, where an
    * exact per-key count shuffles the whole vocabulary.
    *
    * Cells are mergeable by cell-wise addition ([[cmsMerge]]); estimates
    * never undercount, and overcount ≤ ⌈e·N/width⌉ per row w.h.p. —
    * [[cmsHeavyHitters]] exploits exactly that one-sided error.
    *
    * Returns (r, b, cnt): row r ∈ [0, depth), bucket b ∈ [0, width). */
  def countMin(df: DataFrame, keyCol: String,
      depth: Int = 4, width: Int = 1024): DataFrame =
    countMinMulti(df, Seq(keyCol), depth, width)

  /** [[countMin]] over a COMPOSITE key (e.g. (group, key) for grouped
    * heavy hitters): the hash family spans all columns, so the sketch
    * treats each distinct tuple as one key. Single-column callers get
    * bit-identical cells through the delegating overload. */
  def countMinMulti(df: DataFrame, keyCols: Seq[String],
      depth: Int = 4, width: Int = 1024): DataFrame = {
    require(depth >= 1 && width >= 1 && keyCols.nonEmpty)
    df.select(explode(array((0 until depth).map(r =>
        struct(lit(r).as("r"),
          pmod(xxhash64(lit(r) +: keyCols.map(col): _*), lit(width.toLong)).as("b"))): _*)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Cell-wise sum of two compatible sketches — the mergeability that
    * makes the sketch a partial aggregate (per-split sketches combine
    * to the corpus sketch without revisiting data). */
  def cmsMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("r", "b").agg(sum("cnt").as("cnt"))

  /** Attach the sketch estimate (min over rows of the hashed cell) to
    * every input row as `est` — a per-row probe of the dense grid as a
    * LITERAL nested array: no shuffle, no per-key state, and the probe
    * stays inside whole-stage codegen on the input's own scan. (A
    * broadcast-crossJoin formulation would land the probe in an
    * INTERPRETED BroadcastNestedLoopJoin condition — measured 20×
    * slower on the bloom twin of this pattern.) The sparse cells are
    * collected and densified driver-side in plain Scala — fixed-size
    * (≤ depth×width cells, data-independent), the bounded-sketch-to-
    * driver shape of Spark's own runtime bloom filter. The row loop is
    * unrolled into an explicit `least` (depth is a plan-time
    * constant). */
  def cmsEstimate(df: DataFrame, keyCol: String, cells: DataFrame,
      depth: Int = 4, width: Int = 1024): DataFrame =
    cmsEstimateMulti(df, Seq(keyCol), cells, depth, width)

  /** [[cmsEstimate]] for a composite key — probes must hash the same
    * column tuple the sketch was built over. */
  def cmsEstimateMulti(df: DataFrame, keyCols: Seq[String], cells: DataFrame,
      depth: Int = 4, width: Int = 1024): DataFrame = {
    val dense = Array.fill(depth)(new Array[Long](width))
    cells.collect().foreach(r =>
      dense(r.getInt(0))(r.getLong(1).toInt) = r.getLong(2))
    val grid = typedLit(dense.map(_.toSeq).toSeq)
    val probes = (0 until depth).map(r =>
      element_at(element_at(grid, r + 1),
        (pmod(xxhash64(lit(r) +: keyCols.map(col): _*), lit(width.toLong)) + 1).cast("int")))
    df.withColumn("est", if (depth == 1) probes.head else least(probes: _*))
  }

  /** Exact heavy hitters through a count-min prefilter: keys whose
    * total occurrence count reaches `minCount`, as (key, cnt) with the
    * EXACT count.
    *
    * Two passes, neither shuffling the vocabulary: (1) the sketch pass
    * shuffles only the depth×width grid; (2) every occurrence probes
    * the broadcast grid map-side and only occurrences of CANDIDATE keys
    * (est ≥ minCount — a superset of the true heavy hitters, because
    * estimates never undercount) reach the exact counting shuffle,
    * whose key set the sketch has already cut to the candidates. The
    * final exact filter removes the sketch's false positives, so the
    * result is EXACT — the approximation only ever decides how much
    * work the second pass does. */
  def cmsHeavyHitters(df: DataFrame, keyCol: String, minCount: Long,
      depth: Int = 4, width: Int = 1024): DataFrame = {
    val cells = countMin(df, keyCol, depth, width)
    cmsEstimate(df.select(col(keyCol)), keyCol, cells, depth, width)
      .filter(col("est") >= minCount)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
  }

  /** GROUPED exact heavy hitters through one composite-key count-min
    * prefilter: (group, key) tuples whose occurrence count reaches
    * `minCount`, with the exact count — per-group boilerplate / hot-key
    * detection (which token floods which source, which user floods
    * which event type) without EITHER a per-group sketch (state ∝
    * groups) or a full (group, key) exact count (shuffle ∝ the
    * group-local vocabularies union).
    *
    * The composite hash treats each (group, key) tuple as one sketch
    * key, so the grid stays ONE depth×width constant whatever the group
    * count, and the same two-pass argument as [[cmsHeavyHitters]]
    * applies unchanged: estimates never undercount ⇒ the candidate set
    * is a superset ⇒ the exact recount over candidates is EXACT (and
    * oracle-gateable). Width budgets against TOTAL occurrences N as
    * before: overcount ≤ ⌈e·N/width⌉ w.h.p. regardless of grouping. */
  def groupedHeavyHitters(df: DataFrame, groupCol: String, keyCol: String,
      minCount: Long, depth: Int = 4, width: Int = 1024): DataFrame = {
    val keys = Seq(groupCol, keyCol)
    val cells = countMinMulti(df, keys, depth, width)
    cmsEstimateMulti(df.select(keys.map(col): _*), keys, cells, depth, width)
      .filter(col("est") >= minCount)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
  }

  // ---- HyperLogLog (cross-engine exact registers) ----------------------

  /** Register-table HyperLogLog distinct-count sketch, built entirely
    * from integer arithmetic BOTH engines compute bit-identically — so
    * unlike [[approxSummary]]'s native HLL++ (whose binary sketch is
    * engine-private), this one is ORACLE-GATEABLE end to end: the
    * DuckDB twin replays hash → bucket → rho → max and lands on the
    * same registers, the same scaled-integer harmonic sum, and (via
    * the identical literal IEEE expression) the same estimate.
    *
    * Layout: the stable 60-bit hash's low log2(m) bits pick the
    * register (`h & (m-1)` ≡ `h % m` on the non-negative hash), the
    * remaining 60-log2(m) bits feed rho = leading-zero count + 1,
    * computed WITHOUT floats as `(61-log2(m)) - length(bin(rest))`
    * (bin is minimal-length in both engines; the all-zero remainder
    * gets the conventional maximal rho). One map-side-combined MAX
    * aggregation reduces the corpus to ≤ m rows per group — the whole
    * point at 100 TB, where exact COUNT(DISTINCT) shuffles every key.
    *
    * Returns (keyCols*, bucket, r) — the mergeable state
    * ([[hllMerge]]: union + MAX, associative, commutative, IDEMPOTENT,
    * so at-least-once replay is absorbed for free). */
  def hllState(df: DataFrame, keyCols: Seq[String], valCol: String,
      m: Int = 256): DataFrame = {
    require(m >= 16 && (m & (m - 1)) == 0, s"m must be a power of two: $m")
    val bits = java.lang.Integer.numberOfTrailingZeros(m)
    val maxRho = 60 - bits + 1
    val h = graft.functions.Hashing.hash60(
      concat(lit("hll:"), col(valCol).cast("string")))
    df.select(keyCols.map(col) :+ h.as("h"): _*)
      .select(keyCols.map(col) :+
        col("h").bitwiseAND(lit((m - 1).toLong)).as("bucket") :+
        shiftright(col("h"), bits).as("rest"): _*)
      .groupBy((keyCols :+ "bucket").map(col): _*)
      .agg(max(when(col("rest") === 0L, lit(maxRho.toLong))
        .otherwise(lit(maxRho.toLong) - length(bin(col("rest")))))
        .as("r"))
  }

  /** Merge any number of [[hllState]] tables (any order, duplicates
    * welcome — register MAX is idempotent). */
  def hllMerge(states: Seq[DataFrame], keyCols: Seq[String]): DataFrame =
    states.reduce(_ unionByName _)
      .groupBy((keyCols :+ "bucket").map(col): _*)
      .agg(max(col("r")).as("r"))

  /** State → per-group sketch summary: hit-register count, max rho,
    * the harmonic sum as the EXACT scaled integer
    * `s_fp = Σ_buckets 2^(r_max - r_b)` (missing buckets enter at
    * r = 0; every term is a power of two ≤ 2^r_max, the BIGINT sum is
    * exact and fold-order-free — the float sum Σ2^-r would be
    * neither), and the raw HLL estimate
    * `alpha_m · m² · 2^r_max / s_fp` — one literal-alpha multiply and
    * ONE IEEE division off exact integers, identical in both engines.
    * `use_linear` flags the small-range regime (hit < m and raw
    * estimate ≤ 2.5m) where a consumer should prefer linear counting
    * `m·ln(m/(m-n_hit))` — applied caller-side because `ln` is not
    * correctly rounded in either engine (the one HLL step that is not
    * oracle-exact; same boundary as the project-wide no-log rule).
    *
    * Everything here is register-table-sized (groups × ≤ m rows); the
    * per-group window is co-partitioned with the groupBy. */
  def hllFinalize(state: DataFrame, keyCols: Seq[String],
      m: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // alpha_m · m², literal-for-literal the oracle's expression text
    // (left-assoc: ((0.7213/(1+1.079/m)) · m²) — one extra rounding vs
    // fusing, but the SAME one in both engines)
    val alphaM2 = 0.7213 / (1.0 + 1.079 / m.toDouble) * (m.toDouble * m)
    val w = Window.partitionBy(keyCols.map(col): _*)
    state
      .withColumn("r_max", max(col("r")).over(w))
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_hit"), max(col("r")).as("r_max"),
        sum(pow(lit(2.0), col("r_max") - col("r")).cast("long"))
          .as("s_present"))
      .withColumn("s_fp", col("s_present") +
        (lit(m.toLong) - col("n_hit")) *
          pow(lit(2.0), col("r_max")).cast("long"))
      .withColumn("est_raw", Exact.round(
        lit(alphaM2) * pow(lit(2.0), col("r_max")) / col("s_fp"), 3))
      .withColumn("use_linear",
        col("n_hit") < m.toLong && col("est_raw") <= lit(2.5 * m))
      .select((keyCols.map(col) :+ lit(m.toLong).as("m") :+
        col("n_hit") :+ col("r_max").cast("long").as("r_max") :+
        col("s_fp") :+ col("est_raw") :+ col("use_linear")): _*)
  }
}
