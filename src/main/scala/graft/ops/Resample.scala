package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Exact

/** Time-series resampling: per-key regular-grid gap fill with linear
  * interpolation (the meteo lane's "hourly observation series with
  * holes" shape — reference stores raw per-timestamp rows, see
  * `/root/reference/etl/models.py:60` `to_records`; an analytics
  * consumer needs the regular grid).
  *
  * Scale shape: one shuffle to aggregate onto the grid unit, a
  * broadcast-sized span table, and two window passes per key — state is
  * one (ts, value) pair per direction, never the whole series. Grid
  * synthesis is `sequence()` per key (distributed explode), not a
  * driver-side loop; partitions are bounded by per-key grid length, so
  * at lake scale keys (stations, sensors) parallelize and a single
  * key's series stays a few thousand rows per year of hourly data.
  */
object Resample {

  /** M4 downsampling: per (key, time-bucket) keep exactly the rows a
    * line chart needs — the min-value, max-value, first and last points
    * — so a billion-point series renders from 4 rows per pixel column
    * with a pixel-perfect envelope (the M4 aggregation of Jugel et al.,
    * VLDB'14).
    *
    * One map-side-combined shuffle: each extreme is a single
    * `min/max(struct(...))` aggregate whose lexicographic field order
    * (value-first for min/max, time-first for first/last, id last)
    * doubles as the deterministic tie-break, so the selected rows are
    * reproducible and oracle-expressible as rank-1 window rows. No
    * window over the raw series, no per-key sort — the 100 TB feed
    * aggregates straight onto (key × buckets). */
  def m4Downsample(events: DataFrame, key: String = "event_type",
      tsCol: String = "ts", valCol: String = "value",
      idCol: String = "event_id", bucketSeconds: Long = 3600L): DataFrame = {
    val e = events.filter(col(valCol).isNotNull)
      .select(col(key), col(tsCol).as("ts"), col(valCol).as("v"),
        col(idCol).as("id"),
        // FLOOR division, not `div` (truncate-toward-zero): pre-1970
        // timestamps have negative epochs, and truncation would put
        // epoch −10 in bucket 0 while floor (and DuckDB's `//`, and any
        // chart's pixel grid) puts it in bucket −1. Double division is
        // exact here (|epoch| ≪ 2⁵³).
        expr(s"CAST(floor(unix_timestamp($tsCol) / $bucketSeconds) AS BIGINT)")
          .as("bucket"))
    m4Finalize(m4StateOf(e, key))
  }

  /** MERGEABLE M4 state: per (key, bucket) the four extremal structs.
    * min/max of structs are ASSOCIATIVE, COMMUTATIVE and IDEMPOTENT —
    * so batches merge in any order ([[m4Merge]]), tree-merged backfills
    * and foreachBatch maintenance share the algebra (the
    * [[IncrementalAgg]] story), and an at-least-once REPLAY of a batch
    * cannot corrupt the state (duplicates never move a min/max —
    * spec-proven; counts need the versioned-state machinery for this,
    * M4 gets it from the algebra). */
  def m4State(events: DataFrame, key: String = "event_type",
      tsCol: String = "ts", valCol: String = "value",
      idCol: String = "event_id", bucketSeconds: Long = 3600L): DataFrame =
    m4StateOf(events.filter(col(valCol).isNotNull)
      .select(col(key), col(tsCol).as("ts"), col(valCol).as("v"),
        col(idCol).as("id"),
        expr(s"CAST(floor(unix_timestamp($tsCol) / $bucketSeconds) AS BIGINT)")
          .as("bucket")), key)

  private def m4StateOf(e: DataFrame, key: String): DataFrame =
    e.groupBy(col(key), col("bucket"))
      .agg(
        min(struct(col("v"), col("ts"), col("id"))).as("mn"),
        max(struct(col("v"), col("ts"), col("id"))).as("mx"),
        min(struct(col("ts"), col("id"), col("v"))).as("fst"),
        max(struct(col("ts"), col("id"), col("v"))).as("lst"))

  /** Merge any number of [[m4State]] tables (any order, duplicates
    * welcome). */
  def m4Merge(states: Seq[DataFrame], key: String = "event_type"): DataFrame =
    states.reduce(_ unionByName _)
      .groupBy(col(key), col("bucket"))
      .agg(min(col("mn")).as("mn"), max(col("mx")).as("mx"),
        min(col("fst")).as("fst"), max(col("lst")).as("lst"))

  /** State → the published 4-roles-per-bucket shape. */
  def m4Finalize(state: DataFrame, key: String = "event_type"): DataFrame = {
    def pick(role: String, s: String) = struct(lit(role).as("role"),
      col(s"$s.ts").as("ts"), col(s"$s.v").as("v"), col(s"$s.id").as("id"))
    state
      .select(col(key), col("bucket"),
        explode(array(pick("min", "mn"), pick("max", "mx"),
          pick("first", "fst"), pick("last", "lst"))).as("r"))
      .select(col(key), col("bucket"), col("r.role").as("role"),
        col("r.ts").as("ts"), col("r.v").as("v"), col("r.id").as("id"))
  }

  /** Aggregate `valCol` onto a truncated-`unit` grid per `key` (exact
    * decimal mean, rounded to 6dp), fill every missing grid cell
    * between each key's first and last observation by linear
    * interpolation between the surrounding observed cells.
    *
    * Output: (key, h, v_filled, src∈{observed,interpolated}).
    */
  def gapfillLinear(
      df: DataFrame,
      key: String,
      tsCol: String,
      valCol: String,
      unit: String = "hour",
      stepSql: String = "interval 1 hour"): DataFrame = {
    import graft.functions.Exact.dec

    // mean over NON-NULL readings (count(valCol), not count(*)): a null
    // record in a cell must not deflate the mean; an all-null cell
    // yields v = null and is treated as a hole like any missing hour.
    // (Not Exact.exactAvg — that helper's count(*) denominator is the
    // right semantic for money aggregates, the wrong one here.)
    val base = df
      .groupBy(col(key), date_trunc(unit, col(tsCol)).as("h"))
      .agg(Exact.round(sum(dec(col(valCol))).cast("double") / count(col(valCol)), 6)
        .as("v"))
      .filter(col("v").isNotNull) // all-null cell = hole, not a grid anchor
    val grid = base.groupBy(col(key))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col(key), explode(sequence(col("h0"), col("h1"), expr(stepSql)))
        .as("h"))
    val j = grid.join(base, Seq(key, "h"), "left")

    val wPrev = Window.partitionBy(key).orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(key).orderBy("h")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    // h and v come from the SAME observed row by construction: the
    // carried expressions are non-null exactly when v is (so, unlike a
    // multi-column payload, independent last/first calls cannot stitch
    // values from different rows).
    val knownH = when(col("v").isNotNull, col("h"))
    val withNeighbors = j
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
      .withColumn("ph", last(knownH, ignoreNulls = true).over(wPrev))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(wNext))
      .withColumn("nh", first(knownH, ignoreNulls = true).over(wNext))

    // fraction of the gap elapsed, in grid-epoch seconds (exact longs
    // until the single double division — engine-reproducible)
    val frac = (unix_timestamp(col("h")) - unix_timestamp(col("ph")))
      .cast("double") /
      (unix_timestamp(col("nh")) - unix_timestamp(col("ph"))).cast("double")
    withNeighbors
      .withColumn("v_filled",
        when(col("v").isNotNull, col("v"))
          .otherwise(Exact.round(col("pv") + (col("nv") - col("pv")) * frac, 6)))
      .withColumn("src",
        when(col("v").isNotNull, lit("observed")).otherwise(lit("interpolated")))
      .select(col(key), col("h"), col("v_filled"), col("src"))
  }

  /** Exponentially weighted moving average over the per-key `unit` grid,
    * with α = 1/2 and the window truncated at `lags` terms:
    *
    *   ewma_t = Σ_{j<lags} v_{t−j}·2⁻ʲ / Σ_{j present} 2⁻ʲ
    *
    * BIT-DETERMINISTIC across engines, not just approximately equal:
    * the grid means are the round-6 doubles of [[gapfillLinear]]'s base
    * pass, each weight 2⁻ʲ and each product v·2⁻ʲ is EXACT in binary
    * floating point (exponent shift, no rounding), and both engines sum
    * the terms through the same left-associated expression tree — a
    * fixed lag-tree, NOT a windowed sum whose fold order an engine may
    * choose. So no final rounding is needed (and none is applied; a
    * round-half edge is the one thing engines disagree on). α = 1/2 is
    * the one smoothing factor with this property; other α trade it for
    * a rounded contract. Truncation at 2⁻⁸ leaves < 0.4% of the mass.
    *
    * Scale shape: the raw feed collapses to (key × unit) grid rows via
    * one map-side-combined aggregation — the only full-table work; the
    * lag window runs over the aggregated series (dashboard-sized), so
    * `Window.partitionBy(key)` parallelism is bounded by series count
    * on data orders of magnitude below the fact table.
    */
  def ewmaHalf(df: DataFrame, key: String, tsCol: String, valCol: String,
      lags: Int = 8, unit: String = "day"): DataFrame = {
    import graft.functions.Exact.dec
    require(lags >= 1 && lags <= 30, "lags must be in [1, 30]")
    val base = df
      .groupBy(col(key), date_trunc(unit, col(tsCol)).as("d"))
      .agg(Exact.round(sum(dec(col(valCol))).cast("double") / count(col(valCol)), 6)
        .as("v"))
      .filter(col("v").isNotNull)
    val w = Window.partitionBy(key).orderBy("d")
    def wj(j: Int) = lit(math.pow(0.5, j)) // 2^-j, exact
    val num = (1 until lags)
      .map(j => coalesce(lag(col("v"), j).over(w) * wj(j), lit(0.0)))
      .foldLeft[Column](col("v"))(_ + _)
    val den = (1 until lags)
      .map(j => when(lag(col("v"), j).over(w).isNotNull, wj(j)).otherwise(lit(0.0)))
      .foldLeft[Column](lit(1.0))(_ + _)
    base.select(col(key), col("d"), col("v"), (num / den).as("ewma"))
  }

  /** Classical additive seasonal decomposition over the hourly grid:
    * observed = trend + seasonal + residual, per key.
    *
    *  - observed `v`: exact-decimal hourly means (same cell semantics as
    *    [[gapfillLinear]] — null readings don't deflate, all-null cells
    *    are holes),
    *  - `trend`: centered ±`halfWin`-row moving average over the
    *    observed hourly series (DECIMAL window sum — exact, associative,
    *    fold-order-free — double division + round only at the edge),
    *  - `seasonal`: per (key, hour-of-day) mean of the exactly-decimal
    *    detrended series,
    *  - `resid`: the exact-decimal remainder, cast to double.
    *
    * Every cross-row fold is decimal (engine-exact); doubles appear only
    * in per-value division/round — the [[ewmaHalf]] determinism recipe.
    *
    * Scale shape: the 100 TB work is the FIRST aggregation (fact →
    * hourly grid, one map-side-combined pass); the trend window and the
    * 24-row seasonal profile run over the aggregated dashboard-sized
    * series — same argument as [[ewmaHalf]]'s lag tree. Decomposition is
    * defined over the OBSERVED grid (holes skipped by the row frame);
    * compose with [[gapfillLinear]] first when a full grid is wanted. */
  def seasonalDecompose(df: DataFrame, key: String = "event_type",
      tsCol: String = "ts", valCol: String = "value",
      halfWin: Int = 12, period: Int = 24): DataFrame = {
    import graft.functions.Exact.dec
    val b = df
      .groupBy(col(key), date_trunc("hour", col(tsCol)).as("h"))
      .agg(Exact.round(sum(dec(col(valCol))).cast("double") / count(col(valCol)), 6)
        .as("v"))
      .filter(col("v").isNotNull)
    val w = Window.partitionBy(key).orderBy("h").rowsBetween(-halfWin, halfWin)
    val t = b.withColumn("trend",
      Exact.round(sum(dec(col("v"))).over(w).cast("double") /
        count(lit(1)).over(w), 6))
    val d = t
      .withColumn("hod",
        expr(s"CAST(floor(unix_timestamp(h) / 3600) AS BIGINT) % $period"))
      .withColumn("__detr", dec(col("v")) - dec(col("trend")))
    val seas = d.groupBy(col(key), col("hod"))
      .agg(Exact.round(sum(col("__detr")).cast("double") / count(lit(1)), 6)
        .as("seasonal"))
    d.join(broadcast(seas), Seq(key, "hod"))
      .select(col(key), col("h"), col("v"), col("trend"), col("seasonal"),
        (dec(col("v")) - dec(col("trend")) - dec(col("seasonal")))
          .cast("double").as("resid"))
  }

  /** LTTB downsampling (Steinarsson's Largest-Triangle-Three-Buckets,
    * public) — the perceptual sibling of [[m4Downsample]]: M4 preserves
    * the rendered min/max envelope, LTTB keeps the single point per
    * bucket that preserves the line's SHAPE (the largest triangle
    * against the neighboring buckets).
    *
    * PARALLEL-ANCHOR variant: canonical LTTB anchors each triangle on
    * the previously SELECTED point — a sequential chain no engine can
    * parallelize — so both anchors here are the neighbor buckets'
    * round-6 decimal mean points (the standard distributed relaxation;
    * identical bucketing to M4, so the two compose on one scan shape).
    * Interior buckets only (edge buckets lack an anchor — compose with
    * m4's first/last for the endpoints).
    *
    * Determinism: the x anchors are BUCKET CENTERS in epoch micros —
    * pure integer-derived constants exactly representable in a double
    * (≪ 2⁵³), so no epoch-scale mean or round is ever computed (a
    * `round(x, 6)` at the 10¹⁵ scale is where engines' rounding
    * implementations diverge — measured); y anchors are round-6
    * decimal means at value scale; the area is ONE written
    * cross-product tree over exact operands (identical IEEE result
    * both engines, no rounding needed); election is max(struct(area,
    * ts, id)) — largest area, latest-point tie-break, one
    * map-side-combined aggregate per bucket. */
  def lttbDownsample(events: DataFrame, key: String = "event_type",
      tsCol: String = "ts", valCol: String = "value",
      idCol: String = "event_id", bucketSeconds: Long = 3600L): DataFrame = {
    import graft.functions.Exact.dec
    val bucketUs = bucketSeconds * 1000000L
    val e = events.filter(col(valCol).isNotNull)
      .select(col(key), col(tsCol).as("ts"), col(valCol).as("v"),
        col(idCol).as("id"),
        expr(s"CAST(floor(unix_timestamp($tsCol) / $bucketSeconds) AS BIGINT)")
          .as("bucket"))
    val means = e.groupBy(col(key), col("bucket"))
      .agg(Exact.round(sum(dec(col("v"))).cast("double") / count(lit(1)), 6)
        .as("my"))
    def centerX(b: Column): Column =
      (b.cast("double") + lit(0.5)) * lit(bucketUs.toDouble)
    val lhs = means.select(col(key), (col("bucket") + 1).as("bucket"),
      col("my").as("yl"))
    val rhs = means.select(col(key), (col("bucket") - 1).as("bucket"),
      col("my").as("yr"))
    e.join(lhs, Seq(key, "bucket"))
      .join(rhs, Seq(key, "bucket"))
      .withColumn("__xl", centerX(col("bucket") - 1))
      .withColumn("__xr", centerX(col("bucket") + 1))
      // 2·area of triangle ((xl,yl), (x,v), (xr,yr)):
      // (xl−xr)(v−yl) − (xl−x)(yr−yl)  [= xl(v−yr)+x(yr−yl)+xr(yl−v)]
      // — the r5 form had the second factor flipped (yl−yr), which is
      // NOT a triangle area (collinear points scored nonzero), caught
      // by the r5 advisor; the gate was circular until r6
      .withColumn("__area", abs(
        (col("__xl") - col("__xr")) *
          (col("v") - col("yl")) -
          (col("__xl") - expr("CAST(unix_micros(ts) AS DOUBLE)")) *
          (col("yr") - col("yl"))))
      .groupBy(col(key), col("bucket"))
      .agg(max(struct(col("__area"), col("ts"), col("id"), col("v")))
        .as("__best"))
      .select(col(key), col("bucket"), col("__best.ts").as("ts"),
        col("__best.v").as("v"), col("__best.id").as("id"),
        col("__best.__area").as("area"))
  }

  /** Seasonal-residual anomaly detection: [[seasonalDecompose]]'s
    * residual judged against its own key's robust median/MAD scale —
    * the anomaly detector a seasonal feed actually needs (a plain
    * threshold on the raw value flags every rush hour; a global MAD
    * ([[Outliers.robustZ]]) flags the whole drifted tail; the residual
    * removes trend AND season first, so what remains IS the anomaly
    * signal).
    *
    * Median/MAD are DISCRETE rank selections over the residuals (rank
    * ⌈n/2⌉ of the sorted values — actual input values, no
    * interpolation), so with residuals already engine-exact (the
    * ts_seasonal gate) every emitted statistic and the flag threshold
    * are deterministic. The windows run over the key's hourly grid
    * (dashboard-sized — the [[seasonalDecompose]] contract), never the
    * raw feed; the one fact-scale pass is the decompose's own grid
    * aggregation.
    */
  def seasonalAnomalies(df: DataFrame, key: String = "event_type",
      tsCol: String = "ts", valCol: String = "value",
      k: Double = 3.0): DataFrame = {
    val dec = seasonalDecompose(df, key, tsCol, valCol)
      .localCheckpoint(false) // consumed by two rank passes + the join
    val wk = Window.partitionBy(key)
    def rankSelect(in: DataFrame, valueCol: Column,
        outName: String): DataFrame = in
      .withColumn("__rn", row_number().over(
        Window.partitionBy(key).orderBy(valueCol, col("h"))))
      .withColumn("__n", count(lit(1)).over(wk))
      .filter(col("__rn") === ceil(col("__n") / lit(2.0)).cast("int"))
      .select(col(key), valueCol.as(outName))
    val med = rankSelect(dec, col("resid"), "med")
    val withMed = dec.join(broadcast(med), key)
      .withColumn("__dev", abs(col("resid") - col("med")))
    val mad = rankSelect(withMed, col("__dev"), "mad")
    withMed.join(broadcast(mad), key)
      .filter(abs(col("resid") - col("med")) > lit(k) * col("mad"))
      .select(col(key), col("h"), col("v"), col("resid"),
        Exact.round(col("med"), 6).as("med"), Exact.round(col("mad"), 6).as("mad"))
  }

  /** Per-key lag-k autocorrelation of the hourly series, k = 1..maxLag —
    * the "does yesterday predict today" diagnostic that decides whether
    * [[seasonalDecompose]]'s period is real and what an anomaly
    * detector's lookback should be.
    *
    * Engine-exact by the [[seasonalDecompose]] recipe: hourly cells are
    * round-6 decimal means off ONE map-side-combined fact pass (the only
    * 100 TB-scale step — everything after runs on the key×hours grid);
    * the key mean is a round-6 decimal; centered products
    * (v_t−m)(v_{t+k}−m) are decimal×decimal (exact, fold-order-free
    * decimal sums), and r_k = num_k/den is one IEEE division. Lag
    * alignment is an equi-join of the grid against itself on
    * (key, hour_index+k) — OBSERVED-grid semantics: a pair exists iff
    * both cells do (holes neither invent zeros nor shift the series;
    * compose with [[gapfillLinear]] first for filled-grid semantics).
    * The denominator is the full-series Σ(v−m)² (the standard ACF
    * estimator — one denominator for all lags, so r_k are comparable).
    */
  def autocorr(df: DataFrame, key: String = "event_type",
      tsCol: String = "ts", valCol: String = "value",
      maxLag: Int = 3): DataFrame = {
    import graft.functions.Exact.dec
    require(maxLag >= 1, "need at least lag 1")
    val grid = df
      .groupBy(col(key), date_trunc("hour", col(tsCol)).as("h"))
      .agg(Exact.round(sum(dec(col(valCol))).cast("double") / count(col(valCol)), 6)
        .as("v"))
      .filter(col("v").isNotNull)
      .withColumn("hi",
        expr("CAST(floor(unix_timestamp(h) / 3600) AS BIGINT)"))
    val stats = grid.groupBy(key)
      .agg(count(lit(1)).cast("long").as("__n"),
        Exact.round(sum(dec(col("v"))).cast("double") / count(lit(1)), 6)
          .as("__m"))
    // pin the centered term to (18,6): a (19,6)×(19,6) product would
    // blow Spark's 38-digit precision cap and silently round, and the
    // two engines round differently — (18,6)×(18,6)=(37,12) stays exact
    // in both (values are round-6 means minus a round-6 mean, far
    // inside 12 integer digits)
    val centered = grid.join(broadcast(stats), Seq(key))
      .withColumn("__c", (dec(col("v")) - dec(col("__m")))
        .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
    val den = centered.groupBy(key)
      .agg(sum(col("__c") * col("__c")).as("__den"))
    val lags = centered.sparkSession.range(1, maxLag + 1)
      .select(col("id").cast("long").as("lag"))
    val pairs = centered.select(col(key), col("hi"), col("__c"))
      .crossJoin(broadcast(lags))
      .withColumn("__hi2", col("hi") + col("lag")).as("a")
      .join(centered.select(col(key), col("hi").as("__hi2"),
        col("__c").as("__c2")).as("b"), Seq(key, "__hi2"))
    // round-6 after the decimal→double cast: the decimal SUMS are exact
    // in both engines, but a raw 12-scale decimal→double conversion is
    // not guaranteed correctly rounded everywhere — round-6 pins the
    // published values (and the acf division runs on the pinned values)
    pairs.groupBy(col(key), col("lag"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        Exact.round(sum(col("__c") * col("__c2")).cast("double"), 6).as("num"))
      .join(broadcast(den), Seq(key))
      .withColumn("den", Exact.round(col("__den").cast("double"), 6))
      .withColumn("acf", col("num") / col("den"))
      .select(col(key), col("lag"), col("n_pairs"), col("num"),
        col("den"), col("acf"))
  }

  /** CUSUM change-point locator: per key, the hour where the running sum
    * of mean-centered hourly values peaks in magnitude — the classic
    * "where did the level shift" statistic (a stable series random-walks
    * near zero; a mean shift sends the cusum on a one-way excursion
    * whose extremum marks the break).
    *
    * Same exactness ladder as [[autocorr]]: round-6 decimal cells and
    * key mean, decimal running sum (fold-order-free — the window is a
    * prefix fold of exact decimals), election by `max(struct)` over
    * (|cusum|, −hour_index) — one map-side-combined aggregate, ties
    * resolved to the EARLIEST hour, never a per-key sort of anything
    * but the dashboard-sized hourly grid.
    */
  def cusumChangepoint(df: DataFrame, key: String = "event_type",
      tsCol: String = "ts", valCol: String = "value"): DataFrame = {
    import graft.functions.Exact.dec
    val grid = df
      .groupBy(col(key), date_trunc("hour", col(tsCol)).as("h"))
      .agg(Exact.round(sum(dec(col(valCol))).cast("double") / count(col(valCol)), 6)
        .as("v"))
      .filter(col("v").isNotNull)
      .withColumn("hi",
        expr("CAST(floor(unix_timestamp(h) / 3600) AS BIGINT)"))
    val stats = grid.groupBy(key)
      .agg(Exact.round(sum(dec(col("v"))).cast("double") / count(lit(1)), 6)
        .as("__m"))
    val w = Window.partitionBy(key).orderBy("hi")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(broadcast(stats), Seq(key))
      .withColumn("__cusum", sum(dec(col("v")) - dec(col("__m"))).over(w))
      .groupBy(key)
      .agg(max(struct(abs(col("__cusum")).as("__a"),
        (-col("hi")).as("__nhi"), col("h").as("__h"),
        col("__cusum").as("__c"))).as("__best"),
        count(lit(1)).cast("long").as("n_cells"))
      .select(col(key), col("__best.__h").as("change_h"),
        col("__best.__c").cast("double").as("cusum"),
        col("__best.__a").cast("double").as("abs_cusum"),
        col("n_cells"))
  }

  /** Cross-series Pearson correlation: every pair of keys' per-day
    * mean series joined on the day grid, r over the matched days — the
    * "which metrics move together" dashboard matrix next to
    * [[autocorrelation]]'s within-series view.
    *
    * Determinism: the five sufficient statistics (Σx, Σy, Σxy, Σx²,
    * Σy²) accumulate in EXACT DECIMAL — grid means are 6-dp-rounded
    * doubles, i.e. exactly representable (18,6) decimals, and their
    * (37,12) products stay under the precision cap, so the sums are
    * fold-order-free. The closing algebra then runs in double with ONE
    * written expression both engines evaluate identically:
    * r = (n·Σxy − Σx·Σy) / √((n·Σx² − Σx²)·(n·Σy² − Σy²)) — IEEE sqrt
    * is CORRECTLY ROUNDED (unlike log/exp), so the whole close is
    * engine-exact. Degenerate (zero-variance) sides publish NULL.
    *
    * Scale: the corpus collapses to the (key × day) grid in one
    * map-side-combined pass; the pair join and the statistics are
    * grid-sized (pairs × days), constant in corpus rows. */
  def crossCorrelation(events: DataFrame, key: String = "event_type",
      tsCol: String = "ts", valCol: String = "value"): DataFrame = {
    import graft.functions.Exact.dec
    val grid = events.filter(col(valCol).isNotNull)
      .groupBy(col(key), to_date(col(tsCol)).as("d"))
      .agg(Exact.round(sum(dec(col(valCol))).cast("double") / count(col(valCol)), 6)
        .as("m"))
    val a = grid.select(col(key).as("type_a"), col("d"), col("m").as("x"))
    val b = grid.select(col(key).as("type_b"), col("d"), col("m").as("y"))
    val stats = a.join(b, Seq("d")).filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n_days"),
        sum(dec(col("x"))).cast("double").as("sx"),
        sum(dec(col("y"))).cast("double").as("sy"),
        sum(dec(col("x")) * dec(col("y"))).cast("double").as("sxy"),
        sum(dec(col("x")) * dec(col("x"))).cast("double").as("sxx"),
        sum(dec(col("y")) * dec(col("y"))).cast("double").as("syy"))
    val n = col("n_days").cast("double")
    val v1 = n * col("sxx") - col("sx") * col("sx")
    val v2 = n * col("syy") - col("sy") * col("sy")
    stats
      .withColumn("r", when(v1 > 0 && v2 > 0,
        Exact.round((n * col("sxy") - col("sx") * col("sy")) / sqrt(v1 * v2), 6)))
      .select(col("type_a"), col("type_b"), col("n_days"), col("r"))
  }

  /** Theil–Sen robust trend per key: the median of all pairwise slopes
    * of the per-day mean series, plus the matching median-residual
    * intercept — the rank-based trend line that one wild day cannot
    * bend (breakdown point 29%, vs OLS's 0%).
    *
    * Determinism/scale contract, same split as the rest of the family:
    * the corpus collapses to the (key × day) grid in ONE
    * map-side-combined decimal-exact mean (the only pass that sees raw
    * rows — at 100 TB this is the job); the O(days²) pair join, both
    * medians, and the residual pass are grid-sized (30 days = 435
    * pairs — constant in corpus rows). Medians are LOWER medians
    * picked by rank with total-order tie-breaks ((slope, d1, d2) /
    * (residual, day)) — a selected input value, never an interpolated
    * average — and every float op is one sub/mult/div of
    * cross-engine-identical doubles, so the whole line is
    * oracle-exact. */
  def theilSen(events: DataFrame, key: String = "event_type",
      tsCol: String = "ts", valCol: String = "value"): DataFrame = {
    import graft.functions.Exact.dec
    val grid = events.filter(col(valCol).isNotNull)
      .groupBy(col(key), to_date(col(tsCol)).as("d"))
      .agg(Exact.round(sum(dec(col(valCol))).cast("double") / count(col(valCol)), 6)
        .as("m"))
      .withColumn("di", datediff(col("d"), lit("1970-01-01")).cast("long"))
    val a = grid.select(col(key), col("di").as("d1"), col("m").as("m1"))
    val b = grid.select(col(key).as("__k2"), col("di").as("d2"), col("m").as("m2"))
    val pairs = a.join(b, col(key) === col("__k2") && col("d1") < col("d2"))
      .select(col(key), col("d1"), col("d2"),
        ((col("m2") - col("m1")) / (col("d2") - col("d1")).cast("double"))
          .as("slope"))
    val wSlope = Window.partitionBy(col(key))
      .orderBy(col("slope"), col("d1"), col("d2"))
    val wKey = Window.partitionBy(col(key))
    val medSlope = pairs
      .withColumn("rn", row_number().over(wSlope))
      .withColumn("n", count(lit(1)).over(wKey))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col(key), col("slope"), col("n").as("n_pairs"))
    val wRes = Window.partitionBy(col(key)).orderBy(col("res"), col("di"))
    grid.join(medSlope, key)
      .withColumn("res", col("m") - col("slope") * col("di"))
      .withColumn("rn", row_number().over(wRes))
      .withColumn("nd", count(lit(1)).over(wKey))
      .filter(col("rn") === expr("(nd + 1) div 2"))
      .select(col(key), col("nd").as("n_days"), col("n_pairs"),
        Exact.round(col("slope"), 6).as("slope"),
        Exact.round(col("res"), 6).as("intercept"))
  }
}
