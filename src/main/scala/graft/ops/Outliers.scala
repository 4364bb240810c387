package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Exact

/** Robust per-group outlier detection: median / MAD (median absolute
  * deviation) z-score — the data-quality gate a meteo feed needs for
  * spike detection (a stuck sensor shifts the mean and stddev; it
  * doesn't shift the median).
  *
  * Exact discrete medians via rank arithmetic (percentile_disc
  * semantics, deterministic tie-break on the id column) so the result
  * is engine-reproducible where interpolating quantile built-ins are
  * not.
  *
  * Scale shape: both medians come from RANK-SELECTION
  * ([[Quantiles.groupDiscQuantile]] — histogram locate + bucket probe),
  * so the fact is never sorted and parallelism never collapses to the
  * group count (a `Window.partitionBy(key)` with a handful of keys
  * sorts a 100 TB feed in a handful of tasks); the median/MAD tables
  * are group-cardinality-sized and broadcast back onto the rows. For
  * cardinalities where even exact selection is too hot, the sketch
  * path ([[Sketches]]) replaces the rank step; this operator is the
  * exact, oracle-gated form.
  */
object Outliers {

  // percentile_disc over NON-NULL values (rank ceil(n/2), id tie-break)
  // — groupDiscQuantile filters nulls and matches the rank arithmetic
  // of the oracle formulation exactly
  private def discMedian(df: DataFrame, key: String, v: String, id: String,
      as: String): DataFrame =
    Quantiles.groupDiscQuantile(df, key, v, Seq(id), 0.5, as)

  /** Rows whose |value − median| exceeds `k` × MAD, with the per-group
    * robust statistics attached. */
  def robustZ(df: DataFrame, key: String, valCol: String, idCol: String,
      k: Double): DataFrame = {
    // lazily checkpoint the GROUP-SIZED statistic tables: `d` below is
    // consumed by three subtrees (mad's histogram, mad's probe, the
    // final filter), and each would otherwise re-derive the median —
    // itself two fact passes — multiplying the fact scans (the r5
    // q34 bench regression: the lazy locate rewrite removed the r4
    // driver-side collect that had been accidentally deduplicating
    // this). Only the tiny frames materialize; the fact stays lazy.
    val med = discMedian(df, key, valCol, idCol, "med")
      .localCheckpoint(false)
    val d = df.join(broadcast(med), key)
      .withColumn("dev", abs(col(valCol) - col("med")))
    val mad = discMedian(d, key, "dev", idCol, "mad")
      .localCheckpoint(false)
    d.join(broadcast(mad), key)
      .filter(col("dev") > lit(k) * col("mad"))
      .select(col(idCol), col(key), col(valCol),
        Exact.round(col("med"), 6).as("med"), Exact.round(col("mad"), 6).as("mad"),
        Exact.round(col("dev"), 6).as("dev"))
  }

  // discrete median of a window-frame array: rank ceil(m/2) of the
  // sorted values — no interpolation, so the result is an input value
  // and bit-identical across engines
  private def frameMedian(fr: Column): Column =
    element_at(array_sort(fr),
      ceil(size(fr) / lit(2.0)).cast("int"))

  /** Hampel filter: ROLLING robust spike detection — each point judged
    * against the median/MAD of its own ±`half`-row neighborhood (per
    * key, (ts, id) order), vs [[robustZ]]'s one global statistic per
    * group. Catches spikes in a drifting series where the global median
    * flags the whole drifted tail instead.
    *
    * Frame medians are DISCRETE (rank ceil(m/2) of the sorted frame) so
    * every emitted statistic is an actual input value — no interpolation
    * averages, nothing fold-order-dependent; the only float ops are
    * per-element |x − med| (IEEE-exact, same both engines).
    *
    * This is the plain declarative form: ONE window pass, everything
    * else per-row array math inside codegen. Its `Window.partitionBy
    * (key)` collapses parallelism to the key count — fine when keys are
    * plentiful; for the handful-of-keys × 100 TB regime use
    * [[hampelPartitioned]], which runs the identical frame logic
    * bucket-parallel (spec-proven equal). */
  def hampel(df: DataFrame, key: String = "event_type",
      tsCol: String = "ts", valCol: String = "value",
      idCol: String = "event_id", k: Double = 3.0, half: Int = 3): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col(tsCol), col(idCol))
      .rowsBetween(-half, half)
    val withStats = df.filter(col(valCol).isNotNull)
      .withColumn("__fr", collect_list(col(valCol)).over(w))
      .withColumn("med", frameMedian(col("__fr")))
      .withColumn("mad",
        frameMedian(transform(col("__fr"), x => abs(x - col("med")))))
    withStats
      .filter(abs(col(valCol) - col("med")) > lit(k) * col("mad"))
      .select(col(idCol), col(key), col(valCol),
        Exact.round(col("med"), 6).as("med"), Exact.round(col("mad"), 6).as("mad"))
  }

  /** Bucket-parallel Hampel: the 100 TB form of [[hampel]]. Rows hash
    * to (key, time-bucket) lanes; each bucket borrows exactly the
    * `half` edge rows of its neighbor buckets (rank-trimmed from the
    * bucket's own edges — buckets are time-contiguous, so those ARE the
    * adjacent rows in the global (ts, id) order), runs the identical
    * ±`half` frame logic inside the lane, and emits only the rows it
    * owns. Parallelism is the bucket count, not the key count; the
    * borrowed-row replication is 2·half rows per bucket, independent of
    * bucket size. Equality with [[hampel]] is spec-proven
    * (OutliersSpec): interior rows see the same frame by construction,
    * edge rows see it because the borrowed neighbors are exact.
    *
    * Density contract: every bucket in a key's active range must hold
    * ≥ `half` rows (otherwise an edge frame's true neighbor lives two
    * buckets away and is not borrowed). Pick `bucketSeconds` from the
    * feed's known minimum rate — a per-bucket count audit (one
    * aggregation, [[Quality]]-style) verifies the contract before the
    * run; the spec covers both a contract-satisfying feed (equality)
    * and a sparse violation (documented divergence). */
  def hampelPartitioned(df: DataFrame, bucketSeconds: Long = 3600L,
      key: String = "event_type", tsCol: String = "ts",
      valCol: String = "value", idCol: String = "event_id",
      k: Double = 3.0, half: Int = 3): DataFrame = {
    val bkt = (unix_timestamp(col(tsCol)) / bucketSeconds).cast("long")
    val rows = df.filter(col(valCol).isNotNull).withColumn("__b", bkt)
    val inB = Window.partitionBy(col(key), col("__b"))
      .orderBy(col(tsCol), col(idCol))
    val inBDesc = Window.partitionBy(col(key), col("__b"))
      .orderBy(col(tsCol).desc, col(idCol).desc)
    val ranked = rows
      .withColumn("__ra", row_number().over(inB))
      .withColumn("__rd", row_number().over(inBDesc))
    // each bucket's first/last `half` rows also serve the neighbor lane;
    // own rows are the only ones emitted
    val own = ranked.withColumn("__lane", col("__b")).withColumn("__own", lit(true))
    val toPrev = ranked.filter(col("__ra") <= half)
      .withColumn("__lane", col("__b") - 1).withColumn("__own", lit(false))
    val toNext = ranked.filter(col("__rd") <= half)
      .withColumn("__lane", col("__b") + 1).withColumn("__own", lit(false))
    val lanes = own.unionByName(toPrev).unionByName(toNext)
    val w = Window.partitionBy(col(key), col("__lane"))
      .orderBy(col(tsCol), col(idCol)).rowsBetween(-half, half)
    val withStats = lanes
      .withColumn("__fr", collect_list(col(valCol)).over(w))
      .withColumn("med", frameMedian(col("__fr")))
      .withColumn("mad",
        frameMedian(transform(col("__fr"), x => abs(x - col("med")))))
    withStats.filter(col("__own"))
      .filter(abs(col(valCol) - col("med")) > lit(k) * col("mad"))
      .select(col(idCol), col(key), col(valCol),
        Exact.round(col("med"), 6).as("med"), Exact.round(col("mad"), 6).as("mad"))
  }

  /** Rank-lane Hampel — EXACT at any density, no contract: rows get a
    * DENSE global rank over (key, ts, id) via the range-parallel
    * two-phase rank ([[Ranking.globalRank]] — never a single-task
    * sort), lanes are fixed `laneSize`-row rank blocks, and borrowing
    * is RANK ARITHMETIC: a row in the first `half` positions of its
    * lane also serves lane−1, one in the last `half` serves lane+1.
    * Dense ranks cannot have gaps, so a frame's ±`half` neighbors are
    * provably inside the own-or-adjacent lane whenever
    * `laneSize > 2·half` (required) — the thin/empty-bucket failure
    * mode of [[hampelPartitioned]] cannot exist. Key boundaries need no
    * care: ranks are global across keys, a lane may straddle keys, and
    * the frame window partitions on (key, lane) so borrowed
    * foreign-key rows are inert. Emission is own-rows-only;
    * replication ≤ 2·half rows per lane. Spec-proven bit-identical to
    * [[hampel]] on real sparse data at several lane sizes. */
  def hampelRangeParallel(df: DataFrame, key: String = "event_type",
      tsCol: String = "ts", valCol: String = "value",
      idCol: String = "event_id", k: Double = 3.0, half: Int = 3,
      laneSize: Int = 1 << 16, numRanges: Int = 0): DataFrame = {
    require(laneSize > 2 * half,
      s"laneSize $laneSize must exceed 2*half = ${2 * half}")
    val rows = df.filter(col(valCol).isNotNull)
      .select(col(key), col(tsCol), col(idCol), col(valCol))
    // ONE pass over the ranked table: each row emits its 1–3 lane
    // memberships as an exploded struct array instead of three
    // filtered branches unioned (the r5 shape, which made the rank a
    // 3-consumer relation and forced a lazy checkpoint to avoid
    // re-running it — one consumer needs neither the checkpoint nor
    // the union's extra scans). A phantom lane past the last row only
    // ever holds borrowed rows — it emits nothing (own=false), so no
    // upper-bound check is needed.
    val ranked = Ranking.globalRank(rows,
      Seq(col(key), col(tsCol), col(idCol)), "__gr", numRanges)
    val pos = col("__gr") - 1 // 0-based dense position
    val l0 = expr(s"CAST((__gr - 1) div $laneSize AS BIGINT)")
    val membership = array(
      struct(l0.as("lane"), lit(true).as("own")),
      when(pos % laneSize < half && l0 > 0,
        struct((l0 - 1).as("lane"), lit(false).as("own"))),
      when(pos % laneSize >= laneSize - half,
        struct((l0 + 1).as("lane"), lit(false).as("own"))))
    val union = ranked
      .select(col(key), col(tsCol), col(idCol), col(valCol),
        explode(membership).as("__m"))
      .filter(col("__m").isNotNull)
      .select(col(key), col(tsCol), col(idCol), col(valCol),
        col("__m.lane").as("__lane"), col("__m.own").as("__own"))
    val w = Window.partitionBy(col(key), col("__lane"))
      .orderBy(col(tsCol), col(idCol)).rowsBetween(-half, half)
    val withStats = union
      .withColumn("__fr", collect_list(col(valCol)).over(w))
      .withColumn("med", frameMedian(col("__fr")))
      .withColumn("mad",
        frameMedian(transform(col("__fr"), x => abs(x - col("med")))))
    withStats.filter(col("__own"))
      .filter(abs(col(valCol) - col("med")) > lit(k) * col("mad"))
      .select(col(idCol), col(key), col(valCol),
        Exact.round(col("med"), 6).as("med"), Exact.round(col("mad"), 6).as("mad"))
  }
}
