package graft.meteo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Exact
import graft.functions.Exact._

/** The analytics surface of the reference's Streamlit dashboard
  * (dashboard/queries.py, dashboard/streamlit_app.py), as reusable
  * DataFrame operators over an observations table.
  */
object Dashboard {

  /** `COUNT(DISTINCT (longitude, latitude))` — dashboard/queries.py:1. */
  def countLocations(obs: DataFrame): Long =
    obs.select(countDistinct(col("longitude"), col("latitude"))).head().getLong(0)

  /** Most recent rows feed — streamlit_app.py:21 (ORDER BY timestamp). */
  def recent(obs: DataFrame, limit: Int = 5000): DataFrame =
    obs.orderBy(col("timestamp")).limit(limit)

  /** pandas `.describe()` for a set of metric columns, computed
    * distributed and exactly: count/mean/std/min/max per metric, one row
    * per metric. Decimal sums make mean/std independent of partition
    * order (see graft.functions.Exact).
    *
    * Single-pass: the metrics are melted to (metric, value) rows with
    * one `explode` and aggregated in one shuffle — a per-metric
    * aggregate-and-union would scan the table once per metric, which at
    * lake scale turns a dashboard tile into k full-table reads. */
  def describe(df: DataFrame, metrics: Seq[String]): DataFrame = {
    // ONE pass, 5 aggregates per metric, no explode: melting first
    // multiplies the fact |metrics|-fold before the partial aggregation
    // sees it; aggregating columns side by side reads each value once
    // and melts only the single result row. count(v)/sum/min/max all
    // skip NULLs, matching the per-metric NOT NULL filter of the melted
    // form (an all-NULL metric now yields an n=0 row like the SQL
    // formulation, instead of vanishing).
    val aggs = metrics.flatMap { m =>
      val v = col(m).cast("double")
      Seq(count(v).as(s"n_$m"),
        sum(dec(v)).cast("double").as(s"s_$m"),
        sum(dec(v) * dec(v)).cast("double").as(s"ss_$m"),
        min(v).as(s"min_$m"), max(v).as(s"max_$m"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(metrics.map(m => struct(
        lit(m).as("metric"), col(s"n_$m").as("n"),
        col(s"s_$m").as("_s"), col(s"ss_$m").as("_ss"),
        col(s"min_$m").as("min_v"), col(s"max_$m").as("max_v"))): _*))
        .as("r"))
      .select(
        col("r.metric").as("metric"), col("r.n").as("n"),
        Exact.round(col("r._s") / col("r.n"), 6).as("mean"),
        Exact.round(sqrt((col("r._ss") - col("r._s") * col("r._s") / col("r.n")) /
          (col("r.n") - 1)), 6).as("std"),
        col("r.min_v").as("min_v"), col("r.max_v").as("max_v"))
      .orderBy("metric")
  }
}
