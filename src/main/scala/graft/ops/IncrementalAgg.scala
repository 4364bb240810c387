package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Exact

/** Incrementally-maintained rollups: per-key aggregate STATE that merges
  * batch-by-batch without touching history.
  *
  * A 100 TB silver table can't re-aggregate from scratch every time a
  * day of observations lands. Every statistic the dashboards need
  * (count/sum/mean/min/max/stddev) decomposes into a fixed-width
  * mergeable state — (n, Σx, Σx², min, max) — where
  * merge = elementwise (+,+,+,min,max). Sums are decimal, so the merge
  * is associative and EXACT: fold the batches in any order, any
  * grouping, and the state is bit-identical to a one-shot aggregate
  * over the union (the spec and the oracle gate both assert this).
  *
  * Scale shape: each batch shuffles only itself (map-side partial
  * aggregation → one exchange on the key); merging states shuffles
  * only key-cardinality rows. The same state algebra serves streaming
  * (foreachBatch merge into the state table) and backfill (tree-merge
  * per-partition states).
  */
object IncrementalAgg {
  import graft.functions.Exact.dec

  /** Collapse rows to one mergeable state row per key. */
  def state(df: DataFrame, keys: Seq[String], valCol: String): DataFrame =
    df.groupBy(keys.map(col): _*).agg(
      count(col(valCol)).as("s_n"),
      sum(dec(col(valCol))).as("s_sum"),
      sum(dec(col(valCol)) * dec(col(valCol))).as("s_sumsq"),
      min(col(valCol)).as("s_min"),
      max(col(valCol)).as("s_max"))

  /** Merge any number of state tables (same key columns). */
  def merge(states: Seq[DataFrame], keys: Seq[String]): DataFrame =
    states.reduce(_ unionByName _).groupBy(keys.map(col): _*).agg(
      sum(col("s_n")).as("s_n"),
      sum(col("s_sum")).as("s_sum"),
      sum(col("s_sumsq")).as("s_sumsq"),
      min(col("s_min")).as("s_min"),
      max(col("s_max")).as("s_max"))

  /** Surface the state as the dashboard statistics. */
  def finalize(state: DataFrame, keys: Seq[String]): DataFrame =
    state.select(
      keys.map(col) ++ Seq(
        col("s_n").cast("long").as("n"),
        Exact.round(col("s_sum").cast("double"), 6).as("total"),
        Exact.round(col("s_sum").cast("double") / col("s_n"), 6).as("mean"),
        col("s_min").as("vmin"),
        col("s_max").as("vmax"),
        // population variance from the moment sums, exact until the edge
        Exact.round((col("s_sumsq").cast("double") -
          col("s_sum").cast("double") * col("s_sum").cast("double") /
            col("s_n")) / col("s_n"), 6).as("var_pop")): _*)
}
