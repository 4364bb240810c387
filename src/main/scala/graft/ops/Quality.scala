package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Exact

/** Declarative data-quality audits — the reference's per-payload
  * pydantic validation (`etl/models.py`) re-expressed as set-at-a-time
  * constraint checks a lake can afford to run on every refresh.
  *
  * Three constraint families, each with the cheapest plan that proves
  * it:
  *  - ROW constraints (null/domain/range): ONE pass, every check a
  *    conditional sum in the same map-side-combined aggregate — adding
  *    a check adds a column, never a scan;
  *  - UNIQUENESS (the silver-table key invariant the upsert lane
  *    enforces): `n_rows − n_distinct(keys)`, one aggregate;
  *  - REFERENTIAL integrity: orphan count via a left-anti join on the
  *    key — at lake scale the parent key set is a broadcast or a
  *    bloom-pruned join ([[BloomJoin]]), never a full shuffle of the
  *    child payload.
  *
  * All verdicts are integer counts — engine-exact, so the whole audit
  * is oracle-gateable.
  */
object Quality {

  /** A named row-level constraint: a row VIOLATES it when
    * `violatedWhen` evaluates to true (null counts as not violated —
    * express null-sensitivity explicitly, e.g.
    * `!coalesce(c.isin(...), lit(false))`). */
  case class Check(name: String, violatedWhen: Column)

  /** One-pass row audit: (constraint, violations, n_rows) per check.
    * Every check folds in the same aggregate — one scan total. */
  def rowAudit(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty)
    val head +: tail = checks.map(c =>
      sum(when(c.violatedWhen, 1L).otherwise(0L)).as(c.name)): @unchecked
    val agg = df.agg(head, tail :+ count(lit(1)).as("__n"): _*)
    agg.select(explode(array(checks.map(c =>
        struct(lit(c.name).as("constraint"),
          coalesce(col(c.name), lit(0L)).as("violations"),
          col("__n").as("n_rows"))): _*)).as("r"))
      .select(col("r.constraint"), col("r.violations"), col("r.n_rows"))
  }

  /** [[rowAudit]] per group: (groupCols…, constraint, violations,
    * n_rows) — still one scan, one map-side-combined aggregate (the
    * batch-labelled form the streaming audit's backfill folds into
    * cumulative prefix states). */
  def rowAuditBy(df: DataFrame, checks: Seq[Check],
      groupCols: Seq[String]): DataFrame = {
    require(checks.nonEmpty && groupCols.nonEmpty)
    val head +: tail = checks.map(c =>
      sum(when(c.violatedWhen, 1L).otherwise(0L)).as(c.name)): @unchecked
    val agg = df.groupBy(groupCols.map(col): _*)
      .agg(head, tail :+ count(lit(1)).as("__n"): _*)
    agg.select(groupCols.map(col) :+ explode(array(checks.map(c =>
        struct(lit(c.name).as("constraint"),
          coalesce(col(c.name), lit(0L)).as("violations"),
          col("__n").as("n_rows"))): _*)).as("r"): _*)
      .select(groupCols.map(col) :+ col("r.constraint") :+
        col("r.violations") :+ col("r.n_rows"): _*)
  }

  /** Key-uniqueness audit: violations = n_rows − n_distinct(keys)
    * (0 iff `keys` is a proper key). */
  def uniqueAudit(df: DataFrame, keys: Seq[String], name: String): DataFrame =
    df.agg(count(lit(1)).as("__n"),
        countDistinct(keys.head, keys.tail: _*).as("__d"))
      .select(lit(name).as("constraint"),
        (col("__n") - col("__d")).as("violations"), col("__n").as("n_rows"))

  /** Referential-integrity audit: child rows whose key has no parent
    * (NULL child keys match nothing, so they count as orphans —
    * pair with a not-null row check to tell the cases apart). */
  def fkAudit(child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String, name: String): DataFrame =
    // ONE lazy plan (like the other audits — no eager jobs at
    // construction, and both counts read the same snapshot): left join
    // against the distinct parent key set, orphan = unmatched row.
    // NULL child keys match nothing under equi-join semantics, so they
    // count as orphans exactly as the left-anti formulation did.
    child.select(col(childKey))
      .join(parent.select(col(parentKey).as(childKey)).distinct()
        .withColumn("__p", lit(1)), Seq(childKey), "left")
      .agg(sum(when(col("__p").isNull, 1L).otherwise(0L)).as("__v"),
        count(lit(1)).as("__n"))
      .select(lit(name).as("constraint"),
        coalesce(col("__v"), lit(0L)).as("violations"),
        col("__n").as("n_rows"))

  /** k-anonymity audit over a quasi-identifier tuple: the groups with
    * fewer than `k` members — each is a re-identification risk (its
    * members are distinguishable by the quasi-identifiers alone).
    * Output is (quasi cols..., cnt), group-sized. */
  def kAnonymity(df: DataFrame, quasiCols: Seq[Column], k: Int): DataFrame = {
    require(k >= 2)
    df.groupBy(quasiCols: _*)
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") < k)
  }

  /** Join-key skew report: the log₂ histogram of per-key row counts
    * (bucket = ⌊log₂ cnt⌋), with key count, row mass and the hottest
    * key's size per bucket — the one-pass diagnostic that says whether
    * a key needs the salted-join/AQE-skew path BEFORE the join runs.
    * Two map-side-combined aggregates; output is ≤ 64 rows. */
  def keySkewHistogram(df: DataFrame, keyCol: String): DataFrame =
    df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
      .groupBy((length(bin(col("cnt"))) - 1).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"),
        max(col("cnt")).as("max_cnt"))

  /** Distribution-drift audit between the feed's earlier and later
    * half (reference vs current window, split at the observed time
    * midpoint): per key, total-variation distance `½·Σ|p−q|` and the
    * chi-square statistic `Σ(p−q)²/q` (q>0 buckets) over fixed
    * `bucketWidth` value buckets.
    *
    * Both metrics are RATIONAL in the bucket counts — no `ln` (PSI's
    * log terms are not correctly-rounded IEEE ops, so engines can
    * disagree in the last ulp; TVD/chi-square carry the same drift
    * signal with only +, −, ×, ÷). Cross-bucket folds run in exact
    * decimal over round-6 per-bucket terms; doubles appear only in the
    * per-bucket divisions — the engine's standing determinism recipe.
    *
    * Scale shape: ONE map-side-combined pass over the fact produces
    * the (key × bucket) count grid (the only event-scale work — the
    * midpoint rides a 1-row broadcast); totals, proportions and both
    * statistics run over the grid, which is bounded by key-count ×
    * value-range/width, independent of row count. */
  def distributionDrift(df: DataFrame, key: String = "event_type",
      tsCol: String = "ts", valCol: String = "value",
      bucketWidth: Double = 20.0): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val sec = unix_timestamp(col(tsCol))
    val mid = df.agg(
      floor((min(sec) + max(sec)) / lit(2.0)).cast("long").as("mid"))
    val grid = df.filter(col(valCol).isNotNull)
      .crossJoin(broadcast(mid))
      .select(col(key),
        floor(col(valCol) / lit(bucketWidth)).cast("long").as("bucket"),
        when(sec <= col("mid"), 1L).otherwise(0L).as("is_ref"))
      .groupBy(col(key), col("bucket"))
      .agg(sum(col("is_ref")).as("n_ref"),
        sum(lit(1L) - col("is_ref")).as("n_cur"))
    val totals = grid.groupBy(col(key))
      .agg(sum(col("n_ref")).as("t_ref"), sum(col("n_cur")).as("t_cur"))
    val terms = grid.join(broadcast(totals), key)
      .withColumn("p", col("n_ref") / col("t_ref"))
      .withColumn("q", col("n_cur") / col("t_cur"))
      .withColumn("tvd_t",
        Exact.round(abs(col("p") - col("q")), 6).cast(DecimalType(18, 6)))
      .withColumn("chi_t",
        Exact.round(when(col("q") > 0,
            (col("p") - col("q")) * (col("p") - col("q")) / col("q"))
          .otherwise(lit(0.0)), 6).cast(DecimalType(18, 6)))
    terms.groupBy(col(key))
      .agg(max(col("t_ref")).as("n_ref"), max(col("t_cur")).as("n_cur"),
        count(lit(1)).as("n_buckets"),
        Exact.round(sum(col("tvd_t")).cast("double") * 0.5, 6).as("tvd"),
        Exact.round(sum(col("chi_t")).cast("double"), 6).as("chisq"))
  }
}
