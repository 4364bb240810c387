package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.Exact

/** Model-evaluation aggregates for training pipelines: once the engine
  * produces splits, folds, and curated corpora, the next thing a data
  * team computes on 100 TB of scored rows is "how good is the model" —
  * ROC AUC and calibration, both of which are JUST aggregation shapes
  * (no ML library involved) and both of which are routinely computed
  * wrong at scale (collect-the-scores-and-sklearn does not survive a
  * billion rows).
  *
  * Everything here is engine-exact: counts and rank sums are integers,
  * money/score sums are decimal, and the only floating-point operations
  * are single IEEE divisions on already-exact operands — so the same
  * number falls out of any engine that implements IEEE 754 division,
  * which is what makes the operators oracle-gateable.
  */
object Eval {

  /** Tie-aware ROC AUC via the Mann-Whitney U statistic, computed from
    * per-distinct-score counts — never a per-row rank, never a collect.
    *
    * AUC = P(score_pos > score_neg) + ½·P(score_pos = score_neg). With
    * nPos(s)/nNeg(s) the label counts at each DISTINCT score s and
    * cumNegBelow(s) the negatives at strictly smaller scores:
    *
    *   2·U = Σ_s nPos(s) · (2·cumNegBelow(s) + nNeg(s))
    *
    * — an INTEGER (hence exact, fold-order-free); AUC = 2U / (2·P·N) is
    * one IEEE division at the end.
    *
    * Scale shape: one map-side-combined groupBy(score) collapses the
    * fact table to its distinct scores; the running negative count over
    * distinct scores goes through [[Ranking.globalRankCumsum]]'s
    * range-parallel two-phase prefix sum (distinct scores can be
    * billions — a bare `Window.orderBy(score)` would collapse to one
    * task); the final Σ is a scalar aggregate. Nothing is ever sorted
    * in one place and nothing touches the driver but the 1-row result.
    *
    * Returns one row: `n_pos`, `n_neg`, `u2` (= 2·U, exact), `auc`.
    */
  def aucRankSum(df: DataFrame, scoreCol: Column, labelCol: Column): DataFrame = {
    // lazily checkpoint the per-distinct-score counts: the two-phase
    // rank evaluates its input three times (window, offsets, boundary
    // sample), and each evaluation would otherwise re-aggregate the
    // FACT table. The checkpointed table is distinct-scores-sized —
    // the same magnitude the rank shuffles anyway — so materializing
    // once is the scale-correct trade at any size; blocks are
    // context-cleaned when the frame is unreachable.
    // NULL semantics pinned (r5 advisor): a NULL label counts as
    // negative (the oracle's CASE ... ELSE 0), a NULL score has no
    // rank position and is dropped — silently contributing to neither
    // class was a latent engine-vs-oracle divergence on generic
    // (non-TPC-H) inputs
    val byScore = df
      .select(scoreCol.as("__s"),
        coalesce(labelCol.cast("int"), lit(0)).as("__y"))
      .filter(col("__s").isNotNull)
      .groupBy("__s")
      .agg(sum(col("__y")).cast("long").as("__pos"),
        sum(lit(1L) - col("__y")).cast("long").as("__neg"))
      .localCheckpoint(false)
    val cum = Ranking.globalRankCumsum(byScore, Seq(col("__s")),
      col("__neg"), "__rk", "__cumneg")
    cum
      .withColumn("__negbelow", col("__cumneg") - col("__neg"))
      .agg(sum(col("__pos")).cast("long").as("n_pos"),
        sum(col("__neg")).cast("long").as("n_neg"),
        sum(col("__pos") * (lit(2L) * col("__negbelow") + col("__neg")))
          .cast("long").as("u2"))
      .withColumn("auc",
        // single-class inputs have no rankable pairs: NULL, not a
        // DIVIDE_BY_ZERO crash (ANSI mode) — the degenerate feed a
        // misconfigured label column produces must not kill the job
        when(col("n_pos") > 0 && col("n_neg") > 0,
          col("u2").cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg"))))
  }

  /** Per-GROUP tie-aware AUC — the sliced-evaluation form (model audit
    * by segment, fairness review by cohort, per-source quality of a
    * curation classifier): [[aucRankSum]]'s exact rank-sum computed
    * independently inside every group, one row per group.
    *
    * Same NULL pins as the global form (NULL label → negative, NULL
    * score dropped). Scale shape: the fact collapses to per-(group,
    * distinct score) counts in ONE map-side-combined pass; the
    * cumulative-negative prefix runs in a window PARTITIONED BY GROUP
    * over those counts — groups parallelize, and a group's window
    * sees its own distinct scores only. That is the right lane when
    * slices are many and individually bounded (segments, sources,
    * cohorts); for ONE giant slice use the global form, whose
    * range-parallel rank never funnels a slice through one task. */
  def groupedAucRankSum(df: DataFrame, groupCol: Column,
      scoreCol: Column, labelCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byScore = df
      .select(groupCol.as("grp"), scoreCol.as("__s"),
        coalesce(labelCol.cast("int"), lit(0)).as("__y"))
      .filter(col("__s").isNotNull)
      .groupBy("grp", "__s")
      .agg(sum(col("__y")).cast("long").as("__pos"),
        sum(lit(1L) - col("__y")).cast("long").as("__neg"))
    val w = Window.partitionBy(col("grp")).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byScore
      .withColumn("__negbelow", sum(col("__neg")).over(w) - col("__neg"))
      .groupBy("grp")
      .agg(sum(col("__pos")).cast("long").as("n_pos"),
        sum(col("__neg")).cast("long").as("n_neg"),
        sum(col("__pos") * (lit(2L) * col("__negbelow") + col("__neg")))
          .cast("long").as("u2"))
      .withColumn("auc",
        when(col("n_pos") > 0 && col("n_neg") > 0,
          col("u2").cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg"))))
  }

  /** Calibration table: rows bucketed into `buckets` equal-count bins by
    * ascending score (pure integer rank math — `(rank−1)·b div n + 1`,
    * the [[Behavior.rfmSegments]] quartile recipe, so bin edges never
    * flip on float rounding), then per bin: row count, positives, exact
    * decimal score sum, and the two IEEE ratios a calibration plot needs
    * (mean predicted score vs observed positive rate).
    *
    * The rank is [[Ranking.globalRank]]'s range-parallel two-phase form
    * over (score, tie-break id) — a total order, so the binning is
    * deterministic under ties and never a single-task sort.
    */
  def calibrationBins(df: DataFrame, scoreCol: Column, labelCol: Column,
      tieBreak: Column, buckets: Int = 10): DataFrame = {
    require(buckets > 1, "need at least 2 buckets")
    // same NULL contract as [[aucRankSum]]: NULL label = negative,
    // NULL score rows dropped (no rank position)
    val base = df.select(scoreCol.as("__s"),
        coalesce(labelCol.cast("long"), lit(0L)).as("__y"),
        tieBreak.as("__tb"))
      .filter(col("__s").isNotNull)
    val n = base.agg(count(lit(1)).as("__n"))
    Ranking.globalRank(base, Seq(col("__s"), col("__tb")), "__rk")
      .crossJoin(broadcast(n))
      .withColumn("bin",
        expr(s"(__rk - 1) * $buckets div __n + 1").cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("__y")).cast("long").as("n_pos"),
        sum(col("__s").cast(DecimalType(28, 6)))
          .cast(DecimalType(28, 6)).as("score_sum"))
      // score_sum is SUMMED in exact decimal but emitted as
      // ROUND(CAST(x AS DOUBLE), 6) — SURVEY §5's cast-at-the-edge rule
      // for high-scale decimal sums: a raw DECIMAL output column rides
      // engine-specific decimal handling through the gate, and an
      // unrounded cast of a scale-6 sum can drift a ulp between
      // engines (the ts_autocorr lesson). mean_score rounds to 6 dp
      // AFTER its decimal→double cast for the same reason.
      .withColumn("mean_score", Exact.round(
        col("score_sum").cast("double") / col("n").cast("double"), 6))
      .withColumn("score_sum", Exact.round(col("score_sum").cast("double"), 6))
      .withColumn("pos_rate",
        col("n_pos").cast("double") / col("n").cast("double"))
      .orderBy("bin")
  }

  /** Average precision (the area under the precision-recall curve in
    * its rank-sum form) — the PR-side twin of [[aucRankSum]], which is
    * the ROC side: AP = (1/n₊) Σ_{k: yₖ=1} TP(k)/k over the ranking by
    * (score DESC, tiebreak). Imbalanced corpora (near-dup flags, PII
    * hits, quality failures — every label this engine produces is rare)
    * make ROC AUC look optimistic; AP is the number a curation team
    * actually tracks.
    *
    * Exactness: the ranking is the deterministic range-parallel
    * two-phase rank (never a partitionless window); TP(k) rides the
    * same pass as the rank's cumulative sum; each TP(k)/k precision is
    * one IEEE division of exact longs rounded to 6 decimals and summed
    * as DECIMAL(18,6) (order-independent), with only the final /n₊
    * division published as a rounded double. */
  /** Precision/recall curve at `bins` rank cutoffs (the operating-point
    * view next to [[aucRankSum]]'s threshold-free summary and
    * [[averagePrecision]]'s area): rows rank by (score DESC, tiebreak),
    * each decile boundary is a candidate decision threshold, and the
    * row reports the confusion counts + precision/recall/F1 of
    * "predict positive above this rank". The curve a curation team
    * reads to PICK the threshold its filters run at.
    *
    * Exactness: the ranking is the deterministic range-parallel
    * two-phase rank with TP riding its cumulative sum (one pass — the
    * calibration/AP machinery); bin boundaries are pure integer rank
    * math; the published ratios are IEEE divisions of exact longs in a
    * fixed written order (F1 composed from the raw ratios before the
    * single rounding). Zero-TP bins publish F1 = 0 (the 0/0 edge made
    * deterministic). Scale: everything after the rank is a `bins`-row
    * aggregate. */
  def prCurve(df: DataFrame, scoreCol: Column, labelCol: Column,
      tieCol: Column, bins: Int = 10): DataFrame = {
    val base = df.filter(scoreCol.isNotNull)
      .select(scoreCol.as("__s"), tieCol.as("__tb"),
        when(labelCol, 1L).otherwise(0L).as("__y"))
    val ranked = Ranking.globalRankCumsum(base,
      Seq(col("__s").desc, col("__tb")), col("__y"))
    val totals = base.agg(count(lit(1)).as("n"), sum(col("__y")).as("n_pos"))
    val p = col("tp").cast("double") / col("cut")
    val r = col("tp").cast("double") / col("n_pos")
    ranked.crossJoin(broadcast(totals))
      .withColumn("bin", (expr(s"((rank - 1) * $bins) div n") + 1))
      .groupBy("bin")
      .agg(max(col("rank")).as("cut"),
        max(struct(col("rank"), col("cum"))).as("__b"),
        max(col("n")).as("n"), max(col("n_pos")).as("n_pos"))
      .select(col("bin").cast("long").as("bin"),
        col("cut").cast("long").as("cut_rank"),
        expr("__b.cum").cast("long").as("tp"),
        col("cut"), col("n_pos"))
      .select(col("bin"), col("cut_rank"), col("tp"),
        (col("cut") - col("tp")).cast("long").as("fp"),
        (col("n_pos") - col("tp")).cast("long").as("fn"),
        Exact.round(p, 6).as("prec"),
        // zero-positive corpus: recall's 0/0 pinned to 0 (the
        // averagePrecision convention), keeping the curve deterministic
        when(col("n_pos") === 0, lit(0.0))
          .otherwise(Exact.round(r, 6)).as("recall"),
        when(col("tp") === 0, lit(0.0))
          .otherwise(Exact.round(lit(2) * p * r / (p + r), 6)).as("f1"))
      .orderBy("bin")
  }

  def averagePrecision(df: DataFrame, scoreCol: Column, labelCol: Column,
      tieCol: Column): DataFrame = {
    val scored = df.filter(scoreCol.isNotNull)
      .select(scoreCol.as("sc"), tieCol.as("tb"),
        when(labelCol, lit(1L)).otherwise(lit(0L)).as("y"))
    val ranked = Ranking.globalRankCumsum(scored,
      Seq(col("sc").desc, col("tb")), col("y"))
    val total = scored.agg(count(lit(1)).as("n"))
    val pos = ranked.filter(col("y") === 1).agg(
      count(lit(1)).as("n_pos"),
      sum(Exact.round(col("cum").cast("double") / col("rank"), 6)
        .cast(DecimalType(18, 6))).as("s"))
    // zero positives: AP is conventionally 0 (nothing retrievable was
    // ranked) — a clean shard with no flagged rows is a legitimate
    // input, not a null in a metrics dashboard
    pos.crossJoin(broadcast(total))
      .select(col("n_pos").cast("long").as("n_pos"),
        col("n").cast("long").as("n"),
        Exact.round(when(col("n_pos") === 0, lit(0.0))
          .otherwise(col("s").cast("double") / col("n_pos")), 6)
          .as("avg_precision"))
  }

  /** MRR and binary-relevance NDCG@k of an approximate retrieval
    * against the exact top-k list (the ranking twins of [[recallAtK]]:
    * recall says WHETHER the right neighbors surfaced, these say WHERE
    * in the list they landed). Relevance is membership in the exact
    * list; the ideal DCG comes from the exact list's own ranks, so
    * ndcg = 1 exactly when every exact neighbor lands somewhere in the
    * approx top-k (binary relevance grades positions of hits vs
    * misses, not hit-vs-hit order), and decays as hits slip to lower
    * ranks behind false neighbors; mrr isolates the first hit.
    *
    * Float discipline (§5): each 1/log₂(rank+1) gain is rounded to 6
    * decimals and summed as DECIMAL(18,6) — order-independent, so the
    * aggregate is engine-exact — and only the final ndcg division is
    * published as a rounded double. MRR is a single IEEE division of
    * exact small integers. Everything after retrieval is bounded by
    * queries·k: the rank windows partition by query over ≤k rows, the
    * hit join is co-keyed — nothing here ever touches the corpus. */
  def rankMetrics(exact: DataFrame, approx: DataFrame,
      queryCol: String = "query_id", neighborCol: String = "neighbor_id",
      scoreCol: String = "cosine"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // both lists arrive ordered by the retrieval contract (score desc,
    // neighbor asc, scores rounded to 6) — re-derive the rank here so
    // the metric never trusts input row order
    val w = Window.partitionBy(queryCol)
      .orderBy(col(scoreCol).desc, col(neighborCol))
    def gain(r: Column): Column =
      Exact.round(lit(1.0) / log2(r.cast("double") + lit(1.0)), 6)
        .cast(DecimalType(18, 6))
    val exR = exact.select(col(queryCol), col(neighborCol), col(scoreCol))
      .withColumn("r", row_number().over(w))
    val apR = approx.select(col(queryCol), col(neighborCol), col(scoreCol))
      .withColumn("r", row_number().over(w))
    val ideal = exR.groupBy(queryCol).agg(
      count(lit(1)).as("n_exact"), sum(gain(col("r"))).as("idcg"))
    val hits = apR.join(exR.select(col(queryCol), col(neighborCol)),
      Seq(queryCol, neighborCol))
    val perQ = hits.groupBy(queryCol).agg(
      count(lit(1)).as("n_hits"), min(col("r")).as("first_hit"),
      sum(gain(col("r"))).as("dcg"))
    ideal.join(perQ, Seq(queryCol), "left")
      .select(col(queryCol), col("n_exact").cast("long").as("n_exact"),
        coalesce(col("n_hits"), lit(0L)).cast("long").as("n_hits"),
        Exact.round(when(col("first_hit").isNull, lit(0.0))
          .otherwise(lit(1.0) / col("first_hit").cast("double")), 6)
          .as("mrr"),
        Exact.round(coalesce(col("dcg"), lit(0).cast(DecimalType(18, 6)))
          .cast("double") / col("idcg").cast("double"), 6).as("ndcg"))
      .orderBy(queryCol)
  }

  /** Retrieval recall@k of an approximate neighbor list against the
    * exact one — THE acceptance metric for every ANN configuration in
    * the similarity family (how much recall does nProbe=4 buy at this
    * cell count?). Both inputs are (query_id, neighbor_id) top-k lists;
    * per query: hits = |approx ∩ exact| via a co-keyed inner join,
    * recall = hits / |exact|. Queries with hits=0 still appear (left
    * join from the exact side's per-query counts).
    *
    * Scale: both lists are k rows per query — the join and both
    * aggregates are bounded by queries·k, never corpus-sized. */
  def recallAtK(exact: DataFrame, approx: DataFrame,
      queryCol: String = "query_id", neighborCol: String = "neighbor_id"): DataFrame = {
    val ex = exact.select(col(queryCol), col(neighborCol))
    val ap = approx.select(col(queryCol), col(neighborCol))
    val exN = ex.groupBy(queryCol).agg(count(lit(1)).as("n_exact"))
    val hits = ex.join(ap, Seq(queryCol, neighborCol))
      .groupBy(queryCol).agg(count(lit(1)).as("n_hits"))
    exN.join(hits, Seq(queryCol), "left")
      .select(col(queryCol), col("n_exact"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall",
        Exact.round(col("n_hits") / col("n_exact").cast("double"), 6))
      .orderBy(queryCol)
  }
}
