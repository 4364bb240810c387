package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: determinism harness for the range-parallel two-phase rank
  * (VERDICT r5 item 1 — the intermittent q48_rfm/q51_calibration hash
  * mismatch recorded by the driver gate but not reproduced by two judge
  * re-runs).
  *
  * Three attack modes, each aimed at one link in the r5 correctness
  * argument ("any number of independent evaluations of the boundary row
  * agree by construction"):
  *
  *   - `boundary`: evaluate the boundary pipeline itself K times inside
  *     one long-lived session and byte-compare the arrays — the direct
  *     test of the "independent evaluations agree" claim.
  *   - `invariant`: run the rank-consuming queries K times in one
  *     session and assert the STRUCTURAL invariant a correct global
  *     rank cannot violate (ranks are a permutation of 1..n — the r5
  *     failure symptom was duplicated+gapped ranks), plus cross-run
  *     content hashes. Session state accumulates across iterations,
  *     replicating the driver sweep's habitat.
  *   - `sweep`: fresh session per iteration at varying cpu counts,
  *     hash the sorted full results of the rank family.
  *
  * Usage: runMain graft.Determinism <mode> [iters] [sfDir]
  * Exit 1 on any divergence, with the offending query + iteration.
  */
object Determinism {

  /** Order-insensitive content hash of a full result. */
  private def contentHash(df: DataFrame): Long = {
    val cols = df.columns.sorted.map(c =>
      coalesce(col(s"`$c`").cast("string"), lit("\u0000null")))
    df.select(xxhash64(cols: _*).as("h"))
      .agg(expr("bit_xor(h)"), sum(col("h") % 1000000007L), count(lit(1)))
      .collect()(0).toSeq.map(String.valueOf(_)).hashCode().toLong
  }

  /** The rank-consuming gated queries (VERDICT r5: 17 sit on
    * Ranking.globalRank; these are the ones whose output is a direct
    * function of rank content). */
  private def rankQueries: Seq[String] = Seq(
    "q48_rfm", "q51_calibration", "q50_auc", "q55_pareto",
    "data_curriculum", "data_epoch_shuffle", "data_quota",
    "data_sample_stratified", "text_vocab_stats", "ts_hampel",
    "q30_percentile_disc_mode", "q34_outliers", "ts_lttb",
    "dedup_sorted_neighborhood", "dedup_sorted_multi",
    "data_mix_temperature", "data_split", "data_triplets",
    "data_shard_balance", "q56_avg_precision", "search_rrf_fusion",
    "q57_pr_curve") // round 9: PR curve rides globalRankCumsum

  def main(args: Array[String]): Unit = {
    val mode = if (args.nonEmpty) args(0) else "invariant"
    val iters = if (args.length > 1) args(1).toInt else 10
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
    var failed = false

    mode match {
      case "boundary" =>
        val spark = GraftSession.local(GraftSession.cpus)
        // q48's rank input: the per-customer aggregate; q51's: orders rows
        val orders = Tables.orders(spark, sfDir)
        val rfmA = orders.groupBy(col("o_custkey").as("custkey"))
          .agg(count(lit(1)).as("n_orders"))
        val cases: Seq[(String, DataFrame, Seq[org.apache.spark.sql.Column])] = Seq(
          ("rfm_freq", rfmA, Seq(col("n_orders").desc, col("custkey"))),
          ("calib", orders.select(col("o_totalprice").as("__s"),
            col("o_orderkey").as("__tb")), Seq(col("__s"), col("__tb"))))
        for ((name, df, sort) <- cases) {
          val decomposed = sort.map(ops.Ranking.decompose)
          val fields = decomposed.map(_._1)
          val dirs = decomposed.map(d => (d._2, d._3))
          val baseline = ops.Ranking.boundaryRow(df, fields, dirs, 32)
            .collect()(0).toString()
          for (i <- 1 to iters) {
            val got = ops.Ranking.boundaryRow(df, fields, dirs, 32)
              .collect()(0).toString()
            if (got != baseline) {
              println(s"DIVERGED boundary $name iter=$i")
              println(s"  baseline=$baseline")
              println(s"  got=$got")
              failed = true
            }
          }
          println(s"boundary $name: $iters evaluations " +
            (if (failed) "DIVERGED" else "identical"))
        }
        spark.stop()

      case "invariant" =>
        val spark = GraftSession.local(GraftSession.cpus)
        val base = rankQueries.filter(SparkEntry.queries.contains)
          .map(q => q -> contentHash(SparkEntry.queries(q)(spark, sfDir)))
          .toMap
        for (i <- 1 to iters) {
          // permutation invariant on the three rfm ranks: quartile
          // counts must be within 1 of n/4 each (exact integer cuts)
          val rfm = SparkEntry.queries("q48_rfm")(spark, sfDir)
          val qs = rfm.groupBy("r_q").count().collect().map(r =>
            r.getLong(0) -> r.getLong(1)).toMap
          val n = qs.values.sum
          if (qs.keySet != Set(1L, 2L, 3L, 4L) ||
              qs.values.exists(c => Math.abs(c - n / 4.0) > 1)) {
            println(s"INVARIANT-BROKEN q48 iter=$i quartiles=$qs")
            failed = true
          }
          for (q <- base.keys.toSeq.sorted) {
            val h = contentHash(SparkEntry.queries(q)(spark, sfDir))
            if (h != base(q)) {
              println(s"DIVERGED $q iter=$i hash=$h base=${base(q)}")
              failed = true
            }
          }
          println(s"invariant iter $i/$iters " +
            (if (failed) "DIVERGED" else "ok"))
        }
        spark.stop()

      case "sweep" =>
        val cpuCycle = Seq(8, 16, 32)
        var base: Map[String, Long] = Map.empty
        for (i <- 0 until iters) {
          val spark = GraftSession.local(cpuCycle(i % cpuCycle.length))
          val hs = rankQueries.filter(SparkEntry.queries.contains)
            .map(q => q -> contentHash(SparkEntry.queries(q)(spark, sfDir)))
            .toMap
          if (base.isEmpty) base = hs
          else for ((q, h) <- hs if h != base(q)) {
            println(s"DIVERGED $q iter=$i cpus=${cpuCycle(i % 3)} " +
              s"hash=$h base=${base(q)}")
            failed = true
          }
          println(s"sweep iter ${i + 1}/$iters cpus=${cpuCycle(i % 3)} " +
            (if (failed) "DIVERGED" else "ok"))
          spark.stop()
          SparkSession.clearActiveSession()
          SparkSession.clearDefaultSession()
        }
    }
    if (failed) { println("DETERMINISM: FAILED"); sys.exit(1) }
    else println("DETERMINISM: all identical")
  }
}
