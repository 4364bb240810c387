package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF parameter auto-tuning over the GATED acceptance metrics — the
  * measurement loop a real 100 TB deployment runs before fixing its
  * index parameters (and the reason `ann_recall_eval` exists, SURVEY
  * §2 29t): sweep (nCells, nProbe), score each configuration with
  * [[Eval.recallAtK]] against ONE shared brute-force baseline, time the
  * retrieval, and emit the recall/cost frontier.
  *
  * Scale shape: the exact baseline — the only corpus×queries-sized
  * work — is computed ONCE and persisted across the whole sweep; each
  * configuration then costs one Lloyd refine (k·dim state) plus one
  * IVF retrieval whose candidate mass is |corpus|·nProbe/nCells. The
  * sweep loop itself is driver-side but bounded by |configs|, never by
  * data. Wall times are measured on whatever cluster runs the sweep —
  * they are RELATIVE guidance (the frontier's shape), not absolute
  * predictions; recall values are exact and deterministic.
  *
  * Reading the frontier: recall is non-decreasing in nProbe at fixed
  * nCells (more probed cells only ever ADD candidates — spec-pinned),
  * while retrieval cost grows ∝ nProbe/nCells; a deployment picks the
  * smallest (nCells, nProbe) whose recall clears its floor.
  */
object IndexTune {

  /** One swept configuration: its retrieval quality (mean recall@k
    * over the query set, exact) and measured retrieval wall time. */
  case class FrontierRow(n_cells: Int, n_probe: Int, k: Int,
      mean_recall: Double, wall_sec: Double)

  /** Sweep the (nCells, nProbe) grid; returns one [[FrontierRow]] per
    * configuration with nProbe ≤ nCells, ordered by (n_cells, n_probe).
    * Seeds are the `nCells` smallest ids (deterministic), Lloyd-refined
    * `refineIters` rounds so cells reflect the data like a production
    * index build. */
  def recallFrontier(corpus: DataFrame, queries: DataFrame,
      cellCounts: Seq[Int], probes: Seq[Int], k: Int = 5,
      refineIters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): Seq[FrontierRow] = {
    require(cellCounts.nonEmpty && probes.nonEmpty,
      "need at least one cell count and one probe count")
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // ONE exact baseline for the whole sweep — the corpus×queries-sized
    // work is paid once, every configuration grades against it
    val exact = Similarity.bruteForceTopK(corpus, queries, k, idCol, vecCol)
      .persist(MEMORY_AND_DISK)
    exact.count()
    val out = scala.collection.mutable.ArrayBuffer.empty[FrontierRow]
    for (nc <- cellCounts.distinct.sorted) {
      val seeds = corpus.orderBy(col(idCol)).limit(nc)
        .select(col(idCol), col(vecCol))
      val cent = Similarity.kmeansRefine(corpus, seeds, refineIters,
          idCol, vecCol)
        .select(col("cid").as(idCol), col("e").as(vecCol))
      for (np <- probes.distinct.sorted if np <= nc) {
        val t0 = System.nanoTime()
        val approx = Similarity.ivfTopK(corpus, queries, cent, np, k,
          idCol, vecCol)
        val mean = Eval.recallAtK(exact, approx)
          .agg(avg(col("recall"))).head().getDouble(0)
        val wall = (System.nanoTime() - t0) / 1e9
        out += FrontierRow(nc, np, k, math.rint(mean * 1e6) / 1e6, wall)
      }
    }
    exact.unpersist(blocking = false)
    out.toSeq
  }
}
