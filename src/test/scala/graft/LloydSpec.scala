package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.ops.Similarity

/** The one Lloyd loop (`Similarity.lloyd`) behind kmeansRefine, pqTrain
  * and residualTrain: its per-round job shape, its keep-previous merge
  * and its driver-state bound. */
class LloydSpec extends SparkTestBase {

  private def embs = Tables.embeddings(spark, sfDir)

  /** (vec_id, e) with double vectors, and the first `n` of them as a
    * (cid, e) seed state. */
  private def data = embs.select(col("vec_id"),
    VectorOps.toDouble(col("embedding")).as("e"))
  private def seed(n: Int) =
    data.filter(col("vec_id") < n).select(col("vec_id").as("cid"), col("e"))

  test("kmeansRefine, pqTrain and residualTrain each run 1 + iters SQL " +
      "actions: the seed collect, then one means job per round (no pack " +
      "job, no checkpoint, no fallback)") {
    val seeds = embs.filter(col("vec_id") < 4)
    val ops = Seq[(String, () => DataFrame)](
      "kmeansRefine" -> (() => Similarity.kmeansRefine(embs, seeds, iters = 3)),
      "pqTrain" -> (() => Similarity.pqTrain(embs, iters = 3)),
      "residualTrain" -> (() =>
        Similarity.residualTrain(embs, seeds, k = 4, iters = 3)))
    for ((name, op) <- ops) {
      val actions = actionsOf(op())
      assert(actions == Seq.fill(4)("collect"),
        s"$name ran ${actions.size} actions: $actions")
    }
  }

  test("a codeword no row chooses keeps its previous value; a chosen one " +
      "becomes its rows' mean; a state exactly at the bound runs") {
    val s0 = seed(4).collect().map(_.getSeq[Double](1))
    // every row assigned to codeword 0; the state is 4 × 64 = 256 doubles
    val out = Similarity.lloyd("probe", data, seed(4), Nil, "e", 1,
      (_, _) => lit(0L), maxDoubles = 4 * 64)
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(out.drop(1).map(_.getSeq[Double](1)).toSeq == s0.drop(1).toSeq)
    val rows = data.collect().map(_.getSeq[Double](1))
    val mean = rows.head.indices.map(i => rows.map(_(i)).sum / rows.length)
    val got = out.head.getSeq[Double](1)
    assert(got.length == 64)
    assert(got.zip(mean).forall { case (a, b) => math.abs(a - b) <= 1e-9 },
      s"codeword 0 is not the corpus mean: $got vs $mean")
  }

  test("a seed state past the driver-state bound fails before any round, " +
      "naming the operator and the bound") {
    var err: IllegalArgumentException = null
    val actions = actionsOf {
      err = intercept[IllegalArgumentException] {
        Similarity.lloyd("kmeansRefine", data, seed(4), Nil, "e", 3,
          (_, _) => lit(0L), maxDoubles = 4 * 64 - 1)
      }
    }
    assert(err.getMessage.contains("kmeansRefine") &&
      err.getMessage.contains("255 doubles"), err.getMessage)
    assert(actions == Seq("collect"), s"rounds ran past the bound: $actions")
  }
}
