package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Dedup
import graft.queries.TrainingData

/** The dedup cascade and its closure: results pinned against the
  * join-based formulation they replaced, and their Spark action counts
  * pinned so a per-stage count or a per-round probe cannot creep back. */
class DedupCascadeSpec extends SparkTestBase {
  import spark.implicits._

  // the sf0.1 tables, next to the suite's default sf0.001 ones
  private val sf01 = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.1").toString

  /** The join-based cascade as it stood before the signature pass:
    * persist + count per stage, survivors joined back by id, MinHash-LSH
    * pairs materialized, then the per-round-probed closure and a final
    * left-join count. */
  private def referenceFunnel(docs: DataFrame, urlCol: String,
      threshold: Double = 0.5): Seq[(String, Long, Long, Long)] = {
    val base = docs.select(col("doc_id"), col("text"), col(urlCol)).cache()
    val n0 = base.count()
    val s1 = base.select(Dedup.urlCanonical(col(urlCol)).as("__cu"), col("doc_id"))
      .groupBy("__cu").agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val d1 = base.join(s1, "doc_id").cache()
    val n1 = d1.count()
    val s2 = d1.groupBy(md5(col("text")).as("__h"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val d2 = d1.join(s2, "doc_id").cache()
    val n2 = d2.count()
    val pairs = Dedup.minHashLsh(d2, threshold = threshold)
    val clusters = referenceClusters(pairs.select("id_a", "id_b"))
      .withColumnRenamed("doc_id", "__cd")
    val n3 = d2.select(col("doc_id"))
      .join(clusters, col("doc_id") === col("__cd"), "left")
      .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
      .count()
    Seq(pairs, base, d1, d2).foreach(_.unpersist(blocking = true))
    Seq(("1_url", n0, n0 - n1, n1), ("2_exact", n1, n1 - n2, n2),
      ("3_neardup", n2, n2 - n3, n3))
  }

  /** The closure as it stood before observed metrics: identity initial
    * labels, a `head()` label-sum probe per round and a checkpointed
    * half step before the jump. */
  private def referenceClusters(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    val edges = pairs
      .select(explode(array(
        struct(col("id_a").as("u"), col("id_b").as("v")),
        struct(col("id_b").as("u"), col("id_a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct().cache()
    var labels = edges.select(col("u")).distinct().withColumn("label", col("u"))
      .localCheckpoint(eager = true)
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("label")), lit(0L))).head().getLong(0)
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val nbr = edges.join(labels.withColumnRenamed("u", "v"), "v")
        .groupBy("u").agg(min("label").as("nlabel"))
      val half = labels.join(nbr, Seq("u"), "left")
        .select(col("u"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
        .localCheckpoint(eager = true)
      val updated = half.as("a")
        .join(half.select(col("u").as("label"), col("label").as("l2")).as("b"),
          Seq("label"), "left")
        .select(col("u"),
          least(col("label"), coalesce(col("l2"), col("label"))).as("label"))
        .localCheckpoint(eager = true)
      val newSum = labelSum(updated)
      converged = newSum == prevSum
      prevSum = newSum
      labels = updated
      iter += 1
    }
    edges.unpersist()
    labels.select(col("u").as("doc_id"), col("label").cast("long").as("cluster_id"))
  }

  private def funnel(df: DataFrame): Seq[(String, Long, Long, Long)] =
    df.orderBy("stage").collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))

  private def labels(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("dedupCascade funnel equals the join-based formulation on the " +
      "sf0.1 documents") {
    val docs = TrainingData.cascadeDocs(spark, sf01)
    val got = funnel(Dedup.dedupCascade(docs, "url"))
    assert(got == referenceFunnel(docs, "url"))
    // every stage removes something here, so each count is exercised
    assert(got.forall(_._3 > 0), got.mkString(", "))
  }

  test("dedupCascade funnel equals the join-based formulation with zero " +
      "near-dup pairs (empty closure)") {
    // disjoint vocabularies: no shared shingle, so no LSH candidate; URL
    // refetches and exact copies still feed stages 1 and 2
    val docs = (1L to 40L).map { i =>
      val body = (i % 30) + 1
      (i, (1 to 12).map(k => s"w${body}_$k").mkString(" "),
        if (i % 7 == 0) s"HTTP://www.site.com/p${i - 1}/" else s"https://site.com/p$i")
    }.toDF("doc_id", "text", "url")
    val got = funnel(Dedup.dedupCascade(docs, "url"))
    assert(got == referenceFunnel(docs, "url"))
    assert(got(2)._3 == 0L && got(0)._3 > 0 && got(1)._3 > 0, got.mkString(", "))
  }

  test("dedupCascade on empty input reports an all-zero funnel, like the " +
      "join-based formulation") {
    val empty = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "url")
    val got = funnel(Dedup.dedupCascade(empty, "url"))
    assert(got == referenceFunnel(empty, "url"))
    assert(got.forall(r => r._2 == 0L && r._4 == 0L), got.mkString(", "))
  }

  private val chain = (0L until 19L).map(i => (i, i + 1)) // nodes 0..19
  private val star = Seq((20L, 22L), (21L, 22L), (23L, 22L), (22L, 24L))
  private val twoCliques = for {
    base <- Seq(100L, 110L); a <- 0L until 4L; b <- (a + 1) until 4L
  } yield (base + b, base + a)

  test("duplicateClusters labels equal the join-based closure on chain, " +
      "star and two-clique graphs, local and reliable checkpoints") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    for ((name, edges) <- Seq("chain" -> chain, "star" -> star,
        "two cliques" -> twoCliques)) {
      val pairs = edges.toDF("id_a", "id_b")
      val want = labels(referenceClusters(pairs))
      val expected = edges.flatMap(e => Seq(e._1, e._2)).map { v =>
        v -> (if (v < 20L) 0L else if (v < 100L) 20L else if (v < 110L) 100L else 110L)
      }.toMap
      assert(want == expected, s"$name: reference closure")
      assert(labels(Dedup.duplicateClusters(pairs)) == want, s"$name: local")
      assert(labels(Dedup.duplicateClusters(pairs, checkpointDir = Some(dir))) == want,
        s"$name: reliable")
    }
  }

  test("duplicateClusters runs one checkpoint action per round plus one " +
      "for the initial labels — no head/count probe") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    // rounds: a clique is final after the initial neighbour-min, so one
    // confirming round; the 4-path 0-1-2-3 and the star centred on 22
    // change in round 1 and are confirmed in round 2
    val cases = Seq(
      ("two cliques", twoCliques, 1),
      ("path of 4", Seq((0L, 1L), (1L, 2L), (2L, 3L)), 2),
      ("star", star, 2),
      ("no pairs", Seq.empty[(Long, Long)], 1))
    for ((name, edges, rounds) <- cases; reliable <- Seq(false, true)) {
      val pairs = edges.toDF("id_a", "id_b")
      val actions = actionsOf(Dedup.duplicateClusters(pairs,
        checkpointDir = if (reliable) Some(dir) else None))
      val kind = if (reliable) "checkpoint" else "localCheckpoint"
      assert(actions == Seq.fill(rounds + 1)(kind),
        s"$name (reliable=$reliable): $actions")
    }
  }

  test("dedupCascade on the sf0.1 documents runs at most 3 Spark actions " +
      "before its result is consumed") {
    val docs = TrainingData.cascadeDocs(spark, sf01)
    var out: DataFrame = null
    val actions = actionsOf { out = Dedup.dedupCascade(docs, "url") }
    assert(actions.size <= 3, s"actions: $actions")
    assert(!actions.contains("head"), s"actions: $actions")
    assert(funnel(out).map(_._1) == Seq("1_url", "2_exact", "3_neardup"))
  }
}
