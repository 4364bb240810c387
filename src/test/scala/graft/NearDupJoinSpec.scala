package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Hashing.{hash60Local, shingles3, tokens}
import graft.ops.Dedup

/** Differential spec of the exact shingle-overlap join behind
  * `Dedup.ngramJaccard` and `Dedup.ngramContainment`: for both measures,
  * thresholds 0.3/0.5/0.8 and caps 1/2/5/uncapped, the ops return exactly
  * the pairs of an all-pairs reference — every shared shingle joined and
  * counted, the cap a semi-join on "shares a shingle held by ≤ maxDf
  * docs". The planted corpus targets the prefix bound: boundary-exact
  * pairs, pairs sharing only hot shingles, pairs whose lowest-hash shared
  * shingle is hot, boilerplate-heavy twins, exact duplicates and docs of
  * fewer than 3 tokens. */
class NearDupJoinSpec extends SparkTestBase {
  import spark.implicits._

  private val thresholds = Seq(0.3, 0.5, 0.8)
  private val caps = Seq(1, 2, 5, Int.MaxValue)

  /** (id_a, id_b, |A∩B|, |A|, |B|) of every pair that shares a shingle
    * held by at most `maxDf` docs: the explode-join-count reference. */
  private def reference(d: DataFrame, maxDf: Int): Seq[(Long, Long, Long, Long, Long)] = {
    val sh = d.select(col("doc_id"), shingles3(tokens(col("text"))).as("s"))
    val ex = sh.select(col("doc_id"), explode(col("s")).as("g"))
    def pairs(e: DataFrame) = e.as("a").join(e.as("b"),
      col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
    val shared = pairs(ex)
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    val coolG = ex.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("g")
    val coolPairs = pairs(ex.join(coolG, Seq("g"), "left_semi"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    val n = sh.select(col("doc_id"), size(col("s")).cast("long").as("n"))
    shared.join(coolPairs, Seq("id_a", "id_b"), "left_semi")
      .join(n.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
      .join(n.select(col("doc_id").as("id_b"), col("n").as("nb")), "id_b")
      .select("id_a", "id_b", "inter", "na", "nb")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
      .sortBy(p => (p._1, p._2))
  }

  /** Spark's `round(x, 6)` on a double. */
  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Checks both ops against the reference at every (t, maxDf); returns
    * the uncapped Jaccard reference rows at `ts.head`, for vacuity
    * checks. */
  private def checkAll(d: DataFrame, ts: Seq[Double] = thresholds):
      Seq[(Long, Long, Double)] = {
    var uncapped = Seq.empty[(Long, Long, Double)]
    for (maxDf <- caps) {
      val ref = reference(d, maxDf)
      for (t <- ts) {
        val wantJ = ref.map { case (a, b, i, na, nb) =>
          (a, b, round6(i / (na + nb - i).toDouble)) }.filter(_._3 >= t)
        val gotJ = Dedup.ngramJaccard(d, threshold = t, maxDf = maxDf)
          .as[(Long, Long, Double)].collect().toSeq
        assert(gotJ == wantJ, s"ngramJaccard t=$t maxDf=$maxDf: " +
          s"missing ${wantJ.diff(gotJ)}, extra ${gotJ.diff(wantJ)}")
        if (maxDf == Int.MaxValue && t == ts.head) uncapped = wantJ
        val wantC = ref.map { case (a, b, i, na, nb) =>
          (a, b, round6(i / na.toDouble), round6(i / nb.toDouble)) }
          .filter(p => math.max(p._3, p._4) >= t)
        val gotC = Dedup.ngramContainment(d, threshold = t, maxDf = maxDf)
          .as[(Long, Long, Double, Double)].collect().toSeq
        assert(gotC == wantC, s"ngramContainment t=$t maxDf=$maxDf: " +
          s"missing ${wantC.diff(gotC)}, extra ${gotC.diff(wantC)}")
      }
    }
    uncapped
  }

  /** The planted corpus, and the ids of the docs that hold Jaccard- and
    * containment-boundary pairs. */
  private lazy val planted: DataFrame = {
    val rows = ArrayBuffer.empty[(Long, String)]
    def add(toks: Seq[String]): Unit = rows += ((rows.size + 1L) -> toks.mkString(" "))
    def run(tag: String, n: Int): Seq[String] = (1 to n).map(j => s"$tag.$j")
    // boundary-exact Jaccard k / (k + ea + eb) = t: a shared run of k+2
    // tokens is k shared shingles, each extra token one unshared
    // shingle. (28, 3, 4) puts t·(na+nb)/(1+t) at 28 for t = 0.8, which
    // floating point lands just above. Four namespaces per shape give
    // four different hash orders.
    for (ns <- 1 to 4; ((k, ea, eb), c) <- Seq((6, 7, 7), (3, 7, 0),
        (9, 15, 15), (5, 5, 0), (10, 5, 5), (7, 4, 3), (8, 1, 1), (28, 3, 4),
        (4, 1, 0), (16, 2, 2)).zipWithIndex) {
      val shared = run(s"j$c.$ns", k + 2)
      add(shared ++ run(s"j$c.$ns.a", ea))
      add(shared ++ run(s"j$c.$ns.b", eb))
    }
    // boundary-exact containment k / (k + es) = t, the large side has
    // el extra shingles
    for (ns <- 1 to 4; ((k, es, el), c) <- Seq((3, 7, 30), (5, 5, 20),
        (8, 2, 25), (4, 1, 12)).zipWithIndex) {
      val shared = run(s"c$c.$ns", k + 2)
      add(shared ++ run(s"c$c.$ns.s", es))
      add(shared ++ run(s"c$c.$ns.l", el))
    }
    // pairs that share only hot shingles: one 22-token boilerplate run
    // in 7 docs (df 7), J = 20/24 between any two of them
    val boiler = run("hot1", 22)
    for (i <- 1 to 7) add(boiler ++ run(s"hot1.u$i", 2))
    // boilerplate-heavy twins: 8 of 22 shingles hot (df 8 + 2 below),
    // the rest shared cool content; at t = 0.8 the twins need the hot
    // term, their cool sets being shorter than ⌈t·|x|⌉
    val boiler2 = run("hot2", 10)
    for (i <- 1 to 4) {
      val content = run(s"twin$i", 14)
      add(boiler2 ++ content :+ s"twin$i.x")
      add(boiler2 ++ content :+ s"twin$i.y")
    }
    // the first (lowest-hash) two shared shingles of a near-dup pair made
    // hot by six more docs holding them; the pair still shares cool ones
    for (i <- 1 to 4) {
      val shared = run(s"low$i", 14)
      add(shared :+ s"low$i.p")
      add(shared :+ s"low$i.q")
      val lowest = shared.sliding(3).toSeq
        .sortBy(g => hash60Local(g.mkString(" "))).take(2)
      for (m <- 1 to 6)
        add(lowest.head ++ run(s"low$i.m$m", 3) ++ lowest(1))
    }
    // exact duplicates, with and without hot shingles
    val dup = run("dup", 15)
    for (_ <- 1 to 3) add(dup)
    for (_ <- 1 to 2) add(boiler2 ++ run("dup2", 6))
    // fewer than 3 tokens (no shingles), exactly 3 (one shingle)
    for (text <- Seq("", "one", "two words", "two words", "three word doc",
        "three word doc")) add(text.split(" ").toSeq)
    // near-dups at several overlap levels around 0.5 (perturbed copies of
    // one 40-word doc) and unrelated 36-token docs
    val base = run("w", 40)
    for (at <- Seq(-1, 20, 5)) add(if (at < 0) base else base.updated(at, "PERTURBED"))
    add(base.take(20) ++ run("z", 20))
    for (i <- 10 to 29) add(run(s"d$i", 36))
    rows.toSeq.toDF("doc_id", "text")
  }

  test("planted corpus: both measures at t 0.3/0.5/0.8 and maxDf " +
      "1/2/5/uncapped equal the all-pairs reference") {
    val uncapped = checkAll(planted)
    // the corpus is not vacuous: boundary-exact pairs are in the truth
    for (t <- thresholds)
      assert(uncapped.exists(_._3 == t), s"no boundary-exact pair at $t")
    // and the cap removes pairs
    assert(reference(planted, 5).size < reference(planted, Int.MaxValue).size)
  }

  test("sf0.001 corpus: both measures at every threshold and cap equal " +
      "the all-pairs reference") {
    val uncapped = checkAll(Tables.documents(spark, sfDir))
    assert(uncapped.nonEmpty, "sf0.001 corpus has no near-dup pair")
  }

  test("a threshold the rounded measure reaches from below: pairs whose " +
      "exact measure is just under t but rounds to t are kept") {
    // t = 0.666667: Jaccard 2/3 (2 of 2 and 3 shingles) and containment
    // 2/3 (2 of the small doc's 3 shingles) round up to t. t = 0.571429:
    // Jaccard 4/7 (4 shared, 5 and 6 shingles) rounds up to t. Four
    // namespaces give four hash orders; a hot run adds a capped case.
    val rows = ArrayBuffer.empty[(Long, String)]
    def add(toks: Seq[String]): Unit = rows += ((rows.size + 1L) -> toks.mkString(" "))
    def run(tag: String, n: Int): Seq[String] = (1 to n).map(j => s"$tag.$j")
    for (ns <- 1 to 4) {
      add(run(s"j$ns", 4))
      add(run(s"j$ns", 5))
      add(run(s"c$ns", 4) :+ s"c$ns.s")
      add(run(s"c$ns", 4) ++ run(s"c$ns.l", 6))
      add(run(s"q$ns", 7))
      add(run(s"q$ns", 6) ++ run(s"q$ns.b", 2))
      add(run("hot", 3) ++ run(s"h$ns", 4))
      add(run("hot", 3) ++ run(s"h$ns", 5))
    }
    val uncapped = checkAll(rows.toSeq.toDF("doc_id", "text"),
      Seq(0.666667, 0.571429))
    assert(uncapped.count(_._3 == 0.666667) >= 4, s"no 2/3 pair: $uncapped")
  }

  test("empty input yields no pairs, capped or not") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    for (maxDf <- Seq(1, Int.MaxValue)) {
      assert(Dedup.ngramJaccard(empty, maxDf = maxDf).isEmpty)
      assert(Dedup.ngramContainment(empty, maxDf = maxDf).isEmpty)
    }
  }
}
