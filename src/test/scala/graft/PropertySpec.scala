package graft

import java.sql.Timestamp
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ops.{AsOfJoin, Upsert}
import graft.plans.TopK

/** Property-based equivalence checks: each custom operator against an
  * independent reference formulation, over randomized inputs. Spark jobs
  * are expensive per check, so successful-run counts are kept small —
  * the value is in randomized shapes (dup keys, ties, empty groups), not
  * in volume. */
class PropertySpec extends SparkTestBase {
  import spark.implicits._

  /** Draw deterministic samples from a Gen (no scalatest bridge in the
    * offline dep set; fixed seeds keep failures reproducible). */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).map(i => g.pureApply(Gen.Parameters.default, Seed(42L + i)))

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(body: (A, B) => Unit): Unit =
    samples(Gen.zip(ga, gb), 5).foreach { case (a, b) => body(a, b) }

  private def whenever(cond: Boolean)(body: => Unit): Unit = if (cond) body

  private val rowsGen: Gen[List[(Int, Int, Int)]] =
    Gen.listOfN(120, for {
      k <- Gen.choose(0, 6)
      s <- Gen.choose(0, 40) // small range -> plenty of score ties
      id <- Gen.choose(0, 1000000)
    } yield (k, s, id))

  test("TopKPerKey ≡ window row_number for random data and k (total order)") {
    forAll(rowsGen, Gen.choose(1, 5)) { (rows, k) =>
      whenever(rows.nonEmpty) {
        val df = rows.toDF("key", "score", "id").dropDuplicates("key", "score", "id")
        val viaTopK = TopK.perKey(df, Seq("key"),
            Seq(col("score").desc, col("id")), k)
          .orderBy("key", "score", "id").collect().toSeq
        val w = Window.partitionBy("key").orderBy(col("score").desc, col("id"))
        val viaWindow = df.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= k).drop("rn")
          .orderBy("key", "score", "id").collect().toSeq
        assert(viaTopK == viaWindow)
      }
    }
  }

  test("two-phase TopKPerKey ≡ window under a tiny partial flush cap " +
      "(epoch-split partials re-merge exactly)") {
    // graft.topk.partialFlushKeys=2 forces the partial pass to flush its
    // heap map every 2 distinct keys — the round-12 bounded-memory path
    // (the unbounded map OOMed the x100 self-kNN tier). A key's rows
    // then arrive at the final pass split across many epochs; the final
    // merge must still yield exactly the window-topk rows.
    spark.conf.set("graft.topk.partialFlushKeys", "2")
    try {
      forAll(rowsGen, Gen.choose(1, 5)) { (rows, k) =>
        whenever(rows.nonEmpty) {
          val df = rows.toDF("key", "score", "id")
            .dropDuplicates("key", "score", "id")
            .repartition(3) // keys scattered across partitions
          val viaTopK = TopK.perKeyTwoPhase(df, Seq("key"),
              Seq(col("score").desc, col("id")), k)
            .orderBy("key", "score", "id").collect().toSeq
          val w = Window.partitionBy("key").orderBy(col("score").desc, col("id"))
          val viaWindow = df.withColumn("rn", row_number().over(w))
            .filter(col("rn") <= k).drop("rn")
            .orderBy("key", "score", "id").collect().toSeq
          assert(viaTopK == viaWindow)
        }
      }
    } finally spark.conf.unset("graft.topk.partialFlushKeys")
  }

  private val eventsGen: Gen[List[(Int, Int)]] = // (key, epochSecond)
    Gen.listOfN(60, for {
      k <- Gen.choose(0, 4)
      t <- Gen.choose(0, 50)
    } yield (k, t))

  test("AsOfJoin ≡ naive per-row scan for random event streams") {
    // every third payload is NULL: the matched row's null must surface as
    // null, NOT be backfilled from an older right row (per-column
    // last(ignoreNulls) would stitch fields across right rows)
    def pay(k: Int, t: Int): String = if ((k + t) % 3 == 0) null else s"v$k-$t"
    forAll(eventsGen, eventsGen) { (leftRaw, rightRaw) =>
      whenever(leftRaw.nonEmpty && rightRaw.nonEmpty) {
        // dedupe right on (key, t): operator contract (deterministic pick)
        val right = rightRaw.distinct
          .groupBy(r => (r._1, r._2)).map(_._2.head).toList
        val left = leftRaw.zipWithIndex
          .map { case ((k, t), i) => (i.toLong, k, new Timestamp(t * 1000L)) }
        val rightDf = right.map { case (k, t) =>
          (k, new Timestamp(t * 1000L), pay(k, t)) }.toDF("key", "rts", "payload")
        val leftDf = left.toDF("lid", "key", "lts")
        val got = AsOfJoin.lastAtOrBefore(leftDf, rightDf, Seq("key"),
            "lts", "rts", Seq("rts", "payload"))
          .select("lid", "rts", "payload").collect()
          .map(r => r.getLong(0) ->
            (Option(r.getTimestamp(1)), Option(r.getString(2)))).toMap
        val expect = left.map { case (lid, k, lts) =>
          val cands = right.filter(r => r._1 == k && r._2 * 1000L <= lts.getTime)
          lid -> (if (cands.isEmpty) (None, None)
                  else { val b = cands.maxBy(_._2)
                    (Some(new Timestamp(b._2 * 1000L)), Option(pay(b._1, b._2))) })
        }.toMap
        assert(got == expect)
      }
    }
  }

  test("simHash banding is exact: banded pairs == brute-force Hamming<=5 pairs") {
    val vocab = (1 to 25).map(i => s"tok$i")
    val docsGen: Gen[List[(Long, String)]] = Gen.listOfN(30, for {
      id <- Gen.choose(0, 1000000)
      n <- Gen.choose(10, 30)
      words <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield (id.toLong, words.mkString(" ")))
    samples(docsGen, 3).foreach { raw =>
      val docs = raw.distinctBy(_._1).toDF("doc_id", "text")
      val banded = graft.ops.Dedup.simHash(docs, maxHamming = 5).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // brute force over the same simhashes
      import org.apache.spark.sql.GraftColumnBridge.{column, expression}
      val sims = docs.select(col("doc_id"),
          column(graft.functions.SimHash60(expression(
            transform(graft.functions.Hashing.tokens(col("text")),
              t => graft.functions.Hashing.hash60(t))))).as("sh"))
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      val brute = (for {
        (a, sa) <- sims; (b, sb) <- sims
        if a < b && java.lang.Long.bitCount(sa ^ sb) <= 5
      } yield (a, b)).toSet
      assert(banded == brute, s"banded=$banded brute=$brute")
    }
  }

  test("Upsert.mergeByKey is idempotent and incoming-wins for random batches") {
    forAll(eventsGen, eventsGen) { (aRaw, bRaw) =>
      whenever(aRaw.nonEmpty && bRaw.nonEmpty) {
        // one row per key+ts with a distinct payload per batch
        def mk(rows: List[(Int, Int)], tag: String) =
          rows.distinct.map { case (k, t) => (k.toLong, t.toLong, s"$tag-$k-$t") }
            .toDF("key", "ts", "payload")
            .dropDuplicates("key", "ts")
        val existing = mk(aRaw, "old")
        val incoming = mk(bRaw, "new")
        val once = Upsert.mergeByKey(existing, incoming, Seq("key", "ts"), col("ts"))
        val twice = Upsert.mergeByKey(once, incoming, Seq("key", "ts"), col("ts"))
        val o = once.orderBy("key", "ts").collect().toSeq
        val t2 = twice.orderBy("key", "ts").collect().toSeq
        assert(o == t2, "re-applying the same batch must be a no-op")
        // every key present in incoming must carry the incoming payload
        val winners = once.filter(col("payload").startsWith("old")).collect()
        val incomingKeys = incoming.select("key", "ts").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(winners.forall(r =>
          !incomingKeys.contains((r.getLong(0), r.getLong(1)))))
      }
    }
  }

  private val changeGen: Gen[List[(Long, Option[Int], String, Long)]] =
    Gen.listOfN(60, for {
      k <- Gen.choose(0L, 12L)
      v <- Gen.option(Gen.choose(0, 99))
      op <- Gen.oneOf("I", "U", "D")
      seq <- Gen.choose(1L, 5L)
    } yield (k, v, op, seq))

  test("Merge.applyChangeLog: idempotent, and last change per key decides") {
    import graft.ops.Merge
    forAll(changeGen, Gen.choose(0L, 12L)) { (changes, baseMax) =>
      whenever(changes.nonEmpty) {
        val base = (0L to baseMax).map(k => (k, Some(k.toInt * 10)))
          .toDF("k", "v")
        // one change per (k, seq): latest-wins needs a deterministic pick
        val cl = changes.distinctBy(c => (c._1, c._4))
          .toDF("k", "v", "op", "seq")
        val once = Merge.applyChangeLog(base, cl, Seq("k"), "op", col("seq"))
        val twice = Merge.applyChangeLog(once, cl, Seq("k"), "op", col("seq"))
        assert(once.orderBy("k").collect().toSeq ==
          twice.orderBy("k").collect().toSeq, "apply must be idempotent")
        // independent reference: fold the change log per key in seq order
        val finalByKey = changes.distinctBy(c => (c._1, c._4))
          .groupBy(_._1).view.mapValues(_.maxBy(_._4)).toMap
        val expected = ((0L to baseMax).map(k => k -> Some(k.toInt * 10)).toMap
          .++(finalByKey.view.mapValues(c => c._2).toMap) -- 
          finalByKey.filter(_._2._3 == "D").keys).toSeq.sortBy(_._1)
        val got = once.orderBy("k").collect()
          .map(r => r.getLong(0) ->
            (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toSeq
        assert(got == expected, s"got $got\nexp $expected")
      }
    }
  }

  test("IncrementalAgg: any partition of the rows merges to the same state") {
    import graft.ops.IncrementalAgg
    val valGen = Gen.listOfN(80, for {
      k <- Gen.oneOf("a", "b", "c")
      v <- Gen.choose(-500, 500)
    } yield (k, v / 7.0))
    forAll(valGen, Gen.choose(2, 5)) { (rows, nParts) =>
      whenever(rows.nonEmpty) {
        val df = rows.zipWithIndex
          .map { case ((k, v), i) => (k, v, i.toLong) }.toDF("k", "v", "id")
        val oneShot = IncrementalAgg.finalize(
          IncrementalAgg.state(df, Seq("k"), "v"), Seq("k"))
          .orderBy("k").collect().toSeq
        val parts = (0 until nParts).map(r =>
          IncrementalAgg.state(df.filter(col("id") % nParts === r), Seq("k"), "v"))
        val merged = IncrementalAgg.finalize(
          IncrementalAgg.merge(parts, Seq("k")), Seq("k"))
          .orderBy("k").collect().toSeq
        assert(merged == oneShot, s"nParts=$nParts disagrees with one-shot")
      }
    }
  }

  // ---- round-5: deterministic two-phase rank ----

  private val rankRowsGen: Gen[List[(Option[Int], Long)]] =
    Gen.listOfN(200, for {
      a <- Gen.option(Gen.choose(0, 8)) // dup-heavy first key, with nulls
      id <- Gen.choose(0L, 100000000L)
    } yield (a, id))

  test("globalRankCumsum ≡ single-task window over random dup-heavy " +
      "keys, nulls, and every sort direction/null-order combination") {
    val dirGen = Gen.oneOf(0, 1, 2, 3)
    forAll(rankRowsGen, dirGen) { (rows, dir) =>
      whenever(rows.nonEmpty) {
        val df = rows.toDF("a", "id").dropDuplicates("id")
        val sortA = dir match {
          case 0 => col("a").asc_nulls_first
          case 1 => col("a").asc_nulls_last
          case 2 => col("a").desc_nulls_first
          case _ => col("a").desc_nulls_last
        }
        val sorts = Seq(sortA, col("id"))
        val got = graft.ops.Ranking.globalRankCumsum(df, sorts,
            col("id") % 7, "rk", "cum")
          .select("id", "rk", "cum")
        val w = Window.orderBy(sorts: _*)
        val want = df
          .withColumn("rk", row_number().over(w).cast("long"))
          .withColumn("cum", sum(col("id") % 7)
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select("id", "rk", "cum")
        val diff = got.except(want).count() + want.except(got).count()
        assert(diff == 0, s"rank/cumsum mismatch for dir=$dir")
      }
    }
  }

  test("packPairs=false returns the packed default's rows for basketRules " +
      "and bipartiteLinkPredict; an id >= 2^31 fails naming the operator") {
    import graft.ops.{Association, Graph}
    val li = Tables.lineitem(spark, sfDir)
    def rules(pack: Boolean) = Association.basketRules(li, "l_orderkey",
        "l_partkey", minSupport = 2, maxBasket = 16, packPairs = pack)
      .collect().toSet
    def links(pack: Boolean) = Graph.bipartiteLinkPredict(li, "l_partkey",
        "l_suppkey", minCommon = 2, packPairs = pack)
      .collect().toSet
    val packedRules = rules(true)
    assert(packedRules.nonEmpty, "fixture yields no rules")
    assert(rules(false) == packedRules, "basketRules: struct path != packed")
    val packedLinks = links(true)
    assert(packedLinks.nonEmpty, "fixture yields no links")
    assert(links(false) == packedLinks,
      "bipartiteLinkPredict: struct path != packed")
    // one id just past the packable domain [0, 2^31)
    val bad = Seq((1L, 1L << 31), (1L, 2L), (2L, 2L)).toDF("b", "i")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    for ((op, run) <- Seq[(String, () => Unit)](
        "basketRules" -> (() =>
          Association.basketRules(bad, "b", "i", minSupport = 1).collect()),
        "bipartiteLinkPredict" -> (() =>
          Graph.bipartiteLinkPredict(bad, "b", "i", minCommon = 1).collect()))) {
      val ex = intercept[Exception](run())
      assert(msgs(ex).exists(m => m.contains(op) && m.contains("packPairs=false")),
        s"$op: expected the packed-domain error, got: $ex")
    }
  }
}
