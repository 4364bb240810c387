package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._

import graft.ops.{AsOfJoin, SkewJoin}
import graft.streaming.StatefulSessions

class ExtendedSpec extends SparkTestBase {
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  test("asOfJoin picks the latest right row at-or-before each left row") {
    val quotes = Seq(
      (1L, t("2026-01-01 10:00:00"), 100.0),
      (1L, t("2026-01-01 11:00:00"), 110.0),
      (2L, t("2026-01-01 10:30:00"), 55.0)
    ).toDF("k", "qts", "px")
    val trades = Seq(
      (10L, 1L, t("2026-01-01 09:59:00")), // before any quote -> null
      (11L, 1L, t("2026-01-01 10:00:00")), // exactly at -> 100
      (12L, 1L, t("2026-01-01 10:59:59")), // -> 100
      (13L, 1L, t("2026-01-01 12:00:00")), // -> 110
      (14L, 2L, t("2026-01-01 11:00:00")), // -> 55
      (15L, 3L, t("2026-01-01 11:00:00"))  // no quotes for key -> null
    ).toDF("trade_id", "k", "tts")
    val r = AsOfJoin.lastAtOrBefore(trades, quotes, Seq("k"), "tts", "qts",
        Seq("qts", "px"))
      .orderBy("trade_id").collect()
    val px = r.map(x => Option(x.getAs[Any]("px")).map(_.asInstanceOf[Double]))
    assert(px.toSeq == Seq(None, Some(100.0), Some(100.0), Some(110.0),
      Some(55.0), None))
    assert(r(3).getAs[Timestamp]("qts") == t("2026-01-01 11:00:00"))
  }

  test("intervalOverlapJoin: exactly-once across cells, endpoints inclusive") {
    val a = Seq((1L, 0L, 100L),    // spans 4 cells at W=32
      (2L, 50L, 55L), (3L, 200L, 210L)).toDF("id", "s", "e")
    val b = Seq((10L, 90L, 130L),  // overlaps 1 across a cell boundary
      (11L, 55L, 60L),             // touches 2 at exactly one day
      (12L, 300L, 310L),           // disjoint from everything
      (13L, 40L, 45L)              // nested inside 1
    ).toDF("id", "s", "e")
    val r = graft.ops.BandJoin.intervalOverlapJoin(a, b)
      .orderBy("id_a", "id_b").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    assert(r == Seq((1L, 10L, 11L), (1L, 11L, 6L), (1L, 13L, 6L),
      (2L, 11L, 1L)))
    // parity with the naive formulation on a denser random-ish set
    val xs = (1L to 80L).map(i => (i, i * 7 % 200, i * 7 % 200 + i % 40))
      .toDF("id", "s", "e")
    val ys = (101L to 180L).map(i => (i, i * 11 % 200, i * 11 % 200 + i % 25))
      .toDF("id", "s", "e")
    val fast = graft.ops.BandJoin.intervalOverlapJoin(xs, ys, cellWidth = 16)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    val naive = xs.as("a").join(ys.as("b"),
        col("a.s") <= col("b.e") && col("b.s") <= col("a.e"))
      .select(col("a.id"), col("b.id"),
        (least(col("a.e"), col("b.e")) - greatest(col("a.s"), col("b.s")) + 1))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(fast == naive && fast.nonEmpty)
  }

  test("saltedInner equals the plain join and replicates the small side") {
    // one pathological hot key (0) plus normal keys
    val big = (1 to 10000).map(i => (if (i % 2 == 0) 0L else i.toLong % 50, i))
      .toDF("k", "v")
    val small = (0L to 49L).map(k => (k, s"dim$k")).toDF("k", "name")
    val salted = SkewJoin.saltedInner(big, small, "k", col("v"), saltFactor = 8)
    val plain = big.join(small, "k")
    assert(salted.count() == plain.count())
    assert(salted.agg(sum("v")).head().getLong(0) == plain.agg(sum("v")).head().getLong(0))
  }

  test("stateful streaming sessionization closes sessions by gap and timeout") {
    import StatefulSessions.Event
    // batch semantics first (shared per-key logic)
    val ev = Seq(
      (1L, t("2026-01-01 10:00:00")), (1L, t("2026-01-01 10:10:00")),
      (1L, t("2026-01-01 12:00:00")), // > 30min gap -> new session
      (2L, t("2026-01-01 09:00:00"))
    ).toDF("user_id", "ts")
    val sessions = StatefulSessions.sessionizeBatch(ev, gapSeconds = 1800)
      .orderBy("user_id", "session_start").collect()
    assert(sessions.length == 3)
    assert(sessions(0).getAs[Int]("n_events") == 2)
    assert(sessions(0).getAs[String]("closed_by") == "gap")
    assert(sessions(1).getAs[Int]("n_events") == 1)

    // streaming: two micro-batches through flatMapGroupsWithState
    val dir = java.nio.file.Files.createTempDirectory("sess")
    def write(name: String, rows: Seq[(Long, String)]): Unit =
      java.nio.file.Files.writeString(dir.resolve(name),
        rows.map { case (u, ts) => s"""{"user_id":$u,"ts":"$ts"}""" }.mkString("\n"))
    write("b0.json", Seq(1L -> "2026-01-01 10:00:00", 1L -> "2026-01-01 10:10:00"))
    val stream = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP").json(dir.toString).as[Event]
    val q = StatefulSessions.sessionize(stream, gapSeconds = 1800,
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("sessions").count() == 0, "session still open")
      write("b1.json", Seq(1L -> "2026-01-01 12:00:00")) // gap-closes the first
      q.processAllAvailable()
      val closed = spark.table("sessions").collect()
      assert(closed.length == 1)
      assert(closed(0).getAs[Int]("n_events") == 2)
      assert(closed(0).getAs[String]("closed_by") == "gap")
    } finally q.stop()
  }

  test("bandJoin: cell-bucketed pairs equal the naive inequality join, " +
      "including pairs straddling a cell boundary") {
    import graft.ops.BandJoin
    val ev = Tables.events(spark, sfDir)
    val got = BandJoin.pairsWithin(ev, "user_id", "event_id", "ts", 600L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val e = ev.select(col("user_id").as("k"), col("event_id").as("id"),
      unix_micros(col("ts")).as("us"))
    val naive = e.as("a").join(e.as("b"),
        col("a.k") === col("b.k") && col("a.id") < col("b.id") &&
        abs(col("a.us") - col("b.us")) <= 600L * 1000000L)
      .select(col("a.id"), col("b.id"), abs(col("a.us") - col("b.us")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == naive, s"bucketed ${got.size} vs naive ${naive.size}")
    assert(naive.nonEmpty, "band too narrow to exercise the join")
    // no pair is emitted twice (exactly-once candidate generation)
    val gotList = BandJoin.pairsWithin(ev, "user_id", "event_id", "ts", 600L)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(gotList.length == gotList.toSet.size, "duplicate pairs emitted")
  }

  test("merge applyChangeLog: insert/update/delete/late-override/update-to-null") {
    import spark.implicits._
    val base = Seq(
      (1L, Some("a"), 10.0), (2L, Some("b"), 20.0),
      (3L, Some("c"), 30.0), (4L, Some("d"), 40.0))
      .toDF("k", "s", "x")
    val changes = Seq(
      (2L, Some("B"), 21.0, "U", 1L),   // plain update
      (3L, Some("c"), 30.0, "D", 1L),   // delete
      (4L, Some("d"), 40.0, "D", 1L),   // delete…
      (4L, Some("d2"), 41.0, "U", 2L),  // …overridden by a later update
      (5L, Some("e"), 50.0, "I", 1L),   // insert
      (2L, None, 22.0, "U", 2L))        // latest update sets s to NULL
      .toDF("k", "s", "x", "op", "seq")
    val out = graft.ops.Merge
      .applyChangeLog(base, changes, Seq("k"), "op", col("seq"))
      .orderBy("k").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L, 5L))
    val byK = out.map(r => r.getLong(0) -> r).toMap
    assert(byK(1L).getString(1) == "a" && byK(1L).getDouble(2) == 10.0)
    assert(byK(2L).isNullAt(1) && byK(2L).getDouble(2) == 22.0)
    assert(byK(4L).getString(1) == "d2" && byK(4L).getDouble(2) == 41.0)
    assert(byK(5L).getString(1) == "e" && byK(5L).getDouble(2) == 50.0)
  }

  test("disjoint-union merge is row-identical to the full-outer join " +
      "formulation on the q33 workload") {
    val o = Tables.orders(spark, sfDir)
    val changes = o.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + lit(1.0))
      .withColumn("op",
        when(col("o_orderkey") % 3 === 0, lit("D")).otherwise(lit("U")))
      .withColumn("seq", lit(1L))
    val got = graft.ops.Merge
      .applyChangeLog(o, changes, Seq("o_orderkey"), "op", col("seq"))
      .collect().map(_.toString).sorted.toSeq
    // the classic coalesce-keyed full-outer formulation as ground truth
    val payload = o.columns.toSeq
    val latest = graft.ops.Upsert.latestByKey(changes, Seq("o_orderkey"),
        col("seq"), tieBreak = Seq(col("op"),
          xxhash64((payload :+ "op").map(col): _*)))
      .select((payload :+ "op").map(col): _*)
    val b = o.as("b")
    val c = latest.as("c")
    val present = col("c.o_orderkey").isNotNull
    val want = b.join(c, col("b.o_orderkey") === col("c.o_orderkey"),
        "full_outer")
      .filter(!(present && col("c.op") === "D"))
      .select(payload.map { cn =>
        (if (cn == "o_orderkey") coalesce(col(s"c.$cn"), col(s"b.$cn"))
         else when(present, col(s"c.$cn")).otherwise(col(s"b.$cn"))).as(cn)
      }: _*)
      .collect().map(_.toString).sorted.toSeq
    assert(got == want)
  }

  test("built-in session_window agrees with the custom sessionizer on real data") {
    import graft.streaming.StatefulSessions
    val ev = Tables.events(spark, sfDir).select("user_id", "ts")
    val custom = StatefulSessions.sessionizeBatch(ev, gapSeconds = 1800)
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"))
    val builtin = StatefulSessions.sessionWindowAgg(ev, gapSeconds = 1800)
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"))
    val diff = custom.as("a").join(builtin.as("b"), "user_id")
      .filter(col("a.n_sessions") =!= col("b.n_sessions") ||
        col("a.n_events") =!= col("b.n_events"))
    assert(custom.count() == builtin.count())
    assert(diff.count() == 0, "session boundaries disagree")
  }

  test("q35 join-type battery: counts obey the join-algebra identities") {
    val rows = queries.Extended.q35.run(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nOrders = Tables.orders(spark, sfDir).count()
    val nCust = Tables.customer(spark, sfDir).count()
    assert(rows("a_inner") == nOrders) // every order has a customer
    assert(rows("b_left") == nOrders)
    assert(rows("c_right") == rows("a_inner") + rows("f_anti"))
    assert(rows("d_full") == rows("b_left") + rows("f_anti"))
    assert(rows("e_semi") + rows("f_anti") == nCust)
    assert(rows("g_cross") == 125) // 5 regions x 25 nations
  }

  test("snapshotDiff classifies added/removed/changed/unchanged; " +
      "payload never rides the compare join") {
    import graft.ops.Reconcile
    val old = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "s", "v")
    val nw = Seq((2L, "b", 20.0), (3L, "c", 31.0), (4L, "d", 40.0))
      .toDF("k", "s", "v")
    val fp = graft.functions.Hashing.hash60(
      concat_ws("|", col("s"), floor(col("v") * 100).cast("string")))
    val got = Reconcile.snapshotDiff(old, nw, Seq("k"), fp)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"), got)
    val sum = Reconcile.diffSummary(old, nw, "k", fp)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(sum("added") == ((1L, 4L, 4L)) && sum("changed") == ((1L, 3L, 3L)))
  }

  test("changeFeed round-trips through applyChangeLog: diff of two " +
      "snapshots replayed as CDC reproduces the new snapshot exactly") {
    import graft.ops.{Merge, Reconcile}
    def fp = graft.functions.Hashing.hash60(
      concat_ws("|", col("s"), floor(col("v") * 100).cast("string")))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "s", "v").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val old = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (5L, "e", 50.0)).toDF("k", "s", "v")
    val nw = Seq((2L, "b", 20.0), (3L, "c", 31.0), (4L, "d", 40.0),
      (5L, "E", 50.0)).toDF("k", "s", "v")
    val feed = Reconcile.changeFeed(old, nw, Seq("k"), fp)
    val ops = feed.collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("op")).toMap
    // minimal: unchanged key 2 emits nothing; I/U/D classified per key
    assert(ops == Map(1L -> "D", 3L -> "U", 4L -> "I", 5L -> "U"), ops)
    val replayed = Merge.applyChangeLog(old, feed.withColumn("seq", lit(1L)),
      Seq("k"), "op", col("seq"))
    assert(canon(replayed) == canon(nw), "round-trip diverged")
    // identical snapshots produce an empty feed (idempotent refresh)
    assert(Reconcile.changeFeed(old, old, Seq("k"), fp).count() == 0)
    // and on real tables: orders vs its perturbed twin
    val orders = Tables.orders(spark, sfDir)
    val fpO = graft.functions.Hashing.hash60(concat_ws("|",
      col("o_orderstatus"), floor(col("o_totalprice") * 100).cast("string")))
    val perturbed = orders.filter(col("o_orderkey") % 9 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 4 === 0, col("o_totalprice") + lit(1.0))
          .otherwise(col("o_totalprice")))
    val feedO = Reconcile.changeFeed(orders, perturbed, Seq("o_orderkey"), fpO)
    val replayedO = Merge.applyChangeLog(orders,
      feedO.withColumn("seq", lit(1L)), Seq("o_orderkey"), "op", col("seq"))
    def canonO(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("o_orderkey").collect().map(_.toString).toSeq
    assert(canonO(replayedO) == canonO(perturbed))
  }

  test("skyline2D: hand frontier — duplicates both kept, dominance " +
      "strict on one axis; matches brute-force NOT EXISTS on a real " +
      "table") {
    import spark.implicits._
    val pts = Seq(
      ("A", 1L, 1.0, 5L), ("A", 2L, 1.0, 5L),  // equal twins: both stay
      ("A", 3L, 2.0, 3L),                       // frontier
      ("A", 4L, 3.0, 3L),                       // dominated by id 3
      ("A", 5L, 2.0, 7L),                       // dominated by ids 1/2
      ("B", 6L, 9.0, 9L))                       // alone in its group
      .toDF("g", "id", "x", "y")
    val got = graft.ops.Skyline.skyline2D(pts, col("g"), col("x"), col("y"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 3L, 6L), s"got $got")

    // brute-force dominance check on sf0.001 part (per brand)
    val part = Tables.part(spark, sfDir).select(col("p_brand").as("g"),
      col("p_partkey").as("id"), col("p_retailprice").as("x"),
      col("p_size").cast("long").as("y"))
    val sky = graft.ops.Skyline.skyline2D(part, col("g"), col("x"), col("y"))
      .select("id").collect().map(_.getLong(0)).toSet
    val dom = part.as("a").join(part.as("b"),
        col("a.g") === col("b.g") &&
        col("b.x") <= col("a.x") && col("b.y") <= col("a.y") &&
        (col("b.x") < col("a.x") || col("b.y") < col("a.y")))
      .select(col("a.id")).distinct().collect().map(_.getLong(0)).toSet
    val all = part.select("id").collect().map(_.getLong(0)).toSet
    assert(sky == all -- dom, "window frontier diverged from NOT EXISTS")
  }

  test("skyline fold: skyline(skyline(A) ∪ B) == skyline(A ∪ B), with " +
      "an at-least-once replayed batch absorbed by distinct") {
    import spark.implicits._
    val pts = (1L to 60L).map(i =>
      ("g" + (i % 3), i, (i * 7 % 13).toDouble, (i * 11 % 17)))
      .toDF("g", "id", "x", "y")
    def sky(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Skyline.skyline2D(df, col("g"), col("x"), col("y"))
    val oneShot = sky(pts).collect().map(_.toString).sorted.toSeq
    val batches = Seq(0L, 1L, 1L, 2L).map(b => pts.filter(col("id") % 3 === b))
    val folded = batches.tail.foldLeft(sky(batches.head)) { (st, b) =>
      sky(st.unionByName(b).distinct()) }
    assert(folded.collect().map(_.toString).sorted.toSeq == oneShot,
      "sequential skyline fold diverged from one-shot")
  }

  test("lshRecallAudit: planted near-dup found, unique doc not, " +
      "recall and precision exact") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = ((1 to 39).map(i => s"tok$i") :+ "changed").mkString(" ")
    val d = Seq((1L, base), (2L, nearDup),
      (3L, (100 to 140).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val r = graft.ops.Dedup.lshRecallAudit(d).head()
    assert(r.getAs[Long]("n_true") == 1L, s"truth: $r")
    assert(r.getAs[Long]("n_found") == 1L, s"found: $r")
    assert(r.getAs[Double]("recall") == 1.0)
    assert(r.getAs[Long]("n_lsh_candidates") >= 1L)
  }

  test("lshRecallAudit maxDf: hot shingles are pruned from the exact " +
      "candidate generator; a generous cap changes nothing") {
    import spark.implicits._
    // every doc shares the same boilerplate prefix (hot shingles,
    // df = n_docs); docs 1/2 additionally share unique content. With
    // maxDf < n_docs the boilerplate-only pairs (1,3)(2,3)... drop out
    // of the truth while the content pair (1,2) survives via its
    // low-df shingles.
    val boiler = (1 to 10).map(i => s"same$i").mkString(" ")
    val payload = (1 to 35).map(i => s"pay$i").mkString(" ")
    val d = Seq(
      (1L, s"$boiler $payload extra1"),
      (2L, s"$boiler $payload extra2"),
      (3L, s"$boiler " + (100 to 134).map(i => s"odd$i").mkString(" ")),
      (4L, s"$boiler " + (200 to 234).map(i => s"end$i").mkString(" ")))
      .toDF("doc_id", "text")
    val uncapped = graft.ops.Dedup.lshRecallAudit(d, threshold = 0.05).head()
    val generous = graft.ops.Dedup
      .lshRecallAudit(d, threshold = 0.05, maxDf = 1000).head()
    assert(uncapped.getAs[Long]("n_true") ==
      generous.getAs[Long]("n_true"),
      "a cap above every df must not change the truth")
    // cap at 2: shingles shared by 3+ docs (the boilerplate) can no
    // longer generate candidates, so only the (1,2) payload pair's
    // truth remains reachable
    val capped = graft.ops.Dedup
      .lshRecallAudit(d, threshold = 0.05, maxDf = 2).head()
    assert(capped.getAs[Long]("n_true") < uncapped.getAs[Long]("n_true"),
      s"capped=${capped}, uncapped=${uncapped}")
    assert(capped.getAs[Long]("n_true") >= 1L)
  }

  test("lshRecallAudit sampleFraction: deterministic id-hash sample — " +
      "same rows on re-run, audits only the sampled corpus, audit " +
      "relations (found <= true, recall defined) hold on the sample") {
    import spark.implicits._
    // 30 docs: 10 planted near-dup pairs (2i, 2i+1 share 39/40 tokens)
    // + 10 unique docs, ids spread so any hash sample keeps some pairs
    val docs = (0 until 10).flatMap { i =>
      val toks = (1 to 40).map(j => s"p${i}t$j")
      Seq((i * 2L, toks.mkString(" ")),
        (i * 2L + 1L, (toks.dropRight(1) :+ "changed").mkString(" ")))
    } ++ (0 until 10).map(i =>
      (100L + i, (1 to 40).map(j => s"u${i}x$j").mkString(" ")))
    val d = docs.toDF("doc_id", "text")
    val full = graft.ops.Dedup.lshRecallAudit(d).head()
    val s1 = graft.ops.Dedup.lshRecallAudit(d, sampleFraction = 0.5).head()
    val s2 = graft.ops.Dedup.lshRecallAudit(d, sampleFraction = 0.5).head()
    assert(s1 == s2, "id-hash sample must be deterministic across runs")
    assert(s1.getAs[Long]("n_true") <= full.getAs[Long]("n_true"),
      "a sampled corpus cannot contain more true pairs than the full one")
    assert(s1.getAs[Long]("n_found") <= s1.getAs[Long]("n_true"),
      "verified LSH pairs must stay a subset of the sampled truth")
    intercept[IllegalArgumentException] {
      graft.ops.Dedup.lshRecallAudit(d, sampleFraction = 0.0)
    }
    intercept[IllegalArgumentException] {
      graft.ops.Dedup.lshRecallAudit(d, sampleFraction = 1.5)
    }
  }

  test("bandingFrontier on choices that do not divide each other " +
      "(numPerms 12, bands 4 and 6, banded once at their lcm 12) equals " +
      "lshRecallAudit per config, all-null signatures of docs under 3 " +
      "tokens included") {
    import spark.implicits._
    val base = (1 to 30).map(i => s"tok$i")
    val docs = Seq((1L, base.mkString(" ")),
        (2L, (base.dropRight(3) ++ Seq("x", "y", "z")).mkString(" ")),
        (3L, (base.take(20) ++ (1 to 10).map(i => s"q$i")).mkString(" ")),
        (4L, (base.take(12) ++ (1 to 18).map(i => s"r$i")).mkString(" ")),
        (5L, "two words"), (6L, "single"), (7L, "two words"),
        (8L, (1 to 30).map(i => s"u$i").mkString(" ")))
      .toDF("doc_id", "text")
    val rows = graft.ops.Dedup.bandingFrontier(docs, numPerms = 12,
        bandsChoices = Seq(4, 6), threshold = 0.3)
      .collect()
    assert(rows.map(_.getAs[Long]("bands")).toSeq == Seq(4L, 6L))
    for (r <- rows) {
      val b = r.getAs[Long]("bands").toInt
      val a = graft.ops.Dedup.lshRecallAudit(docs, numPerms = 12, bands = b,
        threshold = 0.3).head()
      val got = Seq("n_true", "n_candidates", "n_found").map(r.getAs[Long])
      val want = Seq("n_true", "n_lsh_candidates", "n_found").map(a.getAs[Long])
      assert(got == want, s"bands $b: frontier $got, audit $want")
    }
    // the three short docs share the all-null signature: in every band
    assert(rows.forall(_.getAs[Long]("n_candidates") >= 3L))
  }

  test("bandingFrontier: one truth for all configs, candidates monotone " +
      "non-decreasing in bands (nested slices), recall follows, found " +
      "subset of truth, planted near-dup caught at the finest banding") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = ((1 to 58).map(i => s"tok$i") ++ Seq("x", "y")).mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup)) ++ (3 to 8).map(i =>
      (i.toLong, (i * 100 to i * 100 + 50).map(j => s"w$j").mkString(" ")))
    val rows = graft.ops.Dedup
      .bandingFrontier(docs.toDF("doc_id", "text"), threshold = 0.5)
      .orderBy("bands").collect()
    assert(rows.map(_.getAs[Long]("bands")).toSeq == Seq(8L, 16L, 32L))
    assert(rows.map(_.getAs[Long]("rows_per_band")).toSeq == Seq(8L, 4L, 2L))
    // one shared truth row count across configs
    assert(rows.map(_.getAs[Long]("n_true")).distinct.length == 1)
    assert(rows.head.getAs[Long]("n_true") == 1L)
    // nested banding: candidate sets are supersets as bands grow, so
    // counts and found (and hence recall) are monotone non-decreasing
    val cands = rows.map(_.getAs[Long]("n_candidates")).toSeq
    val found = rows.map(_.getAs[Long]("n_found")).toSeq
    assert(cands == cands.sorted, s"candidates not monotone: $cands")
    assert(found == found.sorted, s"found not monotone: $found")
    assert(found.zip(rows.map(_.getAs[Long]("n_true"))).forall {
      case (f, t) => f <= t }, "found must be a subset of the truth")
    // 32 bands of 2 rows: per-band hit prob for j~0.97 is ~0.94 —
    // the planted pair is caught with near-certainty at this seed-free
    // deterministic hash (checked: it is)
    assert(rows.last.getAs[Long]("n_found") == 1L)
    assert(rows.last.getAs[Double]("recall") == 1.0)
  }
}
