package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Upsert
import graft.sources.Layout

/** Lake-scale techniques: partition-bounded MERGE and bucketed
  * co-located joins (the SURVEY §4 claims, exercised). */
class LakeSpec extends SparkTestBase {
  import spark.implicits._

  test("mergePartitioned rewrites only the partitions present in the batch") {
    val root = Files.createTempDirectory("silver").resolve("obs").toString
    def rows(d: String, k: Int, v: String, ver: Long) = (d, k, v, ver)
    val day1 = Seq(rows("2026-01-01", 1, "a", 1L), rows("2026-01-01", 2, "b", 1L))
    val day2 = Seq(rows("2026-01-02", 3, "c", 1L))
    val day3 = Seq(rows("2026-01-03", 4, "d", 1L))
    val init = (day1 ++ day2 ++ day3).toDF("day", "key", "payload", "ver")
    Upsert.mergePartitioned(spark, root, init, Seq("day", "key"),
      col("ver"), "day")

    // capture per-partition file state before the second merge
    def fileState(day: String): Set[(String, Long)] = {
      val dir = new java.io.File(s"$root/day=$day")
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val before2 = fileState("2026-01-02")
    val before3 = fileState("2026-01-03")

    // batch touches ONLY day1: update key=1, insert key=9
    val batch = Seq(rows("2026-01-01", 1, "a2", 2L), rows("2026-01-01", 9, "z", 2L))
      .toDF("day", "key", "payload", "ver")
    Upsert.mergePartitioned(spark, root, batch, Seq("day", "key"),
      col("ver"), "day")

    val after = spark.read.parquet(root)
    assert(after.count() == 5)
    assert(after.filter(col("key") === 1).head().getAs[String]("payload") == "a2")
    assert(after.filter(col("key") === 2).head().getAs[String]("payload") == "b")
    assert(fileState("2026-01-02") == before2, "untouched partition rewritten!")
    assert(fileState("2026-01-03") == before3, "untouched partition rewritten!")
  }

  /** A fresh table root under the `lakefs` scheme, whose listings and
    * opens [[LakeSpec.TouchCountingFileSystem]] records. */
  private def countedRoot(): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.lakefs.impl", classOf[LakeSpec.TouchCountingFileSystem].getName)
    "lakefs://" + Files.createTempDirectory("silver").resolve("obs")
  }

  /** Merges `batch` into the `part`-partitioned table at `root` on
    * `(part, key)` by `ver`, and returns the paths the merge listed or
    * opened. The merged table must equal a merge of the whole table. */
  private def mergeCounted(root: String, batch: DataFrame, part: String)
      : Seq[String] = {
    val keys = Seq(part, "key")
    def rows(df: DataFrame) = df.select(batch.columns.map(col).toSeq: _*)
      .collect().map(_.toString).sorted.toSeq
    def table = spark.read.schema(batch.schema).parquet(root)
    val want = rows(Upsert.mergeByKey(table, batch, keys, col("ver")))
    LakeSpec.TouchCountingFileSystem.touched.clear()
    Upsert.mergePartitioned(spark, root, batch, keys, col("ver"), part)
    val touched = LakeSpec.TouchCountingFileSystem.touched.asScala.toSeq
    assert(rows(table) == want, "merge differs from a whole-table merge")
    touched
  }

  private def under(touched: Seq[String], part: String, days: Seq[String]) =
    touched.filter(p => days.exists(d => p.contains(s"/$part=$d")))

  test("mergePartitioned reads only the touched partition directories " +
      "that exist: untouched days are never listed or opened, and a new " +
      "day's absent directory is skipped") {
    val root = countedRoot()
    Upsert.mergePartitioned(spark, root,
      Seq(("2026-01-01", 1, "a", 1L), ("2026-01-01", 2, "b", 1L),
        ("2026-01-02", 3, "c", 1L), ("2026-01-03", 4, "d", 1L))
        .toDF("day", "key", "payload", "ver"),
      Seq("day", "key"), col("ver"), "day")
    val batch = Seq(("2026-01-01", 1, "a2", 2L), ("2026-01-04", 5, "e", 2L))
      .toDF("day", "key", "payload", "ver")
    val touched = mergeCounted(root, batch, "day")
    assert(under(touched, "day", Seq("2026-01-01")).nonEmpty,
      s"the touched day was never read: $touched")
    assert(under(touched, "day", Seq("2026-01-02", "2026-01-03")).isEmpty,
      s"untouched days listed or opened: $touched")
  }

  test("mergePartitioned: a batch whose days are all new lists and opens " +
      "no existing partition directory") {
    val root = countedRoot()
    Upsert.mergePartitioned(spark, root,
      Seq(("2026-01-01", 1, "a", 1L), ("2026-01-02", 2, "b", 1L))
        .toDF("day", "key", "payload", "ver"),
      Seq("day", "key"), col("ver"), "day")
    val batch = Seq(("2026-01-05", 1, "x", 2L), ("2026-01-06", 2, "y", 2L))
      .toDF("day", "key", "payload", "ver")
    val touched = mergeCounted(root, batch, "day")
    assert(under(touched, "day", Seq("2026-01-01", "2026-01-02")).isEmpty,
      s"existing days listed or opened: $touched")
  }

  test("mergePartitioned over a Date-typed partition column reads only the " +
      "touched days") {
    val root = countedRoot()
    def rows(rs: (String, Int, String, Long)*) =
      rs.toDF("day", "key", "payload", "ver").withColumn("day", to_date(col("day")))
    Upsert.mergePartitioned(spark, root,
      rows(("2026-01-01", 1, "a", 1L), ("2026-01-02", 2, "b", 1L),
        ("2026-01-03", 3, "c", 1L)),
      Seq("day", "key"), col("ver"), "day")
    val batch = rows(("2026-01-02", 2, "b2", 2L), ("2026-01-02", 7, "g", 2L),
      ("2026-01-09", 8, "h", 2L))
    val touched = mergeCounted(root, batch, "day")
    assert(under(touched, "day", Seq("2026-01-02")).nonEmpty,
      s"the touched day was never read: $touched")
    assert(under(touched, "day", Seq("2026-01-01", "2026-01-03")).isEmpty,
      s"untouched days listed or opened: $touched")
    assert(spark.read.parquet(root).filter(col("key") === 2)
      .select("payload").as[String].collect().toSeq == Seq("b2"))
  }

  test("mergePartitioned keeps the table's null-partition rows when a " +
      "batch carries a null partition value") {
    val root = countedRoot()
    Upsert.mergePartitioned(spark, root,
      Seq((null: String, 1, "a", 1L), (null: String, 3, "c", 1L),
        ("2026-01-01", 4, "d", 1L)).toDF("day", "key", "payload", "ver"),
      Seq("day", "key"), col("ver"), "day")
    val batch = Seq((null: String, 2, "b", 2L), (null: String, 1, "a2", 2L))
      .toDF("day", "key", "payload", "ver")
    val touched = mergeCounted(root, batch, "day")
    assert(under(touched, "day", Seq("2026-01-01")).isEmpty,
      s"untouched days listed or opened: $touched")
    assert(spark.read.parquet(root).select("key", "payload").as[(Int, String)]
      .collect().sorted.toSeq == Seq(1 -> "a2", 2 -> "b", 3 -> "c", 4 -> "d"))
  }

  test("a micro-batch replaying a fetch_id at two finished_at values " +
      "keeps the newest version and reads only its touched day") {
    import graft.streaming.{FetchEventStream, JsonLinesSource}
    import StreamingSpec.{eventJson, payload, writeBronze}
    val events = Files.createTempDirectory("replayev")
    val bronze = Files.createTempDirectory("replaylake").resolve("bronze")
    val silver = countedRoot(); val ckpt = Files.createTempDirectory("replayckpt")
    writeBronze(bronze, "f1" -> payload(1.0, 20.0),
      "f2" -> payload(2.0, 21.0, "2026-01-02T00:00"),
      "f3" -> payload(1.0, 99.0))
    def consume(): Unit = {
      val q = FetchEventStream.consume(spark, JsonLinesSource(events.toString),
        bronze.toString, silver, ckpt.toString)
      try q.processAllAvailable() finally q.stop()
    }
    Files.writeString(events.resolve("b0.json"),
      eventJson("f1", "success", 1000) + "\n" + eventJson("f2", "success", 2000))
    consume()
    Files.writeString(events.resolve("b1.json"),
      eventJson("f3", "success", 9000) + "\n" + eventJson("f3", "success", 5000))
    LakeSpec.TouchCountingFileSystem.touched.clear()
    consume()
    val touched = LakeSpec.TouchCountingFileSystem.touched.asScala.toSeq
    assert(under(touched, "obs_date", Seq("2026-01-02")).isEmpty,
      s"untouched day listed or opened: $touched")
    val got = spark.read.parquet(silver)
      .select("latitude", "fetch_id", "version", "temperature")
      .as[(Double, String, Long, Double)].collect().sorted.toSeq
    assert(got == Seq((1.0, "f3", 9L, 99.0), (2.0, "f2", 2L, 21.0)), s"silver: $got")
  }

  test("bucketed tables join without a shuffle exchange") {
    import graft.sources.Bucketed
    val n = 1000
    Bucketed.write((1 to n).map(i => (i.toLong, s"cust$i")).toDF("key", "name"),
      "cust_bucketed", 8, Seq("key"))
    Bucketed.write(
      (1 to 5 * n).map(i => (i.toLong % n + 1, i * 10.0)).toDF("key", "amount"),
      "orders_bucketed", 8, Seq("key"))

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketed.cojoin(spark, "orders_bucketed", "cust_bucketed",
        Seq("key"))
      joined.collect()
      assert(!Bucketed.hasShuffle(joined),
        s"expected shuffle-free bucketed join:\n${joined.queryExecution.executedPlan}")
      assert(joined.count() == 5 * n)
      // the same aggregation, bucket-aligned: groupBy on the bucket key
      // also plans with no exchange
      val agg = spark.table("orders_bucketed").groupBy("key")
        .agg(sum("amount").as("total"))
      agg.collect()
      assert(!Bucketed.hasShuffle(agg),
        s"expected shuffle-free bucketed agg:\n${agg.queryExecution.executedPlan}")
      // bucket pruning: an equality filter on the bucket key scans 1/8
      // of the buckets (autoBucketedScan would hide the bucketed read
      // for a bare filter, where nothing downstream consumes the
      // partitioning — pin it on to observe the pruning)
      val prevAuto =
        spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      try {
        val pruned = spark.table("orders_bucketed").filter(col("key") === 7L)
        val scanDesc = pruned.queryExecution.executedPlan.toString
        assert(scanDesc.contains("SelectedBucketsCount: 1 out of 8"),
          s"expected bucket pruning:\n$scanDesc")
      } finally spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", prevAuto)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("approximate distinct-count tracks exact within tolerance") {
    val df = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val exact = df.select(countDistinct(col("l_partkey"), col("l_suppkey")))
      .head().getLong(0)
    val approx = df.select(approx_count_distinct(
      concat_ws("|", col("l_partkey"), col("l_suppkey")), 0.02)).head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx=$approx exact=$exact")
  }

  test("compact packs many small files into ~target-sized bins, content-preserving") {
    val dir = Files.createTempDirectory("compact")
    val root = dir.resolve("small").toString
    val out = dir.resolve("packed").toString
    val src = Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "value")
    src.repartition(24).write.parquet(root)
    val nFilesBefore = Layout.listFiles(spark, root).count()
    assert(nFilesBefore == 24)
    // large target + 2 lanes → everything packs into 2 bins
    val nBins = Layout.compact(spark, root, out, targetBytes = 1L << 30, lanes = 2)
    assert(nBins <= 2)
    val outFiles = spark.read.parquet(out).withColumn("f", input_file_name())
      .select("f").distinct().count()
    assert(outFiles == nBins, s"one file per bin: $outFiles vs $nBins")
    val a = src.orderBy("event_id").collect().toSeq
    val b = spark.read.parquet(out).select("event_id", "user_id", "value")
      .orderBy("event_id").collect().toSeq
    assert(a == b, "compaction must preserve content exactly")
  }

  test("planBins bounds bins at target + one straddling file") {
    val files = (1 to 40).map(i => (s"f$i", 30L)).toDF("path", "bytes")
    val plan = Layout.planBins(files, targetBytes = 100L, lanes = 1).collect()
    val byBin = plan.groupBy(_.getAs[Long]("bin")).view.mapValues(_.map(_.getAs[Long]("bytes")).sum)
    // 40×30 bytes in 100-byte bins, one lane: ceil(1200/120)=10 bins of ≤120
    assert(byBin.values.forall(_ <= 130L))
    assert(plan.length == 40 && byBin.size >= 10)
  }

  test("z-order layout yields compact per-file rectangles that prune on both dims") {
    val dir = Files.createTempDirectory("zorder")
    val zout = dir.resolve("z").toString
    val rout = dir.resolve("rand").toString
    val grid = spark.range(10000)
      .selectExpr("id", "CAST(id % 100 AS DOUBLE) AS x", "CAST(id DIV 100 AS DOUBLE) AS y")
    Layout.zorderWrite(grid, "x", "y", 16, zout)
    grid.repartition(16).write.parquet(rout)

    def avgArea(root: String): Double = {
      val st = Layout.fileStats(spark, root, Seq("x", "y")).collect()
      st.map(r => ((r.getAs[Double]("x_max") - r.getAs[Double]("x_min") + 1) / 100.0) *
        ((r.getAs[Double]("y_max") - r.getAs[Double]("y_min") + 1) / 100.0)).sum / st.length
    }
    val zArea = avgArea(zout)
    val rArea = avgArea(rout)
    assert(zArea < 0.2, s"z-order files should cover small rectangles, got $zArea")
    assert(zArea < rArea / 3, s"z $zArea vs random $rArea")

    val zStats = Layout.fileStats(spark, zout, Seq("x", "y"))
    val rStats = Layout.fileStats(spark, rout, Seq("x", "y"))
    assert(Layout.pruneFraction(zStats, "x", 37.0) <= 0.5)
    assert(Layout.pruneFraction(zStats, "y", 37.0) <= 0.5)
    assert(Layout.pruneFraction(rStats, "x", 37.0) > 0.9)
  }

  test("layout_prune_stats: equi-count file cuts, and a point probe " +
      "prunes on BOTH z-order dimensions") {
    val out = graft.queries.Extended.layoutPruneStats.run(spark, sfDir).collect()
    assert(out.length == 64, s"expected 64 files, got ${out.length}")
    // integer rank cuts: file sizes differ by at most 1 row
    val sizes = out.map(_.getAs[Long]("n_rows"))
    assert(sizes.max - sizes.min <= 1L,
      s"equi-count boundaries violated: ${sizes.min}..${sizes.max}")
    // the z-order claim: a mid-domain point probe on EITHER dimension
    // opens well under half the files (a 1-D sort layout prunes only
    // its sort key — the non-sort dim would hit every file)
    val hitA = out.count(_.getAs[Boolean]("hit_a"))
    val hitB = out.count(_.getAs[Boolean]("hit_b"))
    assert(hitA <= 32 && hitA >= 1, s"hit_a=$hitA of 64")
    assert(hitB <= 32 && hitB >= 1, s"hit_b=$hitB of 64")
  }

  test("quantile z-order buckets keep heavy-tailed data balanced across files") {
    val dir = Files.createTempDirectory("zq")
    val out = dir.resolve("zq").toString
    // heavy tail on x: id^2 crowds 3/4 of the linear range into the
    // last quarter of ids; y stays uniform
    val skewed = spark.range(10000)
      .selectExpr("id", "CAST(id * id AS DOUBLE) AS x", "CAST(id % 100 AS DOUBLE) AS y")
    Layout.zorderWrite(skewed, "x", "y", 16, out, quantileBuckets = true)
    val perFile = spark.read.parquet(out)
      .groupBy(input_file_name()).count().collect().map(_.getLong(1))
    assert(perFile.length == 16)
    val mean = perFile.sum.toDouble / perFile.length
    assert(perFile.forall(n => n > mean / 3 && n < mean * 3),
      s"files unbalanced: ${perFile.sorted.mkString(",")}")
    // pruning still works on the skewed dim: point lookup in the tail
    val st = Layout.fileStats(spark, out, Seq("x", "y"))
    assert(Layout.pruneFraction(st, "x", 9000.0 * 9000.0) <= 0.5)
  }

  test("schema evolution: add-column and type-widen round-trip through " +
      "the upsert path; incompatible changes fail with the column named") {
    import graft.sources.SchemaEvolution
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("evolve").resolve("obs").toString
    // generation 0: the original silver schema (v is an int)
    val gen0 = Seq((1L, 10, "a", 1L), (2L, 20, "b", 1L), (3L, 30, "c", 1L))
      .toDF("id", "v", "name", "ver")
      .withColumn("v", col("v").cast("int"))
    gen0.write.parquet(s"$root/gen=0")
    // the source evolved: v widened to long, a score column appeared
    val batch = Seq((2L, 200L, "b2", Some(0.9), 2L), (5L, 500L, "e", None, 2L))
      .toDF("id", "v", "name", "score", "ver")

    val silver = spark.read.parquet(s"$root/gen=0")
    val (oldC, newC) = SchemaEvolution.conformedPair(silver, batch)
    val merged = Upsert.mergeByKey(oldC, newC, Seq("id"), col("ver"))
    // schema evolved: v widened, score present and nullable
    assert(merged.schema("v").dataType == LongType)
    assert(merged.schema("score").dataType == DoubleType)
    assert(merged.schema("score").nullable)
    val byId = merged.collect().map(r => r.getAs[Long]("id") ->
      (r.getAs[Long]("v"), r.getAs[String]("name"),
        Option(r.getAs[Any]("score")))).toMap
    assert(byId(2L) == ((200L, "b2", Some(0.9))), "incoming must win on collision")
    assert(byId(1L) == ((10L, "a", None)), "old rows surface a NULL score")
    assert(byId(5L)._1 == 500L)
    assert(byId.keySet == Set(1L, 2L, 3L, 5L))

    // round-trip: the merged table lands as generation 1; an evolved
    // read over BOTH generations (narrow-typed old files still on disk)
    // returns the unified schema — plain mergeSchema refuses this mix
    merged.write.parquet(s"$root/gen=1")
    val evolved = SchemaEvolution.readEvolved(spark, root)
    assert(evolved.schema("v").dataType == LongType)
    assert(evolved.count() == gen0.count() + merged.count())
    intercept[Exception] { // int files + long files: vanilla merge refuses
      spark.read.option("mergeSchema", "true").parquet(root).collect()
    }

    // incompatible change: v arrives as a string — a rewrite migration,
    // not evolution; the error names the column and the policy
    val bad = Seq((6L, "oops", 3L)).toDF("id", "v", "ver")
    val e = intercept[IllegalArgumentException] {
      SchemaEvolution.conformedPair(silver, bad)
    }
    assert(e.getMessage.contains("'v'"))
    assert(e.getMessage.contains("rewrite migration"))

    // the widening lattice itself
    assert(SchemaEvolution.canWiden(IntegerType, LongType))
    assert(SchemaEvolution.canWiden(FloatType, DoubleType))
    assert(SchemaEvolution.canWiden(IntegerType, DecimalType(12, 2)))
    assert(SchemaEvolution.canWiden(DecimalType(10, 0), DecimalType(12, 2)))
    assert(!SchemaEvolution.canWiden(LongType, IntegerType))
    assert(!SchemaEvolution.canWiden(LongType, DecimalType(12, 2)))
    assert(!SchemaEvolution.canWiden(DoubleType, FloatType))
    assert(!SchemaEvolution.canWiden(StringType, LongType))
    assert(!SchemaEvolution.canWiden(IntegerType, FloatType))
  }

  test("metadata-only rename: the 4bcfdcf6e86a alembic step " +
      "(response_data→error_data) as a read-time alias — no rewrite, " +
      "old files untouched; both-names and undeclared cases fail fast") {
    import graft.sources.SchemaEvolution
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("rename").resolve("ledger").toString
    // gen 0: the pre-migration ledger schema carries response_data
    val gen0 = Seq((1L, """{"e":1}""", "u1"), (2L, """{"e":2}""", "u2"))
      .toDF("id", "response_data", "request_url")
    gen0.write.parquet(s"$root/gen=0")
    // gen 1: post-migration writes use error_data (+ the added columns
    // of the same revision)
    val gen1 = Seq((3L, """{"e":3}""", "u3", "/bronze/3", 7L))
      .toDF("id", "error_data", "request_url", "payload_path", "finished_at")
    gen1.write.parquet(s"$root/gen=1")
    val renames = Map("response_data" -> "error_data")

    val evolved = SchemaEvolution.readEvolved(spark, root, renames)
    assert(evolved.columns.contains("error_data") &&
      !evolved.columns.contains("response_data"))
    val byId = evolved.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("error_data")).toMap
    assert(byId == Map(1L -> """{"e":1}""", 2L -> """{"e":2}""",
      3L -> """{"e":3}"""), "old rows surface under the new name")
    // the alias is pure metadata: the old generation's SCAN still reads
    // the physical response_data column (pruning through the alias),
    // and no file was rewritten
    val plan = evolved.select("id", "error_data")
      .queryExecution.executedPlan.toString
    assert(plan.contains("response_data"),
      s"old-gen scan should read the physical column through the alias:\n$plan")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val gen0Files = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$root/gen=0")).map(_.getPath.getName)
    assert(gen0Files.exists(_.endsWith(".parquet")), "gen 0 intact")

    // conformedPair with the alias: merge-by-key applies unchanged
    // across the rename boundary
    val (o, n) = SchemaEvolution.conformedPair(
      spark.read.parquet(s"$root/gen=0").withColumn("ver", lit(1L)),
      spark.read.parquet(s"$root/gen=1").withColumn("ver", lit(2L)), renames)
    val merged = Upsert.mergeByKey(o, n, Seq("id"), col("ver"))
    assert(merged.columns.contains("error_data") && merged.count() == 3)

    // a generation carrying BOTH names is ambiguous under the map
    val both = gen0.withColumn("error_data", lit("x"))
    val e = intercept[IllegalArgumentException] {
      SchemaEvolution.applyRenames(both, renames)
    }
    assert(e.getMessage.contains("both names"))
    // undeclared rename (no alias map): the names are just two columns
    // — old rows NULL under the new name, a silent drift readEvolved
    // only permits when the caller has NOT declared the rename
    val undeclared = SchemaEvolution.readEvolved(spark, root)
    assert(undeclared.columns.contains("response_data") &&
      undeclared.columns.contains("error_data"))
  }

  test("Manifest: atomic versioned commits, time travel, consistent " +
      "reads under later commits, diff-between-versions composes") {
    import graft.sources.Manifest
    val root = Files.createTempDirectory("mani").resolve("tbl").toString
    def df(rows: (Long, String)*) = rows.toDF("k", "s")
    assert(Manifest.latestVersion(spark, root).isEmpty)
    val v0 = Manifest.commit(df(1L -> "a", 2L -> "b"), root)
    val v1 = Manifest.commit(df(1L -> "a", 2L -> "B", 3L -> "c"), root)
    assert((v0, v1) == ((0L, 1L)) &&
      Manifest.versions(spark, root) == Seq(0L, 1L))
    def rows(v: Option[Long]) = Manifest.read(spark, root, v)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows(Some(0L)) == Set(1L -> "a", 2L -> "b"))
    assert(rows(None) == Set(1L -> "a", 2L -> "B", 3L -> "c"))
    // a reader resolved before a commit keeps its snapshot
    val pinned = Manifest.read(spark, root)
    Manifest.commit(df(9L -> "z"), root)
    assert(pinned.collect().length == 3, "resolved read must stay consistent")
    assert(rows(None) == Set(9L -> "z"))
    // reconcile between two versions of the SAME managed table
    val feed = graft.ops.Reconcile.changeFeed(
      Manifest.read(spark, root, Some(0L)), Manifest.read(spark, root, Some(1L)),
      Seq("k"), graft.functions.Hashing.hash60(col("s")))
    assert(feed.collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("op"))
      .toMap == Map(2L -> "U", 3L -> "I"))
  }

  test("transactional OPTIMIZE: compaction commits as a new version — " +
      "readers resolve old or new wholesale, a racing data commit is " +
      "never lost, vacuum retires compacted versions correctly") {
    import graft.sources.Manifest
    import org.apache.hadoop.fs.Path
    val root = Files.createTempDirectory("maniopt").resolve("tbl").toString
    // v0: deliberately many small files
    val v0df = spark.range(0, 400).toDF("k")
      .withColumn("s", concat(lit("row-"), col("k")))
      .repartition(20)
    Manifest.commit(v0df, root)
    val fsys = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def filesOf(v: Long): Seq[String] = {
      val it = fsys.listFiles(new Path(s"$root/_data"), true)
      val out = Seq.newBuilder[String]
      while (it.hasNext) { val s = it.next()
        if (s.getPath.getName.endsWith(".parquet") &&
            s.getPath.toString.contains(s"/$v-")) out += s.getPath.toString }
      out.result()
    }
    // a reader resolved BEFORE the optimize keeps its snapshot
    val pinned = Manifest.read(spark, root)
    val v1 = Manifest.optimizeCompact(spark, root, targetBytes = 1L << 26)
    assert(v1 == 1L)
    // same rows, strictly fewer files, old version still time-travels
    def rows(v: Option[Long]) = Manifest.read(spark, root, v)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val expect = (0L until 400L).map(k => k -> s"row-$k").toSet
    assert(rows(None) == expect && rows(Some(0L)) == expect)
    assert(filesOf(1L).nonEmpty && filesOf(1L).size < filesOf(0L).size,
      s"compaction must shrink the file count: ${filesOf(0L).size} -> ${filesOf(1L).size}")
    assert(pinned.collect().length == 400, "pinned reader keeps its snapshot")
    // RACE: a concurrent data commit claims v2 while an optimize of v1
    // is in flight. Stage it by having the rewrite itself perform the
    // concurrent commit the first time it runs — the optimize must lose
    // v2, discard the stale rewrite, and re-run over the NEW snapshot.
    var rewriteRuns = 0
    val v3 = Manifest.optimize(spark, root) { (files, out) =>
      rewriteRuns += 1
      if (rewriteRuns == 1)
        Manifest.commit(spark.range(400, 401).toDF("k")
          .withColumn("s", lit("row-400")), root) // the racing writer wins v2
      spark.read.parquet(files: _*).coalesce(1)
        .write.mode("errorifexists").parquet(out)
    }
    assert(rewriteRuns == 2, "losing optimize must re-run its rewrite")
    assert(v3 == 3L)
    // v2 (the racing commit) replaced the table content: v3 = optimize
    // of v2's snapshot, NOT a compacted copy of v1
    assert(rows(None) == Set(400L -> "row-400"),
      "optimize must never resurrect a superseded snapshot")
    assert(rows(Some(2L)) == Set(400L -> "row-400"))
    // vacuum to newest 2: compacted v1's bin-nested data dir handling —
    // v0/v1 retire, v2/v3 survive and stay readable
    Manifest.vacuum(spark, root, keep = 2)
    assert(Manifest.versions(spark, root) == Seq(2L, 3L))
    assert(rows(Some(3L)) == Set(400L -> "row-400"))
  }

  test("manifest file lists tolerate commas in paths (JSON tokenizer, " +
      "not a comma split)") {
    import graft.sources.Manifest
    val root = Files.createTempDirectory("mani,comma").resolve("t,bl").toString
    Manifest.commit(Seq(1L -> "a", 2L -> "b").toDF("k", "s"), root)
    assert(Manifest.read(spark, root).collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 2L))
  }

  test("changeFeed/snapshotDiff survive a payload that itself has a " +
      "'status' column (internal diff name is collision-safe)") {
    val o = Seq((1L, "a", "ok"), (2L, "b", "bad")).toDF("k", "s", "status")
    val n = Seq((1L, "a", "ok"), (3L, "c", "new")).toDF("k", "s", "status")
    val fp = graft.functions.Hashing.hash60(col("s"))
    val feed = graft.ops.Reconcile.changeFeed(o, n, Seq("k"), fp)
    assert(feed.columns.count(_ == "status") == 1,
      "payload status column must survive, once")
    assert(feed.collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("op"))
      .toMap == Map(2L -> "D", 3L -> "I"))
    assert(feed.filter(col("k") === 3L).select("status").head.getString(0)
      == "new", "payload 'status' values must ride through untouched")
    val diff = graft.ops.Reconcile.snapshotDiff(o, n, Seq("k"), fp)
    assert(diff.columns.toSeq == Seq("k", "status"),
      "public diff output keeps the documented 'status' name")
  }

  test("Manifest: losing a commit race retries on the next version; " +
      "vacuum retires manifests then unreferenced data") {
    import graft.sources.Manifest
    import org.apache.hadoop.fs.Path
    val root = Files.createTempDirectory("mani2").resolve("tbl").toString
    def df(rows: (Long, String)*) = rows.toDF("k", "s")
    Manifest.commit(df(1L -> "a"), root)
    // fake a concurrent winner claiming v1: copy v0's manifest
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val man = (v: Long) => new Path(s"$root/_manifests/v$v.json")
    org.apache.hadoop.fs.FileUtil.copy(fs, man(0L), fs, man(1L), false,
      spark.sparkContext.hadoopConfiguration)
    val got = Manifest.commit(df(2L -> "b"), root)
    assert(got == 2L, s"loser must advance past the claimed version: $got")
    // the primitive the atomic publish rests on: rename onto an
    // existing destination must FAIL, not overwrite
    val t1 = new Path(s"$root/_manifests/.race-a")
    val o1 = fs.create(t1, false); o1.write('x'); o1.close()
    assert(!fs.rename(t1, man(2L)),
      "rename overwrote an existing manifest — atomic claim broken")
    fs.delete(t1, false)
    assert(Manifest.read(spark, root).collect().map(_.getLong(0)).toSeq == Seq(2L))
    // vacuum to the newest 2: v0 gone (manifest AND data), v1/v2 readable
    Manifest.commit(df(3L -> "c"), root)
    Manifest.vacuum(spark, root, keep = 2)
    assert(Manifest.versions(spark, root) == Seq(2L, 3L))
    intercept[IllegalArgumentException] {
      Manifest.read(spark, root, Some(0L)).collect()
    }
    val dataDirs = fs.listStatus(new Path(s"$root/_data")).map(_.getPath.getName)
    assert(dataDirs.forall(n => n.startsWith("2-") || n.startsWith("3-")),
      s"dead data dirs survive vacuum: ${dataDirs.mkString(",")}")
    assert(Manifest.read(spark, root).collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("deleteWhere: copy-on-write file-granular DELETE — untouched " +
      "files carry by reference, old version time-travels, NULL " +
      "predicate rows survive, no-match is a no-op") {
    import graft.sources.Manifest
    import org.apache.hadoop.fs.Path
    val root = Files.createTempDirectory("manidel").resolve("tbl").toString
    // range-clustered 10-file layout so the target user is localized in
    // one file and most files never contain a match
    val v0df = spark.range(0, 1000).toDF("user_id")
      .withColumn("payload", concat(lit("p-"), col("user_id")))
      .withColumn("flag",
        when(col("user_id") % 100 === 0, lit(null).cast("string"))
          .otherwise(lit("x")))
      .repartitionByRange(10, col("user_id"))
    Manifest.commit(v0df, root)
    val before = Manifest.read(spark, root, Some(0L))
    // delete one user: predicate-local to a single range file
    val v1 = Manifest.deleteWhere(spark, root, col("user_id") === 555L)
    assert(v1 == 1L)
    val after = Manifest.read(spark, root)
    assert(after.count() == 999L)
    assert(after.filter(col("user_id") === 555L).count() == 0L)
    assert(before.count() == 1000L, "old version must time-travel intact")
    // copy-on-write: the new manifest REUSES most of v0's files
    def filesOf(v: Long): Set[String] = {
      val fsys = new Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // read manifests through the public read path: input_file_name
      val df = Manifest.read(spark, root, Some(v))
        .select(org.apache.spark.sql.functions.input_file_name())
      df.distinct().collect().map(_.getString(0)).toSet
    }
    val shared = filesOf(0L).intersect(filesOf(1L))
    assert(shared.size >= 8,
      s"expected untouched files carried by reference, shared=${shared.size}")
    // a predicate that is NULL for some rows deletes only TRUE rows:
    // flag='x' matches; flag NULL rows (user_id % 100 == 0) must stay
    val v2 = Manifest.deleteWhere(spark, root,
      col("flag") === "x" && col("user_id") >= 990L)
    assert(v2 == 2L)
    val r2 = Manifest.read(spark, root)
    assert(r2.filter(col("user_id") >= 990L).count() == 0L,
      "all predicate-TRUE rows must be deleted")
    assert(r2.filter(col("user_id") === 900L).count() == 1L,
      "NULL-predicate row inside a rewritten file must survive")
    // no-match delete commits nothing
    val vSame = Manifest.deleteWhere(spark, root, col("user_id") === -1L)
    assert(vSame == 2L && Manifest.versions(spark, root) == Seq(0L, 1L, 2L))
  }

  test("rewriteMigration replays the reference's status→enum alembic " +
      "chain: remap + UPPER + domain validation, violators dead-letter, " +
      "survivors commit atomically through the Manifest") {
    import spark.implicits._
    import graft.sources.{Manifest, SchemaEvolution}
    val root = Files.createTempDirectory("migrate").toString + "/fetch_metadata"
    val dead = Files.createTempDirectory("migrate_dead").toString + "/dl"
    // a silver fetch_metadata table in the PRE-migration text shape
    // (a1cbf11c1945: free-text statuses incl. the legacy 'finished')
    val v0 = Manifest.commit(Seq(
      ("f1", "finished"), ("f2", "error"), ("f3", "pending"),
      ("f4", "success"), ("f5", "garbled!!")   // the violator
    ).toDF("fetch_id", "status"), root)
    assert(v0 == 0L)
    // the migration: 'finished'→'success', UPPER, domain {PENDING,ERROR,SUCCESS}
    val (migrate, valid) = SchemaEvolution.toEnumMigration("status",
      Map("finished" -> "success"), Set("PENDING", "ERROR", "SUCCESS"))
    val res = SchemaEvolution.rewriteMigration(spark, root, dead)(migrate, valid)
    assert(res.version == 1L && res.deadLettered == 1L)
    val migrated = Manifest.read(spark, root)
    assert(migrated.count() == 4L)
    val byId = migrated.collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byId == Map("f1" -> "SUCCESS", "f2" -> "ERROR",
      "f3" -> "PENDING", "f4" -> "SUCCESS"))
    // the violator is captured with provenance, not silently dropped
    val dl = spark.read.parquet(dead)
    assert(dl.count() == 1L)
    val dlRow = dl.collect()(0)
    assert(dlRow.getAs[String]("fetch_id") == "f5")
    assert(dlRow.getAs[Long]("__migrated_from") == 0L)
    // time travel still reads the pre-migration text shape (atomicity:
    // versions are whole snapshots, never a mixed state)
    val before = Manifest.read(spark, root, Some(0L))
    assert(before.filter(col("status") === "finished").count() == 1L)
    // evolution policy still refuses the implicit path for this change
    intercept[IllegalArgumentException] {
      SchemaEvolution.unifiedSchema(Seq(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("status",
            org.apache.spark.sql.types.StringType))),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("status",
            org.apache.spark.sql.types.IntegerType)))))
    }
  }

  // ---- TxManifest: cross-table atomic commit (round 7) ---------------

  test("TxManifest.vacuum: retention follows tx pins — torn-commit " +
      "orphans (the NEWEST table versions) are reclaimed, pinned older " +
      "versions survive any age, retired tx records go; bad table " +
      "names (traversal/quotes) are rejected at commit") {
    import spark.implicits._
    import graft.sources.{Manifest, TxManifest}
    val txRoot = Files.createTempDirectory("txvac").toString + "/lake"
    def df(n: Long) = Seq((n, s"row$n")).toDF("id", "v")
    TxManifest.commit(spark, txRoot,
      Map("ledger" -> df(10), "obs" -> df(20)))          // tx0: ledger v0, obs v0
    TxManifest.commit(spark, txRoot, Map("ledger" -> df(11))) // tx1: ledger v1 (+obs v0 pin)
    // torn tx: phase 1 committed NEW versions of both tables, the
    // record never published — the orphans are the newest-by-number
    Manifest.commit(df(12), s"$txRoot/ledger")           // ledger v2, orphan
    Manifest.commit(df(21), s"$txRoot/obs")              // obs v1, orphan
    assert(Manifest.versions(spark, s"$txRoot/ledger") == Seq(0L, 1L, 2L))

    TxManifest.vacuum(spark, txRoot, keepTx = 1)
    // retired record gone, the latest tx alone remains
    assert(TxManifest.txVersions(spark, txRoot) == Seq(1L))
    // the pinned snapshot survives and still reads consistently —
    // including obs v0, RETAINED despite being the oldest version,
    // because the kept tx's carried-forward pin names it
    assert(TxManifest.read(spark, txRoot, "ledger")
      .collect().map(_.getLong(0)).toSeq == Seq(11L))
    assert(TxManifest.read(spark, txRoot, "obs")
      .collect().map(_.getLong(0)).toSeq == Seq(20L))
    // orphans and unpinned history reclaimed regardless of recency:
    // newest-K-by-number would have kept {v1,v2} / {v0,v1} — pin-aware
    // retention keeps exactly the pinned {v1} / {v0}
    assert(Manifest.versions(spark, s"$txRoot/ledger") == Seq(1L))
    assert(Manifest.versions(spark, s"$txRoot/obs") == Seq(0L))

    // hardened name validation: traversal and parser-breaking names
    // never become path segments
    for (bad <- Seq("..", ".", "a/b", "a\"b", "a\\b", "_x", ""))
      intercept[IllegalArgumentException] {
        TxManifest.commit(spark, txRoot, Map(bad -> df(1)))
      }
  }

  test("TxManifest: a crash between table commits is invisible — tx " +
      "readers see both new versions or neither (fetch_and_store " +
      "transactionality)") {
    import graft.sources.{Manifest, TxManifest}
    val txRoot = Files.createTempDirectory("tx1").resolve("lake").toString
    def obs(rows: (Long, String)*) = rows.toDF("k", "v")
    def led(rows: (String, String)*) = rows.toDF("fetch_id", "status")

    // tx 0: observations + ledger published together
    val tx0 = TxManifest.commit(spark, txRoot, Map(
      "observations" -> obs(1L -> "t20"),
      "fetch_ledger" -> led("f1" -> "success")))
    assert(tx0 == 0L)
    assert(TxManifest.read(spark, txRoot, "observations").count() == 1)
    assert(TxManifest.read(spark, txRoot, "fetch_ledger").count() == 1)

    // CRASH SIMULATION: phase 1 of the next tx lands (observations get
    // a new per-table version) but the process dies before the tx
    // record publishes — exactly the torn state two independent writes
    // would expose.
    Manifest.commit(obs(1L -> "t99", 2L -> "t21"), s"$txRoot/observations")
    // per-table manifest DOES see the orphan (that's the layer below)…
    assert(Manifest.read(spark, s"$txRoot/observations").count() == 2)
    // …but every tx-resolved reader still sees tx0's consistent pair:
    val snap = TxManifest.snapshot(spark, txRoot)
    assert(snap("observations").collect().map(r =>
      r.getLong(0) -> r.getString(1)).toSet == Set(1L -> "t20"))
    assert(snap("fetch_ledger").count() == 1)

    // recovery: the next FULL tx republishes both; its observations
    // commit lands AFTER the orphan version and wins
    val tx1 = TxManifest.commit(spark, txRoot, Map(
      "observations" -> obs(1L -> "t99", 2L -> "t21"),
      "fetch_ledger" -> led("f1" -> "success", "f2" -> "success")))
    assert(tx1 == 1L)
    val snap1 = TxManifest.snapshot(spark, txRoot)
    assert(snap1("observations").count() == 2)
    assert(snap1("fetch_ledger").count() == 2)
    // time travel: tx0 still resolves its original consistent pair
    assert(TxManifest.read(spark, txRoot, "observations", Some(0L))
      .collect().map(_.getString(1)).toSeq == Seq("t20"))
  }

  test("TxManifest: a tx writing one table carries the other tables' " +
      "pins forward; losing the tx-number race retries without " +
      "dropping pins") {
    import graft.sources.TxManifest
    import org.apache.hadoop.fs.Path
    val txRoot = Files.createTempDirectory("tx2").resolve("lake").toString
    TxManifest.commit(spark, txRoot, Map(
      "a" -> Seq(1L).toDF("x"), "b" -> Seq(10L).toDF("y")))
    // tx 1 touches only table a — b must stay pinned at its tx-0 version
    TxManifest.commit(spark, txRoot, Map("a" -> Seq(2L).toDF("x")))
    val pins = TxManifest.tableVersions(spark, txRoot,
      TxManifest.latestTx(spark, txRoot).get)
    assert(pins == Map("a" -> 1L, "b" -> 0L), s"pins: $pins")
    assert(TxManifest.read(spark, txRoot, "b").as[Long].head() == 10L)

    // stage a tx-number race: claim v2 behind the committer's back
    val fs = new Path(txRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new Path(s"$txRoot/_txlog/v1.json"), fs,
      new Path(s"$txRoot/_txlog/v2.json"), false,
      spark.sparkContext.hadoopConfiguration)
    val tx = TxManifest.commit(spark, txRoot, Map("b" -> Seq(20L).toDF("y")))
    assert(tx == 3L, s"loser must advance past the claimed tx: $tx")
    val pins3 = TxManifest.tableVersions(spark, txRoot, 3L)
    assert(pins3("a") == 1L && pins3("b") == 1L, s"pins3: $pins3")
  }

  test("Manifest.commitAppend: next version = old files by reference " +
      "+ new files; history is never rewritten") {
    import graft.sources.Manifest
    import org.apache.hadoop.fs.Path
    val root = Files.createTempDirectory("app1").resolve("ledger").toString
    // append onto a fresh root = version 0
    assert(Manifest.commitAppend(Seq(1L).toDF("x"), root) == 0L)
    assert(Manifest.commitAppend(Seq(2L, 3L).toDF("x"), root) == 1L)
    assert(Manifest.read(spark, root).as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 3L))
    // v1's file list strictly extends v0's — nothing was rewritten
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(v: Long): Set[String] = {
      val in = fs.open(new Path(s"$root/_manifests/v$v.json"))
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      "\"([^\"]+)\"".r.findAllMatchIn(body).map(_.group(1)).toSet
    }
    assert(files(0L).subsetOf(files(1L)), "append dropped old files")
    assert((files(1L) -- files(0L)).nonEmpty, "append added no files")
    // old version still reads its own snapshot (time travel intact)
    assert(Manifest.read(spark, root, Some(0L)).as[Long].collect().toSeq
      == Seq(1L))
  }
}

object LakeSpec {
  /** The local filesystem under the `lakefs` scheme, recording the path
    * of every directory listing and file open. */
  class TouchCountingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
    override def getUri: java.net.URI = java.net.URI.create("lakefs:///")
    override def getScheme: String = "lakefs"
    override def listStatus(f: org.apache.hadoop.fs.Path)
        : Array[org.apache.hadoop.fs.FileStatus] = {
      TouchCountingFileSystem.touched.add(f.toUri.getPath)
      super.listStatus(f)
    }
    override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
        : org.apache.hadoop.fs.FSDataInputStream = {
      TouchCountingFileSystem.touched.add(f.toUri.getPath)
      super.open(f, bufferSize)
    }
  }

  object TouchCountingFileSystem {
    val touched = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  }
}
