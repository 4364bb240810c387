package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.streaming.{FetchEventStream, JsonLinesSource}

class StreamingSpec extends SparkTestBase {
  import spark.implicits._
  import StreamingSpec._

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

  test("stream parses events, routes bad records, windows health") {
    val in = tmp("events")
    Files.writeString(in.resolve("batch0.json"),
      Seq(
        eventJson("f1", "success", 1000L * 3600 * 24),
        eventJson("f2", "error", 1000L * (3600 * 24 + 1800)),
        """{"fetch_id":"f3","status":"nonsense-status"}""",
        """not even json""").mkString("\n"))

    val parsed = FetchEventStream.parseEvents(
      FetchEventStream.readRaw(spark, in.toString))
    val q = parsed.writeStream.format("memory").queryName("parsed")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("parsed")
    assert(rows.count() == 4)
    assert(rows.filter(col("valid")).count() == 2)
    assert(FetchEventStream.deadLetters(rows).count() == 2)

    // health aggregation over the valid slice (batch-mode check of the
    // same plan the streaming sink runs incrementally)
    val health = FetchEventStream.windowedHealth(
      FetchEventStream.validEvents(rows))
    val h = health.orderBy("window").collect()
    assert(h.length == 1) // both events inside one 1h window
    assert(h(0).getAs[Long]("n_jobs") == 2)
    assert(h(0).getAs[Double]("success_rate") == 0.5)
  }

  test("dedupedEvents drops replayed fetch_ids with watermark-bounded state") {
    val in = tmp("events-dup")
    val hour = 3600 * 1000L
    Files.writeString(in.resolve("b0.json"), Seq(
      eventJson("f1", "success", hour),
      eventJson("f1", "success", hour + 60000L), // publisher retry
      eventJson("f2", "success", hour + 120000L),
      eventJson("f1", "success", hour + 90000L)  // second retry
    ).mkString("\n"))
    val deduped = FetchEventStream.dedupedEvents(
      FetchEventStream.validEvents(FetchEventStream.parseEvents(
        FetchEventStream.readRaw(spark, in.toString))))
    val q = deduped.writeStream.format("memory").queryName("deduped")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val ids = spark.table("deduped").select("fetch_id")
        .collect().map(_.getString(0)).sorted
      assert(ids.toSeq == Seq("f1", "f2"), s"got ${ids.mkString(",")}")
    } finally q.stop()
  }

  test("windowed health runs as a real streaming query with watermark") {
    val in = tmp("events2")
    Files.writeString(in.resolve("b.json"), Seq(
      eventJson("a", "success", 0),
      eventJson("b", "success", 30 * 60 * 1000L),
      eventJson("c", "error", 90 * 60 * 1000L)).mkString("\n"))
    val health = FetchEventStream.windowedHealth(
      FetchEventStream.validEvents(FetchEventStream.parseEvents(
        FetchEventStream.readRaw(spark, in.toString))))
    val q = health.writeStream.format("memory").queryName("health")
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("health").collect()
    assert(rows.map(_.getAs[Long]("n_jobs")).sum == 3)
    assert(rows.length == 2) // two 1h windows
  }

  test("normalizeToSilver consumes events into a merged silver table") {
    val events = tmp("events3"); val bronze = tmp("lake").resolve("bronze")
    val silver = tmp("silver").resolve("obs"); val ckpt = tmp("ckpt")

    // bronze payload files, each where its event's path names it
    writeBronze(bronze, "f1" -> payload(1.0, 20.0), "f2" -> payload(2.0, 25.0))
    Files.writeString(events.resolve("b0.json"),
      eventJson("f1", "success", 1000) + "\n" + eventJson("f2", "success", 2000))

    val ev = FetchEventStream.validEvents(FetchEventStream.parseEvents(
      FetchEventStream.readRaw(spark, events.toString)))
    val q = FetchEventStream.normalizeToSilver(
      ev, bronze.toString, silver.toString, ckpt.toString)
    try q.processAllAvailable() finally q.stop()

    val obs = spark.read.parquet(silver.toString)
    assert(obs.count() == 2) // one hour per payload
    assert(obs.select("latitude").as[Double].collect().toSet == Set(1.0, 2.0))

    // second batch: a re-fetch of lat=1.0 wins over the old observation
    writeBronze(bronze, "f3" -> payload(1.0, 99.0))
    Files.writeString(events.resolve("b1.json"),
      eventJson("f3", "success", 5000) + "\n" +
        // unknown source url -> registry miss -> skipped (StreamLoadError path)
        eventJson("f3", "success", 6000)
          .replace("https://api.open-meteo.com/v1/forecast", "https://unknown.example/v2"))
    val q2 = FetchEventStream.normalizeToSilver(
      ev, bronze.toString, silver.toString, ckpt.toString)
    try q2.processAllAvailable() finally q2.stop()

    val obs2 = spark.read.parquet(silver.toString)
    assert(obs2.count() == 2)
    val lat1 = obs2.filter(col("latitude") === 1.0).head()
    assert(lat1.getAs[Double]("temperature") == 99.0, "newest fetch wins")
  }

  test("stream-stream join emits request→completion latency, inner-only") {
    val in = tmp("latency")
    val base = 1000L * 3600 * 24
    Files.writeString(in.resolve("batch0.json"),
      Seq(
        eventJson("f1", "pending", base),
        eventJson("f1", "success", base + 60000L),
        eventJson("f2", "pending", base + 1000L),
        eventJson("f2", "error", base + 121000L),
        eventJson("f3", "pending", base + 2000L),   // never completes
        eventJson("f4", "success", base + 3000L)    // never requested
      ).mkString("\n"))
    val events = FetchEventStream.validEvents(
      FetchEventStream.parseEvents(FetchEventStream.readRaw(spark, in.toString)))
    val lat = FetchEventStream.requestLatency(events, events)
    val q = lat.writeStream.format("memory").queryName("lat")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("lat").orderBy("fetch_id").collect()
    assert(rows.map(_.getAs[String]("fetch_id")).toSeq == Seq("f1", "f2"))
    assert(rows(0).getAs[Long]("latency_ms") == 60000L)
    assert(rows(0).getAs[String]("final_status") == "success")
    assert(rows(1).getAs[Long]("latency_ms") == 120000L)
    assert(rows(1).getAs[String]("final_status") == "error")
  }

  test("streaming rollup: per-batch state folds equal one-shot; replay-safe") {
    import graft.streaming.StreamingRollup
    val dir = tmp("rollup")
    val stateDir = dir.resolve("state").toString
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_type", "value")
    // two "micro-batches" through the same fold the sink runs
    val b0 = ev.filter(col("value") < 50)
    val b1 = ev.filter(col("value") >= 50)
    StreamingRollup.foldBatch(b0, 0L, Seq("event_type"), "value", stateDir)
    StreamingRollup.foldBatch(b1, 1L, Seq("event_type"), "value", stateDir)
    val got = StreamingRollup.current(spark, stateDir, Seq("event_type"))
      .orderBy("event_type").collect().toSeq
    val oneShot = graft.ops.IncrementalAgg.finalize(
      graft.ops.IncrementalAgg.state(ev, Seq("event_type"), "value"),
      Seq("event_type")).orderBy("event_type").collect().toSeq
    assert(got == oneShot)
    // at-least-once replay of batch 1 must not double-count
    StreamingRollup.foldBatch(b1, 1L, Seq("event_type"), "value", stateDir)
    val replayed = StreamingRollup.current(spark, stateDir, Seq("event_type"))
      .orderBy("event_type").collect().toSeq
    assert(replayed == oneShot, "replayed batch double-counted")
  }

  test("streaming rollup runs as a real foreachBatch sink") {
    import graft.streaming.StreamingRollup
    val dir = tmp("rollupstream")
    val in = dir.resolve("in"); java.nio.file.Files.createDirectories(in)
    val stateDir = dir.resolve("state").toString
    java.nio.file.Files.writeString(in.resolve("b0.json"),
      """{"k":"a","v":1.0}
{"k":"a","v":3.0}
{"k":"b","v":10.0}""")
    val stream = spark.readStream.schema("k STRING, v DOUBLE").json(in.toString)
    val q = StreamingRollup.maintain(stream, Seq("k"), "v", stateDir,
      dir.resolve("cp").toString)
    try q.processAllAvailable() finally q.stop()
    val rows = StreamingRollup.current(spark, stateDir, Seq("k"))
      .orderBy("k").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("n") == 2 && rows(0).getAs[Double]("mean") == 2.0)
    assert(rows(1).getAs[Double]("total") == 10.0)
  }

  test("session_window streams: watermark closes and emits gap sessions") {
    import graft.streaming.StatefulSessions
    val dir = tmp("swstream")
    def write(name: String, rows: Seq[(Long, String)]): Unit =
      java.nio.file.Files.writeString(dir.resolve(name),
        rows.map { case (u, ts) => s"""{"user_id":$u,"ts":"$ts"}""" }.mkString("\n"))
    write("b0.json", Seq(
      1L -> "2026-01-01 10:00:00", 1L -> "2026-01-01 10:10:00",
      2L -> "2026-01-01 09:00:00"))
    val stream = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP").json(dir.toString)
    val sessions = StatefulSessions.sessionWindowAgg(
      stream.withWatermark("ts", "10 minutes"), gapSeconds = 1800)
    val q = sessions.writeStream.format("memory").queryName("sw")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // advance the watermark past user 1's first session end (10:40)
      write("b1.json", Seq(1L -> "2026-01-01 13:00:00"))
      q.processAllAvailable()
      write("b2.json", Seq(9L -> "2026-01-01 15:00:00"))
      q.processAllAvailable()
      val rows = spark.table("sw").orderBy("user_id", "session_start").collect()
      val u1 = rows.filter(_.getLong(0) == 1L)
      assert(u1.nonEmpty, s"user 1 session not emitted: ${rows.mkString(";")}")
      assert(u1.head.getAs[Long]("n_events") == 2)
      assert(u1.head.getAs[java.sql.Timestamp]("session_start").toString
        .startsWith("2026-01-01 10:00:00"))
      assert(u1.head.getAs[java.sql.Timestamp]("session_end").toString
        .startsWith("2026-01-01 10:40:00")) // last event + gap
      val u2 = rows.filter(_.getLong(0) == 2L)
      assert(u2.length == 1 && u2.head.getAs[Long]("n_events") == 1)
    } finally q.stop()
  }

  test("transport independence: the same normalize-upsert graph from " +
      "JSON-lines and Avro-wire sources yields identical silver tables") {
    import graft.streaming.{AvroWire, AvroWireSource}
    val eventsDir = tmp("tiev"); val wireDir = tmp("tiwire")
    val bronze = tmp("tilake").resolve("bronze")
    val silverA = tmp("tisA").resolve("obs"); val ckptA = tmp("tickA")
    val silverB = tmp("tisB").resolve("obs"); val ckptB = tmp("tickB")

    writeBronze(bronze, "f1" -> payload(1.0, 20.0), "f2" -> payload(2.0, 25.0))
    val lines = eventJson("f1", "success", 1000) + "\n" +
      eventJson("f2", "success", 2000)
    Files.writeString(eventsDir.resolve("b0.json"), lines)
    // the SAME logical events as Kafka-shaped Avro wire frames — with
    // the CONFLUENT FRAMING the reference producer actually emits
    // (magic + schema id + body), so this drives the exact bytes a
    // real topic would carry through the whole consume graph
    val batchEvents = FetchEventStream.parseEvents(
      spark.read.text(eventsDir.toString).withColumnRenamed("value", "raw"))
      .filter(col("valid"))
      .select("fetch_id", "source", "status", "path", "params", "finished_at")
    AvroWire.encodeFetchEventsFramed(batchEvents)
      .write.mode("overwrite").parquet(wireDir.toString)

    // one graph, two transports — nothing downstream changes
    val qA = FetchEventStream.consume(spark,
      JsonLinesSource(eventsDir.toString),
      bronze.toString, silverA.toString, ckptA.toString)
    try qA.processAllAvailable() finally qA.stop()
    val qB = FetchEventStream.consume(spark,
      AvroWireSource(s => s.readStream
        .schema("key STRING, value BINARY").parquet(wireDir.toString)),
      bronze.toString, silverB.toString, ckptB.toString)
    try qB.processAllAvailable() finally qB.stop()

    def canon(dir: String): Seq[String] = {
      val df = spark.read.parquet(dir)
      df.select(df.columns.sorted.map(col).toSeq: _*)
        .collect().map(_.toString).sorted.toSeq
    }
    val a = canon(silverA.toString)
    assert(a.nonEmpty)
    assert(a == canon(silverB.toString),
      "transport must be invisible to the normalize-upsert graph")
  }

  test("events with null/missing status land in the dead-letter feed, not limbo") {
    val in = tmp("nullstatus")
    Files.writeString(in.resolve("b0.json"),
      Seq(
        """{"fetch_id":"ok","source":"s","status":"success","path":"p","params":{},"finished_at":1}""",
        """{"fetch_id":"nostatus","source":"s","path":"p","params":{},"finished_at":2}""").mkString("\n"))
    val parsed = FetchEventStream.parseEvents(
      FetchEventStream.readRaw(spark, in.toString))
    val q = parsed.writeStream.format("memory").queryName("nullstatus")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("nullstatus")
    assert(rows.count() == 2)
    assert(FetchEventStream.validEvents(rows).count() == 1)
    // the missing-status event must be AUDITABLE, not silently dropped
    assert(FetchEventStream.deadLetters(rows).count() == 1)
  }

  test("normalizeToSilverTx: each micro-batch publishes observations + " +
      "ledger as ONE transaction; replay keeps the observable state " +
      "exactly-once") {
    import graft.sources.TxManifest
    val events = tmp("txevents"); val bronze = tmp("txbronze").resolve("bronze")
    val txRoot = tmp("txlake").resolve("lake"); val ckpt = tmp("txckpt")

    writeBronze(bronze, "f1" -> payload(1.0, 20.0), "f2" -> payload(2.0, 25.0))
    Files.writeString(events.resolve("b0.json"),
      eventJson("f1", "success", 1000) + "\n" + eventJson("f2", "success", 2000))

    val ev = FetchEventStream.validEvents(FetchEventStream.parseEvents(
      FetchEventStream.readRaw(spark, events.toString)))
    val q = FetchEventStream.normalizeToSilverTx(
      ev, bronze.toString, txRoot.toString, ckpt.toString)
    try q.processAllAvailable() finally q.stop()

    // one tx holds BOTH tables: the observations of the batch and its
    // ledger rows resolve from the same tx record
    val snap = TxManifest.snapshot(spark, txRoot.toString)
    assert(snap.keySet == Set("observations", "fetch_ledger"))
    assert(snap("observations").count() == 2)
    assert(snap("fetch_ledger").select("fetch_id").as[String]
      .collect().toSet == Set("f1", "f2"))

    // second batch: re-fetch of lat=1.0 must win; the tx advances
    writeBronze(bronze, "f3" -> payload(1.0, 99.0))
    Files.writeString(events.resolve("b1.json"),
      eventJson("f3", "success", 5000))
    val q2 = FetchEventStream.normalizeToSilverTx(
      ev, bronze.toString, txRoot.toString, ckpt.toString)
    try q2.processAllAvailable() finally q2.stop()

    val snap2 = TxManifest.snapshot(spark, txRoot.toString)
    assert(snap2("observations").count() == 2)
    assert(snap2("observations").filter(col("latitude") === 1.0)
      .head().getAs[Double]("temperature") == 99.0, "newest fetch wins")
    assert(snap2("fetch_ledger").count() == 3)

    // AT-LEAST-ONCE REPLAY: wipe the checkpoint so the stream replays
    // every batch; the merged observations must be IDENTICAL (idempotent
    // upsert) and the ledger's per-job current state unchanged
    val ckpt2 = tmp("txckpt2")
    val q3 = FetchEventStream.normalizeToSilverTx(
      ev, bronze.toString, txRoot.toString, ckpt2.toString)
    try q3.processAllAvailable() finally q3.stop()
    val snap3 = TxManifest.snapshot(spark, txRoot.toString)
    assert(snap3("observations").count() == 2)
    assert(snap3("observations").filter(col("latitude") === 1.0)
      .head().getAs[Double]("temperature") == 99.0,
      "replay changed the observable state")
    // append-only ledger grew, but the RESOLVED per-job state is stable
    val state = graft.meteo.FetchLedger.currentState(
      snap3("fetch_ledger").withColumn("seq", col("finished_at").cast("long"))
        .withColumn("at", col("finished_at")))
    assert(state.select("fetch_id").as[String].collect().toSet
      == Set("f1", "f2", "f3"))

    // tx0 time travel: the first batch's consistent pair is intact
    val first = TxManifest.snapshot(spark, txRoot.toString, Some(0L))
    assert(first("observations").count() == 2)
    assert(first("fetch_ledger").count() == 2)
  }

  test("a success event without a path is dead-lettered by both " +
      "transports, never silently dropped") {
    import graft.streaming.AvroWire
    val in = tmp("nullpath")
    Files.writeString(in.resolve("b0.json"), Seq(
      eventJson("ok", "success", 1000),
      eventJson("nopath", "success", 2000).replace("\"bronze/nopath.json\"", "null"),
      eventJson("err", "error", 3000).replace("\"bronze/err.json\"", "null")
    ).mkString("\n"))
    val json = FetchEventStream.parseEvents(
      spark.read.text(in.toString).withColumnRenamed("value", "raw"))
    val wire = AvroWire.decodeFetchEvents(AvroWire.encodeFetchEvents(
      json.select("fetch_id", "source", "status", "path", "params", "finished_at")))
    for ((name, parsed) <- Seq("json" -> json, "avro" -> wire)) {
      assert(parsed.filter(col("valid")).count() == 3, name)
      assert(FetchEventStream.validEvents(parsed).select("fetch_id").as[String]
        .collect().sorted.toSeq == Seq("err", "ok"), name)
      assert(FetchEventStream.deadLetters(parsed).count() == 1, name)
    }
  }

  test("a micro-batch reads only the bronze files its events name: a " +
      "same-fetch_id payload in an unreferenced file never reaches silver") {
    val events = tmp("unrefev"); val bronze = tmp("unreflake").resolve("bronze")
    val silver = tmp("unrefsilver").resolve("obs")
    writeBronze(bronze, "f1" -> payload(1.0, 20.0))
    // a stale copy of f1's payload, for another hour, in a file no event names
    Files.writeString(bronze.resolve("stale.json"),
      bronzeLine("f1", payload(1.0, 30.0, "2026-01-01T05:00")) + "\n")
    Files.writeString(events.resolve("b0.json"), eventJson("f1", "success", 1000))
    consumeAll(spark, events, bronze.toString, silver, tmp("unrefckpt"))
    val hours = spark.read.parquet(silver.toString)
      .select(hour(col("timestamp"))).as[Int].collect().toSeq
    assert(hours == Seq(0), s"silver hours $hours")
  }

  test("a referenced bronze file that does not exist fails the batch, " +
      "and the error names the path") {
    val events = tmp("missev"); val bronze = tmp("misslake").resolve("bronze")
    writeBronze(bronze, "f1" -> payload(1.0, 20.0))
    Files.writeString(events.resolve("b0.json"),
      eventJson("f1", "success", 1000) + "\n" + eventJson("gone", "success", 2000))
    val e = intercept[Exception] {
      consumeAll(spark, events, bronze.toString, tmp("misssilver").resolve("obs"),
        tmp("missckpt"))
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains(bronze.resolve("gone.json").toString)),
      messages.mkString("\n"))
  }

  test("a micro-batch into an existing table runs 3 SQL actions (path " +
      "probe, touched days, write) and reads each referenced bronze file " +
      "once, all in one of them") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[OpenCountingFileSystem].getName)
    val events = tmp("actev"); val bronze = tmp("actlake").resolve("bronze")
    val silver = tmp("actsilver").resolve("obs"); val ckpt = tmp("actckpt")
    writeBronze(bronze, "f1" -> payload(1.0, 20.0), "f2" -> payload(2.0, 21.0),
      "f3" -> payload(3.0, 22.0), "other" -> payload(4.0, 23.0))
    def consume(): Unit = consumeAll(spark, events, "countfs://" + bronze, silver, ckpt)
    Files.writeString(events.resolve("b0.json"), eventJson("f1", "success", 1000))
    consume() // lays out the silver table
    Files.writeString(events.resolve("b1.json"),
      eventJson("f2", "success", 2000) + "\n" + eventJson("f3", "success", 3000))
    OpenCountingFileSystem.opens.clear()
    val actions = actionsOf(consume())
    val opens = OpenCountingFileSystem.opens.asScala.toSeq
      .filter(_._1.contains(bronze.toString))
    assert(actions.size == 3, s"actions: $actions")
    assert(opens.map(o => new org.apache.hadoop.fs.Path(o._1).getName).sorted
      == Seq("f2.json", "f3.json"), s"bronze opens: $opens")
    assert(opens.map(_._2).distinct.size == 1,
      s"bronze read under several SQL executions: $opens")
  }

  test("a micro-batch into an existing table runs at most 4 Spark jobs: " +
      "the events collect, one single-stage job that caches the batch and " +
      "returns its touched days, and the merge write's two") {
    val events = tmp("jobev"); val bronze = tmp("joblake").resolve("bronze")
    val silver = tmp("jobsilver").resolve("obs"); val ckpt = tmp("jobckpt")
    writeBronze(bronze, "f1" -> payload(1.0, 20.0), "f2" -> payload(2.0, 21.0),
      "f3" -> payload(3.0, 22.0, "2026-01-02T00:00"))
    def consume(): Unit = consumeAll(spark, events, bronze.toString, silver, ckpt)
    Files.writeString(events.resolve("b0.json"), eventJson("f1", "success", 1000))
    consume() // lays out the silver table
    Files.writeString(events.resolve("b1.json"),
      eventJson("f2", "success", 2000) + "\n" + eventJson("f3", "success", 3000))
    val jobs = jobsOf(consume())
    assert(jobs.size <= 4, s"${jobs.size} jobs: " +
      jobs.map(j => (j.stageIds.size,
        Option(j.properties).map(_.getProperty("spark.job.description")).orNull)))
    assert(spark.read.parquet(silver.toString).count() == 3)
  }
}

object StreamingSpec {
  /** A meteo fetch event whose `path` names `bronze/<id>.json`. */
  def eventJson(id: String, status: String, millis: Long): String =
    s"""{"fetch_id":"$id","source":"https://api.open-meteo.com/v1/forecast","status":"$status",""" +
      s""""path":"bronze/$id.json","params":{"latitude":"1.0"},"finished_at":$millis}"""

  /** A one-hour meteo payload at (`lat`, 9.0) for `time`. */
  def payload(lat: Double, temp: Double, time: String = "2026-01-01T00:00"): String =
    s"""{"latitude":$lat,"longitude":9.0,"hourly":{"time":["$time"],
       |"temperature_2m":[$temp],"precipitation":[0.0],
       |"soil_temperature_18cm":[1.0],"soil_moisture_9_to_27cm":[0.1],
       |"wind_speed_10m":[5.0],"wind_direction_10m":[90],"cloud_cover":[10]}}"""
      .stripMargin.replace("\n", "")

  /** One bronze line: the payload embedded as a JSON string. */
  def bronzeLine(fetchId: String, payload: String): String = {
    val quoted = payload.replace("\\", "\\\\").replace("\"", "\\\"")
    s"""{"fetch_id":"$fetchId","payload":"$quoted"}"""
  }

  /** Runs one [[FetchEventStream.consume]] query over the JSON-lines
    * events under `events` until it has processed everything available,
    * then stops it. */
  def consumeAll(spark: SparkSession, events: Path, bronzeDir: String,
      silver: Path, ckpt: Path): Unit = {
    val q = FetchEventStream.consume(spark, JsonLinesSource(events.toString),
      bronzeDir, silver.toString, ckpt.toString)
    try q.processAllAvailable() finally q.stop()
  }

  /** Writes each `(fetch_id, payload)` to `bronze/<fetch_id>.json`, the
    * file the event fixtures' `path` names (relative to the lake root,
    * the parent of `bronze`). */
  def writeBronze(bronze: Path, payloads: (String, String)*): Unit = {
    Files.createDirectories(bronze)
    payloads.foreach { case (id, p) =>
      Files.writeString(bronze.resolve(s"$id.json"), bronzeLine(id, p) + "\n")
    }
  }

  /** The local filesystem under the `countfs` scheme, recording every
    * file open with the SQL execution id of the task that opens it. */
  class OpenCountingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
    override def getUri: java.net.URI = java.net.URI.create("countfs:///")
    override def getScheme: String = "countfs"
    override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
        : org.apache.hadoop.fs.FSDataInputStream = {
      OpenCountingFileSystem.opens.add(f.toString -> Option(TaskContext.get())
        .map(_.getLocalProperty("spark.sql.execution.id")).orNull)
      super.open(f, bufferSize)
    }
  }

  object OpenCountingFileSystem {
    val opens = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
  }
}
