package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Exact
import graft.meteo.{MeteoSchemas, Sources}
import graft.ops.Upsert

/** The reference's stream-first lane (streaming/consumer.py,
  * streaming/load.py:43-59) as Structured Streaming.
  *
  * Reference shape: Avro `FetchEvent`s on Kafka reference raw payload
  * files in the bronze lake; a consumer polls, deserializes (skipping
  * undeserializable messages), reads the referenced file, normalizes and
  * upserts into Postgres, committing offsets only after processing
  * (at-least-once).
  *
  * Spark-native shape: a file/Kafka stream of JSON fetch events →
  * [[parseEvents]] (schema-validated, bad records routed, mirroring the
  * consumer's skip-on-SerializationError) → [[normalizeToSilver]]
  * (foreachBatch: join events to bronze payloads, normalize, last-write-
  * wins merge into a silver parquet table — checkpointing gives the same
  * at-least-once + idempotent-upsert contract) → [[windowedHealth]]
  * (watermarked success/error-rate monitoring, the operational view the
  * reference gets from its fetch_metadata dashboard).
  *
  * Scale: events are tiny control records — the heavy lifting (payload
  * normalization) is per-batch embarrassingly parallel, and the merge
  * shuffles only on the observation natural key.
  */
object FetchEventStream {
  import MeteoSchemas._

  /** Open a streaming source of raw fetch-event JSON lines. */
  def readRaw(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema("value STRING").text(dir)
      .withColumnRenamed("value", "raw")

  /** Parse + validate raw event lines against the FetchEvent schema
    * (field-for-field with fetch_event.avsc). Undeserializable or
    * schema-violating lines get `valid = false` and survive with their
    * raw payload (routable to a dead-letter sink) instead of killing the
    * stream — the consumer's SerializationError skip, made auditable. */
  def parseEvents(raw: DataFrame): DataFrame =
    raw
      .withColumn("e", from_json(col("raw"), fetchEventSchema))
      .withColumn("valid",
        // coalesce: a null/missing status makes the isin() NULL, and a
        // NULL valid flag would vanish from BOTH the valid feed and the
        // dead-letter feed (filter(v) and filter(!v) each drop NULL)
        coalesce(
          col("e").isNotNull &&
          col("e.fetch_id").isNotNull && col("e.source").isNotNull &&
          col("e.status").isin(FetchStatus.Pending, FetchStatus.Error,
            FetchStatus.Success),
          lit(false)))
      .select(col("raw"), col("valid"), col("e.*"))
      .withColumn("finished_at", timestamp_millis(col("finished_at")))

  /** Events the consumer can act on: parsed cleanly and, for a
    * `success`, naming the bronze file its payload sits in (`path` —
    * see [[normalizeToSilver]]). A success without a path references no
    * payload, so it is a bad record too, never a silent no-op. Never
    * NULL: `valid` is non-null and `<=>` is null-safe. */
  private def usable: Column =
    col("valid") && !((col("status") <=> FetchStatus.Success) && col("path").isNull)

  /** Events that parsed cleanly; the complement is the dead-letter feed. */
  def validEvents(parsed: DataFrame): DataFrame =
    parsed.filter(usable).drop("raw", "valid")

  def deadLetters(parsed: DataFrame): DataFrame =
    parsed.filter(!usable).select("raw")

  /** Consume successful fetch events: per micro-batch, read the bronze
    * payloads the events reference, normalize to observation rows, and
    * last-write-wins merge into the silver observations table at
    * `silverDir` (the consume→normalize→upsert loop; Postgres ON
    * CONFLICT becomes [[Upsert.mergeByKey]] over parquet).
    *
    * The `path` contract (streaming/load.py:43-59): a success event's
    * `path` names the bronze JSON-lines file holding its payload, as a
    * `{"fetch_id", "payload"}` line. A relative path resolves against
    * the lake root, the parent of `bronzeDir` (the reference writes
    * `bronze/<file>`); an absolute one is used as given. A micro-batch
    * reads only the files its events name — never the whole bronze
    * root — and matches `fetch_id` inside them, since one file may
    * hold many payloads. A named file that does not exist fails the
    * batch with an error naming the path.
    *
    * Spark jobs per micro-batch into an existing table: 4. One
    * `collect` of the batch's events (an empty batch stops there), one
    * single-stage job that reads the bronze files once, caches the
    * normalized rows and returns their touched days, and the two jobs
    * of the merge write ([[Upsert.mergePartitioned]]). The events are
    * never read again: bronze rows are matched to them by plan-time
    * literals, not by a join. Three of the jobs are SQL actions
    * (events, touched days, write).
    *
    * Returns the started query; callers own checkpoint location. */
  def normalizeToSilver(events: DataFrame, bronzeDir: String,
      silverDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val lakeRoot = lakeRootOf(events.sparkSession, bronzeDir)
    events.filter(col("status") === FetchStatus.Success).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val events = collectEvents(batch)
        val files = referencedFiles(events, lakeRoot)
        if (files.nonEmpty) {
          val batchObs = batchObservations(spark, events, files)
          // partition-bounded MERGE: the silver table is day-partitioned
          // and only the days present in this batch are read + rewritten
          // (Upsert.mergePartitioned) — a micro-batch costs its touched
          // days, never a full-table rewrite.
          Upsert.mergePartitioned(spark, silverDir,
            batchObs.withColumn("obs_date",
              date_format(col("timestamp"), "yyyy-MM-dd")),
            Seq("latitude", "longitude", "timestamp"), col("version"),
            "obs_date")
        }
        ()
      }
      .start()
  }

  /** The lake root that relative event paths resolve against: the
    * qualified parent of `bronzeDir`. */
  private def lakeRootOf(spark: SparkSession, bronzeDir: String): String = {
    val bronze = new Path(bronzeDir)
    val fs = bronze.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.makeQualified(bronze).getParent.toString
  }

  /** A micro-batch's events on the driver, as (fetch_id, source,
    * version, path) rows: one `collect` of the columns the batch needs,
    * one short row per event. `version` is the event's `finished_at` as
    * epoch seconds, the last-write-wins order. Empty for an empty batch. */
  private def collectEvents(batch: DataFrame): Array[Row] =
    batch.select(col("fetch_id"), col("source"),
        col("finished_at").cast("long").as("version"), col("path"))
      .collect()

  /** The distinct bronze files a micro-batch's `events` name, resolved
    * against `lakeRoot`, de-duplicated on the driver. Empty for an empty
    * batch. */
  private def referencedFiles(events: Array[Row], lakeRoot: String)
      : Seq[String] =
    events.iterator.flatMap(r => Option(r.getString(3))).toSeq.distinct
      .map { p =>
        val path = new Path(p)
        (if (path.isAbsolute) path else new Path(lakeRoot, p)).toString
      }

  /** One micro-batch's `events` → normalized observation rows (with
    * their last-write-wins `version`): the bronze rows in `files` (the
    * batch's [[referencedFiles]]) whose `fetch_id` an event carries,
    * each event's transform resolved through the source registry
    * (streaming/load.py:49-52); events from unregistered sources are
    * skipped, the consumer's StreamLoadError path.
    *
    * Bronze rows meet their events through plan-time literals (a
    * `fetch_id` IN-set and a fetch_id → version map per source), not a
    * join: the plan never re-reads the batch, and no job broadcasts it.
    * A replayed `fetch_id` takes its newest version, the row
    * last-write-wins would keep among the replays. Both literals hold
    * one entry per event, like the collected events themselves; the IN
    * filter is a hash-set probe, but a map lookup scans its keys, so a
    * bronze row costs O(events in the batch) — nothing at this lane's
    * hundreds of events per batch, the first cost to revisit if batches
    * reach ~10^5 events. */
  private def batchObservations(spark: SparkSession, events: Array[Row],
      files: Seq[String]): DataFrame = {
    val bronze = spark.read.schema("fetch_id STRING, payload STRING")
      .json(files: _*)
    Sources.registry.values.toSeq.map { src =>
      val versions: Map[String, Option[Long]] = events.toSeq
        .filter(r => !r.isNullAt(0) && r.getString(1) == src.url)
        .groupMapReduce(_.getString(0))(r =>
          if (r.isNullAt(2)) None else Some(r.getLong(2)))(
          Ordering[Option[Long]].max)
      src.normalize(
        bronze.filter(col("fetch_id").isin(versions.keys.toSeq: _*))
          .select(col("fetch_id"), col("payload"),
            element_at(typedLit(versions), col("fetch_id")).as("version")))
    }.reduce(_ unionByName _)
  }

  /** [[normalizeToSilver]] with the reference's CROSS-TABLE consistency:
    * each micro-batch publishes the updated observations table AND the
    * batch's ledger transitions as ONE [[graft.sources.TxManifest]]
    * transaction under `txRoot` (tables `observations` /
    * `fetch_ledger`). The reference's `fetch_and_store` leaves
    * `weather_observations` and `fetch_metadata` mutually consistent
    * because Postgres transactions do (etl/load.py:61-118,
    * etl/app.py:96-156); two independent parquet writes cannot — a
    * crash between them publishes one table without the other, a torn
    * state no reference reader can observe. Through the tx log, a
    * reader resolving [[graft.sources.TxManifest.snapshot]] sees the
    * observations of a batch iff it sees the batch's ledger rows.
    *
    * Failure/replay contract: a crash AFTER the tx publish but before
    * the stream checkpoint advances replays the batch; the replay
    * re-merges the same observations (last-write-wins upsert is
    * idempotent) and re-appends the same ledger transitions, which
    * [[graft.meteo.FetchLedger.currentState]] resolves to the identical
    * per-job state — at-least-once delivery, exactly-once observable
    * effect, same as the non-tx lane.
    *
    * Scale shape: the ledger moves through [[graft.sources
    * .Manifest.commitAppend]] (new files + the old file LIST — an
    * append-only log never rewrites history); the observations merge
    * rewrites the table here for spec-scale clarity — at lake scale the
    * merge composes with the same file-granular copy-on-write
    * [[graft.sources.Manifest.deleteWhere]] demonstrates (rewrite only
    * files containing collided keys, carry the rest by reference). */
  def normalizeToSilverTx(events: DataFrame, bronzeDir: String,
      txRoot: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.sources.{Manifest, TxManifest}
    val lakeRoot = lakeRootOf(events.sparkSession, bronzeDir)
    events.filter(col("status") === FetchStatus.Success).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val events = collectEvents(batch)
        val files = referencedFiles(events, lakeRoot)
        if (files.nonEmpty) {
          val batchObs = batchObservations(spark, events, files)
          val keys = Seq("latitude", "longitude", "timestamp")
          val merged = TxManifest.latestTx(spark, txRoot) match {
            case Some(tx) =>
              val prev = TxManifest.read(spark, txRoot, "observations",
                Some(tx))
              Upsert.mergeByKey(prev, batchObs, keys, col("version"))
            case None => Upsert.latestByKey(batchObs, keys, col("version"))
          }
          val ledgerRows = batch.select(
            col("fetch_id"), col("source"), col("status"),
            col("finished_at"), lit(batchId).as("batch_id"))
          // phase 1 of the tx: append the ledger rows as the ledger
          // table's next version (old files carried by reference);
          // phase 2 inside TxManifest.commit publishes both pins
          // atomically.
          val ledgerV = Manifest.commitAppend(ledgerRows,
            s"$txRoot/fetch_ledger")
          TxManifest.commitAt(spark, txRoot,
            Map("observations" -> merged),
            pinned = Map("fetch_ledger" -> ledgerV))
        }
        ()
      }
      .start()
  }

  /** The consumer lane against a pluggable transport: valid events off
    * `source` (any [[EventSource]]) feed the normalize-upsert graph.
    * The graph itself never sees the transport — the property the
    * [[EventSource]] boundary exists to guarantee. */
  def consume(spark: SparkSession, source: EventSource, bronzeDir: String,
      silverDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    normalizeToSilver(validEvents(source.events(spark)),
      bronzeDir, silverDir, checkpointDir)

  /** Exactly-once event feed from an at-least-once publisher: drop
    * replayed fetch events by fetch_id. The reference's producer
    * (streaming/load.py) republishes on retry, so consumers see
    * duplicate fetch_ids arriving near the original event time.
    * `dropDuplicatesWithinWatermark` keys dedup state by fetch_id but
    * EVICTS it once the watermark passes — state stays bounded by the
    * duplicate horizon (retries arrive within minutes), where plain
    * `dropDuplicates` would accrete one state row per fetch_id forever
    * (unbounded at 100 TB-scale ingest). */
  def dedupedEvents(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("finished_at", watermark)
      .dropDuplicatesWithinWatermark("fetch_id")

  /** Stream-stream join: PENDING (request) events matched with their
    * terminal SUCCESS/ERROR events by fetch_id — per-fetch latency AT
    * INGEST, the reference's `created_at → finished_at` ledger delta
    * (etl/db.py:52) computed without a table scan. Both sides carry
    * watermarks and the join condition time-bounds the match to
    * `horizonSeconds`, so each side's buffered state evicts once the
    * watermark passes the horizon — bounded by in-flight fetches, not
    * ingest history. Inner join: a request with no terminal event in
    * horizon ages out silently (the ledger rollup still reports it
    * PENDING). */
  def requestLatency(requests: DataFrame, completions: DataFrame,
      watermark: String = "1 hour", horizonSeconds: Long = 7200)
      : DataFrame = {
    val req = requests.filter(col("status") === FetchStatus.Pending)
      .select(col("fetch_id"), col("finished_at").as("req_at"))
      .withWatermark("req_at", watermark)
    val done = completions
      .filter(col("status").isin(FetchStatus.Success, FetchStatus.Error))
      .select(col("fetch_id").as("done_fetch_id"),
        col("status").as("final_status"), col("finished_at").as("done_at"))
      .withWatermark("done_at", watermark)
    req.join(done,
        col("fetch_id") === col("done_fetch_id") &&
        col("done_at") >= col("req_at") &&
        col("done_at") <= col("req_at") + expr(s"interval $horizonSeconds seconds"))
      .select(col("fetch_id"), col("final_status"), col("req_at"), col("done_at"),
        (unix_millis(col("done_at")) - unix_millis(col("req_at")))
          .as("latency_ms"))
  }

  /** Watermarked tumbling-window fetch-health aggregation: per window,
    * jobs by terminal status and the success rate — the dashboard's
    * health tiles, computed incrementally instead of by table scan. */
  def windowedHealth(events: DataFrame, windowLength: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .filter(col("status").isin(FetchStatus.Error, FetchStatus.Success))
      .withWatermark("finished_at", watermark)
      .groupBy(window(col("finished_at"), windowLength))
      .agg(
        count(lit(1)).as("n_jobs"),
        sum(when(col("status") === FetchStatus.Success, 1L).otherwise(0L))
          .as("n_success"),
        Exact.round(sum(when(col("status") === FetchStatus.Success, 1d).otherwise(0d)) /
          count(lit(1)), 6).as("success_rate"))
}
