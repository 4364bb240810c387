package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkEntry
import graft.meteo.{Dashboard, FetchLedger, MeteoSchemas, PayloadNormalizer}
import graft.ops.Upsert
import graft.sources.Manifest
import graft.streaming.{FetchEventStream, JsonLinesSource}

/** Workload sizes. `--seconds` scales the fixed timed work; `--tiny`
  * is the self-test size. */
object Sizes {
  def locations(o: Opts): Int = if (o.tiny) 10 else 100
  /** Stream batches landed before timing: one per set-up, three warm-up. */
  val warmBatches = 4
  def timedBatches(o: Opts): Int = if (o.tiny) 2 else math.max(4, o.seconds / 2)
  /** Batches per batch-lane `fetch_and_store` call in dashboard set-up. */
  val batchesPerFetch = 5
  def requestCycles(o: Opts): Int = if (o.tiny) 1 else math.max(2, o.seconds * 2 / 5)
  def corpus(o: Opts): (Int, Int) = if (o.tiny) (500, 200) else (2000, 800)
  def passes(o: Opts): Int = if (o.tiny) 1 else math.max(1, o.seconds / 12)
}

/** Untimed op (set-up, warm-up): the same action and check as a timed
  * op, but a failure aborts the run. */
object Untimed {
  def apply[T](what: String)(action: => T)(check: T => (Option[String], Long)): Unit =
    check(action)._1.foreach(m => throw new IllegalStateException(s"$what: $m"))
}

/** Stream lane: one op is one micro-batch, timed from the atomic move of
  * its event file to the return of `processAllAvailable()`. */
final class StreamIngest(spark: SparkSession, o: Opts, rec: Recorder, trace: Trace)
    extends Workload {
  private val gen = MeteoGen(o.seed, Sizes.locations(o))
  val stateful = true
  private var root = ""
  private var q: StreamingQuery = null
  private var batch = 0
  /** op id -> (bronze bytes its events reference, incoming rows). */
  private val opInput = mutable.Map[Int, (Long, Long)]()

  private def silver = s"$root/silver"
  private def ckpt = s"$root/ckpt"
  /** The batch lane and dashboard reads at the size this workload ends
    * at; traced runs probe them so the meteo and sources layers are
    * measured too. */
  private lazy val reads = new DashboardReads(spark, o, rec, trace, opsPass = 2, cycles = Some(2))

  override def tracedExtras(): Unit = { reads.prepare(0); reads.warmUp(); reads.timedWork() }

  def prepare(rep: Int): Unit = {
    close()
    if (root.nonEmpty) Files2.deleteTree(root)
    root = s"${o.work}/stream-$rep"
    batch = 0
    Seq("bronze", "events", "staging").foreach(d => Files.createDirectories(Paths.get(root, d)))
    q = trace.span("streaming.consume") {
      FetchEventStream.consume(spark, JsonLinesSource(s"$root/events"), s"$root/bronze", silver, ckpt)
    }
    ingest(timed = false)
  }

  def warmUp(): Unit = (1 until Sizes.warmBatches).foreach(_ => ingest(timed = false))

  /** The timed batches' files, generated before the wall clock starts. */
  private var staged = Seq.empty[Staged]

  override def stage(): Unit = staged = (0 until Sizes.timedBatches(o)).map(i => stageBatch(batch + i))

  def timedWork(): Unit = { staged.foreach(land(_, timed = true)); staged = Nil }

  /** Index of the last event file the query has committed (the file
    * source's log offset), -1 before the first. */
  private def committedFile(): Long =
    Option(q.lastProgress).flatMap(p => p.sources.headOption).flatMap(s => Option(s.endOffset))
      .flatMap(o => "\"logOffset\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(o).map(_.group(1).toLong))
      .getOrElse(-1L)

  /** Batch `b`'s bronze and event files, written to the staging directory;
    * `useful` is the bronze bytes its events reference. */
  private final case class Staged(b: Int, bronzeName: String, eventsName: String,
      useful: Long, incoming: Long)

  private def stageBatch(b: Int): Staged = {
    val bronzeName = f"batch-$b%04d.json"
    val bronzeLines = (0 until gen.locations).map(gen.bronzeLine(_, b))
    Files.write(Paths.get(root, "staging", bronzeName),
      bronzeLines.mkString("", "\n", "\n").getBytes("UTF-8"))
    val ok = (0 until gen.locations).filter(gen.success(_, b))
    val useful = ok.map(l => bronzeLines(l).getBytes("UTF-8").length + 1L).sum
    val eventsName = f"events-$b%04d.json"
    Files.write(Paths.get(root, "staging", eventsName),
      gen.eventLines(b, s"bronze/$bronzeName").mkString("", "\n", "\n").getBytes("UTF-8"))
    Staged(b, bronzeName, eventsName, useful, ok.size.toLong * MeteoGen.Hours)
  }

  private def ingest(timed: Boolean): Unit = land(stageBatch(batch), timed)

  /** Moves the batch's bronze file in, then (the op) its event file, and
    * waits until the query has processed it. */
  private def land(st: Staged, timed: Boolean): Unit = {
    val b = st.b
    require(b == batch, s"batch $b staged out of order (next is $batch)")
    batch += 1
    def move(name: String, dir: String): Unit =
      Files.move(Paths.get(root, "staging", name), Paths.get(root, dir, name), StandardCopyOption.ATOMIC_MOVE)
    move(st.bronzeName, "bronze")
    def act(): Unit = { move(st.eventsName, "events"); q.processAllAvailable() }
    def check(u: Unit): (Option[String], Long) = {
      val f = committedFile()
      (if (f != b + rec.skew) Some(s"batch $b: query committed event file $f") else None, st.incoming)
    }
    if (timed) {
      rec.timed("streaming.batch", trace)(act())(check)
      opInput(rec.ops.last.id) = (st.useful, st.incoming)
    } else Untimed(s"warm-up batch $b")(act())(check)
  }

  def finish(): Option[String] =
    Checks.silver(spark.read.parquet(silver), gen.expected(batch)).map(m => s"stream_ingest $m")

  def storedBytes: Long = Files2.bytesUnder(silver) + Files2.bytesUnder(ckpt)

  def layerMetrics(t: TraceSummary): Map[String, Double] = {
    val ops = rec.passOps(1).filter(_.error.isEmpty)
    val per = ops.map { op =>
      val p = t.progressOf(op.id).headOption
      def d(k: String) = p.flatMap(_.durationsMs.get(k)).getOrElse(0L) / 1e3
      val qes = t.qesOf(op.id)
      val bronzeRead = qes.flatMap(_.scans).filter(_._1.contains("/bronze")).map(_._2).sum
      val writes = qes.filter(_.writeRows > 0)
      val (useful, incoming) = opInput(op.id)
      (d("triggerExecution"), d("addBatch"), d("latestOffset") + d("getBatch") + d("walCommit"),
        op.seconds - d("triggerExecution"), bronzeRead.toDouble,
        if (bronzeRead > 0) useful.toDouble / bronzeRead else 0.0,
        writes.map(_.durS).sum, writes.map(_.writeParts).sum.toDouble,
        writes.map(_.writeRows).sum.toDouble / incoming)
    }
    def med(f: ((Double, Double, Double, Double, Double, Double, Double, Double, Double)) => Double) =
      Stats.median(per.map(f))
    def avg(f: ((Double, Double, Double, Double, Double, Double, Double, Double, Double)) => Double) =
      Stats.mean(per.map(f))
    reads.layerMetrics(t) ++ Map(
      "streaming.trigger_s" -> med(_._1), "streaming.add_batch_s" -> med(_._2),
      "streaming.offsets_s" -> med(_._3), "streaming.pickup_wait_s" -> med(_._4),
      "streaming.bronze_bytes_read" -> avg(_._5), "streaming.bronze_useful_frac" -> avg(_._6),
      "upsert.merge_s" -> med(_._7), "upsert.partitions_rewritten" -> avg(_._8),
      "upsert.write_amp" -> avg(_._9),
      "silver.files" -> Files2.filesUnder(silver, ".parquet").toDouble,
      "silver.bytes" -> Files2.bytesUnder(silver).toDouble)
  }

  override def close(): Unit = if (q != null) { q.stop(); q = null }

}

/** Dashboard battery over silver built through the batch lane. */
final class DashboardReads(spark: SparkSession, o: Opts, rec: Recorder, trace: Trace,
    opsPass: Int = 1, cycles: Option[Int] = None) extends Workload {
  import spark.implicits._
  private val gen = MeteoGen(o.seed, Sizes.locations(o))
  /** The size stream_ingest ends at. */
  private val batches = Sizes.warmBatches + Sizes.timedBatches(o)
  private lazy val exp = gen.expected(batches)
  val stateful = false
  private var root = ""
  private def silver = s"$root/silver"
  private def ledger = s"$root/ledger"
  private val kinds = Seq("count_locations", "recent", "describe", "table_count", "last_status")
  private val order = new scala.util.Random(o.seed).shuffle(kinds)

  def prepare(rep: Int): Unit = {
    if (root.nonEmpty) Files2.deleteTree(root)
    root = s"${o.work}/dash-$rep"
    (0 until batches).grouped(Sizes.batchesPerFetch).foreach(fetchAndStore)
  }

  /** The reference's fetch_and_store: ledger pending rows, normalize the
    * fetched payloads, last-write-wins merge into day-partitioned
    * silver, finish the ledger rows and append them to the ledger. */
  private def fetchAndStore(bs: Seq[Int]): Unit = trace.span("meteo.fetch_and_store") {
    val L = gen.locations
    val at0 = new Timestamp(gen.finishedMs(0, bs.head) - 60000L)
    val jobs = for (b <- bs; l <- 0 until L) yield (gen.fetchId(l, b), gen.url, gen.params(l))
    val pending = trace.span("meteo.ledger_begin")(FetchLedger.begin(spark, jobs, at0))
    val payloads = (for (b <- bs; l <- 0 until L if gen.success(l, b))
      yield (gen.fetchId(l, b), gen.payload(l, b), gen.version(l, b))).toDF("fetch_id", "payload", "version")
    val obs = trace.span("meteo.normalize")(PayloadNormalizer.normalize(payloads))
      .withColumn("obs_date", date_format(col("timestamp"), "yyyy-MM-dd"))
    trace.span("upsert.merge") {
      Upsert.mergePartitioned(spark, silver, obs, Seq("latitude", "longitude", "timestamp"),
        col("version"), "obs_date")
    }
    val outcomes = (for (b <- bs; l <- 0 until L) yield {
      val ok = gen.success(l, b)
      MeteoSchemas.FetchTransition(gen.fetchId(l, b), 1L, new Timestamp(gen.finishedMs(l, b)),
        gen.url, gen.params(l),
        if (ok) MeteoSchemas.FetchStatus.Success else MeteoSchemas.FetchStatus.Error,
        Some(if (ok) 200 else 503), if (ok) None else Some("""{"error":"Service unavailable"}"""),
        if (ok) Some(s"bronze/${gen.fetchId(l, b)}.json") else None)
    }).toDF()
    val finished = trace.span("meteo.ledger_finish")(FetchLedger.finish(pending, outcomes))
    trace.span("sources.commit_append")(Manifest.commitAppend(finished, ledger))
  }

  def warmUp(): Unit = order.foreach(request(_, timed = false))

  def timedWork(): Unit =
    (0 until cycles.getOrElse(Sizes.requestCycles(o))).foreach(_ => order.foreach(request(_, timed = true)))

  private def obs = spark.read.parquet(silver)

  private def request(kind: String, timed: Boolean): Unit = {
    def run[T](action: => T)(check: T => (Option[String], Long)): Unit =
      if (timed) rec.timed(s"meteo.$kind", trace)(action)(check) else Untimed(kind)(action)(check)
    def expect(what: String, got: Any, want: Any) =
      if (got == want) None else Some(s"$what $got != expected $want")
    kind match {
      case "count_locations" =>
        run(Dashboard.countLocations(obs))(n => (expect("locations", n, exp.locations + rec.skew), 1L))
      case "recent" =>
        run(Dashboard.recent(obs, 5000).collect()) { rows =>
          val ts = rows.map(_.getAs[Timestamp]("timestamp").getTime)
          val sorted = ts.sameElements(ts.sorted)
          (expect("recent rows", rows.length.toLong, math.min(5000L, exp.rows) + rec.skew)
            .orElse(if (sorted) None else Some("recent rows not ordered by timestamp")), rows.length.toLong)
        }
      case "describe" =>
        run(Dashboard.describe(obs, Seq("temperature", "wind_speed", "precipitation")).collect()) { rows =>
          val n = rows.map(r => r.getAs[String]("metric") -> r.getAs[Long]("n")).toMap
          (expect("describe n", n, Map("temperature" -> (exp.rows + rec.skew),
            "wind_speed" -> exp.rows, "precipitation" -> exp.nPrecip)), rows.length.toLong)
        }
      case "table_count" =>
        run(obs.count())(n => (expect("table rows", n, exp.rows + rec.skew), 1L))
      case "last_status" =>
        run(FetchLedger.currentState(Manifest.read(spark, ledger))
            .orderBy(desc("at"), desc("fetch_id")).limit(1).select("fetch_id", "status").collect()) { rows =>
          val (l, b) = (gen.locations - 1, batches - 1)
          val ok = gen.success(l, b) ^ (rec.skew != 0)
          (expect("last job", rows.map(r => (r.getString(0), r.getString(1))).toSeq,
            Seq((gen.fetchId(l, b), if (ok) "success" else "error"))), rows.length.toLong)
        }
    }
  }

  def finish(): Option[String] = None

  def storedBytes: Long = Files2.bytesUnder(silver) + Files2.bytesUnder(ledger)

  def layerMetrics(t: TraceSummary): Map[String, Double] = {
    val ops = rec.passOps(opsPass).filter(_.error.isEmpty)
    def spanMedian(name: String) =
      Stats.median(trace.spansSoFar.filter(_.name == name).map(s => (s.t1Ms - s.t0Ms) / 1e3))
    kinds.map(k => s"meteo.${k}_s" -> Stats.median(ops.filter(_.kind == s"meteo.$k").map(_.seconds))).toMap ++ Map(
      "meteo.fetch_and_store_s" -> spanMedian("meteo.fetch_and_store"),
      "upsert.merge_s" -> spanMedian("upsert.merge"),
      "sources.commit_append_s" -> spanMedian("sources.commit_append"),
      "sources.manifest_files" ->
        Files2.filesUnder(s"$ledger/_data", ".parquet").toDouble,
      "silver.files" -> Files2.filesUnder(silver, ".parquet").toDouble,
      "silver.bytes" -> Files2.bytesUnder(silver).toDouble)
  }
}

/** Training-data queries delivered in full through the noop sink, each
  * result's row count and content hash observed in the same execution. */
final class Curation(spark: SparkSession, o: Opts, rec: Recorder, trace: Trace)
    extends Workload {
  import spark.implicits._
  val stateful = false
  private val corpus = Sizes.corpus(o)
  private var dir = ""
  private val countS = mutable.Map[String, Double]()

  private def key(c: (Int, Int)) = s"${c._1}x${c._2}"
  private def loadExpected(): Map[(String, String), (Long, BigDecimal)] = {
    val p = Paths.get(o.expected)
    if (!Files.exists(p)) Map.empty
    else scala.io.Source.fromFile(p.toFile).getLines().map(_.split("\t")).collect {
      case Array(k, q, n, h) => (k, q) -> (n.toLong, BigDecimal(h))
    }.toMap
  }
  private var expected = loadExpected()

  private def writeCorpus(c: (Int, Int), to: String): Unit = {
    CorpusGen.documents(c._1).toDF().coalesce(1).write.parquet(s"$to/documents.parquet")
    CorpusGen.embeddings(c._2).toDF().coalesce(1).write.parquet(s"$to/embeddings.parquet")
  }

  def prepare(rep: Int): Unit = {
    if (dir.nonEmpty) Files2.deleteTree(dir)
    dir = s"${o.work}/corpus-$rep"
    writeCorpus(corpus, dir)
  }

  private def deliver(q: String, from: String): Observation = {
    val ob = Observation(s"check_${q}_${System.nanoTime()}")
    val df = SparkEntry.queries(q)(spark, from)
    val aggs = Checks.contentAggs(df)
    df.observe(ob, aggs.head, aggs.tail: _*).write.format("noop").mode("overwrite").save()
    ob
  }

  private def observed(ob: Observation): (Long, BigDecimal) = {
    val m = ob.get
    (m("rows").asInstanceOf[Long], BigDecimal(m("hash").asInstanceOf[java.math.BigDecimal]))
  }

  private def check(q: String, c: (Int, Int))(ob: Observation): (Option[String], Long) = {
    val (n, h) = observed(ob)
    val msg = expected.get((key(c), q)) match {
      case None => Some(s"no recorded output for corpus ${key(c)}")
      case Some((en, eh)) =>
        if (n != en + rec.skew) Some(s"rows $n != recorded $en")
        else if (h != eh) Some("content hash differs from the recorded one")
        else None
    }
    (msg, n)
  }

  /** `--record 1`: store each query's (rows, content hash) for corpus `c`. */
  private def record(c: (Int, Int), from: String): Unit = {
    val lines = Trace.CurationQueries.map { q =>
      val (n, h) = observed(deliver(q, from)); s"${key(c)}\t$q\t$n\t$h"
    }
    val p = Paths.get(o.expected)
    val kept = if (Files.exists(p))
      scala.io.Source.fromFile(p.toFile).getLines().filterNot(_.startsWith(key(c) + "\t")).toSeq
    else Nil
    Files.write(p, (kept ++ lines).sorted.mkString("", "\n", "\n").getBytes("UTF-8"))
    expected = loadExpected()
  }

  /** One checked, untimed pass: compiles and JITs every query. */
  def warmUp(): Unit = {
    if (o.record) record(corpus, dir)
    Trace.CurationQueries.foreach(q => Untimed(q)(deliver(q, dir))(check(q, corpus)))
  }

  def timedWork(): Unit = (0 until Sizes.passes(o)).foreach { p =>
    new scala.util.Random(o.seed * 1000 + p).shuffle(Trace.CurationQueries).foreach { q =>
      rec.timed(s"curation.$q", trace)(deliver(q, dir))(check(q, corpus))
    }
  }

  /** The count-vs-delivered bridge: each query once more under
    * `.count()`, the plan the old `graft.Bench` timed. */
  override def tracedExtras(): Unit = Trace.CurationQueries.foreach { q =>
    val t = System.nanoTime()
    trace.span(s"bridge.$q.count")(SparkEntry.queries(q)(spark, dir).count())
    countS(q) = (System.nanoTime() - t) / 1e9
  }

  def finish(): Option[String] = None

  def storedBytes: Long = Files2.bytesUnder(dir)

  def layerMetrics(t: TraceSummary): Map[String, Double] = {
    val ops = rec.passOps(1).filter(_.error.isEmpty)
    val passes = Sizes.passes(o).toDouble
    def time(qs: String*) = ops.filter(op => qs.exists(q => op.kind == s"curation.$q")).map(_.seconds).sum
    val noop = Trace.CurationQueries.map(q => q -> Stats.median(ops.filter(_.kind == s"curation.$q").map(_.seconds))).toMap
    noop.map { case (q, v) => s"curation.${q}_s" -> v } ++ Map(
      "ops.dedup_s" -> time("pipeline_curation", "pipeline_dedup_cascade",
        "dedup_minhash_lsh", "dedup_simhash") / passes,
      "ops.similarity_s" -> time("ann_pq_rerank", "ann_maxsim") / passes,
      "ops.text_s" -> time("text_tfidf", "text_bm25") / passes,
      "curation.count_over_noop" -> countS.values.sum / math.max(noop.values.sum, 1e-9))
  }
}
