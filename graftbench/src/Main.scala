package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

final case class Opts(
    workload: String = "",
    seed: Long = 1L,
    seconds: Int = 10,
    trace: Boolean = false,
    work: String = ".bench_build/work",
    out: String = ".bench_build/result.json",
    expected: String = "graftbench/curation_expected.tsv",
    cores: Int = Runtime.getRuntime.availableProcessors,
    tiny: Boolean = false,
    inject: String = "",
    record: Boolean = false)

object Opts {
  def parse(args: Array[String]): Opts = args.grouped(2).foldLeft(Opts()) {
    case (o, Array("--workload", v)) => o.copy(workload = v)
    case (o, Array("--seed", v)) => o.copy(seed = v.toLong)
    case (o, Array("--seconds", v)) => o.copy(seconds = v.toInt)
    case (o, Array("--trace", v)) => o.copy(trace = v == "1")
    case (o, Array("--work", v)) => o.copy(work = v)
    case (o, Array("--out", v)) => o.copy(out = v)
    case (o, Array("--expected", v)) => o.copy(expected = v)
    case (o, Array("--cores", v)) => o.copy(cores = v.toInt)
    case (o, Array("--tiny", v)) => o.copy(tiny = v == "1")
    case (o, Array("--inject", v)) => o.copy(inject = v)
    case (o, Array("--record", v)) => o.copy(record = v == "1")
    case (_, a) => throw new IllegalArgumentException(s"bad argument: ${a.mkString(" ")}")
  }
}

/** One timed operation. `pass` 0 is the untraced pass, 1 the traced one. */
final case class OpRec(id: Int, pass: Int, kind: String, t0: Long, t1: Long,
    error: Option[String], resultRows: Long) {
  def seconds: Double = (t1 - t0) / 1e9
}

/** Closed-loop op harness: times the action alone, then checks its
  * result outside the timed region. An op that throws or fails its
  * check is counted as failed and never contributes a timing. */
final class Recorder(inject: String) {
  val ops = ArrayBuffer[OpRec]()
  var pass = 0
  private var nextId = 0
  private var injected = false
  private var skewNow = 0L

  /** Added to expected values while checking; non-zero only for the op
    * that carries an injected wrong answer. */
  def skew: Long = skewNow

  def timed[T](kind: String, trace: Trace)(action: => T)(check: T => (Option[String], Long)): Unit = {
    val id = nextId; nextId += 1
    val inj = if (!injected && inject.nonEmpty) { injected = true; inject } else ""
    val t0 = System.nanoTime()
    val res = try {
      Right(trace.op(id, kind) {
        if (inj == "throw") throw new IllegalStateException("injected failure")
        action
      })
    } catch { case e: Throwable => Left(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val t1 = System.nanoTime()
    val (err, rows) = res match {
      case Left(msg) => (Some(msg), 0L)
      case Right(v) =>
        skewNow = if (inj == "wrong") 1L else 0L
        try { val (e, n) = check(v); (e.map(m => s"$kind: $m"), n) }
        catch { case e: Throwable => (Some(s"$kind check: ${e.getMessage}"), 0L) }
        finally skewNow = 0L
    }
    err.foreach(m => System.err.println(s"[graftbench] FAILED op $id $m"))
    ops += OpRec(id, pass, kind, t0, t1, err, rows)
  }

  def passOps(p: Int): Seq[OpRec] = ops.filter(_.pass == p).toSeq
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  /** The highest percentile with at least 10 samples beyond it; with
    * fewer than 20 samples that percentile is below the median, so the
    * tail is the maximum. */
  def tail(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else if (s.size < 20) s.last else s(s.size - 11)
  }
  def tailLevel(n: Int): Double = if (n < 20) 1.0 else (n - 10).toDouble / n
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Files2 {
  def bytesUnder(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
  }
  def filesUnder(root: String, suffix: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(suffix)).count()
      finally s.close()
    }
  }
  def deleteTree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }
}

/** A workload: `prepare` builds fresh state, `warmUp` runs once untimed,
  * `stage` makes the timed work's inputs before the clock starts,
  * `timedWork` is the fixed timed work and `finish` checks end-of-pass
  * outputs. */
trait Workload {
  /** Whether a second pass needs fresh state (`prepare` again). */
  def stateful: Boolean
  def prepare(rep: Int): Unit
  def warmUp(): Unit
  def stage(): Unit = ()
  def timedWork(): Unit
  def finish(): Option[String]
  def storedBytes: Long
  def layerMetrics(t: TraceSummary): Map[String, Double]
  /** Extra traced-only calls, run after the traced pass as pass 2. */
  def tracedExtras(): Unit = ()
  def close(): Unit = ()
}

object Main {
  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.sql.streaming.noDataProgressEventInterval", "3600000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Fixed single-thread integer work: its wall time tracks the host's
    * per-core speed during the run. */
  def cpuProbe(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L; var i = 0
    while (i < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val s = (System.nanoTime() - t0) / 1e9
    if (x == 42) println("")
    s
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  /** Peak used size of each heap pool, so the heap's part of
    * `peak_rss_mb` can be told from native memory. */
  def heapPoolPeaksMb(): scala.collection.immutable.ListMap[String, Double] = {
    import scala.jdk.CollectionConverters._
    scala.collection.immutable.ListMap(java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => p.getName -> p.getPeakUsage.getUsed / 1e6).toSeq: _*)
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(Paths.get(o.work))
    val spark = session(o)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val rec = new Recorder(o.inject)
    val trace = new Trace(spark, rec)
    val wl: Workload = o.workload match {
      case "stream_ingest" => new StreamIngest(spark, o, rec, trace)
      case "dashboard_reads" => new DashboardReads(spark, o, rec, trace)
      case "curation" => new Curation(spark, o, rec, trace)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }

    // set-up as one start-up sees it: session, the first (cold) state
    // building and one untimed warm-up
    trace.spansOn = o.trace
    val tp = System.nanoTime(); wl.prepare(0)
    val prepareS = (System.nanoTime() - tp) / 1e9
    val tw = System.nanoTime(); wl.warmUp()
    val warmS = (System.nanoTime() - tw) / 1e9
    trace.spansOn = false
    val setupS = sessionS + prepareS + warmS

    val endChecks = ArrayBuffer[String]()
    def pass(p: Int): Double = {
      rec.pass = p
      wl.stage()
      val t = System.nanoTime(); wl.timedWork(); val s = (System.nanoTime() - t) / 1e9
      wl.finish().foreach { m =>
        System.err.println(s"[graftbench] FAILED end-of-pass check: $m"); endChecks += m }
      s
    }
    val wallA = pass(0)
    val storedMb = wl.storedBytes / 1e6
    val layer: Map[String, Double] =
      if (!o.trace) Map.empty
      else {
        // listeners go on before any fresh state is built: a streaming
        // query clones the session (and its execution listeners) at start
        trace.start()
        if (wl.stateful) { wl.prepare(1); wl.warmUp() }
        val wallB = pass(1)
        val summary = trace.stop()
        trace.spansOn = true; rec.pass = 2
        wl.tracedExtras()
        trace.spansOn = false
        wl.layerMetrics(summary) ++ trace.engineMetrics(summary, rec.passOps(1)) +
          ("tracing_overhead_frac" -> (wallB / wallA - 1))
      }
    wl.close()

    val opsA = rec.passOps(0)
    val okA = opsA.filter(_.error.isEmpty).map(_.seconds)
    val attempted = rec.ops.size
    val failed = math.min(attempted, rec.ops.count(_.error.nonEmpty) + endChecks.size)
    val e2e = scala.collection.immutable.ListMap(
      "setup_s" -> (setupS, "s"),
      "wall_s" -> (wallA, "s"),
      "op_p50_s" -> (Stats.median(okA), "s"),
      "op_tail_s" -> (Stats.tail(okA), "s"),
      "stored_mb" -> (storedMb, "MB"),
      "peak_rss_mb" -> (peakRssMb(), "MB"))
    val metrics =
      if (o.trace) scala.collection.immutable.ListMap(
        Trace.LayerMetrics.map { case (n, u) => n -> Map("value" -> layer.getOrElse(n, 0.0), "unit" -> u) }: _*)
      else e2e.map { case (n, (v, u)) => n -> Map("value" -> v, "unit" -> u) }
    val stamp = scala.collection.immutable.ListMap(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "nproc" -> Runtime.getRuntime.availableProcessors,
      "master" -> s"local[${o.cores}]", "shuffle_partitions" -> o.cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "java" -> System.getProperty("java.version"), "spark" -> spark.version,
      "cpu_probe_s" -> cpuProbe(), "session_s" -> sessionS,
      "heap_pool_peak_mb" -> heapPoolPeaksMb(),
      "prepare_s" -> prepareS, "warm_up_s" -> warmS,
      "timed_ops" -> opsA.size, "op_tail_level" -> Stats.tailLevel(okA.size),
      "fail_frac" -> (if (attempted == 0) 0.0 else failed.toDouble / attempted))
    val result = scala.collection.immutable.ListMap(
      "correct" -> (failed == 0 && attempted > 0),
      "attempted" -> math.max(attempted, 1),
      "failed" -> (if (attempted == 0) 1 else failed),
      "metrics" -> metrics,
      "stamp" -> stamp,
      "failures" -> (rec.ops.flatMap(_.error) ++ endChecks),
      "ops" -> rec.ops.map(r => Seq(r.id, r.pass, r.kind, r.seconds, r.error.isEmpty)),
      "trace" -> (if (o.trace) trace.dump() else Map.empty))
    Files.write(Paths.get(o.out), Json(result).getBytes("UTF-8"))
    spark.stop()
  }
}
