package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

final case class Span(id: Int, parent: Int, op: Int, name: String, t0Ms: Double, t1Ms: Double)
final case class JobRec(id: Int, group: String, execId: Long, startMs: Long, stages: Seq[Int]) {
  @volatile var endMs: Long = -1L
}
final case class StageRec(tasks: Int, runS: Double, cpuS: Double, gcS: Double,
    inBytes: Long, inRecords: Long, shWrite: Long, shRead: Long, spill: Long)
final case class QeRec(execId: Long, func: String, durS: Double,
    scans: Seq[(String, Long)], writeRows: Long, writeParts: Long)
final case class ProgressRec(batchId: Long, startMs: Long, rows: Long, durationsMs: Map[String, Long])

/** What the listeners saw during the traced pass, with jobs attributed
  * to the op that caused them. */
final case class TraceSummary(spans: Seq[Span], jobs: Seq[JobRec],
    stages: Map[Int, StageRec], qes: Seq[QeRec], progress: Seq[ProgressRec],
    jobOp: Map[Int, Int], opWindowMs: Map[Int, (Double, Double)]) {
  def jobsOf(op: Int): Seq[JobRec] = jobs.filter(j => jobOp.get(j.id).contains(op))
  def qesOf(op: Int): Seq[QeRec] = {
    val ex = jobsOf(op).map(_.execId).toSet
    qes.filter(q => ex.contains(q.execId))
  }
  def progressOf(op: Int): Seq[ProgressRec] = opWindowMs.get(op).toSeq.flatMap {
    case (a, b) => progress.filter(p => p.startMs >= a - 1 && p.startMs <= b)
  }
}

/** Benchmark-side tracing. Spans wrap every public call the benchmark
  * makes (name, start, end, parent, op id); while a span is open its
  * thread's Spark job group names it, so jobs, stages and query
  * executions are attributed to the op that started them. Jobs on the
  * streaming thread carry the query's own group and are attributed by
  * batch interval instead. Listeners are registered only for the traced
  * pass; everything is kept in memory and written out at the end. */
final class Trace(spark: SparkSession, rec: Recorder) {
  @volatile var spansOn = false
  @volatile private var listening = false
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  def msOf(ns: Long): Double = originMs + (ns - originNs) / 1e6
  private def nowMs: Double = msOf(System.nanoTime())

  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[(Int, Int)]] { override def initialValue() = Nil }
  private var nextSpan = 0
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[(Int, Int), StageRec]()
  private val qes = new java.util.concurrent.ConcurrentLinkedQueue[(QueryExecution, QeRec)]()
  /** SQL execution id of each query execution (the id its jobs carry). */
  private val execIds = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[QueryExecution, java.lang.Long]())
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[ProgressRec]()
  private var summary: Option[TraceSummary] = None

  def span[T](name: String, op: Int = -1)(body: => T): T =
    if (!spansOn && !listening) body
    else {
      val id = synchronized { nextSpan += 1; nextSpan }
      val outer = stack.get
      val opId = if (op >= 0) op else outer.headOption.map(_._2).getOrElse(-1)
      val sc = spark.sparkContext
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      val prevDesc = sc.getLocalProperty("spark.job.description")
      sc.setJobGroup(s"gb-$id", name)
      stack.set((id, opId) :: outer)
      val t0 = nowMs
      try body
      finally {
        val t1 = nowMs
        stack.set(outer)
        if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevDesc)
        synchronized { spans += Span(id, outer.headOption.map(_._1).getOrElse(-1), opId, name, t0, t1) }
      }
    }

  def op[T](id: Int, kind: String)(body: => T): T = span(kind, id)(body)

  def spansSoFar: Seq[Span] = synchronized(spans.toSeq)

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      jobs.put(e.jobId, JobRec(e.jobId,
        p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse(""),
        p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L),
        e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionEnd =>
        Option(org.apache.spark.sql.GraftbenchSql.queryExecution(x)).foreach(execIds.put(_, x.executionId))
      case _ => ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages.put((i.stageId, i.attemptNumber()), StageRec(i.numTasks,
        m.executorRunTime / 1e3, m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.diskBytesSpilled))
    }
  }

  private object Streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) progress.add(ProgressRec(p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper
  private object Executions extends QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durNs: Long): Unit = {
      val plan = qe.executedPlan
      val scans = Plans.collectWithSubqueries(plan) { case s: FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.toString).mkString(",") ->
          s.metrics.get("filesSize").map(_.value).getOrElse(0L)
      }
      val writes = Plans.collect(plan) { case d: DataWritingCommandExec => d.metrics }
      def w(k: String) = writes.flatMap(_.get(k)).map(_.value).sum
      qes.add(qe -> QeRec(-1L, func, durNs / 1e9, scans, w("numOutputRows"), w("numParts")))
    }
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Register the listeners for the traced pass. */
  def start(): Unit = {
    spark.sparkContext.addSparkListener(Jobs)
    spark.streams.addListener(Streams)
    spark.listenerManager.register(Executions)
    listening = true
  }

  /** Drain the listener bus, unregister, and attribute what was seen. */
  def stop(): TraceSummary = {
    org.apache.spark.GraftbenchBus.drain(spark.sparkContext)
    listening = false
    spark.sparkContext.removeSparkListener(Jobs)
    spark.streams.removeListener(Streams)
    spark.listenerManager.unregister(Executions)
    val sp = synchronized(spans.toSeq)
    val opOfSpan = sp.map(s => s.id -> s.op).toMap
    val windows = rec.passOps(1).map(o => o.id -> (msOf(o.t0), msOf(o.t1))).toMap
    val js = jobs.values.asScala.toSeq.sortBy(_.id)
    val jobOp = js.flatMap { j =>
      if (j.group.startsWith("gb-")) opOfSpan.get(j.group.stripPrefix("gb-").toInt).filter(_ >= 0).map(j.id -> _)
      else windows.collectFirst { case (op, (a, b)) if j.startMs >= a - 1 && j.startMs <= b => j.id -> op }
    }.toMap
    val st = stages.asScala.toSeq.groupBy(_._1._1).map { case (id, xs) =>
      id -> xs.map(_._2).reduce((a, b) => StageRec(a.tasks + b.tasks, a.runS + b.runS,
        a.cpuS + b.cpuS, a.gcS + b.gcS, a.inBytes + b.inBytes, a.inRecords + b.inRecords,
        a.shWrite + b.shWrite, a.shRead + b.shRead, a.spill + b.spill))
    }
    val resolved = qes.asScala.toSeq.flatMap { case (qe, r) =>
      Option(execIds.get(qe)).map(id => r.copy(execId = id.longValue)) }
    val s = TraceSummary(sp, js, st, resolved, progress.asScala.toSeq.sortBy(_.batchId),
      jobOp, windows)
    summary = Some(s)
    s
  }

  /** Spark engine metrics per traced op (means over the pass's ops). */
  def engineMetrics(t: TraceSummary, ops: Seq[OpRec]): Map[String, Double] = {
    val ok = ops.filter(_.error.isEmpty)
    val n = math.max(ok.size, 1).toDouble
    val perOp = ok.map { o =>
      val js = t.jobsOf(o.id)
      val ss = js.flatMap(_.stages).distinct.flatMap(t.stages.get)
      val (a, b) = t.opWindowMs(o.id)
      // union of job intervals clipped to the op window
      val iv = js.map(j => (math.max(j.startMs.toDouble, a), math.min(if (j.endMs < 0) b else j.endMs.toDouble, b)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0.0; var end = a
      iv.foreach { case (s, e) => if (e > end) { covered += e - math.max(s, end); end = e } }
      (js.size, ss, (b - a) / 1e3 - covered / 1e3, o)
    }
    def sumS(f: StageRec => Double) = perOp.map(_._2.map(f).sum).sum
    val wall = ok.map(_.seconds).sum
    val cores = spark.sparkContext.defaultParallelism
    val resultRows = ok.map(_.resultRows).sum
    Map(
      "spark.jobs" -> perOp.map(_._1).sum / n,
      "spark.stages" -> perOp.map(_._2.size).sum / n,
      "spark.tasks" -> sumS(_.tasks.toDouble) / n,
      "spark.task_busy_s" -> sumS(_.runS) / n,
      "spark.cpu_util" -> (if (wall > 0) sumS(_.cpuS) / (wall * cores) else 0.0),
      "spark.input_bytes" -> sumS(_.inBytes.toDouble) / n,
      "scan.rows_per_result" -> (if (resultRows > 0) sumS(_.inRecords.toDouble) / resultRows else 0.0),
      "spark.shuffle_write_bytes" -> sumS(_.shWrite.toDouble) / n,
      "spark.shuffle_read_bytes" -> sumS(_.shRead.toDouble) / n,
      "spark.spill_bytes" -> sumS(_.spill.toDouble) / n,
      "spark.gc_s" -> sumS(_.gcS) / n,
      "driver_s" -> perOp.map(_._3).sum / n)
  }

  /** Spans with self time, and the attributed jobs, for the trace file. */
  def dump(): Map[String, Any] = {
    val sp = synchronized(spans.toSeq)
    val children = sp.groupBy(_.parent)
    def self(s: Span): Double = {
      val kids = children.getOrElse(s.id, Nil).map(k => (k.t0Ms, k.t1Ms)).sortBy(_._1)
      var covered = 0.0; var end = s.t0Ms
      kids.foreach { case (a, b) => if (b > end) { covered += b - math.max(a, end); end = b } }
      (s.t1Ms - s.t0Ms - covered) / 1e3
    }
    val selfByName = sp.groupBy(_.name).map { case (k, xs) => k -> xs.map(self).sum }
    Map(
      "spans" -> sp.map(s => Seq(s.id, s.parent, s.op, s.name, s.t0Ms, s.t1Ms)),
      "self_s_by_span" -> selfByName,
      "jobs" -> summary.toSeq.flatMap(t => t.jobs.map(j =>
        Seq(j.id, t.jobOp.getOrElse(j.id, -1), j.execId, j.startMs, j.endMs, j.stages.size))),
      "op_windows_ms" -> summary.toSeq.flatMap(_.opWindowMs.toSeq.sortBy(_._1).map { case (k, (a, b)) => Seq(k, a, b) }),
      "progress" -> summary.toSeq.flatMap(_.progress.map(p => Seq(p.batchId, p.startMs, p.rows, p.durationsMs))),
      "executions" -> summary.toSeq.flatMap(_.qes.map(q => Seq(q.execId, q.func, q.durS,
        q.scans.map(_._2).sum, q.writeRows, q.writeParts))))
  }
}

object Trace {
  /** Every per-layer metric, with its unit; a workload that does not
    * exercise a layer reports 0 for it. */
  val CurationQueries: Seq[String] = Seq("pipeline_curation", "pipeline_dedup_cascade",
    "dedup_minhash_lsh", "dedup_simhash", "text_tfidf", "text_bm25", "ann_pq_rerank", "ann_maxsim")
  val LayerMetrics: Seq[(String, String)] = Seq(
    "streaming.trigger_s" -> "s", "streaming.add_batch_s" -> "s",
    "streaming.offsets_s" -> "s", "streaming.pickup_wait_s" -> "s",
    "streaming.bronze_bytes_read" -> "bytes", "streaming.bronze_useful_frac" -> "ratio",
    "upsert.merge_s" -> "s", "upsert.partitions_rewritten" -> "count", "upsert.write_amp" -> "ratio",
    "silver.files" -> "count", "silver.bytes" -> "bytes",
    "meteo.count_locations_s" -> "s", "meteo.recent_s" -> "s", "meteo.describe_s" -> "s",
    "meteo.table_count_s" -> "s", "meteo.last_status_s" -> "s", "meteo.fetch_and_store_s" -> "s",
    "sources.commit_append_s" -> "s", "sources.manifest_files" -> "count") ++
    CurationQueries.map(q => s"curation.${q}_s" -> "s") ++ Seq(
    "ops.dedup_s" -> "s", "ops.similarity_s" -> "s", "ops.text_s" -> "s",
    "curation.count_over_noop" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_busy_s" -> "s", "spark.cpu_util" -> "ratio", "spark.input_bytes" -> "bytes",
    "scan.rows_per_result" -> "ratio", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes", "spark.gc_s" -> "s",
    "driver_s" -> "s", "tracing_overhead_frac" -> "ratio")
}
