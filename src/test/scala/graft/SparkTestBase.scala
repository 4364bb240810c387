package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, lazily built). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val sfDir = "/root/testdata/sf0.001"

  /** The Spark actions (query executions) `body` runs, by action name
    * ("count", "localCheckpoint", …). A streaming query started inside
    * `body` is counted too: its session is cloned at start, with the
    * listeners registered then. */
  protected def actionsOf(body: => Unit): Seq[String] =
    executionsOf(body).map(_._1)

  /** The Spark actions `body` runs, as (action name, its query
    * execution). */
  protected def executionsOf(body: => Unit): Seq[(String, QueryExecution)] = {
    val runs = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    val actions = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        runs.add(f -> qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        runs.add(f -> qe)
    }
    spark.listenerManager.register(actions)
    try {
      fenced(runs.clear())(body)
      runs.asScala.toSeq
    } finally spark.listenerManager.unregister(actions)
  }

  /** The stages `body` runs to completion, in completion order (skipped
    * stages, whose shuffle output is reused, never complete). */
  protected def stagesOf(body: => Unit): Seq[StageInfo] = {
    val stages = new ConcurrentLinkedQueue[StageInfo]()
    val fences = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (isSentinel(js)) js.stageIds.foreach(fences.add)
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stages.add(sc.stageInfo)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      fenced(stages.clear())(body)
      stages.asScala.toSeq.filterNot(st => fences.contains(st.stageId))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The Spark jobs `body` starts, in start order: SQL actions, the
    * jobs inside them (broadcasts, AQE stages, listings) and raw RDD
    * jobs alike. */
  protected def jobsOf(body: => Unit): Seq[SparkListenerJobStart] = {
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (!isSentinel(js)) jobs.add(js)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      fenced(jobs.clear())(body)
      jobs.asScala.toSeq
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def isSentinel(js: SparkListenerJobStart): Boolean =
    Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == "action-sentinel")

  /** Runs `body` between two sentinel jobs, `reset` after the first one:
    * the session's execution listeners share the listener bus queue with
    * SparkListeners, which is FIFO, so once a tagged raw RDD job started
    * after `body` is seen, every event of `body` has been delivered, and
    * none from before `reset`. */
  private def fenced(reset: => Unit)(body: => Unit): Unit = {
    val sc = spark.sparkContext
    val sentinels = new AtomicInteger(0)
    val jobs = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (isSentinel(js)) sentinels.incrementAndGet()
    }
    def sentinel(): Unit = {
      val seen = sentinels.get()
      sc.setJobGroup("action-sentinel", "sentinel")
      try sc.parallelize(Seq(1)).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (sentinels.get() == seen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(sentinels.get() > seen, "sentinel job never observed")
    }
    sc.addSparkListener(jobs)
    try {
      sentinel()
      reset
      body
      sentinel()
    } finally sc.removeSparkListener(jobs)
  }
}

object SparkTestBase {
  // One session per JVM: suites share it, avoiding repeated startup cost.
  lazy val session: SparkSession = GraftSession.local(cpus = 4)
}
