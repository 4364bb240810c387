package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, lazily built). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val sfDir = "/root/testdata/sf0.001"

  /** The Spark actions (query executions) `body` runs, by action name
    * ("count", "localCheckpoint", …). The sentinel-job pattern of
    * PlanAuditSpec: the session's execution listeners share the listener
    * bus queue with SparkListeners, which is FIFO, so once a tagged raw
    * RDD job started after `body` is seen, every action of `body` has
    * been too. A streaming query started inside `body` is counted too:
    * its session is cloned at start, with the listeners registered
    * then. */
  protected def actionsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val sentinels = new AtomicInteger(0)
    val names = new ConcurrentLinkedQueue[String]()
    val jobs = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(p =>
            p.getProperty("spark.jobGroup.id") == "action-sentinel"))
          sentinels.incrementAndGet()
    }
    val actions = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        names.add(f)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        names.add(f)
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
    spark.listenerManager.register(actions)
    try {
      sentinel()
      names.clear()
      body
      sentinel()
      names.asScala.toSeq
    } finally {
      spark.listenerManager.unregister(actions)
      sc.removeSparkListener(jobs)
    }
  }
}

object SparkTestBase {
  // One session per JVM: suites share it, avoiding repeated startup cost.
  lazy val session: SparkSession = GraftSession.local(cpus = 4)
}
