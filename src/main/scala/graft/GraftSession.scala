package graft

import org.apache.spark.sql.SparkSession

/** The one way graft builds a SparkSession. Every main and the spec base
  * get it from here, so a query is timed (Bench) under exactly the
  * config it is checked (Verify) and tested in.
  *
  *  - `local[cpus]`, with one shuffle partition per core;
  *  - UTC session time zone, no UI, parquet timestamps written as INT64
  *    micros (the physical type the DuckDB oracle computes);
  *  - capped status-listener retention: the retained SQL-execution and
  *    job/stage/task state otherwise grows across a long single-JVM
  *    sweep and taxes every later job (measured 2-3× slower in-sweep
  *    than focused on the parity gates);
  *  - a per-JVM temp warehouse dir, deleted at exit (only
  *    [[graft.sources.Bucketed]] writes there);
  *  - the TopK strategy and rewrite rules registered up front.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  private lazy val warehouseDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-warehouse").toFile
    // removed with its tables at exit (`deleteOnExit` only removes an
    // empty directory, and bucketed tables make it non-empty)
    sys.addShutdownHook(deleteTree(d))
    d.toString
  }

  private def deleteTree(f: java.io.File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.ui.retainedExecutions", "15")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.ui.retainedDeadExecutors", "5")
      .config("spark.sql.warehouse.dir", warehouseDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.TopK.ensureRegistered(spark)
    spark
  }
}
