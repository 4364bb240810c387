package graft

import graft.plans._

/** Pins the one session config every entry point builds through
  * [[GraftSession.local]]: a query is timed, verified and tested under
  * the same time zone, partitioning, parquet types and planner rules. */
class GraftSessionSpec extends SparkTestBase {

  test("GraftSession: UTC, one shuffle partition per core, capped " +
      "listener retention, INT64-micros parquet timestamps, TopK rules") {
    val s = SparkTestBase.session
    assert(s.sparkContext.master == "local[4]")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.parquet.outputTimestampType") == "TIMESTAMP_MICROS")
    val sc = s.sparkContext.getConf
    assert(sc.get("spark.ui.enabled") == "false")
    assert(Seq("spark.sql.ui.retainedExecutions", "spark.ui.retainedJobs",
      "spark.ui.retainedStages", "spark.ui.retainedTasks",
      "spark.ui.retainedDeadExecutors").map(sc.get) ==
      Seq("15", "50", "100", "2000", "5"))
    assert(s.experimental.extraStrategies.contains(TopKPerKeyStrategy))
    assert(Seq(WindowTopKRewrite, TopKJoinPushdown, FilterThroughTopK,
      MergeFilterPushdown).forall(s.experimental.extraOptimizations.contains))
  }
}
