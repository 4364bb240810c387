package graft

import org.apache.spark.sql.functions._

/** A query that throws is a failure in Bench, Verify and Explain: Bench
  * leaves it out of the timings and names it on the headline, Verify and
  * Explain report it (their mains then exit non-zero) while still
  * writing the others. */
class ToolFailureSpec extends SparkTestBase {

  private val ok: Bench.Query = (s, _) => s.range(3).toDF("x")
  // a filter, so the throw survives Bench's count (which prunes columns)
  private val boom: Bench.Query = (s, _) =>
    s.range(3).toDF("x").where(raise_error(lit("planted failure")).isNull)

  test("Bench records a throwing query as failed with its exception " +
      "class, never as a timing, and names it on the headline") {
    val sw = Bench.sweep(spark, Seq("ok" -> ok, "boom" -> boom), sfDir,
      nRuns = 1, new Bench.TaskMetricsListener)
    assert(sw.results.map(_._1) == Seq("ok"))
    assert(sw.spills.map(_._1) == Seq("ok"))
    assert(sw.failed.map(_._1) == Seq("boom"), sw.failed)
    val cls = sw.failed.head._2
    assert(classOf[Throwable].isAssignableFrom(Class.forName(cls)), cls)
    val line = Bench.headline(sw, 1, "4", sfDir, "")
    assert(line.contains("\"nq\":1,\"nfailed\":1,\"failed\":{\"boom\":\"" + cls + "\"}"),
      line)
    assert(Bench.timeRuns(spark, 3)(throw new IllegalStateException("x")) ==
      Left("java.lang.IllegalStateException"))
  }

  test("Verify dumps the passing query and reports the throwing one as " +
      "failed") {
    val out = java.nio.file.Files.createTempDirectory("graft-verify").toString
    val (hashes, failed) = Verify.dump(spark, sfDir, out,
      Seq("ok" -> ok, "boom" -> boom))
    assert(hashes.map(_._1) == Seq("ok"))
    assert(hashes.head._2.startsWith("rows=3 "), hashes)
    assert(failed.map(_._1) == Seq("boom"), failed)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(out, "ok.txt")))
  }

  test("Explain writes every other plan and names each query that was " +
      "unknown or threw") {
    val out = java.nio.file.Files.createTempDirectory("graft-explain").toString
    val throws: Bench.Query = (_, _) => throw new IllegalStateException("planted")
    val failed = Explain.explain(spark,
      Map("ok" -> ok, "boom" -> boom, "throws" -> throws),
      Seq("ok", "nope", "throws", "boom"), sfDir, run = true, Some(out))
    assert(failed == Seq("nope", "throws", "boom"))
    val plan = java.nio.file.Files.readString(java.nio.file.Paths.get(out, "ok.txt"))
    assert(plan.contains("Physical Plan"), plan)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(out, "throws.txt")))
  }
}
