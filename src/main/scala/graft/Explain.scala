package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: the formatted physical plan of named queries, printed or
  * written to files (the plan evidence committed under plans/r{N}/).
  *
  * Usage: runMain graft.Explain <name>[,name...] [sfDir] [--run] [--out dir]
  *
  * `--out dir` writes each plan to `<dir>/<name>.txt` instead of printing
  * it; `--run` also counts each query and prints its rows and seconds.
  * Every plan that can be built is written; the run then exits 1 naming
  * each query that was unknown or threw.
  */
object Explain {
  private val usage =
    "usage: graft.Explain <name>[,name...] [sfDir] [--run] [--out dir]"

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { System.err.println(usage); sys.exit(2) }
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    var sfDir = "/root/testdata/sf0.01"
    var run = false
    var out: Option[String] = None
    val rest = args.iterator.drop(1)
    while (rest.hasNext) rest.next() match {
      case "--run" => run = true
      case "--out" if rest.hasNext => out = Some(rest.next())
      case "--out" => System.err.println(usage); sys.exit(2)
      case dir => sfDir = dir
    }
    val spark = GraftSession.local(GraftSession.cpus)
    val failed = explain(spark, SparkEntry.queries, names, sfDir, run, out)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[explain] ${failed.size} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Explains (and with `run`, counts) each of `names`, printing its plan
    * or writing it to `<out>/<name>.txt`. Returns the names that are not
    * in `queries` or threw; every other plan is still written. */
  private[graft] def explain(spark: SparkSession,
      queries: Map[String, Bench.Query], names: Seq[String], sfDir: String,
      run: Boolean, out: Option[String]): Seq[String] = {
    out.foreach(d => Files.createDirectories(Paths.get(d)))
    names.flatMap { name =>
      try {
        val fn = queries.getOrElse(name,
          throw new NoSuchElementException(s"unknown query '$name'"))
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        out match {
          case Some(d) =>
            Files.writeString(Paths.get(d, s"$name.txt"), plan)
            println(s"[explain] wrote $d/$name.txt")
          case None => println(s"== $name ==\n$plan")
        }
        if (run) {
          val t0 = System.nanoTime()
          println(s"[explain] $name rows=${df.count()} in ${(System.nanoTime() - t0) / 1e9}s")
        }
        None
      } catch { case e: Throwable =>
        System.err.println(s"[explain] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
  }
}
