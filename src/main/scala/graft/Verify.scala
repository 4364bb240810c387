package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(GraftSession.cpus)
    new java.io.File(outDir).mkdirs()
    // optional local-iteration filter: run only the named queries
    // (driver sets no filter and always gets the full dump)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    val (hashes, failed) = dump(spark, sfDir, outDir, selected.toSeq)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in hand-written oracle SQL would otherwise make the
    // compare's json.load fail and silently drop every comparison.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/hashes.json"),
      hashes.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    spark.stop()
    // every other query's dump is complete; the exit status says the
    // run as a whole failed
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: ${failed.map(_._1).mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Dumps each query's result to `outDir/<name>` (parquet, plus a text
    * dump under 10k rows) and returns the canonical hash of each query
    * that completed and the exception class of each that threw. */
  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)])
      : (Seq[(String, String)], Seq[(String, String)]) = {
    // Gate diagnosability (judge r6): besides the parquet the driver
    // compares, emit a canonical per-query content hash and — for any
    // query under 10k rows — a plain-text row dump, so a driver-side
    // hash_match=false is diffable byte-for-byte against a builder or
    // judge run of this same binary, identifying the diverging side,
    // row, and column from artifacts alone.
    val hashes = scala.collection.mutable.LinkedHashMap[String, String]()
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    queries.foreach { case (name, fn) =>
      try {
        var df = fn(spark, sfDir)
        // Spark timestamps are LTZ (isAdjustedToUTC=true in parquet); the
        // DuckDB oracle produces naive timestamps. Session TZ is UTC, so
        // casting to NTZ is value-identity but makes the physical parquet
        // type (INT64 micros, naive) match the oracle's exactly.
        for (f <- df.schema.fields
             if f.dataType == org.apache.spark.sql.types.TimestampType)
          df = df.withColumn(f.name,
            org.apache.spark.sql.functions.col(f.name).cast("timestamp_ntz"))
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        // canonical form: columns sorted by name, every value rendered to
        // string (binary → hex), nulls as \N — read BACK from the dumped
        // parquet so the hash covers exactly the bytes the driver reads.
        import org.apache.spark.sql.functions._
        val back = spark.read.parquet(s"$outDir/$name")
        val cols = back.columns.sorted.toSeq
        val rendered = cols.map { c =>
          val f = back.schema(c)
          val v = f.dataType match {
            case org.apache.spark.sql.types.BinaryType => hex(col(c))
            case _ => col(c).cast("string")
          }
          coalesce(v, lit("\\N"))
        }
        val lines = back.select(
          concat_ws("\u0001", rendered: _*).as("__line"))
        // order-independent 64-bit content hash (sum of per-row xxhash64
        // mod 2^64) + row count — stable across partitionings and runs.
        // The sum runs in decimal(38,0): a LONG sum overflows ANSI mode
        // on a few thousand rows (xxhash64 values span ±9.2e18).
        val agg = lines.agg(count(lit(1)).as("n"),
          sum(xxhash64(col("__line"))
            .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("h"))
          .head()
        val nRows = agg.getLong(0)
        val h = if (agg.isNullAt(1)) BigInt(0)
          else BigInt(agg.getDecimal(1).toBigInteger).mod(BigInt(1) << 64)
        hashes(name) = f"rows=$nRows%d hash=${h.toString(16)}%s"
        if (nRows <= 10000) {
          val sortedLines = lines.as[String](org.apache.spark.sql.Encoders.STRING)
            .collect().sorted
          Files.writeString(Paths.get(s"$outDir/$name.txt"),
            (s"# $name canonical dump — cols: ${cols.mkString(",")}\n" +
              sortedLines.mkString("\n") + "\n"))
        }
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = e.getClass.getName
      }
    }
    (hashes.toSeq, failed.toSeq)
  }
}
