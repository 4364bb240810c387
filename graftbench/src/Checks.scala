package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Output checks. Hashes are order-insensitive: a sum of per-row
  * hashes. */
object Checks {
  def keyHash(lat10: Int, lon10: Int, hour: Int): Long = Mix.h(lat10, lon10, hour)
  def winHash(lat10: Int, lon10: Int, hour: Int, version: Long, temp10: Int): Long =
    Mix.h(lat10, lon10, hour, version, temp10)

  /** Silver observations against the generator's last-write-wins model:
    * row count, key-set hash and winning-version checksum. */
  def silver(silverDf: DataFrame, exp: Expected): Option[String] = {
    var rows = 0L; var kh = 0L; var wh = 0L
    silverDf.select(
        round(col("latitude") * 10).cast("int"), round(col("longitude") * 10).cast("int"),
        ((unix_seconds(col("timestamp")) - MeteoGen.BaseSec) / 3600).cast("int"),
        col("version"), round(col("temperature") * 10).cast("int"))
      .collect().foreach { r =>
        rows += 1
        kh += keyHash(r.getInt(0), r.getInt(1), r.getInt(2))
        wh += winHash(r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getInt(4))
      }
    if (rows != exp.rows) Some(s"silver rows $rows != expected ${exp.rows}")
    else if (kh != exp.keyHash) Some("silver key-set hash differs from the expected key set")
    else if (wh != exp.winHash) Some("silver winning-version checksum differs from last-write-wins")
    else None
  }

  /** Observed (row count, content hash) of a delivered result; attach
    * with `df.observe(obs, contentAggs(df): _*)`. */
  def contentAggs(df: DataFrame): Seq[Column] = Seq(
    count(lit(1)).as("rows"),
    sum(xxhash64(df.columns.map(c => df.col(s"`$c`")): _*).cast("decimal(38,0)")).as("hash"))
}
