package graft.meteo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Exact

/** Normalizes raw open-meteo payloads into observation rows.
  *
  * The reference does this row-at-a-time in Python
  * (etl/models.py:66-88, `MeteoPayload.to_records`: zip eight parallel
  * hourly arrays into per-timestamp records, rounding lat/lon to one
  * decimal). Here the same transform is a single declarative plan —
  * `from_json` → `arrays_zip` → `explode` — that runs fully inside
  * whole-stage codegen and scales to any number of payloads with zero
  * driver involvement.
  */
object PayloadNormalizer {

  /** Hourly metric name in the payload → observation column name
    * (etl/models.py:75-84). */
  val metricMap: Seq[(String, String)] = Seq(
    "temperature_2m" -> "temperature",
    "precipitation" -> "precipitation",
    "soil_temperature_18cm" -> "soil_temperature",
    "soil_moisture_9_to_27cm" -> "soil_moisture",
    "wind_speed_10m" -> "wind_speed",
    "wind_direction_10m" -> "wind_direction",
    "cloud_cover" -> "cloud_cover")

  /** Parse a column of raw payload JSON into the typed payload struct. */
  def parse(payloadJson: Column): Column =
    from_json(payloadJson, MeteoSchemas.payloadSchema)

  /** `df` must carry a string column `payloadCol` (one raw payload per
    * row) and any passthrough columns (e.g. fetch_id). Returns one row per
    * (payload, hour) with the observation schema; passthrough columns are
    * preserved.
    *
    * The `time` array drives the explode; each metric is an indexed
    * `element_at` lookup — so a payload missing one metric array (the
    * reference's Optional fields, etl/models.py:36-42) yields rows with
    * that column null instead of silently dropping the whole payload
    * (which is what zipping null into `arrays_zip` would do).
    *
    * Scale: explode is narrow (no shuffle); a 100 TB bronze directory
    * normalizes embarrassingly parallel, one task per input split.
    */
  /** Typed view of [[normalize]] for callers that want compile-time row
    * safety (the payload column is consumed; extra passthrough columns
    * are dropped to fit the Observation schema). */
  def normalizeTyped(df: DataFrame, payloadCol: String = "payload")
      : org.apache.spark.sql.Dataset[MeteoSchemas.Observation] = {
    val spark = df.sparkSession
    import spark.implicits._
    normalize(df.select(payloadCol), payloadCol).as[MeteoSchemas.Observation]
  }

  def normalize(df: DataFrame, payloadCol: String = "payload"): DataFrame = {
    val passthrough = df.columns.filter(_ != payloadCol).toSeq
    df.withColumn("_p", parse(col(payloadCol)))
      .select(passthrough.map(col) :+ col("_p") :+
        posexplode(col("_p.hourly.time")): _*)
      .select(
        passthrough.map(col) ++ Seq(
          Exact.round(col("_p.latitude"), 1).as("latitude"),
          Exact.round(col("_p.longitude"), 1).as("longitude"),
          to_timestamp(col("col"), "yyyy-MM-dd'T'HH:mm").as("timestamp")) ++
          metricMap.map { case (raw, out) =>
            element_at(col(s"_p.hourly.$raw"), col("pos") + 1).as(out)
          }: _*)
  }
}
