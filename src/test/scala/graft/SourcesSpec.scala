package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

import graft.meteo.Sources
import graft.streaming.FetchEventStream

/** Source-registry parity (etl/sources.py:28-100, VERDICT r5 missing
  * #2): a SECOND source registers at runtime — no edits to existing
  * code — and the same consumer routes both sources' events through
  * their own normalize plans into one silver table. Plus the
  * per-source User-Agent contract (`f"{APP_NAME}_{NAME}"`,
  * etl/sources.py:52-57) and the params merge order
  * (static ++ required ++ extra, caller wins). */
class SourcesSpec extends SparkTestBase {

  /** A second source: single-observation JSON payloads from a toy
    * station API. Normalize emits the SAME silver observation schema
    * the meteo source produces (the union contract of
    * normalizeToSilver). */
  private def toySource: Sources.SourceDef = {
    val toySchema = StructType(Seq(
      StructField("lat", DoubleType), StructField("lon", DoubleType),
      StructField("ts", StringType), StructField("temp", DoubleType)))
    Sources.SourceDef(
      name = "etl_toy",
      url = "https://toy.example/v1/obs",
      staticParams = Map("format" -> "json"),
      requiredParams = Seq("station"),
      payloadSchema = toySchema,
      normalize = (df: DataFrame) => {
        val passthrough = df.columns.filter(_ != "payload").toSeq
        val nullD = lit(null).cast("double")
        df.withColumn("_p", from_json(col("payload"), toySchema))
          .select(passthrough.map(col) ++ Seq(
            round(col("_p.lat"), 1).as("latitude"),
            round(col("_p.lon"), 1).as("longitude"),
            to_timestamp(col("_p.ts"), "yyyy-MM-dd'T'HH:mm").as("timestamp"),
            col("_p.temp").as("temperature"),
            nullD.as("precipitation"), nullD.as("soil_temperature"),
            nullD.as("soil_moisture"), nullD.as("wind_speed"),
            nullD.as("wind_direction"), nullD.as("cloud_cover")): _*)
      })
  }

  test("register/byName/bySourceUrl: a second source is routable " +
      "without touching existing code; unregister removes it") {
    val toy = toySource
    try {
      assert(Sources.byName("etl_toy").isEmpty)
      Sources.register(toy)
      assert(Sources.byName("etl_toy").contains(toy))
      assert(Sources.bySourceUrl("https://toy.example/v1/obs").contains(toy))
      // the built-in stays untouched
      assert(Sources.byName("etl_meteo").contains(Sources.meteo))
      assert(Sources.registry.size >= 2)
    } finally Sources.unregister("etl_toy")
    assert(Sources.byName("etl_toy").isEmpty)
  }

  test("params merge order is static ++ required ++ extra (caller " +
      "wins) and missing required params are rejected — " +
      "etl/sources.py BaseSource.params") {
    val toy = toySource
    val p = toy.params(Map("station" -> "alpha"), Map("format" -> "csv"))
    assert(p == Map("format" -> "csv", "station" -> "alpha"))
    intercept[IllegalArgumentException] { toy.params(Map.empty) }
  }

  test("per-source User-Agent is APP_NAME_<source-name> " +
      "(etl/sources.py:52-57)") {
    assert(Sources.userAgent(Sources.meteo)
      == s"${Sources.appName}_etl_meteo")
    assert(Sources.userAgent(toySource).endsWith("_etl_toy"))
  }

  test("one consumer drives BOTH registered sources: events route to " +
      "each source's normalize by url and land in one silver table") {
    val root = Files.createTempDirectory("sources_spec")
    def dir(n: String) = { val p = root.resolve(n); Files.createDirectories(p); p }
    val events = dir("events"); val bronze = dir("bronze")
    val silver = root.resolve("silver").toString
    val ckpt = dir("ckpt")

    def meteoPayload(lat: Double, temp: Double): String =
      s"""{"latitude":$lat,"longitude":9.0,"hourly":{"time":["2026-01-01T00:00"],
         |"temperature_2m":[$temp],"precipitation":[0.0],
         |"soil_temperature_18cm":[1.0],"soil_moisture_9_to_27cm":[0.1],
         |"wind_speed_10m":[5.0],"wind_direction_10m":[90],"cloud_cover":[10]}}"""
        .stripMargin.replace("\n", "")
    def toyPayload(lat: Double, temp: Double): String =
      s"""{"lat":$lat,"lon":4.0,"ts":"2026-01-01T00:00","temp":$temp}"""
    def eventJson(id: String, url: String, ms: Long): String =
      s"""{"fetch_id":"$id","source":"$url","status":"success",""" +
        s""""path":"bronze/$id.json","params":{},"finished_at":$ms}"""

    StreamingSpec.writeBronze(bronze,
      "m1" -> meteoPayload(1.0, 20.0), "t1" -> toyPayload(7.0, 33.0))
    Files.writeString(events.resolve("b0.json"),
      eventJson("m1", Sources.meteo.url, 1000) + "\n" +
        eventJson("t1", "https://toy.example/v1/obs", 2000))

    Sources.register(toySource)
    try {
      val ev = FetchEventStream.validEvents(FetchEventStream.parseEvents(
        FetchEventStream.readRaw(spark, events.toString)))
      val q = FetchEventStream.normalizeToSilver(
        ev, bronze.toString, silver, ckpt.toString)
      try q.processAllAvailable() finally q.stop()
      val obs = spark.read.parquet(silver)
      assert(obs.count() == 2)
      val byLat = obs.select("latitude", "temperature").collect()
        .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
      assert(byLat == Map(1.0 -> 20.0, 7.0 -> 33.0),
        "each source's payload must flow through ITS normalize plan")
    } finally Sources.unregister("etl_toy")
  }
}
