package graftbench

/** Seeded, stateless input generators. Every value is a pure function of
  * (seed, coordinates), so the expected outputs can be recomputed on the
  * driver without keeping the inputs around. */
object Mix {
  private def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def h(xs: Long*): Long =
    xs.foldLeft(0x2545f4914f6cdd1dL)((acc, x) => mix64(acc ^ (x * 0x9e3779b97f4a7c15L + 1)))
  /** Uniform in [0, 1). */
  def u(xs: Long*): Double = (h(xs: _*) >>> 11) * (1.0 / (1L << 53))
}

/** Open-meteo style payloads and fetch events for `locations` points.
  * Batch `b` fetches a 7-day hourly window starting on day 3b, so each
  * batch overlaps the previous one on 4 days (upsert conflicts). */
final case class MeteoGen(seed: Long, locations: Int) {
  import MeteoGen._

  val url = graft.meteo.Sources.meteo.url

  /** Distinct (lat*10, lon*10) grid cells, so rounding to one decimal
    * keeps locations apart. */
  val locs: IndexedSeq[(Int, Int)] = {
    val seen = scala.collection.mutable.LinkedHashSet[(Int, Int)]()
    var i = 0L
    while (seen.size < locations) {
      seen += ((-600 + (Mix.h(seed, 11, i) >>> 1) % 1200).toInt ->
        (-1800 + (Mix.h(seed, 12, i) >>> 1) % 3600).toInt)
      i += 1
    }
    seen.toIndexedSeq
  }

  def fetchId(l: Int, b: Int): String = f"b$b%04d-l$l%04d"
  def success(l: Int, b: Int): Boolean = Mix.u(seed, 2, l, b) >= ErrorShare
  def finishedMs(l: Int, b: Int): Long =
    (BaseSec + (b * StepDays + Days) * 86400L + l) * 1000L + 500L
  def version(l: Int, b: Int): Long = finishedMs(l, b) / 1000L
  def firstHour(b: Int): Int = b * StepDays * 24
  /** Hours covered once `batches` batches have landed. */
  def totalHours(batches: Int): Int = ((batches - 1) * StepDays + Days) * 24

  /** Metric `m` at absolute hour `h` as fetched by batch `b`, in units of
    * 10^-scale(m); None is a JSON null (only precipitation has gaps). */
  def metric(l: Int, b: Int, h: Int, m: Int): Option[Int] = {
    val x = Mix.u(seed, 3, l, b, h, m)
    m match {
      case 0 => Some(-100 + (x * 400).toInt)           // temperature, 0.1 C
      case 1 =>                                         // precipitation, 0.1 mm
        if (Mix.u(seed, 4, l, b, h) < NullShare) None else Some((x * x * 80).toInt)
      case 2 => Some(-20 + (x * 250).toInt)            // soil temperature, 0.1 C
      case 3 => Some(50 + (x * 400).toInt)             // soil moisture, 0.001
      case 4 => Some((x * 300).toInt)                  // wind speed, 0.1 km/h
      case 5 => Some((x * 360).toInt)                  // wind direction, deg
      case _ => Some((x * 100).toInt)                  // cloud cover, %
    }
  }

  private def fmt(v: Int, scale: Int): String =
    if (scale == 0) v.toString
    else {
      val p = math.pow(10, scale).toInt
      val a = math.abs(v)
      (if (v < 0) "-" else "") + (a / p) + "." + s"%0${scale}d".format(a % p)
    }

  def payload(l: Int, b: Int): String = {
    val (lat, lon) = locs(l)
    val h0 = firstHour(b)
    val sb = new StringBuilder(8192)
    sb.append("{\"latitude\":").append(fmt(lat, 1))
      .append(",\"longitude\":").append(fmt(lon, 1))
      .append(",\"generationtime_ms\":0.1,\"hourly\":{\"time\":[")
    var i = 0
    while (i < Hours) {
      if (i > 0) sb.append(',')
      sb.append('"').append(timeString(h0 + i)).append('"')
      i += 1
    }
    sb.append(']')
    Metrics.zipWithIndex.foreach { case ((name, scale), m) =>
      sb.append(",\"").append(name).append("\":[")
      var j = 0
      while (j < Hours) {
        if (j > 0) sb.append(',')
        sb.append(metric(l, b, h0 + j, m).map(fmt(_, scale)).getOrElse("null"))
        j += 1
      }
      sb.append(']')
    }
    sb.append("}}").toString
  }

  /** One bronze JSON line: the raw payload stored as a string field. */
  def bronzeLine(l: Int, b: Int): String = {
    val sb = new StringBuilder
    sb.append("{\"fetch_id\":\"").append(fetchId(l, b)).append("\",\"payload\":")
    Json.quote(sb, payload(l, b))
    sb.append('}').toString
  }

  def params(l: Int): Map[String, String] = {
    val (lat, lon) = locs(l)
    Map("latitude" -> fmt(lat, 1), "longitude" -> fmt(lon, 1))
  }

  def eventLine(l: Int, b: Int, bronzePath: String): String = {
    val ok = success(l, b)
    val p = params(l)
    s"""{"fetch_id":"${fetchId(l, b)}","source":"$url","status":"${if (ok) "success" else "error"}",""" +
      s""""path":${if (ok) "\"" + bronzePath + "\"" else "null"},""" +
      s""""params":{"latitude":"${p("latitude")}","longitude":"${p("longitude")}"},""" +
      s""""finished_at":${finishedMs(l, b)}}"""
  }

  /** Lines the consumer must route to the dead-letter feed. */
  def malformed(b: Int): Seq[String] = {
    val n = math.max(1, locations / 50)
    (0 until n).map { i =>
      (Mix.h(seed, 5, b, i) >>> 1) % 3 match {
        case 0 => s"""{"fetch_id":"bad-$b-$i","source":"$url","""
        case 1 => s"""{"fetch_id":"bad-$b-$i","source":"$url","status":"unknown","params":{},"finished_at":1}"""
        case _ => s"not json $b $i"
      }
    }
  }

  /** Event file lines of batch `b`: one event per location with the
    * malformed lines spread among them. */
  def eventLines(b: Int, bronzePath: String): Seq[String] = {
    val good = (0 until locations).map(eventLine(_, b, bronzePath))
    val bad = malformed(b)
    val step = math.max(1, good.size / bad.size)
    good.grouped(step).zipAll(bad.iterator.map(Seq(_)), Seq.empty, Seq.empty)
      .flatMap { case (g, x) => g ++ x }.toSeq
  }

  /** Last-write-wins silver after batches 0 until `batches`. */
  def expected(batches: Int): Expected = {
    var rows = 0L; var keyHash = 0L; var winHash = 0L; var nPrecip = 0L
    val present = scala.collection.mutable.Set[Int]()
    var h = 0
    val hours = totalHours(batches)
    while (h < hours) {
      val hi = math.min(batches - 1, h / (StepDays * 24))
      val lo = math.max(0, Math.floorDiv(h - Hours + StepDays * 24, StepDays * 24))
      var l = 0
      while (l < locations) {
        var b = hi
        while (b >= lo && !success(l, b)) b -= 1
        if (b >= lo) {
          val t = metric(l, b, h, 0).get
          rows += 1
          keyHash += Checks.keyHash(locs(l)._1, locs(l)._2, h)
          winHash += Checks.winHash(locs(l)._1, locs(l)._2, h, version(l, b), t)
          if (metric(l, b, h, 1).isDefined) nPrecip += 1
          present += l
        }
        l += 1
      }
      h += 1
    }
    Expected(rows, keyHash, winHash, nPrecip, present.size.toLong)
  }
}

object MeteoGen {
  val BaseSec = 1767225600L // 2026-01-01T00:00:00Z
  val Days = 7
  val StepDays = 3
  val Hours: Int = Days * 24
  val ErrorShare = 0.03
  val NullShare = 0.05
  val Metrics: Seq[(String, Int)] = Seq(
    "temperature_2m" -> 1, "precipitation" -> 1, "soil_temperature_18cm" -> 1,
    "soil_moisture_9_to_27cm" -> 3, "wind_speed_10m" -> 1,
    "wind_direction_10m" -> 0, "cloud_cover" -> 0)

  private val fmtTime = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm").withZone(java.time.ZoneOffset.UTC)
  def timeString(hour: Int): String =
    fmtTime.format(java.time.Instant.ofEpochSecond(BaseSec + hour * 3600L))
}

/** Silver expectations: row count, key-set hash, winning-version
  * checksum, non-null precipitation count and distinct locations. */
final case class Expected(rows: Long, keyHash: Long, winHash: Long,
    nPrecip: Long, locations: Long)

/** The training-data corpus the curation queries read: `documents` and
  * `embeddings` with the shape and near-duplicate structure of the
  * repo's sf0.1 test tables. Fixed content (its own seed): a run's seed
  * only permutes query order, so outputs can be pinned. */
object CorpusGen {
  val Seed = 20260101L
  private val vocab = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val langs = Seq("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.14)

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class Emb(vec_id: Long, embedding: Array[Float], label: Int)

  def documents(n: Int): Seq[Doc] = {
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val r = Mix.u(Seed, 1, i)
      texts(i) =
        if (i > 0 && r < 0.002) texts((Mix.u(Seed, 2, i) * i).toInt)       // exact copy
        else if (i > 0 && r < 0.05) texts((Mix.u(Seed, 2, i) * i).toInt) + " dup" // near-dup
        else {
          val len = 10 + (Mix.u(Seed, 3, i) * 91).toInt
          (0 until len).map(k => vocab((Mix.u(Seed, 4, i, k) * vocab.size).toInt)).mkString(" ")
        }
      val x = Mix.u(Seed, 5, i)
      val lang = langs.scanLeft(("", 0.0)) { case ((_, acc), (l, p)) => (l, acc + p) }
        .tail.find(_._2 > x).map(_._1).getOrElse("de")
      Doc(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
  }

  def embeddings(n: Int, dim: Int = 64): Seq[Emb] = (0 until n).map { i =>
    val g = (0 until dim).map { d =>
      val u1 = math.max(Mix.u(Seed, 6, i, d), 1e-12); val u2 = Mix.u(Seed, 7, i, d)
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
    val norm = math.sqrt(g.map(x => x * x).sum)
    Emb(i.toLong, g.map(x => (x / norm).toFloat).toArray, (Mix.u(Seed, 8, i) * 10).toInt)
  }
}
