package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: times every SparkEntry query at the scale
  * factor in SPARK_GRAFT_SF_DIR, one JSON line on stdout.
  *
  * Methodology (pinned so round-over-round deltas are attributable):
  *  - A warm-up pass (the flagship query at sf0.001) runs first so the
  *    first timed query doesn't absorb JVM/codegen/parquet-footer
  *    warm-up.
  *  - The sf1 throughput tier runs FIRST-IN-JVM, before the sf0.1
  *    sweep (judge r10 #1): round 10 ran it LAST, after 3×195 sf0.1
  *    queries had fragmented execution memory and accumulated
  *    listener/cleaner debt, and the driver's receipt came out 2–3×
  *    the numbers measured in focused runs (585.6 s vs the committed
  *    202–310 s, flipping "11/21 within 2×" to "11/21 above"). The
  *    published BASELINE sf1 table is regenerated from THIS path, so
  *    the committed numbers and the driver's receipt share a
  *    measurement position.
  *  - Queries run in name order; each gets SPARK_GRAFT_RUNS timed runs
  *    (default 3 since round 6 — the 2-run min still showed ±2× swings
  *    on the PQ/triplet family between full sweeps, enough to read as
  *    phantom regressions round over round) and reports the min —
  *    absorbs one-off JIT/GC/IO hiccups.
  *  - The session cache is CLEARED before each query's runs: several
  *    operators persist intermediates internally (minHashLsh / simHash
  *    signatures, semantic-dedup assignments) and a 95-query single-JVM
  *    sweep would otherwise accumulate cached blocks, squeezing
  *    execution memory for whichever shuffle-heavy queries happen to
  *    run later in name order. (Root cause of the r2→r3 "unexplained"
  *    regressions: round 3 added more persisting queries ahead of them
  *    alphabetically.) Each query still benefits from its OWN persists
  *    across its internal reuse — they just can't leak across timings.
  *  - Per-query executor-side spill (memory + disk bytes) and JVM GC
  *    time are captured by a task-end listener and appended to the raw
  *    provenance (judge r10 #1/#2): when a receipt number diverges
  *    from a focused run, the spill column says whether the plan hit
  *    memory pressure — the scale signal — or the host was just busy.
  *  - A query whose timed run throws is a FAILURE, never a timing: it
  *    is left out of the totals and named, with its exception class, on
  *    both headline lines (`"failed":{...}`, `"sf1_failed":{...}`).
  *  - The full per-query raw times (not just the min) are appended to
  *    SPARK_GRAFT_RAW (default scripts/bench_raw.json) for committed
  *    provenance.
  */
object Bench {

  /** Accumulates executor task metrics so each timed query can be
    * billed its spill and GC. Single-JVM local mode: one listener, the
    * bench reads deltas between snapshots (queries never run
    * concurrently here, so deltas attribute cleanly). */
  private[graft] final class TaskMetricsListener
      extends org.apache.spark.scheduler.SparkListener {
    val memSpill = new java.util.concurrent.atomic.AtomicLong
    val diskSpill = new java.util.concurrent.atomic.AtomicLong
    val gcMs = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        memSpill.addAndGet(m.memoryBytesSpilled)
        diskSpill.addAndGet(m.diskBytesSpilled)
        gcMs.addAndGet(m.jvmGCTime)
      }
    }
    def snapshot: (Long, Long, Long) =
      (memSpill.get, diskSpill.get, gcMs.get)
  }

  /** sf1 (10× sf0.1) throughput tier — the top-25 wall-time
    * ORACLE-GATED queries of the round-9 sweep (judge r9 #1: the sf0.1
    * sweep is overhead-dominated — most ratios measure the ~0.1–0.3 s
    * local job-launch constant, so the 2× bar needs a tier where
    * wall-time accumulates). Exclusions, by contract: the
    * `stream_*_parity` gates time the fold HARNESS, not an operator
    * (judge r9 finding 3 — they'd pollute this tier 10× harder);
    * `mm_phash_pairs` fabricates payloads whose planted near-dup
    * clusters scale their PAIR OUTPUT quadratically by construction;
    * [R] rows-only queries have no oracle for DuckDB to replay. Data
    * comes from `graft.MakeSf1` (the Stress100 workload-preserving
    * scale-up).
    *
    * CHEAPEST-FIRST (judge r11 #1c): the tier runs in ascending order
    * of the committed round-11 first-in-JVM wall time, so a throttled
    * host that exhausts the budget skips only the few EXPENSIVE tail
    * queries — the round-11 driver receipt ran expensive-first and a
    * GC-thrashed host burned the whole 900 s on 5 queries, skipping
    * exactly the 20 cheap stage-constant queries whose 2×-vs-DuckDB
    * ratios were the contested claim. */
  private val Sf1Tier = Seq(
    "pipeline_curation", "q51_calibration", "q54_growth_accounting",
    "q55_pareto", "q57_pr_curve", "q36_quantile_sketch", "ann_pq_rerank",
    "search_rrf_fusion", "q48_rfm", "graph_pagerank", "q34_outliers",
    "dedup_sorted_multi", "dedup_minhash_lsh", "ts_hampel",
    "dedup_survivorship", "q52_basket", "dedup_clusters", "ann_knn_graph",
    "data_split_cluster_safe", "dedup_ngram_capped",
    "dedup_containment_capped", "data_triplets", "pipeline_dedup_cascade",
    "graph_knn_components", "graph_link_predict")

  /** Control cells (judge r11 #1a): five tier queries with committed
    * reference times from the round-12 first-in-JVM PRIMED tier run
    * (scripts/bench_raw.json — re-stamp these from the committed tier
    * line whenever a control's operator changes or the tier
    * methodology moves). The tier computes drift =
    * median(measured / reference) over whichever controls have
    * completed; a receipt whose controls run far above 1.0
    * self-identifies as measured on a degraded host (the DuckDB
    * baseline columns are frozen from another session, so host weather
    * otherwise inflates every spark/duck ratio silently). Spanning
    * shapes: scan+agg pipeline, rank math, PQ rerank, iterative joins,
    * LSH shuffle. */
  private val CtrlRefs = Map(
    "pipeline_curation" -> 2.28, "q51_calibration" -> 1.88,
    "ann_pq_rerank" -> 5.15, "graph_pagerank" -> 3.21,
    "dedup_minhash_lsh" -> 6.86)

  /** Host-health preamble (judge r11 #1b): direct-IO write/read
    * throughput via `dd` (page-cache-proof — the same probe the judge
    * and builder use by hand when a receipt looks off) plus a fixed
    * single-thread CPU probe (xorshift fold, ~1 s on a healthy host).
    * Best-effort: a sandbox without `dd` or a writable tmp reports -1
    * and the bench proceeds — the probe is receipt metadata, never a
    * gate. */
  private def hostProbe(): (Double, Double, Double) = {
    val tmp = java.nio.file.Files.createTempFile("graft_io", ".bin")
    def dd(args: Seq[String]): Double =
      try {
        val p = new ProcessBuilder(("dd" +: args): _*)
          .redirectErrorStream(true).start()
        val out = new String(p.getInputStream.readAllBytes, "UTF-8")
        p.waitFor()
        // dd's summary line ends "..., 1.54 s, 348 MB/s"
        val m = """([\d.]+)\s+([MG])B/s""".r.findAllMatchIn(out).toSeq.lastOption
        m.map(g => g.group(1).toDouble *
          (if (g.group(2) == "G") 1000.0 else 1.0)).getOrElse(-1.0)
      } catch { case _: Throwable => -1.0 }
    val w = dd(Seq("if=/dev/zero", s"of=$tmp", "bs=1M", "count=256",
      "oflag=direct", "conv=notrunc"))
    val r = dd(Seq(s"if=$tmp", "of=/dev/null", "bs=1M", "iflag=direct"))
    java.nio.file.Files.deleteIfExists(tmp)
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L; var i = 0
    while (i < 200000000) { // fixed work → wall time IS the cpu scalar
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
    }
    val cpuS = (System.nanoTime() - t0) / 1e9
    if (x == 42) println("") // defeat dead-code elimination
    (w, r, cpuS)
  }

  type Query = (SparkSession, String) => org.apache.spark.sql.DataFrame

  /** `nRuns` timed runs of `run`, or the class of the exception that
    * stopped them: a run that throws is a failure, never a timing.
    *
    * The session cache is cleared before EVERY timed run: the lifecycle
    * contract materializes operator RESULTS into the cache (so a
    * long-lived session can release the working tables), and without
    * this the CacheManager would substitute run 1's cached result into
    * runs 2..n — a 0.3s "measurement" of a cache read, not of the
    * operator (observed: ngram_capped raws [1.9, 0.36, 0.36]). Every
    * timed run pays the full operator; the caller's priming run already
    * absorbed one-time codegen/JIT. A GC at the run boundary too: a run
    * leaves shuffle/broadcast references whose (blocking) ContextCleaner
    * work otherwise fires when the JVM happens to GC — i.e. mid-way
    * through a LATER run, reading as a 1.5-2× outlier in that run's time
    * (a 21.6 s stream_dedup_parity raw was one). Forcing collection here
    * bills cleanup to the boundary, not to whichever run the allocator
    * happened to trip. */
  private[graft] def timeRuns(spark: SparkSession, nRuns: Int)(
      run: => Unit): Either[String, Seq[Double]] =
    try Right((1 to nRuns).map { _ =>
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      run
      (System.nanoTime() - t0) / 1e9
    }) catch { case e: Throwable => Left(e.getClass.getName) }

  /** Result of [[sweep]]: per-query raw times of the queries that
    * completed, their spill/GC deltas, and the failed queries with the
    * exception class that stopped each. */
  private[graft] final case class Sweep(results: Seq[(String, Seq[Double])],
      spills: Seq[(String, Long, Long, Long)], failed: Seq[(String, String)])

  /** The sf0.1 sweep: each query in name order gets one untimed priming
    * run and `nRuns` timed runs (see [[timeRuns]]). */
  private[graft] def sweep(spark: SparkSession, queries: Seq[(String, Query)],
      sfDir: String, nRuns: Int, metrics: TaskMetricsListener): Sweep = {
    val results = Seq.newBuilder[(String, Seq[Double])]
    val spills = Seq.newBuilder[(String, Long, Long, Long)]
    val failed = Seq.newBuilder[(String, String)]
    for ((name, fn) <- queries.sortBy(_._1)) {
      // label the sweep's jobs so stages can be attributed to queries;
      // thread-local, zero cost
      spark.sparkContext.setJobDescription(s"bench: $name")
      spark.catalog.clearCache()
      // accumulated broadcast/shuffle state is only reclaimed when the
      // ContextCleaner's weak references get GC'd; in a 100+-query
      // single-JVM sweep that backlog degrades shuffle-heavy queries
      // late in name order (measured: 10.7s vs 1.2s solo for
      // dedup_sorted_neighborhood). Force the cleanup between queries
      // so timings are attributable to the query, not sweep position.
      System.gc()
      // one UNTIMED priming run per query: whole-stage codegen compiles
      // and parquet footers warm, so the timed runs measure steady-state
      // operator cost. Without it a query's first run carries its own
      // codegen compilation (measured 12.6s vs 4.7s warm on
      // stream_dedup_parity) and the published spread reads as operator
      // variance when it is JIT noise. A priming failure is not
      // recorded: the timed runs meet it again.
      try { fn(spark, sfDir).count() } catch { case _: Throwable => }
      spark.catalog.clearCache()
      val (m0, d0, g0) = metrics.snapshot
      timeRuns(spark, nRuns)(fn(spark, sfDir).count()) match {
        case Right(times) =>
          val (m1, d1, g1) = metrics.snapshot
          spills += ((name, m1 - m0, d1 - d0, g1 - g0))
          results += (name -> times)
        case Left(cls) =>
          System.err.println(s"[bench] $name failed: $cls")
          failed += (name -> cls)
      }
    }
    // clear the last sweep query's thread-local label
    spark.sparkContext.setJobDescription(null)
    Sweep(results.result(), spills.result(), failed.result())
  }

  /** `"<key>":{"query":"ExceptionClass",...}` — the failed queries,
    * named on the headline lines. */
  private[graft] def failedJson(key: String, failed: Seq[(String, String)]): String =
    failed.map { case (k, c) => s"\"$k\":\"$c\"" }.mkString(s"\"$key\":{", ",", "}")

  /** The final short headline line (see main). */
  private[graft] def headline(sw: Sweep, nRuns: Int, cpus: String,
      sfDir: String, sf1Brief: String): String = {
    val total = sw.results.map(_._2.min).sum
    s"""{"metric":"total","value":$total,"unit":"sec","n":$nRuns,"cpus":$cpus,"nq":${sw.results.size},"nfailed":${sw.failed.size},${failedJson("failed", sw.failed)},"sf":"$sfDir"$sf1Brief}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    // run count is forced ODD so the median is a real middle run — with
    // an even count the upper median reads as the max at n=2 (judge r7
    // #3)
    val nRuns = {
      val n = math.max(1, sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt)
      if (n % 2 == 0) n + 1 else n
    }
    val spark = GraftSession.local(cpus)
    val metrics = new TaskMetricsListener
    spark.sparkContext.addSparkListener(metrics)
    try { SparkEntry.entry(spark).count() } catch { case _: Throwable => }
    // optional comma-separated name filter for focused local iteration
    // (driver leaves it unset → full run)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val rawPath = sys.env.getOrElse("SPARK_GRAFT_RAW", "scripts/bench_raw.json")
    def appendRaw(line: String): Unit =
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(rawPath),
          (line + "\n").getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      } catch { case _: Throwable => () } // provenance is best-effort

    // ---- sf1 throughput tier (see Sf1Tier) — FIRST-IN-JVM ----
    // Runs only when the MakeSf1 output exists and the main sweep was
    // not name-filtered (a focused local iteration shouldn't pay the
    // tier). One PRIMED timed run per query (SPARK_GRAFT_SF1_RUNS):
    // the untimed priming run absorbs codegen/JIT (required since the
    // round-12 cheapest-first order put 1–3 s queries at the head of
    // the JVM), then at the 2–100 s scale one timed run is enough —
    // run-to-run variance is proportionally small at that magnitude.
    // A wall budget bounds the tier (skipped queries are LOGGED, never
    // silently dropped).
    val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/root/repo/testdata_sf1")
    val sf1Runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_SF1_RUNS", "1").toInt)
    // 900 s ≈ 4× the observed full-tier time (217 s at round-11 HEAD):
    // enough headroom for host swings, bounded enough that a regression
    // to quadratic cannot stretch the driver's bench run past its
    // patience (skips are logged, never silent). On a throttled host
    // the budget SCALES with the measured control drift (capped 3×) —
    // combined with the cheapest-first order, a slow host yields a
    // complete-but-slow tier with a drift stamp, not `nq: 5` (r11 #1c).
    val sf1Budget = sys.env.getOrElse("SPARK_GRAFT_SF1_BUDGET", "900").toDouble
    // focused tier-only iteration: SPARK_GRAFT_ONLY=__sf1__ empties the
    // main sweep (no query is named that) and still runs the tier
    val runSf1 = (only.isEmpty || only.contains(Set("__sf1__"))) &&
      sys.env.getOrElse("SPARK_GRAFT_SF1", "1") != "0" &&
      java.nio.file.Files.isDirectory(java.nio.file.Paths.get(sf1Dir))
    // compact sf1 summary, embedded in the FINAL short headline below:
    // the driver's tail capture keeps only the last few KB, so a tier
    // summary printed among the fat aux lines would not reliably reach
    // BENCH_r{N}.json — extra keys on the short line parse everywhere
    var sf1Brief = ""
    var sf1Aux = ""
    // host-health preamble runs BEFORE any timing so its own IO doesn't
    // bill to a query; stamped into every receipt line (r11 #1b)
    val (ioW, ioR, cpuS) = hostProbe()
    val hostJson = f""""io_w_mbps":$ioW%.0f,"io_r_mbps":$ioR%.0f,"cpu_s":$cpuS%.2f"""
    println(s"""{"aux":"host",$hostJson}""")
    if (runSf1) {
      val t0 = System.nanoTime()
      def elapsed: Double = (System.nanoTime() - t0) / 1e9
      val qmap = SparkEntry.queries
      val sf1Results = scala.collection.mutable.ListBuffer.empty[(String, Seq[Double])]
      val sf1Spill = scala.collection.mutable.ListBuffer.empty[(String, Long, Long, Long)]
      val skipped = scala.collection.mutable.ListBuffer.empty[String]
      val sf1Failed = scala.collection.mutable.ListBuffer.empty[(String, String)]
      // drift = median(measured/ref) over completed control cells; 1.0
      // until the first control lands (the cheapest control runs first)
      def drift: Double = {
        val r = sf1Results.collect {
          case (k, v) if CtrlRefs.contains(k) => v.min / CtrlRefs(k) }.sorted
        if (r.isEmpty) 1.0 else r((r.size - 1) / 2)
      }
      for (name <- Sf1Tier) {
        if (elapsed > sf1Budget * math.min(3.0, math.max(1.0, drift)))
          skipped += name
        else {
          // label the tier's jobs (guide §1.5) so a UI/event-log reader
          // can attribute stages to queries; thread-local, zero cost
          spark.sparkContext.setJobDescription(s"sf1: $name")
          spark.catalog.clearCache(); System.gc()
          // one UNTIMED priming run, same contract as the sf0.1 sweep:
          // cheapest-first (round 12) puts the CHEAP stage-constant
          // queries at the head of the JVM, where the unprimed r12 run
          // billed them the session's residual codegen/JIT warm-up
          // (q51_calibration measured 2.7× its steady state purely by
          // position). Priming makes the timed run steady-state
          // operator cost at every tier position.
          try { qmap(name)(spark, sf1Dir).count() } catch { case _: Throwable => }
          val (m0, d0, g0) = metrics.snapshot
          timeRuns(spark, sf1Runs)(qmap(name)(spark, sf1Dir).count()) match {
            case Right(times) =>
              val (m1, d1, g1) = metrics.snapshot
              sf1Results += (name -> times)
              sf1Spill += ((name, m1 - m0, d1 - d0, g1 - g0))
            case Left(cls) =>
              System.err.println(s"[bench] sf1 $name failed: $cls")
              sf1Failed += (name -> cls)
          }
        }
      }
      // clear the thread-local label so later jobs on this thread (the
      // sf0.1 sweep, teardown) don't inherit the last tier query's
      // description (advisor r12)
      spark.sparkContext.setJobDescription(null)
      val q1 = sf1Results.map { case (k, v) =>
        s"\"" + k + "\":" + f"${v.min}%.4f" }.mkString("{", ",", "}")
      val tot1 = sf1Results.map(_._2.min).sum
      val skippedJson = skipped.map("\"" + _ + "\"").mkString("[", ",", "]")
      // spill/GC per query: [memBytesSpilled, diskBytesSpilled, gcMs]
      // across the query's runs — the pressure column the r10 verdict
      // asked for (distinguishes "plan spills" from "host was busy")
      val spillJson = sf1Spill.map { case (k, m, d, g) =>
        s"\"" + k + s"\":[$m,$d,$g]" }.mkString("{", ",", "}")
      val d = drift
      sf1Aux = f"""{"aux":"sf1","n":$sf1Runs,"dir":"$sf1Dir","total":$tot1,"nq":${sf1Results.size},"skipped":$skippedJson,${failedJson("failed", sf1Failed.toSeq)},"ctrl_drift":$d%.2f,$hostJson,"queries":$q1}"""
      sf1Brief = f""","sf1_total":$tot1%.2f,"sf1_nq":${sf1Results.size},"sf1_skipped":${skipped.size},${failedJson("sf1_failed", sf1Failed.toSeq)},"sf1_drift":$d%.2f,$hostJson"""
      println(sf1Aux)
      println(s"""{"aux":"sf1_spill","unit":"[memBytes,diskBytes,gcMs]","spill":$spillJson}""")
      val raw = sf1Results.map { case (k, v) =>
        s"\"" + k + "\":" + v.mkString("[", ",", "]") }.mkString("{", ",", "}")
      appendRaw(f"""{"n":$sf1Runs,"cpus":$cpus,"sf":"$sf1Dir","position":"first_in_jvm","ctrl_drift":$d%.2f,$hostJson,"raw":$raw,"spill":$spillJson}""")
    }

    // ---- sf0.1 main sweep ----
    val sw = sweep(spark,
      SparkEntry.queries.toSeq.filter { case (name, _) => only.forall(_.contains(name)) },
      sfDir, nRuns, metrics)
    val results = sw.results
    val spills = sw.spills
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + f"${v.min}%.4f" }
      .mkString("{", ",", "}")
    // per-query run-to-run variance, published as AUXILIARY lines
    // BEFORE the headline: a reader comparing two rounds can tell
    // drift from regression without re-measuring (r6 verdict: three
    // "regressions" in the r6 tail were sweep noise with up-to-3× raw
    // spreads). The headline — the ONLY line carrying "metric" — is
    // printed LAST and kept compact (total + per-query mins): the
    // round-7 single fat line overflowed the driver's tail capture and
    // the headline total scrolled away ("parsed": null in
    // BENCH_r07.json, judge r7 #3). median = middle run (nRuns is
    // odd), spread = max/min ratio of the runs.
    def median(v: Seq[Double]): Double = v.sorted.apply((v.size - 1) / 2)
    val med = results.map { case (k, v) =>
      s"\"" + k + "\":" + f"${median(v)}%.4f" }.mkString("{", ",", "}")
    val spread = results.map { case (k, v) =>
      val r = if (v.min > 0) v.max / v.min else 1.0
      s"\"" + k + "\":" + f"$r%.2f" }.mkString("{", ",", "}")
    val total = results.map(_._2.min).sum

    println(s"""{"aux":"median","n":$nRuns,"median":$med}""")
    println(s"""{"aux":"spread","n":$nRuns,"spread":$spread}""")
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":$nRuns,"cpus":$cpus,"queries":$qs,${failedJson("failed", sw.failed)},"sf":"$sfDir"}""")
    // the SAME totals once more as a FINAL short line with no per-query
    // map: the driver's tail capture truncates long lines from the FRONT,
    // which swallowed the headline's leading total in rounds 7 AND 8
    // (the >4 KB queries map pushed it out). This line is ~120 bytes, so
    // it always survives the tail whole and parses on its own.
    println(headline(sw, nRuns, cpus.toString, sfDir, sf1Brief))
    // full raw provenance: every run of every query + its spill/GC
    // deltas, committed per round
    val raw = results.map { case (k, v) =>
      s"\"" + k + "\":" + v.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val spillJson = spills.map { case (k, m, d, g) =>
      s"\"" + k + s"\":[$m,$d,$g]" }.mkString("{", ",", "}")
    appendRaw(s"""{"n":$nRuns,"cpus":$cpus,"sf":"$sfDir",$hostJson,"raw":$raw,"spill":$spillJson}""")
    spark.stop()
  }
}
