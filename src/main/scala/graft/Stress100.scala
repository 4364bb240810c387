package graft

import org.apache.spark.sql.functions._

/** Dev tool: ×1/×10/×100 scale tiers for the composed sketch-dedup /
  * ANN paths, the regimes where quadratic hazards actually bite (LSH
  * clique output, IVF cell density, SemDeDup's within-cluster pair
  * scan).
  *
  * Methodology, per factor F ∈ {1, 10, 100}:
  *  - documents replicate with SHIFTED ids and per-replica TOKEN
  *    TAGGING (every token suffixed `_F`), so replicas share no
  *    shingles: the per-replica duplicate structure is preserved
  *    exactly, near-dup PAIR OUTPUT scales linearly with F, and a
  *    super-linear time curve is the operator's fault, not the
  *    workload's (replicating identical text would instead create
  *    C(F,2) cross-replica true dups — a quadratic OUTPUT, which no
  *    algorithm can emit in linear time).
  *  - embeddings replicate with shifted ids and a per-replica rotation
  *    (negated past half-turn), spreading replicas across directions;
  *    CENTROIDS SCALE WITH THE CORPUS (16·F) — the SemDeDup scale
  *    contract made explicit: within-cluster scanning is Σ cellsize²,
  *    so the cluster size, not the corpus, is what must stay bounded,
  *    and the operator's lever is growing k with N. ivfPqTopK keeps a
  *    FIXED probe budget (nProbe=4 of 16·F cells): probed work per
  *    query stays ~constant while encode scales linearly.
  *  - generated tables land in parquet first (generation excluded from
  *    op timing; scans are real file scans, not cached lineage).
  *
  * Prints per-(op, factor) seconds + output rows and a LINEARITY line
  * with the t(100×)/t(10×) ratio (≤ ~10 = linear-or-better — sub-10
  * is expected for ivfPq's fixed probe budget).
  *
  * Usage: runMain graft.Stress100 [sfDir] [outDir]
  */
object Stress100 {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/tmp/stress100"
    val cpus = GraftSession.cpus
    val spark = GraftSession.local(cpus)
    import graft.functions.Hashing.tokens

    val factors = Seq(1, 10, 100)
    val docs = Tables.documents(spark, sfDir)
    val embs = Tables.embeddings(spark, sfDir)

    // ---- generate + materialize the scaled tables ----
    for (f <- factors) {
      val dPath = s"$outDir/docs_x$f"
      val ePath = s"$outDir/embs_x$f"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dPath))) {
        (0 until f).map { i =>
          docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * 10000000L))
            .withColumn("text",
              concat_ws(" ", transform(tokens(col("text")),
                t => concat(t, lit(s"_$i")))))
        }.reduce(_ unionByName _)
          .repartition(cpus)
          .write.mode("overwrite").parquet(dPath)
      }
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(ePath))) {
        (0 until f).map { i =>
          val rot = i % 64
          val rotated = if (rot == 0) col("embedding")
            else concat(slice(col("embedding"), rot + 1, 64 - rot),
              slice(col("embedding"), 1, rot))
          val e = if (i < 64) rotated
            else transform(rotated, x => -x) // second half-turn: negate
          embs.withColumn("vec_id", col("vec_id") + lit(i.toLong * 10000000L))
            .withColumn("embedding", e)
        }.reduce(_ unionByName _)
          .repartition(cpus)
          .write.mode("overwrite").parquet(ePath)
      }
    }

    // orders scale-up for the rank-consuming query family (r6: the
    // q48/q51 flake's machinery stressed inside the full sweep)
    for (f <- factors) {
      val oPath = s"$outDir/orders_x$f"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(oPath))) {
        val orders = Tables.orders(spark, sfDir)
        (0 until f).map { i =>
          orders
            .withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * 1000000000L))
            .withColumn("o_custkey", col("o_custkey") + lit(i.toLong * 10000000L))
        }.reduce(_ unionByName _)
          .repartition(cpus)
          .write.mode("overwrite").parquet(oPath)
      }
    }

    // events / lineitem scale-up for the r6-touched behavioral ops
    for (f <- factors) {
      val evPath = s"$outDir/events_x$f"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(evPath))) {
        val ev = Tables.events(spark, sfDir)
        (0 until f).map { i =>
          ev.withColumn("event_id", col("event_id") + lit(i.toLong * 1000000000L))
            .withColumn("user_id", col("user_id") + lit(i.toLong * 10000000L))
        }.reduce(_ unionByName _)
          .repartition(cpus)
          .write.mode("overwrite").parquet(evPath)
      }
      val liPath = s"$outDir/lineitem_x$f"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(liPath))) {
        val li = Tables.lineitem(spark, sfDir)
          .select("l_orderkey", "l_partkey", "l_suppkey")
        // every key shifts per replica: baskets, items and nodes all
        // scale with the corpus, so per-key wedge mass stays constant
        // and total candidate mass is linear in f (the same workload
        // contract as the doc replication above)
        (0 until f).map { i =>
          li.withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong * 1000000000L))
            .withColumn("l_partkey", col("l_partkey") + lit(i.toLong * 100000000L))
            .withColumn("l_suppkey", col("l_suppkey") + lit(i.toLong * 10000000L))
        }.reduce(_ unionByName _)
          .repartition(cpus)
          .write.mode("overwrite").parquet(liPath)
      }
    }

    // optional comma-separated op filter for focused local iteration
    val only = sys.env.get("SPARK_GRAFT_STRESS_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def time(name: String, f: Int)(action: => Long): Double = {
      if (!only.forall(_.contains(name))) return -1.0
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val n = action
      val s = (System.nanoTime() - t0) / 1e9
      println(f"STRESS100 $name%-16s x$f%-4d $s%8.2f s  rows=$n")
      s
    }

    val results = scala.collection.mutable.Map.empty[(String, Int), Double]
    for (f <- factors) {
      val docsF = spark.read.parquet(s"$outDir/docs_x$f")
      val embsF = spark.read.parquet(s"$outDir/embs_x$f")
      // centroids scale with the corpus (the SemDeDup contract): the
      // first 16 vectors of every replica — distinct directions by
      // construction of the rotation
      val centsF = embsF.filter(col("vec_id") % 10000000L < 16)
        .select(col("vec_id"), col("embedding"))
      val queries = embs.filter(col("vec_id") < 10)
      val codebook = embs.filter(col("vec_id") >= 16 && col("vec_id") < 32)

      results(("minhash_lsh", f)) = time("minhash_lsh", f) {
        ops.Dedup.minHashLsh(docsF).count()
      }
      // two IVF-PQ regimes: k ∝ N exposes the brute-force coarse
      // assignment's N·k work (the documented knee — mitigation is a
      // fixed/slowly-growing k with denser cells, below, or a
      // hierarchical coarse quantizer); k fixed is the standard
      // deployment and must stay linear
      results(("ivfpq_k_scaled", f)) = time("ivfpq_k_scaled", f) {
        ops.Similarity.ivfPqTopK(embsF, queries, centsF, codebook,
          nProbe = 4).count()
      }
      val cents16 = embs.filter(col("vec_id") < 16)
        .select(col("vec_id"), col("embedding"))
      results(("ivfpq_k_fixed", f)) = time("ivfpq_k_fixed", f) {
        ops.Similarity.ivfPqTopK(embsF, queries, cents16, codebook,
          nProbe = 4).count()
      }
      results(("semantic_dedup", f)) = time("semantic_dedup", f) {
        ops.Dedup.semanticDedup(embsF, centsF).count()
      }
      // prefix-filtered Jaccard: candidate join bounded by prefix
      // collisions — the pruning is exactly what must hold up when the
      // corpus (and its boilerplate) scales
      results(("ngram_prefix", f)) = time("ngram_prefix", f) {
        ops.Dedup.ngramJaccard(docsF).count()
      }
      // the same join with the hot-shingle cap: the hot set joins back
      // UN-HINTED and grows with the corpus vocabulary here exactly as
      // it would on a boilerplate-heavy crawl, so this tier certifies
      // the AQE shuffle-join fallback a broadcast hint would bypass
      results(("ngram_capped", f)) = time("ngram_capped", f) {
        ops.Dedup.ngramJaccard(docsF, maxDf = 20).count()
      }
      results(("containment_capped", f)) = time("containment_capped", f) {
        ops.Dedup.ngramContainment(docsF, maxDf = 20).count()
      }
      // transitive-closure engine at scale (round 8): mutual-kNN edges
      // (corpus·k mass — cells scale with the corpus like the SemDeDup
      // tier) closed by pointer jumping. The receipt is that ROUND
      // COUNT stays O(log diameter) as the graph grows — a closure
      // whose rounds grew with corpus size would show a super-linear
      // knee here even though each round is join-linear.
      results(("knn_components", f)) = time("knn_components", f) {
        val g = ops.Similarity.knnGraph(embsF, centsF)
          .filter(col("mutual") && col("query_id") < col("neighbor_id"))
        ops.Graph.connectedComponents(g, "query_id", "neighbor_id").count()
      }
      // substring excision: per-token constant cost by construction
      // (span census one aggregation, coverage re-expansion ×w bounded,
      // reassembly per-doc) — token tagging keeps replicas span-disjoint
      // so repeated-span structure and output both scale linearly
      results(("substring_excise", f)) = time("substring_excise", f) {
        ops.TextAnalysis.exciseRepeatedSpans(docsF).count()
      }
      // coarse assignment at k ∝ N: flat is N·k dot products, the
      // two-level quantizer is N·(√k + probe1·√k) — the FLOP ladder for
      // the regime where assignment compute (not shuffle) dominates
      results(("assign_flat", f)) = time("assign_flat", f) {
        ops.Similarity.cellAssignments(embsF, centsF, keep = 1).count()
      }
      results(("assign_hier", f)) = time("assign_hier", f) {
        ops.Similarity.hierarchicalCellAssignments(embsF, centsF,
          keep = 1, probe1 = 2).count()
      }
      // composed residual-ADC search: train + encode share one residual
      // pass; with k ∝ N cells the per-cell codebooks multiply while
      // members-per-cell stay flat — the train shuffle is (cells·m·k)
      // state, the serve join stays probe-bounded
      results(("ivfadc_r", f)) = time("ivfadc_r", f) {
        ops.Similarity.ivfAdcResidualSearch(embsF, queries, centsF,
          trainIters = 1).count()
      }
      // composed curation pipeline END TO END (pipeline_curation's
      // shape on the scale path: quality gate → prefix-join near-dup losers
      // → survivor census) — the components have individual receipts;
      // this certifies their composition under one scheduler. The
      // stopword test strips the tier's per-replica token tag so every
      // replica keeps its original quality verdict.
      results(("curation_e2e", f)) = time("curation_e2e", f) {
        val tk = tokens(col("text"))
        val keep = docsF.select(col("doc_id"), col("source"),
            size(tk).cast("long").as("n_words"),
            size(filter(tk, t => split(t, "_").getItem(0)
              .isin("the", "a", "of", "and", "is"))).as("n_stop"))
          .filter(col("n_words") >= 30 && col("n_stop") > 0)
        val losers = ops.Dedup.ngramJaccard(docsF, threshold = 0.5)
          .select(col("id_b").as("doc_id")).distinct()
        keep.join(losers, Seq("doc_id"), "left_anti")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_tokens"))
          .count()
      }
      // deterministic two-phase rank at corpus scale (round-5 rewrite):
      // rank+running-share over the full vocabulary of the scaled corpus
      // — vocab cardinality grows with the replica token tags, so both
      // the ranked row count and the boundary machinery scale with f
      results(("vocab_rank", f)) = time("vocab_rank", f) {
        val vocab = docsF
          .select(explode(tokens(col("text"))).as("term"))
          .groupBy("term").agg(count(lit(1)).as("freq"))
        ops.Ranking.globalRankCumsum(vocab,
          Seq(col("freq").desc, col("term")), col("freq")).count()
      }
      // rank-window blocking end to end at corpus scale: N·window
      // candidate pairs off the checkpointed rank, exact verify
      results(("sorted_nbhd", f)) = time("sorted_nbhd", f) {
        ops.Dedup.sortedNeighborhood(docsF).count()
      }
      // the rank-consuming gated family at corpus scale, run INSIDE
      // this sweep (the r5 flake's habitat): per-customer aggregate →
      // three quartile ranks (rfm), decile rank bins (calibration),
      // revenue-rank bands (pareto), distinct-score prefix sum (auc) —
      // all on the round-6 literal-boundary two-phase rank
      val ordersF = spark.read.parquet(s"$outDir/orders_x$f")
      results(("rfm_rank", f)) = time("rfm_rank", f) {
        ops.Behavior.rfmSegments(ordersF).count()
      }
      results(("calibration", f)) = time("calibration", f) {
        ops.Eval.calibrationBins(ordersF, col("o_totalprice"),
          col("o_orderstatus") === "F", col("o_orderkey")).count()
      }
      results(("pareto", f)) = time("pareto", f) {
        ops.Behavior.paretoCurve(ordersF).count()
      }
      results(("auc_ranksum", f)) = time("auc_ranksum", f) {
        ops.Eval.aucRankSum(ordersF, col("o_totalprice"),
          col("o_orderstatus") === "F").count()
      }
      // r6 interval-merge DAU/WAU/MAU: users scale with f (shifted
      // ids), days stay fixed — the day-axis prefix sum must stay
      // constant-sized while the per-user merge scales linearly
      val eventsF = spark.read.parquet(s"$outDir/events_x$f")
      results(("active_users", f)) = time("active_users", f) {
        ops.Behavior.activeUsers(eventsF).count()
      }
      // r6 checkpointed wedge ops: node/basket keys scale with f, so
      // wedge mass per key is constant and total mass scales linearly
      val liF = spark.read.parquet(s"$outDir/lineitem_x$f")
      results(("link_predict", f)) = time("link_predict", f) {
        ops.Graph.bipartiteLinkPredict(liF, "l_partkey", "l_suppkey").count()
      }
      // the ×100 replica offsets push l_partkey past 2³¹ (replica 22+:
      // 2.2e9), where the packed-pair guard fails LOUD by design
      // (round-12 PairPack contract) — so the ×100 cell certifies the
      // documented packPairs=false fallback's linearity, and the ×1/×10
      // cells certify the packed path (ids in range there)
      results(("basket_rules", f)) = time("basket_rules", f) {
        ops.Association.basketRules(liF, "l_orderkey", "l_partkey",
          minSupport = 3, maxBasket = 16, packPairs = f < 22).count()
      }
      // r10 HLL: rows AND distinct users scale with f, register state
      // stays ≤ m per group — the map-side-combined MAX must keep the
      // shuffle constant-sized, so the curve is the scan, nothing else
      results(("hll_distinct", f)) = time("hll_distinct", f) {
        ops.Sketches.hllFinalize(
          ops.Sketches.hllState(eventsF, Seq("event_type"), "user_id"),
          Seq("event_type")).count()
      }
      // r10 Theil-Sen: the day grid is FIXED while rows scale — the
      // decimal-mean reduction is the only pass that sees raw rows;
      // pair mass (days²) must stay constant across factors
      results(("theil_sen", f)) = time("theil_sen", f) {
        ops.Resample.theilSen(eventsF).count()
      }
      // r10 LPA: 3 synchronous vote rounds over the link-predict edge
      // list (keys scale with f, wedge mass per key constant) — each
      // round one edge-sized join + vote sum, so rounds · edges linear
      results(("label_prop", f)) = time("label_prop", f) {
        ops.Graph.labelPropagation(
          ops.Graph.bipartiteLinkPredict(liF, "l_partkey", "l_suppkey")
            .select(col("a"), col("b"), col("cn")),
          "a", "b", "cn").count()
      }
    }
    for (op <- Seq("minhash_lsh", "ivfpq_k_scaled", "ivfpq_k_fixed",
        "semantic_dedup", "ngram_prefix", "ngram_capped",
        "containment_capped", "knn_components", "substring_excise", "ivfadc_r",
        "assign_flat", "assign_hier", "curation_e2e", "vocab_rank",
        "sorted_nbhd", "rfm_rank", "calibration", "pareto", "auc_ranksum",
        "active_users", "link_predict", "basket_rules",
        "hll_distinct", "theil_sen", "label_prop")
        if only.forall(_.contains(op))) {
      val r10 = results((op, 100)) / results((op, 10))
      val r1 = results((op, 100)) / results((op, 1))
      println(f"LINEARITY $op%-16s t(100x)/t(10x)=$r10%7.2f  " +
        f"t(100x)/t(1x)=$r1%7.2f  (linear-or-better: <=~10 resp. <=~100; " +
        "small-factor times are overhead-dominated, the /t(1x) column is " +
        "the fairer read)")
    }
    spark.stop()
  }
}
