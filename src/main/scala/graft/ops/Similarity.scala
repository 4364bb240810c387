package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Exact
import graft.functions.Hashing
import graft.functions.VectorOps._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Three tiers:
  *  - [[bruteForceTopK]] — exact; queries broadcast, corpus streamed, one
  *    tiny shuffle for the per-query top-k. The correctness baseline.
  *  - [[ivfTopK]] — IVF coarse quantization: corpus bucketed by nearest
  *    centroid once, queries probe only `nProbe` cells. At scale the
  *    assignment is a broadcast join (centroids are small) and the probe
  *    join touches `nProbe/nCells` of the corpus.
  *  - [[lshTopK]] — random-hyperplane LSH: deterministic hash-derived
  *    planes, sign-bit bucket key; candidates share a bucket. Recall is
  *    probabilistic (measured in the spec); throughput is a bucket-join.
  */
object Similarity {

  /** Corpus with doubled embedding + precomputed norm (computed once,
    * reused across every pair score). Repartitioned on the id so pair
    * scoring parallelism follows the session, not the input file layout
    * (a single-row-group parquet scan is one task). */
  private[graft] def withNorm(embs: DataFrame, idCol: String, vecCol: String,
      carry: Seq[String] = Nil) = {
    // accept float vectors (parquet embeddings) or double vectors
    // (e.g. Multimodal.decodeFeatures output) alike
    val e = embs.schema(vecCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, _) => col(vecCol)
      case _ => toDouble(col(vecCol))
    }
    embs.repartition(shufflePartitions(embs), col(idCol))
      .select(col(idCol).as("vec_id") +: carry.map(col) :+ e.as("e"): _*)
      .withColumn("nrm", norm(col("e")))
  }

  /** Per-query top-k via the bounded-heap [[graft.plans.TopK]] operator
    * (no per-partition full sort — see SURVEY.md §2.8). The ordering is
    * total (neighbor_id tie-break), so the result set is identical to a
    * `row_number` window. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    // two-phase: map-side partial heaps bound what the query_id
    // shuffle moves to <= k rows per key per partition — with FEW
    // queries (the probe-batch shape) the single-phase form funnels
    // the whole scored table into |queries| reducers
    graft.plans.TopK.perKeyTwoPhase(scored, Seq("query_id"),
        Seq(col("cosine").desc, col("neighbor_id")), k)
      .orderBy("query_id", "neighbor_id")

  private def score(q: DataFrame, c: DataFrame): Column =
    Exact.round(cosineWithNorms(col("q.e"), col("c.e"), col("q.nrm"), col("c.nrm")), 6)

  /** Raw cosine scores of every corpus vector against every query —
    * the scored relation behind [[bruteForceTopK]], exposed for
    * consumers that rank the FULL list themselves (e.g. RRF fusion,
    * which range-parallel-ranks the whole scored corpus rather than
    * keeping k rows): no per-query window here, so a caller never
    * inherits a corpus-sized single-partition sort by accident. */
  def bruteForceScores(corpus: DataFrame, queries: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = withNorm(corpus, idCol, vecCol)
    val q = withNorm(queries, idCol, vecCol)
    c.as("c").join(broadcast(q.as("q")),
        col("c.vec_id") =!= col("q.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        score(q, c).as("cosine"))
  }

  /** Exact top-k: every query scored against every corpus vector.
    * `queries` must be small (it is broadcast); the corpus side never
    * shuffles until the final per-query top-k of survivors. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    rankTopK(bruteForceScores(corpus, queries, idCol, vecCol), k)

  /** IVF top-k: corpus assigned once to its nearest of `centroids`
    * (broadcast argmax join), each query probes its `nProbe` nearest
    * cells and ranks only the vectors inside them. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      nProbe: Int = 4, k: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfTopKCore(corpus, queries, centroids, nProbe, k, idCol, vecCol, None)

  /** Metadata-FILTERED IVF top-k — the vector-DB "filtered search"
    * rung: `allowed` (a one-column relation of admissible neighbor
    * ids, e.g. `documents WHERE lang = 'en'`) prunes the index's
    * POSTING LISTS (one semi-join on the (vec_id, cell) assignment
    * relation) before any scoring, so each query ranks over admissible
    * candidates only. Filter-then-rank, never rank-then-filter:
    * post-filtering an unfiltered top-k silently under-fills k and
    * MISSES admissible neighbors that sat just outside the global
    * top-k (the spec plants exactly that case). The index itself is
    * untouched — same assignment, same probes — so one index serves
    * every predicate; candidate mass only ever shrinks.
    *
    * Strategy note for very selective predicates: when the survivor
    * set is small enough to scan, [[bruteForceTopK]] over the
    * semi-joined corpus is exact and cheaper than probing (no recall
    * loss from cell boundaries); this probed form is the scale path
    * when survivors are still corpus-shaped. Both are deterministic
    * and oracle-gateable. */
  def filteredIvfTopK(corpus: DataFrame, queries: DataFrame,
      centroids: DataFrame, allowed: DataFrame, nProbe: Int = 4, k: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfTopKCore(corpus, queries, centroids, nProbe, k, idCol, vecCol,
      Some(allowed))

  /** MMR diversified retrieval (Carbonell & Goldstein 1998 — the
    * diversity re-rank every RAG/retrieval stack ships): from each
    * query's exact top-`poolK` relevance pool, greedily select
    * `selectK` results maximizing
    * `λ·cos(q, d) − (1−λ)·max_{s∈selected} cos(d, s)` with λ = 1/2 —
    * the second pick must EARN its place by differing from the first,
    * so near-duplicate hits stop crowding out coverage (the spec
    * plants a pool whose top-2 are twins: plain top-k keeps both, MMR
    * skips to the distinct third).
    *
    * Deterministic and oracle-exact: each query's pool, sorted by id,
    * is one row; its pool × pool similarity matrix is round-6 cosines
    * built by the same expressions as the relevance scores, and one
    * per-row greedy ([[mmrGreedy]]) picks under (score DESC, id) ties.
    * Every score is one mult/sub pair over round-6 cosines, identical
    * in both engines. λ is rationally 1/2 so the expression carries no
    * literal-precision risk.
    *
    * Scale: pools are per-query constants (poolK rows), so the work
    * after the relevance search is queries × poolK² — the corpus is
    * scored once, by the relevance search that builds the pool, and
    * joined once more for the pool's vectors (swap in
    * [[ivfTopK]]/[[filteredIvfTopK]] upstream for the probed or
    * filtered variants; the re-rank is agnostic). */
  def mmrDiversify(corpus: DataFrame, queries: DataFrame, poolK: Int = 8,
      selectK: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(selectK >= 1 && poolK >= selectK, "mmrDiversify needs " +
      s"1 <= selectK <= poolK, got selectK = $selectK, poolK = $poolK")
    val pools = bruteForceTopK(corpus, queries, poolK, idCol, vecCol)
      .join(withNorm(corpus, idCol, vecCol)
        .withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
      .groupBy("query_id")
      .agg(sort_array(collect_list(
        struct("neighbor_id", "cosine", "e", "nrm"))).as("pool"))
    val sims = transform(col("pool"), a => transform(col("pool"), b =>
      Exact.round(cosineWithNorms(a("e"), b("e"), a("nrm"), b("nrm")), 6)))
    val greedy = udf((cos: Seq[Double], sim: Seq[Seq[Double]]) =>
      mmrGreedy(cos, sim, selectK))
    pools.select(col("query_id"), col("pool"),
        posexplode(greedy(col("pool.cosine"), sims)))
      .select(col("query_id"),
        col("pool")(col("col._1"))("neighbor_id").as("neighbor_id"),
        (col("pos") + 1).as("rank"), col("col._2").as("mmr_score"))
  }

  /** The MMR greedy over one pool sorted by id: `(pool index, score)`
    * per pick, at most `k`. The first pick maximizes the cosine, each
    * later one `0.5·cos − 0.5·max sim to the picked set`; max and
    * argmax compare as Spark orders doubles, and a tie goes to the
    * lower index, so the lower id. */
  private def mmrGreedy(cos: Seq[Double], sim: Seq[Seq[Double]],
      k: Int): Seq[(Int, Double)] = {
    import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
    val msim = new Array[Double](cos.length)
    val free = Array.fill(cos.length)(true)
    (1 to math.min(k, cos.length)).map { rank =>
      def score(i: Int) = if (rank == 1) cos(i) else 0.5 * cos(i) - 0.5 * msim(i)
      val best = cos.indices.filter(free).reduce((a, b) =>
        if (compareDoubles(score(b), score(a)) > 0) b else a)
      val pick = (best, score(best))
      free(best) = false
      for (i <- cos.indices if rank == 1 || compareDoubles(sim(i)(best), msim(i)) > 0)
        msim(i) = sim(i)(best)
      pick
    }
  }

  private def ivfTopKCore(corpus: DataFrame, queries: DataFrame,
      centroids: DataFrame, nProbe: Int, k: Int,
      idCol: String, vecCol: String, allowed: Option[DataFrame]): DataFrame = {
    val c = withNorm(corpus, idCol, vecCol)
    val q = withNorm(queries, idCol, vecCol)
    val cent = withNorm(centroids, idCol, vecCol)
      .select(col("vec_id").as("cid"), col("e"), col("nrm"))

    def nearestCells(side: DataFrame, keep: Int): DataFrame = {
      // narrow-map assignment — same shape as [[cellAssignments]]
      import org.apache.spark.sql.GraftColumnBridge.{column, expression}
      val packed = cent.groupBy()
        .agg(array_sort(collect_list(struct(col("cid"),
          col("e").as("ce"), col("nrm").as("cnrm")))).as("cpack"))
      val cells = column(graft.functions.NearestCells(
        expression(col("e")), expression(col("nrm")),
        expression(col("cpack")), keep))
      side.crossJoin(broadcast(packed))
        .select(col("vec_id").as("qid"), explode(cells).as("cid"))
    }

    val assignAll = nearestCells(c, 1).select(col("qid").as("vec_id"), col("cid"))
    // the predicate prunes posting lists, not the index: a semi-join on
    // the assignment relation keeps the plan a filter over (vec_id, cell)
    // pairs — co-partitioned with the probe join that follows
    val assign = allowed match {
      case Some(ok) => assignAll.join(
        ok.select(col(idCol).as("vec_id")), Seq("vec_id"), "left_semi")
      case None => assignAll
    }
    val probes = nearestCells(q, nProbe).select(col("qid").as("query_id"), col("cid"))
    val scored = probes
      .join(assign, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .join(q.select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn")),
        "query_id")
      .join(c.select(col("vec_id"), col("e").as("ce"), col("nrm").as("cn")), "vec_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Exact.round(cosineWithNorms(col("qe"), col("ce"), col("qn"), col("cn")), 6).as("cosine"))
    rankTopK(scored, k)
  }

  /** k-NN GRAPH over the whole corpus through the IVF candidate shape
    * (every vector is a query against every other), with RECIPROCAL
    * edges marked — the construction step under graph clustering,
    * SemDeDup-style community pruning, and kNN-graph ANN indexes; the
    * mutual flag is the standard robustness signal (a hub attracts
    * thousands of one-way edges, but only its true neighbors point
    * back).
    *
    * Scale shape: the all-pairs form of [[ivfTopK]] — pair mass is
    * |corpus|·nProbe/nCells, never corpus²; the mutual marking is ONE
    * self-equi-join of the (corpus·k)-row edge list on the swapped id
    * pair. Deterministic (fixed centroids), so fully oracle-gateable
    * unlike an LSH graph.
    */
  def knnGraph(corpus: DataFrame, centroids: DataFrame, nProbe: Int = 4,
      k: Int = 3, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    // SELF-query specialization of [[ivfTopKCore]] (round 12, guide
    // §2.4): the corpus IS the query set, so the index assignment
    // (nearest cell) is the FIRST element of each row's probe list —
    // one NearestCells pass over the corpus replaces the core path's
    // two (keep=1 for the index side, keep=nProbe for the query side).
    // The (qid, pos, cid) pass is materialized once so the cid join's
    // two map stages read the same blocks instead of each re-running
    // the assignment; it is released as soon as the edge list (the
    // operator's real output mass) is checkpointed. SERIALIZED storage
    // (round-12 Stress100 finding): the deserialized form held ~corpus
    // ×nProbe row OBJECTS on the heap exactly while the 16-key cid
    // join buffered its per-key matches across every task, and the
    // ×100 tier OOMed an 8 GB heap — the serialized narrow (long, int,
    // long) rows are ~10× smaller and decode in-stream.
    val c = withNorm(corpus, idCol, vecCol)
    val packed = withNorm(centroids, idCol, vecCol)
      .groupBy()
      .agg(array_sort(collect_list(struct(col("vec_id").as("cid"),
        col("e").as("ce"), col("nrm").as("cnrm")))).as("cpack"))
    val cells = column(graft.functions.NearestCells(
      expression(col("e")), expression(col("nrm")),
      expression(col("cpack")), nProbe))
    val all = c.crossJoin(broadcast(packed))
      .select(col("vec_id").as("qid"), posexplode(cells).as(Seq("pos", "cid")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    all.count()
    val assign = all.filter(col("pos") === 0)
      .select(col("qid").as("vec_id"), col("cid"))
    val probes = all.select(col("qid").as("query_id"), col("cid"))
    val scored = probes
      .join(assign, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .join(c.select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qn")), "query_id")
      .join(c.select(col("vec_id"), col("e").as("ce"), col("nrm").as("cn")),
        "vec_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Exact.round(cosineWithNorms(col("qe"), col("ce"), col("qn"), col("cn")), 6)
          .as("cosine"))
    val edges = rankTopK(scored, k)
      .localCheckpoint(true) // consumed by both sides of the self-join
    all.unpersist(blocking = true) // release BEFORE the mutual join runs
    val back = edges.select(col("query_id").as("neighbor_id"),
      col("neighbor_id").as("query_id"), lit(true).as("__back"))
    edges.join(back, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), col("neighbor_id"), col("cosine"),
        coalesce(col("__back"), lit(false)).as("mutual"))
  }

  /** Deterministic TRIPLET mining for contrastive training: every
    * corpus vector becomes an anchor paired with
    *  - a POSITIVE: the next same-label vector in salted-hash order
    *    (cyclic within the label) — an unbiased, reproducible,
    *    append-stable stand-in for "sample a random positive" (the
    *    [[graft.ops.Splits]] hash-selection contract: same triplets on
    *    every run/cluster/retry, no `rand()`);
    *  - a NEGATIVE: the top wrong-label neighbor from the IVF
    *    hard-negative path — the semi-hard negative that makes triplet
    *    losses converge, restricted to probed cells (pair mass
    *    |corpus|·nProbe/nCells, never corpus²).
    *
    * Scale shape: the positive side is the label-leading range-parallel
    * rank + a (label, position+1 mod n) self-equi-join (label offsets
    * ride a label-count-sized broadcast); the negative side is the
    * [[hardNegativesIvf]] cell equi-join with k=1, label joins
    * un-hinted (corpus-as-queries must not broadcast a corpus-sized
    * label table). Singleton-label anchors (their cyclic positive is
    * themselves) and anchors with no wrong-label candidate in probed
    * cells drop out — deterministically. Fully oracle-gateable.
    */
  def tripletMine(corpus: DataFrame, centroids: DataFrame, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label", salt: String = "trip"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = corpus.select(col(idCol).as("anchor_id"),
        col(labelCol).cast("long").as("label"))
      .withColumn("__h", Hashing.hash60(
        concat(lit(s"$salt:"), col("anchor_id").cast("string"))))
    val ranked = graft.ops.Ranking.globalRank(keyed,
      Seq(col("label"), col("__h"), col("anchor_id")), "__r")
    // per-label start offset + size: label-count-sized table
    val wOff = Window.orderBy("label")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = keyed.groupBy("label").agg(count(lit(1)).as("__n"))
      .withColumn("__r0", coalesce(sum(col("__n")).over(wOff), lit(0L)) + 1)
    val pos = ranked.join(broadcast(offs), "label")
      .withColumn("__p", col("__r") - col("__r0"))
    val partner = pos.select(col("label"), col("__p").as("__pp"),
      col("anchor_id").as("pos_id"))
    val pairs = pos
      .withColumn("__pp", (col("__p") + 1) % col("__n"))
      .join(partner, Seq("label", "__pp"))
      .filter(col("anchor_id") =!= col("pos_id")) // singleton labels drop
      .select(col("anchor_id"), col("label"), col("pos_id"))
    // negative: hardNegativesIvf's shape with k=1 and UN-hinted label
    // joins (the query side IS the corpus here)
    val cA = cellAssignments(corpus, centroids, 1, idCol, vecCol)
      .select(col("vec_id"), col("cid"), col("e").as("ce"),
        col("nrm").as("cn"))
    val qA = cellAssignments(corpus, centroids, nProbe, idCol, vecCol)
      .select(col("vec_id").as("query_id"), col("cid"),
        col("e").as("qe"), col("nrm").as("qn"))
    val lab = corpus.select(col(idCol).as("vec_id"),
      col(labelCol).cast("long").as("__lab"))
    val scored = qA
      .join(lab.select(col("vec_id").as("query_id"),
        col("__lab").as("q_lab")), "query_id")
      .join(cA, "cid")
      .join(lab.select(col("vec_id"), col("__lab").as("c_lab")), "vec_id")
      .filter(col("vec_id") =!= col("query_id") &&
        col("q_lab") =!= col("c_lab"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Exact.round(cosineWithNorms(col("qe"), col("ce"), col("qn"), col("cn")), 6)
          .as("cosine"))
    val neg = graft.plans.TopK.perKeyTwoPhase(scored, Seq("query_id"),
        Seq(col("cosine").desc, col("neighbor_id")), 1)
      .select(col("query_id").as("anchor_id"),
        col("neighbor_id").as("neg_id"), col("cosine").as("neg_cosine"))
    pairs.join(neg, "anchor_id")
      .select(col("anchor_id"), col("label"), col("pos_id"), col("neg_id"),
        col("neg_cosine"))
  }

  /** RANGE (radius) search through the IVF candidate shape: every
    * corpus neighbor with cosine ≥ `tau` among the query's probed
    * cells — the "give me everything this similar" retrieval mode
    * (near-dup audit thresholds, recall-set construction) that top-k
    * cannot express because the answer size is data-dependent.
    *
    * Identical scale contract to [[ivfTopK]]: both assignments are
    * narrow maps against one broadcast packed-centroid row, candidates
    * meet on the cell equi-join (pair mass ≈ nProbe/nCells of the
    * corpus, never corpus²), and each (query, neighbor) pair meets at
    * most once (the corpus vector lives in exactly ONE cell and probe
    * cells are distinct) — no post-hoc dedup. APPROXIMATE exactly like
    * IVF top-k: a true neighbor assigned to an unprobed cell is missed;
    * probing every cell recovers the exact radius scan. No per-query
    * ranking at all — the threshold filter replaces the top-k heap, so
    * the plan is join → filter, the cheapest retrieval shape there is.
    */
  def ivfRangeSearch(corpus: DataFrame, queries: DataFrame,
      centroids: DataFrame, tau: Double, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val assign = cellAssignments(corpus, centroids, 1, idCol, vecCol)
      .select(col("vec_id"), col("cid"), col("e").as("ce"),
        col("nrm").as("cn"))
    val probes = cellAssignments(queries, centroids, nProbe, idCol, vecCol)
      .select(col("vec_id").as("query_id"), col("cid"),
        col("e").as("qe"), col("nrm").as("qn"))
    probes.join(assign, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Exact.round(cosineWithNorms(col("qe"), col("ce"), col("qn"), col("cn")), 6)
          .as("cosine"))
      .filter(col("cosine") >= tau)
  }

  /** Deterministic random-hyperplane coefficients: plane `p`, dim `d` →
    * a value in [-1, 1] derived from the stable 60-bit hash, so every
    * engine/run agrees on the planes without storing them. */
  /** Two-stage ANN: the PQ/ADC coarse pass ([[pqTopK]]) nominates
    * `candK` candidates per query in the compressed domain, then ONLY
    * those candidates are re-scored with the exact cosine and re-ranked
    * to `k` — the standard lake-scale recipe (quantized candidate
    * generation + exact re-rank). The exact pass touches candK raw
    * vectors per query instead of the corpus; candidate→vector is an
    * equi-join on the corpus id (shuffle bounded by |queries|·candK),
    * and the small query side broadcasts. */
  def pqRerankTopK(corpus: DataFrame, queries: DataFrame,
      codebook: DataFrame, m: Int = 8, candK: Int = 20, k: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cand = pqTopK(corpus, queries, codebook, m, candK, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
    val c = withNorm(corpus, idCol, vecCol)
      .select(col("vec_id").as("neighbor_id"), col("e").as("ce"),
        col("nrm").as("cn"))
    val q = withNorm(queries, idCol, vecCol)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qn"))
    val exact = cand.join(c, "neighbor_id").join(broadcast(q), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        Exact.round(cosineWithNorms(col("qe"), col("ce"), col("qn"), col("cn")), 6)
          .as("cosine"))
    rankTopK(exact, k)
  }

  /** Lloyd's k-means refinement for the IVF coarse quantizer: start
    * from deterministic seed centroids (e.g. a hash-chosen corpus
    * subset), iterate assign → recompute means. Turns [[ivfTopK]]'s
    * fixed cells into TRAINED cells — tighter cells, better
    * recall-per-probe at the same query cost.
    *
    * Runs on [[lloyd]]: the k centroids live on the driver, each round
    * is one broadcast argmin assignment over the corpus
    * ([[graft.functions.NearestCellsL2]], no shuffle of vectors) and ONE
    * Spark job, the map-side-combined per-cell means, state k·dim and
    * independent of corpus size. Empty cells keep their previous
    * centroid (deterministic; no resampling randomness). The seed id
    * column must be integral; the result is a LocalRelation (cid, e),
    * so nothing stays cached.
    */
  def kmeansRefine(corpus: DataFrame, seeds: DataFrame, iters: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    val c = withNorm(corpus, idCol, vecCol).persist(MEMORY_AND_DISK)
    val seed = withNorm(seeds, idCol, vecCol)
      .select(col("vec_id").as("cid"), col("e"))
    // NearestCellsL2 ranks by the rounded-6 distance with a cid
    // tie-break, not NearestPackedCodeword's exact one
    val out = lloyd("kmeansRefine", c, seed, Nil, "e", iters, (v, pack) =>
      explode(column(graft.functions.NearestCellsL2(
        expression(v), expression(pack), 1))))
    c.unpersist()
    localState(seed, out)
  }

  /** Driver-state bound of [[lloyd]], in doubles (state rows × vector
    * width): 2^22 doubles = 32 MB, e.g. 65,536 centroids of 64 dims. */
  private val LloydMaxDoubles = 1 << 22

  /** The Lloyd's k-means loop behind [[kmeansRefine]], [[pqTrain]] and
    * [[residualTrain]]. The state is a table of codewords `seed` =
    * (keys…, cid, vector): `keys` name independent codebooks (none for
    * k-means; (cell, s) for the quantizers) and the integral `cid` is
    * unique per key. `data` holds the training rows (keys…, `vec`, …).
    *
    * The seed state is collected once (at most `maxDoubles` + 1 rows)
    * and must hold at most `maxDoubles` doubles (rows × width), else the
    * loop throws, naming `op` and the bound, before any round runs. Each round packs the
    * state on the driver into one row per key — its codewords as a
    * cid-sorted array<struct<cid, vector>> `pack` — broadcasts it as a
    * LocalRelation, assigns each `data` row with `assign(vec, pack)` and
    * runs ONE Spark job: the map-side-combined per-(keys, cid)
    * elementwise means, whose state-sized result is all that crosses
    * back. A codeword no row chose keeps its previous value. The
    * rounds cache nothing; the result is the final state rows,
    * cid-sorted ([[localState]] makes them a LocalRelation). */
  private[graft] def lloyd(op: String, data: DataFrame, seed: DataFrame,
      keys: Seq[String], vec: String, iters: Int,
      assign: (Column, Column) => Column,
      maxDoubles: Int = LloydMaxDoubles): Array[Row] = {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val spark = data.sparkSession
    val nk = keys.length
    val cidT = seed.schema(nk).dataType
    require(cidT == LongType || cidT == IntegerType,
      s"$op: codeword ids must be integral, got ${cidT.simpleString}")
    val packT = StructType(
      keys.map(k => StructField(k, seed.schema(k).dataType)) :+
        StructField("pack", ArrayType(StructType(Seq(
          StructField("cid", cidT), StructField("cv", ArrayType(DoubleType)))))))
    def key(r: Row): (Seq[Any], Long) =
      (r.toSeq.take(nk), r.getAs[Number](nk).longValue)
    var state = seed.limit(maxDoubles + 1).collect().sortBy(key(_)._2)
    val width = state.map(_.getSeq[Double](nk + 1).length).maxOption.getOrElse(0)
    if (state.length.toLong * width > maxDoubles) {
      val n = if (state.length > maxDoubles) s"over $maxDoubles"
        else state.length.toString
      throw new IllegalArgumentException(s"$op: $n codewords × $width " +
        s"doubles exceed the driver-state bound of $maxDoubles doubles")
    }
    for (_ <- 0 until iters) {
      val packed = state.groupBy(_.toSeq.take(nk)).map { case (k, rs) =>
        Row.fromSeq(k :+ rs.map(r => Row(r.get(nk), r.get(nk + 1))).toSeq)
      }
      val pack = spark.createDataFrame(packed.toSeq.asJava, packT)
      // per-position sums and one count, divided here: one avg column
      // per position (two buffer fields each) would push the partial
      // aggregate past whole-stage codegen's field limit at k-means
      // widths; sum / count is avg's own arithmetic
      val means = data.join(broadcast(pack), keys)
        .select(keys.map(col) :+ assign(col(vec), col("pack")).as("cid") :+
          col(vec): _*)
        .groupBy((keys :+ "cid").map(col): _*)
        .agg(count(lit(1)),
          (0 until width).map(i => sum(col(vec).getItem(i))): _*)
        .collect()
        .map { r =>
          val n = r.getLong(nk + 1).toDouble
          key(r) -> (0 until width).map(i => r.getDouble(nk + 2 + i) / n)
        }.toMap
      state = state.map(r => means.get(key(r))
        .fold(r)(mu => Row.fromSeq(r.toSeq.take(nk + 1) :+ mu)))
    }
    state
  }

  /** [[lloyd]] state rows as a LocalRelation shaped like its seed. */
  private def localState(seed: DataFrame, rows: Array[Row]): DataFrame = {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val t = StructType(seed.schema.fields.init.map(f =>
      StructField(f.name, f.dataType)) :+
      StructField(seed.schema.last.name, ArrayType(DoubleType)))
    seed.sparkSession.createDataFrame(rows.toSeq.asJava, t)
  }

  /** Mean squared L2 distortion of `corpus` under `centroids` — the
    * k-means objective, used by specs to assert refinement helps. */
  def distortion(corpus: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): Double = {
    val c = withNorm(corpus, idCol, vecCol)
    // accept either [[kmeansRefine]] output (cid, e) or a plain
    // embedding table shaped like idCol/vecCol advertise
    val cent =
      if (centroids.columns.toSeq == Seq("cid", "e"))
        centroids.select(col("cid"), col("e").as("ke"))
      else withNorm(centroids, idCol, vecCol)
        .select(col("vec_id").as("cid"), col("e").as("ke"))
    // narrow map: per-row min d² against the broadcast packed centroids
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    val packed = cent.groupBy()
      .agg(array_sort(collect_list(struct(col("cid"), col("ke").as("ce"))))
        .as("cpack"))
    c.crossJoin(broadcast(packed))
      .select(column(graft.functions.MinSqDist(
        expression(col("e")), expression(col("cpack")))).as("d2"))
      .agg(avg(col("d2"))).head().getDouble(0)
  }

  /** Nearest-`keep` cell assignment as a NARROW MAP: the shared
    * primitive behind [[ivfTopK]]'s corpus assignment, query probing,
    * and the streaming vector index. The centroids ride along as ONE
    * broadcast packed row and each vector emits its `keep` cell ids
    * from a single native loop ([[graft.functions.NearestCells]] —
    * identical fold/round/tie-break as the join+window formulation it
    * replaces, which materialized N·k rows and pushed them through a
    * per-vector window exchange: a k-fold shuffle inflation of the
    * corpus at exactly the scale IVF exists for). Output carries the
    * doubled vector + norm so downstream scoring never re-reads the
    * source. */
  def cellAssignments(side: DataFrame, centroids: DataFrame, keep: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      carry: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    val sN = withNorm(side, idCol, vecCol, carry)
    val packed = withNorm(centroids, idCol, vecCol)
      .groupBy()
      .agg(array_sort(collect_list(struct(col("vec_id").as("cid"),
        col("e").as("ce"), col("nrm").as("cnrm")))).as("cpack"))
    val cells = column(graft.functions.NearestCells(
      expression(col("e")), expression(col("nrm")),
      expression(col("cpack")), keep))
    sN.crossJoin(broadcast(packed))
      .select(col("vec_id") +: explode(cells).as("cid") +: col("e") +:
        col("nrm") +: carry.map(col): _*)
  }

  /** Two-level hierarchical cell assignment — the billion-scale rung of
    * the coarse-quantizer ladder: with k cells a flat assignment is N·k
    * dot products per pass; routing through ~√k level-1 representatives
    * (trained by [[kmeansRefine]] over the CENTROID set — a k-row
    * problem, corpus-size-independent) costs N·(√k + probe1·√k). Still
    * a narrow map: one broadcast packed row carries (gid, ge, gnrm,
    * members) and [[graft.functions.NearestCellsHier]] does both levels
    * row-locally. APPROXIMATE for probe1 < #groups (a vector whose true
    * cell lives in an unprobed group mis-assigns — the standard IVF
    * trade); probing every group is EXACTLY [[cellAssignments]]
    * (spec-anchored). Same output schema as [[cellAssignments]].
    */
  def hierarchicalCellAssignments(side: DataFrame, centroids: DataFrame,
      keep: Int, probe1: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    val sN = withNorm(side, idCol, vecCol)
    val cent = withNorm(centroids, idCol, vecCol)
      .select(col("vec_id").as("cid"), col("e").as("ce"), col("nrm").as("cnrm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val k = cent.count()
    val k1 = math.ceil(math.sqrt(k.toDouble)).toInt
    // level-1 representatives: Lloyd over the centroid set itself,
    // seeded by its k1 smallest cids (deterministic)
    val seeds = cent.orderBy("cid").limit(k1)
      .select(col("cid").as(idCol), col("ce").as(vecCol))
    val reps = kmeansRefine(
        cent.select(col("cid").as(idCol), col("ce").as(vecCol)), seeds,
        iters = 2)
      .select(col("cid").as("gid"), col("e").as("ge"))
      .withColumn("gnrm", graft.functions.VectorOps.norm(col("ge")))
    // group membership: each centroid to its nearest representative
    val repsPack = reps.groupBy()
      .agg(array_sort(collect_list(struct(col("gid").as("cid"),
        col("ge").as("ce"), col("gnrm").as("cnrm")))).as("cpack"))
    val grouped = cent.crossJoin(broadcast(repsPack))
      .select(col("cid"), col("ce"), col("cnrm"),
        explode(column(graft.functions.NearestCells(
          expression(col("ce")), expression(col("cnrm")),
          expression(col("cpack")), 1))).as("gid"))
    val hpack = grouped.groupBy("gid")
      .agg(array_sort(collect_list(struct(col("cid"), col("ce"),
        col("cnrm")))).as("members"))
      .join(reps, "gid")
      .groupBy()
      .agg(array_sort(collect_list(struct(col("gid"), col("ge"),
        col("gnrm"), col("members")))).as("hpack"))
    val cells = column(graft.functions.NearestCellsHier(
      expression(col("e")), expression(col("nrm")),
      expression(col("hpack")), probe1, keep))
    val out = sN.crossJoin(broadcast(hpack))
      .select(col("vec_id"), explode(cells).as("cid"), col("e"), col("nrm"))
    cent.unpersist(blocking = false)
    out
  }

  def planeCoefs(nPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nPlanes, dim) { (p, d) =>
      (Hashing.hash60Local(s"$p:$d") % 2001 - 1000) / 1000.0
    }

  /** Sign-bit bucket key over `nPlanes` hyperplanes (0..2^nPlanes-1). */
  def lshBucket(e: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (coefs, p) =>
      when(dot(e, typedLit(coefs.toSeq)) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Attach the LSH bucket id to an embedding table (the candidate-
    * generation building block shared with [[Dedup.embeddingCosine]]'s
    * scale path). */
  def lshBuckets(embs: DataFrame, nPlanes: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val m = withNorm(embs, idCol, vecCol)
    val planes = planeCoefs(nPlanes, 64)
    m.withColumn("bucket", lshBucket(col("e"), planes))
  }

  /** Product-quantization encode: split each vector into `m` contiguous
    * subvectors and assign every subvector to its nearest codeword (L2,
    * deterministic tie-break on codeword id). Output: (vec_id, s, cid)
    * — `m` small ints per vector, the PQ compression (a 64-float vector
    * becomes `m` codes; at lake scale the encoded corpus is ~32× smaller
    * than the raw embeddings and the raw vectors are never read again).
    *
    * Scale shape: the codebook is tiny and broadcast; assignment is a
    * map-side `min(struct(dist, cid))` aggregation after a narrow
    * explode — no window sort, no shuffle beyond the (vec_id, s) combine.
    */
  def pqEncode(corpus: DataFrame, codebook: DataFrame, m: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val subDim = 64 / m // embeddings are 64-dim
    val c = withNorm(corpus, idCol, vecCol)
    val cw = withNorm(codebook, idCol, vecCol)
      .select(col("vec_id").as("cid"), col("e").as("ce"))
    val ss = explode(array((0 until m).map(lit): _*)).as("s")
    // sub-slices: slice() is 1-based; subspace s covers [s*subDim+1, subDim]
    val corpusSub = c.select(col("vec_id"), ss, col("e"))
      .withColumn("vs", slice(col("e"), col("s") * subDim + 1, lit(subDim)))
    val cwSub = cw.select(col("cid"), ss, col("ce"))
      .withColumn("cs", slice(col("ce"), col("s") * subDim + 1, lit(subDim)))
      .withColumn("sqc", dot(col("cs"), col("cs")))
    // L2 argmin: |v|^2 is constant per (vec,s), so minimize |c|^2 - 2<v,c>
    corpusSub.join(broadcast(cwSub), Seq("s"))
      .select(col("vec_id"), col("s"), col("cid"),
        Exact.round(col("sqc") - lit(2.0) * dot(col("vs"), col("cs")), 6).as("d"))
      .groupBy("vec_id", "s")
      .agg(min(struct(col("d"), col("cid"))).getField("cid").as("cid"))
  }

  /** PQ top-k via asymmetric distance computation (ADC): each query
    * precomputes a lookup table of subspace dot products against every
    * codeword, and a corpus vector's score is the sum of `m` table
    * lookups selected by its codes — the raw corpus vectors are never
    * touched at query time. Approximate (quantization error); recall vs
    * [[bruteForceTopK]] is measured in the spec.
    *
    * Determinism: the m=8 per-subspace terms are pivoted into fixed
    * columns and summed in one written expression order, so the float
    * fold is identical in Spark and the DuckDB oracle. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, codebook: DataFrame,
      m: Int = 8, k: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    rankTopK(adcScores(corpus, queries, codebook, m, idCol, vecCol, None), k)

  /** IVF-PQ: the standard billion-scale composition — IVF coarse cells
    * bound WHICH vectors a query scores (only those assigned to its
    * `nProbe` nearest cells), PQ/ADC bounds WHAT a score costs (m table
    * lookups against the compressed codes; raw corpus vectors are never
    * read at query time). Query cost ∝ (probed corpus fraction) × m,
    * independent of both corpus size and vector width.
    *
    * Scale shape: cell assignment and probing are broadcast-centroid
    * argmax joins; the candidate (query, vector) pair set comes from an
    * equi-join on the cell id (each vector lives in exactly one cell, so
    * no pair dedup is needed); ADC then joins candidates to codes and
    * the per-query LUT on (query_id, s, cid). Same determinism contract
    * as [[pqTopK]] — fixed centroids + codebook make the whole pipeline
    * oracle-expressible, unlike LSH. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      codebook: DataFrame, nProbe: Int = 4, m: Int = 8, k: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val assign = cellAssignments(corpus, centroids, 1, idCol, vecCol)
      .select(col("vec_id"), col("cid"))
    val probes = cellAssignments(queries, centroids, nProbe, idCol, vecCol)
      .select(col("vec_id").as("query_id"), col("cid"))
    val cand = probes.join(assign, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
    rankTopK(adcScores(corpus, queries, codebook, m, idCol, vecCol, Some(cand)), k)
  }

  /** ADC-scored (query, neighbor) pairs — the shared core of [[pqTopK]]
    * (all pairs) and [[ivfPqTopK]] (`cand` restricts pairs to probed
    * cells). The m=8 per-subspace terms are pivoted into fixed columns
    * and summed in one written expression order, so the float fold is
    * identical in Spark and the DuckDB oracle. */
  private def adcScores(corpus: DataFrame, queries: DataFrame,
      codebook: DataFrame, m: Int, idCol: String, vecCol: String,
      cand: Option[DataFrame]): DataFrame = {
    require(m == 8, "pivoted fold is written for m = 8")
    val subDim = 64 / m
    val q = withNorm(queries, idCol, vecCol)
    val cw = withNorm(codebook, idCol, vecCol)
      .select(col("vec_id").as("cid"), col("e").as("ce"))
    val ss = explode(array((0 until m).map(lit): _*)).as("s")
    val cwSub = cw.select(col("cid"), ss, col("ce"))
      .withColumn("cs", slice(col("ce"), col("s") * subDim + 1, lit(subDim)))
      .withColumn("sqc", dot(col("cs"), col("cs")))
      .drop("ce")
    // per-query LUT: dot(q_sub, codeword_sub) for every (s, cid)
    val lut = q.select(col("vec_id").as("query_id"), col("nrm").as("qn"), ss, col("e"))
      .withColumn("qs", slice(col("e"), col("s") * subDim + 1, lit(subDim)))
      .join(broadcast(cwSub), Seq("s"))
      .select(col("query_id"), col("qn"), col("s"), col("cid"),
        dot(col("qs"), col("cs")).as("dq"), col("sqc"))
    val codes = pqEncode(corpus, codebook, m, idCol, vecCol)
    val joined = cand match {
      case Some(pairs) => codes.join(pairs, "vec_id")
        .join(lut, Seq("query_id", "s", "cid"))
      case None => codes.join(lut, Seq("s", "cid"))
        .filter(col("vec_id") =!= col("query_id"))
    }
    def at(c: String, s: Int) = min(when(col("s") === s, col(c))).as(s"${c}$s")
    val terms = joined
      .groupBy("query_id", "vec_id")
      .agg(max(col("qn")).as("qn"),
        (0 until m).flatMap(s => Seq(at("dq", s), at("sqc", s))): _*)
    val sdot = (0 until m).map(s => col(s"dq$s")).reduce(_ + _)
    val ssq = (0 until m).map(s => col(s"sqc$s")).reduce(_ + _)
    terms.select(col("query_id"), col("vec_id").as("neighbor_id"),
      Exact.round(sdot / (col("qn") * sqrt(ssq)), 6).as("cosine"))
  }

  /** Trained PQ codebook: per-subspace Lloyd's k-means (m INDEPENDENT
    * codebooks — the defining property of product quantization), run
    * as ONE [[lloyd]] loop keyed on the subspace: the sub-vectors of one
    * constant cell in [[residualTrain]]'s (cell, s) layout, so every
    * subspace trains in the same single job per round. Codewords
    * materialize as k full-width vectors (subspace s's codeword j =
    * slice s of vector j), reshaped on the driver — the exact shape
    * [[pqEncode]]/[[pqTopK]] consume, so a trained codebook drops in
    * for the fixed one.
    *
    * Deterministic seeding (the k smallest-id corpus vectors) and
    * deterministic empty-cell handling (keep the previous codeword).
    * Float means make the trained values fold-order-sensitive in the
    * last ulp, so the composed query is rows-only gated (like
    * `ann_ivf_trained`), with quality spec-gated via [[pqDistortion]]. */
  def pqTrain(corpus: DataFrame, m: Int = 8, k: Int = 16, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val spark = corpus.sparkSession
    import spark.implicits._
    val subDim = 64 / m
    val c = withNorm(corpus, idCol, vecCol)
    val ss = explode(array((0 until m).map(lit): _*)).as("s")
    def subvectors(v: DataFrame, cols: Column*) =
      v.select(lit(0).as("cell") +: ss +: cols :+ col("e"): _*)
        .withColumn("vs", slice(col("e"), col("s") * subDim + 1, lit(subDim)))
        .drop("e")
    val sub = subvectors(c).persist(MEMORY_AND_DISK)
    // seeds: the k smallest-id corpus vectors, codeword j = the j-th
    val seed = subvectors(c.orderBy("vec_id").limit(k)
        .withColumn("cid", row_number().over(Window.orderBy("vec_id")) - 1),
        col("cid"))
    val cb = lloyd("pqTrain", sub, seed, Seq("cell", "s"), "vs", iters,
      packedArgmin)
    sub.unpersist(blocking = false)
    require(cb.length == k * m, s"pqTrain: corpus has fewer than $k vectors")
    // package the m per-subspace codebooks as k full-width vectors
    // (a plain literal table — nothing stays cached)
    val cw = cb.map(r => (r.getInt(1), r.getInt(2)) -> r.getSeq[Double](3)).toMap
    (0 until k).map(j => (j.toLong, (0 until m).flatMap(s => cw((s, j)))))
      .toDF(idCol, vecCol)
  }

  /** Mean PQ reconstruction error (summed squared subspace residuals) of
    * `corpus` under `codebook` — the product-quantization objective;
    * specs assert training lowers it vs the untrained codebook. */
  def pqDistortion(corpus: DataFrame, codebook: DataFrame, m: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"): Double = {
    val subDim = 64 / m
    val codes = pqEncode(corpus, codebook, m, idCol, vecCol)
    val c = withNorm(corpus, idCol, vecCol)
    val cw = withNorm(codebook, idCol, vecCol)
      .select(col("vec_id").as("cid"), col("e").as("ce"))
    val sub = c.select(col("vec_id"),
        explode(array((0 until m).map(lit): _*)).as("s"), col("e"))
      .withColumn("vs", slice(col("e"), col("s") * subDim + 1, lit(subDim)))
    sub.join(codes, Seq("vec_id", "s")).join(broadcast(cw), "cid")
      .select(col("vec_id"),
        (dot(col("vs"), col("vs")) -
          lit(2.0) * dot(col("vs"),
            slice(col("ce"), col("s") * subDim + 1, lit(subDim))) +
          dot(slice(col("ce"), col("s") * subDim + 1, lit(subDim)),
            slice(col("ce"), col("s") * subDim + 1, lit(subDim)))).as("r"))
      .groupBy("vec_id").agg(sum(col("r")).as("err"))
      .agg(avg(col("err"))).head().getDouble(0)
  }

  // ---- OPQ: optimized product quantization (parametric) --------------

  /** Parametric OPQ rotation (Ge et al., CVPR 2013, public — "Optimized
    * Product Quantization for Approximate Nearest Neighbor Search"):
    * an ORTHONORMAL change of basis under which product quantization
    * wastes less of its codebook budget. Plain PQ carves the raw
    * coordinates into m arbitrary contiguous subspaces; when variance
    * is unevenly spread (correlated dims, anisotropic embeddings),
    * some subspaces carry most of the energy and their k codewords
    * saturate while others idle. The parametric OPQ solution: rotate
    * into the PCA basis and ALLOCATE the principal directions to
    * subspaces so each carries a comparable variance PRODUCT (Ge's
    * balanced eigenvalue allocation — greedy: next-largest λ goes to
    * the unfilled subspace with the smallest Σlog λ) — the optimal
    * split under a Gaussian model. (The non-parametric alternating
    * variant needs a 64×64 SVD per iteration for marginal extra gain —
    * not worth hand-rolling here; the parametric form is the published
    * strong default.)
    *
    * Deterministic + driver-cheap by construction: the covariance is
    * computed over the `sample` smallest-id corpus vectors (the
    * [[pqTrain]] seed contract — a bounded, data-independent-size
    * collect), eigendecomposition is cyclic Jacobi on the 64×64
    * symmetric matrix (fixed sweep count, no library dependency, no
    * randomness). Returns the rotation as dim orthonormal ROWS:
    * rotated = R · x. */
  def opqRotation(corpus: DataFrame, m: Int = 8, sample: Int = 2048,
      idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Double]] = {
    val xs = withNorm(corpus, idCol, vecCol)
      .orderBy("vec_id").limit(sample).select("e")
      .collect().map(_.getSeq[Double](0).toArray)
    require(xs.nonEmpty, "opqRotation needs a non-empty corpus")
    val dim = xs.head.length
    val subDim = dim / m
    val n = xs.length.toDouble
    val mu = Array.tabulate(dim)(i => xs.iterator.map(_(i)).sum / n)
    val cov = Array.ofDim[Double](dim, dim)
    for (x <- xs; i <- 0 until dim; j <- i until dim) {
      val v = (x(i) - mu(i)) * (x(j) - mu(j))
      cov(i)(j) += v
    }
    for (i <- 0 until dim; j <- i until dim) {
      cov(i)(j) /= n; cov(j)(i) = cov(i)(j)
    }
    val (lambda, vecs) = jacobiEigen(cov)
    // descending-λ order; allocate to the unfilled subspace with the
    // smallest running Σ log λ (balanced variance products)
    val order = (0 until dim).sortBy(i => -lambda(i))
    val logSum = Array.fill(m)(0.0)
    val filled = Array.fill(m)(0)
    val slots = Array.ofDim[Int](m, subDim)
    for (idx <- order) {
      val s = (0 until m).filter(filled(_) < subDim).minBy(logSum(_))
      slots(s)(filled(s)) = idx
      filled(s) += 1
      logSum(s) += math.log(math.max(lambda(idx), 1e-12))
    }
    // rotation rows = eigenvectors (columns of `vecs`) in slot order
    slots.flatten.map(c => Array.tabulate(dim)(r => vecs(r)(c)))
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix —
    * deterministic, dependency-free, fine for plan-time-bounded sizes
    * (64×64 here). Returns (eigenvalues, eigenvector COLUMNS). */
  private[graft] def jacobiEigen(a0: Array[Array[Double]],
      sweeps: Int = 16): (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = a0.map(_.clone)
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    for (_ <- 0 until sweeps; p <- 0 until n - 1; q <- p + 1 until n) {
      val apq = a(p)(q)
      if (math.abs(apq) > 1e-13) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
        val t =
          if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
          else 1.0 / (theta - math.sqrt(theta * theta + 1.0))
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val s = t * c
        var k = 0
        while (k < n) { // rotate columns p,q of a
          val akp = a(k)(p); val akq = a(k)(q)
          a(k)(p) = c * akp - s * akq
          a(k)(q) = s * akp + c * akq
          k += 1
        }
        k = 0
        while (k < n) { // rotate rows p,q of a
          val apk = a(p)(k); val aqk = a(q)(k)
          a(p)(k) = c * apk - s * aqk
          a(q)(k) = s * apk + c * aqk
          k += 1
        }
        k = 0
        while (k < n) { // accumulate eigenvectors
          val vkp = v(k)(p); val vkq = v(k)(q)
          v(k)(p) = c * vkp - s * vkq
          v(k)(q) = s * vkp + c * vkq
          k += 1
        }
      }
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  /** Apply an orthonormal rotation to the vector column — a NARROW map
    * (dim native dot products per row against literal rotation rows,
    * all inside whole-stage codegen; no shuffle, no join). The rotated
    * column replaces `vecCol` as a double array, which every PQ/IVF
    * entry point accepts ([[withNorm]] handles both widths), so a
    * rotation composes with the whole family: rotate once, then
    * train/encode/search exactly as before. */
  def rotate(embs: DataFrame, r: Array[Array[Double]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val e = embs.schema(vecCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, _) => col(vecCol)
      case _ => toDouble(col(vecCol))
    }
    val rows = r.map(row => dot(e, typedlit(row.toSeq)))
    embs.withColumn(vecCol, array(rows.toIndexedSeq: _*))
  }

  // ---- IVFADC+R: per-cell residual product quantization -------------

  /** (vec_id, cell, r, nrm) — every corpus vector with its coarse cell
    * and the RESIDUAL r = v − centroid(cell). The defining move of
    * IVFADC: residuals concentrate near the origin, so a codebook of
    * the same size quantizes them with far less error than raw
    * vectors. */
  private def residuals(corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val cent = withNorm(centroids, idCol, vecCol)
      .select(col("vec_id").as("cell"), col("e").as("ce"))
    cellAssignments(corpus, centroids, 1, idCol, vecCol)
      .select(col("vec_id"), col("cid").as("cell"), col("e"), col("nrm"))
      .join(broadcast(cent), "cell")
      .select(col("vec_id"), col("cell"),
        zip_with(col("e"), col("ce"), (a, b) => a - b).as("r"), col("nrm"))
  }

  /** Train PER-CELL residual PQ codebooks (the IVFADC layout): Lloyd's
    * k-means over each cell's residual sub-vectors, for all (cell,
    * subspace) pairs AT ONCE — one [[lloyd]] loop keyed on (cell, s),
    * so however many cells the index has, every codebook trains in the
    * same single job per round (row-local argmin against the broadcast
    * packed codebooks, then one map-side-combined (cell, s, cid) hash
    * aggregate with an avg column per position). Seeds are each cell's
    * `k` smallest-id members (bounded-heap selection, no per-cell sort);
    * cells with fewer than `k` members keep their seed count. Empty
    * codewords persist unchanged (deterministic, like [[pqTrain]]).
    *
    * Returns (cell, s, cid, cs) — subspace `s`'s codeword `cid` for
    * `cell`, as a `subDim`-float array. */
  def residualTrain(corpus: DataFrame, centroids: DataFrame, m: Int = 8,
      k: Int = 16, iters: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sub = resSub(residuals(corpus, centroids, idCol, vecCol), m)
      .persist(MEMORY_AND_DISK)
    val cw = residualTrainFromSub(sub, k, iters)
    sub.unpersist(blocking = false)
    cw
  }

  /** Residual rows sliced into per-subspace rows: (vec_id, cell, s, vs). */
  private def resSub(res: DataFrame, m: Int): DataFrame = {
    val subDim = 64 / m
    val ss = explode(array((0 until m).map(lit): _*)).as("s")
    res.select(col("vec_id"), col("cell"), ss, col("r"))
      .withColumn("vs", slice(col("r"), col("s") * subDim + 1, lit(subDim)))
      .select("vec_id", "cell", "s", "vs")
  }

  /** Each (cell, s)'s codewords packed into ONE cid-sorted array row —
    * the broadcastable form that turns assignment into a row-local
    * unrolled argmin (no per-candidate row blowup, no assignment
    * shuffle, and the means pass needs no join back because `vs` never
    * leaves its row). */
  private def packCodebook(cw: DataFrame): DataFrame =
    cw.groupBy("cell", "s")
      .agg(array_sort(collect_list(struct(col("cid"), col("cs")))).as("cbk"))

  /** Row-local argmin of `vs` against a packed codeword array column —
    * the native [[graft.functions.NearestPackedCodeword]] loop, handling
    * cells with any codeword count. Identical distance math and
    * smallest-cid tie-break as the join+`min(struct)` formulation it
    * replaces. */
  private def packedArgmin(vs: Column, cbk: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.functions.NearestPackedCodeword(expression(vs), expression(cbk)))
  }

  /** [[residualTrain]] body over an already-sliced (ideally persisted)
    * residual-subspace table — the composed train-and-serve path shares
    * one residual pass between training and encoding. */
  private[graft] def residualTrainFromSub(sub: DataFrame, k: Int,
      iters: Int): DataFrame = {
    // per-cell seeds: k smallest member ids, densely renumbered 0..k-1
    // per cell via a bounded heap (never a per-cell corpus sort)
    val seedRows = graft.plans.TopK.perKeyTwoPhase(
        sub.filter(col("s") === 0).select("vec_id", "cell"),
        Seq("cell"), Seq(col("vec_id")), k)
    val seedW = Window.partitionBy("cell").orderBy("vec_id") // ≤ k rows/cell
    val seeds = seedRows
      .withColumn("cid", row_number().over(seedW) - 1)
    val seedCw = seeds.join(sub, Seq("vec_id", "cell"))
      .select(col("cell"), col("s"), col("cid"), col("vs").as("cs"))
    localState(seedCw, lloyd("residualTrain", sub, seedCw, Seq("cell", "s"),
      "vs", iters, packedArgmin))
  }

  /** Encode every corpus vector against its OWN cell's residual
    * codebook: (vec_id, cell, s, cid). Broadcast packed codebook +
    * row-local argmin — a narrow map over the residual pass, no
    * shuffle at all. */
  def residualEncode(corpus: DataFrame, centroids: DataFrame,
      resCodebook: DataFrame, m: Int = 8, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    residualEncodeFromSub(
      resSub(residuals(corpus, centroids, idCol, vecCol), m), resCodebook)

  private[graft] def residualEncodeFromSub(sub: DataFrame,
      resCodebook: DataFrame): DataFrame =
    sub.join(broadcast(packCodebook(resCodebook)), Seq("cell", "s"))
      .select(col("vec_id"), col("cell"), col("s"),
        packedArgmin(col("vs"), col("cbk")).as("cid"))

  /** Multi-probe IVFADC top-k: queries probe their `nProbe` nearest
    * cells and score ONLY those cells' members, via asymmetric distance
    * against the per-cell residual codes — the raw corpus vectors are
    * never read at query time.
    *
    * The cosine decomposes exactly over the reconstruction
    * v̂ = centroid(cell) + rcode:
    *   dot(q, v̂)  = dot(q, c) + Σ_s dot(q_s, rc_s)      (per-cell LUT)
    *   |v̂|²       = |c|² + 2·Σ_s dot(c_s, rc_s) + Σ_s |rc_s|²
    * where dot(c_s, rc_s) and |rc_s|² are query-independent per-cell
    * codebook constants. All per-subspace terms pivot into fixed
    * columns (written-order float fold, the [[pqTopK]] determinism
    * recipe). Approximation error is the residual quantization error —
    * strictly smaller than raw-vector PQ at the same codebook budget
    * (spec-asserted via [[residualDistortion]]). */
  def ivfAdcResidualTopK(corpus: DataFrame, queries: DataFrame,
      centroids: DataFrame, resCodebook: DataFrame, nProbe: Int = 4,
      m: Int = 8, k: Int = 5, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val codes = residualEncodePacked(
      resSub(residuals(corpus, centroids, idCol, vecCol), m), resCodebook)
    scoreResidualCodes(codes, queries, centroids, resCodebook, nProbe, m, k,
      idCol, vecCol)
  }

  /** Train-and-serve composition of the IVFADC+R ladder: the residual
    * pass (coarse assignment + v − centroid(cell)) is computed ONCE and
    * shared by codebook training and corpus encoding — the standalone
    * [[residualTrain]] + [[residualEncode]] calls each recompute it.
    * The encoded index is materialized (it IS the serving artifact — m
    * small ints per vector) and the corpus-sized residual cache is
    * dropped before query-time scoring. */
  def ivfAdcResidualSearch(corpus: DataFrame, queries: DataFrame,
      centroids: DataFrame, nProbe: Int = 4, m: Int = 8, codeK: Int = 16,
      trainIters: Int = 2, k: Int = 5, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sub = resSub(residuals(corpus, centroids, idCol, vecCol), m)
      .persist(MEMORY_AND_DISK)
    val cb = residualTrainFromSub(sub, codeK, trainIters)
    // the encoded index IS the serving artifact — checkpoint it so the
    // query-time plan reads a LogicalRDD instead of re-analyzing the
    // whole residual+train+encode lineage per action (guide §3.3)
    val codes = residualEncodePacked(sub, cb).localCheckpoint(true)
    sub.unpersist(blocking = false)
    scoreResidualCodes(codes, queries, centroids, cb, nProbe, m, k,
      idCol, vecCol)
  }

  /** (vec_id, cell, code): each vector's m codeword ids packed into one
    * subspace-ordered array — the serving layout (FAISS-style code
    * words): a candidate is ONE row however many subspaces the
    * quantizer has. The 8-element sort/transform runs once per vector
    * at index-build time, not in the query path. */
  private[graft] def residualEncodePacked(sub: DataFrame,
      resCodebook: DataFrame): DataFrame =
    residualEncodeFromSub(sub, resCodebook)
      .groupBy("vec_id", "cell")
      .agg(expr("transform(array_sort(collect_list(struct(s, cid))), x -> x.cid)")
        .as("code"))

  /** Query-time multi-probe ADC scoring over a packed-code corpus (see
    * [[ivfAdcResidualTopK]] for the cosine decomposition). Per-cell
    * codebooks (with the query-independent `cc`/`csq` constants) pack
    * into ONE broadcastable row each; a candidate is ONE (query,
    * vector) row whose three decomposition sums come from a single
    * native loop ([[graft.functions.AdcPartials]] — identical
    * written-order IEEE fold as the pivoted fixed-column formulation it
    * replaces, ×m fewer candidate rows, no wide pivot aggregate). */
  private def scoreResidualCodes(codesPacked: DataFrame, queries: DataFrame,
      centroids: DataFrame, resCodebook: DataFrame, nProbe: Int,
      m: Int, k: Int, idCol: String, vecCol: String): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    val subDim = 64 / m
    val cent = withNorm(centroids, idCol, vecCol)
      .select(col("vec_id").as("cell"), col("e").as("ce"))
    // per-cell packed codebook with query-independent constants;
    // array_sort on (s, cid, ...) structs puts entry (s, cid) at index
    // s·kc + cid — the layout AdcPartials indexes directly
    val cbk = resCodebook.join(broadcast(cent), "cell")
      .select(col("cell"), col("s"), col("cid"), col("cs"),
        dot(slice(col("ce"), col("s") * subDim + 1, lit(subDim)), col("cs"))
          .as("cc"),
        dot(col("cs"), col("cs")).as("csq"))
      .groupBy("cell")
      .agg(array_sort(collect_list(
        struct(col("s"), col("cid"), col("cs"), col("cc"), col("csq"))))
        .as("cbk"))
    val probes = cellAssignments(queries, centroids, nProbe, idCol, vecCol)
      .select(col("vec_id").as("query_id"), col("cid").as("cell"),
        col("e").as("qe"), col("nrm").as("qn"))
      .join(broadcast(cent), "cell")
      .withColumn("qdotc", dot(col("qe"), col("ce")))
      .withColumn("cnsq", dot(col("ce"), col("ce")))
      .select("query_id", "cell", "qe", "qn", "qdotc", "cnsq")
    // candidates: probed cell members (each vector lives in ONE cell)
    val partials = column(graft.functions.AdcPartials(
      expression(col("qe")), expression(col("code")), expression(col("cbk"))))
    val scored = codesPacked
      .join(probes, "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(cbk), "cell")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("qn"), col("qdotc"), col("cnsq"), partials.as("p"))
      .select(col("query_id"), col("neighbor_id"),
        Exact.round((col("qdotc") + col("p").getItem(0)) /
          (col("qn") * sqrt(col("cnsq") + lit(2.0) * col("p").getItem(1) +
            col("p").getItem(2))), 6)
          .as("cosine"))
    rankTopK(scored, k)
  }

  /** Mean squared reconstruction error of the IVFADC layout
    * (|v − centroid − rcode|², summed over subspaces) — directly
    * comparable to [[pqDistortion]] at the same (m, k): the residual
    * design wins exactly when this is smaller. */
  def residualDistortion(corpus: DataFrame, centroids: DataFrame,
      resCodebook: DataFrame, m: Int = 8, idCol: String = "vec_id",
      vecCol: String = "embedding"): Double = {
    val subDim = 64 / m
    val res = residuals(corpus, centroids, idCol, vecCol)
    val ss = explode(array((0 until m).map(lit): _*)).as("s")
    val sub = res.select(col("vec_id"), col("cell"), ss, col("r"))
      .withColumn("vs", slice(col("r"), col("s") * subDim + 1, lit(subDim)))
    val codes = residualEncode(corpus, centroids, resCodebook, m, idCol, vecCol)
    sub.join(codes, Seq("vec_id", "cell", "s"))
      .join(resCodebook, Seq("cell", "s", "cid"))
      .select(col("vec_id"),
        (dot(col("vs"), col("vs")) - lit(2.0) * dot(col("vs"), col("cs")) +
          dot(col("cs"), col("cs"))).as("r2"))
      .groupBy("vec_id").agg(sum(col("r2")).as("err"))
      .agg(avg(col("err"))).head().getDouble(0)
  }

  /** Hard-negative mining for contrastive/embedding training: per query
    * vector, the top-k most-similar corpus vectors with a DIFFERENT
    * label (same-label hits are positives, not negatives — the highest-
    * scoring wrong-label neighbors are exactly the "hard" negatives a
    * triplet/InfoNCE batch wants). Same scale shape as
    * [[bruteForceTopK]]: queries broadcast, corpus never shuffles until
    * the bounded-heap top-k; the label inequality rides the join
    * condition so pruned pairs are never scored. At lake scale the
    * candidate set comes from [[lshBuckets]]/IVF cells first — mining
    * only needs high-scoring candidates, which is what ANN returns. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    def prep(df: DataFrame, p: String) = {
      val e = df.schema(vecCol).dataType match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, _) => col(vecCol)
        case _ => toDouble(col(vecCol))
      }
      df.select(col(idCol).as(s"${p}id"),
          col(labelCol).cast("long").as(s"${p}lab"), e.as(s"${p}e"))
        .withColumn(s"${p}n", norm(col(s"${p}e")))
    }
    val c = prep(corpus, "c_")
    val q = prep(queries, "q_")
    val scored = c.join(broadcast(q),
        col("q_id") =!= col("c_id") && col("q_lab") =!= col("c_lab"))
      .select(col("q_id").as("query_id"), col("c_id").as("neighbor_id"),
        Exact.round(cosineWithNorms(col("q_e"), col("c_e"), col("q_n"), col("c_n")), 6)
          .as("cosine"))
    rankTopK(scored, k)
  }

  /** IVF-composed hard-negative mining — the scale-path form of
    * [[hardNegatives]]: the candidate set is bounded by IVF cells
    * (corpus assigned once to its nearest centroid, each query probes
    * its `nProbe` nearest cells) instead of the full corpus, so the
    * scored-pair mass is `|queries| · nProbe/nCells` of the corpus
    * rather than `|queries| · |corpus|`. Same cell-equi-join shape as
    * [[ivfPqTopK]]: probe→assignment join on the cell id, vectors and
    * norms ride the assignment rows (narrow broadcast-centroid map,
    * never a vector shuffle), label inequality filters before any
    * score. With FIXED centroids the whole pipeline is deterministic
    * and oracle-expressible; recall vs the exhaustive [[hardNegatives]]
    * yardstick is additionally spec-measured (SimilaritySpec). */
  def hardNegativesIvf(corpus: DataFrame, queries: DataFrame,
      centroids: DataFrame, nProbe: Int = 4, k: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val cA = cellAssignments(corpus, centroids, 1, idCol, vecCol)
      .select(col("vec_id"), col("cid"), col("e").as("ce"),
        col("nrm").as("cn"))
    val qA = cellAssignments(queries, centroids, nProbe, idCol, vecCol)
      .select(col("vec_id").as("query_id"), col("cid"), col("e").as("qe"),
        col("nrm").as("qn"))
    val cLab = corpus.select(col(idCol).as("vec_id"),
      col(labelCol).cast("long").as("c_lab"))
    val qLab = queries.select(col(idCol).as("query_id"),
      col(labelCol).cast("long").as("q_lab"))
    // corpus lives in exactly one cell and probe cells are distinct, so
    // each (query, corpus) pair meets at most once — no dedup needed
    val scored = qA.join(broadcast(qLab), "query_id")
      .join(cA, "cid")
      .join(cLab, "vec_id")
      .filter(col("vec_id") =!= col("query_id") &&
        col("q_lab") =!= col("c_lab"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Exact.round(cosineWithNorms(col("qe"), col("ce"), col("qn"), col("cn")), 6)
          .as("cosine"))
    rankTopK(scored, k)
  }

  /** ColBERT-style multi-vector late-interaction (MaxSim) scoring:
    * documents and queries are SETS of vectors (grouped by `docCol`);
    * score(q, d) = Σ_{qv∈q} max_{dv∈d} cosine(qv, dv) — each query
    * vector picks its best-matching doc vector, the per-query-vector
    * maxima sum.
    *
    * Cross-engine determinism: each cosine is rounded to 6 places
    * FIRST; max over rounded values is fold-order-free, and the final
    * per-(q,d) sum runs in DECIMAL (exact, shuffle-order-independent) —
    * cast back to double only at the edge. So the whole score is
    * oracle-expressible despite being a float pipeline.
    *
    * This is the exhaustive baseline (every query vector × every doc
    * vector — the oracle formulation, same role as
    * [[Dedup.embeddingCosine]]); at lake scale the inner max runs only
    * over ANN candidates (compose the per-vector pair set with
    * [[lshBuckets]] or the IVF cell path — MaxSim degrades gracefully:
    * a missed candidate can only lower a max, never corrupt one). */
  def maxSimScores(corpus: DataFrame, queries: DataFrame,
      docCol: String = "label", idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    maxSimFromPartials(maxSimPartials(corpus, queries, docCol, idCol, vecCol))

  /** Per (q_doc, c_doc, q_vec) best-match cosine against `corpus` — the
    * MERGEABLE partial of [[maxSimScores]]: max is associative, so
    * per-corpus-slice partials fold by max into exactly the one-shot
    * state (the streaming lane's per-batch unit,
    * [[graft.streaming.StreamingRetrieval]]). */
  def maxSimPartials(corpus: DataFrame, queries: DataFrame,
      docCol: String = "label", idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    def prep(df: DataFrame, p: String) = {
      val e = df.schema(vecCol).dataType match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, _) => col(vecCol)
        case _ => toDouble(col(vecCol))
      }
      df.select(col(docCol).cast("long").as(s"${p}doc"),
          col(idCol).as(s"${p}vec"), e.as(s"${p}e"))
        .withColumn(s"${p}n", norm(col(s"${p}e")))
    }
    // explicit count (see shufflePartitions): AQE would coalesce the
    // small query side, and the cross join with it, into one task. The
    // q_vec key leaves the (q_doc, c_doc) sum a shuffle of its own, so a
    // caller's range sort samples that shuffle, not the cross join.
    val q = prep(queries, "q_").repartition(shufflePartitions(queries), col("q_vec"))
    val c = prep(corpus, "c_")
    q.crossJoin(c)
      .select(col("q_doc"), col("c_doc"), col("q_vec"),
        Exact.round(cosineWithNorms(col("q_e"), col("c_e"), col("q_n"), col("c_n")), 6)
          .as("cos"))
      .groupBy("q_doc", "c_doc", "q_vec")
      .agg(max(col("cos")).as("m"))
  }

  /** IVF-composed MaxSim — the scale-path form of [[maxSimScores]]:
    * the inner `max_{dv∈d} cosine(qv, dv)` runs ONLY over IVF-probed
    * candidates (corpus vectors whose cell is among the query vector's
    * `nProbe` nearest), so the pair mass per query vector is
    * `nProbe/nCells` of the corpus, never the corpus itself. MaxSim
    * degrades gracefully under candidate restriction — a missed
    * candidate can only lower a per-query-vector max, never corrupt
    * one; a (q_doc, c_doc) pair with no surviving candidate pair drops
    * out entirely (no fabricated zeros). Same cell-equi-join shape as
    * [[ivfPqTopK]]; same rounded-then-max + decimal-sum determinism as
    * the exhaustive form, so with FIXED centroids the composition is
    * oracle-expressible end to end. Score-vs-exhaustive degradation is
    * additionally spec-measured (SimilaritySpec). */
  def maxSimScoresIvf(corpus: DataFrame, queries: DataFrame,
      centroids: DataFrame, nProbe: Int = 4, docCol: String = "label",
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cA = cellAssignments(corpus, centroids, 1, idCol, vecCol)
      .select(col("vec_id").as("c_vec"), col("cid"), col("e").as("c_e"),
        col("nrm").as("c_n"))
    val qA = cellAssignments(queries, centroids, nProbe, idCol, vecCol)
      .select(col("vec_id").as("q_vec"), col("cid"), col("e").as("q_e"),
        col("nrm").as("q_n"))
    val cDoc = corpus.select(col(idCol).as("c_vec"),
      col(docCol).cast("long").as("c_doc"))
    val qDoc = queries.select(col(idCol).as("q_vec"),
      col(docCol).cast("long").as("q_doc"))
    // corpus cell is unique and probe cells distinct → each (qv, dv)
    // pair meets at most once; max/sum state is exactly the one-shot's
    val partials = qA.join(cA, "cid")
      .join(cDoc, "c_vec").join(qDoc, "q_vec")
      .select(col("q_doc"), col("c_doc"), col("q_vec"),
        Exact.round(cosineWithNorms(col("q_e"), col("c_e"), col("q_n"), col("c_n")), 6)
          .as("cos"))
      .groupBy("q_doc", "c_doc", "q_vec")
      .agg(max(col("cos")).as("m"))
    maxSimFromPartials(partials)
  }

  /** Finish [[maxSimPartials]] into per-(query doc, corpus doc) MaxSim
    * scores: the per-query-vector maxima sum in exact decimal. */
  def maxSimFromPartials(partials: DataFrame): DataFrame =
    partials
      .groupBy("q_doc", "c_doc")
      .agg(sum(col("m").cast("decimal(18,6)")).as("s"))
      .select(col("q_doc"), col("c_doc"),
        Exact.round(col("s").cast("double"), 6).as("maxsim"))

  /** LSH top-k: queries only score corpus vectors in nearby buckets.
    * `nProbe` is the probing depth: the query searches every bucket
    * within Hamming distance `nProbe` of its own (0 = own bucket only;
    * 1 adds all single sign-flips; 2 adds all two-bit flips, …).
    * Each extra bit of depth trades candidate volume (sum of C(nPlanes,d)
    * buckets) for recall — a vector just across d hyperplanes lands d
    * bits away. Approximate — recall vs [[bruteForceTopK]] is measured
    * in the spec, not guaranteed. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, nPlanes: Int = 8,
      k: Int = 5, nProbe: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(nProbe >= 0 && nProbe <= nPlanes, s"nProbe $nProbe out of [0, $nPlanes]")
    val c = lshBuckets(corpus, nPlanes, idCol, vecCol)
    // expand each query to its probe set: every xor-mask of <= nProbe bits
    val masks: Seq[Long] = (1 to nProbe).flatMap(d =>
      (0 until nPlanes).combinations(d).map(_.map(1L << _).sum))
    val probeBuckets = array((col("bucket") +:
      masks.map(m => col("bucket").bitwiseXOR(lit(m)))): _*)
    val q = lshBuckets(queries, nPlanes, idCol, vecCol)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qn"), explode(probeBuckets).as("bucket"))
    val scored = c.as("c").join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Exact.round(cosineWithNorms(col("qe"), col("e"), col("qn"), col("nrm")), 6)
          .as("cosine"))
      .dropDuplicates("query_id", "neighbor_id")
    rankTopK(scored, k)
  }

  /** The DETERMINISTIC half of LSH, exposed for the correctness gate
    * (VERDICT r5 item 7): the candidate PAIR SET of [[lshTopK]] —
    * every (query, corpus) pair whose sign-bit buckets lie within
    * Hamming distance `nProbe` — before any ranking. Planes are
    * hash-derived ([[planeCoefs]]) and the bucket bits are signs of
    * sequential double dot products (the [[graft.functions.DotProduct]]
    * loop — the identical IEEE sequence a `list_sum(list_transform(…))`
    * oracle performs), so the set is exactly reproducible in portable
    * SQL; only the RECALL of the downstream top-k is probabilistic.
    * The join is the same bucket equi-join as the serving path — the
    * gate exercises the real plan, not a bit_count theta join. */
  def lshCandidates(corpus: DataFrame, queries: DataFrame, nPlanes: Int = 8,
      nProbe: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(nProbe >= 0 && nProbe <= nPlanes)
    val c = lshBuckets(corpus, nPlanes, idCol, vecCol)
      .select(col("vec_id"), col("bucket"))
    val masks: Seq[Long] = 0L +: (1 to nProbe).flatMap(d =>
      (0 until nPlanes).combinations(d).map(_.map(1L << _).sum))
    val q = lshBuckets(queries, nPlanes, idCol, vecCol)
      .select(col("vec_id").as("query_id"), col("bucket").as("q_bucket"))
      .withColumn("bucket", explode(array(
        masks.map(m => col("q_bucket").bitwiseXOR(lit(m))): _*)))
    // distinct masks probe distinct buckets, so each pair matches at
    // most once — no dedup stage needed
    c.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("q_bucket"), col("bucket").as("c_bucket"))
  }

  /** Per-dimension scalar-quantization bounds over the corpus: ONE
    * map-side-combined aggregation to a single (lo[], hi[]) row —
    * broadcastable whatever the corpus size (state is 2·dim doubles,
    * never per-row). */
  def sqBounds(corpus: DataFrame, dim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = withNorm(corpus, idCol, vecCol)
    c.agg(
      array((1 to dim).map(i => min(element_at(col("e"), i))): _*).as("lo"),
      array((1 to dim).map(i => max(element_at(col("e"), i))): _*).as("hi"))
  }

  /** int8 scalar-quantized reconstruction of every corpus vector
    * ([[graft.functions.ScalarQuantRecon]] — 256 equi-width buckets per
    * dimension between the corpus bounds, reconstruction at bucket
    * centers, error ≤ (hi−lo)/512 per dim). A narrow map: bounds ride a
    * 1-row broadcast, each vector is rewritten in one generated loop,
    * nothing shuffles. The storage story at 100 TB: the code array is
    * 1 byte/dim vs 4 (float) — a 4× smaller candidate-scoring working
    * set with SQ's mild distortion (vs PQ's aggressive 64×, cf.
    * [[pqEncode]]); emitting the reconstruction keeps scoring a plain
    * [[graft.functions.DotProduct]]. */
  def sqReconstruct(corpus: DataFrame, dim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    val c = withNorm(corpus, idCol, vecCol)
    c.crossJoin(broadcast(sqBounds(corpus, dim, idCol, vecCol)))
      .select(col("vec_id"),
        column(graft.functions.ScalarQuantRecon(
          expression(col("e")), expression(col("lo")), expression(col("hi"))))
          .as("re"))
      .withColumn("rnrm", norm(col("re")))
  }

  /** IVF + int8 scalar quantization: probed cells bound WHICH vectors
    * are scored ([[ivfTopK]]'s candidate shape), SQ bounds what a
    * candidate costs to HOLD — queries stay exact, candidates are
    * scored against their reconstructions. Fully deterministic (bounds
    * are exact min/max, codes exact integer math), so unlike LSH it is
    * oracle-expressible end to end. */
  def ivfSqTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      nProbe: Int = 4, k: Int = 5, dim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = withNorm(queries, idCol, vecCol)
    val recon = sqReconstruct(corpus, dim, idCol, vecCol)
    val assign = cellAssignments(corpus, centroids, 1, idCol, vecCol)
      .select(col("vec_id"), col("cid"))
    val probes = cellAssignments(queries, centroids, nProbe, idCol, vecCol)
      .select(col("vec_id").as("query_id"), col("cid"))
    val scored = probes
      .join(assign, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .join(q.select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qn")), "query_id")
      .join(recon, "vec_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Exact.round(cosineWithNorms(col("qe"), col("re"), col("qn"), col("rnrm")), 6)
          .as("cosine"))
    rankTopK(scored, k)
  }
}
