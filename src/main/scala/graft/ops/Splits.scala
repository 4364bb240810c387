package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Exact
import graft.functions.Hashing.hash60

/** Deterministic dataset splitting and sampling for training pipelines.
  *
  * Everything here is a pure function of the row's id and a salt —
  * no `rand()`: the same row lands in the same split on every run, every
  * cluster, every retry (reproducible experiments, leakage-free
  * incremental reprocessing), and the assignment is narrow (no shuffle).
  */
object Splits {

  /** Bucket in [0, buckets) from the id + salt. */
  def bucket(id: Column, salt: String, buckets: Int = 100): Column =
    pmod(hash60(concat(lit(salt), lit(":"), id.cast("string"))), lit(buckets))

  /** Broadcast-join per-stratum tables back onto the ranked corpus with
    * NULL-SAFE key equality: a NULL stratum is a legitimate group (rows
    * with an absent source form their own stratum and get sampled /
    * capped like any other — the contract the old per-group window had),
    * whereas a plain equi-join would silently drop every NULL-stratum
    * row. */
  private def joinStrata(ranked: DataFrame, strata: DataFrame,
      key: String): DataFrame =
    ranked.join(broadcast(strata.withColumnRenamed(key, "__k")),
      col(key) <=> col("__k")).drop("__k")

  /** Assign 'train' / 'val' / 'test' by hash bucket with the given
    * percentage boundaries. */
  def assign(df: DataFrame, idCol: String, salt: String = "split",
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct + valPct < 100)
    val b = bucket(col(idCol), salt)
    df.withColumn("split",
      when(b < trainPct, "train")
        .when(b < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Dedup-SAFE split: near-dup CLUSTERS are assigned to splits
    * atomically, so no near-dup pair can straddle train/test — the
    * leakage `pipeline_split_leakage` audits is PREVENTED by
    * construction (hash-splitting documents independently puts ~2·p·(1−p)
    * of every near-dup cluster's pairs across the boundary, and a test
    * doc whose near-twin was trained on is contamination, not signal).
    *
    * `pairs` is any of the dedup family's (id_a, id_b) outputs; docs in
    * no pair are singleton clusters of themselves. The split key is the
    * cluster's canonical id ([[Dedup.duplicateClusters]] — min reachable
    * id via the pointer-jumping closure), bucketed exactly like
    * [[assign]], so singleton docs land where plain `assign` would have
    * put them.
    *
    * Scale: the closure is the shared pointer-jumping engine (rounds
    * O(log diameter), never corpus²); everything after is one left join
    * + a narrow bucket map. Returns (idCol, cluster_id, split). */
  def assignClusterSafe(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", salt: String = "split",
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct + valPct < 100)
    val clusters = Dedup.duplicateClusters(pairs)
      .withColumnRenamed("doc_id", "__cid_doc")
    val keyed = docs.select(col(idCol))
      .join(clusters, col(idCol) === col("__cid_doc"), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
    val b = bucket(col("cluster_id"), salt)
    keyed.withColumn("split",
      when(b < trainPct, "train")
        .when(b < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Deterministic stratified sample: the `fraction` of each `strataCol`
    * group with the smallest id-hashes (hash order is uniform, so this
    * is an unbiased per-group sample that is STABLE across runs — rows
    * only leave the sample if the group shrinks). One shuffle on the
    * strata key. */
  def stratified(df: DataFrame, idCol: String, strataCol: String,
      fraction: Double, salt: String = "sample"): DataFrame = {
    require(fraction > 0 && fraction <= 1)
    // strata cardinality is SMALL (sources/languages), so the per-group
    // rank must not come from Window.partitionBy(strata) — that sorts
    // the corpus in |strata| tasks. Same recipe as [[temperatureMix]]:
    // range-parallel global rank with the stratum leading the sort key,
    // minus each stratum's broadcast start offset.
    val h = hash60(concat(lit(salt), lit(":"), col(idCol).cast("string")))
    val (ranked, offsets) = strataRanked(df, idCol, strataCol, h)
    joinStrata(ranked, offsets, strataCol)
      .filter(col("__grank") - col("__r0") + 1 <=
        ceil(col("__n") * fraction))
      .drop("__h", "__grank", "__n", "__r0")
  }

  /** Corpus ranked by (stratum, id-hash, id) via the two-phase global
    * rank, plus the per-stratum (count, exclusive start offset) table —
    * the shared machinery of [[stratified]] and [[quota]]. */
  private def strataRanked(df: DataFrame, idCol: String, strataCol: String,
      h: Column): (DataFrame, DataFrame) = {
    val wOff = Window.orderBy(strataCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = df.groupBy(strataCol).agg(count(lit(1)).as("__n"))
      .withColumn("__r0", coalesce(sum(col("__n")).over(wOff), lit(0L)) + 1)
    val ranked = Ranking.globalRank(df.withColumn("__h", h),
      Seq(col(strataCol), col("__h"), col(idCol)), rankCol = "__grank")
    (ranked, offsets)
  }

  /** Per-stratum quota: keep at most `cap` rows per `strataCol` group —
    * the absolute-count twin of [[stratified]] (source-balance caps in
    * corpus curation: no single domain/source may contribute more than
    * its quota). Same stability contract: the kept rows are the cap
    * smallest id-hashes, so the selection is uniform within the group
    * and stable under corpus growth. One shuffle on the strata key. */
  def quota(df: DataFrame, idCol: String, strataCol: String,
      cap: Int, salt: String = "quota"): DataFrame = {
    // same range-parallel shape as [[stratified]] — see the note there
    val h = hash60(concat(lit(salt), lit(":"), col(idCol).cast("string")))
    val (ranked, offsets) = strataRanked(df, idCol, strataCol, h)
    joinStrata(ranked, offsets, strataCol)
      .filter(col("__grank") - col("__r0") + 1 <= cap)
      .drop("__h", "__grank", "__n", "__r0")
  }

  /** Max-min fair budget allocation with overflow redistribution
    * (WATERFILLING): split a document budget equally across strata,
    * cap each stratum at its capacity, and re-pour what capped strata
    * couldn't absorb over the still-open ones — the "fair multilingual
    * budget" recipe (low-resource languages taken whole, the surplus
    * flowing to high-resource ones), which [[quota]] (fixed cap) and
    * [[temperatureMix]] (proportional, no redistribution) cannot
    * express.
    *
    * `rounds` unrolled integer rounds: each gives every open stratum
    * `(budget − used) div n_open`, clamped to remaining capacity;
    * floor-division leftovers (< n_open per round) stay unallocated —
    * reported honestly via the per-stratum `alloc`, never silently
    * topped up. All arithmetic integer, the allocation table is
    * strata-sized, and the selection is the [[quota]] recipe (smallest
    * salted id-hashes per stratum through the range-parallel rank), so
    * the whole operator is deterministic and oracle-exact. The only
    * corpus-sized passes are the capacity count and the final rank. */
  def budgetWaterfill(df: DataFrame, idCol: String, strataCol: String,
      budget: Long, rounds: Int = 3, salt: String = "wf"): DataFrame = {
    require(budget >= 0 && rounds >= 1)
    val caps = df.groupBy(strataCol).agg(count(lit(1)).as("__cap"))
    val alloc = (1 to rounds).foldLeft(
        caps.withColumn("__alloc", lit(0L))) { (st, _) =>
      val sc = st.agg(sum(col("__alloc")).as("__used"),
        sum(when(col("__alloc") < col("__cap"), 1L).otherwise(0L))
          .as("__open"))
      st.crossJoin(broadcast(sc))
        .withColumn("__give",
          when(col("__open") > 0 && col("__alloc") < col("__cap"),
            least(col("__cap") - col("__alloc"),
              // integer floor-div; the greatest() clamp makes the
              // negative-operand flooring difference moot cross-engine
              greatest(expr(s"(CAST($budget AS BIGINT) - __used) div __open"),
                lit(0L))))
            .otherwise(lit(0L)))
        .select(col(strataCol), col("__cap"),
          (col("__alloc") + col("__give")).as("__alloc"))
    }
    val h = hash60(concat(lit(salt), lit(":"), col(idCol).cast("string")))
    val (ranked, offsets) = strataRanked(df, idCol, strataCol, h)
    joinStrata(joinStrata(ranked, offsets, strataCol), alloc, strataCol)
      .filter(col("__grank") - col("__r0") + 1 <= col("__alloc"))
      .withColumn("n", col("__cap"))
      .withColumn("alloc", col("__alloc"))
      .drop("__h", "__grank", "__n", "__r0", "__cap", "__alloc")
  }

  /** Deterministic weighted sample: priority = hash(id)/weight, keep the
    * k smallest priorities. A row's selection odds scale with its weight
    * (e.g. sample long documents proportionally to length), yet the
    * sample is a pure function of (id, weight) — reproducible across
    * runs and engines (one IEEE double division; no `rand()`, no `pow`).
    * Global top-k executes as TakeOrdered (per-partition k-heaps + a
    * k-sized driver merge), never a full sort. */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      k: Int, salt: String = "ws"): DataFrame = {
    val h = hash60(concat(lit(salt), lit(":"), col(idCol).cast("string")))
    df.withColumn("priority", h.cast("double") / col(weightCol).cast("double"))
      .orderBy(col("priority"), col(idCol))
      .limit(k)
  }

  /** DSIR-style importance resampling (Xie et al. 2023, public — "Data
    * Selection for Language Models via Importance Resampling"): select
    * `budget` documents from the raw corpus so the sample's hashed
    * n-gram profile moves toward a TARGET domain's profile — the
    * curation rung between the quality filter and the temperature mix
    * (filter junk → reweight toward the domain you train for → balance
    * sources).
    *
    * Features are hashed token buckets (the paper's hashed n-gram
    * device): every token maps to one of `buckets` integer cells via
    * the portable 60-bit hash, and a document's importance weight is
    * the RATIO of its target-profile mass to its raw-profile mass,
    *
    *   w(d) = (Σ_g ct[b(g)] / Nt) / (Σ_g cr[b(g)] / Nr)
    *
    * computed as ONE IEEE division of exact integer-multiplied operands
    * (`(sct·Nr)/(scr·Nt)` — engine-reproducible; the paper's
    * log-likelihood-ratio form orders identically for the single-sum
    * linear estimator but needs `log`, which is not correctly-rounded
    * in either engine). Selection is [[weightedSample]]'s deterministic
    * priority machinery verbatim: priority = hash(salt:id)/w, keep the
    * `budget` smallest — Gumbel-style weighted sampling without
    * `rand()`, reproducible across runs/engines/retries. Documents
    * with ZERO target-bucket mass (w = 0) are excluded before the
    * division — they carry no target evidence and a 0-weight priority
    * is +∞ in both engines anyway.
    *
    * Scale shape: tokenize is narrow; the only corpus-scale shuffle is
    * the map-side-combined (doc, bucket) count (≤ `buckets` rows per
    * doc); the two bucket profiles are ≤ `buckets`-row broadcasts and
    * the totals a 1-row broadcast; selection is TakeOrdered (bounded
    * heaps), never a full sort. Overflow note: the exact integer
    * products bound |sct·Nr| by grams-per-doc · Nt · Nr — fine through
    * petabyte gate scales; past that, pre-divide each profile by its
    * total (two extra rounded divisions) before the ratio.
    *
    * Returns the selected rows of `docs` plus (w, priority). */
  def importanceResample(docs: DataFrame, isTarget: Column, idCol: String,
      textCol: String, budget: Int, buckets: Int = 64,
      salt: String = "dsir"): DataFrame =
    importanceFromBuckets(
      importanceBuckets(docs, isTarget, idCol, textCol, buckets),
      docs, idCol, budget, salt)

  /** The mergeable CORE of [[importanceResample]]: per-(doc, bucket)
    * hashed-gram counts — ONE map-side-combined shape for everything
    * corpus-scale. A hash split of the corpus partitions DOCUMENTS, so
    * batches produce DISJOINT (doc, bucket) rows: incremental
    * maintenance is batch-owned-partition appends (a replay rewrites
    * its own partition) and the assembled state IS the one-shot table
    * — no versioned-counter machinery needed. */
  def importanceBuckets(docs: DataFrame, isTarget: Column, idCol: String,
      textCol: String, buckets: Int = 64): DataFrame =
    docs
      .select(col(idCol), isTarget.as("__tgt"),
        explode(graft.functions.Hashing.tokens(col(textCol))).as("__t"))
      .withColumn("__b", pmod(hash60(col("__t")), lit(buckets.toLong)))
      .groupBy(col(idCol), col("__tgt"), col("__b"))
      .agg(count(lit(1)).as("__k"))

  /** Finish [[importanceResample]] from the (doc, bucket) count table:
    * both bucket profiles ride a single aggregation of it (raw = all
    * docs, target = the flagged docs — one `when`, not a second scan),
    * totals fold off the ≤`buckets`-row profile for free, and the
    * scoring join consumes it again — with the one-shot core the
    * corpus tokenizes exactly twice (profile pass + scoring pass), the
    * natural two-pass DSIR shape, never four times. */
  def importanceFromBuckets(pdb: DataFrame, docs: DataFrame, idCol: String,
      budget: Int, salt: String = "dsir"): DataFrame = {
    val profile = pdb.groupBy("__b").agg(
      sum(col("__k")).as("__cr"),
      sum(when(col("__tgt"), col("__k")).otherwise(0L)).as("__ct"))
    val totals = profile.agg(
      sum(col("__cr")).as("__nr"), sum(col("__ct")).as("__nt"))
    val sums = pdb
      .join(broadcast(profile), "__b")
      .groupBy(idCol)
      .agg(sum(col("__k") * col("__ct")).as("__sct"),
        sum(col("__k") * col("__cr")).as("__scr"))
    val weighted = sums.crossJoin(broadcast(totals))
      .filter(col("__sct") > 0)
      .withColumn("w", (col("__sct") * col("__nr")).cast("double") /
        (col("__scr") * col("__nt")).cast("double"))
      .select(col(idCol), col("w"))
    weightedSample(docs.join(weighted, idCol), idCol, "w", budget, salt)
  }

  /** Temperature-scaled source mixing: resample the corpus to `budget`
    * rows with per-source shares w_s/Σw where w_s = `weightOfCount`(n_s)
    * — the standard multilingual/source-rebalancing sampler (a concave
    * weight, e.g. `sqrt`, upweights low-resource sources relative to
    * proportional sampling). Per-source quotas are `min(n_s,
    * floor(budget·share))` with the share rounded to 6 decimals so
    * every engine computes the identical integer; within a source the
    * selection keeps the smallest id-hashes ([[quota]]'s stability
    * contract: uniform, reproducible, append-stable).
    *
    * Scale shape: source cardinality is SMALL (languages/domains), so
    * the per-source rank must not come from `Window.partitionBy(source)`
    * — that sorts the corpus in |sources| tasks. Rank via the
    * range-parallel global rank (source leads the sort key) minus each
    * source's broadcast start offset; quotas live on a tiny broadcast
    * table. NOTE for the weight choice: `sqrt` is IEEE-correctly-rounded
    * and therefore engine-reproducible; `pow(x, α)` is NOT guaranteed
    * bit-identical across libm implementations — prefer chains of
    * sqrt/division for cross-engine determinism. */
  def temperatureMix(df: DataFrame, idCol: String, sourceCol: String,
      budget: Long, weightOfCount: Column => Column = sqrt(_),
      salt: String = "mix"): DataFrame = {
    val counts = df.groupBy(sourceCol).agg(count(lit(1)).as("n"))
    val total = counts.select(sum(weightOfCount(col("n"))).as("wtot"))
    val wOff = Window.orderBy(sourceCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    val takes = counts.crossJoin(broadcast(total))
      .withColumn("share", Exact.round(weightOfCount(col("n")) / col("wtot"), 6))
      .withColumn("take",
        least(col("n"), floor(lit(budget) * col("share")).cast("long")))
      .withColumn("r0", coalesce(sum(col("n")).over(wOff), lit(0L)) + 1)
      .select(sourceCol, "take", "r0")
    val h = hash60(concat(lit(salt), lit(":"), col(idCol).cast("string")))
    val ranked = Ranking.globalRank(df.withColumn("__h", h),
      Seq(col(sourceCol), col("__h"), col(idCol)), rankCol = "__grank")
    joinStrata(ranked, takes, sourceCol)
      .filter(col("__grank") - col("r0") + 1 <= col("take"))
      .drop("__h", "__grank", "r0")
  }

  /** Curriculum phase assignment: order the corpus easy→hard by
    * `scoreCol` (descending — higher score = easier/cleaner) and cut it
    * into `phases` contiguous, near-equal blocks: `phase = ((rank−1) ·
    * phases) div n + 1`, pure integer arithmetic, so block sizes differ
    * by at most one and every engine draws the identical boundaries (a
    * float `rank/n` cut flips rows at exact-multiple boundaries).
    *
    * The global order comes from [[Ranking.globalRank]] (range-parallel
    * two-phase rank), NOT `Window.orderBy` — a curriculum over a 100 TB
    * corpus cannot single-task its sort; `n` rides a 1-row broadcast.
    * Ties break on `idCol`, so assignment is total and reproducible. */
  def curriculum(df: DataFrame, idCol: String, scoreCol: String,
      phases: Int = 4): DataFrame = {
    require(phases >= 1, s"phases $phases must be >= 1")
    val ranked = Ranking.globalRank(df,
      Seq(col(scoreCol).desc, col(idCol)), rankCol = "curriculum_rank")
    val total = df.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(total))
      .withColumn("phase",
        expr(s"(curriculum_rank - 1) * $phases div __n + 1"))
      .drop("__n")
  }

  /** Deterministic per-epoch corpus shuffle: every epoch is a
    * pseudo-random permutation `position = rank of hash60("epoch<e>:" ++
    * id)` — uniform hash order is indistinguishable from a random
    * shuffle for training purposes, but reproducible (same epoch → same
    * order on every run/cluster/retry) and seekable (a resumed job
    * re-derives positions instead of replaying a recorded permutation).
    * The rank is the range-parallel two-phase one — a 100 TB epoch
    * cannot single-task its sort; id breaks (astronomically unlikely)
    * hash ties so the order is total. */
  def epochShuffle(df: DataFrame, idCol: String, epoch: Int): DataFrame =
    Ranking.globalRank(df,
      Seq(hash60(concat(lit(s"epoch$epoch:"), col(idCol).cast("string"))),
        col(idCol)),
      rankCol = "position")

  /** Sequence packing for training: assign documents to fixed token
    * budgets (context windows). Documents are spread over `buckets`
    * independent lanes by id-hash; within a lane, packs fill in id order
    * by exclusive running token count (`pack_id = start_tok div budget`).
    * Lanes make the running sum shuffle-parallel — one window partition
    * per lane, not a single global cumsum — and packs remain
    * deterministic and append-stable within each lane. */
  def packSequences(docs: DataFrame, idCol: String, tokensCol: Column,
      budget: Int = 2048, buckets: Int = 8, salt: String = "pack"): DataFrame = {
    val w = Window.partitionBy("bucket").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col(idCol), tokensCol.cast("long").as("n_tokens"),
        bucket(col(idCol), salt, buckets).as("bucket"))
      .withColumn("start_tok", coalesce(sum("n_tokens").over(w), lit(0L)))
      .withColumn("pack_id", expr(s"start_tok div $budget"))
  }

  /** Overlapping fixed-width token-window chunking — the long-document
    * complement of [[packSequences]] (pack joins SHORT docs up to a
    * budget; chunk splits LONG docs down to one): every document
    * becomes `1 + ⌈max(n−width, 0)/stride⌉` training sequences of up to
    * `width` tokens taken every `stride` tokens — stride < width gives
    * width−stride tokens of overlap between consecutive chunks (the
    * standard context-window chunking for pretraining sequences and
    * RAG passage indexing), and the formula guarantees the final
    * window always reaches the document's tail (no token is dropped).
    *
    * Scale shape: NARROW — per-row tokenize + one explode bounded by
    * n/stride rows per doc; no shuffle, no window, no join. At 100 TB
    * this runs at scan speed and parallelizes with the input splits;
    * output order within a doc is the chunk index, so downstream
    * repartitioning can never interleave two docs' chunks into a
    * wrong reassembly. */
  def chunkDocuments(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", width: Int = 32,
      stride: Int = 24): DataFrame = {
    require(width >= 1, s"width must be >= 1, got $width")
    require(stride >= 1 && stride <= width,
      s"stride must be in [1, width], got $stride (width $width)")
    val tk = graft.functions.Hashing.tokens(col(textCol))
    docs
      // blank docs (no non-whitespace char) emit NO chunks. The guard
      // tests the TEXT, not the token count: split("", "\s+") returns
      // [""] (size 1) in both engines, so a token-count guard would
      // emit one phantom chunk of the empty token per blank doc.
      .select(col(idCol), tk.as("__tk"),
        col(textCol).rlike("\\S").as("__nb"))
      .select(col(idCol), col("__tk"),
        when(col("__nb"), size(col("__tk"))).otherwise(lit(0)).as("__n"))
      // chunk ids 0..⌈max(n−w,0)/s⌉
      .select(col(idCol), col("__tk"), col("__n"),
        explode(when(col("__n") > 0, sequence(lit(0L),
            ceil(greatest(col("__n") - lit(width), lit(0)).cast("double") /
              stride)))
          .otherwise(array().cast("array<long>"))).as("chunk_id"))
      .select(col(idCol),
        col("chunk_id").cast("long").as("chunk_id"),
        (col("chunk_id") * stride).cast("long").as("start_tok"),
        least(lit(width.toLong),
          col("__n") - col("chunk_id") * stride).cast("long").as("n_tokens"),
        concat_ws(" ", slice(col("__tk"),
          (col("chunk_id") * stride + 1).cast("int"),
          lit(width))).as("chunk_text"))
  }

  /** Balanced shard assignment by token count — "snake" (boustrophedon)
    * allocation: documents ranked by size DESC are dealt across
    * `shards` in zigzag order (0,1,…,S−1,S−1,…,1,0,0,1,…), so every
    * shard receives exactly one document from each consecutive size
    * band of S and the per-shard token totals differ by at most the
    * within-band spread — the balanced dataloader files a training run
    * wants, without any driver-side bin-packing state. The assignment
    * is a closed-form function of the rank alone, so it stays
    * deterministic and embarrassingly parallel.
    *
    * Scale shape: the only non-narrow step is the global size rank,
    * which goes through the deterministic two-phase range-parallel
    * rank ([[Ranking.globalRankCumsum]] — never a partitionless
    * window); `cum_tokens` rides the same pass for free (the shard
    * manifest's running byte budget). */
  def shardBalance(docs: DataFrame, idCol: String, tokensCol: Column,
      shards: Int = 8): DataFrame = {
    require(shards >= 1, s"need at least 1 shard, got $shards")
    val base = docs.select(col(idCol), tokensCol.cast("long").as("n_tokens"))
    val ranked = Ranking.globalRankCumsum(base,
      Seq(col("n_tokens").desc, col(idCol)), col("n_tokens"))
    val i = col("rank") - 1
    val round = floor(i / shards)
    val pos = pmod(i, lit(shards.toLong))
    val shard = when(pmod(round, lit(2L)) === 0, pos)
      .otherwise(lit((shards - 1).toLong) - pos)
    ranked.select(col(idCol), col("n_tokens"),
      col("rank").cast("long").as("rank"),
      shard.cast("long").as("shard"),
      col("cum").cast("long").as("cum_tokens"))
  }

  /** GROUP-AWARE k-fold assignment: the fold is a pure hash of the GROUP
    * key (user, domain, session — whatever unit must never straddle a
    * train/test boundary), so every row of a group lands in the same
    * fold by construction — the leakage guarantee cross-validation
    * actually needs, and the one a row-level `rand()` split silently
    * violates (a user's Monday events train the model that is evaluated
    * on their Tuesday events).
    *
    * Same determinism contract as [[assign]]: fold membership is a pure
    * function of (salt, group key) — stable across runs, clusters and
    * retries, and new rows of a known group join its existing fold
    * (incremental reprocessing never reshuffles folds). Narrow (no
    * shuffle): one hash per row.
    */
  def kfold(df: DataFrame, groupCol: String, k: Int = 5,
      salt: String = "kfold"): DataFrame = {
    require(k > 1, "need at least 2 folds")
    df.withColumn("fold",
      pmod(hash60(concat(lit(s"$salt:"), col(groupCol).cast("string"))),
        lit(k)).cast("long"))
  }
}
