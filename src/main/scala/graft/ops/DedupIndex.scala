package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent incremental MinHash-LSH dedup index — the steady-state
  * shape of near-dup detection at lake scale.
  *
  * The one-shot [[Dedup.minHashLsh]] re-sketches the whole corpus per
  * run; at 100 TB that's the dominant cost and it is pure recompute.
  * This index persists two tables under `root`:
  *   - `bands/`    (doc_id, band, bkey) — the joinable LSH rows
  *   - `shingles/` (doc_id, hs, n)      — each shingle set as its sorted
  *     60-bit hash array and its size, for the exact verify
  * A new batch sketches ONLY itself (one [[Dedup.signatures]] pass),
  * joins its bands against the stored bands (new×old) and itself
  * (new×new), verifies Jaccard exactly with the family's one verify (a
  * merge of the stored 8-byte hash arrays; nothing is re-hashed per
  * batch), and appends its rows — per-batch cost is proportional to the
  * batch, not the corpus. The band join key (band, bkey) is a uniform
  * hash → no skew.
  *
  * Each batch owns the partition directory `batch=<batchId>` in both
  * tables and writes it with OVERWRITE: an at-least-once replay (e.g. a
  * foreachBatch retry after the append but before the checkpoint commit)
  * rewrites the same rows instead of duplicating them, so the index
  * never accumulates duplicate sketch rows and verify joins stay 1:1.
  */
object DedupIndex {

  private def bandsDir(root: String) = s"$root/bands"
  private def shinglesDir(root: String) = s"$root/shingles"

  /** Sketch `newDocs`, write the batch's sketch rows into its own index
    * partition (idempotent under replay — see class doc), and emit the
    * batch's near-dup pairs against the index AND within the batch.
    *
    * The index partitions land FIRST and the returned pair frame reads
    * them back: the batch's own rows come off its just-written
    * partition and the cross-batch side off the others (self-exclusion
    * by the `batch` partition column, so a replay still never joins
    * against its own earlier rows). One lazy read-back plan replaces
    * the old materialize-then-append ordering — one fewer action per
    * batch, and the pair job scans output-sized parquet instead of
    * re-deriving the sketch lineage.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b, UNORDERED — pairs
    * are output-sized, so a consumer that needs order sorts once at the
    * end instead of paying a global sort per batch. Doc ids must be
    * globally unique across all batches; `batchId` must be unique per
    * batch and stable across retries of the same batch (foreachBatch's
    * batchId has exactly this contract).
    * `indexFiles` bounds the file count of each batch's index
    * partition: micro-batches at the session's shuffle parallelism
    * would otherwise write 32+ near-empty files per batch per table,
    * and every LATER append re-lists and re-opens all of them — the
    * classic small-files tax, paid once per write but once per batch
    * forever after on the read side. */
  def append(spark: SparkSession, root: String, newDocs: DataFrame,
      batchId: Long,
      idCol: String = "doc_id", textCol: String = "text",
      numPerms: Int = 64, bands: Int = 16,
      threshold: Double = 0.5, indexFiles: Int = 4): DataFrame = {
    val sig = Dedup.signatures(Dedup.shingleSets(newDocs, idCol, textCol),
        numPerms)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup.bandTable(sig, numPerms, bands)
      .coalesce(indexFiles).write.mode("overwrite")
      .parquet(s"${bandsDir(root)}/batch=$batchId")
    sig.select("doc_id", "hs", "n").coalesce(indexFiles).write.mode("overwrite")
      .parquet(s"${shinglesDir(root)}/batch=$batchId")
    sig.unpersist()
    pairsOfBatch(spark, root, batchId, threshold)
  }

  /** Backfill an EMPTY index from a historical corpus in ONE pass:
    * `batchExpr` labels each doc with the batch partition that owns it,
    * the corpus is sketched once, and a single partitioned write lands
    * every `batch=<id>` directory of both tables at once — the same
    * directory layout and rows N sequential [[append]] calls produce
    * (each batch partition compacted to one file), minus N−1 batches of
    * scheduling constants (the [[graft.streaming.VectorIndex.bootstrap]]
    * pattern applied to the dedup lane). Streamed appends — including
    * an at-least-once replay of a bootstrapped batch — take over
    * seamlessly: replay overwrites its own partition and joins the
    * rest, exactly as after sequential appends (spec-proven
    * interchangeable). Pair emission for the backfilled corpus is one
    * [[allPairs]] scan — per-batch emission resumes with the appends. */
  def bootstrap(spark: SparkSession, root: String, docs: DataFrame,
      batchExpr: Column,
      idCol: String = "doc_id", textCol: String = "text",
      numPerms: Int = 64, bands: Int = 16): Unit = {
    val sh = Dedup.shingleSets(
        docs.withColumn("__batch", batchExpr.cast("long")),
        idCol, textCol, carry = Seq("__batch"))
      .withColumnRenamed("__batch", "batch")
    val sig = Dedup.signatures(sh, numPerms, carry = Seq("batch"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup.bandTable(sig, numPerms, bands, carry = Seq("batch"))
      .repartition(col("batch")) // one file per batch partition
      .write.mode("overwrite").partitionBy("batch")
      .parquet(bandsDir(root))
    sig.select("doc_id", "hs", "n", "batch").repartition(col("batch"))
      .write.mode("overwrite").partitionBy("batch")
      .parquet(shinglesDir(root))
    sig.unpersist()
  }

  /** Near-dup pairs of ONE batch against the index (cross-batch, both
    * directions canonicalized id_a < id_b) and within itself — read
    * entirely off the stored index partitions. */
  def pairsOfBatch(spark: SparkSession, root: String, batchId: Long,
      threshold: Double = 0.5): DataFrame = {
    val bands = spark.read.parquet(bandsDir(root))
    val nb = bands.filter(col("batch") === batchId)
      .select("doc_id", "band", "bkey")
    val ob = bands.filter(col("batch") =!= batchId)
      .select("doc_id", "band", "bkey")
    val crossCand = nb.as("n").join(ob.as("o"),
        col("n.band") === col("o.band") && col("n.bkey") === col("o.bkey"))
      .select(least(col("n.doc_id"), col("o.doc_id")).as("id_a"),
        greatest(col("n.doc_id"), col("o.doc_id")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    Dedup.verifiedPairs(
      Dedup.bandCandidates(nb).unionByName(crossCand).distinct(),
      hashedIndex(spark, root), threshold)
  }

  /** Every near-dup pair in the index — the full-index report a
    * backfill emits once ([[bootstrap]]), and the union-equality anchor
    * for the incremental path: the per-batch emissions of sequential
    * [[append]]s, distinct-unioned, equal exactly this (each pair
    * surfaces when its LATER batch lands; spec-proven). */
  def allPairs(spark: SparkSession, root: String,
      threshold: Double = 0.5): DataFrame = {
    val bands = spark.read.parquet(bandsDir(root))
      .select("doc_id", "band", "bkey")
    Dedup.verifiedPairs(Dedup.bandCandidates(bands),
      hashedIndex(spark, root), threshold)
  }

  /** The stored hash sets (doc_id, hs, n) of every batch. */
  private def hashedIndex(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(shinglesDir(root)).select("doc_id", "hs", "n")
}
