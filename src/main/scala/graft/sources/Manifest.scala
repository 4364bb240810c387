package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal manifest-based table format: versioned snapshots with
  * ATOMIC commits and time travel over plain parquet — the
  * transactional skin a silver lake table needs once writers and
  * readers overlap (the reference's Postgres tables get this from the
  * database for free; a directory of parquet files does not).
  *
  * Layout under a table root:
  * {{{
  *   _data/<version>-<uuid>/part-*.parquet   -- immutable data files
  *   _manifests/v<version>.json              -- file list per version
  * }}}
  *
  * Correctness comes from two properties, not from locking:
  *  - data files are write-once (each commit writes to a fresh
  *    directory, never touching previous versions' files);
  *  - a version EXISTS iff its manifest file exists, and the manifest
  *    is published by an atomic rename from a temp name — readers
  *    either see a complete version or none of it, never a partial
  *    file list.
  *
  * CONCURRENCY SCOPE: the commit race is decided by the filesystem's
  * no-overwrite rename (rename fails when the destination exists —
  * HDFS and POSIX local filesystems guarantee this, and the spec
  * asserts it). Plain object-store PUTs do NOT qualify: S3 PUT (and
  * S3A's copy-based rename) is last-writer-wins, so two concurrent
  * committers could both claim a version and one snapshot would be
  * silently lost. On such stores this format needs a conditional-put
  * primitive (`If-None-Match: *`) or an external lock/commit service
  * standing in for the rename; single-writer pipelines are safe
  * everywhere (readers only ever need manifest-read atomicity, which
  * every store provides).
  *
  * Readers resolve `latestVersion` once and then read a CONSISTENT
  * snapshot regardless of concurrent commits — the reason dashboards
  * over a live silver table need this layer at all. Old versions stay
  * readable (time travel — [[graft.ops.Reconcile.snapshotDiff]] /
  * `changeFeed` between two versions of the same table composes
  * directly) until [[vacuum]] retires them.
  *
  * Scale shape: the manifest holds file PATHS (thousands), never rows;
  * commit cost is the parquet write + one rename; version resolution
  * is one directory listing. Optimistic concurrency: [[commit]] claims
  * version n = latest+1 by the rename's create-if-absent semantics —
  * a losing concurrent writer fails its rename and retries on n+1.
  */
object Manifest {

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(root: String) = s"$root/_manifests"

  /** All committed versions, ascending (empty for a fresh root). */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val dir = new Path(manifestDir(root))
    val f = fs(spark, root)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(_.stripPrefix("v").stripSuffix(".json").toLong)
      .sorted
  }

  def latestVersion(spark: SparkSession, root: String): Option[Long] =
    versions(spark, root).lastOption

  /** Commit `df` as the next version of the table; returns the version
    * committed. Retries on manifest-rename collision (another writer
    * claimed the version first). */
  def commit(df: DataFrame, root: String, maxRetries: Int = 5): Long = {
    val spark = df.sparkSession
    val f = fs(spark, root)
    val uuid = java.util.UUID.randomUUID().toString.take(8)
    var attempt = 0
    while (true) {
      val v = latestVersion(spark, root).getOrElse(-1L) + 1L
      val dataDir = s"$root/_data/$v-$uuid"
      df.write.mode("errorifexists").parquet(dataDir)
      val files = listParquet(f, new Path(dataDir))
      val tmp = new Path(manifestDir(root), s".tmp-$v-$uuid.json")
      writeManifestTmp(f, tmp, files)
      // atomic publish: rename fails (returns false) if v<n>.json exists
      // — the losing writer cleans up and retries on the next version
      if (f.rename(tmp, new Path(manifestDir(root), s"v$v.json"))) return v
      f.delete(tmp, false)
      f.delete(new Path(dataDir), true)
      attempt += 1
      if (attempt > maxRetries)
        throw new IllegalStateException(
          s"manifest commit lost $maxRetries races at $root")
    }
    -1L // unreachable
  }

  /** Commit `df` as an APPEND: the next version references every file
    * of the current version PLUS the newly written ones — the right
    * shape for an append-only log (the fetch ledger), where
    * [[commit]]'s full rewrite would copy the whole history every
    * batch. The new files are written ONCE (they are version-agnostic);
    * only the manifest publish retries on a version race, re-reading
    * the winner's file list so no concurrent append is lost. A fresh
    * root appends onto the empty file list (version 0). */
  def commitAppend(df: DataFrame, root: String, maxRetries: Int = 5): Long = {
    val spark = df.sparkSession
    val f = fs(spark, root)
    val uuid = java.util.UUID.randomUUID().toString.take(8)
    val dataDir = s"$root/_data/app-$uuid"
    df.write.mode("errorifexists").parquet(dataDir)
    val newFiles = listParquet(f, new Path(dataDir))
    var attempt = 0
    while (true) {
      val prev = latestVersion(spark, root)
      val v = prev.getOrElse(-1L) + 1L
      val files =
        (prev.map(manifestFiles(spark, root, _)).getOrElse(Seq.empty)
          ++ newFiles).sorted
      val tmp = new Path(manifestDir(root), s".tmp-$v-$uuid.json")
      writeManifestTmp(f, tmp, files)
      if (f.rename(tmp, new Path(manifestDir(root), s"v$v.json"))) return v
      f.delete(tmp, false)
      attempt += 1
      if (attempt > maxRetries) {
        f.delete(new Path(dataDir), true)
        throw new IllegalStateException(
          s"append commit lost $maxRetries races at $root")
      }
    }
    -1L // unreachable
  }

  /** Transactional OPTIMIZE: rewrite the CURRENT snapshot's physical
    * layout (same rows, better files) and commit the rewrite as the
    * NEXT version — the missing atomicity between [[graft.sources.Layout]]
    * and this format. A reader concurrent with the optimize resolves
    * either the old manifest or the new one, never a half-compacted
    * directory (data dirs are write-once and versions exist iff their
    * manifest does — same two properties every commit rests on).
    *
    * Optimistic concurrency does the data-loss-prevention work: each
    * attempt re-resolves the LATEST version, rewrites THAT snapshot's
    * files, and claims latest+1 by no-overwrite rename. If an ordinary
    * data commit wins the version race, the optimize loses its rename,
    * discards the stale rewrite, and re-runs against the new snapshot —
    * a concurrent commit can never be silently replaced by a compacted
    * copy of an older version (spec-proven via a staged race).
    *
    * `rewrite(files, outDir)` writes the snapshot (given as its parquet
    * file list) into `outDir`; it must neither read nor touch anything
    * else under the root. */
  def optimize(spark: SparkSession, root: String, maxRetries: Int = 5)(
      rewrite: (Seq[String], String) => Unit): Long = {
    val f = fs(spark, root)
    val uuid = java.util.UUID.randomUUID().toString.take(8)
    var attempt = 0
    while (true) {
      val v = latestVersion(spark, root).getOrElse(
        throw new IllegalArgumentException(s"no versions to optimize at $root"))
      val next = v + 1L
      val dataDir = s"$root/_data/$next-$uuid"
      rewrite(manifestFiles(spark, root, v), dataDir)
      val files = listParquet(f, new Path(dataDir))
      val tmp = new Path(manifestDir(root), s".tmp-$next-$uuid.json")
      writeManifestTmp(f, tmp, files)
      if (f.rename(tmp, new Path(manifestDir(root), s"v$next.json")))
        return next
      // lost the race to a concurrent committer: discard the stale
      // rewrite wholesale and re-optimize the NEW latest snapshot
      f.delete(tmp, false)
      f.delete(new Path(dataDir), true)
      attempt += 1
      if (attempt > maxRetries)
        throw new IllegalStateException(
          s"optimize lost $maxRetries races at $root")
    }
    -1L // unreachable
  }

  /** Transactional DELETE — the lake-side analog of the SQL DELETE the
    * reference gets from Postgres for free, and the primitive a
    * right-to-be-forgotten request needs against a parquet table.
    *
    * COPY-ON-WRITE at file granularity: one predicate-pushed scan finds
    * the files that actually CONTAIN matching rows (parquet row-group
    * stats prune the rest — for a selective predicate most files are
    * never opened); only those files are rewritten without their
    * matching rows, and every untouched file carries into the next
    * version's manifest BY REFERENCE — a delete of one user from a
    * million-file table rewrites a handful of files, not the table.
    *
    * SQL DELETE null semantics: rows where the predicate evaluates
    * NULL are KEPT (only predicate-TRUE rows go).
    *
    * Optimistic concurrency, same loop as [[optimize]]: each attempt
    * re-resolves the LATEST version and re-applies the predicate to
    * THAT snapshot, so a delete racing an ordinary commit converges on
    * "new snapshot minus matching rows" — matching rows added by the
    * concurrent commit are re-found on retry, never resurrected. The
    * touched-file list is manifest-sized (a bounded driver collect by
    * the same contract as the manifest itself). Returns the committed
    * version, or the CURRENT version untouched when nothing matches
    * (no empty no-op commits). */
  def deleteWhere(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column, maxRetries: Int = 5): Long = {
    import org.apache.spark.sql.functions.{coalesce, input_file_name, lit, not}
    val f = fs(spark, root)
    val uuid = java.util.UUID.randomUUID().toString.take(8)
    def norm(p: String): String = new Path(p).toUri.getPath
    var attempt = 0
    while (true) {
      val v = latestVersion(spark, root).getOrElse(
        throw new IllegalArgumentException(s"no versions to delete at $root"))
      val files = manifestFiles(spark, root, v)
      val touched = spark.read.parquet(files: _*)
        .filter(predicate)
        .select(input_file_name().as("f")).distinct()
        .collect().map(r => norm(r.getString(0))).toSet
      if (touched.isEmpty) return v
      val (rewrite, keep) = files.partition(p => touched(norm(p)))
      val next = v + 1L
      val dataDir = s"$root/_data/$next-$uuid"
      spark.read.parquet(rewrite: _*)
        .filter(not(coalesce(predicate, lit(false))))
        .write.mode("errorifexists").parquet(dataDir)
      val newFiles = (keep ++ listParquet(f, new Path(dataDir))).sorted
      val tmp = new Path(manifestDir(root), s".tmp-$next-$uuid.json")
      writeManifestTmp(f, tmp, newFiles)
      if (f.rename(tmp, new Path(manifestDir(root), s"v$next.json")))
        return next
      f.delete(tmp, false)
      f.delete(new Path(dataDir), true)
      attempt += 1
      if (attempt > maxRetries)
        throw new IllegalStateException(
          s"deleteWhere lost $maxRetries races at $root")
    }
    -1L // unreachable
  }

  /** [[optimize]] with [[Layout.compactFiles]] as the rewrite: atomic
    * small-file compaction (one ~targetBytes file per bin). */
  def optimizeCompact(spark: SparkSession, root: String, targetBytes: Long,
      lanes: Int = 32): Long =
    optimize(spark, root) { (files, out) =>
      val f = fs(spark, root)
      val sized = files.map(p => (p, f.getFileStatus(new Path(p)).getLen))
      Layout.compactFiles(spark, sized, out, targetBytes, lanes)
      ()
    }

  /** Recursively list the parquet files under `dir`, sorted. */
  private def listParquet(f: FileSystem, dir: Path): Seq[String] = {
    val it = f.listFiles(dir, true)
    val out = Seq.newBuilder[String]
    while (it.hasNext) {
      val s = it.next()
      if (s.getPath.getName.endsWith(".parquet")) out += s.getPath.toString
    }
    out.result().sorted
  }

  private def writeManifestTmp(f: FileSystem, tmp: Path,
      files: Seq[String]): Unit = {
    val body = files.map(p => "\"" + p.replace("\\", "\\\\")
      .replace("\"", "\\\"") + "\"").mkString("[", ",", "]")
    f.mkdirs(tmp.getParent)
    val out = f.create(tmp, false)
    out.write(body.getBytes("UTF-8")); out.close()
  }

  private def manifestFiles(spark: SparkSession, root: String, v: Long)
      : Seq[String] = {
    val p = new Path(manifestDir(root), s"v$v.json")
    val f = fs(spark, root)
    require(f.exists(p), s"no version $v at $root")
    val in = f.open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    // manifest bodies are a flat JSON string array written by commit().
    // Tokenize properly (quote-aware, escape-aware) — splitting on ','
    // would corrupt any path that legally contains a comma.
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < body.length) {
      if (body(i) == '"') {
        val sb = new StringBuilder
        i += 1
        while (body(i) != '"') {
          if (body(i) == '\\') { sb.append(body(i + 1)); i += 2 }
          else { sb.append(body(i)); i += 1 }
        }
        out += sb.toString
      }
      i += 1
    }
    out.result()
  }

  /** Read a committed snapshot: the latest by default, or any retained
    * `version` (time travel). The file list is resolved ONCE, so the
    * read is consistent under concurrent commits. */
  def read(spark: SparkSession, root: String,
      version: Option[Long] = None): DataFrame = {
    val v = version.orElse(latestVersion(spark, root))
      .getOrElse(throw new IllegalArgumentException(s"no versions at $root"))
    spark.read.parquet(manifestFiles(spark, root, v): _*)
  }

  /** Retire all but the newest `keep` versions: manifests first (a
    * version stops existing the moment its manifest is gone), then any
    * data directory no surviving manifest references.
    *
    * NOT for tables under a [[TxManifest]] root: newest-K-by-number
    * retention can destroy the tx-pinned snapshot — after a torn tx
    * (phase-1 table versions committed, tx record never published) the
    * ORPHANS are the newest versions while the latest tx pins an older
    * one, so keeping the newest K deletes exactly the version every tx
    * reader resolves. Tx-managed tables are reclaimed by
    * [[TxManifest.vacuum]], which retains what retained tx records pin. */
  def vacuum(spark: SparkSession, root: String, keep: Int = 2): Unit = {
    require(keep >= 1)
    vacuumTo(spark, root, versions(spark, root).takeRight(keep).toSet)
  }

  /** Retire every version NOT in `retain` (manifests first, then
    * unreferenced data directories). The primitive under [[vacuum]]
    * (newest-K policy) and [[TxManifest.vacuum]] (pinned-by-tx
    * policy). */
  def vacuumTo(spark: SparkSession, root: String, retain: Set[Long]): Unit = {
    require(retain.nonEmpty, "refusing to vacuum every version away")
    val f = fs(spark, root)
    val vs = versions(spark, root)
    require(retain.subsetOf(vs.toSet),
      s"retain set names versions that do not exist at $root: " +
        s"${retain -- vs.toSet}")
    val dead = vs.filterNot(retain)
    dead.foreach(v => f.delete(new Path(manifestDir(root), s"v$v.json"), false))
    // a file's owning version directory is the path segment directly
    // under _data — NOT the immediate parent, which for an optimized
    // (compacted) version is a bin=<n> partition subdirectory
    def versionDir(p: Path): String = {
      var cur = p
      while (cur.getParent != null && cur.getParent.getName != "_data")
        cur = cur.getParent
      cur.getName
    }
    val live = vs.filter(retain)
      .flatMap(v => manifestFiles(spark, root, v))
      .map(p => versionDir(new Path(p))).toSet
    val dataRoot = new Path(s"$root/_data")
    if (f.exists(dataRoot))
      f.listStatus(dataRoot).toSeq.map(_.getPath)
        .filterNot(p => live.contains(p.getName))
        .foreach(p => f.delete(p, true))
  }
}
