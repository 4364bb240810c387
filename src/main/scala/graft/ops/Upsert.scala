package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Last-write-wins upsert semantics over immutable data.
  *
  * The reference relies on Postgres `ON CONFLICT (lat,lon,ts) DO UPDATE`
  * (etl/load.py:21-58). A lake has no unique constraints, so the same
  * guarantee is an operator: keep the newest version of each key.
  *
  * Scale: one shuffle on the key columns; the window never sorts more
  * than one key-group per task. For a 100 TB silver table the merge is
  * bounded by the touched partitions — only date partitions present in
  * the incoming batch are read and rewritten (see [[mergePartitioned]]).
  */
object Upsert {

  /** Keep exactly one row per key: the one with the highest version
    * (ties broken by `tieBreak` descending for determinism). */
  def latestByKey(
      df: DataFrame,
      keys: Seq[String],
      version: Column,
      tieBreak: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((version.desc +: tieBreak.map(_.desc)): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Reference-parity PARTIAL upsert (etl/load.py:45-54): the
    * reference's ON CONFLICT clause updates ONLY {timezone, temperature,
    * precipitation, wind_speed, fetch_id} and bumps `updated_at`; every
    * other payload column (soil temperature/moisture, wind direction,
    * cloud cover) KEEPS the first write's values, and `created_at` is
    * preserved from the first insert while `updated_at` moves
    * (etl/db.py:96-102, server_default vs onupdate). Replaying a write
    * log through whole-row [[latestByKey]] therefore diverges from the
    * reference on any conflicting refetch — this operator replays it
    * exactly: per key, `updateCols` take the NEWEST version's values,
    * `preserveCols` the OLDEST version's, `createdCol` = min(version),
    * `updatedCol` = max(version).
    *
    * Scale: ONE map-side-combined hash aggregate (max_by/min_by keyed
    * on the (version, tieBreak) struct — fixed per-key state), cheaper
    * than the window/TopK row_number form: no per-key row retention at
    * all. `version` + `tieBreak` must totally order each key's writes
    * for a deterministic result.
    *
    * `emitOrd = true` additionally emits the FULL (version, tieBreak)
    * ordering structs as [[ordCreatedCol]]/[[ordUpdatedCol]] — the
    * state a downstream [[partialMergeStates]] fold needs to stay
    * deterministic when `version` ALONE ties across batches (two
    * batches carrying the same key at the same version): the merge can
    * then compare the same total order the within-batch aggregate
    * used, instead of the version projection that drops the
    * tie-break. */
  def partialLatestByKey(
      df: DataFrame,
      keys: Seq[String],
      version: Column,
      tieBreak: Seq[Column],
      updateCols: Seq[String],
      preserveCols: Seq[String],
      createdCol: String = "created_at",
      updatedCol: String = "updated_at",
      emitOrd: Boolean = false): DataFrame = {
    val ord = struct(version +: tieBreak: _*)
    val aggs: Seq[Column] =
      updateCols.map(c => max_by(col(c), ord).as(c)) ++
        preserveCols.map(c => min_by(col(c), ord).as(c)) ++
        Seq(min(version).as(createdCol), max(version).as(updatedCol)) ++
        (if (emitOrd) Seq(min(ord).as(ordCreatedCol), max(ord).as(ordUpdatedCol))
         else Nil)
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** State columns carrying the full (version, tieBreak) ordering
    * structs through an incremental fold — see `emitOrd` on
    * [[partialLatestByKey]] and `useOrd` on [[partialMergeStates]].
    * Internal to the fold; drop them from the published result. */
  val ordCreatedCol = "__created_ord"
  val ordUpdatedCol = "__updated_ord"

  /** Merge two [[partialLatestByKey]] STATE tables (a batch's state is
    * `partialLatestByKey(batch)`): `updateCols` follow the side with
    * the larger `updatedCol`, `preserveCols` the side with the smaller
    * `createdCol`, created = least, updated = greatest. The merge is
    * commutative and associative, so batch-by-batch folding equals the
    * one-shot replay even when batches arrive OUT OF ORDER
    * (spec-proven) — the same mergeable-state algebra as
    * `rollup_incremental`. With `useOrd = false`, ties on
    * created/updated across sides must not occur for determinism (they
    * cannot when `version` totally orders each key's writes and a
    * write lands in exactly one batch); with `useOrd = true` the
    * states carry [[ordCreatedCol]]/[[ordUpdatedCol]] (built via
    * `partialLatestByKey(..., emitOrd = true)`) and the merge compares
    * THOSE — the full (version, tieBreak) total order — so a version
    * tie across batches (e.g. micro-truncated timestamps colliding)
    * still merges exactly like the one-shot replay. */
  def partialMergeStates(
      a: DataFrame,
      b: DataFrame,
      keys: Seq[String],
      updateCols: Seq[String],
      preserveCols: Seq[String],
      createdCol: String = "created_at",
      updatedCol: String = "updated_at",
      useOrd: Boolean = false): DataFrame = {
    val joined = a.as("a").join(b.as("b"), keys, "full_outer")
    def ac(c: String) = col("a." + c)
    def bc(c: String) = col("b." + c)
    // the comparison keys: the full ordering structs when carried,
    // else the version projection (created/updated)
    val (creKey, updKey) =
      if (useOrd) (ordCreatedCol, ordUpdatedCol) else (createdCol, updatedCol)
    // presence markers: created/updated are never null inside a state row
    val aAbsent = ac(updKey).isNull
    val bPresent = bc(updKey).isNotNull
    val takeBNew = aAbsent || (bPresent && bc(updKey) >= ac(updKey))
    val takeBFirst = aAbsent || (bPresent && bc(creKey) < ac(creKey))
    val sel: Seq[Column] = keys.map(col) ++
      updateCols.map(c => when(takeBNew, bc(c)).otherwise(ac(c)).as(c)) ++
      preserveCols.map(c => when(takeBFirst, bc(c)).otherwise(ac(c)).as(c)) ++
      Seq(least(ac(createdCol), bc(createdCol)).as(createdCol),
        greatest(ac(updatedCol), bc(updatedCol)).as(updatedCol)) ++
      (if (useOrd)
        Seq(least(ac(ordCreatedCol), bc(ordCreatedCol)).as(ordCreatedCol),
          greatest(ac(ordUpdatedCol), bc(ordUpdatedCol)).as(ordUpdatedCol))
       else Nil)
    joined.select(sel: _*)
  }

  /** Merge `incoming` into `existing`: incoming rows win on key collision
    * (the reference's DO UPDATE), existing rows survive otherwise.
    * Both sides must share a schema. `version` orders writes within the
    * union; incoming is stamped as strictly newer via `__src`. */
  def mergeByKey(
      existing: DataFrame,
      incoming: DataFrame,
      keys: Seq[String],
      version: Column): DataFrame = {
    val cols = existing.columns.toSeq
    val unioned = existing.select(cols.map(col): _*).withColumn("__src", lit(0))
      .unionByName(incoming.select(cols.map(col): _*).withColumn("__src", lit(1)))
    latestByKey(unioned, keys, col("__src"), Seq(version)).drop("__src")
  }

  /** Partition-bounded MERGE into a `partitionCol`-partitioned parquet
    * table at `root`: only the partition directories PRESENT IN THE
    * BATCH are read and only those are rewritten (dynamic partition
    * overwrite). A 100 TB silver table absorbs a daily batch at the cost
    * of the touched days, not a full-table rewrite — the claim SURVEY §4
    * makes, as code.
    *
    * Into an existing table, `incoming` is persisted and evaluated once.
    * One single-stage action materializes the cache and returns the
    * batch's distinct partition values, cast to string under the session
    * time zone as the writer casts them (de-duplicated per task, then on
    * the driver). Each value names its directory through the writer's own
    * path formatting (`ExternalCatalogUtils.getPartitionPathString`; a
    * null value names `__HIVE_DEFAULT_PARTITION__`, so a batch's null
    * partition merges with the table's). Only those directories that
    * exist are read, with `incoming`'s schema: file listing is
    * O(touched days), untouched days are never listed, and no footer is
    * opened to infer a schema ([[mergeByKey]] requires both sides to
    * share one anyway). The merge write reads the cache, and the cache
    * is released before returning, also on failure. So the source scan
    * and parse of `incoming` — for the stream lane, the bronze JSON — run
    * in one Spark job, and the whole merge is that job plus the write's
    * two. First write (no table at `root`) is one action and lays the
    * table out partitioned.
    */
  def mergePartitioned(
      spark: org.apache.spark.sql.SparkSession,
      root: String,
      incoming: DataFrame,
      keys: Seq[String],
      version: Column,
      partitionCol: String): Unit = {
    // per-write option, NOT the session conf: mutating the global conf
    // races with concurrent writers on a shared session (e.g. two
    // streaming foreachBatch sinks), which could run a full-table static
    // overwrite and clobber untouched partitions
    def write(resolved: DataFrame): Unit =
      resolved.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partitionCol)
        .parquet(root)
    // resolve the filesystem FROM the table path (the cluster-default FS
    // may be a different scheme than the lake)
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) write(latestByKey(incoming, keys, version))
    else {
      val cached = incoming.persist()
      try {
        val dirs = cached.select(col(partitionCol).cast("string"))
          .as(Encoders.STRING)
          .mapPartitions(_.toSet.iterator)(Encoders.STRING)
          .collect().toSeq
          .map(v => new Path(rootPath,
            ExternalCatalogUtils.getPartitionPathString(partitionCol, v)))
          .distinct.filter(fs.exists)
        val existing =
          if (dirs.isEmpty) cached.limit(0)
          else spark.read.schema(cached.schema).option("basePath", root)
            .parquet(dirs.map(_.toString): _*)
        write(mergeByKey(existing, cached, keys, version))
      } finally cached.unpersist()
    }
  }

  /** Thin JDBC upsert sink — the LITERAL parity path for the
    * reference's Postgres load step (etl/load.py:21-58: batched
    * `INSERT ... ON CONFLICT (keys) DO UPDATE SET <updateCols> =
    * EXCLUDED.<c>`). The lake-native operators above are the engine's
    * real storage layer; this closes the last storage-surface gap for
    * deployments that still land a serving copy in an RDBMS.
    *
    * Dialects: `"postgres"` emits batched ON CONFLICT (the reference's
    * exact statement shape); `"generic"` is the portable
    * UPDATE-then-INSERT-if-absent pair (any JDBC database — Derby
    * rejects non-base-table MERGE sources, so standard MERGE is not
    * actually portable). The spec exercises the generic path END TO
    * END against embedded Derby (already on the Spark classpath), so
    * the sink is TESTED in-sandbox, not opt-in-skipped; a live
    * Postgres run needs only the driver jar + url.
    *
    * Executor-side contract: one connection + one prepared statement
    * per partition, `batchSize`-row JDBC batches, one commit per
    * partition (etl/load.py commits per chunk; per-partition commit is
    * the Spark-idiomatic equivalent — a retried task re-upserts its
    * whole partition, which upsert semantics make IDEMPOTENT, the same
    * at-least-once story as the reference's retry loop). The incoming
    * frame must already be one-row-per-key ([[latestByKey]] /
    * [[partialLatestByKey]]) — like the reference, the LAST write wins
    * only across statements, so duplicate keys inside one batch would
    * be order-dependent. Column names pass through `quote` (double
    * quotes) to survive mixed case.
    */
  /** The statements [[jdbcUpsert]] sends, exposed so the spec can
    * assert the `postgres` dialect's exact ON CONFLICT shape (which no
    * in-sandbox database executes) textually. `kind`: "postgres" (the
    * reference's upsert statement), "update"/"insert" (the generic
    * dialect's pair). */
  private[graft] def upsertSqlFor(kind: String, table: String,
      cols: Seq[String], keys: Seq[String],
      updateCols: Seq[String]): String = {
    def q(c: String) = "\"" + c + "\""
    val colList = cols.map(q).mkString(", ")
    val placeholders = cols.map(_ => "?").mkString(", ")
    kind match {
      case "insert" =>
        s"INSERT INTO $table ($colList) VALUES ($placeholders)"
      case "postgres" =>
        s"INSERT INTO $table ($colList) VALUES ($placeholders) " +
          s"ON CONFLICT (${keys.map(q).mkString(", ")}) DO UPDATE " +
          s"SET ${updateCols.map(c => s"${q(c)} = EXCLUDED.${q(c)}").mkString(", ")}"
      case "update" =>
        s"UPDATE $table SET " +
          updateCols.map(c => s"${q(c)} = ?").mkString(", ") +
          " WHERE " + keys.map(k => s"${q(k)} = ?").mkString(" AND ")
    }
  }

  def jdbcUpsert(df: DataFrame, url: String, table: String,
      keys: Seq[String], updateCols: Seq[String],
      dialect: String = "postgres", batchSize: Int = 500,
      connProps: Map[String, String] = Map.empty): Unit = {
    require(keys.nonEmpty, "upsert needs key columns")
    require(updateCols.nonEmpty, "upsert needs update columns")
    val cols = df.columns.toSeq
    require(keys.forall(cols.contains) && updateCols.forall(cols.contains),
      "keys/updateCols must exist in the frame")
    require(dialect == "postgres" || dialect == "generic",
      s"unknown dialect: $dialect")
    val nCols = cols.length
    val keyIdx = keys.map(cols.indexOf)
    val updIdx = updateCols.map(cols.indexOf)
    val insertSql = upsertSqlFor("insert", table, cols, keys, updateCols)
    val upsertSql = upsertSqlFor("postgres", table, cols, keys, updateCols)
    val updateSql = upsertSqlFor("update", table, cols, keys, updateCols)
    val pg = dialect == "postgres"
    val props = connProps
    // JDBC type per column, derived from the frame's schema (advisor
    // r11): a null bound with untyped setObject(i, null) is rejected by
    // several drivers (Derby included, in some type contexts) with
    // "cannot infer type" — nullable measure columns are routine in the
    // reference's load path, so nulls go through setNull(i, sqlType).
    val sqlTypes: Array[Int] = df.schema.fields.map { f =>
      import org.apache.spark.sql.types._
      f.dataType match {
        case ByteType => java.sql.Types.TINYINT
        case ShortType => java.sql.Types.SMALLINT
        case IntegerType => java.sql.Types.INTEGER
        case LongType => java.sql.Types.BIGINT
        case FloatType => java.sql.Types.REAL
        case DoubleType => java.sql.Types.DOUBLE
        case _: DecimalType => java.sql.Types.DECIMAL
        case BooleanType => java.sql.Types.BOOLEAN
        case StringType => java.sql.Types.VARCHAR
        case BinaryType => java.sql.Types.BINARY
        case DateType => java.sql.Types.DATE
        case TimestampType => java.sql.Types.TIMESTAMP
        case _ => java.sql.Types.OTHER
      }
    }
    df.foreachPartition {
      (rows: Iterator[org.apache.spark.sql.Row]) =>
        if (rows.nonEmpty) {
          def bind(st: java.sql.PreparedStatement, param: Int,
              r: org.apache.spark.sql.Row, ci: Int): Unit = {
            val v = r.get(ci)
            if (v == null) st.setNull(param, sqlTypes(ci))
            else st.setObject(param, v)
          }
          val p = new java.util.Properties()
          props.foreach { case (k, v) => p.setProperty(k, v) }
          val conn = java.sql.DriverManager.getConnection(url, p)
          try {
            conn.setAutoCommit(false)
            if (pg) {
              // one batched ON CONFLICT statement — the reference's shape
              val st = conn.prepareStatement(upsertSql)
              try {
                var pending = 0
                rows.foreach { r =>
                  var i = 0
                  while (i < nCols) { bind(st, i + 1, r, i); i += 1 }
                  st.addBatch()
                  pending += 1
                  if (pending >= batchSize) { st.executeBatch(); pending = 0 }
                }
                if (pending > 0) st.executeBatch()
                conn.commit()
              } finally st.close()
            } else {
              // Portable pair, BATCHED (advisor r11 — the old loop was
              // one UPDATE round trip per row): `batchSize` UPDATEs go
              // out per executeBatch, the returned update counts name
              // the keys that matched nothing, and those rows flush as
              // one INSERT batch. A driver answering SUCCESS_NO_INFO
              // falls back to a single re-run UPDATE for that row (the
              // count is the insert-or-not decision, so "unknown" must
              // be resolved, not guessed).
              // Safe without a uniqueness race because the frame is
              // one-row-per-key and a key hashes to exactly one
              // partition writer within this job — PROVIDED only one
              // attempt of this task runs: a SPECULATIVE duplicate
              // attempt can interleave update-miss/insert with the
              // original and double-insert a key unless the target
              // table carries a unique key constraint (which turns the
              // race into a constraint error + task retry, i.e.
              // at-least-once as usual). Deployments without the
              // constraint must disable spark.speculation for the
              // write job; the postgres dialect has no such window (ON
              // CONFLICT is atomic per statement).
              val up = conn.prepareStatement(updateSql)
              val ins = conn.prepareStatement(insertSql)
              try {
                val buf = scala.collection.mutable.ArrayBuffer
                  .empty[org.apache.spark.sql.Row]
                def bindUpdate(r: org.apache.spark.sql.Row): Unit = {
                  updIdx.zipWithIndex.foreach { case (ci, pi) =>
                    bind(up, pi + 1, r, ci) }
                  keyIdx.zipWithIndex.foreach { case (ci, pi) =>
                    bind(up, updIdx.length + pi + 1, r, ci) }
                }
                def flush(): Unit = if (buf.nonEmpty) {
                  val counts = up.executeBatch()
                  var j = 0
                  var pendingIns = false
                  while (j < buf.length) {
                    val missed = counts(j) match {
                      case 0 => true
                      case java.sql.Statement.SUCCESS_NO_INFO =>
                        bindUpdate(buf(j)); up.executeUpdate() == 0
                      case _ => false
                    }
                    if (missed) {
                      var i = 0
                      while (i < nCols) { bind(ins, i + 1, buf(j), i); i += 1 }
                      ins.addBatch()
                      pendingIns = true
                    }
                    j += 1
                  }
                  if (pendingIns) ins.executeBatch()
                  buf.clear()
                }
                rows.foreach { r =>
                  bindUpdate(r)
                  up.addBatch()
                  buf += r
                  if (buf.length >= batchSize) flush()
                }
                flush()
                conn.commit()
              } finally { up.close(); ins.close() }
            }
          } catch {
            case e: Throwable =>
              try conn.rollback() catch { case _: Throwable => () }
              throw e
          } finally conn.close()
        }
    }
  }
}
