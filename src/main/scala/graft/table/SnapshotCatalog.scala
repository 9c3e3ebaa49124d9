package graft.table

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned tables with snapshot isolation and time travel — the
  * capability the reference's delete/replace flows approximate by
  * re-uploading (`/root/reference/backend/process/postgres.py:196-210`
  * rolls back a failed batch; here every write IS a recoverable version).
  *
  * Layout: `baseDir/<table>/v=N/` immutable version directories plus a
  * `_CURRENT` pointer file. A write lands in a NEW directory and then
  * atomically moves the pointer — readers that resolved the old pointer
  * keep reading intact files (the rewrite-and-swap in [[ParquetCatalog]]
  * deletes data a concurrent reader may still hold). Rollback is a
  * pointer move — O(1) regardless of table size, the property that makes
  * this the 100 TB shape (a log-based table format is this plus a
  * manifest per version; versions here are directory-granular).
  */
final case class SnapshotCatalog(spark: SparkSession, baseDir: String,
    store: CommitStore = LocalCommitStore) {

  private def tdir(name: String): Path = {
    require(name.matches("[A-Za-z0-9_]+"), s"bad table name: $name")
    Paths.get(baseDir, name)
  }
  private def vdir(name: String, v: Long): Path =
    tdir(name).resolve(s"v=$v")
  private def pointer(name: String): Path = tdir(name).resolve("_CURRENT")

  /** Committed version numbers, ascending (uncommitted/garbage dirs are
    * invisible — only the pointer makes a version real... but listed
    * versions are readable snapshots regardless). */
  def versions(name: String): Seq[Long] = {
    val t = tdir(name)
    if (!Files.exists(t)) Seq.empty
    else {
      val s = Files.list(t)
      try {
        val it = s.iterator()
        val buf = Seq.newBuilder[Long]
        while (it.hasNext) {
          val p = it.next().getFileName.toString
          if (p.startsWith("v=")) buf += p.stripPrefix("v=").toLong
        }
        buf.result().sorted
      } finally s.close()
    }
  }

  /** Current committed version, if any. */
  def currentVersion(name: String): Option[Long] =
    store.readPointer(pointer(name)).map(_.trim.toLong)

  /** Commit `df` as the next version and move the pointer. Returns the
    * new version number. The data write happens entirely before the
    * pointer move, so a crash mid-write leaves the table at the old
    * version with an orphan directory (cleaned by [[vacuum]]) — never a
    * torn table. */
  def write(name: String, df: DataFrame): Long = {
    val next = versions(name).lastOption.getOrElse(0L) + 1L
    LocalFs.write(df).parquet(vdir(name, next).toString)
    commitPointer(name, next)
    next
  }

  /** Optimistic-concurrency commit (the Delta/Iceberg CAS): stage the
    * data OUTSIDE the critical section (the expensive part — at 100 TB
    * staging is minutes, the pointer move is one conditional put), then
    * commit ONLY IF the table is still at `expectedVersion`. Returns
    * the committed version, or None on conflict (a concurrent writer
    * got there first) — the staged data is cleaned and the caller
    * rebases on the new current and retries ([[transform]] is that
    * loop). The check-and-move window is serialized by a conditional
    * CREATE of a lock file — `Files.createFile` locally, an
    * If-None-Match put on an object store. A writer crashing inside
    * that sub-second window leaves the lock behind; [[breakLock]] is
    * the operator override. */
  def writeIf(name: String, df: DataFrame,
      expectedVersion: Option[Long]): Option[Long] = {
    val t = tdir(name)
    Files.createDirectories(t)
    val staged = t.resolve(".stage-" + java.util.UUID.randomUUID())
    LocalFs.write(df).parquet(staged.toString)
    val lock = t.resolve("_COMMIT_LOCK")
    val acquired =
      try { Files.createFile(lock); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    if (!acquired) { store.deleteRecursive(staged); None }
    else try {
      if (currentVersion(name) != expectedVersion) {
        store.deleteRecursive(staged); None
      } else {
        val next = versions(name).lastOption.getOrElse(0L) + 1L
        store.swapDir(staged, vdir(name, next))
        commitPointer(name, next)
        Some(next)
      }
    } finally Files.deleteIfExists(lock)
  }

  /** OPTIMIZE (bin-packing compaction): rewrite the current snapshot
    * into `targetFiles` right-sized files and commit it as a new
    * version — the small-files cure every log-structured table needs
    * after streaming/merge writes (thousands of KB-files turn every
    * scan into an open()-storm; at 100 TB you target ~512 MB files and
    * run this per partition). Content is IDENTICAL (the CAS commit
    * loses to any concurrent writer rather than dropping its rows);
    * readers flip atomically with the pointer; the old version stays
    * for time travel until [[vacuum]]. Returns the committed version,
    * or None if a concurrent writer won the race (compaction is
    * OPTIONAL work — retrying is the caller's call, unlike
    * [[transform]]'s data-bearing commits). */
  def compact(name: String, targetFiles: Int): Option[Long] = {
    require(targetFiles >= 1, "need targetFiles >= 1")
    val v = currentVersion(name)
    val cur = v.map(readAt(name, _)).getOrElse(
      sys.error(s"no committed version for table $name"))
    writeIf(name, cur.repartition(targetFiles), v)
  }

  /** Read-modify-write with optimistic retry: apply `f` to the current
    * snapshot and CAS-commit the result; on conflict, re-read the NEW
    * current (f sees the concurrent writer's rows — serializable
    * behavior for commutative transforms) and retry up to `maxRetries`
    * times. Throws when retries are exhausted. */
  def transform(name: String, maxRetries: Int = 5)
      (f: DataFrame => DataFrame): Long = {
    var attempt = 0
    while (attempt <= maxRetries) {
      val v = currentVersion(name)
      val base = v.map(readAt(name, _)).getOrElse(
        sys.error(s"no committed version for table $name"))
      writeIf(name, f(base), v) match {
        case Some(committed) => return committed
        case None => attempt += 1
      }
    }
    sys.error(s"transform of $name lost $maxRetries CAS races — " +
      "contention too high for optimistic concurrency")
  }

  /** Remove a lock abandoned by a writer that died inside the
    * check-and-move window (sub-second; this is the operator's manual
    * override, deliberately not automatic — a healthy writer may hold
    * it). */
  def breakLock(name: String): Boolean =
    Files.deleteIfExists(tdir(name).resolve("_COMMIT_LOCK"))

  /** Read the current snapshot (lazy frame — pushdown applies). */
  def read(name: String): DataFrame =
    readAt(name, currentVersion(name).getOrElse(
      sys.error(s"no committed version for table $name")))

  /** Time travel: read an immutable historical snapshot. */
  def readAt(name: String, version: Long): DataFrame = {
    val d = vdir(name, version)
    require(Files.exists(d), s"version $version of $name does not exist")
    spark.read.parquet(d.toString)
  }

  /** Idempotent tagged commit — the exactly-once primitive: if a version
    * carrying `tag` already exists (a replayed streaming micro-batch, a
    * retried job), NO data is rewritten; the pointer is just re-pointed
    * at it. Otherwise commits `df` as a new version and records the tag
    * INSIDE the version directory before the pointer moves, so a crash
    * between data-write and pointer-move is healed by the replay instead
    * of double-writing. Spark ignores the underscore-prefixed tag file
    * when reading the directory. */
  def commitTagged(name: String, df: DataFrame, tag: String): Long =
    taggedVersion(name, tag) match {
      case Some(v) =>
        commitPointer(name, v); v
      case None =>
        val next = versions(name).lastOption.getOrElse(0L) + 1L
        LocalFs.write(df).parquet(vdir(name, next).toString)
        Files.write(vdir(name, next).resolve("_TAG"),
          tag.getBytes(StandardCharsets.UTF_8))
        commitPointer(name, next)
        next
    }

  /** The version committed under `tag`, if any. */
  def taggedVersion(name: String, tag: String): Option[Long] =
    versions(name).find { v =>
      val t = vdir(name, v).resolve("_TAG")
      Files.exists(t) &&
        new String(Files.readAllBytes(t), StandardCharsets.UTF_8) == tag
    }

  /** Change-data capture between two snapshots: keyed rows classified as
    * `inserted` / `deleted` / `updated` (key present in both, any other
    * column changed). Two anti-joins plus one filtered inner join — no
    * full-row sort, no window; at 100 TB each side is one scan. Returns
    * (change, key columns..., ...new-side columns for inserts/updates,
    * old-side for deletes). */
  def diff(name: String, fromVersion: Long, toVersion: Long,
      keyCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val a = readAt(name, fromVersion)
    val b = readAt(name, toVersion)
    val nonKey = b.columns.filterNot(_ == keyCol).toSeq
    val inserted = b.join(a.select(keyCol), Seq(keyCol), "left_anti")
      .withColumn("change", lit("inserted"))
    val deleted = a.join(b.select(keyCol), Seq(keyCol), "left_anti")
      .withColumn("change", lit("deleted"))
    val updated = b.as("n").join(a.as("o"), Seq(keyCol))
      .filter(nonKey.map(c => !(col(s"n.$c") <=> col(s"o.$c")))
        .reduceOption(_ || _).getOrElse(lit(false)))
      .select((col(keyCol) +: nonKey.map(c => col(s"n.$c").as(c))): _*)
      .withColumn("change", lit("updated"))
    inserted.unionByName(deleted).unionByName(updated)
  }

  /** MERGE INTO (the lakehouse upsert): apply a keyed batch to the
    * current snapshot and commit the result as a new version —
    * WHEN MATCHED (and not flagged deleted) the batch row REPLACES the
    * table row (last-writer-wins), WHEN NOT MATCHED it inserts, and
    * batch rows whose `deleteCol` is true are tombstones that remove
    * the key. Duplicate keys in one batch are rejected up front (the
    * SCD2 batch-hygiene rule; silent multi-match is the classic MERGE
    * footgun).
    *
    * Plan shape: ONE full-outer join on the key — no window, no
    * per-row lookups; at 100 TB the real cost is rewriting untouched
    * rows, which a production format avoids by file-level copy-on-write
    * (only files containing matched keys rewrite — the
    * [[graft.index.SearchIndex]] bucket-swap shape applied to data
    * files; version-directory granularity here keeps the semantics
    * identical). Returns the committed version. */
  def mergeUpsert(name: String, batch: DataFrame, keyCol: String,
      deleteCol: Option[String] = None,
      evolveSchema: Boolean = false): Long = {
    import org.apache.spark.sql.functions._
    requireUniqueKeysHere(batch, keyCol)
    val cur = read(name)
    val curCols = cur.columns.filterNot(_ == keyCol).toSeq
    val batchCols = batch.columns
      .filterNot(c => c == keyCol || deleteCol.contains(c)).toSeq
    // Schema evolution (the lakehouse ADD COLUMN path): batch-only
    // columns append to the table (pre-existing rows read NULL), and
    // table columns the batch omits KEEP their current value on matched
    // rows — the batch can't overwrite what it doesn't carry. Without
    // the flag, a drifted batch schema is an analysis error, not a
    // silent evolution.
    if (!evolveSchema) {
      val missing = curCols.filterNot(batchCols.contains)
      val extra   = batchCols.filterNot(curCols.contains)
      require(missing.isEmpty && extra.isEmpty,
        s"merge batch schema drifted (missing=$missing, new=$extra) — " +
          "pass evolveSchema=true to evolve instead of erroring")
    }
    val dataCols =
      if (evolveSchema) curCols ++ batchCols.filterNot(curCols.contains)
      else curCols
    // __del doubles as the batch-presence marker after the full outer
    // join (isNotNull ⇔ a batch row matched), so it must be non-null
    // for EVERY batch row: a NULL delete flag means "not a tombstone",
    // not "pretend the batch row isn't there" (which would silently
    // keep old values on matched keys and insert all-null data rows on
    // unmatched ones).
    val b = deleteCol match {
      case Some(d) => batch.withColumn("__del",
        coalesce(col(d).cast("boolean"), lit(false))).drop(d)
      case None => batch.withColumn("__del", lit(false))
    }
    val merged = cur.as("t").join(b.as("s"), Seq(keyCol), "full_outer")
      .filter(col("s.__del").isNull || !col("s.__del"))
      .select(col(keyCol) +: dataCols.map { c =>
        val inBatch = batchCols.contains(c)
        val inCur   = curCols.contains(c)
        if (inBatch && inCur)
          when(col("s.__del").isNotNull, col(s"s.$c"))
            .otherwise(col(s"t.$c")).as(c)
        else if (inBatch) col(s"s.$c").as(c) // new column: NULL on old rows
        else col(s"t.$c").as(c) // batch omits it: matched rows keep value
      }: _*)
    write(name, merged)
  }

  private def requireUniqueKeysHere(batch: DataFrame,
      keyCol: String): Unit = {
    import org.apache.spark.sql.functions._
    val dups = batch.groupBy(col(keyCol)).count()
      .filter(col("count") > 1).limit(1).count()
    require(dups == 0,
      s"merge batch has duplicate keys on $keyCol — deduplicate first")
  }

  /** Roll the table back to `version` — a pointer move, no data motion.
    * The abandoned newer versions stay readable until [[vacuum]]. */
  def rollback(name: String, version: Long): Unit = {
    require(Files.exists(vdir(name, version)),
      s"cannot rollback $name to missing version $version")
    commitPointer(name, version)
  }

  /** Drop all versions except the newest `keep` and the current pointer
    * target (time-travel retention). Returns dropped version numbers. */
  def vacuum(name: String, keep: Int = 1): Seq[Long] = {
    val all  = versions(name)
    val cur  = currentVersion(name)
    val drop = all.dropRight(keep).filterNot(cur.contains)
    drop.foreach(v => store.deleteRecursive(vdir(name, v)))
    // also sweep `.stage-*` dirs orphaned by writers that died before
    // their CAS window (vacuum's existing contract: no concurrent
    // writers while it runs)
    val t = tdir(name)
    if (Files.exists(t)) {
      val s = Files.list(t)
      try {
        val it = s.iterator()
        while (it.hasNext) {
          val p = it.next()
          if (p.getFileName.toString.startsWith(".stage-"))
            store.deleteRecursive(p)
        }
      } finally s.close()
    }
    drop
  }

  /** Pointer update through the [[CommitStore]] commit primitive —
    * readers see either the old or the new version, never a partial
    * write. (Local store: atomic rename; object store: conditional
    * put.) */
  private def commitPointer(name: String, v: Long): Unit =
    store.putPointer(pointer(name), v.toString)
}
