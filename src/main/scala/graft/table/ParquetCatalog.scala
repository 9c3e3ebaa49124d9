package graft.table

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's RDB surface (create/drop/list/insert/select/distinct/
  * delete — `/root/reference/backend/process/postgres.py`,
  * `backend/process/maria.py`) re-expressed as a parquet-backed catalog:
  * one directory per table under `baseDir`.
  *
  * Scale notes: selects are lazy DataFrames, so Catalyst pushes filters
  * and projections into the parquet scan (the reference always
  * `SELECT *`s and filters client-side). DELETE is an anti-join plus an
  * atomic directory swap — full-partition rewrite, the documented
  * trade-off vs a Delta-style log at 100 TB (SURVEY.md §7.4 risk 4).
  */
final case class ParquetCatalog(spark: SparkSession, baseDir: String,
    store: CommitStore = LocalCommitStore) {

  private def dir(name: String) = s"$baseDir/$name"
  private def validate(name: String): Unit =
    require(name.matches("[A-Za-z0-9_]+"), s"bad table name: $name")

  /** D1 — CREATE TABLE IF NOT EXISTS from a runtime schema (the reference
    * takes a List[{name,type}] column config, `postgres.py:95-145`). */
  def createTable(name: String, schema: StructType): Unit = {
    validate(name)
    if (!tableExists(name))
      LocalFs.write(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
        .parquet(dir(name))
  }

  /** D2 — DROP TABLE IF EXISTS. */
  def dropTable(name: String): Unit = {
    validate(name)
    val p = Paths.get(dir(name))
    if (Files.exists(p)) store.deleteRecursive(p)
  }

  /** D3/D6 — list tables, sorted (reference ORDER BY table_name).
    * Heals interrupted swaps first and hides staging dirs (`__tmp_*`
    * from a crashed rewrite — invisible, vacuumable orphans), so a
    * crash never surfaces phantom tables. */
  def listTables(): Seq[String] = {
    val base = Paths.get(baseDir)
    if (!Files.exists(base)) Seq.empty
    else {
      store.healSwapsUnder(base)
      val s = Files.list(base)
      try s.iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
        .asScala.filter(Files.isDirectory(_))
        .map(_.getFileName.toString)
        // hide crashed staging, trash twins, and the manifest store's
        // dot-prefixed protocol dirs
        .filterNot(n => n.contains("__tmp_") || n.endsWith("__old") ||
          n.startsWith("."))
        .toSeq.sorted
      finally s.close()
    }
  }
  private implicit class IterOps[T](it: java.util.Iterator[T]) {
    def asScala: Iterator[T] = new Iterator[T] {
      def hasNext = it.hasNext; def next() = it.next()
    }
  }

  /** D5 — existence check. */
  def tableExists(name: String): Boolean = Files.exists(Paths.get(dir(name)))

  /** S6 sink — append rows (the reference's batch insert; parquet files
    * are the commit unit, mirroring per-chunk commit isolation). */
  def insert(name: String, df: DataFrame): Unit = {
    validate(name)
    LocalFs.write(df).mode(SaveMode.Append).parquet(dir(name))
  }

  /** S7 — CSV ingest: header row, nulls → "" on string columns
    * (reference `pd.read_csv(...).fillna('')`, `postgres.py:148-224`). */
  def insertFromCsv(name: String, csvPath: String): Long = {
    val df = spark.read.option("header", "true").csv(csvPath).na.fill("")
    insert(name, df)
    df.count()
  }

  /** Lazy full-table frame — filters/projections compose and push down.
    * Self-heals an interrupted delete/upsert/compact swap on access. */
  def table(name: String): DataFrame = {
    store.healSwap(Paths.get(dir(name)))
    spark.read.parquet(dir(name))
  }

  /** O1 — SELECT * ORDER BY col LIMIT n (defaults id/10, reference
    * `postgres.py:292-319`). Plans as TakeOrderedAndProject. */
  def select(name: String, orderBy: String = "id",
      limit: Option[Int] = Some(10)): DataFrame = {
    val sorted = table(name).orderBy(col(orderBy))
    limit.map(sorted.limit).getOrElse(sorted)
  }

  /** S9/P1 — key lookup; the filter reaches the parquet scan. */
  def selectByKey(name: String, keyCol: String, value: String): DataFrame =
    table(name).filter(col(keyCol) === lit(value))

  /** A1 — distinct values of one projected column (reference does this
    * client-side over a full fetch, `postgres.py:343-363`). */
  def distinctValues(name: String, column: String): DataFrame =
    table(name).select(column).distinct()

  /** D4 — DELETE WHERE idCol IN ids. Anti-join rewrite + atomic swap;
    * returns deleted-row count (reference returns cursor rowcount).
    * Row counts come from `observe` metrics collected DURING the single
    * rewrite pass — no extra table scans (a mutation used to cost three
    * full passes: count, write, count-back). */
  def deleteByIds(name: String, idCol: String, ids: Seq[Any]): Long = {
    validate(name)
    val all  = org.apache.spark.sql.Observation()
    val kept = org.apache.spark.sql.Observation()
    val rewritten = table(name)
      .observe(all, count(lit(1)).as("n"))
      .filter(!col(idCol).isInCollection(ids))
      .observe(kept, count(lit(1)).as("n"))
    val tmp = dir(name) + "__tmp_delete"
    LocalFs.write(rewritten).mode(SaveMode.Overwrite).parquet(tmp)
    swapIn(tmp, dir(name))
    metric(all) - metric(kept)
  }

  /** MERGE/upsert by key: incoming rows replace same-key rows, new keys
    * append. Anti-join rewrite + atomic swap like [[deleteByIds]] — at
    * 100 TB the same statement targets a transaction-log table format,
    * but the join shape (existing ANTI incoming, then union) is
    * identical. Returns (updated, inserted) counts, again from observe
    * metrics of the one rewrite pass. */
  def upsert(name: String, idCol: String, incoming: DataFrame)
      : (Long, Long) = {
    validate(name)
    val beforeObs = org.apache.spark.sql.Observation()
    val keptObs   = org.apache.spark.sql.Observation()
    val inObs     = org.apache.spark.sql.Observation()
    val existing  = table(name).observe(beforeObs, count(lit(1)).as("n"))
    val kept      = existing
      .join(incoming.select(idCol), Seq(idCol), "left_anti")
      .observe(keptObs, count(lit(1)).as("n"))
    val merged    = kept.unionByName(
      incoming.observe(inObs, count(lit(1)).as("n")))
    val tmp = dir(name) + "__tmp_upsert"
    LocalFs.write(merged).mode(SaveMode.Overwrite).parquet(tmp)
    swapIn(tmp, dir(name))
    val updated = metric(beforeObs) - metric(keptObs)
    (updated, metric(inObs) - updated)
  }

  /** Maintenance — compact a table's small files into
    * `ceil(bytes / targetFileBytes)` files (the OPTIMIZE of log-based
    * table formats; here a rewrite + atomic swap). Streaming appends and
    * incremental inserts accrete small files whose per-file open/footer
    * cost eventually dominates scans; compaction restores the scan to
    * full-bandwidth sequential reads. Returns (filesBefore, filesAfter).
    */
  def compact(name: String, targetFileBytes: Long = 128L << 20)
      : (Long, Long) = {
    validate(name)
    val p = Paths.get(dir(name))
    def parquetFiles: Seq[java.nio.file.Path] = {
      // under the manifest store the live dir is a symlink; walk the
      // real dir (walk never descends through a symlinked start)
      val s = Files.walk(p.toRealPath())
      try s.iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
        .asScala.filter(_.toString.endsWith(".parquet")).toSeq
      finally s.close()
    }
    val before = parquetFiles
    val bytes  = before.map(Files.size).sum
    val nOut   = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
    val tmp    = dir(name) + "__tmp_compact"
    LocalFs.write(table(name).repartition(nOut.toInt))
      .mode(SaveMode.Overwrite).parquet(tmp)
    swapIn(tmp, dir(name))
    (before.length.toLong, parquetFiles.length.toLong)
  }

  /** A pass that produces zero rows may report no metric at all — an
    * empty input table is a count of 0, not an error. */
  private def metric(o: org.apache.spark.sql.Observation): Long =
    o.get.getOrElse("n", 0L).asInstanceOf[Long]

  private def swapIn(tmp: String, target: String): Unit = {
    // through the injected CommitStore commit primitive (trash-rename
    // under the local store; manifest commit under the object store)
    store.swapDir(Paths.get(tmp), Paths.get(target))
    // drop the session-shared file-listing cache for the rewritten dir,
    // or later reads resolve to the deleted files
    spark.catalog.refreshByPath(target)
  }
}
