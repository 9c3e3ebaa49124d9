package graft.index

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.table.{CommitStore, LocalFs}

/** The storage discipline shared by every persisted index: the versioned
  * unit of the vector indexes and the staged table/bucket swaps that
  * every in-place mutation goes through.
  *
  * Every rewrite is staged (a fresh version dir or `<dir>__tmp`) and
  * made visible by one [[CommitStore]] primitive, a pointer flip or a
  * directory swap, so a crash mid-write leaves the live data serving
  * and the half-written stage an invisible orphan. Appends only add
  * files.
  */
private[index] object IndexDirs {

  /** A family of tables that must only ever be read together (vectors
    * with the centroids or codebooks they were encoded against). They
    * live in a VERSIONED directory (`v00000/`, `v00001/`, …) under the
    * index dir, and the live version is named by a single `CURRENT`
    * pointer file flipped atomically via [[CommitStore.putPointer]].
    *
    * `label` names the family in the missing-index error; `caches` are
    * its driver-side metadata caches, keyed by version dir. */
  final case class Versioned(label: String, tables: Seq[String],
      caches: Seq[java.util.Map[String, _]]) {

    private def pointer(indexDir: String) = Paths.get(indexDir, "CURRENT")

    /** The live version's directory (every table of the unit lives
      * under it). */
    def currentDir(indexDir: String, store: CommitStore): String = {
      val v = store.readPointer(pointer(indexDir)).getOrElse(
        throw new IllegalStateException(
          s"no $label index at $indexDir (missing CURRENT pointer)"))
      s"$indexDir/$v"
    }

    private def nextVersion(indexDir: String, store: CommitStore): String = {
      val n = store.readPointer(pointer(indexDir))
        .map(_.stripPrefix("v").toInt + 1).getOrElse(0)
      f"v$n%05d"
    }

    /** Stage every table under a fresh version dir, then flip the
      * pointer (the ONE atomic publish). The superseded version is NOT
      * deleted here: an in-flight query (or another session's memoized
      * plan) may still be resolving file paths under it, and an
      * immediate delete would kill it mid-scan with
      * FileNotFoundException. Instead [[vacuum]] runs with `keep = 1` —
      * the previous version survives one full publish cycle (the
      * Iceberg/Delta shape: vacuum is separate from commit), so storage
      * is bounded at ≤2 versions while readers get a grace window of an
      * entire publish interval. The metadata caches drop every entry
      * under `indexDir`. */
    def publish(spark: SparkSession, indexDir: String, store: CommitStore)
        (stage: String => Unit): Unit = {
      val v = nextVersion(indexDir, store)
      stage(s"$indexDir/$v")
      store.putPointer(pointer(indexDir), v)
      caches.foreach(_.keySet.removeIf(_.startsWith(indexDir + "/")))
      vacuum(spark, indexDir, keep = 1, store)
    }

    /** Delete unreachable versions, RETAINING the pointer target plus
      * the `keep` newest superseded versions (grace window for in-flight
      * readers). Returns the deleted version names. A crash mid-vacuum
      * leaves inspectable garbage, never serving state. */
    def vacuum(spark: SparkSession, indexDir: String, keep: Int,
        store: CommitStore): Seq[String] = {
      val current = store.readPointer(pointer(indexDir)).getOrElse(return Nil)
      val versions = children(Paths.get(indexDir)).map(_.getFileName.toString)
        .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit) &&
          n != current)
      val victims = versions.sorted.dropRight(math.max(0, keep))
      victims.foreach { old =>
        tables.foreach(t => graft.Tables.invalidate(spark, s"$indexDir/$old/$t"))
        store.deleteRecursive(Paths.get(s"$indexDir/$old"))
      }
      victims
    }
  }

  /** Write `df` to the parquet table at `dir` (`mode` "overwrite" or
    * "append") partitioned by `bucketCol`, ONE file per bucket dir: each
    * bucket's rows are shuffled to one partition first, instead of
    * numShufflePartitions tiny files per dir — faster write, fewer opens
    * per probe. Every bucketed write of the index package goes through
    * here.
    *
    * The partition count is explicit (`spark.sql.shuffle.partitions`):
    * a plain `repartition(col)` lets AQE coalesce its shuffle, which on
    * small data leaves ONE task writing every bucket file in turn. A
    * shuffle with a given partition count is never coalesced, so the
    * buckets are written by that many tasks side by side. */
  def writeBuckets(df: DataFrame, dir: String, bucketCol: String,
      mode: String): Unit =
    LocalFs.write(df.repartition(
        df.sparkSession.sessionState.conf.numShufflePartitions,
        col(bucketCol)))
      .mode(mode).partitionBy(bucketCol).parquet(dir)

  /** Write `df` to a staging dir then swap it in as the whole table at
    * `dir` (Spark cannot overwrite a parquet dir that feeds the running
    * plan). The local store's swap is rename-based; an object-store
    * deployment swaps the store implementation (manifest commit), not
    * this code. */
  def writeSwap(df: DataFrame, dir: String, store: CommitStore): Unit = {
    val tmp = dir + "__tmp"
    LocalFs.write(df).mode("overwrite").parquet(tmp)
    store.swapDir(Paths.get(tmp), Paths.get(dir))
  }

  /** Partition-local swap: write `df` (rows for `buckets` only) to a
    * staging dir partitioned by `bucketCol`, then swap ONLY the touched
    * `bucketCol=v` subdirectories into the live table — every other
    * bucket directory is untouched (same files, same bytes). Each
    * subdirectory swap goes through the same [[CommitStore]] primitive
    * as [[writeSwap]]. A bucket the rewrite emptied (no staged dir) is
    * deleted from the live table — that's what a rebuild without its
    * rows would produce.
    *
    * Invariant kept for readers: the dir is ALWAYS a readable parquet
    * table. A rewrite that empties EVERY bucket would otherwise leave a
    * footer-less dir (schema inference fails on the next read), so the
    * emptied table is published as a FLAT 0-row parquet file carrying
    * the full schema — `bucketCol` as a regular column. The inverse
    * transition (first rows arriving into an emptied table, here or in
    * [[appendBuckets]]) clears that marker before bucket dirs go live,
    * or partition discovery would see a mixed flat/partitioned layout. */
  def swapBuckets(df: DataFrame, dir: String, bucketCol: String,
      buckets: Seq[Long], store: CommitStore): Unit = {
    val tmp = dir + "__tmp"
    writeBuckets(df, tmp, bucketCol, "overwrite")
    val anyStaged = buckets.exists(b =>
      Files.exists(Paths.get(tmp, s"$bucketCol=$b")))
    if (anyStaged && bucketDirs(dir, bucketCol).isEmpty)
      clearMarker(dir, store)
    buckets.foreach { b =>
      val staged = Paths.get(tmp, s"$bucketCol=$b")
      val live   = Paths.get(dir, s"$bucketCol=$b")
      if (Files.exists(staged)) store.swapDir(staged, live)
      else store.deleteRecursive(live)
    }
    store.deleteRecursive(Paths.get(tmp))
    markIfEmpty(df, dir, bucketCol, store)
  }

  /** Append `df` to the table at `dir` partition-locally: new files land
    * in their `bucketCol=v` dirs, existing files keep their bytes. An
    * emptied table's flat marker is cleared first (see [[swapBuckets]]),
    * and published again if the append brought no rows. */
  def appendBuckets(df: DataFrame, dir: String, bucketCol: String,
      store: CommitStore): Unit = {
    if (bucketDirs(dir, bucketCol).isEmpty) clearMarker(dir, store)
    writeBuckets(df, dir, bucketCol, "append")
    markIfEmpty(df, dir, bucketCol, store)
  }

  /** Doc-level retraction from the table at `dir`: only the buckets
    * holding one of `ids` (a `doc_id`) are rewritten, through
    * [[swapBuckets]]; the others keep their exact bytes. The touched
    * buckets come from one pruned-column scan. */
  def retract(spark: SparkSession, dir: String, bucketCol: String,
      ids: Seq[Long], store: CommitStore): Unit = {
    val live = graft.Tables.loadPath(spark, dir)
    val touched = bucketsOf(live.filter(col("doc_id").isin(ids: _*)), bucketCol)
    if (touched.nonEmpty) {
      swapBuckets(live.filter(col(bucketCol).isin(touched: _*) &&
        !col("doc_id").isin(ids: _*)), dir, bucketCol, touched, store)
      graft.Tables.invalidate(spark, dir)
    }
  }

  /** Distinct values of a bucket column, as longs. Metadata-scale (at
    * most the bucket space), so the list lives on the driver. Partition
    * type inference may read a bucket column back as int. */
  def bucketsOf(df: DataFrame, bucketCol: String): Seq[Long] =
    df.select(col(bucketCol).cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq

  /** Maintenance — merge the small files that incremental appends
    * accrete inside each bucket dir back to one file per bucket: after
    * thousands of micro-batches a probe pays |files| opens per bucket,
    * not 1. Only FRAGMENTED buckets (>1 parquet file) are rewritten,
    * through [[swapBuckets]] — rows are bit-identical, untouched
    * buckets keep their exact bytes. Returns (filesBefore, filesAfter)
    * summed over the rewritten buckets. */
  def compactBuckets(spark: SparkSession, dir: String, bucketCol: String,
      store: CommitStore): (Long, Long) = {
    def filesIn(p: Path): Long =
      children(p).count(_.getFileName.toString.endsWith(".parquet")).toLong
    val fragmented = bucketDirs(dir, bucketCol).map(p => p -> filesIn(p))
      .filter(_._2 > 1)
    if (fragmented.isEmpty) return (0L, 0L)
    val buckets = fragmented.map(_._1.getFileName.toString
      .stripPrefix(s"$bucketCol=").toLong)
    swapBuckets(graft.Tables.loadPath(spark, dir)
        .filter(col(bucketCol).isin(buckets: _*)),
      dir, bucketCol, buckets, store)
    graft.Tables.invalidate(spark, dir)
    (fragmented.map(_._2).sum,
      buckets.map(b => filesIn(Paths.get(dir, s"$bucketCol=$b"))).sum)
  }

  /** Direct children of `p` (none when it is not a directory). */
  private def children(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Nil
    else {
      val s = Files.list(p)
      try s.iterator.asScala.toList finally s.close()
    }

  private def bucketDirs(dir: String, bucketCol: String): Seq[Path] =
    children(Paths.get(dir))
      .filter(_.getFileName.toString.startsWith(s"$bucketCol="))

  /** Remove an emptied table's flat marker (its root data files). */
  private def clearMarker(dir: String, store: CommitStore): Unit =
    children(Paths.get(dir)).filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) &&
        (n.startsWith("part-") || n == "_SUCCESS" || n.endsWith(".crc"))
    }.foreach(store.deleteRecursive)

  /** Publish the flat 0-row marker when no bucket dir is left. */
  private def markIfEmpty(df: DataFrame, dir: String, bucketCol: String,
      store: CommitStore): Unit =
    if (bucketDirs(dir, bucketCol).isEmpty) writeSwap(df.limit(0), dir, store)
}
