package graft.table

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical data layout for scan-time pruning. The reference stores
  * parquet flat (one pickle → one file,
  * `/root/reference/backend/process/parsing.py:100-118`); at 100 TB the
  * layout IS the index: range-clustering on the dominant filter column
  * gives every file a tight min/max zone map, so a selective predicate
  * prunes whole files before a single row group is read (Spark's
  * parquet reader consults footers first, and partition-level listing
  * combined with `PushedFilters` skips non-overlapping files).
  */
object DataLayout {

  /** Write `df` range-clustered on `sortCols`: rows are range-partitioned
    * (global order across files) then sorted within each file, so file
    * min/max ranges are pairwise disjoint on the leading column.
    * `nFiles` sizes output files — pick `bytes / ~512 MB` at scale. */
  def clusterWrite(df: DataFrame, dir: String, sortCols: Seq[String],
      nFiles: Int): Unit =
    LocalFs.write(df.repartitionByRange(nFiles, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*))
      .mode("overwrite").parquet(dir)

  /** Per-file (min, max) of `column` for a parquet dir — the zone map a
    * clustered layout produces. Disjoint ranges = file-level pruning. */
  def fileRanges(df: DataFrame, column: String): DataFrame =
    df.groupBy(input_file_name().as("file"))
      .agg(min(col(column)).as("lo"), max(col(column)).as("hi"))

  /** Bits of z-resolution per dimension (21 bits × 2 dims = 42-bit
    * z-value, safely inside a long). */
  val ZBits = 21

  /** Morton/Z-order interleave of two already-normalized integer columns
    * (each in [0, 2^21)): bit i of `a` lands at position 2i, bit i of
    * `b` at 2i+1. Pure bit algebra — stays inside whole-stage codegen. */
  def zInterleave(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until ZBits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }

  /** Normalize a numeric column to [0, 2^21) given its (min, max) —
    * linear scaling is layout-only (query results never depend on it),
    * so double rounding here is harmless. */
  def zNormalize(c: org.apache.spark.sql.Column, lo: Double,
      hi: Double): org.apache.spark.sql.Column = {
    val span = if (hi > lo) hi - lo else 1.0
    least(lit((1L << ZBits) - 1), greatest(lit(0L),
      floor((c.cast("double") - lit(lo)) / lit(span) * lit((1L << ZBits) - 1))
        .cast("long")))
  }

  /** Write `df` Z-ORDER clustered on two columns: rows are range-
    * partitioned by their Morton code, so every file covers a compact
    * RECTANGLE in (c1, c2) space instead of a thin slab in c1 only —
    * selective predicates on EITHER column (or both) prune files by
    * zone map. This is the multi-dimensional upgrade of [[clusterWrite]]
    * (which only helps its leading column); log-based table formats ship
    * the same op as OPTIMIZE ZORDER BY. The (min, max) per dimension is
    * one metadata aggregate over the input. */
  def zorderWrite(df: DataFrame, dir: String, c1: String, c2: String,
      nFiles: Int): Unit = {
    val mm = df.agg(
      min(col(c1).cast("double")), max(col(c1).cast("double")),
      min(col(c2).cast("double")), max(col(c2).cast("double"))).head()
    val z = zInterleave(
      zNormalize(col(c1), mm.getDouble(0), mm.getDouble(1)),
      zNormalize(col(c2), mm.getDouble(2), mm.getDouble(3)))
    LocalFs.write(df.withColumn("__z", z)
        .repartitionByRange(nFiles, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z"))
      .mode("overwrite").parquet(dir)
  }

  /** Bucketed catalog table for CO-LOCATED joins: rows hash-partitioned
    * into `nBuckets` files on `bucketCols` at write time, so two tables
    * bucketed the same way join with NO exchange — the shuffle was paid
    * once at layout time instead of on every query. THE fact-to-fact
    * join strategy at 100 TB when neither side broadcasts (e.g.
    * lineitem ⋈ orders on orderkey). Registers `name` in the session
    * catalog (bucket metadata lives in the catalog, not the files —
    * plain dir reads can't see it). */
  def bucketWrite(df: DataFrame, name: String, bucketCols: Seq[String],
      nBuckets: Int): Unit = {
    val spark = df.sparkSession
    require(name.matches("[A-Za-z0-9_]+"), s"bad table name: $name")
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    // a crashed run can leave the managed location behind with no
    // catalog entry — saveAsTable then refuses LOCATION_ALREADY_EXISTS
    val wh = java.nio.file.Paths.get(
      java.net.URI.create(spark.conf.get("spark.sql.warehouse.dir")).getPath)
    val orphan = wh.resolve(name)
    if (java.nio.file.Files.exists(orphan)) {
      val s = java.nio.file.Files.walk(orphan)
      try s.sorted(java.util.Comparator.reverseOrder())
        .iterator().forEachRemaining(p => java.nio.file.Files.delete(p))
      finally s.close()
    }
    df.write.mode("overwrite")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(name)
  }
}
