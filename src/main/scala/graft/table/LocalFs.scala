package graft.table

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row}

/** Hadoop's raw local file system with an in-process `setPermission`.
  * Without libhadoop (`NativeIO.isAvailable()` false, as with the
  * `hadoop-client-api` jars Spark ships) Hadoop sets a mode by running
  * `chmod` as a child process, and a write sets one for every file,
  * `.crc` file and directory it creates. The same nine `rwx` bits are
  * set here through `java.nio`; a mode with other bits (sticky, setuid)
  * or a file system without POSIX attributes takes Hadoop's own path. */
class ForklessRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // "rwxrwxrwx" with each bit the mode lacks masked to '-'
      val perms = PosixFilePermissions.fromString("rwxrwxrwx".zipWithIndex
        .map { case (c, i) => if ((mode >> (8 - i) & 1) == 1) c else '-' }
        .mkString)
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException =>
        super.setPermission(p, permission) }
    }
  }
}

/** The checksummed local file system over [[ForklessRawLocalFileSystem]]:
  * `.crc` files are still written and verified. */
class ForklessLocalFileSystem extends LocalFileSystem(new ForklessRawLocalFileSystem)

/** The program's writer for local path-based file sinks (parquet, csv).
  *
  * A plain `df.write` through Hadoop's local file system starts one
  * `chmod` process per file, `.crc` file and directory it creates (no
  * libhadoop: see [[ForklessRawLocalFileSystem]]). On a 4-core VM that
  * was 649 processes per `SearchIndex.build` and 58 per
  * `Ingest.pipeline` of the perfbench ingest corpus; a 10 s perfbench
  * `ingest` run started 3,520 (3,303 on executor task threads) and a
  * `serve` run 2,036.
  *
  * The forkless file system is set per write, not per session:
  *  - the program does not own its callers' sessions (the perfbench
  *    harness and any embedder of `GraftServer` build their own);
  *  - Hadoop's `FileSystem` cache keys on scheme, authority and user, not
  *    on the conf, so an `fs.file.impl` set after the first local-FS use
  *    would be ignored.
  * With `fs.file.impl.disable.cache` in the write's own Hadoop conf
  * (Spark's `newHadoopConfWithOptions`), that write's committer, on the
  * driver and in its tasks, gets a fresh forkless instance. Reads keep
  * the cached file system; they never fork, since Spark's
  * `HadoopFSUtils` listing avoids `getPermission`.
  *
  * Table writes (`saveAsTable`) stay on `df.write`: they would store
  * these options as table properties. */
object LocalFs {
  private val options = Map(
    "fs.file.impl" -> classOf[ForklessLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  def write(df: DataFrame): DataFrameWriter[Row] = df.write.options(options)
}
