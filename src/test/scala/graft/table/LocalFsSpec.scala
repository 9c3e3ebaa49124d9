package graft.table

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.embed.DeterministicEmbedder
import graft.index.SearchIndex
import graft.ingest.Ingest

class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val root = Files.createTempDirectory("localfs").toRealPath()

  private def fresh(name: String): Path = Files.createTempDirectory(root, name)

  /** The command lines of the processes `body` starts that name `under`
    * (JFR `jdk.ProcessStart`). */
  private def processesNaming(under: Path)(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("localfs", ".jfr")
    try {
      rec.dump(dump)
      // a dump holds every event of its interval, also those another
      // recording in this JVM enabled
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command")).filter(_.contains(under.toString))
    } finally { rec.close(); Files.delete(dump) }
  }

  private def init[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }

  private def oct(s: String): Int = Integer.parseInt(s, 8)

  /** Permission, sticky, setuid and setgid bits of `p`. */
  private def mode(p: Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & oct("7777")

  test("setPermission leaves the same mode as Hadoop's, without a process") {
    val hadoop = init(new RawLocalFileSystem)
    val forkless = init(new ForklessRawLocalFileSystem)
    val dir = fresh("modes")
    for (m <- Seq("0644", "0755", "0700", "0600", "0444")) {
      val perm = new FsPermission(oct(m).toShort)
      val a = Files.createFile(dir.resolve(s"hadoop_$m"))
      val b = Files.createFile(dir.resolve(s"forkless_$m"))
      hadoop.setPermission(new HPath(a.toUri), perm)
      val started = processesNaming(b)(
        forkless.setPermission(new HPath(b.toUri), perm))
      assert(started.isEmpty, m)
      assert(Files.getPosixFilePermissions(b) ===
        Files.getPosixFilePermissions(a), m)
      assert(mode(a) === oct(m) && mode(b) === oct(m), m)
    }
  }

  test("a mode with the sticky bit takes Hadoop's path") {
    val forkless = init(new ForklessRawLocalFileSystem)
    val d = fresh("sticky")
    val started = processesNaming(d)(forkless.setPermission(
      new HPath(d.toUri), new FsPermission(oct("1777").toShort)))
    assert(started.size === 1 && started.head.contains("chmod"))
    assert(mode(d) === oct("1777"))
  }

  test("index build and upsert, ingest and catalog insert start no process") {
    val docs = Tables.documents(spark, SfDir).select("doc_id", "text")
    val embs = Tables.embeddings(spark, SfDir).select("vec_id", "embedding")
    val ids = docs.select("doc_id").as[Long].head(2).toSeq
    val idx = fresh("index").toString
    val in = fresh("ingest_in")
    Seq("cat1/a.txt" -> "page one\fpage two", "cat2/b.txt" -> "one page")
      .foreach { case (rel, text) =>
        val p = in.resolve(rel)
        Files.createDirectories(p.getParent)
        Files.write(p, text.getBytes("UTF-8"))
      }
    val cat = ParquetCatalog(spark, fresh("catalog").toString)
    val rows = Seq(("a", "x", 1), ("b", "y", 2)).toDF("id", "text", "page")
    cat.createTable("docs", rows.schema)

    def forks(body: => Unit): Int = processesNaming(root)(body).size
    val counts = Seq(
      "build" -> forks(SearchIndex.build(docs, embs, idx)),
      "upsert" -> forks(SearchIndex.upsert(spark, idx, ids.toDF("doc_id"),
        docs.filter(col("doc_id").isin(ids: _*))
          .withColumn("text", concat(col("text"), lit(" qqupserted"))),
        embs.filter(col("vec_id").isin(ids: _*)))),
      "pipeline" -> forks(Ingest.pipeline(spark, in.toString,
        fresh("ingest_out").toString, DeterministicEmbedder(16),
        glob = "*.txt")),
      "insert" -> forks(cat.insert("docs", rows)))
    assert(counts === counts.map(_._1 -> 0))
    assert(cat.table("docs").count() === 2)
  }

  test("a LocalFs write leaves the modes of a plain write") {
    val rows = Seq((1, "a", "x"), (2, "b", "y"), (3, "a", "z"))
      .toDF("id", "part", "v")
    val plain = fresh("plain").resolve("t")
    val forkless = fresh("forkless").resolve("t")
    rows.write.partitionBy("part").parquet(plain.toString)
    LocalFs.write(rows).partitionBy("part").parquet(forkless.toString)
    // part file names carry the write's job uuid
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    def modes(t: Path): Map[String, Int] = {
      val s = Files.walk(t)
      try s.iterator.asScala.toSeq.map(p =>
        t.relativize(p).toString.replaceAll(uuid, "U") -> mode(p)).toMap
      finally s.close()
    }
    val want = modes(plain)
    assert(want.values.toSet === Set(oct("755"), oct("644")))
    assert(want.keys.exists(_.endsWith(".crc")))
    assert(modes(forkless) === want)
  }
}
