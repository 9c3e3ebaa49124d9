package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.embed.DeterministicEmbedder
import graft.functions.TextFunctions
import graft.index.SearchIndex
import graft.ingest.{Ingest, PdfPageExtractor}
import graft.serve.GraftServer

/** Drives the program from outside, through its public calls, and writes
  * one JSON record of what happened: every timed operation, the spans
  * around calls into each layer, listener counters per operation, output
  * checks and per-layer diagnostics. `run.py` turns the record into the
  * benchmark's metrics and runs the checks that need the generator's
  * truth.
  *
  * Usage: Harness <workload> <inputDir> <workDir> <seconds> <trace 0|1> <out.json>
  */
object Harness {
  val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  // The server's handler pool is not daemon and has no shutdown hook, so
  // the JVM is ended explicitly, with 1 on any failure.
  def main(args: Array[String]): Unit = {
    try measure(args)
    catch { case e: Throwable => e.printStackTrace(); System.exit(1) }
    System.exit(0)
  }

  /** Set-up runs once, untraced. The timed phase runs once
    * untraced; with tracing on it then runs again traced, in the same JVM,
    * and the difference between the two is the tracing overhead. */
  def measure(args: Array[String]): Unit = {
    val Array(workload, input, work, secs, traceFlag, out) = args
    val rec = new Recorder
    val result = mutable.LinkedHashMap.empty[String, Any]
    val spark = session()
    rec.install(spark)
    try {
      val w = workload match {
        case "ingest"    => new IngestWorkload(spark, rec, Paths.get(input), Paths.get(work))
        case "serve"     => new ServeWorkload(spark, rec, Paths.get(input), Paths.get(work))
        case "selftest"  => new SelfTestWorkload(spark, rec)
        case other       => sys.error(s"unknown workload: $other")
      }
      w.setup()
      result("setup_ms") = rec.now
      def timed(): Map[String, Any] = {
        val steal0 = Host.stealTicks()
        val (cg0, ct0) = Host.codegen()
        val t0 = rec.now
        w.run(secs.toDouble * 1000)
        val timedMs = rec.now - t0
        val (cg1, ct1) = Host.codegen()
        val phase = Map("timed_ms" -> timedMs, "steal_ticks" -> (Host.stealTicks() - steal0),
          "codegen_compiles" -> (cg1 - cg0), "codegen_compile_ms" -> (ct1 - ct0) / 1e6,
          "facts" -> w.facts.toMap)
        w.facts.clear()
        phase
      }
      val untraced = timed()
      if (traceFlag == "1") {
        result("untraced") = untraced
        rec.startTracing()
        result ++= timed()
        result("diagnostics") = w.diagnose()
      } else result ++= untraced
      result("checks") = w.check()
      result("facts") = result("facts").asInstanceOf[Map[String, Any]] ++ w.facts
    } finally {
      rec.finish()
      spark.stop()
    }
    result ++= rec.dump()
    mapper.writeValue(Paths.get(out).toFile, result)
  }

  def session(): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      // the status store is the reference the listener's totals are
      // checked against: keep every job and stage of a run
      .config("spark.ui.retainedJobs", "100000")
      .config("spark.ui.retainedStages", "100000")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(UTF_8)).map(b => f"$b%02x").mkString

  def walk(p: Path): Vector[Path] =
    if (!Files.exists(p)) Vector.empty
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).toVector
      finally w.close()
    }
}

trait Workload {
  def setup(): Unit
  def run(budgetMs: Double): Unit
  def check(): Seq[Map[String, Any]]
  def diagnose(): Map[String, Any]
  val facts = mutable.LinkedHashMap.empty[String, Any]
  protected def checkOf(name: String, ok: Boolean, detail: String) =
    Map("name" -> name, "ok" -> ok, "detail" -> detail)

  /** One step of the set-up, timed into the `setup_phase_ms` fact. */
  protected def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime
    try body
    finally facts("setup_phase_ms") = facts.getOrElse("setup_phase_ms", ListMap.empty[String, Double])
      .asInstanceOf[ListMap[String, Double]] + (name -> (System.nanoTime - t0) / 1e6)
  }
}

/** Counters outside the program's own API: hypervisor steal, Spark's
  * codegen counters and GC. */
object Host {
  def stealTicks(): Long = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).get.trim.split("\\s+")(8).toLong
    finally src.close()
  } catch { case _: Exception => -1L }

  /** Janino compiles so far (Spark's public codegen metric source) and
    * their summed compile time in nanoseconds. */
  def codegen(): (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum
}

// ------------------------------------------------------------------ ingest

/** Write path: `Ingest.pipeline` to parquet, then `SearchIndex.build`
  * over its output, repeated in rounds over the same corpus until the
  * budget is spent. A traced run also measures the `operators` layer on
  * the text tables under `input/tables`. */
final class IngestWorkload(spark: SparkSession, rec: Recorder,
    input: Path, work: Path) extends Workload {
  private val corpus = input.resolve("corpus")
  private val tables = input.resolve("tables")
  private val inDir  = corpus.toRealPath().toString
  private val outDir = work.resolve("pages").toString
  private val idxDir = work.resolve("index").toString
  private val embedder = DeterministicEmbedder()

  private def pages(): DataFrame = spark.read.parquet(outDir)

  /** Untimed warm-up. The first pipeline and the first build pay for
    * class loading and codegen. After that the JIT keeps speeding the
    * pipeline up for dozens of runs, and each build speeds up the
    * pipeline runs after it: on 4 cores the 7th pipeline run took 650 to
    * 790 ms and the 35th 430 to 480 ms. Runs early on that curve differ
    * most between processes, so set-up runs the pipeline
    * 1 + 2 x [[WarmPipelines]] times and builds twice. */
  def setup(): Unit = {
    phase("cold_pipeline")(pipeline())
    phase("cold_build")(build())
    phase("warm_pipelines")((1 to WarmPipelines).foreach(_ => pipeline()))
    phase("warm_build")(build())
    phase("warm_pipelines_2")((1 to WarmPipelines).foreach(_ => pipeline()))
  }
  private val WarmPipelines = 8

  private def pipeline(): Unit = rec.span("ingest.pipeline") {
    Ingest.pipeline(spark, inDir, outDir, embedder, PdfPageExtractor())
  }

  private def build(): Unit = rec.span("index.build") {
    val ok = pages().filter(col("status") === "success")
      .withColumn("doc_id", TextFunctions.md5Long(col("id")))
    SearchIndex.build(ok.select(col("doc_id"), col("page_content").as("text")),
      ok.select(col("doc_id").as("vec_id"), col("embeddings").as("embedding")),
      idxDir, dim = embedder.dim)
  }

  /** Rounds of [[RoundPipelines]] pipeline runs, then one index build
    * over their output. A round takes about 11 s on 4 cores. Another
    * round starts only while it is expected to end within the budget, so
    * a run has at least one. */
  def run(budgetMs: Double): Unit = {
    val end = rec.now + budgetMs
    var lastMs = -1.0
    while (lastMs < 0 || rec.now + lastMs <= end) {
      val t0 = rec.now
      (1 to RoundPipelines).foreach(_ => rec.op("ingest")(pipeline()))
      rec.op("index_build")(build())
      lastMs = rec.now - t0
    }
  }
  private val RoundPipelines = 10

  def check(): Seq[Map[String, Any]] = {
    val rows = pages().select("filepath", "page", "status", "hashed_page_content")
      .collect().map(r => Map("filepath" -> r.getString(0).stripPrefix(inDir + "/"),
        "page" -> r.getInt(1), "status" -> r.getString(2),
        "md5" -> r.getString(3)))
    facts("rows") = rows.toSeq
    facts("n_docs") = SearchIndex.indexStats(spark, idxDir).collect().head.getLong(0)
    val parquetBytes = Harness.walk(Paths.get(outDir)).map(Files.size(_)).sum
    val indexBytes = Harness.walk(Paths.get(idxDir)).map(Files.size(_)).sum
    facts("stored_bytes") = parquetBytes + indexBytes
    facts("text_bytes") = pages().agg(sum(octet_length(col("page_content"))))
      .collect().head.getLong(0)
    Seq.empty // the row-level checks need the generator's truth: run.py
  }

  def diagnose(): Map[String, Any] = {
    val files = Harness.walk(corpus).sorted
    val bytes = files.map(Files.readAllBytes(_))
    val ex = PdfPageExtractor()
    bytes.foreach(b => ex.extract("warm", b))
    val t0 = System.nanoTime
    val nPages = rec.span("ingest.extract") {
      files.zip(bytes).map { case (f, b) => ex.extract(f.toString, b).size }.sum
    }
    val extractMs = (System.nanoTime - t0) / 1e6
    val texts = pages().filter(col("status") === "success")
      .select("page_content").collect().map(_.getString(0))
    val t1 = System.nanoTime
    rec.span("embed.direct") { texts.foreach(embedder.embed) }
    val embedMs = (System.nanoTime - t1) / 1e6
    // successive pipeline prefixes into the noop sink; differences give
    // each stage (one untimed round first so every prefix runs warm)
    def noop(df: DataFrame): Double = {
      val s = System.nanoTime
      df.write.mode("overwrite").format("noop").save()
      (System.nanoTime - s) / 1e6
    }
    def scan = Ingest.explodePages(Ingest.scanBinaryFiles(spark, inDir), PdfPageExtractor())
    def enriched = Ingest.enrich(scan, inDir)
    def embedded = graft.embed.BatchEmbed.withEmbedding(enriched, "page_content",
      "embeddings", embedder)
    val prefixes = Seq("ingest.explode" -> (() => scan),
      "ingest.enrich" -> (() => enriched), "embed.batch" -> (() => embedded))
    prefixes.foreach { case (_, df) => noop(df()) }
    val cum = prefixes.map { case (name, df) =>
      val ms = (1 to 3).map(_ => rec.span(name)(noop(df()))).sorted.apply(1)
      name -> ms
    }.toMap
    val idx = Harness.walk(Paths.get(idxDir))
    operators() ++ Map("ingest.extract_ms_per_page" -> extractMs / nPages,
      "embed.ms_per_text" -> embedMs / texts.length,
      "ingest.explode_ms" -> cum("ingest.explode"),
      "ingest.enrich_ms" -> (cum("ingest.enrich") - cum("ingest.explode")),
      "embed.batch_ms" -> (cum("embed.batch") - cum("ingest.enrich")),
      "ingest.full_noop_ms" -> cum("embed.batch"),
      "index.files_written" -> idx.size,
      "index.bytes_written" -> idx.map(Files.size(_)).sum)
  }

  /** The `operators` layer: each query of [[OperatorQueries]] runs once,
    * cold, into the noop sink, on text tables the generator wrote. Row
    * counts and the DuckDB oracle SQL go to the record; run.py runs the
    * oracle. */
  private def operators(): Map[String, Any] = {
    val dir = tables.toRealPath().toString
    val (cg0, _) = Host.codegen()
    val runs = OperatorQueries.map { name =>
      var constructMs, executeMs = 0.0
      val df = rec.op("operator") {
        val t0 = System.nanoTime
        val q = rec.span("operators.construct")(SparkEntry.queries(name)(spark, dir))
        val t1 = System.nanoTime
        rec.span("operators.execute")(q.write.mode("overwrite").format("noop").save())
        constructMs = (t1 - t0) / 1e6
        executeMs = (System.nanoTime - t1) / 1e6
        q
      }
      rec.noteLast("query", name)
      (name, df, constructMs, executeMs)
    }
    val compiles = Host.codegen()._1 - cg0
    val out = runs.map { case (name, df, constructMs, executeMs) =>
      Map("name" -> name, "ok" -> df.isDefined, "construct_ms" -> constructMs,
        "execute_ms" -> executeMs, "rows" -> df.map(_.count()).getOrElse(-1L),
        "oracle_sql" -> SparkEntry.oracleSql(name))
    }
    val ok = out.filter(_("ok") == true)
    Map("operators" -> out, "operators.codegen_compiles_per_pass" -> compiles,
      "operators.construct_ms" -> ok.map(_("construct_ms").asInstanceOf[Double]).sum,
      "operators.execute_ms" -> ok.map(_("execute_ms").asInstanceOf[Double]).sum)
  }

  /** The dedup and text group of the queries `SparkEntry` registers: they
    * read only `documents` and `embeddings` and need no `prepare`. */
  private val OperatorQueries = Seq("q20_minhash_near_dup_pairs", "q60_near_dup_clusters",
    "q131_semdedup", "q140_textrank", "q112_pmi_pairs", "q57_tfidf_embed_profile")
}

// ------------------------------------------------------------------- serve

/** Read path: an in-process [[GraftServer]] over loopback HTTP, loaded
  * by two closed-loop clients replaying the generated request stream. */
final class ServeWorkload(spark: SparkSession, rec: Recorder,
    input: Path, work: Path) extends Workload {
  import Harness.mapper
  private val corpus  = input.resolve("corpus").toRealPath()
  private val inDir   = corpus.toString
  private val stage   = work.resolve("staged").toString
  private val Index   = "bench"
  private val Table   = "docs"
  private val Clients = 2
  private val Warmup  = 28
  private val files: Vector[String] = Harness.walk(corpus).map(_.toString).sorted
  private val hfps = files.map(Harness.md5Hex)
  private val hfpSet = hfps.toSet
  private val pageCount: Map[String, Int] = {
    val truth = mapper.readTree(input.resolve("pages.json").toFile)
    truth.fields().asScala.map(e => Harness.md5Hex(s"$inDir/${e.getKey}") -> e.getValue.asInt).toMap
  }
  private val stream: Vector[JsonNode] = {
    val src = scala.io.Source.fromFile(input.resolve("requests.jsonl").toFile, "UTF-8")
    try src.getLines().map(l => mapper.readTree(l)).toVector finally src.close()
  }
  private var server: GraftServer = _
  private var base: String = _
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val problems = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val filesAfterUpsert = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
  private var probeBefore, probeAfter: String = _

  private def post(path: String, body: String, ct: String = "application/json") =
    http.send(HttpRequest.newBuilder(URI.create(base + path))
      .header("Content-Type", ct).POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
  private def get(path: String) =
    http.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
  private def need(r: HttpResponse[String], what: String): JsonNode = {
    if (r.statusCode != 200) sys.error(s"$what: HTTP ${r.statusCode}: ${r.body.take(300)}")
    mapper.readTree(r.body)
  }
  private def js(fields: (String, Any)*): String = mapper.writeValueAsString(fields.toMap)

  def setup(): Unit = {
    phase("ingest.pipeline") {
      Ingest.pipeline(spark, inDir, stage, DeterministicEmbedder(), PdfPageExtractor())
    }
    server = new GraftServer(spark, work.resolve("server").toString)
    server.start()
    base = s"http://127.0.0.1:${server.boundPort}"
    // typed page column: the default all-TEXT schema would order a
    // file's pages lexicographically ("10" < "2")
    val cols = Seq("id", "page_content", "filename", "filepath", "hashed_filename",
      "hashed_filepath", "hashed_page_content", "lv1_cat", "lv2_cat", "lv3_cat",
      "lv4_cat", "embeddings").map(n => Map("name" -> n, "type" -> "TEXT")) ++
      Seq(Map("name" -> "page", "type" -> "INT"),
        Map("name" -> "created_at", "type" -> "TIMESTAMP"),
        Map("name" -> "updated_at", "type" -> "TIMESTAMP"))
    phase("serve.create_tables") {
      need(post("/create_tables", js("table_name" -> Table, "columns" -> cols)), "create_tables")
    }
    phase("serve.insert") {
      need(post("/insert_from_pickle", s"table_name=$Table&pickle_path=" +
        java.net.URLEncoder.encode(stage, UTF_8), "application/x-www-form-urlencoded"),
        "insert_from_pickle")
    }
    hfps.zipWithIndex.foreach { case (h, i) =>
      phase(s"serve.index_file$i")(need(upsert(h), "index/document"))
    }
    // warm the read path (plan cache, codegen cache, JIT) under the same
    // load as the timed phase. The first few reads are slower by half;
    // after 16 warm reads the searches still got about 10% faster across
    // the timed phase, and run-to-run spread fell when the warm-up grew
    phase("serve.warm_reads")(closedLoop(0, timed = false)(_ < Warmup))
    probeBefore = probe()
  }

  private def upsert(h: String) =
    post("/index/document", js("index_name" -> Index, "table_name" -> Table, "hashed_filepath" -> h))

  private def searchBody(r: JsonNode) = js("index_name" -> Index,
    "query_text" -> r.get("query").asText, "size" -> r.get("size").asInt,
    "min_score" -> r.get("min_score").asDouble)

  private def of(op: String) = stream.filter(_.get("op").asText == op)
  private val reads = stream.filter(r => Set("search", "document")(r.get("op").asText))

  private def probe(): String = {
    val r = need(post("/search", js("index_name" -> Index,
      "query_text" -> of("probe").head.get("query").asText,
      "size" -> 10, "min_score" -> 0.0)), "probe")
    r.get("results").elements().asScala.map(h =>
      s"${h.get("hashed_filepath").asText}:${h.get("page").asInt}:${h.get("_score").asDouble}")
      .mkString(",")
  }

  /** One request; returns the response size. Checks what the response
    * must satisfy and records any violation. */
  private def request(r: JsonNode, idx: Int): Int = r.get("op").asText match {
    case "search" =>
      val resp = post("/search", searchBody(r))
      val body = need(resp, "search")
      val hits = body.get("results").elements().asScala.toVector
      val scores = hits.map(_.get("_score").asDouble)
      val size = r.get("size").asInt
      val min = r.get("min_score").asDouble
      if (hits.size > size) problems.add(s"search $idx: ${hits.size} hits > size $size")
      if (scores.exists(_ < min)) problems.add(s"search $idx: score below $min")
      if (scores != scores.sorted(Ordering[Double].reverse)) problems.add(s"search $idx: unsorted")
      hits.find(h => !hfpSet(h.get("hashed_filepath").asText)).foreach(h =>
        problems.add(s"search $idx: unknown hashed_filepath ${h.get("hashed_filepath")}"))
      resp.body.length
    case "document" =>
      val h = hfps(r.get("file").asInt)
      val resp = get(s"/document/$Index/$h")
      val pagesOut = need(resp, "document").elements().asScala.map(_.get("page").asInt).toVector
      if (pagesOut != (1 to pageCount(h)).toVector)
        problems.add(s"document $idx: pages ${pagesOut.take(12)} != 1..${pageCount(h)}")
      resp.body.length
    case "upsert" =>
      val resp = upsert(hfps(r.get("file").asInt))
      need(resp, "upsert")
      if (rec.trace) filesAfterUpsert.add(Harness.walk(work.resolve("server/indices").resolve(Index)).size)
      resp.body.length
  }

  /** Two closed-loop clients share the read stream until the budget is
    * spent; then the writer upserts one unchanged file with no reads in
    * flight. Reads running against an upsert fail at this commit (the
    * upsert swaps index files under them), and so do two concurrent
    * upserts, so the write is not overlapped with reads. */
  def run(budgetMs: Double): Unit = {
    val t0 = rec.now
    val (cg0, _) = Host.codegen()
    closedLoop(Warmup, timed = true)(_ => rec.now - t0 < budgetMs)
    facts("read_window_ms") = rec.now - t0
    facts("read_codegen_compiles") = Host.codegen()._1 - cg0
    rec.op("upsert")(request(of("upsert").head, -1))
  }

  /** [[Clients]] closed-loop clients share the read stream from `from` on:
    * each sends its next read when the last one returned, while `more`
    * holds for the read's position. Untimed reads that fail are recorded
    * as problems. */
  private def closedLoop(from: Int, timed: Boolean)(more: Int => Boolean): Unit = {
    val next = new AtomicInteger(from)
    val threads = (0 until Clients).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (more(i)) {
          val r = reads(i % reads.size)
          if (timed) rec.op(r.get("op").asText)(request(r, i))
          else try request(r, i) catch {
            case e: Exception => problems.add(s"warm-up read $i: ${e.getMessage}")
          }
          i = next.getAndIncrement()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  def check(): Seq[Map[String, Any]] = {
    probeAfter = probe()
    val bad = problems.asScala.toVector
    val out = Seq(
      checkOf("serve.responses", bad.isEmpty, bad.take(5).mkString("; ")),
      checkOf("serve.probe_stable_across_upsert", probeBefore == probeAfter && probeBefore.nonEmpty,
        s"before=${probeBefore.take(200)} after=${probeAfter.take(200)}"))
    server.stop()
    out
  }

  def diagnose(): Map[String, Any] = {
    val dir = work.resolve("server/indices").resolve(Index).toString
    val src = spark.read.parquet(s"$dir/source")
    val embedder = DeterministicEmbedder()
    val searches = of("search").take(10)
    val docs = of("document").take(4)
    val overhead = mutable.ArrayBuffer.empty[Double]
    val respBytes = mutable.ArrayBuffer.empty[Double]
    searches.foreach { r =>
      val s = System.nanoTime
      respBytes += request(r, -1)
      val route = (System.nanoTime - s) / 1e6
      val hits = rec.op("replay_search") {
        val h = rec.span("search.construct") {
          SearchIndex.hybrid(spark, dir, r.get("query").asText, embedder,
            size = r.get("size").asInt, minScore = r.get("min_score").asDouble)
        }
        rec.span("search.execute") {
          h.join(src, Seq("doc_id"), "inner").orderBy(col("score").desc, col("doc_id").asc)
            .drop("doc_id").collect().length
        }
      }
      rec.noteLast("hits", hits.getOrElse(0))
      overhead += route - rec.lastOpMs
    }
    docs.foreach { r =>
      val h = hfps(r.get("file").asInt)
      val s = System.nanoTime
      respBytes += request(r, -1)
      val route = (System.nanoTime - s) / 1e6
      rec.op("replay_document") {
        rec.span("serve.document_direct") {
          spark.read.parquet(s"$dir/source").filter(col("hashed_filepath") === h)
            .orderBy(col("page"), col("id")).drop("doc_id").collect().length
        }
      }
      overhead += route - rec.lastOpMs
    }
    val fau = filesAfterUpsert.asScala.toVector
    Map("serve.overhead_ms" -> median(overhead.toSeq),
      "serve.response_bytes" -> median(respBytes.toSeq),
      "index.files_after_upsert" -> (if (fau.isEmpty) Harness.walk(Paths.get(dir)).size else fau.max))
  }

  private def median(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
}

// ---------------------------------------------------------------- selftest

/** Known work for the harness's own test (`selftest.py`): tagged jobs with
  * and without a shuffle, an untagged job, and an operation that runs a
  * job and then fails. */
final class SelfTestWorkload(spark: SparkSession, rec: Recorder) extends Workload {
  def setup(): Unit = spark.range(1000).count()

  def run(budgetMs: Double): Unit = {
    rec.op("probe")(rec.span("layer.a")(spark.range(10000).selectExpr("sum(id)").collect()))
    rec.op("probe") {
      rec.span("layer.a") {
        rec.span("layer.b")(spark.range(10000).groupBy(col("id") % 7).count().collect())
      }
    }
    rec.op("probe") {
      spark.range(5000).count()
      // garbage for the GC bracket the failure must not leak into
      (1 to 200).foreach(_ => new Array[Byte](1 << 20))
      sys.error("injected failure")
    }
    spark.range(100).count() // untagged
    rec.op("probe")(rec.span("layer.a")(spark.range(100).count()))
  }

  def check(): Seq[Map[String, Any]] = Seq.empty
  def diagnose(): Map[String, Any] = Map.empty
}
