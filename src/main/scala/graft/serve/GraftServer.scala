package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.ReentrantReadWriteLock

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.embed.{DeterministicEmbedder, Embedder}
import graft.functions.TextFunctions
import graft.index.SearchIndex
import graft.ingest.{OcrEngine, PageExtractor, PdfPageExtractor, TemplateOcrEngine}
import graft.table.{LocalCommitStore, LocalFs, ParquetCatalog}

/** The reference's serving layer (FastAPI app, `backend/server.py:34-37`;
  * routers `backend/routers/{pg_rdb,upload,parser,es_index}.py`)
  * re-expressed as a dependency-free JDK [[HttpServer]] front door over
  * the engine:
  *
  *  - table routes → [[ParquetCatalog]] (`pg_rdb.py:34-160`)
  *  - upload routes → local staging dirs (`upload.py:13-105`)
  *  - parser routes → [[PdfPageExtractor]] + the reference's page
  *    metadata contract (`parser.py:18-90`, `parsing.py:98-230`)
  *  - index/search routes → [[SearchIndex]] build/upsert/hybrid
  *    (`es_index.py:51-180`, `elasticsearch_index.py:113-306`)
  *
  * Response shapes mirror the reference's JSON (field names, nesting,
  * FastAPI's `{"detail": ...}` error envelope); human-readable message
  * strings are English where the reference's are Korean.
  *
  * Scale notes: this is the ROUTE plane, not the data plane. Each route
  * delegates to the same DataFrame operators the registered queries use
  * (partition-pruned index probes, broadcast query-term lookups,
  * TakeOrdered top-k), so a route that is cheap at sf0.001 stays cheap
  * against a 100 TB corpus — the only driver-materialized payloads are
  * route-sized (a `size`-bounded search page, one file's parse, a
  * distinct-keys list the reference also returns in full). Request
  * handling runs on a bounded thread pool; Spark serializes the actual
  * work through its own scheduler exactly as concurrent notebook users
  * would. Per index, writers (`/index/document`, `DELETE /indices`)
  * exclude each other and the readers (`/search`, `/document`): an
  * upsert swaps index files under a reader's plan, and two upserts
  * would share the index's stage dir. Readers wait; they never fail on
  * a half-applied write.
  *
  * Known deviations, both documented where they occur: chunked upload
  * APPENDS chunks (the reference's docstring contract; its code reopens
  * in "wb" and keeps only the last chunk — `upload.py:88-90`), and
  * staged parse output is parquet, not per-file pickles (the engine's
  * S5 shape: partition-pruned, schema'd, splittable).
  */
final class GraftServer(
    spark: SparkSession,
    baseDir: String,
    embedder: Embedder = DeterministicEmbedder(),
    ocr: OcrEngine = TemplateOcrEngine,
    port: Int = 0) {

  private val catalog    = ParquetCatalog(spark, s"$baseDir/tables")
  private val uploadDir  = Paths.get(baseDir, "docs", "uploaded")
  private val parsedDir  = Paths.get(baseDir, "docs", "parsed")
  private val indicesDir = Paths.get(baseDir, "indices")
  Files.createDirectories(uploadDir)
  Files.createDirectories(parsedDir)
  Files.createDirectories(indicesDir)

  private val extractor: PageExtractor = PdfPageExtractor(ocr = ocr)

  private val locks = new ConcurrentHashMap[String, ReentrantReadWriteLock]

  private def lockOf(name: String): ReentrantReadWriteLock =
    locks.computeIfAbsent(name, _ => new ReentrantReadWriteLock)

  /** Run `body` under index `name`'s write lock (`write`) or read lock. */
  private def locked[T](name: String, write: Boolean)(body: => T): T = {
    val rw = lockOf(name)
    val l = if (write) rw.writeLock else rw.readLock
    l.lock()
    try body finally l.unlock()
  }

  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
  server.createContext("/", (ex: HttpExchange) => handle(ex))

  def start(): Unit = server.start()
  def stop(): Unit = server.stop(0)
  def boundPort: Int = server.getAddress.getPort

  // ---------------------------------------------------------------- routing

  import GraftServer.{ApiError, Http}
  private def ok(body: JVal) = Http(200, body)
  private def fail(status: Int, detail: String): Nothing =
    throw new ApiError(status, detail)

  private def handle(ex: HttpExchange): Unit = {
    val method = ex.getRequestMethod.toUpperCase
    val path   = ex.getRequestURI.getPath.stripSuffix("/") match {
      case "" => "/"; case p => p
    }
    // browser front door (frontend/app.py counterpart): the ONLY
    // non-JSON route — everything it does is fetch() against the
    // JSON routes below
    if (method == "GET" && (path == "/" || path == "/ui")) {
      val bytes = WebUi.html.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
      return
    }
    val query = Forms.parseQuery(ex.getRequestURI.getRawQuery)
    val body  = ex.getRequestBody.readAllBytes()
    val contentType = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")

    val resp =
      try route(method, path, query, contentType, body)
      catch {
        case e: ApiError => Http(e.status, JObj("detail" -> JStr(e.detail)))
        case e: IllegalArgumentException =>
          Http(400, JObj("detail" -> JStr(Option(e.getMessage).getOrElse("bad request"))))
        case e: Exception =>
          Http(500, JObj("detail" -> JStr(s"${e.getClass.getSimpleName}: ${e.getMessage}")))
      }

    val bytes = resp.body.render.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(resp.status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def route(method: String, path: String, query: Map[String, String],
      contentType: String, body: Array[Byte]): Http = {
    val parts = path.split("/").filter(_.nonEmpty).toList
    (method, parts) match {
      // ------------------------------------------------- pg_rdb.py routes
      case ("GET", "tables" :: Nil)               => listTablesRoute()
      case ("POST", "create_tables" :: Nil)       => createTableRoute(json(body))
      case ("DELETE", "tables" :: name :: Nil)    => dropTableRoute(name)
      case ("POST", "insert_from_pickle" :: Nil)  => insertRoute(Forms.parseBody(contentType, body))
      case ("GET", "select_all" :: Nil)           => selectAllRoute(query)
      case ("GET", "unique-filepath" :: t :: Nil) => uniqueFilepathRoute(t)
      // ------------------------------------------------- upload.py routes
      case ("POST", "upload" :: Nil)       => uploadRoute(Forms.parseBody(contentType, body))
      case ("POST", "upload_chunk" :: Nil) => uploadChunkRoute(Forms.parseBody(contentType, body))
      // ------------------------------------------------- parser.py routes
      case ("POST", "parse_pdf_by_path" :: Nil) =>
        parsePdfRoute(Forms.parseBody(contentType, body))
      case ("POST", "batch_parse_by_folder" :: Nil) =>
        batchParseRoute(Forms.parseBody(contentType, body))
      // ----------------------------------------------- es_index.py routes
      case ("POST", "index" :: "document" :: Nil)   => indexDocumentRoute(json(body))
      case ("GET", "document" :: idx :: hfp :: Nil) => getDocumentRoute(idx, hfp)
      case ("POST", "search" :: Nil)                => searchRoute(json(body))
      case ("GET", "indices" :: Nil)                => listIndicesRoute()
      case ("DELETE", "indices" :: name :: Nil)     => deleteIndexRoute(name)

      case _ => fail(404, s"no route: $method $path")
    }
  }

  private def json(body: Array[Byte]): JObj = Json.parse(new String(body, UTF_8)) match {
    case o: JObj => o
    case _       => fail(400, "JSON object body required")
  }

  // ------------------------------------------------------------ pg_rdb.py

  /** GET /tables (`pg_rdb.py:34-40`). */
  private def listTablesRoute(): Http =
    ok(JObj("tables" -> JArr(catalog.listTables().map(JStr(_)))))

  /** POST /create_tables (`pg_rdb.py:57-73`): idempotent create from a
    * `[{name, type}]` column config; SQL type strings map onto Spark
    * types the same way the reference's map onto Postgres. */
  private def createTableRoute(req: JObj): Http = {
    val name = req.str("table_name").getOrElse(fail(400, "table_name required"))
    val cols = req.arr("columns").getOrElse(defaultDocColumns)
    if (catalog.tableExists(name))
      return ok(JObj("message" -> JStr(s"table '$name' already exists")))
    val fields = cols.map {
      case o: JObj =>
        val n = o.str("name").getOrElse(fail(400, "column name required"))
        StructField(n, sqlType(o.str("type").getOrElse("TEXT")))
      case _ => fail(400, "columns must be objects")
    }
    catalog.createTable(name, StructType(fields.toArray))
    ok(JObj("message" -> JStr(s"table '$name' created")))
  }

  /** The reference's default document schema (`utils/schema.py:1-17`). */
  private val defaultDocColumns: Seq[JVal] = Seq(
    "id", "page_content", "filename", "filepath", "hashed_filename",
    "hashed_filepath", "hashed_page_content", "page", "lv1_cat", "lv2_cat",
    "lv3_cat", "lv4_cat", "embeddings").map(n =>
      JObj("name" -> JStr(n), "type" -> JStr("TEXT"))) ++ Seq(
    JObj("name" -> JStr("created_at"), "type" -> JStr("TIMESTAMP")),
    JObj("name" -> JStr("updated_at"), "type" -> JStr("TIMESTAMP")))

  private def sqlType(t: String): DataType = {
    val u = t.trim.toUpperCase
    if (u.startsWith("VARCHAR") || u.startsWith("TEXT") || u.startsWith("CHAR")) StringType
    else if (u.startsWith("TIMESTAMP")) TimestampType
    else if (u.startsWith("DATE")) DateType
    else if (u.startsWith("BIGINT")) LongType
    else if (u.startsWith("INT") || u.startsWith("SERIAL")) IntegerType
    else if (u.startsWith("DOUBLE") || u.startsWith("FLOAT") || u.startsWith("REAL")) DoubleType
    else if (u.startsWith("BOOL")) BooleanType
    else if (u.startsWith("DECIMAL") || u.startsWith("NUMERIC")) DecimalType(38, 18)
    else StringType
  }

  /** DELETE /tables/{name} (`pg_rdb.py:78-91`). */
  private def dropTableRoute(name: String): Http =
    if (catalog.tableExists(name)) {
      catalog.dropTable(name)
      ok(JObj("message" -> JStr(s"table '$name' dropped")))
    } else ok(JObj("message" -> JStr(s"table '$name' does not exist")))

  /** POST /insert_from_pickle (`pg_rdb.py:95-115`): recursive scan of a
    * staging directory, inserting every staged file into the table. The
    * engine's staged format is parquet (S5 replaces per-file pickles —
    * SURVEY.md §2.1); `.pkl` files are rejected loudly rather than
    * half-read. */
  private def insertRoute(form: Forms.FormData): Http = {
    val table   = form.required("table_name")
    val stageDir = form.required("pickle_path")
    val root = Paths.get(stageDir)
    if (!Files.isDirectory(root)) fail(400, s"not a directory: $stageDir")
    val walk = Files.walk(root)
    val staged =
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).toVector
      finally walk.close()
    staged.find(_.toString.endsWith(".pkl")).foreach { p =>
      fail(422, s"$p: python pickles are not a JVM-readable staging " +
        "format; stage parquet (the engine's S5 output) instead")
    }
    if (!catalog.tableExists(table)) fail(500, s"no such table: $table")
    // insert exactly the table's columns (the reference names the 15
    // schema columns and drops extra metadata like status/error,
    // `postgres.py:236-243`), casting staged types onto table types
    val target = catalog.table(table).schema
    val parquets = staged.filter(_.toString.endsWith(".parquet")).map(_.toString)
    var last = stageDir
    parquets.foreach { p =>
      val df = spark.read.parquet(p)
      val aligned = df.select(target.fields.map { f =>
        if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }.toIndexedSeq: _*)
      catalog.insert(table, aligned)
      last = p
    }
    ok(JObj("message" -> JStr(s"Data inserted successfully from $last")))
  }

  /** GET /select_all?table_name=&limit=&order_by= (`pg_rdb.py:120-139`). */
  private def selectAllRoute(query: Map[String, String]): Http = {
    val table   = query.getOrElse("table_name", fail(400, "table_name required"))
    val limit   = query.get("limit").map(_.toInt).getOrElse(10)
    val orderBy = query.getOrElse("order_by", "id")
    if (!catalog.tableExists(table)) fail(500, s"no such table: $table")
    val rows = catalog.select(table, orderBy, Some(limit)).collect().toSeq
    if (rows.isEmpty) ok(JObj("message" -> JStr("no data"), "data" -> JArr(Nil)))
    else ok(JObj("message" -> JStr("Success"), "data" -> rowsJson(rows)))
  }

  /** GET /unique-filepath/{table} (`pg_rdb.py:142-160`). */
  private def uniqueFilepathRoute(table: String): Http = {
    if (!catalog.tableExists(table))
      return ok(JObj("status" -> JStr("error"),
        "message" -> JStr(s"no such table: $table")))
    val vals = catalog.distinctValues(table, "hashed_filepath")
      .collect().map(_.getString(0)).sorted.toSeq
    ok(JObj("status" -> JStr("ok"), "count" -> JNum(vals.size),
      "hashed_filepaths" -> JArr(vals.map(JStr(_)))))
  }

  // ------------------------------------------------------------ upload.py

  /** POST /upload (`upload.py:13-43`): whole-file upload into
    * `docs/uploaded/{server_path}/{filename}`. */
  private def uploadRoute(form: Forms.FormData): Http = {
    val file       = form.files.getOrElse("file", fail(400, "file part required"))
    val localPath  = form.required("local_path")
    val serverPath = safeRel(form.required("server_path"))
    val dir = uploadDir.resolve(serverPath)
    Files.createDirectories(dir)
    val save = dir.resolve(Paths.get(file.filename).getFileName.toString)
    Files.write(save, file.bytes)
    ok(JObj("message" -> JStr("upload ok"),
      "original_path" -> JStr(localPath),
      "saved_path" -> JStr(save.toString),
      "filename" -> JStr(file.filename)))
  }

  /** POST /upload_chunk (`upload.py:45-105`): chunk `i` of `n` APPENDS
    * to the target (the route's documented contract; the reference code
    * reopens in "wb" and would keep only the final chunk). Chunk 0
    * truncates, so a re-upload restarts cleanly. */
  private def uploadChunkRoute(form: Forms.FormData): Http = {
    val file       = form.files.getOrElse("file", fail(422, "file part required"))
    val filename   = form.required("filename")
    val chunkIndex = form.required("chunk_index").toInt
    val total      = form.required("total_chunks").toInt
    val serverPath = safeRel(form.required("server_path"))
    val dir = uploadDir.resolve(serverPath)
    Files.createDirectories(dir)
    val save = dir.resolve(Paths.get(filename).getFileName.toString)
    import java.nio.file.StandardOpenOption._
    val opts =
      if (chunkIndex == 0) Seq(CREATE, WRITE, TRUNCATE_EXISTING)
      else Seq(CREATE, WRITE, APPEND)
    Files.write(save, file.bytes, opts: _*)
    if (chunkIndex + 1 == total)
      ok(JObj("message" -> JStr("upload complete"),
        "saved_path" -> JStr(save.toString), "filename" -> JStr(filename)))
    else ok(JObj("message" -> JStr(s"chunk ${chunkIndex + 1}/$total uploaded")))
  }

  private def safeRel(p: String): String = {
    val clean = p.replace('\\', '/').stripPrefix("/")
    require(!clean.split("/").contains(".."), s"path escapes staging dir: $p")
    clean
  }

  // ------------------------------------------------------------ parser.py

  /** POST /parse_pdf_by_path (`parser.py:18-51`): per-page parse of one
    * served file with explicit category levels; response is the
    * reference's `[{page_content, metadata}]` with the full 15-field
    * metadata contract (`parsing.py:98-133`), embeddings included.
    * Parsed pages also land as staged parquet under
    * `docs/parsed/<cats...>/<stem>.parquet` (the reference pickles to
    * the same tree, `parsing.py:221-230`). */
  private def parsePdfRoute(form: Forms.FormData): Http = {
    val pdfPath = form.required("pdf_path")
    val cats = Seq("lv1_cat", "lv2_cat", "lv3_cat", "lv4_cat")
      .map(k => form.fields.getOrElse(k, ""))
    val removeOriginal = form.fields.get("remove_original").exists(_.toBoolean)
    val p = Paths.get(pdfPath)
    if (!Files.isRegularFile(p)) fail(400, s"PDF file not found: $pdfPath")
    val docs = parseOne(p, cats)
    stageParsed(docs, p, cats)
    if (removeOriginal) Files.deleteIfExists(p)
    ok(JArr(docs.map(docJson)))
  }

  /** POST /batch_parse_by_folder (`parser.py:54-90`): every file under
    * the folder, category levels derived from the directory structure
    * relative to the scanned folder (`parsing.py:259-277`). */
  private def batchParseRoute(form: Forms.FormData): Http = {
    val folder = form.required("folder_path")
    val removeOriginal = form.fields.get("remove_original").exists(_.toBoolean)
    val root = Paths.get(folder)
    if (!Files.isDirectory(root)) fail(400, s"folder not found: $folder")
    val walk = Files.walk(root)
    val files =
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).toVector.sorted
      finally walk.close()
    val all = files.map { f =>
      val rel = root.relativize(f)
      // cat levels are the directories between the root and the file
      val dirs = (0 until rel.getNameCount - 1).map(rel.getName(_).toString)
      val cats = (0 until 4).map(i => if (i < dirs.size) dirs(i) else "")
      val docs = parseOne(f, cats)
      stageParsed(docs, f, cats)
      JArr(docs.map(docJson))
    }
    if (removeOriginal) files.foreach(Files.deleteIfExists(_))
    ok(JArr(all))
  }

  /** One parsed page in the reference's document shape
    * (`parsing.py:98-133` success, `:134-155` failure). */
  private final case class ParsedDoc(pageContent: String,
      meta: ListMap[String, JVal])

  private def parseOne(file: Path, cats: Seq[String]): Seq[ParsedDoc] = {
    val filename = file.getFileName.toString
    val filepath = file.toAbsolutePath.toString.replace('\\', '/')
    val stem = filename.replaceAll("\\.[^.]*$", "")
    val catsJoined = cats.filter(_.nonEmpty).mkString(",")
    val firstSentence =
      s"This page explains $stem that belongs to $catsJoined categories.\n"
    val bytes = Files.readAllBytes(file)
    extractor.extract(filepath, bytes).map { pt =>
      val catFields = ListMap(
        "lv1_cat" -> JStr(cats(0)), "lv2_cat" -> JStr(cats(1)),
        "lv3_cat" -> JStr(cats(2)), "lv4_cat" -> JStr(cats(3)))
      pt.error match {
        case None =>
          val content = firstSentence + pt.text
          ParsedDoc(content, ListMap(
            "id" -> JStr(java.util.UUID.randomUUID().toString),
            "filename" -> JStr(filename),
            "filepath" -> JStr(filepath),
            "hashed_filename" -> JStr(md5Hex(filename)),
            "hashed_filepath" -> JStr(md5Hex(filepath)),
            "hashed_page_content" -> JStr(md5Hex(content))) ++ catFields ++ ListMap(
            "embeddings" -> JArr(embedder.embed(content).toSeq.map(f => JNum(f.toDouble))),
            "page" -> JStr((pt.page - 1).toString),
            "status" -> JStr("success")))
        case Some(err) =>
          ParsedDoc(firstSentence + "\n[error processing this page]",
            ListMap(
              "id" -> JStr(java.util.UUID.randomUUID().toString),
              "filename" -> JStr(filename),
              "filepath" -> JStr(filepath),
              "hashed_filename" -> JStr(""),
              "hashed_filepath" -> JStr(""),
              "hashed_page_content" -> JStr("")) ++ catFields ++ ListMap(
              "page" -> JStr((pt.page - 1).toString),
              "embeddings" -> JArr(Nil),
              "error" -> JStr(err),
              "status" -> JStr("fail")))
      }
    }
  }

  private def docJson(d: ParsedDoc): JVal =
    JObj("page_content" -> JStr(d.pageContent), "metadata" -> JObj(d.meta))

  /** Staged parquet mirror of `_save_documents` (`parsing.py:221-230`):
    * one schema'd file per source document under the category tree. */
  private def stageParsed(docs: Seq[ParsedDoc], file: Path, cats: Seq[String]): Unit = {
    if (docs.isEmpty) return
    val outDir = cats.filter(_.nonEmpty)
      .foldLeft(parsedDir)((d, c) => d.resolve(c))
    Files.createDirectories(outDir)
    val stem = file.getFileName.toString.replaceAll("\\.[^.]*$", "")
    val rows = docs.map { d =>
      def s(k: String) = d.meta.get(k).collect { case JStr(v) => v }.getOrElse("")
      val emb = d.meta.get("embeddings").collect {
        case JArr(a) => a.collect { case JNum(n) => n.toFloat }.toArray
      }.getOrElse(Array.empty[Float])
      Row(s("id"), d.pageContent, s("filename"), s("filepath"),
        s("hashed_filename"), s("hashed_filepath"), s("hashed_page_content"),
        s("page"), s("lv1_cat"), s("lv2_cat"), s("lv3_cat"), s("lv4_cat"),
        emb.toSeq, s("status"))
    }
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("page_content", StringType),
      StructField("filename", StringType), StructField("filepath", StringType),
      StructField("hashed_filename", StringType),
      StructField("hashed_filepath", StringType),
      StructField("hashed_page_content", StringType),
      StructField("page", StringType),
      StructField("lv1_cat", StringType), StructField("lv2_cat", StringType),
      StructField("lv3_cat", StringType), StructField("lv4_cat", StringType),
      StructField("embeddings", ArrayType(FloatType)),
      StructField("status", StringType)))
    LocalFs.write(spark.createDataFrame(rows.asJava, schema)
        .withColumn("created_at", current_timestamp())
        .withColumn("updated_at", current_timestamp())
        .coalesce(1))
      .mode("overwrite").parquet(outDir.resolve(s"$stem.parquet").toString)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(UTF_8)).map(b => f"$b%02x").mkString

  // ----------------------------------------------------------- es_index.py

  private def indexDir(name: String): Path = {
    require(name.matches("[A-Za-z0-9_.-]+"), s"bad index name: $name")
    indicesDir.resolve(name)
  }
  /** An index exists when its `source` table does. A crash inside the
    * `source` swap of [[indexDocumentRoute]] leaves only `source__old`,
    * which is restored first; readers share the read lock, so the heal
    * is serialized on the index's lock object. */
  private def indexExists(name: String): Boolean = {
    val src = indexDir(name).resolve("source")
    lockOf(name).synchronized(LocalCommitStore.healSwap(src))
    Files.isDirectory(src)
  }

  /** The index's `source` rows, through the session plan cache (one
    * file listing and schema inference per write of `source`, not per
    * read); every write or delete of `source` invalidates it. */
  private def sourceTable(name: String): DataFrame =
    graft.Tables.loadPath(spark, indexDir(name).resolve("source").toString)

  /** Rows of a catalog table keyed for the index: stable long `doc_id`
    * derived from the uuid id (md5 — same bucket function the index
    * itself uses), text + embedding legs split out. */
  private def keyedRows(table: String, hashedFilepath: String): DataFrame =
    catalog.selectByKey(table, "hashed_filepath", hashedFilepath)
      .withColumn("doc_id", TextFunctions.md5Long(col("id")))

  /** POST /index/document (`es_index.py:51-69`): fetch the table rows of
    * one source file and index them. Re-indexing the same file replaces
    * its previous rows in one [[SearchIndex.upsert]] — ES `_id` upsert
    * parity, not double-counting. */
  private def indexDocumentRoute(req: JObj): Http = {
    val idxName = req.str("index_name").getOrElse(fail(400, "index_name required"))
    val table   = req.str("table_name").getOrElse(fail(400, "table_name required"))
    val hfp     = req.str("hashed_filepath").getOrElse(fail(400, "hashed_filepath required"))
    if (!catalog.tableExists(table)) fail(500, s"no such table: $table")
    val dir = indexDir(idxName)
    locked(idxName, write = true) {
      val rows = keyedRows(table, hfp).cache()
      try {
        if (rows.isEmpty) fail(500, s"no rows for hashed_filepath: $hfp in table: $table")
        val docs = rows.select(col("doc_id"), col("page_content").as("text"))
        // embeddings may be typed (array<float>, the engine's native shape)
        // or a TEXT vector string (the reference's RDB schema) — F10 parse
        val embCol = rows.schema("embeddings").dataType match {
          case _: StringType =>
            graft.functions.VectorFunctions.parseVectorString(col("embeddings"))
          case _ => col("embeddings").cast(ArrayType(FloatType))
        }
        val embs = rows.select(col("doc_id").as("vec_id"), embCol.as("embedding"))
        val srcDir = dir.resolve("source")
        if (!indexExists(idxName)) {
          SearchIndex.build(docs, embs, dir.toString, dim = embedder.dim)
          LocalFs.write(rows).mode("overwrite").parquet(srcDir.toString)
        } else {
          val src = sourceTable(idxName)
          SearchIndex.upsert(spark, dir.toString,
            src.filter(col("hashed_filepath") === hfp).select("doc_id"),
            docs, embs, dim = embedder.dim)
          val tmp = dir.resolve("source__tmp")
          LocalFs.write(src.filter(col("hashed_filepath") =!= hfp)
              .unionByName(rows))
            .mode("overwrite").parquet(tmp.toString)
          LocalCommitStore.swapDir(tmp, srcDir)
        }
        graft.Tables.invalidate(spark, srcDir.toString)
        ok(JObj(
          "message" -> JStr(s"[$idxName] indexing complete"),
          "hashed_filepath" -> JStr(hfp)))
      } finally rows.unpersist()
    }
  }

  /** GET /document/{index}/{hashed_filepath} (`es_index.py:72-88`):
    * every page/chunk of one source file — term-exact keyword match,
    * 404 when absent. */
  private def getDocumentRoute(idxName: String, hfp: String): Http =
    locked(idxName, write = false) {
      if (!indexExists(idxName)) fail(404, s"[$idxName] document '$hfp' not found")
      val src = sourceTable(idxName)
      val sortCols = Seq("page", "id").filter(src.columns.contains)
      val rows = src.filter(col("hashed_filepath") === hfp)
        .orderBy(sortCols.map(col): _*).drop("doc_id")
        .collect().toSeq
      if (rows.isEmpty) fail(404, s"[$idxName] document '$hfp' not found")
      ok(rowsJson(rows))
    }

  /** POST /search (`es_index.py:90-131`): hybrid BM25 + kNN with the
    * reference's knobs (size 5 default, 1–100; min_score 0.5; boosts
    * 1.0/0.8; num_candidates max(size*10, 50)) through the PERSISTED
    * index (partition-pruned term buckets + LSH cells), results shaped
    * as `{_score, ...source}`. The reference's 1024-dim guard
    * generalizes to the configured embedder's dimension. */
  private def searchRoute(req: JObj): Http = {
    val idxName = req.str("index_name").getOrElse(fail(400, "index_name required"))
    val queryText = req.str("query_text").getOrElse("")
    if (queryText.isEmpty) fail(400, "query_text is required")
    val size = req.int("size").getOrElse(5)
    require(size >= 1 && size <= 100, s"size out of range: $size")
    val minScore = req.num("min_score").getOrElse(0.5)
    require(minScore >= 0.0 && minScore <= 1.0, s"min_score out of range: $minScore")
    val qVec = embedder.embed(queryText)
    if (qVec.length != embedder.dim)
      fail(400, s"embedding dimension error: ${qVec.length} (${embedder.dim} required)")

    val dir = indexDir(idxName)
    val shaped = locked(idxName, write = false) {
      if (!indexExists(idxName)) fail(503, s"index not found: $idxName")
      val hits = SearchIndex.hybrid(spark, dir.toString, queryText, embedder,
        size = size, minScore = minScore)
      hits.join(sourceTable(idxName), Seq("doc_id"), "inner")
        .orderBy(col("score").desc, col("doc_id").asc)
        .drop("doc_id")
        .collect().toSeq
    }

    val results = shaped.map { r =>
      val fields = rowJson(r).fields
      val score  = fields.getOrElse("score", JNull)
      JObj(ListMap("_score" -> score) ++ (fields - "score"))
    }
    ok(JObj(
      "index_name" -> JStr(idxName),
      "query_text" -> JStr(queryText),
      "total_hits" -> JNum(results.size),
      "results" -> JArr(results)))
  }

  /** GET /indices (`es_index.py:146-165`). */
  private def listIndicesRoute(): Http = {
    val stream = Files.list(indicesDir)
    val names =
      try stream.iterator().asScala
        .filter(Files.isDirectory(_)).map(_.getFileName.toString).toVector.sorted
      finally stream.close()
    ok(JObj("count" -> JNum(names.size), "indices" -> JArr(names.map(JStr(_)))))
  }

  /** DELETE /indices/{name} (`es_index.py:167-180`). */
  private def deleteIndexRoute(name: String): Http = {
    val dir = indexDir(name)
    locked(name, write = true) {
      if (!Files.isDirectory(dir))
        ok(JObj("index_name" -> JStr(name), "deleted" -> JBool(false),
          "message" -> JStr(s"index '$name' does not exist")))
      else {
        deleteRec(dir)
        graft.Tables.invalidate(spark, dir.resolve("source").toString)
        spark.catalog.clearCache()
        ok(JObj("index_name" -> JStr(name), "deleted" -> JBool(true),
          "message" -> JStr(s"index '$name' deleted")))
      }
    }
  }

  private def deleteRec(p: Path): Unit = {
    if (!Files.exists(p)) return
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(Files.deleteIfExists(_))
    finally walk.close()
  }

  // --------------------------------------------------------- row rendering

  private def rowsJson(rows: Seq[Row]): JArr = JArr(rows.map(rowJson))

  private def rowJson(r: Row): JObj =
    JObj(ListMap(r.schema.fields.zipWithIndex.map { case (f, i) =>
      f.name -> valueJson(r.get(i))
    }.toIndexedSeq: _*))

  private def valueJson(v: Any): JVal = v match {
    case null                 => JNull
    case s: String            => JStr(s)
    case b: Boolean           => JBool(b)
    case n: Byte              => JNum(n.toDouble)
    case n: Short             => JNum(n.toDouble)
    case n: Int               => JNum(n.toDouble)
    case n: Long              => JNum(n.toDouble)
    case n: Float             => JNum(n.toDouble)
    case n: Double            => JNum(n)
    case n: java.math.BigDecimal => JNum(n.doubleValue)
    case n: BigDecimal        => JNum(n.doubleValue)
    case t: java.sql.Timestamp => JStr(t.toInstant.toString)
    case d: java.sql.Date     => JStr(d.toString)
    case bytes: Array[Byte]   =>
      JStr(java.util.Base64.getEncoder.encodeToString(bytes))
    case seq: scala.collection.Seq[_] => JArr(seq.toSeq.map(valueJson))
    case arr: Array[_]        => JArr(arr.toSeq.map(valueJson))
    case m: scala.collection.Map[_, _] =>
      JObj(ListMap(m.toSeq.map { case (k, mv) => k.toString -> valueJson(mv) }: _*))
    case row: Row             => rowJson(row)
    case other                => JStr(other.toString)
  }
}

object GraftServer {
  private final case class Http(status: Int, body: JVal)
  private final class ApiError(val status: Int, val detail: String)
      extends RuntimeException(detail)
}
