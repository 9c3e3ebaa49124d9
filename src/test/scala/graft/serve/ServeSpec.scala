package graft.serve

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.embed.DeterministicEmbedder

/** End-to-end serving-layer spec: boots [[GraftServer]] on an ephemeral
  * port and drives every reference route (`backend/routers`) over
  * real HTTP with the JDK client — upload → parse → insert → index →
  * search → retract, plus the error envelope. */
class ServeSpec extends SparkSpec {

  // ---- minimal classic-xref one-page PDF (same recipe as PdfSpec) ----
  private def classicPdf(objects: Seq[String]): Array[Byte] = {
    val sb = new StringBuilder("%PDF-1.4\n")
    val offsets = objects.zipWithIndex.map { case (body, i) =>
      val off = sb.length
      sb ++= s"${i + 1} 0 obj\n$body\nendobj\n"
      off
    }
    val xrefOff = sb.length
    sb ++= s"xref\n0 ${objects.length + 1}\n0000000000 65535 f \n"
    offsets.foreach(o => sb ++= f"$o%010d 00000 n \n")
    sb ++= s"trailer\n<< /Size ${objects.length + 1} /Root 1 0 R >>\n"
    sb ++= s"startxref\n$xrefOff\n%%EOF"
    sb.toString.getBytes("ISO-8859-1")
  }

  private def onePagePdf(text: String): Array[Byte] = {
    val content = s"BT /F1 12 Tf ($text) Tj ET"
    classicPdf(Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >>",
      "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
      s"<< /Length ${content.length} >>\nstream\n$content\nendstream"))
  }

  // ------------------------------------------------- server + http client

  private lazy val base = Files.createTempDirectory("graft_serve_").toString
  private lazy val server = {
    val s = new GraftServer(spark, base, DeterministicEmbedder())
    s.start()
    s
  }
  private lazy val url = { server; s"http://127.0.0.1:${server.boundPort}" }
  private val client = HttpClient.newHttpClient()

  private def send(req: HttpRequest): (Int, JVal) = {
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), Json.parse(r.body()))
  }
  private def get(path: String) =
    send(HttpRequest.newBuilder(URI.create(url + path)).GET().build())
  private def delete(path: String) =
    send(HttpRequest.newBuilder(URI.create(url + path)).DELETE().build())
  private def postJson(path: String, body: String) =
    send(HttpRequest.newBuilder(URI.create(url + path))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build())
  private def postForm(path: String, fields: (String, String)*) = {
    val body = fields.map { case (k, v) =>
      java.net.URLEncoder.encode(k, UTF_8) + "=" + java.net.URLEncoder.encode(v, UTF_8)
    }.mkString("&")
    send(HttpRequest.newBuilder(URI.create(url + path))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build())
  }

  /** multipart/form-data body with text fields + one file part. */
  private def postMultipart(path: String, fields: Seq[(String, String)],
      fileField: String, filename: String, bytes: Array[Byte]): (Int, JVal) = {
    val boundary = "GraftBoundary42"
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(UTF_8))
    fields.foreach { case (k, v) =>
      w(s"--$boundary\r\nContent-Disposition: form-data; name=\"$k\"\r\n\r\n$v\r\n")
    }
    w(s"--$boundary\r\nContent-Disposition: form-data; name=\"$fileField\"; " +
      s"filename=\"$filename\"\r\nContent-Type: application/octet-stream\r\n\r\n")
    out.write(bytes)
    w(s"\r\n--$boundary--\r\n")
    send(HttpRequest.newBuilder(URI.create(url + path))
      .header("Content-Type", s"multipart/form-data; boundary=$boundary")
      .POST(HttpRequest.BodyPublishers.ofByteArray(out.toByteArray)).build())
  }

  private def obj(v: JVal): JObj = v.asInstanceOf[JObj]
  private def arr(v: JVal): Seq[JVal] = v.asInstanceOf[JArr].items

  // ------------------------------------------------------------- the tests

  test("table lifecycle: create, list, duplicate-create, drop") {
    val (c1, b1) = postJson("/create_tables",
      """{"table_name": "serve_docs"}""")
    assert(c1 == 200 && obj(b1).str("message").get.contains("created"))
    val (c2, b2) = get("/tables")
    assert(c2 == 200)
    assert(obj(b2).arr("tables").get.contains(JStr("serve_docs")))
    val (c3, b3) = postJson("/create_tables", """{"table_name": "serve_docs"}""")
    assert(c3 == 200 && obj(b3).str("message").get.contains("already exists"))
    val (c4, _) = delete("/tables/serve_tmp") // absent: message, not error
    assert(c4 == 200)
  }

  test("upload whole file and chunked upload land identical bytes") {
    val pdf = onePagePdf("Hello serving layer")
    val (c1, b1) = postMultipart("/upload",
      Seq("local_path" -> "C:/local/hello.pdf", "server_path" -> "manuals/engines"),
      "file", "hello.pdf", pdf)
    assert(c1 == 200)
    val saved = obj(b1).str("saved_path").get
    assert(Files.exists(Paths.get(saved)))
    assert(java.util.Arrays.equals(Files.readAllBytes(Paths.get(saved)), pdf))

    val (h1, h2) = pdf.splitAt(pdf.length / 2)
    val (cc1, bb1) = postMultipart("/upload_chunk",
      Seq("filename" -> "chunked.pdf", "chunk_index" -> "0",
        "total_chunks" -> "2", "server_path" -> "manuals/engines"),
      "file", "blob", h1)
    assert(cc1 == 200 && obj(bb1).str("message").get.contains("1/2"))
    val (cc2, bb2) = postMultipart("/upload_chunk",
      Seq("filename" -> "chunked.pdf", "chunk_index" -> "1",
        "total_chunks" -> "2", "server_path" -> "manuals/engines"),
      "file", "blob", h2)
    assert(cc2 == 200)
    val chunkSaved = obj(bb2).str("saved_path").get
    assert(java.util.Arrays.equals(Files.readAllBytes(Paths.get(chunkSaved)), pdf))
  }

  test("parse_pdf_by_path: page docs with the reference metadata contract; staged parquet written") {
    val pdfPath = s"$base/docs/uploaded/manuals/engines/hello.pdf"
    val (c, body) = postForm("/parse_pdf_by_path",
      "pdf_path" -> pdfPath, "lv1_cat" -> "manuals", "lv2_cat" -> "engines")
    assert(c == 200)
    val docs = arr(body)
    assert(docs.size == 1)
    val d = obj(docs.head)
    val content = d.str("page_content").get
    assert(content.startsWith(
      "This page explains hello that belongs to manuals,engines categories.\n"))
    assert(content.contains("Hello serving layer"))
    val meta = obj(d("metadata"))
    for (k <- Seq("id", "filename", "filepath", "hashed_filename",
        "hashed_filepath", "hashed_page_content", "lv1_cat", "lv2_cat",
        "lv3_cat", "lv4_cat", "embeddings", "page", "status"))
      assert(meta.fields.contains(k), s"missing metadata key $k")
    assert(meta.str("status").contains("success"))
    assert(meta.str("page").contains("0")) // reference pages are 0-based strings
    assert(meta.str("filename").contains("hello.pdf"))
    assert(meta.arr("embeddings").get.size == DeterministicEmbedder().dim)
    // staged parquet mirror of the reference's pickle tree
    assert(Files.exists(Paths.get(s"$base/docs/parsed/manuals/engines/hello.parquet")))
  }

  test("batch_parse_by_folder derives category levels from the directory tree") {
    val (c, body) = postForm("/batch_parse_by_folder",
      "folder_path" -> s"$base/docs/uploaded")
    assert(c == 200)
    val perFile = arr(body)
    assert(perFile.size == 2) // hello.pdf + chunked.pdf
    val metas = perFile.flatMap(f => arr(f).map(d => obj(obj(d)("metadata"))))
    assert(metas.forall(_.str("lv1_cat").contains("manuals")))
    assert(metas.forall(_.str("lv2_cat").contains("engines")))
    assert(metas.forall(_.str("lv3_cat").contains("")))
  }

  test("insert_from_pickle: staged parquet rows land in the catalog table; pkl rejected") {
    val (c, b) = postForm("/insert_from_pickle",
      "table_name" -> "serve_docs", "pickle_path" -> s"$base/docs/parsed")
    assert(c == 200 && obj(b).str("message").get.startsWith("Data inserted successfully"))

    val (c2, b2) = get("/select_all?table_name=serve_docs&limit=10&order_by=id")
    assert(c2 == 200 && obj(b2).str("message").contains("Success"))
    val rows = obj(b2).arr("data").get.map(obj)
    assert(rows.nonEmpty && rows.size <= 10)
    assert(rows.head.fields.contains("page_content"))

    val (c3, b3) = get("/unique-filepath/serve_docs")
    assert(c3 == 200 && obj(b3).str("status").contains("ok"))
    assert(obj(b3).int("count").get >= 2)

    // python pickles are rejected loudly, not half-read
    val pklDir = Files.createTempDirectory("serve_pkl_")
    Files.write(pklDir.resolve("legacy.pkl"), Array[Byte](0x80.toByte, 4))
    val (c4, b4) = postForm("/insert_from_pickle",
      "table_name" -> "serve_docs", "pickle_path" -> pklDir.toString)
    assert(c4 == 422 && obj(b4).str("detail").get.contains("parquet"))
  }

  test("index/document, search, get-document, indices, delete-index") {
    // find a real hashed_filepath from the table
    val (_, uf) = get("/unique-filepath/serve_docs")
    val hfp = obj(uf).arr("hashed_filepaths").get.collectFirst {
      case JStr(s) if s.nonEmpty => s
    }.get

    val (c1, b1) = postJson("/index/document",
      s"""{"index_name": "serve_idx", "table_name": "serve_docs",
          "hashed_filepath": "$hfp"}""")
    assert(c1 == 200 && obj(b1).str("hashed_filepath").contains(hfp))

    val (c2, b2) = get("/indices")
    assert(c2 == 200 && obj(b2).arr("indices").get.contains(JStr("serve_idx")))

    val (c3, b3) = get(s"/document/serve_idx/$hfp")
    assert(c3 == 200)
    val pages = arr(b3).map(obj)
    assert(pages.nonEmpty && pages.forall(_.str("hashed_filepath").contains(hfp)))

    // search with words that are in the page text
    val (c4, b4) = postJson("/search",
      """{"index_name": "serve_idx",
          "query_text": "page explains hello serving layer",
          "size": 5, "min_score": 0.1}""")
    assert(c4 == 200)
    val res = obj(b4)
    assert(res.str("index_name").contains("serve_idx"))
    assert(res.int("total_hits").get >= 1)
    val top = obj(res.arr("results").get.head)
    assert(top.fields.contains("_score"))
    assert(top.str("hashed_filepath").contains(hfp))

    // re-index the same file: _id-upsert parity, no double counting
    val before = arr(get(s"/document/serve_idx/$hfp")._2).size
    val (cRe, bRe) = postJson("/index/document",
      s"""{"index_name": "serve_idx", "table_name": "serve_docs",
          "hashed_filepath": "$hfp"}""")
    assert(cRe == 200, s"re-index failed: $bRe")
    assert(arr(get(s"/document/serve_idx/$hfp")._2).size == before)
    // and search still answers through the retract-then-update index
    val (cS, bS) = postJson("/search",
      """{"index_name": "serve_idx",
          "query_text": "page explains hello serving layer",
          "size": 5, "min_score": 0.1}""")
    assert(cS == 200 && obj(bS).int("total_hits").get >= 1)

    val (c5, b5) = delete("/indices/serve_idx")
    assert(c5 == 200 && obj(b5)("deleted") == JBool(true))
    val (c6, _) = get(s"/document/serve_idx/$hfp")
    assert(c6 == 404)
  }

  test("concurrent upserts of one file serialize; searches in flight wait, never fail") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val (_, uf) = get("/unique-filepath/serve_docs")
    val hfp = obj(uf).arr("hashed_filepaths").get.collectFirst {
      case JStr(s) if s.nonEmpty => s
    }.get
    val upsert = s"""{"index_name": "serve_conc", "table_name": "serve_docs",
        "hashed_filepath": "$hfp"}"""
    val (c0, b0) = postJson("/index/document", upsert)
    assert(c0 == 200, s"first index failed: $b0")
    val pages = arr(get(s"/document/serve_conc/$hfp")._2).size
    val search = """{"index_name": "serve_conc",
        "query_text": "page explains hello serving layer",
        "size": 5, "min_score": 0.1}"""

    // one thread per caller: two writers, two readers looping until the
    // writers are done
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val writes = Future.sequence(
        (1 to 2).map(_ => Future(postJson("/index/document", upsert))))
      val reads = Future.sequence((1 to 2).map(_ => Future {
        val out = Seq.newBuilder[(Int, JVal)]
        do out += postJson("/search", search) while (!writes.isCompleted)
        out.result()
      }))
      Await.result(writes, 10.minutes).foreach { case (c, b) =>
        assert(c == 200, s"upsert failed: $b")
      }
      Await.result(reads, 10.minutes).flatten.foreach { case (c, b) =>
        assert(c == 200, s"search failed: $b")
        assert(obj(b).int("total_hits").get >= 1)
      }
    } finally pool.shutdown()

    val dir = s"$base/indices/serve_conc"
    assert(graft.index.SearchIndex.indexStats(spark, dir).head().getLong(0) ==
      pages, "a page was double-counted")
    assert(!Files.exists(Paths.get(dir, "__delete_stage")))
    assert(delete("/indices/serve_conc")._1 == 200)
  }

  test("an index whose source swap crashed heals on the next read") {
    val (_, uf) = get("/unique-filepath/serve_docs")
    val hfp = obj(uf).arr("hashed_filepaths").get.collectFirst {
      case JStr(s) if s.nonEmpty => s
    }.get
    val (c0, b0) = postJson("/index/document",
      s"""{"index_name": "serve_heal", "table_name": "serve_docs",
          "hashed_filepath": "$hfp"}""")
    assert(c0 == 200, s"index failed: $b0")
    val search = """{"index_name": "serve_heal",
        "query_text": "page explains hello serving layer",
        "size": 5, "min_score": 0.1}"""
    val doc = get(s"/document/serve_heal/$hfp")
    val hits = postJson("/search", search)
    assert(doc._1 == 200 && hits._1 == 200)

    // the state a crash between the two renames of swapDir leaves
    val src = Paths.get(base, "indices", "serve_heal", "source")
    Files.move(src, src.resolveSibling("source__old"))
    assert(postJson("/search", search) == hits)
    assert(get(s"/document/serve_heal/$hfp") == doc)
    assert(Files.isDirectory(src) &&
      !Files.exists(src.resolveSibling("source__old")))
    assert(delete("/indices/serve_heal")._1 == 200)
  }

  test("source reads follow every write of source: upsert, delete, re-index") {
    // one file, indexed, then re-parsed with new page text at the same
    // path (same hashed_filepath) and upserted
    def stage(text: String): Unit = {
      assert(postMultipart("/upload",
        Seq("local_path" -> "C:/local/fresh.pdf", "server_path" -> "fresh/v"),
        "file", "fresh.pdf", onePagePdf(text))._1 == 200)
      assert(postForm("/parse_pdf_by_path",
        "pdf_path" -> s"$base/docs/uploaded/fresh/v/fresh.pdf",
        "lv1_cat" -> "fresh", "lv2_cat" -> "v")._1 == 200)
      delete("/tables/fresh_docs")
      postJson("/create_tables", """{"table_name": "fresh_docs"}""")
      assert(postForm("/insert_from_pickle", "table_name" -> "fresh_docs",
        "pickle_path" -> s"$base/docs/parsed/fresh/v")._1 == 200)
    }
    def pageText(hfp: String): String = {
      val (c, b) = get(s"/document/fresh_idx/$hfp")
      assert(c == 200, s"document failed: $b")
      arr(b).map(p => obj(p).str("page_content").get).mkString
    }
    def topHit(query: String): String = {
      val (c, b) = postJson("/search",
        s"""{"index_name": "fresh_idx", "query_text": "$query",
            "size": 5, "min_score": 0.0}""")
      assert(c == 200, s"search failed: $b")
      obj(obj(b).arr("results").get.head).str("page_content").get
    }
    val index = """{"index_name": "fresh_idx", "table_name": "fresh_docs",
        "hashed_filepath": "HFP"}"""

    stage("Kiwi orchard almanac")
    val hfp = obj(get("/unique-filepath/fresh_docs")._2)
      .arr("hashed_filepaths").get.collectFirst { case JStr(s) => s }.get
    val (c1, b1) = postJson("/index/document", index.replace("HFP", hfp))
    assert(c1 == 200, s"index failed: $b1")
    assert(pageText(hfp).contains("Kiwi orchard almanac"))
    assert(topHit("kiwi orchard").contains("Kiwi orchard almanac"))

    stage("Quokka harbour ledger")
    val (c2, b2) = postJson("/index/document", index.replace("HFP", hfp))
    assert(c2 == 200, s"upsert failed: $b2")
    assert(pageText(hfp).contains("Quokka harbour ledger"))
    assert(!pageText(hfp).contains("Kiwi"))
    assert(topHit("quokka harbour").contains("Quokka harbour ledger"))

    assert(delete("/indices/fresh_idx")._1 == 200)
    val (c3, b3) = postJson("/index/document", index.replace("HFP", hfp))
    assert(c3 == 200, s"re-index failed: $b3")
    assert(pageText(hfp).contains("Quokka harbour ledger"))
    assert(topHit("quokka harbour").contains("Quokka harbour ledger"))
    assert(delete("/indices/fresh_idx")._1 == 200)
  }

  test("error envelope: FastAPI-style detail objects") {
    val (c1, b1) = postJson("/search", """{"index_name": "nope"}""")
    assert(c1 == 400 && obj(b1).fields.contains("detail"))
    val (c2, _) = get("/document/no_index/abc123")
    assert(c2 == 404)
    val (c3, _) = get("/no_such_route")
    assert(c3 == 404)
    val (c4, b4) = get("/select_all") // missing table_name
    assert(c4 == 400 && obj(b4).fields.contains("detail"))
  }
}
