package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.embed.{BatchEmbed, Embedder}
import graft.functions.TextFunctions
import graft.table.LocalFs

/** Per-page text extracted from one source file (reference S4: Docling
  * parses a PDF into one markdown Document per page,
  * `/root/reference/backend/process/parsing.py:98-133`; failures degrade
  * to a `status="fail"` row, never abort the file, `:134-155`). */
final case class PageText(page: Int, text: String, error: Option[String])

/** One source file → pages. Implementations must be Serializable: they
  * are constructed once per PARTITION inside `mapPartitions` (mirroring
  * the reference's parser-instance reuse, `parsing.py:49`), never per
  * row, and never on the driver loop.
  *
  * Three implementations: [[PdfPageExtractor]] parses real PDFs
  * (pure-JVM, no dependency — see [[Pdf]]; pinned against the
  * reference's committed PDFs in IngestGoldenSpec);
  * [[TextPageExtractor]] treats bytes as UTF-8 text with form-feed
  * pages; [[MarkdownPageExtractor]] adds Docling-style markdown table
  * export on top of the text shape. */
trait PageExtractor extends Serializable {
  def extract(path: String, content: Array[Byte]): Seq[PageText]
}

final case class TextPageExtractor(maxPages: Int = 10000) extends PageExtractor {
  def extract(path: String, content: Array[Byte]): Seq[PageText] =
    try {
      val text  = new String(content, "UTF-8")
      val pages = text.split("\f", -1).take(maxPages)
      pages.zipWithIndex.map { case (t, i) => PageText(i + 1, t, None) }.toSeq
    } catch {
      case e: Exception => Seq(PageText(0, "", Some(e.getMessage)))
    }
}

/** Docling-export semantics on text stand-ins (reference S4: Docling
  * exports each PDF page as MARKDOWN with table structure,
  * `/root/reference/backend/process/parsing.py:98-133`): pages split on
  * form-feed, contiguous runs of tab-delimited lines with equal arity
  * become markdown tables (header + `---` separator + rows), and byte
  * decoding falls back from strict UTF-8 to Latin-1 instead of emitting
  * replacement chars — the decode-fallback behavior a real parser chain
  * has. The OCR leg of the reference needs a model runtime and stays out
  * of this build; everything up to it is real and tested. */
final case class MarkdownPageExtractor(maxPages: Int = 10000)
    extends PageExtractor {

  private def decode(b: Array[Byte]): String = {
    val strict = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    try strict.decode(java.nio.ByteBuffer.wrap(b)).toString
    catch {
      case _: java.nio.charset.CharacterCodingException =>
        new String(b, "ISO-8859-1")
    }
  }

  private def cells(line: String): Array[String] =
    line.split("\t", -1).map(_.trim)

  private def toMarkdown(page: String): String = {
    val lines = page.split("\n", -1)
    val out   = new StringBuilder
    var i = 0
    while (i < lines.length) {
      val arity = cells(lines(i)).length
      var j = i
      if (arity >= 2) {
        while (j < lines.length && cells(lines(j)).length == arity) j += 1
      }
      if (arity >= 2 && j - i >= 2) { // header + at least one data row
        val header = cells(lines(i))
        out ++= header.mkString("| ", " | ", " |\n")
        out ++= header.map(_ => "---").mkString("| ", " | ", " |\n")
        (i + 1 until j).foreach { k =>
          out ++= cells(lines(k)).mkString("| ", " | ", " |\n")
        }
        i = j
      } else {
        out ++= lines(i); out += '\n'; i += 1
      }
    }
    out.toString.stripLineEnd
  }

  def extract(path: String, content: Array[Byte]): Seq[PageText] =
    try {
      decode(content).split("\f", -1).take(maxPages).zipWithIndex
        .map { case (t, i) => PageText(i + 1, toMarkdown(t), None) }.toSeq
    } catch {
      case e: Exception => Seq(PageText(0, "", Some(e.getMessage)))
    }
}

/** E1 ingest pipeline: binary scan → page explode → clean/hash/uuid/
  * category enrichment → batch embed → partitioned parquet (reference
  * upload→parse→embed→pickle→RDB flow, SURVEY.md §3 E1).
  *
  * Spark shape: `Relation(binaryFile) → Generate(pages) → Project(enrich)
  * → MapPartitions(embed) → WriteFiles(partitionBy lv1_cat)` — one job,
  * no shuffle before the write, no collect-to-driver, no per-row external
  * calls. At 100 TB each executor streams its files through extractor and
  * embedder instances created once per partition. */
object Ingest {

  /** S1/S3/P5 — recursive binary scan with glob filter. `path`,
    * `modificationTime`, `length`, `content` columns. */
  def scanBinaryFiles(spark: SparkSession, dir: String,
      glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", glob)
      .load(dir)

  /** S4 — one file row → one row per page (the reference's only UDTF
    * shape). Fail-soft: extractor errors become `status="fail"` rows. */
  def explodePages(files: DataFrame, extractor: PageExtractor): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    files.select("path", "content").as[(String, Array[Byte])]
      .mapPartitions { it =>
        // extractor methods run here, once per partition's stream
        it.flatMap { case (path, content) =>
          extractor.extract(path, content).map(pt =>
            (path, pt.page, pt.text, pt.error.orNull,
              if (pt.error.isDefined) "fail" else "success"))
        }
      }
      .toDF("filepath", "page", "page_content", "error", "status")
  }

  /** A4 — pages per source file (reference `len(pdf.pages)`,
    * `parsing.py:200-202`). */
  def pageCounts(pages: DataFrame): DataFrame =
    pages.groupBy("filepath")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_pages"))

  /** Reference metadata enrichment (F1–F6, F8, F9, F12, F13): clean the
    * page text, prepend the context sentence, derive category levels from
    * the path relative to `baseDir`, hash everything with md5, mint a
    * uuid id and timestamps. Produces the reference's 15-column document
    * schema (SURVEY.md §1.1) typed properly (page int, not string). */
  def enrich(pages: DataFrame, baseDir: String): DataFrame = {
    // binaryFile paths are URIs (file:/..., hdfs://...); strip the scheme
    // so category extraction is relative to the plain base directory.
    val norm = regexp_replace(
      TextFunctions.normalizePath(col("filepath")), "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/")
    val rel  = regexp_replace(norm,
      "^" + java.util.regex.Pattern.quote(
        baseDir.replace('\\', '/').stripSuffix("/") + "/"), "")
    val relParts = split(rel, "/")
    def cat(i: Int) = // levels are the directories above the file
      coalesce(when(size(relParts) > i, try_element_at(relParts, lit(i))),
        lit(""))
    val stem  = TextFunctions.pathStem(col("filepath"))
    val cats  = array_join(filter(array(col("lv1_cat"), col("lv2_cat"),
      col("lv3_cat"), col("lv4_cat")), c => c =!= ""), ",")
    pages
      .withColumn("filepath", norm)
      .withColumn("filename", regexp_extract(norm, "([^/]+)$", 1))
      .withColumn("lv1_cat", cat(1))
      .withColumn("lv2_cat", cat(2))
      .withColumn("lv3_cat", cat(3))
      .withColumn("lv4_cat", cat(4))
      .withColumn("page_content",
        when(col("status") === "success",
          concat(lit("This page explains "), stem,
            lit(" that belongs to "), cats, lit(" categories.\n"),
            TextFunctions.cleanText(col("page_content"))))
          .otherwise(col("page_content")))
      .withColumn("hashed_filename", md5(col("filename")))
      .withColumn("hashed_filepath", md5(col("filepath")))
      .withColumn("hashed_page_content", md5(col("page_content")))
      .withColumn("id", uuid())
      .withColumn("created_at", current_timestamp())
      .withColumn("updated_at", current_timestamp())
  }

  /** Full E1: scan → explode → enrich → embed → write, partitioned by
    * top category (S5 — replaces the reference's per-file pickles with
    * partition-pruned parquet). Returns the enriched frame for chaining.
    */
  def pipeline(spark: SparkSession, inDir: String, outDir: String,
      embedder: Embedder, extractor: PageExtractor = TextPageExtractor(),
      glob: String = "*"): DataFrame = {
    val enriched = enrich(
      explodePages(scanBinaryFiles(spark, inDir, glob), extractor), inDir)
    val embedded = BatchEmbed.withEmbedding(
      enriched, "page_content", "embeddings", embedder)
    LocalFs.write(embedded).mode("overwrite").partitionBy("lv1_cat")
      .parquet(outDir)
    embedded
  }
}
