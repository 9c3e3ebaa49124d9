package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.embed.{BatchEmbed, Embedder}
import graft.ingest.{Ingest, PageExtractor, TextPageExtractor}
import graft.table.LocalFs

/** Structured Streaming shapes for the reference's incremental flows
  * (SURVEY.md §2.9): the chunked-upload-then-finalize folder watch
  * becomes a file-source stream with `Trigger.AvailableNow`, and the
  * events table gets the watermarked windowed aggregation the reference
  * never had but a 100 TB pipeline needs.
  *
  * File-source streaming tracks processed files in the checkpoint, so
  * re-running the watch is incremental and idempotent — the per-chunk
  * commit/rollback isolation of the reference (`postgres.py:196-210`)
  * falls out of checkpointing + task retry.
  */
object StreamIngest {

  /** Watch-folder ingest (S2/E1 streaming variant): new binary files →
    * page explode → enrich → embed → partitioned parquet. AvailableNow
    * processes the backlog then stops — the reference's "user pressed
    * the parse button" semantics, restartable incrementally. */
  def watchFolder(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, embedder: Embedder,
      extractor: PageExtractor = TextPageExtractor(),
      glob: String = "*"): StreamingQuery =
    embeddedStream(spark, inDir, embedder, extractor, glob).writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("lv1_cat")
      .trigger(Trigger.AvailableNow())
      .start()

  /** Shared source→parse→enrich→embed stages of the streaming E1. */
  private def embeddedStream(spark: SparkSession, inDir: String,
      embedder: Embedder, extractor: PageExtractor,
      glob: String): DataFrame = {
    // streaming sources require an explicit schema; binaryFile's is fixed
    val binarySchema = StructType(Seq(
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    val files = spark.readStream.format("binaryFile")
      .schema(binarySchema)
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", glob)
      .load(inDir)
    val enriched = Ingest.enrich(
      Ingest.explodePages(files, extractor), inDir)
    BatchEmbed.withEmbedding(
      enriched, "page_content", "embeddings", embedder)
  }

  /** The reference's WHOLE product as one streaming pipeline: watch a
    * folder, parse/enrich/embed new files, and fold each micro-batch
    * into the persisted search index (first batch builds, later batches
    * run [[graft.index.SearchIndex.update]] — touching |batch|, not the
    * corpus). Page identity is `md5(filepath)#page` — deterministic
    * under task retry, and the file source's exactly-once tracking makes
    * batches disjoint, which is precisely update's contract. Search
    * queries over the index see new files after the next trigger: the
    * reference needs an upload API + parse button + ES bulk call for the
    * same loop. */
  def indexPipeline(spark: SparkSession, inDir: String, indexDir: String,
      checkpointDir: String, embedder: Embedder,
      extractor: PageExtractor = TextPageExtractor(),
      glob: String = "*", compactEvery: Int = 0): StreamingQuery =
    embeddedStream(spark, inDir, embedder, extractor, glob).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], batchId: Long) =>
        val pages = batch.withColumn("page_id",
          concat(col("hashed_filepath"), lit("#"), col("page")))
        val docs = pages.select(col("page_id").as("doc_id"),
          col("page_content").as("text"))
        val embs = pages.select(col("page_id").as("vec_id"),
          col("embeddings").as("embedding"))
        if (java.nio.file.Files.exists(
            java.nio.file.Paths.get(indexDir, "stats")))
          graft.index.SearchIndex.update(docs, embs, indexDir,
            dim = embedder.dim)
        else
          graft.index.SearchIndex.build(docs, embs, indexDir,
            dim = embedder.dim)
        // operational hygiene: every update appends a file per touched
        // bucket, so a long-lived pipeline periodically folds them back
        // to one (results identical — SearchIndexSpec). Idempotent, so
        // a replayed batch re-compacting is harmless.
        if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
          { graft.index.SearchIndex.compact(spark, indexDir); () }
      }
      .start()

  /** Online batch serving: a stream of (query_id, text) queries answered
    * per micro-batch with ONE [[graft.index.SearchIndex.hybridBatch]]
    * pass over the index, appended to `outDir` tagged by batch. The
    * query relation is micro-batch-sized (collected driver-side, like
    * any serving frontend holds its in-flight requests); the index scan
    * stays partition-pruned and the per-query top-k k-bounded. */
  def searchServe(queries: DataFrame, indexDir: String, outDir: String,
      checkpointDir: String, embedder: Embedder, k: Int = 10,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], batchId: Long) =>
        val spark = df.sparkSession
        val qs = df.select(col("query_id").cast("long"), col("text"))
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        if (qs.nonEmpty)
          LocalFs.write(graft.index.SearchIndex.hybridBatch(spark, indexDir,
              qs, embedder, size = k)
            .withColumn("batch_id", lit(batchId)))
            .mode("append").parquet(outDir)
      }
      .start()

  /** Apply one batch of CDC rows (the [[graft.table.SnapshotCatalog.diff]]
    * shape: `doc_id`, `text`, `change` ∈ inserted/updated/deleted) to the
    * persisted search index in one [[graft.index.SearchIndex.upsert]]:
    * retract every changed doc_id (the batch itself is the id relation)
    * and (re)index the non-deleted rows. Retract-then-insert makes the
    * WHOLE batch IDEMPOTENT — a replayed batch retracts its own previous
    * application and re-adds identical rows — which is what upgrades the
    * streaming sink's at-least-once `foreachBatch` to an exactly-once
    * index effect, with no cross-store transaction. Cost per batch:
    * |batch| data + the touched buckets, never the corpus. */
  def applyCdcBatch(batch: DataFrame, indexDir: String,
      embedder: Embedder): Unit = {
    val withEmb = BatchEmbed.withEmbedding(
      batch.filter(col("change") =!= "deleted")
        .select(col("doc_id").cast("long").as("doc_id"), col("text")),
      "text", "embedding", embedder)
    val docs = withEmb.select(col("doc_id"), col("text"))
    val embs = withEmb.select(col("doc_id").as("vec_id"), col("embedding"))
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(indexDir, "stats")))
      graft.index.SearchIndex.upsert(batch.sparkSession, indexDir,
        batch.select("doc_id"), docs, embs, dim = embedder.dim)
    else if (!docs.isEmpty)
      graft.index.SearchIndex.build(docs, embs, indexDir, dim = embedder.dim)
  }

  /** Streaming percolation — standing-query alerting over the ingest
    * stream (the streaming composition [[graft.search.TextSearch.percolate]]
    * documents): each micro-batch of documents probes the broadcast
    * standing-query set independently and appends its matches
    * `(doc_id, query_id, batch_id)` to the alert sink. Stateless per
    * batch (the "index" is the query set, not the corpus), so
    * exactly-once needs nothing beyond the sink's idempotent
    * batch_id-keyed append. */
  def percolatePipeline(docs: DataFrame, queries: Seq[(Long, String)],
      outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], batchId: Long) =>
        LocalFs.write(graft.search.TextSearch
            .percolate(df, "doc_id", "text", queries)
            .withColumn("batch_id", lit(batchId)))
          .mode("append").parquet(outDir)
      }
      .start()

  /** Streaming semantic dedup — [[graft.dedup.Dedup.semDedupIncremental]]
    * composed over an embedding stream: each micro-batch dedups against
    * the ACCUMULATED kept corpus (cell-local cosine, frozen centroids),
    * survivors dedup among themselves, and only `keep` rows append to
    * `keptDir` — so the kept corpus is semantically unique across the
    * whole stream, and each batch's cost is |batch| × cell-local-kept,
    * never a corpus re-pair. Decisions for every batch row (kept or
    * not) land in `outDir/batch_id=<n>` for audit. Exactly the
    * ingest-time shape of the SemDeDup curation stage.
    *
    * foreachBatch is at-least-once; both sinks are made idempotent:
    * decisions are skipped when their batch_id partition already exists,
    * and kept-corpus appends anti-join the ids already present, so a
    * replayed batch neither double-records nor double-admits. */
  def semDedupPipeline(embs: DataFrame, centroids: Seq[Array[Float]],
      tau: Double, keptDir: String, outDir: String, checkpointDir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    embs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], batchId: Long) =>
        import java.nio.file.{Files, Paths}
        val spark = df.sparkSession
        val existing =
          if (Files.exists(Paths.get(keptDir)))
            spark.read.parquet(keptDir)
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            df.select(col(idCol), col(vecCol)).schema)
        if (!Files.exists(Paths.get(s"$outDir/batch_id=$batchId"))) {
          LocalFs.write(graft.dedup.Dedup.semDedupIncremental(
              existing, df, idCol, vecCol, centroids, tau)
            .withColumn("batch_id", lit(batchId)))
            .mode("append").partitionBy("batch_id").parquet(outDir)
        }
        // kept appends derive from the COMMITTED decisions and anti-join
        // the ids already admitted — replay-safe even if the previous
        // attempt crashed between the two writes
        if (Files.exists(Paths.get(s"$outDir/batch_id=$batchId"))) {
          val keepIds = spark.read.parquet(outDir)
            .filter(col("batch_id") === batchId && col("keep"))
            .select(col("id").as(idCol))
          LocalFs.write(df.select(col(idCol), col(vecCol))
              .join(keepIds, Seq(idCol), "left_semi")
              .join(existing.select(col(idCol)), Seq(idCol), "left_anti"))
            .mode("append").parquet(keptDir)
        }
      }
      .start()

  /** Streaming index retraction/maintenance: a CDC stream (e.g. replayed
    * [[graft.table.SnapshotCatalog.diff]] output) drives the search
    * index through [[applyCdcBatch]] — inserts, updates AND deletes
    * (PII/takedown) flow into the index incrementally, exactly once.
    * After every processed version the index is equivalent to a rebuild
    * over that version's corpus (StreamIngestSpec pins it). */
  def cdcIndexPipeline(changes: DataFrame, indexDir: String,
      checkpointDir: String, embedder: Embedder,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        applyCdcBatch(df, indexDir, embedder)
      }
      .start()

  /** Streaming materialized-view maintenance: each micro-batch of
    * APPENDED rows is folded into a snapshot-versioned aggregate MV with
    * [[graft.table.MaterializedView]] delta algebra — the MV is read,
    * the batch's contributions merged (append-only stream ⇒ the delta is
    * all-plus), and the result committed via
    * [[graft.table.SnapshotCatalog.commitTagged]] keyed by batch id, so
    * a replayed batch re-points to the already-committed version instead
    * of double-counting — exactly-once without a log. Per micro-batch
    * cost: O(|batch| + |touched groups|) plus the MV rewrite; the
    * corpus behind the MV is never rescanned. */
  def mvMaintainPipeline(rows: DataFrame, catalogDir: String,
      mvName: String, groupCol: String, valueCol: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], batchId: Long) =>
        val spark = df.sparkSession
        val cat = graft.table.SnapshotCatalog(spark, catalogDir)
        val batch = df.localCheckpoint(true)
        val delta = graft.table.MaterializedView.refresh(
          batch, groupCol, valueCol)
        val merged = cat.currentVersion(mvName) match {
          case None => delta
          case Some(_) =>
            val mv = cat.read(mvName)
            mv.join(delta.withColumnRenamed("n_rows", "dn")
                .withColumnRenamed("total", "dv"),
                Seq(groupCol), "full_outer")
              .select(col(groupCol),
                (coalesce(col("n_rows"), lit(0L)) +
                  coalesce(col("dn"), lit(0L))).as("n_rows"),
                (coalesce(col("total"), lit(0).cast(
                    org.apache.spark.sql.types.DataTypes
                      .createDecimalType(18, 4))) +
                  coalesce(col("dv"), lit(0).cast(
                    org.apache.spark.sql.types.DataTypes
                      .createDecimalType(18, 4))))
                  .cast(org.apache.spark.sql.types.DataTypes
                    .createDecimalType(18, 4)).as("total"))
        }
        cat.commitTagged(mvName,
          merged.select(col(groupCol), col("n_rows"),
            col("total").cast(org.apache.spark.sql.types.DataTypes
              .createDecimalType(18, 4))),
          s"mv_batch_$batchId")
        ()
      }
      .start()

  /** Streaming drift gate: every micro-batch's `valueCol` distribution
    * is scored against a FROZEN [[graft.operators.Drift.referenceProfile]]
    * (edges + proportions ride along as broadcast literals — the
    * reference corpus is never rescanned), and one (batch_id, n_rows,
    * psi, alarm) row is appended per batch. The alerting front of a
    * training-data pipeline: a shifted upstream feed trips `psiBar`
    * before the batch reaches curation. Idempotent on replay (output
    * partitioned by batch_id, first write wins). */
  def driftAlertPipeline(rows: DataFrame, valueCol: String,
      edges: Seq[Double], refProps: Seq[Double], psiBar: Double,
      outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], batchId: Long) =>
        if (!java.nio.file.Files.exists(
            java.nio.file.Paths.get(s"$outDir/batch_id=$batchId"))) {
          LocalFs.write(graft.operators.Drift
              .psiAgainstReference(df, valueCol, edges, refProps)
              // fail CLOSED: an empty/failed upstream feed (0 rows) or an
              // undefined psi is an alarm, not a silent pass
              .withColumn("alarm", col("n_rows") === 0 ||
                col("psi").isNull || col("psi") > psiBar)
              .withColumn("batch_id", lit(batchId)))
            .mode("append").partitionBy("batch_id").parquet(outDir)
        }
      }
      .start()

  /** Windowed event aggregation with a watermark: per (window, type)
    * counts/sums, late data beyond `watermark` dropped. State is bounded
    * by the watermark — the only design that survives an unbounded
    * stream. Works on any streaming frame with (ts, event_type, value).
    */
  def eventCountsByWindow(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Streaming OHLC bars — [[graft.operators.Bars.ohlc]]'s windowed
    * twin: per (window, key) open/high/low/close/volume with a
    * watermark bounding state. The open/close struct-min/max trick is
    * what makes this STREAMABLE: min/max are algebraic, so the state
    * per open window is one struct each — a `row_number` formulation
    * would need the whole window buffered. Batch and stream forms
    * share the aggregation semantics (BarsSpec pins agreement). */
  def ohlcStream(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String, windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val d = col(valueCol)
      .cast(org.apache.spark.sql.types.DecimalType(18, 4))
    val first = min(struct(col(tsCol).as("t"), col(idCol).as("i"),
      d.as("v")))
    val last = max(struct(col(tsCol).as("t"), col(idCol).as("i"),
      d.as("v")))
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(
        first.getField("v").cast("double").as("open"),
        max(d).cast("double").as("high"),
        min(d).cast("double").as("low"),
        last.getField("v").cast("double").as("close"),
        count(lit(1)).as("n_events"),
        sum(d).cast("double").as("volume"))
      .select(col("window.start").as("window_start"), col(keyCol),
        col("open"), col("high"), col("low"), col("close"),
        col("n_events"), col("volume"))
  }

  /** File-source stream over a parquet directory (for replaying the
    * events fixture as a stream in tests and backfills). */
  def parquetStream(spark: SparkSession, dir: String,
      schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** Streaming exact dedup: first writer wins per content hash. State is
    * the set of seen hashes, bounded by the event-time watermark (a
    * re-ingested duplicate older than the watermark is already in the
    * sink — the batch dedup pass owns historical dupes; this owns the
    * live stream). */
  def dedupStream(docs: DataFrame, textCol: String, tsCol: String,
      watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("content_hash", org.apache.spark.sql.functions.md5(
        col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicates("content_hash")

  /** Exactly-once streaming sink into a [[graft.table.SnapshotCatalog]]
    * table: each micro-batch commits as a tagged version
    * (`batch=<epoch id>`), so a restarted query replaying a batch that
    * already committed re-points instead of double-writing — foreachBatch
    * alone is at-least-once; the tagged commit makes it exactly-once.
    * Every batch is also a time-travelable snapshot for free. */
  def versionedSink(stream: DataFrame, cat: graft.table.SnapshotCatalog,
      table: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        cat.commitTagged(table, df, s"batch=$batchId")
        ()
      }
      .start()

  /** Dedup an incoming stream against a STATIC historical corpus as well
    * as within itself: the gate a continuously-fed training corpus needs
    * (new crawl batches must not re-admit documents already ingested).
    * The corpus side is a lazy batch frame of content hashes — Spark
    * plans a stream-static left_anti join per micro-batch, re-reading
    * only the corpus partitions a predicate allows; at 100 TB the hash
    * table is the dedup INDEX (narrow: one md5 per doc), not the corpus
    * itself. In-stream duplicates are then dropped by watermarked state
    * as in [[dedupStream]]. */
  def dedupAgainstCorpus(incoming: DataFrame, corpus: DataFrame,
      textCol: String, tsCol: String,
      watermark: String = "1 hour"): DataFrame = {
    val corpusHashes = corpus.select(
      org.apache.spark.sql.functions.md5(col(textCol)).as("content_hash"))
      .distinct()
    incoming
      .withColumn("content_hash", org.apache.spark.sql.functions.md5(
        col(textCol)))
      .join(corpusHashes, Seq("content_hash"), "left_anti")
      .withWatermark(tsCol, watermark)
      .dropDuplicates("content_hash")
  }

  /** Stream-stream inner join with a time bound: for each left event,
    * right events of the same user within `[l.ts, l.ts + within]`.
    * Both sides carry watermarks, and the range condition bounds the
    * join state on BOTH sides — without it Spark must buffer either
    * stream forever. This is the attribution-join shape (click →
    * purchase) of a behavioral pipeline.
    */
  def correlate(left: DataFrame, right: DataFrame,
      within: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val l = left.select(col("user_id").as("l_user"), col("ts").as("l_ts"),
        col("event_id").as("l_event"))
      .withWatermark("l_ts", watermark)
    val r = right.select(col("user_id").as("r_user"), col("ts").as("r_ts"),
        col("event_id").as("r_event"), col("value").as("r_value"))
      .withWatermark("r_ts", watermark)
    l.join(r, col("l_user") === col("r_user") &&
      col("r_ts") >= col("l_ts") &&
      col("r_ts") <= col("l_ts") + expr(s"INTERVAL $within"))
      .select(col("l_user").as("user_id"), col("l_event"), col("r_event"),
        col("l_ts"), col("r_ts"), col("r_value"))
  }

  /** LEFT OUTER variant of [[correlate]]: every left event emits, with
    * null right columns when nothing matched inside the window. The
    * null rows are emitted only once the WATERMARK proves no match can
    * still arrive — the state-cleanup semantics that make outer
    * stream-stream joins subtle (an inner join can discard state as soon
    * as it matches; the outer side must hold each left row until its
    * window is provably closed). Unmatched-click attribution in one
    * operator. */
  def correlateOuter(left: DataFrame, right: DataFrame,
      within: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val l = left.select(col("user_id").as("l_user"), col("ts").as("l_ts"),
        col("event_id").as("l_event"))
      .withWatermark("l_ts", watermark)
    val r = right.select(col("user_id").as("r_user"), col("ts").as("r_ts"),
        col("event_id").as("r_event"), col("value").as("r_value"))
      .withWatermark("r_ts", watermark)
    l.join(r, col("l_user") === col("r_user") &&
      col("r_ts") >= col("l_ts") &&
      col("r_ts") <= col("l_ts") + expr(s"INTERVAL $within"), "left_outer")
      .select(col("l_user").as("user_id"), col("l_event"), col("r_event"),
        col("l_ts"), col("r_ts"), col("r_value"))
  }

  /** Custom stateful operator (reference has nothing like it; a 100 TB
    * pipeline needs it): running per-user event statistics maintained
    * with mapGroupsWithState — count, value sum and last-seen time per
    * user, emitted once per micro-batch. */
  def runningUserStats(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    case class S(n: Long, sum: Double, lastTs: java.sql.Timestamp)
    events
      .select(col("user_id").cast("long").as[Long],
        struct(col("ts"), col("value")).as[(java.sql.Timestamp, Double)])
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Double, java.sql.Timestamp),
        (Long, Long, Double, java.sql.Timestamp)](
        GroupStateTimeout.NoTimeout()) { case (user, rows, state) =>
        val prev = state.getOption.getOrElse(
          (0L, 0.0, new java.sql.Timestamp(0L)))
        val next = rows.foldLeft(prev) { case ((n, s, last), (_, (ts, v))) =>
          (n + 1, s + v, if (ts.after(last)) ts else last)
        }
        state.update(next)
        (user, next._1, next._2, next._3)
      }
      .toDF("user_id", "n_events", "sum_value", "last_ts")
  }
}
