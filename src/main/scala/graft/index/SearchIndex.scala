package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.embed.Embedder
import graft.functions.{TextFunctions, VectorFunctions}
import graft.search.TextSearch
import graft.table.LocalFs

/** Persisted search index (reference E2: RDB rows → Elasticsearch index,
  * `/root/reference/backend/process/elasticsearch_index.py:113-172`; the
  * ES index IS the reference's query engine — here it is a set of
  * partition-pruned parquet tables owned by this engine).
  *
  * Layout under `indexDir`:
  *  - `postings/`  (term, doc_id, tf, dl) partitioned by `term_bucket =
  *    pmod(hash(term), nBuckets)` — a query's terms map to a handful of
  *    buckets, so a probe scans |terms| partitions, not the corpus.
  *  - `docfreq/`   (term, df) same bucketing — BM25 idf without touching
  *    postings.
  *  - `stats/`     one row: (n_docs, avgdl).
  *  - `vectors/`   (doc_id, embedding) partitioned by `lsh_bucket` —
  *    an ANN probe reads only the buckets within the probe radius
  *    (IVF-style partition pruning; the ES `num_candidates` knob becomes
  *    the Hamming probe radius).
  *
  * Build is one postings pass over docs (postings, df and stats share
  * one persisted relation), one positions pass and one pass over
  * embeddings. At 100 TB all are embarrassingly parallel writes;
  * queries never scan the corpus.
  */
object SearchIndex {

  val TermBuckets = 64
  val LshBits     = 8

  /** md5-derived bucket — trivially reproducible on the driver (and in
    * any engine), unlike Spark's internal murmur3 `hash()`. */
  def termBucket(term: org.apache.spark.sql.Column) =
    pmod(TextFunctions.md5Long(term), lit(TermBuckets.toLong)).cast("int")

  /** Driver-side twin of [[termBucket]]. */
  def termBucketOf(term: String): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes("UTF-8"))
    val hex = d.map(b => f"$b%02x").mkString.take(15)
    (java.lang.Long.parseLong(hex, 16) % TermBuckets).toInt
  }

  /** Build/overwrite all index tables. The postings are computed once
    * and persisted: written, then summed into docfreq and stats from
    * the cached relation, never read back from disk. */
  def build(docs: DataFrame, embs: DataFrame, indexDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      vecIdCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64): Unit = {
    val all = Delta(docs, embs, idCol, textCol, vecIdCol, vecCol, dim)
    val postings = all.postings.persist()
    try {
      IndexDirs.writeBuckets(postings, s"$indexDir/postings", "term_bucket",
        "overwrite")
      IndexDirs.writeBuckets(all.positions, s"$indexDir/positions",
        "term_bucket", "overwrite")
      IndexDirs.writeBuckets(postings.groupBy("term_bucket", "term")
          .agg(countDistinct("doc_id").cast("double").as("df")),
        s"$indexDir/docfreq", "term_bucket", "overwrite")
      // sum_dl is kept alongside avgdl so incremental update can merge
      // stats EXACTLY: dl values are integer-valued doubles, so their sum
      // is order-independent and avgdl' = sum'/n' is bit-identical to a
      // full rebuild (n*avgdl would NOT reconstruct the sum exactly)
      LocalFs.write(postings.select("doc_id", "dl").distinct()
          .agg(count(lit(1)).cast("double").as("n_docs"),
            avg("dl").as("avgdl"), sum("dl").as("sum_dl")))
        .mode("overwrite").parquet(s"$indexDir/stats")
    } finally postings.unpersist()
    IndexDirs.writeBuckets(all.vectors, s"$indexDir/vectors", "lsh_bucket",
      "overwrite")
    invalidateAll(docs.sparkSession, indexDir)
  }

  /** Query-side reads go through the session plan cache (file listing +
    * footer reads over ~320 bucket dirs are paid once, not per query);
    * any mutation invalidates the four table plans. */
  private def cachedTable(spark: SparkSession, indexDir: String,
      name: String): DataFrame =
    graft.Tables.loadPath(spark, s"$indexDir/$name")

  private def invalidateAll(spark: SparkSession, indexDir: String): Unit =
    Seq("postings", "positions", "docfreq", "stats", "vectors")
      .foreach(t => graft.Tables.invalidate(spark, s"$indexDir/$t"))

  /** Incremental index maintenance: fold a batch of NEW docs (disjoint
    * doc_ids from what's indexed) into an existing index without a
    * rebuild. Postings, positions and vectors are partition-local
    * appends; docfreq and stats are exact merges (disjoint doc sets → df
    * adds, integer-valued dl sums add) — query results after update are
    * bit-identical to a full rebuild over the union (SearchIndexSpec).
    * At 100 TB this is the difference between touching |batch| data and
    * touching the corpus. */
  def update(newDocs: DataFrame, newEmbs: DataFrame, indexDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      vecIdCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64,
      store: graft.table.CommitStore = graft.table.LocalCommitStore): Unit =
    mutate(newDocs.sparkSession, indexDir, None,
      Some(Delta(newDocs, newEmbs, idCol, textCol, vecIdCol, vecCol, dim)),
      store)

  /** ES `_id` upsert (`es_index.py:51-69`): retract the doc ids in the
    * relation `retract`, then fold `newDocs`/`newEmbs` in — one
    * mutation, so every bucket both sides touch is rewritten once.
    * Result ≡ [[bulkDelete]] then [[update]] ≡ a rebuild over the
    * survivors plus the new docs (SearchIndexSpec). */
  def upsert(spark: SparkSession, indexDir: String, retract: DataFrame,
      newDocs: DataFrame, newEmbs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      vecIdCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64,
      store: graft.table.CommitStore = graft.table.LocalCommitStore): Unit =
    mutate(spark, indexDir, Some(retract),
      Some(Delta(newDocs, newEmbs, idCol, textCol, vecIdCol, vecCol, dim)),
      store)

  /** Doc-level retraction (PII / takedown) driven by a RELATION of ids
    * (its first column, cast to long): every query after it behaves
    * exactly as if the index had been built without those docs — terms
    * whose df reaches 0 leave the dictionary (SearchIndexSpec pins
    * delete ≡ rebuild). The reference can only drop a whole index
    * (`elasticsearch_index.py:325-350`). The ids stay a DataFrame end to
    * end (semi-join for victims, anti-join for survivors), so a 10⁶-id
    * backfill retraction has the same shape as a one-doc takedown; the
    * only driver-side lists are touched-bucket ids. */
  def bulkDelete(spark: SparkSession, indexDir: String, ids: DataFrame,
      store: graft.table.CommitStore = graft.table.LocalCommitStore): Unit =
    mutate(spark, indexDir, Some(ids), None, store)

  /** Shard merge: fold the index at `srcDir` into the index at `dstDir`
    * (disjoint doc sets — the shard-per-partition build pattern, e.g.
    * one index per ingest slice merged into the serving index). Both
    * sides bucket with the same [[termBucket]]/LSH expressions, so the
    * src tables are the delta of an [[update]] as they lie — query
    * results after merge are bit-identical to one build over the union
    * (SearchIndexSpec). Touches src-sized data plus the touched docfreq
    * buckets, never dst's postings. */
  def merge(spark: SparkSession, srcDir: String, dstDir: String,
      store: graft.table.CommitStore = graft.table.LocalCommitStore): Unit =
    mutate(spark, dstDir, None, Some(Delta(
      spark.read.parquet(s"$srcDir/postings"),
      spark.read.parquet(s"$srcDir/positions"),
      spark.read.parquet(s"$srcDir/vectors"))), store)

  /** The postings, positions and vectors of docs being added (by a
    * build, all of them), bucketed like the index tables. */
  private final case class Delta(postings: DataFrame, positions: DataFrame,
      vectors: DataFrame)

  private object Delta {
    def apply(docs: DataFrame, embs: DataFrame, idCol: String,
        textCol: String, vecIdCol: String, vecCol: String,
        dim: Int): Delta = Delta(
      TextSearch.buildPostings(docs, idCol, textCol)
        .withColumn("term_bucket", termBucket(col("term"))),
      TextSearch.positionalPostings(docs, idCol, textCol)
        .withColumn("term_bucket", termBucket(col("term"))),
      embs.select(col(vecIdCol).as("doc_id"), col(vecCol).as("embedding"))
        .withColumn("lsh_bucket",
          VectorFunctions.lshSignature(col("embedding"), dim, LshBits)))
  }

  /** The one mutation behind [[update]], [[upsert]], [[bulkDelete]] and
    * [[merge]]: retract the doc ids of `retract`, fold `delta` in.
    *
    *  1. Summarize both sides: the victims' postings (a semi-join of the
    *     live postings) and the delta's, each read once into a [[Side]].
    *  2. Docfreq: one signed merge over the touched term buckets. A
    *     postings row is one (doc, term) pair, so `live + inc − dec` is a
    *     sum of the live df and ±1 per delta/victim row; `df > 0` keeps
    *     a term whose last doc left out of the dictionary, as a rebuild
    *     would have it.
    *  3. Stats: one swap, `n_docs`/`sum_dl` plus the delta's minus the
    *     victims'. dl and tf values are integer-valued doubles, so the
    *     sums are exact and `avgdl` is bit-identical to a rebuild.
    *  4. Postings, positions, vectors: each bucket holding a victim is
    *     rewritten once, survivors plus the delta's rows for it; the
    *     delta's rows for every other bucket are appended. A doc's
    *     positions sit in the same term buckets as its postings (both
    *     come from [[TextFunctions.tokens]]), so one touched list serves
    *     both tables.
    *
    * Every read of the victims' postings runs before the postings swap,
    * which removes them: a victim lineage evaluated after it would find
    * no rows. Every rewrite goes through the staged bucket swap of
    * [[IndexDirs.swapBuckets]]: buckets neither side touches keep their
    * exact bytes. The driver holds only touched-bucket lists, bounded by
    * the bucket space, never by |ids| or |delta|. */
  private def mutate(spark: SparkSession, indexDir: String,
      retract: Option[DataFrame], delta: Option[Delta],
      store: graft.table.CommitStore): Unit = {
    // caller data, not index lineage: stays valid across the swaps
    val ids = retract.map(r =>
      r.select(col(r.columns.head).cast("long").as("doc_id")))
    val inc = delta.map(_.postings.persist())
    try {
      val victims = ids.map(cachedTable(spark, indexDir, "postings")
        .join(_, Seq("doc_id"), "left_semi")
        .select("term_bucket", "term", "doc_id", "tf"))
      val (decSide, incSide) = (side(victims), side(inc))
      // a retraction that hits no indexed doc adds nothing to the merge
      val dec = victims.filter(_ => decSide.nDocs > 0)
      val retracted = decSide.buckets

      val touched = (retracted ++ incSide.buckets).distinct.sorted
      if (touched.nonEmpty) {
        def signed(p: DataFrame, sign: Double) =
          p.select(col("term_bucket"), col("term"), lit(sign).as("df"))
        val mergedDf = (Seq(cachedTable(spark, indexDir, "docfreq")
            .filter(col("term_bucket").isin(touched: _*))
            .select("term_bucket", "term", "df")) ++
            inc.map(signed(_, 1.0)) ++ dec.map(signed(_, -1.0)))
          .reduce(_ unionByName _)
          .groupBy("term_bucket", "term").agg(sum("df").as("df"))
          .filter(col("df") > 0)
        IndexDirs.swapBuckets(mergedDf, s"$indexDir/docfreq", "term_bucket",
          touched, store)

        val n = col("n_docs") + (incSide.nDocs - decSide.nDocs)
        val sumDl = col("sum_dl") + (incSide.sumDl - decSide.sumDl)
        // retracting the LAST doc sends n_docs to 0: avgdl is 0/0,
        // defined as 0.0 (ANSI would fail the write)
        IndexDirs.writeSwap(cachedTable(spark, indexDir, "stats")
            .select(n.as("n_docs"),
              coalesce(try_divide(sumDl, n), lit(0.0)).as("avgdl"),
              sumDl.as("sum_dl")),
          s"$indexDir/stats", store)
      }

      foldBuckets(spark, indexDir, "postings", "term_bucket", ids,
        retracted, Some(incSide.buckets), inc, store)
      foldBuckets(spark, indexDir, "positions", "term_bucket", ids,
        retracted, Some(incSide.buckets), delta.map(_.positions), store)
      val retractedV = ids.fold(Seq.empty[Long])(i => IndexDirs.bucketsOf(
        cachedTable(spark, indexDir, "vectors").join(i, Seq("doc_id"), "left_semi"),
        "lsh_bucket"))
      // the delta's vector buckets are only worth a job when a rewrite
      // may already hold all of them
      val addedV =
        if (retractedV.isEmpty) None
        else delta.map(d => IndexDirs.bucketsOf(d.vectors, "lsh_bucket"))
      foldBuckets(spark, indexDir, "vectors", "lsh_bucket", ids,
        retractedV, addedV, delta.map(_.vectors), store)
    } finally {
      inc.foreach(_.unpersist())
      invalidateAll(spark, indexDir)
    }
  }

  /** One side of a mutation (the victims' or the delta's postings),
    * read once before any swap: its term buckets, docs and dl sum (a
    * doc's tf values add up to its dl). */
  private final case class Side(buckets: Seq[Long], nDocs: Double,
      sumDl: Double)

  private def side(postings: Option[DataFrame]): Side =
    postings.fold(Side(Nil, 0, 0)) { p =>
      val r = p.agg(collect_set(col("term_bucket").cast("long")),
        countDistinct("doc_id"), sum("tf")).head()
      Side(r.getSeq[Long](0).sorted, r.getLong(1).toDouble,
        if (r.isNullAt(2)) 0.0 else r.getDouble(2))
    }

  /** One table's share of [[mutate]]: the `retracted` buckets are
    * rewritten once (survivors of `ids` plus `rows` for those buckets);
    * `rows` for the other buckets are appended. `added` (the buckets of
    * `rows`, when known) skips an empty append. */
  private def foldBuckets(spark: SparkSession, indexDir: String,
      table: String, bucketCol: String, ids: Option[DataFrame],
      retracted: Seq[Long], added: Option[Seq[Long]], rows: Option[DataFrame],
      store: graft.table.CommitStore): Unit = {
    val dir = s"$indexDir/$table"
    val inRetracted = col(bucketCol).isin(retracted: _*)
    if (retracted.nonEmpty) {
      val live = cachedTable(spark, indexDir, table).filter(inRetracted)
      val survivors = ids.fold(live)(live.join(_, Seq("doc_id"), "left_anti"))
      IndexDirs.swapBuckets(
        rows.fold(survivors)(r => survivors.unionByName(r.filter(inRetracted))),
        dir, bucketCol, retracted, store)
    }
    for (r <- rows if added.forall(_.exists(b => !retracted.contains(b))))
      IndexDirs.appendBuckets(
        if (retracted.isEmpty) r else r.filter(!inRetracted),
        dir, bucketCol, store)
  }

  /** Fuzzy query-term expansion (ES `fuzziness: 1`): match each query
    * term against the index DICTIONARY (docfreq — vocabulary-scale, not
    * the postings) within Levenshtein distance `maxEdits`, and return
    * the matched index terms. The scan is the dictionary, bounded by
    * vocabulary size; the result is metadata-scale (a few terms per
    * query term), so callers collect it and feed [[bm25]]. */
  def fuzzyExpandTerms(spark: SparkSession, indexDir: String,
      query: String, maxEdits: Int = 1): Seq[String] = {
    import spark.implicits._
    val qTerms = query.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      .distinct.toSeq
    if (qTerms.isEmpty) return Nil
    val qdf = qTerms.toDF("qterm")
    cachedTable(spark, indexDir, "docfreq")
      .select("term").distinct()
      .join(broadcast(qdf),
        levenshtein(col("term"), col("qterm")) <= maxEdits)
      .select("term").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
  }

  /** Fuzzy BM25: expand, then score the expanded terms through the
    * standard partition-pruned [[bm25]] path. */
  def bm25Fuzzy(spark: SparkSession, indexDir: String, query: String,
      maxEdits: Int = 1): DataFrame = {
    val terms = fuzzyExpandTerms(spark, indexDir, query, maxEdits)
    bm25(spark, indexDir, terms.mkString(" "))
  }

  /** Wildcard query-term expansion (ES `wildcard` query: `*` = any run
    * of characters, `?` = exactly one): match the pattern against the
    * index DICTIONARY (docfreq — vocabulary-scale, never the postings),
    * capped at `maxExpansions` in term order (the ES rewrite cap that
    * keeps a pathological `*` from exploding the downstream query).
    * Metadata-scale result, so callers collect it. */
  def wildcardExpandTerms(spark: SparkSession, indexDir: String,
      pattern: String, maxExpansions: Int = 50): Seq[String] = {
    val like = pattern.replace("\\", "\\\\").replace("%", "\\%")
      .replace("_", "\\_").replace('*', '%').replace('?', '_')
    cachedTable(spark, indexDir, "docfreq")
      .select("term").distinct()
      .filter(col("term").like(like))
      .orderBy("term").limit(maxExpansions)
      .collect().map(_.getString(0)).toSeq
  }

  /** ES `wildcard` query scored like a bool-should over the expansions:
    * expand against the dictionary, then the standard partition-pruned
    * [[bm25]] path — reference semantics (`elasticsearch_index.py`
    * match/term requests generalized to pattern matching), index-probe
    * cost. */
  def bm25Wildcard(spark: SparkSession, indexDir: String, pattern: String,
      maxExpansions: Int = 50): DataFrame = {
    val terms = wildcardExpandTerms(spark, indexDir, pattern, maxExpansions)
    if (terms.isEmpty)
      spark.range(0).select(col("id").as("doc_id"),
        col("id").cast("double").as("text_score"))
    else bm25(spark, indexDir, terms.mkString(" "))
  }

  /** ES `match_phrase_prefix` over the persisted positional postings:
    * the phrase's leading terms must match exactly and the LAST term is
    * a prefix — expanded against the dictionary (vocabulary-scale scan,
    * `maxExpansions` cap in term order, as ES caps it), then one
    * partition-pruned positions probe over fixed+expanded terms and the
    * same start-alignment algebra as [[phrase]], with every expansion
    * sharing the last slot index (a start matches if ANY expansion sits
    * at it). Returns (doc_id, n_occurrences = distinct matching starts). */
  def phrasePrefix(spark: SparkSession, indexDir: String,
      phraseText: String, maxExpansions: Int = 50): DataFrame = {
    import spark.implicits._
    val terms = TextSearch.phraseTerms(phraseText)
    require(terms.nonEmpty, "phrasePrefix needs at least one term")
    val fixed = terms.init.toSeq
    val exp = cachedTable(spark, indexDir, "docfreq")
      .select("term").distinct()
      .filter(col("term").startsWith(terms.last))
      .orderBy("term").limit(maxExpansions)
      .collect().map(_.getString(0)).toSeq
    if (exp.isEmpty)
      return spark.range(0).select(col("id").as("doc_id"),
        col("id").as("n_occurrences"))
    // (term, slot) pairs: fixed terms take their phrase position, every
    // expansion takes the last slot — countDistinct(idx) over a start
    // then needs all |fixed|+1 slots filled, any expansion satisfying
    // the last one (exactly ES's per-position term set).
    val pairs = fixed.zipWithIndex ++ exp.map(t => (t, fixed.length))
    val allTerms = pairs.map(_._1).distinct
    val buckets = allTerms.map(termBucketOf).distinct
    val pp = cachedTable(spark, indexDir, "positions")
      .filter(col("term_bucket").isin(buckets: _*) &&
        col("term").isin(allTerms: _*))
      .select("doc_id", "pos", "term")
    val ph = pairs.toDF("term", "idx")
    pp.join(broadcast(ph), "term")
      .groupBy(col("doc_id"), (col("pos") - col("idx")).as("start"))
      .agg(countDistinct("idx").as("m"))
      .filter(col("m") === (fixed.length + 1))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_occurrences"))
  }

  /** ES `significant_terms`: terms over-represented in a foreground doc
    * set — here the docs matching `fgTerm`, found by a partition-pruned
    * postings probe — relative to the corpus background. The
    * foreground's term vectors are re-read from `docs` through a
    * broadcast join on doc_id (cost O(|foreground|), never a corpus
    * re-scan); background docfreq and corpus size come straight from
    * the index dictionary and stats (vocabulary-/metadata-scale). JLH
    * score, as in ES: (fgPct - bgPct) * fgPct / bgPct, keeping only
    * terms with positive lift. */
  def significantTerms(spark: SparkSession, indexDir: String,
      docs: DataFrame, fgTerm: String, topN: Int = 10): DataFrame = {
    val fgIds = cachedTable(spark, indexDir, "postings")
      .filter(col("term_bucket") === termBucketOf(fgTerm) &&
        col("term") === fgTerm)
      .select("doc_id")
    // fgToks feeds BOTH the per-term counts and the foreground size —
    // materialize once (it is |foreground|-scale) so the corpus scan
    // behind it runs once, not per consumer. Lazy checkpoint, not
    // persist: the blocks are ContextCleaner-collected with the query
    // (a persist here leaked one cache per significantTerms call into
    // the session CacheManager)
    val fgToks = graft.operators.Ckpt(docs.join(broadcast(fgIds), "doc_id")
      .select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("term"))
      .distinct(), eager = false)
    val fgAgg = fgToks.groupBy("term").agg(count(lit(1)).as("fg_df"))
    val fgN = fgToks.agg(countDistinct("doc_id").as("fg_n"))
    cachedTable(spark, indexDir, "docfreq").select("term", "df")
      .join(broadcast(fgAgg), "term")
      .crossJoin(broadcast(fgN))
      .crossJoin(broadcast(
        cachedTable(spark, indexDir, "stats").select("n_docs")))
      .filter(col("term") =!= fgTerm)
      .withColumn("fg_pct", col("fg_df") / col("fg_n"))
      .withColumn("bg_pct", col("df") / col("n_docs"))
      .filter(col("fg_pct") > col("bg_pct"))
      .select(col("term"), col("fg_df"), col("df").cast("long").as("bg_df"),
        round((col("fg_pct") - col("bg_pct")) * col("fg_pct") / col("bg_pct"),
          6).as("sig"))
      .orderBy(col("sig").desc, col("term").asc)
      .limit(topN)
  }

  /** The `more_like_this` term-mining step: the seed document's top
    * `maxTerms` terms by tf·idf. Driver-side over ONE document plus a
    * bucket-pruned dictionary lookup — query planning, not a data pass.
    * The idf is the same BM25 idf the scorer uses (and the same
    * expression shape as the oracle SQL), so "interesting" means
    * exactly what the ranking rewards. */
  def mltTerms(spark: SparkSession, indexDir: String, docs: DataFrame,
      seedDocId: Long, maxTerms: Int = 5): Seq[String] = {
    val seedTf = docs.filter(col("doc_id") === seedDocId)
      .select(explode(TextFunctions.tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("tf"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(seedTf.nonEmpty, s"seed doc $seedDocId missing or empty")
    val buckets = seedTf.keys.map(termBucketOf).toSeq.distinct
    val dfMap = cachedTable(spark, indexDir, "docfreq")
      .filter(col("term_bucket").isin(buckets: _*) &&
        col("term").isin(seedTf.keys.toSeq: _*))
      .select("term", "df")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val n = cachedTable(spark, indexDir, "stats")
      .select("n_docs").head().getDouble(0)
    seedTf.toSeq.map { case (t, tf) =>
        val df = dfMap.getOrElse(t, 0.0)
        t -> tf.toDouble * math.log(1.0 + (n - df + 0.5) / (df + 0.5))
      }.sortBy { case (t, s) => (-s, t) }.take(maxTerms).map(_._1)
  }

  /** ES `more_like_this`: [[mltTerms]] feeds the standard
    * partition-pruned [[bm25]] path, excluding the seed itself. */
  def moreLikeThis(spark: SparkSession, indexDir: String, docs: DataFrame,
      seedDocId: Long, maxTerms: Int = 5): DataFrame =
    bm25(spark, indexDir,
        mltTerms(spark, indexDir, docs, seedDocId, maxTerms).mkString(" "))
      .filter(col("doc_id") =!= seedDocId)

  /** ES `search_after` keyset pagination: the page strictly after the
    * cursor (afterScore, afterDocId) in the (score DESC, doc_id ASC)
    * total order. Unlike OFFSET pagination, the cost of page N does not
    * grow with N: every page is the same pruned index probe plus one
    * TakeOrdered of `pageSize` — no global sort, no materialization of
    * the skipped prefix. Scores are rounded to 6 decimals BEFORE the
    * cursor comparison so a cursor read off one page's output is exact
    * against the next page's filter. */
  def searchAfter(spark: SparkSession, indexDir: String, query: String,
      afterScore: Double, afterDocId: Long, pageSize: Int = 10): DataFrame =
    bm25(spark, indexDir, query)
      .select(col("doc_id"), round(col("text_score"), 6).as("bm25"))
      .filter(col("bm25") < afterScore ||
        (col("bm25") === afterScore && col("doc_id") > afterDocId))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(pageSize)

  /** ES completion suggester over the index dictionary: terms with the
    * given prefix, ranked by document frequency. Scans only docfreq —
    * vocabulary-scale, orders of magnitude smaller than the corpus —
    * and returns metadata-scale rows. (term_bucket is hash-derived so a
    * prefix cannot partition-prune; the dictionary being tiny relative
    * to postings is what makes this cheap — the same trade ES makes
    * with its in-heap terms index.) */
  def suggest(spark: SparkSession, indexDir: String, prefix: String,
      n: Int = 10): DataFrame =
    cachedTable(spark, indexDir, "docfreq")
      .filter(col("term").startsWith(prefix))
      .select(col("term"), col("df").cast("long").as("df"))
      .orderBy(col("df").desc, col("term").asc)
      .limit(n)

  /** ES `bool` query over the persisted index: `must` terms all required
    * (and scored), `should` terms optional-but-scored with
    * `minimumShouldMatch`, `filterTerms` required but unscored (ES
    * filter context), `mustNot` terms excluded. ONE partition-pruned
    * postings probe over the union of all clause terms; match flags and
    * the BM25 sum come out of a single per-doc aggregate, so must_not is
    * a flag test — never a separate anti-join pass. */
  def boolSearch(spark: SparkSession, indexDir: String,
      must: Seq[String], should: Seq[String] = Nil,
      mustNot: Seq[String] = Nil, filterTerms: Seq[String] = Nil,
      minimumShouldMatch: Int = 0, size: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val mustD    = must.map(_.toLowerCase).distinct
    val shouldD  = should.map(_.toLowerCase).distinct
    val notD     = mustNot.map(_.toLowerCase).distinct
    val filterD  = filterTerms.map(_.toLowerCase).distinct
    val scoring  = (mustD ++ shouldD).distinct
    val allTerms = (scoring ++ notD ++ filterD).distinct
    require(allTerms.nonEmpty, "bool query needs at least one term")
    val buckets = allTerms.map(termBucketOf).distinct

    val postings = cachedTable(spark, indexDir, "postings")
      .filter(col("term_bucket").isin(buckets: _*) &&
        col("term").isin(allTerms: _*))
    // dictionary rows only for the SCORING terms: filter/must_not
    // clauses never contribute idf (ES filter context)
    val dfreq = cachedTable(spark, indexDir, "docfreq")
      .filter(col("term_bucket").isin(buckets: _*) &&
        col("term").isin(scoring: _*))
    val stats = cachedTable(spark, indexDir, "stats")

    def matched(ts: Seq[String]) =
      if (ts.isEmpty) lit(0L)
      else countDistinct(when(col("term").isin(ts: _*), col("term")))

    postings
      .join(broadcast(dfreq.select("term", "df")), Seq("term"), "left")
      .crossJoin(broadcast(stats))
      .withColumn("term_score", when(col("df").isNotNull,
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
          col("tf") * (k1 + 1.0) /
          (col("tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
        .otherwise(lit(0.0)))
      .groupBy("doc_id")
      .agg(sum("term_score").as("raw"),
        matched(mustD).as("n_must"), matched(shouldD).as("n_should"),
        matched(filterD).as("n_filter"), matched(notD).as("n_not"))
      .filter(col("n_must") === mustD.size &&
        col("n_filter") === filterD.size &&
        col("n_should") >= minimumShouldMatch && col("n_not") === 0)
      .select(col("doc_id"), round(col("raw"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(size)
  }

  /** ES `rare_terms` aggregation: the long-tail complement of `terms`
    * (which surfaces the most frequent) — terms whose document
    * frequency is at most `maxDf`, rarest first. Served entirely from
    * the index DICTIONARY like [[suggest]]: vocabulary-scale scan,
    * never touches postings or the corpus. */
  def rareTerms(spark: SparkSession, indexDir: String,
      maxDf: Long, size: Int = 10): DataFrame =
    cachedTable(spark, indexDir, "docfreq")
      .filter(col("df") <= maxDf)
      .select(col("term"), col("df").cast("long").as("df"))
      .orderBy(col("df").asc, col("term").asc)
      .limit(size)

  /** ES `dis_max` + `boosting` composed over the persisted index: each
    * clause scores as its BM25 term-sum, the doc's base score is
    * `max(clause) + tieBreaker · (Σclause − max(clause))`, and matching
    * any `negative` term multiplies by `negativeBoost` (the boosting
    * query's demote-don't-exclude semantics — contrast must_not in
    * [[boolSearch]]). ONE partition-pruned postings probe over the
    * union of all clause + negative terms; per-clause sums and the
    * negative flag come out of a single per-doc aggregate. */
  def disMax(spark: SparkSession, indexDir: String,
      clauses: Seq[Seq[String]], tieBreaker: Double,
      negative: Seq[String] = Nil, negativeBoost: Double = 1.0,
      size: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(clauses.nonEmpty, "dis_max needs at least one clause")
    val cls = clauses.map(_.map(_.toLowerCase).distinct)
    val negD = negative.map(_.toLowerCase).distinct
    val scoring = cls.flatten.distinct
    val allTerms = (scoring ++ negD).distinct
    val buckets = allTerms.map(termBucketOf).distinct

    val postings = cachedTable(spark, indexDir, "postings")
      .filter(col("term_bucket").isin(buckets: _*) &&
        col("term").isin(allTerms: _*))
    // negative terms are demotion signals, not scoring terms — no idf
    val dfreq = cachedTable(spark, indexDir, "docfreq")
      .filter(col("term_bucket").isin(buckets: _*) &&
        col("term").isin(scoring: _*))
    val stats = cachedTable(spark, indexDir, "stats")

    val scored = postings
      .join(broadcast(dfreq.select("term", "df")), Seq("term"), "left")
      .crossJoin(broadcast(stats))
      .withColumn("term_score", when(col("df").isNotNull,
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
          col("tf") * (k1 + 1.0) /
          (col("tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
        .otherwise(lit(0.0)))

    val clauseSums = cls.zipWithIndex.map { case (ts, i) =>
      coalesce(sum(when(col("term").isin(ts: _*), col("term_score"))),
        lit(0.0)).as(s"__c$i")
    }
    val negFlag = (if (negD.isEmpty) lit(0L)
      else coalesce(max(when(col("term").isin(negD: _*), 1L)), lit(0L)))
      .as("__neg")

    val agg = scored.groupBy("doc_id")
      .agg(clauseSums.head, (clauseSums.tail :+ negFlag): _*)
    val cSums = cls.indices.map(i => col(s"__c$i"))
    val best = if (cSums.size == 1) cSums.head else greatest(cSums: _*)
    val total = cSums.reduce(_ + _)
    agg
      .filter(cls.indices.map(i => col(s"__c$i") > 0.0).reduce(_ || _))
      .select(col("doc_id"),
        round((best + lit(tieBreaker) * (total - best)) *
          when(col("__neg") === 1L, lit(negativeBoost)).otherwise(lit(1.0)),
          6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(size)
  }

  /** Proximity (ES `match` with slop) over the persisted positional
    * postings: the scan is pruned to the query terms' buckets, then the
    * same anchor-window algebra as [[TextSearch.proximityMatch]] —
    * identical semantics, index-probe cost (the positional twin of
    * [[phrase]] vs `TextSearch.phraseMatch`). */
  def proximity(spark: SparkSession, indexDir: String, query: String,
      slop: Int): DataFrame = {
    val terms = query.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).distinct
    require(terms.nonEmpty, "proximity needs at least one term")
    val buckets = terms.map(termBucketOf).distinct.toSeq
    TextSearch.proximityAlign(
      cachedTable(spark, indexDir, "positions")
        .filter(col("term_bucket").isin(buckets: _*) &&
          col("term").isin(terms.toSeq: _*))
        .select("doc_id", "pos", "term"),
      terms, slop)
  }

  /** ES `_stats`/`_count` parity: corpus statistics read FROM THE INDEX
    * (stats row + dictionary aggregate) — never a corpus scan. One
    * metadata-scale row: doc count, avg doc length, vocabulary size,
    * total postings (distinct (term, doc) pairs) and the max document
    * frequency. */
  def indexStats(spark: SparkSession, indexDir: String): DataFrame =
    cachedTable(spark, indexDir, "stats")
      .select(col("n_docs").cast("long").as("n_docs"),
        round(col("avgdl"), 6).as("avgdl"))
      .crossJoin(broadcast(
        cachedTable(spark, indexDir, "docfreq")
          .agg(count(lit(1)).as("n_terms"),
            sum(col("df")).cast("long").as("n_postings"),
            max(col("df")).cast("long").as("max_df"))))

  /** Maintenance — [[IndexDirs.compactBuckets]] over the four bucketed
    * tables (the per-bucket form of
    * [[graft.table.ParquetCatalog.compact]]): the small files that
    * incremental [[update]]s accrete inside each bucket dir go back to
    * one file per bucket. Returns (filesBefore, filesAfter) summed over
    * rewritten buckets. */
  def compact(spark: SparkSession, indexDir: String,
      store: graft.table.CommitStore = graft.table.LocalCommitStore)
      : (Long, Long) =
    Seq("postings" -> "term_bucket", "positions" -> "term_bucket",
        "docfreq" -> "term_bucket", "vectors" -> "lsh_bucket")
      .map { case (table, bucketCol) =>
        IndexDirs.compactBuckets(spark, s"$indexDir/$table", bucketCol, store)
      }
      .foldLeft((0L, 0L)) { case ((b, a), (nb, na)) => (b + nb, a + na) }

  /** BM25 over the prebuilt index: reads only the query terms' buckets
    * (partition pruning on `term_bucket`), never re-tokenizes the corpus.
    * No driver-side count()/head() at query time — stats are a 1-row
    * broadcast relation. */
  def bm25(spark: SparkSession, indexDir: String, query: String,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qTerms = query.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).distinct
    val buckets = qTerms.map(termBucketOf).distinct.toSeq

    val postings = cachedTable(spark, indexDir, "postings")
      .filter(col("term_bucket").isin(buckets: _*) &&
        col("term").isin(qTerms.toSeq: _*))
    val dfreq = cachedTable(spark, indexDir, "docfreq")
      .filter(col("term_bucket").isin(buckets: _*) &&
        col("term").isin(qTerms.toSeq: _*))
    val stats = cachedTable(spark, indexDir, "stats")

    postings
      .join(broadcast(dfreq.select("term", "df")), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("term_score",
        col("idf") * col("tf") * (k1 + 1.0) /
          (col("tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(sum("term_score").as("text_score"))
  }

  /** ANN over the prebuilt vector index: partition-pruned bucket probe
    * then exact cosine within candidates. */
  /** Phrase query over the persisted positional postings (ES
    * `match_phrase` on the index): the scan is pruned to the phrase's
    * term buckets (partition pruning) and terms, then the same
    * start-alignment algebra as [[TextSearch.phraseMatch]] — identical
    * semantics, index-probe cost. */
  def phrase(spark: SparkSession, indexDir: String,
      phraseText: String): DataFrame = {
    val terms = TextSearch.phraseTerms(phraseText)
    val buckets = terms.map(termBucketOf).distinct.toSeq
    TextSearch.phraseAlign(
      cachedTable(spark, indexDir, "positions")
        .filter(col("term_bucket").isin(buckets: _*) &&
          col("term").isin(terms.distinct.toSeq: _*))
        .select("doc_id", "pos", "term"),
      terms)
  }

  def knn(spark: SparkSession, indexDir: String, queryVec: Array[Float],
      k: Int, dim: Int = 64, probeHammingRadius: Int = 1): DataFrame = {
    val qSig = graft.search.VectorSearch.querySignature(queryVec, dim, LshBits)
    val probes = (0L until (1L << LshBits))
      .filter(bkt => java.lang.Long.bitCount(bkt ^ qSig) <= probeHammingRadius)
    val cands = cachedTable(spark, indexDir, "vectors")
      .filter(col("lsh_bucket").isin(probes: _*))
    cands.select(col("doc_id"),
      round(VectorFunctions.cosine(col("embedding"), typedLit(queryVec)), 6)
        .as("vec_score"))
      .orderBy(col("vec_score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Batch BM25: score N queries in ONE pass over the index. The
    * reference serves one query per HTTP request
    * (`backend/routers/es_index.py:90-131`); at pipeline scale you
    * broadcast the whole (query_id, term) relation into a single
    * partition-pruned postings probe, score every (query_id, doc_id)
    * pair in one shuffle, and take top-k per query with the
    * k-bounded [[org.apache.spark.sql.graftext.TopKByScoreAgg]] —
    * NOT a `row_number over (partition by query_id)` window, which
    * would sort each query's entire candidate set in one task.
    * Result ≡ running [[bm25]] once per query, top-k'd
    * (SearchIndexSpec pins the equivalence).
    *
    * Returns (query_id, doc_id, text_score, rank), rank 1-based per
    * query by (score DESC, doc_id ASC).
    */
  def bm25Batch(spark: SparkSession, indexDir: String,
      queries: Seq[(Long, String)], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25BatchScores(spark, indexDir, queries, k1, b)
      // round BEFORE ranking: ordering on the rounded score (doc_id
      // tiebreak) is reproducible across engines; raw-double ordering
      // is not (summation-order FP noise can flip near-ties)
      .withColumn("text_score", round(col("text_score"), 6))
      .groupBy("query_id")
      .agg(org.apache.spark.sql.graftext.TopKByScoreAgg.topKByScore(
        col("text_score"), col("doc_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("rk", "t")))
      .select(col("query_id"), col("t.id").as("doc_id"),
        col("t.score").as("text_score"),
        (col("rk") + 1).cast("long").as("rank"))

  /** The scoring core of [[bm25Batch]]: every (query_id, doc_id) pair's
    * RAW BM25 sum, un-rounded and un-ranked — [[hybridBatch]] fuses
    * these with vector scores exactly the way single-query [[hybrid]]
    * consumes [[bm25]] (raw text side, rounding at fuse time). */
  private def bm25BatchScores(spark: SparkSession, indexDir: String,
      queries: Seq[(Long, String)],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import spark.implicits._
    val qTerms = queries.flatMap { case (qid, text) =>
      text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).distinct
        .map(t => (qid, t))
    }
    val allTerms = qTerms.map(_._2).distinct
    val buckets = allTerms.map(termBucketOf).distinct

    val postings = cachedTable(spark, indexDir, "postings")
      .filter(col("term_bucket").isin(buckets: _*) &&
        col("term").isin(allTerms: _*))
    val dfreq = cachedTable(spark, indexDir, "docfreq")
      .filter(col("term_bucket").isin(buckets: _*) &&
        col("term").isin(allTerms: _*))
    val stats = cachedTable(spark, indexDir, "stats")

    postings
      // fan out each posting to every query containing its term
      .join(broadcast(qTerms.toDF("query_id", "term")), "term")
      .join(broadcast(dfreq.select("term", "df")), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("term_score",
        col("idf") * col("tf") * (k1 + 1.0) /
          (col("tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("query_id", "doc_id")
      .agg(sum("term_score").as("text_score"))
  }

  /** Batch ANN: N query vectors in ONE pass over the vector index. Each
    * query probes its own Hamming ball; the union of probed buckets is
    * partition-pruned once, the (query_id → bucket) probe relation and
    * the (query_id → qvec) relation are broadcast, and top-k per query
    * comes from the k-bounded aggregate (same rationale as
    * [[bm25Batch]]). Result ≡ running [[knn]] once per query. */
  def knnBatch(spark: SparkSession, indexDir: String,
      queries: Seq[(Long, Array[Float])], k: Int, dim: Int = 64,
      probeHammingRadius: Int = 1): DataFrame = {
    import spark.implicits._
    val probeRows = queries.flatMap { case (qid, v) =>
      val sig = graft.search.VectorSearch.querySignature(v, dim, LshBits)
      (0L until (1L << LshBits))
        .filter(bkt => java.lang.Long.bitCount(bkt ^ sig) <= probeHammingRadius)
        .map(bkt => (qid, bkt))
    }
    val buckets = probeRows.map(_._2).distinct

    cachedTable(spark, indexDir, "vectors")
      .filter(col("lsh_bucket").isin(buckets: _*))
      .join(broadcast(probeRows.toDF("query_id", "lsh_bucket")), "lsh_bucket")
      .join(broadcast(queries.map { case (qid, v) => (qid, v.toSeq) }
        .toDF("query_id", "qvec")), "query_id")
      .select(col("query_id"), col("doc_id"),
        round(VectorFunctions.cosine(col("embedding"), col("qvec")), 6)
          .as("vec_score"))
      .groupBy("query_id")
      .agg(org.apache.spark.sql.graftext.TopKByScoreAgg.topKByScore(
        col("vec_score"), col("doc_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("rk", "t")))
      .select(col("query_id"), col("t.id").as("doc_id"),
        col("t.score").as("vec_score"),
        (col("rk") + 1).cast("long").as("rank"))
  }

  /** Hybrid search over the prebuilt index (reference Q3 semantics:
    * boosts 1.0/0.8, min_score, top-k). */
  def hybrid(spark: SparkSession, indexDir: String, query: String,
      embedder: Embedder, size: Int = 10, minScore: Double = 0.5,
      textBoost: Double = 1.0, vectorBoost: Double = 0.8,
      probeHammingRadius: Int = 2): DataFrame = {
    val text = bm25(spark, indexDir, query)
    val vec  = knn(spark, indexDir, embedder.embed(query),
      math.max(size * 10, 50), embedder.dim, probeHammingRadius)
    text.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        round(coalesce(col("text_score"), lit(0.0)) * textBoost +
          coalesce(col("vec_score"), lit(0.0)) * vectorBoost, 6).as("score"))
      .filter(col("score") >= minScore)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(size)
  }

  /** Batch hybrid: N queries fused in ONE pass over both index legs —
    * the batch composition of [[bm25Batch]]'s text scores (raw, like
    * single-query [[hybrid]] consumes [[bm25]]) with [[knnBatch]]'s
    * per-query top-candidates, full-outer on (query_id, doc_id), the
    * same boost/min_score/top-k semantics per query. Per-query top-k is
    * the k-bounded aggregate, never a window over the fused set.
    * Result ≡ running [[hybrid]] once per query (SearchIndexSpec). */
  def hybridBatch(spark: SparkSession, indexDir: String,
      queries: Seq[(Long, String)], embedder: Embedder, size: Int = 10,
      minScore: Double = 0.5, textBoost: Double = 1.0,
      vectorBoost: Double = 0.8, probeHammingRadius: Int = 2): DataFrame = {
    val nCand = math.max(size * 10, 50)
    val text = bm25BatchScores(spark, indexDir, queries)
    val vec = knnBatch(spark, indexDir,
      queries.map { case (qid, t) => qid -> embedder.embed(t) },
      nCand, embedder.dim, probeHammingRadius)
      .select(col("query_id"), col("doc_id"), col("vec_score"))
    text.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        round(coalesce(col("text_score"), lit(0.0)) * textBoost +
          coalesce(col("vec_score"), lit(0.0)) * vectorBoost, 6).as("score"))
      .filter(col("score") >= minScore)
      .groupBy("query_id")
      .agg(org.apache.spark.sql.graftext.TopKByScoreAgg.topKByScore(
        col("score"), col("doc_id"), size).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("rk", "t")))
      .select(col("query_id"), col("t.id").as("doc_id"),
        col("t.score").as("score"),
        (col("rk") + 1).cast("long").as("rank"))
  }
}
