package graft.search

import graft.operators.Ckpt.CkptOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Full-text relevance (reference Q1: Elasticsearch BM25 `match` on
  * `page_content`, `/root/reference/backend/process/
  * elasticsearch_index.py:249-258`). ES did the scoring inside its own
  * engine; here it's declarative DataFrame algebra over a postings table,
  * so Catalyst plans it: one shuffle to build per-(doc,term) TFs, a
  * broadcast of the (tiny) query-term relation, partial aggregation for
  * the per-doc score.
  *
  * At 100 TB the postings/stats tables are built ONCE as the index
  * (`buildPostings` result persisted, partitioned by term bucket) and each
  * query only scans the partitions holding its terms.
  */
object TextSearch {

  /** Postings: one row per (doc, term) with term frequency and doc length.
    * This is the engine's inverted-index build (reference S8/E2). */
  def buildPostings(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      TextFunctions.tokens(col(textCol)).as("toks"))
    toks
      .select(col("doc_id"), size(col("toks")).cast("double").as("dl"),
        explode(col("toks")).as("term"))
      .groupBy("doc_id", "term", "dl")
      .agg(count(lit(1)).cast("double").as("tf"))
  }

  /** Lucene's BM25 parameters (the ES `BM25` similarity defaults):
    * term-frequency saturation and length normalization. */
  private val K1 = 1.2
  private val B  = 0.75

  /** A query's distinct terms in first-occurrence order (lower-cased,
    * split on non-alphanumerics — the [[TextFunctions.tokens]] rule). */
  private[graft] def queryTerms(query: String): Array[String] =
    tokensOf(query).distinct

  private def tokensOf(text: String): Array[String] =
    text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)

  /** Lucene idf over `n_docs` and `df` columns:
    * ln(1 + (N - df + 0.5)/(df + 0.5)). */
  private val idf: Column =
    log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))

  /** The BM25 term score of every search path: each posting (term,
    * doc_id, tf, dl, ...) joined by `joinType` to the dictionary `dfreq`
    * (term, df) and crossed with the 1-row corpus `stats` (n_docs,
    * avgdl; one relation or one per column), all broadcast, gains a
    * `term_score`. Under a left join, a posting whose term has no df
    * (an unscored clause term) scores 0. */
  private[graft] def bm25Terms(postings: DataFrame, dfreq: DataFrame,
      stats: Seq[DataFrame], joinType: String = "inner"): DataFrame = {
    val score = idf * col("tf") * (K1 + 1.0) /
      (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / col("avgdl")))
    stats.foldLeft(postings.join(broadcast(dfreq.select("term", "df")),
        Seq("term"), joinType))((p, s) => p.crossJoin(broadcast(s)))
      .withColumn("term_score", if (joinType != "left") score
        else when(col("df").isNotNull, score).otherwise(lit(0.0)))
  }

  /** Lucene-style BM25 scores for one query string; returns
    * (doc_id, text_score). */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
      query: String): DataFrame =
    bm25FromPostings(buildPostings(docs, idCol, textCol),
      docs.agg(count(lit(1)).cast("double").as("n_docs")), query)

  /** [[bm25]] over a PREBUILT postings relation — the reuse seam for
    * operators that score the same corpus more than once (PRF, batch
    * query sets) or read a persisted index: the tokenizer pass runs
    * once, every scoring pass shares it. `nDocs` is the 1-row
    * corpus-count relation (N counts ALL docs, not just those with
    * postings — matching the oracle). */
  def bm25FromPostings(postings: DataFrame, nDocs: DataFrame,
      query: String): DataFrame = {
    val qTerms = queryTerms(query)

    // Corpus stats stay INSIDE the plan as broadcast 1-row relations —
    // no count()/head() driver actions at query time, so composing bm25
    // into a larger plan stays fully lazy. avgdl averages docs that
    // produced postings.
    val avgDl = postings.select(col("doc_id"), col("dl")).distinct()
      .agg(avg("dl").as("avgdl"))

    val dfStats = postings.filter(col("term").isin(qTerms: _*))
      .groupBy("term").agg(countDistinct("doc_id").cast("double").as("df"))

    bm25Terms(postings.filter(col("term").isin(qTerms: _*)), dfStats,
        Seq(nDocs, avgDl))
      .groupBy("doc_id")
      .agg(sum("term_score").as("text_score"))
  }

  /** Pseudo-relevance feedback (Rocchio-lite): run [[bm25]], take the
    * `fbDocs` top documents as implicit relevance judgments, extract
    * the `expandK` best expansion terms by Σ_feedback tf × corpus idf
    * (6-dp-rounded weight, term-asc tiebreak — engine-exact ranking),
    * and rescore with the EXPANDED query. The classic recall lever
    * when the raw query underspecifies (Rocchio 1971 / RM1-lite).
    * Only the `expandK` term strings cross to the driver (the
    * frozen-literal discipline); feedback docs semi-join postings, no
    * id list collects. Returns the final top-`topK`
    * (doc_id, bm25_expanded) under (score desc, id asc). */
  def prfSearch(docs: DataFrame, idCol: String, textCol: String,
      query: String, fbDocs: Int = 10, expandK: Int = 3,
      topK: Int = 10): DataFrame = {
    require(fbDocs >= 1 && expandK >= 1 && topK >= 1)
    val qTerms = queryTerms(query)
    // ONE tokenizer pass serves all three posting consumers (base
    // scoring, feedback tf, corpus df) AND the expanded rescore; lazy
    // checkpoint — the expansion-term collect below materializes it
    val postings = buildPostings(docs, idCol, textCol)
      .graftCheckpoint(false)
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val base = bm25FromPostings(postings, nDocs, query)
      .select(col("doc_id"), round(col("text_score"), 6).as("s"))
      .orderBy(col("s").desc, col("doc_id").asc).limit(fbDocs)
      .select("doc_id")
    val cand = postings
      .join(base, Seq("doc_id"), "left_semi")
      .filter(!col("term").isin(qTerms.toIndexedSeq: _*))
      .groupBy("term").agg(sum(col("tf")).as("fbtf"))
    val dfStats = postings
      .join(cand.select("term"), Seq("term"), "left_semi")
      .groupBy("term")
      .agg(countDistinct("doc_id").cast("double").as("df"))
    val exp = cand.join(dfStats, "term").crossJoin(broadcast(nDocs))
      .select(col("term"),
        round(col("fbtf") * idf, 6).as("w"))
      .orderBy(col("w").desc, col("term").asc).limit(expandK)
      .collect().map(_.getString(0)) // expandK strings — metadata
    bm25FromPostings(postings, nDocs, (qTerms ++ exp).mkString(" "))
      .select(col("doc_id"),
        round(col("text_score"), 6).as("bm25_expanded"))
      .orderBy(col("bm25_expanded").desc, col("doc_id").asc)
      .limit(topK)
  }

  /** Simple token-overlap relevance (v1 of Q1): |distinct doc tokens ∩
    * query tokens| / |query tokens|. Cheap, shuffle-free scoring pass. */
  def tokenOverlapScore(textCol: Column, query: String): Column = {
    val qTerms = queryTerms(query)
    size(array_intersect(TextFunctions.tokens(textCol),
      typedLit(qTerms))).cast("double") / qTerms.length.toDouble
  }

  /** Positional postings: one row per (doc, term, pos) — the index shape
    * behind phrase/proximity queries (at scale: persisted once,
    * partitioned by term bucket like [[buildPostings]]). */
  def positionalPostings(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      posexplode(TextFunctions.tokens(col(textCol))).as(Seq("pos", "term")))

  /** ES `match_phrase` semantics: docs where the phrase's tokens occur at
    * CONSECUTIVE positions, with occurrence counts.
    *
    * Shape: instead of an m-way self-join of the postings (one join per
    * phrase term), each posting row joined to the (tiny, broadcast)
    * phrase relation contributes a candidate start = pos - idx; a true
    * occurrence at start s is a (doc, s) group covering ALL m phrase
    * indexes. One broadcast join + one shuffle regardless of phrase
    * length, and the postings scan is pruned to the phrase's terms.
    * Handles repeated phrase terms ("batch batch") correctly: each
    * occurrence must cover every idx, so "batch x batch" cannot fake
    * adjacency. */
  def phraseMatch(docs: DataFrame, idCol: String, textCol: String,
      phrase: String): DataFrame = {
    val terms = phraseTerms(phrase)
    phraseAlign(
      positionalPostings(docs, idCol, textCol)
        .filter(col("term").isin(terms.distinct.toSeq: _*)),
      terms)
  }

  /** Phrase token sequence (empty-token-free, order preserved). */
  def phraseTerms(phrase: String): Array[String] = {
    val t = tokensOf(phrase)
    require(t.nonEmpty, "phrase must contain at least one token")
    t
  }

  /** The start-alignment algebra over any (doc_id, pos, term) relation —
    * shared by the scan path ([[phraseMatch]]) and the persisted-index
    * path ([[graft.index.SearchIndex.phrase]]). */
  def phraseAlign(pp: DataFrame, terms: Array[String]): DataFrame = {
    import pp.sparkSession.implicits._
    val ph = terms.toSeq.zipWithIndex.toDF("term", "idx")
    pp.join(broadcast(ph), "term")
      .groupBy(col("doc_id"), (col("pos") - col("idx")).as("start"))
      .agg(countDistinct("idx").as("m"))
      .filter(col("m") === terms.length)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_occurrences"))
  }

  /** Proximity search (ES `match` with slop): docs where EVERY query
    * term occurs within `slop` positions of an occurrence of the first
    * term (the anchor). Returns (doc_id, n_windows = matching anchor
    * count). Exact semantics — no bucketing approximation.
    *
    * Shape: postings pruned to the query's terms, then one equi-join on
    * doc_id per non-anchor term with the |p - anchor| <= slop range as
    * the join residual. Query terms are few, so the join chain is short;
    * each join shuffles only term-pruned postings. */
  def proximityMatch(docs: DataFrame, idCol: String, textCol: String,
      query: String, slop: Int): DataFrame = {
    val terms = queryTerms(query)
    require(terms.nonEmpty, "proximityMatch needs at least one term")
    proximityAlign(positionalPostings(docs, idCol, textCol)
      .filter(col("term").isin(terms.toSeq: _*)), terms, slop)
  }

  /** The anchor-window algebra of [[proximityMatch]] over any
    * (doc_id, pos, term) relation — shared by the scan path above and
    * the persisted-index path ([[graft.index.SearchIndex.proximity]]),
    * mirroring the [[phraseAlign]] split. */
  def proximityAlign(pp: DataFrame, terms: Array[String],
      slop: Int): DataFrame = {
    val anchor = pp.filter(col("term") === terms.head)
      .select(col("doc_id"), col("pos").as("p0"))
    val matched = terms.tail.zipWithIndex.foldLeft(anchor) {
      case (acc, (t, i)) =>
        val other = pp.filter(col("term") === t)
          .select(col("doc_id"), col("pos").as(s"p${i + 1}"))
        acc.join(other, Seq("doc_id"))
          .filter(abs(col(s"p${i + 1}") - col("p0")) <= slop)
          // many in-slop occurrences of t must not multiply anchors
          .select(col("doc_id"), col("p0")).distinct()
    }
    matched.groupBy("doc_id")
      .agg(countDistinct("p0").as("n_windows"))
  }

  /** ES percolator — reverse search: the "index" is the REGISTERED
    * QUERY set (standing filters/alerts; metadata-scale, broadcast) and
    * each document of a batch probes it. Match semantics: `match` with
    * operator AND — the doc contains every term of the query. One
    * exploded-terms join + per-(doc, query) count; at 100 TB the doc
    * side streams and nothing corpus-scale shuffles (the join key is
    * the broadcast term). The streaming composition is `foreachBatch`
    * over an ingest stream — each micro-batch percolates independently. */
  def percolate(docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(Long, String)]): DataFrame = {
    import docs.sparkSession.implicits._
    val qRows = queries.flatMap { case (qid, text) =>
      val ts = queryTerms(text)
      ts.map(t => (qid, t, ts.length))
    }
    require(qRows.nonEmpty, "percolate needs at least one non-empty query")
    docs.select(col(idCol).as("doc_id"),
        explode(array_distinct(TextFunctions.tokens(col(textCol))))
          .as("term"))
      .join(broadcast(qRows.toDF("query_id", "term", "n_terms")), "term")
      .groupBy("doc_id", "query_id", "n_terms")
      .agg(count(lit(1)).as("n_matched"))
      .filter(col("n_matched") === col("n_terms"))
      .select(col("doc_id"), col("query_id"))
  }

  /** Q4 — exact-match retrieval by key, capped at 10000 hits (all pages of
    * one file, `elasticsearch_index.py:174-211`). */
  def exactMatch(docs: DataFrame, keyCol: String, key: String,
      cap: Int = 10000): DataFrame =
    docs.filter(col(keyCol) === lit(key)).limit(cap)
}
