package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.embed.Embedder

/** Hybrid BM25 + kNN fusion (reference Q3, the flagship query path E3:
  * boosted `bool.should` of a text `match` (boost 1.0) and a `knn` clause
  * (boost 0.8) with `minimum_should_match: 1` and a `min_score` floor —
  * `/root/reference/backend/process/elasticsearch_index.py:235-277`).
  *
  * Spark shape: text-score relation FULL OUTER JOIN vector-score relation
  * on doc id → weighted `coalesce(s, 0)` sum → `score >= minScore` →
  * top-k (`TakeOrderedAndProject`) → join back to the doc table for the
  * `_source` payload (Q5 result shaping, `:294-302`). Both score
  * relations are tiny relative to the corpus (filtered by query terms /
  * top candidates), so the final shaping join broadcasts them.
  */
object HybridSearch {

  /** Reference defaults: size 10 (1–100), min_score 0.5, boosts 1.0/0.8,
    * num_candidates = max(size*10, 50) (BASELINE.md). */
  val DefaultSize     = 10
  val DefaultMinScore = 0.5
  val TextBoost       = 1.0
  val VectorBoost     = 0.8
  def numCandidates(size: Int): Int = math.max(size * 10, 50)

  /** The boosted `bool.should` score: the text (`text_score`) and
    * vector (`vec_score`) legs full-outer joined on `keys`, a missing
    * leg scoring 0, `TextBoost·text + VectorBoost·vec` rounded to 6 dp
    * and kept at `>= minScore`. Returns (keys..., score). */
  private[graft] def fuse(text: DataFrame, vec: DataFrame,
      keys: Seq[String], minScore: Double): DataFrame =
    text.join(vec, keys, "full_outer")
      .select(keys.map(col) :+
        round(coalesce(col("text_score"), lit(0.0)) * TextBoost +
          coalesce(col("vec_score"), lit(0.0)) * VectorBoost, 6)
          .as("score"): _*)
      .filter(col("score") >= minScore)

  /** Full hybrid search over a doc table and its embedding table
    * (join key convention: doc_id == vec_id, FIXTURES.md §A).
    * Query text is embedded with the supplied embedder (Q6) — same stage
    * the corpus went through.
    */
  def search(docs: DataFrame, embs: DataFrame, queryText: String,
      embedder: Embedder, size: Int = DefaultSize,
      minScore: Double = DefaultMinScore): DataFrame = {
    val queryVec = embedder.embed(queryText)
    val text = docs.select(col("doc_id"),
      round(TextSearch.tokenOverlapScore(col("text"), queryText), 6)
        .as("text_score"))
      .filter(col("text_score") > 0.0)
    val vec = VectorSearch.topK(
      embs.withColumnRenamed("vec_id", "doc_id"), "doc_id", "embedding",
      queryVec, numCandidates(size))

    val fused = fuse(text, vec, Seq("doc_id"), minScore)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(size)

    // Q5 result shaping: score + full _source row.
    fused.join(docs, Seq("doc_id"), "inner")
      .orderBy(col("score").desc, col("doc_id").asc)
  }

  /** Reciprocal-rank fusion — the alternative the reference's own
    * comments name next to its boosted-bool implementation
    * (`elasticsearch_index.py:235-246`): `score = Σ 1/(k0 + rank)` over
    * the text and vector candidate lists. Rank-based, so the two score
    * scales never need calibrating — no boosts, no min_score floor.
    *
    * Scale shape: both candidate lists are cut to `nCand` rows by
    * top-k (TakeOrderedAndProject) BEFORE ranking, so the global
    * `row_number` window runs on ≤ nCand rows — a single tiny partition
    * by construction, bounded by the knob and not by the corpus. */
  def searchRrf(docs: DataFrame, embs: DataFrame, queryText: String,
      embedder: Embedder, size: Int = DefaultSize, k0: Int = 60,
      nCand: Int = numCandidates(DefaultSize)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val queryVec = embedder.embed(queryText)
    val text = docs.select(col("doc_id"),
      round(TextSearch.tokenOverlapScore(col("text"), queryText), 6)
        .as("text_score"))
      .filter(col("text_score") > 0.0)
      .orderBy(col("text_score").desc, col("doc_id").asc).limit(nCand)
      .withColumn("tr", row_number().over(
        Window.orderBy(col("text_score").desc, col("doc_id").asc)))
    val vec = VectorSearch.topK(
      embs.withColumnRenamed("vec_id", "doc_id"), "doc_id", "embedding",
      queryVec, nCand)
      .withColumn("vr", row_number().over(
        Window.orderBy(col("vec_score").desc, col("doc_id").asc)))

    val fused = text.select("doc_id", "tr")
      .join(vec.select("doc_id", "vr"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        round(coalesce(lit(1.0) / (lit(k0) + col("tr")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(k0) + col("vr")), lit(0.0)), 6)
          .as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(size)

    fused.join(docs, Seq("doc_id"), "inner")
      .orderBy(col("score").desc, col("doc_id").asc)
  }
}
