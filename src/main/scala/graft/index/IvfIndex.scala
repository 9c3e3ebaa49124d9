package graft.index

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.table.{CommitStore, LocalCommitStore, LocalFs}

/** IVF (inverted-file) vector index: k-means cells instead of LSH
  * hyperplanes. Build fits MLlib KMeans (seeded, deterministic), assigns
  * every vector to its nearest centroid, and writes the corpus
  * `partitionBy("ivf_cell")` plus a tiny `centroids/` table. A query
  * ranks centroids driver-side (index metadata, k rows), probes the
  * `nProbe` nearest cells — a partition-pruned scan — and runs exact
  * cosine inside the candidates.
  *
  * Complements [[SearchIndex]]'s LSH path: IVF adapts to the data
  * distribution (cells are balanced where the data is), LSH is
  * data-independent and engine-reproducible. Both bound the scan at
  * 100 TB; `nProbe` is the recall/latency knob (ES `num_candidates`).
  *
  * Publication: the three tables (`ivf_vectors`, `centroids`,
  * `sq_stats`) are one consistent unit — assignments computed against
  * one set of centroids must never pair with another, or probeCells
  * probes the wrong cells and recall silently degrades. They are
  * therefore one [[IndexDirs.Versioned]] unit: a versioned directory
  * named by a single `CURRENT` pointer, with a one-cycle vacuum grace
  * window. [[build]] and [[rebalance]] stage a complete new version
  * before the flip; a crash mid-stage leaves the pointer on the old,
  * fully consistent version (the half-written dir is an invisible,
  * vacuumable orphan). [[update]], [[delete]] and [[compact]] change
  * the live version in place through the staged cell swaps of
  * [[IndexDirs]].
  */
object IvfIndex {

  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[Int, Array[Double]]]()
  private val sqCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Array[Double], Array[Double])]()

  private val unit = IndexDirs.Versioned("IVF",
    Seq("ivf_vectors", "centroids", "sq_stats"), Seq(centroidCache, sqCache))

  /** The live version's directory (all three tables live under it).
    * Public so tests/tools can inspect the physical layout. */
  def currentDir(indexDir: String,
      store: CommitStore = LocalCommitStore): String =
    unit.currentDir(indexDir, store)

  /** Delete unreachable versions, retaining the pointer target plus the
    * `keep` newest superseded versions. Returns the deleted names. */
  def vacuum(spark: SparkSession, indexDir: String, keep: Int = 1,
      store: CommitStore = LocalCommitStore): Seq[String] =
    unit.vacuum(spark, indexDir, keep, store)

  def build(embs: DataFrame, indexDir: String, idCol: String = "vec_id",
      vecCol: String = "embedding", nCells: Int = 16,
      seed: Long = 42L,
      store: CommitStore = LocalCommitStore): Unit = {
    val spark = embs.sparkSession
    import spark.implicits._
    val withVec = embs.select(col(idCol).as("doc_id"),
      col(vecCol).as("embedding"),
      array_to_vector(col(vecCol).cast("array<double>")).as("features"))
    val model = new KMeans().setK(nCells).setSeed(seed)
      .setFeaturesCol("features").setPredictionCol("ivf_cell")
      .fit(withVec)
    unit.publish(spark, indexDir, store) { vDir =>
      IndexDirs.writeBuckets(model.transform(withVec)
          .select(col("doc_id"), col("embedding"), col("ivf_cell")),
        s"$vDir/ivf_vectors", "ivf_cell", "overwrite")

      LocalFs.write(model.clusterCenters.zipWithIndex
          .map { case (c, i) => (i, c.toArray.toSeq) }.toSeq
          .toDF("cell", "centroid").coalesce(1))
        .mode("overwrite").parquet(s"$vDir/centroids")

      // SQ8 codebook: per-dim (min, max) over the build corpus — like the
      // centroids, this is frozen index metadata (incremental updates do
      // NOT refit it; out-of-range values clamp during quantization, the
      // standard scalar-quantization trade-off)
      val dim = embs.select(size(col(vecCol))).head().getInt(0)
      val (mn, mx) = graft.search.VectorSearch.quantizeStats(
        embs.select(col(vecCol)), vecCol, dim)
      LocalFs.write(Seq((mn.toSeq, mx.toSeq)).toDF("mns", "mxs").coalesce(1))
        .mode("overwrite").parquet(s"$vDir/sq_stats")
    }
  }

  /** Incremental maintenance: assign NEW vectors to their nearest
    * EXISTING centroid and append partition-locally — centroids stay
    * fixed (the production IVF pattern: assignment is cheap and
    * append-only; re-training centroids is a separate, rarer rebuild
    * when drift degrades cell balance). Touches |batch| data, not the
    * corpus. Appends land inside the CURRENT version dir — they extend
    * the live consistent unit, they don't create a new one.
    *
    * Assignment is DF algebra: broadcast-crossJoin the nCells-row
    * centroid table, squared-L2 per (vector, centroid) via a zip_with
    * fold, `min_by` picks the cell (cell id as tiebreak). nCells rows
    * per new vector is the worked set — bounded by the knob. */
  def update(newEmbs: DataFrame, indexDir: String, idCol: String = "vec_id",
      vecCol: String = "embedding",
      store: CommitStore = LocalCommitStore): Unit = {
    val spark = newEmbs.sparkSession
    val vDir = currentDir(indexDir, store)
    val cents = graft.Tables.loadPath(spark, s"$vDir/centroids")
      .select(col("cell"), col("centroid"))
    val dist = aggregate(
      zip_with(col(vecCol).cast("array<double>"), col("centroid"),
        (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)
    val assigned = newEmbs
      .select(col(idCol).as("doc_id"), col(vecCol).as("embedding"))
      .crossJoin(broadcast(cents))
      .withColumn("dist", dist)
      .groupBy("doc_id")
      .agg(
        min_by(col("cell"), struct(col("dist"), col("cell"))).as("ivf_cell"),
        first(col("embedding")).as("embedding"))
      .select(col("doc_id"), col("embedding"), col("ivf_cell"))
    IndexDirs.appendBuckets(assigned, s"$vDir/ivf_vectors", "ivf_cell", store)
    graft.Tables.invalidate(spark, s"$vDir/ivf_vectors")
  }

  /** Maintenance — merge the small files [[update]] appends into each
    * touched cell dir (one per micro-batch) back to one file per cell:
    * the IVF twin of [[SearchIndex.compact]]. Only fragmented cells are
    * rewritten, through per-cell staged swaps — untouched cells keep
    * their exact bytes, results are bit-identical rows. Returns
    * (filesBefore, filesAfter) over the rewritten cells. */
  def compact(spark: SparkSession, indexDir: String,
      store: CommitStore = LocalCommitStore): (Long, Long) =
    IndexDirs.compactBuckets(spark,
      s"${currentDir(indexDir, store)}/ivf_vectors", "ivf_cell", store)

  /** Doc-level retraction (PII/takedown): rewrite ONLY the cells that
    * hold victims — an anti-filter per touched cell through a staged
    * swap; untouched cells keep their exact bytes. Centroids and the
    * SQ8 codebook are frozen training metadata, so the deleted index is
    * the same-metadata index over the surviving corpus: full-probe
    * queries match brute force over the survivors and a victim can
    * never be returned (IvfIndexSpec). */
  def delete(spark: SparkSession, indexDir: String, ids: Seq[Long],
      store: CommitStore = LocalCommitStore): Unit =
    if (ids.nonEmpty) IndexDirs.retract(spark,
      s"${currentDir(indexDir, store)}/ivf_vectors", "ivf_cell", ids, store)

  /** Cell-population imbalance: max(|cell|) / mean(|cell|), over the
    * FULL cell grid (an empty cell counts as 0 — assignment never fills
    * it, so it drags the mean down and shows up as drift). 1.0 is
    * perfectly balanced. One count per cell crosses the wire — index
    * metadata, not data. */
  def imbalance(spark: SparkSession, indexDir: String,
      store: CommitStore = LocalCommitStore): Double = {
    val vDir = currentDir(indexDir, store)
    val nCells = graft.Tables.loadPath(spark, s"$vDir/centroids").count()
    val counts = graft.Tables.loadPath(spark, s"$vDir/ivf_vectors")
      .groupBy("ivf_cell").count()
      .agg(max("count").cast("double").as("mx"),
        sum("count").cast("double").as("total"))
      .head()
    counts.getDouble(0) / (counts.getDouble(1) / nCells)
  }

  /** Drift-triggered retrain ([[update]] assigns to frozen centroids;
    * this is the "separate, rarer rebuild" it defers to). If
    * [[imbalance]] exceeds `threshold`, refit k-means over the CURRENT
    * index contents (self-contained — no external corpus input),
    * reassign every vector, refit the SQ8 codebook, and publish all
    * three tables as ONE new version flipped by a single pointer write —
    * a crash or concurrent reader can never pair new cell assignments
    * with stale centroids. Returns true iff a retrain happened. At
    * 100 TB this is one corpus pass, paid only when the balance metric
    * says the probe-cost bound has degraded. */
  def rebalance(spark: SparkSession, indexDir: String,
      threshold: Double = 3.0, seed: Long = 42L,
      store: CommitStore = LocalCommitStore): Boolean = {
    if (imbalance(spark, indexDir, store) <= threshold) return false
    import spark.implicits._
    val liveDir = currentDir(indexDir, store)
    val nCells = graft.Tables.loadPath(spark, s"$liveDir/centroids")
      .count().toInt
    val current = graft.Tables.loadPath(spark, s"$liveDir/ivf_vectors")
      .select(col("doc_id"), col("embedding"),
        array_to_vector(col("embedding").cast("array<double>")).as("features"))
    val model = new KMeans().setK(nCells).setSeed(seed)
      .setFeaturesCol("features").setPredictionCol("ivf_cell")
      .fit(current)
    // stage everything into the next version before the flip: reads of
    // the live dirs feed the staged writes, so the live version must
    // stay in place (and keeps serving) until the pointer moves
    unit.publish(spark, indexDir, store) { vDir =>
      IndexDirs.writeBuckets(model.transform(current)
          .select(col("doc_id"), col("embedding"), col("ivf_cell")),
        s"$vDir/ivf_vectors", "ivf_cell", "overwrite")
      LocalFs.write(model.clusterCenters.zipWithIndex
          .map { case (c, i) => (i, c.toArray.toSeq) }.toSeq
          .toDF("cell", "centroid").coalesce(1))
        .mode("overwrite").parquet(s"$vDir/centroids")
      val dim = model.clusterCenters.head.size
      val (mn, mx) = graft.search.VectorSearch.quantizeStats(
        graft.Tables.loadPath(spark, s"$liveDir/ivf_vectors")
          .select(col("embedding")), "embedding", dim)
      LocalFs.write(Seq((mn.toSeq, mx.toSeq)).toDF("mns", "mxs").coalesce(1))
        .mode("overwrite").parquet(s"$vDir/sq_stats")
    }
    true
  }

  /** Driver-side nProbe nearest cells of the version at `vDir`
    * (centroid table = index metadata, nCells rows, collected once per
    * version and session). */
  private def probeCells(spark: SparkSession, vDir: String,
      queryVec: Array[Float], nProbe: Int): Seq[Int] = {
    val centroids = centroidCache.computeIfAbsent(
      vDir + "|" + org.apache.spark.sql.graftext.SessionUtils.uuid(spark),
      _ => graft.Tables.loadPath(spark, s"$vDir/centroids")
        .collect().map(r => r.getInt(0) ->
          r.getSeq[Double](1).toArray).toMap)
    val q = queryVec.map(_.toDouble)
    centroids.toSeq
      .map { case (cell, c) =>
        val d = c.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum
        (cell, d)
      }
      .sortBy { case (cell, d) => (d, cell) }
      .take(nProbe).map(_._1)
  }

  /** Exact cosine top-k within the nProbe nearest cells. */
  def knn(spark: SparkSession, indexDir: String, queryVec: Array[Float],
      k: Int, nProbe: Int = 2,
      store: CommitStore = LocalCommitStore): DataFrame = {
    val vDir = currentDir(indexDir, store)
    val cells = probeCells(spark, vDir, queryVec, nProbe)
    graft.Tables.loadPath(spark, s"$vDir/ivf_vectors")
      .filter(col("ivf_cell").isin(cells: _*))
      .select(col("doc_id"),
        round(VectorFunctions.cosine(col("embedding"), typedLit(queryVec)), 6)
          .as("vec_score"))
      .orderBy(col("vec_score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Filtered IVF kNN — the FAISS `IDSelector` / ES `knn.filter` shape
    * as a PRE-filter: the allow-set semi-join lands inside the pruned
    * probe, BEFORE scoring and BEFORE the top-k, so a selective filter
    * still fills k results (post-filtering an unfiltered top-k
    * under-fills — that distinction is spec-pinned). `allowedIds` is
    * broadcast: in production the filter is metadata-scale (a tenant, a
    * collection, a date slice resolved to ids). When the attribute is
    * corpus-scale it belongs IN the index partitions as a build-time
    * column instead — same probe shape, the semi-join becomes a scan
    * predicate. The probe still partition-prunes on `ivf_cell`; the
    * semi-join is a broadcast hash join inside the probed partitions
    * (no shuffle of the index). */
  def knnFiltered(spark: SparkSession, indexDir: String,
      queryVec: Array[Float], k: Int, allowedIds: DataFrame,
      nProbe: Int = 2,
      store: CommitStore = LocalCommitStore): DataFrame = {
    val vDir = currentDir(indexDir, store)
    val cells = probeCells(spark, vDir, queryVec, nProbe)
    val allow = allowedIds.toDF("doc_id")
    graft.Tables.loadPath(spark, s"$vDir/ivf_vectors")
      .filter(col("ivf_cell").isin(cells: _*))
      .join(broadcast(allow), Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        round(VectorFunctions.cosine(col("embedding"), typedLit(queryVec)), 6)
          .as("vec_score"))
      .orderBy(col("vec_score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Batch IVF kNN: N query vectors in ONE pass over the index — the
    * IVF twin of [[SearchIndex.knnBatch]]. Each query ranks centroids
    * driver-side (index metadata) and probes its own nProbe cells; the
    * union of probed cells is partition-pruned once, the (query_id →
    * cell) probe relation and the query vectors are broadcast, and
    * per-query top-k comes from the k-bounded
    * [[org.apache.spark.sql.graftext.TopKByScoreAgg]] — never a window
    * over each query's candidate set. Result ≡ running [[knn]] once per
    * query. Returns (query_id, doc_id, vec_score, rank). */
  def knnBatch(spark: SparkSession, indexDir: String,
      queries: Seq[(Long, Array[Float])], k: Int, nProbe: Int = 2,
      store: CommitStore = LocalCommitStore): DataFrame = {
    import spark.implicits._
    val vDir = currentDir(indexDir, store)
    val probeRows = queries.flatMap { case (qid, v) =>
      probeCells(spark, vDir, v, nProbe).map(c => (qid, c))
    }
    val cells = probeRows.map(_._2).distinct
    graft.Tables.loadPath(spark, s"$vDir/ivf_vectors")
      .filter(col("ivf_cell").isin(cells: _*))
      .join(broadcast(probeRows.toDF("query_id", "ivf_cell")), "ivf_cell")
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

  /** IVF-SQ8 (the FAISS `IVF*,SQ8` shape): probe the nProbe nearest
    * cells, rank candidates by int8-quantized dot product against the
    * frozen build-time codebook, exact-cosine rerank only the top
    * `numCandidates`. At 100 TB this is the memory/bandwidth path: the
    * probed partitions scan as int8 (4× less data) and float math runs
    * on `numCandidates` rows, not the cell population. */
  def knnQuantized(spark: SparkSession, indexDir: String,
      queryVec: Array[Float], k: Int, nProbe: Int = 2,
      numCandidates: Int = 50,
      store: CommitStore = LocalCommitStore): DataFrame = {
    val vDir = currentDir(indexDir, store)
    val cells = probeCells(spark, vDir, queryVec, nProbe)
    val (mn, mx) = sqCache.computeIfAbsent(
      vDir + "|" + org.apache.spark.sql.graftext.SessionUtils.uuid(spark),
      _ => {
        val r = graft.Tables.loadPath(spark, s"$vDir/sq_stats").head()
        (r.getSeq[Double](0).toArray, r.getSeq[Double](1).toArray)
      })
    val qInt = graft.search.VectorSearch.quantizeVec(queryVec, mn, mx)
    val cands = graft.Tables.loadPath(spark, s"$vDir/ivf_vectors")
      .filter(col("ivf_cell").isin(cells: _*))
      .select(col("doc_id"), col("embedding"),
        graft.search.VectorSearch.quantizedScore(
          col("embedding"), mn, mx, qInt).as("qscore"))
      .orderBy(col("qscore").desc, col("doc_id").asc)
      .limit(numCandidates)
    cands
      .select(col("doc_id"),
        round(VectorFunctions.cosine(col("embedding"), typedLit(queryVec)), 6)
          .as("vec_score"))
      .orderBy(col("vec_score").desc, col("doc_id").asc)
      .limit(k)
  }
}
