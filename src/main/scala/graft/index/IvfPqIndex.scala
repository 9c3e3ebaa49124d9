package graft.index

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.TopKByScoreAgg

import graft.functions.VectorFunctions
import graft.table.{CommitStore, LocalCommitStore, LocalFs}

/** IVF-PQ composite vector index — the standard billion-scale ANN
  * layout (FAISS `IndexIVFPQ`): a coarse k-means quantizer bounds the
  * SCAN ([[IvfIndex]]'s contribution: probe `nProbe` of `nCells`
  * partition-pruned cell dirs) while product quantization bounds the
  * BYTES ([[PqIndex]]'s contribution: m small codes per vector, the fat
  * embedding column untouched in the scan). The PQ codebooks are
  * trained on RESIDUALS (vector − its cell centroid), the detail that
  * makes the composite beat flat PQ: after the coarse quantizer
  * explains the coarse structure, the residual distribution is far
  * tighter, so the same `m × nCodes` budget spends its resolution where
  * the data actually varies.
  *
  * Query = rank centroids driver-side (metadata) → probe `nProbe` cells
  * (partition-pruned scan of the codes column only) → ADC shortlist
  * where approx(v) = q·centroid(cell) + Σᵢ table[i][codeᵢ] (the
  * residual decomposition q·v ≈ q·c + q·r) → exact-cosine rerank over
  * `numCandidates` point-looked-up embeddings. At 100 TB the scan is
  * nProbe/nCells of the corpus at ~32× byte compression, and the two
  * knobs (nProbe, numCandidates) are independent recall/latency dials.
  *
  * All three tables (vectors, centroids, codebooks) are ONE consistent
  * unit — codes decode only against the codebooks and centroids they
  * were encoded with — so they are one [[IndexDirs.Versioned]] unit: a
  * versioned dir flipped by a single CURRENT pointer with a one-cycle
  * vacuum grace window. In-place maintenance ([[update]], [[delete]],
  * [[compact]]) goes through the staged cell swaps of [[IndexDirs]].
  */
object IvfPqIndex {

  private val metaCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Map[Int, Array[Double]], Array[Array[Array[Double]]])]()
  private val countCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private val unit = IndexDirs.Versioned("IVF-PQ",
    Seq("vectors", "centroids", "codebooks"), Seq(metaCache, countCache))

  /** Indexed-vector count of the CURRENT version (cached per version
    * dir; invalidated by the in-place mutators). */
  def indexedCount(spark: SparkSession, indexDir: String,
      store: CommitStore = LocalCommitStore): Long = {
    val vDir = currentDir(indexDir, store)
    countCache.computeIfAbsent(vDir,
      _ => graft.Tables.loadPath(spark, s"$vDir/vectors").count())
  }

  /** Corpus-scaled shortlist default — same rule and rationale as
    * [[PqIndex.scaledCandidates]] (the shortlist is a fraction-of-corpus
    * filter; a fixed 128 decays in recall as the index grows). */
  private def autoCandidates(spark: SparkSession, indexDir: String,
      numCandidates: Int, k: Int, store: CommitStore): Int =
    if (numCandidates > 0) numCandidates
    else PqIndex.scaledCandidates(indexedCount(spark, indexDir, store), k)

  /** The live version's directory (all three tables live under it). */
  def currentDir(indexDir: String,
      store: CommitStore = LocalCommitStore): String =
    unit.currentDir(indexDir, store)

  /** Delete unreachable versions, retaining the pointer target plus the
    * `keep` newest superseded versions (grace window for in-flight
    * readers of the old pointer). */
  def vacuum(spark: SparkSession, indexDir: String, keep: Int = 1,
      store: CommitStore = LocalCommitStore): Seq[String] =
    unit.vacuum(spark, indexDir, keep, store)

  /** The per-row residual (vector − its cell centroid), as a double
    * array column, given a broadcast (cell, centroid) relation already
    * joined in. */
  private def residual(vecCol: String): org.apache.spark.sql.Column =
    zip_with(VectorFunctions.asDouble(col(vecCol)), col("centroid"),
      (a, b) => a - b)

  /** Fit the coarse quantizer, train residual codebooks, encode, and
    * publish one consistent versioned unit. */
  def build(embs: DataFrame, indexDir: String, idCol: String = "vec_id",
      vecCol: String = "embedding", nCells: Int = 8, m: Int = 8,
      nCodes: Int = 16, seed: Long = 42L,
      store: CommitStore = LocalCommitStore): Unit = {
    val spark = embs.sparkSession
    import spark.implicits._
    val dim = embs.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val subDim = dim / m

    val withVec = embs.select(col(idCol).as("doc_id"),
      col(vecCol).as("embedding"),
      array_to_vector(col(vecCol).cast("array<double>")).as("features"))
    val coarse = new KMeans().setK(nCells).setSeed(seed)
      .setFeaturesCol("features").setPredictionCol("ivf_cell")
      .fit(withVec)
    val centroids = coarse.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.toSeq) }.toSeq
      .toDF("ivf_cell", "centroid")

    // residual subvectors: m rows per vector, reused by every subspace
    // fit and the encode join — cache once
    val assigned = coarse.transform(withVec)
      .select(col("doc_id"), col("embedding"), col("ivf_cell"))
    val subs = assigned
      .join(broadcast(centroids), "ivf_cell")
      .select(col("doc_id"), col("ivf_cell"),
        posexplode(PqIndex.subVectors(residual("embedding"), m, subDim))
          .as(Seq("sub_id", "subvec")))
      .persist()
    try {
      val codebooks = PqIndex.trainCodebooks(
        subs.select("doc_id", "sub_id", "subvec"), m, nCodes, seed)
      val codes = PqIndex.assignCodes(
        subs.select("doc_id", "sub_id", "subvec"), codebooks)

      unit.publish(spark, indexDir, store) { vDir =>
        IndexDirs.writeBuckets(codes
            .join(assigned, "doc_id")
            .select(col("doc_id"), col("embedding"), col("codes"),
              col("ivf_cell")),
          s"$vDir/vectors", "ivf_cell", "overwrite")
        LocalFs.write(centroids.select(col("ivf_cell").as("cell"),
            col("centroid")).coalesce(1))
          .mode("overwrite").parquet(s"$vDir/centroids")
        LocalFs.write(codebooks.coalesce(1)).mode("overwrite")
          .parquet(s"$vDir/codebooks")
      }
    } finally subs.unpersist()
  }

  /** Incremental maintenance: assign NEW vectors to their nearest
    * EXISTING centroid, encode against the FROZEN residual codebooks,
    * and append partition-locally — centroids and codebooks stay fixed
    * (re-training is a rebuild, published as a new version). Touches
    * |batch| data, never the corpus. */
  def update(newEmbs: DataFrame, indexDir: String, idCol: String = "vec_id",
      vecCol: String = "embedding",
      store: CommitStore = LocalCommitStore): Unit = {
    val spark = newEmbs.sparkSession
    import spark.implicits._
    val vDir = currentDir(indexDir, store)
    val (cents, cbs) = metaOf(spark, vDir)
    val m = cbs.length
    val subDim = cbs(0)(0).length
    val centroids = cents.toSeq.map { case (c, v) => (c, v.toSeq) }
      .toDF("ivf_cell", "centroid")
    val codebooks = (for {
      i <- 0 until m
      (cent, code) <- cbs(i).zipWithIndex
    } yield (i, code, cent.toSeq)).toDF("sub_id", "code", "centroid")

    // nearest existing centroid per new vector (nCells rows per vector,
    // min_by fold — the same shape as IvfIndex.update)
    val sqd = aggregate(
      zip_with(VectorFunctions.asDouble(col(vecCol)), col("centroid"),
        (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)
    val assigned = newEmbs
      .select(col(idCol).as("doc_id"), col(vecCol).as("embedding"))
      .crossJoin(broadcast(centroids))
      .withColumn("d", sqd)
      .groupBy("doc_id")
      .agg(min_by(struct(col("ivf_cell"), col("centroid")),
          struct(col("d"), col("ivf_cell"))).as("best"),
        first(col("embedding")).as("embedding"))
      .select(col("doc_id"), col("embedding"),
        col("best.ivf_cell").as("ivf_cell"),
        col("best.centroid").as("centroid"))

    val subs = assigned.select(col("doc_id"), col("ivf_cell"),
      posexplode(PqIndex.subVectors(residual("embedding"), m, subDim))
        .as(Seq("sub_id", "subvec")))
    IndexDirs.appendBuckets(
      PqIndex.assignCodes(subs.select("doc_id", "sub_id", "subvec"), codebooks)
        .join(assigned.select("doc_id", "embedding", "ivf_cell"), "doc_id")
        .select(col("doc_id"), col("embedding"), col("codes"), col("ivf_cell")),
      s"$vDir/vectors", "ivf_cell", store)
    graft.Tables.invalidate(spark, s"$vDir/vectors")
    countCache.remove(vDir)
  }

  /** Doc-level retraction (PII/takedown): rewrite ONLY the cells that
    * hold victims — an anti-filter per touched cell through a staged
    * swap; untouched cells keep their exact bytes. Centroids and
    * codebooks are FROZEN training metadata — removing rows never
    * invalidates the remaining codes — so the deleted index is exactly
    * the same-metadata index encoded over the surviving corpus: with
    * exhaustive knobs, queries match brute force over the survivors,
    * and a victim can never be returned (IvfPqSpec pins both).
    * Touched-cell discovery is one pruned-column scan; the rewrite
    * touches |touched cells| data. */
  def delete(spark: SparkSession, indexDir: String, ids: Seq[Long],
      store: CommitStore = LocalCommitStore): Unit =
    if (ids.nonEmpty) {
      val vDir = currentDir(indexDir, store)
      IndexDirs.retract(spark, s"$vDir/vectors", "ivf_cell", ids, store)
      countCache.remove(vDir)
    }

  /** Collapse the small files [[update]] appends per touched cell per
    * micro-batch back to one file per cell (same shape as
    * [[IvfIndex.compact]]/[[SearchIndex.compact]]): rows bit-identical,
    * untouched cells byte-identical. Returns (filesBefore, filesAfter)
    * over rewritten cells. */
  def compact(spark: SparkSession, indexDir: String,
      store: CommitStore = LocalCommitStore): (Long, Long) =
    IndexDirs.compactBuckets(spark,
      s"${currentDir(indexDir, store)}/vectors", "ivf_cell", store)

  /** Centroids + codebooks (index metadata, cached per version dir). */
  private def metaOf(spark: SparkSession, vDir: String)
      : (Map[Int, Array[Double]], Array[Array[Array[Double]]]) =
    metaCache.computeIfAbsent(vDir, _ => {
      val cents = graft.Tables.loadPath(spark, s"$vDir/centroids")
        .select("cell", "centroid").collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      val rows = graft.Tables.loadPath(spark, s"$vDir/codebooks")
        .select("sub_id", "code", "centroid").collect()
      val m = rows.map(_.getInt(0)).max + 1
      val k = rows.map(_.getInt(1)).max + 1
      val cbs = Array.ofDim[Array[Double]](m, k)
      rows.foreach(r => cbs(r.getInt(0))(r.getInt(1)) =
        r.getSeq[Double](2).toArray)
      (cents, cbs.map(_.map(identity)))
    })

  /** Batch ADC top-k: N query vectors in ONE pass over the composite —
    * the IVF-PQ twin of [[IvfIndex.knnBatch]]. Each query ranks
    * centroids driver-side and probes its own cells; the union of
    * probed cells is partition-pruned once. The probe relation carries
    * `(query_id, cell, query index, q·centroid)` and is broadcast; the
    * per-query residual ADC tables ride in ONE N×m×nCodes literal
    * indexed by the query index, so the shortlist still reads only the
    * codes column and never explodes it. Per-query shortlist and final
    * top-k are the k-bounded [[org.apache.spark.sql.graftext.TopKByScoreAgg]]
    * — never a window. The exact-cosine rerank joins the broadcast
    * (knob-bounded) shortlist against the probed cells only. Result ≡
    * running [[knn]] once per query (IvfPqSpec). */
  def knnBatch(spark: SparkSession, indexDir: String,
      queries: Seq[(Long, Array[Float])], k: Int, nProbe: Int = 2,
      numCandidates: Int = PqIndex.AutoCandidates,
      store: CommitStore = LocalCommitStore): DataFrame = {
    import spark.implicits._
    val nCand = autoCandidates(spark, indexDir, numCandidates, k, store)
    val vDir = currentDir(indexDir, store)
    val (cents, cbs) = metaOf(spark, vDir)
    val m = cbs.length
    val subDim = cbs(0)(0).length
    queries.foreach { case (_, v) => require(v.length == m * subDim,
      s"query dim ${v.length} != index dim ${m * subDim}") }

    // (query_id, cell, qidx, q·centroid) — metadata-scale, broadcast
    val probeRows = queries.zipWithIndex.flatMap { case ((qid, v), qi) =>
      val q = v.map(_.toDouble)
      cents.toSeq.map { case (cell, c) =>
          var d = 0.0
          var j = 0
          while (j < c.length) { val t = c(j) - q(j); d += t * t; j += 1 }
          (cell, d)
        }
        .sortBy { case (cell, d) => (d, cell) }
        .take(math.min(nProbe, cents.size))
        .map { case (cell, _) =>
          val c = cents(cell)
          var d = 0.0
          var j = 0
          while (j < c.length) { d += q(j) * c(j); j += 1 }
          (qid, cell, qi, d)
        }
    }
    val cells = probeRows.map(_._2).distinct
    // one 3-d ADC literal: [query index][subspace][code] -> dot
    val tables: Seq[Seq[Seq[Double]]] = queries.map { case (_, v) =>
      val q = v.map(_.toDouble)
      (0 until m).map { i =>
        cbs(i).toSeq.map { cent =>
          var d = 0.0
          var j = 0
          while (j < subDim) { d += q(i * subDim + j) * cent(j); j += 1 }
          d
        }
      }
    }
    val tLit = typedLit(tables)
    val approx = col("cdot") +
      aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
        (acc, i) => acc + element_at(
          element_at(element_at(tLit, col("qidx") + 1), i + 1),
          element_at(col("codes"), i + 1) + 1))

    val pqv = graft.Tables.loadPath(spark, s"$vDir/vectors")
      .filter(col("ivf_cell").isin(cells: _*))
    val shortlist = pqv
      .join(broadcast(probeRows.toDF("query_id", "ivf_cell", "qidx", "cdot")),
        "ivf_cell")
      .select(col("query_id"), col("doc_id"), approx.as("approx"))
      .groupBy("query_id")
      .agg(TopKByScoreAgg.topKByScore(col("approx"), col("doc_id"), nCand)
        .as("top"))
      .select(col("query_id"), explode(col("top.id")).as("doc_id"))
    TopKByScoreAgg.ranked(pqv
        .join(broadcast(shortlist), "doc_id")
        .join(broadcast(queries.map { case (qid, v) => (qid, v.toSeq) }
          .toDF("query_id", "qvec")), "query_id")
        .select(col("query_id"), col("doc_id"),
          round(VectorFunctions.cosine(col("embedding"), col("qvec")), 6)
            .as("vec_score")),
      "query_id", col("vec_score"), k, "vec_score")
  }

  /** ADC top-k: probe the `nProbe` nearest cells (partition-pruned),
    * shortlist `numCandidates` by q·centroid + residual table lookups
    * over the codes column only, exact-cosine rerank the shortlist. */
  def knn(spark: SparkSession, indexDir: String, queryVec: Array[Float],
      k: Int, nProbe: Int = 2,
      numCandidates: Int = PqIndex.AutoCandidates,
      store: CommitStore = LocalCommitStore): DataFrame = {
    val nCand = autoCandidates(spark, indexDir, numCandidates, k, store)
    val vDir = currentDir(indexDir, store)
    val (cents, cbs) = metaOf(spark, vDir)
    val m = cbs.length
    val subDim = cbs(0)(0).length
    require(queryVec.length == m * subDim,
      s"query dim ${queryVec.length} != index dim ${m * subDim}")
    val q = queryVec.map(_.toDouble)

    // driver-side centroid ranking — nCells rows of metadata
    val ranked = cents.toSeq.map { case (cell, c) =>
      var d = 0.0
      var j = 0
      while (j < c.length) { val t = c(j) - q(j); d += t * t; j += 1 }
      (cell, d)
    }.sortBy { case (cell, d) => (d, cell) }
    val probes = ranked.take(math.min(nProbe, ranked.size)).map(_._1)
    // q·centroid per probed cell (the coarse term of the residual
    // decomposition), inlined as a literal map
    val cellDot: Map[Int, Double] = probes.map { cell =>
      val c = cents(cell)
      var d = 0.0
      var j = 0
      while (j < c.length) { d += q(j) * c(j); j += 1 }
      cell -> d
    }.toMap
    // ADC table over the RESIDUAL codebooks: m × nCodes doubles
    val table: Seq[Seq[Double]] = (0 until m).map { i =>
      cbs(i).toSeq.map { cent =>
        var d = 0.0
        var j = 0
        while (j < subDim) { d += q(i * subDim + j) * cent(j); j += 1 }
        d
      }
    }
    val tLit = typedLit(table)
    val approx = element_at(typedLit(cellDot), col("ivf_cell")) +
      aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
        (acc, i) => acc +
          element_at(element_at(tLit, i + 1),
            element_at(col("codes"), i + 1) + 1))

    val pqv = graft.Tables.loadPath(spark, s"$vDir/vectors")
      .filter(col("ivf_cell").isin(probes: _*))
    // shortlist reads ONLY (doc_id, codes, ivf_cell) in the probed
    // cells; TakeOrdered keeps it numCandidates-bounded
    val ids = pqv.select(col("doc_id"), approx.as("approx"))
      .orderBy(col("approx").desc, col("doc_id").asc)
      .limit(nCand)
      .collect().map(_.get(0))
    val cos = VectorFunctions.cosine(col("embedding"), typedLit(queryVec))
    pqv.filter(col("doc_id").isin(ids: _*))
      .select(col("doc_id"), round(cos, 6).as("vec_score"))
      .orderBy(col("vec_score").desc, col("doc_id").asc)
      .limit(k)
  }
}
