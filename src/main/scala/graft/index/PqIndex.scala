package graft.index

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.table.{CommitStore, LocalCommitStore, LocalFs}

/** Product-quantized (PQ) vector index: the memory-scale ANN path.
  *
  * Where [[IvfIndex]] bounds the SCAN (probe a few cells) and SQ8 halves
  * the BYTES (8-bit per dim), PQ compresses each vector to `m` byte-ish
  * codes — `dim/m`-dim subvectors, each replaced by the id of its
  * nearest per-subspace k-means centroid. At `dim=64, m=8` that is 8
  * small ints instead of 64 floats (~32× smaller), which is what lets a
  * 100 TB embedding corpus's codes fit hot storage. A query scans ONLY
  * the codes column (columnar pruning does the work: the fat `embedding`
  * column is never read in the scan), scoring each vector via ADC
  * (asymmetric distance computation): the query is cut into the same m
  * subvectors, a per-subspace table of `dot(q_sub, centroid)` is
  * computed driver-side (m × nCodes doubles — metadata), and a vector's
  * approximate inner product is the sum of m table lookups. The
  * `numCandidates` best by approximate score are then re-ranked with
  * EXACT cosine — a point-lookup read of `numCandidates` embeddings,
  * bounded by the knob, never a second corpus scan.
  *
  * The codebook/codes pair is one consistent unit (codes are meaningless
  * against another training's centroids), so both tables are one
  * [[IndexDirs.Versioned]] unit: a versioned dir flipped by a single
  * `CURRENT` pointer; vacuum retains the superseded version one publish
  * cycle.
  *
  * 100 TB notes: codebook TRAINING (m k-means fits) runs over the build
  * corpus here for determinism; at scale you fit on a driver-side sample
  * (codebooks are ~kB of metadata — sample-trained codebooks are the
  * standard practice, e.g. FAISS). ENCODE is one pass of DF algebra:
  * subvector explode (m rows per vector), equality-join on `sub_id`
  * against the broadcast nCodes-per-subspace codebook, `min_by` picks
  * each code — worked set m × nCodes rows per vector, bounded by knobs,
  * shuffle only at the final per-doc regroup.
  */
object PqIndex {

  private val codebookCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Array[Double]]]]()
  private val countCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Sentinel for `numCandidates`: derive the shortlist from the index
    * size via [[scaledCandidates]]. */
  val AutoCandidates = 0

  /** Corpus-scaled shortlist default: `max(k·10, ceil(n/4))`. A FIXED
    * shortlist decays in recall as the corpus grows (an ADC shortlist
    * is a fraction-of-corpus filter: what held 0.9 recall over 500
    * vectors is 0.25·n, and 128-of-2000 measurably drifts on the
    * structureless fixture). The default keeps the calibrated fraction;
    * the knob still overrides for clustered real-world embeddings where
    * a sublinear shortlist suffices. */
  def scaledCandidates(n: Long, k: Int): Int =
    math.min(math.max(k.toLong * 10, (n + 3) / 4), Int.MaxValue.toLong).toInt

  /** Indexed-vector count of the CURRENT version — one parquet
    * metadata read, cached per version dir (invalidated by [[update]]
    * and [[delete]], which change the count in place). */
  def indexedCount(spark: SparkSession, indexDir: String,
      store: CommitStore = LocalCommitStore): Long = {
    val vDir = currentDir(indexDir, store)
    countCache.computeIfAbsent(vDir,
      _ => graft.Tables.loadPath(spark, s"$vDir/pq_vectors").count())
  }

  private val unit = IndexDirs.Versioned("PQ",
    Seq("pq_vectors", "pq_codebooks"), Seq(codebookCache, countCache))

  /** The live version's directory (both tables live under it). */
  def currentDir(indexDir: String,
      store: CommitStore = LocalCommitStore): String =
    unit.currentDir(indexDir, store)

  /** Delete unreachable versions, retaining the pointer target plus the
    * `keep` newest superseded versions. Returns deleted names. */
  def vacuum(spark: SparkSession, indexDir: String, keep: Int = 1,
      store: CommitStore = LocalCommitStore): Seq[String] =
    unit.vacuum(spark, indexDir, keep, store)

  /** Per-row array of the m `dim/m`-dim subvectors of `vec`.
    * (private[index]: shared with [[IvfPqIndex]].) */
  private[index] def subVectors(vec: Column, m: Int, subDim: Int): Column =
    transform(sequence(lit(0), lit(m - 1)),
      i => slice(VectorFunctions.asDouble(vec), i * subDim + 1, lit(subDim)))

  /** `(doc_id, sub_id, subvec)` rows → `(doc_id, codes)`: nearest
    * codebook centroid per subspace (squared-L2, code id as tiebreak),
    * codes ordered by sub_id. Worked set m × nCodes rows per vector. */
  private[index] def assignCodes(subs: DataFrame,
      codebooks: DataFrame): DataFrame = {
    val sqd = aggregate(
      zip_with(col("subvec"), col("centroid"), (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)
    subs
      .join(broadcast(codebooks), "sub_id")
      .withColumn("d", sqd)
      .groupBy("doc_id", "sub_id")
      .agg(min_by(col("code"), struct(col("d"), col("code"))).as("code"))
      .groupBy("doc_id")
      .agg(transform(array_sort(collect_list(struct(col("sub_id"), col("code")))),
        x => x.getField("code")).as("codes"))
  }

  /** Train per-subspace codebooks and encode the corpus. */
  def build(embs: DataFrame, indexDir: String, idCol: String = "vec_id",
      vecCol: String = "embedding", m: Int = 8, nCodes: Int = 16,
      seed: Long = 42L, store: CommitStore = LocalCommitStore): Unit = {
    val spark = embs.sparkSession
    import spark.implicits._
    val dim = embs.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val subDim = dim / m

    // (doc_id, sub_id, subvec): m rows per vector, reused by every
    // subspace fit and by the encode join — cache once
    val subs = embs
      .select(col(idCol).as("doc_id"),
        posexplode(subVectors(col(vecCol), m, subDim)).as(Seq("sub_id", "subvec")))
      .persist()
    try {
      val codebooks = trainCodebooks(subs, m, nCodes, seed)

      val codes = assignCodes(subs, codebooks)

      unit.publish(spark, indexDir, store) { vDir =>
        LocalFs.write(codes.join(embs.select(col(idCol).as("doc_id"),
            col(vecCol).as("embedding")), "doc_id"))
          .mode("overwrite").parquet(s"$vDir/pq_vectors")
        LocalFs.write(codebooks.coalesce(1)).mode("overwrite")
          .parquet(s"$vDir/pq_codebooks")
      }
    } finally subs.unpersist()
  }

  /** Incremental maintenance: encode NEW vectors against the FROZEN
    * codebooks and append — the same pattern as [[IvfIndex.update]]
    * (codebooks are training-frozen metadata; re-training is a rebuild,
    * published as a new version). Touches |batch| data, not the corpus;
    * appends extend the CURRENT version's consistent unit. */
  def update(newEmbs: DataFrame, indexDir: String, idCol: String = "vec_id",
      vecCol: String = "embedding",
      store: CommitStore = LocalCommitStore): Unit = {
    val spark = newEmbs.sparkSession
    import spark.implicits._
    val vDir = currentDir(indexDir, store)
    val cbs  = codebooksOf(spark, vDir)
    val m = cbs.length
    val subDim = cbs(0)(0).length
    val codebooks = (for {
      i <- 0 until m
      (cent, code) <- cbs(i).zipWithIndex
    } yield (i, code, cent.toSeq)).toDF("sub_id", "code", "centroid")
    val subs = newEmbs.select(col(idCol).as("doc_id"),
      posexplode(subVectors(col(vecCol), m, subDim))
        .as(Seq("sub_id", "subvec")))
    LocalFs.write(assignCodes(subs, codebooks)
        .join(newEmbs.select(col(idCol).as("doc_id"),
          col(vecCol).as("embedding")), "doc_id"))
      .mode("append").parquet(s"$vDir/pq_vectors")
    graft.Tables.invalidate(spark, s"$vDir/pq_vectors")
    countCache.remove(vDir)
  }

  /** Train the m per-subspace codebooks over (doc_id, sub_id, subvec)
    * rows. (private[index]: shared with [[IvfPqIndex]], which trains on
    * RESIDUAL subvectors — the composite's codebooks model what remains
    * after the coarse quantizer, not the raw vectors.) */
  private[index] def trainCodebooks(subs: DataFrame, m: Int, nCodes: Int,
      seed: Long): DataFrame = {
    val spark = subs.sparkSession
    import spark.implicits._
    (0 until m).flatMap { i =>
      val model = new KMeans().setK(nCodes).setSeed(seed + i)
        .setFeaturesCol("features").setPredictionCol("code")
        .fit(subs.filter(col("sub_id") === i)
          .select(array_to_vector(col("subvec")).as("features")))
      model.clusterCenters.zipWithIndex.map { case (c, code) =>
        (i, code, c.toArray.toSeq)
      }
    }.toDF("sub_id", "code", "centroid")
  }

  /** Doc-level retraction (PII/takedown): anti-filter rewrite of the
    * codes table through one staged [[IndexDirs.writeSwap]] (pq_vectors
    * is not cell-partitioned, so the unit of swap is the table — the
    * cost of the flat-PQ layout; [[IvfPqIndex.delete]] is the
    * cell-pruned variant). Codebooks are frozen training metadata, so
    * the deleted index is the same-codebook index over the survivors:
    * exhaustive-shortlist queries match brute force over them and a
    * victim can never be returned (PqIndexSpec). Doubles as
    * compaction: the rewrite folds update-appended files. */
  def delete(spark: SparkSession, indexDir: String, ids: Seq[Long],
      store: CommitStore = LocalCommitStore): Unit = {
    if (ids.isEmpty) return
    val vDir = currentDir(indexDir, store)
    IndexDirs.writeSwap(graft.Tables.loadPath(spark, s"$vDir/pq_vectors")
      .filter(!col("doc_id").isin(ids: _*)), s"$vDir/pq_vectors", store)
    graft.Tables.invalidate(spark, s"$vDir/pq_vectors")
    countCache.remove(vDir)
  }

  /** Codebooks as `[sub_id][code] -> centroid` (m × nCodes rows — index
    * metadata; cached per (dir, version)). */
  private def codebooksOf(spark: SparkSession, vDir: String)
      : Array[Array[Array[Double]]] =
    codebookCache.computeIfAbsent(vDir, _ => {
      val rows = graft.Tables.loadPath(spark, s"$vDir/pq_codebooks")
        .select("sub_id", "code", "centroid").collect()
      val m = rows.map(_.getInt(0)).max + 1
      val k = rows.map(_.getInt(1)).max + 1
      val out = Array.ofDim[Array[Double]](m, k)
      rows.foreach(r => out(r.getInt(0))(r.getInt(1)) =
        r.getSeq[Double](2).toArray)
      out.map(_.map(identity))
    })

  /** ADC top-k: approximate-inner-product shortlist over the codes
    * column only, exact-cosine rerank over the `numCandidates`
    * shortlisted embeddings. Output matches [[graft.search.VectorSearch.topK]]:
    * `(doc_id, vec_score)` rounded to 6. `numCandidates <= 0`
    * ([[AutoCandidates]], the default) derives the shortlist from the
    * index size via [[scaledCandidates]]. */
  def knn(spark: SparkSession, indexDir: String, queryVec: Array[Float],
      k: Int, numCandidates: Int = AutoCandidates,
      store: CommitStore = LocalCommitStore): DataFrame = {
    val vDir = currentDir(indexDir, store)
    val nCand = if (numCandidates > 0) numCandidates
      else scaledCandidates(indexedCount(spark, indexDir, store), k)
    val cbs  = codebooksOf(spark, vDir)
    val m = cbs.length
    val subDim = cbs(0)(0).length
    require(queryVec.length == m * subDim,
      s"query dim ${queryVec.length} != index dim ${m * subDim}")
    // ADC lookup table: table[i][c] = dot(q_sub_i, centroid_{i,c}) —
    // m × nCodes doubles, computed driver-side, inlined as a literal
    val table: Seq[Seq[Double]] = (0 until m).map { i =>
      cbs(i).toSeq.map { cent =>
        var d = 0.0
        var j = 0
        while (j < subDim) { d += queryVec(i * subDim + j) * cent(j); j += 1 }
        d
      }
    }
    val tLit = typedLit(table)
    val pqv  = graft.Tables.loadPath(spark, s"$vDir/pq_vectors")
    val approx = aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
      (acc, i) => acc +
        element_at(element_at(tLit, i + 1), element_at(col("codes"), i + 1) + 1))
    // shortlist reads ONLY (doc_id, codes); TakeOrdered keeps it k-bounded
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
