package graft.index

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

import graft.{SparkSpec, Tables}
import graft.embed.DeterministicEmbedder
import graft.search.VectorSearch

class IvfIndexSpec extends SparkSpec {

  private lazy val dir = {
    val d = Files.createTempDirectory("ivf").toString
    IvfIndex.build(Tables.embeddings(spark, SfDir), d, nCells = 8)
    d
  }

  test("build lays out cell-partitioned vectors and a centroid table") {
    val vDir = IvfIndex.currentDir(dir)
    val cells = Files.list(Paths.get(vDir, "ivf_vectors")).toArray
      .map(_.toString).count(_.contains("ivf_cell="))
    assert(cells === 8)
    assert(spark.read.parquet(s"$vDir/centroids").count() === 8)
    // the three tables are one versioned unit named by the pointer
    assert(vDir.endsWith("v00000"))
  }

  test("full-probe IVF knn equals brute force") {
    val e  = DeterministicEmbedder(64)
    val qv = e.embed("spark join merge sort window")
    val brute = VectorSearch.topK(Tables.embeddings(spark, SfDir),
      "vec_id", "embedding", qv, 10).collect().map(_.getLong(0)).toSeq
    val ivf = IvfIndex.knn(spark, dir, qv, 10, nProbe = 8)
      .collect().map(_.getLong(0)).toSeq
    assert(ivf === brute)
  }

  test("IVF-SQ8: full probe + wide rerank equals exact; narrow rerank keeps rank 1") {
    val e  = DeterministicEmbedder(64)
    val qv = e.embed("spark join merge sort window")
    val exact = IvfIndex.knn(spark, dir, qv, 10, nProbe = 8)
      .collect().map(_.getLong(0)).toSeq
    // rerank over everything ⇒ exact
    val wide = IvfIndex.knnQuantized(spark, dir, qv, 10, nProbe = 8,
      numCandidates = 10000).collect().map(_.getLong(0)).toSeq
    assert(wide === exact)
    // narrow candidate set still has the true best first
    val narrow = IvfIndex.knnQuantized(spark, dir, qv, 10, nProbe = 8,
      numCandidates = 20).collect().map(_.getLong(0)).toSeq
    assert(narrow.head === exact.head)
  }

  test("incremental update: new vectors land in nearest cell, knn sees the union") {
    import org.apache.spark.sql.functions.col
    val d = Files.createTempDirectory("ivf_upd").toString
    val all   = Tables.embeddings(spark, SfDir)
    val first = all.filter(col("vec_id") % 2 === 0)
    val later = all.filter(col("vec_id") % 2 === 1)
    IvfIndex.build(first, d, nCells = 8)

    IvfIndex.update(later, d)
    // full probe over build+update equals brute force over the union —
    // cell membership cannot change full-probe results
    val e  = DeterministicEmbedder(64)
    val qv = e.embed("spark join merge sort window")
    val brute = VectorSearch.topK(all, "vec_id", "embedding", qv, 10)
      .collect().map(_.getLong(0)).toSeq
    val ivf = IvfIndex.knn(spark, d, qv, 10, nProbe = 8)
      .collect().map(_.getLong(0)).toSeq
    assert(ivf === brute)

    // spot-check assignment: an updated vector's cell is the argmin
    // distance over the FIXED centroid table
    val vDir = IvfIndex.currentDir(d)
    val cents = spark.read.parquet(s"$vDir/centroids").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    val probe = later.orderBy("vec_id").head()
    val pv = probe.getSeq[Float](1).map(_.toDouble).toArray
    val want = cents.toSeq.map { case (cell, c) =>
      (cell, c.zip(pv).map { case (a, b) => (a - b) * (a - b) }.sum)
    }.minBy { case (cell, dist) => (dist, cell) }._1
    val got = spark.read.parquet(s"$vDir/ivf_vectors")
      .filter(col("doc_id") === probe.getLong(0))
      .select("ivf_cell").head().getInt(0)
    assert(got === want)
  }

  test("skewed appends degrade cell balance; rebalance restores it") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val d = Files.createTempDirectory("ivf_reb").toString
    val base = Tables.embeddings(spark, SfDir)
    IvfIndex.build(base, d, nCells = 8)
    val before = IvfIndex.imbalance(spark, d)

    // skewed drift: a pile of near-identical vectors, all landing in ONE
    // cell (copies of one corpus vector, slightly perturbed)
    val seedVec = base.orderBy("vec_id").head().getSeq[Float](1).toArray
    val n = base.count()
    val skew = (0 until 2000).map { i =>
      val v = seedVec.clone(); v(0) = v(0) + (i % 7) * 1e-4f
      (1000000L + i, v.toSeq)
    }.toDF("vec_id", "embedding")
    IvfIndex.update(skew, d)
    val drifted = IvfIndex.imbalance(spark, d)
    assert(drifted > before, "skewed appends did not degrade balance")

    // below-threshold call is a no-op; above-threshold call retrains
    val preVersion = IvfIndex.currentDir(d)
    assert(!IvfIndex.rebalance(spark, d, threshold = drifted + 1))
    assert(IvfIndex.currentDir(d) === preVersion) // no-op didn't publish
    assert(IvfIndex.rebalance(spark, d, threshold = math.max(before, 1.5)))
    // atomic publish: ONE pointer flip to a fresh version dir holding
    // all three tables; the superseded version is RETAINED for a grace
    // window (in-flight readers resolving paths under it must not die
    // mid-scan) and reclaimed either by the next publish or explicitly
    val postVersion = IvfIndex.currentDir(d)
    assert(postVersion !== preVersion)
    assert(Files.exists(Paths.get(preVersion)),
      s"superseded version $preVersion deleted with no grace window")
    assert(IvfIndex.vacuum(spark, d, keep = 0) ===
      Seq(Paths.get(preVersion).getFileName.toString))
    assert(!Files.exists(Paths.get(preVersion)))
    assert(Files.exists(Paths.get(postVersion))) // never the pointer target
    assert(IvfIndex.vacuum(spark, d, keep = 0) === Seq.empty)
    val after = IvfIndex.imbalance(spark, d)
    assert(after < drifted, s"rebalance did not improve balance: $drifted -> $after")

    // the retrained index still answers exactly at full probe
    val e  = DeterministicEmbedder(64)
    val qv = e.embed("spark join merge sort window")
    val brute = VectorSearch.topK(
      base.select(col("vec_id"), col("embedding")).unionByName(
        skew.select(col("vec_id"),
          col("embedding").cast("array<float>").as("embedding"))),
      "vec_id", "embedding", qv, 10).collect().map(_.getLong(0)).toSeq
    val ivf = IvfIndex.knn(spark, d, qv, 10, nProbe = 8)
      .collect().map(_.getLong(0)).toSeq
    assert(ivf === brute)
    assert(spark.read.parquet(s"${IvfIndex.currentDir(d)}/centroids")
      .count() === 8)
  }

  test("publish retains one superseded version; the next publish reclaims it") {
    val d = Files.createTempDirectory("ivf_vac").toString
    val embs = Tables.embeddings(spark, SfDir)
    IvfIndex.build(embs, d, nCells = 4) // v00000
    val v0 = IvfIndex.currentDir(d)
    IvfIndex.build(embs, d, nCells = 4) // v00001: v0 enters its grace window
    assert(Files.exists(Paths.get(v0)))
    val v1 = IvfIndex.currentDir(d)
    IvfIndex.build(embs, d, nCells = 4) // v00002: reclaims v0, retains v1
    assert(!Files.exists(Paths.get(v0)))
    assert(Files.exists(Paths.get(v1)))
    assert(IvfIndex.currentDir(d).endsWith("v00002"))
  }

  test("compact merges update-fragmented cells; knn results identical") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val d = Files.createTempDirectory("ivf_cmp").toString
    val all = Tables.embeddings(spark, SfDir)
    IvfIndex.build(all.filter(col("vec_id") % 2 === 0), d, nCells = 8)
    // two micro-batches fragment the touched cells
    IvfIndex.update(all.filter(col("vec_id") % 4 === 1), d)
    IvfIndex.update(all.filter(col("vec_id") % 4 === 3), d)
    val root = Paths.get(IvfIndex.currentDir(d), "ivf_vectors")
    def maxFiles: Int = Files.list(root).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("ivf_cell="))
      .map(p => Files.list(p).toArray.map(_.toString)
        .count(_.endsWith(".parquet"))).max
    assert(maxFiles > 1, "updates did not fragment cells")

    val e  = DeterministicEmbedder(64)
    val qv = e.embed("spark join merge sort window")
    val beforeKnn = IvfIndex.knn(spark, d, qv, 10, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val (nb, na) = IvfIndex.compact(spark, d)
    assert(nb > na, s"no compaction: $nb -> $na")
    assert(maxFiles === 1)
    val afterKnn = IvfIndex.knn(spark, d, qv, 10, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(afterKnn === beforeKnn)
    // idempotent: nothing left to merge
    assert(IvfIndex.compact(spark, d) === ((0L, 0L)))
  }

  test("batch knn equals N single probes at the same nProbe; no per-query window") {
    val e = DeterministicEmbedder(64)
    val queries = Seq(1L -> e.embed("spark join merge sort window"),
      2L -> e.embed("filter group data stream customer"),
      3L -> e.embed("table scan part order key"))
    val batchDf = IvfIndex.knnBatch(spark, dir, queries, 10, nProbe = 2)
    val plan = batchDf.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "per-query window sort crept in")
    assert(plan.contains("topk_by_score"), plan)
    val batch = batchDf.collect()
      .map(r => (r.getLong(0), r.getLong(3)) ->
        (r.getLong(1), r.getDouble(2))).toMap
    queries.foreach { case (qid, qv) =>
      val single = IvfIndex.knn(spark, dir, qv, 10, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(batch.count(_._1._1 == qid) === single.length, s"query $qid size")
      single.zipWithIndex.foreach { case ((docId, s), i) =>
        assert(batch((qid, i + 1L)) === ((docId, s)), s"query $qid rank ${i + 1}")
      }
    }
  }

  test("tight probe returns candidates from the query's own cell") {
    val e  = DeterministicEmbedder(64)
    // use an actual corpus vector as the query: must be in the probed cell
    val row = Tables.embeddings(spark, SfDir).orderBy("vec_id").head()
    val qv  = row.getSeq[Float](1).toArray
    val got = IvfIndex.knn(spark, dir, qv, 5, nProbe = 1).collect()
    assert(got.nonEmpty)
    assert(got.head.getLong(0) === row.getLong(0)) // itself, cosine 1.0
    assert(math.abs(got.head.getDouble(1) - 1.0) < 1e-5)
  }

  test("delete: survivors match brute force; untouched cells byte-identical") {
    val d = Files.createTempDirectory("ivf_del").toString
    val embs = Tables.embeddings(spark, SfDir)
    IvfIndex.build(embs, d, nCells = 8)
    val victims = embs.filter(col("vec_id") % 41 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(victims.nonEmpty)
    val vDir = IvfIndex.currentDir(d)
    def fp(): Map[String, Seq[(String, Long)]] = {
      val root = java.nio.file.Paths.get(vDir, "ivf_vectors")
      Files.list(root).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.startsWith("ivf_cell="))
        .map { pth =>
          pth.getFileName.toString ->
            Files.list(pth).toArray.map(_.asInstanceOf[java.nio.file.Path])
              .filter(_.toString.endsWith(".parquet"))
              .map(f => (f.getFileName.toString, Files.size(f))).toSeq.sorted
        }.toMap
    }
    val touched = spark.read.parquet(s"$vDir/ivf_vectors")
      .filter(col("doc_id").isin(victims: _*))
      .select("ivf_cell").distinct().collect()
      .map(r => s"ivf_cell=${r.getInt(0)}").toSet
    val before = fp()
    IvfIndex.delete(spark, d, victims)
    val after = fp()
    (before.keySet -- touched).foreach { cell =>
      assert(after(cell) === before(cell), s"untouched $cell rewritten")
    }
    val qv = graft.embed.DeterministicEmbedder(64)
      .embed("spark join merge sort window")
    val brute = graft.search.VectorSearch.topK(
      embs.filter(!col("vec_id").isin(victims: _*)),
      "vec_id", "embedding", qv, 10).collect().toSeq
    val got = IvfIndex.knn(spark, d, qv, 10, nProbe = 8).collect().toSeq
    assert(got === brute)

    // deleting every remaining vector leaves a readable, empty index
    // that takes updates again
    val rest = embs.filter(!col("vec_id").isin(victims: _*))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    IvfIndex.delete(spark, d, rest)
    assert(IvfIndex.knn(spark, d, qv, 10, nProbe = 8).count() === 0)
    val revived = rest.take(3)
    IvfIndex.update(embs.filter(col("vec_id").isin(revived: _*)), d)
    assert(IvfIndex.knn(spark, d, qv, 10, nProbe = 8).collect()
      .map(_.getLong(0)).toSet === revived.toSet)
  }
}
