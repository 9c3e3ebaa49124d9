package graft.index

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.{SparkSpec, Tables}
import graft.embed.DeterministicEmbedder
import graft.search.VectorSearch

class IvfPqSpec extends SparkSpec {

  private val e  = DeterministicEmbedder(64)
  private val qv = e.embed("spark join merge sort window")

  private lazy val dir = {
    val d = Files.createTempDirectory("ivfpq").toString
    IvfPqIndex.build(Tables.embeddings(spark, SfDir), d,
      nCells = 8, m = 8, nCodes = 16)
    d
  }

  test("build lays out cell-partitioned codes + centroids + codebooks") {
    val vDir = IvfPqIndex.currentDir(dir)
    assert(vDir.endsWith("v00000"))
    val n = Tables.embeddings(spark, SfDir).count()
    val v = spark.read.parquet(s"$vDir/vectors")
    assert(v.count() === n)
    // partition-pruned layout: cell dirs on disk
    val cellDirs = Files.list(java.nio.file.Paths.get(vDir, "vectors"))
      .toArray.map(_.toString).count(_.contains("ivf_cell="))
    assert(cellDirs > 2)
    // every vector: m codes in range, a cell in range
    assert(v.selectExpr("size(codes) AS s").where("s <> 8").count() === 0)
    assert(v.selectExpr("explode(codes) AS c")
      .where("c < 0 OR c >= 16").count() === 0)
    assert(spark.read.parquet(s"$vDir/centroids").count() === 8)
    assert(spark.read.parquet(s"$vDir/codebooks").count() === 8 * 16)
  }

  test("full probe + rerank over everything equals exact brute force") {
    val brute = VectorSearch.topK(Tables.embeddings(spark, SfDir),
      "vec_id", "embedding", qv, 10).collect().toSeq
    val got = IvfPqIndex.knn(spark, dir, qv, 10, nProbe = 8,
      numCandidates = 1000000).collect().toSeq
    assert(got === brute)
  }

  test("nProbe recall ladder: monotone, measured floors hold") {
    val exact = VectorSearch.topK(Tables.embeddings(spark, SfDir),
      "vec_id", "embedding", qv, 10).collect().map(_.getLong(0)).toSet
    val ladder = Seq(2, 4, 6, 8).map { p =>
      val got = IvfPqIndex.knn(spark, dir, qv, 10, nProbe = p,
        numCandidates = 128).collect().map(_.getLong(0)).toSet
      p -> (got intersect exact).size / 10.0
    }
    info(s"recall@10 by nProbe: $ladder")
    // more probes never hurt
    ladder.sliding(2).foreach { case Seq((_, a), (_, b)) => assert(a <= b) }
    // measured fixture floors (8 coarse cells over 500 vectors — cells
    // are COARSE here; at corpus scale nCells grows ~sqrt(n) and
    // per-probe recall rises). The 128-candidate shortlist itself costs
    // ~0.1 recall at this codebook budget — the numCandidates knob, not
    // the probe, which is why q123's oracle setting is exhaustive.
    assert(ladder.toMap.apply(8) >= 0.9, s"ladder=$ladder")
    assert(ladder.toMap.apply(4) >= 0.7, s"ladder=$ladder")
  }

  test("residual codebooks beat flat-PQ shortlists at equal budget") {
    // The composite's selling point: residual-trained codes approximate
    // q·v better than flat codes, so a NARROW shortlist (no rerank
    // safety margin) loses less. Compare shortlist quality: top-10
    // overlap with exact, both at numCandidates = 10 (rerank of 10 of
    // 10 is a no-op — pure ADC ranking).
    val flat = Files.createTempDirectory("pq_flat").toString
    PqIndex.build(Tables.embeddings(spark, SfDir), flat, m = 8, nCodes = 16)
    val exact = VectorSearch.topK(Tables.embeddings(spark, SfDir),
      "vec_id", "embedding", qv, 10).collect().map(_.getLong(0)).toSet
    def overlap(ids: Set[Long]) = (ids intersect exact).size
    val ivfpq = IvfPqIndex.knn(spark, dir, qv, 10, nProbe = 8,
      numCandidates = 10).collect().map(_.getLong(0)).toSet
    val pq = PqIndex.knn(spark, flat, qv, 10, numCandidates = 10)
      .collect().map(_.getLong(0)).toSet
    assert(overlap(ivfpq) >= overlap(pq),
      s"residual ADC ${overlap(ivfpq)}/10 vs flat ${overlap(pq)}/10")
  }

  test("delete: survivors match brute force; untouched cells byte-identical") {
    val d = Files.createTempDirectory("ivfpq_del").toString
    val embs = Tables.embeddings(spark, SfDir)
    IvfPqIndex.build(embs, d, nCells = 8, m = 8, nCodes = 16)
    val victims = embs.filter(col("vec_id") % 37 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(victims.nonEmpty)
    val vDir = IvfPqIndex.currentDir(d)
    def fp(): Map[String, Seq[(String, Long)]] = {
      val root = java.nio.file.Paths.get(vDir, "vectors")
      Files.list(root).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.startsWith("ivf_cell="))
        .map { p =>
          p.getFileName.toString ->
            Files.list(p).toArray.map(_.asInstanceOf[java.nio.file.Path])
              .filter(_.toString.endsWith(".parquet"))
              .map(f => (f.getFileName.toString, Files.size(f))).toSeq.sorted
        }.toMap
    }
    val touched = spark.read.parquet(s"$vDir/vectors")
      .filter(col("doc_id").isin(victims: _*))
      .select("ivf_cell").distinct().collect()
      .map(r => s"ivf_cell=${r.getInt(0)}").toSet
    val before = fp()
    IvfPqIndex.delete(spark, d, victims)
    val after = fp()
    (before.keySet -- touched).foreach { cell =>
      assert(after(cell) === before(cell), s"untouched $cell rewritten")
    }
    // frozen-metadata contract: exhaustive knobs == brute force over
    // the SURVIVING corpus, and a victim can never come back
    val brute = graft.search.VectorSearch.topK(
      embs.filter(!col("vec_id").isin(victims: _*)),
      "vec_id", "embedding", qv, 10).collect().toSeq
    val got = IvfPqIndex.knn(spark, d, qv, 10, nProbe = 8,
      numCandidates = 1000000).collect().toSeq
    assert(got === brute)
    assert(!got.exists(r => victims.contains(r.getLong(0))))

    // deleting every remaining vector leaves a readable, empty index
    // that takes updates again
    val rest = embs.filter(!col("vec_id").isin(victims: _*))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    IvfPqIndex.delete(spark, d, rest)
    assert(IvfPqIndex.knn(spark, d, qv, 10, nProbe = 8,
      numCandidates = 1000000).count() === 0)
    assert(IvfPqIndex.indexedCount(spark, d) === 0)
    val revived = rest.take(3)
    IvfPqIndex.update(embs.filter(col("vec_id").isin(revived: _*)), d)
    assert(IvfPqIndex.knn(spark, d, qv, 10, nProbe = 8,
      numCandidates = 1000000).collect().map(_.getLong(0)).toSet ===
      revived.toSet)
  }

  test("compact: updates fragment cells; compact restores one file, same results") {
    val d = Files.createTempDirectory("ivfpq_cpt").toString
    val embs = Tables.embeddings(spark, SfDir)
    IvfPqIndex.build(embs.filter(col("vec_id") % 2 === 0), d,
      nCells = 8, m = 8, nCodes = 16)
    IvfPqIndex.update(embs.filter(col("vec_id") % 4 === 1), d)
    IvfPqIndex.update(embs.filter(col("vec_id") % 4 === 3), d)
    val pre = IvfPqIndex.knn(spark, d, qv, 10, nProbe = 8,
      numCandidates = 1000000).collect().toSeq
    val (b, a) = IvfPqIndex.compact(spark, d)
    assert(b > a, s"nothing compacted (before=$b after=$a)")
    val vDir = IvfPqIndex.currentDir(d)
    val maxFiles = Files.list(java.nio.file.Paths.get(vDir, "vectors"))
      .toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("ivf_cell="))
      .map(p => Files.list(p).toArray
        .count(_.toString.endsWith(".parquet"))).max
    assert(maxFiles === 1)
    val post = IvfPqIndex.knn(spark, d, qv, 10, nProbe = 8,
      numCandidates = 1000000).collect().toSeq
    assert(post === pre)
  }

  test("knnBatch equals N single knn calls; no window in the plan") {
    val qs = Seq(1L -> e.embed("alpha beta gamma"), 2L -> qv,
      3L -> e.embed("completely different text"))
    val batch = IvfPqIndex.knnBatch(spark, dir, qs, 5, nProbe = 8,
      numCandidates = 512)
    val rows = batch.collect()
    qs.foreach { case (qid, v) =>
      val single = IvfPqIndex.knn(spark, dir, v, 5, nProbe = 8,
          numCandidates = 512)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val got = rows.filter(_.getLong(0) == qid).sortBy(_.getLong(3))
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq
      assert(got === single, s"query $qid")
    }
    val plan = batch.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("Window"), "per-query top-k degraded to a window")
  }

  test("incremental update: frozen centroids + codebooks, exact after rerank") {
    val d = Files.createTempDirectory("ivfpq_upd").toString
    val embs = Tables.embeddings(spark, SfDir)
    IvfPqIndex.build(embs.filter(col("vec_id") % 2 === 0), d,
      nCells = 8, m = 8, nCodes = 16)
    IvfPqIndex.update(embs.filter(col("vec_id") % 2 === 1), d)
    val vDir = IvfPqIndex.currentDir(d)
    assert(vDir.endsWith("v00000")) // update extends, never republishes
    assert(spark.read.parquet(s"$vDir/vectors").count() === embs.count())
    // full probe + full rerank stays exact over the merged corpus
    val brute = VectorSearch.topK(embs, "vec_id", "embedding", qv, 10)
      .collect().toSeq
    val got = IvfPqIndex.knn(spark, d, qv, 10, nProbe = 8,
      numCandidates = 1000000).collect().toSeq
    assert(got === brute)
  }

  test("build/delete/compact under the ManifestCommitStore too") {
    import graft.table.ManifestCommitStore
    val d = Files.createTempDirectory("ivfpq_manifest").toString
    val embs = Tables.embeddings(spark, SfDir)
    IvfPqIndex.build(embs.filter(col("vec_id") % 2 === 0), d,
      nCells = 8, m = 8, nCodes = 16, store = ManifestCommitStore)
    IvfPqIndex.update(embs.filter(col("vec_id") % 2 === 1), d,
      store = ManifestCommitStore)
    val victims = embs.filter(col("vec_id") % 41 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    IvfPqIndex.delete(spark, d, victims, store = ManifestCommitStore)
    val (b, a) = IvfPqIndex.compact(spark, d, store = ManifestCommitStore)
    assert(a <= b)
    val brute = VectorSearch.topK(
      embs.filter(!col("vec_id").isin(victims: _*)),
      "vec_id", "embedding", qv, 10).collect().toSeq
    val got = IvfPqIndex.knn(spark, d, qv, 10, nProbe = 8,
      numCandidates = 1000000, store = ManifestCommitStore).collect().toSeq
    assert(got === brute)
  }
}
