package graft.index

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.embed.DeterministicEmbedder
import graft.search.{TextSearch, VectorSearch}

class SearchIndexSpec extends SparkSpec {

  private lazy val indexDir = {
    val d = Files.createTempDirectory("index").toString
    SearchIndex.build(Tables.documents(spark, SfDir),
      Tables.embeddings(spark, SfDir), d)
    d
  }

  test("build lays out partition-pruned tables") {
    assert(Files.exists(Paths.get(indexDir, "stats")))
    val pDirs = Files.list(Paths.get(indexDir, "postings")).toArray
      .map(_.toString).count(_.contains("term_bucket="))
    assert(pDirs > 10) // bucketed layout exists
    val vDirs = Files.list(Paths.get(indexDir, "vectors")).toArray
      .map(_.toString).count(_.contains("lsh_bucket="))
    assert(vDirs > 2)
  }

  test("compact layout: exactly one parquet file per bucket dir") {
    // IndexDirs.writeBuckets sends each bucket to ONE shuffle partition
    // → one file per dir. More files per dir = the tiny-file tax per
    // probe, times every query.
    def filesPerDir(table: String, prefix: String): Seq[Int] =
      Files.list(Paths.get(indexDir, table)).toArray.map(_.toString).toSeq
        .filter(_.contains(prefix))
        .map(d => Files.list(Paths.get(d)).toArray.map(_.toString)
          .count(_.endsWith(".parquet")))
    for (t <- Seq("postings", "positions", "docfreq")) {
      val n = filesPerDir(t, "term_bucket=")
      assert(n.nonEmpty && n.forall(_ == 1), t)
    }
    val v = filesPerDir("vectors", "lsh_bucket=")
    assert(v.nonEmpty && v.forall(_ == 1))
  }

  test("build derives docfreq and stats as from its written postings") {
    val p = spark.read.parquet(s"$indexDir/postings")
    val df = p.groupBy("term_bucket", "term")
      .agg(countDistinct("doc_id").cast("double").as("df"))
      .select("term_bucket", "term", "df")
    val built = spark.read.parquet(s"$indexDir/docfreq")
      .select("term_bucket", "term", "df")
    assert(built.exceptAll(df).isEmpty && df.exceptAll(built).isEmpty)
    val stats = p.select("doc_id", "dl").distinct()
      .agg(count(lit(1)).cast("double").as("n_docs"),
        avg("dl").as("avgdl"), sum("dl").as("sum_dl"))
    assert(spark.read.parquet(s"$indexDir/stats").collect().toSeq ===
      stats.collect().toSeq)
  }

  test("build leaves no cached relation, also when its write fails") {
    val docs = Tables.documents(spark, SfDir).select("doc_id", "text")
    val embs = Tables.embeddings(spark, SfDir).select("vec_id", "embedding")
    spark.catalog.clearCache()
    SearchIndex.build(docs, embs,
      Files.createTempDirectory("index_nocache").toString)
    assert(spark.sharedState.cacheManager.isEmpty)
    // a regular file where the index dir should be: the first write fails
    val file = Files.createTempFile("index_nocache", ".txt").toString
    intercept[Exception](SearchIndex.build(docs, embs, file))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("termBucket expression matches driver-side termBucketOf") {
    import spark.implicits._
    val terms = Seq("spark", "join", "merge", "window", "zzz9")
    val got = terms.toDF("t")
      .select(SearchIndex.termBucket(col("t")).as("b"))
      .collect().map(_.getInt(0)).toSeq
    assert(got === terms.map(SearchIndex.termBucketOf))
  }

  test("incremental update equals full rebuild (bm25 + knn + hybrid)") {
    val docs = Tables.documents(spark, SfDir)
    val embs = Tables.embeddings(spark, SfDir)
    val firstHalf  = docs.filter(col("doc_id") % 2 === 0)
    val secondHalf = docs.filter(col("doc_id") % 2 === 1)
    val embA = embs.filter(col("vec_id") % 2 === 0)
    val embB = embs.filter(col("vec_id") % 2 === 1)

    val incDir = Files.createTempDirectory("index_inc").toString
    SearchIndex.build(firstHalf, embA, incDir)
    SearchIndex.update(secondHalf, embB, incDir)

    val q = "spark join merge sort window"
    val emb = DeterministicEmbedder(64)

    // index TABLES merge exactly (disjoint docs: df adds, integer dl
    // sums add); per-doc score sums re-associate over the appended file
    // layout, so compare with the same 1e-9 tolerance the from-scratch
    // bm25 test uses
    val fullBm = SearchIndex.bm25(spark, indexDir, q)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val incBm = SearchIndex.bm25(spark, incDir, q)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(incBm.keySet === fullBm.keySet)
    incBm.foreach { case (k, v) => assert(math.abs(v - fullBm(k)) < 1e-9) }

    // knn scores are per-row cosines (fixed fold order) — exact
    val fullKnn = SearchIndex.knn(spark, indexDir, emb.embed(q), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val incKnn = SearchIndex.knn(spark, incDir, emb.embed(q), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(incKnn === fullKnn)

    val fullHy = SearchIndex.hybrid(spark, indexDir, q, emb)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val incHy = SearchIndex.hybrid(spark, incDir, q, emb)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(incHy.keySet === fullHy.keySet)
    incHy.foreach { case (k, v) => assert(math.abs(v - fullHy(k)) < 1e-5) }

    // phrase counts are integers — exact across layouts
    val fullPh = SearchIndex.phrase(spark, indexDir, "table scan")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val incPh = SearchIndex.phrase(spark, incDir, "table scan")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incPh === fullPh)
  }

  test("shard merge equals full rebuild (bm25 + knn + phrase + docfreq)") {
    val docs = Tables.documents(spark, SfDir)
    val embs = Tables.embeddings(spark, SfDir)

    // two disjoint shard indexes, merged into the first
    val shardA = Files.createTempDirectory("index_sha").toString
    val shardB = Files.createTempDirectory("index_shb").toString
    SearchIndex.build(docs.filter(col("doc_id") % 2 === 0),
      embs.filter(col("vec_id") % 2 === 0), shardA)
    SearchIndex.build(docs.filter(col("doc_id") % 2 === 1),
      embs.filter(col("vec_id") % 2 === 1), shardB)
    SearchIndex.merge(spark, shardB, shardA)

    val q = "spark join merge sort window"
    val emb = DeterministicEmbedder(64)

    // same tolerance rationale as the update≡rebuild test: table merges
    // are exact, per-doc sums re-associate over the merged file layout
    val fullBm = SearchIndex.bm25(spark, indexDir, q)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val mrgBm = SearchIndex.bm25(spark, shardA, q)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(mrgBm.keySet === fullBm.keySet)
    mrgBm.foreach { case (k, v) => assert(math.abs(v - fullBm(k)) < 1e-9) }

    val fullKnn = SearchIndex.knn(spark, indexDir, emb.embed(q), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val mrgKnn = SearchIndex.knn(spark, shardA, emb.embed(q), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(mrgKnn === fullKnn)

    val fullPh = SearchIndex.phrase(spark, indexDir, "table scan")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mrgPh = SearchIndex.phrase(spark, shardA, "table scan")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mrgPh === fullPh)

    // the merged dictionary is EXACTLY the rebuild's (df is integer math)
    val fullDict = spark.read.parquet(s"$indexDir/docfreq")
      .collect().map(r => (r.getAs[String]("term"), r.getAs[Double]("df")))
      .toMap
    val mrgDict = spark.read.parquet(s"$shardA/docfreq")
      .collect().map(r => (r.getAs[String]("term"), r.getAs[Double]("df")))
      .toMap
    assert(mrgDict === fullDict)
  }

  test("fuzzy expansion: dictionary terms within one edit; scores via plain bm25") {
    val terms = SearchIndex.fuzzyExpandTerms(spark, indexDir,
      "sparc merg windw", maxEdits = 1)
    assert(Seq("spark", "merge", "window").forall(terms.contains),
      s"expected typo targets in $terms")
    // every expansion is actually within one edit of some query term
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    terms.foreach(t => assert(
      Seq("sparc", "merg", "windw").exists(q => lev(t, q) <= 1), t))
    // fuzzy scoring IS bm25 over the expanded terms — no separate scorer
    val viaFuzzy = SearchIndex.bm25Fuzzy(spark, indexDir, "sparc merg windw")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaPlain = SearchIndex.bm25(spark, indexDir, terms.mkString(" "))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaFuzzy === viaPlain)
    // maxEdits = 0 degenerates to the exact vocabulary intersection
    assert(SearchIndex.fuzzyExpandTerms(spark, indexDir,
      "spark nosuchterm", maxEdits = 0) === Seq("spark"))
  }

  test("wildcard expansion: pattern-matched dictionary subset; scores via plain bm25") {
    val terms = SearchIndex.wildcardExpandTerms(spark, indexDir, "s?a*")
    assert(terms.nonEmpty)
    // expansion == exactly the regex-equivalent dictionary subset, sorted
    val dict = spark.read.parquet(s"$indexDir/docfreq")
      .select("term").distinct().collect().map(_.getString(0))
    assert(terms === dict.filter(_.matches("s.a.*")).sorted.toSeq)
    // wildcard scoring IS bm25 over the expanded terms — no separate scorer
    val viaWild = SearchIndex.bm25Wildcard(spark, indexDir, "s?a*")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaPlain = SearchIndex.bm25(spark, indexDir, terms.mkString(" "))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaWild === viaPlain)
    // maxExpansions caps deterministically in term order (the ES rewrite cap)
    assert(SearchIndex.wildcardExpandTerms(spark, indexDir, "*",
      maxExpansions = 3) === dict.sorted.take(3).toSeq)
    // no dictionary match → empty frame with the bm25 shape, not an error
    val none = SearchIndex.bm25Wildcard(spark, indexDir, "zzzz*q")
    assert(none.columns.toSeq === Seq("doc_id", "text_score"))
    assert(none.count() === 0)
  }

  test("match_phrase_prefix: alignment equals brute-force adjacent-token scan") {
    val got = SearchIndex.phrasePrefix(spark, indexDir, "merge s")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty, "fixture has 'merge s*' bigrams")
    // independent ground truth from the raw corpus, bypassing the index
    val expect = Tables.documents(spark, SfDir).select("doc_id", "text")
      .collect().map { r =>
        val toks = r.getString(1).toLowerCase
          .split("[^a-z0-9]+").filter(_.nonEmpty)
        r.getLong(0) -> toks.sliding(2).count(w =>
          w.length == 2 && w(0) == "merge" && w(1).startsWith("s")).toLong
      }.filter(_._2 > 0).toMap
    assert(got === expect)
    // empty expansion (no dictionary term with the prefix) → empty frame
    assert(SearchIndex.phrasePrefix(spark, indexDir, "merge zzzznope")
      .count() === 0)
  }

  test("significant terms: genuine positive lift, foreground term excluded") {
    val docs = Tables.documents(spark, SfDir)
    val rows = SearchIndex.significantTerms(spark, indexDir, docs, "dup",
      topN = 100).collect()
    assert(rows.nonEmpty)
    assert(!rows.map(_.getString(0)).contains("dup"))
    // every surfaced term genuinely lifts — recomputed from the raw
    // corpus, independent of the index tables the operator read
    val fgN = docs.filter(array_contains(
      graft.functions.TextFunctions.tokens(col("text")), "dup"))
      .count().toDouble
    val n = docs.count().toDouble
    rows.foreach { r =>
      assert(r.getLong(1) / fgN > r.getLong(2) / n, r.getString(0))
    }
    // scores are descending with term tiebreak
    val sigs = rows.map(_.getDouble(3)).toSeq
    assert(sigs === sigs.sorted.reverse)
  }

  test("more-like-this: mined terms from the seed's vocab; mlt ≡ bm25 over them") {
    val docs = Tables.documents(spark, SfDir)
    val terms = SearchIndex.mltTerms(spark, indexDir, docs, seedDocId = 1L,
      maxTerms = 5)
    assert(terms.size === 5)
    val seedVocab = docs.filter(col("doc_id") === 1L)
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))))
      .collect().map(_.getString(0)).toSet
    assert(terms.forall(seedVocab.contains), terms)
    val mlt = SearchIndex.moreLikeThis(spark, indexDir, docs, 1L, 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!mlt.contains(1L)) // seed never recommends itself
    val plain = SearchIndex.bm25(spark, indexDir, terms.mkString(" "))
      .filter(col("doc_id") =!= 1L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(mlt === plain)
  }

  test("search_after pages tile the ranking: page 3 = ranks 21-30, no overlap") {
    val full = SearchIndex.bm25(spark, indexDir, "spark merge window")
      .select(col("doc_id"), round(col("text_score"), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(30).collect()
    assert(full.length === 30)
    val cur = full(19)
    val page3 = SearchIndex.searchAfter(spark, indexDir,
      "spark merge window", cur.getDouble(1), cur.getLong(0), pageSize = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(page3 === full.slice(20, 30)
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    // cursor below every score → empty page, not an error
    assert(SearchIndex.searchAfter(spark, indexDir, "spark merge window",
      -1.0, Long.MaxValue, 10).count() === 0)
  }

  test("suggest: prefix-filtered dictionary ranked by df, df values exact") {
    val got = SearchIndex.suggest(spark, indexDir, "s", n = 100)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got.nonEmpty && got.forall(_._1.startsWith("s")))
    assert(got.map(-_._2).toSeq === got.map(-_._2).sorted)
    // df values match a from-scratch distinct-doc count per term
    val expect = Tables.documents(spark, SfDir)
      .select(col("doc_id"), explode(
        graft.functions.TextFunctions.tokens(col("text"))).as("term"))
      .distinct()
      .filter(col("term").startsWith("s"))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.toMap === expect)
  }

  test("indexed phrase equals the scan-path phraseMatch") {
    val viaIndex = SearchIndex.phrase(spark, indexDir, "table scan")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaScan = graft.search.TextSearch.phraseMatch(
      Tables.documents(spark, SfDir), "doc_id", "text", "table scan")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaIndex === viaScan)
  }

  test("indexed bm25 matches from-scratch bm25 (same scores)") {
    val q = "spark join merge sort window"
    val fresh = TextSearch.bm25(Tables.documents(spark, SfDir),
      "doc_id", "text", q)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val idx = SearchIndex.bm25(spark, indexDir, q)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(idx.keySet === fresh.keySet)
    idx.foreach { case (k, v) => assert(math.abs(v - fresh(k)) < 1e-9) }
  }

  test("indexed knn at full probe radius equals brute force") {
    val e = DeterministicEmbedder(64)
    val qv = e.embed("spark join merge sort window")
    val brute = VectorSearch.topK(Tables.embeddings(spark, SfDir),
      "vec_id", "embedding", qv, 10).collect().map(_.getLong(0)).toSeq
    val idx = SearchIndex.knn(spark, indexDir, qv, 10,
      probeHammingRadius = SearchIndex.LshBits)
      .collect().map(_.getLong(0)).toSeq
    assert(idx === brute)
    // tight probe returns a subset of plausible candidates, still k rows
    // or fewer, all from nearby buckets
    val tight = SearchIndex.knn(spark, indexDir, qv, 10,
      probeHammingRadius = 1).collect()
    assert(tight.length <= 10 && tight.nonEmpty)
  }

  test("indexed hybrid returns top-k above min_score, sorted") {
    val res = SearchIndex.hybrid(spark, indexDir,
      "spark join merge sort window", DeterministicEmbedder(64)).collect()
    assert(res.nonEmpty && res.length <= 10)
    val scores = res.map(_.getDouble(1)).toSeq
    assert(scores === scores.sorted.reverse)
    assert(scores.forall(_ >= 0.5))
  }

  test("batch bm25 equals N single searches, top-k'd") {
    val queries = Seq(1L -> "spark join merge sort window",
      2L -> "filter group data stream customer",
      3L -> "table scan part order key")
    val batch = SearchIndex.bm25Batch(spark, indexDir, queries, k = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(3)) ->
        (r.getLong(1), r.getDouble(2))).toMap
    queries.foreach { case (qid, text) =>
      // single path: raw scores, rounded the same way batch rounds, then
      // the same (score DESC, doc_id ASC) top-10
      val single = SearchIndex.bm25(spark, indexDir, text)
        .select(col("doc_id"), round(col("text_score"), 6).as("s"))
        .orderBy(col("s").desc, col("doc_id").asc).limit(10)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      single.zipWithIndex.foreach { case ((docId, s), i) =>
        assert(batch((qid, i + 1L)) === ((docId, s)),
          s"query $qid rank ${i + 1}")
      }
    }
  }

  test("batch knn equals N single probes, and plans no per-query window") {
    val e = DeterministicEmbedder(64)
    val queries = Seq(1L -> e.embed("spark join merge sort window"),
      2L -> e.embed("filter group data stream customer"),
      3L -> e.embed("table scan part order key"))
    val batchDf = SearchIndex.knnBatch(spark, indexDir, queries, k = 10)
    // scale shape: per-query top-k must come from the bounded aggregate,
    // not a window sort over each query's whole candidate set
    val plan = batchDf.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "per-query window sort crept in:\n" + plan)
    assert(plan.contains("topk_by_score"), plan)
    val batch = batchDf.collect()
      .map(r => (r.getLong(0), r.getLong(3)) ->
        (r.getLong(1), r.getDouble(2))).toMap
    queries.foreach { case (qid, qv) =>
      val single = SearchIndex.knn(spark, indexDir, qv, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      single.zipWithIndex.foreach { case ((docId, s), i) =>
        assert(batch((qid, i + 1L)) === ((docId, s)),
          s"query $qid rank ${i + 1}")
      }
    }
  }

  test("batch hybrid equals N single hybrids, and plans no per-query window") {
    val e = DeterministicEmbedder(64)
    val queries = Seq(1L -> "spark join merge sort window",
      2L -> "filter group data stream customer",
      3L -> "table scan part order key")
    val batchDf = SearchIndex.hybridBatch(spark, indexDir, queries, e)
    assert(!batchDf.queryExecution.executedPlan.toString.contains("Window"))
    val batch = batchDf.collect()
      .map(r => (r.getLong(0), r.getLong(3)) ->
        (r.getLong(1), r.getDouble(2))).toMap
    queries.foreach { case (qid, q) =>
      val single = SearchIndex.hybrid(spark, indexDir, q, e)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(batch.count(_._1._1 == qid) === single.length, s"query $qid size")
      single.zipWithIndex.foreach { case ((docId, s), i) =>
        assert(batch((qid, i + 1L)) === ((docId, s)), s"query $qid rank ${i + 1}")
      }
    }
  }

  test("knn probe scan is partition-pruned (reads only probed buckets)") {
    val e  = DeterministicEmbedder(64)
    val qv = e.embed("spark join merge sort window")
    val plan = SearchIndex.knn(spark, indexDir, qv, 10, probeHammingRadius = 0)
      .queryExecution.executedPlan.toString
    // the scan must carry a partition filter on lsh_bucket, not a full scan
    assert(plan.contains("lsh_bucket"))
  }

  /** file name → md5(bytes) per bucket dir of `root`. */
  private def fingerprintDir(root: java.nio.file.Path, prefix: String)
      : Map[String, Map[String, String]] =
    Files.list(root).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith(prefix))
      .map { bdir =>
        val files = Files.list(bdir).toArray
          .map(_.asInstanceOf[java.nio.file.Path])
          .filter(_.toString.endsWith(".parquet"))
          .map { f =>
            val md = java.security.MessageDigest.getInstance("MD5")
            f.getFileName.toString ->
              md.digest(Files.readAllBytes(f)).map(b => f"$b%02x").mkString
          }.toMap
        bdir.getFileName.toString -> files
      }.toMap

  test("delete ≡ rebuild without the docs; untouched buckets byte-identical") {
    import spark.implicits._
    val docs = Tables.documents(spark, SfDir).select("doc_id", "text")
    val embs = Tables.embeddings(spark, SfDir).select("vec_id", "embedding")
    // victims with a controlled vocabulary → few touched term buckets
    val vDocs = Seq((910001L, "qqalpha qqbeta qqalpha"),
      (910002L, "qqbeta qqgamma")).toDF("doc_id", "text")
    val vEmbs = Seq((910001L, Array.fill(64)(0.1f).toSeq),
      (910002L, Array.fill(64)(0.2f).toSeq)).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))

    val dA = Files.createTempDirectory("index_del").toString
    SearchIndex.build(docs.unionByName(vDocs), embs.unionByName(vEmbs), dA)
    val beforeP = fingerprintDir(Paths.get(dA, "postings"), "term_bucket=")
    val beforeD = fingerprintDir(Paths.get(dA, "docfreq"), "term_bucket=")

    SearchIndex.bulkDelete(spark, dA, Seq(910001L, 910002L).toDF("doc_id"))

    // only the victims' term buckets were rewritten
    val touched = Seq("qqalpha", "qqbeta", "qqgamma")
      .map(SearchIndex.termBucketOf).distinct
      .map(b => s"term_bucket=$b").toSet
    val afterP = fingerprintDir(Paths.get(dA, "postings"), "term_bucket=")
    (beforeP.keySet -- touched).foreach { b =>
      assert(afterP(b) === beforeP(b), s"untouched postings $b rewritten")
    }
    val afterD = fingerprintDir(Paths.get(dA, "docfreq"), "term_bucket=")
    (beforeD.keySet -- touched).foreach { b =>
      assert(afterD(b) === beforeD(b), s"untouched docfreq $b rewritten")
    }

    // delete ≡ rebuild-without-docs: `indexDir` IS the fixture-only build
    val q = "spark join merge sort window"
    val delBm = SearchIndex.bm25(spark, dA, q)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rebBm = SearchIndex.bm25(spark, indexDir, q)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(delBm.keySet === rebBm.keySet)
    delBm.foreach { case (k, v) => assert(math.abs(v - rebBm(k)) < 1e-9) }

    // the victims' private terms left the dictionary entirely
    assert(SearchIndex.bm25(spark, dA, "qqalpha qqbeta").count() === 0)
    val dfA = spark.read.parquet(s"$dA/docfreq")
      .select("term", "df").as[(String, Double)].collect().toSet
    val dfB = spark.read.parquet(s"$indexDir/docfreq")
      .select("term", "df").as[(String, Double)].collect().toSet
    assert(dfA === dfB)

    // stats subtract back exactly (integer-valued dl sums)
    val sA = spark.read.parquet(s"$dA/stats").head()
    val sB = spark.read.parquet(s"$indexDir/stats").head()
    assert(sA === sB)

    // vectors: the victims are gone, knn equals the rebuilt index exactly
    val e = DeterministicEmbedder(64)
    val delKnn = SearchIndex.knn(spark, dA, e.embed(q), 10,
      probeHammingRadius = SearchIndex.LshBits)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val rebKnn = SearchIndex.knn(spark, indexDir, e.embed(q), 10,
      probeHammingRadius = SearchIndex.LshBits)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(delKnn === rebKnn)
    assert(spark.read.parquet(s"$dA/vectors")
      .filter(col("doc_id").isin(910001L, 910002L)).count() === 0)

    // phrase postings agree too
    val delPh = SearchIndex.phrase(spark, dA, "table scan")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rebPh = SearchIndex.phrase(spark, indexDir, "table scan")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(delPh === rebPh)
  }

  test("bulkDelete: relation-driven retraction ≡ rebuild, even with a 10^6-row victim relation") {
    import spark.implicits._
    val docs = Tables.documents(spark, SfDir).select("doc_id", "text")
    val embs = Tables.embeddings(spark, SfDir).select("vec_id", "embedding")
    val vDocs = Seq((910001L, "qqalpha qqbeta qqalpha"),
      (910002L, "qqbeta qqgamma")).toDF("doc_id", "text")
    val vEmbs = Seq((910001L, Array.fill(64)(0.1f).toSeq),
      (910002L, Array.fill(64)(0.2f).toSeq)).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
    val dB = Files.createTempDirectory("index_bdel").toString
    SearchIndex.build(docs.unionByName(vDocs), embs.unionByName(vEmbs), dB)

    // the victim set is a RELATION: two real victims plus a million
    // absent ids — nothing here survives as a driver-side list or an
    // IN-literal, which is the point of the bulk form
    val victims = Seq(910001L, 910002L).toDF("doc_id")
      .unionByName(spark.range(2000000L, 3000000L).toDF("doc_id"))
    SearchIndex.bulkDelete(spark, dB, victims)

    // equals the fixture-only build on every surface
    val q = "spark join merge sort window"
    val delBm = SearchIndex.bm25(spark, dB, q)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rebBm = SearchIndex.bm25(spark, indexDir, q)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(delBm.keySet === rebBm.keySet)
    delBm.foreach { case (k, v) => assert(math.abs(v - rebBm(k)) < 1e-9) }
    assert(SearchIndex.bm25(spark, dB, "qqalpha qqbeta").count() === 0)
    val dfA = spark.read.parquet(s"$dB/docfreq")
      .select("term", "df").as[(String, Double)].collect().toSet
    val dfB = spark.read.parquet(s"$indexDir/docfreq")
      .select("term", "df").as[(String, Double)].collect().toSet
    assert(dfA === dfB)
    assert(spark.read.parquet(s"$dB/stats").head() ===
      spark.read.parquet(s"$indexDir/stats").head())
    assert(spark.read.parquet(s"$dB/vectors")
      .filter(col("doc_id").isin(910001L, 910002L)).count() === 0)
    // the staging dir is cleaned up after the commit
    assert(!Files.exists(Paths.get(dB, "__delete_stage")))
  }

  /** Float vectors for the controlled-vocabulary fixtures: doc id →
    * the constant every coordinate takes. */
  private def constEmbs(rows: (Long, Float)*) = {
    import spark.implicits._
    rows.map { case (id, x) => (id, Array.fill(64)(x).toSeq) }
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
  }

  test("upsert ≡ build over the final corpus; buckets neither side touches byte-identical") {
    import spark.implicits._
    val docs = Tables.documents(spark, SfDir).select("doc_id", "text")
    val embs = Tables.embeddings(spark, SfDir).select("vec_id", "embedding")
    val vDocs = Seq((910001L, "qqalpha qqbeta qqalpha"),
      (910002L, "qqbeta qqgamma")).toDF("doc_id", "text")
    val vEmbs = constEmbs(910001L -> 0.1f, 910002L -> 0.2f)
    val victimIds = Seq(910001L, 910002L)
    // (name, new docs, new embeddings, the new docs' terms)
    val cases = Seq(
      ("unchanged doc set", vDocs, vEmbs, Seq("qqalpha", "qqbeta", "qqgamma")),
      ("changed text, fewer docs",
        Seq((910001L, "qqdelta qqalpha qqdelta")).toDF("doc_id", "text"),
        constEmbs(910001L -> -0.3f), Seq("qqdelta", "qqalpha")))
    cases.foreach { case (name, newDocs, newEmbs, newTerms) =>
      val d = Files.createTempDirectory("index_ups").toString
      SearchIndex.build(docs.unionByName(vDocs), embs.unionByName(vEmbs), d)
      val ref = Files.createTempDirectory("index_ups_ref").toString
      SearchIndex.build(docs.unionByName(newDocs), embs.unionByName(newEmbs),
        ref)
      def lshBuckets(dir: String) = spark.read.parquet(s"$dir/vectors")
        .filter(col("doc_id").isin(victimIds: _*))
        .select("lsh_bucket").collect().map(r => s"lsh_bucket=${r.get(0)}")
      val touchedV = (lshBuckets(d) ++ lshBuckets(ref)).toSet
      val touchedT = (Seq("qqalpha", "qqbeta", "qqgamma") ++ newTerms)
        .map(t => s"term_bucket=${SearchIndex.termBucketOf(t)}").toSet
      val tables = Seq("postings" -> "term_bucket=", "positions" -> "term_bucket=",
        "docfreq" -> "term_bucket=", "vectors" -> "lsh_bucket=")
      val before = tables.map { case (t, pre) =>
        t -> fingerprintDir(Paths.get(d, t), pre) }.toMap

      SearchIndex.upsert(spark, d, victimIds.toDF("doc_id"), newDocs, newEmbs)

      tables.foreach { case (t, pre) =>
        val touched = if (t == "vectors") touchedV else touchedT
        val after = fingerprintDir(Paths.get(d, t), pre)
        val untouched = before(t).keySet -- touched
        assert(untouched.nonEmpty, s"$name: fixture touched every $t bucket")
        untouched.foreach { b =>
          assert(after(b) === before(t)(b), s"$name: untouched $t $b rewritten")
        }
      }

      val q = "spark join merge sort window qqalpha qqbeta qqdelta"
      def bm(dir: String) = SearchIndex.bm25(spark, dir, q)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val (upBm, refBm) = (bm(d), bm(ref))
      assert(upBm.keySet === refBm.keySet, name)
      upBm.foreach { case (k, v) => assert(math.abs(v - refBm(k)) < 1e-9, name) }

      val e = DeterministicEmbedder(64)
      def knn(dir: String) = SearchIndex.knn(spark, dir, e.embed(q), 10,
          probeHammingRadius = SearchIndex.LshBits)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(knn(d) === knn(ref), name)
      def knnSelf(dir: String) = SearchIndex.knn(spark, dir,
          Array.fill(64)(-0.3f), 3, probeHammingRadius = SearchIndex.LshBits)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(knnSelf(d) === knnSelf(ref), name)

      Seq("table scan", "qqalpha qqbeta", "qqdelta qqalpha").foreach { p =>
        def ph(dir: String) = SearchIndex.phrase(spark, dir, p)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(ph(d) === ph(ref), s"$name: phrase '$p'")
      }
      def dict(dir: String) = spark.read.parquet(s"$dir/docfreq")
        .select("term", "df").as[(String, Double)].collect().toSet
      assert(dict(d) === dict(ref), name)
      assert(spark.read.parquet(s"$d/stats").head() ===
        spark.read.parquet(s"$ref/stats").head(), name)
      assert(!Files.exists(Paths.get(d, "__delete_stage")))
    }
  }

  /** Spark jobs started while `f` runs. */
  private def jobsIn(f: => Unit): Int = {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.SpecBus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    SpecBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      SpecBus.drain(spark.sparkContext)
      jobs.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("Spark jobs per build") {
    val docs = Tables.documents(spark, SfDir).select("doc_id", "text")
    val embs = Tables.embeddings(spark, SfDir).select("vec_id", "embedding")
    def build(): Int = jobsIn(SearchIndex.build(docs, embs,
      Files.createTempDirectory("index_build_jobs").toString))
    build() // the input tables' plans are loaded once per session
    assert(build() === 18)
  }

  test("Spark jobs per call of update, bulkDelete and upsert") {
    import spark.implicits._
    val docs = Tables.documents(spark, SfDir).select("doc_id", "text")
    val embs = Tables.embeddings(spark, SfDir).select("vec_id", "embedding")
    val d = Files.createTempDirectory("index_jobs").toString
    SearchIndex.build(docs, embs, d)
    val vDocs = Seq((910001L, "qqalpha qqbeta qqalpha"),
      (910002L, "qqbeta qqgamma")).toDF("doc_id", "text")
    val vEmbs = constEmbs(910001L -> 0.1f, 910002L -> 0.2f)
    val victims = Seq(910001L, 910002L).toDF("doc_id")
    val counts = Seq(
      "update" -> jobsIn(SearchIndex.update(vDocs, vEmbs, d)),
      "upsert" -> jobsIn(SearchIndex.upsert(spark, d, victims, vDocs, vEmbs)),
      "bulkDelete" -> jobsIn(SearchIndex.bulkDelete(spark, d, victims)),
      // the retracted ids are no longer indexed: the victims'
      // summary is their only read
      "upsert of absent ids" ->
        jobsIn(SearchIndex.upsert(spark, d, victims, vDocs, vEmbs)))
    assert(counts === Seq("update" -> 17, "upsert" -> 34,
      "bulkDelete" -> 27, "upsert of absent ids" -> 26))
  }

  test("compact merges fragmented buckets; results and untouched bytes identical") {
    import spark.implicits._
    val docs = Tables.documents(spark, SfDir).select("doc_id", "text")
    val embs = Tables.embeddings(spark, SfDir).select("vec_id", "embedding")
    val d = Files.createTempDirectory("index_cmp").toString
    SearchIndex.build(docs, embs, d)
    // two micro-batch updates with a controlled vocabulary: their term
    // buckets accrete one extra file per batch, everything else is clean
    (0 until 2).foreach { i =>
      val batch = Seq((920001L + i * 10, "qqdelta qqeps"))
        .toDF("doc_id", "text")
      val bEmb = Seq((920001L + i * 10, Array.fill(64)(0.3f + i).toSeq))
        .toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>"))
      SearchIndex.update(batch, bEmb, d)
    }
    def maxFiles(table: String, prefix: String): Int =
      Files.list(Paths.get(d, table)).toArray.map(_.toString)
        .filter(_.contains(prefix))
        .map(p => Files.list(Paths.get(p)).toArray.map(_.toString)
          .count(_.endsWith(".parquet"))).max
    assert(maxFiles("postings", "term_bucket=") > 1, "updates did not fragment")

    val q = "spark join merge sort window qqdelta"
    val bmBefore = SearchIndex.bm25(spark, d, q)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val beforeFp = fingerprintDir(Paths.get(d, "postings"), "term_bucket=")
    val fragmented = beforeFp.filter(_._2.size > 1).keySet
    assert(fragmented.nonEmpty)

    val (nBefore, nAfter) = SearchIndex.compact(spark, d)
    assert(nBefore > nAfter, s"no compaction: $nBefore -> $nAfter")
    assert(maxFiles("postings", "term_bucket=") === 1)
    assert(maxFiles("vectors", "lsh_bucket=") === 1)

    // untouched (already-compact) buckets keep their exact bytes
    val afterFp = fingerprintDir(Paths.get(d, "postings"), "term_bucket=")
    (beforeFp.keySet -- fragmented).foreach { b =>
      assert(afterFp(b) === beforeFp(b), s"clean bucket $b rewritten")
    }
    // results identical after the rewrite
    val bmAfter = SearchIndex.bm25(spark, d, q)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(bmAfter.keySet === bmBefore.keySet)
    bmAfter.foreach { case (k, v) => assert(math.abs(v - bmBefore(k)) < 1e-9) }
  }

  test("incremental update commits through the manifest store; torn view heals on read") {
    import spark.implicits._
    import graft.table.ManifestCommitStore
    val docs = Tables.documents(spark, SfDir).select("doc_id", "text")
    val embs = Tables.embeddings(spark, SfDir).select("vec_id", "embedding")
    val d = Files.createTempDirectory("index_ms").toString
    SearchIndex.build(docs, embs, d)

    val batch = Seq((930001L, "qqzeta qqeta qqzeta")).toDF("doc_id", "text")
    val bEmb = Seq((930001L, Array.fill(64)(0.4f).toSeq))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
    SearchIndex.update(batch, bEmb, d, store = ManifestCommitStore)

    // the touched docfreq bucket is now manifest-committed: a symlinked
    // read view over an immutable version — no live data was renamed
    val bucket = SearchIndex.termBucketOf("qqzeta")
    val live = Paths.get(d, "docfreq", s"term_bucket=$bucket")
    assert(Files.isSymbolicLink(live))
    val hits = SearchIndex.bm25(spark, d, "qqzeta qqeta")
      .collect().map(_.getLong(0)).toSeq
    assert(hits === Seq(930001L))

    // crash window: manifest committed but the link flip was lost —
    // the plain read path (Tables.loadPath) heals it from the log
    Files.delete(live)
    graft.Tables.invalidate(spark, s"$d/docfreq")
    val healed = SearchIndex.bm25(spark, d, "qqzeta qqeta")
      .collect().map(_.getLong(0)).toSeq
    assert(healed === Seq(930001L))
    assert(Files.isSymbolicLink(live), "read path did not re-link")
  }

  test("update rewrites only the delta's docfreq buckets (others byte-identical)") {
    import spark.implicits._
    val docs = Tables.documents(spark, SfDir)
    val embs = Tables.embeddings(spark, SfDir)
    val d = Files.createTempDirectory("index_pl").toString
    SearchIndex.build(docs, embs, d)

    // fingerprint every docfreq bucket dir: file name → md5(bytes)
    def fingerprint(): Map[String, Map[String, String]] = {
      val root = Paths.get(d, "docfreq")
      Files.list(root).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.startsWith("term_bucket="))
        .map { bdir =>
          val files = Files.list(bdir).toArray
            .map(_.asInstanceOf[java.nio.file.Path])
            .filter(_.toString.endsWith(".parquet"))
            .map { f =>
              val md = java.security.MessageDigest.getInstance("MD5")
              f.getFileName.toString ->
                md.digest(Files.readAllBytes(f)).map(b => f"$b%02x").mkString
            }.toMap
          bdir.getFileName.toString -> files
        }.toMap
    }
    val before = fingerprint()

    // a delta with a tiny controlled vocabulary → touches few buckets
    val batch = Seq((900001L, "alpha beta alpha"), (900002L, "beta gamma"))
      .toDF("doc_id", "text")
    val batchEmb = Seq((900001L, Array.fill(64)(0.1f).toSeq),
      (900002L, Array.fill(64)(0.2f).toSeq)).toDF("vec_id", "embedding")
    val touched = Seq("alpha", "beta", "gamma")
      .map(SearchIndex.termBucketOf).distinct
      .map(b => s"term_bucket=$b").toSet
    SearchIndex.update(batch, batchEmb, d)

    val after = fingerprint()
    assert(touched.subsetOf(after.keySet))
    val untouched = before.keySet -- touched
    assert(untouched.nonEmpty, "fixture vocabulary hit every bucket")
    untouched.foreach { b =>
      assert(after(b) === before(b), s"untouched bucket $b was rewritten")
    }
    // and the touched buckets really merged: df for a delta term grew
    val dfreq = spark.read.parquet(s"$d/docfreq")
    val alphaDf = dfreq.filter(col("term") === "alpha")
      .agg(sum("df")).collect()(0).getDouble(0)
    assert(alphaDf >= 1.0)
  }

  test("boolSearch: ES bool semantics (must/should/filter/must_not + msm)") {
    val docs = Tables.documents(spark, SfDir)
    val res = SearchIndex.boolSearch(spark, indexDir,
      must = Seq("spark"), should = Seq("window", "join", "merge"),
      mustNot = Seq("dup"), filterTerms = Seq("batch"),
      minimumShouldMatch = 2, size = 1000)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // eligibility recomputed from the raw text, clause by clause
    val toks = docs.select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val expect = toks.filter { case (_, t) =>
      t("spark") && t("batch") && !t("dup") &&
        Seq("window", "join", "merge").count(t) >= 2
    }.keySet
    assert(res.keySet === expect)
    assert(res.nonEmpty, "fixture should yield bool matches")
    // filter context: the score is EXACTLY the bm25 of the scoring terms
    // (filter/must_not clauses contribute no idf)
    val bm = SearchIndex.bm25(spark, indexDir, "spark window join merge")
      .select(col("doc_id"), round(col("text_score"), 6).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    res.foreach { case (id, s) => assert(math.abs(s - bm(id)) < 1.1e-6) }
  }

  test("indexed proximity equals the scan-path proximityMatch") {
    val docs = Tables.documents(spark, SfDir)
    val scan = TextSearch.proximityMatch(docs, "doc_id", "text",
        "table merge", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val idx = SearchIndex.proximity(spark, indexDir, "table merge", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(idx === scan)
    assert(idx.nonEmpty, "fixture should yield proximity matches")
  }

  test("indexStats matches corpus-derived statistics") {
    val docs = Tables.documents(spark, SfDir)
    val row = SearchIndex.indexStats(spark, indexDir).head()
    val perDoc = docs.select(col("doc_id"),
      graft.functions.TextFunctions.tokens(col("text")).as("l"))
    val nDocs = perDoc.count()
    val avgdl = perDoc.select(avg(size(col("l")))).head().getDouble(0)
    val pairs = perDoc
      .select(col("doc_id"), explode(col("l")).as("t")).distinct()
    assert(row.getLong(row.fieldIndex("n_docs")) === nDocs)
    assert(math.abs(row.getDouble(row.fieldIndex("avgdl")) - avgdl) < 1e-6)
    assert(row.getLong(row.fieldIndex("n_terms")) ===
      pairs.select("t").distinct().count())
    assert(row.getLong(row.fieldIndex("n_postings")) === pairs.count())
    assert(row.getLong(row.fieldIndex("max_df")) ===
      pairs.groupBy("t").count().agg(max("count")).head().getLong(0))
  }

  test("rareTerms: max_doc_count filters, rarest first, dictionary-exact") {
    val docs = Tables.documents(spark, SfDir)
    val dfreq = docs
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("t"))
      .distinct().groupBy("t").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val cut = dfreq.values.toSeq.sorted.apply(dfreq.size / 2) // median df
    val got = SearchIndex.rareTerms(spark, indexDir, maxDf = cut, size = 1000)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // exactly the sub-threshold dictionary, ordered (df, term)
    val want = dfreq.filter(_._2 <= cut).toSeq.map(_.swap).sorted.map(_.swap)
    assert(got.toSeq === want)
  }

  test("disMax: tie_breaker algebra and boosting demotion vs scan-path BM25") {
    val c1 = Seq("spark", "join", "merge", "sort", "window")
    val c2 = Seq("filter", "group", "data", "stream", "customer")
    def scanScores(ts: Seq[String]) =
      SearchIndex.bm25(spark, indexDir, ts.mkString(" "))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (s1, s2) = (scanScores(c1), scanScores(c2))
    val neg = Tables.documents(spark, SfDir)
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("t"))
      .filter(col("t") === "table").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet

    val got = SearchIndex.disMax(spark, indexDir, Seq(c1, c2),
      tieBreaker = 0.3, negative = Seq("table"), negativeBoost = 0.5,
      size = 1000)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    val docs = (s1.keySet ++ s2.keySet)
    assert(got.keySet === docs, "every clause-matching doc scored")
    docs.foreach { d =>
      val (a, b) = (s1.getOrElse(d, 0.0), s2.getOrElse(d, 0.0))
      val base = math.max(a, b) + 0.3 * (a + b - math.max(a, b))
      val want = if (neg(d)) base * 0.5 else base
      assert(math.abs(got(d) - BigDecimal(want)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 2e-6,
        s"doc $d: got ${got(d)} want ~$want")
    }
    // the negative term demotes but does not exclude
    assert(docs.exists(neg), "fixture has at least one demoted match")
  }

  test("bulkDelete of EVERY doc empties the index cleanly; update revives it") {
    import spark.implicits._
    // regression: retracting the last doc sent n_docs to 0 and avgdl to
    // 0/0 — ANSI mode turned the stats rewrite into DIVIDE_BY_ZERO
    // (found through the serving layer's single-file index lifecycle)
    val docs = Seq((1L, "solo qqdoc alpha"), (2L, "solo qqdoc beta"))
      .toDF("doc_id", "text")
    val embs = Seq((1L, Array.fill(64)(0.1f).toSeq),
      (2L, Array.fill(64)(0.2f).toSeq)).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
    val d = Files.createTempDirectory("index_empty").toString
    SearchIndex.build(docs, embs, d)

    SearchIndex.bulkDelete(spark, d, Seq(1L, 2L).toDF("doc_id"))
    val stats = spark.read.parquet(s"$d/stats").head()
    assert(stats.getDouble(0) === 0.0) // n_docs
    assert(stats.getDouble(1) === 0.0) // avgdl: defined, not NaN/error
    assert(SearchIndex.bm25(spark, d, "solo qqdoc").count() === 0)

    // merging another emptied index in keeps it empty: no 0/0 either
    val e = Files.createTempDirectory("index_empty_src").toString
    SearchIndex.build(docs, embs, e)
    SearchIndex.bulkDelete(spark, e, Seq(1L, 2L).toDF("doc_id"))
    SearchIndex.merge(spark, e, d)
    assert(spark.read.parquet(s"$d/stats").head().toSeq === Seq(0.0, 0.0, 0.0))
    assert(SearchIndex.bm25(spark, d, "solo qqdoc").count() === 0)

    // the emptied index accepts a fresh update and answers again
    SearchIndex.update(docs, embs, d)
    assert(SearchIndex.bm25(spark, d, "solo qqdoc").count() === 2)
    assert(spark.read.parquet(s"$d/stats").head().getDouble(0) === 2.0)
    // ... with the flat empty-table marker gone: bucket dirs only
    Seq("postings", "positions", "docfreq", "vectors").foreach { t =>
      val rootParts = Files.list(Paths.get(d, t)).toArray
        .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
        .filter(_.startsWith("part-"))
      assert(rootParts.isEmpty, s"$t keeps a root marker: ${rootParts.toSeq}")
    }
    val ref = Files.createTempDirectory("index_empty_ref").toString
    SearchIndex.build(docs, embs, ref)
    def bm(dir: String) = SearchIndex.bm25(spark, dir, "solo qqdoc alpha")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(bm(d) === bm(ref))
  }
}
