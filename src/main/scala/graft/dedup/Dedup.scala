package graft.dedup

import graft.operators.Ckpt.CkptOps
import graft.operators.Iterate
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}

/** Deduplication operators for large-scale training-data pipelines.
  * The reference dedups only by exact content hash (`hashed_page_content`,
  * `/root/reference/backend/process/parsing.py:112`; distinct over a
  * projected column, `backend/process/postgres.py:343-363`); the rest are
  * the standard near-dup family built Spark-first.
  *
  * Scale notes (100 TB design point):
  *  - Exact: one hash-shuffle groupBy; map-side partial agg applies.
  *  - MinHash: signatures are computed per-row with array expressions —
  *    ZERO shuffle for the signature pass; only candidate pairs (post-LSH
  *    banding) shuffle, and the band join key distributes uniformly.
  *  - SimHash: per-row 60-bit signature, again shuffle-free; near-dup
  *    banding on 15-bit quarters.
  *  - n-gram Jaccard runs on LSH candidates only — never all pairs.
  *  - Embedding near-dup joins within LSH buckets (equality join on
  *    bucket), never the full cross product.
  *
  * All hashes are md5-derived so the DuckDB oracle can reproduce them
  * exactly (md5 exists on both engines; `conv(hex,16,10)` ↔
  * `('0x'||hex)::UBIGINT`).
  */
object Dedup {

  val ShingleSize  = 3
  val NumHashes    = 8  // minhash functions
  val BandSize     = 2  // → 4 bands
  val SimHashBits  = 60 // md5-derived 60-bit token hashes

  /** Hot-key guard for every pair generator: an LSH group (band /
    * shingle / quarter / bucket) with more than this many members is
    * dropped — it carries no similarity signal (a stop-shingle, a
    * degenerate band) and would cost O(n²) pairs plus an unbounded
    * per-group collect. Enforced by a memory-bounded aggregate
    * ([[org.apache.spark.sql.graftext.BoundedCollectAgg]]) whose buffer
    * never exceeds the cap, and mirrored in every oracle as
    * `HAVING count(...) <= cap`. Doubles as the document-frequency
    * filter for shingles. */
  val MaxGroupSize = 10000

  /** Driver-state bound for the union-find fast path in
    * [[nearDupClusters]]: collect the pair relation while it has at most
    * this many rows. Deliberately LOWER than
    * [[graft.operators.PageRank.BroadcastStateUpTo]] (4M), which was
    * calibrated for ~100 MB of compact numeric rows — the pair collect
    * holds BOXED external ids (strings in every call site here) in java
    * HashMaps, several times heavier per row. Measured (driver heap probe,
    * 14-char string ids, worst-case single component): 1M pairs peak at
    * 223 MB of driver heap (collected Row[] + parent map live
    * together); 4M would peak at 836 MB. Past the bound the distributed
    * pregel fallback takes over (parity pinned in FallbackParitySpec). */
  val NearDupStateUpTo: Long = 1L * 1000 * 1000

  private def boundedSet(c: Column, cap: Int): Column =
    org.apache.spark.sql.graftext.BoundedCollectAgg.boundedCollectSet(c, cap)
  private def boundedList(c: Column, cap: Int): Column =
    org.apache.spark.sql.graftext.BoundedCollectAgg.boundedCollectList(c, cap)

  // ---- exact -------------------------------------------------------------

  /** Exact dedup groups: content hash → representative (min id) + count. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact-dedup the table: keep the min-id row per content hash. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.join(
      exactGroups(docs, idCol, textCol)
        .select(col("keep_id").as(idCol)),
      Seq(idCol), "left_semi")

  // ---- minhash + LSH banding --------------------------------------------

  /** Per-doc minhash signature columns h0..h{NumHashes-1}: for seed i,
    * min over 3-token shingles of md5("i:" + shingle). Lexicographic min
    * over fixed-width hex = minwise hash in 128-bit space. Computed with
    * array expressions — no explode, no shuffle. */
  def minhashSignatures(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // Native expression computes ALL seed minima in one pass over the
    // shingles (the HOF formulation ran NumHashes interpreted
    // transforms, one fresh MessageDigest per element each).
    val sh = docs.select(col(idCol).as("doc_id"),
      org.apache.spark.sql.graftext.MinHashExpr.minhash(
        TextFunctions.shingles(TextFunctions.tokens(col(textCol)),
          ShingleSize), NumHashes).as("mh"))
      // barrier BEFORE the per-seed split: the split references `mh`
      // NumHashes times and the minhash expression runs interpreted
      // (codegen fallback), so without materialization the collapsed
      // projection re-evaluates the full shingle pass per reference
      // (measured 4-5× at sf1 — the q103 Generate hazard's projection
      // twin). The checkpoint holds one compact (id, 8 longs) row per
      // doc. Routed through Ckpt: scale deployments set
      // spark.graft.reliableCheckpoint for executor-loss-survivable
      // materialization instead of session-pinned local blocks.
      .graftCheckpoint(false)
    val hashes = (0 until NumHashes).map(i =>
      element_at(col("mh"), i + 1).as(s"h$i"))
    sh.select((col("doc_id") +: hashes): _*)
  }

  /** LSH band keys: md5 over each band's concatenated minhashes. */
  def minhashBands(sigs: DataFrame): DataFrame = {
    val nBands = NumHashes / BandSize
    val bands = (0 until nBands).map { b =>
      val cols = (0 until BandSize).map(j => col(s"h${b * BandSize + j}"))
      // concat (not concat_ws): null minhash (doc too short for any
      // shingle) must null the band so it never joins, not collapse to
      // md5 of the separator.
      val joined = cols.flatMap(c => Seq(c, lit("|"))).dropRight(1)
      md5(concat(joined: _*)).as(s"b$b")
    }
    sigs.select((col("doc_id") +: bands): _*)
  }

  /** Persistable minhash BAND INDEX of a corpus: one (doc_id, band) row
    * per non-null band — the artifact an incremental dedup pipeline
    * stores (partitioned by band prefix at scale) so the corpus is
    * signed exactly once, ever. */
  def minhashBandIndex(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    minhashBandIndexFromSigs(minhashSignatures(docs, idCol, textCol))

  /** [[minhashBandIndex]] from an already-computed signature frame —
    * callers that need BOTH the band relation and the in-batch pairs
    * (q172's continuous-dedup step) sign the batch ONCE (checkpoint the
    * signatures) instead of twice. */
  def minhashBandIndexFromSigs(sigs: DataFrame): DataFrame = {
    val nBands = NumHashes / BandSize
    minhashBands(sigs)
      .select(col("doc_id"),
        explode(array((0 until nBands).map(i => col(s"b$i")): _*)).as("band"))
      .filter(col("band").isNotNull)
  }

  /** Incremental near-dup gate: candidate pairs between a NEW batch and
    * an already-indexed corpus. Signs ONLY the batch — the corpus side
    * is the persisted [[minhashBandIndex]], so per-batch cost is
    * O(|batch| + matched bands), independent of corpus size. Hot bands
    * are capped on the CORPUS side (a degenerate band shared by millions
    * of docs must not explode the join); the batch side is a batch.
    * Returns distinct (a = corpus id, b = batch id). */
  def incrementalCandidatePairs(bandIndex: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String,
      maxGroupSize: Int = MaxGroupSize): DataFrame =
    incrementalCandidatePairsFromBands(bandIndex,
      minhashBandIndex(newDocs, idCol, textCol), maxGroupSize)

  /** [[incrementalCandidatePairs]] from an already-computed batch band
    * relation (see [[minhashBandIndexFromSigs]]). */
  def incrementalCandidatePairsFromBands(bandIndex: DataFrame,
      newBandRel: DataFrame,
      maxGroupSize: Int = MaxGroupSize): DataFrame = {
    val newBands = newBandRel.withColumnRenamed("doc_id", "new_id")
    val corpusByBand = bandIndex.groupBy("band")
      .agg(sort_array(boundedSet(col("doc_id"), maxGroupSize)).as("ids"))
      .filter(col("ids").isNotNull)
    newBands.join(corpusByBand, "band")
      .select(explode(col("ids")).as("a"), col("new_id").as("b"))
      .distinct()
  }

  /** Incremental connected-components maintenance — the continuous-dedup
    * shape: a NEW batch arrives with its discovered candidate pairs
    * ([[incrementalCandidatePairs]] batch↔corpus plus
    * [[minhashCandidatePairs]] batch↔batch) and cluster labels update
    * WITHOUT re-running CC over the corpus.
    *
    * Only the AFFECTED subgraph recomputes: clusters touched by a new
    * pair are reconstituted through star edges (member ↔ old label —
    * the label is itself the min member, so old connectivity collapses
    * to depth-1 edges), unioned with the new pairs and the new batch's
    * self-labeled nodes, and label propagation runs on that subgraph
    * alone. Untouched clusters pass through by reference. Per-batch
    * cost is O(|batch| + |touched clusters|), independent of corpus
    * size. Labels stay canonical (min member id), so the result is
    * IDENTICAL to a full recompute over the union — spec- and
    * oracle-pinned. (Caveat shared with [[incrementalCandidatePairs]]:
    * the hot-band cap applies to the sizes each discovery pass sees, so
    * a band crossing the cap only in the union can differ from the
    * batch-rebuild — the standard incremental-LSH trade.)
    *
    * @param oldLabels (idCol, cluster_id) for the existing corpus
    * @param newIds    batch ids (single column = idCol)
    * @param newPairs  (a, b) candidate pairs touching the batch */
  def incrementalClusters(oldLabels: DataFrame, idCol: String,
      newIds: DataFrame, newPairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val pairs = newPairs.select(col("a"), col("b")).graftCheckpoint(true)
    val touched = pairs.select(col("a").as("id"))
      .unionByName(pairs.select(col("b").as("id"))).distinct()
    val affectedClusters = oldLabels
      .join(touched.withColumnRenamed("id", idCol), Seq(idCol),
        "left_semi")
      .select(col("cluster_id")).distinct()
    val affectedMembers = oldLabels
      .join(affectedClusters, Seq("cluster_id"), "left_semi")
    // old connectivity as depth-1 star edges through the label node
    val starEdges = affectedMembers
      .filter(col(idCol) =!= col("cluster_id"))
      .select(col(idCol).as("a"), col("cluster_id").as("b"))
    val subNodes = affectedMembers.select(col(idCol))
      .unionByName(newIds.toDF(idCol)).distinct()
    val sub = nearDupClusters(subNodes, idCol,
      pairs.unionByName(starEdges), maxIter)
    oldLabels.join(affectedClusters, Seq("cluster_id"), "left_anti")
      .select(col(idCol), col("cluster_id"))
      .unionByName(sub)
  }

  /** All (x, y) pairs with x < y from a sorted array column, as an array
    * of structs `(_1, _2)` — native expression, one primitive loop per
    * group (the HOF formulation dispatched an interpreted lambda per
    * produced pair: quadratic dispatch on hot LSH bands / shingles). */
  private def pairsAsc(ids: Column): Column =
    org.apache.spark.sql.graftext.PairsAscExpr.pairsAsc(ids)

  /** Candidate near-dup pairs: docs sharing at least one LSH band.
    * Returns distinct (a, b) with a < b.
    *
    * Shape: groupBy(band) + in-group combinations, NOT a self-join — a
    * self-join recomputes the whole minhash lineage on both sides (the
    * signatures are far more expensive than the shuffle), while this
    * computes signatures once and shuffles only (band, doc_id) rows.
    * Null bands (docs too short for any shingle) are dropped — an
    * equi-join would never match them, but groupBy would collect them
    * into one spurious group. */
  def minhashCandidatePairs(docs: DataFrame, idCol: String,
      textCol: String, maxGroupSize: Int = MaxGroupSize): DataFrame =
    minhashCandidatePairsFromSigs(
      minhashSignatures(docs, idCol, textCol), maxGroupSize)

  /** [[minhashCandidatePairs]] from an ALREADY-COMPUTED signature frame
    * (the `minhashSignatures` shape) — callers that also consume the
    * signatures (q116's estimator eval) compute/cache them ONCE instead
    * of re-signing the corpus per use. */
  def minhashCandidatePairsFromSigs(sigs: DataFrame,
      maxGroupSize: Int = MaxGroupSize): DataFrame = {
    val nBands = NumHashes / BandSize
    val bands  = minhashBands(sigs)
    val exploded = bands.select(col("doc_id"),
      explode(array((0 until nBands).map(i => col(s"b$i")): _*)).as("band"))
      .filter(col("band").isNotNull)
    exploded.groupBy("band")
      .agg(sort_array(boundedSet(col("doc_id"), maxGroupSize)).as("ids"))
      .filter(col("ids").isNotNull && size(col("ids")) >= 2)
      .select(explode(pairsAsc(col("ids"))).as("p"))
      .select(col("p._1").as("a"), col("p._2").as("b"))
      .distinct()
  }

  // ---- n-gram jaccard (verified similarity on candidates) ---------------

  /** Jaccard similarity over distinct 3-token shingles for candidate
    * pairs (shared-shingle equality join; at scale feed it
    * [[minhashCandidatePairs]] instead of all pairs). Returns (a, b,
    * jaccard) for pairs with at least one shared shingle. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      minJaccard: Double, maxGroupSize: Int = MaxGroupSize): DataFrame =
    sharedShingleCounts(docs, idCol, textCol, maxGroupSize)
      .withColumn("jaccard", round(col("n_common") /
        (col("na") + col("nb") - col("n_common")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select("a", "b", "jaccard")

  /** Shared-shingle pair counts (a, b, na, nb, n_common) — the
    * single-pass core behind [[ngramJaccardPairs]] and
    * [[containmentPairs]].
    *
    * One pass over the corpus: each exploded (shingle, doc) row carries
    * the doc's distinct-shingle count, so no per-doc sizes relation and
    * no join back — the old 3-subplan self-join recomputed the shingle
    * lineage three times. groupBy(shingle) + in-group combinations, then
    * count shared shingles per pair. */
  private def sharedShingleCounts(docs: DataFrame, idCol: String,
      textCol: String, maxGroupSize: Int): DataFrame = {
    val shd = docs.select(col(idCol).as("doc_id"),
      array_distinct(TextFunctions.shingles(
        TextFunctions.tokens(col(textCol)), ShingleSize)).as("shd"))
    val ex = shd.filter(size(col("shd")) > 0)
      .select(col("doc_id"), size(col("shd")).as("n_sh"),
        explode(col("shd")).as("shingle"))
    ex.groupBy("shingle")
      .agg(sort_array(boundedList(struct(col("doc_id"), col("n_sh")),
        maxGroupSize)).as("ds"))
      .filter(col("ds").isNotNull && size(col("ds")) >= 2)
      .select(explode(pairsAsc(col("ds"))).as("p"))
      .select(col("p._1.doc_id").as("a"), col("p._1.n_sh").as("na"),
        col("p._2.doc_id").as("b"), col("p._2.n_sh").as("nb"))
      .groupBy("a", "b", "na", "nb")
      .agg(count(lit(1)).cast("double").as("n_common"))
  }

  /** Asymmetric-overlap (containment) scores for shingle-sharing pairs:
    * `containment_a = |S_A ∩ S_B| / |S_A|` (the fraction of A's distinct
    * 3-token shingles that also occur in B), and symmetrically for B.
    * Jaccard DILUTES a short doc fully embedded in a long one (a quote,
    * a mirror page wrapped in boilerplate — |A∩B|/|A∪B| stays small);
    * containment flags exactly that case, which is why Broder's original
    * resemblance work keeps both measures. Same bounded in-group pair
    * generation as every other generator here — no self-join, hot
    * shingles capped. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      minContainment: Double, maxGroupSize: Int = MaxGroupSize): DataFrame =
    sharedShingleCounts(docs, idCol, textCol, maxGroupSize)
      .withColumn("containment_a", round(col("n_common") / col("na"), 6))
      .withColumn("containment_b", round(col("n_common") / col("nb"), 6))
      .withColumn("max_containment",
        greatest(col("containment_a"), col("containment_b")))
      .filter(col("max_containment") >= minContainment)
      .select("a", "b", "containment_a", "containment_b", "max_containment")

  /** Corpus-level exact block dedup with the keep-FIRST policy —
    * RefinedWeb/CCNet line-level dedup re-expressed over fixed-width
    * token blocks (the fixture corpus has no newlines, so the dedup unit
    * is non-overlapping `blockSize`-token blocks; on real web text the
    * same operator runs over newline-split lines). The globally first
    * occurrence — min (doc_id, block_index) — of each distinct block
    * survives; every later occurrence (including in-doc repeats) is cut,
    * and each doc is reassembled from its surviving blocks in order.
    *
    * Scale shape: two hash-partitioned shuffles (block-hash groupBy for
    * the keeper, doc_id regroup for reassembly) — no corpus-wide window,
    * no self-join; the per-doc sort inside collect+array_sort is bounded
    * by the doc's own block count. The incremental form would persist
    * the block-hash → keeper-key index exactly like
    * [[substringHashIndex]]. Returns (doc, clean_text,
    * n_blocks_dropped) for every input doc. */
  def blockDedup(docs: DataFrame, idCol: String, textCol: String,
      blockSize: Int = 16): DataFrame = {
    val b = blockSize
    val occ = docs.select(col(idCol).as("doc"),
        TextFunctions.tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc"),
        posexplode(transform(
          sequence(lit(0), floor((size(col("tk")) - 1) / lit(b)).cast("int")),
          i => array_join(slice(col("tk"), i * lit(b) + lit(1), lit(b)), " ")))
          .as(Seq("blk", "btxt")))
      // scalar keeper key: doc ids are < 1e6 blocks apart in practice;
      // (doc, blk) lexicographic == doc*1e6 + blk for blk < 1e6
      .withColumn("k", col("doc") * lit(1000000L) + col("blk"))
      .withColumn("h", md5(col("btxt")))
    val keep = occ.groupBy("h").agg(min(col("k")).as("kk"))
    val surv = occ.join(keep, "h").filter(col("k") === col("kk"))
    val agg = surv.groupBy("doc").agg(
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col("blk"), col("btxt")))),
        x => x.getField("btxt"))).as("clean_text"),
      count(lit(1)).as("nkeep"))
    val tot = occ.groupBy("doc").agg(count(lit(1)).as("nb"))
    tot.join(agg, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("nb") - coalesce(col("nkeep"), lit(0L))).cast("long")
          .as("n_blocks_dropped"))
  }

  /** Winnowing-based near-dup pairs — the application of
    * [[graft.text.TextAnalysis.winnowFingerprints]]: docs sharing at
    * least `minShared` fingerprints, with the shared count. Same
    * generation shape as every other generator here: groupBy(fp) +
    * in-group combinations under the hot-key cap — never a self-join.
    * Defaults use a LARGER (k, w) than q111's display default: 8-char
    * windows over a template-heavy corpus make ubiquitous fingerprints
    * (hot keys by construction); 16/8 keeps fingerprints selective
    * while the winnowing guarantee still holds (any shared run of
    * w + k - 1 = 23+ chars collides). */
  def winnowDupPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 16, w: Int = 8, minShared: Long = 2L,
      maxGroupSize: Int = MaxGroupSize): DataFrame = {
    val fps = docs.select(col(idCol).as("doc_id"),
      explode(graft.text.TextAnalysis.winnowFingerprints(col(textCol), k, w))
        .as("fp"))
    fps.groupBy("fp")
      .agg(sort_array(boundedSet(col("doc_id"), maxGroupSize)).as("ids"))
      .filter(col("ids").isNotNull && size(col("ids")) >= 2)
      .select(explode(pairsAsc(col("ids"))).as("p"))
      .select(col("p._1").as("a"), col("p._2").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  // ---- simhash -----------------------------------------------------------

  /** 60-bit SimHash per doc: token hashes once (array expression), then
    * the native codegen expression computes all 60 majority votes in one
    * primitive loop (the HOF formulation dispatched 60 interpreted
    * aggregate-lambdas per row). Shuffle-free. */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = docs.select(col(idCol).as("doc_id"),
      transform(TextFunctions.tokens(col(textCol)),
        t => TextFunctions.md5Long(t)).as("hs"))
    hashed.select(col("doc_id"),
      org.apache.spark.sql.graftext.SimHashExpr.simhash(col("hs"),
        SimHashBits).as("simhash"))
      // barrier: the banding consumers reference `simhash` 4-5 times
      // (quarter split + the carried signature) and the whole
      // tokenize→md5→simhash chain runs interpreted — without
      // materialization the collapsed projection re-evaluates it per
      // reference (the minhashSignatures hazard; one compact
      // (id, long) row per doc held instead)
      .graftCheckpoint(false)
  }

  /** SimHash near-dup candidates: equal 15-bit quarter (Hamming ≤ 3 over
    * 60 bits guarantees one equal quarter — pigeonhole). */
  def simhashCandidatePairs(docs: DataFrame, idCol: String,
      textCol: String, maxGroupSize: Int = MaxGroupSize): DataFrame = {
    val sigs = simhash(docs, idCol, textCol)
    val quarters = sigs.select(col("doc_id"), explode(array(
      (0 until 4).map(q => struct(lit(q).as("q"),
        shiftright(col("simhash"), q * 15).bitwiseAND(lit((1L << 15) - 1))
          .as("v"))): _*)).as("quarter"))
    quarters.groupBy("quarter")
      .agg(sort_array(boundedSet(col("doc_id"), maxGroupSize)).as("ids"))
      .filter(col("ids").isNotNull && size(col("ids")) >= 2)
      .select(explode(pairsAsc(col("ids"))).as("p"))
      .select(col("p._1").as("a"), col("p._2").as("b"))
      .distinct()
  }

  /** Fuzzy near-dups: simhash candidates VERIFIED by edit distance over
    * a text prefix — the verify stage for boilerplate-shifted copies
    * (date stamps, inserted bylines) that hash-exact dedup misses and
    * Jaccard under-weights. Filter ladder, cheapest first: LSH banding
    * prunes to candidates, the O(1) `bit_count(xor)` Hamming cut prunes
    * candidates to near-signatures, and only THOSE pay the O(prefixLen²)
    * Levenshtein — without the Hamming rung the DP dominates (measured
    * 17 s vs 2 s at sf0.1). Returns (a, b, edit_dist). */
  def editDistanceVerifiedPairs(docs: DataFrame, idCol: String,
      textCol: String, prefixLen: Int = 80, maxDist: Int = 20,
      maxHamming: Int = 3, maxGroupSize: Int = MaxGroupSize): DataFrame = {
    val cands = simhashVerifiedPairs(docs, idCol, textCol, maxHamming,
      maxGroupSize).select("a", "b")
    val pref = docs.select(col(idCol).as("__id"),
      substring(col(textCol), 1, prefixLen).as("__p"))
    cands
      .join(pref.select(col("__id").as("a"), col("__p").as("__pa")), Seq("a"))
      .join(pref.select(col("__id").as("b"), col("__p").as("__pb")), Seq("b"))
      .withColumn("edit_dist",
        levenshtein(col("__pa"), col("__pb")).cast("int"))
      .filter(col("edit_dist") <= maxDist)
      .select("a", "b", "edit_dist")
  }

  /** SimHash near-dups VERIFIED by exact Hamming distance — completes
    * the candidate stage the way Jaccard verifies minhash candidates:
    * quarter-banding guarantees recall for distance ≤ 3 (pigeonhole),
    * the `bit_count(xor)` filter removes the false positives banding
    * lets through. Signatures ride along in the group collect, so no
    * join back to the signature relation. Returns (a, b, hamming). */
  def simhashVerifiedPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxGroupSize: Int = MaxGroupSize): DataFrame = {
    val sigs = simhash(docs, idCol, textCol)
    val quarters = sigs.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(q => struct(lit(q).as("q"),
        shiftright(col("simhash"), q * 15).bitwiseAND(lit((1L << 15) - 1))
          .as("v"))): _*)).as("quarter"))
    quarters.groupBy("quarter")
      .agg(sort_array(boundedList(struct(col("doc_id"), col("simhash")),
        maxGroupSize)).as("ds"))
      .filter(col("ds").isNotNull && size(col("ds")) >= 2)
      .select(explode(pairsAsc(col("ds"))).as("p"))
      .select(col("p._1.doc_id").as("a"), col("p._1.simhash").as("sa"),
        col("p._2.doc_id").as("b"), col("p._2.simhash").as("sb"))
      .distinct() // same pair can surface from several quarters
      .withColumn("hamming",
        expr("cast(bit_count(sa ^ sb) as int)"))
      .filter(col("hamming") <= maxHamming)
      .select("a", "b", "hamming")
  }

  /** Near-dup CLUSTERS from candidate pairs: connected components —
    * each doc's cluster id is the minimum doc id reachable through the
    * pair graph, singletons label themselves. This is the
    * canonicalization step after candidates+verify: keep `cluster_id`,
    * drop the rest. Every caller in this repo derives `pairs` from the
    * same docs relation. A pair endpoint absent from `allDocs` is not
    * dropped: both paths keep it as a graph vertex, so the output holds
    * exactly the `allDocs` ids, two docs linked only through an absent
    * id share a cluster, and that cluster's `cluster_id` can be the
    * absent id (FallbackParitySpec pins this).
    *
    * Shape: only vertices TOUCHED BY A PAIR can ever leave their own
    * label, so the closure runs over the pair-vertex set — never the
    * corpus — and the corpus-sized result is one left-join at the end
    * (`coalesce(label, id)` labels singletons). While the pair
    * relation fits the driver-state bound (`stateUpTo` rows — the
    * [[graft.operators.Iterate]] discipline, with a lower dedup-specific
    * default [[NearDupStateUpTo]]), components come from one collected
    * union-find pass (exact, fully converged — the same answer the
    * oracle's recursive CTE computes). Past the bound, the pregel loop
    * takes over: per round one equi-join of (edges × labels) + a
    * min-aggregate against the dst-partitioned cached edge copy
    * ([[graft.operators.Iterate.cached]]; the DISTINCT rides inside the
    * copy's shuffle). Iterations ≤ pair-graph diameter, `maxIter`
    * guards pathological chains; convergence is a changed-count action
    * per round — exactly what a pregel step costs at 100 TB. Parity of
    * the two paths is pinned in FallbackParitySpec. */
  def nearDupClusters(allDocs: DataFrame, idCol: String,
      pairs: DataFrame, maxIter: Int = 20,
      stateUpTo: Long = NearDupStateUpTo)
      : DataFrame = {
    // checkpoint the raw pairs BEFORE the symmetrizing union so the
    // caller's candidate build runs once, not once per union branch
    val p0 = pairs.select(col("a"), col("b")).graftCheckpoint(false)
    val idType = allDocs.schema(idCol).dataType
    val nPairs = p0.count()
    val fastPath = nPairs <= stateUpTo
    val labels: DataFrame = if (fastPath) {
      // driver union-find fast path: one collect of the (bounded) pair
      // relation, path-compressed components, min id per component by
      // the id type's natural order (numeric for numbers; strings
      // compare as UTF-8 bytes via UTF8String — java.lang.String's
      // compareTo is UTF-16 code-unit order, which diverges from
      // Spark's `min`/`least` on supplementary-plane characters, and
      // the fallback path / SQL oracle must agree with this path)
      def idLt(a: Any, b: Any): Boolean = (a, b) match {
        case (x: String, y: String) =>
          org.apache.spark.unsafe.types.UTF8String.fromString(x)
            .compareTo(
              org.apache.spark.unsafe.types.UTF8String.fromString(y)) < 0
        case _ => a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
      }
      val parent = new java.util.HashMap[Any, Any]()
      def find(x: Any): Any = {
        var r = x
        while ({ val p = parent.get(r); p != null && p != r }) r = parent.get(r)
        var c = x
        while ({ val p = parent.get(c); p != null && p != c }) {
          val nx = parent.get(c); parent.put(c, r); c = nx
        }
        if (parent.get(r) == null) parent.put(r, r)
        r
      }
      p0.collect().foreach { row =>
        val ra = find(row.get(0)); val rb = find(row.get(1))
        if (ra != rb) parent.put(ra, rb)
      }
      val minOf = new java.util.HashMap[Any, Any]()
      parent.keySet().forEach { k =>
        val r = find(k)
        val cur = minOf.get(r)
        if (cur == null || idLt(k, cur)) minOf.put(r, k)
      }
      val lrows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      parent.keySet().forEach { k =>
        lrows.add(org.apache.spark.sql.Row(k, minOf.get(find(k))))
      }
      allDocs.sparkSession.createDataFrame(lrows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", idType),
          org.apache.spark.sql.types.StructField("label", idType))))
    } else {
      // distributed pregel fallback, restricted to the pair-vertex set;
      // lab is eagerly checkpointed every round, so the result never
      // reads the released edge copy
      Iterate.cached(
          p0.select(col("a").as("src"), col("b").as("dst"))
            .unionByName(p0.select(col("b").as("src"), col("a").as("dst")))
            .repartition(col("dst")).dropDuplicates("src", "dst")) { edges =>
        // symmetrized ⇒ the dst set IS the vertex set
        var lab = edges.select(col("dst").as("id")).distinct()
          .select(col("id"), col("id").as("label"))
          .graftCheckpoint(true)
        var changed = 1L
        var i = 0
        while (changed > 0 && i < maxIter) {
          val neighborMin = edges
            .join(lab.withColumnRenamed("id", "dst")
              .withColumnRenamed("label", "n_label"), "dst")
            .groupBy(col("src").as("id"))
            .agg(min(col("n_label")).as("n_min"))
          val next = lab.join(neighborMin, Seq("id"), "left")
            .select(col("id"),
              least(col("label"), coalesce(col("n_min"), col("label")))
                .as("label"),
              (col("n_min") < col("label")).as("chg"))
          val step = next.graftCheckpoint(true)
          changed = step.filter(col("chg")).count()
          lab = step.select("id", "label")
          i += 1
        }
        lab
      }
    }
    // corpus pass: singletons (no pair) keep their own id as label. The
    // id projection is checkpointed (lineage truncated) so a consumer
    // that joins the result back against the same allDocs lineage
    // (semDedup/semDedupIncremental join vsCorpus/assigned again) does
    // not duplicate the upstream embedding scans in its final plan.
    val docIds = allDocs.select(col(idCol)).graftCheckpoint(false)
    // broadcast ONLY on the fast path (labels are bounded local rows
    // there); the fallback's labels are pair-vertex-sized and unbounded
    // — a forced broadcast would hit Spark's 8GB/512M-row hard caps at
    // scale, so leave that join to the planner (plain shuffled left
    // join when big).
    val labRel0 = labels.withColumnRenamed("id", idCol)
    val labRel = if (fastPath) broadcast(labRel0) else labRel0
    docIds.join(labRel, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("label"), col(idCol)).as("cluster_id"))
  }

  /** The KEEP POLICY that turns near-dup clusters into a curated corpus:
    * one survivor per cluster — the best `scoreCol` (quality, length,
    * recency…), ties broken to the smallest id. Returns every input row
    * with its `cluster_id` and a `keep` flag (filter on it or anti-join
    * the losers).
    *
    * Scale shape: two partial-agg groupBys on the cluster key (per-
    * cluster max score, then min id among the max-scored) and equi-joins
    * back — no window over the corpus, no collect; cluster count is
    * corpus-order, so everything stays a keyed shuffle. */
  def keepBestPerCluster(scored: DataFrame, idCol: String,
      clusters: DataFrame, scoreCol: String): DataFrame = {
    val js = scored.join(clusters, idCol)
    val mx = js.groupBy("cluster_id").agg(max(col(scoreCol)).as("__mq"))
    val keepers = js.join(mx, "cluster_id")
      .filter(col(scoreCol) === col("__mq"))
      .groupBy("cluster_id").agg(min(col(idCol)).as("__keep_id"))
    js.join(keepers, "cluster_id")
      .withColumn("keep", col(idCol) === col("__keep_id"))
      .drop("__keep_id")
  }

  /** LSH banding PLANNER — the pre-flight that chooses (numHashes,
    * bandSize) before a dedup run: for each candidate Jaccard s, the
    * detection probability of the banded scheme, `1 − (1 − s^r)^b`,
    * plus the scheme's threshold `s* = (1/b)^(1/r)` (the similarity
    * where detection hits ~50%). Pure algebra on a generated grid —
    * metadata-scale, no corpus access; the q185-style diagnostic for
    * the dedup family. */
  def lshPlanCurve(spark: org.apache.spark.sql.SparkSession,
      nHashes: Int = NumHashes, bandSize: Int = BandSize,
      steps: Int = 20): DataFrame = {
    require(nHashes % bandSize == 0, "bandSize must divide nHashes")
    val b = nHashes / bandSize
    spark.range(1, steps + 1)
      .select((col("id").cast("double") / steps).as("s"))
      .select(round(col("s"), 6).as("jaccard_s"),
        round(lit(1.0) -
          pow(lit(1.0) - pow(col("s"), lit(bandSize)), lit(b)), 6)
          .as("p_detect"),
        round(pow(lit(1.0) / b, lit(1.0) / bandSize), 6).as("s_threshold"))
  }

  // ---- embedding near-dup ------------------------------------------------

  /** Embedding-cosine near-dup pairs, restricted to LSH buckets (bucket
    * equality join — the scale path; a full cross join never happens).
    * Returns (a, b, cos) with cos ≥ minCosine, a < b. */
  // ---- exact substring dedup --------------------------------------------

  /** Exact substring dedup spans (the "Deduplicating Training Data Makes
    * Language Models Better" pass, re-shaped for Spark): find every
    * maximal run of `k`-token windows whose window text occurs verbatim
    * in MORE THAN ONE document, and emit it as a per-document span
    * `(doc, span_start, span_end, n_windows)` in token positions —
    * exactly what a cut-duplicated-spans curation stage consumes.
    *
    * Scale design (100 TB): the suffix-array formulation is inherently
    * global; this one never materializes pairs at all —
    *  1. per-row window explode (no shuffle; output is Σ doc_len rows),
    *  2. ONE groupBy on the 128-bit window hash where "duplicated across
    *     docs" is decided by `min(doc) != max(doc)` — partial-agg
    *     friendly (two longs per hash map-side), never a distinct-count
    *     or a collected group,
    *  3. semi-join windows against duplicated hashes (shuffle on the
    *     same hash key — AQE coalesces; no row ever fans out),
    *  4. merge adjacent positions into maximal spans with a per-document
    *     islands-and-gaps window (bounded by doc length, never global).
    * A boilerplate window shared by millions of docs costs its row count
    * ONCE in step 2-3, not the quadratic pair blow-up of the LSH path —
    * no hot-key cap is needed. */
  /** `(doc, pos, h)` — every k-token window's start position and md5.
    * Window start positions run 1 .. len-k+1; docs shorter than k
    * windows vanish (explode of the empty array drops the row). The
    * guard matters: Spark's sequence(1, 0) yields a DESCENDING [1, 0]. */
  /** (doc, hs) — the per-doc ARRAY of k-window md5s, one row per doc.
    * The compact pre-explode form, so a consumer that needs the
    * window relation twice (dup-hash groupBy + semi-join back) can
    * checkpoint ONE doc-sized row per document and re-pay only the
    * explode, not the tokenize+md5 CPU. */
  private def windowHashArrays(docs: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    // CPU-bound per-row stage (k-token md5 per window position, a
    // higher-order transform outside codegen): its parallelism must
    // not be bound to the INPUT SPLIT count. A fixture-sized corpus
    // arrives as one parquet row group → one task → every window
    // hashed on one core (measured at sf1: 42 s single-threaded vs
    // ~4 s spread; at 100 TB a compacted shard has the same problem).
    // One narrow shuffle of the raw text is noise against the k×
    // window blowup it parallelizes.
    val parts = docs.sparkSession.sessionState.conf.numShufflePartitions
    val in =
      if (docs.rdd.getNumPartitions >= parts) docs
      else docs.repartition(parts)
    in
      .select(col(idCol).as("doc"), toks.as("l"))
      .select(col("doc"),
        when(size(col("l")) >= k,
          transform(sequence(lit(1), size(col("l")) - (k - 1)),
            p => md5(array_join(slice(col("l"), p, lit(k)), " "))))
          .otherwise(typedLit(Array.empty[String])).as("hs"))
  }

  /** Explode (doc, hs) to (doc, pos, h); pos is 1-based (window start
    * position in tokens), matching the span algebra and oracles. */
  private def explodeWins(arrs: DataFrame): DataFrame =
    arrs.select(col("doc"), posexplode(col("hs")).as(Seq("p", "h")))
      .select(col("doc"), (col("p") + 1).as("pos"), col("h"))

  /** Merge `(doc, pos)` duplicated-window rows into maximal spans via a
    * per-doc islands-and-gaps window (bounded by doc length). */
  private def mergeSpans(dupWins: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc").orderBy("pos")
    dupWins
      // first-in-doc row: lag is null, the === test is null → ELSE 1,
      // opening an island (matches SQL CASE semantics exactly)
      .withColumn("gap",
        when(col("pos") - lag("pos", 1).over(byDoc) === 1, 0)
          .otherwise(1))
      .withColumn("island", sum("gap").over(byDoc))
      .groupBy("doc", "island")
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") + (k - 1)).cast("long").as("span_end"),
        count(lit(1)).cast("long").as("n_windows"))
      .drop("island")
  }

  def substringDupSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    require(k >= 2, s"window size must be >= 2, got $k")
    // the window relation feeds the dup-hash groupBy AND the semi-join
    // back, and their exchanges differ — checkpoint the compact
    // per-doc hash arrays so tokenize+md5 runs once
    val wins = explodeWins(
      windowHashArrays(docs, idCol, textCol, k).graftCheckpoint(false))
    val dupHashes = wins.groupBy("h")
      .agg(min("doc").as("mn"), max("doc").as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select("h")
    mergeSpans(wins.join(dupHashes, Seq("h"), "left_semi"), k)
  }

  /** The INDEX side of incremental substring dedup: the corpus's
    * distinct window hashes — what a pipeline persists between batches
    * (hash-partitioned parquet at scale, exactly like the minhash band
    * index of [[minhashBandIndex]]). */
  def substringHashIndex(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame =
    // checkpoint BEFORE the explode, like substringDupSpans: Generate
    // re-evaluates its (collapsed) input expression per emitted row, so
    // an un-materialized window transform turns O(len·k) per doc into
    // O(len²·k) — measured 30× on the sf1 fixture corpus
    explodeWins(windowHashArrays(docs, idCol, textCol, k)
      .graftCheckpoint(false)).select("h").distinct()

  /** Incremental twin of [[substringDupSpans]]: spans of BATCH documents
    * whose windows occur verbatim in the INDEXED corpus. Only the batch
    * is hashed (|batch| work, not the corpus); the dup test is one
    * semi-join against the persisted hash index. Batch-internal
    * duplication is deliberately out of scope here — run the batch
    * through [[substringDupSpans]] for that, then union. */
  def incrementalSubstringSpans(index: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, k: Int = 8): DataFrame = {
    require(k >= 2, s"window size must be >= 2, got $k")
    // same pre-explode checkpoint as substringHashIndex (Generate
    // re-evaluation hazard)
    mergeSpans(
      explodeWins(windowHashArrays(batch, idCol, textCol, k)
        .graftCheckpoint(false))
        .join(index, Seq("h"), "left_semi"), k)
  }

  /** The APPLY side of [[substringDupSpans]]: rewrite each document with
    * its duplicated token spans CUT OUT (the curation action the spans
    * feed), emitting the cleaned text and the number of tokens removed.
    * Span membership is tested with an indexed array filter against the
    * doc's own collected span list — per-row work bounded by doc length
    * × its span count, no shuffle beyond the one spans join. */
  def cutDupSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    val spans = substringDupSpans(docs, idCol, textCol, k)
      .groupBy(col("doc"))
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("spans"))
    val toks = docs.select(col(idCol).as("doc"),
      TextFunctions.tokens(col(textCol)).as("l"))
    val inSpan = (i: Column) => exists(col("spans"),
      sp => i >= sp.getField("s") && i <= sp.getField("e"))
    toks.join(spans, Seq("doc"), "left")
      .select(col("doc"),
        when(col("spans").isNull, array_join(col("l"), " "))
          .otherwise(array_join(
            filter(col("l"), (t, i) => !inSpan(i + 1)), " "))
          .as("clean_text"),
        when(col("spans").isNull, lit(0L))
          .otherwise(size(filter(col("l"), (t, i) => inSpan(i + 1)))
            .cast("long"))
          .as("n_tokens_cut"))
  }

  def embeddingNearDupPairs(embs: DataFrame, idCol: String, vecCol: String,
      dim: Int, minCosine: Double, nBits: Int = 8,
      maxGroupSize: Int = MaxGroupSize): DataFrame = {
    // groupBy(bucket) + in-group combinations: LSH signatures computed
    // once (a self-join would evaluate them on both sides). Each doc
    // lands in exactly one bucket, so pairs are unique — no distinct.
    // At 100 TB raise nBits so buckets stay small; maxGroupSize bounds
    // the collect regardless.
    val bucketed = embs.select(col(idCol).as("id"), col(vecCol).as("v"),
      VectorFunctions.lshSignature(col(vecCol), dim, nBits).as("bucket"))
    bucketed.groupBy("bucket")
      .agg(sort_array(boundedList(struct(col("id"), col("v")),
        maxGroupSize)).as("xs"))
      .filter(col("xs").isNotNull && size(col("xs")) >= 2)
      .select(explode(pairsAsc(col("xs"))).as("p"))
      .select(col("p._1.id").as("a"), col("p._1.v").as("va"),
        col("p._2.id").as("b"), col("p._2.v").as("vb"))
      .withColumn("cos", round(VectorFunctions.cosine(col("va"), col("vb")), 6))
      .filter(col("cos") >= minCosine)
      .select("a", "b", "cos")
  }

  // ---- semantic dedup (SemDeDup) ------------------------------------------

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup over
    * an embedding column — partition the corpus into cells by nearest-
    * centroid assignment (the paper's k-means clusters), generate
    * candidate pairs WITHIN cells only, connect pairs with cosine ≥
    * `tau`, and keep one representative per connected dup-group (the
    * min id — deterministic; the paper's keep-farthest-from-centroid is
    * a policy knob over the same group structure).
    *
    * `centroids` is model state (a fitted k-means — [[semDedupKMeans]] —
    * or any deterministic anchor set): nCentroids rows, broadcast.
    * Returns one row per input id: (id, cell, cluster_id, keep) with
    * keep = (id == cluster_id) — `filter(keep)` IS the curation stage.
    *
    * Scale shape: assignment is a broadcast crossJoin against the
    * centroid relation + one partial-aggregated min_by (|corpus| ×
    * nCentroids worked set, never a shuffle of pairs); pair generation
    * is the in-group-combination pattern under `maxGroupSize` (cells
    * bound the candidate set — O(Σ|cell|²), never corpus²); grouping is
    * the same label-propagation CC as [[nearDupClusters]] (near-dup
    * graphs are shallow). */
  def semDedup(embs: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Array[Float]], tau: Double,
      maxGroupSize: Int = MaxGroupSize, maxIter: Int = 20): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val cents = centroids.zipWithIndex
      .map { case (c, i) => (i, c.map(_.toDouble).toSeq) }
      .toDF("cell", "centroid")
    val dist = aggregate(
      zip_with(col("v").cast("array<double>"), col("centroid"),
        (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)
    // dist is rounded to 1e-6 before the argmin (cell-id tiebreak): the
    // assignment is then deterministic across engines/evaluation orders
    // — FP re-association can't flip a comparison of rounded values
    val assigned = embs.select(col(idCol).as("id"), col(vecCol).as("v"))
      .crossJoin(broadcast(cents))
      .withColumn("dist", round(dist, 6))
      .groupBy("id")
      .agg(min_by(col("cell"), struct(col("dist"), col("cell"))).as("cell"),
        first(col("v")).as("v"))
    val pairs = assigned.groupBy("cell")
      .agg(sort_array(boundedList(struct(col("id"), col("v")),
        maxGroupSize)).as("xs"))
      .filter(col("xs").isNotNull && size(col("xs")) >= 2)
      .select(explode(pairsAsc(col("xs"))).as("p"))
      .select(col("p._1.id").as("a"), col("p._1.v").as("va"),
        col("p._2.id").as("b"), col("p._2.v").as("vb"))
      .withColumn("cos",
        round(VectorFunctions.cosine(col("va"), col("vb")), 6))
      .filter(col("cos") >= tau)
      .select("a", "b")
    val clusters = nearDupClusters(assigned.select("id"), "id", pairs,
      maxIter)
    assigned.select("id", "cell")
      .join(clusters, "id")
      .select(col("id"), col("cell"), col("cluster_id"),
        (col("id") === col("cluster_id")).as("keep"))
  }

  /** Incremental SemDeDup — dedup a NEW batch against an EXISTING
    * corpus, then within itself (the production ingest shape; q71's
    * minhash-band twin in embedding space). A batch doc is
    * `dup_of_corpus` when any same-cell existing doc sits within
    * cosine ≥ `tau`; the survivors then run the standard [[semDedup]]
    * group policy among themselves (same frozen centroids), so
    * `keep = !dup_of_corpus && (id == survivor-group min)`.
    *
    * Scale shape: both sides assign against the broadcast centroid
    * relation; the batch-vs-corpus check is ONE equi-join on the cell
    * key (|batch| rows against cell-local corpus partitions — AQE
    * sizes/skew-splits it; the corpus is never self-paired), aggregated
    * per batch doc with `max(cos >= tau)` (partial-agg friendly).
    * Survivor grouping touches survivors only. Returns one row per
    * batch id: (id, cell, dup_of_corpus, cluster_id, keep) — cluster_id
    * is the id itself for corpus dups (they form no new group). */
  def semDedupIncremental(existing: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, centroids: Seq[Array[Float]],
      tau: Double, maxGroupSize: Int = MaxGroupSize): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val cents = centroids.zipWithIndex
      .map { case (c, i) => (i, c.map(_.toDouble).toSeq) }
      .toDF("cell", "centroid")
    def assign(df: DataFrame): DataFrame = {
      val dist = aggregate(
        zip_with(col("v").cast("array<double>"), col("centroid"),
          (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x)
      df.select(col(idCol).as("id"), col(vecCol).as("v"))
        .crossJoin(broadcast(cents))
        .withColumn("dist", round(dist, 6))
        .groupBy("id")
        .agg(min_by(col("cell"), struct(col("dist"), col("cell")))
          .as("cell"), first(col("v")).as("v"))
    }
    val ex = assign(existing)
    val ba = assign(batch)
    val vsCorpus = ba
      .join(ex.select(col("cell"), col("v").as("ev")), Seq("cell"),
        "left")
      .withColumn("hit",
        col("ev").isNotNull &&
          round(VectorFunctions.cosine(col("v"), col("ev")), 6) >= tau)
      .groupBy("id")
      .agg(first("cell").as("cell"), first("v").as("v"),
        bool_or(col("hit")).as("dup_of_corpus"))
    val survivors = vsCorpus.filter(!col("dup_of_corpus"))
      .select("id", "cell", "v")
    val pairs = survivors.groupBy("cell")
      .agg(sort_array(boundedList(struct(col("id"), col("v")),
        maxGroupSize)).as("xs"))
      .filter(col("xs").isNotNull && size(col("xs")) >= 2)
      .select(explode(pairsAsc(col("xs"))).as("p"))
      .select(col("p._1.id").as("a"), col("p._1.v").as("va"),
        col("p._2.id").as("b"), col("p._2.v").as("vb"))
      .withColumn("cos",
        round(VectorFunctions.cosine(col("va"), col("vb")), 6))
      .filter(col("cos") >= tau)
      .select("a", "b")
    val clusters = nearDupClusters(survivors.select("id"), "id", pairs)
    vsCorpus.select("id", "cell", "dup_of_corpus")
      .join(clusters, Seq("id"), "left")
      .select(col("id"), col("cell"), col("dup_of_corpus"),
        coalesce(col("cluster_id"), col("id")).as("cluster_id"),
        (!col("dup_of_corpus") && col("cluster_id") === col("id"))
          .as("keep"))
  }

  /** [[semDedup]] with the cells fitted by seeded MLlib k-means (the
    * paper's configuration). The fitted centers become frozen model
    * state — the same centroids-are-metadata contract as
    * [[graft.index.IvfIndex]]. */
  def semDedupKMeans(embs: DataFrame, idCol: String, vecCol: String,
      k: Int, tau: Double, seed: Long = 42L,
      maxGroupSize: Int = MaxGroupSize): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val withVec = embs.select(col(idCol), col(vecCol),
      array_to_vector(col(vecCol).cast("array<double>")).as("features"))
    val model = new KMeans().setK(k).setSeed(seed)
      .setFeaturesCol("features").setPredictionCol("cell")
      .fit(withVec)
    semDedup(embs, idCol, vecCol,
      model.clusterCenters.map(_.toArray.map(_.toFloat)).toSeq, tau,
      maxGroupSize)
  }
}
