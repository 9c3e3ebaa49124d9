package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Every driver-state fast path ships with a distributed fallback that
  * takes over past its size guard — at fixture scale the guard never
  * trips, so these specs FORCE the fallback (bound = 0) and pin the
  * two paths bit-equal on jagged fixtures. A fallback that silently
  * diverged would otherwise only surface at cluster scale. */
class FallbackParitySpec extends SparkSpec {
  import spark.implicits._

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def edges = Seq(
    ("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("c", "a"),
    ("a", "c"), ("c", "d"), ("d", "c"), ("d", "a"), ("a", "d"),
    ("e", "a"), ("a", "e")
  ).toDF("src", "dst") // symmetrized: every node has an out-edge

  test("PageRank.run: driver-iterated state ≡ co-partitioned loop") {
    val fast = PageRank.run(edges, iters = 3, damping = 0.85)
    val dist = PageRank.run(edges, iters = 3, damping = 0.85,
      broadcastStateUpTo = 0L)
    assert(rowsOf(fast) == rowsOf(dist))
  }

  test("PageRank.run/runWeighted inEdgeClosed=true ≡ default on a " +
      "symmetrized graph, both state paths (round-13 identity-join " +
      "elision parity)") {
    // the fixture IS symmetrized (every node appears as src and dst)
    val base = rowsOf(PageRank.run(edges, iters = 3, damping = 0.85))
    assert(rowsOf(PageRank.run(edges, iters = 3, damping = 0.85,
      inEdgeClosed = true)) == base)
    assert(rowsOf(PageRank.run(edges, iters = 3, damping = 0.85,
      broadcastStateUpTo = 0L, inEdgeClosed = true)) == base)
    val wEdges = edges.withColumn("w",
      (length(col("src")) + length(col("dst"))).cast("long"))
    val wBase = rowsOf(PageRank.runWeighted(wEdges, iters = 3,
      damping = 0.85))
    assert(rowsOf(PageRank.runWeighted(wEdges, iters = 3, damping = 0.85,
      inEdgeClosed = true)) == wBase)
    assert(rowsOf(PageRank.runWeighted(wEdges, iters = 3, damping = 0.85,
      broadcastStateUpTo = 0L, inEdgeClosed = true)) == wBase)
  }

  test("reliable-checkpoint knob: the distributed PageRank path " +
      "survives spark.graft.reliableCheckpoint=true with identical " +
      "ranks (and writes real checkpoint files)") {
    val ckptDir = java.nio.file.Files
      .createTempDirectory("graft_ckpt_").toString
    val base = PageRank.run(edges, iters = 3, damping = 0.85,
      broadcastStateUpTo = 0L)
    val baseRows = rowsOf(base)
    spark.sparkContext.setCheckpointDir(ckptDir)
    spark.conf.set(Ckpt.Key, "true")
    try {
      val reliable = PageRank.run(edges, iters = 3, damping = 0.85,
        broadcastStateUpTo = 0L)
      assert(rowsOf(reliable) == baseRows,
        "reliable checkpointing must not change a single rank bit")
      // the knob actually engaged: checkpoint files exist on the
      // reliable store (here a temp dir standing in for HDFS/S3)
      def anyFile(p: java.io.File): Boolean =
        p.isFile || Option(p.listFiles).exists(_.exists(anyFile))
      assert(anyFile(new java.io.File(ckptDir)),
        "no reliable checkpoint files were written")
      // the broadcast/driver fast path is also unaffected
      assert(rowsOf(PageRank.run(edges, iters = 3, damping = 0.85))
        == baseRows)
    } finally spark.conf.unset(Ckpt.Key)
  }

  test("PageRank.personalized: both paths agree") {
    val seeds = Seq("a").toDF("node")
    val fast = PageRank.personalized(edges, seeds, iters = 3,
      damping = 0.85)
    val dist = PageRank.personalized(edges, seeds, iters = 3,
      damping = 0.85, broadcastStateUpTo = 0L)
    assert(rowsOf(fast) == rowsOf(dist))
  }

  test("PageRank.hits: both paths agree") {
    val bip = Seq(("h1", "x"), ("h1", "y"), ("h2", "y"), ("h3", "y"),
      ("h3", "z")).toDF("hub", "auth")
    val fast = PageRank.hits(bip, iters = 3)
    val dist = PageRank.hits(bip, iters = 3, broadcastStateUpTo = 0L)
    assert(rowsOf(fast) == rowsOf(dist))
  }

  test("PageRank.hits: broadcast long-state path is exact when the " +
      "rescale total passes 1e13 (lpad-truncation regression)") {
    // a 25-out-edge hub over 2 hubs pushes the first-round raw total to
    // (25+1)·0.5 = 13, i.e. 1.3e13 micro — a 14-digit string. Spark's
    // lpad TRUNCATES strings longer than len, so a naive
    // lpad(total, 13) would silently shrink the total ~10× and blow up
    // every rescaled score; parity with the decimal distributed path
    // pins the exact shorter-only padding in microTotalToDouble.
    val dense = ((1 to 25).map(i => ("h1", s"x$i")) :+ ("h2", "x1"))
      .toDF("hub", "auth")
    val fast = PageRank.hits(dense, iters = 3)
    val dist = PageRank.hits(dense, iters = 3, broadcastStateUpTo = 0L)
    assert(rowsOf(fast) == rowsOf(dist))
  }

  test("labelPropagationAssignments: both paths agree") {
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).toDF("a", "b")
    val fast = Graph.labelPropagationAssignments(und, rounds = 3)
    val dist = Graph.labelPropagationAssignments(und, rounds = 3,
      stateUpTo = 0L)
    assert(rowsOf(fast) == rowsOf(dist))
  }

  test("nearDupClusters: driver union-find ≡ forced-distributed pregel, " +
      "including supplementary-plane string ids where UTF-16 and UTF-8 " +
      "orders diverge") {
    // U+FF61 sorts BELOW U+10000 in UTF-8 byte order (EF BD A1 < F0 90
    // 80 80 — what Spark's UTF8String min/least and the SQL oracle use)
    // but ABOVE it in java.lang.String order (code unit FF61 > surrogate
    // D800) — the exact divergence the fast path's min-per-component
    // comparison must avoid.
    val bmp = "z｡"
    val supp = "z𐀀" // U+10000
    val docs = Seq("a", "b", "c", "d", bmp, supp).toDF("doc_id")
    val pairs = Seq(("a", "b"), ("b", "c"), (bmp, supp)).toDF("a", "b")
    val fast = graft.dedup.Dedup.nearDupClusters(docs, "doc_id", pairs)
    val dist = graft.dedup.Dedup.nearDupClusters(docs, "doc_id", pairs,
      stateUpTo = 0L)
    assert(rowsOf(fast) == rowsOf(dist))
    // and the shared answer is Spark's order: U+FF61 is the cluster min
    val m = fast.filter(col("doc_id") === lit(supp))
      .collect()(0).getString(1)
    assert(m == bmp, s"fast path picked $m — UTF-16 order leaked in")
    // pair endpoints absent from allDocs ("b0"): both paths keep them
    // as graph vertices, so k and m (linked only through b0) share a
    // cluster whose id is the absent b0, and the output holds exactly
    // the allDocs ids
    val docs2 = Seq("k", "m", "x").toDF("doc_id")
    val pairs2 = Seq(("k", "b0"), ("b0", "m")).toDF("a", "b")
    val fast2 = graft.dedup.Dedup.nearDupClusters(docs2, "doc_id", pairs2)
    val dist2 = graft.dedup.Dedup.nearDupClusters(docs2, "doc_id", pairs2,
      stateUpTo = 0L)
    assert(rowsOf(fast2) == rowsOf(dist2))
    assert(rowsOf(fast2) == Seq("[k,b0]", "[m,b0]", "[x,x]"))
  }

  test("bfsHopHistogram: driver frontier ≡ spilled distributed loop") {
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (9L, 10L))
      .toDF("a", "b")
    val seeds = Seq(1L, 9L).toDF("v")
    val fast = Graph.bfsHopHistogram(und, seeds, maxHops = 3)
    val dist = Graph.bfsHopHistogram(und, seeds, maxHops = 3,
      stateUpTo = 0L)
    assert(rowsOf(fast) == rowsOf(dist))
  }

  test("cheapestPaths: driver min-plus ≡ spilled distributed loop") {
    val w = Seq((1L, 2L, 5L), (2L, 3L, 7L), (1L, 3L, 20L),
      (3L, 4L, 1L), (2L, 4L, 100L)).toDF("a", "b", "cost")
    val seeds = Seq(1L).toDF("v")
    val fast = Graph.cheapestPaths(w, seeds, rounds = 3, topK = 10)
    val dist = Graph.cheapestPaths(w, seeds, rounds = 3, topK = 10,
      stateUpTo = 0L)
    assert(rowsOf(fast) == rowsOf(dist))
  }

  test("bfsHopHistogram / cheapestPaths: MID-RUN spill (bounded collect " +
      "overflows after absorbing rounds) ≡ unbounded driver path") {
    // a star hub makes round 2's expansion outgrow a bound that round 1
    // fit under — the exact hazard the limit(stateUpTo+1) collect guards
    val star = (Seq((1L, 2L)) ++ (10L to 20L).map(v => (2L, v)))
      .toDF("a", "b")
    val seeds = Seq(1L).toDF("v")
    val fast = Graph.bfsHopHistogram(star, seeds, maxHops = 3)
    val mid = Graph.bfsHopHistogram(star, seeds, maxHops = 3,
      stateUpTo = 3L) // fits {1} + {2}, spills on the 11-node fan-out
    assert(rowsOf(fast) == rowsOf(mid))
    val w = (Seq((1L, 2L, 5L)) ++ (10L to 20L).map(v => (2L, v, 3L)))
      .toDF("a", "b", "cost")
    val fastW = Graph.cheapestPaths(w, seeds, rounds = 3, topK = 20)
    val midW = Graph.cheapestPaths(w, seeds, rounds = 3, topK = 20,
      stateUpTo = 3L)
    assert(rowsOf(fastW) == rowsOf(midW))
  }

  test("pathCentrality: driver-carried levels ≡ forced-distributed " +
      "(stateUpTo = 0) on the path, diamond, and a star mid-graph") {
    def rowsOf2(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val graphs = Seq(
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)),
      Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)),
      Seq((1L, 2L)) ++ (10L to 20L).map(v => (2L, v)))
    for (es <- graphs; hops <- Seq(1, 2, 3)) {
      val edges = es.toDF("a", "b")
      val pv = Seq(1L, 5L).toDF("v")
      val fast = Graph.pathCentrality(edges, pv, hops, topK = 30)
      val dist = Graph.pathCentrality(edges, pv, hops, topK = 30,
        stateUpTo = 0L)
      assert(rowsOf2(fast) == rowsOf2(dist), s"graph=$es hops=$hops")
    }
  }

  test("pathCentrality: a BACKWARD-sweep overflow (fan-out just beyond " +
      "the horizon) bails to the distributed path instead of a " +
      "non-deterministic limit() undercount") {
    // path 1–2–3 plus a 61-vertex fan on 3. Pivot 1, maxHops 2: the
    // forward state is 3 rows (levels {1},{2},{3}) and every forward
    // fetch is ≤ 2 rows — well inside stateUpTo = 40. But the backward
    // sweep at d = 1 aggregates over the PREDECESSORS of level-2
    // vertices, which includes the distance-3 fan the forward bound
    // never counted: 62 rows > 40. The old code limit(41)-collected
    // and silently dropped rows; the fix must fall back and still
    // produce the exact answer: traffic(2) = σ·g = 1·(1+1) = 2,
    // traffic(3) = 1·1 = 1, fan vertices beyond the horizon = absent.
    val es = Seq((1L, 2L), (2L, 3L)) ++ (100L to 160L).map(f => (3L, f))
    val edges = es.toDF("a", "b")
    val pv = Seq(1L).toDF("v")
    val got = Graph.pathCentrality(edges, pv, maxHops = 2, topK = 10,
      stateUpTo = 40L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((2L, 2L), (3L, 1L)), got.toString)
    val dist = Graph.pathCentrality(edges, pv, maxHops = 2, topK = 10,
      stateUpTo = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == dist)
  }

  test("quantileDisc: driver-routed grid ≡ distributed refinement") {
    // jagged values with ties, negatives, a heavy repeat
    val vals = Seq(5.0, -1.5, 5.0, 5.0, 2.25, 99.0, -1.5, 0.0, 7.0,
      7.0, 3.0, 3.0, 3.0, 42.0, 8.5)
    val df = vals.zipWithIndex
      .map { case (v, i) => (if (i % 2 == 0) "g1" else "g2", v) }
      .toDF("g", "v")
    val ps = Seq(0.25, 0.5, 0.75)
    val fast = Ranks.quantileDisc(df, "g", "v", ps)
    val dist = Ranks.quantileDisc(df, "g", "v", ps, maxDriverGrid = 0)
    assert(rowsOf(fast) == rowsOf(dist))
  }

  test("boostedSseStumps: driver grid selection ≡ distributed search") {
    val df = Seq((1.0, 10.0), (1.0, 12.0), (2.0, 30.0), (2.0, 31.0),
      (3.0, 5.0), (4.0, 50.0), (4.0, 55.0), (5.0, 6.0))
      .toDF("x", "y")
    val fast = Stump.boostedSseStumps(df, "x", "y", rounds = 2)
    val dist = Stump.boostedSseStumps(df, "x", "y", rounds = 2,
      maxDriverGrid = 0)
    assert(rowsOf(fast) == rowsOf(dist))
  }
}
