package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Ckpt.CkptOps

/** Iterative and neighborhood graph analytics on an undirected edge
  * list — k-core decomposition (who survives the "everyone here has ≥ k
  * connections" peel: the community-density filter) and Adamic–Adar
  * link prediction (which non-edges are most likely missing links: the
  * recommender/dedup-candidate score).
  *
  * Scale shapes:
  *  - k-core: degree-filter-repeat; each round is one groupBy + one
  *    semi-join, the frontier shrinks monotonically, and every round
  *    `localCheckpoint`s so the lineage stays O(1) instead of
  *    O(rounds). Convergence is detected by count (an action the loop
  *    pays anyway at its bounded round count).
  *  - Adamic–Adar: wedge generation via per-middle-vertex in-group
  *    pairs under a bounded collect cap (the repo's one pattern for
  *    pairs at scale — never a self-join on the raw edge list), scores
  *    from broadcast vocabulary-scale degree tables.
  */
object Graph {

  /** Canonical undirected edges (a < b, distinct) from a basket
    * relation: items co-occurring in a basket are linked. Baskets
    * larger than `cap` items are dropped (hot-basket guard, mirrored
    * in oracles as HAVING count <= cap). */
  def basketEdges(df: DataFrame, basketCol: String, itemCol: String,
      cap: Int = 10000): DataFrame =
    // no pre-distinct: boundedCollectSet has SET semantics (dedup in
    // the partial buffers), so a separate (basket, item) distinct
    // would only add a corpus shuffle. The hot-key cap still holds —
    // any partial with cap+1 DISTINCT elements forces the merged
    // distinct count past the cap whatever the partials' overlap.
    df.select(col(basketCol).as("basket"), col(itemCol).as("item"))
      .groupBy("basket")
      .agg(sort_array(org.apache.spark.sql.graftext.BoundedCollectAgg
        .boundedCollectSet(col("item"), cap)).as("items"))
      .filter(col("items").isNotNull && size(col("items")) >= 2)
      .select(explode(org.apache.spark.sql.graftext.PairsAscExpr
        .pairsAsc(col("items"))).as("p"))
      .select(col("p._1").as("a"), col("p._2").as("b"))
      .distinct()

  /** Weighted co-occurrence edges: like [[basketEdges]] but keeping
    * the co-basket COUNT per pair (a < b) plus the min-plus traversal
    * cost 10⁶ div n (popular links are cheap — the
    * [[cheapestPaths]] metric). Same hot-basket cap discipline.
    * Returns (a, b, n, cost). */
  def weightedBasketEdges(df: DataFrame, basketCol: String,
      itemCol: String, cap: Int = 10000): DataFrame =
    // no pre-distinct — see [[basketEdges]]
    df.select(col(basketCol).as("basket"), col(itemCol).as("item"))
      .groupBy("basket")
      .agg(sort_array(org.apache.spark.sql.graftext.BoundedCollectAgg
        .boundedCollectSet(col("item"), cap)).as("items"))
      .filter(col("items").isNotNull && size(col("items")) >= 2)
      .select(explode(org.apache.spark.sql.graftext.PairsAscExpr
        .pairsAsc(col("items"))).as("p"))
      .groupBy(col("p._1").as("a"), col("p._2").as("b"))
      .agg(count(lit(1)).as("n"))
      .withColumn("cost", expr("1000000 div n"))

  /** Vertices of the k-core (max subgraph where every vertex has
    * degree ≥ k): (vertex, core_degree). Runs the standard peel —
    * drop vertices with degree < k, drop incident edges, repeat —
    * until fixpoint or `maxIters` rounds (a converged peel is
    * idempotent, so an oracle unrolling exactly `maxIters` rounds
    * matches the early-stopped engine). */
  /** Canonicalize to a < b and dedup — both peels and wedge joins
    * assume one row per undirected edge regardless of input
    * orientation. */
  private def canon(edges: DataFrame): DataFrame =
    edges.select(least(col("a"), col("b")).as("a"),
      greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b")) // self-loops carry no core/wedge info
      .distinct()

  def kCore(edges: DataFrame, k: Int, maxIters: Int = 8): DataFrame = {
    require(k >= 1 && maxIters >= 1)
    // LAZY checkpoints: the per-round count() is the only consumer and
    // materializes the truncated plan itself — eager would schedule a
    // separate job per round for the same work.
    // AQE/checkpoint-partitioning audit (round 13): NO partitioning is
    // load-bearing here — the edge relation is PRUNED every round, so a
    // static partitioned copy (the HITS/LPA shape) has nothing to
    // amortize; each round's degree groupBy and semi-joins shuffle the
    // current (shrinking) edge set, which is the algorithm's cost.
    var e = canon(edges).graftCheckpoint(false)
    var nEdges = e.count()
    var it = 0
    var converged = false
    while (it < maxIters && !converged && nEdges > 0) {
      val deg = e.select(col("a").as("v"))
        .unionAll(e.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select("v")
      val pruned = e
        .join(keep.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("v", "b"), Seq("b"), "left_semi")
        .select("a", "b")
        .graftCheckpoint(false)
      val n2 = pruned.count()
      converged = n2 == nEdges
      e = pruned
      nEdges = n2
      it += 1
    }
    e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("core_degree"))
  }

  /** Adamic–Adar link prediction: for non-adjacent pairs (u, v),
    * score = Σ_{w ∈ N(u)∩N(v)} 1/ln(deg w), top `topK` by
    * (score desc, u, v). Wedges come from each middle vertex's
    * neighbor list (bounded by `cap`); existing edges are removed with
    * an anti-join; scores round to 6 dp BEFORE ranking so the order is
    * engine-exact. Degree-1 middles contribute nothing and are
    * excluded (1/ln(1) is a pole, and a degree-1 vertex forms no
    * wedge anyway). */
  /** Synchronous label propagation (Raghavan et al. 2007) community
    * detection, made deterministic: every vertex starts labelled with
    * its own id, and each round simultaneously adopts the label that is
    * most frequent among its neighbours, ties broken by smallest label.
    * All update math is integer (counts + min-struct argmax), so the
    * result is independent of partitioning and shuffle order — an
    * oracle unrolling exactly `rounds` rounds matches bit-for-bit.
    * Runs a FIXED `rounds` (no convergence probe): each round is one
    * join + two groupBys, `localCheckpoint`ed so lineage stays O(1).
    * Returns community sizes (label, n_members). */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame =
    labelPropagationAssignments(edges, rounds)
      .groupBy("label").agg(count(lit(1)).as("n_members"))

  /** Per-vertex community assignments (v, label) after `rounds`
    * synchronous LPA rounds — the relation [[labelPropagation]]
    * summarizes and [[modularity]] evaluates. */
  def labelPropagationAssignments(edges: DataFrame, rounds: Int,
      stateUpTo: Long = PageRank.BroadcastStateUpTo): DataFrame = {
    require(rounds >= 1)
    // checkpoint canon BEFORE the symmetrizing union: without it the
    // canonicalization (and the caller's whole edge build under it)
    // executes once per union branch when nbrs0 materializes
    val e = canon(edges).graftCheckpoint(false)
    val nbrs0 = e.select(col("a").as("v"), col("b").as("n"))
      .unionAll(e.select(col("b").as("v"), col("a").as("n")))
      .graftCheckpoint(false) // reused every round
    val labels = nbrs0.select(col("v")).distinct()
      .select(col("v"), col("v").as("label"))
      .graftCheckpoint(false)
    val bc = labels.count() <= stateUpTo
    // neighbour pairs partitioned ONCE — rounds move only the label
    // relation. Keyed by the GROUP key (v) under the broadcast bound
    // (v-partitioning makes BOTH per-round groupBys plan exchange-free
    // — v satisfies the (v,label) clustering), by the JOIN key (n) on
    // the co-partitioned path
    Iterate.cached(nbrs0.repartition(col(if (bc) "v" else "n"))) { nbrs =>
      def step(labels0: DataFrame): DataFrame = {
        val l = labels0.withColumnRenamed("v", "n")
        nbrs
          .join(if (bc) broadcast(l) else l, "n") // neighbour labels
          .groupBy("v", "label").agg(count(lit(1)).as("cnt"))
          .groupBy("v")
          // argmax by (cnt desc, label asc) as a min over a struct — a
          // k=1-bounded aggregate, partial-agg friendly, integer-exact
          .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l")))
            .as("m"))
          .select(col("v"), col("m.l").as("label"))
      }
      // stepsPerJob=1: composing 2 LPA rounds per job A/B-measured WORSE
      // (round 10: k=1 best-of 4.28 s vs k=2 4.99 s isolated, steal ≤ 2)
      // — the doubled join+double-groupBy plan costs the optimizer more
      // than the saved job latency, unlike the lighter PageRank rounds
      Iterate.rounds(labels, rounds, driverState = bc, stepsPerJob = 1)(step)
    }
  }

  /** Newman–Girvan modularity of a community assignment:
    * Q = Σ_c [m_c/m − (d_c/2m)²] — how much denser communities are
    * than a degree-preserving random graph (Q ≳ 0.3 = real
    * structure). The evaluation metric for [[labelPropagation]]'s
    * output — a partition can always be produced; Q says whether it
    * means anything. All inputs are exact integer counts (intra-edge
    * and degree sums per community); per-community terms are
    * identical doubles rounded to 9 dp and DECIMAL-summed (community
    * count is data-dependent). Returns one row
    * (n_edges, n_communities, modularity). */
  def modularity(edges: DataFrame, assignments: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val e = canon(edges).graftCheckpoint(false)
    // the assignment relation is nodes-sized; broadcast it when
    // metadata-sized so both label joins stay map-side over e
    val la0 = assignments.select(col("v"), col("label"))
      .graftCheckpoint(false)
    val la = if (la0.count() <= PageRank.BroadcastStateUpTo)
      broadcast(la0) else la0
    val withL = e
      .join(la.withColumnRenamed("v", "a")
        .withColumnRenamed("label", "la"), "a")
      .join(la.withColumnRenamed("v", "b")
        .withColumnRenamed("label", "lb"), "b")
    val m = broadcast(e.agg(count(lit(1)).as("m")))
    // ONE aggregation over the exploded endpoint relation (round-13
    // optimization): the old shape scanned the label-joined edges
    // THREE times (intra filter + two deg union branches) and paid a
    // deg⋈intra join. Each edge explodes into its two endpoint labels;
    // the intra flag rides only the FIRST endpoint so mc stays a plain
    // integer sum (each intra edge counted exactly once). dc = endpoint
    // count and mc = intra count per label are bit-identical to the
    // old relations, including labels with mc = 0.
    val stats = withL.select(explode(array(
        struct(col("la").as("label"),
          (col("la") === col("lb")).cast("long").as("ii")),
        struct(col("lb").as("label"), lit(0L).as("ii")))).as("ep"))
      .groupBy(col("ep.label").as("label"))
      .agg(count(lit(1)).as("dc"), sum(col("ep.ii")).as("mc"))
    val terms = stats.crossJoin(m)
      .select(col("m"),
        round(coalesce(col("mc"), lit(0L)).cast("double")
            / col("m").cast("double")
          - (col("dc").cast("double") / (lit(2.0) * col("m").cast("double")))
            * (col("dc").cast("double") / (lit(2.0) * col("m").cast("double"))),
          9).cast(DecimalType(28, 9)).as("t"))
    terms.groupBy("m")
      .agg(count(lit(1)).as("n_communities"),
        sum(col("t")).cast("double").as("q"))
      .select(col("m").as("n_edges"), col("n_communities"),
        round(col("q"), 6).as("modularity"))
  }

  /** Multi-source BFS hop histogram: how many vertices sit at graph
    * distance 0, 1, 2, … ≤ `maxHops` from the seed SET — the
    * reachability profile behind "how local is this catalog?" and
    * related-item radius checks. Classic frontier expansion: each
    * round joins ONLY the current frontier against the adjacency list
    * (frontier-bounded work, never the whole vertex set), anti-joins
    * the visited set, `localCheckpoint`s so lineage stays O(1).
    * All math is set-membership — no floats, engine-exact. Vertices
    * beyond `maxHops` (or disconnected) are absent, not ∞-rows.
    * Returns (dist, n_vertices) ordered by dist. `seeds` must be a
    * single-column (v) relation; seeds absent from the graph still
    * count at dist 0 (they are trivially at distance 0 from
    * themselves). */
  def bfsHopHistogram(edges: DataFrame, seeds: DataFrame, maxHops: Int,
      stateUpTo: Long = PageRank.BroadcastStateUpTo): DataFrame = {
    require(maxHops >= 1)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructType, StructField,
      IntegerType, LongType}
    val spark = edges.sparkSession
    val e = canon(edges).graftCheckpoint(false)
    val nbrs = e.select(col("a").as("v"), col("b").as("n"))
      .unionAll(e.select(col("b").as("v"), col("a").as("n")))
      .graftCheckpoint(false)
    val seed0 = seeds.select(col("v")).distinct()
    // Driver-carried visited/frontier while the VISITED set fits the
    // broadcast-state bound — a frontier expansion broadcasts the
    // frontier every round anyway, so the driver already held it; a
    // round is then ONE job (the neighbour-distinct collect) instead
    // of four eager checkpoints. The moment the visited set outgrows
    // the bound, state spills back to the distributed frontier loop
    // (literal frames seed it) and the checkpoint discipline resumes.
    val vSchema = seed0.schema
    def litFrame(vs: Iterable[Any]): DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(vs.map(Row(_)).toSeq: _*), vSchema)
    val visited = scala.collection.mutable.HashMap.empty[Any, Int]
    var frontier: Iterable[Any] =
      seed0.collect().iterator.map(_.get(0)).toSeq
    frontier.foreach(v => visited(v) = 0)
    var d = 1
    var spilled = false
    while (d <= maxHops && frontier.nonEmpty && !spilled) {
      // the collect itself is bounded at stateUpTo+1 (the quantileDisc /
      // boostedSseStumps discipline): one hub round's expansion can be
      // unbounded relative to the state bound, and the driver must never
      // hold it. Hitting the limit spills conservatively (the distinct
      // neighbour set alone outgrew the bound) — the distributed loop
      // recomputes round d exactly.
      val cand = nbrs.join(broadcast(litFrame(frontier)), "v")
        .select(col("n")).distinct()
        .limit((stateUpTo + 1).min(Int.MaxValue).toInt)
        .collect().map(_.get(0))
      val next = cand.filterNot(visited.contains)
      if (cand.length > stateUpTo ||
          visited.size.toLong + next.length > stateUpTo) {
        spilled = true // resume distributed below; round d not consumed
      } else {
        next.foreach(v => visited(v) = d)
        frontier = next
        d += 1
      }
    }
    if (spilled) {
      // v-partitioned adjacency copy for the distributed rounds; the
      // frontier is the only per-round exchange
      val visitedDf = Iterate.cached(nbrs.repartition(col("v"))) { nbrsByV =>
        var visitedDf = spark.createDataFrame(
          java.util.Arrays.asList(visited.iterator
            .map { case (v, dd) => Row(v, dd) }.toSeq: _*),
          StructType(vSchema.fields :+
            StructField("dist", IntegerType, nullable = false)))
          .graftCheckpoint(true)
        var frontierDf = litFrame(frontier)
        for (dd <- d to maxHops) {
          val next = frontierDf.join(nbrsByV, "v")
            .select(col("n").as("v")).distinct()
            .join(visitedDf, Seq("v"), "left_anti")
            .graftCheckpoint(true)
          visitedDf = visitedDf
            .unionAll(next.withColumn("dist", lit(dd)))
            .graftCheckpoint(true)
          frontierDf = next
        }
        visitedDf
      }
      visitedDf.groupBy("dist").agg(count(lit(1)).as("n_vertices"))
        .orderBy("dist")
    } else {
      // metadata-sized result: build the histogram as a literal
      val hist = visited.valuesIterator.toSeq.groupBy(identity)
        .map { case (dd, vs) => Row(dd, vs.size.toLong) }
        .toSeq.sortBy(_.getInt(0))
      spark.createDataFrame(java.util.Arrays.asList(hist: _*),
        StructType(Seq(StructField("dist", IntegerType, nullable = false),
          StructField("n_vertices", LongType, nullable = false))))
        .orderBy("dist")
    }
  }

  /** Bounded-round cheapest paths on a WEIGHTED co-occurrence graph —
    * min-plus (tropical) iteration, the third distributed-algebra
    * shape beside prefix sums and running max: edge cost is the
    * exact integer 10⁶ div co_count (popular links are cheap), and
    * d_i(v) = min(d_{i-1}(v), min_{(u,v)∈E} d_{i-1}(u) + cost) runs
    * `rounds` times — paths longer than `rounds` hops contribute
    * nothing, identically in both engines. ALL arithmetic is LONG
    * min/plus — engine-exact by construction. Edges must carry
    * (a, b, cost); traversal is undirected. Returns the `topK`
    * cheapest reachable vertices (cost asc, v asc), seed included at
    * cost 0. */
  def cheapestPaths(weighted: DataFrame, seeds: DataFrame, rounds: Int,
      topK: Int, stateUpTo: Long = PageRank.BroadcastStateUpTo)
      : DataFrame = {
    require(rounds >= 1 && topK >= 1)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructType, StructField, LongType}
    val spark = weighted.sparkSession
    val e = weighted.select(col("a"), col("b"), col("cost"))
      .graftCheckpoint(false)
    val arcs = e.select(col("a").as("u"), col("b").as("v"), col("cost"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v"),
        col("cost")))
      .graftCheckpoint(false)
    val seed0 = seeds.select(col("v")).distinct()
    val distSchema = StructType(seed0.schema.fields :+
      StructField("cost", LongType, nullable = false))
    // driver-carried tropical state (v → cost) under the broadcast
    // bound (the relaxation broadcasts it anyway — see bfsHopHistogram
    // for the rationale); a round is ONE min-plus aggregation job.
    // LONG min merges on the driver are the same exact algebra.
    val dist = scala.collection.mutable.HashMap.empty[Any, Long]
    seed0.collect().foreach(r => dist(r.get(0)) = 0L)
    def distLit(): DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(dist.iterator
        .map { case (v, c) => Row(v, c) }.toSeq: _*), distSchema)
    var r = 1
    var spilled = false
    while (r <= rounds && !spilled) {
      // bounded collect (see bfsHopHistogram): a hub round can relax an
      // unbounded vertex set; cap the fetch at stateUpTo+1 and spill on
      // overflow — a truncated min-plus frame must never be merged, and
      // under the limit the result is provably complete.
      val relaxed = arcs
        .join(broadcast(distLit().withColumnRenamed("v", "u")
          .withColumnRenamed("cost", "du")), "u")
        .select(col("v"), (col("du") + col("cost")).as("cost"))
        .groupBy("v").agg(min(col("cost")).as("cost"))
        .limit((stateUpTo + 1).min(Int.MaxValue).toInt)
        .collect()
      val fresh = relaxed.count(row =>
        !dist.contains(row.get(0)))
      if (relaxed.length > stateUpTo ||
          dist.size.toLong + fresh > stateUpTo) {
        spilled = true // round r not consumed; distributed loop resumes
      } else {
        relaxed.foreach { row =>
          val v = row.get(0); val c = row.getLong(1)
          if (dist.get(v).forall(c < _)) dist(v) = c
        }
        r += 1
      }
    }
    val dist0 = distLit().graftCheckpoint(true)
    val distDf =
      if (!spilled) dist0
      // u-partitioned arc copy for the distributed rounds; the tropical
      // state is the per-round exchange
      else Iterate.cached(arcs.repartition(col("u"))) { arcsByU =>
        (r to rounds).foldLeft(dist0) { (d, _) =>
          val relaxed = d.withColumnRenamed("v", "u")
            .withColumnRenamed("cost", "du")
            .join(arcsByU, "u")
            .select(col("v"), (col("du") + col("cost")).as("cost"))
          d.unionAll(relaxed)
            .groupBy("v").agg(min(col("cost")).as("cost"))
            .graftCheckpoint(true)
        }
      }
    distDf.orderBy(col("cost").asc, col("v").asc).limit(topK)
  }

  /** Degree assortativity: the Pearson correlation of the degrees at
    * the two ends of an edge (Newman 2002) — do hubs link to hubs?
    * Each undirected edge contributes both orientations (the standard
    * symmetric estimator). Every moment is a BIGINT sum (degrees are
    * cap-bounded, products fit a long at any corpus size that fits a
    * cluster), so the heavy pass is exact in any order; the one
    * fragile division happens on the final 1-row frame. Returns
    * (n_edges, r). */
  def assortativity(edges: DataFrame): DataFrame = {
    val e = canon(edges).graftCheckpoint(true)
    val nbrs = e.select(col("a").as("v"), col("b").as("n"))
      .unionAll(e.select(col("b").as("v"), col("a").as("n")))
    val deg = nbrs.groupBy("v").agg(count(lit(1)).as("deg"))
    val sym = nbrs
      .join(deg, "v").withColumnRenamed("deg", "dx")
      .join(deg.withColumnRenamed("v", "n"), "n").withColumnRenamed("deg", "dy")
    val num = col("m").cast("double") * col("sxy").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val den = col("m").cast("double") * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    sym.agg(count(lit(1)).as("m"),
        sum(col("dx")).as("sx"), sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dx") * col("dy")).as("sxy"))
      .select((col("m") / 2).cast("long").as("n_edges"),
        // a regular graph has zero degree variance: r is undefined —
        // report null rather than tripping ANSI division or faking 0
        when(den === 0.0, lit(null).cast("double"))
          .otherwise(round(num / den, 6)).as("r"))
  }

  def adamicAdar(edges: DataFrame, topK: Int, cap: Int = 10000,
      edgesCanonical: Boolean = false): DataFrame = {
    // edgesCanonical: caller guarantees (a < b, distinct, no loops) —
    // e.g. [[basketEdges]] output — so the canon re-shuffle (a full
    // extra distinct over the edge relation) is skipped (round-13
    // optimization; parity pinned in GraphSpec).
    val e = (if (edgesCanonical) edges.select(col("a"), col("b"))
      else canon(edges)).graftCheckpoint(true)
    val nbrs = e.select(col("a").as("w"), col("b").as("n"))
      .unionAll(e.select(col("b").as("w"), col("a").as("n")))
    // deg(w) is FUSED into the wedge aggregate (round-13 optimization:
    // one groupBy replaces groupBy + groupBy + join — a 2|E|-row
    // shuffle and a broadcast join removed from the plan). Exact, not
    // approximate: e is distinct canonical pairs, so each neighbor of
    // w appears exactly once in w's group and deg(w) = size(ns)
    // whenever ns materializes; on cap overflow boundedCollectSet
    // nulls the list and the filter drops w's wedges entirely — the
    // identical rows the old deg join never reached.
    val wedges = nbrs.groupBy("w")
      .agg(sort_array(org.apache.spark.sql.graftext.BoundedCollectAgg
        .boundedCollectSet(col("n"), cap)).as("ns"))
      .filter(col("ns").isNotNull && size(col("ns")) >= 2)
      .select((lit(1.0) / log(size(col("ns")).cast("double"))).as("wt"),
        explode(org.apache.spark.sql.graftext.PairsAscExpr
          .pairsAsc(col("ns"))).as("p"))
      .select(col("wt"), col("p._1").as("u"), col("p._2").as("v"))
    val scored = wedges
      .groupBy("u", "v")
      .agg(round(sum(col("wt")), 6).as("aa_score"))
    // existing-edge removal as a SHUFFLED HASH anti-join (guide §3.1):
    // the planner's SortMergeJoin sorts the wedge-pair side — the
    // largest relation in the query (Σ C(deg,2) distinct (u,v) keys,
    // 9M at sf0.1) — just to drop |E| rows. Building a per-partition
    // hash table on the EDGE side instead streams the scored side
    // unsorted: A/B 6.0 → 5.3 s best-of (12 alternating reps, steal
    // ≤ 22, parity exact). Scale note: the build side is |E|/P rows
    // per partition (the smaller relation here by construction —
    // wedge pairs dominate edges on any graph with deg ≥ 2), and AQE
    // skew-split applies to shuffled-hash joins as it does to SMJ.
    scored
      .join(e.withColumnRenamed("a", "u").withColumnRenamed("b", "v")
          .hint("shuffle_hash"),
        Seq("u", "v"), "left_anti")
      .orderBy(col("aa_score").desc, col("u"), col("v"))
      .limit(topK)
  }

  /** Pivot-sampled shortest-path traffic centrality — an INTEGER
    * betweenness surrogate (Brandes 2001's sampled-source scheme with
    * the rational dependency replaced by an exact path COUNT, so the
    * double-summation ulp/sign hazards of real-valued betweenness
    * never arise). For each pivot s, a level-synchronous forward BFS
    * computes sigma(s,v) = #shortest s→v paths (each level's sigma is
    * the sum of its BFS-DAG predecessors'); a backward sweep computes
    * g(s,v) = 1 + Σ_{w ∈ DAG-succ(v)} g(s,w) — the number of
    * shortest-path SUFFIXES starting at v, i.e. each endpoint t with
    * dist(s,t) ≤ maxHops counts once. sigma·g is then the number of
    * shortest s→t paths (t within maxHops) that CONTAIN v, as an
    * interior vertex or as t itself, and
    *
    *   traffic(v) = Σ_{s ∈ pivots, v ≠ s} sigma(s,v) · g(s,v).
    *
    * All arithmetic is integer (DECIMAL(38,0) sums — sigma is
    * combinatorial and can outgrow a long on dense graphs), exact in
    * any aggregation order. Scale shape: state is |pivots| × reachable
    * rows keyed (s,v); every round is ONE shuffle on that key against
    * the once-checkpointed adjacency, both forward and backward;
    * nothing collects to the driver. maxHops bounds the unroll in both
    * engines identically. Returns topK (v, traffic) by traffic desc,
    * v asc; traffic is cast to long for the result frame. */
  def pathCentrality(edges: DataFrame, pivots: DataFrame, maxHops: Int,
      topK: Int, stateUpTo: Long = PageRank.BroadcastStateUpTo)
      : DataFrame = {
    require(maxHops >= 1 && topK >= 1)
    val e = canon(edges).graftCheckpoint(false)
    val nbrs = e.select(col("a").as("v"), col("b").as("n"))
      .unionAll(e.select(col("b").as("v"), col("a").as("n")))
      .graftCheckpoint(false)
    // Driver-carried (pivot, vertex) state while it fits the broadcast
    // bound — the bfsHopHistogram rationale: each round broadcasts the
    // frontier anyway, so carrying (s, v, sigma/g) as literal frames
    // makes a round ONE partial-agg collect job instead of a
    // shuffle-join-shuffle chain. Every collect is bounded at
    // stateUpTo + 1; on overflow the DISTRIBUTED implementation below
    // reruns from the pivots (unlike the mid-run spills of
    // bfsHopHistogram there are two interleaved sweeps of per-level
    // state to hand over; restarting re-pays at most maxHops bounded
    // rounds and keeps the handover trivially correct).
    pathCentralityDriver(nbrs, pivots, maxHops, topK, stateUpTo)
      .getOrElse(pathCentralityDist(nbrs, pivots, maxHops, topK))
  }

  /** Bounded driver-state fast path; None = state outgrew the bound. */
  private def pathCentralityDriver(nbrs: DataFrame, pivots: DataFrame,
      maxHops: Int, topK: Int, stateUpTo: Long): Option[DataFrame] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructType, StructField,
      LongType, DecimalType}
    val spark = nbrs.sparkSession
    // the literal-frame schema below is LONG-keyed; non-long vertex
    // types take the generic distributed path
    if (nbrs.schema("v").dataType != LongType) return None
    val d380 = DecimalType(38, 0)
    val lim = (stateUpTo + 1).min(Int.MaxValue).toInt
    val svSchema = StructType(Seq(
      StructField("s", LongType, nullable = false),
      StructField("v", LongType, nullable = false),
      StructField("x", d380, nullable = false)))
    def lit380(rows: Iterable[(Long, Long, BigInt)]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows.map { case
        (s, v, x) => Row(s, v, new java.math.BigDecimal(x.bigInteger))
      }.toSeq: _*), svSchema)
    val p0 = pivots.select(col("v").cast("long"))
      .distinct().limit(lim).collect().map(_.getLong(0))
    if (p0.length > stateUpTo) return None
    // forward: levels(d) = Map[(s,v) -> sigma]
    val levels = scala.collection.mutable.ArrayBuffer(
      p0.map(v => (v, v) -> BigInt(1)).toMap)
    val seen = scala.collection.mutable.HashSet[(Long, Long)](
      p0.map(v => (v, v)): _*)
    var total = p0.length.toLong
    for (_ <- 1 to maxHops) {
      val cand = nbrs
        .join(broadcast(lit380(levels.last.map { case ((s, v), sg) =>
          (s, v, sg) })), "v")
        .groupBy(col("s"), col("n"))
        .agg(sum(col("x")).cast(d380).as("x"))
        .limit(lim).collect()
      if (cand.length > stateUpTo) return None
      val next = cand.iterator.map(r => (r.getLong(0), r.getLong(1),
          BigInt(r.getDecimal(2).toBigInteger)))
        .filter(t => !seen.contains((t._1, t._2)))
        .map(t => (t._1, t._2) -> t._3).toMap
      total += next.size
      if (total > stateUpTo) return None
      next.keysIterator.foreach(seen += _)
      levels += next
    }
    // backward: g(maxHops) = 1; g(d) = 1 + Σ g(d+1) over edges — the
    // adjacency is corpus-scale, so each sweep is one bounded collect
    // of the per-predecessor partial sums; everything else is driver
    // arithmetic on the already-bounded level maps.
    val traffic = scala.collection.mutable.HashMap.empty[Long, BigInt]
    var g: Map[(Long, Long), BigInt] =
      levels(maxHops).map { case (k, _) => k -> BigInt(1) }
    def addContrib(d: Int, gd: Map[(Long, Long), BigInt]): Unit =
      gd.foreach { case ((s, v), gv) =>
        val t = levels(d)((s, v)) * gv
        traffic(v) = traffic.getOrElse(v, BigInt(0)) + t
      }
    addContrib(maxHops, g)
    for (d <- (maxHops - 1) to 1 by -1) {
      // the aggregate is keyed by (s, predecessor-of-a-level-(d+1)
      // vertex), which can include distance-(d+2) vertices the forward
      // sweep never counted against stateUpTo — so this collect can
      // exceed the bound even when the forward state fit. Mirror the
      // forward check: a full-to-the-limit fetch means possible
      // truncation, and limit() drops rows non-deterministically, so
      // bail to the distributed path instead of silently undercounting.
      val sums =
        if (g.isEmpty) Map.empty[(Long, Long), BigInt]
        else {
          val fetched = nbrs
            .join(broadcast(lit380(g.map { case ((s, w), gv) =>
              (s, w, gv) }).withColumnRenamed("v", "n")), "n")
            .groupBy(col("s"), col("v"))
            .agg(sum(col("x")).cast(d380).as("x"))
            .limit(lim).collect()
          if (fetched.length > stateUpTo) return None
          fetched.iterator.map(r => (r.getLong(0), r.getLong(1)) ->
            BigInt(r.getDecimal(2).toBigInteger)).toMap
        }
      g = levels(d).map { case (k, _) =>
        k -> (sums.getOrElse(k, BigInt(0)) + 1) }
      addContrib(d, g)
    }
    val outSchema = StructType(Seq(
      StructField("v", LongType, nullable = false),
      StructField("traffic", LongType, nullable = false)))
    // sigma is combinatorial and can outgrow a long; toLong would wrap
    // silently where the distributed path's DECIMAL(38,0)→long cast
    // fails loudly under ANSI. Bail to the distributed path so both
    // agree on overflow behavior (loud, never wrapped garbage).
    if (traffic.valuesIterator.exists(t => !t.isValidLong)) return None
    val top = traffic.toSeq
      .map { case (v, t) => (v, t.toLong) }
      .sortBy { case (v, t) => (-t, v) }.take(topK)
      .map { case (v, t) => Row(v, t) }
    Some(spark.createDataFrame(
      java.util.Arrays.asList(top: _*), outSchema))
  }

  /** Fully distributed path — identical algebra, any state size. */
  private def pathCentralityDist(nbrs: DataFrame, pivots: DataFrame,
      maxHops: Int, topK: Int): DataFrame = {
    val dec = "decimal(38,0)"
    // partitioned adjacency copies, one per sweep's join key: the
    // state relation is then the only per-round exchange, which is the
    // irreducible pregel cost (PlanSpec "iterative corpus joins" pin)
    Iterate.cached(nbrs.repartition(col("v")),
        nbrs.select(col("v").as("p"), col("n").as("w"))
          .repartition(col("w"))) { (nbrsByV, nbrsByN) =>
      val lvl0 = pivots.select(col("v")).distinct()
        .select(col("v").as("s"), col("v"), lit(1).cast(dec).as("sigma"))
        .graftCheckpoint(false)
      // forward: levels(d) = (s, v, sigma). No running visited set: in
      // an undirected BFS (per pivot s) a neighbour of a level-d vertex
      // sits at distance d−1, d, or d+1, so excluding just the LAST TWO
      // levels leaves exactly level d+1 — the anti-join input stays two
      // frontier-sized frames instead of an O(reachable) union chain
      // (one fewer checkpoint per round).
      val levels = scala.collection.mutable.ArrayBuffer(lvl0)
      for (d <- 1 to maxHops) {
        val seen =
          if (d == 1) lvl0.select("s", "v")
          else levels(d - 1).select("s", "v")
            .unionAll(levels(d - 2).select("s", "v"))
        val next = levels.last.join(nbrsByV, "v")
          .groupBy(col("s"), col("n"))
          .agg(sum(col("sigma")).cast(dec).as("sigma"))
          .withColumnRenamed("n", "v")
          .join(seen, Seq("s", "v"), "left_anti")
          .graftCheckpoint(false)
        levels += next
      }
      // backward: g(maxHops) = 1; g(d) = 1 + Σ g(d+1) over DAG edges.
      // An edge between a dist-d and a dist-(d+1) vertex IS a DAG edge
      // (BFS level property), so joining level(d) preds against the
      // level-(d+1) g-frame needs no explicit dist bookkeeping.
      var g = levels(maxHops)
        .select(col("s"), col("v"), col("sigma"), lit(1).cast(dec).as("g"))
        .graftCheckpoint(false)
      val contribs = scala.collection.mutable.ArrayBuffer(
        g.select(col("v"), (col("sigma") * col("g")).cast(dec).as("t")))
      for (d <- (maxHops - 1) to 1 by -1) {
        val sums = g.select(col("s"), col("v").as("w"), col("g"))
          .join(nbrsByN, "w")
          .groupBy(col("s"), col("p"))
          .agg(sum(col("g")).cast(dec).as("cg"))
          .withColumnRenamed("p", "v")
        g = levels(d).join(sums, Seq("s", "v"), "left_outer")
          .select(col("s"), col("v"), col("sigma"),
            (coalesce(col("cg"), lit(0).cast(dec)) + lit(1).cast(dec))
              .cast(dec).as("g"))
          .graftCheckpoint(false)
        contribs += g.select(col("v"),
          (col("sigma") * col("g")).cast(dec).as("t"))
      }
      contribs.reduce(_ unionAll _)
        .groupBy("v")
        .agg(sum(col("t")).cast(dec).cast("long").as("traffic"))
        .orderBy(col("traffic").desc, col("v").asc)
        .limit(topK)
    }
  }
}
