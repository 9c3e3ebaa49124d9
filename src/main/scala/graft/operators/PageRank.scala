package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, StructField,
  StructType}

import Ckpt.CkptOps

/** Fixed-iteration PageRank (Page et al. 1999) as iterative DataFrame
  * algebra — the Pregel-lite shape, tuned so an iteration never moves
  * the edge corpus:
  *
  *  - The static relation (edges FUSED with out-degree — one setup
  *    join, not one per iteration) is partitioned ONCE and cached by
  *    [[Iterate.cached]]: keyed by the GROUP BY column on the
  *    broadcast-state path (the join is map-side there) and by the
  *    JOIN key on the co-partitioned path. Per iteration only the
  *    nodes-sized rank relation moves: one shuffle in, one partial-
  *    agg'd contribution shuffle out.
  *  - When the node set is metadata-sized (`broadcastStateUpTo`,
  *    default 4M — a ~100 MB frame), the rank relation BROADCASTS
  *    instead, making the join map-side, and [[Iterate.rounds]]
  *    carries it on the driver. At 1000-executor scale with billions
  *    of nodes the bound disables itself and the co-partitioned path
  *    carries, lazily checkpointed per round.
  *
  * Cross-engine determinism: a node's incoming contribution sum is
  * order-dependent in doubles, so each contribution is rounded to
  * 12 dp and summed as DECIMAL(28,12) — exact in ANY order on any
  * engine — and each new rank is re-rounded to 12 dp. The oracle
  * (q230) replays the identical integer-decimal algebra. 12 dp keeps
  * ~6 significant digits at the fixture's 1/n ≈ 1e-5 rank floor; at
  * corpus scale raise the scale (or rescale ranks by n) so the fixed
  * point keeps resolution below 1/n.
  */
object PageRank {

  /** Ranks small enough to broadcast each iteration (rows). ~4M nodes
    * × ~25 B ≈ 100 MB — inside a healthy driver/executor budget; past
    * it the co-partitioned shuffle path takes over automatically. */
  val BroadcastStateUpTo: Long = 4L * 1000 * 1000

  private def maybeBroadcast(df: DataFrame, small: Boolean): DataFrame =
    if (small) broadcast(df) else df

  /** Loud guard for the every-node-has-an-out-edge precondition of
    * [[run]]/[[personalized]]: fails if any node appears only as a dst.
    * One distinct anti-join pass over the edge relation — deliberately
    * NOT run inside the operators (it would add a corpus shuffle per
    * call for inputs that are in-contract by construction, e.g. the
    * symmetrized graphs every caller in this repo builds); call it once
    * at ingest/spec time when the input's provenance is uncertain. */
  def requireOutEdgeClosed(edges: DataFrame): Unit = {
    val e0 = edges.select(col("src"), col("dst"))
    val dstOnly = e0.select(col("dst").as("v")).distinct()
      .join(e0.select(col("src").as("v")).distinct(), Seq("v"), "left_anti")
      .limit(5).collect().map(_.get(0))
    require(dstOnly.isEmpty,
      s"PageRank precondition violated: ${dstOnly.mkString(", ")}... " +
        "appear only as dst (no out-edge); such nodes would be silently " +
        "DROPPED from the ranking (the node set is DISTINCT src). " +
        "Symmetrize the graph or add self-loops first.")
  }

  /** `edges`: (src: string, dst: string), treated as given (pre-dedup
    * them if multiplicity is not intended). Every node must have at
    * least one out-edge (symmetrize bipartite graphs — this keeps the
    * dangling-mass redistribution term out of the algebra). OUT OF
    * CONTRACT the failure is silent: the node set is `DISTINCT src`,
    * so a dst-only node is dropped from the output (and its teleport
    * mass never minted) rather than ranked — callers with uncertain
    * inputs should gate on [[requireOutEdgeClosed]] once at ingest.
    * Returns (node, rank) after `iters` damped iterations from the
    * uniform start, rank rounded to `outDp` dp.
    *
    * [[runWeighted]] with every weight 1: bit-identical to a uniform
    * split, since `rank * 1.0 == rank` in IEEE doubles and the weight
    * sum IS the out-degree. */
  def run(edges: DataFrame, iters: Int, damping: Double,
      outDp: Int = 9,
      broadcastStateUpTo: Long = BroadcastStateUpTo,
      inEdgeClosed: Boolean = false): DataFrame =
    runWeighted(edges.select(col("src"), col("dst"), lit(1L).as("w")),
      iters, damping, outDp, broadcastStateUpTo, inEdgeClosed)

  /** Weighted PageRank: [[run]] with edge-proportional mass split —
    * a node's rank flows to each out-neighbour in proportion to the
    * edge WEIGHT (here typically the co-basket count), not uniformly:
    * contribution = rank · w / W(src) with W(src) = Σ out-weights.
    * The recsys-standard influence ranking when tie strength matters
    * (a 100×-co-purchased pair should carry 100× the vote of a
    * one-off). Same out-edge-closed precondition as [[run]]; weights
    * must be positive (W > 0 keeps the one division total). An empty
    * edge relation returns the empty (node, rank) frame. Input
    * (src, dst, w); returns (node, rank). */
  def runWeighted(edges: DataFrame, iters: Int, damping: Double,
      outDp: Int = 9,
      broadcastStateUpTo: Long = BroadcastStateUpTo,
      inEdgeClosed: Boolean = false): DataFrame = {
    require(iters >= 1, "iters >= 1")
    // ONE lazy checkpoint on the (narrow) edge relation: callers hand
    // symmetrized UNIONS of derived edge builds, and without truncation
    // here the build re-executes once per union branch per consumer
    // (weight sum, then the static copy) — a probe measured 4
    // edge-builds per run, ~70% of q230's wall clock.
    val e0 = edges.select(col("src"), col("dst"), col("w"))
      .graftCheckpoint(false)
    // Every node has an out-edge (the documented precondition — which
    // the oracle's `DISTINCT src` node set assumes too), so the weight
    // relation IS the node set: no separate src∪dst distinct pass.
    val wsum = e0.groupBy("src").agg(sum(col("w")).as("wsum"))
      .graftCheckpoint(false)
    val n = wsum.count() // metadata-scale action: one long
    // an empty edge relation has no fixed point to iterate: return the
    // empty (node, rank) frame — the SQL formulation's answer — rather
    // than tripping ANSI division on the 1/n teleport term
    if (n == 0)
      return wsum.select(col("src").as("node"),
        lit(0.0).cast("double").as("rank"))
    val bc = n <= broadcastStateUpTo
    val nodes = wsum.select(col("src").as("node"))
    val init = nodes.select(col("node"),
      round(lit(1.0) / n, 12).cast(DecimalType(28, 12)).as("rank"))
    val ranks = Iterate.cached(e0.join(maybeBroadcast(wsum, bc), "src")
        .repartition(col(if (bc) "dst" else "src"))) { ew =>
      // identical expression algebra on either path — results bit-equal
      def step(r: DataFrame): DataFrame = {
        val contrib = ew
          .join(maybeBroadcast(r.withColumnRenamed("node", "src"), bc),
            "src")
          .select(col("dst").as("node"),
            round(col("rank").cast("double") * col("w").cast("double")
              / col("wsum").cast("double"), 12)
              .cast(DecimalType(28, 12)).as("c"))
        val agg = contrib.groupBy("node").agg(sum("c").as("s"))
        // `inEdgeClosed`: the caller guarantees every node also has an
        // IN-edge (true by construction for the symmetrized unions
        // every caller in this repo builds) — then the aggregate's key
        // set IS the node set and the nodes-join is an identity: skip
        // it (one join fewer per iteration plan; parity pinned in
        // FallbackParitySpec). Without the guarantee keep the left join
        // so an isolated src-only node degrades to the teleport term.
        (if (inEdgeClosed) agg
         else nodes.join(agg, Seq("node"), "left"))
          .select(col("node"),
            round(lit(1.0 - damping) / n +
              lit(damping) * coalesce(col("s").cast("double"), lit(0.0)),
              12).cast(DecimalType(28, 12)).as("rank"))
      }
      Iterate.rounds(init, iters, driverState = bc)(step)
    }
    ranks.select(col("node"),
      round(col("rank").cast("double"), outDp).as("rank"))
  }

  /** Personalized PageRank (random walk with restart): teleport mass
    * returns only to `seeds` instead of everywhere, so ranks measure
    * proximity TO THE SEED SET — the "related items" / expansion
    * primitive. Same fixed-point decimal algebra and iteration shape
    * as [[run]] (the oracle unrolls it bit-for-bit); seeds are
    * broadcast, iteration cost unchanged. `seeds` must have a `node`
    * column and be a subset of the graph's nodes — "node" meaning a
    * DISTINCT src ([[run]]'s out-edge contract): a dst-only seed is
    * out of contract and fails the ≥1-seed require loudly rather than
    * being ranked; gate uncertain inputs on [[requireOutEdgeClosed]]. */
  def personalized(edges: DataFrame, seeds: DataFrame, iters: Int,
      damping: Double, outDp: Int = 9,
      broadcastStateUpTo: Long = BroadcastStateUpTo): DataFrame = {
    require(iters >= 1, "iters >= 1")
    // one lazy edge checkpoint; degree relation = node set — see
    // [[runWeighted]] for both arguments
    val e0 = edges.select(col("src"), col("dst")).graftCheckpoint(false)
    val deg = e0.groupBy("src").agg(count(lit(1)).as("deg"))
      .graftCheckpoint(false)
    val nodes = deg.select(col("src").as("node"))
      .join(broadcast(seeds.select(col("node")).distinct()
        .withColumn("__seed", lit(1L))), Seq("node"), "left")
      .select(col("node"), coalesce(col("__seed"), lit(0L)).as("seed"))
      .graftCheckpoint(false)
    val counts = nodes.agg(count(lit(1)), sum(col("seed"))).head()
    val n = counts.getLong(0)
    // an empty graph sums seed over zero rows → null: surface the
    // contract violation loudly instead of a NULL-row accessor error
    val nSeeds = if (counts.isNullAt(1)) 0L else counts.getLong(1)
    require(nSeeds >= 1, "at least one seed must be a graph node")
    val bc = n <= broadcastStateUpTo
    val teleport = round(col("seed").cast("double") * (1.0 - damping)
      / nSeeds, 12)
    val init = nodes.select(col("node"), col("seed"),
      round(col("seed").cast("double") / nSeeds, 12)
        .cast(DecimalType(28, 12)).as("rank"))
    val ranks = Iterate.cached(e0.join(maybeBroadcast(deg, bc), "src")
        .repartition(col(if (bc) "dst" else "src"))) { ew =>
      def step(r: DataFrame): DataFrame = {
        val contrib = ew
          .join(maybeBroadcast(
            r.select(col("node").as("src"), col("rank")), bc), "src")
          .select(col("dst").as("node"),
            round(col("rank").cast("double") / col("deg").cast("double"),
              12).cast(DecimalType(28, 12)).as("c"))
        nodes
          .join(contrib.groupBy("node").agg(sum("c").as("s")),
            Seq("node"), "left")
          .select(col("node"), col("seed"),
            round(teleport +
              lit(damping) * coalesce(col("s").cast("double"), lit(0.0)),
              12).cast(DecimalType(28, 12)).as("rank"))
      }
      Iterate.rounds(init, iters, driverState = bc)(step)
    }
    ranks.select(col("node"),
      round(col("rank").cast("double"), outDp).as("rank"))
  }

  /** HITS (Kleinberg 1999) on a BIPARTITE edge list (hub, auth) —
    * mutual reinforcement: good hubs point at good authorities and
    * vice versa. The natural ranking for two-sided relations
    * (buyers↔products, queries↔documents) where PageRank's
    * single-role walk loses the distinction. Sum-normalized variant
    * (L1 instead of L2): normalization totals are DECIMAL-exact, so
    * the same fixed-point rounding discipline as [[run]] applies and
    * the oracle unrolls bit-for-bit. The edge list is partitioned
    * once per direction (hub-keyed and auth-keyed copies — each
    * half-iteration joins on a different key); score relations
    * broadcast below the state threshold. Returns authority scores
    * (node, auth) rounded to `outDp`. */
  def hits(edges: DataFrame, iters: Int, outDp: Int = 9,
      broadcastStateUpTo: Long = BroadcastStateUpTo): DataFrame = {
    require(iters >= 1)
    // raw (pre-distinct) edge projection, checkpointed once so the
    // caller's edge build runs once, not once per copy
    val e0 = edges.select(col("hub"), col("auth")).graftCheckpoint(false)
    // Two DEDUPED edge copies, one per key: the broadcast path groups
    // each half-iteration by its copy's key (2 one-time shuffles buy
    // 2·iters saved ones); the distributed path joins on it. The
    // DISTINCT rides inside each copy's shuffle: hashpartitioning(hub)
    // satisfies the (hub, auth) dedup clustering, so dropDuplicates is
    // a local pass — no standalone distinct stage.
    Iterate.cached(
        e0.repartition(col("hub")).dropDuplicates("hub", "auth"),
        e0.repartition(col("auth")).dropDuplicates("hub", "auth")) {
      (eByHub, eByAuth) =>
        // hub relation off the hub-partitioned copy: distinct needs no
        // further exchange
        val hubs = eByHub.select(col("hub")).distinct()
          .graftCheckpoint(false)
        val nh = hubs.count()
        // empty edge relation: no hubs to normalize over — return the
        // empty (node, auth) frame like the SQL formulation would
        if (nh == 0)
          e0.sparkSession.createDataFrame(
            java.util.Collections.emptyList[Row](),
            StructType(Seq(StructField("node", e0.schema("auth").dataType),
              StructField("auth", DoubleType, nullable = false))))
        else if (nh <= broadcastStateUpTo)
          hitsBroadcast(eByHub, eByAuth, hubs, nh, iters, outDp)
        else hitsDistributed(eByHub, eByAuth, hubs, nh, iters, outDp)
    }
  }

  /** Broadcast-state HITS: state carried as SCALED LONGS (micro =
    * score × 1e12) so the per-EDGE sums are codegen'd long sums
    * instead of per-row BigDecimal; the decimal round-trip is confined
    * to the per-NODE rescale boundary. Bit-parity with the decimal
    * path (pinned by FallbackParitySpec):
    *  - a per-node sum of 12-dp decimals k·1e-12 IS (Σk)·1e-12 — the
    *    identical integer, in any order;
    *  - per-node score sums never exceed the normalized total 1e12 <
    *    2^53, so long→double / 1e12 is the correctly-rounded double of
    *    k/1e12 — the same value DECIMAL::DOUBLE produces;
    *  - the rescale TOTAL can exceed 2^53 (it is bounded by max hub
    *    degree × 1e12), so it converts through its exact decimal
    *    STRING — the oracle's own ::VARCHAR::DOUBLE move — which is
    *    correctly rounded at any magnitude. The long total overflows
    *    only past a ~9.2M-degree hub carrying ~all score mass; such
    *    graphs exceed the broadcast bound in practice (and the
    *    distributed decimal path is the documented tool there). */
  private def hitsBroadcast(eByHub: DataFrame, eByAuth: DataFrame,
      hubs: DataFrame, nh: Long, iters: Int, outDp: Int): DataFrame = {
    val micro = 1000000000000L
    def toMicro(dec12: org.apache.spark.sql.Column) =
      (dec12 * lit(micro)).cast("long")
    def microToDouble(c: org.apache.spark.sql.Column) =
      c.cast("double") / lit(micro.toDouble)
    def microTotalToDouble(c: org.apache.spark.sql.Column) = {
      // exact decimal string of k·1e-12, then one correctly-rounded
      // parse — built by POSITION (Spark's `/` on longs is double
      // division, which would lose exactness past 2^53). Pad ONLY
      // when shorter than 13: Spark's lpad TRUNCATES longer strings
      // to len, which would corrupt any total ≥ 1e13 (raw score
      // total ≥ 10 — in-domain whenever the score-weighted mean hub
      // out-degree reaches 10; parity-pinned in FallbackParitySpec).
      val s0 = c.cast("string")
      val s = when(length(s0) < 13, lpad(s0, 13, "0")).otherwise(s0)
      val n = length(s)
      concat(s.substr(lit(1), n - 12), lit("."), s.substr(n - 11, lit(12)))
        .cast("double")
    }
    def rescale(s12: org.apache.spark.sql.Column,
        t12: org.apache.spark.sql.Column) =
      toMicro(round(microToDouble(s12) / microTotalToDouble(t12), 12)
        .cast(DecimalType(28, 12)))
    val h0 = hubs.select(col("hub"),
      toMicro(round(lit(1.0) / nh, 12).cast(DecimalType(28, 12)))
        .as("hs12"))
    /** First half-iteration: authority scores from hub scores. The
      * group-by runs on the auth-partitioned copy — no exchange. */
    def authHalf(h: DataFrame): DataFrame = {
      val araw = eByAuth.join(broadcast(h), "hub")
        .groupBy("auth").agg(sum(col("hs12")).as("ar12"))
        .graftCheckpoint(false) // lazy: total + rescale share it
      val at = araw.agg(sum(col("ar12")).as("t12"))
      araw.crossJoin(broadcast(at))
        .select(col("auth"), rescale(col("ar12"), col("t12")).as("as12"))
    }
    /** Full iteration h → h: ONE job per round (the authority half
      * rides as a broadcast subplan inside the hub collect). */
    def fullRound(h: DataFrame): DataFrame = {
      val a = authHalf(h)
      val hraw = eByHub.join(broadcast(a), "auth")
        .groupBy("hub").agg(sum(col("as12")).as("hr12"))
        .graftCheckpoint(false)
      val ht = hraw.agg(sum(col("hr12")).as("t12"))
      hraw.crossJoin(broadcast(ht))
        .select(col("hub"), rescale(col("hr12"), col("t12")).as("hs12"))
    }
    // a_iters = authHalf(h_{iters-1}). Fully-fused fold: state never
    // round-trips the driver as external rows — each broadcast build
    // collects INTERNAL rows and materializes the previous round's
    // lazy checkpoint in the same pass (A/B at sf1: fold 9.95 s vs
    // driver-carried state k=2 10.56 s vs k=1 11.41 s, clean steal
    // brackets).
    val hFinal = Iterate.fold(h0, iters - 1)(fullRound)
    authHalf(hFinal).select(col("auth").as("node"),
      round(microToDouble(col("as12")), outDp).as("auth"))
  }

  /** Co-partitioned decimal HITS for node sets past the broadcast
    * bound: state stays distributed, sums are exact DECIMAL(28,12),
    * eager checkpoints fence the total/rescale sibling consumers. */
  private def hitsDistributed(eByHub: DataFrame, eByAuth: DataFrame,
      hubs: DataFrame, nh: Long, iters: Int, outDp: Int): DataFrame = {
    val h0 = hubs.select(col("hub"),
      round(lit(1.0) / nh, 12).cast(DecimalType(28, 12)).as("hs"))
    def authHalf(h: DataFrame): DataFrame = {
      val araw = eByHub.join(h, "hub")
        .groupBy("auth").agg(sum(col("hs")).as("ar")) // exact decimal
        .graftCheckpoint(true)
      val at = araw.agg(sum(col("ar")).as("t"))
      araw.crossJoin(broadcast(at))
        .select(col("auth"),
          round(col("ar").cast("double") / col("t").cast("double"), 12)
            .cast(DecimalType(28, 12)).as("as"))
        .graftCheckpoint(false)
    }
    def fullRound(h: DataFrame): DataFrame = {
      val a = authHalf(h)
      val hraw = eByAuth.join(a, "auth")
        .groupBy("hub").agg(sum(col("as")).as("hr"))
        .graftCheckpoint(true)
      val ht = hraw.agg(sum(col("hr")).as("t"))
      hraw.crossJoin(broadcast(ht))
        .select(col("hub"),
          round(col("hr").cast("double") / col("t").cast("double"), 12)
            .cast(DecimalType(28, 12)).as("hs"))
    }
    val hFinal = Iterate.fold(h0, iters - 1)(fullRound)
    authHalf(hFinal).select(col("auth").as("node"),
      round(col("as").cast("double"), outDp).as("auth"))
  }
}
