package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD

import Ckpt.CkptOps

/** The shared machinery of the iterative operators (PageRank, HITS,
  * LPA, BFS, cheapest paths, path centrality, TextRank, near-dup
  * clusters). They keep two relations: a static corpus-scale one
  * (edges — distributed, partitioned once) and a per-round state one
  * (ranks/labels/frontiers — node-sized).
  *
  * [[cached]] owns the static relation's lifetime. The caller hands it
  * already partitioned: by the per-round GROUP BY key when the state
  * is broadcast (the join is map-side, so the round aggregation plans
  * with no exchange), by the JOIN key otherwise. It is `persist()`ed,
  * never checkpointed: a checkpoint's `LogicalRDD` surfaces as
  * UnknownPartitioning under AQE, and the planner then re-shuffles the
  * corpus every round (PlanSpec "HITS round" pins both the hazard and
  * the fixed shape). `InMemoryRelation` keeps the cached plan's
  * partitioning. A persisted plan stays pinned in the session
  * CacheManager until unpersisted — never ContextCleaner-collected —
  * so the bracket materializes the result past the cache and releases
  * it in a `finally`, also when a round throws.
  *
  * [[rounds]] is the fixed-round loop. While the state fits the
  * broadcast bound it is carried on the driver: the broadcast build
  * collects it every round anyway, so a driver array re-emitted as a
  * literal (LocalRelation) frame adds no scale risk, and a round costs
  * ONE job (the state collect) instead of ~7 (checkpoint
  * materializations, broadcast builds, AQE stage jobs). Past the bound
  * the state stays distributed and each round is lazily checkpointed
  * ([[fold]]): lineage truncates to O(1) per round and the
  * materialization fuses into the next action. Identical expression
  * algebra runs either way, so both paths are bit-equal
  * (FallbackParitySpec).
  */
object Iterate {

  /** Persist `static`, run `body` over it, return its result
    * materialized past the cache, and unpersist in a `finally`. */
  def cached(static: DataFrame)(body: DataFrame => DataFrame): DataFrame =
    bracket(Seq(static)) { case Seq(s) => body(s) }

  /** [[cached]] over two statics (e.g. one copy per join key). */
  def cached(a: DataFrame, b: DataFrame)
      (body: (DataFrame, DataFrame) => DataFrame): DataFrame =
    bracket(Seq(a, b)) { case Seq(x, y) => body(x, y) }

  private def bracket(statics: Seq[DataFrame])
      (body: Seq[DataFrame] => DataFrame): DataFrame = {
    val held = statics.map(_.persist())
    try {
      val out = body(held)
      // an unpersisted InMemoryRelation recomputes its child per
      // consumer: the result must not read the cache once released
      if (isMaterialized(out)) out else out.graftCheckpoint(true)
    } finally held.foreach(_.unpersist(blocking = false))
  }

  /** True when `df` reads only driver literals and materialized
    * checkpoints: every leaf of its plan — taken after cache
    * substitution, so a cached relation shows as an `InMemoryRelation`
    * leaf and fails the test — is a `LocalRelation` or a `LogicalRDD`
    * whose RDD is checkpointed. */
  private[operators] def isMaterialized(df: DataFrame): Boolean =
    df.queryExecution.withCachedData.collectLeaves().forall {
      case _: LocalRelation => true
      case r: LogicalRDD => r.rdd.isCheckpointed
      case _ => false
    }

  /** `n` rounds of `step` from `init`: driver-carried literal state when
    * `driverState` (the caller's state-bound check), else [[fold]].
    *
    * `stepsPerJob` composes k rounds into ONE submitted plan —
    * `step(step(…))` — before collecting: function composition, so the
    * algebra (and every hash) is identical, but the fixed per-action
    * cost (collect round-trip, literal re-plan, full Catalyst
    * optimization) is paid once per k rounds. Default 2, A/B-measured
    * best for PageRank at local[32] (6 lost to optimizer cost on the
    * bigger plans); LPA passes 1. */
  def rounds(init: DataFrame, n: Int, driverState: Boolean,
      stepsPerJob: Int = 2)(step: DataFrame => DataFrame): DataFrame =
    if (!driverState) fold(init, n)(step)
    else {
      require(stepsPerJob >= 1)
      val spark = init.sparkSession
      val schema = init.schema
      def literal(rows: Array[Row]): DataFrame =
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      var cur = init.collect()
      var done = 0
      while (done < n) {
        val k = math.min(stepsPerJob, n - done)
        cur = (1 to k).foldLeft(literal(cur))((s, _) => step(s)).collect()
        done += k
      }
      literal(cur)
    }

  /** `n` rounds of `step`, each lazily checkpointed. */
  def fold(init: DataFrame, n: Int)(step: DataFrame => DataFrame): DataFrame =
    (1 to n).foldLeft(init)((s, _) => step(s).graftCheckpoint(false))
}
