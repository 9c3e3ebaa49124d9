package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec
import graft.dedup.Dedup
import graft.text.TextAnalysis

/** The release contract of the iterative operators: after a call the
  * session CacheManager holds no entry, on the driver-state path and on
  * the forced-distributed path (bound 0, as FallbackParitySpec forces
  * it), and also when a round throws. A job listener pins how many
  * Spark jobs each call runs while its frame is built and when the
  * result is collected, so a change to the round machinery that adds
  * or drops a job fails here. */
class IterateSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private val jobs = new AtomicInteger
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
  }

  override def beforeAll(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.catalog.clearCache() // start from an empty CacheManager
  }

  override def afterAll(): Unit =
    spark.sparkContext.removeSparkListener(listener)

  private def cacheIsEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  private def jobsIn(f: => Unit): Int = {
    SpecBus.drain(spark.sparkContext)
    val before = jobs.get
    f
    SpecBus.drain(spark.sparkContext)
    jobs.get - before
  }

  /** (jobs while the frame is built, jobs to collect it) of one call. */
  private def measure(call: => DataFrame): (Int, Int) = {
    var df: DataFrame = null
    val build = jobsIn { df = call }
    assert(cacheIsEmpty, "the call left a cached relation in the session")
    val collect = jobsIn { df.collect() }
    assert(cacheIsEmpty)
    (build, collect)
  }

  private def edges = Seq(
    ("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("c", "a"),
    ("a", "c"), ("c", "d"), ("d", "c"), ("d", "a"), ("a", "d"),
    ("e", "a"), ("a", "e")
  ).toDF("src", "dst")
  private def und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
    (4L, 6L), (3L, 4L)).toDF("a", "b")
  private def chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (9L, 10L))
    .toDF("a", "b")

  /** Each site, called with its state bound: None = the default. */
  private val sites: Seq[(String, Option[Long] => DataFrame)] = Seq(
    "PageRank.run" -> (b => PageRank.run(edges, iters = 3, damping = 0.85,
      broadcastStateUpTo = b.getOrElse(PageRank.BroadcastStateUpTo))),
    "PageRank.runWeighted" -> (b => PageRank.runWeighted(
      edges.withColumn("w",
        (length(col("src")) + length(col("dst"))).cast("long")),
      iters = 3, damping = 0.85,
      broadcastStateUpTo = b.getOrElse(PageRank.BroadcastStateUpTo))),
    "PageRank.personalized" -> (b => PageRank.personalized(edges,
      Seq("a").toDF("node"), iters = 3, damping = 0.85,
      broadcastStateUpTo = b.getOrElse(PageRank.BroadcastStateUpTo))),
    "PageRank.hits" -> (b => PageRank.hits(
      Seq(("h1", "x"), ("h1", "y"), ("h2", "y"), ("h3", "y"), ("h3", "z"))
        .toDF("hub", "auth"), iters = 3,
      broadcastStateUpTo = b.getOrElse(PageRank.BroadcastStateUpTo))),
    "Graph.labelPropagationAssignments" -> (b =>
      Graph.labelPropagationAssignments(und, rounds = 3,
        stateUpTo = b.getOrElse(PageRank.BroadcastStateUpTo))),
    "Graph.bfsHopHistogram" -> (b => Graph.bfsHopHistogram(chain,
      Seq(1L, 9L).toDF("v"), maxHops = 3,
      stateUpTo = b.getOrElse(PageRank.BroadcastStateUpTo))),
    "Graph.cheapestPaths" -> (b => Graph.cheapestPaths(
      Seq((1L, 2L, 5L), (2L, 3L, 7L), (1L, 3L, 20L), (3L, 4L, 1L),
        (2L, 4L, 100L)).toDF("a", "b", "cost"),
      Seq(1L).toDF("v"), rounds = 3, topK = 10,
      stateUpTo = b.getOrElse(PageRank.BroadcastStateUpTo))),
    "Graph.pathCentrality" -> (b => Graph.pathCentrality(chain,
      Seq(1L, 5L).toDF("v"), maxHops = 2, topK = 30,
      stateUpTo = b.getOrElse(PageRank.BroadcastStateUpTo))),
    // one path: textRank has no state bound
    "TextAnalysis.textRank" -> (_ => TextAnalysis.textRank(
      (1 to 6).map(i => (i.toLong, s"hub leaf$i hub")).toDF("doc_id", "text"),
      "doc_id", "text")),
    "Dedup.nearDupClusters" -> (b => Dedup.nearDupClusters(
      Seq("a", "b", "c", "d", "e").toDF("doc_id"), "doc_id",
      Seq(("a", "b"), ("b", "c"), ("d", "e")).toDF("a", "b"),
      stateUpTo = b.getOrElse(Dedup.NearDupStateUpTo)))
  )

  /** Jobs per call as (build, collect) on the default path and on the
    * forced-distributed path, as measured on the per-operator round
    * loops that [[Iterate]] replaced. */
  private val expectedJobs: Map[String, ((Int, Int), (Int, Int))] = Map(
    "PageRank.run" -> ((16, 0), (19, 1)),
    "PageRank.runWeighted" -> ((16, 0), (19, 1)),
    "PageRank.personalized" -> ((17, 0), (20, 1)),
    "PageRank.hits" -> ((22, 1), (32, 1)),
    "Graph.labelPropagationAssignments" -> ((13, 0), (16, 1)),
    "Graph.bfsHopHistogram" -> ((12, 3), (24, 4)),
    "Graph.cheapestPaths" -> ((10, 1), (15, 1)),
    "Graph.pathCentrality" -> ((12, 0), (18, 1)),
    "TextAnalysis.textRank" -> ((18, 1), (18, 1)),
    "Dedup.nearDupClusters" -> ((3, 2), (23, 2)))

  for ((name, call) <- sites)
    test(s"$name releases its cached statics and keeps its job count, " +
        "on the default and the forced-distributed path") {
      val fast = measure(call(None))
      val dist = measure(call(Some(0L)))
      info(s"jobs $name default=$fast forced=$dist")
      assert((fast, dist) == expectedJobs(name))
    }

  test("Iterate.cached releases its statics when a round throws, on " +
      "both round paths") {
    val static = (1L to 20L).map(i => (i % 5, i)).toDF("k", "v")
      .repartition(col("k"))
    val init = (0L until 5L).map(k => (k, 0L)).toDF("k", "s")
    for (driverState <- Seq(true, false)) {
      val ex = intercept[IllegalStateException] {
        Iterate.cached(static) { s =>
          var round = 0
          Iterate.rounds(init, 3, driverState) { st =>
            round += 1
            if (round == 2) throw new IllegalStateException("round 2")
            st.join(s.groupBy("k").agg(sum("v").as("t")), "k")
              .select(col("k"), (col("s") + col("t")).as("s"))
          }
        }
      }
      assert(ex.getMessage == "round 2")
      assert(cacheIsEmpty, s"driverState=$driverState leaked the static")
    }
  }

  test("Iterate.isMaterialized: literals and eager checkpoints are, " +
      "lazy checkpoints and cached plans are not; the bracket adds a " +
      "job only for the latter") {
    import Ckpt.CkptOps
    val lit0 = Seq((1L, 2L)).toDF("a", "b")
    assert(Iterate.isMaterialized(lit0.select(col("a"))))
    val eager = spark.range(10).toDF("a").graftCheckpoint(true)
    assert(Iterate.isMaterialized(eager.filter(col("a") > 3)))
    assert(!Iterate.isMaterialized(spark.range(10).toDF("a")
      .graftCheckpoint(false)))
    // a plan over a cached relation is not, even when its own leaves
    // are literals: it would recompute once the cache is released
    val static = lit0.repartition(col("a"))
    assert(jobsIn(Iterate.cached(static) { s =>
      assert(!Iterate.isMaterialized(s.filter(col("a") > 0)))
      lit0
    }) == 0)
    assert(jobsIn(Iterate.cached(static)(s => s.filter(col("a") > 0))) > 0)
    assert(cacheIsEmpty)
  }
}
