package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32") // contract: local[32]
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    // extra confs for local profiling runs: "k=v;k=v" (driver never sets it)
    sys.env.get("SPARK_GRAFT_CONF").foreach(
      _.split(";").map(_.trim).filter(_.nonEmpty).foreach { kv =>
        val eq = kv.indexOf('=')
        require(eq > 0, s"SPARK_GRAFT_CONF segment '$kv' is not key=value")
        builder.config(kv.take(eq), kv.drop(eq + 1))
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up: exercise scan + shuffle + codegen paths once so per-query
    // timings measure steady state, not one-time JVM/codegen startup.
    Tables.lineitem(spark, sfDir).groupBy("l_returnflag").count().count()
    SparkEntry.prepare(spark, sfDir) // one-time search-index build
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    // Hypervisor-steal telemetry: cumulative steal ticks (field 8 of
    // /proc/stat's cpu line, 100 Hz summed over CPUs). This VM's steal
    // bursts inflate identical runs 2-4x, so every timing carries its
    // steal bracket — a query whose (after - before) is large is a
    // contaminated measurement, not a regression; read it against the
    // best-of floors in BENCH_FLOORS.json.
    def stealTicks(): Long = try {
      val cpu = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu ")).get.trim.split("\\s+")
      cpu(8).toLong // cpu user nice system idle iowait irq softirq steal
    } catch { case _: Throwable => -1L }
    // optional comma-separated filter for local profiling runs; the
    // driver never sets it, so the contract run covers every query
    val only = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // GC-time telemetry (diagnostic, additive): cumulative collector
    // wall across all beans. A query whose (after - before) is large is
    // paying collection debt — often debris from PRIOR queries (the
    // measured sweep-vs-isolated gap of round 13), so per-query GC
    // brackets separate "this query's plan is slow" from "the suite's
    // heap was churning here", the same way the steal brackets separate
    // hypervisor noise.
    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime.max(0L)).sum
    }
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val steal0 = stealTicks()
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      // noop sink, NOT count(): count() lets Catalyst prune the projected
      // columns, so scalar-heavy queries would measure a near-empty plan.
      val ok = try {
        fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        failed += name; false
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val stealQ = { val s1 = stealTicks()
        if (steal0 < 0 || s1 < 0) -1L else s1 - steal0 }
      val gcQ = gcMillis() - gc0
      // localCheckpoint/cache blocks from THIS query are dead once the
      // sink write returned (cross-query state is disk parquet / driver
      // objects, never cached RDDs) — drop them now instead of letting
      // 315 queries' worth of blocks pile onto one heap (the measured
      // ~45% gap between the suite total and per-query floors is mostly
      // this memory pressure + GC)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      // a failed query must not silently shrink the totals: report -1
      // wall and -1 GC
      (name, if (ok) dt else -1.0, stealQ, if (ok) gcQ else -1L)
    }
    def dict(entries: Seq[(String, Double)]): String = entries
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val totalSteal = results.map(_._3).filter(_ >= 0).sum
    val stealJson = results.map { case (k, _, s, _) => s"\"$k\":$s" }
      .mkString("{", ",", "}")
    // failed queries carry -1 GC, as they carry -1 wall
    val totalGc = results.map(_._4).filter(_ >= 0).sum
    val gcJson = results.map { case (k, _, _, g) => s"\"$k\":$g" }
      .mkString("{", ",", "}")
    val timed = results.map { case (k, v, _, _) => k -> v }
    val failedJson = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // The harness keeps only a ~2 KB TAIL of stdout: a full 186-query
    // dict on the contract line gets cut mid-JSON and parses as null.
    // So the complete per-query dict goes to a FILE (committed with the
    // repo — round-over-round regression checks read it), and the
    // printed line stays parseable by carrying the slowest queries only.
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${dict(timed)},"steal_ticks":$stealJson,"steal_total":$totalSteal,"gc_ms":$gcJson,"gc_total_ms":$totalGc,"failed":$failedJson,"sf":"$sfDir"}"""
    // filtered profiling runs must NOT clobber the committed full-sweep
    // artifact (a 1-query file would poison round-over-round checks)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isDefined) "/tmp/BENCH_FILTERED_LATEST.json"
      else "BENCH_FULL_LATEST.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), fullJson)
    val slowest = timed.filter(_._2 >= 0).sortBy(-_._2).take(30)
      .map { case (k, v) => k -> math.rint(v * 1000) / 1000 }
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"queries":${dict(slowest)},"steal_total":$totalSteal,"failed":$failedJson,"times_file":"$outFile","sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
