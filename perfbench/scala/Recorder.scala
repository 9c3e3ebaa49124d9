package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Task and job counters of one job group. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, shuffleWrite, shuffleRead, spill, recordsRead = 0L
  def toMap: Map[String, Any] = Map("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "task_run_ms" -> taskRunMs, "task_cpu_ns" -> taskCpuNs,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "records_read" -> recordsRead)
}

/** Spark counters per job group (the operation id the benchmark thread
  * set). Their sum is checked against Spark's status store, which its own
  * listener fills (see [[org.apache.spark.PerfbenchBus.totalsAfter]]). */
final class GroupListener extends SparkListener {
  val byGroup = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private def of(g: String) = byGroup.computeIfAbsent(g, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(Recorder.Untagged)
    e.stageIds.foreach(stageGroup.put(_, g))
    of(g).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    of(stageGroup.getOrDefault(e.stageInfo.stageId, Recorder.Untagged)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val c = of(stageGroup.getOrDefault(e.stageId, Recorder.Untagged))
    c.tasks += 1
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.recordsRead += m.inputMetrics.recordsRead
    }
  }
}

/** Catalyst phase times of every query execution, stamped with the
  * epoch millisecond its first phase started so run.py can assign it to
  * the operation whose window holds it. */
final class PhaseListener extends QueryExecutionListener {
  val phases = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val p = qe.tracker.phases
    if (p.nonEmpty) phases.add(Map(
      "start_epoch_ms" -> p.values.map(_.startTimeMs).min,
      "analysis_ms" -> p.get("analysis").map(_.durationMs).getOrElse(0L),
      "optimize_ms" -> p.get("optimization").map(_.durationMs).getOrElse(0L),
      "plan_ms" -> p.get("planning").map(_.durationMs).getOrElse(0L)))
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object Recorder {
  val Untagged = "-"
}

/** Operations, spans and counters of one run. Until [[startTracing]]
  * only operations are timed: no listener, no spans, no job tags. */
final class Recorder {
  @volatile var trace = false
  private val t0 = System.nanoTime
  val epoch0Ms: Long = System.currentTimeMillis
  def now: Double = (System.nanoTime - t0) / 1e6

  private final case class Span(id: Int, parent: Int, op: String, name: String,
      start: Double, end: Double)
  private final case class Op(id: String, kind: String, start: Double, end: Double,
      ok: Boolean, gcMs: Long, error: String, traced: Boolean)

  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
  private val nextSpan = new AtomicInteger(0)
  private val nextOp = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[(Int, String)]](() => Nil)
  private val last = new ThreadLocal[Op]
  private val notes = new ConcurrentHashMap[String, Map[String, Any]]()
  private var spark: SparkSession = _
  private var listener: GroupListener = _
  private var phases: PhaseListener = _
  private var mark: (Int, Long) = _
  private var totals: Map[String, Long] = Map.empty

  private var cores = 0

  def install(s: SparkSession): Unit = {
    spark = s
    cores = s.sparkContext.defaultParallelism
  }

  /** Register the listeners and record spans and job tags from now on.
    * The status store's watermark marks where the run totals start. */
  def startTracing(): Unit = {
    mark = org.apache.spark.PerfbenchBus.watermark(spark.sparkContext)
    listener = new GroupListener
    phases = new PhaseListener
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(phases)
    trace = true
  }

  /** A span around a call into one layer; a no-op when tracing is off. */
  def span[T](name: String)(body: => T): T =
    if (!trace) body
    else {
      val id = nextSpan.incrementAndGet()
      val outer = stack.get
      val (parent, op) = outer.headOption.getOrElse((0, ""))
      stack.set((id, op) :: outer)
      val s = now
      try body
      finally {
        stack.set(outer)
        spans.add(Span(id, parent, op, name, s, now))
      }
    }

  /** One timed operation. A throw marks it failed; the run goes on. */
  def op[T](kind: String)(body: => T): Option[T] = {
    val id = s"$kind#${nextOp.incrementAndGet()}"
    val traced = trace
    val sc = if (traced) spark.sparkContext else null
    if (sc != null) sc.setJobGroup(id, kind, interruptOnCancel = false)
    val outer = stack.get
    val spanId = if (traced) nextSpan.incrementAndGet() else 0
    if (traced) stack.set((spanId, id) :: outer)
    val gc0 = Host.gcMs()
    val s = now
    var err: String = null
    val out = try Some(body) catch {
      case e: Exception =>
        err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        None
    }
    val e = now
    if (traced) { stack.set(outer); spans.add(Span(spanId, 0, id, "op." + kind, s, e)) }
    if (sc != null) sc.clearJobGroup()
    val o = Op(id, kind, s, e, err == null, Host.gcMs() - gc0, err, traced)
    last.set(o)
    ops.add(o)
    out
  }

  /** Attach a fact to the last operation this thread finished. */
  def noteLast(k: String, v: Any): Unit =
    notes.merge(last.get.id, Map(k -> v), (a, b) => a ++ b)
  def lastOpMs: Double = { val o = last.get; o.end - o.start }

  /** Wait until the listeners have seen every event posted so far, and
    * read the run totals from the status store while the session lives. */
  def finish(): Unit = if (trace)
    totals = org.apache.spark.PerfbenchBus.totalsAfter(spark.sparkContext, mark)

  def dump(): Map[String, Any] = {
    val base = Map[String, Any](
      "epoch0_ms" -> epoch0Ms,
      "trace" -> trace,
      "cores" -> cores,
      "ops" -> ops.asScala.toVector.sortBy(_.start).map(o => Map(
        "id" -> o.id, "kind" -> o.kind, "start_ms" -> o.start, "end_ms" -> o.end,
        "ok" -> o.ok, "gc_ms" -> o.gcMs, "error" -> o.error, "traced" -> o.traced) ++
        Option(notes.get(o.id)).getOrElse(Map.empty)))
    if (!trace) base
    else base ++ Map(
      "spans" -> spans.asScala.toVector.sortBy(_.id).map(s => Map("id" -> s.id,
        "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end)),
      "groups" -> listener.byGroup.asScala.map { case (g, c) => g -> c.toMap }.toMap,
      "totals" -> totals,
      "phases" -> phases.phases.asScala.toVector)
  }
}
