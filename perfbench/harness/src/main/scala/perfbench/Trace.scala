package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation of a workload's loop (wall-clock millis for aligning
  * with listener events, nanos for the latency itself). */
final case class Op(kind: String, startMs: Long, endMs: Long, nanos: Long)

/** Spans around the benchmark's calls into the program, plus the listeners
  * that see Spark's side of the same calls. Everything stays in memory and
  * is written out when the run ends. With tracing off, `span` is a plain
  * call and no listener is attached. */
object Trace {

  final case class Span(id: Long, parent: Long, name: String,
      startMs: Long, startNs: Long, endNs: Long)

  @volatile var enabled = false
  var runId = ""
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.add(Span(id, parent, name, ms, t0, t1))
      }
    }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  def reset(): Unit = { spans.clear(); jobs.reset(); plans.reset(); stream.reset() }

  /** Mean seconds per span of `name` (0 when it never ran). */
  def meanSpan(name: String): Double = {
    val xs = allSpans.filter(_.name == name)
    if (xs.isEmpty) 0.0 else xs.map(s => (s.endNs - s.startNs) / 1e9).sum / xs.size
  }

  /** Mean self time (span minus the part its child spans cover). */
  def selfTimes: Map[String, Double] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (n, xs) =>
      n -> xs.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))
        (s.endNs - s.startNs - covered) / 1e9
      }.sum / xs.size
    }
  }

  /** Total length of the union of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + math.max(0L, curE - curS)
  }

  // ------------------------------------------------------------ Spark jobs

  final class JobListener extends SparkListener {
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
    val stages = new AtomicLong()
    val tasks = new AtomicLong()
    val runMs = new AtomicLong()
    val cpuNs = new AtomicLong()
    val gcMs = new AtomicLong()
    val inputBytes = new AtomicLong()
    val shuffleWrite = new AtomicLong()
    val shuffleRead = new AtomicLong()
    val fetchWaitMs = new AtomicLong()
    val spillBytes = new AtomicLong()

    def reset(): Unit = {
      jobStart.clear(); jobIntervals.clear()
      Seq(stages, tasks, runMs, cpuNs, gcMs, inputBytes, shuffleWrite,
        shuffleRead, fetchWaitMs, spillBytes).foreach(_.set(0L))
    }
    def pending: Int = jobStart.size

    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStart.remove(e.jobId)
      jobIntervals.add((s, e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }

    /** Wall time of [startMs, endMs] not covered by any job. */
    def gapMs(startMs: Long, endMs: Long): Long = {
      val inside = jobIntervals.asScala.toSeq.collect {
        case (s, e) if e >= startMs && s <= endMs =>
          (math.max(s, startMs), math.min(e, endMs))
      }
      (endMs - startMs) - union(inside)
    }
  }

  // --------------------------------------------------------------- plans

  final class PlanListener extends QueryExecutionListener {
    val planMs = new AtomicLong()
    val queries = new AtomicLong()
    val exchanges = new AtomicLong()
    val graftNodes = new AtomicLong()

    def reset(): Unit = Seq(planMs, queries, exchanges, graftNodes).foreach(_.set(0L))

    private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      queries.incrementAndGet()
      planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
      val ns = try nodes(qe.executedPlan) catch { case _: Exception => Nil }
      exchanges.addAndGet(ns.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      })
      graftNodes.addAndGet(ns.count(_.getClass.getName.startsWith("graft.")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  // ----------------------------------------------------------- streaming

  final class StreamListener extends StreamingQueryListener {
    val progress = new ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
    def reset(): Unit = progress.clear()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  val jobs = new JobListener
  val plans = new PlanListener
  val stream = new StreamListener
  private var attached = false

  def attach(spark: SparkSession): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    spark.streams.addListener(stream)
    attached = true
  }

  def detach(spark: SparkSession): Unit = if (attached) {
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
    spark.streams.removeListener(stream)
    attached = false
  }

  /** Listener events arrive asynchronously; wait until every started job
    * has ended and the bus has been quiet for a moment. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
        (jobs.pending > 0 || jobs.tasks.get != last)) {
      last = jobs.tasks.get
      Thread.sleep(100)
    }
  }

  /** Peak heap of the window (pools are reset at window start). */
  def resetHeapPeak(): Unit =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .foreach(_.resetPeakUsage())
  def heapPeakMb: Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** The per-layer metrics shared by every workload, over the ops of one
    * traced window. Time metrics are per operation unless a name says
    * otherwise; sizes are per operation too. */
  def commonLayers(ops: Seq[Op]): mutable.LinkedHashMap[String, Any] = {
    drain()
    val n = math.max(1, ops.size).toDouble
    val gapS = ops.map(o => jobs.gapMs(o.startMs, o.endMs)).sum / 1000.0
    val mb = 1048576.0
    mutable.LinkedHashMap[String, Any](
      "queries.build_s" -> meanSpan("queries.build"),
      "plans.plan_s" -> plans.planMs.get / 1000.0 / n,
      "plans.exchanges" -> plans.exchanges.get / n,
      "plans.graft_nodes" -> plans.graftNodes.get / n,
      "spark.jobs" -> jobs.jobIntervals.size / n,
      "spark.stages" -> jobs.stages.get / n,
      "spark.tasks" -> jobs.tasks.get / n,
      "spark.driver_gap_s" -> gapS / n,
      "exec.run_s" -> jobs.runMs.get / 1000.0 / n,
      "exec.cpu_s" -> jobs.cpuNs.get / 1e9 / n,
      "exec.gc_s" -> jobs.gcMs.get / 1000.0 / n,
      "exec.input_mb" -> jobs.inputBytes.get / mb / n,
      "shuffle.write_mb" -> jobs.shuffleWrite.get / mb / n,
      "shuffle.read_mb" -> jobs.shuffleRead.get / mb / n,
      "shuffle.fetch_wait_s" -> jobs.fetchWaitMs.get / 1000.0 / n,
      "shuffle.spill_mb" -> jobs.spillBytes.get / mb / n,
      "jvm.heap_peak_mb" -> heapPeakMb)
  }

  /** Driver time inside the spans named `name`: span wall minus its jobs,
    * mean per span. */
  def driverSecondsIn(name: String): Double = {
    val xs = allSpans.filter(_.name == name)
    if (xs.isEmpty) 0.0
    else xs.map { s =>
      val endMs = s.startMs + (s.endNs - s.startNs) / 1000000L
      jobs.gapMs(s.startMs, endMs) / 1000.0
    }.sum / xs.size
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = allSpans.map(s => Json.write(Map(
      "run" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.startMs, "dur_s" -> (s.endNs - s.startNs) / 1e9)))
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
