package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are microseconds since the run started.
  * `kind` names the layer the span belongs to. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startUs: Long, endUs: Long, attrs: Map[String, Any]) {
  def durUs: Long = endUs - startUs
}

/** Task metrics summed over one Spark job's tasks. */
final class JobCost {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var fetchWaitMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  def add(o: JobCost): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    fetchWaitMs += o.fetchWaitMs; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes; inputBytes += o.inputBytes
  }
}

/** What one SQL execution reported: planning phases and plan-node metrics. */
final case class ExecInfo(planMs: Double, filesRead: Long, scanBytes: Long, exchangeBytes: Long)

final case class JobInfo(jobId: Int, group: Option[String], execId: Option[Long],
    streamBatch: Option[Long], startMs: Long, var endMs: Long, cost: JobCost)

/** In-memory span recorder. With `enabled` false every method is a
  * cheap no-op apart from running the wrapped code, so the untraced run
  * measures the program without listeners. Spans of one query call or
  * one micro-batch share the call's span id through the Spark job group
  * (`span-<id>`) or the streaming batch id. */
final class Tracer(val enabled: Boolean) {
  private val t0Ns = System.nanoTime()
  private val t0EpochUs = System.currentTimeMillis() * 1000L
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def nowUs(): Long = (System.nanoTime() - t0Ns) / 1000L
  def epochMsToUs(ms: Long): Long = ms * 1000L - t0EpochUs

  def newId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = if (enabled) spans.add(s)

  /** Run `f` as a span; the span id is passed to `f` for children. The
    * calling thread's Spark job group is set to the span while `f` runs,
    * so the jobs it submits can be attributed to it. */
  def span[T](spark: SparkSession, kind: String, name: String, parent: Long,
      attrs: Map[String, Any] = Map.empty)(f: Long => T): T = {
    val id = newId()
    val start = nowUs()
    val sc = spark.sparkContext
    if (enabled) sc.setJobGroup(s"span-$id", s"$kind $name", interruptOnCancel = false)
    try f(id)
    finally {
      if (enabled) {
        sc.clearJobGroup()
        record(Span(id, parent, kind, name, start, nowUs(), attrs))
      }
    }
  }

  // ---- Spark listeners (traced run only) ----

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobInfo]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  /** SQL execution id -> the job group that started it, and its metrics. */
  val execGroups = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  val execs = new java.util.concurrent.ConcurrentHashMap[Long, ExecInfo]()
  // The session's QueryExecutionListener bus and this tracer's listener
  // share Spark's listener queue and thread, and the session's bus was
  // registered first: for each execution-end event, `onSuccess` runs
  // just before `onOtherEvent`, which carries the execution id.
  @volatile private var pending: Option[ExecInfo] = None
  /** Time spent inside this tracer's listener callbacks. */
  val callbackNs = new AtomicLong(0)

  private def timed(f: => Unit): Unit = {
    val t = System.nanoTime()
    try f finally callbackNs.addAndGet(System.nanoTime() - t)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
      jobs.put(e.jobId, JobInfo(e.jobId, prop("spark.jobGroup.id"),
        prop("spark.sql.execution.id").map(_.toLong),
        prop("streaming.sql.batchId").map(_.toLong), e.time, -1L, new JobCost))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = timed {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          s.jobGroupId.foreach(g => execGroups.put(s.executionId, g))
        case end: SparkListenerSQLExecutionEnd =>
          pending.foreach(execs.put(end.executionId, _))
          pending = None
        case _ =>
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      Option(stageToJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        if (m != null) j.cost.synchronized {
          val c = j.cost
          c.tasks += 1
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }
  }

  private val execListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      timed { pending = Some(Tracer.execInfo(qe)) }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private var attached = false

  def attach(spark: SparkSession): Unit = if (enabled && !attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(execListener)
    attached = true
  }

  def detach(spark: SparkSession): Unit = if (attached) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(execListener)
    attached = false
  }

  /** Job spans, parented to the span whose job group submitted them, or
    * to the micro-batch span carrying the job's streaming batch id. */
  def jobSpans(batchSpan: Long => Option[Long]): Seq[Span] =
    jobs.values.asScala.toSeq.filter(_.endMs >= 0).flatMap { j =>
      val parent = j.group.collect { case g if g.startsWith("span-") => g.drop(5).toLong }
        .orElse(j.streamBatch.flatMap(batchSpan))
      parent.map(p => Span(newId(), p, "job", s"job ${j.jobId}",
        epochMsToUs(j.startMs), epochMsToUs(j.endMs),
        Map("job" -> j.jobId, "tasks" -> j.cost.tasks, "exec" -> j.execId.getOrElse(-1L))))
    }

  def allSpans: Seq[Span] = spans.asScala.toSeq
}

object Tracer {

  /** Plan nodes of an executed plan, descending into adaptive plans and
    * query stages; a reused exchange is not descended so its metrics
    * count once. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  def execInfo(qe: QueryExecution): ExecInfo = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs.toDouble).sum
    var files = 0L
    var scanBytes = 0L
    var exchange = 0L
    planNodes(qe.executedPlan).foreach { n =>
      val m = n.metrics
      val scan = n.nodeName.contains("Scan")
      if (scan) {
        m.get("numFiles").foreach(files += _.value)
        m.get("filesSize").foreach(scanBytes += _.value)
      }
      m.get("shuffleBytesWritten").foreach(exchange += _.value)
    }
    ExecInfo(planMs, files, scanBytes, exchange)
  }

  /** Length of the union of intervals, each clipped to [lo, hi). */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus what its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.startUs, k.endUs))
      s.id -> (s.durUs - covered(c, s.startUs, s.endUs))
    }.toMap
  }

  /** Per-layer self time (s) and span count. A layer's self time is the
    * time some span of the layer is open and none of their children is:
    * |own ∪ children| − |children|, so overlapping sibling spans (a
    * query's concurrent jobs) count once. */
  def layers(spans: Seq[Span]): Seq[(String, Double, Int)] =
    spans.groupBy(_.kind).toSeq.map { case (k, ss) =>
      val ids = ss.map(_.id).toSet
      val own = ss.map(s => (s.startUs, s.endUs))
      val kids = spans.filter(c => ids.contains(c.parent)).map(c => (c.startUs, c.endUs))
      def len(xs: Seq[(Long, Long)]) = covered(xs, Long.MinValue, Long.MaxValue)
      (k, (len(own ++ kids) - len(kids)) / 1e6, ss.size)
    }.sortBy(-_._2)
}
