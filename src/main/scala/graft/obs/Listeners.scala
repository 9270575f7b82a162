package graft.obs

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

/** Observability counters (SURVEY §2.2 K5) — parity with the reference's
  * Prometheus metrics (/root/reference/metrics/metrics.go:59-70:
  * processed-total, error-total, last-processed-timestamp, uptime) via a
  * StreamingQueryListener instead of a scrape endpoint.
  */
final class IngestMetricsListener extends StreamingQueryListener {

  val rowsProcessed = new AtomicLong(0)
  val batchesProcessed = new AtomicLong(0)
  val lastProgressEpochMs = new AtomicLong(0)
  val startedAtMs = new AtomicLong(0)
  val queryErrors = new AtomicLong(0)
  /** Malformed frames the ingest decoder dropped (its per-batch
    * `graft.decode` observation, summed). */
  val decodeErrors = new AtomicLong(0)

  /** Bucketed batch-duration histogram — the `_bucket` series a
    * dashboard built against the reference's duration histograms
    * (/root/reference/monitoring/metrics.go:13-17) scrapes first.
    * Reference buckets (1 ms–1 s). */
  val batchDuration = new PromHistogram(
    "graft_batch_duration_seconds",
    "Micro-batch wall-clock duration (trigger to commit)")

  /** Per-phase batch time from `StreamingQueryProgress.durationMs`, one
    * series per phase; a phase the trigger skipped (an idle trigger plans
    * nothing) counts as 0 s, so every `_count` equals the batches seen. */
  val batchPhase = new PromHistogramFamily(
    "graft_batch_phase_seconds",
    "Micro-batch time per phase (StreamingQueryProgress.durationMs)",
    "phase", IngestMetricsListener.Phases,
    PromHistogram.DefaultBuckets ++ Seq(2.5, 5.0, 10.0))

  override def onQueryStarted(event: QueryStartedEvent): Unit =
    startedAtMs.compareAndSet(0, System.currentTimeMillis())

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    IngestMetricsListener.Phases.foreach(p => batchPhase(p).observeMillis(
      Option(event.progress.durationMs.get(p)).fold(0L)(_.longValue)))
    rowsProcessed.addAndGet(event.progress.numInputRows)
    batchesProcessed.incrementAndGet()
    batchDuration.observeMillis(event.progress.batchDuration)
    Option(event.progress.observedMetrics.get(graft.ingest.TickDecoder.Observation))
      .foreach(m => decodeErrors.addAndGet(m.getAs[Long]("decode_errors")))
    // numeric, not the ISO string: a bare string value is not valid
    // Prometheus text exposition and would fail the whole scrape
    try lastProgressEpochMs.set(
      java.time.Instant.parse(event.progress.timestamp).toEpochMilli)
    catch { case _: java.time.format.DateTimeParseException => }
  }

  override def onQueryTerminated(event: QueryTerminatedEvent): Unit =
    if (event.exception.isDefined) queryErrors.incrementAndGet()

  /** Text snapshot, shape-compatible with the reference's /metrics text
    * exposition (/root/reference/main.go:358-367) — every value numeric,
    * so a Prometheus scraper parses it. */
  def snapshot(): String = {
    val uptime = if (startedAtMs.get == 0) 0 else System.currentTimeMillis() - startedAtMs.get
    val rt = Runtime.getRuntime
    s"""graft_ticks_processed_total ${rowsProcessed.get}
       |graft_batches_processed_total ${batchesProcessed.get}
       |graft_query_errors_total ${queryErrors.get}
       |graft_decode_errors_total ${decodeErrors.get}
       |graft_uptime_millis $uptime
       |graft_last_progress_epoch_ms ${lastProgressEpochMs.get}
       |graft_memory_used_bytes ${rt.totalMemory - rt.freeMemory}
       |graft_cpu_usage ${ProcessGauges.cpuUsage}
       |graft_threads ${ProcessGauges.threadCount}
       |${batchDuration.exposition}
       |${batchPhase.exposition}
       |${PipelineMetrics.gateDuration.exposition}""".stripMargin
  }
}

object IngestMetricsListener {
  /** The `durationMs` phases exported as `graft_batch_phase_seconds`. */
  val Phases: Seq[String] =
    Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
}

/** Per-worker processed/error counters (SURVEY parity with the
  * reference's WorkerStats — /root/reference/models/stats.go:15-20:
  * per-worker ProcessedCount/ErrorCount/LastProcessed) — a
  * SparkListener keyed by executor id, surfaced as LABELED Prometheus
  * series on /metrics. On a real cluster each executor is a worker row;
  * on local[*] everything lands under "driver" (still the correct
  * grouping: one JVM IS one worker there).
  *
  * Task-end events arrive on the listener bus thread; the maps are
  * ConcurrentHashMaps of LongAdders so a scrape never locks the bus. */
final class WorkerStatsListener extends org.apache.spark.scheduler.SparkListener {
  import java.util.concurrent.ConcurrentHashMap
  import java.util.concurrent.atomic.{AtomicLong, LongAdder}

  private val tasks = new ConcurrentHashMap[String, LongAdder]()
  private val records = new ConcurrentHashMap[String, LongAdder]()
  private val errors = new ConcurrentHashMap[String, LongAdder]()
  private val lastEndMs = new ConcurrentHashMap[String, AtomicLong]()

  private def adder(m: ConcurrentHashMap[String, LongAdder], k: String): LongAdder =
    m.computeIfAbsent(k, _ => new LongAdder)

  override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
    val w = Option(e.taskInfo).map(_.executorId).getOrElse("unknown")
    adder(tasks, w).increment()
    if (e.taskInfo != null && !e.taskInfo.successful) adder(errors, w).increment()
    // metrics can be null for failed/ignored tasks
    Option(e.taskMetrics).foreach { m =>
      adder(records, w).add(m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead)
    }
    lastEndMs.computeIfAbsent(w, _ => new AtomicLong())
      .set(System.currentTimeMillis())
  }

  /** Labeled exposition lines, one block per series, workers sorted for
    * scrape stability. */
  def snapshot(): String = {
    import scala.jdk.CollectionConverters._
    val workers = tasks.keySet().asScala.toSeq.sorted
    def series(name: String, m: String => Long): Seq[String] =
      workers.map(w => s"""$name{worker="$w"} ${m(w)}""")
    (series("graft_worker_tasks_total", w => tasks.get(w).sum()) ++
      series("graft_worker_records_total",
        w => Option(records.get(w)).map(_.sum()).getOrElse(0L)) ++
      series("graft_worker_task_errors_total",
        w => Option(errors.get(w)).map(_.sum()).getOrElse(0L)) ++
      series("graft_worker_last_processed_epoch_ms",
        w => Option(lastEndMs.get(w)).map(_.get()).getOrElse(0L)))
      .mkString("\n")
  }
}

/** Process-wide curation-gate latency — observed by
  * `CurationPipeline.processBatch` (driver-side, one observation per
  * gate pass), exposed through every MetricsHttpServer. A singleton
  * because the pipeline runs inside foreachBatch, far from any
  * listener instance; histograms are additive so shared state is the
  * correct aggregation. */
object PipelineMetrics {
  val gateDuration = new PromHistogram(
    "graft_gate_duration_seconds",
    "Curation gate (dedup/near-dup) wall-clock per micro-batch")
}

/** Process-health gauges — parity with the reference's system metrics
  * (/root/reference/monitoring/metrics.go:31-39: market_data_cpu_usage,
  * market_data_goroutines): JVM-process CPU fraction via the platform
  * OperatingSystemMXBean and live thread count via the ThreadMXBean
  * (goroutines' closest JVM analog). Read at scrape time — gauges
  * sample current state, nothing accumulates. */
object ProcessGauges {
  /** Process CPU usage in [0, 1]; -1 until the platform bean's first
    * sampling interval elapses (exposed as-is — a scraper treats
    * negative gauge values as "not yet available", same as the bean). */
  def cpuUsage: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        val l = os.getProcessCpuLoad
        if (l.isNaN) -1.0 else l // NaN is not valid exposition text
      case _ => -1.0
    }

  def threadCount: Int =
    java.lang.management.ManagementFactory.getThreadMXBean.getThreadCount
}
