package graft.obs

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** HTTP observability endpoints: /metrics + /health served during a
  * streaming run (parity with /root/reference/main.go:351-367). */
class ObsSpec extends SparkSpec {

  private def fetch(url: String): (Int, String) = {
    val conn = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = scala.io.Source.fromInputStream(is).mkString
    (code, body)
  }

  test("/metrics and /health serve listener state over HTTP") {
    import spark.implicits._
    val listener = new IngestMetricsListener
    spark.streams.addListener(listener)
    val workers = new WorkerStatsListener
    spark.sparkContext.addSparkListener(workers)
    val srv = new MetricsHttpServer(listener, workers = Some(workers)).start()
    try {
      implicit val ctx = spark.sqlContext
      val stream = MemoryStream[Int]
      stream.addData(1, 2, 3)
      val q = stream.toDS().writeStream.format("memory").queryName("obs_out")
        .trigger(Trigger.ProcessingTime("200 milliseconds")).start()
      q.processAllAvailable()
      q.stop()
      // listener bus is async; wait for the progress event to land
      val deadline = System.currentTimeMillis() + 10000
      while (listener.batchesProcessed.get == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(listener.batchesProcessed.get > 0, "listener saw no progress event")

      val (mCode, metrics) = fetch(s"http://127.0.0.1:${srv.boundPort}/metrics")
      assert(mCode === 200)
      assert(metrics.contains("graft_ticks_processed_total 3"))
      assert(metrics.contains("graft_batches_processed_total"))
      assert(metrics.contains("graft_decode_errors_total 0")) // no frames decoded here

      // bucketed duration histogram in real exposition shape: cumulative
      // le-labeled buckets ending at +Inf == _count, populated by the
      // run above (reference parity: monitoring/metrics.go:13-17)
      val bucketRe = """graft_batch_duration_seconds_bucket\{le="([^"]+)"\} (\d+)""".r
      val bkts = bucketRe.findAllMatchIn(metrics)
        .map(m => m.group(1) -> m.group(2).toLong).toSeq
      assert(bkts.nonEmpty, s"no _bucket series in exposition:\n$metrics")
      assert(bkts.last._1 === "+Inf")
      assert(bkts.map(_._2) === bkts.map(_._2).sorted, "buckets must be cumulative")
      val cnt = """graft_batch_duration_seconds_count (\d+)""".r
        .findFirstMatchIn(metrics).get.group(1).toLong
      assert(cnt === listener.batchDuration.observed && bkts.last._2 === cnt)
      assert(cnt > 0, "the streaming run must have observed batch durations")
      assert(metrics.contains("# TYPE graft_batch_duration_seconds histogram"))
      assert(metrics.contains("graft_gate_duration_seconds_bucket"),
        "gate-latency histogram series must be exposed")
      assert(metrics.contains("graft_memory_used_bytes "))

      // process-health gauges (reference monitoring/metrics.go:31-39
      // parity: cpu usage + goroutine-analog thread count), numeric so
      // the scrape parses
      val cpu = """graft_cpu_usage (-?[0-9.]+)""".r
        .findFirstMatchIn(metrics).map(_.group(1).toDouble)
      assert(cpu.isDefined, s"no graft_cpu_usage gauge in exposition:\n$metrics")
      assert(cpu.get <= 1.0, s"cpu usage must be a fraction (or -1 pre-sample): $cpu")
      val thr = """graft_threads (\d+)""".r
        .findFirstMatchIn(metrics).map(_.group(1).toInt)
      assert(thr.exists(_ > 0), s"thread-count gauge must be positive:\n$metrics")

      // per-worker stats (reference models/stats.go WorkerStats):
      // labeled series keyed by executor id — local[*] runs everything
      // under the driver, so exactly that worker row must appear with
      // the tasks the streaming batches just ran. Listener bus is
      // async; wait for the task-end events to land.
      val wDeadline = System.currentTimeMillis() + 10000
      def workerLines() = fetch(s"http://127.0.0.1:${srv.boundPort}/metrics")._2
      var wm = workerLines()
      while (!wm.contains("graft_worker_tasks_total{worker=\"driver\"}")
             && System.currentTimeMillis() < wDeadline) { Thread.sleep(50); wm = workerLines() }
      val wTasks = """graft_worker_tasks_total\{worker="driver"\} (\d+)""".r
        .findFirstMatchIn(wm).map(_.group(1).toLong)
      assert(wTasks.exists(_ > 0), s"no per-worker task series in:\n$wm")
      assert(wm.contains("graft_worker_records_total{worker=\"driver\"}"))
      assert(wm.contains("graft_worker_last_processed_epoch_ms{worker=\"driver\"}"))

      val (hCode, health) = fetch(s"http://127.0.0.1:${srv.boundPort}/health")
      assert(hCode === 200)
      assert(health.contains("\"status\":\"ok\""))
      assert(health.contains("\"rows\":3"))
      assert(health.contains("\"streaming\":\"healthy\""),
        "component registry must report per-component state")

      // a registered failing component degrades the rollup independently
      // of streaming state (health.go:46-53), and a THROWING check is
      // unhealthy, not a 500
      srv.registerHealthCheck("index_store", () => sys.error("probe died"))
      val (cCode, cHealth) = fetch(s"http://127.0.0.1:${srv.boundPort}/health")
      assert(cCode === 503)
      assert(cHealth.contains("\"index_store\":\"unhealthy\""))
      assert(cHealth.contains("\"streaming\":\"healthy\""))
      srv.registerHealthCheck("index_store", () => true)
      assert(fetch(s"http://127.0.0.1:${srv.boundPort}/health")._1 === 200)

      // a dead query flips health to degraded/503 (monitoring/health.go
      // reports component state, not a static ok)
      listener.queryErrors.incrementAndGet()
      val (dCode, degraded) = fetch(s"http://127.0.0.1:${srv.boundPort}/health")
      assert(dCode === 503)
      assert(degraded.contains("\"status\":\"degraded\""))
    } finally {
      srv.stop()
      spark.streams.removeListener(listener)
      spark.sparkContext.removeSparkListener(workers)
    }
  }

  test("graft_decode_errors_total counts the frames ingest dropped as malformed") {
    import spark.implicits._
    val listener = new IngestMetricsListener
    spark.streams.addListener(listener)
    try {
      implicit val ctx = spark.sqlContext
      val stream = MemoryStream[Array[Byte]]
      def frame(seq: Long): Array[Byte] = graft.core.Codec.encode(graft.core.Schemas.TickFrame(
        1, 1, "2885", seq, 1704447000000L + seq, 286550L,
        None, None, None, None, None, None, None, None, None))
      stream.addData(frame(1), Array[Byte](9, 9), frame(2), Array.fill[Byte](60)(0))
      val dir = java.nio.file.Files.createTempDirectory("obs-decode").toString
      val dim = Seq(("RELIANCE", "2885")).toDF("symbol", "token")
      val q = graft.ingest.IngestStream.start(spark, stream.toDS(), dim,
        s"$dir/sink", s"$dir/ckpt", Trigger.ProcessingTime("200 milliseconds"))
      q.processAllAvailable()
      q.stop()
      val deadline = System.currentTimeMillis() + 10000
      while (listener.decodeErrors.get == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(listener.snapshot().linesIterator.contains("graft_decode_errors_total 2"),
        listener.snapshot())

      // one phase histogram family: HELP/TYPE once, a series per
      // durationMs phase, each observed once per batch
      def count(m: String, re: String): Option[Long] =
        re.r.findFirstMatchIn(m).map(_.group(1).toLong)
      def phaseCounts(m: String): Seq[Option[Long]] = IngestMetricsListener.Phases.map(p =>
        count(m, s"""graft_batch_phase_seconds_count\\{phase="$p"\\} (\\d+)"""))
      def batches(m: String) = count(m, """graft_batches_processed_total (\d+)""")
      val pDeadline = System.currentTimeMillis() + 10000
      var m = listener.snapshot()
      while (phaseCounts(m).exists(_ != batches(m)) && System.currentTimeMillis() < pDeadline) {
        Thread.sleep(50); m = listener.snapshot()
      }
      assert(batches(m).exists(_ > 0), m)
      assert(IngestMetricsListener.Phases ===
        Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets"))
      assert(phaseCounts(m).forall(_ == batches(m)), m)
      assert(m.linesIterator.count(_ == "# TYPE graft_batch_phase_seconds histogram") === 1, m)
      assert(m.linesIterator.count(_.startsWith("# HELP graft_batch_phase_seconds ")) === 1, m)
      assert(m.contains("""graft_batch_phase_seconds_bucket{phase="addBatch",le="+Inf"}"""), m)
      val addBatchSum = """graft_batch_phase_seconds_sum\{phase="addBatch"\} ([0-9.E-]+)""".r
        .findFirstMatchIn(m).map(_.group(1).toDouble)
      assert(addBatchSum.exists(_ > 0), s"the sink write must take time:\n$m")
    } finally spark.streams.removeListener(listener)
  }

  test("PromHistogram: cumulative buckets, sum, +Inf overflow, exposition format") {
    val h = new PromHistogram("t_seconds", "test", Seq(0.01, 0.1, 1.0))
    Seq(0.005, 0.05, 0.05, 0.5, 5.0).foreach(h.observe)
    val exp = h.exposition
    def bucket(le: String): Long =
      s"""t_seconds_bucket\\{le="$le"\\} (\\d+)""".r
        .findFirstMatchIn(exp).get.group(1).toLong
    assert(bucket("0.01") === 1)
    assert(bucket("0.1") === 3)   // cumulative: 0.005 + the two 0.05s
    assert(bucket("1") === 4)     // integral le printed without ".0"
    assert(bucket("\\+Inf") === 5) // the 5.0 outlier only lands in +Inf
    assert(exp.contains("t_seconds_count 5"))
    val sum = """t_seconds_sum ([0-9.]+)""".r.findFirstMatchIn(exp).get.group(1).toDouble
    assert(math.abs(sum - 5.605) < 1e-6)
    assert(h.observed === 5)
  }
}
