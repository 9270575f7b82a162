package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** State one run shares between the workload, the probes and the report. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long, val seconds: Int,
    val work: java.io.File, val inject: String, val sessionStartEpochMs: Long) {
  @volatile var attempted = 0L
  @volatile var failed = 0L
  val rootSpan: Long = tracer.newId()
  val e2eMetrics = mutable.LinkedHashMap[String, Double]()
  val layerMetrics = mutable.LinkedHashMap[String, Double]()
  val infos = mutable.LinkedHashMap[String, Any]()
  val answers = mutable.LinkedHashMap[String, Any]()
  val digests = mutable.LinkedHashMap[String, String]()
  val batchSpans = mutable.Map[Long, Long]()
  var overheadShare: Option[Double] = None

  def e2e(k: String, v: Double): Unit = e2eMetrics(k) = v
  def layer(k: String, v: Double): Unit = layerMetrics(k) = v
  def info(k: String, v: Any): Unit = infos(k) = v
  def answer(k: String, v: Any): Unit = answers(k) = v
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

/** Benchmark entry point, launched by `perfbench/run.py`.
  *
  *   perfbench.Main prepare --data DIR --scale full|smoke
  *   perfbench.Main run --workload W --seed N --seconds S --trace 0|1
  *       --work DIR --data DIR --digests DIR --scale full|smoke
  *       [--inject none|digest|drop-tick] [--record-digests]
  *
  * `run` prints one line `RESULT {...}` for the launcher and, before it,
  * one `CONTEXT {...}` line (box canary, cores, heap). */
object Main {

  val Workloads = Seq("tick_stream", "market_queries", "curation_batch")

  val EndToEnd = Seq("setup_s", "throughput_per_s", "latency_p50_s", "latency_p90_s", "read_p50_s")

  val PerLayer: Seq[String] = Seq(
    "sources.backlog_frames", "sources.latest_offset_ms", "gen.late_ms_max",
    "ingest.first_batch_s", "ingest.catchup_batch_ms", "ingest.follow_batch_ms",
    "ingest.add_batch_ms", "ingest.query_planning_ms", "ingest.wal_commit_ms",
    "ingest.commit_offsets_ms", "ingest.decode_ns_per_frame", "ingest.decode_enrich_rows_per_s",
    "ingest.frames_dropped",
    "storage.append_small_s", "storage.append_large_s", "storage.files_per_batch",
    "storage.sink_files", "storage.bytes_per_tick",
    "queries.plan_ms", "queries.driver_ms", "queries.jobs", "queries.tasks",
    "queries.files_read", "queries.scan_bytes", "queries.exchange_bytes",
    "ops.executor_cpu_s", "ops.executor_run_s", "ops.exchange_bytes", "ops.fetch_wait_s",
    "ops.spill_bytes", "ops.gc_s", "ops.driver_s") ++
    QueryLoop.Curation.flatMap(q => Seq(s"ops.$q.run_s", s"ops.$q.driver_s")) ++ Seq(
    "plans.textstat_ns_per_row.ascii", "plans.textstat_ns_per_row.nonascii",
    "plans.norm_text_ns_per_row.ascii", "plans.norm_text_ns_per_row.nonascii",
    "plans.repstats_ns_per_row.ascii", "plans.repstats_ns_per_row.nonascii",
    "plans.md5long_ns_per_row", "plans.cosine_ns_per_row", "plans.decode_frame_ns_per_row",
    "core.session_start_s", "core.cold_extra_s", "core.cached_mb",
    "trace.overhead_share", "trace.layer_share")

  final case class Scale(marketSf: Double, corpusDocs: Long, ticks: TickSizes)
  val Scales = Map(
    "full" -> Scale(1.0, 5000, TickSizes.Full),
    "smoke" -> Scale(0.01, 200, TickSizes.Smoke))

  def main(args: Array[String]): Unit = {
    val cmd = args.headOption.getOrElse("")
    val opts = args.drop(1).sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap ++ args.filter(_ == "--record-digests").map(_.drop(2) -> "1")
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val scale = Scales.getOrElse(opts.getOrElse("scale", "full"), sys.error("bad --scale"))
    cmd match {
      case "prepare" => prepare(opt("data"), scale)
      case "run" => run(opts, opt, scale)
      case _ => sys.error("usage: perfbench.Main prepare|run ...")
    }
  }

  def cores: Int = Runtime.getRuntime.availableProcessors()

  def marketDir(data: String): String = s"$data/market-v${Data.Version}"
  def corpusDir(data: String): String = s"$data/corpus-v${Data.Version}"

  /** Write the query workloads' tables once; later runs reuse them. */
  def prepare(data: String, scale: Scale): Unit = {
    val todo = Seq(marketDir(data), corpusDir(data)).filterNot(d => new java.io.File(d, "_READY").exists)
    if (todo.isEmpty) return
    val spark = graft.Graft.session(cores)
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    todo.foreach { d =>
      val tmp = new java.io.File(d + ".tmp")
      Util.deleteRecursively(tmp)
      if (d == marketDir(data)) Data.writeMarket(spark, tmp.getPath, scale.marketSf)
      else Data.writeCorpus(spark, tmp.getPath, scale.corpusDocs)
      new java.io.File(tmp, "_READY").createNewFile()
      require(tmp.renameTo(new java.io.File(d)), s"could not move $tmp into place")
    }
    spark.stop()
  }

  private def readDigests(f: java.io.File): Map[String, String] =
    if (!f.exists()) Map.empty
    else {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(f, classOf[java.util.Map[String, String]])
      scala.jdk.CollectionConverters.MapHasAsScala(m).asScala.toMap
    }

  def run(opts: Map[String, String], opt: String => String, scale: Scale): Unit = {
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val work = new java.io.File(opt("work"))
    val data = opt("data")
    val inject = opts.getOrElse("inject", "none")
    val digestFile = new java.io.File(opt("digests"), s"$workload.${opts.getOrElse("scale", "full")}.json")
    work.mkdirs()

    graft.core.GraftConf.checkBenchContention()
    val sessionStartEpochMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val spark = graft.Graft.session(cores)
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = Util.secondsSince(t0)
    val tracer = new Tracer(trace)
    tracer.attach(spark)
    val ctx = new Ctx(spark, tracer, seed, seconds, work, inject, sessionStartEpochMs)
    ctx.layer("core.session_start_s", sessionS)
    val startUs = tracer.nowUs()

    workload match {
      case "tick_stream" => TickStream.run(ctx, scale.ticks)
      case q =>
        val (names, dir) =
          if (q == "market_queries") (QueryLoop.Market, marketDir(data))
          else (QueryLoop.Curation, corpusDir(data))
        val recorded = readDigests(digestFile)
        val expected =
          if (opts.contains("record-digests")) Map.empty[String, String]
          else if (inject == "digest") recorded.updated(names.head, "0:0")
          else recorded
        if (!opts.contains("record-digests"))
          require(names.forall(expected.contains), s"no recorded digest for some queries in $digestFile")
        QueryLoop.run(ctx, names, dir, expected)
        if (opts.contains("record-digests"))
          java.nio.file.Files.writeString(digestFile.toPath,
            Util.Json.render(ctx.digests.toSeq.sortBy(_._1).toMap) + "\n")
    }
    val wallUs = tracer.nowUs() - startUs
    tracer.record(Span(ctx.rootSpan, 0L, "workload", workload, startUs, startUs + wallUs, Map.empty))

    if (trace) {
      Probes.run(ctx, corpusDir(data))
      tracer.detach(spark)
    }
    val storage = spark.sparkContext.getRDDStorageInfo
    ctx.layer("core.cached_mb", storage.map(_.memSize).sum / 1e6)
    ctx.info("canary_s", canary(spark))

    if (trace) report(ctx, workload, wallUs, work)
    val context = Util.obj("workload" -> workload, "seed" -> seed, "cores" -> cores,
      "heap_gb" -> Runtime.getRuntime.maxMemory / 1e9, "spark" -> spark.version) ++ ctx.infos
    println("CONTEXT " + Util.Json.render(context))
    val names = if (trace) PerLayer else EndToEnd
    val values = if (trace) ctx.layerMetrics else ctx.e2eMetrics
    val missing = names.filterNot(values.contains)
    if (!trace) require(missing.isEmpty, s"metrics not measured: ${missing.mkString(", ")}")
    val units = if (trace) PerLayer.map(n => n -> unitOf(n)).toMap
      else Map("setup_s" -> "s", "throughput_per_s" -> "1/s", "latency_p50_s" -> "s",
        "latency_p90_s" -> "s", "read_p50_s" -> "s")
    // a layer the workload does not exercise reads 0
    val metrics = names.map(n => n -> Util.obj("value" -> values.getOrElse(n, 0.0), "unit" -> units(n)))
    val result = Util.obj("correct" -> (ctx.failed == 0 && ctx.attempted > 0),
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "metrics" -> Util.obj(metrics: _*))
    spark.stop()
    println("RESULT " + Util.Json.render(result))
  }

  def unitOf(name: String): String =
    if (name.endsWith("rows_per_s")) "rows/s"
    else if (name.endsWith("_ms") || name.endsWith("_ms_max")) "ms"
    else if (name.endsWith("_s")) "s"
    else if (name.contains("ns_per_")) "ns"
    else if (name.endsWith("_bytes") || name.endsWith("bytes_per_tick")) "bytes"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_share")) "ratio"
    else "count"

  /** 200M-row hash aggregate, timed after one warm-up: box context
    * printed with every run, not a metric. */
  def canary(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{col, sum, xxhash64}
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(200000000L).select(sum(xxhash64(col("id")) % 1000003L))
        .write.format("noop").mode("overwrite").save()
      Util.secondsSince(t0)
    }
    once()
    once()
  }

  /** Per-layer metrics from the spans, and the trace artifact. */
  def report(ctx: Ctx, workload: String, wallUs: Long, work: java.io.File): Unit = {
    val tracer = ctx.tracer
    val base = tracer.allSpans
    val spans = base ++ tracer.jobSpans(ctx.batchSpans.get)
    val byId = spans.map(s => s.id -> s).toMap
    val jobs = scala.jdk.CollectionConverters.CollectionHasAsScala(tracer.jobs.values).asScala.toSeq
    val jobsOf = jobs.groupBy(_.group.getOrElse(""))
    val execsOf = scala.jdk.CollectionConverters.MapHasAsScala(tracer.execGroups).asScala.toSeq
      .flatMap { case (e, g) => Option(tracer.execs.get(e)).map(g -> _) }
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2) }
    def tracedCall(s: Span): Boolean = s.kind == "read" ||
      (s.kind == "query" && byId.get(s.parent).exists(_.attrs.get("traced").contains(true)))
    val calls = spans.filter(tracedCall)
    final case class Call(name: String, wallMs: Double, driverMs: Double, js: Seq[JobInfo],
        ex: Seq[ExecInfo])
    val callCosts = calls.map { s =>
      val js = jobsOf.getOrElse(s"span-${s.id}", Nil).filter(_.endMs >= 0)
      val ex = execsOf.getOrElse(s"span-${s.id}", Nil)
      val jobUs = Tracer.covered(js.map(j =>
        (tracer.epochMsToUs(j.startMs), tracer.epochMsToUs(j.endMs))), s.startUs, s.endUs)
      Call(s.name, s.durUs / 1e3, (s.durUs - jobUs) / 1e3, js, ex)
    }
    if (callCosts.nonEmpty) {
      def avg(f: Call => Double) = Util.mean(callCosts.map(f))
      ctx.layer("queries.plan_ms", avg(_.ex.map(_.planMs).sum))
      ctx.layer("queries.driver_ms", avg(_.driverMs))
      ctx.layer("queries.jobs", avg(_.js.size.toDouble))
      ctx.layer("queries.tasks", avg(_.js.map(_.cost.tasks).sum.toDouble))
      ctx.layer("queries.files_read", avg(_.ex.map(_.filesRead).sum.toDouble))
      ctx.layer("queries.scan_bytes", avg(_.ex.map(_.scanBytes).sum.toDouble))
      ctx.layer("queries.exchange_bytes", avg(_.ex.map(_.exchangeBytes).sum.toDouble))
      val wall = callCosts.map(_.wallMs).sum
      ctx.answer("query_time", Util.obj(
        "calls" -> callCosts.size, "wall_ms" -> wall,
        "driver_share" -> callCosts.map(_.driverMs).sum / wall,
        "planning_share" -> callCosts.map(_.ex.map(_.planMs).sum).sum / wall))
    }

    // ops: task cost per traced pass (query workloads) or per batch (tick_stream)
    val units = if (workload == "tick_stream") math.max(1, ctx.batchSpans.size)
      else math.max(1, spans.count(s => s.kind == "pass" && s.attrs.get("traced").contains(true)))
    val opsJobs = if (workload == "tick_stream") jobs.filter(_.streamBatch.isDefined)
      else callCosts.flatMap(_.js)
    val cost = new JobCost
    opsJobs.foreach(j => cost.add(j.cost))
    ctx.layer("ops.executor_cpu_s", cost.cpuNs / 1e9 / units)
    ctx.layer("ops.executor_run_s", cost.runMs / 1e3 / units)
    ctx.layer("ops.exchange_bytes", cost.shuffleWriteBytes.toDouble / units)
    ctx.layer("ops.fetch_wait_s", cost.fetchWaitMs / 1e3 / units)
    ctx.layer("ops.spill_bytes", cost.spillBytes.toDouble / units)
    ctx.layer("ops.gc_s", cost.gcMs / 1e3 / units)
    ctx.layer("ops.driver_s", callCosts.map(_.driverMs).sum / 1e3 / units)
    if (workload == "curation_batch") callCosts.groupBy(_.name).foreach { case (q, cs) =>
      ctx.layer(s"ops.$q.run_s", Util.median(cs.map(_.js.map(_.cost.runMs).sum / 1e3)))
      ctx.layer(s"ops.$q.driver_s", Util.median(cs.map(_.driverMs / 1e3)))
    }

    val layers = Tracer.layers(spans)
    val root = layers.find(_._1 == "workload").map(_._2).getOrElse(0.0)
    ctx.layer("trace.layer_share", 1.0 - root / (wallUs / 1e6))
    ctx.layer("trace.overhead_share", ctx.overheadShare.getOrElse(
      tracer.callbackNs.get / 1e3 / wallUs))
    val plans = Seq("textstat", "norm_text", "repstats").map { p =>
      val a = ctx.layerMetrics(s"plans.${p}_ns_per_row.ascii")
      val n = ctx.layerMetrics(s"plans.${p}_ns_per_row.nonascii")
      p -> Util.obj("ascii_ns_per_row" -> a, "nonascii_ns_per_row" -> n, "nonascii_over_ascii" -> n / a)
    }
    ctx.answer("plans_ascii_vs_nonascii", Util.obj(plans: _*))

    val self = Tracer.selfTimes(spans)
    val artifact = Util.obj(
      "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "wall_s" -> wallUs / 1e6,
      "layers" -> layers.map { case (k, s, n) => Util.obj("layer" -> k, "self_s" -> s, "spans" -> n) },
      "remainder_s" -> root,
      "note" -> ("self time is a span's duration minus what its child spans cover; the " +
        "workload layer's self time is the remainder no layer accounts for. Reads and " +
        "micro-batches of tick_stream run concurrently, so their layers overlap in time."),
      "answers" -> ctx.answers,
      "per_layer" -> ctx.layerMetrics,
      "spans" -> spans.sortBy(_.startUs).map(s => Util.obj("id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs,
        "self_us" -> self(s.id)) ++ s.attrs))
    val dir = new java.io.File(work, "trace")
    dir.mkdirs()
    val f = new java.io.File(dir, s"$workload-seed${ctx.seed}.json")
    java.nio.file.Files.writeString(f.toPath, Util.Json.render(artifact) + "\n")
    ctx.info("trace_file", f.getPath)
  }
}
