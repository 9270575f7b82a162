package graft

/** Driver-run benchmark: times every registered query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Failures are reported distinctly (round-1 verdict: a swallowed
  * exception must not look like a fast query): a failed query appears as
  * -1.0 in `queries` and with its message in `errors`.
  *
  * Each query runs once as warm-up (JIT + codegen + file-listing caches),
  * then timed GRAFT_BENCH_REPS times (default 3): `queries` reports the
  * per-query MIN — the load-immune number — and `queries_max` the worst
  * rep, so external box load shows up as min/max spread instead of
  * silently inflating the headline (a single-run bench once reported a
  * 27 s suite as 74 s under a noisy neighbor). Execution is forced
  * through the noop datasource so the full result materializes without
  * sink I/O skewing the number.
  *
  * Box-load detection (round 7's driver bench showed four 3-4x phantom
  * "regressions" on byte-identical code): when a query's max/min spread
  * across reps exceeds NoisyRatio (and the spread isn't sub-100ms
  * jitter), the bench prints a "noisy box" warning, runs the same
  * number of EXTRA reps (a deeper sample makes the min trustworthy
  * again), and — if the merged spread still exceeds the ratio — lists
  * the query in the JSON's `noisy` array so round-over-round comparers
  * (scripts/compare_bench.py) can exclude it from regression verdicts.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    graft.core.GraftConf.checkBenchHeadroom(sfDir) // provably-short heap dies NOW, not 2h in
    graft.core.GraftConf.checkBenchContention() // loaded box refuses to measure (r14 verdict #2)
    val spark = Graft.session()
    spark.sparkContext.setLogLevel("WARN")

    def runOnce(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // CANARY (r15): a fixed, corpus-independent workload timed before
    // the suite — 200M-row hash/agg (CPU + memory bandwidth) — so
    // round-over-round box drift is DATA instead of argument. Round 15
    // measured same-code queries shifting BOTH directions between r14
    // and r15 windows (SF1 improvements 0.4-0.6x beside FINAL/SF10
    // risers 1.5-3.7x, risers reproducing under solo JVMs with every
    // implementing file unchanged); a pinned canary in each artifact
    // lets the next comparer normalize or discount before blaming code.
    // min of 3 after one warm-up, same discipline as the queries.
    val canarySec: Double = {
      import org.apache.spark.sql.functions.{sum => fsum, xxhash64, col => fcol}
      def once(): Double = {
        val t0 = System.nanoTime()
        // % keeps the running sum far from Long overflow (ANSI mode throws)
        spark.range(200000000L).select(fsum(xxhash64(fcol("id")) % 1000003L))
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warm-up
      (1 to 3).map(_ => once()).min
    }

    // Queries that time index CONSTRUCTION end-to-end (multi-batch
    // builds, compactions, crash retries replayed inside the query to
    // prove append == rebuild) rather than probes. Legitimate, but their
    // cost scales with BATCH COUNT, not corpus or probe work, and at
    // ~20s combined they drown the other queries' signal in the suite
    // total — so the JSON reports the two pools separately
    // (total_probe/total_harness) and compare_bench.py verdicts them
    // separately.
    val harnessQueries = Set("curation_replay", "vector_curation_replay",
      "bm25_incremental", "curation_replay_decontam", "media_curation_replay",
      "media_curation_replay_mixed")

    // DIAGNOSTIC pool (round-14 verdict #3): queries kept in the
    // registry as documented sample-scale diagnostics whose cost law is
    // known-quadratic by design — the 60-bit phash face (its n^2/2^bits
    // candidate term is the reason the wide 240-bit face exists and is
    // the production path, ops/Multimodal.scala), the PPJoin
    // all-pairs verifier (the linear ngramClusters contract is the
    // production path, ops/TextDedup.scala), and — r15 verdict #3/#4 —
    // the simhash ALL-PAIRS face dedup_simhash, whose output contract
    // IS every verified pair (316.8M at sf100 vs ~30M at sf10, the same
    // "a 1000-member family IS 499,500 rows" law that demoted ppjoin);
    // simhashClusters (forest-sparsified, linear output) is the
    // production contract. They stay oracle-checked but report under
    // total_diagnostic so total_probe and the scaling ladder's
    // >2x-linear count measure only scale paths.
    // r17: the three FORCED-LEVEL simhash faces are correctness-gate
    // handles (they execute the level-1/2 block-combination band
    // algebra that no natural corpus below 4.2M unique sigs reaches,
    // r16 verdict #1) — never production paths at any SF, so they
    // report as diagnostics too
    val diagnosticQueries =
      Set("media_phash_dedup", "dedup_ngram_ppjoin", "dedup_simhash",
        "dedup_simhash_l1", "dedup_simhash_clusters_l1", "dedup_simhash_clusters_l2")

    // GRAFT_BENCH_ONLY: comma-separated query names — run just those
    // (scaling-ladder subsets at big SF; unknown names are an error,
    // not a silent skip)
    val only = sys.env.get("GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { o =>
      val unknown = o -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"GRAFT_BENCH_ONLY names unknown queries: $unknown")
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val reps = sys.env.getOrElse("GRAFT_BENCH_REPS", "3").toInt.max(1)
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val maxes = scala.collection.mutable.LinkedHashMap[String, Double]()
    val allRuns = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val trace = sys.env.contains("GRAFT_BENCH_TRACE")
    def up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val NoisyRatio = 2.5
    val NoisyMinSpreadSec = 0.1 // sub-100ms spread is scheduler jitter, not load
    val noisy = scala.collection.mutable.ArrayBuffer[String]()
    def isNoisy(runs: Seq[Double]): Boolean =
      runs.max / runs.min > NoisyRatio && runs.max - runs.min > NoisyMinSpreadSec
    names.foreach { name =>
      try {
        runOnce(name) // warm-up
        if (trace) System.err.println(f"[trace] $name timed-start uptime=$up%.1f")
        def timedReps(n: Int): Seq[Double] = (1 to n).map { _ =>
          val t0 = System.nanoTime()
          runOnce(name)
          (System.nanoTime() - t0) / 1e9
        }
        var runs = timedReps(reps)
        if (isNoisy(runs)) {
          System.err.println(
            f"[bench] noisy box on $name (min=${runs.min}%.2f max=${runs.max}%.2f, " +
              f"ratio ${runs.max / runs.min}%.1fx) — running $reps extra reps")
          runs = runs ++ timedReps(reps)
          if (isNoisy(runs)) noisy += name
        }
        timings(name) = runs.min
        maxes(name) = runs.max
        allRuns(name) = runs
        if (trace) System.err.println(
          f"[trace] $name timed-end uptime=$up%.1f min=${runs.min}%.2f max=${runs.max}%.2f")
      } catch {
        case e: Throwable =>
          timings(name) = -1.0
          maxes(name) = -1.0
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      }
    }

    def esc(s: String): String =
      s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
    // Locale.ROOT: a comma-decimal default locale would make this line
    // invalid JSON and lose the whole bench round at the driver's parser
    def num(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = timings.map { case (k, v) => s""""${esc(k)}":${num(v)}""" }
      .mkString("{", ",", "}")
    val qmax = maxes.map { case (k, v) => s""""${esc(k)}":${num(v)}""" }
      .mkString("{", ",", "}")
    val qruns = allRuns.map { case (k, vs) =>
      s""""${esc(k)}":[${vs.map(num).mkString(",")}]""" }
      .mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
      .mkString("{", ",", "}")
    val total = timings.values.filter(_ >= 0).sum
    val totalMax = maxes.values.filter(_ >= 0).sum
    val totalProbe = timings.collect {
      case (k, v) if v >= 0 && !harnessQueries(k) && !diagnosticQueries(k) => v }.sum
    val totalHarness = timings.collect {
      case (k, v) if v >= 0 && harnessQueries(k) => v }.sum
    val totalDiagnostic = timings.collect {
      case (k, v) if v >= 0 && diagnosticQueries(k) => v }.sum
    val harnessArr = harnessQueries.toSeq.sorted
      .map(n => s""""${esc(n)}"""").mkString("[", ",", "]")
    val diagArr = diagnosticQueries.toSeq.sorted
      .map(n => s""""${esc(n)}"""").mkString("[", ",", "]")
    val noisyArr = noisy.map(n => s""""${esc(n)}"""").mkString("[", ",", "]")
    val pools =
      s""""total_probe":${num(totalProbe)},"total_harness":${num(totalHarness)},"total_diagnostic":${num(totalDiagnostic)},"harness":$harnessArr,"diagnostic":$diagArr"""
    // the driver's stdout capture is BYTE-CAPPED (BENCH_r07/r08/r14 all
    // shipped "parsed": null — r14's tail shows the 15 KB per-query line
    // cut mid-token). Three-line protocol so SOMETHING always parses:
    //   1. a compact totals-only line FIRST (survives a byte cap),
    //   2. the full per-query line (queries + queries_max; queries_runs
    //      goes only to the durable file — it alone was half the bytes),
    //   3. the compact line again LAST (survives a last-line parser).
    // GRAFT_BENCH_OUT keeps the complete line including queries_runs.
    val compact =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","total_max":${num(totalMax)},$pools,"reps":$reps,"canary_sec":${num(canarySec)},"noisy":$noisyArr,"n_failed":${errors.size},"sf":"$sfDir"}"""
    val line =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qs,"queries_max":$qmax,"total_max":${num(totalMax)},$pools,"reps":$reps,"canary_sec":${num(canarySec)},"noisy":$noisyArr,"errors":$es,"n_failed":${errors.size},"sf":"$sfDir"}"""
    val full =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qs,"queries_max":$qmax,"queries_runs":$qruns,"total_max":${num(totalMax)},$pools,"reps":$reps,"canary_sec":${num(canarySec)},"noisy":$noisyArr,"errors":$es,"n_failed":${errors.size},"sf":"$sfDir"}"""
    println(compact)
    println(line)
    println(compact)
    sys.env.get("GRAFT_BENCH_OUT").foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), full + "\n")
    }
    spark.stop()
  }
}
