package perfbench

import scala.collection.mutable

import graft.SparkEntry

/** The two query workloads: one closed-loop client running a fixed set
  * of registry queries in passes over read-only tables. */
object QueryLoop {

  /** The six reference parity queries from the registry's market/tick
    * section: point lookups, a filtered aggregate, a top-k and daily
    * bars over the events table. No `graft_*` text expression runs
    * here. (The market/tick and relational sections hold 44 queries; a
    * cold pass over all of them takes about 50 s on 4 cores, more than
    * one run can spend.) */
  val Market: Seq[String] = Seq(
    "latest_tick", "daily_stats", "token_freshness", "latest_prices_topk", "daily_ohlcv",
    "volume_profile")

  /** LLM-curation queries: per-row `graft_*` text expressions (quality
    * stats, normalisation, repetition), MinHash dedup exchanges, and the
    * session-cache builds of the cold pass. `dataset_card`,
    * `hll_gram_cardinality`, `domain_reweight`, `pipeline_training_manifest`,
    * `dedup_ngram_clusters`, `ann_ivf_topk` and `text_perplexity` are left
    * out: with them a cold pass takes about 58 s on 4 cores (18-30 s of it
    * one n-gram cache build), more than one run can spend. */
  val Curation: Seq[String] = Seq("text_quality", "pipeline_filtered_docs", "dedup_minhash_clusters")

  val WarmPasses = 2

  /** Queries re-checked against their digests after the timed passes. */
  val CheckSample = 2

  def run(ctx: Ctx, names: Seq[String], dir: String, expected: Map[String, String]): Unit = {
    val spark = ctx.spark
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not in the query registry: ${unknown.mkString(", ")}")
    val rng = new scala.util.Random(ctx.seed)
    def order(): Seq[String] = rng.shuffle(names)

    // one execution; `collect` returns the result's digest
    def exec(parent: Long, name: String, collect: Boolean): Option[String] =
      ctx.tracer.span(spark, "query", name, parent) { _ =>
        val df = SparkEntry.queries(name)(spark, dir)
        if (collect) Some(Util.digest(df))
        else { df.write.format("noop").mode("overwrite").save(); None }
      }

    val got = mutable.LinkedHashMap[String, String]()
    def check(name: String, digest: String): Boolean = {
      val want = expected.get(name).orElse(got.get(name))
      got.getOrElseUpdate(name, digest)
      val ok = want.forall(_ == digest)
      if (!ok) ctx.log(s"digest mismatch on $name: got $digest, want ${want.get}")
      ok
    }
    def attempt(name: String)(f: => Boolean): Unit = {
      ctx.attempted += 1
      val ok = try f catch { case scala.util.control.NonFatal(e) =>
        ctx.log(s"$name failed: $e"); false }
      if (!ok) ctx.failed += 1
    }

    // Cold pass, in the set's fixed order so its cost does not depend on
    // the seed (the first query to need a session cache pays its build):
    // untimed, collects every result and checks its digest.
    val coldT0 = System.nanoTime()
    val coldPerQuery = mutable.LinkedHashMap[String, Double]()
    ctx.tracer.span(spark, "pass", "cold", ctx.rootSpan) { p =>
      names.foreach { n =>
        val q0 = System.nanoTime()
        attempt(n)(check(n, exec(p, n, collect = true).get))
        coldPerQuery(n) = Util.secondsSince(q0)
      }
    }
    val coldS = Util.secondsSince(coldT0)
    ctx.e2e("setup_s", (System.currentTimeMillis() - ctx.sessionStartEpochMs) / 1000.0)

    // Untimed warm passes: the driver's JIT is still settling after the
    // cold pass, and timed passes should not measure that.
    (1 to WarmPasses).foreach { w =>
      ctx.tracer.span(spark, "pass", s"warm $w", ctx.rootSpan) { p =>
        order().foreach(n => attempt(n) { exec(p, n, collect = false); true })
      }
    }

    // Timed passes until the window is used, at least two. The traced run
    // runs at least four and attaches the listeners on the even ones, so
    // traced and untraced passes compare after a first warm pass.
    val execs = mutable.ArrayBuffer[Double]()
    val perQuery = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val passes = mutable.ArrayBuffer[(Double, Boolean)]()
    val minPasses = if (ctx.tracer.enabled) 4 else 2
    val windowT0 = System.nanoTime()
    while (Util.secondsSince(windowT0) < ctx.seconds || passes.size < minPasses) {
      val traced = ctx.tracer.enabled && passes.size % 2 == 1
      if (traced) ctx.tracer.attach(spark) else ctx.tracer.detach(spark)
      val t0 = System.nanoTime()
      ctx.tracer.span(spark, "pass", s"pass ${passes.size + 1}", ctx.rootSpan,
          Map("traced" -> traced)) { p =>
        order().foreach { n =>
          attempt(n) {
            val q0 = System.nanoTime()
            exec(p, n, collect = false)
            val dt = Util.secondsSince(q0)
            execs += dt
            perQuery.getOrElseUpdate(n, mutable.ArrayBuffer[Double]()) += dt
            true
          }
        }
      }
      passes += ((Util.secondsSince(t0), traced))
    }
    val windowS = Util.secondsSince(windowT0)
    ctx.tracer.detach(spark)

    // warm re-check of a seeded sample: cached state must not change results
    rng.shuffle(names).take(CheckSample).foreach { n =>
      attempt(n)(check(n, exec(ctx.rootSpan, n, collect = true).get))
    }
    ctx.tracer.attach(spark)
    ctx.digests ++= got

    val warm = passes.filterNot(_._2).map(_._1).toSeq
    ctx.e2e("throughput_per_s", execs.size / windowS)
    val byQuery = perQuery.values.map(_.toSeq)
    ctx.e2e("latency_p50_s", Util.quantileOfKinds(byQuery, 0.5))
    ctx.e2e("latency_p90_s", Util.quantileOfKinds(byQuery, 0.9))
    ctx.e2e("read_p50_s", Util.quantileOfKinds(byQuery, 0.5))
    ctx.info("executions", execs.size)
    ctx.info("passes", passes.size)
    ctx.info("pass_s", Util.median(warm))
    ctx.info("cold_pass_s", coldS)
    ctx.info("cold_query_s", coldPerQuery)
    ctx.info("query_median_s", perQuery.map { case (k, v) => k -> Util.median(v.toSeq) })
    ctx.layer("core.cold_extra_s", coldS - Util.median(warm))
    val traced = passes.filter(_._2).map(_._1).toSeq
    if (traced.nonEmpty)
      ctx.overheadShare = Some(Util.median(traced) / Util.median(warm.drop(1)) - 1.0)
  }
}
