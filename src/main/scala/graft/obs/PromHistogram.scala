package graft.obs

import java.util.concurrent.atomic.LongAdder

/** A fixed-bucket Prometheus histogram in the text exposition format —
  * the shape dashboards expect (`*_bucket{le="..."}` / `_sum` /
  * `_count` series), matching the reference's explicit-bucket request
  * and query duration histograms
  * (/root/reference/monitoring/metrics.go:13-17,42-47) without pulling
  * a client library into the build.
  *
  * Buckets are CUMULATIVE per the exposition spec: `le="0.05"` counts
  * every observation <= 0.05 s, and the `+Inf` bucket equals `_count`.
  * Each observe() touches one LongAdder (striped, contention-free) plus
  * a CAS-free sum accumulator — safe to call from listener threads and
  * per-batch driver code without coordination.
  *
  * Exposition holds NO lock: a scrape racing an observe may see a
  * bucket increment without the sum (or vice versa) — the standard
  * Prometheus client behavior; series are monotone so rates stay
  * correct. */
final class PromHistogram(val name: String, val help: String,
                          val buckets: Seq[Double] = PromHistogram.DefaultBuckets,
                          val labels: String = "") {
  require(buckets == buckets.sorted && buckets.distinct == buckets,
    s"buckets must be strictly increasing: $buckets")

  // one counter per finite bucket (NON-cumulative internally; summed at
  // exposition) + count + sum-of-observations in nanos (longs, not
  // doubles: LongAdder gives striped atomicity that a double CAS loop
  // would pay for on every hot-path batch)
  private val perBucket = Array.fill(buckets.size)(new LongAdder)
  private val count = new LongAdder
  private val sumNanos = new LongAdder

  def observe(seconds: Double): Unit = {
    val i = buckets.indexWhere(seconds <= _)
    if (i >= 0) perBucket(i).increment()
    count.increment()
    sumNanos.add((seconds * 1e9).toLong)
  }

  def observeNanos(nanos: Long): Unit = observe(nanos / 1e9)
  def observeMillis(millis: Long): Unit = observe(millis / 1e3)

  def observed: Long = count.sum()

  /** Prometheus text exposition lines (no trailing newline). */
  def exposition: String = PromHistogram.header(name, help) + samples

  /** The `_bucket`/`_sum`/`_count` sample lines alone, each carrying
    * `labels` (e.g. `phase="addBatch"`), no trailing newline. */
  def samples: String = {
    val sb = new StringBuilder
    val lbl = if (labels.isEmpty) "" else s"{$labels}"
    val lblLe = if (labels.isEmpty) "{le=" else s"{$labels,le="
    var cum = 0L
    def le(b: Double): String =
      if (b == b.toLong.toDouble) b.toLong.toString else b.toString
    buckets.indices.foreach { i =>
      cum += perBucket(i).sum()
      sb.append(s"""${name}_bucket$lblLe"${le(buckets(i))}"} $cum""").append('\n')
    }
    sb.append(s"""${name}_bucket$lblLe"+Inf"} ${count.sum()}""").append('\n')
    sb.append(s"${name}_sum$lbl ${sumNanos.sum() / 1e9}\n")
    sb.append(s"${name}_count$lbl ${count.sum()}")
    sb.toString
  }
}

/** A labeled histogram family: one series per value of `label`, in the
  * order given, under a single HELP/TYPE header. */
final class PromHistogramFamily(name: String, help: String, label: String,
                                values: Seq[String], buckets: Seq[Double]) {
  private val series = values.map(v =>
    v -> new PromHistogram(name, help, buckets, s"""$label="$v"""")).toMap

  def apply(value: String): PromHistogram = series(value)

  def exposition: String =
    PromHistogram.header(name, help) + values.map(series(_).samples).mkString("\n")
}

object PromHistogram {
  private[obs] def header(name: String, help: String): String =
    s"# HELP $name $help\n# TYPE $name histogram\n"

  /** The reference's request-duration buckets, 1 ms to 1 s
    * (/root/reference/monitoring/metrics.go:16). */
  val DefaultBuckets: Seq[Double] =
    Seq(0.001, 0.005, 0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1.0)
}
