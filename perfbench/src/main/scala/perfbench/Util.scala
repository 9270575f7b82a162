package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Small helpers shared by the workloads: clocks, order statistics,
  * result digests and a minimal JSON writer. */
object Util {

  def nowNs(): Long = System.nanoTime()
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Quantile over operation kinds: each kind's samples reduce to their
    * own quantile `q` first, and `q` is then taken over those values.
    * With a few kinds of very different cost, a pooled quantile falls in
    * the gap between two kinds and follows one kind's extreme sample;
    * this one moves only with the kinds' own quantiles. */
  def quantileOfKinds(byKind: Iterable[Seq[Double]], q: Double): Double =
    quantile(byKind.filter(_.nonEmpty).map(quantile(_, q)).toSeq, q)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Row count plus an order-sensitive hash of the rendered rows. Rows
    * render through `Row.toString`, which is stable across JVMs for the
    * value types the queries return. */
  def digest(rows: Array[Row]): String =
    s"${rows.length}:${scala.util.hashing.MurmurHash3.orderedHash(rows.iterator.map(_.toString))}"

  def digest(df: DataFrame): String = digest(df.collect())

  /** Minimal JSON rendering for the result line and the trace file. */
  object Json {
    def str(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")

    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null"
      else java.math.BigDecimal.valueOf(v).toPlainString

    def render(v: Any): String = v match {
      case null | None => "null"
      case Some(x) => render(x)
      case s: String => str(s)
      case b: Boolean => b.toString
      case i: Int => i.toString
      case l: Long => l.toString
      case d: Double => num(d)
      case f: Float => num(f.toDouble)
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
      case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
      case xs: Array[_] => xs.map(render).mkString("[", ",", "]")
      case other => str(other.toString)
    }
  }

  /** Ordered map literal for JSON objects whose key order should read well. */
  def obj(kvs: (String, Any)*): scala.collection.mutable.LinkedHashMap[String, Any] =
    scala.collection.mutable.LinkedHashMap(kvs: _*)

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Files (not directories) under `dir` whose names end with `suffix`. */
  def filesUnder(dir: java.io.File, suffix: String): Seq[java.io.File] =
    if (dir.isDirectory) Option(dir.listFiles()).toSeq.flatten.flatMap(filesUnder(_, suffix))
    else if (dir.getName.endsWith(suffix)) Seq(dir)
    else Nil
}
