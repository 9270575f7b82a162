package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Operator-level scale smoke for the round-3 operators: synthetic tables
  * from spark.range at 1x and 10x, wall-clock ratio per operator. A
  * scale-safe shape grows ~linearly (ratio ~<= 10x, usually less on 32
  * cores with fixed overheads); a quadratic candidate-pair or nested-loop
  * shape shows >> 10x. Results recorded in docs/SCALING.md.
  *
  * Synthetic shapes (deterministic, arithmetic only):
  *  - asof_join: N point rows, N/10 quote rows, 1000 keys
  *  - range_join: N point rows, N/100 intervals (avg width ~5 buckets),
  *    1000 keys
  *  - window_cum: running sum over N rows, 1000 keys
  */
object ScaleSmoke {

  def main(args: Array[String]): Unit = {
    val base = if (args.nonEmpty) args(0).toLong else 1000000L // 1x = 1M rows
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("ERROR")

    val keys = 1000

    def points(n: Long): DataFrame = spark.range(n).select(
      (col("id") % keys).as("k"),
      (col("id") * 37L % (n * 10)).as("ts"),
      col("id").as("pid"))

    def quotes(n: Long): DataFrame = spark.range(n / 10).select(
      (col("id") % keys).as("k"),
      (col("id") * 371L % (n * 10)).as("ts"),
      (col("id") % 997).cast("double").as("px"))
      .groupBy("k", "ts").agg(max("px").as("px"))

    def intervals(n: Long): DataFrame = spark.range(n / 100).select(
      (col("id") % keys).as("k"),
      (col("id") * 3701L % (n * 10)).as("lo"),
      col("id").as("iid"))
      // widths up to 50k units = up to 6 buckets of 10k — the explode
      // fan-out path must actually be exercised
      .withColumn("hi", col("lo") + (col("iid") % 50000L) + lit(1L))

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    def time(fn: => Unit): Double = {
      val t0 = System.nanoTime(); fn; (System.nanoTime() - t0) / 1e9
    }

    val ops: Seq[(String, Long => DataFrame)] = Seq(
      "asof_join" -> { n =>
        graft.ops.AsofJoin.joinAsof(points(n), quotes(n), "k", "ts", Seq("px"))
      },
      "range_join" -> { n =>
        graft.ops.RangeJoin.pointInIntervalBucketed(
          points(n), intervals(n), "k", "ts", "lo", "hi", bucketWidth = 10000L)
          .groupBy("k").agg(count(lit(1)).as("hits"))
      },
      "window_cum" -> { n =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("k").orderBy("ts", "pid")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        points(n).withColumn("cum", sum("pid").over(w))
      },
      "salted_agg" -> { n =>
        graft.ops.Skew.saltedSumCount(
          points(n).withColumn("k", when(col("pid") % 2 === 0, lit(0)).otherwise(col("k"))),
          col("k"), col("pid"), 16)
      })

    println(f"${"operator"}%-12s ${"1x(s)"}%8s ${"10x(s)"}%8s ratio   (1x = $base rows)")
    for ((name, mk) <- ops) {
      noop(mk(base)); noop(mk(base * 10)) // warm both
      val t1 = time(noop(mk(base)))
      val t10 = time(noop(mk(base * 10)))
      println(f"$name%-12s $t1%8.2f $t10%8.2f ${t10 / t1}%5.1fx")
    }
    spark.stop()
  }
}
