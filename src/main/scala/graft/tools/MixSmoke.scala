package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale smoke for the dataset-mixing operators: synthetic corpora at 1x
  * and 10x, wall-clock ratio per operator (ScaleSmoke's recipe; rows go
  * to docs/SCALING.md).
  *
  * Shapes under test:
  *  - pack_shards: the two-phase prefix sum — one range shuffle + one
  *    partition-count collect; must grow ~linearly
  *  - temperature_mix: domain-count agg + broadcast rate join + hash
  *    filter — scan-bound
  *  - quota_sample: one window shuffle on the domain key
  *  - weighted_sample: scan + global top-k (TakeOrderedAndProject)
  *
  * Synthetic docs: 64-char deterministic text (the md5 cost is the point
  * — the samplers hash every doc), 40 domains with a zipf-ish skew so
  * the quota window sees realistic imbalance.
  */
object MixSmoke {

  def main(args: Array[String]): Unit = {
    val base = if (args.nonEmpty) args(0).toLong else 2000000L // 1x = 2M docs
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("ERROR")

    def docs(n: Long): DataFrame = spark.range(n).select(
      col("id").as("doc_id"),
      // skewed domains: square the uniform so low ids dominate
      concat(lit("d"), ((col("id") % 40) * (col("id") % 40) / 40).cast("int")).as("source"),
      sha2(concat(lit("t"), col("id")), 256).substr(1, 64).as("text"),
      (col("id") % 997 + 1).as("n_chars"))

    def tok(n: Long): DataFrame = spark.range(n).select(
      col("id").as("doc_id"), (col("id") * 13 % 512 + 1).as("n_tok"))

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    def time(fn: => Unit): Double = {
      val t0 = System.nanoTime(); fn; (System.nanoTime() - t0) / 1e9
    }

    val ops: Seq[(String, Long => DataFrame)] = Seq(
      "pack_shards" -> { n =>
        graft.ops.Mixing.packShards(tok(n), "doc_id", "n_tok", budget = 1L << 20)
      },
      "temp_mix" -> { n =>
        graft.ops.Mixing.temperatureMixDf(docs(n), "source", alpha = 0.5, frac = 0.3)
      },
      "quota" -> { n =>
        graft.ops.Mixing.quotaSampleDf(docs(n), "source", cap = 10000)
      },
      "weighted" -> { n =>
        val d = docs(n)
        val key = round(pow(graft.ops.TextHashing.md5Long(col("text")) /
          lit(1152921504606846976.0), lit(1.0) / col("n_chars")), 6)
        d.withColumn("w_key", key).orderBy(col("w_key").desc).limit(1000)
      },
      // the training-sampler shape: k = 1M via threshold selection —
      // per-key counting + a filter, nothing k-sized on the driver; the
      // row's 1x→10x ratio should track the scan, not k
      "weighted_1m" -> { n =>
        val d = docs(n)
        val key = round(pow(graft.ops.TextHashing.md5Long(col("text")) /
          lit(1152921504606846976.0), lit(1.0) / col("n_chars")), 6)
        graft.ops.Mixing.weightedSampleByThreshold(
          d.withColumn("w_key", key), k = 1000000)
      })

    println(f"${"operator"}%-12s ${"1x(s)"}%8s ${"10x(s)"}%8s ratio   (1x = $base docs)")
    for ((name, mk) <- ops) {
      noop(mk(base)); noop(mk(base * 10)) // warm both
      val t1 = time(noop(mk(base)))
      val t10 = time(noop(mk(base * 10)))
      println(f"$name%-12s $t1%8.2f $t10%8.2f ${t10 / t1}%5.1fx")
    }
    spark.stop()
  }
}
