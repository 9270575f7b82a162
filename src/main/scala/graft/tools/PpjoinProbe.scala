package graft.tools

import org.apache.spark.sql.functions._

/** Threshold-dependence probe for the lossless PPJoin path: the Jaccard
  * prefix has length |d| - ceil(t*|d|) + 1, so its pruning power is ~t —
  * at t=0.2 the "prefix" is 80% of every doc and lossless filtering
  * cannot beat the plain inverted index; at t>=0.5 it prunes hard. This
  * probe times unfiltered vs PPJoin at several thresholds on the k-fold
  * replicated corpus (every replica a true near-dup — the adversarial
  * case) and verifies pair-count equality (losslessness) at each point.
  * Results in docs/SCALING.md. Usage:
  *   sbt "runMain graft.tools.PpjoinProbe [srcSfDir] [factor]"
  */
object PpjoinProbe {

  def main(args: Array[String]): Unit = {
    val positional = args.filterNot(_.startsWith("--"))
    val srcDir = if (positional.length > 0) positional(0) else "/root/testdata/sf0.1"
    val factor = if (positional.length > 1) positional(1).toInt else 10
    val boilerOnly = args.contains("--boilerplate-only")
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("ERROR")

    val src = spark.read.parquet(s"$srcDir/documents.parquet")
    val docs = Replicas.docs(src, factor).persist()
    println(s"${docs.count()} docs (${factor}x $srcDir)")

    def timed(f: => Long): (Long, Double) = {
      val t0 = System.nanoTime()
      val n = f
      (n, (System.nanoTime() - t0) / 1e9)
    }
    if (!boilerOnly) {
      for (t <- Seq(0.2, 0.5, 0.8)) {
        val (nFull, sFull) = timed(graft.ops.TextHashing.jaccardPairs(docs, t).count())
        val (nPp, sPp) = timed(graft.ops.TextHashing.jaccardPairsPPJoin(docs, t).count())
        val loss = if (nFull == nPp) "lossless" else s"LOST ${nFull - nPp} PAIRS"
        println(f"t=$t%.1f  unfiltered: $nFull%8d pairs $sFull%7.1f s   ppjoin: $nPp%8d pairs $sPp%7.1f s   $loss")
      }
    }
    docs.unpersist()

    // the scenario PPJoin exists for: web boilerplate — one shared hot
    // phrase in EVERY doc. The inverted index pays sum(df^2) over the
    // boilerplate shingles (df = n_docs, so ~n_docs^2 join rows per hot
    // shingle); the canonical df-ASC order puts them at the END of every
    // doc's shingle list, so at any real threshold they never enter a
    // prefix and PPJoin skips the blowup entirely — losslessly.
    val boiler = src.withColumn("text",
      concat(col("text"), lit(" all rights reserved terms of service apply"))).persist()
    println(s"\nboilerplate corpus: ${boiler.count()} docs, 1x, shared hot phrase in every doc")
    for (t <- Seq(0.5)) {
      val (nFull, sFull) = timed(graft.ops.TextHashing.jaccardPairs(boiler, t).count())
      val (nPp, sPp) = timed(graft.ops.TextHashing.jaccardPairsPPJoin(boiler, t).count())
      val loss = if (nFull == nPp) "lossless" else s"LOST ${nFull - nPp} PAIRS"
      println(f"t=$t%.1f  unfiltered: $nFull%8d pairs $sFull%7.1f s   ppjoin: $nPp%8d pairs $sPp%7.1f s   $loss")
    }
    spark.stop()
  }
}
