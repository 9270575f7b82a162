package graft.tools

import graft.ops.Similarity

/** Large-k composed-index scale smoke (round 9): the broadcast-join
  * quantizer path end to end at the corpus sizes the literal path
  * could never reach.
  *
  *  - builds the PERSISTED composed index (raw and residual) with
  *    `seedBits` > 8 on a deterministic synthetic corpus of n and
  *    10n vectors (SyntheticEmbeddings.uniform — every sign bucket
  *    occupied, so ~2^seedBits live clusters);
  *  - spot-checks exactness: probing EVERY cluster with an unbounded
  *    shortlist must equal brute force (the index is a partitioning of
  *    the corpus, so "probe all" IS exact — wrong assignment or wrong
  *    ADC algebra would break equality);
  *  - times the COLD-session probe (fresh session, persisted index,
  *    zero training) at nprobe=4 — the number a 100 TB serving path
  *    cares about, and the 1x->10x ratio SCALING.md records.
  *
  * Run under SPARK_DRIVER_MEM=48g (10x = 64-dim doubles resident
  * during builds). Usage:
  *   sbt "runMain graft.tools.IvfPqSmoke [n] [seedBits]"
  */
object IvfPqSmoke {

  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 100000L
    val seedBits = if (args.length > 1) args(1).toInt else 10
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("ERROR")

    def time[T](fn: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = fn; (r, (System.nanoTime() - t0) / 1e9)
    }

    val qids = (0L until 16L).toSeq
    val k = 10
    for (sz <- Seq(n, n * 10)) {
      val dir = java.nio.file.Files.createTempDirectory(s"ivfpqsmoke$sz").toString
      SyntheticEmbeddings.write(spark, dir, SyntheticEmbeddings.uniform(spark, sz))
      val (_, tBuildRaw) = time(Similarity.buildIvfPqIndex(spark, dir, seedBits = seedBits))
      val kClusters = spark.read.parquet(Similarity.ivfIndexPath(dir)).count()
      require(kClusters > Similarity.MaxLiteralK,
        s"smoke must exercise the join path: k=$kClusters <= ${Similarity.MaxLiteralK}")

      // exactness spot-check at the SMALL size only (brute force at 10x
      // is a full n^2-ish scan this smoke doesn't need twice)
      if (sz == n) {
        val truth = Similarity.bruteForceTopKFor(spark, dir, qids.take(4), k)
          .collect().map(_.toString).toSeq
        val all = Similarity.ivfPqTopKFor(spark, dir, qids.take(4), k,
          nprobe = kClusters.toInt, shortlist = sz.toInt).collect().map(_.toString).toSeq
        require(all == truth, "probe-all large-k composed index must equal brute force")
        println(f"[$sz%8d] probe-all == brute force over ${qids.take(4).size} queries: OK")
      }

      // cold-session probe: persisted index, zero training (proven by
      // the training counters staying put)
      val km0 = Similarity.kmeansRuns.get(); val pq0 = Similarity.pqTrainRuns.get()
      val cold = spark.newSession()
      val (rows, tProbe) = time(
        Similarity.ivfPqTopKFor(cold, dir, qids, k, nprobe = 4, shortlist = 4 * k).count())
      require(Similarity.kmeansRuns.get() == km0 && Similarity.pqTrainRuns.get() == pq0,
        "cold probe must not retrain")
      // warm probe: session caches hot — the steady-state serving number
      val (_, tWarm) = time(
        Similarity.ivfPqTopKFor(cold, qids = qids, dir = dir, k = k,
          nprobe = 4, shortlist = 4 * k).count())

      val (_, tBuildRes) = time(
        Similarity.buildIvfPqIndex(spark, dir, seedBits = seedBits, residual = true))
      val coldR = spark.newSession()
      val (_, tProbeRes) = time(
        Similarity.ivfPqResidualTopKFor(coldR, dir, qids, k, nprobe = 4, shortlist = 4 * k).count())

      println(f"[$sz%8d] k=$kClusters  build(raw)=$tBuildRaw%6.1f s  build(residual)=$tBuildRes%6.1f s")
      println(f"[$sz%8d] cold probe(raw)=$tProbe%6.2f s  warm=$tWarm%6.2f s  cold probe(residual)=$tProbeRes%6.2f s  ($rows rows, ${qids.size} queries, nprobe=4)")
      Similarity.invalidateIvf(spark, dir)
      Similarity.invalidatePq(spark, dir)
    }
    spark.stop()
  }
}
