package graft.tools

import org.apache.spark.sql.functions._

/** Output-shape smoke for the near-dup dedup contracts: replicates the
  * corpus k-fold with near-identical replicas (every replica IS a true
  * near-dup of its original — the adversarial case for dedup), then
  * compares how the output contracts grow for BOTH banded families:
  *
  *  - pair contracts (`dedup_simhash`, `dedup_minhash`): an m-doc
  *    cluster emits m(m-1)/2 rows — quadratic in cluster size, so
  *    k-fold replication grows output ~k^2 (worse for minhash, where
  *    every original-replica pair passes exact-Jaccard verification).
  *  - cluster contracts (`*_clusters`, (doc_id, cluster_rep)): an m-doc
  *    cluster emits m rows — linear, so replication grows output ~k.
  *
  * Each row prints 1x/kx counts, growth, and (t1 -> tk) wall seconds.
  * Results recorded in docs/SCALING.md. Usage:
  *   sbt "runMain graft.tools.ClusterSmoke [srcSfDir] [factor]"
  */
object ClusterSmoke {

  def main(args: Array[String]): Unit = {
    val positional = args.filterNot(_.startsWith("--")) // flags are position-independent
    val srcDir = if (positional.length > 0) positional(0) else "/root/testdata/sf0.01"
    val factor = if (positional.length > 1) positional(1).toInt else 4
    // --stages-only: skip the quadratic PAIR-contract outputs (an m-doc
    // cluster emits m(m-1)/2 pair rows — at 10x sf0.1 that's the shape
    // this smoke exists to warn about) and time the cluster pipeline
    // stage by stage instead
    val stagesOnly = args.contains("--stages-only")
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("ERROR")

    def replicated(k: Int): String = {
      val out = java.nio.file.Files.createTempDirectory(s"clsmoke$k").toString
      Replicas.docs(spark.read.parquet(s"$srcDir/documents.parquet"), k)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      out
    }

    def measure(dir: String): Map[String, (Long, Double)] = {
      def timed(f: => Long): (Long, Double) = {
        val t0 = System.nanoTime()
        val n = f
        (n, (System.nanoTime() - t0) / 1e9)
      }
      Map(
        "simhash pair rows" -> timed(graft.ops.TextDedup.simhash(spark, dir).count()),
        "simhash cluster rows" -> timed(graft.ops.TextDedup.simhashClusters(spark, dir).count()),
        "minhash pair rows" -> timed(graft.ops.TextDedup.minhashLsh(spark, dir).count()),
        "minhash cluster rows" -> timed(graft.ops.TextDedup.minhashClusters(spark, dir).count()))
    }

    // stage timings: each count is taken in pipeline order against warm
    // session caches, so a stage's time is its own INCREMENTAL cost
    // (sigs; then the sig/pair graph given sigs; then fixpoint + cluster
    // output given the graph)
    def measureStages(dir: String): Seq[(String, Long, Double)] = {
      import graft.ops.TextDedup
      def timed(f: => Long): (Long, Double) = {
        val t0 = System.nanoTime()
        val n = f
        (n, (System.nanoTime() - t0) / 1e9)
      }
      TextDedup.invalidate(spark, dir)
      Seq(
        "simhash: signatures", "simhash: sig pair graph", "simhash: fixpoint+output",
        "minhash: verified pairs", "minhash: fixpoint+output",
        "ngram: exact pairs", "ngram: fixpoint+output",
        "ngram: prefix-filtered", "ngram: ppjoin (lossless)")
        .zip(Seq(
          timed(TextDedup.simhashSigs(spark, dir).count()),
          timed(TextDedup.sigPairs(spark, dir).count()),
          timed(TextDedup.simhashClusters(spark, dir).count()),
          timed(TextDedup.minhashPairs(spark, dir).count()),
          timed(TextDedup.minhashClusters(spark, dir).count()),
          timed(TextDedup.ngramJaccard(spark, dir).count()),
          timed(TextDedup.ngramClusters(spark, dir).count()),
          // the documented mitigation for the exact path's sum(df^2)
          // blowup: candidates from shingles with df <= 50 only, still
          // verified exactly — compare its growth against "exact pairs".
          // Neither filter stage reads the session caches, so release
          // them first: the 10x pair graphs + shingle index otherwise
          // pin storage memory under the filter joins' big shuffles.
          { TextDedup.invalidate(spark, dir)
            timed(graft.ops.TextHashing.jaccardPairsPrefixFiltered(
              spark.read.parquet(s"$dir/documents.parquet"),
              TextDedup.JaccardThreshold, maxShingleDf = 50).count()) },
          // the LOSSLESS mitigation: PPJoin prefix+length+positional
          // filters, 100% recall by construction — compare its growth
          // against both "exact pairs" (unfiltered) and the df-cap row
          timed(graft.ops.TextHashing.jaccardPairsPPJoin(
            spark.read.parquet(s"$dir/documents.parquet"),
            TextDedup.JaccardThreshold).count())))
        .map { case (name, (n, t)) => (name, n, t) }
    }

    val d1 = replicated(1)
    val dk = replicated(factor)
    if (!stagesOnly) {
      val m1 = measure(d1)
      val mk = measure(dk)
      println(f"${"output"}%-22s ${"1x"}%10s ${s"${factor}x"}%10s ${"growth"}%8s  (docs x$factor, near-identical replicas)")
      for (key <- Seq("simhash pair rows", "simhash cluster rows",
          "minhash pair rows", "minhash cluster rows")) {
        val (n1, t1) = m1(key)
        val (nk, tk) = mk(key)
        println(f"$key%-22s $n1%10d $nk%10d ${nk.toDouble / math.max(n1, 1)}%7.1fx  (${t1}%.1fs -> ${tk}%.1fs)")
      }
    }
    val s1 = measureStages(d1)
    val sk = measureStages(dk)
    println()
    println(f"${"stage"}%-26s ${"1x rows"}%10s ${"1x s"}%7s ${s"${factor}x rows"}%10s ${s"${factor}x s"}%7s ${"rows"}%7s ${"time"}%7s")
    s1.zip(sk).foreach { case ((name, n1, t1), (_, nk, tk)) =>
      println(f"$name%-26s $n1%10d $t1%7.1f $nk%10d $tk%7.1f " +
        f"${nk.toDouble / math.max(n1, 1)}%6.1fx ${tk / math.max(t1, 0.001)}%6.1fx")
    }
    spark.stop()
  }
}
