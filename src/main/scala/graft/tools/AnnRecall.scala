package graft.tools

import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** ANN retrieval-quality probe: recall@k of every ANN path vs the
  * brute-force ground truth, plus the sign-bucket candidate-stage recall
  * of the embedding near-dup gate vs brute-force pairs. Hash-determinism
  * (the oracle gate) proves ENGINE parity; this measures RETRIEVAL
  * quality — the number an ANN user asks first. Results recorded in
  * docs/SCALING.md. Usage:
  *   sbt "runMain graft.tools.AnnRecall [sfDir] [nQueries] [k]"
  */
object AnnRecall {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val nQueries = if (args.length > 1) args(1).toInt else 50
    val k = if (args.length > 2) args(2).toInt else 5
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("ERROR")

    val qids = (0L until nQueries.toLong).toSeq
    val nVecs = Similarity.emb(spark, sfDir).count()
    println(s"corpus $sfDir: $nVecs vectors, $nQueries queries, recall@$k")

    val truth = Similarity.bruteForceTopKFor(spark, sfDir, qids, k)
    truth.persist().count()
    def report(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      val r = Similarity.recallAtK(df, truth)
      println(f"$name%-28s recall@$k = $r%.3f  (${(System.nanoTime() - t0) / 1e9}%.1f s)")
    }
    report("lsh (4-bit, 1 probe)", Similarity.lshTopKFor(spark, sfDir, qids, k))
    report("lsh multi-probe (5 probes)", Similarity.lshMultiProbeTopKFor(spark, sfDir, qids, k))
    report("lsh 2 tables", Similarity.lshMultiTableTopKFor(spark, sfDir, qids, k, nTables = 2))
    report("lsh 4 tables", Similarity.lshMultiTableTopKFor(spark, sfDir, qids, k, nTables = 4))
    report("lsh 8 tables", Similarity.lshMultiTableTopKFor(spark, sfDir, qids, k, nTables = 8))
    report("ivf (trained, nprobe=1)", Similarity.ivfTopKFor(spark, sfDir, qids, k, nprobe = 1))
    report("ivf (trained, nprobe=2)", Similarity.ivfTopKFor(spark, sfDir, qids, k, nprobe = 2))
    report("ivf (trained, nprobe=4)", Similarity.ivfTopKFor(spark, sfDir, qids, k, nprobe = 4))
    report("pq (adc over 32-bit codes)",
      Similarity.pqTopKFor(spark, sfDir, qids, k).withColumnRenamed("approx_sim", "cos_sim"))
    // the standard PQ refinement, now a first-class operator: score
    // EVERYTHING by code (cheap), exact-rerank the top-shortlist
    report(s"pq + exact rerank of top ${4 * k}",
      Similarity.pqTopKReranked(spark, sfDir, qids, k, shortlist = 4 * k))
    report(s"pq + exact rerank of top ${8 * k}",
      Similarity.pqTopKReranked(spark, sfDir, qids, k, shortlist = 8 * k))
    // the composed index: IVF prunes I/O, ADC scores the probed
    // partitions, rerank reads the same posting rows
    report(s"ivfpq (nprobe=2, shortlist=${4 * k})",
      Similarity.ivfPqTopKFor(spark, sfDir, qids, k, nprobe = 2, shortlist = 4 * k))
    report(s"ivfpq (nprobe=4, shortlist=${8 * k})",
      Similarity.ivfPqTopKFor(spark, sfDir, qids, k, nprobe = 4, shortlist = 8 * k))
    // residual encoding (IVFADC): same budget, finer in-cluster codes —
    // compare against the raw-vector-coded rows above and against the
    // nprobe-matched IVF ceiling (|truth ∩ probed clusters|)
    report(s"ivfpq RESIDUAL (nprobe=2, sl=${4 * k})",
      Similarity.ivfPqResidualTopKFor(spark, sfDir, qids, k, nprobe = 2, shortlist = 4 * k))
    report(s"ivfpq RESIDUAL (nprobe=4, sl=${8 * k})",
      Similarity.ivfPqResidualTopKFor(spark, sfDir, qids, k, nprobe = 4, shortlist = 8 * k))
    truth.unpersist()

    // candidate-stage recall of the vector near-dup gate: of all TRUE
    // near-dup pairs (brute force over a deterministic sample), what
    // fraction lands in the same sign bucket (embeddingNearDup's
    // blocking) or within Hamming 1 (incrementalNearDup's multi-probe)?
    val sampleMod = math.max(1L, nVecs / 3000L)
    val s = Similarity.emb(spark, sfDir)
      .filter(col("vec_id") % sampleMod === 0)
      .withColumn("bkt", Similarity.bucket(col("v"), 4))
      .select("vec_id", "v", "nrm", "bkt")
    for (t <- Seq(0.3, 0.35, 0.4)) {
      val pairs = s.as("a").crossJoin(s.as("b"))
        .filter(col("a.vec_id") < col("b.vec_id")
          && col("a.nrm") > 0 && col("b.nrm") > 0)
        .withColumn("cos",
          Similarity.cosineWithNorms(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm")))
        .filter(col("cos") >= t)
        .select(
          (col("a.bkt") === col("b.bkt")).cast("int").as("same_bkt"),
          (bit_count(col("a.bkt").bitwiseXOR(col("b.bkt"))) <= 1).cast("int").as("ham1"))
      val agg = pairs.agg(count(lit(1)), sum("same_bkt"), sum("ham1")).collect()(0)
      val n = agg.getLong(0)
      if (n == 0L) println(f"near-dup pairs (cos>=$t%.2f): none in sample (mod=$sampleMod)")
      else println(f"near-dup pairs (cos>=$t%.2f): $n%6d  same-bucket recall ${agg.getLong(1).toDouble / n}%.3f  hamming<=1 recall ${agg.getLong(2).toDouble / n}%.3f  (sample mod=$sampleMod)")
    }
    spark.stop()
  }
}
