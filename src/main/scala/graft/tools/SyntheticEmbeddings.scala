package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic embedding corpora for recall measurement and
  * scale smokes, in the same (vec_id, embedding float[64], label) shape
  * as /root/testdata/sf* /embeddings.parquet.
  *
  * Everything is generated by codegen'd expressions over spark.range —
  * no driver-side row loops, no RNG state: noise comes from xxhash64 of
  * (vec_id, dim, stream), so any executor count produces the identical
  * corpus and AnnRecall numbers are reproducible bit for bit.
  *
  * `clustered` is quantization's FAVORABLE case (and the realistic one —
  * trained text/image embeddings cluster): vectors concentrate in
  * `nBlobs` blobs around fixed centers, so coarse quantizers lock onto
  * blob structure and residual codes resolve in-blob detail. The
  * near-uniform fixture corpora are the WORST case (docs/SCALING.md) —
  * measuring both brackets a real deployment.
  */
object SyntheticEmbeddings {

  val Dim = 64

  /** Blob centers: deterministic pseudo-random directions (sin of a
    * fixed integer lattice). At dim 64 such directions are near-
    * orthogonal, so distinct blobs are well separated in cosine. */
  def centers(nBlobs: Int): Seq[Seq[Double]] =
    (0 until nBlobs).map { b =>
      (0 until Dim).map(d => math.sin(1.0 + 0.91 * b + 3.7 * d + 0.13 * b * d))
    }

  /** `n` vectors in `nBlobs` blobs: vec_id i belongs to blob i % nBlobs,
    * each component = center + bounded noise of scale `sigma` (sum of
    * two hash-uniforms — triangular, bell-shaped enough for a blob).
    * label = blob id (diagnostics only; nothing trains on it). */
  def clustered(spark: SparkSession, n: Long, nBlobs: Int,
                sigma: Double = 0.1): DataFrame = {
    val cs = typedLit(centers(nBlobs))
    val blob = (col("id") % nBlobs).cast("int")
    def u(stream: Int, d: Int) =
      (pmod(xxhash64(col("id"), lit(d * 2 + stream)), lit(20001L)) - 10000L)
        .cast("double") / 10000.0
    val comps = (0 until Dim).map { d =>
      (element_at(element_at(cs, blob + 1), d + 1) +
        (u(0, d) + u(1, d)) * (sigma / 2.0)).cast("float")
    }
    spark.range(n).select(
      col("id").as("vec_id"),
      array(comps: _*).as("embedding"),
      blob.as("label"))
  }

  /** `n` near-uniform vectors (each component an independent hash-
    * uniform in [-1, 1]) — the no-structure stress corpus: every sign
    * bucket of any slice is occupied, so seedBits=b yields ~2^b live
    * clusters (the large-k training path's natural fixture). */
  def uniform(spark: SparkSession, n: Long): DataFrame = {
    def u(d: Int) =
      (pmod(xxhash64(col("id"), lit(d)), lit(20001L)) - 10000L)
        .cast("double") / 10000.0
    val comps = (0 until Dim).map(d => u(d).cast("float"))
    spark.range(n).select(
      col("id").as("vec_id"),
      array(comps: _*).as("embedding"),
      lit(0).as("label"))
  }

  /** Write a corpus as `dir`/embeddings.parquet (the dir-bound contract
    * every Similarity operator reads) and drop any session state a
    * previous corpus at this dir left behind. */
  def write(spark: SparkSession, dir: String, df: DataFrame): String = {
    df.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    graft.core.SessionCache.invalidate(spark, "emb", dir)
    graft.ops.Similarity.invalidateIvf(spark, dir)
    graft.ops.Similarity.invalidatePq(spark, dir)
    dir
  }

  /** Generator CLI, so AnnRecall / IvfPqSmoke runs on a synthetic
    * corpus are one command:
    *   sbt "runMain graft.tools.SyntheticEmbeddings DIR clustered N [blobs] [sigma]"
    *   sbt "runMain graft.tools.SyntheticEmbeddings DIR uniform N" */
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val kind = args(1)
    val n = args(2).toLong
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("ERROR")
    val df = kind match {
      case "clustered" =>
        clustered(spark, n,
          nBlobs = if (args.length > 3) args(3).toInt else 16,
          sigma = if (args.length > 4) args(4).toDouble else 0.1)
      case "uniform" => uniform(spark, n)
      case other => sys.error(s"unknown corpus kind '$other'")
    }
    write(spark, dir, df)
    println(s"wrote $n $kind vectors to $dir/embeddings.parquet")
    spark.stop()
  }
}
