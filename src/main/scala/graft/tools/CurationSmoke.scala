package graft.tools

import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end curation throughput smoke: `Graft.curateCorpus` (and the
  * vector gate's streaming sibling) over a k-fold replicated corpus,
  * reporting wall seconds and docs/s for each configuration —
  * correctness is spec- and oracle-proven elsewhere; THIS measures what
  * the gates cost. Every replica is a true near-dup of its original
  * (text gets a suffix token, vectors a scale factor), the adversarial
  * shape for the near-dup gates. Results in docs/SCALING.md. Usage:
  *   sbt "runMain graft.tools.CurationSmoke [srcSfDir] [factor]"
  */
object CurationSmoke {

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val factor = if (args.length > 1) args(1).toInt else 10
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("ERROR")

    def docsJsonl(k: Int): (String, Long) = {
      val out = Files.createTempDirectory(s"cursmoke$k").toString + "/docs"
      Replicas.docs(
          spark.read.parquet(s"$srcDir/documents.parquet").select("doc_id", "text", "lang"), k)
        .repartition(8).write.mode("overwrite").json(out)
      // count the WRITTEN corpus — re-counting the union plan would
      // rescan the source a second time just to size the benchmark
      (out, spark.read.json(out).count())
    }

    def vecsParquet(k: Int): (String, Long) = {
      val out = Files.createTempDirectory(s"curvec$k").toString + "/vecs"
      Replicas.vecs(
          spark.read.parquet(s"$srcDir/embeddings.parquet").select("vec_id", "embedding"), k)
        .repartition(8).write.mode("overwrite").parquet(out)
      (out, spark.read.parquet(out).count())
    }

    def runText(name: String, glob: String, nIn: Long, nearDup: Boolean): Unit = {
      val base = Files.createTempDirectory("curout").toString
      val t0 = System.nanoTime()
      val q = graft.Graft.curateCorpus(spark, glob,
        s"$base/corpus", s"$base/index", s"$base/ckpt",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds"),
        maxFilesPerTrigger = 4, compactEvery = 4,
        nearDupDir = if (nearDup) Some(s"$base/near") else None)
      q.processAllAvailable(); q.stop()
      val secs = (System.nanoTime() - t0) / 1e9
      val out = spark.read.parquet(s"$base/corpus").count()
      println(f"$name%-34s in=$nIn%7d out=$out%7d  $secs%6.1f s  ${nIn / secs}%8.0f docs/s")
    }

    def runVec(name: String, dir: String, nIn: Long): Unit = {
      val base = Files.createTempDirectory("curvout").toString
      val t0 = System.nanoTime()
      val vecs = spark.readStream
        .schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", "4")
        .parquet(dir)
      val q = graft.ops.CurationPipeline.streamingVectorDedup(
        vecs, s"$base/corpus", s"$base/index", s"$base/ckpt",
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds"),
        threshold = 0.9, compactEvery = 4)
      q.processAllAvailable(); q.stop()
      val secs = (System.nanoTime() - t0) / 1e9
      val out = spark.read.parquet(s"$base/corpus").count()
      println(f"$name%-34s in=$nIn%7d out=$out%7d  $secs%6.1f s  ${nIn / secs}%8.0f vecs/s")
    }

    for (k <- Seq(1, factor)) {
      val (dglob, nd) = docsJsonl(k)
      runText(s"curate ${k}x exact-only", s"$dglob/*.json", nd, nearDup = false)
      runText(s"curate ${k}x + text near-dup gate", s"$dglob/*.json", nd, nearDup = true)
      val (vdir, nv) = vecsParquet(k)
      runVec(s"vector gate ${k}x", vdir, nv)
    }

    // batch-SIZE scaling of the micro-batch body (round-9 ask): the
    // same corpus replayed as B batches for several B — per-batch cost
    // must track rows-per-batch (history is index-probed, never
    // rescanned), so total stays ~flat while B varies 16x and the
    // per-batch mean falls ~1/B. A history-rescanning gate would
    // instead grow the LATER batches linearly and the totals with B^0->
    // B^1 shape.
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
      .select("doc_id", "text").persist()
    val nDocs = docs.count()
    for (b <- Seq(4, 16, 64)) {
      val base = Files.createTempDirectory(s"curbatch$b").toString
      val t0 = System.nanoTime()
      graft.ops.CurationPipeline.replayBatches(
        docs, pmod(col("doc_id"), lit(b)),
        s"$base/corpus", s"$base/index",
        nearDupDir = Some(s"$base/near"))
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"processBatch sweep: $b%3d batches of ~${nDocs / b}%6d docs  " +
        f"total $secs%6.1f s  per-batch ${secs / b}%6.2f s  ${nDocs / secs}%8.0f docs/s")
    }
    docs.unpersist()
    spark.stop()
  }
}
