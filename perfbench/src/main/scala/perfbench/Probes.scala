package perfbench

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Codec
import graft.ingest.{TickDecoder, TokenDirectory}
import graft.plans.{NormTextExpr, RepetitionStatsExpr, TextStatsExpr}
import graft.storage.TickTable

/** Single-layer probes of the traced run. Each calls one module's public
  * function on fixed inputs, after a warm-up, and keeps the median of a
  * few repetitions. They run the same in every workload's traced run. */
object Probes {

  private def timeMedian(reps: Int)(f: => Unit): Double = {
    f // warm-up: JIT, codegen, file listing
    Util.median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); f; Util.secondsSince(t0)
    })
  }

  /** Repeat `f` over `n` items until at least `minS` elapsed; ns per item. */
  private def nsPerItem(n: Int, minS: Double = 0.2)(f: => Unit): Double = {
    f
    Util.median((1 to 3).map { _ =>
      var loops = 0
      val t0 = System.nanoTime()
      while (loops == 0 || Util.secondsSince(t0) < minS) { f; loops += 1 }
      (System.nanoTime() - t0).toDouble / (loops.toLong * n)
    })
  }

  def run(ctx: Ctx, corpusDir: String): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    ctx.tracer.span(spark, "probe", "ingest", 0L) { _ =>
      val gen = new FrameGen(ctx.seed, TickSizes.Full.copy(malformedShare = 0.0))
      val frames = (0 until 100000).map(i => gen.next(1704447000000L + i * 5L)).toArray
      ctx.layer("ingest.decode_ns_per_frame", nsPerItem(frames.length) {
        var i = 0
        while (i < frames.length) { Codec.decode(frames(i)); i += 1 }
      })
      val tokens = new java.io.File(ctx.work, s"probe-tokens-${System.nanoTime()}.json")
      java.nio.file.Files.writeString(tokens.toPath, gen.tokensJson)
      val dim = TokenDirectory.load(spark, tokens.getAbsolutePath).cache()
      dim.count()
      val frameDs = spark.createDataset(frames.toSeq)(Encoders.BINARY).cache()
      frameDs.count()
      def decoded(n: Int): DataFrame =
        TokenDirectory.enrich(TickDecoder.decode(spark, frameDs.limit(n)).toDF(), dim)
      val s = timeMedian(3)(decoded(frames.length).write.format("noop").mode("overwrite").save())
      ctx.layer("ingest.decode_enrich_rows_per_s", frames.length / s)
      ctx.layer("plans.decode_frame_ns_per_row", timeMedian(3)(
        frameDs.select(expr("graft_decode_frame(value)").as("f"))
          .write.format("noop").mode("overwrite").save()) * 1e9 / frames.length)

      val small = decoded(1000).cache()
      val large = decoded(frames.length).cache()
      small.count(); large.count()
      val dir = new java.io.File(ctx.work, s"probe-sink-${System.nanoTime()}")
      var batch = 0L
      def append(df: DataFrame): Unit = { batch += 1; TickTable.appendBatch(df, dir.getAbsolutePath, batch) }
      ctx.layer("storage.append_small_s", timeMedian(5)(append(small)))
      ctx.layer("storage.append_large_s", timeMedian(2)(append(large)))
      Seq(small, large, frameDs, dim).foreach(_.unpersist())
      Util.deleteRecursively(dir)
      tokens.delete(): Unit
    }

    ctx.tracer.span(spark, "probe", "plans", 0L) { _ =>
      val texts = spark.read.parquet(s"$corpusDir/documents.parquet").select("text")
        .as[String].collect().map(UTF8String.fromString)
      val (ascii, nonAscii) = texts.partition(t => t.numBytes == t.numChars)
      def perRow(name: String, f: UTF8String => Unit): Unit =
        Seq("ascii" -> ascii, "nonascii" -> nonAscii).foreach { case (k, rows) =>
          ctx.layer(s"plans.${name}_ns_per_row.$k", nsPerItem(rows.length) {
            var i = 0
            while (i < rows.length) { f(rows(i)); i += 1 }
          })
        }
      perRow("textstat", t => { var s = 0; while (s <= TextStatsExpr.BpeIshTokens) {
        TextStatsExpr.compute(t, s); s += 1 } })
      perRow("norm_text", t => NormTextExpr.compute(t))
      perRow("repstats", t => RepetitionStatsExpr.compute(t))
      ctx.info("probe_ascii_docs", ascii.length)
      ctx.info("probe_nonascii_docs", nonAscii.length)

      // SQL functions over a 20-fold copy of the corpus, written to noop
      val docs = spark.read.parquet(s"$corpusDir/documents.parquet")
        .select(explode(sequence(lit(1), lit(20))).as("k"), col("text")).cache()
      val nDocs = docs.count()
      ctx.layer("plans.md5long_ns_per_row", timeMedian(3)(
        docs.select(expr("graft_md5long(concat(text, k))")).write.format("noop")
          .mode("overwrite").save()) * 1e9 / nDocs)
      val vecs = spark.read.parquet(s"$corpusDir/embeddings.parquet")
        .select(explode(sequence(lit(1), lit(20))).as("k"),
          col("embedding").cast("array<double>").as("e")).cache()
      val nVecs = vecs.count()
      ctx.layer("plans.cosine_ns_per_row", timeMedian(3)(
        vecs.select(expr("graft_cosine(e, reverse(e))")).write.format("noop")
          .mode("overwrite").save()) * 1e9 / nVecs)
      docs.unpersist(); vecs.unpersist()
    }
  }
}
