package graft.tools

import org.apache.spark.sql.functions._

/** Round-15 (r14 verdict #8): the full-vocabulary 32k-merge BPE
  * training, end-to-end — trains on the Zipf corpus, PERSISTS the
  * tokenizer artifact (vocab + ranked merges + checksum marker, the
  * markers-last crash discipline of `TextAnalysis.buildTokenizer`),
  * then proves the artifact is consumable: `bpeEncodeWith` against the
  * persisted 32k merge list over testdata docs, run twice, with an
  * order-free token checksum printed for the determinism pin.
  *
  *   scripts/run_main.sh graft.tools.Bpe32k \
  *     [corpusDir] [numMerges] [tokenizerDir] [encodeDir]
  *
  * Per-round flatness is already measured at 600 and 5,000 merges
  * (docs/SCALING.md round-14: 0.53 / 0.517 s/round); this run retires
  * the last extrapolation by measuring the production vocab size.
  */
object Bpe32k {
  def main(args: Array[String]): Unit = {
    val corpus = args.headOption.getOrElse("/tmp/graft_zipf")
    val numMerges = args.lift(1).map(_.toInt).getOrElse(32000)
    val tokDir = args.lift(2).getOrElse("/tmp/graft_tok32k")
    val encodeDir = args.lift(3).getOrElse("/root/testdata/sf0.01")
    val spark = graft.Graft.session()
    // uncapped plan strings are quadratic in round count (BpeRounds)
    spark.conf.set("spark.sql.maxPlanStringLength", "16384")
    spark.sparkContext.setLogLevel("WARN")

    val ops = graft.ops.TextAnalysis
    val r0 = ops.bpeMergeRounds.get()
    val t0 = System.nanoTime()
    ops.buildTokenizer(spark, corpus, numMerges, at = Some(tokDir))
    val trainSec = (System.nanoTime() - t0) / 1e9
    val rounds = ops.bpeMergeRounds.get() - r0
    val nMerges = spark.read.parquet(ops.tokenizerMergesPath(tokDir)).count()
    println(f"[bpe32k] trained merges=$nMerges rounds=$rounds wall=${trainSec}%.1f s " +
      f"(s/round=${trainSec / rounds}%.3f, fill=${nMerges.toDouble / rounds}%.2f)")

    // consumability + determinism: encode twice, checksum must repeat
    def encodeChecksum(): (Long, Long) = {
      val enc = ops.bpeEncodeWith(spark, encodeDir, tokDir, numMerges.toInt)
      val row = enc.select(
        count(lit(1)).as("n"),
        sum(graft.ops.TextHashing.md5Long(
          concat_ws(":", enc.columns.map(col): _*)) % 1000003L).cast("long").as("c"))
        .head()
      (row.getLong(0), row.getLong(1))
    }
    val (n1, c1) = encodeChecksum()
    val (n2, c2) = encodeChecksum()
    println(s"[bpe32k] encode rows=$n1 checksum=$c1 (rerun rows=$n2 checksum=$c2 " +
      s"deterministic=${n1 == n2 && c1 == c2})")
    require(n1 == n2 && c1 == c2, "32k-artifact encode must be deterministic")
    spark.stop()
  }
}
