package graft.tools

import org.apache.spark.sql.functions._

/** Round-16 (r15 verdict #1, second half): the 16k tokenizer artifact's
  * encode-determinism check, which was still running at the r15 wall
  * (docs/SCALING.md:3044-3066). Loads an ALREADY-persisted tokenizer
  * (no training) and proves it consumable + deterministic: `bpeEncodeWith`
  * twice over testdata docs, order-free token checksum must repeat.
  *
  *   scripts/run_main.sh graft.tools.TokEncodeCheck \
  *     [tokenizerDir] [numMerges] [encodeDir]
  */
object TokEncodeCheck {
  def main(args: Array[String]): Unit = {
    val tokDir = args.headOption.getOrElse("/tmp/graft_tok16k")
    val numMerges = args.lift(1).map(_.toInt).getOrElse(16000)
    val encodeDir = args.lift(2).getOrElse("/root/testdata/sf0.01")
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("WARN")

    val ops = graft.ops.TextAnalysis
    def encodeChecksum(): (Long, Long) = {
      val enc = ops.bpeEncodeWith(spark, encodeDir, tokDir, numMerges)
      val row = enc.select(
        count(lit(1)).as("n"),
        sum(graft.ops.TextHashing.md5Long(
          concat_ws(":", enc.columns.map(col): _*)) % 1000003L).cast("long").as("c"))
        .head()
      (row.getLong(0), row.getLong(1))
    }
    val t0 = System.nanoTime()
    val (n1, c1) = encodeChecksum()
    val (n2, c2) = encodeChecksum()
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"[tokcheck] dir=$tokDir merges=$numMerges encode rows=$n1 checksum=$c1 " +
      f"(rerun rows=$n2 checksum=$c2 deterministic=${n1 == n2 && c1 == c2}) wall=$sec%.1f s")
    require(n1 == n2 && c1 == c2, s"$tokDir encode must be deterministic")
    spark.stop()
  }
}
