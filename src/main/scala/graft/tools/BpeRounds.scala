package graft.tools

/** Diagnostic: driver-coordinated BPE round count vs merge count at a
  * given batch width — the batching win SCALING.md tables. Usage:
  *   run_main.sh graft.tools.BpeRounds <sfDir> <numMerges> <maxBatch...>
  * Prints one line per batch width: merges, rounds, seconds. Trains from
  * scratch each time (no session cache, no persisted artifact). */
object BpeRounds {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val numMerges = args(1).toInt
    val batches = args.drop(2).map(_.toInt)
    val spark = graft.Graft.session()
    // nested per-round InMemoryRelations make UNCAPPED plan strings
    // quadratic in round count — the SQL-listener event alone OOMs a
    // long sequential run before any real work does
    spark.conf.set("spark.sql.maxPlanStringLength", "16384")
    spark.sparkContext.setLogLevel("WARN")
    val docs = graft.ops.TextAnalysis.docs(spark, dir)
    for (b <- batches) {
      val r0 = graft.ops.TextAnalysis.bpeMergeRounds.get()
      val t0 = System.nanoTime()
      val (m, v) = graft.ops.TextAnalysis.bpeTrainMerges(docs, numMerges, maxBatch = b)
      val secs = (System.nanoTime() - t0) / 1e9
      val rounds = graft.ops.TextAnalysis.bpeMergeRounds.get() - r0
      graft.ops.TextAnalysis.bpeReleaseVocab(v) // frees the final cut too
      println(f"maxBatch=$b%-4d merges=${m.size}%-5d rounds=$rounds%-5d seconds=$secs%.1f")
    }
    spark.stop()
  }
}
