package graft.tools


/** Measures embeddingNearDup's nBits lever on a real corpus dir:
  * wall-clock and surviving pair count per bucket width, plus the pair
  * recall vs the widest-bucket run (more bits = fewer candidate pairs =
  * cheaper verify, at the cost of pairs whose sign patterns diverge).
  * Rows go to docs/SCALING.md.
  *
  * Usage: runMain graft.tools.NearDupProbe [dir] [threshold] [bits...]
  */
object NearDupProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/tmp/graft_sf1"
    val threshold = if (args.length > 1) args(1).toDouble else 0.35
    val bits = if (args.length > 2) args.drop(2).map(_.toInt).toSeq else Seq(4, 6, 8)
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("ERROR")

    def pairs(nBits: Int): Set[(Long, Long)] =
      graft.ops.Similarity.embeddingNearDup(spark, dir, threshold, nBits)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // ground truth = the fewest-bits run (largest buckets, most pairs)
    val base = pairs(bits.min)
    println(f"${"nBits"}%6s ${"sec"}%8s ${"pairs"}%10s ${"recall"}%8s  (dir=$dir thr=$threshold)")
    for (b <- bits) {
      val t0 = System.nanoTime()
      val p = pairs(b)
      val sec = (System.nanoTime() - t0) / 1e9
      val recall = if (base.isEmpty) 1.0 else p.intersect(base).size.toDouble / base.size
      println(f"$b%6d $sec%8.2f ${p.size}%10d $recall%8.3f")
    }
    spark.stop()
  }
}
