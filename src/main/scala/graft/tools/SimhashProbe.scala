package graft.tools

import org.apache.spark.sql.functions._

/** Round-15 diagnostic for the dedup_simhash_clusters sf100 OOM
  * (VERDICT r14 "Next round" #1): measures the simhash graph's actual
  * structure at a given SF dir BEFORE the contraction runs, then runs
  * the contraction with per-round storage-residency dumps, so the
  * ~96 GB pin gets a name instead of a guess.
  *
  * Stages (each timed, each printing rows + current block-manager
  * residency):
  *   1. unique signature count (the contraction's node set)
  *   2. verified sig-pair count (the contraction's edge set) — if this
  *      is ~10^9 the OOM is the edge set itself (dup-family cliques),
  *      not a leaked cache; if ~10^7 something else pins the heap
  *   3. per-band bucket-population histogram (the quadratic term)
  *   4. the contraction itself (GRAFT_CC_DEBUG recommended)
  *
  *   scripts/run_main.sh graft.tools.SimhashProbe /tmp/graft_sf100 [stopAfter]
  */
object SimhashProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val stopAfter = args.lift(1).map(_.toInt).getOrElse(4)
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("WARN")

    def residency(): String = {
      val rdds = spark.sparkContext.getPersistentRDDs.values.map { r =>
        s"rdd${r.id}(${r.getStorageLevel.description})"
      }.mkString(",")
      val rt = Runtime.getRuntime
      f"heapUsed=${(rt.totalMemory - rt.freeMemory) / 1e9}%.1fGB persisted=[$rdds]"
    }
    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $name%-30s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ${residency()}")
      r
    }

    val sigs = graft.ops.TextDedup.simhashSigs(spark, dir)
    timed("sigs_build(count)") { println("  sig rows = " + sigs.count()) }
    if (stopAfter >= 1) timed("unique_sigs") {
      println("  unique sigs = " + sigs.select("sig").distinct().count())
    }
    if (stopAfter >= 3) timed("band_histogram") {
      // population of each (band, band_val) bucket over unique sigs at
      // the AUTO-SIZED width (r16) — candidate pairs ~ sum(pop^2)/2, the
      // join's true output size; this is the "per-bucket population
      // ~flat per decade" measurement the auto law is graded on
      val usig = sigs.select("sig").distinct()
      val lvl = graft.ops.TextDedup.simhashLevel(usig.count())
      val specs = graft.ops.TextDedup.simhashBandSpecs(lvl)
      println(s"  banding level=$lvl (auto), ${specs.length} bands x " +
        s"${specs.head.map(_._2).sum} bits")
      val bands = specs.zipWithIndex.map { case (limbs, b) =>
        usig.select(graft.ops.TextDedup.simhashBandValCol(col("sig"), limbs).as("bv"))
          .groupBy("bv").agg(count(lit(1)).as("pop"))
          .agg(max("pop").as("maxpop"), sum(col("pop") * col("pop")).as("sumsq"),
            count(lit(1)).as("nbuckets"))
          .withColumn("band", lit(b))
      }
      bands.reduce(_ unionByName _).collect().foreach { r =>
        println(s"  band=${r.getAs[Int]("band")} maxpop=${r.getAs[Long]("maxpop")} " +
          s"sum(pop^2)=${r.getAs[Long]("sumsq")} nbuckets=${r.getAs[Long]("nbuckets")}")
      }
    }
    if (stopAfter >= 2) timed("verified_pairs") {
      println("  verified sig pairs = " +
        graft.ops.TextDedup.sigPairs(spark, dir).count())
    }
    if (stopAfter >= 4) timed("contraction(clusters)") {
      println("  cluster rows = " +
        graft.ops.TextDedup.simhashClusters(spark, dir).count())
    }
    spark.stop()
  }
}
