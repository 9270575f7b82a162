package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Builds an sf1-equivalent bench corpus (10x sf0.1) under a writable
  * dir, for the full-suite scaling measurement (docs/SCALING.md's
  * sf0.1→sf1 ratio table). The driver's testdata stops at sf0.1 and its
  * dirs are read-only, so the 10x point is derived from sf0.1 by k-fold
  * replication with entity-disjoint replicas:
  *
  *  - relational tables: key columns offset per replica with strides far
  *    above the sf0.1 key ranges, so FK joins (orders↔lineitem↔part/
  *    supplier, customer↔orders) stay 1:1 with the original fan-out —
  *    10x the entities, same join selectivity;
  *  - events: event_id + user_id offset — 10x the instruments, same
  *    per-instrument history depth (pinned-token point lookups stay
  *    constant-size BY DESIGN: a top-1 probe must not scale with corpus);
  *  - documents: replica i>0 suffixes every word with the replica id —
  *    word 3-gram shingles land in pairwise-disjoint vocabularies at
  *    ANY k, so near-dup DENSITY stays that of the source corpus
  *    instead of every doc gaining k-1 synthetic near-dups (which
  *    would grow dedup pair outputs quadratically and poison the ratio
  *    table; Replicas.docs is the tool for ADVERSARIAL replication,
  *    this one is for scaling);
  *  - embeddings: replica i>0 sign-flips dimensions by a per-replica
  *    deterministic pattern — replicas are near-orthogonal to their
  *    originals, preserving neighborhood structure density;
  *  - nation/region: copied (dimensions don't scale).
  *
  * Deterministic end to end; rerunning overwrites the same corpus.
  * Usage: runMain graft.tools.ScaleUpTestdata [outDir] [srcDir] [k] [strideMul]
  *
  * `strideMul` (default 1) scales every id stride — REQUIRED when the
  * source is itself a replicated corpus: sf10 (built 100x from sf0.1)
  * already occupies id ranges up to 99 strides, so replicating it
  * 10x for sf100 needs offsets of i * stride * 100 to stay
  * collision-free. Word suffixes compose (wxIxJ), keeping shingle
  * vocabularies pairwise disjoint across the whole replica tree, so
  * dup DENSITY still matches the original corpus at any depth.
  */
object ScaleUpTestdata {

  val EventStride = 100000000L
  val UserStride = 1000000L
  val OrderStride = 10000000L
  val CustStride = 1000000L
  val PartStride = 1000000L
  val SuppStride = 100000L
  val DocStride = Replicas.IdStride

  def main(args: Array[String]): Unit = {
    val out = if (args.length > 0) args(0) else "/tmp/graft_sf1"
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val k = if (args.length > 2) args(2).toInt else 10
    val strideMul = if (args.length > 3) args(3).toLong else 1L
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("WARN")

    def rd(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scaleup] wrote $t: ${spark.read.parquet(s"$out/$t.parquet").count()} rows")
    }
    def folds(src: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until k).map(i => f(src, i)).reduce(_ unionByName _)

    wr(rd("region"), "region")
    wr(rd("nation"), "nation")
    wr(folds(rd("customer")) { (d, i) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(i * CustStride * strideMul))
    }, "customer")
    wr(folds(rd("supplier")) { (d, i) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(i * SuppStride * strideMul))
    }, "supplier")
    wr(folds(rd("part")) { (d, i) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(i * PartStride * strideMul))
    }, "part")
    wr(folds(rd("orders")) { (d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(i * OrderStride * strideMul))
        .withColumn("o_custkey", col("o_custkey") + lit(i * CustStride * strideMul))
    }, "orders")
    wr(folds(rd("lineitem")) { (d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(i * OrderStride * strideMul))
        .withColumn("l_partkey", col("l_partkey") + lit(i * PartStride * strideMul))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * SuppStride * strideMul))
    }, "lineitem")
    // events ts arrives as TIMESTAMP(NANOS) → long (nanosAsLong); written
    // back as a plain long column — the schema-adaptive reader
    // (MarketQueries.events) treats both identically
    wr(folds(rd("events")) { (d, i) =>
      d.withColumn("event_id", col("event_id") + lit(i * EventStride * strideMul))
        .withColumn("user_id", col("user_id") + lit(i * UserStride * strideMul))
    }, "events")
    wr(folds(rd("documents")) { (d, i) =>
      // replica i > 0 suffixes EVERY word with its replica id: shingle
      // vocabularies are pairwise disjoint for ANY k (an earlier vowel-
      // rotation scheme only had 5 distinct rotations, so k = 10 made
      // replicas i and i+5 exact duplicates — dup density doubled
      // instead of holding at the source corpus's). Word counts and
      // relative word structure survive; replicas are space-joined
      // lowercase words, which is what every text operator consumes.
      val t = if (i == 0) col("text")
        else concat_ws(" ", transform(
          filter(split(lower(col("text")), "\\s+"), w => w =!= ""),
          w => concat(w, lit(s"x$i"))))
      d.withColumn("doc_id", col("doc_id") + lit(i * DocStride * strideMul))
        .withColumn("text", t)
    }, "documents")
    wr(folds(rd("embeddings")) { (d, i) =>
      // xorshift-ish per-(replica, dim) sign pattern: deterministic,
      // near-orthogonal across replicas
      val signs = (0 until 64).map { dim =>
        val h = (i * 2654435761L + dim * 40503L + 7L) * 2654435761L
        if (((h >>> 16) & 1L) == 1L && i > 0) -1.0f else 1.0f
      }
      val e = if (i == 0) col("embedding")
        else zip_with(col("embedding"),
          lit(signs.toArray), (x, s) => x * s)
      d.withColumn("vec_id", col("vec_id") + lit(i * DocStride * strideMul))
        .withColumn("embedding", e.cast("array<float>"))
    }, "embeddings")
    spark.stop()
    println(s"[scaleup] done: $out (${k}x $src)")
  }
}
