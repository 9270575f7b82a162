package graft.core

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** What `graft.Graft.session` yields, and the round-14 spill-dir
  * contract: every JVM owns a private local dir (round 13's official bench died when a concurrently-launched script
  * wiped the SHARED /tmp/spark-local mid-flight — see
  * GraftConf.privateLocalDirs). The env-rewrite arm (SPARK_LOCAL_DIRS
  * exported) is exercised out-of-process by scripts/run_main.sh
  * launches; here we pin the in-process contract: a unique owned dir
  * exists, the property points at it, and the call is idempotent. */
class GraftConfSpec extends AnyFunSuite {

  test("Graft.session: 2n shuffle partitions, Kryo, UTC, nanosAsLong, graft_* SQL") {
    // master and serializer apply only when the call starts the context:
    // a session another spec built its own way must not answer for it
    SparkSession.getDefaultSession.filter(_.sparkContext.appName != "graft").foreach(_.stop())
    val n = graft.Graft.defaultCores
    val spark = graft.Graft.session(n)
    def conf(k: String): String = spark.conf.get(k)
    assert(conf("spark.sql.shuffle.partitions") === (2 * n).toString)
    assert(spark.sparkContext.getConf.get("spark.serializer") ===
      "org.apache.spark.serializer.KryoSerializer")
    assert(conf("spark.sql.session.timeZone") === "UTC")
    assert(conf("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.sql("SELECT graft_decode_frame(X'00') AS t").head().isNullAt(0))
    // no longer set by the constructor: these are Spark's defaults
    assert(conf("spark.sql.adaptive.enabled") === "true")
    assert(conf("spark.sql.adaptive.coalescePartitions.enabled") === "true")
    assert(conf("spark.sql.adaptive.skewJoin.enabled") === "true")
    assert(JavaUtils.byteStringAsBytes(conf("spark.sql.files.maxPartitionBytes")) ===
      128L * 1024 * 1024)
    assert(conf("spark.sql.parquet.filterPushdown") === "true")
  }

  test("privateLocalDirs creates a unique owned dir and is idempotent") {
    GraftConf.privateLocalDirs()
    val first = sys.props.get("spark.local.dir")
      .orElse(Option(System.getenv("SPARK_LOCAL_DIRS")))
    assert(first.isDefined, "no local dir recorded after privateLocalDirs")
    val dir = new java.io.File(first.get)
    assert(dir.isDirectory, s"private local dir $dir does not exist")
    assert(dir.getName.startsWith("graft-local."),
      s"private dir $dir should carry the graft-local. ownership prefix")
    GraftConf.privateLocalDirs()
    val second = sys.props.get("spark.local.dir")
      .orElse(Option(System.getenv("SPARK_LOCAL_DIRS")))
    assert(second == first, "second call must not allocate a new dir")
  }

  test("ensureLocalDirs creates configured-but-missing dirs") {
    val probe = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft-ensure-probe-${sys.props("user.name")}")
    val saved = sys.props.get("spark.local.dir")
    try {
      probe.delete()
      sys.props("spark.local.dir") = probe.getAbsolutePath
      // env var (if any) outranks the prop in ensureLocalDirs' read; the
      // test JVM does not export SPARK_LOCAL_DIRS, and if a previous
      // privateLocalDirs call rewrote it the target already exists —
      // either way the call must leave every configured dir existing
      GraftConf.ensureLocalDirs()
      val effective = Option(System.getenv("SPARK_LOCAL_DIRS"))
        .getOrElse(probe.getAbsolutePath)
      effective.split(",").foreach { d =>
        assert(new java.io.File(d).isDirectory, s"$d missing after ensureLocalDirs")
      }
    } finally {
      saved match {
        case Some(v) => sys.props("spark.local.dir") = v
        case None => sys.props -= "spark.local.dir"
      }
      probe.delete(): Unit
    }
  }
}
