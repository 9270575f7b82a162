package graft.queries

import graft.SparkSpec
import graft.core.Codec
import graft.core.Schemas.TickFrame
import graft.ingest.IngestStream
import graft.ops.Skew
import graft.sources.FrameSpool
import graft.storage.TickTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** End-to-end on the production tick schema: spool file -> the shipped
  * replay source (FrameReplayProvider) -> ingest pipeline -> tick table ->
  * the reference's query surface. */
class TickQueriesSpec extends SparkSpec {

  private val t0 = 1704447000000L // 2024-01-05 09:30 UTC

  private def frame(token: String, seq: Long, tsMs: Long, ltp: Long, vol: Long): Array[Byte] =
    Codec.encode(TickFrame(2, 1, token, seq, tsMs, ltp,
      Some(5L), Some(ltp), Some(vol), Some(1.0), Some(2.0),
      Some(ltp - 50), Some(ltp + 100), Some(ltp - 100), Some(ltp)))

  private lazy val sinkDir: String = {
    val sink = Files.createTempDirectory("ticksink").toString
    val ckpt = Files.createTempDirectory("tickckpt").toString
    val spool = Files.createTempDirectory("spool").toString
    val day = 86400000L
    FrameSpool.write(spool, Seq(
      frame("2885", 1, t0, 286550L, 100),
      frame("2885", 2, t0 + 60000, 287000L, 150),
      frame("2885", 3, t0 + day, 288000L, 200),     // next trading day
      frame("43607", 1, t0 + 1000, 12345L, 10),
      frame("43607", 2, t0 + 2000, 12400L, 20)), "ticks-000")
    import spark.implicits._
    val dim = Seq(("RELIANCE", "2885"), ("NIFTY", "43607")).toDF("symbol", "token")
    // two frames per micro-batch: the backlog drains over three batches
    val frames = spark.readStream
      .format("graft.sources.FrameReplayProvider")
      .option("path", spool)
      .option("maxFramesPerBatch", "2")
      .load().select("payload").as[Array[Byte]]
    val q = IngestStream.start(spark, frames,
      dim, sinkDir = sink, checkpointDir = ckpt, Trigger.ProcessingTime("1 second"))
    q.processAllAvailable()
    q.stop()
    sink
  }

  private lazy val ticks = TickTable.read(spark, sinkDir)

  test("replay->ingest->table: all frames land with enrichment") {
    assert(ticks.count() === 5)
    assert(ticks.filter(col("symbol") === "RELIANCE").count() === 3)
  }

  test("latest tick per token") {
    val r = TickQueries.latestTick(ticks, "2885").head()
    assert(r.getAs[Long]("sequence_number") === 3L)
    assert(r.getAs[Double]("last_traded_price") === 2880.00)
  }

  test("daily stats and OHLCV over two trading days") {
    val stats = TickQueries.dailyStats(ticks, "2885").collect()
    assert(stats.length === 2)
    assert(stats(0).getAs[Long]("tick_count") === 1L) // newest day first
    val ohlcv = TickQueries.dailyOhlcv(ticks, "2885").collect()
    assert(ohlcv.length === 2)
    val day1 = ohlcv(1)
    assert(day1.getAs[Double]("open_price") === 2865.50)
    assert(day1.getAs[Double]("close_price") === 2870.00)
    assert(day1.getAs[Long]("total_volume") === 250L)
  }

  test("freshness + latest prices for a watch list") {
    val fresh = TickQueries.tokenFreshness(ticks, Seq("2885", "43607")).collect()
    assert(fresh.length === 2)
    val latest = TickQueries.latestPrices(ticks, Seq("2885", "43607"), k = 3).collect()
    assert(latest.length === 3)
    assert(latest(0).getAs[java.sql.Timestamp]("exchange_timestamp").getTime === t0 + 86400000L)
  }

  test("volume profile with pinned as-of") {
    val prof = TickQueries.volumeProfile(ticks, "2885", "2024-01-07 00:00:00").collect()
    assert(prof.map(_.getAs[Long]("total_volume")).sum === 450L)
  }

  test("as-of price per token") {
    val asof = TickQueries.asofPrice(ticks, Seq("2885", "43607"), "2024-01-05 10:00:00").collect()
    assert(asof.length === 2)
    val r = asof.find(_.getString(0) == "2885").get
    assert(r.getAs[Double]("asof_price") === 2870.00) // seq 2, not next-day seq 3
  }

  test("token stats record") {
    val st = TickQueries.tokenStats(ticks).collect()
    assert(st.length === 2)
    assert(st(0).getAs[String]("token") === "2885")
    assert(st(0).getAs[Long]("tick_count") === 3L)
  }

  test("depth imbalance over decoded mode-4 frames (best-five superset)") {
    import spark.implicits._
    import graft.core.Schemas.{BestFive, DepthLevel}
    def depthFrame(token: String, seq: Long, buyQty: Long, sellQty: Long): TickFrame =
      TickFrame(4, 1, token, seq, t0 + seq * 1000, 286550L,
        Some(5L), Some(286550L), Some(100L), Some(1.0), Some(2.0),
        Some(286500L), Some(286650L), Some(286450L), Some(286550L),
        depth = Some(BestFive(
          (1 to 5).map(i => DepthLevel(buyQty, 286550L - i)),
          (1 to 5).map(i => DepthLevel(sellQty, 286550L + i)))))
    val frames = Seq(
      depthFrame("2885", 1, 100, 50),   // buy-heavy
      depthFrame("2885", 2, 100, 50),
      depthFrame("43607", 1, 10, 30),   // sell-heavy
      // reference-style mode-4 frame without the depth tail: excluded
      depthFrame("9999", 1, 1, 1).copy(depth = None)).toDS()
    val imb = TickQueries.depthImbalance(frames).collect()
    assert(imb.map(_.getString(0)).toSeq === Seq("2885", "43607"))
    val r1 = imb(0)
    assert(r1.getAs[Long]("total_buy_qty") === 1000L) // 2 frames x 5 levels x 100
    assert(r1.getAs[Long]("total_sell_qty") === 500L)
    assert(math.abs(r1.getAs[Double]("imbalance") - (1000.0 - 500.0) / 1500.0) < 1e-6)
    assert(imb(1).getAs[Double]("imbalance") < 0)
  }

  test("salted aggregation equals direct aggregation") {
    val direct = ticks.groupBy(col("token")).agg(
      sum("volume").as("total"), count(lit(1)).as("cnt"))
      .orderBy("token").collect()
    val salted = Skew.saltedSumCount(ticks, col("token"), col("volume"), 4)
      .withColumnRenamed("k", "token").orderBy("token").collect()
    assert(direct.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ===
      salted.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq)
  }
}
