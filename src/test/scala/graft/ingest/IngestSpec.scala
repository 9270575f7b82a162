package graft.ingest

import graft.SparkSpec
import graft.core.{Codec, Schemas}
import graft.core.Schemas.TickFrame
import graft.queries.TickQueries
import graft.storage.TickTable
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Streaming ingest end-to-end: MemoryStream of binary frames -> decode ->
  * enrichment -> micro-batch Parquet sink (FIXTURES.md §5 script 1). */
class IngestSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def frame(token: String, seq: Long, tsMs: Long, ltpPaise: Long): Array[Byte] =
    Codec.encode(TickFrame(2, 1, token, seq, tsMs, ltpPaise,
      Some(10L), Some(ltpPaise), Some(100L), Some(1.0), Some(2.0),
      Some(ltpPaise), Some(ltpPaise + 100), Some(ltpPaise - 100), Some(ltpPaise)))

  private def writeTokensJson(json: String =
      """{"symbol": "RELIANCE", "token": "2885", "exchange": "NSE_CM"}
        |{"symbol": "NIFTY", "token": "43607", "exchange": "NSE_FO"}
        |{"symbol": "BADEX", "token": "9999", "exchange": "NOPE_XX"}""".stripMargin): String = {
    val dir = Files.createTempDirectory("tokens").toFile
    val f = new java.io.File(dir, "tokens.json")
    Files.writeString(f.toPath, json)
    f.getAbsolutePath
  }

  test("token directory: unknown exchange dropped, groups per exchange") {
    val dim = TokenDirectory.load(spark, writeTokensJson())
    val rows = dim.collect()
    assert(rows.length === 2) // BADEX/NOPE_XX dropped (P6)
    assert(dim.filter(col("token") === "2885").select("exchange_type").head().getInt(0) === 1)
    val grouped = TokenDirectory.byExchange(dim).collect()
    assert(grouped.length === 2)
    assert(dim.columns.toSeq === Seq("exchange", "symbol", "token", "exchange_type"))

    // a token listed twice (here under two exchanges) would land each of
    // its ticks twice; enrichment refuses it when the plan is built
    val twice = TokenDirectory.load(spark, writeTokensJson(
      """{"symbol": "RELIANCE", "token": "2885", "exchange": "NSE_CM"}
        |{"symbol": "RELIANCE", "token": "2885", "exchange": "BSE_CM"}
        |{"symbol": "NIFTY", "token": "43607", "exchange": "NSE_FO"}""".stripMargin))
    val ticks = spark.range(1).select(lit("2885").as("token"))
    val err = intercept[IllegalArgumentException](TokenDirectory.enrich(ticks, twice))
    assert(err.getMessage.contains("2885") && !err.getMessage.contains("43607"), err.getMessage)
  }

  test("ingest pipeline: frames -> decode -> enrich -> parquet micro-batches") {
    import spark.implicits._
    val sink = Files.createTempDirectory("sink").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    val dim = TokenDirectory.load(spark, writeTokensJson())

    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[Array[Byte]]
    val t0 = 1704447000000L
    stream.addData(
      frame("2885", 1, t0, 286550L),
      frame("2885", 2, t0 + 1000, 286600L),
      frame("43607", 1, t0 + 2000, 12345L),
      frame("UNKNOWN", 1, t0 + 3000, 100L),     // not in dim: symbol null
      Array[Byte](1, 2, 3),                      // short frame: dropped
      frame("2885", 3, t0 + 4000, 286700L).take(Codec.QuoteFrameLen - 1)) // truncated: dropped

    // the decoder's own output: tickSchema's names and types, in order
    val decoded = TickDecoder.decode(spark, stream.toDS()).schema
    assert(decoded.map(f => f.name -> f.dataType) ===
      Schemas.tickSchema.map(f => f.name -> f.dataType))

    val q = IngestStream.start(spark, stream.toDS(), dim, sink, ckpt,
      Trigger.ProcessingTime("1 second"))
    q.processAllAvailable()
    val progress = q.lastProgress
    q.stop()

    // the directory was resolved when the plan was built: a micro-batch
    // neither joins nor broadcasts
    val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    assert(collectWithSubqueries(plan) { case b: BroadcastExchangeExec => b }.isEmpty, plan)
    assert(collectWithSubqueries(plan) { case j: BaseJoinExec => j }.isEmpty, plan)

    // malformed frames are counted on the batch's progress, not lost
    val observed = progress.observedMetrics.get(TickDecoder.Observation)
    assert(observed != null, s"no ${TickDecoder.Observation} observation in $progress")
    assert(observed.getAs[Long]("decode_errors") === 2L)

    val out = TickTable.read(spark, sink)
    assert(out.count() === 4) // 6 frames, 2 invalid dropped
    // ingest_timestamp is the micro-batch time: one value per batch
    assert(out.groupBy("batch_id").agg(countDistinct("ingest_timestamp").as("n"))
      .collect().forall(_.getAs[Long]("n") == 1L))
    assert(out.filter(col("token") === "2885" && col("symbol") === "RELIANCE").count() === 2)
    assert(out.filter(col("token") === "UNKNOWN").select("symbol").head().isNullAt(0))
    // paise scaling applied at decode
    assert(out.filter(col("sequence_number") === 1 && col("token") === "2885")
      .select("last_traded_price").head().getDouble(0) === 2865.50)

    // the reference's self-verification queries over the sink
    val latest = TickQueries.latestTick(out, "2885").collect()
    assert(latest.length === 1)
    assert(latest(0).getAs[Long]("sequence_number") === 2L)
    val stats = TickQueries.dailyStats(out, "2885").collect()
    assert(stats.length === 1)
    assert(stats(0).getAs[Long]("tick_count") === 2L)
  }
}
