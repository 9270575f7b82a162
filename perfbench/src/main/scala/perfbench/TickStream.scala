package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.core.{Codec, Schemas}
import graft.ingest.{IngestStream, TokenDirectory}
import graft.queries.TickQueries
import graft.sources.{FrameOffset, LiveFrameFeed}
import graft.storage.TickTable

/** Sizes of one tick_stream run. */
final case class TickSizes(tokens: Int, backlog: Int, maxFramesPerBatch: Int, ratePerSec: Int,
    malformedShare: Double, thinkMs: Long)

object TickSizes {
  /** 33 instruments as in the reference config; a backlog of three full
    * admission-capped batches after an outage; 200 ticks/s live, the
    * reference's design point; 0.1 % malformed frames; 0.5 s reader
    * think time. */
  val Full = TickSizes(33, 300000, 100000, 200, 0.001, 500)
  val Smoke = TickSizes(5, 300, 100, 50, 0.01, 200)
}

/** The frame generator: one instance per run, seeded. Frame `i` of the
  * channel is either a valid Quote frame with the next sequence number
  * of its token, or a malformed frame (truncated, or garbage with an
  * invalid subscription mode) that consumes no sequence number. Each
  * frame's creation stamp (its due time, epoch ms) is recorded; valid
  * frames carry it as `exchange_timestamp`. */
final class FrameGen(seed: Long, sizes: TickSizes) {
  private val rng = new java.util.Random(seed)
  val tokens: IndexedSeq[String] = (0 until sizes.tokens).map(i => (3000 + i).toString)
  val nextSeq = new Array[Long](sizes.tokens)
  val lastLtp = new Array[Long](sizes.tokens)
  private val created = mutable.ArrayBuffer[Long]()
  var malformed = 0L
  var valid = 0L
  var dropped = 0L

  def count: Int = created.length
  def createdAt(i: Int): Long = created(i)

  /** The next frame, due at `dueMs`. */
  def next(dueMs: Long): Array[Byte] = {
    created += dueMs
    if (rng.nextDouble() < sizes.malformedShare) {
      malformed += 1
      if (rng.nextBoolean()) {
        val f = new Array[Byte](1 + rng.nextInt(Codec.QuoteFrameLen - 1))
        rng.nextBytes(f)
        f(0) = 2 // a Quote frame cut short
        f
      } else {
        val f = new Array[Byte](Codec.QuoteFrameLen)
        rng.nextBytes(f)
        f(0) = (5 + rng.nextInt(250)).toByte // no such subscription mode
        f
      }
    } else {
      valid += 1
      val t = rng.nextInt(sizes.tokens)
      val s = nextSeq(t)
      nextSeq(t) += 1
      val ltp = 10000L + rng.nextInt(5000)
      lastLtp(t) = ltp
      Codec.encode(Schemas.TickFrame(2, 1, tokens(t), s, dueMs, ltp,
        Some(1L + rng.nextInt(500)), Some(ltp - 3), Some(1000L + s),
        Some(rng.nextInt(10000).toDouble), Some(rng.nextInt(10000).toDouble),
        Some(9900L), Some(15100L), Some(9800L), Some(10100L)))
    }
  }

  def tokensJson: String =
    tokens.zipWithIndex.map { case (t, i) =>
      s"""{"symbol": "SYM$i", "token": "$t", "exchange": "NSE_CM"}""" }.mkString("\n")
}

/** One committed micro-batch, from the query's progress reports. */
final case class Batch(id: Long, startMs: Long, commitMs: Long, rows: Long, startOff: Long,
    endOff: Long, latestOff: Long, phases: Map[String, Long]) {
  def durMs: Long = commitMs - startMs
}

object TickStream {

  def run(ctx: Ctx, sizes: TickSizes): Unit = {
    val spark = ctx.spark
    val gen = new FrameGen(ctx.seed, sizes)
    val work = new java.io.File(ctx.work, s"tick-${ctx.seed}-${System.nanoTime()}")
    work.mkdirs()
    val sink = new java.io.File(work, "sink").getAbsolutePath
    val ckpt = new java.io.File(work, "ckpt").getAbsolutePath
    val tokensFile = new java.io.File(work, "tokens.json")
    java.nio.file.Files.writeString(tokensFile.toPath, gen.tokensJson)
    val channel = s"perfbench-${work.getName}"
    // smoke check of the checker: lose one valid backlog frame on the way in
    var dropFrom = if (ctx.inject == "drop-tick") sizes.backlog / 2 else Int.MaxValue

    // the outage backlog: frames due in the past at the live rate
    val gapMs = 1000.0 / sizes.ratePerSec
    val backlogStartMs = System.currentTimeMillis() - (sizes.backlog * gapMs).toLong
    def offer(f: Array[Byte]): Unit =
      if (gen.count > dropFrom && f.length == Codec.QuoteFrameLen && f(0) == 2) {
        dropFrom = Int.MaxValue
        gen.dropped += 1
      } else LiveFrameFeed.append(channel, f)
    (0 until sizes.backlog).foreach(i => offer(gen.next(backlogStartMs + (i * gapMs).toLong)))

    val frames = spark.readStream
      .format("graft.sources.FrameReplayProvider")
      .option("source", "memory")
      .option("channel", channel)
      .option("maxFramesPerBatch", sizes.maxFramesPerBatch.toString)
      .load().select("payload").as(Encoders.BINARY)
    val q = IngestStream.start(spark, frames,
      TokenDirectory.load(spark, tokensFile.getAbsolutePath), sink, ckpt)

    // open-loop live generator: frame i is due at t0 + i / rate
    @volatile var generating = true
    var lateMsMax = 0L
    val genThread = new Thread(() => {
      val t0 = System.currentTimeMillis()
      var i = 0L
      while (generating) {
        val now = System.currentTimeMillis()
        while (generating && t0 + (i * gapMs).toLong <= now) {
          val due = t0 + (i * gapMs).toLong
          lateMsMax = math.max(lateMsMax, now - due)
          gen.synchronized(offer(gen.next(due)))
          i += 1
        }
        Thread.sleep(2)
      }
    }, "perfbench-generator")
    genThread.setDaemon(true)
    genThread.start()

    def batches(): Seq[Batch] = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      .map(batchOf(_, channel)).sortBy(_.id)
    def waitFor(what: String, timeoutMs: Long)(done: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (!done && q.isActive && System.currentTimeMillis() < deadline) Thread.sleep(50)
      q.exception.foreach(e => throw e)
      require(done, s"$what within ${timeoutMs / 1000} s")
    }
    waitFor("no batch committed", 120000)(batches().nonEmpty)
    val first = batches().head
    val setupS = (first.commitMs - ctx.sessionStartEpochMs) / 1000.0

    // closed-loop reader: the reference's verification reads
    @volatile var reading = true
    val reads = mutable.ArrayBuffer[(String, Long, Double)]() // kind, start (epoch ms), s
    var readsFailed = 0
    val seenSeq = mutable.Map[String, Long]()
    val seenCount = mutable.Map[String, Long]()
    val readRng = new java.util.Random(ctx.seed * 31 + 7)
    val readerThread = new Thread(() => {
      while (reading) {
        val tok = gen.tokens(readRng.nextInt(gen.tokens.size))
        Seq("latest_tick", "daily_stats", "token_freshness").foreach { name =>
          if (reading) {
            val startMs = System.currentTimeMillis()
            val t0 = System.nanoTime()
            val ok = try ctx.tracer.span(spark, "read", name, ctx.rootSpan) { _ =>
              val ticks = TickTable.read(spark, sink)
              name match {
                case "latest_tick" =>
                  val r = TickQueries.latestTick(ticks, tok).collect()
                  val s = if (r.length == 1) r(0).getAs[Long]("sequence_number") else -1L
                  val okay = r.length == 1 && s >= seenSeq.getOrElse(tok, 0L)
                  if (okay) seenSeq(tok) = s
                  okay
                case "daily_stats" =>
                  val r = TickQueries.dailyStats(ticks, tok).collect()
                  r.nonEmpty && r.map(_.getAs[Long]("tick_count")).sum > 0
                case _ =>
                  val r = TickQueries.tokenFreshness(ticks, gen.tokens).collect()
                  r.length <= gen.tokens.size && r.forall { row =>
                    val t = row.getAs[String]("token")
                    val c = row.getAs[Long]("tick_count")
                    val okay = c >= seenCount.getOrElse(t, 0L)
                    seenCount(t) = c
                    okay
                  }
              }
            } catch { case scala.util.control.NonFatal(e) =>
              System.err.println(s"[perfbench] read $name failed: $e"); false }
            reads += ((name, startMs, (System.nanoTime() - t0) / 1e9))
            if (!ok) readsFailed += 1
          }
        }
        Thread.sleep(sizes.thinkMs)
      }
    }, "perfbench-reader")
    readerThread.setDaemon(true)
    readerThread.start()

    // The window ends just before the last 5 s trigger (epoch-aligned)
    // inside it, so the final batch starts as the generator stops instead
    // of up to a trigger interval later; and no earlier than two triggers
    // after the backlog drained, so live ticks are timed after catch-up.
    def boundary(ms: Long): Long = ms - ms % TriggerMs
    waitFor("the backlog did not drain", 120000)(batches().exists(_.endOff >= sizes.backlog))
    val drained = batches().find(_.endOff >= sizes.backlog).get
    val stopAt = math.max(boundary(first.commitMs + ctx.seconds * 1000L),
      boundary(drained.commitMs) + 2 * TriggerMs) - 50
    Thread.sleep(math.max(0L, stopAt - System.currentTimeMillis()))
    generating = false
    genThread.join()
    reading = false
    readerThread.join()
    // the last offered frames, committed by the normal 5 s trigger
    val offered = LiveFrameFeed.size(channel)
    waitFor("the sink did not commit every offered frame", 60000)(
      batches().lastOption.exists(_.endOff >= offered))
    q.stop()
    LiveFrameFeed.clear(channel)
    val all = batches()

    // ---- correctness: every valid frame exactly once, nothing else ----
    val perToken = TickTable.read(spark, sink).groupBy("token")
      .agg(count(lit(1)).as("n"), countDistinct("sequence_number").as("d"),
        max("sequence_number").as("hi"), min("sequence_number").as("lo"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    var lost = 0L
    var dup = 0L
    var extra = 0L
    gen.tokens.zipWithIndex.foreach { case (t, i) =>
      val want = gen.nextSeq(i)
      val (n, d, hi, lo) = perToken.getOrElse(t, (0L, 0L, -1L, 0L))
      dup += n - d
      val outOfRange = if (d > 0 && (lo < 0 || hi >= want)) 1L else 0L
      extra += outOfRange
      lost += math.max(0L, want - d + outOfRange)
    }
    extra += perToken.keySet.diff(gen.tokens.toSet).toSeq.map(perToken(_)._1).sum
    val ticks = TickTable.read(spark, sink)
    val latest = gen.tokens.map(t => TickQueries.latestTick(ticks, t)).reduce(_ unionByName _)
      .collect().map(r => r.getAs[String]("token") ->
        (r.getAs[Long]("sequence_number"), r.getAs[Double]("last_traded_price"))).toMap
    val latestWrong = gen.tokens.zipWithIndex.count { case (t, i) =>
      gen.nextSeq(i) > 0 &&
        !latest.get(t).contains((gen.nextSeq(i) - 1, Codec.paiseToRupees(gen.lastLtp(i))))
    }
    val sinkRows = perToken.values.map(_._1).sum
    val framesDropped = offered - sinkRows

    ctx.attempted += gen.count + reads.size + gen.tokens.size
    ctx.failed += lost + dup + extra + readsFailed + latestWrong
    if (framesDropped != gen.malformed && ctx.failed == 0) ctx.failed += 1
    ctx.log(s"tick_stream: offered=$offered valid=${gen.valid} malformed=${gen.malformed} " +
      s"sink=$sinkRows lost=$lost dup=$dup extra=$extra reads=${reads.size} " +
      s"readsFailed=$readsFailed latestWrong=$latestWrong batches=${all.size}")

    // ---- end-to-end metrics from commit times and creation stamps ----
    val drain = all.find(_.endOff >= sizes.backlog).getOrElse(all.last)
    require(drain.id > first.id, "the backlog fitted in one batch: nothing to time for catch-up")
    // Catch-up rate: the catch-up batches' rows over the time they ran.
    // Batches shorter than the trigger interval wait for the next trigger;
    // that wait is the trigger's, not the engine's, so it is left out.
    val catchBatches = all.filter(b => b.id > first.id && b.id <= drain.id)
    val catchup = catchBatches.map(_.rows).sum / (catchBatches.map(_.durMs).sum / 1000.0)
    // Freshness of the live ticks created in whole trigger intervals
    // after the drain commit: each such interval's ticks are committed
    // by the batch its closing trigger starts.
    val freshFrom = drain.commitMs - drain.commitMs % TriggerMs + TriggerMs
    val fresh = mutable.ArrayBuffer[Double]()
    all.filter(_.id > drain.id).foreach { b =>
      (b.startOff until b.endOff).foreach { i =>
        val c = gen.createdAt(i.toInt)
        if (c >= freshFrom) fresh += (b.commitMs - c) / 1000.0
      }
    }
    require(fresh.nonEmpty, "no live tick was committed after catch-up")
    // read latency beside live writes: reads started after the backlog
    // drained (during catch-up they queue behind 100k-row batches, and the
    // share of reads that do depends on where the window falls)
    val liveReads = reads.filter(_._2 >= drain.commitMs)
    require(liveReads.nonEmpty, "the reader completed no verification read after catch-up")
    ctx.e2e("setup_s", setupS)
    ctx.e2e("throughput_per_s", catchup)
    ctx.e2e("latency_p50_s", Util.median(fresh.toSeq))
    ctx.e2e("latency_p90_s", Util.quantile(fresh.toSeq, 0.9))
    val readsByKind = liveReads.groupBy(_._1).values.map(_.map(_._3).toSeq)
    ctx.e2e("read_p50_s", Util.quantileOfKinds(readsByKind, 0.5))
    ctx.info("fresh_ticks", fresh.size)
    ctx.info("reads", reads.size)
    ctx.info("live_reads", liveReads.size)
    ctx.info("freshness_p99_s", Util.quantile(fresh.toSeq, 0.99))
    ctx.info("read_p90_s", Util.quantileOfKinds(readsByKind, 0.9))
    ctx.info("batches", all.size)

    // ---- per-layer: progress phases, sink layout ----
    val follow = all.filter(_.id > drain.id)
    def med(bs: Seq[Batch], f: Batch => Double): Double =
      if (bs.isEmpty) 0.0 else Util.median(bs.map(f))
    def phase(k: String)(b: Batch): Double = b.phases.getOrElse(k, 0L).toDouble
    val parquet = Util.filesUnder(new java.io.File(sink), ".parquet")
    ctx.layer("sources.backlog_frames", Util.mean(all.map(b => (b.latestOff - b.endOff).toDouble)))
    ctx.layer("sources.latest_offset_ms", med(all, phase("latestOffset")))
    ctx.layer("gen.late_ms_max", lateMsMax.toDouble)
    ctx.layer("ingest.first_batch_s", first.durMs / 1000.0)
    ctx.layer("ingest.catchup_batch_ms", med(catchBatches, _.durMs.toDouble))
    ctx.layer("ingest.follow_batch_ms", med(follow, _.durMs.toDouble))
    ctx.layer("ingest.add_batch_ms", med(catchBatches, phase("addBatch")))
    ctx.layer("ingest.query_planning_ms", med(follow, phase("queryPlanning")))
    ctx.layer("ingest.wal_commit_ms", med(follow, phase("walCommit")))
    ctx.layer("ingest.commit_offsets_ms", med(follow, phase("commitOffsets")))
    ctx.layer("ingest.frames_dropped", framesDropped.toDouble)
    ctx.layer("storage.sink_files", parquet.size.toDouble)
    ctx.layer("storage.files_per_batch", parquet.size.toDouble / all.size)
    ctx.layer("storage.bytes_per_tick", parquet.map(_.length()).sum.toDouble / math.max(1L, sinkRows))

    // the share of a follow batch that is fixed cost: its time minus
    // its rows at the per-row cost the catch-up batches show
    val perRowMs = if (catchBatches.isEmpty) 0.0
      else catchBatches.map(phase("addBatch")).sum / catchBatches.map(_.rows).sum
    val followMs = med(follow, _.durMs.toDouble)
    val followRows = if (follow.isEmpty) 0.0 else Util.median(follow.map(_.rows.toDouble))
    ctx.answer("follow_batch", Util.obj(
      "median_ms" -> followMs, "median_rows" -> followRows,
      "per_row_ms_from_catchup" -> perRowMs,
      "per_row_share" -> (if (followMs > 0) perRowMs * followRows / followMs else 0.0),
      "fixed_share" -> (if (followMs > 0) 1.0 - perRowMs * followRows / followMs else 0.0),
      "phases_median_ms" -> Seq("latestOffset", "queryPlanning", "addBatch", "walCommit",
        "commitOffsets").map(k => k -> med(follow, phase(k))).toMap))

    if (ctx.tracer.enabled) all.foreach { b =>
      val id = ctx.tracer.newId()
      ctx.batchSpans(b.id) = id
      ctx.tracer.record(Span(id, ctx.rootSpan, "batch",
        if (b.id == first.id) "first" else if (b.id <= drain.id) "catchup" else "follow",
        ctx.tracer.epochMsToUs(b.startMs), ctx.tracer.epochMsToUs(b.commitMs),
        Map("batch" -> b.id, "rows" -> b.rows) ++ b.phases.map { case (k, v) => s"$k.ms" -> v }))
    }
    Util.deleteRecursively(work)
  }

  /** The ingest path's default trigger interval. */
  val TriggerMs = 5000L

  private def batchOf(p: StreamingQueryProgress, channel: String): Batch = {
    val s = p.sources.head
    def off(json: String) = FrameOffset.parse(json).countFor(channel)
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val phases = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    Batch(p.batchId, start, start + phases.getOrElse("triggerExecution", 0L), p.numInputRows,
      off(s.startOffset), off(s.endOffset), off(s.latestOffset), phases)
  }
}
