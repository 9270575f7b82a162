package graft.tools

import graft.core.{Codec, Schemas}
import graft.ingest.{IngestStream, TokenDirectory}
import graft.obs.IngestMetricsListener
import graft.sources.FrameSpool
import org.apache.spark.sql.streaming.Trigger

/** Backlog-recovery measurement (r15 verdict #7): the at-least-once
  * counterpart of the reference's drop-on-full buffer
  * (/root/reference/ws/client.go:62-74 drops ticks when the 1000-slot
  * channel is full; this engine's spool+checkpoint pacing DRAINS the
  * backlog instead, r15's pacing spec) — but r15 only proved drain at
  * a fixed offered rate. This measures the RECOVERY story end to end:
  *
  *  1. steady phase: ingest at `rate` ticks/s for `steadySec`
  *     (admission = rate*5 per 5 s trigger — the tracked regime);
  *  2. forced stall: the query is KILLED (no graceful drain) and the
  *     box sits dark for `stallSec` while the producer keeps writing —
  *     a backlog of rate*stallSec frames accumulates in the spool;
  *  3. restart FROM THE SAME CHECKPOINT with a catch-up admission cap
  *     (`catchupFactor` * rate * 5): measures the drain rate and the
  *     TIME-TO-CATCH-UP — the first batch boundary where cumulative
  *     ingested rows >= rate * elapsed-since-phase-1-start, i.e. the
  *     stream is back to real time;
  *  4. sink integrity: rows in the sink == rows ingested exactly once
  *     (appendBatch's dynamic-overwrite replay idempotence), counted
  *     after the catch-up mark.
  *
  *   scripts/run_main.sh graft.tools.IngestRecovery \
  *     [workDir] [rate] [steadySec] [stallSec] [catchupFactor]
  *
  * Output: one compact JSON line + the /metrics histogram snapshot.
  */
object IngestRecovery {
  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse("/tmp/graft_ingest_rec")
    val rate = args.lift(1).map(_.toInt).getOrElse(10000)
    val steadySec = args.lift(2).map(_.toInt).getOrElse(60)
    val stallSec = args.lift(3).map(_.toInt).getOrElse(60)
    val catchupFactor = args.lift(4).map(_.toInt).getOrElse(4)
    val nTokens = 50

    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("WARN")

    val root = new java.io.File(work)
    if (root.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(root)
    }
    root.mkdirs()
    val spool = new java.io.File(root, "spool").getAbsolutePath
    val sink = new java.io.File(root, "sink").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath

    val tokensJson = new java.io.File(root, "tokens.json")
    java.nio.file.Files.writeString(tokensJson.toPath,
      (0 until nTokens).map(i =>
        s"""{"symbol": "SYM$i", "token": "${10000 + i}", "exchange": "NSE_CM"}""")
        .mkString("\n"))
    val dim = TokenDirectory.load(spark, tokensJson.getAbsolutePath)

    // pre-write the whole production timeline: steady + stall + a
    // generous catch-up window, so the spool is never the limiter
    val horizonSec = steadySec + stallSec + stallSec * 2 + 120
    val nFrames = rate.toLong * horizonSec
    val segSize = 200000
    val baseTs = 1704447000000L
    var seq = 0L
    var seg = 0
    println(s"[ingest-rec] writing $nFrames Quote-mode frames to $spool ...")
    while (seq < nFrames) {
      val n = math.min(segSize.toLong, nFrames - seq).toInt
      val frames = (0 until n).map { i =>
        val s = seq + i
        val tok = (10000 + (s % nTokens)).toString
        Codec.encode(Schemas.TickFrame(2, 1, tok, s, baseTs + s / rate * 1000,
          10000L + s % 500,
          Some(10 + s % 90), Some(10050L), Some(1000L + s % 1000),
          Some(500.0), Some(400.0),
          Some(9900L), Some(10600L), Some(9800L), Some(10100L)))
      }
      FrameSpool.write(spool, frames, f"part-$seg%05d")
      seq += n
      seg += 1
    }

    def framesStream(maxPerBatch: Long) = spark.readStream
      .format("graft.sources.FrameReplayProvider")
      .option("path", spool)
      .option("maxFramesPerBatch", maxPerBatch.toString)
      .load()
      .select("payload").as[Array[Byte]](org.apache.spark.sql.Encoders.BINARY)

    val listener = new IngestMetricsListener
    spark.streams.addListener(listener)

    // ---- phase 1: steady tracking ----
    val t0 = System.nanoTime()
    def elapsed() = (System.nanoTime() - t0) / 1e9
    val q1 = IngestStream.start(spark, framesStream(rate.toLong * 5), dim, sink, ckpt,
      Trigger.ProcessingTime("5 seconds"))
    Thread.sleep(steadySec * 1000L)
    val steadyRows = listener.rowsProcessed.get
    val steadyRate = steadyRows / elapsed()
    // forced stall: kill, no graceful drain (crash semantics — the
    // checkpoint's last committed batch is wherever the offset log was)
    q1.stop()
    q1.awaitTermination()
    println(f"[ingest-rec] steady: $steadyRows rows in ${elapsed()}%.1f s " +
      f"(${steadyRate}%.0f/s tracked); killing for $stallSec s ...")
    Thread.sleep(stallSec * 1000L)
    // UPPER bound on queue depth (r16 verdict #3): rate*elapsed() counts
    // the steady phase's startup seconds too, during which no frames
    // were actually offered — the true stall backlog is ~rate*stallSec.
    // The catch-up headline is unaffected (it is measured against the
    // same production timeline the drain must reach).
    val backlogUpper = (rate * elapsed() - listener.rowsProcessed.get).toLong

    // ---- phase 2: restart from the SAME checkpoint, catch-up cap ----
    val tRestart = elapsed()
    val rowsAtRestart = listener.rowsProcessed.get
    val q2 = IngestStream.start(spark, framesStream(rate.toLong * 5 * catchupFactor),
      dim, sink, ckpt, Trigger.ProcessingTime("5 seconds"))
    // poll until cumulative ingested >= the production timeline
    var caughtUpAt = -1.0
    val deadline = tRestart + stallSec * 2 + 120
    while (caughtUpAt < 0 && elapsed() < deadline) {
      Thread.sleep(1000)
      if (listener.rowsProcessed.get >= (rate * elapsed()).toLong) caughtUpAt = elapsed()
    }
    val rowsAtCatchup = listener.rowsProcessed.get
    val drainRate = (rowsAtCatchup - rowsAtRestart) / math.max(0.001,
      (if (caughtUpAt > 0) caughtUpAt else elapsed()) - tRestart)
    q2.stop()
    q2.awaitTermination()

    val sinkRows = spark.read.parquet(sink).count()
    val ingested = listener.rowsProcessed.get
    def num(v: Double) = f"$v%.3f"
    val line =
      s"""{"metric":"ingest_recovery","rate":$rate,"steady_sec":$steadySec,"stall_sec":$stallSec,""" +
        s""""backlog_frames_upper":$backlogUpper,"nominal_stall_backlog":${rate.toLong * stallSec},""" +
        s""""catchup_admission":${rate.toLong * 5 * catchupFactor},""" +
        s""""drain_ticks_per_sec":${num(drainRate)},"catch_up_sec":${num(if (caughtUpAt > 0) caughtUpAt - tRestart else -1.0)},""" +
        s""""caught_up":${caughtUpAt > 0},"rows_ingested":$ingested,"rows_in_sink":$sinkRows,""" +
        s""""drain_vs_offered":${num(drainRate / rate)}}"""
    println(line)
    sys.env.get("GRAFT_BENCH_OUT").foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), line + "\n")
    }
    println("---- /metrics snapshot (batch-duration histogram) ----")
    println(listener.snapshot())
    spark.stop()
  }
}
