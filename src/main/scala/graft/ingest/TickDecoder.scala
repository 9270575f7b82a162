package graft.ingest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.core.Schemas
import graft.plans.GraftExtensions

/** Wire-frame decoding stage: Dataset[Array[Byte]] -> tick rows.
  *
  * A projection through `graft_decode_frame` (plans.DecodeTickFrameExpr),
  * the only place the byte layout maps to columns. Short/invalid frames
  * decode to null; they are dropped and counted rather than silently
  * zero-filled like the reference (its parser/binary.go:47-76
  * ignores read errors).
  */
object TickDecoder {

  /** Name of the per-batch observation whose `decode_errors` counts the
    * malformed frames (`StreamingQueryProgress.observedMetrics`). */
  val Observation = "graft.decode"

  /** Decode frames into `Schemas.tickSchema`'s columns, in order. `symbol`
    * is null until enrichment; `ingest_timestamp` is the micro-batch time
    * (`current_timestamp()`), so a replayed batch reproduces it. */
  def decode(spark: SparkSession, frames: Dataset[Array[Byte]]): DataFrame = {
    val t = col("t")
    frames.toDF("payload")
      // Each micro-batch plans its batch time as a new literal, and
      // generated code inlines literals. Stamped here, below the
      // observation, only this small stage recompiles every batch; the
      // filter/enrich stage above keeps hitting the codegen cache.
      .select(GraftExtensions.decodeFrame(col("payload")).as("t"),
        current_timestamp().as("ingest_timestamp"))
      // the observation also keeps the null filter from being pushed
      // below the projection, which would decode every frame twice
      .observe(Observation, count_if(t.isNull).as("decode_errors"))
      .where(t.isNotNull)
      .select(Schemas.tickSchema.fieldNames.toSeq.map {
        case "symbol" => lit(null).cast(StringType).as("symbol")
        case "ingest_timestamp" => col("ingest_timestamp")
        case name => t(name).as(name)
      }: _*)
  }
}
