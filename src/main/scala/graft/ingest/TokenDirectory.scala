package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Schemas

/** Instrument-directory loading + enrichment (SURVEY §2.1 S3, §2.4 J1/J2).
  *
  * Mirrors /root/reference/main.go:168-191: load tokens.json, validate the
  * exchange against the known map (unknown exchanges dropped — P6), and
  * enrich ticks with the symbol. The directory is tens of rows (33 in the
  * reference config) and, as in the reference, it is read once when the
  * stream starts: `enrich` collects it into a literal map, so a micro-batch
  * runs no join and no broadcast job for it. Directory edits take effect
  * on restart; metadata that changes while the stream runs goes through
  * streaming.StreamJoins.
  */
object TokenDirectory {

  /** Load + validate token config: columns `exchange, symbol, token,
    * exchange_type`. Unknown exchanges map to a null code and are dropped
    * (the reference logs and skips, main.go:182-186); the dropped count is
    * observable via the returned DataFrame being smaller than the input. */
  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.tokenConfigSchema).json(path)
      .select(col("exchange"), col("symbol"), col("token"),
        element_at(typedLit(Schemas.ExchangeCodes), col("exchange")).as("exchange_type"))
      .where(col("exchange_type").isNotNull)

  /** Per-exchange token groups — the subscription request shape
    * (/root/reference/main.go:288-304). */
  def byExchange(dim: DataFrame): DataFrame =
    dim.groupBy("exchange_type")
      .agg(collect_list("token").as("tokens"))

  /** Enrich a tick stream/table with the symbol column: `token`, the other
    * tick columns, then `symbol` (unknown tokens keep flowing with a null
    * symbol). `dim` is collected here, once, when the plan is built; a
    * token listed twice would otherwise land its ticks twice, so it fails
    * here instead. */
  def enrich(ticks: DataFrame, dim: DataFrame): DataFrame = {
    val pairs = dim.select("token", "symbol").collect()
      .map(r => r.getString(0) -> r.getString(1))
    val dups = pairs.groupBy(_._1).collect { case (t, ps) if ps.length > 1 => t }
    require(dups.isEmpty,
      s"token directory lists token(s) ${dups.toSeq.sorted.mkString(", ")} more than once")
    val symbols = typedLit(pairs.toMap)
    val rest = ticks.columns.filterNot(c => c == "token" || c == "symbol")
    ticks.select(col("token") +: rest.map(col).toSeq :+
      element_at(symbols, col("token")).as("symbol"): _*)
  }
}
