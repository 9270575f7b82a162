package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's analytical query surface (SURVEY.md §2), re-expressed
  * Spark-first over the driver's `events` table — the tick-stream analog
  * (ts = exchange_timestamp, user_id = token, value = last_traded_price;
  * TESTDATA.md / FIXTURES.md §4).
  *
  * Determinism contract (the driver hash-compares against a DuckDB oracle):
  *  - every query has a total ordering (ties broken by event_id);
  *  - accumulating double aggregates (sum/avg) are rounded so the two
  *    engines' summation order can't flip a hash;
  *  - timestamps are emitted as epoch microseconds (unix_micros <->
  *    DuckDB epoch_us) and dates as ISO strings, sidestepping
  *    tz-awareness mismatches between parquet writers;
  *  - "now()"-relative predicates (reference README.md:241,254) take a
  *    pinned as-of timestamp (SURVEY §7.4.3).
  *
  * Scale posture: single-pass scans + partial/final hash aggregation;
  * top-k lowers to TakeOrderedAndProject; the only join broadcasts a tiny
  * dim. Nothing collects to the driver.
  */
object MarketQueries {

  /** Pinned as-of instant; the test events span 2024-01-01 .. 2024-01-30. */
  val AsOf = "2024-01-31 00:00:00"

  /** Canonical instrument token (reference hardcodes "2885",
    * /root/reference/main.go:254); user_id=7 exists at every SF. */
  val Token = 7

  /** Token watch-list for IN-list queries (reference
    * db/clickhouse.go:191-199 takes a token slice). */
  val Tokens = Seq(1, 7, 42, 99)

  /** events.parquet stores ts as TIMESTAMP(NANOS); session setup
    * (Graft.session) enables the nanosAsLong reader escape hatch, and
    * this normalizes to TimestampType (micros, floor — matching DuckDB's
    * ns->us truncation). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // TIMESTAMP(NANOS) file
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType => // NTZ-annotated file
        raw.withColumn("ts", col("ts").cast("timestamp")) // session TZ is UTC
      case _ => raw
    }
  }

  private def tsUs(c: org.apache.spark.sql.Column) = unix_micros(c)
  private def dateStr(c: org.apache.spark.sql.Column) = to_date(c).cast("string")

  /** S4/O1: latest tick for one token — point lookup
    * (/root/reference/db/clickhouse.go:123-132). Lowers to
    * TakeOrderedAndProject: no shuffle, no global sort. */
  def latestTick(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .filter(col("user_id") === Token)
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(1)
      .select(col("event_id"), tsUs(col("ts")).as("ts_us"), col("user_id"),
        col("event_type"), col("value"))

  /** A1/O2: daily stats for one token
    * (/root/reference/db/clickhouse.go:156-169): min/max/sum/count per day. */
  def dailyStats(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .filter(col("user_id") === Token)
      .groupBy(dateStr(col("ts")).as("trade_date"))
      .agg(
        min("value").as("low_price"),
        max("value").as("high_price"),
        round(sum("value"), 3).as("total_value"),
        count(lit(1)).as("tick_count"))
      .orderBy(col("trade_date").desc)

  /** A2: multi-token freshness check
    * (/root/reference/db/clickhouse.go:191-199). */
  def tokenFreshness(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .filter(col("user_id").isin(Tokens: _*))
      .groupBy("user_id")
      .agg(tsUs(max(col("ts"))).as("last_ts_us"), count(lit(1)).as("tick_count"))
      .orderBy("user_id")

  /** O3: latest 10 prices for a token set (/root/reference/README.md:219-227).
    * TakeOrderedAndProject again — the limit fuses into the sort. */
  def latestPricesTopK(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .filter(col("user_id").isin(Tokens: _*))
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(10)
      .select(col("event_id"), tsUs(col("ts")).as("ts_us"), col("user_id"), col("value"))

  /** A3: daily OHLCV (/root/reference/README.md:231-243). ClickHouse's
    * first_value/last_value inside GROUP BY are arrival-order-dependent;
    * the well-defined Spark equivalent is min_by/max_by over (ts, event_id)
    * (SURVEY §2.5 A3) — one hash aggregation, no window shuffle. */
  def dailyOhlcv(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .filter(col("user_id") === Token)
      .groupBy(dateStr(col("ts")).as("trade_date"))
      .agg(
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open_price"),
        max("value").as("high_price"),
        min("value").as("low_price"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close_price"),
        round(sum("value"), 3).as("total_value"),
        count(lit(1)).as("tick_count"))
      .orderBy(col("trade_date").desc)

  /** A4: volume profile — group by derived price level over the trailing
    * 7 days (/root/reference/README.md:247-256), as-of pinned. */
  def volumeProfile(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .filter(col("ts") >= to_timestamp(lit(AsOf)) - expr("INTERVAL 7 DAYS"))
      .groupBy(col("user_id"), round(col("value"), 0).as("price_level"))
      .agg(count(lit(1)).as("tick_count"), round(sum("value"), 3).as("total_value"))
      .orderBy(col("user_id"), col("price_level"))

  /** J1/J2: broadcast enrichment join — the dim is tiny (1.5k customers
    * here, 33 tokens in the reference config/tokens.json), so it must be a
    * broadcast hash join, never a shuffle (SURVEY §2.4). */
  def enrichedBySegment(spark: SparkSession, dir: String): DataFrame = {
    val dim = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    events(spark, dir)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("tick_count"), round(sum("value"), 3).as("total_value"))
      .orderBy("c_mktsegment")
  }

  /** P2/F5/F6: paise÷100 scaling + rounding projection
    * (/root/reference/parser/binary.go:27-45). Narrow projection —
    * column pruning reaches the parquet scan. */
  def scaledProjection(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(
        col("event_id"),
        round(col("value") / 100.0, 4).as("scaled_value"),
        round(col("value"), 2).as("rounded_value"))
      .orderBy("event_id")

  /** P5/F1-F4: pinned time-range filter — trailing 1 day before as-of
    * (/root/reference/README.md:254). Filter pushes to the parquet scan. */
  def timeRangeScan(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .filter(col("ts") >= to_timestamp(lit(AsOf)) - expr("INTERVAL 1 DAYS")
        && col("ts") < to_timestamp(lit(AsOf)))
      .select(col("event_id"), tsUs(col("ts")).as("ts_us"), col("user_id"),
        col("event_type"), col("value"))
      .orderBy("event_id")

  /** A6: per-token stats record (/root/reference/models/stats.go:5-13):
    * min/max/avg price, total value, tick count, last update. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy("user_id")
      .agg(
        min("value").as("min_price"),
        max("value").as("max_price"),
        // decimal-exact avg: both engines sum the same decimals exactly,
        // then divide by the same count — bit-identical, NO rounding
        // (round(double) itself disagrees across engines on exact ties)
        (sum(col("value").cast("decimal(20,6)")).cast("double") / count(lit(1))).as("avg_price"),
        round(sum("value"), 3).as("total_value"),
        count(lit(1)).as("tick_count"),
        tsUs(max(col("ts"))).as("last_update_us"))
      .orderBy("user_id")

  /** P7: mode-conditional projection (/root/reference/parser/binary.go:63-73)
    * — quote-only fields are null for LTP-mode rows. */
  def modeConditional(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(
        col("event_id"),
        col("event_type"),
        when(col("event_type").isin("purchase", "click"), round(col("value"), 2))
          .otherwise(lit(null)).as("quote_value"))
      .orderBy("event_id")

  /** T5 batch analog: tumbling 1-hour OHLC bars per event_type via the
    * window() generator (streaming variant in graft.streaming.Bars). */
  def hourlyBars(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open_price"),
        max("value").as("high_price"),
        min("value").as("low_price"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close_price"),
        count(lit(1)).as("tick_count"))
      .select(tsUs(col("window.start")).as("bar_start_us"), col("event_type"),
        col("open_price"), col("high_price"), col("low_price"),
        col("close_price"), col("tick_count"))
      .orderBy("bar_start_us", "event_type")

  /** As-of join (SURVEY §2.4 note): the latest price at-or-before a pinned
    * instant per watched token — expressed as max_by over the filtered
    * range; one hash aggregation, no window shuffle, no custom operator. */
  def asofPrice(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .filter(col("user_id").isin(Tokens: _*)
        && col("ts") <= to_timestamp(lit("2024-01-15 12:00:00")))
      .groupBy("user_id")
      .agg(
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("asof_price"),
        tsUs(max(col("ts"))).as("asof_ts_us"))
      .orderBy("user_id")

  /** §2.8: window function — tick-to-tick price change per token
    * (lag over event-time order; partitioned by token so the sort is
    * per-key, never global). */
  def tickReturns(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events(spark, dir)
      .filter(col("user_id").isin(Tokens: _*))
      .withColumn("price_change", round(col("value") - lag("value", 1).over(w), 4))
      .select("event_id", "user_id", "value", "price_change")
      .orderBy("event_id")
  }

  /** Per-token 3σ price-jump outliers — the anomaly face of the window
    * family: tick-over-tick returns (per-token lag, event-time order),
    * per-token mean/σ from EXACT decimal sums (round-6 returns, so the
    * aggregates are order-free and both engines derive identical band
    * edges), flag returns more than 3σ from the token's mean with the
    * z-score. Plan shape: one per-token window + one token-sized
    * aggregate broadcast back — no global anything; a token whose
    * returns are constant has σ = 0 and flags nothing (the deviation
    * is exactly 0). */
  def priceJumps(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val rets = events(spark, dir)
      .withColumn("r6",
        round(col("value") - lag("value", 1).over(w), 6).cast("decimal(18,6)"))
      .filter(col("r6").isNotNull)
    val stats = rets.groupBy("user_id").agg(
      count(lit(1)).as("n"), sum("r6").as("sr"),
      sum(col("r6") * col("r6")).as("sr2"))
    rets.join(stats, "user_id")
      .withColumn("mean", col("sr").cast("double") / col("n"))
      .withColumn("sdev",
        sqrt(col("sr2").cast("double") / col("n") - col("mean") * col("mean")))
      .filter(abs(col("r6").cast("double") - col("mean")) > lit(3.0) * col("sdev"))
      .select(col("event_id"), col("user_id"), tsUs(col("ts")).as("ts_us"),
        col("value"), col("r6").cast("double").as("ret"),
        round((col("r6").cast("double") - col("mean")) / col("sdev"), 4).as("z"))
      .orderBy("event_id")
  }

  /** Truncated EWMA price indicator with DYADIC weights — the
    * exponential-smoothing member of the window family. Weight of the
    * tick j steps back is 2^-(j+1) (j = 0..14) with the tail weight
    * 2^-15 doubled onto the oldest term so the 16 weights sum to
    * EXACTLY 1. Dyadic weights make every product an exponent shift
    * (no rounding) and the fixed left-to-right 16-term addition chain
    * is the same IEEE sequence in Spark and DuckDB — the result is
    * bit-identical cross-engine with NO output rounding at all (the
    * ewma_half recipe: where a 0.3-style factor would diverge between
    * binary and decimal engines, powers of two cannot). Only rows with
    * a full 16-tick history emit. Plan shape: one per-token window —
    * embarrassingly parallel over tokens, no global anything. */
  def ewmaPrices(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val ewma = (0 until 15)
      .map(j => lag(col("value"), j).over(w) / lit(1L << (j + 1)))
      .reduceLeft(_ + _) + lag(col("value"), 15).over(w) / lit(32768L)
    events(spark, dir)
      .filter(col("user_id").isin(Tokens: _*))
      .withColumn("rn", row_number().over(w))
      .withColumn("ewma", ewma)
      .filter(col("rn") >= 16)
      .select(col("event_id"), col("user_id"), tsUs(col("ts")).as("ts_us"),
        col("value"), col("ewma"))
      .orderBy("event_id")
  }

  /** Daily VWAP per token — volume-weighted average price with the
    * props.k payload as the trade size (F10's JSON decode feeding A-
    * family aggregation). price x qty is an EXACT decimal product
    * (value cast to DECIMAL(10,2) — the doubles are 2-dp prices, so
    * the cast is unambiguous), the day's numerator/denominator are
    * order-free decimal/integer sums, and the emitted vwap is the
    * PORTABLE round-6 of their double quotient (it divides by an
    * arbitrary integer, the guaranteed-tie case ORACLE.md documents).
    * Days with zero total quantity are dropped rather than divided by.
    * One hash aggregate on (token, day) — the daily_stats shape. */
  def vwapDaily(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .withColumn("pv", col("value").cast("decimal(10,2)") * col("k"))
      .groupBy(col("user_id"), dateStr(col("ts")).as("date"))
      .agg(count(lit(1)).as("n_trades"), sum("k").as("qty"),
        sum("pv").as("pv_sum"))
      .filter(col("qty") > 0)
      .withColumn("vwap",
        floor(col("pv_sum").cast("double") / col("qty") * lit(1.0e6)
          + lit(0.5)) / lit(1.0e6))
      .select(col("user_id"), col("date"), col("n_trades"), col("qty"),
        col("vwap"))
      .orderBy("user_id", "date")

  /** Z-order layout key over (token, minute) — the multi-dimensional
    * storage-sort face of O5: the first 50 events in morton order,
    * pinning the interleave arithmetic both engines must agree on
    * bit-for-bit (graft.storage.TickTable.morton16; the write path and
    * its measured two-dimension locality are StorageSpec territory). */
  def zorderKey(spark: SparkSession, dir: String, k: Int = 50): DataFrame =
    events(spark, dir)
      .select(col("event_id"),
        col("user_id").bitwiseAND(lit(65535L)).as("x"),
        expr("unix_micros(ts) div 60000000").bitwiseAND(lit(65535L)).as("y"))
      .withColumn("z", graft.storage.TickTable.morton16(col("x"), col("y")))
      .orderBy("z", "event_id")
      .limit(k)

  /** §2.9: set operation — tokens that emitted both 'purchase' and
    * 'error' events (INTERSECT of two key sets). */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    e.filter(col("event_type") === "purchase").select("user_id")
      .intersect(e.filter(col("event_type") === "error").select("user_id"))
      .orderBy("user_id")
  }

  /** §2.9: EXCEPT — (token, day) pairs with a purchase but no error that
    * day (completes the set-operation family next to `setOps`'
    * INTERSECT; keyed per day because every token eventually errors). */
  def exceptTokens(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    def keyOf(t: String) = e.filter(col("event_type") === t)
      .select(col("user_id"), dateStr(col("ts")).as("date"))
    keyOf("purchase").except(keyOf("error"))
      .orderBy("user_id", "date")
  }

  /** Rollup aggregation (superset of the reference's plain GROUP BY
    * surface): per-type and grand-total in one pass. */
  def rollupStats(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .rollup("event_type")
      .agg(count(lit(1)).as("tick_count"), round(sum("value"), 3).as("total_value"))
      .orderBy(col("event_type").asc_nulls_first)

  /** Distinct aggregation: per-token distinct event types + overall span. */
  def distinctCounts(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy("user_id")
      .agg(
        countDistinct("event_type").as("n_types"),
        count(lit(1)).as("tick_count"))
      .orderBy("user_id")

  /** F10: JSON decode of the props payload (config parsing parity,
    * /root/reference/main.go:175) — extract, cast, aggregate. */
  def jsonProps(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("k")
      .agg(count(lit(1)).as("tick_count"), round(sum("value"), 3).as("total_value"))
      .orderBy("k")

  /** F8: time formatting (reference log formats main.go:121-124). */
  def timeFormat(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .filter(col("user_id") === Token)
      .select(
        col("event_id"),
        date_format(col("ts"), "HH:mm").as("hhmm"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_formatted"))
      .orderBy("event_id")

  /** Anti join: registered tokens (customer dim as directory analog) with
    * NO activity in the trailing week — the "stale instruments" report. */
  def inactiveTokens(spark: SparkSession, dir: String): DataFrame = {
    val recent = events(spark, dir)
      .filter(col("ts") >= to_timestamp(lit(AsOf)) - expr("INTERVAL 7 DAYS"))
      .select(col("user_id"))
    spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"))
      .join(recent, col("c_custkey") === col("user_id"), "left_anti")
      .orderBy("c_custkey")
  }

  /** Pivot: per-token tick counts by event type as columns — the
    * wide-format report shape. Fixed pivot values keep the schema
    * deterministic. */
  def pivotCounts(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .filter(col("user_id").isin(Tokens: _*))
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)
      .orderBy("user_id")

  /** Collected-set aggregation (the shape of the reference's per-exchange
    * token grouping, /root/reference/main.go:180-188) — emitted as a
    * sorted CSV string so the hash compare is order-stable. */
  def tokensByType(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy("event_type")
      .agg(
        concat_ws(",", sort_array(collect_set(col("user_id")))).as("token_list"),
        countDistinct("user_id").as("n_tokens"))
      .orderBy("event_type")

  /** Gap-based sessionization (batch form of session windows, SURVEY
    * §2.10 T5): a new session starts after a >4 h silence per token;
    * session id = running count of session starts. Two window passes +
    * one hash agg, all partitioned by token. */
  def sessionStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byTime = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapUs = 4L * 3600 * 1000000 // 4 hours in micros
    val prev = lag(unix_micros(col("ts")), 1).over(byTime)
    events(spark, dir)
      .filter(col("user_id").isin(Tokens: _*))
      .withColumn("new_session",
        when(prev.isNull || unix_micros(col("ts")) - prev > gapUs, 1).otherwise(0))
      .withColumn("session_id",
        sum("new_session").over(byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        unix_micros(min(col("ts"))).as("session_start_us"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).as("duration_us"))
      .orderBy("user_id", "session_id")
  }

  /** The BUILT-IN `session_window` in batch mode — the same construct
    * the streaming face (`streaming.Bars.sessions`) groups by, pinned
    * against an independent lag/cumsum sessionization oracle. Engine
    * boundary rule (pinned by a BarsSpec fixture that FALSIFIED the
    * first-draft exclusive `>=` oracle — the corpora contain no
    * boundary-exact pair, so only the fixture could tell): the
    * point-event window [ts, ts+gap] merges INCLUSIVELY — an event
    * exactly gap after its predecessor still extends the session, one
    * microsecond past it splits — so the lag-recipe equivalent is the
    * same `diff > gap` predicate `sessionStats` uses, and a session's
    * end is its last event's ts + gap. Same plan shape as any session
    * agg: one hash exchange on user_id, per-partition session merge,
    * no driver state. */
  def sessionWindowAgg(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .filter(col("user_id").isin(Tokens: _*))
      .groupBy(col("user_id"), session_window(col("ts"), "4 hours"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n_events"))
      .orderBy("user_id", "session_start_us")

  /** Exact interpolated percentiles per event type (the distribution
    * summary the reference's histogram metrics gesture at,
    * /root/reference/metrics/metrics.go:53).
    *
    * SCALE NOTE: this is the EXACT-ORACLE face of the quantile family —
    * Spark's `percentile` buffers every distinct (value, count) of a
    * group in one aggregation buffer, O(group values) state on a single
    * reducer, which does not survive low-cardinality group keys over
    * billions of rows. The 100 TB path is `ops.QuantileSketch`
    * (`quantile_sketch`): B counters per group, mergeable, with this
    * exact leg emitted beside the estimate to measure sketch error. */
  def percentiles(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"),
        count(lit(1)).as("tick_count"))
      .orderBy("event_type")

  /** T6 batch analog: sequence-number dedup — the stream unioned with
    * itself (simulating redelivery); exact duplicates collapse. */
  def seqDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    e.unionAll(e)
      .dropDuplicates("event_id")
      .groupBy("user_id")
      .agg(count(lit(1)).as("tick_count"))
      .orderBy("user_id")
  }

  /** As-of JOIN (the pairwise generalization of `asofPrice`): every click
    * event is enriched with the latest purchase value at-or-before it for
    * the same user. One shuffle + window via ops.AsofJoin — no range-join
    * candidate blowup. Right side pre-aggregated to unique (user, ts). */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    val clicks = e.filter(col("event_type") === "click" && col("user_id").isin(Tokens: _*))
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val purchases = e.filter(col("event_type") === "purchase" && col("user_id").isin(Tokens: _*))
      .groupBy("user_id", "ts").agg(max("value").as("pvalue"))
    graft.ops.AsofJoin.joinAsof(clicks, purchases, "user_id", "ts", Seq("pvalue"))
      .select(col("event_id"), col("user_id"), tsUs(col("ts")).as("ts_us"),
        col("value"), round(col("asof_pvalue"), 4).as("asof_pvalue"))
      .orderBy("event_id")
  }

  /** §2.8: running cumulative value per token (unbounded-preceding window
    * sum — the "volume so far today" ticker figure). */
  def cumulativeVolume(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(spark, dir)
      .filter(col("user_id").isin(Tokens: _*))
      .withColumn("cum_value", round(sum("value").over(w), 4))
      .select("event_id", "user_id", "cum_value")
      .orderBy("event_id")
  }

  /** §2.8: dense_rank of each tick's value within its (token, day) — the
    * "where does this print sit in today's range" window query. */
  def rankByDay(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"), to_date(col("ts")))
      .orderBy(col("value").desc)
    events(spark, dir)
      .filter(col("user_id").isin(Tokens: _*))
      .withColumn("value_rank", dense_rank().over(w).cast("long"))
      .select("event_id", "user_id", "value_rank")
      .orderBy("event_id")
  }

  /** §2.8: lead — microseconds until the next event of the same token
    * (inter-arrival gaps; null on the last event). */
  def eventGaps(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events(spark, dir)
      .filter(col("user_id").isin(Tokens: _*))
      .withColumn("gap_us", lead(unix_micros(col("ts")), 1).over(w) - unix_micros(col("ts")))
      .select("event_id", "user_id", "gap_us")
      .orderBy("event_id")
  }

  /** Range (interval) join: each error event matched to the 4h-gap
    * activity session containing it, via the bucketized interval join
    * (ops.RangeJoin — equality join on (user, hour-bucket), never a
    * nested loop). Emits error counts per session. */
  def rangeJoinErrors(spark: SparkSession, dir: String): DataFrame = {
    val sess = sessionStats(spark, dir)
      .select(col("user_id"), col("session_id"), col("session_start_us"),
        (col("session_start_us") + col("duration_us")).as("session_end_us"))
    val errors = events(spark, dir)
      .filter(col("event_type") === "error" && col("user_id").isin(Tokens: _*))
      .select(col("user_id"), tsUs(col("ts")).as("err_ts_us"))
    graft.ops.RangeJoin.pointInIntervalBucketed(errors, sess, "user_id",
        "err_ts_us", "session_start_us", "session_end_us", bucketWidth = 3600L * 1000000)
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_errors"))
      .orderBy("user_id", "session_id")
  }

  /** Cube aggregation (completes the grouping-sets surface next to
    * `rollupStats`): totals per (type, day), per type, per day, and grand
    * total in one pass. */
  def cubeStats(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .filter(col("user_id").isin(Tokens: _*))
      .cube(col("event_type"), dateStr(col("ts")).as("date"))
      .agg(count(lit(1)).as("tick_count"), round(sum("value"), 3).as("total_value"))
      .orderBy(col("event_type").asc_nulls_first, col("date").asc_nulls_first)
}
