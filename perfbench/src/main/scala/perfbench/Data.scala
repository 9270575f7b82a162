package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic input tables for the query workloads.
  *
  * Every column is a pure function of the row id and a salt (xxhash64),
  * so the same scale always yields byte-identical tables regardless of
  * partitioning. The shapes follow the program's test tables: a
  * TPC-H-like star schema, an `events` tick table (ids 0..n, timestamps
  * over January 2024, `user_id` as the instrument), a word corpus with
  * 5 % near-duplicates, and 64-d unit embeddings. Unlike the program's
  * own sf0.1 texts, about 10 % of the documents carry non-ASCII words, so
  * the text expressions' reference (non-ASCII) paths run too.
  */
object Data {

  /** Bump when a generator changes: cached tables are keyed by it. */
  val Version = 1

  private def h(salt: Int, cols: Column*): Column = xxhash64((lit(salt) +: cols): _*)
  private def pick(salt: Int, n: Long, cols: Column*): Column =
    pmod(h(salt, cols: _*), lit(n))
  /** Uniform in (0, 1]. */
  private def unif(salt: Int, cols: Column*): Column =
    (pmod(h(salt, cols: _*), lit(1L << 30)) + lit(1)).cast("double") / lit((1L << 30).toDouble)
  private def oneOf(values: Seq[String], salt: Int, cols: Column*): Column =
    element_at(array(values.map(lit): _*), (pick(salt, values.length.toLong, cols: _*) + lit(1)).cast("int"))
  private def tsBetween(from: String, days: Int, salt: Int, c: Column): Column =
    timestamp_seconds(unix_timestamp(lit(from)) + pick(salt, days.toLong, c) * lit(86400L))

  val Words: Seq[String] = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")
  val NonAsciiWords: Seq[String] = Seq("données", "größe", "señal", "café", "naïve",
    "数据", "流式", "ключ", "таблица", "δεδομένα")

  private def write(df: DataFrame, dir: String, name: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

  /** The market and relational tables at `scale` x sf0.1 row counts. */
  def writeMarket(spark: SparkSession, dir: String, scale: Double): Unit = {
    def n(base: Long): Long = math.max(1L, math.round(base * scale))
    val id = col("id")
    val users = math.max(15L, n(1500))
    val nEvents = n(100000)
    val spanUs = 30L * 86400L * 1000000L
    val stepUs = spanUs / nEvents
    write(spark.range(nEvents).select(
      id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * lit(stepUs) + pick(1, stepUs, id)).as("ts"),
      pick(2, users, id).as("user_id"),
      oneOf(Seq("view", "click", "purchase", "signup", "error"), 3, id).as("event_type"),
      round(-log(unif(4, id)) * lit(50.0), 2).as("value"),
      concat(lit("{\"k\": "), pick(5, 100, id).cast("string"), lit("}")).as("props")),
      dir, "events")

    write(spark.range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (id + 1).cast("int")).as("r_name")), dir, "region")
    write(spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")), dir, "nation")

    val nCust = n(15000)
    write(spark.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      pick(10, 25, id).cast("int").as("c_nationkey"),
      round(unif(11, id) * lit(10000.0), 2).as("c_acctbal"),
      oneOf(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), 12, id)
        .as("c_mktsegment")), dir, "customer")
    val nSupp = n(1000)
    write(spark.range(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      pick(20, 25, id).cast("int").as("s_nationkey"),
      round(unif(21, id) * lit(10000.0), 2).as("s_acctbal")), dir, "supplier")
    val nPart = n(20000)
    write(spark.range(nPart).select(id.as("p_partkey"),
      concat_ws(" ", oneOf(Seq("large", "hot", "blue", "small", "red", "cold"), 30, id),
        oneOf(Seq("ring", "bolt", "gear", "pipe", "nut"), 31, id)).as("p_name"),
      concat(lit("Brand#"), (pick(32, 25, id) + lit(1)).cast("string")).as("p_brand"),
      oneOf(Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"), 33, id).as("p_type"),
      (pick(34, 50, id) + lit(1)).cast("int").as("p_size"),
      round(lit(900.0) + (id % 1000).cast("double") * lit(0.1), 2).as("p_retailprice")),
      dir, "part")
    val nOrders = n(150000)
    write(spark.range(nOrders).select(id.as("o_orderkey"),
      pick(40, nCust, id).as("o_custkey"),
      oneOf(Seq("O", "F", "P"), 41, id).as("o_orderstatus"),
      round(unif(42, id) * lit(400000.0) + lit(1000.0), 2).as("o_totalprice"),
      tsBetween("1992-01-01 00:00:00", 3650, 43, id).as("o_orderdate"),
      oneOf(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 44, id)
        .as("o_orderpriority")), dir, "orders")
    write(spark.range(n(600000)).select(
      pick(50, nOrders, id).as("l_orderkey"),
      pick(51, nPart, id).as("l_partkey"),
      pick(52, nSupp, id).as("l_suppkey"),
      (id % 7 + 1).cast("int").as("l_linenumber"),
      (pick(53, 50, id) + lit(1)).cast("double").as("l_quantity"),
      round(unif(54, id) * lit(100000.0), 2).as("l_extendedprice"),
      (pick(55, 11, id).cast("double") / lit(100.0)).as("l_discount"),
      (pick(56, 9, id).cast("double") / lit(100.0)).as("l_tax"),
      oneOf(Seq("A", "N", "R"), 57, id).as("l_returnflag"),
      oneOf(Seq("O", "F"), 58, id).as("l_linestatus"),
      tsBetween("1992-01-01 00:00:00", 3650, 59, id).as("l_shipdate")), dir, "lineitem")
  }

  /** Documents and embeddings: `nDocs` documents over the 30-word
    * vocabulary, 10-100 words each, 20 sources; 5 % are a copy of an
    * earlier document plus " dup"; about 10 % (seed-chosen) mix in
    * non-ASCII words. `nDocs / 2.5` embeddings of 64 dims. */
  def writeCorpus(spark: SparkSession, dir: String, nDocs: Long): Unit = {
    val id = col("id")
    val ascii = array(Words.map(lit): _*)
    val mixed = array((Words ++ NonAsciiWords).map(lit): _*)
    val nonAscii = unif(60, id) <= lit(0.10)
    val nWords = (pick(61, 91, id) + lit(10)).cast("int")
    def wordsFrom(vocab: Column, size: Int): Column =
      transform(sequence(lit(1), nWords), i =>
        element_at(vocab, (pmod(xxhash64(lit(62), id, i), lit(size.toLong)) + lit(1)).cast("int")))
    val base = spark.range(nDocs).select(id,
      when(nonAscii, array_join(concat(array(lit(NonAsciiWords.head)),
        wordsFrom(mixed, Words.length + NonAsciiWords.length)), " "))
        .otherwise(array_join(wordsFrom(ascii, Words.length), " ")).as("text0"),
      (unif(63, id) <= lit(0.05) && id > lit(0)).as("is_dup"),
      when(id > lit(0), pmod(h(64, id), greatest(id, lit(1L)))).as("src_id"),
      pick(65, 100, id).as("lang_roll"))
    val src = base.select(col("id").as("src_id"), col("text0").as("src_text"))
    val docs = base.join(src, Seq("src_id"), "left")
      .select(col("id").as("doc_id"),
        when(col("is_dup"), concat(col("src_text"), lit(" dup"))).otherwise(col("text0")).as("text"),
        when(col("lang_roll") < 40, "en").when(col("lang_roll") < 55, "zh")
          .when(col("lang_roll") < 70, "es").when(col("lang_roll") < 85, "fr")
          .otherwise("de").as("lang"),
        concat(lit("src"), (col("id") % 20).cast("string")).as("source"))
      .withColumn("n_chars", char_length(col("text")).cast("long"))
      .orderBy("doc_id")
    write(docs, dir, "documents")

    val dims = 64
    val gauss = transform(sequence(lit(0), lit(dims - 1)), j =>
      sqrt(lit(-2.0) * log(unif(70, id, j))) * cos(lit(2 * math.Pi) * unif(71, id, j)))
    write(spark.range(math.max(10L, nDocs * 2 / 5)).select(id.as("vec_id"), gauss.as("g"),
      pick(72, 10, id).cast("int").as("label"))
      .select(col("vec_id"),
        transform(col("g"), x => (x / sqrt(aggregate(col("g"), lit(0.0), (a, y) => a + y * y)))
          .cast("float")).as("embedding"),
        col("label")), dir, "embeddings")
  }
}
