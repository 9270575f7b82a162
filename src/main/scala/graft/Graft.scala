package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The library facade — what a user of the reference pipeline
  * (crypt0inf0/angelone_clickhouse) calls instead of running the Go
  * binary + ClickHouse. One object, four concerns:
  *
  *   1. session():    a tuned SparkSession with the graft_* SQL functions
  *                    and reader settings installed;
  *   2. ingest*():    the streaming ingest path (replay spool or live
  *                    feed -> decode -> enrich -> 5 s micro-batch append,
  *                    checkpointed — /root/reference/main.go:221-330);
  *   3. ticks()/queries: the analytical surface over the tick table
  *                    (graft.queries.TickQueries — the six reference
  *                    queries and the extended surface);
  *   4. serveMetrics(): /metrics + /health over HTTP
  *                    (/root/reference/main.go:351-367).
  */
object Graft {

  /** Local cores: `SPARK_GRAFT_CPUS` when set, else every processor. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The one session constructor: the library, `Bench`, `Verify`, the
    * tools and the tests all run this configuration. Everything not set
    * here is the Spark default (AQE with partition coalescing and
    * skew-join splitting, 128 MB scan splits, parquet filter pushdown).
    *  - shuffle partitions = 2x cores: AQE only COALESCES partitions,
    *    never splits non-skewed ones, so start high;
    *  - Kryo: the RDD-side shuffles (the contraction fixpoint) serialize
    *    Long-pair tuples, ~2-3x leaner than Java serialization; the SQL
    *    path keeps its own row format;
    *  - UTC session time zone;
    *  - `nanosAsLong`: events.parquet stores ts as TIMESTAMP(NANOS),
    *    which Spark 4 reads only through this escape hatch — a
    *    session-wide reader setting, never toggled inside a query;
    *  - the graft_* SQL functions.
    * Runtime SQL settings apply to a reused session too; Kryo and the
    * master apply only when this call starts the context. Cluster
    * callers pass their own master via spark-submit and inherit the
    * rest. */
  def session(cores: Int = defaultCores): SparkSession = {
    core.GraftConf.privateLocalDirs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", (math.max(cores, 1) * 2).toString)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    plans.GraftExtensions.install(spark)
    spark
  }

  /** Stream spooled wire frames into a date-partitioned tick table:
    * replay of a capture, or the tail of a live recorder writing spools. */
  def ingestFromSpool(
      spark: SparkSession, spoolDir: String, tokensJson: String,
      sinkDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
      maxFramesPerBatch: Int = 1000): StreamingQuery = {
    import spark.implicits._
    val frames = spark.readStream
      .format("graft.sources.FrameReplayProvider")
      .option("path", spoolDir)
      .option("maxFramesPerBatch", maxFramesPerBatch.toString)
      .load().select("payload").as[Array[Byte]]
    ingest.IngestStream.start(spark, frames,
      ingest.TokenDirectory.load(spark, tokensJson), sinkDir, checkpointDir, trigger)
  }

  /** Same pipeline over an in-process live feed channel
    * (sources.LiveFrameFeed.append from a connector's read loop; a real
    * WebSocket connector implements sources.FrameSource and authenticates
    * with sources.BrokerAuthConfig outside the engine). */
  def ingestLive(
      spark: SparkSession, channel: String, tokensJson: String,
      sinkDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery = {
    import spark.implicits._
    val frames = spark.readStream
      .format("graft.sources.FrameReplayProvider")
      .option("source", "memory")
      .option("channel", channel)
      .load().select("payload").as[Array[Byte]]
    ingest.IngestStream.start(spark, frames,
      ingest.TokenDirectory.load(spark, tokensJson), sinkDir, checkpointDir, trigger)
  }

  /** The reference's full live path as one call: REST auth handshake
    * performed by the CALLER (sources.BrokerAuth.authenticate — keeps
    * credentials out of the engine), then WebSocket connect with those
    * tokens' headers, binary frames -> decode -> enrich -> 5 s
    * micro-batch append, with heartbeat + exponential-backoff reconnect
    * inside the source and committed offsets trimming the live buffer
    * (/root/reference/main.go:196-330 end to end). */
  def ingestWebSocket(
      spark: SparkSession, url: String, headers: Map[String, String],
      tokensJson: String, sinkDir: String, checkpointDir: String,
      subscribeJson: Option[String] = None,
      channel: Option[String] = None,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
      spoolDir: Option[String] = None): StreamingQuery = {
    import spark.implicits._
    var reader = spark.readStream
      .format("graft.sources.FrameReplayProvider")
      .option("source", "websocket")
      .option("url", url)
      .option("channel", channel.getOrElse(url))
    headers.foreach { case (k, v) => reader = reader.option(s"header.$k", v) }
    subscribeJson.foreach(s => reader = reader.option("subscribe", s))
    spoolDir.foreach(d => reader = reader.option("spoolDir", d))
    val frames = reader.load().select("payload").as[Array[Byte]]
    ingest.IngestStream.start(spark, frames,
      ingest.TokenDirectory.load(spark, tokensJson), sinkDir, checkpointDir, trigger)
  }

  /** The reference binary's whole job as ONE call (/root/reference/
    * main.go:193-330: authenticate -> connect -> subscribe -> store):
    * REST + TOTP login against the broker (sources.BrokerAuth), the
    * returned tokens become the WebSocket connect headers, and the frame
    * stream flows decode -> enrich -> 5 s micro-batch append with
    * heartbeat + exponential-backoff reconnect inside the source.
    *
    * A declined or malformed login returns Left(message) WITHOUT
    * starting a query — the reference treats auth failure as fatal
    * (main.go:196-199) and so does this seam; retry policy belongs to
    * the caller. Credentials live only in `authCfg` on the driver;
    * the engine sees bearer tokens as `header.*` options.
    *
    * `spoolDir`: when set, frames are spooled to (shared) storage and
    * executors read the spool — the multi-executor-correct live path;
    * when None, the in-process feed serves local[*] deployments. */
  def liveIngest(
      spark: SparkSession, authCfg: sources.BrokerAuthConfig, wsUrl: String,
      tokensJson: String, sinkDir: String, checkpointDir: String,
      subscribeJson: Option[String] = None,
      channel: Option[String] = None,
      spoolDir: Option[String] = None,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
      nowEpochSeconds: () => Long = () => System.currentTimeMillis() / 1000L): Either[String, StreamingQuery] =
    sources.BrokerAuth.authenticate(authCfg, nowEpochSeconds).map { tokens =>
      ingestWebSocket(spark, wsUrl,
        authCfg.wsHeaders(tokens.jwtToken, tokens.feedToken),
        tokensJson, sinkDir, checkpointDir, subscribeJson, channel, trigger, spoolDir)
    }

  /** The tick table this session's ingest writes. */
  def ticks(spark: SparkSession, sinkDir: String): DataFrame =
    storage.TickTable.read(spark, sinkDir)

  /** End-to-end corpus curation as ONE call: stream `.jsonl`/`.jsonl.gz`
    * document files -> quality gate (TextAnalysis heuristics) ->
    * incremental dedup against the persisted fingerprint index ->
    * curated batch_id-partitioned parquet, with in-pipeline sink
    * compaction every `compactEvery` batches. New files dropped into
    * `docsGlob`'s directory are picked up by later triggers; restart with
    * the same checkpoint resumes incrementally. The LLM-pipeline face of
    * the ingest path: same replay-idempotent sink scheme, same
    * maintenance protocol, documents instead of ticks.
    *
    * `nearDupDir`: when set, a second persisted index (MinHash band keys
    * + signatures) additionally drops incoming docs that are NEAR-dups
    * of anything curated by any previous run — a doc with one word
    * changed passes the exact fingerprint gate but not this one
    * (ops.CurationPipeline.incrementalNearDedup). */
  def curateCorpus(
      spark: SparkSession, docsGlob: String,
      corpusDir: String, indexDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      minQuality: Double = ops.CurationPipeline.MinQuality,
      minWords: Int = ops.CurationPipeline.MinWords,
      maxWords: Int = ops.CurationPipeline.MaxWords,
      maxFilesPerTrigger: Int = 16,
      compactEvery: Int = 8,
      nearDupDir: Option[String] = None,
      nearDupThreshold: Double = ops.TextDedup.JaccardThreshold,
      textIndexDir: Option[String] = None,
      chunksDir: Option[String] = None,
      benchDir: Option[String] = None,
      modelDir: Option[String] = None,
      minScore: Double = 0.0,
      phashDir: Option[String] = None,
      phashMaxHamming: Int = 6): StreamingQuery = {
    import org.apache.spark.sql.functions._
    val raw = sources.DocSources.withSyntheticIds(
      spark.readStream
        .schema(sources.DocSources.documentSchema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
        .json(docsGlob))
    val gatedText = ops.TextAnalysis.withQuality(raw)
      .filter(col("quality_score") >= minQuality
        && col("n_words") >= minWords && col("n_words") <= maxWords)
    // jsonl is text, so media rides base64; decoded here once (only
    // when the media gate is on — text-only corpora keep their schema)
    // so the perceptual-hash gate hashes real bytes, not the text.
    // try_to_binary, not unbase64: a malformed payload must yield a
    // null (doc falls back to text bytes), never abort the stream.
    val gated =
      if (phashDir.isDefined)
        gatedText
          .withColumn("media", try_to_binary(col("media_b64"), lit("base64")))
          .select("doc_id", "text", "lang", "n_words", "quality_score", "media")
      else
        gatedText.select("doc_id", "text", "lang", "n_words", "quality_score")
    ops.CurationPipeline.streamingDedup(
      gated, corpusDir, indexDir, checkpointDir, trigger, compactEvery,
      nearDupDir, nearDupThreshold, textIndexDir, chunksDir, benchDir,
      modelDir, minScore, phashDir, phashMaxHamming)
  }

  /** The vector-modality sibling of `curateCorpus` as ONE call: stream
    * (vec_id, embedding) parquet files -> incremental near-dup gate
    * against the PERSISTED fixed-width vector index (sign-bucket
    * candidates + Hamming-1 multi-probe, cosine verify from stored
    * vector+norm) -> curated batch_id-partitioned parquet with the same
    * replay-idempotent sink scheme and in-pipeline compaction. New
    * files dropped into `vecsDir` are picked up by later triggers;
    * restart with the same checkpoint resumes incrementally.
    *
    * `nBits` sizes the sign-bucket index and is part of the index
    * contract (same value across runs against one indexDir) — size it
    * for the EXPECTED corpus with `ops.Similarity.autoNBits(n)`; the
    * bucket join is quadratic in bucket population, so the 16-bucket
    * default is only right up to a few hundred thousand vectors. */
  def curateVectors(
      spark: SparkSession, vecsDir: String,
      corpusDir: String, indexDir: String, checkpointDir: String,
      threshold: Double = 0.9,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Int = 16,
      compactEvery: Int = 8,
      nBits: Int = 4): StreamingQuery = {
    // FIXED contract schema, not inference: inferring needs files to
    // already exist, but the documented contract is that files may be
    // dropped into vecsDir AFTER the stream starts (curateCorpus makes
    // the same choice with DocSources.documentSchema)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))))
    val vecs = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(vecsDir)
      .select("vec_id", "embedding")
    ops.CurationPipeline.streamingVectorDedup(
      vecs, corpusDir, indexDir, checkpointDir, trigger, threshold, compactEvery,
      nBits)
  }

  /** Build (train + persist) an ANN index for an embeddings dir —
    * deterministic training, cold sessions then probe with zero
    * training work. `method` picks the layout:
    *   - "ivf"   — k-means centroids + c_id-partitioned posting lists
    *               (the I/O-pruning lever; ops.Similarity.buildIvfIndex);
    *   - "pq"    — 32-bit product-quantization codes + codebooks (the
    *               memory lever; ops.Similarity.buildPqIndex);
    *   - "ivfpq" — the composed 100 TB layout: code-bearing posting
    *               lists partitioned by c_id, so probes prune I/O, score
    *               from codes AND rerank from the same rows
    *               (ops.Similarity.buildIvfPqIndex). */
  def buildVectorIndex(spark: SparkSession, dir: String, seedBits: Int = 4,
                       method: String = "ivf"): String = method match {
    case "ivf"   => ops.Similarity.buildIvfIndex(spark, dir, seedBits = seedBits)
    case "pq"    => ops.Similarity.buildPqIndex(spark, dir)
    case "ivfpq" => ops.Similarity.buildIvfPqIndex(spark, dir, seedBits = seedBits)
    case "ivfpq_residual" =>
      ops.Similarity.buildIvfPqIndex(spark, dir, seedBits = seedBits, residual = true)
    case "sq" =>
      ops.ScalarQuant.buildSqIndex(spark, dir); ops.ScalarQuant.sqCodesPath(dir)
    case other => throw new IllegalArgumentException(
      s"unknown index method '$other' (expected ivf | pq | ivfpq | ivfpq_residual | sq)")
  }

  /** ANN top-k for EXTERNAL query vectors — a frame of (qid, embedding)
    * in the caller's id namespace, not corpus vec_ids: the serving-path
    * shape (id-based queries can only ask about rows already indexed).
    * No self-exclusion — if a query's exact vector is indexed, that row
    * is the honest top-1 (cos 1.0). `method`: "ivfpq" (composed pruned
    * probe; default) or "brute" (exact scan baseline). */
  def annSearchVectors(spark: SparkSession, dir: String,
                       queries: org.apache.spark.sql.DataFrame, k: Int = 10,
                       nprobe: Int = 2, shortlist: Int = 0,
                       method: String = "ivfpq"): org.apache.spark.sql.DataFrame = {
    val sl = if (shortlist > 0) shortlist else 4 * k
    method match {
      case "ivfpq" => ops.Similarity.ivfPqTopKForVectors(spark, dir, queries, k, nprobe, sl)
      case "brute" => ops.Similarity.bruteForceTopKForVectors(spark, dir, queries, k)
      case other => throw new IllegalArgumentException(
        s"unknown vector-query method '$other' (expected ivfpq | brute)")
    }
  }

  /** Incrementally index a batch of new vectors against the persisted
    * composed index (raw or residual — the codebook kind decides):
    * assign + code under the EXISTING quantizers, append as delta
    * postings, nothing corpus-width. Idempotent per batchId. */
  def appendToVectorIndex(spark: SparkSession, dir: String,
                          batch: org.apache.spark.sql.DataFrame, batchId: Long): Unit =
    ops.Similarity.appendToIvfPqIndex(spark, dir, batch, batchId)

  /** ANN top-k, routed across every search path the library implements
    * (all persisted-index-first where an index applies). `method`:
    *   - "ivf" (default) — best `nprobe` clusters per query, statically
    *     partition-pruned posting scan; exact similarities;
    *   - "brute" — exact full-scan ground truth;
    *   - "lsh" / "lsh_multiprobe" / "lsh_multitable" — sign-bucket
    *     equality joins (+ Hamming-1 probes / `nTables` tables);
    *   - "pq" — ADC over 32-bit codes (approximate similarities, column
    *     `approx_sim`);
    *   - "pq_rerank" — ADC shortlist (`shortlist`, default 4k) then
    *     exact rerank from stored vectors;
    *   - "ivfpq" — composed: nprobe-pruned partitions, ADC shortlist,
    *     exact rerank from the posting rows. */
  def annSearch(spark: SparkSession, dir: String,
                queryIds: Seq[Long], k: Int = 10, nprobe: Int = 1,
                method: String = "ivf", shortlist: Int = 0,
                nTables: Int = 4): org.apache.spark.sql.DataFrame =
    ops.AnnRouter.topKFor(spark, dir, queryIds, k, nprobe, method, shortlist, nTables)

  /** ANN with a recall CONTRACT instead of lever constants: calibrate
    * once (ops.Similarity.planAnn — cheapest lever setting whose
    * measured recall on a deterministic sample clears `targetRecall`),
    * then run the chosen plan for the real queries. At 100 TB pass a
    * sampled sub-corpus as `calibDir` so calibration (including its
    * brute-force truth pass) runs at sample cost. */
  def annSearchTuned(spark: SparkSession, dir: String, queryIds: Seq[Long],
                     targetRecall: Double, k: Int = 10,
                     calibDir: Option[String] = None): org.apache.spark.sql.DataFrame = {
    // memoized: the calibration is deterministic per (session, dir,
    // target, k, calibDir) — a session serving many query batches
    // calibrates once; measurements run on calibDir, the plan (and the
    // persisted-layout preference) binds to the execution dir
    val plan = ops.Similarity.planAnnCached(spark, dir, targetRecall, k = k,
      calibrationDir = calibDir)
    ops.Similarity.runAnnPlan(spark, dir, plan, queryIds, k)
  }

  /** Build + persist the BM25 inverted index for a documents dir:
    * bucket-partitioned postings (probes prune to the touched posting
    * lists), lexicon, corpus stats. Without it, the same searches run
    * off a session-cached index. */
  def buildTextIndex(spark: SparkSession, dir: String): Unit =
    ops.TextRanking.buildTextIndex(spark, dir)

  /** Train the BPE tokenizer on a documents dir and persist it (merge
    * table + applied vocab, stats marker last): the train-once artifact
    * — any session, cold or warm, then encodes without retraining, and
    * `encodeWith` applies it to OTHER corpora. Rewriting the corpus
    * mid-session requires `core.SessionCache.invalidate(spark,
    * "bpe_vocab_<numMerges>", dir)` first, like every cached table. */
  def buildTokenizer(spark: SparkSession, dir: String, numMerges: Int = 10): Unit =
    ops.TextAnalysis.buildTokenizer(spark, dir, numMerges)

  /** Token streams (doc_id, pos, token) of `dir`'s documents under its
    * own tokenizer (persisted if present, else trained in-session). */
  def encode(spark: SparkSession, dir: String, numMerges: Int = 10,
             maxDocId: Long = Long.MaxValue): org.apache.spark.sql.DataFrame =
    ops.TextAnalysis.bpeEncode(spark, dir, numMerges, maxDocId)

  /** Token streams of `corpusDir`'s documents under the tokenizer
    * persisted at `tokenizerDir` (out-of-training words char-split then
    * merged by the persisted rules, like any real tokenizer). */
  def encodeWith(spark: SparkSession, corpusDir: String, tokenizerDir: String,
                 numMerges: Int = 10,
                 maxDocId: Long = Long.MaxValue): org.apache.spark.sql.DataFrame =
    ops.TextAnalysis.bpeEncodeWith(spark, corpusDir, tokenizerDir, numMerges, maxDocId)

  /** Train the in-engine quality classifier on a documents dir and
    * persist its weight table (the tokenizer recipe applied to the
    * model): any session then scores any corpus against it with zero
    * training passes. */
  def buildQualityModel(spark: SparkSession, dir: String): Unit =
    ops.QualityClassifier.buildModel(spark, dir)

  /** Quality margins of `corpusDir`'s documents under the model
    * persisted at `modelDir`. */
  def scoreQuality(spark: SparkSession, corpusDir: String,
                   modelDir: String): org.apache.spark.sql.DataFrame =
    ops.QualityClassifier.scoreWith(spark, corpusDir, modelDir)

  /** Incrementally index a batch of new documents against the persisted
    * text index: tokenizes ONLY the batch, appends delta postings, commits
    * via the batch's stats row — append ≡ rebuild score-for-score (exact
    * integer extension of n/avgdl/df), idempotent per batchId. The
    * streaming-curation sink calls this per accepted batch instead of
    * rebuilding the index corpus-wide. */
  def appendToTextIndex(spark: SparkSession, dir: String,
                        newDocs: org.apache.spark.sql.DataFrame, batchId: Long): Unit =
    ops.TextRanking.appendToTextIndex(spark, dir, newDocs, batchId)

  /** Fold appended text-index deltas back into the base (pure relayout,
    * no retokenization) — run periodically to keep probes at one
    * postings scan. `keepRecent > 0` leaves the newest committed batches
    * as replayable delta (the in-pipeline shape). */
  def compactTextIndex(spark: SparkSession, dir: String, keepRecent: Int = 0): Unit =
    ops.TextRanking.compactTextIndex(spark, dir, keepRecent)

  /** BM25 keyword top-k over the documents table (persisted-index-first). */
  def keywordSearch(spark: SparkSession, dir: String, terms: Seq[String],
                    k: Int = 10): org.apache.spark.sql.DataFrame =
    ops.TextRanking.bm25TopK(spark, dir, terms, k)

  /** "More like this doc": BM25 with each query doc's top-tf terms as
    * the keyword query (query docs excluded from their results). */
  def moreLikeThis(spark: SparkSession, dir: String, docIds: Seq[Long],
                   k: Int = 10, nTerms: Int = 3): org.apache.spark.sql.DataFrame =
    ops.TextRanking.bm25TopKFor(spark, dir, docIds, k, nTerms)

  /** Hybrid retrieval: reciprocal-rank fusion of the BM25 and vector
    * rank lists for the same query docs (doc_id = vec_id id space —
    * documents and embeddings side by side in `dir`). `method` routes
    * the vector leg through the ANN ladder; the default "auto" prefers
    * the persisted composed (IVF+PQ) index when its markers exist —
    * both legs then run pruned probes, nothing corpus-width — and
    * falls back to the exact scan on an unindexed corpus. */
  /** `targetRecall`: when set, the vector leg's method/levers come from
    * the measured ANN ladder (`planAnnCached` — cheapest rung whose
    * calibrated recall@kEach clears the target, calibrating on
    * `calibDir` when given); `method` is then ignored. Without it,
    * "auto" keeps the marker-based pick. Either way a pruned pick is
    * logged once per call site decision, so the silent
    * exact-to-approximate switch is observable. */
  def hybridSearch(spark: SparkSession, dir: String, docIds: Seq[Long],
                   k: Int = 10, kEach: Int = 20, method: String = "auto",
                   nprobe: Int = 2, shortlist: Int = 0,
                   targetRecall: Option[Double] = None,
                   calibDir: Option[String] = None): org.apache.spark.sql.DataFrame = {
    val (m, np, nt, sl) = targetRecall match {
      case Some(t) =>
        val plan = ops.Similarity.planAnnCached(spark, dir, t, k = kEach,
          calibrationDir = calibDir)
        System.err.println(s"[graft] hybridSearch(target=$t) -> " +
          s"${plan.method}(nprobe=${plan.nprobe}, nTables=${plan.nTables}, " +
          s"shortlist=${plan.shortlist}) calibrated recall ${plan.calibratedRecall}")
        (plan.method, plan.nprobe, plan.nTables,
          if (plan.shortlist > 0) math.max(plan.shortlist, kEach) else plan.shortlist)
      case None =>
        val m0 = method match {
          case "auto" =>
            if (ops.Similarity.hasComposedRawIndex(spark, dir)) {
              System.err.println(s"[graft] hybridSearch auto: persisted composed " +
                s"index at $dir -> pruned ivfpq vector leg (pass method=\"brute\" " +
                "or targetRecall=... for an explicit contract)")
              "ivfpq"
            } else "brute"
          case other => other
        }
        (m0, nprobe, 4, shortlist)
    }
    ops.TextRanking.hybridRrfTopK(spark, dir, docIds, k, kEach, method = m,
      nprobe = np, shortlist = sl, nTables = nt)
  }

  /** Semantic (embedding-cosine) near-dup clusters over the corpus:
    * (doc_id, cluster_rep, cluster_size), rep = min id, singletons
    * included — keep one doc per cluster_rep for semantic dedup. */
  def semanticClusters(spark: SparkSession, dir: String,
                       threshold: Double = 0.35): org.apache.spark.sql.DataFrame =
    ops.TextDedup.semanticClusters(spark, dir, threshold)

  /** The whole batch pretraining pipeline in one call: keep-best
    * near-dup dedup -> quality gate -> benchmark holdout + exact
    * 13-gram decontamination -> context-window chunking. Returns the
    * per-document manifest (doc_id, quality_score, n_chunks, n_tokens). */
  def trainingManifest(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    ops.CurationPipeline.trainingManifest(spark, dir)

  /** Context-window chunking: split documents into ~maxTokens-word
    * pieces with `overlap` carried words — a pure narrow projection +
    * explode, no shuffle. */
  def chunkDocuments(spark: SparkSession, dir: String, maxTokens: Int = 64,
                     overlap: Int = 8): org.apache.spark.sql.DataFrame =
    ops.TextAnalysis.chunkDocuments(spark, dir, maxTokens, overlap)

  /** Near-duplicate structure of the corpus under the LINEAR output
    * contract — the facade's default dedup face: one row per document,
    * (doc_id, cluster_rep, cluster_size), rep = min id, singletons
    * included. Keep one doc per cluster_rep (or use [[dedupKeepBest]]
    * for the quality keep-rule). `method`: "minhash" (banded word-
    * shingle MinHash, exact-Jaccard-verified — the pipeline default),
    * "simhash" (64-bit hamming), "ngram" (exact-Jaccard n-gram
    * banding), "semantic" (embedding-cosine, [[semanticClusters]]).
    *
    * Why clusters and not pairs: the cluster output is CORPUS-sized
    * (exactly one row per doc) and the component loop runs only over
    * docs that appear in a verified near-dup pair — measured 9.1x per
    * 10x data at the sf100 decade (docs/SCALING.md). The pair faces
    * (`ops.TextDedup.minhashPairs` et al., the `dedup_*` oracle
    * queries) carry the ALL-PAIRS output contract — a 1000-member
    * duplicate family is 499,500 rows, 19.3x measured at the same
    * decade — which makes them sample-scale DIAGNOSTICS for inspecting
    * dup structure, not the operator a 100 TB pipeline should reach by
    * default. Three registry faces are formally in the bench's
    * `diagnostic` pool for this reason: `dedup_ngram_ppjoin` (r15 —
    * its pair-stream verification is sum(df^2) over shared shingles —
    * quadratic in dup-family size by construction; `ngramClusters` /
    * `ngramClustersAt` is the linear production contract), the
    * 60-bit `media_phash_dedup` (r15 — the wide 240-bit face is the
    * production path, see [[ops.Multimodal]]), and `dedup_simhash`
    * (r16 — the all-pairs simhash face; measured 316.8M verified pairs
    * at sf100 vs ~30M at sf10, i.e. the quadratic output law above;
    * `simhashClusters`, forest-sparsified and auto-banded, is the
    * simhash production contract). GraftFacadeSpec pins
    * the one-row-per-doc contract on this path. */
  def nearDupClusters(spark: SparkSession, dir: String,
                      method: String = "minhash"): org.apache.spark.sql.DataFrame =
    method match {
      case "minhash" => ops.TextDedup.minhashClusters(spark, dir)
      case "simhash" => ops.TextDedup.simhashClusters(spark, dir)
      case "ngram" => ops.TextDedup.ngramClusters(spark, dir)
      case "semantic" => ops.TextDedup.semanticClusters(spark, dir)
      case other => throw new IllegalArgumentException(
        s"unknown dedup method '$other' (minhash|simhash|ngram|semantic)")
    }

  /** Dedup survivors under the production keep-rule: the best-quality
    * doc per near-dup cluster (quality desc, id asc), not min-id. */
  def dedupKeepBest(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    ops.TextDedup.dedupKeepBest(spark, dir)

  /** Leakage-free train/val/test split: assignment by near-dup CLUSTER,
    * so a document and its near-duplicates always share a split and
    * eval never scores paraphrases of training data. Keep the default
    * dyadic fractions (or pass others whose sum is IEEE-exact). */
  def leakageFreeSplit(spark: SparkSession, dir: String,
                       trainFrac: Double = 0.75,
                       valFrac: Double = 0.125): org.apache.spark.sql.DataFrame =
    ops.TextDedup.leakageFreeSplit(spark, dir, trainFrac, valFrac)

  /** Decontamination, near-dup flavor: training docs whose banded
    * MinHash signature near-matches a benchmark doc (catches paraphrase
    * and partial-overlap leakage). Benchmark side broadcasts — the
    * corpus never shuffles for it. */
  def decontaminate(corpus: org.apache.spark.sql.DataFrame,
                    bench: org.apache.spark.sql.DataFrame,
                    threshold: Double = 0.2): org.apache.spark.sql.DataFrame =
    ops.TextDedup.crossCorpusNearDups(corpus, bench, threshold)

  /** Decontamination, exact flavor: training docs containing any
    * verbatim `n`-gram of a benchmark doc (the published benchmark-
    * hygiene recipe; n = 13 words by convention) — the complement of
    * the near-dup flagger for embedded quotes. */
  def decontaminateExact(corpus: org.apache.spark.sql.DataFrame,
                         bench: org.apache.spark.sql.DataFrame,
                         n: Int = 13): org.apache.spark.sql.DataFrame =
    ops.TextDedup.exactNgramContamination(corpus, bench, n)

  /** Substring-level dedup (the Lee et al. suffix-array recipe): every
    * repeated word span of length >= n keeps only its corpus-first
    * occurrence; returns the cleaned corpus (word-normalized text).
    * Catches cross-doc boilerplate document-level dedup can't see. */
  def removeRepeatedSpans(docs: org.apache.spark.sql.DataFrame,
                          n: Int = ops.SubstringDedup.SpanWords): org.apache.spark.sql.DataFrame =
    ops.SubstringDedup.removeRepeatedSpans(docs, n)

  /** DSIR-style data selection: top-k raw docs by hashed unigram+bigram
    * log importance weight toward the target slice's distribution. */
  def importanceSample(spark: SparkSession, dir: String,
                       k: Int = ops.Importance.TopK): org.apache.spark.sql.DataFrame =
    ops.Importance.importanceTopK(spark, dir, k = k)

  /** Unigram-LM surprisal per doc (nats/word) — the CCNet-style
    * perplexity quality signal from a self-trained add-one model. */
  def perplexityScores(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    ops.TextAnalysis.unigramSurprisal(spark, dir)

  /** Quality classifier trained in-engine (full-batch GD on a hashed-
    * feature logistic model): per-doc margin scores toward the target
    * slice's distribution — the fastText-style curation filter with no
    * external model artifact. */
  def qualityClassifierScores(spark: SparkSession, dir: String,
                              rounds: Int = ops.QualityClassifier.Rounds): org.apache.spark.sql.DataFrame =
    ops.QualityClassifier.classifierScores(spark, dir, rounds = rounds)

  /** Temperature-weighted domain resampling (shares ∝ n_d^alpha, expected
    * output `frac` of the corpus) — deterministic: the Bernoulli draw is
    * the document's content hash, so the same corpus always yields the
    * same mix. */
  def temperatureMix(spark: SparkSession, dir: String, domainCol: String = "source",
                     alpha: Double = 0.5, frac: Double = 0.3): org.apache.spark.sql.DataFrame =
    ops.Mixing.temperatureMix(spark, dir, domainCol, alpha, frac)

  /** The upsampling half of temperature mixing: uncapped tempered rates
    * (floor(p_d) whole copies + a deterministic Bernoulli remainder),
    * rows carrying a 0-based `epoch` copy index — small domains repeat
    * across epochs instead of merely keeping every doc. */
  def epochRepeatMix(spark: SparkSession, dir: String, domainCol: String = "source",
                     alpha: Double = 0.5, frac: Double = 0.3): org.apache.spark.sql.DataFrame =
    ops.Mixing.epochRepeatMix(spark, dir, domainCol, alpha, frac)

  /** Cap every domain at `cap` docs, chosen by content-hash priority (an
    * unbiased deterministic sample of each domain, not its head). */
  def quotaSample(spark: SparkSession, dir: String, domainCol: String,
                  cap: Int): org.apache.spark.sql.DataFrame =
    ops.Mixing.quotaSample(spark, dir, domainCol, cap)

  /** Weighted sampling without replacement (Efraimidis–Spirakis keys over
    * the content-hash uniform): the k docs with the largest u^(1/w). */
  def weightedSample(spark: SparkSession, dir: String, weightCol: String,
                     k: Int): org.apache.spark.sql.DataFrame =
    ops.Mixing.weightedSample(spark, dir, weightCol, k)

  /** Pack (id, token-count) rows into ~`budget`-token shards in id order —
    * a two-phase distributed prefix sum, exact at any partition count. */
  def packShards(df: org.apache.spark.sql.DataFrame, idCol: String, tokenCol: String,
                 budget: Long): org.apache.spark.sql.DataFrame =
    ops.Mixing.packShards(df, idCol, tokenCol, budget)

  /** Per-group approximate quantiles (p50/p90/p99 beside the exact
    * interpolated reference). DEFAULTS to the one-pass ADAPTIVE
    * log-bucket sketch (`ops.QuantileSketch.quantileSketchAdaptive`):
    * no [lo, hi) pre-pass, state hard-bounded at 4129 keys per group
    * for ANY double domain, single scan into a hash aggregate —
    * measured 3x cheaper than the fixed-domain face at sf100 — and the
    * SAME cells are a valid unknown-domain streaming aggregation
    * (`streaming.Sketches.logHistogramCells`). Estimate error is
    * RELATIVE (<= 1/16 above the bracketed order statistic). Use
    * [[quantileSketchFixed]] only when the value domain is known and
    * fixed up front (reference-shaped known-bucket metrics, absolute
    * error bounds); use `queries.MarketQueries.percentiles` for the
    * exact-only answer. */
  def quantileSketch(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    ops.QuantileSketch.quantileSketchAdaptive(spark, dir)

  /** The fixed-domain B-bucket sketch face: a min/max pre-pass sizes the
    * buckets, estimates carry an ABSOLUTE one-bucket-width bound. Kept
    * for known-domain metrics; the facade default is the adaptive face
    * ([[quantileSketch]]). */
  def quantileSketchFixed(spark: SparkSession, dir: String,
                          buckets: Int = ops.QuantileSketch.Buckets): org.apache.spark.sql.DataFrame =
    ops.QuantileSketch.quantileSketch(spark, dir, buckets)

  /** Start serving /metrics and /health for a running ingest; returns the
    * server (stop() when done) after registering the listeners (streaming
    * progress + per-worker task stats). */
  def serveMetrics(spark: SparkSession, port: Int = 0): (obs.IngestMetricsListener, obs.MetricsHttpServer) = {
    val listener = new obs.IngestMetricsListener
    spark.streams.addListener(listener)
    val workers = new obs.WorkerStatsListener
    spark.sparkContext.addSparkListener(workers)
    (listener, new obs.MetricsHttpServer(listener, port, Some(workers)).start())
  }
}
