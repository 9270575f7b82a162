package graft.core

/** Process-level guards for local sessions and timing runs. The session
  * configuration itself lives in one place, `graft.Graft.session`. */
object GraftConf {

  /** Create every configured Spark local (spill) directory before the
    * session starts. Round 12's official driver bench died 143/149 with
    * `FileNotFoundException: /tmp/spark-local/...` because a benchmark
    * script exported `SPARK_LOCAL_DIRS` and deleted the directory on
    * exit — the stale env var then pointed a LATER Spark launch at a
    * spill dir that no longer existed. One mkdirs at startup makes the
    * whole class of stale-env failures impossible. Honors the same
    * precedence Spark's Utils.getConfiguredLocalDirs does for local
    * mode: SPARK_LOCAL_DIRS env, else spark.local.dir system property
    * (comma-separated lists in both). */
  def ensureLocalDirs(): Unit = {
    val dirs = sys.env.get("SPARK_LOCAL_DIRS")
      .orElse(sys.props.get("spark.local.dir"))
      .toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    dirs.foreach { d =>
      val f = new java.io.File(d)
      if (!f.isDirectory && !f.mkdirs() && !f.isDirectory)
        throw new java.io.IOException(
          s"Spark local dir '$d' (from SPARK_LOCAL_DIRS/spark.local.dir) " +
            "does not exist and could not be created — fix the env before " +
            "launching, or every shuffle spill will fail mid-query")
    }
  }

  @volatile private var privateDir: Option[String] = None

  /** Give THIS JVM a private Spark spill directory no other process owns.
    *
    * `ensureLocalDirs` (round 12) protects STARTUP against a stale
    * `SPARK_LOCAL_DIRS` pointing at a deleted directory — it cannot
    * protect a RUNNING job against a concurrent wipe: round 13's official
    * bench died 107 queries deep with `FileNotFoundException: /tmp/...`
    * because a separately-launched benchmark script executed
    * `rm -rf /tmp/spark-local` on the SHARED spill root mid-flight.
    * Sharing a mutable root between independent launches is the defect;
    * so every launch now creates a unique directory it alone owns
    * (a SIBLING of the configured root, not a child — a wipe of the
    * shared root can't take a sibling with it), points both
    * `spark.local.dir` and the `SPARK_LOCAL_DIRS` env entry at it, and
    * deletes only its own directory on exit.
    *
    * The env rewrite matters because Spark's local-mode dir resolution
    * reads `SPARK_LOCAL_DIRS` FIRST — a stale exported value would
    * silently outrank the system property. The process env map is
    * mutated reflectively (JDK 17 needs `--add-opens java.base/java.lang`,
    * which every Spark launch already passes); if the rewrite fails the
    * method falls back to `ensureLocalDirs` semantics and says so rather
    * than leaving a half-applied redirect. Idempotent per JVM. */
  def privateLocalDirs(): Unit = synchronized {
    if (privateDir.isDefined) return
    import java.nio.file.{Files, Paths}
    val configured = sys.env.get("SPARK_LOCAL_DIRS")
      .orElse(sys.props.get("spark.local.dir"))
      .toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).headOption
    // keep the operator's DISK choice (the configured root's parent),
    // step out of the shared root itself
    val base = configured
      .map(p => Option(Paths.get(p).toAbsolutePath.getParent)
        .getOrElse(Paths.get(p).toAbsolutePath))
      .getOrElse(Paths.get(sys.props.getOrElse("java.io.tmpdir", "/tmp")))
    Files.createDirectories(base)
    val dir = Files.createTempDirectory(base, "graft-local.")
    sys.props("spark.local.dir") = dir.toString
    if (sys.env.contains("SPARK_LOCAL_DIRS") &&
        !rewriteEnv("SPARK_LOCAL_DIRS", dir.toString)) {
      System.err.println(
        "[graft] WARN could not rewrite SPARK_LOCAL_DIRS (env outranks " +
          "spark.local.dir): spills stay on the SHARED configured root — " +
          "concurrent launches must not delete it")
      sys.props -= "spark.local.dir"
      ensureLocalDirs()
      Files.deleteIfExists(dir)
      return
    }
    privateDir = Some(dir.toString)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(dir.toFile)
    }, "graft-local-cleanup"))
  }

  /** Best-effort rewrite of one entry of THIS process's env map (Unix
    * JDK: `ProcessEnvironment.theEnvironment` behind the unmodifiable
    * view `System.getenv` serves). Returns true only when a readback
    * confirms the new value is what `System.getenv` now returns. */
  private def rewriteEnv(key: String, value: String): Boolean =
    try {
      val pe = Class.forName("java.lang.ProcessEnvironment")
      val f = pe.getDeclaredField("theEnvironment")
      f.setAccessible(true)
      val envMap = f.get(null).asInstanceOf[java.util.Map[AnyRef, AnyRef]]
      val varCls = Class.forName("java.lang.ProcessEnvironment$Variable")
      val valCls = Class.forName("java.lang.ProcessEnvironment$Value")
      val varOf = varCls.getDeclaredMethod("valueOf", classOf[String])
      val valOf = valCls.getDeclaredMethod("valueOf", classOf[String])
      varOf.setAccessible(true)
      valOf.setAccessible(true)
      envMap.put(varOf.invoke(null, key), valOf.invoke(null, value))
      System.getenv(key) == value
    } catch { case scala.util.control.NonFatal(_) => false }

  /** Fail fast when the heap is provably short for a timing run over
    * `sfDir` (round-12 verdict #8: the sf100 disk-full crash took hours
    * to surface because nothing checked headroom up front). Measured
    * floors (docs/SCALING.md): the suite runs comfortably at ~6x the
    * corpus's on-disk parquet bytes (sf100: 16 GB parquet -> 96 GB
    * heap) and a run below ~2x is known-unviable (parquet decompresses
    * 3-10x and the heavy plans persist intermediate frames) — so < 2x
    * throws with the floor in the message, < 6x warns. Override with
    * GRAFT_IGNORE_HEAP=1 for deliberate spill experiments. */
  def checkBenchHeadroom(sfDir: String): Unit = {
    val root = new java.io.File(sfDir)
    if (!root.isDirectory) return
    def bytesOf(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(bytesOf).sum).getOrElse(0L)
      else if (f.getName.endsWith(".parquet")) f.length()
      else 0L
    val bytes = bytesOf(root)
    val heap = Runtime.getRuntime.maxMemory()
    def gb(x: Long): String = f"${x / 1e9}%.1f GB"
    if (heap < 2L * bytes && !sys.env.contains("GRAFT_IGNORE_HEAP"))
      throw new IllegalStateException(
        s"heap ${gb(heap)} is provably short for $sfDir (${gb(bytes)} " +
          s"on-disk parquet; measured floor ~6x, hard floor 2x — see " +
          s"docs/SCALING.md): set SPARK_DRIVER_MEM >= ${gb(6L * bytes)} " +
          "or GRAFT_IGNORE_HEAP=1 for a deliberate spill experiment")
    else if (heap < 6L * bytes)
      System.err.println(
        s"[graft] WARN heap ${gb(heap)} below the measured ~6x floor for " +
          s"$sfDir (${gb(bytes)} parquet) — heavy queries may spill or die; " +
          s"measured floors in docs/SCALING.md")
  }

  /** Fail fast when the box is busy at bench start (round-14 verdict
    * #2: three rounds running, suite windows were polluted by
    * concurrent JVMs and the official artifact needed post-hoc solo
    * re-measures). A timing suite launched onto a busy box produces
    * numbers that are environment, not engine — so refuse to start.
    *
    * The signal is LIVE CPU busy-fraction (/proc/stat sampled twice,
    * 300 ms apart), NOT 1-minute loadavg: the first version of this
    * gate used loadavg and promptly broke its own sequential chain —
    * a just-exited heavy solo bench leaves loadavg above any sane
    * threshold for minutes (exponential decay) while the CPUs are
    * already idle, so back-to-back solos all refused to start. A live
    * sample sees the truth instantly in both directions: idle box
    * after a heavy exit -> pass; an active neighbor mid-burn -> fail.
    * Busy fraction above maxBusy (default 0.25 of all cores; override
    * GRAFT_MAX_BUSY) throws with the measured value. GRAFT_IGNORE_LOAD=1
    * bypasses for deliberate concurrent experiments. Linux-only best
    * effort: no /proc/stat means no check.
    *
    * Default is WARN-and-proceed: an unattended launcher (the driver's
    * official bench) must never lose its whole artifact because some
    * straggler was burning CPU at its start — the per-query noisy-rep
    * machinery still catches pollution query by query. The builder's
    * own measurement chains export GRAFT_STRICT_LOAD=1 to make a busy
    * box a hard failure instead (their operator is present to drain
    * and re-run). */
  def checkBenchContention(): Unit = {
    if (sys.env.contains("GRAFT_IGNORE_LOAD")) return
    val f = new java.io.File("/proc/stat")
    if (!f.isFile) return
    // cpu line: user nice system idle iowait irq softirq steal ...
    def sample(): Option[(Long, Long)] =
      try {
        val cols = java.nio.file.Files.readAllLines(f.toPath).get(0)
          .split("\\s+").drop(1).map(_.toLong)
        val idle = cols(3) + (if (cols.length > 4) cols(4) else 0L)
        Some((cols.sum, idle))
      } catch { case scala.util.control.NonFatal(_) => None }
    (sample(), { Thread.sleep(300); sample() }) match {
      case (Some((t0, i0)), Some((t1, i1))) if t1 > t0 =>
        val busy = 1.0 - (i1 - i0).toDouble / (t1 - t0).toDouble
        val maxBusy = sys.env.get("GRAFT_MAX_BUSY").map(_.toDouble).getOrElse(0.25)
        if (busy > maxBusy) {
          val msg =
            f"live CPU busy fraction $busy%.2f exceeds $maxBusy%.2f at bench " +
              "start — a timing run on a busy box measures the neighbors, " +
              "not the engine."
          if (sys.env.contains("GRAFT_STRICT_LOAD"))
            throw new IllegalStateException(msg +
              " Wait for the box to drain, or set GRAFT_IGNORE_LOAD=1 " +
              "(numbers will need solo re-measures) or GRAFT_MAX_BUSY.")
          else
            System.err.println("[graft] WARN " + msg +
              " Proceeding (set GRAFT_STRICT_LOAD=1 to fail fast); " +
              "per-query noisy-rep detection still applies.")
        }
      case _ => ()
    }
  }

  /** 100 TB notes (not settable from inside the job, documented here):
    *  - shuffle partitions: target ~128-256 MB per reduce partition;
    *    at 100 TB of input and ~1 TB of post-filter shuffle, thousands of
    *    partitions — set spark.sql.shuffle.partitions high and let AQE
    *    coalesce, never the reverse;
    *  - tick table: partition by trade_date (this library does), bucket
    *    very hot fact-to-fact joins by token if they appear;
    *  - broadcast threshold: the token directory and centroid tables are
    *    KB-scale — the explicit broadcast() calls in this library don't
    *    depend on autoBroadcastJoinThreshold;
    *  - dedup/similarity: shingle and band tables should be persisted
    *    (DISK_ONLY) when reused across queries of one session.
    */
  val clusterNotes: String = "see scaladoc"
}
