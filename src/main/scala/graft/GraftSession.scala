package graft

import org.apache.spark.sql.SparkSession

/** Production `SparkSession` factory — the one place the engine's
  * 100 TB posture is spelled out as configuration rather than prose.
  * Every knob here is Spark-public; callers get a plain `Builder` back
  * and can override anything before `getOrCreate()`.
  *
  * What it pins and why:
  *  - `graft.functions.GraftExtensions` — the native codegen expression family
  *    (vec_dot / simhash64 / minhash_sig / …) resolves in `spark.sql`
  *    and `expr(...)` without a per-session `register` call.
  *  - AQE + skew-join + partition coalescing — runtime re-planning is
  *    the first line of defense at scale: skewed fact joins split hot
  *    partitions, tiny post-shuffle partitions merge, and join
  *    strategies demote/promote on real sizes, not estimates.
  *  - UTC session timezone — timestamp determinism; every oracle and
  *    every test in this repo assumes it.
  *  - 256 MiB scan partitions — big enough that a 1000-executor read
  *    is not task-launch-bound, small enough to fit executor memory
  *    next to shuffle buffers.
  *  - Shuffle partitions are a REQUIRED caller decision, not a magic
  *    default: the right number is data-volume-dependent (a good rule:
  *    total shuffle bytes / 200 MiB), and AQE coalescing makes
  *    overshooting cheap — so size for the biggest stage.
  */
object GraftSession {

  /** Cluster-posture builder. `shufflePartitions`: size for the largest
    * shuffle stage (AQE coalesces the rest down).
    */
  def builder(appName: String, shufflePartitions: Int): SparkSession.Builder = {
    require(shufflePartitions >= 1, "shufflePartitions must be positive")
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", s"${256L * 1024 * 1024}")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // Constraint-inference (InferFiltersFromConstraints) is excluded,
      // BOTH postures. The rule rewrites each copy of a shared subtree
      // with whichever isnotnull/transitive predicates its local join
      // demands, so the copies stop canonicalizing equal and exchange/
      // AQE-stage reuse dies. In the engine's single most common shape
      // — census → margins re-aggregated → joined back (cramersV,
      // mutualInfo, pmi, liftCurve, chiSquare, mcnemar, ebShrinkage,
      // winsorize, …) — that turned ONE fact scan + ONE census shuffle
      // into FOUR of each (q_cramers_v final plan: 4 FileScans, 0
      // ReusedExchange → 1 FileScan, 3 ReusedExchange with the rule
      // off). At 100 TB the redundant fact scans dwarf anything the
      // inferred filters prune; this library's operators state their
      // load-bearing filters explicitly (PlanSpec pins the pushdowns),
      // so inference only ever ADDS the reuse-breaking copies.
      // Measured at sf0.1: census-family floor −13% (11 of 12 queries
      // 7–24% faster, interleaved A/B ×2). Callers whose ad-hoc frames
      // rely on inferred filters can override before getOrCreate().
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromConstraints")
      // Static conf: the generated-class cache defaults to 100 entries,
      // sized for a handful of hot queries. An analytics service running
      // hundreds of distinct query shapes (this library registers 230+)
      // thrashes it and pays Janino recompilation on every re-run; a
      // 10k-entry cache keeps every compiled projection/predicate/
      // WholeStageCodegen unit resident for the life of the session at
      // a bounded metaspace cost (classes are small; eviction is LRU).
      .config("spark.sql.codegen.cache.maxEntries", "10000")
  }

  /** Single-process variant for tools and tests: same posture, local
    * master, shuffle width matched to the core count (matching the
    * driver contract's `local[n]` environment).
    */
  /** Silence WindowExec's "No Partition Defined" WARN in local tool
    * and test runs. The library's ~20 unpartitioned windows are all
    * over aggregated censuses whose row counts are bounded by
    * construction (audited; PlanSpec pins the shapes), but WindowExec
    * WARNs on every one — hundreds of identical lines per run that
    * bury real warnings. Call AFTER `getOrCreate()` (SparkContext
    * startup re-initializes the log4j2 configuration, wiping levels
    * set earlier). Deliberately NOT wired into the cluster builder:
    * a genuinely unbounded global window still warns in production.
    */
  def quietBoundedWindowWarnings(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)

  def local(cores: Int, appName: String = "graft"): SparkSession.Builder = {
    val b = builder(appName, shufflePartitions = cores)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      // Local-process IO posture ONLY (cluster builds above keep the
      // defaults): a single-host shuffle moves blocks through the OS
      // page cache, never a NIC, so lz4 on the shuffle path is pure
      // CPU overhead with no bandwidth to buy back — measured ~8% off
      // the shuffle-heavy suite at sf0.1. On a real cluster shuffle
      // compression trades CPU for network and stays ON.
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.broadcast.compress", "false")
      // Shuffle WRITER strategy, local only: below the 200-partition
      // threshold Spark picks BypassMergeSortShuffleWriter, which opens
      // one file PER REDUCE PARTITION per map task and then concatenates
      // them — numPartitions× the file-create/write/concat syscalls of
      // the serialized (Unsafe) writer's single sorted file. Profiled at
      // sf0.1 (task metrics): bypass writes spent 0.9–1.7 s per 5–16 MB
      // shuffle on this VM class, whose kernel stalls on exactly that
      // many-small-files path (DEPLOY §6d); with the serialized writer
      // the 11-query heavy subset's tmin dropped 29.6→22.9 s (−23%,
      // kcore 4.9→2.4, pagerank 3.1→1.4). A real cluster's reduce
      // widths exceed 200, so the bypass writer never fires there —
      // pinning 0 locally aligns local mode with the cluster code path
      // rather than tuning away from it.
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      // Local filesystem without process forks, local only: with no
      // native libhadoop, Hadoop's RawLocalFileSystem forks `chmod` for
      // every file it creates and `readlink` for every FileContext
      // rename — every offset/commit-log file, state delta and `.crc`
      // sidecar of a checkpointed stream, every parquet part file.
      // graft.io.NioRawLocalFileSystem answers both through
      // java.nio.file with the same bits and statuses (LocalFsSpec).
      // Both Hadoop APIs are pointed at it: FileSystem (parquet, the
      // exactly-once markers) and FileContext (the streaming checkpoint
      // manager). Measured on stream-dedup (perfbench, 4 vCPU, median
      // of 3 traced runs): trigger p50 239→108 ms, state commit
      // 250→11 ms, wal commit 29→2.3 ms per trigger; event latency p50
      // 357→173 ms over 10 untraced seeds. A cluster's checkpoints
      // live on a distributed store, and its executors may have the
      // native library, so the cluster builder keeps Hadoop's defaults.
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.io.NioLocalFs].getName)
    // Local scratch on tmpfs when the platform has one: single-host
    // shuffle blocks never leave the box, so an ext4 scratch dir pays
    // journaling + writeback syscalls for durability nothing needs
    // (shuffle files are transient by contract). Same 11-query subset:
    // tmin 29.6→22.4 s on /dev/shm. Overridable via SPARK_GRAFT_LOCAL_DIR;
    // silently keeps the JVM default where /dev/shm is absent (macOS,
    // shm-less containers), and a cluster deployment configures
    // spark.local.dir from its own fast-disk inventory as usual.
    val localDir = sys.env.get("SPARK_GRAFT_LOCAL_DIR").filter(_.nonEmpty)
      .orElse {
        val shm = java.nio.file.Paths.get("/dev/shm")
        if (java.nio.file.Files.isDirectory(shm) &&
          java.nio.file.Files.isWritable(shm))
          Some("/dev/shm/graft-spark-local")
        else None
      }
    localDir.fold(b)(d => b.config("spark.local.dir", d))
  }
}
