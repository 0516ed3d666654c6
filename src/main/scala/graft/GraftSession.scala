package graft

import org.apache.spark.sql.SparkSession

/** The library's session entry point: a SparkSession builder pre-configured
  * for the engine's target regime (100 TB inputs, 1000-executor clusters),
  * with local-mode overrides for the test/bench harness.
  *
  * Why each knob (all standard Spark configuration, tuned not invented):
  *  - AQE on, with coalescing and skew-join splitting: runtime re-planning
  *    is the first line of defense against skew and over-partitioning at
  *    scale; the engine's salting operator covers keys hotter than AQE's
  *    split thresholds.
  *  - `shuffle.partitions` sized to total cores (driver default 32 locally)
  *    rather than Spark's legacy 200: AQE coalesces down, but the upper
  *    bound should track the cluster, not a constant.
  *  - `files.maxPartitionBytes` 256m: fewer, fuller scan tasks — parquet
  *    footer/dictionary overhead amortizes, and 256m × ~2 inflation stays
  *    inside executor memory at default 4-8 GiB/core.
  *  - broadcast threshold 64m: dimension tables (nation/part/centroids/
  *    constraint frames) should broadcast aggressively; anything bigger
  *    flows through sort-merge with AQE deciding.
  *  - parquet nanos-as-long: tolerated for legacy TIMESTAMP(NANOS) data
  *    (harmless otherwise); the events table's encoding drift is handled
  *    schema-adaptively in [[graft.io.EventsReader]].
  *  - generated-class cache of [[CodegenCacheEntries]] entries, not Spark's
  *    100, and no stage number in generated class names. The cache is one
  *    JVM-wide LRU map from generated source to compiled class. The engine
  *    runs as chains of many small jobs that repeat: passes of a fit,
  *    rounds of a loop, queries of a session. An LRU cache smaller than a
  *    repeating working set evicts each class shortly before its next use,
  *    so every lookup misses, and every pass pays Janino and then the JIT
  *    for the same classes again.
  *    Measured working sets, as Janino compiles from a cold JVM in local
  *    mode (where a whole-stage pipeline compiles twice, for the driver's
  *    and the executor's class loader): one `exact_and_sketch` benchmark
  *    pass 126, one `dedup_allpairs` pass 174, one full sf0.1
  *    `graft.Bench` pass (254 queries, one rep each) 3371. 2000 holds each
  *    repeating working set more than ten times over. It does not hold the
  *    whole query surface, which no session repeats as a unit (`Bench`
  *    repeats each query back to back). At 100 entries every later
  *    benchmark pass (control job, timed calls, output check) compiled 107
  *    and 175 classes again; at 2000, 0 (exact) and 0–8 (dedup).
  *    Memory, after GC: at the end of a `dedup_allpairs` run, metaspace
  *    149.0 MB and heap 414 MB, against 148.6 and 411 MB at 100 entries.
  *    After a full `graft.Bench` pass keeping all 3371 classes, metaspace
  *    247.6 MB and heap 263 MB, against 220.4 and 168 MB at 100: about
  *    8 KB of metaspace and 29 KB of heap per kept class, so at most about
  *    17 MB and 60 MB at 2000.
  *    `maxEntries` is a static conf that Spark's `CodeGenerator` reads
  *    once per JVM, on first use, so it only takes effect from this
  *    builder, before any session exists. Sessions built elsewhere
  *    (`tools/LazyPlans`, `Explain`) keep Spark's 100.
  *    `useIdInClassName` off: adaptive execution numbers whole-stage
  *    pipelines as it plans query stages, in the order they become ready,
  *    and with the number in the class name a renumbered pipeline is new
  *    source. The n-gram Jaccard verify join's three exchange inputs are
  *    numbered differently from run to run, and compiled again each time.
  *    Without the number the cache key is the code alone.
  */
object GraftSession {

  /** Entries in Spark's JVM-wide generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`); see the knob list above. */
  val CodegenCacheEntries: Int = 2000

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      .config("spark.sql.files.maxPartitionBytes", 256L * 1024 * 1024)
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Harness variant: local master, core-count shuffle parallelism, the
    * engine's SQL functions injected. */
  def localBuilder(appName: String = "graft", cpus: Int = 32): SparkSession.Builder =
    builder(appName)
      .master(s"local[$cpus]")
      // default: one shuffle partition per core (AQE coalesces down).
      // SPARK_GRAFT_SHUFFLE_PARTITIONS overrides for scale experiments —
      // past ~10× the gate SF, per-partition shuffle blocks outgrow the
      // local executor's storage fraction and spill; more (smaller)
      // partitions restore the in-memory regime, exactly as a real
      // cluster's core count would
      .config("spark.sql.shuffle.partitions",
        sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").map(_.toInt).getOrElse(cpus))
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)

  def local(appName: String = "graft", cpus: Int = 32): SparkSession =
    localBuilder(appName, cpus).getOrCreate()

  /** Read a parquet table, splitting an OVERSIZE SINGLE-FILE layout into
    * cluster-width partitions right after the first materialization
    * (VERDICT r12 #7 — the documented ingestion-layout lever).
    *
    * Why: a table written as one parquet file with one row group scans as
    * exactly ONE task at any SF — `maxPartitionBytes` cannot split below
    * row-group granularity — so every text-kernel stage over it runs
    * single-threaded (measured: q_substring_search 35 s single-task at
    * sf1; redactPii kernel 2.65 → 1.18 s with a 32-way split). On a real
    * 100 TB deployment scan parallelism comes from FILE COUNT and this
    * helper is a no-op; it exists for corpora inherited in the
    * one-file-per-table shape (the gate testdata's own layout, which the
    * STREAMING sources' leaf-file glob requires — this reader never
    * rewrites the source files, so the streaming contract is preserved).
    *
    * The split is one round-robin shuffle of the table placed BEFORE the
    * kernel work instead of inside every downstream stage; callers that
    * reuse the frame should persist it. Tables already made of several
    * files (or below `minSplitBytes`) pass through untouched — the scan
    * planner already parallelizes them, and forcing a shuffle there would
    * regress the pruned single-pass contract the operators document.
    *
    * @param partitions target width; 0 = the session's default parallelism */
  def readSplit(spark: SparkSession, path: String,
      minSplitBytes: Long = 256L * 1024 * 1024,
      partitions: Int = 0): org.apache.spark.sql.DataFrame = {
    val df = spark.read.parquet(path)
    val p = new org.apache.hadoop.fs.Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    val leaves =
      if (fs.getFileStatus(p).isFile) Array(fs.getFileStatus(p))
      else fs.listStatus(p).filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
    // a single MULTI-row-group file is already splittable — the scan
    // planner parallelizes it at row-group granularity via
    // maxPartitionBytes, so shuffling it would pay for nothing; only the
    // one-row-group shape (e.g. a repartition(1) writer's output) is
    // stuck at 1 task. Read the footer to tell them apart.
    def singleRowGroup(f: org.apache.hadoop.fs.FileStatus): Boolean = {
      val in = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
      try in.getRowGroups.size() <= 1 finally in.close()
    }
    if (leaves.length == 1 && leaves.head.getLen > minSplitBytes
        && singleRowGroup(leaves.head))
      df.repartition(if (partitions > 0) partitions
        else spark.sparkContext.defaultParallelism)
    else df
  }

  /** Run `body` with `spark.sql.shuffle.partitions` scoped to `n`,
    * restoring the previous value after.
    *
    * Primary use: sizing the STATE-SHARD count of streaming queries
    * started inside `body` (state partitioning is fixed to the shuffle
    * partition count at a checkpoint's first batch). A stateful
    * micro-batch pays a fixed per-shard state-store open/commit/file cost
    * per batch, so when each shard would hold only a few thousand rows the
    * shard count IS the latency: the sf0.1 attribution replay measures
    * 5.6 s at 32 shards vs 2.1 s at 8 for identical results. On a real
    * cluster the session default (sized to executors × cores) applies —
    * pick `n` to give each shard meaningful state, exactly like sizing
    * shuffle partitions for batch. */
  def withShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }
}
