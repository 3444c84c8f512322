package graft

import org.apache.spark.sql.SparkSession

/** The library's session entry point — one place encoding the configs
  * this engine is designed to run under, so a user switching from the
  * reference gets the scale-correct defaults without reading tuning
  * guides:
  *
  *  - `spark.sql.shuffle.partitions` sized by the caller (cores
  *    locally, 2–3× total executor cores on a cluster) instead of the
  *    200 default;
  *  - AQE on, with skew-join splitting and partition coalescing —
  *    the runtime re-plan that absorbs stats drift at 100 TB — and
  *    allowed to re-plan cache-building queries, so a node-sized
  *    cached frame collapses to few partitions;
  *  - [[graft.functions.GraftExtensions]] installed, so the native
  *    codegen `graft_dot` is callable from any query;
  *  - UTC session timezone and nanos-as-long parquet reads — the
  *    cross-engine determinism contract the oracle gates assume;
  *  - one class loader for every session's tasks, and a codegen cache
  *    that holds the working set. Spark caches each Janino-compiled
  *    class under (class loader, source), so a class compiled for one
  *    loader is compiled again for the next. With artifact isolation
  *    on (Spark's default), every session — each `newSession()` loop
  *    clone, each streaming query's cloned session — runs its tasks
  *    on its own loader and recompiles code the JVM already holds.
  *    Graft adds no per-session jars or files, so isolation is off
  *    and all sessions share the executor's default loader. Each
  *    class still takes two entries (the driver's loader and the task
  *    threads'), and the catalog's working set is far larger than
  *    Spark's 100-entry default, so the cache holds 4096;
  *  - the `file:` scheme on [[graft.sources.LocalFiles]]'s file
  *    systems (`spark.hadoop.fs.file.impl` and
  *    `spark.hadoop.fs.AbstractFileSystem.file.impl`). Without
  *    libhadoop, Hadoop's stock local file system forks `chmod` for
  *    every file and directory it creates and `readlink` on every
  *    `FileContext` status lookup (a streaming checkpoint's offsets,
  *    commits and source log); these classes keep every result and
  *    `.crc` file and start no process. Other schemes (HDFS, S3) keep
  *    their stock classes. Hadoop caches a `FileSystem` per scheme for
  *    the life of the JVM, so a JVM that touched `file:` through
  *    Hadoop before it built its first graft session keeps the stock
  *    `FileSystem` (`FileContext` reads the setting on each use).
  *
  * Builder only; the caller owns the session lifecycle.
  */
object GraftSession {

  /** Shuffle/spill scratch override. EVERY shuffle write and disk
    * spill lands in `spark.local.dir`, so scratch-medium throughput
    * feeds straight into query time; `GRAFT_LOCAL_DIR` lets a
    * deployment point it at its fastest local volume without touching
    * code. Deliberately NOT defaulted to tmpfs: measured on the
    * round-6 container, `/dev/shm` scratch made shuffle-heavy queries
    * 3–10× SLOWER and wildly variable (q20: 2–15 s on the disk
    * default vs 30–186 s on tmpfs) — shared-memory writes on this
    * kernel behave far worse than page-cached disk writes for
    * Spark's many small shuffle files. Measure before overriding.
    */
  private def localScratch: Option[String] = sys.env.get("GRAFT_LOCAL_DIR")

  /** Codegen cache bound. One `graft.Verify` run of the whole catalog
    * at sf0.001 compiles 2794 distinct classes (its compile line, with
    * an unbounded cache); 4096 holds them all with headroom. A full
    * cache kept ~80 MB more heap live than the 100-entry default
    * (219 vs 139 MB after a full GC). The bound is read once per JVM,
    * when Spark's code generator is first used, so it holds when the
    * JVM's first session comes from this builder.
    */
  private[graft] val CodegenCacheEntries = 4096

  def builder(
      master: String,
      shufflePartitions: Int,
      appName: String = "graft"): SparkSession.Builder = {
    // Codec-path setting with session-setup placement (not object-init
    // timing): see the helper's scaladoc for the measured rationale.
    graft.operators.Multimodal.disableImageIoDiskCache()
    val b = SparkSession
      .builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Let AQE re-plan CACHE-BUILDING queries too (off by Spark
      // default for partitioning-stability conservatism): the
      // operators here persist mid-pipeline frames everywhere
      // (signature/hash/pair/label frames), and with this off every
      // such cache compiles at the FULL session shuffle width — tiny
      // frames pinned across dozens of near-empty partitions that
      // every consumer then re-scans task-by-task. That is exactly
      // the r16 scaling inversion (q195/q196 FASTER at 8 cores than
      // 32: the narrower session width shrank every cached frame's
      // partition count). With it on, the cache build coalesces by
      // AQE's size rule — scale-adaptive by construction: corpus-
      // sized caches keep their width, node/pair-sized ones collapse
      // to few partitions.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // localCheckpoint truncation normally stops at the FIRST marked
      // RDD on the action's lineage path; loops that defer more than
      // one marked generation per action (BpeTrainer's incremental
      // arm: counts_k over touched_k over words_(k-1)) need every
      // computed marked ancestor truncated too, or closure nesting
      // grows with round count until task DESERIALIZATION overflows
      // the executor stack (hit at 64 byte-mode training rounds).
      .config("spark.checkpoint.checkpointAllMarkedAncestors", "true")
      .config("spark.ui.enabled", "false")
      // Codegen reuse across sessions and queries; see the scaladoc.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
    // Local file operations without child processes; see the scaladoc.
    graft.sources.LocalFiles.hadoopConf.foreach { case (k, v) => b.config(s"spark.hadoop.$k", v) }
    localScratch.fold(b)(dir => b.config("spark.local.dir", dir))
  }

  /** Local session with `cpus` worker threads — the shape the driver
    * contract mains (Bench/Verify) and Probe run under.
    */
  def local(cpus: Int, appName: String = "graft"): SparkSession =
    builder(s"local[$cpus]", math.max(1, cpus), appName).getOrCreate()

  /** Release every cached DataFrame and persisted RDD in the session.
    *
    * Operators that feed one expensive frame to several consumers
    * (MinHash signatures, winnowing fingerprints, the connected-
    * components label frame) persist it mid-plan; the frames they
    * RETURN stay backed by those blocks, so a long-lived session that
    * runs many such queries accumulates cache entries it no longer
    * needs. Beyond storage, every live cache entry taxes the PLANNING
    * of every subsequent query — Catalyst compares each new plan
    * against each cached canonical plan for subtree reuse — so a
    * query-per-job harness (Bench/Verify) sweeps between queries to
    * keep runs independent. Driver-side bookkeeping only; the block
    * drops are asynchronous.
    */
  def releaseAllCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
