package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the harness star schema (see /root/repo/TESTDATA.md).
  *
  * One parquet file per table; `dir` is an sf directory such as
  * `/root/testdata/sf0.01`. Reads stay lazy so Catalyst can push filters
  * and prune columns into the parquet scan.
  */
object Tables {
  /** Per-session loaded-table cache.
    *
    * `s.read.parquet` builds a fresh `InMemoryFileIndex` every call —
    * a filesystem listing plus a footer read for schema inference.
    * Per query that's milliseconds, but the Bench/Verify mains call
    * `Tables.*` thousands of times per run (150+ queries × ≥2 passes
    * × 2-3 tables each), and that fixed cost is per-query overhead
    * that GROWS with the registry — the s/query creep the round-11
    * review traced (0.381 → 0.488 s/query r7→r11). The testdata dirs
    * are immutable for the life of a run, and a `DataFrame` is an
    * immutable plan, so handing every caller the SAME analyzed
    * relation is semantics-free: callers compose select/filter on top
    * and Catalyst prunes/pushes into the shared scan exactly as
    * before.
    *
    * Keyed WEAKLY by session (values die with the session) and
    * strongly by (dir, table) within it. Synchronized: bench/verify are
    * single-threaded drivers, tests may race harmlessly.
    */
  private val cache = new java.util.WeakHashMap[
    SparkSession, scala.collection.mutable.Map[(String, String), DataFrame]]

  def load(s: SparkSession, dir: String, name: String): DataFrame =
    cache.synchronized {
      cache.computeIfAbsent(s, _ => scala.collection.mutable.Map.empty)
        .getOrElseUpdate((dir, name), s.read.parquet(s"$dir/$name.parquet"))
    }

  /** Spread a scan across all cores for CPU-bound per-row work (hashing,
    * shingling, regex) whose input BYTES are tiny relative to compute —
    * a single small parquet file otherwise yields one partition and one
    * busy core. No-op when the scan is already parallel enough (at real
    * scale the file splits alone exceed core count, so this never
    * coalesces a big scan).
    *
    * The split estimate comes from ANALYZED-plan statistics (full
    * relation bytes, before column pruning / filter selectivity shrink
    * them) clamped from below by the scan's file count (each file is at
    * least one split, and openCostInBytes padding makes small files
    * produce more splits than bytes/maxPartitionBytes suggests) — NOT
    * from `df.rdd.getNumPartitions`, whose RDD probe forces physical
    * planning per call and can pin the plan.
    */
  def fanOut(df: DataFrame): DataFrame =
    if (narrowerThanCores(df)) df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    else df

  /** Scoped persist: cache `df` for the duration of `f` and GUARANTEE
    * release afterwards, exceptions included. Use when every action
    * that touches the cache completes inside `f` (iterative training
    * loops, multi-collect driver bridges). It is WRONG when the
    * RETURNED plan still references the cached frame — unpersisting
    * would unmark the cache before the caller's action and the "saved"
    * scan re-runs at action time; those sites persist unscoped with a
    * documented "no eager unpersist" comment and rely on the Bench
    * protocol (clearCache between passes) plus LRU for release.
    */
  def withPersisted[A](df: DataFrame,
      level: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (f: DataFrame => A): A = {
    df.persist(level)
    try f(df)
    finally { df.unpersist(blocking = false); () }
  }

  /** Materialization barrier for expensive derived columns — tokenized
    * arrays feeding interpreted HOFs, which get neither codegen nor
    * common-subexpression elimination, so without a physical boundary
    * every downstream consumer re-tokenizes the document. The exchange
    * makes the arrays physical exactly once.
    *
    * Guarded by the same split-estimate predicate as [[fanOut]]: when
    * the scan is already wider than the core count (the 100 TB case)
    * this is the IDENTITY — a full-corpus shuffle to save map-parallel
    * recompute is a bad trade at scale, and an unconditional
    * `repartition(defaultParallelism)` would additionally DOWNSIZE a
    * wide scan. On the narrow case (small local files) the one
    * repartition doubles as the fan-out, so callers should NOT also
    * wrap the input in [[fanOut]].
    */
  def barrier(df: DataFrame): DataFrame = fanOut(df)

  private def narrowerThanCores(df: DataFrame): Boolean = {
    val s = df.sparkSession
    val target = s.sparkContext.defaultParallelism
    val maxPartitionBytes = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(s.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    val estBytes = df.queryExecution.analyzed.stats.sizeInBytes
    val estSplits = math.max(
      (estBytes / maxPartitionBytes).toLong + 1,
      df.inputFiles.length.toLong)
    estSplits < target
  }

  def region(s: SparkSession, dir: String): DataFrame   = load(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame   = load(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame = load(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = load(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame     = load(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame   = load(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame = load(s, dir, "lineitem")
  /** events: `ts` normalized to session-zone TimestampType whatever the
    * parquet writer chose. Generations of the testdata have used
    * TIMESTAMP(NANOS) — which Spark's vectorized reader only admits as a
    * raw long under `spark.sql.legacy.parquet.nanosAsLong=true`, then
    * truncated to micros exactly like DuckDB's reader — and plain
    * timestamp[us], which arrives as TIMESTAMP_NTZ and only needs the
    * cast (session zone is UTC everywhere, so values agree with DuckDB's
    * naive read). Dispatch on the OBSERVED schema so either layout works
    * without a session-config change.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val raw = load(s, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        // integer `div`, NOT `/`: Column./ promotes to double, which can't
        // represent 1.7e18 nanos exactly and corrupts the low microseconds
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, dir: String): DataFrame  = load(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = load(s, dir, "embeddings")
}
