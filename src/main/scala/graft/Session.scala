package graft

import org.apache.spark.sql.SparkSession

/** The one graft SparkSession: Bench, Verify, PlanDump and the test
  * suite all build through here, so the plans that are verified, timed
  * and audited come from one session shape.
  *
  * [[graft.plans.GraftExtensions]] is installed at build time — the
  * only way graft's SQL functions and optimizer rules get into a
  * session — so a global `row_number()` (`Ids.withGlobalId`) plans the
  * distributed [[graft.plans.GlobalSeqIdExec]] instead of a single-task
  * window, and `format("snapshot")` reads substitute the native plan.
  */
object Session {

  /** The mains' core count: `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  def build(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // local files are tiny (<11 MB): split aggressively so scans use
      // all cores; at cluster scale the default 128m is the right call
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "64k")
      // AQE coalesces shuffles toward 64m by default; our shuffles are
      // byte-tiny but CPU-heavy downstream (hashing, set ops) — keep
      // them spread across cores
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      // the DuckDB oracle compares in UTC; a host-local zone would
      // verify (or time) different work
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet is TIMESTAMP(NANOS) in older testdata; set at
      // build (a loader must not mutate parquet semantics mid-session)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
