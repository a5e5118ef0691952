package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.ops.SnapshotTable
import graft.streaming.Streaming

/** What an op sees of the benchmark: the session, span recording, and
  * the two ways of consuming a frame. In the check round `save` writes
  * the frame for the output checks; in every other round `count` runs
  * the frame's own physical plan and counts its rows.
  */
trait Ctx {
  def spark: SparkSession
  def checking: Boolean
  def span[T](name: String)(body: => T): T
  /** Force the executed plan, run it, count rows (scan metrics kept). */
  def count(df: DataFrame): Long
  /** Check round: write `df` under the output dir as `name`, return rows. */
  def save(df: DataFrame, name: String): Long
  /** Consume `df`: save it as `name` in the check round, else count it. */
  final def consume(df: DataFrame, name: String): Long =
    if (checking) save(df, name) else count(df)
}

/** One operation of a round. `run` returns a result size that must repeat
  * on every call at the same position (a row count or a version number).
  * `kind` names the layer call, for the per-layer metrics.
  */
final case class Op(name: String, kind: String, run: Ctx => Long)

trait Workload {
  /** Stage the program's inputs into a fresh session. */
  def stage(spark: SparkSession): Unit = ()
  /** The ops of round `r`; every round does the same work. */
  def round(r: Int): Seq[Op]
  /** Batch-input bytes of a write op (for write amplification), if any. */
  def batchBytes(op: Op): Option[Long] = None
  /** Table directory an op of round `r` writes or reads, if any. */
  def tableDir(r: Int): Option[String] = None
}

/** Read-only registry queries, called through `SparkEntry.queries`. */
final class QueryWorkload(names: Seq[String], dataDir: String) extends Workload {
  private val fns = names.map { n =>
    n -> SparkEntry.queries.getOrElse(n,
      throw new IllegalArgumentException(s"unknown registry query $n"))
  }
  def round(r: Int): Seq[Op] = fns.map { case (n, fn) =>
    Op(n, "query", ctx => {
      val df = ctx.span("build")(fn(ctx.spark, dataDir))
      ctx.consume(df, n)
    })
  }
}

/** A CDC cycle on one `SnapshotTable`, plus a streamed upsert ingest.
  * Every round starts from empty directories, so every round does
  * identical work. The versions are v1 base, v2 upsert, v3 delete,
  * v4 append and v5 compaction. A full read follows the append (its
  * state includes the base, the upsert and the delete) and the
  * compaction, and the time-travel read checks v2. The bloom point and
  * stats range reads run on the compacted version: graft's pruned reads
  * refuse upsert and append chain versions. `params` holds the seeded point-read keys
  * (`point_keys=a,b,c`) and range bounds (`range=lo,hi`).
  */
final class LakeWorkload(cdcDir: String, lakeRoot: String,
    params: java.util.Properties) extends Workload {
  private val key = "o_orderkey"
  private val statsCols = Seq("o_orderkey", "o_totalprice")
  private val bloomCols = Seq("o_orderkey")
  private val baseFiles = 4     // range-clustered files of the base commit
  private val compactFiles = 4  // files the compaction rewrites the table into
  private val timeTravelTo = 2L
  private val pointKeys: Seq[Any] =
    params.getProperty("point_keys").split(",").toSeq.map(k => k.toLong: Any)
  private val Array(rangeLo, rangeHi) = params.getProperty("range").split(",").map(_.toLong)

  private def input(spark: SparkSession, f: String): DataFrame =
    spark.read.parquet(s"$cdcDir/$f.parquet")

  private val batchOps = Set("base", "upsert", "delete", "append")

  override def batchBytes(op: Op): Option[Long] =
    Some(op.name).filter(batchOps).map(f => new java.io.File(s"$cdcDir/$f.parquet").length)

  override def tableDir(r: Int): Option[String] = Some(s"$lakeRoot/r$r/orders")

  /** Range-partitioned writes sample every key, so the file layout of the
    * base commit and the compaction (and with it the task count of each
    * pruned read, which the repeat guard compares) does not depend on the
    * order in which shuffle blocks arrive.
    */
  override def stage(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.execution.rangeExchange.sampleSizePerPartition", "1000000")

  def round(r: Int): Seq[Op] = {
    val dir = tableDir(r).get
    val ingestDir = s"$lakeRoot/r$r/ingest"
    var v = 0L
    def readFull = Op("read_full", "read_full", ctx => {
      val df = ctx.span("build")(SnapshotTable.readAt(ctx.spark, dir, v))
      ctx.consume(df, s"v${v}_full")
    })
    val readPoint = Op("read_point", "read_point", ctx => {
      val df = ctx.span("build")(SnapshotTable.readWhereIn(ctx.spark, dir, v, key, pointKeys))
      ctx.consume(df, s"v${v}_point")
    })
    val readRange = Op("read_range", "read_range", ctx => {
      val df = ctx.span("build")(SnapshotTable.readWhere(ctx.spark, dir, v, key, rangeLo, rangeHi))
      ctx.consume(df, s"v${v}_range")
    })
    val base = Op("base", "commit", ctx => {
      val df = input(ctx.spark, "base").repartitionByRange(baseFiles, col(key))
      v = SnapshotTable.commit(df, dir, expectedVersion = SnapshotTable.ExpectEmpty,
        statsCols = statsCols, bloomCols = bloomCols)
      v
    })
    val upsert = Op("upsert", "upsert", ctx => {
      v = SnapshotTable.commitUpsert(input(ctx.spark, "upsert"), Seq(key), dir,
        expectedVersion = v, statsCols = statsCols, bloomCols = bloomCols)
      v
    })
    val delete = Op("delete", "delete", ctx => {
      v = SnapshotTable.commitDeletes(input(ctx.spark, "delete"), dir, expectedVersion = v)
      v
    })
    val append = Op("append", "append", ctx => {
      v = SnapshotTable.commitAppend(input(ctx.spark, "append"), dir,
        expectedVersion = v, statsCols = statsCols, bloomCols = bloomCols)
      v
    })
    val compact = Op("compact", "compact", ctx => {
      v = SnapshotTable.transact(ctx.spark, dir, statsCols = statsCols,
        bloomCols = bloomCols)(cur => cur.get.repartitionByRange(compactFiles, col(key)))
      v
    })
    val timeTravel = Op("time_travel", "time_travel", ctx => {
      val df = ctx.span("build")(SnapshotTable.readAt(ctx.spark, dir, timeTravelTo))
      ctx.consume(df, s"tt_v$timeTravelTo")
    })
    val expireGc = Op("expire_gc", "expire_gc", _ => {
      val dropped = SnapshotTable.expire(dir, keepLast = 1)
      dropped.size.toLong + SnapshotTable.gcOrphans(dir, olderThanMs = 0L).size
    })
    val ingest = Op("stream_ingest", "ingest", ctx => {
      val stream = ctx.spark.readStream.schema(Streaming.eventsSchema)
        .option("maxFilesPerTrigger", 1).parquet(s"$cdcDir/feed")
      val df = Streaming.foreachBatchUpsertIngest(stream, ingestDir)
      ctx.consume(df, "ingest")
    })
    Seq(base, upsert, delete, append, readFull, compact, readFull,
      readPoint, readRange, timeTravel, expireGc, ingest)
  }
}
