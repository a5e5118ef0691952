package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, V1Scan}
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.SnapshotTable

/** DataSource V2 connector for the snapshot table spine — the lake's
  * read surface as a first-class `format(...)`, the way Delta/Iceberg
  * expose theirs, instead of Scala-API-only:
  *
  * {{{
  * spark.read.format("snapshot").load("lake/orders")            // current
  * spark.read.format("snapshot")
  *   .option("versionAsOf", "3").load("lake/orders")            // pinned version
  * spark.read.format("snapshot")
  *   .option("timestampAsOf", "2026-08-16T12:00:00Z")           // publish-log as-of
  *   .load("lake/orders")
  * spark.read.format("snapshot")
  *   .option("branch", "audit")                                 // branch head,
  *   .option("timestampAsOf", "1755345600000")                  // or branch as-of
  *   .load("lake/orders")
  * }}}
  *
  * The ref/timestamp resolves to ONE concrete version at table-creation
  * time (same publish-log resolution as [[SnapshotTable.versionAsOf]] /
  * [[SnapshotTable.branchVersionAsOf]]), so a query plans against a
  * pinned, immutable version — snapshot isolation for free, commits
  * racing the read never tear it.
  *
  * Chain resolution (MOR deletes, append chains, atomic upserts) is
  * NOT re-implemented here: it IS [[SnapshotTable.readAt]]. Two
  * execution paths deliver it:
  *
  *  1. '''Plan substitution''' (the fast path): the
  *     [[graft.plans.SnapshotRelationRule]] optimizer rule — injected
  *     by [[graft.plans.GraftExtensions]], which every [[graft.Session]]
  *     carries — replaces the V2
  *     relation with `readAt`'s own logical plan (exprIds preserved
  *     through an aliasing Project), so the physical plan is
  *     byte-identical to the Scala-API read: native parquet
  *     `FileScan`s, pushdown, pruning, broadcast MOR anti-joins.
  *  2. '''V1 fallback''' (correct anywhere): without the rule, the
  *     scan is a [[V1Scan]] whose `buildScan` executes the same
  *     `readAt` DataFrame as an `RDD[Row]` — full chain semantics on a
  *     vanilla session, at row-conversion cost (no pushdown through
  *     the scan boundary). The rule is the performance path; the
  *     answer is identical either way (the `snapshot_dsv2_read` gate
  *     pins the substituted read against `readAt`, SnapshotDsv2Spec
  *     the fallback).
  *
  * Options: `versionAsOf` (long) XOR `timestampAsOf` (epoch millis or
  * ISO-8601 instant), optionally scoped by `branch`; no options =
  * current main tip. `versionAsOf` + `branch` is rejected — branch
  * version numbers live in the branch's own history, address them by
  * timestamp.
  */
class SnapshotDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "snapshot"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (dir, version) = SnapshotDataSource.resolve(options)
    SnapshotTable.readAt(SparkSession.active, dir, version).schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val (dir, version) =
      SnapshotDataSource.resolve(new CaseInsensitiveStringMap(properties))
    new SnapshotDsv2Table(dir, version, schema)
  }
}

object SnapshotDataSource {

  /** Epoch millis if the string is all digits, else an ISO-8601
    * instant (`2026-08-16T12:00:00Z`).
    */
  private def parseTs(s: String): Long = {
    val t = s.trim
    if (t.nonEmpty && t.forall(_.isDigit)) t.toLong
    else java.time.Instant.parse(t).toEpochMilli
  }

  /** (table dir, pinned version) from the reader options — the one
    * place the time-travel surface is interpreted.
    */
  private[graft] def resolve(options: CaseInsensitiveStringMap): (String, Long) = {
    val dir = Option(options.get("path")).getOrElse {
      val arr = Option(options.get("paths")).getOrElse(
        throw new IllegalArgumentException("snapshot: no path given to load()"))
      val paths = "\"((?:[^\"\\\\]|\\\\.)*)\"".r
        .findAllMatchIn(arr).map(_.group(1).replace("\\\"", "\"")).toSeq
      require(paths.length == 1,
        s"snapshot: exactly one table dir per load(), got ${paths.length}")
      paths.head
    }
    val vOpt = Option(options.get("versionAsOf")).map(_.trim.toLong)
    val tOpt = Option(options.get("timestampAsOf")).map(parseTs)
    val bOpt = Option(options.get("branch")).map(_.trim).filter(_.nonEmpty)
    require(vOpt.isEmpty || tOpt.isEmpty,
      "snapshot: versionAsOf and timestampAsOf are mutually exclusive")
    require(vOpt.isEmpty || bOpt.isEmpty,
      "snapshot: versionAsOf addresses MAIN history; a branch is " +
        "addressed by its head (branch alone) or timestampAsOf")
    val version = (bOpt, vOpt, tOpt) match {
      case (Some(b), _, Some(ts)) => SnapshotTable.branchVersionAsOf(dir, b, ts)
      case (Some(b), _, None) => SnapshotTable.branchVersion(dir, b).getOrElse(
        throw new IllegalArgumentException(
          s"snapshot: no branch '$b' under $dir " +
            s"(have: ${SnapshotTable.branches(dir).mkString(", ")})"))
      case (None, Some(v), _) =>
        require(SnapshotTable.versions(dir).contains(v),
          s"snapshot: no version $v under $dir " +
            s"(have: ${SnapshotTable.versions(dir).mkString(", ")})")
        v
      case (None, None, Some(ts)) => SnapshotTable.versionAsOf(dir, ts)
      case (None, None, None) => SnapshotTable.currentVersion(dir).getOrElse(
        throw new IllegalArgumentException(
          s"snapshot: no published version under $dir"))
    }
    (dir, version)
  }
}

/** One pinned (dir, version) of a snapshot table. `dir`/`version` are
  * public: [[graft.plans.SnapshotRelationRule]] keys its substitution
  * on them.
  */
class SnapshotDsv2Table(val dir: String, val pinnedVersion: Long,
    tableSchema: StructType) extends Table with SupportsRead {
  override def name(): String = s"snapshot($dir@v$pinnedVersion)"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new SnapshotV1FallbackScan(dir, pinnedVersion, tableSchema)
}

/** The no-rule execution path: hand Spark a V1 `TableScan` whose RDD is
  * the `readAt` DataFrame itself — the full chain resolution (MOR
  * anti-joins, append unions, upsert tombstones) runs as a normal
  * distributed query; only the rows cross the V1 boundary. The
  * substitution rule bypasses this entirely.
  */
private[sources] class SnapshotV1FallbackScan(dir: String, version: Long,
    tableSchema: StructType) extends V1Scan {
  override def readSchema(): StructType = tableSchema
  override def description(): String = s"snapshot-v1-fallback($dir@v$version)"
  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new SnapshotV1Relation(context, dir, version, tableSchema).asInstanceOf[T]
}

private[sources] class SnapshotV1Relation(context: SQLContext, dir: String,
    version: Long, override val schema: StructType)
    extends BaseRelation with TableScan {
  override def sqlContext: SQLContext = context
  override def buildScan(): RDD[Row] =
    SnapshotTable.readAt(context.sparkSession, dir, version).rdd
}
