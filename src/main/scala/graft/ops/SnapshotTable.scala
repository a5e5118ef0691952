package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, max, min, sum}
import org.apache.spark.sql.types.{DataType, StructType}

/** Minimal snapshot/commit protocol for parquet tables — the spine that
  * turns the lake ops ([[graft.queries.LakeOps]] compaction/integrity,
  * zorder_orders, merge_upsert_orders, the streaming upsert's
  * versioned-state pattern in [[graft.streaming.Streaming]]) into an
  * actual table story: atomic overwrite, snapshot-isolated reads, and
  * time travel, with no table-format dependency.
  *
  * Layout (the mini table-format pattern every modern lake format
  * shares — Iceberg/Delta reduce to this plus metadata):
  * {{{
  *   <dir>/v1/ ... v2/ ...   immutable parquet snapshot directories
  *   <dir>/v2/_manifest/     optional per-file column min/max table
  *   <dir>/v2/_bloomtab/     optional per-file column bloom table
  *   <dir>/v3/_base          merge-on-read DELETE commit: no data files,
  *   <dir>/v3/_deletes/      a base-version pointer plus tombstone keys
  *   <dir>/current           pointer file, contents "v<N>"
  * }}}
  *
  * Guarantees:
  *  - '''Atomic commit''': data lands fully in a writer-unique staging
  *    directory, is atomically RENAMED to its `v<N>` name (so a
  *    numbered directory is complete and single-writer by
  *    construction, even under concurrent commits), and only then does
  *    the pointer flip — itself a same-directory atomic rename of a
  *    temp file. A reader sees the old complete snapshot or the new
  *    complete snapshot, never a torn mix. A writer crash leaves only
  *    `.staged-*` junk or an un-pointed version directory, both never
  *    read and skipped (not reused) by the next writer.
  *  - '''Snapshot isolation''': version directories are immutable, so a
  *    reader that resolved `current` keeps a consistent view for the
  *    whole job even while writers commit — exactly the property a
  *    multi-hour 100 TB scan needs under a concurrently-refreshing
  *    table.
  *  - '''Time travel''': [[readAt]] pins any retained version —
  *    reproducible training-data builds point at the version, not at
  *    "whatever the table said that day".
  *  - '''Lost-update detection''': [[commit]] with `expectedVersion`
  *    is a compare-and-swap on the pointer — it fails loudly (leaving
  *    the loser's data as a skipped orphan, never torn state) when
  *    another writer committed since the caller read the table. This is
  *    the optimistic-concurrency core of every lock-service-free table
  *    format (Delta's commit-version check, Iceberg's metadata CAS; on
  *    S3 it becomes a conditional PUT). Unconditional commits remain
  *    last-wins by design — blind overwrite jobs that don't read first
  *    have nothing to lose — but the pointer itself is MONOTONIC: a
  *    slow blind writer that claimed a lower number than the version a
  *    faster writer already published keeps its directory as a
  *    readable orphan and skips the flip, so readers never observe the
  *    table move backwards.
  *  - '''Merge-on-read deletes''': [[commitDeletes]] commits a
  *    tombstone sidecar AGAINST an existing version without rewriting
  *    a byte of data — the deletion-vector pattern that makes a
  *    GDPR-erasure on a 100 TB table a kilobyte write instead of a
  *    table rewrite. [[readAt]] applies the tombstones: a small
  *    single-key set as a `NOT IN` filter in the plan, with its keys
  *    read on the driver; any other set as an anti-join on the
  *    tombstone's key columns. A later [[transact]] that rewrites the
  *    table materializes them away (compaction).
  *  - '''File skipping''': [[commit]] with `statsCols` writes a
  *    per-file column min/max/nullCount table (`_manifest/`,
  *    underscore-prefixed so data readers never see it — the Delta
  *    add-file-stats / Iceberg manifest-metrics pattern), and
  *    [[readWhere]] prunes files whose [min,max] cannot satisfy a
  *    range predicate BEFORE the scan: the biggest single scan win an
  *    unpartitioned predicate read gets at 100 TB.
  *
  * Writer concurrency: the pointer flip itself is serialized through a
  * short-lived `.commit.lock` file (atomic create; held only across the
  * check-and-flip, never across the data write). The lock carries its
  * owner's pid/timestamp, and a lock older than the staleness threshold
  * (`graft.snapshot.staleLockMs`, default 60 s — the flip itself is
  * microseconds, so age is proof of a crashed owner) is RECLAIMED by
  * the next writer; only a FRESH contended lock fails loudly after the
  * acquisition timeout, with removal instructions — the bounded,
  * operator-visible failure mode, as opposed to silent lost updates.
  */
object SnapshotTable {

  /** Root under which queries place their snapshot tables. Env-resolved
    * (`SPARK_GRAFT_LAKE_DIR`) so concurrent harness runs on one host
    * can be isolated and the soak can place tables on a disk with known
    * bandwidth; defaults to `/tmp/graft_lake`. Note the queries that
    * deleteTree-then-recreate their table (lsh_index_refresh,
    * ann_topk_refresh, snapshot_time_travel) assume a SINGLE process
    * per root — two runs sharing a root must set distinct values.
    */
  def lakeRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_LAKE_DIR", "/tmp/graft_lake")

  private def pointer(dir: String) = java.nio.file.Paths.get(dir, "current")

  /** The metadata-I/O profile this table directory runs on — POSIX
    * rename by default, the rename-less object-store protocol when the
    * directory is registered ([[SnapshotFileIO.register]]).
    */
  private def io(dir: String): SnapshotFileIO = SnapshotFileIO.forDir(dir)

  private def tablePath(dir: String) = java.nio.file.Paths.get(dir)

  /** Parse a pointer's content with the shared corruption guard: a
    * pointer whose contents are not exactly `v<digits>` is a loud
    * IllegalStateException carrying the bad contents, never a silent
    * None (which would read as "empty table" and invite a fresh v1
    * write next to live data) and never a bare NumberFormatException.
    */
  private def parsePointer(raw0: String, what: String): Long = {
    val raw = raw0.trim
    if (raw.matches("v\\d+")) raw.drop(1).toLong
    else throw new IllegalStateException(
      s"corrupt $what: expected v<N>, got '$raw'")
  }

  /** The committed version, if any commit has happened. */
  def currentVersion(dir: String): Option[Long] =
    io(dir).readPointer(tablePath(dir), "current")
      .map(parsePointer(_, s"snapshot pointer ${pointer(dir)}"))

  /** All COMPLETE snapshot versions present on disk (committed or
    * orphaned), ascending — a version a crashed writer half-published
    * never appears (on the POSIX profile completeness is rename
    * atomicity; on the object-store profile it is the seal marker).
    * Retention policy is the caller's: delete old `v*` directories
    * freely, never the one `current` names.
    */
  def versions(dir: String): Seq[Long] =
    io(dir).listVersions(tablePath(dir))

  /** Commit `df` as the next snapshot: write the data fully into a
    * writer-unique staging directory, CLAIM the next version number by
    * atomically renaming it to `v<N>` (the filesystem arbitrates
    * concurrent claims — see the inline note), then flip the pointer
    * atomically. Returns the committed version. N skips past any
    * orphan directory from a crashed writer (max on disk + 1, not
    * pointer + 1) so an orphan is never silently overwritten while a
    * historical reader might still list it.
    *
    * `expectedVersion` makes the commit CONDITIONAL (optimistic CAS):
    * pass `Some(v)` where `v` came from the [[currentVersion]] read
    * this read-modify-write is based on ([[ExpectEmpty]] for "no
    * snapshot yet" — real numbering starts at 1), or omit the argument
    * for a last-wins blind overwrite. When the pointer at flip time
    * does not name the expected version, the commit throws
    * ConcurrentModificationException and the written `v<N>` directory
    * remains as a skipped orphan — the caller re-reads and retries its
    * whole read-modify-write, exactly like any table format's
    * conflict-retry loop. The expensive data write happens OUTSIDE the
    * lock; only the pointer check-and-flip is serialized.
    *
    * `partitionCols` (optional) hive-partitions the snapshot data by
    * those columns — provenance/pruning layouts keep working through
    * the spine.
    *
    * `statsCols` (optional) gathers per-file min/max/nullCount for the
    * named columns into the version's `_manifest/` table — the
    * file-skipping manifest [[readWhere]] prunes with. The stats, like
    * the `bloomCols` filters, are gathered by the data write itself
    * ([[SidecarParquetFormat]]: each file's writer keeps them while it
    * writes, as Delta's and Iceberg's writers keep their file metrics),
    * so they cost no scan and no Spark job of their own; a hive
    * partition column takes its per-file value from the partition
    * directory. The table is one row per (file, column): driver-
    * bounded the way a Delta log / Iceberg manifest is.
    */
  def commit(df: DataFrame, dir: String,
      expectedVersion: Option[Long] = None,
      partitionCols: Seq[String] = Nil,
      statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      bloomExpectedItems: Long = DefaultBloomExpectedItems,
      meta: Map[String, String] = Map.empty): Long = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    // fast-fail BEFORE the expensive write when the table has already
    // moved — the conflict is certain, no need to burn the I/O
    checkExpected(dir, expectedVersion, detail = "")
    val (staged, _) = stageData(df, dir, partitionCols, statsCols, bloomCols,
      bloomExpectedItems, meta)
    publishStaged(dir, staged, expectedVersion)
  }

  // -------------------------------------------------- commit metadata

  /** Write caller metadata into the staging directory as
    * `_meta.properties` (URL-encoded k=v lines) — the Iceberg
    * snapshot-summary / Delta commitInfo pattern: facts about the
    * commit (a streaming epoch, a job id) ride INSIDE the version
    * directory, covered by the same atomic claim-rename as the data,
    * which is what makes them usable for exactly-once decisions (a
    * marker outside the directory could tear against the publish).
    */
  private def writeMeta(staged: java.nio.file.Path,
      meta: Map[String, String]): Unit =
    if (meta.nonEmpty) {
      val enc = (s: String) =>
        java.net.URLEncoder.encode(s, java.nio.charset.StandardCharsets.UTF_8)
      java.nio.file.Files.writeString(staged.resolve("_meta.properties"),
        meta.toSeq.sortBy(_._1)
          .map { case (k, v) => s"${enc(k)}=${enc(v)}" }
          .mkString("", "\n", "\n"))
    }

  /** A version's commit metadata (empty when the commit carried none). */
  def readMeta(dir: String, version: Long): Map[String, String] = {
    val p = java.nio.file.Paths.get(dir, s"v$version", "_meta.properties")
    if (!java.nio.file.Files.exists(p)) Map.empty
    else java.nio.file.Files.readAllLines(p).toArray(Array.empty[String])
      .toSeq.filter(_.nonEmpty).map { line =>
        val i = line.indexOf('=')
        require(i > 0, s"corrupt _meta.properties line in $p: '$line'")
        val dec = (s: String) =>
          java.net.URLDecoder.decode(s, java.nio.charset.StandardCharsets.UTF_8)
        dec(line.substring(0, i)) -> dec(line.substring(i + 1))
      }.toMap
  }

  /** The commit chain from `version` down through `_append`/`_base`
    * pointers, tip first — the versions a read of `version` observes.
    * What exactly-once ingest dedup must scan: a CAS-loser orphan
    * NEVER appears here, so a crash between claim-rename and pointer
    * flip re-delivers (at-least-once) instead of silently dropping
    * the batch (a naive versions(dir) scan would see the orphan's
    * epoch marker and skip it — lost data).
    */
  def chainOf(dir: String, version: Long): Seq[Long] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var v = Option(version)
    while (v.isDefined) {
      out += v.get
      v = baseOf(dir, v.get).orElse(appendBaseOf(dir, v.get))
    }
    out.toSeq
  }

  private def stagedPath(dir: String) = java.nio.file.Paths.get(dir,
    s".staged-${java.util.UUID.randomUUID().toString.take(12)}")

  /** The deliberate failure [[commitUpsert]]'s `crashBeforePublish`
    * raises — thrown with every upsert artifact staged but NOTHING
    * published, the exact window that used to sit between the legacy
    * two-commit merge's delete and append steps. The
    * `snapshot_mor_upsert_atomic` gate injects it to prove no reader
    * can ever observe a deletes-applied/batch-missing state.
    */
  final class InjectedCrash(msg: String) extends RuntimeException(msg)

  /** The column names a chain read of `version` exposes, WITHOUT
    * resolving the chain: from the version's `_names` sidecar when
    * present (written by every commit flavor — schema-in-metadata, the
    * move every real format makes: Delta's log schema, Iceberg's
    * table metadata), falling back to the legacy full chain-read
    * inference for pre-sidecar versions. The difference is what keeps
    * a commit O(1) against chain depth: the commit-time schema checks
    * used to plan a readAt over EVERY generation (listing + footer per
    * generation, measured 2.6 s at depth 33 — quadratic over a
    * streaming table's life); the sidecar is one tiny file read.
    */
  def chainFieldNames(spark: SparkSession, dir: String,
      version: Long): Seq[String] = {
    val p = java.nio.file.Paths.get(dir, s"v$version", "_names")
    if (java.nio.file.Files.exists(p)) {
      val dec = (s: String) =>
        java.net.URLDecoder.decode(s, java.nio.charset.StandardCharsets.UTF_8)
      java.nio.file.Files.readAllLines(p).toArray(Array.empty[String])
        .toSeq.filter(_.nonEmpty).map(dec)
    } else readAt(spark, dir, version).schema.fieldNames.toSeq
  }

  /** Stage the `_names` sidecar: the chain-read column set this
    * version will expose, URL-encoded one name per line.
    */
  private def writeNames(staged: java.nio.file.Path,
      names: Seq[String]): Unit = {
    val enc = (s: String) =>
      java.net.URLEncoder.encode(s, java.nio.charset.StandardCharsets.UTF_8)
    java.nio.file.Files.writeString(staged.resolve("_names"),
      names.map(enc).mkString("", "\n", "\n"))
  }

  /** Stage `df`'s data plus every requested sidecar (stats, blooms,
    * commit metadata) into a fresh writer-unique directory — the
    * shared write half of every commit flavor (main, branch, append,
    * rebase, upsert, compaction); the claim half is [[claimVersion]].
    * The data goes through [[SidecarParquetFormat]], whose writers
    * gather the stats and blooms while they write, so the sidecars cost
    * no Spark job; the column gates fire before the write. `keyCols`
    * has the same writers write those columns of every row to
    * `_deletes/` (an upsert's tombstones). Returns the staged directory
    * and the number of rows written.
    */
  private def stageData(df: DataFrame, dir: String,
      partitionCols: Seq[String], statsCols: Seq[String],
      bloomCols: Seq[String], bloomExpectedItems: Long,
      meta: Map[String, String],
      keyCols: Seq[String] = Nil): (java.nio.file.Path, Long) = {
    checkSidecarCols(df, statsCols, bloomCols, bloomExpectedItems)
    val staged = stagedPath(dir)
    val w = df.write.mode("errorifexists")
    val written = SidecarParquetFormat.write(df.sparkSession,
      if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w,
      staged.toString, statsCols, bloomCols, bloomExpectedItems,
      keyCols.map(df.schema(_)))
    // the writers must account for exactly the files the job committed:
    // a file they missed would be a data file without sidecar lines
    val reported = written.map(_.file).sorted
    val onDisk = visibleFiles(staged).map(staged.relativize(_).toString).sorted
    if (reported != onDisk)
      throw new IllegalStateException(
        s"staged write at $staged: the writers reported " +
          s"${reported.mkString("[", ", ", "]")} but the directory holds " +
          s"${onDisk.mkString("[", ", ", "]")}; nothing was claimed")
    writeSidecars(df.sparkSession, staged, written, df.schema, statsCols,
      bloomCols, bloomExpectedItems)
    writeMeta(staged, meta)
    // schema-in-metadata: a full commit exposes its own columns (the
    // chain-extending flavors overwrite this with the merged set)
    writeNames(staged, df.columns.toSeq)
    (staged, written.map(_.rows).sum)
  }

  /** Claim a version number for a fully-written staging directory and
    * flip the pointer. Stage-then-rename version allocation: writing
    * straight to v<max+1> is a RACE — two writers can both list the
    * same max, both pass Spark's errorifexists pre-check, and their
    * part files silently MERGE inside one version directory (observed
    * in the two-writer spec: a 30-row and a 40-row commit producing a
    * 70-row snapshot). Instead the data lands fully in a writer-unique
    * .staged-* directory, and the claim on a version NUMBER is an
    * atomic directory rename — the filesystem arbitrates: the loser's
    * rename fails on the non-empty target and retries the next number.
    * A numbered directory is therefore always COMPLETE and
    * single-writer; a crashed writer leaves only .staged-* junk or an
    * un-pointed (skipped) version, never a mergeable target.
    */
  private def publishStaged(dir: String, staged: java.nio.file.Path,
      expectedVersion: Option[Long]): Long = {
    val next = claimVersion(dir, staged)
    flipPointer(dir, next, expectedVersion)
    next
  }

  /** The claim loop shared by main commits and branch commits: claim
    * the next free `v<N>` name for the staged directory and return N.
    * Arbitration is the profile's ([[SnapshotFileIO.claimDir]]): POSIX
    * atomic rename by default, claim-marker conditional PUT + copy +
    * seal on the rename-less object-store profile. The starting
    * number comes from `maxClaimed`, not `versions` — on a store
    * where data movement is non-atomic, an IN-FLIGHT claim holds its
    * number before its data is visible, and a writer that only looked
    * at complete versions would collide with it.
    */
  private def claimVersion(dir: String, staged: java.nio.file.Path): Long = {
    // the log's creation marker must exist BEFORE this claim lands on
    // disk, so the pre-log floor never shields post-log versions
    ensureLog(dir)
    val fio = io(dir)
    var next = fio.maxClaimed(tablePath(dir)) + 1
    var claimed = false
    while (!claimed) {
      val target = java.nio.file.Paths.get(dir, s"v$next")
      if (fio.claimDir(staged, target)) claimed = true else next += 1
    }
    next
  }

  /** The locked pointer check-and-flip. Returns false when the flip was
    * SKIPPED for monotonicity: a slow unconditional writer that claimed
    * v5 while a faster one already published v6 must not flip the
    * pointer BACKWARDS (readers would observe v6 then v5 — version
    * order every table format preserves even for blind writers). Its
    * v5 stays a complete, time-travel-readable orphan.
    */
  private[graft] def flipPointer(dir: String, next: Long,
      expectedVersion: Option[Long] = None): Boolean =
    withPointerLock(dir) {
      // v<next> would stay behind as an orphan on conflict — immutable,
      // never read, skipped by the next writer; torn state impossible
      checkExpected(dir, expectedVersion,
        detail = s" (v$next left as an orphan; re-read and retry)")
      if (currentVersion(dir).exists(_ >= next)) false
      else {
        // log BEFORE the flip: a crash between the two must err toward
        // a spurious line (a readable, complete version recorded as
        // published though the flip never landed — conservative: GC
        // keeps it, as-of may resolve it) rather than a missing one
        // (a version readers SAW with no provenance — a later GC would
        // destroy published history)
        logPublish(dir, next, "current")
        io(dir).publishPointer(tablePath(dir), "current", s"v$next")
        true
      }
    }

  // ------------------------------------------------------- publish log

  /** Append-only record of every version a ref (main pointer or branch)
    * has EVER named — the table's transaction log, the provenance that
    * lets [[gcOrphans]] tell real history (an old version a reader may
    * still time-travel to) from CAS-loser debris (a claimed version no
    * ref ever pointed at). One line per publish, `v<N>\t<refname>`
    * (`current` for the main pointer), written under the pointer lock
    * so lines never tear; duplicates are fine (the reader folds to a
    * map). The hot-path cost is one appended line per commit — the
    * same order as any format's log write.
    */
  private def publishLog(dir: String) =
    java.nio.file.Paths.get(dir, "publishes.log")

  /** The reserved ref of the log's CREATION MARKER: the first line of a
    * fresh publish log records `v<max-version-on-disk-at-creation>`, so
    * the pre-log floor [[gcOrphans]] must respect is EXPLICIT instead of
    * inferred from the minimum published version (the inference
    * permanently shielded any CAS loser claimed at or below the first
    * logged publish — e.g. two writers racing on an empty table left the
    * loser's v1 unreclaimable forever). Written by the first claim under
    * a dir ([[claimVersion]] calls [[ensureLog]] BEFORE the claim-rename
    * lands), so on a brand-new table the floor is v0 — nothing shielded
    * — and on a legacy pre-log table it is exactly the pre-log history.
    */
  val LogCreatedRef: String = "_log_created"

  private def ensureLog(dir: String): Unit = {
    val p = publishLog(dir)
    if (!io(dir).logExists(p)) {
      val floor = (versions(dir) :+ 0L).max
      // conditional create: exactly ONE creation marker can ever be
      // written — two racing first-committers race on the atomic
      // create itself, and the loser is the success path (the winner's
      // marker carries an equivalent floor). The earlier CREATE+APPEND
      // form let both racers append a marker, leaving the GC floor to
      // depend on append ordering — a property weakly-consistent
      // filesystems don't guarantee.
      io(dir).logCreateNew(p,
        s"v$floor\t$LogCreatedRef\t${System.currentTimeMillis()}")
    }
  }

  private def logPublish(dir: String, version: Long, ref: String): Unit =
    io(dir).logAppend(publishLog(dir),
      s"v$version\t$ref\t${System.currentTimeMillis()}")

  /** The raw publish history: (version, ref, epoch-ms) per event, in
    * log order. Corrupt lines are a loud error, like the pointer's own
    * parse.
    */
  def publishEvents(dir: String): Seq[(Long, String, Long)] = {
    val p = publishLog(dir)
    io(dir).logRead(p).map { line =>
        val f = line.split("\t", -1)
        if (f.length == 3 && f(0).matches("v\\d+") && f(1).nonEmpty &&
            f(2).matches("\\d+"))
          (f(0).drop(1).toLong, f(1), f(2).toLong)
        else throw new IllegalStateException(
          s"corrupt publishes.log line in $p: '$line'")
      }
  }

  /** version → the refs that have EVER named it (empty for a table
    * that predates the log — [[gcOrphans]] then removes nothing, the
    * conservative reading). The creation marker is bookkeeping, not a
    * publish — excluded here.
    */
  def publishedRefs(dir: String): Map[Long, Set[String]] =
    publishEvents(dir).filter(_._2 != LogCreatedRef)
      .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap

  /** The pre-log floor: versions at or below it predate the publish log
    * (or were in flight when it was created) and carry no provenance —
    * [[gcOrphans]] keeps them all. Explicit from the creation marker
    * when present; inferred from the minimum published version on
    * legacy logs written before the marker existed.
    */
  private def preLogFloor(dir: String, pubs: Map[Long, Set[String]]): Long =
    publishEvents(dir).collectFirst { case (v, LogCreatedRef, _) => v }
      .getOrElse(pubs.keySet.min)

  /** Every version any ref has ever published. */
  def publishedVersions(dir: String): Set[Long] = publishedRefs(dir).keySet

  /** Time travel BY TIMESTAMP (Delta's `TIMESTAMP AS OF`): the version
    * MAIN showed at `tsMs` — the newest `current` publish at or before
    * that instant (the pointer is monotonic, so "latest event ≤ ts"
    * and "max version ≤ ts" coincide). Branch publishes don't count:
    * a reader asking "the table as of Tuesday" means the table its
    * production readers saw, not a WAP candidate. Loud when the table
    * had no publish yet at `tsMs` and on pre-log tables (no
    * provenance, no timestamp travel — pin a version instead).
    *
    * Crash-window reconciliation: the flip logs BEFORE it moves the
    * pointer (the conservative direction — see [[flipPointer]]), so a
    * writer that died between the two leaves a TRAILING logged version
    * the pointer never reached. Any logged version above the live
    * pointer is therefore unreachable-or-in-flight and is ignored here
    * — as-of never resolves a version no main reader could have seen
    * through the pointer's own monotonic history. The one residual
    * caveat (documented, not detectable from the log alone): a version
    * logged mid-crash and later OVERTAKEN by a higher publish stays in
    * the log and resolves for timestamps inside that crash window;
    * that read is still a complete committed snapshot, just one the
    * pointer skipped.
    */
  def versionAsOf(dir: String, tsMs: Long): Long = {
    val live = currentVersion(dir)
    val evs = publishEvents(dir).filter(e =>
      e._2 == "current" && e._3 <= tsMs && live.exists(e._1 <= _))
    require(evs.nonEmpty,
      s"no main publish at or before ts=$tsMs on $dir — the table did " +
        "not exist yet, or predates the publish log (use readAt)")
    evs.map(_._1).max
  }

  /** [[versionAsOf]] for a BRANCH: the version the branch ref showed at
    * `tsMs` — the audit-trail read "what was the WAP candidate when the
    * Tuesday audit ran". Same publish-log provenance, same trailing
    * crash-window reconciliation against the branch's live pointer,
    * same loud error when the branch had no publish yet at `tsMs`.
    */
  def branchVersionAsOf(dir: String, name: String, tsMs: Long): Long = {
    refPtr(dir, name) // validate the name (and reserve 'current') first
    val live = branchVersion(dir, name)
    val evs = publishEvents(dir).filter(e =>
      e._2 == name && e._3 <= tsMs && live.exists(e._1 <= _))
    require(evs.nonEmpty,
      s"no publish to branch '$name' at or before ts=$tsMs on $dir — " +
        "the branch did not exist yet, or predates the publish log")
    evs.map(_._1).max
  }

  /** [[readAt]] of [[branchVersionAsOf]] — branch-level time travel. */
  def readBranchAsOf(spark: SparkSession, dir: String, name: String,
      tsMs: Long): DataFrame =
    readAt(spark, dir, branchVersionAsOf(dir, name, tsMs))

  /** The publish log AS A TABLE — the lake's own audit trail surfaced
    * to SQL the way [[manifest]] surfaces file stats: one row per
    * publish event `(version, ref, ts_ms)`, read DISTRIBUTED straight
    * off the TSV (FAILFAST, so a corrupt line is as loud here as in
    * [[publishEvents]]'s driver parse), never a driver loop — a
    * long-lived ingest table's log is one line per commit, and
    * provenance questions ("who published v N", "how many publishes
    * per day", "which versions only ever lived on a branch") become
    * plain DataFrame queries. Includes the [[LogCreatedRef]] marker
    * line; filter on `ref` for publishes only. Loud on a table with no
    * log (no provenance to query).
    */
  def publishesTable(spark: SparkSession, dir: String): DataFrame = {
    require(io(dir).logExists(publishLog(dir)),
      s"no publish log under $dir — the table predates the log or has " +
        "never committed")
    // the log is metadata-scale (one line per publish) and
    // [[publishEvents]] already carries the loud corrupt-line parse,
    // so build the frame from the profile-aware read — spark.read.csv
    // on the raw path would miss the object-store profile's
    // entry-per-object layout
    import spark.implicits._
    publishEvents(dir).toDF("version", "ref", "ts_ms")
  }

  /** [[readAt]] of [[versionAsOf]] — reproducible "the table as the
    * pipeline saw it that day" reads without bookkeeping version
    * numbers, as long as retention keeps the version.
    */
  def readAsOf(spark: SparkSession, dir: String, tsMs: Long): DataFrame =
    readAt(spark, dir, versionAsOf(dir, tsMs))

  /** The CAS predicate: the table must sit exactly at `expected`
    * ([[ExpectEmpty]] = no pointer yet). Violation throws
    * ConcurrentModificationException — the standard conflict-retry
    * signal.
    */
  private def checkExpected(dir: String, expected: Option[Long],
      detail: String): Unit =
    expected.foreach { exp =>
      val cur = currentVersion(dir)
      if (!cur.contains(exp) && !(exp == 0L && cur.isEmpty))
        throw new java.util.ConcurrentModificationException(
          s"conditional commit on $dir: expected v$exp, table is at " +
            s"${cur.map("v" + _).getOrElse("<uncommitted>")}$detail")
    }

  /** Version-0 convenience for conditional FIRST commits: expected
    * "no snapshot yet". Encoded as expectedVersion = Some(0) in
    * [[commit]] (v0 can never be a real version — numbering starts
    * at 1).
    */
  val ExpectEmpty: Option[Long] = Some(0L)

  /** Optimistic single-table TRANSACTION: read the current snapshot,
    * apply `mutate`, commit conditionally on the version that was
    * read; on conflict, re-read and re-apply — the standard
    * conflict-retry loop every optimistic table format wraps around
    * its CAS (Delta's commitWithRetries, Iceberg's Tasks.retry). This
    * is what upgrades lost-update DETECTION into lost-update
    * PREVENTION: N concurrent transactors each re-derive their change
    * from the state that actually won, so every update lands exactly
    * once (the two-writer increment spec pins it). `mutate` receives
    * None on an uncommitted table and MUST be a pure function of its
    * input — it re-executes on retry. Returns the committed version.
    * Exhausting `maxRetries` under sustained contention fails loudly
    * with the last conflict attached.
    *
    * Because `mutate` reads through the tombstone-aware [[readAt]], a
    * plain identity transact (`cur => cur.get`) over a table with
    * merge-on-read deletes is COMPACTION: it materializes the deletes
    * into a full rewrite and the new version carries no `_base` chain.
    *
    * The layout params (`partitionCols`/`statsCols`/`bloomCols`) pass
    * through to the conditional [[commit]], so a transact can also be
    * an OPTIMIZE: an identity mutate plus `repartitionByRange` and
    * `statsCols` rewrites an ingest-ordered table into a skip-friendly
    * clustered layout in one CAS-protected step (the
    * `snapshot_optimize_cluster` gate).
    */
  def transact(spark: SparkSession, dir: String, maxRetries: Int = 10,
      partitionCols: Seq[String] = Nil, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil)(
      mutate: Option[DataFrame] => DataFrame): Long = {
    var attempt = 0
    var lastConflict: Throwable = null
    while (attempt <= maxRetries) {
      val base = currentVersion(dir)
      val next = mutate(base.map(v => readAt(spark, dir, v)))
      try return commit(next, dir, expectedVersion = Some(base.getOrElse(0L)),
        partitionCols = partitionCols, statsCols = statsCols,
        bloomCols = bloomCols)
      catch {
        case e: java.util.ConcurrentModificationException =>
          lastConflict = e
          attempt += 1
      }
    }
    throw new IllegalStateException(
      s"transact on $dir: still conflicting after $maxRetries retries",
      lastConflict)
  }

  // ------------------------------------------------------- branch refs

  /** Branch-name discipline: filesystem-safe, never the reserved main
    * pointer's name. A ref is a pointer file `ref.<name>` beside
    * `current`, flipped under the same table lock with the same
    * CAS/monotonicity contract — the Iceberg refs / Delta branch
    * pattern reduced to its essentials.
    */
  private def refPtr(dir: String, name: String) = {
    require(name.matches("[A-Za-z0-9_-]{1,64}") && name != "current",
      s"branch name must be [A-Za-z0-9_-]{1,64} and not 'current': '$name'")
    java.nio.file.Paths.get(dir, s"ref.$name")
  }

  /** The version branch `name` points at, if the branch exists. Same
    * loud corruption guard as [[currentVersion]].
    */
  def branchVersion(dir: String, name: String): Option[Long] = {
    val p = refPtr(dir, name) // validates the name
    io(dir).readPointer(tablePath(dir), s"ref.$name")
      .map(parsePointer(_, s"branch pointer $p"))
  }

  /** All branch names with a live ref under `dir`. */
  def branches(dir: String): Seq[String] =
    io(dir).listPointers(tablePath(dir))
      .filter(_.startsWith("ref.")).map(_.stripPrefix("ref.")).sorted

  /** The branch-pointer CAS predicate, mirroring [[checkExpected]]:
    * the branch must sit exactly at `expected` ([[ExpectEmpty]] = no
    * such branch yet).
    */
  private def checkExpectedRef(dir: String, name: String,
      expected: Option[Long], detail: String): Unit =
    expected.foreach { exp =>
      val cur = branchVersion(dir, name)
      if (!cur.contains(exp) && !(exp == 0L && cur.isEmpty))
        throw new java.util.ConcurrentModificationException(
          s"conditional commit on $dir branch '$name': expected v$exp, " +
            s"branch is at ${cur.map("v" + _).getOrElse("<absent>")}$detail")
    }

  /** Commit `df` as a new version published to BRANCH `name` instead
    * of main — the write half of write-audit-publish (WAP): the data
    * lands as a full first-class version (same staging, claim-rename,
    * sidecars and immutability as [[commit]]), but only the branch ref
    * flips, so main readers never see it until [[publishBranch]].
    * `expectedBranchVersion` is the branch's own CAS ([[ExpectEmpty]]
    * for a new branch); the branch pointer is monotonic like main's.
    * Returns the committed version.
    */
  def commitToBranch(df: DataFrame, dir: String, name: String,
      expectedBranchVersion: Option[Long] = None,
      partitionCols: Seq[String] = Nil,
      statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      bloomExpectedItems: Long = DefaultBloomExpectedItems,
      meta: Map[String, String] = Map.empty): Long = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    refPtr(dir, name) // validate the name before any I/O
    checkExpectedRef(dir, name, expectedBranchVersion, detail = "")
    val (staged, _) = stageData(df, dir, partitionCols, statsCols, bloomCols,
      bloomExpectedItems, meta)
    // claim a version number exactly like a main commit (one shared
    // number space — a branch version IS a version), then flip only
    // the branch ref
    val next = claimVersion(dir, staged)
    withPointerLock(dir) {
      checkExpectedRef(dir, name, expectedBranchVersion,
        detail = s" (v$next left as an orphan; re-read and retry)")
      if (!branchVersion(dir, name).exists(_ >= next)) {
        // log-before-flip, same crash-asymmetry reasoning as flipPointer
        logPublish(dir, next, name)
        io(dir).publishPointer(tablePath(dir), s"ref.$name", s"v$next")
      }
    }
    next
  }

  /** The publish half of WAP: fast-forward MAIN to branch `name`'s
    * head — METADATA-ONLY (one pointer flip under the table lock; not
    * a byte of data moves, which is the entire point: the audited
    * candidate becomes live atomically, however many terabytes it
    * holds). `expectedVersion` is the usual main-pointer CAS; a
    * publish is always a read-audit-publish, so passing the main
    * version the audit ran against is how a racing writer fails this
    * loudly instead of being silently overwritten. Fast-forward ONLY:
    * publishing a branch whose head is not ahead of main throws
    * (stale branch — re-branch from current and re-audit), never a
    * silent skip, because the caller was promised their audited data
    * went live. Returns the published version.
    */
  def publishBranch(dir: String, name: String,
      expectedVersion: Option[Long] = None): Long = {
    val head = branchVersion(dir, name).getOrElse(
      throw new IllegalStateException(
        s"publishBranch: no branch '$name' under $dir"))
    withPointerLock(dir) {
      checkExpected(dir, expectedVersion, detail =
        s" (branch '$name' untouched; re-read, re-audit and retry)")
      val cur = currentVersion(dir)
      require(cur.forall(_ < head),
        s"publishBranch: fast-forward only — main is at " +
          s"${cur.map("v" + _).getOrElse("<uncommitted>")}, branch " +
          s"'$name' head v$head is not ahead; re-branch and re-audit")
      // log-before-flip, same crash-asymmetry reasoning as flipPointer
      logPublish(dir, head, "current")
      io(dir).publishPointer(tablePath(dir), "current", s"v$head")
    }
    head
  }

  /** Delete branch `name`'s ref file (the versions it published stay
    * on disk — [[gcOrphans]] reclaims the never-published ones, and
    * [[expire]] ages out the rest). Loud on a missing branch: dropping
    * a branch that does not exist is a caller bug, not a no-op.
    */
  def dropBranch(dir: String, name: String): Unit = {
    refPtr(dir, name) // validate the name
    if (!io(dir).dropPointer(tablePath(dir), s"ref.$name"))
      throw new IllegalStateException(s"dropBranch: no branch '$name' under $dir")
  }

  // ------------------------------------------------ merge-on-read deletes

  private def basePtr(dir: String, version: Long) =
    java.nio.file.Paths.get(dir, s"v$version", "_base")

  private def appendPtr(dir: String, version: Long) =
    java.nio.file.Paths.get(dir, s"v$version", "_append")

  /** The base version an APPEND commit extends, if `version` is one
    * (full-rewrite data commits and delete commits have no `_append`).
    */
  def appendBaseOf(dir: String, version: Long): Option[Long] = {
    val p = appendPtr(dir, version)
    if (!java.nio.file.Files.exists(p)) None
    else {
      val raw = java.nio.file.Files.readString(p).trim
      if (raw.matches("v\\d+")) Some(raw.drop(1).toLong)
      else throw new IllegalStateException(
        s"corrupt append pointer $p: expected v<N>, got '$raw'")
    }
  }

  /** APPEND commit: publish a new version whose content is the base
    * version PLUS `delta`, writing ONLY the delta's files — the
    * delta-generation pattern (Iceberg's append snapshot, Delta's
    * add-only commit): a 100 TB table takes an ingest batch at the
    * cost of the BATCH, never a rewrite. The version directory holds
    * the delta's parquet plus an `_append` pointer to the base;
    * [[readAt]] resolves the chain as base ∪ delta (by NAME — the
    * schema_drift_union discipline), and a full-rewrite [[transact]]
    * is compaction for append chains exactly as it is for delete
    * chains.
    *
    * `expectedVersion` is MANDATORY: an append extends the state the
    * caller inspected, and losing the race to a compaction or an
    * erasure must conflict loudly, not resurrect or double rows.
    *
    * Each GENERATION carries its own layout: `partitionCols` here
    * partitions only the delta's files, independent of how the base
    * generation was laid out — partition-spec EVOLUTION (the Iceberg
    * spec-evolution story): a reader's predicate prunes each
    * generation by that generation's own directories
    * (`snapshot_partition_evolve` pins it). Likewise `statsCols` /
    * `bloomCols` sidecar only the delta's files; the base keeps its
    * own sidecars, so skipping composes per generation. Note the
    * skipping READS ([[readWhere]]/[[readWhereIn]]/[[manifest]])
    * target single-generation versions and refuse an append version
    * loudly — prune each generation against its own manifest, then
    * union (what the gate does); a silent cross-generation answer
    * from one generation's sidecar would be wrong.
    *
    * The delta must carry exactly the base read's column set (checked
    * loudly). Hive-partition type round-trip is the caller's care as
    * with [[commit]]: a partition column read back from directory
    * names gets the inferred type, so cast before the write.
    */
  def commitAppend(delta: DataFrame, dir: String, expectedVersion: Long,
      partitionCols: Seq[String] = Nil, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      bloomExpectedItems: Long = DefaultBloomExpectedItems,
      meta: Map[String, String] = Map.empty,
      allowSchemaEvolution: Boolean = false): Long = {
    require(expectedVersion >= 1,
      s"commitAppend needs a committed base version, got v$expectedVersion")
    // name check from the _names sidecar, NOT a chain-read plan: the
    // commit must stay O(1) against chain depth (a 10^3-commit ingest
    // table would otherwise pay a per-batch cost that grows with age)
    val baseNames = chainFieldNames(delta.sparkSession, dir, expectedVersion)
    val baseCols = baseNames.toSet
    val deltaCols = delta.columns.toSet
    // schema EVOLUTION mid-chain is opt-in (Delta's mergeSchema): an
    // accidental column drift must stay a loud commit-time error, but
    // a deliberate widening (the ingest feed grew a column) appends
    // with its own schema — the chain read resolves by NAME and
    // presents each generation's missing columns as NULL. A SHARED
    // core must remain (a disjoint delta is a different table, not an
    // evolution), checked either way.
    require(deltaCols.intersect(baseCols).nonEmpty,
      s"append delta shares no columns with the base read of $dir " +
        s"v$expectedVersion — not an evolution, a different table")
    require(allowSchemaEvolution || deltaCols == baseCols,
      s"append delta schema must match the base read: delta has " +
        s"${(deltaCols -- baseCols).mkString(", ")} extra / " +
        s"${(baseCols -- deltaCols).mkString(", ")} missing vs $dir " +
        s"v$expectedVersion (pass allowSchemaEvolution = true for a " +
        "deliberate widening)")
    checkExpected(dir, Some(expectedVersion), detail = "")
    val (staged, _) = stageData(delta, dir, partitionCols, statsCols, bloomCols,
      bloomExpectedItems, meta)
    // fold the ancestors' manifests forward so chain reads stay O(1)
    // at any depth (no-op on stats-less commits/ancestry)
    if (statsCols.nonEmpty)
      writeChainManifestFold(staged, dir, expectedVersion)
    // the chain read exposes base ∪ delta names (an evolved delta's
    // new columns append; order: base first, the unionByName shape)
    writeNames(staged, baseNames ++ delta.columns.filterNot(baseCols))
    // chain marker LAST, once the data and its sidecars are staged
    java.nio.file.Files.writeString(staged.resolve("_append"),
      s"v$expectedVersion")
    publishStaged(dir, staged, Some(expectedVersion))
  }

  /** REBASE commit — the primitive under incremental OPTIMIZE: publish
    * a new version whose `_append` pointer names `baseVersion` (an
    * append-ancestor of the current tip) instead of the tip itself,
    * with `delta` REPLACING every generation between them. The caller
    * asserts (and [[optimizeDeltas]] guarantees) that `delta` holds
    * exactly those generations' rows, re-shaped; the commit CAS-es on
    * `expectedVersion` (the tip whose deltas are being folded), so a
    * racing ingest conflicts loudly and retries on top of the new
    * shape. The rebase window must be APPEND-ONLY: a merge-on-read
    * delete commit between base and tip carries tombstones that apply
    * to the BASE's rows too, and folding it away would resurrect them
    * — that case is full compaction's job ([[transact]]), checked
    * loudly here.
    */
  def commitRebase(delta: DataFrame, dir: String, expectedVersion: Long,
      baseVersion: Long, partitionCols: Seq[String] = Nil,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      bloomExpectedItems: Long = DefaultBloomExpectedItems,
      meta: Map[String, String] = Map.empty,
      allowSchemaEvolution: Boolean = false): Long = {
    require(baseVersion >= 1 && expectedVersion > baseVersion,
      s"commitRebase folds deltas ABOVE a base: base v$baseVersion, " +
        s"tip v$expectedVersion")
    var v = expectedVersion
    while (v != baseVersion) {
      require(baseOf(dir, v).isEmpty,
        s"commitRebase: v$v in the rebase window of $dir is a merge-on-" +
          "read delete commit — its tombstones apply to the base too; " +
          "run a full compaction (transact) instead")
      require(!isUpsert(dir, v),
        s"commitRebase: v$v in the rebase window of $dir is an upsert " +
          "commit — folding it away would resurrect the base rows its " +
          "tombstones replaced; run a full compaction (transact) instead")
      v = appendBaseOf(dir, v).getOrElse(throw new IllegalArgumentException(
        s"v$baseVersion is not an append-ancestor of v$expectedVersion " +
          s"in $dir (chain breaks at v$v)"))
    }
    val baseNames = chainFieldNames(delta.sparkSession, dir, baseVersion)
    val baseCols = baseNames.toSet
    val deltaCols = delta.columns.toSet
    require(deltaCols.intersect(baseCols).nonEmpty,
      s"rebase delta shares no columns with the base read of $dir " +
        s"v$baseVersion — not an evolution, a different table")
    require(allowSchemaEvolution || deltaCols == baseCols,
      s"rebase delta schema must match the base read: delta has " +
        s"${(deltaCols -- baseCols).mkString(", ")} extra / " +
        s"${(baseCols -- deltaCols).mkString(", ")} missing vs $dir " +
        s"v$baseVersion (pass allowSchemaEvolution = true when folding " +
        "an evolved chain)")
    checkExpected(dir, Some(expectedVersion), detail = "")
    val (staged, _) = stageData(delta, dir, partitionCols, statsCols, bloomCols,
      bloomExpectedItems, meta)
    if (statsCols.nonEmpty)
      writeChainManifestFold(staged, dir, baseVersion)
    writeNames(staged, baseNames ++ delta.columns.filterNot(baseCols))
    java.nio.file.Files.writeString(staged.resolve("_append"),
      s"v$baseVersion")
    publishStaged(dir, staged, Some(expectedVersion))
  }

  /** Incremental OPTIMIZE — compact ONLY the append deltas above
    * `baseVersion`, leaving the base generation's files untouched: the
    * Delta auto-compaction / Iceberg rewrite-data-files-with-filter
    * pattern that keeps a streaming-ingested table skip-friendly
    * WITHOUT paying a full rewrite. Reads the delta generations' own
    * files (never the base), applies `reshape` (typically
    * `repartitionByRange` onto the cluster key), and publishes one
    * [[commitRebase]] whose cost is delta-proportional: after a week
    * of small appends onto a 100 TB base, the nightly optimize touches
    * the week, not the table. The chain shrinks to base + one
    * clustered delta generation; `statsCols`/`bloomCols` re-sidecar
    * the new generation so file skipping bites on it again.
    */
  def optimizeDeltas(spark: SparkSession, dir: String, baseVersion: Long,
      partitionCols: Seq[String] = Nil, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil, allowSchemaEvolution: Boolean = false,
      raceWindow: () => Unit = () => (),
      metaExtra: Map[String, String] = Map.empty)(
      reshape: DataFrame => DataFrame): Long = {
    val tip = currentVersion(dir).getOrElse(throw new IllegalStateException(
      s"no committed snapshot under $dir"))
    require(tip != baseVersion,
      s"nothing to optimize: $dir is at its base v$baseVersion")
    val gens = scala.collection.mutable.ArrayBuffer.empty[Long]
    var v = tip
    while (v != baseVersion) {
      require(baseOf(dir, v).isEmpty,
        s"optimizeDeltas: v$v of $dir is a merge-on-read delete commit " +
          "— run a full compaction (transact) instead")
      require(!isUpsert(dir, v),
        s"optimizeDeltas: v$v of $dir is an upsert commit — folding it " +
          "away would resurrect the base rows its tombstones replaced; " +
          "run a full compaction (transact) instead")
      gens += v
      v = appendBaseOf(dir, v).getOrElse(throw new IllegalArgumentException(
        s"v$baseVersion is not an append-ancestor of the tip v$tip of $dir"))
    }
    // the deltas' OWN files only — the base is never read, which is
    // the entire point (unionByName: each generation's layout is free
    // to differ, the spec-evolution discipline)
    val delta = gens.map(g => readParquet(spark, s"$dir/v$g"))
      .reduce(_.unionByName(_, allowMissingColumns = true))
    // fold the generations' metadata forward: the numeric exactly-once
    // markers — "epoch" and every per-writer "txn.<id>" — fold as MAX
    // (each high-water mark must survive the optimize, or a replayed
    // old batch afterwards would re-append); any other key takes the
    // newest generation's value
    val metas = gens.map(g => readMeta(dir, g)) // tip-first
    val merged0 = metas.reverse.foldLeft(Map.empty[String, String])(_ ++ _)
    val hwmKeys = metas.flatMap(_.keys)
      .filter(k => k == "epoch" || k.startsWith("txn.")).distinct
    // metaExtra LAST: the newest-wins default is wrong for ADDITIVE
    // per-generation scalars (an index's n_docs / sum_dl fold as sums
    // across the generations being folded) — only the caller knows
    // which keys are additive, so it computes the fold and overrides
    val merged = merged0 ++ hwmKeys.map { k =>
      k -> metas.flatMap(_.get(k)).map(_.toLong).max.toString
    } ++ metaExtra
    // deterministic interleave hook for the contention gate: a racing
    // append landing HERE (after the fold read the tip, before the
    // rebase commits) must CAS-fail the rebase loudly — the caller
    // re-reads and retries, and the racer's delta is never lost
    raceWindow()
    commitRebase(reshape(delta), dir, expectedVersion = tip,
      baseVersion = baseVersion, partitionCols = partitionCols,
      statsCols = statsCols, bloomCols = bloomCols, meta = merged,
      allowSchemaEvolution = allowSchemaEvolution)
  }

  /** The base version a merge-on-read delete commit applies to, if
    * `version` is one (data commits have no `_base`).
    */
  def baseOf(dir: String, version: Long): Option[Long] = {
    val p = basePtr(dir, version)
    if (!java.nio.file.Files.exists(p)) None
    else {
      val raw = java.nio.file.Files.readString(p).trim
      if (raw.matches("v\\d+")) Some(raw.drop(1).toLong)
      else throw new IllegalStateException(
        s"corrupt base pointer $p: expected v<N>, got '$raw'")
    }
  }

  /** Merge-on-read DELETE commit: publish a new version that is the
    * base version MINUS the `tombstones` keys, without rewriting any
    * data — the version directory holds only a `_base` pointer and a
    * `_deletes/` parquet of the tombstone keys (both underscore-
    * prefixed: invisible to any direct parquet read). [[readAt]]
    * resolves the chain; a later full-rewrite commit (e.g. an identity
    * [[transact]]) is compaction and cuts it.
    *
    * `expectedVersion` is MANDATORY (not optional as on [[commit]]):
    * a deletion is always a read-modify-write against the state the
    * caller inspected — GDPR-erasure semantics admit no last-wins
    * blind variant, because losing the race could silently resurrect
    * rows a concurrent rewrite re-inserted. On conflict the usual
    * ConcurrentModificationException fires; retry via [[transact]]-
    * style re-read.
    *
    * The tombstone frame's COLUMNS are the delete key: rows of the
    * base version matching a tombstone on all of them are gone from
    * the new version. Keys must exist in the base schema (checked
    * loudly here, not at first read). Tombstones are written as
    * parquet and applied by every read ([[withoutTombstones]]): up to
    * [[InlineInLiteralMax]] keys of one int, long or string column as
    * an in-plan filter with no Spark job of its own, any other set as
    * an anti-join (the tombstone side is delete-proportional, not
    * table-proportional).
    */
  def commitDeletes(tombstones: DataFrame, dir: String,
      expectedVersion: Long): Long = {
    require(expectedVersion >= 1,
      s"commitDeletes needs a committed base version, got v$expectedVersion")
    val baseNames = chainFieldNames(tombstones.sparkSession, dir,
      expectedVersion)
    val missing = tombstones.columns.filterNot(baseNames.toSet)
    require(missing.isEmpty,
      s"tombstone key column(s) ${missing.mkString(", ")} not in base " +
        s"schema of $dir v$expectedVersion")
    checkExpected(dir, Some(expectedVersion), detail = "")
    val staged = stagedPath(dir)
    tombstones.write.mode("errorifexists")
      .parquet(staged.resolve("_deletes").toString)
    writeNames(staged, baseNames) // a delete exposes the base's columns
    java.nio.file.Files.writeString(staged.resolve("_base"),
      s"v$expectedVersion")
    publishStaged(dir, staged, Some(expectedVersion))
  }

  /** Whether `version` is a merge (UPSERT) commit: an append-chain
    * generation that ALSO carries a `_deletes/` tombstone set against
    * its base — [[commitUpsert]]'s shape. Its tombstones apply to the
    * base generations' rows, so it can never be folded away by a
    * rebase/optimize (that would resurrect the replaced rows) and its
    * chain's manifests cannot answer counts.
    */
  def isUpsert(dir: String, version: Long): Boolean =
    appendBaseOf(dir, version).isDefined &&
      java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, s"v$version", "_deletes"))

  /** ATOMIC merge-on-read UPSERT (MERGE INTO): publish ONE version that
    * is the base MINUS the batch's keys PLUS the batch's rows — the
    * batch's data files and its tombstone set (`_deletes/`, the batch's
    * `keyCols`, one key file per data file, written by the same task
    * writers in the same Spark job) plus the `_append` chain marker all
    * land in one staged directory and publish through one
    * claim-rename + one pointer flip. A reader at ANY version
    * therefore sees either the pre-merge or the post-merge state; the deletes-applied/batch-
    * missing intermediate that a commitDeletes-then-commitAppend
    * sequence exposes (a crash between the two publishes a table with
    * matched keys erased and their replacements absent — reader-visible
    * data loss) is unrepresentable by construction. Cost is
    * batch-proportional: tombstone keys + batch rows, never a rewrite —
    * the MERGE a 100 TB table can afford per micro-batch. A batch with
    * no rows publishes nothing: its staged directory is deleted at once
    * and `expectedVersion` comes back.
    *
    * [[readAt]] resolves the generation as
    * `(base ∖ tombstone-keys) ∪ batch`; the tombstones apply BEFORE
    * this generation's own files union in, so the batch replaces, never
    * deletes, itself. `expectedVersion` is MANDATORY (a merge is always
    * a read-modify-write); the batch must carry exactly the base
    * schema (a merge is not an evolution vehicle — widen with
    * [[commitAppend]] first). Layout params sidecar ONLY the batch's
    * files, like any append generation.
    *
    * `crashBeforePublish` is deterministic fault injection for the
    * atomicity gate: it raises [[InjectedCrash]] AFTER everything is
    * staged and BEFORE the claim-rename — the staged directory stays
    * behind as ordinary crash debris ([[expire]]'s gcStaged sweeps it)
    * and no reader observes anything.
    */
  /** `recordChainStats = true` additionally records the tombstone-side
    * metadata that keeps chain-level stats answerable THROUGH this
    * merge ([[chainStats]]): the batch's distinct key count, per-key-
    * column min/max, the batch row count, and — the expensive one —
    * the EXACT number of base-chain rows the tombstones remove
    * (one bounded semi-join of the base read against the batch's
    * keys). That extra pass over the base is why recording is a
    * per-commit POLICY, not a default: a hot CDC path that never
    * answers from metadata should not pay it, and an unrecorded
    * upsert makes [[chainStats]] fail loudly rather than guess.
    */
  def commitUpsert(batch: DataFrame, keyCols: Seq[String], dir: String,
      expectedVersion: Long,
      partitionCols: Seq[String] = Nil, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      bloomExpectedItems: Long = DefaultBloomExpectedItems,
      meta: Map[String, String] = Map.empty,
      crashBeforePublish: Boolean = false,
      recordChainStats: Boolean = false): Long = {
    require(expectedVersion >= 1,
      s"commitUpsert needs a committed base version, got v$expectedVersion")
    require(keyCols.nonEmpty, "commitUpsert needs at least one key column")
    val missing = keyCols.filterNot(batch.columns.contains)
    require(missing.isEmpty,
      s"upsert key column(s) ${missing.mkString(", ")} not in the batch " +
        s"(${batch.columns.mkString(", ")})")
    val baseCols = chainFieldNames(batch.sparkSession, dir,
      expectedVersion).toSet
    require(batch.columns.toSet == baseCols,
      s"upsert batch schema must match the base read: batch has " +
        s"${(batch.columns.toSet -- baseCols).mkString(", ")} extra / " +
        s"${(baseCols -- batch.columns.toSet).mkString(", ")} missing vs " +
        s"$dir v$expectedVersion")
    checkExpected(dir, Some(expectedVersion), detail = "")
    val statsMeta: Map[String, String] = if (!recordChainStats) Map.empty else {
      val spark = batch.sparkSession
      val keysDf = batch.select(keyCols.map(col): _*).distinct()
      val enc = (s: String) => java.net.URLEncoder.encode(s,
        java.nio.charset.StandardCharsets.UTF_8)
      // ONE aggregation job for batch rows + distinct keys + key bounds
      // (group by key, then fold the groups): the previous
      // keysDf.agg + batch.count() pair was two scans of the batch for
      // numbers one pass produces — min/max over the groups equal
      // min/max over the rows, sum of group sizes is the row count,
      // and group count (null groups included, unlike countDistinct)
      // is the distinct-key count
      val krow = batch.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("_grp_rows"))
        .agg(count(lit(1)).as("nk"),
          coalesce(sum(col("_grp_rows")), lit(0L)).as("nr") +:
            keyCols.flatMap(c =>
              Seq(min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c"))): _*)
        .head()
      val matched = readAt(spark, dir, expectedVersion)
        .join(keysDf, keyCols, "left_semi").count()
      Map(
        "upsert_rows" -> krow.getAs[Long]("nr").toString,
        "upsert_matched" -> matched.toString,
        "upsert_tombstones" -> krow.getAs[Long]("nk").toString) ++
        keyCols.map { c =>
          val typ = statsTag(batch.schema(c).dataType)
          val mn = Option(krow.getAs[Any](s"mn_$c")).map(v => enc(v.toString))
          val mx = Option(krow.getAs[Any](s"mx_$c")).map(v => enc(v.toString))
          s"upsert_stats.$c" ->
            s"$typ,${mn.getOrElse("")},${mx.getOrElse("")}"
        }
    }
    // the data write also writes the tombstones: each writer puts the
    // keys of its rows, as the batch carries them, in a key file under
    // `_deletes/` (duplicates are harmless to the read, and a distinct
    // would cost a shuffle per upsert)
    val (staged, rows) = stageData(batch, dir, partitionCols, statsCols,
      bloomCols, bloomExpectedItems, meta ++ statsMeta, keyCols)
    if (rows == 0) {
      // nothing to merge: publish nothing, and leave no staged debris
      deleteTree(staged.toString)
      expectedVersion
    } else {
      java.nio.file.Files.writeString(staged.resolve("_append"),
        s"v$expectedVersion")
      // the ancestor fold continues THROUGH a merge (chainStats' O(1)-
      // scan shape); this generation's own tombstone record joins the
      // fold when the NEXT commit composes it from the meta above
      writeChainManifestFold(staged, dir, expectedVersion)
      if (crashBeforePublish)
        throw new InjectedCrash(
          s"injected crash: upsert fully staged at $staged, nothing published")
      publishStaged(dir, staged, Some(expectedVersion))
    }
  }

  // ------------------------------------------ footer schemas (no Spark job)

  /** Spark's hidden-path rule for file listings: a `_`- or `.`-prefixed
    * name is not data, except a `_`-prefixed hive partition dir (`_k=v`).
    */
  private def hiddenName(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")

  /** The visible files under `root`, path-sorted: hidden names are
    * skipped (sidecars, `_deletes/`, checksum files), visible
    * directories (hive `k=v` partitions) are walked.
    */
  private def visibleFiles(root: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    def walk(d: java.nio.file.Path): Unit = {
      val stream = java.nio.file.Files.list(d)
      try stream.forEach { p =>
        if (!hiddenName(p.getFileName.toString)) {
          if (java.nio.file.Files.isDirectory(p)) walk(p)
          else if (java.nio.file.Files.isRegularFile(p)) out += p
        }
      } finally stream.close()
    }
    if (java.nio.file.Files.isDirectory(root)) walk(root)
    out.sortBy(_.toString).toSeq
  }

  /** A parquet reader given the Spark schema of the data under `path`,
    * read on the driver from the footer of its first visible data file.
    * A plain `spark.read.parquet(path)` launches a Spark job to read
    * that same footer; a read given the schema launches none. Same
    * order as Spark's own inference (`ParquetFileFormat.readSchemaFromFooter`):
    * the writer's `org.apache.spark.sql.parquet.row.metadata` schema
    * when present, else the parquet schema converted under the
    * session's parquet read settings. Hive partition columns are not in
    * the footer; a read given this schema still infers them from the
    * path. A plain reader, which infers, when no data file exists or
    * `spark.sql.parquet.mergeSchema` is on (a merged schema needs every
    * footer).
    */
  private def footerReader(spark: SparkSession,
      path: String): org.apache.spark.sql.DataFrameReader = {
    val files =
      if (spark.sessionState.conf.isParquetSchemaMergingEnabled) Nil
      else visibleFiles(java.nio.file.Paths.get(path))
    files.headOption.fold(spark.read)(f =>
      spark.read.schema(footerSchema(spark, f, readFooter(spark, f))))
  }

  /** The parquet footer of `file`, read on the driver. */
  private def readFooter(spark: SparkSession, file: java.nio.file.Path):
      org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toUri), spark.sparkContext.hadoopConfiguration))
    try reader.getFooter finally reader.close()
  }

  /** The Spark schema Spark's own inference takes from `footer`. */
  private def footerSchema(spark: SparkSession, file: java.nio.file.Path,
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata): StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    val sql = spark.sessionState.conf
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(new org.apache.hadoop.fs.Path(file.toUri), footer),
      new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = sql.isParquetBinaryAsString,
        assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
        inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
        nanosAsLong = sql.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation = sql.parquetReaderRespectUnknownTypeAnnotation))
  }

  /** `spark.read.parquet(path)` with the schema taken from the footer
    * ([[footerReader]]): the same frame, without the inference job.
    */
  private[graft] def readParquet(spark: SparkSession, path: String): DataFrame =
    footerReader(spark, path).parquet(path)

  /** The data files of `vdir` a file-skipping decision kept, as one scan
    * (`basePath` keeps hive partition columns resolving), or an empty
    * frame of the full read's schema when it kept none.
    */
  private def readKept(spark: SparkSession, vdir: String,
      files: Seq[String]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        readParquet(spark, vdir).schema)
    else footerReader(spark, vdir).option("basePath", vdir).parquet(files: _*)

  /** `base` minus the tombstones of a delete or upsert `version`
    * (`_deletes/`): a row goes when it equals a tombstone on every key
    * column, and a null never matches. One key column of type int, long
    * or string with at most [[InlineInLiteralMax]] tombstone rows (the
    * count from the parquet footers) is applied in the plan as
    * `k IS NULL OR NOT k IN (keys)`, its keys read on the driver the way
    * [[readDriverParquet]] reads metadata tables: no Spark job, and a
    * filter that prunes hive partitions and pushes into the scan. Any
    * other shape (several key columns, other types, a larger set) is an
    * anti-join on the key columns, which Spark broadcasts when the set
    * is small.
    */
  private def withoutTombstones(spark: SparkSession, base: DataFrame,
      dir: String, version: Long): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    import scala.jdk.CollectionConverters._
    val path = java.nio.file.Paths.get(dir, s"v$version", "_deletes")
    val files = visibleFiles(path)
    val footers = files.map(f => f -> readFooter(spark, f))
    val rows = footers.iterator.flatMap(_._2.getBlocks.asScala).map(_.getRowCount).sum
    val key = footers.headOption.map { case (f, ft) => footerSchema(spark, f, ft) }
      .collect { case StructType(Array(k)) => k }
      .filter(k => Seq(IntegerType, LongType, StringType).contains(k.dataType) &&
        base.schema.find(_.name == k.name).exists(_.dataType == k.dataType))
    key.filter(_ => rows <= InlineInLiteralMax) match {
      case Some(k) =>
        val keys = readDriverParquet(path, spark.sparkContext.hadoopConfiguration) { g =>
          if (g.getFieldRepetitionCount(0) == 0) None else Some(k.dataType match {
            case IntegerType => g.getInteger(0, 0)
            case LongType => g.getLong(0, 0)
            case _ => g.getString(0, 0)
          })
        }.flatten.distinct
        val column = (n: String) => base.col("`" + n.replace("`", "``") + "`")
        val c = column(k.name)
        val kept = if (keys.isEmpty) base else base.filter(c.isNull || !c.isin(keys: _*))
        // the anti-join's column order: the key first
        kept.select(c +: base.columns.toSeq.filter(_ != k.name).map(column): _*)
      case None =>
        val dels = readParquet(spark, path.toString)
        base.join(dels, dels.columns.toSeq, "left_anti")
    }
  }

  // ------------------------------------------------------------- reads

  /** Read the current snapshot (the version `current` named at call
    * time — later commits do not move this frame's data underneath it).
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val v = currentVersion(dir).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $dir"))
    readAt(spark, dir, v)
  }

  /** Time travel: read an exact retained version. A merge-on-read
    * delete version resolves its `_base` chain (data of the base minus
    * every accumulated tombstone set along the way, each applied by
    * [[withoutTombstones]]: in the plan when small, else anti-joined);
    * an append version resolves its `_append` chain (base generation ∪
    * this version's own delta files, unioned BY NAME so each
    * generation's hive layout is free to differ). Chains stay short in
    * practice because any full-rewrite commit (compaction) cuts them.
    * A filter over the chain read pushes into EVERY generation's scan
    * branch, so partition pruning applies per generation's own layout.
    */
  def readAt(spark: SparkSession, dir: String, version: Long): DataFrame = {
    // visibility gate, not just existence: on the rename-less profile a
    // dead writer's half-copied v<N> directory is PRESENT on the store
    // — reading it would silently return partial data. One metadata
    // probe per chain generation, noise against the scan it fronts.
    require(io(dir).versionVisible(tablePath(dir), version),
      s"no complete version v$version under $dir")
    baseOf(dir, version) match {
      case Some(b) => withoutTombstones(spark, readAt(spark, dir, b), dir, version)
      case None => appendBaseOf(dir, version) match {
        case None => readParquet(spark, s"$dir/v$version")
        case Some(b) =>
          // an UPSERT generation carries tombstones against its base:
          // apply them BEFORE this generation's own files union in, so
          // the batch replaces (never deletes) itself — the
          // single-commit MERGE read shape
          val base0 = readAt(spark, dir, b)
          val base =
            if (isUpsert(dir, version)) withoutTombstones(spark, base0, dir, version)
            else base0
          // allowMissingColumns: an evolved append generation's new
          // columns surface as NULL on older generations' rows (and
          // vice versa) — commit-time checks already guarded against
          // ACCIDENTAL drift, so by read time a difference is a
          // deliberate evolution
          base.unionByName(readParquet(spark, s"$dir/v$version"),
            allowMissingColumns = true)
      }
    }
  }

  /** Time travel CONFORMED to the live schema — the reader half of
    * schema evolution. Versions are immutable, so a commit that widens
    * the schema leaves old versions narrow on disk forever; this read
    * presents any retained version under the CURRENT version's schema:
    * columns the old version lacks surface as NULL (by NAME, never a
    * positional bind — the schema_drift_union discipline), columns are
    * UPCAST to the current type, and columns the current schema dropped
    * are omitted. With this, `readAtConformed(v) unionByName
    * readAtConformed(w)` is well-typed for any two retained versions —
    * the exact contract a multi-generation 100 TB table needs.
    *
    * Only LOSSLESS widenings conform (Catalyst's `Cast.canUpCast`:
    * int→long, float→double, int→decimal(wide), …). An incompatible
    * evolution — string→double, long→int — throws loudly here instead
    * of silently nulling unparseable values, which would present data
    * LOSS as conformance; that case needs an explicit migration
    * rewrite, exactly as reference table formats require.
    */
  def readAtConformed(spark: SparkSession, dir: String, version: Long): DataFrame = {
    val target = read(spark, dir).schema
    val df = readAt(spark, dir, version)
    val have = df.schema.fields.map(f => f.name -> f.dataType).toMap
    df.select(target.fields.toSeq.map { f =>
      have.get(f.name) match {
        case None => lit(null).cast(f.dataType).as(f.name)
        case Some(from) =>
          if (from != f.dataType &&
              !org.apache.spark.sql.catalyst.expressions.Cast
                .canUpCast(from, f.dataType))
            throw new IllegalStateException(
              s"lossy schema evolution on '${f.name}': v$version has " +
                s"${from.simpleString}, live schema wants " +
                s"${f.dataType.simpleString} — not an upcast; rewrite " +
                "the old generation explicitly instead of nulling data")
          col(f.name).cast(f.dataType).as(f.name)
      }
    }: _*)
  }

  // ------------------------------------------- per-file stats / skipping

  /** One (file, column) stats row of a version's `_manifest/`:
    * everything [[readWhere]] needs to decide whether a file can
    * contain a row matching a range or null predicate. `min`/`max` are
    * the strings `min(col).cast("string")` produces, None for an
    * all-null file. Values are kept in that exact form and compared
    * under `typ` ("long" | "double" | "decimal" | "string"; dates ride
    * as ISO strings, whose lexicographic order is chronological).
    */
  final case class ColStats(file: String, rowCount: Long, col: String,
      typ: String, min: Option[String], max: Option[String], nulls: Long)

  private def statsTag(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => "long"
      case FloatType | DoubleType => "double"
      case _: DecimalType => "decimal"
      case StringType => "string"
      case DateType => "string" // ISO yyyy-MM-dd: lexicographic = chronological
      case other => throw new IllegalArgumentException(
        s"statsCols: unsupported type ${other.simpleString} — supported: " +
          "integral, float/double, decimal, string, date")
    }
  }

  /** A numeric-tagged stat as the manifest's `min_num`/`max_num` double
    * (metadata answering only; pruning compares exactly, [[cmpStat]]).
    */
  private def numStat(typ: String, v: Option[String]): Option[Double] = typ match {
    case "long" | "double" | "decimal" => v.map(_.toDouble)
    case _ => None
  }

  private def cmpStat(typ: String, a: String, b: String): Int = typ match {
    case "long" => java.lang.Long.compare(a.toLong, b.toLong)
    case "double" => java.lang.Double.compare(a.toDouble, b.toDouble)
    case "decimal" => new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b))
    case _ => a.compareTo(b)
  }

  /** The sidecar column gates, checked against the frame before a byte
    * is written: every stats and bloom column must exist, with a type
    * its sidecar supports ([[statsTag]], [[bloomTag]]).
    */
  private def checkSidecarCols(df: DataFrame, statsCols: Seq[String],
      bloomCols: Seq[String], bloomExpectedItems: Long): Unit = {
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    statsCols.foreach(c => require(types.contains(c),
      s"statsCols: no column '$c' in committed schema " +
        s"(${df.columns.mkString(", ")})"))
    statsCols.foreach(c => statsTag(types(c)))
    if (bloomCols.nonEmpty)
      require(bloomExpectedItems > 0,
        s"bloomExpectedItems must be > 0, got $bloomExpectedItems")
    bloomCols.foreach { c =>
      require(types.contains(c),
        s"bloomCols: no column '$c' in committed schema (${df.columns.mkString(", ")})")
      // the bloom gate is NARROWER than the stats gate: fractional
      // numerics are rejected (build/probe canonical-form divergence
      // would mean silent false negatives — see bloomTag)
      bloomTag(types(c))
    }
  }

  /** Render the stats and bloom sidecars of a staged write from what its
    * writers saw ([[SidecarParquetFormat.WrittenFile]]): one row per
    * (file, column) of every file with rows, min and max rendered by
    * the same `CAST(… AS STRING)` a `min(col).cast("string")` applies.
    * A hive partition column is not in the written rows: its per-file
    * value is the file's partition directory value, typed as a read of
    * the staged directory infers it (Spark's own file index, listed on
    * the driver). Nulls are NOT inserted into a bloom: the point-lookup
    * reader ([[pruneFilesBloom]]) prunes on equality semantics, where
    * NULL never matches.
    */
  private def writeSidecars(spark: SparkSession, staged: java.nio.file.Path,
      written: Seq[SidecarParquetFormat.WrittenFile], schema: StructType,
      statsCols: Seq[String], bloomCols: Seq[String],
      bloomExpectedItems: Long): Unit = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val conf = spark.sparkContext.hadoopConfiguration
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    def str(v: Any, dt: DataType): Option[String] = Option(v).map(x =>
      SidecarParquetFormat.asString(Literal(x, dt), tz).eval().toString)
    val files = written.filter(_.rows > 0).sortBy(_.file)
    // a column the writers did not see is a hive partition column
    lazy val partValue = partitionValues(spark, staged)
    if (statsCols.nonEmpty)
      writeManifestParquet(conf, staged.resolve("_manifest"),
        for (f <- files; c <- statsCols.sorted) yield
          f.stats.find(_.column == c) match {
            case Some(r) =>
              val dt = schema(c).dataType
              ColStats(f.file, f.rows, c, statsTag(dt), str(r.min, dt),
                str(r.max, dt), r.nulls)
            case None =>
              val (v, dt) = partValue(f.file, c)
              ColStats(f.file, f.rows, c, statsTag(dt), str(v, dt), str(v, dt),
                if (v == null) f.rows else 0L)
          })
    if (bloomCols.nonEmpty)
      writeBloomParquet(conf, staged.resolve("_bloomtab"),
        for (f <- files; c <- bloomCols.sorted) yield
          (f.file, c, f.blooms.find(_._1 == c).map(_._2).getOrElse {
            val (v, dt) = partValue(f.file, c)
            bloomTag(dt)
            val bf = SidecarParquetFormat.newBloom(bloomExpectedItems)
            str(v, dt).foreach(s => bf.putBinary(bloomKeyBytes(s)))
            SidecarParquetFormat.bits(bf)
          }))
  }

  /** A hive partition column's value in a staged data file, as
    * (Catalyst value, type), by (file path relative to `staged`,
    * column): Spark's file index of the directory, so values and types
    * are what a read of it infers.
    */
  private def partitionValues(spark: SparkSession,
      staged: java.nio.file.Path): (String, String) => (Any, DataType) = {
    val root = staged.toAbsolutePath
    val spec = new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
      spark, Seq(new org.apache.hadoop.fs.Path(root.toUri)), Map.empty, None)
      .partitionSpec()
    val byDir = spec.partitions.map(p =>
      root.relativize(java.nio.file.Paths.get(p.path.toUri)).toString -> p.values).toMap
    (f, c) => {
      val i = spec.partitionColumns.fieldIndex(c)
      val dt = spec.partitionColumns(i).dataType
      (byDir(Option(java.nio.file.Paths.get(f).getParent).fold("")(_.toString))
        .get(i, dt), dt)
    }
  }

  /** Write a staged version's stats as the `_manifest/` parquet table,
    * covered by the same atomic claim-rename as the data: the metadata
    * tree every real format keeps queryable (Iceberg's `table.files`,
    * Delta's log), and the only stats store. `rows` come in (file,
    * column) order. The rows are already on the driver (file-count-
    * bounded), so the tiny parquet is written directly, with no Spark
    * job; the schema (names, physical types, nullability) is what a
    * `toDF(...).write.parquet` of the same rows produces.
    */
  private def writeManifestParquet(
      conf: org.apache.hadoop.conf.Configuration,
      dest: java.nio.file.Path, rows: Seq[ColStats]): Unit = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val schema = Types.buildMessage()
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("file")
      .required(INT64).named("row_count")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("column")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("col_type")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("min_str")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("max_str")
      .optional(DOUBLE).named("min_num")
      .optional(DOUBLE).named("max_num")
      .required(INT64).named("null_count")
      .named("spark_schema")
    writeDriverParquet(conf, dest, schema) { (factory, write) =>
      rows.foreach { r =>
        val g = factory.newGroup()
        g.add("file", r.file)
        g.add("row_count", r.rowCount)
        g.add("column", r.col)
        g.add("col_type", r.typ)
        r.min.foreach(v => g.add("min_str", v))
        r.max.foreach(v => g.add("max_str", v))
        numStat(r.typ, r.min).foreach(v => g.add("min_num", v))
        numStat(r.typ, r.max).foreach(v => g.add("max_num", v))
        g.add("null_count", r.nulls)
        write(g)
      }
    }
  }

  /** Shared driver-side tiny-parquet writer for metadata tables that
    * ride inside a staging directory (`_manifest/`, `_bloomtab/`): the
    * rows are already file-count-bounded driver data, so persisting
    * them through a Spark job was a fixed ~0.1 s of scheduler overhead
    * per commit — at a streaming table's 10^3-commit life, real money
    * for zero work.
    */
  private def writeDriverParquet(
      conf: org.apache.hadoop.conf.Configuration,
      dest: java.nio.file.Path,
      schema: org.apache.parquet.schema.MessageType)(
      body: (org.apache.parquet.example.data.simple.SimpleGroupFactory,
        org.apache.parquet.example.data.Group => Unit) => Unit): Unit = {
    require(!java.nio.file.Files.exists(dest),
      s"refusing to overwrite existing metadata table at $dest")
    java.nio.file.Files.createDirectories(dest)
    val part = dest.resolve(
      s"part-00000-${java.util.UUID.randomUUID().toString.take(12)}.snappy.parquet")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.toUri), conf))
      .withConf(conf)
      .withType(schema)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try body(
      new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema),
      writer.write)
    finally writer.close()
  }

  /** The Hadoop configuration the driver-side metadata reads use: the
    * tables are local files written by [[writeDriverParquet]], so no
    * session setting applies to them.
    */
  private lazy val metaConf = new org.apache.hadoop.conf.Configuration()

  /** Read a metadata table written by [[writeDriverParquet]] back on the
    * driver, row by row through parquet-hadoop's example `Group` reader
    * (its mirror): no Spark job. `f` maps each row as it streams by, so
    * a caller that keeps a small answer per row never holds more than
    * one row. Empty when the table does not exist. A Spark-written
    * table (a tombstone set) is read under the session's `conf`.
    */
  private def readDriverParquet[A](dest: java.nio.file.Path,
      conf: org.apache.hadoop.conf.Configuration = metaConf)(
      f: org.apache.parquet.example.data.Group => A): Seq[A] =
    visibleFiles(dest).flatMap { part =>
      val reader = org.apache.parquet.hadoop.ParquetReader.builder(
          new org.apache.parquet.hadoop.example.GroupReadSupport,
          new org.apache.hadoop.fs.Path(part.toUri))
        .withConf(conf).build()
      try Iterator.continually(reader.read()).takeWhile(_ != null).map(f).toList
      finally reader.close()
    }

  /** A version's per-file stats, read from its `_manifest/` table on the
    * driver, in (file, column) order (empty when the commit didn't ask
    * for stats).
    */
  def readStats(dir: String, version: Long): Seq[ColStats] =
    readDriverParquet(java.nio.file.Paths.get(dir, s"v$version", "_manifest")) { g =>
      val opt = (name: String) =>
        if (g.getFieldRepetitionCount(name) == 0) None else Some(g.getString(name, 0))
      ColStats(g.getString("file", 0), g.getLong("row_count", 0),
        g.getString("column", 0), g.getString("col_type", 0), opt("min_str"),
        opt("max_str"), g.getLong("null_count", 0))
    }

  /** One `_manifest_chain/fold.tsv` stats line body (the fold prefixes
    * the generation): file, row count, column, type tag, min, max and
    * null count, tab-separated, names and bounds URL-encoded, an
    * absent bound empty.
    */
  private def statsLine(s: ColStats): String = {
    val enc = (x: String) =>
      java.net.URLEncoder.encode(x, java.nio.charset.StandardCharsets.UTF_8)
    Seq(enc(s.file), s.rowCount.toString, enc(s.col), s.typ,
      s.min.map(enc).getOrElse(""), s.max.map(enc).getOrElse(""),
      s.nulls.toString).mkString("\t")
  }

  // --------------------------------------- per-file bloom / point skip

  /** Default per-file capacity a bloom sidecar is sized for. At 1% fpp
    * this is ~150 KB of bits per (file, column) — the same order as
    * Parquet's own column bloom filters, and the same contract: the
    * CALLER sizes it to the write's rows-per-file (Parquet's
    * `bloom_filter_expected_ndv`), because a filter sized far below
    * the real distinct count saturates and silently stops pruning
    * (correctness is unaffected — a saturated filter answers
    * "might contain" for everything).
    */
  val DefaultBloomExpectedItems: Long = 1L << 17

  /** Canonical bytes a value contributes to / is probed against a
    * bloom sidecar: the value's Spark `CAST(v AS STRING)` form, UTF-8.
    * One canonical form on both the build and probe side is what makes
    * the filter's no-false-negative guarantee hold for every supported
    * column type (integral, string, date).
    */
  private def bloomKeyBytes(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** The bloom type gate: integral, string, date ONLY — strictly
    * narrower than the stats gate. Fractional numerics are excluded
    * because the build side inserts Spark's `CAST(col AS STRING)` form
    * (double 5.0 → "5.0", decimal(10,2) 5 → "5.00") while a probe key
    * canonicalizes through `String.valueOf` (5L → "5"); a form mismatch
    * makes the filter answer "definitely not here" for present rows —
    * SILENT FALSE NEGATIVES, the one failure a bloom must never have.
    * For the admitted types the two forms coincide (Long/Int/String
    * round-trip identically; DateType casts to ISO yyyy-MM-dd, the same
    * form java.sql.Date/LocalDate.toString produce).
    */
  private def bloomTag(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | StringType |
          DateType => statsTag(dt)
      case other => throw new IllegalArgumentException(
        s"bloomCols: unsupported type ${other.simpleString} — supported: " +
          "integral, string, date (fractional numerics would canonicalize " +
          "differently on the build and probe sides and silently produce " +
          "false negatives)")
    }
  }

  /** Write a staged version's per-file bloom filters, (file, column,
    * serialized bits) in (file, column) order, as the `_bloomtab/`
    * parquet table, covered by the same atomic claim-rename as the
    * data: one row per (file, column), the same driver-bounded scale
    * as `_manifest/`, written directly for the same no-Spark-job
    * reason.
    */
  private def writeBloomParquet(conf: org.apache.hadoop.conf.Configuration,
      dest: java.nio.file.Path, rows: Seq[(String, String, Array[Byte])]): Unit = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val schema = Types.buildMessage()
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("file")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("column")
      .optional(BINARY).named("bits")
      .named("spark_schema")
    writeDriverParquet(conf, dest, schema) { (factory, write) =>
      rows.foreach { case (file, c, bits) =>
        val g = factory.newGroup()
        g.add("file", file)
        g.add("column", c)
        g.add("bits", org.apache.parquet.io.api.Binary.fromConstantByteArray(bits))
        write(g)
      }
    }
  }

  /** Whether `version` carries a bloom sidecar (`_bloomtab/`, written
    * by every commit given `bloomCols`).
    */
  def hasBloom(dir: String, version: Long): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(dir, s"v$version", "_bloomtab"))

  /** Stream a version's `_bloomtab/` rows on the driver: `f` gets each
    * (file, column, filter) whose column `column` admits (every column
    * when None), and only those rows' filters are deserialized, so a
    * probe holds one filter at a time.
    */
  private def foldBlooms[A](dir: String, version: Long, column: Option[String])(
      f: (String, String, org.apache.spark.util.sketch.BloomFilter) => A): Seq[A] =
    readDriverParquet(java.nio.file.Paths.get(dir, s"v$version", "_bloomtab")) { g =>
      val c = g.getString("column", 0)
      if (column.exists(_ != c)) None
      else Some(f(g.getString("file", 0), c,
        org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(g.getBinary("bits", 0).getBytes))))
    }.flatten

  /** A version's per-file bloom filters as (file, column, filter) rows
    * in (file, column) order (empty when the commit didn't ask for
    * blooms).
    */
  def readBloom(dir: String, version: Long):
      Seq[(String, String, org.apache.spark.util.sketch.BloomFilter)] =
    foldBlooms(dir, version, None)((f, c, bf) => (f, c, bf))

  /** The version's stats table as a queryable MANIFEST DataFrame —
    * Iceberg's `table.files` / Delta's transaction-log stats, the
    * metadata side of the table surfaced to SQL: one row per (file,
    * column) with rowCount/min/max/nullCount. The point at 100 TB is
    * METADATA-ONLY ANSWERING: count(*), per-column min/max, and null
    * counts fold over this file-count-bounded frame in milliseconds
    * with ZERO data files opened — min/max come back typed through the
    * sidecar's own type tags, so `min(mins)` is numeric where the
    * column was numeric, not lexicographic.
    *
    * The manifest is itself a parquet TABLE committed inside the
    * version directory (`_manifest/`, written by the staging pass and
    * covered by the same atomic rename), so a 10⁵-file version's
    * manifest rolls up as a distributed scan.
    * Loud error on a stats-less version (a caller answering from
    * metadata must know when there is none), on a merge-on-read delete
    * commit (tombstones invalidate counts; compact first), and on an
    * append commit (this manifest covers ONE generation's files; read
    * each generation's own manifest).
    */
  def manifest(spark: SparkSession, dir: String, version: Long): DataFrame = {
    require(baseOf(dir, version).isEmpty,
      s"manifest targets data versions; v$version of $dir is a merge-on-" +
        "read delete commit whose tombstones invalidate file stats — " +
        "compact first or read its base")
    require(appendBaseOf(dir, version).isEmpty,
      s"manifest covers one generation's files; v$version of $dir is an " +
        "append commit — use manifestChain to compose the generations")
    manifestOwn(spark, dir, version)
  }

  /** The composed metadata tree of an APPEND CHAIN — every
    * generation's own manifest, unioned with a `generation` column
    * naming the version that committed each file: the cross-generation
    * answer [[manifest]] refuses to fake from one generation's
    * sidecar. With it, count(*)/min/max over a table that took a year
    * of ingest batches is STILL a metadata-only fold (sum of per-file
    * row counts across generations — appends never double-count by
    * construction, a file belongs to exactly one generation). Loud on
    * any merge-on-read delete commit in the chain (tombstones
    * invalidate counts; compact first) and on any stats-less
    * generation, same contract as [[manifest]].
    */
  def manifestChain(spark: SparkSession, dir: String, version: Long): DataFrame = {
    require(baseOf(dir, version).isEmpty,
      s"manifestChain: v$version of $dir is a merge-on-read delete " +
        "commit whose tombstones invalidate file stats — compact first")
    require(!isUpsert(dir, version),
      s"manifestChain: v$version of $dir is an upsert commit whose " +
        "tombstones invalidate ancestor file stats — compact first")
    // ancestors too: a RECORDED upsert now folds (for chainStats), so
    // the fold's presence no longer implies a tombstone-free chain —
    // walk the chain markers (O(depth) file stats, zero Spark jobs)
    // and stay loud where the recursion used to be
    var g = version
    while (appendBaseOf(dir, g).isDefined) {
      g = appendBaseOf(dir, g).get
      require(!isUpsert(dir, g),
        s"manifestChain: ancestor v$g of $dir is an upsert commit whose " +
          "tombstones invalidate per-file stats — use chainStats (exact " +
          "count, disclosed-conservative min/max) or compact first")
    }
    val own = manifestOwn(spark, dir, version)
      .withColumn("generation", lit(version))
    appendBaseOf(dir, version) match {
      case None => own
      case Some(b) =>
        // prefer the FOLDED ancestor manifest this generation committed
        // (`_manifest_chain.tsv`, written by commitAppend/commitRebase):
        // the whole chain answers from TWO scans — this version's fold
        // + this version's own manifest — however many generations deep
        // the ingest ran. A 10³-commit streaming table would otherwise
        // pay 10³ recursive reads per pruning decision. Generations
        // without a fold (pre-fold commits, stats-less ancestors) fall
        // back to the recursive walk.
        val folded = foldPath(dir, version)
        if (java.nio.file.Files.exists(folded))
          foldedManifest(spark, folded).unionByName(own)
        else manifestChain(spark, dir, b).unionByName(own)
    }
  }

  /** The fold lives INSIDE an underscore directory so version-dir data
    * scans never see it, but its leaf file carries a plain name — a
    * Spark file source hides underscore-prefixed FILES even when
    * addressed explicitly, so `_manifest_chain.tsv` would read as zero
    * rows; `_manifest_chain/fold.tsv` reads distributed when addressed
    * by its full path.
    */
  private def foldPath(dir: String, version: Long) =
    java.nio.file.Paths.get(dir, s"v$version", "_manifest_chain", "fold.tsv")

  /** The committed fold as a DataFrame, schema-identical to
    * [[manifestChain]]'s union rows: a DISTRIBUTED csv scan of the TSV
    * (FAILFAST — corrupt lines are as loud as the stats parser), never
    * a driver line loop, decoded and typed in the plan. Spark's csv
    * reader maps empty fields to NULL, which is exactly the all-null-
    * file min/max encoding of [[statsLine]].
    */
  private def foldedManifest(spark: SparkSession,
      p: java.nio.file.Path): DataFrame = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.{url_decode, when}
    val raw = spark.read
      .option("sep", "\t").option("mode", "FAILFAST")
      .schema(StructType(Seq(
        StructField("generation", LongType, nullable = false),
        StructField("file_enc", StringType, nullable = false),
        StructField("row_count", LongType, nullable = false),
        StructField("col_enc", StringType, nullable = false),
        StructField("col_type", StringType, nullable = false),
        StructField("min_enc", StringType, nullable = true),
        StructField("max_enc", StringType, nullable = true),
        StructField("null_count", LongType, nullable = false))))
      .csv(p.toString)
    val num = (c: org.apache.spark.sql.Column) =>
      when(col("col_type").isin("long", "double", "decimal"),
        c.cast("double"))
    raw.select(
      url_decode(col("file_enc")).as("file"),
      col("row_count"),
      url_decode(col("col_enc")).as("column"),
      col("col_type"),
      url_decode(col("min_enc")).as("min_str"),
      url_decode(col("max_enc")).as("max_str"),
      num(url_decode(col("min_enc"))).as("min_num"),
      num(url_decode(col("max_enc"))).as("max_num"),
      col("null_count"),
      col("generation"))
  }

  /** Fold the base chain's manifest into the staged directory as
    * `_manifest_chain.tsv` — the manifest-list compaction every real
    * format performs (Iceberg's manifest list, Delta's checkpoint):
    * each append carries a snapshot of its ANCESTORS' (file, column)
    * stats with their generation ids, so [[manifestChain]] is O(1)
    * scans at any chain depth. The fold is COMPOSED, not recomputed:
    * the base's fold lines plus the base's own stats rows, rendered as
    * lines ([[statsLine]]) and stamped with its generation — pure driver file I/O on file-count-bounded
    * metadata, ZERO Spark jobs per commit (the first fold cut ~0.6 s
    * of read-fold-write jobs from every append). Skipped (the read
    * side's recursive walk remains the correct, slower path) when the
    * ancestry cannot fold: delete/upsert tombstones, stats-less or
    * pre-fold generations.
    */
  private def writeChainManifestFold(staged: java.nio.file.Path,
      dir: String, baseVersion: Long): Unit =
    foldLines(dir, baseVersion).foreach { lines =>
      val d = staged.resolve("_manifest_chain")
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.writeString(d.resolve("fold.tsv"),
        lines.mkString("", "\n", "\n"))
    }

  /** Reserved `file` value of a TOMBSTONE record in the chain fold: a
    * line carrying an upsert generation's recorded merge stats
    * (matched base rows, per-key-column min/max, distinct tombstone
    * keys) instead of per-file column stats. [[manifestChain]] refuses
    * chains that contain one (exact per-file stats stop existing past
    * a merge); [[chainStats]] consumes them.
    */
  val TombstoneFoldMarker: String = "__tombstones__"

  /** The fold lines recording an upsert generation's tombstone-side
    * stats (one line per key column, same 8-field shape as a stats
    * line: row_count carries the MATCHED base-row count, null_count
    * the distinct tombstone-key count), or None when the merge was
    * committed without `recordChainStats` — an unrecorded merge cannot
    * fold.
    */
  private def tombstoneFoldLines(dir: String, version: Long): Option[Seq[String]] = {
    val m = readMeta(dir, version)
    m.get("upsert_matched").map { matched =>
      val nKeys = m("upsert_tombstones")
      val enc = (s: String) => java.net.URLEncoder.encode(s,
        java.nio.charset.StandardCharsets.UTF_8)
      m.toSeq.collect { case (k, v) if k.startsWith("upsert_stats.") =>
        val c = k.stripPrefix("upsert_stats.")
        val parts = v.split(",", -1)
        require(parts.length == 3,
          s"corrupt upsert_stats.$c on $dir v$version: '$v'")
        s"$version\t${enc(TombstoneFoldMarker)}\t$matched\t${enc(c)}\t" +
          s"${parts(0)}\t${parts(1)}\t${parts(2)}\t$nKeys"
      }.sorted
    }
  }

  /** The fold lines covering the whole chain at `version`, or None when
    * the ancestry cannot fold. A RECORDED upsert (committed with
    * `recordChainStats`) folds: its tombstone records ride along so
    * [[chainStats]] stays O(1) scans; an unrecorded upsert stops the
    * fold (the read side's recursive walk remains the loud, correct
    * path).
    */
  private def foldLines(dir: String, version: Long): Option[Seq[String]] = {
    if (baseOf(dir, version).isDefined) None
    else {
      val ownStats = readStats(dir, version).map(statsLine).sorted
      if (ownStats.isEmpty) None // stats-less generation: no manifest
      else {
        val tombOpt =
          if (!isUpsert(dir, version)) Some(Seq.empty[String])
          else tombstoneFoldLines(dir, version)
        tombOpt.flatMap { tomb =>
          val own = tomb ++ ownStats.map(l => s"$version\t$l")
          appendBaseOf(dir, version) match {
            case None => Some(own)
            case Some(_) =>
              val p = foldPath(dir, version)
              if (!java.nio.file.Files.exists(p)) None // pre-fold ancestry
              else Some(java.nio.file.Files.readAllLines(p)
                .toArray(Array.empty[String]).toSeq.filter(_.nonEmpty) ++ own)
          }
        }
      }
    }
  }

  /** Metadata-only chain stats that SURVIVE upsert generations — what
    * [[manifestChain]] loudly refuses to fake. Per requested column,
    * one row: the chain's EXACT row count and CONSERVATIVE min/max
    * bounds, answered from the committed fold plus this generation's
    * own sidecars (the same two-scan shape as [[manifestChain]], any
    * chain depth), zero data files opened.
    *
    *  - `n_rows` is EXACT: Σ per-file row counts across generations
    *    minus Σ recorded matched-row counts of the chain's merges —
    *    exact because each merge's `upsert_matched` was measured
    *    against the RESOLVED chain state at its commit, so every
    *    tombstoned row is subtracted exactly once however many times a
    *    key is re-merged.
    *  - `min_num`/`max_num` (numeric columns) and `min_str`/`max_str`
    *    are BOUNDS, not values: tombstones only remove rows, so the
    *    fold over per-file stats can only widen — true min ≥ bound,
    *    true max ≤ bound. `bounds_exact` discloses the distinction:
    *    true on a tombstone-free chain (the bounds are the values),
    *    false past any merge.
    *
    * Loud on: a MOR delete commit (different machinery — compact
    * first), an UNRECORDED upsert anywhere in the chain (commit merges
    * with `recordChainStats = true` to keep metadata answering), a
    * missing fold on a chained generation, and a column lacking stats
    * on any file (a partial bound is not a bound).
    */
  def chainStats(spark: SparkSession, dir: String, version: Long,
      columns: Seq[String]): DataFrame = {
    require(baseOf(dir, version).isEmpty,
      s"chainStats: v$version of $dir is a merge-on-read delete commit " +
        "— compact first or read its base")
    require(columns.nonEmpty, "chainStats needs at least one column")
    import org.apache.spark.sql.functions.first
    import spark.implicits._
    val dec = (s: String) => java.net.URLDecoder.decode(s,
      java.nio.charset.StandardCharsets.UTF_8)
    // own generation, parsed locally (file-count-bounded): stats rows
    // plus tombstone records if this tip is itself a recorded merge
    val ownStats = readStats(dir, version)
    require(ownStats.nonEmpty,
      s"no per-file stats on $dir v$version — commit with statsCols to " +
        "enable metadata-only answering")
    val ownRows = ownStats.map { s =>
      (s.file, s.rowCount, s.col, s.typ, s.min, s.max,
        numStat(s.typ, s.min), numStat(s.typ, s.max), s.nulls, version)
    } ++ {
      if (!isUpsert(dir, version)) Nil
      else {
        val m = readMeta(dir, version)
        val matched = m.getOrElse("upsert_matched",
          throw new IllegalStateException(
            s"chainStats: upsert v$version of $dir recorded no merge " +
              "stats — commit with recordChainStats = true")).toLong
        val nKeys = m("upsert_tombstones").toLong
        m.toSeq.collect { case (k, v) if k.startsWith("upsert_stats.") =>
          val c = k.stripPrefix("upsert_stats.")
          val parts = v.split(",", -1)
          val mn = if (parts(1).isEmpty) None else Some(dec(parts(1)))
          val mx = if (parts(2).isEmpty) None else Some(dec(parts(2)))
          (TombstoneFoldMarker, matched, c, parts(0), mn, mx,
            numStat(parts(0), mn), numStat(parts(0), mx), nKeys, version)
        }
      }
    }
    val own = ownRows.toDF("file", "row_count", "column", "col_type",
      "min_str", "max_str", "min_num", "max_num", "null_count",
      "generation")
    val all = appendBaseOf(dir, version) match {
      case None => own
      case Some(_) =>
        val p = foldPath(dir, version)
        require(java.nio.file.Files.exists(p),
          s"chainStats: v$version of $dir has no chain-manifest fold — " +
            "an ancestor is stats-less or an unrecorded merge")
        foldedManifest(spark, p).unionByName(own)
    }
    val files = all.filter(col("file") =!= lit(TombstoneFoldMarker))
    val tombs = all.filter(col("file") === lit(TombstoneFoldMarker))
    // TWO distributed passes total (was ~2 + 2·|columns| separate
    // jobs — each a fixed ~0.2 s of scheduler overhead on a
    // metadata-sized frame): one per-file fold for data + tombstone
    // totals together, one per-column fold for coverage + bounds.
    // The manifest frame itself stays distributed (the 10^5-file
    // design point); only the NUMBER of passes over it shrinks.
    //
    // stats rows repeat row_count per column: count each file once;
    // tombstone records count once per generation (file is the marker)
    val totals = all.groupBy(
        (col("file") === lit(TombstoneFoldMarker)).as("is_tomb"),
        col("generation"), col("file"))
      .agg(first(col("row_count")).as("rc"))
      .groupBy(col("is_tomb"))
      .agg(count(lit(1)).as("n"), sum(col("rc")).as("rows"))
      .collect()
      .map(r => r.getBoolean(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (nFiles, dataRows) = totals.getOrElse(false, (0L, 0L))
    val (nTombGens, matchedRows) = totals.getOrElse(true, (0L, 0L))
    val nRows = dataRows - matchedRows
    val boundsExact = nTombGens == 0L
    val perCol = files
      .groupBy(col("column"))
      .agg(org.apache.spark.sql.functions
          .countDistinct(col("generation"), col("file")).as("covered"),
        min(col("min_num")).as("mn_num"), max(col("max_num")).as("mx_num"),
        min(col("min_str")).as("mn_str"), max(col("max_str")).as("mx_str"))
      .collect()
      .map(r => r.getString(0) -> r).toMap
    val out = columns.map { c =>
      val r = perCol.get(c)
      val covered = r.map(_.getLong(1)).getOrElse(0L)
      require(covered == nFiles,
        s"chainStats: column '$c' lacks stats on ${nFiles - covered} of " +
          s"$nFiles chain files — a partial bound is not a bound")
      (c, nRows, r.flatMap(x => Option(x.get(2)).map(_.asInstanceOf[Double])),
        r.flatMap(x => Option(x.get(3)).map(_.asInstanceOf[Double])),
        r.flatMap(x => Option(x.get(4)).map(_.asInstanceOf[String])),
        r.flatMap(x => Option(x.get(5)).map(_.asInstanceOf[String])),
        boundsExact)
    }
    out.toDF("column", "n_rows", "min_num", "max_num", "min_str",
      "max_str", "bounds_exact")
  }

  /** One generation's manifest frame, chain checks already done. */
  private def manifestOwn(spark: SparkSession, dir: String,
      version: Long): DataFrame = {
    val mp = java.nio.file.Paths.get(dir, s"v$version", "_manifest")
    require(java.nio.file.Files.exists(mp),
      s"no per-file stats on $dir v$version — commit with statsCols to " +
        "enable metadata-only answering")
    readParquet(spark, mp.toString)
  }

  /** The guard every one-generation skipping decision shares: `version`
    * must be a data version whose files are all its own — a merge-on-
    * read delete commit has no data files, and an append commit's own
    * sidecars cover only its own generation.
    */
  private def requireDataVersion(fn: String, dir: String, version: Long): Unit = {
    require(baseOf(dir, version).isEmpty,
      s"$fn targets data versions; v$version of $dir is a " +
        "merge-on-read delete commit — compact first or prune its base")
    require(appendBaseOf(dir, version).isEmpty,
      s"$fn covers one generation; v$version of $dir is an " +
        "append commit — prune each generation against its own sidecar")
  }

  /** File-skipping decision for `column IN (keys)` on a bloom-carrying
    * version: a file survives iff its filter says ANY key might be
    * present. This is the point-lookup complement to [[pruneFiles]] —
    * min/max ranges are powerless when a high-cardinality key is
    * scattered across every file (each file's [min,max] spans the whole
    * keyspace), but a bloom answers "definitely not here" per file, so
    * a needle query on an unpartitioned, unclustered 100 TB table opens
    * ~the files that actually hold the needles (plus the disclosed 1%
    * false-positive tail). No false negatives: correctness never
    * depends on the filter, only I/O does. Keys are canonicalized
    * through the same string form the build side inserted. Absent or
    * column-less blooms are a LOUD error, same contract as
    * [[pruneFiles]]. Decided on the driver over the `_bloomtab/` rows,
    * one deserialized filter at a time: no Spark job.
    * [[readWhereIn]]/[[readWhereMulti]] route through this.
    */
  def pruneFilesBloom(dir: String, version: Long, column: String,
      keys: Seq[Any]): (Seq[String], Int) = {
    requireDataVersion("pruneFilesBloom", dir, version)
    bloomDecision(dir, version, column, keys)
  }

  /** The bloom probe, chain guards already applied by callers:
    * (surviving file paths, file count), loud on no keys and when the
    * column has no filters.
    */
  private def bloomDecision(dir: String, version: Long, column: String,
      keys: Seq[Any]): (Seq[String], Int) = {
    require(keys.nonEmpty, "a bloom probe needs at least one key")
    val keyBytes = keys.map(k => bloomKeyBytes(String.valueOf(k)))
    val decided = foldBlooms(dir, version, Some(column)) { (file, _, bf) =>
      file -> keyBytes.exists(bf.mightContainBinary)
    }
    require(decided.nonEmpty,
      s"no per-file bloom for column '$column' on $dir v$version — " +
        "commit with bloomCols to enable point-lookup file skipping")
    (decided.collect { case (f, true) => s"$dir/v$version/$f" }, decided.size)
  }

  /** ONE GENERATION's own-file skipping decision for `column IN
    * (keys)` — the per-generation building block a chain read composes
    * ([[pruneFilesBloom]] refuses append versions precisely because
    * its answer covers one generation's files and silently presenting
    * it as the chain answer would be wrong; this is that
    * one-generation answer made EXPLICIT). A delete commit carries no
    * data files and is refused loudly. Returns (surviving own file
    * paths, own file total).
    */
  def pruneFilesBloomOwn(dir: String, version: Long,
      column: String, keys: Seq[Any]): (Seq[String], Int) = {
    require(baseOf(dir, version).isEmpty,
      s"pruneFilesBloomOwn: v$version of $dir is a merge-on-read delete " +
        "commit with no data files of its own")
    bloomDecision(dir, version, column, keys)
  }

  /** Bloom-pruned point-lookup read over an APPEND CHAIN: each
    * generation's own files prune against that generation's own bloom
    * sidecar, the surviving scans union BY NAME (per-generation
    * layouts and schemas stay free, the spec-evolution discipline),
    * and the row-level IN filter applies on top — byte-identical to
    * the full chain scan, pure I/O savings in EVERY generation. This
    * is the needle read for a table that took a year of ingest
    * batches: the chain's depth costs nothing but one sidecar decision
    * per generation. Tombstone-carrying chains (delete or upsert
    * commits) are refused loudly — an anti-join under per-generation
    * pruning could only be answered correctly by also scanning the
    * tombstones, which [[readAt]] already does; compact first.
    */
  def readWhereInChain(spark: SparkSession, dir: String, version: Long,
      column: String, keys: Seq[Any]): DataFrame = {
    val gens = chainOf(dir, version)
    gens.foreach { g =>
      require(baseOf(dir, g).isEmpty && !isUpsert(dir, g),
        s"readWhereInChain: v$g of $dir carries tombstones — their " +
          "anti-join defeats per-generation pruning; compact first or " +
          "use readAt")
    }
    gens.map { g =>
      val (files, _) = pruneFilesBloomOwn(dir, g, column, keys)
      readKept(spark, s"$dir/v$g", files)
    }.reduce(_.unionByName(_, allowMissingColumns = true))
      .filter(col(column).isin(keys: _*))
  }

  /** Bloom-pruned point-lookup read: `readAt(version).filter(column IN
    * keys)` that opens ONLY the files whose bloom admits at least one
    * key. The row-level IN filter still applies (a bloom keeps false
    * positives), so the answer is byte-identical to the full scan —
    * pure I/O savings, like [[readWhere]].
    *
    * Merge-on-read delete commits resolve like [[readAt]]: the pruning
    * happens on the underlying DATA version's sidecar (a bloom cannot
    * forget a key, so a deleted key only costs a false-positive file
    * open) and every `_deletes` level in the chain applies on top
    * ([[withoutTombstones]]) —
    * a point lookup can never resurrect an erased key through the
    * skipping path.
    */
  def readWhereIn(spark: SparkSession, dir: String, version: Long,
      column: String, keys: Seq[Any]): DataFrame =
    prunedInScan(spark, dir, version, column, keys)
      .filter(col(column).isin(keys: _*))

  /** The bloom-pruned chain scan WITHOUT the residual row filter —
    * shared by [[readWhereIn]] (which adds an IN literal, parquet-
    * pushable for bounded key lists) and [[readWhereInFrom]]'s
    * large-key path (which adds a broadcast semi-join instead, because
    * a Catalyst IN over tens of thousands of literals bloats the
    * expression tree and codegen).
    */
  private def prunedInScan(spark: SparkSession, dir: String, version: Long,
      column: String, keys: Seq[Any]): DataFrame = baseOf(dir, version) match {
    case Some(b) =>
      withoutTombstones(spark, prunedInScan(spark, dir, b, column, keys), dir, version)
    case None =>
      val (files, _) = pruneFilesBloom(dir, version, column, keys)
      readKept(spark, s"$dir/v$version", files)
  }

  /** Past this many keys the residual filter becomes a broadcast
    * semi-join on a local relation instead of an IN literal list — an
    * IN with tens of thousands of literals bloats the Catalyst tree
    * and the generated code, while a broadcast hash semi-join costs
    * one small build side. Below it the IN wins (it pushes into the
    * parquet row-group filters). The same bound decides when a
    * tombstone set applies as an in-plan `NOT IN` ([[withoutTombstones]]).
    */
  val InlineInLiteralMax: Int = 1024

  /** DYNAMIC file pruning — [[readWhereIn]] whose key set comes from a
    * DIMENSION-SIDE frame at runtime instead of from literals: the
    * semi-join shape every star-schema needle query has (`fact JOIN
    * (small filtered dim)`), pruned at the MANIFEST level. The dim
    * side's distinct keys are collected (the same driver-bounded
    * broadcast Spark's own dynamic partition pruning performs on its
    * dim side — `maxKeys` bounds it LOUDLY: a dim side too big to
    * collect is too big to bloom-probe per key, and the caller should
    * fall back to a plain shuffle join; the default matches
    * broadcast-side DPP scale, NOT the biggest list the driver could
    * physically hold) and probed against the fact version's per-file
    * blooms, so the fact side opens ~the files that hold matching
    * keys. The residual row filter is an IN literal up to
    * [[InlineInLiteralMax]] keys (parquet-pushable) and a broadcast
    * semi-join on a LOCAL relation above it (a 10⁴-literal IN bloats
    * the Catalyst tree and codegen; the semi-join costs one small
    * build side) — either way the answer is byte-identical to the
    * full-scan semi-join.
    *
    * @note BEHAVIORAL CHANGE (r19): the default `maxKeys` dropped from
    *       `1 << 20` to `1 << 16`. A caller whose dim side holds
    *       between ~65k and 1M distinct keys, and who previously relied
    *       on the implicit default, now gets a loud
    *       IllegalArgumentException instead of a run — pass
    *       `maxKeys = 1 << 20` explicitly to restore the old bound (the
    *       broadcast-semi-join residual handles it correctly; the
    *       default is conservative because a million per-key bloom
    *       probes per file is rarely the plan you want — past DPP
    *       scale, a plain shuffle join usually wins).
    */
  def readWhereInFrom(spark: SparkSession, dir: String, version: Long,
      column: String, keysDf: DataFrame, maxKeys: Int = 1 << 16): DataFrame = {
    require(keysDf.columns.length == 1,
      s"readWhereInFrom wants a single-column key frame, got " +
        s"(${keysDf.columns.mkString(", ")}) — select the join key")
    val keys = keysDf.distinct().limit(maxKeys + 1).collect()
      .map(_.get(0)).toSeq
    require(keys.size <= maxKeys,
      s"readWhereInFrom: dim side exceeds maxKeys=$maxKeys distinct " +
        "keys — too big for per-key bloom probing; use a shuffle join")
    if (keys.isEmpty)
      // a dim side with no matches is a VALID query whose semi-join
      // answer is zero rows — the perfect prune (no fact files open),
      // not an error
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        readAt(spark, dir, version).schema)
    else if (keys.size <= InlineInLiteralMax)
      readWhereIn(spark, dir, version, column, keys)
    else {
      // large key set: residual as a broadcast LEFT SEMI against a
      // local relation of the already-collected keys (no file leaves,
      // no re-read of the dim side). Null keys never match under
      // either form — IN and the equi-semi-join are both null-rejecting
      // — so the answers coincide.
      import scala.jdk.CollectionConverters._
      val keyField = keysDf.schema.fields.head
      val local = spark.createDataFrame(
        keys.filter(_ != null).map(org.apache.spark.sql.Row(_)).asJava,
        org.apache.spark.sql.types.StructType(
          Seq(keyField.copy(name = column))))
      prunedInScan(spark, dir, version, column, keys)
        .join(org.apache.spark.sql.functions.broadcast(local),
          Seq(column), "left_semi")
    }
  }

  /** File-skipping decision for `column BETWEEN lo AND hi` on a stats-
    * carrying version: returns (surviving file paths, total file
    * count). A file survives iff its [min,max] interval overlaps
    * [lo,hi] ([[overlaps]]); an all-null file (no min/max) cannot match
    * a range predicate and is pruned. Absent or column-less stats are a
    * LOUD error, not a silent full scan — a caller relying on skipping
    * must know when the manifest it priced its query on is missing.
    */
  def pruneFiles(dir: String, version: Long, column: String,
      lo: Any, hi: Any): (Seq[String], Int) = {
    requireDataVersion("pruneFiles", dir, version)
    statsDecision(readStats(dir, version), dir, version, column)(overlaps(_, lo, hi))
  }

  /** Whether a file's [min,max] for a column overlaps [lo,hi], compared
    * exactly under the column's type tag ([[cmpStat]]: longs and
    * decimals past 2^53 stay exact); an all-null file cannot.
    */
  private def overlaps(st: ColStats, lo: Any, hi: Any): Boolean =
    (st.min, st.max) match {
      case (Some(mn), Some(mx)) =>
        cmpStat(st.typ, mn, String.valueOf(hi)) <= 0 &&
          cmpStat(st.typ, mx, String.valueOf(lo)) >= 0
      case _ => false // all-null file: no row can satisfy a range
    }

  /** One stats term's decision: the files whose stats for `column`
    * pass `keep`, as (surviving file paths, file count); loud when the
    * column carries no stats.
    */
  private def statsDecision(stats: Seq[ColStats], dir: String, version: Long,
      column: String)(keep: ColStats => Boolean): (Seq[String], Int) = {
    val own = stats.filter(_.col == column)
    require(own.nonEmpty,
      s"no per-file stats for column '$column' on $dir v$version — " +
        "commit with statsCols to enable file skipping")
    (own.filter(keep).map(st => s"$dir/v$version/${st.file}"), own.size)
  }

  /** Stats-pruned range read: `readAt(version).filter(column between
    * lo and hi)` that opens ONLY the files whose min/max admit a
    * match. The row-level filter still applies (file stats are a
    * superset bound), so the answer is byte-identical to the full
    * scan — the pruning is pure I/O savings, which is the entire game
    * on an unpartitioned 100 TB predicate read. `basePath` keeps
    * hive-partition columns resolving when the commit was partitioned.
    * Merge-on-read delete commits resolve like [[readAt]]: pruning on
    * the data version's sidecar, each `_deletes` level applied on top
    * ([[withoutTombstones]]).
    */
  def readWhere(spark: SparkSession, dir: String, version: Long,
      column: String, lo: Any, hi: Any): DataFrame = baseOf(dir, version) match {
    case Some(b) =>
      withoutTombstones(spark, readWhere(spark, dir, b, column, lo, hi), dir, version)
    case None =>
      val (files, _) = pruneFiles(dir, version, column, lo, hi)
      readKept(spark, s"$dir/v$version", files)
        .filter(col(column) >= lit(lo) && col(column) <= lit(hi))
  }

  // ------------------------------- conjunctive multi-column skipping

  /** One term of a conjunctive file-skipping predicate. Real predicates
    * are ANDs over several columns; a single-column prune leaves the
    * other terms' skipping power on the table.
    */
  sealed trait PrunePredicate { def column: String }

  /** `column BETWEEN lo AND hi` — decided against the per-file stats
    * (min/max overlap).
    */
  final case class RangePredicate(column: String, lo: Any, hi: Any)
      extends PrunePredicate

  /** `column IN (keys)` — decided against the per-file bloom sidecar
    * (a file survives iff any key might be present).
    */
  final case class InPredicate(column: String, keys: Seq[Any])
      extends PrunePredicate

  /** `column IS NULL` / `IS NOT NULL` — decided against the per-file
    * stats' null counts: a file with zero nulls cannot satisfy IS
    * NULL, an all-null file cannot satisfy IS NOT NULL.
    * The null-count side of the Delta/Iceberg stats record, which
    * range and bloom terms can't use (neither sidecar sees nulls).
    */
  final case class NullPredicate(column: String, isNull: Boolean)
      extends PrunePredicate

  /** File-skipping decision for a CONJUNCTION of predicates — the shape
    * real queries have (`WHERE k BETWEEN … AND bucket IN (…)`): each
    * term's survivor set comes from its own sidecar (ranges and null
    * tests from the stats, INs from the bloom — the same decisions
    * [[pruneFiles]] and [[pruneFilesBloom]] make), and the sets
    * INTERSECT, so the conjunction prunes at least as hard as its
    * strongest term and usually strictly harder — on a 2-D-clustered
    * 100 TB layout that is the difference between "one stripe" and
    * "one cell". Same contract as the single-term prunes: a term whose
    * sidecar is missing is a LOUD error, never a silent no-op (a
    * silently skipped term would still be correct here — survivors
    * only shrink — but a caller who priced the query on that term's
    * skipping must know). Decided on the driver: no Spark job.
    */
  def pruneFilesMulti(dir: String, version: Long,
      preds: Seq[PrunePredicate]): (Seq[String], Int) = {
    require(preds.nonEmpty, "pruneFilesMulti needs at least one predicate")
    requireDataVersion("pruneFilesMulti", dir, version)
    lazy val stats = readStats(dir, version)
    // every term's sidecar has one row per file, so each term counts
    // the same total
    val decided = preds.map {
      case RangePredicate(c, lo, hi) =>
        statsDecision(stats, dir, version, c)(overlaps(_, lo, hi))
      case InPredicate(c, keys) => bloomDecision(dir, version, c, keys)
      case NullPredicate(c, isNull) =>
        statsDecision(stats, dir, version, c)(st =>
          if (isNull) st.nulls > 0 else st.nulls < st.rowCount)
    }
    (decided.map(_._1.toSet).reduce(_ intersect _).toSeq.sorted, decided.head._2)
  }

  /** Conjunction-pruned read: `readAt(version).filter(AND(preds))` that
    * opens only the files every term's sidecar admits. Row-level
    * filters for ALL terms still apply (stats are a superset bound,
    * blooms keep false positives), so the answer is byte-identical to
    * the full scan — pure I/O savings, like [[readWhere]]. Merge-on-
    * read delete commits resolve like [[readAt]]: pruning on the data
    * version's sidecars, each `_deletes` level applied on top
    * ([[withoutTombstones]]).
    */
  def readWhereMulti(spark: SparkSession, dir: String, version: Long,
      preds: Seq[PrunePredicate]): DataFrame = baseOf(dir, version) match {
    case Some(b) =>
      withoutTombstones(spark, readWhereMulti(spark, dir, b, preds), dir, version)
    case None =>
      val (files, _) = pruneFilesMulti(dir, version, preds)
      readKept(spark, s"$dir/v$version", files).filter(preds.map {
        case RangePredicate(c, lo, hi) => col(c) >= lit(lo) && col(c) <= lit(hi)
        case InPredicate(c, keys) => col(c).isin(keys: _*)
        case NullPredicate(c, true) => col(c).isNull
        case NullPredicate(c, false) => col(c).isNotNull
      }.reduce(_ && _))
  }

  // -------------------------------------------------------- maintenance

  /** Retention: delete all but the newest `keepLast` snapshot
    * directories. The version `current` names is never deleted
    * regardless of `keepLast`, and neither is any version REACHABLE
    * from a kept version through a merge-on-read `_base` chain —
    * expiring a delete commit's base would turn its readers into
    * crashes (compaction, not retention, is how chains end). Also
    * garbage-collects crashed writers' `.staged-*` directories and
    * orphaned `.current.tmp*` pointer temps older than the staged-GC
    * threshold (`graft.snapshot.stagedGcMs`, default 24 h — generous
    * because a LIVE writer's staging directory legitimately ages for
    * the whole duration of a large write; only expire reclaims these,
    * never the commit path, so routine commits cannot race a slow
    * writer's staging I/O). Returns the versions removed. Like every
    * table format's VACUUM, this is the one operation that can break
    * an in-flight time-travel reader of an EXPIRED version; callers
    * pick a retention window longer than their longest job.
    */
  def expire(dir: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val live = currentVersion(dir)
    val all = versions(dir)
    val keep = scala.collection.mutable.Set.empty[Long]
    // a kept version must keep everything it READS: delete commits
    // reach through `_base`, append commits through `_append`. Branch
    // heads are roots too — an unpublished WAP candidate must survive
    // retention until its branch is dropped or published.
    def reach(v: Long): Unit =
      if (keep.add(v)) {
        baseOf(dir, v).foreach(reach)
        appendBaseOf(dir, v).foreach(reach)
      }
    (all.takeRight(keepLast) ++ live ++
      branches(dir).flatMap(b => branchVersion(dir, b))).foreach(reach)
    val drop = all.filterNot(keep)
    drop.foreach(v => io(dir).dropVersion(tablePath(dir), v))
    gcStaged(dir)
    drop
  }

  /** Sweep crash debris: `.staged-*` data directories and `.current.
    * tmp*` pointer temps whose mtime is older than the threshold. A
    * directory's mtime does not advance while a single large file is
    * being written inside it, hence the conservative default — this
    * reclaims writers that died DAYS ago, not writers that are slow.
    */
  private def gcStaged(dir: String): Unit = {
    val ttlMs = java.lang.Long.getLong("graft.snapshot.stagedGcMs",
      24L * 3600 * 1000)
    val now = System.currentTimeMillis()
    val children = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
    children.foreach { f =>
      val n = f.getName
      // ".current.tmp*"/".ref.tmp*" are legacy pre-FileIO temp names;
      // the POSIX profile now writes ".<pointer-name>.tmp<hex>"
      // (".current.tmp…", ".ref.<branch>.tmp…") — both shapes swept
      if ((n.startsWith(".staged-") || n.startsWith(".current.") ||
          n.startsWith(".ref.")) && now - f.lastModified() > ttlMs)
        deleteTree(f.getPath)
    }
  }

  /** Reclaim DEBRIS VERSIONS: directories that are (a) CAS losers no
    * ref ever published (a conditional commit that lost its race, a
    * monotonicity-skipped blind write — [[publishedRefs]] is the
    * provenance), or (b) versions published ONLY to refs that have
    * since been dropped (an abandoned write-audit-publish candidate
    * after [[dropBranch]] — Iceberg's ref-reachability expiration),
    * in both cases provided nothing live reads them through a
    * `_base`/`_append` chain. This is the complement of [[expire]]:
    * expire ages out real HISTORY by count, this removes versions that
    * never became (or no longer have) history — at 100 TB a contended
    * ingest's losers and failed-audit candidates are full-size data
    * directories, and a format that never reclaims them leaks the
    * table's own volume. Safety rails: the main pointer's chain, every
    * branch head's chain, and every version a still-existing ref ever
    * published (plus everything those read) are always kept; a version
    * younger than `olderThanMs` is kept (a racing writer may be
    * between its claim-rename and its flip RIGHT NOW — age is what
    * proves abandonment, same reasoning as the stale-lock reclaim);
    * and a table with no publish log keeps everything (no provenance,
    * no GC — the conservative reading for pre-log tables). Returns the
    * versions removed.
    */
  def gcOrphans(dir: String,
      olderThanMs: Long = java.lang.Long.getLong(
        "graft.snapshot.orphanGcMs", 24L * 3600 * 1000)): Seq[Long] = {
    val pubs = publishedRefs(dir)
    if (pubs.isEmpty) return Seq.empty
    val fio = io(dir)
    val liveRefs = branches(dir).toSet ++
      (if (fio.readPointer(tablePath(dir), "current").isDefined)
         Set("current")
       else Set.empty[String])
    val keep = scala.collection.mutable.Set.empty[Long]
    def reach(v: Long): Unit =
      if (keep.add(v)) {
        baseOf(dir, v).foreach(reach)
        appendBaseOf(dir, v).foreach(reach)
      }
    (currentVersion(dir).toSeq ++
      branches(dir).flatMap(b => branchVersion(dir, b))).foreach(reach)
    // a version a STILL-EXISTING ref ever published is HISTORY
    // (expire's domain, not ours), and keeps everything it reads
    pubs.foreach { case (v, refs) =>
      if (refs.exists(liveRefs) && fio.versionVisible(tablePath(dir), v))
        reach(v)
    }
    // pre-log history is indistinguishable from pre-log debris — keep
    // it ALL. The floor is the creation marker's recorded max version
    // (explicit: a fresh table's floor is v0, so a CAS loser claimed on
    // an empty table IS reclaimable); legacy logs without the marker
    // fall back to the min-published inference, which errs conservative.
    val floor = preLogFloor(dir, pubs)
    val now = System.currentTimeMillis()
    val orphans = versions(dir).filter { v =>
      v > floor && !keep.contains(v) &&
        now - fio.claimedAtMs(tablePath(dir), v) > olderThanMs
    }
    // plus torn debris no reader can ever see: claims whose writer died
    // before sealing (only the rename-less profile can produce these —
    // under POSIX a v<N> directory IS the seal). Same age bar: a young
    // unsealed claim may be a live writer mid-copy RIGHT NOW.
    val debris = fio.listDebris(tablePath(dir)).filter { v =>
      v > floor && !keep.contains(v) &&
        now - fio.claimedAtMs(tablePath(dir), v) > olderThanMs
    }
    (orphans ++ debris).distinct.sorted
      .map { v => fio.dropVersion(tablePath(dir), v); v }
  }

  /** Serialize the pointer check-and-flip across processes via atomic
    * lock-file creation. Held for microseconds (no data I/O inside),
    * which makes AGE proof of a crashed owner: a lock older than
    * `graft.snapshot.staleLockMs` (default 60 s) is reclaimed in place
    * — the crash debris of a writer that died between createFile and
    * its finally never wedges the table. The lock file carries the
    * owner's pid/timestamp for diagnostics. A FRESH contended lock
    * still fails loudly after the bounded acquisition spin, with
    * removal instructions, rather than deadlocking or silently
    * proceeding into a lost update.
    */
  private def withPointerLock[A](dir: String)(body: => A): A = {
    val lock = java.nio.file.Paths.get(dir, ".commit.lock")
    // property-tunable so the stale-lock spec doesn't stall the build
    val timeoutMs = java.lang.Long.getLong("graft.snapshot.lockTimeoutMs", 10000L)
    val staleMs = java.lang.Long.getLong("graft.snapshot.staleLockMs", 60000L)
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var acquired = false
    while (!acquired) {
      try {
        java.nio.file.Files.createFile(lock)
        // diagnostic only — the atomic createFile above IS the claim
        try java.nio.file.Files.writeString(lock,
          s"pid=${ProcessHandle.current().pid()} ts=${System.currentTimeMillis()}")
        catch { case scala.util.control.NonFatal(_) => () }
        acquired = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          val age =
            try System.currentTimeMillis() -
              java.nio.file.Files.getLastModifiedTime(lock).toMillis
            catch { case _: java.nio.file.NoSuchFileException => 0L }
          if (age > staleMs) {
            // crashed owner (the flip is microseconds; minutes of age
            // is not "slow"): reclaim. deleteIfExists + the create
            // race above arbitrate multiple reclaimers — one wins.
            java.nio.file.Files.deleteIfExists(lock)
          } else if (System.nanoTime() > deadline)
            throw new IllegalStateException(
              s"could not acquire $lock within ${timeoutMs}ms — a writer " +
                "crashed mid-flip or is wedged; verify no writer is live, " +
                "then remove the lock file")
          else Thread.sleep(5)
      }
    }
    try body
    finally java.nio.file.Files.deleteIfExists(lock)
  }

  /** Recursive delete that FAILS LOUDLY when the tree survives — a
    * half-deleted snapshot directory is exactly the state that makes a
    * later reader or version-numbering decision silently wrong (a
    * leftover v2 shifts the next commit to v3 while a caller that
    * assumed fresh numbering reads stale data). Null-safe against
    * listFiles' I/O-error null. Deleting a path that does not exist is
    * a no-op, not an error.
    */
  def deleteTree(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) {
        val children = f.listFiles()
        require(children != null, s"deleteTree: cannot list $f")
        children.foreach(rm)
      }
      require(f.delete(), s"deleteTree: failed to delete $f")
    }
    val f = new java.io.File(path)
    if (f.exists()) rm(f)
  }
}
