package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface. The reference has no streaming
  * (SURVEY.md §2.11) — this is the harness-native extension: the SAME
  * transforms as the batch `Events` queries, applied to an unbounded
  * source, plus a stateful sessionizer built on flatMapGroupsWithState.
  *
  * Design: batch/stream parity by construction — `tumblingCounts` takes a
  * DataFrame and doesn't care whether it's bounded; only the
  * read/write edges differ.
  */
object Streaming {

  /** Schema of the events table (micros timestamps — streaming readers
    * must declare schemas up front; no inference).
    */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over a directory of parquet event files. New files
    * appearing in `dir` become micro-batches; `maxFilesPerTrigger` bounds
    * batch size for steady latency.
    */
  def readEventsStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(eventsSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Tumbling-window counts per event type with a watermark for state
    * cleanup. Works identically on batch and streaming inputs; on a
    * stream, late rows beyond `watermark` are dropped and window state is
    * evicted — bounded memory at any scale.
    */
  def tumblingCounts(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Native session-window aggregation per user (gap-merged windows,
    * the built-in counterpart of [[sessionize]]'s explicit state
    * machine). Same batch/stream parity contract as [[tumblingCounts]]:
    * the watermark bounds session state on a stream — a session closes
    * for good once the watermark passes its gap — and is a no-op on a
    * bounded frame.
    */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("sum_value"))

  final case class SessionEvent(user_id: Long, ts_us: Long)
  final case class SessionState(start_us: Long, last_us: Long, n: Long)
  final case class SessionOut(user_id: Long, start_us: Long, end_us: Long,
      n_events: Long, closed_by: String)

  /** Stateful gap sessionizer: one state per user, session closes after
    * `gapUs` of silence (event-time within a batch; processing-time
    * timeout across batches). Emits a row per closed session. This is the
    * mapGroupsWithState form of the batch `events_sessionize` query —
    * state per key is O(1), so it scales to any number of users.
    */
  /** One batch's worth of session-state transition for one user — the
    * pure core of [[sessionize]], extracted so cross-batch behavior
    * (late events arriving after state was committed) is directly unit-
    * testable without driving a streaming runtime.
    */
  private[graft] def advanceSession(userId: Long, batch: Seq[SessionEvent],
      prior: Option[SessionState], gapUs: Long)
      : (Option[SessionState], List[SessionOut]) = {
    var cur = prior
    // trailing accumulator for grossly-late events: consecutive late
    // events mutually within gapUs merge into ONE late-session (the way
    // batch session_window would merge them) instead of one singleton
    // each. Late events are a prefix of the ascending-sorted batch (the
    // lateness bound only moves down), so closing on the first non-late
    // event keeps emission order: late sessions first.
    var lateCur: Option[SessionState] = None
    val closed = List.newBuilder[SessionOut]
    def closeLate(): Unit = {
      lateCur.foreach(l =>
        closed += SessionOut(userId, l.start_us, l.last_us, l.n, "late"))
      lateCur = None
    }
    batch.sortBy(_.ts_us).foreach { e =>
      cur match {
        // a GROSSLY late event (before even the session's start minus
        // one gap) belongs to some long-closed earlier session — batch
        // session_window would never merge it with the LIVE session.
        // Accumulate it into the trailing late-session instead of
        // letting it stretch start_us arbitrarily backwards.
        case Some(s) if e.ts_us < s.start_us - gapUs =>
          lateCur match {
            case Some(l) if e.ts_us - l.last_us <= gapUs =>
              lateCur = Some(l.copy(
                last_us = math.max(l.last_us, e.ts_us), n = l.n + 1))
            case _ =>
              closeLate()
              lateCur = Some(SessionState(e.ts_us, e.ts_us, 1))
          }
        case Some(s) if e.ts_us - s.last_us <= gapUs =>
          closeLate()
          // max/min, not assignment: a CROSS-batch late event
          // (e.ts_us < s.last_us from an earlier batch) must not
          // rewind the session clock — that would spuriously
          // gap-close against the rewound time and regress end_us
          cur = Some(s.copy(
            start_us = math.min(s.start_us, e.ts_us),
            last_us = math.max(s.last_us, e.ts_us),
            n = s.n + 1))
        case Some(s) =>
          closeLate()
          closed += SessionOut(userId, s.start_us, s.last_us, s.n, "gap")
          cur = Some(SessionState(e.ts_us, e.ts_us, 1))
        case None =>
          cur = Some(SessionState(e.ts_us, e.ts_us, 1))
      }
    }
    closeLate()
    (cur, closed.result())
  }

  def sessionize(events: Dataset[SessionEvent], gapUs: Long,
      timeoutMs: Long = 60000): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(s =>
              SessionOut(userId, s.start_us, s.last_us, s.n, "timeout")).toList
            state.remove()
            out.iterator
          } else {
            val (cur, closed) =
              advanceSession(userId, rows.toSeq, state.getOption, gapUs)
            cur.foreach(state.update)
            state.setTimeoutDuration(timeoutMs)
            closed.iterator
          }
      }
  }

  /** Streaming exact dedup: drop events whose `event_id` was already
    * seen, keeping per-key state only within the watermark horizon —
    * the unbounded-input form of the batch `dedup_exact` query. State
    * is one entry per distinct key per watermark window, evicted as
    * event time advances: bounded memory on an infinite stream (a plain
    * `dropDuplicates` on a stream would grow state forever).
    */
  def dedupStream(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: pair each left event with the right
    * events of the SAME user that land within `bound` after it — the
    * attribution-join shape (click → purchase within N minutes). Both
    * sides carry watermarks and the join condition carries the time
    * range, so Spark can bound the buffered state on each side and evict
    * rows as event time advances — without both, a stream-stream join is
    * unbounded state. Batch parity by construction: on bounded frames the
    * same function degenerates to a plain range join (watermarks are
    * no-ops in batch).
    *
    * Columns are prefixed l_/r_ because both sides share the events
    * schema.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      bound: String = "30 minutes",
      leftWatermark: String = "1 hour",
      rightWatermark: String = "2 hours"): DataFrame = {
    val l = left.select(
        col("event_id").as("l_event_id"), col("ts").as("l_ts"),
        col("user_id").as("user_id"), col("event_type").as("l_type"))
      .withWatermark("l_ts", leftWatermark)
    val r = right.select(
        col("event_id").as("r_event_id"), col("ts").as("r_ts"),
        col("user_id").as("r_user_id"), col("event_type").as("r_type"))
      .withWatermark("r_ts", rightWatermark)
    l.join(r,
      col("user_id") === col("r_user_id") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"interval $bound"))
      .select(col("user_id"), col("l_event_id"), col("l_type"), col("l_ts"),
        col("r_event_id"), col("r_type"), col("r_ts"))
  }

  /** [[intervalJoin]] with LEFT OUTER semantics — the attribution shape
    * "every click, with its purchase if one followed within the bound,
    * else a null row". Unlike the inner join, the outer row for an
    * unmatched click can only emit once the watermark PROVES no
    * matching purchase can still arrive (event time has passed
    * l_ts + bound on the join clock), so rows near the end of a
    * bounded stream whose no-match proof never completes stay buffered
    * and are NEVER emitted — streaming left-outer is not batch
    * left-outer on a finite prefix, and the gate's oracle encodes
    * exactly that watermark cutoff.
    */
  def intervalJoinLeftOuter(left: DataFrame, right: DataFrame,
      bound: String = "30 minutes",
      leftWatermark: String = "1 hour",
      rightWatermark: String = "2 hours"): DataFrame = {
    val l = left.select(
        col("event_id").as("l_event_id"), col("ts").as("l_ts"),
        col("user_id").as("user_id"), col("event_type").as("l_type"))
      .withWatermark("l_ts", leftWatermark)
    val r = right.select(
        col("event_id").as("r_event_id"), col("ts").as("r_ts"),
        col("user_id").as("r_user_id"), col("event_type").as("r_type"))
      .withWatermark("r_ts", rightWatermark)
    l.join(r,
      col("user_id") === col("r_user_id") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"interval $bound"),
      "leftOuter")
      .select(col("user_id"), col("l_event_id"), col("l_type"), col("l_ts"),
        col("r_event_id"), col("r_type"), col("r_ts"))
  }

  /** Stream-static enrichment: join each micro-batch against a bounded
    * dimension frame. The static side is re-planned per batch (so a
    * refreshed dim parquet is picked up) and broadcast — the streaming
    * side never shuffles, which is the only sane shape when the stream
    * is the big side. Same function works on a batch frame (parity
    * asserted in StreamingSpec).
    */
  def enrichStream(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** foreachBatch incremental upsert: maintains a per-user latest-state
    * table in parquet across micro-batches. Each batch is reduced to one
    * row per key FIRST (max ts wins, event_id tie-break), then merged
    * with the current state by a full-outer join — the streaming form of
    * the batch `merge_upsert_orders` / `mv_incremental_refresh`
    * algebra: state size is O(distinct keys), independent of stream
    * length, and each batch touches state once.
    *
    * Each batch's new state publishes through
    * [[graft.ops.SnapshotTable.commit]] — the same spine every other
    * on-disk table in the engine uses (atomic staged-rename data,
    * atomic pointer flip, CAS against the version this batch's merge
    * read, so a misconfigured second writer on one state dir fails
    * loudly instead of silently losing updates). Exactly-once
    * durability is layered: the streaming CHECKPOINT decides which
    * source files have been applied, and the max-ts-wins merge is
    * idempotent, so a batch retried after a crash between commit and
    * checkpoint re-merges onto the already-merged state and commits an
    * equal successor version — converged state, never lost or doubled
    * updates (the foreachBatch at-least-once contract, absorbed by
    * merge idempotence).
    */
  /** The injected failure [[foreachBatchUpsert]]'s `failAfterBatch`
    * raises: thrown AFTER the state commit but BEFORE the streaming
    * checkpoint records the batch — the exact crash window the
    * exactly-once layering must absorb (the batch re-delivers on
    * restart and the idempotent merge re-converges).
    */
  final class InjectedCrash(msg: String) extends RuntimeException(msg)

  /** Consecutive CAS conflicts a CDC merge tolerates before the stream
    * fails loudly — livelock surfaces, it never spins silently.
    */
  val MaxMergeRetries: Int = 10

  /** CDC merge CAS conflicts observed (testable evidence a concurrent
    * writer forced a re-merge; the contention gate pins its delta).
    */
  val mergeConflictCount = new java.util.concurrent.atomic.AtomicLong

  private def hasInjectedCrash(t: Throwable, depth: Int = 0): Boolean =
    t != null && depth < 20 &&
      (t.isInstanceOf[InjectedCrash] || hasInjectedCrash(t.getCause, depth + 1))

  def foreachBatchUpsert(events: DataFrame, stateDir: String,
      failAfterBatch: Option[Long] = None): DataFrame = {
    import graft.ops.SnapshotTable
    val q = events.writeStream
      .outputMode("update")
      // the checkpoint makes successive invocations INCREMENTAL: a
      // second run over the same source dir processes only new files,
      // so the merge below really is delta-vs-state, not a recompute
      .option("checkpointLocation", s"$stateDir/_ckpt")
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val spark = batch.sparkSession
        val byKey = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
        val latest = batch
          .withColumn("rn", row_number().over(byKey)).filter(col("rn") === 1)
          .select(col("user_id"), col("event_id").as("last_event_id"),
            col("event_type").as("last_type"), col("ts").as("last_ts"))
        val readVersion = SnapshotTable.currentVersion(stateDir)
        val merged = readVersion match {
          case None => latest
          case Some(v) =>
            val state = SnapshotTable.readAt(spark, stateDir, v)
            // max-ts-wins for real: a late-arriving batch whose maximum
            // ts is OLDER than the stored state must not regress it —
            // compare batch vs state, don't blindly prefer the batch
            // (tie-break on event_id, same order as byKey above)
            val takeBatch = col("s.user_id").isNull ||
              (col("b.user_id").isNotNull &&
                (col("b.last_ts") > col("s.last_ts") ||
                  (col("b.last_ts") === col("s.last_ts") &&
                    col("b.last_event_id") >= col("s.last_event_id"))))
            state.as("s").join(latest.as("b"),
                col("s.user_id") === col("b.user_id"), "full_outer")
              .select(
                coalesce(col("b.user_id"), col("s.user_id")).as("user_id"),
                when(takeBatch, col("b.last_event_id"))
                  .otherwise(col("s.last_event_id")).as("last_event_id"),
                when(takeBatch, col("b.last_type"))
                  .otherwise(col("s.last_type")).as("last_type"),
                when(takeBatch, col("b.last_ts"))
                  .otherwise(col("s.last_ts")).as("last_ts"))
        }
        // CAS on the version this merge READ: the single-stream case
        // always passes; a second writer racing this state dir fails
        // loudly here instead of silently losing the other's updates
        SnapshotTable.commit(merged, stateDir,
          expectedVersion = Some(readVersion.getOrElse(0L)))
        // deterministic crash injection for the restart-recovery gate:
        // die AFTER the state commit, BEFORE the checkpoint records
        // this batch — the at-least-once window the idempotent merge
        // must absorb on restart
        if (failAfterBatch.contains(epoch))
          throw new InjectedCrash(
            s"injected crash after batch $epoch committed, before checkpoint")
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination()
    catch {
      // only the DELIBERATE crash is swallowed (the caller restarts
      // from the checkpoint); every real failure still propagates
      case e: org.apache.spark.sql.streaming.StreamingQueryException
          if failAfterBatch.isDefined && hasInjectedCrash(e) => ()
    }
    // zero batches processed (empty source, nothing new) → no commit
    // ever happened; hand back an empty state frame, not a .get
    SnapshotTable.currentVersion(stateDir) match {
      case Some(_) => SnapshotTable.read(events.sparkSession, stateDir)
      case None =>
        val sch = events.schema
        val stateSchema = org.apache.spark.sql.types.StructType(Seq(
          sch("user_id"),
          sch("event_id").copy(name = "last_event_id"),
          sch("event_type").copy(name = "last_type"),
          sch("ts").copy(name = "last_ts")))
        events.sparkSession.createDataFrame(
          events.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          stateSchema)
    }
  }

  /** foreachBatch APPEND ingest: lands each micro-batch on a snapshot
    * table as one delta generation
    * ([[graft.ops.SnapshotTable.commitAppend]]; the first batch seeds
    * the table) — the streaming write path of a 100 TB ingest: every
    * batch costs the BATCH, never a state merge or a rewrite, and the
    * nightly [[graft.ops.SnapshotTable.optimizeDeltas]] folds the
    * accumulated debris.
    *
    * Exactly-once, for APPENDS: an append is not idempotent the way
    * [[foreachBatchUpsert]]'s max-ts merge is — a batch replayed after
    * a crash between its commit and its checkpoint would DOUBLE its
    * rows. So every commit carries its streaming epoch in the
    * version's `_meta.properties` (atomic with the claim-rename), and
    * a batch whose epoch is already on the CURRENT CHAIN skips — the
    * Delta txn-appId/version dedup. The chain walk matters: a
    * CAS-loser orphan's marker is invisible ([[graft.ops.SnapshotTable.chainOf]]),
    * so a crash BEFORE the pointer flip re-delivers (at-least-once)
    * instead of dropping the batch. `failAfterBatch` injects the
    * commit-then-crash window for the recovery gate, exactly like the
    * upsert's.
    */
  /** The stable WRITER IDENTITY of a checkpointed stream: the streaming
    * queryId, read from the checkpoint's own `metadata` file (written by
    * the engine at query start, BEFORE batch 0 runs, and preserved
    * across restarts from the same checkpoint). This is the appId half
    * of Delta's `txn (appId, version)` idempotence record: the
    * exactly-once marker each commit carries is `txn.<queryId> ->
    * epoch`, so the high-water comparison is PER WRITER. Epoch numbers
    * alone are not an identity — a deleted/recreated checkpoint (or a
    * second independent stream ingesting the same table) restarts
    * epochs at 0, and a bare-epoch comparison would silently SKIP every
    * batch at or below the chain's high-water: silent data loss. Under
    * a fresh queryId those batches re-deliver instead (at-least-once
    * duplication — the honest failure mode; there is no exactly-once
    * without the checkpoint).
    */
  private def writerId(checkpointDir: String): String = {
    val p = java.nio.file.Paths.get(checkpointDir, "metadata")
    require(java.nio.file.Files.exists(p),
      s"no streaming metadata under $checkpointDir — writerId must be " +
        "read inside a running query")
    val raw = java.nio.file.Files.readString(p)
    val m = java.util.regex.Pattern
      .compile("\"id\"\\s*:\\s*\"([0-9a-fA-F-]+)\"").matcher(raw)
    require(m.find(), s"checkpoint metadata $p carries no query id: $raw")
    m.group(1)
  }

  /** The chain's exactly-once high-water mark FOR ONE WRITER: the
    * newest `txn.<writerId>` marker on the current chain, walked from
    * the tip down. A single-writer ingest chain stops at the first
    * generation (every commit of this writer carries the marker and
    * optimizeDeltas folds the max forward — O(1) reads per batch); a
    * chain interleaving several writers walks past the other writers'
    * generations, O(their commits since this writer's last). The chain
    * walk (never a raw versions() scan) is what keeps a CAS-loser
    * orphan's marker invisible — a crash BEFORE the pointer flip
    * re-delivers instead of dropping the batch.
    */
  @annotation.tailrec
  private def txnHighWater(tableDir: String, key: String,
      v: Option[Long]): Option[Long] = {
    import graft.ops.SnapshotTable
    v match {
      case None => None
      case Some(x) =>
        SnapshotTable.readMeta(tableDir, x).get(key) match {
          case Some(e) => Some(e.toLong)
          case None => txnHighWater(tableDir, key,
            SnapshotTable.baseOf(tableDir, x)
              .orElse(SnapshotTable.appendBaseOf(tableDir, x)))
        }
    }
  }

  def foreachBatchAppendIngest(events: DataFrame, tableDir: String,
      failAfterBatch: Option[Long] = None): DataFrame = {
    import graft.ops.SnapshotTable
    val ckpt = s"$tableDir/_ckpt"
    val q = events.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val txnKey = s"txn.${writerId(ckpt)}"
        if (txnHighWater(tableDir, txnKey,
            SnapshotTable.currentVersion(tableDir)).exists(_ >= epoch)) {
          // replay of an already-committed batch (crash landed between
          // its commit and its checkpoint): exactly-once by skipping
          ()
        } else {
          // "epoch" is kept alongside the per-writer txn marker as the
          // human-readable provenance stamp; the SKIP decision reads
          // only the writer-scoped key
          val meta = Map("epoch" -> epoch.toString, txnKey -> epoch.toString)
          SnapshotTable.currentVersion(tableDir) match {
            case None => SnapshotTable.commit(batch, tableDir,
              expectedVersion = SnapshotTable.ExpectEmpty, meta = meta)
            case Some(tip) => SnapshotTable.commitAppend(batch, tableDir,
              expectedVersion = tip, meta = meta)
          }
        }
        if (failAfterBatch.contains(epoch))
          throw new InjectedCrash(
            s"injected crash after batch $epoch committed, before checkpoint")
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination()
    catch {
      case e: org.apache.spark.sql.streaming.StreamingQueryException
          if failAfterBatch.isDefined && hasInjectedCrash(e) => ()
    }
    SnapshotTable.currentVersion(tableDir) match {
      case Some(_) => SnapshotTable.read(events.sparkSession, tableDir)
      case None => events.sparkSession.createDataFrame(
        events.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        events.schema)
    }
  }

  /** foreachBatch UPSERT ingest — streaming CDC APPLY into the snapshot
    * spine: each micro-batch is reduced to its latest row per key
    * (max ts, event_id tie-break), guarded against the table's current
    * state (a batch row only wins if it beats the stored row under the
    * same (ts, event_id) order — so the result is the GLOBAL latest per
    * key whatever order the source delivers batches), and applied as
    * ONE atomic [[graft.ops.SnapshotTable.commitUpsert]]: tombstones
    * for the winning keys plus the winning rows, one claim-rename, one
    * pointer flip. Exactly-once needs BOTH halves: the upsert is not
    * idempotent like [[foreachBatchUpsert]]'s state merge (a replayed
    * batch would re-tombstone and re-append), so every commit carries
    * the per-writer `txn.<queryId> -> epoch` marker and a replayed
    * epoch SKIPS — and the single-commit merge means no crash point
    * exposes a deletes-applied/batch-missing table. A batch whose rows
    * ALL lose to stored state commits nothing (the replay recomputes
    * the same empty winner set — idempotent by emptiness).
    * `failAfterBatch` injects the commit-then-crash window exactly like
    * the other ingest runners.
    *
    * MULTI-WRITER: the merge runs under a bounded transact-style retry.
    * A concurrent writer moving the tip between this merge's state read
    * and its commit CAS-fails the commit
    * (`ConcurrentModificationException`); the merge re-reads the NEW
    * tip's state and recomputes its winners — correct under any
    * interleave because the max-(ts, event_id) guard is a total order
    * over stored state, not over commit arrival order, so a re-merge
    * can only converge to the same global latest-per-key. After
    * [[MaxMergeRetries]] consecutive conflicts the stream fails loudly
    * (livelock is surfaced, never silent loss). `raceWindow(epoch)`
    * is the deterministic interleave hook for the contention gate: it
    * runs after the state read, before the commit attempt, once per
    * attempt.
    */
  def foreachBatchUpsertIngest(events: DataFrame, tableDir: String,
      failAfterBatch: Option[Long] = None,
      raceWindow: Long => Unit = _ => ()): DataFrame = {
    import graft.ops.SnapshotTable
    val ckpt = s"$tableDir/_ckpt"
    val q = events.writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val spark = batch.sparkSession
        val txnKey = s"txn.${writerId(ckpt)}"
        if (txnHighWater(tableDir, txnKey,
            SnapshotTable.currentVersion(tableDir)).exists(_ >= epoch)) {
          () // exactly-once: the non-idempotent merge must not replay
        } else {
          val byKey = Window.partitionBy(col("user_id"))
            .orderBy(col("ts").desc, col("event_id").desc)
          val latest = batch
            .withColumn("rn", row_number().over(byKey)).filter(col("rn") === 1)
            .select(col("user_id"), col("event_id").as("last_event_id"),
              col("event_type").as("last_type"), col("ts").as("last_ts"))
          val meta = Map("epoch" -> epoch.toString, txnKey -> epoch.toString)
          var attempt = 0
          var committed = false
          while (!committed) {
            if (attempt > MaxMergeRetries)
              throw new IllegalStateException(
                s"CDC merge into $tableDir: still conflicting after " +
                  s"$MaxMergeRetries retries (epoch $epoch)")
            try {
              SnapshotTable.currentVersion(tableDir) match {
                case None =>
                  raceWindow(epoch)
                  SnapshotTable.commit(latest, tableDir,
                    expectedVersion = SnapshotTable.ExpectEmpty, meta = meta)
                case Some(tip) =>
                  // max-(ts, event_id)-wins against the STORED state,
                  // same total order as byKey: batch-order
                  // independence. The tie is STRICT: a row identical
                  // to stored state in (ts, event_id) — a source-level
                  // at-least-once redelivery in a fresh epoch — is a
                  // no-op that folds into the empty-winners no-commit
                  // path, so generation counts are delivery-independent
                  // (a >= tie committed a whole extra upsert generation
                  // per exact redelivery).
                  val state = SnapshotTable.readAt(spark, tableDir, tip)
                  val beats = col("s.user_id").isNull ||
                    col("b.last_ts") > col("s.last_ts") ||
                    (col("b.last_ts") === col("s.last_ts") &&
                      col("b.last_event_id") > col("s.last_event_id"))
                  val winners = latest.as("b")
                    .join(state.as("s"),
                      col("b.user_id") === col("s.user_id"), "left")
                    .filter(beats)
                    .select(col("b.user_id").as("user_id"),
                      col("b.last_event_id").as("last_event_id"),
                      col("b.last_type").as("last_type"),
                      col("b.last_ts").as("last_ts"))
                  raceWindow(epoch)
                  // an all-losing batch upserts NOTHING — commitUpsert
                  // publishes no version when its write holds no row —
                  // and needs no marker, because its replay recomputes
                  // the same empty winner set (idempotent by
                  // emptiness). The winners are consumed once: one
                  // write job writes the data and the tombstones, so
                  // neither a probe nor a cache is needed
                  SnapshotTable.commitUpsert(winners, Seq("user_id"),
                    tableDir, expectedVersion = tip, meta = meta)
              }
              committed = true
            } catch {
              case _: java.util.ConcurrentModificationException =>
                mergeConflictCount.incrementAndGet()
                attempt += 1
            }
          }
        }
        if (failAfterBatch.contains(epoch))
          throw new InjectedCrash(
            s"injected crash after batch $epoch committed, before checkpoint")
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination()
    catch {
      case e: org.apache.spark.sql.streaming.StreamingQueryException
          if failAfterBatch.isDefined && hasInjectedCrash(e) => ()
    }
    SnapshotTable.currentVersion(tableDir) match {
      case Some(_) => SnapshotTable.read(events.sparkSession, tableDir)
      case None =>
        val sch = events.schema
        val stateSchema = org.apache.spark.sql.types.StructType(Seq(
          sch("user_id"),
          sch("event_id").copy(name = "last_event_id"),
          sch("event_type").copy(name = "last_type"),
          sch("ts").copy(name = "last_ts")))
        events.sparkSession.createDataFrame(
          events.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          stateSchema)
    }
  }

  /** Memory-sink runner for tests/demos: drains all available input,
    * returns the result table name.
    */
  /** Drain `df` through a memory sink and return the sunk rows as a
    * batch frame. The sink table itself is DROPPED before returning:
    * a memory sink pins every sunk row on the driver for the life of
    * the session, so a bench/soak loop that runs each gate 2+ times
    * accumulated every pass's full output (tens of millions of rows at
    * the 100× soak) — the heap pressure behind the 10×-soak OOM at
    * 8 GiB. The returned frame is `localCheckpoint`ed first (eager):
    * its blocks live in block storage (evictable to disk, freed by the
    * ContextCleaner once the frame is unreferenced), not in the
    * catalog forever.
    */
  def runToMemory(df: DataFrame, name: String,
      outputMode: String = "complete"): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .start()
    q.processAllAvailable()
    q.stop()
    val s = df.sparkSession
    val out = s.table(name).localCheckpoint(true)
    s.catalog.dropTempView(name)
    out
  }

  // ------------------ transformWithState (the Spark 4 state API)

  /** Per-user running (event count, exact micro-unit value sum) kept in
    * a [[org.apache.spark.sql.streaming.ValueState]] under the
    * `transformWithState` StatefulProcessor API — Spark 4's replacement
    * for flatMapGroupsWithState: typed named state primitives, explicit
    * TTL, and a state layout the engine can evolve. Each micro-batch
    * emits the RUNNING totals for every user it touched, so the final
    * row per user (the one with the largest n — counts strictly
    * increase) is the complete aggregate; intermediate rows are the
    * change feed. Requires the RocksDB state-store provider (the only
    * provider implementing the new API) — callers set it.
    *
    * Scale shape: state is one (long, long) per user, sharded by the
    * shuffle width; rows stream through handleInputRows once each —
    * exactly the bounded-state discipline of the other gates.
    */
  def userStatsTws(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
    class UserStats extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {
      @transient private var st: ValueState[(Long, Long)] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        st = getHandle.getValueState[(Long, Long)]("agg",
          org.apache.spark.sql.Encoders.product[(Long, Long)], TTLConfig.NONE)
      override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
          timers: TimerValues): Iterator[(Long, Long, Long)] = {
        var (n, sum) = if (st.exists()) st.get() else (0L, 0L)
        rows.foreach { case (_, vMicro) => n += 1; sum += vMicro }
        st.update((n, sum))
        Iterator.single((key, n, sum))
      }
    }
    events
      .select($"user_id", $"v_micro")
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new UserStats,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
      .toDF("user_id", "n_events", "s_micro")
  }
}
