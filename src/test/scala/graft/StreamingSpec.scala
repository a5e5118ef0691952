package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.streaming.Streaming

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("tumblingCounts over a file stream matches the batch result") {
    val tmp = Files.createTempDirectory("graft_stream").toString
    val rows = Seq(
      (1L, ts("2024-01-01 10:05:00"), 7L, "click", 1.0, "{}"),
      (2L, ts("2024-01-01 10:55:00"), 7L, "click", 2.0, "{}"),
      (3L, ts("2024-01-01 11:05:00"), 8L, "view", 3.0, "{}"),
      (4L, ts("2024-01-01 11:30:00"), 8L, "click", 4.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    rows.coalesce(1).write.parquet(s"$tmp/in")

    val stream = Streaming.readEventsStream(spark, s"$tmp/in")
    val sunk = Streaming.runToMemory(
      Streaming.tumblingCounts(stream), "tumbling_test", "complete")
    val got = sunk
      .select($"window_start", $"event_type", $"n", $"sum_value")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    assert(got == Set(
      (ts("2024-01-01 10:00:00"), "click", 2L, 3.0),
      (ts("2024-01-01 11:00:00"), "view", 1L, 3.0),
      (ts("2024-01-01 11:00:00"), "click", 1L, 4.0)))
  }

  test("sessionCounts over a file stream merges gap-adjacent events") {
    val tmp = Files.createTempDirectory("graft_stream_sess").toString
    val rows = Seq(
      // user 7: two events 10 min apart (one session), then a 40-min
      // gap (new session); user 8: a single event
      (1L, ts("2024-01-01 10:00:00"), 7L, "click", 1.0, "{}"),
      (2L, ts("2024-01-01 10:10:00"), 7L, "click", 2.0, "{}"),
      (3L, ts("2024-01-01 10:50:00"), 7L, "view", 4.0, "{}"),
      (4L, ts("2024-01-01 09:00:00"), 8L, "view", 8.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    rows.coalesce(1).write.parquet(s"$tmp/in")

    val stream = Streaming.readEventsStream(spark, s"$tmp/in")
    val sunk = Streaming.runToMemory(
      Streaming.sessionCounts(stream), "session_counts_test", "complete")
    val got = sunk
      .as[(Long, Timestamp, Timestamp, Long, Double)].collect().toSet
    assert(got == Set(
      (7L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:40:00"), 2L, 3.0),
      (7L, ts("2024-01-01 10:50:00"), ts("2024-01-01 11:20:00"), 1L, 4.0),
      (8L, ts("2024-01-01 09:00:00"), ts("2024-01-01 09:30:00"), 1L, 8.0)))
  }

  test("stream-static enrichment join matches batch") {
    val tmp = Files.createTempDirectory("graft_enrich").toString
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 7L, "click", 1.0, "{}"),
      (2L, ts("2024-01-01 10:01:00"), 8L, "view", 2.0, "{}"),
      (3L, ts("2024-01-01 10:02:00"), 99L, "click", 3.0, "{}")) // no dim row
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    events.coalesce(1).write.parquet(s"$tmp/in")
    val dim = Seq((7L, "gold"), (8L, "silver")).toDF("user_id", "tier")

    val stream = Streaming.readEventsStream(spark, s"$tmp/in")
    val enriched = Streaming.enrichStream(stream, dim, "user_id")
      .groupBy($"tier").agg(count(lit(1)).as("n"))
    val sunk = Streaming.runToMemory(enriched, "enrich_test", "complete")
    val got = sunk
      .as[(Option[String], Long)].collect().toSet
    val batch = Streaming.enrichStream(events, dim, "user_id")
      .groupBy($"tier").agg(count(lit(1)).as("n"))
      .as[(Option[String], Long)].collect().toSet
    assert(got == batch)
    assert(got == Set((Some("gold"), 1L), (Some("silver"), 1L), (None, 1L)))
  }

  test("foreachBatchUpsert maintains latest-state across incremental runs") {
    val tmp = Files.createTempDirectory("graft_upsert").toString
    val in = s"$tmp/in"; val state = s"$tmp/state"
    def ev(id: Long, t: String, u: Long, typ: String) =
      (id, ts(t), u, typ, 1.0, "{}")

    // run 1: users 7 and 8
    Seq(ev(1, "2024-01-01 10:00:00", 7, "signup"),
        ev(2, "2024-01-01 11:00:00", 7, "click"),
        ev(3, "2024-01-01 10:30:00", 8, "view"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(in)
    val s1 = Streaming.foreachBatchUpsert(Streaming.readEventsStream(spark, in), state)
    assert(s1.select($"user_id", $"last_type").as[(Long, String)].collect().toSet
      == Set((7L, "click"), (8L, "view")))

    // run 2: user 7 advances, user 9 appears, user 8 untouched —
    // checkpoint means ONLY the new file is processed, yet 8 survives
    Seq(ev(4, "2024-01-01 12:00:00", 7, "purchase"),
        ev(5, "2024-01-01 12:30:00", 9, "signup"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(in)
    val s2 = Streaming.foreachBatchUpsert(Streaming.readEventsStream(spark, in), state)
    assert(s2.select($"user_id", $"last_type").as[(Long, String)].collect().toSet
      == Set((7L, "purchase"), (8L, "view"), (9L, "signup")))

    // run 3: a LATE batch — user 7's event is older than the stored
    // state; max-ts-wins means the state must NOT regress to it
    Seq(ev(6, "2024-01-01 09:00:00", 7, "late_view"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(in)
    val s3 = Streaming.foreachBatchUpsert(Streaming.readEventsStream(spark, in), state)
    assert(s3.select($"user_id", $"last_type").as[(Long, String)].collect().toSet
      == Set((7L, "purchase"), (8L, "view"), (9L, "signup")))

    // run 4: nothing new — zero batches, state read must not throw
    val s4 = Streaming.foreachBatchUpsert(Streaming.readEventsStream(spark, in), state)
    assert(s4.count() == 3)
  }

  test("foreachBatchUpsert recovers exactly-once across a mid-feed kill") {
    import graft.ops.SnapshotTable
    val tmp = Files.createTempDirectory("graft_upsert_kill").toString
    val in = s"$tmp/in"; val state = s"$tmp/state"
    def ev(id: Long, t: String, u: Long, typ: String) =
      (id, ts(t), u, typ, 1.0, "{}")
    // three single-row files -> three batches under maxFilesPerTrigger=1
    Seq(ev(1, "2024-01-01 10:00:00", 7, "signup")).toDF(
      "event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(in)
    Seq(ev(2, "2024-01-01 11:00:00", 7, "click")).toDF(
      "event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(in)
    Seq(ev(3, "2024-01-01 10:30:00", 8, "view")).toDF(
      "event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(in)
    def stream() = Streaming.readEventsStream(spark, in, maxFilesPerTrigger = 1)
    // kill in the worst window: after batch 0's commit, before its
    // checkpoint — the batch is durable in state but unacknowledged
    Streaming.foreachBatchUpsert(stream(), state, failAfterBatch = Some(0L))
    assert(SnapshotTable.currentVersion(state).contains(1L))
    // a NEW query from the same checkpoint re-delivers batch 0 (its
    // re-merge commits v2 == v1), then applies batches 1 and 2
    val fin = Streaming.foreachBatchUpsert(stream(), state)
    assert(SnapshotTable.versions(state) == Seq(1L, 2L, 3L, 4L))
    val v1 = SnapshotTable.readAt(spark, state, 1L)
    val v2 = SnapshotTable.readAt(spark, state, 2L)
    assert(v2.count() == v1.count() && v2.exceptAll(v1).isEmpty,
      "the re-merge must be idempotent: no loss, no double count")
    assert(fin.select($"user_id", $"last_type").as[(Long, String)]
      .collect().toSet == Set((7L, "click"), (8L, "view")))
  }

  test("foreachBatchUpsertIngest: an all-losing batch publishes nothing, " +
      "exactly once across a kill") {
    import graft.ops.SnapshotTable
    val tmp = Files.createTempDirectory("graft_ingest_losing").toString
    val in = s"$tmp/in"; val table = s"$tmp/table"
    def ev(id: Long, t: String, u: Long, typ: String) =
      (id, ts(t), u, typ, 1.0, "{}")
    // three files -> three batches: a base, a batch older than the
    // stored state (all-losing), and a winning batch
    Seq(Seq(ev(1, "2024-01-01 10:00:00", 7, "signup"), ev(3, "2024-01-01 10:30:00", 8, "view")),
        Seq(ev(6, "2024-01-01 09:00:00", 7, "late"), ev(2, "2024-01-01 10:30:00", 8, "tie")),
        Seq(ev(7, "2024-01-01 11:00:00", 8, "click"))).foreach { rows =>
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(in)
    }
    def stream() = Streaming.readEventsStream(spark, in, maxFilesPerTrigger = 1)
    def noStaged() = !new java.io.File(table).listFiles().exists(_.getName.startsWith(".staged-"))
    // kill right after the all-losing batch, before its checkpoint
    Streaming.foreachBatchUpsertIngest(stream(), table, failAfterBatch = Some(1L))
    assert(SnapshotTable.versions(table) == Seq(1L) && noStaged())
    // the replay recomputes the same empty winner set, then batch 2 merges
    val fin = Streaming.foreachBatchUpsertIngest(stream(), table)
    assert(SnapshotTable.versions(table) == Seq(1L, 2L) && noStaged())
    assert(SnapshotTable.readMeta(table, 2L).get("epoch").contains("2"))
    assert(fin.select($"user_id", $"last_type").as[(Long, String)].collect().toSet ==
      Set((7L, "signup"), (8L, "click")))
    // a re-run from the intact checkpoint commits nothing more
    Streaming.foreachBatchUpsertIngest(stream(), table)
    assert(SnapshotTable.versions(table) == Seq(1L, 2L))
  }

  test("append ingest dedup is writer-scoped: a recreated checkpoint " +
      "re-delivers instead of silently dropping") {
    import graft.ops.SnapshotTable
    val tmp = Files.createTempDirectory("graft_txnid").toString
    val in = s"$tmp/in"; val table = s"$tmp/table"
    def ev(id: Long, t: String, u: Long) =
      (id, ts(t), u, "click", 1.0, "{}")
    Seq(ev(1, "2024-01-01 10:00:00", 7), ev(2, "2024-01-01 11:00:00", 8))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(in)
    Streaming.foreachBatchAppendIngest(
      Streaming.readEventsStream(spark, in), table)
    assert(SnapshotTable.read(spark, table).count() == 2)
    // every commit carries BOTH the provenance epoch and the
    // writer-scoped txn marker
    val meta1 = SnapshotTable.readMeta(table, 1L)
    assert(meta1.get("epoch").contains("0"))
    assert(meta1.keys.count(_.startsWith("txn.")) == 1)
    // checkpoint deleted/recreated: epochs restart at 0 under a NEW
    // queryId. A bare-epoch high-water would skip the whole feed —
    // silent data loss; the writer-scoped marker re-delivers it
    // (at-least-once duplication, the honest failure mode)
    SnapshotTable.deleteTree(s"$table/_ckpt")
    Streaming.foreachBatchAppendIngest(
      Streaming.readEventsStream(spark, in), table)
    assert(SnapshotTable.read(spark, table).count() == 4,
      "a fresh checkpoint's batches were silently dropped by a stale " +
        "high-water mark")
    val txnKeys = SnapshotTable.versions(table)
      .flatMap(v => SnapshotTable.readMeta(table, v).keys)
      .filter(_.startsWith("txn.")).distinct
    assert(txnKeys.size == 2, s"expected two writer identities: $txnKeys")
    // and WITH its checkpoint intact, a re-run stays exactly-once
    Streaming.foreachBatchAppendIngest(
      Streaming.readEventsStream(spark, in), table)
    assert(SnapshotTable.read(spark, table).count() == 4)
  }

  test("foreachBatchUpsert over an empty source returns an empty state frame") {
    val tmp = Files.createTempDirectory("graft_upsert_empty").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$tmp/in"))
    val out = Streaming.foreachBatchUpsert(
      Streaming.readEventsStream(spark, s"$tmp/in"), s"$tmp/state")
    assert(out.count() == 0)
    assert(out.columns.toSeq
      == Seq("user_id", "last_event_id", "last_type", "last_ts"))
  }

  test("intervalJoin: stream-stream attribution join matches batch") {
    val tmp = Files.createTempDirectory("graft_ssj").toString
    val clicks = Seq(
      (10L, ts("2024-01-01 10:00:00"), 7L, "click", 1.0, "{}"),
      (11L, ts("2024-01-01 10:40:00"), 7L, "click", 1.0, "{}"),
      (12L, ts("2024-01-01 10:00:00"), 8L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val buys = Seq(
      // within 30m of click 10 (user 7)
      (20L, ts("2024-01-01 10:20:00"), 7L, "purchase", 5.0, "{}"),
      // within 30m of click 11 only
      (21L, ts("2024-01-01 10:55:00"), 7L, "purchase", 6.0, "{}"),
      // wrong user for clicks 10/11; outside 30m of click 12
      (22L, ts("2024-01-01 11:00:00"), 8L, "purchase", 7.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    clicks.coalesce(1).write.parquet(s"$tmp/l")
    buys.coalesce(1).write.parquet(s"$tmp/r")

    val joined = Streaming.intervalJoin(
      Streaming.readEventsStream(spark, s"$tmp/l"),
      Streaming.readEventsStream(spark, s"$tmp/r"))
    val sunk = Streaming.runToMemory(joined, "ssj_test", "append")
    val got = sunk
      .select($"user_id", $"l_event_id", $"r_event_id")
      .as[(Long, Long, Long)].collect().toSet

    val batch = Streaming.intervalJoin(clicks, buys)
      .select($"user_id", $"l_event_id", $"r_event_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == batch)
    assert(got == Set((7L, 10L, 20L), (7L, 11L, 21L)))
  }

  test("dedupStream: duplicate event_ids collapse across micro-batches") {
    val tmp = Files.createTempDirectory("graft_dedup").toString
    // one file per micro-batch (maxFilesPerTrigger=1); event 2 repeats in
    // both batches and event 1 repeats within the first
    Seq(
      (1L, ts("2024-01-01 10:00:00"), 7L, "click", 1.0, "{}"),
      (1L, ts("2024-01-01 10:00:00"), 7L, "click", 1.0, "{}"),
      (2L, ts("2024-01-01 10:01:00"), 8L, "view", 2.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$tmp/in")
    Seq(
      (2L, ts("2024-01-01 10:01:00"), 8L, "view", 2.0, "{}"),
      (3L, ts("2024-01-01 10:02:00"), 9L, "click", 3.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")

    val stream = Streaming.readEventsStream(spark, s"$tmp/in", maxFilesPerTrigger = 1)
    val sunk = Streaming.runToMemory(Streaming.dedupStream(stream), "dedup_stream_test", "append")
    val got = sunk
      .select($"event_id").as[Long].collect().toSeq.sorted
    assert(got == Seq(1L, 2L, 3L))
  }

  test("watermark drops late data in append mode") {
    val tmp = Files.createTempDirectory("graft_late").toString
    // batch 1: events up to 12:00 -> watermark advances to 10:00 (2h)
    Seq(
      (1L, ts("2024-01-01 09:30:00"), 1L, "click", 1.0, "{}"),
      (2L, ts("2024-01-01 12:00:00"), 1L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$tmp/in/b1")
    val stream = Streaming.readEventsStream(spark, s"$tmp/in/*")
    val agg = Streaming.tumblingCounts(stream, "1 hour", "2 hours")
    val q = agg.writeStream.format("memory").queryName("late_test")
      .outputMode("append").start()
    q.processAllAvailable()
    // batch 2: an event far behind the watermark -> must be dropped
    Seq(
      (3L, ts("2024-01-01 08:00:00"), 1L, "click", 99.0, "{}"),
      (4L, ts("2024-01-01 15:00:00"), 1L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$tmp/in/b2")
    q.processAllAvailable()
    q.stop()
    // append mode emits only finalized windows (watermark passed 13:00
    // after batch 2); the 08:00 late event must not resurrect its window
    val finalized = spark.table("late_test")
      .select($"window_start", $"n").as[(Timestamp, Long)].collect().toMap
    assert(!finalized.contains(ts("2024-01-01 08:00:00"))) // late event dropped
    assert(finalized.get(ts("2024-01-01 09:00:00")).contains(1L))
  }

  test("sessionize (batch mode) closes sessions on gap") {
    import Streaming.{SessionEvent, SessionOut}
    val hour = 3600L * 1000000
    val events = Seq(
      SessionEvent(1L, 0L),
      SessionEvent(1L, 10 * 60 * 1000000L), // same session (10 min gap)
      SessionEvent(1L, 2 * hour), // new session
      SessionEvent(2L, 0L)).toDS()
    // batch Dataset: flatMapGroupsWithState runs one pass; only sessions
    // closed by an in-batch gap are emitted (trailing ones stay in state)
    val out = Streaming.sessionize(events, gapUs = 30L * 60 * 1000000)
      .collect().toSet
    assert(out == Set(
      SessionOut(1L, 0L, 10 * 60 * 1000000L, 2L, "gap")))
  }

  test("sessionize: a cross-batch late event must not rewind the clock") {
    // drives the extracted per-group transition directly — the state
    // handoff IS the cross-batch boundary (an end-to-end AvailableNow
    // run would work but ProcessingTimeTimeout makes it spin until
    // every timer fires: documented Spark behavior, minutes of wall
    // clock for nothing this test needs)
    import Streaming.{SessionEvent, SessionState}
    val (s1, c1) = Streaming.advanceSession(
      1L, Seq(SessionEvent(1L, 100L)), None, gapUs = 80)
    assert(c1.isEmpty && s1.contains(SessionState(100L, 100L, 1L)))
    // batch 2: a LATE event (50, within gap of state last=100) plus a
    // fresh one (160). A rewound clock would see 160-50=110 > 80 and
    // spuriously close the session; the max()-clock sees 160-100=60
    val (s2, c2) = Streaming.advanceSession(
      1L, Seq(SessionEvent(1L, 50L), SessionEvent(1L, 160L)), s1, gapUs = 80)
    assert(c2.isEmpty, s"late in-gap event split a live session: $c2")
    assert(s2.contains(SessionState(50L, 160L, 3L)))
    // and a genuinely-too-late event still opens a fresh session
    val (s3, c3) = Streaming.advanceSession(
      1L, Seq(SessionEvent(1L, 300L)), s2, gapUs = 80)
    assert(c3.map(_.closed_by) == List("gap"))
    assert(s3.contains(SessionState(300L, 300L, 1L)))
  }

  test("sessionize: an ancient event cannot stretch a session backwards") {
    import Streaming.{SessionEvent, SessionState, SessionOut}
    // live session [1000, 1050]; an event at 10 is hours before even
    // start_us - gap — batch session_window would put it in its own
    // long-closed session. It must emit as a closed singleton, leaving
    // the live session untouched (before the guard, 10 - 1050 <= gap
    // was vacuously true and start_us rewound to 10).
    val prior = Some(SessionState(1000L, 1050L, 2L))
    val (s, c) = Streaming.advanceSession(
      1L, Seq(SessionEvent(1L, 10L)), prior, gapUs = 80)
    assert(c == List(SessionOut(1L, 10L, 10L, 1L, "late")))
    assert(s == prior)
    // boundary: exactly start_us - gap still merges (closed interval)
    val (s2, c2) = Streaming.advanceSession(
      1L, Seq(SessionEvent(1L, 920L)), prior, gapUs = 80)
    assert(c2.isEmpty && s2.contains(SessionState(920L, 1050L, 3L)))
  }

  test("sessionize: consecutive late events merge into one late session") {
    import Streaming.{SessionEvent, SessionState, SessionOut}
    // live session [1000, 1050], gap 80: events at 10 and 20 are both
    // grossly late AND mutually within the gap — batch session_window
    // would make them ONE session of n=2, so the late guard must too;
    // 200 is a gap away from 20, so it closes a second late session
    val prior = Some(SessionState(1000L, 1050L, 2L))
    val (s, c) = Streaming.advanceSession(
      1L, Seq(SessionEvent(1L, 20L), SessionEvent(1L, 10L),
        SessionEvent(1L, 200L)),
      prior, gapUs = 80)
    assert(c == List(
      SessionOut(1L, 10L, 20L, 2L, "late"),
      SessionOut(1L, 200L, 200L, 1L, "late")))
    assert(s == prior)
    // an all-late batch still flushes its trailing late session
    val (s3, c3) = Streaming.advanceSession(
      1L, Seq(SessionEvent(1L, 30L)), prior, gapUs = 80)
    assert(c3 == List(SessionOut(1L, 30L, 30L, 1L, "late")) && s3 == prior)
  }

  test("streamWidth sizes state shards to source bytes, floored and capped") {
    import graft.queries.StreamingGates.streamWidthFor
    val mb = 1L << 20
    // harness scale: tiny source → the fixed-cost floor
    assert(streamWidthFor(2 * mb, 32) == 4)
    assert(streamWidthFor(0L, 32) == 4)
    // 100x soak scale: ~200 MB of events parquet → one shard per 16 MB
    assert(streamWidthFor(204 * mb, 32) == 12)
    // capped at the host's cores — more shards than cores buys nothing
    assert(streamWidthFor(4096 * mb, 32) == 32)
    // floor wins over the cap on a tiny host: 4 shards on 2 cores is
    // still cheap, 2 shards on large state is not
    assert(streamWidthFor(4096 * mb, 2) == 4)
    // the file-backed wrapper agrees with the pure sizing on a real dir
    val dir = Files.createTempDirectory("graft_width").toString
    val f = new java.io.RandomAccessFile(s"$dir/events.parquet", "rw")
    f.setLength(200 * mb) // sparse: logical length, no disk
    f.close()
    val expected = streamWidthFor(200 * mb,
      spark.sparkContext.defaultParallelism)
    assert(graft.queries.StreamingGates.streamWidth(spark, dir) == expected)
  }

  test("intervalJoinLeftOuter: nulls emit only past the watermark proof") {
    val tmp = Files.createTempDirectory("graft_loj").toString
    val clicks = Seq(
      // matched within 30m -> plain joined row
      (10L, ts("2024-01-01 10:00:00"), 7L, "click", 1.0, "{}"),
      // unmatched, and the stream runs long past its window -> null row
      (11L, ts("2024-01-01 10:10:00"), 8L, "click", 1.0, "{}"),
      // unmatched but too close to the end of the stream: the watermark
      // never proves no purchase can arrive -> NOT emitted (this is the
      // streaming-vs-batch difference the operator documents)
      (12L, ts("2024-01-01 17:50:00"), 9L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val buys = Seq(
      (20L, ts("2024-01-01 10:20:00"), 7L, "purchase", 5.0, "{}"),
      // a late unrelated purchase drives the event-time clock far
      // enough to expire click 11's window (wm = 18:00 - 2h = 16:00)
      (21L, ts("2024-01-01 18:00:00"), 1L, "purchase", 6.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    clicks.coalesce(1).write.parquet(s"$tmp/l")
    buys.coalesce(1).write.parquet(s"$tmp/r")

    val joined = Streaming.intervalJoinLeftOuter(
      Streaming.readEventsStream(spark, s"$tmp/l"),
      Streaming.readEventsStream(spark, s"$tmp/r"))
    val sunk = Streaming.runToMemory(joined, "loj_test", "append")
    val got = sunk
      .select($"user_id", $"l_event_id", $"r_event_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(got == Set((7L, 10L, 20L), (8L, 11L, -1L)))
  }
}
