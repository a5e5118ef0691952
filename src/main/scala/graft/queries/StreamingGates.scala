package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Aggregators, Exact, Tables}
import graft.streaming.Streaming

/** The streaming surface under the DuckDB correctness gate: each query
  * here EXECUTES a real Structured Streaming query (file source →
  * stateful transform → memory sink, AvailableNow-equivalent drain) and
  * hands the sunk result to the oracle compare — batch/stream parity
  * checked against an independent engine, not just against our own
  * batch twin in a unit test.
  *
  * Portability note: the streamed aggregates run over PRE-QUANTIZED
  * micro-unit values (exact integers in doubles stay exact under any
  * summation order below 2^53), so the genuine
  * [[Streaming.tumblingCounts]] / [[Streaming.dedupStream]] operators
  * execute unchanged while the hash compare stays engine-portable —
  * the same integer-cents discipline every batch oracle here uses.
  *
  * The gates deliberately avoid flatMapGroupsWithState +
  * ProcessingTimeTimeout ([[Streaming.sessionize]]): processing-time
  * timers spin under drain-everything triggers; its transition core is
  * unit-tested instead (StreamingSpec).
  */
object StreamingGates {

  /** Distinct memory-sink names per invocation — re-runs in one session
    * must not collide with a table a previous run registered.
    */
  private val gateId = new AtomicInteger(0)

  /** Streaming readers get an EXPLICIT schema (no inference on streams);
    * `ts` is declared with whatever type the file actually carries —
    * testdata generations have used TIMESTAMP(NANOS) (readable only as a
    * raw long under the nanosAsLong legacy flag) and timestamp[us]
    * (TIMESTAMP_NTZ) — so peek at the batch footer once per call and
    * normalize to session-zone micros exactly like `Tables.events`.
    */
  private def eventsSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Run a streaming query body under a smaller shuffle width, restoring
    * the session's setting afterwards. A streaming stateful operator
    * materializes one state-store instance PER shuffle partition per
    * operator (a stream-stream join keeps four); at the harness's state
    * sizes (tens of thousands of keys) 32 partitions are pure
    * fixed-cost — store init, per-batch delta files, snapshot upkeep —
    * with no parallelism payoff. At real scale this knob is sized to the
    * stream's key cardinality, not the CPU count.
    */
  private def withStreamShuffle[T](s: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, old)
  }

  /** Stream shuffle width sized to the DATA, not the CPU count. The
    * fixed width 4 this replaces was right at harness scale (tens of
    * thousands of keys — store init, per-batch delta files, and
    * snapshot upkeep are pure fixed cost) but wrong by this file's own
    * design rule at the 100× soak, where it pushed ~10 M state keys
    * through 4 single-threaded state stores. One state-store instance
    * materializes per shuffle partition per stateful operator, so the
    * width IS the state-shard count: grant one shard per ~16 MB of
    * source parquet (a proxy for key volume), floored at 4 so the
    * small-scale fixed cost stays negligible, capped at the core count
    * so a 100-TB source asks for executors, not for more shards than
    * this host can run.
    */
  private[graft] def streamWidth(s: SparkSession, dir: String,
      table: String = "events"): Int = {
    def bytes(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(bytes).sum else f.length()
    streamWidthFor(bytes(new java.io.File(s"$dir/$table.parquet")),
      s.sparkContext.defaultParallelism)
  }

  /** One state shard per ~16 MB of source, floored at 4 (fixed cost
    * stays negligible when state is small), capped at the core count
    * (floor wins when they conflict: 4 shards on 2 cores is still
    * cheap; 2 shards on 10 M keys is not).
    */
  private[graft] def streamWidthFor(bytes: Long, cores: Int): Int =
    math.max(4, math.min(cores, (bytes / (16L << 20)).toInt))

  /** Run a streaming body under the RocksDB state store when
    * ROW-scaling state would not comfortably FIT the heap, restoring
    * the provider afterwards. The default HDFSBacked store keeps every
    * state row as JVM objects — measured 1.4-1.8× faster than RocksDB
    * on these gates whenever it fits (100× dedup gate: 31.7 s at
    * 48 GiB, 39.3 s at 16 GiB, vs RocksDB 50-56 s) — but its ceiling
    * is executor memory. RocksDB keeps state in off-heap native memory
    * + local SST files, so capacity tracks DISK, the resource that
    * scales with an executor fleet. The switch is HEAP-AWARE, not a
    * magic size: estimated in-heap state (source parquet bytes × ~16,
    * the observed parquet→UnsafeRow-map inflation on the events table)
    * must stay under a quarter of max heap, else cross to RocksDB —
    * measured at the 100× soak, RocksDB holds a 12 GiB heap stable
    * (49.9 s, zero OOM) right where the estimate (3.3 GiB state vs a
    * 3 GiB budget) predicts the heap store is at risk. Same data,
    * different hosts, different (correct) answers — the choice a
    * 100-TB job needs made per-executor, not hardcoded. (Heap sizing
    * still bounds the BATCH side: processing the 20 M-row doubled
    * micro-batch needs ~10 GiB regardless of where state lives.)
    */
  private def withScaledStateStore[T](s: SparkSession, dir: String,
      table: String = "events")(body: => T): T = {
    def bytes(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(bytes).sum else f.length()
    val key = "spark.sql.streaming.stateStore.providerClass"
    val estState = bytes(new java.io.File(s"$dir/$table.parquet")) * 16
    val big = estState > Runtime.getRuntime.maxMemory() / 4
    if (!big) body
    else {
      val old = s.conf.getOption(key)
      s.conf.set(key, "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
      try body
      finally old match {
        case Some(v) => s.conf.set(key, v)
        case None    => s.conf.unset(key)
      }
    }
  }

  private def readEventsMicros(s: SparkSession, dir: String): DataFrame = {
    val tsType = s.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    val raw = s.readStream
      .schema(eventsSchema(tsType))
      .option("maxFilesPerTrigger", 16)
      // events.parquet is a single FILE: FileStreamSource demands a
      // DIRECTORY for literal paths but accepts any glob, so spell the
      // last char as a one-char class — matches exactly the same file,
      // without sweeping the sibling tables a bare *.parquet would
      .parquet(s"$dir/events.parque[t]")
    tsType match {
      // integer `div`, NOT `/`: double promotion corrupts low micros
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** [[Streaming.tumblingCounts]] — watermarked tumbling window, count +
    * sum — executed as a streaming query over the events parquet and
    * drained complete-mode to a memory sink. Matches the
    * `events_tumbling_hourly` batch oracle on (hour, type, n, sum).
    */
  private def streamingTumblingHourly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stream = readEventsMicros(s, dir)
      .withColumn("value", Exact.micro("value").cast("double"))
    val name = s"graft_gate_tumbling_${gateId.incrementAndGet()}"
    // state here is bounded by KEYS (#hours × #event types — dozens of
    // rows at any corpus size), not input rows: wider shards are pure
    // fixed cost (measured: 1.6 s → 2.8 s at 100× under width 12), so
    // this gate keeps the floor where the row-state gates size by data
    val sunk = withStreamShuffle(s, 4) {
      Streaming.runToMemory(Streaming.tumblingCounts(stream), name, "complete")
    }
    sunk
      .withColumn("s_micro", $"sum_value".cast("long"))
      .select($"window_start".as("hour_start"), $"event_type", $"n",
        Exact.microSumTo4dp("s_micro").as("sum_value"))
      .orderBy($"hour_start", $"event_type")
  }

  private val streamingTumblingOracle =
    s"""SELECT hour_start, event_type, n,
      |  ${Exact.microSumTo4dpSql("s_micro", Exact.DuckDiv)} AS sum_value
      |FROM (
      |  SELECT date_trunc('hour', ts) AS hour_start, event_type,
      |    count(*) AS n,
      |    CAST(sum(${Exact.microSql("value")}) AS BIGINT) AS s_micro
      |  FROM events
      |  GROUP BY hour_start, event_type)
      |ORDER BY hour_start, event_type""".stripMargin

  /** [[Streaming.dedupStream]] — dropDuplicatesWithinWatermark — fed a
    * stream carrying EVERY event twice (the same source unioned with
    * itself), drained append-mode, then signature-aggregated: the gate
    * passes only if each event survived exactly once. The oracle is the
    * same signature over the events table read once.
    */
  private def streamingDedupEvents(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val doubled = readEventsMicros(s, dir).union(readEventsMicros(s, dir))
    val name = s"graft_gate_dedup_${gateId.incrementAndGet()}"
    // ROW-scaling state (one state entry per distinct event): this and
    // the interval join are the gates whose state store must outgrow
    // the heap — withScaledStateStore switches them to RocksDB past
    // the source-size threshold
    val sunk = withScaledStateStore(s, dir) {
      withStreamShuffle(s, streamWidth(s, dir)) {
        Streaming.runToMemory(Streaming.dedupStream(doubled), name, "append")
      }
    }
    sunk
      .withColumn("v_micro", Exact.micro("value"))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        sum($"v_micro").as("s_micro"),
        min($"event_id").as("min_id"),
        max($"event_id").as("max_id"))
      .select($"event_type", $"n",
        Exact.microSumTo4dp("s_micro").as("sum_value"),
        $"min_id", $"max_id")
      .orderBy($"event_type")
  }

  private val streamingDedupOracle =
    s"""SELECT event_type, n,
      |  ${Exact.microSumTo4dpSql("s_micro", Exact.DuckDiv)} AS sum_value,
      |  min_id, max_id
      |FROM (
      |  SELECT event_type, count(*) AS n,
      |    CAST(sum(${Exact.microSql("value")}) AS BIGINT) AS s_micro,
      |    min(event_id) AS min_id, max(event_id) AS max_id
      |  FROM events
      |  GROUP BY event_type)
      |ORDER BY event_type""".stripMargin

  /** [[Streaming.intervalJoin]] — stream-stream attribution join with
    * watermark-bounded state — both sides fed from the events stream
    * (clicks ⋈ purchases of the same user within 30 minutes), drained
    * append-mode. The oracle is the equivalent batch range join; the
    * time condition is stated in integer MICROS on both sides (Spark's
    * timestamps are micros-truncated nanos, so an interval-literal
    * compare in DuckDB's nano domain could flip boundary pairs).
    */
  private def streamingIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val clicks = readEventsMicros(s, dir).filter($"event_type" === "click")
    val purchases = readEventsMicros(s, dir).filter($"event_type" === "purchase")
    val name = s"graft_gate_ivj_${gateId.incrementAndGet()}"
    // stream-stream join state buffers every in-watermark row on BOTH
    // sides — row-scaling, so RocksDB past the threshold
    val sunk = withScaledStateStore(s, dir) {
      withStreamShuffle(s, streamWidth(s, dir)) {
        Streaming.runToMemory(
          Streaming.intervalJoin(clicks, purchases, bound = "30 minutes"),
          name, "append")
      }
    }
    sunk
      .select($"user_id", $"l_event_id", $"r_event_id",
        unix_micros($"l_ts").as("l_us"), unix_micros($"r_ts").as("r_us"))
      .orderBy($"user_id", $"l_event_id", $"r_event_id")
  }

  private val streamingIntervalOracle =
    """SELECT l.user_id AS user_id, l.event_id AS l_event_id,
      |  r.event_id AS r_event_id,
      |  epoch_us(l.ts) AS l_us, epoch_us(r.ts) AS r_us
      |FROM events l JOIN events r
      |  ON l.user_id = r.user_id
      |  AND epoch_us(r.ts) >= epoch_us(l.ts)
      |  AND epoch_us(r.ts) <= epoch_us(l.ts) + 1800000000
      |WHERE l.event_type = 'click' AND r.event_type = 'purchase'
      |ORDER BY user_id, l_event_id, r_event_id""".stripMargin

  /** [[Streaming.intervalJoinLeftOuter]] under the gate: click→purchase
    * attribution where every click emits — with its purchases, or with
    * a null row ONCE THE WATERMARK PROVES no purchase can still arrive.
    * The oracle states the streaming-specific part explicitly: the
    * global watermark of a multi-source query is the MINIMUM of the
    * per-source watermarks (max click ts − 1 h, max purchase ts − 2 h),
    * and an unmatched click gets its null row iff its full join window
    * [l_ts, l_ts + 30 min] closed strictly before that watermark.
    * Clicks in the final 2.5 h of the bounded stream whose proof never
    * completes are (correctly) absent — asserting THAT is the point of
    * the gate: it would catch an engine that silently treats streaming
    * outer join as batch outer join on the drained prefix.
    */
  private def streamingLeftOuterJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val clicks = readEventsMicros(s, dir).filter($"event_type" === "click")
    val purchases = readEventsMicros(s, dir).filter($"event_type" === "purchase")
    val name = s"graft_gate_loj_${gateId.incrementAndGet()}"
    val sunk = withScaledStateStore(s, dir) {
      withStreamShuffle(s, streamWidth(s, dir)) {
        Streaming.runToMemory(
          Streaming.intervalJoinLeftOuter(clicks, purchases, bound = "30 minutes"),
          name, "append")
      }
    }
    sunk
      .select($"user_id", $"l_event_id", $"r_event_id",
        unix_micros($"l_ts").as("l_us"), unix_micros($"r_ts").as("r_us"))
      .orderBy($"user_id", $"l_event_id", $"r_event_id")
  }

  private val streamingLeftOuterOracle =
    """WITH wm AS (
      |  SELECT least(
      |    (SELECT max(epoch_us(ts)) FROM events WHERE event_type = 'click')
      |      - 3600000000,
      |    (SELECT max(epoch_us(ts)) FROM events WHERE event_type = 'purchase')
      |      - 7200000000) AS w),
      |matches AS (
      |  SELECT l.user_id AS user_id, l.event_id AS l_event_id,
      |    r.event_id AS r_event_id,
      |    epoch_us(l.ts) AS l_us, epoch_us(r.ts) AS r_us
      |  FROM events l JOIN events r
      |    ON l.user_id = r.user_id
      |    AND epoch_us(r.ts) >= epoch_us(l.ts)
      |    AND epoch_us(r.ts) <= epoch_us(l.ts) + 1800000000
      |  WHERE l.event_type = 'click' AND r.event_type = 'purchase'),
      |expired_unmatched AS (
      |  SELECT l.user_id, l.event_id AS l_event_id,
      |    CAST(NULL AS BIGINT) AS r_event_id,
      |    epoch_us(l.ts) AS l_us, CAST(NULL AS BIGINT) AS r_us
      |  FROM events l
      |  WHERE l.event_type = 'click'
      |    AND epoch_us(l.ts) + 1800000000 < (SELECT w FROM wm)
      |    AND NOT EXISTS (
      |      SELECT 1 FROM events r
      |      WHERE r.event_type = 'purchase' AND r.user_id = l.user_id
      |        AND epoch_us(r.ts) >= epoch_us(l.ts)
      |        AND epoch_us(r.ts) <= epoch_us(l.ts) + 1800000000))
      |SELECT * FROM (
      |  SELECT * FROM matches UNION ALL SELECT * FROM expired_unmatched)
      |ORDER BY user_id, l_event_id, r_event_id""".stripMargin

  /** [[Streaming.foreachBatchUpsert]] — checkpointed incremental
    * upsert: the events stream reduces to one latest row per user,
    * merged into a versioned parquet state table via foreachBatch. The
    * gate reads the final state and compares to the batch
    * latest-row-per-key oracle (ties broken by event_id, the same
    * order the upsert uses). Fresh state/checkpoint dir per run.
    */
  private def streamingUpsertState(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_gate_upsert").toString
    // the stream reduces each batch to one row PER USER before the
    // merge, so shuffle width tracks user cardinality, not event rows —
    // bounded key-state, floor width (measured: width 12 only added
    // fixed cost at 100×)
    val state = withStreamShuffle(s, 4) {
      Streaming.foreachBatchUpsert(readEventsMicros(s, dir), stateDir)
    }
    state
      .select($"user_id", $"last_event_id", $"last_type",
        unix_micros($"last_ts").as("last_us"))
      .orderBy($"user_id")
  }

  private val streamingUpsertOracle =
    """SELECT user_id, event_id AS last_event_id,
      |  event_type AS last_type, epoch_us(ts) AS last_us
      |FROM (
      |  SELECT user_id, event_id, event_type, ts,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  /** [[Streaming.enrichStream]] — stream-static broadcast enrichment:
    * each micro-batch left-joins the customer dimension (keyed to the
    * stream's user_id); the drained rows are signature-aggregated per
    * market segment (null segment = unmatched users kept by the left
    * join). Oracle: the same left join + aggregate in batch.
    */
  private def streamingEnrichEvents(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dim = graft.ops.Tables.customer(s, dir)
      .select($"c_custkey".as("user_id"), $"c_mktsegment")
    // gate a deterministic 1/50th of users: the enrichment itself is a
    // per-batch broadcast join (scales), but the GATE drains raw joined
    // rows into a driver-side memory sink — bound that volume so the
    // harness artifact never becomes the scale ceiling
    val slice = readEventsMicros(s, dir).filter(pmod($"user_id", lit(50)) === 0)
    val name = s"graft_gate_enrich_${gateId.incrementAndGet()}"
    // STATELESS per-batch broadcast join — no state store exists to
    // shard, so shuffle width buys nothing here: floor
    val sunk = withStreamShuffle(s, 4) {
      Streaming.runToMemory(
        Streaming.enrichStream(slice, dim, "user_id"),
        name, "append")
    }
    sunk
      .withColumn("v_micro", Exact.micro("value"))
      .groupBy($"c_mktsegment")
      .agg(
        count(lit(1)).as("n"),
        countDistinct($"user_id").as("n_users"),
        sum($"v_micro").as("s_micro"))
      .select($"c_mktsegment", $"n", $"n_users",
        Exact.microSumTo4dp("s_micro").as("sum_value"))
      .orderBy($"c_mktsegment")
  }

  private val streamingEnrichOracle =
    s"""SELECT c_mktsegment, n, n_users,
      |  ${Exact.microSumTo4dpSql("s_micro", Exact.DuckDiv)} AS sum_value
      |FROM (
      |  SELECT c.c_mktsegment, count(*) AS n,
      |    count(DISTINCT e.user_id) AS n_users,
      |    CAST(sum(${Exact.microSql("e.value")}) AS BIGINT) AS s_micro
      |  FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
      |  WHERE e.user_id % 50 = 0
      |  GROUP BY c.c_mktsegment)
      |ORDER BY c_mktsegment NULLS FIRST""".stripMargin

  /** [[Streaming.sessionCounts]] — native session_window aggregation,
    * executed as a streaming query and drained complete-mode. The
    * oracle is the SAME hand-derived lag+cumsum session reconstruction
    * the batch `events_session_window` query is gated on, so batch,
    * stream, and an independent engine must all agree on the session
    * boundaries.
    */
  private def streamingSessionWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stream = readEventsMicros(s, dir)
      .withColumn("value", Exact.micro("value").cast("double"))
    val name = s"graft_gate_session_${gateId.incrementAndGet()}"
    // session state grows with users × sessions — data-scaling like the
    // row-state gates, so it crosses to RocksDB with them
    val sunk = withScaledStateStore(s, dir) {
      withStreamShuffle(s, streamWidth(s, dir)) {
        Streaming.runToMemory(Streaming.sessionCounts(stream), name, "complete")
      }
    }
    sunk
      .withColumn("s_micro", $"sum_value".cast("long"))
      .select($"user_id", $"session_start", $"session_end", $"n_events",
        Exact.microSumTo4dp("s_micro").as("sum_value"))
      .orderBy($"user_id", $"session_start")
  }

  // ------------------- streaming corpus quality filter (7th gate)

  /** The LM-pipeline quality classifier run as a STREAMING query: the
    * documents table streamed file-source style, scored with the exact
    * expression the batch `quality_classifier_score` uses
    * ([[LmPipeline.classifierScoreCol]] — the model lives in the
    * expression, so batch and stream share one definition), aggregated
    * per source in complete mode, drained to a memory sink, and
    * compared to the batch DuckDB oracle. This is the "filter the
    * crawl as it lands" deployment shape of the classifier: stateless
    * scoring plus one keyed streaming aggregation.
    */
  private def streamingQualityFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType)))
    val stream = s.readStream
      .schema(docsSchema)
      .option("maxFilesPerTrigger", 16)
      // one-char-class glob: FileStreamSource needs a dir or glob (see
      // readEventsMicros)
      .parquet(s"$dir/documents.parque[t]")
    val agg = stream
      .select($"source", graft.ops.TextOps.tokens($"text").as("toks"))
      .select($"source", size($"toks").cast("long").as("n_tokens"),
        LmPipeline.classifierScoreCol($"toks").as("score"))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when($"score" >= 0, 1L).otherwise(0L)).as("n_keep"),
        sum($"n_tokens").as("tokens"))
    val name = s"graft_gate_quality_${gateId.incrementAndGet()}"
    val sunk = withStreamShuffle(s, streamWidth(s, dir, table = "documents")) {
      Streaming.runToMemory(agg, name, "complete")
    }
    sunk.orderBy($"source")
  }

  private val streamingQualityOracle =
    s"""SELECT source,
       |  count(*) AS n_docs,
       |  CAST(sum(CASE WHEN ${LmPipeline.classifierScoreSql("toks")} >= 0
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       |  CAST(sum(len(toks)) AS BIGINT) AS tokens
       |FROM (SELECT source, string_split(text, ' ') AS toks FROM documents)
       |GROUP BY source
       |ORDER BY source""".stripMargin

  // ------------------- streaming HLL distinct (8th gate)

  /** The HyperLogLog register aggregator ([[Sketches]],
    * [[graft.ops.Aggregators.HllRegisters]]) executed as a REAL
    * streaming aggregation. Exact per-key distinct is the aggregate a
    * stream CANNOT run (state = one entry per distinct value, unbounded
    * — Spark rejects streaming countDistinct outright); the mergeable
    * register array IS the streaming answer: 256 ints per key forever,
    * and the micro-batch state update is the very same elementwise-max
    * merge the batch partial-aggregation tree uses, so batch and stream
    * share one sketch definition. Complete-mode drain to a memory sink;
    * the oracle rebuilds the identical registers in DuckDB
    * ([[Sketches.hllSketchCtes]]).
    */
  private def streamingHllDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hll = udaf(new Aggregators.HllRegisters)
    val agg = readEventsMicros(s, dir)
      .select($"event_type",
        graft.ops.TextOps.portableHash64($"user_id".cast("string"),
          Sketches.HllSeed).as("h"))
      .groupBy($"event_type")
      .agg(hll($"h").as("regs"))
    val name = s"graft_gate_hll_${gateId.incrementAndGet()}"
    // key-bounded state (|event types| × 256 ints — constant in the
    // corpus): floor width, like the tumbling gate
    val sunk = withStreamShuffle(s, 4) {
      Streaming.runToMemory(agg, name, "complete")
    }
    Sketches.withHllEstimate(sunk)
      .select($"event_type", $"hll_est", $"n_zero_registers")
      .orderBy($"event_type")
  }

  private val streamingHllOracle =
    s"""WITH ${Sketches.hllSketchCtes}
       |SELECT event_type, hll_est, n_zero_registers FROM s
       |ORDER BY event_type""".stripMargin

  // --------------- transformWithState gate (Spark 4 state API, 10th)

  /** [[Streaming.userStatsTws]] executed as a real streaming query —
    * the `transformWithState` StatefulProcessor API (typed named
    * ValueState, Spark 4's successor to flatMapGroupsWithState) under
    * the same batch-oracle discipline as the other nine gates. The
    * processor emits RUNNING per-user totals each micro-batch; the
    * gate keeps each user's final row (max n — counts strictly
    * increase), which must equal the plain batch GROUP BY. The API is
    * only implemented by the RocksDB state-store provider, so the gate
    * forces it for the run (restoring the session's provider after).
    * Same 1/50-user slice as the enrich gate: the operator scales, the
    * driver-side memory-sink artifact is what's bounded.
    */
  private def streamingTwsUserStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val slice = readEventsMicros(s, dir)
      .filter(pmod($"user_id", lit(50)) === 0)
      .withColumn("v_micro", Exact.micro("value"))
    val name = s"graft_gate_tws_${gateId.incrementAndGet()}"
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = s.conf.getOption(key)
    s.conf.set(key, "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider")
    val sunk =
      try withStreamShuffle(s, streamWidth(s, dir)) {
        Streaming.runToMemory(Streaming.userStatsTws(slice), name, "append")
      }
      finally old match {
        case Some(v) => s.conf.set(key, v)
        case None    => s.conf.unset(key)
      }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"n_events".desc)
    sunk.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"user_id", $"n_events",
        Exact.microSumTo4dp("s_micro").as("sum_value"))
      .orderBy($"user_id")
  }

  private val streamingTwsOracle =
    s"""SELECT user_id, n_events,
       |  ${Exact.microSumTo4dpSql("s_micro", Exact.DuckDiv)} AS sum_value
       |FROM (
       |  SELECT user_id, count(*) AS n_events,
       |    CAST(sum(${Exact.microSql("value")}) AS BIGINT) AS s_micro
       |  FROM events WHERE user_id % 50 = 0
       |  GROUP BY user_id)
       |ORDER BY user_id""".stripMargin

  /** CDC feed → STREAMING consumer — the loop between the snapshot
    * spine and the streaming layer, closed: the table lifecycle
    * commits v1, a rewrite v2, and a merge-on-read DELETE v3
    * ([[graft.ops.SnapshotTable.commitDeletes]] — deletions surface in
    * the change feed, not just rewrites); each transition's diff (the
    * `snapshot_changelog` full-outer-key shape, change-proportional
    * rows) is APPENDED to a feed directory — exactly what a commit
    * hook would publish; and the consumer is a real Structured
    * Streaming query: file source over the feed (one batch dir per
    * transition, globbed), running change-type aggregation drained
    * complete-mode to a memory sink. State is bounded by |change
    * types| (3 rows) at any corpus size, and the consumer reads
    * deltas, never table versions — the entire point of CDC at 100 TB.
    * The oracle recomputes both transitions' per-type row counts and
    * exact money sums straight from `orders`, so a green run pins
    * producer (diff), transport (feed files), and consumer (streaming
    * agg) end to end.
    */
  private def streamingChangelog(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ops.SnapshotTable
    val base = LakeOps.lakeBase(dir, "cdcstream")
    val feed = LakeOps.lakeBase(dir, "cdcfeed")
    SnapshotTable.deleteTree(base)
    SnapshotTable.deleteTree(feed)
    val orders = Tables.orders(s, dir)
      .select($"o_orderkey", Exact.micro("o_totalprice").as("price_micro"))
    // lifecycle: v1 = keys ≡ 0,1 (mod 3); v2 = keys ≡ 1,2 with the ≡1
    // prices doubled (≡0 delete, ≡1 update, ≡2 insert); v3 = the ≡2
    // rows erased as a merge-on-read tombstone commit (pure deletes)
    val v1 = SnapshotTable.commit(
      orders.filter(pmod($"o_orderkey", lit(3)) < 2), base,
      expectedVersion = SnapshotTable.ExpectEmpty)
    val v2 = SnapshotTable.commit(
      orders.filter(pmod($"o_orderkey", lit(3)) > 0)
        .withColumn("price_micro",
          when(pmod($"o_orderkey", lit(3)) === 1, $"price_micro" * 2)
            .otherwise($"price_micro")), base,
      expectedVersion = Some(v1))
    val v3 = SnapshotTable.commitDeletes(
      orders.filter(pmod($"o_orderkey", lit(3)) === 2).select($"o_orderkey"),
      base, expectedVersion = v2)
    // producer: one change-proportional diff batch per transition
    def diff(a: Long, b: Long): DataFrame = {
      val old = SnapshotTable.readAt(s, base, a)
        .select($"o_orderkey", $"price_micro".as("p_old"))
      val neu = SnapshotTable.readAt(s, base, b)
        .select($"o_orderkey", $"price_micro".as("p_new"))
      old.join(neu, Seq("o_orderkey"), "full_outer")
        .withColumn("change",
          when($"p_new".isNull, lit("delete"))
            .when($"p_old".isNull, lit("insert"))
            .when($"p_old" =!= $"p_new", lit("update")))
        .filter($"change".isNotNull)
        .select($"o_orderkey", $"change",
          coalesce($"p_new", $"p_old").as("price_micro"))
    }
    diff(v1, v2).write.parquet(s"$feed/b$v2")
    diff(v2, v3).write.parquet(s"$feed/b$v3")
    // consumer: a real streaming query tails the feed
    val feedSchema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("change", StringType),
      StructField("price_micro", LongType)))
    val stream = s.readStream.schema(feedSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$feed/b*")
      .groupBy($"change")
      .agg(count(lit(1)).as("n_rows"), sum($"price_micro").as("s_micro"))
    val name = s"graft_gate_cdc_${gateId.incrementAndGet()}"
    val sunk = withStreamShuffle(s, 4) {
      Streaming.runToMemory(stream, name, "complete")
    }
    sunk
      .select($"change", $"n_rows",
        Exact.microSumTo4dp("s_micro").as("sum_price"))
      .orderBy($"change")
  }

  private val streamingChangelogOracle = {
    val p = Exact.microSql("o_totalprice")
    s"""WITH ch AS (
       |  SELECT CASE o_orderkey % 3
       |           WHEN 0 THEN 'delete' WHEN 1 THEN 'update'
       |           ELSE 'insert' END AS change,
       |    CASE o_orderkey % 3 WHEN 1 THEN 2 * $p ELSE $p END AS pm
       |  FROM orders
       |  UNION ALL
       |  SELECT 'delete' AS change, $p AS pm
       |  FROM orders WHERE o_orderkey % 3 = 2)
       |SELECT change, count(*) AS n_rows,
       |  ${Exact.microSumTo4dpSql("CAST(sum(pm) AS BIGINT)", Exact.DuckDiv)}
       |    AS sum_price
       |FROM ch
       |GROUP BY change
       |ORDER BY change""".stripMargin
  }

  /** Exactly-once under KILL-AND-RESTART — the one streaming claim the
    * other ten gates never exercise (each runs its query start-to-
    * finish): a feed is drained with `maxFilesPerTrigger = 1` into the
    * checkpointed [[Streaming.foreachBatchUpsert]] state table, and
    * the query is KILLED deterministically in the worst window — after
    * batch 0's state commit, BEFORE the checkpoint records the batch
    * (`failAfterBatch`, a crash injected inside foreachBatch). A NEW
    * query then starts from the same checkpoint over the full feed.
    * The gate requires, loudly: (a) exactly one state version existed
    * at the crash; (b) the restart RE-DELIVERS the uncheckpointed
    * batch (its re-merge commits a version) and then the remaining
    * files — five state versions for a four-file feed, pinning the
    * at-least-once re-delivery actually happened; (c) the re-merge
    * was IDEMPOTENT: the re-committed state equals the pre-crash state
    * row-for-row (no loss, no double count — the claim the upsert's
    * scaladoc makes about the commit-then-crash window, now executed).
    * The final state must hash-match the batch latest-row-per-user
    * oracle over the whole feed — exactly-once END STATE across a
    * restart boundary, checked against an independent engine.
    */
  private def streamingRestartRecovery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ops.SnapshotTable
    val feed = LakeOps.lakeBase(dir, "restartfeed")
    val stateDir = LakeOps.lakeBase(dir, "restartstate")
    SnapshotTable.deleteTree(feed)
    SnapshotTable.deleteTree(stateDir)
    // a 4-file feed so the restart boundary falls strictly mid-stream
    Tables.events(s, dir).repartition(4).write.parquet(feed)
    def stream() = s.readStream
      .schema(eventsSchema(TimestampType))
      .option("maxFilesPerTrigger", 1)
      .parquet(feed)
    // run 1: crash AFTER batch 0's state commit, BEFORE its checkpoint
    withStreamShuffle(s, 4) {
      Streaming.foreachBatchUpsert(stream(), stateDir, failAfterBatch = Some(0L))
    }
    require(SnapshotTable.currentVersion(stateDir).contains(1L),
      "exactly one state commit must precede the crash, got " +
        s"${SnapshotTable.currentVersion(stateDir)}")
    // run 2: a NEW query, same checkpoint, over the full feed
    val fin = withStreamShuffle(s, 4) {
      Streaming.foreachBatchUpsert(stream(), stateDir)
    }
    val vs = SnapshotTable.versions(stateDir)
    require(vs == Seq(1L, 2L, 3L, 4L, 5L),
      "restart must re-deliver the uncheckpointed batch (one re-merge " +
        s"commit) then the 3 remaining files: got versions $vs")
    val v1df = SnapshotTable.readAt(s, stateDir, 1L)
    val v2df = SnapshotTable.readAt(s, stateDir, 2L)
    require(v2df.count() == v1df.count() && v2df.exceptAll(v1df).isEmpty,
      "the re-merge of the re-delivered batch must be a no-op on state " +
        "(idempotence absorbed the at-least-once window)")
    fin
      .select($"user_id", $"last_event_id", $"last_type",
        unix_micros($"last_ts").as("last_us"),
        lit(vs.size.toLong).as("n_state_versions"))
      .orderBy($"user_id")
  }

  private val streamingRestartOracle =
    """SELECT user_id, event_id AS last_event_id,
      |  event_type AS last_type, epoch_us(ts) AS last_us,
      |  CAST(5 AS BIGINT) AS n_state_versions
      |FROM (
      |  SELECT user_id, event_id, event_type, ts,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  /** Streaming APPEND ingest with exactly-once epochs, then incremental
    * OPTIMIZE — the write path [[streamingRestartRecovery]]'s upsert
    * story doesn't cover: an ingest stream lands each micro-batch as
    * one delta generation ([[Streaming.foreachBatchAppendIngest]]), and
    * appends are NOT naturally idempotent, so the crash window (commit
    * lands, checkpoint doesn't) would double rows without the epoch
    * marker each commit carries in its `_meta.properties`. The gate
    * kills the query deterministically in that window, restarts from
    * the checkpoint, and requires loudly: (a) the replayed batch
    * SKIPPED (exactly four data generations for a four-file feed —
    * epoch markers 0..3 each exactly once on the chain); (b) the
    * nightly [[graft.ops.SnapshotTable.optimizeDeltas]] folds the
    * three deltas onto the seed at delta cost, carrying the epoch
    * high-water mark forward (a replay after the optimize must still
    * skip) and shrinking the chain to two generations. The final
    * table must match DuckDB aggregating the source events — no loss,
    * no double-count, across both the restart and the optimize.
    */
  private def streamingAppendIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ops.SnapshotTable
    val feed = LakeOps.lakeBase(dir, "appendfeed")
    val table = LakeOps.lakeBase(dir, "appendtable")
    SnapshotTable.deleteTree(feed)
    SnapshotTable.deleteTree(table)
    Tables.events(s, dir).repartition(4).write.parquet(feed)
    def stream() = s.readStream
      .schema(eventsSchema(TimestampType))
      .option("maxFilesPerTrigger", 1)
      .parquet(feed)
    // run 1: crash AFTER batch 1's append commit, BEFORE its checkpoint
    withStreamShuffle(s, 4) {
      Streaming.foreachBatchAppendIngest(stream(), table,
        failAfterBatch = Some(1L))
    }
    val vs1 = SnapshotTable.versions(table)
    require(vs1 == Seq(1L, 2L),
      s"two committed batches must precede the crash, got $vs1")
    // run 2: the checkpoint re-delivers batch 1; its epoch marker on
    // the chain makes the replay SKIP, then batches 2 and 3 append
    withStreamShuffle(s, 4) {
      Streaming.foreachBatchAppendIngest(stream(), table)
    }
    val vs = SnapshotTable.versions(table)
    require(vs == Seq(1L, 2L, 3L, 4L),
      s"the replay must skip its committed epoch and append the two " +
        s"remaining files: got versions $vs")
    val epochs = vs.flatMap(v => SnapshotTable.readMeta(table, v).get("epoch"))
      .map(_.toLong)
    require(epochs == Seq(0L, 1L, 2L, 3L),
      s"each epoch must land exactly once on the chain: $epochs")
    // the nightly OPTIMIZE: fold the three deltas onto the seed
    val vOpt = SnapshotTable.optimizeDeltas(s, table, baseVersion = 1L)(
      _.repartitionByRange(4, $"user_id"))
    require(SnapshotTable.chainOf(table, vOpt) == Seq(vOpt, 1L),
      "optimize must shrink the chain to seed + one folded generation")
    require(SnapshotTable.readMeta(table, vOpt).get("epoch").contains("3"),
      "the folded generation must carry the epoch high-water mark")
    SnapshotTable.read(s, table)
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"),
        sum($"event_id").as("sum_event_id"),
        countDistinct($"event_type").as("n_types"),
        min(unix_micros($"ts")).as("min_us"),
        max(unix_micros($"ts")).as("max_us"))
      .select($"n_events", $"n_users", $"sum_event_id", $"n_types",
        $"min_us", $"max_us",
        lit(2L).as("n_generations"), lit(3L).as("epoch_hwm"))
  }

  private val streamingAppendIngestOracle =
    """SELECT count(*) AS n_events,
      |  count(DISTINCT user_id) AS n_users,
      |  CAST(sum(event_id) AS BIGINT) AS sum_event_id,
      |  count(DISTINCT event_type) AS n_types,
      |  min(epoch_us(ts)) AS min_us, max(epoch_us(ts)) AS max_us,
      |  CAST(2 AS BIGINT) AS n_generations,
      |  CAST(3 AS BIGINT) AS epoch_hwm
      |FROM events""".stripMargin

  /** Tail a snapshot table AS A STREAMING SOURCE — the read-side
    * complement of [[streamingAppendIngest]]: an APPEND-ONLY chain's
    * version directories appear atomically (claim-rename), so a file
    * stream over `table/v*` is a correct changefeed — each new
    * generation contributes exactly its delta files, never a partial
    * write, never a re-emission (the contract a downstream consumer
    * needs; a full-rewrite or optimize commit breaks it by design —
    * tail between compactions). The gate replicates upstream →
    * downstream THROUGH the spine: the consumer's foreachBatch appends
    * each micro-batch to a second snapshot table, the first drain
    * covers the first two generations, two more upstream commits land,
    * and a SECOND drain from the same checkpoint processes ONLY the
    * new generations' files (loud requires on the downstream version
    * count and epochs — incremental tailing across consumer restarts).
    * The replica's aggregate must match DuckDB on the source events:
    * end-to-end CDC replication, no loss, no double-count.
    */
  private def streamingTableTail(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ops.SnapshotTable
    val up = LakeOps.lakeBase(dir, "tailup")
    val down = LakeOps.lakeBase(dir, "taildown")
    SnapshotTable.deleteTree(up)
    SnapshotTable.deleteTree(down)
    val events = Tables.events(s, dir)
    // four single-file generations, committed in two rounds
    val quarter = (q: Int) =>
      events.filter(pmod($"event_id", lit(4)) === q).repartition(1)
    val v1 = SnapshotTable.commit(quarter(0), up,
      expectedVersion = SnapshotTable.ExpectEmpty)
    val v2 = SnapshotTable.commitAppend(quarter(1), up, expectedVersion = v1)
    def tail() = s.readStream
      .schema(eventsSchema(TimestampType))
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$up/v*")
    // drain 1: the consumer replicates generations 1-2 downstream
    withStreamShuffle(s, 4) {
      Streaming.foreachBatchAppendIngest(tail(), down)
    }
    val after1 = SnapshotTable.versions(down)
    require(after1 == Seq(1L, 2L),
      s"drain 1 must replicate exactly the two upstream files: $after1")
    require(SnapshotTable.read(s, down).count()
      == SnapshotTable.readAt(s, up, v2).count(),
      "the replica diverged from upstream after drain 1")
    // two more upstream generations, then a consumer RESTART (same
    // checkpoint): only the NEW generations' files are processed
    val v3 = SnapshotTable.commitAppend(quarter(2), up, expectedVersion = v2)
    val v4 = SnapshotTable.commitAppend(quarter(3), up, expectedVersion = v3)
    withStreamShuffle(s, 4) {
      Streaming.foreachBatchAppendIngest(tail(), down)
    }
    val after2 = SnapshotTable.versions(down)
    require(after2 == Seq(1L, 2L, 3L, 4L),
      s"drain 2 must append exactly the two new files: $after2")
    val epochs = after2
      .flatMap(v => SnapshotTable.readMeta(down, v).get("epoch")).map(_.toLong)
    require(epochs == Seq(0L, 1L, 2L, 3L),
      s"each upstream file must replicate exactly once: epochs $epochs")
    SnapshotTable.read(s, down)
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"),
        sum($"event_id").as("sum_event_id"),
        min(unix_micros($"ts")).as("min_us"),
        max(unix_micros($"ts")).as("max_us"))
      .select($"n_events", $"n_users", $"sum_event_id", $"min_us", $"max_us",
        lit(4L).as("n_replicated_generations"))
  }

  /** Streaming CDC APPLY into the spine — the ingest mode
    * [[streamingRestartRecovery]] (idempotent state merge) and
    * [[streamingAppendIngest]] (epoch-skipped append) both leave open:
    * each micro-batch MERGES into a latest-row-per-key snapshot table
    * via ONE atomic [[graft.ops.SnapshotTable.commitUpsert]]
    * (tombstones + replacements in a single claim-rename — the merge
    * is NOT idempotent like the state table's max-ts fold, and it is
    * not an append either, so it needs both the per-writer
    * `txn.<queryId>` epoch skip AND single-commit atomicity). The
    * feed is four ts-quartile files with ascending mtimes (the file
    * source delivers oldest-first), so every batch strictly beats the
    * stored rows for its keys and the version count is deterministic —
    * while the ts-guarded merge itself stays correct under ANY
    * delivery order. The gate kills the query between batch 1's
    * commit and its checkpoint, restarts, and requires loudly: the
    * replayed epoch SKIPPED (exactly four generations, epochs 0..3
    * each once); every merge generation is a true upsert commit
    * (tombstone count = replacement row count — batch-proportional,
    * never a rewrite); no key is ever duplicated. The final table
    * must hash-match DuckDB's latest-row-per-key over the whole feed:
    * exactly-once CDC apply across a crash-restart boundary.
    */
  private def streamingUpsertIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ops.SnapshotTable
    val feed = LakeOps.lakeBase(dir, "upsertfeed")
    val table = LakeOps.lakeBase(dir, "upserttable")
    SnapshotTable.deleteTree(feed)
    SnapshotTable.deleteTree(table)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(feed))
    val events = Tables.events(s, dir)
    // four ts-ordered quarters (ntile over the (ts, event_id) total
    // order — gate SETUP, not the operator under test), one file each,
    // strictly ascending mtimes for a deterministic delivery order
    val byTime = org.apache.spark.sql.expressions.Window
      .orderBy($"ts", $"event_id")
    val quartered = events.withColumn("q", ntile(4).over(byTime))
    val mtimeBase = System.currentTimeMillis() - 60000L
    (1 to 4).foreach { q =>
      val tmp = s"$feed.tmp$q"
      quartered.filter($"q" === q).drop("q").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no part file in $tmp"))
      val dest = new java.io.File(feed, s"q$q.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      SnapshotTable.deleteTree(tmp)
      require(dest.setLastModified(mtimeBase + q * 2000L),
        s"could not stamp mtime on $dest")
    }
    def stream() = s.readStream
      .schema(eventsSchema(TimestampType))
      .option("maxFilesPerTrigger", 1)
      .parquet(feed)
    // run 1: crash AFTER batch 1's merge commit, BEFORE its checkpoint
    withStreamShuffle(s, 4) {
      Streaming.foreachBatchUpsertIngest(stream(), table,
        failAfterBatch = Some(1L))
    }
    val vs1 = SnapshotTable.versions(table)
    require(vs1 == Seq(1L, 2L),
      s"two committed batches must precede the crash, got $vs1")
    // run 2: the checkpoint re-delivers batch 1; its txn marker on the
    // chain makes the non-idempotent merge SKIP, then batches 2,3 merge
    val fin = withStreamShuffle(s, 4) {
      Streaming.foreachBatchUpsertIngest(stream(), table)
    }
    val vs = SnapshotTable.versions(table)
    require(vs == Seq(1L, 2L, 3L, 4L),
      s"the replay must skip its committed epoch and merge the two " +
        s"remaining files: got versions $vs")
    val epochs = vs.flatMap(v => SnapshotTable.readMeta(table, v).get("epoch"))
      .map(_.toLong)
    require(epochs == Seq(0L, 1L, 2L, 3L),
      s"each epoch must land exactly once on the chain: $epochs")
    // every merge generation is a true single-commit upsert at batch
    // cost: one replacement row per tombstoned key, never a rewrite
    Seq(2L, 3L, 4L).foreach { v =>
      require(SnapshotTable.isUpsert(table, v),
        s"v$v must be an atomic upsert commit (tombstones + data in one)")
      val dataRows = SnapshotTable.readParquet(s, s"$table/v$v").count()
      val delKeys = SnapshotTable.readParquet(s, s"$table/v$v/_deletes").count()
      require(dataRows == delKeys && dataRows > 0,
        s"v$v must carry exactly one replacement per tombstoned key: " +
          s"$dataRows rows vs $delKeys tombstones")
    }
    require(SnapshotTable.chainOf(table, 4L) == Seq(4L, 3L, 2L, 1L),
      s"expected a four-generation merge chain: " +
        s"${SnapshotTable.chainOf(table, 4L)}")
    val dup = fin.groupBy($"user_id").count().filter($"count" > 1).count()
    require(dup == 0, s"the merge chain left $dup duplicated keys")
    fin
      .select($"user_id", $"last_event_id", $"last_type",
        unix_micros($"last_ts").as("last_us"),
        lit(vs.size.toLong).as("n_generations"))
      .orderBy($"user_id")
  }

  private val streamingUpsertIngestOracle =
    """SELECT user_id, event_id AS last_event_id,
      |  event_type AS last_type, epoch_us(ts) AS last_us,
      |  CAST(4 AS BIGINT) AS n_generations
      |FROM (
      |  SELECT user_id, event_id, event_type, ts,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  private val streamingTableTailOracle =
    """SELECT count(*) AS n_events,
      |  count(DISTINCT user_id) AS n_users,
      |  CAST(sum(event_id) AS BIGINT) AS sum_event_id,
      |  min(epoch_us(ts)) AS min_us, max(epoch_us(ts)) AS max_us,
      |  CAST(4 AS BIGINT) AS n_replicated_generations
      |FROM events""".stripMargin

  /** Multi-writer CDC contention — the availability half
    * [[streamingUpsertIngest]] leaves open: that gate proves the merge
    * is exactly-once for ONE writer; this one proves a CONCURRENT
    * writer landing inside the merge window (after the stream read the
    * tip's state, before its commit) cannot kill the stream OR lose
    * either writer's rows. The racer commits a direct atomic upsert of
    * a disjoint synthetic key set at the exact interleave point (the
    * `raceWindow` hook, the `snapshot_optimize_contention` technique);
    * the stream's commit CAS-fails loudly, re-reads the NEW tip, and
    * re-merges — correct under any interleave because the
    * max-(ts, event_id) guard orders against stored state, not commit
    * arrival. Loud requires: exactly ONE conflict was observed (the
    * deterministic interleave, pinned via
    * [[graft.streaming.Streaming.mergeConflictCount]]); the chain is
    * five generations with the racer's sandwiched at v2 and the
    * stream's four epochs each landing exactly once; the racer's rows
    * all survive; no key duplicates. The final table hash-matches
    * DuckDB's latest-row-per-key over the feed UNION the racer's
    * derived batch.
    */
  private def streamingUpsertContention(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ops.SnapshotTable
    val feed = LakeOps.lakeBase(dir, "upsertracefeed")
    val table = LakeOps.lakeBase(dir, "upsertracetable")
    SnapshotTable.deleteTree(feed)
    SnapshotTable.deleteTree(table)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(feed))
    val events = Tables.events(s, dir)
    val byTime = org.apache.spark.sql.expressions.Window
      .orderBy($"ts", $"event_id")
    val quartered = events.withColumn("q", ntile(4).over(byTime))
    val mtimeBase = System.currentTimeMillis() - 60000L
    (1 to 4).foreach { q =>
      val tmp = s"$feed.tmp$q"
      quartered.filter($"q" === q).drop("q").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no part file in $tmp"))
      val dest = new java.io.File(feed, s"q$q.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      SnapshotTable.deleteTree(tmp)
      require(dest.setLastModified(mtimeBase + q * 2000L),
        s"could not stamp mtime on $dest")
    }
    // the racer's batch: keys DISJOINT from the feed (shifted 1e6) so
    // the final table is deterministic whatever the interleave; a fixed
    // epoch-ms timestamp keeps the oracle timezone-free
    val racerTs = new java.sql.Timestamp(1577836800000L) // 2020-01-01 UTC
    val racer = events.filter($"user_id" % 5 === 0)
      .select($"user_id").distinct()
      .select(($"user_id" + 1000000L).as("user_id"),
        lit(0L).as("last_event_id"), lit("racer").as("last_type"),
        lit(racerTs).as("last_ts"))
    val nRacer = racer.count()
    val conflicts0 = Streaming.mergeConflictCount.get()
    @volatile var fired = false
    val fin = withStreamShuffle(s, 4) {
      Streaming.foreachBatchUpsertIngest(
        s.readStream.schema(eventsSchema(TimestampType))
          .option("maxFilesPerTrigger", 1).parquet(feed),
        table,
        raceWindow = epoch => if (epoch == 1L && !fired) {
          fired = true
          val tip = SnapshotTable.currentVersion(table).getOrElse(
            throw new IllegalStateException("race hook before any commit"))
          SnapshotTable.commitUpsert(racer, Seq("user_id"), table,
            expectedVersion = tip, meta = Map("writer" -> "racer"))
        })
    }
    require(fired, "the deterministic race hook never fired")
    require(Streaming.mergeConflictCount.get() == conflicts0 + 1,
      s"exactly one CAS conflict must be observed, got " +
        s"${Streaming.mergeConflictCount.get() - conflicts0}")
    val vs = SnapshotTable.versions(table)
    require(vs == Seq(1L, 2L, 3L, 4L, 5L),
      s"expected 4 stream merges + 1 racer upsert, got versions $vs")
    require(SnapshotTable.readMeta(table, 2L).get("writer").contains("racer"),
      "the racer's upsert must be the generation inside epoch 1's window")
    val epochs = vs.flatMap(v => SnapshotTable.readMeta(table, v).get("epoch"))
      .map(_.toLong)
    require(epochs == Seq(0L, 1L, 2L, 3L),
      s"the stream's epochs must land exactly once each: $epochs")
    require(fin.filter($"last_type" === "racer").count() == nRacer,
      "the racer's rows must survive the stream's re-merge")
    val dup = fin.groupBy($"user_id").count().filter($"count" > 1).count()
    require(dup == 0, s"the contended merge chain left $dup duplicated keys")
    fin
      .select($"user_id", $"last_event_id", $"last_type",
        unix_micros($"last_ts").as("last_us"),
        lit(vs.size.toLong).as("n_generations"))
      .orderBy($"user_id")
  }

  private val streamingUpsertContentionOracle =
    """SELECT user_id, last_event_id, last_type, last_us, n_generations
      |FROM (
      |  SELECT user_id, event_id AS last_event_id,
      |    event_type AS last_type, epoch_us(ts) AS last_us,
      |    CAST(5 AS BIGINT) AS n_generations
      |  FROM (
      |    SELECT user_id, event_id, event_type, ts,
      |      row_number() OVER (PARTITION BY user_id
      |        ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events)
      |  WHERE rn = 1
      |  UNION ALL
      |  SELECT DISTINCT user_id + 1000000 AS user_id,
      |    CAST(0 AS BIGINT) AS last_event_id, 'racer' AS last_type,
      |    CAST(1577836800000000 AS BIGINT) AS last_us,
      |    CAST(5 AS BIGINT) AS n_generations
      |  FROM events WHERE user_id % 5 = 0)
      |ORDER BY user_id""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("streaming_upsert_ingest", streamingUpsertIngest,
      Some(streamingUpsertIngestOracle)),
    Q("streaming_upsert_contention", streamingUpsertContention,
      Some(streamingUpsertContentionOracle)),
    Q("streaming_table_tail", streamingTableTail,
      Some(streamingTableTailOracle)),
    Q("streaming_append_ingest", streamingAppendIngest,
      Some(streamingAppendIngestOracle)),
    Q("streaming_restart_recovery", streamingRestartRecovery,
      Some(streamingRestartOracle)),
    Q("streaming_changelog", streamingChangelog,
      Some(streamingChangelogOracle)),
    Q("streaming_tws_user_stats", streamingTwsUserStats,
      Some(streamingTwsOracle)),
    Q("streaming_quality_filter", streamingQualityFilter,
      Some(streamingQualityOracle)),
    Q("streaming_hll_distinct", streamingHllDistinct,
      Some(streamingHllOracle)),
    Q("streaming_session_window", streamingSessionWindow,
      Some(Events.sessionWindowOracle)),
    Q("streaming_interval_join", streamingIntervalJoin,
      Some(streamingIntervalOracle)),
    Q("streaming_left_outer_join", streamingLeftOuterJoin,
      Some(streamingLeftOuterOracle)),
    Q("streaming_upsert_state", streamingUpsertState,
      Some(streamingUpsertOracle)),
    Q("streaming_enrich_events", streamingEnrichEvents,
      Some(streamingEnrichOracle)),
    Q("streaming_tumbling_hourly", streamingTumblingHourly,
      Some(streamingTumblingOracle)),
    Q("streaming_dedup_events", streamingDedupEvents,
      Some(streamingDedupOracle)))
}
