package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.BenchAccess
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Benchmark runner: one workload in one JVM, one client thread in a
  * closed loop. Set-up is the session build, input staging and one check
  * round, whose outputs are written for the output checks; then
  * `--rounds` timed rounds (at least two, so repeat calls can be
  * compared). Figures go to `<out>/result.json`.
  *
  * Args: --workload W --rounds R --trace 0|1 --cpus N --out DIR --work DIR
  *       and --data DIR --ops a,b,c (query workloads)
  *       or --cdc DIR --lake DIR (lake_cdc)
  */
object Main {
  private val scanHelper = new AdaptiveSparkPlanHelper {}

  /** One timed call: what the metrics and the repeat guard need. */
  final case class Rec(round: Int, pos: Int, op: Op, ns: Long, rows: Long,
      error: Option[String], c: OpCounters, buildNs: Long, planNs: Long,
      startMs: Long, endMs: Long, filesRead: Long, stream: (Int, Long, Long),
      bytesAdded: Long, filesAdded: Long, filesInVersion: Long,
      batchBytes: Option[Long], compiles: Long)

  def main(args: Array[String]): Unit = {
    val mainStart = System.nanoTime()
    Host.start()
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload")
    val rounds = a("rounds").toInt max 2
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val outDir = a("out")
    val work = a("work")
    Files.createDirectories(Paths.get(outDir))

    val workload: Workload = workloadName match {
      case "lake_cdc" =>
        val p = new java.util.Properties()
        val in = Files.newInputStream(Paths.get(a("cdc"), "params.properties"))
        try p.load(in) finally in.close()
        new LakeWorkload(a("cdc"), a("lake"), p)
      case _ =>
        val ops = a("ops").split(",").toSeq
        // the registry's DuckDB oracle SQL, for the output checks
        Files.createDirectories(Paths.get(outDir, "oracle"))
        ops.foreach(o => graft.SparkEntry.oracleSql.get(o).foreach(sql =>
          Files.writeString(Paths.get(outDir, "oracle", s"$o.sql"), sql)))
        new QueryWorkload(ops, a("data"))
    }

    val jobs = new JobProbe
    val streams = new StreamProbe
    val spans = new Spans(trace)
    jobs.recordSpans = trace

    // ---- set-up: session build, staging, check round -------------------
    val session = Session.build(cpus, work)
    session.sparkContext.addSparkListener(jobs)
    session.streams.addListener(streams)
    workload.stage(session)
    var nextOp = 0
    var scanFiles = 0L
    var curPos = 0
    val savedAt = mutable.TreeMap.empty[Int, String]

    val ctx = new Ctx {
      def spark: SparkSession = session
      var checking = false
      def span[T](name: String)(body: => T): T = spans(name)(body)
      def count(df: DataFrame): Long =
        if (!trace) df.queryExecution.toRdd.count()
        else {
          val plan = spans("plan")(df.queryExecution.executedPlan)
          val n = spans("exec")(df.queryExecution.toRdd.count())
          scanFiles += scanHelper.collectWithSubqueries(plan) {
            case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          }.sum
          n
        }
      def save(df: DataFrame, name: String): Long = {
        val path = s"$outDir/results/$name"
        savedAt(curPos) = name
        df.write.mode("overwrite").parquet(path)
        df.sparkSession.read.parquet(path).count()
      }
    }

    /** Run one op; returns its record. Listener events are drained before
      * returning, so the counters are complete.
      */
    def runOp(round: Int, pos: Int, op: Op): Rec = {
      val sc = session.sparkContext
      val id = nextOp
      nextOp += 1
      jobs.currentOp = id
      streams.currentOp = id
      spans.op = id
      scanFiles = 0L
      curPos = pos
      val dir = workload.tableDir(round).filter(_ => trace && Workloads.writes(op.kind))
      val (bytes0, files0) = dir.map(Host.du).getOrElse((0L, 0L))
      sc.setJobGroup(s"op-$id", s"${op.kind}:${op.name}")
      val compiles0 = BenchAccess.codegenCompiles
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val res =
        try Right(spans(s"${op.kind}:${op.name}")(op.run(ctx)))
        catch { case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") }
      val ns = System.nanoTime() - t0
      val endMs = System.currentTimeMillis()
      sc.clearJobGroup()
      BenchAccess.drainListeners(sc)
      if (sc.isStopped)
        throw new IllegalStateException(s"SparkContext died during ${op.name}")
      val (bytes1, files1) = dir.map(Host.du).getOrElse((0L, 0L))
      val inVersion =
        if (trace && (op.kind == "read_point" || op.kind == "read_range"))
          workload.tableDir(round).map(Host.filesInCurrentVersion).getOrElse(0L)
        else 0L
      val own = spans.all.filter(s => s._3 == id)
      def spanNs(n: String) = own.filter(_._4 == n).map(s => s._6 - s._5).sum
      val c = jobs.counters(id)
      jobs.forget(id)
      Rec(round, pos, op, ns, res.getOrElse(-1L), res.left.toOption, c,
        spanNs("build"), spanNs("plan"), startMs, endMs, scanFiles,
        streams.get(id), bytes1 - bytes0, files1 - files0, inVersion,
        workload.batchBytes(op), BenchAccess.codegenCompiles - compiles0)
    }

    ctx.checking = true
    val refRows = workload.round(-1).zipWithIndex.map { case (op, pos) =>
      val r = runOp(-1, pos, op)
      r.error.foreach(e => System.err.println(s"[bench] check round ${op.name} FAILED: $e"))
      System.err.println(f"[bench] check round #$pos%-3d ${op.name}%-28s ${r.ns / 1e6}%8.1f ms  jobs ${r.c.jobs}")
      pos -> r.rows
    }.toMap
    ctx.checking = false
    val setupS = (System.nanoTime() - mainStart) / 1e9

    // ---- timed phase: whole rounds, closed loop ------------------------
    Host.log("before timed phase", cpus)
    val recs = mutable.ArrayBuffer.empty[Rec]
    val gc0 = Host.gcMs
    val tStart = System.nanoTime()
    // (wall ms, process CPU ms) of each timed round
    val roundCost = (0 until rounds).map { round =>
      val t0 = System.nanoTime()
      val c0 = Host.processCpuNs
      workload.round(round).zipWithIndex.foreach { case (op, pos) => recs += runOp(round, pos, op) }
      val cost = ((System.nanoTime() - t0) / 1e6, (Host.processCpuNs - c0) / 1e6)
      System.err.println(f"[bench] round $round: ${cost._1}%.0f ms, cpu ${cost._2}%.0f ms, jit ${Host.jitMs} ms")
      cost
    }
    val wallS = (System.nanoTime() - tStart) / 1e9
    val gcMs = Host.gcMs - gc0
    Host.log("after timed phase", cpus)

    // ---- guards: same rows as the first call, same jobs/tasks per position
    val ref0 = recs.filter(_.round == 0).map(r => r.pos -> r).toMap
    val failures = recs.flatMap { r =>
      val why = r.error.orElse {
        if (!refRows.get(r.pos).contains(r.rows))
          Some(s"${r.rows} rows, first call ${refRows.getOrElse(r.pos, -1L)}")
        else {
          val f = ref0(r.pos)
          if (r.c.jobs != f.c.jobs || r.c.tasks != f.c.tasks)
            Some(s"${r.c.jobs} jobs/${r.c.tasks} tasks, round 0 had ${f.c.jobs}/${f.c.tasks}")
          else None
        }
      }
      why.map(w => (r.round, r.pos, s"round ${r.round} #${r.pos} ${r.op.name}: $w"))
    }
    failures.take(20).foreach(f => System.err.println(s"[bench] FAILED ${f._3}"))
    recs.groupBy(_.pos).toSeq.sortBy(_._1).foreach { case (pos, rs) =>
      val r = rs.head
      System.err.println(f"[bench] op #$pos%-3d ${r.op.name}%-28s median ${median(rs.map(_.ns / 1e6).toSeq)}%8.1f ms" +
        f"  jobs ${r.c.jobs}%3d  tasks ${r.c.tasks}%4d  rows ${r.rows}")
    }

    // ---- metrics ---------------------------------------------------------
    val n = recs.size.toDouble
    // Medians over rounds and calls: an op's latency is the median of its
    // timed calls at its round position, and the percentiles run over the
    // ops of a round; throughput and CPU time are those of the median
    // round. Of three or more rounds, one that the host slowed (CPU time
    // taken by other guests comes and goes within a run) moves none of them.
    val perRound = n / rounds
    val lat = recs.groupBy(_.pos).values.map(rs => median(rs.map(_.ns / 1e6).toSeq)).toSeq.sorted
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("ops_per_s", perRound / (median(roundCost.map(_._1)) / 1e3), "1/s"),
      ("op_p50_ms", quantile(lat, 0.5), "ms"),
      ("op_p90_ms", quantile(lat, 0.9), "ms"),
      ("cpu_ms_per_op", median(roundCost.map(_._2)) / perRound, "ms"),
      ("jobs_per_op", recs.map(_.c.jobs).sum / n, "count"),
      ("peak_rss_mb", Host.peakRssMb, "MiB"))
    val layers = if (trace) Layers.metrics(recs.toSeq, cpus, gcMs) else Nil

    if (trace) Host.writeSpans(s"$outDir/spans.jsonl", spans.all, jobs.jobSpans.toSeq)
    session.stop()

    def num(d: Double) = if (d.isNaN || d.isInfinite) "0" else f"$d%.6f"
    def obj(ms: Seq[(String, Double, String)]) = ms.map { case (k, v, u) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    val json =
      s"""{"attempted":${recs.size},"failed":${failures.size},"rounds":$rounds,""" +
        s""""timed_s":${num(wallS)},""" +
        s""""end_to_end":${obj(e2e)},"per_layer":${obj(layers)},""" +
        s""""ops":[${recs.filter(_.round == 0).map(r => "\"" + r.op.name + "\"").mkString(",")}],""" +
        s""""saved_at":{${savedAt.map { case (p, v) => s""""$p":"$v"""" }.mkString(",")}},""" +
        s""""failed_calls":[${failures.map(f => s"[${f._1},${f._2}]").mkString(",")}]}"""
    Files.write(Paths.get(outDir, "result.json"), json.getBytes(StandardCharsets.UTF_8))
  }

  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  /** Linear-interpolated quantile of sorted `xs`. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val h = (xs.size - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, xs.size - 1)
      xs(lo) + (h - lo) * (xs(hi) - xs(lo))
    }
}

/** The session settings of `graft.Bench`, with every directory under the
  * run's own temp root.
  */
object Session {
  def build(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "64k")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

object Workloads {
  val writeKinds = Set("commit", "upsert", "delete", "append", "compact")
  val readKinds = Set("read_full", "read_point", "read_range", "time_travel")
  def writes(kind: String): Boolean = writeKinds(kind)
}
