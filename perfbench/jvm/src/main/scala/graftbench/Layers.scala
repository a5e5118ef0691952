package graftbench

/** Per-layer metrics of a traced run, from the timed calls' spans and
  * counters. Layers the workload does not reach read 0.
  */
object Layers {
  private val MB = 1048576.0

  def metrics(recs: Seq[Main.Rec], cpus: Int, gcMs: Long): Seq[(String, Double, String)] = {
    val n = recs.size.toDouble max 1.0
    def per(f: Main.Rec => Double) = recs.map(f).sum / n
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def opMs(r: Main.Rec) = r.ns / 1e6
    def execMs(r: Main.Rec) = (r.ns - r.buildNs - r.planNs) / 1e6
    def ofKind(k: String) = recs.filter(_.op.kind == k)
    def kindMs(k: String*) = mean(recs.filter(r => k.contains(r.op.kind)).map(opMs))

    // wall time of the exec part during which none of the op's jobs ran
    def betweenJobsMs(r: Main.Rec): Double = {
      val lo = r.startMs + (r.buildNs + r.planNs) / 1000000L
      val hi = r.endMs
      val iv = r.c.jobIntervals.map { case (s, e) => (s max lo, (if (e < 0) hi else e) min hi) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0L
      var cur = lo
      iv.foreach { case (s, e) =>
        val s1 = s max cur
        if (e > s1) { covered += e - s1; cur = e }
      }
      ((hi - lo) - covered).toDouble max 0.0
    }

    val writes = recs.filter(r => Workloads.writes(r.op.kind))
    val reads = recs.filter(r => Workloads.readKinds(r.op.kind))
    val pruned = recs.filter(r => r.filesInVersion > 0)
    val amp = writes.filter(_.op.kind != "compact")
    val ingests = ofKind("ingest")
    val batches = ingests.map(_.stream._1).sum
    val execTotal = recs.map(execMs).sum
    Seq(
      ("queries.build_ms", per(_.buildNs / 1e6), "ms"),
      ("plans.plan_ms", per(_.planNs / 1e6), "ms"),
      ("plans.codegen_compiles_per_op", per(_.compiles.toDouble), "count"),
      ("spark.exec_ms", per(execMs), "ms"),
      ("spark.stages_per_op", per(_.c.stages), "count"),
      ("spark.tasks_per_op", per(_.c.tasks), "count"),
      ("spark.between_jobs_ms", per(betweenJobsMs), "ms"),
      ("spark.task_cpu_ms_per_op", per(_.c.taskCpuNs / 1e6), "ms"),
      ("spark.slot_busy", if (execTotal > 0) recs.map(_.c.taskRunMs).sum / (execTotal * cpus) else 0.0, "ratio"),
      ("spark.shuffle_write_mb_per_op", per(_.c.shuffleWrite / MB), "MiB"),
      ("spark.shuffle_read_mb_per_op", per(_.c.shuffleRead / MB), "MiB"),
      ("spark.spill_mb_per_op", per(_.c.spill / MB), "MiB"),
      ("sources.input_mb_per_op", per(_.c.inputBytes / MB), "MiB"),
      ("sources.input_rows_per_op", per(_.c.inputRows.toDouble), "count"),
      ("sources.files_read_per_op", per(_.filesRead.toDouble), "count"),
      ("ops.commit_ms", kindMs("commit"), "ms"),
      ("ops.upsert_ms", kindMs("upsert"), "ms"),
      ("ops.delete_ms", kindMs("delete"), "ms"),
      ("ops.append_ms", kindMs("append"), "ms"),
      ("ops.compact_ms", kindMs("compact"), "ms"),
      ("ops.expire_gc_ms", kindMs("expire_gc"), "ms"),
      ("ops.read_full_ms", kindMs("read_full"), "ms"),
      ("ops.read_point_ms", kindMs("read_point"), "ms"),
      ("ops.read_range_ms", kindMs("read_range"), "ms"),
      ("ops.time_travel_ms", kindMs("time_travel"), "ms"),
      ("ops.jobs_per_commit", mean(writes.map(_.c.jobs.toDouble)), "count"),
      ("ops.jobs_per_read", mean(reads.map(_.c.jobs.toDouble)), "count"),
      ("ops.files_per_commit", mean(writes.map(_.filesAdded.toDouble)), "count"),
      ("ops.write_amp", {
        val in = amp.flatMap(r => r.batchBytes).sum.toDouble
        if (in > 0) amp.map(_.bytesAdded).sum / in else 0.0
      }, "ratio"),
      ("ops.files_kept_ratio",
        if (pruned.isEmpty) 0.0 else pruned.map(_.filesRead).sum.toDouble / pruned.map(_.filesInVersion).sum,
        "ratio"),
      ("streaming.ingest_ms", mean(ingests.map(opMs)), "ms"),
      ("streaming.batch_ms", if (batches > 0) ingests.map(_.stream._2).sum.toDouble / batches else 0.0, "ms"),
      ("streaming.add_batch_ms", if (batches > 0) ingests.map(_.stream._3).sum.toDouble / batches else 0.0, "ms"),
      ("streaming.batches", if (ingests.isEmpty) 0.0 else batches.toDouble / ingests.size, "count"),
      ("jvm.gc_ms_per_op", gcMs / n, "ms"),
      ("jvm.jit_ms", Host.jitMs.toDouble, "ms"),
      ("jvm.heap_after_mb", Host.heapAfterGcMb, "MiB"))
  }
}
