package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Plan evidence for the registry queries, in a [[Session]] — the
  * session Bench and Verify run. Each query is built and executed once
  * (`toRdd.count()`, as Bench times it); its plan is read from that same
  * QueryExecution AFTER execution, so AQE's final plan is recorded, and
  * the cache is cleared before the next query.
  *
  * Usage:
  *  - `tools/run.sh graft.PlanDump` audits EVERY registry query into
  *    `PLANS.md` in the working directory (PlansCoverageSpec gates its
  *    section list against the registry);
  *  - `tools/run.sh graft.PlanDump <outDir> <suffix> <query>...` writes
  *    each named query's formatted explain to
  *    `<outDir>/<query>_<suffix>.txt`, headed by the Spark job count
  *    observed while BUILDING and EXECUTING it (the number that captures
  *    eager commit/maintenance work the final frame's plan cannot show).
  *
  * Data comes from `SPARK_GRAFT_SF_DIR` (default sf0.1); PLANS.md is
  * generated against sf0.01.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.isEmpty || args.length >= 3,
      "usage: PlanDump [<outDir> <suffix> <query>...]")
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted else args.drop(2).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = Session.build(Session.envCpus)
    val jobCount = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobCount.incrementAndGet(); ()
        }
      })

    /** (jobs, seconds, executed QueryExecution) of one cold pass. */
    def run(name: String): (Long, Double, QueryExecution) = {
      val before = jobCount.get()
      val t0 = System.nanoTime()
      spark.sparkContext.setJobDescription(s"plandump: $name")
      try {
        val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
        qe.toRdd.count()
        val sec = (System.nanoTime() - t0) / 1e9
        org.apache.spark.GraftAccess.drainListeners(spark.sparkContext)
        (jobCount.get() - before, sec, qe)
      } finally spark.catalog.clearCache()
    }

    if (args.isEmpty) {
      val sb = new StringBuilder
      sb ++= s"# PLANS - physical-plan audit (generated against ${Paths.get(sfDir).getFileName})\n\n"
      sb ++= "Evidence that the plans are the plans we want: filters pushed\n"
      sb ++= "into the parquet scan, columns pruned, dimensions broadcast,\n"
      sb ++= "top-k via TakeOrderedAndProject, no shuffle joins where a broadcast\n"
      sb ++= "fits. Covers EVERY registry query (PlansCoverageSpec gates the\n"
      sb ++= "list against the registry so it cannot drift). Each query runs\n"
      sb ++= "once and its section reads AQE's FINAL plan of the returned\n"
      sb ++= "frame; builders with eager work (threshold collects, lake\n"
      sb ++= "writes, streaming gates) pay that work here. Regenerate with\n"
      sb ++= "`tools/run.sh graft.PlanDump`, SPARK_GRAFT_SF_DIR at sf0.01.\n\n"
      sb ++= s"${names.length} queries audited.\n\n"
      for (q <- names) {
        val plan =
          try run(q)._3.executedPlan match {
            case a: AdaptiveSparkPlanExec => a.executedPlan.toString
            case p => p.toString
          }
          catch { case scala.util.control.NonFatal(e) =>
            s"PLAN FAILED: ${e.getClass.getName}: ${e.getMessage}" }
        def n(p: String) = p.r.findAllIn(plan).length
        sb ++= s"## $q\n\n"
        if (plan.startsWith("PLAN FAILED")) sb ++= s"- ${plan.take(200)}\n"
        else {
          sb ++= s"- BroadcastHashJoin: ${n("BroadcastHashJoin")}, SortMergeJoin: ${n("SortMergeJoin")}, ShuffledHashJoin: ${n("ShuffledHashJoin")}, BroadcastNestedLoopJoin: ${n("BroadcastNestedLoopJoin")}\n"
          sb ++= s"- ShuffleExchanges: ${n("Exchange (hash|range|Single)")}, BroadcastExchanges: ${n("BroadcastExchange")}, TakeOrderedAndProject: ${n("TakeOrderedAndProject")}\n"
          def lines(re: String, width: Int, limit: Int) = {
            val hits = re.r.findAllIn(plan).toList.distinct.take(limit)
            if (hits.nonEmpty) sb ++= hits.map(h => s"- ${h.take(width)}").mkString("", "\n", "\n")
          }
          lines("PushedFilters: \\[[^\\]]*\\]", 200, 3)
          // non-empty partition filters only: every non-hive scan
          // carries a noisy "PartitionFilters: []"
          lines("PartitionFilters: \\[[^\\]]+\\]", 200, 3)
          lines("ReadSchema: struct<[^>]*>", 180, 3)
          lines("SelectedBucketsCount: [^,\\n]*", Int.MaxValue, Int.MaxValue)
        }
        sb ++= "\n"
        System.err.println(s"[plandump] audited $q")
      }
      Files.writeString(Paths.get("PLANS.md"), sb.toString)
      System.err.println(s"[plandump] wrote PLANS.md with ${names.length} sections")
    } else {
      val outDir = Paths.get(args(0))
      val suffix = args(1)
      Files.createDirectories(outDir)
      for (name <- names) {
        val (jobs, sec, qe) = run(name)
        val body =
          s"# $name ($suffix)\n" +
            f"# total Spark jobs during build+execute: $jobs%d\n" +
            f"# wall seconds (single cold pass): $sec%.2f\n\n" +
            qe.explainString(ExplainMode.fromString("formatted"))
        Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), body)
        System.err.println(f"[plandump] $name: $jobs%d jobs, $sec%.2fs")
      }
    }
    spark.stop()
  }
}
