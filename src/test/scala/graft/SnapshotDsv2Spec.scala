package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.SnapshotTable

/** The `format("snapshot")` DSv2 connector: option resolution edges,
  * the GraftExtensions substitution every graft session carries, and
  * the V1 fallback of a session built without them (the oracle gate
  * `snapshot_dsv2_read` covers the substitution/time-travel matrix;
  * this spec covers what the gate doesn't).
  */
class SnapshotDsv2Spec extends SparkSpec {

  private def freshTable(): String = {
    val dir = java.nio.file.Files
      .createTempDirectory("dsv2spec").resolve("t").toString
    import spark.implicits._
    val v1 = SnapshotTable.commit(
      (1L to 40L).map(i => (i, i * 10L)).toDF("k", "x"), dir,
      expectedVersion = SnapshotTable.ExpectEmpty)
    SnapshotTable.commitAppend(
      (41L to 60L).map(i => (i, i * 10L)).toDF("k", "x"), dir,
      expectedVersion = v1)
    dir
  }

  test("ISO-8601 timestampAsOf resolves through the publish log") {
    val dir = freshTable()
    val t1 = SnapshotTable.publishEvents(dir)
      .filter(e => e._1 == 1L && e._2 == "current").head._3
    val t2 = SnapshotTable.publishEvents(dir)
      .filter(e => e._1 == 2L && e._2 == "current").head._3
    // an instant inside [t1, t2) must resolve v1 whether given as
    // epoch millis or as an ISO instant
    val iso = java.time.Instant.ofEpochMilli(math.max(t1, t2 - 1)).toString
    val dfIso = spark.read.format("snapshot")
      .option("timestampAsOf", iso).load(dir)
    val dfMs = spark.read.format("snapshot")
      .option("timestampAsOf", math.max(t1, t2 - 1).toString).load(dir)
    if (t2 > t1) {
      assert(dfIso.count() == 40L)
      assert(dfMs.count() == 40L)
    } else {
      // same-ms publishes: both forms must still agree with each other
      assert(dfIso.count() == dfMs.count())
    }
  }

  test("option edges fail loudly") {
    val dir = freshTable()
    val noVersion = intercept[Exception] {
      spark.read.format("snapshot").option("versionAsOf", "99").load(dir)
    }
    assert(noVersion.getMessage.contains("no version 99"))
    val noBranch = intercept[Exception] {
      spark.read.format("snapshot").option("branch", "nope").load(dir)
    }
    assert(noBranch.getMessage.contains("no branch 'nope'"))
    val clash = intercept[Exception] {
      spark.read.format("snapshot").option("versionAsOf", "1")
        .option("branch", "b").load(dir)
    }
    assert(clash.getMessage.contains("MAIN history"))
    val empty = intercept[Exception] {
      spark.read.format("snapshot").load(
        java.nio.file.Files.createTempDirectory("dsv2empty").toString)
    }
    assert(empty.getMessage.contains("no published version"))
  }

  test("GraftExtensions session substitutes the relation (FileScan plan)") {
    val dir = freshTable()
    val before = graft.plans.SnapshotRelationRule.substitutions
    val df = spark.read.format("snapshot").load(dir)
      .filter(col("k") <= 10L).agg(sum(col("x")))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("FileScan"),
      s"extensions session must plan native parquet scans:\n$plan")
    assert(!plan.contains("snapshot-v1-fallback"))
    assert(graft.plans.SnapshotRelationRule.substitutions > before)
    assert(df.collect()(0).getLong(0) == (1L to 10L).map(_ * 10).sum)
  }

  test("fallback read on the plain session answers the full chain") {
    // a session built WITHOUT GraftExtensions (same SparkContext):
    // detach the shared default, build, restore
    val dir = freshTable()
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val plain = SparkSession.builder().master("local[2]").getOrCreate()
      assert(plain ne base)
      val before = graft.plans.SnapshotRelationRule.substitutions
      val df = plain.read.format("snapshot").load(dir)
      assert(!df.queryExecution.executedPlan.toString.contains("FileScan"),
        "a plain session must plan the V1 fallback scan")
      assert(df.count() == 60L)
      assert(df.agg(sum(col("x"))).collect()(0).getLong(0) ==
        (1L to 60L).map(_ * 10).sum)
      assert(graft.plans.SnapshotRelationRule.substitutions == before)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
