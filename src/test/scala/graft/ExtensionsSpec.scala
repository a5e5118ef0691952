package graft

import graft.plans.{GlobalRowNumberRule, GlobalSeqIdStrategy, SnapshotBloomJoinRule, SnapshotRelationRule}

/** GraftExtensions bind at session-build time; the shared test session
  * is a [[graft.Session]], so it carries them like every graft session.
  */
class ExtensionsSpec extends SparkSpec {

  test("vec_cosine / vec_dot usable from plain SQL") {
    val r = spark.sql(
      """SELECT vec_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                  array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c,
        |       vec_dot(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)),
        |               array(CAST(1.0 AS FLOAT), CAST(1.0 AS FLOAT))) AS d
        |""".stripMargin).collect()(0)
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) == 7.0)
    // text-hash functions: SQL surface matches the Column API values
    val t = spark.sql(
      """SELECT simhash('a b c d', 24, 99) AS sh,
        |       minhash_sig('a b c d e', 3, 4) AS ms,
        |       shingle_hash_set('a b c d', 2) AS hs,
        |       sorted_intersect_count(array(1L, 3L, 5L), array(3L, 4L, 5L)) AS ic
        |""".stripMargin).collect()(0)
    import org.apache.spark.sql.functions.lit
    val expect = spark.range(1).select(
      graft.ops.DedupOps.simhashNative(lit("a b c d"), 24, 99).as("sh"),
      graft.ops.DedupOps.minhashSigNative(lit("a b c d e"), 3, 4).as("ms"),
      graft.ops.DedupOps.shingleHashSetNative(lit("a b c d"), 2).as("hs")).collect()(0)
    assert(t.getLong(0) == expect.getLong(0))
    assert(t.getSeq[Long](1) == expect.getSeq[Long](1))
    assert(t.getSeq[Long](2) == expect.getSeq[Long](2))
    assert(t.getInt(3) == 2)
    // unicode_normalize: 1-arg NFC default + explicit form (inputs
    // built from codepoints so the source stays ASCII: e+U+0301
    // composes, the U+FB01 ligature folds to "fi" under NFKC)
    val u = spark.sql(
      // Spark's chr() wraps at 256, so multibyte codepoints come in
      // as UTF-8 bytes: CC81 = U+0301, EFAC81 = U+FB01
      """SELECT unicode_normalize('Cafe' || decode(unhex('CC81'), 'UTF-8')) AS nfc,
        |       unicode_normalize(decode(unhex('EFAC81'), 'UTF-8') || 'sh', 'NFKC') AS nfkc
        |""".stripMargin).collect()(0)
    assert(u.getString(0) == "Caf\u00e9")
    assert(u.getString(1) == "fish")
  }

  test("the extensions inject the engine's optimizer rules") {
    import spark.implicits._
    // GlobalRowNumberRule + GlobalSeqIdStrategy: a global row_number
    // plans the distributed two-pass node, not a single-task Window
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    val ranked = spark.range(100).toDF("id")
      .withColumn("rn", row_number().over(Window.orderBy(col("id"))))
    // sparkPlan, not executedPlan: AQE wraps the latter in an
    // AdaptiveSparkPlanExec whose inner tree is not collectable
    // before execution
    assert(ranked.queryExecution.sparkPlan.collectFirst {
      case e: graft.plans.GlobalSeqIdExec => e
    }.nonEmpty, "global row_number did not plan GlobalSeqIdExec")
    assert(ranked.filter(col("rn") === col("id") + 1).count() == 100)
    // SnapshotBloomJoinRule: the plain semi-join over a bloom'd
    // snapshot scan plans only the survivor files
    import graft.ops.SnapshotTable
    val dir = java.nio.file.Files.createTempDirectory("graft_ext").toString + "/t"
    val v = SnapshotTable.commit(
      spark.range(2000).toDF("k").repartitionByRange(4, col("k")), dir,
      expectedVersion = SnapshotTable.ExpectEmpty, bloomCols = Seq("k"))
    val j = SnapshotTable.readAt(spark, dir, v)
      .join(Seq(7L).toDF("k"), Seq("k"), "left_semi")
    val planned = j.queryExecution.sparkPlan.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
        sc.relation.location.inputFiles.length
    }.sum
    val (kept, total) = SnapshotTable.pruneFilesBloom(dir, v, "k", Seq(7L))
    assert(kept.size < total && planned == kept.size,
      s"extended session did not prune: planned $planned, " +
        s"survivors ${kept.size} of $total")
  }

  test("the shared session installs each rule exactly once") {
    val strategies = spark.sessionState.planner.strategies
    assert(strategies.count(_ == GlobalSeqIdStrategy) == 1,
      s"planner strategies: $strategies")
    // the injected rules run inside the operator-optimization batches
    // (before and after filter inference); a second install would put
    // a rule into one batch twice
    val batches = spark.sessionState.optimizer.batches
    for (rule <- Seq(GlobalRowNumberRule, SnapshotBloomJoinRule, SnapshotRelationRule)) {
      val perBatch = batches.map(_.rules.count(_ == rule)).filter(_ > 0)
      assert(perBatch.nonEmpty && perBatch.forall(_ == 1),
        s"${rule.ruleName} appears ${perBatch.mkString("/")} times per batch")
      assert(spark.sessionState.optimizer.extendedOperatorOptimizationRules
        .count(_ == rule) == 1, s"${rule.ruleName} injected more than once")
    }
  }

  test("graft.Session is the only SparkSession builder in the main sources") {
    // one builder, so the sessions that verify, time and audit the
    // queries cannot drift apart in config or rules
    val builders = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .filter(_.toString.endsWith(".scala"))
      .toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .contains("SparkSession.builder()"))
      .map(_.getFileName.toString).toSeq
    assert(builders == Seq("Session.scala"), s"builders in: $builders")
  }
}
