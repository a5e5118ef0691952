package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

import graft.ops.SnapshotTable

/** Snapshot reads take their schema from a parquet footer on the
  * driver instead of a Spark schema-inference job, a commit builds its
  * stats and bloom sidecars (and an upsert its tombstones) inside its
  * data write, file-skipping decisions read those sidecars on the
  * driver, and small tombstone sets apply in the plan. Pins (a) that
  * the footer schema equals the inferred one exactly (names, types,
  * nullability, metadata) on every directory shape the lake reads,
  * (b) the job counts those changes buy, and (c) that in-plan
  * tombstones drop exactly the rows the anti-join drops.
  */
class SnapshotSchemaSpec extends SparkSpec {

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).resolve("t").toString

  /** A frame with many column types, a non-nullable column and a
    * column carrying field metadata.
    */
  private def wide(n: Int, offset: Long = 0L): DataFrame = {
    import spark.implicits._
    val md = new MetadataBuilder().putString("comment", "order key").build()
    (1 to n).map { i =>
      val k = i + offset
      (k, (k % 7).toInt, s"s${k % 13}", k / 4.0,
        java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(k % 300)),
        Seq(s"a$k", s"b${k % 3}"), if (k % 5 == 0) null else s"n$k")
    }.toDF("k", "g", "s", "d", "day", "tags", "maybe")
      .select(col("k").as("k", md), col("g"), col("s"), col("d"),
        col("d").cast("decimal(12,2)").as("dec"), col("day"),
        col("day").cast("timestamp").as("ts"), col("tags"),
        struct(col("g"), col("s")).as("pair"),
        map(col("s"), col("k")).as("m"), col("maybe"))
  }

  private def assertSameSchema(path: String): Unit = {
    val inferred = spark.read.parquet(path).schema
    val footer = SnapshotTable.readParquet(spark, path).schema
    assert(footer === inferred, s"footer schema differs from inferred at $path")
    assert(footer.fields.map(_.metadata).toSeq ===
      inferred.fields.map(_.metadata).toSeq)
  }

  /** Spark jobs launched while `body` runs (listener bus drained at
    * both ends so no job of an earlier call leaks in).
    */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    org.apache.spark.GraftAccess.drainListeners(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.GraftAccess.drainListeners(sc)
      (out, n.get)
    } finally sc.removeSparkListener(listener)
  }

  test("footer schema equals the inferred schema on every lake directory shape") {
    import spark.implicits._
    // a plain commit with stats and blooms: data, _manifest, _bloomtab
    val dir = freshDir("schema_plain")
    val v1 = SnapshotTable.commit(wide(200).repartition(3), dir,
      expectedVersion = SnapshotTable.ExpectEmpty,
      statsCols = Seq("k", "d"), bloomCols = Seq("k"))
    assert(wide(1).schema("k").metadata.contains("comment"))
    assertSameSchema(s"$dir/v$v1")
    assertSameSchema(s"$dir/v$v1/_manifest")
    assertSameSchema(s"$dir/v$v1/_bloomtab")
    // an allowSchemaEvolution append: the generation's own widened files
    val v2 = SnapshotTable.commitAppend(
      wide(20, offset = 1000L).withColumn("extra", lit(1.5)), dir,
      expectedVersion = v1, allowSchemaEvolution = true)
    assertSameSchema(s"$dir/v$v2")
    // an empty tombstone set still writes a schema-carrying file
    val v3 = SnapshotTable.commitDeletes(Seq.empty[Long].toDF("k"), dir,
      expectedVersion = v2)
    assertSameSchema(s"$dir/v$v3/_deletes")
    assert(SnapshotTable.readAt(spark, dir, v3).count() == 220L)

    // a partitionCols commit: partition columns still come from the path
    val pdir = freshDir("schema_part")
    val pv = SnapshotTable.commit(wide(120).withColumn("p", col("g") % 3)
        .repartitionByRange(2, col("k")), pdir,
      expectedVersion = SnapshotTable.ExpectEmpty,
      partitionCols = Seq("p"), statsCols = Seq("k"))
    assertSameSchema(s"$pdir/v$pv")
    assert(SnapshotTable.readParquet(spark, s"$pdir/v$pv").schema.fieldNames
      .last == "p")

    // pruned reads, kept files and the empty prune, against the same
    // reads with inference
    val vdir = s"$pdir/v$pv"
    val (kept, total) = SnapshotTable.pruneFiles(pdir, pv, "k", 10L, 20L)
    assert(kept.nonEmpty && kept.size < total)
    val inferredKept = spark.read.option("basePath", vdir).parquet(kept: _*)
      .filter(col("k") >= lit(10L) && col("k") <= lit(20L))
    val pruned = SnapshotTable.readWhere(spark, pdir, pv, "k", 10L, 20L)
    assert(pruned.schema === inferredKept.schema)
    assert(pruned.collect().toSet === inferredKept.collect().toSet)
    val empty = SnapshotTable.readWhere(spark, pdir, pv, "k", -9L, -1L)
    assert(empty.schema === spark.read.parquet(vdir).schema)
    assert(empty.count() == 0L)
  }

  test("job counts: chain read build, commit sidecars, upsert tombstones") {
    import spark.implicits._
    val dir = freshDir("schema_jobs")
    val orders = (1L to 400L).map(k => (k, k * 1.25, s"c${k % 9}"))
      .toDF("k", "price", "c")
    val v1 = SnapshotTable.commit(orders.repartition(2), dir,
      expectedVersion = SnapshotTable.ExpectEmpty)
    val v2 = SnapshotTable.commitUpsert(
      (1L to 40L).map(k => (k, k * 2.5, "u")).toDF("k", "price", "c"),
      Seq("k"), dir, expectedVersion = v1)
    val v3 = SnapshotTable.commitDeletes((41L to 60L).toDF("k"), dir,
      expectedVersion = v2)
    val v4 = SnapshotTable.commitAppend(
      (401L to 450L).map(k => (k, k * 1.25, "a")).toDF("k", "price", "c"),
      dir, expectedVersion = v3)
    val (chain, buildJobs) = jobsOf(SnapshotTable.readAt(spark, dir, v4))
    assert(buildJobs == 0, s"building readAt over a 4-generation chain ran $buildJobs jobs")
    // both tombstone sets apply in the plan: the scan is the only job
    val (rows, readJobs) = jobsOf(SnapshotTable.readAt(spark, dir, v4).collect())
    assert(readJobs == 1, s"readAt over the chain plus its collect ran $readJobs jobs")
    assert(rows.length == 430 && chain.count() == 430L)

    // stats on a DOUBLE column and a bloom come from the data write
    // itself: no job on top of what a sidecar-less commit costs
    val batch = orders.coalesce(1)
    val (_, plain) = jobsOf(SnapshotTable.commit(batch, freshDir("schema_plain_c")))
    val sdir = freshDir("schema_side_c")
    val (sv, withSidecars) = jobsOf(SnapshotTable.commit(batch, sdir,
      statsCols = Seq("k", "price"), bloomCols = Seq("k")))
    assert(withSidecars == plain,
      s"sidecars took ${withSidecars - plain} jobs (plain commit $plain, " +
        s"with stats+bloom $withSidecars)")
    assert(SnapshotTable.readStats(sdir, sv).map(_.col).toSet === Set("k", "price"))
    assert(SnapshotTable.readBloom(sdir, sv).map(_._2) === Seq("k"))

    // an upsert costs what an append of the same batch costs: its data
    // write also writes the `_deletes` keys
    val keys = (1L to 40L).map(k => (k, k * 2.5, "u")).toDF("k", "price", "c")
    val (_, append) = jobsOf(SnapshotTable.commitAppend(keys, dir,
      expectedVersion = v4))
    val (v6, upsert) = jobsOf(SnapshotTable.commitUpsert(keys, Seq("k"), dir,
      expectedVersion = v4 + 1))
    assert(upsert - append == 0,
      s"the tombstone write took ${upsert - append} jobs (append $append, upsert $upsert)")
    assert(SnapshotTable.readAt(spark, dir, v6).count() == 430L)
  }

  test("job counts: pruning decisions run no job, readWhereIn is one scan job") {
    import spark.implicits._
    import SnapshotTable.{InPredicate, NullPredicate, RangePredicate}
    val dir = freshDir("schema_prune_jobs")
    val v = SnapshotTable.commit(
      (1L to 400L).map(k => (k, if (k % 3 == 0) null else s"n$k")).toDF("k", "s")
        .repartitionByRange(4, $"k"),
      dir, statsCols = Seq("k", "s"), bloomCols = Seq("k"))
    val keys = Seq(5L, 250L)
    val ((bloomKept, total), bloomJobs) =
      jobsOf(SnapshotTable.pruneFilesBloom(dir, v, "k", keys))
    assert(bloomJobs == 0, s"the bloom probe ran $bloomJobs jobs")
    assert(bloomKept.nonEmpty && bloomKept.size < total)
    val ((inKept, _), inJobs) =
      jobsOf(SnapshotTable.pruneFilesMulti(dir, v, Seq(InPredicate("k", keys))))
    assert(inJobs == 0, s"an IN term ran $inJobs jobs")
    assert(inKept == bloomKept.sorted)
    val ((conjKept, _), conjJobs) = jobsOf(SnapshotTable.pruneFilesMulti(dir, v,
      Seq(InPredicate("k", keys), RangePredicate("k", 1L, 300L),
        NullPredicate("s", isNull = true))))
    assert(conjJobs == 0, s"a range, IN and null conjunction ran $conjJobs jobs")
    assert(conjKept.nonEmpty && conjKept.toSet.subsetOf(inKept.toSet))
    // collected, not counted: a Dataset.count() is an aggregate, which
    // adaptive execution runs as a shuffle-map job plus a result job
    val (rows, readJobs) = jobsOf(
      SnapshotTable.readWhereIn(spark, dir, v, "k", keys).collect())
    assert(rows.map(_.getLong(0)).sorted.toSeq == keys)
    assert(readJobs == 1, s"readWhereIn plus its collect ran $readJobs jobs")
  }

  /** Commit `base`, delete `tomb` from it, and check the delete
    * version's read against Spark's anti-join of the base read with the
    * `_deletes` rows, row for row. Returns whether the read planned a
    * join (the anti-join path) rather than an in-plan filter.
    */
  private def sameAsAntiJoin(base: DataFrame, tomb: DataFrame,
      partitionCols: Seq[String] = Nil): Boolean = {
    val dir = freshDir("tombstones")
    val v1 = SnapshotTable.commit(base, dir, partitionCols = partitionCols)
    val v2 = SnapshotTable.commitDeletes(tomb, dir, expectedVersion = v1)
    val got = SnapshotTable.readAt(spark, dir, v2)
    val dels = spark.read.parquet(s"$dir/v$v2/_deletes")
    val want = SnapshotTable.readAt(spark, dir, v1)
      .join(dels, dels.columns.toSeq, "left_anti")
    assert(got.schema === want.schema)
    val sorted = (df: DataFrame) => df.collect().toSeq.map(_.toString).sorted
    assert(sorted(got) === sorted(want), s"tombstones ${tomb.columns.mkString(",")}")
    assert(sorted(got).size < sorted(SnapshotTable.readAt(spark, dir, v1)).size)
    got.queryExecution.optimizedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Join])
  }

  test("small single-key tombstone sets apply in the plan, as the anti-join would") {
    import spark.implicits._
    val rows = Seq[(java.lang.Integer, java.lang.Long, String, Int)](
      (1, 10L, "a", 0), (2, 20L, "", 1), (null, null, null, 2), (3, 30L, "c", 0),
      (4, 40L, "d", 1), (2, 20L, "", 2), (5, 50L, "e", 0))
    val base = rows.toDF("i", "l", "s", "p").repartition(2)
    // null and duplicate tombstones, null data keys, a "" key
    assert(!sameAsAntiJoin(base, Seq[java.lang.Integer](2, 2, null, 5, 99).toDF("i")))
    assert(!sameAsAntiJoin(base, Seq[java.lang.Long](null, 10L, 40L, 40L).toDF("l")))
    assert(!sameAsAntiJoin(base, Seq("", null, "c", "zz").toDF("s")))
    // a tombstone on a hive partition column
    assert(!sameAsAntiJoin(base, Seq(1, 7).toDF("p"), partitionCols = Seq("p")))
    // an empty set deletes nothing and needs no filter
    val dir = freshDir("tombstones_empty")
    val v1 = SnapshotTable.commit(base, dir)
    val v2 = SnapshotTable.commitDeletes(Seq.empty[Int].toDF("i"), dir, expectedVersion = v1)
    assert(SnapshotTable.readAt(spark, dir, v2).count() == rows.size.toLong)
  }

  test("multi-column, double and 1,025-key tombstone sets keep the anti-join") {
    import spark.implicits._
    val base = (1 to 2000).map(k => (k, k % 7, k / 8.0)).toDF("k", "g", "d").repartition(2)
    assert(sameAsAntiJoin(base, Seq((3, 3), (4, 5), (8, 1)).toDF("k", "g")))
    assert(sameAsAntiJoin(base, Seq(0.125, 0.5, 3.0).toDF("d")))
    assert(sameAsAntiJoin(base, (1 to 1025).map(k => k * 2).toDF("k")))
    assert(!sameAsAntiJoin(base, (1 to 1024).map(k => k * 2).toDF("k")))
  }
}
