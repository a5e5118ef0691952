package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.ops.SnapshotTable

class SnapshotTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_snap").toString + "/t"

  test("commit assigns monotone versions and read follows the pointer") {
    val dir = freshDir()
    assert(SnapshotTable.currentVersion(dir).isEmpty)
    assert(SnapshotTable.versions(dir).isEmpty)
    intercept[IllegalStateException] { SnapshotTable.read(spark, dir) }
    val v1 = SnapshotTable.commit(Seq((1, "a"), (2, "b")).toDF("k", "v"), dir)
    val v2 = SnapshotTable.commit(Seq((1, "a2")).toDF("k", "v"), dir)
    assert(v1 == 1 && v2 == 2)
    assert(SnapshotTable.currentVersion(dir).contains(2L))
    assert(SnapshotTable.versions(dir) == Seq(1L, 2L))
    assert(SnapshotTable.read(spark, dir).collect().toSet
      == Set(org.apache.spark.sql.Row(1, "a2")))
  }

  test("snapshot isolation: a v1 reader is untouched by a later commit") {
    val dir = freshDir()
    SnapshotTable.commit(spark.range(10).toDF("id"), dir)
    // reader resolves `current` (= v1) BEFORE the writer commits v2 —
    // the 100-TB-scan-during-refresh scenario
    val reader = SnapshotTable.read(spark, dir)
    SnapshotTable.commit(spark.range(3).toDF("id"), dir)
    assert(reader.count() == 10)
    assert(SnapshotTable.read(spark, dir).count() == 3)
    // time travel pins both
    assert(SnapshotTable.readAt(spark, dir, 1).count() == 10)
    assert(SnapshotTable.readAt(spark, dir, 2).count() == 3)
  }

  test("a crashed writer's orphan directory is skipped, never reused") {
    val dir = freshDir()
    SnapshotTable.commit(spark.range(5).toDF("id"), dir)
    // simulate a writer that died after writing data, before the flip:
    // v2 exists on disk but `current` still says v1
    spark.range(99).toDF("id").write.parquet(s"$dir/v2")
    assert(SnapshotTable.currentVersion(dir).contains(1L))
    assert(SnapshotTable.read(spark, dir).count() == 5)
    // next commit must go PAST the orphan (v3), not clobber it
    val v = SnapshotTable.commit(spark.range(7).toDF("id"), dir)
    assert(v == 3)
    assert(SnapshotTable.read(spark, dir).count() == 7)
    assert(SnapshotTable.versions(dir) == Seq(1L, 2L, 3L))
  }

  test("expire keeps the newest versions and never the live one") {
    val dir = freshDir()
    for (n <- Seq(2, 4, 6, 8)) SnapshotTable.commit(
      spark.range(n).toDF("id"), dir)
    assert(SnapshotTable.expire(dir, keepLast = 2) == Seq(1L, 2L))
    assert(SnapshotTable.versions(dir) == Seq(3L, 4L))
    assert(SnapshotTable.read(spark, dir).count() == 8)
    assert(SnapshotTable.readAt(spark, dir, 3).count() == 6)
    // live version survives even a keepLast that would drop it: roll
    // the pointer back to v3 (simulating an operator pin), expire hard
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "current"), "v3")
    assert(SnapshotTable.expire(dir, keepLast = 1) == Seq.empty)
    assert(SnapshotTable.versions(dir) == Seq(3L, 4L))
  }

  test("deleteTree: removes a tree, no-ops on a missing path") {
    val dir = freshDir()
    SnapshotTable.commit(spark.range(3).toDF("id"), dir)
    assert(new java.io.File(dir).exists())
    SnapshotTable.deleteTree(dir)
    assert(!new java.io.File(dir).exists())
    SnapshotTable.deleteTree(dir) // second delete: no-op, not an error
  }

  test("withPersisted releases the cache even when the body throws") {
    import graft.ops.Tables
    val df = spark.range(5).toDF("id")
    intercept[IllegalStateException] {
      Tables.withPersisted(df) { d =>
        d.count() // materialize the cache
        throw new IllegalStateException("boom")
      }
    }
    // the failed scope must not leave a pinned cache behind
    assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "withPersisted leaked its cache on the exception path")
  }

  test("conditional commit: the CAS detects a lost update, loudly") {
    val dir = freshDir()
    // both writers read the table at v1 ...
    SnapshotTable.commit(spark.range(10).toDF("id"), dir)
    val readByA = SnapshotTable.currentVersion(dir).get
    val readByB = SnapshotTable.currentVersion(dir).get
    // ... writer A wins the race
    val v2 = SnapshotTable.commit(spark.range(20).toDF("id"), dir,
      expectedVersion = Some(readByA))
    assert(v2 == 2)
    // ... and writer B's stale commit FAILS instead of silently
    // clobbering A's update (the lost-update anomaly the plain
    // last-wins protocol allowed)
    intercept[java.util.ConcurrentModificationException] {
      SnapshotTable.commit(spark.range(99).toDF("id"), dir,
        expectedVersion = Some(readByB))
    }
    // no torn state: the table still reads A's complete snapshot
    assert(SnapshotTable.currentVersion(dir).contains(2L))
    assert(SnapshotTable.read(spark, dir).count() == 20)
    // B can now re-read and retry on top of v2 — the standard loop
    val v3 = SnapshotTable.commit(spark.range(99).toDF("id"), dir,
      expectedVersion = SnapshotTable.currentVersion(dir))
    assert(v3 >= 3 && SnapshotTable.read(spark, dir).count() == 99)
  }

  test("conditional first commit: ExpectEmpty fails on a non-empty table") {
    val dir = freshDir()
    val v1 = SnapshotTable.commit(spark.range(1).toDF("id"), dir,
      expectedVersion = SnapshotTable.ExpectEmpty)
    assert(v1 == 1)
    intercept[java.util.ConcurrentModificationException] {
      SnapshotTable.commit(spark.range(2).toDF("id"), dir,
        expectedVersion = SnapshotTable.ExpectEmpty)
    }
  }

  test("two threads racing conditional commits: exactly one wins") {
    val dir = freshDir()
    SnapshotTable.commit(spark.range(5).toDF("id"), dir)
    val base = SnapshotTable.currentVersion(dir).get
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val attempts = Seq(30L, 40L).map { n =>
      Future(
        try Right(SnapshotTable.commit(
          spark.range(n).toDF("id"), dir, expectedVersion = Some(base)))
        catch { case e: Exception => Left(e) })
    }
    val results = Await.result(Future.sequence(attempts), 120.seconds)
    val wins = results.collect { case Right(v) => v }
    val losses = results.collect { case Left(e) => e }
    assert(wins.size == 1 && losses.size == 1, s"got $results")
    // loser failed on the CAS (or on colliding with the winner's data
    // directory — both are loud); the table is the winner's snapshot
    assert(SnapshotTable.currentVersion(dir).contains(wins.head))
    assert(Set(30L, 40L).contains(SnapshotTable.read(spark, dir).count()))
  }

  test("concurrent unconditional commits never merge into one version") {
    // the allocation race the stage-then-rename protocol closes: two
    // writers that list the same max version must NOT both land part
    // files inside one v<N> (observed pre-fix: a 30-row and a 40-row
    // commit yielding a 70-row snapshot). With atomic rename claims,
    // both succeed under DISTINCT versions and each version holds
    // exactly one writer's rows.
    val dir = freshDir()
    SnapshotTable.commit(spark.range(5).toDF("id"), dir)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val vs = Await.result(Future.sequence(Seq(30L, 40L).map(n =>
      Future(SnapshotTable.commit(spark.range(n).toDF("id"), dir)))),
      120.seconds)
    assert(vs.toSet.size == 2, s"versions must be distinct: $vs")
    val counts = vs.map(v => SnapshotTable.readAt(spark, dir, v).count())
    assert(counts.toSet == Set(30L, 40L),
      s"a version directory merged two writers' data: $counts")
    // no staging junk left behind once both commits completed
    assert(new java.io.File(dir).listFiles()
      .forall(!_.getName.startsWith(".staged-")))
  }

  test("transact: concurrent increments both land (no lost update)") {
    // the anomaly the retry loop prevents: two transactors read n,
    // both write n+delta — under last-wins one delta vanishes; under
    // transact the loser re-reads the winner's state and re-applies,
    // so the final counter reflects BOTH
    val dir = freshDir()
    SnapshotTable.commit(Seq(("counter", 100L)).toDF("k", "n"), dir)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val incs = Seq(7L, 30L).map { delta =>
      Future(SnapshotTable.transact(spark, dir) { base =>
        base.get.withColumn("n", col("n") + delta)
      })
    }
    Await.result(Future.sequence(incs), 120.seconds)
    val n = SnapshotTable.read(spark, dir)
      .filter($"k" === "counter").select($"n").as[Long].head()
    assert(n == 137L, s"an increment was lost: counter = $n")
  }

  test("transact: seeds an empty table through the None branch") {
    val dir = freshDir()
    val v = SnapshotTable.transact(spark, dir) {
      case None => Seq(("counter", 0L)).toDF("k", "n")
      case Some(df) => df
    }
    assert(v == 1 && SnapshotTable.read(spark, dir).count() == 1)
  }

  test("a corrupt pointer file raises IllegalStateException, not NFE") {
    val dir = freshDir()
    SnapshotTable.commit(spark.range(2).toDF("id"), dir)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "current"), "vfoo")
    val e = intercept[IllegalStateException] {
      SnapshotTable.currentVersion(dir)
    }
    assert(e.getMessage.contains("vfoo"))
  }

  test("a stale commit lock fails loudly with removal instructions") {
    val dir = freshDir()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(dir, ".commit.lock"))
    System.setProperty("graft.snapshot.lockTimeoutMs", "100")
    try {
      val e = intercept[IllegalStateException] {
        SnapshotTable.commit(spark.range(1).toDF("id"), dir)
      }
      assert(e.getMessage.contains("remove the lock file"))
    } finally System.clearProperty("graft.snapshot.lockTimeoutMs")
  }

  test("readAtConformed presents old versions under the live schema") {
    val dir = freshDir()
    // v1: narrow generation; v2: widened (new column) + retyped k
    SnapshotTable.commit(Seq((1, "a"), (2, "b")).toDF("k", "v"), dir)
    SnapshotTable.commit(
      Seq((3L, "c", 9.5)).toDF("k", "v", "score"), dir)
    val v1c = SnapshotTable.readAtConformed(spark, dir, 1)
    assert(v1c.schema.map(f => (f.name, f.dataType.simpleString))
      == Seq(("k", "bigint"), ("v", "string"), ("score", "double")))
    val all = v1c.unionByName(SnapshotTable.readAtConformed(spark, dir, 2))
    assert(all.count() == 3)
    assert(all.filter($"score".isNull).count() == 2) // v1 rows conform as NULL
    assert(all.filter($"k" === 3L && $"score" === 9.5).count() == 1)
    // v3 DROPS column v: older versions conformed to the live schema
    // must omit it (and still expose their own data under the new shape)
    SnapshotTable.commit(Seq((4L, 1.0)).toDF("k", "score"), dir)
    val v2c = SnapshotTable.readAtConformed(spark, dir, 2)
    assert(v2c.columns.toSeq == Seq("k", "score"))
    assert(v2c.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      == Seq((3L, 9.5)))
  }

  test("commit with partition columns keeps a hive layout inside v<N>") {
    val dir = freshDir()
    val v = SnapshotTable.commit(
      Seq((1, "x"), (2, "y"), (3, "x")).toDF("id", "part"), dir,
      partitionCols = Seq("part"))
    val sub = new java.io.File(s"$dir/v$v").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(sub.toSeq == Seq("part=x", "part=y"))
    assert(SnapshotTable.read(spark, dir).count() == 3)
  }

  test("every lake table path routes through the env-overridable root") {
    // one accessor: lakeBase = lakeRoot / tag(sfDir) / table. lakeRoot
    // honors SPARK_GRAFT_LAKE_DIR (concurrent-run isolation); default
    // is /tmp/graft_lake. Queries must never hardcode the root.
    val expectedRoot =
      sys.env.getOrElse("SPARK_GRAFT_LAKE_DIR", "/tmp/graft_lake")
    assert(SnapshotTable.lakeRoot == expectedRoot)
    assert(graft.queries.LakeOps.lakeBase("/root/testdata/sf0.01", "snap")
      == s"$expectedRoot/_root_testdata_sf0_01/snap")
  }

  test("the pointer flip is atomic: no torn state ever visible") {
    val dir = freshDir()
    SnapshotTable.commit(spark.range(1).toDF("id"), dir)
    // the temp pointer must not survive a commit (ATOMIC_MOVE consumed it)
    val leftovers = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith(".current.tmp"))
    assert(leftovers.isEmpty)
  }

  test("the pointer never moves backwards (blind-writer monotonicity)") {
    val dir = freshDir()
    SnapshotTable.commit(spark.range(1).toDF("id"), dir)
    SnapshotTable.commit(spark.range(2).toDF("id"), dir)
    assert(SnapshotTable.currentVersion(dir).contains(2L))
    // the race's final step in isolation: writer A claimed v1 but a
    // faster writer already published v2 — A's flip must be SKIPPED
    assert(!SnapshotTable.flipPointer(dir, 1L))
    assert(SnapshotTable.currentVersion(dir).contains(2L))
    // forward flips still land
    spark.range(3).toDF("id").write.parquet(s"$dir/v3")
    assert(SnapshotTable.flipPointer(dir, 3L))
    assert(SnapshotTable.currentVersion(dir).contains(3L))
    // and the skipped flip left no temp-pointer debris
    assert(new java.io.File(dir).listFiles()
      .forall(f => !f.getName.startsWith(".current.tmp")))
  }

  test("a STALE commit lock is reclaimed; a fresh one still fails loudly") {
    val dir = freshDir()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val lock = java.nio.file.Paths.get(dir, ".commit.lock")
    java.nio.file.Files.createFile(lock)
    // age the lock past the staleness threshold: a crashed writer's
    // debris (the flip is microseconds — minutes of age is a corpse)
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600L * 1000))
    val v = SnapshotTable.commit(spark.range(4).toDF("id"), dir)
    assert(v == 1 && SnapshotTable.read(spark, dir).count() == 4)
    assert(!java.nio.file.Files.exists(lock), "reclaimed lock released")
  }

  test("merge-on-read deletes: tombstones apply without a data rewrite") {
    val dir = freshDir()
    val v1 = SnapshotTable.commit(
      (1 to 10).map(i => (i.toLong, s"row$i")).toDF("k", "v"), dir,
      expectedVersion = SnapshotTable.ExpectEmpty)
    val v2 = SnapshotTable.commitDeletes(
      Seq(2L, 4L).toDF("k"), dir, expectedVersion = v1)
    // the delete version holds NO data files — only the sidecar
    val top = new java.io.File(s"$dir/v$v2").listFiles().map(_.getName).toSet
    assert(top == Set("_base", "_deletes", "_names"),
      s"delete commit must not rewrite data, found $top")
    assert(SnapshotTable.baseOf(dir, v2).contains(v1))
    assert(SnapshotTable.read(spark, dir).select("k").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L, 5L, 6L, 7L, 8L, 9L, 10L))
    // time travel to the base is untouched by the delete
    assert(SnapshotTable.readAt(spark, dir, v1).count() == 10)
    // chains compose: a second delete commit stacks on the first
    val v3 = SnapshotTable.commitDeletes(
      Seq(10L).toDF("k"), dir, expectedVersion = v2)
    assert(SnapshotTable.read(spark, dir).count() == 7)
    // compaction: an identity transact materializes the tombstones away
    val v4 = SnapshotTable.transact(spark, dir)(cur => cur.get)
    assert(SnapshotTable.baseOf(dir, v4).isEmpty, "compaction cuts the chain")
    assert(SnapshotTable.readAt(spark, dir, v4).select("k").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L, 5L, 6L, 7L, 8L, 9L))
    assert(new java.io.File(s"$dir/v$v4").listFiles()
      .exists(_.getName.endsWith(".parquet")), "compaction rewrites data")
  }

  test("commitDeletes: CAS race and bad key columns fail loudly") {
    val dir = freshDir()
    val v1 = SnapshotTable.commit(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir)
    // concurrent writer moves the table ...
    val v2 = SnapshotTable.commit(Seq((3L, "c")).toDF("k", "v"), dir)
    // ... so a delete based on the stale read must NOT silently apply
    intercept[java.util.ConcurrentModificationException] {
      SnapshotTable.commitDeletes(Seq(1L).toDF("k"), dir, expectedVersion = v1)
    }
    assert(SnapshotTable.currentVersion(dir).contains(v2))
    // a tombstone keyed on a column the base lacks is a loud error
    intercept[IllegalArgumentException] {
      SnapshotTable.commitDeletes(Seq(1L).toDF("nope"), dir, expectedVersion = v2)
    }
  }

  test("expire never drops a version reachable through a _base chain") {
    val dir = freshDir()
    val v1 = SnapshotTable.commit(
      (1 to 6).map(i => (i.toLong, i.toString)).toDF("k", "v"), dir)
    val v2 = SnapshotTable.commitDeletes(Seq(1L).toDF("k"), dir, v1)
    val v3 = SnapshotTable.commitDeletes(Seq(2L).toDF("k"), dir, v2)
    // keepLast=1 keeps v3 — but v3 reads THROUGH v2 and v1, so both
    // must survive retention or every read of the live table crashes
    assert(SnapshotTable.expire(dir, keepLast = 1) == Seq.empty)
    assert(SnapshotTable.versions(dir) == Seq(1L, 2L, 3L))
    assert(SnapshotTable.read(spark, dir).count() == 4)
    // after compaction the chain is cut and retention can drop the tail
    SnapshotTable.transact(spark, dir)(cur => cur.get)
    assert(SnapshotTable.expire(dir, keepLast = 1) == Seq(1L, 2L, 3L))
    assert(SnapshotTable.read(spark, dir).count() == 4)
  }

  test("expire garbage-collects aged .staged-* debris, not fresh ones") {
    val dir = freshDir()
    SnapshotTable.commit(spark.range(3).toDF("id"), dir)
    val dead = java.nio.file.Paths.get(dir, ".staged-deadbeef0000")
    java.nio.file.Files.createDirectories(dead)
    java.nio.file.Files.setLastModifiedTime(dead,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 48L * 3600 * 1000))
    val fresh = java.nio.file.Paths.get(dir, ".staged-cafebabe0000")
    java.nio.file.Files.createDirectories(fresh)
    SnapshotTable.expire(dir, keepLast = 1)
    assert(!java.nio.file.Files.exists(dead), "aged staging dir reclaimed")
    assert(java.nio.file.Files.exists(fresh),
      "a fresh staging dir may belong to a LIVE slow writer — kept")
  }

  test("readAtConformed refuses lossy schema evolution instead of nulling") {
    val dir = freshDir()
    SnapshotTable.commit(Seq((1L, "12.5")).toDF("k", "score"), dir)
    // live schema retypes score string -> double: NOT an upcast; a
    // conformed read of v1 would have to null-or-mangle real data
    SnapshotTable.commit(Seq((2L, 9.5)).toDF("k", "score"), dir)
    val e = intercept[IllegalStateException] {
      SnapshotTable.readAtConformed(spark, dir, 1).collect()
    }
    assert(e.getMessage.contains("lossy schema evolution"))
    assert(e.getMessage.contains("score"))
  }

  test("per-file stats skipping: readWhere opens only admitting files") {
    val dir = freshDir()
    // range-cluster by k so each of the 4 files owns a disjoint span —
    // the layout (zorder/sort-on-write) that makes min/max stats bite
    val df = (1 to 400).map(i => (i.toLong, i % 7)).toDF("k", "m")
      .repartitionByRange(4, $"k")
    val v = SnapshotTable.commit(df, dir, statsCols = Seq("k"))
    val stats = SnapshotTable.readStats(dir, v)
    assert(stats.map(_.file).distinct.size == 4)
    assert(stats.forall(s => s.col == "k" && s.typ == "long" && s.nulls == 0))
    assert(stats.map(_.rowCount).sum == 400)
    val (kept, total) = SnapshotTable.pruneFiles(dir, v, "k", 10L, 20L)
    assert(total == 4 && kept.size == 1,
      s"a one-span predicate must open one file, kept ${kept.size}/$total")
    val got = SnapshotTable.readWhere(spark, dir, v, "k", 10L, 20L)
    assert(got.inputFiles.length == 1, "the scan itself is file-pruned")
    assert(got.select("k").as[Long].collect().sorted.toSeq == (10L to 20L))
    // answer ≡ the unpruned read (stats are a superset bound)
    assert(SnapshotTable.readAt(spark, dir, v)
      .filter($"k".between(10, 20)).count() == 11)
    // an empty-range predicate prunes everything and returns 0 rows
    assert(SnapshotTable.readWhere(spark, dir, v, "k", 1000L, 2000L).count() == 0)
    // a column without stats is a LOUD error, not a silent full scan
    intercept[IllegalArgumentException] {
      SnapshotTable.pruneFiles(dir, v, "m", 1, 2)
    }
  }

  test("stats sidecar: string typing, null accounting, hive partitions") {
    val dir = freshDir()
    val df = Seq(
      ("alpha", Some(1.5), "x"), ("beta", None, "x"),
      ("gamma", Some(2.5), "y"), ("delta", Some(0.5), "y"))
      .toDF("name", "score", "part")
    val v = SnapshotTable.commit(df, dir, partitionCols = Seq("part"),
      statsCols = Seq("name", "score"))
    val stats = SnapshotTable.readStats(dir, v)
    // files live under part=x/ and part=y/ — relative paths keep dirs
    assert(stats.forall(s => s.file.startsWith("part=")))
    val nameStats = stats.filter(_.col == "name")
    assert(nameStats.forall(_.typ == "string"))
    assert(stats.filter(_.col == "score").map(_.nulls).sum == 1)
    // string range prune + partition columns still resolve via basePath
    val got = SnapshotTable.readWhere(spark, dir, v, "name", "a", "b")
    assert(got.columns.contains("part"))
    assert(got.select("name").as[String].collect().toSet == Set("alpha"))
  }

  test("an empty-string min is a bound, not an all-null file") {
    val dir = freshDir()
    val v = SnapshotTable.commit(Seq(("", 1L), ("apple", 2L)).toDF("s", "id")
      .coalesce(1), dir, statsCols = Seq("s"))
    assert(SnapshotTable.readStats(dir, v).map(s => (s.min, s.max)) ==
      Seq((Some(""), Some("apple"))))
    // the file holds "apple": pruning it would drop a matching row
    assert(SnapshotTable.readWhere(spark, dir, v, "s", "a", "b")
      .select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("per-file bloom skipping: readWhereIn opens only admitting files") {
    val dir = freshDir()
    // HASH-cluster by a different column so every file's k range spans
    // the whole keyspace — the layout where min/max stats are useless
    // and the bloom is the only thing standing between a point lookup
    // and a full scan
    val df = (1 to 400).map(i => (i.toLong, i % 7)).toDF("k", "m")
      .repartition(4, $"m")
    val v = SnapshotTable.commit(df, dir, statsCols = Seq("k"),
      bloomCols = Seq("k"), bloomExpectedItems = 1000)
    // the contrast: range pruning keeps everything on this layout
    // (total counts NON-EMPTY files — a hash bucket can come out empty)
    val (rangeKept, total) = SnapshotTable.pruneFiles(dir, v, "k", 10L, 390L)
    assert(total >= 3 && rangeKept.size == total,
      s"hash layout should defeat min/max pruning, kept ${rangeKept.size}/$total")
    // bloom pruning: each k lives in exactly one file (k -> m = k%7
    // -> one hash bucket), so a single-key probe keeps ~1 file
    val (kept, btotal) = SnapshotTable.pruneFilesBloom(dir, v, "k", Seq(10L))
    assert(btotal == total && kept.nonEmpty && kept.size < btotal,
      s"single-key bloom probe kept ${kept.size}/$btotal files")
    // keys from ONE m-class (10, 17, 24 ≡ 3 mod 7) co-locate in one
    // file, so a multi-key probe still prunes
    val got = SnapshotTable.readWhereIn(spark, dir, v, "k", Seq(10L, 17L, 24L))
    assert(got.inputFiles.length < btotal, "the scan itself is file-pruned")
    assert(got.select("k").as[Long].collect().sorted.toSeq == Seq(10L, 17L, 24L))
    // no false negatives across every key, probed in one batch
    val all = SnapshotTable.readWhereIn(spark, dir, v, "k", (1L to 400L))
    assert(all.count() == 400, "a present key must never be pruned away")
    // absent keys return zero rows (fp files are cleaned by the filter)
    assert(SnapshotTable.readWhereIn(spark, dir, v, "k", Seq(4040L)).count() == 0)
    // a column without a bloom is a LOUD error, not a silent full scan
    intercept[IllegalArgumentException] {
      SnapshotTable.pruneFilesBloom(dir, v, "m", Seq(1))
    }
    // and so is a bloom-less version
    val dir2 = freshDir()
    val v2 = SnapshotTable.commit(df, dir2)
    intercept[IllegalArgumentException] {
      SnapshotTable.pruneFilesBloom(dir2, v2, "k", Seq(1L))
    }
  }

  test("manifest: metadata-only answering, typed mins, loud refusals") {
    val dir = freshDir()
    val df = (1 to 400).map(i => (i.toLong, s"n$i")).toDF("k", "name")
      .repartition(4, $"name")
    val v = SnapshotTable.commit(df, dir, statsCols = Seq("k", "name"))
    val m = SnapshotTable.manifest(spark, dir, v)
    // the manifest is itself a committed parquet TABLE inside the
    // version dir — a metadata read opens manifest files, never data
    assert(m.inputFiles.nonEmpty && m.inputFiles.forall(_.contains("/_manifest/")),
      s"the manifest must read only the metadata table: ${m.inputFiles.mkString(", ")}")
    // count(*)/min/max fold from metadata and agree with the data
    val row = m.filter($"column" === "k")
      .agg(sum($"row_count"), min($"min_num"), max($"max_num")).head()
    assert(row.getLong(0) == 400 && row.getDouble(1) == 1.0 && row.getDouble(2) == 400.0)
    // 9 < 10 numerically, "9" > "10" lexicographically: min_num is typed
    assert(m.filter($"column" === "name").head().getAs[Any]("min_num") == null,
      "string columns carry no numeric min")
    // stats-less version and MOR commit both refuse loudly
    val dir2 = freshDir()
    val v2 = SnapshotTable.commit(df, dir2)
    intercept[IllegalArgumentException] { SnapshotTable.manifest(spark, dir2, v2) }
    val vd = SnapshotTable.commitDeletes(Seq(1L).toDF("k"), dir, expectedVersion = v)
    intercept[IllegalArgumentException] { SnapshotTable.manifest(spark, dir, vd) }
  }

  test("commitAppend: delta-cost ingest, chain reads, CAS, loud guards") {
    val dir = freshDir()
    val v1 = SnapshotTable.commit(
      (1 to 100).map(i => (i.toLong, i % 3)).toDF("k", "m"), dir,
      expectedVersion = SnapshotTable.ExpectEmpty)
    val v2 = SnapshotTable.commitAppend(
      (101 to 130).map(i => (i.toLong, i % 3)).toDF("k", "m"), dir,
      expectedVersion = v1)
    // the chain read is base ∪ delta; the base version is untouched
    assert(SnapshotTable.readAt(spark, dir, v2).count() == 130)
    assert(SnapshotTable.readAt(spark, dir, v1).count() == 100)
    assert(SnapshotTable.read(spark, dir).count() == 130)
    // the append wrote ONLY the delta's rows into its version dir
    assert(spark.read.parquet(s"$dir/v$v2").count() == 30,
      "append must write delta files only, never a rebuild")
    // CAS: appending against a stale version conflicts loudly
    intercept[java.util.ConcurrentModificationException] {
      SnapshotTable.commitAppend(Seq((999L, 0)).toDF("k", "m"), dir,
        expectedVersion = v1)
    }
    // schema drift in the delta is a loud error, not a silent union
    intercept[IllegalArgumentException] {
      SnapshotTable.commitAppend(Seq((999L, "x")).toDF("k", "extra"), dir,
        expectedVersion = v2)
    }
    // deletes stack ON TOP of an append chain and resolve through it
    val v3 = SnapshotTable.commitDeletes(Seq(5L, 105L).toDF("k"), dir,
      expectedVersion = v2)
    assert(SnapshotTable.readAt(spark, dir, v3).count() == 128)
    // compaction (identity transact) cuts the chain
    val v4 = SnapshotTable.transact(spark, dir)(cur => cur.get)
    assert(SnapshotTable.baseOf(dir, v4).isEmpty &&
      SnapshotTable.appendBaseOf(dir, v4).isEmpty)
    assert(SnapshotTable.readAt(spark, dir, v4).count() == 128)
    // expire never drops a version reachable through an _append chain
    val keptAfter = {
      SnapshotTable.expire(dir, keepLast = 3) // keeps v2,v3,v4 (+v1 via chains)
      SnapshotTable.versions(dir)
    }
    assert(keptAfter.contains(v1),
      s"v$v1 is reachable from v$v2 via _append and must survive: $keptAfter")
    // single-generation skipping paths refuse an append version loudly
    intercept[IllegalArgumentException] {
      SnapshotTable.pruneFiles(dir, v2, "k", 1L, 10L)
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.manifest(spark, dir, v2)
    }
  }

  test("commitAppend: per-generation layouts prune independently") {
    val dir = freshDir()
    // gen1 hive-partitioned by m, gen2 by p — partition-spec evolution
    val v1 = SnapshotTable.commit(
      (1 to 90).map(i => (i.toLong, i % 3, i % 2)).toDF("k", "m", "p")
        .repartition($"m"),
      dir, expectedVersion = SnapshotTable.ExpectEmpty,
      partitionCols = Seq("m"))
    val v2 = SnapshotTable.commitAppend(
      (91 to 150).map(i => (i.toLong, i % 3, i % 2)).toDF("k", "m", "p")
        .repartition($"p"),
      dir, expectedVersion = v1, partitionCols = Seq("p"))
    val chain = SnapshotTable.readAt(spark, dir, v2)
      .filter($"m" === 1 && $"p" === 0)
    assert(chain.select("k").as[Long].collect().sorted.toSeq ==
      (1 to 150).filter(i => i % 3 == 1 && i % 2 == 0).map(_.toLong))
    // each generation's scan branch plans only ITS matching partition
    // dirs: gen1 prunes by m (1 of 3), gen2 by p (1 of 2). The filter
    // pushed through the union must become a PARTITION filter on each
    // branch — .inputFiles would lie here (it lists the relation's
    // whole listing, pruned or not), so inspect the scans themselves.
    val scans = chain.queryExecution.sparkPlan.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
    }
    assert(scans.size == 2, s"expected one scan per generation, got ${scans.size}")
    def scanOf(v: Long) = scans.find(
      _.relation.location.rootPaths.exists(_.toString.endsWith(s"/v$v"))).get
    val (g1, g2) = (scanOf(v1), scanOf(v2))
    assert(g1.partitionFilters.exists(_.toString.contains("m")) &&
      g1.selectedPartitions.partitionCount == 1,
      s"gen1 must prune by its own layout (m=1): planned " +
        s"${g1.selectedPartitions.partitionCount} of 3 dirs, filters ${g1.partitionFilters}")
    assert(g2.partitionFilters.exists(_.toString.contains("p")) &&
      g2.selectedPartitions.partitionCount == 1,
      s"gen2 must prune by its own layout (p=0): planned " +
        s"${g2.selectedPartitions.partitionCount} of 2 dirs, filters ${g2.partitionFilters}")
  }

  test("pruneFilesMulti: conjunction intersects sidecars, loud misses") {
    val dir = freshDir()
    // 2-D layout: primary range-cluster by parity, secondary by k — so
    // a parity term and a k-range term each kill a different dimension
    val df = (1 to 400).map(i => (i.toLong, (i % 2).toLong)).toDF("k", "par")
    val v = SnapshotTable.commit(df.repartitionByRange(8, $"par", $"k"),
      dir, expectedVersion = SnapshotTable.ExpectEmpty,
      statsCols = Seq("k", "par"), bloomCols = Seq("par"))
    import SnapshotTable.{InPredicate, RangePredicate}
    val (rangeKept, total) = SnapshotTable.pruneFilesMulti(dir, v,
      Seq(RangePredicate("k", 1L, 50L)))
    val (inKept, _) = SnapshotTable.pruneFilesMulti(dir, v,
      Seq(InPredicate("par", Seq(1L))))
    val (conjKept, _) = SnapshotTable.pruneFilesMulti(dir, v,
      Seq(RangePredicate("k", 1L, 50L), InPredicate("par", Seq(1L))))
    assert(conjKept.nonEmpty && conjKept.size < rangeKept.size &&
      conjKept.size < inKept.size,
      s"conjunction must out-prune each term: conj ${conjKept.size}, " +
        s"range ${rangeKept.size}, in ${inKept.size}, total $total")
    // the pruned read answers exactly like the full scan
    val got = SnapshotTable.readWhereMulti(spark, dir, v,
      Seq(RangePredicate("k", 1L, 50L), InPredicate("par", Seq(1L))))
    assert(got.inputFiles.length == conjKept.size)
    assert(got.select("k").as[Long].collect().sorted.toSeq ==
      (1 to 50).filter(_ % 2 == 1).map(_.toLong))
    // a term with no sidecar fails loudly, never a silent no-op
    intercept[IllegalArgumentException] {
      SnapshotTable.pruneFilesMulti(dir, v,
        Seq(InPredicate("k", Seq(5L)))) // no bloom on k
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.pruneFilesMulti(dir, v,
        Seq(RangePredicate("nope", 1L, 2L)))
    }
    // string bounds compare lexicographically against string stats
    val dirS = freshDir()
    val vS = SnapshotTable.commit(
      Seq(("alpha", 1L), ("beta", 2L), ("zeta", 3L)).toDF("name", "id")
        .repartitionByRange(3, $"name"),
      dirS, statsCols = Seq("name"))
    val gotS = SnapshotTable.readWhereMulti(spark, dirS, vS,
      Seq(RangePredicate("name", "a", "c")))
    assert(gotS.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("pruneFilesMulti decides ranges exactly like pruneFiles past 2^53") {
    import SnapshotTable.RangePredicate
    // 2^53 + 1 rounds to 2^53 as a double: a compare of double bounds
    // keeps the high file for a range ending at 2^53, the typed compare
    // prunes it
    val big = 1L << 53
    for (typ <- Seq("bigint", "decimal(38,0)")) {
      val dir = freshDir()
      // one file per hive partition: {1..10} and {2^53+1..2^53+5}
      val v = SnapshotTable.commit(
        ((1L to 10L) ++ ((big + 1) to (big + 5))).toDF("k").coalesce(1)
          .select($"k".cast(typ).as("k"), ($"k" > 10L).cast("int").as("hi")),
        dir, partitionCols = Seq("hi"), statsCols = Seq("k"))
      val single = SnapshotTable.pruneFiles(dir, v, "k", 0L, big)
      assert(single._1.size == 1 && single._2 == 2,
        s"$typ: pruneFiles kept ${single._1.size} of ${single._2}")
      assert(SnapshotTable.pruneFilesMulti(dir, v,
        Seq(RangePredicate("k", 0L, big))) == single,
        s"$typ: the multi-term range decision differs from pruneFiles")
      assert(SnapshotTable.readWhereMulti(spark, dir, v,
        Seq(RangePredicate("k", 0L, big))).count() == 10L)
    }
  }

  test("transact with layout params is OPTIMIZE: same rows, strict skipping") {
    val dir = freshDir()
    // ingest layout: hash-scattered by m, so k min/max spans every file
    val df = (1 to 400).map(i => (i.toLong, i % 7)).toDF("k", "m")
      .repartition(4, $"m")
    val v1 = SnapshotTable.commit(df, dir, statsCols = Seq("k"))
    val (kept1, total1) = SnapshotTable.pruneFiles(dir, v1, "k", 10L, 20L)
    assert(kept1.size == total1, "ingest layout should defeat range pruning")
    val v2 = SnapshotTable.transact(spark, dir, statsCols = Seq("k"))(
      cur => cur.get.repartitionByRange(4, $"k"))
    val (kept2, total2) = SnapshotTable.pruneFiles(dir, v2, "k", 10L, 20L)
    assert(kept2.size == 1 && total2 == 4,
      s"optimized layout must skip: kept ${kept2.size}/$total2")
    // identity mutate: the data is byte-for-byte the same multiset
    assert(SnapshotTable.readAt(spark, dir, v2).collect().toSet
      == SnapshotTable.readAt(spark, dir, v1).collect().toSet)
    assert(SnapshotTable.readAt(spark, dir, v2).count() == 400)
  }

  test("bloom sidecar: string keys, nulls skipped, MOR chains resolved") {
    val dir = freshDir()
    val df = Seq(("alpha", 1L), (null: String, 2L), ("gamma", 3L), ("delta", 4L))
      .toDF("name", "id").repartition(2, $"id")
    val v = SnapshotTable.commit(df, dir, bloomCols = Seq("name"),
      statsCols = Seq("id"))
    // string canonicalization round-trips build -> probe
    val got = SnapshotTable.readWhereIn(spark, dir, v, "name", Seq("gamma"))
    assert(got.select("id").as[Long].collect().toSeq == Seq(3L))
    // a NULL never matches an IN probe; the row with null name is
    // reachable by other predicates, unharmed by the sidecar
    assert(SnapshotTable.readAt(spark, dir, v).filter($"name".isNull).count() == 1)
    // a point lookup THROUGH a merge-on-read delete resolves the chain:
    // pruning happens on the base data version's sidecar (a bloom
    // cannot forget a key), tombstones anti-join on top — the erased
    // key must NOT come back through the skipping path
    val vd = SnapshotTable.commitDeletes(Seq(3L).toDF("id"), dir, expectedVersion = v)
    assert(SnapshotTable.readWhereIn(spark, dir, vd, "name", Seq("gamma")).count() == 0,
      "a deleted key resurfaced through the bloom path")
    assert(SnapshotTable.readWhereIn(spark, dir, vd, "name", Seq("alpha"))
      .select("id").as[Long].collect().toSeq == Seq(1L),
      "surviving keys must still resolve through the chain")
    // the stats-pruned range read resolves the same chain
    assert(SnapshotTable.readWhere(spark, dir, vd, "id", 1L, 4L)
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 4L),
      "readWhere through a delete chain must drop exactly the tombstoned id")
    // direct pruning on a MOR version stays a loud error (the manifest
    // belongs to the data version)
    intercept[IllegalArgumentException] {
      SnapshotTable.pruneFilesBloom(dir, vd, "name", Seq("alpha"))
    }
  }

  test("bloom type gate: fractional numerics rejected; dates round-trip") {
    val df = Seq((5L, 5.0), (7L, 7.25)).toDF("k", "d")
      .withColumn("dec", $"d".cast("decimal(10,2)"))
      .withColumn("day", date_add(lit("2024-01-01").cast("date"), $"k".cast("int")))
    // double 5.0 inserts "5.0" but a Long probe key canonicalizes to
    // "5" — a guaranteed silent false negative. The commit-time gate
    // refuses instead of shipping an unsafe sidecar.
    intercept[IllegalArgumentException] {
      SnapshotTable.commit(df, freshDir(), bloomCols = Seq("d"))
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.commit(df, freshDir(), bloomCols = Seq("dec"))
    }
    // stats sidecars still take fractional columns (range compares are
    // typed, no canonical-form hashing involved)
    val dirS = freshDir()
    val vs = SnapshotTable.commit(df, dirS, statsCols = Seq("d", "dec"))
    assert(SnapshotTable.readStats(dirS, vs).nonEmpty)
    // DateType stays admitted: CAST(date AS STRING) and
    // java.sql.Date.toString both yield ISO yyyy-MM-dd
    val dir = freshDir()
    val v = SnapshotTable.commit(df, dir, bloomCols = Seq("day"))
    val got = SnapshotTable.readWhereIn(spark, dir, v, "day",
      Seq(java.sql.Date.valueOf("2024-01-06")))
    assert(got.select("k").as[Long].collect().toSeq == Seq(5L))
  }

  test("branch commits are invisible to main until publishBranch") {
    val dir = freshDir()
    val v1 = SnapshotTable.commit(spark.range(10).toDF("id"), dir)
    val v2 = SnapshotTable.commitToBranch(spark.range(20).toDF("id"), dir,
      "audit", expectedBranchVersion = SnapshotTable.ExpectEmpty)
    assert(v2 == 2L)
    assert(SnapshotTable.currentVersion(dir).contains(v1))
    assert(SnapshotTable.branchVersion(dir, "audit").contains(v2))
    assert(SnapshotTable.read(spark, dir).count() == 10)
    assert(SnapshotTable.branches(dir) == Seq("audit"))
    // publish: metadata-only fast-forward under the main CAS
    val before = SnapshotTable.versions(dir)
    assert(SnapshotTable.publishBranch(dir, "audit",
      expectedVersion = Some(v1)) == v2)
    assert(SnapshotTable.currentVersion(dir).contains(v2))
    assert(SnapshotTable.versions(dir) == before)
    assert(SnapshotTable.read(spark, dir).count() == 20)
  }

  test("branch CAS, stale-branch publish, and dropBranch are loud") {
    val dir = freshDir()
    val v1 = SnapshotTable.commit(spark.range(5).toDF("id"), dir)
    val vb = SnapshotTable.commitToBranch(spark.range(6).toDF("id"), dir,
      "wip", expectedBranchVersion = SnapshotTable.ExpectEmpty)
    // branch-pointer CAS: a second "no branch yet" writer conflicts
    intercept[java.util.ConcurrentModificationException] {
      SnapshotTable.commitToBranch(spark.range(7).toDF("id"), dir, "wip",
        expectedBranchVersion = SnapshotTable.ExpectEmpty)
    }
    // main moved past the branch head → the branch is STALE: publish
    // must throw (fast-forward only), never silently skip
    SnapshotTable.commit(spark.range(8).toDF("id"), dir,
      expectedVersion = Some(v1))
    assert(SnapshotTable.currentVersion(dir).exists(_ > vb))
    intercept[IllegalArgumentException] {
      SnapshotTable.publishBranch(dir, "wip")
    }
    // main-pointer CAS on publish
    intercept[java.util.ConcurrentModificationException] {
      SnapshotTable.publishBranch(dir, "wip", expectedVersion = Some(v1))
    }
    SnapshotTable.dropBranch(dir, "wip")
    assert(SnapshotTable.branches(dir).isEmpty)
    intercept[IllegalStateException] { SnapshotTable.dropBranch(dir, "wip") }
    intercept[IllegalStateException] { SnapshotTable.publishBranch(dir, "wip") }
    intercept[IllegalArgumentException] {
      SnapshotTable.commitToBranch(spark.range(1).toDF("id"), dir, "current")
    }
  }

  test("gcOrphans: unpublished claims and dropped-branch versions go; " +
      "history, live heads, and fresh debris stay") {
    val dir = freshDir()
    val v1 = SnapshotTable.commit(spark.range(5).toDF("id"), dir)
    val v2 = SnapshotTable.commit(spark.range(6).toDF("id"), dir)
    val vWip = SnapshotTable.commitToBranch(spark.range(7).toDF("id"), dir,
      "wip", expectedBranchVersion = SnapshotTable.ExpectEmpty)
    val vDead = SnapshotTable.commitToBranch(spark.range(8).toDF("id"), dir,
      "dead", expectedBranchVersion = SnapshotTable.ExpectEmpty)
    SnapshotTable.dropBranch(dir, "dead")
    // a claim no ref ever published — the CAS-loser shape (claimed
    // directory, no flip, no log line)
    spark.range(99).toDF("id").write.parquet(s"$dir/v9")
    // the age guard: everything is seconds old — nothing is swept
    assert(SnapshotTable.gcOrphans(dir).isEmpty)
    // past the guard: exactly the dead-branch version and the
    // unpublished claim go; v1 is HISTORY (published to current once)
    assert(SnapshotTable.gcOrphans(dir, olderThanMs = -1L)
      == Seq(vDead, 9L))
    assert(SnapshotTable.versions(dir) == Seq(v1, v2, vWip))
    assert(SnapshotTable.branchVersion(dir, "wip").contains(vWip))
    assert(SnapshotTable.read(spark, dir).count() == 6)
  }

  test("gcOrphans never sweeps pre-log history after a post-upgrade commit") {
    // a legacy table: v1/v2 committed before the publish log existed
    // (hand-built dirs + pointer), then ONE new commit starts the log.
    // v1 is real published history with no provenance line — the
    // pre-log floor must keep it (and v2) out of GC forever.
    val dir = freshDir()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    spark.range(5).toDF("id").write.parquet(s"$dir/v1")
    spark.range(6).toDF("id").write.parquet(s"$dir/v2")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "current"), "v2")
    val v3 = SnapshotTable.commit(spark.range(7).toDF("id"), dir)
    assert(v3 == 3L)
    assert(SnapshotTable.gcOrphans(dir, olderThanMs = -1L).isEmpty)
    assert(SnapshotTable.versions(dir) == Seq(1L, 2L, 3L))
    // post-log debris above the floor still reclaims
    SnapshotTable.commitToBranch(spark.range(8).toDF("id"), dir, "tmp",
      expectedBranchVersion = SnapshotTable.ExpectEmpty)
    SnapshotTable.dropBranch(dir, "tmp")
    assert(SnapshotTable.gcOrphans(dir, olderThanMs = -1L) == Seq(4L))
  }

  test("gcOrphans: no publish log means no GC; chains protect bases") {
    // pre-log table: version dirs with a hand-written pointer
    val dir = freshDir()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    spark.range(5).toDF("id").write.parquet(s"$dir/v1")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "current"), "v1")
    assert(SnapshotTable.gcOrphans(dir, olderThanMs = -1L).isEmpty)
    // a delete commit's _base chain keeps the base even when only the
    // tip is current
    val dir2 = freshDir()
    val b1 = SnapshotTable.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir2)
    SnapshotTable.commitDeletes(Seq(1L).toDF("k"), dir2, expectedVersion = b1)
    assert(SnapshotTable.gcOrphans(dir2, olderThanMs = -1L).isEmpty)
    assert(SnapshotTable.read(spark, dir2).count() == 1)
  }

  test("readWhereInFrom prunes from a dim frame and bounds the collect") {
    val dir = freshDir()
    val v = SnapshotTable.commit(
      spark.range(1000).toDF("k").repartitionByRange(8, $"k"),
      dir, bloomCols = Seq("k"))
    val dim = Seq(3L, 777L).toDF("k")
    val got = SnapshotTable.readWhereInFrom(spark, dir, v, "k", dim)
    assert(got.as[Long].collect().toSet == Set(3L, 777L))
    assert(got.inputFiles.length < 8)
    intercept[IllegalArgumentException] {
      SnapshotTable.readWhereInFrom(spark, dir, v, "k",
        Seq((1L, 2L)).toDF("a", "b"))
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.readWhereInFrom(spark, dir, v, "k", dim, maxKeys = 1)
    }
    // an empty dim side is a valid query: zero rows, zero files opened
    val none = SnapshotTable.readWhereInFrom(spark, dir, v, "k",
      dim.filter($"k" < 0))
    assert(none.isEmpty && none.schema == got.schema)
    assert(none.inputFiles.isEmpty)
  }

  test("manifestChain composes generations; delete commits are loud") {
    val dir = freshDir()
    val v1 = SnapshotTable.commit(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, statsCols = Seq("k"))
    val v2 = SnapshotTable.commitAppend(
      Seq((3L, "c")).toDF("k", "v"), dir, expectedVersion = v1,
      statsCols = Seq("k"))
    val m = SnapshotTable.manifestChain(spark, dir, v2)
    assert(m.select("generation").distinct().as[Long].collect().toSet
      == Set(v1, v2))
    assert(m.agg(sum($"row_count")).head.getLong(0) == 3L)
    // manifest (single-generation) still refuses the append tip
    intercept[IllegalArgumentException] {
      SnapshotTable.manifest(spark, dir, v2)
    }
    val v3 = SnapshotTable.commitDeletes(Seq(1L).toDF("k"), dir,
      expectedVersion = v2)
    intercept[IllegalArgumentException] {
      SnapshotTable.manifestChain(spark, dir, v3)
    }
  }

  test("versionAsOf travels by timestamp; branch publishes don't count") {
    val dir = freshDir()
    intercept[IllegalArgumentException] {
      SnapshotTable.versionAsOf(dir, System.currentTimeMillis())
    }
    val v1 = SnapshotTable.commit(spark.range(5).toDF("id"), dir)
    val t1 = SnapshotTable.publishEvents(dir).last._3
    // ms-resolution boundary: make the next publish strictly later
    while (System.currentTimeMillis() <= t1) Thread.sleep(1)
    val vb = SnapshotTable.commitToBranch(spark.range(6).toDF("id"), dir,
      "wip", expectedBranchVersion = SnapshotTable.ExpectEmpty)
    val tb = SnapshotTable.publishEvents(dir).last._3
    while (System.currentTimeMillis() <= tb) Thread.sleep(1)
    val v2 = SnapshotTable.commit(spark.range(7).toDF("id"), dir,
      expectedVersion = Some(v1))
    val t2 = SnapshotTable.publishEvents(dir)
      .filter(e => e._1 == v2 && e._2 == "current").head._3
    // before v1 existed: loud; between v1 and v2: v1 (the branch
    // publish in that window is invisible to main's as-of); at/after
    // v2's publish: v2
    intercept[IllegalArgumentException] {
      SnapshotTable.versionAsOf(dir, t1 - 1)
    }
    assert(SnapshotTable.versionAsOf(dir, t2 - 1) == v1)
    assert(SnapshotTable.versionAsOf(dir, t2) == v2)
    assert(SnapshotTable.readAsOf(spark, dir, t2 - 1).count() == 5)
    assert(SnapshotTable.readAsOf(spark, dir, t2).count() == 7)
    assert(vb == 2L) // the branch version exists but never gates main
  }

  test("optimizeDeltas folds only the append deltas onto the base") {
    val dir = freshDir()
    val v1 = SnapshotTable.commit(
      spark.range(100).toDF("k").repartitionByRange(4, $"k"),
      dir, statsCols = Seq("k"))
    val baseFiles = new java.io.File(s"$dir/v$v1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified))
    var tip = v1
    for (lo <- Seq(100L, 110L, 120L))
      tip = SnapshotTable.commitAppend(
        spark.range(lo, lo + 10).toDF("k"), dir, expectedVersion = tip,
        statsCols = Seq("k"))
    val vOpt = SnapshotTable.optimizeDeltas(spark, dir, baseVersion = v1,
      statsCols = Seq("k"))(_.repartitionByRange(2, $"k"))
    // content unchanged, chain shortened to base + one delta generation
    assert(SnapshotTable.read(spark, dir).count() == 130)
    assert(SnapshotTable.appendBaseOf(dir, vOpt).contains(v1))
    // delta-proportional: the optimize generation holds ONLY the 30
    // delta rows, and the base generation's files were not rewritten
    assert(spark.read.parquet(s"$dir/v$vOpt").count() == 30)
    val baseAfter = new java.io.File(s"$dir/v$v1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified))
    assert(baseAfter.toSeq == baseFiles.toSeq, "base files were touched")
    // the folded generation's fresh stats make skipping bite again
    val m = SnapshotTable.manifestChain(spark, dir, vOpt)
    assert(m.select("generation").distinct().as[Long].collect().toSet
      == Set(v1, vOpt))
  }

  test("commitRebase refuses delete commits and non-ancestors in the window") {
    val dir = freshDir()
    val v1 = SnapshotTable.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir)
    val v2 = SnapshotTable.commitAppend(Seq((3L, "c")).toDF("k", "v"), dir,
      expectedVersion = v1)
    val v3 = SnapshotTable.commitDeletes(Seq(1L).toDF("k"), dir,
      expectedVersion = v2)
    // a delete commit in the window: folding it away would resurrect
    // the tombstoned base row — loud
    intercept[IllegalArgumentException] {
      SnapshotTable.commitRebase(Seq((3L, "c")).toDF("k", "v"), dir,
        expectedVersion = v3, baseVersion = v1)
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.optimizeDeltas(spark, dir, baseVersion = v1)(identity)
    }
    // a full-rewrite commit breaks ancestry: v4 has no _append chain
    val dir2 = freshDir()
    val w1 = SnapshotTable.commit(spark.range(3).toDF("id"), dir2)
    val w2 = SnapshotTable.commit(spark.range(4).toDF("id"), dir2)
    intercept[IllegalArgumentException] {
      SnapshotTable.commitRebase(spark.range(1).toDF("id"), dir2,
        expectedVersion = w2, baseVersion = w1)
    }
  }

  test("the bloom probe keeps exactly the files a hand-built filter admits") {
    val dir = freshDir()
    val v = SnapshotTable.commit(
      spark.range(2000).toDF("k").repartitionByRange(8, $"k"),
      dir, bloomCols = Seq("k"), bloomExpectedItems = 300)
    assert(SnapshotTable.hasBloom(dir, v) && !SnapshotTable.hasBloom(dir, v + 1))
    val vdir = s"$dir/v$v"
    // one filter per data file, built from the file's own rows with the
    // commit's sizing and the probe's canonical bytes
    val handBuilt = spark.read.parquet(vdir)
      .select(input_file_name().as("f"), $"k").as[(String, Long)].collect()
      .groupBy(_._1).map { case (f, rows) =>
        val bf = org.apache.spark.util.sketch.BloomFilter.create(300, 0.01)
        rows.foreach(r => bf.putBinary(
          r._2.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        f.substring(f.indexOf(s"/v$v/") + s"/v$v/".length) -> bf
      }
    assert(handBuilt.size == 8)
    val keys = Seq(5L, 900L, 1750L, 5000L)
    val want = handBuilt.collect { case (f, bf) if keys.exists(k =>
      bf.mightContainBinary(k.toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))) => s"$vdir/$f" }.toSeq.sorted
    val (kept, total) = SnapshotTable.pruneFilesBloom(dir, v, "k", keys)
    assert(kept == want && total == 8,
      s"the probe kept ${kept.mkString(", ")} of $total, filters admit ${want.mkString(", ")}")
    assert(kept.size < total)
    // and the read path routes through it with identical answers
    val got = SnapshotTable.readWhereIn(spark, dir, v, "k", keys)
    assert(got.as[Long].collect().toSet == keys.filter(_ < 2000L).toSet)
    assert(got.inputFiles.length == kept.size)
  }

  test("commit metadata rides the version dir; chainOf skips orphans") {
    val dir = freshDir()
    val v1 = SnapshotTable.commit(Seq((1L, "a")).toDF("k", "v"), dir,
      meta = Map("epoch" -> "0", "job id" -> "x=1&y=2"))
    assert(SnapshotTable.readMeta(dir, v1)
      == Map("epoch" -> "0", "job id" -> "x=1&y=2"))
    val v2 = SnapshotTable.commitAppend(Seq((2L, "b")).toDF("k", "v"), dir,
      expectedVersion = v1, meta = Map("epoch" -> "1"))
    val v3 = SnapshotTable.commitDeletes(Seq(1L).toDF("k"), dir,
      expectedVersion = v2)
    assert(SnapshotTable.chainOf(dir, v3) == Seq(v3, v2, v1))
    // an orphaned claim WITH an epoch marker must be invisible to the
    // chain walk — the exactly-once ingest skip must never key off a
    // version the pointer never reached (that would drop the batch)
    spark.range(9).toDF("id").write.parquet(s"$dir/v9")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "v9", "_meta.properties"), "epoch=7\n")
    assert(SnapshotTable.chainOf(dir, v3) == Seq(v3, v2, v1))
    assert(!SnapshotTable.chainOf(dir, v3)
      .flatMap(v => SnapshotTable.readMeta(dir, v).get("epoch"))
      .contains("7"))
  }

  test("optimizeDeltas folds the epoch high-water mark forward") {
    val dir = freshDir()
    val v1 = SnapshotTable.commit(spark.range(10).toDF("k"), dir,
      meta = Map("epoch" -> "0"))
    var tip = v1
    for (e <- 1 to 3)
      tip = SnapshotTable.commitAppend(
        spark.range(e * 100L, e * 100L + 5).toDF("k"), dir,
        expectedVersion = tip, meta = Map("epoch" -> e.toString))
    val vOpt = SnapshotTable.optimizeDeltas(spark, dir, baseVersion = v1)(
      _.coalesce(1))
    assert(SnapshotTable.readMeta(dir, vOpt).get("epoch").contains("3"))
    assert(SnapshotTable.read(spark, dir).count() == 25)
    assert(SnapshotTable.chainOf(dir, vOpt) == Seq(vOpt, v1))
  }

  test("append schema evolution is opt-in; accidental drift stays loud") {
    val dir = freshDir()
    val v1 = SnapshotTable.commit(Seq((1L, "a")).toDF("k", "v"), dir)
    // accidental drift: loud by default
    intercept[IllegalArgumentException] {
      SnapshotTable.commitAppend(Seq((2L, "b", 9L)).toDF("k", "v", "extra"),
        dir, expectedVersion = v1)
    }
    // a disjoint delta is never an evolution
    intercept[IllegalArgumentException] {
      SnapshotTable.commitAppend(Seq((9L, 9L)).toDF("x", "y"), dir,
        expectedVersion = v1, allowSchemaEvolution = true)
    }
    // deliberate widening: old rows surface the new column as NULL
    val v2 = SnapshotTable.commitAppend(
      Seq((2L, "b", 9L)).toDF("k", "v", "extra"), dir,
      expectedVersion = v1, allowSchemaEvolution = true)
    val got = SnapshotTable.readAt(spark, dir, v2)
      .orderBy($"k").select($"k", $"extra").as[(Long, Option[Long])]
      .collect().toSeq
    assert(got == Seq((1L, None), (2L, Some(9L))))
    // folding the evolved chain needs the same explicit opt-in
    intercept[IllegalArgumentException] {
      SnapshotTable.optimizeDeltas(spark, dir, baseVersion = v1)(identity)
    }
    val vOpt = SnapshotTable.optimizeDeltas(spark, dir, baseVersion = v1,
      allowSchemaEvolution = true)(_.coalesce(1))
    assert(SnapshotTable.readAt(spark, dir, vOpt)
      .orderBy($"k").select($"k", $"extra").as[(Long, Option[Long])]
      .collect().toSeq == got)
  }

  test("null-count skipping: both polarities prune, conjunction composes") {
    val dir = freshDir()
    val df = spark.range(100).toDF("k")
      .withColumn("v", when($"k" < 40, $"k".cast("string")))
    val ver = SnapshotTable.commit(
      df.repartitionByRange(5, $"v".isNull, $"k"), dir,
      statsCols = Seq("k", "v"))
    import SnapshotTable.{NullPredicate, RangePredicate}
    val (nullKept, total) = SnapshotTable.pruneFilesMulti(dir, ver,
      Seq(NullPredicate("v", isNull = true)))
    val (notNullKept, _) = SnapshotTable.pruneFilesMulti(dir, ver,
      Seq(NullPredicate("v", isNull = false)))
    assert(nullKept.nonEmpty && nullKept.size < total)
    assert(notNullKept.nonEmpty && notNullKept.size < total)
    // answers stay byte-identical to the full scan
    val gotNull = SnapshotTable.readWhereMulti(spark, dir, ver,
      Seq(NullPredicate("v", isNull = true)))
    assert(gotNull.count() == 60 && gotNull.inputFiles.length == nullKept.size)
    val conj = SnapshotTable.readWhereMulti(spark, dir, ver,
      Seq(NullPredicate("v", isNull = false), RangePredicate("k", 0L, 10L)))
    assert(conj.select("k").as[Long].collect().sorted.toSeq == (0L to 10L))
    // a stats-less column is loud, same as the range contract
    intercept[IllegalArgumentException] {
      SnapshotTable.pruneFilesMulti(dir, ver,
        Seq(NullPredicate("missing", isNull = true)))
    }
  }

  test("two racing appends: one wins, the loser retries onto the new tip") {
    // the ingest-contention shape: both writers read the same tip and
    // race commitAppend. Exactly one CAS wins; the loser re-reads and
    // lands its delta ON TOP of the winner's — both batches exactly
    // once, never merged into one version, never lost.
    val dir = freshDir()
    val v1 = SnapshotTable.commit(spark.range(10).toDF("k"), dir)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val attempts = (0 until 2).map { i =>
      Future {
        val delta = spark.range(100L * (i + 1), 100L * (i + 1) + 5).toDF("k")
        try Right(SnapshotTable.commitAppend(delta, dir, expectedVersion = v1))
        catch {
          case _: java.util.ConcurrentModificationException =>
            val tip = SnapshotTable.currentVersion(dir).get
            Left(SnapshotTable.commitAppend(delta, dir, expectedVersion = tip))
        }
      }
    }
    val results = Await.result(Future.sequence(attempts), 120.seconds).toList
    assert(results.count(_.isRight) == 1 && results.count(_.isLeft) == 1,
      s"exactly one append must win the CAS outright: $results")
    val tip = SnapshotTable.currentVersion(dir).get
    assert(SnapshotTable.chainOf(dir, tip).length == 3)
    assert(SnapshotTable.read(spark, dir).count() == 20)
    assert(SnapshotTable.read(spark, dir)
      .filter($"k" >= 100L).count() == 10, "a racing batch was lost")
  }

  test("expire keeps an unpublished branch head and its chain") {
    val dir = freshDir()
    val v1 = SnapshotTable.commit(spark.range(4).toDF("id"), dir)
    SnapshotTable.commitToBranch(spark.range(5).toDF("id"), dir, "wip",
      expectedBranchVersion = SnapshotTable.ExpectEmpty)
    for (n <- Seq(6, 7, 8)) SnapshotTable.commit(spark.range(n).toDF("id"),
      dir)
    // keepLast=1 would normally drop everything but the tip; the
    // branch head (v2) must survive as a retention root
    val dropped = SnapshotTable.expire(dir, keepLast = 1)
    assert(dropped == Seq(v1, 3L, 4L))
    assert(SnapshotTable.versions(dir) == Seq(2L, 5L))
    assert(SnapshotTable.branchVersion(dir, "wip").contains(2L))
  }

  test("commitUpsert merges atomically: one version, replace semantics") {
    val dir = freshDir()
    val v1 = SnapshotTable.commit(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), dir,
      expectedVersion = SnapshotTable.ExpectEmpty)
    // batch: update k=2, insert k=9 — one commit, two-link chain
    val v2 = SnapshotTable.commitUpsert(
      Seq((2L, "B"), (9L, "i")).toDF("k", "v"), Seq("k"), dir,
      expectedVersion = v1)
    assert(SnapshotTable.chainOf(dir, v2) == Seq(v2, v1))
    assert(SnapshotTable.isUpsert(dir, v2))
    assert(SnapshotTable.readAt(spark, dir, v2).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "B"), (3L, "c"), (9L, "i")))
    // the pre-merge version is untouched history
    assert(SnapshotTable.readAt(spark, dir, v1).count() == 3)
    // schema and key guards are loud
    intercept[IllegalArgumentException] {
      SnapshotTable.commitUpsert(Seq((1L, "x", 0)).toDF("k", "v", "extra"),
        Seq("k"), dir, expectedVersion = v2)
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.commitUpsert(Seq((1L, "x")).toDF("k", "v"),
        Seq("nope"), dir, expectedVersion = v2)
    }
    // CAS: an upsert against a stale expected version conflicts loudly
    intercept[java.util.ConcurrentModificationException] {
      SnapshotTable.commitUpsert(Seq((1L, "x")).toDF("k", "v"),
        Seq("k"), dir, expectedVersion = v1)
    }
  }

  test("commitUpsert crash window: staged-but-unpublished is invisible") {
    val dir = freshDir()
    val v1 = SnapshotTable.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      dir, expectedVersion = SnapshotTable.ExpectEmpty)
    intercept[SnapshotTable.InjectedCrash] {
      SnapshotTable.commitUpsert(Seq((2L, "B")).toDF("k", "v"), Seq("k"),
        dir, expectedVersion = v1, crashBeforePublish = true)
    }
    // nothing published: pointer, version list, and reads all pre-merge
    assert(SnapshotTable.currentVersion(dir).contains(v1))
    assert(SnapshotTable.versions(dir) == Seq(v1))
    assert(SnapshotTable.read(spark, dir).count() == 2)
    // only writer-private staging debris remains; the retry completes
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.startsWith(".staged-")) == 1)
    val v2 = SnapshotTable.commitUpsert(Seq((2L, "B")).toDF("k", "v"),
      Seq("k"), dir, expectedVersion = v1)
    assert(SnapshotTable.readAt(spark, dir, v2).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "B")))
  }

  test("an empty commitUpsert publishes nothing and leaves no staged dir") {
    val dir = freshDir()
    val v1 = SnapshotTable.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      dir, expectedVersion = SnapshotTable.ExpectEmpty)
    val batch = Seq((2L, "B")).toDF("k", "v").filter($"k" < 0L)
    assert(SnapshotTable.commitUpsert(batch, Seq("k"), dir,
      expectedVersion = v1, recordChainStats = true) == v1)
    assert(SnapshotTable.currentVersion(dir).contains(v1))
    assert(SnapshotTable.versions(dir) == Seq(v1))
    assert(!new java.io.File(dir).listFiles().exists(_.getName.startsWith(".staged-")))
    assert(SnapshotTable.commitUpsert(Seq((2L, "B")).toDF("k", "v"), Seq("k"),
      dir, expectedVersion = v1) == v1 + 1)
  }

  test("an upsert's writers write one key file per data file") {
    // keys as the batch carries them, from every task, flat in _deletes/
    // even when the key is a hive partition column
    def keyFiles(dir: String, v: Long) =
      new java.io.File(s"$dir/v$v/_deletes").listFiles()
        .filter(f => f.getName.endsWith(".parquet")).toSeq
    def dataFiles(dir: String, v: Long): Seq[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().filterNot(_.getName.startsWith("_")).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(s"$dir/v$v")).filter(_.getName.endsWith(".parquet")).map(_.getPath)
    }
    val base = (1L to 60L).map(k => (k, s"v$k", (k % 3).toInt)).toDF("k", "v", "p")
    val batch = ((1L to 30L) ++ Seq(5L, 61L)).map(k => (k, s"u$k", (k % 3).toInt))
      .toDF("k", "v", "p").repartition(3)
    for ((keyCols, part) <- Seq((Seq("k"), Nil), (Seq("k"), Seq("p")),
        (Seq("p"), Seq("p")), (Seq("k", "p"), Seq("p")))) {
      val dir = freshDir()
      val v1 = SnapshotTable.commit(base, dir, expectedVersion = SnapshotTable.ExpectEmpty,
        partitionCols = part)
      val v2 = SnapshotTable.commitUpsert(batch, keyCols, dir, expectedVersion = v1,
        partitionCols = part)
      assert(keyFiles(dir, v2).size == dataFiles(dir, v2).size, s"$keyCols by $part")
      val dels = spark.read.parquet(s"$dir/v$v2/_deletes")
      assert(dels.columns.toSeq == keyCols)
      assert(dels.collect().toSeq.map(_.toString).sorted ==
        batch.select(keyCols.map(col): _*).collect().toSeq.map(_.toString).sorted)
      val want = SnapshotTable.readAt(spark, dir, v1)
        .join(batch.select(keyCols.map(col): _*), keyCols, "left_anti")
        .unionByName(batch)
      assert(SnapshotTable.readAt(spark, dir, v2).collect().toSeq.map(_.toString).sorted ==
        want.collect().toSeq.map(_.toString).sorted, s"$keyCols by $part")
    }
  }

  test("upsert generations refuse folding; full compaction resolves them") {
    val dir = freshDir()
    val v1 = SnapshotTable.commit(Seq((1L, 10L), (2L, 20L)).toDF("k", "n"),
      dir, expectedVersion = SnapshotTable.ExpectEmpty)
    val v2 = SnapshotTable.commitUpsert(Seq((2L, 99L)).toDF("k", "n"),
      Seq("k"), dir, expectedVersion = v1)
    val v3 = SnapshotTable.commitAppend(Seq((5L, 50L)).toDF("k", "n"), dir,
      expectedVersion = v2)
    // the rebase window v3..v1 crosses the upsert — folding it away
    // would resurrect the replaced (2, 20) row; both fold paths refuse
    intercept[IllegalArgumentException] {
      SnapshotTable.optimizeDeltas(spark, dir, baseVersion = v1)(identity)
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.commitRebase(Seq((5L, 50L)).toDF("k", "n"), dir,
        expectedVersion = v3, baseVersion = v1)
    }
    // manifest folding refuses too (tombstones invalidate counts)
    intercept[IllegalArgumentException] {
      SnapshotTable.manifestChain(spark, dir, v2)
    }
    // a full transact (compaction) materializes the merge and cuts it
    val v4 = SnapshotTable.transact(spark, dir)(cur => cur.get)
    assert(SnapshotTable.chainOf(dir, v4) == Seq(v4))
    assert(SnapshotTable.read(spark, dir).as[(Long, Long)].collect().toSet
      == Set((1L, 10L), (2L, 99L), (5L, 50L)))
  }

  test("gcOrphans reclaims an empty-table CAS loser via the log marker") {
    // the pre-marker inference (floor = min published version) shielded
    // any loser claimed at or below the first publish forever — the
    // two-writers-on-an-empty-table race from the r18 review. Emulate
    // writer A dying between its claim-rename and its flip on a FRESH
    // table: ensureLog has run (marker v0 — exactly what claimVersion
    // writes before any claim) and A's complete v1 sits unpointed.
    val dir = freshDir()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "publishes.log"),
      s"v0\t${SnapshotTable.LogCreatedRef}\t${System.currentTimeMillis()}\n")
    spark.range(3).toDF("id").write.parquet(s"$dir/v1")
    // writer B proceeds: claims v2, flips, logs — the table's FIRST
    // published version is v2, numbered above the loser's v1
    val v2 = SnapshotTable.commit(spark.range(4).toDF("id"), dir)
    assert(v2 == 2L)
    assert(SnapshotTable.publishedVersions(dir) == Set(2L))
    // fresh debris is age-guarded; past the guard the loser's v1 IS
    // reclaimable (marker floor v0) — the min-published inference
    // would have shielded it forever (1 <= min published 2)
    assert(SnapshotTable.gcOrphans(dir).isEmpty)
    val removed = SnapshotTable.gcOrphans(dir, olderThanMs = -1L)
    assert(removed == Seq(1L))
    assert(SnapshotTable.versions(dir) == Seq(2L))
    // the marker is the log's first line with the v0 floor
    assert(SnapshotTable.publishEvents(dir).head
      == SnapshotTable.publishEvents(dir).filter(
        _._2 == SnapshotTable.LogCreatedRef).head)
    assert(SnapshotTable.publishEvents(dir).head._1 == 0L)
  }

  test("versionAsOf ignores a trailing logged-but-never-flipped version") {
    val dir = freshDir()
    val v1 = SnapshotTable.commit(spark.range(3).toDF("id"), dir)
    // simulate the log-before-flip crash: a publish line lands for a
    // version the pointer never reached
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "publishes.log"),
      s"v99\tcurrent\t${System.currentTimeMillis()}\n",
      java.nio.file.StandardOpenOption.APPEND)
    assert(SnapshotTable.versionAsOf(dir, System.currentTimeMillis()) == v1,
      "as-of resolved a version no main reader ever saw")
  }

  test("branch as-of resolves branch history; publishesTable is queryable") {
    val dir = freshDir()
    SnapshotTable.commit(spark.range(2).toDF("id"), dir)
    val b1 = SnapshotTable.commitToBranch(spark.range(3).toDF("id"), dir,
      "wip", expectedBranchVersion = SnapshotTable.ExpectEmpty)
    val t1 = SnapshotTable.publishEvents(dir)
      .filter(e => e._1 == b1 && e._2 == "wip").head._3
    while (System.currentTimeMillis() <= t1) Thread.sleep(1)
    val b2 = SnapshotTable.commitToBranch(spark.range(4).toDF("id"), dir,
      "wip", expectedBranchVersion = Some(b1))
    val t2 = SnapshotTable.publishEvents(dir)
      .filter(e => e._1 == b2 && e._2 == "wip").head._3
    assert(SnapshotTable.branchVersionAsOf(dir, "wip", t2 - 1) == b1)
    assert(SnapshotTable.branchVersionAsOf(dir, "wip", t2) == b2)
    assert(SnapshotTable.readBranchAsOf(spark, dir, "wip", t2 - 1).count() == 3)
    // before the branch existed: loud
    intercept[IllegalArgumentException] {
      SnapshotTable.branchVersionAsOf(dir, "wip", t1 - 100000)
    }
    // the audit log as a table: marker + 1 main + 2 branch publishes
    val tab = SnapshotTable.publishesTable(spark, dir)
    assert(tab.count() == 4)
    assert(tab.filter($"ref" === "wip").count() == 2)
    intercept[IllegalArgumentException] {
      SnapshotTable.publishesTable(spark, freshDir())
    }
  }

  test("manifestChain uses the committed fold and matches the recursive walk") {
    val dir = freshDir()
    var tip = SnapshotTable.commit(Seq((1L, 1L)).toDF("k", "n"), dir,
      expectedVersion = SnapshotTable.ExpectEmpty, statsCols = Seq("k"))
    (2L to 5L).foreach { i =>
      tip = SnapshotTable.commitAppend(Seq((i, i)).toDF("k", "n"), dir,
        expectedVersion = tip, statsCols = Seq("k"))
    }
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, s"v$tip", "_manifest_chain", "fold.tsv")),
      "an append with stats must commit the folded ancestor manifest")
    val folded = SnapshotTable.manifestChain(spark, dir, tip)
    // force the recursive fallback by hiding the tip's fold
    val foldDir = java.nio.file.Paths.get(dir, s"v$tip", "_manifest_chain")
    val hidden = java.nio.file.Paths.get(dir, s"v$tip", ".mc_hidden")
    java.nio.file.Files.move(foldDir, hidden)
    val walked =
      try SnapshotTable.manifestChain(spark, dir, tip).collect().toSet
      finally java.nio.file.Files.move(hidden, foldDir)
    assert(folded.collect().toSet == walked,
      "the folded manifest diverged from the recursive walk")
    assert(folded.select($"generation").distinct().count() == 5)
  }

  test("readWhereInChain prunes per generation; tombstoned chains are loud") {
    val dir = freshDir()
    var tip = SnapshotTable.commit(
      spark.range(0, 100).toDF("k").repartitionByRange(4, $"k"), dir,
      expectedVersion = SnapshotTable.ExpectEmpty, bloomCols = Seq("k"))
    Seq(100L, 200L).foreach { base =>
      tip = SnapshotTable.commitAppend(
        spark.range(base, base + 100).toDF("k").repartitionByRange(4, $"k"),
        dir, expectedVersion = tip, bloomCols = Seq("k"))
    }
    val keys = Seq(5L, 150L, 250L) // one needle per generation
    val got = SnapshotTable.readWhereInChain(spark, dir, tip, "k", keys)
    assert(got.as[Long].collect().sorted.toSeq == keys)
    // every generation contributed a pruned (not full) own-file list
    val perGen = SnapshotTable.chainOf(dir, tip).map { g =>
      val (kept, total) =
        SnapshotTable.pruneFilesBloomOwn(dir, g, "k", keys)
      assert(kept.nonEmpty && kept.size < total,
        s"generation v$g did not prune (kept ${kept.size} of $total)")
      kept.size
    }
    assert(got.inputFiles.length == perGen.sum,
      "the chain read must open exactly the per-generation survivors")
    // a tombstone anywhere in the chain defeats per-generation pruning
    val vUp = SnapshotTable.commitUpsert(Seq(5L).toDF("k"), Seq("k"), dir,
      expectedVersion = tip)
    intercept[IllegalArgumentException] {
      SnapshotTable.readWhereInChain(spark, dir, vUp, "k", keys)
    }
  }

  test("readWhereInFrom: large key sets prune via broadcast semi-join") {
    val dir = freshDir()
    val n = 4000L
    val ver = SnapshotTable.commit(
      spark.range(n).toDF("k").withColumn("v", $"k" * 2)
        .repartitionByRange(8, $"k"),
      dir, expectedVersion = SnapshotTable.ExpectEmpty,
      bloomCols = Seq("k"))
    // 2000 keys > InlineInLiteralMax: the residual must be a semi-join,
    // and the answer byte-identical to the full-scan filter
    val keys = spark.range(0, n, 2).toDF("k")
    val got = SnapshotTable.readWhereInFrom(spark, dir, ver, "k", keys)
    assert(got.count() == n / 2)
    assert(got.agg(sum($"v")).head.getLong(0)
      == (0L until n by 2).map(_ * 2).sum)
    // and the loud bound still fires
    intercept[IllegalArgumentException] {
      SnapshotTable.readWhereInFrom(spark, dir, ver, "k", keys, maxKeys = 10)
    }
  }
}
