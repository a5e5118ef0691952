package graft

import org.apache.spark.sql.functions._

import graft.ops.SnapshotTable

/** Pins the r20 stats-sidecar fast path: per-file stats computed from
  * the parquet FOOTERS must be record-identical to what the original
  * grouped `input_file_name()` scan produces, and the footer path must
  * DEMOTE (return None) whenever equivalence is not provable from the
  * footer alone — a false positive there would corrupt file pruning.
  */
class StatsFooterParitySpec extends SparkSpec {

  private def staged(): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("footerparity")
      .resolve("staged")

  private def conf = spark.sparkContext.hadoopConfiguration

  /** The scan reference: the sidecar scan with no bloom columns. */
  private def scanStats(dir: java.nio.file.Path,
      cols: Seq[String]): Seq[SnapshotTable.FileColStats] =
    SnapshotTable.sidecarScan(spark, dir, cols, Nil,
      SnapshotTable.DefaultBloomExpectedItems).flatMap(_.stats)

  private def parity(dir: java.nio.file.Path, cols: Seq[String]): Unit = {
    val footer = SnapshotTable.statsRowsByFooter(conf, dir, cols)
    assert(footer.isDefined, s"footer path demoted on a supported shape ($cols)")
    val scan = scanStats(dir, cols)
    assert(footer.get.sortBy(r => (r.file, r.column)) ===
      scan.sortBy(r => (r.file, r.column)))
  }

  test("longs and strings with nulls, multiple files: identical records") {
    import spark.implicits._
    val dir = staged()
    val df = (1L to 400L).map { i =>
      (i,
        if (i % 7 == 0) null else s"s${"%03d".format(i % 50)}",
        if (i % 11 == 0) null else java.lang.Long.valueOf(i * 3 - 500))
    }.toDF("k", "s", "v")
      .repartitionByRange(4, $"k")
    df.write.parquet(dir.toString)
    parity(dir, Seq("k", "s", "v"))
  }

  test("date columns render ISO, matching the cast-to-string aggregate") {
    import spark.implicits._
    val dir = staged()
    val df = (0 until 200).map { i =>
      (i.toLong, java.sql.Date.valueOf(java.time.LocalDate
        .of(2019, 1, 1).plusDays(i * 13 % 900)))
    }.toDF("k", "d").repartitionByRange(3, $"k")
    df.write.parquet(dir.toString)
    parity(dir, Seq("k", "d"))
  }

  test("an all-null file yields a None min/max record on both paths") {
    import spark.implicits._
    val dir = staged()
    // range-partition on k so one file holds only null-s rows
    val df = (1L to 100L).map { i =>
      (i, if (i <= 50) null else s"x$i")
    }.toDF("k", "s").repartitionByRange(2, $"k")
    df.write.parquet(dir.toString)
    val footer = SnapshotTable.statsRowsByFooter(conf, dir, Seq("s"))
    assert(footer.isDefined)
    assert(footer.get.exists(r => r.minStr.isEmpty && r.maxStr.isEmpty &&
      r.nullCount == 50L))
    parity(dir, Seq("k", "s"))
  }

  test("footer path demotes on fractional, partition, and missing columns") {
    import spark.implicits._
    val dir = staged()
    (1L to 50L).map(i => (i, i / 3.0, i % 4))
      .toDF("k", "f", "p")
      .write.partitionBy("p").parquet(dir.toString)
    // double column: NaN/-0.0 comparator divergence — must demote
    assert(SnapshotTable.statsRowsByFooter(conf, dir, Seq("f")).isEmpty)
    // partition column: absent from the data files — must demote (the
    // scan path still resolves it through partition discovery)
    assert(SnapshotTable.statsRowsByFooter(conf, dir, Seq("p")).isEmpty)
    // unknown column: demote, and the scan path raises the loud error
    assert(SnapshotTable.statsRowsByFooter(conf, dir, Seq("zz")).isEmpty)
    val e = intercept[IllegalArgumentException] {
      scanStats(dir, Seq("zz"))
    }
    assert(e.getMessage.contains("no column 'zz'"))
    // the long column inside a partitioned layout still works, with
    // partition-relative file paths identical across paths
    parity(dir, Seq("k"))
  }

  test("the sidecar scan's per-file bloom bits equal filters built by hand") {
    import spark.implicits._
    val dir = staged()
    (1L to 300L).map(i => (i, if (i % 9 == 0) null else s"v${i % 40}", i % 3))
      .toDF("k", "s", "p")
      .repartitionByRange(3, $"k")
      .write.partitionBy("p").parquet(dir.toString)
    val items = 500L
    val scanned = SnapshotTable.sidecarScan(spark, dir, Seq("k"), Seq("k", "s", "p"), items)
    // the reference: every value of the file, cast to string, into a
    // filter of the same size; nulls stay out
    val perFile = spark.read.parquet(dir.toString)
      .select(input_file_name().as("f"), $"k".cast("string"), $"s", $"p".cast("string"))
      .collect().groupBy(r => r.getString(0).substring(
        r.getString(0).indexOf(dir.getFileName.toString + "/") +
          dir.getFileName.toString.length + 1))
    assert(scanned.map(_.file).toSet === perFile.keySet)
    for (f <- scanned) {
      val rows = perFile(f.file)
      assert(f.stats.map(_.rowCount).distinct === Seq(rows.length.toLong))
      assert(f.blooms.map(_._1) === Seq("k", "s", "p"))
      for (((c, bits), i) <- f.blooms.zipWithIndex) {
        val bf = org.apache.spark.util.sketch.BloomFilter.create(items, 0.01)
        rows.flatMap(r => Option(r.getString(i + 1))).foreach(v =>
          bf.putBinary(v.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        val want = new java.io.ByteArrayOutputStream()
        bf.writeTo(want)
        assert(java.util.Arrays.equals(bits, want.toByteArray),
          s"bloom bits of ${f.file}/$c differ from the hand-built filter")
      }
    }
  }

  test("unicode string bounds order by unsigned bytes, like UTF8String") {
    import spark.implicits._
    val dir = staged()
    // multi-byte UTF-8 above ASCII: unsigned byte order must pick the
    // same bounds the Spark aggregate does
    val vals = Seq("zebra", "éclair", "中文", "Apple", "😀emoji")
    vals.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("k", "s").coalesce(1).write.parquet(dir.toString)
    parity(dir, Seq("s"))
  }

  test("a commit through the spine carries footer-built sidecars readable as before") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("footercommit")
      .resolve("t").toString
    val v = SnapshotTable.commit(
      (1L to 300L).map(i => (i, s"n${i % 9}")).toDF("k", "s").coalesce(1),
      dir, expectedVersion = SnapshotTable.ExpectEmpty,
      statsCols = Seq("k", "s"), bloomCols = Seq("k"))
    val st = SnapshotTable.readStats(dir, v)
    assert(st.nonEmpty && st.forall(_.rowCount == 300L))
    assert(st.find(_.col == "k").get.min.contains("1"))
    assert(st.find(_.col == "k").get.max.contains("300"))
    // the _manifest parquet written driver-side reads back with the
    // same schema and values Spark's writer produced
    val m = SnapshotTable.manifest(spark, dir, v)
    assert(m.columns.toSeq === Seq("file", "row_count", "column", "col_type",
      "min_str", "max_str", "min_num", "max_num", "null_count"))
    val krow = m.filter($"column" === "k").collect().head
    assert(krow.getAs[Long]("row_count") == 300L)
    assert(krow.getAs[Double]("min_num") == 1.0)
    assert(krow.getAs[Double]("max_num") == 300.0)
    // the _bloomtab written driver-side still answers point lookups
    val (files, total) =
      SnapshotTable.pruneFilesBloom(spark, dir, v, "k", Seq(5L))
    assert(files.nonEmpty && total >= files.size)
  }
}
