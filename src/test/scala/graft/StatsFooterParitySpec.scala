package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.SnapshotTable

/** Pins the write-time sidecars: the per-file stats and bloom filters
  * a commit's writers gather while they write the data
  * ([[graft.ops.SidecarParquetFormat]]) must equal what a grouped
  * `input_file_name()` scan of the committed files computes — that
  * scan, the way the sidecars were once built, is kept here as the
  * reference. A difference would corrupt file pruning.
  */
class StatsFooterParitySpec extends SparkSpec {

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("sidecarparity")
      .resolve("t").toString

  /** The stats type tag of a column of type `dt`. */
  private def tag(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => "long"
      case FloatType | DoubleType => "double"
      case _: DecimalType => "decimal"
      case StringType | DateType => "string"
    }
  }

  /** The scan reference: one grouped scan of a version's files keyed by
    * `input_file_name()`, min and max cast to string, nulls counted; a
    * 0-row file yields no row. Hive partition columns come from the
    * read's partition inference.
    */
  private def scanStats(vdir: String, cols: Seq[String]): Seq[SnapshotTable.ColStats] = {
    val sdf = spark.read.parquet(vdir)
    val aggs = cols.flatMap(c => Seq(min(col(c)).cast("string"),
      max(col(c)).cast("string"), sum(col(c).isNull.cast("long"))))
    val marker = vdir.substring(vdir.lastIndexOf('/')) + "/"
    sdf.groupBy(input_file_name().as("_f")).agg(count(lit(1)), aggs: _*)
      .collect().toSeq.flatMap { r =>
        val f = r.getString(0)
        val rel = f.substring(f.indexOf(marker) + marker.length)
        cols.zipWithIndex.map { case (c, i) =>
          SnapshotTable.ColStats(rel, r.getLong(1), c, tag(sdf.schema(c).dataType),
            Option(r.getString(2 + 3 * i)), Option(r.getString(3 + 3 * i)),
            r.getLong(4 + 3 * i))
        }
      }
  }

  /** Commit `df` with stats on `cols` and assert its `_manifest/`
    * records equal the scan reference's; returns (dir, version).
    */
  private def parity(df: DataFrame, cols: Seq[String],
      partitionCols: Seq[String] = Nil): (String, Long) = {
    val dir = freshDir()
    val v = SnapshotTable.commit(df, dir, partitionCols = partitionCols,
      statsCols = cols)
    val order = (r: SnapshotTable.ColStats) => (r.file, r.col)
    val written = SnapshotTable.readStats(dir, v)
    assert(written.nonEmpty)
    assert(written.sortBy(order) === scanStats(s"$dir/v$v", cols).sortBy(order))
    (dir, v)
  }

  test("longs and strings with nulls, multiple files: identical records") {
    import spark.implicits._
    val df = (1L to 400L).map { i =>
      (i,
        if (i % 7 == 0) null else s"s${"%03d".format(i % 50)}",
        if (i % 11 == 0) null else java.lang.Long.valueOf(i * 3 - 500))
    }.toDF("k", "s", "v")
      .repartitionByRange(4, $"k")
    parity(df, Seq("k", "s", "v"))
  }

  test("date columns render ISO, matching the cast-to-string aggregate") {
    import spark.implicits._
    val df = (0 until 200).map { i =>
      (i.toLong, java.sql.Date.valueOf(java.time.LocalDate
        .of(2019, 1, 1).plusDays(i * 13 % 900)))
    }.toDF("k", "d").repartitionByRange(3, $"k")
    parity(df, Seq("k", "d"))
  }

  test("an all-null file yields a None min/max record on both paths") {
    import spark.implicits._
    // range-partition on k so one file holds only null-s rows
    val df = (1L to 100L).map { i =>
      (i, if (i <= 50) null else s"x$i")
    }.toDF("k", "s").repartitionByRange(2, $"k")
    val (dir, v) = parity(df, Seq("k", "s"))
    assert(SnapshotTable.readStats(dir, v).exists(r => r.col == "s" &&
      r.min.isEmpty && r.max.isEmpty && r.nulls == 50L))
  }

  test("DOUBLE, decimal and partition stats match; gates fire before the write") {
    import spark.implicits._
    val specials = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    val df = (1L to 80L).map { i =>
      val f: java.lang.Double =
        if (i % 9 == 0) null
        else if (i % 10 < 3) specials((i % 10).toInt)
        else i / 3.0
      (i, f, i % 4)
    }.toDF("k", "f", "p")
      .withColumn("dec", when($"k" % 6 === 0, lit(null))
        .otherwise(($"k" * 1.25).cast("decimal(12,2)")))
      .repartitionByRange(2, $"k")
    val (dir, v) = parity(df, Seq("k", "f", "dec", "p"), partitionCols = Seq("p"))
    val st = SnapshotTable.readStats(dir, v)
    assert(st.filter(_.col == "f").map(_.max).contains(Some("NaN")))
    assert(st.filter(_.col == "f").map(_.min).contains(Some("-Infinity")))
    assert(st.filter(_.col == "p").forall(r => r.min == r.max && r.nulls == 0L))
    // unknown and unsupported columns fail loudly with nothing staged
    val bad = freshDir()
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.commit(df, bad, statsCols = Seq("k", "zz"))
    }
    assert(e.getMessage.contains("no column 'zz'"))
    val e2 = intercept[IllegalArgumentException] {
      SnapshotTable.commit(df, bad, bloomCols = Seq("f"))
    }
    assert(e2.getMessage.contains("bloomCols: unsupported type double"))
    assert(new java.io.File(bad).list().toSeq.isEmpty,
      "a failed gate must leave nothing staged")
  }

  test("a string over 4 KB and a file of nulls only keep exact bounds") {
    import spark.implicits._
    val long = "z" * 5000
    // partition g=1 holds one file whose stats columns are all null
    val df = (1L to 60L).map { i =>
      if (i > 50) (null, null, 1)
      else (java.lang.Long.valueOf(i), if (i == 7) long else s"a$i", 0)
    }.toDF("k", "s", "g")
    val (dir, v) = parity(df.coalesce(1), Seq("k", "s"), partitionCols = Seq("g"))
    val st = SnapshotTable.readStats(dir, v)
    assert(st.filter(_.file.startsWith("g=0/")).find(_.col == "s").get.max
      .contains(long))
    assert(st.filter(_.file.startsWith("g=1/")).forall(r =>
      r.min.isEmpty && r.max.isEmpty && r.nulls == 10L && r.rowCount == 10L))
  }

  test("a commit's per-file bloom bits equal filters built by hand") {
    import spark.implicits._
    val dir = freshDir()
    val items = 500L
    val v = SnapshotTable.commit(
      (1L to 300L).map(i => (i, if (i % 9 == 0) null else s"v${i % 40}", i % 3))
        .toDF("k", "s", "p").repartitionByRange(3, $"k"),
      dir, partitionCols = Seq("p"), statsCols = Seq("k"),
      bloomCols = Seq("k", "s", "p"), bloomExpectedItems = items)
    val vdir = s"$dir/v$v"
    // the reference: every value of the file, cast to string, into a
    // filter of the same size; nulls stay out
    val perFile = spark.read.parquet(vdir)
      .select(input_file_name().as("f"), $"k".cast("string"), $"s", $"p".cast("string"))
      .collect().groupBy(r => r.getString(0).substring(
        r.getString(0).indexOf(s"/v$v/") + s"/v$v/".length))
    val blooms = SnapshotTable.readBloom(dir, v)
    val cols = Seq("k", "s", "p")
    assert(blooms.map(_._1).distinct.toSet === perFile.keySet)
    assert(blooms.map(b => (b._1, b._2)) ===
      perFile.keySet.toSeq.flatMap(f => cols.map(c => (f, c))).sorted)
    val bits = (bf: org.apache.spark.util.sketch.BloomFilter) => {
      val out = new java.io.ByteArrayOutputStream()
      bf.writeTo(out)
      out.toByteArray
    }
    for ((file, c, got) <- blooms) {
      val rows = perFile(file)
      val bf = org.apache.spark.util.sketch.BloomFilter.create(items, 0.01)
      rows.flatMap(r => Option(r.getString(cols.indexOf(c) + 1))).foreach(x =>
        bf.putBinary(x.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      assert(bits(got).sameElements(bits(bf)),
        s"bloom bits of $file/$c differ from the hand-built filter")
    }
    assert(SnapshotTable.readStats(dir, v).map(r => r.file -> r.rowCount).toMap ===
      perFile.map { case (f, rows) => f -> rows.length.toLong })
  }

  test("unicode string bounds order by unsigned bytes, like UTF8String") {
    import spark.implicits._
    // multi-byte UTF-8 above ASCII: unsigned byte order must pick the
    // same bounds the Spark aggregate does
    val vals = Seq("zebra", "éclair", "中文", "Apple", "😀emoji")
    parity(vals.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("k", "s").coalesce(1), Seq("s"))
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
      SnapshotTable.pruneFilesBloom(dir, v, "k", Seq(5L))
    assert(files.nonEmpty && total >= files.size)
  }
}
