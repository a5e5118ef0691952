package graft.ops

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.XlsxSource

/** Source composition — SURVEY.md §2.1 (S1-S4) and §2.13 (per-source
  * failure isolation): every ingestion point mints an explicit line
  * number (SURVEY §2.10's order discipline — Spark relations are
  * orderless, pandas' implicit index must become a column), and a failing
  * source degrades to an empty frame instead of killing the pipeline.
  */
object Ingest {

  /** §2.13: the reference returns an empty DataFrame when one sheet/PDF
    * fails and continues (dask-with-dataframe.py:58-60,
    * dask-with-dataframe-[2].py:144-146). Same contract: evaluate the
    * source thunk, fall back to an empty frame with the declared schema.
    */
  def readOrEmpty(spark: SparkSession, schema: StructType)
      (source: => DataFrame): DataFrame =
    Try(source).getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))

  /** S4: text file as (line_no, line) rows, numbered in file order
    * (read.text preserves in-file order across splits). One lightweight
    * count job — no global window, no single-task funnel — and the plan
    * stays in Catalyst/Tungsten end to end (no `rdd.zipWithIndex`
    * bridge, which would re-enter the plan as `Scan ExistingRDD` and
    * break whole-stage codegen for every downstream operator).
    */
  def textWithLineNo(spark: SparkSession, path: String): DataFrame =
    numberInScanOrder(
      spark.read.text(path).withColumnRenamed("value", "line"), "line_no")
      .select(col("line_no"), col("line"))

  /** S1: Excel worksheet with a header row (pandas `header=n`). */
  def excel(spark: SparkSession, path: String, sheet: String,
      headerRow: Int): DataFrame =
    XlsxSource.toDataFrame(spark, path, sheet, Some(headerRow))

  /** S2: headerless key-value worksheet (pandas `header=None`) —
    * positional `_c0.._cN` columns.
    */
  def excelRaw(spark: SparkSession, path: String, sheet: String): DataFrame =
    XlsxSource.toDataFrame(spark, path, sheet, None)

  /** Add a 0-based line_no to an in-memory-ordered frame (driver-parsed
    * sources like xlsx, where row order is the file's row order). Same
    * Tungsten-resident numbering as [[textWithLineNo]] — no RDD bridge.
    */
  def withLineNo(df: DataFrame): DataFrame = numberInScanOrder(df, "line_no")

  /** 0-based sequential id in the frame's scan order, without leaving
    * Tungsten: `monotonically_increasing_id()` encodes
    * `pid << 33 | offset`, per-partition counts (a ≤P-row collect — the
    * same lightweight count job `zipWithIndex` runs) become a
    * cumulative-offset LITERAL map, and the numbering is then one
    * codegen'd projection over the same scan. Sound for deterministic
    * in-order sources (file scans, local relations): the count pass and
    * the numbering pass replan to identical partitioning — this is the
    * pattern proven at scale in [[Ids.withScalableGlobalIdManaged]], minus the
    * persist (no range re-sampling here, the scan order is the source's).
    */
  private def numberInScanOrder(df: DataFrame, idCol: String): DataFrame = {
    val PidShift = 33
    val OffsetMask = (1L << PidShift) - 1
    val mid = df.withColumn("__graft_mid", monotonically_increasing_id())
    val counts = mid
      .groupBy(shiftright(col("__graft_mid"), PidShift).as("__graft_pid"))
      .agg(count(lit(1)).as("__graft_cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sorted = counts.sortBy(_._1)
    val offsets: Map[Long, Long] = sorted.map(_._1)
      .zip(sorted.scanLeft(0L)(_ + _._2)).toMap
    mid
      .withColumn(idCol,
        element_at(typedlit(offsets), shiftright(col("__graft_mid"), PidShift))
          + col("__graft_mid").bitwiseAND(OffsetMask))
      .drop("__graft_mid")
  }
}
