package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequential surrogate-ID minting — the reference's O3/O4
  * (`df['ID'] = range(1, len(df)+1)`, project-dask.py:46-48,
  * dask-with-dataframe.py:84-87). pandas gets row order for free from its
  * index; Spark relations are orderless, so every variant here takes an
  * EXPLICIT ordering.
  */
object Ids {

  /** 1-based contiguous ID over the given total order, via a global
    * `row_number()` window. Exactly matches pandas semantics. In a
    * session carrying [[graft.plans.GraftExtensions]] (every
    * [[graft.Session]]) the window plans as the distributed
    * [[graft.plans.GlobalSeqIdExec]], not a single-task funnel; its ids
    * are IntegerType, so past 2^31 rows use
    * [[withScalableGlobalIdManaged]].
    */
  def withGlobalId(df: DataFrame, idCol: String, order: Seq[Column]): DataFrame =
    df.withColumn(idCol, row_number().over(Window.orderBy(order: _*)))

  /** Same ordering contract as [[withGlobalId]], but IDs are LongType —
    * the point is >2^31 rows: range-partition by the ordering
    * so partitions are globally ordered, then number rows as
    * (earlier partitions' row count) + (offset within the partition) —
    * no single-task funnel, no extra shuffle beyond the range exchange,
    * and (unlike an `rdd.zipWithIndex` bridge) the numbering plan stays
    * in Catalyst/Tungsten: the caller's action reads a columnar
    * `InMemoryTableScan` + one codegen'd projection (IdsSpec asserts no
    * `Scan ExistingRDD` in the plan).
    *
    * `monotonically_increasing_id()` encodes `pid << 33 | offset`, so one
    * codegen'd column yields both the partition id and the row's 0-based
    * position in the partition's sorted order. Per-partition counts are
    * a ≤P-row aggregate collected to the driver (the same lightweight
    * count job `zipWithIndex` runs) and turned into a cumulative-offset
    * LITERAL map — the numbering is then a pure per-row expression, no
    * join, no window.
    *
    * Why the `DISK_ONLY` persist is load-bearing, not a cache hint: the
    * counting pass and the numbering pass must see the SAME range
    * boundaries, and independent executions of `repartitionByRange`
    * re-sample them (the sample seed derives from the RDD id). Pinning
    * the partitioned frame makes both passes read one materialization —
    * exactly the role zipWithIndex's retained shuffle files played, at
    * the same disk cost. A lost block recomputes through the SAME
    * exchange instance (bounds are sampled once at planning), so IDs
    * cannot drift even under executor failure.
    *
    * Cache lifecycle: the second element of the result unpersists the
    * pinned range-partitioned frame (unpersisting the RETURNED frame
    * would not reach it: the returned plan is derived, not
    * sameResult-equal to the cached one). Call it only AFTER the final
    * action over the returned frame — releasing earlier would let a
    * re-execution re-sample the range bounds the collected offsets were
    * computed from.
    */
  def withScalableGlobalIdManaged(df: DataFrame, idCol: String,
      order: Seq[Column]): (DataFrame, () => Unit) = {
    // MonotonicallyIncreasingID's layout: top 31 bits partition id,
    // low 33 bits the row's position within the partition
    val PidShift = 33
    val OffsetMask = (1L << PidShift) - 1
    val base = df.repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__graft_mid", monotonically_increasing_id())
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val counts: Array[(Long, Long)] = base
      .groupBy(shiftright(col("__graft_mid"), PidShift).as("__graft_pid"))
      .agg(count(lit(1)).as("__graft_cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sortedCounts = counts.sortBy(_._1)
    val offsets: Map[Long, Long] = sortedCounts.map(_._1)
      .zip(sortedCounts.scanLeft(0L)(_ + _._2)).toMap
    val numbered = base
      .withColumn(idCol,
        element_at(typedlit(offsets), shiftright(col("__graft_mid"), PidShift))
          + col("__graft_mid").bitwiseAND(OffsetMask) + lit(1L))
      .drop("__graft_mid")
    (numbered, () => { base.unpersist(); () })
  }
}
