package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.GlobalSeqId

/** The §7.5(a) rewrite: global row_number() → two-pass range plan.
  * The shared test session is a [[graft.Session]], which carries
  * GraftExtensions, so every plan here goes through the rule.
  */
class GlobalSeqIdSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def numbered = {
    import org.apache.spark.sql.{functions => F}
    spark.read.parquet(s"$dir/orders.parquet")
      .select(F.col("o_orderkey"), F.col("o_totalprice"))
      .withColumn("row_id",
        row_number().over(Window.orderBy(F.col("o_orderkey"))))
  }

  test("rewrite replaces the single-task window with a range two-pass plan") {
    val df = numbered
    val plan = df.queryExecution.executedPlan.toString
    // SparkPlan.nodeName strips the Exec suffix in plan strings
    assert(plan.contains("GlobalSeqId"), s"rewrite did not fire:\n$plan")
    assert(!plan.contains("Window"), s"window funnel survived:\n$plan")
    assert(plan.contains("rangepartitioning"),
      s"child not range-distributed:\n$plan")
  }

  test("ids are exactly row_number's: 1-based, contiguous, order-aligned") {
    import spark.implicits._
    val got = numbered.orderBy($"row_id")
      .as[(Long, Double, Int)].collect().toSeq
    assert(got.nonEmpty)
    assert(got.map(_._3) == (1 to got.size))
    // order alignment: ids ascend with the ordering key
    assert(got.map(_._1) == got.map(_._1).sorted)
    // schema fidelity: row_number is IntegerType, non-null
    val f = numbered.schema("row_id")
    assert(f.dataType.typeName == "integer")
  }

  test("partitioned windows and other window functions are left alone") {
    import org.apache.spark.sql.{functions => F}
    val byCust = spark.read.parquet(s"$dir/orders.parquet")
      .withColumn("rn", row_number().over(
        Window.partitionBy(F.col("o_custkey")).orderBy(F.col("o_orderkey"))))
    assert(byCust.queryExecution.executedPlan.toString.contains("Window"))
    val ranked = spark.read.parquet(s"$dir/orders.parquet")
      .withColumn("rk", rank().over(Window.orderBy(F.col("o_orderkey"))))
    assert(ranked.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("a global window the rule can't rewrite is counted (and warned)") {
    import org.apache.spark.sql.{functions => F}
    val before = GlobalSeqId.unrewrittenGlobalWindows
    // rank() over a global order: still a single-task funnel, out of
    // the rewrite's scope — the rule must surface it, not plan silently
    spark.read.parquet(s"$dir/orders.parquet")
      .withColumn("rk", rank().over(Window.orderBy(F.col("o_orderkey"))))
      .queryExecution.executedPlan
    // once per window, not once per optimizer pass
    val counted = GlobalSeqId.unrewrittenGlobalWindows - before
    assert(counted == 1, s"near-miss global window counted $counted times, not once")
  }
}
