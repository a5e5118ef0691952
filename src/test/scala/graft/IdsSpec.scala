package graft

import org.apache.spark.sql.functions._
import graft.ops.Ids

class IdsSpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq(
    (2, 30, "c"), (1, 10, "a"), (1, 20, "b"), (3, 5, "d"), (2, 1, "e"))
    .toDF("src_rank", "line_no", "v")

  test("withGlobalId: 1-based contiguous, ordered by (src_rank, line_no)") {
    val got = Ids.withGlobalId(df, "id", Seq($"src_rank", $"line_no"))
      .orderBy($"id").select($"v").as[String].collect().toSeq
    assert(got == Seq("a", "b", "e", "c", "d"))
    val ids = Ids.withGlobalId(df, "id", Seq($"src_rank", $"line_no"))
      .select($"id").as[Int].collect().sorted.toSeq
    assert(ids == (1 to 5))
  }

  test("withScalableGlobalId matches withGlobalId (long vs int widths)") {
    val a = Ids.withGlobalId(df, "id", Seq($"src_rank", $"line_no"))
      .select($"v", $"id".cast("long"))
    val (b, release) =
      Ids.withScalableGlobalIdManaged(df, "id", Seq($"src_rank", $"line_no"))
    assert(a.collect().toSet == b.select($"v", $"id").collect().toSet)
    release()
  }

  test("withScalableGlobalId on a larger shuffled input") {
    val big = spark.range(1000).toDF("line_no")
      .withColumn("src_rank", lit(1))
      .repartition(7)
    val (ids, release) =
      Ids.withScalableGlobalIdManaged(big, "id", Seq($"src_rank", $"line_no"))
    val rows = ids.select($"line_no", $"id").as[(Long, Long)].collect().sortBy(_._1)
    release()
    assert(rows.map(_._2).toSeq == (1L to 1000L))
  }

  test("withScalableGlobalId stays in Catalyst: columnar cached scan, no RDD bridge") {
    // wide schema on purpose: column pruning must not be able to split
    // the counting and numbering passes onto different exchanges
    val wide = spark.range(1000).toDF("line_no")
      .withColumn("src_rank", lit(1))
      .withColumn("a", concat(lit("x"), $"line_no"))
      .withColumn("b", $"line_no" * 2)
      .repartition(7)
    val (ids, release) =
      Ids.withScalableGlobalIdManaged(wide, "id", Seq($"src_rank", $"line_no"))
    val rows = ids.select($"line_no", $"id").as[(Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._2).toSeq == (1L to 1000L))
    val plan = ids.queryExecution.executedPlan.toString
    assert(!plan.contains("Scan ExistingRDD"),
      s"plan fell out of Catalyst into an RDD bridge:\n$plan")
    // the numbering pass must read the pinned partitioned frame (one
    // materialization shared with the count pass — range boundaries
    // cannot drift between them) and add IDs as a pure projection: no
    // join, no window, no further exchange
    assert(plan.contains("InMemoryTableScan"),
      s"numbering pass does not read the pinned frame:\n$plan")
    // only the part ABOVE the cached scan is the numbering pass (the
    // InMemoryRelation string embeds its own build plan, range exchange
    // included — that one is shared with the count pass by design)
    val numbering = plan.substring(0, plan.indexOf("InMemoryTableScan"))
    assert(!numbering.contains("Exchange") && !numbering.contains("Window") &&
      !numbering.contains("Join"),
      s"numbering pass should be a pure projection over the cached scan:\n$plan")
    release()
  }

  test("orders_price_deciles: closed-form buckets == the window ntile plan") {
    // the scalable path (range-partitioned global ids + arithmetic
    // bucket assignment) must be VALUE-identical to the ntile window it
    // replaces — same totals, same bucket boundaries, on real data
    import org.apache.spark.sql.expressions.Window
    val dir = "/root/testdata/sf0.001"
    val got = graft.queries.Registry.queries("orders_price_deciles")(spark, dir)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq.sorted
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice", $"o_orderkey")
    val want = graft.ops.Tables.orders(spark, dir)
      .select($"o_orderpriority", $"o_orderkey", $"o_totalprice")
      .withColumn("decile", ntile(10).over(w))
      .groupBy($"o_orderpriority", $"decile")
      .agg(count(lit(1)).as("n"),
        min($"o_totalprice").as("min_price"),
        max($"o_totalprice").as("max_price"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq.sorted
    assert(got == want)
  }
}
