package graft

import java.nio.file.{Files, Paths}

import graft.queries.Registry

/** Registry queries over handmade or partial data dirs: inputs the
  * harness tables never produce.
  */
class RelationalSpec extends SparkSpec {
  import spark.implicits._

  test("olap_grouping_sets reads only customer: a dir holding just customer.parquet") {
    val dir = Files.createTempDirectory("graft_custonly")
    Files.copy(Paths.get("/root/testdata/sf0.001/customer.parquet"),
      dir.resolve("customer.parquet"))
    val got = Registry.queries("olap_grouping_sets")(spark, dir.toString).collect()
    val want = Registry.queries("olap_grouping_sets")(spark,
      "/root/testdata/sf0.001").collect()
    assert(got.nonEmpty && got.toSeq == want.toSeq)
  }

  test("q09_profit_by_nation rounds an exact half-cent tie half-away") {
    // amounts 11.1 + 17.435 sum to exactly 28.535, but the double sum
    // is 28.534999999999997 (either order) — round(sum(double), 2)
    // answers 28.53, DuckDB's round answers 28.54
    val dir = Files.createTempDirectory("graft_q09tie").toString
    def put(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.write.parquet(s"$dir/$name.parquet")
    put("part", Seq((1L, "steel bolt", 0.0)).toDF("p_partkey", "p_name", "p_retailprice"))
    put("supplier", Seq((1L, 1L)).toDF("s_suppkey", "s_nationkey"))
    put("nation", Seq((1L, "ALGERIA")).toDF("n_nationkey", "n_name"))
    put("orders", Seq((1L, java.sql.Timestamp.valueOf("1995-06-01 00:00:00")))
      .toDF("o_orderkey", "o_orderdate"))
    // zero discount and zero retail price: each row's amount is exactly
    // its l_extendedprice
    put("lineitem", Seq((1L, 1L, 1L, 1.0, 11.1, 0.0), (1L, 1L, 1L, 1.0, 17.435, 0.0))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount"))
    val rows = Registry.queries("q09_profit_by_nation")(spark, dir)
      .as[(String, Int, Double)].collect().toSeq
    assert(rows == Seq(("ALGERIA", 1995, 28.54)))
  }
}
