package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Tables

/** OLAP aggregation shapes beyond plain GROUP BY: rollup (subtotals +
  * grand total), cube, and a SQL-surface query run through temp views —
  * proving the engine is reachable via `spark.sql` as well as the
  * DataFrame API.
  */
object Olap {

  /** Per session, the data dir each registered temp view was loaded
    * from. Weak keys: the guard must not keep a closed SparkSession
    * alive.
    */
  private val registeredDirs =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession,
        scala.collection.mutable.Map[String, String]]())

  /** Register the harness tables a SQL-surface query reads as temp
    * views — only those, so a query needs only its own tables on disk.
    *
    * Idempotent per (session, table, dir): each registration costs a
    * parquet schema read, so repeat calls from query bodies (bench times
    * them) must be free. A dir change re-registers —
    * `createOrReplaceTempView` swaps the view in place. A view is marked
    * registered only AFTER it registered, so a failure (a missing
    * parquet) or a racing first caller retries instead of skipping.
    */
  def registerTables(s: SparkSession, dir: String, tables: String*): Unit =
    registeredDirs.synchronized {
      val done = registeredDirs.computeIfAbsent(s,
        _ => scala.collection.mutable.Map.empty)
      tables.filterNot(t => done.get(t).contains(dir)).foreach { t =>
        Tables.load(s, dir, t).createOrReplaceTempView(t)
        done(t) = dir
      }
    }

  /** ROLLUP over (priority, status): per-pair, per-priority subtotal, and
    * grand total in one pass — Spark expands grouping sets in a single
    * Expand + aggregate (no N scans).
    */
  private def rollupOrders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .rollup($"o_orderpriority", $"o_orderstatus")
      .agg(
        count(lit(1)).as("n"),
        round(sum($"o_totalprice"), 2).as("total"),
        grouping_id().as("gid"))
      .orderBy($"gid", $"o_orderpriority", $"o_orderstatus")
  }

  private val rollupOracle =
    """SELECT o_orderpriority, o_orderstatus,
      |  count(*) AS n,
      |  round(sum(o_totalprice), 2) AS total,
      |  CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus) AS BIGINT) AS gid
      |FROM orders
      |GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
      |ORDER BY gid, o_orderpriority, o_orderstatus""".stripMargin

  /** The same engine addressed through SQL: a join + agg written as a
    * query string over registered views. Exercises the spark.sql surface
    * end-to-end (parser → analyzer → same physical planning).
    */
  private def sqlSurface(s: SparkSession, dir: String): DataFrame = {
    registerTables(s, dir, "customer", "nation")
    s.sql("""
      SELECT n_name, count(*) AS n_cust, round(sum(c_acctbal), 2) AS total_bal
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name
      ORDER BY n_name""")
  }

  private val sqlSurfaceOracle =
    """SELECT n_name, count(*) AS n_cust, round(sum(c_acctbal), 2) AS total_bal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  /** CUBE over (priority, status): all 4 grouping sets in one Expand +
    * aggregate pass — same single-scan property as rollup.
    */
  private def cubeOrders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .cube($"o_orderpriority", $"o_orderstatus")
      .agg(
        count(lit(1)).as("n"),
        round(sum($"o_totalprice"), 2).as("total"),
        grouping_id().as("gid"))
      .orderBy($"gid", $"o_orderpriority", $"o_orderstatus")
  }

  private val cubeOracle =
    """SELECT o_orderpriority, o_orderstatus,
      |  count(*) AS n,
      |  round(sum(o_totalprice), 2) AS total,
      |  CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus) AS BIGINT) AS gid
      |FROM orders
      |GROUP BY CUBE(o_orderpriority, o_orderstatus)
      |ORDER BY gid, o_orderpriority, o_orderstatus""".stripMargin

  /** Explicit GROUPING SETS — two independent breakdowns (by segment, by
    * nation) in one scan, addressed through the SQL surface (the
    * DataFrame API spells this rollup/cube only).
    */
  private def groupingSets(s: SparkSession, dir: String): DataFrame = {
    registerTables(s, dir, "customer")
    s.sql("""
      SELECT c_mktsegment, c_nationkey,
        count(*) AS n, round(sum(c_acctbal), 2) AS total_bal,
        grouping_id() AS gid
      FROM customer
      GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey))
      ORDER BY gid, c_mktsegment, c_nationkey""")
  }

  private val groupingSetsOracle =
    """SELECT c_mktsegment, c_nationkey,
      |  count(*) AS n, round(sum(c_acctbal), 2) AS total_bal,
      |  CAST(grouping(c_mktsegment) * 2 + grouping(c_nationkey) AS BIGINT) AS gid
      |FROM customer
      |GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey))
      |ORDER BY gid, c_mktsegment, c_nationkey""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("olap_rollup_orders", rollupOrders, Some(rollupOracle)),
    Q("olap_cube_orders", cubeOrders, Some(cubeOracle)),
    Q("olap_grouping_sets", groupingSets, Some(groupingSetsOracle)),
    Q("sql_surface_join", sqlSurface, Some(sqlSurfaceOracle)))
}
