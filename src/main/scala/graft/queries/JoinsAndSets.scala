package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Tables

/** Breadth beyond round 1: set operations (INTERSECT/EXCEPT — absent
  * from the reference, SURVEY.md §2.7, declared here for a complete SQL
  * surface), semi-join (EXISTS shape), scan-heavy single-row aggregate
  * (TPC-H Q6 shape), aggregate-based argmin (Q2's min-per-group shape
  * without a partsupp table), and a banded range join (the interval-join
  * pattern Spark lacks natively, composed as an equi-join on time bins).
  */
object JoinsAndSets {

  /** INTERSECT (distinct set semantics): nations present among both
    * AUTOMOBILE and BUILDING customers. Spark plans a left-semi
    * aggregate — one shuffle per side on the (tiny) key.
    */
  private def nationsIntersect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, dir)
    cust.filter($"c_mktsegment" === "AUTOMOBILE").select($"c_nationkey")
      .intersect(cust.filter($"c_mktsegment" === "BUILDING").select($"c_nationkey"))
      .orderBy($"c_nationkey")
  }

  private val nationsIntersectOracle =
    """SELECT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
      |INTERSECT
      |SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |ORDER BY c_nationkey""".stripMargin

  /** EXCEPT (distinct set semantics): customers who ordered but never
    * urgently. Same plan family as intersect (left-anti aggregate).
    */
  private def custkeysExcept(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ord = Tables.orders(s, dir)
    ord.select($"o_custkey")
      .except(ord.filter($"o_orderpriority" === "1-URGENT").select($"o_custkey"))
      .orderBy($"o_custkey")
  }

  private val custkeysExceptOracle =
    """SELECT o_custkey FROM orders
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |ORDER BY o_custkey""".stripMargin

  /** TPC-H Q4 shape: EXISTS as a LEFT SEMI join with a mixed equi +
    * non-equi condition — orders (in a window) having at least one line
    * shipped >60 days after the order date, counted per priority. The
    * semi join shuffles once on orderkey and short-circuits per match
    * (no fact×fact row blow-up).
    */
  private def q04LateShipments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ord = Tables.orders(s, dir)
      .filter($"o_orderdate" >= lit("1996-01-01") && $"o_orderdate" < lit("1996-07-01"))
    val li = Tables.lineitem(s, dir).select($"l_orderkey", $"l_shipdate")
    ord.join(li,
        $"o_orderkey" === $"l_orderkey"
          && $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAY"), "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_late_orders"))
      .orderBy($"o_orderpriority")
  }

  private val q04Oracle =
    """SELECT o_orderpriority, count(*) AS n_late_orders
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey
      |      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q6 shape: the pure scan-bound query — every predicate and the
    * two aggregated columns push into the parquet reader; no join, no
    * wide shuffle, one output row.
    */
  private def q06DiscountRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= lit("1996-01-01") && $"l_shipdate" < lit("1997-01-01")
        && $"l_discount" >= 0.05 && $"l_discount" <= 0.07 && $"l_quantity" < 24)
      .agg(round(sum($"l_extendedprice" * $"l_discount"), 2).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  private val q06Oracle =
    """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
      |  count(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  /** Aggregate-based argmin (TPC-H Q2's min-per-group shape): each
    * customer's cheapest order via `min(struct(price, key))` — a plain
    * hash aggregate with map-side partials and a total tie order, no
    * per-partition window sort. The struct's field order IS the
    * comparison order, so ties break toward the lower orderkey,
    * matching the oracle's row_number sort.
    */
  private def cheapestOrderPerCust(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .groupBy($"o_custkey")
      .agg(min(struct($"o_totalprice", $"o_orderkey")).as("m"))
      .select($"o_custkey", $"m.o_orderkey".as("cheapest_order"),
        $"m.o_totalprice".as("cheapest_price"))
      .orderBy($"o_custkey")
  }

  private val cheapestOracle =
    """SELECT o_custkey, o_orderkey AS cheapest_order, o_totalprice AS cheapest_price
      |FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn = 1
      |ORDER BY o_custkey""".stripMargin

  private val RangeHours = 36L
  private val BinUs = RangeHours * 3600L * 1000000L // bin width = range width

  /** Banded range join: events of a customer within 36 h after each of
    * their orders. Spark has no native interval join (a raw `BETWEEN`
    * condition plans a nested-loop or a 1-key shuffle); binning the time
    * axis at the interval width turns it into an EQUI-join — each order
    * lands in ≤2 bins (exploded), each event in exactly 1, the exact
    * range predicate rides on the joined row. Shuffles on (user, bin):
    * high-cardinality, skew-free, linear at any scale.
    */
  private def rangeJoinEventsOrders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id", $"ts", $"value",
        expr(s"unix_micros(ts) div ${BinUs}L").as("bin"))
    val ord = Tables.orders(s, dir)
      // o_orderdate is TIMESTAMP_NTZ; the UTC session timezone makes the
      // cast to TIMESTAMP an identity, so epoch math agrees with DuckDB
      .select($"o_orderkey", $"o_custkey",
        unix_micros($"o_orderdate".cast("timestamp")).as("start_us"))
      .withColumn("obin", explode(array_distinct(array(
        expr(s"start_us div ${BinUs}L"),
        expr(s"(start_us + ${BinUs - 1}L) div ${BinUs}L")))))
    ord.join(ev,
        $"o_custkey" === $"user_id" && $"obin" === $"bin"
          && unix_micros($"ts") >= $"start_us"
          && unix_micros($"ts") < $"start_us" + lit(BinUs))
      .groupBy($"o_orderkey")
      .agg(count(lit(1)).as("n_events"),
        round(sum($"value"), 4).as("sum_value"))
      .orderBy($"o_orderkey")
  }

  private val rangeJoinOracle =
    s"""SELECT o_orderkey, count(*) AS n_events,
       |  round(sum(e.value), 4) AS sum_value
       |FROM orders o JOIN events e
       |  ON e.user_id = o.o_custkey
       |  AND e.ts >= o.o_orderdate
       |  AND e.ts < o.o_orderdate + INTERVAL $RangeHours HOUR
       |GROUP BY o_orderkey
       |ORDER BY o_orderkey""".stripMargin

  /** The 100 TB global-ID path through the oracle gate: two-pass
    * zipWithIndex IDs (range partition → per-partition number + offset,
    * no single-task window funnel — see Ids.withScalableGlobalIdManaged) must
    * produce EXACTLY the permutation a global row_number defines. The
    * per-priority (count, min, max, sum) signature over the IDs pins
    * every position without shipping 150k raw rows through Verify.
    */
  private def idsScalableOrders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (withId, release) = graft.ops.Ids.withScalableGlobalIdManaged(
      Tables.orders(s, dir).select($"o_orderkey", $"o_orderpriority"),
      "rid", Seq($"o_orderkey"))
    val agg = withId.groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), min($"rid").as("min_id"),
        max($"rid").as("max_id"), sum($"rid").as("sum_id"))
      .orderBy($"o_orderpriority")
    // materialize the per-priority signature (≤5 rows) while the pinned
    // partitioning is still alive, then release it — the DISK_ONLY entry
    // lives exactly as long as this query, not until session end
    val rows = agg.collect().toIndexedSeq
    release()
    import scala.jdk.CollectionConverters._
    s.createDataFrame(rows.asJava, agg.schema)
  }

  private val idsScalableOracle =
    """SELECT o_orderpriority, count(*) AS n,
      |  min(rid) AS min_id, max(rid) AS max_id,
      |  CAST(sum(rid) AS BIGINT) AS sum_id
      |FROM (
      |  SELECT o_orderpriority,
      |    CAST(row_number() OVER (ORDER BY o_orderkey) AS BIGINT) AS rid
      |  FROM orders)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** The §7.5(a) OPTIMIZER-RULE twin of ids_scalable_orders: the query
    * writes the naive global `row_number()` window — the single-task
    * funnel — and [[graft.plans.GlobalSeqId]]'s rule, installed on every
    * graft session by GraftExtensions, rewrites it into the two-pass
    * range plan underneath (GlobalSeqIdSpec pins the plan shape; this
    * gate pins the VALUES, and requires the rewrite planned, so a
    * session without the extensions fails loudly instead of answering
    * through the funnel). Same per-priority signature as the
    * managed-API variant, same oracle semantics, and the rewrite must
    * be bit-faithful to row_number (IntegerType ids).
    */
  private def idsRuleOrders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val df = Tables.orders(s, dir).select($"o_orderkey", $"o_orderpriority")
      .withColumn("rid", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"o_orderkey")))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), min($"rid").as("min_id"),
        max($"rid").as("max_id"), sum($"rid".cast("long")).as("sum_id"))
      .orderBy($"o_orderpriority")
    require(df.queryExecution.sparkPlan.collectFirst {
      case e: graft.plans.GlobalSeqIdExec => e }.nonEmpty,
      "the global row_number did not plan GlobalSeqIdExec — the session " +
        "lacks GraftExtensions")
    df
  }

  private val idsRuleOracle =
    """SELECT o_orderpriority, count(*) AS n,
      |  min(rid) AS min_id, max(rid) AS max_id,
      |  CAST(sum(rid) AS BIGINT) AS sum_id
      |FROM (
      |  SELECT o_orderpriority,
      |    CAST(row_number() OVER (ORDER BY o_orderkey) AS INTEGER) AS rid
      |  FROM orders)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q14 shape: conditional-aggregate ratio — promo-type revenue
    * share in one month. part is the broadcast dim against the filtered
    * fact; the CASE rides map-side, one scalar output row.
    */
  private def q14PromoRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= lit("1996-03-01") && $"l_shipdate" < lit("1996-04-01"))
    val rev = $"l_extendedprice" * (lit(1.0) - $"l_discount")
    li.join(broadcast(Tables.part(s, dir)), $"l_partkey" === $"p_partkey")
      .agg(round(
        lit(100.0) * sum(when($"p_type" === "PROMO", rev).otherwise(0.0)) / sum(rev),
        4).as("promo_pct"))
  }

  private val q14Oracle =
    """SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
      |    THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END)
      |  / sum(l_extendedprice * (1.0 - l_discount)), 4) AS promo_pct
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""".stripMargin

  /** TPC-H Q18 shape: HAVING over a fact aggregate, joined back to the
    * dimension — customers whose single order carries > 300 units. The
    * qualifying-orderkey set is produced by one partial-aggregated
    * shuffle on the fact, then semi-joins the detail rows; nothing
    * materializes the full fact×fact product.
    */
  private def q18LargeOrders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val big = li.groupBy($"l_orderkey")
      .agg(round(sum($"l_quantity"), 2).as("total_qty"))
      .filter($"total_qty" > 300)
    big.join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.customer(s, dir)), $"o_custkey" === $"c_custkey")
      .select($"c_custkey", $"c_name", $"o_orderkey", $"o_orderdate",
        $"o_totalprice", $"total_qty")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(100)
  }

  private val q18Oracle =
    """SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
      |FROM (
      |  SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
      |  FROM lineitem GROUP BY l_orderkey HAVING round(sum(l_quantity), 2) > 300) b
      |JOIN orders ON b.l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 100""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("ids_scalable_orders", idsScalableOrders, Some(idsScalableOracle)),
    Q("ids_rule_orders", idsRuleOrders, Some(idsRuleOracle)),
    Q("q14_promo_revenue", q14PromoRevenue, Some(q14Oracle)),
    Q("q18_large_orders", q18LargeOrders, Some(q18Oracle)),
    Q("nations_intersect", nationsIntersect, Some(nationsIntersectOracle)),
    Q("custkeys_except", custkeysExcept, Some(custkeysExceptOracle)),
    Q("q04_late_shipments", q04LateShipments, Some(q04Oracle)),
    Q("q06_discount_revenue", q06DiscountRevenue, Some(q06Oracle)),
    Q("cheapest_order_per_cust", cheapestOrderPerCust, Some(cheapestOracle)),
    Q("range_join_events_orders", rangeJoinEventsOrders, Some(rangeJoinOracle)))
}
