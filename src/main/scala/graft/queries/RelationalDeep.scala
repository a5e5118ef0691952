package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Exact, Tables}

/** Second TPC-H breadth batch: the multi-dimension join shapes (Q7/Q8/Q9),
  * the outer-join distribution (Q13), the having/scalar-max shapes
  * (Q15/Q17/Q20). The harness schema has no partsupp table and no
  * l_commitdate/l_receiptdate, so Q9 and Q20 are adapted to the columns
  * that exist (adaptations documented per query); the join/agg structure —
  * what these queries exercise — is unchanged.
  *
  * Scale discipline: dimension sides (nation, region, part subsets,
  * supplier) are broadcast; the only shuffles are fact-side groupBys on
  * high-cardinality keys. Double thresholds that could flip a boundary
  * row between engines are avoided: quantity sums are exact integers in
  * double, so `sum/count`-derived thresholds are bit-identical in every
  * engine (same IEEE ops on the same exact sums).
  */
object RelationalDeep {

  /** TPC-H Q7 shape: bilateral trade volume between two nations by ship
    * year. Both nation joins broadcast; the orders⋈lineitem join is the
    * only fact shuffle. The (n1,n2) pair disjunction rides on the joined
    * row — 2 of 625 pairs survive.
    */
  private def q07NationVolume(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n1 = Tables.nation(s, dir).select($"n_nationkey".as("s_nkey"), $"n_name".as("supp_nation"))
    val n2 = Tables.nation(s, dir).select($"n_nationkey".as("c_nkey"), $"n_name".as("cust_nation"))
    Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= lit("1996-01-01") && $"l_shipdate" <= lit("1997-12-31"))
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.supplier(s, dir)), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(Tables.customer(s, dir)), $"o_custkey" === $"c_custkey")
      .join(broadcast(n1), $"s_nationkey" === $"s_nkey")
      .join(broadcast(n2), $"c_nationkey" === $"c_nkey")
      .filter(($"supp_nation" === "NATION_1" && $"cust_nation" === "NATION_2") ||
              ($"supp_nation" === "NATION_2" && $"cust_nation" === "NATION_1"))
      .groupBy($"supp_nation", $"cust_nation", year($"l_shipdate").as("l_year"))
      .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("revenue"))
      .orderBy($"supp_nation", $"cust_nation", $"l_year")
  }

  private val q07Oracle =
    """SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |         year(l_shipdate) AS l_year,
      |         l_extendedprice * (1.0 - l_discount) AS volume
      |  FROM supplier, lineitem, orders, customer, nation n1, nation n2
      |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
      |    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
      |    AND c_nationkey = n2.n_nationkey
      |    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate <= TIMESTAMP '1997-12-31 00:00:00'
      |) shipping
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** TPC-H Q8 shape: one nation's share of PROMO-part revenue sold into
    * ASIA, by order year — a conditional-aggregate ratio over an 8-table
    * join. Every dimension broadcasts; the share division happens after
    * the (tiny) final groupBy.
    */
  private def q08MarketShare(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n1 = Tables.nation(s, dir).select($"n_nationkey".as("c_nkey"), $"n_regionkey")
    val n2 = Tables.nation(s, dir).select($"n_nationkey".as("s_nkey"), $"n_name".as("supp_nation"))
    val asia = Tables.region(s, dir).filter($"r_name" === "ASIA")
    val promo = Tables.part(s, dir).filter($"p_type" === "PROMO").select($"p_partkey")
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir)
          .filter($"o_orderdate" >= lit("1995-01-01") && $"o_orderdate" <= lit("1996-12-31")),
        $"l_orderkey" === $"o_orderkey")
      .join(broadcast(promo), $"l_partkey" === $"p_partkey")
      .join(broadcast(Tables.supplier(s, dir)), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(Tables.customer(s, dir)), $"o_custkey" === $"c_custkey")
      .join(broadcast(n1), $"c_nationkey" === $"c_nkey")
      .join(broadcast(asia), $"n_regionkey" === $"r_regionkey")
      .join(broadcast(n2), $"s_nationkey" === $"s_nkey")
      .withColumn("volume", $"l_extendedprice" * (lit(1.0) - $"l_discount"))
      .groupBy(year($"o_orderdate").as("o_year"))
      .agg(round(
        sum(when($"supp_nation" === "NATION_3", $"volume").otherwise(lit(0.0))) / sum($"volume"),
        4).as("mkt_share"))
      .orderBy($"o_year")
  }

  private val q08Oracle =
    """SELECT o_year,
      |  round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0.0 END) / sum(volume), 4) AS mkt_share
      |FROM (
      |  SELECT year(o_orderdate) AS o_year,
      |         l_extendedprice * (1.0 - l_discount) AS volume,
      |         n2.n_name AS nation
      |  FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
      |  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      |    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
      |    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
      |    AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
      |    AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |    AND o_orderdate <= TIMESTAMP '1996-12-31 00:00:00'
      |    AND p_type = 'PROMO'
      |) all_nations
      |GROUP BY o_year
      |ORDER BY o_year""".stripMargin

  /** TPC-H Q9 shape, adapted: profit per supplier nation per order year
    * over parts named like '%bolt%'. The reference Q9 prices cost from
    * partsupp.ps_supplycost, which this schema lacks — cost here is
    * 0.6 × p_retailprice × l_quantity (same join structure: part,
    * supplier, lineitem, orders, nation; same name-pattern filter; same
    * group-by). part⋈lineitem stays a broadcast of the filtered part
    * subset. The profit sum is exact: each row's amount (≤5 dp) is
    * quantized to micro-units, summed as integers and rounded half-away
    * to cents in integer arithmetic — a double sum lands on either side
    * of a half-cent tie depending on summation order, and the two
    * engines round such ties apart.
    */
  private def q09ProfitByNation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bolts = Tables.part(s, dir).filter($"p_name".contains("bolt"))
      .select($"p_partkey", $"p_retailprice")
    Tables.lineitem(s, dir)
      .join(broadcast(bolts), $"l_partkey" === $"p_partkey")
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.supplier(s, dir)), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
      .withColumn("amount_micro", Exact.micro(q09Amount))
      .groupBy($"n_name".as("nation"), year($"o_orderdate").as("o_year"))
      .agg(Exact.microSumTo2dp("sum(amount_micro)").as("sum_profit"))
      .orderBy($"nation", $"o_year".desc)
  }

  /** q09's per-row profit, as SQL text both engines evaluate. */
  private val q09Amount =
    "(l_extendedprice * (1.0 - l_discount) - 0.6 * p_retailprice * l_quantity)"

  private val q09Oracle =
    s"""SELECT nation, o_year,
      |  ${Exact.microSumTo2dpSql("CAST(sum(amount_micro) AS BIGINT)", Exact.DuckDiv)}
      |    AS sum_profit
      |FROM (
      |  SELECT n_name AS nation, year(o_orderdate) AS o_year,
      |         ${Exact.microSql(q09Amount)} AS amount_micro
      |  FROM part, supplier, lineitem, orders, nation
      |  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
      |    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
      |    AND p_name LIKE '%bolt%'
      |) profit
      |GROUP BY nation, o_year
      |ORDER BY nation, o_year DESC""".stripMargin

  /** TPC-H Q13 shape: distribution of per-customer order counts with a
    * join-predicate filter (non-urgent orders only) — order-less
    * customers land in the 0 bucket. The fact is aggregated to one row
    * per customer BEFORE the outer join (same result as joining raw
    * orders, since count ignores the join's null-extension), so the join
    * moves |customers| rows instead of |orders| — the form that matters
    * at 100× fact-to-dimension ratios.
    */
  private def q13OrderCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perCust = Tables.orders(s, dir)
      .filter($"o_orderpriority" =!= "1-URGENT")
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"))
    Tables.customer(s, dir).select($"c_custkey")
      .join(perCust, $"c_custkey" === $"o_custkey", "left_outer")
      .select(coalesce($"n_orders", lit(0L)).as("c_count"))
      .groupBy($"c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)
  }

  private val q13Oracle =
    """SELECT c_count, count(*) AS custdist
      |FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer
      |  LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey
      |) c_orders
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue.
    * The per-supplier revenue agg shuffles once on suppkey; the max is a
    * 1-row driver bridge (the A2 scalar pattern) so the final filter is a
    * pushed literal comparison, not a cross join. Revenues are rounded to
    * cents BEFORE the max/equality so both engines compare the same
    * quantized values.
    */
  private def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val revenue = Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= lit("1996-01-01") && $"l_shipdate" < lit("1996-04-01"))
      .groupBy($"l_suppkey")
      .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("total_revenue"))
    // max over an empty frame is NULL; NaN compares equal to nothing, so
    // the filter then yields the same empty result as the oracle
    val maxRow = revenue.agg(max($"total_revenue")).first()
    val maxRev = if (maxRow.isNullAt(0)) Double.NaN else maxRow.getDouble(0)
    revenue.filter($"total_revenue" === lit(maxRev))
      .join(broadcast(Tables.supplier(s, dir)), $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"total_revenue")
      .orderBy($"s_suppkey")
  }

  private val q15Oracle =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM supplier, revenue
      |WHERE s_suppkey = supplier_no
      |  AND total_revenue = (SELECT max(total_revenue) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  /** TPC-H Q17 shape: revenue from small-quantity orders of one brand —
    * a correlated per-part average. The per-part threshold is a window
    * avg over partitionBy(partkey) on the brand slice — one shuffle, one
    * fact pass, and no broadcast of a per-part aggregate (per-part
    * cardinality scales with |part|: the q02-class driver-OOM shape).
    * Filtering by part first selects whole parts, so the per-part
    * average is unchanged and the shuffle is proportional to the brand
    * slice, not the whole fact. Quantities are integer-valued, so
    * sum(l_quantity) is exact in double regardless of order and
    * `0.2 * sum/count` is bit-identical across engines — the `<`
    * boundary cannot flip.
    */
  private def q17SmallQuantity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val brandParts = Tables.part(s, dir).filter($"p_brand" === "Brand#1").select($"p_partkey")
    Tables.lineitem(s, dir)
      .join(broadcast(brandParts), $"l_partkey" === $"p_partkey")
      .withColumn("qty_threshold",
        lit(0.2) * avg($"l_quantity").over(Window.partitionBy($"p_partkey")))
      .filter($"l_quantity" < $"qty_threshold")
      .agg(round(sum($"l_extendedprice") / 7.0, 2).as("avg_yearly"))
  }

  private val q17Oracle =
    """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey AND p_brand = 'Brand#1'
      |  AND l_quantity < (
      |    SELECT 0.2 * avg(l_quantity) FROM lineitem l2
      |    WHERE l2.l_partkey = p_partkey)""".stripMargin

  /** TPC-H Q20 shape, adapted: suppliers who moved more than 400 units of
    * 'small%' parts in 1997 — a having-filtered semi-join chain. The
    * reference Q20 gates on partsupp.ps_availqty (absent here); the
    * shipped-quantity sum preserves the structure: part-name subquery →
    * grouped having → IN against supplier. The quantity sum is
    * integer-exact, so the >400 gate is deterministic.
    */
  private def q20ExcessShippers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val smallParts = Tables.part(s, dir).filter($"p_name".startsWith("small"))
      .select($"p_partkey")
    val qualified = Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= lit("1997-01-01") && $"l_shipdate" < lit("1998-01-01"))
      .join(broadcast(smallParts), $"l_partkey" === $"p_partkey")
      .groupBy($"l_suppkey")
      .agg(sum($"l_quantity").as("sum_qty"))
      .filter($"sum_qty" > 400)
      .select($"l_suppkey")
    // the post-having side groups by l_suppkey, whose cardinality scales
    // with |supplier| — no forced broadcast (that bets the driver on the
    // having-filter's selectivity); AQE sees the aggregate's runtime size
    // and broadcasts the semi-join side only when it actually fits
    Tables.supplier(s, dir)
      .join(qualified, $"s_suppkey" === $"l_suppkey", "left_semi")
      .select($"s_suppkey", $"s_name", $"s_nationkey")
      .orderBy($"s_suppkey")
  }

  private val q20Oracle =
    """SELECT s_suppkey, s_name, s_nationkey
      |FROM supplier
      |WHERE s_suppkey IN (
      |  SELECT l_suppkey
      |  FROM lineitem, part
      |  WHERE l_partkey = p_partkey AND p_name LIKE 'small%'
      |    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |  GROUP BY l_suppkey
      |  HAVING sum(l_quantity) > 400)
      |ORDER BY s_suppkey""".stripMargin

  /** TPC-H Q2 shape, adapted: cheapest supplier per part within a region.
    * The reference prices from partsupp.ps_supplycost (absent); unit cost
    * here is min(l_extendedprice / l_quantity) observed in lineitem —
    * same structure: region-filtered supplier dim, per-part min, argmin
    * rows recovered by equality (ties keep all, so no engine-specific
    * tie-break exists). The equality compares the SAME double (the min
    * of identical inputs) on both sides — no boundary risk.
    *
    * Scale shape: the per-part min is a window over partitionBy(partkey),
    * NOT a groupBy re-joined via broadcast — a fact-derived aggregate's
    * row count grows with |part| (unbounded at 100 TB), so broadcasting
    * it is a driver-OOM time bomb. The window gives ONE shuffle on
    * partkey and a single pass over the fact; dims still broadcast.
    */
  private def q02MinCostSupplier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val euSupp = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, dir).filter($"r_name" === "EUROPE")),
        $"n_regionkey" === $"r_regionkey")
      .select($"s_suppkey", $"s_name", $"n_name")
    val sized = Tables.part(s, dir).filter($"p_size" === 15).select($"p_partkey")
    val li = Tables.lineitem(s, dir)
      .join(broadcast(sized), $"l_partkey" === $"p_partkey")
      .join(broadcast(euSupp), $"l_suppkey" === $"s_suppkey")
      .withColumn("unit_cost", $"l_extendedprice" / $"l_quantity")
    li.withColumn("min_cost",
        min($"unit_cost").over(Window.partitionBy($"p_partkey")))
      .filter($"unit_cost" === $"min_cost")
      .select($"p_partkey", $"s_suppkey", $"s_name", $"n_name",
        round($"unit_cost", 4).as("unit_cost"))
      .distinct()
      .orderBy($"p_partkey", $"s_suppkey")
      .limit(100)
  }

  private val q02Oracle =
    """WITH eu AS (
      |  SELECT s_suppkey, s_name, n_name
      |  FROM supplier, nation, region
      |  WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |    AND r_name = 'EUROPE'),
      |li AS (
      |  SELECT p_partkey, s_suppkey, s_name, n_name,
      |         l_extendedprice / l_quantity AS unit_cost
      |  FROM lineitem, part, eu
      |  WHERE l_partkey = p_partkey AND p_size = 15 AND l_suppkey = s_suppkey),
      |mc AS (SELECT p_partkey AS mp, min(unit_cost) AS min_cost FROM li GROUP BY p_partkey)
      |SELECT DISTINCT p_partkey, s_suppkey, s_name, n_name,
      |       round(unit_cost, 4) AS unit_cost
      |FROM li JOIN mc ON p_partkey = mp AND unit_cost = min_cost
      |ORDER BY p_partkey, s_suppkey
      |LIMIT 100""".stripMargin

  /** TPC-H Q11 shape, adapted: parts whose shipped value from one
    * nation's suppliers exceeds 1/1000 of that nation's total. The
    * reference values partsupp stock (absent); shipped l_extendedprice
    * stands in. The HAVING threshold is the classic cross-engine trap —
    * a double grand total differs in final ulps — so both sides quantize
    * group sums to exact integer cents FIRST and gate on
    * `cents > total_cents div 1000`: pure integer arithmetic, no
    * boundary to flip. The grand total is a 1-row driver bridge off the
    * already-grouped frame.
    */
  private def q11ImportantParts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n5 = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir).filter($"n_name" === "NATION_5")),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey")
    val grouped = Tables.lineitem(s, dir)
      .join(broadcast(n5), $"l_suppkey" === $"s_suppkey")
      .groupBy($"l_partkey")
      .agg(round(sum($"l_extendedprice" * 100), 0).cast("long").as("value_cents"))
    // sum over an empty frame is NULL (a small sf may have no shipments
    // from this nation) — treat as 0 so the filter yields the same empty
    // result as the oracle's NULL comparison
    val totalRow = grouped.agg(sum($"value_cents")).first()
    val totalCents = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
    grouped.filter($"value_cents" > totalCents / 1000)
      .select($"l_partkey".as("p_partkey"), $"value_cents")
      .orderBy($"value_cents".desc, $"p_partkey")
  }

  private val q11Oracle =
    """WITH g AS (
      |  SELECT l_partkey AS p_partkey,
      |         CAST(round(sum(l_extendedprice * 100)) AS BIGINT) AS value_cents
      |  FROM lineitem, supplier, nation
      |  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |    AND n_name = 'NATION_5'
      |  GROUP BY l_partkey)
      |SELECT p_partkey, value_cents
      |FROM g
      |WHERE value_cents > (SELECT sum(value_cents) FROM g) // 1000
      |ORDER BY value_cents DESC, p_partkey""".stripMargin

  /** TPC-H Q16 shape: distinct-supplier counts per part attribute with
    * NOT-IN exclusions on both part predicates and a supplier denylist.
    * The part⟷supplier relation comes from lineitem (partsupp is
    * absent) — count(DISTINCT l_suppkey) does the same distinct work.
    * Denylist is a broadcast anti-join (never a shuffled NOT IN).
    */
  private def q16SupplierCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val parts = Tables.part(s, dir)
      .filter($"p_brand" =!= "Brand#1" && $"p_type" =!= "PROMO" &&
        $"p_size".isin(1, 5, 9, 15, 21, 25))
      .select($"p_partkey", $"p_brand", $"p_type", $"p_size")
    val denied = Tables.supplier(s, dir).filter($"s_name".contains("7"))
      .select($"s_suppkey")
    Tables.lineitem(s, dir).select($"l_partkey", $"l_suppkey")
      .join(broadcast(parts), $"l_partkey" === $"p_partkey")
      .join(broadcast(denied), $"l_suppkey" === $"s_suppkey", "left_anti")
      .groupBy($"p_brand", $"p_type", $"p_size")
      .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
      .orderBy($"supplier_cnt".desc, $"p_brand", $"p_type", $"p_size")
  }

  private val q16Oracle =
    """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      |  AND p_size IN (1, 5, 9, 15, 21, 25)
      |  AND l_suppkey NOT IN (
      |    SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7%')
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("q02_min_cost_supplier", q02MinCostSupplier, Some(q02Oracle)),
    Q("q07_nation_volume", q07NationVolume, Some(q07Oracle)),
    Q("q08_market_share", q08MarketShare, Some(q08Oracle)),
    Q("q09_profit_by_nation", q09ProfitByNation, Some(q09Oracle)),
    Q("q11_important_parts", q11ImportantParts, Some(q11Oracle)),
    Q("q13_order_counts", q13OrderCounts, Some(q13Oracle)),
    Q("q15_top_supplier", q15TopSupplier, Some(q15Oracle)),
    Q("q16_supplier_counts", q16SupplierCounts, Some(q16Oracle)),
    Q("q17_small_quantity", q17SmallQuantity, Some(q17Oracle)),
    Q("q20_excess_shippers", q20ExcessShippers, Some(q20Oracle)))
}
