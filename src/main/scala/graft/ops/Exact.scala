package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.expr

/** Engine-portable exact arithmetic shared by the query suites and
  * their DuckDB oracles. Doubles cannot cross an engine boundary inside
  * an aggregation: Spark's partial aggregates and DuckDB's sequential
  * scan add in different orders, and their round() tie rules differ
  * (HALF_UP on the exact binary expansion vs half-even on the scaled
  * double). The discipline: quantize to integers FIRST (cents for 2-dp
  * money, micro-units for 6-dp measures), aggregate exactly, and only
  * round/divide at the very end in integer arithmetic with an explicit
  * tie rule. Each helper exists in Column and SQL-text form so both
  * engines evaluate the SAME expression — one definition, not N copies
  * that can drift (the drift IS the bug class this module prevents).
  */
object Exact {

  /** Exact integer cents of a 2-dp money double (`o_totalprice` etc.). */
  def centsSql(col: String): String =
    s"CAST(CAST($col AS DECIMAL(18,2)) * 100 AS BIGINT)"

  def cents(col: String): Column = expr(centsSql(col))

  /** Exact integer micro-units (1e-6) of a ≤6-dp measure column. */
  def microSql(col: String): String =
    s"CAST(CAST($col AS DECIMAL(28,6)) * 1000000 AS BIGINT)"

  def micro(col: String): Column = expr(microSql(col))

  /** The one syntax difference between the engines in these fragments:
    * integer division is `div` in Spark SQL, `//` in DuckDB. Fragment
    * builders take the operator so both sides come from ONE definition.
    */
  val SparkDiv = "div"
  val DuckDiv = "//"

  /** Micro-unit SUM → 4-dp double, rounded HALF-AWAY-FROM-ZERO in pure
    * integer arithmetic (sign-symmetric: negate, round, negate back).
    */
  def microSumTo4dpSql(sumCol: String, intDiv: String): String =
    s"""CAST(CASE WHEN $sumCol >= 0 THEN ($sumCol + 50) $intDiv 100
       |     ELSE -((-$sumCol + 50) $intDiv 100) END AS DOUBLE) / 10000""".stripMargin

  def microSumTo4dp(sumCol: String): Column =
    expr(microSumTo4dpSql(sumCol, SparkDiv))

  /** Micro-unit SUM → 2-dp double (cents), the same integer HALF-AWAY
    * rounding as [[microSumTo4dpSql]].
    */
  def microSumTo2dpSql(sumCol: String, intDiv: String): String =
    s"""CAST(CASE WHEN $sumCol >= 0 THEN ($sumCol + 5000) $intDiv 10000
       |     ELSE -((-$sumCol + 5000) $intDiv 10000) END AS DOUBLE) / 100""".stripMargin

  def microSumTo2dp(sumCol: String): Column =
    expr(microSumTo2dpSql(sumCol, SparkDiv))

  /** Micro-unit MEAN (`sum / n`) → 4-dp double, same integer HALF-AWAY
    * discipline: 2·sum + n·100 keeps the ±0.5 rounding offset exact.
    */
  def microAvgTo4dpSql(sumCol: String, nCol: String, intDiv: String): String =
    s"""CAST(CASE WHEN $sumCol >= 0 THEN (2 * $sumCol + $nCol * 100) $intDiv (200 * $nCol)
       |     ELSE -((2 * (-$sumCol) + $nCol * 100) $intDiv (200 * $nCol)) END AS DOUBLE) / 10000""".stripMargin

  def microAvgTo4dp(sumCol: String, nCol: String): Column =
    expr(microAvgTo4dpSql(sumCol, nCol, SparkDiv))
}
