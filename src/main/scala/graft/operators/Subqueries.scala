package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables._

/** SURVEY.md §2 round-2 widening — subquery surface, expressed in SQL so
  * Catalyst's rewrite rules run (`RewritePredicateSubquery` turns
  * EXISTS/IN into left-semi/anti joins; scalar subqueries become
  * single-row broadcast joins). The join operators in Joins.scala prove
  * the physical shapes; these prove the SQL-level surface a reference
  * user would actually write.
  *
  * Scale notes: every subquery here decorrelates to a join — no
  * per-row re-execution; the scalar subquery is one global aggregate
  * broadcast to the probe side.
  */
object Subqueries extends graft.Enrolled {

  /** Register only the views these six queries actually reference.
    * (Round 6 lesson: an unconditional `sq_events` registration here made
    * an events-reader failure take down all six unrelated subquery rows —
    * views are registered per use, and `sq_nation` only by the lateral
    * query that needs it.)
    */
  private def withViews(spark: SparkSession, dir: String): Unit = {
    customer(spark, dir).createOrReplaceTempView("sq_customer")
    orders(spark, dir).createOrReplaceTempView("sq_orders")
  }

  /** Correlated EXISTS → left-semi join after decorrelation. */
  def existsHighValue(spark: SparkSession, dir: String): DataFrame = {
    withViews(spark, dir)
    spark.sql(
      """SELECT c_custkey, c_name
        |FROM sq_customer c
        |WHERE EXISTS (SELECT 1 FROM sq_orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin)
  }

  /** Correlated NOT EXISTS → left-anti join after decorrelation. */
  def notExistsInactive(spark: SparkSession, dir: String): DataFrame = {
    withViews(spark, dir)
    spark.sql(
      """SELECT c_custkey, c_acctbal
        |FROM sq_customer c
        |WHERE NOT EXISTS (SELECT 1 FROM sq_orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin)
  }

  /** Uncorrelated IN over a filtered set → semi join. */
  def inPriorityBuyers(spark: SparkSession, dir: String): DataFrame = {
    withViews(spark, dir)
    spark.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM sq_orders
        |WHERE o_custkey IN (SELECT c_custkey FROM sq_customer
        |                    WHERE c_acctbal > 9000)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** Scalar subquery: one global aggregate, broadcast to every probe
    * row — orders above 2× the global average price. */
  def scalarAboveAvg(spark: SparkSession, dir: String): DataFrame = {
    withViews(spark, dir)
    spark.sql(
      """SELECT o_orderkey, o_totalprice
        |FROM sq_orders
        |WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM sq_orders)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** Correlated scalar subquery in the projection — each customer's
    * balance versus their nation's average (decorrelates to an
    * aggregate + join, one row per correlation key, never per-row
    * re-execution). */
  def correlatedScalar(spark: SparkSession, dir: String): DataFrame = {
    withViews(spark, dir)
    spark.sql(
      """SELECT c_custkey,
        | round(c_acctbal - (SELECT avg(c2.c_acctbal) FROM sq_customer c2
        |                    WHERE c2.c_nationkey = c.c_nationkey), 4)
        |   AS bal_vs_nation
        |FROM sq_customer c
        |ORDER BY c_custkey""".stripMargin)
  }

  /** LATERAL correlated table subquery (round 4) — "for each nation,
    * its top-2 customers by balance": the subquery references the
    * outer row and returns a TABLE, not a scalar. Catalyst plans a
    * LateralJoin and decorrelates through the per-group limit (the
    * DomainJoin/window rewrite), so execution is one ranked window
    * over customers joined back to nation — never a per-outer-row
    * re-scan. Deterministic: tie-break on c_custkey. */
  def lateralTopPerGroup(spark: SparkSession, dir: String): DataFrame = {
    withViews(spark, dir)
    nation(spark, dir).createOrReplaceTempView("sq_nation")
    spark.sql(
      """SELECT n.n_name, t.c_custkey, round(t.c_acctbal, 2) AS acctbal
        |FROM sq_nation n,
        | LATERAL (SELECT c_custkey, c_acctbal FROM sq_customer c
        |          WHERE c.c_nationkey = n.n_nationkey
        |          ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
        |ORDER BY n.n_name, t.c_custkey""".stripMargin)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_subq_lateral" -> lateralTopPerGroup,
    "q_subq_exists" -> existsHighValue,
    "q_subq_not_exists" -> notExistsInactive,
    "q_subq_in" -> inPriorityBuyers,
    "q_subq_scalar" -> scalarAboveAvg,
    "q_subq_corr_scalar" -> correlatedScalar,
  )

  val oracle: Map[String, String] = Map(
    "q_subq_lateral" ->
      """SELECT n.n_name, t.c_custkey, round(t.c_acctbal, 2) AS acctbal
        |FROM nation n,
        | LATERAL (SELECT c_custkey, c_acctbal FROM customer c
        |          WHERE c.c_nationkey = n.n_nationkey
        |          ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
        |ORDER BY n.n_name, t.c_custkey""".stripMargin,
    "q_subq_exists" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,
    "q_subq_not_exists" ->
      """SELECT c_custkey, c_acctbal FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,
    "q_subq_in" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                    WHERE c_acctbal > 9000)
        |ORDER BY o_orderkey""".stripMargin,
    "q_subq_scalar" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,
    "q_subq_corr_scalar" ->
      """SELECT c_custkey,
        | round(c_acctbal - (SELECT avg(c2.c_acctbal) FROM customer c2
        |                    WHERE c2.c_nationkey = c.c_nationkey), 4)
        |   AS bal_vs_nation
        |FROM customer c
        |ORDER BY c_custkey""".stripMargin,
  )
}
