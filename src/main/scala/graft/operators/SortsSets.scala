package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** SURVEY.md §2-F (sorts/limits/top-k) and §2-G (set ops / dedup).
  *
  * Reference analog for dedup: idempotent event writes across the
  * reference's reconnect loop (muswarmlogger/main.py) — re-delivered
  * events must collapse to one canonical row, picked deterministically
  * (never bare dropDuplicates, whose pick is partition-order dependent).
  *
  * Scale notes: global sort uses Spark's range-partitioned TeraSort-style
  * exchange; top-k is TakeOrderedAndProject (per-partition heap + driver
  * merge of k, not a full sort); set ops are hash aggregates/joins on the
  * key — all shuffle-once patterns.
  */
object SortsSets extends graft.Enrolled {

  /** Multi-key global sort with explicit null ordering. */
  def sortMultiNulls(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy(col("o_orderstatus").asc_nulls_last,
        col("o_totalprice").desc_nulls_last, col("o_orderkey"))

  /** Global top-10 by revenue — TakeOrderedAndProject, not a full sort. */
  def limitTopk(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(10)

  /** Nation keys present in customer ∪ supplier (distinct union). */
  def unionDistinct(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir).select(col("c_nationkey").as("nationkey"))
      .union(supplier(spark, dir).select(col("s_nationkey").as("nationkey")))
      .distinct()
      .orderBy(col("nationkey"))

  /** Nation keys in both customer and supplier. */
  def intersectKeys(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir).select(col("c_nationkey").as("nationkey"))
      .intersect(
        supplier(spark, dir).select(col("s_nationkey").as("nationkey")))
      .orderBy(col("nationkey"))

  /** Customer nations with no supplier. */
  def exceptKeys(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir).select(col("c_nationkey").as("nationkey"))
      .except(
        supplier(spark, dir).select(col("s_nationkey").as("nationkey")))
      .orderBy(col("nationkey"))

  /** Deterministic dedup: one canonical (min event_id) row per
    * (user_id, event_type), value carried via min_by. */
  def dedupRows(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("event_id")).as("event_id"),
        min_by(col("value"), col("event_id")).as("value"),
        count(lit(1)).as("n_dups"))
      .orderBy(col("user_id"), col("event_type"))

  /** UNION ALL (round 2): multiset union, no dedup shuffle — at scale
    * this is the zero-shuffle concatenation (each input partition
    * passes through untouched); the aggregate on top makes the output
    * compact and deterministic. */
  def unionAll(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir).select(col("c_nationkey").as("nationkey"))
      .unionAll(supplier(spark, dir).select(col("s_nationkey")))
      .groupBy(col("nationkey")).agg(count(lit(1)).as("n"))
      .orderBy(col("nationkey"))

  /** EXCEPT ALL (round 2): multiset difference — keeps multiplicity
    * (a key appearing 5× left and 2× right survives 3×), unlike the
    * set-semantics `except`. */
  def exceptAll(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir).select(col("c_nationkey").as("nationkey"))
      .exceptAll(supplier(spark, dir).select(col("s_nationkey")))
      .groupBy(col("nationkey")).agg(count(lit(1)).as("n"))
      .orderBy(col("nationkey"))

  /** Schema-evolution union (round 4 part 2): `unionByName` with
    * `allowMissingColumns = true` — customers and suppliers merged as
    * "parties" by COLUMN NAME, with customer-only columns null-filled
    * on the supplier side. Positional `union` would silently misalign
    * here; by-name resolution is the only correct union across evolved
    * schemas (the read-side twin of q_scan_schema_evolution's
    * mergeSchema). Zero shuffles until the presentation sort — union
    * is a partition pass-through. */
  def unionByNameEvolved(spark: SparkSession, dir: String): DataFrame = {
    val c = customer(spark, dir).select(
      lit("customer").as("kind"), col("c_custkey").as("id"),
      col("c_name").as("name"), col("c_nationkey").as("nationkey"),
      round(col("c_acctbal"), 2).as("acctbal"),
      col("c_mktsegment").as("segment"))
    val s = supplier(spark, dir).select(
      lit("supplier").as("kind"), col("s_suppkey").as("id"),
      col("s_name").as("name"), col("s_nationkey").as("nationkey"),
      round(col("s_acctbal"), 2).as("acctbal"))
    c.unionByName(s, allowMissingColumns = true)
      .orderBy(col("kind"), col("id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_union_by_name" -> unionByNameEvolved,
    "q_union_all" -> unionAll,
    "q_except_all" -> exceptAll,
    "q_sort_multi_nulls" -> sortMultiNulls,
    "q_limit_topk" -> limitTopk,
    "q_union_distinct" -> unionDistinct,
    "q_intersect" -> intersectKeys,
    "q_except" -> exceptKeys,
    "q_dedup_rows" -> dedupRows,
  )

  val oracle: Map[String, String] = Map(
    "q_union_by_name" ->
      """WITH c AS (SELECT 'customer' AS kind, c_custkey AS id,
        |   c_name AS name, c_nationkey AS nationkey,
        |   round(c_acctbal, 2) AS acctbal, c_mktsegment AS segment
        |  FROM customer),
        |s AS (SELECT 'supplier' AS kind, s_suppkey AS id, s_name AS name,
        |   s_nationkey AS nationkey, round(s_acctbal, 2) AS acctbal,
        |   CAST(NULL AS VARCHAR) AS segment FROM supplier)
        |SELECT * FROM c UNION ALL SELECT * FROM s
        |ORDER BY kind, id""".stripMargin,
    "q_union_all" ->
      """SELECT nationkey, count(*) AS n FROM (
        | SELECT c_nationkey AS nationkey FROM customer
        | UNION ALL SELECT s_nationkey FROM supplier) t
        |GROUP BY nationkey ORDER BY nationkey""".stripMargin,
    "q_except_all" ->
      """SELECT nationkey, count(*) AS n FROM (
        | SELECT c_nationkey AS nationkey FROM customer
        | EXCEPT ALL SELECT s_nationkey FROM supplier) t
        |GROUP BY nationkey ORDER BY nationkey""".stripMargin,
    "q_sort_multi_nulls" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |ORDER BY o_orderstatus ASC NULLS LAST,
        | o_totalprice DESC NULLS LAST, o_orderkey""".stripMargin,
    "q_limit_topk" ->
      """SELECT l_orderkey, l_linenumber,
        | l_extendedprice * (1 - l_discount) AS revenue
        |FROM lineitem
        |ORDER BY revenue DESC, l_orderkey, l_linenumber LIMIT 10""".stripMargin,
    "q_union_distinct" ->
      """SELECT DISTINCT nationkey FROM (
        | SELECT c_nationkey AS nationkey FROM customer
        | UNION ALL SELECT s_nationkey FROM supplier) t
        |ORDER BY nationkey""".stripMargin,
    "q_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,
    "q_except" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,
    "q_dedup_rows" ->
      """SELECT user_id, event_type, min(event_id) AS event_id,
        | arg_min(value, event_id) AS value, count(*) AS n_dups
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,
  )
}
