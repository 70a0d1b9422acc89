package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._

/** SURVEY.md §2-B — projections, filters, predicates.
  *
  * Reference analogs: the event handler gates on event type/action
  * (muswarmlogger/loggers.py ≈L25) and on opt-in labels in the open-keyed
  * Actor.Attributes dict (≈L30) — here: typed column predicates and
  * map-key presence checks over the parsed `props` JSON.
  *
  * Scale notes: all predicates are codegen'd Column expressions that
  * Catalyst pushes into the parquet scan where possible; derived columns
  * are per-row arithmetic (no shuffle besides the deterministic output
  * sort). Per-row double arithmetic is left un-rounded: identical IEEE
  * ops on identical inputs are bit-equal across engines.
  */
object Filters extends graft.Enrolled {

  /** Derived column: revenue = extendedprice * (1 - discount). */
  def projectCompute(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** Equality gate, the reference's `event.status == "start"` analog. */
  def filterEq(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), expr("ts_ns div 1000000000").as("ts_s"))
      .orderBy(col("event_id"))

  /** Compound boolean algebra over three predicates incl. a BETWEEN. */
  def filterCompound(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .filter(col("o_orderstatus") === "F" &&
        col("o_totalprice") > 150000 &&
        col("o_orderdate").between(lit("1996-01-01"), lit("1999-12-31")))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate").cast(DateType).as("o_orderdate"))
      .orderBy(col("o_orderkey"))

  /** IN-list + LIKE + explicit null-test arm. */
  def filterInLikeNull(spark: SparkSession, dir: String): DataFrame =
    part(spark, dir)
      .filter((col("p_brand").isin("Brand#1", "Brand#12", "Brand#22") &&
        col("p_type").like("%AR%")) || col("p_name").isNull)
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"))
      .orderBy(col("p_partkey"))

  /** Open-keyed label map: key presence + typed value predicate, the
    * reference's `"LOG" in labels` opt-in check.
    *
    * Parse-count note: from_json is codegen-fallback, so every
    * occurrence Catalyst materializes is a real per-row JSON parse.
    * The presence + value test is ONE coalesced predicate (absent key →
    * NULL → false), so the filter parses each row exactly once
    * (subexpression elimination covers the single predicate tree), and
    * the projection re-parses only the ~5% survivors — vs 3×+ full-table
    * parses when map_contains_key and element_at ride separate
    * filter/project expressions. */
  def filterLabelPresence(spark: SparkSession, dir: String): DataFrame = {
    val kOf = (c: Column) => element_at(
      from_json(c, MapType(StringType, IntegerType)), "k")
    events(spark, dir)
      .filter(coalesce(kOf(col("props")) > 50, lit(false)))
      .select(col("event_id"), kOf(col("props")).as("k"))
      .orderBy(col("event_id"))
  }

  /** Three-valued logic census (round 8): on a genuinely nullable key
    * (the JSON k, nulled when divisible by 3 — q_join_null_safe's
    * population), the predicate k > 50 partitions rows into TRUE /
    * FALSE / UNKNOWN — and the row proves the partition sums exactly
    * to n (so `NOT p` filters FEWER rows than `n − count(p)`, the
    * filter bug three-valued logic causes in practice). The executable
    * documentation of NULL predicate semantics, the filter-family
    * counterpart of the RANGE-vs-ROWS row.
    *
    * Shape: map-side JSON extract + one 1-row fold. */
  def threeValued(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("k0",
        expr("try_cast(get_json_object(props, '$.k') AS BIGINT)"))
      .withColumn("k",
        expr("CASE WHEN k0 % 3 = 0 THEN NULL ELSE k0 END"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("k") > 50, 1L).otherwise(0L)).as("n_true"),
        sum(when(!(col("k") > 50), 1L).otherwise(0L)).as("n_false"),
        sum(when((col("k") > 50).isNull, 1L).otherwise(0L))
          .as("n_null"))
      .select(col("n_rows"), col("n_true"), col("n_false"),
        col("n_null"),
        (col("n_true") + col("n_false") + col("n_null") ===
          col("n_rows")).as("partitions_ok"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_filter_three_valued" -> threeValued,
    "q_project_compute" -> projectCompute,
    "q_filter_eq" -> filterEq,
    "q_filter_compound" -> filterCompound,
    "q_filter_in_like_null" -> filterInLikeNull,
    "q_filter_label_presence" -> filterLabelPresence,
  )

  val oracle: Map[String, String] = Map(
    "q_filter_three_valued" ->
      """WITH e AS (SELECT event_id,
        |   try_cast(json_extract_string(props, '$.k') AS BIGINT) AS k0
        |  FROM events),
        |e2 AS (SELECT event_id,
        |   CASE WHEN k0 % 3 = 0 THEN NULL ELSE k0 END AS k FROM e)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN k > 50 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_true,
        |  CAST(sum(CASE WHEN NOT (k > 50) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_false,
        |  CAST(sum(CASE WHEN (k > 50) IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_null,
        |  sum(CASE WHEN k > 50 THEN 1 ELSE 0 END)
        |   + sum(CASE WHEN NOT (k > 50) THEN 1 ELSE 0 END)
        |   + sum(CASE WHEN (k > 50) IS NULL THEN 1 ELSE 0 END)
        |   = count(*) AS partitions_ok
        |FROM e2""".stripMargin,
    "q_project_compute" ->
      """SELECT l_orderkey, l_linenumber,
        | l_extendedprice * (1 - l_discount) AS revenue
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_filter_eq" ->
      """SELECT event_id, user_id, event_type, value,
        | epoch_ns(ts) // 1000000000 AS ts_s
        |FROM events WHERE event_type = 'error' ORDER BY event_id""".stripMargin,
    "q_filter_compound" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        | CAST(o_orderdate AS DATE) AS o_orderdate
        |FROM orders
        |WHERE o_orderstatus = 'F' AND o_totalprice > 150000
        |  AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
        |    AND TIMESTAMP '1999-12-31 00:00:00'
        |ORDER BY o_orderkey""".stripMargin,
    "q_filter_in_like_null" ->
      """SELECT p_partkey, p_name, p_brand, p_type FROM part
        |WHERE (p_brand IN ('Brand#1','Brand#12','Brand#22')
        |  AND p_type LIKE '%AR%') OR p_name IS NULL
        |ORDER BY p_partkey""".stripMargin,
    "q_filter_label_presence" ->
      """SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS k
        |FROM events
        |WHERE props->>'$.k' IS NOT NULL AND CAST(props->>'$.k' AS INTEGER) > 50
        |ORDER BY event_id""".stripMargin,
  )
}
