package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** SURVEY.md §2 round-2 widening — reshape operators (pivot/unpivot),
  * batch sessionization, and a TPC-H-style multiway composite.
  *
  * Reference analog: the triplestore consumers of the logged events run
  * exactly these report shapes (per-container activity matrices, session
  * reconstruction between `start`/`die` events — SURVEY §0.5).
  *
  * Scale notes: pivot uses an EXPLICIT value list — `pivot(col)` without
  * values runs a driver-side distinct job (a full extra scan at 100 TB)
  * before the real aggregation; sessionization is windows-over-partition
  * keys only (no global sort); the Q3 composite joins dim→fact smallest
  * first so AQE broadcast kicks in.
  */
object Reshape extends graft.Enrolled {

  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Wide activity matrix: one row per user, one count column per event
    * type. Explicit pivot values keep it a single-pass aggregation. */
  def pivotCounts(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      .na.fill(0L, EventTypes) // absent (user, type) combos: 0, not NULL
      .orderBy(col("user_id"))

  /** Unpivot (melt) the lineitem measure columns to long form — the
    * inverse reshape, one output row per (row, metric). */
  def unpivotMeasures(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax")),
        "metric", "val")
      // (l_orderkey, l_linenumber) is NOT unique in this synthetic data,
      // so val joins the sort to make the order total.
      // A/B NEGATIVE (round 15, VERDICT r14 #7): packing the first
      // three sort columns into one BIGINT (okey·32 + ln·4 + metric
      // ordinal — exact, since l_linenumber is 1..7 by generator
      // invariant and the four metric literals' ordinals match their
      // ASC string order) measured a tie — isolated warm min 1.92 →
      // 1.78 s, medians 2.23 → 2.08, under the >15 % keep bar and
      // inside box scatter. The sort is range-partitioned 75 K rows/
      // task at sf0.1; comparator width isn't where its time goes, and
      // the packed key widens the exchange by 8 B/row. Oracle-verified
      // identical both ways before reverting.
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"),
        col("val"))

  /** Batch sessionization: per-user sessions split on >30 min gaps —
    * the batch twin of streaming `session_window` (s_window_session).
    * lag → new-session flag → running sum = session number, then one
    * aggregate per session. All windows partition by user_id. */
  def sessionizeBatch(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    events(spark, dir)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("gap_us").isNull || col("gap_us") > 30L * 60 * 1000000, 1L)
          .otherwise(0L))
      .withColumn("session_no", sum(col("new_sess")).over(byUser))
      .groupBy(col("user_id"), col("session_no"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"))
      .orderBy(col("user_id"), col("session_no"))
  }

  /** SCD-2 dimension build (round 4): compress each user's event stream
    * into slowly-changing-dimension type-2 history rows — consecutive
    * runs of the same event_type collapse to one versioned row with a
    * [valid_from, valid_to] microsecond interval; the open (current)
    * row encodes valid_to = -1. This is the change-data-capture →
    * warehouse-dimension merge every analytics stack runs.
    *
    * Scale shape: two window passes over the same user_id partitioning
    * (change detection via lag, interval close via lead) — one shuffle
    * total, no self-join, no global sort. The identical plan processes
    * a 100 TB CDC feed; AQE skew-split covers hot keys. */
  def scd2Merge(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val changes = events(spark, dir)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("prev_state", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_state").isNull ||
        col("prev_state") =!= col("event_type"))
    changes
      .withColumn("version", row_number().over(byUser))
      .withColumn("valid_from_us", col("ts_us"))
      .withColumn("valid_to_us",
        coalesce(lead(col("ts_us"), 1).over(byUser) - 1, lit(-1L)))
      .select(col("user_id"), col("version"),
        col("event_type").as("state"),
        col("valid_from_us"), col("valid_to_us"),
        (col("valid_to_us") === -1).as("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  /** Point-in-time (as-of) lookup against the SCD-2 history (round 8):
    * "what state was each user in at time T?" — the temporal-join read
    * side of [[scd2Merge]]'s write side, and the lookup every
    * training-data snapshot / feature-store pipeline runs to avoid
    * label leakage (features must come from the version valid AT the
    * observation time, not the current one).
    *
    * Probes are a deterministic per-user grid: 4 instants at mn +
    * (mx−mn)·k div 4, k ∈ 0..3, over the user's event span. The lookup
    * does NOT run as a range join (valid_from ≤ T < valid_to would
    * nest-loop or need binning): it is the UNION-MERGE as-of pattern —
    * change rows and probe rows interleave in one user-partitioned
    * window ordered by (ts, is_probe, ord), and `last(state) ignoring
    * nulls` over the unbounded-preceding frame carries the in-force
    * state onto each probe. Change rows sort BEFORE probes at the same
    * instant (is_probe tiebreak), so a probe exactly at a transition
    * sees the new state; `ord` = event_id makes same-instant change
    * runs deterministic.
    *
    * Scale shape: one events shuffle (the shared user_id window), one
    * user-sized probe frame, zero joins — the same single-exchange
    * budget as scd2Merge itself; AQE skew-split covers hot users. */
  def scd2PitLookup(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val ev = events(spark, dir)
      .withColumn("ts_us", expr("ts_ns div 1000"))
    val changes = ev
      .withColumn("prev_state", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_state").isNull ||
        col("prev_state") =!= col("event_type"))
      .select(col("user_id"), col("ts_us"),
        col("event_type").as("state"),
        lit(null).cast("long").as("probe_no"),
        lit(0).as("is_probe"), col("event_id").cast("long").as("ord"))
    val probes = ev.groupBy(col("user_id"))
      .agg(min(col("ts_us")).as("mn"), max(col("ts_us")).as("mx"))
      .select(col("user_id"), explode(expr(
        """transform(sequence(0, 3),
          |  k -> struct(CAST(k AS BIGINT) AS probe_no,
          |              mn + ((mx - mn) * k) div 4 AS pts))"""
          .stripMargin)).as("p"))
      .select(col("user_id"), col("p.pts").as("ts_us"),
        lit(null).cast("string").as("state"), col("p.probe_no"),
        lit(1).as("is_probe"), col("p.probe_no").as("ord"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("is_probe"), col("ord"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    changes.unionAll(probes)
      .withColumn("state_at", last(col("state"), ignoreNulls = true).over(w))
      .filter(col("is_probe") === 1)
      .select(col("user_id"), col("probe_no"),
        col("ts_us").as("probe_ts_us"), col("state_at"))
      .orderBy(col("user_id"), col("probe_no"))
  }

  /** TPC-H Q3-shaped composite (adapted to this schema: no
    * shippriority column, o_orderpriority stands in): top-10 urgent
    * revenue orders for one market segment — dim filter → 3-way join →
    * agg → bounded top-k (TakeOrderedAndProject, never a full sort). */
  def shippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cust = customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val ord = orders(spark, dir)
      .filter(col("o_orderdate") < lit("1998-03-15"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
    val li = lineitem(spark, dir)
      .filter(col("l_shipdate") > lit("1998-03-15"))
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .select(col("o_orderkey"),
        col("o_orderdate").cast("date").as("o_date"),
        col("o_orderpriority"), col("revenue"))
      .orderBy(col("revenue").desc, col("o_date"), col("o_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-shaped composite (round 3): revenue by supplier nation for
    * one region-year, with the classic "local supplier" constraint
    * (customer and supplier share a nation). Exercises Catalyst's join
    * ordering across 6 tables: region→nation prune first (tiny,
    * broadcast), date-filtered orders next, then the two fact joins;
    * the c_nationkey = s_nationkey residual rides the supplier join.
    * At 100 TB every dim side here broadcasts; only orders⋈lineitem
    * shuffles, on the natural o_orderkey. */
  def localSupplierVolume(spark: SparkSession, dir: String): DataFrame = {
    val reg = region(spark, dir)
      .filter(col("r_name") === "ASIA").select(col("r_regionkey"))
    val nat = nation(spark, dir)
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val ord = orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1997-01-01"))
      .select(col("o_orderkey"), col("o_custkey"))
    lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(customer(spark, dir).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q18-shaped composite (round 3): large-volume orders — the
    * group-filter-then-rejoin pattern (HAVING over the fact, semi-joined
    * back). The HAVING aggregation runs FIRST and is the only full fact
    * shuffle; the survivors (~0.1%) then drive bounded joins. Top-100 by
    * order value via TakeOrderedAndProject, never a global sort. */
  def largeVolumeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"))
      .filter(col("sum_qty") > 250)
    big.join(orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(customer(spark, dir).select(col("c_custkey"), col("c_name")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("o_orderkey"),
        col("o_totalprice"), col("o_orderdate").cast("date").as("o_date"),
        col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q10-shaped composite (round 8): top-20 customers by revenue
    * LOST to returned items in one quarter — the "who is returning
    * merchandise" report. Dim filters → 3 fact-dim joins → customer
    * rollup → bounded top-k. The only corpus-sized shuffle is
    * lineitem⋈orders on the natural l_orderkey; customer and nation
    * broadcast; top-20 is TakeOrderedAndProject. */
  def returnedItemRevenue(spark: SparkSession, dir: String): DataFrame = {
    val ord = orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1996-04-01"))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(customer(spark, dir).select(col("c_custkey"), col("c_name"),
        col("c_acctbal"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("n_name"))
      // per-row cents then BIGINT sum (the q14 rule): this rollup sums
      // enough lines per customer that round(sum(float), 2) landed on
      // a half-cent boundary and diverged between engines
      .agg(sum(expr(
        "CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)" +
          " AS BIGINT)")).as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q14-shaped composite (round 8): promo revenue share — the
    * two-class conditional-aggregate-then-ratio shape. Floats leave
    * the plan PER ROW: each line's discounted price rounds to cents
    * with the identical floor(x*100+0.5) text in both engines (one
    * double multiply each — bit-deterministic), and everything after
    * is BIGINT sums and division, immune to aggregation order. One
    * fact-dim join (part broadcasts), one scalar row out. */
  def promoRevenueShare(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01"))
      .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
      .join((partB(spark, dir)
        .select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_type"), expr(
        "CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)" +
          " AS BIGINT)").as("cents"))
      .agg(
        sum(when(col("p_type") === "PROMO", col("cents")).otherwise(0L))
          .as("promo_cents"),
        sum(col("cents")).as("total_cents"))
      .select(col("promo_cents"), col("total_cents"),
        expr("promo_cents * 10000 div greatest(total_cents, 1)")
          .as("promo_e4"))

  /** TPC-H Q16-shaped composite (round 8, adapted: supplier links come
    * from lineitem — this schema has no partsupp): distinct supplier
    * count per (brand, type, size) for parts outside one brand — the
    * DISTINCT-aggregate-over-join shape. count(DISTINCT) here is the
    * two-phase partial-distinct plan (per-partition dedup before the
    * shuffle), the scalable form of the naive collect-and-count. */
  def supplierCountByPart(spark: SparkSession, dir: String): DataFrame =
    part(spark, dir)
      .filter(col("p_brand") =!= "Brand#4")
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      .join(lineitem(spark, dir).select(col("l_partkey"), col("l_suppkey")),
        col("p_partkey") === col("l_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
      .limit(20)

  /** Warehouse MERGE INTO semantics as one auditable batch row
    * (round 8): target = the orders snapshot; source = a
    * deterministically derived delta (every 10th key flips to status
    * 'D' with a bumped price — MATCHED/UPDATE; every 17th key re-minted
    * +10⁹ — NOT MATCHED/INSERT). Latest-wins resolution is one
    * per-key max_by on (key, src_rank) — the same partial-aggregable
    * reduce as the streaming upsert sink, never a window over the
    * union. Emits per-status row counts + key/price checksums so any
    * divergence in matched/unmatched routing is visible in one row. */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val base = orders(spark, dir)
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
        col("o_totalprice").as("price"), lit(0).as("src"))
    val updates = orders(spark, dir)
      .filter(col("o_orderkey") % 10 === 0)
      // raw ×1.1 price, no intermediate round(): the output rounds
      // once via the per-row cents floor — engines' round() HALF_UP
      // vs half-even differences never enter the plan
      .select(col("o_orderkey").as("k"), lit("D").as("st"),
        (col("o_totalprice") * 1.1).as("price"), lit(1).as("src"))
    val inserts = orders(spark, dir)
      .filter(col("o_orderkey") % 17 === 0)
      .select((col("o_orderkey") + 1000000000L).as("k"), lit("I").as("st"),
        col("o_totalprice").as("price"), lit(1).as("src"))
    base.unionAll(updates).unionAll(inserts)
      .groupBy(col("k"))
      .agg(max_by(struct(col("st"), col("price")), col("src")).as("w"))
      .select(col("k"), col("w.st").as("st"), col("w.price").as("price"))
      .groupBy(col("st"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("k")).as("key_sum"),
        // per-row cents then BIGINT sum (the q14 rule): a float sum
        // rounded once at the end is aggregation-order-sensitive
        sum(expr("CAST(floor(price * 100 + 0.5) AS BIGINT)"))
          .as("price_cents"))
      .orderBy(col("st"))
  }

  /** TPC-H Q12-shaped composite (round 8, adapted: this schema has no
    * l_shipmode, so l_linestatus plays the mode axis): per line status,
    * high- vs low-priority order counts for lines shipped in one year —
    * the fact⋈fact join feeding a two-class conditional aggregate. The
    * date filter prunes lineitem BEFORE the join (predicate pushdown to
    * the scan); the join shuffles both sides on the natural orderkey;
    * the conditional counts are partial-aggregable map-side. */
  def priorityClassByStatus(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01"))
      .select(col("l_orderkey"), col("l_linestatus"))
      .join(orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_count"))
      .orderBy(col("l_linestatus"))

  /** TPC-H Q13-shaped composite (round 8): customer order-count
    * distribution — the OUTER-join-feeding-a-second-aggregation shape
    * (the filtered left join must preserve order-less customers as
    * count 0, not drop them; an inner join here is the classic Q13
    * bug). First groupBy shuffles on c_custkey (the join key — one
    * exchange serves both); the second input is one row per customer. */
  def customerOrderDist(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir).select(col("c_custkey"))
      .join(orders(spark, dir)
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** TPC-H Q17-shaped composite (round 8): revenue from small-quantity
    * outlier lines of one brand — the correlated-average shape
    * (l_quantity < 0.2 × avg(l_quantity) per part), decorrelated into
    * one per-part aggregate + a re-join. The threshold compare is
    * EXACT integer cross-multiplication (q·5·cnt < Σq — l_quantity is
    * integral in this fixture and the per-part sum is a BIGINT), so no
    * float average ever enters the predicate — a double avg here is
    * aggregation-order-sensitive and measurably flips boundary rows. */
  def smallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .join((partB(spark, dir)
        .filter(col("p_brand") === "Brand#2").select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
    val perPart = li.groupBy(col("l_partkey").as("pk"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_q"),
        count(lit(1)).as("cnt_q"))
    li.join(perPart, col("l_partkey") === col("pk"))
      .filter(expr("CAST(l_quantity AS BIGINT) * 5 * cnt_q < sum_q"))
      .agg(count(lit(1)).as("n_lines"),
        coalesce(sum(expr(
          "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")), lit(0L))
          .as("price_cents"))
      .select(col("n_lines"), col("price_cents"),
        expr("price_cents div 7").as("avg_weekly_cents"))
  }

  /** TPC-H Q19-shaped composite (round 8): disjunctive multi-column
    * predicate — three (brand, size-range, quantity-range) arms OR-ed
    * across BOTH join sides, the shape that exercises CNF conversion
    * and partial pushdown (each arm's part-only conjuncts can reach the
    * part scan; the mixed conjuncts evaluate post-join). Part
    * broadcasts; one scalar row out, per-row cents (the q14 rule). */
  def disjunctiveRevenue(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
      .join((partB(spark, dir)
        .select(col("p_partkey"), col("p_brand"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
          col("l_quantity").between(10, 35)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
          col("l_quantity").between(20, 50)))
      .agg(count(lit(1)).as("n_lines"),
        coalesce(sum(expr(
          "CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)" +
            " AS BIGINT)")), lit(0L)).as("revenue_cents"))

  /** TPC-H Q22-shaped composite (round 8, adapted: no c_phone — the
    * nation key plays the country code): rich-but-idle customers in a
    * 5-country set, balance above the set's positive-balance average,
    * with NO urgent order — scalar-average subquery + anti join +
    * rollup. The average never materializes as a float: the filter is
    * the exact integer cross-multiply bal·n > Σbal over cents. The
    * 1-row stats frame broadcasts; the anti join is the only fact
    * shuffle. */
  def idleRichCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cust = customer(spark, dir)
      .filter(col("c_nationkey").isin(3, 7, 11, 17, 23))
      .select(col("c_custkey"), col("c_nationkey"),
        expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("bal_cents"))
    val pos = cust.filter(col("bal_cents") > 0)
      .agg(sum(col("bal_cents")).as("tot_cents"),
        count(lit(1)).as("n_pos"))
    cust.crossJoin(broadcast(pos))
      .filter(expr("bal_cents * n_pos > tot_cents"))
      .join(orders(spark, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
        sum(col("bal_cents")).as("totbal_cents"))
      .orderBy(col("c_nationkey"))
  }

  /** TPC-H Q4-shaped composite (round 8, adapted: no commit/receipt
    * dates in this schema — "late" = a line shipped ≥ 60 days after
    * the order date): order counts per priority for one quarter,
    * counting an order once iff ANY of its lines shipped late — the
    * EXISTS-decorrelated-to-semi-join shape. The semi join carries the
    * cross-side date predicate into the join condition; the quarter
    * filter prunes orders before the join. */
  def latePriorityCounts(spark: SparkSession, dir: String): DataFrame = {
    val ord = orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-07-01") &&
        col("o_orderdate") < lit("1996-10-01"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    ord.join(lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_shipdate")),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") >= expr("o_orderdate + INTERVAL 60 DAY"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q11-shaped composite (round 8, adapted: supplier links via
    * lineitem — no partsupp): per-part inventory value for suppliers
    * of a 5-nation group, keeping parts whose value exceeds 0.1 % of
    * the group total — the HAVING-over-scalar-subquery shape. The
    * fraction never materializes: the gate is the integer
    * cross-multiply val·1000 > Σval over per-row cents. */
  def partValueShare(spark: SparkSession, dir: String): DataFrame = {
    val v = lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
      .join((supplierB(spark, dir)
        .filter(col("s_nationkey").isin(1, 2, 3, 4, 5))
        .select(col("s_suppkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(expr(
        "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
        .as("val_cents"))
    val tot = v.agg(sum(col("val_cents")).as("tot"))
    v.crossJoin(broadcast(tot))
      .filter(expr("val_cents * 1000 > tot"))
      .select(col("l_partkey"), col("val_cents"))
      .orderBy(col("val_cents").desc, col("l_partkey"))
      .limit(50)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pivot_counts" -> pivotCounts,
    "q_tpch_q4_late" -> latePriorityCounts,
    "q_tpch_q11_partvalue" -> partValueShare,
    "q_unpivot_measures" -> unpivotMeasures,
    "q_sessionize_batch" -> sessionizeBatch,
    "q_scd2_merge" -> scd2Merge,
    "q_scd2_pit_lookup" -> scd2PitLookup,
    "q_tpch_q3_priority" -> shippingPriority,
    "q_tpch_q5_local" -> localSupplierVolume,
    "q_tpch_q18_bigorders" -> largeVolumeOrders,
    "q_tpch_q10_returns" -> returnedItemRevenue,
    "q_tpch_q14_promo" -> promoRevenueShare,
    "q_tpch_q16_suppcnt" -> supplierCountByPart,
    "q_tpch_q12_priority" -> priorityClassByStatus,
    "q_tpch_q13_custdist" -> customerOrderDist,
    "q_tpch_q17_smallqty" -> smallQtyRevenue,
    "q_tpch_q19_disjunct" -> disjunctiveRevenue,
    "q_tpch_q22_idle" -> idleRichCustomers,
    "q_merge_upsert" -> mergeUpsert,
  )

  val oracle: Map[String, String] = Map(
    "q_pivot_counts" ->
      """SELECT user_id,
        | count(*) FILTER (WHERE event_type = 'click') AS click,
        | count(*) FILTER (WHERE event_type = 'error') AS error,
        | count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        | count(*) FILTER (WHERE event_type = 'signup') AS signup,
        | count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_unpivot_measures" ->
      """SELECT l_orderkey, l_linenumber, metric, val
        |FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |        l_discount, l_tax FROM lineitem)
        |UNPIVOT (val FOR metric IN (l_quantity, l_extendedprice, l_discount,
        |  l_tax))
        |ORDER BY l_orderkey, l_linenumber, metric, val""".stripMargin,
    "q_sessionize_batch" ->
      """WITH g AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  epoch_us(ts) - lag(epoch_us(ts), 1) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS gap_us
        | FROM events),
        |f AS (SELECT user_id, ts_us,
        |  CASE WHEN gap_us IS NULL OR gap_us > 30 * 60 * 1000000
        |       THEN 1 ELSE 0 END AS new_sess,
        |  event_id FROM g),
        |s AS (SELECT user_id, ts_us,
        |  CAST(sum(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id) AS BIGINT) AS session_no FROM f)
        |SELECT user_id, session_no, count(*) AS n_events,
        | min(ts_us) AS start_us, max(ts_us) AS end_us
        |FROM s GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""".stripMargin,
    "q_scd2_pit_lookup" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |   epoch_us(ts) AS ts_us FROM events),
        |g AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id
        |   ORDER BY ts_us, event_id) AS prev FROM e),
        |ch AS (SELECT user_id, ts_us, event_type AS state,
        |   CAST(NULL AS BIGINT) AS probe_no, 0 AS is_probe,
        |   CAST(event_id AS BIGINT) AS ord
        |  FROM g WHERE prev IS NULL OR prev <> event_type),
        |sp AS (SELECT user_id, CAST(min(ts_us) AS BIGINT) AS mn,
        |   CAST(max(ts_us) AS BIGINT) AS mx FROM e GROUP BY user_id),
        |pr AS (SELECT user_id,
        |   CAST(mn + ((mx - mn) * k) // 4 AS BIGINT) AS ts_us,
        |   CAST(NULL AS VARCHAR) AS state, CAST(k AS BIGINT) AS probe_no,
        |   1 AS is_probe, CAST(k AS BIGINT) AS ord
        |  FROM sp, (SELECT unnest([0, 1, 2, 3]) AS k)),
        |x AS (SELECT *, last_value(state IGNORE NULLS) OVER (
        |   PARTITION BY user_id ORDER BY ts_us, is_probe, ord
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS state_at
        |  FROM (SELECT * FROM ch UNION ALL SELECT * FROM pr))
        |SELECT user_id, probe_no, ts_us AS probe_ts_us, state_at
        |FROM x WHERE is_probe = 1
        |ORDER BY user_id, probe_no""".stripMargin,
    "q_scd2_merge" ->
      """WITH g AS (SELECT user_id, event_id, event_type,
        |   epoch_us(ts) AS ts_us,
        |   lag(event_type) OVER (PARTITION BY user_id
        |     ORDER BY epoch_us(ts), event_id) AS prev_state
        |  FROM events),
        |c AS (SELECT user_id, event_id, event_type, ts_us FROM g
        |  WHERE prev_state IS NULL OR prev_state <> event_type),
        |v AS (SELECT user_id,
        |   CAST(row_number() OVER w AS INTEGER) AS version,
        |   event_type AS state, ts_us AS valid_from_us,
        |   coalesce(lead(ts_us) OVER w - 1, -1) AS valid_to_us
        |  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
        |SELECT user_id, version, state, valid_from_us, valid_to_us,
        | valid_to_us = -1 AS is_current
        |FROM v ORDER BY user_id, version""".stripMargin,
    "q_tpch_q3_priority" ->
      """SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS o_date,
        | o.o_orderpriority,
        | round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |  AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        |GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
        |ORDER BY revenue DESC, o_date, o_orderkey
        |LIMIT 10""".stripMargin,
    "q_tpch_q5_local" ->
      """SELECT n.n_name,
        | round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n.n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "q_tpch_q18_bigorders" ->
      """WITH big AS (SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING round(sum(l_quantity), 2) > 250)
        |SELECT c.c_name, o.o_orderkey, o.o_totalprice,
        | CAST(o.o_orderdate AS DATE) AS o_date, big.sum_qty
        |FROM big
        |JOIN orders o ON big.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o.o_totalprice DESC, o.o_orderkey
        |LIMIT 100""".stripMargin,
    "q_tpch_q10_returns" ->
      """SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
        | CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
        |   * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |  AND o.o_orderdate >= '1996-01-01'
        |  AND o.o_orderdate < '1996-04-01'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue_cents DESC, c.c_custkey
        |LIMIT 20""".stripMargin,
    "q_tpch_q14_promo" ->
      """WITH c AS (SELECT p.p_type,
        |  CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
        |    AS BIGINT) AS cents
        | FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        | WHERE l.l_shipdate >= '1996-01-01' AND l.l_shipdate < '1997-01-01')
        |SELECT
        | CAST(sum(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END)
        |   AS BIGINT) AS promo_cents,
        | CAST(sum(cents) AS BIGINT) AS total_cents,
        | CAST(sum(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END) * 10000
        |   // greatest(sum(cents), 1) AS BIGINT) AS promo_e4
        |FROM c""".stripMargin,
    "q_tpch_q16_suppcnt" ->
      """SELECT p.p_brand, p.p_type, p.p_size,
        | CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand <> 'Brand#4'
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
        |LIMIT 20""".stripMargin,
    "q_tpch_q12_priority" ->
      """SELECT l.l_linestatus,
        | CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |   THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
        | CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |   THEN 0 ELSE 1 END) AS BIGINT) AS low_count
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_shipdate >= '1996-01-01' AND l.l_shipdate < '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_tpch_q13_custdist" ->
      """WITH per_cust AS (SELECT c.c_custkey,
        |   count(o.o_orderkey) AS c_count
        |  FROM customer c
        |  LEFT JOIN (SELECT o_custkey, o_orderkey FROM orders
        |    WHERE o_orderpriority <> '1-URGENT') o
        |   ON c.c_custkey = o.o_custkey
        |  GROUP BY 1)
        |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM per_cust GROUP BY 1
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q_tpch_q17_smallqty" ->
      """WITH li AS (SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE p.p_brand = 'Brand#2'),
        |per_part AS (SELECT l_partkey AS pk,
        |   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_q,
        |   count(*) AS cnt_q
        |  FROM li GROUP BY 1),
        |small AS (SELECT l_extendedprice
        |  FROM li JOIN per_part ON l_partkey = pk
        |  WHERE CAST(l_quantity AS BIGINT) * 5 * cnt_q < sum_q)
        |SELECT CAST(count(*) AS BIGINT) AS n_lines,
        | coalesce(CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
        |   AS BIGINT)) AS BIGINT), 0) AS price_cents,
        | coalesce(CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
        |   AS BIGINT)) AS BIGINT), 0) // 7 AS avg_weekly_cents
        |FROM small""".stripMargin,
    "q_tpch_q19_disjunct" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_lines,
        | coalesce(CAST(sum(CAST(floor(l.l_extendedprice
        |   * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT), 0)
        |   AS revenue_cents
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
        |   AND l.l_quantity BETWEEN 1 AND 20)
        |  OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
        |   AND l.l_quantity BETWEEN 10 AND 35)
        |  OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
        |   AND l.l_quantity BETWEEN 20 AND 50)""".stripMargin,
    "q_tpch_q4_late" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= '1996-07-01'
        |  AND o.o_orderdate < '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_tpch_q11_partvalue" ->
      """WITH v AS (SELECT l.l_partkey,
        |   CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
        |     AS BIGINT) AS val_cents
        |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  WHERE s.s_nationkey IN (1, 2, 3, 4, 5)
        |  GROUP BY 1),
        |t AS (SELECT CAST(sum(val_cents) AS BIGINT) AS tot FROM v)
        |SELECT l_partkey, val_cents
        |FROM v, t WHERE val_cents * 1000 > tot
        |ORDER BY val_cents DESC, l_partkey LIMIT 50""".stripMargin,
    "q_tpch_q22_idle" ->
      """WITH cust AS (SELECT c_custkey, c_nationkey,
        |   CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
        |  FROM customer WHERE c_nationkey IN (3, 7, 11, 17, 23)),
        |pos AS (SELECT CAST(sum(bal_cents) AS BIGINT) AS tot_cents,
        |   count(*) AS n_pos FROM cust WHERE bal_cents > 0)
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
        | CAST(sum(bal_cents) AS BIGINT) AS totbal_cents
        |FROM cust, pos
        |WHERE bal_cents * n_pos > tot_cents
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = cust.c_custkey
        |      AND o.o_orderpriority = '1-URGENT')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_merge_upsert" ->
      """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |   o_totalprice AS price, 0 AS src FROM orders),
        |upd AS (SELECT o_orderkey AS k, 'D' AS st,
        |   o_totalprice * 1.1 AS price, 1 AS src
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |ins AS (SELECT o_orderkey + 1000000000 AS k, 'I' AS st,
        |   o_totalprice AS price, 1 AS src
        |  FROM orders WHERE o_orderkey % 17 = 0),
        |u AS (SELECT * FROM base UNION ALL SELECT * FROM upd
        |  UNION ALL SELECT * FROM ins),
        |m AS (SELECT k, max_by(st, src) AS st,
        |   max_by(price, src) AS price FROM u GROUP BY k)
        |SELECT st, count(*) AS n_rows, CAST(sum(k) AS BIGINT) AS key_sum,
        | CAST(sum(CAST(floor(price * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |   AS price_cents
        |FROM m GROUP BY st ORDER BY st""".stripMargin,
  )
}
