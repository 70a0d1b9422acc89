package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** SURVEY.md §2-J3 — data-layout operators: Z-order (Morton) clustering
  * for multi-dimensional data skipping.
  *
  * At 100 TB a table queried by two uncorrelated keys (here part and
  * supplier) can only be min/max-pruned on ONE of them with a plain
  * sort. Interleaving the key bits into a single Morton key and
  * range-partitioning + sorting by it bounds BOTH dimensions within
  * every file, so parquet footer min/max skips work for either
  * predicate. The key is a pure per-row codegen expression (bit fold —
  * no shuffle to compute), and the layout write is one
  * `repartitionByRange(zkey) + sortWithinPartitions(zkey)` pass.
  */
object Layout extends graft.Enrolled {

  /** 32-bit Morton key: interleave the low 16 bits of two int columns
    * (bit i of `a` → bit 2i, bit i of `b` → bit 2i+1). The fold is
    * UNROLLED into a flat 32-term sum (disjoint bit positions, so `+`
    * ≡ `|`): a lambda `aggregate(sequence(...))` fold runs on the
    * interpreted higher-order-function path (measured 3.7 s over 600 k
    * rows), while this flat arithmetic stays inside whole-stage codegen
    * (asserted in LayoutSpec). */
  def zkey(a: String, b: String): org.apache.spark.sql.Column = expr(
    (0 until 16).map { i =>
      s"shiftleft(CAST(shiftright($a, $i) & 1 AS BIGINT), ${2 * i})" +
        s" + shiftleft(CAST(shiftright($b, $i) & 1 AS BIGINT), ${2 * i + 1})"
    }.mkString(" + "))

  /** Z-order clustering demo over lineitem (part × supplier): per
    * z-bucket (zkey >> 14) row counts and the min/max of BOTH source
    * dimensions — each bucket covers a bounded rectangle of the
    * (partkey, suppkey) plane, which is exactly the property min/max
    * file skipping needs. */
  def zorderStats(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .withColumn("zkey", zkey("l_partkey", "l_suppkey"))
      .withColumn("zbucket", expr("zkey div 16384"))
      .groupBy(col("zbucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"),
        min(col("l_suppkey")).as("min_sk"), max(col("l_suppkey")).as("max_sk"))
      .orderBy(col("zbucket"))

  /** Layout write: range-partition by the Morton key and sort within
    * partitions — every output file then holds a contiguous zkey range
    * (non-overlapping across files), i.e. a bounded rectangle in both
    * dimensions. `LayoutSpec` asserts the non-overlap on real files. */
  def zorderWrite(df: DataFrame, a: String, b: String, path: String,
                  numFiles: Int = 8): Unit =
    df.withColumn("zkey", zkey(a, b))
      .repartitionByRange(numFiles, col("zkey"))
      .sortWithinPartitions(col("zkey"))
      .write.mode("overwrite").parquet(path)

  /** Small-file compaction (round 3): the other half of the layout
    * story. Streaming ingestion and fine-grained partitioning leave
    * thousands of KB-scale files; at 100 TB the scan cost becomes
    * task-scheduling + footer-read bound, not IO bound. The rewrite
    * sizes its output from the MEASURED input bytes (ceil(bytes /
    * 32 MiB target) — control-plane file listing only, no data
    * collect), round-robin repartitions to that count, and verifies
    * content survival with an order-invariant checksum (sum of
    * per-row xxhash64 mod a prime — partial-aggregable, one job per
    * side). Verdict-column oracle: file counts are filesystem facts
    * DuckDB can't see, so the oracle pins the booleans + row count. */
  def compact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact_").toString
    val cols = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    // Resolve the FS from the path, not the default FS: on a cluster
    // defaultFS is HDFS/S3 while createTempDirectory is driver-local.
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val fs = tmpPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      lineitem(spark, dir).select(cols.map(col): _*)
        .repartition(64).write.mode("overwrite").parquet(s"$tmp/small")
      def parts(p: String) =
        fs.listStatus(new org.apache.hadoop.fs.Path(p))
          .filter(_.getPath.getName.startsWith("part-"))
      val small = parts(s"$tmp/small")
      val target = math.max(1,
        math.ceil(small.map(_.getLen).sum / (32.0 * 1024 * 1024)).toInt)
      val before = spark.read.parquet(s"$tmp/small")
      before.repartition(target)
        .write.mode("overwrite").parquet(s"$tmp/compacted")
      def sig(df: DataFrame) = df.agg(count(lit(1)),
        sum(xxhash64(cols.map(col): _*) % lit(1000000007L))).first()
      val (sb, sa) = (sig(before), sig(spark.read.parquet(s"$tmp/compacted")))
      Seq((sa.getLong(0), small.length.toLong,
        parts(s"$tmp/compacted").length < small.length,
        sb.getLong(0) == sa.getLong(0) && sb.getLong(1) == sa.getLong(1)))
        .toDF("n_rows", "files_before", "compacted", "content_ok")
      // ^ a LocalRelation of already-computed scalars — safe to delete tmp.
    } finally fs.delete(tmpPath, true)
  }

  /** Bucketed co-located join (round 4): the layout investment that
    * pays for itself on every subsequent join. Both sides are written
    * `bucketBy(8, joinKey)` (+ in-bucket sort), so the bucketed scans
    * already satisfy the join's hash-partitioning requirement and the
    * SortMergeJoin plans with NO Exchange on either side — at 100 TB
    * the repeated fact⋈fact join never shuffles again (the driver pays
    * one bucketed write, amortized across every downstream query).
    * The merge hint pins SMJ (at test scale the dim side would
    * broadcast, which hides the property being demonstrated). Emits a
    * `no_shuffle_join` verdict column computed from the executed join
    * plan plus the exact join aggregate; the DuckDB twin is the plain
    * join with `true` pinned. */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_bucketed_").toString
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val fs = tmpPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .write.mode("overwrite").option("path", s"$tmp/orders_b")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("graft_orders_b")
      lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_quantity"))
        .write.mode("overwrite").option("path", s"$tmp/lineitem_b")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("graft_lineitem_b")
      val joined = spark.table("graft_lineitem_b").hint("merge")
        .join(spark.table("graft_orders_b"),
          col("l_orderkey") === col("o_orderkey"))
      val agg = joined.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          sum(expr("CAST(l_quantity AS BIGINT)")).as("qty_sum"))
        .orderBy(col("o_orderpriority"))
      val rows = agg.collect() // 5 agg rows — control-plane sized
      // The downstream groupBy/sort legitimately shuffle on THEIR keys;
      // co-location means no exchange hash-partitions on the JOIN keys.
      val plan = agg.queryExecution.executedPlan.toString
      val noShuffle = plan.contains("SortMergeJoin") &&
        !plan.contains("hashpartitioning(l_orderkey") &&
        !plan.contains("hashpartitioning(o_orderkey")
      rows.toSeq.map(r => (r.getString(0), noShuffle, r.getLong(1), r.getLong(2)))
        .toDF("o_orderpriority", "no_shuffle_join", "n_lines", "qty_sum")
      // ^ LocalRelation of computed scalars — safe to delete tmp below.
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_orders_b")
      spark.sql("DROP TABLE IF EXISTS graft_lineitem_b")
      fs.delete(tmpPath, true)
    }
  }

  /** Partitioned + bucketed hybrid sink (J106, round 12 — VERDICT r11
    * #6b): ONE fact layout that serves BOTH axes of join optimization
    * at once — `partitionBy(event_type)` gives dynamic partition
    * pruning against a runtime-filtered dim (the q_join_dpp property),
    * `bucketBy(8, user_id)` + in-bucket sort gives an exchange-free
    * sort-merge join against a same-bucketed user dim (the
    * q_layout_bucketed_join property). The two existing rows each prove
    * one axis on a dedicated scratch table; this row proves they
    * COMPOSE on a single table — the layout a real 100 TB event store
    * actually ships (date/type partitions for pruning, actor buckets
    * for the every-day user join), where the scan must simultaneously
    * skip partitions it never reads and feed the join without a
    * shuffle. Both properties are emitted as verdict COLUMNS computed
    * from the executed plan (`dynamicpruning` present; no
    * `hashpartitioning(user_id` exchange under the SMJ), so the oracle
    * row itself fails if either silently degrades; DuckDB pins both
    * `true` and replays the exact aggregate.
    *
    * The type dim is volume-derived (above tot/5, the joinDpp idiom —
    * a literal IN would be constant-folded and prove nothing); the user
    * dim is the deterministic user_id % 3 = 0 third. Exact BIGINT
    * rollup (count + cents). Write-once scratch per (session, fixture);
    * dropped in finally. */
  def partBucketDpp(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_pb_").toString
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val fs = tmpPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      events(spark, dir)
        .select(col("event_id"), col("user_id"), col("value"),
          col("event_type"))
        .write.mode("overwrite").option("path", s"$tmp/fact_pb")
        .partitionBy("event_type")
        .bucketBy(8, "user_id").sortBy("user_id")
        .saveAsTable("graft_fact_pb")
      events(spark, dir).select(col("user_id")).distinct()
        .filter(col("user_id") % 3 === 0)
        .write.mode("overwrite").option("path", s"$tmp/users_pb")
        .bucketBy(8, "user_id").sortBy("user_id")
        .saveAsTable("graft_users_pb")
      // One materialized census pass serves both the total and the
      // type dim (round-14: the old separate events.count() re-scanned
      // the fact for a number the |types|-row census already carries).
      // The dim stays a Filter over a real relation — NOT a collected
      // literal — so the DPP rule's selective-predicate test still
      // sees a pruning-worthy build side.
      val typeCounts = events(spark, dir).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_type"))
        .localCheckpoint() // |event types| rows
      val tot = typeCounts.agg(sum(col("n_type"))).first().getLong(0)
      val typeDim = typeCounts
        .filter(col("n_type") >= tot / 5)
        .select(col("event_type"))
      val agg = spark.table("graft_fact_pb")
        .join(broadcast(typeDim), "event_type") // → runtime DPP subquery
        .hint("merge") // SMJ, so bucket co-location (not broadcast) is
        .join(spark.table("graft_users_pb"), "user_id") // what's proven
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
            .as("cents"))
        .orderBy(col("event_type"))
      val rows = agg.collect() // surviving-type rollup — control-plane
      val plan = agg.queryExecution.executedPlan.toString
      val dpp = plan.contains("dynamicpruning")
      val noShuffle = plan.contains("SortMergeJoin") &&
        !plan.contains("hashpartitioning(user_id")
      rows.toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), dpp,
          noShuffle))
        .toDF("event_type", "n_rows", "cents", "dpp_pruned",
          "no_shuffle_join")
      // ^ LocalRelation of computed scalars — safe to drop scratch.
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_fact_pb")
      spark.sql("DROP TABLE IF EXISTS graft_users_pb")
      fs.delete(tmpPath, true)
    }
  }

  /** Bucket-PRUNING evidence (J110, round 12): the third payoff of the
    * bucketed layout, completing the story beside the exchange-free
    * join (q_layout_bucketed_join) and the hybrid sink
    * (q_layout_part_bucket) — a literal equality predicate on the
    * bucket column lets the scan read ONE bucket file in eight
    * (`SelectedBucketsCount: 1 out of 8` in the scan node), the
    * point-lookup axis of the layout: at 100 TB a "this actor's
    * history" query reads 1/N of the store with zero index structures.
    * `bucket_pruned` verdict off the executed plan; the predicate must
    * be a LITERAL (bucket pruning is planning-time — a subquery or
    * join key cannot prune buckets, the documented boundary vs DPP).
    * user_id = 7 exists at every fixture scale (checked sf0.001–0.1).
    * Exact BIGINT rollup; oracle pins the verdict + replays it. */
  def bucketPrune(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Child session (same shared catalog, own SQLConf): the
    // DisableUnnecessaryBucketedScan planner rule turns OFF bucketed
    // reading whenever no downstream operator wants the bucket
    // distribution — and it does NOT weigh bucket-PRUNING benefit, so
    // this point lookup would read all 8 buckets as plain files
    // ("Bucketed: false (disabled by query planner)", measured on
    // enrollment). autoBucketedScan stays off only inside this row.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled",
      "false")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_bp_").toString
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val fs = tmpPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      events(s2, dir)
        .select(col("user_id"), col("event_type"), col("value"))
        .write.mode("overwrite").option("path", s"$tmp/ev_b")
        .bucketBy(8, "user_id").sortBy("user_id")
        .saveAsTable("graft_ev_bp")
      val agg = s2.table("graft_ev_bp")
        .filter(col("user_id") === 7L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
            .as("cents"))
        .orderBy(col("event_type"))
      val rows = agg.collect() // one user's rollup — control-plane
      val plan = agg.queryExecution.executedPlan.toString
      val pruned = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(plan)
        .exists(m => m.group(1).toInt < m.group(2).toInt)
      rows.toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), pruned))
        .toDF("event_type", "n_rows", "cents", "bucket_pruned")
      // ^ LocalRelation of computed scalars — safe to drop scratch.
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_ev_bp")
      fs.delete(tmpPath, true)
    }
  }

  /** ANALYZE TABLE / CBO statistics evidence (J123, round 12): the
    * STATIC twin of q_join_aqe_switch — that row proves the runtime
    * rescue; this one proves the planned-right-the-first-time path:
    * a scratch dim is written, `ANALYZE TABLE ... COMPUTE STATISTICS`
    * records its true cardinality in the catalog, and the verdicts pin
    * (a) the catalog rowCount equals the exact count (the stats
    * surface is real, not a stub) and (b) the join against the
    * analyzed dim plans broadcast-hash in the STATIC physical plan
    * (`sparkPlan`, pre-AQE) — no hint, no runtime re-plan needed. At
    * 100 TB the nightly ANALYZE is what lets thousands of queries plan
    * correctly at compile time instead of each paying a wrong-join
    * stage before AQE corrects it. Child session: cbo.enabled scoped
    * to this row. */
  def cboStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.cbo.enabled", "true")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_cbo_").toString
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val fs = tmpPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      orders(s2, dir).filter(col("o_totalprice") > 499000.0)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .write.mode("overwrite").option("path", s"$tmp/dim_cbo")
        .saveAsTable("graft_dim_cbo")
      s2.sql("ANALYZE TABLE graft_dim_cbo COMPUTE STATISTICS")
      val dimCount = s2.table("graft_dim_cbo").count()
      val statsRowCount = s2.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
          "graft_dim_cbo"))
        .stats.flatMap(_.rowCount.map(_.toLong)).getOrElse(-1L)
      val agg = lineitem(s2, dir)
        .select(col("l_orderkey"), col("l_quantity"))
        .join(s2.table("graft_dim_cbo"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          sum(expr("CAST(l_quantity AS BIGINT)")).as("qty_sum"))
        .orderBy(col("o_orderpriority"))
      // the STATIC plan (pre-AQE): stats make the dim provably tiny
      val staticBroadcast = agg.queryExecution.sparkPlan.toString
        .contains("BroadcastHashJoin")
      val rows = agg.collect() // priority rollup — control-plane sized
      rows.toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          statsRowCount == dimCount, staticBroadcast))
        .toDF("o_orderpriority", "n_lines", "qty_sum", "stats_exact",
          "static_broadcast")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_dim_cbo")
      fs.delete(tmpPath, true)
    }
  }

  /** Zone-map pruning evidence: the same lineitem rows laid out into 64
    * "files" two ways — (a) clustered by arrival key l_orderkey (the
    * natural ingest layout) and (b) range-partitioned by ship-date —
    * then, for a fixed one-week ship-date probe, how many files a
    * min/max zone map lets the scanner SKIP, and the read amplification
    * (rows in must-read files ÷ rows actually matching, ×10⁴) each
    * layout pays. This is the measured argument for
    * sort-on-write: identical bytes, 64× different I/O.
    *
    * File assignment is rank-free (key·64 div (max+1)) — no global
    * row_number, so the assignment is deterministic, shuffle-light,
    * and scale-independent (a real writer derives it the same way
    * from the partition value). Days are datediff vs an epoch DATE
    * (NTZ-cast, timezone-free on both engines).
    *
    * Shape per layout: one scan → per-file min/max/count/match zone
    * aggregate (≤64 groups, partial-aggregable) → 1-row fold. The
    * 1-row max(key) frame rides a broadcast cross join. */
  def zonemapPrune(spark: SparkSession, dir: String): DataFrame = {
    val base = lineitem(spark, dir).select(col("l_orderkey"),
      expr("datediff(CAST(l_shipdate AS DATE), DATE'1995-01-01')")
        .as("day"))
    val probeLo = "datediff(DATE'1998-06-01', DATE'1995-01-01')"
    def layout(name: String, fileCol: String): DataFrame = {
      val keyed = base.crossJoin(broadcast(
        base.agg(max(col("l_orderkey")).as("max_ok"),
          max(col("day")).as("max_day"))))
      val zones = keyed
        .withColumn("file", expr(fileCol))
        .withColumn("m",
          expr(s"CASE WHEN day >= $probeLo AND day < $probeLo + 7" +
            " THEN 1L ELSE 0L END"))
        .groupBy(col("file"))
        .agg(min(col("day")).as("zmin"), max(col("day")).as("zmax"),
          count(lit(1)).as("cnt"), sum(col("m")).as("matched"))
        .withColumn("read",
          expr(s"CASE WHEN zmin < $probeLo + 7 AND zmax >= $probeLo" +
            " THEN 1L ELSE 0L END"))
      zones.agg(
        count(lit(1)).as("n_files"),
        sum(col("read")).as("files_read"),
        sum(col("cnt")).as("rows_total"),
        sum(expr("read * cnt")).as("rows_scanned"),
        sum(col("matched")).as("rows_matched"))
        .select(lit(name).as("layout"), col("n_files"), col("files_read"),
          col("rows_total"), col("rows_scanned"), col("rows_matched"),
          expr("(n_files - files_read) * 10000 div n_files")
            .as("prune_rate_e4"),
          expr("rows_scanned * 10000 div greatest(rows_matched, 1)")
            .as("read_amp_e4"))
    }
    layout("arrival_clustered", "l_orderkey * 64 div (max_ok + 1)")
      .unionAll(layout("shipdate_ranged", "day * 64 div (max_day + 1)"))
      .orderBy(col("layout"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_layout_zonemap" -> zonemapPrune,
    "q_layout_zorder" -> zorderStats,
    "q_layout_compact" -> compact,
    "q_layout_bucketed_join" -> bucketedJoin,
    "q_layout_part_bucket" -> partBucketDpp,
    "q_layout_bucket_prune" -> bucketPrune,
    "q_diag_cbo_stats" -> cboStats,
  )

  val oracle: Map[String, String] = Map(
    "q_diag_cbo_stats" ->
      """SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty_sum,
        |  true AS stats_exact, true AS static_broadcast
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_totalprice > 499000
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_layout_bucket_prune" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS cents,
        |  true AS bucket_pruned
        |FROM events WHERE user_id = 7
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_layout_part_bucket" ->
      """WITH tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM events),
        |dim AS (SELECT event_type FROM events GROUP BY 1
        |  HAVING count(*) >= (SELECT t FROM tot) // 5),
        |u AS (SELECT DISTINCT user_id FROM events WHERE user_id % 3 = 0)
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS cents,
        |  true AS dpp_pruned, true AS no_shuffle_join
        |FROM events e JOIN dim ON dim.event_type = e.event_type
        |  JOIN u ON u.user_id = e.user_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_layout_zonemap" ->
      """WITH base AS (SELECT l_orderkey,
        |   datediff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE))
        |     AS day
        |  FROM lineitem),
        |mx AS (SELECT max(l_orderkey) AS max_ok, max(day) AS max_day
        |  FROM base),
        |lo AS (SELECT datediff('day', DATE '1995-01-01',
        |   DATE '1998-06-01') AS p FROM (VALUES (1))),
        |assigned AS (SELECT b.day,
        |   b.l_orderkey * 64 // (mx.max_ok + 1) AS f_arr,
        |   b.day * 64 // (mx.max_day + 1) AS f_rng,
        |   CASE WHEN b.day >= lo.p AND b.day < lo.p + 7
        |     THEN 1 ELSE 0 END AS m
        |  FROM base b CROSS JOIN mx CROSS JOIN lo),
        |za AS (SELECT f_arr AS file, min(day) AS zmin, max(day) AS zmax,
        |   count(*) AS cnt, sum(m) AS matched
        |  FROM assigned GROUP BY f_arr),
        |zr AS (SELECT f_rng AS file, min(day) AS zmin, max(day) AS zmax,
        |   count(*) AS cnt, sum(m) AS matched
        |  FROM assigned GROUP BY f_rng),
        |fold AS (
        | SELECT 'arrival_clustered' AS layout, count(*) AS n_files,
        |  sum(CASE WHEN zmin < lo.p + 7 AND zmax >= lo.p
        |    THEN 1 ELSE 0 END) AS files_read,
        |  sum(cnt) AS rows_total,
        |  sum(CASE WHEN zmin < lo.p + 7 AND zmax >= lo.p
        |    THEN cnt ELSE 0 END) AS rows_scanned,
        |  sum(matched) AS rows_matched
        | FROM za CROSS JOIN lo GROUP BY lo.p
        | UNION ALL
        | SELECT 'shipdate_ranged', count(*),
        |  sum(CASE WHEN zmin < lo.p + 7 AND zmax >= lo.p
        |    THEN 1 ELSE 0 END),
        |  sum(cnt),
        |  sum(CASE WHEN zmin < lo.p + 7 AND zmax >= lo.p
        |    THEN cnt ELSE 0 END),
        |  sum(matched)
        | FROM zr CROSS JOIN lo GROUP BY lo.p)
        |SELECT layout, CAST(n_files AS BIGINT) AS n_files,
        | CAST(files_read AS BIGINT) AS files_read,
        | CAST(rows_total AS BIGINT) AS rows_total,
        | CAST(rows_scanned AS BIGINT) AS rows_scanned,
        | CAST(rows_matched AS BIGINT) AS rows_matched,
        | CAST((n_files - files_read) * 10000 // n_files AS BIGINT)
        |   AS prune_rate_e4,
        | CAST(rows_scanned * 10000 // greatest(rows_matched, 1)
        |   AS BIGINT) AS read_amp_e4
        |FROM fold ORDER BY layout""".stripMargin,
    "q_layout_zorder" ->
      """WITH z AS (SELECT l_partkey, l_suppkey,
        |   CAST(list_sum([
        |     (((l_partkey >> i) & 1)::BIGINT << (2 * i))
        |     + (((l_suppkey >> i) & 1)::BIGINT << (2 * i + 1))
        |     for i in range(0, 16)]) AS BIGINT) AS zkey
        |  FROM lineitem)
        |SELECT zkey // 16384 AS zbucket, count(*) AS n_rows,
        | min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
        | min(l_suppkey) AS min_sk, max(l_suppkey) AS max_sk
        |FROM z GROUP BY zbucket ORDER BY zbucket""".stripMargin,
    "q_layout_compact" ->
      """SELECT count(*) AS n_rows, CAST(64 AS BIGINT) AS files_before,
        | true AS compacted, true AS content_ok
        |FROM lineitem""".stripMargin,
    "q_layout_bucketed_join" ->
      """SELECT o_orderpriority, true AS no_shuffle_join,
        | count(*) AS n_lines,
        | CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
  )
}
