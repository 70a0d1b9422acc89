package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._

/** SURVEY.md §2-A — scans, sources, sinks (batch rows).
  *
  * Reference analogs: the Docker event pump consumes the full event
  * stream (muswarmlogger/main.py event loop), deserializes JSON payloads
  * (muswarmlogger/events.py new_event), and renders RDF triples
  * (muswarmlogger/loggers.py via aiosparql Triples) — re-expressed here
  * as columnar scans with pushdown, `from_json`, and a wide→long triples
  * projection.
  *
  * Scale notes: scans rely on Parquet vectorized read + pushdown (verify
  * `PushedFilters`/`ReadSchema` in .explain). The triples export is a
  * narrow projection + explode — no shuffle at all until the final sort.
  */
object Scans extends graft.Enrolled {

  /** Fixed per-query scratch dir (reused with overwrite across runs) —
    * a fresh createTempDirectory per invocation would accumulate a new
    * full copy of the data on every Bench/Verify run. */
  private def scratch(name: String): String = {
    val d = new java.io.File(
      System.getProperty("java.io.tmpdir"), s"graft_scratch/$name")
    d.mkdirs()
    d.toString
  }

  /** Full scan, all columns. Dates cast to DATE (all values are midnight;
    * keeps the cross-engine compare representation-stable). */
  def scanFull(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .withColumn("l_shipdate", col("l_shipdate").cast(DateType))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** Column pruning + predicate pushdown: 2 of 11 columns, filtered scan.
    * The plan must show PushedFilters on l_shipdate and a 3-column
    * ReadSchema (filter col + 2 projected). */
  def scanPrunePushdown(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1998-01-01"))
      .select(col("l_orderkey"), col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_quantity"))

  /** Embedded-JSON parse: events.props '{"k": 87}' → typed struct field. */
  def scanJsonEmbedded(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_id"),
        from_json(col("props"), StructType(Seq(StructField("k", IntegerType))))
          .getField("k").as("k"))
      .orderBy(col("event_id"))

  /** Second file format: round-trip `region` through CSV with an explicit
    * schema (header-less, temp dir), proving non-parquet source/sink IO. */
  def sourceCsvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = scratch("csv")
    region(spark, dir).write.mode("overwrite").csv(tmp)
    spark.read
      .schema(StructType(Seq(
        StructField("r_regionkey", IntegerType),
        StructField("r_name", StringType))))
      .csv(tmp)
      .orderBy(col("r_regionkey"))
  }

  /** Text-lines source roundtrip (round 6): the rawest ingestion
    * surface — write the corpus as plain line-per-doc text shards
    * (fixture text is newline-free, asserted at write time by the
    * format itself), read them back with `spark.read.text`, and reduce
    * to an ORDER-INDEPENDENT digest (line count, modular line-hash
    * sum, total chars) since a text directory has no row order or ids.
    * This is the log-follower's batch twin: the reference tails
    * plain-text container logs line by line (muswarmlogger/loggers.py
    * save_container_logs ≈L120 [C-med]); a re-ingestion of those
    * archives is exactly this scan.
    *
    * Scale shape: map-only write, map-only read, one partial-
    * aggregable global digest — no shuffle at all. */
  def sourceTextRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = scratch("textlines")
    documents(spark, dir).select(col("text"))
      .write.mode("overwrite").text(tmp)
    spark.read.text(tmp)
      .agg(count(lit(1)).as("n_lines"),
        (sum(expr(s"${LlmOps.h60("value")} % 1000000007"))
          % lit(1000000007L)).as("line_hash_sum"),
        sum(length(col("value")).cast("long")).as("n_chars_total"))
  }

  /** Malformed-input contract (round 4): read a CSV stream containing
    * broken lines under PERMISSIVE mode — well-formed rows parse, broken
    * rows surface in `_corrupt_record` instead of failing the job, and
    * the query reports both populations. The batch twin of the
    * streaming log-follower's malformed-line robustness
    * (DockerEvents tolerates broken JSON lines the same way;
    * reference analog: muswarmlogger/loggers.py tolerating non-JSON
    * docker log lines ≈L120 [C-med]). Every 7th row is corrupted
    * deterministically (non-numeric key, truncated quote). */
  def sourceCsvMalformed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = scratch("csv_bad")
    val lines = nation(spark, dir)
      .select(col("n_nationkey"), col("n_name"))
      .orderBy(col("n_nationkey"))
      .collect() // 25 dim rows — driver-side minting of the fixture only
      .map { r =>
        val (k, n) = (r.getInt(0), r.getString(1))
        if (k % 7 == 3) s"not_a_number,$n" else s"$k,$n"
      }
    spark.sparkContext.parallelize(lines.toSeq, 2).toDF("value")
      .write.mode("overwrite").text(tmp)
    val parsed = spark.read
      .schema(StructType(Seq(
        StructField("k", IntegerType),
        StructField("name", StringType),
        StructField("_corrupt_record", StringType))))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(tmp)
      .cache() // corrupt-column queries need the parse materialized once
    parsed
      .select(col("k"), col("name"),
        col("_corrupt_record").isNotNull.as("is_corrupt"))
      .orderBy(col("name"))
  }

  /** RDF-export parity: wide event rows → long (s,p,o) triples with minted
    * IRIs, mirroring the reference's aiosparql Triples rendering
    * (muswarmlogger/loggers.py ≈L45). One explode, no join/shuffle. */
  def sinkTriplesExport(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val s = concat(lit("http://swarmui.semte.ch/resources/events/"),
      col("event_id"))
    ev.select(s.as("s"), explode(array(
        struct(lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#type").as("p"),
          lit("http://swarmui.semte.ch/vocabularies/core/Event").as("o")),
        struct(lit("http://purl.org/dc/terms/type").as("p"),
          col("event_type").as("o")),
        struct(lit("http://mu.semte.ch/vocabularies/core/user").as("p"),
          col("user_id").cast(StringType).as("o")),
        struct(lit("http://purl.org/dc/terms/created").as("p"),
          expr("ts_ns div 1000000000").cast(StringType).as("o"))
      )).as("po"))
      .select(col("s"), col("po.p").as("p"), col("po.o").as("o"))
      .orderBy(col("s"), col("p"), col("o"))
  }

  /** JSON source round-trip with explicit schema. */
  def sourceJsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = scratch("json")
    nation(spark, dir).write.mode("overwrite").json(tmp)
    spark.read
      .schema(StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType))))
      .json(tmp)
      .orderBy(col("n_nationkey"))
  }

  /** ORC source round-trip (third columnar format). */
  def sourceOrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = scratch("orc")
    supplier(spark, dir).write.mode("overwrite").orc(tmp)
    spark.read.orc(tmp).orderBy(col("s_suppkey"))
  }

  /** Parquet round-trip under zstd (round 2): the compression codec is
    * a first-order knob at 100 TB (zstd ≈ snappy read speed at a
    * visibly better ratio, Spark bundles zstd-jni); identity round-trip
    * proves the codec path end to end. */
  def sourceParquetZstd(spark: SparkSession, dir: String): DataFrame = {
    val tmp = scratch("zstd")
    nation(spark, dir).write.mode("overwrite")
      .option("compression", "zstd").parquet(tmp)
    spark.read.parquet(tmp).orderBy(col("n_nationkey"))
  }

  /** Date-partitioned sink + partition-pruned read-back: the batch
    * analog of the streaming store (EventIngest). The read of one date
    * must scan only that partition directory (PartitionFilters in the
    * plan) — the 100 TB pruning story. */
  def sinkPartitionedPrune(spark: SparkSession, dir: String): DataFrame = {
    val tmp = scratch("partitioned")
    events(spark, dir)
      .withColumn("date", col("ts").cast(DateType).cast(StringType))
      .write.mode("overwrite").partitionBy("date").parquet(tmp)
    spark.read.parquet(tmp)
      .filter(col("date") === "2024-01-15")
      .select(col("event_id"), col("user_id"), col("event_type"))
      .orderBy(col("event_id"))
  }

  /** Parquet schema evolution (round 4): a 100 TB table accretes
    * columns over its lifetime — epoch-1 files carry (doc_id, lang),
    * epoch-2 files land in the SAME directory with an added n_chars
    * column. `mergeSchema` unifies the footers at planning time and
    * old files surface NULL for the new column; the aggregate proves
    * both populations are read through one scan (count vs non-null
    * count vs sum over the evolved column). No rewrite of old files —
    * the evolution cost is a footer merge, not a 100 TB copy. */
  def scanSchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val tmp = scratch("evolve")
    val docs = documents(spark, dir)
    docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("lang"))
      .write.mode("overwrite").parquet(s"$tmp/t")
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .write.mode("append").parquet(s"$tmp/t")
    spark.read.option("mergeSchema", "true").parquet(s"$tmp/t")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("n_chars")).as("n_with_chars"),
        sum(col("n_chars")).as("chars_sum"))
      .orderBy(col("lang"))
  }

  /** Sharded JSONL corpus export (round 4): the release step of every
    * training-data pipeline — shard membership is a pure function of
    * doc_id (md5-h60 % 4, same parity trick as the split assign), so
    * shards are stable across reruns and engines; the write is one
    * `partitionBy(shard).json` pass (JSONL is Spark's native json sink
    * format, one object per line). The read-back verdict proves
    * CONTENT round-trip, not just counts: per-shard doc count, char
    * sum, and an order-invariant text hash (sum of xxhash64 mod prime)
    * must survive the JSON encode/decode. */
  def sinkJsonlShards(spark: SparkSession, dir: String): DataFrame = {
    val tmp = scratch("jsonl_shards")
    val docs = documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"), col("n_chars"))
      .withColumn("shard",
        expr(s"${LlmOps.h60("CAST(doc_id AS STRING)")} % 4"))
    def sig(df: DataFrame) = df.groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars_sum"),
        sum(xxhash64(col("text")) % lit(1000000007L)).as("th"))
    docs.write.mode("overwrite").partitionBy("shard").json(tmp)
    val pre = sig(docs)
    val post = sig(spark.read.json(tmp))
      .withColumnRenamed("n_docs", "n2").withColumnRenamed("chars_sum", "c2")
      .withColumnRenamed("th", "t2")
    pre.join(post, Seq("shard"))
      .select(col("shard"), col("n_docs"),
        col("chars_sum").cast("long").as("chars_sum"),
        (col("n_docs") === col("n2") && col("chars_sum") === col("c2")
          && col("th") === col("t2")).as("content_ok"))
      .orderBy(col("shard"))
  }

  /** Row provenance via the hidden `_metadata` columns (round 4
    * part 2): which physical file contributed which rows — the
    * debugging/lineage surface every 100 TB incident review starts
    * from ("which ingest batch produced the bad rows?"). Per-file row
    * counts and key ranges, computed without reading any data column
    * except the key (the metadata struct is populated from the scan's
    * split info, not file contents). */
  def scanMetadataCols(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("_metadata.file_name").as("file"), col("l_orderkey"))
      .groupBy(col("file"))
      .agg(count(lit(1)).as("n_rows"), min(col("l_orderkey")).as("min_key"),
        max(col("l_orderkey")).as("max_key"))
      .orderBy(col("file"))

  /** Spark 4 VARIANT surface (round 5): `parse_json` → binary-encoded
    * semi-structured VariantType → typed `variant_get` path extraction
    * (incl. a nested path and a `try_variant_get` miss). Why it matters
    * at 100 TB: variant parses each JSON document ONCE into an indexed
    * binary encoding; repeated path accesses are offset lookups, not
    * string re-parses — the open-format answer to "json strings are our
    * hottest column". The rollup proves typed extraction: per-type
    * counts, Σ of a bigint path, the same Σ through a constructed
    * nested variant, and a 0 count from an absent path. */
  def scanVariant(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("pv", parse_json(col("props")))
      .withColumn("nv", parse_json(concat(lit("{\"a\":{\"b\":"),
        expr("variant_get(pv, '$.k', 'bigint')"), lit("}}"))))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(expr("variant_get(pv, '$.k', 'bigint')")).as("sum_k"),
        sum(expr("variant_get(nv, '$.a.b', 'bigint')")).as("sum_nested"),
        count(expr("try_variant_get(pv, '$.absent', 'bigint')"))
          .as("n_absent"))
      .orderBy(col("event_type"))

  /** Gzip JSONL roundtrip (round 5): web-scale text corpora ship as
    * `.jsonl.gz` shards — write documents' metadata as gzip JSON lines,
    * read back through Spark's transparent codec detection (by file
    * extension), and prove content identity via a checksum-style rollup
    * (per-lang doc counts + char sums). Operational caveat encoded
    * here: gzip is NOT splittable, so one shard = one task at read
    * time — shard count, not shard size, sets read parallelism (the
    * `repartition(4)` writes 4 shards for 4-way parallel re-read; zstd
    * parquet, the splittable columnar path, is the q_source_parquet_zstd
    * row). */
  def sourceJsonlGzip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = scratch("jsonlgz")
    documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .repartition(4)
      .write.mode("overwrite").option("compression", "gzip").json(tmp)
    spark.read
      .schema(StructType(Seq(
        StructField("doc_id", LongType),
        StructField("lang", StringType),
        StructField("n_chars", LongType))))
      .json(tmp)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))
  }

  /** Parquet aggregate pushdown (J102, round 11): COUNT/MIN/MAX
    * answered from parquet FOOTER STATISTICS instead of scanning rows
    * — at 100 TB the difference between reading metadata and reading
    * the table (the "how many rows do we have" query every pipeline
    * fires constantly). Spark gates this behind
    * `spark.sql.parquet.aggregatePushdown`; the row builds on a
    * `newSession()` CLONE so the flag scopes to this plan and can
    * never leak into other enrolled rows' plans. BatchSpec pins
    * `PushedAggregation` in the scan, so the row can't silently
    * degrade to a row scan. Pushdown holds only for unfiltered,
    * ungrouped, non-nested aggregates — exactly this shape; the
    * filtered variants fall back to q_scan_prune_pushdown's
    * row-level machinery. */
  def scanAggPushdown(spark: SparkSession, dir: String): DataFrame = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    // aggregate pushdown lives in the V2 parquet reader only; the
    // default useV1SourceList pins parquet to V1 — clear it on the
    // CLONE (session-scoped, like the pushdown flag itself)
    s2.conf.set("spark.sql.sources.useV1SourceList", "")
    s2.read.parquet(s"$dir/orders.parquet")
      .agg(count(lit(1)).as("n_rows"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_scan_agg_pushdown" -> scanAggPushdown,
    "q_source_jsonl_gzip" -> sourceJsonlGzip,
    "q_scan_variant" -> scanVariant,
    "q_scan_full" -> scanFull,
    "q_scan_metadata_cols" -> scanMetadataCols,
    "q_scan_schema_evolution" -> scanSchemaEvolution,
    "q_sink_jsonl_shards" -> sinkJsonlShards,
    "q_source_json_roundtrip" -> sourceJsonRoundtrip,
    "q_source_orc_roundtrip" -> sourceOrcRoundtrip,
    "q_source_parquet_zstd" -> sourceParquetZstd,
    "q_sink_partitioned_prune" -> sinkPartitionedPrune,
    "q_scan_prune_pushdown" -> scanPrunePushdown,
    "q_scan_json_embedded" -> scanJsonEmbedded,
    "q_source_csv_roundtrip" -> sourceCsvRoundtrip,
    "q_source_csv_malformed" -> sourceCsvMalformed,
    "q_source_text_roundtrip" -> sourceTextRoundtrip,
    "q_sink_triples_export" -> sinkTriplesExport,
  )

  val oracle: Map[String, String] = Map(
    "q_scan_agg_pushdown" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(min(o_orderkey) AS BIGINT) AS min_key,
        | CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM orders""".stripMargin,
    // The digest is order-independent, so the oracle computes it from
    // the documents table directly (the roundtrip itself is Spark-side)
    "q_source_text_roundtrip" ->
      """SELECT count(*) AS n_lines,
        | CAST(sum(CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT)
        |   % 1000000007) % 1000000007 AS BIGINT) AS line_hash_sum,
        | CAST(sum(length(text)) AS BIGINT) AS n_chars_total
        |FROM documents""".stripMargin,
    // VARIANT is Spark-side; the oracle replicates the typed extractions
    // with DuckDB's json accessors (n_absent: every probe of a missing
    // path is NULL, so the count is exactly 0)
    // roundtrip identity: the gzip write/read must preserve content
    // exactly, so the rollup equals the same rollup on the source table
    "q_source_jsonl_gzip" ->
      """SELECT lang, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_scan_variant" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |   AS BIGINT) AS sum_k,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |   AS BIGINT) AS sum_nested,
        | CAST(0 AS BIGINT) AS n_absent
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_scan_metadata_cols" ->
      // ground-truth reconstruction (the driver's comparator runs oracle
      // SQL against table VIEWS, so no filename=true scan here): the
      // fixture layout is exactly one file per table, so provenance must
      // attribute every row to lineitem.parquet — the Spark side reads
      // the name from _metadata, the oracle pins what it must be
      """SELECT 'lineitem.parquet' AS file, count(*) AS n_rows,
        | min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
        |FROM lineitem GROUP BY 1 ORDER BY file""".stripMargin,
    "q_sink_jsonl_shards" ->
      """WITH b AS (SELECT n_chars,
        |   CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15) AS BIGINT)
        |     % 4 AS shard FROM documents)
        |SELECT shard, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS chars_sum, true AS content_ok
        |FROM b GROUP BY shard ORDER BY shard""".stripMargin,
    "q_scan_schema_evolution" ->
      """SELECT lang, count(*) AS n_rows,
        | count(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS n_with_chars,
        | CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT)
        |   AS chars_sum
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_source_json_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "q_source_csv_malformed" ->
      """SELECT CASE WHEN n_nationkey % 7 = 3 THEN NULL
        |   ELSE n_nationkey END AS k,
        | n_name AS name, n_nationkey % 7 = 3 AS is_corrupt
        |FROM nation ORDER BY name""".stripMargin,
    "q_source_orc_roundtrip" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
        |ORDER BY s_suppkey""".stripMargin,
    "q_source_parquet_zstd" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "q_sink_partitioned_prune" ->
      """SELECT event_id, user_id, event_type FROM events
        |WHERE CAST(ts AS DATE) = DATE '2024-01-15'
        |ORDER BY event_id""".stripMargin,
    "q_scan_full" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
        | l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
        | CAST(l_shipdate AS DATE) AS l_shipdate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_scan_prune_pushdown" ->
      """SELECT l_orderkey, l_quantity FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        |ORDER BY l_orderkey, l_quantity""".stripMargin,
    "q_scan_json_embedded" ->
      """SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "q_source_csv_roundtrip" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "q_sink_triples_export" ->
      """WITH ev AS (SELECT 'http://swarmui.semte.ch/resources/events/' || event_id AS s,
        |  event_type, user_id, epoch_ns(ts) // 1000000000 AS ts_s FROM events)
        |SELECT s, p, o FROM (
        |  SELECT s, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS p,
        |    'http://swarmui.semte.ch/vocabularies/core/Event' AS o FROM ev
        |  UNION ALL
        |  SELECT s, 'http://purl.org/dc/terms/type', event_type FROM ev
        |  UNION ALL
        |  SELECT s, 'http://mu.semte.ch/vocabularies/core/user',
        |    CAST(user_id AS VARCHAR) FROM ev
        |  UNION ALL
        |  SELECT s, 'http://purl.org/dc/terms/created',
        |    CAST(ts_s AS VARCHAR) FROM ev)
        |ORDER BY s, p, o""".stripMargin,
  )
}
