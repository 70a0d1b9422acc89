package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The sf0.1 table set that `SparkEntry.queries` reads, generated with
  * the schemas, row counts and value domains of the repository's test
  * fixture (FIXTURES.md): the TPC-H-style star, the `events` stream table and
  * the LLM-pipeline tables. Every value is a pure function of
  * (`FixtureSeed`, table, row id, column), so the tables, and so the
  * recorded per-row fingerprints, are the same in every run. Each table
  * is written as one parquet file under `<dir>/<name>.parquet/`.
  *
  * Like the compiled classes, the fixture is built once per checkout
  * (`ensure`) and reused by later runs: the query surface's users read
  * tables that already exist, so generating them is not set-up they pay.
  */
object Fixture {
  val FixtureSeed = 42L
  /** Bump when the generator changes, so a stale fixture is rebuilt. */
  val Version = 1

  /** The fixture directory under `.bench_build`, generated first if
    * absent (into a scratch directory under `work`, then renamed). */
  def ensure(spark: SparkSession, work: java.nio.file.Path): String = {
    val dir = work.getParent.getParent.resolve(s"fixture-v$Version")
    if (!java.nio.file.Files.isDirectory(dir)) {
      val t0 = System.nanoTime()
      val tmp = work.resolve("fixture")
      write(spark, tmp.toString)
      java.nio.file.Files.move(tmp, dir)
      System.err.println(f"[perfbench] fixture generated in ${
        (System.nanoTime() - t0) / 1e9}%.1f s")
    }
    dir.toString
  }

  private def u(id: Column, salt: Int): Column =
    pmod(xxhash64(lit(FixtureSeed), id, lit(salt)), lit(1000000000L)) / 1e9
  private def pick(id: Column, salt: Int, xs: Seq[String]): Column =
    element_at(typedLit(xs), (floor(u(id, salt) * xs.size) + 1).cast("int"))
  private def upto(id: Column, salt: Int, n: Long): Column =
    floor(u(id, salt) * n).cast("long")
  private def day(from: String, id: Column, salt: Int, days: Int): Column =
    (lit(from).cast("timestamp_ntz") +
      make_dt_interval(upto(id, salt, days).cast("int"))).as("d")

  private val words = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  def write(spark: SparkSession, dir: String): Unit = {
    def out(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def range(n: Long) = spark.range(n)
    val id = col("id")

    out("region", range(5).select(id.cast("int").as("r_regionkey"),
      element_at(typedLit(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST")), (id + 1).cast("int")).as("r_name")))
    out("nation", range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")))
    out("customer", range(15000).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      upto(id, 1, 25).cast("int").as("c_nationkey"),
      round(u(id, 2) * 10999.65 - 999.85, 2).as("c_acctbal"),
      pick(id, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment")))
    out("supplier", range(1000).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      upto(id, 1, 25).cast("int").as("s_nationkey"),
      round(u(id, 2) * 10964.05 - 976.02, 2).as("s_acctbal")))
    out("part", range(20000).select(id.as("p_partkey"),
      concat_ws(" ", pick(id, 1, Seq("blue", "cold", "hot", "large", "new",
        "old", "red", "small")), pick(id, 2, Seq("anvil", "bolt", "gear",
        "gizmo", "plate", "ring", "rod", "widget"))).as("p_name"),
      concat(lit("Brand#"), upto(id, 3, 25) + 1).as("p_brand"),
      pick(id, 4, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD")).as("p_type"),
      (upto(id, 5, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (id % 1000) * 0.1, 1).as("p_retailprice")))
    out("orders", range(150000).select(id.as("o_orderkey"),
      upto(id, 1, 15000).as("o_custkey"),
      pick(id, 2, Seq("F", "O", "P")).as("o_orderstatus"),
      round(lit(1000.0) + u(id, 3) * 499000.0, 2).as("o_totalprice"),
      day("1995-01-01", id, 4, 2404).as("o_orderdate"),
      pick(id, 5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority")))
    out("lineitem", range(600000).select(
      upto(id, 1, 150000).as("l_orderkey"),
      upto(id, 2, 20000).as("l_partkey"),
      upto(id, 3, 1000).as("l_suppkey"),
      (upto(id, 4, 7) + 1).cast("int").as("l_linenumber"),
      (upto(id, 5, 50) + 1).cast("double").as("l_quantity"),
      round(lit(900.68) + u(id, 6) * 104099.23, 2).as("l_extendedprice"),
      (upto(id, 7, 11) / 100.0).as("l_discount"),
      (upto(id, 8, 9) / 100.0).as("l_tax"),
      pick(id, 9, Seq("A", "N", "R")).as("l_returnflag"),
      pick(id, 10, Seq("F", "O")).as("l_linestatus"),
      day("1995-01-02", id, 11, 2498).as("l_shipdate")))
    // ts increases with event_id: one 25.92 s slot per event over 30 days
    val slotUs = 30L * 86400L * 1000000L / 100000L
    out("events", range(100000).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * slotUs +
        upto(id, 1, slotUs)).cast("timestamp_ntz").as("ts"),
      upto(id, 2, 1500).as("user_id"),
      pick(id, 3, Seq("click", "error", "purchase", "signup", "view"))
        .as("event_type"),
      round(-log(lit(1.0) - u(id, 4)) * 50.0, 2).as("value"),
      concat(lit("{\"k\": "), upto(id, 5, 100), lit("}")).as("props")))
    // one document in twenty repeats an earlier one with a " dup" suffix
    val dup = id % 20 === 11
    val src = when(dup, id - 1 - upto(id, 1, 10)).otherwise(id)
    val text = array_join(transform(sequence(lit(1), (upto(src, 2, 91) + 10)
      .cast("int")), j => element_at(typedLit(words),
        (pmod(xxhash64(lit(FixtureSeed), src, j), lit(words.size)) + 1)
          .cast("int"))), " ")
    out("documents", range(5000)
      .select(id.as("doc_id"),
        when(dup, concat(text, lit(" dup"))).otherwise(text).as("text"),
        when(u(id, 3) < 0.41, lit("en"))
          .otherwise(pick(id, 4, Seq("de", "es", "fr", "zh"))).as("lang"),
        concat(lit("src"), id % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    // 64-d unit vectors around one centre per label
    val label = upto(id, 1, 10)
    val raw = transform(sequence(lit(0), lit(63)), k =>
      (pmod(xxhash64(lit(FixtureSeed), label, k), lit(1000L)) / 1000.0 - 0.5)
        * 0.8 +
      pmod(xxhash64(lit(FixtureSeed), id, k), lit(1000L)) / 1000.0 - 0.5)
    out("embeddings", range(2000)
      .select(id.as("vec_id"), raw.as("raw"), label.cast("int").as("label"))
      .select(col("vec_id"), transform(col("raw"), x =>
        (x / sqrt(aggregate(col("raw"), lit(0.0), (a, y) => a + y * y)))
          .cast("float")).as("embedding"), col("label")))
  }
}
