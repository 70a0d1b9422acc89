package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one place a SparkSession is configured. Every main and every
  * spec builds its session here, so their settings cannot drift apart
  * and timings taken by different mains stay comparable. */
object GraftSession {
  /** Cores for `local[n]` and the shuffle partition count:
    * `SPARK_GRAFT_CPUS` when set, else every core the JVM sees. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The shared settings; callers add their own before `getOrCreate`. */
  def builder(n: Int = cpus): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$n]")
    .config("spark.sql.shuffle.partitions", n.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // The codegen class cache holds 100 entries by default — far
    // under this suite's 572 plans, so any reading taken more than
    // ~100 plans after its warmup re-pays janino compilation
    // (~0.3–1 s/row; measured round 13 on a warmup-all-then-time-
    // once variant). Bench's interleaved pairs mostly dodge eviction
    // by construction, but its end-of-run confirm pass and min-of-3
    // re-reads still benefit. Static conf: must be set at session
    // build.
    .config("spark.sql.codegen.cache.maxEntries", "4000")
    // AQE coalescing stays at Spark defaults (parallelismFirst=true,
    // advisory 64m) — measured round 14, guide §1.2 step 3: forcing
    // data-sized coalescing (parallelismFirst=false, 64m advisory)
    // read 78.5 s vs 60.4 s default on a 40-row subset. The losers
    // are CPU-bound per-key folds over small shuffles (croston
    // 1.78→5.03 s, weighted_median 2.28→4.31, jaccard 1.57→3.61) —
    // at THIS suite's scale the reduce stages are compute-bound, not
    // task-overhead-bound, so byte-targeted coalescing serializes
    // real work. OPTIMIZATION_r14.md has the full A/B table.

  /** A main's session: the shared settings, Spark logging at WARN. */
  def local(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Seconds to build `df` and write every row of it to the noop sink,
    * or -1 when the build or the write throws. The noop V2 sink forces
    * FULL execution including the final global sort: `.count()` would
    * let Catalyst eliminate the orderBy and prune every projected
    * expression (EliminateSorts/ColumnPruning), timing a fraction of
    * the real query. CacheManager matches canonicalized plans, so a
    * re-built identical DataFrame in a later run would silently reuse
    * cached data — the cache is dropped eagerly, outside the timing
    * window. */
  def timeNoop(spark: SparkSession)(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    val ok =
      try { df.write.mode("overwrite").format("noop").save(); true }
      catch { case _: Throwable => false }
    val dt = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    if (ok) dt else -1.0
  }
}
