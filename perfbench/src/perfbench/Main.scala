package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What one workload run hands back: operations attempted and failed
  * (lost, duplicated or wrong output counts as failed), end-to-end
  * metrics (untraced run) and per-layer metrics (traced run). */
final case class Outcome(attempted: Long, failed: Long,
    e2e: Map[String, Double], layers: Map[String, Double])

/** Everything a workload needs from the harness. `startNs` is the JVM's
  * start in epoch ns; `setupEnd()` marks the first timed operation. */
final class Ctx(val spark: SparkSession, val seed: Long,
    val seconds: Int, val tracer: Tracer, val listeners: Listeners,
    val work: Path, val out: Path, val fault: Boolean, val record: Boolean,
    val cores: Int) {
  val startNs: Long = java.lang.management.ManagementFactory
    .getRuntimeMXBean.getStartTime * 1000000L
  private var setupS = -1.0
  def setupEnd(): Unit =
    if (setupS < 0) setupS = (Clock.nowNs - startNs) / 1e9
  def setupSeconds: Double = setupS
  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p.toString
  }
  def trace: Boolean = tracer.enabled
}

object Main {
  val workloads: Map[String, Ctx => Outcome] = Map(
    "ingest_live" -> LiveIngest.run,
    "ingest_backlog" -> Backlog.run,
    "query_mix" -> QueryMix.run)

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") =>
        k.drop(2) -> v
    }.toMap
    val flags = args.filter(_.startsWith("--")).map(_.drop(2)).toSet
    val workload = opts("workload")
    val body = workloads.getOrElse(workload,
      sys.error(s"unknown workload $workload; have ${
        workloads.keys.toSeq.sorted.mkString(", ")}"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toInt
    val trace = opts.getOrElse("trace", "0") == "1"

    val build = Paths.get(".bench_build").toAbsolutePath
    val work = build.resolve("work").resolve(
      s"$workload-$seed-${ProcessHandle.current.pid}")
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.local.dir", build.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, seed, seconds, new Tracer(trace),
      new Listeners(spark, trace), work, build.resolve("out"),
      flags("fault"), flags("record"), cores)
    val outcome =
      try body(ctx)
      finally {
        spark.streams.active.foreach(q => try q.stop() catch {
          case _: Throwable => () })
      }
    val metrics =
      if (trace) outcome.layers
      else outcome.e2e ++ Map(
        "setup_s" -> ctx.setupSeconds,
        "peak_rss_mb" -> peakRssMb)
    if (trace) {
      val path = ctx.out.resolve(s"spans-$workload-$seed.jsonl")
      val summary = ctx.tracer.write(path)
      System.err.println(s"[perfbench] ${ctx.tracer.all.size} spans -> $path")
      summary.toSeq.sortBy(-_._2._3).take(12).foreach { case (n, (c, t, s)) =>
        System.err.println(f"[perfbench]   $n%-28s n=$c%6d total=$t%10.1f ms self=$s%10.1f ms")
      }
    }
    spark.stop()
    deleteTree(work)
    println(Json.obj(Seq(
      "attempted" -> outcome.attempted.toString,
      "failed" -> outcome.failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map {
        case (k, v) => k -> Json.num(v) }))))
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f): Unit)
    finally s.close()
  }
}
