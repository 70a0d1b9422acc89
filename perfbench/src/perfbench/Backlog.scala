package perfbench

import java.io.BufferedWriter
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.streaming.{DockerEvents, EventIngest}

/** `ingest_backlog`: closed-loop drain of a backlog that lands as a few
  * large files per round, then store reads.
  *
  * Each round moves `FilesPerRound` files of Docker-event JSON into the
  * source of `EventIngest.start` and as many files of raw log lines into
  * the source of `EventIngest.startLogFollower`, and waits for each with
  * `processAllAvailable`; untimed first rounds warm both pipelines.
  * `rate_per_s` is a round's rows (events and log lines) over the median
  * round's drain time. JSON parse and the partitioned parquet write
  * dominate here, the opposite split to `ingest_live`. After the drains
  * one client runs store reads round-robin until the window ends (at
  * least `MinReads`): the full triples export (`EventIngest.storeTriples`),
  * one date's per-service action counts, and one container's events.
  *
  * Outputs are checked against the generated inputs: the stored
  * (container_id, ts, action) multiset equals the valid events sent,
  * stored (ts, line) pairs equal the valid log lines and their uuids are
  * unique, and every read returns the count the inputs imply. One line in
  * `MalformedEvery` of each kind is malformed and must be dropped.
  */
object Backlog {
  /** Untimed rounds first: the drain path's JIT warm-up lasts several
    * rounds, and timed rounds taken during it read 30 % apart run to run. */
  val WarmRounds = 2
  val Rounds = 4
  val FilesPerRound = 4
  /** Events per round, and as many log lines. */
  val RowsPerRound = 10000
  val MalformedEvery = 5000
  val Containers = 200
  val Days = 3
  val MinReads = 24
  /** 2024-03-01T00:00:00Z */
  val BaseSec = 1709251200L

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val evSrc = ctx.dir("events_src")
    val logSrc = ctx.dir("logs_src")
    val evStore = ctx.work.resolve("events_store").toString
    val logStore = ctx.work.resolve("logs_store").toString

    // ---- set-up: stage every round, warm both pipelines ----
    val gen = new Gen(ctx.seed, dropOne = ctx.fault)
    (1 to WarmRounds + Rounds).foreach { r =>
      gen.stage(ctx.work.resolve(s"stage/ev$r"), ctx.work.resolve(s"stage/log$r"),
        RowsPerRound, FilesPerRound)
    }
    val qe = EventIngest.start(spark, evSrc, evStore,
      ctx.work.resolve("ckpt_ev").toString)
    val ql = EventIngest.startLogFollower(spark, logSrc, gen.logContainer,
      logStore, ctx.work.resolve("ckpt_log").toString)
    def drain(r: Int, timed: Boolean): Double =
      Seq((qe, "ev", evSrc, "events"), (ql, "log", logSrc, "logs")).map {
        case (q, tag, src, kind) =>
          ctx.tracer.span(s"round-$r", 0,
            if (timed) s"backlog.drain_$kind" else s"backlog.warm_$kind") { _ =>
            val t0 = System.nanoTime()
            land(ctx.work.resolve(s"stage/$tag$r"), src)
            q.processAllAvailable()
            (System.nanoTime() - t0) / 1e9
          }
      }.sum
    (1 to WarmRounds).foreach(drain(_, timed = false))
    ctx.setupEnd()

    // ---- timed: drains ----
    val timedStartNs = Clock.nowNs
    val roundS = (WarmRounds + 1 to WarmRounds + Rounds).map(drain(_, timed = true))

    // ---- timed: store reads until the window ends ----
    val rnd = new java.util.Random(ctx.seed)
    val dates = gen.perDate.keys.toIndexedSeq.sorted
    val cids = gen.perContainer.keys.toIndexedSeq.sorted
    final case class Read(seconds: Double, ok: Boolean, files: Double,
        bytes: Double)
    val reads = mutable.ArrayBuffer[Read]()
    val endNs = timedStartNs + ctx.seconds * 1000000000L
    while (Clock.nowNs < endNs || reads.size < MinReads) {
      val i = reads.size
      val (kind, df, expect) = i % 3 match {
        case 0 =>
          ("triples", EventIngest.storeTriples(spark, evStore)
            .agg(count(lit(1))), 2L * gen.perDate.values.sum)
        case 1 =>
          val d = dates(rnd.nextInt(dates.size))
          ("date_service_actions", spark.read.parquet(evStore)
            .where(col("date") === lit(d).cast("date"))
            .groupBy("service", "action").count()
            .agg(sum("count")), gen.perDate(d))
        case _ =>
          val c = cids(rnd.nextInt(cids.size))
          ("container_events", spark.read.parquet(evStore)
            .where(col("container_id") === c)
            .select("ts", "action").agg(count(lit(1))), gen.perContainer(c))
      }
      val (got, sec) = ctx.tracer.span(s"read-$i", 0, s"store.read_$kind") {
        _ =>
          val t0 = System.nanoTime()
          val r = scala.util.Try(df.collect().head.getLong(0))
          (r, (System.nanoTime() - t0) / 1e9)
      }
      val ok = got.toOption.contains(expect)
      if (!ok) System.err.println(
        s"[perfbench] read $kind returned $got, expected $expect")
      val (f, b) = if (ctx.trace) scanned(df.queryExecution.executedPlan)
        else (0.0, 0.0)
      reads += Read(sec, ok, f, b)
    }
    qe.stop(); ql.stop()

    // ---- checks ----
    val storedEv = spark.read.parquet(evStore)
      .select(col("container_id"), expr("unix_micros(ts)"), col("action"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val logs = spark.read.parquet(logStore)
    val storedLog = logs.select(expr("unix_micros(ts)"), col("line"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val uuidDup = logs.count() - logs.select("uuid").distinct().count()
    val evFailed = multisetDiff(gen.events, storedEv)
    val logFailed = multisetDiff(gen.logs, storedLog) + uuidDup
    val readFailed = reads.count(!_.ok)
    if (evFailed + logFailed > 0) System.err.println(
      s"[perfbench] ingest_backlog: $evFailed event and $logFailed log " +
        s"rows lost, duplicated or wrong ($uuidDup duplicate uuids)")

    val lat = reads.map(_.seconds)
    val e2e = Map(
      "p50_s" -> Stats.median(lat),
      "tail_s" -> Stats.tail(lat),
      "rate_per_s" -> 2 * RowsPerRound / Stats.median(roundS))
    System.err.println(s"[perfbench] rounds of ${2 * RowsPerRound} rows " +
      s"drained in ${roundS.map(s => f"$s%.3f").mkString(", ")} s; " +
      s"${reads.size} reads")

    val layers = if (!ctx.trace) Map.empty[String, Double] else {
      def inWindow(id: java.util.UUID) = ctx.listeners.progress.of(id)
        .filter(p => p.numInputRows > 0 &&
          ProgressLog.epochMs(p) * 1000000L >= timedStartNs)
      // batch ids of the two queries overlap; key them apart
      def keyed(q: Int, ps: Seq[StreamingQueryProgress]) =
        ps.map(p => (q.toLong << 40 | p.batchId) -> p)
      def keyedFiles(q: Int, ckpt: String) =
        Layers.filesPerBatch(ctx.work.resolve(ckpt).toString)
          .map { case (b, n) => (q.toLong << 40 | b) -> n }
      val (sFiles, sParts, sBytes) = Layers.storeShape(evStore)
      val lines = gen.lines
      Layers.zero ++
        Layers.ingest(keyed(0, inWindow(qe.id)) ++ keyed(1, inWindow(ql.id)),
          keyedFiles(0, "ckpt_ev") ++ keyedFiles(1, "ckpt_log"),
          timedStartNs) ++ Map(
        "parse.events_eps" -> timeParse(spark, ctx.tracer, "parse.events",
          lines, DockerEvents.normalizeEvents(
            spark.read.schema(DockerEvents.eventSchema)
              .option("mode", "DROPMALFORMED").json(evSrc))),
        "parse.logs_eps" -> timeParse(spark, ctx.tracer, "parse.logs", lines,
          DockerEvents.parseLogLines(spark.read.text(logSrc),
            gen.logContainer)),
        "parse.dropped_lines" ->
          (2.0 * lines - storedEv.length - storedLog.length),
        "store.files" -> sFiles.toDouble,
        "store.partitions" -> sParts.toDouble,
        "store.bytes_per_event" -> sBytes.toDouble / storedEv.length,
        "store.files_per_read" -> reads.map(_.files).sum / reads.size,
        "store.read_scan_bytes" -> reads.map(_.bytes).sum) ++
        Layers.traced(e2e)
    }
    Outcome(2L * gen.lines + reads.size, evFailed + logFailed + readFailed,
      e2e, layers)
  }

  /** Rows of `want` missing from `got` plus rows of `got` not wanted. */
  private def multisetDiff[T](want: collection.Seq[T],
      got: collection.Seq[T]): Long = {
    val n = mutable.HashMap[T, Long]().withDefaultValue(0L)
    want.foreach(k => n(k) += 1)
    got.foreach(k => n(k) -= 1)
    n.values.map(math.abs).sum
  }

  /** Batch parse of every source line to the noop sink; lines/s. */
  private def timeParse(spark: SparkSession, tracer: Tracer, name: String,
      lines: Long, df: DataFrame): Double =
    tracer.span(name, 0, name) { _ =>
      val t0 = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      lines / ((System.nanoTime() - t0) / 1e9)
    }

  /** Files and bytes the plan's file scans read. */
  private def scanned(plan: SparkPlan): (Double, Double) = {
    val scans = new AdaptiveSparkPlanHelper {}.collect(plan) {
      case p if p.nodeName.startsWith("Scan") => p
    }
    def m(k: String) =
      scans.flatMap(_.metrics.get(k)).map(_.value).sum.toDouble
    (m("numFiles"), m("filesSize"))
  }

  /** Moves every staged file into `dst` (atomic rename, as a daemon-side
    * writer would land it). */
  private def land(from: Path, dst: String): Unit = {
    val s = Files.list(from)
    try s.iterator.asScala.toSeq.foreach { f =>
      Files.move(f, Paths.get(dst, f.getFileName.toString),
        StandardCopyOption.ATOMIC_MOVE)
    } finally s.close()
  }

  /** Seeded inputs, written straight to files, and what the store must
    * hold afterwards. With `dropOne` one event is recorded as written but
    * left out of its file (fault injection). */
  final class Gen(seed: Long, dropOne: Boolean) {
    private val content = new DockerContent(seed, Containers)
    private val rnd = new SplittableRandom(seed + 2)
    val logContainer: String = content.containers.head.id
    val events = mutable.ArrayBuffer[(String, Long, String)]()
    val logs = mutable.ArrayBuffer[(Long, String)]()
    val perDate = mutable.Map[String, Long]().withDefaultValue(0L)
    val perContainer = mutable.Map[String, Long]().withDefaultValue(0L)
    /** Lines written per kind, malformed ones included. */
    var lines = 0L
    private var fileNo = 0

    def stage(evDir: Path, logDir: Path, n: Int, files: Int): Unit = {
      Files.createDirectories(evDir); Files.createDirectories(logDir)
      def open(dir: Path, i: Int) = Files.newBufferedWriter(
        dir.resolve(f"part-${fileNo + i}%05d.txt"), UTF_8)
      val ev = (0 until files).map(open(evDir, _))
      val lg = (0 until files).map(open(logDir, _))
      fileNo += files
      try (0 until n).foreach { i =>
        val id = lines
        lines += 1
        writeEvent(ev(i % files), id)
        writeLog(lg(i % files), id)
      } finally (ev ++ lg).foreach(_.close())
    }

    private def malformed(id: Long) = id % MalformedEvery == MalformedEvery - 1

    private def writeEvent(w: BufferedWriter, id: Long): Unit = {
      val c = content.container(rnd)
      val action = content.action(rnd)
      val tsUs = BaseSec * 1000000L + rnd.nextLong(Days * 86400L * 1000000L)
      val line = DockerContent.event(c, action,
        tsUs * 1000L + rnd.nextInt(1000))
      if (malformed(id)) w.write("{\"Type\":\"container\",\"Action\":")
      else {
        if (!(dropOne && id == 7)) w.write(line)
        events += ((c.id, tsUs, action))
        perDate(java.time.LocalDate.ofEpochDay(
          Math.floorDiv(tsUs, 86400L * 1000000L)).toString) += 1
        perContainer(c.id) += 1
      }
      w.newLine()
    }

    /** "RFC3339-nano SPACE message", nine fraction digits as Docker
      * writes them. */
    private def writeLog(w: BufferedWriter, id: Long): Unit = {
      val tsUs = BaseSec * 1000000L + id * 997L
      val msg = s"GET /api/${rnd.nextInt(50)} 200 req=$id"
      if (malformed(id)) w.write(s"no-timestamp $msg")
      else {
        val t = java.time.LocalDateTime.ofEpochSecond(tsUs / 1000000L, 0,
          java.time.ZoneOffset.UTC)
        w.write(t.format(java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd'T'HH:mm:ss")) +
          f".${tsUs % 1000000L}%06d${rnd.nextInt(1000)}%03dZ $msg")
        logs += ((tsUs, msg))
      }
      w.newLine()
    }
  }
}
