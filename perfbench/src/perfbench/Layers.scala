package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metric names and the helpers that fill them. Every traced
  * run prints every name; a layer a workload does not run reads 0. */
object Layers {
  private val timed = Seq("latest_offset_ms", "get_batch_ms",
    "query_planning_ms", "add_batch_ms", "wal_commit_ms",
    "commit_offsets_ms", "trigger_ms")
  private val progressKey = Map("latest_offset_ms" -> "latestOffset",
    "get_batch_ms" -> "getBatch", "query_planning_ms" -> "queryPlanning",
    "add_batch_ms" -> "addBatch", "wal_commit_ms" -> "walCommit",
    "commit_offsets_ms" -> "commitOffsets",
    "trigger_ms" -> "triggerExecution")
  /** Per-row query metrics given as a run total and as a per-row p50. */
  val queryPerRow = Seq("build_s", "action_s", "build_jobs", "jobs", "stages",
    "driver_gap_s", "task_s", "analysis_ms", "optimization_ms",
    "planning_ms", "cold_s")

  val names: Seq[String] =
    Seq("gen.sent", "gen.late_p99_ms",
      "bridge.lines_landed", "bridge.files_landed", "bridge.lines_per_file",
      "bridge.backlog_max_lines",
      "ingest.batches", "ingest.rows_per_batch", "ingest.rows_per_batch.p50",
      "ingest.files_per_batch", "ingest.files_per_batch.p50") ++
      timed.flatMap(t => Seq(s"ingest.$t", s"ingest.$t.p50")) ++
      Seq("ingest.busy_frac", "ingest.backlog_files_max",
        "parse.events_eps", "parse.logs_eps", "parse.dropped_lines",
        "store.files", "store.partitions", "store.bytes_per_event",
        "store.files_per_read", "store.read_scan_bytes") ++
      queryPerRow.flatMap(m => Seq(s"query.$m", s"query.$m.p50")) ++
      Seq("query.tasks_per_stage", "query.utilisation", "query.gc_s",
        "query.shuffle_bytes",
        "trace.p50_s", "trace.tail_s", "trace.rate_per_s")

  def zero: Map[String, Double] = names.map(_ -> 0.0).toMap

  /** The end-to-end readings of a traced run; their difference from the
    * untraced run's readings is the tracing overhead. */
  def traced(e2e: Map[String, Double]): Map[String, Double] =
    e2e.map { case (k, v) => s"trace.$k" -> v }

  /** Micro-batch phases from `StreamingQueryProgress.durationMs`, over the
    * given batches, plus files per batch from the checkpoint; batches and
    * file counts are keyed alike. `busy_frac` is trigger time over the
    * wall time from the window start to the last batch's end. */
  def ingest(keyed: Seq[(Long, StreamingQueryProgress)],
      files: Map[Long, Int], windowStartNs: Long): Map[String, Double] = {
    val ps = keyed.map(_._2)
    val fpb = keyed.map { case (k, _) => files.getOrElse(k, 0).toDouble }
    val rows = ps.map(_.numInputRows.toDouble)
    timed.flatMap { t =>
      val v = ps.map(p => ProgressLog.dur(p, progressKey(t)).toDouble)
      Seq(s"ingest.$t" -> v.sum, s"ingest.$t.p50" -> Stats.median(v))
    }.toMap ++ Map(
      "ingest.batches" -> ps.size.toDouble,
      "ingest.rows_per_batch" -> rows.sum / math.max(1, ps.size),
      "ingest.rows_per_batch.p50" -> Stats.median(rows),
      "ingest.files_per_batch" -> fpb.sum / math.max(1, ps.size),
      "ingest.files_per_batch.p50" -> Stats.median(fpb),
      "ingest.busy_frac" -> ps.map(p =>
        ProgressLog.dur(p, "triggerExecution")).sum / 1000.0 /
        math.max(1e-3, (ps.map(ProgressLog.endMs).maxOption.getOrElse(0L) *
          1000000L - windowStartNs) / 1e9))
  }

  /** Files each batch read, from the file source's log in the checkpoint
    * (`sources/0/<batch>` and its `.compact` files; entries carry their
    * batch id). */
  def filesPerBatch(ckpt: String): Map[Long, Int] = {
    val dir = Paths.get(ckpt, "sources", "0")
    if (!Files.isDirectory(dir)) Map.empty else {
      val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r.unanchored
      val s = Files.list(dir)
      try s.iterator.asScala
        .filter(_.getFileName.toString.matches("""\d+(\.compact)?"""))
        .flatMap { f =>
        Files.readAllLines(f).asScala.collect {
          case entry(path, b) => path -> b.toLong
        }
      }.toMap.groupBy(_._2).map { case (b, es) => b -> es.size }
      finally s.close()
    }
  }

  /** Data files and leaf partition directories under a parquet store. */
  def storeShape(store: String): (Int, Int, Long) = {
    val s = Files.walk(Paths.get(store))
    try {
      val parts = s.iterator.asScala.filter(p =>
        Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .toSeq
      (parts.size, parts.map(_.getParent).distinct.size,
        parts.map(Files.size(_)).sum)
    } finally s.close()
  }

  def fileCount(dir: Path, prefix: String): Int = {
    val s = Files.list(dir)
    try s.iterator.asScala.count(_.getFileName.toString.startsWith(prefix))
    finally s.close()
  }
}
