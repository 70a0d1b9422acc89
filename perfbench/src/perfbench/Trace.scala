package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch nanoseconds with nanoTime resolution, so spans
  * measured here line up with the epoch-millisecond timestamps that
  * Spark's progress reports carry. */
object Clock {
  private val epoch0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def nowNs: Long = epoch0 + (System.nanoTime() - nano0)
  def toEpochNs(nanoTime: Long): Long = epoch0 + (nanoTime - nano0)
}

object Stats {
  def quantile(xs: collection.Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)
  /** The highest percentile that still has ten samples beyond it: the
    * eleventh-largest sample. */
  def tail(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.max(0, s.size - 11))
  }
  /** Total length of the union of [start, end) intervals. */
  def covered(iv: collection.Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** One traced interval. Spans of one query row, micro-batch or event
  * share `trace`; `parent` is 0 for a root span. Times are epoch ns. */
final case class Span(id: Long, trace: String, parent: Long, name: String,
    start: Long, end: Long)

/** In-memory span recorder; a no-op when tracing is off. Spans are
  * written once, at the end of the run, with each span's self time
  * (its duration minus the part its children cover). */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)

  def add(trace: String, parent: Long, name: String, start: Long,
      end: Long): Long =
    if (!enabled) 0L else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, trace, parent, name, start, end))
      id
    }

  /** Times `body` as a span and returns its result with the span id. */
  def span[T](trace: String, parent: Long, name: String)(
      body: Long => T): T = {
    val id = if (enabled) ids.incrementAndGet() else 0L
    val s = Clock.nowNs
    try body(id)
    finally if (enabled) spans.add(Span(id, trace, parent, name, s,
      Clock.nowNs))
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per span, in ns. */
  def selfTimes: Map[Long, Long] = {
    val byParent = all.groupBy(_.parent)
    all.map { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(k =>
        (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter { case (a, b) => b > a }
      s.id -> ((s.end - s.start) - Stats.covered(kids))
    }.toMap
  }

  /** Writes spans as JSON lines plus a per-name summary line; returns
    * the summary (name -> (count, total ms, self ms)). */
  def write(path: java.nio.file.Path): Map[String, (Int, Double, Double)] = {
    val self = selfTimes
    val sb = new StringBuilder
    all.sortBy(_.start).foreach { s =>
      sb ++= s"""{"id":${s.id},"trace":${Json.str(s.trace)},"parent":${
        s.parent},"name":${Json.str(s.name)},"start_ns":${s.start},""" +
        s""""end_ns":${s.end},"self_ns":${self(s.id)}}""" + "\n"
    }
    val summary = all.groupBy(_.name).map { case (n, ss) =>
      n -> ((ss.size, ss.map(s => s.end - s.start).sum / 1e6,
        ss.map(s => self(s.id)).sum / 1e6))
    }
    sb ++= "{\"summary\":" + Json.obj(summary.toSeq.sortBy(_._1).map {
      case (n, (c, t, sf)) => n -> s"""{"count":$c,"total_ms":${
        Json.num(t)},"self_ms":${Json.num(sf)}}"""
    }) + "}\n"
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
    summary
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  /** Object from already-rendered values. */
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Progress of every streaming query, kept from the public
  * StreamingQueryListener. Registered in traced and untraced runs: the
  * ingest workloads read commit times from it. */
final class ProgressLog extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  def of(id: java.util.UUID): Seq[StreamingQueryProgress] =
    progress.asScala.filter(_.id == id).toSeq.sortBy(_.batchId)
  def committedRows(id: java.util.UUID): Long =
    progress.asScala.filter(_.id == id).map(_.numInputRows).sum
}

object ProgressLog {
  def epochMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli
  /** Wall time at which the batch's trigger (and so its commit) ended. */
  def endMs(p: StreamingQueryProgress): Long =
    epochMs(p) + dur(p, "triggerExecution")
  def dur(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
  /** Phase order inside one trigger of MicroBatchExecution. */
  val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")
}

/** Jobs, stages and task metrics from Spark's public listener bus. */
final class JobLog extends SparkListener {
  final case class Job(id: Int, start: Long, var end: Long,
      stages: Seq[Int])
  final case class TaskAgg(var tasks: Long = 0, var runMs: Long = 0,
      var gcMs: Long = 0, var shuffleBytes: Long = 0)
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageTasks = mutable.Map[Int, TaskAgg]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time * 1000000L, e.time * 1000000L,
      e.stageInfos.map(_.stageId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time * 1000000L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stageTasks.getOrElseUpdate(e.stageId, TaskAgg())
    a.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  /** Removes and returns everything recorded so far: jobs, and the task
    * totals of the stages that ran tasks. */
  def drain(): (Seq[Job], Map[Int, TaskAgg]) = synchronized {
    val r = (jobs.values.toSeq, stageTasks.toMap)
    jobs.clear(); stageTasks.clear()
    r
  }
}

/** Catalyst phase times of every executed query (`qe.tracker`). */
final class PhaseLog extends QueryExecutionListener {
  private val phases = new ConcurrentLinkedQueue[Map[String, Long]]()
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    phases.add(qe.tracker.phases.map { case (k, v) => k -> v.durationMs })
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    ()
  /** Removes and returns the phase totals (ms) recorded so far. */
  def drain(): Map[String, Long] = {
    val acc = mutable.Map[String, Long]().withDefaultValue(0L)
    var p = phases.poll()
    while (p != null) {
      p.foreach { case (k, v) => acc(k) += v }
      p = phases.poll()
    }
    acc.toMap
  }
}

/** The listeners a run registers: progress always, jobs and phases only
  * when tracing. */
final class Listeners(spark: SparkSession, trace: Boolean) {
  val progress = new ProgressLog
  val jobs = new JobLog
  val phases = new PhaseLog
  spark.streams.addListener(progress)
  if (trace) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(phases)
  }
  /** Waits until every listener has seen the events posted so far. */
  def settle(): Unit = org.apache.spark.perfbench.BusDrain(spark)
}
