package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.functions._

import graft.streaming.{EventIngest, HttpChunkedBridge}

/** `ingest_live`: the reference's actual job. A fake daemon serves
  * `GET /events` (one chunk per event) on a unix socket; the program's
  * bridge (`HttpChunkedBridge.startUnix`) lands the lines as files and
  * `EventIngest.start` stores them in the parquet store.
  *
  * The rate steps over a fixed ladder. Latency is event due time to the
  * end of the trigger that committed the event's micro-batch. A rung is
  * met when every event of it was stored, the p99 latency of its events
  * is within `P99LimitS`, and the backlog (sent but not committed) does
  * not grow: its peak in the second half of the rung is at most
  * `GrowthRatio` times its peak in the first half plus one second of
  * arrivals (the slack absorbs the sawtooth of the batch cycle).
  * `rate_per_s` is the measured send rate of the highest rung met.
  */
object LiveIngest {
  /** Events/s; the first rung is the base rung that p50_s and tail_s
    * read. The rungs keep clear of a cliff near 40/s on the 4-core box:
    * once a batch holds more than 32 files the file source lists them with
    * a Spark job, `getBatch` jumps from about 20 ms to several hundred and
    * the next batch holds even more files. Up to about 25/s a slow batch
    * is followed by smaller ones and the batch cycle recovers; at 40/s
    * one slow batch can tip the rest of the rung over, so a rung there
    * read fast in some runs and slow in others. 20 and 25 are met and
    * 300 is not. */
  val Ladder = Seq(20.0, 25.0, 300.0)
  /** Share of the timed window each rung gets; the base rung gets most,
    * since its latency percentiles are read from its events. */
  val RungShare = Seq(0.7, 0.15, 0.15)
  val P99LimitS = 3.0
  val GrowthRatio = 1.5
  /** Longest wait, before the top rung, for the events of the rung
    * below it to be committed. */
  val GapLimitMs = 30000L
  /** Warm-up: the first (cold) micro-batch, which takes several seconds,
    * runs at `ColdRate`, so few files pile up behind it. Then `WarmRate`
    * runs until at least `WarmBatches` batches have committed and the last
    * `SettledBatches` of them each held at most `SettledS` seconds of
    * arrivals, so the timed window does not start inside the drain of the
    * cold batch's pile-up; at most `WarmLimitS` seconds. The batch cycle
    * keeps shrinking, as the JIT warms, for 30 to 40 batches; timing
    * started after 2 or 15 of them read the base rung's p50 up to a third
    * slower in some runs than in others. Warm batches at half the base
    * rate are shorter, which keeps set-up time down. */
  val ColdRate = 2.0
  val WarmRate = 10.0
  val WarmBatches = 25
  val SettledBatches = 3
  val SettledS = 1.5
  val WarmLimitS = 45.0

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val landing = ctx.dir("landing")
    val store = ctx.work.resolve("store").toString
    val ckpt = ctx.work.resolve("ckpt").toString
    val sock = Paths.get("").toAbsolutePath.relativize(
      ctx.work.resolve("d.sock")).toString
    val daemon = new FakeDaemon(sock, ctx.seed, ctx.fault)
    daemon.start(0, ColdRate)
    val q = EventIngest.start(spark, landing, store, ckpt)
    val bridge = HttpChunkedBridge.startUnix(sock, "/events", landing)
    val progress = ctx.listeners.progress
    def batchesWithRows = progress.of(q.id).count(_.numInputRows > 0)
    waitFor(90000)(batchesWithRows >= 1)
    daemon.phase(0, WarmRate)
    val warm = progress.of(q.id).map(_.batchId).max
    def settled = {
      val b = progress.of(q.id).filter(p => p.batchId > warm &&
        p.numInputRows > 0)
      b.size >= WarmBatches && b.takeRight(SettledBatches)
        .forall(_.numInputRows <= SettledS * WarmRate)
    }
    val warmEnd = System.currentTimeMillis() + (WarmLimitS * 1000).toLong
    while (!settled && System.currentTimeMillis() < warmEnd) Thread.sleep(20)
    ctx.setupEnd()

    // ---- timed: the ladder ----
    final case class Sample(atNs: Long, sent: Long, landed: Long,
        committed: Long)
    final case class Rung(rate: Double, startNs: Long, endNs: Long,
        samples: Seq[Sample])
    val timedStartNs = Clock.nowNs
    val rungs = Ladder.zip(RungShare).zipWithIndex.map {
      case ((rate, share), i) =>
        val start = Clock.nowNs
        daemon.phase(i + 1, rate)
        val end = start + (ctx.seconds * share * 1e9).toLong
        val samples = Seq.newBuilder[Sample]
        while (Clock.nowNs < end) {
          samples += Sample(Clock.nowNs, daemon.sentCount,
            bridge.linesLanded, progress.committedRows(q.id))
          Thread.sleep(50)
        }
        val rung = Rung(rate, start, Clock.nowNs, samples.result())
        if (i == Ladder.size - 2) {
          // Untimed gap at the base rate until this rung's events are
          // committed, so that none of them waits for the top rung's
          // first, large batch.
          val due = daemon.sentCount - daemon.dropped
          daemon.phase(0, Ladder.head)
          val until = System.currentTimeMillis() + GapLimitMs
          while (progress.committedRows(q.id) < due &&
              System.currentTimeMillis() < until) Thread.sleep(20)
        }
        rung
    }
    daemon.stop()
    val sent = daemon.sent.toSeq
    bridge.awaitDone(30000)
    waitFor(120000)(progress.committedRows(q.id) >= bridge.linesLanded)
    q.stop()

    // ---- checks: stored (container_id, ts, action) multiset == sent ----
    val stored = spark.read.parquet(store)
      .select(col("container_id"), expr("unix_micros(ts)"), col("action"),
        col("batch_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getAs[Number](3).longValue))
    val want = sent.groupBy(s => (s.containerId, s.dueNs / 1000, s.action))
      .view.mapValues(_.size).toMap
    val got = stored.groupBy(r => (r._1, r._2, r._3)).view
      .mapValues(_.length).toMap
    val lost = want.map { case (k, n) => math.max(0, n - got.getOrElse(k, 0)) }
      .sum
    val extra = got.map { case (k, n) => math.max(0, n - want.getOrElse(k, 0)) }
      .sum
    val failed = (lost + extra).toLong
    if (failed > 0) System.err.println(
      s"[perfbench] ingest_live: $lost events lost, $extra duplicated or unexpected")

    // ---- latency per event: due -> end of its batch's trigger ----
    val batches = progress.of(q.id)
    val commitNs = batches.map(p => p.batchId -> ProgressLog.endMs(p) * 1000000L)
      .toMap
    val batchOf = stored.map(r => (r._1, r._2, r._3) -> r._4).toMap
    def latencyS(s: FakeDaemon.Sent): Option[Double] =
      batchOf.get((s.containerId, s.dueNs / 1000, s.action))
        .flatMap(commitNs.get).map(c => (c - s.dueNs) / 1e9)
    val perRung = rungs.zipWithIndex.map { case (r, i) =>
      val ev = sent.filter(_.phase == i + 1)
      val lat = ev.flatMap(latencyS)
      val half = r.startNs + (r.endNs - r.startNs) / 2
      def peak(ss: Seq[Sample]) =
        ss.map(s => s.sent - s.committed).maxOption.getOrElse(0L)
      val growing = peak(r.samples.filter(_.atNs >= half)) >
        GrowthRatio * peak(r.samples.filter(_.atNs < half)) + r.rate
      val p99 = Stats.quantile(lat, 0.99)
      val met = lat.size == ev.size && p99 <= P99LimitS && !growing
      val rate = ev.size / ((r.endNs - r.startNs) / 1e9)
      System.err.println(f"[perfbench] rung ${r.rate}%.0f/s: sent ${ev.size} " +
        f"rate $rate%.2f p50 ${Stats.median(lat)}%.3f s p99 $p99%.3f s " +
        s"growing=$growing met=$met")
      (lat, met, rate)
    }
    val baseLat = perRung.head._1
    val maxRate = perRung.filter(_._2).map(_._3).maxOption.getOrElse(0.0)
    val e2e = Map(
      "p50_s" -> Stats.median(baseLat),
      "tail_s" -> Stats.tail(baseLat),
      "rate_per_s" -> maxRate)

    val layers = if (!ctx.trace) Map.empty[String, Double] else {
      val timedEndNs = rungs.last.endNs
      val samples = rungs.flatMap(_.samples)
      val inWindow = batches.filter { p =>
        val s = ProgressLog.epochMs(p) * 1000000L
        s >= timedStartNs && s < timedEndNs && p.numInputRows > 0
      }
      traceSpans(ctx, batches, sent, latencyS)
      val files = Layers.fileCount(Paths.get(landing), "part-")
      val late = sent.filter(_.phase > 0).map(s => (s.sentNs - s.dueNs) / 1e6)
      Layers.zero ++ Map(
        "gen.sent" -> sent.size.toDouble,
        "gen.late_p99_ms" -> Stats.quantile(late, 0.99),
        "bridge.lines_landed" -> bridge.linesLanded.toDouble,
        "bridge.files_landed" -> files.toDouble,
        "bridge.lines_per_file" -> bridge.linesLanded.toDouble / math.max(1, files),
        "bridge.backlog_max_lines" ->
          samples.map(s => s.sent - s.landed).max.toDouble,
        "ingest.backlog_files_max" ->
          samples.map(s => s.landed - s.committed).max.toDouble) ++
        Layers.ingest(inWindow.map(p => p.batchId -> p),
          Layers.filesPerBatch(ckpt), timedStartNs) ++
        Layers.traced(e2e)
    }
    Outcome(sent.size.toLong, failed, e2e, layers)
  }

  /** A span per micro-batch with its phases as children (laid out in
    * trigger order), and per event an emit span and a commit-wait span. */
  private def traceSpans(ctx: Ctx,
      batches: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      sent: Seq[FakeDaemon.Sent],
      latencyS: FakeDaemon.Sent => Option[Double]): Unit = {
    val t = ctx.tracer
    batches.foreach { p =>
      val s = ProgressLog.epochMs(p) * 1000000L
      val id = t.add(s"batch-${p.batchId}", 0, "ingest.trigger", s,
        ProgressLog.endMs(p) * 1000000L)
      var at = s
      ProgressLog.phases.foreach { k =>
        val d = ProgressLog.dur(p, k) * 1000000L
        if (d > 0) t.add(s"batch-${p.batchId}", id, s"ingest.$k", at, at + d)
        at += d
      }
    }
    sent.foreach { e =>
      val id = t.add(s"event-${e.seq}", 0, "gen.emit", e.dueNs, e.sentNs)
      latencyS(e).foreach { l =>
        t.add(s"event-${e.seq}", id, "event.wait_commit", e.sentNs,
          e.dueNs + (l * 1e9).toLong)
      }
    }
  }

  def waitFor(timeoutMs: Long)(cond: => Boolean): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      if (System.currentTimeMillis() > end)
        throw new IllegalStateException(s"timed out after $timeoutMs ms")
      Thread.sleep(20)
    }
  }
}
