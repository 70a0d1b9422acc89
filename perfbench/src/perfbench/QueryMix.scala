package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** `query_mix`: one closed-loop client runs a fixed, family-stratified
  * sample of `SparkEntry.queries` on the generated sf0.1 fixture.
  *
  * Set-up runs one untimed warm-up pass (the first touch: codegen and
  * memoised frames). `Passes` timed passes then run
  * every sampled row once each, in an order drawn from `--seed`, through
  * the noop sink; their length, not `--seconds`, sets the window. Each
  * timed run carries an observed row count and order-independent
  * fingerprint that must equal the one recorded for the row in
  * `perfbench/fingerprints.json`.
  *
  * The sample is fixed rather than drawn per seed so that every seed
  * measures the same work. `--record` rebuilds it: rows are drawn per
  * family (largest-remainder allocation of `SampleSize` seats by family
  * size) in a fixed order; a candidate is skipped, with its reason, when
  * it throws, when its fingerprint differs across `RecordRuns` runs, or
  * when its first reading exceeds `MaxColdS` or its last `MaxRowS` (the
  * caps keep a run inside the benchmark's time budget).
  */
object QueryMix {
  val SampleSize = 8
  /** Timed passes, a fixed count: readings fall pass by pass as the JIT
    * warms, so a count that followed the machine's speed (three passes on
    * a slow run, four on a fast one) moved per-row medians by a fifth. */
  val Passes = 3
  val RecordRuns = 3
  val MaxRowS = 1.0
  val MaxColdS = 4.0
  val SampleSeed = 20261017L
  val FingerprintFile = "perfbench/fingerprints.json"

  final case class Expected(name: String, rows: Long, sum: Long, xor: Long)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val fixture = Fixture.ensure(spark, ctx.work)
    if (ctx.record) return record(ctx, fixture)

    val expected = readFingerprints()
    val queries = SparkEntry.queries
    val rows: Seq[(String, (SparkSession, String) => DataFrame)] =
      expected.map { e =>
        val fn = queries.getOrElse(e.name,
          sys.error(s"sampled row ${e.name} is not in SparkEntry.queries"))
        e.name -> (if (ctx.fault && e == expected.head) faulty else fn)
      }
    val want = expected.map(e => e.name -> e).toMap

    // ---- set-up: warm-up pass ----
    val cold = rows.map { case (n, fn) =>
      n -> runRow(spark, fixture, fn, None, ctx.tracer, s"warm-$n")._1 }.toMap
    ctx.listeners.settle()
    ctx.listeners.jobs.drain(); ctx.listeners.phases.drain()
    ctx.setupEnd()
    System.err.println(f"[perfbench] warm-up pass ${cold.values.sum}%.1f s: " +
      rows.map(r => f"${cold(r._1)}%.2f").mkString(" "))

    // ---- timed passes ----
    val readings = mutable.ArrayBuffer[Reading]()
    var failed = 0L
    var pass = 0
    while (pass < Passes) {
      val order = new scala.util.Random(ctx.seed * 1000 + pass).shuffle(rows)
      order.foreach { case (n, fn) =>
        val (sec, fp, parts) = runRow(spark, fixture, fn, Some(want(n)),
          ctx.tracer, s"row-$n-$pass")
        val prof = if (ctx.trace) profile(ctx, parts, sec)
          else Map.empty[String, Double]
        if (fp.contains(want(n))) readings += Reading(n, sec, prof)
        else {
          failed += 1
          System.err.println(s"[perfbench] $n pass $pass: got $fp, want ${want(n)}")
        }
      }
      pass += 1
    }
    val attempted = pass.toLong * rows.size
    val all = readings.map(_.seconds)
    val perRow = readings.groupBy(_.row).view.mapValues(rs =>
      Stats.median(rs.map(_.seconds))).toMap
    val total = perRow.values.sum
    System.err.println(f"[perfbench] $pass passes of ${rows.size} rows; " +
      f"sum of per-row medians $total%.3f s")
    val e2e = Map(
      "p50_s" -> Stats.median(all),
      "tail_s" -> Stats.tail(all),
      "rate_per_s" -> (if (total > 0) perRow.size / total else 0.0))

    val layers = if (!ctx.trace) Map.empty[String, Double] else {
      val coldS = perRow.map { case (n, m) => cold(n) - m }.toSeq
      val byMetric = Layers.queryPerRow.filter(_ != "cold_s").flatMap { m =>
        val v = readings.map(_.profile(m))
        Seq(s"query.$m" -> v.sum, s"query.$m.p50" -> Stats.median(v))
      }.toMap
      def tot(m: String) = readings.map(_.profile(m)).sum
      Layers.zero ++ byMetric ++ Map(
        "query.cold_s" -> coldS.sum,
        "query.cold_s.p50" -> Stats.median(coldS),
        "query.tasks_per_stage" -> tot("tasks") / math.max(1.0, tot("stages")),
        "query.utilisation" -> tot("task_s") /
          math.max(1e-9, tot("job_s") * ctx.cores),
        "query.gc_s" -> tot("gc_s"),
        "query.shuffle_bytes" -> tot("shuffle_bytes")) ++
        Layers.traced(e2e)
    }
    Outcome(attempted, failed, e2e, layers)
  }

  final case class Reading(row: String, seconds: Double,
      profile: Map[String, Double])
  /** Timestamps of one traced row run, epoch ns: start, end of build,
    * end of action; the span ids of the row, build and action; and the
    * analysis time of the row's final DataFrame, which its own
    * `QueryExecution` records when it is built, outside any action. */
  final case class Parts(start: Long, built: Long, end: Long, rowSpan: Long,
      buildSpan: Long, actionSpan: Long, trace: String, analysisMs: Long)

  private val faulty: (SparkSession, String) => DataFrame =
    (_, _) => throw new IllegalStateException("injected fault")

  /** Builds and runs one row through the noop sink with an observed
    * fingerprint. Returns the reading in seconds (build + action), the
    * fingerprint (None when the row threw), and the span bounds. */
  def runRow(spark: SparkSession, dir: String,
      fn: (SparkSession, String) => DataFrame, want: Option[Expected],
      tracer: Tracer, trace: String): (Double, Option[Expected], Parts) = {
    val name = want.map(_.name).getOrElse(trace)
    val t0 = Clock.nowNs
    var built = t0
    var ids = (0L, 0L)
    var analysisMs = 0L
    val r = tracer.span(trace, 0, "query.row") { rowId =>
      scala.util.Try {
        val (df, bId) = tracer.span(trace, rowId, "query.build") { id =>
          (fn(spark, dir), id) }
        built = Clock.nowNs
        val obs = Observation(s"fp-${java.util.UUID.randomUUID}")
        val h = rowHash(df.schema)
        val (_, aId) = tracer.span(trace, rowId, "query.action") { id =>
          df.observe(obs, count(lit(1)).as("n"),
              sum(pmod(h, lit(2147483647L))).as("s"), bit_xor(h).as("x"))
            .write.mode("overwrite").format("noop").save()
          ((), id)
        }
        ids = (bId, aId)
        analysisMs = df.queryExecution.tracker.phases.get("analysis")
          .map(_.durationMs).getOrElse(0L)
        val m = obs.get
        def l(k: String) = Option(m(k)).map(_.asInstanceOf[Long]).getOrElse(0L)
        Expected(name, l("n"), l("s"), l("x"))
      } -> rowId
    }
    val t1 = Clock.nowNs
    spark.catalog.clearCache()
    r._1.failed.foreach(e =>
      System.err.println(s"[perfbench] $name threw: ${e.toString.take(300)}"))
    ((t1 - t0) / 1e9, r._1.toOption,
      Parts(t0, built, t1, r._2, ids._1, ids._2, trace, analysisMs))
  }

  /** A 64-bit hash of every output column; map-typed values are hashed
    * through their JSON text (Spark does not hash maps). */
  private def rowHash(schema: StructType): Column = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: ArrayType => hasMap(a.elementType)
      case _ => false
    }
    val cols = schema.fields.toSeq.map(f => col(s"`${f.name}`"))
    if (cols.isEmpty) lit(0L)
    else if (schema.fields.exists(f => hasMap(f.dataType)))
      xxhash64(to_json(struct(cols: _*)))
    else xxhash64(cols: _*)
  }

  /** Per-layer profile of one reading from the jobs, stages, tasks and
    * Catalyst phases the listeners saw during it; adds job spans. */
  private def profile(ctx: Ctx, p: Parts, sec: Double): Map[String, Double] = {
    ctx.listeners.settle()
    val (jobs, stages) = ctx.listeners.jobs.drain()
    val phases = ctx.listeners.phases.drain()
    jobs.foreach { j =>
      val parent = if (j.start < p.built) p.buildSpan else p.actionSpan
      ctx.tracer.add(p.trace, parent, "query.job", j.start, j.end)
    }
    val jobIv = jobs.map(j => (math.max(j.start, p.start),
      math.min(j.end, p.end))).filter { case (a, b) => b > a }
    val jobS = Stats.covered(jobIv) / 1e9
    val ran = stages.values
    Map(
      "build_s" -> (p.built - p.start) / 1e9,
      "action_s" -> (p.end - p.built) / 1e9,
      "build_jobs" -> jobs.count(_.start < p.built).toDouble,
      "jobs" -> jobs.size.toDouble,
      "stages" -> stages.size.toDouble,
      "tasks" -> ran.map(_.tasks).sum.toDouble,
      "driver_gap_s" -> math.max(0.0, sec - jobS),
      "job_s" -> jobS,
      "task_s" -> ran.map(_.runMs).sum / 1000.0,
      "gc_s" -> ran.map(_.gcMs).sum / 1000.0,
      "shuffle_bytes" -> ran.map(_.shuffleBytes).sum.toDouble,
      "analysis_ms" -> (phases.getOrElse("analysis", 0L) + p.analysisMs)
        .toDouble,
      "optimization_ms" -> phases.getOrElse("optimization", 0L).toDouble,
      "planning_ms" -> phases.getOrElse("planning", 0L).toDouble)
  }

  // ---- the recorded sample ----

  def readFingerprints(): Seq[Expected] = {
    val text = new String(Files.readAllBytes(Paths.get(FingerprintFile)),
      "UTF-8")
    val sample = text.substring(text.indexOf("\"sample\""),
      text.indexOf("\"excluded\""))
    val row = """\{"name":"([^"]+)","rows":(-?\d+),"sum":(-?\d+),"xor":(-?\d+)\}""".r
    row.findAllMatchIn(sample).map(m => Expected(m.group(1),
      m.group(2).toLong, m.group(3).toLong, m.group(4).toLong)).toSeq
  }

  /** Draws the sample as described above and writes `FingerprintFile`. */
  private def record(ctx: Ctx, fixture: String): Outcome = {
    val spark = ctx.spark
    val queries = SparkEntry.queries
    val families = queries.keys.toSeq.groupBy(n => n.split("_")(1))
    val quota = families.map { case (f, ns) =>
      f -> ns.size.toDouble * SampleSize / queries.size }
    val seats = mutable.Map[String, Int]() ++
      quota.map { case (f, q) => f -> q.toInt }
    quota.toSeq.sortBy { case (f, q) => (-(q - q.toInt), f) }
      .take(SampleSize - seats.values.sum)
      .foreach { case (f, _) => seats(f) += 1 }
    // the JVM's own first touch must not count against the first candidate
    spark.read.parquet(s"$fixture/lineitem.parquet").groupBy("l_returnflag")
      .count().write.mode("overwrite").format("noop").save()
    val rnd = new scala.util.Random(SampleSeed)
    val chosen = mutable.ArrayBuffer[Expected]()
    val excluded = mutable.ArrayBuffer[(String, String)]()
    seats.toSeq.filter(_._2 > 0).sortBy(_._1).foreach { case (f, n) =>
      val candidates = rnd.shuffle(families(f).sorted).iterator
      var got = 0
      while (got < n && candidates.hasNext) {
        val name = candidates.next()
        val runs = (1 to RecordRuns).map(_ => runRow(spark, fixture,
          queries(name), None, ctx.tracer, name))
        val fps = runs.map(_._2)
        val reason =
          if (fps.exists(_.isEmpty)) Some("throws on the generated fixture")
          else if (fps.distinct.size > 1)
            Some(s"non-deterministic: ${fps.flatten.distinct.size} " +
              s"different fingerprints in $RecordRuns runs")
          else if (runs.last._1 > MaxRowS)
            Some(f"warm reading ${runs.last._1}%.2f s exceeds the $MaxRowS s cap")
          else if (runs.head._1 > MaxColdS)
            Some(f"first reading ${runs.head._1}%.2f s exceeds the $MaxColdS s cap")
          else None
        reason match {
          case Some(r) => excluded += name -> r
          case None => chosen += fps.head.get.copy(name = name); got += 1
        }
        System.err.println(s"[perfbench] record $name: ${
          reason.getOrElse(f"ok, ${runs.last._1}%.3f s")}")
      }
    }
    val json = "{\n  \"fixture_seed\": " + Fixture.FixtureSeed +
      ",\n  \"sample_seed\": " + SampleSeed + ",\n  \"sample\": [\n" +
      chosen.map(e => s"""    {"name":"${e.name}","rows":${e.rows},"sum":${
        e.sum},"xor":${e.xor}}""").mkString(",\n") +
      "\n  ],\n  \"excluded\": [\n" +
      excluded.map { case (n, r) =>
        s"""    {"name":"$n","reason":${Json.str(r)}}""" }.mkString(",\n") +
      "\n  ]\n}\n"
    Files.writeString(Paths.get(FingerprintFile), json)
    Outcome(1, 0, Map("p50_s" -> 1, "tail_s" -> 1, "rate_per_s" -> 1),
      Layers.zero)
  }
}
