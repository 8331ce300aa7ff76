package perfbench

import graft.engine.SessionManager
import graft.serve.GraftServer
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Serving-path benchmark. Starts `GraftServer` on loopback over one
  * `local[cpus]` SparkSession and drives one seeded closed-loop workload
  * through real HTTP with `cpus` clients (`--trace 0`), or replays the
  * same request stream with one client through the layers' public
  * functions, with a span around each call (`--trace 1`).
  *
  *   ServeBench --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *              --state-dir <dir> --cpus <n>
  *
  * The last line of standard output is one JSON object:
  * `{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}`.
  */
object ServeBench {

  final case class Sample(latencyNs: Long, outcome: Outcome, kind: String, endNs: Long = 0L)

  /** A reply kept unchecked until the expected answers exist. */
  final case class Reply(latencyNs: Long, req: Req, raw: Raw, endNs: Long) {
    def checked: Sample = Sample(latencyNs, ServeBench.checked(req, raw), req.kind, endNs)
  }

  final case class Metric(name: String, value: Double, unit: String, n: Int, note: String = "")

  final case class Result(attempted: Int, failed: Int, metrics: Seq[Metric], notes: Seq[String])

  /** Where a run's wall time went, for the report. */
  private val marks = ArrayBuffer(("jvm start", ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L))
  private def mark(phase: String): Unit = marks += ((phase, System.currentTimeMillis() * 1000000L))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val workload = need("workload")
    if (!Workload.Names.contains(workload)) {
      System.err.println(s"unknown workload $workload (one of ${Workload.Names.mkString(", ")})")
      sys.exit(2)
    }
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val stateDir = Paths.get(need("state-dir")).toAbsolutePath
    val cpus = need("cpus").toInt

    val spark = graft.EngineConf.tuned(SparkSession.builder())
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // the SQL tab's execution history (no UI here) would otherwise grow
      // with the requests served, and retained_heap_mb with it
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.sql.warehouse.dir", Paths.get(System.getProperty("java.io.tmpdir"), "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.sqlcompat.CompatFunctions.registerAll(spark)
    mark("spark")
    val result =
      try {
        val fixture = Fixture.ensure(spark, stateDir)
        mark("fixture")
        val ctx = Ctx(spark, fixture, seed, clients = cpus, cpus = cpus)
        val wl = Workload(workload, ctx)
        wl.prepare()
        mark("prepare")
        println(f"workload $workload seed $seed clients $cpus: ${wl.describe}")
        if (traced) tracedRun(wl, seconds, stateDir) else timedRun(wl, seconds)
      } finally spark.stop()
    mark("stop")
    report(result)
    System.out.flush()
    sys.exit(0)
  }

  // ----------------------------------------------------------------
  // Timed run: real HTTP, tracing off
  // ----------------------------------------------------------------

  /** Setups per timed run; setup_s is their median. */
  val Setups = 3

  def timedRun(wl: Workload, seconds: Double): Result = {
    val spark = wl.ctx.spark
    val before = Hygiene.threads()
    val setupS = ArrayBuffer.empty[Double]
    val untimed = ArrayBuffer.empty[Reply]
    val cursor = Array.fill(wl.ctx.clients)(0)
    var server: GraftServer = null
    var http: Http = null
    (1 to Setups).foreach { rep =>
      val t0 = System.nanoTime()
      server = new GraftServer(spark)
      server.start()
      http = new Http(server.boundPort)
      wl.setupHttp(http)
      val h = http
      cursor.indices.foreach(cursor(_) = 0)
      untimed ++= clients(wl, cursor, _ < wl.warmup) { r => r.send(h) }._1
      setupS += (System.nanoTime() - t0) / 1e9
      if (rep < Setups) { wl.teardownHttp(http); server.stop() }
    }
    mark("setups")
    // burn-in: untimed load on the last server, so the window starts with
    // the serving path compiled by the JIT and the server's caches filled
    val h = http
    val until = System.nanoTime() + (burnIn(seconds) * 1e9).toLong
    untimed ++= clients(wl, cursor, _ => System.nanoTime() < until) { r => r.send(h) }._1
    mark("burn-in")
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val (timed, wallNs) = clients(wl, cursor, _ => System.nanoTime() < deadline) { r => r.send(h) }
    mark("window")
    wl.teardownHttp(http)
    server.stop()
    val hygiene = Hygiene.check(spark, before)
    mark("teardown")
    wl.expect()
    val samples = timed.map(_.checked)
    val warmed = untimed.map(_.checked)
    mark("check")

    val lat = samples.map(_.latencyNs / 1e6).sorted
    val n = lat.size
    val ok = samples.count(_.outcome.ok)
    val beyond90 = n - math.ceil(0.90 * n).toInt
    val all = samples ++ warmed
    val failed = all.count(!_.outcome.ok)
    Result(all.size, failed, Seq(
      Metric("throughput_rps", ok / (wallNs / 1e9), "1/s", n, f"$ok ok over ${wallNs / 1e9}%.2f s"),
      Metric("latency_p50_ms", quantile(lat, 0.50), "ms", n),
      Metric("latency_p90_ms", quantile(lat, 0.90), "ms", n, s"$beyond90 samples beyond"),
      Metric("recall_at_10", samples.map(_.outcome.recall).sum / math.max(1, n), "ratio", n),
      Metric("setup_s", median(setupS.toSeq), "s", setupS.size, setupS.map(x => f"$x%.2f").mkString("runs ", ", ", "")),
      Metric("retained_heap_mb", hygiene.retainedHeapMb, "MB", 1)),
      Seq(f"error_rate ${failed.toDouble / math.max(1, all.size)}%.4f ($failed of ${all.size}, " +
        s"${warmed.size} of them warm-up and burn-in)",
        kindsLine(samples), quarters(samples), hygiene.line) ++ failures(all) ++
        (if (beyond90 < 10) Seq(s"WARNING: only $beyond90 samples beyond p90") else Nil))
  }

  /** Seconds of untimed load before the window. */
  def burnIn(seconds: Double): Double = math.max(2.0, 0.25 * seconds)

  /** Runs one closed-loop thread per client while `more(i)` holds for its
    * `i`-th request of this call; client `c` sends its stream from
    * `cursor(c)` on and leaves the cursor after its last request. Returns
    * every reply and the wall time from start to the last one.
    */
  private def clients(wl: Workload, cursor: Array[Int], more: Int => Boolean)(send: Req => Raw): (Seq[Reply], Long) = {
    val out = Array.fill(wl.ctx.clients)(ArrayBuffer.empty[Reply])
    val t0 = System.nanoTime()
    val threads = (0 until wl.ctx.clients).map { c =>
      new Thread(() => {
        var i = 0
        while (more(i)) {
          val r = wl.request(c, cursor(c))
          val s = System.nanoTime()
          val raw = try send(r) catch { case e: Exception => Raw(599, "", String.valueOf(e).getBytes) }
          val lat = System.nanoTime() - s
          out(c) += Reply(lat, r, raw, s + lat)
          i += 1
          cursor(c) += 1
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (out.toSeq.flatten, System.nanoTime() - t0)
  }

  def checked(r: Req, raw: Raw): Outcome =
    try r.check(raw) catch { case e: Exception => Outcome(ok = false, 0.0, 0, s"undecodable response: $e") }

  // ----------------------------------------------------------------
  // Traced run: one client, the layers' public functions, spans on
  // ----------------------------------------------------------------

  def tracedRun(wl: Workload, seconds: Double, stateDir: Path): Result = {
    val spark = wl.ctx.spark
    val before = Hygiene.threads()
    val probe = new Probe(spark)
    spark.sparkContext.addSparkListener(probe)
    val sessions = new SessionManager(spark)
    val tracer = new Tracer
    val d = new Direct(sessions, tracer)
    wl.expect()
    val untraced, traced = ArrayBuffer.empty[Sample]

    def run(r: Req, on: Boolean): Sample = {
      d.frames.clear()
      if (on) { probe.take(); tracer.on = true; tracer.begin(r.pos) }
      val s = System.nanoTime()
      val raw = try r.direct(d) catch { case e: Exception => Raw(599, "", String.valueOf(e).getBytes) }
      val lat = System.nanoTime() - s
      if (on) tracer.stop()
      val outcome = checked(r, raw)
      if (on) {
        tracer.end(probe, d.frames.toSeq, Map("serve.encode_rows" -> outcome.rows.toDouble))
        tracer.on = false
      }
      Sample(lat, outcome, r.kind)
    }

    probe.take()
    tracer.on = true
    tracer.begin(-1)
    wl.setupDirect(d)
    val setup = tracer.end(probe, Nil)
    tracer.on = false
    mark("setup")
    val warmN = wl.warmup * wl.ctx.clients
    val warm = (0 until warmN).map(j => run(wl.stream(j), on = false))

    // each request of the stream runs twice, traced and untraced, in
    // alternating order, so the overhead ratio compares like with like
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val (cpu0, gc0, t0) = (processCpuNs, gcMs, System.nanoTime())
    val deadline = t0 + (seconds * 1e9).toLong
    var j = warmN
    while (System.nanoTime() < deadline) {
      val r = wl.stream(j % wl.stream.size)
      if (j % 2 == 0) { untraced += run(r, on = false); traced += run(r, on = true) }
      else { traced += run(r, on = true); untraced += run(r, on = false) }
      j += 1
    }
    val (cpuNs, gc, wallNs) = (processCpuNs - cpu0, gcMs - gc0, System.nanoTime() - t0)
    mark("replay")
    wl.teardownDirect(d)
    sessions.shutdown()
    spark.sparkContext.removeSparkListener(probe)
    val hygiene = Hygiene.check(spark, before)
    mark("teardown")
    val spanFile = stateDir.resolve("traces").resolve(s"${wl.name}-seed${wl.ctx.seed}.jsonl")
    tracer.writeJsonl(spanFile)

    val reqs = tracer.done.filter(_.req >= 0).toSeq
    val n = reqs.size
    def per(name: String, unit: String)(f: RequestTrace => Option[Double]): Metric = {
      val xs = reqs.flatMap(f)
      Metric(name, median(xs), unit, xs.size)
    }
    def sw(w: RequestTrace => Probe.Window => Double): RequestTrace => Option[Double] = t => Some(w(t)(t.spark))
    val phases = Seq("parsing", "analysis", "optimization", "planning")
    val all = warm ++ untraced ++ traced
    val failed = all.count(!_.outcome.ok)
    val metrics = Seq(
      per("serve.parse_ms", "ms")(_.wall("serve.parse")),
      per("serve.request_bytes", "bytes")(_.counts.get("serve.request_bytes")),
      per("serve.encode_ms", "ms")(_.self("serve.encode.")),
      per("serve.encode_json_ms", "ms")(_.self("serve.encode.json")),
      per("serve.encode_csv_ms", "ms")(_.self("serve.encode.csv")),
      per("serve.encode_arrow_ms", "ms")(_.self("serve.encode.arrow")),
      per("serve.encode_bytes", "bytes")(_.counts.get("serve.encode_bytes")),
      per("serve.encode_rows", "count")(_.counts.get("serve.encode_rows")),
      per("engine.session_create_ms", "ms")(_.wall("engine.session_create")),
      per("engine.session_remove_ms", "ms")(_.wall("engine.session_remove")),
      per("engine.register_ms", "ms")(_.wall("engine.register")),
      per("engine.sql_ms", "ms")(_.wall("engine.sql")),
      per("sqlcompat.rewrite_ms", "ms")(_.wall("sqlcompat.rewrite"))) ++
      phases.map(p => per(s"plan.${p}_ms", "ms")(sw(_ => _.phaseMs(p)))) ++ Seq(
      per("plan.share", "ratio")(t => Some(phases.map(t.spark.phaseMs).sum / (t.root.dur / 1e6))),
      per("ingest.read_ms", "ms")(_.wall("ingest.read")),
      per("ingest.spool_bytes", "bytes")(_.counts.get("ingest.spool_bytes")),
      per("ingest.rows", "count")(_.counts.get("ingest.rows")),
      per("ingest.infer_jobs", "count")(_.jobsUnder("ingest.read")),
      per("ops.merge_ms", "ms")(_.wall("ops.merge")),
      Metric("pipeline.ivf_build_s", setup.wall("pipeline.ivf_build").getOrElse(0.0) / 1e3, "s", 1),
      Metric("pipeline.graph_build_s", setup.wall("pipeline.graph_build").getOrElse(0.0) / 1e3, "s", 1),
      per("pipeline.ivf_search_ms", "ms")(_.wall("pipeline.ivf_search")),
      per("pipeline.graph_search_ms", "ms")(_.wall("pipeline.graph_search")),
      per("spark.jobs", "count")(sw(_ => _.jobs.size)),
      per("spark.stages", "count")(sw(_ => _.stages)),
      per("spark.tasks", "count")(sw(_ => _.tasks)),
      per("spark.job_wall_ms", "ms")(sw(_ => _.jobWallMs)),
      per("spark.executor_run_ms", "ms")(sw(_ => _.runMs.toDouble)),
      per("spark.busy_ratio", "ratio")(t =>
        if (t.spark.jobWallMs > 0) Some(t.spark.runMs / (t.spark.jobWallMs * wl.ctx.cpus)) else None),
      per("spark.shuffle_read_bytes", "bytes")(sw(_ => _.shuffleRead.toDouble)),
      per("spark.shuffle_write_bytes", "bytes")(sw(_ => _.shuffleWrite.toDouble)),
      per("spark.spill_bytes", "bytes")(sw(_ => _.spill.toDouble)),
      per("spark.input_bytes", "bytes")(sw(_ => _.input.toDouble)),
      Metric("jvm.gc_ms", gc.toDouble / math.max(1, untraced.size + traced.size), "ms", untraced.size + traced.size,
        "collector time per request over the replay"),
      Metric("proc.cpu_util", cpuNs / (wallNs.toDouble * wl.ctx.cpus), "ratio", 1),
      Metric("trace_overhead",
        median(traced.map(_.latencyNs / 1e6).toSeq) / median(untraced.map(_.latencyNs / 1e6).toSeq),
        "ratio", traced.size, "traced p50 / untraced p50, same requests, one client"))
    Result(all.size, failed, metrics,
      Seq(s"traced $n requests (each also run untraced); ${tracer.done.map(_.spans.size).sum} spans in $spanFile",
        kindsLine(traced.toSeq), hygiene.line) ++ failures(all.toSeq))
  }

  // ----------------------------------------------------------------

  private def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  /** Linear interpolation between closest ranks; 0 for no samples. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = q * (sorted.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  private def kindsLine(samples: Seq[Sample]): String =
    "by kind: " + samples.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, s) =>
      f"$k n=${s.size} p50=${median(s.map(_.latencyNs / 1e6))}%.1fms"
    }.mkString(", ")

  /** Throughput and median latency in each quarter of the window, to show
    * drift within a run.
    */
  private def quarters(samples: Seq[Sample]): String = {
    val t0 = samples.map(s => s.endNs - s.latencyNs).min
    val span = samples.map(_.endNs).max - t0
    "quarters: " + samples.groupBy(s => math.min(3, ((s.endNs - t0) * 4 / span).toInt)).toSeq.sortBy(_._1)
      .map { case (_, q) => f"${q.size / (span / 4e9)}%.2f/s p50=${median(q.map(_.latencyNs / 1e6))}%.0fms" }
      .mkString(", ")
  }

  private def failures(samples: Seq[Sample]): Seq[String] =
    samples.filterNot(_.outcome.ok).groupBy(_.outcome.why).toSeq.sortBy(-_._2.size).take(5)
      .map { case (why, s) => s"FAILED x${s.size}: $why" }

  private def report(r: Result): Unit = {
    println(s"attempted ${r.attempted} succeeded ${r.attempted - r.failed} failed ${r.failed}")
    r.metrics.foreach { m =>
      println(f"  ${m.name}%-26s ${m.value}%14.4f ${m.unit}%-6s n=${m.n}" +
        (if (m.note.nonEmpty) s"  (${m.note})" else ""))
    }
    r.notes.foreach(println)
    println("wall: " + marks.zip(marks.tail).map { case ((_, a), (p, b)) => f"$p ${(b - a) / 1e9}%.1fs" }
      .mkString(", ") + " (setup_s covers the setups only)")
    val metrics = r.metrics.map { m =>
      s""""${m.name}": {"value": ${if (m.value.isNaN || m.value.isInfinite) 0.0 else m.value}, "unit": "${m.unit}"}"""
    }
    println(s"""{"correct": ${r.failed == 0}, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""metrics": {${metrics.mkString(", ")}}}""")
  }
}
