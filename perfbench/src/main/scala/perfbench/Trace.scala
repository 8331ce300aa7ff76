package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.SparkProbeAccess

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One timed interval. Times are wall-clock epoch nanoseconds, the
  * clock Spark stamps its listener events with. `parent` is -1 for a
  * request's root span.
  */
final case class Span(req: Int, id: Int, parent: Int, name: String, start: Long, end: Long) {
  def dur: Long = end - start
}

object Clock {
  private val epoch0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def now(): Long = epoch0 + (System.nanoTime() - nano0)
}

/** Spans and counts of one traced request, after the probe's Spark
  * jobs and planning phases were added as child spans.
  */
final case class RequestTrace(req: Int, spans: Seq[Span], counts: Map[String, Double],
    spark: Probe.Window) {
  val root: Span = spans.find(_.parent == -1).get

  /** Summed duration of the spans called `name`. */
  def wall(name: String): Option[Double] = {
    val s = spans.filter(_.name == name)
    if (s.isEmpty) None else Some(s.map(_.dur).sum / 1e6)
  }

  /** Summed self time (duration minus child coverage) of spans whose
    * name starts with `prefix`.
    */
  def self(prefix: String): Option[Double] = {
    val s = spans.filter(_.name.startsWith(prefix))
    if (s.isEmpty) None
    else Some(s.map(p => p.dur - Trace.covered(p, spans.filter(_.parent == p.id))).sum / 1e6)
  }

  /** Spark jobs that started inside spans called `name`. */
  def jobsUnder(name: String): Option[Double] = {
    val s = spans.filter(_.name == name)
    if (s.isEmpty) None
    else Some(spans.count(j => j.name == "spark.job" && s.exists(p => j.start >= p.start && j.start <= p.end)))
  }
}

/** Records spans around the benchmark's calls into each layer. Used by
  * one thread at a time (the traced replay has one client).
  */
final class Tracer {
  @volatile var on = false
  val done = ArrayBuffer.empty[RequestTrace]
  private val open = mutable.Stack.empty[Int]
  private val spans = ArrayBuffer.empty[Span]
  private val counts = mutable.Map.empty[String, Double]
  private var req = -1
  private var next = 0

  def begin(reqId: Int): Unit = {
    spans.clear(); counts.clear(); open.clear(); req = reqId
    open.push(next); next += 1
    spans += Span(req, open.top, -1, "request", Clock.now(), 0L)
  }

  /** Ends the request's root span. */
  def stop(): Unit = spans(0) = spans(0).copy(end = Clock.now())

  /** Files the stopped request; `probe` supplies the Spark work that
    * ran inside it, `frames` the result frames whose planning phases
    * count for it.
    */
  def end(probe: Probe, frames: Seq[DataFrame], extra: Map[String, Double] = Map.empty): RequestTrace = {
    if (spans(0).end == 0L) stop()
    val rootEnd = spans(0).end
    val w = probe.take(frames)
    val probed = ArrayBuffer.empty[Span]
    def attach(name: String, s: Long, e: Long): Unit = {
      val parent = spans.filter(p => p.start <= s && s <= p.end).maxByOption(_.start).getOrElse(spans(0))
      probed += Span(req, next, parent.id, name, s, math.min(math.max(e, s), rootEnd)); next += 1
    }
    w.jobs.foreach { case (s, e) => attach("spark.job", s, e) }
    w.phases.foreach { case (name, s, e) => attach(s"plan.$name", s, e) }
    val t = RequestTrace(req, (spans ++ probed).toSeq, counts.toMap ++ extra, w)
    done += t
    t
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = next; next += 1
      val parent = open.top
      val start = Clock.now()
      open.push(id)
      try body
      finally {
        open.pop()
        spans += Span(req, id, parent, name, start, Clock.now())
      }
    }

  def count(name: String, v: Double): Unit = if (on) counts(name) = counts.getOrElse(name, 0.0) + v

  /** Every span as one JSON object per line. */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    done.foreach(_.spans.foreach { s =>
      sb ++= s"""{"req":${s.req},"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}"""
      sb += '\n'
    })
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Trace {
  /** Nanoseconds of `p` covered by the union of `children`. */
  def covered(p: Span, children: Seq[Span]): Long = union(
    children.map(c => (math.max(c.start, p.start), math.min(c.end, p.end))).filter(x => x._2 > x._1))

  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cur: (Long, Long) = null
    iv.sortBy(_._1).foreach { x =>
      if (cur == null) cur = x
      else if (x._1 <= cur._2) cur = (cur._1, math.max(cur._2, x._2))
      else { total += cur._2 - cur._1; cur = x }
    }
    if (cur != null) total += cur._2 - cur._1
    total
  }
}

object Probe {
  /** Spark work observed between two [[Probe.take]] calls. Job and
    * phase times are epoch nanoseconds (millisecond resolution).
    */
  final case class Window(jobs: Seq[(Long, Long)], stages: Int, tasks: Int,
      runMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long, input: Long,
      phases: Seq[(String, Long, Long)]) {
    def jobWallMs: Double = Trace.union(jobs) / 1e6
    def phaseMs(name: String): Double =
      phases.filter(_._1 == name).map(p => p._3 - p._2).sum / 1e6
  }
}

/** The benchmark's own SparkListener: job intervals, stage and task
  * counts, task metrics, and the query executions SQL actions ran.
  */
final class Probe(spark: org.apache.spark.sql.SparkSession) extends SparkListener {
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobs = ArrayBuffer.empty[(Long, Long)]
  private val qes = ArrayBuffer.empty[QueryExecution]
  private var stages, tasks = 0
  private var runMs, shRead, shWrite, spill, input = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time * 1000000L
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time * 1000000L)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      shRead += m.shuffleReadMetrics.totalBytesRead
      shWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      input += m.inputMetrics.bytesRead
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionEnd =>
      val qe = SparkProbeAccess.queryExecution(x)
      if (qe != null) synchronized { qes += qe }
    case _ =>
  }

  /** Waits for the listener bus and for running jobs to finish, then
    * returns and resets everything seen since the last call. Planning
    * phases come from the SQL actions seen plus `frames`.
    */
  def take(frames: Seq[DataFrame] = Nil): Probe.Window = {
    val deadline = System.nanoTime() + 2000000000L
    SparkProbeAccess.drainListenerBus(spark.sparkContext)
    while (synchronized(jobStart.nonEmpty) && System.nanoTime() < deadline) {
      Thread.sleep(2)
      SparkProbeAccess.drainListenerBus(spark.sparkContext)
    }
    synchronized {
      val all = (qes ++ frames.map(SparkProbeAccess.queryExecution)).foldLeft(List.empty[QueryExecution]) {
        (acc, q) => if (acc.exists(_ eq q)) acc else q :: acc
      }
      val phases = all.flatMap(q => SparkProbeAccess.phases(q).toSeq.map { case (n, (s, e)) =>
        (n, s * 1000000L, e * 1000000L)
      })
      val w = Probe.Window(jobs.toList, stages, tasks, runMs, shRead, shWrite, spill, input, phases)
      jobs.clear(); qes.clear(); jobStart.clear()
      stages = 0; tasks = 0; runMs = 0; shRead = 0; shWrite = 0; spill = 0; input = 0
      w
    }
  }
}
