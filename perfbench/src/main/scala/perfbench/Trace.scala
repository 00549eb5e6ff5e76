package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.ops.LoadResult
import graft.sink.{FlightTransport, GdsSink}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-layer tracing, registered by the benchmark only (no hook inside
  * the library). A span is one timed call into a layer: name, start,
  * end, parent. Spark jobs are attributed to a call by the job group the
  * benchmark sets around it, and to every library module whose source
  * file appears on the job's long call site (the stack from Spark's first
  * frame outside itself outward): a job that `Scratch.materialize` runs
  * for `Dedup` counts toward both. Everything stays in memory until the
  * run ends. */
final case class Span(name: String, parent: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans of the current traced call; outside one, `time` only runs its
  * body, so untraced calls pay nothing for the instrumentation. */
final class Spans {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  @volatile var active = false
  def all: Seq[Span] = buf.asScala.toSeq
  def clear(): Unit = buf.clear()
  def time[T](name: String, parent: String)(body: => T): T =
    if (!active) body
    else {
      val t0 = System.nanoTime()
      try body finally buf.add(Span(name, parent, t0, System.nanoTime()))
    }
  def total(name: String): Double = all.filter(_.name == name).map(_.seconds).sum
}

/** Task-level totals of one stage. */
final class StageAgg {
  var tasks = 0L
  var busyMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var result = 0L
  var output = 0L
  val durations = mutable.ArrayBuffer.empty[Long]
}

final case class JobRec(id: Int, group: String, modules: Set[String], startMs: Long,
    stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

/** Records every job, stage and task of the session. */
final class JobRecorder extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageAgg]()

  /** SQL execution id → modules of the call site that started it. Jobs of
    * one execution may be submitted from Spark's own threads (adaptive
    * query stages), whose stacks hold no library frame; the execution's
    * call site was captured on the calling thread. */
  private val execModules = new ConcurrentHashMap[Long, Set[String]]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execModules.put(s.executionId, JobRecorder.modulesOf(s.details, s.description))
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val group = prop("spark.jobGroup.id").getOrElse("")
    val last = e.stageInfos.sortBy(_.stageId).lastOption
    val own = last.map(st => JobRecorder.modulesOf(st.details, st.name)).getOrElse(Set("other"))
    // library frames on the job's own stack win; jobs submitted from
    // Spark's threads fall back to their SQL execution's call site
    val modules =
      if (last.exists(st => JobRecorder.hasLibFrame(st.details))) own
      else prop("spark.sql.execution.id").flatMap(id => Option(execModules.get(id.toLong)))
        .getOrElse(own)
    val rec = JobRec(e.jobId, group, modules, e.time, e.stageIds)
    jobs.put(e.jobId, rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val agg = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
    agg.synchronized {
      agg.tasks += 1
      agg.durations += e.taskInfo.duration
      if (m != null) {
        agg.busyMs += m.executorRunTime
        agg.cpuNs += m.executorCpuTime
        agg.gcMs += m.jvmGCTime
        agg.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        agg.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        agg.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        agg.result += m.resultSize
        agg.output += m.outputMetrics.bytesWritten
      }
    }
  }

  def clear(): Unit = { jobs.clear(); stages.clear() }
}

object JobRecorder {
  private val LibFrame = """(?m)^graft\.[\w.$]+\((\w+)\.scala:\d+\)""".r
  private val ShortSite = """.* at ([A-Za-z0-9_$]+)\.(?:scala|java):\d+""".r

  def hasLibFrame(longForm: String): Boolean =
    LibFrame.findFirstIn(Option(longForm).getOrElse("")).isDefined

  /** The library source files of every library frame in a long call
    * site, else the file named by the short form. */
  def modulesOf(longForm: String, shortForm: String): Set[String] = {
    val lib = LibFrame.findAllMatchIn(Option(longForm).getOrElse("")).map(_.group(1)).toSet
    if (lib.nonEmpty) lib
    else Option(shortForm).getOrElse("") match {
      case ShortSite(file) => Set(file)
      case _ => Set("other")
    }
  }
}

/** Collects streaming progress events (the query's own trigger timing). */
final class ProgressRecorder extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Timing decorator around a [[GdsSink]]: one span per lifecycle call. */
final class TimedSink(inner: GdsSink, spans: Spans, parent: String) extends GdsSink {
  val rows = new AtomicLong()
  val bytes = new AtomicLong()
  private def load(name: String)(r: => LoadResult): LoadResult = {
    val res = spans.time(name, parent)(r)
    rows.addAndGet(res.count); bytes.addAndGet(res.nbytes)
    res
  }
  override def start(): Unit = spans.time("sink.start", parent)(inner.start())
  override def writeNodes(nodes: DataFrame): LoadResult = load("sink.write_nodes")(inner.writeNodes(nodes))
  override def nodesDone(): Unit = spans.time("sink.barrier", parent)(inner.nodesDone())
  override def writeEdges(edges: DataFrame): LoadResult = load("sink.write_edges")(inner.writeEdges(edges))
  override def edgesDone(): Unit = spans.time("sink.edges_done", parent)(inner.edgesDone())
}

/** Timing decorator around a [[FlightTransport]] (runs in write tasks). */
final class TimedTransport(inner: FlightTransport) extends FlightTransport {
  override def action(name: String, bodyJson: String): Unit = inner.action(name, bodyJson)
  override def putStream(descriptor: String, ipcStream: Array[Byte]): Unit = {
    val t0 = System.nanoTime()
    try inner.putStream(descriptor, ipcStream)
    finally {
      TimedTransport.calls.incrementAndGet()
      TimedTransport.busyS.add((System.nanoTime() - t0) / 1e9)
    }
  }
}

object TimedTransport {
  val calls = new AtomicLong()
  val busyS = new DoubleAdder()
  def reset(): Unit = { calls.set(0); busyS.reset() }
}

/** Turns the recorded jobs/stages/tasks of one call into span metrics. */
object SparkLayer {
  private val MB = 1024.0 * 1024.0

  /** Modules whose call-site busy time is reported per call. */
  val Modules = Seq("Dedup", "Corpus", "Graph", "Scratch", "Pin")

  def metrics(rec: JobRecorder, groups: Set[String], startMs: Long, endMs: Long,
      cores: Int): Map[String, Double] = {
    val jobs = rec.jobs.values().asScala.filter(j => groups(j.group)).toSeq
    val wall = math.max(1L, endMs - startMs) / 1000.0
    // union of job intervals, clipped to the span
    val ivs = jobs.map(j => (math.max(j.startMs, startMs),
      math.min(if (j.endMs < 0) endMs else j.endMs, endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    ivs.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    val jobS = covered / 1000.0

    val stageAggs: Seq[(JobRec, StageAgg)] = jobs.flatMap(j =>
      j.stageIds.flatMap(s => Option(rec.stages.get(s)).map(j -> _)))
    def sum(f: StageAgg => Long, pick: JobRec => Boolean = _ => true): Long =
      stageAggs.filter(x => pick(x._1)).map(x => x._2.synchronized(f(x._2))).sum
    val busyS = sum(_.busyMs) / 1000.0
    val skews = stageAggs.map(_._2).filter(_.durations.size >= 2).map { a =>
      val d = a.synchronized(a.durations.toSeq)
      val mean = d.sum.toDouble / d.size
      if (mean <= 0) 1.0 else d.max / mean
    }
    def moduleJobs(m: String) = jobs.filter(_.modules(m))
    def jobSeconds(js: Seq[JobRec]) =
      js.map(j => math.max(0L, (if (j.endMs < 0) endMs else j.endMs) - j.startMs)).sum / 1000.0
    val perModule = Modules.map { m =>
      s"callsite.$m.busy_s" -> sum(_.busyMs, _.modules(m)) / 1000.0
    }
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> stageAggs.size.toDouble,
      "spark.tasks" -> sum(_.tasks).toDouble,
      "spark.task_busy_s" -> busyS,
      "spark.task_cpu_s" -> sum(_.cpuNs) / 1e9,
      "spark.gc_s" -> sum(_.gcMs) / 1000.0,
      "spark.shuffle_write_mb" -> sum(_.shuffleWrite) / MB,
      "spark.shuffle_read_mb" -> sum(_.shuffleRead) / MB,
      "spark.spill_mb" -> sum(_.spill) / MB,
      "spark.result_mb" -> sum(_.result) / MB,
      "spark.job_s" -> jobS,
      "spark.driver_gap_s" -> math.max(0.0, wall - jobS),
      "spark.core_util" -> busyS / (wall * cores),
      "spark.stage_skew" -> (if (skews.isEmpty) 1.0 else Stats.median(skews)),
      "ops.scratch_jobs" -> moduleJobs("Scratch").size.toDouble,
      "ops.scratch_write_mb" -> sum(_.output, _.modules("Scratch")) / MB,
      "ops.scratch_s" -> jobSeconds(moduleJobs("Scratch")),
      "ops.pin_jobs" -> moduleJobs("Pin").size.toDouble,
      "ops.pin_collect_mb" -> sum(_.result, _.modules("Pin")) / MB,
      "ops.pin_s" -> jobSeconds(moduleJobs("Pin")),
    ) ++ perModule
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.perfbench.ListenerBus.drain(sc)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile with at least ten samples beyond it: the
    * 11th-largest value. Below 21 samples that percentile would sit under
    * the median, and the maximum of a few samples is mostly noise, so the
    * upper quartile stands in for the tail. */
  def tail(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size >= 21) s(s.size - 11) else quantile(s, 0.75)
  }
}
