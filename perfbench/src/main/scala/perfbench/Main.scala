package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** The measured JVM of the pipeline benchmark (launched by `run.py`).
  *
  *   perfbench.Main --workload <name> --data <dir> --work <dir>
  *     --seconds <n> --trace <0|1> --cores <n> --out <result.json>
  *
  * Set-up (session, warm-up job, model parse / stream-table seeding) is
  * timed from process start to the first timed call. Then the workload
  * runs its timed region and the record is written to `--out`:
  * end-to-end metrics with tracing off, per-layer metrics with tracing
  * on. */
object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "setup_s" -> "s", "peak_heap_mb" -> "MB",
    "batch_p50_ms" -> "ms", "batch_tail_ms" -> "ms")

  val PerLayer: Seq[(String, String)] = Seq(
    "pipeline.run_s" -> "s", "pipeline.self_s" -> "s",
    "sink.write_nodes_s" -> "s", "sink.write_edges_s" -> "s", "sink.barrier_s" -> "s",
    "sink.rows" -> "count", "sink.wire_mb" -> "MB", "sink.put_calls" -> "count",
    "sink.put_busy_s" -> "s", "sink.rows_per_put" -> "count",
    "ops.scratch_jobs" -> "count", "ops.scratch_write_mb" -> "MB", "ops.scratch_s" -> "s",
    "ops.pin_jobs" -> "count", "ops.pin_collect_mb" -> "MB", "ops.pin_s" -> "s",
    "graph.edges_s" -> "s", "graph.pagerank_s" -> "s", "graph.components_s" -> "s",
    "graph.lpa_s" -> "s", "graph.kcore_s" -> "s",
    "corpus.prepare_s" -> "s", "functions.score_s" -> "s") ++
    SparkLayer.Modules.map(m => s"callsite.$m.busy_s" -> "s") ++ Seq(
    "streaming.add_batch_ms" -> "ms", "streaming.commit_overhead_ms" -> "ms",
    "streaming.history_growth" -> "ratio", "streaming.index_files" -> "count",
    "streaming.append_mb" -> "MB",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_busy_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.result_mb" -> "MB", "spark.job_s" -> "s", "spark.driver_gap_s" -> "s",
    "spark.core_util" -> "ratio", "spark.stage_skew" -> "ratio",
    "jvm.rss_hwm_mb" -> "MB", "trace.wall_s" -> "s", "trace_overhead" -> "ratio")

  def main(argv: Array[String]): Unit = {
    val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Heap.watch()
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val cores = opt("cores").toInt
    val trace = opt("trace") == "1"
    val mapper = new ObjectMapper()
    val truth = mapper.readTree(new File(opt("data"), "truth.json"))
    val workload = Workload(opt("workload"))

    val spark = session(cores, opt("work"))
    val env = new Env(spark, opt("data"), opt("work"), cores, opt("seconds").toInt, trace, truth)
    workload.setup(env)
    val setupS = (System.currentTimeMillis() - startMs) / 1000.0
    if (trace) {
      spark.sparkContext.addSparkListener(env.recorder)
      spark.streams.addListener(env.progress)
    }
    val out = workload.run(env)
    spark.stop()

    val metrics: Seq[(String, String, Double)] =
      if (!trace) {
        val e2e = Map(
          "wall_s" -> out.wallS,
          "setup_s" -> setupS,
          "peak_heap_mb" -> Heap.peakMb,
          "batch_p50_ms" -> (if (out.unitMs.isEmpty) Double.NaN else Stats.median(out.unitMs)),
          "batch_tail_ms" -> (if (out.unitMs.isEmpty) Double.NaN else Stats.tail(out.unitMs)))
        EndToEnd.map { case (k, u) => (k, u, e2e(k)) }
      } else {
        val layer = out.layer + ("jvm.rss_hwm_mb" -> peakRssMb)
        PerLayer.map { case (k, u) => (k, u, layer.getOrElse(k, 0.0)) }
      }

    val root = mapper.createObjectNode()
    root.put("correct", out.failures.isEmpty)
    root.put("attempted", out.attempted)
    root.put("failed", out.failed)
    val m = root.putObject("metrics")
    metrics.foreach { case (k, u, v) =>
      val o = m.putObject(k)
      o.put("value", v)
      o.put("unit", u)
    }
    val detail = root.putObject("detail")
    val fails = detail.putArray("failures")
    out.failures.foreach(fails.add)
    val units = detail.putArray("unit_ms")
    out.unitMs.foreach(x => units.add(x))
    val mods = detail.putObject("traced_jobs_by_module")
    env.jobsByModule.toSeq.sortBy(-_._2).foreach { case (k, v) => mods.put(k, v) }
    detail.put("rss_hwm_mb", peakRssMb)
    detail.put("setup_s", setupS)
    Files.write(new File(opt("out")).toPath,
      mapper.writeValueAsString(root).getBytes(StandardCharsets.UTF_8))
  }

  private def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation",
        new File(work, "checkpoints").getAbsolutePath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  private def peakRssMb: Double = {
    val lines = mutable.ArrayBuffer.empty[String]
    val src = scala.io.Source.fromFile("/proc/self/status")
    try lines ++= src.getLines() finally src.close()
    lines.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }
}

/** Largest heap occupancy right after a collection (MB) among the
  * collections that ended inside a timed call: the most state the driver
  * JVM held at once while doing the measured work. Collections during
  * set-up and the untimed output checks do not count. The process's
  * resident high-water mark (VmHWM) follows the collector's heap-sizing
  * heuristics instead and swings from run to run, so it is reported as a
  * per-layer figure only. */
object Heap {
  private val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
  /** (end ms since JVM start, MB in use after it) per collection. */
  private val collections = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
  private val timed = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  /** The collector reports every memory pool after a collection,
    * metaspace and code cache too; only the heap pools hold the
    * program's data. */
  private val heapPools: Set[String] =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  def watch(): Unit =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.forEach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData]).getGcInfo
          var used = 0L
          info.getMemoryUsageAfterGc.forEach((pool, u) => if (heapPools(pool)) used += u.getUsed)
          collections.add((info.getEndTime, used / (1024.0 * 1024.0)))
          ()
        }, null, null)
      case _ => ()
    }

  /** Run `body`; if `on`, its interval counts toward the peak. */
  def during[T](on: Boolean)(body: => T): T = {
    val s = jvm.getUptime
    try body finally if (on) timed.add((s, jvm.getUptime))
  }

  /** NaN when no collection ended inside a timed call. Read after the
    * session stops, when every notification has arrived. */
  def peakMb: Double = {
    val ivs = timed.asScala.toSeq
    val in = collections.asScala.collect {
      case (end, mb) if ivs.exists { case (a, b) => end >= a && end <= b } => mb
    }
    if (in.isEmpty) Double.NaN else in.max
  }
}
