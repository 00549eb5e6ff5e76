package perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import graft.functions.{MinHashSignature, TextFunctions}
import graft.model.GraphModel
import graft.operators.{Corpus, Dedup, Graph}
import graft.pipeline.GraphProjection
import graft.sink.{FlightConfig, FlightSink, FlightTransport}
import graft.streaming.EventStreams
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** What one run hands to the workloads. `recorder`/`progress` are only
  * registered with the session when tracing. */
final class Env(
    val spark: SparkSession,
    val data: String,
    val work: String,
    val cores: Int,
    val seconds: Int,
    val trace: Boolean,
    val truth: JsonNode) {
  val spans = new Spans
  val recorder = new JobRecorder
  val progress = new ProgressRecorder
  /** Traced jobs per call-site module, over the whole run (diagnostic). */
  val jobsByModule = mutable.Map.empty[String, Int].withDefaultValue(0)
  def countModules(groups: Set[String]): Unit =
    recorder.jobs.values().asScala.filter(j => groups(j.group))
      .foreach(j => j.modules.foreach(jobsByModule(_) += 1))
  def path(rel: String): String = new File(work, rel).getAbsolutePath
}

/** Result of a run's timed region. `unitMs` are the latencies of the
  * workload's unit of work (a closed-loop call, or one micro-batch);
  * `layer` holds the per-layer medians of the traced calls. */
final case class Outcome(
    attempted: Int,
    failed: Int,
    failures: Seq[String],
    wallS: Double,
    unitMs: Seq[Double],
    layer: Map[String, Double])

trait Workload {
  def setup(env: Env): Unit
  def run(env: Env): Outcome
}

object Workload {
  def apply(name: String): Workload = name match {
    case "graph_load" => GraphLoad
    case "curate" => Curate
    case "graph_algos" => GraphAlgos
    case "stream_dedup" => StreamDedup
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def check(failures: mutable.Buffer[String], ok: Boolean, what: => String): Unit =
    if (!ok) failures += what

  /** Delete a directory tree the benchmark owns. */
  def rmTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
    ()
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def dataFiles(f: File): Int =
    if (f.isFile) (if (f.getName.endsWith(".parquet")) 1 else 0)
    else Option(f.listFiles()).map(_.map(dataFiles).sum).getOrElse(0)
}

/** A workload whose unit of work is one synchronous call, repeated in a
  * closed loop (each call starts when the previous one returns) until
  * the run's seconds are spent. The first call's output is checked
  * against the generator's ground truth after it returns. The first
  * `warmupCalls` calls are not timed; with none, the first call is, which
  * suits the pipelines that run once per `spark-submit`: the first call
  * in a fresh JVM is what their users wait for. With tracing on, at least
  * one call warms up, and the calls after it alternate untraced/traced,
  * so one run yields both the per-layer breakdown and the overhead of
  * tracing. */
abstract class BatchWorkload extends Workload {
  /** Run one call; the returned thunk checks its output (untimed). */
  def call(env: Env, traced: Boolean, check: Boolean): () => Seq[String]
  /** Per-layer metrics derived from the spans of one traced call. */
  def spanMetrics(env: Env): Map[String, Double]
  def warmupCalls: Int = 0

  override def run(env: Env): Outcome = {
    val failures = mutable.ArrayBuffer.empty[String]
    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val warmup = if (env.trace) math.max(1, warmupCalls) else warmupCalls
    var failed = 0
    var t0 = 0L
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    while (i < warmup || elapsed < env.seconds || plain.isEmpty || (env.trace && traced.isEmpty)) {
      if (i == warmup) t0 = System.nanoTime()
      val before = failures.size
      try {
        if (env.trace && i > warmup && (i - warmup) % 2 == 1) {
          val (wall, m) = Tracing.measure(env, s"perfbench-call-$i") {
            call(env, traced = true, check = false)
          }
          traced += wall
          layers += m ++ spanMetrics(env)
        } else {
          val timed = i >= warmup
          val c0 = System.nanoTime()
          val verify = Heap.during(timed)(call(env, traced = false, check = i == 0))
          val wall = (System.nanoTime() - c0) / 1e9
          if (timed) plain += wall
          if (i == 0) failures ++= verify()
        }
      } catch { case e: Exception => failures += s"call $i threw: $e" }
      if (failures.size > before) failed += 1
      i += 1
    }
    val wall = if (plain.isEmpty) Double.NaN else Stats.median(plain.toSeq)
    Outcome(i, failed, failures.toSeq, wall, plain.map(_ * 1000.0).toSeq,
      Tracing.summarize(layers.toSeq, traced.toSeq, wall))
  }
}

object Tracing {
  /** Run `body` under its own job group; return its wall seconds and the
    * Spark-layer metrics of the jobs it caused. */
  def measure(env: Env, group: String)(body: => Any): (Double, Map[String, Double]) = {
    val sc = env.spark.sparkContext
    SparkLayer.drain(sc)
    env.recorder.clear()
    env.spans.clear()
    TimedTransport.reset()
    sc.setJobGroup(group, group)
    env.spans.active = true
    val s = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try { body; () } finally { sc.clearJobGroup(); env.spans.active = false }
    val wall = (System.nanoTime() - t0) / 1e9
    val e = System.currentTimeMillis()
    SparkLayer.drain(sc)
    env.countModules(Set(group))
    (wall, SparkLayer.metrics(env.recorder, Set(group), s, e, env.cores) +
      ("trace.wall_s" -> wall))
  }

  /** Median of every per-layer metric over the traced calls, plus the
    * overhead of tracing against the untraced median. */
  def summarize(samples: Seq[Map[String, Double]], traced: Seq[Double],
      untracedWall: Double): Map[String, Double] =
    if (samples.isEmpty) Map.empty
    else {
      val keys = samples.flatMap(_.keys).distinct
      keys.map(k => k -> Stats.median(samples.flatMap(_.get(k)))).toMap +
        ("trace_overhead" -> (Stats.median(traced) / untracedWall - 1.0))
    }
}

// ---------------------------------------------------------------- graph_load

/** In-process stand-in for a GDS Arrow Flight endpoint: records the
  * control actions and, while `decode` is on, decodes every IPC payload
  * and folds its (nodeId, labels) / (source, target, type) tuples into an
  * order-independent digest. Otherwise a put costs the sink nothing, so
  * the timed calls measure the pipeline, not this stand-in. */
final class RecordingTransport extends FlightTransport {
  import RecordingTransport._
  override def action(name: String, bodyJson: String): Unit = actions.synchronized {
    actions += name; ()
  }
  override def putStream(descriptor: String, ipcStream: Array[Byte]): Unit =
    if (decode) {
      val alloc = new org.apache.arrow.memory.RootAllocator()
      val rdr = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        new java.io.ByteArrayInputStream(ipcStream), alloc)
      try {
        while (rdr.loadNextBatch()) {
          val root = rdr.getVectorSchemaRoot
          val n = root.getRowCount
          def long(name: String, i: Int): Long =
            root.getVector(name).asInstanceOf[org.apache.arrow.vector.BigIntVector].get(i)
          def str(name: String, i: Int): String = Option(root.getVector(name)) match {
            case Some(v: org.apache.arrow.vector.VarCharVector) if !v.isNull(i) =>
              new String(v.get(i), java.nio.charset.StandardCharsets.UTF_8)
            case _ => ""
          }
          var h = 0L
          var i = 0
          while (i < n) {
            h += (if (descriptor == "nodes") Digest.tuple(long("nodeId", i), 0L, str("labels", i))
            else Digest.tuple(long("sourceNodeId", i), long("targetNodeId", i),
              str("relationshipType", i)))
            i += 1
          }
          val (rowsAcc, digestAcc) =
            if (descriptor == "nodes") (nodeRows, nodeDigest) else (edgeRows, edgeDigest)
          rowsAcc.addAndGet(n.toLong)
          digestAcc.addAndGet(h)
        }
      } finally { rdr.close(); alloc.close() }
    }
}

object RecordingTransport {
  @volatile var decode = false
  val actions = mutable.ArrayBuffer.empty[String]
  val nodeRows, nodeDigest, edgeRows, edgeDigest = new AtomicLong()
  def reset(): Unit = {
    actions.synchronized(actions.clear())
    Seq(nodeRows, nodeDigest, edgeRows, edgeDigest).foreach(_.set(0L))
  }
  val plain: FlightTransport.Factory = _ => new RecordingTransport
  val timed: FlightTransport.Factory = _ => new TimedTransport(new RecordingTransport)
}

/** The same per-tuple hash the generator sums (gen.py `digest`). */
object Digest {
  def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  def fnv1a64(s: String): Long =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8).foldLeft(0xCBF29CE484222325L) {
      (h, b) => (h ^ (b & 0xFF)) * 0x100000001B3L
    }
  def tuple(a: Long, b: Long, c: String): Long =
    splitmix64(a ^ splitmix64(b ^ splitmix64(fnv1a64(c))))
}

object GraphLoad extends BatchWorkload {
  private val Specs = Seq("customer", "supplier", "part", "orders")

  /** The model, in the reference's JSON shape: four node specs and two
    * edge specs routed by the directory in each file's path. */
  val ModelJson: String =
    """{"name": "tpch", "db": "neo4j",
      | "nodes": [
      |  {"source": ".*/customer/[^/]*$", "label_field": "c_mktsegment", "key_field": "c_custkey",
      |   "properties": {"c_acctbal": "acctbal", "c_nationkey": "nation"}},
      |  {"source": ".*/supplier/[^/]*$", "key_field": "s_suppkey",
      |   "properties": {"s_acctbal": "acctbal"}},
      |  {"source": ".*/part/[^/]*$", "label_field": "p_brand", "key_field": "p_partkey",
      |   "properties": {"p_retailprice": "price", "p_size": "size"}},
      |  {"source": ".*/orders/[^/]*$", "label_field": "o_orderstatus", "key_field": "o_orderkey",
      |   "properties": {"o_totalprice": "total"}}],
      | "edges": [
      |  {"source": ".*/orders/[^/]*$", "type_field": "o_orderpriority",
      |   "source_field": "o_custkey", "target_field": "o_orderkey"},
      |  {"source": ".*/lineitem/[^/]*$", "type_field": "l_returnflag",
      |   "source_field": "l_orderkey", "target_field": "l_partkey",
      |   "properties": {"l_quantity": "quantity", "l_extendedprice": "price"}}]}""".stripMargin

  @volatile private var model: GraphModel = _

  /** The untimed warm-up calls warm the scan path, so set-up only parses
    * the model. */
  override def setup(env: Env): Unit = model = GraphModel.fromJson(ModelJson)

  /** The checked call decodes every payload, and the calls after it
    * keep getting faster for a few more calls as the JIT compiles
    * the routing, footer, scan and encode paths. */
  override def warmupCalls: Int = 4

  override def call(env: Env, traced: Boolean, check: Boolean): () => Seq[String] = {
    val nodeDirs = (Specs :+ "nation").map(s => s"${env.data}/$s")
    val edgeDirs = Seq("orders", "lineitem").map(s => s"${env.data}/$s")
    val cfg = FlightConfig(host = "in-process", graphName = if (traced) "traced" else "plain")
    val base = new FlightSink(cfg, if (traced) RecordingTransport.timed else RecordingTransport.plain)
    val sink = if (traced) new TimedSink(base, env.spans, "pipeline.run") else base
    RecordingTransport.reset()
    RecordingTransport.decode = check
    val res = try env.spans.time("pipeline.run", "call") {
      GraphProjection.run(env.spark, model, nodeDirs, edgeDirs, sink)
    } finally RecordingTransport.decode = false
    if (traced) lastSink = Some(sink.asInstanceOf[TimedSink])
    () => verify(env, res)
  }

  private def verify(env: Env, res: GraphProjection.Result): Seq[String] = {
    val t = env.truth
    val f = mutable.ArrayBuffer.empty[String]
    val nodeRows = res.nodeStats.map(_.count).sum
    val edgeRows = res.edgeStats.map(_.count).sum
    Workload.check(f, nodeRows == t.at("/nodes/rows").asLong,
      s"node rows $nodeRows != ${t.at("/nodes/rows").asLong}")
    Workload.check(f, edgeRows == t.at("/edges/rows").asLong,
      s"edge rows $edgeRows != ${t.at("/edges/rows").asLong}")
    val perNode = Specs.map(s => t.at(s"/nodes/per_spec/$s").asLong)
    Workload.check(f, res.nodeStats.map(_.count) == perNode,
      s"per-spec node rows ${res.nodeStats.map(_.count)} != $perNode")
    val perEdge = Seq("orders", "lineitem").map(s => t.at(s"/edges/per_spec/$s").asLong)
    Workload.check(f, res.edgeStats.map(_.count) == perEdge,
      s"per-spec edge rows ${res.edgeStats.map(_.count)} != $perEdge")
    Workload.check(f, RecordingTransport.nodeRows.get == t.at("/nodes/rows").asLong &&
      RecordingTransport.nodeDigest.get == t.at("/nodes/digest").asLong,
      s"transport received node tuples (${RecordingTransport.nodeRows.get} rows) " +
        "whose digest differs from the generated ones")
    Workload.check(f, RecordingTransport.edgeRows.get == t.at("/edges/rows").asLong &&
      RecordingTransport.edgeDigest.get == t.at("/edges/digest").asLong,
      s"transport received edge tuples (${RecordingTransport.edgeRows.get} rows) " +
        "whose digest differs from the generated ones")
    val acts = RecordingTransport.actions.synchronized(RecordingTransport.actions.toList)
    Workload.check(f, acts == List("CREATE_GRAPH", "NODE_LOAD_DONE", "RELATIONSHIP_LOAD_DONE"),
      s"control-plane actions out of order: $acts")
    f.toSeq
  }

  @volatile private var lastSink: Option[TimedSink] = None

  override def spanMetrics(env: Env): Map[String, Double] = {
    val s = env.spans
    val run = s.total("pipeline.run")
    val children = Seq("sink.start", "sink.write_nodes", "sink.barrier", "sink.write_edges",
      "sink.edges_done").map(s.total).sum
    val rows = lastSink.map(_.rows.get.toDouble).getOrElse(0.0)
    val puts = TimedTransport.calls.get.toDouble
    Map(
      "pipeline.run_s" -> run,
      "pipeline.self_s" -> (run - children),
      "sink.write_nodes_s" -> s.total("sink.write_nodes"),
      "sink.write_edges_s" -> s.total("sink.write_edges"),
      "sink.barrier_s" -> s.total("sink.barrier"),
      "sink.rows" -> rows,
      "sink.wire_mb" -> lastSink.map(_.bytes.get / (1024.0 * 1024.0)).getOrElse(0.0),
      "sink.put_calls" -> puts,
      "sink.put_busy_s" -> TimedTransport.busyS.sum,
      "sink.rows_per_put" -> (if (puts > 0) rows / puts else 0.0))
  }
}

// -------------------------------------------------------------------- curate

object Curate extends BatchWorkload {
  private val Splits = Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05)

  override def setup(env: Env): Unit = {
    env.spark.read.parquet(s"${env.data}/benchmark").count()
    ()
  }

  /** `CurateMain`'s job body with `--quality_keep 0.8 --benchmark ...`:
    * heuristic quality gate → LSH near-dup + components → Bloom
    * decontamination → splits → sharded write, then the per-split tally
    * it prints. */
  override def call(env: Env, traced: Boolean, check: Boolean): () => Seq[String] = {
    val spark = env.spark
    val out = env.path("curate_out")
    Workload.rmTree(new File(out))
    val docs = spark.read.parquet(s"${env.data}/documents")
    val bench = spark.read.parquet(s"${env.data}/benchmark").select(col("bench_id"), col("text"))
    val scored = docs.withColumn("quality", TextFunctions.qualityScore(col("text"), col("n_chars")))
    val prepared = env.spans.time("corpus.prepare", "call") {
      Corpus.prepareTrainingSet(scored, bench, out, splits = Splits, minJaccard = 0.2,
        nShards = 16, qualityFilter = Some("quality" -> 0.8))
    }
    val bySplit = prepared.groupBy(col("split")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    () => verify(env, out, bySplit)
  }

  private def verify(env: Env, out: String, bySplit: Map[String, Long]): Seq[String] = {
    val spark = env.spark
    val f = mutable.ArrayBuffer.empty[String]
    val kept = spark.read.parquet(out).select(col("doc_id")).collect().map(_.getLong(0))
    val keptSet = kept.toSet
    val t = env.truth
    val contaminated = t.get("contaminated").elements().asScala.map(_.asLong).toSeq
    val leaked = contaminated.filter(keptSet)
    Workload.check(f, leaked.isEmpty, s"planted contaminated docs survived: ${leaked.take(5)}")
    val clusters = t.get("clusters").elements().asScala.map(_.elements().asScala.map(_.asLong).toSeq).toSeq
    val multi = clusters.filter(c => c.count(keptSet) > 1)
    Workload.check(f, multi.isEmpty,
      s"${multi.size} planted near-dup clusters kept more than one doc, e.g. ${multi.headOption}")
    Workload.check(f, kept.length == keptSet.size, s"${kept.length - keptSet.size} duplicate ids written")
    Workload.check(f, bySplit.values.sum == kept.length,
      s"split counts $bySplit do not sum to the ${kept.length} kept docs")
    Workload.check(f, bySplit.keySet.subsetOf(Splits.map(_._1).toSet), s"unknown splits $bySplit")
    val bound = t.get("docs").asLong - clusters.map(_.size - 1).sum - contaminated.size
    Workload.check(f, kept.length <= bound && kept.nonEmpty,
      s"${kept.length} docs kept, planted removals allow at most $bound")
    f.toSeq
  }

  /** The `functions` layer builds column expressions and so launches no
    * job of its own; its cost is timed as a scope of its own after each
    * traced call: one scan of the documents through the quality score,
    * MinHash signature and shingle set the call evaluates. */
  override def spanMetrics(env: Env): Map[String, Double] = {
    val text = col("text")
    val t0 = System.nanoTime()
    env.spark.read.parquet(s"${env.data}/documents")
      .select(TextFunctions.qualityScore(text, col("n_chars")).as("q"),
        size(MinHashSignature.minhashSignature(text, 5, 16)).as("h"),
        size(TextFunctions.shingles(text, 5)).as("s"))
      .agg(sum(col("q")), sum(col("h")), sum(col("s"))).head()
    Map("corpus.prepare_s" -> env.spans.total("corpus.prepare"),
      "functions.score_s" -> (System.nanoTime() - t0) / 1e9)
  }
}

// --------------------------------------------------------------- graph_algos

object GraphAlgos extends BatchWorkload {
  /** Below the edge count, so every loop takes its distributed path:
    * Pin's gate falls back to scratch tables, and label propagation and
    * k-core skip their driver-local replays. */
  val MaxLocalEdges = 20000L

  override def setup(env: Env): Unit = {
    env.spark.conf.set("spark.graft.maxLocalEdges", MaxLocalEdges.toString)
    env.spark.read.parquet(s"${env.data}/lineitem").schema
    ()
  }

  /** Co-occurrence edges over the replicated lineitem, persisted as a
    * user would before iterating, then the four iterative algorithms,
    * each forced by one aggregate over its output. */
  override def call(env: Env, traced: Boolean, check: Boolean): () => Seq[String] = {
    val spark = env.spark
    val s = env.spans
    val edgesPath = env.path("graph_edges")
    val li = spark.read.parquet(s"${env.data}/lineitem")
    s.time("graph.edges", "call") {
      Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
        .write.mode("overwrite").parquet(edgesPath)
    }
    val edges = spark.read.parquet(edgesPath)
    val pr = s.time("graph.pagerank", "call") {
      Graph.pageRank(edges, iters = 2).agg(count(lit(1)), sum(col("rank"))).head()
    }
    val cc = s.time("graph.components", "call") {
      Graph.connectedComponents(edges).agg(count(lit(1)), countDistinct(col("component"))).head()
    }
    val lpa = s.time("graph.lpa", "call") {
      val l = Graph.labelPropagation(edges, rounds = 2)
      l.agg(count(lit(1)), countDistinct(col(l.columns(1)))).head()
    }
    val kc = s.time("graph.kcore", "call") {
      Graph.kCore(edges, k = 3).agg(count(lit(1))).head()
    }
    () => verify(env, edgesPath, pr, cc, lpa, kc)
  }

  private def verify(env: Env, edgesPath: String, pr: Row, cc: Row, lpa: Row,
      kc: Row): Seq[String] = {
    val t = env.truth
    val f = mutable.ArrayBuffer.empty[String]
    val nEdges = env.spark.read.parquet(edgesPath).count()
    Workload.check(f, nEdges == t.get("edges").asLong, s"edges $nEdges != ${t.get("edges").asLong}")
    val nodes = t.get("nodes").asLong
    val comps = t.get("components").asLong
    Workload.check(f, pr.getLong(0) == nodes, s"pagerank nodes ${pr.getLong(0)} != $nodes")
    Workload.check(f, math.abs(pr.getDouble(1) - 1.0) < 1e-6,
      s"pagerank mass ${pr.getDouble(1)} is not conserved")
    Workload.check(f, cc.getLong(0) == nodes && cc.getLong(1) == comps,
      s"components: ${cc.getLong(1)} over ${cc.getLong(0)} nodes, want $comps over $nodes " +
        s"(${t.get("replicas").asLong} disjoint replicas × ${t.get("base_components").asLong})")
    Workload.check(f, lpa.getLong(0) == nodes && lpa.getLong(1) >= comps,
      s"label propagation: ${lpa.getLong(1)} labels over ${lpa.getLong(0)} nodes " +
        s"(a label never crosses a component, so at least $comps)")
    Workload.check(f, kc.getLong(0) > 0 && kc.getLong(0) <= nodes,
      s"3-core has ${kc.getLong(0)} nodes of $nodes")
    f.toSeq
  }

  override def spanMetrics(env: Env): Map[String, Double] = Map(
    "graph.edges_s" -> env.spans.total("graph.edges"),
    "graph.pagerank_s" -> env.spans.total("graph.pagerank"),
    "graph.components_s" -> env.spans.total("graph.components"),
    "graph.lpa_s" -> env.spans.total("graph.lpa"),
    "graph.kcore_s" -> env.spans.total("graph.kcore"))
}

// -------------------------------------------------------------- stream_dedup

/** A real Structured Streaming query drains a staged backlog of seeded
  * micro-batch files, one file per trigger, through
  * `EventStreams.lshDedupStream`; every trigger appends to the band
  * index, the corpus store and the pair log, so state grows batch by
  * batch. The timed region is one drain of the whole backlog (a fixed
  * number of files, so `--seconds` does not change it); its unit of work
  * is the micro-batch. A streaming query runs for long, so its users see
  * warm micro-batches: set-up first drains one file of the same shape
  * through an earlier query on the same tables, which takes the JVM's
  * first-batch cost. */
object StreamDedup extends Workload {
  private val Tables = ("perfbench_lsh_bands", "perfbench_lsh_corpus", "perfbench_lsh_pairs")
  private val Buckets = 8
  private val MinJaccard = 0.2
  @volatile private var dirs: (String, String, String) = _

  /** A fresh band index, corpus store and pair log, and the warm-up drain. */
  override def setup(env: Env): Unit = {
    seed(env)
    drain(env, "warmup")
    ()
  }

  private def seed(env: Env): Unit = {
    val id = java.util.UUID.randomUUID().toString.take(8)
    dirs = (env.path(s"lsh_$id/bands"), env.path(s"lsh_$id/corpus"), env.path(s"lsh_$id/pairs"))
    EventStreams.seedLshStreamTables(env.spark, Tables._1, Tables._2, Tables._3,
      dirs._1, dirs._2, dirs._3, buckets = Buckets)
  }

  /** Drain a directory completely; wall seconds and the stopped query. */
  private def drain(env: Env, dir: String): (Double, StreamingQuery) = {
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val src = env.spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(s"${env.data}/$dir")
    val t0 = System.nanoTime()
    val q = EventStreams.lshDedupStream(src, Tables._1, Tables._2, Tables._3,
      buckets = Buckets, minJaccard = MinJaccard)
    try q.processAllAvailable() finally q.stop()
    ((System.nanoTime() - t0) / 1e9, q)
  }

  private def batches(q: StreamingQuery) = q.recentProgress.filter(_.numInputRows > 0)

  private def logPairs(env: Env): Set[(Long, Long)] =
    env.spark.table(Tables._3).select(col("a"), col("b")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Every planted pair found, one micro-batch per file, and the union
    * of the pair log equal to the one-shot batch operator's pairs over
    * every document both queries fed it. */
  private def check(env: Env, q: StreamingQuery): Seq[String] = {
    val f = mutable.ArrayBuffer.empty[String]
    val log = logPairs(env)
    val once = Dedup.lshJaccard(
      env.spark.read.parquet(s"${env.data}/warmup", s"${env.data}/backlog"),
      minJaccard = MinJaccard).select(col("a"), col("b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    Workload.check(f, log == once,
      s"pair log (${log.size}) != one-shot lshJaccard (${once.size}): " +
        s"${(log -- once).take(3)} / ${(once -- log).take(3)}")
    val planted = env.truth.get("planted_pairs").elements().asScala
      .map(p => (p.get(0).asLong, p.get(1).asLong)).toSet
    Workload.check(f, planted.subsetOf(log), s"planted pairs missing: ${(planted -- log).take(3)}")
    val files = env.truth.get("files").asInt
    Workload.check(f, batches(q).length == files,
      s"${batches(q).length} micro-batches for $files backlog files")
    f.toSeq
  }

  /** The timed drain (checked, untimed, right after it). With tracing on,
    * a traced drain over freshly seeded tables follows, and the timed
    * drain is its untraced reference. */
  override def run(env: Env): Outcome = {
    val failures = mutable.ArrayBuffer.empty[String]
    var wall = Double.NaN
    var unitMs = Seq.empty[Double]
    try {
      val (w, q) = Heap.during(on = true)(drain(env, "backlog"))
      wall = w
      unitMs = batches(q).map(_.durationMs.get("triggerExecution").toDouble).toSeq
      failures ++= check(env, q)
    } catch { case e: Exception => failures += s"drain threw: $e" }
    val layer = if (!env.trace || wall.isNaN) Map.empty[String, Double] else traced(env, wall)
    Outcome(if (env.trace) 2 else 1, if (failures.isEmpty) 0 else 1, failures.toSeq, wall,
      unitMs, layer)
  }

  /** A traced drain of the backlog over fresh tables, after the same
    * untraced warm-up drain as in set-up. */
  private def traced(env: Env, untracedWall: Double): Map[String, Double] = {
    seed(env)
    drain(env, "warmup")
    val before = dirs.productIterator.map(d => Workload.dirBytes(new File(d.toString))).sum
    env.progress.progress.clear()
    val sc = env.spark.sparkContext
    SparkLayer.drain(sc)
    env.recorder.clear()
    val s = System.currentTimeMillis()
    val (wall, q) = drain(env, "backlog")
    val e = System.currentTimeMillis()
    SparkLayer.drain(sc)
    val group = Set(q.runId.toString)
    env.countModules(group)
    val prog = env.progress.progress.asScala.toSeq
      .filter(p => p.runId == q.runId && p.numInputRows > 0).sortBy(_.batchId)
    def dur(k: String) = prog.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
    val trig = dur("triggerExecution")
    val add = dur("addBatch")
    val quarter = math.max(1, trig.size / 4)
    val after = dirs.productIterator.map(d => Workload.dirBytes(new File(d.toString))).sum
    SparkLayer.metrics(env.recorder, group, s, e, env.cores) ++ Map(
      "trace.wall_s" -> wall,
      "trace_overhead" -> (wall / untracedWall - 1.0),
      "streaming.add_batch_ms" -> Stats.median(add),
      "streaming.commit_overhead_ms" -> Stats.median(trig.zip(add).map { case (a, b) => a - b }),
      "streaming.history_growth" ->
        Stats.median(trig.takeRight(quarter)) / Stats.median(trig.take(quarter)),
      "streaming.index_files" -> Workload.dataFiles(new File(dirs._1)).toDouble,
      "streaming.append_mb" -> (after - before) / (1024.0 * 1024.0))
  }
}
