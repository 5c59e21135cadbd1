package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.QuadStore
import graft.pipeline.{Dedup, GraphOps}
import graft.prob.ProbReasoner
import graft.rdfio.RdfIO
import graft.reasoner.{Reasoner, Semiring}
import graft.relational.Triplizer
import graft.server.GraftHttpServer
import graft.sparql.{Ast, Compiler, SparqlParser}
import graft.streaming.{RspEngine, RspEngineBuilder}

/** The engine JVM of the benchmark. It hosts the program through its public
  * surfaces only: `GraftHttpServer` over `Triplizer.cachedStore` for the
  * SPARQL workloads (as `ServerMain` serves a corpus directory), a
  * `GraftHttpServer` with RSP sessions for the stream workload, and the
  * fixpoint operators' public functions for the batch workload. The host's
  * constructor is the set-up; when it returns the JVM prints one
  * `PB> {json}` ready line. The benchmark's generator process (`run.py`)
  * then talks to it over stdin/stdout: one JSON command per line in, one
  * `PB> {json}` line out per command.
  *
  * Usage: perfbench.Engine <serve|rsp|batch> <workDir> <dataDir> <cpus>
  */
object Engine {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val Array(mode, work, data, cpusArg) = args
    val cpus = cpusArg.toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val host: Host = mode match {
      case "serve" => new ServeHost(spark, data)
      case "rsp" => new RspHost(spark)
      case "batch" => new BatchHost(spark, data)
    }
    val ready = mapper.createObjectNode()
    host.ready(ready)
    println("PB> " + ready.toString)
    System.out.flush()
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line.trim != """{"cmd":"quit"}""") {
      val cmd = mapper.readTree(line)
      val out = mapper.createObjectNode()
      try host.handle(cmd.get("cmd").asText(), cmd, out)
      catch { case e: Throwable =>
        out.removeAll()
        out.put("error", s"${e.getClass.getName}: ${e.getMessage}")
      }
      println("PB> " + out.toString)
      System.out.flush()
      line = in.readLine()
    }
    host.close()
    spark.stop()
    // the HTTP server's dispatcher threads are not daemons
    System.exit(0)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Materialize every output column and write nothing: `count()` would let
    * column pruning drop the operator's projections. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def planNodes(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case p => p }.size
}

trait Host {
  /** What the generator needs once set-up is done (port, load time). */
  def ready(out: ObjectNode): Unit
  def handle(cmd: String, req: JsonNode, out: ObjectNode): Unit
  def close(): Unit = ()
}

/** A `Counters` listener attached between `listen on` and `listen off`,
  * for the traced passes that go over HTTP. */
final class Listening(spark: SparkSession) {
  private var counters: Counters = _
  def apply(on: Boolean): Unit =
    if (on) { counters = new Counters; spark.sparkContext.addSparkListener(counters) }
    else { counters.settle(); spark.sparkContext.removeSparkListener(counters) }
}

/** One span per call the benchmark makes into a layer: name, start, end,
  * parent span and request id. Kept in memory; written when the run ends. */
final class Tracer(spark: SparkSession) {
  final case class Span(id: Int, name: String, parent: Int, req: String,
      start: Long, var end: Long)
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  /** `call` tags the Spark jobs the span submits, so the listener can
    * attribute them to the enclosing layer call. */
  def span[T](name: String, req: String, call: String = null)(f: => T): T = {
    val s = Span(spans.size, name, stack.headOption.getOrElse(-1), req, System.nanoTime(), 0L)
    spans += s
    stack = s.id :: stack
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Counters.CallKey)
    if (call != null) sc.setLocalProperty(Counters.CallKey, call)
    try f finally {
      s.end = System.nanoTime()
      stack = stack.tail
      if (call != null) sc.setLocalProperty(Counters.CallKey, prev)
    }
  }

  def durMs(s: Span): Double = (s.end - s.start) / 1e6

  /** Self time per layer (first name segment): span time minus the time
    * its children cover. Children of one span run one after another. */
  def selfMsByLayer: Map[String, Double] = {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(durMs).sum }
    spans.groupBy(_.name.takeWhile(_ != '.')).map { case (layer, ss) =>
      layer -> ss.map(s => durMs(s) - childMs.getOrElse(s.id, 0.0)).sum
    }
  }

  def totalMs(name: String): Double = spans.filter(_.name == name).map(durMs).sum

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path)
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""req":"${s.req}","start_ns":${s.start},"end_ns":${s.end}}""")
    } finally w.close()
  }
}

object Counters { val CallKey = "perfbench.call" }

/** Spark work attributed to the enclosing layer call via a public
  * `SparkListener`: jobs, tasks, executor CPU, shuffle, spill, GC and job
  * wall time, plus RDD block updates (the checkpoint bridge's blocks). */
final class Counters extends SparkListener {
  final class C {
    var jobs, tasks = 0L
    var cpuNs, shuffleBytes, spillBytes, gcMs, jobWallMs = 0L
  }
  val byCall = new ConcurrentHashMap[String, C]()
  private val jobCall = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageCall = new ConcurrentHashMap[Int, String]()
  @volatile var started, ended = 0L
  @volatile var blocks, blockBytes = 0L

  private def c(call: String): C = byCall.computeIfAbsent(call, _ => new C)
  private def callOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Counters.CallKey))).getOrElse("untagged")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val call = callOf(e.properties)
    jobCall.put(e.jobId, call); jobStart.put(e.jobId, e.time)
    c(call).jobs += 1
    started += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val call = Option(jobCall.get(e.jobId)).getOrElse("untagged")
    c(call).jobWallMs += e.time - Option(jobStart.get(e.jobId)).getOrElse(e.time)
    ended += 1
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageCall.put(e.stageInfo.stageId, callOf(e.properties))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val x = c(Option(stageCall.get(e.stageId)).getOrElse("untagged"))
    x.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      x.cpuNs += m.executorCpuTime
      x.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      x.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      x.gcMs += m.jvmGCTime
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD && i.storageLevel.isValid) {
      blocks += 1; blockBytes += i.memSize + i.diskSize
    }
  }

  /** Listener events arrive asynchronously: wait until every job whose
    * start was seen has also ended (task ends precede job ends). */
  def settle(): Unit = {
    Thread.sleep(300)
    val deadline = System.nanoTime() + 5e9.toLong
    while (started != ended && System.nanoTime() < deadline) Thread.sleep(20)
  }

  /** `<call>.jobs` … `<call>.driver_ms` for each (call, time spent in the
    * call's spans), `driver_ms` being that time outside Spark jobs. */
  def report(out: ObjectNode, calls: Seq[(String, Double)]): Unit =
    calls.foreach { case (call, spanMs) =>
      val x = Option(byCall.get(call)).getOrElse(new C)
      out.put(s"$call.jobs", x.jobs)
      out.put(s"$call.tasks", x.tasks)
      out.put(s"$call.cpu_ms", x.cpuNs / 1e6)
      out.put(s"$call.shuffle_bytes", x.shuffleBytes)
      out.put(s"$call.spill_bytes", x.spillBytes)
      out.put(s"$call.gc_ms", x.gcMs)
      out.put(s"$call.driver_ms", math.max(0.0, spanMs - x.jobWallMs))
    }
}

/** SPARQL serving: the corpus directory opened as `ServerMain` opens it,
  * through `Triplizer.cachedStore` (its Parquet layout is written on the
  * first open), and a `GraftHttpServer` on it. */
final class ServeHost(spark: SparkSession, data: String) extends Host {
  import Engine._
  private val t0 = System.nanoTime()
  private val quads = Triplizer.cachedStore(spark, data, defaultGraph = true).quads
  private val loadS = secs(t0)
  private var server = serve()
  private val listening = new Listening(spark)

  /** A server over the opened quads. Each gets its own `QuadStore`, so
    * the updates a server applies never reach a later one. */
  private def serve(): GraftHttpServer =
    new GraftHttpServer(spark, Some(QuadStore(spark, quads))).start(0)

  def ready(out: ObjectNode): Unit = { out.put("port", server.port); out.put("load_s", loadS) }

  def handle(cmd: String, req: JsonNode, out: ObjectNode): Unit = cmd match {
    case "reset" =>
      // a fresh server over the same opened quads: updates of an earlier
      // round no longer stack onto this store's plan
      server.stop()
      server = serve()
      out.put("port", server.port)
    case "listen" => listening(req.get("on").asBoolean())
    case "replay" => replay(req, out)
  }

  /** Replays one op sequence in-process on a fresh store over the same
    * quads, one span per layer call: parse → compile → Catalyst planning
    * → collect for reads, `executeUpdate` for updates. */
  private def replay(req: JsonNode, out: ObjectNode): Unit = {
    val tr = new Tracer(spark)
    val cnt = new Counters
    spark.sparkContext.addSparkListener(cnt)
    val store = QuadStore(spark, quads)
    val perRead = out.putArray("reads")
    val phases = Map("analysis" -> ArrayBuffer.empty[Double],
      "optimization" -> ArrayBuffer.empty[Double], "planning" -> ArrayBuffer.empty[Double])
    val parseMs, compileMs, nodes, updMs = ArrayBuffer.empty[Double]
    var quadsNodes = planNodes(store.quads).toDouble
    req.get("ops").elements().asScala.zipWithIndex.foreach { case (op, i) =>
      val text = op.get("text").asText()
      val rid = s"r$i"
      if (op.get("kind").asText() == "update") {
        val t0 = System.nanoTime()
        tr.span("model.update", rid, call = "model.update") {
          new Compiler(store).executeUpdate(SparqlParser().parseUpdate(text))
        }
        updMs += (System.nanoTime() - t0) / 1e6
        quadsNodes = planNodes(store.quads).toDouble
      } else {
        val t0 = System.nanoTime()
        tr.span("bench.read", rid, call = "sparql.exec") {
          val p0 = System.nanoTime()
          val parsed = tr.span("sparql.parse", rid)(SparqlParser.operation(text))
          val c0 = System.nanoTime()
          val df = tr.span("sparql.compile", rid) {
            parsed match {
              case Ast.SelectOp(s) => new Compiler(store.snapshot).compileSelect(s)
              case other => throw new IllegalArgumentException(s"not a SELECT: $other")
            }
          }
          val c1 = System.nanoTime()
          tr.span("catalyst.plan", rid)(df.queryExecution.executedPlan)
          tr.span("spark.collect", rid)(df.collect())
          parseMs += (c0 - p0) / 1e6
          compileMs += (c1 - c0) / 1e6
          nodes += planNodes(df)
          val ph = df.queryExecution.tracker.phases
          phases.foreach { case (k, buf) =>
            buf += ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0) }
        }
        perRead.add((System.nanoTime() - t0) / 1e6)
      }
    }
    cnt.settle()
    spark.sparkContext.removeSparkListener(cnt)
    val m = out.putObject("metrics")
    m.put("sparql.parse_ms", median(parseMs.toSeq))
    m.put("sparql.compile_ms", median(compileMs.toSeq))
    m.put("catalyst.analysis_ms", median(phases("analysis").toSeq))
    m.put("catalyst.optimization_ms", median(phases("optimization").toSeq))
    m.put("catalyst.planning_ms", median(phases("planning").toSeq))
    m.put("catalyst.plan_nodes", median(nodes.toSeq))
    m.put("model.update_ms", median(updMs.toSeq))
    m.put("model.quads_plan_nodes", quadsNodes)
    m.put("bridge.checkpoint_blocks", cnt.blocks)
    m.put("bridge.checkpoint_bytes", cnt.blockBytes)
    cnt.report(m, Seq("sparql.exec" -> tr.totalMs("bench.read"),
      "model.update" -> tr.totalMs("model.update")))
    tr.selfMsByLayer.foreach { case (l, ms) => m.put(s"$l.self_ms", ms) }
    tr.write(req.get("spans").asText())
  }

  override def close(): Unit = server.stop()
}


/** RSP serving: a `GraftHttpServer` without a base store. The generator
  * registers the sessions over HTTP (`/rsp/register`), pushes the feed
  * (`/rsp/push`) and reads emissions off `/rsp/events`. */
final class RspHost(spark: SparkSession) extends Host {
  import Engine._
  private val server = new GraftHttpServer(spark).start(0)
  private val listening = new Listening(spark)

  def ready(out: ObjectNode): Unit = out.put("port", server.port)

  def handle(cmd: String, req: JsonNode, out: ObjectNode): Unit = cmd match {
    case "listen" => listening(req.get("on").asBoolean())
    case "replay" => replay(req, out)
  }

  /** Replays the pushes in-process, one `RspEngine` per registered query
    * (built as `/rsp/register` builds an engine-plane session), one span
    * per layer call: `RdfIO.parseNtDoc`, then the engine's `add` for each
    * triple, which fires the windows the push closes. */
  private def replay(req: JsonNode, out: ObjectNode): Unit = {
    val tr = new Tracer(spark)
    val cnt = new Counters
    spark.sparkContext.addSparkListener(cnt)
    val engines = req.get("queries").elements().asScala.map(q =>
      RspEngineBuilder.fromQuery(spark, q.asText())).toSeq
    val parseMs, pushMs, fireMs = ArrayBuffer.empty[Double]
    req.get("pushes").elements().asScala.zipWithIndex.foreach { case (p, i) =>
      val ts = p.get("ts").asLong()
      val nt = p.get("nt").asText()
      engines.zipWithIndex.foreach { case (eng, e) =>
        val rid = s"p$i.$e"
        val p0 = System.nanoTime()
        val triples = tr.span("rdfio.parse", rid)(RdfIO.parseNtDoc(nt))
        val p1 = System.nanoTime()
        val fired0 = eng.emissions.size
        tr.span("streaming.engine.push", rid, call = "streaming.push") {
          triples.foreach { case (s, pr, o) => eng.add("events", s, pr, o, ts) }
        }
        val ms = (System.nanoTime() - p1) / 1e6
        parseMs += (p1 - p0) / 1e6
        pushMs += ms
        if (eng.emissions.size > fired0) fireMs += ms
      }
    }
    cnt.settle()
    spark.sparkContext.removeSparkListener(cnt)
    val m = out.putObject("metrics")
    m.put("rdfio.parse_ms", median(parseMs.toSeq))
    m.put("streaming.engine.push_ms", median(pushMs.toSeq))
    m.put("streaming.engine.firings", fireMs.size)
    m.put("streaming.engine.fire_ms", median(fireMs.toSeq))
    m.put("bridge.checkpoint_blocks", cnt.blocks)
    m.put("bridge.checkpoint_bytes", cnt.blockBytes)
    cnt.report(m, Seq("streaming.push" -> tr.totalMs("streaming.engine.push")))
    tr.selfMsByLayer.foreach { case (l, ms) => m.put(s"$l.self_ms", ms) }
    tr.write(req.get("spans").asText())
  }

  override def close(): Unit = server.stop()
}

/** Batch fixpoint operators called through their public functions over
  * the generated inputs. */
final class BatchHost(spark: SparkSession, data: String) extends Host {
  import Engine._
  private val ancestorRules = Seq(
    SparqlParser().parseRule(
      """RULE <rules/anc_base> :- CONSTRUCT { ?x <chain/anc> ?y }
         WHERE { ?x <chain/parent> ?y }"""),
    SparqlParser().parseRule(
      """RULE <rules/anc_step> :- CONSTRUCT { ?x <chain/anc> ?z }
         WHERE { ?x <chain/parent> ?y . ?y <chain/anc> ?z }"""))
  private val probRules = Seq(
    SparqlParser().parseRule(
      """RULE <rules/panc_base> PROB(provenance=minmax) :-
         CONSTRUCT { ?x <chain/anc> ?y } WHERE { ?x <chain/parent> ?y }"""),
    SparqlParser().parseRule(
      """RULE <rules/panc_step> PROB(provenance=minmax) :-
         CONSTRUCT { ?x <chain/anc> ?z }
         WHERE { ?x <chain/parent> ?y . ?y <chain/anc> ?z }"""))
  private val taxonomyRule = SparqlParser().parseRule(
    """RULE <rules/dt> :- CONSTRUCT { ?x <rdf/type> ?d }
       WHERE { ?x <rdf/type> ?c . ?c <rdfs/subClassOf> ?d }""")

  final case class Inputs(forest: DataFrame, forestProb: DataFrame, taxonomy: DataFrame,
      graph: DataFrame, sources: DataFrame, docs: DataFrame)
  private val last = scala.collection.mutable.Map.empty[String, DataFrame]
  private val bfsHops = 3

  private def pinned(df: DataFrame): DataFrame = { val p = df.persist(); noop(p); p }

  /** The set-up: read the inputs, build the operators' inputs, pin them. */
  private val in: Inputs = {
    def pq(name: String) = spark.read.parquet(s"$data/$name.parquet")
    val f = pq("forest")
    val forest = pinned(f.select(concat(lit("n/"), col("child")).as("s"),
      lit("chain/parent").as("p"), concat(lit("n/"), col("parent")).as("o")))
    val forestProb = pinned(f.select(concat(lit("n/"), col("child")).as("s"),
      lit("chain/parent").as("p"), concat(lit("n/"), col("parent")).as("o"), col("prob")))
    val sub = pq("taxonomy").select(concat(lit("C"), col("sub")).as("s"),
      lit("rdfs/subClassOf").as("p"), concat(lit("C"), col("sup")).as("o"))
    val inst = pq("taxonomy_root").select(lit("i").as("s"), lit("rdf/type").as("p"),
      concat(lit("C"), col("cls")).as("o"))
    Inputs(forest, forestProb, pinned(sub.unionByName(inst)), pinned(pq("graph")),
      pinned(pq("sources")),
      pinned(pq("documents").repartition(spark.sparkContext.defaultParallelism)))
  }

  /** The seven operator calls of one batch job, in order; each returns
    * its output, which the caller materializes. */
  private val ops: Seq[(String, String, () => DataFrame)] = Seq(
    ("reasoner.closure_s", "reasoner.call", () =>
      new Reasoner(spark).materializeSemiNaive(in.forest, ancestorRules)
        .filter(col("p") === "chain/anc").select("s", "o")),
    ("reasoner.taxonomy_s", "reasoner.call", () =>
      new Reasoner(spark).materializeSemiNaive(in.taxonomy, Seq(taxonomyRule))
        .filter(col("p") === "rdf/type").select(col("s"), col("o"))),
    ("prob.minmax_s", "prob.call", () =>
      ProbReasoner.scalarMaterialize(spark, in.forestProb, probRules,
        Semiring.minMaxProbability).filter(col("p") === "chain/anc")
        .select("s", "o", "probability")),
    ("pipeline.components_s", "pipeline.call", () =>
      GraphOps.connectedComponents(in.graph)),
    ("pipeline.bfs_s", "pipeline.call", () =>
      GraphOps.bfsDistances(in.graph, in.sources, maxHops = bfsHops)),
    ("pipeline.lsh_pairs_s", "pipeline.call", () =>
      // the same parameters as checks.LSH
      Dedup.minHashLshPairs(in.docs, k = 3, numHashes = 32, bands = 8,
        threshold = 0.5, checkpointSigs = true)),
    ("pipeline.clusters_s", "pipeline.call", () =>
      Dedup.nearDupClusters(in.docs, last("pipeline.lsh_pairs_s"))))

  private def runOps(tr: Option[Tracer], pass: Int): Seq[(String, Double)] = ops.map {
    case (name, call, f) =>
      def body(): Unit = { val df = f(); noop(df); last(name) = df }
      val t0 = System.nanoTime()
      tr match {
        case Some(t) => t.span(name.stripSuffix("_s"), s"p$pass", call)(body())
        case None => body()
      }
      name -> secs(t0)
  }

  def ready(out: ObjectNode): Unit = ()

  def handle(cmd: String, req: JsonNode, out: ObjectNode): Unit = cmd match {
    case "run" =>
      // one batch job: the seven calls in order, each timed
      val ops = out.putArray("ops")
      runOps(None, req.get("pass").asInt()).foreach { case (n, s) =>
        ops.addObject().put("name", n).put("s", s) }
    case "trace" =>
      val tr = new Tracer(spark)
      val cnt = new Counters
      spark.sparkContext.addSparkListener(cnt)
      val t0 = System.nanoTime()
      val timed = tr.span("bench.job", "p0")(runOps(Some(tr), 0))
      val traced = secs(t0)
      val sig0 = System.nanoTime()
      tr.span("functions.minhash_sig", "p0", "pipeline.call")(noop(Dedup.minHashSignatures(in.docs)))
      val sigMs = (System.nanoTime() - sig0) / 1e6
      cnt.settle()
      spark.sparkContext.removeSparkListener(cnt)
      val m = out.putObject("metrics")
      timed.foreach { case (n, s) => m.put(n, s) }
      m.put("functions.minhash_sig_ms", sigMs)
      m.put("bridge.checkpoint_blocks", cnt.blocks)
      m.put("bridge.checkpoint_bytes", cnt.blockBytes)
      def callMs(call: String) =
        ops.filter(_._2 == call).map(o => tr.totalMs(o._1.stripSuffix("_s"))).sum
      cnt.report(m, Seq("reasoner.call" -> callMs("reasoner.call"),
        "prob.call" -> callMs("prob.call"),
        "pipeline.call" -> (callMs("pipeline.call") + tr.totalMs("functions.minhash_sig"))))
      tr.selfMsByLayer.foreach { case (l, ms) => m.put(s"$l.self_ms", ms) }
      out.put("traced_job_s", traced)
      tr.write(req.get("spans").asText())
    case "dump" =>
      // outputs of the last job, written once for the checks (untimed)
      val dir = req.get("dir").asText()
      last.foreach { case (name, df) =>
        df.write.mode("overwrite").parquet(s"$dir/${name.stripSuffix("_s")}")
      }
  }
}
