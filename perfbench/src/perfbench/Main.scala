package perfbench

import graft.io.GraphSink
import graft.ops.{GraphTraversal, TextIndex}
import graft.pipeline.OntologyPipeline
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM:
  * `Main <workload> <seed> <seconds> <trace 0|1> <workDir> <fixturesDir> <cores>`.
  *
  * Calls the product only through its public functions, builds its
  * session the way `OntologyPipeline.main` does, and writes
  * `<workDir>/result.json`: the metrics it measured, the operations it
  * attempted and failed, and the outputs the outer checker reads back.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, fixtures: Path, cores: Int)

  /** What one run reports to the outer checker. */
  final class Result {
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val info = mutable.LinkedHashMap.empty[String, Any]
    var attempted = 0L
    var failed = 0L
  }

  /** Classes in the generated corpora. */
  val EtlClasses = 2000
  val LookupClasses = 1000
  /** Registry entries of the iterative tier, run in this order. */
  val Entries: Seq[String] = Seq("sim_nndescent_knng", "g_cc_incremental")

  def main(args: Array[String]): Unit = {
    val o = Opts(args(0), args(1).toLong, args(2).toDouble, args(3) == "1",
      Paths.get(args(4)).toAbsolutePath, Paths.get(args(5)).toAbsolutePath, args(6).toInt)
    Heap.install()
    val res = new Result
    o.workload match {
      case "etl_many_files" => etl(o, res)
      case "store_lookup" => lookup(o, res)
      case "registry_iterative" => registry(o, res)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val out = mutable.LinkedHashMap[String, Any]("metrics" -> res.metrics,
      "attempted" -> res.attempted, "failed" -> res.failed) ++ res.info
    Files.write(o.work.resolve("result.json"), json(out).getBytes(StandardCharsets.UTF_8))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  // ---------------------------------------------------------------- common

  /** The session `OntologyPipeline.main` builds, with scratch kept in the work dir. */
  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftExtensions.register(s)
    s
  }

  /** Sets up `k` times (a fresh session plus `once`), reporting the median
    * as `setup_s`; the last set-up is the one the run uses.
    */
  def setups[T](o: Opts, res: Result)(once: SparkSession => T): (SparkSession, T) = {
    var spark: SparkSession = null
    var state: Option[T] = None
    val times = (0 until (if (o.trace) 1 else 3)).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(o)
      state = Some(once(spark))
      (System.nanoTime() - t0) / 1e9
    }
    if (!o.trace) res.metrics("setup_s") = median(times)
    (spark, state.get)
  }

  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Runs `op` in whole batches of `batch` until `secs` have passed.
    * Returns each op's seconds and the loop's wall seconds.
    */
  def loop(secs: Double, batch: Int)(op: Int => Double): (Seq[Double], Double) = {
    val t0 = System.nanoTime()
    val times = mutable.ArrayBuffer.empty[Double]
    while (times.isEmpty || times.size % batch != 0 || (System.nanoTime() - t0) / 1e9 < secs)
      times += op(times.size)
    (times.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def dataFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.count(f => f.getFileName.toString.startsWith("part-"))

  def deleteDir(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  val MB: Double = 1024.0 * 1024.0

  /** Runs an operation; an exception counts as a failed operation. */
  def attempt[T](res: Result)(body: => T): Option[T] = {
    res.attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        res.failed += 1
        System.err.println(s"perfbench: operation failed: $e")
        e.printStackTrace()
        None
    }
  }

  /** The end-to-end metrics of a run whose measured loop ran `ops`. */
  def endToEnd(res: Result, ops: Seq[Double], peakHeap: Long, storeBytes: Long): Unit = {
    res.metrics("op_p50_ms") = median(ops) * 1e3
    res.metrics("peak_heap_mb") = peakHeap / MB
    res.metrics("store_mb") = storeBytes / MB
  }

  /** Whole-run Spark figures over a window of the traced run. */
  def sparkMetrics(res: Result, c: Counters, fromMs: Long, toMs: Long, cores: Int): Unit = {
    val t = c.total()
    res.metrics("spark.executor_cpu_s") = t.cpuNs / 1e9
    res.metrics("spark.gc_s") = t.gcMs / 1e3
    res.metrics("spark.spill_mb") = t.spill / MB
    res.metrics("spark.busy_share") = t.taskMs.toDouble / math.max(1L, (toMs - fromMs) * cores)
    res.metrics("spark.driver_gap_s") = c.idleMs(fromMs, toMs) / 1e3
  }

  def listen(spark: SparkSession): Counters = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    c
  }

  def drain(spark: SparkSession): Unit = PerfbenchBus.drain(spark.sparkContext)

  // ------------------------------------------------------------------- ETL

  def etl(o: Opts, res: Result): Unit = {
    val shape = Corpus.Shape(EtlClasses, 4 * o.cores)
    val corpus = o.work.resolve("corpus")
    val (spark, gen) = setups(o, res) { _ =>
      deleteDir(corpus)
      Corpus.generate(o.seed, shape, corpus, o.fixtures)
    }
    Corpus.writeExpected(gen, o.work.resolve("expected.json"))
    res.info("expected") = o.work.resolve("expected.json").toString
    val stores = mutable.ArrayBuffer.empty[String]
    def runOnce(i: Int): Double = {
      val out = o.work.resolve(s"etl/run-$i")
      val t = attempt(res)(seconds(OntologyPipeline.run(spark, corpus.toString, out.toString)))
      t.foreach(_ => stores += out.toString)
      t.getOrElse(Double.NaN)
    }
    if (!o.trace) {
      Heap.start()
      val (ops, _) = loop(o.seconds, batch = 1)(runOnce)
      endToEnd(res, ops, Heap.stop(), stores.lastOption.map(p => dirBytes(Paths.get(p))).getOrElse(0L))
    } else {
      val counters = listen(spark)
      res.metrics("pipeline.first_s") = runOnce(0)
      drain(spark); counters.reset()
      val etlS = runOnce(1)
      res.metrics("pipeline.warm_s") = etlS
      drain(spark)
      val cachePeak = counters.cachedPeakBytes
      counters.reset()
      val traced = o.work.resolve("etl/traced")
      val tracer = new Tracer(spark.sparkContext, "traced")
      attempt(res)(TracedPipeline.run(spark, corpus.toString, traced.toString, tracer))
      drain(spark)
      stores += traced.toString
      res.info("reference_store") = o.work.resolve("etl/run-1").toString
      res.info("traced_store") = traced.toString
      etlLayers(res, tracer, counters, gen, cachePeak, etlS, traced, o.cores)
      writeSpans(o, tracer.spans.toSeq)
    }
    res.info("etl_stores") = stores.toSeq
  }

  def etlLayers(res: Result, t: Tracer, c: Counters, gen: Corpus.Generated, cachePeak: Long,
                etlS: Double, traced: Path, cores: Int): Unit = {
    val m = res.metrics
    val parse = c.group("owl_reader.parse")
    m("owl_reader.parse.s") = t.seconds("owl_reader.parse")
    m("owl_reader.parse.jobs") = parse.jobs
    m("owl_reader.parse.tasks") = parse.tasks
    m("owl_reader.parse.rows_out") = t.rowsOut("owl_reader.parse")
    m("owl_reader.bytes_read_per_input_byte") = parse.bytesRead.toDouble / gen.bytes
    m("owl_reader.max_task_share") = parse.maxTaskMs.toDouble / math.max(1L, parse.taskMs)
    for (layer <- TracedPipeline.PassLayers) {
      val g = c.group(layer)
      m(s"$layer.s") = t.seconds(layer)
      m(s"$layer.tasks") = g.tasks
      if (!layer.startsWith("graph_sink")) {
        m(s"$layer.jobs") = g.jobs
        m(s"$layer.shuffle_mb") = g.shuffleWrite / MB
        m(s"$layer.rows_out") = t.rowsOut(layer)
      }
    }
    m("triple_ops.unique_per_collected") =
      t.rowsOut("triple_ops.dedup").toDouble / t.rowsOut("triple_ops.collect")
    m("graph_ops.edges_kept_per_built") =
      t.rowsOut("graph_ops.integrity").toDouble / t.rowsOut("graph_ops.edges")
    m("graph_sink.files_written") = dataFiles(traced)
    m("graph_sink.mb_written") = dirBytes(traced) / MB
    val pipe = t.spans.find(_.name == "pipeline").get
    val children = t.spans.filter(_.parent == "pipeline").map(_.ns).sum
    m("pipeline.s") = (pipe.ns - children) / 1e9
    m("pipeline.cache_peak_mb") = cachePeak / MB
    m("trace.total_s") = pipe.ns / 1e9
    m("trace.overhead_s") = pipe.ns / 1e9 - etlS
    sparkMetrics(res, c, pipe.startMs, pipe.endMs, cores)
  }

  def writeSpans(o: Opts, spans: Seq[Span]): Unit = {
    val lines = spans.map(s => json(mutable.LinkedHashMap[String, Any]("name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "s" -> s.ns / 1e9, "parent" -> s.parent, "run" -> s.run)))
    Files.write(o.work.resolve("spans.jsonl"), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  // ----------------------------------------------------------- store lookup

  sealed trait Query { def kind: String; def truth: Any }
  final case class Search(text: String, truth: Set[String]) extends Query { val kind = "search" }
  final case class Neighbors(id: String, number: String, truth: Seq[(String, String)]) extends Query {
    val kind = "neighbors"
  }
  final case class Ancestors(vertex: String, truth: Map[String, Int]) extends Query { val kind = "ancestors" }

  /** The seeded query sequence, each with its answer from the generator.
    * Kinds repeat in a fixed cycle of twenty (2 code searches, 1 prefix
    * search, 1 ancestor walk, 16 edge reads), so every whole cycle holds
    * the same mix and the median lies well inside the edge reads; the seed
    * picks the vertices.
    */
  def queries(seed: Long, gen: Corpus.Generated, n: Int): IndexedSeq[Query] = {
    val rnd = new scala.util.Random(seed * 7919 + 17)
    val model = gen.model1
    val words = gen.classes.filter(c => model.kept(c.uri)).map(c => c.number -> c.label.split(" ").toSeq)
    def search(q: String) = Search(q, words.collect { case (num, ws) if ws.exists(_.startsWith(q)) => num }.toSet)
    def vertex() = gen.classes(rnd.nextInt(gen.classes.size))
    (0 until n).map { i =>
      val slot = i % 20
      if (slot < 2) search(Corpus.code(vertex().i))
      else if (slot < 3) search(Corpus.codePrefix(vertex().i))
      else if (slot < 4) {
        val c = vertex()
        Ancestors(s"CL_${c.number}", model.ancestors(c.uri, 3).map { case (v, l) =>
          val (id, num) = Corpus.key(v); s"${id}_$num" -> l })
      } else {
        val c = vertex()
        Neighbors("CL", c.number, model.out.getOrElse(c.uri, Nil).map(Corpus.key).sorted)
      }
    }
  }

  /** File-scan figures of every query execution, from its executed plan. */
  final class ScanCounter extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    var files = 0L
    var rows = 0L
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
      collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }.foreach { s =>
        files += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        rows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def lookup(o: Opts, res: Result): Unit = {
    val shape = Corpus.Shape(LookupClasses, 4)
    val corpus = o.work.resolve("corpus")
    val store = o.work.resolve("store").toString
    val tokDir = o.work.resolve("tokens").toString
    var buildS = 0.0
    // the store is the generator's expected pass-1 graph written through
    // GraphSink, so its layout is the pipeline's without a pipeline run
    val (spark, gen) = setups(o, res) { s =>
      import s.implicits._
      deleteDir(corpus)
      val g = Corpus.generate(o.seed, shape, corpus, o.fixtures)
      GraphSink.writeVertices(Corpus.vertexRows(g.model1).toDF("id", "number", "attrs"), store)
      GraphSink.writeEdges(Corpus.edgeRows(g.model1).toDF("from_id", "from_number", "to_id", "to_number",
        "raw_labels", "labels", "label", "source"), store)
      buildS = seconds(TextIndex.buildTokenTable(s.read.parquet(s"$store/vertices"),
        Map("CL" -> Seq("label"))).write.mode("overwrite").parquet(tokDir))
      g
    }
    import spark.implicits._
    val edges = spark.read.parquet(s"$store/edges")
    val tokens = spark.read.parquet(tokDir)
    val sub = edges.filter(array_contains(col("labels"), "SUB_CLASS_OF"))
      .select(concat_ws("_", col("from_id"), col("from_number")).as("src"),
        concat_ws("_", col("to_id"), col("to_number")).as("dst"))
    val qs = queries(o.seed, gen, 2000)
    val tokenRows = if (o.trace) tokens.count() else 0L

    /** Runs one query; returns its answer in the form of its truth, and rows returned. */
    def exec(q: Query): (Any, Long) = q match {
      case Search(text, _) =>
        val rows = TextIndex.search(tokens, text).collect()
        (rows.map(_.getAs[String]("key")).toSet, rows.length.toLong)
      case Neighbors(id, num, _) =>
        val rows = edges.filter(col("from_id") === id && col("from_number") === num)
          .select("to_id", "to_number").collect()
        (rows.map(r => (r.getString(0), r.getString(1))).toSeq.sorted, rows.length.toLong)
      case Ancestors(v, _) =>
        val rows = GraphTraversal.bfsLevels(sub, Seq(v).toDF("id"), maxHops = 3).collect()
        (rows.map(r => r.getString(0) -> r.getInt(1)).toMap, rows.length.toLong)
    }

    val counters = if (o.trace) Some(listen(spark)) else None
    val scans = new ScanCounter
    if (o.trace) spark.listenerManager.register(scans)
    val answers = mutable.ArrayBuffer.empty[(Query, Option[Any])]
    val latency = mutable.ArrayBuffer.empty[(String, Double)]
    var returned = 0L
    if (!o.trace) Heap.start()
    val startMs = System.currentTimeMillis()
    // whole batches of two cycles: one batch outlasts --seconds on the
    // reference box, so each run measures the same 40 queries
    val (_, wall) = loop(o.seconds, batch = 40) { i =>
      val q = qs(i % qs.size)
      if (o.trace) spark.sparkContext.setJobGroup(s"query.${q.kind}", q.kind)
      val t0 = System.nanoTime()
      val a = try Some(exec(q)) catch {
        case e: Exception => System.err.println(s"perfbench: query failed: $e"); None
      }
      val dt = (System.nanoTime() - t0) / 1e9
      answers += ((q, a.map(_._1)))
      a.foreach(returned += _._2)
      latency += ((q.kind, dt))
      dt
    }
    val endMs = System.currentTimeMillis()
    spark.sparkContext.clearJobGroup()
    val peak = if (!o.trace) Heap.stop() else 0L
    res.attempted = answers.size
    res.failed = answers.count { case (q, a) => !a.contains(q.truth) }
    val lat = latency.map(_._2).toSeq
    val m = res.metrics
    if (!o.trace) endToEnd(res, lat, peak, dirBytes(Paths.get(store)) + dirBytes(Paths.get(tokDir)))
    else {
      drain(spark)
      val c = counters.get
      for (k <- Seq("search", "neighbors", "ancestors")) {
        val ks = latency.filter(_._1 == k).map(_._2).toSeq
        m(s"query.$k.p50_ms") = if (ks.isEmpty) 0.0 else median(ks) * 1e3
      }
      m("query.p95_ms") = quantile(lat, 0.95) * 1e3
      m("query.per_s") = lat.size / wall
      m("query.jobs_per_query") = c.total(_.startsWith("query.")).jobs.toDouble / lat.size
      m("query.rows_scanned_per_row_returned") = scans.rows.toDouble / math.max(1L, returned)
      m("query.files_read_per_query") = scans.files.toDouble / lat.size
      m("text_index.build_s") = buildS
      m("text_index.tokens") = tokenRows.toDouble
      sparkMetrics(res, c, startMs, endMs, o.cores)
    }
  }

  // -------------------------------------------------------------- registry

  def registry(o: Opts, res: Result): Unit = {
    val sf = o.work.resolve("sf")
    val (spark, _) = setups(o, res) { s =>
      deleteDir(sf)
      RegistryData.write(s, o.seed, sf)
    }
    val queries = graft.SparkEntry.queries
    val counters = if (o.trace) Some(listen(spark)) else None
    val times = mutable.ArrayBuffer.empty[(String, Double, Long, Long)]
    if (!o.trace) Heap.start()
    val startMs = System.currentTimeMillis()
    // each round reads the tables under a new path spelling, so the
    // entries' (session, dir)-keyed shared stores are rebuilt and every
    // round pays for its own stores
    val (rounds, _) = loop(o.seconds, batch = 1) { round =>
      val dir = sf.toString + "/." * round
      Entries.map { e =>
        if (o.trace) spark.sparkContext.setJobGroup(s"registry.$e", e)
        val m0 = System.currentTimeMillis()
        val t = attempt(res)(seconds(queries(e)(spark, dir).write.mode("overwrite")
          .parquet(o.work.resolve(s"registry/$e").toString))).getOrElse(Double.NaN)
        times += ((e, t, m0, System.currentTimeMillis()))
        t
      }.sum
    }
    val endMs = System.currentTimeMillis()
    spark.sparkContext.clearJobGroup()
    val peak = if (!o.trace) Heap.stop() else 0L
    res.info("sf_dir") = sf.toString
    // an entry whose last call threw is already counted as failed
    res.info("registry_outputs") = Entries.filter(e => !times.filter(_._1 == e).last._2.isNaN)
      .map(e => e -> o.work.resolve(s"registry/$e").toString).toMap
    res.info("oracle_sql") = Entries.flatMap(e => graft.SparkEntry.oracleSql.get(e).map(e -> _)).toMap
    val m = res.metrics
    if (!o.trace) endToEnd(res, rounds, peak, dirBytes(o.work.resolve("registry")))
    else {
      drain(spark)
      val c = counters.get
      for (e <- Entries) {
        val g = c.group(s"registry.$e")
        val runs = times.filter(_._1 == e)
        m(s"registry.$e.s") = runs.map(_._2).sum
        m(s"registry.$e.jobs") = g.jobs
        m(s"registry.$e.tasks") = g.tasks
        m(s"registry.$e.shuffle_mb") = g.shuffleWrite / MB
        m(s"registry.$e.driver_gap_s") = runs.map(r => c.idleMs(r._3, r._4)).sum / 1e3
      }
      sparkMetrics(res, c, startMs, endMs, o.cores)
    }
  }

  // ------------------------------------------------------------------ json

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ", ", "]")
    case other => json(other.toString)
  }
}
