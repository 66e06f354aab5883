package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftStorage
import graft.ops.TweetGraphPipeline
import graft.tweets.TweetSchema

/** Benchmark client: runs one workload's timed runs back to back in this
  * process (closed loop, one client) and writes what it measured to a
  * JSON file. The program is only called through its public entry points.
  *
  * Usage: `perfbench.Harness key=value ...` with keys workload, corpus,
  * hub, out, result, seconds, minRuns, cores, trace and
  * lines (corpus lines). Run by perfbench/run.py, which makes the inputs
  * and checks the outputs.
  */
object Harness {

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val trace = a("trace") == "1"
    val out = a("out")
    val result = mutable.LinkedHashMap[String, Any]()
    val w: Workload = a("workload") match {
      case "tweets_cli" => new CliWorkload(out)
      case "tweets_jaccard" => new LibraryWorkload(a("cores").toInt)
    }
    // set-up: JVM start (measured by the caller from process launch),
    // session start and one untimed warm-up run on the same corpus
    w.run(a("corpus"), a("hub"), s"$out/warm")
    w.afterRun()
    result("setup_done_ms") = System.currentTimeMillis()
    val seconds = a("seconds").toDouble
    val minRuns = a("minRuns").toInt
    val walls = mutable.ArrayBuffer[Double]()
    val outputs = mutable.ArrayBuffer[Any]()
    var peakHeap = 0.0
    val t0 = System.nanoTime()
    while (walls.size < minRuns || (System.nanoTime() - t0) / 1e9 < seconds) {
      Trace.runId = walls.size
      val dir = s"$out/run_${walls.size}"
      val s = System.nanoTime()
      val o = Trace.span("run", "") { w.run(a("corpus"), a("hub"), dir) }
      walls += (System.nanoTime() - s) / 1e9
      peakHeap = peakHeap max liveHeapMb()
      w.afterRun()
      outputs += o
    }
    Trace.runId = -1
    result("walls") = walls.toSeq
    result("outputs") = outputs.toSeq
    result("peak_heap_mb") = peakHeap
    result("xmx_mb") = Runtime.getRuntime.maxMemory / 1e6
    result("cal_ms") = calibrate()
    if (trace) {
      val lines = a("lines").toDouble
      val perRun = walls.indices.map(r => Summary.perRun(r, lines) ++ w.extra(r))
      val keys = perRun.flatMap(_.keys).distinct
      result("per_layer") = keys.map(k => k -> median(perRun.map(_.getOrElse(k, 0.0)))).toMap
      writeTrace(s"$out/trace.json")
    }
    w.close()
    writeJson(a("result"), result)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** `graft.Bench.calibrate()`: the repository's single-thread host-speed
    * reading (ms). Package-private in Scala, public in bytecode. */
  private def calibrate(): Double = {
    val bench = Class.forName("graft.Bench$")
    val module = bench.getField("MODULE$").get(null)
    bench.getMethod("calibrate").invoke(module).asInstanceOf[Double]
  }

  trait Workload {
    /** One run over `corpus`; returns what the output check needs. */
    def run(corpus: String, hub: String, dir: String): Any
    /** Untimed clean-up and per-run readings after a run. */
    def afterRun(): Unit = ()
    /** Per-run layer readings only the workload can take. */
    def extra(run: Int): Map[String, Double] = Map.empty
    def close(): Unit = ()
  }

  /** `tweets_cli`: the user-facing command, in-process, with its own
    * session (it starts and stops one per call). Outputs are CSV files
    * the caller checks. */
  final class CliWorkload(out: String) extends Workload {
    private val saved = mutable.Map[Int, Double]()
    def run(corpus: String, hub: String, dir: String): Any = {
      Trace.span("cli.Main.main", "run") {
        graft.cli.Main.main(Array(corpus, "--output-path", dir, "--save-full-graph",
          "--save-pbi-report", "--save-word-cloud", "--id-neighbours", hub))
      }
      if (Trace.runId >= 0)
        saved(Trace.runId) = csvBytes(Paths.get(dir, "gFull")) +
          csvBytes(Paths.get(dir, s"id_neighbours_$hub"))
      dir
    }
    override def extra(run: Int): Map[String, Double] =
      Map("graph.save.bytes_mb" -> saved.getOrElse(run, 0.0) / 1e6)
    private def csvBytes(p: Path): Double =
      if (!Files.exists(p)) 0.0
      else Files.walk(p).iterator().asScala
        .filter(f => f.toString.endsWith(".csv") && Files.isRegularFile(f))
        .map(f => Files.size(f).toDouble).sum
  }

  /** `tweets_jaccard`: a library user's own session (shuffle partitions =
    * cores) reads the corpus, builds the graphs and forces three outputs
    * with a full-column hash; nothing is written. */
  final class LibraryWorkload(cores: Int) extends Workload {
    private val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    private val leftBlocks = mutable.Map[Int, Double]()

    private val edgeCols = Seq(col("src"), col("dst"), wCanon(col("w")), col("type"))
    private val reportCols = Seq("user", "hashTags", "retweetUsers", "beRetweetUsers",
      "jaccardUsers").map(col)

    def run(corpus: String, hub: String, dir: String): Any = {
      val tweets = Trace.span("TweetSchema.read", "run") { TweetSchema.read(spark, corpus) }
      val g = Trace.span("TweetGraphPipeline.build", "run") { TweetGraphPipeline.build(tweets) }
      Seq(
        Trace.span("force jaccard.edges", "run") { digest(g.jaccard.edges, edgeCols) },
        Trace.span("force report", "run") { digest(g.report, reportCols) },
        Trace.span("force full.edges", "run") { digest(g.full.edges, edgeCols) })
    }

    /** Releases the run's blocks (untimed, as in graft.Bench); none may
      * stay behind. */
    override def afterRun(): Unit = {
      GraftStorage.clear(spark)
      if (Trace.runId >= 0)
        leftBlocks(Trace.runId) = spark.sparkContext.getPersistentRDDs.size.toDouble
      drainListenerBus(spark)
    }
    override def extra(run: Int): Map[String, Double] =
      Map("GraftStorage.blocks_after_clear" -> leftBlocks.getOrElse(run, 0.0))
    override def close(): Unit = spark.stop()
  }

  /** `w` as an integer number of 1e-9 units: the same IEEE operations in
    * Spark, DuckDB and Python give the same canonical value. */
  def wCanon(w: Column): Column = floor(w * 1e9 + 0.5).cast("long").cast("string")

  /** Row count and order-insensitive content hash of `df`: the sum over
    * rows of the first 60 bits of md5(fields joined by '|'). */
  def digest(df: DataFrame, cols: Seq[Column]): Seq[String] = {
    val h = conv(substring(md5(concat_ws("|", cols: _*)), 1, 15), 16, 10).cast("decimal(20,0)")
    val r = df.agg(count(lit(1)), sum(h)).head()
    Seq(r.getLong(0).toString, Option(r.getDecimal(1)).map(_.toBigInteger.toString).getOrElse("0"))
  }

  /** Waits until the listener bus has delivered every queued event, so a
    * run's records carry that run's id. (`listenerBus` is package-private
    * in Scala, public in bytecode.) */
  def drainListenerBus(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Heap in use right after full collections the harness requests at
    * the end of each timed run, before the run's clean-up: the live set
    * the run left behind, cached blocks included. The second collection
    * follows a pause in which Spark's cleaner threads release what the
    * first one found unreachable. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  private def writeTrace(path: String): Unit = Trace.synchronized {
    val spans = Trace.spans.map(s => Map("name" -> s.name, "start_ms" -> s.start,
      "end_ms" -> s.end, "parent" -> s.parent, "run" -> s.run)) ++
      Trace.sqlExecs.values.filter(e => e.id == e.root).map(e => Map(
        "name" -> s"sql.${e.phase}", "start_ms" -> e.start,
        "end_ms" -> Trace.sqlEnds.getOrElse((e.run, e.id), e.start),
        "parent" -> "run", "run" -> e.run))
    val counts = Trace.metricValues.keys.toSeq.map { case (r, k) =>
      Map("run" -> r, "name" -> k, "value" -> Trace.metricSum(r, k)) }
    val stages = Trace.stageAgg.toSeq.sortBy(_._1).map { case ((r, id), a) =>
      val tags = Trace.stageAccums.getOrElse((r, id), Set.empty[Long]).toSeq.flatMap(Trace.accumTags.get)
      Map("run" -> r, "stage" -> id, "layer" -> Summary.stageLayer(r, id), "tasks" -> a.tasks,
        "task_s" -> a.runMs / 1e3, "nodes" -> tags.sortBy(_.depth).map(t =>
          s"${t.depth}:${t.name}:${t.layer.getOrElse("-")}").distinct)
    }
    writeJson(path, Map("spans" -> spans.toSeq, "counts" -> counts, "stages" -> stages))
  }

  def toJson(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => toJson(k.toString) + ":" + toJson(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(toJson).mkString("[", ",", "]")
    case other => toJson(other.toString)
  }

  def writeJson(path: String, v: Any): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), toJson(v))
  }
}

/** Per-run layer metrics from the trace, plus the attribution of task
  * time to layers. */
object Summary {
  import Trace._

  /** CLI phase of a root SQL execution, from the save call's output path. */
  def phase(planDesc: String): String =
    if (planDesc.contains("/wordCloud")) "wordcloud"
    else if (planDesc.contains("/gFull")) "full_graph"
    else if (planDesc.contains("/exportPowerBI")) "report"
    else if (planDesc.contains("/id_neighbours_")) "neighbours"
    else "other"

  /** The layer of a stage's most downstream tagged node. */
  def stageLayer(r: Int, s: Int): String = {
    val tags = stageAccums.getOrElse((r, s), Set.empty[Long]).toSeq
      .flatMap(accumTags.get).filter(_.layer.isDefined)
    if (tags.isEmpty) "unattributed" else tags.minBy(_.depth).layer.get
  }

  def perRun(r: Int, lines: Double): Map[String, Double] = Trace.synchronized {
    val m = mutable.LinkedHashMap[String, Double]()
    val stages = stageAgg.toSeq.collect { case ((`r`, s), a) => s -> a }
    val byLayer = stages.groupBy { case (s, _) => stageLayer(r, s) }
    val taskS = stages.map(_._2.runMs).sum / 1e3
    m("run.wall_s") = spans.filter(s => s.run == r && s.name == "run")
      .map(s => (s.end - s.start) / 1e3).sum
    m("run.jobs") = jobs.getOrElse(r, 0).toDouble
    m("run.stages") = stages.size
    m("run.tasks") = stages.map(_._2.tasks).sum
    m("run.task_s") = taskS
    m("run.shuffle_write_mb") = stages.map(_._2.shuffleWrite).sum / 1e6
    m("run.spill_mb") = stages.map(_._2.spill).sum / 1e6
    m("run.gc_s") = stages.map(_._2.gcMs).sum / 1e3
    val unattributed = byLayer.getOrElse("unattributed", Nil).map(_._2.runMs).sum / 1e3
    m("run.unattributed_task_s") = unattributed
    m("run.attributed_share") = if (taskS > 0) 1 - unattributed / taskS else 0.0

    val execs = sqlExecs.values.filter(e => e.run == r && e.id == e.root).toSeq
    def phaseS(p: String) = execs.filter(_.phase == p)
      .map(e => (sqlEnds.getOrElse((r, e.id), e.start) - e.start) / 1e3).sum
    val main = spans.find(s => s.run == r && s.name == "cli.Main.main")
    // session start (until the listener is constructed) plus stop
    m("cli.session_s") = (main, contextReady.get(r), appEnd.get(r)) match {
      case (Some(s), Some(a0), Some(a1)) => ((a0 - s.start) + (s.end - a1)) / 1e3
      case _ => 0.0
    }
    Seq("wordcloud", "full_graph", "report", "neighbours").foreach(p => m(s"cli.${p}_s") = phaseS(p))

    m("tweets.scan_passes") = if (lines > 0) metricSum(r, "tweets.scan_rows") / lines else 0.0
    m("tweets.read_mb") = metricSum(r, "tweets.read_bytes") / 1e6
    m("tweets.scan_task_s") = stages.filter { case (s, _) =>
      stageAccums.getOrElse((r, s), Set.empty[Long]).exists(scanAccums) }.map(_._2.runMs).sum / 1e3

    // every layer's task time feeds the attribution report; the ops get
    // the full set: self time (wall time with the layer's tasks running),
    // tasks, shuffle written and spill
    for (l <- Layers.order) {
      val ss = byLayer.getOrElse(l, Nil).map(_._2)
      m(s"attrib.$l.task_s") = ss.map(_.runMs).sum / 1e3
      if (l.startsWith("ops.")) {
        m(s"$l.self_s") = selfS(ss)
        m(s"$l.tasks") = ss.map(_.tasks).sum
        m(s"$l.task_s") = ss.map(_.runMs).sum / 1e3
        m(s"$l.shuffle_write_mb") = ss.map(_.shuffleWrite).sum / 1e6
        m(s"$l.spill_mb") = ss.map(_.spill).sum / 1e6
      }
    }
    m("graph.save.write_s") = selfS(byLayer.getOrElse("graph.save", Nil).map(_._2))
    val pairs = metricSum(r, "ops.JaccardGraph.pair_rows")
    m("ops.JaccardGraph.pair_rows") = pairs
    m("ops.JaccardGraph.edge_yield") =
      if (pairs > 0) metricSum(r, "ops.JaccardGraph.edge_rows") / pairs else 0.0
    Seq("plan.exchanges", "plan.windows", "plan.nested_loop_joins")
      .foreach(k => m(k) = metricSum(r, k))
    m("GraftStorage.persisted_mb") = peakCached.getOrElse(r, 0L) / 1e6
    m("GraftStorage.blocks_after_clear") = 0.0
    m.toMap
  }

  private def selfS(ss: Seq[StageAgg]): Double =
    unionLength(ss.filter(_.tasks > 0).map(a => (a.first, a.last))) / 1e3

  /** Total length of the union of [start, end] intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = curE max e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
