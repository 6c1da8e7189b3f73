package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.parser.CypherParser
import graft.tpch.TpchGraph
import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Closed-loop benchmark client: one JVM, one `local[cores]` session, one
  * request in flight at a time.
  *
  * Untraced (`--trace 0`): runs the warm-up requests, then the measured
  * requests back to back, in whole decks of `--deck` requests, until
  * `--seconds` have passed, timing each from the first engine call to the
  * last collected row.
  *
  * Traced (`--trace 1`): runs every request of the (fixed-length) request
  * file twice, once plain and once traced, alternating which goes first.
  * The traced run records one span per request with children parse,
  * build, analysis, optimize, plan and action; Spark work is attached to
  * the request through a per-request job group and counted by
  * [[SparkCounters]] once the listener bus is drained.
  *
  * Writes `results.jsonl` (rows of every timed request, for the output
  * check), `summary.json` and, when traced, `spans.jsonl` to `--out`.
  */
object Harness {
  private val json = new ObjectMapper()
  private val tsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
  private val cypherOps = Set("cypher", "update", "construct")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val dataDir = opts("data")
    val out = new File(opts("out"))
    out.mkdirs()
    val cores = opts("cores").toInt
    val traced = opts("trace") == "1"

    // Set-up, repeated: a fresh session, graph preparation and fixtures.
    // Each round reads the same files under a different spelling of the
    // data directory, so no cache of an earlier round is reused.
    val rounds = opts("setups").toInt
    val setups = (0 until rounds).map { i =>
      val dir = dataDir + "/." * i
      val t0 = System.nanoTime()
      val spark = session(cores, opts("local-dir"))
      spark.sparkContext.setLogLevel("WARN")
      val t1 = System.nanoTime()
      val g = TpchGraph(spark, dir)
      g.relTables.last.df.count()
      val t2 = System.nanoTime()
      if (opts("fixtures") == "1") graft.pipeline.PipelineQueries.warmGates(spark, dir)
      val t3 = System.nanoTime()
      if (i < rounds - 1) spark.stop()
      (spark, dir, g, Map("session_s" -> secs(t1 - t0), "graph_prep_s" -> secs(t2 - t1),
        "fixture_s" -> secs(t3 - t2), "total_s" -> secs(t3 - t0)))
    }
    val (spark, dir, graph, _) = setups.last
    val sc = spark.sparkContext
    val counters = new SparkCounters
    sc.addSparkListener(counters)
    val builder = new Builder(spark, dir, graph)

    // The final action: collect() materializes every column of every row;
    // count() (the engine's own probes' action) is there for comparisons
    // with them and returns no rows.
    val countAction = opts.get("action").contains("count")
    def act(df: DataFrame): Array[Row] =
      if (countAction) { df.count(); Array.empty } else df.collect()

    def plain(r: Request): Outcome = {
      val t0 = System.nanoTime()
      try {
        val df = builder.build(r)
        val rows = act(df)
        Outcome(r, secs(System.nanoTime() - t0), df.columns.toSeq, rows, null)
      } catch {
        case e: Throwable => Outcome(r, secs(System.nanoTime() - t0), Nil, Array.empty, e)
      }
    }

    val spans = mutable.ArrayBuffer.empty[Span]
    val layers = new Layers(cores)
    def tracedRun(r: Request): Outcome = {
      val group = s"r${r.id}"
      sc.setJobGroup(group, r.template)
      sc.setLocalProperty(counters.PhaseKey, "build")
      val s = new Span(r)
      val t0 = System.nanoTime()
      try {
        if (cypherOps(r.op)) s.time("parse")(r.queries.foreach(CypherParser.parse))
        val df = s.time("build")(builder.build(r))
        val qe = df.queryExecution
        s.add("analysis", qe.tracker.phases.get("analysis").map(_.durationMs * 1e-3).getOrElse(0.0))
        sc.setLocalProperty(counters.PhaseKey, "action")
        s.time("optimize")(qe.optimizedPlan)
        s.time("plan")(qe.executedPlan)
        val rows = s.time("action")(act(df))
        val o = Outcome(r, secs(System.nanoTime() - t0), df.columns.toSeq, rows, null)
        val ops = flatten(qe.executedPlan)
        s.physicalOps = ops.size
        s.exchanges = ops.count {
          case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
          case _ => false
        }
        o
      } catch {
        case e: Throwable => Outcome(r, secs(System.nanoTime() - t0), Nil, Array.empty, e)
      } finally {
        sc.clearJobGroup()
        sc.setLocalProperty(counters.PhaseKey, null)
        s.total = secs(System.nanoTime() - t0)
        PerfbenchBridge.drainListenerBus(sc)
        s.build = counters.take(group, "build")
        s.action = counters.take(group, "action")
        s.cachedBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
        spans += s
        layers.add(s)
      }
    }

    val warmup = readRequests(opts("warmup"))
    val warmupStart = System.nanoTime()
    val warmupEnd = warmupStart + (opts("warmup-seconds").toDouble * 1e9).toLong
    warmup.iterator.takeWhile(_ => System.nanoTime() < warmupEnd).foreach(plain)
    val warmupSecs = secs(System.nanoTime() - warmupStart)

    val requests = readRequests(opts("requests"))
    val outcomes = mutable.ArrayBuffer.empty[Outcome]
    var plainSum = 0.0
    val windowStart = System.nanoTime()
    if (traced) {
      requests.zipWithIndex.foreach { case (r, i) =>
        if (i % 2 == 0) { plainSum += plain(r).latency; outcomes += tracedRun(r) }
        else { outcomes += tracedRun(r); plainSum += plain(r).latency }
      }
    } else {
      // Whole decks only: past the window, finish the deck in progress, so
      // every run measures the same mix of templates whatever the seed.
      val end = windowStart + (opts("seconds").toDouble * 1e9).toLong
      val deck = opts("deck").toInt
      requests.iterator.zipWithIndex
        .takeWhile { case (_, i) => i % deck != 0 || System.nanoTime() < end }
        .foreach { case (r, _) => outcomes += plain(r) }
    }
    val window = secs(System.nanoTime() - windowStart)

    val resultsOut = new PrintWriter(new File(out, "results.jsonl"), "UTF-8")
    outcomes.foreach(o => resultsOut.println(json.writeValueAsString(o.toJava)))
    resultsOut.close()
    if (traced) {
      val spansOut = new PrintWriter(new File(out, "spans.jsonl"), "UTF-8")
      spans.foreach(s => s.toJava.foreach(m => spansOut.println(json.writeValueAsString(m))))
      spansOut.close()
    }
    val summary = new java.util.LinkedHashMap[String, Any]()
    summary.put("cores", cores)
    summary.put("warmup_s", warmupSecs)
    summary.put("window_s", window)
    summary.put("setups", setups.map(_._4.asJava).asJava)
    summary.put("peak_rss_mb", peakRssMb())
    if (traced) {
      val m = layers.metrics
      m("trace.overhead_frac") = outcomes.map(_.latency).sum / plainSum - 1
      summary.put("layers", m.asJava)
    }
    summary.put("registry_oracle_sql", requests.filter(_.op == "pipeline").map(_.algo).distinct
      .map(n => n -> graft.SparkEntry.oracleSql.getOrElse(n, "")).toMap.asJava)
    Files.write(Paths.get(out.getPath, "summary.json"), json.writeValueAsBytes(summary))
    spark.stop()
  }

  private def secs(ns: Long): Double = ns / 1e9

  private def session(cores: Int, localDir: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()

  private def readRequests(path: String): Seq[Request] =
    Files.readAllLines(Paths.get(path)).asScala.filter(_.nonEmpty)
      .map(l => Request(json.readTree(l))).toSeq

  /** Every operator of a physical plan, looking through adaptive wrappers
    * and query stages into the plan that actually ran. */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: QueryStageExec => flatten(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(flatten)
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(0.0)

  /** A value of a collected row as plain JSON: integral decimals as
    * integers, timestamps as UTC wall-clock text with microseconds, nested
    * rows and arrays as lists. */
  def jsonValue(v: Any): Any = v match {
    case null => null
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else d
    case f: Float => jsonValue(f.toDouble)
    case b: java.math.BigDecimal =>
      if (b.scale <= 0) b.toBigIntegerExact else b.doubleValue
    case b: scala.math.BigDecimal => jsonValue(b.bigDecimal)
    case t: java.sql.Timestamp => tsFormat.format(t.toInstant.atOffset(ZoneOffset.UTC))
    case t: Instant => tsFormat.format(t.atOffset(ZoneOffset.UTC))
    case t: LocalDateTime => tsFormat.format(t)
    case d: java.sql.Date => d.toLocalDate.toString
    case r: Row => r.toSeq.map(jsonValue).asJava
    case s: scala.collection.Seq[_] => s.map(jsonValue).asJava
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => Seq(jsonValue(k), jsonValue(x)).asJava }
        .sortBy(_.get(0).toString).asJava
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case other => other
  }

  final case class Outcome(r: Request, latency: Double, cols: Seq[String],
      rows: Array[Row], error: Throwable) {
    def toJava: java.util.Map[String, Any] = {
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("id", r.id)
      m.put("template", r.template)
      m.put("ok", error == null)
      m.put("latency_s", latency)
      m.put("error", Option(error).map(e =>
        s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}").orNull)
      m.put("cols", cols.asJava)
      m.put("rows", rows.map(row => row.toSeq.map(jsonValue).asJava).toSeq.asJava)
      m
    }
  }
}

/** The trace of one request: child span durations plus the Spark work and
  * plan shape it caused. */
final class Span(val r: Request) {
  val children = mutable.LinkedHashMap.empty[String, Double]
  var total = 0.0
  var physicalOps = 0
  var exchanges = 0
  var cachedBytes = 0L
  var build = new Counters
  var action = new Counters

  def add(name: String, seconds: Double): Unit =
    children(name) = children.getOrElse(name, 0.0) + seconds

  def time[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally add(name, (System.nanoTime() - t0) / 1e9)
  }

  def get(name: String): Double = children.getOrElse(name, 0.0)

  /** One record for the request span and one per child, children pointing
    * at the request span as their parent. */
  def toJava: Seq[java.util.Map[String, Any]] = {
    def rec(name: String, parent: String, dur: Double) = {
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("request", r.id); m.put("span", name); m.put("parent", parent)
      m.put("duration_s", dur)
      m
    }
    val root = rec("request", null, total)
    root.put("template", r.template)
    root.put("build_jobs", build.jobs); root.put("action_jobs", action.jobs)
    root.put("physical_ops", physicalOps); root.put("exchanges", exchanges)
    root +: children.toSeq.map { case (n, d) => rec(n, "request", d) }
  }
}

/** Per-layer totals over the traced requests. */
final class Layers(cores: Int) {
  private val sums = mutable.LinkedHashMap.empty[String, Double]
  private val exec = new Counters
  private var busyNs = 0L
  private var wall = 0.0
  private var cachedMax = 0L

  private def inc(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v

  def add(s: Span): Unit = {
    val layer = s.r.op match {
      case "algo" => "algos"
      case "pipeline" => "pipeline"
      case _ => "impl"
    }
    inc("parser.parse_s", s.get("parse"))
    // The build call also parses (GraftSession parses again inside; the
    // parse time just measured stands in for that share) and analyzes the
    // final plan, which is Catalyst's share; both are taken out here.
    inc(s"$layer.build_s", math.max(0.0, s.get("build") - s.get("parse") - s.get("analysis")))
    inc(s"$layer.build_jobs", s.build.jobs.toDouble)
    inc(s"$layer.build_stages", s.build.stages.toDouble)
    inc("catalyst.analysis_s", s.get("analysis"))
    inc("catalyst.optimize_s", s.get("optimize"))
    inc("catalyst.plan_s", s.get("plan"))
    inc("catalyst.physical_ops", s.physicalOps.toDouble)
    inc("catalyst.exchanges", s.exchanges.toDouble)
    inc("exec.action_s", s.get("action"))
    exec += s.action
    busyNs += s.build.taskBusyNs + s.action.taskBusyNs
    wall += s.total
    cachedMax = math.max(cachedMax, s.cachedBytes)
  }

  def metrics: mutable.LinkedHashMap[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    for (layer <- Seq("impl", "algos", "pipeline"); k <- Seq("build_s", "build_jobs", "build_stages"))
      m(s"$layer.$k") = sums.getOrElse(s"$layer.$k", 0.0)
    sums.foreach { case (k, v) => m(k) = v }
    m("parser.share") = if (wall > 0) sums("parser.parse_s") / wall else 0.0
    m("exec.jobs") = exec.jobs.toDouble
    m("exec.stages") = exec.stages.toDouble
    m("exec.skipped_stage_frac") =
      if (exec.stageSlots > 0) exec.skippedStages.toDouble / exec.stageSlots else 0.0
    m("exec.tasks") = exec.tasks.toDouble
    m("exec.task_busy_s") = exec.taskBusyNs / 1e9
    m("exec.core_busy_frac") = if (wall > 0) busyNs / 1e9 / (wall * cores) else 0.0
    m("exec.shuffle_write_mb") = exec.shuffleWriteBytes / 1e6
    m("exec.shuffle_read_mb") = exec.shuffleReadBytes / 1e6
    m("exec.spill_mb") = exec.spillBytes / 1e6
    m("exec.peak_exec_mem_mb") = exec.peakExecMemBytes / 1e6
    m("exec.failed_tasks") = exec.failedTasks.toDouble
    m("exec.cached_mb") = cachedMax / 1e6
    m
  }
}
