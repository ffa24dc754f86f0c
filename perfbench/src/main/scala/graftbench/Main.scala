package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Sort}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** One unit of timed work. `run` is timed; `after` runs untimed right
  * after it (result capture for the checks). `expectedTables` is the set
  * of catalog tables that must exist once the operation is done. */
final case class Op(id: Int, kind: String, label: String,
    run: () => Unit, after: () => Unit = () => (),
    expectedTables: Set[String] = Set.empty)

/** Rows a materialized query returned, with its output and the
  * presentation sort the materializer stripped. */
final case class Materialized(output: Seq[Attribute], sort: Option[Sort],
    rows: Array[InternalRow])

/** A benchmark workload over one generated input directory. */
trait Workload {
  /** Table and catalog registration plus warm-up, in a fresh session. */
  def setup(h: Harness): Unit
  /** The timed operations, in order (may be longer than the run needs). */
  def ops(h: Harness): Iterator[Op]
  /** Untimed, after the loop: outputs for the checks, as JSON fields. */
  def outputs(h: Harness): Seq[(String, Any)]
  /** Untimed, traced run only: module-level layer metrics. */
  def layerMetrics(h: Harness): Seq[(String, Double)] = Seq.empty
  /** The timed loop runs at least this many operations. */
  val minOps: Int = 1
}

final case class Args(workload: String, input: String, out: String,
    seconds: Double, trace: Boolean) {
  /** Spark local[N]: N = min(4, available cores). */
  val cpus: Int = math.min(4, Runtime.getRuntime.availableProcessors)
  /** Set-up rounds per run; setup_s is their median. */
  val setups = 3
}

/** Session, tracer and listener shared by the workloads. */
final class Harness(val args: Args) {
  val work: Path = Paths.get(args.out).toAbsolutePath
  val warehouse: Path = work.resolve("warehouse")
  var spark: SparkSession = _
  val tracer = new Tracer
  val listener = new ExecListener
  /** Rows the traced operations returned (for records read per row). */
  var resultRows = 0L

  def newSession(): SparkSession = {
    Files.createDirectories(warehouse)
    val s = SparkSession.builder()
      .master(s"local[${args.cpus}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", args.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse.toUri.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** The full-row materializer: the query's own physical plan run to
    * completion with its trailing presentation sort stripped, its rows
    * collected into this process. Traced, planning and execution are
    * separate spans. */
  def materialize(df: DataFrame): Materialized = {
    val (plan, sort) = df.queryExecution.analyzed match {
      case s: Sort if s.global => (s.child, Some(s))
      case p => (p, None)
    }
    val qe = span("catalyst.plan") {
      val qe = ColumnBridge.ofRows(spark, plan).queryExecution
      qe.executedPlan
      qe
    }
    val rows = span(Tracer.ExecSpan)(qe.toRdd.map(_.copy()).collect())
    if (tracer.enabled) resultRows += rows.length
    Materialized(plan.output, sort, rows)
  }

  /** Untimed: the materialized rows as the checks read them, in the
    * order of the stripped presentation sort. */
  def decode(m: Materialized): Map[String, Any] = {
    val local = LocalRelation(m.output, m.rows.toSeq)
    val df = ColumnBridge.ofRows(spark,
      m.sort.map(s => s.copy(child = local)).getOrElse(local))
    Json.rows(df.columns.toSeq, df.collect().toSeq)
  }

  /** Collect `df` (planning and execution as separate spans). */
  def collect(df: DataFrame): Array[org.apache.spark.sql.Row] = {
    span("catalyst.plan")(df.queryExecution.executedPlan)
    val rows = span(Tracer.ExecSpan)(df.collect())
    if (tracer.enabled) resultRows += rows.length
    rows
  }
}

object Main {
  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    Args(m("--workload"), m("--input"), m("--out"), m("--seconds").toDouble,
      m.getOrElse("--trace", "0") == "1")
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val w: Workload = args.workload match {
      case "ch_session" => new ChSessionWorkload(args.input)
      case "lineage_catalog" => new LineageWorkload(args.input)
      case "curation" => new CurationWorkload(args.input)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val h = new Harness(args)
    val json = new Runner(h, w).run()
    Files.writeString(h.work.resolve("result.json"), json)
  }
}

/** Drives one workload run: repeated set-up, the timed loop, the traced
  * segment, the leak counters and the output capture. */
final class Runner(h: Harness, w: Workload) {
  private val results = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val leakMax = mutable.Map("conf" -> 0, "tables" -> 0,
    "cached_plans" -> 0, "rdds" -> 0)
  private val leakFirst = mutable.Map.empty[String, Int]
  private var baseConf = Map.empty[String, String]
  private var baseCached = 0
  private var baseRdds = 0

  private def gc(): (Long, Long) = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.foldLeft((0L, 0L)) { case ((t, c), b) =>
      (t + math.max(0L, b.getCollectionTime),
        c + math.max(0L, b.getCollectionCount))
    }

  private def cleanup(): Unit = if (h.spark != null) {
    h.spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    h.spark = null
    deleteTree(h.warehouse.toFile)
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  private def snapshotBaseline(): Unit = {
    val s = h.spark
    baseConf = s.conf.getAll
    baseCached = org.apache.spark.graftbench.Internals.cachedPlans(s)
    baseRdds = s.sparkContext.getPersistentRDDs.size
  }

  /** Session state an operation left behind, against the post-set-up
    * baseline: conf keys changed, unexpected catalog tables, cached plans
    * and persisted RDDs. */
  private def leaks(op: Op): Unit = {
    val s = h.spark
    val conf = s.conf.getAll
    val confDiff = (conf.keySet ++ baseConf.keySet)
      .count(k => conf.get(k) != baseConf.get(k))
    val tables = s.catalog.listTables().collect().map(_.name).toSet
    val now = Map(
      "conf" -> confDiff,
      "tables" -> (tables -- op.expectedTables).size,
      "cached_plans" -> (org.apache.spark.graftbench.Internals.cachedPlans(s)
        - baseCached),
      "rdds" -> (s.sparkContext.getPersistentRDDs.size - baseRdds))
    now.foreach { case (k, v) =>
      if (v > leakMax(k)) leakMax(k) = v
      if (v > 0 && !leakFirst.contains(k)) leakFirst(k) = op.id
    }
  }

  /** Runs ops until `budgetS` seconds of timed work and `minOps` ops are
    * done. With `alternate`, every other op is traced. Returns the
    * latencies (ms) of the untraced and of the traced ops. */
  private def loop(it: Iterator[Op], budgetS: Double, minOps: Int,
      alternate: Boolean): (Seq[Double], Seq[Double]) = {
    val plain, tracedLat = mutable.ArrayBuffer.empty[Double]
    var busyNs = 0L
    var n = 0
    val sc = h.spark.sparkContext
    while ((busyNs < budgetS * 1e9 || n < minOps) && it.hasNext) {
      val op = it.next()
      val traced = alternate && n % 2 == 1
      n += 1
      h.tracer.op = op.id
      h.tracer.set(traced)
      val t0 = System.nanoTime()
      val err: Option[Throwable] =
        try { h.span("op." + op.kind)(op.run()); None }
        catch { case e: Throwable => Some(e) }
      val ns = System.nanoTime() - t0
      busyNs += ns
      (if (traced) tracedLat else plain) += ns / 1e6
      err match {
        case None => try op.after() catch { case e: Throwable =>
          failures += Map("op" -> op.id, "kind" -> op.kind,
            "label" -> op.label, "stage" -> "capture",
            "exception" -> e.getClass.getName,
            "message" -> String.valueOf(e.getMessage).take(500))
        }
        case Some(e) => failures += Map("op" -> op.id, "kind" -> op.kind,
          "label" -> op.label, "stage" -> "run",
          "exception" -> e.getClass.getName,
          "message" -> String.valueOf(e.getMessage).take(500))
      }
      h.tracer.set(false)
      if (traced) org.apache.spark.graftbench.Internals.drainListenerBus(sc)
      leaks(op)
      results += Map("op" -> op.id, "kind" -> op.kind,
        "label" -> op.label, "ms" -> ns / 1e6, "ok" -> err.isEmpty,
        "traced" -> traced)
    }
    (plain.toSeq, tracedLat.toSeq)
  }

  def run(): String = {
    val a = h.args
    val load0 = loadAvg()
    // set-up, repeated: each round is a fresh session + registration +
    // warm-up; the last session is the one the timed loop uses
    val setupS = (1 to a.setups).map { _ =>
      cleanup()
      val t0 = System.nanoTime()
      h.spark = h.newSession()
      w.setup(h)
      (System.nanoTime() - t0) / 1e9
    }
    snapshotBaseline()
    val it = w.ops(h)
    val (gcT0, gcC0) = gc()
    val wall0 = System.nanoTime()
    // the traced run alternates untraced and traced ops over the same
    // stream, so the tracing overhead is measured side by side; it runs
    // at least three, so a warm untraced op follows the first traced one
    if (a.trace) {
      h.tracer.attach(h.spark.sparkContext)
      h.spark.sparkContext.addSparkListener(h.listener)
    }
    val (untraced, traced) = loop(it, a.seconds,
      if (a.trace) math.max(3, w.minOps) else w.minOps, alternate = a.trace)
    if (a.trace) h.spark.sparkContext.removeSparkListener(h.listener)
    val loopWallS = (System.nanoTime() - wall0) / 1e9
    val (gcT1, gcC1) = gc()
    val tr = h.tracer
    val out0 = System.nanoTime()
    val outputs = w.outputs(h)
    val outputsS = (System.nanoTime() - out0) / 1e9
    val layers: Seq[(String, Any)] =
      if (!a.trace) Seq.empty
      else Seq("layers" -> (genericLayers(tr, traced, untraced,
          (gcT1 - gcT0).toDouble, (gcC1 - gcC0).toDouble) ++
          w.layerMetrics(h)).toMap,
        "self_ms" -> tr.selfTimesMs)
    if (a.trace) {
      val lines = tr.toJsonLines.mkString("", "\n", "\n")
      Files.writeString(h.work.resolve("spans.jsonl"), lines)
    }
    val rt = Runtime.getRuntime
    val json = Json.write((Seq[(String, Any)](
      "workload" -> a.workload,
      "setup_s" -> setupS,
      "ops" -> results.toSeq,
      "failures" -> failures.toSeq,
      "phases" -> Map("setup_each_s" -> setupS,
        "loop_wall_s" -> loopWallS, "outputs_s" -> outputsS),
      "leaks_max" -> leakMax.toMap, "leaks_first_op" -> leakFirst.toMap,
      "vmhwm_kb" -> vmHwmKb(),
      "host" -> Map(
        "local_n" -> a.cpus,
        "loadavg_before" -> load0, "loadavg_after" -> loadAvg(),
        "java" -> System.getProperty("java.version"),
        "jvm" -> System.getProperty("java.vm.name"),
        "spark" -> h.spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "max_heap_mb" -> rt.maxMemory / (1024 * 1024),
        "available_processors" -> rt.availableProcessors)
    ) ++ outputs ++ layers).toMap)
    cleanup()
    json
  }

  /** Per-operation layer metrics every workload has: planning and
    * execution from the spans, jobs/tasks/CPU/shuffle/spill from the
    * listener (per traced op), GC, and the tracing overhead. */
  private def genericLayers(tr: Tracer, traced: Seq[Double],
      untraced: Seq[Double], gcMs: Double, gcCount: Double)
      : Seq[(String, Double)] = {
    val n = math.max(1, traced.size).toDouble
    val l = h.listener
    // jobs run by the untimed result capture carry no "op." path
    val all = l.sum((_, p) => p.startsWith("op."))
    val build = l.sum((_, p) => p.startsWith("op.") && Tracer.inBuild(p))
    def med(xs: Seq[Double]) =
      if (xs.isEmpty) 0.0
      else { val s = xs.sorted; (s((s.size - 1) / 2) + s(s.size / 2)) / 2 }
    // the first op of a run is still warming up: leave it out of the
    // untraced side when there is another one
    val base = if (untraced.size > 1) untraced.drop(1) else untraced
    val overhead =
      if (base.isEmpty || traced.isEmpty) 0.0
      else (med(traced) / med(base) - 1.0) * 100.0
    Seq(
      "catalyst.plan_ms" -> tr.totalMs("catalyst.plan") / n,
      "exec.run_ms" -> tr.totalMs(Tracer.ExecSpan) / n,
      "exec.jobs" -> all.jobs / n,
      "exec.stages" -> all.stages / n,
      "exec.tasks" -> all.tasks / n,
      "exec.build_jobs" -> build.jobs / n,
      "exec.build_job_ms" -> build.jobMs.toDouble / n,
      "exec.task_cpu_ms" -> all.cpuNs / 1e6 / n,
      "exec.task_run_ms" -> all.runMs / n,
      "exec.shuffle_read_bytes" -> all.shuffleRead / n,
      "exec.shuffle_write_bytes" -> all.shuffleWrite / n,
      "exec.spill_bytes" -> all.spill / n,
      "exec.rows_examined_per_result" ->
        all.recordsRead.toDouble / math.max(1L, h.resultRows),
      // building alone: the wall time of the jobs launched while
      // building is exec.build_job_ms
      "frontend.build_ms" -> math.max(0.0,
        tr.totalMs(Tracer.BuildSpans) - build.jobMs) / n,
      "jvm.gc_ms" -> gcMs, "jvm.gc_count" -> gcCount,
      "trace.ops" -> traced.size.toDouble,
      "trace.spans" -> tr.spans.size.toDouble,
      "trace.untraced_op_p50_ms" -> med(base),
      "trace.traced_op_p50_ms" -> med(traced),
      "trace.overhead_pct" -> overhead)
  }

  private def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  private def vmHwmKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: Throwable => -1L }
}
