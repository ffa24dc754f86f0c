package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a named interval around a call into a layer, with the span
  * that caused it and the operation it belongs to. Times are ns since the
  * tracer was created. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    start: Long, end: Long)

/** In-memory span recorder. Disabled, `span` just runs its body. Enabled,
  * it also publishes the current operation and span path as Spark local
  * properties, so the listener can attribute jobs to them. */
final class Tracer {
  var enabled = false
  private val t0 = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, String, Long)]
  private var nextId = 1
  @volatile var op: Int = 0
  private var sc: SparkContext = _

  def attach(context: SparkContext): Unit = sc = context

  def path: String = stack.reverseIterator.map(_._2).mkString("/")

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = if (stack.isEmpty) 0 else stack.top._1
      stack.push((id, name, System.nanoTime() - t0))
      publish()
      try body
      finally {
        val (_, _, start) = stack.pop()
        spans += Span(id, parent, op, name, start, System.nanoTime() - t0)
        publish()
      }
    }

  /** Switches span recording on or off between operations. */
  def set(on: Boolean): Unit = { enabled = on; publish() }

  private def publish(): Unit = if (sc != null) {
    sc.setLocalProperty(Tracer.OpKey, if (enabled) op.toString else null)
    sc.setLocalProperty(Tracer.PathKey, if (enabled) path else null)
  }

  /** Self time per span name: duration minus the time its direct
    * children cover (children of one span never overlap: calls are
    * serial). */
  def selfTimesMs: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent != 0) childNs(s.parent) += s.end - s.start)
    spans.groupBy(_.name).view.mapValues(ss =>
      ss.map(s => s.end - s.start - childNs(s.id)).sum / 1e6).toMap
  }

  /** Total duration of the spans named in `names` (spans of one role
    * never nest). */
  def totalMs(names: Set[String]): Double =
    spans.filter(s => names(s.name)).map(s => s.end - s.start).sum / 1e6

  def totalMs(name: String): Double = totalMs(Set(name))

  def toJsonLines: Iterator[String] = spans.iterator.map(s => Json.write(Map(
    "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
    "start_ns" -> s.start, "end_ns" -> s.end)))
}

object Tracer {
  val OpKey = "graftbench.op"
  val PathKey = "graftbench.path"
  /** Spans around calls that only build a DataFrame (and the analysis
    * that comes with it). Jobs an operator launches while it is built are
    * build jobs; their wall time is kept apart from the build time. */
  val BuildSpans = Set("frontend.build", "chsql.build", "curation.build")
  /** Spans around calls that run jobs: the materializer's execution, and
    * engine calls that build and run in one (`ChSql.statement`,
    * `LineagePipeline.toMermaid`). */
  val ExecSpan = "exec.run"

  def inBuild(path: String): Boolean = path.split('/').exists(BuildSpans)
}

/** Execution counters for one (operation, span path) key. */
final class ExecCounters {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, shuffleRead, shuffleWrite, spill, recordsRead = 0L
  /** Wall time from each job's start to its end. */
  var jobMs = 0L
  def add(o: ExecCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    jobMs += o.jobMs
    runMs += o.runMs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill
    recordsRead += o.recordsRead
  }
}

/** The benchmark's one metrics listener: jobs and their wall time,
  * stages, tasks, task CPU and run time, shuffle bytes, spill and records
  * read, keyed by the operation and span path that were current when the
  * job started. */
final class ExecListener extends SparkListener {
  val byKey = mutable.Map.empty[(Int, String), ExecCounters]
  private val stageKey = mutable.Map.empty[Int, (Int, String)]
  private val jobStart = mutable.Map.empty[Int, ((Int, String), Long)]

  private def counters(k: (Int, String)) =
    byKey.getOrElseUpdate(k, new ExecCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val op = p.flatMap(x => Option(x.getProperty(Tracer.OpKey)))
      .map(_.toInt).getOrElse(0)
    val path = p.flatMap(x => Option(x.getProperty(Tracer.PathKey)))
      .getOrElse("")
    val k = (op, path)
    counters(k).jobs += 1
    jobStart(e.jobId) = (k, e.time)
    e.stageIds.foreach(s => stageKey(s) = k)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (k, t0) =>
      counters(k).jobMs += e.time - t0
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageKey.get(e.stageInfo.stageId).foreach(counters(_).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageKey.get(e.stageId).foreach { k =>
      val c = counters(k)
      c.tasks += 1
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.shuffleRead += m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  /** Sum of counters over the keys selected by `keep(op, path)`. */
  def sum(keep: (Int, String) => Boolean): ExecCounters = synchronized {
    val out = new ExecCounters
    byKey.foreach { case ((op, path), c) => if (keep(op, path)) out.add(c) }
    out
  }
}
