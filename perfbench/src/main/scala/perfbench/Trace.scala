package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Task counters of one span (or of the whole run under `Tracer.RunKey`). */
final class Counters {
  val tasks, failedTasks, runMs, cpuNs, shuffleWrite, spill, inputBytes, scanMs,
      planMs, actionNs = new AtomicLong
  def add(m: org.apache.spark.executor.TaskMetrics, info: TaskInfo, failed: Boolean): Unit = {
    tasks.incrementAndGet()
    if (failed) failedTasks.incrementAndGet()
    // the task's share of the parquet scans' "scan time" SQL metric (ms)
    if (info != null) info.accumulables.foreach { a =>
      if (a.name.contains("scan time")) a.update.foreach(u => scanMs.addAndGet(u.toString.toLong))
    }
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
    }
  }
}

/** A timed span: one call into a layer, made by the benchmark. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
                      startNs: Long, endNs: Long)

/** Spans plus the three Spark listeners the traced run registers from
  * outside the program:
  *  - a SparkListener that attributes task metrics to spans by job
  *    group (one group per span; jobs without a group, such as those
  *    the HTTP server's threads submit, go to the span open at job
  *    start, which is exact while the client is single-threaded),
  *    including the task's share of the parquet scans' scan time;
  *  - a QueryExecutionListener that adds each action's planning phases
  *    (analysis + optimization + planning, read from the tracker, so
  *    nothing is re-planned) and its action time to the open span;
  *  - a StreamingQueryListener that keeps every micro-batch's progress.
  * With `enabled = false` spans are still timed (they cost two clock
  * reads) but no listener is registered and no job group is set. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  private val t0 = System.nanoTime()
  val runId: String = java.util.UUID.randomUUID().toString
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val mainThread = Thread.currentThread()
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  @volatile private var open = Tracer.RunKey
  private var nextId = 0
  val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()

  private def countersOf(id: Int): Counters = counters.computeIfAbsent(id, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val id = group.flatMap(g => scala.util.Try(g.stripPrefix("span-").toInt).toOption).getOrElse(open)
      e.stageIds.foreach(s => stageSpan.put(s, id))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val failed = e.reason != Success
      val id = stageSpan.getOrDefault(e.stageId, Tracer.RunKey)
      countersOf(id).add(e.taskMetrics, e.taskInfo, failed)
      if (id != Tracer.RunKey) countersOf(Tracer.RunKey).add(e.taskMetrics, e.taskInfo, failed)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val plan = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
      val c = countersOf(open)
      c.planMs.addAndGet(plan)
      c.actionNs.addAndGet(durationNs)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Time `body` as a span named `name` in `layer`, nested under the
    * span open on this thread. Only spans of the thread that made the
    * tracer set job groups: other threads (the streaming engine's)
    * own their job group, so their spans are timed only. */
  def span[T](name: String, layer: String)(body: => T): T = {
    val parent = stack.get.headOption.getOrElse(Tracer.RunKey)
    val id = synchronized { nextId += 1; nextId }
    stack.set(id :: stack.get)
    val attribute = enabled && (Thread.currentThread() eq mainThread)
    val prevOpen = open
    if (attribute) { sc.setJobGroup(s"span-$id", name); open = id }
    val start = System.nanoTime()
    try body
    finally {
      if (attribute) drain()
      val end = System.nanoTime()
      stack.set(stack.get.tail)
      synchronized(spans += Span(id, name, layer, parent, start - t0, end - t0))
      if (attribute) {
        open = prevOpen
        if (parent != Tracer.RunKey) sc.setJobGroup(s"span-$parent", "") else sc.clearJobGroup()
      }
    }
  }

  /** Deliver pending listener events, so a span's tail tasks and its
    * query-execution callbacks land on that span and not the next one.
    * `listenerBus.waitUntilEmpty` is public in bytecode (Spark's own
    * tests call it the same way). */
  def drain(): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: Throwable => Thread.sleep(200) }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** Spans, with their counters, as JSON objects. */
  def spansJson: Seq[String] = allSpans.map { s =>
    val c = Option(counters.get(s.id))
    def v(f: Counters => AtomicLong): Long = c.map(f(_).get).getOrElse(0L)
    Json.obj(
      "id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
      "run" -> runId, "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6,
      "tasks" -> v(_.tasks), "failed_tasks" -> v(_.failedTasks),
      "task_run_ms" -> v(_.runMs),
      "cpu_ms" -> v(_.cpuNs) / 1e6, "shuffle_write_bytes" -> v(_.shuffleWrite),
      "spill_bytes" -> v(_.spill), "input_bytes" -> v(_.inputBytes), "scan_ms" -> v(_.scanMs),
      "plan_ms" -> v(_.planMs), "action_ms" -> v(_.actionNs) / 1e6)
  }

  def runCounters: Counters = countersOf(Tracer.RunKey)
}

object Tracer {
  /** Counter key for the whole run (and for work outside any span). */
  val RunKey = 0
}

/** Minimal JSON rendering for the result file (numbers, strings,
  * nested objects and arrays given pre-rendered). */
object Json {
  final case class Raw(s: String)
  def str(s: String): String = "\"" + graft.serving.SugarApi.jsonEscape(s) + "\""
  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case null => "null"
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String = kv.map { case (k, x) => str(k) + ":" + value(x) }.mkString("{", ",", "}")
}
