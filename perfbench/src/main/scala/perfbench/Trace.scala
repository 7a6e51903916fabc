package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans, one per call into a layer the benchmark times from
  * outside. With tracing off only the per-name totals are kept (they feed
  * the end-to-end arithmetic); with tracing on every span is also recorded
  * (name, start, end, parent) and written as JSON lines at exit. */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private val totalNs = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  /** Spans beyond this many are not kept; their time still counts in the
    * per-name totals. */
  val MaxSpans = 500000

  def apply[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    var idx = -1
    if (enabled && spans.length < MaxSpans) {
      idx = spans.length
      spans += Span(name, t0, 0L, stack.headOption.getOrElse(-1))
      stack.push(idx)
    }
    try body
    finally {
      val t1 = System.nanoTime()
      if (idx >= 0) { spans(idx) = spans(idx).copy(endNs = t1); stack.pop() }
      totalNs(name) += t1 - t0
    }
  }

  def totalMs(name: String): Double = totalNs(name) / 1e6

  def write(path: java.io.File): Unit = if (enabled) {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.iterator.zipWithIndex.foreach { case (s, i) =>
      w.println(s"""{"id":$i,"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent}}""")
    } finally w.close()
  }
}

object Tracer {
  final case class Span(name: String, startNs: Long, endNs: Long, parent: Int)
}

/** Job, stage and task counters from a `SparkListener`, grouped by the job
  * group each job ran under: batch queries run under a group the benchmark
  * sets per query, streaming micro-batches under their query's run id. */
final class ExecListener extends SparkListener {
  final class Group {
    @volatile var jobs = 0
    @volatile var firstJobStartMs = Long.MaxValue
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val batches = new ConcurrentHashMap[String, Int]()
    val taskMs = java.util.Collections.synchronizedList(new java.util.ArrayList[Long]())
    val stageTaskMs = new ConcurrentHashMap[Int, java.util.List[Long]]()
    @volatile var shuffleWrite = 0L
    @volatile var shuffleRead = 0L
    @volatile var spill = 0L
    @volatile var cpuNs = 0L
    @volatile var gcMs = 0L
    @volatile var scanBytes = 0L
    @volatile var scanRecords = 0L
    def tasks: Int = taskMs.size
    /** Max over stages of (slowest task / median task), stages of ≥ 2 tasks. */
    def skew: Double = stageTaskMs.values.asScala.map { l =>
      val xs = l.synchronized(l.asScala.toSeq).map(_.toDouble)
      if (xs.size < 2) 1.0
      else xs.max / math.max(Stats.median(xs), 1.0)
    }.maxOption.getOrElse(1.0)
  }
  val groups = new ConcurrentHashMap[String, Group]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  def group(id: String): Group = groups.computeIfAbsent(id, _ => new Group)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val id = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    val g = group(id)
    g.synchronized {
      g.jobs += 1
      g.firstJobStartMs = math.min(g.firstJobStartMs, e.time)
    }
    props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .foreach(b => g.batches.merge(b, 1, (a: Int, c: Int) => a + c))
    e.stageIds.foreach { s => stageGroup.put(s, id); g.stages.add(s) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val id = stageGroup.get(e.stageId)
    if (id != null && e.taskInfo != null) {
      val g = group(id)
      g.taskMs.add(e.taskInfo.duration)
      g.stageTaskMs.computeIfAbsent(e.stageId,
        _ => java.util.Collections.synchronizedList(new java.util.ArrayList[Long]()))
        .add(e.taskInfo.duration)
      val m = e.taskMetrics
      if (m != null) g.synchronized {
        g.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        g.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        g.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        g.cpuNs += m.executorCpuTime
        g.gcMs += m.jvmGCTime
        g.scanBytes += m.inputMetrics.bytesRead
        g.scanRecords += m.inputMetrics.recordsRead
      }
    }
  }
}

/** Catalyst phase times from every successful `QueryExecution`'s tracker
  * (analysis, optimization, planning). Listener events arrive on Spark's
  * listener thread, so each is stamped with its analysis start time and
  * attributed to a query by the wall-clock window the query ran in. A noop
  * write plans a fresh `QueryExecution`, so this sees the write's phases. */
final class PhaseListener extends QueryExecutionListener {
  import PhaseListener.Phases
  val events = new java.util.concurrent.ConcurrentLinkedQueue[Phases]()
  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val start = ph.get("analysis").map(_.startTimeMs).getOrElse(System.currentTimeMillis())
    events.add(Phases(start, ms("analysis"), ms("optimization"), ms("planning")))
  }
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
  def within(fromMs: Long, toMs: Long): Seq[Phases] =
    events.asScala.filter(p => p.startMs >= fromMs && p.startMs <= toMs).toSeq
}

object PhaseListener {
  final case class Phases(startMs: Long, analysisMs: Long,
                          optimizationMs: Long, planningMs: Long)
}
