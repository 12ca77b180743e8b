package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. `key` is the stage or
  * request id the span belongs to; `attrs` holds counters read at the
  * same boundary (codegen deltas, rows returned). */
final case class Span(id: Long, parent: Long, name: String, key: String,
    startNs: Long, endNs: Long, attrs: Map[String, Double])

/** Spans kept in memory and written out when the run ends. With `on`
  * false every call is a plain pass-through, so untraced runs time the
  * same calls with nothing recorded. The innermost open span of a thread
  * is published as a Spark local property, so jobs started inside it are
  * attributed to it by [[TaskStats]]. */
final class Tracer(sc: SparkContext) {
  @volatile var on: Boolean = false
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  def span[T](name: String, key: String, attrs: => Map[String, Double] = Map.empty)(f: => T): T =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val parent: Long = current.get
      current.set(id)
      sc.setLocalProperty(Tracer.Prop, id.toString)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        current.set(parent)
        sc.setLocalProperty(Tracer.Prop, if (parent == 0L) null else parent.toString)
        spans.add(Span(id, parent, name, key, t0, t1, attrs))
      }
    }

  /** Spans whose intervals come from elsewhere (Spark's planning
    * tracker, reported on the listener thread): each becomes a child of
    * the innermost recorded span that contains it. */
  def attach(name: String, intervals: Seq[(Long, Long)]): Unit = {
    val byLength = all.sortBy(s => s.endNs - s.startNs)
    intervals.foreach { case (t0, t1) =>
      // the tracker's clock has millisecond steps: place by midpoint, clip
      val mid = t0 / 2 + t1 / 2
      byLength.find(s => s.endNs > s.startNs && s.startNs <= mid && mid <= s.endNs)
        .foreach(p => spans.add(Span(ids.incrementAndGet(), p.id, name, p.key,
          math.max(t0, p.startNs), math.min(t1, p.endNs), Map.empty)))
    }
  }

  /** Counters attached to the calling thread's innermost span, as a
    * zero-length child read at the span's end. */
  def count(name: String, key: String, attrs: Map[String, Double]): Unit =
    if (on) {
      val now = System.nanoTime()
      spans.add(Span(ids.incrementAndGet(), current.get, name, key, now, now, attrs))
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

object Tracer {
  val Prop = "perfbench.span"
}

/** Task metrics summed per span: every job carries the span id of the
  * thread that started it, and each task's metrics land on that span. */
final class TaskStats extends SparkListener {
  final class Agg {
    var jobs, tasks = 0L
    var shuffleWrite, shuffleRead, spill, inputBytes, inputRows = 0L
    var cpuNs, runMs, gcMs = 0L
    def toMap: Map[String, Double] = Map(
      "jobs" -> jobs, "tasks" -> tasks, "shuffle_write_b" -> shuffleWrite,
      "shuffle_read_b" -> shuffleRead, "spill_b" -> spill,
      "input_b" -> inputBytes, "input_rows" -> inputRows,
      "cpu_ns" -> cpuNs, "run_ms" -> runMs, "task_gc_ms" -> gcMs,
    ).map { case (k, v) => k -> v.toDouble }
  }
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val bySpan = new ConcurrentHashMap[Long, Agg]()
  private val stageTaskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()

  private def agg(span: Long): Agg = bySpan.computeIfAbsent(span, _ => new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .map(_.toLong).getOrElse(0L)
    e.stageIds.foreach(stageSpan.put(_, span))
    val a = agg(span)
    a.synchronized(a.jobs += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = agg(stageSpan.getOrDefault(e.stageId, 0L))
      a.synchronized {
        a.tasks += 1
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRows += m.inputMetrics.recordsRead
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
      }
      val times = stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
      times.synchronized(times += m.executorRunTime)
    }
  }

  def forSpan(id: Long): Map[String, Double] =
    Option(bySpan.get(id)).map(a => a.synchronized(a.toMap)).getOrElse(Map.empty)

  /** max/median task time of each Spark stage started under `span`, for
    * stages with at least 4 tasks whose slowest task ran 50 ms or more. */
  def skews(span: Long): Seq[Double] =
    stageSpan.asScala.collect { case (stage, s) if s == span => stage }.toSeq
      .flatMap(st => Option(stageTaskMs.get(st)))
      .map(ts => ts.synchronized(ts.sorted.toIndexedSeq))
      .collect { case ts if ts.size >= 4 && ts.last >= 50 =>
        ts.last.toDouble / math.max(1L, ts(ts.size / 2)) }
}

/** Planning time of each successful action, from Spark's own planning
  * tracker: analysis, optimization and physical planning as one
  * interval. The listener runs on Spark's listener thread, so intervals
  * are kept and later attached to the spans that contain them. */
final class PlanStats extends QueryExecutionListener {
  val intervals = new ConcurrentLinkedQueue[(Long, Long)]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) {
      // the tracker's clock is epoch ms; spans use nanoTime
      val shift = System.nanoTime() - System.currentTimeMillis() * 1000000L
      intervals.add((phases.map(_.startTimeMs).min * 1000000L + shift,
        phases.map(_.endTimeMs).max * 1000000L + shift))
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}
