package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One timed call at a layer boundary. `t0`/`t1` are `System.nanoTime`;
  * the counters are JVM-wide readings taken at entry and exit (local mode
  * runs the executors in this JVM, so they cover task-side compiles too).
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    t0: Long, t1: Long, compiles: Long, compileNs: Long, persisted: Long,
    notes: Map[String, Long])

/** Spans around the benchmark's calls into each layer, kept in memory and
  * written out when the run ends. Disabled, `span` is a plain call.
  */
final class Tracer(var enabled: Boolean, sc: SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var notes = Map.empty[String, Long]
  private var op = -1

  private def persistedNow: Long = sc.getPersistentRDDs.size.toLong

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.length
      spans += null // reserve the id so children record this span as parent
      val parent = stack.headOption.getOrElse(-1)
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val n0 = CodeGenerator.compileTime
      // persisted RDDs are counted around whole operations only: the map
      // copy it takes would otherwise sit in the parent span's self time
      val root = parent < 0
      val p0 = if (root) persistedNow else 0L
      val saved = notes
      notes = Map.empty
      stack = id :: stack
      val t0 = System.nanoTime
      try body
      finally {
        val t1 = System.nanoTime
        stack = stack.tail
        spans(id) = Span(id, parent, op, name, t0, t1,
          CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0,
          CodeGenerator.compileTime - n0, if (root) persistedNow - p0 else 0L, notes)
        notes = saved
      }
    }

  /** Root span of operation `index`; layer spans inside it are its children. */
  def operation[T](index: Int)(body: => T): T = {
    op = index
    try span("op")(body) finally op = -1
  }

  /** Attach a count to the innermost open span. */
  def note(key: String, value: Long): Unit =
    if (enabled) notes = notes.updated(key, notes.getOrElse(key, 0L) + value)
}

/** Job, stage and task events, timestamped by Spark in epoch ms. The
  * benchmark attributes each job to the innermost span open at its
  * submission (`benchlib/metrics.py`).
  */
final case class Job(id: Int, submitted: Long, completed: Long, stages: Seq[Int])
final case class Task(stage: Int, launch: Long, finish: Long, runMs: Long,
    shuffleWrite: Long, spill: Long, peakMem: Long, recordsRead: Long)

final class Events extends SparkListener {
  private val jobStart = scala.collection.concurrent.TrieMap.empty[Int, (Long, Seq[Int])]
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStart(e.jobId) = (e.time, e.stageIds)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { case (t, st) => jobs.add(Job(e.jobId, t, e.time, st)) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory,
      m.inputMetrics.recordsRead))
  }
}
