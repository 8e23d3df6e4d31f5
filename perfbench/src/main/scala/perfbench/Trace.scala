package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spark work summed over an interval: what the listener saw. */
final class Counters {
  var jobs, stages, tasks, failedTasks              = 0L
  var taskBusyMs                                    = 0L
  var inputBytes, shuffleWriteBytes, shuffleReadBytes = 0L
  var shuffleWriteRecords, spillBytes, resultBytes  = 0L

  def toMap: Map[String, Double] = Map(
    "spark.jobs"                -> jobs.toDouble,
    "spark.stages"              -> stages.toDouble,
    "spark.tasks"               -> tasks.toDouble,
    "spark.failed_tasks"        -> failedTasks.toDouble,
    "spark.task_busy_s"         -> taskBusyMs / 1000.0,
    "spark.input_bytes"         -> inputBytes.toDouble,
    "spark.shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "spark.shuffle_read_bytes"  -> shuffleReadBytes.toDouble,
    "spark.spill_bytes"         -> spillBytes.toDouble,
    "spark.result_bytes"        -> resultBytes.toDouble)
}

final case class TaskEvent(
    launchMs: Long,
    finishMs: Long,
    failed: Boolean,
    runMs: Long,
    inputBytes: Long,
    shuffleWriteBytes: Long,
    shuffleWriteRecords: Long,
    shuffleReadBytes: Long,
    spillBytes: Long,
    resultBytes: Long)

/** Records job starts, stage completions and task ends with their
  * timestamps. The benchmark has one client thread, so an event belongs
  * to whichever span was open at its time: that includes the jobs a
  * module runs on a child session of the same SparkContext.
  */
final class EventLog extends SparkListener {
  val jobStarts   = new ConcurrentLinkedQueue[Long]()
  val stageEnds   = new ConcurrentLinkedQueue[Long]()
  val taskEnds    = new ConcurrentLinkedQueue[TaskEvent]()

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobStarts.add(e.time); () }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stageEnds.add(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
    ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    val m    = e.taskMetrics
    val ev =
      if (m == null) TaskEvent(info.launchTime, info.finishTime, !info.successful, 0, 0, 0, 0, 0, 0, 0)
      else
        TaskEvent(
          info.launchTime,
          info.finishTime,
          !info.successful,
          m.executorRunTime,
          m.inputMetrics.bytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleWriteMetrics.recordsWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.resultSize)
    taskEnds.add(ev)
    ()
  }

  /** Everything recorded since the last call. */
  def take(): (Seq[Long], Seq[Long], Seq[TaskEvent]) = {
    def pollAll[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
      val out = mutable.ArrayBuffer[T]()
      var x   = q.poll()
      while (x != null) { out += x; x = q.poll() }
      out.toSeq
    }
    (pollAll(jobStarts), pollAll(stageEnds), pollAll(taskEnds))
  }
}

final case class Span(
    id: Int,
    parent: Int,
    op: Int,
    name: String,
    startMs: Double,
    endMs: Double,
    counters: Counters) {
  def durS: Double = (endMs - startMs) / 1000.0
}

/** In-memory span recorder. When off, `span` only runs its body. */
final class Tracer {
  private val baseNano = System.nanoTime()
  private val baseMs   = System.currentTimeMillis().toDouble
  def nowMs: Double    = baseMs + (System.nanoTime() - baseNano) / 1e6

  val spans            = mutable.ArrayBuffer[Span]()
  private var stack    = List.empty[Int]
  private var opId     = -1
  private var on       = false

  /** Open the root span of one op; `traced` switches span recording. */
  def beginOp(op: Int, traced: Boolean): Unit = {
    on = traced
    opId = op
    if (on) open("op")
  }

  def endOp(): Option[Span] =
    if (!on) None
    else {
      val s = close()
      on = false
      Some(s)
    }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      open(name)
      try body
      finally { close(); () }
    }

  private def open(name: String): Unit = {
    val id = spans.size
    spans += Span(id, stack.headOption.getOrElse(-1), opId, name, nowMs, Double.NaN, new Counters)
    stack = id :: stack
  }

  private def close(): Span = {
    val id = stack.head
    stack = stack.tail
    val s = spans(id).copy(endMs = nowMs)
    spans(id) = s
    s
  }

  def children(of: Span): Seq[Span] =
    spans.iterator.drop(of.id + 1).takeWhile(_.op == of.op).filter(_.parent == of.id).toSeq

  /** Duration minus the part of it its child spans cover. */
  def selfS(s: Span): Double = s.durS - children(s).map(_.durS).sum

  /** Attribute listener events to the innermost span of `root`'s op open
    * at each event's time, and return the op's own totals plus the time
    * in which no task ran.
    */
  def attribute(root: Span, events: (Seq[Long], Seq[Long], Seq[TaskEvent])): (Counters, Double) = {
    val opSpans = root +: spans.iterator.drop(root.id + 1).takeWhile(_.op == root.op).toSeq
    def at(t: Double): Option[Span] =
      opSpans.filter(s => s.startMs <= t + 1.0 && t <= s.endMs + 1.0).lastOption
    val (jobs, stages, tasks) = events
    // every event inside the op counts toward the op total and toward
    // the innermost span open at its time
    val total = new Counters
    def claim(t: Double)(f: Counters => Unit): Unit =
      at(t).foreach { s => f(s.counters); f(total) }
    jobs.foreach(t => claim(t.toDouble)(_.jobs += 1))
    stages.foreach(t => claim(t.toDouble)(_.stages += 1))
    tasks.foreach { e =>
      claim(e.finishMs.toDouble) { c =>
        c.tasks += 1
        if (e.failed) c.failedTasks += 1
        c.taskBusyMs += e.runMs
        c.inputBytes += e.inputBytes
        c.shuffleWriteBytes += e.shuffleWriteBytes
        c.shuffleWriteRecords += e.shuffleWriteRecords
        c.shuffleReadBytes += e.shuffleReadBytes
        c.spillBytes += e.spillBytes
        c.resultBytes += e.resultBytes
      }
    }
    // wall time of the op in which no task was running
    val busy = tasks
      .map(e => (math.max(e.launchMs.toDouble, root.startMs), math.min(e.finishMs.toDouble, root.endMs)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0.0
    var curA    = Double.NaN
    var curB    = Double.NaN
    busy.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    (total, math.max(0.0, root.durS - covered / 1000.0))
  }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map(
      "id"       -> s.id,
      "parent"   -> s.parent,
      "op"       -> s.op,
      "name"     -> s.name,
      "start_ms" -> s.startMs,
      "end_ms"   -> s.endMs,
      "self_s"   -> selfS(s),
      "spark"    -> s.counters.toMap)
  }
}
