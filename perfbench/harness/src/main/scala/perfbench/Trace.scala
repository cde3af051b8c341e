package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded span: a call into a layer, timed on the driver thread.
  * `parent` is the enclosing span's id (-1 at the top); `op` groups the
  * spans of one operation (a cooling run, a Q3, a battery query).
  */
final case class Span(id: Int, name: String, parent: Int, op: Int, startNs: Long, endNs: Long)

/** Spark task/job counters summed over the jobs one span launched. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskNs = 0L
  var taskMaxNs = 0L
  var rowsRead = 0L
  var bytesRead = 0L
  var rowsWritten = 0L
  var bytesWritten = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L

  def fields: Seq[(String, Double)] = Seq[(String, Double)](
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "task_s" -> taskNs / 1e9, "task_s_max" -> taskMaxNs / 1e9,
    "rows_read" -> rowsRead.toDouble, "bytes_read" -> bytesRead.toDouble,
    "rows_written" -> rowsWritten.toDouble, "bytes_written" -> bytesWritten.toDouble,
    "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "shuffle_read_bytes" -> shuffleReadBytes.toDouble, "spill_bytes" -> spillBytes.toDouble)
}

/** In-memory tracer. Spans are kept in a buffer and written out once, at
  * the end of the run. Each open span tags the jobs it launches through a
  * SparkContext local property; the listener keys every job, stage and
  * task event by that tag, so counters land on the innermost open span no
  * matter when the listener bus delivers them.
  *
  * Disabled (the untraced phase), `span` runs its body and records nothing,
  * and the listener is not registered.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val Key = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var currentOp = -1
  private var enabled = false

  private val notes = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private val counters = mutable.Map.empty[Int, Counters]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val pendingJobs = mutable.Set.empty[Int]
  private var lastEventNs = System.nanoTime()

  def start(): Unit = { sc.addSparkListener(this); enabled = true }

  /** Stops recording and waits until the listener bus has delivered the
    * events of every job the traced spans launched.
    */
  def stop(): Unit = {
    enabled = false
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    def settled = synchronized {
      pendingJobs.isEmpty && System.nanoTime() - lastEventNs > 300L * 1000 * 1000
    }
    while (!settled && System.nanoTime() < deadline) Thread.sleep(50)
    sc.removeSparkListener(this)
  }

  def isEnabled: Boolean = enabled

  /** An operation: a top-level span whose descendants share its id. */
  def op[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      currentOp = nextId
      try span(name)(body) finally currentOp = -1
    }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(Key, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Key, stack.headOption.map(_.toString).orNull)
        spans += Span(id, name, parent, if (currentOp >= 0) currentOp else id, t0, t1)
      }
    }

  def recorded: Seq[Span] = spans.toSeq.sortBy(_.id)

  /** A measured value attached to the innermost open span. */
  def note(key: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach(id => notes.getOrElseUpdate(id, mutable.Map.empty)(key) = v)

  /** A measured value attached to the operation that closed last, for
    * figures taken after the operation, outside its spans.
    */
  def noteLastOp(key: String, v: Double): Unit =
    if (enabled) spans.lastOption.foreach(sp => notes.getOrElseUpdate(sp.op, mutable.Map.empty)(key) = v)

  def notesOf(id: Int): Map[String, Double] = notes.get(id).map(_.toMap).getOrElse(Map.empty)

  def countersOf(id: Int): Option[Counters] = synchronized(counters.get(id))

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(Key))).map(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    lastEventNs = System.nanoTime()
    spanOf(e.properties).foreach { id =>
      pendingJobs += e.jobId
      counters.getOrElseUpdate(id, new Counters).jobs += 1
      e.stageIds.foreach(s => stageSpan(s) = id)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    pendingJobs -= e.jobId
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    lastEventNs = System.nanoTime()
    stageSpan.get(e.stageInfo.stageId).foreach(id => counters.getOrElseUpdate(id, new Counters).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = counters.getOrElseUpdate(id, new Counters)
      val runNs = m.executorRunTime * 1000L * 1000L
      c.tasks += 1
      c.taskNs += runNs
      c.taskMaxNs = math.max(c.taskMaxNs, runNs)
      c.rowsRead += m.inputMetrics.recordsRead
      c.bytesRead += m.inputMetrics.bytesRead
      c.rowsWritten += m.outputMetrics.recordsWritten
      c.bytesWritten += m.outputMetrics.bytesWritten
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}
