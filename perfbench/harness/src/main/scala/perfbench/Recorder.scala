package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

final case class OpSample(kind: String, name: String, phase: String, s: Double, ok: Boolean, rows: Long)

/** Everything one benchmark run measured, as raw samples. perfbench/run.py
  * reduces them to the reported metrics (medians, tail percentiles, per-layer
  * sums), so the statistics live in one place.
  *
  * An op sample is one closed-loop operation: `kind` is `cool_run`, `q3` or
  * `query`; `phase` is `untraced` or `traced`; `ok` is false when the call
  * threw or failed a check made here (run.py adds the battery's oracle and
  * row-count checks); `rows` is what the op returned or moved.
  */
final class Recorder(val tracer: Tracer) {
  private val ops = mutable.ArrayBuffer.empty[OpSample]
  private val setups = mutable.ArrayBuffer.empty[Double]
  private val cycles = mutable.ArrayBuffer.empty[(String, Double)]
  private val values = mutable.LinkedHashMap.empty[String, Double]
  private val errors = mutable.ArrayBuffer.empty[String]

  def phase: String = if (tracer.isEnabled) "traced" else "untraced"

  def op(kind: String, name: String, s: Double, ok: Boolean, rows: Long = 0L): Unit =
    ops += OpSample(kind, name, phase, s, ok, rows)

  /** Runs the measured cycles: all untraced, or with --trace 1 untraced and
    * traced in turn, so that the tracing overhead (traced minus untraced) is
    * not confounded with the JIT still warming. Records the JVM's GC time
    * over the measured cycles.
    */
  def measure(cfg: Config)(cycle: => Unit): Unit = {
    val n = if (cfg.trace) 2 * ((cfg.cycles + 1) / 2) else cfg.cycles
    val gc0 = Recorder.gcSeconds
    (1 to n).foreach { i =>
      val traced = cfg.trace && i % 2 == 0
      if (traced) tracer.start()
      try cycle finally if (traced) tracer.stop()
    }
    value("jvm.gc_s", Recorder.gcSeconds - gc0)
  }

  def setup(s: Double): Unit = setups += s
  def cycle(s: Double): Unit = cycles += (phase -> s)
  def value(k: String, v: Double): Unit = values(k) = v
  def error(msg: String): Unit = { errors += msg; System.err.println(s"[perfbench] $msg") }

  def write(path: String): Unit = {
    val spans = tracer.recorded.map { sp =>
      val counters = tracer.countersOf(sp.id).map(_.fields).getOrElse(Nil)
      ListMap[String, Any]("id" -> sp.id, "name" -> sp.name, "parent" -> sp.parent, "op" -> sp.op,
        "start_s" -> sp.startNs / 1e9, "end_s" -> sp.endNs / 1e9) ++
        counters ++ tracer.notesOf(sp.id).toSeq.sortBy(_._1)
    }
    Recorder.mapper.writeValue(new java.io.File(path), ListMap(
      "setup_s" -> setups.toSeq,
      "cycles" -> cycles.toSeq.map { case (p, s) => ListMap("phase" -> p, "s" -> s) },
      "ops" -> ops.toSeq,
      "values" -> ListMap.from(values.toSeq ++ Recorder.jvm),
      "spans" -> spans,
      "errors" -> errors.toSeq))
  }
}

object Recorder {
  /** JSON writer for the run record, from the Jackson jars Spark ships. */
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Process-wide JVM figures, from the public management beans and the
    * kernel's high-water mark of this process's resident set.
    */
  def jvm: Seq[(String, Double)] = {
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    val hwmKb = scala.util.Try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble).getOrElse(0.0)
    }.getOrElse(0.0)
    Seq("jvm.heap_peak_mb" -> heapPeak / 1048576.0, "jvm.rss_peak_mb" -> hwmKb / 1024.0)
  }
}
