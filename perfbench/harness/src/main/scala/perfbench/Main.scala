package perfbench

import graft.GraftSession

/** Arguments of one run, as perfbench/run.py passes them:
  * `--workload --seed --trace --cycles --work --out`, plus optional
  * `--inject corrupt-cold` (the negative check) and `--data` (battery input
  * directory).
  */
final case class Config(opts: Map[String, String]) {
  def workload: String = opts("workload")
  def seed: Long = opts("seed").toLong
  def trace: Boolean = opts.get("trace").contains("1")
  def cycles: Int = opts("cycles").toInt
  def work: String = opts("work")
  def inject: String = opts.getOrElse("inject", "none")
}

/** One benchmark run in one JVM: a single closed-loop client on a
  * `local[N]` session; the next operation starts only after the previous
  * one returned. Writes the raw record for perfbench/run.py to reduce.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val cfg = Config(args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val spark = GraftSession.prepare(GraftSession.local("perfbench"))
    val rec = new Recorder(new Tracer(spark.sparkContext))
    try cfg.workload match {
      case "cool_parquet" => new Cooling(spark, rec, cfg).run()
      case "battery" => new Battery(spark, rec, cfg).run()
      case w => rec.error(s"unknown workload $w")
    } catch {
      case t: Throwable => rec.error(s"run aborted: ${t.getClass.getSimpleName}: ${t.getMessage}")
    } finally {
      rec.write(cfg.opts("out"))
      spark.stop()
    }
  }
}
