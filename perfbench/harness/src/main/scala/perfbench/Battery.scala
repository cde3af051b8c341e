package perfbench

import scala.collection.immutable.ListMap
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.queries._
import graft.sources.Tables

/** The `battery` workload: passes over a fixed slice of
  * `SparkEntry.queries` on the seeded tables in `--data`, in (module, name)
  * order, releasing shared caches at every module boundary as graft.Bench
  * does. (Bench also pre-builds the corpus module's shared relations for
  * v10/v12; neither is in the slice.)
  * Each query is timed as `queryExecution.toRdd.count()`, which runs the
  * query's own physical plan (never `df.count()`).
  *
  * Set-up: the program's own load of the ten seeded tables
  * (`graft.sources.Tables`), each counted, repeated `Setups` times; every
  * repetition is a set-up sample.
  *
  * Correctness: a first, untimed pass (it is also the JVM warm-up) writes
  * every query's result to `<work>/out/<query>` for perfbench/run.py to
  * compare with the DuckDB oracle SQL (`<work>/oracle_sql.json`); run.py
  * then checks every timed execution's row count against the validated
  * result.
  */
final class Battery(spark: SparkSession, rec: Recorder, cfg: Config) {
  import Battery._

  private val dir = cfg.opts("data")
  private val out = s"${cfg.work}/out"

  private def fn(name: String): (SparkSession, String) => DataFrame = SparkEntry.queries(name)

  /** Enter a module: release the shared caches of the previous one. */
  private def enter(first: Boolean): Unit = if (!first) DedupQueries.unpersistShared()

  private def validate(): Unit = {
    var prev = ""
    Slice.foreach { case (module, name) =>
      if (module != prev) enter(prev.isEmpty)
      prev = module
      val (done, s) = Recorder.timed(Try(
        fn(name)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/$name")))
      System.err.println(f"[perfbench] validate $name%s ${s}%.3f s")
      done.failed.foreach(e => rec.error(s"$name validation run failed: ${e.getMessage}"))
    }
    DedupQueries.unpersistShared()
    val oracle = SparkEntry.oracleSql
    Recorder.mapper.writeValue(new java.io.File(s"${cfg.work}/oracle_sql.json"),
      ListMap.from(Slice.map { case (_, n) => n -> oracle.getOrElse(n, "") }))
  }

  private def query(name: String): Long = {
    val t = rec.tracer
    if (!t.isEnabled) fn(name)(spark, dir).queryExecution.toRdd.count()
    else t.op(s"query:$name") {
      val df = t.span("build") { fn(name)(spark, dir) }
      t.span("plan") { df.queryExecution.executedPlan }
      t.span("exec") { df.queryExecution.toRdd.count() }
    }
  }

  private def pass(): Unit = {
    val t0 = System.nanoTime()
    Slice.groupBy(_._1).toSeq.sortBy { case (m, _) => Modules.indexOf(m) }.zipWithIndex.foreach {
      case ((module, qs), i) =>
        rec.tracer.span(s"family:$module") {
          enter(i == 0)
          qs.foreach { case (_, name) =>
            val (n, s) = Recorder.timed(Try(query(name)))
            n.failed.foreach(e => rec.error(s"$name: ${e.getMessage}"))
            rec.op("query", name, s, n.isSuccess, n.getOrElse(-1L))
            if (rec.tracer.isEnabled) rec.tracer.noteLastOp("cached_bytes",
              spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble)
            System.err.println(f"[perfbench] ${rec.phase}%s $name%s ${s}%.3f s")
          }
        }
    }
    DedupQueries.unpersistShared()
    rec.cycle((System.nanoTime() - t0) / 1e9)
  }

  def run(): Unit = {
    val missing = Slice.filterNot { case (m, n) => moduleQueries(m).contains(n) }
    require(missing.isEmpty, s"slice names queries outside their modules: $missing")
    (1 to Setups).foreach { _ =>
      val (_, s) = Recorder.timed(Tables.names.foreach(n => Tables.load(spark, dir, n).count()))
      rec.setup(s)
    }
    val (_, w) = Recorder.timed(validate())
    rec.value("warmup_s", w)
    rec.value("queries_per_pass", Slice.size.toDouble)
    rec.measure(cfg)(pass())
  }
}

object Battery {
  val Setups = 5

  /** Module order of `SparkEntry.modules`, which graft.Bench runs in. */
  val Modules: Seq[String] = Seq("reference", "join", "analytics", "text", "event", "dedup",
    "similarity", "multimodal", "corpus", "window", "interval", "sampling", "format", "stat",
    "upsert", "yql")

  def moduleQueries(m: String): Map[String, (SparkSession, String) => DataFrame] = m match {
    case "reference" => ReferenceQueries.queries
    case "join" => JoinQueries.queries
    case "analytics" => AnalyticsQueries.queries
    case "text" => TextQueries.queries
    case "event" => EventQueries.queries
    case "dedup" => DedupQueries.queries
    case "similarity" => SimilarityQueries.queries
    case "multimodal" => MultimodalQueries.queries
    case "corpus" => CorpusQueries.queries
    case "window" => WindowQueries.queries
    case "interval" => IntervalQueries.queries
    case "sampling" => SamplingQueries.queries
    case "format" => FormatQueries.queries
    case "stat" => StatQueries.queries
    case "upsert" => UpsertQueries.queries
    case "yql" => YqlTextQueries.queries
  }

  /** The slice: every reference query (q*, the paper's query shapes), five
    * YQL-text queries (y*: projection, exclusion join, federation, joins,
    * modules), and one query each from the dedup, corpus and stat modules
    * (d1, the roadmap target v2, x1). Sorted by (module order, name).
    */
  val Slice: Seq[(String, String)] = {
    val named = Seq(
      "dedup" -> "d1_exact_dedup", "corpus" -> "v2_decontaminate", "stat" -> "x1_moments",
      "yql" -> "y1_yql_project", "yql" -> "y2_yql_exclusion", "yql" -> "y3_yql_federation",
      "yql" -> "y9_yql_joins", "yql" -> "y14_yql_modules")
    val all = ReferenceQueries.queries.keys.map("reference" -> _) ++ named
    all.toSeq.distinct.sortBy { case (m, n) => (Modules.indexOf(m), n) }
  }
}
