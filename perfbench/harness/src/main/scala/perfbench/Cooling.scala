package perfbench

import java.time.{LocalDate, YearMonth}

import scala.jdk.CollectionConverters._
import scala.util.{Success, Try}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{CoolingPipeline, Watermark}
import graft.sources.{ColdStore, ParquetPaymentsSource}

import Recorder.timed

/** The `cool_parquet` workload: the reference DAG (export one year to
  * Hive-partitioned parquet, reconcile with the exclusion join, drop the
  * source partitions, advance the watermark) over a parquet hot store, each
  * run followed by the federated Q3 query.
  *
  * One cycle = restore the hot store from the seeded generator (a set-up
  * sample, outside the op timings), then `Runs` cooling runs, each followed
  * by Q3. Every run's (year, rows exported, diff) and every Q3 grid is
  * checked against golden values that depend only on the calendar and the
  * row cadence, never on the seed.
  */
final class Cooling(spark: SparkSession, rec: Recorder, cfg: Config) {
  import Cooling._

  private val start = LocalDate.of(2020, 1, 1)
  private val monthsSeq: Seq[YearMonth] = (0 until Months).map(i => YearMonth.from(start).plusMonths(i))
  private def rowsIn(m: YearMonth): Long = m.lengthOfMonth().toLong * 24 * 60 / Step
  private val yearRows: Map[Int, Long] =
    monthsSeq.groupBy(_.getYear).map { case (y, ms) => y -> ms.map(rowsIn).sum }
  private val years: Seq[Int] = yearRows.keys.toSeq.sorted

  /** Golden Q3 grid after `cooled` runs: cooled years in the cold tier
    * ("s3"), the rest hot ("pg"), ordered by year.
    */
  private def goldenGrid(cooled: Int): Seq[(Int, String, Long)] =
    years.zipWithIndex.map { case (y, i) => (y, if (i < cooled) "s3" else "pg", yearRows(y)) }

  private val root = s"${cfg.work}/cool"

  /** Seeded `payments` in the layout of db_init.sql: one row per `Step`
    * minutes from 2020-01-01, monthly partition name `payments_yYYYYmMM`;
    * account draws and cents come from the seed.
    */
  private def payments(): DataFrame = {
    val endEx = to_timestamp(lit(start.plusMonths(Months).toString))
    spark.range(0, Months.toLong * 31 * 24 * 60 / Step)
      .withColumn("payment_date",
        expr(s"timestampadd(MINUTE, cast(id * $Step as int), to_timestamp('$start 00:00:00'))"))
      .where(col("payment_date") < endEx)
      .withColumn("id", col("id") + 1)
      .withColumn("doc_num", col("id").cast("string"))
      .withColumn("accdt", pmod(xxhash64(lit(cfg.seed), col("id")), lit(AccountPool)))
      .withColumn("acckt", lit(AccountPool) - col("accdt"))
      .withColumn("amount", col("accdt").cast("double") +
        pmod(xxhash64(lit(cfg.seed), lit("cents"), col("id")), lit(100L)) / lit(100.0))
      .withColumn("descr", concat(lit("payment "), col("id").cast("string")))
      .withColumn("state", lit("done"))
      .withColumn("pmonth", concat(lit("payments_y"), year(col("payment_date")), lit("m"),
        lpad(month(col("payment_date")).cast("string"), 2, "0")))
      .select("id", "doc_num", "accdt", "acckt", "amount", "payment_date", "descr", "state", "pmonth")
  }

  /** Fresh hot store, empty cold store, watermark at 2020-01-01. */
  private def restore(): CoolingPipeline = {
    FileUtils.deleteDirectory(new java.io.File(root))
    val cold = if (cfg.inject == "corrupt-cold") new CorruptingColdStore(s"$root/cold") else new ColdStore(s"$root/cold")
    payments().write.partitionBy("pmonth").parquet(s"$root/hot")
    val wm = new Watermark(s"$root/wm.json")
    wm.initIfAbsent(start)
    new CoolingPipeline(new ParquetPaymentsSource(s"$root/hot"), cold, wm)
  }

  private def q3Grid(df: DataFrame): Seq[(Int, String, Long)] =
    df.collect().toSeq.map(r => (r.getInt(0), r.getString(1), r.getLong(2)))

  /** One cooling run, either as the program's own `runOnce` (untraced) or
    * replayed call by call with a span around each public call `runOnce`
    * makes (traced). Returns (year, rows exported, diff).
    */
  private def coolingRun(p: CoolingPipeline): (Int, Long, Long) = {
    val t = rec.tracer
    if (!t.isEnabled) p.runOnce(spark)
    else t.op("run") {
      val from = p.watermark.value
      val to = p.watermark.windowEnd
      val y = from.getYear
      t.span("export") { p.cold.exportYear(p.exportFrame(spark, from, to)) }
      val diff = t.span("reconcile") { p.reconcile(spark, from, to) }
      if (diff != 0L)
        throw new IllegalStateException(s"Data are not equal! exclusion-join count for $y = $diff")
      val parts = t.span("list") { p.source.listPartitions(spark, s"payments_y$y") }
      t.span("drop") { p.source.dropPartitions(spark, parts) }
      t.span("advance") { p.watermark.advance() }
      val exported = t.span("report_count") {
        p.cold.scan(spark).where(col("payment_year") === y).count()
      }
      t.note("rows_cooled", exported.toDouble)
      (y, exported, diff)
    }
  }

  private def q3(p: CoolingPipeline): Seq[(Int, String, Long)] = {
    val t = rec.tracer
    if (!t.isEnabled) q3Grid(p.federationAnalytics(spark))
    else t.op("q3") {
      val df = t.span("q3.build") { p.federationAnalytics(spark) }
      t.span("q3.plan") { df.queryExecution.executedPlan }
      t.span("q3.exec") { q3Grid(df) }
    }
  }

  /** One cycle; returns false when an op failed (the rest is skipped). */
  private def cycle(p: CoolingPipeline, record: Boolean): Boolean = {
    var cycleS = 0.0
    var ok = true
    var r = 0
    while (ok && r < Runs) {
      val year = years(r)
      val (res, s) = timed(Try(coolingRun(p)))
      ok = res == Success((year, yearRows(year), 0L))
      if (!ok) rec.error(s"cooling run $year: ${res.fold(e => s"${e.getClass.getSimpleName}: ${e.getMessage}", _.toString)}")
      if (record) rec.op("cool_run", s"run$r", s, ok, yearRows(year))
      cycleS += s
      if (ok) {
        if (rec.tracer.isEnabled) {
          // the year's cold files, walked after the traced run has closed
          val written = parquetFiles(s"${p.cold.base}/payment_year=$year")
          rec.tracer.noteLastOp("cold_files", written.size.toDouble)
          rec.tracer.noteLastOp("cold_bytes", written.map(_.length).sum.toDouble)
        }
        val (grid, qs) = timed(Try(q3(p)))
        ok = grid == Success(goldenGrid(r + 1))
        if (!ok) rec.error(s"q3 after run $r: $grid")
        if (record) rec.op("q3", s"q3_after_run$r", qs, ok)
        cycleS += qs
      }
      r += 1
    }
    if (ok && record) rec.cycle(cycleS)
    ok
  }

  def run(): Unit = {
    rec.value("rows_total", yearRows.values.sum.toDouble)
    rec.value("rows_per_cycle", years.take(Runs).map(yearRows).sum.toDouble)
    def restored(): CoolingPipeline = {
      val (p, s) = timed(restore())
      rec.setup(s)
      p
    }
    // warm-up: one full, unrecorded cycle in the fresh JVM, so class loading,
    // code generation and most JIT work happen before the measured cycles
    val (_, w) = timed(cycle(restored(), record = false))
    rec.value("warmup_s", w)
    rec.measure(cfg)(cycle(restored(), record = true))
  }
}

object Cooling {
  /** Hot-store span in months (2020-01 .. 2025-01) and cooling runs per cycle. */
  val Months = 61
  val Runs = 3
  /** Row cadence: one payment every `Step` minutes (db_init.sql: 1). */
  val Step = 10
  val AccountPool = 1000L

  def parquetFiles(dir: String): Seq[java.io.File] = {
    val d = new java.io.File(dir)
    if (!d.isDirectory) Nil else FileUtils.listFiles(d, Array("parquet"), true).asScala.toSeq
  }
}

/** The negative check's cold store: after each export it deletes one data
  * file of the year just written, so the reconciliation must see a
  * difference and the run must fail before anything is dropped.
  */
final class CorruptingColdStore(base: String) extends ColdStore(base) {
  override def exportYear(df: DataFrame): Unit = {
    super.exportYear(df)
    Cooling.parquetFiles(base).sortBy(_.lastModified).lastOption.foreach(_.delete())
  }
}
