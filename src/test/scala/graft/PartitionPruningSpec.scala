package graft

import java.nio.file.Files
import java.time.LocalDate
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.pipeline.{CoolingPipeline, PaymentsGenerator, Watermark}
import graft.sources.{ColdStore, ParquetPaymentsSource, PaymentsPartition}

/** PartitionYearPruningRule: a payment_date window on the cold store must
  * prune to the covered payment_year partitions — and change nothing else.
  * On the hot side, a cooling run's scans read only the window's month
  * partitions, and the run launches no job beyond its export and its
  * reconcile.
  */
class PartitionPruningSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = SparkTestSession.spark

  /** Four hot months across a year boundary (2020-11 .. 2021-02),
    * watermark at 2020-01-01: each year window holds two of them.
    */
  private lazy val fourMonths: CoolingPipeline = {
    val root = Files.createTempDirectory("graft-prune-hot").toString
    PaymentsGenerator.writeHotStore(spark, s"$root/hot", "2020-11-01", months = 4)
    val wm = new Watermark(s"$root/wm.json")
    wm.initIfAbsent(LocalDate.parse("2020-01-01"))
    new CoolingPipeline(new ParquetPaymentsSource(s"$root/hot"), new ColdStore(s"$root/cold"), wm)
  }

  private val from2021 = LocalDate.parse("2021-01-01")
  private val to2021 = LocalDate.parse("2022-01-01")

  /** The hot-store month directories a frame's file scans list. */
  private def hotMonths(df: DataFrame): Set[String] =
    df.queryExecution.sparkPlan.collectLeaves().collect {
      case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.getName)
    }.flatten.filter(_.startsWith("pmonth=")).toSet

  test("partition names map to the dates they hold; other names to none") {
    def d(s: String) = LocalDate.parse(s)
    assert(PaymentsPartition.span("payments_y2020m02") == Some((d("2020-02-01"), d("2020-03-01"))))
    assert(PaymentsPartition.span("PAYMENTS_Y2020M12") == Some((d("2020-12-01"), d("2021-01-01"))))
    assert(PaymentsPartition.span("payments_y2021") == Some((d("2021-01-01"), d("2022-01-01"))))
    Seq("payments_y2020m13", "payments_y2020m00", "payments", "pmonth=payments_y2020m01")
      .foreach(n => assert(PaymentsPartition.span(n).isEmpty, n))
    assert(PaymentsPartition.overlapping(
      Seq("payments_y2020m12", "payments_y2021m01", "payments_y2021m12", "payments_y2022m01"),
      from2021, to2021) == Seq("payments_y2021m01", "payments_y2021m12"))
  }

  test("export and reconcile hot scans list only the window's months") {
    val p = fourMonths
    val window = Set("pmonth=payments_y2021m01", "pmonth=payments_y2021m02")
    val export = p.exportFrame(spark, from2021, to2021)
    assert(hotMonths(export) == window)
    p.cold.exportYear(export)
    val gate = p.reconcileFrame(spark, from2021, to2021)
    assert(hotMonths(gate) == window)
    val r = gate.head
    assert((r.getLong(0), r.getLong(1)) == (0L, (31L + 28L) * 24 * 60))
  }

  test("the unbucketed reconcile plan shuffles each side twice") {
    val p = fourMonths
    p.cold.exportYear(p.exportFrame(spark, from2021, to2021))
    val gate = p.reconcileFrame(spark, from2021, to2021)
    assert(gate.head.getLong(0) == 0L)
    val exchanges = collect(gate.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }
    // per side: the key aggregation's Exchange, then the full outer join's,
    // because the join normalises its DOUBLE key (`amount`, NaN and -0.0)
    // and so does not reuse the aggregation's partitioning; the rest is
    // the 1-row rollup
    assert(exchanges.count(_.isInstanceOf[HashPartitioning]) == 4,
      s"expected four hash Exchanges:\n${gate.queryExecution.executedPlan}")
  }

  test("an untraced runOnce on the parquet store launches 7 jobs") {
    val p = fourMonths
    val sc = spark.sparkContext
    val key = "graft.test.tag"
    val tags = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        tags.add(Option(e.properties).flatMap(q => Option(q.getProperty(key))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "runOnce")
      val run = try p.runOnce(spark) finally sc.setLocalProperty(key, null)
      assert(run == (2020, (30L + 31L) * 24 * 60, 0L))
      // the bus delivers events in order: once this marker job's start is
      // seen, so is the start of every job runOnce launched
      sc.setLocalProperty(key, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      eventually(timeout(30.seconds)) { assert(tags.contains("marker")) }
      // export 1 (the write) + reconcile 6 (four hash shuffles, the
      // rollup's single-partition shuffle, the result)
      assert(tags.asScala.count(_ == "runOnce") == 7)
    } finally sc.removeSparkListener(listener)
  }

  private lazy val cold: ColdStore = {
    val root = Files.createTempDirectory("graft-prune").toString
    PaymentsGenerator.writeHotStore(spark, s"$root/hot", "2020-01-01", months = 25) // 2020,2021,2022-01
    val wm = new Watermark(s"$root/wm.json")
    wm.initIfAbsent(LocalDate.parse("2020-01-01"))
    val p = new CoolingPipeline(new ParquetPaymentsSource(s"$root/hot"), new ColdStore(s"$root/cold"), wm)
    p.runOnce(spark); p.runOnce(spark); p.runOnce(spark)
    p.cold
  }

  /** Just the `PartitionFilters: [...]` segments, not whole FileScan lines
    * (those also list `payment_year` as an output column).
    */
  private def partitionFilters(plan: String): String =
    "PartitionFilters: \\[[^\\]]*\\]".r.findAllIn(plan).mkString("; ")

  private def windowed = cold.scan(spark)
    .filter(col("payment_date") >= lit(java.sql.Timestamp.valueOf("2021-01-01 00:00:00")) &&
      col("payment_date") < lit(java.sql.Timestamp.valueOf("2022-01-01 00:00:00")))

  test("date-window filter on the cold store prunes to one payment_year partition") {
    val df = windowed
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n")
    assert(scanLine.contains("payment_year"), s"expected payment_year partition filter in:\n$plan")
    // one partition dir read, not three
    val filesRead = df.queryExecution.executedPlan.collectLeaves()
      .map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
    val allFiles = { val d = cold.scan(spark); d.collect(); d.queryExecution.executedPlan.collectLeaves()
      .map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum }
    assert(filesRead < allFiles, s"pruned scan read $filesRead files, full scan $allFiles")
  }

  test("pruning preserves results exactly") {
    assert(windowed.count() == 525600L) // 2021, common year
    // the derived predicate must not fire when payment_year is already constrained
    val explicit = cold.scan(spark).filter(col("payment_year") === 2021)
    assert(explicit.count() == 525600L)
  }

  test("date bounds under OR must NOT derive a year range (regression: disjunct drop)") {
    val win = col("payment_date") >= lit(java.sql.Timestamp.valueOf("2021-01-01 00:00:00")) &&
      col("payment_date") < lit(java.sql.Timestamp.valueOf("2022-01-01 00:00:00"))
    val orFilter = cold.scan(spark).filter(win || col("amount") > lit(500.0))
    // oracle decomposition: window rows + high-amount rows outside the window
    // (neither branch lets the rule harvest bounds: the first has no amount
    // disjunct, the second has payment_date only under NOT)
    val inWin = cold.scan(spark).filter(win).count()
    val outHi = cold.scan(spark).filter(!win && col("amount") > lit(500.0)).count()
    assert(orFilter.count() == inWin + outHi,
      s"OR-filter dropped rows: got ${orFilter.count()}, expected ${inWin + outHi}")
    // and the plan must not contain a derived payment_year partition filter
    orFilter.collect()
    val planStr = orFilter.queryExecution.executedPlan.toString
    val pf = partitionFilters(planStr)
    assert(!pf.contains("payment_year"), s"unsound derived partition filter in: $pf")
  }

  test("date bounds in a conjunct alongside an OR conjunct still prune (sound case)") {
    val win = col("payment_date") >= lit(java.sql.Timestamp.valueOf("2021-01-01 00:00:00")) &&
      col("payment_date") < lit(java.sql.Timestamp.valueOf("2022-01-01 00:00:00"))
    // cond = window AND (amount > 500 OR state = 'x'): window is a top-level
    // conjunct, so the year range is implied and pruning is sound
    val df = cold.scan(spark).filter(win && (col("amount") > lit(500.0) || col("state") === "x"))
    df.collect()
    val planStr = df.queryExecution.executedPlan.toString
    val pf = partitionFilters(planStr)
    assert(pf.contains("payment_year"), s"expected payment_year pruning in:\n$planStr")
    val oracle = cold.scan(spark).filter(col("payment_year") === 2021)
      .filter(col("amount") > lit(500.0) || col("state") === "x").count()
    assert(df.count() == oracle)
  }
}
