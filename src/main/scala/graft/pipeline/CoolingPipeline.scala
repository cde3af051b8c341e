package graft.pipeline

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Yql
import graft.operators.ExclusionJoin
import graft.sources.{ColdStore, PaymentsPartition, PaymentsSource, YearBucketedStore}

/** The reference's whole DAG as one Spark driver program (SURVEY.md §2.9,
  * §3.1): per run, move one year of `payments` from the hot store to
  * Hive-partitioned parquet, verify the copy with the exclusion-join
  * reconciliation, and only then drop the source partitions and advance the
  * watermark.
  *
  *   delete target partition (K2, folded into dynamic overwrite)
  *   → export window (Q1: yq_dag.py:65-74)
  *   → reconcile (Q2: yq_dag.py:82-95) == 0        (C2 branch)
  *   → drop source partitions (K3: yq_dag.py:106-122)
  *   → advance watermark (C4: yq_dag.py:124-128)
  *
  * Crash-safety = the reference's own story: export is idempotent
  * (partition overwrite), reconcile is read-only, and the watermark moves
  * last. A crash before the drop re-runs the same window to the same end
  * state, and a crash after the whole drop but before the advance is
  * drained by [[runAll]], which advances past a window with no hot
  * partitions. A crash part-way through the drop is NOT safe: the drop
  * deletes month by month (the reference's PL/pgSQL loop is one
  * transactional DDL, yq_dag.py:107-118), and the re-run re-exports only
  * the surviving months over the year's cold copy, losing the dropped ones
  * from both tiers. A failed reconciliation throws (C3) *before* anything
  * destructive, exactly like `raise ValueError('Data are not equal!')`
  * (yq_dag.py:28-29).
  *
  * Both hot reads of a run go through [[PaymentsSource.scanWindow]], so
  * they touch only the window's partitions; the exact `payment_date`
  * filter is still applied on top.
  */
final class CoolingPipeline(
    val source: PaymentsSource,
    val cold: ColdStore,
    val watermark: Watermark) {

  /** The 6-column reconciliation key (yq_dag.py:93-94): NOT NULL columns
    * only — nullable `descr` and the truncated `payment_date` are
    * deliberately excluded; `amount` is a DOUBLE compared bit-exactly.
    */
  val reconcileKeys: Seq[String] = CoolingPipeline.reconcileKeys

  private def windowFilter(df: DataFrame, start: LocalDate, end: LocalDate): DataFrame =
    df.filter(col("payment_date") >= lit(java.sql.Date.valueOf(start)) &&
      col("payment_date") < lit(java.sql.Date.valueOf(end)))

  /** Q1 "load" projection (yq_dag.py:65-74): unwrap the required id,
    * second-truncate the timestamp (YQL Datetime cast), derive the
    * partition year. Filter + projection reach the source scan.
    */
  def exportFrame(spark: SparkSession, start: LocalDate, end: LocalDate): DataFrame =
    windowFilter(source.scanWindow(spark, start, end), start, end)
      .select( // every column re-aliased: JDBC sources may surface
        Yql.unwrap(col("id")).as("id"), // dialect-uppercased names (Derby)
        col("doc_num").as("doc_num"),
        col("accdt").as("accdt"),
        col("acckt").as("acckt"),
        col("descr").as("descr"),
        col("amount").as("amount"),
        col("state").as("state"),
        Yql.toDatetime(col("payment_date")).as("payment_date"))
      .withColumn("payment_year", Yql.unwrap(Yql.paymentYear(col("payment_date"))))

  /** Q2 "check" (yq_dag.py:82-95): exclusion-join cardinality across the
    * two stores over the same window; 0 ⇔ the copy is faithful.
    *
    * Store-layout detection: when BOTH stores are year-co-bucketed
    * catalog tables ([[graft.sources.YearBucketedStore]], the lake-to-lake
    * 100 TB deployment) and the window is one whole year, the gate takes
    * [[ExclusionJoin.countBucketed]] — zero data Exchange; the shuffle was
    * paid once, at write time. Any other layout (the reference's live-PG
    * hot store can't be bucket-aligned) takes the shuffle plan, which is
    * the correct default there ([[reconcileFrame]]).
    */
  def reconcile(spark: SparkSession, start: LocalDate, end: LocalDate): Long =
    reconcileCounts(spark, start, end).mismatched

  /** The reconcile's mismatch count and the cold side's row count in the
    * window, from one pass.
    */
  private def reconcileCounts(spark: SparkSession, start: LocalDate,
                              end: LocalDate): ExclusionJoin.Counts =
    bucketedPair(spark, start, end) match {
      case Some((hotTable, coldTable)) =>
        ExclusionJoin.countsBucketed(spark, hotTable, coldTable, reconcileKeys)
      case None => ExclusionJoin.Counts.of(reconcileFrame(spark, start, end))
    }

  /** The unbucketed gate as a 1-row frame `(n_mismatch, n_right)`.
    * Exposed so specs can assert the plan it executes.
    */
  def reconcileFrame(spark: SparkSession, start: LocalDate, end: LocalDate): DataFrame = {
    val keys = reconcileKeys.map(col)
    ExclusionJoin.countFrame(
      windowFilter(source.scanWindow(spark, start, end), start, end).select(keys: _*),
      windowFilter(cold.scan(spark), start, end).select(keys: _*),
      reconcileKeys)
  }

  /** The co-bucketed table pair for this window, when the layout supports
    * the exchange-free gate: both stores year-bucketed with the SAME
    * bucket count, a whole-year window, both year tables present. Exposed
    * so specs can assert the plan the gate executes.
    */
  def bucketedPair(spark: SparkSession, start: LocalDate,
                   end: LocalDate): Option[(String, String)] = (source, cold) match {
    case (h: YearBucketedStore, c: YearBucketedStore)
        if h.buckets == c.buckets &&
          start.getDayOfYear == 1 && end == start.plusYears(1) &&
          spark.catalog.tableExists(h.yearTable(start.getYear)) &&
          spark.catalog.tableExists(c.yearTable(start.getYear)) =>
      Some((h.yearTable(start.getYear), c.yearTable(start.getYear)))
    case _ => None
  }

  /** One DAG run. Returns (year, rowsExported, diffCount).
    *
    * `rowsExported` is the reconcile's cold-side row count over the window,
    * taken in the same pass as the mismatch count; with the mismatch at 0
    * it equals the hot rows exported. No job re-counts the cold year after
    * the drop.
    */
  def runOnce(spark: SparkSession): (Int, Long, Long) = {
    val start = watermark.value
    val end = watermark.windowEnd
    val year = start.getYear

    // Q1 export — dynamic partition overwrite subsumes the delete step.
    cold.exportYear(exportFrame(spark, start, end))

    // Q2 reconcile, C2 branch, C3 fail.
    val checked = reconcileCounts(spark, start, end)
    val diff = checked.mismatched
    if (diff != 0L)
      throw new IllegalStateException(
        s"Data are not equal! exclusion-join count for $year = $diff; source partitions retained")

    // K3 destructive drop, then C4 watermark advance — in that order.
    val parts = source.listPartitions(spark, PaymentsPartition.yearPrefix(year))
    source.dropPartitions(spark, parts)
    watermark.advance()

    (year, checked.rightRows, diff)
  }

  /** C5: drive runs until the hot store is exhausted — the driver-loop
    * form of the reference's hourly single-flight schedule
    * (yq_dag.py:45-52). [[CoolingStream]] wraps this in the genuine
    * Trigger.AvailableNow streaming runner. `onRun` fires after each
    * completed year (observability hook; also how CoolingStreamSpec
    * injects a mid-run crash).
    *
    * The loop stops only when no hot partition holds dates at or after the
    * watermark. A window with no hot partitions (its drop finished before
    * a crash prevented the advance) is skipped by advancing the watermark;
    * a skip counts against `maxRuns` but returns no run.
    */
  def runAll(spark: SparkSession, maxRuns: Int = 100,
      onRun: ((Int, Long, Long)) => Unit = _ => ()): Seq[(Int, Long, Long)] = {
    val out = Seq.newBuilder[(Int, Long, Long)]
    var more = true
    var n = 0
    while (more && n < maxRuns) {
      val from = watermark.value
      val pending = source.listPartitions(spark, PaymentsPartition.Prefix)
        .flatMap(PaymentsPartition.span).filter(_._2.isAfter(from))
      if (pending.isEmpty) more = false
      else if (!pending.exists(_._1.isBefore(watermark.windowEnd))) watermark.advance()
      else { val r = runOnce(spark); out += r; onRun(r) }
      n += 1
    }
    out.result()
  }

  /** Q3 "federation analytics" (README_en.md:239-246): union the hot scan
    * and the cold scan with source tags, count per (year, src), order.
    */
  def federationAnalytics(spark: SparkSession): DataFrame = {
    val hot = source.scan(spark)
      .select(col("id"), col("payment_date").as("pdate"), lit("pg").as("src"))
    val coldSide = cold.scan(spark)
      .select(col("id"), col("payment_date").as("pdate"), lit("s3").as("src"))
    // the result has at most two rows per year: sort it in one task
    // instead of a range-partitioned orderBy (a sampling job plus a shuffle)
    hot.unionAll(coldSide)
      .groupBy(year(col("pdate")).as("dyear"), col("src"))
      .agg(count(lit(1)).as("cnt"))
      .coalesce(1)
      .sortWithinPartitions("dyear", "src")
  }
}

object CoolingPipeline {
  /** The 6-column reconciliation key (yq_dag.py:93-94) — shared by the
    * per-run reconcile and the bucketed variant
    * ([[graft.operators.ExclusionJoin.countBucketed]]): stores co-bucketed
    * on `id` (the PK member) reconcile with zero Exchange.
    */
  val reconcileKeys: Seq[String] = Seq("id", "doc_num", "accdt", "acckt", "amount", "state")
}
