package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.sources.PaymentsPartition

/** Seeded Spark port of the reference's data generator
  * (/root/reference/src/sql/db_init.sql:40-68): one `payments` row per
  * minute across a month span, account pairs drawn from a pool, plus the
  * 10,001-row `accounts` table (db_init.sql:5-14). FIXTURES.md §A pins the
  * column semantics.
  *
  * Two departures from the reference, both deliberate (SURVEY.md §5.1):
  *  - `random()` is replaced by a hash of the row id, so values (not just
  *    cardinalities) are reproducible, and independent of Spark's
  *    partitioning of the range — `rand(seed)` is only stable for a fixed
  *    partition layout.
  *  - generation is a distributed `spark.range` over minutes (S6/S7), not a
  *    PL/pgSQL loop: at 100 TB-scale row counts this parallelizes linearly.
  */
object PaymentsGenerator {

  val AccountPool = 1000L // src/tf/variables.tf:22-26 default

  /** `payments` rows for `[start, start + months)`, one per minute. */
  def payments(spark: SparkSession, startIso: String, months: Int): DataFrame = {
    val endEx = add_months(to_date(lit(startIso)), months).cast("timestamp")
    val minutes = spark.range(0, months.toLong * 31 * 24 * 60) // upper bound; filtered below
    minutes
      .withColumn("payment_date",
        expr(s"timestampadd(MINUTE, cast(id as int), to_timestamp('$startIso 00:00:00'))"))
      .where(col("payment_date") < endEx)
      .withColumn("id", col("id") + 1)
      .withColumn("doc_num", col("id").cast("string"))
      .withColumn("accdt", pmod(Text.md5Long(concat(lit("acc:"), col("id"))), lit(AccountPool)))
      .withColumn("acckt", lit(AccountPool) - col("accdt"))
      .withColumn("amount", col("accdt").cast("double") + col("id") % 100 / lit(100.0))
      .withColumn("descr", concat(lit("payment "), col("id").cast("string")))
      .withColumn("state", lit("done"))
      .select("id", "doc_num", "accdt", "acckt", "amount", "payment_date", "descr", "state")
  }

  /** `accounts` (db_init.sql:5-14): id 0..10000, zero-padded num. */
  def accounts(spark: SparkSession): DataFrame =
    spark.range(0, 10001).toDF("id")
      .withColumn("num", lpad(col("id").cast("string"), 20, "0"))
      .withColumn("saldo", lit(0).cast("decimal(10,2)"))
      .withColumn("open_date", to_timestamp(lit("2020-01-01 00:00:00")))

  /** Materialize the hot store in the reference's physical layout: monthly
    * partitions `pmonth=yYYYYmMM/` (db_init.sql:57-59 naming).
    */
  def writeHotStore(spark: SparkSession, base: String, startIso: String, months: Int): Unit =
    payments(spark, startIso, months)
      .withColumn("pmonth", PaymentsPartition.column(col("payment_date")))
      .write.mode(SaveMode.Overwrite).partitionBy("pmonth").parquet(base)
}
