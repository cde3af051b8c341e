package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.sources.Tables

/** Statistical profiling and slowly-changing-dimension construction.
  *
  * Variance/stddev are NOT computed with the built-in `stddev` — engines
  * disagree in the last float bits because the streaming (Welford)
  * accumulation order differs per partitioning. The deterministic scalable
  * form is exact integer moments: Σx and Σx² in DECIMAL(38,0) (one
  * partial-aggregated pass, order-independent), then the double-precision
  * moment formula applied once to exact sums — same single-scan cost, bit-
  * stable on any engine and any partition count.
  */
object StatQueries {

  /** x1: per-priority spend distribution from exact moments — mean,
    * population variance and stddev derived from Σcents / Σcents².
    *
    * The whole moment calculation stays in exact integer arithmetic:
    * var = ⌊(n·Σx² − (Σx)²) / n²⌋ computed in DECIMAL(38,0) (Spark) /
    * HUGEINT (DuckDB). Σx² alone is ~10²⁰ at sf0.1 — past double's exact
    * range, where the two engines' decimal→double casts round DIFFERENTLY
    * (found as a real sf0.1 hash mismatch). Only values < 2⁵³ (Σx, the
    * floored variance) ever cross into double, so every conversion is
    * exact and sqrt sees identical input bits.
    */
  def x1Moments(spark: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast("long")
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        sum(cents.cast("decimal(38,0)")).as("s1"),
        sum((cents * cents).cast("decimal(38,0)")).as("s2"))
      .withColumn("var_cents2", expr(
        "CAST((CAST(n AS DECIMAL(38,0)) * s2 - s1 * s1) div (CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))) AS BIGINT)"))
      .select(
        col("o_orderpriority"), col("n"),
        col("s1").cast("double").as("sum_cents"),
        (col("s1").cast("double") / col("n")).as("mean_cents"),
        col("var_cents2"),
        sqrt(col("var_cents2").cast("double")).as("sd_cents"))
      .orderBy("o_orderpriority")
  }

  val x1Oracle: String =
    """WITH m AS (
      |  SELECT o_orderpriority, count(1) AS n,
      |         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS s1,
      |         sum(CAST(round(o_totalprice * 100) AS BIGINT)
      |             * CAST(round(o_totalprice * 100) AS BIGINT)) AS s2
      |  FROM orders GROUP BY 1)
      |SELECT o_orderpriority, n,
      |       CAST(s1 AS DOUBLE) AS sum_cents,
      |       CAST(s1 AS DOUBLE) / n AS mean_cents,
      |       CAST((CAST(n AS HUGEINT) * s2 - s1 * s1) // (CAST(n AS HUGEINT) * n) AS BIGINT) AS var_cents2,
      |       sqrt(CAST(CAST((CAST(n AS HUGEINT) * s2 - s1 * s1) // (CAST(n AS HUGEINT) * n) AS BIGINT) AS DOUBLE)) AS sd_cents
      |FROM m ORDER BY o_orderpriority""".stripMargin

  /** x2: SCD-type-2 dimension build from a changelog — each user's event
    * stream becomes validity intervals [valid_from, valid_to) via LEAD,
    * open tail marked current. One shuffle on the key; this is how a
    * 100 TB changelog compacts into a point-in-time dimension.
    */
  def x2Scd2(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("valid_from"), col("event_id"))
    Tables.events(spark, dir)
      .where(col("event_type").isin("signup", "purchase"))
      .select(col("user_id"), col("event_id"), col("ts").as("valid_from"),
        col("event_type").as("state"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .orderBy("user_id", "valid_from", "event_id")
  }

  val x2Oracle: String =
    """SELECT user_id, event_id, ts AS valid_from, event_type AS state,
      |       lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
      |       lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
      |FROM events
      |WHERE event_type IN ('signup', 'purchase')
      |ORDER BY user_id, valid_from, event_id""".stripMargin

  /** x3: exact rank-based percentiles (p50/p90/p99) per priority — the
    * r = ceil(p·n) smallest value. Engines' `percentile_cont`
    * implementations interpolate in different float orders, so the
    * INTEGER rank selection is the cross-engine-stable percentile.
    * Selection runs over the per-(group, value) histogram via
    * [[cumBelow]]'s two-phase distributed prefix sum — the first cut
    * ranked ROWS with a window partitioned by the 5 priorities, i.e.
    * five data-sized single-task sorts (exactly x16's original
    * scale-killer shape); the histogram form's only ordered windows are
    * value-domain-bounded. The rank K = ceil(p·n) is evaluated in IEEE
    * doubles on BOTH engines (matching the oracle's `ceil(0.9 * n)`
    * bit-for-bit); the value at rank K is the v whose cumulative count
    * straddles K (cum < K ≤ cum + cnt) — identical to the row-ranked
    * selection for any tie pattern.
    */
  /** Per-(priority, cents) value histogram — the shared input of x3 and
    * x18 (structurally identical in both, so Spark's cache manager serves
    * both from ONE tracked cache entry across a battery run; x18 alone
    * reads it four times).
    */
  private def priceHistogram(spark: SparkSession, dir: String): DataFrame =
    Materialize.cache(Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("g"),
        round(col("o_totalprice") * 100).cast("long").as("v"))
      .agg(count(lit(1)).as("cnt")))

  def x3Percentiles(spark: SparkSession, dir: String): DataFrame = {
    val perVc = priceHistogram(spark, dir)
    val sizes = perVc.groupBy("g").agg(sum("cnt").as("n"))
    val cum = cumBelow(perVc, Seq("g"), "cnt").join(broadcast(sizes), "g")
    def pick(p: Double) = {
      val k = ceil(lit(p) * col("n")).cast("long")
      max(when(col("cum") < k && col("cum") + col("cnt") >= k, col("v")))
    }
    cum.groupBy(col("g").as("o_orderpriority"))
      .agg(pick(0.5).as("p50_cents"), pick(0.9).as("p90_cents"), pick(0.99).as("p99_cents"))
      .orderBy("o_orderpriority")
  }

  val x3Oracle: String =
    """WITH ranked AS (
      |  SELECT o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT) AS c,
      |         row_number() OVER (PARTITION BY o_orderpriority
      |                            ORDER BY CAST(round(o_totalprice * 100) AS BIGINT), o_orderkey) AS rn,
      |         count(1) OVER (PARTITION BY o_orderpriority) AS n
      |  FROM orders)
      |SELECT o_orderpriority,
      |       CAST(max(CASE WHEN rn = ceil(0.5 * n) THEN c END) AS BIGINT) AS p50_cents,
      |       CAST(max(CASE WHEN rn = ceil(0.9 * n) THEN c END) AS BIGINT) AS p90_cents,
      |       CAST(max(CASE WHEN rn = ceil(0.99 * n) THEN c END) AS BIGINT) AS p99_cents
      |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin

  /** x4: fixed-width histogram of order values (one $1000 bin per row) —
    * the distribution profile a data-quality pass emits. Pure groupBy on a
    * derived bin key: map-side combinable, no sort, no window.
    */
  def x4Histogram(spark: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast("long")
    Tables.orders(spark, dir)
      .groupBy((cents / 100000L).cast("long").as("bin_1k"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("bin_1k")
  }

  val x4Oracle: String =
    """SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 100000 AS bin_1k, count(1) AS cnt
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** x5: sketch percentiles (`percentile_approx` — Greenwald-Khanna
    * summaries, mergeable, constant memory). Complementary to x3's exact
    * histogram selection: x3 shuffles one row per DISTINCT value (fine
    * for bounded value domains like integer cents); the sketch stays
    * constant-size even over unbounded-domain columns and merges in one
    * combinable pass. No DuckDB oracle (sketch internals are
    * engine-specific) — rows-only check; ApproxOpsSpec brackets each
    * estimate between exact neighbor percentiles.
    */
  def x5ApproxPercentilesCore(spark: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast("long")
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .agg(
        percentile_approx(cents, lit(0.5), lit(1000)).as("p50_approx"),
        percentile_approx(cents, lit(0.9), lit(1000)).as("p90_approx"))
      .orderBy("o_orderpriority")
  }

  /** The GATE form of x5: the GK-sketch percentiles' RANK-error contract,
    * hash-checkable. The sketch values themselves are engine-specific, but
    * GK at accuracy 1000 guarantees rank error ≤ n/1000; we re-rank each
    * deterministic estimate against the exact data (one broadcast join of
    * the 5-row sketch output + one aggregation) and emit group size plus a
    * boolean per percentile at 5× the guarantee (0.5% of n, absorbing
    * tie/rank-definition off-by-ones). DuckDB predicts n exactly and the
    * booleans true. Production runs [[x5ApproxPercentilesCore]] — the
    * verification join is gate-only.
    */
  def x5ApproxPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast("long")
    val base = Tables.orders(spark, dir).select(col("o_orderpriority"), cents.as("c"))
    def rankOk(rank: Column, p: Double, n: Column) =
      abs(rank - lit(p) * n) <= ceil(n * lit(0.005)) + lit(1)
    base.join(broadcast(x5ApproxPercentilesCore(spark, dir)), "o_orderpriority")
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("c") <= col("p50_approx"), 1L).otherwise(0L)).as("_r50"),
        sum(when(col("c") <= col("p90_approx"), 1L).otherwise(0L)).as("_r90"))
      .select(col("o_orderpriority"), col("n"),
        rankOk(col("_r50"), 0.5, col("n")).as("p50_rank_ok"),
        rankOk(col("_r90"), 0.9, col("n")).as("p90_rank_ok"))
      .orderBy("o_orderpriority")
  }

  val x5Oracle: String =
    """SELECT o_orderpriority, count(1) AS n, true AS p50_rank_ok, true AS p90_rank_ok
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** x6: one-pass data-quality profile — row count, null counts (on
    * deterministically planted dirt: every 97th status nulled, mimicking a
    * feed regression), distinct cardinality, domain min/max. The shape a
    * 100 TB ingest gate runs before accepting a batch: everything
    * combinable in a single partial-aggregated scan.
    */
  def x6QualityProfile(spark: SparkSession, dir: String): DataFrame = {
    val dirty = Tables.orders(spark, dir)
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 97 === 0, lit(null)).otherwise(col("o_orderstatus")))
    dirty.agg(
      count(lit(1)).as("n_rows"),
      (count(lit(1)) - count(col("o_orderstatus"))).as("null_status"),
      countDistinct(col("o_custkey")).as("n_customers"),
      countDistinct(col("o_orderpriority")).as("n_priorities"),
      min(col("o_orderdate")).as("min_date"),
      max(col("o_orderdate")).as("max_date"))
  }

  val x6Oracle: String =
    """SELECT count(1) AS n_rows,
      |       count(1) - count(CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_orderstatus END) AS null_status,
      |       count(DISTINCT o_custkey) AS n_customers,
      |       count(DISTINCT o_orderpriority) AS n_priorities,
      |       min(o_orderdate) AS min_date,
      |       max(o_orderdate) AS max_date
      |FROM orders""".stripMargin

  /** x7: moment-based outlier flags — orders beyond mean ± 1.5σ of their
    * priority group, where mean/σ come from x1's exact integer moments
    * (both engines derive identical doubles from identical integers, so
    * even the boundary comparisons agree bit-for-bit). The groups frame is
    * tiny → broadcast join back onto the fact scan; one shuffle total.
    */
  def x7Outliers(spark: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast("long")
    val stats = x1Moments(spark, dir)
      .select(col("o_orderpriority"), col("mean_cents"), col("sd_cents"))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), cents.as("c"))
      .join(broadcast(stats), "o_orderpriority")
      .where(col("c").cast("double") > col("mean_cents") + lit(1.5) * col("sd_cents") ||
        col("c").cast("double") < col("mean_cents") - lit(1.5) * col("sd_cents"))
      .select(col("o_orderkey"), col("o_orderpriority"), col("c").as("cents"))
      .orderBy("o_orderkey")
  }

  val x7Oracle: String =
    """WITH m AS (
      |  SELECT o_orderpriority, count(1) AS n,
      |         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS s1,
      |         sum(CAST(round(o_totalprice * 100) AS BIGINT)
      |             * CAST(round(o_totalprice * 100) AS BIGINT)) AS s2
      |  FROM orders GROUP BY 1),
      |stats AS (
      |  SELECT o_orderpriority,
      |         CAST(s1 AS DOUBLE) / n AS mean_cents,
      |         sqrt(CAST(CAST((CAST(n AS HUGEINT) * s2 - s1 * s1) // (CAST(n AS HUGEINT) * n) AS BIGINT) AS DOUBLE)) AS sd_cents
      |  FROM m)
      |SELECT o.o_orderkey, o.o_orderpriority, CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
      |FROM orders o JOIN stats s USING (o_orderpriority)
      |WHERE CAST(CAST(round(o.o_totalprice * 100) AS BIGINT) AS DOUBLE) > s.mean_cents + 1.5 * s.sd_cents
      |   OR CAST(CAST(round(o.o_totalprice * 100) AS BIGINT) AS DOUBLE) < s.mean_cents - 1.5 * s.sd_cents
      |ORDER BY o_orderkey""".stripMargin

  /** x8: snapshot diff — classify rows between two table versions as
    * added / removed / changed via one full-outer join on the key with
    * value fingerprints (the read-side complement of Upsert). The "new"
    * snapshot is the current one with planted drift: every 11th order
    * re-priced, every 13th dropped, 100 synthetic orders added.
    */
  def x8SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast("long")
    val old = Tables.orders(spark, dir).select(col("o_orderkey").as("k"), cents.as("v"))
    val nu = Tables.orders(spark, dir)
      .where(col("o_orderkey") % 13 =!= 0)
      .select(col("o_orderkey").as("k"),
        when(col("o_orderkey") % 11 === 0, cents + 500L).otherwise(cents).as("v"))
      .unionByName(
        Tables.orders(spark, dir)
          .where(col("o_orderkey") % 17 === 0)
          .select((col("o_orderkey") + 90000000L).as("k"), cents.as("v")))
    old.as("o").join(nu.as("n"), col("o.k") === col("n.k"), "full_outer")
      .select(
        when(col("o.k").isNull, "added")
          .when(col("n.k").isNull, "removed")
          .when(col("o.v") =!= col("n.v"), "changed")
          .otherwise("same").as("class"))
      .groupBy("class").agg(count(lit(1)).as("cnt"))
      .orderBy("class")
  }

  val x8Oracle: String =
    """WITH old AS (SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
      |nu AS (
      |  SELECT o_orderkey AS k,
      |         CASE WHEN o_orderkey % 11 = 0 THEN CAST(round(o_totalprice * 100) AS BIGINT) + 500
      |              ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS v
      |  FROM orders WHERE o_orderkey % 13 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + 90000000, CAST(round(o_totalprice * 100) AS BIGINT)
      |  FROM orders WHERE o_orderkey % 17 = 0)
      |SELECT CASE WHEN o.k IS NULL THEN 'added'
      |            WHEN n.k IS NULL THEN 'removed'
      |            WHEN o.v <> n.v THEN 'changed'
      |            ELSE 'same' END AS class,
      |       count(1) AS cnt
      |FROM old o FULL OUTER JOIN nu n ON o.k = n.k
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** x9: distribution drift between two order cohorts (even vs odd keys)
    * as total-variation distance over fixed $50k price bins — the
    * data-drift gate a training pipeline runs between snapshot and
    * refresh. TV = ½·Σ|pᵢ−qᵢ| is bit-stable cross-engine because the
    * whole computation stays integral: counts widen to DECIMAL(20,0)
    * BEFORE the cross-product (so cA·nB can't wrap LongType even at
    * na·nb ≈ 2¹²⁶ — product of two longs always fits decimal(38,0),
    * matching DuckDB's hugeint auto-promotion), |cA·nB − cB·nA| summed
    * in DECIMAL(38,0), ONE double division at the end (every value
    * crossing into double is < 2⁵³ at gate scale, so the cast is exact —
    * the x1 rule). One scan, one bin-keyed agg; same one-pass histogram
    * shape as x4 at any scale.
    */
  def x9TvDrift(spark: SparkSession, dir: String): DataFrame = {
    val binned = Tables.orders(spark, dir).select(
      expr("CAST(round(o_totalprice * 100) AS BIGINT) div 5000000").as("bin"),
      (col("o_orderkey") % 2).as("side"))
    val perBin = binned.groupBy("bin").agg(
      sum(when(col("side") === 0, 1L).otherwise(0L)).as("ca"),
      sum(when(col("side") === 1, 1L).otherwise(0L)).as("cb"))
    val tot = binned.agg(
      sum(when(col("side") === 0, 1L).otherwise(0L)).as("na"),
      sum(when(col("side") === 1, 1L).otherwise(0L)).as("nb"))
    perBin.crossJoin(tot) // 1-row totals, K4-style scalar broadcast
      .agg(
        count(lit(1)).as("n_bins"),
        max("na").as("n_even"),
        max("nb").as("n_odd"),
        sum(abs(col("ca").cast("decimal(20,0)") * col("nb").cast("decimal(20,0)") -
          col("cb").cast("decimal(20,0)") * col("na").cast("decimal(20,0)"))).as("l1"))
      .select(col("n_bins"), col("n_even"), col("n_odd"),
        (col("l1").cast("double") /
          (lit(2.0) * col("n_even") * col("n_odd"))).as("tv_distance"))
  }

  val x9Oracle: String =
    """WITH b AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 5000000 AS bin,
      |         o_orderkey % 2 AS side
      |  FROM orders),
      |p AS (SELECT bin,
      |             sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) ca,
      |             sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) cb
      |      FROM b GROUP BY 1),
      |t AS (SELECT sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) na,
      |             sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) nb
      |      FROM b)
      |SELECT count(1) AS n_bins,
      |       CAST(max(na) AS BIGINT) AS n_even, CAST(max(nb) AS BIGINT) AS n_odd,
      |       CAST(sum(abs(ca * nb - cb * na)) AS DOUBLE) / (2.0 * max(na) * max(nb)) AS tv_distance
      |FROM p, t""".stripMargin

  /** x10: declarative data-quality audit ([[graft.operators.Expectations]])
    * — per-rule violation counts over orders in ONE scan: rule predicates
    * compile into the scan's codegen as conditional sums, the stack to
    * (rule, n) rows is a 1-row explode. The always-on corpus admission
    * monitor; cost at 100 TB = the scan it shares with ingest.
    */
  def x10DqAudit(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Expectations
    import graft.operators.Expectations.Rule
    Expectations.audit(Tables.orders(spark, dir), Seq(
      Rule("date_in_range",
        col("o_orderdate") >= to_timestamp(lit("1992-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1999-01-01"))),
      Rule("key_not_div3", col("o_orderkey") % 3 =!= 0),
      Rule("positive_price", col("o_totalprice") > 0)))
      .orderBy("rule")
  }

  val x10Oracle: String =
    """WITH a AS (
      |  SELECT count(1) AS n_rows,
      |    CAST(sum(CASE WHEN NOT coalesce(o_orderdate >= TIMESTAMP '1992-01-01'
      |                   AND o_orderdate < TIMESTAMP '1999-01-01', false) THEN 1 ELSE 0 END) AS BIGINT) AS v1,
      |    CAST(sum(CASE WHEN NOT coalesce(o_orderkey % 3 <> 0, false) THEN 1 ELSE 0 END) AS BIGINT) AS v2,
      |    CAST(sum(CASE WHEN NOT coalesce(o_totalprice > 0, false) THEN 1 ELSE 0 END) AS BIGINT) AS v3
      |  FROM orders)
      |SELECT 'date_in_range' AS rule, v1 AS n_violations, n_rows FROM a
      |UNION ALL SELECT 'key_not_div3', v2, n_rows FROM a
      |UNION ALL SELECT 'positive_price', v3, n_rows FROM a
      |ORDER BY rule""".stripMargin

  /** x11: Kolmogorov–Smirnov drift between the x9 cohorts — max CDF gap
    * over the same fixed $50k bins: KS = max|cumA/nA − cumB/nB|. The
    * cumulative sums run in a window ORDERED BY bin with no partition —
    * safe HERE because the window input is the per-bin aggregate, whose
    * cardinality is the histogram design (hundreds of bins), not the
    * data; the raw scan still aggregates map-side first. All integral —
    * counts widen to DECIMAL(20,0) before the cross-product (x9 rule:
    * long·long always fits decimal(38,0), mirroring DuckDB's hugeint) —
    * until one final division, exact in double at gate scale (x1 rule).
    */
  def x11KsDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val binned = Tables.orders(spark, dir).select(
      expr("CAST(round(o_totalprice * 100) AS BIGINT) div 5000000").as("bin"),
      (col("o_orderkey") % 2).as("side"))
    val perBin = binned.groupBy("bin").agg(
      sum(when(col("side") === 0, 1L).otherwise(0L)).as("ca"),
      sum(when(col("side") === 1, 1L).otherwise(0L)).as("cb"))
    val w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = perBin
      .withColumn("cuma", sum("ca").over(w))
      .withColumn("cumb", sum("cb").over(w))
    val tot = binned.agg(
      sum(when(col("side") === 0, 1L).otherwise(0L)).as("na"),
      sum(when(col("side") === 1, 1L).otherwise(0L)).as("nb"))
    cum.crossJoin(tot)
      .agg(count(lit(1)).as("n_bins"),
        max(abs(col("cuma").cast("decimal(20,0)") * col("nb").cast("decimal(20,0)") -
          col("cumb").cast("decimal(20,0)") * col("na").cast("decimal(20,0)"))).as("gap"),
        max("na").as("na"), max("nb").as("nb"))
      .select(col("n_bins"),
        (col("gap").cast("double") /
          (col("na").cast("decimal(20,0)") * col("nb").cast("decimal(20,0)")).cast("double"))
          .as("ks_distance"))
  }

  val x11Oracle: String =
    """WITH b AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 5000000 AS bin,
      |         o_orderkey % 2 AS side
      |  FROM orders),
      |p AS (SELECT bin,
      |             sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) ca,
      |             sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) cb
      |      FROM b GROUP BY 1),
      |c AS (SELECT bin,
      |             sum(ca) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) cuma,
      |             sum(cb) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) cumb
      |      FROM p),
      |t AS (SELECT sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) na,
      |             sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) nb
      |      FROM b)
      |SELECT count(1) AS n_bins,
      |       CAST(max(abs(cuma * nb - cumb * na)) AS DOUBLE) / (CAST(max(na) AS DOUBLE) * max(nb)) AS ks_distance
      |FROM c, t""".stripMargin

  /** x12: Population Stability Index between the x9 cohorts — the third
    * standard drift metric next to TV (x9) and KS (x11):
    * `PSI = Σ_bins (p_a − p_b) · ln(p_a / p_b)` with add-one smoothing so
    * an empty bin never reaches `ln(0)`. Cross-engine determinism: counts
    * stay exact integers; each bin contributes ONE double term (two IEEE
    * divisions, one `ln`, one multiply) that is rounded to 9 dp — far
    * below any metrical meaning, far above cross-libm ulp noise — and
    * summed as DECIMAL, which is order-independent, so the shuffle-order-
    * dependent double sum never reaches the hash compare. Scale shape:
    * one groupBy(bin) shuffle on a ~30-key space plus a 1-row scalar
    * broadcast (K4 pattern) — the same plan as x9 at any corpus size.
    */
  def x12PsiDrift(spark: SparkSession, dir: String): DataFrame = {
    val binned = Tables.orders(spark, dir).select(
      expr("CAST(round(o_totalprice * 100) AS BIGINT) div 5000000").as("bin"),
      (col("o_orderkey") % 2).as("side"))
    val perBin = binned.groupBy("bin").agg(
      sum(when(col("side") === 0, 1L).otherwise(0L)).as("ca"),
      sum(when(col("side") === 1, 1L).otherwise(0L)).as("cb"))
    val tot = binned.agg(
      sum(when(col("side") === 0, 1L).otherwise(0L)).as("na"),
      sum(when(col("side") === 1, 1L).otherwise(0L)).as("nb"),
      countDistinct("bin").as("k"))
    perBin.crossJoin(tot) // 1-row totals, K4-style scalar broadcast
      .select(col("k"),
        ((col("ca") + 1).cast("double") / (col("na") + col("k"))).as("pa"),
        ((col("cb") + 1).cast("double") / (col("nb") + col("k"))).as("pb"))
      .select(col("k"),
        round((col("pa") - col("pb")) * log(col("pa") / col("pb")), 9)
          .cast("decimal(18,10)").as("term"))
      .agg(max("k").as("n_bins"), sum("term").cast("double").as("psi"))
  }

  val x12Oracle: String =
    """WITH b AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 5000000 AS bin,
      |         o_orderkey % 2 AS side
      |  FROM orders),
      |p AS (SELECT bin,
      |             sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) ca,
      |             sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) cb
      |      FROM b GROUP BY 1),
      |t AS (SELECT sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) na,
      |             sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) nb,
      |             count(DISTINCT bin) k
      |      FROM b),
      |terms AS (
      |  SELECT k,
      |         CAST(round((CAST(ca + 1 AS DOUBLE) / (na + k) - CAST(cb + 1 AS DOUBLE) / (nb + k))
      |              * ln((CAST(ca + 1 AS DOUBLE) / (na + k)) / (CAST(cb + 1 AS DOUBLE) / (nb + k))), 9)
      |              AS DECIMAL(18,10)) AS term
      |  FROM p, t)
      |SELECT CAST(max(k) AS BIGINT) AS n_bins, CAST(sum(term) AS DOUBLE) AS psi
      |FROM terms""".stripMargin

  /** x13: chi-square homogeneity drift — the remaining standard
    * categorical drift test next to TV (x9), KS (x11), and PSI (x12):
    * are the two populations' priority distributions the same? Per-bin
    * observed-vs-expected terms in doubles over exact integer counts
    * (identical expression shape both engines — correctly-rounded IEEE
    * ops on identical inputs), rounded to 9 decimals and DECIMAL-summed
    * so the total is shuffle-order-independent (the x12 pattern). One
    * scan, one |bins| aggregate, a 1-row totals broadcast.
    */
  def x13ChiSquare(spark: SparkSession, dir: String): DataFrame = {
    val binned = Tables.orders(spark, dir).select(
      col("o_orderpriority").as("bin"), (col("o_orderkey") % 2).as("side"))
    val perBin = binned.groupBy("bin").agg(
      sum(when(col("side") === 0, 1L).otherwise(0L)).as("ca"),
      sum(when(col("side") === 1, 1L).otherwise(0L)).as("cb"))
    val tot = binned.agg(
      sum(when(col("side") === 0, 1L).otherwise(0L)).as("na"),
      sum(when(col("side") === 1, 1L).otherwise(0L)).as("nb"))
    val ea = (col("ca") + col("cb")).cast("double") * col("na") / (col("na") + col("nb"))
    val eb = (col("ca") + col("cb")).cast("double") * col("nb") / (col("na") + col("nb"))
    val termA = (col("ca").cast("double") - ea) * (col("ca").cast("double") - ea) / ea
    val termB = (col("cb").cast("double") - eb) * (col("cb").cast("double") - eb) / eb
    perBin.crossJoin(tot) // 1-row totals, K4-style scalar broadcast
      .select(round(termA + termB, 9).cast("decimal(18,10)").as("term"))
      .agg(count(lit(1)).as("n_bins"), sum(col("term")).cast("double").as("chi2"))
  }

  val x13Oracle: String =
    """WITH b AS (SELECT o_orderpriority AS bin, o_orderkey % 2 AS side FROM orders),
      |p AS (SELECT bin,
      |             sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) ca,
      |             sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) cb
      |      FROM b GROUP BY 1),
      |t AS (SELECT sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) na,
      |             sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) nb
      |      FROM b),
      |terms AS (
      |  SELECT CAST(round(
      |           (CAST(ca AS DOUBLE) - CAST(ca + cb AS DOUBLE) * na / (na + nb))
      |         * (CAST(ca AS DOUBLE) - CAST(ca + cb AS DOUBLE) * na / (na + nb))
      |         / (CAST(ca + cb AS DOUBLE) * na / (na + nb))
      |         + (CAST(cb AS DOUBLE) - CAST(ca + cb AS DOUBLE) * nb / (na + nb))
      |         * (CAST(cb AS DOUBLE) - CAST(ca + cb AS DOUBLE) * nb / (na + nb))
      |         / (CAST(ca + cb AS DOUBLE) * nb / (na + nb)), 9) AS DECIMAL(18,10)) AS term
      |  FROM p, t)
      |SELECT count(1) AS n_bins, CAST(sum(term) AS DOUBLE) AS chi2 FROM terms""".stripMargin

  /** x14: exact Pearson correlation per group — `corr()` on doubles is a
    * sequential float fold (shuffle-order-dependent, never hashable), so
    * the moments are accumulated EXACTLY instead: cents-quantized x/y,
    * integer sums Σx Σy (BIGINT — per-row terms ≤ 10⁷ keep them safe to
    * ~10¹¹ rows per group) and Σxy Σx² Σy² in DECIMAL(38,0) — the per-row
    * products run to ~10¹⁴, so a BIGINT Σxy would overflow silently past
    * ~2·10⁸ rows per group, far below the 100 TB regime; decimal
    * accumulation is exact to 10³⁸. The classic closed form
    * (nΣxy−ΣxΣy)/√(nΣx²−Σx²)√(nΣy²−Σy²) then runs on DOUBLES derived
    * from those exact integers with an IDENTICAL expression tree both
    * engines — every step (decimal→double cast, ×, −, ÷, √) is
    * correctly-rounded IEEE, so `floor(10⁹·r)` is bit-stable (the t9/y5
    * discipline: no libm transcendentals, √ is exact-rounded).
    *
    * Scale shape: one partial-agg shuffle on the group key; the closed
    * form is per-group scalar math. Mergeable across any partitioning —
    * the same sums underlie the u3-style incremental refresh.
    */
  def x14Correlation(spark: SparkSession, dir: String): DataFrame = {
    val x = round(col("l_quantity") * 100).cast("long")
    val y = round(col("l_extendedprice") * 100).cast("long")
    val n = col("n_rows").cast("double")
    val num = n * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")
    val vx = sqrt(n * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double"))
    val vy = sqrt(n * col("syy").cast("double") - col("sy").cast("double") * col("sy").cast("double"))
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(x).as("sx"), // ≤ 5e3·n — BIGINT-safe to ~10^15 rows
        sum(y).as("sy"), // ≤ 1e7·n
        sum((x * y).cast("decimal(38,0)")).as("sxy"), // 5e10·n — decimal, BIGINT dies at ~2e8 rows
        sum((x * x).cast("decimal(38,0)")).as("sxx"), // 2.5e7·n
        sum((y * y).cast("decimal(38,0)")).as("syy")) // 1e14·n
      .select(col("l_returnflag"), col("n_rows"),
        floor(lit(1e9) * num / (vx * vy)).cast("long").as("corr_ppb"))
      .orderBy("l_returnflag")
  }

  val x14Oracle: String =
    """WITH q AS (
      |  SELECT l_returnflag,
      |         CAST(round(l_quantity * 100) AS BIGINT) AS x,
      |         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      |  FROM lineitem),
      |g AS (
      |  SELECT l_returnflag, count(1) AS n_rows,
      |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |         sum(CAST(x AS DECIMAL(18, 0)) * CAST(y AS DECIMAL(18, 0))) AS sxy,
      |         sum(CAST(x AS DECIMAL(18, 0)) * CAST(x AS DECIMAL(18, 0))) AS sxx,
      |         sum(CAST(y AS DECIMAL(18, 0)) * CAST(y AS DECIMAL(18, 0))) AS syy
      |  FROM q GROUP BY 1)
      |SELECT l_returnflag, n_rows,
      |       CAST(floor(1e9 * (CAST(n_rows AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |            (sqrt(CAST(n_rows AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
      |             sqrt(CAST(n_rows AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))) AS BIGINT)
      |         AS corr_ppb
      |FROM g ORDER BY l_returnflag""".stripMargin

  /** x15: exact least-squares fit per group — the x14 moment discipline
    * applied to OLS: slope = (nΣxy−ΣxΣy)/(nΣx²−Σx²) and intercept =
    * (Σy − slope·Σx)/n, all from the same exact integer sums, with the
    * final scalar math on doubles in an identical expression tree both
    * engines (correctly-rounded ops only) → `floor(10⁹·slope)` /
    * `floor(10⁶·intercept)` hash-stable. The regression every
    * drift-monitoring table wants next to its correlation; one
    * partial-agg shuffle, mergeable moments.
    */
  def x15Regression(spark: SparkSession, dir: String): DataFrame = {
    val x = round(col("l_quantity") * 100).cast("long")
    val y = round(col("l_extendedprice") * 100).cast("long")
    val n = col("n_rows").cast("double")
    val num = n * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")
    val den = n * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double")
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(x).as("sx"), sum(y).as("sy"),
        // decimal moments, same rationale as x14: BIGINT Σxy overflows ~2e8 rows/group
        sum((x * y).cast("decimal(38,0)")).as("sxy"),
        sum((x * x).cast("decimal(38,0)")).as("sxx"))
      .select(col("l_returnflag"), col("n_rows"),
        floor(lit(1e9) * num / den).cast("long").as("slope_ppb"),
        floor(lit(1e6) * (col("sy").cast("double") - num / den * col("sx").cast("double")) / n)
          .cast("long").as("intercept_micro"))
      .orderBy("l_returnflag")
  }

  val x15Oracle: String =
    """WITH q AS (
      |  SELECT l_returnflag,
      |         CAST(round(l_quantity * 100) AS BIGINT) AS x,
      |         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      |  FROM lineitem),
      |g AS (
      |  SELECT l_returnflag, count(1) AS n_rows,
      |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |         sum(CAST(x AS DECIMAL(18, 0)) * CAST(y AS DECIMAL(18, 0))) AS sxy,
      |         sum(CAST(x AS DECIMAL(18, 0)) * CAST(x AS DECIMAL(18, 0))) AS sxx
      |  FROM q GROUP BY 1)
      |SELECT l_returnflag, n_rows,
      |       CAST(floor(1e9 * (CAST(n_rows AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |                  (CAST(n_rows AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) AS BIGINT)
      |         AS slope_ppb,
      |       CAST(floor(1e6 * (CAST(sy AS DOUBLE) -
      |                         (CAST(n_rows AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |                         (CAST(n_rows AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |                         * CAST(sx AS DOUBLE)) / CAST(n_rows AS DOUBLE)) AS BIGINT)
      |         AS intercept_micro
      |FROM g ORDER BY l_returnflag""".stripMargin

  /** Two-phase distributed cumulative sum over a VALUE HISTOGRAM, per
    * group — the shared order-statistics engine under x16 (rank sums),
    * x3 (exact percentiles) and x18 (median/MAD): given one row per
    * (group, distinct value v) with an additive weight column, appends
    * `cum` = the weight total strictly below v within its group, without
    * ever sorting a data-sized single partition. Phase 1 runs the
    * within-bucket running sum over one partitionBy(group, v DIV 2¹⁶)
    * Exchange+Sort (bucket count is bounded by the VALUE DOMAIN, not row
    * count); phase 2 prefixes the tiny per-group bucket-totals rollup
    * (the only ordered window with group-only partitioning — ≤ ~10³ rows
    * per group by domain) and broadcasts the offsets back. Exact integer
    * arithmetic throughout; all other input columns ride along.
    */
  private[queries] def cumBelow(perV: DataFrame, grps: Seq[String], w: String): DataFrame = {
    val withB = perV.withColumn("bkt", expr("v DIV 65536"))
    val pc = (grps :+ "bkt").map(col)
    val wIn = Window.partitionBy(pc: _*).orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val within = withB.withColumn("cin", coalesce(sum(w).over(wIn), lit(0L)))
    val wB = Window.partitionBy(grps.map(col): _*).orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bOff = withB.groupBy(pc: _*).agg(sum(w).as("bt"))
      .withColumn("boff", coalesce(sum("bt").over(wB), lit(0L)))
      .select((grps ++ Seq("bkt", "boff")).map(col): _*)
    within.join(broadcast(bOff), grps :+ "bkt")
      .withColumn("cum", col("cin") + col("boff"))
  }

  /** x16: Mann-Whitney U — the rank-based (nonparametric) two-sample
    * drift test next to x11's KS: no distribution assumption, exact on
    * integer cents. Computed from the VALUE HISTOGRAM, never a global row
    * sort — and unlike x11's fixed-bin windows, the distinct-value
    * relation here GROWS with data, so the below-count is a two-phase
    * distributed cumulative sum (the textbook parallel prefix): values
    * range-bucket by `v DIV 2¹⁶` (cents of a price — the bucket count is
    * bounded by the VALUE DOMAIN, ~⌈max_price·100/65536⌉, not by row
    * count), phase 1 runs the within-bucket running sum + bucket totals
    * over one partitionBy(bucket) Exchange+Sort, phase 2 prefixes the
    * tiny bucket-totals rollup (the only ordered-unpartitioned window,
    * over ≤ ~10³ rows by design) and broadcasts the offsets back. Exact —
    * no binning of the statistic itself.
    *
    * Doubled average ranks (2·below + ties + 1 — integers, no .5 tie
    * ranks) roll into DECIMAL(38,0) rank sums (the x14 overflow
    * discipline: rank sums reach N², past BIGINT at ~10⁹ rows); the
    * n·(n+1) and 2·nᴬ·nᴮ identity terms are multiplied AS decimals
    * (18,0)×(18,0) so they cannot wrap before the cast either. U₂ = 2U
    * keeps everything integral; `sum_ok` hash-gates U₂ᴬ + U₂ᴮ = 2·nᴬ·nᴮ.
    * U₂ itself is ≤ 2·nᴬ·nᴮ — emitted as BIGINT (exact to ~3·10⁹ rows per
    * side; past that widen the emit type, the internal sums already
    * carry it).
    */
  def x16MannWhitney(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.orders(spark, dir).select(
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"),
      (col("o_orderkey") % 2).as("side"))
    val perV = v.groupBy("v").agg(
        sum(when(col("side") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("side") === 1, 1L).otherwise(0L)).as("cb"))
      .withColumn("te", col("ca") + col("cb"))
    val cum = cumBelow(perV, Seq.empty, "te")
      .withColumn("r2", col("cum").cast("decimal(38,0)") * 2
        + col("te").cast("decimal(38,0)") + 1)
    def sq(c: Column): Column = c.cast("decimal(18,0)")
    cum.agg(
        sum("ca").as("n_a"), sum("cb").as("n_b"),
        sum(col("ca").cast("decimal(38,0)") * col("r2")).as("rr2a"),
        sum(col("cb").cast("decimal(38,0)") * col("r2")).as("rr2b"))
      .select(col("n_a"), col("n_b"),
        (col("rr2a") - sq(col("n_a")) * sq(col("n_a") + 1)).as("u2a_d"),
        (col("rr2b") - sq(col("n_b")) * sq(col("n_b") + 1)).as("u2b_d"))
      .withColumn("sum_ok",
        (col("u2a_d") + col("u2b_d") ===
          sq(col("n_a")) * sq(col("n_b")) * 2).cast("long"))
      .select(col("n_a"), col("n_b"),
        // BIGINT at the emit boundary: raw DECIMAL(38,0) output columns
        // were the battery's one environment-sensitive hash surface
        col("u2a_d").cast("long").as("u2_a"),
        col("u2b_d").cast("long").as("u2_b"),
        col("sum_ok"))
  }

  val x16Oracle: String =
    """WITH v AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v, o_orderkey % 2 AS side
      |  FROM orders),
      |pv AS (
      |  SELECT v, CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |         CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
      |  FROM v GROUP BY 1),
      |c AS (
      |  SELECT v, ca, cb, ca + cb AS te,
      |         CAST(coalesce(sum(ca + cb) OVER (ORDER BY v
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumb
      |  FROM pv),
      |a AS (
      |  SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b,
      |         CAST(sum(CAST(ca AS DECIMAL(38, 0)) * CAST(cumb * 2 + te + 1 AS DECIMAL(38, 0))) AS DECIMAL(38, 0)) AS rr2a,
      |         CAST(sum(CAST(cb AS DECIMAL(38, 0)) * CAST(cumb * 2 + te + 1 AS DECIMAL(38, 0))) AS DECIMAL(38, 0)) AS rr2b
      |  FROM c)
      |SELECT n_a, n_b,
      |       CAST(rr2a - CAST(n_a AS DECIMAL(18, 0)) * CAST(n_a + 1 AS DECIMAL(18, 0)) AS BIGINT) AS u2_a,
      |       CAST(rr2b - CAST(n_b AS DECIMAL(18, 0)) * CAST(n_b + 1 AS DECIMAL(18, 0)) AS BIGINT) AS u2_b,
      |       CAST((rr2a - CAST(n_a AS DECIMAL(18, 0)) * CAST(n_a + 1 AS DECIMAL(18, 0))) +
      |            (rr2b - CAST(n_b AS DECIMAL(18, 0)) * CAST(n_b + 1 AS DECIMAL(18, 0))) =
      |            CAST(n_a AS DECIMAL(18, 0)) * CAST(n_b AS DECIMAL(18, 0)) * 2 AS BIGINT) AS sum_ok
      |FROM a""".stripMargin

  /** x17: one-sided CUSUM control chart over daily revenue — the
    * SEQUENTIAL drift monitor next to the distributional suite
    * (TV/KS/PSI/χ²/U compare two static samples; CUSUM detects WHEN a
    * stream's level shifted): C_t = max(0, C_{t−1} + x_t − target − k),
    * alarm when C_t > 5k. The recurrence is non-linear (the max-with-0
    * clamp), so unlike x16 it cannot become a distributed prefix sum —
    * but it never needs to: the fold runs over the DAILY rollup, whose
    * cardinality is the date domain (x11's bins-by-design rule), after
    * one partial-agg shuffle reduces the order stream to one row per
    * day. target = ⌊Σ/n⌋ and k = target ÷ 20 derive from the same
    * collected array (no second scan, no scalar-broadcast re-execution),
    * everything in exact integer cents — the oracle replays the fold as
    * a recursive CTE over the day-ranked rollup.
    */
  def x17CusumDrift(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("tc"))
    daily.agg(array_sort(collect_list(struct(col("day"), col("tc")))).as("a"))
      .withColumn("target", expr("aggregate(a, 0L, (s, x) -> s + x.tc) DIV size(a)"))
      .withColumn("k", expr("target DIV 20"))
      .select(col("target"), col("k"), explode(expr(
        """aggregate(a,
          |  struct(CAST(0 AS BIGINT) AS c, CAST(array() AS array<struct<day:date,tc:bigint,cusum:bigint>>) AS out),
          |  (acc, x) -> struct(
          |    greatest(0L, acc.c + x.tc - target - k) AS c,
          |    concat(acc.out, array(struct(x.day AS day, x.tc AS tc,
          |      greatest(0L, acc.c + x.tc - target - k) AS cusum))) AS out),
          |  acc -> acc.out)""".stripMargin)).as("r"))
      .select(col("r.day").as("day"), col("r.tc").as("total_c"),
        col("r.cusum").as("cusum"),
        (col("r.cusum") > col("k") * 5).cast("long").as("alarm"))
      .orderBy("day")
  }

  val x17Oracle: String =
    """WITH RECURSIVE daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS tc
      |  FROM orders GROUP BY 1),
      |rk AS (SELECT day, tc, row_number() OVER (ORDER BY day) AS rn FROM daily),
      |g AS (SELECT CAST(sum(tc) AS BIGINT) // count(*) AS target,
      |             (CAST(sum(tc) AS BIGINT) // count(*)) // 20 AS k
      |      FROM daily),
      |rec AS (
      |  SELECT rn, day, tc, greatest(CAST(0 AS BIGINT), tc - g.target - g.k) AS cusum
      |  FROM rk, g WHERE rn = 1
      |  UNION ALL
      |  SELECT d.rn, d.day, d.tc, greatest(CAST(0 AS BIGINT), r.cusum + d.tc - g.target - g.k)
      |  FROM rec r JOIN rk d ON d.rn = r.rn + 1 CROSS JOIN g)
      |SELECT day, tc AS total_c, cusum,
      |       CAST(cusum > (SELECT k FROM g) * 5 AS BIGINT) AS alarm
      |FROM rec ORDER BY day""".stripMargin

  /** x18: robust outlier profile — median / MAD per priority group, the
    * 50 %-breakdown complement of x7's mean ± 1.5σ flags (moment-based
    * fences are leverage-prone: heavy outliers inflate σ and mask
    * themselves; the median and the median absolute deviation are immune
    * to up to half the sample being corrupted). All order statistics are
    * computed from the per-(group, value) HISTOGRAM via [[cumBelow]]'s
    * two-phase distributed prefix sum — never a row-level rank window
    * whose per-group partition is data-sized. Selection is pure integer
    * arithmetic: the lower median is the value v whose cumulative count
    * straddles rank K = (n+1) DIV 2 (cum < K ≤ cum + cnt); the MAD
    * repeats the same selection over the |v − med| deviation histogram,
    * which is derived from the value histogram (weights ride along), so
    * the fact table is scanned ONCE into the histogram and everything
    * downstream is value-domain-sized. Flag fence |v − med| > 3·MAD stays
    * in BIGINT cents end-to-end — no floats anywhere, the oracle matches
    * bit-exactly by construction.
    */
  def x18MadOutliers(spark: SparkSession, dir: String): DataFrame = {
    val perVc = priceHistogram(spark, dir)
    val sizes = perVc.groupBy("g").agg(sum("cnt").as("n"))
    def medianOf(perV: DataFrame, nOf: DataFrame): DataFrame =
      cumBelow(perV, Seq("g"), "cnt")
        .join(broadcast(nOf), "g")
        .where(col("cum") < expr("(n + 1) DIV 2") &&
          col("cum") + col("cnt") >= expr("(n + 1) DIV 2"))
        .select("g", "v")
    // Fold the broadcast-subquery fan into ONE pre-aggregated per-group
    // stats frame (r17 verdict #4): without it the med selection subtree
    // (a full cumBelow pass) re-executes inside the deviation histogram,
    // inside the MAD selection, and again in the final join — the r17 plan
    // carried 24 BroadcastExchange nodes, most of them re-running the same
    // order-statistics chain. The frame is GROUP-cardinality-sized (one row
    // per o_orderpriority), so the eager checkpoint is a constant-size job
    // at any corpus scale; the two-phase cumBelow shape is untouched.
    val gstats = Materialize.checkpoint(sizes
      .join(medianOf(perVc, sizes).withColumnRenamed("v", "med"), "g"))
    val devPerV = perVc.join(broadcast(gstats.select("g", "med")), "g")
      .groupBy(col("g"), abs(col("v") - col("med")).as("v"))
      .agg(sum("cnt").as("cnt"))
    // the deviation histogram re-buckets the same rows, so its per-group
    // total is the same n — reuse it instead of re-aggregating sizes
    val mad = medianOf(devPerV, gstats.select("g", "n")).withColumnRenamed("v", "mad")
    val all = Materialize.checkpoint(gstats.select("g", "med").join(mad, "g"))
    perVc.join(broadcast(all), "g")
      .groupBy("g")
      .agg(sum("cnt").as("n_rows"),
        max("med").as("med_cents"), max("mad").as("mad_cents"),
        sum(when(abs(col("v") - col("med")) > col("mad") * 3, col("cnt"))
          .otherwise(lit(0L))).as("n_outliers"))
      .select(col("g").as("o_orderpriority"), col("n_rows"),
        col("med_cents"), col("mad_cents"), col("n_outliers"))
      .orderBy("o_orderpriority")
  }

  val x18Oracle: String =
    """WITH c AS (
      |  SELECT o_orderpriority AS g, CAST(round(o_totalprice * 100) AS BIGINT) AS v
      |  FROM orders),
      |n AS (SELECT g, count(*) AS n FROM c GROUP BY 1),
      |med AS (
      |  SELECT r.g, r.v AS med
      |  FROM (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn FROM c) r
      |  JOIN n USING (g) WHERE rn = (n + 1) // 2),
      |dev AS (SELECT c.g, abs(c.v - m.med) AS d FROM c JOIN med m ON c.g = m.g),
      |mad AS (
      |  SELECT r.g, r.d AS mad
      |  FROM (SELECT g, d, row_number() OVER (PARTITION BY g ORDER BY d) AS rn FROM dev) r
      |  JOIN n USING (g) WHERE rn = (n + 1) // 2)
      |SELECT c.g AS o_orderpriority, count(*) AS n_rows,
      |       max(m.med) AS med_cents, max(a.mad) AS mad_cents,
      |       CAST(sum(CASE WHEN abs(c.v - m.med) > 3 * a.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM c JOIN med m ON c.g = m.g JOIN mad a ON c.g = a.g
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x18_mad_outliers" -> (x18MadOutliers _),
    "x17_cusum_drift" -> (x17CusumDrift _),
    "x16_mann_whitney" -> (x16MannWhitney _),
    "x15_regression" -> (x15Regression _),
    "x14_correlation" -> (x14Correlation _),
    "x13_chi_square" -> (x13ChiSquare _),
    "x12_psi_drift" -> (x12PsiDrift _),
    "x11_ks_drift" -> (x11KsDrift _),
    "x10_dq_audit" -> (x10DqAudit _),
    "x9_tv_drift" -> (x9TvDrift _),
    "x1_moments" -> (x1Moments _),
    "x2_scd2" -> (x2Scd2 _),
    "x3_percentiles" -> (x3Percentiles _),
    "x4_histogram" -> (x4Histogram _),
    "x5_approx_percentiles" -> (x5ApproxPercentiles _),
    "x6_quality_profile" -> (x6QualityProfile _),
    "x7_outliers" -> (x7Outliers _),
    "x8_snapshot_diff" -> (x8SnapshotDiff _))

  val oracles: Map[String, String] = Map(
    "x18_mad_outliers" -> x18Oracle,
    "x17_cusum_drift" -> x17Oracle,
    "x16_mann_whitney" -> x16Oracle,
    "x15_regression" -> x15Oracle,
    "x14_correlation" -> x14Oracle,
    "x13_chi_square" -> x13Oracle,
    "x12_psi_drift" -> x12Oracle,
    "x11_ks_drift" -> x11Oracle,
    "x10_dq_audit" -> x10Oracle,
    "x9_tv_drift" -> x9Oracle,
    "x1_moments" -> x1Oracle,
    "x2_scd2" -> x2Oracle,
    "x3_percentiles" -> x3Oracle,
    "x4_histogram" -> x4Oracle,
    // x5's gate form hash-checks the GK rank-error contract (the raw
    // engine-specific sketch values stay spec-bracketed in ApproxOpsSpec
    // over the Core form)
    "x5_approx_percentiles" -> x5Oracle,
    "x6_quality_profile" -> x6Oracle,
    "x7_outliers" -> x7Oracle,
    "x8_snapshot_diff" -> x8Oracle)
}
