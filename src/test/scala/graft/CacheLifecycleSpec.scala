package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.DedupQueries

/** The d-family persists shared intermediates (shingle index, SimHash
  * signature, near-dup pair set) so d2/d3 and d5/d7/d8/t5 hash the corpus
  * once per (session, dir), and several queries checkpoint eagerly. That
  * needs an explicit lifecycle: Bench runs the full battery repeatedly in
  * ONE session, so without a release hook the blocks accumulate executor
  * memory for the session's life. `Materialize.releaseAll()` (and its
  * `unpersistShared()` delegate) must drop every registered cache and
  * checkpoint, and the queries must transparently re-materialize on next
  * use.
  */
class CacheLifecycleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val sfDir = "/root/testdata/sf0.001"

  /** Drop whatever earlier suites left resident in the shared session. */
  private def isolate(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  test("unpersistShared drops every d-family cache entry") {
    isolate()
    DedupQueries.d3MinhashLsh(spark, sfDir).count()
    DedupQueries.d5SimhashPairs(spark, sfDir).count()
    assert(!spark.sharedState.cacheManager.isEmpty,
      "expected cached intermediates after d3/d5")
    DedupQueries.unpersistShared()
    assert(spark.sharedState.cacheManager.isEmpty,
      "cached intermediates leaked after unpersistShared()")
  }

  test("queries re-persist and stay correct after a release") {
    val before = DedupQueries.d5SimhashPairs(spark, sfDir).count()
    Materialize.releaseAll()
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(DedupQueries.d5SimhashPairs(spark, sfDir).count() == before)
    Materialize.releaseAll()
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("releaseAll frees every checkpoint, including the ones taken in loops") {
    // d20/d21/x18 checkpoint once per build; d12 and s8 once per round
    val names = Seq("d20_incremental_cc", "d21_quality_canonical", "x18_mad_outliers",
      "d12_dup_pagerank", "s8_graph_ann")
    def run(): Seq[Long] = names.map(n => SparkEntry.queries(n)(spark, sfDir).count())
    isolate()
    val before = run()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty, "expected resident blocks after the run")
    Materialize.releaseAll()
    val left = spark.sparkContext.getPersistentRDDs.values.map(r => s"${r.id}: ${r.name}")
    assert(left.isEmpty, s"blocks left resident after releaseAll(): ${left.mkString(", ")}")
    assert(run() == before, "re-run after the release changed a row count")
    Materialize.releaseAll()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
