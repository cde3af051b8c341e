package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** The sf-probe synthesizer must produce a corpus that is a faithful
  * `factor`× scale-up: exact row multiples, still-distinct dense ids, the
  * declared near-dup structure (replica 0 byte-identical, replicas
  * perturbed except the ~10% hash-picked exact clones), recomputed
  * `n_chars`, and every non-scaled table still resolvable via the
  * symlinks — so probe timings measure the engine, not synthesis bugs.
  */
class ScaleProbeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val base = "/root/testdata/sf0.001"
  private val factor = 3
  private lazy val out: String = {
    val dir = Files.createTempDirectory("graft-probe").toString + "/x3"
    ScaleProbe.synthesize(spark, base, dir, factor)
    dir
  }

  test("documents and embeddings scale by exactly factor, ids distinct") {
    val d0 = Tables.documents(spark, base).count()
    val e0 = Tables.embeddings(spark, base).count()
    val d = Tables.documents(spark, out)
    val e = Tables.embeddings(spark, out)
    assert(d.count() == d0 * factor)
    assert(e.count() == e0 * factor)
    assert(d.select("doc_id").distinct().count() == d0 * factor)
    assert(e.select("vec_id").distinct().count() == e0 * factor)
  }

  test("replica 0 is the base corpus byte-for-byte; n_chars recomputed") {
    val d = Tables.documents(spark, out)
    val r0 = d.where(pmod(col("doc_id"), lit(factor)) === 0)
      .select((col("doc_id") / factor).cast("long").as("doc_id"), col("text"))
    val mismatch = r0.as("a")
      .join(Tables.documents(spark, base).as("b"), Seq("doc_id"))
      .where(col("a.text") =!= col("b.text")).count()
    assert(mismatch == 0, "replica 0 must be unperturbed")
    assert(d.where(col("n_chars") =!= length(col("text"))).count() == 0)
  }

  test("replicas are near-dups: some exact clones, most perturbed") {
    val d = Tables.documents(spark, out)
    val byText = d.groupBy("text").agg(count(lit(1)).as("n"))
    // hash-picked exact clones exist, but nothing like every doc ×factor
    assert(byText.where(col("n") > 1).count() > 0, "expected some exact clones")
    val dupRate = byText.where(col("n") > 1).agg(sum("n")).head.getLong(0).toDouble / d.count()
    assert(dupRate < 0.5, s"dup rate $dupRate — corpus collapsed to clones")
  }

  test("symlinked tables resolve and a dedup query runs on the scaled dir") {
    assert(Tables.customer(spark, out).count() == Tables.customer(spark, base).count())
    assert(queries.DedupQueries.d1ExactDedup(spark, out).count() > 0)
    Materialize.releaseAll()
  }

  test("facts scale FK-consistently: every scaled lineitem still has its order") {
    val o = Tables.orders(spark, out)
    val l = Tables.lineitem(spark, out)
    assert(o.count() == Tables.orders(spark, base).count() * factor)
    assert(l.count() == Tables.lineitem(spark, base).count() * factor)
    val orphans = l.join(o, l("l_orderkey") === o("o_orderkey"), "left_anti").count()
    assert(orphans == 0, s"$orphans lineitems lost their order under the rekey")
  }

  test("events scale by factor through the pass-through ts reader path") {
    val e0 = Tables.events(spark, base)
    val e = Tables.events(spark, out)
    assert(e.count() == e0.count() * factor)
    assert(e.select("user_id").distinct().count() ==
      e0.select("user_id").distinct().count() * factor)
    // ts survived the pass-through round-trip: same min/max per replica set
    assert(e.agg(min("ts"), max("ts")).head() == e0.agg(min("ts"), max("ts")).head())
  }

  test("synthesize is idempotent: a matching marker skips the rewrite") {
    val marker = Paths.get(out, "_PROBE_OK")
    val before = Files.getLastModifiedTime(marker)
    ScaleProbe.synthesize(spark, base, out, factor)
    assert(Files.getLastModifiedTime(marker) == before)
  }

  test("probe budget multipliers name real queries (a rename can't silently drop the d14 budget)") {
    // SCALE.md-documented slow-by-envelope operators get a budget
    // multiplier so family rotations stop re-paying false timeouts plus
    // manual solo re-runs (r14 and r17 both did for d14)
    val unknown = ScaleProbe.BudgetMultiplier.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"BudgetMultiplier names unknown queries: $unknown")
    assert(ScaleProbe.BudgetMultiplier.values.forall(_ >= 2),
      "a multiplier of 1 is a no-op entry — delete it instead")
  }

  test("every gate SF sits at the d6 adaptive-plane floor (static-oracle contract)") {
    // d6Oracle is a static SQL string pinning the 4-plane floor banding;
    // that contract holds only while every gate corpus has at most
    // EmbFloorMaxVectors embeddings. Assert against the REAL gate parquet
    // so a future, larger gate SF fails here with a named cause rather
    // than as an unexplained d6 hash mismatch.
    val gateDirs = Seq("sf0.001", "sf0.01", "sf0.1")
      .map(s => s"/root/testdata/$s").filter(d => Files.exists(Paths.get(d)))
    assert(gateDirs.nonEmpty)
    gateDirs.foreach { dir =>
      val n = Tables.embeddings(spark, dir).count()
      assert(n <= queries.DedupQueries.EmbFloorMaxVectors &&
        queries.DedupQueries.embPlanesFor(n) == queries.DedupQueries.embPlanesFor(1),
        s"$dir has $n vectors — above the adaptive floor; d6Oracle's pinned " +
          "banding no longer matches the Spark side (re-pin the oracle)")
      // same contract for s8's adaptive BUILD bucketings (r16: the fixed
      // 16-bucket build was n²/16 and timed out the first ×100 rotation)
      assert(n <= queries.SimilarityQueries.GraphFloorMaxVectors,
        s"$dir has $n vectors — above s8's adaptive-plane floor; s8Oracle's " +
          "pinned 4-plane bucketings no longer match the Spark side (re-pin the oracle)")
    }
  }
}
