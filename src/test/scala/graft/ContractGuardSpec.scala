package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{DedupQueries, SimilarityQueries}

/** The two documented contract boundaries (SCALE.md: the d5/d6 pair-output
  * ceiling, the s5/s6 Lloyd escape) enforced as LOUD pre-flight guards —
  * a user past the boundary gets the routing answer, not a silent
  * quadratic join or a day-long brute fit. Gate- and probe-scale inputs
  * must keep passing (the guards sit above every measured-good regime);
  * collapsed-cohort corpora one order past the envelope must be refused
  * BEFORE any quadratic work is scheduled.
  */
class ContractGuardSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("Lloyd n*k budget: gate/probe sizes pass; past ~1e6 vectors refuses, routing to IvfIndex") {
    // gate SFs (500 / 2000 vectors) and the largest measured probe (200k)
    assert(SimilarityQueries.lloydGuardedK(500) > 0)
    assert(SimilarityQueries.lloydGuardedK(2000) > 0)
    assert(SimilarityQueries.lloydGuardedK(200000) == 781) // n·k = 1.6e8, the measured regime
    val boom = intercept[IllegalStateException] {
      SimilarityQueries.lloydGuardedK(2000000) // k = 7812 → n·k = 1.56e10
    }
    assert(boom.getMessage.contains("IvfIndex"), boom.getMessage)
    assert(boom.getMessage.contains("k-means upper boundary"), boom.getMessage)
  }

  test("d5 pair ceiling: a corpus whose identical-fingerprint pairs alone exceed the output budget is refused") {
    import spark.implicits._
    // every doc identical → one simhash value → hamming-0 pairs alone are
    // C(70000, 2) ≈ 2.45e9 > the documented 2e9 OUTPUT ceiling: the
    // output-bound arm must refuse (provable result size, not join work)
    val dir = Files.createTempDirectory("graft-guard-d5").toString
    (0L until 70000L).toDF("doc_id")
      .withColumn("text", lit("alpha beta gamma delta epsilon zeta"))
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("synth"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val boom = intercept[IllegalStateException] {
      DedupQueries.d5SimhashPairs(spark, dir)
    }
    assert(boom.getMessage.contains("pair-output budget"), boom.getMessage)
    assert(boom.getMessage.contains("d5b_top_pairs"), boom.getMessage)
    Materialize.releaseAll()
  }

  test("d6 pair ceiling: an m7-class collapsed embedding corpus is refused on the candidate budget") {
    import spark.implicits._
    // 80k identical vectors → every band bucket holds the whole corpus:
    // candidates = bands · C(80000, 2) ≥ 1.28e10 > the 1e10 join-work
    // budget (the output lower bound C(16000, 2) ≈ 1.3e8 stays under the
    // 2e9 output ceiling — this case must trip the CANDIDATE arm)
    val dir = Files.createTempDirectory("graft-guard-d6").toString
    val vec = array((0 until 64).map(i => lit(0.1f * (i % 7 + 1))): _*)
    (0L until 80000L).toDF("vec_id")
      .withColumn("embedding", vec)
      .withColumn("label", lit(0))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val boom = intercept[IllegalStateException] {
      DedupQueries.d6EmbeddingNearDup(spark, dir)
    }
    assert(boom.getMessage.contains("candidate budget"), boom.getMessage)
    assert(boom.getMessage.contains("IvfIndex cells"), boom.getMessage)
  }

  test("the x100 probe regime stays under both budgets: d5 constructs on a 100x-shaped corpus estimate") {
    // the r16 recalibration lesson pinned as a spec: the standard ×100
    // probe corpus generates a ~3.6e9 banded candidate estimate with only
    // 24M verified output pairs, and the engine measures it at 27 s — a
    // guard refusing it would be mis-calibrated (it did, at first cut).
    // Cheap proxy: thresholds must order output ceiling < measured-good
    // candidates < candidate budget.
    assert(DedupQueries.PairOutputBudget < 3_600_000_000L)
    assert(3_600_000_000L < DedupQueries.CandidateBudget)
    // d6's budget is per VERIFY COST (64-dim cosine ≈ 30× a popcount):
    // 8.5e9 cosine candidates timed out the ×1000 cohort battery while
    // sitting under d5's row budget — the two must stay distinct
    assert(DedupQueries.CosineCandidateBudget < DedupQueries.CandidateBudget)
    assert(100_000_000L < DedupQueries.CosineCandidateBudget) // ~1e8 measured at 6 s
  }

  test("guard memo re-arms on an in-place corpus rewrite (fingerprint key, not path)") {
    import spark.implicits._
    // pass on a safe corpus (verdict memoized), then rewrite the same
    // path with an over-budget corpus: the fitKey fingerprint changes, so
    // the memo must re-run the check and refuse — a path-keyed memo would
    // serve the stale pass (the MemoStalenessSpec hazard, guard edition)
    val dir = Files.createTempDirectory("graft-guard-rearm").toString
    def write(n: Long): Unit =
      (0L until n).toDF("doc_id")
        .withColumn("text", lit("alpha beta gamma delta epsilon zeta"))
        .withColumn("lang", lit("en"))
        .withColumn("source", lit("synth"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    write(50)
    DedupQueries.d5SimhashPairs(spark, dir) // memoizes a PASS
    Materialize.releaseAll()
    Thread.sleep(1100) // mtime granularity: ensure the rewrite changes the fingerprint
    write(70000)
    val boom = intercept[IllegalStateException] {
      DedupQueries.d5SimhashPairs(spark, dir)
    }
    assert(boom.getMessage.contains("pair-output budget"), boom.getMessage)
    Materialize.releaseAll()
  }

  test("guards stay silent at the gate SF: d5 and d6 still construct over the real corpus") {
    val dir = "/root/testdata/sf0.001"
    // construction runs the pre-flight; materialization proves no refusal
    assert(DedupQueries.d5SimhashPairs(spark, dir).count() >= 0)
    assert(DedupQueries.d6EmbeddingNearDup(spark, dir).count() >= 0)
    Materialize.releaseAll()
  }

  test("probe construction classification: refusal by type, foreign failure becomes a cell, success passes") {
    // the cohort probe classifies refusals by ContractRefusedException TYPE
    // — a guard message without the word 'refused' still classifies, and
    // an unrelated construction failure records its own cell instead of
    // aborting the probe run (r16 advice)
    assert(ScaleProbe.classifyConstruction(()) == Right(()))
    ScaleProbe.classifyConstruction {
      throw new ContractRefusedException("d5_x over the documented pair budget (detail)")
    } match {
      case Left(("refused", msg)) => assert(msg == "d5_x over the documented pair budget")
      case other => fail(s"reworded guard escaped the type match: $other")
    }
    ScaleProbe.classifyConstruction { throw new RuntimeException("boom at plan build") } match {
      case Left(("failed_at_construction", msg)) =>
        assert(msg.contains("RuntimeException") && msg.contains("boom at plan build"))
      case other => fail(s"foreign failure should be a recorded cell, got: $other")
    }
    // the real guards throw the dedicated type (not a bare ISE)
    val realBoom = intercept[ContractRefusedException] {
      SimilarityQueries.lloydGuardedK(2_000_000)
    }
    assert(realBoom.getMessage.contains("IvfIndex"))
  }
}
