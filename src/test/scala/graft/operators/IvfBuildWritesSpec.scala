package graft.operators

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.Future

import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sources.{ObjectStoreFileSystem, Tables}

/** `IvfIndex.build` overlaps its small centroid write (on `WriteEc`) with
  * the corpus-sized assignment write (on the caller's thread). Whatever
  * fails, build must return or throw only once BOTH writes have finished,
  * free its checkpoints, and lose no error. Write failures are injected
  * with `objstore://`'s rename crash, which fires in the committer of the
  * write whose output path is armed.
  */
class IvfBuildWritesSpec extends AnyFunSuite {
  lazy val spark = {
    val s = SparkTestSession.spark
    s.sparkContext.hadoopConfiguration
      .set("fs.objstore.impl", classOf[ObjectStoreFileSystem].getName)
    s
  }

  private def emb = Tables.embeddings(spark, "/root/testdata/sf0.001")

  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).toSeq

  test("a failing assignment write throws only after the centroid write finished") {
    val local = Files.createTempDirectory("graft-ivf-writes").toString
    // Hold both WriteEc threads until a job has failed, so the centroid
    // write can only START after the assignment write failed: a build that
    // throws without awaiting it throws before the centroids exist.
    val failed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobResult != JobSucceeded) failed.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    (1 to 2).foreach(_ => Future(failed.await(60, TimeUnit.SECONDS))(IvfIndex.WriteEc))
    ObjectStoreFileSystem.armRenameCrash(s"$local/idx/assignments", 0)
    val resident = spark.sparkContext.getPersistentRDDs.size
    try {
      val boom = intercept[Exception] {
        IvfIndex.build(spark, emb, s"objstore://$local/idx", cells = 4, lloydIters = 1)
      }
      assert(messages(boom).exists(_.contains("injected crash")), messages(boom))
      assert(new File(s"$local/idx/centroids/_SUCCESS").exists,
        "build threw while its overlapped centroid write was still pending")
      assert(spark.sparkContext.getPersistentRDDs.size == resident,
        "a failed build left its Lloyd checkpoints resident")
    } finally {
      ObjectStoreFileSystem.clearFaults()
      spark.sparkContext.removeSparkListener(listener)
      failed.countDown()
    }
  }

  test("when both writes fail, the centroid write's error rides along as suppressed") {
    val local = Files.createTempDirectory("graft-ivf-writes").toString
    ObjectStoreFileSystem.armRenameCrash(s"$local/idx", 0)
    try {
      val boom = intercept[Exception] {
        IvfIndex.build(spark, emb, s"objstore://$local/idx", cells = 4, lloydIters = 1)
      }
      assert(messages(boom).exists(_.contains("injected crash")), messages(boom))
      val side = boom.getSuppressed.toSeq.flatMap(messages)
      assert(side.exists(_.contains("injected crash")),
        s"the centroid write's failure was lost (suppressed: $side)")
    } finally ObjectStoreFileSystem.clearFaults()
  }
}
