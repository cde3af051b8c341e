package graft

import java.lang.ref.WeakReference
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftCacheBridge}
import org.apache.spark.sql.execution.LogicalRDD

/** The one lifecycle for materialized intermediates: every cache and
  * checkpoint the engine takes is registered here, and [[releaseAll]]
  * returns all of their executor memory. Battery runners (Bench, Verify,
  * ScaleProbe, the specs) run hundreds of queries in ONE session, and
  * blocks one query leaves resident are memory every later query lacks —
  * the r12 v10 thrash (10.97 s in the battery vs 3.28 s isolated). Queries
  * re-materialize on their next run, so a release never changes a result;
  * for the same reason no memo may hold a frame materialized here.
  */
object Materialize {
  /** Every release waits until the blocks are gone, so the memory is back
    * before the next query starts. */
  private val Blocking = true

  private val cached = new ConcurrentLinkedQueue[DataFrame]()
  /** Held weakly: Spark's ContextCleaner still frees a checkpoint no frame
    * references any more when the driver collects it. */
  private val checkpoints = new ConcurrentLinkedQueue[WeakReference[RDD[_]]]()

  /** Persist `df` and return it rebased onto its `InMemoryRelation` leaf
    * ([[GraftCacheBridge.cachedLeaf]]): downstream plans stay shallow, so
    * per-operator re-analysis (3.5-6.6 s of v10 driver time) collapses. The
    * registry keeps the original handle, which unpersist resolves.
    */
  def cache(df: DataFrame): DataFrame = {
    cached.add(df.cache())
    GraftCacheBridge.cachedLeaf(df).getOrElse(df)
  }

  /** Eager local checkpoint: the lineage is cut and the rows computed now. */
  def checkpoint(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(true)
    checkpointRdds(ck, "checkpoint").foreach(r => checkpoints.add(new WeakReference(r)))
    ck
  }

  /** Release a checkpoint's blocks now; nothing may read `df` afterwards. */
  def free(df: DataFrame): Unit =
    checkpointRdds(df, "free").foreach { rdd =>
      checkpoints.removeIf(_.get eq rdd)
      rdd.unpersist(Blocking)
    }

  /** Release every registered cache and checkpoint (safe between queries). */
  def releaseAll(): Unit = {
    Iterator.continually(cached.poll()).takeWhile(_ != null).foreach(_.unpersist(Blocking))
    Iterator.continually(checkpoints.poll()).takeWhile(_ != null)
      .flatMap(ref => Option(ref.get)).foreach(_.unpersist(Blocking))
  }

  /** A checkpoint's blocks belong to the RDD in its `LogicalRDD` leaf, not
    * to a cached plan, so `df.unpersist()` cannot release them. No leaf
    * means a Spark upgrade moved the class and the blocks would stay
    * resident for the JVM's life: say so instead of leaking silently.
    */
  private def checkpointRdds(df: DataFrame, verb: String): Seq[RDD[_]] = {
    val plan = df.queryExecution.analyzed
    val rdds = plan.collect { case l: LogicalRDD => l.rdd }
    if (rdds.isEmpty)
      System.err.println(s"WARN graft: Materialize.$verb found no LogicalRDD leaf — " +
        s"checkpoint blocks stay resident (plan: ${plan.nodeName})")
    rdds
  }
}
