package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Materialize

/** Distributed connected components by min-label propagation — the cluster
  * step of near-duplicate deduplication: LSH/SimHash emit *pairs*; turning
  * pairs into duplicate *groups* (keep one survivor per group) is a
  * connected-components problem over the pair graph.
  *
  * Algorithm: every node starts labeled with its own id; each iteration
  * pushes labels across edges and keeps the minimum; fixpoint when no label
  * changes. Each iteration is one equi-join + one aggregation — both plain
  * hash shuffles on the node id, so the step parallelizes like any groupBy
  * and needs O(diameter) rounds. Near-dup graphs are unions of small dense
  * clusters (diameter ≤ 3 in practice), so this converges in 2–4 rounds;
  * for adversarial long-chain graphs the large-star/small-star variant
  * (O(log n) rounds) would replace the propagation step, same join shape.
  *
  * `localCheckpoint` truncates the lineage each round — without it the plan
  * doubles per iteration and the final job replays every round's shuffle.
  */
object ConnectedComponents {

  /** @param edges two-column DataFrame of undirected edges (long ids);
    *              direction and duplicates are normalized away here.
    * @return (id, comp) — comp = min node id of the component. Only nodes
    *         that appear in some edge are returned (isolated nodes have no
    *         dup relation to resolve).
    */
  def apply(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val e = edges.toDF("a", "b")
    val und = Materialize.checkpoint(e.union(e.select(col("b"), col("a")))
      .toDF("src", "dst").distinct())

    // seed with min(self, neighbors) — the first propagation round folded
    // into initialization (one aggregation instead of join+agg)
    var labels = Materialize.checkpoint(und.groupBy(col("src")).agg(min(col("dst")).as("mn"))
      .select(col("src").as("id"), least(col("src"), col("mn")).as("comp")))

    // Convergence via the label sum: labels are per-node non-increasing, so
    // the sum strictly decreases every round that changes anything — an
    // unchanged sum IS the fixpoint. One aggregation per round instead of a
    // join-and-count of next vs previous.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("comp").cast("decimal(38,0)"))).head.getDecimal(0)

    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val msgs = und.join(labels, und("src") === labels("id"))
        .select(col("dst").as("id"), col("comp"))
      labels = Materialize.checkpoint(labels.select("id", "comp").union(msgs)
        .groupBy("id").agg(min("comp").as("comp")))
      val s = labelSum(labels)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      iter += 1
    }
    require(converged, s"connected components did not converge in $maxIter rounds")
    labels
  }

  /** Per-partition union-find contraction: replaces each partition's edge
    * list by the star forest of its LOCAL components (root = min node of
    * the local tree). Replacing any edge subset by a spanning star forest
    * of that subset preserves global connectivity, so the union over
    * partitions is an equivalent input for the iterative phase — with two
    * effects that matter at opposite scales:
    *
    *  - at 100 TB, each partition's output is bounded by its distinct
    *    NODE count (never its edge count), so dup-dense partitions
    *    collapse before the first shuffle of the iterative phase;
    *  - at gate scale, AQE has usually coalesced the tiny normalized edge
    *    shuffle to ONE partition, so the contraction alone solves the
    *    whole graph and the loop exits on its pre-check without running a
    *    single round — iteration-count × job-overhead was d7's entire
    *    gate-scale cost.
    *
    * Memory is the per-partition distinct-node map — the same bound a
    * groupBy on this partitioning would need.
    */
  private def contractPartitions(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    e.select(col("a").cast("long"), col("b").cast("long")).as[(Long, Long)]
      .mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x // path compression
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        parent.keysIterator.toArray.iterator
          .map(n => (find(n), n)).filter { case (r, n) => r != n }
      }.toDF("a", "b")
  }

  /** One-job terminal test: the edge set is a star forest — every child
    * `b` points at exactly one root, and no node is both a root and a
    * child. Both star transformations leave a star forest unchanged and
    * preserve components, so reaching this form IS convergence — no need
    * to run one more identical round to observe set-equality, and no need
    * for the two actions (count + exceptAll) that equality took.
    */
  private def isStarForest(e: DataFrame): Boolean =
    e.select(col("a").as("n"), lit(1).as("as_a"), lit(0).as("as_b"), lit(null).cast("long").as("root"))
      .union(e.select(col("b").as("n"), lit(0), lit(1), col("a")))
      .groupBy("n")
      .agg(max(col("as_a")).as("r"), max(col("as_b")).as("c"),
        countDistinct(col("root")).as("roots"))
      .where((col("r") === 1 && col("c") === 1) || col("roots") > 1)
      .isEmpty

  /** Alternating large-star/small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond") — O(log n) rounds on ANY graph,
    * including the long-chain topologies where plain min-propagation needs
    * O(diameter). Same primitive per round as the simple variant (one
    * equi-join-shaped aggregation over the edge list), so it scales like a
    * groupBy; use it when cluster shapes are unknown or adversarial.
    *
    * large-star: every node connects its larger neighbors to its current
    * minimum (including itself); small-star: each node connects its
    * smaller-or-equal neighbors to their collective minimum. The edge list
    * converges to a star forest: each node points at its component's
    * minimum. A union-find contraction inside each input partition runs
    * first ([[contractPartitions]]), and the loop stops the moment the
    * edge set IS a star forest ([[isStarForest]]) — checked before the
    * first round too, so a graph the contraction already solved never
    * pays a single iteration.
    */
  def alternatingStars(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    // materialize the RAW edge list once: the node set and the contraction
    // both derive from it, and without this checkpoint the caller's edge
    // lineage (e.g. m8's two dedup-window pipelines) executed TWICE — once
    // for nodes, once for the normalized contraction input. nodes itself
    // no longer needs its own eager checkpoint: it re-derives from e0 with
    // one cheap explode+distinct at the final join.
    val e0 = Materialize.checkpoint(edges.toDF("a", "b"))
    val nodes = e0
      .select(explode(array(col("a"), col("b"))).as("id")).distinct()
    // normalized edge list; self-loops dropped (their nodes are restored
    // as singleton components at the end). The distinct shuffle is AQE-
    // coalesced, so the contraction that follows sees few, dense
    // partitions at gate scale.
    var e = Materialize.checkpoint(contractPartitions(
      e0
        .where(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
        .distinct()))

    var iter = 0
    var converged = isStarForest(e)
    while (!converged && iter < maxIter) {
      // large-star: group by u over BOTH directions; m = min(u, neighbors);
      // emit (m, w) for every neighbor w > u
      val nbrs = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b"), col("a")))
      val withMin = nbrs
        .withColumn("m", min(least(col("u"), col("v")))
          .over(org.apache.spark.sql.expressions.Window.partitionBy("u")))
      val large = withMin.where(col("v") > col("u"))
        .select(least(col("m"), col("u")).as("a"), col("v").as("b"))
        .where(col("a") =!= col("b")).distinct()

      // small-star: group by u over edges to smaller-or-equal neighbors
      val nbrs2 = large.select(col("b").as("u"), col("a").as("v")) // v <= u by construction
      val withMin2 = nbrs2
        .withColumn("m", min(col("v"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy("u")))
      val small = Materialize.checkpoint(withMin2
        .select(col("m").as("a"), col("v").as("b"))
        .union(withMin2.select(col("m").as("a"), col("u").as("b")))
        .where(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
        .distinct())

      e = small
      converged = isStarForest(e)
      iter += 1
    }
    require(converged, s"alternating stars did not converge in $maxIter rounds")
    // star forest: every b points at its component min a; roots point at
    // themselves; edge-less nodes (self-loop-only inputs) are singletons
    val stars = e.select(col("b").as("id"), col("a").as("comp"))
      .union(e.select(col("a").as("id"), col("a").as("comp")))
      .groupBy("id").agg(min("comp").as("comp"))
    nodes.join(stars, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  /** Incremental maintenance: fold a Δ edge set into standing labels by
    * GRAPH CONTRACTION — each Δ endpoint is replaced by its standing
    * component label (or itself if unseen), edges internal to a standing
    * component vanish, and the alternating-stars loop runs only on the
    * contracted graph, whose node count is bounded by |Δ| — the corpus
    * is never re-clustered. Labels stay canonical (min id): a contracted
    * node IS a standing component's min, so the merged minimum is the
    * global minimum.
    *
    * @param base  standing labels (id, comp) — comp = min id of component
    * @param delta new undirected edges (two long columns)
    * @return (id, comp) for every base node and every Δ endpoint —
    *         identical to a full recompute over base-edges ∪ Δ
    */
  def incremental(base: DataFrame, delta: DataFrame): DataFrame = {
    val d = delta.toDF("a", "b")
    val contracted = d
      .join(base.select(col("id").as("a"), col("comp").as("ra")), Seq("a"), "left")
      .join(base.select(col("id").as("b"), col("comp").as("rb")), Seq("b"), "left")
      .select(coalesce(col("ra"), col("a")).as("a"),
        coalesce(col("rb"), col("b")).as("b"))
      .where(col("a") =!= col("b"))
    val relabel = alternatingStars(contracted)
    val nodes = base.select("id").unionByName(
        d.select(col("a").as("id"))).unionByName(
        d.select(col("b").as("id")))
      .distinct()
    nodes
      .join(base.select(col("id"), col("comp").as("r0")), Seq("id"), "left")
      .withColumn("r", coalesce(col("r0"), col("id")))
      .join(relabel.select(col("id").as("r"), col("comp").as("c2")), Seq("r"), "left")
      .select(col("id"), coalesce(col("c2"), col("r")).as("comp"))
  }
}
