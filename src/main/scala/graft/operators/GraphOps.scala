package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Encoders, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointStats

import graft.GraftSession

/** Small-graph primitives for near-duplicate clustering
  * (SURVEY.md §2.8: near-dup cluster ids over simhash/minhash pair edges).
  */
object GraphOps {

  /** Symmetrized edges per round-shuffle partition. It sizes the round
    * loop's shuffles, and below one partition's worth the whole graph is
    * labeled in one task instead.
    */
  private[graft] val EdgesPerRoundPartition = 50000L

  /** Connected components where the cluster id is the minimum node id in
    * the component: the unique fixpoint of min-label propagation (min
    * reachable id), which the oracles' recursive closure matches exactly.
    *
    * The first job checkpoints the symmetrized edges and counts them
    * ([[symmetrized]]). Below [[EdgesPerRoundPartition]] of them the
    * round loop would run every round on one shuffle partition anyway, so
    * the graph is labeled in ONE task instead: a union-find over the edge
    * checkpoint, one more job, exact at any diameter. At or above it,
    * [[labelRounds]] runs distributed rounds to the fixpoint.
    *
    * The result is a `localCheckpoint`ed frame either way (callers memoize
    * it). On a cluster, swap localCheckpoint for reliable `checkpoint` if
    * executor loss must be survivable.
    *
    * @param edges DataFrame with long columns `x`, `y` (undirected pairs;
    *              symmetrized internally); a null endpoint fails the call.
    * @param maxRounds cap on the distributed rounds above the one-task
    *              gate; below it the labels are exact at any diameter.
    * @return DataFrame (id, lbl): every node appearing in edges, labeled
    *         with the min id reachable from it.
    */
  def minLabelPropagate(edges: DataFrame, maxRounds: Int = 10): DataFrame = {
    val (sym, nEdges) = symmetrized(edges)
    // The gate tests the edge count, not the round partition count: on
    // local[1] that is always 1.
    if (nEdges < EdgesPerRoundPartition) labelInOneTask(sym)
    else labelRounds(sym, nEdges, maxRounds)
  }

  /** Checkpointed (x, y) edges in both directions and their count, from
    * one job that also counts null endpoints and fails on any.
    */
  private[graft] def symmetrized(edges: DataFrame): (DataFrame, Long) = {
    // No pre-partition by x: under AQE a checkpoint of repartition(x)
    // reports UnknownPartitioning(0), so every round re-exchanged it anyway.
    val (sym, Seq(nEdges, nNull)) = checkpointCounting(
      edges.select(col("x"), col("y"))
        .union(edges.select(col("y").as("x"), col("x").as("y"))),
      lit(true), col("x").isNull)
    require(nNull == 0, s"minLabelPropagate: $nNull null endpoint(s) in the edges")
    (sym, nEdges)
  }

  /** Labels of a graph small enough for one task: [[minIdRoots]] over the
    * coalesced edge checkpoint, materialized by one job.
    */
  private def labelInOneTask(sym: DataFrame): DataFrame = {
    val idType = sym.schema("x").dataType
    val pairs = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    checkpointCounting(
      sym.select(col("x").cast("long"), col("y").cast("long")).as(pairs)
        .coalesce(1).mapPartitions(minIdRoots)(pairs)
        .toDF("id", "lbl").select(col("id").cast(idType), col("lbl").cast(idType)))._1
  }

  /** Union-find over edges: (node, min id of its component) for every
    * endpoint. The larger root always links under the smaller, so each
    * root is its component's minimum. `find` and path compression are
    * loops, not recursion, so a long path cannot overflow the stack.
    */
  private def minIdRoots(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = mutable.LongMap.empty[Long]
    def find(v: Long): Long = {
      var root = v
      while (parent(root) != root) root = parent(root)
      var cur = v
      while (cur != root) { val up = parent(cur); parent(cur) = root; cur = up }
      root
    }
    edges.foreach { case (x, y) =>
      parent.getOrElseUpdate(x, x)
      parent.getOrElseUpdate(y, y)
      val (rx, ry) = (find(x), find(y))
      if (rx < ry) parent(ry) = rx else if (ry < rx) parent(rx) = ry
    }
    parent.keys.toArray.iterator.map(v => v -> find(v))
  }

  /** The distributed rounds of [[minLabelPropagate]] over its [[symmetrized]]
    * edges. Each round is one shuffled join + grouped min over the edges
    * PLUS two pointer-jumping steps (lbl <- lbl(lbl)). Where ids rise along
    * a path, label distance grows geometrically per round, so convergence
    * needs O(log diameter) rounds (edge-only propagation needs diameter
    * rounds and mislabeled a >10-hop near-dup chain at sf0.1 at the cap).
    * On a path with shuffled ids the rounds grow linearly (a 60-node path:
    * median 23 over 20 seeded shuffles, past the default cap).
    * Convergence is a changed-label count hitting zero. Pointer jumping is
    * sound because labels only ever move to ids reachable over the
    * symmetrized edges: lbl(v) is reachable from v, hence lbl(lbl(v)) is
    * too.
    *
    * Per-round state is one (id, lbl) row per node. Each round is ONE
    * materialization: it `localCheckpoint()`s its labels, and the same job
    * counts the changed ones and the rows ([[checkpointCounting]]). The
    * round-t plan references round t-1 THREE times, so without the
    * checkpoint the plan grows 3^t (observed: a 2 GB plan blew the driver
    * heap), and without the exact row count as the checkpoint's estimate
    * the join estimates compound round over round (a 60-round call stalled
    * in planning).
    */
  private[graft] def labelRounds(sym: DataFrame, nEdges: Long, maxRounds: Int): DataFrame = {
    val spark = sym.sparkSession
    // Size the ROUND shuffles to the edge volume, not the session's batch
    // width: each round schedules `shuffle.partitions` tasks per exchange
    // regardless of data size. A 100 TB corpus's edge set sizes this
    // straight back up to the session width. Every returned frame is
    // checkpointed inside the `withConf` scope, so callers never recompile
    // under it.
    val parts = math.max(1L, math.min(spark.sparkContext.defaultParallelism.toLong,
      nEdges / EdgesPerRoundPartition + 1L))
    // MEASURED NEGATIVE (r17, kept so it isn't re-tried): disabling AQE
    // inside the loop to collapse the ~6 stage-jobs per round into one
    // job made dedup_canonical 4.9 s -> 7.3 s (7-rep medians) — AQE's
    // per-exchange stage jobs are what RE-PLANS each round's label joins
    // into runtime broadcasts; without it the rounds pay real exchanges.
    // The scheduling overhead the extra jobs cost is smaller than the
    // join re-planning they buy, even at 1 shuffle partition.
    GraftSession.withConf(spark, "spark.sql.shuffle.partitions" -> parts.toString) {
      // Seed with min(id, min neighbor) — the result of the first
      // identity-label round, folded into one aggregate. groupBy(x) over
      // the symmetrized edges is the same relation as groupBy(y) (every
      // (a,b) has its mirror (b,a)).
      var labels: DataFrame = checkpointCounting(
        sym.groupBy(col("x").as("id")).agg(min(col("y")).as("nbl"))
          .select(col("id"), least(col("id"), col("nbl")).as("lbl")))._1
      var round = 0
      var converged = false
      while (!converged && round < maxRounds) {
        val nb = sym.join(labels, sym("x") === labels("id"))
          .groupBy(sym("y").as("id")).agg(min(col("lbl")).as("nbl"))
        // Carry the PREVIOUS label through the round so convergence is a
        // count over the round's own rows instead of a per-round join of
        // two label tables (one fewer shuffle per round).
        val prop = labels.join(nb, Seq("id"), "left")
          .select(col("id"), least(col("lbl"), coalesce(col("nbl"), col("lbl"))).as("lbl"),
            col("lbl").as("prev"))
        // Pointer jumping, TWICE per round, through the PREVIOUS round's
        // materialized label table (not through prop): each jump join
        // references `labels` — an already-checkpointed RDD scan — so the
        // whole round stays ONE materialization with no duplicated
        // neighbor-min subtree, and label depth grows ~3x per round
        // (neighbor step + two chained jumps) instead of 2x
        // (measured round counts at sf0.1 stayed 8/7/6 — the win is the
        // single materialization, 121->98 jobs on customer_components).
        // Sound for the same reason as classic doubling:
        // labels(v) is reachable from v, so least() only ever moves a
        // label to a smaller reachable id; the fixpoint (min reachable
        // id) is unique, and the changed==0 exit certifies it exactly.
        val jt1 = labels.select(col("id").as("j1id"), col("lbl").as("j1lbl"))
        val j1 = prop.join(jt1, col("lbl") === col("j1id"), "left")
          .select(col("id"),
            least(col("lbl"), coalesce(col("j1lbl"), col("lbl"))).as("lbl"),
            col("prev"))
        val jt2 = labels.select(col("id").as("j2id"), col("lbl").as("j2lbl"))
        val (next, Seq(changed)) = checkpointCounting(
          j1.join(jt2, col("lbl") === col("j2id"), "left")
            .select(col("id"),
              least(col("lbl"), coalesce(col("j2lbl"), col("lbl"))).as("lbl"),
              col("prev")),
          col("lbl") =!= col("prev"))
        labels = next.select(col("id"), col("lbl"))
        converged = changed == 0
        round += 1
      }
      if (!converged)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"minLabelPropagate hit maxRounds=$maxRounds before the fixpoint over $nEdges " +
            "symmetrized edges: returned labels may split components (raise maxRounds)")
      labels
    }
  }

  /** Eager `localCheckpoint` of `df` and, per predicate, the number of its
    * rows where it holds, all counted by the checkpoint's own job
    * (`Dataset.observe`): the iterative operators' per-round metrics
    * without a second action. The same job counts the rows, and the
    * checkpoint carries that exact count as its size estimate
    * ([[CheckpointStats.withRowCount]]).
    */
  private[graft] def checkpointCounting(df: DataFrame, preds: Column*): (DataFrame, Seq[Long]) = {
    val obs = Observation()
    val counts = preds.zipWithIndex.map { case (p, i) => count_if(p).as(s"n$i") }
    val cp = df.observe(obs, count(lit(1)).as("rows"), counts: _*).localCheckpoint()
    val m = obs.get
    (CheckpointStats.withRowCount(cp, m("rows").asInstanceOf[Long]),
      preds.indices.map(i => m(s"n$i").asInstanceOf[Long]))
  }

  /** Component-size histogram DERIVED from an already-computed
    * components frame (id, lbl): (component_size, n_components). The
    * composed half of the components API — compute the fixpoint once
    * with [[minLabelPropagate]], derive every readout from the returned
    * frame. Two grouped counts over O(nodes) rows: the first keyed on
    * lbl (component count per label), the second on the count itself —
    * both shrink geometrically, nothing rescans edges.
    */
  def componentSizes(components: DataFrame): DataFrame = components
    .groupBy("lbl").agg(count(lit(1)).as("component_size"))
    .groupBy("component_size").agg(count(lit(1)).as("n_components"))
}
