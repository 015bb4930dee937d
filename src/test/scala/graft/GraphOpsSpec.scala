package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.operators.GraphOps

class GraphOpsSpec extends AnyFunSuite with TimeLimits {
  import SparkTestSession.spark
  import spark.implicits._

  // A hung metric wait fails the test instead of the suite.
  implicit val signaler: Signaler = ThreadSignaler

  private def labelsOf(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Labels from the distributed round loop, whatever the graph's size. */
  private def viaLoop(edges: DataFrame, maxRounds: Int = 10): Map[Long, Long] = {
    val (sym, nEdges) = GraphOps.symmetrized(edges)
    labelsOf(GraphOps.labelRounds(sym, nEdges, maxRounds))
  }

  /** Driver-side union-find reference: component label = min id. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(v: Long): Long = {
      var r = parent.getOrElseUpdate(v, v)
      while (parent(r) != r) r = parent(r)
      r
    }
    edges.foreach { case (x, y) =>
      val (rx, ry) = (find(x), find(y))
      if (rx != ry) { parent(math.max(rx, ry)) = math.min(rx, ry) }
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  /** A path over `n` ids in random order. */
  private def shuffledPath(n: Int, seed: Long): Seq[(Long, Long)] = {
    val order = new scala.util.Random(seed).shuffle((1L to n.toLong).toVector)
    order.zip(order.tail)
  }

  test("chain cluster gets ONE label at fixpoint (fixed-round would split it)") {
    // A 5-hop chain: diameter > 2, so two fixed propagation rounds would
    // leave split labels; the fixpoint must label every node 1.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)).toDF("x", "y")
    val labels = GraphOps.minLabelPropagate(edges).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 6L -> 1L))
  }

  test("disjoint components keep distinct min-id labels") {
    val edges = Seq((10L, 11L), (11L, 12L), (20L, 21L), (30L, 31L), (31L, 32L), (32L, 33L))
      .toDF("x", "y")
    val labels = GraphOps.minLabelPropagate(edges).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(12L) == 10L && labels(11L) == 10L)
    assert(labels(21L) == 20L)
    assert(labels(33L) == 30L && labels(31L) == 30L)
    assert(labels.size == 9)
  }

  test("round cap bounds the iteration count") {
    // A 30-hop path with maxRounds=3: must terminate (no hang) even though
    // 3 rounds cannot reach the fixpoint; labels are monotone non-increasing.
    // Below the one-task gate the public call never runs rounds, so the
    // cap is driven through the round loop itself.
    val edges = (1L until 30L).map(i => (i, i + 1)).toDF("x", "y")
    val labels = viaLoop(edges, maxRounds = 3)
    assert(labels.size == 30)
    assert(labels.forall { case (id, lbl) => lbl <= id })
  }

  test("df-pruning bounds hot-shingle candidate pairs") {
    // One shingle hash shared by 60 docs (corpus boilerplate) would emit
    // 60*59/2 = 1770 pairs; with df <= 10 pruning those vanish and only
    // the genuine low-df pairs survive — the exact shape used by
    // dedup_ngram_jaccard's pre-join filter.
    val hot  = (1L to 60L).map(d => (d, 999L))           // df = 60 -> pruned
    val cold = Seq((1L, 5L), (2L, 5L), (3L, 7L))         // df <= 2 -> kept
    val ex = (hot ++ cold).toDF("doc_id", "s")
      .withColumn("df", count(lit(1)).over(Window.partitionBy("s")))
      .filter(col("df") <= 10)
      .drop("df")
    val pairs = ex.as("a").join(ex.as("b"),
      col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
    assert(pairs.count() == 1) // only (1,2) via shingle 5
  }

  test("checkpointCounting observes the count on the checkpoint's own job") {
    failAfter(2.minutes) {
      val (r, Seq(n)) = GraphOps.checkpointCounting(spark.range(0, 1000).toDF("v"), col("v") % 3 === 0)
      assert(n == 334 && r.count() == 1000)
      // An AQE join + aggregate, and inputs that are empty before and at
      // run time.
      val a = spark.range(0, 500).select((col("id") % 50).as("k"), col("id").as("v"))
      val b = spark.range(0, 50).select(col("id").as("k"), (col("id") * 2).as("w"))
      val agg = a.join(b, "k").groupBy("k").agg(sum("w").as("s"))
      val (aggCp, Seq(nBig)) = GraphOps.checkpointCounting(agg, col("s") >= 500)
      assert(nBig == aggCp.filter(col("s") >= 500).count() && nBig == 25)
      val (_, Seq(nEmpty)) = GraphOps.checkpointCounting(Seq.empty[(Long, Long)].toDF("x", "y"), lit(true))
      assert(nEmpty == 0)
      val (_, Seq(nJoinEmpty)) = GraphOps.checkpointCounting(
        a.join(b.where(col("w") < 0), "k").groupBy("k").count(), lit(true))
      assert(nJoinEmpty == 0)
    }
  }

  test("labels equal a union-find reference on random graphs at 1 and 13 shuffle partitions") {
    val rng = new scala.util.Random(4711)
    val ids = rng.shuffle((1L to 400L).toVector)
    var next = 0
    def take(n: Int): Vector[Long] = { val t = ids.slice(next, next + n); next += n; t }
    // Chains beyond 3^3 hops, ids monotone along each chain (rising or
    // falling): the shape pointer jumping covers in ~log3(hops) rounds.
    // A chain with shuffled ids needs rounds linear in its length (a
    // 60-node one: ~23), past the default cap.
    val chains = Seq(60, 35, 29).map(take).zipWithIndex.flatMap { case (c, i) =>
      val m = if (i % 2 == 0) c.sorted else c.sorted.reverse
      m.zip(m.tail)
    }
    val stars = Seq(25, 8).map(take).flatMap(s => s.tail.map(s.head -> _))
    val blobs = Seq(30, 12, 5).map(take).flatMap { nodes =>
      // a spanning path in random order plus random extra edges
      val order = rng.shuffle(nodes)
      order.zip(order.tail) ++ Seq.fill(nodes.size)(nodes(rng.nextInt(nodes.size)) -> nodes(rng.nextInt(nodes.size)))
    }
    val pairs = Seq(2, 2, 2).map(take).map(p => p(0) -> p(1))
    val loop = take(1).map(v => v -> v)
    val all = rng.shuffle(chains ++ stars ++ blobs ++ pairs ++ loop ++ chains.take(5))
    val expected = unionFind(all)
    for (n <- Seq(1, 13)) {
      val (got, loop) = SparkTestSession.withShufflePartitions(n) {
        val edges = all.toDF("x", "y").repartition(3)
        (labelsOf(GraphOps.minLabelPropagate(edges)), viaLoop(edges))
      }
      assert(got == expected, s"at $n shuffle partitions")
      assert(loop == expected, s"round loop at $n shuffle partitions")
    }
  }

  test("an empty edge frame returns empty labels") {
    failAfter(2.minutes) {
      val labels = GraphOps.minLabelPropagate(Seq.empty[(Long, Long)].toDF("x", "y"))
      assert(labels.columns.toSeq == Seq("id", "lbl"))
      assert(labels.collect().isEmpty)
    }
  }

  test("a warm call on a fixed chain runs at most 30 jobs") {
    // The edge and changed-label counts come off the checkpoint jobs. The
    // chain is below the one-task gate, so the rounds are driven through
    // the round loop: the bound is the loop's.
    val edges = (1L until 40L).map(i => (i, i + 1)).toDF("x", "y")
    def call() = viaLoop(edges)
    assert(call().values.toSet == Set(1L))
    val jobs = SparkTestSession.countJobs(call())
    assert(jobs <= 30, s"$jobs jobs")
  }

  test("below the gate a warm call runs 3 jobs: edges, one-task labels, collect") {
    val edges = (1L until 40L).map(i => (i, i + 1)).toDF("x", "y")
    def call() = labelsOf(GraphOps.minLabelPropagate(edges))
    assert(call().values.toSet == Set(1L))
    val jobs = SparkTestSession.countJobs(call())
    assert(jobs == 3, s"$jobs jobs")
  }

  test("shuffled-id chains of 60/35/29 nodes get one label each at the default maxRounds") {
    // The round loop needs rounds linear in such a chain's length (a
    // 60-node one: ~23), past the default cap; one task has no cap.
    val chains = Seq(60, 35, 29).zipWithIndex.flatMap { case (n, i) =>
      shuffledPath(n, 31L + i).map { case (x, y) => (x + 1000L * i, y + 1000L * i) }
    }
    val labels = labelsOf(GraphOps.minLabelPropagate(chains.toDF("x", "y")))
    assert(labels == unionFind(chains))
    assert(labels.values.toSet == Set(1L, 1001L, 2001L))
  }

  test("a 20,000-node path with shuffled ids is labeled in one task") {
    failAfter(3.minutes) {
      val path = shuffledPath(20000, 7L)
      assert(2L * path.size < GraphOps.EdgesPerRoundPartition)
      val edges = path.toDF("x", "y")
      var labels = Map.empty[Long, Long]
      val jobs = SparkTestSession.countJobs { labels = labelsOf(GraphOps.minLabelPropagate(edges)) }
      assert(labels.size == 20000 && labels.values.toSet == Set(1L))
      assert(jobs <= 4, s"$jobs jobs")
    }
  }

  test("one-task labels equal the round loop's and a union-find's on 30 seeded random graphs") {
    failAfter(5.minutes) {
      val rng = new scala.util.Random(9090)
      for (g <- 1 to 30) {
        val n = 2 + rng.nextInt(24)
        val ids = rng.shuffle((1L to 500L).toVector).take(n)
        // a random forest (some nodes start a new tree), plus extra edges,
        // self-loops and repeats
        val forest = (1 until n).filter(_ => rng.nextInt(5) > 0).map(i => ids(i) -> ids(rng.nextInt(i)))
        val extra = Seq.fill(rng.nextInt(n))(ids(rng.nextInt(n)) -> ids(rng.nextInt(n)))
        val all = rng.shuffle(forest ++ extra ++ Seq(ids.head -> ids.head))
        val edges = all.toDF("x", "y")
        val expected = unionFind(all)
        assert(labelsOf(GraphOps.minLabelPropagate(edges)) == expected, s"graph $g one task")
        assert(viaLoop(edges, maxRounds = n + 1) == expected, s"graph $g round loop")
      }
    }
  }

  test("the round loop reaches a 60-node shuffled-id path's fixpoint at maxRounds = 60") {
    // Each round's checkpoint carries its exact row count as its size
    // estimate; with the estimate of the plan it materialized, the join
    // estimates compounded round over round and planning stalled past ~12
    // rounds.
    failAfter(3.minutes) {
      val path = shuffledPath(60, 23L)
      assert(viaLoop(path.toDF("x", "y"), maxRounds = 60) == unionFind(path))
    }
  }

  test("an edge with a null endpoint fails the call, counted on the edge job") {
    failAfter(2.minutes) {
      for (edges <- Seq(Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (2L, null)),
                        Seq[(java.lang.Long, java.lang.Long)]((null, 5L), (5L, 6L)))) {
        val e = intercept[IllegalArgumentException](GraphOps.minLabelPropagate(edges.toDF("x", "y")))
        assert(e.getMessage.contains("minLabelPropagate: 1 null endpoint"), e.getMessage)
      }
      val clean = Seq((1L, 2L), (2L, 3L)).toDF("x", "y")
      GraphOps.symmetrized(clean)
      assert(SparkTestSession.countJobs(GraphOps.symmetrized(clean)) == 1)
    }
  }
}
