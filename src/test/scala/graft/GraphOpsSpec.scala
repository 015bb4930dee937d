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
    val edges = (1L until 30L).map(i => (i, i + 1)).toDF("x", "y")
    val labels = GraphOps.minLabelPropagate(edges, maxRounds = 3)
    assert(labels.count() == 30)
    assert(labels.filter(col("lbl") > col("id")).count() == 0)
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
      val (r, n) = GraphOps.checkpointCounting(spark.range(0, 1000).toDF("v"), col("v") % 3 === 0)
      assert(n == 334 && r.count() == 1000)
      // An AQE join + aggregate, and inputs that are empty before and at
      // run time.
      val a = spark.range(0, 500).select((col("id") % 50).as("k"), col("id").as("v"))
      val b = spark.range(0, 50).select(col("id").as("k"), (col("id") * 2).as("w"))
      val agg = a.join(b, "k").groupBy("k").agg(sum("w").as("s"))
      val (aggCp, nBig) = GraphOps.checkpointCounting(agg, col("s") >= 500)
      assert(nBig == aggCp.filter(col("s") >= 500).count() && nBig == 25)
      val (_, nEmpty) = GraphOps.checkpointCounting(Seq.empty[(Long, Long)].toDF("x", "y"), lit(true))
      assert(nEmpty == 0)
      val (_, nJoinEmpty) = GraphOps.checkpointCounting(
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
    // driver-side union-find, component label = min id
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(v: Long): Long = { val p = parent.getOrElseUpdate(v, v); if (p == v) v else { val r = find(p); parent(v) = r; r } }
    all.foreach { case (x, y) =>
      val (rx, ry) = (find(x), find(y))
      if (rx != ry) { parent(math.max(rx, ry)) = math.min(rx, ry) }
    }
    val expected = parent.keys.map(v => v -> find(v)).toMap
    for (n <- Seq(1, 13)) {
      val got = SparkTestSession.withShufflePartitions(n) {
        labelsOf(GraphOps.minLabelPropagate(all.toDF("x", "y").repartition(3)))
      }
      assert(got == expected, s"at $n shuffle partitions")
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
    // The edge and changed-label counts come off the checkpoint jobs.
    val edges = (1L until 40L).map(i => (i, i + 1)).toDF("x", "y")
    def call() = labelsOf(GraphOps.minLabelPropagate(edges))
    assert(call().values.toSet == Set(1L))
    val jobs = SparkTestSession.countJobs(call())
    assert(jobs <= 30, s"$jobs jobs")
  }
}
