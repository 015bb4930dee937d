package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Harness-level contracts of [[DistributedSgd]]: best-epoch
  * checkpointing (reference main.py:44-56 — keep the lowest-loss epoch,
  * not the last) and the deterministic Adam step (main.py:24). The model
  * here is a deliberately DIVERGING scalar descent (lr far above the
  * quadratic's stability bound), because best-epoch selection only
  * matters when the loss curve is non-monotone — on a well-tuned run
  * best == last and the checkpoint is invisible.
  */
class DistributedSgdSpec extends AnyFunSuite {
  private val spark = graft.SparkTestSession.spark
  import spark.implicits._

  // 40 windows of the single "observation" 1.0; loss(p) = (p - 1)^2.
  private lazy val seqs =
    Seq.fill(40)(Seq(1.0)).toDF("xc").repartition(2).cache()

  // Closures live in a top-level object so Spark's closure cleaner never
  // drags the (non-serializable) suite instance over the wire.
  import DistributedSgdSpec.{adamStep, divergingStep, lossOf, twoPassFit}

  test("epochScorer returns the BEST epoch, not the last (diverging curve)") {
    val last = DistributedSgd.fit(seqs, "xc", 4, Array(0.5), divergingStep)
    val best = DistributedSgd.fit(seqs, "xc", 4, Array(0.5), divergingStep,
      epochScorer = Some(lossOf))
    def l(p: Array[Double]) = { val d = p(0) - 1.0; d * d }
    assert(l(best) < l(last),
      s"best-epoch params (loss ${l(best)}) should beat last-epoch (loss ${l(last)})")
  }

  test("best-of-K epochs is prefix-monotone in K") {
    // Same data + same init: epochs=K replays the identical first K-1
    // epochs, so the selected best can only improve (or stay) as K grows
    // — the defining invariant of a checkpoint, and deterministic here.
    def l(p: Array[Double]) = { val d = p(0) - 1.0; d * d }
    val losses = (1 to 4).map(k => l(DistributedSgd.fit(
      seqs, "xc", k, Array(0.5), divergingStep, epochScorer = Some(lossOf))))
    assert(losses.sliding(2).forall { case Seq(a, b) => b <= a + 1e-15 },
      s"best-of-K losses must be non-increasing in K: $losses")
  }

  test("Adam: converges on a quadratic and is bit-deterministic") {
    def adamFit() = DistributedSgd.fit(seqs, "xc", 3, Array(8.0),
      (_, p, ws) => {
        val adam = new DistributedSgd.Adam(1, lr = 0.3)
        val g = new Array[Double](1)
        ws.foreach { x => g(0) = 2.0 * (p(0) - x(0)); adam.step(p, g) }
        p
      },
      epochScorer = Some(lossOf))
    val p1 = adamFit()
    val p2 = adamFit()
    assert(p1(0) == p2(0), "same data + same partitioning must be bit-identical")
    assert(math.abs(p1(0) - 1.0) < math.abs(8.0 - 1.0) * 0.1,
      s"Adam should close >90% of the gap to the optimum; got ${p1(0)}")
  }

  test("Adam normalizes badly scaled gradient dimensions (the reason it exists)") {
    // f(p) = (p0 - 1)^2 + (1e-3 * p1 - 1e-3)^2: dimension 1's gradient is
    // 1e-6 times dimension 0's. Plain SGD at any stable lr barely moves
    // p1; Adam's per-parameter second moment rescales both to unit-ish
    // steps, so p1 makes real progress in the same pass.
    def grads(p: Array[Double], g: Array[Double]): Unit = {
      g(0) = 2.0 * (p(0) - 1.0)
      g(1) = 2.0e-6 * (p(1) - 1.0)
    }
    val sgdP = Array(0.0, 0.0)
    val adamP = Array(0.0, 0.0)
    val adam = new DistributedSgd.Adam(2, lr = 0.05)
    val g = new Array[Double](2)
    for (_ <- 1 to 200) { grads(sgdP, g); sgdP(0) -= 0.05 * g(0); sgdP(1) -= 0.05 * g(1) }
    for (_ <- 1 to 200) { grads(adamP, g); adam.step(adamP, g) }
    assert(math.abs(sgdP(1) - 1.0) > 0.99, "SGD should have barely moved the tiny-gradient dim")
    assert(math.abs(adamP(1) - 1.0) < 0.5,
      s"Adam should make real progress on the tiny-gradient dim; p1=${adamP(1)}")
  }

  test("the fused fit matches the two-pass loop bit for bit and selects the same epoch") {
    for ((name, init, step) <- Seq(("diverging", 0.5, divergingStep _), ("adam", 8.0, adamStep _))) {
      val (refBest, refEpoch, perEpoch) = twoPassFit(seqs, "xc", 5, Array(init), step, lossOf)
      val got = DistributedSgd.fit(seqs, "xc", 5, Array(init), step, epochScorer = Some(lossOf))
      assert(java.util.Arrays.equals(got, refBest), s"$name: ${got.toSeq} vs ${refBest.toSeq}")
      val epochs = perEpoch.indices.filter(i => java.util.Arrays.equals(perEpoch(i), got)).map(_ + 1)
      assert(epochs == Seq(refEpoch), s"$name: selected epochs $epochs, reference $refEpoch")
      val last = DistributedSgd.fit(seqs, "xc", 5, Array(init), step)
      assert(java.util.Arrays.equals(last, perEpoch.last), s"$name: last epoch without a scorer")
    }
  }

  test("E epochs run E + 1 jobs with a scorer and E without") {
    DistributedSgd.fit(seqs, "xc", 1, Array(0.5), divergingStep, epochScorer = Some(lossOf))
    for (e <- Seq(1, 4)) {
      val scored = graft.SparkTestSession.countJobs(
        DistributedSgd.fit(seqs, "xc", e, Array(0.5), divergingStep, epochScorer = Some(lossOf)))
      assert(scored == e + 1, s"$e epochs with a scorer: $scored jobs")
      val plain = graft.SparkTestSession.countJobs(
        DistributedSgd.fit(seqs, "xc", e, Array(0.5), divergingStep))
      assert(plain == e, s"$e epochs without a scorer: $plain jobs")
    }
  }
}

private object DistributedSgdSpec {
  // Gradient step with lr = 1.5 on f(p) = (p-c)^2: p <- p - 1.5*2*(p-c)
  // = -2p + 3c, so |p - c| doubles each step — every epoch is WORSE than
  // the one before after epoch 1 (deterministically).
  def divergingStep(ep: Int, p: Array[Double], ws: Iterator[Array[Double]]): Array[Double] = {
    ws.foreach { x => p(0) -= 1.5 * 2.0 * (p(0) - x(0)) }
    p
  }
  val lossOf: Array[Double] => (Array[Double] => Double) =
    p => x => { val d = p(0) - x(0); d * d }

  def adamStep(ep: Int, p: Array[Double], ws: Iterator[Array[Double]]): Array[Double] = {
    val adam = new DistributedSgd.Adam(1, lr = 0.3)
    val g = new Array[Double](1)
    ws.foreach { x => g(0) = 2.0 * (p(0) - x(0)); adam.step(p, g) }
    p
  }

  /** The best-epoch loop as a training pass and a separate loss pass per
    * epoch: exact BigDecimal loss sums per partition, merged in partition
    * order. Returns the best parameters, their 1-based epoch and every
    * epoch's averaged parameters. */
  def twoPassFit(seqs: DataFrame, seqCol: String, epochs: Int, init: Array[Double],
                 partitionFit: (Int, Array[Double], Iterator[Array[Double]]) => Array[Double],
                 mkErr: Array[Double] => (Array[Double] => Double))
      : (Array[Double], Int, IndexedSeq[Array[Double]]) = {
    import java.math.{BigDecimal => JBD, MathContext}
    val sc = seqs.sparkSession.sparkContext
    val idx = seqs.schema.fieldIndex(seqCol)
    val trainRdd = seqs.rdd.map(_.getSeq[Double](idx).toArray).cache()
    var params = init
    var best: Array[Double] = null
    var bestEpoch = 0
    var bestLoss = Double.PositiveInfinity
    val perEpoch = (1 to epochs).map { epoch =>
      val bc = sc.broadcast(params)
      val partResults = trainRdd.mapPartitionsWithIndex { (pid, rows) =>
        if (rows.isEmpty) Iterator.empty
        else {
          var n = 0L
          val p = partitionFit(epoch, bc.value.clone(), rows.map { x => n += 1; x })
          Iterator.single((pid, p, n))
        }
      }.collect().sortBy(_._1)
      bc.destroy()
      val total = partResults.map(_._3).sum.toDouble
      val acc = new Array[Double](params.length)
      partResults.foreach { case (_, p, n) =>
        val wgt = n / total
        var k = 0
        while (k < acc.length) { acc(k) += wgt * p(k); k += 1 }
      }
      params = acc
      val bcl = sc.broadcast(params)
      val parts = trainRdd.mapPartitionsWithIndex { (pid, rows) =>
        val err = mkErr(bcl.value)
        var s = JBD.ZERO
        var n = 0L
        rows.foreach { x => s = s.add(new JBD(err(x))); n += 1 }
        if (n == 0) Iterator.empty else Iterator.single((pid, s, n))
      }.collect().sortBy(_._1)
      bcl.destroy()
      val loss = parts.map(_._2).foldLeft(JBD.ZERO)(_.add(_))
        .divide(JBD.valueOf(parts.map(_._3).sum), MathContext.DECIMAL128).doubleValue
      if (loss < bestLoss) { bestLoss = loss; best = params; bestEpoch = epoch }
      params
    }
    trainRdd.unpersist(blocking = false)
    (best, bestEpoch, perEpoch)
  }
}
