package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{LstmAutoencoder, MlpAutoencoder}
import graft.operators.LstmAutoencoder.LstmDims

class LstmAutoencoderSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  // Same seeded daily-cycle + injected-spike synthetic as
  // MlpAutoencoderSpec — the reference's domain shape.
  private val SpikeAt = Set(200L, 300L, 520L)
  private lazy val synthetic = {
    val rng = new scala.util.Random(7)
    val rows = for {
      u <- Seq("a", "b")
      t <- 1L to 600L
    } yield {
      val base = 5.0 * math.sin(2 * math.Pi * t / 24.0) + 0.3 * rng.nextGaussian()
      val v = if (SpikeAt(t)) base + 25.0 else base
      (t, u, v)
    }
    rows.toDF("event_id", "user_id", "value")
      .withColumn("ts", timestamp_micros(col("event_id") * 3600L * 1000000L))
  }

  private def recall(flagged: Set[Long]): Double =
    SpikeAt.count(flagged.contains).toDouble / SpikeAt.size

  test("scoreWith: hand-indexed scalar math reproduces the forward loops bit-for-bit (l=2 h=1 b=1 model)") {
    // Every parameter index written out explicitly against the layout
    // doc — a transposition, gate-order or state-threading defect in
    // lstmStep/stackForward/forwardLoss cannot match. Layout at
    // f=1,l=2,h=1,b=1: enc gates 4x3 at 0..11 (per gate: W,U,b; forget
    // bias p(5) init convention not used — params here are arbitrary),
    // Wb=12 bb=13, dec gates 4x3 at 14..25, Wo=26 bo=27.
    val d = LstmDims(f = 1, l = 2, h = 1, b = 1)
    assert(d.total == 28)
    val p = Array.tabulate(28)(i => 0.03 * (i % 7) - 0.09)
    val tnh = MlpAutoencoder.portableTanh _
    val sg = LstmAutoencoder.portableSigmoid _
    val x = Seq(0.5, -0.3)
    def cell(xv: Double, hP: Double, cP: Double): (Double, Double) = {
      val ig = sg(p(2) + p(0) * xv + p(1) * hP)
      val fg = sg(p(5) + p(3) * xv + p(4) * hP)
      val og = sg(p(8) + p(6) * xv + p(7) * hP)
      val gg = tnh(p(11) + p(9) * xv + p(10) * hP)
      val c = fg * cP + ig * gg
      (og * tnh(c), c)
    }
    val (eh1, ec1) = cell(x(0), 0.0, 0.0)
    val (eh2, _) = cell(x(1), eh1, ec1)
    val cv = tnh(p(13) + p(12) * eh2)
    def dcell(hP: Double, cP: Double): (Double, Double) = {
      val ig = sg(p(16) + p(14) * cv + p(15) * hP)
      val fg = sg(p(19) + p(17) * cv + p(18) * hP)
      val og = sg(p(22) + p(20) * cv + p(21) * hP)
      val gg = tnh(p(25) + p(23) * cv + p(24) * hP)
      val c = fg * cP + ig * gg
      (og * tnh(c), c)
    }
    val (dh1, dc1) = dcell(0.0, 0.0)
    val (dh2, _) = dcell(dh1, dc1)
    val xh0 = p(27) + p(26) * dh1
    val xh1 = p(27) + p(26) * dh2
    val expected =
      (0.0 + (xh0 - x(0)) * (xh0 - x(0)) + (xh1 - x(1)) * (xh1 - x(1))) / 2
    val out = LstmAutoencoder.scoreWith(
        Seq((1L, x)).toDF("id", "seq"), "seq", p, d, tnh, sg)
      .select("recon_err").as[Double].collect()
    assert(out.length == 1 && out(0) == expected,
      s"got ${out.toSeq}, expected $expected")
  }

  test("portableSigmoid: saturation continuous with the round6 formula, monotone, complements at 0") {
    assert(LstmAutoencoder.portableSigmoid(16.0) == 1.0)
    assert(LstmAutoencoder.portableSigmoid(-16.0) == 0.0)
    assert(LstmAutoencoder.portableSigmoid(15.9999) == 1.0)
    assert(LstmAutoencoder.portableSigmoid(-15.9999) == 0.0)
    assert(LstmAutoencoder.portableSigmoid(0.0) == 0.5)
    assert(LstmAutoencoder.portableSigmoid(1000.0) == 1.0, "overflow region saturates, never NaN")
    val s = LstmAutoencoder.portableSigmoid(0.7)
    assert(s > 0.5 && s < 1.0)
    assert(s == graft.functions.CleanFunctions.round6Jvm(s), "gate activation is round6-quantized")
  }

  test("BPTT gradient matches central finite differences on every parameter") {
    val d = LstmDims(f = 2, l = 5, h = 4, b = 3)
    val rng = new scala.util.Random(11)
    // Perturb the structured init (zero/one biases) so no parameter sits
    // at a symmetric point where a sign error could hide.
    val p = LstmAutoencoder.init(d, 3L).map(_ + (rng.nextDouble() - 0.5) * 0.2)
    val x = Array.fill(d.l * d.f)((rng.nextDouble() - 0.5) * 2.0)
    val grad = new Array[Double](d.total)
    LstmAutoencoder.lossAndGrad(p, x, d, grad)
    val eps = 1e-5
    val scratch = new Array[Double](d.total)
    var worst = 0.0
    (0 until d.total).foreach { k =>
      val pk = p(k)
      p(k) = pk + eps
      val up = LstmAutoencoder.lossAndGrad(p, x, d, scratch)
      p(k) = pk - eps
      val dn = LstmAutoencoder.lossAndGrad(p, x, d, scratch)
      p(k) = pk
      val fd = (up - dn) / (2 * eps)
      val err = math.abs(grad(k) - fd) / (1e-6 + math.max(math.abs(grad(k)), math.abs(fd)))
      worst = math.max(worst, err)
      assert(math.abs(grad(k) - fd) <= 1e-6 + 1e-4 * math.abs(fd),
        s"param $k: analytic ${grad(k)} vs finite-diff $fd")
    }
    assert(worst < 1e-3, s"worst relative gradient error $worst")
  }

  test("referenceDecoder (linear latent + decoder_fc inflation) gradient matches finite differences") {
    // The reference's EXACT decoder wiring (deep_learning_models.py:
    // 26,30,64-74): linear encoder_fc latent, decoder_fc inflating the
    // code to hidden_dim, the inflated vector repeated as decoder input.
    // Stacked (nl=2) so the flag composes with inter-layer routing; the
    // FD sweep covers the new Wd/bd block and the un-squashed bottleneck
    // chain rule on every parameter.
    val d = LstmDims(f = 2, l = 5, h = 4, b = 3, nl = 2, refDec = true)
    assert(d.total > LstmDims(f = 2, l = 5, h = 4, b = 3, nl = 2).total,
      "refDec must add the decoder_fc block to the layout")
    val rng = new scala.util.Random(17)
    val p = LstmAutoencoder.init(d, 3L).map(_ + (rng.nextDouble() - 0.5) * 0.2)
    val x = Array.fill(d.l * d.f)((rng.nextDouble() - 0.5) * 2.0)
    val grad = new Array[Double](d.total)
    LstmAutoencoder.lossAndGrad(p, x, d, grad)
    val eps = 1e-5
    val scratch = new Array[Double](d.total)
    (0 until d.total).foreach { k =>
      val pk = p(k)
      p(k) = pk + eps
      val up = LstmAutoencoder.lossAndGrad(p, x, d, scratch)
      p(k) = pk - eps
      val dn = LstmAutoencoder.lossAndGrad(p, x, d, scratch)
      p(k) = pk
      val fd = (up - dn) / (2 * eps)
      assert(math.abs(grad(k) - fd) <= 1e-6 + 1e-4 * math.abs(fd),
        s"param $k: analytic ${grad(k)} vs finite-diff $fd")
    }
  }

  test("referenceDecoder detector is deterministic and keeps the recall bar") {
    def run() = LstmAutoencoder.detect(synthetic, Seq("user_id"),
        Seq("ts", "event_id"), Seq("value"), seqLen = 24, hidden = 8,
        bottleneck = 4, nLayers = 2, referenceDecoder = true)
      .filter(col("is_anomaly") === 1L).select("event_id").as[Long].collect().toSet
    val a = run()
    assert(a == run(), "same data twice must flag identical windows")
    assert(recall(a) >= 0.9,
      s"reference-architecture recall ${recall(a)} below the bar")
  }

  test("default-mode layout and init are unchanged by the referenceDecoder extension") {
    val base = LstmDims(f = 2, l = 5, h = 4, b = 3, nl = 2)
    val p1 = LstmAutoencoder.init(base, 42L)
    // The flagged layout differs; the DEFAULT stream must be untouched —
    // same total, same bytes (historical models stay reproducible).
    assert(base.oDec == base.oDecFc)
    assert(java.util.Arrays.equals(p1, LstmAutoencoder.init(base, 42L)))
  }

  test("STACKED (nl=2) BPTT gradient matches central finite differences on every parameter") {
    // The reference's LSTM_N_LAYERS=2 stack (config.py:29): the
    // inter-layer gradient routing (dxBuf) is exactly what the
    // single-layer check cannot exercise.
    val d = LstmDims(f = 2, l = 5, h = 4, b = 3, nl = 2)
    val rng = new scala.util.Random(13)
    val p = LstmAutoencoder.init(d, 3L).map(_ + (rng.nextDouble() - 0.5) * 0.2)
    val x = Array.fill(d.l * d.f)((rng.nextDouble() - 0.5) * 2.0)
    val grad = new Array[Double](d.total)
    LstmAutoencoder.lossAndGrad(p, x, d, grad)
    val eps = 1e-5
    val scratch = new Array[Double](d.total)
    (0 until d.total).foreach { k =>
      val pk = p(k)
      p(k) = pk + eps
      val up = LstmAutoencoder.lossAndGrad(p, x, d, scratch)
      p(k) = pk - eps
      val dn = LstmAutoencoder.lossAndGrad(p, x, d, scratch)
      p(k) = pk
      val fd = (up - dn) / (2 * eps)
      assert(math.abs(grad(k) - fd) <= 1e-6 + 1e-4 * math.abs(fd),
        s"param $k: analytic ${grad(k)} vs finite-diff $fd")
    }
  }

  test("nl=2 + DROPOUT gradient matches central finite differences (fixed mask)") {
    // The reference's inter-layer dropout (config.py:30,
    // LSTM_DROPOUT_PROB=0.2), made deterministic by the counter-based
    // mask: with maskBase fixed, the dropped loss is an ordinary
    // differentiable function, so the same FD check applies — it
    // exercises the masked-input weight grads AND the dxBuf x scale
    // chain that dropout adds to the backward pass.
    val d = LstmDims(f = 2, l = 5, h = 4, b = 3, nl = 2)
    val rng = new scala.util.Random(17)
    val p = LstmAutoencoder.init(d, 3L).map(_ + (rng.nextDouble() - 0.5) * 0.2)
    val x = Array.fill(d.l * d.f)((rng.nextDouble() - 0.5) * 2.0)
    val mb = LstmAutoencoder.dropMaskBase(42L, epoch = 2, window = 7L)
    val grad = new Array[Double](d.total)
    LstmAutoencoder.lossAndGrad(p, x, d, grad, 0.2, mb)
    val eps = 1e-5
    (0 until d.total).foreach { k =>
      val pk = p(k)
      p(k) = pk + eps
      val up = LstmAutoencoder.lossWithDropout(p, x, d, 0.2, mb)
      p(k) = pk - eps
      val dn = LstmAutoencoder.lossWithDropout(p, x, d, 0.2, mb)
      p(k) = pk
      val fd = (up - dn) / (2 * eps)
      assert(math.abs(grad(k) - fd) <= 1e-6 + 1e-4 * math.abs(fd),
        s"param $k: analytic ${grad(k)} vs finite-diff $fd")
    }
    // The mask actually drops something: dropped loss differs from clean.
    val clean = LstmAutoencoder.lossAndGrad(p, x, d, new Array[Double](d.total))
    val dropped = LstmAutoencoder.lossWithDropout(p, x, d, 0.2, mb)
    assert(math.abs(clean - dropped) > 1e-12,
      "dropout 0.2 on a 2-layer stack should change the training loss")
  }

  test("dropout training is bit-deterministic and keeps the stacked recall bar") {
    val d = LstmDims(f = 1, l = 24, h = 8, b = 4, nl = 2)
    val seqs = graft.operators.TimeSeriesOps.sequences(
      synthetic, Seq("user_id"), Seq("ts", "event_id"), "value", 24, "xc")
      .select(transform(col("xc"), _.cast("double") / 5.0).as("xc"))
    val p1 = LstmAutoencoder.fit(seqs, "xc", d, epochs = 2, lr = 0.05, seed = 42L,
      dropout = 0.2)
    val p2 = LstmAutoencoder.fit(seqs, "xc", d, epochs = 2, lr = 0.05, seed = 42L,
      dropout = 0.2)
    assert(p1.sameElements(p2), "same data + same partitioning must be bit-identical")
    val p0 = LstmAutoencoder.fit(seqs, "xc", d, epochs = 2, lr = 0.05, seed = 42L)
    assert(!p1.sameElements(p0), "dropout must change the training trajectory")

    // End-to-end: the stacked detector with the reference's dropout 0.2
    // still clears the recall bar.
    val flagged = LstmAutoencoder.detect(synthetic, Seq("user_id"),
        Seq("ts", "event_id"), Seq("value"), seqLen = 24, hidden = 8,
        bottleneck = 4, nLayers = 2, dropout = 0.2)
      .filter(col("is_anomaly") === 1L).select("event_id").as[Long].collect().toSet
    assert(recall(flagged) >= 0.9,
      s"dropout-trained stacked recall ${recall(flagged)} below the bar")
  }

  test("nl=1 layout and init are unchanged by the stacked extension") {
    // The historical single-layer model must stay bit-identical: same
    // parameter count, same seeded init stream, same loss on a window.
    val d = LstmDims(f = 2, l = 6, h = 4, b = 3)
    assert(d.total == 4 * (4 * 2 + 16 + 4) + (3 * 4 + 3) + 4 * (4 * 3 + 16 + 4) + (2 * 4 + 2))
    val p = LstmAutoencoder.init(d, 42L)
    val p2 = LstmAutoencoder.init(d, 42L)
    assert(p.sameElements(p2))
    // nl=2 strictly extends the parameter vector with the upper layers.
    val d2 = d.copy(nl = 2)
    assert(d2.total == d.total + 2 * 4 * (4 * 4 + 16 + 4))
  }

  test("stacked detector keeps the recall bar (determinism + quality at nl=2)") {
    val flagged = LstmAutoencoder.detect(synthetic, Seq("user_id"),
        Seq("ts", "event_id"), Seq("value"), seqLen = 24, hidden = 8,
        bottleneck = 4, nLayers = 2)
      .filter(col("is_anomaly") === 1L).select("event_id").as[Long].collect().toSet
    assert(recall(flagged) >= 0.9, s"stacked recall ${recall(flagged)} below the bar")
  }

  test("reconstruction depends on temporal order (the recurrence the MLP lacks)") {
    val d = LstmDims(f = 1, l = 8, h = 4, b = 2)
    val rng = new scala.util.Random(5)
    val p = LstmAutoencoder.init(d, 3L).map(_ + (rng.nextDouble() - 0.5) * 0.2)
    val x = Array.tabulate(8)(t => math.sin(t / 2.0))
    val xRev = x.reverse
    val a = LstmAutoencoder.reconError(p, x, d)
    val b = LstmAutoencoder.reconError(p, xRev, d)
    assert(math.abs(a - b) > 1e-9,
      "a sequence and its reversal must not score identically through recurrent state")
  }

  test("deterministic: same input twice gives identical parameters") {
    val d = LstmDims(f = 1, l = 24, h = 8, b = 4)
    val seqs = graft.operators.TimeSeriesOps.sequences(
      synthetic, Seq("user_id"), Seq("ts", "event_id"), "value", 24, "xc")
      .select(transform(col("xc"), _.cast("double")).as("xc"))
    val p1 = LstmAutoencoder.fit(seqs, "xc", d, epochs = 2, lr = 0.05, seed = 42L)
    val p2 = LstmAutoencoder.fit(seqs, "xc", d, epochs = 2, lr = 0.05, seed = 42L)
    assert(p1.sameElements(p2))
  }

  test("training reduces reconstruction error (the model actually learns)") {
    val d = LstmDims(f = 1, l = 24, h = 8, b = 4)
    // Unit-scale inputs (the fit contract): amplitude-5 sines divided by 5.
    val seqs = graft.operators.TimeSeriesOps.sequences(
      synthetic.filter(!col("event_id").isin(SpikeAt.toSeq: _*)),
      Seq("user_id"), Seq("ts", "event_id"), "value", 24, "xc")
      .select(transform(col("xc"), _.cast("double") / 5.0).as("xc")).cache()
    val windows = seqs.collect().map(_.getSeq[Double](0).toArray)
    def meanErr(p: Array[Double]): Double =
      windows.map(LstmAutoencoder.reconError(p, _, d)).sum / windows.length
    val p0 = LstmAutoencoder.init(d, 42L)
    val p3 = LstmAutoencoder.fit(seqs, "xc", d, epochs = 3, lr = 0.05, seed = 42L)
    assert(meanErr(p3) < meanErr(p0) * 0.8,
      "3 epochs of BPTT SGD should cut reconstruction error by >20% vs the random init")

    // Best-epoch checkpointing (main.py:44-56): best-of-K training loss is
    // non-increasing in K (same prefix trajectory + one more candidate).
    val l2 = meanErr(LstmAutoencoder.fit(seqs, "xc", d, epochs = 2, lr = 0.05, seed = 42L))
    assert(meanErr(p3) <= l2 + 1e-9,
      s"best-of-3 loss ${meanErr(p3)} must not exceed best-of-2 loss $l2")

    // Deterministic Adam (main.py:24): bit-identical across runs and it
    // learns through the gated BPTT path too.
    val a1 = LstmAutoencoder.fit(seqs, "xc", d, epochs = 3, lr = 0.01, seed = 42L,
      optimizer = "adam")
    val a2 = LstmAutoencoder.fit(seqs, "xc", d, epochs = 3, lr = 0.01, seed = 42L,
      optimizer = "adam")
    assert(a1.sameElements(a2), "Adam fit must be bit-deterministic")
    assert(meanErr(a1) < meanErr(p0) * 0.8,
      "3 Adam epochs should cut reconstruction error by >20% vs the random init")
    seqs.unpersist()
  }

  test("LSTM detector catches injected spikes with recall >= the MLP detector") {
    val lstm = LstmAutoencoder.detect(synthetic, Seq("user_id"), Seq("ts", "event_id"),
      Seq("value"), seqLen = 24, hidden = 8, bottleneck = 4)
    val mlp = MlpAutoencoder.detect(synthetic, Seq("user_id"), Seq("ts", "event_id"),
      Seq("value"), seqLen = 24, hidden = 8)
    def flaggedAt(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.filter(col("is_anomaly") === 1L).select("event_id").as[Long].collect().toSet
    val lstmRecall = recall(flaggedAt(lstm))
    val mlpRecall  = recall(flaggedAt(mlp))
    assert(lstmRecall >= mlpRecall, s"LSTM recall $lstmRecall < MLP recall $mlpRecall")
    assert(lstmRecall >= 0.9, s"LSTM recall $lstmRecall should catch nearly all spikes")
    val total = lstm.count()
    val nFlag = lstm.filter(col("is_anomaly") === 1L).count()
    assert(nFlag.toDouble / total < 0.15, s"$nFlag/$total flagged — detector fires too broadly")
  }

  test("trainPartitions trades determinism for parallelism, never quality") {
    // The driver entries train at the session's parallelism, so the
    // recall bar must hold away from the P=8 default too (mirrors the
    // MLP spec; the model differs bitwise per P, the quality must not).
    def flaggedAt(p: Int): Set[Long] =
      LstmAutoencoder.detect(synthetic, Seq("user_id"), Seq("ts", "event_id"),
        Seq("value"), seqLen = 24, hidden = 8, bottleneck = 4, trainPartitions = p)
        .filter(col("is_anomaly") === 1L).select("event_id").as[Long].collect().toSet
    val r4 = recall(flaggedAt(4))
    val r16 = recall(flaggedAt(16))
    assert(r4 >= 0.9, s"recall $r4 at trainPartitions=4 below the quality bar")
    assert(r16 >= 0.9, s"recall $r16 at trainPartitions=16 below the quality bar")
  }
}
