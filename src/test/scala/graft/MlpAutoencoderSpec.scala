package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{MlpAutoencoder, PcaReconstruction}

class MlpAutoencoderSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  // Two daily-cycle series with seeded noise and injected spikes — the
  // reference's domain shape (hourly energy with anomalous excursions).
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

  test("scoreWith: hand-indexed scalar math reproduces the loop forward bit-for-bit (2x1 model)") {
    // Tiny model where every index is written out explicitly — a
    // transposition or off-by-one in the forward loops cannot match.
    val p = MlpAutoencoder.Params(
      w = Array(0.5, -0.25), b1 = Array(0.1), b2 = Array(0.2, -0.1))
    val out = MlpAutoencoder.scoreWith(
        Seq((1L, Seq(1.0, 2.0))).toDF("id", "seq"), "seq", p,
        seqLen = 2, hidden = 1, MlpAutoencoder.portableTanh)
      .select("recon_err").as[Double].collect()
    val h0 = MlpAutoencoder.portableTanh(0.1 + 0.5 * 1.0 + (-0.25) * 2.0)
    val xh0 = 0.2 + 0.5 * h0
    val xh1 = -0.1 + (-0.25) * h0
    val expected =
      (0.0 + (xh0 - 1.0) * (xh0 - 1.0) + (xh1 - 2.0) * (xh1 - 2.0)) / 2
    assert(out.length == 1 && out(0) == expected,
      s"got ${out.toSeq}, expected $expected")
  }

  test("portableTanh: saturation rule is continuous with the formula and odd-symmetric") {
    assert(MlpAutoencoder.portableTanh(9.0) == 1.0)
    assert(MlpAutoencoder.portableTanh(-9.0) == -1.0)
    // Just inside the guard the round6 formula already sits at +-1, so
    // the branch is value-invisible (it only exists to keep exp finite).
    assert(MlpAutoencoder.portableTanh(8.9999) == 1.0)
    assert(MlpAutoencoder.portableTanh(-8.9999) == -1.0)
    assert(MlpAutoencoder.portableTanh(0.0) == 0.0)
    assert(MlpAutoencoder.portableTanh(1000.0) == 1.0, "overflow region saturates, never NaN")
    val t = MlpAutoencoder.portableTanh(0.3)
    assert(t > 0 && t < 1 && MlpAutoencoder.portableTanh(-0.3) == -t)
    assert(t == graft.functions.CleanFunctions.round6Jvm(t), "activation is round6-quantized")
  }

  test("deterministic: same input twice gives identical parameters") {
    val seqs = graft.operators.TimeSeriesOps.sequences(
      synthetic, Seq("user_id"), Seq("ts", "event_id"), "value", 24, "xc")
      .select(transform(col("xc"), _.cast("double")).as("xc"))
    val p1 = MlpAutoencoder.fit(seqs, "xc", 24, 8, epochs = 2, lr = 0.05, seed = 42L)
    val p2 = MlpAutoencoder.fit(seqs, "xc", 24, 8, epochs = 2, lr = 0.05, seed = 42L)
    assert(p1.w.sameElements(p2.w) && p1.b1.sameElements(p2.b1) && p1.b2.sameElements(p2.b2))
  }

  test("AE catches injected spikes with recall >= the PCA detector") {
    val ae = MlpAutoencoder.detect(synthetic, Seq("user_id"), Seq("ts", "event_id"), Seq("value"),
      seqLen = 24, hidden = 8)
    val pca = PcaReconstruction.detect(synthetic, Seq("user_id"), Seq("ts", "event_id"), "value",
      seqLen = 24, k = 4)
    def flaggedAt(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.filter(col("is_anomaly") === 1L).select("event_id").as[Long].collect().toSet
    val aeRecall  = recall(flaggedAt(ae))
    val pcaRecall = recall(flaggedAt(pca))
    assert(aeRecall >= pcaRecall, s"AE recall $aeRecall < PCA recall $pcaRecall")
    assert(aeRecall >= 0.9, s"AE recall $aeRecall should catch nearly all spikes")
    // Flags stay targeted: anomalies are a small fraction of all windows.
    val total = ae.count()
    val nFlag = ae.filter(col("is_anomaly") === 1L).count()
    assert(nFlag.toDouble / total < 0.15, s"$nFlag/$total flagged — detector fires too broadly")
  }

  test("trainPartitions trades determinism for parallelism, never quality") {
    // The documented contract on detect(): a different partition count
    // yields a DIFFERENT model bitwise (averaging order changes) but an
    // equally good detector (the recall bar must hold at any P).
    def run(p: Int) = MlpAutoencoder.detect(synthetic, Seq("user_id"),
      Seq("ts", "event_id"), Seq("value"), seqLen = 24, hidden = 8, trainPartitions = p)
    def flaggedAt(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.filter(col("is_anomaly") === 1L).select("event_id").as[Long].collect().toSet
    val r4  = recall(flaggedAt(run(4)))
    val r16 = recall(flaggedAt(run(16)))
    assert(r4 >= 0.9, s"recall $r4 at trainPartitions=4 below the quality bar")
    assert(r16 >= 0.9, s"recall $r16 at trainPartitions=16 below the quality bar")
  }

  test("reconstruction improves over training (the model actually learns)") {
    val seqs = graft.operators.TimeSeriesOps.sequences(
      synthetic.filter(!col("event_id").isin(SpikeAt.toSeq: _*)),
      Seq("user_id"), Seq("ts", "event_id"), "value", 24, "xc")
      .select(transform(col("xc"), _.cast("double")).as("xc")).cache()
    def meanErr(p: MlpAutoencoder.Params): Double = {
      val rows = seqs.collect().map(_.getSeq[Double](0).toArray)
      rows.map { xc =>
        val c = xc.clone() // already uncentered; centering is detect()'s job
        var s = 0.0
        val (hid, out) = (8, 24)
        val h = new Array[Double](hid)
        var i = 0
        while (i < hid) {
          var a = p.b1(i); var j = 0
          while (j < out) { a += p.w(i * out + j) * c(j); j += 1 }
          h(i) = math.tanh(a); i += 1
        }
        var j = 0
        while (j < out) {
          var a = p.b2(j); var i2 = 0
          while (i2 < hid) { a += p.w(i2 * out + j) * h(i2); i2 += 1 }
          val d = a - c(j); s += d * d; j += 1
        }
        s / out
      }.sum / rows.length
    }
    val p0 = MlpAutoencoder.init(24, 8, 42L)
    val p3 = MlpAutoencoder.fit(seqs, "xc", 24, 8, epochs = 3, lr = 0.05, seed = 42L)
    assert(meanErr(p3) < meanErr(p0) * 0.8,
      "3 epochs of SGD should cut reconstruction error by >20% vs the random init")

    // Best-epoch checkpointing (reference main.py:44-56): same data + same
    // init means epochs=K replays the identical first K-1 epochs plus one
    // more candidate, so the returned (best) model's training loss can
    // only improve as K grows — keep-last has no such guarantee on a
    // noisy curve. Tolerance covers the spec's float-order loss sum vs
    // the harness's exact-BigDecimal selection metric.
    val losses = (1 to 4).map(k =>
      meanErr(MlpAutoencoder.fit(seqs, "xc", 24, 8, epochs = k, lr = 0.05, seed = 42L)))
    assert(losses.sliding(2).forall { case Seq(a, b) => b <= a + 1e-9 },
      s"best-of-K epoch losses must be non-increasing in K: $losses")

    // Deterministic Adam (reference main.py:24): bit-identical across
    // runs, and it learns (cuts error vs the init like the SGD path).
    val a1 = MlpAutoencoder.fit(seqs, "xc", 24, 8, epochs = 3, lr = 0.01,
      seed = 42L, optimizer = "adam")
    val a2 = MlpAutoencoder.fit(seqs, "xc", 24, 8, epochs = 3, lr = 0.01,
      seed = 42L, optimizer = "adam")
    assert(a1.w.sameElements(a2.w) && a1.b1.sameElements(a2.b1) && a1.b2.sameElements(a2.b2))
    assert(meanErr(a1) < meanErr(p0) * 0.8,
      "3 Adam epochs should cut reconstruction error by >20% vs the random init")
  }

  test("adam detector keeps the recall bar") {
    val ae = MlpAutoencoder.detect(synthetic, Seq("user_id"), Seq("ts", "event_id"),
      Seq("value"), seqLen = 24, hidden = 8, optimizer = "adam", lr = 0.01)
    val flagged = ae.filter(col("is_anomaly") === 1L)
      .select("event_id").as[Long].collect().toSet
    assert(recall(flagged) >= 0.9,
      s"Adam-trained AE recall ${recall(flagged)} below the quality bar")
  }
}
