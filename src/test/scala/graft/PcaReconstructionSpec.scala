package graft

import breeze.linalg.{eigSym, DenseMatrix => BDM}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PcaReconstruction

class PcaReconstructionSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  // Two series of a clean daily sinusoid; one large spike injected.
  private def mkEvents(spikeAt: Int): org.apache.spark.sql.DataFrame =
    (for (u <- 1 to 2; i <- 0 until 200) yield {
      val base = 10.0 + 5.0 * math.sin(2 * math.Pi * (i % 24) / 24.0)
      val v = if (u == 1 && i == spikeAt) base + 80.0 else base
      (u.toLong * 1000 + i, i.toLong, u.toLong, v)
    }).toDF("event_id", "t", "user_id", "value")

  test("injected spike dominates reconstruction error and is flagged") {
    val out = PcaReconstruction.detect(
      mkEvents(150), Seq("user_id"), Seq("t"), "value", seqLen = 24, k = 4)
      .select("event_id", "user_id", "recon_err", "is_anomaly").cache()
    assert(out.filter(col("recon_err") < 0).count() == 0)
    // Windows containing the spike (user 1, t in [150, 173]) carry the error.
    val top = out.orderBy(desc("recon_err")).select("event_id").head().getLong(0)
    assert(top >= 1150 && top < 1174, s"hottest window was event $top")
    val flagged = out.filter(col("is_anomaly") === 1)
    assert(flagged.count() > 0)
    assert(flagged.filter(col("user_id") === 2).count() == 0,
      "clean series must not flag")
  }

  test("k = seqLen reconstructs exactly: zero error everywhere") {
    val out = PcaReconstruction.detect(
      mkEvents(150), Seq("user_id"), Seq("t"), "value", seqLen = 8, k = 8)
    val maxErr = out.agg(max("recon_err")).head().getDouble(0)
    assert(maxErr < 1e-6, s"max recon_err $maxErr with full basis")
  }

  test("sequence count matches the batch sequences operator") {
    val out = PcaReconstruction.detect(
      mkEvents(150), Seq("user_id"), Seq("t"), "value", seqLen = 24, k = 2)
    // 200 rows per series -> 200 - 24 + 1 = 177 full windows per series.
    assert(out.groupBy("user_id").count().collect().forall(_.getLong(1) == 177))
  }

  // Three series of two harmonics with distinct amplitudes plus seeded
  // noise, one spike: the top 4 eigenvalues stand well apart from the rest,
  // so the fitted subspace is well conditioned and rounding differences in
  // the fit move recon_err by rounding only.
  private val noisy: Seq[(Long, Long, Long, Double)] = {
    val rnd = new scala.util.Random(7)
    for (u <- 1 to 3; i <- 0 until 200) yield {
      val v = 10.0 + 5.0 * math.sin(2 * math.Pi * i / 24.0) +
        3.0 * math.sin(2 * math.Pi * i / 12.0 + u) + 0.05 * rnd.nextGaussian() +
        (if (u == 1 && i == 150) 40.0 else 0.0)
      (u.toLong * 1000 + i, i.toLong, u.toLong, v)
    }
  }

  private def detectNoisy(): Map[Long, Double] =
    PcaReconstruction.detect(noisy.toDF("event_id", "t", "user_id", "value"),
        Seq("user_id"), Seq("t"), "value", seqLen = 24, k = 4)
      .select("event_id", "recon_err").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** Driver-side reference: the same windows, a two-pass covariance, eigSym
    * and the reconstruction error of each window, keyed by its last row. */
  private def referenceNoisy(seqLen: Int, k: Int): Map[Long, Double] = {
    val windows = noisy.groupBy(_._3).values.flatMap { rows =>
      rows.sortBy(_._2).sliding(seqLen).map(w => w.last._1 -> w.map(_._4).toArray)
    }.toSeq
    val n = windows.size
    val mean = Array.tabulate(seqLen)(i => windows.map(_._2(i)).sum / n)
    val cov = BDM.tabulate(seqLen, seqLen) { (i, j) =>
      windows.map { case (_, x) => (x(i) - mean(i)) * (x(j) - mean(j)) }.sum / (n - 1)
    }
    val u = eigSym(cov).eigenvectors
    windows.map { case (id, x) =>
      val xc = Array.tabulate(seqLen)(i => x(i) - mean(i))
      val proj = (seqLen - k until seqLen).map(c => (0 until seqLen).map(i => xc(i) * u(i, c)).sum)
      id -> math.max(xc.map(v => v * v).sum - proj.map(v => v * v).sum, 0.0)
    }.toMap
  }

  test("recon_err matches a two-pass reference fit at 1 and at 13 partitions") {
    val ref = referenceNoisy(24, 4)
    val bound = 1e-12 * ref.values.max
    for (parts <- Seq(1, 13)) {
      val got = SparkTestSession.withShufflePartitions(parts)(detectNoisy())
      assert(got.keySet == ref.keySet)
      val worst = got.map { case (id, e) => math.abs(e - ref(id)) }.max
      assert(worst <= bound, s"$parts partitions: worst |err - ref| $worst > $bound")
    }
  }

  test("a rerun is bit-identical") {
    def bits() = detectNoisy().map { case (id, e) => id -> java.lang.Double.doubleToRawLongBits(e) }
    assert(bits() == bits())
  }

  test("fewer than 2 complete windows fails with a pca detect error") {
    val one = (0 until 24).map(i => (i.toLong, i.toLong, 1L, math.sin(i))).toDF("event_id", "t", "user_id", "value")
    val e = intercept[IllegalArgumentException](
      PcaReconstruction.detect(one, Seq("user_id"), Seq("t"), "value", seqLen = 24, k = 2))
    assert(e.getMessage.contains("pca detect:"), e.getMessage)
  }

  test("a warm detect runs at most 3 jobs: checkpoint, fit, result") {
    def call() = PcaReconstruction.detect(
      mkEvents(150), Seq("user_id"), Seq("t"), "value", seqLen = 24, k = 4).collect()
    call()
    val jobs = SparkTestSession.countJobs(call())
    assert(jobs <= 3, s"$jobs jobs")
  }
}
