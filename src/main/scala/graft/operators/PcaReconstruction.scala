package graft.operators

import breeze.linalg.{eigSym, DenseMatrix => BDM}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{GraftConfig, GraftSession}

/** Linear-autoencoder anomaly detection = PCA reconstruction error.
  *
  * The reference trains an LSTM autoencoder and flags sequences whose
  * reconstruction error is large (main.py:183-233). The faithful
  * DISTRIBUTED analog of that encode-bottleneck-decode on 100 TB is PCA:
  * a linear autoencoder with tied weights provably converges to the PCA
  * subspace, and Spark computes it scalably — one job folds each
  * partition's windows into (count, mean, co-moment) with Welford's
  * update, the driver merges the partitions in id order with the pairwise
  * update of Chan, Golub and LeVeque ("Updating formulae and a pairwise
  * algorithm for computing sample variances", 1979) into the LxL
  * covariance (L = sequence length, 24), the eigendecomposition happens
  * on the driver at O(L^3) ~ microseconds, and scoring is a per-row
  * projection. No per-epoch shuffles, no parameter server, deterministic.
  *
  * Scoring uses the orthogonal-projection identity: with an orthonormal
  * component basis, reconstruction error ||xc - UU'xc||^2 =
  * ||xc||^2 - ||U'xc||^2 — no explicit decode materialized.
  *
  * Only the L-element mean vector and the LxK component matrix ever touch
  * the driver (model parameters, not data).
  */
object PcaReconstruction {

  private def dotArr(a: Column, b: Column): Column = aggregate(
    zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, p) => acc + p)

  /** Count, mean and co-moment sum (x - mean)(x - mean)' of a set of
    * L-vectors; the co-moment is kept as its upper triangle, row-major.
    */
  private final class Moments(l: Int) extends Serializable {
    var n = 0L
    val mean = new Array[Double](l)
    val m2 = new Array[Double](l * (l + 1) / 2)

    /** Welford's update by one vector. */
    def add(x: Array[Double]): Unit = {
      n += 1
      val d = Array.tabulate(l)(i => x(i) - mean(i))
      for (i <- 0 until l) mean(i) += d(i) / n
      var p = 0
      for (i <- 0 until l; j <- i until l) { m2(p) += d(i) * (x(j) - mean(j)); p += 1 }
    }

    /** Chan et al.'s pairwise update by another non-empty set. */
    def merge(o: Moments): Moments = {
      val total = n + o.n
      val d = Array.tabulate(l)(i => o.mean(i) - mean(i))
      val f = n.toDouble * o.n / total
      for (i <- 0 until l) mean(i) += d(i) * o.n / total
      var p = 0
      for (i <- 0 until l; j <- i until l) { m2(p) += o.m2(p) + d(i) * d(j) * f; p += 1 }
      n = total
      this
    }
  }

  /** Sequence the series (the model windows of
    * [[TimeSeriesOps.featureWindows]]: null and NaN targets dropped, full
    * windows only), fit a global K-component PCA on the sequence windows,
    * score every window by reconstruction error, flag scores above
    * `flagFactor` x the per-series mean error (the reference's
    * threshold-on-error shape, config.py:23).
    */
  def detect(df: DataFrame, keys: Seq[String], order: Seq[String], target: String,
             seqLen: Int = GraftConfig.SequenceLength, k: Int = 4,
             flagFactor: Double = 4.0): DataFrame = {
    require(k > 0 && k <= seqLen, s"k=$k must be in [1, seqLen=$seqLen]")
    // Materialize the sequenced input BEFORE the fit: the fit and the
    // scoring pass both reread it, and sequencing is the expensive window
    // shuffle. An eager localCheckpoint, not cache() (as in
    // DistributedSgd.detect): a CacheManager entry is keyed by plan and was
    // never released, so a later call with the same plan over rewritten
    // input files got the first call's sequences.
    //
    // AQE is off for the checkpoint (nothing of this plan runs outside
    // the `withConf` scope). Under AQE the checkpoint coalesced the
    // final shuffle, so the fit's partition-ordered merge ran over other
    // partitions and the scores changed bits; and an AQE plan reports
    // UnknownPartitioning, so the flag window below shuffled the scored rows
    // again. Without AQE the checkpoint keeps the window's hash-by-key
    // layout, the one cache() gave (Spark plans cached data without
    // final-stage coalescing): same bits, no exchange for the flag window.
    // The trade: joins inside `df` are planned statically here.
    // Measured: a lazy `localCheckpoint(eager = false)`, materialized by the
    // moment fold's own job, was no faster (ts_batch pca call medians
    // 316/315 ms lazy vs 310/320 ms eager, two alternating batches, local[4]).
    val seqs = GraftSession.withConf(df.sparkSession, "spark.sql.adaptive.enabled" -> "false") {
      TimeSeriesOps.featureWindows(df, keys, order, Seq(target), seqLen).localCheckpoint()
    }

    // One job: per-partition moments, merged on the driver in partition-id
    // order, so the fit's bits depend only on the checkpoint's layout. The
    // 300 co-moment sums are not written as DataFrame aggregates: a
    // 325-column declarative covariance falls back to interpreted codegen
    // (SURVEY.md §5).
    val parts = seqs.select("seq").rdd.mapPartitionsWithIndex { (pid, rows) =>
      if (!rows.hasNext) Iterator.empty
      else {
        val m = new Moments(seqLen)
        rows.foreach(r => m.add(r.getSeq[Double](0).toArray))
        Iterator.single((pid, m))
      }
    }.collect().sortBy(_._1)
    require(parts.nonEmpty,
      "pca detect: no complete windows to fit (all targets null, NaN or series shorter than seqLen)")
    val fit = parts.map(_._2).reduceLeft(_ merge _)
    require(fit.n >= 2,
      "pca detect: only one complete window to fit, a covariance needs at least 2")

    val cov = BDM.zeros[Double](seqLen, seqLen)
    var p = 0
    for (i <- 0 until seqLen; j <- i until seqLen) {
      cov(i, j) = fit.m2(p) / (fit.n - 1)
      cov(j, i) = cov(i, j)
      p += 1
    }
    // eigSym orders eigenvalues ascending: the top k are the last k columns.
    val vecs = eigSym(cov).eigenvectors
    val comps = (seqLen - k until seqLen).map(c => lit(Array.tabulate(seqLen)(vecs(_, c))))

    val keyW = Window.partitionBy(keys.map(col): _*)
    seqs
      .withColumn("xc", zip_with(col("seq"), lit(fit.mean), (x, m) => x - m))
      .withColumn("p", transform(array(comps: _*), u => dotArr(col("xc"), u)))
      .withColumn("recon_err",
        greatest(dotArr(col("xc"), col("xc")) - dotArr(col("p"), col("p")), lit(0.0)))
      .withColumn("is_anomaly",
        (col("recon_err") > lit(flagFactor) * avg(col("recon_err")).over(keyW)).cast("long"))
      .drop("seq", "xc", "p")
  }
}
