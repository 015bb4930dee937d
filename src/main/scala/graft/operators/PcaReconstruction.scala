package graft.operators

import org.apache.spark.ml.feature.PCA
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftConfig

/** Linear-autoencoder anomaly detection = PCA reconstruction error.
  *
  * The reference trains an LSTM autoencoder and flags sequences whose
  * reconstruction error is large (main.py:183-233). The faithful
  * DISTRIBUTED analog of that encode-bottleneck-decode on 100 TB is PCA:
  * a linear autoencoder with tied weights provably converges to the PCA
  * subspace, and Spark computes it scalably — one `treeAggregate` pass
  * builds the LxL covariance (L = sequence length, 24), the
  * eigendecomposition happens on the driver at O(L^3) ~ microseconds, and
  * scoring is a per-row projection. No per-epoch shuffles, no parameter
  * server, deterministic.
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
    // Materialize the sequenced input BEFORE the mean pass: the mean
    // aggregate, the PCA fit, and the scoring pass all reread it, and
    // sequencing is the expensive window shuffle. An eager localCheckpoint,
    // not cache() (as in DistributedSgd.detect): a CacheManager
    // entry is keyed by plan and was never released, so a later call with
    // the same plan over rewritten input files got the first call's
    // sequences.
    //
    // AQE is off for the checkpoint (restored in `finally`; nothing of this
    // plan runs outside the window). Under AQE the checkpoint coalesced the
    // final shuffle, so the mean's and the PCA fit's double sums ran over
    // other partitions and the scores changed bits; and an AQE plan reports
    // UnknownPartitioning, so the flag window below shuffled the scored rows
    // again. Without AQE the checkpoint keeps the window's hash-by-key
    // layout, the one cache() gave (Spark plans cached data without
    // final-stage coalescing): same bits, no exchange for the flag window.
    // The trade: joins inside `df` are planned statically here.
    val spark = df.sparkSession
    val aqe = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(aqe)
    spark.conf.set(aqe, "false")
    val seqs = try TimeSeriesOps.featureWindows(df, keys, order, Seq(target), seqLen).localCheckpoint()
      finally prev.fold(spark.conf.unset(aqe))(spark.conf.set(aqe, _))

    // Per-dimension mean: one aggregate, one L-element row to the driver.
    val meanRow = seqs.select(
      (0 until seqLen).map(i => avg(element_at(col("seq"), i + 1)).as(s"m$i")): _*).head()
    require(!meanRow.isNullAt(0),
      "pca detect: no complete windows to fit (all targets null, NaN or series shorter than seqLen)")
    val meanArr = Array.tabulate(seqLen)(meanRow.getDouble)

    val vecs = seqs
      .withColumn("xc", zip_with(col("seq"), lit(meanArr), (x, m) => x - m))
      .withColumn("fv", array_to_vector(col("xc")))
    val model = new PCA().setInputCol("fv").setOutputCol("pv").setK(k).fit(vecs)

    val keyW = Window.partitionBy(keys.map(col): _*)
    model.transform(vecs)
      .withColumn("p", vector_to_array(col("pv")))
      .withColumn("recon_err",
        greatest(dotArr(col("xc"), col("xc")) - dotArr(col("p"), col("p")), lit(0.0)))
      .withColumn("is_anomaly",
        (col("recon_err") > lit(flagFactor) * avg(col("recon_err")).over(keyW)).cast("long"))
      .drop("seq", "xc", "fv", "pv", "p")
  }
}
