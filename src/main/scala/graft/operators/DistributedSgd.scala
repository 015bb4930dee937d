package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Shared training + detection harness for the tiny-model / huge-data
  * autoencoder operators ([[MlpAutoencoder]], [[LstmAutoencoder]]).
  *
  * [[fit]] is mapPartitions minibatch SGD + synchronous parameter averaging
  * (one communication round per epoch — the standard data-parallel scheme
  * when the model is tiny and the data is huge):
  *   - every partition starts each epoch from the same broadcast weights,
  *     runs deterministic-order SGD over its rows, emits (params, count);
  *   - the driver averages partition results weighted by count, sorted by
  *     partition id so float accumulation order is fixed;
  *   - no parameter server, no per-batch shuffles; scales with executors.
  *
  * Parameters travel as one flat Array[Double] so averaging is layout-blind;
  * each model object owns its own offsets/packing.
  *
  * [[detect]] is the shared window -> center -> train -> score -> flag
  * shell: only the D-element mean vector and the model parameters ever
  * touch the driver.
  */
private[operators] object DistributedSgd {

  /** Run `epochs` rounds of partition-local SGD + weighted averaging.
    *
    * `partitionFit(epoch, start, windows)` must return the partition's
    * updated parameter vector after consuming ALL windows (the harness
    * counts rows as the iterator drains, and the count weights the
    * average). `start` is a private clone — implementations may mutate it
    * in place. `epoch` is 1-based — deterministic per-epoch state (Adam
    * moments, dropout mask counters) keys off it.
    *
    * `epochScorer` (when given) enables BEST-EPOCH CHECKPOINTING — the
    * reference's torch.save-on-best-loss loop (main.py:44-56): the mean
    * training loss of each epoch's AVERAGED parameters is evaluated, and
    * the epoch with the lowest loss is what [[fit]] returns (strict `<`,
    * so the EARLIEST best epoch wins ties, matching the reference's `<`
    * compare). On a noisy loss curve the last epoch is routinely not the
    * best one. Cost: no extra pass per epoch. Epoch e's averaged
    * parameters are the broadcast start of epoch e+1, so that epoch's
    * training pass also sums their loss as it reads each row; one
    * forward-only pass after the last epoch scores the last epoch's
    * parameters. E epochs run E + 1 jobs with a scorer, E without.
    * Determinism: per-window losses are summed per partition as exact
    * BigDecimals (every double is exactly representable; exact addition
    * is order-blind), partials merged in partition order, one DECIMAL128
    * rounding at the final divide — so the selected epoch is identical on
    * any cluster.
    */
  def fit(seqs: DataFrame, seqCol: String, epochs: Int, init: Array[Double],
          partitionFit: (Int, Array[Double], Iterator[Array[Double]]) => Array[Double],
          epochScorer: Option[Array[Double] => (Array[Double] => Double)] = None)
      : Array[Double] = {
    import java.math.{BigDecimal => JBD, MathContext}
    val spark = seqs.sparkSession
    val idx = seqs.schema.fieldIndex(seqCol)
    // Materialize the training RDD ONCE, already unboxed: each epoch
    // re-reads it, and without the cache every epoch would replay the
    // upstream repartition+sort shuffle AND the Row -> Array[Double]
    // decode (measured as real per-epoch CPU at 8 epochs).
    val trainRdd = seqs.rdd.map(_.getSeq[Double](idx).toArray).cache()
    var params = init
    var best: Array[Double] = null
    var bestLoss = Double.PositiveInfinity
    // Pass e (1-based) trains epoch e from `params` when e <= epochs and,
    // when e > 1, scores `params`, which are epoch e-1's average.
    val passes = if (epochScorer.isDefined && epochs > 0) epochs + 1 else epochs
    for (pass <- 1 to passes) {
      val train = pass <= epochs
      val mkErr = if (pass > 1) epochScorer.orNull else null
      val bc = spark.sparkContext.broadcast(params)
      val partResults = trainRdd.mapPartitionsWithIndex { (pid, rows) =>
        if (rows.isEmpty) Iterator.empty
        else {
          val err = if (mkErr == null) null else mkErr(bc.value)
          var n = 0L
          var loss = JBD.ZERO
          val windows = rows.map { x =>
            n += 1
            if (err != null) loss = loss.add(new JBD(err(x)))
            x
          }
          val p = if (train) partitionFit(pass, bc.value.clone(), windows) else null
          windows.foreach(_ => ()) // the count and the loss cover every row
          Iterator.single((pid, p, n, loss))
        }
      }.collect().sortBy(_._1) // fixed accumulation order => deterministic
      bc.destroy() // params rebroadcast next pass; don't accumulate blocks
      // An empty training set would otherwise average to an all-zero
      // parameter vector — a degenerate model with no signal that scores
      // everything identically. Fail loudly instead.
      require(partResults.nonEmpty,
        "DistributedSgd.fit: training set is empty (no rows reached any partition)")
      val total = partResults.map(_._3).sum
      if (mkErr != null) {
        val loss = partResults.map(_._4).foldLeft(JBD.ZERO)(_.add(_))
          .divide(JBD.valueOf(total), MathContext.DECIMAL128).doubleValue
        if (loss < bestLoss) { bestLoss = loss; best = params }
      }
      if (train) {
        val acc = new Array[Double](params.length)
        partResults.foreach { case (_, p, n, _) =>
          val wgt = n / total.toDouble
          var k = 0
          while (k < acc.length) { acc(k) += wgt * p(k); k += 1 }
        }
        params = acc
      }
    }
    trainRdd.unpersist(blocking = false)
    if (best != null) best else params
  }

  /** Deterministic Adam (reference main.py:24 `optim.Adam`): the standard
    * bias-corrected adaptive step, applied in a fixed sequential order so
    * same data + same partitioning gives a bit-identical model. Moment
    * state lives per (partition, epoch) — it starts at zero each epoch
    * because the harness's synchronous averaging resets the model between
    * epochs, so carrying stale moments across an average would adapt to a
    * model that no longer exists. Within an epoch the per-parameter
    * adaptive scaling does exactly what the reference relies on: badly
    * scaled gradient dimensions get normalized step sizes instead of the
    * one global lr.
    */
  final class Adam(n: Int, lr: Double,
                   beta1: Double = 0.9, beta2: Double = 0.999,
                   eps: Double = 1e-8) {
    private val m = new Array[Double](n)
    private val v = new Array[Double](n)
    private var t = 0
    /** One step: p -= lrHat * mHat / (sqrt(vHat) + eps), grad pre-scaled
      * by `gscale` (the caller's clip factor; 1.0 when unused). */
    def step(p: Array[Double], grad: Array[Double], gscale: Double = 1.0): Unit = {
      t += 1
      val bc1 = 1.0 - math.pow(beta1, t)
      val bc2 = 1.0 - math.pow(beta2, t)
      var k = 0
      while (k < n) {
        val g = grad(k) * gscale
        m(k) = beta1 * m(k) + (1.0 - beta1) * g
        v(k) = beta2 * v(k) + (1.0 - beta2) * g * g
        p(k) -= lr * (m(k) / bc1) / (math.sqrt(v(k) / bc2) + eps)
        k += 1
      }
    }
  }

  /** Shared window + center + train + score + flag: the model windows of
    * `featureCols` ([[TimeSeriesOps.featureWindows]], D = seqLen * F
    * doubles each), then the fit and the flags.
    *
    * `fitOnCentered` receives the repartitioned/sorted training frame
    * (single column "xc") and returns the flat trained parameters;
    * `scorer(params)` builds the per-window error function once per
    * scoring partition (so implementations can allocate reusable
    * scratch there, not per row).
    *
    * `standardize=true` also divides each dimension by its (exact,
    * population) standard deviation — required by models with saturating
    * gates (the LSTM), whose Xavier init assumes unit-scale inputs; the
    * MLP path keeps center-only (scale already cancels through its linear
    * first layer, and skipping the variance keeps the moment pass lighter).
    */
  def detect(df: DataFrame, keys: Seq[String], order: Seq[String],
             featureCols: Seq[String], seqLen: Int,
             flagFactor: Double, trainPartitions: Int,
             fitOnCentered: DataFrame => Array[Double],
             scorer: Array[Double] => (Array[Double] => Double),
             standardize: Boolean = false)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.CleanFunctions
    val spark = df.sparkSession
    val dim = seqLen * featureCols.length
    // localCheckpoint, NOT cache(): the moment passes, the training pass and
    // the caller's eventual scoring materialization all read this frame, but
    // a CacheManager entry pinned inside the API would leak executor memory
    // the caller has no handle to release. localCheckpoint materializes once
    // (eagerly) and its blocks are released by the ContextCleaner as soon as
    // the returned plan is garbage-collected. The trade: lineage is
    // truncated, so losing an executor AFTER materialization fails the job
    // instead of recomputing the lost blocks (cache() would recover).
    // Acceptable for fits that run minutes; for multi-hour 100 TB runs,
    // callers should checkpoint the windowed input to reliable storage
    // first and pass that in.
    // Checkpoint at the session's shuffle width, keyed on row content
    // (r16, see Tables.spreadKeyed): `full` feeds the moments pass, the
    // centered projection AND the caller's scoring materialization — all
    // pure per-row or exact order-blind work — but inherits the upstream
    // windowing exchange's AQE byte-coalesced layout (2-4 of 32 cores at
    // sf0.1). The repartition is deterministic (hash of (keys, order)),
    // and no downstream result depends on partitioning: moments are exact
    // BigDecimal sums, training re-repartitions by content below, scoring
    // is per-row, flagging is a per-key window.
    val ordCols = (keys ++ order).map(col)
    val full = TimeSeriesOps.featureWindows(df, keys, order, featureCols, seqLen)
      .repartition(spark.sessionState.conf.numShufflePartitions, ordCols: _*)
      .localCheckpoint()
    // Per-dimension mean (and, for standardize, population variance) in ONE
    // pass of EXACT BigDecimal arithmetic. Every double is exactly
    // representable as a BigDecimal, and exact sums/products are
    // commutative-associative with no rounding, so the result is
    // independent of partition count and merge order — the bit-for-bit
    // determinism contract holds on any cluster. Unlimited precision also
    // means no overflow at large |x| and no quantization at small |x|
    // (a fixed DECIMAL(p,s) cast has both failure modes: x^2 >= 1e12
    // overflows DECIMAL(18,6) to null and silently drops rows, while
    // x^2 < 1e-6 rounds to 0 and disables the standardization it feeds).
    // Variance uses (n*Sxx - Sx^2) / n^2 on the EXACT moments — safe here,
    // unlike in floating point, because nothing cancels: the numerator is
    // an exact integer-like quantity, >= 0 by Cauchy-Schwarz. The single
    // DECIMAL128 rounding happens once, at the final division.
    import java.math.{BigDecimal => JBD, MathContext}
    val doStd = standardize
    val moments = full.select(col("seq")).rdd.mapPartitions { rows =>
      val sx = Array.fill(dim)(JBD.ZERO)
      val sxx = Array.fill(dim)(JBD.ZERO)
      var n = 0L
      rows.foreach { r =>
        val a = r.getSeq[Double](0)
        var i = 0
        while (i < dim) {
          val bd = new JBD(a(i))
          sx(i) = sx(i).add(bd)
          if (doStd) sxx(i) = sxx(i).add(bd.multiply(bd))
          i += 1
        }
        n += 1
      }
      if (n == 0) Iterator.empty else Iterator.single((n, sx, sxx))
    }.collect()
    require(moments.nonEmpty,
      "autoencoder detect: no complete windows to train on (all inputs null, NaN or series shorter than seqLen)")
    val nWin = moments.map(_._1).sum
    val sxTot = Array.tabulate(dim)(i =>
      moments.map(_._2(i)).reduce(_.add(_)))
    val nBD = JBD.valueOf(nWin)
    val meanArr = Array.tabulate(dim)(i =>
      sxTot(i).divide(nBD, MathContext.DECIMAL128).doubleValue)
    val invSdArr =
      if (!standardize) Array.fill(dim)(1.0)
      else Array.tabulate(dim) { i =>
        val sxxTot = moments.map(_._3(i)).reduce(_.add(_))
        val num = nBD.multiply(sxxTot).subtract(sxTot(i).multiply(sxTot(i)))
        val v = num.divide(nBD.multiply(nBD), MathContext.DECIMAL128).doubleValue
        // Near-constant dims scale by 1 instead of exploding.
        if (v > 1e-12) 1.0 / math.sqrt(v) else 1.0
      }
    // Cheap projection over the checkpointed blocks — recomputed per read,
    // but that's array arithmetic, not the upstream windowing shuffle.
    val centered = full
      .withColumn("xc",
        zip_with(
          zip_with(col("seq"), lit(meanArr), (x, m) => x - m),
          lit(invSdArr), (xm, is) => xm * is))

    // Scatter by the full (keys, order) tuple, not keys alone: every window
    // is an independent SGD sample, so per-ROW hashing balances partitions
    // (hashing ~100s of series keys into 32+ partitions skews 2-3x, and
    // training wall-time is the largest partition). Still deterministic:
    // partition assignment is a pure hash of row content, and the
    // sortWithinPartitions fixes the visit order inside each partition.
    val train = centered
      .repartition(trainPartitions, ordCols: _*)
      .sortWithinPartitions(ordCols: _*)
      .select(col("xc"))
    val params = fitOnCentered(train)

    val keyW = Window.partitionBy(keys.map(col): _*)
    withReconErr(centered, "xc", params)(scorer)
      .withColumn("is_anomaly",
        (col("recon_err") > lit(flagFactor) *
          CleanFunctions.exactMeanOver(col("recon_err"), keyW)).cast(LongType))
      .drop("seq", "xc")
  }

  /** `seqs` with a `recon_err` column appended: `scorer(params)(window)`
    * of each row's `seqCol` window. `params` is broadcast once and
    * `scorer` runs once per partition, so it can allocate scratch there.
    * One map pass, no shuffle; the detectors' scoring and the
    * `scoreWith` inference fences share it.
    */
  private[operators] def withReconErr[P: ClassTag](seqs: DataFrame, seqCol: String, params: P)(
      scorer: P => (Array[Double] => Double)): DataFrame = {
    val spark = seqs.sparkSession
    val bc = spark.sparkContext.broadcast(params)
    val idx = seqs.schema.fieldIndex(seqCol)
    val schema = StructType(seqs.schema.fields :+ StructField("recon_err", DoubleType))
    spark.createDataFrame(
      seqs.rdd.mapPartitions { rows =>
        val err = scorer(bc.value)
        rows.map(r => Row.fromSeq(r.toSeq :+ err(r.getSeq[Double](idx).toArray)))
      }, schema)
  }
}
