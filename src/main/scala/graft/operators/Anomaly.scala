package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftConfig
import graft.functions.CleanFunctions.safeDiv

/** Anomaly detectors over keyed time series.
  *
  * The reference's end state (main.py:223-230) is: score each
  * sliding-window sequence by reconstruction error and flag scores above a
  * threshold (config.py:23 ANOMALY_THRESHOLD=3.0 sigmas). These detectors
  * express that family declaratively: global z-score, trailing-window
  * z-score, IQR and MAD robust variants, and a reconstruction-error scorer
  * whose predictor is a deterministic trailing-mean (the LSTM decode is a
  * training-time concern, not query semantics — see SURVEY.md §6).
  *
  * Scale posture: all statistics are per-series window aggregates or
  * grouped aggregates joined back (broadcast when small); nothing touches
  * the driver.
  */
object Anomaly {

  /** Global per-series z-score; |z| > threshold flags (ref config.py:23). */
  def zscore(df: DataFrame, keys: Seq[String], target: String,
             threshold: Double = GraftConfig.AnomalyThreshold): DataFrame = {
    val w  = Window.partitionBy(keys.map(col): _*)
    val z  = safeDiv(col(target) - avg(col(target)).over(w), stddev_samp(col(target)).over(w))
    df.withColumn("z", z)
      .withColumn("is_anomaly", (abs(col("z")) > threshold).cast("long"))
  }

  /** Trailing-window z-score: current value vs the PAST `win` rows'
    * mean/stddev (shift-1 semantics like the reference's rolling features).
    */
  def rollingZscore(df: DataFrame, keys: Seq[String], order: Seq[String],
                    target: String, win: Int = GraftConfig.SequenceLength,
                    threshold: Double = GraftConfig.AnomalyThreshold): DataFrame = {
    val w  = TimeSeriesOps.seriesWindow(keys, order).rowsBetween(-win, -1)
    val mu = avg(col(target)).over(w)
    val sd = stddev_samp(col(target)).over(w)
    df.withColumn("z", safeDiv(col(target) - mu, sd))
      .withColumn("is_anomaly", coalesce((abs(col("z")) > threshold).cast("long"), lit(0L)))
  }

  /** IQR fences: value outside [q1 - k*iqr, q3 + k*iqr]. Quantiles are an
    * exact grouped aggregate (one shuffle over the key, tiny result)
    * broadcast-joined back onto the events — at 100 TB the stats side is
    * |keys| rows, always broadcastable.
    */
  def iqr(df: DataFrame, keys: Seq[String], target: String, k: Double = 1.5): DataFrame = {
    val stats = df.groupBy(keys.map(col): _*).agg(
      expr(s"percentile($target, 0.25)").as("q1"),
      expr(s"percentile($target, 0.75)").as("q3"))
    val withFences = stats
      .withColumn("lo", col("q1") - lit(k) * (col("q3") - col("q1")))
      .withColumn("hi", col("q3") + lit(k) * (col("q3") - col("q1")))
    df.join(broadcast(withFences), keys)
      .withColumn("is_anomaly", (col(target) < col("lo") || col(target) > col("hi")).cast("long"))
  }

  /** Winsorization: clamp the target into its per-series [qLo, qHi]
    * percentile band — the robust-preprocessing sibling of [[iqr]]
    * (clamp instead of flag), standard before scaling so one spike
    * can't stretch a min-max range or inflate a z denominator. Same
    * scale shape as [[iqr]]: the quantile side is |keys| rows,
    * always broadcastable; exact interpolated percentile here, swap
    * `approx_percentile` at extreme cardinality (same plan shape).
    */
  def winsorize(df: DataFrame, keys: Seq[String], target: String,
                qLo: Double = 0.05, qHi: Double = 0.95): DataFrame = {
    require(qLo >= 0 && qHi <= 1 && qLo < qHi, s"bad band [$qLo, $qHi]")
    val stats = df.groupBy(keys.map(col): _*).agg(
      expr(s"percentile($target, $qLo)").as("lo"),
      expr(s"percentile($target, $qHi)").as("hi"))
    df.join(broadcast(stats), keys)
      // Pin the null semantic (pandas clip: NaN in -> NaN out): Spark's
      // least/greatest SKIP nulls, which would silently winsorize a
      // missing value to `lo` — guard explicitly so NULL stays NULL, and
      // a NULL target is NOT clamped (0), same contract as mad's
      // is_anomaly (both halves of the r5 ADVICE divergence).
      .withColumn(s"${target}_wins",
        when(col(target).isNull, lit(null))
          .otherwise(least(greatest(col(target), col("lo")), col("hi"))))
      .withColumn("is_clamped",
        coalesce((col(target) < col("lo") || col(target) > col("hi")).cast("long"), lit(0L)))
  }

  /** Median-absolute-deviation robust z: 0.6745*(x-med)/mad, |rz|>3.5.
    * Two grouped-aggregate passes (median, then MAD) — both tiny,
    * broadcast back.
    */
  def mad(df: DataFrame, keys: Seq[String], target: String,
          scale: Double = GraftConfig.MadScale,
          threshold: Double = GraftConfig.MadThreshold): DataFrame = {
    val med = df.groupBy(keys.map(col): _*).agg(median(col(target)).as("med"))
    val withMed = df.join(broadcast(med), keys)
    val madAgg = withMed.groupBy(keys.map(col): _*)
      .agg(median(abs(col(target) - col("med"))).as("mad"))
    withMed.join(broadcast(madAgg), keys)
      .withColumn("rz", safeDiv(lit(scale) * (col(target) - col("med")), col("mad")))
      .withColumn("is_anomaly", coalesce((abs(col("rz")) > threshold).cast("long"), lit(0L)))
  }

  /** Ensemble detector: majority vote of the three global per-series
    * detectors ([[zscore]] |z|>3, [[iqr]] fences, [[mad]] robust z) —
    * the standard way to trade any single detector's failure mode
    * (z-score's masking by the outlier itself, IQR's collapse on
    * low-variance series, MAD's zero-mad degeneracy) for agreement.
    * `minVotes` of the 3 flags => is_anomaly.
    *
    * Scale shape: composes the three operators on one DataFrame — the
    * window pass and the broadcast-joined grouped aggregates chain
    * without ever joining two corpus-sized sides on row id.
    */
  def ensemble(df: DataFrame, keys: Seq[String], target: String,
               minVotes: Int = 2): DataFrame = {
    require(minVotes >= 1 && minVotes <= 3, s"minVotes=$minVotes out of [1,3]")
    val z = zscore(df, keys, target)
      .withColumnRenamed("is_anomaly", "vote_z").drop("z")
    val i = iqr(z, keys, target)
      .withColumnRenamed("is_anomaly", "vote_iqr").drop("q1", "q3", "lo", "hi")
    val m = mad(i, keys, target)
      .withColumnRenamed("is_anomaly", "vote_mad").drop("med", "mad", "rz")
    // zscore's flag can be NULL on a constant series (null sd) — a null
    // vote is a 0 vote, not a poisoned sum.
    m.withColumn("votes", coalesce(col("vote_z"), lit(0L)) +
        coalesce(col("vote_iqr"), lit(0L)) + coalesce(col("vote_mad"), lit(0L)))
      .withColumn("is_anomaly", (col("votes") >= minVotes).cast("long"))
  }

  /** Change-point score: sliding two-sample mean shift — |mean of the
    * next `win` rows - mean of the past `win` rows| / series stddev,
    * full windows only. The window-expressible stand-in for recursive CUSUM:
    * both windows ride one per-key sort, no state beyond the frames.
    */
  def changePointScore(df: DataFrame, keys: Seq[String], order: Seq[String],
                       target: String, win: Int): DataFrame = {
    val base   = TimeSeriesOps.seriesWindow(keys, order)
    val before = base.rowsBetween(-win, -1)
    val after  = base.rowsBetween(0, win - 1)
    val keyW   = Window.partitionBy(keys.map(col): _*)
    import graft.functions.CleanFunctions.exactMeanOver
    df.withColumn("cp_score", safeDiv(
        abs(exactMeanOver(col(target), after) - exactMeanOver(col(target), before)),
        stddev_samp(col(target)).over(keyW)))
      .withColumn("__nb", count(col(target)).over(before))
      .withColumn("__na", count(col(target)).over(after))
      .filter(col("__nb") === win && col("__na") === win)
      .drop("__nb", "__na")
  }

  /** Alert episodes: run-length-group consecutive anomalous rows
    * (boolean `flagCol`) into one row per episode with count and span.
    * Same one-sort change-flag + cumulative-sum shape as sessionize.
    */
  def alertEpisodes(df: DataFrame, keys: Seq[String], order: Seq[String],
                    flagCol: String, tsNumCol: String): DataFrame = {
    val w   = TimeSeriesOps.seriesWindow(keys, order)
    val cum = w.rowsBetween(Window.unboundedPreceding, 0)
    df.withColumn("__chg",
        when(lag(col(flagCol), 1).over(w).isNull ||
          col(flagCol) =!= lag(col(flagCol), 1).over(w), 1L).otherwise(0L))
      .withColumn("__grp", sum(col("__chg")).over(cum))
      .filter(col(flagCol) === 1)
      .groupBy(keys.map(col) :+ col("__grp"): _*)
      .agg(count(lit(1)).as("n_events"),
        min(col(tsNumCol)).as("start_us"), max(col(tsNumCol)).as("end_us"))
      .drop("__grp")
  }

  /** Reconstruction-error scoring (ref main.py:223-230): predictor =
    * trailing mean of the past `win` rows (deterministic stand-in for the
    * LSTM-AE decode), per-row squared error, sequence score = mean error
    * over the trailing sequence window, flag = score > `flagFactor` x the
    * series' mean score. Everything stays in two window passes.
    */
  def reconstructionError(df: DataFrame, keys: Seq[String], order: Seq[String],
                          target: String, win: Int = GraftConfig.SequenceLength,
                          flagFactor: Double = 4.0): DataFrame = {
    val scored = reconstructionScores(df, keys, order, target, win)
    val keyW   = Window.partitionBy(keys.map(col): _*)
    scored
      .withColumn("is_anomaly",
        (col("seq_err") > lit(flagFactor) *
          graft.functions.CleanFunctions.exactMeanOver(col("seq_err"), keyW)).cast("long"))
  }

  /** Quantile-threshold variant: flag sequences whose error exceeds the
    * per-series `q`-quantile of errors — the threshold shape that survives
    * heavy-tailed error distributions where a mean-factor drowns. Exact
    * interpolated percentile here (small per-key state); at 100 TB swap in
    * `approx_percentile` — one pass, fixed sketch size, same plan shape.
    */
  def reconstructionErrorQuantile(df: DataFrame, keys: Seq[String], order: Seq[String],
                                  target: String, win: Int = GraftConfig.SequenceLength,
                                  q: Double = 0.95): DataFrame = {
    val scored = reconstructionScores(df, keys, order, target, win)
    val keyW   = Window.partitionBy(keys.map(col): _*)
    scored
      .withColumn("thr", expr(s"percentile(seq_err, $q)").over(keyW))
      .withColumn("is_anomaly", (col("seq_err") > col("thr")).cast("long"))
  }

  /** Shared scoring pass: trailing-mean predictor, per-row squared error,
    * trailing-window mean error, warm-up rows dropped.
    */
  private def reconstructionScores(df: DataFrame, keys: Seq[String], order: Seq[String],
                                   target: String, win: Int): DataFrame = {
    val base = TimeSeriesOps.seriesWindow(keys, order)
    val past = base.rowsBetween(-win, -1)
    val seqW = base.rowsBetween(-(win - 1), 0)
    val pred = graft.functions.CleanFunctions.exactMeanOver(col(target), past)
    // Exact DECIMAL window means throughout: engines disagree on plain
    // double window sums (DuckDB's sliding frames aggregate via segment
    // tree, a different addition order) — fatal at rounding boundaries.
    df.withColumn("err", pow(col(target) - pred, 2))
      .withColumn("seq_err", graft.functions.CleanFunctions.exactMeanOver(col("err"), seqW))
      .withColumn("__rn", row_number().over(base))
      .filter(col("__rn") >= 2 * win) // warm-up: full predictor + full sequence
      .drop("__rn")
  }
}
