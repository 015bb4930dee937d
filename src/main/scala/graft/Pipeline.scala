package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{PcaReconstruction, TimeSeriesOps => TS}

/** Configuration for the end-to-end pipeline; defaults mirror the
  * reference's config.py + main.py choices.
  */
case class PipelineConfig(
    seriesKeys: Seq[String] = Seq("user_id"),
    order: Seq[String] = Seq("ts", "event_id"),
    tsCol: String = "ts",
    target: String = "value",
    duplicateHandling: String = "first",                  // set_time_index
    missingStrategy: String = "ffill",                    // handle_missing_values
    lags: Seq[Int] = GraftConfig.DefaultLags,             // main.py:131
    rollingWindows: Seq[Int] = GraftConfig.DefaultWindows, // main.py:132
    seqLen: Int = GraftConfig.SequenceLength,             // config.py:27
    pcaComponents: Int = 4,                               // bottleneck dim stand-in
    flagFactor: Double = 4.0,
    // "pca"  = linear AE on the scaled target (deterministic closed form);
    // "mlp"  = nonlinear tied-weight AE on the FULL scaled feature matrix,
    //          the reference's literal (L, F) training input (main.py:183-195);
    // "lstm" = recurrent AE on the same (L, F) input, the reference's
    //          architecture shape (deep_learning_models.py:1-93) — scores
    //          depend on temporal order, unlike pca/mlp.
    model: String = "pca",
    mlpHidden: Int = 8,
    lstmHidden: Int = 8,
    lstmBottleneck: Int = 4) {
  require(Set("first", "last")(duplicateHandling),
    s"duplicateHandling must be first or last, got '$duplicateHandling'")
  require(Set("ffill", "bfill", "mean", "median", "zero")(missingStrategy),
    s"missingStrategy must be one of ffill, bfill, mean, median, zero, got '$missingStrategy'")
  require(Set("pca", "mlp", "lstm")(model), s"model must be pca, mlp or lstm, got '$model'")
}

/** The reference's `run_pipeline` (main.py:58-233) as one composable
  * call: index -> clean -> features -> dropna -> scale -> sequence ->
  * model-based anomaly scores. Each stage is the corresponding
  * distributed operator; the whole flow is lazy except the model fit.
  *
  * A user of the reference switches by calling
  * `Pipeline.run(events, PipelineConfig())` and reading `recon_err` /
  * `is_anomaly` off the result.
  */
object Pipeline {

  def featureColumns(cfg: PipelineConfig): Seq[String] =
    cfg.lags.map(l => s"${cfg.target}_lag_$l") ++
      (for (w <- cfg.rollingWindows; a <- GraftConfig.RollingAggs)
        yield s"${cfg.target}_roll_${a}_${w}h")

  /** Stages 1–5 of [[run]]: index → clean → features → dropna → scale,
    * WITHOUT the model step — the fully-relational (and therefore
    * exact-oracle-checkable) front of the pipeline, exposed so callers
    * can feed the prepared matrix to their own model and so the
    * `run_pipeline` driver entry can hash-verify everything up to the
    * SGD boundary.
    */
  def prepare(events: DataFrame, cfg: PipelineConfig = PipelineConfig()): DataFrame = {
    // 1. Time index: resolve duplicate timestamps per series.
    val indexed = TS.dedupIndex(events, cfg.seriesKeys, col(cfg.tsCol),
      cfg.order, cfg.duplicateHandling)
    // 2. Missing values on the target.
    val filled = TS.fill(indexed, cfg.seriesKeys, cfg.order, cfg.target,
      cfg.missingStrategy)
    // 3. Features: calendar + lags + PAST-only rolling stats.
    val feats = TS.addRolling(
      TS.addLags(
        TS.addTimeFeatures(filled, cfg.tsCol),
        cfg.seriesKeys, cfg.order, cfg.target, cfg.lags),
      cfg.seriesKeys, cfg.order, cfg.target, cfg.rollingWindows)
    // 4. Drop warm-up rows (any null feature), like main.py:151.
    val complete = TS.dropNulls(feats, featureColumns(cfg))
    // 5. Scale target + features per series (main.py:168-181 scales all).
    TS.minMaxScaleAll(complete, cfg.seriesKeys,
      cfg.target +: featureColumns(cfg))
  }

  def run(events: DataFrame, cfg: PipelineConfig = PipelineConfig()): DataFrame = {
    val scaledCols = (cfg.target +: featureColumns(cfg)).map(_ + "_scaled")
    val scaled = prepare(events, cfg)
    // 6. Sequence + autoencoder reconstruction scoring + flags.
    cfg.model match {
      case "pca" =>
        PcaReconstruction.detect(scaled, cfg.seriesKeys, cfg.order,
          s"${cfg.target}_scaled", cfg.seqLen, cfg.pcaComponents, cfg.flagFactor)
      case "mlp" =>
        operators.MlpAutoencoder.detect(scaled, cfg.seriesKeys, cfg.order,
          scaledCols, cfg.seqLen, cfg.mlpHidden, flagFactor = cfg.flagFactor)
      case "lstm" =>
        operators.LstmAutoencoder.detect(scaled, cfg.seriesKeys, cfg.order,
          scaledCols, cfg.seqLen, cfg.lstmHidden, cfg.lstmBottleneck,
          flagFactor = cfg.flagFactor)
    }
  }
}
