package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{TimeSeriesOps => TS}
import graft.sources.Tables

/** The flagship end-to-end feature pipeline (reference: main.py:93-181):
  * time features -> lag features -> PAST-only rolling stats -> drop
  * warm-up rows with any null feature -> MinMax scale, per series key.
  *
  * One window spec drives lags + rollings (single shuffle/sort per series
  * key); the dropna + scale are pure expressions on top. At 100 TB this is
  * shuffle-once-per-key then codegen all the way down.
  */
object PipelineQueries {

  private val K    = Seq("user_id")
  private val Ord  = Seq("ts", "event_id")
  private val Lags = Seq(1, 2, 3, 24)
  private val Wins = Seq(3, 24)

  /** ts_ae_forward fence model shape + seed — pinned so the entry and
    * its generated oracle share ONE set of weight literals.
    */
  private val AeSeqLen = 24
  private val AeHidden = 8
  private val AeSeed   = 42L

  /** ts_lstm_forward fence dims + seed — small dims run the SAME
    * dim-generic production loops; pinned for the shared literals.
    */
  private val LstmFenceDims =
    graft.operators.LstmAutoencoder.LstmDims(f = 1, l = 6, h = 4, b = 2)
  private val LstmFenceSeed = 42L

  /** Shared prep of the two inference fences: per-user round6 z-score
    * (the sax-entry formulation — exact-DECIMAL moments, momentStd,
    * round6 quantization, so both engines window identical doubles)
    * then `len`-length past-inclusive windows per user.
    */
  private def zScoreWindows(s: SparkSession, d: String,
                            len: Int): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    import graft.functions.CleanFunctions
    val e = Tables.events(s, d).where(col("value").isNotNull)
      .withColumn("tsu", CleanFunctions.epochUs(col("ts")))
    val stats = e.groupBy("user_id").agg(
      CleanFunctions.exactSum(col("value")).as("sx"),
      CleanFunctions.exactSum(col("value") * col("value")).as("sxx"),
      count(col("value")).cast(DoubleType).as("n"))
    val z = e.join(stats, "user_id")
      .withColumn("zr", CleanFunctions.round6(
        (col("value") - col("sx") / col("n")) /
          nullif(CleanFunctions.momentStd(col("n"), col("sx"), col("sxx")),
            lit(0.0))))
      .where(col("zr").isNotNull)
      .select("user_id", "event_id", "tsu", "zr")
    // spreadKeyed (r16): both fence entries run a compute-dense per-row
    // scoreWith map (the LSTM fence alone makes ~37M round6 calls)
    // directly over this frame, which otherwise inherits the sequencing
    // window's AQE byte-coalesced 2-4 partitions. Per-row map + final
    // orderBy(event_id) => bit-identical output at any width.
    Tables.spreadKeyed(
      TS.sequences(z, Seq("user_id"), Seq("tsu", "event_id"), "zr", len, "seq"),
      col("event_id"))
  }

  /** The z CTE prefix both fence oracles share (the DuckDB twin of
    * [[zScoreWindows]] up to the window step).
    */
  private def zCtePrefix: String = {
    import graft.functions.CleanFunctions
    s"""e AS (SELECT event_id, user_id, epoch_us(ts) AS tsu, value
       |  FROM events WHERE value IS NOT NULL),
       |st AS (SELECT user_id,
       |  ${CleanFunctions.exactSumSql("value")} AS sx,
       |  ${CleanFunctions.exactSumSql("value * value")} AS sxx,
       |  CAST(count(value) AS DOUBLE) AS n
       |  FROM e GROUP BY user_id),
       |z AS (SELECT e.event_id, e.user_id, e.tsu,
       |  ${CleanFunctions.round6Sql(s"(value - sx / n) / nullif(${CleanFunctions.momentStdSql("n", "sx", "sxx")}, 0.0)")} AS zr
       |  FROM e JOIN st USING (user_id)),
       |zz AS (SELECT * FROM z WHERE zr IS NOT NULL)""".stripMargin
  }

  def featurePipeline(s: SparkSession, d: String): DataFrame = {
    val featureCols =
      Lags.map(l => s"value_lag_$l") ++
        (for (w <- Wins; a <- Seq("mean", "std", "min", "max")) yield s"value_roll_${a}_${w}h")
    val feats = TS.addRolling(
      TS.addLags(
        TS.addTimeFeatures(Tables.events(s, d), "ts"),
        K, Ord, "value", Lags),
      K, Ord, "value", Wins)
    val complete = TS.dropNulls(feats, featureCols)
    TS.minMaxScale(complete, K, "value", "scaled")
      .select(col("event_id"), graft.functions.CleanFunctions.round4(col("scaled")).as("scaled"),
        col("value_lag_1"), col("value_lag_24"),
        col("value_roll_mean_24h").as("roll_mean_24h"),
        graft.functions.CleanFunctions.round4(col("value_roll_std_24h")).as("roll_std_24h"),
        col("hour"), col("dayofweek"), col("is_weekend"))
      .orderBy("event_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_feature_pipeline" -> (featurePipeline _),

    // Leakage-safe training-set assembly (the feature-store
    // point-in-time contract): one labeled example per event whose
    // features come STRICTLY from the trailing 24h window ending 1µs
    // before the example's own timestamp — the row can never see
    // itself or its future, so the label (is this event a purchase)
    // is unleaked by construction. One time-range window per series
    // key (single shuffle), exact-DECIMAL mean, keyed lag for the
    // previous-type/gap features; at 100 TB this is the same
    // shuffle-once-per-key-then-codegen shape as the feature pipeline.
    "events_training_set" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val dayUs = 24L * 3600 * 1000000
      val wr = Window.partitionBy("user_id").orderBy("tsu")
        .rangeBetween(-dayUs, -1)
      val wo = Window.partitionBy("user_id").orderBy("tsu", "event_id")
      Tables.events(s, d)
        .withColumn("tsu", graft.functions.CleanFunctions.epochUs(col("ts")))
        .select(col("event_id"),
          count(col("value")).over(wr).as("n_24h"),
          graft.functions.CleanFunctions.exactMeanOver(col("value"), wr).as("mean_24h"),
          coalesce(lag(col("event_type"), 1).over(wo), lit("none")).as("prev_type"),
          (col("tsu") - lag(col("tsu"), 1).over(wo)).as("gap_us"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("label"))
        .orderBy("event_id")
    },

    // The user-facing run_pipeline API itself (graft.Pipeline.prepare —
    // stages 1-5 of Pipeline.run: duplicate-timestamp dedup keep-first →
    // ffill → calendar/lag/rolling features → dropna → per-series MinMax
    // scale of target AND features) under the exact-hash gate. The model
    // step (stage 6) is the SGD boundary — covered by ts_pca_recon /
    // ts_ae_recon / ts_lstm_recon rows-only entries and their specs.
    // Lags/windows trimmed to the sf-sized series (the 168h default lag
    // would drop every sf0.01 row in warm-up).
    "run_pipeline" -> { (s, d) =>
      val cfg = graft.PipelineConfig(lags = Seq(1, 2, 3, 24), rollingWindows = Seq(3, 24))
      graft.Pipeline.prepare(Tables.events(s, d), cfg)
        .select(col("event_id"),
          graft.functions.CleanFunctions.round4(col("value_scaled")).as("value_scaled"),
          graft.functions.CleanFunctions.round4(col("value_lag_1_scaled")).as("lag1_scaled"),
          graft.functions.CleanFunctions.round4(col("value_roll_mean_24h_scaled")).as("roll_mean_24h_scaled"),
          col("hour"))
        .orderBy("event_id")
    },

    // Linear-AE (PCA) reconstruction-error detector — model-based scoring
    // end to end. No SQL oracle (eigendecomposition isn't expressible);
    // driver records the rows-only check, semantics covered by
    // PcaReconstructionSpec.
    "ts_pca_recon" -> { (s, d) =>
      graft.operators.PcaReconstruction
        .detect(Tables.events(s, d), K, Ord, "value", seqLen = 24, k = 4)
        .select(col("event_id"), graft.functions.CleanFunctions.round4(col("recon_err")).as("recon_err"),
          col("is_anomaly"))
        .orderBy("event_id")
    },

    // Nonlinear (tied-weight MLP) autoencoder detector — the literal
    // encode-bottleneck-decode counterpart of the reference's LSTM-AE
    // (deep_learning_models.py), trained via mapPartitions SGD + parameter
    // averaging. No SQL oracle (SGD isn't expressible); rows-only check,
    // recall-vs-PCA asserted in MlpAutoencoderSpec.
    // trainPartitions follows the session's parallelism: training wall-time
    // scales down with cores/executors, and the determinism contract still
    // holds per deployment (same data + same partitioning => same model).
    // Pass a fixed value instead when bit-reproducibility across different
    // cluster sizes matters more than fit speed.
    // Exact-oracle fence on the AUTOENCODER INFERENCE PATH (r15 verdict
    // item 5): the production MlpAutoencoder forward/meanError loops run
    // with 0-epoch seeded weights (init(24, 8, seed=42)) and the
    // engine-portable round6 tanh over per-user round6 z-score windows;
    // the oracle replays every multiply-add in the IDENTICAL fold order
    // with the weights baked as shared dlit literals. A transposition,
    // indexing or fold-order defect in the hand-written loops fails the
    // exact-hash gate — the rows-only surface of ts_ae_recon shrinks to
    // the SGD step itself.
    "ts_ae_forward" -> { (s, d) =>
      graft.operators.MlpAutoencoder.scoreWith(
          zScoreWindows(s, d, AeSeqLen), "seq",
          graft.operators.MlpAutoencoder.init(AeSeqLen, AeHidden, AeSeed),
          AeSeqLen, AeHidden, graft.operators.MlpAutoencoder.portableTanh)
        .select(col("event_id"),
          graft.functions.CleanFunctions.round4(col("recon_err")).as("recon_err"))
        .orderBy("event_id")
    },

    // Exact-oracle fence on the RECURRENT inference path — the LSTM
    // twin of ts_ae_forward: the production LstmAutoencoder
    // encoder→bottleneck→decoder→FC forward loops (lstmStep /
    // stackForward / forwardLoss, dim-generic, here at f=1 l=6 h=4 b=2)
    // run with 0-epoch seeded weights under the portable round6
    // activations; the generated oracle replays every gate chain, cell
    // update and output term in the identical fold order. The
    // unverified surface of ts_lstm_recon shrinks to BPTT itself.
    "ts_lstm_forward" -> { (s, d) =>
      import graft.operators.{LstmAutoencoder, MlpAutoencoder}
      LstmAutoencoder.scoreWith(
          zScoreWindows(s, d, LstmFenceDims.l), "seq",
          LstmAutoencoder.init(LstmFenceDims, LstmFenceSeed), LstmFenceDims,
          MlpAutoencoder.portableTanh, LstmAutoencoder.portableSigmoid)
        .select(col("event_id"),
          graft.functions.CleanFunctions.round4(col("recon_err")).as("recon_err"))
        .orderBy("event_id")
    },

    "ts_ae_recon" -> { (s, d) =>
      graft.operators.MlpAutoencoder
        .detect(Tables.events(s, d), K, Ord, Seq("value"), seqLen = 24, hidden = 8,
          trainPartitions = s.sparkContext.defaultParallelism)
        .select(col("event_id"), graft.functions.CleanFunctions.round4(col("recon_err")).as("recon_err"),
          col("is_anomaly"))
        .orderBy("event_id")
    },

    // Recurrent (LSTM) autoencoder detector — the literal counterpart of
    // the reference's architecture (deep_learning_models.py:1-93: LSTM
    // encoder -> FC bottleneck -> LSTM decoder -> FC), trained with the
    // same mapPartitions SGD + parameter-averaging harness. No SQL oracle
    // (BPTT isn't expressible); rows-only check, gradient correctness
    // (finite differences), determinism, order sensitivity and
    // recall-vs-MLP asserted in LstmAutoencoderSpec.
    "ts_lstm_recon" -> { (s, d) =>
      graft.operators.LstmAutoencoder
        .detect(Tables.events(s, d), K, Ord, Seq("value"), seqLen = 24, hidden = 8,
          bottleneck = 4, trainPartitions = s.sparkContext.defaultParallelism)
        .select(col("event_id"), graft.functions.CleanFunctions.round4(col("recon_err")).as("recon_err"),
          col("is_anomaly"))
        .orderBy("event_id")
    }
  )

  val oracleSql: Map[String, String] = Map(
    // Generated term-for-term replay of the JVM forward pass: the SAME
    // Params object that scores on the Spark side is rendered here as
    // dlit literals, every dot-product chain is parenthesized in the
    // exact while-loop fold order (left-assoc add of w*x terms after
    // the bias), the activation is the shared portableTanh rule
    // (|a|>=9 saturation + round6 exp formula), and the error is the
    // 0.0-seeded left fold of squared diffs over j ascending, / 24.
    "ts_ae_forward" -> {
      import graft.functions.CleanFunctions
      val L = AeSeqLen; val H = AeHidden
      val p = graft.operators.MlpAutoencoder.init(L, H, AeSeed)
      def dl(x: Double) = CleanFunctions.dlitSql(x)
      val winCols = (0 until L)
        .map(j => s"lag(zr, ${L - 1 - j}) OVER w AS x$j").mkString(",\n  ")
      val aCols = (0 until H).map { i =>
        val chain = (0 until L).foldLeft(dl(p.b1(i)))((acc, j) =>
          s"($acc + ${dl(p.w(i * L + j))} * x$j)")
        s"$chain AS a$i"
      }.mkString(",\n  ")
      val hCols = (0 until H).map { i =>
        "CASE WHEN a" + i + " >= 9.0 THEN 1.0 WHEN a" + i + " <= -9.0 THEN -1.0 ELSE " +
          CleanFunctions.round6Sql(s"(exp(2.0 * a$i) - 1.0) / (exp(2.0 * a$i) + 1.0)") +
          s" END AS h$i"
      }.mkString(",\n  ")
      val xhCols = (0 until L).map { j =>
        val chain = (0 until H).foldLeft(dl(p.b2(j)))((acc, i) =>
          s"($acc + ${dl(p.w(i * L + j))} * h$i)")
        s"$chain AS xh$j"
      }.mkString(",\n  ")
      val errChain = (0 until L).foldLeft("0.0")((acc, j) =>
        s"($acc + (xh$j - x$j) * (xh$j - x$j))")
      val xPass = (0 until L).map(j => s"x$j").mkString(", ")
      s"""WITH $zCtePrefix,
         |win AS (SELECT event_id,
         |  $winCols,
         |  row_number() OVER w AS rn
         |  FROM zz WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
         |act AS (SELECT event_id, $xPass,
         |  $aCols
         |  FROM win WHERE rn >= $L),
         |hid AS (SELECT event_id, $xPass,
         |  $hCols
         |  FROM act),
         |dec AS (SELECT event_id, $xPass,
         |  $xhCols
         |  FROM hid)
         |SELECT event_id,
         |  ${CleanFunctions.round4Sql(s"($errChain) / $L.0")} AS recon_err
         |FROM dec ORDER BY event_id""".stripMargin
    },

    // Generated term-for-term replay of the LSTM forward pass (the
    // ts_ae_forward convention, recurrent): one CTE per pipeline stage —
    // gate pre-activation chains (bias, then x terms, then h terms, in
    // exact while-loop order), gate activations (portable round6
    // sigmoid/tanh with the same saturation guards), cell update
    // f*c + i*g, h = o*tanh(c), the tanh bottleneck, the code REPEATED
    // as decoder input at every step (x0Stride=0), the output FC and
    // the 0.0-seeded squared-diff fold over t, / (l*f).
    "ts_lstm_forward" -> {
      import graft.functions.CleanFunctions
      val dm = LstmFenceDims
      val p = graft.operators.LstmAutoencoder.init(dm, LstmFenceSeed)
      val L = dm.l; val H = dm.h; val B = dm.b
      def dl(x: Double) = CleanFunctions.dlitSql(x)
      def sig(a: String) =
        s"CASE WHEN $a >= 16.0 THEN 1.0 WHEN $a <= -16.0 THEN 0.0 ELSE " +
          CleanFunctions.round6Sql(s"1.0 / (1.0 + exp(-($a)))") + " END"
      def tnh(a: String) =
        s"CASE WHEN $a >= 9.0 THEN 1.0 WHEN $a <= -9.0 THEN -1.0 ELSE " +
          CleanFunctions.round6Sql(s"(exp(2.0 * ($a)) - 1.0) / (exp(2.0 * ($a)) + 1.0)") + " END"
      // One stack's 4 CTEs for step t (JVM 0-based): gate pre-activation
      // chains, activations, cell, hidden. `xTerm(j)` renders input
      // element j at this step; pfx names the stack (e/d).
      def stepCtes(pfx: String, t: Int, base0: Int, gateSize: Int, in: Int,
                   xTerm: Int => String): Seq[String] = {
        val gname = Seq("i", "f", "o", "g")
        val aCols = (0 until 4).flatMap { gi =>
          val base = base0 + gi * gateSize
          val uBase = base + H * in
          val bBase = uBase + H * H
          (0 until H).map { i =>
            val withX = (0 until in).foldLeft(dl(p(bBase + i)))((acc, j) =>
              s"($acc + ${dl(p(base + i * in + j))} * ${xTerm(j)})")
            val chain = (0 until H).foldLeft(withX)((acc, j) =>
              s"($acc + ${dl(p(uBase + i * H + j))} * ${pfx}h${t}_$j)")
            s"$chain AS ${pfx}a${t}_${gname(gi)}$i"
          }
        }.mkString(",\n  ")
        val gCols = (0 until 4).flatMap { gi =>
          (0 until H).map { i =>
            val a = s"${pfx}a${t}_${gname(gi)}$i"
            val act = if (gi == 3) tnh(a) else sig(a)
            s"$act AS ${pfx}g${t}_${gname(gi)}$i"
          }
        }.mkString(",\n  ")
        val cCols = (0 until H).map(i =>
          s"(${pfx}g${t}_f$i * ${pfx}c${t}_$i + ${pfx}g${t}_i$i * ${pfx}g${t}_g$i) AS ${pfx}c${t + 1}_$i"
        ).mkString(",\n  ")
        val hCols = (0 until H).map(i =>
          s"(${pfx}g${t}_o$i * ${tnh(s"${pfx}c${t + 1}_$i")}) AS ${pfx}h${t + 1}_$i"
        ).mkString(",\n  ")
        Seq(s"${pfx}sa$t AS (SELECT *,\n  $aCols\n  FROM ${if (t == 0) s"${pfx}s0" else s"${pfx}sh${t - 1}"})",
          s"${pfx}sg$t AS (SELECT *,\n  $gCols\n  FROM ${pfx}sa$t)",
          s"${pfx}sc$t AS (SELECT *,\n  $cCols\n  FROM ${pfx}sg$t)",
          s"${pfx}sh$t AS (SELECT *,\n  $hCols\n  FROM ${pfx}sc$t)")
      }
      val winCols = (0 until L)
        .map(j => s"lag(zr, ${L - 1 - j}) OVER w AS x$j").mkString(",\n  ")
      val zeroState = (pfx: String) => (0 until H)
        .map(i => s"CAST(0.0 AS DOUBLE) AS ${pfx}h0_$i, CAST(0.0 AS DOUBLE) AS ${pfx}c0_$i")
        .mkString(",\n  ")
      val encCtes = (0 until L).flatMap(t =>
        stepCtes("e", t, dm.encBase(0), dm.encGate(0), dm.encIn(0),
          j => { require(j == 0, "univariate fence"); s"x$t" }))
      // Bottleneck: chain over the top encoder h at row L, then tanh.
      val bottA = (0 until B).map { bi =>
        val chain = (0 until H).foldLeft(dl(p(dm.oBott + B * H + bi)))((acc, j) =>
          s"($acc + ${dl(p(dm.oBott + bi * H + j))} * eh${L}_$j)")
        s"$chain AS ba$bi"
      }.mkString(",\n  ")
      val bottCv = (0 until B).map(bi => s"${tnh(s"ba$bi")} AS cv$bi")
        .mkString(",\n  ")
      val decCtes = (0 until L).flatMap(t =>
        stepCtes("d", t, dm.decBase(0), dm.decGate(0), dm.decIn(0),
          j => s"cv$j"))
      // Output FC per step + the 0.0-seeded loss fold (f=1: one term
      // per step, t ascending), / (l*f).
      val outCols = (0 until L).map { t =>
        val chain = (0 until H).foldLeft(dl(p(dm.oOut + dm.f * H + 0)))((acc, i) =>
          s"($acc + ${dl(p(dm.oOut + 0 * H + i))} * dh${t + 1}_$i)")
        s"$chain AS xh$t"
      }.mkString(",\n  ")
      val errChain = (0 until L).foldLeft("0.0")((acc, t) =>
        s"($acc + (xh$t - x$t) * (xh$t - x$t))")
      s"""WITH $zCtePrefix,
         |win AS (SELECT event_id,
         |  $winCols,
         |  row_number() OVER w AS rn
         |  FROM zz WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
         |es0 AS (SELECT *,
         |  ${zeroState("e")}
         |  FROM win WHERE rn >= $L),
         |${encCtes.mkString(",\n")},
         |bt AS (SELECT *,
         |  $bottA
         |  FROM esh${L - 1}),
         |cv AS (SELECT *,
         |  $bottCv
         |  FROM bt),
         |ds0 AS (SELECT *,
         |  ${zeroState("d")}
         |  FROM cv),
         |${decCtes.mkString(",\n")},
         |outq AS (SELECT *,
         |  $outCols
         |  FROM dsh${L - 1})
         |SELECT event_id,
         |  ${CleanFunctions.round4Sql(s"($errChain) / ${L * dm.f}.0")} AS recon_err
         |FROM outq ORDER BY event_id""".stripMargin
    },

    "events_training_set" -> {
      val dayUs = 24L * 3600 * 1000000
      s"""WITH e AS (SELECT event_id, user_id, event_type,
         |  epoch_us(ts) AS tsu, value FROM events)
         |SELECT event_id,
         |count(value) OVER wr AS n_24h,
         |${graft.functions.CleanFunctions.exactMeanSql("value", "OVER wr")} AS mean_24h,
         |coalesce(lag(event_type) OVER wo, 'none') AS prev_type,
         |tsu - lag(tsu) OVER wo AS gap_us,
         |CASE WHEN event_type = 'purchase' THEN CAST(1 AS BIGINT)
         |     ELSE CAST(0 AS BIGINT) END AS label
         |FROM e WINDOW
         |wr AS (PARTITION BY user_id ORDER BY tsu
         |  RANGE BETWEEN $dayUs PRECEDING AND 1 PRECEDING),
         |wo AS (PARTITION BY user_id ORDER BY tsu, event_id)
         |ORDER BY event_id""".stripMargin
    },

    // The full prepare() chain: keep-first dedup on identical raw
    // timestamps, forward-fill with residual zero, the same feature
    // windows as ts_feature_pipeline (but over the FILLED value), dropna,
    // then per-series MinMax over the post-dropna frame for target and
    // the two reported features.
    "run_pipeline" -> {
      // All partitioning/ordering on epoch_us(ts), never raw ts: under
      // the legacy INT64-nanos generation DuckDB's raw ts keeps ns
      // precision while Spark ingests micros — grouping on raw ts would
      // keep ns-distinct/us-equal duplicates Spark dedups away.
      val w = "PARTITION BY user_id ORDER BY tsu, event_id"
      def mm(c: String) =
        s"(round(((($c) - min($c) OVER u) / nullif(max($c) OVER u - min($c) OVER u, 0)) * 10000.0) / 10000.0 + 0.0)"
      s"""WITH dd AS (
         |SELECT * FROM (SELECT event_id, user_id, ts, epoch_us(ts) AS tsu, value,
         |  row_number() OVER (PARTITION BY user_id, epoch_us(ts) ORDER BY event_id) AS rn
         |  FROM events) WHERE rn = 1
         |), fl AS (
         |SELECT event_id, user_id, ts, tsu,
         |  coalesce(last_value(value IGNORE NULLS)
         |    OVER ($w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS value
         |FROM dd
         |), f AS (
         |SELECT event_id, user_id, value,
         |CAST(hour(ts) AS BIGINT) AS hour,
         |lag(value,1) OVER w AS l1, lag(value,2) OVER w AS l2,
         |lag(value,3) OVER w AS l3, lag(value,24) OVER w AS l24,
         |(CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w3 AS DOUBLE) / count(value) OVER w3) AS m3, stddev_samp(value) OVER w3 AS s3,
         |min(value) OVER w3 AS mn3, max(value) OVER w3 AS mx3,
         |(CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w24 AS DOUBLE) / count(value) OVER w24) AS m24, stddev_samp(value) OVER w24 AS s24,
         |min(value) OVER w24 AS mn24, max(value) OVER w24 AS mx24
         |FROM fl WINDOW w AS ($w),
         |w3 AS ($w ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING),
         |w24 AS ($w ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
         |), g AS (
         |SELECT * FROM f WHERE l1 IS NOT NULL AND l2 IS NOT NULL AND l3 IS NOT NULL
         |AND l24 IS NOT NULL AND m3 IS NOT NULL AND s3 IS NOT NULL AND mn3 IS NOT NULL
         |AND mx3 IS NOT NULL AND m24 IS NOT NULL AND s24 IS NOT NULL AND mn24 IS NOT NULL AND mx24 IS NOT NULL
         |)
         |SELECT event_id,
         |${mm("value")} AS value_scaled,
         |${mm("l1")} AS lag1_scaled,
         |${mm("m24")} AS roll_mean_24h_scaled,
         |hour
         |FROM g WINDOW u AS (PARTITION BY user_id) ORDER BY event_id""".stripMargin
    },

    "ts_feature_pipeline" -> {
      val w = "PARTITION BY user_id ORDER BY ts, event_id"
      s"""WITH f AS (
         |SELECT event_id, user_id, value,
         |CAST(hour(ts) AS BIGINT) AS hour, CAST(isodow(ts)-1 AS BIGINT) AS dayofweek,
         |CAST(CASE WHEN isodow(ts)-1 >= 5 THEN 1 ELSE 0 END AS BIGINT) AS is_weekend,
         |lag(value,1) OVER w AS value_lag_1, lag(value,2) OVER w AS l2,
         |lag(value,3) OVER w AS l3, lag(value,24) OVER w AS value_lag_24,
         |(CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w3 AS DOUBLE) / count(value) OVER w3) AS m3, stddev_samp(value) OVER w3 AS s3,
         |min(value) OVER w3 AS mn3, max(value) OVER w3 AS mx3,
         |(CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w24 AS DOUBLE) / count(value) OVER w24) AS m24, stddev_samp(value) OVER w24 AS s24,
         |min(value) OVER w24 AS mn24, max(value) OVER w24 AS mx24
         |FROM events WINDOW w AS ($w),
         |w3 AS ($w ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING),
         |w24 AS ($w ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
         |), g AS (
         |SELECT * FROM f WHERE value_lag_1 IS NOT NULL AND l2 IS NOT NULL AND l3 IS NOT NULL
         |AND value_lag_24 IS NOT NULL AND m3 IS NOT NULL AND s3 IS NOT NULL AND mn3 IS NOT NULL
         |AND mx3 IS NOT NULL AND m24 IS NOT NULL AND s24 IS NOT NULL AND mn24 IS NOT NULL AND mx24 IS NOT NULL
         |)
         |SELECT event_id,
         |round(((value - min(value) OVER u) / nullif(max(value) OVER u - min(value) OVER u, 0)) * 10000.0) / 10000.0 + 0.0 AS scaled,
         |value_lag_1, value_lag_24, m24 AS roll_mean_24h, round((s24) * 10000.0) / 10000.0 + 0.0 AS roll_std_24h,
         |hour, dayofweek, is_weekend
         |FROM g WINDOW u AS (PARTITION BY user_id) ORDER BY event_id""".stripMargin
    }
  )
}
