package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.CleanFunctions
import graft.functions.CleanFunctions.{epochUs, exactSum, exactSumSql, round4, round4Sql}
import graft.operators.{DataQuality, TimeSeriesOps => TS}
import graft.sources.Tables

/** Operational-analytics queries: monitoring (gap/outage report, counter
  * rate, M4 plot downsampling), warehouse maintenance (SCD Type-2
  * dimension build) and the pre-publish data-quality audit. Each has an
  * IEEE-identical DuckDB oracle.
  *
  * Scale notes: every window is keyed by series; the DQ audit is a union
  * of map-side single-row aggregates plus one optimizer-chosen anti
  * join; M4 output is O(#buckets), the whole point of the operator.
  */
object OpsQueries {

  private val K   = Seq("user_id")
  private val Ord = Seq("tsu", "event_id")

  /** 6 h in microseconds: outage threshold and M4 bucket span. */
  private val SixHoursUs = 6L * 3600 * 1000000

  /** LTTB target point budget per series (first + interior + last). */
  private val LttbBuckets = 12

  /** SAX MINDIST cell² literals for the 4-letter alphabet (breakpoints
    * −0.6745 / 0 / 0.6745): letters two apart cost (β₂−β₁)² = 0.6745²,
    * three apart (β₃−β₁)² = 1.349²; round6-quantized ONCE here so the
    * DECIMAL(18,6) term sums are exact and both engines share the same
    * literal via dlitSql.
    */
  private val SaxBp = 0.6745
  private val SaxCellSq1 = CleanFunctions.round6Jvm(SaxBp * SaxBp)
  private val SaxCellSq2 = CleanFunctions.round6Jvm((2 * SaxBp) * (2 * SaxBp))

  /** Exponential-decay half-life constant: τ = 7 days in µs (the decayed
    * engagement score's time scale), baked as the same double literal in
    * both engines.
    */
  private val DecayTauUs = 604800000000.0
  private val OneHourUs  = 3600L * 1000000

  /** Holt smoothing constants. The SQL twin interpolates the EXACT
    * computed doubles (shortest-round-trip toString, string-cast to
    * DOUBLE in DuckDB) — writing the literal `0.7` there would parse to
    * a DIFFERENT double than Scala's `1.0 - 0.3`.
    */
  private val HoltAlpha = 0.5
  private val HoltGamma = 0.3
  private def dlit(x: Double): String = CleanFunctions.dlitSql(x)

  /** Kalman local-level variances (process / measurement), sized to the
    * events value scale (sigma ~5 measurement noise, modest drift).
    */
  private val KalmanQ = 4.0
  private val KalmanR = 25.0

  /** Croston smoothing constant (standard 0.1-0.3 band). */
  private val CrostonAlpha = 0.3

  /** Path analysis: per-user journey prefix length and reported top-k. */
  private val PathLen  = 8
  private val TopPaths = 20

  /** Lateness histogram: 10-minute bands, top band open-ended. */
  private val LatenessBandUs = 600L * 1000000
  private val LatenessBands  = 7L

  /** Hysteresis alarm thresholds in |z| units: enter above HystHi,
    * leave below HystLo (ts_hysteresis).
    */
  private val HystLo = 1.0
  private val HystHi = 2.0

  /** One drawdown oracle body for the batch ts_drawdown (all rows) and
    * streaming_drawdown (null-filtered) — the M4 shared-builder rule.
    */
  private def drawdownOracleSql(filter: String): String =
    s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tsu, value FROM events$filter),
       |r AS (SELECT event_id, value,
       |  max(value) OVER (PARTITION BY user_id ORDER BY tsu, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_max
       |  FROM e)
       |SELECT event_id, run_max, ${CleanFunctions.round4Sql("run_max - value")} AS drawdown,
       |  CAST(CASE WHEN value >= run_max THEN 1 ELSE 0 END AS BIGINT) AS is_new_high
       |FROM r ORDER BY event_id""".stripMargin

  /** ts_hysteresis' oracle, shared VERBATIM with streaming_hysteresis
    * (the streaming alarm fold replays to the identical recursion — the
    * streaming_kalman shared-body rule).
    */
  private lazy val HysteresisOracleSql: String =
    s"""WITH RECURSIVE stats AS (
       |  SELECT user_id, CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
       |    CAST(sum(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
       |    CAST(count(value) AS DOUBLE) AS n
       |  FROM events WHERE value IS NOT NULL GROUP BY user_id),
       |v AS (SELECT user_id, event_id, CAST(value AS DOUBLE) AS x,
       |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
       |  FROM events WHERE value IS NOT NULL),
       |p AS (SELECT v.user_id, v.event_id, v.rn,
       |    abs(round(((v.x - sx / n) / nullif(${CleanFunctions.momentStdSql("n", "sx", "sxx")}, 0.0)) * 10000.0) / 10000.0 + 0.0) AS za
       |  FROM v JOIN stats USING (user_id)),
       |f AS (SELECT * FROM p WHERE za IS NOT NULL),
       |c AS (
       |  SELECT user_id, event_id, rn, za,
       |    CAST(CASE WHEN za > $HystHi THEN 1 ELSE 0 END AS BIGINT) AS st
       |  FROM f WHERE rn = 1
       |  UNION ALL
       |  SELECT f.user_id, f.event_id, f.rn, f.za,
       |    CAST(CASE WHEN c.st = 0 THEN (CASE WHEN f.za > $HystHi THEN 1 ELSE 0 END)
       |              ELSE (CASE WHEN f.za < $HystLo THEN 0 ELSE 1 END) END AS BIGINT)
       |  FROM c JOIN f ON f.user_id = c.user_id AND f.rn = c.rn + 1)
       |SELECT event_id, za AS z_abs, st AS in_alert
       |FROM c ORDER BY event_id""".stripMargin

  /** Hourly purchase demand per user — the INTERMITTENT series feeding
    * Croston / demand classification: most hours see no purchase, and
    * only the demand points are materialized (no zero-spine — the scale
    * contract of every intermittent-demand op here).
    */
  private def demand(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .where(col("event_type") === "purchase" && col("value").isNotNull)
      .withColumn("bucket", expr("tsu DIV 3600000000"))
      .groupBy("user_id", "bucket")
      .agg(exactSum(col("value")).as("q"))

  private val demandSql: String =
    s"""d AS (SELECT user_id, epoch_us(ts) // 3600000000 AS bucket,
       |  ${exactSumSql("value")} AS q
       |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
       |  GROUP BY 1, 2)""".stripMargin

  /** Candidate periods (hours) for spectral seasonality detection. */
  private val SpectralPeriods = Seq(24, 12, 8, 6)

  /** ln(#spectral bins) — the spectral-entropy normalizer, computed once
    * in Scala and interpolated into both engines as the same double.
    */
  private val LnBins = math.log(SpectralPeriods.size.toDouble)

  /** Discrete Fourier coefficient tables: cos/sin of the p phases of one
    * cycle, computed ONCE in Scala and baked as literals into BOTH the
    * Spark plan and the DuckDB SQL. Trig never runs inside either engine
    * — libm argument-reduction differences (the last-ulp hazard for
    * cos(huge epoch)) cannot exist when the coefficients are literals.
    */
  private def fourierTable(p: Int): (Seq[Double], Seq[Double]) =
    ((0 until p).map(i => math.cos(2.0 * math.Pi * i / p)),
      (0 until p).map(i => math.sin(2.0 * math.Pi * i / p)))

  private def sqlDList(xs: Seq[Double]): String =
    xs.map(x => s"CAST('${x.toString}' AS DOUBLE)").mkString("[", ", ", "]")

  private def ev(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).withColumn("tsu", epochUs(col("ts")))

  /** LTTB downsampling (Largest-Triangle-Three-Buckets, Steinarsson
    * 2013 — the perceptual line-chart downsampler next to M4's
    * pixel-exact one): per series keep first + last + one point per
    * interior bucket, each chosen to maximize the triangle area with
    * the PREVIOUSLY SELECTED point and the NEXT bucket's centroid.
    * The selection chain is a sequential DP over buckets; it runs as
    * ONE keyed sorted fold (TS.scanSeries, with an O(series)
    * per-key buffer like ts_matrix_profile): the old shape coordinated
    * LttbBuckets-2 driver rounds — 16 window/join/checkpoint passes
    * over the table — where one pass per key computes the identical
    * chain. x = row index (the equal-spacing LTTB variant); centroids
    * replicate exactMean bit-for-bit (per-value DECIMAL(18,6)
    * quantization via dec6, exact BigDecimal sum — order-blind — one
    * doubleValue cast, double divide); areas round6Jvm'd before the
    * argmax with the (tsu, event_id) tiebreak (ascending scan keeps
    * the earliest strict max), so both engines pick identical points;
    * the oracle unrolls the same rounds as chained CTEs, unchanged.
    *
    * Input: `events` with user_id, tsu, event_id and value; output: the
    * (user_id, bucket, event_id, value) picks ordered by user and bucket.
    */
  private[graft] def lttbDownsample(events: DataFrame): DataFrame = {
    import java.math.{BigDecimal => JBD}
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField}
    val nb = LttbBuckets - 2
    val minRows = LttbBuckets
    TS.scanSeries(events.where(col("value").isNotNull), K, Ord,
        Seq(col("event_id"), col("value").cast(DoubleType)),
        Seq(StructField("bucket", LongType), StructField("event_id", LongType),
          StructField("value", DoubleType)), perRow = false) { run =>
      // One series' LTTB picks from its (tsu, event_id)-ordered rows:
      // (eventId, value) per row; rn = index+1.
      val rows = run.map(r => (r.getLong(0), r.getDouble(1))).toArray
      val (ev, va) = (rows.map(_._1), rows.map(_._2))
      val cnt = rows.length
      if (cnt < minRows) Iterator.empty
      else {
        // bucket(rn) for interior rn in 2..cnt-1, exactly the old
        // floor(((rn-2)*nb)/double(cnt-2)) + 1 expression.
        def bucketOf(rn: Long): Int =
          (math.floor(((rn - 2L) * nb).toDouble / (cnt - 2).toDouble) + 1.0).toInt
        // Per-bucket centroid = exactMean replica: sum of dec6-
        // quantized values as exact BigDecimals, one doubleValue
        // cast of the sum, double divide by the count.
        val sx = Array.fill(nb + 2)(JBD.ZERO)
        val sy = Array.fill(nb + 2)(JBD.ZERO)
        val bn = new Array[Long](nb + 2)
        var i = 1
        while (i < cnt - 1) {
          val b = bucketOf(i + 1L)
          sx(b) = sx(b).add(CleanFunctions.dec6((i + 1L).toDouble))
          sy(b) = sy(b).add(CleanFunctions.dec6(va(i)))
          bn(b) += 1L
          i += 1
        }
        val out = new Array[Seq[Any]](nb + 2)
        out(0) = Seq[Any](0L, ev(0), va(0))
        out(nb + 1) = Seq[Any]((nb + 1).toLong, ev(cnt - 1), va(cnt - 1))
        var px = 1.0
        var py = va(0)
        var lo = 1 // first interior index of the current bucket
        var b = 1
        while (b <= nb) {
          val (cx, cy) =
            if (b < nb) (sx(b + 1).doubleValue / bn(b + 1),
                         sy(b + 1).doubleValue / bn(b + 1))
            else (cnt.toDouble, va(cnt - 1))
          var bestArea = Double.NegativeInfinity
          var bestIdx = -1
          var j = lo
          while (j < cnt - 1 && bucketOf(j + 1L) == b) {
            val area = CleanFunctions.round6Jvm(math.abs(
              (px - cx) * (va(j) - py) -
                (px - (j + 1L).toDouble) * (cy - py)) * 0.5)
            if (area > bestArea) { bestArea = area; bestIdx = j }
            j += 1
          }
          lo = j
          out(b) = Seq[Any](b.toLong, ev(bestIdx), va(bestIdx))
          px = (bestIdx + 1L).toDouble
          py = va(bestIdx)
          b += 1
        }
        out.iterator
      }
    }.orderBy("user_id", "bucket")
  }

  /** One M4 oracle builder for the batch `ts_m4_downsample` (all rows)
    * and the streaming replay `streaming_m4` (null-filtered, because the
    * Event feed carries primitive doubles) — a single SQL body so the
    * two checks cannot drift.
    */
  private def m4OracleSql(nullFiltered: Boolean): String = {
    val filt = if (nullFiltered) " WHERE value IS NOT NULL" else ""
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id, value FROM events$filt),
       |r AS (SELECT user_id, tsu // $SixHoursUs AS bucket, value,
       |        row_number() OVER w AS rn,
       |        count(*) OVER (PARTITION BY user_id, tsu // $SixHoursUs) AS cnt
       |      FROM e WINDOW w AS (PARTITION BY user_id, tsu // $SixHoursUs ORDER BY tsu, event_id))
       |SELECT user_id, bucket,
       |  min(CASE WHEN rn = 1 THEN value END) AS v_first,
       |  min(CASE WHEN rn = cnt THEN value END) AS v_last,
       |  min(value) AS v_min, max(value) AS v_max,
       |  count(value) AS n
       |FROM r GROUP BY user_id, bucket ORDER BY user_id, bucket""".stripMargin
  }

  /** One CUSUM-with-reset recursion for the batch `ts_cusum_reset`
    * (minN = 1, i.e. every series) and the streaming replay
    * `streaming_cusum` (minN = 2: the ControlSample feed carries a
    * primitive slack, so null-sigma singleton series are excluded on
    * both sides) — a single SQL body so the two checks cannot drift.
    */
  private def cusumResetOracleSql(minN: Int): String =
    s"""WITH RECURSIVE stats AS (
       |  SELECT user_id, CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
       |    CAST(sum(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
       |    CAST(count(value) AS DOUBLE) AS n
       |  FROM events WHERE value IS NOT NULL GROUP BY user_id),
       |v AS (SELECT user_id, event_id, CAST(value AS DOUBLE) AS x,
       |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
       |  FROM events WHERE value IS NOT NULL),
       |p AS (SELECT v.user_id, v.event_id, v.x, v.rn, sx / n AS m,
       |    0.5 * ${CleanFunctions.momentStdSql("n", "sx", "sxx")} AS k
       |  FROM v JOIN stats USING (user_id) WHERE n >= $minN),
       |c AS (
       |  SELECT user_id, event_id, rn, m, k,
       |    greatest(CAST(0.0 AS DOUBLE), x - m - k) AS s
       |  FROM p WHERE rn = 1
       |  UNION ALL
       |  SELECT p.user_id, p.event_id, p.rn, p.m, p.k,
       |    greatest(CAST(0.0 AS DOUBLE), c.s + (p.x - p.m - p.k))
       |  FROM c JOIN p ON p.user_id = c.user_id AND p.rn = c.rn + 1)
       |SELECT event_id, round((s) * 10000.0) / 10000.0 + 0.0 AS cusum_hi,
       |  CAST(CASE WHEN s > 4.0 * k THEN 1 ELSE 0 END AS BIGINT) AS alarm
       |FROM c ORDER BY event_id""".stripMargin

  /** Recursive-CTE token-bucket fold — shared by the batch
    * `events_rate_limit` and the streaming replay `streaming_rate_limit`
    * oracles. The refilled-balance expression is repeated (like the cusum
    * oracle repeats its clamp) — every IEEE op identical to tokenBucket's
    * fold.
    */
  private lazy val RateLimitOracleSql: String = {
    val bal = "least(3.0, c.tokens + (1.0 / 3600.0) * (CAST(v.dt AS DOUBLE) / 1000000.0))"
    s"""WITH RECURSIVE v AS (
       |  SELECT user_id, event_id,
       |    row_number() OVER w AS rn,
       |    epoch_us(ts) - lag(epoch_us(ts)) OVER w AS dt
       |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
       |c AS (
       |  SELECT user_id, event_id, rn,
       |    CAST(3.0 - 1.0 AS DOUBLE) AS tokens, CAST(1 AS BIGINT) AS admitted
       |  FROM v WHERE rn = 1
       |  UNION ALL
       |  SELECT v.user_id, v.event_id, v.rn,
       |    CASE WHEN $bal >= 1.0 THEN $bal - 1.0 ELSE $bal END,
       |    CAST(CASE WHEN $bal >= 1.0 THEN 1 ELSE 0 END AS BIGINT)
       |  FROM c JOIN v ON v.user_id = c.user_id AND v.rn = c.rn + 1)
       |SELECT event_id, ${round4Sql("tokens")} AS tokens, admitted
       |FROM c ORDER BY event_id""".stripMargin
  }

  /** Recursive-CTE Kalman recursion — shared by the batch `ts_kalman`
    * and the streaming replay `streaming_kalman` oracles so the two
    * checks can never drift apart.
    */
  private lazy val KalmanOracleSql: String = {
    val q = dlit(KalmanQ); val r = dlit(KalmanR)
    val pp = s"(h.p + $q)"
    val kk = s"(($pp) / (($pp) + $r))"
    s"""WITH RECURSIVE v AS (
       |  SELECT user_id, event_id, CAST(value AS DOUBLE) AS value,
       |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
       |  FROM events WHERE value IS NOT NULL),
       |kal AS (
       |  SELECT user_id, event_id, rn, value AS est, $r AS p,
       |    CAST(1.0 AS DOUBLE) AS gain
       |  FROM v WHERE rn = 1
       |  UNION ALL
       |  SELECT v.user_id, v.event_id, v.rn,
       |    h.est + ($kk) * (v.value - h.est) AS est,
       |    (1.0 - ($kk)) * ($pp) AS p,
       |    $kk AS gain
       |  FROM kal h JOIN v ON v.user_id = h.user_id AND v.rn = h.rn + 1)
       |SELECT event_id, ${round4Sql("est")} AS estimate, ${round4Sql("gain")} AS gain
       |FROM kal ORDER BY event_id""".stripMargin
  }

  /** Recursive-CTE Holt path — shared by the batch `ts_holt_path` and
    * the streaming replay `streaming_holt` oracles so the two checks can
    * never drift apart (the KalmanOracleSql rule).
    */
  private lazy val HoltPathOracleSql: String = {
    val a = dlit(HoltAlpha); val ia = dlit(1.0 - HoltAlpha)
    val g = dlit(HoltGamma); val ig = dlit(1.0 - HoltGamma)
    val nl = s"$a * v.value + $ia * (h.l + h.b)"
    s"""WITH RECURSIVE v AS (
       |  SELECT user_id, event_id, CAST(value AS DOUBLE) AS value,
       |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
       |  FROM events WHERE value IS NOT NULL),
       |holt AS (
       |  SELECT user_id, event_id, rn, value AS l, CAST(0.0 AS DOUBLE) AS b
       |  FROM v WHERE rn = 1
       |  UNION ALL
       |  SELECT v.user_id, v.event_id, v.rn,
       |    $nl AS l,
       |    $g * (($nl) - h.l) + $ig * h.b AS b
       |  FROM holt h JOIN v ON v.user_id = h.user_id AND v.rn = h.rn + 1)
       |SELECT event_id, ${round4Sql("l")} AS level, ${round4Sql("b")} AS trend
       |FROM holt ORDER BY event_id""".stripMargin
  }

  /** The shared ts_holt_winters / streaming_holt_winters oracle body
    * (same never-drift rule).
    */
  private lazy val HwOracleSql: String =
    s"""WITH RECURSIVE $HwCtes
       |SELECT user_id, day, ${round4Sql("m")} AS day_mean,
       |  ${round4Sql("fitted")} AS hw_fitted, ${round4Sql("l")} AS hw_level,
       |  ${round4Sql("b")} AS hw_trend,
       |  ${round4Sql("s[(rn - 1) % 7 + 1]")} AS hw_seasonal
       |FROM c ORDER BY user_id, day""".stripMargin

  /** Recursive-CTE Croston recursion — shared by the batch `ts_croston`
    * and the streaming replay `streaming_croston` oracles (the
    * KalmanOracleSql never-drift rule).
    */
  private lazy val CrostonOracleSql: String = {
    val a = dlit(CrostonAlpha); val ia = dlit(1.0 - CrostonAlpha)
    s"""WITH RECURSIVE $demandSql,
       |v AS (SELECT user_id, bucket, q,
       |  row_number() OVER (PARTITION BY user_id ORDER BY bucket) AS rn,
       |  count(*) OVER (PARTITION BY user_id) AS n
       |  FROM d),
       |c AS (
       |  SELECT user_id, rn, n, bucket, q AS z, CAST(1.0 AS DOUBLE) AS p
       |  FROM v WHERE rn = 1
       |  UNION ALL
       |  SELECT v.user_id, v.rn, v.n, v.bucket,
       |    $a * v.q + $ia * c.z AS z,
       |    $a * CAST(v.bucket - c.bucket AS DOUBLE) + $ia * c.p AS p
       |  FROM c JOIN v ON v.user_id = c.user_id AND v.rn = c.rn + 1)
       |SELECT user_id, rn AS n_demands, ${round4Sql("z")} AS level,
       |  ${round4Sql("p")} AS demand_interval, ${round4Sql("z / p")} AS forecast
       |FROM c WHERE rn = n ORDER BY user_id""".stripMargin
  }

  /** Natural log of the SAX alphabet size — the LZ76 normalizer's
    * shared literal (both engines bake the same double via dlitSql).
    */
  private val SaxLn4 = math.log(4.0)

  /** LZ76 phrase count (Lempel & Ziv 1976, exhaustive-history parse) —
    * the "how compressible is this series" primitive. Formulated as the
    * shortest-unseen-prefix scan: at position q (0-based) the next
    * phrase is the SHORTEST prefix of the remainder that does NOT occur
    * in s[0, q+L−1) — occurrences may start anywhere before q and
    * overlap into the phrase except its last char (the Kaspar-Schuster
    * search window), and containment is downward-closed in L so "first
    * not-contained" = "min not-contained"; the trailing phrase counts
    * even when reproducible. The DuckDB oracle replays this EXACT
    * formulation (min-L over a spine + strpos window check), so the
    * count is integer-identical by construction.
    */
  private[graft] def lz76Phrases(word: String): Long = {
    val n = word.length
    var q = 0
    var c = 0L
    while (q < n) {
      var L = 1
      while (q + L <= n &&
             word.substring(0, q + L - 1).contains(word.substring(q, q + L)))
        L += 1
      if (q + L > n) L = n - q // every prefix reproducible: trailing phrase
      c += 1
      q += L
    }
    c
  }

  /** LZ76 complexity of each user's SAX word (the `ts_lz_complexity`
    * entry): symbolize exactly like ts_sax (6h-frame PAA over round6
    * z-scores, 4-letter alphabet, null frames dropped), concatenate the
    * per-user word in frame order, count LZ76 phrases, and normalize by
    * the random-sequence rate c·ln(n)/(n·ln 4) — periodic/flat series
    * score near 0, incompressible ones near 1. The randomness/
    * compressibility sibling of ts_perm_entropy (ordinal patterns) and
    * ts_sampen (template matches): LZ76 sees REPEATED VOCABULARY at any
    * distance, which both of those are blind to. Scale: the word is
    * O(frames) per user (bounded by the time span — the ts_pava_trend
    * contract), the parse is a per-key mapGroups fold, and the only
    * shuffles are the shared symbolization passes. ln(n) is round6-
    * quantized on both engines (the Kleinberg emission-cost pattern);
    * ln 4 is a baked shared literal.
    */
  def lzComplexity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DoubleType
    val e = ev(s, d).where(col("value").isNotNull)
    val stats = e.groupBy("user_id").agg(
      exactSum(col("value")).as("sx"),
      exactSum(col("value") * col("value")).as("sxx"),
      count(col("value")).cast("double").as("n"))
    val sym = e.join(stats, "user_id")
      .withColumn("zr", CleanFunctions.round6(
        (col("value") - col("sx") / col("n")) /
          nullif(CleanFunctions.momentStd(col("n"), col("sx"), col("sxx")), lit(0.0))))
      .groupBy(col("user_id"), expr(s"tsu div $SixHoursUs").as("frame"))
      .agg(CleanFunctions.safeDiv(exactSum(col("zr")),
        count(col("zr")).cast("double")).as("paa_raw"))
      .withColumn("sym",
        when(col("paa_raw").isNull, lit(null).cast("string"))
          .when(col("paa_raw") < -SaxBp, "a").when(col("paa_raw") < 0.0, "b")
          .when(col("paa_raw") < SaxBp, "c").otherwise("d"))
      .where(col("sym").isNotNull)
    sym.select(col("user_id"), col("frame"), col("sym"))
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .mapGroups { (uid, it) =>
        val word = it.toArray.sortBy(_._2).map(_._3).mkString
        (uid, word.length.toLong, lz76Phrases(word))
      }
      .toDF("user_id", "n_sym", "lz_c")
      .select(col("user_id"), col("n_sym"), col("lz_c"),
        CleanFunctions.round4(
          (col("lz_c").cast(DoubleType)
            * CleanFunctions.round6(log(col("n_sym").cast(DoubleType))))
          / (col("n_sym").cast(DoubleType) * lit(SaxLn4))).as("lz_norm"))
      .orderBy("user_id")
  }

  /** SAX MINDIST divergence from the fleet reference (the
    * `ts_sax_mindist` entry — full rationale on the entry's doc
    * comment). `bp` is the symmetric breakpoint of the 4-letter
    * alphabet (±bp and 0 cut the z-line into a/b/c/d; the N(0,1)
    * equiprobable value is 0.6745) — the constructor-level knob a
    * deployment retunes for a non-Gaussian fleet; the default stays
    * the pinned [[SaxBp]] so the driver entry and its DuckDB oracle
    * share one literal (the nbSourceConfusion precedent). The cell²
    * table derives from bp ((β₂−β₁)² and (β₃−β₁)² = (2bp)²), so at the
    * default it is byte-identical to the pinned [[SaxCellSq1]]/
    * [[SaxCellSq2]] literals the oracle bakes in.
    */
  def saxMindist(s: SparkSession, d: String, bp: Double = SaxBp): DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.types.DoubleType
    require(bp > 0, s"bp=$bp must be positive")
    val cell1 = CleanFunctions.round6Jvm(bp * bp)
    val cell2 = CleanFunctions.round6Jvm((2 * bp) * (2 * bp))
    def symOf(c: Column): Column =
      when(c.isNull, lit(null).cast("string"))
        .when(c < -bp, "a").when(c < 0.0, "b")
        .when(c < bp, "c").otherwise("d")
    def li(c: Column): Column =
      when(c === "a", 1).when(c === "b", 2).when(c === "c", 3).otherwise(4)
    val e = ev(s, d).where(col("value").isNotNull)
    val stats = e.groupBy("user_id").agg(
      exactSum(col("value")).as("sx"),
      exactSum(col("value") * col("value")).as("sxx"),
      count(col("value")).cast("double").as("n"))
    val sym = e.join(stats, "user_id")
      .withColumn("zr", CleanFunctions.round6(
        (col("value") - col("sx") / col("n")) /
          nullif(CleanFunctions.momentStd(col("n"), col("sx"), col("sxx")), lit(0.0))))
      .groupBy(col("user_id"), expr(s"tsu div $SixHoursUs").as("frame"))
      .agg(CleanFunctions.safeDiv(exactSum(col("zr")),
        count(col("zr")).cast("double")).as("paa_raw"),
        count(col("zr")).as("n_samples"))
      .withColumn("sym", symOf(col("paa_raw")))
    val gstats = e.agg(
      exactSum(col("value")).as("gsx"),
      exactSum(col("value") * col("value")).as("gsxx"),
      count(col("value")).cast("double").as("gn"))
    val gsym = e.crossJoin(broadcast(gstats))
      .withColumn("gzr", CleanFunctions.round6(
        (col("value") - col("gsx") / col("gn")) /
          nullif(CleanFunctions.momentStd(col("gn"), col("gsx"), col("gsxx")), lit(0.0))))
      .groupBy(expr(s"tsu div $SixHoursUs").as("frame"))
      .agg(CleanFunctions.safeDiv(exactSum(col("gzr")),
        count(col("gzr")).cast("double")).as("gpaa"))
      .withColumn("gsym", symOf(col("gpaa")))
      .select("frame", "gsym")
    val gap = abs(li(col("sym")) - li(col("gsym")))
    sym.join(broadcast(gsym), "frame")
      .where(col("sym").isNotNull && col("gsym").isNotNull)
      .withColumn("cellsq",
        when(gap <= 1, lit(0.0)).when(gap === 2, lit(cell1))
          .otherwise(lit(cell2)))
      .groupBy("user_id").agg(
        count(lit(1)).as("n_frames"),
        sum(col("n_samples")).as("n_obs"),
        exactSum(col("cellsq")).as("cs"))
      .select(col("user_id"), col("n_frames"), col("n_obs"),
        round4(sqrt(col("n_obs").cast(DoubleType)
          / col("n_frames").cast(DoubleType) * col("cs"))).as("mindist"))
      .orderBy("user_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Zonemap-effectiveness report (the data-layout feedback loop behind
    // min/max data skipping): per day-partition min/max/count of value,
    // plus whether the canonical hot-tail predicate (value > 0.9 * global
    // max) could SKIP the partition entirely on footer stats alone. The
    // fraction of skippable days is the number a layout job optimizes —
    // near 0 means the sort/partition keys don't cluster the measure and
    // a z-order/repartition pass pays for itself. One grouped agg + one
    // bounded scalar broadcast.
    "events_zonemap_report" -> { (s, d) =>
      import org.apache.spark.sql.types.LongType
      val e = Tables.events(s, d)
      val gm = e.agg(max(col("value")).as("gmax"))
      e.groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).cast(LongType).as("n"),
          min(col("value")).as("min_v"), max(col("value")).as("max_v"))
        .crossJoin(broadcast(gm))
        .select(col("day"), col("n"), col("min_v"), col("max_v"),
          when(col("max_v") < col("gmax") * 0.9, 1L).otherwise(0L)
            .as("skippable"))
        .orderBy("day")
    },

    // Monitoring holes: adjacent samples more than 6h apart, one row per
    // outage with its span (microseconds).
    "ts_gap_report" -> { (s, d) =>
      TS.gapReport(ev(s, d), K, Ord, "tsu", SixHoursUs)
        .orderBy("user_id", "gap_start")
    },

    // Counter-reset-aware rate (Prometheus rate() semantics) over the
    // value column: increase handles resets, elapsed from event time.
    "ts_counter_rate" -> { (s, d) =>
      TS.counterRate(ev(s, d), K, Ord, "tsu", "value")
        .select("event_id", "rate_per_s").orderBy("event_id")
    },

    // M4 downsample into 6h buckets: first/last/min/max per bucket —
    // pixel-exact line plots from O(#buckets) rows.
    "ts_m4_downsample" -> { (s, d) =>
      TS.m4Downsample(ev(s, d), K, Ord, "tsu", "value", SixHoursUs)
        .orderBy("user_id", "bucket")
    },

    // Power-law (Pareto) exponent of each event type's user-activity
    // distribution — the Clauset-Shalizi-Newman continuous MLE
    // α̂ = 1 + n / Σ ln(cᵢ / (xmin − ½)) over per-user counts ≥ xmin,
    // with the half-shift discreteness correction: the "is engagement
    // heavy-tailed, and how heavy" readout (α near 2 = extreme
    // concentration; > 3 = mild). One grouped count pass + one grouped
    // log-sum: each ln term is 6dp-quantized into the DECIMAL sum and
    // α̂/xmin-share are single rounded divisions — engine-exact.
    "events_powerlaw_alpha" -> { (s, d) =>
      import org.apache.spark.sql.types.DoubleType
      val xmin = 2L
      val counts = ev(s, d)
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("c"))
      val tail = counts.where(col("c") >= xmin)
        .withColumn("lt", CleanFunctions.round6(
          log(col("c").cast(DoubleType) / lit(xmin.toDouble - 0.5))))
      tail.groupBy("event_type").agg(
          count(lit(1)).as("n_tail"),
          round4(lit(1.0) + count(lit(1)).cast(DoubleType) /
            exactSum(col("lt"))).as("alpha"))
        .join(counts.groupBy("event_type").agg(count(lit(1)).as("n_users")),
          "event_type")
        .select(col("event_type"), col("n_users"), col("n_tail"),
          round4(col("n_tail").cast(DoubleType) /
            col("n_users").cast(DoubleType)).as("tail_share"),
          col("alpha"))
        .orderBy("event_type")
    },

    // Time-decayed engagement score per user: Σ e^((t_i − now)/τ) —
    // the recency-weighted activity feature every ranking/churn system
    // maintains (yesterday's event counts ~0.87, last week's ~0.37).
    // ONE grouped pass over the corpus: the anchor `now` is a broadcast
    // scalar, each event contributes one 6dp-quantized exp term into the
    // DECIMAL sum (order-independent ⇒ arrival/partitioning-proof and
    // engine-exact — the same contract as every decayed sum here).
    "events_decay_score" -> { (s, d) =>
      import org.apache.spark.sql.types.DoubleType
      val e = ev(s, d)
      val nowT = e.agg(max(col("tsu")).as("now_us"))
      e.select(col("user_id"), col("tsu"))
        .crossJoin(broadcast(nowT))
        .withColumn("w", CleanFunctions.round6(
          exp((col("tsu") - col("now_us")).cast(DoubleType) / lit(DecayTauUs))))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          round4(exactSum(col("w"))).as("decay_score"))
        .orderBy("user_id")
    },

    // LTTB downsampling: see [[lttbDownsample]].
    "ts_lttb_downsample" -> { (s, d) => lttbDownsample(ev(s, d)) },

    // SCD Type-2 history of each user's event_type: validity intervals
    // over change points, open interval flagged current.
    "events_scd2" -> { (s, d) =>
      TS.scd2(ev(s, d), K, Ord, "event_type", "tsu")
        .orderBy("user_id", "valid_from", "event_type")
    },

    // Point-in-time (AS OF) fact join against an SCD2 dimension — the
    // composition events_scd2 exists FOR: each purchase is attributed
    // to the value-band regime its user was in ONE HOUR BEFORE the
    // purchase (valid_from ≤ t < valid_to, open current regime) — the
    // lag-attribution question ("what state preceded conversion") that
    // a same-row groupBy cannot answer. The canonical late-arriving-
    // dimension warehouse pattern: one equi-join on the natural key
    // with the validity-range residual predicate (per-key regime count
    // is change-bounded, so the residual scan per fact row stays tiny
    // at any corpus size); facts dated before the first regime surface
    // as band −1 instead of silently dropping.
    "events_scd2_pit" -> { (s, d) =>
      val banded = ev(s, d).where(col("value").isNotNull)
        .withColumn("band", floor(col("value") / 50.0).cast("long"))
      val dim = TS.scd2(banded, K, Ord, "band", "tsu")
      val facts = ev(s, d).where(col("event_type") === "purchase")
        .select(col("user_id").as("fuid"),
          (col("tsu") - lit(3600000000L)).as("ots"))
      val j = facts.join(dim,
        col("fuid") === dim("user_id") &&
          col("ots") >= col("valid_from") &&
          (col("valid_to").isNull || col("ots") < col("valid_to")), "left")
      j.groupBy(coalesce(col("band"), lit(-1L)).as("regime_band"))
        .agg(count(lit(1)).as("n_purchases"))
        .orderBy("regime_band")
    },

    // Holt linear-trend smoothing, final state + 24-step forecast per
    // series. Recursive fold — mapPartitions O(1)-state on Spark, the
    // SAME left-to-right IEEE fold as the oracle's list_reduce, so a
    // recursive operator gets an EXACT hash oracle.
    "ts_holt_forecast" -> { (s, d) =>
      TS.holtSmooth(ev(s, d), K, Ord, "value", HoltAlpha, HoltGamma)
        .select(col("user_id"), round4(col("level")).as("level"),
          round4(col("trend")).as("trend"),
          round4(col("level") + lit(24.0) * col("trend")).as("fc24"), col("n"))
        .orderBy("user_id")
    },

    // Per-row Holt smoothed path (what a dashboard plots) — same exact
    // recursive-CTE oracle trick as ts_holt_forecast, emitting every
    // intermediate state instead of only the final one.
    "ts_holt_path" -> { (s, d) =>
      TS.holtPath(ev(s, d).where(col("value").isNotNull),
          K, Ord, "value", HoltAlpha, HoltGamma)
        .select(col("event_id"), round4(col("level")).as("level"),
          round4(col("trend")).as("trend"))
        .orderBy("event_id")
    },

    // 1-D Kalman filter path (local-level model): per-row denoised level
    // estimate + gain — the third recursive operator with an EXACT
    // recursive-CTE oracle (after Holt and CUSUM-reset). q/r picked for
    // the events value scale; the gain path converges in a few steps
    // regardless.
    "ts_kalman" -> { (s, d) =>
      TS.kalmanPath(ev(s, d).where(col("value").isNotNull),
          K, Ord, "value", KalmanQ, KalmanR)
        .select(col("event_id"), round4(col("estimate")).as("estimate"),
          round4(col("gain")).as("gain"))
        .orderBy("event_id")
    },

    // Streaming M4 downsampling, driver-verified: per (user, 6h tumbling
    // window) first/last/min/max via min_by/max_by on the (ts, event_id)
    // struct — O(1) state per open window, arrival-order-proof. Replayed
    // over the events table with a punctuation close; the oracle is the
    // null-filtered twin of the batch ts_m4_downsample SQL (the Event
    // feed carries primitive doubles, so null-valued rows are excluded
    // on both sides).
    "streaming_m4" -> { (s, d) =>
      import s.implicits._
      import graft.streaming.{Event, StreamingAnomaly}
      val rows = ev(s, d).where(col("value").isNotNull)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value")).as[Event].collect().toSeq
      val maxUs = rows.iterator.map(e => StreamingAnomaly.tsUs(e.ts)).max
      StreamingAnomaly.replayToSink(s, rows, "graft_streaming_m4",
          Some(StreamingAnomaly.punctuationEvent(maxUs + 10L * 86400L * 1000000L)))(
          ds => StreamingAnomaly.m4Windows(ds.toDF()))
        .select(col("user_id"),
          expr(s"unix_micros(bucket_start) div $SixHoursUs").as("bucket"),
          col("v_first"), col("v_last"), col("v_min"), col("v_max"), col("n"))
        .orderBy("user_id", "bucket")
    },

    // Streaming SPC CUSUM-with-reset replay: per-series control
    // parameters (mean, half-sigma slack) computed batch-side — the
    // production shape, where a slowly-refreshed reference join delivers
    // them — then the ONE-double-of-state streaming fold replays and the
    // alarm joins back on the per-series threshold. Series with n=1
    // (null slack) are excluded on BOTH sides: ControlSample carries a
    // primitive slack, and the oracle filters n >= 2 identically.
    "streaming_cusum" -> { (s, d) =>
      import s.implicits._
      import graft.streaming.{ControlSample, StreamingAnomaly}
      val e = ev(s, d).where(col("value").isNotNull)
      val stats = e.groupBy("user_id").agg(
        graft.functions.CleanFunctions.exactSum(col("value")).as("sx"),
        graft.functions.CleanFunctions.exactSum(col("value") * col("value")).as("sxx"),
        count(col("value")).cast("double").as("n"))
        .withColumn("m", col("sx") / col("n"))
        .withColumn("k",
          lit(0.5) * CleanFunctions.momentStd(col("n"), col("sx"), col("sxx")))
        .where(col("k").isNotNull)
        // Referenced by both the feed join (collected below) and the
        // post-replay alarm join — cache so the full-table aggregation
        // runs once, not twice.
        .cache()
      val rows = e.join(stats, "user_id")
        .select(col("event_id"), col("ts"), col("user_id"), col("value"),
          col("m").as("target_mean"), col("k").as("slack"))
        .as[ControlSample].collect().toSeq
      StreamingAnomaly.replayToSink(s, rows, "graft_streaming_cusum", None)(
          ds => StreamingAnomaly.cusumReset(ds).toDF())
        .join(stats.select(col("user_id"), col("k")), "user_id")
        .select(col("event_id"), round4(col("cusum_hi")).as("cusum_hi"),
          when(col("cusum_hi") > lit(4.0) * col("k"), 1L).otherwise(0L).as("alarm"))
        .orderBy("event_id")
    },

    // Streaming token-bucket rate limiter replay: the TWO-scalar
    // admission fold over every event (value is irrelevant to admission,
    // so null values ride as 0.0 to keep the primitive-encoder feed
    // total), hash-checked against the identical recursive oracle as the
    // batch events_rate_limit.
    "streaming_rate_limit" -> { (s, d) =>
      import s.implicits._
      import graft.streaming.{Event, StreamingAnomaly}
      val rows = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), coalesce(col("value"), lit(0.0)).as("value"))
        .as[Event].collect().toSeq
      StreamingAnomaly.replayToSink(s, rows, "graft_streaming_rate_limit", None)(
          ds => StreamingAnomaly.tokenBucket(ds,
            capacity = 3.0, refillPerSec = 1.0 / 3600.0).toDF())
        .select(col("event_id"), round4(col("tokens")).as("tokens"),
          col("admitted"))
        .orderBy("event_id")
    },

    // The STREAMING Kalman filter (flatMapGroupsWithState, two doubles of
    // state per key) replayed over the events table in one batch and
    // hash-checked against the SAME recursive-CTE oracle as the batch
    // ts_kalman — the stateful-operator face of the streaming_replay
    // family: proves the streaming fold's in-batch (ts, event_id)
    // ordering and IEEE recurrence equal the batch path exactly. No
    // punctuation: flatMapGroupsWithState emits in the processing batch.
    "streaming_kalman" -> { (s, d) =>
      import s.implicits._
      import graft.streaming.{Event, StreamingAnomaly}
      val rows = Tables.events(s, d).where(col("value").isNotNull)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value")).as[Event].collect().toSeq
      StreamingAnomaly.replayToSink(s, rows, "graft_streaming_kalman", None)(
          ds => StreamingAnomaly.kalman(ds, KalmanQ, KalmanR).toDF())
        .select(col("event_id"), round4(col("estimate")).as("estimate"),
          round4(col("gain")).as("gain"))
        .orderBy("event_id")
    },

    // Streaming RECURSIVE EWMA via flatMapGroupsWithState — the
    // streaming twin of ts_ewma_recursive over non-null samples (TWO
    // doubles of state per key; see StreamingAnomaly.ewmaRecursive for
    // the bit-for-bit in-batch ordering contract). DRIVER-VERIFIED: the
    // oracle is the same recursive CTE as the batch twin's, on the
    // null-filtered row set.
    "streaming_ewma" -> { (s, d) =>
      import s.implicits._
      import graft.streaming.{Event, StreamingAnomaly}
      val rows = Tables.events(s, d).where(col("value").isNotNull)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value")).as[Event].collect().toSeq
      StreamingAnomaly.replayToSink(s, rows, "graft_streaming_ewma", None)(
          ds => StreamingAnomaly.ewmaRecursive(ds, alpha = 0.3).toDF())
        .select(col("event_id"), round4(col("ewma")).as("ewma"))
        .orderBy("event_id")
    },

    // Streaming Holt linear-trend smoothing via flatMapGroupsWithState —
    // the streaming twin of ts_holt_path (TWO doubles of state per key;
    // see StreamingAnomaly.holt for the bit-for-bit in-batch ordering
    // contract). DRIVER-VERIFIED: the oracle is the batch twin's
    // recursive CTE, verbatim.
    "streaming_holt" -> { (s, d) =>
      import s.implicits._
      import graft.streaming.{Event, StreamingAnomaly}
      val rows = Tables.events(s, d).where(col("value").isNotNull)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value")).as[Event].collect().toSeq
      StreamingAnomaly.replayToSink(s, rows, "graft_streaming_holt", None)(
          ds => StreamingAnomaly.holt(ds, HoltAlpha, HoltGamma).toDF())
        .select(col("event_id"), round4(col("level")).as("level"),
          round4(col("trend")).as("trend"))
        .orderBy("event_id")
    },

    // Streaming additive Holt-Winters — the streaming twin of
    // ts_holt_winters over the SAME daily-mean grid (in production the
    // grid comes from an upstream windowed streaming aggregation; the
    // replay computes it batch-side so the fold sees identical inputs).
    // O(period) state per key; oracle = the batch twin's recursive CTE,
    // verbatim.
    "streaming_holt_winters" -> { (s, d) =>
      import s.implicits._
      import graft.streaming.{DaySample, StreamingAnomaly}
      import org.apache.spark.sql.types.DoubleType
      val rows = ev(s, d).where(col("value").isNotNull)
        .withColumn("day", expr("tsu DIV 86400000000"))
        .groupBy("user_id", "day")
        .agg(CleanFunctions.exactMean(col("value")).cast(DoubleType).as("m"))
        .as[DaySample].collect().toSeq
      StreamingAnomaly.replayToSink(s, rows, "graft_streaming_hw", None)(
          ds => StreamingAnomaly.holtWinters(ds, period = 7,
            alpha = 0.3, beta = 0.1, gamma = 0.2).toDF())
        .select(col("user_id"), col("day"), round4(col("m")).as("day_mean"),
          round4(col("fitted")).as("hw_fitted"),
          round4(col("level")).as("hw_level"),
          round4(col("trend")).as("hw_trend"),
          round4(col("seasonal")).as("hw_seasonal"))
        .orderBy("user_id", "day")
    },

    // Streaming MULTIPLICATIVE Holt-Winters — completes the
    // smoothing-family matrix (additive HW above already has a twin):
    // the streaming twin of ts_holt_winters_mult over the same daily
    // grid, seasonals starting at 1 and the level updating on ratios.
    // O(period) state per key; oracle = the batch twin's recursive
    // CTE, verbatim.
    "streaming_holt_winters_mult" -> { (s, d) =>
      import s.implicits._
      import graft.streaming.{DaySample, StreamingAnomaly}
      import org.apache.spark.sql.types.DoubleType
      val rows = ev(s, d).where(col("value").isNotNull)
        .withColumn("day", expr("tsu DIV 86400000000"))
        .groupBy("user_id", "day")
        .agg(CleanFunctions.exactMean(col("value")).cast(DoubleType).as("m"))
        .as[DaySample].collect().toSeq
      StreamingAnomaly.replayToSink(s, rows, "graft_streaming_hw_mult", None)(
          ds => StreamingAnomaly.holtWintersMult(ds, period = 7,
            alpha = 0.3, beta = 0.1, gamma = 0.2).toDF())
        .select(col("user_id"), col("day"), round4(col("m")).as("day_mean"),
          round4(col("fitted")).as("hw_fitted"),
          round4(col("level")).as("hw_level"),
          round4(col("trend")).as("hw_trend"),
          round4(col("seasonal")).as("hw_seasonal"))
        .orderBy("user_id", "day")
    },

    // Population Stability Index between the month's two halves, per
    // event_type — THE drift gate of ML monitoring (rule of thumb:
    // >0.25 = retrain). Fixed-width value buckets (integer boundaries —
    // no quantile estimation to disagree on), Laplace-smoothed shares so
    // a bucket empty in one period can't produce ln(0), 6dp-rounded
    // DECIMAL term sums (the bucketEntropy contract).
    "events_psi" -> { (s, d) =>
      import org.apache.spark.sql.types.{DecimalType, DoubleType}
      val jan15 = java.time.LocalDate.of(2024, 1, 15).toEpochDay
      val e = ev(s, d).where(col("value").isNotNull)
        .withColumn("period",
          when(expr(s"tsu DIV 86400000000") <= jan15, "a").otherwise("b"))
        .withColumn("bkt", expr("CAST(floor(value / 50.0) AS BIGINT)"))
      val cnt = e.groupBy("event_type", "bkt").agg(
        count(when(col("period") === "a", 1)).as("ca"),
        count(when(col("period") === "b", 1)).as("cb"))
      val tot = cnt.groupBy("event_type").agg(
        sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
        count(lit(1)).as("nbuckets"))
      val pa = (col("ca") + 1L).cast(DoubleType) /
        (col("na") + col("nbuckets")).cast(DoubleType)
      val pb = (col("cb") + 1L).cast(DoubleType) /
        (col("nb") + col("nbuckets")).cast(DoubleType)
      cnt.join(tot, "event_type")
        .withColumn("term",
          CleanFunctions.round6((pa - pb) * log(pa / pb)).cast(DecimalType(18, 6)))
        .groupBy("event_type")
        .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
          round4(sum(col("term")).cast(DoubleType)).as("psi"))
        .orderBy("event_type")
    },

    // END-TO-END incident pipeline as ONE user-facing call
    // (Monitoring.run): 2-of-3 ensemble vote -> run-length episode
    // grouping — the composition itself is hash-checked, like
    // text_curation / dedup_pipeline.
    "ops_incidents" -> { (s, d) =>
      graft.operators.Monitoring.run(ev(s, d), K, Ord, "tsu", "value")
        .select(col("user_id"), col("n_events"), col("start_us"), col("end_us"))
        .orderBy("user_id", "start_us")
    },

    // DAU / trailing-28d MAU stickiness per day (THE product engagement
    // ratio): activity reduced to distinct (user, day) FIRST, then the
    // tiny day grid broadcast against it with a 28-day band predicate —
    // each user-day lands in <= 28 grid rows, so the windowed distinct
    // is O(28·|user-days|) work with NO unpartitioned window; the day
    // grid is bounded by the time range at any corpus scale.
    "events_dau_mau" -> { (s, d) =>
      val ud = ev(s, d)
        .select(col("user_id"), expr("tsu DIV 86400000000").as("day"))
        .distinct()
      val grid = ud.select(col("day").as("g")).distinct()
      val dau = ud.groupBy("day").agg(countDistinct(col("user_id")).as("dau"))
      val mau = ud.join(broadcast(grid),
          col("day").between(col("g") - 27L, col("g")))
        .groupBy(col("g").as("day"))
        .agg(countDistinct(col("user_id")).as("mau"))
      dau.join(mau, "day")
        .select(col("day"), col("dau"), col("mau"),
          round4(col("dau").cast("double") / col("mau").cast("double"))
            .as("stickiness"))
        .orderBy("day")
    },

    // Daily new-vs-cumulative unique users (the growth curve): distinct
    // counting made incremental by the FIRST-SEEN trick — each user
    // counts on exactly one day, so the cumulative distinct is a plain
    // running sum over the O(#days) day grid. The prefix runs as a
    // broadcast self-join over that aggregate (no unpartitioned window);
    // integer sums make join-order irrelevant, so the oracle's window
    // cumsum matches exactly.
    "events_user_growth" -> { (s, d) =>
      val firstSeen = ev(s, d).groupBy("user_id")
        .agg(min(expr("tsu DIV 3600000000")).as("hour"))
      val perHour = firstSeen.groupBy("hour").agg(count(lit(1)).as("new_users"))
      val b = perHour.select(col("hour").as("b_hour"), col("new_users").as("b_new"))
      perHour.join(broadcast(b), col("b_hour") <= col("hour"))
        .groupBy("hour", "new_users")
        .agg(sum(col("b_new")).as("cum_users"))
        .select(col("hour"), col("new_users"), col("cum_users"))
        .orderBy("hour")
    },

    // Dwell time per event-type transition: how long users sit between a
    // from-event and the next event, per (from, to) pair — the duration
    // companion of events_markov (which counts transitions, this times
    // them). One keyed lead window + a grouped exact-integer-micros
    // mean; seconds derived at output.
    "events_dwell_time" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
      ev(s, d)
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .withColumn("dwell_us", lead(col("tsu"), 1).over(w) - col("tsu"))
        .where(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"),
          round4((sum(col("dwell_us")).cast("double") / count(lit(1))) / 1e6)
            .as("mean_dwell_s"))
        .orderBy("from_type", "to_type")
    },

    // Croston's method on hourly purchase demand — the intermittent-
    // demand forecaster (plain EWMA systematically under-forecasts
    // sparse series): demand-size and inter-demand-interval smoothers
    // advanced only at demand points, flat forecast z/p per period.
    // Fourth recursive operator with an exact recursive-CTE oracle.
    "ts_croston" -> { (s, d) =>
      TS.crostonSmooth(demand(s, d), K, "bucket", "q", CrostonAlpha)
        .select(col("user_id"), col("n_demands"),
          round4(col("level")).as("level"),
          round4(col("interval")).as("demand_interval"),
          round4(col("forecast")).as("forecast"))
        .orderBy("user_id")
    },

    // Streaming Croston via the emit-once EventTimeTimeout fold — the
    // terminal-summary member of the streaming forecasting twins (Holt/
    // HW/GARCH emit per-row paths; Croston's contract is one summary per
    // series at the demand-window close). O(1) state per key; oracle =
    // the batch twin's recursive CTE, verbatim.
    "streaming_croston" -> { (s, d) =>
      import s.implicits._
      import graft.streaming.{DemandSample, StreamingAnomaly}
      import org.apache.spark.sql.types.DoubleType
      val rows = demand(s, d)
        .select(col("user_id"),
          expr("timestamp_micros(bucket * 3600000000)").as("ts"),
          col("bucket"), col("q").cast(DoubleType).as("q"))
        .as[DemandSample].collect().toSeq
      val maxUs = rows.iterator.map(r => StreamingAnomaly.tsUs(r.ts)).max
      val punct = DemandSample(-1L,
        new java.sql.Timestamp((maxUs + 10L * 86400L * 1000000L) / 1000L),
        -1L, 0.0)
      StreamingAnomaly.replayToSink(s, rows, "graft_streaming_croston",
          Some(punct))(ds => StreamingAnomaly.croston(ds, CrostonAlpha).toDF())
        .select(col("user_id"), col("n_demands"),
          round4(col("z")).as("level"),
          round4(col("p")).as("demand_interval"),
          round4(col("z") / col("p")).as("forecast"))
        .orderBy("user_id")
    },

    // Syntetos-Boylan demand classification (ADI x CV² quadrants:
    // smooth / intermittent / erratic / lumpy) — the triage that decides
    // WHICH forecaster each series gets (Croston for the intermittent
    // quadrants). ADI telescopes to (last-first)/(n-1); CV² from exact
    // moments; every class decision runs on engine-identical doubles.
    "ts_demand_class" -> { (s, d) =>
      import org.apache.spark.sql.types.DoubleType
      val agg = demand(s, d).groupBy("user_id").agg(
        count(lit(1)).as("nd"),
        min(col("bucket")).as("b0"), max(col("bucket")).as("b1"),
        exactSum(col("q")).as("sq"),
        exactSum(round4(col("q") * col("q"))).as("sqq"))
      val ndD = col("nd").cast(DoubleType)
      val adiU = when(col("nd") > 1,
        (col("b1") - col("b0")).cast(DoubleType) / (col("nd") - 1).cast(DoubleType))
      val mean = col("sq") / ndD
      val cv2U = CleanFunctions.safeDiv(
        CleanFunctions.momentVar(ndD, col("sq"), col("sqq")), mean * mean)
      agg
        .withColumn("adi_u", adiU)
        .withColumn("cv2_u", cv2U)
        .select(col("user_id"), col("nd").as("n_demands"),
          round4(col("adi_u")).as("adi"), round4(col("cv2_u")).as("cv2"),
          when(col("nd") < 2, "insufficient")
            .when(col("cv2_u") < 0.49 && col("adi_u") < 1.32, "smooth")
            .when(col("cv2_u") < 0.49, "intermittent")
            .when(col("adi_u") < 1.32, "erratic")
            .otherwise("lumpy").as("demand_class"))
        .orderBy("user_id")
    },

    // Marketing attribution: each purchase credited to the user's FIRST
    // and LAST preceding non-purchase touch (ignore-nulls window frames,
    // no self-join), then per-channel revenue/conversions under both
    // models, FULL-OUTER joined — a channel can be someone's first touch
    // and nobody's last.
    "events_attribution" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val touch = when(col("event_type") =!= "purchase", col("event_type"))
      val purchases = ev(s, d)
        .withColumn("first_touch", first(touch, ignoreNulls = true).over(w))
        .withColumn("last_touch", last(touch, ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase" && col("last_touch").isNotNull)
      val byFirst = purchases.groupBy(col("first_touch").as("channel"))
        .agg(round4(exactSum(col("value"))).as("first_rev"),
          count(lit(1)).as("first_convs"))
      val byLast = purchases.groupBy(col("last_touch").as("channel"))
        .agg(round4(exactSum(col("value"))).as("last_rev"),
          count(lit(1)).as("last_convs"))
      byFirst.join(byLast, Seq("channel"), "full_outer")
        .select(col("channel"),
          coalesce(col("first_rev"), lit(0.0)).as("first_rev"),
          coalesce(col("first_convs"), lit(0L)).as("first_convs"),
          coalesce(col("last_rev"), lit(0.0)).as("last_rev"),
          coalesce(col("last_convs"), lit(0L)).as("last_convs"))
        .orderBy("channel")
    },

    // Drawdown from the running high — the capacity/SLA-headroom and
    // finance primitive. ABSOLUTE drawdown (run_max - value): no division
    // semantics on zero/negative series. One keyed running-max window.
    "ts_drawdown" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev(s, d)
        .withColumn("run_max", max(col("value")).over(w))
        .select(col("event_id"), col("run_max"),
          round4(col("run_max") - col("value")).as("drawdown"),
          // when/otherwise, not a bare boolean cast: a null value must
          // yield 0 on both engines (the oracle's CASE does).
          when(col("value") >= col("run_max"), 1L).otherwise(0L).as("is_new_high"))
        .orderBy("event_id")
    },

    // Streaming drawdown — the stateful twin of ts_drawdown (the live
    // "how far below peak" capacity monitor): ONE double of state per
    // key. DRIVER-VERIFIED: the oracle is the batch body on the
    // null-filtered set.
    "streaming_drawdown" -> { (s, d) =>
      import s.implicits._
      import graft.streaming.{Event, StreamingAnomaly}
      val rows = Tables.events(s, d).where(col("value").isNotNull)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value")).as[Event].collect().toSeq
      StreamingAnomaly.replayToSink(s, rows, "graft_streaming_dd", None)(
          ds => StreamingAnomaly.drawdown(ds).toDF())
        .select(col("event_id"), col("run_max"),
          round4(col("run_max") - col("value")).as("drawdown"),
          when(col("value") >= col("run_max"), 1L).otherwise(0L).as("is_new_high"))
        .orderBy("event_id")
    },

    // Exact rolling median over the trailing 5 samples — the robust
    // smoother a spike cannot drag (unlike the rolling mean). Bounded
    // ROWS frame keeps per-row state O(window); identical middle-element
    // arithmetic on both engines (1-based element_at, (a+b)/2 for even).
    "ts_rolling_median" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
        .rowsBetween(-4, Window.currentRow)
      // Null values dropped up front: Spark's collect_list skips nulls
      // while DuckDB's list() keeps them (parity), and an all-null frame
      // would leave nn=0 -> element_at(arr, 0) error.
      ev(s, d)
        .where(col("value").isNotNull)
        .withColumn("arr", sort_array(collect_list(col("value")).over(w)))
        .withColumn("nn", size(col("arr")))
        .select(col("event_id"),
          round4(when(col("nn") % 2 === 1,
            expr("element_at(arr, CAST((nn + 1) DIV 2 AS INT))"))
            .otherwise((expr("element_at(arr, CAST(nn DIV 2 AS INT))")
              + expr("element_at(arr, CAST(nn DIV 2 + 1 AS INT))")) / 2.0))
            .as("roll_med"))
        .orderBy("event_id")
    },

    // Hampel filter over the trailing 7 samples: x is an outlier when
    // |x − med| > 3·1.4826·MAD of its window, and is REPLACED by the
    // median — the standard robust despiking cleaner (a spike can't drag
    // the median the way it drags a mean). Same bounded sorted-window
    // machinery as ts_rolling_median, plus a per-row 7-element deviation
    // sort; MAD = 0 windows flag any deviation (documented classic
    // behavior). The 1.4826 consistency constant is a literal double
    // identical in both engines.
    "ts_hampel" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
        .rowsBetween(-6, Window.currentRow)
      def mid(arr: String, nn: String) =
        s"""CASE WHEN $nn % 2 = 1 THEN element_at($arr, CAST(($nn + 1) DIV 2 AS INT))
           |ELSE (element_at($arr, CAST($nn DIV 2 AS INT))
           |  + element_at($arr, CAST($nn DIV 2 + 1 AS INT))) / 2.0 END""".stripMargin
      ev(s, d)
        .where(col("value").isNotNull)
        .withColumn("arr", sort_array(collect_list(col("value")).over(w)))
        .withColumn("nn", size(col("arr")))
        .withColumn("med", expr(mid("arr", "nn")))
        .withColumn("devs", expr("array_sort(transform(arr, v -> abs(v - med)))"))
        .withColumn("mad", expr(mid("devs", "nn")))
        .withColumn("is_outlier",
          (abs(col("value") - col("med")) > lit(3.0) * lit(1.4826) * col("mad"))
            .cast("long"))
        .select(col("event_id"),
          round4(when(col("is_outlier") === 1L, col("med")).otherwise(col("value")))
            .as("cleaned"),
          col("is_outlier"))
        .orderBy("event_id")
    },

    // Additive Holt-Winters (triple exponential) smoothing on daily
    // means, weekly seasonality (period 7): level + trend + a 7-slot
    // seasonal vector advanced per observation — the seasonal member of
    // the smoothing family (SES/Holt/Croston/Kalman are already here).
    // SIXTH recursive operator with an exact oracle: the recursive CTE
    // carries the seasonal LIST and updates one slot per step via
    // index-aware list_transform.
    "ts_holt_winters" -> { (s, d) =>
      val daily = ev(s, d).where(col("value").isNotNull)
        .withColumn("day", expr("tsu DIV 86400000000"))
        .groupBy("user_id", "day")
        .agg(CleanFunctions.exactMean(col("value")).as("m"))
      TS.holtWinters(daily, K, Seq("day"), "m", period = 7,
          alpha = 0.3, beta = 0.1, gamma = 0.2)
        .select(col("user_id"), col("day"), round4(col("m")).as("day_mean"),
          round4(col("hw_fitted")).as("hw_fitted"),
          round4(col("hw_level")).as("hw_level"),
          round4(col("hw_trend")).as("hw_trend"),
          round4(col("hw_seasonal")).as("hw_seasonal"))
        .orderBy("user_id", "day")
    },

    // MULTIPLICATIVE Holt-Winters over the same daily grid — the model
    // for series whose weekly swing GROWS with the level (traffic,
    // revenue): the seasonal factor scales the level instead of
    // shifting it, so the additive fold's under-correction of high
    // seasons at high levels disappears. Daily means are strictly
    // positive (events values > 0), satisfying the ratio contract;
    // identical recursion scaffolding, replayed exactly by a
    // recursive-CTE oracle with seasonals initialized at 1.
    "ts_holt_winters_mult" -> { (s, d) =>
      val daily = ev(s, d).where(col("value").isNotNull)
        .withColumn("day", expr("tsu DIV 86400000000"))
        .groupBy("user_id", "day")
        .agg(CleanFunctions.exactMean(col("value")).as("m"))
      TS.holtWintersMult(daily, K, Seq("day"), "m", period = 7,
          alpha = 0.3, beta = 0.1, gamma = 0.2)
        .select(col("user_id"), col("day"), round4(col("m")).as("day_mean"),
          round4(col("hw_fitted")).as("hw_fitted"),
          round4(col("hw_level")).as("hw_level"),
          round4(col("hw_trend")).as("hw_trend"),
          round4(col("hw_seasonal")).as("hw_seasonal"))
        .orderBy("user_id", "day")
    },

    // Seasonal-aware anomaly detection from Holt-Winters residuals: days
    // whose mean deviates >2σ from the one-step HW forecast — unlike the
    // plain z-score detectors this does NOT flag ordinary seasonal swings
    // (the forecast already absorbs level/trend/weekly shape). Composes
    // the holtWinters fold (raw, unrounded outputs) with one residual
    // moment pass; the oracle composes the SAME recursive scaffolding.
    "ts_hw_anomaly" -> { (s, d) =>
      import org.apache.spark.sql.types.DoubleType
      val daily = ev(s, d).where(col("value").isNotNull)
        .withColumn("day", expr("tsu DIV 86400000000"))
        .groupBy("user_id", "day")
        .agg(CleanFunctions.exactMean(col("value")).as("m"))
      val hw = TS.holtWinters(daily, K, Seq("day"), "m", period = 7,
          alpha = 0.3, beta = 0.1, gamma = 0.2)
        .where(col("hw_fitted").isNotNull)
        .withColumn("resid", round4(col("m") - col("hw_fitted")))
      val st = hw.groupBy("user_id").agg(
        count(lit(1)).cast(DoubleType).as("n"),
        exactSum(col("resid")).as("sx"),
        exactSum(round4(col("resid") * col("resid"))).as("sxx"))
      val z = round4(col("resid") / nullif(
        CleanFunctions.momentStd(col("n"), col("sx"), col("sxx")), lit(0.0)))
      // st is a bounded per-series aggregate, but it hangs off the
      // RDD-backed fold (no stats) so Catalyst would SMJ — broadcast it.
      hw.join(broadcast(st), "user_id")
        .select(col("user_id"), col("day"), round4(col("m")).as("day_mean"),
          col("resid"), z.as("hw_z"),
          when(abs(z) > 2.0, 1L).otherwise(0L).as("is_anomaly"))
        .orderBy("user_id", "day")
    },

    // Token-bucket rate-limit replay per user (capacity 3, refill 1
    // token/hour): the API-gateway admission audit — which events WOULD
    // have been throttled under this policy. The clamped refill/consume
    // recurrence folds in TS.tokenBucket (keyed O(1)-state scan, the
    // cusumReset family); the oracle replays the identical IEEE fold via
    // a recursive CTE — FIFTH recursive operator with an exact oracle.
    "events_rate_limit" -> { (s, d) =>
      TS.tokenBucket(ev(s, d), K, Ord, "tsu",
          capacity = 3.0, refillPerSec = 1.0 / 3600.0)
        .select(col("event_id"), round4(col("tokens")).as("tokens"), col("admitted"))
        .orderBy("event_id")
    },

    // SPC control chart: one-sided upper CUSUM with reset, target = the
    // per-series mean, slack = sigma/2, alarm at 4*slack. The reset
    // recurrence folds in cusumReset (keyed O(1)-state scan); the oracle
    // replays it with a recursive CTE — exact parity like
    // ts_holt_forecast. Per-series stats come from one DECIMAL-exact
    // moment pass, joined back optimizer-chosen (reduced aggregate side).
    "ts_cusum_reset" -> { (s, d) =>
      val e = ev(s, d).where(col("value").isNotNull)
      val stats = e.groupBy("user_id").agg(
        graft.functions.CleanFunctions.exactSum(col("value")).as("sx"),
        graft.functions.CleanFunctions.exactSum(col("value") * col("value")).as("sxx"),
        count(col("value")).cast("double").as("n"))
      TS.cusumReset(
        e.join(stats, "user_id")
          .withColumn("m", col("sx") / col("n"))
          // momentStd: variance clamped at 0 (constant series would
          // cancel to a tiny negative -> Spark NaN, DuckDB Out of Range)
          // and null for n=1; a null slack flows through cusumReset as a
          // null statistic for that series.
          .withColumn("k",
            lit(0.5) * CleanFunctions.momentStd(col("n"), col("sx"), col("sxx"))),
        K, Ord, "value", "m", "k")
        .select(col("event_id"), round4(col("cusum_hi")).as("cusum_hi"),
          when(col("cusum_hi") > lit(4.0) * col("k"), 1L).otherwise(0L).as("alarm"))
        .orderBy("event_id")
    },

    // Two-threshold hysteresis alarm (Schmitt trigger on |z|): enter the
    // alert state above HystHi sigmas, leave only below HystLo — the
    // debounced pager state that a single threshold (ts_alert_episodes'
    // flag) chatters on when the signal hovers at the line. |z| is
    // 4dp-pre-rounded from one DECIMAL-exact moment pass so every state
    // flip compares identical doubles on both engines; the fold is the
    // keyed O(1)-state scan (TimeSeriesOps.hysteresis), the oracle a
    // recursive-CTE replay. Constant/singleton series (null sigma) drop
    // on both sides.
    "ts_hysteresis" -> { (s, d) =>
      val e = ev(s, d).where(col("value").isNotNull)
      val stats = e.groupBy("user_id").agg(
        graft.functions.CleanFunctions.exactSum(col("value")).as("sx"),
        graft.functions.CleanFunctions.exactSum(col("value") * col("value")).as("sxx"),
        count(col("value")).cast("double").as("n"))
      val withZ = e.join(stats, "user_id")
        .withColumn("za", abs(round4(CleanFunctions.safeDiv(
          col("value") - col("sx") / col("n"),
          CleanFunctions.momentStd(col("n"), col("sx"), col("sxx"))))))
        .where(col("za").isNotNull)
      TS.hysteresis(withZ, K, Ord, "za", lo = HystLo, hi = HystHi)
        .select(col("event_id"), col("za").as("z_abs"), col("in_alert"))
        .orderBy("event_id")
    },

    // Streaming hysteresis alarm — the stateful twin of ts_hysteresis
    // (the chatter-proof pager alarm IS a live-monitoring op): one long
    // of state per key inside a flatMapGroupsWithState fold. In
    // production the |z| score comes from a stream-static join against
    // the offline baseline (the streaming_seasonal_score pattern); the
    // replay computes it batch-side with the IDENTICAL expressions so
    // the fold sees the same 4dp inputs. DRIVER-VERIFIED: the oracle is
    // the batch twin's recursive CTE, verbatim.
    "streaming_hysteresis" -> { (s, d) =>
      import s.implicits._
      import graft.streaming.{StreamingAnomaly, ZaSample}
      val e = ev(s, d).where(col("value").isNotNull)
      val stats = e.groupBy("user_id").agg(
        graft.functions.CleanFunctions.exactSum(col("value")).as("sx"),
        graft.functions.CleanFunctions.exactSum(col("value") * col("value")).as("sxx"),
        count(col("value")).cast("double").as("n"))
      val rows = e.join(stats, "user_id")
        .withColumn("za", abs(round4(CleanFunctions.safeDiv(
          col("value") - col("sx") / col("n"),
          CleanFunctions.momentStd(col("n"), col("sx"), col("sxx"))))))
        .where(col("za").isNotNull)
        .select(col("event_id"), col("ts"), col("user_id"), col("za"))
        .as[ZaSample].collect().toSeq
      StreamingAnomaly.replayToSink(s, rows, "graft_streaming_hyst", None)(
          ds => StreamingAnomaly.hysteresis(ds, lo = HystLo, hi = HystHi).toDF())
        .select(col("event_id"), col("za").as("z_abs"), col("in_alert"))
        .orderBy("event_id")
    },

    // Local extrema: strict peaks/troughs vs both neighbors — the
    // spike-shape primitive under alerting and peak-rate capacity
    // planning. One keyed lag+lead window, pure filter.
    "ts_peaks" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
      val prev = lag(col("value"), 1).over(w)
      val next = lead(col("value"), 1).over(w)
      ev(s, d)
        .withColumn("kind",
          when(col("value") > prev && col("value") > next, "peak")
            .when(col("value") < prev && col("value") < next, "trough"))
        .where(col("kind").isNotNull)
        .select("event_id", "user_id", "value", "kind")
        .orderBy("event_id")
    },

    // First-order Markov transition matrix of the event-type journey:
    // P(next | current) per user-step pair — the user-flow / process-
    // mining primitive. One keyed lead + a grouped count; the row-
    // conditional probability is a partition-sum window over the tiny
    // (from, to) matrix.
    "events_markov" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
      val trans = ev(s, d)
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .where(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("cnt"))
      trans.withColumn("p", round4(col("cnt").cast("double") /
          sum(col("cnt")).over(Window.partitionBy("from_type")).cast("double")))
        .orderBy("from_type", "to_type")
    },

    // SECOND-order Markov transitions P(next | prev2, prev1) with the
    // lift over the first-order model — does knowing one more step of
    // history change the prediction (lift far from 1 = the journey is
    // NOT memoryless, sizing the state an intent model needs)? Same
    // per-user lead windows (bounded groups); both conditionals are
    // integer-count ratios; lift = ONE division of the two 4dp-rounded
    // probabilities, 4dp-rounded — engine-exact throughout.
    "events_markov2" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
      val seq3 = ev(s, d)
        .withColumn("t1", lead(col("event_type"), 1).over(w))
        .withColumn("t2", lead(col("event_type"), 2).over(w))
        .where(col("t2").isNotNull)
        .select(col("event_type").as("prev2"), col("t1").as("prev1"),
          col("t2").as("to_type"))
      val p2 = seq3.groupBy("prev2", "prev1", "to_type")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("p2", round4(col("cnt").cast("double") /
          sum(col("cnt")).over(Window.partitionBy("prev2", "prev1")).cast("double")))
      // First-order conditional restricted to the SAME trigram support
      // (pairs with a successor), so both models see identical mass.
      val p1 = seq3.groupBy(col("prev1"), col("to_type"))
        .agg(count(lit(1)).as("cnt1"))
        .withColumn("p1", round4(col("cnt1").cast("double") /
          sum(col("cnt1")).over(Window.partitionBy("prev1")).cast("double")))
        .select(col("prev1"), col("to_type"), col("p1"))
      p2.join(p1, Seq("prev1", "to_type"))
        .select(col("prev2"), col("prev1"), col("to_type"), col("cnt"),
          col("p2"), col("p1"), round4(col("p2") / col("p1")).as("lift"))
        .orderBy("prev2", "prev1", "to_type")
    },

    // Out-of-orderness (lateness) profile — the diagnostic that SIZES a
    // streaming watermark: for each event, how far its event time lags
    // the stream's high-water mark at its arrival, histogrammed per
    // event_type in 10-minute bands with the observed max. A watermark
    // delay at band p99 bounds dropped rows to 1% — this report IS the
    // tuning input for every withWatermark in §2.12. The synthetic
    // schema has no ingestion column and event_id is time-ordered (the
    // profile of that arrival order is all-zero), so arrival is stood in
    // by the deterministic md5(event_id) permutation — a worst-case
    // shuffle both engines order identically, exercising every band.
    // Running max over a KEYED window (per event_type — the per-stream
    // view; no single-partition global window), one grouped histogram.
    "events_lateness_profile" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type")
        .orderBy(md5(col("event_id").cast("string")), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      ev(s, d)
        .withColumn("late_us", max(col("tsu")).over(w) - col("tsu"))
        .withColumn("band", least(lit(LatenessBands - 1L),
          expr(s"late_us div $LatenessBandUs")))
        .groupBy("event_type", "band")
        .agg(count(lit(1)).as("n"), max(col("late_us")).as("max_late_us"))
        .orderBy("event_type", "band")
    },

    // Top-k user journey PATHS (the product-analytics "path analysis"
    // view the transition matrix above can't give — full sequences, not
    // first-order hops): each user's first PathLen events in time order
    // join into one path string, identical paths aggregate, the k most
    // common win. The per-user prefix cap bounds state at scale (an
    // uncapped power user would build an unbounded string); the keyed
    // row_number and grouped agg are both map-side-partial shapes, and
    // the final top-k is a TakeOrdered (per-partition top-k + driver
    // merge of k rows), NEVER a global sort. (count desc, path) is a
    // total order on the grouped result, so the cutoff is deterministic
    // on both engines.
    "events_top_paths" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
      ev(s, d)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= PathLen)
        .groupBy("user_id")
        // array_sort on (rn, event_type) structs orders by rn (unique
        // within user), so the joined string is arrival-ordered no matter
        // how the partial aggregates merged.
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("rn"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_users"))
        .orderBy(desc("n_users"), col("path"))
        .limit(TopPaths)
    },

    // Concurrency profile: how many sessions (and distinct users) are
    // active in each hour — capacity planning over sessionized activity.
    // Sessions from the gap sessionizer; each session explodes to the
    // hours it covers (bounded by session length), then one grouped agg.
    "events_session_concurrency" -> { (s, d) =>
      val sess = graft.operators.TimeSeriesOps
        .sessionize(ev(s, d), K, Ord, "tsu", 30L * 60 * 1000000)
        .groupBy("user_id", "session_id")
        .agg(expr(s"min(tsu) div $OneHourUs").as("h0"),
          expr(s"max(tsu) div $OneHourUs").as("h1"))
      sess.select(col("user_id"),
          explode(sequence(col("h0"), col("h1"))).as("hr"))
        .groupBy("hr")
        .agg(count(lit(1)).as("n_sessions"),
          count_distinct(col("user_id")).as("n_users"))
        .orderBy("hr")
    },

    // Seasonal/trend strength (Hyndman's STL diagnostics): per series
    // F = max(0, 1 - Var(resid)/Var(component + resid)) on the 4dp-
    // rounded decomposition components, variances from DECIMAL-exact
    // moments — which series are forecastable, which are noise.
    "ts_seasonal_strength" -> { (s, d) =>
      val dec = TS.decompose(ev(s, d), K, Ord, "value",
          hour(col("ts")), trendWin = 25)
        .where(col("resid").isNotNull)
        .select(col("user_id"),
          round4(col("resid")).as("r"),
          round4(col("seasonal")).as("sv"),
          round4(col("trend")).as("tv"))
      def varOf(c: org.apache.spark.sql.Column, pre: String) = Seq(
        exactSum(c).as(s"${pre}_sx"),
        exactSum(c * c).as(s"${pre}_sxx"))
      val ag = dec.groupBy("user_id").agg(
        count(lit(1)).cast("double").as("n"),
        (varOf(col("r"), "r") ++ varOf(col("sv") + col("r"), "sr") ++
          varOf(col("tv") + col("r"), "tr")): _*)
      // momentVar: clamped at 0 (a near-constant component cancels to a
      // tiny negative -> f > 1 through the division) and null for n=1;
      // the comp>0 gate makes zero/degenerate component variance an
      // explicit null strength on BOTH engines (no greatest-vs-null
      // semantics in play).
      def v(pre: String) =
        CleanFunctions.momentVar(col("n"), col(s"${pre}_sx"), col(s"${pre}_sxx"))
      def f(pre: String) =
        when(v(pre) > 0.0,
          round4(greatest(lit(0.0), lit(1.0) - v("r") / v(pre))))
      ag.select(col("user_id"), col("n").cast("long").as("n_rows"),
          f("sr").as("f_seasonal"), f("tr").as("f_trend"))
        .orderBy("user_id")
    },

    // CDC / MERGE-apply (the lakehouse upsert primitive): a change
    // stream of upserts+deletes keyed by entity collapses to final
    // state — last writer wins by (ts, event_id), a terminal delete
    // removes the row. Synthesized ops from events ('purchase' plays
    // the delete op); one keyed rank window + filter, no join.
    "events_cdc_apply" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(desc("tsu"), desc("event_id"))
      ev(s, d)
        .withColumn("op", when(col("event_type") === "purchase", "delete").otherwise("upsert"))
        .withColumn("rk", row_number().over(w))
        .withColumn("n_changes", count(lit(1)).over(Window.partitionBy("user_id")))
        .where(col("rk") === 1 && col("op") === "upsert")
        .select(col("user_id"), col("value").as("final_value"), col("n_changes"))
        .orderBy("user_id")
    },

    // Period-over-period analytics: yearly revenue per return flag with
    // YoY growth — the BI staple. One grouped agg + a lag window over
    // the tiny (flag, year) grid.
    "lineitem_yoy_growth" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val li = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      val yearly = li
        .groupBy(col("l_returnflag"),
          year(to_date(col("o_orderdate"))).cast("long").as("o_year"))
        .agg(round4(exactSum(col("l_extendedprice"))).as("revenue"))
      val w = Window.partitionBy("l_returnflag").orderBy("o_year")
      yearly
        .withColumn("prev_rev", lag(col("revenue"), 1).over(w))
        .withColumn("yoy_pct",
          round4(lit(100.0) * (col("revenue") - col("prev_rev")) /
            nullif(col("prev_rev"), lit(0.0))))
        .orderBy("l_returnflag", "o_year")
    },

    // SAX symbolization (Lin et al.): z-normalize per series (exact
    // moments, clamped std), PAA-average into 6h frames, quantize into a
    // 4-letter alphabet at the gaussian breakpoints — the time-series
    // indexing/motif primitive that turns 100 TB of floats into
    // searchable words. Output is O(#frames).
    "ts_sax" -> { (s, d) =>
      val e = ev(s, d).where(col("value").isNotNull)
      val stats = e.groupBy("user_id").agg(
        exactSum(col("value")).as("sx"),
        exactSum(col("value") * col("value")).as("sxx"),
        count(col("value")).cast("double").as("n"))
      val z = e.join(stats, "user_id")
        .withColumn("z", (col("value") - col("sx") / col("n")) /
          nullif(CleanFunctions.momentStd(col("n"), col("sx"), col("sxx")), lit(0.0)))
        .withColumn("zr", CleanFunctions.round6(col("z")))
      val paa = z.groupBy(col("user_id"), expr(s"tsu div $SixHoursUs").as("frame"))
        .agg(CleanFunctions.safeDiv(exactSum(col("zr")),
            count(col("zr")).cast("double")).as("paa_raw"),
          count(col("zr")).as("n_samples"))
      paa.select(col("user_id"), col("frame"),
          round4(col("paa_raw")).as("paa"),
          // Null PAA (constant series: clamped std 0 -> null z) stays
          // null, not the 'd' an otherwise-only CASE would emit.
          when(col("paa_raw").isNull, lit(null).cast("string"))
            .when(col("paa_raw") < -0.6745, "a")
            .when(col("paa_raw") < 0.0, "b")
            .when(col("paa_raw") < 0.6745, "c")
            .otherwise("d").as("sym"),
          col("n_samples"))
        .orderBy("user_id", "frame")
    },

    // SAX MINDIST divergence from the fleet reference (Lin et al.'s
    // lower-bounding distance — the UCR-suite pruning bound): each
    // user's SAX word vs the GLOBAL series' SAX word on the shared 6h
    // frame grid, MINDIST = sqrt(n/w · Σ cell(qᵢ,cᵢ)²) with the
    // breakpoint-gap cell table (adjacent letters cost 0 — the property
    // that makes it a lower bound on Euclidean). Completes the SAX
    // family: symbolize (ts_sax) → motif → discord → DISTANCE, the
    // symbolic cheap-triage sibling of ts_dtw_profile's exact warp
    // score. Cell² values are round6-quantized shared literals so the
    // DECIMAL term sum is exact cross-engine; frames where either side
    // has a null symbol (constant series) drop from both engines alike.
    // Scale: two grouped symbolization passes + one broadcast join on
    // the O(frames) reference — no new shuffle shape.
    "ts_sax_mindist" -> { (s, d) => saxMindist(s, d) },

    // LZ76 compressibility of each user's SAX word — see [[lzComplexity]].
    "ts_lz_complexity" -> { (s, d) => lzComplexity(s, d) },

    // SAX discord (Keogh's anomalous-subsequence dual of the motif): the
    // RAREST 4-frame SAX word per series — the shape that recurs least
    // is the prime anomaly candidate. Same word construction as
    // ts_sax_motifs, then a per-series integer argmin (count asc, word,
    // frame tie-breaks) — all decisions integer/string-ordered, no float
    // comparisons at all past the shared symbolization.
    "ts_discord" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val e = ev(s, d).where(col("value").isNotNull)
      val stats = e.groupBy("user_id").agg(
        exactSum(col("value")).as("sx"),
        exactSum(col("value") * col("value")).as("sxx"),
        count(col("value")).cast("double").as("n"))
      val z = e.join(stats, "user_id")
        .withColumn("zr", CleanFunctions.round6(
          (col("value") - col("sx") / col("n")) /
            nullif(CleanFunctions.momentStd(col("n"), col("sx"), col("sxx")), lit(0.0))))
      val paa = z.groupBy(col("user_id"), expr(s"tsu div $SixHoursUs").as("frame"))
        .agg(CleanFunctions.safeDiv(exactSum(col("zr")),
          count(col("zr")).cast("double")).as("paa_raw"))
      val sym = paa.withColumn("sym",
        when(col("paa_raw").isNull, lit(null).cast("string"))
          .when(col("paa_raw") < -0.6745, "a")
          .when(col("paa_raw") < 0.0, "b")
          .when(col("paa_raw") < 0.6745, "c")
          .otherwise("d"))
      val w = Window.partitionBy("user_id").orderBy("frame")
      val words = sym
        .withColumn("s1", lead("sym", 1).over(w))
        .withColumn("s2", lead("sym", 2).over(w))
        .withColumn("s3", lead("sym", 3).over(w))
        .withColumn("f3", lead("frame", 3).over(w))
        .where(col("f3") === col("frame") + 3 &&
          col("sym").isNotNull && col("s1").isNotNull &&
          col("s2").isNotNull && col("s3").isNotNull)
        .select(col("user_id"), col("frame"),
          concat(col("sym"), col("s1"), col("s2"), col("s3")).as("word"))
      val cnt = words.groupBy("user_id", "word")
        .agg(count(lit(1)).as("n_occ"), min(col("frame")).as("first_frame"))
      val w2 = Window.partitionBy("user_id")
        .orderBy(col("n_occ").asc, col("word").asc)
      cnt.withColumn("rk", row_number().over(w2)).where(col("rk") === 1)
        .select(col("user_id"), col("word").as("discord_word"),
          col("n_occ"), col("first_frame"))
        .orderBy("user_id")
    },

    // SAX motif discovery (the iSAX collision idea): slide a 4-frame
    // window over each series' SAX string; words recurring across
    // windows are candidate motifs — repeated temporal shapes found via
    // a grouped count on the word, never a window-pair scan. Composes
    // ts_sax; output is O(#distinct words), df-capped like the inverted
    // index (a flat series' constant word is the boilerplate case).
    "ts_sax_motifs" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val e = ev(s, d).where(col("value").isNotNull)
      val stats = e.groupBy("user_id").agg(
        exactSum(col("value")).as("sx"),
        exactSum(col("value") * col("value")).as("sxx"),
        count(col("value")).cast("double").as("n"))
      val z = e.join(stats, "user_id")
        .withColumn("zr", CleanFunctions.round6(
          (col("value") - col("sx") / col("n")) /
            nullif(CleanFunctions.momentStd(col("n"), col("sx"), col("sxx")), lit(0.0))))
      val paa = z.groupBy(col("user_id"), expr(s"tsu div $SixHoursUs").as("frame"))
        .agg(CleanFunctions.safeDiv(exactSum(col("zr")),
          count(col("zr")).cast("double")).as("paa_raw"))
      val sym = paa.withColumn("sym",
        when(col("paa_raw").isNull, lit(null).cast("string"))
          .when(col("paa_raw") < -0.6745, "a")
          .when(col("paa_raw") < 0.0, "b")
          .when(col("paa_raw") < 0.6745, "c")
          .otherwise("d"))
      val w = Window.partitionBy("user_id").orderBy("frame")
      val words = sym
        .withColumn("s1", lead("sym", 1).over(w))
        .withColumn("s2", lead("sym", 2).over(w))
        .withColumn("s3", lead("sym", 3).over(w))
        .withColumn("f3", lead("frame", 3).over(w))
        // Contiguous frames only (gaps in the series break the word) and
        // no null symbols inside.
        .where(col("f3") === col("frame") + 3 &&
          col("sym").isNotNull && col("s1").isNotNull &&
          col("s2").isNotNull && col("s3").isNotNull)
        .select(col("user_id"),
          concat(col("sym"), col("s1"), col("s2"), col("s3")).as("word"))
      words.groupBy("word")
        .agg(count(lit(1)).as("n_windows"),
          count_distinct(col("user_id")).as("n_series"))
        .where(col("n_windows").between(2, 200))
        .orderBy("word")
    },

    // Dominant-period detection: project each demeaned series onto
    // cos/sin at the candidate periods (DFT bins) and report per-period
    // spectral power + the argmax — which cycle drives this series. The
    // hour-of-cycle phase is DISCRETE, so the trig lives in literal
    // tables (see fourierTable); sums are DECIMAL-exact on 6dp-rounded
    // terms. One grouped agg, map-side partial, output O(#series).
    "ts_dominant_period" -> { (s, d) =>
      val e = ev(s, d).where(col("value").isNotNull)
        .withColumn("th", expr("tsu div 3600000000"))
      val stats = e.groupBy("user_id").agg(
        exactSum(col("value")).as("sx"),
        count(col("value")).cast("double").as("n"))
      val vc = e.join(stats, "user_id")
        .withColumn("vc", CleanFunctions.round6(col("value") - col("sx") / col("n")))
      val aggs = SpectralPeriods.flatMap { p =>
        val (cs, sn) = fourierTable(p)
        val idx = (col("th") % p).cast("int") + 1
        val cosCoef = element_at(array(cs.map(lit): _*), idx)
        val sinCoef = element_at(array(sn.map(lit): _*), idx)
        Seq(
          exactSum(CleanFunctions.round6(col("vc") * cosCoef)).as(s"c$p"),
          exactSum(CleanFunctions.round6(col("vc") * sinCoef)).as(s"s$p"))
      }
      val ag = vc.groupBy("user_id")
        .agg(count(lit(1)).cast("double").as("n"), aggs: _*)
      def power(p: Int) =
        round4((col(s"c$p") * col(s"c$p") + col(s"s$p") * col(s"s$p")) /
          (col("n") * col("n")))
      val withPowers = SpectralPeriods.foldLeft(ag) { (df, p) =>
        df.withColumn(s"p$p", power(p))
      }
      val best = SpectralPeriods.map(p => col(s"p$p"))
        .reduce((a, b) => greatest(a, b))
      val bestPeriod = SpectralPeriods.foldRight(lit(0)) { (p, acc) =>
        when(col(s"p$p") === best, p).otherwise(acc)
      }
      withPowers.select(
          col("user_id") +: col("n").cast("long").as("n_rows") +:
            bestPeriod.cast("long").as("best_period_h") +:
            SpectralPeriods.map(p => col(s"p$p")): _*)
        .orderBy("user_id")
    },

    // Spectral entropy per series (the forecastability index: one
    // dominant cycle -> 0, flat spectrum/white noise -> 1): Shannon
    // entropy of the normalized DFT-power distribution over the same
    // candidate-period bins as ts_dominant_period, divided by ln(#bins).
    // Identical literal trig tables + DECIMAL-exact projections; power
    // shares and q*ln(q) terms are 6dp-rounded so the libm ln sits
    // between rounding fences on both engines. One grouped agg,
    // map-side partial, output O(#series).
    "ts_spectral_entropy" -> { (s, d) =>
      val e = ev(s, d).where(col("value").isNotNull)
        .withColumn("th", expr("tsu div 3600000000"))
      val stats = e.groupBy("user_id").agg(
        exactSum(col("value")).as("sx"),
        count(col("value")).cast("double").as("n"))
      val vc = e.join(stats, "user_id")
        .withColumn("vc", CleanFunctions.round6(col("value") - col("sx") / col("n")))
      val aggs = SpectralPeriods.flatMap { p =>
        val (cs, sn) = fourierTable(p)
        val idx = (col("th") % p).cast("int") + 1
        val cosCoef = element_at(array(cs.map(lit): _*), idx)
        val sinCoef = element_at(array(sn.map(lit): _*), idx)
        Seq(
          exactSum(CleanFunctions.round6(col("vc") * cosCoef)).as(s"c$p"),
          exactSum(CleanFunctions.round6(col("vc") * sinCoef)).as(s"s$p"))
      }
      val ag = vc.groupBy("user_id")
        .agg(count(lit(1)).cast("double").as("n"), aggs: _*)
      def power(p: Int) =
        round4((col(s"c$p") * col(s"c$p") + col(s"s$p") * col(s"s$p")) /
          (col("n") * col("n")))
      val withPowers = SpectralPeriods.foldLeft(ag) { (df, p) =>
        df.withColumn(s"p$p", power(p))
      }
      val ptot = SpectralPeriods.map(p => col(s"p$p")).reduce(_ + _)
      val withShares = SpectralPeriods.foldLeft(
          withPowers.withColumn("ptot", ptot)) { (df, p) =>
        df.withColumn(s"q$p",
          when(col("ptot") > 0.0, CleanFunctions.round6(col(s"p$p") / col("ptot"))))
      }
      val termSum = SpectralPeriods.map { p =>
        when(col(s"q$p") > 0.0,
          CleanFunctions.round6(col(s"q$p") * log(col(s"q$p"))))
          .otherwise(lit(0.0))
      }.reduce(_ + _)
      withShares.select(
          col("user_id") +: col("n").cast("long").as("n_rows") +:
            SpectralPeriods.map(p => col(s"q$p")) :+
            when(col("ptot") > 0.0,
              round4(-termSum / lit(LnBins))).as("spec_entropy"): _*)
        .orderBy("user_id")
    },

    // Welch two-sample z statistic between the value distributions of
    // two event types — the A/B-comparison primitive; means/variances
    // from one DECIMAL-exact moment pass per group, clamped momentVar.
    "events_two_sample_z" -> { (s, d) =>
      val e = ev(s, d).where(col("value").isNotNull &&
        col("event_type").isin("view", "click"))
      val g = e.groupBy("event_type").agg(
        exactSum(col("value")).as("sx"),
        exactSum(col("value") * col("value")).as("sxx"),
        count(col("value")).cast("double").as("n"))
      val a = g.where(col("event_type") === "view")
        .select(col("sx").as("sx1"), col("sxx").as("sxx1"), col("n").as("n1"))
      val b = g.where(col("event_type") === "click")
        .select(col("sx").as("sx2"), col("sxx").as("sxx2"), col("n").as("n2"))
      a.crossJoin(broadcast(b))
        .select(
          col("n1").cast("long").as("n_view"),
          col("n2").cast("long").as("n_click"),
          round4(col("sx1") / col("n1") - col("sx2") / col("n2")).as("mean_diff"),
          round4((col("sx1") / col("n1") - col("sx2") / col("n2")) /
            nullif(sqrt(
              CleanFunctions.momentVar(col("n1"), col("sx1"), col("sxx1")) / col("n1") +
                CleanFunctions.momentVar(col("n2"), col("sx2"), col("sxx2")) / col("n2")),
              lit(0.0))).as("z"))
    },

    // Time-to-convert: each user's first view -> first purchase AFTER it,
    // latency in seconds — the time-to-event analysis under activation /
    // SLA funnels. Two grouped aggs over conditional mins, one join.
    "events_time_to_convert" -> { (s, d) =>
      val e = ev(s, d)
      val firstView = e.where(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("tsu")).as("first_view_us"))
      val conv = e.join(firstView, "user_id")
        .where(col("event_type") === "purchase" && col("tsu") > col("first_view_us"))
        .groupBy("user_id", "first_view_us")
        .agg(min(col("tsu")).as("first_purchase_us"))
      conv.select(col("user_id"), col("first_view_us"), col("first_purchase_us"),
          expr("(first_purchase_us - first_view_us) div 1000000").as("latency_s"))
        .orderBy("user_id")
    },

    // Pre-publish data-quality audit over the star schema: null keys,
    // duplicate PKs, FK orphans, domain violations — one (check, failed)
    // row each.
    "dq_audit" -> { (s, d) =>
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d)
      val e = ev(s, d)
      DataQuality.audit(Seq(
        DataQuality.nullCount(o, "orders_null_custkey", "o_custkey"),
        DataQuality.dupKeys(o, "orders_dup_orderkey", Seq("o_orderkey")),
        DataQuality.fkOrphans(l, o, "lineitem_orphan_orders", "l_orderkey", "o_orderkey"),
        DataQuality.predicateViolations(l, "lineitem_nonpositive_qty", col("l_quantity") <= 0),
        DataQuality.nullCount(e, "events_null_value", "value"),
        DataQuality.dupKeys(e, "events_dup_user_ts", Seq("user_id", "tsu")),
        DataQuality.predicateViolations(e, "events_value_out_of_range", abs(col("value")) > 1e6)))
    },

    // Z-order (Morton) clustering key over (user, hour) — the lakehouse
    // write-path primitive: sort-by-zkey co-locates rows close in BOTH
    // dimensions, so file min/max stats prune 2-D predicates (see
    // LayoutOpsSpec for the measured file-touch win). Pure integer bit
    // expressions, zero shuffle, whole-stage codegen.
    "events_zorder_key" -> { (s, d) =>
      val e = ev(s, d)
        .withColumn("ub", col("user_id") % 256L)
        .withColumn("hb", expr("(tsu DIV 3600000000) % 256"))
      e.select(col("event_id"),
          graft.operators.LayoutOps.zorderKey(col("ub"), col("hb"), 8).as("zkey"))
        .orderBy("event_id")
    },

    // Incremental aggregate maintenance (the IVM / lambda-architecture
    // primitive): two independent half-month PARTIAL aggregates merged by
    // algebraic composition — counts add, DECIMAL sums add (exact, so
    // the merge equals the one-shot aggregate bit-for-bit; a double sum
    // would NOT re-associate), min/max via the null-safe coalesce trick.
    // The oracle is the one-shot full aggregate: the equality IS the
    // re-aggregation correctness check. At 100 TB this is how you keep
    // daily rollups without rescanning history.
    "events_incremental_agg" -> { (s, d) =>
      import org.apache.spark.sql.types.{DecimalType, DoubleType}
      val jan15 = java.time.LocalDate.of(2024, 1, 15).toEpochDay
      val e = ev(s, d).withColumn("day", expr("tsu DIV 86400000000"))
      def part(cond: org.apache.spark.sql.Column) =
        e.where(cond).groupBy("event_type").agg(
          count(col("value")).as("cnt"),
          sum(col("value").cast(DecimalType(18, 6))).as("sm"),
          min(col("value")).as("mn"), max(col("value")).as("mx"))
      val a = part(col("day") <= jan15)
      val b = part(col("day") > jan15)
        .select(col("event_type"), col("cnt").as("cnt2"), col("sm").as("sm2"),
          col("mn").as("mn2"), col("mx").as("mx2"))
      a.join(b, Seq("event_type"), "full_outer")
        .select(col("event_type"),
          (coalesce(col("cnt"), lit(0L)) + coalesce(col("cnt2"), lit(0L))).as("n"),
          round4((coalesce(col("sm"), lit(0).cast(DecimalType(18, 6))) +
            coalesce(col("sm2"), lit(0).cast(DecimalType(18, 6))))
            .cast(DoubleType)).as("sum_value"),
          least(coalesce(col("mn"), col("mn2")), coalesce(col("mn2"), col("mn")))
            .as("min_value"),
          greatest(coalesce(col("mx"), col("mx2")), coalesce(col("mx2"), col("mx")))
            .as("max_value"))
        .orderBy("event_type")
    },

    // Concurrent-session pairs across users on one day: who was co-online
    // with whom, for how long. Interval×interval overlap via the
    // bucket-grid JoinOps.overlapJoin — BOTH sides scale with the corpus
    // (sessions), so rangeJoin's broadcast-small-side contract does not
    // apply; the grid turns it into one bucket equi-join shuffle with the
    // canonical-bucket dedup guard. Overlap durations are exact integer
    // microseconds — no float rounding anywhere.
    "events_session_overlap" -> { (s, d) =>
      val jan15 = java.time.LocalDate.of(2024, 1, 15).toEpochDay
      val sess = TS.sessionize(ev(s, d), K, Ord, "tsu", 30L * 60 * 1000000)
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("tsu")).as("lo"), max(col("tsu")).as("hi"))
        .where(expr(s"lo DIV 86400000000 = $jan15"))
      val a = sess.select(col("user_id").as("u1"), col("lo").as("lo1"), col("hi").as("hi1"))
      val b = sess.select(col("user_id").as("u2"), col("lo").as("lo2"), col("hi").as("hi2"))
      graft.operators.JoinOps.overlapJoin(a, b, "lo1", "hi1", "lo2", "hi2",
          OneHourUs, col("u1") < col("u2"))
        .groupBy("u1", "u2")
        .agg(count(lit(1)).as("n_overlaps"),
          sum(least(col("hi1"), col("hi2")) - greatest(col("lo1"), col("lo2"))).as("overlap_us"))
        .orderBy("u1", "u2")
    },

    // Multi-window SLO burn-rate alerting (the SRE page rule: alert only
    // when BOTH a fast and a slow window burn the error budget — fast
    // catches the spike, slow filters the blip): error share over
    // trailing 1h and 6h TIME-RANGE windows / the 0.2 error budget
    // (SLO 80%); page when burn_1h > 1.5 AND burn_6h > 1.2. Counts are
    // integer window sums (range frames handle timestamp ties identically
    // on both engines — no tie-break needed), burns single IEEE
    // divisions rounded 4dp BEFORE the page comparison. Keyed windows
    // partition per series; nothing global.
    "events_slo_burn" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DoubleType
      val hourUs = 3600L * 1000000
      val w1 = Window.partitionBy("user_id").orderBy("tsu")
        .rangeBetween(-hourUs, 0)
      val w6 = Window.partitionBy("user_id").orderBy("tsu")
        .rangeBetween(-6 * hourUs, 0)
      def burn(w: org.apache.spark.sql.expressions.WindowSpec) = round4(
        (sum(col("err")).over(w).cast(DoubleType) /
          count(lit(1)).over(w).cast(DoubleType)) / lit(0.2))
      val b1 = burn(w1); val b6 = burn(w6)
      ev(s, d)
        .withColumn("err", when(col("event_type") === "error", 1L).otherwise(0L))
        .select(col("event_id"), col("user_id"),
          b1.as("burn_1h"), b6.as("burn_6h"),
          when(b1 > 1.5 && b6 > 1.2, 1L).otherwise(0L).as("page"))
        .orderBy("event_id")
    })

  /** Shared Holt-Winters recursive-CTE scaffolding (daily means, rn, and
    * the level/trend/seasonal-list recursion) — used by the smoother and
    * the residual anomaly detector so the replayed fold cannot drift.
    * The (1.0 - α) subtractions are spelled out: pre-folded 0.7 differs
    * from the computed double in the last ulp.
    */
  private lazy val HwCtes: String = {
    val idx = "(v.rn - 1) % 7 + 1"
    val lNew = s"(0.3 * (v.m - c.s[$idx]) + (1.0 - 0.3) * (c.l + c.b))"
    val zeros = Seq.fill(7)("CAST(0.0 AS DOUBLE)").mkString("[", ", ", "]")
    s"""daily AS (
       |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
       |    ${CleanFunctions.exactMeanSql("value")} AS m
       |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
       |v AS (SELECT user_id, day, m,
       |  row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn FROM daily),
       |c AS (
       |  SELECT user_id, day, m, rn, CAST(NULL AS DOUBLE) AS fitted,
       |    m AS l, CAST(0.0 AS DOUBLE) AS b, $zeros AS s
       |  FROM v WHERE rn = 1
       |  UNION ALL
       |  SELECT v.user_id, v.day, v.m, v.rn,
       |    c.l + c.b + c.s[$idx],
       |    $lNew,
       |    0.1 * ($lNew - c.l) + (1.0 - 0.1) * c.b,
       |    list_transform(c.s, (x, i) -> CASE WHEN i = $idx
       |      THEN 0.2 * (v.m - $lNew) + (1.0 - 0.2) * c.s[$idx] ELSE x END)
       |  FROM c JOIN v ON v.user_id = c.user_id AND v.rn = c.rn + 1)"""
      .stripMargin
  }

  /** Multiplicative twin of [[HwCtes]]: seasonals start at 1, level
    * updates on x/s, seasonal on x/l' — the SAME IEEE op order as the
    * holtWintersMult fold so the recursion replays bit-exactly.
    */
  private lazy val HwMultCtes: String = {
    val idx = "(v.rn - 1) % 7 + 1"
    val lNew = s"(0.3 * (v.m / c.s[$idx]) + (1.0 - 0.3) * (c.l + c.b))"
    val ones = Seq.fill(7)("CAST(1.0 AS DOUBLE)").mkString("[", ", ", "]")
    s"""daily AS (
       |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
       |    ${CleanFunctions.exactMeanSql("value")} AS m
       |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
       |v AS (SELECT user_id, day, m,
       |  row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn FROM daily),
       |c AS (
       |  SELECT user_id, day, m, rn, CAST(NULL AS DOUBLE) AS fitted,
       |    m AS l, CAST(0.0 AS DOUBLE) AS b, $ones AS s
       |  FROM v WHERE rn = 1
       |  UNION ALL
       |  SELECT v.user_id, v.day, v.m, v.rn,
       |    (c.l + c.b) * c.s[$idx],
       |    $lNew,
       |    0.1 * ($lNew - c.l) + (1.0 - 0.1) * c.b,
       |    list_transform(c.s, (x, i) -> CASE WHEN i = $idx
       |      THEN 0.2 * (v.m / $lNew) + (1.0 - 0.2) * c.s[$idx] ELSE x END)
       |  FROM c JOIN v ON v.user_id = c.user_id AND v.rn = c.rn + 1)"""
      .stripMargin
  }

  /** ts_holt_winters_mult's oracle, shared VERBATIM with
    * streaming_holt_winters_mult (the streaming_kalman shared-body rule).
    */
  private lazy val HwMultOracleSql: String =
    s"""WITH RECURSIVE $HwMultCtes
       |SELECT user_id, day, ${round4Sql("m")} AS day_mean,
       |  ${round4Sql("fitted")} AS hw_fitted, ${round4Sql("l")} AS hw_level,
       |  ${round4Sql("b")} AS hw_trend,
       |  ${round4Sql("s[(rn - 1) % 7 + 1]")} AS hw_seasonal
       |FROM c ORDER BY user_id, day""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "events_zonemap_report" ->
      s"""WITH gm AS (SELECT max(value) AS gmax FROM events),
         |g AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n,
         |  min(value) AS min_v, max(value) AS max_v
         |  FROM events GROUP BY 1)
         |SELECT day, n, min_v, max_v,
         |  CAST(CASE WHEN max_v < gmax * 0.9 THEN 1 ELSE 0 END AS BIGINT) AS skippable
         |FROM g, gm ORDER BY day""".stripMargin,

    "ts_gap_report" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id FROM events),
         |g AS (SELECT user_id, lag(tsu) OVER w AS gap_start, tsu AS gap_end
         |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id))
         |SELECT user_id, gap_start, gap_end, gap_end - gap_start AS gap_span
         |FROM g WHERE gap_start IS NOT NULL AND gap_end - gap_start > $SixHoursUs
         |ORDER BY user_id, gap_start""".stripMargin,

    "ts_counter_rate" ->
      s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tsu, value FROM events),
         |d AS (SELECT event_id, value,
         |        value - lag(value) OVER w AS delta,
         |        tsu - lag(tsu) OVER w AS dtu
         |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id))
         |SELECT event_id,
         |  ${round4Sql("(CASE WHEN delta < 0 THEN value ELSE delta END) / nullif(dtu / 1000000.0, 0.0)")} AS rate_per_s
         |FROM d ORDER BY event_id""".stripMargin,

    "ts_m4_downsample" -> m4OracleSql(nullFiltered = false),

    "events_powerlaw_alpha" ->
      s"""WITH c AS (SELECT event_type, user_id, count(*) AS c
         |  FROM events GROUP BY 1, 2),
         |tl AS (SELECT event_type,
         |  ${CleanFunctions.round6Sql("ln(CAST(c AS DOUBLE) / 1.5)")} AS lt
         |  FROM c WHERE c >= 2),
         |a AS (SELECT event_type, count(*) AS n_tail,
         |  ${round4Sql(s"1.0 + CAST(count(*) AS DOUBLE) / ${exactSumSql("lt")}")} AS alpha
         |  FROM tl GROUP BY 1),
         |u AS (SELECT event_type, count(*) AS n_users FROM c GROUP BY 1)
         |SELECT a.event_type, n_users, n_tail,
         |  ${round4Sql("CAST(n_tail AS DOUBLE) / CAST(n_users AS DOUBLE)")} AS tail_share,
         |  alpha
         |FROM a JOIN u USING (event_type) ORDER BY event_type""".stripMargin,

    "events_decay_score" ->
      s"""WITH nowt AS (SELECT max(epoch_us(ts)) AS now_us FROM events),
         |w AS (SELECT user_id,
         |  ${CleanFunctions.round6Sql(s"exp(CAST(epoch_us(ts) - now_us AS DOUBLE) / $DecayTauUs)")} AS w
         |  FROM events, nowt)
         |SELECT user_id, count(*) AS n_events,
         |  ${round4Sql(exactSumSql("w"))} AS decay_score
         |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin,

    // The LTTB DP unrolled: one chained CTE per interior bucket, each
    // computing the identical 6dp-rounded triangle-area argmax.
    "ts_lttb_downsample" -> {
      val nb = LttbBuckets - 2
      val r6 = CleanFunctions.round6Sql _
      val mean = (x: String) => CleanFunctions.exactMeanSql(x)
      def pick(i: Int, prevSel: String, nxt: String) =
        s"""p$i AS (SELECT user_id, tsu, event_id, value, rn FROM (
           |  SELECT c.user_id, c.tsu, c.event_id, c.value, c.rn,
           |    row_number() OVER (PARTITION BY c.user_id ORDER BY
           |      ${r6("abs((s.px - n.cx) * (c.value - s.py) - (s.px - CAST(c.rn AS DOUBLE)) * (n.cy - s.py)) * 0.5")} DESC,
           |      c.tsu, c.event_id) AS rk
           |  FROM itr c
           |  JOIN $prevSel s USING (user_id)
           |  JOIN $nxt n USING (user_id)
           |  WHERE c.bucket = $i) WHERE rk = 1),
           |s$i AS (SELECT user_id, CAST(rn AS DOUBLE) AS px, value AS py FROM p$i)""".stripMargin
      val rounds = (1 to nb).map { i =>
        val nxt = if (i < nb) s"(SELECT user_id, cx, cy FROM cen WHERE bucket = ${i + 1})"
                  else "lan"
        pick(i, s"s${i - 1}", nxt)
      }.mkString(",\n")
      val unionPicks = (1 to nb)
        .map(i => s"SELECT user_id, CAST($i AS BIGINT) AS bucket, event_id, value FROM p$i")
        .mkString("\nUNION ALL ")
      s"""WITH base AS (
         |  SELECT user_id, epoch_us(ts) AS tsu, event_id, value,
         |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn,
         |    count(*) OVER (PARTITION BY user_id) AS cnt
         |  FROM events WHERE value IS NOT NULL
         |  QUALIFY cnt >= $LttbBuckets),
         |fi AS (SELECT * FROM base WHERE rn = 1),
         |la AS (SELECT * FROM base WHERE rn = cnt),
         |lan AS (SELECT user_id, CAST(rn AS DOUBLE) AS cx, value AS cy FROM la),
         |itr AS (SELECT user_id, tsu, event_id, value, rn,
         |  ((rn - 2) * $nb) // (cnt - 2) + 1 AS bucket
         |  FROM base WHERE rn > 1 AND rn < cnt),
         |cen AS (SELECT user_id, bucket,
         |  ${mean("CAST(rn AS DOUBLE)")} AS cx, ${mean("value")} AS cy
         |  FROM itr GROUP BY user_id, bucket),
         |s0 AS (SELECT user_id, CAST(rn AS DOUBLE) AS px, value AS py FROM fi),
         |$rounds
         |SELECT user_id, bucket, event_id, value FROM (
         |  SELECT user_id, CAST(0 AS BIGINT) AS bucket, event_id, value FROM fi
         |  UNION ALL $unionPicks
         |  UNION ALL SELECT user_id, CAST(${nb + 1} AS BIGINT) AS bucket, event_id, value FROM la)
         |ORDER BY user_id, bucket""".stripMargin
    },

    "events_scd2" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu, event_id FROM events),
        |c AS (SELECT user_id, event_type, tsu, event_id,
        |        lag(event_type) OVER w AS prev,
        |        row_number() OVER w AS rn
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
        |v AS (SELECT user_id, event_type, tsu, event_id FROM c
        |      WHERE rn = 1 OR event_type IS DISTINCT FROM prev)
        |SELECT user_id, event_type, tsu AS valid_from,
        |  lead(tsu) OVER w2 AS valid_to,
        |  CAST(CASE WHEN lead(tsu) OVER w2 IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
        |FROM v WINDOW w2 AS (PARTITION BY user_id ORDER BY tsu, event_id)
        |ORDER BY user_id, valid_from, event_type""".stripMargin,

    "events_scd2_pit" ->
      s"""WITH e AS (SELECT user_id,
         |  CAST(floor(value / 50.0) AS BIGINT) AS band,
         |  epoch_us(ts) AS tsu, event_id FROM events WHERE value IS NOT NULL),
         |c AS (SELECT user_id, band, tsu, event_id,
         |        lag(band) OVER w AS prev,
         |        row_number() OVER w AS rn
         |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
         |v AS (SELECT user_id, band, tsu, event_id FROM c
         |      WHERE rn = 1 OR band IS DISTINCT FROM prev),
         |dim AS (SELECT user_id, band, tsu AS valid_from,
         |  lead(tsu) OVER w2 AS valid_to
         |  FROM v WINDOW w2 AS (PARTITION BY user_id ORDER BY tsu, event_id)),
         |f AS (SELECT user_id AS fuid, epoch_us(ts) - 3600000000 AS ots
         |  FROM events WHERE event_type = 'purchase'),
         |j AS (SELECT d.band FROM f LEFT JOIN dim d
         |  ON f.fuid = d.user_id AND f.ots >= d.valid_from
         |  AND (d.valid_to IS NULL OR f.ots < d.valid_to))
         |SELECT coalesce(band, -1) AS regime_band, count(*) AS n_purchases
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    // Recursive CTE replays the identical left-to-right IEEE fold, one
    // iteration per series position (working set = one row per series).
    // NOT list_reduce: DuckDB 1.0 struct-lambdas mutate the accumulator
    // field-by-field during struct construction (field 'l' is already
    // overwritten when 'b' evaluates), silently changing the recurrence.
    "ts_holt_forecast" -> {
      val a = dlit(HoltAlpha); val ia = dlit(1.0 - HoltAlpha)
      val g = dlit(HoltGamma); val ig = dlit(1.0 - HoltGamma)
      val nl = s"$a * v.value + $ia * (h.l + h.b)"
      s"""WITH RECURSIVE v AS (
         |  SELECT user_id, CAST(value AS DOUBLE) AS value,
         |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn,
         |    count(*) OVER (PARTITION BY user_id) AS n
         |  FROM events WHERE value IS NOT NULL),
         |holt AS (
         |  SELECT user_id, rn, n, value AS l, CAST(0.0 AS DOUBLE) AS b
         |  FROM v WHERE rn = 1
         |  UNION ALL
         |  SELECT v.user_id, v.rn, v.n,
         |    $nl AS l,
         |    $g * (($nl) - h.l) + $ig * h.b AS b
         |  FROM holt h JOIN v ON v.user_id = h.user_id AND v.rn = h.rn + 1)
         |SELECT user_id, ${round4Sql("l")} AS level, ${round4Sql("b")} AS trend,
         |  ${round4Sql("l + 24.0 * b")} AS fc24, n
         |FROM holt WHERE rn = n ORDER BY user_id""".stripMargin
    },

    "ts_holt_path" -> HoltPathOracleSql,

    // The streaming fold replays to the identical recursion (same
    // shared-body rule as streaming_kalman).
    "streaming_holt" -> HoltPathOracleSql,

    "ts_kalman" -> KalmanOracleSql,

    // The streaming fold replays to the identical recursion.
    "streaming_kalman" -> KalmanOracleSql,

    // Same recursive CTE as ts_ewma_recursive's oracle, on the
    // null-filtered set (streams carry no null samples); base-case
    // CASTs pin DOUBLE — recursive-CTE column types come from the base
    // query and bare literals type DECIMAL(2,1).
    "streaming_ewma" ->
      s"""WITH RECURSIVE s AS (
         |  SELECT event_id, user_id, value,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS idx
         |  FROM events WHERE value IS NOT NULL),
         |r(user_id, idx, event_id, num, den) AS (
         |  SELECT user_id, idx, event_id,
         |    CAST(value AS DOUBLE), CAST(1.0 AS DOUBLE)
         |  FROM s WHERE idx = 1
         |  UNION ALL
         |  SELECT s.user_id, s.idx, s.event_id,
         |    0.7 * r.num + s.value, 0.7 * r.den + 1.0
         |  FROM r JOIN s ON s.user_id = r.user_id AND s.idx = r.idx + 1)
         |SELECT event_id,
         |  ${graft.functions.CleanFunctions.round4Sql("num / den")} AS ewma
         |FROM r ORDER BY event_id""".stripMargin,

    // Null-filtered twin of ts_m4_downsample (see entry comment).
    "streaming_m4" -> m4OracleSql(nullFiltered = true),

    "events_psi" -> {
      val pa = "(CAST(ca + 1 AS DOUBLE) / CAST(na + nbuckets AS DOUBLE))"
      val pb = "(CAST(cb + 1 AS DOUBLE) / CAST(nb + nbuckets AS DOUBLE))"
      s"""WITH e AS (
         |  SELECT event_type,
         |    CASE WHEN epoch_us(ts) // 86400000000 <= ${java.time.LocalDate.of(2024, 1, 15).toEpochDay}
         |         THEN 'a' ELSE 'b' END AS period,
         |    CAST(floor(value / 50.0) AS BIGINT) AS bkt
         |  FROM events WHERE value IS NOT NULL),
         |c AS (
         |  SELECT event_type, bkt,
         |    count(CASE WHEN period = 'a' THEN 1 END) AS ca,
         |    count(CASE WHEN period = 'b' THEN 1 END) AS cb
         |  FROM e GROUP BY 1, 2),
         |t AS (
         |  SELECT event_type, sum(ca) AS na, sum(cb) AS nb, count(*) AS nbuckets
         |  FROM c GROUP BY 1),
         |j AS (
         |  SELECT c.event_type, na, nb,
         |    CAST(round((($pa - $pb) * ln($pa / $pb)) * 1000000.0) / 1000000.0 + 0.0 AS DECIMAL(18,6)) AS term
         |  FROM c JOIN t USING (event_type))
         |SELECT event_type, CAST(max(na) AS BIGINT) AS n_a,
         |  CAST(max(nb) AS BIGINT) AS n_b,
         |  ${round4Sql("CAST(sum(term) AS DOUBLE)")} AS psi
         |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin
    },

    // Replays the ensemble vote (identical expressions to the
    // ts_anomaly_ensemble oracle) then the run-length grouping
    // (identical to ts_alert_episodes).
    "ops_incidents" -> {
      import graft.GraftConfig
      val iqrFlag = "CAST(CASE WHEN z.value < q1 - 1.5*(q3 - q1) OR z.value > q3 + 1.5*(q3 - q1) THEN 1 ELSE 0 END AS BIGINT)"
      val madFlag = s"CAST(coalesce(CASE WHEN abs(${GraftConfig.MadScale} * (z.value - med) / nullif(mad, 0)) > ${GraftConfig.MadThreshold} THEN 1 ELSE 0 END, 0) AS BIGINT)"
      s"""WITH z AS (SELECT event_id, user_id, value, epoch_us(ts) AS tsu,
         |  CAST(CASE WHEN abs((value - avg(value) OVER u) / nullif(stddev_samp(value) OVER u, 0)) > ${GraftConfig.AnomalyThreshold} THEN 1 ELSE 0 END AS BIGINT) AS vote_z
         |  FROM events WINDOW u AS (PARTITION BY user_id)),
         |q AS (SELECT user_id, quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3 FROM events GROUP BY user_id),
         |m AS (SELECT user_id, median(value) AS med FROM events GROUP BY user_id),
         |md AS (SELECT e.user_id, median(abs(e.value - m.med)) AS mad FROM events e JOIN m USING (user_id) GROUP BY e.user_id),
         |fl AS (SELECT z.event_id, z.user_id, z.tsu,
         |  CASE WHEN z.vote_z + $iqrFlag + $madFlag >= 2 THEN 1 ELSE 0 END AS flag
         |  FROM z JOIN q USING (user_id) JOIN m USING (user_id) JOIN md USING (user_id)),
         |g AS (SELECT *, CASE WHEN lag(flag) OVER w IS NULL OR flag <> lag(flag) OVER w THEN 1 ELSE 0 END AS chg
         |  FROM fl WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
         |h AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY tsu, event_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp FROM g)
         |SELECT user_id, count(*) AS n_events, min(tsu) AS start_us, max(tsu) AS end_us
         |FROM h WHERE flag = 1 GROUP BY user_id, grp ORDER BY user_id, start_us""".stripMargin
    },

    "events_user_growth" ->
      s"""WITH f AS (SELECT user_id, min(epoch_us(ts) // 3600000000) AS hour
         |  FROM events GROUP BY 1),
         |n AS (SELECT hour, count(*) AS new_users FROM f GROUP BY 1)
         |SELECT hour, new_users,
         |  CAST(sum(new_users) OVER (ORDER BY hour
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
         |FROM n ORDER BY hour""".stripMargin,

    "events_dwell_time" ->
      s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu, event_id FROM events),
         |l AS (SELECT event_type AS from_type,
         |  lead(event_type) OVER w AS to_type,
         |  lead(tsu) OVER w - tsu AS dwell_us
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id))
         |SELECT from_type, to_type, count(*) AS n,
         |  ${round4Sql("(CAST(sum(dwell_us) AS DOUBLE) / count(*)) / 1000000.0")} AS mean_dwell_s
         |FROM l WHERE to_type IS NOT NULL
         |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin,

    "ts_croston" -> CrostonOracleSql,

    // The streaming emit-once fold replays to the identical recursion.
    "streaming_croston" -> CrostonOracleSql,

    "ts_demand_class" -> {
      val adiU = "(CASE WHEN nd > 1 THEN CAST(b1 - b0 AS DOUBLE) / CAST(nd - 1 AS DOUBLE) END)"
      val mv   = CleanFunctions.momentVarSql("CAST(nd AS DOUBLE)", "sq", "sqq")
      val cv2U = s"(($mv) / nullif((sq / CAST(nd AS DOUBLE)) * (sq / CAST(nd AS DOUBLE)), 0.0))"
      s"""WITH $demandSql,
         |a AS (SELECT user_id, count(*) AS nd, min(bucket) AS b0, max(bucket) AS b1,
         |  ${exactSumSql("q")} AS sq, ${exactSumSql(round4Sql("q * q"))} AS sqq
         |  FROM d GROUP BY user_id),
         |u AS (SELECT user_id, nd, $adiU AS adi_u, $cv2U AS cv2_u FROM a)
         |SELECT user_id, nd AS n_demands,
         |  ${round4Sql("adi_u")} AS adi, ${round4Sql("cv2_u")} AS cv2,
         |  CASE WHEN nd < 2 THEN 'insufficient'
         |       WHEN cv2_u < 0.49 AND adi_u < 1.32 THEN 'smooth'
         |       WHEN cv2_u < 0.49 THEN 'intermittent'
         |       WHEN adi_u < 1.32 THEN 'erratic'
         |       ELSE 'lumpy' END AS demand_class
         |FROM u ORDER BY user_id""".stripMargin
    },

    "events_attribution" ->
      s"""WITH e AS (SELECT user_id, event_type, value, epoch_us(ts) AS tsu, event_id FROM events),
         |t AS (SELECT user_id, event_type, value,
         |  first_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
         |    OVER (PARTITION BY user_id ORDER BY tsu, event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_touch,
         |  last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
         |    OVER (PARTITION BY user_id ORDER BY tsu, event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch
         |  FROM e),
         |p AS (SELECT * FROM t WHERE event_type = 'purchase' AND last_touch IS NOT NULL),
         |bf AS (SELECT first_touch AS channel, ${round4Sql(exactSumSql("value"))} AS first_rev,
         |         count(*) AS first_convs FROM p GROUP BY 1),
         |bl AS (SELECT last_touch AS channel, ${round4Sql(exactSumSql("value"))} AS last_rev,
         |         count(*) AS last_convs FROM p GROUP BY 1)
         |SELECT channel,
         |  coalesce(first_rev, 0.0) AS first_rev, coalesce(first_convs, 0) AS first_convs,
         |  coalesce(last_rev, 0.0) AS last_rev, coalesce(last_convs, 0) AS last_convs
         |FROM bf FULL JOIN bl USING (channel) ORDER BY channel""".stripMargin,

    "ts_drawdown" -> drawdownOracleSql(""),

    // Same body on the null-filtered set (the Event feed carries
    // primitive doubles — the streaming_ewma filter rule); the non-null
    // rows' running max is unchanged by dropping null rows, so the
    // streaming output is exactly the batch output restricted to them.
    "streaming_drawdown" -> drawdownOracleSql(" WHERE value IS NOT NULL"),

    "ts_rolling_median" ->
      s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tsu, value FROM events
         |  WHERE value IS NOT NULL),
         |r AS (SELECT event_id,
         |  list_sort(list(value) OVER (PARTITION BY user_id ORDER BY tsu, event_id
         |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS arr
         |  FROM e),
         |m AS (SELECT event_id, arr, len(arr) AS nn FROM r)
         |SELECT event_id,
         |  ${round4Sql("CASE WHEN nn % 2 = 1 THEN arr[(nn + 1) // 2] ELSE (arr[nn // 2] + arr[nn // 2 + 1]) / 2.0 END")} AS roll_med
         |FROM m ORDER BY event_id""".stripMargin,

    "ts_hampel" -> {
      def mid(arr: String, nn: String) =
        s"CASE WHEN $nn % 2 = 1 THEN $arr[($nn + 1) // 2] ELSE ($arr[$nn // 2] + $arr[$nn // 2 + 1]) / 2.0 END"
      s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tsu, value FROM events
         |  WHERE value IS NOT NULL),
         |r AS (SELECT event_id, value,
         |  list_sort(list(value) OVER (PARTITION BY user_id ORDER BY tsu, event_id
         |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr
         |  FROM e),
         |m AS (SELECT event_id, value, arr, len(arr) AS nn FROM r),
         |m2 AS (SELECT event_id, value, nn, ${mid("arr", "nn")} AS med, arr FROM m),
         |m3 AS (SELECT event_id, value, nn, med,
         |  list_sort(list_transform(arr, v -> abs(v - med))) AS devs FROM m2),
         |m4 AS (SELECT event_id, value, med, ${mid("devs", "nn")} AS mad FROM m3)
         |SELECT event_id,
         |  ${round4Sql("CASE WHEN abs(value - med) > 3.0 * 1.4826 * mad THEN med ELSE value END")} AS cleaned,
         |  CAST(abs(value - med) > 3.0 * 1.4826 * mad AS BIGINT) AS is_outlier
         |FROM m4 ORDER BY event_id""".stripMargin
    },

    "events_dau_mau" ->
      s"""WITH ud AS (
         |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
         |grid AS (SELECT DISTINCT day AS g FROM ud),
         |dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY 1),
         |mau AS (
         |  SELECT g AS day, count(DISTINCT user_id) AS mau
         |  FROM ud JOIN grid ON ud.day BETWEEN g - 27 AND g GROUP BY 1)
         |SELECT dau.day, dau, mau,
         |  ${round4Sql("CAST(dau AS DOUBLE) / CAST(mau AS DOUBLE)")} AS stickiness
         |FROM dau JOIN mau ON dau.day = mau.day
         |ORDER BY dau.day""".stripMargin,

    "ts_holt_winters" -> HwOracleSql,

    // The streaming seasonal fold replays to the identical recursion.
    "streaming_holt_winters" -> HwOracleSql,

    "ts_holt_winters_mult" -> HwMultOracleSql,

    // The streaming multiplicative fold replays the identical recursion.
    "streaming_holt_winters_mult" -> HwMultOracleSql,

    "ts_hw_anomaly" ->
      s"""WITH RECURSIVE $HwCtes,
         |r AS (SELECT user_id, day, m, ${round4Sql("m - fitted")} AS resid
         |      FROM c WHERE fitted IS NOT NULL),
         |st AS (
         |  SELECT user_id, CAST(count(*) AS DOUBLE) AS n,
         |    ${CleanFunctions.exactSumSql("resid")} AS sx,
         |    ${CleanFunctions.exactSumSql(round4Sql("resid * resid"))} AS sxx
         |  FROM r GROUP BY 1)
         |SELECT r.user_id, day, ${round4Sql("m")} AS day_mean, resid,
         |  ${round4Sql(s"resid / nullif(${CleanFunctions.momentStdSql("n", "sx", "sxx")}, 0.0)")} AS hw_z,
         |  CAST(CASE WHEN abs(${round4Sql(s"resid / nullif(${CleanFunctions.momentStdSql("n", "sx", "sxx")}, 0.0)")}) > 2.0
         |       THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
         |FROM r JOIN st ON r.user_id = st.user_id
         |ORDER BY r.user_id, day""".stripMargin,

    "events_rate_limit" -> RateLimitOracleSql,

    // The streaming admission fold replays the identical recursion.
    "streaming_rate_limit" -> RateLimitOracleSql,

    // ts_cusum_reset's recursion restricted to series with n >= 2 — the
    // streaming ControlSample feed carries a primitive (non-null) slack,
    // so n=1 series (null sigma) are excluded on both sides.
    "streaming_cusum" -> cusumResetOracleSql(minN = 2),

    "ts_cusum_reset" -> cusumResetOracleSql(minN = 1),

    "ts_hysteresis" -> HysteresisOracleSql,

    // The streaming alarm fold replays to the identical recursion (same
    // shared-body rule as streaming_kalman).
    "streaming_hysteresis" -> HysteresisOracleSql,

    "ts_sax" ->
      s"""WITH stats AS (
         |  SELECT user_id, CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
         |    CAST(sum(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
         |    CAST(count(value) AS DOUBLE) AS n
         |  FROM events WHERE value IS NOT NULL GROUP BY user_id),
         |z AS (SELECT e.user_id, epoch_us(e.ts) // $SixHoursUs AS frame,
         |    round(((value - sx / n) / nullif(${CleanFunctions.momentStdSql("n", "sx", "sxx")}, 0.0)) * 1000000.0) / 1000000.0 + 0.0 AS zr
         |  FROM events e JOIN stats USING (user_id) WHERE value IS NOT NULL),
         |paa AS (SELECT user_id, frame,
         |    CAST(sum(CAST(zr AS DECIMAL(18,6))) AS DOUBLE) / nullif(CAST(count(zr) AS DOUBLE), 0.0) AS paa_raw,
         |    count(zr) AS n_samples
         |  FROM z GROUP BY user_id, frame)
         |SELECT user_id, frame, ${round4Sql("paa_raw")} AS paa,
         |  CASE WHEN paa_raw IS NULL THEN NULL
         |       WHEN paa_raw < -0.6745 THEN 'a'
         |       WHEN paa_raw < 0.0 THEN 'b'
         |       WHEN paa_raw < 0.6745 THEN 'c'
         |       ELSE 'd' END AS sym,
         |  n_samples
         |FROM paa ORDER BY user_id, frame""".stripMargin,

    "ts_sax_mindist" -> {
      val symCase = (p: String) =>
        s"""CASE WHEN $p IS NULL THEN NULL
           |       WHEN $p < -0.6745 THEN 'a'
           |       WHEN $p < 0.0 THEN 'b'
           |       WHEN $p < 0.6745 THEN 'c'
           |       ELSE 'd' END""".stripMargin
      val li = (c: String) =>
        s"CASE WHEN $c = 'a' THEN 1 WHEN $c = 'b' THEN 2 WHEN $c = 'c' THEN 3 ELSE 4 END"
      s"""WITH stats AS (
         |  SELECT user_id, CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
         |    CAST(sum(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
         |    CAST(count(value) AS DOUBLE) AS n
         |  FROM events WHERE value IS NOT NULL GROUP BY user_id),
         |z AS (SELECT e.user_id, epoch_us(e.ts) // $SixHoursUs AS frame,
         |    round(((value - sx / n) / nullif(${CleanFunctions.momentStdSql("n", "sx", "sxx")}, 0.0)) * 1000000.0) / 1000000.0 + 0.0 AS zr
         |  FROM events e JOIN stats USING (user_id) WHERE value IS NOT NULL),
         |paa AS (SELECT user_id, frame,
         |    CAST(sum(CAST(zr AS DECIMAL(18,6))) AS DOUBLE) / nullif(CAST(count(zr) AS DOUBLE), 0.0) AS paa_raw,
         |    count(zr) AS n_samples
         |  FROM z GROUP BY user_id, frame),
         |sym AS (SELECT user_id, frame, n_samples,
         |    ${symCase("paa_raw")} AS sym FROM paa),
         |gstats AS (
         |  SELECT CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS gsx,
         |    CAST(sum(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) AS gsxx,
         |    CAST(count(value) AS DOUBLE) AS gn
         |  FROM events WHERE value IS NOT NULL),
         |gz AS (SELECT epoch_us(e.ts) // $SixHoursUs AS frame,
         |    round(((value - gsx / gn) / nullif(${CleanFunctions.momentStdSql("gn", "gsx", "gsxx")}, 0.0)) * 1000000.0) / 1000000.0 + 0.0 AS gzr
         |  FROM events e, gstats WHERE value IS NOT NULL),
         |gpaa AS (SELECT frame,
         |    CAST(sum(CAST(gzr AS DECIMAL(18,6))) AS DOUBLE) / nullif(CAST(count(gzr) AS DOUBLE), 0.0) AS gpaa
         |  FROM gz GROUP BY frame),
         |gsym AS (SELECT frame, ${symCase("gpaa")} AS gsym FROM gpaa),
         |cells AS (
         |  SELECT s.user_id, s.n_samples,
         |    CASE WHEN abs(${li("s.sym")} - ${li("g.gsym")}) <= 1 THEN 0.0
         |         WHEN abs(${li("s.sym")} - ${li("g.gsym")}) = 2 THEN ${dlit(SaxCellSq1)}
         |         ELSE ${dlit(SaxCellSq2)} END AS cellsq
         |  FROM sym s JOIN gsym g USING (frame)
         |  WHERE s.sym IS NOT NULL AND g.gsym IS NOT NULL),
         |agg AS (
         |  SELECT user_id, count(*) AS n_frames,
         |    CAST(sum(n_samples) AS BIGINT) AS n_obs,
         |    ${exactSumSql("cellsq")} AS cs
         |  FROM cells GROUP BY user_id)
         |SELECT user_id, n_frames, n_obs,
         |  ${round4Sql("sqrt(CAST(n_obs AS DOUBLE) / CAST(n_frames AS DOUBLE) * cs)")} AS mindist
         |FROM agg ORDER BY user_id""".stripMargin
    },

    // Replays lz76Phrases' EXACT shortest-unseen-prefix formulation:
    // one recursive-CTE step per phrase, the min valid L from a spine
    // scan with the strpos window check (window = chars 1..q+L−1, so
    // earlier occurrences may overlap the phrase except its last char),
    // COALESCE to the remainder when every prefix is reproducible.
    "ts_lz_complexity" -> {
      val symCase = (p: String) =>
        s"""CASE WHEN $p IS NULL THEN NULL
           |       WHEN $p < -0.6745 THEN 'a'
           |       WHEN $p < 0.0 THEN 'b'
           |       WHEN $p < 0.6745 THEN 'c'
           |       ELSE 'd' END""".stripMargin
      s"""WITH RECURSIVE stats AS (
         |  SELECT user_id, CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
         |    CAST(sum(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
         |    CAST(count(value) AS DOUBLE) AS n
         |  FROM events WHERE value IS NOT NULL GROUP BY user_id),
         |z AS (SELECT e.user_id, epoch_us(e.ts) // $SixHoursUs AS frame,
         |    round(((value - sx / n) / nullif(${CleanFunctions.momentStdSql("n", "sx", "sxx")}, 0.0)) * 1000000.0) / 1000000.0 + 0.0 AS zr
         |  FROM events e JOIN stats USING (user_id) WHERE value IS NOT NULL),
         |paa AS (SELECT user_id, frame,
         |    CAST(sum(CAST(zr AS DECIMAL(18,6))) AS DOUBLE) / nullif(CAST(count(zr) AS DOUBLE), 0.0) AS paa_raw
         |  FROM z GROUP BY user_id, frame),
         |sym AS (SELECT user_id, frame, ${symCase("paa_raw")} AS sym FROM paa),
         |words AS (
         |  SELECT user_id,
         |    CASE WHEN length(w) > 2000
         |         THEN error('lz76 oracle: SAX word exceeds the 2000-frame spine cap - raise the spine bound')
         |         ELSE w END AS word
         |  FROM (SELECT user_id, string_agg(sym, '' ORDER BY frame) AS w
         |        FROM sym WHERE sym IS NOT NULL GROUP BY user_id)),
         |spine AS (SELECT CAST(range AS BIGINT) AS l FROM range(1, 2001)),
         |parse AS (
         |  SELECT user_id, word, CAST(length(word) AS BIGINT) AS n,
         |    CAST(0 AS BIGINT) AS q, CAST(0 AS BIGINT) AS c
         |  FROM words
         |  UNION ALL
         |  SELECT user_id, word, n, q + l_min, c + 1 FROM (
         |    SELECT p.user_id, p.word, p.n, p.q, p.c,
         |      COALESCE((SELECT min(sp.l) FROM spine sp
         |                WHERE sp.l <= p.n - p.q
         |                  AND strpos(substr(p.word, 1, CAST(p.q + sp.l - 1 AS INTEGER)),
         |                             substr(p.word, CAST(p.q + 1 AS INTEGER), CAST(sp.l AS INTEGER))) = 0),
         |               p.n - p.q) AS l_min
         |    FROM parse p WHERE p.q < p.n) t)
         |SELECT user_id, n AS n_sym, c AS lz_c,
         |  ${round4Sql(s"(CAST(c AS DOUBLE) * ${CleanFunctions.round6Sql("ln(CAST(n AS DOUBLE))")}) / (CAST(n AS DOUBLE) * ${dlit(SaxLn4)})")} AS lz_norm
         |FROM parse WHERE q = n ORDER BY user_id""".stripMargin
    },

    "ts_discord" ->
      s"""WITH stats AS (
         |  SELECT user_id, CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
         |    CAST(sum(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
         |    CAST(count(value) AS DOUBLE) AS n
         |  FROM events WHERE value IS NOT NULL GROUP BY user_id),
         |z AS (SELECT e.user_id, epoch_us(e.ts) // $SixHoursUs AS frame,
         |    round(((value - sx / n) / nullif(${CleanFunctions.momentStdSql("n", "sx", "sxx")}, 0.0)) * 1000000.0) / 1000000.0 + 0.0 AS zr
         |  FROM events e JOIN stats USING (user_id) WHERE value IS NOT NULL),
         |paa AS (SELECT user_id, frame,
         |    CAST(sum(CAST(zr AS DECIMAL(18,6))) AS DOUBLE) / nullif(CAST(count(zr) AS DOUBLE), 0.0) AS paa_raw
         |  FROM z GROUP BY user_id, frame),
         |sym AS (SELECT user_id, frame,
         |    CASE WHEN paa_raw IS NULL THEN NULL
         |         WHEN paa_raw < -0.6745 THEN 'a'
         |         WHEN paa_raw < 0.0 THEN 'b'
         |         WHEN paa_raw < 0.6745 THEN 'c'
         |         ELSE 'd' END AS sym
         |  FROM paa),
         |wd AS (SELECT user_id, sym,
         |    lead(sym, 1) OVER w AS s1, lead(sym, 2) OVER w AS s2,
         |    lead(sym, 3) OVER w AS s3, lead(frame, 3) OVER w AS f3, frame
         |  FROM sym WINDOW w AS (PARTITION BY user_id ORDER BY frame)),
         |words AS (SELECT user_id, frame, sym || s1 || s2 || s3 AS word FROM wd
         |  WHERE f3 = frame + 3 AND sym IS NOT NULL AND s1 IS NOT NULL
         |    AND s2 IS NOT NULL AND s3 IS NOT NULL),
         |cnt AS (SELECT user_id, word, count(*) AS n_occ, min(frame) AS first_frame
         |  FROM words GROUP BY user_id, word),
         |rk AS (SELECT *, row_number() OVER (
         |    PARTITION BY user_id ORDER BY n_occ ASC, word ASC) AS rk FROM cnt)
         |SELECT user_id, word AS discord_word, n_occ, first_frame
         |FROM rk WHERE rk = 1 ORDER BY user_id""".stripMargin,

    "ts_sax_motifs" ->
      s"""WITH stats AS (
         |  SELECT user_id, CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
         |    CAST(sum(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
         |    CAST(count(value) AS DOUBLE) AS n
         |  FROM events WHERE value IS NOT NULL GROUP BY user_id),
         |z AS (SELECT e.user_id, epoch_us(e.ts) // $SixHoursUs AS frame,
         |    round(((value - sx / n) / nullif(${CleanFunctions.momentStdSql("n", "sx", "sxx")}, 0.0)) * 1000000.0) / 1000000.0 + 0.0 AS zr
         |  FROM events e JOIN stats USING (user_id) WHERE value IS NOT NULL),
         |paa AS (SELECT user_id, frame,
         |    CAST(sum(CAST(zr AS DECIMAL(18,6))) AS DOUBLE) / nullif(CAST(count(zr) AS DOUBLE), 0.0) AS paa_raw
         |  FROM z GROUP BY user_id, frame),
         |sym AS (SELECT user_id, frame,
         |    CASE WHEN paa_raw IS NULL THEN NULL
         |         WHEN paa_raw < -0.6745 THEN 'a'
         |         WHEN paa_raw < 0.0 THEN 'b'
         |         WHEN paa_raw < 0.6745 THEN 'c'
         |         ELSE 'd' END AS sym
         |  FROM paa),
         |wd AS (SELECT user_id, sym,
         |    lead(sym, 1) OVER w AS s1, lead(sym, 2) OVER w AS s2,
         |    lead(sym, 3) OVER w AS s3, lead(frame, 3) OVER w AS f3, frame
         |  FROM sym WINDOW w AS (PARTITION BY user_id ORDER BY frame)),
         |words AS (SELECT user_id, sym || s1 || s2 || s3 AS word FROM wd
         |  WHERE f3 = frame + 3 AND sym IS NOT NULL AND s1 IS NOT NULL
         |    AND s2 IS NOT NULL AND s3 IS NOT NULL)
         |SELECT word, count(*) AS n_windows, count(DISTINCT user_id) AS n_series
         |FROM words GROUP BY word HAVING count(*) BETWEEN 2 AND 200
         |ORDER BY word""".stripMargin,

    "ts_dominant_period" -> {
      val sums = SpectralPeriods.flatMap { p =>
        val (cs, sn) = fourierTable(p)
        Seq(
          s"${exactSumSql(s"round((vc * (${sqlDList(cs)}[(th % $p) + 1])) * 1000000.0) / 1000000.0")} AS c$p",
          s"${exactSumSql(s"round((vc * (${sqlDList(sn)}[(th % $p) + 1])) * 1000000.0) / 1000000.0")} AS s$p")
      }.mkString(",\n  ")
      val powers = SpectralPeriods
        .map(p => s"${round4Sql(s"(c$p * c$p + s$p * s$p) / (n * n)")} AS p$p")
        .mkString(",\n  ")
      val best = SpectralPeriods.map(p => s"p$p").mkString("greatest(", ", ", ")")
      val cases = SpectralPeriods.map(p => s"WHEN p$p = $best THEN $p").mkString(" ")
      s"""WITH stats AS (
         |  SELECT user_id, CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
         |    CAST(count(value) AS DOUBLE) AS n
         |  FROM events WHERE value IS NOT NULL GROUP BY user_id),
         |vc AS (SELECT e.user_id, epoch_us(e.ts) // 3600000000 AS th,
         |    round((value - sx / n) * 1000000.0) / 1000000.0 + 0.0 AS vc
         |  FROM events e JOIN stats USING (user_id) WHERE value IS NOT NULL),
         |ag AS (SELECT user_id, CAST(count(*) AS DOUBLE) AS n,
         |  $sums
         |  FROM vc GROUP BY user_id),
         |pw AS (SELECT user_id, n,
         |  $powers
         |  FROM ag)
         |SELECT user_id, CAST(n AS BIGINT) AS n_rows,
         |  CAST(CASE $cases ELSE 0 END AS BIGINT) AS best_period_h,
         |  ${SpectralPeriods.map(p => s"p$p").mkString(", ")}
         |FROM pw ORDER BY user_id""".stripMargin
    },

    "ts_spectral_entropy" -> {
      val sums = SpectralPeriods.flatMap { p =>
        val (cs, sn) = fourierTable(p)
        Seq(
          s"${exactSumSql(s"round((vc * (${sqlDList(cs)}[(th % $p) + 1])) * 1000000.0) / 1000000.0")} AS c$p",
          s"${exactSumSql(s"round((vc * (${sqlDList(sn)}[(th % $p) + 1])) * 1000000.0) / 1000000.0")} AS s$p")
      }.mkString(",\n  ")
      val powers = SpectralPeriods
        .map(p => s"${round4Sql(s"(c$p * c$p + s$p * s$p) / (n * n)")} AS p$p")
        .mkString(",\n  ")
      val ptot = SpectralPeriods.map(p => s"p$p").mkString(" + ")
      val shares = SpectralPeriods
        .map(p => s"CASE WHEN ptot > 0.0 THEN round((p$p / ptot) * 1000000.0) / 1000000.0 END AS q$p")
        .mkString(",\n  ")
      val terms = SpectralPeriods
        .map(p => s"CASE WHEN q$p > 0.0 THEN round((q$p * ln(q$p)) * 1000000.0) / 1000000.0 ELSE 0.0 END")
        .mkString(" + ")
      s"""WITH stats AS (
         |  SELECT user_id, CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
         |    CAST(count(value) AS DOUBLE) AS n
         |  FROM events WHERE value IS NOT NULL GROUP BY user_id),
         |vc AS (SELECT e.user_id, epoch_us(e.ts) // 3600000000 AS th,
         |    round((value - sx / n) * 1000000.0) / 1000000.0 + 0.0 AS vc
         |  FROM events e JOIN stats USING (user_id) WHERE value IS NOT NULL),
         |ag AS (SELECT user_id, CAST(count(*) AS DOUBLE) AS n,
         |  $sums
         |  FROM vc GROUP BY user_id),
         |pw AS (SELECT user_id, n,
         |  $powers
         |  FROM ag),
         |pt AS (SELECT *, $ptot AS ptot FROM pw),
         |q AS (SELECT user_id, n, ptot,
         |  $shares
         |  FROM pt)
         |SELECT user_id, CAST(n AS BIGINT) AS n_rows,
         |  ${SpectralPeriods.map(p => s"q$p").mkString(", ")},
         |  CASE WHEN ptot > 0.0
         |    THEN ${round4Sql(s"-($terms) / ${CleanFunctions.dlitSql(LnBins)}")} END AS spec_entropy
         |FROM q ORDER BY user_id""".stripMargin
    },

    "events_two_sample_z" ->
      s"""WITH g AS (
         |  SELECT event_type, CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
         |    CAST(sum(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
         |    CAST(count(value) AS DOUBLE) AS n
         |  FROM events WHERE value IS NOT NULL AND event_type IN ('view', 'click')
         |  GROUP BY event_type),
         |a AS (SELECT sx AS sx1, sxx AS sxx1, n AS n1 FROM g WHERE event_type = 'view'),
         |b AS (SELECT sx AS sx2, sxx AS sxx2, n AS n2 FROM g WHERE event_type = 'click')
         |SELECT CAST(n1 AS BIGINT) AS n_view, CAST(n2 AS BIGINT) AS n_click,
         |  ${round4Sql("sx1 / n1 - sx2 / n2")} AS mean_diff,
         |  ${round4Sql(s"(sx1 / n1 - sx2 / n2) / nullif(sqrt(${CleanFunctions.momentVarSql("n1", "sx1", "sxx1")} / n1 + ${CleanFunctions.momentVarSql("n2", "sx2", "sxx2")} / n2), 0.0)")} AS z
         |FROM a, b""".stripMargin,

    "events_time_to_convert" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
        |fv AS (SELECT user_id, min(tsu) AS first_view_us FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |cv AS (SELECT e.user_id, fv.first_view_us, min(e.tsu) AS first_purchase_us
        |  FROM e JOIN fv USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.tsu > fv.first_view_us
        |  GROUP BY e.user_id, fv.first_view_us)
        |SELECT user_id, first_view_us, first_purchase_us,
        |  (first_purchase_us - first_view_us) // 1000000 AS latency_s
        |FROM cv ORDER BY user_id""".stripMargin,

    "ts_peaks" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tsu, value FROM events),
        |n AS (SELECT event_id, user_id, value,
        |  lag(value) OVER w AS pv, lead(value) OVER w AS nv
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id))
        |SELECT event_id, user_id, value,
        |  CASE WHEN value > pv AND value > nv THEN 'peak' ELSE 'trough' END AS kind
        |FROM n
        |WHERE (value > pv AND value > nv) OR (value < pv AND value < nv)
        |ORDER BY event_id""".stripMargin,

    "events_markov" ->
      s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu, event_id FROM events),
         |t AS (SELECT event_type AS from_type,
         |  lead(event_type) OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS to_type
         |  FROM e),
         |c AS (SELECT from_type, to_type, count(*) AS cnt FROM t
         |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
         |SELECT from_type, to_type, cnt,
         |  ${round4Sql("CAST(cnt AS DOUBLE) / CAST(sum(cnt) OVER (PARTITION BY from_type) AS DOUBLE)")} AS p
         |FROM c ORDER BY from_type, to_type""".stripMargin,

    "events_markov2" ->
      s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu, event_id FROM events),
         |t AS (SELECT event_type AS prev2,
         |  lead(event_type, 1) OVER w AS prev1,
         |  lead(event_type, 2) OVER w AS to_type
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
         |s3 AS (SELECT prev2, prev1, to_type FROM t WHERE to_type IS NOT NULL),
         |c2 AS (SELECT prev2, prev1, to_type, count(*) AS cnt FROM s3 GROUP BY 1, 2, 3),
         |p2 AS (SELECT prev2, prev1, to_type, cnt,
         |  ${round4Sql("CAST(cnt AS DOUBLE) / CAST(sum(cnt) OVER (PARTITION BY prev2, prev1) AS DOUBLE)")} AS p2
         |  FROM c2),
         |c1 AS (SELECT prev1, to_type, count(*) AS cnt1 FROM s3 GROUP BY 1, 2),
         |p1 AS (SELECT prev1, to_type,
         |  ${round4Sql("CAST(cnt1 AS DOUBLE) / CAST(sum(cnt1) OVER (PARTITION BY prev1) AS DOUBLE)")} AS p1
         |  FROM c1)
         |SELECT prev2, prev1, to_type, cnt, p2, p1,
         |  ${round4Sql("p2 / p1")} AS lift
         |FROM p2 JOIN p1 USING (prev1, to_type)
         |ORDER BY prev2, prev1, to_type""".stripMargin,

    "events_lateness_profile" ->
      s"""WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS tsu FROM events),
         |l AS (SELECT event_type,
         |  max(tsu) OVER (PARTITION BY event_type
         |    ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tsu AS late_us
         |  FROM e),
         |b AS (SELECT event_type,
         |  least(${LatenessBands - 1L}, late_us // $LatenessBandUs) AS band, late_us
         |  FROM l)
         |SELECT event_type, CAST(band AS BIGINT) AS band, count(*) AS n,
         |  CAST(max(late_us) AS BIGINT) AS max_late_us
         |FROM b GROUP BY 1, 2 ORDER BY event_type, band""".stripMargin,

    "events_top_paths" ->
      s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu, event_id FROM events),
         |r AS (SELECT user_id, event_type,
         |  row_number() OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS rn
         |  FROM e),
         |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
         |  FROM r WHERE rn <= $PathLen GROUP BY user_id)
         |SELECT path, count(*) AS n_users FROM p GROUP BY path
         |ORDER BY n_users DESC, path LIMIT $TopPaths""".stripMargin,

    "events_session_concurrency" ->
      s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tsu FROM events),
         |f AS (SELECT user_id, tsu, event_id,
         |  CASE WHEN lag(tsu) OVER w IS NULL OR tsu - lag(tsu) OVER w > ${30L * 60 * 1000000}
         |       THEN 1 ELSE 0 END AS is_new
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
         |g AS (SELECT user_id, tsu,
         |  sum(is_new) OVER (PARTITION BY user_id ORDER BY tsu, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         |  FROM f),
         |s AS (SELECT user_id, session_id,
         |  min(tsu) // $OneHourUs AS h0, max(tsu) // $OneHourUs AS h1
         |  FROM g GROUP BY user_id, session_id),
         |x AS (SELECT user_id, unnest(generate_series(h0, h1)) AS hr FROM s)
         |SELECT hr, count(*) AS n_sessions, count(DISTINCT user_id) AS n_users
         |FROM x GROUP BY hr ORDER BY hr""".stripMargin,

    "ts_seasonal_strength" ->
      s"""WITH t AS (SELECT event_id, user_id, value, hour(ts) AS pos,
         |  CASE WHEN count(value) OVER w = 25 THEN ${CleanFunctions.exactMeanSql("value", "OVER w")} END AS trend
         |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
         |d AS (SELECT *, value - trend AS detr FROM t),
         |pm AS (SELECT user_id, pos, ${CleanFunctions.exactMeanSql("detr")} AS pos_mean
         |  FROM d WHERE detr IS NOT NULL GROUP BY user_id, pos),
         |km AS (SELECT user_id, ${CleanFunctions.exactMeanSql("pos_mean")} AS key_mean FROM pm GROUP BY user_id),
         |comp AS (SELECT d.user_id,
         |  ${round4Sql("d.value - d.trend - (pm.pos_mean - km.key_mean)")} AS r,
         |  ${round4Sql("pm.pos_mean - km.key_mean")} AS sv,
         |  ${round4Sql("d.trend")} AS tv
         |  FROM d LEFT JOIN pm USING (user_id, pos) LEFT JOIN km USING (user_id)
         |  WHERE d.trend IS NOT NULL),
         |ag AS (SELECT user_id, CAST(count(*) AS DOUBLE) AS n,
         |  ${exactSumSql("r")} AS r_sx, ${exactSumSql("r * r")} AS r_sxx,
         |  ${exactSumSql("sv + r")} AS sr_sx, ${exactSumSql("(sv + r) * (sv + r)")} AS sr_sxx,
         |  ${exactSumSql("tv + r")} AS tr_sx, ${exactSumSql("(tv + r) * (tv + r)")} AS tr_sxx
         |  FROM comp GROUP BY user_id)
         |SELECT user_id, CAST(n AS BIGINT) AS n_rows,
         |  CASE WHEN ${CleanFunctions.momentVarSql("n", "sr_sx", "sr_sxx")} > 0.0
         |       THEN ${round4Sql(s"greatest(0.0, 1.0 - ${CleanFunctions.momentVarSql("n", "r_sx", "r_sxx")} / ${CleanFunctions.momentVarSql("n", "sr_sx", "sr_sxx")})")} END AS f_seasonal,
         |  CASE WHEN ${CleanFunctions.momentVarSql("n", "tr_sx", "tr_sxx")} > 0.0
         |       THEN ${round4Sql(s"greatest(0.0, 1.0 - ${CleanFunctions.momentVarSql("n", "r_sx", "r_sxx")} / ${CleanFunctions.momentVarSql("n", "tr_sx", "tr_sxx")})")} END AS f_trend
         |FROM ag ORDER BY user_id""".stripMargin,

    "events_cdc_apply" ->
      """WITH e AS (SELECT user_id, event_type, value, epoch_us(ts) AS tsu, event_id FROM events),
        |r AS (SELECT user_id, value,
        |  CASE WHEN event_type = 'purchase' THEN 'delete' ELSE 'upsert' END AS op,
        |  row_number() OVER (PARTITION BY user_id ORDER BY tsu DESC, event_id DESC) AS rk,
        |  count(*) OVER (PARTITION BY user_id) AS n_changes
        |  FROM e)
        |SELECT user_id, value AS final_value, n_changes
        |FROM r WHERE rk = 1 AND op = 'upsert' ORDER BY user_id""".stripMargin,

    "lineitem_yoy_growth" ->
      s"""WITH y AS (
         |  SELECT l_returnflag, CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year,
         |    ${round4Sql(exactSumSql("l_extendedprice"))} AS revenue
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  GROUP BY 1, 2),
         |g AS (SELECT l_returnflag, o_year, revenue,
         |  lag(revenue) OVER (PARTITION BY l_returnflag ORDER BY o_year) AS prev_rev
         |  FROM y)
         |SELECT l_returnflag, o_year, revenue, prev_rev,
         |  ${round4Sql("100.0 * (revenue - prev_rev) / nullif(prev_rev, 0.0)")} AS yoy_pct
         |FROM g ORDER BY l_returnflag, o_year""".stripMargin,

    "dq_audit" ->
      """SELECT * FROM (
        |  SELECT 'orders_null_custkey' AS "check",
        |         count(CASE WHEN o_custkey IS NULL THEN 1 END) AS failed FROM orders
        |  UNION ALL SELECT 'orders_dup_orderkey',
        |         count(CASE WHEN o_orderkey IS NOT NULL THEN 1 END)
        |           - count(DISTINCT o_orderkey) FROM orders
        |  UNION ALL SELECT 'lineitem_orphan_orders', count(*) FROM lineitem l
        |         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |  UNION ALL SELECT 'lineitem_nonpositive_qty',
        |         count(CASE WHEN l_quantity <= 0 THEN 1 END) FROM lineitem
        |  UNION ALL SELECT 'events_null_value',
        |         count(CASE WHEN value IS NULL THEN 1 END) FROM events
        |  UNION ALL SELECT 'events_dup_user_ts',
        |         count(CASE WHEN user_id IS NOT NULL AND ts IS NOT NULL THEN 1 END)
        |           - count(DISTINCT CASE WHEN user_id IS NOT NULL AND ts IS NOT NULL
        |                                 THEN (user_id, epoch_us(ts)) END) FROM events
        |  UNION ALL SELECT 'events_value_out_of_range',
        |         count(CASE WHEN abs(value) > 1000000.0 THEN 1 END) FROM events
        |) ORDER BY "check"""".stripMargin,

    "events_zorder_key" ->
      s"""WITH e AS (
         |  SELECT event_id, user_id % 256 AS ub,
         |    (epoch_us(ts) // 3600000000) % 256 AS hb
         |  FROM events)
         |SELECT event_id, ${graft.operators.LayoutOps.zorderKeySql("ub", "hb", 8)} AS zkey
         |FROM e ORDER BY event_id""".stripMargin,

    // The one-shot aggregate: merged partials must equal it exactly.
    "events_incremental_agg" ->
      s"""SELECT event_type, count(value) AS n,
         |  ${round4Sql("CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)")} AS sum_value,
         |  min(value) AS min_value, max(value) AS max_value
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "events_session_overlap" ->
      s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tsu FROM events),
         |f AS (SELECT user_id, event_id, tsu,
         |  CASE WHEN lag(tsu) OVER w IS NULL OR tsu - lag(tsu) OVER w > ${30L * 60 * 1000000}
         |       THEN 1 ELSE 0 END AS is_new
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
         |s AS (SELECT user_id, tsu,
         |  sum(is_new) OVER (PARTITION BY user_id ORDER BY tsu, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         |  FROM f),
         |i AS (SELECT user_id, session_id, min(tsu) AS lo, max(tsu) AS hi
         |      FROM s GROUP BY 1, 2),
         |d AS (SELECT * FROM i
         |      WHERE lo // 86400000000 = ${java.time.LocalDate.of(2024, 1, 15).toEpochDay})
         |SELECT a.user_id AS u1, b.user_id AS u2, count(*) AS n_overlaps,
         |  CAST(sum(least(a.hi, b.hi) - greatest(a.lo, b.lo)) AS BIGINT) AS overlap_us
         |FROM d a JOIN d b
         |  ON a.user_id < b.user_id AND a.lo <= b.hi AND b.lo <= a.hi
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "events_slo_burn" -> {
      val hourUs = 3600L * 1000000
      def burn(w: String) = round4Sql(
        s"(CAST(sum(err) OVER $w AS DOUBLE) / CAST(count(*) OVER $w AS DOUBLE)) / 0.2")
      s"""WITH e AS (
         |  SELECT event_id, user_id, epoch_us(ts) AS tsu,
         |    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS err
         |  FROM events)
         |SELECT event_id, user_id,
         |  ${burn("w1")} AS burn_1h, ${burn("w6")} AS burn_6h,
         |  CAST(CASE WHEN ${burn("w1")} > 1.5 AND ${burn("w6")} > 1.2
         |    THEN 1 ELSE 0 END AS BIGINT) AS page
         |FROM e WINDOW
         |  w1 AS (PARTITION BY user_id ORDER BY tsu
         |    RANGE BETWEEN $hourUs PRECEDING AND CURRENT ROW),
         |  w6 AS (PARTITION BY user_id ORDER BY tsu
         |    RANGE BETWEEN ${6 * hourUs} PRECEDING AND CURRENT ROW)
         |ORDER BY event_id""".stripMargin
    })
}
