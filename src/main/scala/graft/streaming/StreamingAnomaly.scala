package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.{GraftConfig, GraftSession}
import graft.operators.TimeSeriesOps
import graft.operators.TimeSeriesOps.{BucketState, BurstState, CrostonState, CusumState,
  EwmaState, GarchState, HawkesState, HoltState, HwState, HystState, KalmanState}

/** A single event of the keyed time series (the streaming face of the
  * `events` table: `user_id` = series key, `ts` = event time, `value` =
  * metric — SURVEY.md §3).
  */
case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                 event_type: String, value: Double)

/** Rolling-zscore output. `z` is None during warm-up (< 2 trailing values)
  * or when the trailing stddev is 0 — same contract as the batch
  * `Anomaly.rollingZscore` (null z, flag 0).
  */
case class ScoredEvent(event_id: Long, ts: Timestamp, user_id: Long,
                       value: Double, z: Option[Double], is_anomaly: Long)

/** Per-series trailing buffer, oldest first, at most `win` values, and
  * the z its last event was scored with (None during warm-up or at a
  * zero trailing stddev).
  */
case class SeriesState(recent: Seq[Double], z: Option[Double])

/** A detector-flagged event entering episode grouping. */
case class FlaggedEvent(event_id: Long, ts: Timestamp, user_id: Long, flag: Long)

/** Per-row Kalman output (streaming twin of TimeSeriesOps.kalmanPath). */
case class KalmanEvent(event_id: Long, user_id: Long, estimate: Double, gain: Double)

/** Per-row Holt output (streaming twin of TimeSeriesOps.holtPath). */
case class HoltEvent(event_id: Long, user_id: Long, level: Double, trend: Double)

/** A pre-differenced return sample (the GARCH observable). In production
  * the differencing is its own tiny stateful stage (one previous value per
  * key) or an upstream join; here it rides on the sample so the volatility
  * fold below is exactly the batch garchPath recurrence.
  */
case class RetSample(event_id: Long, ts: Timestamp, user_id: Long, ret: Double)

/** Per-row GARCH output: the conditional variance BEFORE rounding (the
  * entry derives vol = sqrt(sigma2) and z = ret/vol, as the batch twin
  * does).
  */
case class GarchEvent(event_id: Long, user_id: Long, ret: Double, sigma2: Double)

/** One observation of a pre-bucketed seasonal series (the Holt-Winters
  * input grain — e.g. a daily mean from an upstream windowed aggregation).
  */
case class DaySample(user_id: Long, day: Long, m: Double)

/** Per-row Holt-Winters output (streaming twin of
  * TimeSeriesOps.holtWinters): fitted is None on each series' first row,
  * exactly like the batch fold.
  */
case class HwEvent(user_id: Long, day: Long, m: Double, fitted: Option[Double],
                   level: Double, trend: Double, seasonal: Double)

/** One bucketed intermittent-demand observation (the Croston input grain
  * — hourly purchase demand from an upstream windowed aggregation). `ts`
  * is the bucket start, the event-time anchor for the emit-once close.
  */
case class DemandSample(user_id: Long, ts: Timestamp, bucket: Long, q: Double)

/** Terminal Croston summary per series (raw smoothers; the entry derives
  * the rounded level/interval/forecast like the batch twin).
  */
case class CrostonOut(user_id: Long, n_demands: Long, z: Double, p: Double)

/** One daily-grid sample entering the streaming Kleinberg burst fold:
  * the two pre-quantized Poisson emission costs (computed at ingest by
  * the same round6 expressions as the batch prep — the streaming
  * holt_winters daily-grid precedent). Options mirror the batch fold's
  * null passthrough rows.
  */
case class BurstSample(event_type: String, day: Long,
                       e0: Option[Double], e1: Option[Double])

/** Per-row burst-automaton output: the two Viterbi path costs and the
  * burst flag (c1 < c0), nulls passed through like the batch fold.
  */
case class BurstEvent(event_type: String, day: Long, c0: Option[Double],
                      c1: Option[Double], in_burst: Option[Long])

/** One event entering the streaming Hawkes excitation fold: the
  * pre-quantized inter-event decay e^(−β·Δt) rides on the row (computed
  * at ingest; None on a series' first arrival, where lag has no prior).
  */
case class HawkesSample(event_id: Long, user_id: Long, tsu: Long,
                        decay: Option[Double])

/** Per-row Hawkes output: the exponentially-decayed prior-event count
  * as seen at this arrival (the entry derives λ = μ + α·A like the
  * batch twin).
  */
case class HawkesEvent(event_id: Long, user_id: Long, excitation: Double)

/** One routed ANN query probe entering the streaming vector search: the
  * query embedding + its L2 norm (computed once at ingest by the same
  * codegen expression as the static index build) and ONE probe cell
  * selected by the centroid router (the broadcast-model map a production
  * query router runs; IvfProbes rows per query).
  */
case class AnnQuery(q_id: Long, ts: Timestamp, emb: Seq[Float], nrm: Double, cell: Int)

/** One scored ANN candidate (post stream-static cell join). */
case class AnnCand(q_id: Long, ts: Timestamp, n_id: Long, score: Double)

/** One emitted ANN hit: rank within the query's terminal top-k. */
case class AnnHit(q_id: Long, rk: Long, n_id: Long, score: Double)

/** Per-row drawdown output (streaming twin of the ts_drawdown window):
  * the raw running high + the row's value; the entry derives the rounded
  * drawdown and the new-high flag exactly like the batch twin.
  */
case class DdEvent(event_id: Long, user_id: Long, value: Double, run_max: Double)

/** Drawdown state: ONE double per key (the running high). */
case class DdState(runMax: Double)

/** Per-row Page-Hinkley output (streaming twin of StatsOps.pageHinkley):
  * `ph` is the RAW double cast of the DECIMAL cumulative deviation sum
  * (the entry rounds to 4dp like the batch twin); `is_drift` the
  * λ-above-running-min alarm.
  */
case class PhEvent(event_id: Long, user_id: Long, ph: Double, is_drift: Long)

/** Page-Hinkley state: observation count, the two DECIMAL(·,6) running
  * sums (raw values and 6dp deviation terms) carried as plain-string
  * BigDecimals — exact at any magnitude, stable through the state-store
  * encoder round-trip — plus the running min of the double-cast PH path.
  * O(1) per key (the strings grow with log10 of the sum, not with rows).
  */
case class PhState(n: Long, sum6: String, phSum6: String, phMin: Double) {
  /** The double cast of the PH sum (the path value the alarm compares). */
  def ph: Double = new java.math.BigDecimal(phSum6).doubleValue()
}

/** One pre-scored sample entering the streaming hysteresis alarm: `za`
  * is the batch entry's 4dp |z| — in production scored by a stream-static
  * join against the OFFLINE baseline (the streaming_seasonal_score
  * pattern); the replay computes it batch-side so the fold sees
  * identical inputs.
  */
case class ZaSample(event_id: Long, ts: Timestamp, user_id: Long, za: Double)

/** Per-row hysteresis output (streaming twin of TimeSeriesOps.hysteresis). */
case class HystEvent(event_id: Long, user_id: Long, za: Double, in_alert: Long)

/** SPRT fold state: click count (= the batch idx), the DECIMAL(·,6)
  * running LLR (plain-string BigDecimal, the PhState convention), and
  * the first boundary-crossing indices — O(1) per key.
  */
case class SprtState(n: Long, llr6: String, upAt: Option[Long], loAt: Option[Long])

/** Terminal SPRT summary per series (raw final LLR; the entry rounds). */
case class SprtOut(user_id: Long, n_obs: Long, llr: Double,
                   decision: String, decision_at: Option[Long])

/** Per-row recursive-EWMA output (streaming twin of
  * TimeSeriesOps.ewmaRecursive).
  */
case class EwmaEvent(event_id: Long, user_id: Long, value: Double, ewma: Double)

/** A sample with its per-series control parameters (mean + slack),
  * entering the streaming CUSUM chart.
  */
case class ControlSample(event_id: Long, ts: Timestamp, user_id: Long,
                         value: Double, target_mean: Double, slack: Double)

/** Per-row CUSUM output (streaming twin of TimeSeriesOps.cusumReset). */
case class CusumEvent(event_id: Long, user_id: Long, cusum_hi: Double)

/** Per-row admission decision (streaming twin of TimeSeriesOps.tokenBucket). */
case class RateLimitEvent(event_id: Long, user_id: Long, tokens: Double, admitted: Long)

/** One closed alert episode (run of consecutive flagged events). */
case class Episode(user_id: Long, n_events: Long, start_us: Long, end_us: Long)

/** Open-episode state: count + span of the current flagged run. */
case class EpisodeState(n: Long, startUs: Long, endUs: Long)

/** State wrapper shared by the emit-once sketch folds
  * ([[StreamingAnomaly.emitOnceFold]]): the mergeable sketch payload plus
  * the cross-batch max event time (the timeout anchor) and the
  * post-emission tombstone flag (payload None once emitted).
  */
case class EmitOnceState[S](payload: Option[S], maxSeenUs: Long,
                            emitted: Boolean = false)

/** One emitted percentile estimate of the streaming quantile sketch. */
case class QskEstimate(event_type: String, p: Double, pct_est: Double,
                       k_eff: Long)

/** A keyed event WITHOUT the value column — the replay row for sketches
  * over identity streams (HLL distinct, CMS frequency), where forcing the
  * nullable `value` through a primitive Double would drop rows the batch
  * twin counts.
  */
case class KeyEvent(event_id: Long, ts: Timestamp, user_id: Long,
                    event_type: String)

/** One finalized HLL register (streaming emission; ≤ m per key). */
case class HllRegister(event_type: String, bucket: Long, r: Long)

/** One finalized count-min counter (streaming emission; ≤ w per row). */
case class CmsCounter(r: Int, b: Long, cnt: Long)

/** One finalized KMV sketch hash (bottom-k distinct hashes per key). */
case class KmvHash(event_type: String, h: Long)

/** One finalized DDSketch log-bucket count per key. */
case class DdBucket(event_type: String, b: Long, cnt: Long)

/** An order arriving on the stream (replay row of the streaming top-k
  * fold; `ts` = order date as event time).
  */
case class OrderRow(o_orderkey: Long, ts: Timestamp, o_custkey: Long,
                    price: Double)

/** One emitted top-k member: rank `rk` (1-based, score desc / id asc). */
case class TopOrder(o_custkey: Long, rk: Long, o_orderkey: Long, price: Double)

/** Structured Streaming face of the anomaly pipeline (SURVEY.md §2.12).
  *
  * The reference scores a static frame in RAM (main.py:183-233); the
  * streaming re-expression keeps the same per-series semantics but runs
  * continuously: events partition by `user_id` across executors, window
  * aggregations carry watermark-bounded state, and the z-score detector
  * carries O(win) doubles per key — both shapes hold at 100 TB/day because
  * state never grows with history, only with |keys| x win.
  */
object StreamingAnomaly {

  /** Hard bound on a [[replayToSink]] feed (rows). See the require in
    * replayToSink for the contract; sized to clear every committed sf
    * and the sf1eq scaling decade with an order of magnitude to spare.
    */
  val ReplayCap: Int = 2000000

  /** Watermarked tumbling-window event aggregation — the streaming twin of
    * the batch `ts_event_counts` query. Append-mode: a window row is
    * emitted exactly once, when the watermark passes its end.
    */
  def windowedCounts(events: DataFrame, watermarkDelay: String = "1 hour",
                     windowLen: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      // DECIMAL accumulation, double at output: the running sum is
      // order-independent, so the emitted row is identical under any
      // arrival/merge order — and hash-comparable to a batch oracle.
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** HOPPING-window variant of [[windowedCounts]]: each event lands in
    * len/slide overlapping windows (Spark's window TVF with a slide);
    * state per open window is the same O(1) decimal partial, and a
    * window still emits exactly once when the watermark passes its end.
    */
  def hoppingCounts(events: DataFrame, watermarkDelay: String = "1 hour",
                    windowLen: String = "1 hour",
                    slide: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Streaming M4 downsampling: per (key, tumbling window) keep
    * first/last/min/max of the value — the live-dashboard twin of the
    * batch `TimeSeriesOps.m4Downsample`. first/last come from
    * min_by/max_by on the (ts, event_id) struct, which is deterministic
    * under any arrival order (the batch twin's window-sort tiebreak,
    * expressed as an aggregate so streaming state stays O(1) per open
    * window). Append mode: a bucket emits once, when the watermark
    * passes its end.
    */
  def m4Windows(events: DataFrame, watermarkDelay: String = "1 hour",
                windowLen: String = "6 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen).as("w"), col("user_id"))
      .agg(
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("v_first"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("v_last"),
        min(col("value")).as("v_min"),
        max(col("value")).as("v_max"),
        count(col("value")).as("n"))
      .select(col("w.start").as("bucket_start"), col("user_id"),
        col("v_first"), col("v_last"), col("v_min"), col("v_max"), col("n"))

  /** Streaming sessionization with Spark's native session_window: a
    * session extends while events keep arriving within `gap`; the window
    * closes (and emits, in append mode) once the watermark passes
    * last-event-time + gap. State per key is one open session — the
    * streaming twin of the batch `TimeSeriesOps.sessionize`.
    */
  def sessionAggregates(events: DataFrame, gap: String = "30 minutes",
                        watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      // DECIMAL accumulation for the same arrival-order-proof emission
      // contract as [[windowedCounts]].
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("sum_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("sum_value"))

  /** Replay harness behind the `streaming_*` driver entries: feed `rows`
    * through `xform` via a MemoryStream into a memory sink and return the
    * emitted rows as a batch DataFrame. When `punctuationUs` is set, one
    * far-future marker event (event_id −1, its own key) is appended after
    * the data so the watermark passes every real window/session end and
    * append mode emits them; the marker's own group stays open and never
    * reaches the output. Driver-collected input BY DESIGN — this is the
    * determinism harness for the oracle gate; production ingest is a
    * file/Kafka readStream over the identical operators.
    */
  def replayToSink[A: org.apache.spark.sql.Encoder](
      spark: org.apache.spark.sql.SparkSession, rows: Seq[A],
      queryName: String, punctuation: Option[A])
      (xform: Dataset[A] => DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // Enforced harness contract (the streaming_ann_topk AnnStreamQueryIdCap
    // precedent, generalized): every replay twin's driver-collected feed
    // must stay bounded — above this a caller is replaying a
    // corpus-proportional table through the driver, which is exactly the
    // shape that breaks first at 100 TB. The cap clears every committed
    // sf (sf0.1 events = 100k rows) AND the 10x sf1eq decade (~1M), so
    // no committed hash moves; production ingest of unbounded volume is
    // a file/Kafka readStream over the identical fold operators.
    require(rows.length <= ReplayCap,
      s"replayToSink feed has ${rows.length} rows > ReplayCap=$ReplayCap — " +
        "replay twins are a bounded determinism harness; use readStream " +
        "for corpus-scale ingest")
    val ms = MemoryStream[A](spark)
    sinkAndDrain(spark, queryName, xform(ms.toDS())) { q =>
      // Data and punctuation enqueued BEFORE one drain (r16 optimization):
      // MemoryStream serves every pending block in a single micro-batch,
      // so the replay runs 2 batches (data+marker, then the
      // watermark-advance emission batch) instead of 4. Emitted rows are
      // identical: all data rows already arrived in one batch before, the
      // marker is its own key so no fold state changes, and the final
      // watermark — which decides every append-mode emission and
      // EventTimeTimeout — is the same max-event-time-minus-delay either
      // way; processAllAvailable still drains the trailing emission batch
      // (stateful operators request one more batch when the watermark
      // advances).
      ms.addData(rows)
      punctuation.foreach(p => ms.addData(Seq(p)))
      q.processAllAvailable()
    }
  }

  /** The shared memory-sink lifecycle under [[replayToSink]], exposed for
    * replays that need a non-single-stream feed (the two-source interval
    * join): drop any stale sink view, start `out` into a memory sink
    * named `queryName` with a self-cleaning checkpoint, run `feed`, stop,
    * return the sink table.
    */
  def sinkAndDrain(spark: org.apache.spark.sql.SparkSession, queryName: String,
                   out: DataFrame)(feed: StreamingQuery => Unit): DataFrame = {
    spark.catalog.dropTempView(queryName)
    // State partition count is a per-STREAM sizing decision, not the
    // session's batch shuffle width: every stateful operator materializes
    // one state-store instance per shuffle partition and commits a delta
    // file for each per micro-batch, so a replay over a bounded feed at
    // the session's 32 pays 32x state-commit IO for no parallelism gain
    // (the stores are KB-sized). 8 keeps multi-core scan/sort parallelism
    // while quartering the fixed state overhead; at production volume the
    // same knob is sized UP to keys x state-bytes / executor-memory. The
    // first micro-batch pins the width into the checkpoint, so restoring
    // the session conf after the scope cannot re-plan a running stream.
    GraftSession.withConf(spark, "spark.sql.shuffle.partitions" -> "8") {
      val q = out.writeStream.format("memory").queryName(queryName)
        .outputMode(OutputMode.Append)
        .option("checkpointLocation", replayTempDir("graft-replay-ckpt")).start()
      try feed(q) finally q.stop()
    }
    spark.table(queryName)
  }

  /** Temp directory deleted recursively at JVM exit — replay checkpoint
    * and sink-output dirs would otherwise accumulate in /tmp across
    * bench repetitions and driver rounds.
    */
  def replayTempDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(p.toFile)
    }
    p.toString
  }

  /** Epoch microseconds of a Timestamp — the batch operators' epochUs and
    * the folds' ordering key. Sorting on this (NOT getTime, which
    * truncates to milliseconds) keeps sub-millisecond ties ordered exactly
    * like the batch (ts, event_id) window sort. Replay entries also derive
    * their punctuation point from it on the already-collected feed instead
    * of re-scanning the table for max(ts).
    */
  def tsUs(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** The far-future marker event used by watermark-bounded replays: its
    * own id/key, so its open window/session never reaches the output.
    */
  def punctuationEvent(atUs: Long): Event =
    Event(-1L, new Timestamp(atUs / 1000L), -1L, "__punctuation__", 0.0)

  /** [[punctuationEvent]] for [[KeyEvent]] replays (the value-less
    * identity-stream sketches).
    */
  def punctuationKeyEvent(atUs: Long): KeyEvent =
    KeyEvent(-1L, new Timestamp(atUs / 1000L), -1L, "__punctuation__")

  /** Watermarked stream-stream INTERVAL join: each left event picks up
    * right-stream rows of the same key whose event time falls in
    * [left.ts - lookback, left.ts]. Both sides are watermarked and the
    * time-range predicate bounds the join state: a buffered right row can
    * be dropped once the watermark passes its time + lookback — without
    * the interval condition the state store would grow forever. This is
    * the streaming face of the batch as-of/enrichment join.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   key: String = "user_id", lookback: String = "1 hour",
                   watermarkDelay: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", watermarkDelay).as("l")
    val r = right
      .withColumnRenamed("ts", "r_ts")
      .withColumn("r_value", col("value")).drop("value")
      .withWatermark("r_ts", watermarkDelay).as("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col("r_ts") >= col("ts") - expr(s"INTERVAL $lookback") &&
        col("r_ts") <= col("ts"))
      .select(col("l.event_id").as("event_id"), col(s"l.$key").as(key),
        col("ts"), col("r.event_id").as("matched_id"), col("r_ts"), col("r_value"))
  }

  /** Streaming exact deduplication on event id: state holds ids only
    * within the watermark horizon (dropDuplicatesWithinWatermark), so
    * state size is bounded by the id arrival rate x the delay — the only
    * dedup shape that survives an unbounded stream.
    */
  def dedupEvents(events: DataFrame, watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming alert episodes: run-length-group consecutive flagged
    * events per series into one row per episode (the streaming twin of
    * the batch `Anomaly.alertEpisodes`). State per key is ONE open
    * episode (count + span); an episode emits when the run breaks — a
    * non-flagged event of the same series arrives. Run-length semantics
    * close on data, not time, so there is no watermark.
    *
    * Divergence from batch, by design: on a FINITE replay the batch
    * operator emits a trailing still-flagged run as a group (it sees the
    * whole table), while this operator holds it open awaiting more data
    * — on an unbounded stream "the series ended" is unknowable. To drain
    * open episodes at end-of-stream, feed one flag-0 sentinel per key
    * (as the equivalence spec does) or add a timeout policy.
    */
  def alertEpisodes(flagged: Dataset[FlaggedEvent]): Dataset[Episode] = {
    import flagged.sparkSession.implicits._
    flagged
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, it: Iterator[FlaggedEvent], state: GroupState[EpisodeState]) =>
          var open = state.getOption
          val out = scala.collection.mutable.ArrayBuffer[Episode]()
          it.toIndexedSeq.sortBy(e => (tsUs(e.ts), e.event_id)).foreach { e =>
            val t = tsUs(e.ts)
            if (e.flag == 1L) {
              // min/max span: a flagged event arriving LATE across
              // micro-batches joins the open episode without regressing
              // its span (documented streaming relaxation — exact
              // event-time runs would need watermark-buffered state).
              open = Some(open.fold(EpisodeState(1L, t, t))(s =>
                EpisodeState(s.n + 1, math.min(s.startUs, t), math.max(s.endUs, t))))
            } else {
              open.foreach(s => out += Episode(key, s.n, s.startUs, s.endUs))
              open = None
            }
          }
          open match {
            case Some(s) => state.update(s)
            case None    => state.remove()
          }
          out.iterator
      }
  }

  /** Idempotent micro-batch write — the unit the exactly-once sink replays
    * safely: rows land under `batch_id=N` via DYNAMIC partition overwrite,
    * so re-running a batch (restart between sink write and checkpoint
    * commit — the window where Structured Streaming's at-least-once
    * foreachBatch delivers a batch twice) rewrites ONLY its own partition
    * with the same rows. Other partitions are untouched; the table never
    * holds duplicates. This is the standard batch-id-keyed upsert that
    * turns foreachBatch's at-least-once into end-to-end exactly-once for
    * any sink with atomic partition replace.
    */
  def writeBatchIdempotent(batch: Dataset[Row], outPath: String, batchId: Long): Unit = {
    // batch_id is the sink's reserved partition column; silently
    // overwriting a caller's domain column of the same name would
    // persist corrupted data with the original values unrecoverable.
    require(!batch.columns.contains("batch_id"),
      "exactly-once sink: input already has a batch_id column (reserved for the sink's partition key); rename it first")
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outPath)
  }

  /** Exactly-once parquet sink for any append-mode streaming frame:
    * checkpointed offsets + [[writeBatchIdempotent]] per micro-batch.
    * Kill/restart from the same checkpoint resumes at the committed
    * offset and any replayed batch overwrites itself — StreamingSpec
    * restarts a query mid-stream and asserts zero duplicate rows.
    */
  def exactlyOnceParquetSink(df: DataFrame, outPath: String,
                             checkpointPath: String): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        writeBatchIdempotent(batch, outPath, batchId)
      }
      .start()

  /** The keyed per-row state-fold under the streaming twins: group `in`
    * by `key`, sort each micro-batch's rows of a key by `order`, and run
    * `step` over them from the key's stored state (null for a key not
    * seen yet); `emit` reads each row's output off the new state. The
    * state is saved after every batch that advanced it.
    */
  private def keyedFold[K: Encoder, I, T: Ordering, S <: AnyRef : Encoder, O: Encoder](
      in: Dataset[I])(key: I => K, order: I => T)(step: (S, I) => S)(
      emit: (I, S) => O): Dataset[O] =
    in.groupByKey(key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: K, it: Iterator[I], state: GroupState[S]) =>
          var st = state.getOption.getOrElse(null.asInstanceOf[S])
          val out = it.toIndexedSeq.sortBy(order).map { e => st = step(st, e); emit(e, st) }
          if (st != null) state.update(st)
          out.iterator
      }

  /** (event-time, event_id): the batch folds' in-series order. */
  private def eventOrder(e: Event): (Long, Long) = (tsUs(e.ts), e.event_id)

  /** Streaming 1-D Kalman filter (local-level model) — the streaming twin
    * of `TimeSeriesOps.kalmanPath`, carrying O(1) state per key (the
    * whole point of Kalman over windowed smoothers: no buffer). It runs
    * the batch fold's own step (`TimeSeriesOps.kalmanStep`) in the same
    * (event-time, event_id) in-batch order, so a single-batch replay
    * equals the batch fold bit-for-bit; late data across batches folds in
    * arrival order (same documented relaxation as [[rollingZscore]]).
    */
  def kalman(events: Dataset[Event], q: Double, r: Double): Dataset[KalmanEvent] = {
    import events.sparkSession.implicits._
    val step = TimeSeriesOps.kalmanStep(q, r)
    keyedFold(events)(_.user_id, eventOrder)((st: KalmanState, e) => step(st, e.value))(
      (e, st) => KalmanEvent(e.event_id, e.user_id, st.est, st.gain))
  }

  /** Streaming RECURSIVE EWMA — the streaming twin of
    * `TimeSeriesOps.ewmaRecursive` (pandas ewm(adjust=True), position-
    * aged weights) over non-null samples: num' = num·(1−α) + x,
    * den' = den·(1−α) + 1, ewma = num/den — TWO doubles of state per
    * key, the canonical infinite-horizon smoother that a window
    * expression cannot carry. Nulls never reach this operator
    * (Event.value is primitive; the batch twin's null-aging branch
    * lives upstream of any stream). Same shared step and in-batch
    * ordering contract as [[kalman]].
    */
  def ewmaRecursive(events: Dataset[Event], alpha: Double): Dataset[EwmaEvent] = {
    import events.sparkSession.implicits._
    val step = TimeSeriesOps.ewmaStep(alpha)
    keyedFold(events)(_.user_id, eventOrder)((st: EwmaState, e) => step(st, Some(e.value)))(
      (e, st) => EwmaEvent(e.event_id, e.user_id, e.value, st.num / st.den))
  }

  /** Streaming Holt linear-trend smoothing — the streaming twin of
    * `TimeSeriesOps.holtPath`, the forecasting fold a live monitoring
    * deployment actually runs: TWO doubles of state per key (level +
    * trend), per-row smoothed state out. Same shared step and in-batch
    * ordering contract as [[kalman]], so a single-batch replay equals the
    * batch keyed fold bit-for-bit and shares its recursive-CTE oracle
    * verbatim. Nulls never reach this operator (Event.value is
    * primitive; the entry filters upstream, like [[ewmaRecursive]]).
    */
  def holt(events: Dataset[Event], alpha: Double, gamma: Double): Dataset[HoltEvent] = {
    import events.sparkSession.implicits._
    val step = TimeSeriesOps.holtStep(alpha, gamma)
    keyedFold(events)(_.user_id, eventOrder)((st: HoltState, e) => step(st, e.value))(
      (e, st) => HoltEvent(e.event_id, e.user_id, st.level, st.trend))
  }

  /** Streaming GARCH(1,1) conditional variance — the streaming twin of
    * `TimeSeriesOps.garchPath` over pre-differenced returns: σ²' = ω +
    * α·r²_prev + β·σ², initialized at the unconditional level
    * ω/(1−α−β). TWO doubles of state per key; same shared step and
    * in-batch (event-time, event_id) ordering contract as [[kalman]].
    */
  def garch(rets: Dataset[RetSample], omega: Double, alpha: Double,
            beta: Double): Dataset[GarchEvent] = {
    import rets.sparkSession.implicits._
    val step = TimeSeriesOps.garchStep(omega, alpha, beta)
    keyedFold(rets)(_.user_id, e => (tsUs(e.ts), e.event_id))(
      (st: GarchState, e) => step(st, e.ret))(
      (e, st) => GarchEvent(e.event_id, e.user_id, e.ret, st.s2))
  }

  /** Streaming additive Holt-Winters — the streaming twin of
    * `TimeSeriesOps.holtWinters` over a pre-bucketed seasonal grid
    * (daily means from an upstream windowed aggregation): level + trend
    * + an m-slot seasonal vector advanced one slot per observation,
    * O(period) state per key. The batch fold's step (init l = x₁, b = 0,
    * s = 0⃗, fitted None on row 1, slot (cnt−1) mod m); in-batch
    * ordering is by the bucket column (the series' event-time grain), so
    * a single-batch replay equals the batch keyed fold bit-for-bit and
    * shares its recursive-CTE oracle.
    */
  def holtWinters(days: Dataset[DaySample], period: Int, alpha: Double,
                  beta: Double, gamma: Double): Dataset[HwEvent] =
    hwFold(days, TimeSeriesOps.holtWintersStep(period, alpha, beta, gamma))

  /** Streaming MULTIPLICATIVE Holt-Winters — the streaming twin of
    * `TimeSeriesOps.holtWintersMult` over the same pre-bucketed daily
    * grid as [[holtWinters]]: seasonals start at 1, level updates on
    * x/s, seasonal on x/l'. The batch fold's step, so a single-batch
    * replay equals the batch keyed fold bit-for-bit and shares its
    * recursive-CTE oracle verbatim. O(period) state per key.
    */
  def holtWintersMult(days: Dataset[DaySample], period: Int, alpha: Double,
                      beta: Double, gamma: Double): Dataset[HwEvent] =
    hwFold(days, TimeSeriesOps.holtWintersMultStep(period, alpha, beta, gamma))

  private def hwFold(days: Dataset[DaySample],
                     step: (HwState, Double) => HwState): Dataset[HwEvent] = {
    import days.sparkSession.implicits._
    keyedFold(days)(_.user_id, _.day)((st: HwState, e) => step(st, e.m))(
      (e, st) => HwEvent(e.user_id, e.day, e.m, st.fitted, st.level, st.trend, st.seasonal))
  }

  /** Streaming Kleinberg burst automaton — the streaming twin of
    * `TimeSeriesOps.burstPath` over a pre-bucketed daily grid with the
    * two Poisson emission costs computed at ingest (the [[holtWinters]]
    * daily-grid precedent): c0' = min(c0, c1) + e0, c1' = min(c0 + γ,
    * c1) + e1, burst iff c1 < c0. TWO doubles of state per key; the
    * batch fold's step, null emissions passed through WITHOUT advancing
    * state exactly like the batch scan — a single-batch replay equals
    * it bit-for-bit and shares its recursive-CTE oracle verbatim.
    */
  def burstViterbi(samples: Dataset[BurstSample],
                   gamma: Double): Dataset[BurstEvent] = {
    import samples.sparkSession.implicits._
    val step = TimeSeriesOps.burstStep(gamma)
    keyedFold(samples)(_.event_type, _.day)((st: BurstState, e) =>
      (e.e0, e.e1) match {
        case (Some(e0), Some(e1)) => step(st, e0, e1)
        case _                    => st
      })((e, st) =>
      if (e.e0.isEmpty || e.e1.isEmpty) BurstEvent(e.event_type, e.day, None, None, None)
      else BurstEvent(e.event_type, e.day, Some(st.c0), Some(st.c1), Some(st.inBurst)))
  }

  /** Streaming Hawkes excitation — the streaming twin of
    * `TimeSeriesOps.hawkesPath`: A₁ = 0, Aₖ = dₖ·(Aₖ₋₁ + 1) with the
    * pre-quantized decay dₖ riding on each row (the transcendental
    * stays OUTSIDE the fold, as in the batch path). ONE double of
    * state per key; a null decay advances nothing (the batch step's
    * first-row/no-Δt rule), in-batch ordering by (tsu, event_id) — a
    * single-batch replay equals the batch fold bit-for-bit and shares
    * its recursive-CTE oracle verbatim.
    */
  def hawkes(samples: Dataset[HawkesSample]): Dataset[HawkesEvent] = {
    import samples.sparkSession.implicits._
    keyedFold(samples)(_.user_id, e => (e.tsu, e.event_id))(
      (st: HawkesState, e) => TimeSeriesOps.hawkesStep(st, e.decay))(
      (e, st) => HawkesEvent(e.event_id, e.user_id, st.a))
  }

  /** Streaming SPC CUSUM with reset — the streaming twin of
    * `TimeSeriesOps.cusumReset`: s' = max(0, s + (x − mean − slack)),
    * ONE double of state per key. The per-series control parameters
    * (mean, slack) ride on each sample — in production they come from a
    * slowly-refreshed reference join upstream of this operator. Same
    * shared step and in-batch ordering contract as [[kalman]].
    */
  def cusumReset(samples: Dataset[ControlSample]): Dataset[CusumEvent] = {
    import samples.sparkSession.implicits._
    keyedFold(samples)(_.user_id, e => (tsUs(e.ts), e.event_id))(
      (st: CusumState, e) => TimeSeriesOps.cusumStep(st, e.value, e.target_mean, e.slack))(
      (e, st) => CusumEvent(e.event_id, e.user_id, st.s))
  }

  /** Streaming token-bucket rate limiter — the continuous face of
    * `TimeSeriesOps.tokenBucket`: refill min(cap, tokens + rate·Δt),
    * admit iff >= 1 (consuming one); the bucket starts FULL at a key's
    * first-ever event. O(1) state per key. The batch fold's step (and
    * its capacity check), so a single-batch replay reproduces it with
    * exact double equality (like kalman / cusumReset).
    */
  def tokenBucket(events: Dataset[Event], capacity: Double,
                  refillPerSec: Double): Dataset[RateLimitEvent] = {
    import events.sparkSession.implicits._
    val step = TimeSeriesOps.tokenBucketStep(capacity, refillPerSec)
    keyedFold(events)(_.user_id, eventOrder)((st: BucketState, e) => step(st, tsUs(e.ts)))(
      (e, st) => RateLimitEvent(e.event_id, e.user_id, st.tokens, st.admitted))
  }

  /** Stateful trailing-window z-score per series key: each event is scored
    * against the mean/sample-stddev of the previous `win` values of its
    * series (shift-1 semantics, exactly the batch `Anomaly.rollingZscore`).
    *
    * Events are ordered by event time within each micro-batch; late data
    * across batches scores against the state as of arrival (documented
    * streaming relaxation — exact event-time order would need
    * watermark-buffered state).
    */
  def rollingZscore(events: Dataset[Event],
                    win: Int = GraftConfig.SequenceLength,
                    threshold: Double = GraftConfig.AnomalyThreshold): Dataset[ScoredEvent] = {
    import events.sparkSession.implicits._
    // Same (ts-in-microseconds, event_id) order as the batch operators,
    // so a single-batch replay scores identically.
    keyedFold(events)(_.user_id, eventOrder) { (st: SeriesState, e) =>
      val buf = if (st == null) Vector.empty[Double] else st.recent
      val n = buf.length
      // Raw moments through the same DECIMAL(18,6) quantization as the
      // batch exactSum (CleanFunctions.dec6): the trailing-buffer sums
      // are order-independent and bit-match a SQL decimal window sum, so
      // a replay of this fold is exact-hash comparable to a momentStd
      // oracle — same clamp, same nulls.
      val z =
        if (n < 2) None
        else {
          import graft.functions.CleanFunctions.dec6
          val sx = buf.foldLeft(java.math.BigDecimal.ZERO)(
            (a, v) => a.add(dec6(v))).doubleValue
          val sxx = buf.foldLeft(java.math.BigDecimal.ZERO)(
            (a, v) => a.add(dec6(v * v))).doubleValue
          val mu = sx / n
          val sd = math.sqrt(
            math.max((sxx - sx * sx / n) / (n - 1.0), 0.0))
          if (sd == 0.0) None else Some((e.value - mu) / sd)
        }
      SeriesState((buf :+ e.value).takeRight(win), z)
    } { (e, st) =>
      ScoredEvent(e.event_id, e.ts, e.user_id, e.value, st.z,
        if (st.z.exists(z => math.abs(z) > threshold)) 1L else 0L)
    }
  }

  /** Streaming mergeable bottom-k quantile sketch per event type with
    * EVENT-TIME-TIMEOUT final emission — the streaming face of the batch
    * `events_quantile_sketch`. Every arriving row offers its
    * md5-derived sample hash; the state keeps only the k smallest
    * (hash, event_id, value) triples (constant size per key at any
    * volume, mergeable across arrival orders by construction), and the
    * percentile estimates are emitted ONCE per key, when the watermark
    * passes the key's timeout — the first §2.12 operator whose output is
    * a terminal state summary rather than per-row/per-window rows, i.e.
    * the GroupStateTimeout.EventTimeTimeout mechanism itself. The hash
    * column is computed by the SAME Catalyst expression as the batch
    * twin (no JVM md5 replica to drift), and the rank-interpolation +
    * round4Jvm arithmetic bit-matches the rankPercentiles oracle.
    */
  def bottomKQuantiles(events: DataFrame, k: Int, ps: Seq[Double],
                       watermarkDelay: String = "1 hour"): Dataset[QskEstimate] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit}
    val withH = events
      .withWatermark("ts", watermarkDelay)
      .select(col("event_type"), col("event_id"), col("value"), col("ts"),
        graft.functions.CleanFunctions.md5Hash64(
          concat(lit("qsk:"), col("event_id"))).as("h"))
      .as[(String, Long, Double, Timestamp, Long)]
    emitOnceFold[String, (String, Long, Double, Timestamp, Long),
                 Seq[(Long, Long, Double)], QskEstimate](
      withH.groupByKey(_._1), r => tsUs(r._4))(
      // NO dedup across state ++ incoming: delivery inside a
      // checkpointed query is exactly-once per row, so repeats are
      // GENUINE duplicate rows — the batch twin's row_number sample
      // keeps them too, and a .distinct here would silently diverge
      // from the oracle on duplicate-PK input.
      (prev, incoming) =>
        (prev.getOrElse(Nil) ++ incoming.map(r => (r._5, r._2, r._3)))
          .sortBy(t => (t._1, t._2)).take(k))(
      (key, items) => {
        val vs = items.map(_._3).sorted.toIndexedSeq
        val n = vs.length
        ps.iterator.map { p =>
          // The rankPercentiles interpolation verbatim: h=(n−1)p,
          // linear between the lo/hi order statistics, 4dp-rounded.
          val h = (n - 1).toDouble * p
          val lo = math.floor(h)
          val vlo = vs(lo.toInt)
          val vhi = vs(math.ceil(h).toInt)
          QskEstimate(key, p,
            graft.functions.CleanFunctions.round4Jvm(
              vlo + (h - lo) * (vhi - vlo)), n.toLong)
        }
      })
  }

  /** Streaming HLL register build per event type — the streaming face of
    * the batch `events_hll_distinct` sketch side. State is ONE register
    * (the max ρ, a single long) per (type, bucket) key — ≤ m = 256 keys
    * per type at ANY volume — merged by max: the textbook mergeable-
    * sketch combine, identical whatever the arrival order. The per-row
    * (bucket, ρ) split is computed by the SAME Catalyst expressions as
    * the batch twin ([[graft.functions.CleanFunctions.hll60BucketRho]]),
    * so the finalized registers — and any estimate derived from them
    * downstream — hash-match the batch/oracle build. Emission is the
    * terminal register table, once per key, when the watermark passes the
    * key's event-time timeout ([[emitOnceFold]]).
    */
  def hllRegisters(events: DataFrame, watermarkDelay: String = "1 hour")
      : Dataset[HllRegister] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit}
    val (bucket, rho) = graft.functions.CleanFunctions.hll60BucketRho(
      graft.functions.CleanFunctions.md5Hash64(
        concat(lit("hll:"), col("user_id"))))
    // No pre-fold filter on the punctuation marker: a filter here gets
    // pushed BELOW the EventTimeWatermark node by the optimizer, so the
    // marker would never advance the watermark and the final-emission
    // no-data batch would never fire (observed: emission stuck at the
    // keys already idle > 1 day). The marker's own key
    // (("__punctuation__", its bucket)) is isolated by event_type and
    // its timeout lies beyond the replay's final watermark, so it never
    // reaches the output — the same contract as the Event replays.
    val prepped = events
      .withWatermark("ts", watermarkDelay)
      .select(col("event_type"), col("ts"), bucket.as("bucket"), rho.as("rho"))
      .as[(String, Timestamp, Long, Long)]
    // Keyed by (type, bucket) — ONE long of state per key (the register),
    // merged by max: parallelism is types x m instead of types, and the
    // state store never holds a whole register array in one entry.
    emitOnceFold[(String, Long), (String, Timestamp, Long, Long), Long, HllRegister](
      prepped.groupByKey(r => (r._1, r._3)), r => tsUs(r._2))(
      (prev, incoming) =>
        incoming.foldLeft(prev.getOrElse(Long.MinValue))((m, r) => math.max(m, r._4)))(
      (key, r) => Iterator.single(HllRegister(key._1, key._2, r)))
  }

  /** Streaming count-min counter build — the streaming face of the batch
    * `events_cms_topk` sketch side. Each arriving key is pre-exploded
    * into its d (row, bucket) cells by the SAME Catalyst hash expressions
    * as the batch twin; the fold keys on the CELL and its state is that
    * cell's count — one long, merged by sum (counts are associative —
    * the canonical mergeable sketch; d x w cells total at ANY volume).
    * Emission is the terminal counter table, once per cell, at
    * event-time timeout.
    *
    * @param cells (r, b) cell per arriving key occurrence, already
    *              watermarked on `ts` and cleared of replay punctuation.
    */
  def cmsCounters(cells: Dataset[(Int, Long, Timestamp)]): Dataset[CmsCounter] = {
    import cells.sparkSession.implicits._
    // Keyed by the CELL (r, b) — ONE long of state per key (the counter),
    // merged by +count: parallelism is d x w cells instead of d rows.
    // That d x w is a CONSTANT is the point of the sketch; at volume the
    // per-cell adds are the only cross-partition traffic.
    emitOnceFold[(Int, Long), (Int, Long, Timestamp), Long, CmsCounter](
      cells.groupByKey(r => (r._1, r._2)), r => tsUs(r._3))(
      (prev, incoming) => prev.getOrElse(0L) + incoming.size)(
      (key, cnt) => Iterator.single(CmsCounter(key._1, key._2, cnt)))
  }

  /** Streaming KMV sketch build per event type — the streaming face of
    * the batch `events_kmv_jaccard` sketch side: the k smallest DISTINCT
    * md5 user hashes per key (state ≤ k longs, merged by
    * union-distinct-take-k — bottom-k of a distinct union = bottom-k of
    * merged bottom-k's, the KMV combine). `.distinct` here is CORRECT
    * where the quantile fold forbids it: KMV sketches the distinct USER
    * SET by construction (the batch twin builds from a distinct
    * (type, user) pass), so repeated arrivals of one user are one
    * element. Hash from the same Catalyst expression as the batch scan.
    */
  def kmvBottomK(events: DataFrame, k: Int, watermarkDelay: String = "1 hour")
      : Dataset[KmvHash] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit}
    val prepped = events
      .withWatermark("ts", watermarkDelay)
      .select(col("event_type"), col("ts"),
        graft.functions.CleanFunctions.md5Hash64(
          concat(lit("kmv:"), col("user_id"))).as("h"))
      .as[(String, Timestamp, Long)]
    emitOnceFold[String, (String, Timestamp, Long), Seq[Long], KmvHash](
      prepped.groupByKey(_._1), r => tsUs(r._2))(
      (prev, incoming) =>
        (prev.getOrElse(Nil) ++ incoming.map(_._3)).distinct.sorted.take(k))(
      (key, hs) => hs.iterator.map(h => KmvHash(key, h)))
  }

  /** Streaming DDSketch log-bucket build per event type — the streaming
    * face of the batch `events_ddsketch_quantile` sketch side. Keyed by
    * the (type, bucket) CELL with one long of state (the count), merged
    * by sum; the bucket index floor(round6(ln v / ln γ)) comes from the
    * SAME Catalyst expressions as the batch scan (6dp-rounded before
    * floor so libm boundary ulps can't flip a bucket). Callers feed only
    * v > 0 rows; the replay punctuation (value 0, its own key) takes the
    * guarded 0 bucket and never reaches the output.
    */
  def ddSketchBuckets(events: DataFrame, lnGamma: Double,
                      watermarkDelay: String = "1 hour"): Dataset[DdBucket] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.functions.{col, floor, lit, log, when}
    import org.apache.spark.sql.types.LongType
    val prepped = events
      .withWatermark("ts", watermarkDelay)
      .select(col("event_type"), col("ts"),
        when(col("value") > 0.0,
          floor(graft.functions.CleanFunctions.round6(
            log(col("value")) / lit(lnGamma))).cast(LongType))
          .otherwise(lit(0L)).as("b"))
      .as[(String, Timestamp, Long)]
    emitOnceFold[(String, Long), (String, Timestamp, Long), Long, DdBucket](
      prepped.groupByKey(r => (r._1, r._3)), r => tsUs(r._2))(
      (prev, incoming) => prev.getOrElse(0L) + incoming.size)(
      (key, cnt) => Iterator.single(DdBucket(key._1, key._2, cnt)))
  }

  /** Streaming deterministic top-k per key — the streaming twin of the
    * batch `topk_det` heap aggregate (sql_topk_agg): per customer, keep
    * the k orders with the highest price (ties to the smaller order id).
    * State is ≤ k (price, id) pairs per key — the same bounded heap the
    * batch TypedImperativeAggregate carries as its partial — merged by
    * sort-and-take, which equals the heap union under any arrival order
    * (top-k of a union = top-k of merged per-part top-k's). Emission is
    * the terminal ranked list, exploded to one row per member, once per
    * key at event-time timeout ([[emitOnceFold]]).
    */
  def topKPerKey(orders: Dataset[OrderRow], k: Int,
                 watermarkDelay: String = "1 hour"): Dataset[TopOrder] = {
    import orders.sparkSession.implicits._
    val prepped = orders.withWatermark("ts", watermarkDelay).as[OrderRow]
    emitOnceFold[Long, OrderRow, Seq[(Double, Long)], TopOrder](
      prepped.groupByKey(_.o_custkey), r => tsUs(r.ts))(
      // (-price, id) ordering = score desc with id-asc ties, the batch
      // aggregate's comparator (prices are positive decimals, so the
      // negation's -0.0 corner never arises).
      (prev, incoming) =>
        (prev.getOrElse(Nil) ++ incoming.map(r => (r.price, r.o_orderkey)))
          .sortBy(t => (-t._1, t._2)).take(k))(
      (key, items) => items.iterator.zipWithIndex.map { case ((p, id), i) =>
        TopOrder(key, i + 1L, id, p)
      })
  }

  /** Streaming Croston's method — the streaming twin of
    * `TimeSeriesOps.crostonSmooth` over bucketed intermittent demand:
    * z' = α·q + (1−α)z, p' = α·Δbucket + (1−α)p advanced only at demand
    * points, terminal (level, interval, forecast) per series emitted
    * once at the event-time close ([[emitOnceFold]] — Croston is a
    * terminal-summary fold like the sketches, not a per-row path).
    * State is O(1) per key. Unlike the mergeable sketch payloads this
    * fold is ORDER-SENSITIVE: in-batch rows fold in bucket order, and
    * cross-batch exactness holds when batches deliver in event-time
    * order (the same documented relaxation as [[kalman]]/[[holt]];
    * the replay harness and any watermarked production feed satisfy it).
    */
  def croston(demands: Dataset[DemandSample], alpha: Double,
              watermarkDelay: String = "1 hour"): Dataset[CrostonOut] = {
    import demands.sparkSession.implicits._
    val step = TimeSeriesOps.crostonStep(alpha)
    val prepped = demands.withWatermark("ts", watermarkDelay).as[DemandSample]
    emitOnceFold[Long, DemandSample, CrostonState, CrostonOut](
      prepped.groupByKey(_.user_id), r => tsUs(r.ts))(
      (prev, incoming) =>
        incoming.sortBy(_.bucket).foldLeft(prev.orNull)((st, r) => step(st, r.bucket, r.q)))(
      (key, st) => Iterator.single(CrostonOut(key, st.n, st.z, st.p)))
  }

  /** Streaming Page–Hinkley drift test — the streaming twin of
    * `StatsOps.pageHinkley`, the sequential mean-shift monitor a live
    * deployment runs: PH accumulates round6(x − x̄ᵢ − δ) against the
    * RUNNING mean and alarms when PH rises λ above its running minimum.
    *
    * Bit-exact replica of the batch windows: the running value sum and
    * the PH term sum are DECIMAL-exact (per-value [[CleanFunctions.dec6]]
    * quantization = the cast the batch `exactSumOver` applies; JVM
    * BigDecimal addition is exact at ANY magnitude, a superset of the
    * batch DECIMAL(28,6) range), the running mean is the DOUBLE cast of
    * the sum divided by the count (same op order as `exactMeanOver`),
    * and the per-row term goes through [[CleanFunctions.round6Jvm]].
    * In-batch ordering is (event-time, event_id), the [[kalman]]/[[holt]]
    * contract, so a single-batch replay equals the batch windows
    * bit-for-bit and shares their oracle verbatim. Nulls never reach
    * this operator (Event.value is primitive; the entry filters
    * upstream, like [[ewmaRecursive]]).
    */
  def pageHinkley(events: Dataset[Event], delta: Double,
                  lambda: Double): Dataset[PhEvent] = {
    import events.sparkSession.implicits._
    import graft.functions.CleanFunctions.{dec6, round6Jvm}
    require(lambda > 0, s"lambda=$lambda must be positive")
    keyedFold(events)(_.user_id, eventOrder)((st: PhState, e) => {
      val sum = (if (st == null) java.math.BigDecimal.ZERO
                 else new java.math.BigDecimal(st.sum6)).add(dec6(e.value))
      val n = (if (st == null) 0L else st.n) + 1L
      // exactMeanOver: CAST(decimal sum AS DOUBLE) / count.
      val rmean = sum.doubleValue() / n.toDouble
      val term = round6Jvm(e.value - rmean - delta)
      val phSum = (if (st == null) java.math.BigDecimal.ZERO
                   else new java.math.BigDecimal(st.phSum6)).add(dec6(term))
      val ph = phSum.doubleValue()
      // min() over the UNBOUNDED..CURRENT frame includes this row.
      PhState(n, sum.toPlainString, phSum.toPlainString,
        if (st == null) ph else math.min(st.phMin, ph))
    })((e, st) => {
      val ph = st.ph
      PhEvent(e.event_id, e.user_id, ph, if (ph - st.phMin > lambda) 1L else 0L)
    })
  }

  /** Streaming drawdown from the running high — the streaming twin of
    * the ts_drawdown window (the capacity/SLO "how far below peak are
    * we" monitor): ONE double of state per key, run_max' = max(run_max,
    * x) (math.max = the window Max ordering for the finite inputs this
    * feed carries), trivially bit-exact. In-batch ordering is
    * (event-time, event_id), the [[kalman]] contract.
    */
  def drawdown(events: Dataset[Event]): Dataset[DdEvent] = {
    import events.sparkSession.implicits._
    keyedFold(events)(_.user_id, eventOrder)((st: DdState, e) =>
      DdState(if (st == null) e.value else math.max(st.runMax, e.value)))(
      (e, st) => DdEvent(e.event_id, e.user_id, e.value, st.runMax))
  }

  /** Streaming two-threshold hysteresis alarm — the streaming twin of
    * `TimeSeriesOps.hysteresis` over pre-scored |z| samples: enter alert
    * when za > hi, leave only when za < lo (the chatter-proof alarm
    * every pager pipeline runs). ONE long of state per key; pure
    * comparisons on already-quantized inputs, so the fold is trivially
    * bit-exact against the batch pass. In-batch ordering is
    * (event-time, event_id), the [[kalman]] contract; the baseline that
    * produces za is a stream-static concern upstream (see [[ZaSample]]).
    */
  def hysteresis(samples: Dataset[ZaSample], lo: Double,
                 hi: Double): Dataset[HystEvent] = {
    import samples.sparkSession.implicits._
    val step = TimeSeriesOps.hysteresisStep(lo, hi)
    keyedFold(samples)(_.user_id, e => (tsUs(e.ts), e.event_id))(
      (st: HystState, e) => step(st, e.za))((e, st) => HystEvent(e.event_id, e.user_id, e.za, st.in))
  }

  /** Streaming ANN top-k — the retrieval half of a live vector-search
    * deployment: scored candidates (from an upstream stream-static cell
    * equi-join against the STATIC IVF index) fold into a bounded
    * (score, id) heap per query, emitted once as ranked hits at the
    * query's event-time close ([[emitOnceFold]] — a search result is a
    * terminal summary). State is ≤ k pairs per key under any arrival
    * order (sort-and-take merge = heap union, the [[topKPerKey]]
    * argument); comparator (−score, id) = score desc with id-asc ties,
    * the batch rank's ordering (scores are round4-normalized upstream,
    * so the −0.0 negation corner cannot arise). Expects the caller to
    * have set the watermark on the query stream BEFORE the join (the
    * entry does; re-marking after a stream-static join is legal but
    * this keeps one watermark node).
    */
  def annTopK(cands: Dataset[AnnCand], k: Int): Dataset[AnnHit] = {
    import cands.sparkSession.implicits._
    require(k > 0, s"k=$k must be positive")
    emitOnceFold[Long, AnnCand, Seq[(Double, Long)], AnnHit](
      cands.groupByKey(_.q_id), r => tsUs(r.ts))(
      (prev, incoming) =>
        (prev.getOrElse(Nil) ++ incoming.map(r => (r.score, r.n_id)))
          .sortBy(t => (-t._1, t._2)).take(k))(
      (key, items) => items.iterator.zipWithIndex.map { case ((sc, id), i) =>
        AnnHit(key, i + 1L, id, sc)
      })
  }

  /** Streaming Wald SPRT — the streaming twin of the batch `events_sprt`
    * entry, and the test that IS sequential by construction: per-key LLR
    * increments round6(((μ₁−μ₀)x − (μ₁²−μ₀²)/2) / σ²) accumulate in a
    * DECIMAL-exact running sum (the [[pageHinkley]] convention), the
    * first crossings of ln(19)/ln(1/19) are recorded as they happen, and
    * ONE terminal (n, final LLR, decision, decision_at) summary per key
    * emits at the event-time close ([[emitOnceFold]] — a decision is a
    * terminal summary, like Croston). μ₀/μ₁/σ² come from the OFFLINE
    * control baseline (driver-computed doubles broadcast into the fold —
    * the stream-static pattern). O(1) state per key; order-sensitive
    * in-batch fold with the documented in-order relaxation.
    */
  def sprt(clicks: Dataset[Event], mu0: Double, mu1: Double, sig2: Double,
           upper: Double, lower: Double,
           watermarkDelay: String = "1 hour"): Dataset[SprtOut] = {
    import clicks.sparkSession.implicits._
    import graft.functions.CleanFunctions.{dec6, round6Jvm}
    require(sig2 > 0, s"sig2=$sig2 must be positive")
    require(lower < upper, s"need lower < upper, got $lower >= $upper")
    val prepped = clicks.withWatermark("ts", watermarkDelay).as[Event]
    emitOnceFold[Long, Event, SprtState, SprtOut](
      prepped.groupByKey(_.user_id), r => tsUs(r.ts))(
      (prev, incoming) => {
        var st = prev.getOrElse(SprtState(0L, "0", None, None))
        incoming.sortBy(e => (tsUs(e.ts), e.event_id)).foreach { e =>
          val term = round6Jvm(
            ((mu1 - mu0) * e.value - (mu1 * mu1 - mu0 * mu0) / 2.0) / sig2)
          val sum = new java.math.BigDecimal(st.llr6).add(dec6(term))
          val llr = sum.doubleValue()
          val n = st.n + 1L
          st = SprtState(n, sum.toPlainString,
            st.upAt.orElse(if (llr > upper) Some(n) else None),
            st.loAt.orElse(if (llr < lower) Some(n) else None))
        }
        st
      })(
      (key, st) => {
        // Same precedence as the batch decision CASE: an earlier (or
        // simultaneous-index) upper crossing wins, else lower, else
        // continue with no decision point.
        val rejected = st.upAt.isDefined &&
          (st.loAt.isEmpty || st.upAt.get <= st.loAt.get)
        val decision = if (rejected) "reject_h0"
                       else if (st.loAt.isDefined) "accept_h0"
                       else "continue"
        val at = if (rejected) st.upAt
                 else if (st.loAt.isDefined) st.loAt
                 else None
        Iterator.single(SprtOut(key, st.n,
          new java.math.BigDecimal(st.llr6).doubleValue(), decision, at))
      })
  }

  /** The emit-ONCE terminal-summary fold under the streaming sketch family
    * (bottom-k quantiles, HLL registers, CMS counters): per key, `merge`
    * folds each micro-batch into constant-size mergeable state; when the
    * watermark passes the key's event-time timeout (max seen event time
    * + 1 day — production: a daily close), `finish` emits the terminal
    * summary exactly once.
    *
    * The contract's three hazards, handled centrally: (1) the timeout
    * anchor is the max event time ACROSS batches, floored at
    * watermark+1 — a late-but-valid batch whose local max lags the
    * watermark must not `setTimeoutTimestamp` below it (throws); (2)
    * after emission the key keeps a TOMBSTONE (payload None, emitted) so
    * post-emission stragglers are swallowed instead of re-opening the key
    * and emitting a second "terminal" summary; (3) the tombstone itself
    * expires one watermark-day later (silent `state.remove()`), so state
    * is bounded even under (2).
    */
  def emitOnceFold[K, I, S, O](
      keyed: org.apache.spark.sql.KeyValueGroupedDataset[K, I],
      eventUs: I => Long)(
      merge: (Option[S], Seq[I]) => S)(
      finish: (K, S) => Iterator[O])(
      implicit se: org.apache.spark.sql.Encoder[EmitOnceState[S]],
      oe: org.apache.spark.sql.Encoder[O]): Dataset[O] =
    keyed.flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
      (key: K, it: Iterator[I], state: GroupState[EmitOnceState[S]]) =>
        if (state.hasTimedOut) {
          val cur = state.get
          cur.payload match {
            case Some(payload) if !cur.emitted =>
              state.update(EmitOnceState[S](None, cur.maxSeenUs, emitted = true))
              state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 86400L * 1000L)
              finish(key, payload)
            case _ =>
              // Tombstone TTL fired (or a pathological empty state):
              // silent cleanup.
              state.remove()
              Iterator.empty
          }
        } else if (state.getOption.exists(_.emitted)) {
          // Post-emission stragglers: swallow them (emit-once contract)
          // and push the tombstone TTL out past the current watermark.
          it.foreach(_ => ())
          state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 86400L * 1000L)
          Iterator.empty
        } else {
          var maxUs = Long.MinValue
          val incoming = it.map { r =>
            val u = eventUs(r); if (u > maxUs) maxUs = u
            r
          }.toList
          val merged = merge(state.getOption.flatMap(_.payload), incoming)
          // Track the max event time ACROSS batches: a late-but-valid
          // batch whose local max lags the watermark must not set a
          // timeout below it (setTimeoutTimestamp throws there).
          val maxSeen = math.max(
            state.getOption.map(_.maxSeenUs).getOrElse(Long.MinValue), maxUs)
          state.update(EmitOnceState[S](Some(merged), maxSeen))
          // Any event-time point past the data but short of the replay
          // punctuation: the sketch finalizes exactly once, when the
          // feed declares time has moved on (production: a daily close).
          state.setTimeoutTimestamp(math.max(
            state.getCurrentWatermarkMs() + 1L, maxSeen / 1000L + 86400L * 1000L))
          Iterator.empty
        }
    }
}
