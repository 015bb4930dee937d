package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.functions.CleanFunctions.safeDiv

/** Time-series operators re-expressing the reference's pandas pipeline
  * (reference: src/preprocessing.py) Spark-first.
  *
  * Scale posture: the reference holds ONE series in RAM; here every
  * operator takes explicit series-key columns so windows partition by key
  * and distribute across executors. A 100 TB events table with millions of
  * series keys shuffles once per window spec and never concentrates on a
  * single partition. Passing an empty key list is supported (true global
  * series) but collapses to one partition — callers at scale must key.
  */
object TimeSeriesOps {

  /** Window over one series ordered by event time (tie-broken). */
  def seriesWindow(keys: Seq[String], order: Seq[String]): WindowSpec = {
    val w = if (keys.isEmpty) Window.partitionBy() else Window.partitionBy(keys.map(col): _*)
    w.orderBy(order.map(col): _*)
  }

  /** Calendar features from the time index (ref: preprocessing.py:175-196
    * add_time_features). `dayofweek` is Monday=0 like pandas; all outputs
    * are LongType for oracle-dtype parity.
    */
  def addTimeFeatures(df: DataFrame, tsCol: String): DataFrame = {
    val ts = col(tsCol)
    df.withColumns(Map(
      "hour"       -> hour(ts).cast("long"),
      "dayofweek"  -> weekday(ts).cast("long"),
      "dayofmonth" -> dayofmonth(ts).cast("long"),
      "dayofyear"  -> dayofyear(ts).cast("long"),
      "month"      -> month(ts).cast("long"),
      "year"       -> year(ts).cast("long"),
      "quarter"    -> quarter(ts).cast("long"),
      "weekofyear" -> weekofyear(ts).cast("long"),
      "is_weekend" -> (weekday(ts) >= 5).cast("long")
    ))
  }

  /** Adds (or replaces in place, like `withColumn`) every named column in
    * ONE projection, in the given order. Window expressions added this way
    * share one logical `Window` per window spec; a `withColumn` chain
    * builds one `Window` per column, and each distinct plan node costs its
    * own generated classes on every call.
    */
  private def withColumnsInOrder(df: DataFrame, cols: Seq[(String, Column)]): DataFrame =
    df.withColumns(ListMap(cols: _*))

  /** Lag features per series (ref: preprocessing.py:198-221
    * add_lag_features). Every lag is added in one projection over one
    * window spec -> one `Window` operator and a single shuffle + sort
    * regardless of how many lags are requested.
    */
  def addLags(df: DataFrame, keys: Seq[String], order: Seq[String],
              target: String, lags: Seq[Int]): DataFrame = {
    val w = seriesWindow(keys, order)
    withColumnsInOrder(df,
      lags.filter(_ > 0).map(l => s"${target}_lag_$l" -> lag(col(target), l).over(w)))
  }

  /** Rolling features over PAST-only rows — the reference computes
    * rolling stats on shift(1) so the current row never leaks
    * (ref: preprocessing.py:223-260 add_rolling_features). Frame is
    * ROWS [-w, -1], min_periods=1 falls out of SQL null semantics.
    * Every (window, agg) column is added in one projection: the frames
    * differ but the partition + order spec is shared, so all of them are
    * evaluated by one `Window` operator.
    */
  def addRolling(df: DataFrame, keys: Seq[String], order: Seq[String],
                 target: String, windows: Seq[Int],
                 aggs: Seq[String] = graft.GraftConfig.RollingAggs): DataFrame = {
    val base = seriesWindow(keys, order)
    withColumnsInOrder(df, for (win <- windows.filter(_ > 0); a <- aggs) yield {
      val w = base.rowsBetween(-win, -1)
      val c = a match {
        case "mean" => graft.functions.CleanFunctions.exactMeanOver(col(target), w)
        case "std"  => stddev_samp(col(target)).over(w)
        case "min"  => min(col(target)).over(w)
        case "max"  => max(col(target)).over(w)
        case "sum"  => sum(col(target)).over(w)
        case other  => throw new IllegalArgumentException(s"unknown rolling agg: $other")
      }
      s"${target}_roll_${a}_${win}h" -> c
    })
  }

  /** Missing-value strategies (ref: preprocessing.py:125-173
    * handle_missing_values). ffill/bfill leave leading/trailing nulls ->
    * the reference then zero-fills the residue (preprocessing.py:170-171),
    * controlled here by `residualZero`.
    */
  def fill(df: DataFrame, keys: Seq[String], order: Seq[String],
           target: String, strategy: String, residualZero: Boolean = true): DataFrame = {
    val t = col(target)
    val filled: Column = strategy match {
      case "ffill" =>
        val w = seriesWindow(keys, order).rowsBetween(Window.unboundedPreceding, 0)
        last(t, ignoreNulls = true).over(w)
      case "bfill" =>
        val w = seriesWindow(keys, order).rowsBetween(0, Window.unboundedFollowing)
        first(t, ignoreNulls = true).over(w)
      case "mean" =>
        val w = if (keys.isEmpty) Window.partitionBy() else Window.partitionBy(keys.map(col): _*)
        coalesce(t, graft.functions.CleanFunctions.exactMeanOver(t, w))
      case "median" =>
        val w = if (keys.isEmpty) Window.partitionBy() else Window.partitionBy(keys.map(col): _*)
        coalesce(t, median(t).over(w))
      case "zero" => coalesce(t, lit(0.0))
      case other  => throw new IllegalArgumentException(s"unknown fill strategy: $other")
    }
    val out = if (residualZero && (strategy == "ffill" || strategy == "bfill"))
      coalesce(filled, lit(0.0)) else filled
    df.withColumn(target, out)
  }

  /** Drop rows with nulls in any of `cols` (ref: main.py:150 dropna after
    * lag/rolling warm-up).
    */
  def dropNulls(df: DataFrame, cols: Seq[String]): DataFrame =
    df.na.drop(cols)

  /** Linear TIME-weighted interpolation of null gaps (pandas
    * `interpolate(method="time")`; the reference's missing-value menu in
    * preprocessing.py:125-173 stops at ffill/bfill/stats — this is the
    * interpolating sibling). Each null row takes
    * v_prev + (v_next - v_prev) * (t - t_prev) / (t_next - t_prev) from
    * the nearest non-null observations before/after it in its series;
    * LEADING and TRAILING nulls stay null (compose with [[fill]] for the
    * residue). Duplicate timestamps around a gap degenerate to the
    * midpoint of the two neighbors rather than divide-by-zero.
    *
    * Scale shape: the (ts, value) pair of the nearest observation in each
    * direction rides ONE keyed window sort as a struct carried by
    * last/first(ignoreNulls) — two frames over the same sort, no join, no
    * state beyond the frames; time deltas on exact microsecond longs.
    */
  def interpolateTime(df: DataFrame, keys: Seq[String], tsCol: String,
                      order: Seq[String], target: String,
                      outCol: String): DataFrame = {
    import graft.functions.CleanFunctions.epochUs
    val base = seriesWindow(keys, order)
    val past = base.rowsBetween(Window.unboundedPreceding, 0)
    val fut  = base.rowsBetween(0, Window.unboundedFollowing)
    val obs = when(col(target).isNotNull,
      struct(epochUs(col(tsCol)).as("t"), col(target).as("v")))
    val p = last(obs, ignoreNulls = true).over(past)
    val n = first(obs, ignoreNulls = true).over(fut)
    // Non-null rows: p == n == self -> interp == value exactly.
    val t = epochUs(col(tsCol))
    val interp =
      when(col(target).isNotNull, col(target))
        .when(p.isNull || n.isNull, lit(null))
        .when(n.getField("t") === p.getField("t"),
          (p.getField("v") + n.getField("v")) / lit(2.0))
        .otherwise(p.getField("v") +
          (n.getField("v") - p.getField("v")) *
            ((t - p.getField("t")).cast("double") /
              (n.getField("t") - p.getField("t")).cast("double")))
    df.withColumn(outCol, interp)
  }

  /** Classical additive seasonal decomposition (statsmodels
    * `seasonal_decompose(model="additive")`, the notebook-EDA step the
    * reference's docs describe): value = trend + seasonal + resid with
    *   trend    = centered moving average over `trendWin` rows (full
    *              windows only — edges get null, like statsmodels),
    *   seasonal = per-(key, cycle-position) mean of the detrended value,
    *              centered so seasonal components sum to ~0,
    *   resid    = value - trend - seasonal.
    * `cyclePos` maps a row to its seasonal position (e.g. hour(ts) for a
    * daily cycle on hourly-ish data).
    *
    * Scale shape: one keyed window sort for the centered MA, then two
    * grouped means ((key, pos) and (key)) broadcast-joined back — the
    * aggregate sides are |keys|*cycle and |keys| rows, always tiny.
    */
  def decompose(df: DataFrame, keys: Seq[String], order: Seq[String],
                target: String, cyclePos: Column, trendWin: Int): DataFrame = {
    require(trendWin > 1, s"trendWin=$trendWin must be > 1")
    import graft.functions.CleanFunctions.exactMean
    val half = trendWin / 2
    val w = seriesWindow(keys, order).rowsBetween(-half, trendWin - 1 - half)
    val withTrend = df
      .withColumn("__pos", cyclePos)
      .withColumn("trend",
        when(count(col(target)).over(w) === trendWin,
          graft.functions.CleanFunctions.exactMeanOver(col(target), w)))
      .withColumn("__detr", col(target) - col("trend"))
    val posMean = withTrend.filter(col("__detr").isNotNull)
      .groupBy((keys.map(col) :+ col("__pos")): _*)
      .agg(exactMean(col("__detr")).as("__pos_mean"))
    val keyMean = posMean
      .groupBy(keys.map(col): _*)
      .agg(exactMean(col("__pos_mean")).as("__key_mean"))
    withTrend
      .join(broadcast(posMean), keys :+ "__pos", "left")
      .join(broadcast(keyMean), keys, "left")
      .withColumn("seasonal", col("__pos_mean") - col("__key_mean"))
      .withColumn("resid", col(target) - col("trend") - col("seasonal"))
      .drop("__pos", "__detr", "__pos_mean", "__key_mean")
  }

  /** Duplicate-timestamp resolution keep=first/keep=last (ref:
    * preprocessing.py:76-81). `tie` breaks ordering among duplicates so the
    * result is deterministic under any partitioning.
    */
  def dedupIndex(df: DataFrame, keys: Seq[String], tsExpr: Column,
                 tie: Seq[String], keep: String): DataFrame = {
    val ord = keep match {
      case "first" => tie.map(col)
      case "last"  => tie.map(c => col(c).desc)
      case other   => throw new IllegalArgumentException(s"unknown keep: $other")
    }
    val w = Window.partitionBy(keys.map(col) :+ tsExpr: _*).orderBy(ord: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Duplicate-timestamp resolution by MEAN of numeric columns, first of
    * others (ref: preprocessing.py:82-91). Expressed as a grouped
    * aggregation -> partial aggregation map-side, one shuffle.
    */
  def dedupIndexMean(df: DataFrame, keys: Seq[String], tsExpr: Column, tsName: String,
                     numericCols: Seq[String], firstCols: Seq[String]): DataFrame = {
    val aggs = numericCols.map(c => graft.functions.CleanFunctions.exactMean(col(c)).as(c)) ++
      firstCols.map(c => min(col(c)).as(c))
    df.groupBy(keys.map(col) :+ tsExpr.as(tsName): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Time-bucket resampling: truncate to `unit`, aggregate per series.
    * The reference's data is already hourly; ours buckets arbitrary event
    * times. Grouped agg -> map-side partial, single shuffle at scale.
    */
  def resample(df: DataFrame, keys: Seq[String], tsCol: String, unit: String,
               valueCol: String): DataFrame = {
    val bucket = date_trunc(unit, col(tsCol)).as("bucket")
    import graft.functions.CleanFunctions.{exactMean, exactSum}
    df.groupBy(keys.map(col) :+ bucket: _*).agg(
      count(lit(1)).as("n"),
      exactMean(col(valueCol)).as("avg_value"),
      min(col(valueCol)).as("min_value"),
      max(col(valueCol)).as("max_value"),
      exactSum(col(valueCol)).as("sum_value")
    )
  }

  /** Time-WEIGHTED average resample for IRREGULAR series — the correct
    * hourly downsample when samples are unevenly spaced ([[resample]]'s
    * plain mean over-weights burst periods). Step-function semantics
    * (last observation carried forward): each sample holds its value
    * until the next sample of its series or the bucket end, whichever
    * comes first; the bucket aggregate is sum(w*v)/sum(w) over those
    * hold durations (seconds). A bucket whose samples all arrive at one
    * instant has zero total weight -> null twa (safeDiv), never a
    * divide blow-up. Null values are excluded before weighting so a
    * missing metric doesn't hold through its gap.
    *
    * Scale shape: one keyed window (lead) + one grouped aggregate —
    * identical to every other per-series operator here; weights are
    * computed on exact microsecond longs so both engines agree bitwise.
    *
    * LIMITATION (by design, r5 ADVICE): each hold is truncated at its own
    * bucket's end and is NOT carried into the next bucket — a bucket whose
    * first sample arrives late ignores the value held through its opening
    * span, and buckets with no samples emit no row. This is bucket-local
    * TWA, not full step-function (LOCF) coverage; for the latter, build a
    * spine with [[timeSpine]] + forward fill first, then aggregate.
    */
  def twaResample(df: DataFrame, keys: Seq[String], tsCol: String,
                  order: Seq[String], valueCol: String): DataFrame = {
    import graft.functions.CleanFunctions.{epochUs, exactSum, safeDiv}
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order.map(col): _*)
    df.filter(col(valueCol).isNotNull)
      .withColumn("__bucket", date_trunc("hour", col(tsCol)))
      .withColumn("__end_us", epochUs(col("__bucket") + expr("INTERVAL 1 HOUR")))
      .withColumn("__nxt_us", lead(epochUs(col(tsCol)), 1).over(w))
      .withColumn("__w",
        (least(coalesce(col("__nxt_us"), col("__end_us")), col("__end_us")) -
          epochUs(col(tsCol))) / lit(1e6))
      .groupBy(keys.map(col) :+ col("__bucket").as("bucket"): _*)
      .agg(count(lit(1)).as("n"),
        safeDiv(exactSum(col("__w") * col(valueCol)), exactSum(col("__w"))).as("twa"))
  }

  /** Seasonal-naive forecast backtest: predict x[t] = x[t-season] and
    * report per-series error metrics (MAE, RMSE, MAPE) over the rows
    * where the forecast exists. The baseline every forecasting model
    * must beat; rows whose actual is 0 are excluded from MAPE (its
    * standard undefined case) via null-safe division.
    *
    * Scale shape: one keyed window (lag) + one grouped aggregate with
    * map-side partial moments — the same single-shuffle plan as every
    * other per-series operator; exact DECIMAL error sums for oracle
    * parity.
    */
  def backtestSeasonalNaive(df: DataFrame, keys: Seq[String], order: Seq[String],
                            target: String, season: Int): DataFrame = {
    require(season > 0, s"season=$season must be positive")
    import graft.functions.CleanFunctions.exactMean
    val w = seriesWindow(keys, order)
    val err = col(target) - lag(col(target), season).over(w)
    df.withColumn("__err", err)
      .filter(col("__err").isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        exactMean(abs(col("__err"))).as("mae"),
        sqrt(exactMean(col("__err") * col("__err"))).as("rmse"),
        exactMean(abs(safeDiv(col("__err"), col(target)))).as("mape"))
  }

  /** MinMax scaling per series (ref: preprocessing.py:264-294
    * scale_features). Fit = window min/max (or a grouped agg + broadcast
    * join at scale), transform = pure expression -> stays in codegen.
    */
  def minMaxScale(df: DataFrame, keys: Seq[String], target: String,
                  outCol: String): DataFrame = {
    val w = if (keys.isEmpty) Window.partitionBy() else Window.partitionBy(keys.map(col): _*)
    val mn = min(col(target)).over(w)
    val mx = max(col(target)).over(w)
    df.withColumn(outCol, safeDiv(col(target) - mn, mx - mn))
  }

  /** MinMax over a whole feature set at once (ref main.py:168-181 scales
    * every numeric column), in two `Window` operators over one partition
    * spec, so one shuffle whatever the column count: the first computes
    * every column's min and max, the second emits each scaled value as a
    * window output over a single-row frame, `max(scaled).over(ROWS [0, 0])`,
    * which is exactly the scaled value of that row.
    *
    * Measured negative (kept here so it is not retried): the plain shape,
    * one stats `Window` and then one projection holding all scaled
    * expressions as aliases, ran out of memory on a 3 GB heap on the lstm
    * path. `detectMulti`'s `na.drop` on the scaled columns is pushed below
    * that projection, and Catalyst's constraint propagation
    * (`UnaryNode.getAllValidConstraints`) then doubles the constraint set
    * once per alias: 2^23 constraints for the pipeline's 23 columns. A
    * filter on window outputs stops above the `Window`, and the `Window`
    * adds no aliases for the constraints to multiply through. (Turning off
    * `spark.sql.constraintPropagation.enabled` also avoids it, but users'
    * sessions keep it on.)
    */
  def minMaxScaleAll(df: DataFrame, keys: Seq[String], cols: Seq[String],
                     suffix: String = "_scaled"): DataFrame = {
    val w = if (keys.isEmpty) Window.partitionBy() else Window.partitionBy(keys.map(col): _*)
    val (mn, mx) = (cols.indices.map(i => s"__mm_min_$i"), cols.indices.map(i => s"__mm_max_$i"))
    val stats = withColumnsInOrder(df, cols.indices.flatMap(i =>
      Seq(mn(i) -> min(col(cols(i))).over(w), mx(i) -> max(col(cols(i))).over(w))))
    val row = w.rowsBetween(Window.currentRow, Window.currentRow)
    withColumnsInOrder(stats, cols.indices.map(i => cols(i) + suffix ->
        max(safeDiv(col(cols(i)) - col(mn(i)), col(mx(i)) - col(mn(i)))).over(row)))
      .drop(mn ++ mx: _*)
  }

  /** Standard (z) scaling per series; sample stddev for oracle parity. */
  def standardScale(df: DataFrame, keys: Seq[String], target: String,
                    outCol: String): DataFrame = {
    val w = if (keys.isEmpty) Window.partitionBy() else Window.partitionBy(keys.map(col): _*)
    df.withColumn(outCol, safeDiv(col(target) - avg(col(target)).over(w),
      stddev_samp(col(target)).over(w)))
  }

  /** Sliding-window sequences per series (ref: preprocessing.py:296-312
    * create_sequences; seq length config.py LSTM_SEQUENCE_LENGTH=24).
    * Window collect over a bounded ROWS frame: O(seqLen) state per row,
    * never collects to the driver. Only full windows are kept, matching
    * the reference's `len(data) - L + 1` sequence count.
    */
  def sequences(df: DataFrame, keys: Seq[String], order: Seq[String],
                target: String, seqLen: Int, outCol: String = "seq"): DataFrame = {
    val w    = seriesWindow(keys, order)
    val coll = collect_list(col(target)).over(w.rowsBetween(-(seqLen - 1), 0))
    df.withColumn(outCol, coll)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") >= seqLen)
      .drop("__rn")
  }

  /** As-of join: for each left row, attach `valueCols` from the most
    * recent right row with right.`tsCol` <= left.`tsCol` (inclusive) on
    * the same key. Implemented as union + last(ignoreNulls) over a
    * bounded-state window — ONE shuffle on the key and O(1) state per
    * row, versus a range-condition join which Spark would execute as a
    * per-key cross product. This is the 100 TB shape: both sides
    * co-partition on the key, the tagged merge sorts once.
    *
    * Caller contract: right must be unique per (key, tsCol) — pre-dedup
    * with an aggregate — and `valueCols` must be non-null (a null value
    * would fall through to the previous right row).
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               tsCol: String, valueCols: Seq[String],
               prefix: String = "asof_"): DataFrame = {
    val leftOnly = left.columns.filterNot(c => keys.contains(c) || c == tsCol)
    val lSel = left.select(
      keys.map(col) ++ Seq(col(tsCol), lit(1).as("__side")) ++
        valueCols.map(c => lit(null).cast(right.schema(c).dataType).as(s"$prefix$c")) ++
        leftOnly.map(col): _*)
    val rSel = right.select(
      keys.map(col) ++ Seq(col(tsCol), lit(0).as("__side")) ++
        valueCols.map(c => col(c).as(s"$prefix$c")) ++
        leftOnly.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val w = seriesWindow(keys, Seq(tsCol, "__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = valueCols.foldLeft(lSel.unionByName(rSel)) { (df, c) =>
      df.withColumn(s"$prefix$c", last(col(s"$prefix$c"), ignoreNulls = true).over(w))
    }
    filled.filter(col("__side") === 1).drop("__side")
  }

  /** Truncated exponentially-weighted moving average: weights
    * alpha*(1-alpha)^j over the past `span` rows (j=0 current), normalized
    * by the present weights so series heads behave like pandas
    * `ewm(adjust=True)` truncated at `span`. Expressed as a fixed lag
    * kernel — `span` lag terms inside one window sort, fully codegen'd,
    * exactly replicable as SQL on any engine (no recursion needed).
    *
    * `span` is capped at 64: the kernel materializes one lag term per step,
    * so a large span blows up the expression tree (and past ~64 the dropped
    * tail weight (1-alpha)^span is below double noise anyway). A span-500
    * smoother needs the recursive segment-scan formulation (per-partition
    * running state via mapPartitions), not a wider kernel.
    */
  def ewma(df: DataFrame, keys: Seq[String], order: Seq[String],
           target: String, alpha: Double, span: Int,
           outCol: String = "ewma"): DataFrame = {
    require(span >= 1 && span <= 64,
      s"ewma span=$span out of range [1, 64]: the lag-kernel formulation " +
        "materializes span expression terms; use a recursive segment-scan variant for longer spans")
    val w = seriesWindow(keys, order)
    val terms = (0 until span).map { j =>
      val wt = lit(math.pow(1 - alpha, j))
      val v = if (j == 0) col(target) else lag(col(target), j).over(w)
      (when(v.isNotNull, wt * v), when(v.isNotNull, wt))
    }
    val num = terms.map(t => coalesce(t._1, lit(0.0))).reduce(_ + _)
    val den = terms.map(t => coalesce(t._2, lit(0.0))).reduce(_ + _)
    df.withColumn(outCol, safeDiv(num, den))
  }

  /** Recursive (full-history) EWMA — the long-span path the lag-kernel
    * [[ewma]] guards against: state-scan recurrence
    *   num_t = [x_t] + (1-alpha) * num_{t-1}
    *   den_t = [1]   + (1-alpha) * den_{t-1}     (brackets: only if x_t non-null)
    *   ewma_t = num_t / den_t
    * which is exactly pandas `ewm(adjust=True)` with position-aged weights
    * (a null row ages the weights but contributes nothing). No window
    * expression can carry this state, so this is the documented
    * mapPartitions case: repartition on the series key, sort within
    * partitions on (key, order), one O(1)-state pass per partition.
    * Distribution-safe: each key's rows are contiguous in exactly one
    * partition, so results are independent of partition count.
    */
  def ewmaRecursive(df: DataFrame, keys: Seq[String], order: Seq[String],
                    target: String, alpha: Double,
                    outCol: String = "ewma", numPartitions: Int = 0): DataFrame = {
    require(keys.nonEmpty, "ewmaRecursive needs series keys (single-series mode: add a literal key)")
    require(alpha > 0 && alpha < 1, s"alpha=$alpha must be in (0, 1)")
    // The shadow column is dropped POSITIONALLY (last field) after the
    // scan; a pre-existing column with either name would make withColumn
    // replace-in-place and silently misalign every row.
    require(!df.columns.contains("__ewma_in"),
      "ewmaRecursive: input already has a __ewma_in column")
    require(!df.columns.contains(outCol),
      s"ewmaRecursive: input already has the output column '$outCol'")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val spark = df.sparkSession
    val parts = if (numPartitions > 0) numPartitions
                else spark.conf.get("spark.sql.shuffle.partitions").toInt
    // Append a double-cast shadow of the target so any numeric type
    // (decimal/float/int) works — getDouble on the raw column would
    // ClassCastException for non-double numerics.
    val sorted = df.withColumn("__ewma_in", col(target).cast(DoubleType))
      .repartition(parts, keys.map(col): _*)
      .sortWithinPartitions((keys ++ order).map(col): _*)
    val schema = StructType(df.schema.fields :+ StructField(outCol, DoubleType))
    val keyIdx = keys.map(sorted.schema.fieldIndex)
    val tIdx = sorted.schema.fieldIndex("__ewma_in")
    val decay = 1.0 - alpha
    spark.createDataFrame(
      sorted.rdd.mapPartitions { rows =>
        var curKey: Seq[Any] = null
        var num = 0.0
        var den = 0.0
        rows.map { r =>
          val k = keyIdx.map(r.get)
          if (k != curKey) { curKey = k; num = 0.0; den = 0.0 }
          num *= decay
          den *= decay
          if (!r.isNullAt(tIdx)) { num += r.getDouble(tIdx); den += 1.0 }
          // Drop the shadow column (last) and append the smoothed value.
          Row.fromSeq(r.toSeq.init :+ (if (den == 0.0) null else num / den))
        }
      }, schema)
  }

  /** Holt's linear-trend (double exponential) smoothing, FINAL state per
    * series: level/trend after folding the whole ordered series, plus the
    * h-step-ahead forecast level + h*trend. The recurrence
    * (l' = a*x + (1-a)(l+b); b' = g*(l'-l) + (1-g)*b, init l=x0, b=0)
    * is stateful, so like [[ewmaRecursive]] it runs as a keyed
    * repartition + in-partition sorted fold with O(1) state per series —
    * no per-series buffering, streams at any series length. Unlike the
    * EWMA (which emits every row) the output here is ONE row per series,
    * which makes the fold expressible in DuckDB as a `list_reduce` in
    * the same left-to-right IEEE order — an EXACT oracle for a recursive
    * operator. Null targets are skipped on both engines.
    */
  def holtSmooth(df: DataFrame, keys: Seq[String], order: Seq[String],
                 target: String, alpha: Double, gamma: Double,
                 numPartitions: Int = 0): DataFrame = {
    require(keys.nonEmpty, "holtSmooth needs series keys")
    require(alpha > 0 && alpha < 1, s"alpha=$alpha must be in (0, 1)")
    require(gamma > 0 && gamma < 1, s"gamma=$gamma must be in (0, 1)")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val spark = df.sparkSession
    val parts = if (numPartitions > 0) numPartitions
                else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = df
      .where(col(target).isNotNull)
      .select((keys.map(col) ++ order.map(col) :+ col(target).cast(DoubleType).as("__holt_in")): _*)
      .repartition(parts, keys.map(col): _*)
      .sortWithinPartitions((keys ++ order).map(col): _*)
    val keyFields = keys.map(k => sorted.schema(k))
    val schema = StructType(keyFields ++ Seq(
      StructField("level", DoubleType), StructField("trend", DoubleType),
      StructField("n", LongType)))
    val keyIdx = keys.map(sorted.schema.fieldIndex)
    val tIdx = sorted.schema.fieldIndex("__holt_in")
    spark.createDataFrame(
      sorted.rdd.mapPartitions { rows =>
        var curKey: Seq[Any] = null
        var level = 0.0; var trend = 0.0; var n = 0L
        // Seq[Any] is load-bearing: Seq(level, trend, n) would unify to
        // Seq[Double] and numerically WIDEN the Long count to a Double,
        // which the LongType row encoder then rejects.
        def emit(): Row = Row.fromSeq(curKey ++ Seq[Any](level, trend, n))
        new Iterator[Row] {
          private var pending: Row = null
          private var done = false
          private def advance(): Unit = {
            while (pending == null && rows.hasNext) {
              val r = rows.next()
              val k = keyIdx.map(r.get)
              if (k != curKey) {
                if (curKey != null) pending = emit()
                curKey = k; level = r.getDouble(tIdx); trend = 0.0; n = 1L
              } else {
                val x = r.getDouble(tIdx)
                val nl = alpha * x + (1.0 - alpha) * (level + trend)
                trend = gamma * (nl - level) + (1.0 - gamma) * trend
                level = nl
                n += 1L
              }
            }
            if (pending == null && !done && !rows.hasNext && curKey != null) {
              pending = emit(); done = true
            }
          }
          def hasNext: Boolean = { advance(); pending != null }
          def next(): Row = { advance(); val r = pending; pending = null; r }
        }
      }, schema)
  }

  /** Croston's method for INTERMITTENT demand (sparse series where most
    * periods see nothing): two exponential smoothers advanced only at
    * demand points — demand size z' = a·q + (1−a)z and inter-demand
    * interval p' = a·i + (1−a)p, where i is the bucket gap to the
    * previous demand; the flat forecast per period is z/p. Init: z = q₁,
    * p = 1 (the first interval is unobservable — documented convention).
    * Input rows are (keys, integral `bucketCol`, `qtyCol`) DEMAND points
    * (zero periods are implicit — no spine materialization, the whole
    * scale point). Output ONE row per key: n_demands, level, interval,
    * forecast. Same keyed O(1)-state fold + recursive-CTE exact oracle
    * contract as [[holtSmooth]].
    */
  def crostonSmooth(df: DataFrame, keys: Seq[String], bucketCol: String,
                    qtyCol: String, alpha: Double,
                    numPartitions: Int = 0): DataFrame = {
    require(keys.nonEmpty, "crostonSmooth needs series keys")
    require(alpha > 0 && alpha < 1, s"alpha=$alpha must be in (0, 1)")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val spark = df.sparkSession
    val parts = if (numPartitions > 0) numPartitions
                else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = df
      .where(col(qtyCol).isNotNull)
      .select((keys.map(col) :+ col(bucketCol).cast(LongType).as("__cr_b")
        :+ col(qtyCol).cast(DoubleType).as("__cr_q")): _*)
      .repartition(parts, keys.map(col): _*)
      .sortWithinPartitions((keys :+ "__cr_b").map(col): _*)
    val keyFields = keys.map(k => sorted.schema(k))
    val schema = StructType(keyFields ++ Seq(
      StructField("n_demands", LongType), StructField("level", DoubleType),
      StructField("interval", DoubleType), StructField("forecast", DoubleType)))
    val keyIdx = keys.map(sorted.schema.fieldIndex)
    val bIdx = sorted.schema.fieldIndex("__cr_b")
    val qIdx = sorted.schema.fieldIndex("__cr_q")
    spark.createDataFrame(
      sorted.rdd.mapPartitions { rows =>
        var curKey: Seq[Any] = null
        var z = 0.0; var p = 0.0; var prevB = 0L; var n = 0L
        def emit(): Row =
          Row.fromSeq(curKey ++ Seq[Any](n, z, p, z / p))
        new Iterator[Row] {
          private var pending: Row = null
          private var done = false
          private def advance(): Unit = {
            while (pending == null && rows.hasNext) {
              val r = rows.next()
              val k = keyIdx.map(r.get)
              if (k != curKey) {
                if (curKey != null) pending = emit()
                curKey = k; z = r.getDouble(qIdx); p = 1.0
                prevB = r.getLong(bIdx); n = 1L
              } else {
                val q = r.getDouble(qIdx)
                val b = r.getLong(bIdx)
                z = alpha * q + (1.0 - alpha) * z
                p = alpha * (b - prevB).toDouble + (1.0 - alpha) * p
                prevB = b
                n += 1L
              }
            }
            if (pending == null && !done && !rows.hasNext && curKey != null) {
              pending = emit(); done = true
            }
          }
          def hasNext: Boolean = { advance(); pending != null }
          def next(): Row = { advance(); val r = pending; pending = null; r }
        }
      }, schema)
  }

  /** Per-row Holt path: the same level/trend recurrence as [[holtSmooth]]
    * but emitting the smoothed state at EVERY row — what a dashboard
    * actually plots. Same keyed O(1)-state sorted scan; null targets
    * emit null state and leave the fold untouched.
    */
  def holtPath(df: DataFrame, keys: Seq[String], order: Seq[String],
               target: String, alpha: Double, gamma: Double,
               numPartitions: Int = 0): DataFrame = {
    require(keys.nonEmpty, "holtPath needs series keys")
    require(alpha > 0 && alpha < 1, s"alpha=$alpha must be in (0, 1)")
    require(gamma > 0 && gamma < 1, s"gamma=$gamma must be in (0, 1)")
    require(!df.columns.contains("level") && !df.columns.contains("trend"),
      "holtPath: input already has a level/trend column")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val spark = df.sparkSession
    val parts = if (numPartitions > 0) numPartitions
                else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = df.withColumn("__holt_in", col(target).cast(DoubleType))
      .repartition(parts, keys.map(col): _*)
      .sortWithinPartitions((keys ++ order).map(col): _*)
    val schema = StructType(df.schema.fields ++
      Seq(StructField("level", DoubleType), StructField("trend", DoubleType)))
    val keyIdx = keys.map(sorted.schema.fieldIndex)
    val tIdx = sorted.schema.fieldIndex("__holt_in")
    spark.createDataFrame(
      sorted.rdd.mapPartitions { rows =>
        var curKey: Seq[Any] = null
        var level = 0.0; var trend = 0.0; var seen = false
        rows.map { r =>
          val k = keyIdx.map(r.get)
          if (k != curKey) { curKey = k; seen = false }
          val state: Seq[Any] =
            if (r.isNullAt(tIdx)) Seq(null, null)
            else {
              val x = r.getDouble(tIdx)
              if (!seen) { level = x; trend = 0.0; seen = true }
              else {
                val nl = alpha * x + (1.0 - alpha) * (level + trend)
                trend = gamma * (nl - level) + (1.0 - gamma) * trend
                level = nl
              }
              Seq(level, trend)
            }
          // Drop the shadow column (last) and append the state pair.
          Row.fromSeq(r.toSeq.init ++ state)
        }
      }, schema)
  }

  /** 1-D Kalman filter (local-level / random-walk-plus-noise model),
    * emitted PER ROW: the streaming state estimator behind sensor
    * denoising and online level tracking. Recurrence per observation z:
    * predict p' = p + q; gain k = p'/(p' + r); update est += k(z − est);
    * p = (1 − k)p'. Init: est = z₀, p = r, gain 1. Like [[holtPath]]
    * this is a keyed repartition + sorted in-partition scan with O(1)
    * state per series (the recurrence is not window-expressible), and
    * the DuckDB twin replays the identical IEEE fold with a recursive
    * CTE — exact parity. Null targets emit null and leave the fold
    * untouched. Note p and k depend only on (q, r, step index), never on
    * the data — the gain path is deterministic, which the spec exploits.
    */
  def kalmanPath(df: DataFrame, keys: Seq[String], order: Seq[String],
                 target: String, q: Double, r: Double,
                 numPartitions: Int = 0): DataFrame = {
    require(keys.nonEmpty, "kalmanPath needs series keys")
    require(q > 0 && r > 0, s"variances must be positive: q=$q r=$r")
    require(!df.columns.contains("estimate") && !df.columns.contains("gain"),
      "kalmanPath: input already has an estimate/gain column")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val spark = df.sparkSession
    val parts = if (numPartitions > 0) numPartitions
                else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = df.withColumn("__kal_in", col(target).cast(DoubleType))
      .repartition(parts, keys.map(col): _*)
      .sortWithinPartitions((keys ++ order).map(col): _*)
    val schema = StructType(df.schema.fields ++
      Seq(StructField("estimate", DoubleType), StructField("gain", DoubleType)))
    val keyIdx = keys.map(sorted.schema.fieldIndex)
    val tIdx = sorted.schema.fieldIndex("__kal_in")
    spark.createDataFrame(
      sorted.rdd.mapPartitions { rows =>
        var curKey: Seq[Any] = null
        var est = 0.0; var p = 0.0; var seen = false
        rows.map { row =>
          val k = keyIdx.map(row.get)
          if (k != curKey) { curKey = k; seen = false }
          val state: Seq[Any] =
            if (row.isNullAt(tIdx)) Seq(null, null)
            else {
              val z = row.getDouble(tIdx)
              if (!seen) { est = z; p = r; seen = true; Seq(est, 1.0) }
              else {
                val pp = p + q
                val kk = pp / (pp + r)
                est = est + kk * (z - est)
                p = (1.0 - kk) * pp
                Seq(est, kk)
              }
            }
          // Drop the shadow column (last) and append (estimate, gain).
          Row.fromSeq(row.toSeq.init ++ state)
        }
      }, schema)
  }

  /** GARCH(1,1) conditional-variance path with FIXED parameters, emitted
    * per row — the volatility-clustering model EWMA variance
    * ([[ewma]]-on-squares, `ts_ewma_vol`) only approximates: EWMA is the
    * degenerate ω=0, α+β=1 corner with no mean reversion, while GARCH's
    * ω term pulls quiet stretches back to the unconditional variance
    * ω/(1−α−β). Recurrence over the return series r_t (feed returns, not
    * levels): σ²_t = ω + α·r²_{t−1} + β·σ²_{t−1}, initialized at the
    * unconditional variance σ²_1 = ω/(1−α−β). σ²_t depends only on
    * PAST returns, so r_t/σ_t is a look-ahead-free standardized shock.
    * Parameter FITTING (MLE) is out of scope by design — production
    * monitoring refits offline and scores online with pinned params,
    * which is exactly this operator.
    *
    * The recurrence is not window-expressible (state multiplies by β
    * each step), so this is the documented keyed repartition + sorted
    * in-partition O(1)-state scan — same contract as [[kalmanPath]],
    * with the identical left-to-right IEEE fold replayed by the oracle's
    * recursive CTE for exact parity (the update is written `ω + α·r² +
    * β·σ²`, left-associated, on both engines). Null returns emit null
    * and leave the state untouched.
    */
  def garchPath(df: DataFrame, keys: Seq[String], order: Seq[String],
                target: String, omega: Double, alpha: Double, beta: Double,
                numPartitions: Int = 0): DataFrame = {
    require(keys.nonEmpty, "garchPath needs series keys")
    require(omega > 0, s"omega=$omega must be positive")
    require(alpha >= 0 && beta >= 0 && alpha + beta < 1,
      s"need alpha,beta >= 0 and alpha+beta < 1 for stationarity: alpha=$alpha beta=$beta")
    require(!df.columns.contains("sigma2"),
      "garchPath: input already has a sigma2 column")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val spark = df.sparkSession
    val parts = if (numPartitions > 0) numPartitions
                else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = df.withColumn("__garch_in", col(target).cast(DoubleType))
      .repartition(parts, keys.map(col): _*)
      .sortWithinPartitions((keys ++ order).map(col): _*)
    val schema = StructType(df.schema.fields :+ StructField("sigma2", DoubleType))
    val keyIdx = keys.map(sorted.schema.fieldIndex)
    val tIdx = sorted.schema.fieldIndex("__garch_in")
    val uncond = omega / (1.0 - alpha - beta)
    spark.createDataFrame(
      sorted.rdd.mapPartitions { rows =>
        var curKey: Seq[Any] = null
        var s2 = 0.0; var prevR = 0.0; var seen = false
        rows.map { row =>
          val k = keyIdx.map(row.get)
          if (k != curKey) { curKey = k; seen = false }
          val state: Any =
            if (row.isNullAt(tIdx)) null
            else {
              val r = row.getDouble(tIdx)
              if (!seen) { s2 = uncond; seen = true }
              else s2 = omega + alpha * (prevR * prevR) + beta * s2
              prevR = r
              s2
            }
          // Drop the shadow column (last) and append sigma2.
          Row.fromSeq(row.toSeq.init :+ state)
        }
      }, schema)
  }

  /** Two-threshold hysteresis (Schmitt-trigger) alert state per key —
    * the debounced alarm every monitoring stack runs instead of a single
    * threshold (which chatters when the signal hovers at the line):
    * enter the alert state when x > hi, leave it only when x < lo
    * (lo <= x <= hi holds the current state). The state recurrence is
    * non-window-expressible (same family as [[cusumReset]]), so a keyed
    * repartition + sorted in-partition scan with one Boolean of state.
    * Feed a PRE-ROUNDED x (e.g. a 4dp |z|): the state flips on float
    * comparisons, and rounding fences on both engines make every
    * comparison decision engine-identical. Null x emits null and leaves
    * the state unchanged. The DuckDB twin replays the fold with a
    * recursive CTE.
    */
  def hysteresis(df: DataFrame, keys: Seq[String], order: Seq[String],
                 target: String, lo: Double, hi: Double,
                 outCol: String = "in_alert", numPartitions: Int = 0): DataFrame = {
    require(keys.nonEmpty, "hysteresis needs series keys")
    require(lo <= hi, s"hysteresis needs lo <= hi, got $lo > $hi")
    require(!df.columns.contains(outCol), s"hysteresis: column '$outCol' exists")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val spark = df.sparkSession
    val parts = if (numPartitions > 0) numPartitions
                else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = df.withColumn("__hy_x", col(target).cast(DoubleType))
      .repartition(parts, keys.map(col): _*)
      .sortWithinPartitions((keys ++ order).map(col): _*)
    val schema = StructType(df.schema.fields :+ StructField(outCol, LongType))
    val keyIdx = keys.map(sorted.schema.fieldIndex)
    val xI = sorted.schema.fieldIndex("__hy_x")
    spark.createDataFrame(
      sorted.rdd.mapPartitions { rows =>
        var curKey: Seq[Any] = null
        var in = 0L
        rows.map { r =>
          val k = keyIdx.map(r.get)
          if (k != curKey) { curKey = k; in = 0L }
          val out: Any =
            if (r.isNullAt(xI)) null
            else {
              val x = r.getDouble(xI)
              in = if (in == 0L) { if (x > hi) 1L else 0L }
                   else { if (x < lo) 0L else 1L }
              in
            }
          Row.fromSeq(r.toSeq.init :+ out)
        }
      }, schema)
  }

  /** One-sided upper CUSUM with reset (the SPC control-chart statistic):
    * s_t = max(0, s_{t-1} + (x_t - target_t - slack_t)), emitted PER ROW.
    * The reset (max with 0) makes the recurrence non-window-expressible,
    * so like [[ewmaRecursive]] it's a keyed repartition + sorted
    * in-partition scan with O(1) state; target/slack ride along as row
    * columns (typically per-series mean and a fraction of sigma, joined
    * on beforehand). Null x, target or slack passes the previous state
    * through unchanged and emits null. The DuckDB twin replays the fold
    * with a recursive CTE — exact parity (see ts_holt_forecast).
    */
  def cusumReset(df: DataFrame, keys: Seq[String], order: Seq[String],
                 target: String, targetMean: String, slack: String,
                 outCol: String = "cusum_hi", numPartitions: Int = 0): DataFrame = {
    require(keys.nonEmpty, "cusumReset needs series keys")
    require(!df.columns.contains(outCol), s"cusumReset: column '$outCol' exists")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val spark = df.sparkSession
    val parts = if (numPartitions > 0) numPartitions
                else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val shadows = Seq(target, targetMean, slack).map(c => col(c).cast(DoubleType))
    val sorted = df
      .withColumn("__cu_x", shadows(0)).withColumn("__cu_m", shadows(1))
      .withColumn("__cu_k", shadows(2))
      .repartition(parts, keys.map(col): _*)
      .sortWithinPartitions((keys ++ order).map(col): _*)
    val schema = StructType(df.schema.fields :+ StructField(outCol, DoubleType))
    val keyIdx = keys.map(sorted.schema.fieldIndex)
    val xI = sorted.schema.fieldIndex("__cu_x")
    val mI = sorted.schema.fieldIndex("__cu_m")
    val kI = sorted.schema.fieldIndex("__cu_k")
    spark.createDataFrame(
      sorted.rdd.mapPartitions { rows =>
        var curKey: Seq[Any] = null
        var s = 0.0
        rows.map { r =>
          val k = keyIdx.map(r.get)
          if (k != curKey) { curKey = k; s = 0.0 }
          val out: Any =
            if (r.isNullAt(xI) || r.isNullAt(mI) || r.isNullAt(kI)) null
            else {
              s = math.max(0.0, s + (r.getDouble(xI) - r.getDouble(mI) - r.getDouble(kI)))
              s
            }
          // Drop the three shadow columns (last) and append the statistic.
          Row.fromSeq(r.toSeq.dropRight(3) :+ out)
        }
      }, schema)
  }

  /** Additive Holt-Winters (triple exponential) smoothing per key — the
    * seasonal member of the smoothing family (SES = [[ewma]], double =
    * [[holtSmooth]]): with m = `period` and idx = (observation# - 1) % m,
    *   fitted = l + b + s[idx]            (one-step-ahead, null on row 1)
    *   l' = α(x − s[idx]) + (1−α)(l + b)
    *   b' = β(l' − l) + (1−β)b
    *   s[idx]' = γ(x − l') + (1−γ)s[idx]
    * initialized l = x₁, b = 0, s = 0⃗ (simple-init convention; the first
    * m observations warm the seasonal vector). Non-window-expressible
    * (vector state), so a keyed repartition + sorted scan with O(m)
    * state; the DuckDB twin replays the fold in a recursive CTE carrying
    * the seasonal LIST via index-aware list_transform — exact parity.
    * 1−α etc. are COMPUTED (1.0 - alpha), never pre-folded literals: the
    * IEEE result differs from the decimal literal in the last ulp, and
    * the SQL twin writes the same subtraction. A null target emits null
    * outputs and leaves state AND the observation counter unchanged.
    */
  def holtWinters(df: DataFrame, keys: Seq[String], order: Seq[String],
                  target: String, period: Int,
                  alpha: Double, beta: Double, gamma: Double,
                  numPartitions: Int = 0): DataFrame = {
    require(keys.nonEmpty, "holtWinters needs series keys")
    require(period >= 2, s"seasonal period must be >= 2, got $period")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val spark = df.sparkSession
    val parts = if (numPartitions > 0) numPartitions
                else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = df.withColumn("__hw_x", col(target).cast(DoubleType))
      .repartition(parts, keys.map(col): _*)
      .sortWithinPartitions((keys ++ order).map(col): _*)
    val schema = StructType(df.schema.fields ++ Seq(
      StructField("hw_fitted", DoubleType), StructField("hw_level", DoubleType),
      StructField("hw_trend", DoubleType), StructField("hw_seasonal", DoubleType)))
    val keyIdx = keys.map(sorted.schema.fieldIndex)
    val xI = sorted.schema.fieldIndex("__hw_x")
    val (omA, omB, omG) = (1.0 - alpha, 1.0 - beta, 1.0 - gamma)
    spark.createDataFrame(
      sorted.rdd.mapPartitions { rows =>
        var curKey: Seq[Any] = null
        var l = 0.0; var b = 0.0; var cnt = 0L
        var s: Array[Double] = null
        rows.map { r =>
          val k = keyIdx.map(r.get)
          if (k != curKey) { curKey = k; cnt = 0L; s = Array.fill(period)(0.0) }
          val out: Seq[Any] =
            if (r.isNullAt(xI)) Seq(null, null, null, null)
            else {
              val x = r.getDouble(xI)
              cnt += 1
              val idx = ((cnt - 1) % period).toInt
              if (cnt == 1L) {
                l = x; b = 0.0
                Seq[Any](null, l, b, s(idx))
              } else {
                val sI = s(idx)
                val fitted = l + b + sI
                val lNew = alpha * (x - sI) + omA * (l + b)
                b = beta * (lNew - l) + omB * b
                l = lNew
                s(idx) = gamma * (x - l) + omG * sI
                Seq[Any](fitted, l, b, s(idx))
              }
            }
          Row.fromSeq(r.toSeq.init ++ out)
        }
      }, schema)
  }

  /** MULTIPLICATIVE Holt-Winters (Winters 1960): the seasonal component
    * SCALES the level instead of shifting it — the right model when the
    * weekly swing grows with the level (traffic, revenue), where the
    * additive fold under-corrects high seasons at high levels. Same
    * keyed O(1)-state recursion contract as [[holtWinters]] (identical
    * per-key IEEE op order, so a recursive-CTE oracle replays it
    * exactly): fitted = (l+b)·s, l' = α·x/s + (1−α)(l+b),
    * b' = β(l'−l) + (1−β)b, s' = γ·x/l' + (1−γ)s, seasonals start at 1.
    * The target must be strictly positive (ratios); the caller's
    * aggregation contract, as with the additive variant's daily means.
    */
  def holtWintersMult(df: DataFrame, keys: Seq[String], order: Seq[String],
                      target: String, period: Int,
                      alpha: Double, beta: Double, gamma: Double,
                      numPartitions: Int = 0): DataFrame = {
    require(keys.nonEmpty, "holtWintersMult needs series keys")
    require(period >= 2, s"seasonal period must be >= 2, got $period")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val spark = df.sparkSession
    val parts = if (numPartitions > 0) numPartitions
                else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = df.withColumn("__hw_x", col(target).cast(DoubleType))
      .repartition(parts, keys.map(col): _*)
      .sortWithinPartitions((keys ++ order).map(col): _*)
    val schema = StructType(df.schema.fields ++ Seq(
      StructField("hw_fitted", DoubleType), StructField("hw_level", DoubleType),
      StructField("hw_trend", DoubleType), StructField("hw_seasonal", DoubleType)))
    val keyIdx = keys.map(sorted.schema.fieldIndex)
    val xI = sorted.schema.fieldIndex("__hw_x")
    val (omA, omB, omG) = (1.0 - alpha, 1.0 - beta, 1.0 - gamma)
    spark.createDataFrame(
      sorted.rdd.mapPartitions { rows =>
        var curKey: Seq[Any] = null
        var l = 0.0; var b = 0.0; var cnt = 0L
        var s: Array[Double] = null
        rows.map { r =>
          val k = keyIdx.map(r.get)
          if (k != curKey) { curKey = k; cnt = 0L; s = Array.fill(period)(1.0) }
          val out: Seq[Any] =
            if (r.isNullAt(xI)) Seq(null, null, null, null)
            else {
              val x = r.getDouble(xI)
              cnt += 1
              val idx = ((cnt - 1) % period).toInt
              if (cnt == 1L) {
                l = x; b = 0.0
                Seq[Any](null, l, b, s(idx))
              } else {
                val sI = s(idx)
                val fitted = (l + b) * sI
                val lNew = alpha * (x / sI) + omA * (l + b)
                b = beta * (lNew - l) + omB * b
                l = lNew
                s(idx) = gamma * (x / lNew) + omG * sI
                Seq[Any](fitted, l, b, s(idx))
              }
            }
          Row.fromSeq(r.toSeq.init ++ out)
        }
      }, schema)
  }

  /** Token-bucket rate-limit replay (the API-gateway admission audit):
    * per key the bucket starts FULL; each event first refills
    * tokens = min(capacity, tokens + refillPerSec * (Δt_us / 1e6)),
    * then admits iff tokens >= 1 (consuming one). The clamped recurrence
    * is non-window-expressible (same family as [[cusumReset]]), so it
    * runs as a keyed repartition + sorted in-partition scan with O(1)
    * state; the DuckDB twin replays the identical left-to-right IEEE
    * fold via a recursive CTE — exact parity. `tsCol` must be a numeric
    * microsecond column (e.g. epochUs of the event time).
    */
  def tokenBucket(df: DataFrame, keys: Seq[String], order: Seq[String],
                  tsCol: String, capacity: Double, refillPerSec: Double,
                  tokensCol: String = "tokens", admitCol: String = "admitted",
                  numPartitions: Int = 0): DataFrame = {
    require(keys.nonEmpty, "tokenBucket needs series keys")
    require(capacity >= 1.0, "tokenBucket: capacity must admit at least one event")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val spark = df.sparkSession
    val parts = if (numPartitions > 0) numPartitions
                else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = df
      .withColumn("__tb_ts", col(tsCol).cast(LongType))
      .repartition(parts, keys.map(col): _*)
      .sortWithinPartitions((keys ++ order).map(col): _*)
    val schema = StructType(df.schema.fields :+
      StructField(tokensCol, DoubleType) :+ StructField(admitCol, LongType))
    val keyIdx = keys.map(sorted.schema.fieldIndex)
    val tsI = sorted.schema.fieldIndex("__tb_ts")
    spark.createDataFrame(
      sorted.rdd.mapPartitions { rows =>
        var curKey: Seq[Any] = null
        var tokens = 0.0
        var lastTs = 0L
        rows.map { r =>
          val k = keyIdx.map(r.get)
          val t = r.getLong(tsI)
          if (k != curKey) { curKey = k; tokens = capacity }
          else {
            tokens = math.min(capacity,
              tokens + refillPerSec * ((t - lastTs).toDouble / 1000000.0))
          }
          lastTs = t
          val admitted = if (tokens >= 1.0) { tokens -= 1.0; 1L } else 0L
          // Drop the shadow ts column (last) and append (tokens, admitted).
          // Seq[Any]: Seq(Double, Long) would infer Seq[Double] and
          // silently WIDEN the Long — the encoder then rejects it.
          Row.fromSeq(r.toSeq.init ++ Seq[Any](tokens, admitted))
        }
      }, schema)
  }

  /** Gap-based sessionization: a new session starts when the time since
    * the previous event of the same key exceeds `gap` (in the unit of the
    * numeric `tsCol`, e.g. microseconds). Session ids are 1-based and
    * consecutive per key — two window functions over one sort, no
    * self-join, state O(1) per row.
    */
  def sessionize(df: DataFrame, keys: Seq[String], order: Seq[String],
                 tsCol: String, gap: Long,
                 outCol: String = "session_id"): DataFrame = {
    val w = seriesWindow(keys, order)
    val prev = lag(col(tsCol), 1).over(w)
    val isNew = when(prev.isNull || col(tsCol) - prev > gap, 1L).otherwise(0L)
    df.withColumn(outCol,
      sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Gap/outage report: adjacent-sample intervals longer than `minGap`
    * (unit of the numeric `tsCol`, e.g. microseconds) — the monitoring
    * dual of [[sessionize]]: instead of grouping the data we emit the
    * HOLES, one row per (gap_start, gap_end, gap span). One keyed lag +
    * a filter; no join against a spine, so the scan stays single-pass at
    * any scale (the spine approach materializes every expected bucket).
    */
  def gapReport(df: DataFrame, keys: Seq[String], order: Seq[String],
                tsCol: String, minGap: Long): DataFrame = {
    val w = seriesWindow(keys, order)
    df.withColumn("gap_start", lag(col(tsCol), 1).over(w))
      .where(col("gap_start").isNotNull && col(tsCol) - col("gap_start") > minGap)
      .withColumn("gap_end", col(tsCol))
      .withColumn("gap_span", col(tsCol) - col("gap_start"))
      .select((keys.map(col) ++ Seq(col("gap_start"), col("gap_end"), col("gap_span"))): _*)
  }

  /** Monotonic-counter rate (the Prometheus `rate()` ingest primitive):
    * per-sample increase / elapsed seconds, where a DECREASE is read as a
    * counter RESET (process restart) and the post-reset value counts as
    * the whole increase. First sample per key and zero-elapsed duplicate
    * timestamps yield null. One keyed lag window, pure expressions.
    */
  def counterRate(df: DataFrame, keys: Seq[String], order: Seq[String],
                  tsUsCol: String, valueCol: String,
                  outCol: String = "rate_per_s"): DataFrame = {
    val w = seriesWindow(keys, order)
    val delta = col(valueCol) - lag(col(valueCol), 1).over(w)
    val dtUs  = col(tsUsCol) - lag(col(tsUsCol), 1).over(w)
    val increase = when(delta < 0, col(valueCol)).otherwise(delta)
    df.withColumn(outCol,
      graft.functions.CleanFunctions.round4(
        safeDiv(increase, dtUs.cast("double") / lit(1e6))))
  }

  /** M4 downsampling (Jugel et al., VLDB 2014): per (key, time bucket)
    * keep first/last/min/max of the value — the four samples that make a
    * line-plot of the bucket pixel-exact. The standard way to feed a
    * dashboard from a 100 TB series without shipping raw points: output
    * is O(#buckets), error-free for rendering. One keyed window sort
    * (row_number + unordered count share the partition) + one grouped
    * agg; ties on equal timestamps broken by `order`'s tail for
    * cross-engine determinism.
    */
  def m4Downsample(df: DataFrame, keys: Seq[String], order: Seq[String],
                   tsCol: String, valueCol: String, bucketSpan: Long): DataFrame = {
    val withBucket = df.withColumn("bucket", expr(s"$tsCol div $bucketSpan"))
    val pKeys = (keys :+ "bucket").map(col)
    val wOrd  = Window.partitionBy(pKeys: _*).orderBy(order.map(col): _*)
    val wAll  = Window.partitionBy(pKeys: _*)
    withBucket
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("cnt", count(lit(1)).over(wAll))
      .groupBy(pKeys: _*)
      .agg(
        min(when(col("rn") === 1, col(valueCol))).as("v_first"),
        min(when(col("rn") === col("cnt"), col(valueCol))).as("v_last"),
        min(col(valueCol)).as("v_min"),
        max(col(valueCol)).as("v_max"),
        count(col(valueCol)).as("n"))
  }

  /** SCD Type-2 dimension build from a change-event stream: collapse
    * consecutive equal values of `attrCol` per key, then emit validity
    * intervals [valid_from, valid_to) with `is_current` on the open one —
    * the warehouse pattern for tracking attribute history. Two keyed
    * windows (change detection, then lead over the change rows); the
    * second window's input is already reduced to change points, so its
    * sort is over a far smaller set. Null attrs are treated as a value
    * (null-safe comparison), matching warehouse "unknown" semantics.
    */
  def scd2(df: DataFrame, keys: Seq[String], order: Seq[String],
           attrCol: String, tsCol: String): DataFrame = {
    val w = seriesWindow(keys, order)
    val prev = lag(col(attrCol), 1).over(w)
    val changes = df
      .withColumn("__prev", prev)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1 || !(col(attrCol) <=> col("__prev")))
    val w2 = seriesWindow(keys, order)
    changes
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w2))
      .withColumn("is_current", col("valid_to").isNull.cast("long"))
      .select((keys.map(col) ++ Seq(col(attrCol), col("valid_from"),
        col("valid_to"), col("is_current"))): _*)
  }

  /** Two-state burst-detection Viterbi forward pass (Kleinberg 2002,
    * enumerating variant): per key, fold the per-bucket emission costs
    * `e0Col` (base state) / `e1Col` (burst state) through
    *   C0ₜ = min(C0ₜ₋₁, C1ₜ₋₁) + e0ₜ
    *   C1ₜ = min(C0ₜ₋₁ + γ, C1ₜ₋₁) + e1ₜ
    * (γ = the cost of ENTERING the burst state; leaving is free) and
    * emit the running costs plus the forward-filtered state decision
    * (c1 < c0). Init: C0 = e0, C1 = γ + e1. Emission costs are
    * pre-quantized by the caller, so the fold is pure adds and exact
    * mins — the recursive-CTE oracle replays the identical IEEE ops.
    * Same scale shape as [[holtPath]]: keyed repartition + sorted
    * in-partition scan, O(1) state per key. The full-Viterbi backtrack
    * is deliberately NOT done — the forward-filtered decision is the
    * streaming-capable variant (no unbounded path state), which is the
    * posture that matters at fleet scale.
    */
  /** Exponential-decay event-count fold (the Hawkes-process excitation
    * recursion): per key over ordered events, A₁ = 0 and
    * Aₖ = dₖ·(Aₖ₋₁ + 1), where `decayCol` carries the pre-computed
    * inter-event decay dₖ = e^(−β·Δtₖ). A is the exponentially-decayed
    * count of prior events as seen at each arrival — the self-exciting
    * intensity core λ = μ + α·A. The transcendental lives OUTSIDE the
    * fold (a quantized column both engines compute identically); inside
    * is one multiply-add per event, so the recursive-CTE oracle replays
    * it exactly. Null decay (the series' first row has no Δt) resets
    * nothing — A simply starts at 0 per key. Same scale shape as
    * [[holtPath]]: keyed repartition, sorted in-partition scan, O(1)
    * state.
    */
  def hawkesPath(df: DataFrame, keys: Seq[String], order: Seq[String],
                 decayCol: String, numPartitions: Int = 0): DataFrame = {
    require(keys.nonEmpty, "hawkesPath needs series keys")
    require(!df.columns.contains("excitation"),
      "hawkesPath: input already has an excitation column")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val spark = df.sparkSession
    val parts = if (numPartitions > 0) numPartitions
                else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = df
      .repartition(parts, keys.map(col): _*)
      .sortWithinPartitions((keys ++ order).map(col): _*)
    val schema = StructType(df.schema.fields :+
      StructField("excitation", DoubleType))
    val keyIdx = keys.map(sorted.schema.fieldIndex)
    val dIdx = sorted.schema.fieldIndex(decayCol)
    spark.createDataFrame(
      sorted.rdd.mapPartitions { rows =>
        var curKey: Seq[Any] = null
        var a = 0.0; var seen = false
        rows.map { r =>
          val k = keyIdx.map(r.get)
          if (k != curKey) { curKey = k; seen = false }
          if (!seen) { a = 0.0; seen = true }
          else if (!r.isNullAt(dIdx)) a = r.getDouble(dIdx) * (a + 1.0)
          Row.fromSeq(r.toSeq :+ a)
        }
      }, schema)
  }

  def burstPath(df: DataFrame, keys: Seq[String], order: Seq[String],
                e0Col: String, e1Col: String, gamma: Double,
                numPartitions: Int = 0): DataFrame = {
    require(keys.nonEmpty, "burstPath needs series keys")
    require(gamma >= 0, s"gamma=$gamma must be nonnegative")
    require(!df.columns.contains("c0") && !df.columns.contains("c1"),
      "burstPath: input already has a c0/c1 column")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val spark = df.sparkSession
    val parts = if (numPartitions > 0) numPartitions
                else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = df
      .repartition(parts, keys.map(col): _*)
      .sortWithinPartitions((keys ++ order).map(col): _*)
    val schema = StructType(df.schema.fields ++
      Seq(StructField("c0", DoubleType), StructField("c1", DoubleType),
        StructField("in_burst", LongType)))
    val keyIdx = keys.map(sorted.schema.fieldIndex)
    val e0Idx = sorted.schema.fieldIndex(e0Col)
    val e1Idx = sorted.schema.fieldIndex(e1Col)
    spark.createDataFrame(
      sorted.rdd.mapPartitions { rows =>
        var curKey: Seq[Any] = null
        var c0 = 0.0; var c1 = 0.0; var seen = false
        rows.map { r =>
          val k = keyIdx.map(r.get)
          if (k != curKey) { curKey = k; seen = false }
          val state: Seq[Any] =
            if (r.isNullAt(e0Idx) || r.isNullAt(e1Idx)) Seq(null, null, null)
            else {
              val e0 = r.getDouble(e0Idx); val e1 = r.getDouble(e1Idx)
              if (!seen) { c0 = e0; c1 = gamma + e1; seen = true }
              else {
                val n0 = math.min(c0, c1) + e0
                val n1 = math.min(c0 + gamma, c1) + e1
                c0 = n0; c1 = n1
              }
              Seq(c0, c1, if (c1 < c0) 1L else 0L)
            }
          Row.fromSeq(r.toSeq ++ state)
        }
      }, schema)
  }

  /** Banded DTW distance (Sakoe-Chiba band) between two 1-D series:
    * D(i,j) = |a_i − b_j| + min(D(i−1,j), D(i,j−1), D(i−1,j−1)) over
    * cells with |i − j| ≤ band, D(1,1) = |a₁ − b₁|. The DP accumulates
    * plain IEEE adds and order-independent 3-way mins along anti-
    * diagonals, so a recursive-CTE replay that schedules the same
    * wavefront computes bit-identical doubles (the burstPath/holtPath
    * exactness argument in 2-D). O(n·band) time, two O(min(n,m))
    * diagonal rows of memory. Returns NaN when the (n,m) corner is
    * band-unreachable — callers widen the band to ≥ |n − m|.
    */
  def dtwBanded(a: Array[Double], b: Array[Double], band: Int): Double = {
    require(band >= 0, s"band=$band must be nonnegative")
    val n = a.length; val m = b.length
    if (n == 0 || m == 0) return Double.NaN
    val inf = Double.PositiveInfinity
    // prev = diag anti-k-1, cur = diag anti-k, indexed by i (1-based).
    var prev = Array.fill(n + 2)(inf)
    var cur = Array.fill(n + 2)(inf)
    for (k <- 2 to n + m) {
      val next = Array.fill(n + 2)(inf)
      val iLo = math.max(1, k - m); val iHi = math.min(n, k - 1)
      var i = iLo
      while (i <= iHi) {
        val j = k - i
        if (math.abs(i - j) <= band) {
          val c = math.abs(a(i - 1) - b(j - 1))
          next(i) =
            if (i == 1 && j == 1) c
            else {
              // cur holds diag k-1: (i-1, j) and (i, j-1); prev holds
              // diag k-2: (i-1, j-1).
              val p = math.min(math.min(cur(i - 1), cur(i)), prev(i - 1))
              if (p == inf) inf else c + p
            }
        }
        i += 1
      }
      prev = cur; cur = next
    }
    if (cur(n) == inf) Double.NaN else cur(n)
  }
}
