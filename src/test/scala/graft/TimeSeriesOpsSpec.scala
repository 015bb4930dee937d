package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{TimeSeriesOps => TS}
import graft.sources.Tables

class TimeSeriesOpsSpec extends AnyFunSuite {
  import SparkTestSession.{sfDir, spark, withShufflePartitions}

  private lazy val ev = Tables.events(spark, sfDir).cache()

  test("recursive EWMA matches a driver-side reference, nulls age the weights") {
    import spark.implicits._
    val vals: Seq[Option[Double]] =
      Seq(Some(10.0), Some(12.0), None, Some(8.0), Some(9.0), None, None, Some(20.0))
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, "u", v) }
      .toDF("event_id", "user_id", "value")
    val r = TS.ewmaRecursive(df, Seq("user_id"), Seq("event_id"), "value", alpha = 0.3)
      .orderBy("event_id").select("ewma").collect().map(x => Option(x.get(0)).map(_.asInstanceOf[Double]))
    // Reference recurrence, computed independently here.
    var (num, den) = (0.0, 0.0)
    val want = vals.map { v =>
      num *= 0.7; den *= 0.7
      v.foreach { x => num += x; den += 1.0 }
      if (den == 0.0) None else Some(num / den)
    }
    r.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g.isDefined == w.isDefined, s"row $i null mismatch")
      for (gv <- g; wv <- w) assert(gv == wv, s"row $i: $gv != $wv")
    }
  }

  test("recursive EWMA is partition-count invariant and converges to the kernel") {
    val base = ev.select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val r1 = TS.ewmaRecursive(base, Seq("user_id"), Seq("ts", "event_id"), "value", alpha = 0.3)
      .select("event_id", "ewma")
    def run(p: Int) = withShufflePartitions(p) {
      TS.ewmaRecursive(base, Seq("user_id"), Seq("ts", "event_id"), "value", alpha = 0.3)
        .select("event_id", "ewma").collect().toSet
    }
    assert(run(1) == run(7), "recursive EWMA must not depend on partitioning")
    // Past 64 rows of history, the truncated kernel's dropped tail is
    // below (0.7)^64 ~ 1e-10 of the mass: the two formulations agree.
    val kernel = TS.ewma(base, Seq("user_id"), Seq("ts", "event_id"), "value",
      alpha = 0.3, span = 64, outCol = "ewma_k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val joined = kernel.withColumn("rn", row_number().over(w)).filter(col("rn") > 64)
      .select(col("event_id"), col("ewma_k"))
      .join(r1, "event_id")
    val maxDiff = joined.select(max(abs(col("ewma_k") - col("ewma")))).head().getDouble(0)
    assert(maxDiff < 1e-8, s"kernel/recursive divergence $maxDiff")
  }

  test("time features match pandas semantics (Mon=0, ISO week)") {
    import spark.implicits._
    val df = Seq(("2024-01-01 10:30:00"), ("2024-01-07 23:00:00")) // Mon, Sun
      .toDF("s").withColumn("ts", to_timestamp(col("s")))
    val r = TS.addTimeFeatures(df, "ts")
      .select("hour", "dayofweek", "is_weekend", "weekofyear", "quarter").collect()
    assert(r(0).getLong(0) == 10 && r(0).getLong(1) == 0 && r(0).getLong(2) == 0)
    assert(r(1).getLong(1) == 6 && r(1).getLong(2) == 1)
    assert(r(0).getLong(3) == 1 && r(0).getLong(4) == 1)
  }

  test("lag features shift within series, never across users") {
    val lagged = TS.addLags(ev, Seq("user_id"), Seq("ts", "event_id"), "value", Seq(1))
    // first row per user has null lag; all others equal previous value
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val check = lagged.withColumn("expected", lag(col("value"), 1).over(w))
      .filter((col("value_lag_1") =!= col("expected")) ||
        (col("value_lag_1").isNull =!= col("expected").isNull))
    assert(check.count() == 0)
    val firsts = lagged.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    assert(firsts.filter(col("value_lag_1").isNotNull).count() == 0)
  }

  test("rolling mean uses PAST rows only (shift-1), min_periods=1") {
    val r = TS.addRolling(ev, Seq("user_id"), Seq("ts", "event_id"), "value", Seq(3), Seq("mean"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val withRn = r.withColumn("rn", row_number().over(w))
    // row 1: empty frame -> null; row 2: mean of exactly the previous value
    assert(withRn.filter(col("rn") === 1 && col("value_roll_mean_3h").isNotNull).count() == 0)
    val second = withRn.filter(col("rn") === 2)
      .withColumn("prev", lag(col("value"), 1).over(w))
    assert(second.filter(abs(col("value_roll_mean_3h") - col("prev")) > 1e-9).count() == 0)
  }

  test("ffill fills nulls with last prior value, residual zero") {
    val nulled = ev.withColumn("v",
      when(col("event_type") === "click", lit(null)).otherwise(col("value")))
    val filled = TS.fill(nulled, Seq("user_id"), Seq("ts", "event_id"), "v", "ffill")
    assert(filled.filter(col("v").isNull).count() == 0)
  }

  test("minmax scale lands in [0,1] per user") {
    val r = TS.minMaxScale(ev, Seq("user_id"), "value", "scaled")
    assert(r.filter(col("scaled") < 0 || col("scaled") > 1).count() == 0)
  }

  test("sequences: count = seriesLen - L + 1 per user, arrays are length L") {
    val L = 24
    val seq = TS.sequences(ev.withColumn("vs", col("value")), Seq("user_id"),
      Seq("ts", "event_id"), "vs", L)
    val perUser = ev.groupBy("user_id").count()
      .join(seq.groupBy("user_id").agg(count(lit(1)).as("nseq")), "user_id")
    assert(perUser.filter(col("nseq") =!= col("count") - (L - 1)).count() == 0)
    assert(seq.filter(size(col("seq")) =!= L).count() == 0)
  }

  test("ewma matches the hand-computed truncated adjust-normalized value") {
    import SparkTestSession.spark
    import spark.implicits._
    val vals = Seq(1.0, 2.0, 4.0, 8.0)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, 1L, v) }.toDF("t", "k", "v")
    val got = TS.ewma(df, Seq("k"), Seq("t"), "v", alpha = 0.5, span = 3)
      .orderBy("t").select("ewma").collect().map(_.getDouble(0))
    def expect(i: Int): Double = {
      val terms = (0 to math.min(i, 2)).map(j => (math.pow(0.5, j), vals(i - j)))
      terms.map { case (w, v) => w * v }.sum / terms.map(_._1).sum
    }
    got.zipWithIndex.foreach { case (g, i) =>
      assert(math.abs(g - expect(i)) < 1e-12, s"row $i: $g vs ${expect(i)}")
    }
  }

  test("asof join picks the latest right row at or before each left ts") {
    import SparkTestSession.spark
    import spark.implicits._
    val l = Seq((1L, 1L, 10L), (2L, 1L, 20L), (3L, 1L, 5L), (4L, 2L, 20L))
      .toDF("id", "k", "t")
    val r = Seq((1L, 10L, 100.0), (1L, 15L, 150.0), (2L, 25L, 250.0))
      .toDF("k", "t", "v")
    val out = TS.asofJoin(l, r, Seq("k"), "t", Seq("v"))
      .select("id", "asof_v").collect().map(x => x.getLong(0) ->
        (if (x.isNullAt(1)) None else Some(x.getDouble(1)))).toMap
    assert(out(1).contains(100.0), "inclusive match at equal ts")
    assert(out(2).contains(150.0), "latest of several prior rows")
    assert(out(3).isEmpty, "no right row yet -> null")
    assert(out(4).isEmpty, "right row after left ts never matches")
  }

  test("salted join equals the plain join on a skewed key") {
    import SparkTestSession.spark
    import spark.implicits._
    // 90% of fact rows share one key — the skew scenario.
    val fact = (1 to 2000).map(i => (if (i % 10 == 0) i.toLong else 7L, i.toLong))
      .toDF("k", "payload")
    val dim = (1 to 2000 by 10).map(_.toLong).map(k => (k, s"d$k")).toDF("k", "attr")
      .union(Seq((7L, "d7")).toDF("k", "attr"))
    val plain = fact.join(dim, "k")
    val salted = graft.operators.JoinOps.saltedJoin(fact, dim, Seq("k"), salt = 8)
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).count() == 0 && plain.exceptAll(salted).count() == 0)
  }

  test("sessionize cuts on gap and numbers sessions per key") {
    import SparkTestSession.spark
    import spark.implicits._
    val df = Seq((1L, 1L, 0L), (2L, 1L, 100L), (3L, 1L, 1000L), (4L, 1L, 1050L),
      (5L, 2L, 0L)).toDF("id", "k", "t")
    val out = TS.sessionize(df, Seq("k"), Seq("t", "id"), "t", gap = 500L)
      .select("id", "session_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 1L))
  }

  test("dedup keep=first retains earliest event per bucket") {
    val d = TS.dedupIndex(ev, Seq("user_id"), date_trunc("hour", col("ts")),
      Seq("ts", "event_id"), "first")
    val grouped = ev.groupBy(col("user_id"), date_trunc("hour", col("ts")).as("b"))
      .agg(min_by(col("event_id"), struct(col("ts"), col("event_id"))).as("want"))
    val got = d.select(col("event_id").as("got"), col("user_id"),
      date_trunc("hour", col("ts")).as("b"))
    assert(got.join(grouped, Seq("user_id", "b")).filter(col("got") =!= col("want")).count() == 0)
  }

  test("twaResample weights by hold duration, not sample count") {
    import spark.implicits._
    // One hour, two samples: v=0 held for 54 min, v=10 held for the last
    // 6 min. Plain mean says 5; the time-weighted answer is
    // (0*54 + 10*6)/60 = 1. A cross-hour sample checks the bucket-end cap,
    // and the single trailing sample holds to ITS bucket end.
    val df = Seq(
      (1L, "u", "2026-01-01 10:00:00", 0.0),
      (2L, "u", "2026-01-01 10:54:00", 10.0),
      (3L, "u", "2026-01-01 11:12:00", 7.0)
    ).toDF("event_id", "user_id", "s", "value")
      .withColumn("ts", to_timestamp(col("s"))).drop("s")
    val out = TS.twaResample(df, Seq("user_id"), "ts", Seq("ts", "event_id"), "value")
      .orderBy("bucket").collect()
    assert(out.length == 2)
    assert(math.abs(out(0).getAs[Double]("twa") - 1.0) < 1e-12,
      s"hour-10 twa ${out(0)}") // NOT the plain mean 5.0
    assert(math.abs(out(1).getAs[Double]("twa") - 7.0) < 1e-12,
      s"hour-11 twa ${out(1)}") // lone sample holds to bucket end
  }

  test("backtestSeasonalNaive scores lag-season errors, hand-checked") {
    import spark.implicits._
    // season=2 over 6 points: forecasts exist for rows 3..6 with errors
    // (3-1, 4-2, 6-3, 8-4) = (2, 2, 3, 4).
    val df = Seq(1.0, 2.0, 3.0, 4.0, 6.0, 8.0).zipWithIndex
      .map { case (v, i) => (i.toLong, "u", v) }.toDF("event_id", "user_id", "value")
    val r = TS.backtestSeasonalNaive(df, Seq("user_id"), Seq("event_id"), "value", season = 2)
      .collect().head
    assert(r.getAs[Long]("n") == 4)
    assert(math.abs(r.getAs[Double]("mae") - 2.75) < 1e-9)
    assert(math.abs(r.getAs[Double]("rmse") - math.sqrt((4.0 + 4 + 9 + 16) / 4)) < 1e-9)
    // MAPE: |2/3| + |2/4| + |3/6| + |4/8| averaged.
    assert(math.abs(r.getAs[Double]("mape") - (2.0 / 3 + 0.5 + 0.5 + 0.5) / 4) < 1e-6)
  }

  test("interpolateTime draws the time-weighted line, edges stay null") {
    import spark.implicits._
    // Gap of two nulls between (t=0, v=10) and (t=30min, v=40): the
    // 10-minute point sits 1/3 along -> 20, the 20-minute point 2/3 -> 30.
    // Leading and trailing nulls have no bracketing pair -> stay null.
    val rows = Seq(
      (0L, None: Option[Double]), // leading null
      (600L, Some(10.0)),
      (1200L, None: Option[Double]),  // 1/3 of [600, 2400]
      (1800L, None: Option[Double]),  // 2/3
      (2400L, Some(40.0)),
      (3000L, None: Option[Double])) // trailing null
    val df = rows.map { case (sec, v) => (sec, "u", v) }
      .toDF("sec", "user_id", "value")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val got = TS.interpolateTime(df, Seq("user_id"), "ts", Seq("ts", "sec"), "value", "interp")
      .orderBy("sec").select("interp").collect()
      .map(r => Option(r.get(0)).map(_.asInstanceOf[Double]))
    assert(got(0).isEmpty && got(5).isEmpty, "edge nulls must survive")
    assert(got(1).contains(10.0) && got(4).contains(40.0), "observed rows unchanged")
    assert(math.abs(got(2).get - 20.0) < 1e-12 && math.abs(got(3).get - 30.0) < 1e-12,
      s"time-weighted interior: ${got.toSeq}")
  }

  test("decompose reconstructs value and centers the seasonal component") {
    val r = TS.decompose(ev, Seq("user_id"), Seq("ts", "event_id"), "value",
      hour(col("ts")), trendWin = 25).cache()
    // Additive identity wherever the trend window was full.
    val broken = r.filter(col("trend").isNotNull &&
      abs(col("trend") + col("seasonal") + col("resid") - col("value")) > 1e-9)
    assert(broken.count() == 0)
    // Edge rows (first/last 12 per series) have no centered window -> null.
    assert(r.filter(col("trend").isNull).count() > 0)
    // Seasonal components average to ~0 within each series (centered).
    val off = r.filter(col("seasonal").isNotNull)
      .select(col("user_id"), hour(col("ts")).as("pos"), col("seasonal")).distinct()
      .groupBy("user_id").agg(avg("seasonal").as("m"))
      .filter(abs(col("m")) > 1e-6)
    assert(off.count() == 0)
    r.unpersist()
  }

  test("hysteresis: enters above hi, HOLDS between lo and hi, exits below lo") {
    import spark.implicits._
    val vals: Seq[Option[Double]] = Seq(
      Some(0.5),  // below lo -> 0
      Some(1.5),  // between, state 0 -> stays 0 (a single threshold at lo would fire)
      Some(2.5),  // above hi -> 1
      Some(1.5),  // between, state 1 -> HOLDS 1 (a single threshold at hi would drop)
      None,       // null: emit null, state unchanged
      Some(1.2),  // still holding
      Some(0.9),  // below lo -> 0
      Some(1.9))  // between, state 0 -> stays 0
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, "u", v) }
      .toDF("event_id", "user_id", "x")
    val got = TS.hysteresis(df, Seq("user_id"), Seq("event_id"), "x", lo = 1.0, hi = 2.0)
      .orderBy("event_id").select("in_alert").collect()
      .map(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
    val want = Seq(Some(0L), Some(0L), Some(1L), Some(1L), None,
      Some(1L), Some(0L), Some(0L))
    assert(got.toSeq == want, s"got ${got.toSeq}")
  }

  test("dtwBanded: identity is 0, hand-checked grid, shift-tolerance, band reachability") {
    // Identical series: every diagonal cell costs 0.
    assert(TS.dtwBanded(Array(1.0, 2.0, 3.0), Array(1.0, 2.0, 3.0), 1) == 0.0)
    // Hand-checked 4x5 banded grid (matches the DuckDB CTE prototype).
    assert(TS.dtwBanded(Array(1.0, 2.0, 3.0, 2.0),
      Array(1.5, 2.5, 2.0, 1.0, 0.5), 2) == 4.0)
    assert(TS.dtwBanded(Array(5.0, 1.0, 1.0),
      Array(1.5, 2.5, 2.0, 1.0, 0.5), 2) == 6.5)
    // Warping absorbs a pure 1-step phase shift almost entirely,
    // where the lockstep L1 distance stays large.
    val a = Array.tabulate(20)(i => math.sin(i / 3.0))
    val b = Array.tabulate(20)(i => math.sin((i - 1) / 3.0))
    val lockstep = a.zip(b).map { case (x, y) => math.abs(x - y) }.sum
    assert(TS.dtwBanded(a, b, 3) < 0.5 * lockstep)
    // Corner unreachable when the band is narrower than |n - m|.
    assert(TS.dtwBanded(Array(1.0), Array(1.0, 1.0, 1.0, 1.0), 1).isNaN)
    // ...and reachable again once widened to |n - m|.
    assert(TS.dtwBanded(Array(1.0), Array(1.0, 1.0, 1.0, 1.0), 3) == 0.0)
  }

  test("ts_dtw_profile: one row per user, nonnegative, zero for a fleet-shaped user") {
    val out = SparkEntry.queries("ts_dtw_profile")(
      SparkTestSession.spark, SparkTestSession.sfDir)
    // Match the query's input contract: all-null-value users drop from
    // the daily-mean grid, so they must drop from the expectation too
    // (counting from unfiltered events would fail spuriously at any sf
    // containing such a user — r14 ADVICE).
    val users = ev.where(col("value").isNotNull)
      .select("user_id").distinct().count()
    assert(out.count() == users)
    assert(out.filter(col("dtw") < 0 || col("dtw").isNull).count() == 0)
  }

  test("hysteresis is partition-count invariant") {
    val base = ev.select(col("event_id"), col("user_id"), col("value"))
    def run(p: Int) = withShufflePartitions(p) {
      TS.hysteresis(base, Seq("user_id"), Seq("event_id"), "value", lo = 40.0, hi = 60.0)
        .select("event_id", "in_alert").collect().toSet
    }
    assert(run(1) == run(7))
  }
}
