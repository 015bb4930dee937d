package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DataQuality, TimeSeriesOps}
import graft.sources.Tables

/** Hand-computed semantics tests for the operational-analytics operators
  * (gap report, counter rate, M4 downsample, SCD2, DQ audit) on crafted
  * sequences the synthetic corpus cannot guarantee to contain.
  */
class OpsSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._
  import SparkTestSession.withShufflePartitions

  private val K   = Seq("k")
  private val Ord = Seq("tsu", "id")
  private val H   = 3600L * 1000000 // one hour in micros

  test("gapReport emits exactly the holes over the threshold, per key") {
    // k=1: samples at 0h,1h,5h,6h -> one 4h gap. k=2: 0h,9h -> one 9h gap.
    val df = Seq(
      (1L, 0L * H, 1L), (2L, 1L * H, 1L), (3L, 5L * H, 1L), (4L, 6L * H, 1L),
      (5L, 0L * H, 2L), (6L, 9L * H, 2L)
    ).toDF("id", "tsu", "k")
    val gaps = TimeSeriesOps.gapReport(df, K, Ord, "tsu", 3 * H)
      .orderBy("k", "gap_start")
      .as[(Long, Long, Long, Long)].collect()
    assert(gaps.toSeq === Seq((1L, 1 * H, 5 * H, 4 * H), (2L, 0L, 9 * H, 9 * H)))
  }

  test("counterRate divides increases by elapsed seconds and treats a drop as a reset") {
    // 10 -> 70 over 1h (rate 60/3600), then RESET to 5 over 1h (rate 5/3600).
    val df = Seq(
      (1L, 0L * H, 1L, 10.0), (2L, 1L * H, 1L, 70.0), (3L, 2L * H, 1L, 5.0)
    ).toDF("id", "tsu", "k", "v")
    val rates = TimeSeriesOps.counterRate(df, K, Ord, "tsu", "v")
      .orderBy("id").select("rate_per_s").as[Option[Double]].collect()
    assert(rates(0).isEmpty) // first sample: no previous
    assert(math.abs(rates(1).get - math.round(60.0 / 3600 * 1e4) / 1e4) < 1e-12)
    assert(math.abs(rates(2).get - math.round(5.0 / 3600 * 1e4) / 1e4) < 1e-12)
  }

  test("counterRate yields null on zero elapsed (duplicate timestamps)") {
    val df = Seq((1L, 0L, 1L, 1.0), (2L, 0L, 1L, 2.0)).toDF("id", "tsu", "k", "v")
    val rates = TimeSeriesOps.counterRate(df, K, Ord, "tsu", "v")
      .orderBy("id").select("rate_per_s").as[Option[Double]].collect()
    assert(rates.toSeq === Seq(None, None))
  }

  test("m4Downsample keeps first/last by time order and global min/max per bucket") {
    // One 6h bucket, shuffled insert order; first at t=0 is 5.0, last at
    // t=5h is 1.0, min 1.0, max 9.0.
    val df = Seq(
      (3L, 2L * H, 1L, 9.0), (1L, 0L * H, 1L, 5.0),
      (4L, 5L * H, 1L, 1.0), (2L, 1L * H, 1L, 7.0)
    ).toDF("id", "tsu", "k", "v")
    val m4 = TimeSeriesOps.m4Downsample(df, K, Ord, "tsu", "v", 6 * H)
      .select("bucket", "v_first", "v_last", "v_min", "v_max", "n")
      .as[(Long, Double, Double, Double, Double, Long)].collect()
    assert(m4.toSeq === Seq((0L, 5.0, 1.0, 1.0, 9.0, 4L)))
  }

  test("m4Downsample breaks equal-timestamp ties by the order tail deterministically") {
    val df = Seq((2L, 0L, 1L, 8.0), (1L, 0L, 1L, 3.0)).toDF("id", "tsu", "k", "v")
    val m4 = TimeSeriesOps.m4Downsample(df, K, Ord, "tsu", "v", 6 * H)
      .select("v_first", "v_last").as[(Double, Double)].collect()
    assert(m4.toSeq === Seq((3.0, 8.0))) // id 1 first, id 2 last
  }

  test("scd2 collapses runs into intervals that tile the timeline") {
    // A A B A -> [0,2h) A, [2h,3h) B, [3h,∞) A (current).
    val df = Seq(
      (1L, 0L * H, 1L, "A"), (2L, 1L * H, 1L, "A"),
      (3L, 2L * H, 1L, "B"), (4L, 3L * H, 1L, "A")
    ).toDF("id", "tsu", "k", "attr")
    val hist = TimeSeriesOps.scd2(df, K, Ord, "attr", "tsu")
      .orderBy("valid_from")
      .select("attr", "valid_from", "valid_to", "is_current")
      .as[(String, Long, Option[Long], Long)].collect()
    assert(hist.toSeq === Seq(
      ("A", 0L, Some(2 * H), 0L),
      ("B", 2 * H, Some(3 * H), 0L),
      ("A", 3 * H, None, 1L)))
  }

  test("scd2 treats null attrs null-safely (no phantom change on null==null)") {
    val df = Seq(
      (1L, 0L * H, 1L, null.asInstanceOf[String]),
      (2L, 1L * H, 1L, null.asInstanceOf[String]),
      (3L, 2L * H, 1L, "X")
    ).toDF("id", "tsu", "k", "attr")
    val hist = TimeSeriesOps.scd2(df, K, Ord, "attr", "tsu")
    assert(hist.count() === 2) // one null run + one X run
  }

  test("holtSmooth matches the hand-computed level/trend recurrence") {
    val df = Seq(
      (1L, 0L * H, 1L, 10.0), (2L, 1L * H, 1L, 20.0), (3L, 2L * H, 1L, 30.0),
      (4L, 0L * H, 2L, 5.0)
    ).toDF("id", "tsu", "k", "v")
    val out = TimeSeriesOps.holtSmooth(df, K, Ord, "v", 0.5, 0.3)
      .orderBy("k").select("k", "level", "trend", "n")
      .as[(Long, Double, Double, Long)].collect()
    // k=1: l0=10,b0=0; x=20 -> l=15,b=1.5; x=30 -> l=23.25,b=3.525.
    assert(out.toSeq === Seq((1L, 23.25, 3.525, 3L), (2L, 5.0, 0.0, 1L)))
  }

  test("holtSmooth is partition-invariant (same fold on any cluster layout)") {
    val rows = (1L to 500L).flatMap { i =>
      Seq((i, (i % 7) * H, i % 5, math.sin(i.toDouble) * 100.0))
    }
    val df = rows.toDF("id", "tsu", "k", "v")
    def run(p: Int) = withShufflePartitions(p) {
      TimeSeriesOps.holtSmooth(df, K, Ord, "v", 0.5, 0.3).orderBy("k").collect().toSeq
    }
    val a = run(2)
    val b = run(13)
    assert(a === b)
  }

  test("holtPath's last row equals holtSmooth's final state per series") {
    val rows = (1L to 300L).map(i => (i, (i % 11) * H, i % 4, math.cos(i.toDouble) * 50.0))
    val df = rows.toDF("id", "tsu", "k", "v")
    val lastOfPath = TimeSeriesOps.holtPath(df, K, Ord, "v", 0.5, 0.3)
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("k")
          .orderBy(org.apache.spark.sql.functions.desc("tsu"),
            org.apache.spark.sql.functions.desc("id"))))
      .where(col("rk") === 1)
      .select("k", "level", "trend").as[(Long, Double, Double)].collect()
      .map { case (k, l, t) => k -> ((l, t)) }.toMap
    val finals = TimeSeriesOps.holtSmooth(df, K, Ord, "v", 0.5, 0.3)
      .select("k", "level", "trend").as[(Long, Double, Double)].collect()
      .map { case (k, l, t) => k -> ((l, t)) }.toMap
    assert(lastOfPath === finals)
  }

  test("holtPath passes null targets through without disturbing the fold") {
    val df = Seq(
      (1L, 0L * H, 1L, Some(10.0)), (2L, 1L * H, 1L, None), (3L, 2L * H, 1L, Some(20.0))
    ).toDF("id", "tsu", "k", "v")
    val out = TimeSeriesOps.holtPath(df, K, Ord, "v", 0.5, 0.3)
      .orderBy("id").select("level").as[Option[Double]].collect()
    // Null row emits null; the 20.0 folds against the 10.0 init as if
    // the null row were absent: l = 0.5*20 + 0.5*10 = 15.
    assert(out.toSeq === Seq(Some(10.0), None, Some(15.0)))
  }

  test("cusumReset accumulates above target and resets at zero") {
    // target m=10, slack k=1: x=12 -> s=1; x=9 -> max(0, 1-2)=0;
    // x=15 -> 4; x=16 -> 9.
    val df = Seq(
      (1L, 0L * H, 1L, 12.0), (2L, 1L * H, 1L, 9.0),
      (3L, 2L * H, 1L, 15.0), (4L, 3L * H, 1L, 16.0)
    ).toDF("id", "tsu", "k", "v")
      .withColumn("m", lit(10.0)).withColumn("slk", lit(1.0))
    val out = TimeSeriesOps.cusumReset(df, K, Ord, "v", "m", "slk")
      .orderBy("id").select("cusum_hi").as[Double].collect()
    assert(out.toSeq === Seq(1.0, 0.0, 4.0, 9.0))
  }

  test("cusumReset passes nulls through without disturbing the running state") {
    val df = Seq(
      (1L, 0L * H, 1L, Some(12.0)), (2L, 1L * H, 1L, None),
      (3L, 2L * H, 1L, Some(13.0))
    ).toDF("id", "tsu", "k", "v")
      .withColumn("m", lit(10.0)).withColumn("slk", lit(1.0))
    val out = TimeSeriesOps.cusumReset(df, K, Ord, "v", "m", "slk")
      .orderBy("id").select("cusum_hi").as[Option[Double]].collect()
    assert(out.toSeq === Seq(Some(1.0), None, Some(3.0)))
  }

  test("momentStd clamps a cancelled-negative variance to 0 and nulls n<=1") {
    import graft.functions.CleanFunctions
    // A constant column whose DECIMAL-rounded squares cancel sxx - sx²/n
    // to a tiny negative — the sqrt(<0) hazard momentCorr documents.
    val const = Seq.fill(1000)(0.1235).toDF("v")
      .agg(CleanFunctions.exactSum(col("v")).as("sx"),
        CleanFunctions.exactSum(col("v") * col("v")).as("sxx"),
        count(lit(1)).cast("double").as("n"))
      .select(CleanFunctions.momentStd(col("n"), col("sx"), col("sxx")).as("std"))
      .as[Option[Double]].head()
    assert(const.contains(0.0), s"constant-series std should clamp to 0, got $const")
    val single = Seq(42.0).toDF("v")
      .agg(CleanFunctions.exactSum(col("v")).as("sx"),
        CleanFunctions.exactSum(col("v") * col("v")).as("sxx"),
        count(lit(1)).cast("double").as("n"))
      .select(CleanFunctions.momentStd(col("n"), col("sx"), col("sxx")).as("std"))
      .as[Option[Double]].head()
    assert(single.isEmpty, s"n=1 std should be null, got $single")
  }

  test("dupKeys excludes null-keyed rows from the duplicate count") {
    val df = Seq(Some(1L), Some(1L), Some(2L), None, None, None)
      .toDF("k")
    val failed = DataQuality.dupKeys(df, "dups", Seq("k"))
      .select("failed").as[Long].head()
    // 3 non-null rows over 2 distinct keys = 1 duplicate; the three
    // null rows are nullCount's finding, not duplicates of each other.
    assert(failed === 1L)
  }

  test("crostonSmooth matches the hand-computed size/interval recurrence") {
    val df = Seq((1L, 0L, 10.0), (2L, 3L, 20.0), (3L, 5L, 14.0),
      (4L, 7L, 9.0)).map { case (id, b, q) => (id, b, 1L, q) }
      .toDF("id", "bucket", "k", "q")
    val out = TimeSeriesOps.crostonSmooth(df, K, "bucket", "q", 0.3)
      .select("n_demands", "level", "interval", "forecast")
      .as[(Long, Double, Double, Double)].head()
    // z0=10,p0=1; (3,20): z=.3*20+.7*10, p=.3*3+.7*1; (5,14): i=2; (7,9): i=2.
    var z = 10.0; var p = 1.0
    for ((i, q) <- Seq((3L, 20.0), (2L, 14.0), (2L, 9.0))) {
      z = 0.3 * q + (1.0 - 0.3) * z
      p = 0.3 * i.toDouble + (1.0 - 0.3) * p
    }
    assert(out === ((4L, z, p, z / p)))
  }

  test("crostonSmooth is partition-invariant") {
    val rng = new scala.util.Random(83)
    val rows = (1L to 600L).map(i =>
      (i, (i * 7 % 97) + (i % 3) * 100, i % 6, rng.nextInt(50) + 1.0))
    val df = rows.toDF("id", "bucket", "k", "q")
      .groupBy("k", "bucket").agg(sum("q").as("q")) // unique (k, bucket)
    def run(p: Int) = withShufflePartitions(p) {
      TimeSeriesOps.crostonSmooth(df, K, "bucket", "q", 0.3).orderBy("k").collect().toSeq
    }
    val a = run(2)
    val b = run(13)
    assert(a === b)
  }

  test("kalmanPath matches the hand-computed local-level recurrence") {
    val df = Seq(
      (1L, 0L * H, 1L, 10.0), (2L, 1L * H, 1L, 12.0), (3L, 2L * H, 1L, 11.0)
    ).toDF("id", "tsu", "k", "v")
    val out = TimeSeriesOps.kalmanPath(df, K, Ord, "v", q = 4.0, r = 25.0)
      .orderBy("id").select("estimate", "gain")
      .as[(Double, Double)].collect().toSeq
    // Row 1: est=10, p=25, gain=1. Row 2: pp=29, k=29/54,
    // est=10+k*2, p=(1-k)*29. Row 3: pp=p+4, k3=pp/(pp+25),
    // est3 = est2 + k3*(11-est2).
    val k2 = 29.0 / 54.0
    val e2 = 10.0 + k2 * (12.0 - 10.0)
    val p2 = (1.0 - k2) * 29.0
    val pp3 = p2 + 4.0
    val k3 = pp3 / (pp3 + 25.0)
    val e3 = e2 + k3 * (11.0 - e2)
    assert(out === Seq((10.0, 1.0), (e2, k2), (e3, k3)))
  }

  test("kalmanPath is partition-invariant and passes nulls through") {
    val rows = (1L to 400L).map { i =>
      val v = if (i % 9 == 0) None else Some(math.sin(i.toDouble) * 40.0)
      (i, (i % 13) * H, i % 5, v)
    }
    val df = rows.toDF("id", "tsu", "k", "v")
    def run(p: Int) = withShufflePartitions(p) {
      TimeSeriesOps.kalmanPath(df, K, Ord, "v", 4.0, 25.0)
        .orderBy("id").select("id", "estimate", "gain").collect().toSeq
    }
    val a = run(2)
    val b = run(11)
    assert(a === b)
    val nullRows = TimeSeriesOps.kalmanPath(df, K, Ord, "v", 4.0, 25.0)
      .where(col("v").isNull)
    assert(nullRows.where(col("estimate").isNotNull || col("gain").isNotNull).count() == 0)
  }

  test("kalmanPath denoises: estimate tracks a constant level better than raw") {
    val rng = new scala.util.Random(61)
    val truth = 50.0
    val df = (1L to 500L).map(i => (i, i * H, 1L, truth + rng.nextGaussian() * 5.0))
      .toDF("id", "tsu", "k", "v")
    val scored = TimeSeriesOps.kalmanPath(df, K, Ord, "v", q = 0.01, r = 25.0)
      .where(col("id") > 20) // past gain warm-up
      .agg(avg(abs(col("estimate") - truth)).as("est_err"),
        avg(abs(col("v") - truth)).as("raw_err"))
      .as[(Double, Double)].head()
    assert(scored._1 < scored._2 / 2.0,
      s"Kalman estimate should at least halve the raw noise: $scored")
  }

  test("garchPath matches the hand-computed GARCH(1,1) recurrence") {
    // ω=2, α=0.2, β=0.7 → uncond = 2/0.1 = 20.
    val df = Seq(
      (1L, 0L * H, 1L, 3.0), (2L, 1L * H, 1L, -1.0), (3L, 2L * H, 1L, 2.0)
    ).toDF("id", "tsu", "k", "r")
    val out = TimeSeriesOps.garchPath(df, K, Ord, "r",
        omega = 2.0, alpha = 0.2, beta = 0.7)
      .orderBy("id").select("sigma2").as[Double].collect().toSeq
    val s1 = 2.0 / (1.0 - 0.2 - 0.7)
    val s2 = 2.0 + 0.2 * 9.0 + 0.7 * s1
    val s3 = 2.0 + 0.2 * 1.0 + 0.7 * s2
    assert(out === Seq(s1, s2, s3))
  }

  test("garchPath is partition-invariant, mean-reverting, and null-transparent") {
    val rng = new scala.util.Random(17)
    val rows = (1L to 600L).map { i =>
      val v = if (i % 11 == 0) None else Some(rng.nextGaussian() * 3.0)
      (i, (i % 17) * H, i % 4, v)
    }
    val df = rows.toDF("id", "tsu", "k", "r")
    def run(p: Int) = withShufflePartitions(p) {
      TimeSeriesOps.garchPath(df, K, Ord, "r", 2.0, 0.2, 0.7)
        .orderBy("id").select("id", "sigma2").collect().toSeq
    }
    val a = run(3)
    val b = run(13)
    assert(a === b)
    assert(TimeSeriesOps.garchPath(df, K, Ord, "r", 2.0, 0.2, 0.7)
      .where(col("r").isNull && col("sigma2").isNotNull).count() == 0)
    // Long run of zero returns decays σ² toward uncond·… no: toward
    // ω/(1−β) = 2/0.3; after a 3σ shock the path must decrease back.
    val calm = (1L to 60L).map(i => (i, i * H, 9L, if (i == 5) 30.0 else 0.0))
      .toDF("id", "tsu", "k", "r")
    val path = TimeSeriesOps.garchPath(calm, K, Ord, "r", 2.0, 0.2, 0.7)
      .orderBy("id").select("sigma2").as[Double].collect()
    assert(path(6) > path(4), "shock at t=5 must raise sigma2 at t=6")
    assert(path(59) < path(6), "sigma2 must revert after the shock")
    assert(math.abs(path(59) - 2.0 / 0.3) < 0.5,
      s"zero-return fixpoint is omega/(1-beta): ${path(59)}")
  }

  test("tokenBucket matches the hand-computed refill/consume recurrence") {
    // capacity 2, refill 1 token/hour. k=1 events at 0h, 0.5h, 1h, 1.5h:
    //  t=0h:   start full 2.0 -> admit, 1.0
    //  t=0.5h: 1.0 + 0.5 = 1.5 -> admit, 0.5
    //  t=1h:   0.5 + 0.5 = 1.0 -> admit, 0.0
    //  t=1.5h: 0.0 + 0.5 = 0.5 -> DENIED, 0.5
    val df = Seq(
      (1L, 0L, 1L), (2L, H / 2, 1L), (3L, H, 1L), (4L, 3 * H / 2, 1L)
    ).toDF("id", "tsu", "k")
    val r = TimeSeriesOps.tokenBucket(df, K, Ord, "tsu",
        capacity = 2.0, refillPerSec = 1.0 / 3600.0)
      .orderBy("id").select("id", "tokens", "admitted")
      .as[(Long, Double, Long)].collect().toSeq
    assert(r === Seq((1L, 1.0, 1L), (2L, 0.5, 1L), (3L, 0.0, 1L), (4L, 0.5, 0L)))
  }

  test("tokenBucket is partition-invariant and refill caps at capacity") {
    val ev = Tables.events(spark, SparkTestSession.sfDir)
      .withColumn("tsu", graft.functions.CleanFunctions.epochUs(col("ts")))
    def run(p: Int) = withShufflePartitions(p) {
      TimeSeriesOps.tokenBucket(
          ev, Seq("user_id"), Seq("tsu", "event_id"), "tsu",
          capacity = 3.0, refillPerSec = 1.0 / 3600.0)
        .select(col("event_id"), col("tokens"), col("admitted"))
        .as[(Long, Double, Long)].collect()
        .map { case (i, t, a) => i -> (t, a) }.toMap
    }
    val a = run(2); val b = run(16)
    assert(a == b, "tokenBucket result depends on partitioning")
    assert(a.values.forall { case (t, _) => t >= 0.0 && t <= 3.0 },
      "token balance escaped [0, capacity]")
  }

  test("holtWinters matches the hand-computed triple-smoothing recurrence") {
    // period 2, alpha=0.5, beta=0.5, gamma=0.5 on x = 10, 20, 12:
    //  row1 (idx 0): l=10, b=0, s=[0,0], fitted null
    //  row2 (idx 1): fitted = 10+0+0 = 10
    //    l' = .5*(20-0)+.5*(10+0) = 15; b' = .5*(15-10)+.5*0 = 2.5
    //    s[1] = .5*(20-15)+.5*0 = 2.5
    //  row3 (idx 0): fitted = 15+2.5+0 = 17.5
    //    l' = .5*(12-0)+.5*(15+2.5) = 14.75; b' = .5*(14.75-15)+.5*2.5 = 1.125
    //    s[0] = .5*(12-14.75)+.5*0 = -1.375
    val df = Seq((1L, 1L, 10.0), (2L, 2L, 20.0), (3L, 3L, 12.0))
      .toDF("id", "tsu", "x").withColumn("k", lit(1L))
    val r = TimeSeriesOps.holtWinters(df, K, Seq("tsu"), "x", period = 2,
        alpha = 0.5, beta = 0.5, gamma = 0.5)
      .orderBy("id")
      .select("hw_fitted", "hw_level", "hw_trend", "hw_seasonal")
      .as[(Option[Double], Double, Double, Double)].collect().toSeq
    assert(r === Seq(
      (None, 10.0, 0.0, 0.0),
      (Some(10.0), 15.0, 2.5, 2.5),
      (Some(17.5), 14.75, 1.125, -1.375)))
  }

  test("holtWintersMult: hand-checked recurrence and exact scale-equivariance") {
    // period 2, alpha=beta=gamma=0.5 on x = 10, 20, 12 (seasonals start 1):
    //  row1 (idx 0): l=10, b=0, s=[1,1], fitted null
    //  row2 (idx 1): fitted = (10+0)*1 = 10
    //    l' = .5*(20/1)+.5*(10+0) = 15; b' = .5*(15-10)+.5*0 = 2.5
    //    s[1] = .5*(20/15)+.5*1 = 7/6 + ... = 0.5*1.3333...+0.5
    //  row3 (idx 0): fitted = (15+2.5)*1 = 17.5
    val df = Seq((1L, 1L, 10.0), (2L, 2L, 20.0), (3L, 3L, 12.0))
      .toDF("id", "tsu", "x").withColumn("k", lit(1L))
    val r = TimeSeriesOps.holtWintersMult(df, K, Seq("tsu"), "x", period = 2,
        alpha = 0.5, beta = 0.5, gamma = 0.5)
      .orderBy("id")
      .select("hw_fitted", "hw_level", "hw_trend", "hw_seasonal")
      .as[(Option[Double], Double, Double, Double)].collect().toSeq
    assert(r.head == ((None, 10.0, 0.0, 1.0)))
    assert(r(1)._1.contains(10.0) && r(1)._2 == 15.0 && r(1)._3 == 2.5)
    assert(math.abs(r(1)._4 - (0.5 * (20.0 / 15.0) + 0.5)) < 1e-12)
    assert(r(2)._1.contains(17.5))
    // Scale-equivariance — the property that separates multiplicative
    // from additive: doubling the input doubles level/trend/fitted and
    // leaves the seasonal factors BIT-IDENTICAL (×2 is exact in IEEE).
    val d2 = df.withColumn("x", col("x") * 2.0)
    val r2 = TimeSeriesOps.holtWintersMult(d2, K, Seq("tsu"), "x", period = 2,
        alpha = 0.5, beta = 0.5, gamma = 0.5)
      .orderBy("id")
      .select("hw_fitted", "hw_level", "hw_trend", "hw_seasonal")
      .as[(Option[Double], Double, Double, Double)].collect().toSeq
    r.zip(r2).foreach { case (a, b) =>
      assert(b._2 == 2.0 * a._2 && b._3 == 2.0 * a._3 && b._4 == a._4)
      assert(a._1.map(_ * 2.0) == b._1)
    }
  }

  test("holtWinters is partition-invariant and fitted tracks a pure seasonal signal") {
    val ev = Tables.events(spark, SparkTestSession.sfDir)
      .where(col("value").isNotNull)
      .withColumn("tsu", graft.functions.CleanFunctions.epochUs(col("ts")))
      .withColumn("day", expr("tsu DIV 86400000000"))
      .groupBy(col("user_id").as("k"), col("day"))
      .agg(avg("value").as("x"))
    def run(p: Int) = withShufflePartitions(p) {
      TimeSeriesOps.holtWinters(ev, K, Seq("day"), "x",
          period = 7, alpha = 0.3, beta = 0.1, gamma = 0.2)
        .select(col("k"), col("day"), col("hw_level"))
        .as[(Long, Long, Double)].collect().sorted.toSeq
    }
    assert(run(2) == run(16), "holtWinters depends on partitioning")
    // A deterministic period-2 alternating signal: after warm-up the
    // one-step forecast error must shrink vs the naive last-value error.
    val sig = (1 to 40).map(i => (i.toLong, i.toLong, if (i % 2 == 0) 10.0 else 2.0))
    val sd = sig.toDF("id", "tsu", "x").withColumn("k", lit(1L))
    val hw = TimeSeriesOps.holtWinters(sd, K, Seq("tsu"), "x", period = 2,
        alpha = 0.3, beta = 0.1, gamma = 0.5)
      .where(col("id") > 20 && col("hw_fitted").isNotNull)
      .select(avg(abs(col("hw_fitted") - col("x"))).as("hw_mae")).head.getDouble(0)
    assert(hw < 4.0, s"seasonal fit MAE $hw should beat the naive 8.0 swing")
  }

  test("DataQuality checks count nulls, dup keys and FK orphans exactly") {
    val parent = Seq((1L, "a"), (2L, "b")).toDF("pk", "x")
    val child = Seq(
      (10L, 1L), (11L, 1L), (12L, 2L), (13L, 99L), (14L, 98L)
    ).toDF("ck", "fk")
    val dupd = Seq((1L, Some(1.0)), (1L, None), (2L, Some(3.0))).toDF("k", "v")
    val report = DataQuality.audit(Seq(
      DataQuality.fkOrphans(child, parent, "orphans", "fk", "pk"),
      DataQuality.nullCount(dupd, "null_v", "v"),
      DataQuality.dupKeys(dupd, "dup_k", Seq("k")),
      DataQuality.predicateViolations(dupd, "v_range", col("v") > 2.0)))
      .as[(String, Long)].collect().toMap
    assert(report === Map("orphans" -> 2L, "null_v" -> 1L, "dup_k" -> 1L, "v_range" -> 1L))
  }
}
