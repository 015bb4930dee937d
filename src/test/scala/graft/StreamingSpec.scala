package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{ControlSample, Event, StreamingAnomaly}

class StreamingSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)
  private def ckpt(): String =
    java.nio.file.Files.createTempDirectory("graft-ckpt").toString

  test("windowed counts finalize once the watermark passes the window") {
    val ms = MemoryStream[Event](spark)
    val q = StreamingAnomaly.windowedCounts(ms.toDF(), "10 minutes", "1 hour")
      .writeStream.format("memory").queryName("wc")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      ms.addData(
        Event(1, ts("2026-01-01 00:05:00"), 1, "click", 2.0),
        Event(2, ts("2026-01-01 00:40:00"), 2, "click", 3.0),
        Event(3, ts("2026-01-01 00:50:00"), 1, "view", 5.0))
      q.processAllAvailable()
      // Watermark still inside hour 0: nothing emitted yet.
      assert(spark.table("wc").count() == 0)
      // An event at 02:30 pushes the watermark past 01:00 -> hour 0 closes.
      ms.addData(Event(4, ts("2026-01-01 02:30:00"), 1, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("wc").as[(Timestamp, String, Long, Double)]
        .collect().sortBy(r => (r._1.getTime, r._2))
      assert(rows.toList == List(
        (ts("2026-01-01 00:00:00"), "click", 2L, 5.0),
        (ts("2026-01-01 00:00:00"), "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("stateful rolling zscore carries the trailing buffer across batches") {
    val ms = MemoryStream[Event](spark)
    val q = StreamingAnomaly.rollingZscore(ms.toDS(), win = 4, threshold = 3.0)
      .writeStream.format("memory").queryName("rz")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      ms.addData(
        Event(1, ts("2026-01-01 00:00:00"), 7, "m", 10.0),
        Event(2, ts("2026-01-01 01:00:00"), 7, "m", 12.0),
        Event(3, ts("2026-01-01 02:00:00"), 7, "m", 11.0))
      q.processAllAvailable()
      // Second batch: state (10,12,11) persisted; a wild value must flag.
      ms.addData(
        Event(4, ts("2026-01-01 03:00:00"), 7, "m", 11.5),
        Event(5, ts("2026-01-01 04:00:00"), 7, "m", 99.0))
      q.processAllAvailable()
      val rows = spark.table("rz")
        .as[(Long, Timestamp, Long, Double, Option[Double], Long)]
        .collect().sortBy(_._1).toList
      assert(rows.map(_._5.isDefined) == List(false, false, true, true, true))
      assert(rows.map(_._6) == List(0L, 0L, 0L, 0L, 1L))
      // Event 3 scored against (10,12): z = (11-11)/sqrt(2) = 0.
      assert(math.abs(rows(2)._5.get) < 1e-12)
      // Event 5 scored against trailing buffer incl. batch-1 values.
      assert(rows(4)._5.get > 3.0)
    } finally q.stop()
  }

  test("session windows merge within gap and close after watermark") {
    val ms = MemoryStream[Event](spark)
    val q = StreamingAnomaly.sessionAggregates(ms.toDF(), "30 minutes", "10 minutes")
      .writeStream.format("memory").queryName("sw")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      ms.addData(
        Event(1, ts("2026-01-01 00:00:00"), 1, "m", 1.0),
        Event(2, ts("2026-01-01 00:10:00"), 1, "m", 2.0),  // same session
        Event(3, ts("2026-01-01 02:00:00"), 1, "m", 4.0))  // new session
      q.processAllAvailable()
      ms.addData(Event(4, ts("2026-01-01 05:00:00"), 1, "m", 8.0)) // advance wm
      q.processAllAvailable()
      val rows = spark.table("sw")
        .as[(Long, Timestamp, Timestamp, Long, Double)]
        .collect().sortBy(_._2.getTime).toList
      assert(rows.map(r => (r._4, r._5)) == List((2L, 3.0), (1L, 4.0)))
      // First session spans event1..event2+gap.
      assert(rows.head._2 == ts("2026-01-01 00:00:00") &&
        rows.head._3 == ts("2026-01-01 00:40:00"))
    } finally q.stop()
  }

  test("streaming dedup drops repeated event ids across batches") {
    val ms = MemoryStream[Event](spark)
    val q = StreamingAnomaly.dedupEvents(ms.toDF(), "1 hour")
      .writeStream.format("memory").queryName("dd")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      ms.addData(
        Event(1, ts("2026-01-01 00:00:00"), 1, "m", 1.0),
        Event(1, ts("2026-01-01 00:00:00"), 1, "m", 1.0),
        Event(2, ts("2026-01-01 00:10:00"), 1, "m", 2.0))
      q.processAllAvailable()
      ms.addData(Event(1, ts("2026-01-01 00:00:00"), 1, "m", 1.0)) // dup, batch 2
      q.processAllAvailable()
      assert(spark.table("dd").count() == 2)
    } finally q.stop()
  }

  test("state survives a query restart from the checkpoint") {
    import graft.streaming.ScoredEvent
    val ms = MemoryStream[Event](spark)
    val ck = ckpt()
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[ScoredEvent]()
    // foreachBatch (unlike the memory sink) supports checkpoint recovery.
    def start() = StreamingAnomaly.rollingZscore(ms.toDS(), win = 4, threshold = 3.0)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[ScoredEvent], _: Long) =>
        batch.collect().foreach(sink.add)
      }
      .outputMode("append").option("checkpointLocation", ck).start()
    val q1 = start()
    ms.addData(
      Event(1, ts("2026-01-01 00:00:00"), 9, "m", 10.0),
      Event(2, ts("2026-01-01 01:00:00"), 9, "m", 12.0),
      Event(3, ts("2026-01-01 02:00:00"), 9, "m", 11.0))
    q1.processAllAvailable()
    q1.stop()
    // Restart: the trailing buffer (10,12,11) must come back from the
    // state store, so the next event scores against it.
    val q2 = start()
    try {
      ms.addData(Event(4, ts("2026-01-01 03:00:00"), 9, "m", 99.0))
      q2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val rows = sink.asScala.toList.sortBy(_.event_id)
      assert(rows.map(_.event_id) == List(1L, 2L, 3L, 4L))
      assert(rows(3).z.exists(_ > 3.0) && rows(3).is_anomaly == 1L,
        s"restarted query lost state: ${rows(3)}")
    } finally q2.stop()
  }

  test("exactly-once sink: a replayed micro-batch and a restart add no duplicates") {
    val ms = MemoryStream[Event](spark)
    val ck = ckpt()
    val out = java.nio.file.Files.createTempDirectory("graft-xonce").toString + "/t"
    def start() = StreamingAnomaly.exactlyOnceParquetSink(ms.toDF(), out, ck)
    val q1 = start()
    val b1 = Seq(
      Event(1, ts("2026-01-01 00:00:00"), 1, "m", 1.0),
      Event(2, ts("2026-01-01 00:10:00"), 1, "m", 2.0),
      Event(3, ts("2026-01-01 00:20:00"), 2, "m", 3.0))
    ms.addData(b1: _*)
    q1.processAllAvailable()
    q1.stop()
    assert(spark.read.parquet(out).count() == 3)
    // foreachBatch delivery is at-least-once: a crash between the sink
    // write and the offset commit re-runs the batch on restart. Simulate
    // that replay by re-writing batch 0 by hand — the dynamic partition
    // overwrite must rewrite batch_id=0 in place, not append to it.
    StreamingAnomaly.writeBatchIdempotent(b1.toDF(), out, 0L)
    assert(spark.read.parquet(out).count() == 3, "replayed batch duplicated rows")
    // Restart from the checkpoint: resumes at the committed offset (no
    // reprocessing of batch 0) and lands new data in a new partition.
    val q2 = start()
    try {
      ms.addData(Event(4, ts("2026-01-01 00:30:00"), 2, "m", 4.0))
      q2.processAllAvailable()
      val fin = spark.read.parquet(out)
      assert(fin.count() == 4)
      assert(fin.select("event_id").distinct().count() == 4, "duplicate event after restart")
      assert(fin.select("batch_id").distinct().count() == 2)
    } finally q2.stop()
  }

  // ---- Streaming <-> batch equivalence on real driver-generated data ----
  // The same events parquet, replayed through MemoryStream, must produce
  // the batch operators' answers once the watermark closes all windows.

  import org.apache.spark.sql.functions._
  import graft.functions.CleanFunctions.epochUs
  import graft.sources.Tables

  private lazy val realEvents: Array[Event] = Tables.events(spark, SparkTestSession.sfDir)
    .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))

  test("streaming windowed counts equal batch ts_event_counts on real data") {
    val ms = MemoryStream[Event](spark)
    val q = StreamingAnomaly.windowedCounts(ms.toDF(), "1 hour", "1 hour")
      .writeStream.format("memory").queryName("wc_eq")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      val (h1, h2) = realEvents.splitAt(realEvents.length / 2)
      ms.addData(h1.toSeq); q.processAllAvailable()
      ms.addData(h2.toSeq); q.processAllAvailable()
      // Sentinel far past the last event closes every real window.
      val maxTs = realEvents.map(_.ts.getTime).max
      ms.addData(Event(-1L, new Timestamp(maxTs + 3 * 3600 * 1000L), -999L, "sentinel", 0.0))
      q.processAllAvailable()
      val got = spark.table("wc_eq").filter(col("event_type") =!= "sentinel")
        .select(unix_micros(col("window_start")).as("b"), col("event_type"),
          col("n_events"), col("sum_value"))
        .as[(Long, String, Long, Double)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
      val want = Tables.events(spark, SparkTestSession.sfDir)
        .groupBy(epochUs(date_trunc("hour", col("ts"))).as("b"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
        .as[(Long, String, Long, Double)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
      assert(got.keySet == want.keySet, "window/bucket key sets differ")
      want.foreach { case (k, (n, s)) =>
        val (gn, gs) = got(k)
        assert(gn == n, s"count mismatch at $k: $gn != $n")
        assert(math.abs(gs - s) < 1e-6, s"sum mismatch at $k: $gs != $s")
      }
    } finally q.stop()
  }

  test("streaming M4 equals batch m4Downsample on real data, under REVERSED arrival") {
    val ms = MemoryStream[Event](spark)
    val q = StreamingAnomaly.m4Windows(ms.toDF(), "1 hour", "6 hours")
      .writeStream.format("memory").queryName("m4_eq")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      // Reverse arrival order: first/last must come out by EVENT time
      // (min_by/max_by on the (ts, event_id) struct), not arrival.
      ms.addData(realEvents.reverse.toSeq); q.processAllAvailable()
      val maxTs = realEvents.map(_.ts.getTime).max
      ms.addData(Event(-1L, new Timestamp(maxTs + 24 * 3600 * 1000L), -999L, "sentinel", 0.0))
      q.processAllAvailable()
      val sixH = 6L * 3600 * 1000000
      val got = spark.table("m4_eq").filter(col("user_id") =!= -999L)
        .select(expr(s"unix_micros(bucket_start) div $sixH").as("bucket"), col("user_id"),
          col("v_first"), col("v_last"), col("v_min"), col("v_max"), col("n"))
        .as[(Long, Long, Double, Double, Double, Double, Long)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7))).toMap
      val want = graft.operators.TimeSeriesOps.m4Downsample(
          Tables.events(spark, SparkTestSession.sfDir)
            .withColumn("tsu", epochUs(col("ts"))),
          Seq("user_id"), Seq("tsu", "event_id"), "tsu", "value", sixH)
        .select(col("bucket"), col("user_id"),
          col("v_first"), col("v_last"), col("v_min"), col("v_max"), col("n"))
        .as[(Long, Long, Double, Double, Double, Double, Long)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7))).toMap
      assert(got.keySet == want.keySet, "bucket key sets differ")
      want.foreach { case (k, w) =>
        assert(got(k) == w, s"M4 mismatch at $k: ${got(k)} != $w")
      }
    } finally q.stop()
  }

  test("streaming rolling zscore equals batch Anomaly.rollingZscore on real data") {
    val ms = MemoryStream[Event](spark)
    val q = StreamingAnomaly.rollingZscore(ms.toDS(), win = 24, threshold = 3.0)
      .writeStream.format("memory").queryName("rz_eq")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      // One batch, (ts, event_id)-sorted: identical trailing windows.
      ms.addData(realEvents.toSeq); q.processAllAvailable()
      val got = spark.table("rz_eq")
        .select(col("event_id"), col("z"), col("is_anomaly"))
        .as[(Long, Option[Double], Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      val want = graft.operators.Anomaly.rollingZscore(
          Tables.events(spark, SparkTestSession.sfDir),
          Seq("user_id"), Seq("ts", "event_id"), "value", win = 24, threshold = 3.0)
        .select(col("event_id"), col("z"), col("is_anomaly"))
        .as[(Long, Option[Double], Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      assert(got.keySet == want.keySet)
      want.foreach { case (id, (wz, wf)) =>
        val (gz, gf) = got(id)
        assert(gz.isDefined == wz.isDefined, s"null-z mismatch at event $id: $gz vs $wz")
        for (g <- gz; w <- wz)
          assert(math.abs(g - w) < 1e-6, s"z mismatch at event $id: $g != $w")
        assert(gf == wf, s"flag mismatch at event $id")
      }
    } finally q.stop()
  }

  test("streaming Kalman equals batch kalmanPath on real data, bit-for-bit") {
    val ms = MemoryStream[Event](spark)
    val q = StreamingAnomaly.kalman(ms.toDS(), q = 4.0, r = 25.0)
      .writeStream.format("memory").queryName("kal_eq")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      // One batch: identical fold order -> exact double equality, no eps.
      ms.addData(realEvents.toSeq); q.processAllAvailable()
      val got = spark.table("kal_eq")
        .select(col("event_id"), col("estimate"), col("gain"))
        .as[(Long, Double, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val want = graft.operators.TimeSeriesOps.kalmanPath(
          Tables.events(spark, SparkTestSession.sfDir)
            .withColumn("tsu", epochUs(col("ts"))),
          Seq("user_id"), Seq("tsu", "event_id"), "value", q = 4.0, r = 25.0)
        .select(col("event_id"), col("estimate"), col("gain"))
        .as[(Long, Double, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got.keySet == want.keySet)
      want.foreach { case (id, w) =>
        assert(got(id) == w, s"Kalman state mismatch at event $id: ${got(id)} != $w")
      }
    } finally q.stop()
  }

  test("streaming recursive EWMA equals batch ewmaRecursive on real data, bit-for-bit") {
    val ms = MemoryStream[Event](spark)
    val q = StreamingAnomaly.ewmaRecursive(ms.toDS(), alpha = 0.3)
      .writeStream.format("memory").queryName("ewma_eq")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      // One batch: identical fold order -> exact double equality, no eps.
      ms.addData(realEvents.toSeq); q.processAllAvailable()
      val got = spark.table("ewma_eq")
        .select(col("event_id"), col("ewma"))
        .as[(Long, Double)].collect().toMap
      // Batch twin on the SAME null-filtered rows (streams carry no
      // null samples, so the batch null-aging branch never fires).
      val want = graft.operators.TimeSeriesOps.ewmaRecursive(
          Tables.events(spark, SparkTestSession.sfDir)
            .where(col("value").isNotNull),
          Seq("user_id"), Seq("ts", "event_id"), "value", alpha = 0.3)
        .select(col("event_id"), col("ewma"))
        .as[(Long, Double)].collect().toMap
      assert(got.keySet == want.keySet && got.nonEmpty)
      want.foreach { case (id, w) =>
        assert(got(id) == w, s"EWMA mismatch at event $id: ${got(id)} != $w")
      }
    } finally q.stop()
  }

  test("streaming Holt equals batch holtPath on real data, bit-for-bit, across a batch split") {
    val ms = MemoryStream[Event](spark)
    val q = StreamingAnomaly.holt(ms.toDS(), alpha = 0.5, gamma = 0.3)
      .writeStream.format("memory").queryName("holt_eq")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      // TWO batches split in event-time order: the level/trend state
      // must carry across the micro-batch boundary for the fold to
      // equal the batch pass exactly.
      val clean = realEvents.toSeq
      val (h1, h2) = clean.splitAt(clean.length / 2)
      ms.addData(h1); q.processAllAvailable()
      ms.addData(h2); q.processAllAvailable()
      val got = spark.table("holt_eq")
        .select(col("event_id"), col("level"), col("trend"))
        .as[(Long, Double, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val want = graft.operators.TimeSeriesOps.holtPath(
          Tables.events(spark, SparkTestSession.sfDir)
            .where(col("value").isNotNull)
            .withColumn("tsu", epochUs(col("ts"))),
          Seq("user_id"), Seq("tsu", "event_id"), "value",
          alpha = 0.5, gamma = 0.3)
        .select(col("event_id"), col("level"), col("trend"))
        .as[(Long, Double, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got.keySet == want.keySet && got.nonEmpty)
      want.foreach { case (id, w) =>
        assert(got(id) == w, s"Holt state mismatch at event $id: ${got(id)} != $w")
      }
    } finally q.stop()
  }

  test("streaming GARCH equals batch garchPath on real returns, bit-for-bit") {
    import graft.streaming.RetSample
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val rets = Tables.events(spark, SparkTestSession.sfDir)
      .withColumn("ret", col("value") - lag(col("value"), 1).over(w))
      .where(col("ret").isNotNull)
    val feed = rets.select(col("event_id"), col("ts"), col("user_id"),
        col("ret").cast("double").as("ret"))
      .as[RetSample].collect().sortBy(e => (e.ts.getTime, e.event_id)).toSeq
    val ms = MemoryStream[RetSample](spark)
    val q = StreamingAnomaly.garch(ms.toDS(), omega = 200.0, alpha = 0.10, beta = 0.85)
      .writeStream.format("memory").queryName("garch_eq")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      ms.addData(feed); q.processAllAvailable()
      val got = spark.table("garch_eq")
        .select(col("event_id"), col("sigma2"))
        .as[(Long, Double)].collect().toMap
      val want = graft.operators.TimeSeriesOps.garchPath(
          rets, Seq("user_id"), Seq("ts", "event_id"), "ret",
          omega = 200.0, alpha = 0.10, beta = 0.85)
        .select(col("event_id"), col("sigma2"))
        .as[(Long, Double)].collect().toMap
      assert(got.keySet == want.keySet && got.nonEmpty)
      want.foreach { case (id, wv) =>
        assert(got(id) == wv, s"GARCH sigma2 mismatch at event $id: ${got(id)} != $wv")
      }
    } finally q.stop()
  }

  test("streaming Holt-Winters equals batch holtWinters on real data, bit-for-bit, across a batch split") {
    import graft.streaming.DaySample
    val daily = Tables.events(spark, SparkTestSession.sfDir)
      .where(col("value").isNotNull)
      .withColumn("day", expr("unix_micros(ts) DIV 86400000000"))
      .groupBy("user_id", "day")
      .agg(graft.functions.CleanFunctions.exactMean(col("value"))
        .cast("double").as("m"))
    val feed = daily.as[DaySample].collect().sortBy(e => (e.day, e.user_id)).toSeq
    val ms = MemoryStream[DaySample](spark)
    val q = StreamingAnomaly.holtWinters(ms.toDS(), period = 7,
        alpha = 0.3, beta = 0.1, gamma = 0.2)
      .writeStream.format("memory").queryName("hw_eq")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      // TWO batches split on the day grid: the SEASONAL VECTOR must
      // survive the micro-batch boundary (the state the simpler
      // smoothers don't carry).
      val (h1, h2) = feed.splitAt(feed.length / 2)
      ms.addData(h1); q.processAllAvailable()
      ms.addData(h2); q.processAllAvailable()
      val got = spark.table("hw_eq")
        .select(col("user_id"), col("day"), col("fitted"), col("level"),
          col("trend"), col("seasonal"))
        .as[(Long, Long, Option[Double], Double, Double, Double)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
      val want = graft.operators.TimeSeriesOps.holtWinters(
          daily, Seq("user_id"), Seq("day"), "m", period = 7,
          alpha = 0.3, beta = 0.1, gamma = 0.2)
        .select(col("user_id"), col("day"), col("hw_fitted"), col("hw_level"),
          col("hw_trend"), col("hw_seasonal"))
        .as[(Long, Long, Option[Double], Double, Double, Double)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
      assert(got.keySet == want.keySet && got.nonEmpty)
      want.foreach { case (k, wv) =>
        assert(got(k) == wv, s"HW state mismatch at $k: ${got(k)} != $wv")
      }
    } finally q.stop()
  }

  test("streaming Croston equals batch crostonSmooth on real demand, bit-for-bit") {
    import graft.streaming.{CrostonOut, DemandSample}
    val demand = Tables.events(spark, SparkTestSession.sfDir)
      .where(col("event_type") === "purchase" && col("value").isNotNull)
      .withColumn("bucket", expr("unix_micros(ts) DIV 3600000000"))
      .groupBy("user_id", "bucket")
      .agg(graft.functions.CleanFunctions.exactSum(col("value")).as("q"))
    val feed = demand
      .select(col("user_id"),
        expr("timestamp_micros(bucket * 3600000000)").as("ts"),
        col("bucket"), col("q").cast("double").as("q"))
      .as[DemandSample].collect().sortBy(e => (e.bucket, e.user_id)).toSeq
    val ms = MemoryStream[DemandSample](spark)
    val q = StreamingAnomaly.croston(ms.toDS(), alpha = 0.3)
      .writeStream.format("memory").queryName("croston_eq")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      // ONE replay batch + punctuation — the emit-once contract (the
      // daily-close timeout is a FEATURE: a series idle >1 day closes
      // with its summary-so-far, so a multi-batch month-long feed
      // legitimately splits sparse series; bit-equality with the batch
      // fold is the single-replay contract, same as the entry and the
      // sketch twins).
      ms.addData(feed); q.processAllAvailable()
      val maxUs = feed.map(e => StreamingAnomaly.tsUs(e.ts)).max
      ms.addData(Seq(DemandSample(-1L,
        new Timestamp((maxUs + 10L * 86400L * 1000000L) / 1000L), -1L, 0.0)))
      q.processAllAvailable()
      val got = spark.table("croston_eq").as[CrostonOut].collect()
        .map(r => r.user_id -> ((r.n_demands, r.z, r.p))).toMap
      val want = graft.operators.TimeSeriesOps.crostonSmooth(
          demand, Seq("user_id"), "bucket", "q", alpha = 0.3)
        .select(col("user_id"), col("n_demands"), col("level"), col("interval"))
        .as[(Long, Long, Double, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got.keySet == want.keySet && got.nonEmpty)
      want.foreach { case (id, w) =>
        assert(got(id) == w, s"Croston state mismatch for series $id: ${got(id)} != $w")
      }
    } finally q.stop()
  }

  test("streaming token bucket equals batch tokenBucket on real data, bit-for-bit") {
    val ms = MemoryStream[Event](spark)
    val q = StreamingAnomaly.tokenBucket(ms.toDS(), capacity = 3.0,
        refillPerSec = 1.0 / 3600.0)
      .writeStream.format("memory").queryName("tb_eq")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      ms.addData(realEvents.toSeq); q.processAllAvailable()
      val got = spark.table("tb_eq")
        .select(col("event_id"), col("tokens"), col("admitted"))
        .as[(Long, Double, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val want = graft.operators.TimeSeriesOps.tokenBucket(
          Tables.events(spark, SparkTestSession.sfDir)
            .withColumn("tsu", epochUs(col("ts"))),
          Seq("user_id"), Seq("tsu", "event_id"), "tsu",
          capacity = 3.0, refillPerSec = 1.0 / 3600.0)
        .select(col("event_id"), col("tokens"), col("admitted"))
        .as[(Long, Double, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got.keySet == want.keySet)
      want.foreach { case (id, w) =>
        assert(got(id) == w, s"bucket state mismatch at event $id: ${got(id)} != $w")
      }
    } finally q.stop()
  }

  test("streaming CUSUM equals batch cusumReset on real data, bit-for-bit") {
    import graft.functions.CleanFunctions
    // Per-series control parameters from one batch moment pass — the
    // "slowly-refreshed reference" a production stream would join in.
    val e = Tables.events(spark, SparkTestSession.sfDir)
      .where(col("value").isNotNull)
    val stats = e.groupBy("user_id").agg(
      CleanFunctions.exactSum(col("value")).as("sx"),
      CleanFunctions.exactSum(col("value") * col("value")).as("sxx"),
      count(col("value")).cast("double").as("n"))
    val withCtl = e.join(stats, "user_id")
      .withColumn("target_mean", col("sx") / col("n"))
      .withColumn("slack",
        lit(0.5) * CleanFunctions.momentStd(col("n"), col("sx"), col("sxx")))
    val samples = withCtl
      .select(col("event_id"), col("ts"), col("user_id"), col("value"),
        col("target_mean"), col("slack"))
      .as[ControlSample].collect().sortBy(s => (s.ts.getTime, s.event_id))
    val ms = MemoryStream[ControlSample](spark)
    val q = StreamingAnomaly.cusumReset(ms.toDS())
      .writeStream.format("memory").queryName("cu_eq")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      ms.addData(samples.toSeq); q.processAllAvailable()
      val got = spark.table("cu_eq")
        .select(col("event_id"), col("cusum_hi"))
        .as[(Long, Double)].collect().toMap
      val want = graft.operators.TimeSeriesOps.cusumReset(
          withCtl.withColumn("tsu", epochUs(col("ts"))),
          Seq("user_id"), Seq("tsu", "event_id"), "value", "target_mean", "slack")
        .select(col("event_id"), col("cusum_hi"))
        .as[(Long, Double)].collect().toMap
      assert(got.keySet == want.keySet)
      want.foreach { case (id, w) =>
        assert(got(id) == w, s"CUSUM mismatch at event $id: ${got(id)} != $w")
      }
    } finally q.stop()
  }

  test("streaming session aggregates equal batch sessionize on real data") {
    val ms = MemoryStream[Event](spark)
    val q = StreamingAnomaly.sessionAggregates(ms.toDF(), "30 minutes", "1 hour")
      .writeStream.format("memory").queryName("sw_eq")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      val (h1, h2) = realEvents.splitAt(realEvents.length / 2)
      ms.addData(h1.toSeq); q.processAllAvailable()
      ms.addData(h2.toSeq); q.processAllAvailable()
      val maxTs = realEvents.map(_.ts.getTime).max
      ms.addData(Event(-1L, new Timestamp(maxTs + 3 * 3600 * 1000L), -999L, "sentinel", 0.0))
      q.processAllAvailable()
      // (Boundary note: an event at EXACTLY prev+gap would start a new
      // session here but extend it in the batch operator; the testdata's
      // microsecond-random timestamps never land on the boundary.)
      val got = spark.table("sw_eq").filter(col("user_id") >= 0)
        .select(col("user_id"), unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_end")).as("end_us"), col("n_events"))
        .as[(Long, Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
      val ev = Tables.events(spark, SparkTestSession.sfDir)
        .withColumn("tsu", epochUs(col("ts")))
      val want = graft.operators.TimeSeriesOps
        .sessionize(ev, Seq("user_id"), Seq("ts", "event_id"), "tsu", 30L * 60 * 1000000)
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("tsu")).as("start_us"), max(col("tsu")).as("end_us"),
          count(lit(1)).as("n"))
        .as[(Long, Long, Long, Long, Long)].collect()
        .map(r => (r._1, r._3) -> (r._4 + 30L * 60 * 1000000, r._5)).toMap
      assert(got.keySet == want.keySet, "session (user, start) sets differ")
      want.foreach { case (k, (end, n)) =>
        val (gEnd, gn) = got(k)
        assert(gn == n, s"session size mismatch at $k: $gn != $n")
        assert(gEnd == end, s"session end mismatch at $k: $gEnd != $end")
      }
    } finally q.stop()
  }

  test("stream-stream interval join matches rows within the lookback only") {
    val msL = MemoryStream[Event](spark)
    val msR = MemoryStream[Event](spark)
    val q = StreamingAnomaly.intervalJoin(msL.toDF(), msR.toDF(), "user_id", "1 hour")
      .writeStream.format("memory").queryName("ij")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      msR.addData(
        Event(100, ts("2026-01-01 09:30:00"), 1, "p", 7.0),  // within 1h of left@10:00
        Event(101, ts("2026-01-01 08:00:00"), 1, "p", 8.0),  // too old for left@10:00
        Event(102, ts("2026-01-01 09:45:00"), 2, "p", 9.0))  // other key
      msL.addData(
        Event(1, ts("2026-01-01 10:00:00"), 1, "m", 1.0),
        Event(2, ts("2026-01-01 10:15:00"), 2, "m", 2.0))
      q.processAllAvailable()
      val rows = spark.table("ij")
        .select(col("event_id"), col("matched_id"), col("r_value"))
        .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toList
      assert(rows == List((1L, 100L, 7.0), (2L, 102L, 9.0)),
        s"interval join matched wrong rows: $rows")
    } finally q.stop()
  }

  test("streaming alert episodes equal batch run-length grouping on real data") {
    import org.apache.spark.sql.expressions.Window
    import graft.streaming.{Episode, FlaggedEvent}
    import graft.functions.CleanFunctions
    // Batch-side flags (the ts_alert_episodes rule: |z| > 2 per series).
    val keyW = Window.partitionBy("user_id")
    val z = CleanFunctions.safeDiv(
      col("value") - CleanFunctions.exactMeanOver(col("value"), keyW),
      stddev_samp(col("value")).over(keyW))
    val flaggedDf = Tables.events(spark, SparkTestSession.sfDir)
      .withColumn("tsu", CleanFunctions.epochUs(col("ts")))
      .withColumn("flag", coalesce((abs(z) > lit(2.0)).cast("long"), lit(0L)))
    val want = graft.operators.Anomaly
      .alertEpisodes(flaggedDf, Seq("user_id"), Seq("ts", "event_id"), "flag", "tsu")
      .select(col("user_id"), col("n_events"), col("start_us"), col("end_us"))
      .as[(Long, Long, Long, Long)].collect().toSet

    val input = flaggedDf.select(col("event_id"), col("ts"), col("user_id"), col("flag"))
      .as[FlaggedEvent].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val ms = MemoryStream[FlaggedEvent](spark)
    val q = StreamingAnomaly.alertEpisodes(ms.toDS())
      .writeStream.format("memory").queryName("ep_eq")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      val (h1, h2) = input.splitAt(input.length / 2)
      ms.addData(h1.toSeq); q.processAllAvailable()
      ms.addData(h2.toSeq); q.processAllAvailable()
      // Per-key flag-0 flush closes trailing runs (which the batch
      // operator, seeing the full static table, emits as groups).
      val maxTs = input.map(_.ts.getTime).max
      val flush = input.map(_.user_id).distinct.zipWithIndex.map { case (u, i) =>
        FlaggedEvent(-1000L - i, new Timestamp(maxTs + 3600 * 1000L), u, 0L)
      }
      ms.addData(flush.toSeq); q.processAllAvailable()
      val got = spark.table("ep_eq").as[Episode].collect()
        .map(e => (e.user_id, e.n_events, e.start_us, e.end_us)).toSet
      assert(got == want,
        s"episode sets differ: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
    } finally q.stop()
  }

  test("streaming dedup equals batch distinct on real data with replayed duplicates") {
    val ms = MemoryStream[Event](spark)
    val q = StreamingAnomaly.dedupEvents(ms.toDF(), "10 hours")
      .writeStream.format("memory").queryName("dd_eq")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      val (h1, h2) = realEvents.splitAt(realEvents.length / 2)
      ms.addData(h1.toSeq); q.processAllAvailable()
      // Replay a slice of batch 1 inside the watermark horizon: all dups.
      ms.addData((h1.take(100) ++ h2).toSeq); q.processAllAvailable()
      assert(spark.table("dd_eq").count() == realEvents.map(_.event_id).distinct.length.toLong)
    } finally q.stop()
  }

  test("bottom-k quantile sketch: arrival order never changes the emitted sketch") {
    import org.apache.spark.sql.functions.col
    def run(name: String, feed: Seq[Event]): List[(String, Double, Double, Long)] = {
      val punct = StreamingAnomaly.punctuationEvent(
        feed.iterator.map(e => StreamingAnomaly.tsUs(e.ts)).max + 30L * 86400L * 1000000L)
      StreamingAnomaly.replayToSink(spark, feed, name, Some(punct))(ds =>
          StreamingAnomaly.bottomKQuantiles(ds.toDF(), k = 4, ps = Seq(0.5)).toDF())
        .where(col("event_type") =!= "__punctuation__")
        .as[(String, Double, Double, Long)].collect().sortBy(r => (r._1, r._2)).toList
    }
    val base = (1 to 9).map(i =>
      Event(i.toLong, ts(f"2026-01-01 0$i:00:00"), 1L, "m", i.toDouble))
    val fwd = run("qsk_fwd", base)
    val rev = run("qsk_rev", base.reverse)
    assert(fwd.nonEmpty && fwd == rev, s"fwd=$fwd rev=$rev")
    // k bounds the sample: k_eff is min(n, k).
    assert(fwd.forall(_._4 == 4L))
    // Emission is terminal: exactly one row per (key, p).
    assert(fwd.map(r => (r._1, r._2)).distinct.size == fwd.size)
  }

  test("emit-once sketch fold: post-emission stragglers never re-emit (tombstone)") {
    import org.apache.spark.sql.functions.col
    val ms = MemoryStream[Event](spark)
    val q = StreamingAnomaly.bottomKQuantiles(ms.toDF(), k = 4, ps = Seq(0.5))
      .toDF().writeStream.format("memory").queryName("eo_once")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      def emitted(): Long =
        spark.table("eo_once").where(col("event_type") === "m").count()
      ms.addData(Event(1, ts("2026-01-01 00:00:00"), 1, "m", 5.0))
      q.processAllAvailable()
      // Punctuation 10 days out: watermark passes m's timeout -> ONE
      // terminal emission.
      ms.addData(StreamingAnomaly.punctuationEvent(
        StreamingAnomaly.tsUs(ts("2026-01-11 00:00:00"))))
      q.processAllAvailable()
      assert(emitted() == 1L, "terminal sketch must emit exactly once")
      val firstVal = spark.table("eo_once").where(col("event_type") === "m")
        .select("pct_est").head().getDouble(0)
      assert(firstVal == 5.0)
      // A FRESH (non-late) row for the emitted key: the tombstone must
      // swallow it instead of re-opening the key...
      ms.addData(Event(2, ts("2026-01-16 00:00:00"), 1, "m", 9.0))
      q.processAllAvailable()
      // ...even after the watermark later advances far enough that a
      // re-opened key would have timed out (and the tombstone itself
      // expires into a silent remove).
      ms.addData(StreamingAnomaly.punctuationEvent(
        StreamingAnomaly.tsUs(ts("2026-03-01 00:00:00"))))
      q.processAllAvailable()
      assert(emitted() == 1L,
        "a straggler after the terminal emission re-emitted the key")
    } finally q.stop()
  }

  test("streaming HLL registers equal the batch register build, arrival-order-proof") {
    import org.apache.spark.sql.functions.{col, concat, lit, max}
    val keyEvents = realEvents.map(e =>
      graft.streaming.KeyEvent(e.event_id, e.ts, e.user_id, e.event_type))
    def run(name: String, feed: Seq[graft.streaming.KeyEvent]) = {
      val punct = StreamingAnomaly.punctuationKeyEvent(
        feed.iterator.map(e => StreamingAnomaly.tsUs(e.ts)).max + 30L * 86400L * 1000000L)
      StreamingAnomaly.replayToSink(spark, feed, name, Some(punct))(ds =>
          StreamingAnomaly.hllRegisters(ds.toDF()).toDF())
        .as[(String, Long, Long)].collect().sortBy(r => (r._1, r._2)).toList
    }
    val fwd = run("hllr_fwd", keyEvents.toSeq)
    val rev = run("hllr_rev", keyEvents.reverse.toSeq)
    val (bucket, rho) = graft.functions.CleanFunctions.hll60BucketRho(
      graft.functions.CleanFunctions.md5Hash64(concat(lit("hll:"), col("user_id"))))
    val batch = Tables.events(spark, SparkTestSession.sfDir)
      .select(col("event_type"), bucket.as("bucket"), rho.as("rho"))
      .groupBy("event_type", "bucket").agg(max(col("rho")).as("r"))
      .as[(String, Long, Long)].collect().sortBy(r => (r._1, r._2)).toList
    assert(fwd.nonEmpty && fwd == batch, "streaming registers != batch registers")
    assert(rev == batch, "register emission depends on arrival order")
  }

  test("streaming CMS/HLL driver entries equal their batch twins row-for-row") {
    for ((batchName, streamName) <- Seq(
        "events_cms_topk" -> "streaming_cms_topk",
        "events_hll_distinct" -> "streaming_hll_distinct")) {
      val b = SparkEntry.queries(batchName)(spark, SparkTestSession.sfDir)
        .collect().map(_.toString).sorted
      val st = SparkEntry.queries(streamName)(spark, SparkTestSession.sfDir)
        .collect().map(_.toString).sorted
      assert(b.nonEmpty && b.sameElements(st),
        s"$streamName diverges from $batchName")
    }
  }

  test("streaming Page-Hinkley equals batch pageHinkley on real data, bit-for-bit, across a batch split") {
    import org.apache.spark.sql.functions.col
    val ms = MemoryStream[Event](spark)
    val q = StreamingAnomaly.pageHinkley(ms.toDS(), delta = 5.0, lambda = 200.0)
      .writeStream.format("memory").queryName("ph_eq")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      // TWO batches split in event-time order: the plain-string DECIMAL
      // sums must round-trip the state store exactly for the running
      // mean/min to continue bit-for-bit.
      val clean = realEvents.toSeq
      val (h1, h2) = clean.splitAt(clean.length / 2)
      ms.addData(h1); q.processAllAvailable()
      ms.addData(h2); q.processAllAvailable()
      val got = spark.table("ph_eq")
        .select(col("event_id"),
          graft.functions.CleanFunctions.round4(col("ph")).as("ph"),
          col("is_drift"))
        .as[(Long, Double, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val want = graft.operators.StatsOps.pageHinkley(
          Tables.events(spark, SparkTestSession.sfDir)
            .where(col("value").isNotNull),
          Seq("user_id"), Seq("ts", "event_id"), "value", 5.0, 200.0)
        .select(col("event_id"), col("ph"), col("is_drift"))
        .as[(Long, Double, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got.keySet == want.keySet && got.nonEmpty)
      want.foreach { case (id, w) =>
        assert(got(id) == w, s"PH mismatch at event $id: ${got(id)} != $w")
      }
    } finally q.stop()
  }

  test("streaming drawdown equals the batch running-max window, bit-for-bit, across a batch split") {
    import org.apache.spark.sql.functions.{col, max}
    import org.apache.spark.sql.expressions.Window
    val ms = MemoryStream[Event](spark)
    val q = StreamingAnomaly.drawdown(ms.toDS())
      .writeStream.format("memory").queryName("dd_eq")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      val clean = realEvents.toSeq
      val (h1, h2) = clean.splitAt(clean.length / 2)
      ms.addData(h1); q.processAllAvailable()
      ms.addData(h2); q.processAllAvailable()
      val got = spark.table("dd_eq")
        .select(col("event_id"), col("run_max"))
        .as[(Long, Double)].collect().toMap
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = Tables.events(spark, SparkTestSession.sfDir)
        .where(col("value").isNotNull)
        .select(col("event_id"), max(col("value")).over(w).as("run_max"))
        .as[(Long, Double)].collect().toMap
      assert(got.keySet == want.keySet && got.nonEmpty)
      want.foreach { case (id, wv) =>
        assert(got(id) == wv, s"drawdown run_max mismatch at event $id")
      }
    } finally q.stop()
  }

  test("streaming hysteresis alarm state survives the batch boundary") {
    import graft.streaming.ZaSample
    val ms = MemoryStream[ZaSample](spark)
    val q = StreamingAnomaly.hysteresis(ms.toDS(), lo = 1.0, hi = 2.0)
      .writeStream.format("memory").queryName("hyst_state")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      ms.addData(
        ZaSample(1, ts("2026-01-01 00:00:00"), 7, 2.5),  // enter (> hi)
        ZaSample(2, ts("2026-01-01 01:00:00"), 7, 1.5))  // stay (>= lo)
      q.processAllAvailable()
      // Batch 2: 1.2 stays IN ALERT only if the armed state survived —
      // a reset fold would need > 2.0 to re-enter.
      ms.addData(
        ZaSample(3, ts("2026-01-01 02:00:00"), 7, 1.2),
        ZaSample(4, ts("2026-01-01 03:00:00"), 7, 0.5),  // exit (< lo)
        ZaSample(5, ts("2026-01-01 04:00:00"), 7, 1.5))  // stay out (<= hi)
      q.processAllAvailable()
      val rows = spark.table("hyst_state")
        .as[(Long, Long, Double, Long)].collect().sortBy(_._1).map(_._4).toList
      assert(rows == List(1L, 1L, 1L, 0L, 0L))
    } finally q.stop()
  }

  test("streaming hysteresis / SPRT / Page-Hinkley / ANN entries equal their batch twins row-for-row") {
    for ((batchName, streamName) <- Seq(
        "ts_hysteresis" -> "streaming_hysteresis",
        "events_sprt" -> "streaming_sprt",
        "ts_page_hinkley" -> "streaming_page_hinkley",
        "ann_ivf_topk" -> "streaming_ann_topk",
        "ts_bursts" -> "streaming_bursts",
        "ts_hawkes_intensity" -> "streaming_hawkes",
        "ts_holt_winters_mult" -> "streaming_holt_winters_mult")) {
      val b = SparkEntry.queries(batchName)(spark, SparkTestSession.sfDir)
        .collect().map(_.toString).sorted
      val st = SparkEntry.queries(streamName)(spark, SparkTestSession.sfDir)
        .collect().map(_.toString).sorted
      assert(b.nonEmpty && b.sameElements(st),
        s"$streamName diverges from $batchName")
    }
  }

  // ---- Split-batch state-resume for the r14 streaming twins ----
  // The driver entries replay their feed in ONE micro-batch, so the
  // GroupState save/restore path of the three newest folds was never
  // exercised (r14 verdict item 2). Each spec feeds the identical rows
  // in TWO batches, sorted time-first so EVERY key's series crosses the
  // boundary, and asserts bit-equality (Row.toString, the entry-equality
  // convention) with the single-batch replay — which the entry-equality
  // test above already ties to the batch fold and the shared oracle.

  private def assertSplitEqualsSingle[A](
      feed: Seq[A], name: String)(
      xform: org.apache.spark.sql.Dataset[A] => org.apache.spark.sql.DataFrame)(
      implicit enc: org.apache.spark.sql.Encoder[A]): Unit = {
    val single = StreamingAnomaly
      .replayToSink(spark, feed, s"${name}_single", None)(xform)
      .collect().map(_.toString).sorted
    val ms = MemoryStream[A](spark)
    val q = xform(ms.toDS()).writeStream.format("memory")
      .queryName(s"${name}_split")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    val split = try {
      val (h1, h2) = feed.splitAt(feed.length / 2)
      ms.addData(h1); q.processAllAvailable()
      ms.addData(h2); q.processAllAvailable()
      spark.table(s"${name}_split").collect().map(_.toString).sorted
    } finally q.stop()
    assert(single.nonEmpty && single.sameElements(split),
      s"$name: split-batch replay diverges from single-batch " +
        s"(${single.length} vs ${split.length} rows)")
  }

  /** r15 verdict item 2 — the state-store SERDE/resume path: where
    * [[assertSplitEqualsSingle]] crosses a micro-batch boundary WITHIN
    * one query instance, this STOPS the query after the first half,
    * starts a NEW query instance from the SAME checkpointLocation,
    * feeds the remainder, and requires the union of emissions to be
    * bit-identical (Row.toString) to the single-run replay — the
    * production kill/restart path, incl. GroupState encoder round-trip
    * through the HDFS state store. foreachBatch, not the memory sink:
    * only foreachBatch supports checkpoint recovery. A clean stop()
    * commits offsets, so the restarted instance re-delivers nothing —
    * any duplicate or state reset shows up as a multiset mismatch.
    */
  private def assertRecoveryEqualsSingle[A](
      feed: Seq[A], name: String)(
      xform: org.apache.spark.sql.Dataset[A] => org.apache.spark.sql.DataFrame)(
      implicit enc: org.apache.spark.sql.Encoder[A]): Unit = {
    val single = StreamingAnomaly
      .replayToSink(spark, feed, s"${name}_ckpt_single", None)(xform)
      .collect().map(_.toString).sorted
    val ck = ckpt()
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ms = MemoryStream[A](spark)
    def start() = xform(ms.toDS()).writeStream
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.collect().foreach(r => sink.add(r.toString))
      }
      .outputMode("append").option("checkpointLocation", ck).start()
    val (h1, h2) = feed.splitAt(feed.length / 2)
    val q1 = start()
    try { ms.addData(h1); q1.processAllAvailable() } finally q1.stop()
    val q2 = start()
    try { ms.addData(h2); q2.processAllAvailable() } finally q2.stop()
    import scala.jdk.CollectionConverters._
    val got = sink.asScala.toArray.sorted
    assert(single.nonEmpty && single.sameElements(got),
      s"$name: checkpoint-recovery replay diverges from the single run " +
        s"(${single.length} vs ${got.length} rows)")
  }

  test("checkpoint recovery: stop mid-feed + restart from the same checkpoint is bit-identical (HW additive + mult vector state, Kleinberg, Hawkes)") {
    import graft.streaming.{BurstSample, DaySample, HawkesSample}
    import org.apache.spark.sql.expressions.Window
    val daysFeed = Tables.events(spark, SparkTestSession.sfDir)
      .where(col("value").isNotNull)
      .withColumn("day", expr("unix_micros(ts) DIV 86400000000"))
      .groupBy("user_id", "day")
      .agg(graft.functions.CleanFunctions.exactMean(col("value"))
        .cast("double").as("m"))
      .as[DaySample].collect().sortBy(e => (e.day, e.user_id)).toSeq
    // Vector state (period-7 seasonal array) across the restart, both
    // seasonal decompositions.
    assertRecoveryEqualsSingle(daysFeed, "hw_add_recover")(ds =>
      StreamingAnomaly.holtWinters(ds, period = 7,
        alpha = 0.3, beta = 0.1, gamma = 0.2).toDF())
    assertRecoveryEqualsSingle(daysFeed, "hw_mult_recover")(ds =>
      StreamingAnomaly.holtWintersMult(ds, period = 7,
        alpha = 0.3, beta = 0.1, gamma = 0.2).toDF())
    val daily = Tables.events(spark, SparkTestSession.sfDir)
      .withColumn("day", expr("unix_micros(ts) DIV 86400000000"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).cast("double").as("c"))
    val rates = daily.groupBy("event_type").agg(avg("c").as("r0"))
    val burstFeed = daily.join(rates, "event_type")
      .select(col("event_type"), col("day"),
        (col("r0") - col("c") * log(col("r0"))).as("e0"),
        (col("r0") * 3.0 - col("c") * log(col("r0") * 3.0)).as("e1"))
      .as[BurstSample].collect().sortBy(e => (e.day, e.event_type)).toSeq
    assertRecoveryEqualsSingle(burstFeed, "bursts_recover")(ds =>
      StreamingAnomaly.burstViterbi(ds, gamma = 2.0).toDF())
    val wo = Window.partitionBy("user_id").orderBy("tsu", "event_id")
    val hawkesFeed = Tables.events(spark, SparkTestSession.sfDir)
      .withColumn("tsu", epochUs(col("ts")))
      .select(col("event_id"), col("user_id"), col("tsu"))
      .withColumn("dt", (col("tsu") - lag(col("tsu"), 1).over(wo))
        .cast("double") / lit(3600000000.0))
      .withColumn("decay", exp(lit(-0.1) * col("dt")))
      .select(col("event_id"), col("user_id"), col("tsu"), col("decay"))
      .as[HawkesSample].collect().sortBy(e => (e.tsu, e.event_id)).toSeq
    assertRecoveryEqualsSingle(hawkesFeed, "hawkes_recover")(ds =>
      StreamingAnomaly.hawkes(ds).toDF())
  }

  test("streaming multiplicative Holt-Winters state (level/trend/seasonal vector) survives the batch boundary") {
    import graft.streaming.DaySample
    val feed = Tables.events(spark, SparkTestSession.sfDir)
      .where(col("value").isNotNull)
      .withColumn("day", expr("unix_micros(ts) DIV 86400000000"))
      .groupBy("user_id", "day")
      .agg(graft.functions.CleanFunctions.exactMean(col("value"))
        .cast("double").as("m"))
      .as[DaySample].collect().sortBy(e => (e.day, e.user_id)).toSeq
    assertSplitEqualsSingle(feed, "hw_mult_resume")(ds =>
      StreamingAnomaly.holtWintersMult(ds, period = 7,
        alpha = 0.3, beta = 0.1, gamma = 0.2).toDF())
  }

  test("streaming Kleinberg burst Viterbi costs survive the batch boundary, nulls pass through statelessly") {
    import graft.streaming.BurstSample
    val daily = Tables.events(spark, SparkTestSession.sfDir)
      .withColumn("day", expr("unix_micros(ts) DIV 86400000000"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).cast("double").as("c"))
    val rates = daily.groupBy("event_type").agg(avg("c").as("r0"))
    val real = daily.join(rates, "event_type")
      .select(col("event_type"), col("day"),
        (col("r0") - col("c") * log(col("r0"))).as("e0"),
        (col("r0") * 3.0 - col("c") * log(col("r0") * 3.0)).as("e1"))
      .as[BurstSample].collect()
    // Null-emission rows mid-grid: the fold must emit them without
    // advancing the two path costs, on BOTH sides of the boundary.
    val midDay = (real.map(_.day).min + real.map(_.day).max) / 2
    val nulls = real.map(_.event_type).distinct.map(t =>
      BurstSample(t, midDay, None, None))
    val feed = (real ++ nulls).sortBy(e => (e.day, e.event_type)).toSeq
    assertSplitEqualsSingle(feed, "bursts_resume")(ds =>
      StreamingAnomaly.burstViterbi(ds, gamma = 2.0).toDF())
  }

  test("streaming Hawkes excitation state survives the batch boundary") {
    import graft.streaming.HawkesSample
    import org.apache.spark.sql.expressions.Window
    val wo = Window.partitionBy("user_id").orderBy("tsu", "event_id")
    val feed = Tables.events(spark, SparkTestSession.sfDir)
      .withColumn("tsu", epochUs(col("ts")))
      .select(col("event_id"), col("user_id"), col("tsu"))
      .withColumn("dt", (col("tsu") - lag(col("tsu"), 1).over(wo))
        .cast("double") / lit(3600000000.0))
      .withColumn("decay", exp(lit(-0.1) * col("dt")))
      .select(col("event_id"), col("user_id"), col("tsu"), col("decay"))
      .as[HawkesSample].collect().sortBy(e => (e.tsu, e.event_id)).toSeq
    assertSplitEqualsSingle(feed, "hawkes_resume")(ds =>
      StreamingAnomaly.hawkes(ds).toDF())
  }

  // The first-generation twins share their batch folds' update steps too;
  // these cross a micro-batch boundary with the state they carry.

  test("streaming Kalman posterior survives the batch boundary") {
    assertSplitEqualsSingle(realEvents.toSeq, "kalman_resume")(ds =>
      StreamingAnomaly.kalman(ds, q = 4.0, r = 25.0).toDF())
  }

  test("streaming recursive EWMA numerator/denominator survive the batch boundary") {
    assertSplitEqualsSingle(realEvents.toSeq, "ewma_resume")(ds =>
      StreamingAnomaly.ewmaRecursive(ds, alpha = 0.3).toDF())
  }

  test("streaming GARCH variance and previous return survive the batch boundary") {
    import graft.streaming.RetSample
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val feed = Tables.events(spark, SparkTestSession.sfDir)
      .withColumn("ret", col("value") - lag(col("value"), 1).over(w))
      .where(col("ret").isNotNull)
      .select(col("event_id"), col("ts"), col("user_id"), col("ret").cast("double").as("ret"))
      .as[RetSample].collect().sortBy(e => (e.ts.getTime, e.event_id)).toSeq
    assertSplitEqualsSingle(feed, "garch_resume")(ds =>
      StreamingAnomaly.garch(ds, omega = 200.0, alpha = 0.10, beta = 0.85).toDF())
  }

  test("streaming token bucket balance survives the batch boundary") {
    assertSplitEqualsSingle(realEvents.toSeq, "tb_resume")(ds =>
      StreamingAnomaly.tokenBucket(ds, capacity = 3.0, refillPerSec = 1.0 / 3600.0).toDF())
  }

  test("streaming CUSUM statistic survives the batch boundary") {
    import graft.functions.CleanFunctions
    val e = Tables.events(spark, SparkTestSession.sfDir).where(col("value").isNotNull)
    val stats = e.groupBy("user_id").agg(
      CleanFunctions.exactSum(col("value")).as("sx"),
      CleanFunctions.exactSum(col("value") * col("value")).as("sxx"),
      count(col("value")).cast("double").as("n"))
    val feed = e.join(stats, "user_id")
      .select(col("event_id"), col("ts"), col("user_id"), col("value"),
        (col("sx") / col("n")).as("target_mean"),
        (lit(0.5) * CleanFunctions.momentStd(col("n"), col("sx"), col("sxx"))).as("slack"))
      .as[ControlSample].collect().sortBy(s => (s.ts.getTime, s.event_id)).toSeq
    assertSplitEqualsSingle(feed, "cusum_resume")(ds =>
      StreamingAnomaly.cusumReset(ds).toDF())
  }

  test("streaming token bucket rejects a capacity below one, like its batch fold") {
    val ms = MemoryStream[Event](spark)
    val e = intercept[IllegalArgumentException] {
      StreamingAnomaly.tokenBucket(ms.toDS(), capacity = 0.5, refillPerSec = 1.0)
    }
    assert(e.getMessage.contains("capacity must admit at least one event"))
  }

  test("streaming_ann_topk replay batch is fenced: bounded by the id cap, no-op at test scale") {
    import org.apache.spark.sql.functions.col
    val cap = graft.queries.SimilarityQueries.AnnStreamQueryIdCap
    // The fence admits at most cap/50 + 1 queries however large the
    // corpus grows — the harness batch can never be corpus-proportional.
    assert(cap / 50 + 1 <= 2001, s"fence admits ${cap / 50 + 1} queries")
    val e = graft.sources.Tables.embeddings(spark, SparkTestSession.sfDir)
    val q = e.filter(col("vec_id") % 50 === 0)
    val capped = q.filter(col("vec_id") < cap)
    // No-op at committed sfs: the capped batch IS the oracle's batch,
    // so the shared ann_ivf_topk oracle hashes are unchanged.
    assert(capped.count() == q.count() && q.count() > 0)
  }

  test("replayToSink enforces the bounded-feed contract shared by every streaming twin") {
    val cap = StreamingAnomaly.ReplayCap
    // Clearance: every committed sf (sf0.1 events = 100k) AND the 10x
    // sf1eq decade (~1M) fit with margin — committed hashes untouched.
    assert(cap >= 2000000 && realEvents.length <= cap)
    val e = intercept[IllegalArgumentException] {
      StreamingAnomaly.replayToSink(
        spark, Vector.fill(cap + 1)(0L), "fence_overflow", None)(_.toDF())
    }
    assert(e.getMessage.contains("ReplayCap"))
  }

  test("different series keys never share state") {
    val ms = MemoryStream[Event](spark)
    val q = StreamingAnomaly.rollingZscore(ms.toDS(), win = 4, threshold = 3.0)
      .writeStream.format("memory").queryName("rz2")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      ms.addData(
        Event(1, ts("2026-01-01 00:00:00"), 1, "m", 1.0),
        Event(2, ts("2026-01-01 00:00:00"), 2, "m", 1000.0),
        Event(3, ts("2026-01-01 01:00:00"), 1, "m", 2.0),
        Event(4, ts("2026-01-01 01:00:00"), 2, "m", 2000.0),
        Event(5, ts("2026-01-01 02:00:00"), 1, "m", 1.5))
      q.processAllAvailable()
      val rows = spark.table("rz2")
        .as[(Long, Timestamp, Long, Double, Option[Double], Long)]
        .collect().sortBy(_._1).toList
      // user 1's third event scores against (1,2) only — z = -0/..., small.
      assert(rows(4)._5.isDefined && math.abs(rows(4)._5.get) < 1.0)
      // users' first two events are warm-up regardless of the other key.
      assert(rows.take(4).forall(_._5.isEmpty))
    } finally q.stop()
  }
}
