package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{LayoutOps, TimeSeriesOps => TS}
import graft.queries.OpsQueries

/** Every keyed series fold on `TimeSeriesOps.scanSeries`, driven from one
  * table: results do not depend on `spark.sql.shuffle.partitions`, and
  * degenerate input (empty frame, one-row series, all-null-target series)
  * gives a defined result with no exception.
  */
class ScanFoldSpec extends AnyFunSuite {
  import SparkTestSession.{spark, withShufflePartitions}
  import spark.implicits._

  private val K   = Seq("k")
  private val Ord = Seq("tsu", "id")
  private val H   = 3600L * 1000000

  /** One fold under test.
    * @param targets  the columns the fold reads (nulled for the all-null series)
    * @param perRow   true: one output row per input row, input columns kept
    * @param nullOuts per-row folds: the outputs of a series whose targets
    *                 are all null; summary folds emit no row for it
    */
  private case class Fold(name: String, targets: Seq[String], perRow: Boolean,
                          nullOuts: Seq[Any], run: DataFrame => DataFrame)

  private val folds = Seq(
    Fold("ewmaRecursive", Seq("v"), true, Seq(null),
      TS.ewmaRecursive(_, K, Ord, "v", alpha = 0.3)),
    Fold("holtSmooth", Seq("v"), false, Nil,
      TS.holtSmooth(_, K, Ord, "v", 0.5, 0.3)),
    Fold("crostonSmooth", Seq("q"), false, Nil,
      TS.crostonSmooth(_, K, "bucket", "q", 0.3)),
    Fold("holtPath", Seq("v"), true, Seq(null, null),
      TS.holtPath(_, K, Ord, "v", 0.5, 0.3)),
    Fold("kalmanPath", Seq("v"), true, Seq(null, null),
      TS.kalmanPath(_, K, Ord, "v", 4.0, 25.0)),
    Fold("garchPath", Seq("v"), true, Seq(null),
      TS.garchPath(_, K, Ord, "v", 2.0, 0.2, 0.7)),
    Fold("hysteresis", Seq("v"), true, Seq(null),
      TS.hysteresis(_, K, Ord, "v", lo = 45.0, hi = 55.0)),
    Fold("cusumReset", Seq("v"), true, Seq(null),
      TS.cusumReset(_, K, Ord, "v", "m", "slk")),
    Fold("holtWinters", Seq("v"), true, Seq(null, null, null, null),
      TS.holtWinters(_, K, Ord, "v", period = 3, alpha = 0.3, beta = 0.1, gamma = 0.2)),
    Fold("holtWintersMult", Seq("v"), true, Seq(null, null, null, null),
      TS.holtWintersMult(_, K, Ord, "v", period = 3, alpha = 0.3, beta = 0.1, gamma = 0.2)),
    Fold("tokenBucket", Seq("t"), true, Seq(null, null),
      TS.tokenBucket(_, K, Ord, "t", capacity = 3.0, refillPerSec = 1.0 / 3600.0)),
    // A null decay leaves A where it starts: 0 on every row.
    Fold("hawkesPath", Seq("decay"), true, Seq(0.0),
      TS.hawkesPath(_, K, Ord, "decay")),
    Fold("burstPath", Seq("e0", "e1"), true, Seq(null, null, null),
      TS.burstPath(_, K, Ord, "e0", "e1", gamma = 1.5)),
    Fold("packFirstFit", Seq("sz"), true, Seq(null, null),
      LayoutOps.packFirstFit(_, K, Ord, "sz", capacity = 100L)),
    Fold("lttbDownsample", Seq("value"), false, Nil, df =>
      OpsQueries.lttbDownsample(df.withColumn("user_id", col("k"))
        .withColumn("event_id", col("id")).drop("k", "id")))
  )

  /** `n` rows over four keys; every column a fold reads is present, with
    * the target columns nullable and occasionally null. */
  private def frame(n: Int): DataFrame =
    (1 to n).map { i =>
      val v = if (i % 9 == 0) None else Some(50.0 + 20.0 * math.sin(i.toDouble))
      (i.toLong, (i % 4).toLong, i * H, v)
    }.toDF("id", "k", "tsu", "v")
      .withColumn("value", col("v"))
      .withColumn("m", lit(50.0)).withColumn("slk", lit(2.0))
      .withColumn("bucket", col("id"))
      .withColumn("q", col("v"))
      .withColumn("t", when(col("v").isNotNull, col("tsu")))
      .withColumn("decay", when(col("v").isNotNull, round(exp(-col("id") / 10.0), 6)))
      .withColumn("e0", round(abs(col("v") - 50.0), 2))
      .withColumn("e1", round(abs(col("v") - 60.0), 2))
      .withColumn("sz", (col("id") * 7 % 40).cast("long"))

  private def rows(df: DataFrame): Set[Row] = df.collect().toSet

  test("every scan fold is partition-count invariant") {
    val df = frame(240)
    folds.foreach { f =>
      val a = withShufflePartitions(1)(rows(f.run(df)))
      val b = withShufflePartitions(13)(rows(f.run(df)))
      assert(a.nonEmpty, s"${f.name}: no output rows")
      assert(a == b, s"${f.name} depends on spark.sql.shuffle.partitions")
    }
  }

  test("every scan fold gives a defined result on an empty frame") {
    val empty = frame(8).where(lit(false))
    folds.foreach { f =>
      val out = f.run(empty)
      assert(out.collect().isEmpty, s"${f.name}: rows from an empty frame")
      if (f.perRow) assert(out.columns.take(empty.columns.length).sameElements(empty.columns))
    }
  }

  test("every scan fold gives a defined result on a one-row series") {
    val one = frame(8).where(col("id") === 1L && col("v").isNotNull)
    folds.foreach { f =>
      val n = f.run(one).count()
      // LTTB keeps nothing below its point budget; the other summary
      // folds emit the series' single final state.
      val want = if (f.name == "lttbDownsample") 0L else 1L
      assert(n == want, s"${f.name}: $n rows from a one-row series")
    }
  }

  test("every scan fold gives a defined result on an all-null-target series") {
    // Key 1 keeps its values; key 2's target columns are all null.
    val base = frame(80).where(col("k").isin(1L, 2L))
    folds.foreach { f =>
      val df = f.targets.foldLeft(base) { (d, c) =>
        d.withColumn(c, when(col("k") =!= 2L, col(c)))
      }
      val out = f.run(df)
      if (f.perRow) {
        assert(out.count() == df.count(), s"${f.name} changed the row count")
        val outs = out.where(col("k") === 2L)
          .select(out.columns.drop(df.columns.length).map(col): _*).collect()
        assert(outs.nonEmpty && outs.forall(_.toSeq == f.nullOuts),
          s"${f.name}: all-null series gave ${outs.take(3).mkString(", ")}")
      } else {
        val keyCol = if (f.name == "lttbDownsample") "user_id" else "k"
        assert(out.where(col(keyCol) === 2L).count() == 0,
          s"${f.name} emitted a row for a series with no non-null value")
        assert(out.where(col(keyCol) === 1L).count() > 0, s"${f.name} lost the valid series")
      }
    }
  }

  test("a fold rejects an input that already holds an output column, and never a shadow name") {
    val df = frame(40)
    intercept[IllegalArgumentException] {
      TS.tokenBucket(df.withColumn("tokens", lit(1.0)), K, Ord, "t", 3.0, 1.0)
    }
    intercept[IllegalArgumentException] {
      TS.holtWinters(df.withColumn("hw_level", lit(1.0)), K, Ord, "v", 3, 0.3, 0.1, 0.2)
    }
    intercept[IllegalArgumentException] {
      LayoutOps.packFirstFit(df.withColumn("shard_file", lit(1L)), K, Ord, "sz", 100L)
    }
    intercept[IllegalArgumentException] {
      TS.tokenBucket(df, K, Ord, "t", 3.0, 1.0, tokensCol = "x", admitCol = "x")
    }
    // A column named like an internal input shadow is just another
    // input column: kept in place, and the fold's result is unchanged.
    val shadowed = df.withColumn("__holt_in", lit(7.0))
    val out = TS.holtPath(shadowed, K, Ord, "v", 0.5, 0.3)
    assert(out.columns.toSeq == shadowed.columns.toSeq ++ Seq("level", "trend"))
    assert(out.where(col("__holt_in") =!= 7.0).count() == 0)
    val want = TS.holtPath(df, K, Ord, "v", 0.5, 0.3).select("id", "level", "trend")
    assert(rows(out.select("id", "level", "trend")) == rows(want))
  }
}
