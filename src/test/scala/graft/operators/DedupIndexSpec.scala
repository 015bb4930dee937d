package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** `TimeSeriesOps.dedupIndex` runs on the series window (partitioned by
  * the keys alone). It must keep exactly the rows a `row_number` over a
  * `(keys, tsExpr)` partition keeps.
  */
class DedupIndexSpec extends AnyFunSuite {
  import SparkTestSession.spark

  /** The `(keys, tsExpr)`-partitioned form, kept as the reference. */
  private def reference(df: DataFrame, keys: Seq[String], tsExpr: Column,
                        tie: Seq[String], keep: String): DataFrame = {
    val ord = if (keep == "first") tie.map(col) else tie.map(c => col(c).desc)
    val w = Window.partitionBy(keys.map(col) :+ tsExpr: _*).orderBy(ord: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Seeded rows with null keys, times and tie ids, runs of duplicate
    * times (within and across hours) and full-tie rows. A full tie is
    * an exact copy (the value is a function of the sort columns), as no
    * order can tell such rows apart. */
  private def frame(seed: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def opt[T](p: Double)(v: => T): Option[T] = if (rnd.nextDouble() < p) None else Some(v)
    val rows = (0 until 300).flatMap { _ =>
      val key = (opt(0.03)(rnd.nextInt(4).toLong),
        opt(0.05)(new java.sql.Timestamp(t0 + rnd.nextInt(40) * 20 * 60000L)),
        opt(0.05)(rnd.nextInt(120).toLong))
      val row = (key._1, key._2, key._3, key.hashCode.toDouble)
      if (rnd.nextDouble() < 0.1) Seq(row, row) else Seq(row)
    }
    rows.toDF("user_id", "ts", "event_id", "value")
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString(",")).sorted.toSeq

  for (parts <- Seq(1, 13); keep <- Seq("first", "last");
       (label, tsExpr) <- Seq("ts" -> col("ts"), "hour" -> date_trunc("hour", col("ts")))) {
    test(s"keep=$keep over $label equals the per-(keys, tsExpr) row_number at $parts partitions") {
      SparkTestSession.withShufflePartitions(parts) {
        for (seed <- 1 to 3) {
          val df = frame(seed)
          val tie = Seq("ts", "event_id")
          val got = sorted(TimeSeriesOps.dedupIndex(df, Seq("user_id"), tsExpr, tie, keep))
          val want = sorted(reference(df, Seq("user_id"), tsExpr, tie, keep))
          assert(got == want, s"seed $seed")
          assert(got.size < df.count(), s"seed $seed: no duplicate was dropped")
        }
      }
    }
  }
}
