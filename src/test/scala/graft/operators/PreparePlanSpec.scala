package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, Pipeline, PipelineConfig, PlanAudit, SparkTestSession}
import graft.functions.CleanFunctions
import graft.sources.{CsvSource, Tables}

/** The front of `Pipeline.run`: the events are shuffled and sorted once,
  * on the series key, from the time index to the model windows, and a warm
  * pca call from a CSV runs the windowing checkpoint, the fit and the
  * result, and nothing else.
  */
class PreparePlanSpec extends AnyFunSuite {
  import SparkTestSession.{sfDir, spark}

  test("the model windows over Pipeline.prepare shuffle and sort the events once") {
    val cfg = PipelineConfig()
    // AQE off, as PcaReconstruction checkpoints the windows.
    val plan = GraftSession.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      TimeSeriesOps.featureWindows(Pipeline.prepare(Tables.events(spark, sfDir), cfg),
        cfg.seriesKeys, cfg.order, Seq(s"${cfg.target}_scaled"), cfg.seqLen)
        .queryExecution.executedPlan
    }
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    val sorts = plan.collect { case s: SortExec => s }
    assert(exchanges.size == 1, s"${exchanges.size} exchanges:\n$plan")
    assert(sorts.size == 1, s"${sorts.size} sorts:\n$plan")
  }

  test("the hash-exchange budget flags a window that leaves the series layout") {
    // A dedup partitioned by (user_id, ts): a row_number kept by a filter
    // (which stops Spark from transposing the two windows), then the
    // series window on user_id alone.
    val twoShuffles = Tables.events(spark, sfDir)
      .withColumn("rn", row_number().over(Window.partitionBy("user_id", "ts").orderBy("event_id")))
      .filter(col("rn") === 1)
      .withColumn("prev", lag("value", 1).over(
        TimeSeriesOps.seriesWindow(Seq("user_id"), Seq("ts", "event_id"))))
    val smells = GraftSession.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      PlanAudit.smells("run_pipeline", twoShuffles.queryExecution)
    }
    assert(smells.exists(_.startsWith("2 hash exchanges, budget 1")), smells.mkString("; "))
    assert(PlanAudit.HashExchangeBudget.keySet.subsetOf(graft.SparkEntry.queries.keySet))
  }

  test("a warm Pipeline.run pca call from a CSV runs at most 3 jobs") {
    val dir = Files.createTempDirectory("graft-prepare-plan")
    val path = dir.resolve("ts.csv")
    val rows = for (u <- 1 to 2; i <- 0 until 120) yield {
      val ts = java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusHours(i)
        .format(java.time.format.DateTimeFormatter.ofPattern("MMM d, yyyy h:mm a",
          java.util.Locale.ENGLISH))
      val v = 10.0 + 5.0 * math.sin(2 * math.Pi * (i % 24) / 24.0) + (if (i == 90) 30.0 else 0.0)
      s"${u * 1000 + i};$u;$ts;${f"$v%.3f".replace('.', ',')}"
    }
    Files.write(path, ("event_id;user_id;Start date;value" +: rows).mkString("\n").getBytes)
    val cfg = PipelineConfig(lags = Seq(1, 2), rollingWindows = Seq(3), seqLen = 12,
      pcaComponents = 2)
    def call() = Pipeline.run(
      CsvSource.load(spark, path.toString, ";", Seq("Start date"))
        .select(col("event_id").cast("long").as("event_id"),
          col("user_id").cast("long").as("user_id"), col("Start date").as("ts"),
          CleanFunctions.cleanNumeric(col("value")).as("value")), cfg).collect()
    try {
      call()
      val jobs = SparkTestSession.countJobs(call())
      assert(jobs <= 3, s"$jobs jobs")
    } finally {
      Files.delete(path)
      Files.delete(dir)
    }
  }
}
