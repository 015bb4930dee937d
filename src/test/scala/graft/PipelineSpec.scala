package graft

import java.nio.file.Files

import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.CleanFunctions
import graft.sources.CsvSource

class PipelineSpec extends AnyFunSuite {
  import SparkTestSession.{sfDir, spark}

  test("end-to-end pipeline runs on events and produces scores + flags") {
    val cfg = PipelineConfig(lags = Seq(1, 2, 3, 24), rollingWindows = Seq(3, 24))
    val out = Pipeline.run(graft.sources.Tables.events(spark, sfDir), cfg).cache()
    val n = out.count()
    assert(n > 0)
    assert(out.filter(col("recon_err").isNull || col("recon_err") < 0).count() == 0)
    assert(out.filter(!col("is_anomaly").isin(0L, 1L)).count() == 0)
    // Scaled features present and in [0,1].
    Pipeline.featureColumns(cfg).take(2).foreach { c =>
      assert(out.columns.contains(c + "_scaled"), s"missing ${c}_scaled")
    }
    assert(out.filter(col("value_scaled") < 0 || col("value_scaled") > 1).count() == 0)
  }

  test("mlp model trains the nonlinear AE on the full (L, F) feature matrix") {
    val cfg = PipelineConfig(lags = Seq(1, 2, 3, 24), rollingWindows = Seq(3, 24),
      model = "mlp", seqLen = 12)
    val out = Pipeline.run(graft.sources.Tables.events(spark, sfDir), cfg).cache()
    assert(out.count() > 0)
    assert(out.filter(col("recon_err").isNull || col("recon_err") < 0).count() == 0)
    assert(out.filter(!col("is_anomaly").isin(0L, 1L)).count() == 0)
    // Deterministic: a second run reproduces the scores exactly.
    val out2 = Pipeline.run(graft.sources.Tables.events(spark, sfDir), cfg)
    assert(out.select("event_id", "recon_err")
      .exceptAll(out2.select("event_id", "recon_err")).count() == 0)
  }

  test("lstm model runs the recurrent AE end to end on the (L, F) feature matrix") {
    val cfg = PipelineConfig(lags = Seq(1, 2, 3, 24), rollingWindows = Seq(3, 24),
      model = "lstm", seqLen = 12)
    val out = Pipeline.run(graft.sources.Tables.events(spark, sfDir), cfg).cache()
    assert(out.count() > 0)
    assert(out.filter(col("recon_err").isNull || col("recon_err") < 0).count() == 0)
    assert(out.filter(!col("is_anomaly").isin(0L, 1L)).count() == 0)
  }

  test("prepare's optimized plan has one Window per window spec (<= 6)") {
    val plan = Pipeline.prepare(graft.sources.Tables.events(spark, sfDir), PipelineConfig())
      .queryExecution.optimizedPlan
    val windows = plan.collect { case w: Window => w }.size
    assert(windows <= 6, s"$windows Window nodes in the optimized plan of Pipeline.prepare")
  }

  test("pca run reads rewritten input and leaves no cached data behind") {
    // Test suites run one after another in the forked test JVM, so clearing
    // the shared session's cache here cannot race another suite.
    spark.catalog.clearCache()
    val dir = Files.createTempDirectory("graft-pipeline-csv")
    def csv(name: String, spike: Double): String = {
      val rows = for (u <- 1 to 2; i <- 0 until 120) yield {
        val ts = java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusHours(i)
          .format(java.time.format.DateTimeFormatter.ofPattern("MMM d, yyyy h:mm a",
            java.util.Locale.ENGLISH))
        val v = 10.0 + 5.0 * math.sin(2 * math.Pi * (i % 24) / 24.0) +
          (if (u == 1 && i == 90) spike else 0.0)
        s"${u * 1000 + i};$u;$ts;${f"$v%.3f".replace('.', ',')}"
      }
      val path = dir.resolve(name)
      Files.write(path, ("event_id;user_id;Start date;value" +: rows).mkString("\n").getBytes)
      path.toString
    }
    val cfg = PipelineConfig(lags = Seq(1, 2), rollingWindows = Seq(3), seqLen = 12, pcaComponents = 2)
    def result(path: String): Seq[String] = {
      val events = CsvSource.load(spark, path, ";", Seq("Start date"))
        .select(col("event_id").cast("long").as("event_id"),
          col("user_id").cast("long").as("user_id"), col("Start date").as("ts"),
          CleanFunctions.cleanNumeric(col("value")).as("value"))
      val rows = Pipeline.run(events, cfg).select("event_id", "recon_err", "is_anomaly")
        .collect().map(_.mkString(",")).sorted.toSeq
      assert(spark.sharedState.cacheManager.isEmpty, "Pipeline.run left a cache entry")
      rows
    }
    val path = csv("ts.csv", spike = 0.0)
    val first = result(path)
    val expected = result(csv("other.csv", spike = 60.0))
    assert(first != expected)
    csv("ts.csv", spike = 60.0)
    assert(result(path) == expected, "second call over the rewritten file returned stale rows")
    dir.toFile.listFiles.foreach(_.delete())
    dir.toFile.delete()
  }

  // Two sine series with a spike, plus a third series (user 3).
  private val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
  private def series(u: Long, v: Int => java.lang.Double) = (0 until 120).map(i =>
    (u * 1000 + i, u, new java.sql.Timestamp(t0.getTime + i * 3600000L), v(i)))
  private val base = Seq(1L, 2L).flatMap(u => series(u, i =>
    10.0 + 5.0 * math.sin(2 * math.Pi * (i % 24) / 24.0) +
      u * 0.3 * math.cos(i / 7.0) + (if (u == 1 && i == 90) 40.0 else 0.0)))
  private def rows(cfg: PipelineConfig,
                   data: Seq[(Long, Long, java.sql.Timestamp, java.lang.Double)]) = {
    import spark.implicits._
    Pipeline.run(data.toDF("event_id", "user_id", "ts", "value"), cfg)
      .select("user_id", "event_id", "recon_err", "is_anomaly")
      .collect().map(_.mkString(",")).sorted.toSeq
  }
  private def modelCfg(model: String) = PipelineConfig(lags = Seq(1, 2), rollingWindows = Seq(3),
    seqLen = 12, pcaComponents = 2, model = model)

  // A constant user 3 (its scaled values are all null) is degenerate: every
  // model must finish, emit nothing for user 3 and give users 1 and 2 the
  // rows of a run without user 3, bit for bit. With nothing left to fit,
  // the model fails with a message.
  for (model <- Seq("pca", "mlp", "lstm")) {
    test(s"$model run drops a degenerate series and leaves the other series' rows unchanged") {
      val cfg = modelCfg(model)
      val constant = series(3, _ => 7.0)
      val expected = rows(cfg, base)
      assert(expected.nonEmpty)
      val got = rows(cfg, base ++ constant)
      assert(!got.exists(_.startsWith("3,")), "constant series emitted rows")
      assert(got == expected, "constant series changed the other series' rows")
      val e = intercept[IllegalArgumentException](rows(cfg, constant))
      assert(e.getMessage.contains("no complete windows"))
    }
  }

  // A NaN target is missing, like a null: user 3 with a NaN at hour 70
  // gives the rows of the same series with a null there, its own included
  // (a kept NaN would turn its min-max scale NaN and drop all 120 rows).
  for (model <- Seq("pca", "mlp", "lstm")) {
    test(s"$model run fills a NaN target like a null") {
      val cfg = modelCfg(model)
      def user3(at70: java.lang.Double) = series(3, i =>
        if (i == 40) null else if (i == 70) at70 else 10.0 + math.sin(i / 5.0))
      val expected = rows(cfg, base ++ user3(null))
      assert(expected.exists(_.startsWith("3,")), "the series with nulls emitted no rows")
      assert(rows(cfg, base ++ user3(Double.NaN)) == expected,
        "a NaN target gave other rows than a null there")
    }
  }

  test("PipelineConfig rejects an unknown duplicateHandling") {
    val e = intercept[IllegalArgumentException](PipelineConfig(duplicateHandling = "mean"))
    assert(e.getMessage.contains("duplicateHandling"))
  }

  test("PipelineConfig rejects an unknown missingStrategy") {
    val e = intercept[IllegalArgumentException](PipelineConfig(missingStrategy = "linear"))
    assert(e.getMessage.contains("missingStrategy"))
  }

  test("PipelineConfig rejects an unknown model") {
    val e = intercept[IllegalArgumentException](PipelineConfig(model = "gru"))
    assert(e.getMessage.contains("model"))
  }
}
