package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.GraftSession

/** The benchmark's JVM side: runs one workload as a closed loop with one
  * client and writes every raw sample, output digest and trace record to
  * `<out>/result.json`. Statistics, checks and the report are computed by
  * `run.py` from that file.
  *
  * Usage: perfbench.Main --workload W --data DIR --out DIR --seconds S
  *        --trace 0|1 [workload parameters]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val trace = opt("trace") == "1"
    val out = opt("out")
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors)
    val tracer = new Tracer(spark.sparkContext)
    val w: Workload = opt("workload") match {
      case "ts_batch" => new TsBatch(spark, tracer, opt("data"), out, opt("lstm-series").toInt)
      case "stream_monitor" => new StreamMonitor(spark, tracer, opt("data"), out, trace)
      case "curation" => new Curation(spark, tracer, opt("data"))
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    w.warmup()
    val setupMs = System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime
    val setupCompileNs = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    w.settle()

    // Closed loop: one round after another until the time is used. A traced
    // run interleaves untraced and traced rounds as U T T U U T T U ..., so
    // trace overhead is the ratio of the two within one process, and a
    // steady warm-up drift affects both sides alike.
    val budgetNs = (opt("seconds").toDouble * 1e9).toLong
    val minRounds = if (trace) math.max(w.minRounds, 4) else w.minRounds
    val t0 = System.nanoTime()
    while (w.hasRound && (w.round < minRounds - 1 || System.nanoTime() - t0 < budgetNs)) {
      w.round += 1
      val traced = trace && (w.round % 4 == 1 || w.round % 4 == 2)
      if (traced) tracer.start()
      w.runRound()
      if (traced) tracer.stop()
    }
    val timedMs = (System.nanoTime() - t0) / 1e6

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> opt("workload"), "setup_ms" -> setupMs,
      "setup_codegen_compile_ns" -> setupCompileNs, "timed_ms" -> timedMs,
      "rounds" -> (w.round + 1), "calls" -> w.calls, "outputs" -> w.outputs())
    if (trace) {
      result("layers") = w.layers()
      result("trace") = tracer.toJson
    }
    Files.write(Paths.get(out, "result.json"), Json(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
    sys.exit(0)
  }
}

/** One workload: a warm-up that makes each call once (untimed, counted in
  * set-up), untimed settling calls while the JIT catches up, then timed
  * rounds of user calls, then untimed outputs for the checks.
  */
abstract class Workload(val spark: SparkSession, val tracer: Tracer) {
  /** Round being run; negative before the timed loop. */
  var round: Int = -1
  val calls: mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]] = mutable.ArrayBuffer()

  def warmup(): Unit = runRound()
  def settle(): Unit = ()
  def minRounds: Int = 3
  def runRound(): Unit
  def hasRound: Boolean = true
  def outputs(): Map[String, Any]
  /** Workload-specific per-layer numbers, computed after the loop of a
    * traced run.
    */
  def layers(): Map[String, Any] = Map.empty

  /** Records one timed call sample; `extra` carries output digests. */
  protected def record(name: String, ns: Long, ok: Boolean, extra: (String, Any)*): Unit =
    calls += (mutable.LinkedHashMap[String, Any]("call" -> name, "round" -> round,
      "traced" -> tracer.on, "ms" -> ns / 1e6, "ok" -> ok) ++= extra)

  /** Times one user call from the API call to the collected result.
    * `construct` is the API call itself (eager work inside it lands in the
    * `construct` span); `project` picks the columns a caller reads.
    */
  protected def call(name: String)(construct: => DataFrame)(project: DataFrame => DataFrame)
      : Option[Array[Row]] = {
    val t = System.nanoTime()
    try {
      val rows = tracer.span(name) {
        tracer.attr("round", round)
        val df = tracer.span("construct")(construct)
        val out = project(df)
        val rows = tracer.span("collect")(out.collect())
        tracer.attr("plan_ms", planMs(out))
        rows
      }
      val ns = System.nanoTime() - t
      record(name, ns, ok = true, "rows" -> rows.length)
      Some(rows)
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $name failed: $e")
        record(name, System.nanoTime() - t, ok = false)
        None
    }
  }

  /** Analysis + optimization + planning time of an executed plan
    * (Spark's QueryPlanningTracker).
    */
  protected def planMs(df: DataFrame): Long = {
    val phases = df.queryExecution.tracker.phases
    Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
  }

  protected def ms(ns: Long): Double = ns / 1e6

  /** SHA-256 of rows rendered as text in a fixed order. */
  protected def digest(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.sorted.foreach(l => md.update((l + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }
}

object Inputs {
  /** The time-series CSV as a user loads it: the reference loader, the
    * locale-tolerant numeric cleaner, and typed key columns.
    */
  def tsEvents(spark: SparkSession, dir: String): DataFrame =
    graft.sources.CsvSource.load(spark, s"$dir/ts.csv", ";", Seq("Start date"))
      .select(col("event_id").cast("long").as("event_id"),
        col("user_id").cast("long").as("user_id"), col("Start date").as("ts"),
        graft.functions.CleanFunctions.cleanNumeric(col("value")).as("value"))
}
