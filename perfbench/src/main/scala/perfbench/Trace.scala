package perfbench

import scala.collection.mutable

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics

/** One traced interval. Times are epoch microseconds; `request` is the id
  * of the top-level span (one user call) the span belongs to.
  */
final class Span(val id: Int, val name: String, val parent: Int, val request: Int,
                 val startUs: Long) {
  var endUs: Long = -1L
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap()
}

/** One Spark job as the listener saw it, with the task metrics of its
  * stages summed. Times are epoch milliseconds (the scheduler's clock).
  */
final class JobRecord(val id: Int, val startMs: Long) {
  var endMs: Long = -1L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
}

class JobListener extends SparkListener {
  val jobs: mutable.LinkedHashMap[Int, JobRecord] = mutable.LinkedHashMap()
  private val stageJob = mutable.HashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRecord(e.jobId, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (j <- stageJob.get(e.stageId).flatMap(jobs.get) if m != null) {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }
}

/** Spans recorded by the benchmark around each call into a layer, plus the
  * jobs a listener saw while they were open. Everything stays in memory and
  * is written once at the end of the run. Spark jobs are attributed to
  * spans later, by time: the client is a single closed loop, so every job
  * that starts inside a span was caused by it.
  */
class Tracer(sc: SparkContext) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private val listener = new JobListener
  private val epochBaseUs = System.currentTimeMillis() * 1000L
  private val nanoBase = System.nanoTime()
  /** Whether calls are currently traced; untraced calls cost nothing extra. */
  var on = false

  def nowUs: Long = epochBaseUs + (System.nanoTime() - nanoBase) / 1000L

  /** Starts listening for jobs; the listener is attached only while traced
    * rounds run, so untraced rounds carry no listener cost.
    */
  def start(): Unit = { on = true; sc.addSparkListener(listener) }

  def stop(): Unit = {
    ListenerBusDrain(sc)
    sc.removeSparkListener(listener)
    on = false
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.headOption
      val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1),
        parent.map(_.request).getOrElse(spans.size), nowUs)
      spans += s
      stack = s :: stack
      val compile0 = CodeGenerator.compileTime
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val gc0 = Tracer.gcMs
      try body
      finally {
        s.endUs = nowUs
        s.attrs("codegen_compile_ns") = CodeGenerator.compileTime - compile0
        s.attrs("codegen_compiles") = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
        s.attrs("gc_ms") = Tracer.gcMs - gc0
        stack = stack.tail
      }
    }

  /** Attaches a measured value to the innermost open span. */
  def attr(key: String, value: => Any): Unit =
    if (on) stack.headOption.foreach(_.attrs(key) = value)

  def toJson: Map[String, Any] = listener.synchronized {
    Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "request" -> s.request, "start_us" -> s.startUs, "end_us" -> s.endUs,
        "attrs" -> s.attrs)),
      "jobs" -> listener.jobs.values.map(j => Map("id" -> j.id, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "tasks" -> j.tasks, "cpu_ns" -> j.cpuNs,
        "shuffle_bytes" -> j.shuffleBytes)))
  }
}

object Tracer {
  /** Collection time of every JVM collector so far (driver and, in local
    * mode, executors alike).
    */
  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }
}

/** Minimal JSON writer for the result file the runner reads. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case a: Array[_] => apply(a.toSeq)
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
