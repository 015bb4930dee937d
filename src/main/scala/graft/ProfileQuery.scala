package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Optimization-round measurement harness (guide §1): runs named queries
  * with a job-level listener so per-entry wall time decomposes into Spark
  * job time vs driver-side gaps (plan/analysis, streaming query start/stop,
  * checkpoint IO, collect deserialization). Reads the same env contract as
  * Bench (SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS) so numbers are comparable.
  *
  * Usage: sbt "runMain graft.ProfileQuery <name> [<name>...]"
  *        SPARK_GRAFT_PROFILE_REPS=2 to repeat (first rep pays codegen).
  * Each rep ends with one `{"profile": name, "rep", "wall_s", "jobs",
  * "job_s", "gap_s"}` JSON line.
  */
object ProfileQuery {

  private case class JobRec(id: Int, desc: String, startMs: Long, var endMs: Long)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileQuery <queryName> [...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "2").toInt
    val unknown = args.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
    val open = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val d = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        val r = JobRec(js.jobId, d, js.time, -1L)
        open.put(js.jobId, r); jobs.add(r)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val r = open.remove(je.jobId)
        if (r != null) r.endMs = je.time
      }
    })
    // Same untimed warm-up as Bench.
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      SparkEntry.entry(spark).count()
    } catch { case _: Throwable => () }
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to reps).foreach { rep =>
        jobs.clear(); open.clear()
        val t0 = System.currentTimeMillis()
        val n = fn(spark, sfDir).count()
        val t1 = System.currentTimeMillis()
        spark.catalog.clearCache()
        System.gc()
        // Wait for listener drain.
        Thread.sleep(300)
        val recs = jobs.toArray(Array.empty[JobRec]).filter(_.endMs > 0).sortBy(_.startMs)
        val jobSum = recs.map(r => r.endMs - r.startMs).sum
        println(f"%n=== $name rep $rep: wall=${(t1 - t0) / 1000.0}%.3f s rows=$n " +
          f"jobs=${recs.length} jobTime=${jobSum / 1000.0}%.3f s " +
          f"driverGaps=${(t1 - t0 - jobSum) / 1000.0}%.3f s ===")
        var prevEnd = t0
        recs.foreach { r =>
          val gap = r.startMs - prevEnd
          if (gap > 50) println(f"  [gap ${gap / 1000.0}%.3f s]")
          println(f"  job ${r.id}%4d ${(r.endMs - r.startMs) / 1000.0}%8.3f s  ${r.desc.take(90)}")
          prevEnd = math.max(prevEnd, r.endMs)
        }
        val tailGap = t1 - prevEnd
        if (tailGap > 50) println(f"  [tail gap ${tailGap / 1000.0}%.3f s]")
        // One JSON line per rep, so two runs' dumps diff mechanically
        // (grep '^{"profile"').
        println(f"""{"profile":"$name","rep":$rep,"wall_s":${(t1 - t0) / 1000.0}%.3f,""" +
          f""""jobs":${recs.length},"job_s":${jobSum / 1000.0}%.3f,""" +
          f""""gap_s":${(t1 - t0 - jobSum) / 1000.0}%.3f}""")
      }
    }
    spark.stop()
  }
}
