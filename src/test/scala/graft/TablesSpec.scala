package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.CorpusDedup
import graft.sources.Tables

class TablesSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def scanOf(files: Int): org.apache.spark.sql.DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_spread").toString
    (1 to 200).map(i => (i.toLong, s"t$i t${i % 7} t${i % 11}")).toDF("doc_id", "text")
      .repartition(files).write.mode("overwrite").parquet(s"$dir/docs.parquet")
    spark.read.parquet(s"$dir/docs.parquet")
  }

  test("spread over a window output decides without running a job") {
    // Reading df.rdd here ran the window's shuffle (AQE materializes it to
    // learn the coalesced width), and the next action ran it again.
    val win = CorpusDedup.exactSurvivors(scanOf(1), "doc_id", "text")
    var out: org.apache.spark.sql.DataFrame = null
    assert(SparkTestSession.countJobs { out = Tables.spread(win, col("doc_id")) } == 0)
    assert(out.count() == 200)
  }

  test("spread over a scan repartitions exactly when the scan is narrower than the cores") {
    val p = spark.sparkContext.defaultParallelism
    Seq(1, p).foreach { files =>
      val scan = scanOf(files)
      var out: org.apache.spark.sql.DataFrame = null
      assert(SparkTestSession.countJobs { out = Tables.spread(scan, col("doc_id")) } == 0)
      val narrow = scan.rdd.getNumPartitions < p
      assert((out ne scan) == narrow, s"$files file(s)")
      if (narrow) assert(out.rdd.getNumPartitions == p)
    }
    assert(scanOf(1).rdd.getNumPartitions < p, "a one-file scan is narrow")
  }
}
