package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.DataFrame
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.CsvSource

/** `CsvSource.load` reads its header on the driver and the path with that
  * schema. Each layout must give the schema and rows Spark's own header
  * inference gives, and building the frame must start no job.
  */
class CsvSourceSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkTestSession.spark

  private lazy val dir = Files.createTempDirectory("graft-csv-source")

  override def afterAll(): Unit =
    Files.walk(dir).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))

  private def write(name: String, text: String): String = {
    val path = dir.resolve(name)
    Files.write(path, text.getBytes(StandardCharsets.UTF_8))
    path.toString
  }

  private def inferred(path: String, delimiter: String): DataFrame =
    spark.read.option("header", "true").option("delimiter", delimiter).csv(path)

  private def assertSameAsInferred(path: String, delimiter: String = ";"): Unit = {
    val (got, want) = (CsvSource.load(spark, path, delimiter), inferred(path, delimiter))
    assert(got.schema == want.schema)
    def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(rows(got) == rows(want))
  }

  test("a directory of part files with _SUCCESS reads as Spark infers it") {
    import spark.implicits._
    val out = dir.resolve("parts").toString
    (1 to 40).map(i => (i.toLong, s"Jan ${i % 28 + 1}, 2024 1:00 PM", i * 0.5))
      .toDF("event_id", "Start date", "value").repartition(3)
      .write.option("header", "true").option("delimiter", ";").csv(out)
    assert(new java.io.File(out, "_SUCCESS").exists)
    assertSameAsInferred(out)
  }

  test("leading blank lines are skipped before the header") {
    assertSameAsInferred(write("blank.csv", "\n  \n\na;b\n1;2\n\n3;4\n"))
  }

  test("a quoted header field may hold the delimiter") {
    val path = write("quoted.csv", "\"x;y\";z\n1;2\n")
    assertSameAsInferred(path)
    assert(CsvSource.load(spark, path).columns.toSeq == Seq("x;y", "z"))
  }

  test("blank and duplicate names follow Spark's header rules") {
    val path = write("names.csv", "a,,b,a,\n1,2,3,4,5\n")
    assertSameAsInferred(path, ",")
    assert(CsvSource.load(spark, path, ",").columns.distinct.length == 5)
  }

  test("a header-only file and an empty file") {
    assertSameAsInferred(write("header-only.csv", "a;b\n"))
    assertSameAsInferred(write("empty.csv", ""))
  }

  test("a gzip-compressed file") {
    val path = dir.resolve("ts.csv.gz")
    val gz = new GZIPOutputStream(Files.newOutputStream(path))
    try gz.write("id;v\n1;2,5\n2;3,5\n".getBytes(StandardCharsets.UTF_8)) finally gz.close()
    assertSameAsInferred(path.toString)
  }

  test("load starts no job") {
    val path = write("jobs.csv", "event_id;Start date;value\n1;Jan 1, 2024 1:00 PM;2,5\n")
    CsvSource.load(spark, path, ";", Seq("Start date"))
    assert(SparkTestSession.countJobs(CsvSource.load(spark, path, ";", Seq("Start date"))) == 0)
  }
}
