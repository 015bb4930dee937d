package graft.sources

import java.io.{BufferedReader, InputStream, InputStreamReader}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}

import graft.functions.CleanFunctions

/** CSV ingestion with the reference loader's semantics
  * (reference: src/data_loader.py:8-33 load_data + initial_column_cleanup):
  * custom delimiter, header row, whitespace-stripped column names, and
  * explicit-format date parsing with inference fallback
  * (src/preprocessing.py:10-49).
  *
  * Distributed: Spark's CSV source splits files across executors; schema
  * is read once, on the driver, from the first non-empty line of ONE
  * file: the path itself, or for a directory (or glob) the first data
  * file in path order that has a line, skipping Hadoop's hidden `_*` and
  * `.*` names (`_SUCCESS`). Like the reference loader, the names come
  * from that one file; the other files' first lines are dropped as
  * headers (a differing one only logs Spark's warning). The line is read
  * through the session's Hadoop conf, decompressed by the codec its file
  * name implies (`.gz`, `.bz2`, ...), and parsed by Spark's own CSV
  * header parsing over a one-line local Dataset, so quoting, blank names
  * (`_c<i>`) and duplicate names (suffixed with their position) follow
  * Spark's rules, and no job runs. The path is then read with that
  * all-string schema: building the frame starts no job. Input without
  * any line reads as Spark infers it (the empty schema). Date parsing
  * happens as a codegen'd expression, not a per-row driver loop.
  *
  * Locale contract: month/AM-PM names in `dateFmt` ("MMM", "a") parse
  * under Spark's catalyst formatter, which pins Locale.US internally
  * (DateFormatter.defaultLocale) — NOT the JVM default locale. So
  * English month names parse identically on a de-DE or fr-FR cluster;
  * non-English source data needs pre-normalization, not a locale flag.
  * Enforced by CleanFunctionsSpec's non-English-default-locale test.
  */
object CsvSource {

  def load(spark: SparkSession, path: String, delimiter: String = ";",
           dateCols: Seq[String] = Nil, dateFmt: String = "MMM d, yyyy h:mm a"): DataFrame = {
    def reader: DataFrameReader = spark.read
      .option("header", "true")
      .option("delimiter", delimiter)
      .option("mode", "PERMISSIVE")
    val raw = headerLine(spark, path) match {
      case Some(line) =>
        import spark.implicits._
        reader.schema(reader.csv(Seq(line).toDS()).schema).csv(path)
      case None => reader.csv(path)
    }
    val cleaned = cleanupColumnNames(raw)
    dateCols.foldLeft(cleaned) { (df, c) =>
      if (df.columns.contains(c)) df.withColumn(c, CleanFunctions.toTsFmt(df(c), dateFmt))
      else df
    }
  }

  /** The first non-empty line (Spark's rule: non-blank after trim) of the
    * data files under `path`, in path order; None when there is none. */
  private def headerLine(spark: SparkSession, path: String): Option[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val glob = new Path(path)
    val fs = glob.getFileSystem(conf)
    val codecs = new CompressionCodecFactory(conf)
    def byPath(fss: Seq[FileStatus]) = fss.sortBy(_.getPath.toString)
    def data(f: FileStatus) = f.isFile && !f.getPath.getName.startsWith("_") &&
      !f.getPath.getName.startsWith(".")
    val files = byPath(Option(fs.globStatus(glob)).toSeq.flatten).iterator.flatMap { s =>
      if (s.isDirectory) byPath(fs.listStatus(s.getPath).toSeq.filter(data)) else Seq(s)
    }
    files.map { f =>
      val in = fs.open(f.getPath)
      val codec = Option(codecs.getCodec(f.getPath))
      val lines = new BufferedReader(new InputStreamReader(
        codec.fold[InputStream](in)(_.createInputStream(in)), StandardCharsets.UTF_8))
      try Iterator.continually(lines.readLine()).takeWhile(_ != null).find(_.trim.nonEmpty)
      finally lines.close()
    }.collectFirst { case Some(line) => line }
  }

  /** Strip surrounding whitespace from column names (ref data_loader.py:28-33). */
  def cleanupColumnNames(df: DataFrame): DataFrame = {
    val renames = df.columns.map(c => c -> c.trim).filter { case (a, b) => a != b }
    renames.foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) }
  }
}
