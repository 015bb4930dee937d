package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{Pipeline, PipelineConfig}
import graft.functions.TextFunctions
import graft.operators.{Anomaly, AnnSearch, CorpusDedup, TimeSeriesOps => TS}
import graft.sources.CsvSource
import graft.streaming.{Event, StreamingAnomaly}

/** `ts_batch`: the reference's own job. Each round runs `Pipeline.run`
  * with the pca model from the CSV to the collected result. Two untimed
  * calls after the cold one let the JIT settle: warm calls keep getting
  * faster for the first few reps.
  *
  * Traced runs add, after the loop, the calls that do not fit every run:
  * the lstm model (~7 s warm, ~12 s cold on 4 cores at any input size, as
  * its epochs are fixed) on the first `lstmSeries` series, and a short
  * `stream_monitor` replay of the same events.
  */
class TsBatch(spark: SparkSession, tracer: Tracer, dir: String, out: String, lstmSeries: Int)
    extends Workload(spark, tracer) {

  private def pipeline(name: String, cfg: PipelineConfig, input: => DataFrame): Unit = {
    call(s"ts_batch.$name")(Pipeline.run(input, cfg))(
      _.select("user_id", "ts", "event_id", "recon_err", "is_anomaly")).foreach { rows =>
      // Full-precision rendering: the pipeline is deterministic, so every
      // rep must reproduce the same bits.
      calls.last("digest") = digest(rows.toSeq.map(_.mkString(",")))
    }
    // PcaReconstruction caches its sequences and never unpersists them. The
    // next call's plan is identical, so without this, Spark's CacheManager
    // would serve it the cached sequences and skip the CSV parse and every
    // TimeSeriesOps window. Untimed: it runs after the call has returned.
    spark.catalog.clearCache()
  }

  def runRound(): Unit = pipeline("pca", PipelineConfig(model = "pca"), Inputs.tsEvents(spark, dir))

  override def settle(): Unit = (0 until 2).foreach(_ => runRound())

  private def lstm(): Unit = pipeline("lstm", PipelineConfig(model = "lstm"),
    Inputs.tsEvents(spark, dir).filter(col("user_id") <= lstmSeries))

  def outputs(): Map[String, Any] = Map.empty

  /** The traced lstm call, the traced stream replay, then stage self time
    * as differences between prefix materializations that rebuild
    * `Pipeline.prepare` from the public CsvSource / TimeSeriesOps calls.
    * Each prefix is written once to the no-op sink (every column
    * computed, nothing collected).
    */
  override def layers(): Map[String, Any] = {
    round = -2
    lstm()
    tracer.start()
    lstm()
    tracer.stop()
    val stream = new StreamMonitor(spark, tracer, dir, out, trace = true)
    stream.round = -2
    stream.warmup()
    tracer.start()
    stream.runRound()
    tracer.stop()
    val cfg = PipelineConfig()
    val keys = cfg.seriesKeys
    val read = () => CsvSource.load(spark, s"$dir/ts.csv", ";", Seq("Start date"))
    val clean = () => Inputs.tsEvents(spark, dir)
    val index = () => TS.dedupIndex(clean(), keys, col(cfg.tsCol), cfg.order, cfg.duplicateHandling)
    val fill = () => TS.fill(index(), keys, cfg.order, cfg.target, cfg.missingStrategy)
    val features = () => TS.dropNulls(
      TS.addRolling(TS.addLags(TS.addTimeFeatures(fill(), cfg.tsCol), keys, cfg.order,
        cfg.target, cfg.lags), keys, cfg.order, cfg.target, cfg.rollingWindows),
      Pipeline.featureColumns(cfg))
    val scale = () => TS.minMaxScaleAll(features(), keys, cfg.target +: Pipeline.featureColumns(cfg))
    val prefixes = Seq("read" -> read, "clean" -> clean, "index" -> index, "fill" -> fill,
      "features" -> features, "scale" -> scale)
    val cumulative = prefixes.map { case (stage, build) =>
      val t = System.nanoTime()
      build().write.format("noop").mode("overwrite").save()
      stage -> ms(System.nanoTime() - t)
    }
    val self = cumulative.zip(("", 0.0) +: cumulative).map {
      case ((stage, c), (_, prev)) => s"stage.${stage}_s" -> (c - prev) / 1000.0
    }
    self.toMap ++ Map("stream" -> (stream.outputs() ++ stream.layers()))
  }
}

/** `stream_monitor`: the generator's events, one hour per micro-batch,
  * through a MemoryStream into `StreamingAnomaly.rollingZscore`. Two
  * batches warm up; each round is the next 8 hourly batches.
  */
class StreamMonitor(spark: SparkSession, tracer: Tracer, dir: String, out: String,
                    trace: Boolean) extends Workload(spark, tracer) {
  import spark.implicits._

  private val BatchesPerRound = 8
  private val WarmupBatches = 2
  private val hours: Array[Array[Event]] = {
    val events = Inputs.tsEvents(spark, dir).filter(col("value").isNotNull)
      .select(col("event_id"), col("ts"), col("user_id"),
        org.apache.spark.sql.functions.lit("reading").as("event_type"), col("value"))
      .as[Event].collect()
    val t0 = events.map(_.ts.getTime).min
    events.groupBy(e => (e.ts.getTime - t0) / 3600000L).toArray.sortBy(_._1).map(_._2)
  }
  private val progress = mutable.ArrayBuffer[(Long, Map[String, Any])]()
  if (trace) spark.streams.addListener(new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def dur(k: String): Long = if (d.containsKey(k)) d.get(k).longValue else 0L
      val ops = p.stateOperators
      progress.synchronized {
        progress += p.batchId -> Map(
          "plan_ms" -> dur("queryPlanning"), "add_batch_ms" -> dur("addBatch"),
          "wal_commit_ms" -> dur("walCommit"), "commit_offsets_ms" -> dur("commitOffsets"),
          "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
          "state_rows" -> ops.map(_.numRowsTotal).sum,
          "state_bytes" -> ops.map(_.memoryUsedBytes).sum)
      }
    }
  })
  private val stream = MemoryStream[Event](spark)
  private val query = StreamingAnomaly.rollingZscore(stream.toDS())
    .writeStream.format("memory").queryName("perfbench_zscore").outputMode("append")
    .option("checkpointLocation", s"$out/checkpoint").start()
  private var fed = 0

  override def hasRound: Boolean = fed + BatchesPerRound <= hours.length

  override def warmup(): Unit = (0 until WarmupBatches).foreach(_ => batch())

  def runRound(): Unit = (0 until BatchesPerRound).foreach(_ => batch())

  private def batch(): Unit = {
    val batch = hours(fed)
    val t = System.nanoTime()
    tracer.span("stream_monitor.batch") {
      tracer.attr("round", round)
      tracer.span("construct")(stream.addData(batch.toSeq))
      tracer.span("collect")(query.processAllAvailable())
    }
    record("stream_monitor.batch", System.nanoTime() - t, ok = true, "events" -> batch.length)
    fed += 1
  }

  /** Emitted z next to the batch twin `Anomaly.rollingZscore` on the same
    * fed events, both ordered by event id.
    */
  def outputs(): Map[String, Any] = {
    query.stop()
    val events = hours.take(fed).flatten.toSeq
    def zs(df: DataFrame): Array[(Long, Option[Double])] =
      df.select(col("event_id"), col("z")).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
        .sortBy(_._1)
    val streamed = zs(spark.table("perfbench_zscore"))
    val batch = zs(Anomaly.rollingZscore(events.toDF(), Seq("user_id"), Seq("ts", "event_id"), "value"))
    Map("fed_events" -> events.length, "fed_batches" -> fed,
      "stream_ids" -> streamed.map(_._1), "stream_z" -> streamed.map(_._2),
      "batch_ids" -> batch.map(_._1), "batch_z" -> batch.map(_._2))
  }

  /** Progress of every batch after the warm-up. */
  override def layers(): Map[String, Any] =
    Map("progress" -> progress.synchronized(
      progress.collect { case (b, p) if b >= WarmupBatches => p }.toList))
}

/** `curation`: a training-data corpus. Each round runs `CorpusDedup.run`,
  * `CorpusDedup.leakageSafeSplit` and `AnnPerRound` `AnnSearch.lshTopK`
  * query batches of `AnnQueries` corpus vectors each, cycling through the
  * corpus. Docs and vectors are cached once, as the API asks of a corpus
  * that a session reuses.
  */
class Curation(spark: SparkSession, tracer: Tracer, dir: String) extends Workload(spark, tracer) {
  private val K = 10
  private val AnnPerRound = 4
  private val AnnQueries = 32
  private val docs = spark.read.schema("doc_id LONG, text STRING").json(s"$dir/docs.jsonl").cache()
  private val corpus = spark.read.schema("emb_id LONG, emb ARRAY<FLOAT>").json(s"$dir/emb.jsonl").cache()
  private val nDocs = docs.count()
  private val nEmb = corpus.count()
  private val nBatches = (nEmb / AnnQueries).toInt
  private var nextBatch = 0
  private var survivors: Array[Long] = Array.empty
  private var split: Array[Row] = Array.empty

  private def queries(b: Int) =
    col("emb_id").between(b.toLong * AnnQueries + 1, (b + 1).toLong * AnnQueries)

  private def ann(b: Int): Option[Array[Row]] =
    call("curation.ann")(AnnSearch.lshTopK(corpus, queries(b), "emb_id", "emb", K))(
      _.select("q_id", "n_id"))

  override def warmup(): Unit = curate(1)

  def runRound(): Unit = curate(AnnPerRound)

  private def curate(annBatches: Int): Unit = {
    call("curation.dedup")(CorpusDedup.run(docs))(_.select("doc_id"))
      .foreach(rows => survivors = rows.map(_.getLong(0)))
    call("curation.split")(CorpusDedup.leakageSafeSplit(docs))(
      _.select("doc_id", "cluster_id", "split")).foreach(split = _)
    (0 until annBatches).foreach { _ =>
      ann(nextBatch)
      nextBatch = (nextBatch + 1) % nBatches
    }
  }

  /** Top-k ids per query id. */
  private def topK(rows: Seq[Row]): Map[Long, Seq[Long]] =
    rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSeq }

  def outputs(): Map[String, Any] = {
    val exact = CorpusDedup.exactSurvivors(docs, "doc_id", "text").count()
    // Recall of LSH against brute force over the first query batch, and the
    // brute-force answers the runner re-derives itself.
    val lsh = topK(AnnSearch.lshTopK(corpus, queries(0), "emb_id", "emb", K)
      .select("q_id", "n_id").collect().toSeq)
    val brute = AnnSearch.bruteForceTopK(corpus, corpus.filter(queries(0)), "emb_id", "emb", K)
      .select("q_id", "n_id", "score").collect().toSeq
    val bruteTop = topK(brute)
    val hits = bruteTop.map { case (q, ids) => lsh.getOrElse(q, Nil).count(ids.contains) }.sum
    Map("docs" -> nDocs, "exact_survivors" -> exact, "survivors" -> survivors,
      "split" -> split.map(r => Seq[Any](r.getLong(0), r.getLong(1), r.getString(2))),
      "recall_queries" -> bruteTop.size, "recall_hits" -> hits, "k" -> K,
      "brute" -> brute.filter(_.getLong(0) <= 4).map(r => Seq[Any](r.getLong(0), r.getLong(1), r.getDouble(2))))
  }

  /** Useful vs attempted work: near-dup candidate pairs against confirmed
    * ones, and ANN candidates scanned per query against the k returned,
    * recomputed from the public banding and probe definitions over the
    * recall queries.
    */
  override def layers(): Map[String, Any] = {
    val kept = CorpusDedup.exactSurvivors(docs, "doc_id", "text")
    val chunks = CorpusDedup.simhashChunks(kept, "doc_id", "text")
    val candidates = chunks.as("a").join(chunks.as("b"),
        col("a.c") === col("b.c") && col("a.v") === col("b.v") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    val confirmed = CorpusDedup.nearDupPairs(kept, "doc_id", "text").count()
    val np = AnnSearch.annPlanes(nEmb)
    val buckets = corpus.select(col("emb_id"), TextFunctions.packBits((0 until np).map(p =>
      TextFunctions.lshSign(col("emb"), p))).as("bucket")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val occupancy = buckets.groupBy(_._2).map { case (b, xs) => b -> xs.length.toLong }
    val masks = 0L +: ((0 until np).map(p => 1L << p) ++
      AnnSearch.twoBitFlipPairs(np).map { case (p, q) => (1L << p) | (1L << q) })
    val perQuery = buckets.filter(_._1 <= AnnQueries).map { case (_, b) =>
      masks.map(m => occupancy.getOrElse(b ^ m, 0L)).sum - 1L
    }
    Map("dedup.exact_dropped" -> (nDocs - kept.count()),
      "dedup.candidate_pairs" -> candidates, "dedup.confirmed_pairs" -> confirmed,
      "ann.candidates_per_query" -> perQuery.sum.toDouble / perQuery.length,
      "ann.k" -> K, "ann.planes" -> np)
  }
}
