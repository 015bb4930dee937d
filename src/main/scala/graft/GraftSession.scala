package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale posture baked in (SURVEY.md §5):
  * AQE on with skew-join splitting and partition coalescing, shuffle
  * partitions sized to the deploy (2-3x cores; AQE coalesces down), and
  * UTC session time so timestamp semantics match the oracle everywhere.
  *
  * On a real cluster the same builder applies — only `master` and
  * `shufflePartitions` change with the footprint.
  */
object GraftSession {
  def builder(master: String = "local[*]",
              shufflePartitions: Int = Runtime.getRuntime.availableProcessors): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // events.ts is INT64 TIMESTAMP(NANOS) parquet (see Tables.events).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // Generated-class cache (static conf, default 100 entries). One warm
      // `Pipeline.run` pca call compiled 192 classes when its operators
      // built one Window per column (~2 s of Janino per call on 4 cores),
      // and still 49 (~0.6 s) with one Window per spec, because each call
      // evicts code the next one needs. 1000 entries hold a whole call:
      // warm calls compile nothing.
      .config("spark.sql.codegen.cache.maxEntries", "1000")

  /** Builder for streaming jobs with large state: RocksDB state store
    * (spills keyed state to local disk instead of executor heap) +
    * changelog checkpointing for fast recovery. At 100 TB/day of events,
    * dedup/session state outgrows the in-memory HDFS-backed store.
    */
  def streamingBuilder(master: String = "local[*]",
                       shufflePartitions: Int = Runtime.getRuntime.availableProcessors): SparkSession.Builder =
    builder(master, shufflePartitions)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")

  def local(cores: Int = Runtime.getRuntime.availableProcessors): SparkSession = {
    val s = builder(s"local[$cores]", math.max(cores, 4))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
