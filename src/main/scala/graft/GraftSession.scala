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

  def local(cores: Int = Runtime.getRuntime.availableProcessors): SparkSession = {
    val s = builder(s"local[$cores]", math.max(cores, 4))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` with the session conf `key` set to `value`, then restores
    * it: an earlier explicit setting (one in `spark.conf.getAll`) is set
    * back, a key that had none is unset again, also when `body` throws.
    * Frames materialized inside `body` keep the plans they were built
    * with; lazy frames returned from it plan under the restored conf.
    */
  def withConf[T](spark: SparkSession, kv: (String, String))(body: => T): T = {
    val (key, value) = kv
    val prev = spark.conf.getAll.get(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
