package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table access for the test star schema. Plain `spark.read
  * .parquet` so Catalyst drives column pruning + predicate pushdown into
  * the scan (verify with explain: ReadSchema / PushedFilters).
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String)    = table(s, d, "region")
  def nation(s: SparkSession, d: String)    = table(s, d, "nation")
  def customer(s: SparkSession, d: String)  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String)  = table(s, d, "supplier")
  def part(s: SparkSession, d: String)      = table(s, d, "part")
  def orders(s: SparkSession, d: String)    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String)  = table(s, d, "lineitem")
  /** `events.ts` has shipped as two physical parquet types across data
    * generations: INT64 TIMESTAMP(NANOS) (which Spark 4 rejects unless
    * `nanosAsLong=true`, surfacing as LongType) and plain `timestamp[us]`
    * with isAdjustedToUTC=false (surfacing as TIMESTAMP_NTZ). Branch on
    * the footer schema so both read to the same TIMESTAMP column:
    *  - nanos-as-long → floor-convert to micros (integer `div`, not `/`:
    *    nanos exceed double's 53-bit mantissa), matching DuckDB epoch_us.
    *  - NTZ micros → cast to TIMESTAMP; sessions run with
    *    spark.sql.session.timeZone=UTC so the cast is value-preserving
    *    and hashes identically to DuckDB's naive TIMESTAMP read.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    // Prefer setting these at session build (Verify/Bench/GraftSession
    // do); the fallbacks here only fire for driver-owned sessions that
    // did not, and are skipped once set to avoid mutating shared conf per
    // plan build. The timezone matters for the NTZ branch below: the
    // NTZ→TIMESTAMP cast interprets wall-clock time in the session zone,
    // so a non-UTC session would shift every instant — oracle parity
    // requires UTC everywhere, like the nanos path required nanosAsLong.
    if (!s.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (!s.conf.getOption("spark.sql.session.timeZone").contains("UTC"))
      s.conf.set("spark.sql.session.timeZone", "UTC")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType    => raw
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      // Fail fast on an unknown generation: a silent cast of e.g. INT32
      // epoch-seconds or a string ts would produce plausible-looking but
      // wrong instants in every downstream window/bucket.
      case other => throw new IllegalArgumentException(
        s"events.ts has unsupported physical type $other; " +
          "known generations: INT64 nanos (as long), TIMESTAMP, TIMESTAMP_NTZ")
    }
  }
  def documents(s: SparkSession, d: String) = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String) = table(s, d, "embeddings")

  /** Spread `df` across the session's cores when its scan yields fewer
    * partitions than the default parallelism — the small-input guard for
    * compute-heavy per-row stages (shingling, simhash, LSH signatures):
    * a one-row-group local file otherwise pins the whole map stage to a
    * single task. Costs one hash shuffle of the RAW rows, so it is a
    * no-op by construction exactly when it would be expensive — a
    * multi-TB table scans as thousands of splits and skips the branch.
    * Hash-partitioned on `key` (never round-robin) so the placement is a
    * pure function of row content, deterministic across runs.
    */
  def spread(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (plannedWidth(df) < p) df.repartition(p, key) else df
  }

  /** `df`'s output partition count, decided without running a job. A
    * plan that holds an exchange reports the width it plans (0 when its
    * top is unknown-partitioned): reading `df.rdd` there would run the
    * exchange — under AQE, a whole shuffle the action then runs again —
    * just to learn a count. Scans, cached frames and checkpoints report
    * their RDD's count, which costs no job.
    */
  private def plannedWidth(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    if (plan.exists(_.isInstanceOf[Exchange])) plan.outputPartitioning.numPartitions
    else df.rdd.getNumPartitions
  }

  /** Pin a compute-dense per-key stage to the session's configured
    * shuffle width (r16 guide §2.2): a window/aggregate keyed on `keys`
    * placed directly above this repartition reuses its exchange, but —
    * unlike the exchange the window would insert itself — an explicit
    * user repartition is NOT coalesced by AQE. AQE sizes post-shuffle
    * partitions by shuffle BYTES (advisoryPartitionSizeInBytes /
    * minPartitionSize floors), which under-provisions stages whose
    * per-row cost is dominated by expression evaluation rather than I/O
    * (measured: ts_acf_full's 12-lag window + 72 decimal sums coalesced
    * to 2 of 32 cores at sf0.1 — 3.06 s vs 1.43 s pinned; outputs
    * bit-identical since every downstream aggregate here is exact/
    * order-blind by the SURVEY §4 contract). At production scale the
    * shuffle exceeds width × advisory bytes and this is a no-op by
    * construction — same hash partitioning, same width the plain
    * exchange would choose; `spark.sql.shuffle.partitions` remains the
    * one scale knob. Plan cost: zero extra exchanges (the keyed shuffle
    * existed either way).
    */
  def spreadKeyed(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    val p = df.sparkSession.sessionState.conf.numShufflePartitions
    df.repartition(p, keys: _*)
  }
}
