package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

/** Write-path data-layout primitives.
  *
  * At 100 TB the scan cost of every future query is decided when files
  * are WRITTEN: a table clustered on one column prunes only on that
  * column. A Z-ORDER (Morton) key interleaves the bits of two bucketized
  * dimensions so that sorting by the key places rows close in BOTH
  * dimensions into the same files — min/max file statistics then prune
  * 2-D predicates (the Delta/Iceberg `OPTIMIZE ZORDER BY` primitive,
  * re-expressed as a plain deterministic column).
  *
  * Reference semantics: none (the reference writes no files); this is
  * engine table stakes for the lakehouse write path, SURVEY §2.11b.
  */
object LayoutOps {

  /** Morton/Z-order key of two already-bucketized integer columns
    * (each in [0, 2^bits)): bit i of `a` lands at key bit 2i, bit i of
    * `b` at 2i+1. Pure integer codegen expressions — no UDF, engine-
    * portable by construction (the SQL twin is generated from the same
    * loop). Callers bucketize first (range or hash, their choice);
    * out-of-range inputs fold in via the masking `& 1`.
    */
  def zorderKey(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits=$bits out of range")
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
  }

  /** DuckDB SQL twin of [[zorderKey]] — the identical bit expression. */
  def zorderKeySql(a: String, b: String, bits: Int): String = {
    require(bits >= 1 && bits <= 31, s"bits=$bits out of range")
    (0 until bits).map { i =>
      s"(((($a >> $i) & 1) << ${2 * i}) + ((($b >> $i) & 1) << ${2 * i + 1}))"
    }.mkString("(", " + ", ")")
  }

  /** First-fit contiguous shard packing: blobs stream through fixed-
    * `capacity` shard files in deterministic order; a blob that does not
    * fit in the current shard's remaining space STARTS A NEW SHARD — no
    * blob ever straddles a file boundary, which is the whole point of a
    * byte-addressed (shard_file, byte_offset, n_bytes) read plan (a
    * plain cumulative-sum layout splits blobs across files —
    * code-review finding). An oversized blob (> capacity) in an empty
    * shard occupies it alone, overflowing that one file (documented; the
    * alternative is rejecting the blob).
    *
    * The skip-to-next-shard decision depends on every prior placement,
    * so this is a keyed O(1)-state sorted fold (the cusumReset shape, on
    * `TimeSeriesOps.scanSeries`), NOT a window — and being all-integer it
    * replays exactly in a recursive CTE. Appends `shard_file` and
    * `byte_offset`; a blob with a null size gets a null placement and
    * leaves the shard state untouched.
    */
  def packFirstFit(df: DataFrame, keys: Seq[String], order: Seq[String],
                   sizeCol: String, capacity: Long): DataFrame = {
    require(capacity > 0, s"capacity=$capacity must be positive")
    TimeSeriesOps.scanSeries(df, keys, order, Seq(col(sizeCol).cast(LongType)),
        Seq(StructField("shard_file", LongType), StructField("byte_offset", LongType)),
        perRow = true) { run =>
      var file = 0L; var free = 0L
      run.map { r =>
        if (r.isNullAt(0)) Seq(null, null)
        else {
          val n = r.getLong(0)
          if (free > 0L && free + n > capacity) { file += 1L; free = 0L }
          val off = free
          free += n
          Seq(file, off)
        }
      }
    }
  }
}
