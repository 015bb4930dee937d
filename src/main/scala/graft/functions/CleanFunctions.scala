package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Column-level cleaning / hashing utilities.
  *
  * Everything here is built from codegen'd `org.apache.spark.sql.functions`
  * so it stays inside whole-stage codegen, and everything is ANSI-safe
  * (Spark 4 ships with spark.sql.ansi.enabled=true): bad casts go through
  * try_cast and divisions are nullif-guarded by callers.
  */
object CleanFunctions {

  /** Locale-tolerant numeric cleaning (reference: src/preprocessing.py:99-122
    * clean_numeric_column): comma decimal separator -> dot, strip everything
    * but digits and dots, collapse a second dot, coerce failures to null.
    */
  def cleanNumeric(c: Column): Column = {
    val dotted    = regexp_replace(c, ",", ".")
    val stripped  = regexp_replace(dotted, "[^0-9.]", "")
    val singleDot = regexp_replace(stripped, "(\\.[0-9]*)\\.", "$1")
    singleDot.try_cast(org.apache.spark.sql.types.DoubleType)
  }

  /** DuckDB SQL equivalent of [[cleanNumeric]] applied to SQL fragment `s`. */
  def cleanNumericSql(s: String): String =
    s"TRY_CAST(regexp_replace(regexp_replace(replace($s, ',', '.'), '[^0-9.]', '', 'g'), '(\\.[0-9]*)\\.', '\\1', 'g') AS DOUBLE)"

  /** Timestamp parsing with an explicit format and inference fallback
    * (reference: src/preprocessing.py:10-49 preprocess_timestamps).
    */
  def toTsFmt(c: Column, fmt: String): Column =
    coalesce(try_to_timestamp(c, lit(fmt)), try_to_timestamp(c))

  /** Deterministic 60-bit hash shared with the DuckDB oracle:
    * first 15 hex chars of md5 parsed base-16. DuckDB side:
    * ('0x' || substring(md5(s),1,15))::BIGINT.
    */
  def md5Hash64(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).try_cast(org.apache.spark.sql.types.LongType)

  /** DuckDB SQL equivalent of [[md5Hash64]]. */
  def md5Hash64Sql(s: String): String =
    s"CAST(('0x' || substring(md5($s), 1, 15)) AS BIGINT)"

  /** Spark-SQL string form of [[md5Hash64]] — for `spark.sql` surfaces
    * that must build the same hash the Column API builds.
    */
  def md5Hash64Spark(s: String): String =
    s"TRY_CAST(conv(substring(md5($s), 1, 15), 16, 10) AS BIGINT)"

  /** (bucket, ρ) split of a 60-bit [[md5Hash64]] hash for the p=8
    * HyperLogLog register build: top 8 bits → bucket ∈ [0, 256), low 52
    * bits → ρ = position of the leading one from bit 51 downward
    * (∈ [1, 52]; all-zero rest → 53). Shared by the batch
    * `events_hll_distinct` entry and the streaming register fold so both
    * build the SAME registers and the streaming emission hash-matches the
    * batch/DuckDB oracle. `shiftright`/`pmod` equal the oracle's
    * `h // 2^52` / `h % 2^52` because the hash is non-negative (< 2^60);
    * ρ is a generated integer-comparison chain — never a float log2.
    */
  def hll60BucketRho(hash: Column): (Column, Column) = {
    val rest = pmod(hash, lit(4503599627370496L)) // h % 2^52
    val rho = (50 to 0 by -1).foldLeft(
        when(rest >= (1L << 51), 1L)) { (acc, k) =>
        acc.when(rest >= (1L << k), (52 - k).toLong)
      }.otherwise(lit(53L))
    (shiftright(hash, 52), rho)
  }

  /** Epoch microseconds of a (possibly NTZ) timestamp column; session tz is
    * UTC so NTZ and LTZ agree. DuckDB side: epoch_us(ts).
    */
  def epochUs(c: Column): Column = unix_micros(c.cast(TimestampType))

  /** Safe division: null when the denominator is 0 or null. */
  def safeDiv(num: Column, den: Column): Column = num / nullif(den, lit(0.0))

  /** Pearson correlation from raw moments, shared by every moment-formula
    * query. Variances are clamped at 0 before the sqrt: near-constant
    * groups cancel n*sxx - sx^2 to a tiny NEGATIVE double, which Spark
    * turns into NaN and DuckDB rejects outright (Out of Range on
    * sqrt(<0)). The moments are DECIMAL-exact and identical on both
    * engines, so the clamp decision agrees bit-for-bit.
    */
  def momentCorr(n: Column, sx: Column, sy: Column,
                 sxy: Column, sxx: Column, syy: Column): Column =
    safeDiv(n * sxy - sx * sy,
      sqrt(greatest(n * sxx - sx * sx, lit(0.0)) *
        greatest(n * syy - sy * sy, lit(0.0))))

  /** DuckDB twin of [[momentCorr]]. */
  def momentCorrSql(n: String, sx: String, sy: String,
                    sxy: String, sxx: String, syy: String): String =
    s"(($n * $sxy - $sx * $sy) / nullif(sqrt(greatest($n * $sxx - $sx * $sx, 0.0) * greatest($n * $syy - $sy * $sy, 0.0)), 0.0))"

  /** Sample variance from DECIMAL-exact raw moments (n as double),
    * clamped at 0 like [[momentCorr]] (near-constant groups cancel
    * sxx - sx²/n to a tiny NEGATIVE double → Spark NaN, DuckDB Out of
    * Range on a downstream sqrt) and null for n <= 1 (no (n-1) division).
    */
  def momentVar(n: Column, sx: Column, sxx: Column): Column =
    when(n > 1.0,
      greatest((sxx - sx * sx / n) / (n - lit(1.0)), lit(0.0)))

  /** DuckDB twin of [[momentVar]]. */
  def momentVarSql(n: String, sx: String, sxx: String): String =
    s"(CASE WHEN $n > 1.0 THEN greatest(($sxx - $sx * $sx / $n) / ($n - 1.0), 0.0) END)"

  /** Sample standard deviation from raw moments — sqrt of [[momentVar]]. */
  def momentStd(n: Column, sx: Column, sxx: Column): Column =
    sqrt(momentVar(n, sx, sxx))

  /** DuckDB twin of [[momentStd]]. */
  def momentStdSql(n: String, sx: String, sxx: String): String =
    s"sqrt(${momentVarSql(n, sx, sxx)})"

  // ---- Cross-engine exact aggregation (SURVEY.md §4) ---------------------
  // Double sums accumulate in engine-specific order, so Spark and DuckDB
  // can disagree in the last ulp — fatal when the true value sits exactly
  // on a rounding boundary. Summing in DECIMAL is exact in both engines;
  // casting the identical exact decimal to double is deterministic IEEE
  // nearest. Means divide that identical double by the count: also
  // identical. No output rounding needed.
  import org.apache.spark.sql.expressions.WindowSpec
  import org.apache.spark.sql.types.{DecimalType, DoubleType}
  private val SumDec = DecimalType(18, 6)

  /** Exact grouped/global sum of a (few-decimal-places) double column. */
  def exactSum(c: Column): Column = sum(c.cast(SumDec)).cast(DoubleType)

  /** Corpus-proportional exact sum emitted as DECIMAL(38,6) — never
    * cast to double. UNUSED since r17: the driver's own r16 correctness
    * gate hash-rejected decimal-typed output columns (q1_agg /
    * q5_region_revenue were its only two hash_match=false entries while
    * every double-emitting entry passed, and the same queries were
    * driver-hash-GREEN as doubles in rounds 1-9), so declared queries
    * emit DOUBLE again and this helper is kept only as the documented
    * alternative for engines whose comparators accept decimals.
    * Original rationale: at ≥17 significant digits (a money sum over ~6M
    * rows already gets there; any 100 TB sum is far past it) the
    * decimal→double casts of the two engines can disagree by 1 ulp:
    * Spark's BigDecimal.doubleValue is correctly rounded, DuckDB scales
    * the int128 by a binary 1e-6 (two roundings). First observed on
    * q1_agg.sum_charge at the sf1eq decade (…010.941593 vs …94159).
    * Use this for final output columns whose magnitude grows with the
    * table; keep [[exactSum]] where the sum feeds further double
    * arithmetic or is bounded per key. The input cast is DECIMAL(28,6)
    * (quantization at 6 dp is identical to DECIMAL(18,6) for any
    * |v| < 10^12 single value) so Spark's sum accumulates in
    * DECIMAL(min(28+10,38),6) = DECIMAL(38,6) — full 38-digit headroom
    * on both engines, exact up to group sums of 10^32 (an 18,6 input
    * would cap Spark's accumulator at DECIMAL(28,6), overflowing to
    * NULL at ~10^22 while DuckDB stayed exact — r15 ADVICE).
    */
  def exactSumDec(c: Column): Column =
    sum(c.cast(org.apache.spark.sql.types.DecimalType(28, 6)))
      .cast(org.apache.spark.sql.types.DecimalType(38, 6))

  /** JVM-side replica of the DECIMAL(18,6) quantization [[exactSum]]
    * applies per value — for executor-side folds (streaming state) whose
    * sums must hash-match SQL decimal sums. `valueOf` goes through the
    * double's shortest decimal representation, exactly like Spark's
    * `Decimal.set(double)`; HALF_UP matches the cast's rounding.
    */
  def dec6(v: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(v).setScale(6, java.math.RoundingMode.HALF_UP)

  /** Exact grouped mean (ignores nulls like avg). */
  def exactMean(c: Column): Column = exactSum(c) / count(c)

  /** Exact windowed sum / mean. */
  def exactSumOver(c: Column, w: WindowSpec): Column =
    sum(c.cast(SumDec)).over(w).cast(DoubleType)
  def exactMeanOver(c: Column, w: WindowSpec): Column =
    exactSumOver(c, w) / count(c).over(w)

  /** DuckDB SQL equivalents. `over` is e.g. "OVER w" or "" for grouped. */
  def exactSumSql(x: String, over: String = ""): String =
    s"CAST(sum(CAST($x AS DECIMAL(18,6))) $over AS DOUBLE)"
  def exactMeanSql(x: String, over: String = ""): String =
    s"(${exactSumSql(x, over)} / count($x) $over)"

  /** Cross-engine-stable 4dp rounding. Plain `round(x, 4)` diverges when
    * the true value sits exactly on a .00005 boundary: Spark rounds the
    * EXACT binary expansion (BigDecimal HALF_UP) while DuckDB rounds the
    * SCALED double. Scaling explicitly on both sides makes every IEEE op
    * identical, so the results match bit-for-bit whatever they are.
    *
    * The trailing `+ 0.0` normalizes IEEE signed zero: DuckDB's round
    * preserves the sign (round(-0.4) = -0.0) while Spark's BigDecimal
    * round yields +0.0. `-0.0 + 0.0 == +0.0` in IEEE-754, and `x + 0.0`
    * is the identity for every other value (including NaN), so appending
    * it on BOTH engines makes the bit patterns agree. Catalyst does not
    * fold `x + 0.0` away for doubles (it would change -0.0 semantics).
    */
  /** JVM-side replica of [[round4]] for executor-side folds (streaming
    * state) whose emissions must hash-match the SQL helper bit-for-bit:
    * Spark's Round(double, 0) is BigDecimal.valueOf(x).setScale(0,
    * HALF_UP).toDouble — valueOf goes through the double's shortest
    * decimal form exactly like the Catalyst expression — and the final
    * `+ 0.0` is the same signed-zero normalization.
    */
  def round4Jvm(v: Double): Double =
    // Catalyst's Round returns non-finite inputs unchanged (BigDecimal
    // .valueOf would throw NumberFormatException on NaN/±Inf); mirror
    // that guard so a non-finite event value can't crash the fold.
    if (v.isNaN || v.isInfinite) v
    else {
      val scaled = v * 10000.0 // can overflow to ±Inf for |v| ≳ 1.8e304
      if (scaled.isInfinite) scaled / 10000.0 // = Round(±Inf) = ±Inf, as Catalyst
      else halfUpInt(scaled) / 10000.0 + 0.0
    }

  /** round-half-up-to-integer of a finite double, bit-identical to
    * `BigDecimal.valueOf(x).setScale(0, HALF_UP).doubleValue()` but in
    * pure double arithmetic (~40x cheaper — the BigDecimal path allocates
    * and parses Double.toString per call, which dominated the
    * portable-activation folds: ts_lstm_forward makes ~37M calls).
    *
    * Equivalence argument (fenced by CleanFunctionsSpec's property test
    * against the BigDecimal formulation over random + boundary inputs):
    * - Integral x (floor(x) == x, which covers all |x| >= 2^52) rounds
    *   to itself on both paths.
    * - Otherwise |floor(x)| < 2^52, so `floor(x) + 0.5` is EXACT and the
    *   two comparisons below decide against the exact binary value of x.
    *   (Comparing a computed x - floor(x) against 0.5 instead would be
    *   WRONG: for x in (-1, 0) that subtraction can round onto 0.5 from
    *   either side — e.g. x = -(0.5 - 2^-54).)
    * - BigDecimal.valueOf rounds the SHORTEST-DECIMAL form d of x, not
    *   its exact binary expansion — but d and x can never fall on
    *   opposite sides of a representable half-integer boundary n+0.5: a
    *   faithful (round-trip) decimal d that crossed the boundary would
    *   be nearer to the representable n+0.5 than to x and could not
    *   parse back to x. Ties (x == n+0.5 exactly, then d = "n.5")
    *   therefore occur for exactly the same inputs, and HALF_UP resolves
    *   them away from zero on both paths.
    */
  private def halfUpInt(x: Double): Double = {
    val f = math.floor(x)
    if (f == x) x
    else {
      val half = f + 0.5
      if (x > half) f + 1.0
      else if (x < half) f
      else if (x > 0.0) f + 1.0 // genuine tie: away from zero
      else f                    // negative tie: floor IS away from zero
    }
  }

  /** JVM-side replica of [[round6]] — same construction as [[round4Jvm]]
    * at the 1e6 scale (the streaming Page-Hinkley / SPRT folds quantize
    * their per-row terms exactly like the batch windows' round6).
    */
  def round6Jvm(v: Double): Double =
    if (v.isNaN || v.isInfinite) v
    else {
      val scaled = v * 1000000.0
      if (scaled.isInfinite) scaled / 1000000.0
      else halfUpInt(scaled) / 1000000.0 + 0.0
    }

  def round4(c: Column): Column = round(c * lit(10000.0)) / 10000.0 + lit(0.0)
  def round4Sql(x: String): String = s"(round(($x) * 10000.0) / 10000.0 + 0.0)"
  def round6(c: Column): Column = round(c * lit(1000000.0)) / 1000000.0 + lit(0.0)
  def round6Sql(x: String): String = s"(round(($x) * 1000000.0) / 1000000.0 + 0.0)"

  /** Exact-double SQL literal: the shortest-round-trip toString,
    * string-cast to DOUBLE in DuckDB — a plain decimal literal in the
    * SQL could parse to a DIFFERENT double than the one Scala computed
    * (e.g. `1.0 - 0.3`). Single source for every oracle that bakes a
    * Scala-computed constant.
    */
  def dlitSql(x: Double): String = s"CAST('${x.toString}' AS DOUBLE)"

  // ---- Standard-normal CDF, engine-portable -------------------------------
  // Neither Spark SQL nor DuckDB ships erf, so p-values use the
  // Abramowitz & Stegun 7.1.26 polynomial (|error| < 1.5e-7 — invisible
  // at the 4dp output quantization) evaluated as the SAME expression
  // tree on both engines: every coefficient is one shared literal, the
  // only transcendental is exp(), and the Horner order is fixed, so the
  // doubles agree to the last ulp except where libm exp differs — which
  // 4dp rounding absorbs. Callers MUST round4 the z input first so both
  // engines start from the identical double.
  private val ErfP  = 0.3275911
  private val ErfA  = Seq(0.254829592, -0.284496736, 1.421413741,
                          -1.453152027, 1.061405429)
  private val InvSqrt2 = 1.0 / math.sqrt(2.0)

  /** P(Z <= z) for a round4-quantized z column. */
  def normalCdf(z: Column): Column = {
    val x  = abs(z) * lit(InvSqrt2)
    val t  = lit(1.0) / (lit(1.0) + lit(ErfP) * x)
    val poly = ((((lit(ErfA(4)) * t + lit(ErfA(3))) * t + lit(ErfA(2))) * t
      + lit(ErfA(1))) * t + lit(ErfA(0))) * t
    val erf = lit(1.0) - poly * exp(-x * x)
    when(z >= 0, lit(0.5) * (lit(1.0) + erf))
      .otherwise(lit(0.5) * (lit(1.0) - erf))
  }

  /** DuckDB twin of [[normalCdf]] applied to SQL fragment `z` (which must
    * already be 4dp-quantized and free of side effects — it is spliced
    * several times).
    */
  def normalCdfSql(z: String): String = {
    def d(x: Double) = dlitSql(x)
    val x = s"(abs($z) * ${d(InvSqrt2)})"
    val t = s"(1.0 / (1.0 + ${d(ErfP)} * $x))"
    val poly = s"(((((${d(ErfA(4))} * $t + ${d(ErfA(3))}) * $t + ${d(ErfA(2))}) * $t + ${d(ErfA(1))}) * $t + ${d(ErfA(0))}) * $t)"
    val erf = s"(1.0 - $poly * exp(-($x) * ($x)))"
    s"(CASE WHEN ($z) >= 0 THEN 0.5 * (1.0 + $erf) ELSE 0.5 * (1.0 - $erf) END)"
  }
}
