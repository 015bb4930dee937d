package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.GraftConfig

/** Text tokenization / shingling / sketching building blocks for the
  * LLM-training-data operators (SURVEY.md §2.8-2.10).
  *
  * Everything is expressed with codegen'd `org.apache.spark.sql.functions`
  * higher-order array functions — no UDFs — so the hot path stays inside
  * whole-stage codegen and is replicable as DuckDB SQL for the oracle
  * (each Spark helper has a `...Sql` twin producing the equivalent SQL).
  *
  * Shared hashing: [[CleanFunctions.md5Hash64]] (md5-derived 60-bit int,
  * identical in both engines) seeds MinHash permutations and SimHash bits.
  */
object TextFunctions {

  /** Whitespace tokens of a text column. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")
  def tokensSql(s: String): String = s"regexp_split_to_array(trim($s), '\\s+')"

  /** Distinct k-token shingles (word n-grams). Callers must pre-filter
    * rows with fewer than k tokens: Spark `sequence(0, n-k)` would run
    * DESCENDING for n<k and emit junk shingles.
    */
  def shingles(toks: Column, k: Int): Column =
    array_distinct(transform(
      sequence(lit(0), size(toks) - k),
      i => concat_ws(" ", (0 until k).map(j => element_at(toks, i + j + 1)): _*)))

  /** DuckDB twin of [[shingles]] (1-based list indexing); `t` is the SQL
    * name of the token-list column.
    */
  def shinglesSql(t: String, k: Int): String = {
    val parts = (0 until k).map(j => s"$t[i+$j]").mkString(" || ' ' || ")
    s"list_distinct([$parts for i in generate_series(1, len($t) - ${k - 1})])"
  }

  /** Stopword list for [[qualityScore]] (also the text_quality entry's
    * stopword-ratio component).
    */
  val QualityStopwords: Seq[String] =
    Seq("the", "a", "of", "to", "and", "in", "is", "it", "for", "on")

  /** Marker-token sets for [[predLang]] (n-gram-heuristic language ID). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "de", "y", "que"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "zh" -> Seq("的", "是", "了", "在", "和"))

  private def sqlList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Composite [0,1] document quality score (length / alpha / punctuation /
    * stopword signals, 0.3+0.3+0.2+0.2 weights, rounded 4dp) — THE
    * canonical formula; the text_quality entry and CorpusCuration both
    * call this so the two can never drift.
    */
  def qualityScore(text: Column): Column = {
    val nChars  = length(text).cast(DoubleType)
    val toks    = tokens(text)
    val nTokens = size(toks).cast(DoubleType)
    val nStop   = size(filter(toks, t => t.isin(QualityStopwords: _*))).cast(DoubleType)
    val nAlpha  = regexp_count(text, lit("[a-zA-Z]")).cast(DoubleType)
    val nPunct  = regexp_count(text, lit("[.,!?;:]")).cast(DoubleType)
    CleanFunctions.round4(
      lit(0.3) * least(lit(1.0), nTokens / 100.0)
        + lit(0.3) * CleanFunctions.safeDiv(nAlpha, nChars)
        + lit(0.2) * (lit(1.0) - CleanFunctions.safeDiv(nPunct, nChars))
        + lit(0.2) * CleanFunctions.safeDiv(nStop, nTokens))
  }

  /** DuckDB twin of [[qualityScore]]; `text` is the SQL column name. */
  def qualityScoreSql(text: String): String = {
    val t = tokensSql(text)
    val nChars  = s"CAST(length($text) AS DOUBLE)"
    val nTokens = s"CAST(len($t) AS DOUBLE)"
    val nStop   = s"CAST(len(list_filter($t, x -> list_contains(${sqlList(QualityStopwords)}, x))) AS DOUBLE)"
    val nAlpha  = s"CAST(len(regexp_extract_all($text, '[a-zA-Z]')) AS DOUBLE)"
    val nPunct  = s"CAST(len(regexp_extract_all($text, '[.,!?;:]')) AS DOUBLE)"
    s"round((0.3 * least(1.0, $nTokens / 100.0) + 0.3 * ($nAlpha / nullif($nChars, 0))" +
      s" + 0.2 * (1.0 - $nPunct / nullif($nChars, 0)) + 0.2 * ($nStop / nullif($nTokens, 0))) * 10000.0) / 10000.0"
  }

  /** Marker-token language ID: deterministic argmax over [[LangMarkers]]
    * counts ('und' when no marker hits) — the canonical formula shared by
    * the text_langid entry and CorpusCuration.
    */
  def predLang(text: Column): Column = {
    val toks = tokens(lower(text))
    val scores = LangMarkers.map { case (l, ws) =>
      l -> size(filter(toks, t => t.isin(ws: _*))).cast(LongType)
    }
    val best = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und"): Column) { case ((l, s), acc) =>
      when(best > 0 && s === best, l).otherwise(acc)
    }
  }

  /** DuckDB twin of [[predLang]]. */
  def predLangSql(text: String): String = {
    val tl = tokensSql(s"lower($text)")
    val scores = LangMarkers.map { case (l, ws) =>
      l -> s"len(list_filter($tl, x -> list_contains(${sqlList(ws)}, x)))"
    }
    val best = scores.map(_._2).mkString("greatest(", ", ", ")")
    val cases = scores.map { case (l, s) =>
      s"WHEN $best > 0 AND $s = $best THEN '$l'"
    }.mkString(" ")
    s"(CASE $cases ELSE 'und' END)"
  }

  /** PII scrubbing patterns (training-data redaction): kept to RE2-safe
    * syntax (character classes + bounded quantifiers, no lookaround) so
    * the Java-regex Spark side and the RE2 DuckDB oracle match the same
    * spans. Extend per deployment (SSNs, IBANs, ...) — each pattern is a
    * (regex, replacement-tag) pair applied in order.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "[0-9]+" -> "<NUM>")

  /** Redact every PII pattern from a text column (emails before bare
    * number runs, so an address's digits don't pre-empt the email tag).
    * Pure regexp_replace chain: codegen'd, embarrassingly parallel.
    */
  def scrubPii(c: Column): Column =
    PiiPatterns.foldLeft(c) { case (acc, (pat, tag)) =>
      regexp_replace(acc, pat, tag)
    }

  /** Count of matches for one PII pattern (on the ORIGINAL text). */
  def piiCount(c: Column, pattern: String): Column =
    regexp_count(c, lit(pattern)).cast(LongType)

  /** DuckDB twins ('g' = replace all, like Spark's regexp_replace). */
  def scrubPiiSql(s: String): String =
    PiiPatterns.foldLeft(s) { case (acc, (pat, tag)) =>
      s"regexp_replace($acc, '$pat', '$tag', 'g')"
    }
  def piiCountSql(s: String, pattern: String): String =
    s"CAST(len(regexp_extract_all($s, '$pattern')) AS BIGINT)"

  /** MinHash value for permutation i over a base-hash column:
    * h_i(x) = (a_i * (x mod p) + b_i) mod p  — x reduced mod p first so
    * a*x stays within Int64 (x is 60-bit, a is 31-bit).
    */
  def minhashPerm(baseHash: Column, i: Int): Column = {
    val p = GraftConfig.MinHashPrime
    (lit(GraftConfig.MinHashA(i)) * (baseHash % p) + GraftConfig.MinHashB(i)) % p
  }
  def minhashPermSql(xSql: String, i: Int): String = {
    val p = GraftConfig.MinHashPrime
    s"(${GraftConfig.MinHashA(i)} * (($xSql) % $p) + ${GraftConfig.MinHashB(i)}) % $p"
  }

  /** 60-bit SimHash of a token array, no explosion: hash each token once
    * (md5-derived, shared with the DuckDB oracle), +-1 vote per bit,
    * sign bits packed into a long. One fused pass — see
    * [[org.apache.spark.sql.graft.SimHash60]].
    */
  def simhash60(toks: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.simhash60(toks)

  /** Sequential-accumulation dot product (codegen'd expression — see
    * [[graft.expressions.FloatVectorDot]]); same fold order as DuckDB's
    * `list_sum`, so oracle parity is bitwise.
    */
  def dot(x: Column, y: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.floatDot(x, y)

  /** L2 norm of a float-array column. */
  def vecNorm(x: Column): Column = sqrt(dot(x, x))

  /** Cosine similarity of two float-array columns, computed in double with
    * strictly sequential accumulation so the DuckDB twin — list_sum over
    * the same element order — bit-matches.
    */
  def cosine(a: Column, b: Column): Column =
    CleanFunctions.safeDiv(dot(a, b), vecNorm(a) * vecNorm(b))

  /** Cosine from a precomputed dot and precomputed per-vector norms —
    * arithmetically identical to [[cosine]] (norm = sqrt(dot(x,x)) either
    * way) but lets candidate-pair scoring reuse per-vector state instead
    * of recomputing two self-dots per pair.
    */
  def cosineFromNorms(dotAB: Column, normA: Column, normB: Column): Column =
    CleanFunctions.safeDiv(dotAB, normA * normB)
  def cosineSql(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_sum(list_transform(list_zip($x, $y), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    s"(${dot(a, b)} / nullif(sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}), 0.0))"
  }

  /** Signed projection of an embedding onto deterministic +-1 hyperplane
    * `p`: the weights are a foldable literal float array, so the dot is
    * one codegen'd loop ([[dot]]) — identical arithmetic to the unrolled
    * SQL twin (+-1.0f widens to +-1.0 exactly).
    */
  /** Raw signed projection onto deterministic ±1 hyperplane `plane` —
    * the shared primitive under [[lshSign]] (sign buckets) and the JL
    * random projection (raw coordinates). Sequential fold order matches
    * [[lshProjSql]]'s left-to-right term sum.
    */
  /** The deterministic Rademacher hyperplane weight for (plane, dim) —
    * the single source shared by [[lshProj]], [[lshProjSql]] and the
    * centered-threshold fold in AnnSearch.
    */
  def lshWeight(plane: Int, i: Int): Double =
    if (((plane * 8191L + i * 524287L) % 97) % 2 == 0) 1.0 else -1.0

  def lshProj(emb: Column, plane: Int): Column = {
    val w: Array[Float] = Array.tabulate(64)(i => lshWeight(plane, i).toFloat)
    dot(emb, lit(w))
  }

  /** DuckDB twin of [[lshProj]]: the identical left-to-right term sum. */
  def lshProjSql(embSql: String, plane: Int): String = {
    val terms = (0 until 64).map { i =>
      s"CAST($embSql[${i + 1}] AS DOUBLE) * ${lshWeight(plane, i)}"
    }.mkString(" + ")
    s"($terms)"
  }

  def lshSign(emb: Column, plane: Int): Column =
    when(lshProj(emb, plane) >= 0, 1L).otherwise(0L)
  def lshSignSql(embSql: String, plane: Int): String =
    s"(CASE WHEN ${lshProjSql(embSql, plane)} >= 0 THEN 1 ELSE 0 END)"

  /** ANCHORED sign bit: the hyperplane passes through a data-derived
    * anchor instead of the origin — compared as proj(x) >= threshold so
    * both engines fold the identical terms. Used by the bucket-local
    * second-level LSH split (AnnSearch.SplitOccupancy): a GLOBAL
    * hyperplane never separates the members of a tight cluster (they
    * share the sign on every global plane), but a plane anchored at the
    * cluster's own 6dp-exact projection mean splits its mass ~evenly.
    */
  def lshSignAt(emb: Column, plane: Int, threshold: Column): Column =
    when(lshProj(emb, plane) >= threshold, 1L).otherwise(0L)

  /** Pack `n` sign bits (columns of 0/1 long) into a bucket id. */
  def packBits(bits: Seq[Column]): Column =
    bits.zipWithIndex.map { case (b, i) => shiftleft(b, i) }
      .reduce(_ + _).cast(LongType)
}
