package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{CleanFunctions, TextFunctions}

/** User-facing similarity-search API (SURVEY.md §2.9), callable on any
  * (id, embedding) corpus. Three strategies, one output contract
  * (q_id, n_id, score, rk — score 4dp-rounded, rank tie-broken on n_id
  * so results are deterministic):
  *
  *  - [[bruteForceTopK]]: broadcast the query batch against the corpus —
  *    exact, the right plan whenever the batch fits in memory; the corpus
  *    side streams, nothing shuffles.
  *  - [[lshTopK]]: size-adaptive random-hyperplane buckets (expected
  *    occupancy ~`targetOccupancy`) with hamming<=2 multi-probe; exact
  *    cosine re-rank inside probed buckets. The 100 TB path: buckets
  *    partition the corpus.
  *  - IVF (coarse-quantizer cells + nprobe): see [[IvfIndex]] — fit,
  *    assign with `IvfIndex.cellExpr`; the nprobe probe and the re-rank
  *    are SimilarityQueries' `ivfProbe` / `ivfScored`, ranked by
  *    [[ranked]] under the `ann_ivf_topk` query.
  *
  * The `ann_topk_cosine` / `ann_lsh_topk` driver entries delegate here,
  * so this surface is DuckDB-oracle-checked.
  */
object AnnSearch {

  /** Per-query top-k of (q_id, n_id, score) rows: rank `rk` by score
    * descending, ties on n_id, sorted by (q_id, rk) — the one output
    * contract of every top-k search here and of the IVF queries.
    */
  private[graft] def ranked(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(desc("score"), col("n_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .orderBy("q_id", "rk")
  }

  /** Exact top-k cosine of every query against the corpus. `queries` must
    * be small enough to broadcast.
    *
    * `excludeSelf=true` (the default) drops pairs whose ids are equal and
    * therefore assumes `queries` is drawn from the corpus id space; if the
    * queries are an EXTERNAL table whose ids are unrelated to the corpus,
    * pass `excludeSelf=false`, or valid neighbors that coincidentally
    * share an id value would be silently dropped.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, embCol: String, k: Int,
                     excludeSelf: Boolean = true): DataFrame = {
    val c = corpus.select(col(idCol), col(embCol),
      TextFunctions.vecNorm(col(embCol)).as("nrm"))
    val q = queries.select(col(idCol).as("q_id"), col(embCol).as("q_emb"),
      TextFunctions.vecNorm(col(embCol)).as("q_nrm"))
    val joinCond = if (excludeSelf) col(idCol) =!= col("q_id") else lit(true)
    val scored = c.join(broadcast(q), joinCond)
      .select(col("q_id"), col(idCol).as("n_id"),
        CleanFunctions.round4(TextFunctions.cosineFromNorms(
          TextFunctions.dot(col("q_emb"), col(embCol)),
          col("q_nrm"), col("nrm"))).as("score"))
    ranked(scored, k)
  }

  /** Defaults shared with the DuckDB oracle twins (SimilarityQueries
    * builds its unrolled CASE from these same values).
    */
  val DefaultTargetOccupancy = 64L
  val DefaultMaxPlanes = 16

  /** Deterministic budget on distance-2 multi-probe flips. Uncapped, the
    * probe fan is 1 + np + np(np-1)/2 and np grows with log(corpus), so
    * the candidate stage is n*log^2(n) — measured at slope 1.81 on the
    * emb_lof decade study. Capping the 2-bit flips to the first
    * [[MaxTwoBitProbes]] pairs in lexicographic (p, q) order keeps the
    * fan at 1 + np + min(16, np(np-1)/2) = O(log n) probes per vector —
    * n*log(n) candidates total. At 100 TB (np≈16-20) that is 33-37
    * probes/vector instead of 153-211. The pinned lex order makes the
    * probed bucket set a deterministic function of (n, vector) alone, so
    * the DuckDB oracle replicates it exactly via the lex-rank predicate
    * [[twoBitFlipRankSql]]. Below the cap (np <= 6, i.e. corpora
    * <= 4096 vectors at occupancy 64) the probe set is identical to the
    * full hamming<=2 fan, so small-sf hashes are unchanged.
    */
  val MaxTwoBitProbes = 16

  /** The capped 2-bit flip pairs, in the pinned lexicographic order the
    * oracle's rank predicate replays.
    */
  def twoBitFlipPairs(np: Int): Seq[(Int, Int)] =
    (for { p <- 0 until np; q <- p + 1 until np } yield (p, q))
      .take(MaxTwoBitProbes)

  /** The probe list of a `bucket` column over `np` planes: the bucket
    * itself, its `np` 1-bit flips and the capped 2-bit flips
    * ([[twoBitFlipPairs]]), as one array to explode. Shared by
    * [[lshTopK]] and the blocked kNN candidate stage.
    */
  private[graft] def probeBuckets(np: Int): Column = {
    val flips = (0 until np).map(p => col("bucket").bitwiseXOR(lit(1L << p))) ++
      twoBitFlipPairs(np).map { case (p, q) =>
        col("bucket").bitwiseXOR(lit((1L << p) | (1L << q))) }
    array(col("bucket") +: flips: _*)
  }

  /** DuckDB twin of [[twoBitFlipPairs]]'s cap, as a predicate over plane
    * columns `a.p < b.p` with `np` in scope: lex-rank(a, b) =
    * a*(2*np-a-1)/2 + (b-a-1) (always-even product, so `//` is exact).
    */
  val twoBitFlipRankSql: String =
    s"((a.p * (2 * np - a.p - 1)) // 2 + (b.p - a.p - 1)) < $MaxTwoBitProbes"

  /** Occupancy above which a level-1 sign bucket gets a bucket-LOCAL
    * second-level split (see [[subPlanes]]). 4x the target occupancy:
    * the committed test sfs top out at 220, so their bucketing stays
    * single-level (hashes unchanged); the split engages exactly where
    * the measured superlinearity lives — tightly-clustered corpora whose
    * per-cluster mass outgrows any GLOBAL hyperplane's ability to split
    * it (every member shares the same sign on every global plane; only
    * a plane anchored INSIDE the cluster separates members). Measured on
    * the sf1eq decade: level-1-only candidates grow x28 for rows x10
    * (slope 1.45 — Σocc² over cluster-sized buckets); with the local
    * split they return to near-linear.
    */
  val SplitOccupancy = 256L

  /** Cap on second-level planes: 8 more planes handle a further 256x of
    * within-cluster growth past [[SplitOccupancy]]; production recurses
    * the same refinement (a hash trie), one level per ~2 decades.
    */
  val MaxSubPlanes = 8

  /** Level-2 plane count for a split bucket of occupancy m — the same
    * integer-threshold sizing as [[annPlanes]], on plane indices
    * [[DefaultMaxPlanes]]..+[[MaxSubPlanes]] so the two levels never
    * share a hyperplane.
    */
  def subPlanes(m: Long): Int =
    annPlanes(m, DefaultTargetOccupancy, MaxSubPlanes)

  /** DuckDB twin of [[subPlanes]] as a CASE over an `occ` column. */
  val subPlanesCaseSql: String =
    "CASE " + (1 until MaxSubPlanes).map(q =>
      s"WHEN occ <= ${DefaultTargetOccupancy << q} THEN $q ").mkString +
      s"ELSE $MaxSubPlanes END"

  /** Plane count for a corpus of `n` vectors: smallest p with
    * n <= targetOccupancy * 2^p, capped. Integer thresholds so SQL twins
    * can replicate the derivation exactly.
    */
  def annPlanes(n: Long, targetOccupancy: Long = DefaultTargetOccupancy,
                maxPlanes: Int = DefaultMaxPlanes): Int =
    (1 to maxPlanes).find(p => n <= (targetOccupancy << p)).getOrElse(maxPlanes)

  /** Approximate top-k via adaptive hyperplane LSH with hamming<=2
    * multi-probe. Cache `corpus` before calling if the session reuses it:
    * the sizing count, the probe build and the candidate join all read it
    * (the derived sign bits are cheap to recompute from a cached corpus,
    * and an API-internal cache would leak pinned executor memory the
    * caller has no handle to release).
    */
  def lshTopK(corpus: DataFrame, queryPred: Column,
              idCol: String, embCol: String, k: Int,
              targetOccupancy: Long = DefaultTargetOccupancy): DataFrame = {
    val np = annPlanes(corpus.count(), targetOccupancy)
    val sb = corpus.select(col(idCol), col(embCol),
      TextFunctions.vecNorm(col(embCol)).as("nrm"),
      TextFunctions.packBits((0 until np).map(p =>
        TextFunctions.lshSign(col(embCol), p))).as("bucket"))
    val probes = sb.filter(queryPred)
      .select(col(idCol).as("q_id"), col(embCol).as("q_emb"),
        col("nrm").as("q_nrm"),
        explode(probeBuckets(np)).as("pbucket"))
    // No broadcast hint on the probe side: it is corpus-proportional
    // (|queries| x (1 + np + np(np-1)/2) rows), so a forced broadcast
    // would OOM once the corpus — and with it the query batch — grows
    // 100x. The bucket equi-join shuffles fine on `pbucket`/`bucket`,
    // and AQE still picks a broadcast at runtime whenever the measured
    // probe side is actually small.
    val scored = sb.join(probes,
        sb("bucket") === probes("pbucket") && sb(idCol) =!= probes("q_id"))
      .select(col("q_id"), col(idCol).as("n_id"),
        CleanFunctions.round4(TextFunctions.cosineFromNorms(
          TextFunctions.dot(col("q_emb"), col(embCol)),
          col("q_nrm"), col("nrm"))).as("score"))
    ranked(scored, k)
  }

  /** Symmetric per-vector int8 quantization: scale = 127 / max|x_i|,
    * q_i = floor(x_i * scale + 0.5) — the storage/bandwidth shrink (4x
    * over float32) every large-scale ANN index applies before sharding.
    * floor(+0.5) instead of round() because its IEEE semantics are
    * identical across engines (round() half-away vs half-even differs);
    * an all-zero vector yields null scale + null codes rather than
    * division blow-up. Pure per-row expression: stays in whole-stage
    * codegen, embarrassingly parallel at any scale.
    */
  def quantizeInt8(df: DataFrame, embCol: String): DataFrame = {
    val maxAbs = array_max(transform(col(embCol), x => abs(x))).cast("double")
    val scale = when(maxAbs > 0.0, lit(127.0) / maxAbs)
    df.withColumn("q_scale", scale)
      .withColumn("q_codes",
        when(scale.isNotNull,
          transform(col(embCol),
            x => floor(x.cast("double") * scale + lit(0.5)).cast("int"))))
  }
}
