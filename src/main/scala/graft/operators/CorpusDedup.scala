package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** User-facing corpus deduplication API (SURVEY.md §2.8): the exact +
  * near-dup composition the `dedup_pipeline` query runs, callable on any
  * document DataFrame. Stages:
  *
  *  1. exact: keep the minimum id per content hash (one hash-partition
  *     window, no driver collect);
  *  2. near-dup: simhash the survivors, band the 60-bit signatures into
  *     6 x 10-bit chunks (recall GUARANTEED by pigeonhole for hamming <=
  *     maxHamming = 5), candidate pairs from the chunk equi-join, drop
  *     the larger id of every pair within the hamming threshold.
  *
  * Both stages are equi-join/window shapes — never an O(n^2) cross join —
  * so the composition survives corpus scale; candidates are bounded by
  * band-bucket occupancy. The `dedup_pipeline` driver-verified query
  * delegates here, so this API is DuckDB-oracle-checked end to end.
  */
object CorpusDedup {

  val SimhashChunks = 6
  val SimhashMaxHamming = 5

  /** Surviving ids after exact dedup: min id per distinct content. */
  def exactSurvivors(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    require(!docs.columns.contains("__canonical"),
      "CorpusDedup: input already has a __canonical column (would be clobbered)")
    val w = Window.partitionBy(md5(col(textCol)))
    docs
      .withColumn("__canonical", min(col(idCol)).over(w))
      .filter(col(idCol) === col("__canonical"))
      .drop("__canonical")
  }

  /** (id, chunk index, chunk value, full signature) for banded matching:
    * spread + per-doc simhash + [[simhashBands]], checkpointed. Shared by
    * [[run]], [[nearDupPairs]] and the `dedup_simhash` query.
    */
  def simhashChunks(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Per-doc simhash is the expensive map work of the whole family;
    // spread guards the single-file case where the scan gives one task.
    val sim = graft.sources.Tables.spread(docs, col(idCol)).select(col(idCol),
      TextFunctions.simhash60(TextFunctions.tokens(col(textCol))).as("sig"))
    simhashBands(sim, idCol)
      // localCheckpoint (r17): every consumer self-joins this table, and
      // the per-doc tokenize+simhash sits ABOVE the spread exchange, so
      // both join branches recomputed it (profiled as parallel ~0.9 s
      // duplicate jobs under text_curation at sf0.1). The materialized
      // chunk table is docs x SimhashChunks narrow rows — the signature
      // index a production pipeline would persist anyway — and the text
      // column is gone from it, so the checkpoint is far smaller than
      // the corpus it replaces rescanning.
      .localCheckpoint()
  }

  /** The single home of the 6 x 10-bit banding: (id, sig) rows to lazy
    * (id, sig, c, v) rows, one per chunk. Text simhash ([[simhashChunks]])
    * and the `mm_phash_dedup` frame signatures both band through here.
    */
  private[graft] def simhashBands(sigs: DataFrame, idCol: String): DataFrame =
    sigs.select(col(idCol), col("sig"), explode(array(
      (0 until SimhashChunks).map(c =>
        struct(lit(c).as("c"), shiftright(col("sig"), c * 10).bitwiseAND(lit(1023L)).as("v"))): _*)).as("ck"))
      .select(col(idCol), col("sig"), col("ck.c").as("c"), col("ck.v").as("v"))

  /** The single home of the chunk self-join: distinct (x < y, hd) pairs
    * sharing a chunk, hamming distance `hd` <= `maxHamming`. Lazy.
    */
  private[graft] def simhashPairs(chunks: DataFrame, idCol: String, maxHamming: Int): DataFrame =
    chunks.as("a").join(chunks.as("b"),
        col("a.c") === col("b.c") && col("a.v") === col("b.v") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("x"), col(s"b.$idCol").as("y"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hd"))
      .distinct()
      .filter(col("hd") <= maxHamming)

  /** Full composition: rows of `docs` surviving exact then near-dup
    * dedup (the larger id `y` of every near-dup pair drops), original
    * columns preserved.
    */
  def run(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
          maxHamming: Int = SimhashMaxHamming): DataFrame = {
    // localCheckpoint (r17): `kept` feeds the anti-join's left side AND
    // the near-dup stage, so without materialization the upstream
    // per-row scoring + the md5(text) exact-dedup window shuffle ran
    // twice (once per branch). One materialization replaces the second
    // full pass; same rows, values unchanged.
    val kept = exactSurvivors(docs, idCol, textCol).localCheckpoint()
    val dropped = nearDupPairs(kept, idCol, textCol, maxHamming).select(col("y").as(idCol))
    kept.join(dropped, Seq(idCol), "left_anti")
  }

  /** Undirected near-dup candidate edges (x < y) within `maxHamming`
    * (<= SimhashMaxHamming for guaranteed recall) — the edges of
    * [[run]]'s drop set, [[clusterLabels]] and the cluster queries.
    */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = SimhashMaxHamming): DataFrame = {
    require(maxHamming <= SimhashMaxHamming,
      s"maxHamming=$maxHamming exceeds the $SimhashChunks-chunk banding's guaranteed recall bound $SimhashMaxHamming")
    simhashPairs(simhashChunks(docs, idCol, textCol), idCol, maxHamming).select("x", "y")
  }

  /** Near-dup cluster label for EVERY doc: the minimum reachable id of
    * its simhash connected component (fixpoint label propagation), its
    * own id when it has no near-dup. One row per input doc.
    */
  def clusterLabels(docs: DataFrame, idCol: String, textCol: String,
                    maxHamming: Int = SimhashMaxHamming): DataFrame = {
    val labels = GraphOps.minLabelPropagate(nearDupPairs(docs, idCol, textCol, maxHamming))
      .withColumnRenamed("id", idCol).withColumnRenamed("lbl", "__lbl")
    docs.select(col(idCol))
      .join(labels, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__lbl"), col(idCol)).as("cluster_id"))
  }

  /** Leakage-safe train/val split: the hash bucket is keyed on the
    * near-dup CLUSTER id, not the doc id, so near-duplicates always land
    * on the same side — a plain per-doc split leaks eval content into
    * training whenever a near-copy of a val doc exists in train (the
    * reason production pipelines dedup BEFORE splitting). Deterministic
    * across runs/engines/partitionings like `text_split`.
    */
  def leakageSafeSplit(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", trainPct: Int = 90,
                       maxHamming: Int = SimhashMaxHamming): DataFrame = {
    require(trainPct >= 0 && trainPct <= 100, s"trainPct=$trainPct out of [0,100]")
    clusterLabels(docs, idCol, textCol, maxHamming)
      .withColumn("split",
        when(graft.functions.CleanFunctions
          .md5Hash64(concat(lit("split:"), col("cluster_id"))) % 100 < trainPct,
          "train").otherwise("val"))
  }
}
