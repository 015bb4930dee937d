package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.GraftConfig
import graft.functions.{CleanFunctions, TextFunctions}
import graft.sources.Tables

/** Near-duplicate detection over `documents` / `embeddings`
  * (SURVEY.md §2.8). Every variant generates candidates through an
  * equi-join (shingle, MinHash band, SimHash chunk, hyperplane bucket) —
  * never an O(n^2) cross join — then scores exactly within candidates.
  * That is the 100 TB-safe shape: candidate generation is a shuffle on a
  * key, and the per-doc state (token/shingle arrays) is bounded by doc
  * size, not corpus size.
  *
  * Oracle parity: MinHash/LSH candidate sets are probabilistic in recall,
  * so their DuckDB oracles replicate the banding EXACTLY (same md5-derived
  * hashes, same permutation constants from GraftConfig). SimHash banding
  * (6 chunks of 10 bits, threshold hamming<=5) has guaranteed recall by
  * pigeonhole, so its oracle is the honest all-pairs scan.
  */
object DedupQueries {

  private val K = GraftConfig.ShingleSize // 3-token shingles
  private val MaxShingleDf = 100 // df-pruning bound for the shingle self-join
  private val JaccardThreshold = 0.8
  private val ContainmentThreshold = 0.9
  private val MinhashVerifyThreshold = 0.7
  // Shared with the CorpusDedup API so the oracle SQL can never drift
  // from what the delegating queries compute.
  private val SimhashMaxHamming = graft.operators.CorpusDedup.SimhashMaxHamming
  private val CosineThreshold = 0.4 // max pairwise cosine in testdata ~0.51

  /** Banding sweep configs for dedup_lsh_tuning; every pair multiplies
    * to GraftConfig.MinHashK so all arms share one signature aggregate.
    */
  private val LshTuningConfigs = Seq((2, 8), (4, 4), (8, 2))
  private val EmbBands = 4
  private val EmbRowsPerBand = 4 // 16 planes = GraftConfig.LshPlanes

  /** doc_id + distinct-shingle array (docs with >= K tokens only: Spark's
    * `sequence(0, n-K)` runs descending for n<K).
    */
  private def shingleSets(s: SparkSession, d: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    // Shingling is heavy per-row map work; spread it when the corpus
    // arrives as one small file (no-op when the scan already splits).
    Tables.spread(Tables.documents(s, d), col("doc_id"))
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= K)
      .select(col("doc_id"), TextFunctions.shingles(col("t"), K).as("sh"))
  }

  private val shingleSetsSql: String = {
    val t = "regexp_split_to_array(trim(text), '\\s+')"
    s"""tok AS (SELECT doc_id, $t AS t FROM documents WHERE len($t) >= $K),
       |sset AS (SELECT doc_id, ${TextFunctions.shinglesSql("t", K)} AS sh FROM tok)""".stripMargin
  }

  /** Substring-dedup window: the minimum duplicated run, in tokens.
    * Pinned so the entry and its oracle share the literal.
    */
  private[graft] val SubstrK = 8

  /** Substring-level exact dedup (the `dedup_substring` entry) — the
    * Lee et al. 2022 "Deduplicating Training Data" modality the
    * document/near-dup/semantic family doesn't cover: find every token
    * span of length >= k that occurs at least twice ANYWHERE in the
    * corpus (across docs or within one), reported per doc as merged
    * removable blocks. Exact formulation via sorted k-gram runs: a
    * position's k-gram occurring >= 2x globally IS a duplicated
    * k-token substring, and any duplicated span of length >= k is
    * exactly a run of such positions — so flag positions whose k-gram
    * count >= 2, then merge the per-doc coverage intervals
    * [pos, pos+k-1] (gaps-and-islands; adjacent blocks merge — one
    * removable byte range).
    *
    * 100 TB posture: k-grams come from a per-doc lead chain (the
    * text_inverted_index precedent — no interpreted array-transform
    * explosion), shuffle once on the 8-byte k-gram hash for the global
    * count, equi-join the duplicated hashes back (AQE handles the
    * boilerplate-kgram skew), and every window partitions by doc —
    * state bounded by doc length, never corpus size. No df cap here:
    * unlike the near-dup candidate JOINS (O(df^2) pairs), the
    * flag-join is linear in occurrences.
    *
    * `k` is the constructor-level knob (default pinned [[SubstrK]]);
    * docs shorter than k tokens have no k-gram and are excluded on
    * both engines.
    */
  def substringDedup(s: SparkSession, d: String,
                     k: Int = SubstrK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2, s"k=$k must be >= 2 (a 1-gram run is word dedup)")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(TextFunctions.tokens(col("text"))).as(Seq("pos", "tok")))
    val leads = (1 until k).foldLeft(toks) { (df, j) =>
      df.withColumn(s"t$j", lead("tok", j).over(w))
    }
    val grams = leads.where(col(s"t${k - 1}").isNotNull)
      .select(col("doc_id"), col("pos"),
        CleanFunctions.md5Hash64(concat_ws(" ",
          col("tok") +: (1 until k).map(j => col(s"t$j")): _*)).as("gh"))
    val dup = grams.groupBy("gh").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= 2).select("gh")
    val flagged = grams.join(dup, "gh").select("doc_id", "pos")
    // Coverage-interval merge: intervals share length k and positions
    // ascend, so blocks break exactly when pos - prev_pos > k (the new
    // interval starts past the previous one's end + 1).
    val isl = flagged
      .withColumn("brk", when(col("pos") - lag("pos", 1).over(w) > k
        || lag("pos", 1).over(w).isNull, 1L).otherwise(0L))
      .withColumn("blk", sum("brk").over(w))
    val perDoc = isl.groupBy("doc_id", "blk")
      .agg(min("pos").as("p0"), max("pos").as("p1"),
        count(lit(1)).as("nf"))
      .groupBy("doc_id")
      .agg(sum("nf").cast(LongType).as("n_dup_kgrams"),
        count(lit(1)).cast(LongType).as("n_dup_blocks"),
        sum(col("p1") - col("p0") + k).cast(LongType).as("dup_tokens"),
        max(col("p1") - col("p0") + k).cast(LongType).as("max_block_tokens"))
    Tables.documents(s, d)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
      .where(size(col("t")) >= k)
      .select(col("doc_id"), size(col("t")).cast(LongType).as("n_tokens"),
        (size(col("t")) - (k - 1)).cast(LongType).as("n_kgrams"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_kgrams"),
        coalesce(col("n_dup_kgrams"), lit(0L)).as("n_dup_kgrams"),
        coalesce(col("n_dup_blocks"), lit(0L)).as("n_dup_blocks"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("max_block_tokens"), lit(0L)).as("max_block_tokens"))
      .orderBy("doc_id")
  }

  /** Exact Jaccard for candidate pairs carrying both shingle arrays. */
  private def jaccard(a: Column, b: Column): Column = {
    val common = size(array_intersect(a, b)).cast(DoubleType)
    common / (size(a) + size(b) - size(array_intersect(a, b))).cast(DoubleType)
  }
  private def jaccardSql(a: String, b: String): String =
    s"(CAST(len(list_intersect($a, $b)) AS DOUBLE) / CAST(len($a) + len($b) - len(list_intersect($a, $b)) AS DOUBLE))"

  /** (doc_id, n, s): every shingle of `sets` as its 60-bit md5 hash `s`,
    * with its doc's distinct-shingle count `n`. The one explode + md5
    * pass under the shingle-pair and MinHash stages.
    */
  private def shingleHashes(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), size(col("sh")).as("n"), explode(col("sh")).as("sh_s"))
      .select(col("doc_id"), col("n"), CleanFunctions.md5Hash64(col("sh_s")).as("s"))

  /** df-pruned shingle-hash self-join: (doc_id_a < doc_id_b, na, nb,
    * common) for every pair sharing a shingle of document frequency <=
    * MaxShingleDf. A shingle in df docs generates O(df^2) pairs, so one
    * corpus-boilerplate shingle (df=100k at 100 TB) would explode the
    * join; shingles past the bound carry no near-dup signal and drop on
    * BOTH engines. The set sizes na/nb stay unpruned, and the shingle
    * arrays are distinct, so `common` is |A∩B| over the pruned index.
    */
  private def shinglePairs(hashed: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ex = hashed
      .withColumn("df", count(lit(1)).over(Window.partitionBy("s")))
      .filter(col("df") <= MaxShingleDf)
      .drop("df")
    ex.as("a").join(ex.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_id_a"), col("b.doc_id").as("doc_id_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).cast(DoubleType).as("common"))
  }

  /** MinHash signature per doc: (doc_id, h0..h{MinHashK-1}), the min of
    * each permutation of the shingle hash — one map-side-combinable
    * aggregation.
    */
  private[graft] def minhashSignatures(hashed: DataFrame): DataFrame = {
    val mhCols = (0 until GraftConfig.MinHashK).map(i =>
      min(TextFunctions.minhashPerm(col("s"), i)).as(s"h$i"))
    hashed.groupBy("doc_id").agg(mhCols.head, mhCols.tail: _*)
  }

  /** MinHash-LSH candidates: distinct (doc_id_a < doc_id_b) pairs whose
    * md5 band key agrees on at least one of `bands` bands of
    * `rowsPerBand` signature rows (band-key equi-join, never a cross join).
    */
  private[graft] def minhashCandidates(mh: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val bd = mh.select(col("doc_id"), explode(array((0 until bands).map { b =>
      val ks = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat_ws(",", ks: _*)).as("key"))
    }: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    bd.as("a").join(bd.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id_a"), col("b.doc_id").as("doc_id_b"))
      .distinct()
  }

  /** Candidate pairs with their exact shingle-set Jaccard (`jaccard`). */
  private def withJaccard(cand: DataFrame, sets: DataFrame): DataFrame =
    cand
      .join(sets.as("sa"), col("doc_id_a") === col("sa.doc_id"))
      .join(sets.as("sb"), col("doc_id_b") === col("sb.doc_id"))
      .withColumn("jaccard", jaccard(col("sa.sh"), col("sb.sh")))

  /** The production MinHash-LSH pairs (MinHashK / MinHashRowsPerBand
    * bands, Jaccard-verified): (doc_id_a, doc_id_b, jaccard, ...).
    */
  private def minhashPairs(sets: DataFrame): DataFrame = {
    val mh = minhashSignatures(shingleHashes(sets))
    withJaccard(minhashCandidates(mh, GraftConfig.MinHashK / GraftConfig.MinHashRowsPerBand,
        GraftConfig.MinHashRowsPerBand), sets)
      .filter(col("jaccard") >= MinhashVerifyThreshold)
  }

  /** The production simhash pairs of the corpus (CorpusDedup's chunk
    * self-join over `documents`): (x, y, hd).
    */
  private def simhashPairs(s: SparkSession, d: String): DataFrame = {
    val cd = graft.operators.CorpusDedup
    cd.simhashPairs(cd.simhashChunks(Tables.documents(s, d), "doc_id", "text"),
      "doc_id", SimhashMaxHamming)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // N-gram Jaccard: explode shingles, equi-join on the 60-bit shingle
    // hash — an 8-byte join key instead of the shingle text, so the
    // shuffle moves a fraction of the bytes — then Jaccard from per-doc
    // set sizes, with document-frequency pruning BEFORE the self-join
    // (see [[shinglePairs]]; common/(na+nb-common) underestimates only
    // for boilerplate-heavy pairs). The oracle joins on the same
    // md5-derived hash with the same pruning, so parity is exact.
    "dedup_ngram_jaccard" -> { (s, d) =>
      val sets = shingleSets(s, d).cache()
      shinglePairs(shingleHashes(sets))
        .withColumn("jaccard", col("common") / (col("na") + col("nb") - col("common")))
        .filter(col("jaccard") >= JaccardThreshold)
        .select(col("doc_id_a"), col("doc_id_b"), graft.functions.CleanFunctions.round4(col("jaccard")).as("jaccard"))
        .orderBy("doc_id_a", "doc_id_b")
    },

    // Substring-level exact dedup — see [[substringDedup]].
    "dedup_substring" -> { (s, d) => substringDedup(s, d) },

    // Asymmetric CONTAINMENT near-dup (Broder): |A∩B|/|A| — the
    // doc-inside-doc case Jaccard structurally misses (a short doc fully
    // quoted in a long one has low Jaccard but containment ≈ 1). Same
    // df-pruned shingle-hash equi-join as dedup_ngram_jaccard; each
    // unordered pair carries BOTH directions, kept when either clears
    // the threshold.
    "dedup_containment" -> { (s, d) =>
      val sets = shingleSets(s, d).cache()
      shinglePairs(shingleHashes(sets))
        .filter(col("common") / col("na") >= ContainmentThreshold ||
          col("common") / col("nb") >= ContainmentThreshold)
        .select(col("doc_id_a"), col("doc_id_b"),
          CleanFunctions.round4(col("common") / col("na")).as("cont_a_in_b"),
          CleanFunctions.round4(col("common") / col("nb")).as("cont_b_in_a"))
        .orderBy("doc_id_a", "doc_id_b")
    },

    // MinHash + LSH: 16 permutations of the md5 shingle hash -> min per
    // permutation (single map-side-combinable aggregation), 4 bands of 4
    // rows -> band-key equi-join for candidates, exact Jaccard verify.
    "dedup_minhash_lsh" -> { (s, d) =>
      minhashPairs(shingleSets(s, d).cache())
        .select(col("doc_id_a"), col("doc_id_b"), graft.functions.CleanFunctions.round4(col("jaccard")).as("jaccard"))
        .orderBy("doc_id_a", "doc_id_b")
    },

    // SimHash: 60-bit signature per doc (array-fold, no explosion), banded
    // into 6 chunks of 10 bits for the candidate join, exact hamming <= 5.
    "dedup_simhash" -> { (s, d) =>
      simhashPairs(s, d)
        .select(col("x").as("doc_id_a"), col("y").as("doc_id_b"), col("hd").cast(LongType).as("hamming"))
        .orderBy("doc_id_a", "doc_id_b")
    },

    // LSH banding sweep over the SAME 16 MinHash permutations: candidate
    // volume and verified precision at (2 bands × 8 rows), (4×4) and
    // (8×2) — the measured tradeoff curve (more bands = higher recall =
    // more candidates = lower precision) that picks a production
    // banding from data instead of folklore. The signature aggregate is
    // computed ONCE (localCheckpoint) and re-banded three ways — the
    // expensive stage never repeats; each arm is the production
    // band-bucket equi-join + exact Jaccard verify.
    "dedup_lsh_tuning" -> { (s, d) =>
      val sets = shingleSets(s, d).cache()
      val mh = minhashSignatures(shingleHashes(sets)).localCheckpoint()
      val arms = LshTuningConfigs.map { case (nb, rpb) =>
        withJaccard(minhashCandidates(mh, nb, rpb), sets)
          .agg(count(lit(1)).as("n_candidates"),
            count(when(col("jaccard") >= MinhashVerifyThreshold, 1)).as("n_verified"))
          .select(lit(nb.toLong).as("bands"), lit(rpb.toLong).as("rows_per_band"),
            col("n_candidates"), col("n_verified"),
            CleanFunctions.round4(col("n_verified").cast(DoubleType) /
              nullif(col("n_candidates").cast(DoubleType), lit(0.0))).as("precision"))
      }
      arms.reduce(_ union _).orderBy("bands")
    },

    // Dedup-method agreement: Jaccard overlap between the PAIR SETS the
    // MinHash-LSH and SimHash detectors discover — the dedup analogue
    // of ts_detector_agreement (two methods agreeing on few pairs means
    // the corpus has near-dups only one lens can see; a method choice
    // should be made on this number, not on folklore). Takes both pair
    // sets from the stages the two production entries are built from
    // (so this measures exactly what ships, without their final sorts)
    // and joins the two O(pairs) sets on the pair key — no new
    // corpus-scale stage.
    "dedup_method_agreement" -> { (s, d) =>
      // Each pair set feeds two consumers (the intersection join AND its
      // own count), so without a cut both corpus-scale pipelines would
      // execute twice inside one action. localCheckpoint materializes
      // the O(pairs) outputs once (SURVEY §5 multi-consumer rule).
      val ma = minhashPairs(shingleSets(s, d).cache())
        .select("doc_id_a", "doc_id_b").localCheckpoint()
      val sa = simhashPairs(s, d)
        .select(col("x").as("doc_id_a"), col("y").as("doc_id_b")).localCheckpoint()
      val both = ma.join(sa, Seq("doc_id_a", "doc_id_b"))
        .agg(count(lit(1)).as("n_both"))
      val nm = ma.agg(count(lit(1)).as("n_minhash"))
      val ns = sa.agg(count(lit(1)).as("n_simhash"))
      nm.crossJoin(ns).crossJoin(both)
        .select(col("n_minhash"), col("n_simhash"), col("n_both"),
          CleanFunctions.round4(col("n_both").cast(DoubleType) /
            nullif((col("n_minhash") + col("n_simhash") - col("n_both"))
              .cast(DoubleType), lit(0.0))).as("pair_jaccard"))
    },

    // End-to-end corpus dedup: drop exact duplicates (keep min doc_id
    // per content hash), then drop the larger id of every simhash
    // near-dup pair among the survivors. Delegates to the user-facing
    // graft.operators.CorpusDedup API, so the library surface itself is
    // what the oracle verifies.
    "dedup_pipeline" -> { (s, d) =>
      graft.operators.CorpusDedup.run(Tables.documents(s, d))
        .select(col("doc_id"))
        .orderBy("doc_id")
    },

    // Near-duplicate GROUPS: simhash pairs as edges, cluster id = min
    // doc_id in the connected component (GraphOps.minLabelPropagate: a
    // one-task union-find below 50,000 symmetrized edges, min-label
    // propagation to FIXPOINT above). A fixed round count would silently
    // split chains longer than the round count; the labeling is the
    // unique min-reachable-id fixpoint, which the oracle replicates with a
    // recursive transitive-closure CTE.
    "dedup_clusters" -> { (s, d) =>
      val pairs = graft.operators.CorpusDedup
        .nearDupPairs(Tables.documents(s, d), "doc_id", "text")
      graft.operators.GraphOps.minLabelPropagate(pairs)
        .select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
        .orderBy("doc_id")
    },

    // Embedding near-dup: banded random-hyperplane LSH (4 bands x 4
    // deterministic +-1 planes) -> bucket equi-join -> exact cosine.
    // Probabilistic recall (~50% at cos=0.4); the oracle replicates the
    // identical banding so parity is exact.
    // SimilarityQueries.hyperplaneBandPairs is the band join, shared with
    // the DBSCAN family.
    "dedup_embedding" -> { (s, d) =>
      SimilarityQueries.hyperplaneBandPairs(Tables.embeddings(s, d), EmbBands, EmbRowsPerBand)
        .filter(col("cos") >= CosineThreshold)
        .select(col("x").as("vec_id_a"), col("y").as("vec_id_b"),
          graft.functions.CleanFunctions.round4(col("cos")).as("cosine"))
        .orderBy("vec_id_a", "vec_id_b")
    },

    // Edit-distance near-dup pairs over short docs: block on
    // (lang, 20-char length band) so the pair space stays near-linear in
    // the corpus, then score candidates with codegen'd levenshtein.
    // Same-band-only by design (docs straddling a band edge need an
    // adjacent-band pass; at corpus scale the block key also grows a
    // SimHash prefix to keep bands bounded). DuckDB's levenshtein is the
    // same unit-cost DP and the corpus is ASCII, so distances match
    // exactly.
    "dedup_levenshtein" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .filter(col("n_chars") < 300)
        .select(col("doc_id"), col("lang"), col("text"),
          floor(col("n_chars") / lit(20.0)).as("band"))
      // The distance filter gets pushed into the join, so the O(len^2)
      // DP evaluates in the JOIN stage — whose parallelism is the
      // streamed side's partitioning. A parquet scan of short docs is a
      // handful of input splits (and the block key is language-skewed),
      // which would serialize the scoring; repartitioning the streamed
      // side by doc_id first spreads it evenly. The partition count is
      // EXPLICIT (defaultParallelism): a bare repartition-by-column is
      // AQE-coalescible, and 40 MB of pair rows coalesce to ONE task —
      // AQE sizes by bytes and can't see the O(len^2) DP per row. The
      // 3-arg levenshtein prunes each DP to the +-threshold diagonal —
      // exact for every kept pair, -1 (filtered) beyond it.
      // Measured at sf0.1 local[32]: 36.5 s -> 1.4 s.
      docs.repartition(s.sparkContext.defaultParallelism, col("doc_id")).as("a").join(docs.as("b"),
          col("a.lang") === col("b.lang") && col("a.band") === col("b.band") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
          levenshtein(col("a.text"), col("b.text"), MaxEditDistance)
            .cast(LongType).as("dist"))
        .filter(col("dist") >= 0 && col("dist") <= MaxEditDistance)
        .orderBy("a_id", "b_id")
    },

    // Canonical-document selection — the step after clustering in a real
    // dedup pipeline: every doc maps to its cluster's keeper, chosen as
    // the longest variant (ties: source name, then doc_id). Singletons
    // (docs in no near-dup pair) are their own canonical via the left
    // join + coalesce; the keeper is a first_value over the cluster
    // partition, so no second join back to the cluster table.
    "dedup_canonical" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val labels = graft.operators.GraphOps
        .minLabelPropagate(graft.operators.CorpusDedup
          .nearDupPairs(docs, "doc_id", "text"))
        .select(col("id").as("doc_id"), col("lbl"))
      val w = Window.partitionBy("cluster_id")
        .orderBy(desc("n_chars"), col("source"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      docs.join(labels, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("lbl"), col("doc_id")))
        .withColumn("canonical_id", first(col("doc_id")).over(w))
        .select(col("doc_id"), col("cluster_id"), col("canonical_id"),
          (col("doc_id") === col("canonical_id")).cast(LongType).as("is_kept"))
        .orderBy("doc_id")
    },

    // LSH QUALITY HARNESS as a first-class query (the dedup twin of
    // ann_recall_eval): recall/precision of the MinHash band-bucket
    // candidate generator against exact-Jaccard ground truth. Truth =
    // every pair of the df-pruned shingle inverted index whose
    // count-based Jaccard — pruned common count over unpruned set sizes,
    // dedup_ngram_jaccard's production scorer (shingle arrays are
    // array_distinct'ed, so the equi-join count IS |A∩B| over the
    // pruned index; no join-back to the shingle arrays, no per-pair
    // array intersection over the ~1M discovered pairs) — clears the
    // verify threshold; candidates = the minhash band join's distinct
    // pairs. Both sides are bucketed equi-joins — the harness itself
    // stays 100 TB-shaped — and every count is an integer, so parity
    // is exact.
    "dedup_recall_eval" -> { (s, d) =>
      val sets = shingleSets(s, d).cache()
      // One explode+md5 pass feeds BOTH the ground-truth index and the
      // minhash signatures (the digest is the expensive part — computing
      // it twice doubled the scan cost).
      val hashed = shingleHashes(sets).cache()
      // Ground truth: the df-pruned shingle equi-join discovers AND
      // scores in one grouped pass (common = matched-hash count).
      // truth and cand are each consumed TWICE (their count + the hit
      // join) — cache the tiny pair sets so the expensive discovery
      // lineage doesn't execute twice.
      val truth = shinglePairs(hashed)
        .filter(col("common") / (col("na") + col("nb") - col("common")) >= MinhashVerifyThreshold)
        .select(col("doc_id_a"), col("doc_id_b"))
        .cache()
      // Candidates: the production MinHash band join (same constants).
      val cand = minhashCandidates(minhashSignatures(hashed),
          GraftConfig.MinHashK / GraftConfig.MinHashRowsPerBand, GraftConfig.MinHashRowsPerBand)
        .cache()
      val hit = cand.join(truth, Seq("doc_id_a", "doc_id_b"))
      val nT = truth.agg(count(lit(1)).as("n_truth"))
      val nC = cand.agg(count(lit(1)).as("n_candidates"))
      val nH = hit.agg(count(lit(1)).as("n_hits"))
      nT.crossJoin(broadcast(nC)).crossJoin(broadcast(nH))
        .select(col("n_truth"), col("n_candidates"), col("n_hits"),
          CleanFunctions.round4(col("n_hits").cast(DoubleType) /
            nullif(col("n_truth").cast(DoubleType), lit(0.0))).as("recall"),
          CleanFunctions.round4(col("n_hits").cast(DoubleType) /
            nullif(col("n_candidates").cast(DoubleType), lit(0.0))).as("precision"))
    },

    // Cluster-size histogram — the dedup-rate report every curation run
    // publishes (how much of the corpus is singleton vs duplicated, and
    // how big the dup families get). Composes the production
    // clusterLabels (all docs labeled, singletons self-labeled); two
    // map-side-combined aggregates after it, output O(distinct sizes).
    "dedup_cluster_sizes" -> { (s, d) =>
      graft.operators.CorpusDedup
        .clusterLabels(Tables.documents(s, d), "doc_id", "text")
        .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"))
        .orderBy("cluster_size")
    },

    // Cross-source duplication matrix — contamination BETWEEN corpus
    // sources (a web source near-duplicating a curated one changes its
    // effective mix weight): near-dup pairs (the production edge
    // definition) joined to each side's source, counted per unordered
    // source pair. Two id-keyed equi-joins on the (sparse) pair table.
    "dedup_cross_source" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = graft.operators.CorpusDedup.nearDupPairs(docs, "doc_id", "text")
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("x"), col("source").as("sx")), Seq("x"))
        .join(src.select(col("doc_id").as("y"), col("source").as("sy")), Seq("y"))
        .select(least(col("sx"), col("sy")).as("source_a"),
          greatest(col("sx"), col("sy")).as("source_b"))
        .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_pairs"))
        .orderBy("source_a", "source_b")
    }
  )

  private val MaxEditDistance = 60

  /** SimHash signatures -> near-dup edge pairs `p` — the DuckDB twin of
    * CorpusDedup.nearDupPairs, shared by the transitive-closure oracles
    * AND the cross-source matrix so the edge definition cannot drift.
    */
  private lazy val simPairsCte: String =
    s"""tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t FROM documents),
       |h AS (SELECT doc_id, ${CleanFunctions.md5Hash64Sql("t")} AS h FROM tok),
       |v AS (SELECT doc_id, i, sum(((h >> i) & 1) * 2 - 1) AS vote
       |  FROM h, (SELECT unnest(generate_series(0, 59)) AS i) GROUP BY doc_id, i),
       |sim AS (SELECT doc_id, sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS sig
       |  FROM v GROUP BY doc_id),
       |p AS (SELECT a.doc_id AS x, b.doc_id AS y FROM sim a JOIN sim b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.sig, b.sig)) <= $SimhashMaxHamming)""".stripMargin

  /** Shared oracle prefix: SimHash signatures -> near-dup edges ->
    * transitive closure (`reach`), the DuckDB twin of
    * CorpusDedup.nearDupPairs + GraphOps.minLabelPropagate.
    */
  private lazy val clusterReachCte: String =
    s"""WITH RECURSIVE $simPairsCte,
       |e AS (SELECT x, y FROM p UNION ALL SELECT y AS x, x AS y FROM p),
       |reach(doc_id, lbl) AS (
       |  SELECT DISTINCT x AS doc_id, x AS lbl FROM e
       |  UNION
       |  SELECT e.y AS doc_id, r.lbl FROM reach r JOIN e ON e.x = r.doc_id)""".stripMargin

  private val baseOracleSql: Map[String, String] = Map(
    "dedup_levenshtein" ->
      s"""WITH s AS (
         |  SELECT doc_id, lang, text, floor(n_chars / 20.0) AS band
         |  FROM documents WHERE n_chars < 300)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
         |FROM s a JOIN s b
         |  ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id
         |WHERE levenshtein(a.text, b.text) <= $MaxEditDistance
         |ORDER BY a_id, b_id""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""WITH $shingleSetsSql,
         |ex0 AS (SELECT doc_id, len(sh) AS n, ${CleanFunctions.md5Hash64Sql("unnest(sh)")} AS s FROM sset),
         |ex AS (SELECT * FROM ex0 QUALIFY count(*) OVER (PARTITION BY s) <= $MaxShingleDf),
         |p AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, a.n AS na, b.n AS nb,
         |  CAST(count(*) AS DOUBLE) AS common
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1,2,3,4)
         |SELECT doc_id_a, doc_id_b, round((common / (na + nb - common)) * 10000.0) / 10000.0 + 0.0 AS jaccard
         |FROM p WHERE common / (na + nb - common) >= $JaccardThreshold
         |ORDER BY doc_id_a, doc_id_b""".stripMargin,

    // Replays substringDedup's exact formulation: same k-gram hash
    // (DuckDB list slice t[p : p+k-1] is 1-based end-INCLUSIVE = k
    // tokens), same >=2 global count flag, same gaps-and-islands
    // coverage merge with the identical `> k` break rule. Position
    // bases differ (Spark posexplode 0-based, generate_series 1-based)
    // but every output column is a count or an extent — base-invariant.
    "dedup_substring" -> {
      val k = SubstrK
      s"""WITH tk AS (SELECT doc_id, ${TextFunctions.tokensSql("text")} AS t FROM documents),
         |base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         |  CAST(len(t) - ${k - 1} AS BIGINT) AS n_kgrams FROM tk WHERE len(t) >= $k),
         |pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - ${k - 1})) AS p
         |  FROM tk WHERE len(t) >= $k),
         |g AS (SELECT doc_id, p,
         |  ${CleanFunctions.md5Hash64Sql(s"array_to_string(t[p : p + ${k - 1}], ' ')")} AS gh FROM pos),
         |dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
         |f AS (SELECT g.doc_id, g.p FROM g JOIN dup USING (gh)),
         |isl AS (SELECT doc_id, p,
         |  CASE WHEN lag(p) OVER w IS NULL OR p - lag(p) OVER w > $k THEN 1 ELSE 0 END AS brk
         |  FROM f WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
         |blk AS (SELECT doc_id, p,
         |  sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS blk FROM isl),
         |blocks AS (SELECT doc_id, blk, min(p) AS p0, max(p) AS p1, count(*) AS nf
         |  FROM blk GROUP BY doc_id, blk),
         |perdoc AS (SELECT doc_id,
         |  CAST(sum(nf) AS BIGINT) AS n_dup_kgrams,
         |  CAST(count(*) AS BIGINT) AS n_dup_blocks,
         |  CAST(sum(p1 - p0 + $k) AS BIGINT) AS dup_tokens,
         |  CAST(max(p1 - p0 + $k) AS BIGINT) AS max_block_tokens
         |  FROM blocks GROUP BY doc_id)
         |SELECT b.doc_id, b.n_tokens, b.n_kgrams,
         |  coalesce(n_dup_kgrams, 0) AS n_dup_kgrams,
         |  coalesce(n_dup_blocks, 0) AS n_dup_blocks,
         |  coalesce(dup_tokens, 0) AS dup_tokens,
         |  coalesce(max_block_tokens, 0) AS max_block_tokens
         |FROM base b LEFT JOIN perdoc USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    "dedup_containment" ->
      s"""WITH $shingleSetsSql,
         |ex0 AS (SELECT doc_id, len(sh) AS n, ${CleanFunctions.md5Hash64Sql("unnest(sh)")} AS s FROM sset),
         |ex AS (SELECT * FROM ex0 QUALIFY count(*) OVER (PARTITION BY s) <= $MaxShingleDf),
         |p AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, a.n AS na, b.n AS nb,
         |  CAST(count(*) AS DOUBLE) AS common
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1,2,3,4)
         |SELECT doc_id_a, doc_id_b,
         |  ${CleanFunctions.round4Sql("common / na")} AS cont_a_in_b,
         |  ${CleanFunctions.round4Sql("common / nb")} AS cont_b_in_a
         |FROM p
         |WHERE common / na >= $ContainmentThreshold OR common / nb >= $ContainmentThreshold
         |ORDER BY doc_id_a, doc_id_b""".stripMargin,

    "dedup_lsh_tuning" -> {
      val mins = (0 until GraftConfig.MinHashK).map(i =>
        s"min(${TextFunctions.minhashPermSql(CleanFunctions.md5Hash64Sql("s"), i)}) AS h$i").mkString(",\n  ")
      val armCtes = LshTuningConfigs.zipWithIndex.map { case ((nb, rpb), i) =>
        val bandRows = (0 until nb).map { b =>
          val ks = (0 until rpb).map(r => s"h${b * rpb + r}").mkString(" || ',' || ")
          s"SELECT doc_id, $b AS band, md5($ks) AS key FROM mh"
        }.mkString("\n  UNION ALL ")
        s"""bd$i AS ($bandRows),
           |c$i AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
           |  FROM bd$i a JOIN bd$i b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
           |s$i AS (SELECT CAST($nb AS BIGINT) AS bands, CAST($rpb AS BIGINT) AS rows_per_band,
           |  count(*) AS n_candidates,
           |  CAST(count(CASE WHEN ${jaccardSql("sa.sh", "sb.sh")} >= $MinhashVerifyThreshold THEN 1 END) AS BIGINT) AS n_verified
           |  FROM c$i JOIN ss sa ON doc_id_a = sa.doc_id JOIN ss sb ON doc_id_b = sb.doc_id)""".stripMargin
      }.mkString(",\n")
      val armUnion = LshTuningConfigs.indices.map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")
      s"""WITH $shingleSetsSql,
         |ss AS MATERIALIZED (SELECT * FROM sset),
         |ex AS (SELECT doc_id, unnest(sh) AS s FROM ss),
         |mh AS MATERIALIZED (SELECT doc_id, $mins FROM ex GROUP BY doc_id),
         |$armCtes
         |SELECT bands, rows_per_band, n_candidates, n_verified,
         |  ${CleanFunctions.round4Sql("CAST(n_verified AS DOUBLE) / nullif(CAST(n_candidates AS DOUBLE), 0.0)")} AS precision
         |FROM ($armUnion) u ORDER BY bands""".stripMargin
    },

    "dedup_minhash_lsh" -> {
      val mins = (0 until GraftConfig.MinHashK).map(i =>
        s"min(${TextFunctions.minhashPermSql(CleanFunctions.md5Hash64Sql("s"), i)}) AS h$i").mkString(",\n  ")
      val bandRows = (0 until GraftConfig.MinHashK / GraftConfig.MinHashRowsPerBand).map { b =>
        val ks = (0 until GraftConfig.MinHashRowsPerBand)
          .map(r => s"h${b * GraftConfig.MinHashRowsPerBand + r}").mkString(" || ',' || ")
        s"SELECT doc_id, $b AS band, md5($ks) AS key FROM mh"
      }.mkString("\n  UNION ALL ")
      s"""WITH $shingleSetsSql,
         |ex AS (SELECT doc_id, unnest(sh) AS s FROM sset),
         |mh AS (SELECT doc_id, $mins FROM ex GROUP BY doc_id),
         |bands AS ($bandRows),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
         |SELECT doc_id_a, doc_id_b, round((${jaccardSql("sa.sh", "sb.sh")}) * 10000.0) / 10000.0 + 0.0 AS jaccard
         |FROM cand JOIN sset sa ON doc_id_a = sa.doc_id JOIN sset sb ON doc_id_b = sb.doc_id
         |WHERE ${jaccardSql("sa.sh", "sb.sh")} >= $MinhashVerifyThreshold
         |ORDER BY doc_id_a, doc_id_b""".stripMargin
    },

    "dedup_pipeline" ->
      s"""WITH kept AS (SELECT doc_id, text FROM (
         |  SELECT doc_id, text, min(doc_id) OVER (PARTITION BY md5(text)) AS canonical
         |  FROM documents) WHERE doc_id = canonical),
         |tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t FROM kept),
         |h AS (SELECT doc_id, ${CleanFunctions.md5Hash64Sql("t")} AS h FROM tok),
         |v AS (SELECT doc_id, i, sum(((h >> i) & 1) * 2 - 1) AS vote
         |  FROM h, (SELECT unnest(generate_series(0, 59)) AS i) GROUP BY doc_id, i),
         |sim AS (SELECT doc_id, sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS sig
         |  FROM v GROUP BY doc_id),
         |dropped AS (SELECT DISTINCT b.doc_id FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sig, b.sig)) <= $SimhashMaxHamming)
         |SELECT doc_id FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
         |ORDER BY doc_id""".stripMargin,

    // All-pairs oracle for edges (banding is recall-complete at hamming
    // <= 5), then connected components as a recursive transitive-closure
    // CTE: min reachable id == the Spark side's label-propagation fixpoint.
    "dedup_clusters" ->
      s"""$clusterReachCte
         |SELECT doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dedup_canonical" ->
      s"""$clusterReachCte,
         |lab AS (SELECT doc_id, min(lbl) AS lbl FROM reach GROUP BY doc_id),
         |cl AS (SELECT d.doc_id, d.n_chars, d.source, coalesce(l.lbl, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN lab l USING (doc_id)),
         |r AS (SELECT doc_id, cluster_id,
         |  first_value(doc_id) OVER (PARTITION BY cluster_id
         |    ORDER BY n_chars DESC, source, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS canonical_id
         |  FROM cl)
         |SELECT doc_id, cluster_id, canonical_id,
         |  CAST(CASE WHEN doc_id = canonical_id THEN 1 ELSE 0 END AS BIGINT) AS is_kept
         |FROM r ORDER BY doc_id""".stripMargin,

    // All-pairs oracle: banding with 6 chunks has guaranteed recall for
    // hamming <= 5, so the honest quadratic scan gives the same rows.
    "dedup_simhash" ->
      s"""WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t FROM documents),
         |h AS (SELECT doc_id, ${CleanFunctions.md5Hash64Sql("t")} AS h FROM tok),
         |v AS (SELECT doc_id, i, sum(((h >> i) & 1) * 2 - 1) AS vote
         |  FROM h, (SELECT unnest(generate_series(0, 59)) AS i) GROUP BY doc_id, i),
         |sim AS (SELECT doc_id, sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS sig
         |  FROM v GROUP BY doc_id)
         |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= $SimhashMaxHamming
         |ORDER BY doc_id_a, doc_id_b""".stripMargin,

    "dedup_embedding" -> {
      val signCols = (0 until EmbBands * EmbRowsPerBand).map(p =>
        s"${TextFunctions.lshSignSql("embedding", p)} AS b$p").mkString(",\n  ")
      val bandRows = (0 until EmbBands).map { b =>
        val key = (0 until EmbRowsPerBand)
          .map(r => s"(b${b * EmbRowsPerBand + r} << $r)").mkString(" + ")
        s"SELECT vec_id, embedding, $b AS band, $key AS key FROM signs"
      }.mkString("\n  UNION ALL ")
      s"""WITH signs AS (SELECT vec_id, embedding, $signCols FROM embeddings),
         |bands AS ($bandRows),
         |cand AS (SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
         |  ${TextFunctions.cosineSql("a.embedding", "b.embedding")} AS cos
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id)
         |SELECT vec_id_a, vec_id_b, round((cos) * 10000.0) / 10000.0 + 0.0 AS cosine
         |FROM cand WHERE cos >= $CosineThreshold
         |ORDER BY vec_id_a, vec_id_b""".stripMargin
    },

    "dedup_recall_eval" -> {
      val mins = (0 until GraftConfig.MinHashK).map(i =>
        s"min(${TextFunctions.minhashPermSql(CleanFunctions.md5Hash64Sql("s"), i)}) AS h$i").mkString(",\n  ")
      val bandRows = (0 until GraftConfig.MinHashK / GraftConfig.MinHashRowsPerBand).map { b =>
        val ks = (0 until GraftConfig.MinHashRowsPerBand)
          .map(r => s"h${b * GraftConfig.MinHashRowsPerBand + r}").mkString(" || ',' || ")
        s"SELECT doc_id, $b AS band, md5($ks) AS key FROM mh"
      }.mkString("\n  UNION ALL ")
      s"""WITH $shingleSetsSql,
         |ex0 AS (SELECT doc_id, len(sh) AS n, ${CleanFunctions.md5Hash64Sql("unnest(sh)")} AS s FROM sset),
         |exd AS (SELECT * FROM ex0 QUALIFY count(*) OVER (PARTITION BY s) <= $MaxShingleDf),
         |tp AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, a.n AS na, b.n AS nb,
         |  CAST(count(*) AS DOUBLE) AS common
         |  FROM exd a JOIN exd b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1,2,3,4),
         |truth AS (SELECT doc_id_a, doc_id_b FROM tp
         |  WHERE common / (na + nb - common) >= $MinhashVerifyThreshold),
         |ex AS (SELECT doc_id, unnest(sh) AS s FROM sset),
         |mh AS (SELECT doc_id, $mins FROM ex GROUP BY doc_id),
         |bands AS ($bandRows),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         |hit AS (SELECT * FROM cand INTERSECT SELECT * FROM truth),
         |nt AS (SELECT count(*) AS n_truth FROM truth),
         |nc AS (SELECT count(*) AS n_candidates FROM cand),
         |nh AS (SELECT count(*) AS n_hits FROM hit)
         |SELECT n_truth, n_candidates, n_hits,
         |  ${CleanFunctions.round4Sql("CAST(n_hits AS DOUBLE) / nullif(CAST(n_truth AS DOUBLE), 0.0)")} AS recall,
         |  ${CleanFunctions.round4Sql("CAST(n_hits AS DOUBLE) / nullif(CAST(n_candidates AS DOUBLE), 0.0)")} AS precision
         |FROM nt, nc, nh""".stripMargin
    },

    "dedup_cluster_sizes" ->
      s"""$clusterReachCte,
         |lab AS (SELECT doc_id, min(lbl) AS lbl FROM reach GROUP BY doc_id),
         |al AS (SELECT d.doc_id, coalesce(l.lbl, d.doc_id) AS lbl
         |  FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id),
         |cs AS (SELECT lbl, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM al GROUP BY lbl)
         |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs
         |FROM cs GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,

    "dedup_cross_source" ->
      s"""WITH $simPairsCte,
         |sp AS (SELECT least(dx.source, dy.source) AS source_a,
         |  greatest(dx.source, dy.source) AS source_b
         |  FROM p JOIN documents dx ON p.x = dx.doc_id
         |         JOIN documents dy ON p.y = dy.doc_id)
         |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
         |FROM sp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )

  /** The agreement oracle composes the two production pair oracles
    * verbatim (MATERIALIZED: each pair set is referenced twice, and the
    * underlying pipelines are multi-CTE scans DuckDB would otherwise
    * inline per reference).
    */
  val oracleSql: Map[String, String] = baseOracleSql +
    ("dedup_method_agreement" ->
      s"""WITH ma AS MATERIALIZED (
         |  SELECT doc_id_a, doc_id_b FROM (${baseOracleSql("dedup_minhash_lsh")}) qm),
         |sa AS MATERIALIZED (
         |  SELECT doc_id_a, doc_id_b FROM (${baseOracleSql("dedup_simhash")}) qs),
         |b AS (SELECT count(*) AS n_both FROM ma JOIN sa USING (doc_id_a, doc_id_b)),
         |nm AS (SELECT count(*) AS n_minhash FROM ma),
         |ns AS (SELECT count(*) AS n_simhash FROM sa)
         |SELECT n_minhash, n_simhash, n_both,
         |  ${CleanFunctions.round4Sql("CAST(n_both AS DOUBLE) / nullif(CAST(n_minhash + n_simhash - n_both AS DOUBLE), 0.0)")} AS pair_jaccard
         |FROM nm, ns, b""".stripMargin)
}
