package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Opaque payload for multimodal rows: real binary column + typed
  * metadata, the schema a media pipeline would carry at 100 TB.
  */
case class MediaRow(doc_id: Long, media_type: String, payload: Array[Byte])

/** Output of the (stubbed) decoder. */
case class MediaStats(doc_id: Long, media_type: String, n_bytes: Long,
                      width: Long, height: Long, checksum: Long)

/** Multimodal plumbing (SURVEY.md §2.11): media bytes travel as an opaque
  * `binary` column with typed metadata; decode/feature-extract runs as a
  * typed `Dataset.mapPartitions` — the Scala analogue of mapInPandas: one
  * iterator per partition, so a real decoder would amortize codec init
  * per-partition, and partitioning/schema are genuine Spark plumbing.
  *
  * The decode itself is a clearly-marked deterministic STUB (no image/
  * audio codecs in this container): "dimensions" are derived from the
  * payload's md5, which also makes the whole pipeline oracle-checkable in
  * DuckDB.
  */
object MultimodalQueries {

  /** STUB decoder: stands in for image/audio decode. Deterministic md5
    * features so the DuckDB oracle can replicate bit-for-bit; a real
    * deployment swaps only this function's body.
    */
  private def decodeStub(r: MediaRow): MediaStats = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(r.payload).map("%02x".format(_)).mkString
    val h = java.lang.Long.parseLong(hex.substring(0, 15), 16) // 60-bit, matches md5Hash64
    MediaStats(r.doc_id, r.media_type, r.payload.length.toLong, h % 1920, h % 1080, h)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_binary_stats" -> { (s, d) =>
      import s.implicits._
      val rows = Tables.documents(s, d)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, "image")
            .when(col("doc_id") % 3 === 1, "audio")
            .otherwise("video").as("media_type"),
          col("text").cast("binary").as("payload"))
        .as[MediaRow]
      rows.mapPartitions(_.map(decodeStub)).toDF().orderBy("doc_id")
    },

    // Frame sampling: treat the payload as fixed-size frames (32 bytes
    // standing in for a decoded video frame), keep every 4th. The 1->N
    // row explosion, per-frame slicing, and per-frame hashing are the
    // real plumbing; only "a frame is 32 bytes" is the stub. Docs are
    // ASCII so the DuckDB oracle's char substring = our byte slice.
    "mm_frame_sample" -> { (s, d) =>
      val F = 32
      val stride = 4
      Tables.documents(s, d)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .withColumn("n_frames", expr(s"length(payload) div $F"))
        .filter(col("n_frames") >= 1)
        .select(col("doc_id"), col("payload"),
          explode(sequence(lit(0L), col("n_frames") - 1, lit(stride.toLong))).as("frame_idx"))
        .select(col("doc_id"), col("frame_idx"),
          graft.functions.CleanFunctions.md5Hash64(
            expr(s"substring(payload, cast(frame_idx * $F + 1 as int), $F)")).as("frame_hash"))
        .orderBy("doc_id", "frame_idx")
    },

    // Per-frame FEATURE EXTRACTION stub: frame "energy" = sum of the
    // frame's 32 code units — the plumbing of an audio RMS / image
    // intensity feature (swap the codepoint sum for a real codec call;
    // sampling, slicing, per-frame schema all stay). Unrolled 32-term
    // codepoint sum keeps the arithmetic identical in DuckDB.
    "mm_frame_energy" -> { (s, d) =>
      val F = 32
      val stride = 4
      val energy = (1 to F).map(i =>
        expr(s"ascii(substring(text, cast(frame_idx * $F + $i as int), 1))").cast("long"))
        .reduce(_ + _)
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
        .withColumn("n_frames", expr(s"length(text) div $F"))
        .filter(col("n_frames") >= 1)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0L), col("n_frames") - 1, lit(stride.toLong))).as("frame_idx"))
        .select(col("doc_id"), col("frame_idx"), energy.as("energy"))
        .orderBy("doc_id", "frame_idx")
    },

    // Scene-cut detection over the sampled frame stream: a cut is a
    // frame whose |energy − prev| exceeds 2× the video's own mean
    // inter-frame delta — the adaptive-threshold shot-boundary
    // heuristic every video-curation pipeline runs before clip
    // extraction (a fixed threshold can't serve both static slides and
    // action footage). Composes the mm_frame_energy stub decode; delta
    // stream is one keyed lag window, the threshold one grouped
    // exact-DECIMAL mean of INTEGER deltas joined back by doc —
    // corpus-proportional, no cross-video stage.
    "mm_scene_cuts" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DoubleType
      val F = 32
      val stride = 4
      val energy = (1 to F).map(i =>
        expr(s"ascii(substring(text, cast(frame_idx * $F + $i as int), 1))").cast("long"))
        .reduce(_ + _)
      val frames = Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
        .withColumn("n_frames", expr(s"length(text) div $F"))
        .filter(col("n_frames") >= 1)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0L), col("n_frames") - 1, lit(stride.toLong))).as("frame_idx"))
        .select(col("doc_id"), col("frame_idx"), energy.as("energy"))
      val wo = Window.partitionBy("doc_id").orderBy("frame_idx")
      val deltas = frames
        .withColumn("delta", abs(col("energy") - lag(col("energy"), 1).over(wo)))
        .where(col("delta").isNotNull)
      val thresh = deltas.groupBy("doc_id")
        .agg(graft.functions.CleanFunctions.exactMean(col("delta")).as("mean_delta"))
      deltas.join(thresh, "doc_id")
        .where(col("delta").cast(DoubleType) > lit(2.0) * col("mean_delta"))
        .select(col("doc_id"), col("frame_idx"), col("delta"),
          graft.functions.CleanFunctions.round4(col("delta").cast(DoubleType) /
            nullif(col("mean_delta"), lit(0.0))).as("jump_ratio"))
        .orderBy("doc_id", "frame_idx")
    },

    // Training-shard manifest: FIRST-FIT pack media blobs into 64 KiB
    // shard files, in deterministic md5 order across 4 independent
    // packing streams — a blob that doesn't fit the current shard's
    // remainder starts a new shard, so no blob ever straddles a file
    // boundary and every (shard_file, byte_offset, n_bytes) triple is a
    // valid single-file read. The skip decision is state, so this is a
    // keyed LayoutOps.packFirstFit fold with a recursive-CTE exact
    // oracle (fifth recursive operator).
    "mm_shard_manifest" -> { (s, d) =>
      import org.apache.spark.sql.types.LongType
      val h = graft.functions.CleanFunctions.md5Hash64(concat(lit("shard:"), col("doc_id")))
      val blobs = Tables.documents(s, d)
        .select(col("doc_id"), h.as("h"), (h % 4L).as("stream"),
          length(col("text").cast("binary")).cast(LongType).as("n_bytes"))
      graft.operators.LayoutOps.packFirstFit(
          blobs, Seq("stream"), Seq("h", "doc_id"), "n_bytes", 65536L)
        .select("doc_id", "stream", "shard_file", "byte_offset", "n_bytes")
        .orderBy("doc_id")
    },

    // Resize/thumbnail stub: deterministic byte-level downsample (first
    // 256 bytes) + recomputed dimensions. Swap the slice for a real
    // scaler; schema and per-row transform shape stay identical.
    "mm_thumbnail" -> { (s, d) =>
      val h = graft.functions.CleanFunctions.md5Hash64(
        expr("substring(payload, 1, 256)"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .select(col("doc_id"),
          least(length(col("payload")).cast("long"), lit(256L)).as("thumb_bytes"),
          (h % 192).as("thumb_w"), (h % 108).as("thumb_h"))
        .orderBy("doc_id")
    },

    // Perceptual-hash media dedup (the pHash/videohash pattern): a
    // 60-bit content signature per media blob by majority-voting the
    // frame-hash bits (SimHash over FRAMES instead of tokens — the
    // single-pass codegen'd expression), then the same 6x10-bit banded
    // equi-join as text simhash for candidates, exact hamming <= 5
    // verify. Only "a frame is 32 bytes" is stubbed; signature,
    // banding, and the no-O(n^2) candidate join are the production
    // media-dedup shape. Oracle = all-pairs scan (banding is
    // recall-complete by pigeonhole at this threshold).
    "mm_phash_dedup" -> { (s, d) =>
      import org.apache.spark.sql.types.LongType
      val F = 32
      val frames = expr(
        s"transform(sequence(0, length(text) div $F - 1), " +
          s"i -> substring(text, cast(i * $F + 1 as int), $F))")
      val sigs = Tables.documents(s, d)
        .filter(length(col("text")) >= F)
        .select(col("doc_id"),
          graft.functions.TextFunctions.simhash60(frames).as("sig"))
      val CD = graft.operators.CorpusDedup
      CD.simhashPairs(CD.simhashBands(sigs, "doc_id"), "doc_id", CD.SimhashMaxHamming)
        .select(col("x").as("doc_id_a"), col("y").as("doc_id_b"), col("hd").cast(LongType).as("hamming"))
        .orderBy("doc_id_a", "doc_id_b")
    },

    // Aspect-ratio bucketing for batch packing: multimodal training
    // batches must group media of similar shape (resize-to-common-size
    // wastes pixels across aspect ratios), so the pipeline buckets each
    // decoded item by width/(height+1) and sizes per-bucket batch counts
    // (batch=32). Decode is the shared md5 stub; the bucketing/packing
    // arithmetic is the real operator. One shuffle on (media_type,
    // bucket) with map-side partial aggregation; integer batch math
    // ((n+31) div 32 — no float ceil) keeps parity exact.
    "mm_aspect_buckets" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.types.{DoubleType, LongType}
      val rows = Tables.documents(s, d)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, "image")
            .when(col("doc_id") % 3 === 1, "audio")
            .otherwise("video").as("media_type"),
          col("text").cast("binary").as("payload"))
        .as[MediaRow]
      val stats = rows.mapPartitions(_.map(decodeStub)).toDF()
      val r = col("width").cast(DoubleType) / (col("height").cast(DoubleType) + 1.0)
      stats
        .select(col("media_type"), col("n_bytes"),
          when(r < 0.5, "tall").when(r < 0.9, "portrait")
            .when(r < 1.2, "square").when(r < 2.0, "landscape")
            .otherwise("wide").as("bucket"))
        .groupBy("media_type", "bucket")
        .agg(count(lit(1)).as("n"), sum(col("n_bytes")).as("total_bytes"))
        .select(col("media_type"), col("bucket"), col("n"), col("total_bytes"),
          expr("(n + 31) div 32").cast(LongType).as("n_batches"))
        .orderBy("media_type", "bucket")
    },

    // CLIP-style contrastive-pair construction: each media row pairs its
    // own caption (positive) with a DETERMINISTIC negative — the next
    // doc's caption in seeded-hash order within the same (media_type,
    // hash-bucket), wrapping at the bucket end. Hash-bucketing (not a
    // bare media_type window) keeps every window partition bounded at
    // corpus/(types × MmNegBuckets) rows — the r9 coarse-key-window rule;
    // MmNegBuckets scales with the corpus in production. A singleton
    // bucket degenerates to self-pairing, which is emitted FLAGGED (a
    // dropped row would silently shrink the training set; the flag is
    // the observable). Deterministic: same corpus → same pairs, the
    // exactly-once property a rand() negative sampler cannot give.
    "mm_contrastive_pairs" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.LongType
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, "image")
            .when(col("doc_id") % 3 === 1, "audio")
            .otherwise("video").as("media_type"),
          size(graft.functions.TextFunctions.tokens(lower(col("text"))))
            .cast(LongType).as("n_tokens"),
          graft.functions.CleanFunctions.md5Hash64(
            concat(lit("neg:"), col("doc_id"))).as("h"))
        .withColumn("bucket", pmod(col("h"), lit(MmNegBuckets)))
      val w = Window.partitionBy("media_type", "bucket").orderBy("h", "doc_id")
      val paired = docs
        .withColumn("neg_doc_id",
          coalesce(lead(col("doc_id"), 1).over(w), first(col("doc_id")).over(w)))
        .withColumn("neg_n_tokens",
          coalesce(lead(col("n_tokens"), 1).over(w), first(col("n_tokens")).over(w)))
      paired.select(col("doc_id"), col("media_type"), col("bucket"),
          col("n_tokens").as("pos_tokens"),
          col("neg_doc_id"), col("neg_n_tokens"),
          (col("neg_doc_id") === col("doc_id")).cast(LongType).as("degenerate"))
        .orderBy("doc_id")
    }
  )

  /** Negative-sampling hash buckets per media type — bounds each pairing
    * window at corpus/(types × buckets) rows; production scales this
    * with the corpus.
    */
  private val MmNegBuckets = 32L

  val oracleSql: Map[String, String] = Map(
    "mm_contrastive_pairs" -> {
      val h = graft.functions.CleanFunctions.md5Hash64Sql("'neg:' || doc_id")
      val tl = graft.functions.TextFunctions.tokensSql("lower(text)")
      s"""WITH dd AS (SELECT doc_id,
         |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
         |  CAST(len($tl) AS BIGINT) AS n_tokens, $h AS h
         |  FROM documents),
         |db AS (SELECT *, h % $MmNegBuckets AS bucket FROM dd),
         |pw AS (SELECT doc_id, media_type, bucket, n_tokens,
         |  coalesce(lead(doc_id, 1) OVER w, first_value(doc_id) OVER w) AS neg_doc_id,
         |  coalesce(lead(n_tokens, 1) OVER w, first_value(n_tokens) OVER w) AS neg_n_tokens
         |  FROM db WINDOW w AS (PARTITION BY media_type, bucket ORDER BY h, doc_id))
         |SELECT doc_id, media_type, bucket, n_tokens AS pos_tokens,
         |  neg_doc_id, neg_n_tokens,
         |  CAST(neg_doc_id = doc_id AS BIGINT) AS degenerate
         |FROM pw ORDER BY doc_id""".stripMargin
    },

    "mm_binary_stats" -> {
      val h = graft.functions.CleanFunctions.md5Hash64Sql("text")
      s"""SELECT doc_id,
         |CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
         |CAST(strlen(text) AS BIGINT) AS n_bytes,
         |$h % 1920 AS width, $h % 1080 AS height, $h AS checksum
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "mm_frame_sample" -> {
      val fh = graft.functions.CleanFunctions
        .md5Hash64Sql("substring(text, CAST(frame_idx * 32 + 1 AS BIGINT), 32)")
      s"""WITH d AS (SELECT doc_id, text, strlen(text) // 32 AS n_frames
         |  FROM documents WHERE strlen(text) // 32 >= 1),
         |f AS (SELECT doc_id, text,
         |  unnest(generate_series(0, CAST(n_frames - 1 AS BIGINT), 4)) AS frame_idx FROM d)
         |SELECT doc_id, frame_idx, $fh AS frame_hash
         |FROM f ORDER BY doc_id, frame_idx""".stripMargin
    },

    "mm_frame_energy" -> {
      val energy = (1 to 32).map(i =>
        s"CAST(ascii(substr(text, CAST(frame_idx * 32 + $i AS BIGINT), 1)) AS BIGINT)")
        .mkString(" + ")
      s"""WITH d AS (SELECT doc_id, text, length(text) // 32 AS n_frames
         |  FROM documents WHERE length(text) // 32 >= 1),
         |f AS (SELECT doc_id, text,
         |  unnest(generate_series(0, CAST(n_frames - 1 AS BIGINT), 4)) AS frame_idx FROM d)
         |SELECT doc_id, frame_idx, $energy AS energy
         |FROM f ORDER BY doc_id, frame_idx""".stripMargin
    },

    "mm_scene_cuts" -> {
      val energy = (1 to 32).map(i =>
        s"CAST(ascii(substr(text, CAST(frame_idx * 32 + $i AS BIGINT), 1)) AS BIGINT)")
        .mkString(" + ")
      val r4 = graft.functions.CleanFunctions.round4Sql _
      val em = graft.functions.CleanFunctions.exactMeanSql("delta")
      s"""WITH d AS (SELECT doc_id, text, length(text) // 32 AS n_frames
         |  FROM documents WHERE length(text) // 32 >= 1),
         |f AS (SELECT doc_id, text,
         |  unnest(generate_series(0, CAST(n_frames - 1 AS BIGINT), 4)) AS frame_idx FROM d),
         |e AS (SELECT doc_id, frame_idx, $energy AS energy FROM f),
         |dl AS (SELECT doc_id, frame_idx,
         |  abs(energy - lag(energy) OVER (PARTITION BY doc_id ORDER BY frame_idx)) AS delta
         |  FROM e),
         |dd AS (SELECT doc_id, frame_idx, delta FROM dl WHERE delta IS NOT NULL),
         |th AS (SELECT doc_id, $em AS mean_delta FROM dd GROUP BY 1)
         |SELECT dd.doc_id, frame_idx, delta,
         |  ${r4("CAST(delta AS DOUBLE) / nullif(mean_delta, 0.0)")} AS jump_ratio
         |FROM dd JOIN th ON dd.doc_id = th.doc_id
         |WHERE CAST(delta AS DOUBLE) > 2.0 * mean_delta
         |ORDER BY dd.doc_id, frame_idx""".stripMargin
    },

    "mm_shard_manifest" -> {
      val h = graft.functions.CleanFunctions.md5Hash64Sql("'shard:' || doc_id")
      // Replays the first-fit fold exactly: carry (shard_file, free) per
      // stream; roll to a new shard when the blob doesn't fit.
      s"""WITH RECURSIVE t AS (SELECT doc_id, $h AS h, $h % 4 AS stream,
         |  CAST(strlen(text) AS BIGINT) AS n_bytes
         |  FROM documents),
         |v AS (SELECT doc_id, stream, n_bytes,
         |  row_number() OVER (PARTITION BY stream ORDER BY h, doc_id) AS rn
         |  FROM t),
         |p AS (
         |  SELECT doc_id, stream, n_bytes, rn,
         |    CAST(0 AS BIGINT) AS shard_file, CAST(0 AS BIGINT) AS byte_offset,
         |    n_bytes AS free
         |  FROM v WHERE rn = 1
         |  UNION ALL
         |  SELECT v.doc_id, v.stream, v.n_bytes, v.rn,
         |    CASE WHEN p.free > 0 AND p.free + v.n_bytes > 65536
         |         THEN p.shard_file + 1 ELSE p.shard_file END,
         |    CASE WHEN p.free > 0 AND p.free + v.n_bytes > 65536
         |         THEN 0 ELSE p.free END,
         |    CASE WHEN p.free > 0 AND p.free + v.n_bytes > 65536
         |         THEN v.n_bytes ELSE p.free + v.n_bytes END
         |  FROM p JOIN v ON v.stream = p.stream AND v.rn = p.rn + 1)
         |SELECT doc_id, stream, shard_file, byte_offset, n_bytes
         |FROM p ORDER BY doc_id""".stripMargin
    },

    "mm_thumbnail" -> {
      val h = graft.functions.CleanFunctions.md5Hash64Sql("substring(text, 1, 256)")
      s"""SELECT doc_id,
         |least(CAST(strlen(text) AS BIGINT), 256) AS thumb_bytes,
         |$h % 192 AS thumb_w, $h % 108 AS thumb_h
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "mm_phash_dedup" -> {
      val h = graft.functions.CleanFunctions.md5Hash64Sql("t")
      s"""WITH fr AS (SELECT doc_id,
         |  list_transform(generate_series(0, strlen(text) // 32 - 1),
         |    i -> substring(text, CAST(i * 32 + 1 AS INT), 32)) AS frames
         |  FROM documents WHERE strlen(text) >= 32),
         |tok AS (SELECT doc_id, unnest(frames) AS t FROM fr),
         |h AS (SELECT doc_id, $h AS h FROM tok),
         |v AS (SELECT doc_id, i, sum(((h >> i) & 1) * 2 - 1) AS vote
         |  FROM h, (SELECT unnest(generate_series(0, 59)) AS i) GROUP BY doc_id, i),
         |sim AS (SELECT doc_id, sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS sig
         |  FROM v GROUP BY doc_id)
         |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 5
         |ORDER BY doc_id_a, doc_id_b""".stripMargin
    },

    "mm_aspect_buckets" -> {
      val h = graft.functions.CleanFunctions.md5Hash64Sql("text")
      s"""WITH st AS (SELECT doc_id,
         |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
         |  CAST(strlen(text) AS BIGINT) AS n_bytes,
         |  CAST($h % 1920 AS DOUBLE) / (CAST($h % 1080 AS DOUBLE) + 1.0) AS r
         |  FROM documents),
         |bk AS (SELECT media_type, n_bytes,
         |  CASE WHEN r < 0.5 THEN 'tall' WHEN r < 0.9 THEN 'portrait'
         |       WHEN r < 1.2 THEN 'square' WHEN r < 2.0 THEN 'landscape'
         |       ELSE 'wide' END AS bucket
         |  FROM st)
         |SELECT media_type, bucket, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
         |  (count(*) + 31) // 32 AS n_batches
         |FROM bk GROUP BY media_type, bucket
         |ORDER BY media_type, bucket""".stripMargin
    }
  )
}
