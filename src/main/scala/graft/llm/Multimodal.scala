package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables
import TextAnalysis.{h60, h60Sql}

/** Multimodal-column plumbing: media payloads are opaque BINARY
  * columns with typed metadata structs travelling beside them. Since
  * no image/audio codecs exist in this environment, the decode step is
  * a DETERMINISTIC FAKE (clearly marked below) — the Spark-side
  * contract (schema, partition behavior) is real and tested, and is
  * what a production decode-UDF would plug into.
  *
  * Scale notes: payload bytes stay columnar (parquet BINARY) and are
  * never collected; decode is a narrow per-row projection; frame
  * sampling is a generator (explode of a bounded sequence), so output
  * size is O(input * sample_rate) with no shuffle before the sink.
  */
object Multimodal {

  // --------------------------------------------------------------------
  // llm_mm_metadata: binary payload + metadata extraction. The payload
  // is the utf-8 bytes of documents.text standing in for an encoded
  // image; "decode" derives deterministic fake dimensions from the
  // 60-bit content hash (a real pipeline decodes the header instead —
  // same plan shape: narrow per-row projection over a BINARY column).
  def mmMetadata(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", encode($"text", "utf-8").as("payload"), $"text")
      .select(
        $"doc_id",
        octet_length($"payload").as("n_bytes"),
        sha2($"payload", 256).as("sha256"),
        // -- deterministic FAKE decode (no codecs in env) --
        (h60($"text") % 1600 + 320).as("width"),
        (h60($"text") % 840 + 240).as("height"),
        (h60($"text") % 3 + 1).as("channels"),
        element_at(array(lit("jpeg"), lit("png"), lit("webp")),
          (h60($"text") % 3 + 1).cast("int")).as("format"))
      .orderBy($"doc_id")
  }

  val mmMetadataSql: String =
    s"""WITH t AS (SELECT doc_id, encode(text) AS payload, text FROM documents)
       |SELECT doc_id,
       |  CAST(octet_length(payload) AS INT) AS n_bytes,
       |  sha256(text) AS sha256,
       |  ${h60Sql("text")} % 1600 + 320 AS width,
       |  ${h60Sql("text")} % 840 + 240 AS height,
       |  ${h60Sql("text")} % 3 + 1 AS channels,
       |  (['jpeg', 'png', 'webp'])[CAST(${h60Sql("text")} % 3 + 1 AS INT)] AS format
       |FROM t ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // llm_mm_dedup: exact BINARY-payload dedup — group on the payload's
  // sha256, canonical = min doc_id, reporting copies and the bytes
  // deletion would reclaim. The multimodal mirror of llm_dd_exact:
  // image/audio corpora dedup on content digest before any decode
  // (the digest is computed scan-side; raw bytes never shuffle — only
  // the 32-byte hash does, which is the point at 100 TB of media).
  def mmDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", encode($"text", "utf-8").as("payload"))
      .select($"doc_id", sha2($"payload", 256).as("sha256"),
        octet_length($"payload").cast("long").as("n_bytes"))
      .groupBy($"sha256")
      .agg(min($"doc_id").as("canonical_doc"),
        count(lit(1)).as("n_copies"),
        max($"n_bytes").as("payload_bytes"),
        (max($"n_bytes") * (count(lit(1)) - 1)).as("reclaimable_bytes"))
      .orderBy($"canonical_doc")
  }

  val mmDedupSql: String =
    """WITH t AS (SELECT doc_id, sha256(text) AS sha256,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      |  FROM documents)
      |SELECT sha256, MIN(doc_id) AS canonical_doc, COUNT(*) AS n_copies,
      |  MAX(n_bytes) AS payload_bytes,
      |  CAST(MAX(n_bytes) * (COUNT(*) - 1) AS BIGINT) AS reclaimable_bytes
      |FROM t GROUP BY sha256 ORDER BY canonical_doc""".stripMargin

  // --------------------------------------------------------------------
  // llm_mm_frames: frame sampling — a video of n_frames =
  // min(n_chars/10 + 1, 50) frames sampled every 5th frame; per-frame
  // "feature" is a deterministic fake (hash of doc:frame). The
  // generator (explode of sequence) is the UDTF surface; output is
  // bounded per row.
  def mmFrames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id",
        least(expr("n_chars div 10") + 1, lit(50L)).cast("long").as("n_frames"))
      .select($"doc_id", $"n_frames",
        explode(sequence(lit(0L), $"n_frames" - 1)).as("frame_idx"))
      .filter($"frame_idx" % 5 === 0)
      .select($"doc_id", $"n_frames", $"frame_idx",
        (h60(concat($"doc_id".cast("string"), lit(":"),
          $"frame_idx".cast("string"))) % 1000).as("frame_feature"))
      .orderBy($"doc_id", $"frame_idx")
  }

  val mmFramesSql: String =
    s"""WITH t AS (SELECT doc_id, LEAST(n_chars // 10 + 1, 50) AS n_frames FROM documents),
       |f AS (SELECT doc_id, n_frames, unnest(range(0, n_frames)) AS frame_idx FROM t)
       |SELECT doc_id, n_frames, frame_idx,
       |  ${h60Sql("doc_id || ':' || frame_idx")} % 1000 AS frame_feature
       |FROM f WHERE frame_idx % 5 = 0 ORDER BY doc_id, frame_idx""".stripMargin

  // --------------------------------------------------------------------
  // llm_mm_resize: the resize/preprocess stage — aspect-preserving fit
  // of each (fake-)decoded image into a 256px box, plus the
  // crop-to-multiple-of-16 most vision models require. All arithmetic
  // is IEEE double ops on identical inputs, so the oracle is exact;
  // integers come via floor(x + 0.5) because Spark truncates
  // double→long casts while DuckDB rounds them. Narrow per-row work —
  // at scale this is the same shape as a real resize: metadata math in
  // the plan, pixel work in the partition-local decoder.
  def mmResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id",
        (h60($"text") % 1600 + 320).as("width"),
        (h60($"text") % 840 + 240).as("height"))
      .withColumn("scale",
        when(greatest($"width", $"height") > 256,
          lit(256.0) / greatest($"width", $"height")).otherwise(lit(1.0)))
      .withColumn("new_w",
        floor($"width" * $"scale" + 0.5).cast("long"))
      .withColumn("new_h",
        floor($"height" * $"scale" + 0.5).cast("long"))
      .select($"doc_id", $"width", $"height",
        round($"scale", 6).as("scale"), $"new_w", $"new_h",
        greatest($"new_w" - $"new_w" % 16, lit(16L)).as("crop16_w"),
        greatest($"new_h" - $"new_h" % 16, lit(16L)).as("crop16_h"))
      .orderBy($"doc_id")
  }

  val mmResizeSql: String =
    s"""WITH t AS (SELECT doc_id,
       |    ${h60Sql("text")} % 1600 + 320 AS width,
       |    ${h60Sql("text")} % 840 + 240 AS height
       |  FROM documents),
       |s AS (SELECT *, CASE WHEN GREATEST(width, height) > 256
       |    THEN 256.0 / GREATEST(width, height) ELSE 1.0 END AS scale FROM t),
       |r AS (SELECT *,
       |    CAST(FLOOR(width * scale + 0.5) AS BIGINT) AS new_w,
       |    CAST(FLOOR(height * scale + 0.5) AS BIGINT) AS new_h
       |  FROM s)
       |SELECT doc_id, width, height, ROUND(scale, 6) AS scale, new_w, new_h,
       |  GREATEST(new_w - new_w % 16, 16) AS crop16_w,
       |  GREATEST(new_h - new_h % 16, 16) AS crop16_h
       |FROM r ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // llm_mm_audio: audio segmentation — interpret the payload as 16 kHz
  // mono PCM16 (n_samples = bytes/2) and cut the timeline into
  // 1000 ms windows, keeping the trailing partial window. The
  // time-axis counterpart of the video frame sampler: all arithmetic
  // is integer math on lengths (the per-segment DSP lives in the
  // partition-local decoder at production), so the oracle is exact and
  // the plan is a narrow scan + bounded generator, zero shuffles.
  def mmAudio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id",
        (octet_length(encode($"text", "utf-8")).cast("long") / 2)
          .cast("long").as("n_samples"))
      .select($"doc_id", $"n_samples",
        expr("n_samples div 16").as("duration_ms"))
      .withColumn("n_seg", expr("(duration_ms + 999) div 1000"))
      .filter($"n_seg" >= 1)
      .select($"doc_id", $"n_samples", $"duration_ms",
        explode(sequence(lit(0L), $"n_seg" - 1)).as("seg"))
      .select($"doc_id", $"seg",
        ($"seg" * 1000).as("start_ms"),
        least(($"seg" + 1) * 1000, $"duration_ms").as("end_ms"))
      .withColumn("n_seg_samples", ($"end_ms" - $"start_ms") * 16)
      .orderBy($"doc_id", $"seg")
  }

  val mmAudioSql: String =
    """WITH t AS (SELECT doc_id,
      |    CAST(octet_length(encode(text)) // 2 AS BIGINT) AS n_samples
      |  FROM documents),
      |d AS (SELECT doc_id, n_samples, n_samples // 16 AS duration_ms,
      |    (n_samples // 16 + 999) // 1000 AS n_seg FROM t),
      |s AS (SELECT doc_id, duration_ms, unnest(range(0, n_seg)) AS seg
      |  FROM d WHERE n_seg >= 1)
      |SELECT doc_id, seg,
      |  seg * 1000 AS start_ms,
      |  LEAST((seg + 1) * 1000, duration_ms) AS end_ms,
      |  (LEAST((seg + 1) * 1000, duration_ms) - seg * 1000) * 16 AS n_seg_samples
      |FROM s ORDER BY doc_id, seg""".stripMargin

  // --------------------------------------------------------------------
  // llm_mm_clip_filter: cross-modal alignment filtering — the
  // LAION-style "CLIP score" gate: each document is scored by the
  // cosine between ITS embedding (documents ⋈ embeddings on doc_id =
  // vec_id — the alignment join of a paired text/image corpus) and a
  // query/prompt embedding; rows below τ = 0.1 are flagged for
  // removal. The prompt vector here is the deterministic elementwise
  // DECIMAL mean of vectors 0..3 (a real pipeline ships the encoded
  // text prompt; the plan is identical — ONE broadcast vector).
  //
  // Scale shape: the alignment join is an equi-join on the id (both
  // sides co-partitionable; at production both tables are bucketed on
  // the id and the join is shuffle-free); the prompt is a 1-row
  // broadcast; scoring is a narrow codegen vec_dot projection. No
  // corpus shuffle beyond the alignment join itself.
  def mmClipFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val prompt = e.filter($"vec_id" < 4)
      .select(posexplode($"v").as(Seq("pos", "val")))
      .groupBy($"pos")
      .agg((sum($"val".cast("decimal(28,12)")).cast("double")
        / count(lit(1))).as("m"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)")
        .as("pv"))
      .select($"pv", expr("sqrt(vec_dot(pv, pv))").as("pnrm"))
    Tables.documents(spark, dir)
      .select($"doc_id", $"lang")
      .join(e, $"doc_id" === $"vec_id")
      .crossJoin(broadcast(prompt))
      .select($"doc_id", $"lang",
        expr("round(vec_dot(v, pv) / (sqrt(vec_dot(v, v)) * pnrm), 6)")
          .as("clip_score"))
      .select($"doc_id", $"lang", $"clip_score",
        ($"clip_score" >= 0.1).as("kept"))
      .orderBy($"doc_id")
  }

  val mmClipFilterSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
      |  FROM embeddings),
      |ex AS (SELECT unnest(list_transform(range(0, len(v)),
      |    i -> {'pos': i, 'val': v[i+1]}), recursive := true)
      |  FROM e WHERE vec_id < 4),
      |pm AS (SELECT pos,
      |    CAST(SUM(CAST(val AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
      |  FROM ex GROUP BY pos),
      |p AS (SELECT list(m ORDER BY pos) AS pv FROM pm),
      |pn AS (SELECT pv, sqrt(list_dot_product(pv, pv)) AS pnrm FROM p),
      |sc AS (SELECT d.doc_id, d.lang,
      |    ROUND(list_dot_product(e.v, pv)
      |      / (sqrt(list_dot_product(e.v, e.v)) * pnrm), 6) AS clip_score
      |  FROM documents d JOIN e ON d.doc_id = e.vec_id CROSS JOIN pn)
      |SELECT doc_id, lang, clip_score, clip_score >= 0.1 AS kept
      |FROM sc ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // llm_mm_chunk_dedup: chunk-level payload fingerprinting — the media
  // counterpart of llm_dd_paragraphs, and the fixed-block form of the
  // content-defined-chunking dedup storage systems run on binary
  // streams: per payload, the count and ratio of 256-unit blocks whose
  // fingerprint occurs more than once corpus-wide. Whole-payload
  // digests (llm_mm_dedup) miss an appended watermark or truncated
  // tail; block fingerprints catch the shared prefix/middle. Chunk
  // unit rides the repo's fake-decode convention (payload = utf8(text),
  // so blocks are 256 chars); real media swaps in byte blocks over the
  // binary column, same plan.
  //
  // Scale shape: only (doc_id, 16-byte md5) rows ever shuffle — never
  // payload bytes; block frequency is one partial-aggregable groupBy
  // on the fingerprint; the join back is an equi-join on the same key.
  // An empty payload gets one empty-block fingerprint (greatest(n,1))
  // — Spark's sequence(0,-1) would otherwise DESCEND, not empty out.
  def mmChunkDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ch = Tables.documents(spark, dir)
      .select($"doc_id", $"text")
      .select($"doc_id", explode(expr(
        "sequence(0, greatest(cast(ceil(length(text) / 256.0) as int), 1) - 1)"))
        .as("ci"), $"text")
      .select($"doc_id",
        expr("md5(substring(text, ci * 256 + 1, 256))").as("fp"))
    val freq = ch.groupBy($"fp").agg(count(lit(1)).as("n_occ"))
    ch.join(freq, "fp")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when($"n_occ" > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .select($"doc_id", $"n_chunks", $"n_dup_chunks",
        round($"n_dup_chunks".cast("double") / $"n_chunks", 6)
          .as("dup_chunk_ratio"))
      .orderBy($"doc_id")
  }

  val mmChunkDedupSql: String =
    """WITH ch AS (SELECT doc_id,
      |    unnest(range(0, greatest(CAST(ceil(length(text) / 256.0) AS INT),
      |      1))) AS ci, text
      |  FROM documents),
      |fp AS (SELECT doc_id, md5(substring(text, ci * 256 + 1, 256)) AS fp
      |  FROM ch),
      |fr AS (SELECT fp, COUNT(*) AS n_occ FROM fp GROUP BY fp)
      |SELECT f.doc_id, COUNT(*) AS n_chunks,
      |  CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup_chunks,
      |  ROUND(CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*), 6) AS dup_chunk_ratio
      |FROM fp f JOIN fr USING (fp)
      |GROUP BY f.doc_id ORDER BY f.doc_id""".stripMargin

  // --------------------------------------------------------------------
  // llm_mm_byte_stats: payload unit-diversity screening — over the
  // first 256 payload UNITS, the distinct-unit ratio and the
  // adjacent-repeat ratio (run-length compressibility proxy). A
  // constant or zero-padded payload (truncated download, corrupt
  // decode) collapses to distinct_ratio ≈ 0 / repeat_ratio ≈ 1 and is
  // flagged, without decoding anything. The prefix cap bounds per-row
  // work at any payload size.
  //
  // Unit semantics: the fixture carries payloads in a STRING column,
  // so `substring` slices CHARACTERS (codepoints) and the ratios here
  // are character-diversity — on a multi-byte corpus that is NOT the
  // same number as byte-diversity (one repeated 3-byte codepoint is 1
  // distinct unit here, 3 distinct bytes raw). A production variant
  // over a parquet BINARY payload column swaps `substring(text,...)`
  // for byte slicing on the binary prefix and gets true byte ratios
  // from the identical plan shape; the screening decision (constant /
  // padded payloads collapse to the degenerate corner) is the same
  // under either unit.
  //
  // Scale shape: pure narrow projection (higher-order array exprs,
  // all codegen) — zero shuffles, composes with partition pruning.
  private val BytePrefix = 256

  def mmByteStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", substring($"text", 1, BytePrefix).as("prefix"))
      .select($"doc_id",
        length($"prefix").as("prefix_len"),
        // guard: Spark's sequence(1, 0) is DESCENDING [1, 0], not
        // empty — an empty (fully-truncated) payload would otherwise
        // score n_distinct 1 and a 1/0 ratio instead of the defined
        // zeros (and an empty payload is exactly what this screen
        // exists to flag)
        when(length($"prefix") < 1, lit(0)).otherwise(
          expr(s"size(array_distinct(transform(sequence(1, length(prefix)), " +
            "i -> substring(prefix, i, 1))))")).as("n_distinct"),
        when(length($"prefix") < 2, lit(0)).otherwise(
          expr("size(filter(sequence(2, length(prefix)), " +
            "i -> substring(prefix, i, 1) = substring(prefix, i - 1, 1)))"))
          .as("n_repeats"))
      .select($"doc_id", $"prefix_len", $"n_distinct", $"n_repeats",
        when($"prefix_len" < 1, lit(0.0)).otherwise(
          round($"n_distinct".cast("double") / $"prefix_len", 6))
          .as("distinct_ratio"),
        when($"prefix_len" < 2, lit(0.0)).otherwise(
          round($"n_repeats".cast("double") / ($"prefix_len" - 1), 6))
          .as("repeat_ratio"))
      .withColumn("flag_low_diversity", $"distinct_ratio" < 0.05)
      .orderBy($"doc_id")
  }

  val mmByteStatsSql: String =
    s"""WITH p AS (SELECT doc_id, substr(text, 1, $BytePrefix) AS prefix
       |  FROM documents),
       |m AS (SELECT doc_id,
       |  CAST(length(prefix) AS INT) AS prefix_len,
       |  CASE WHEN length(prefix) < 1 THEN 0
       |    ELSE CAST(len(list_distinct(list_transform(
       |      range(1, length(prefix) + 1),
       |      i -> substr(prefix, i, 1)))) AS INT) END AS n_distinct,
       |  CASE WHEN length(prefix) < 2 THEN 0
       |    ELSE CAST(len(list_filter(range(2, length(prefix) + 1),
       |      i -> substr(prefix, i, 1) = substr(prefix, i - 1, 1))) AS INT)
       |    END AS n_repeats
       |FROM p)
       |SELECT doc_id, prefix_len, n_distinct, n_repeats,
       |  CASE WHEN prefix_len < 1 THEN 0.0
       |    ELSE ROUND(CAST(n_distinct AS DOUBLE) / prefix_len, 6) END
       |    AS distinct_ratio,
       |  CASE WHEN prefix_len < 2 THEN 0.0
       |    ELSE ROUND(CAST(n_repeats AS DOUBLE) / (prefix_len - 1), 6) END
       |    AS repeat_ratio,
       |  CASE WHEN prefix_len < 1 THEN 0.0
       |    ELSE ROUND(CAST(n_distinct AS DOUBLE) / prefix_len, 6) END < 0.05
       |    AS flag_low_diversity
       |FROM m ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // llm_mm_aspect_buckets: aspect-ratio bucketing for image training —
  // group images by nearest canonical aspect ratio (1:1, 4:3, 3:4,
  // 16:9, 9:16) so batches contain same-shape images (resize-free
  // batching, the standard diffusion/VLM data-loader prep), and report
  // per-bucket batch counts at batch_size=32. Nearest = min |aspect −
  // ratio| with first-match-wins in the fixed order above (the
  // taLangId argmax pattern — identical CASE chain in both engines).
  // Scale shape: a narrow per-row projection (the same fake-decode
  // h60 dims as mmMetadata) into a 5-group aggregate — partial-
  // aggregable, no shuffle beyond the 5-row exchange; min/max are
  // order-independent so no DECIMAL routing is needed.
  def mmAspectBuckets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ratios = Seq(
      "1:1" -> lit(1.0), "4:3" -> lit(4.0 / 3.0), "3:4" -> lit(0.75),
      "16:9" -> lit(16.0 / 9.0), "9:16" -> lit(0.5625))
    val m = Tables.documents(spark, dir)
      .select($"doc_id",
        (h60($"text") % 1600 + 320).as("width"),
        (h60($"text") % 840 + 240).as("height"))
      .withColumn("aspect",
        $"width".cast("double") / $"height")
    val dists = ratios.map { case (_, r) => abs($"aspect" - r) }
    val best = dists.reduce(least(_, _))
    val bucket = ratios.zip(dists).reverse
      .foldLeft(lit(null).cast("string")) { case (acc, ((name, _), d)) =>
        when(d === best, lit(name)).otherwise(acc)
      }
    m.withColumn("bucket", bucket)
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_images"),
        round(min($"aspect"), 6).as("min_aspect"),
        round(max($"aspect"), 6).as("max_aspect"))
      .withColumn("n_batches", (($"n_images" + 31) / 32).cast("long"))
      .select($"bucket", $"n_images", $"n_batches",
        $"min_aspect", $"max_aspect")
      .orderBy($"bucket")
  }

  val mmAspectBucketsSql: String = {
    val rs = Seq("1:1" -> "1.0", "4:3" -> "(4.0 / 3.0)", "3:4" -> "0.75",
      "16:9" -> "(16.0 / 9.0)", "9:16" -> "0.5625")
    val dcols = rs.map { case (_, r) => s"abs(aspect - $r)" }
    val bestE = dcols.mkString("LEAST(", ", ", ")")
    val caseE = rs.zip(dcols).map { case ((n, _), d) =>
      s"WHEN $d = $bestE THEN '$n'" }.mkString("\n    ")
    s"""WITH m AS (SELECT doc_id,
       |    ${h60Sql("text")} % 1600 + 320 AS width,
       |    ${h60Sql("text")} % 840 + 240 AS height
       |  FROM documents),
       |a AS (SELECT doc_id,
       |    CAST(width AS DOUBLE) / height AS aspect FROM m),
       |b AS (SELECT doc_id, aspect,
       |    CASE $caseE END AS bucket
       |  FROM a)
       |SELECT bucket, COUNT(*) AS n_images,
       |  CAST((COUNT(*) + 31) // 32 AS BIGINT) AS n_batches,
       |  ROUND(MIN(aspect), 6) AS min_aspect,
       |  ROUND(MAX(aspect), 6) AS max_aspect
       |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  // --------------------------------------------------------------------
  // llm_mm_phash: perceptual-hash near-duplicate pairs over the media
  // payload — the image-dedup primitive (pHash/blockhash family): a
  // 60-bit block-mean hash, then Hamming-≤3 pairs via banded buckets.
  // The hash is REAL blockhash structure computed over the payload
  // bytes standing in for decoded pixels: the 240-byte payload prefix
  // splits into 60 4-byte blocks, bit b = (block-b byte sum > mean
  // block sum) — identical arithmetic both engines (integer sums, one
  // double mean compare).
  //
  // Pair generation is the ddSimhashPairs two-level shape: banding
  // (4 bands × 15 bits) runs on DISTINCT hash values — D << N on any
  // corpus with duplicate media — then value pairs expand back to doc
  // pairs via equi-joins, emitting each doc pair exactly once. By
  // pigeonhole, hamming ≤ 3 over 4 bands forces ≥ 1 identical band,
  // so the banded candidate set provably contains every true pair —
  // the oracle can be the brute-force definition while the engine
  // never evaluates O(N²) candidates.
  //
  // Scale shape: one narrow codegen projection computes hashes; the
  // only joins are on the distinct-value table (buckets bounded by
  // value diversity, not corpus size); doc-level expansion is
  // equi-join fan-out proportional to true duplicate mass.
  private val PhashBlocks = 60
  private val PhashBytes = PhashBlocks * 4

  /** (doc_id, phash) — session-cached like dd_simhash: the hash table
    * feeds both join branches and the same-value pair join. */
  private def phashes(spark: SparkSession, dir: String): DataFrame =
    Tables.artifact(spark, dir, "mm_phash") {
      import spark.implicits._
      Tables.documents(spark, dir)
        .select($"doc_id",
          rpad(substring($"text", 1, PhashBytes), PhashBytes, " ")
            .as("pfx"))
        .withColumn("bs",
          expr(s"transform(sequence(0, ${PhashBlocks - 1}), b -> " +
            "ascii(substring(pfx, b*4+1, 1)) + ascii(substring(pfx, b*4+2, 1)) " +
            "+ ascii(substring(pfx, b*4+3, 1)) + ascii(substring(pfx, b*4+4, 1)))"))
        .withColumn("mn",
          expr("aggregate(bs, 0, (a, x) -> a + x)").cast("double")
            / PhashBlocks.toDouble)
        .select($"doc_id",
          expr(s"aggregate(transform(sequence(0, ${PhashBlocks - 1}), " +
            "b -> IF(element_at(bs, b+1) > mn, shiftleft(1L, b), 0L)), " +
            "0L, (a, x) -> a + x)").as("phash"))
    }

  def mmPhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ph = phashes(spark, dir)
    val vbands = ph.select($"phash").distinct()
      .select($"phash", explode(array(
        (0 until 4).map(j => struct(lit(j).as("band"),
          expr(s"(phash div ${1L << (15 * j)}) % 32768").as("key"))): _*))
        .as("bk"))
      .select($"phash", $"bk.band", $"bk.key")
    val vpairs = vbands.as("a").join(vbands.as("b"),
        $"a.band" === $"b.band" && $"a.key" === $"b.key"
          && $"a.phash" < $"b.phash")
      .select($"a.phash".as("va"), $"b.phash".as("vb"),
        expr("bit_count(a.phash ^ b.phash)").as("hamming"))
      .filter($"hamming" <= 3)
      .distinct()
    val cross = vpairs
      .join(ph.as("x"), $"x.phash" === $"va")
      .join(ph.as("y"), $"y.phash" === $"vb")
      .select(least($"x.doc_id", $"y.doc_id").as("doc_a"),
        greatest($"x.doc_id", $"y.doc_id").as("doc_b"), $"hamming")
    val same = ph.as("x").join(ph.as("y"),
        $"x.phash" === $"y.phash" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"),
        lit(0).as("hamming"))
    same.union(cross).orderBy($"hamming", $"doc_a", $"doc_b")
  }

  val mmPhashSql: String =
    s"""WITH p AS (SELECT doc_id,
       |    rpad(substr(text, 1, $PhashBytes), $PhashBytes, ' ') AS pfx
       |  FROM documents),
       |s AS (SELECT doc_id,
       |    list_transform(range(0, $PhashBlocks), b ->
       |      ascii(substr(pfx, b*4+1, 1)) + ascii(substr(pfx, b*4+2, 1))
       |      + ascii(substr(pfx, b*4+3, 1)) + ascii(substr(pfx, b*4+4, 1)))
       |    AS bs
       |  FROM p),
       |h AS (SELECT doc_id,
       |    CAST(list_sum(list_transform(range(0, $PhashBlocks), b ->
       |      CASE WHEN bs[b+1] > CAST(list_sum(bs) AS DOUBLE) / $PhashBlocks
       |        THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END))
       |      AS BIGINT) AS phash
       |  FROM s)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
       |FROM h a JOIN h b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.phash, b.phash)) <= 3
       |ORDER BY hamming, doc_a, doc_b""".stripMargin

  // --------------------------------------------------------------------
  // llm_mm_source_mix: media-type × source contingency with each
  // cell's independence expectation and χ² contribution — "do my
  // sources ship the same modality mix?" A source whose cells carry
  // outsized contributions is modality-skewed (a video mirror, a
  // PDF dump), which decides whether modality quotas must be enforced
  // per source or can be global. Same construction as q59's
  // segment×priority χ², applied to the sniffed media type. Scale
  // shape: ONE narrow scan to the (source × type) contingency
  // (partial-aggregable, dim-bounded ≤ sources×4), MATERIALIZED for
  // its three total consumers; all χ² algebra on the bounded grid,
  // contributions DECIMAL-routed where summed downstream. Expected
  // counts are exact integer-products over one division.
  def mmSourceMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val magics = array(lit("GIF8"), lit("%PDF"), lit("RIFF"), lit("OggS"))
    val cont = Tables.documents(spark, dir)
      .select($"source",
        element_at(magics, (h60($"text") % 4 + 1).cast("int")).as("magic"))
      .select($"source",
        when($"magic" === "GIF8", "gif").when($"magic" === "%PDF", "pdf")
          .when($"magic" === "RIFF", "wav").otherwise("ogg")
          .as("media_type"))
      .groupBy($"source", $"media_type").agg(count(lit(1)).as("n")).localCheckpoint()
    val rowT = cont.groupBy($"source").agg(sum($"n").as("rt"))
    val colT = cont.groupBy($"media_type").agg(sum($"n").as("ct"))
    val tot = broadcast(cont.agg(sum($"n").as("nt")))
    cont.join(broadcast(rowT), "source")
      .join(broadcast(colT), "media_type")
      .crossJoin(tot)
      .select($"source", $"media_type", $"n",
        round(($"rt".cast(DecimalType(38, 0)) * $"ct").cast("double")
          / $"nt", 6).as("expected"),
        round(
          ($"n" - ($"rt".cast(DecimalType(38, 0)) * $"ct").cast("double")
            / $"nt")
            * ($"n" - ($"rt".cast(DecimalType(38, 0)) * $"ct")
              .cast("double") / $"nt")
            / (($"rt".cast(DecimalType(38, 0)) * $"ct").cast("double")
              / $"nt"), 6).as("contrib"))
      .orderBy($"source", $"media_type")
  }

  val mmSourceMixSql: String =
    s"""WITH t AS (
       |  SELECT source,
       |    (['GIF8', '%PDF', 'RIFF', 'OggS'])[CAST(${h60Sql("text")} % 4 + 1 AS INT)]
       |      AS magic
       |  FROM documents),
       |p AS (
       |  SELECT source, CASE magic WHEN 'GIF8' THEN 'gif'
       |    WHEN '%PDF' THEN 'pdf' WHEN 'RIFF' THEN 'wav' ELSE 'ogg' END
       |    AS media_type
       |  FROM t),
       |cont AS MATERIALIZED (
       |  SELECT source, media_type, COUNT(*) AS n FROM p GROUP BY 1, 2),
       |rt AS (SELECT source, SUM(n) AS rt FROM cont GROUP BY 1),
       |ct AS (SELECT media_type, SUM(n) AS ct FROM cont GROUP BY 1),
       |tt AS (SELECT SUM(n) AS nt FROM cont)
       |SELECT cont.source, cont.media_type, cont.n,
       |  ROUND(CAST(rt.rt * ct.ct AS DOUBLE) / nt, 6) AS expected,
       |  ROUND((cont.n - CAST(rt.rt * ct.ct AS DOUBLE) / nt)
       |    * (cont.n - CAST(rt.rt * ct.ct AS DOUBLE) / nt)
       |    / (CAST(rt.rt * ct.ct AS DOUBLE) / nt), 6) AS contrib
       |FROM cont JOIN rt ON cont.source = rt.source
       |JOIN ct ON cont.media_type = ct.media_type
       |CROSS JOIN tt
       |ORDER BY cont.source, cont.media_type""".stripMargin

  // --------------------------------------------------------------------
  // llm_mm_size_percentiles: exact payload-size percentiles (p50/p90/
  // p99/max bytes) per media type — the storage-planning and
  // decode-budget profile (batch sizing for a decode stage keys off
  // the p99 payload, not the mean; a fat tail in one type means that
  // type needs its own partition sizing). Percentiles are EXACT via
  // the histogram-cumulative construction (q71's convention: smallest
  // size with cum·100 ≥ p·n) — never an approximate percentile
  // sketch, and never a corpus-wide sort: the cumulative window runs
  // over the (type, size) histogram, whose cardinality is bounded by
  // the size domain, not the corpus. All outputs are integers — no
  // float surface at all. Payload bytes themselves never shuffle
  // (only (type, size) pairs do).
  def mmSizePercentiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val magics = array(lit("GIF8"), lit("%PDF"), lit("RIFF"), lit("OggS"))
    val sized = Tables.documents(spark, dir)
      .select(
        element_at(magics, (h60($"text") % 4 + 1).cast("int")).as("magic"),
        $"text")
      .select(
        when($"magic" === "GIF8", "gif").when($"magic" === "%PDF", "pdf")
          .when($"magic" === "RIFF", "wav").otherwise("ogg")
          .as("media_type"),
        octet_length(encode(concat($"magic", $"text"), "utf-8"))
          .cast("long").as("n_bytes"))
    // materialized: the histogram feeds the per-type totals AND the
    // cumulative join-back
    val hist = sized.groupBy($"media_type", $"n_bytes").agg(count(lit(1)).as("c")).localCheckpoint()
    val tot = hist.groupBy($"media_type").agg(sum($"c").as("n"))
    val w = Window.partitionBy($"media_type").orderBy($"n_bytes")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def pct(p: Int) =
      min(when($"cum" * 100 >= $"n" * p, $"n_bytes")).as(s"p${p}_bytes")
    hist.withColumn("cum", sum($"c").over(w))
      .join(broadcast(tot), "media_type")
      .groupBy($"media_type")
      .agg(max($"n").as("n_payloads"), pct(50), pct(90), pct(99),
        max($"n_bytes").as("max_bytes"))
      .orderBy($"media_type")
  }

  val mmSizePercentilesSql: String =
    s"""WITH t AS (
       |  SELECT
       |    (['GIF8', '%PDF', 'RIFF', 'OggS'])[CAST(${h60Sql("text")} % 4 + 1 AS INT)]
       |      AS magic,
       |    text
       |  FROM documents),
       |p AS (
       |  SELECT CASE magic WHEN 'GIF8' THEN 'gif' WHEN '%PDF' THEN 'pdf'
       |      WHEN 'RIFF' THEN 'wav' ELSE 'ogg' END AS media_type,
       |    CAST(octet_length(encode(magic || text)) AS BIGINT) AS n_bytes
       |  FROM t),
       |hist AS (
       |  SELECT media_type, n_bytes, COUNT(*) AS c FROM p GROUP BY 1, 2),
       |tot AS (SELECT media_type, SUM(c) AS n FROM hist GROUP BY 1),
       |cc AS (
       |  SELECT h.media_type, h.n_bytes, t.n,
       |    SUM(h.c) OVER (PARTITION BY h.media_type ORDER BY h.n_bytes
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM hist h JOIN tot t ON h.media_type = t.media_type)
       |SELECT media_type, CAST(MAX(n) AS BIGINT) AS n_payloads,
       |  CAST(MIN(CASE WHEN cum * 100 >= n * 50 THEN n_bytes END) AS BIGINT)
       |    AS p50_bytes,
       |  CAST(MIN(CASE WHEN cum * 100 >= n * 90 THEN n_bytes END) AS BIGINT)
       |    AS p90_bytes,
       |  CAST(MIN(CASE WHEN cum * 100 >= n * 99 THEN n_bytes END) AS BIGINT)
       |    AS p99_bytes,
       |  CAST(MAX(n_bytes) AS BIGINT) AS max_bytes
       |FROM cc GROUP BY media_type ORDER BY media_type""".stripMargin

  // --------------------------------------------------------------------
  // llm_mm_magic_router: content-type sniffing for decoder routing —
  // the gate in front of every media-decode stage: read ONLY the
  // payload's leading magic bytes (substring on the BINARY column; the
  // full payload is never inspected, the property that matters when
  // the payload is megabytes), classify, and audit claimed-extension
  // mismatches (a corpus's extension metadata routinely lies; routing
  // on it feeds wav bytes to a gif decoder). Fixture payloads carry a
  // REAL ascii magic prefix (GIF8 / %PDF / RIFF / OggS) prepended to
  // the text bytes, with the CLAIMED extension drawn from an
  // independent hash so genuine mismatches exist to catch. Scale
  // shape: narrow codegen scan (hashes, substring, CASE) + one
  // 4-value groupBy — payload bytes never shuffle, only the per-type
  // totals do.
  def mmMagicRouter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val magics = array(lit("GIF8"), lit("%PDF"), lit("RIFF"), lit("OggS"))
    val exts = array(lit("gif"), lit("pdf"), lit("wav"), lit("ogg"))
    val tagged = Tables.documents(spark, dir)
      .select($"doc_id",
        element_at(magics, (h60($"text") % 4 + 1).cast("int")).as("magic"),
        element_at(exts,
          (h60(concat($"text", lit("#ext"))) % 4 + 1).cast("int"))
          .as("claimed_ext"),
        $"text")
      .select($"doc_id", $"claimed_ext",
        encode(concat($"magic", $"text"), "utf-8").as("payload"))
    val prefix = decode(substring($"payload", 1, 4), "utf-8")
    tagged
      .select($"doc_id", $"claimed_ext", $"payload",
        when(prefix === "GIF8", "gif").when(prefix === "%PDF", "pdf")
          .when(prefix === "RIFF", "wav").when(prefix === "OggS", "ogg")
          .otherwise("unknown").as("sniffed_type"))
      .groupBy($"sniffed_type")
      .agg(count(lit(1)).as("n_files"),
        sum(when($"claimed_ext" =!= $"sniffed_type", 1L).otherwise(0L))
          .as("n_claim_mismatch"),
        sum(octet_length($"payload")).cast("long").as("total_bytes"))
      .orderBy($"sniffed_type")
  }

  val mmMagicRouterSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    (['GIF8', '%PDF', 'RIFF', 'OggS'])[CAST(${h60Sql("text")} % 4 + 1 AS INT)]
       |      AS magic,
       |    (['gif', 'pdf', 'wav', 'ogg'])[CAST(${h60Sql("text || '#ext'")} % 4 + 1 AS INT)]
       |      AS claimed_ext,
       |    text
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, claimed_ext, encode(magic || text) AS payload,
       |    CASE substr(magic || text, 1, 4)
       |      WHEN 'GIF8' THEN 'gif' WHEN '%PDF' THEN 'pdf'
       |      WHEN 'RIFF' THEN 'wav' WHEN 'OggS' THEN 'ogg'
       |      ELSE 'unknown' END AS sniffed_type
       |  FROM t)
       |SELECT sniffed_type, COUNT(*) AS n_files,
       |  CAST(SUM(CASE WHEN claimed_ext <> sniffed_type THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_claim_mismatch,
       |  CAST(SUM(octet_length(payload)) AS BIGINT) AS total_bytes
       |FROM p GROUP BY 1 ORDER BY sniffed_type""".stripMargin

  // --------------------------------------------------------------------
  // llm_mm_frame_dedup: duplicate-frame audit over the sampled video
  // frames (same deterministic frame/digest construction as
  // llm_mm_frames — the digest stands in for a real frame phash).
  // Within-video duplicate fraction says how static each clip is (a
  // slideshow-like video wastes decode + embedding budget on repeated
  // frames); cross-video shared digests say how much of the frame
  // inventory appears in more than one clip (intro/outro cards, test
  // patterns — the frame-level analogue of boilerplate paragraphs).
  // Scale shape: the frame table is generated per-row (explode of a
  // bounded sequence — frames never shuffle as payloads, only their
  // 8-byte digests do) and is materialized because the per-video and
  // per-digest groupBys both consume it; both aggregates are
  // partial-aggregable.
  def mmFrameDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val frames = Tables.documents(spark, dir)
      .select($"doc_id",
        least(expr("n_chars div 10") + 1, lit(50L)).cast("long")
          .as("n_frames"))
      .select($"doc_id",
        explode(sequence(lit(0L), $"n_frames" - 1)).as("frame_idx"))
      .filter($"frame_idx" % 5 === 0)
      .select($"doc_id",
        (h60(concat($"doc_id".cast("string"), lit(":"),
          $"frame_idx".cast("string"))) % 1000).as("digest")).localCheckpoint()
    val perVideo = frames.groupBy($"doc_id")
      .agg(count(lit(1)).as("nf"),
        countDistinct($"digest").as("nd"))
      .agg(count(lit(1)).as("n_videos"),
        sum($"nf").as("n_frames"),
        round(sum((lit(1.0) - $"nd".cast("double") / $"nf")
          .cast("decimal(28,12)")).cast("double") / count(lit(1)), 6)
          .as("mean_within_dup_frac"))
    val perDigest = frames.groupBy($"digest")
      .agg(countDistinct($"doc_id").as("ndocs"))
      .agg(count(lit(1)).as("n_distinct_digests"),
        sum(when($"ndocs" > 1, 1L).otherwise(0L)).as("n_shared_digests"))
    perVideo.crossJoin(perDigest)
      .select($"n_videos", $"n_frames", $"mean_within_dup_frac",
        $"n_distinct_digests", $"n_shared_digests",
        round($"n_shared_digests".cast("double") / $"n_distinct_digests",
          6).as("cross_video_share"))
  }

  val mmFrameDedupSql: String =
    s"""WITH t AS (SELECT doc_id, LEAST(n_chars // 10 + 1, 50) AS n_frames
       |  FROM documents),
       |f0 AS (SELECT doc_id, unnest(range(0, n_frames)) AS frame_idx FROM t),
       |f AS (SELECT doc_id,
       |    ${h60Sql("doc_id || ':' || frame_idx")} % 1000 AS digest
       |  FROM f0 WHERE frame_idx % 5 = 0),
       |pv AS (SELECT doc_id, COUNT(*) AS nf,
       |    COUNT(DISTINCT digest) AS nd FROM f GROUP BY 1),
       |v AS (SELECT COUNT(*) AS n_videos, CAST(SUM(nf) AS BIGINT) AS n_frames,
       |    ROUND(CAST(SUM(CAST(1.0 - CAST(nd AS DOUBLE) / nf
       |      AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6)
       |      AS mean_within_dup_frac
       |  FROM pv),
       |pd AS (SELECT digest, COUNT(DISTINCT doc_id) AS ndocs
       |  FROM f GROUP BY 1),
       |d AS (SELECT COUNT(*) AS n_distinct_digests,
       |    CAST(SUM(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_shared_digests
       |  FROM pd)
       |SELECT CAST(n_videos AS BIGINT) AS n_videos, n_frames,
       |  mean_within_dup_frac,
       |  CAST(n_distinct_digests AS BIGINT) AS n_distinct_digests,
       |  n_shared_digests,
       |  ROUND(CAST(n_shared_digests AS DOUBLE) / n_distinct_digests, 6)
       |    AS cross_video_share
       |FROM v CROSS JOIN d""".stripMargin

  // --------------------------------------------------------------------
  // llm_mm_scene_segments: shot/scene segmentation of the sampled frame
  // stream — consecutive sampled frames whose 60-bit perceptual-feature
  // hamming distance exceeds 34 bits start a new scene; the per-video
  // scene count collapses to a corpus histogram. The video-curation
  // primitive behind "sample one keyframe per scene" and "drop static
  // videos": scene grain, not frame grain, is what a vision pipeline
  // budgets on. Same deterministic fake-decode contract as mmFrames
  // (the hash plays the frame feature; the Spark-side plumbing —
  // per-video ordered windows over a bounded ≤10-frame sequence, then
  // a partial-aggregable histogram — is the real shape). Scale: the
  // explode is bounded per document; the lag window partitions by
  // doc_id (no global sort); output is O(max scenes) rows.
  def mmSceneSegments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val frames = Tables.documents(spark, dir)
      .select($"doc_id",
        least(expr("n_chars div 10") + 1, lit(50L)).cast("long").as("n_frames"))
      .select($"doc_id",
        explode(sequence(lit(0L), $"n_frames" - 1)).as("frame_idx"))
      .filter($"frame_idx" % 5 === 0)
      .select($"doc_id", $"frame_idx",
        TextAnalysis.h60(concat($"doc_id".cast("string"), lit(":"),
          $"frame_idx".cast("string"))).as("fh"))
    val w = Window.partitionBy($"doc_id").orderBy($"frame_idx")
    val scenes = frames
      .withColumn("prev", lag($"fh", 1).over(w))
      .select($"doc_id",
        when($"prev".isNull, 0L)
          .when(bit_count($"fh".bitwiseXOR($"prev")) > 34, 1L)
          .otherwise(0L).as("cut"))
      .groupBy($"doc_id")
      .agg((sum($"cut") + 1L).as("n_scenes"), count(lit(1)).as("n_sampled"))
    scenes.groupBy($"n_scenes")
      .agg(count(lit(1)).as("n_videos"),
        round(sum($"n_sampled".cast("decimal(28,12)")).cast("double")
          / count(lit(1)), 6).as("avg_sampled_frames"))
      .orderBy($"n_scenes")
  }

  val mmSceneSegmentsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, LEAST(n_chars // 10 + 1, 50) AS n_frames
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, unnest(range(0, n_frames)) AS frame_idx FROM t),
       |h AS (
       |  SELECT doc_id, frame_idx,
       |    ${TextAnalysis.h60Sql("doc_id || ':' || frame_idx")} AS fh
       |  FROM f WHERE frame_idx % 5 = 0),
       |c AS (
       |  SELECT doc_id,
       |    CASE WHEN LAG(fh) OVER
       |        (PARTITION BY doc_id ORDER BY frame_idx) IS NULL THEN 0
       |      WHEN bit_count(xor(fh, LAG(fh) OVER
       |        (PARTITION BY doc_id ORDER BY frame_idx))) > 34 THEN 1
       |      ELSE 0 END AS cut
       |  FROM h),
       |s AS (
       |  SELECT doc_id, SUM(cut) + 1 AS n_scenes, COUNT(*) AS n_sampled
       |  FROM c GROUP BY doc_id)
       |SELECT CAST(n_scenes AS BIGINT) AS n_scenes,
       |  CAST(COUNT(*) AS BIGINT) AS n_videos,
       |  ROUND(CAST(SUM(CAST(n_sampled AS DECIMAL(28,12))) AS DOUBLE)
       |    / COUNT(*), 6) AS avg_sampled_frames
       |FROM s GROUP BY n_scenes ORDER BY n_scenes""".stripMargin

  // --------------------------------------------------------------------
  // llm_mm_resolution_tiers: resolution-tier planning for image
  // training — bucket images by shortest side into the canonical
  // training resolutions (<480 → the 256-px tier, <768 → 512, else
  // 1024) and report per-tier counts, share, and megapixel mass (the
  // decode+resize compute budget is ∝ input megapixels, so this table
  // IS the preprocessing cost plan). Complements mmAspectBuckets
  // (shape) with size: together they determine the data-loader's
  // bucket grid. Dims are the same deterministic fake decode as
  // mmMetadata (h60 of the payload text).
  // Scale shape: one narrow codegen projection → 3-group partial agg;
  // the share denominator rides a 1-row broadcast. Determinism:
  // integer width·height sums (exact), one rounded division each.
  def mmResolutionTiers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = Tables.documents(spark, dir)
      .select($"doc_id",
        (h60($"text") % 1600 + 320).as("width"),
        (h60($"text") % 840 + 240).as("height"))
      .withColumn("short_side", least($"width", $"height"))
      .withColumn("tier",
        when($"short_side" < 480, "256")
          .when($"short_side" < 768, "512")
          .otherwise("1024"))
    val byTier = m.groupBy($"tier")
      .agg(count(lit(1)).as("n_images"),
        sum($"width" * $"height").as("px"))
    val tot = byTier.agg(sum($"n_images").as("n_tot")).filter($"n_tot" > 0)
    byTier.crossJoin(broadcast(tot))
      .select($"tier", $"n_images",
        round($"n_images".cast("double") / $"n_tot", 6).as("share"),
        round($"px".cast("double") / 1000000.0, 3).as("total_mpx"),
        round($"px".cast("double") / $"n_images" / 1000000.0, 6)
          .as("mean_mpx"))
      .orderBy($"tier")
  }

  val mmResolutionTiersSql: String =
    s"""WITH m AS (SELECT doc_id,
       |    ${h60Sql("text")} % 1600 + 320 AS width,
       |    ${h60Sql("text")} % 840 + 240 AS height
       |  FROM documents),
       |s AS (SELECT doc_id, width, height,
       |    LEAST(width, height) AS short_side FROM m),
       |b AS (SELECT CASE WHEN short_side < 480 THEN '256'
       |    WHEN short_side < 768 THEN '512' ELSE '1024' END AS tier,
       |    width * height AS wh FROM s),
       |t AS (SELECT tier, COUNT(*) AS n_images,
       |    CAST(SUM(wh) AS BIGINT) AS px FROM b GROUP BY tier),
       |tt AS (SELECT CAST(SUM(n_images) AS BIGINT) AS n_tot FROM t
       |  HAVING SUM(n_images) > 0)
       |SELECT tier, CAST(n_images AS BIGINT) AS n_images,
       |  ROUND(CAST(n_images AS DOUBLE) / n_tot, 6) AS share,
       |  ROUND(CAST(px AS DOUBLE) / 1000000.0, 3) AS total_mpx,
       |  ROUND(CAST(px AS DOUBLE) / n_images / 1000000.0, 6) AS mean_mpx
       |FROM t CROSS JOIN tt ORDER BY tier""".stripMargin

  // --------------------------------------------------------------------
  // llm_mm_caption_stats: image-caption pairing audit — treat the
  // payload's leading sentence (text up to the first '.', only if it
  // closes within 128 chars) as the caption a VLM pair would train on,
  // and report per source how many payloads HAVE a usable caption and
  // how long captions run. The cross-modal coverage gate: a source
  // with a low captioned share feeds caption-free pretraining only,
  // and caption length drives the text-tower token budget.
  // Scale shape: one narrow projection (instr + length — no split, no
  // explode) → source-grain partial agg. Determinism: caption lengths
  // are exact integers; the mean routes through an integer sum.
  def mmCaptionStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = Tables.documents(spark, dir)
      .select($"source",
        instr($"text", ".").as("pos"))
      .withColumn("cap_chars",
        when($"pos" >= 1 && $"pos" <= 128, $"pos"))
    m.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        count($"cap_chars").as("n_captioned"),
        sum($"cap_chars".cast("long")).as("cap_sum"))
      .select($"source", $"n_docs", $"n_captioned",
        round($"n_captioned".cast("double") / $"n_docs", 6)
          .as("captioned_share"),
        when($"n_captioned" > 0,
          round($"cap_sum".cast("double") / $"n_captioned", 6))
          .as("mean_caption_chars"))
      .orderBy($"source")
  }

  val mmCaptionStatsSql: String =
    """WITH m AS (SELECT source, strpos(text, '.') AS pos FROM documents),
      |c AS (SELECT source,
      |    CASE WHEN pos BETWEEN 1 AND 128 THEN pos END AS cap_chars
      |  FROM m),
      |s AS (SELECT source, COUNT(*) AS n_docs,
      |    COUNT(cap_chars) AS n_captioned,
      |    CAST(SUM(cap_chars) AS BIGINT) AS cap_sum
      |  FROM c GROUP BY source)
      |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(n_captioned AS BIGINT) AS n_captioned,
      |  ROUND(CAST(n_captioned AS DOUBLE) / n_docs, 6) AS captioned_share,
      |  CASE WHEN n_captioned > 0
      |    THEN ROUND(CAST(cap_sum AS DOUBLE) / n_captioned, 6) END
      |    AS mean_caption_chars
      |FROM s ORDER BY source""".stripMargin

  // --------------------------------------------------------------------
  // llm_mm_duration_mix: audio-hours inventory per source — under the
  // mmAudio decode convention (payload = 16 kHz 16-bit mono), each
  // source's clip count, total minutes, share of the corpus's audio
  // mass, and mean clip seconds. The first table an ASR/audio-LM data
  // plan is built from: token budgets are set in HOURS, not documents,
  // and a source mix balanced by doc count can be wildly unbalanced by
  // duration.
  // Scale shape: one narrow projection (octet_length only) →
  // source-grain partial agg; the share denominator rides a 1-row
  // broadcast. Determinism: durations are exact integer milliseconds.
  def mmDurationMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, dir)
      .select($"source",
        (octet_length(encode($"text", "utf-8")).cast("long") / 2)
          .cast("long").as("n_samples"))
      .select($"source", expr("n_samples div 16").as("duration_ms"))
    val bySrc = d.groupBy($"source")
      .agg(count(lit(1)).as("n_clips"), sum($"duration_ms").as("ms"))
    val tot = bySrc.agg(sum($"ms").as("ms_tot")).filter($"ms_tot" > 0)
    bySrc.crossJoin(broadcast(tot))
      .select($"source", $"n_clips",
        round($"ms".cast("double") / 60000.0, 4).as("total_minutes"),
        round($"ms".cast("double") / $"ms_tot", 6).as("share"),
        round($"ms".cast("double") / $"n_clips" / 1000.0, 6)
          .as("mean_clip_s"))
      .orderBy($"source")
  }

  val mmDurationMixSql: String =
    """WITH d AS (SELECT source,
      |    (CAST(octet_length(encode(text)) // 2 AS BIGINT)) // 16
      |      AS duration_ms
      |  FROM documents),
      |s AS (SELECT source, COUNT(*) AS n_clips,
      |    CAST(SUM(duration_ms) AS BIGINT) AS ms FROM d GROUP BY source),
      |t AS (SELECT CAST(SUM(ms) AS BIGINT) AS ms_tot FROM s
      |  HAVING SUM(ms) > 0)
      |SELECT source, CAST(n_clips AS BIGINT) AS n_clips,
      |  ROUND(CAST(ms AS DOUBLE) / 60000.0, 4) AS total_minutes,
      |  ROUND(CAST(ms AS DOUBLE) / ms_tot, 6) AS share,
      |  ROUND(CAST(ms AS DOUBLE) / n_clips / 1000.0, 6) AS mean_clip_s
      |FROM s CROSS JOIN t ORDER BY source""".stripMargin

  // --------------------------------------------------------------------
  // llm_mm_band_occupancy: LSH-band health audit for the media phash
  // index — per band, the log₂ histogram of bucket occupancies (how
  // many (band, key) buckets hold 1, 2–3, 4–7, … docs) with entry and
  // candidate-pair mass per size class. The capacity-planning view
  // every banded dedup needs BEFORE running pair generation: pair cost
  // is Σ n·(n−1)/2 over buckets, so one hot size class IS the bill,
  // and a band whose mass sits in big buckets needs a finer key (more
  // bits) while all-singleton bands waste recall. Reads the SAME
  // session-cached phash artifact as llm_mm_phash — the audit costs no
  // second hash pass.
  // Scale shape: doc-grain band explode (×4) → (band, key) partial-agg
  // counts → ≤(4 × log₂ max-occupancy)-row rollup. All integer.
  def mmBandOccupancy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bands = phashes(spark, dir)
      .select($"doc_id", explode(array(
        (0 until 4).map(j => struct(lit(j).as("band"),
          expr(s"(phash div ${1L << (15 * j)}) % 32768").as("key"))): _*))
        .as("bk"))
      .select($"bk.band", $"bk.key")
    val occ = bands.groupBy($"band", $"key").agg(count(lit(1)).as("n"))
    occ.groupBy($"band", (length(bin($"n")) - 1).as("size_bucket"))
      .agg(count(lit(1)).as("n_buckets"),
        sum($"n").as("n_entries"),
        sum(expr("n * (n - 1) div 2")).as("pair_mass"))
      .orderBy($"band", $"size_bucket")
  }

  val mmBandOccupancySql: String =
    s"""WITH p AS (SELECT doc_id,
       |    rpad(substr(text, 1, $PhashBytes), $PhashBytes, ' ') AS pfx
       |  FROM documents),
       |s AS (SELECT doc_id,
       |    list_transform(range(0, $PhashBlocks), b ->
       |      ascii(substr(pfx, b*4+1, 1)) + ascii(substr(pfx, b*4+2, 1))
       |      + ascii(substr(pfx, b*4+3, 1)) + ascii(substr(pfx, b*4+4, 1)))
       |    AS bs
       |  FROM p),
       |h AS (SELECT doc_id,
       |    CAST(list_sum(list_transform(range(0, $PhashBlocks), b ->
       |      CASE WHEN bs[b+1] > CAST(list_sum(bs) AS DOUBLE) / $PhashBlocks
       |        THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END))
       |      AS BIGINT) AS phash
       |  FROM s),
       |b AS (SELECT doc_id, phash,
       |    CAST(unnest(range(0, 4)) AS INT) AS band FROM h),
       |k AS (SELECT band,
       |    (phash // (CAST(1 AS BIGINT) << (15 * band))) % 32768 AS key,
       |    COUNT(*) AS n
       |  FROM b GROUP BY band, key)
       |SELECT band, CAST(LENGTH(BIN(n)) - 1 AS INT) AS size_bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_buckets,
       |  CAST(SUM(n) AS BIGINT) AS n_entries,
       |  CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS pair_mass
       |FROM k GROUP BY band, size_bucket
       |ORDER BY band, size_bucket""".stripMargin

  // --------------------------------------------------------------------
  // llm_mm_hamming_hist: Hamming-distance histogram of the banded
  // phash candidate pairs — the threshold-choice evidence behind
  // llm_mm_phash's `hamming <= 3` convention: a clean corpus shows a
  // bimodal histogram (a near-dup spike at low distance, background
  // mass near d/2) and the valley IS the threshold; a flat histogram
  // says the hash doesn't separate at all. Rows: per distance, the
  // distinct-value candidate pairs the 4-band index surfaces and the
  // doc-pair mass they expand to (value multiplicities ride the pair,
  // nothing expands). Distance-0 mass (same-value duplicates) comes
  // from the value table's own counts — closed form, no self-join.
  // Scale shape: value-grain banding (buckets bounded by VALUE
  // diversity, not corpus size — the mm_phash argument), one
  // band-key equi-join, ≤ 61 output rows. All integer arithmetic.
  def mmHammingHist(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vcnt = phashes(spark, dir)
      .groupBy($"phash").agg(count(lit(1)).as("nd"))
    val vbands = vcnt.select($"phash", $"nd", explode(array(
        (0 until 4).map(j => struct(lit(j).as("band"),
          expr(s"(phash div ${1L << (15 * j)}) % 32768").as("key"))): _*))
        .as("bk"))
      .select($"phash", $"nd", $"bk.band", $"bk.key")
    val cross = vbands.as("a").join(vbands.as("b"),
        $"a.band" === $"b.band" && $"a.key" === $"b.key"
          && $"a.phash" < $"b.phash")
      .select($"a.phash".as("va"), $"b.phash".as("vb"),
        $"a.nd".as("na"), $"b.nd".as("nb"))
      .distinct()
      .select(expr("bit_count(va ^ vb)").as("hamming"),
        ($"na" * $"nb").as("dp"))
      .groupBy($"hamming")
      .agg(count(lit(1)).as("n_value_pairs"), sum($"dp").as("n_doc_pairs"))
    val same = vcnt.filter($"nd" > 1)
      .agg(count(lit(1)).as("n_value_pairs"),
        sum(expr("nd * (nd - 1) div 2")).as("n_doc_pairs"))
      .select(lit(0).as("hamming"), $"n_value_pairs", $"n_doc_pairs")
    same.filter($"n_value_pairs" > 0).unionByName(cross)
      .orderBy($"hamming")
  }

  val mmHammingHistSql: String =
    s"""WITH p AS (SELECT doc_id,
       |    rpad(substr(text, 1, $PhashBytes), $PhashBytes, ' ') AS pfx
       |  FROM documents),
       |s AS (SELECT doc_id,
       |    list_transform(range(0, $PhashBlocks), b ->
       |      ascii(substr(pfx, b*4+1, 1)) + ascii(substr(pfx, b*4+2, 1))
       |      + ascii(substr(pfx, b*4+3, 1)) + ascii(substr(pfx, b*4+4, 1)))
       |    AS bs
       |  FROM p),
       |h AS (SELECT doc_id,
       |    CAST(list_sum(list_transform(range(0, $PhashBlocks), b ->
       |      CASE WHEN bs[b+1] > CAST(list_sum(bs) AS DOUBLE) / $PhashBlocks
       |        THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END))
       |      AS BIGINT) AS phash
       |  FROM s),
       |v AS (SELECT phash, COUNT(*) AS nd FROM h GROUP BY phash),
       |vb AS (SELECT phash, nd,
       |    CAST(unnest(range(0, 4)) AS INT) AS band FROM v),
       |vk AS (SELECT phash, nd, band,
       |    (phash // (CAST(1 AS BIGINT) << (15 * band))) % 32768 AS key
       |  FROM vb),
       |pr AS (SELECT DISTINCT a.phash AS va, b.phash AS vb2,
       |    a.nd AS na, b.nd AS nb
       |  FROM vk a JOIN vk b
       |    ON a.band = b.band AND a.key = b.key AND a.phash < b.phash),
       |cr AS (SELECT CAST(bit_count(xor(va, vb2)) AS INT) AS hamming,
       |    na * nb AS dp FROM pr),
       |ch AS (SELECT hamming, COUNT(*) AS n_value_pairs,
       |    SUM(dp) AS n_doc_pairs FROM cr GROUP BY hamming),
       |sm AS (SELECT 0 AS hamming, COUNT(*) AS n_value_pairs,
       |    SUM(nd * (nd - 1) // 2) AS n_doc_pairs
       |  FROM v WHERE nd > 1 HAVING COUNT(*) > 0)
       |SELECT hamming, CAST(n_value_pairs AS BIGINT) AS n_value_pairs,
       |  CAST(n_doc_pairs AS BIGINT) AS n_doc_pairs
       |FROM (SELECT * FROM sm UNION ALL SELECT * FROM ch)
       |ORDER BY hamming""".stripMargin

  /** Each query: name -> (plan, the ANSI SQL DuckDB checks it with). */
  val queryTable: Map[String, (graft.SparkEntry.Query, String)] = Map(
    "llm_mm_hamming_hist" -> (mmHammingHist _, mmHammingHistSql),
    "llm_mm_resolution_tiers" -> (mmResolutionTiers _, mmResolutionTiersSql),
    "llm_mm_caption_stats" -> (mmCaptionStats _, mmCaptionStatsSql),
    "llm_mm_duration_mix" -> (mmDurationMix _, mmDurationMixSql),
    "llm_mm_band_occupancy" -> (mmBandOccupancy _, mmBandOccupancySql),
    "llm_mm_scene_segments" -> (mmSceneSegments _, mmSceneSegmentsSql),
    "llm_mm_frame_dedup" -> (mmFrameDedup _, mmFrameDedupSql),
    "llm_mm_magic_router" -> (mmMagicRouter _, mmMagicRouterSql),
    "llm_mm_phash" -> (mmPhash _, mmPhashSql),
    "llm_mm_aspect_buckets" -> (mmAspectBuckets _, mmAspectBucketsSql),
    "llm_mm_source_mix" -> (mmSourceMix _, mmSourceMixSql),
    "llm_mm_size_percentiles" -> (mmSizePercentiles _, mmSizePercentilesSql),
    "llm_mm_metadata" -> (mmMetadata _, mmMetadataSql),
    "llm_mm_chunk_dedup" -> (mmChunkDedup _, mmChunkDedupSql),
    "llm_mm_dedup" -> (mmDedup _, mmDedupSql),
    "llm_mm_frames" -> (mmFrames _, mmFramesSql),
    "llm_mm_resize" -> (mmResize _, mmResizeSql),
    "llm_mm_audio" -> (mmAudio _, mmAudioSql),
    "llm_mm_clip_filter" -> (mmClipFilter _, mmClipFilterSql),
    "llm_mm_byte_stats" -> (mmByteStats _, mmByteStatsSql),
  )
  val registry: Map[String, graft.SparkEntry.Query] = queryTable.view.mapValues(_._1).toMap
}
