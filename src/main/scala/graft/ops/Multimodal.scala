package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.{Column, DataFrame, Dataset}

import java.security.MessageDigest

/** B9 multimodal columns: media as opaque `binary` payloads + typed
  * metadata struct, processed in per-partition batches (the JVM analog of
  * `mapInPandas` batch UDFs: one iterator of records per partition, heavy
  * state — codecs, models — initialized once per partition, not per row).
  *
  * The actual image/audio DECODE IS A STUB (deterministic fake — the
  * codec libraries are not in this container, builder-prompt directive);
  * everything around it — schema, binary handling, partition batching,
  * frame slicing — is real and oracle-verified.
  *
  * Scale: payloads never pass through a shuffle here (narrow pipeline);
  * when a shuffle is unavoidable, project metadata first and join
  * payloads back by id.
  */
object Multimodal {

  case class MediaRecord(media_id: Long, payload: Array[Byte], format: String, n_bytes: Long)
  case class MediaFeatures(media_id: Long, payload_len: Long, payload_md5: String,
      format: String, n_frames: Long, decode_note: String)
  case class FrameSample(media_id: Long, n_frames: Long, n_sampled: Long, first_frame_md5: String)

  private def md5hex(b: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(b).map("%02x".format(_)).mkString

  private def hexUpper(b: Array[Byte]): String =
    b.map("%02X".format(_)).mkString

  /** Wrap a text corpus as a media table (payload = utf-8 bytes). In a
    * real deployment payloads come from image/audio files; the column
    * shape (binary + metadata) is identical. */
  def asMediaTable(docs: DataFrame): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    docs.select(
      col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").as("payload"),
      lit("txt").as("format"),
      octet_length(col("text")).cast(LongType).as("n_bytes")).as[MediaRecord]
  }

  /** Per-partition batch "decode" + feature extraction. The decode itself
    * is STUBBED (would call the codec here); md5/frame math is real. */
  def extractFeatures(media: Dataset[MediaRecord], frameBytes: Int = 64): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { records =>
      // per-partition init (real codecs/models would be opened here, once)
      val digest = MessageDigest.getInstance("MD5")
      records.map { r =>
        digest.reset()
        val md5 = digest.digest(r.payload).map("%02x".format(_)).mkString
        val frames = (r.payload.length + frameBytes - 1) / frameBytes
        // STUB: a real implementation decodes r.payload with an image/
        // audio codec; deterministic fake keeps the pipeline testable
        val note = s"decoded:${r.format}:${r.payload.length}"
        MediaFeatures(r.media_id, r.payload.length.toLong, md5, r.format, frames.toLong, note)
      }
    }
  }

  /** Frame sampling: slice the payload into fixed-size frames, keep every
    * `stride`-th one (video keyframe-sampling shape).
    *
    * `first_frame_md5` is a HEX-LIFTED fingerprint: md5 of the frame's
    * uppercase-hex encoding rather than of the raw bytes. Same
    * identification power (hex is injective), but the hashed value is
    * pure ASCII, so a VARCHAR-only oracle (DuckDB 1.0 md5 takes no BLOB)
    * replays it byte-exactly for ANY payload — including frames that cut
    * a multi-byte character in half, where a char-based formulation
    * diverges. */
  def sampleFrames(media: Dataset[MediaRecord], frameBytes: Int = 64, stride: Int = 4): Dataset[FrameSample] = {
    import media.sparkSession.implicits._
    media.mapPartitions { records =>
      records.map { r =>
        val frames = r.payload.grouped(frameBytes).toArray
        val sampled = frames.zipWithIndex.collect { case (f, i) if i % stride == 0 => f }
        FrameSample(r.media_id, frames.length.toLong, sampled.length.toLong,
          if (frames.isEmpty) "" else md5hex(hexUpper(frames.head).getBytes("US-ASCII")))
      }
    }
  }

  // ---------------------------------------------------------------- queries

  /** Oracle uses BYTE semantics throughout (`octet_length(encode(text))`),
    * matching the engine's UTF-8 payload math for any input text; DuckDB's
    * `md5(VARCHAR)` hashes the string's UTF-8 bytes, so `payload_md5`
    * is byte-exact too. */
  private val m01 = Q(
    "m01_multimodal_features",
    """SELECT doc_id AS media_id,
              octet_length(encode(text)) AS payload_len,
              md5(text) AS payload_md5,
              'txt' AS format,
              (octet_length(encode(text)) + 63) // 64 AS n_frames,
              'decoded:txt:' || octet_length(encode(text)) AS decode_note
       FROM documents ORDER BY media_id""") { (s, d) =>
    extractFeatures(asMediaTable(Tables.documents(s, d)))
      .orderBy("media_id")
      .toDF()
  }

  /** Frame counts are byte-based (octet_length). `first_frame_md5` is the
    * hex-lifted fingerprint (see [[sampleFrames]]): the oracle slices the
    * first 64 bytes as 128 HEX chars — `substring(hex(encode(text)), 1,
    * 128)` — and md5s that ASCII string, byte-exact for any input
    * (non-ASCII included); no char/byte equivalence precondition. */
  private val m02 = Q(
    "m02_multimodal_frames",
    """SELECT doc_id AS media_id,
              (octet_length(encode(text)) + 63) // 64 AS n_frames,
              ((octet_length(encode(text)) + 63) // 64 + 3) // 4 AS n_sampled,
              md5(substring(hex(encode(text)), 1, 128)) AS first_frame_md5
       FROM documents ORDER BY media_id""") { (s, d) =>
    sampleFrames(asMediaTable(Tables.documents(s, d)))
      .orderBy("media_id")
      .toDF()
  }

  /** A3 × B9: binary payloads piped through an external tool — payload →
    * hex line per record (base64 in Spark is MIME-chunked with embedded
    * newlines, which would break line-oriented staging) → forked process
    * computes per-record output → collected rows. The external transform
    * (hex length) is recomputable by the oracle: |hex(n)| = 2·n. */
  private val m03 = Q(
    "m03_multimodal_pipe",
    """SELECT doc_id || ':' || CAST(2 * octet_length(encode(text)) AS VARCHAR) AS line
       FROM documents ORDER BY line""") { (s, d) =>
    import s.implicits._
    import java.nio.file.attribute.PosixFilePermissions
    import java.nio.file.{Files, Paths}
    // per-run scratch dir (self-cleaning): a fixed tmpdir path would race
    // between two concurrent JVMs writing/executing the same script file
    val bin = Paths.get(graft.Scratch.dir("graft_mm_pipe_bin"))
    val sh = bin.resolve("measure.sh")
    // $1=%MCR_ROOT% $2=%INPUT_FILE%; emits "<id>:<len(hex)>" per line
    Files.writeString(sh,
      "#!/bin/sh\nawk -F: '{ print $1 \":\" length($2) }' \"$2\" > measured.txt\n")
    Files.setPosixFilePermissions(sh, PosixFilePermissions.fromString("rwxr-xr-x"))
    val spec = graft.pipe.PipelineSpec("measure", bin.toString,
      Seq("measure.sh %MCR_ROOT% %INPUT_FILE%"), "", "")
    val globals = graft.pipe.PipeGlobals(
      graft.Scratch.dir("graft_mm_stage"), "mcr", "/tmp")
    val lines = asMediaTable(Tables.documents(s, d))
      .select(concat_ws(":",
        col("media_id"), hex(col("payload"))).as("value")).as[String]
    graft.pipe.ExternalPipeline.run(lines, None, spec, globals)
      .select(col("line"))
      .orderBy("line")
  }

  /** Media dedup by content hash (the image-dedup shape): group binary
    * payloads by md5, keep the lowest id per group — the payload itself
    * never shuffles, only (hash, id, n_bytes) project through the
    * exchange; survivors join their payload back by id if needed. */
  private val m04 = Q(
    "m04_media_dedup",
    """SELECT md5(text) AS payload_md5,
              min(doc_id) AS keep_id,
              count(*) AS n_copies,
              CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes
       FROM documents
       GROUP BY md5(text) ORDER BY payload_md5""") { (s, d) =>
    import s.implicits._
    asMediaTable(Tables.documents(s, d))
      .select(col("media_id"), md5(col("payload")).as("payload_md5"),
        col("n_bytes"))
      .groupBy("payload_md5")
      .agg(min(col("media_id")).as("keep_id"),
        count(lit(1)).as("n_copies"),
        sum(col("n_bytes")).as("total_bytes"))
      .orderBy("payload_md5")
  }

  /** Media NEAR-dup detection — m04 catches byte-identical copies; this
    * catches re-encodes/corruptions that perturb a few bytes: a 64-bit
    * simhash over overlapping byte 4-grams of the payload (hex-lifted —
    * every byte boundary starts a shingle, so the fingerprint is robust
    * to local edits AND to byte shifts, unlike fixed-frame hashing),
    * banded 4×16 bits so hamming ≤ 3 pairs are found by equi-join
    * pigeonhole — never an O(n²) payload comparison.
    *
    * Scale shape: d11's contract on binary — payloads are hashed
    * map-side and never shuffle; only (media_id, 64-bit sig) enter the
    * band join, the packed signature rides the band rows so the pair
    * stage never joins back, and the bucket cap kills degenerate bands.
    * Output is the pair census per hamming distance. */
  private val m05 = Q(
    "m05_media_near_dup",
    """WITH hx AS (SELECT doc_id, hex(encode(text)) AS h FROM documents),
       hashed AS MATERIALIZED (
         SELECT doc_id,
                list_transform(generate_series(1, length(h) - 7, 2),
                  i -> md5(substring(h, i, 8))) AS md5s
         FROM hx),
       s AS MATERIALIZED (
         SELECT doc_id,
                array_to_string(list_transform(generate_series(1, 64), i ->
                  CASE WHEN list_sum(list_transform(md5s, m ->
                    CASE WHEN i <= 32
                         THEN CASE WHEN substring(m, i, 1) IN ('8','9','a','b','c','d','e','f')
                              THEN 1 ELSE -1 END
                         ELSE CASE WHEN substring(m, i - 32, 1) IN ('1','3','5','7','9','b','d','f')
                              THEN 1 ELSE -1 END
                    END)) > 0 THEN '1' ELSE '0' END), '') AS sig
         FROM hashed),
       bands AS MATERIALIZED (
         SELECT doc_id, b, substring(sig, b*16 + 1, 16) AS bits
         FROM s, (SELECT unnest(generate_series(0, 3)) AS b) bs),
       cand AS MATERIALIZED (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b
           ON a.b = b.b AND a.bits = b.bits AND a.doc_id < b.doc_id),
       h AS (
         SELECT id_a, id_b,
                CAST(list_sum(list_transform(generate_series(1, 64), i ->
                  CASE WHEN substring(sa.sig, i, 1) = substring(sb.sig, i, 1)
                       THEN 0 ELSE 1 END)) AS BIGINT) AS hamming
         FROM cand JOIN s sa ON sa.doc_id = id_a JOIN s sb ON sb.doc_id = id_b)
       SELECT hamming, count(*) AS n_pairs,
              min(id_a) AS min_id_a, max(id_b) AS max_id_b
       FROM h WHERE hamming <= 3
       GROUP BY hamming ORDER BY hamming""") { (s, d) =>
    val media = Dedup.spreadToCores(asMediaTable(Tables.documents(s, d)).toDF())
    val sigs = Dedup.reuse(media
      .select(col("media_id").as("doc_id"), hex(col("payload")).as("h"))
      .withColumn("md5s",
        expr("transform(sequence(1, length(h) - 7, 2), i -> md5(substring(h, i, 8)))"))
      .select(col("doc_id"), graft.functions.SimHash64.simhash64(col("md5s")).as("sig"))
      .withColumn("si", expr(
        "transform(sequence(0, 3), b -> cast(conv(substring(sig, b*16 + 1, 16), 2, 10) as bigint))")))
    val bands0 = sigs.select(col("doc_id"), col("si"),
      posexplode(array((0 until 4).map(b => substring(col("sig"), b * 16 + 1, 16)): _*))
        .as(Seq("b", "bits")))
    val bands = Dedup.dropOversizedBuckets(bands0, Seq("b", "bits"), Dedup.DefaultBucketCap)
    bands.as("a")
      .join(bands.as("b"),
        col("a.b") === col("b.b") && col("a.bits") === col("b.bits")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        expr("aggregate(zip_with(a.si, b.si, (x, y) -> bit_count(x ^ y)), 0, (acc, c) -> acc + c)")
          .cast(LongType).as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
      .groupBy("hamming")
      .agg(count(lit(1)).as("n_pairs"),
        min(col("id_a")).as("min_id_a"), max(col("id_b")).as("max_id_b"))
      .orderBy("hamming")
  }

  /** Cross-modal caption↔embedding alignment scoring — the CLIP-score
    * filter every image-text pair pipeline runs (LAION-style: drop pairs
    * whose caption and media embedding disagree). The TEXT ENCODER IS A
    * STUB (a deterministic ±1 hashed bag-of-words projection into the
    * embedding space — no model runtimes in this container, builder
    * directive); the Spark side a real deployment needs is all here and
    * real: the caption table and the media-embedding table joined 1:1 by
    * id, the projection computed MAP-SIDE on the caption scan (one md5
    * per token, reused across all 64 dims), exact integer dot/norms via
    * the fused long_dot Expression, one fp divide per pair, and a
    * threshold verdict — swap the projection lambda for a model server
    * call and the plan is unchanged.
    *
    * Scale shape: narrow scan + one equi-join on the id; only the id,
    * the 64-long projection, and the quantized embedding cross the
    * exchange — no payloads, no token stream. */
  private val m06 = Q(
    "m06_caption_alignment",
    """WITH tok AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       h AS (
         SELECT doc_id,
                ('0x' || substring(md5(term), 1, 8))::BIGINT % 64 AS dim,
                CASE WHEN ('0x' || substring(md5(term), 9, 8))::BIGINT % 2 = 0
                     THEN 1 ELSE -1 END AS sgn
         FROM tok),
       dims AS (SELECT unnest(generate_series(0, 63)) AS dim),
       tv AS (
         SELECT d.doc_id, x.dim, coalesce(sum(h.sgn), 0) AS tval
         FROM (SELECT DISTINCT doc_id FROM documents) d CROSS JOIN dims x
         LEFT JOIN h ON h.doc_id = d.doc_id AND h.dim = x.dim
         GROUP BY d.doc_id, x.dim),
       tvl AS (SELECT doc_id, list(tval ORDER BY dim) AS tv FROM tv GROUP BY doc_id),
       e AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         FROM embeddings),
       sc AS (
         SELECT t.doc_id,
                CAST(list_sum(list_transform(generate_series(1, 64), i -> t.tv[i] * e.v[i])) AS BIGINT) AS dot,
                CAST(list_sum(list_transform(t.tv, x -> x * x)) AS BIGINT) AS t2,
                CAST(list_sum(list_transform(e.v, x -> x * x)) AS BIGINT) AS e2
         FROM tvl t JOIN e ON e.vec_id = t.doc_id)
       SELECT doc_id AS media_id,
              round(dot / (sqrt(t2) * sqrt(e2)), 6) AS align_cos,
              (dot >= 0) AS kept
       FROM sc WHERE t2 > 0 ORDER BY media_id""") { (s, d) =>
    val dot64 = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      graft.functions.LongDot.long_dot(a, b)
    // STUB text encoder: token t → dim h1(t) mod 64, sign from h2(t)
    // parity; one md5 per token (shingleHashPairs), reused by all dims
    val tproj = Tables.documents(s, d)
      .select(col("doc_id"),
        Dedup.shingleHashPairs(split(col("text"), " ")).as("hv"))
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(63)), dim =>
          aggregate(col("hv"), lit(0L), (acc, p) =>
            acc + when(p.getField("h1") % 64 === dim.cast("long"),
              when(p.getField("h2") % 2 === 0, 1L).otherwise(-1L))
              .otherwise(0L))).as("tv"))
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast("double") * 1000000).cast("long"))
          .as("v"))
    tproj.join(e, col("vec_id") === col("doc_id"))
      .select(col("doc_id"),
        dot64(col("tv"), col("v")).as("dot"),
        dot64(col("tv"), col("tv")).as("t2"),
        dot64(col("v"), col("v")).as("e2"))
      .filter(col("t2") > 0)
      .select(col("doc_id").as("media_id"),
        round(col("dot") / (sqrt(col("t2")) * sqrt(col("e2"))), 6).as("align_cos"),
        (col("dot") >= 0).as("kept"))
      .orderBy("media_id")
  }

  /** Video/media near-dup via frame-fingerprint SET Jaccard — the
    * production video-dedup design (per-frame fingerprints, set overlap
    * between media): two media items are near-dups when ≥ half their
    * frame fingerprints coincide, which catches re-uploads, trims and
    * prefix-sharing edits that a whole-payload hash (m04) misses and a
    * byte-simhash (m05) only scores pairwise. Frames are m02's 64-byte
    * windows (hex-lifted; the decode stub stands in for a perceptual
    * per-frame hash — swap the fingerprint expression, keep the plan).
    *
    * Architecture point: banding AND exact verification run through the
    * SAME engine as text dedup — `lshBucketsAndShinglesFromArray` +
    * `pairOverlapStats` over the frame array — so the dedup machinery
    * is modality-generic by construction. Only 8-byte frame hashes and
    * ids shuffle; payloads never cross an exchange (the m04 discipline).
    * Banded candidates keep the pair space LSH-bounded at 100 TB; the
    * oracle mirrors the banding, so candidate recall is engine-identical
    * (the d03/d15 contract). */
  private val m07 = Q(
    "m07_media_frame_dedup",
    """WITH hx AS (
         SELECT doc_id, hex(encode(text)) AS hx FROM documents),
       fs AS (
         SELECT doc_id, substring(hx, (i-1)*128 + 1, 128) AS sh
         FROM (SELECT doc_id, hx,
                      unnest(generate_series(1, (length(hx) + 127) // 128)) AS i
               FROM hx)),
       hs AS (
         SELECT doc_id, ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(sh), 9, 8))::BIGINT AS h2
         FROM fs),
       sig AS (
         SELECT doc_id, seed, min(h1 + seed * h2) AS mh
         FROM hs, (SELECT unnest(generate_series(0, 7)) AS seed) seeds
         GROUP BY doc_id, seed),
       bands AS (
         SELECT doc_id, CAST(seed // 2 AS INT) AS band,
                md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT)),
       pairs AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       shd AS (SELECT DISTINCT doc_id, h1 * 134217728 + h2 % 134217728 AS h
               FROM hs),
       sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
       inter AS (
         SELECT p.id_a, p.id_b, count(*) AS ni
         FROM pairs p
           JOIN shd a ON a.doc_id = p.id_a
           JOIN shd b ON b.doc_id = p.id_b AND b.h = a.h
         GROUP BY p.id_a, p.id_b),
       sc AS (
         SELECT i.id_a, i.id_b, i.ni, sa.n AS na, sb.n AS nb,
                i.ni * 1.0 / (sa.n + sb.n - i.ni) AS j
         FROM inter i
           JOIN sz sa ON sa.doc_id = i.id_a
           JOIN sz sb ON sb.doc_id = i.id_b)
       SELECT id_a AS media_a, id_b AS media_b, ni AS shared_frames,
              na, nb, round(j, 6) AS jaccard
       FROM sc WHERE j >= 0.5
       ORDER BY media_a, media_b""") { (s, d) =>
    // both engines' hex(binary) is UPPERCASE (verified: DuckDB
    // hex(encode('z')) = '7A') — md5 of the frame window sees identical
    // bytes with no case normalization
    val hx = Tables.documents(s, d)
      .select(col("doc_id").as("id"),
        hex(encode(col("text"), "UTF-8")).as("hx"))
    val fr = hx.select(col("id"), expr(
      "transform(sequence(1, (length(hx) + 127) div 128), " +
        "i -> substring(hx, (i-1)*128 + 1, 128))").as("fs"))
    val (buckets, frames) = Dedup.lshBucketsAndShinglesFromArray(
      fr, "id", "fs", bands = 4, rowsPerBand = 2)
    Dedup.pairOverlapStats(Dedup.candidatePairs(buckets, materialize = false), frames)
      .withColumn("j", col("ni") * lit(1.0) / (col("na") + col("nb") - col("ni")))
      .filter(col("j") >= 0.5)
      .select(col("id_a").as("media_a"), col("id_b").as("media_b"),
        col("ni").as("shared_frames"), col("na"), col("nb"),
        round(col("j"), 6).as("jaccard"))
      .orderBy("media_a", "media_b")
  }

  /** Metadata-gated media quality census (the DataComp-style pre-decode
    * filter): width/height/duration live in the media TABLE's metadata —
    * no payload is ever touched, which is the entire point at 100 TB
    * (the reject decision must not cost a decode). The fixture carries
    * no real media, so the metadata is synthesized DETERMINISTICALLY
    * from doc_id hashes (oracle replays it); the gates are the usual
    * ones — min short-side 240 px, aspect ≤ 3:1, duration ≤ 600 s —
    * applied in a fixed priority so each record gets ONE verdict. Pure
    * map-side column math + one hash agg over (source, verdict): the
    * only shuffle carries 4-field census rows. */
  private val m08 = Q(
    "m08_media_quality_census",
    """WITH nib AS (
         SELECT doc_id, source,
                md5(CAST(doc_id AS VARCHAR) || ':w') AS hw,
                md5(CAST(doc_id AS VARCHAR) || ':h') AS hh,
                md5(CAST(doc_id AS VARCHAR) || ':d') AS hd
         FROM documents),
       v AS (
         SELECT doc_id, source,
                120 + (((strpos('0123456789abcdef', substring(hw, 1, 1)) - 1) * 4096 +
                        (strpos('0123456789abcdef', substring(hw, 2, 1)) - 1) * 256 +
                        (strpos('0123456789abcdef', substring(hw, 3, 1)) - 1) * 16 +
                        (strpos('0123456789abcdef', substring(hw, 4, 1)) - 1)) % 32) * 60 AS w,
                120 + (((strpos('0123456789abcdef', substring(hh, 1, 1)) - 1) * 4096 +
                        (strpos('0123456789abcdef', substring(hh, 2, 1)) - 1) * 256 +
                        (strpos('0123456789abcdef', substring(hh, 3, 1)) - 1) * 16 +
                        (strpos('0123456789abcdef', substring(hh, 4, 1)) - 1)) % 32) * 60 AS h,
                1 + ((strpos('0123456789abcdef', substring(hd, 1, 1)) - 1) * 4096 +
                     (strpos('0123456789abcdef', substring(hd, 2, 1)) - 1) * 256 +
                     (strpos('0123456789abcdef', substring(hd, 3, 1)) - 1) * 16 +
                     (strpos('0123456789abcdef', substring(hd, 4, 1)) - 1)) % 900 AS dur
         FROM nib),
       cl AS (
         SELECT source,
                CASE WHEN least(w, h) < 240 THEN 'too_small'
                     WHEN greatest(w, h) > 3 * least(w, h) THEN 'bad_aspect'
                     WHEN dur > 600 THEN 'too_long' ELSE 'kept' END AS verdict,
                dur
         FROM v)
       SELECT source, verdict, CAST(count(*) AS BIGINT) AS n_media,
              CAST(sum(dur) AS BIGINT) AS total_seconds
       FROM cl GROUP BY source, verdict ORDER BY source, verdict""") { (s, d) =>
    def nib(salt: String): org.apache.spark.sql.Column =
      conv(substring(md5(concat(col("doc_id").cast("string"), lit(salt))), 1, 4), 16, 10)
        .cast(LongType)
    val v = Tables.documents(s, d).select(col("doc_id"), col("source"),
      (lit(120L) + (nib(":w") % 32) * 60).as("w"),
      (lit(120L) + (nib(":h") % 32) * 60).as("h"),
      (lit(1L) + nib(":d") % 900).as("dur"))
    v.withColumn("verdict",
        when(least(col("w"), col("h")) < 240, "too_small")
          .when(greatest(col("w"), col("h")) > least(col("w"), col("h")) * 3, "bad_aspect")
          .when(col("dur") > 600, "too_long")
          .otherwise("kept"))
      .groupBy("source", "verdict")
      .agg(count(lit(1)).as("n_media"), sum(col("dur")).as("total_seconds"))
      .orderBy("source", "verdict")
  }

  /** Interleaved image-text sequence packing (the multimodal t12): a
    * vision-language training sequence budgets image patches alongside
    * text — each image placeholder costs a FIXED patch-token budget (576
    * = a 24×24 ViT grid), so the packing unit is effective tokens =
    * n_text_tokens + 576·n_images (image count synthesized
    * deterministically as doc_id mod 4; the fixture ships no real
    * interleaving). Packing reuses t12's `distributedPrefixSum` — range
    * partition, local sums, broadcast offsets; parallelism = partition
    * count, never a one-task global window — with sequence id =
    * cumulative-effective div 8192; the census reports per-source
    * sequence counts, image totals, and fill factor. */
  private val m09 = Q(
    "m09_interleaved_packing",
    """WITH t AS (
         SELECT doc_id, source,
                len(string_split(text, ' ')) + (doc_id % 4) * 576 AS eff,
                doc_id % 4 AS n_images
         FROM documents),
       c AS (
         SELECT source, doc_id, eff, n_images,
                sum(eff) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM t),
       b AS (SELECT source, doc_id, eff, n_images,
                    CAST((cum - eff) // 8192 AS BIGINT) AS seq FROM c),
       per_seq AS (
         SELECT source, seq, count(*) AS n_docs,
                CAST(sum(eff) AS BIGINT) AS seq_tokens,
                CAST(sum(n_images) AS BIGINT) AS seq_images
         FROM b GROUP BY source, seq)
       SELECT source, count(*) AS n_seqs,
              CAST(sum(seq_tokens) AS BIGINT) AS total_eff_tokens,
              CAST(sum(seq_images) AS BIGINT) AS total_images,
              max(seq_tokens) AS max_seq_tokens,
              round(CAST(sum(seq_tokens) AS DOUBLE) / (count(*) * 8192), 4) AS fill
       FROM per_seq GROUP BY source ORDER BY source""") { (s, d) =>
    val e = Tables.documents(s, d).select(col("doc_id"), col("source"),
      (size(split(col("text"), " ")).cast(LongType) + (col("doc_id") % 4) * 576).as("eff"),
      (col("doc_id") % 4).as("n_images"))
    val b = TextAnalysis.distributedPrefixSum(e, "source", "doc_id", "eff", "cum")
      .withColumn("seq", expr("(cum - eff) div 8192"))
    b.groupBy("source", "seq")
      .agg(count(lit(1)).as("n_docs"), sum(col("eff")).as("seq_tokens"),
        sum(col("n_images")).as("seq_images"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_seqs"),
        sum(col("seq_tokens")).as("total_eff_tokens"),
        sum(col("seq_images")).as("total_images"),
        max(col("seq_tokens")).as("max_seq_tokens"),
        round(sum(col("seq_tokens")).cast("double") / (count(lit(1)) * 8192), 4)
          .as("fill"))
      .orderBy("source")
  }

  /** The m10/m11 re-encoded-variant batch: appended-metadata re-uploads
    * (`%5=0`), tail trims (`%5=1`), byte-order scrambles (`%5=2`) —
    * (id, payload), id = the source media's id. */
  private[graft] def mediaVariants(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 5 <= 2).select(col("doc_id").as("id"),
      encode(
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" reup")))
          .when(col("doc_id") % 5 === 1,
            expr("substring(text, 1, greatest(length(text) - 24, 1))"))
          .otherwise(reverse(col("text"))), "UTF-8").as("payload"))

  /** Stubbed decode + dHash, shared by the m10 batch detector and the
    * m11 maintained store: 65-byte "pixel" grid at stride 8 (hex-lifted),
    * gradient bits px[i] > px[i+1], 4 packed 16-bit ints for the cheap
    * hamming. Input (id, payload) → output (id, sig, si): the payload is
    * consumed map-side and never emitted, so nothing downstream can
    * shuffle it. */
  private[graft] def sigs(side: DataFrame): DataFrame = side
    .withColumn("hx", hex(col("payload")))
    .withColumn("px", expr(
      "transform(sequence(0, 64), p -> IF(octet_length(payload) > p*8, " +
        "cast(conv(substring(hx, p*16+1, 2), 16, 10) as int), 0))"))
    .withColumn("sig", expr(
      "array_join(transform(sequence(1, 64), i -> IF(px[i-1] > px[i], '1', '0')), '')"))
    .withColumn("si", expr(
      "transform(sequence(0, 3), b -> cast(conv(substring(sig, b*16 + 1, 16), 2, 10) as bigint))"))
    .select(col("id"), col("sig"), col("si"))

  /** 4×16-bit banding of dHash signatures (pigeonhole-complete for
    * hamming ≤ 3; at the τ = 4 gate both engines apply the identical
    * band-recall rule). The all-zero band (the "empty region" every
    * short payload shares) is ineligible as a join key; buckets are
    * capped at [[Dedup.DefaultBucketCap]], the 1000 the oracles' QUALIFY
    * mirrors hardcode. */
  private[graft] def bands(sg: DataFrame): DataFrame = {
    val exploded = sg.select(col("id"), col("si"),
      posexplode(array((0 until 4).map(k => substring(col("sig"), k * 16 + 1, 16)): _*))
        .as(Seq("b", "bits")))
      .filter(col("bits") =!= "0" * 16)
    Dedup.dropOversizedBuckets(exploded, Seq("b", "bits"), Dedup.DefaultBucketCap)
  }

  /** Exact hamming distance from the packed 16-bit band ints (column
    * names resolved in the caller's plan). */
  private[graft] def hamming(sa: String, sb: String): Column =
    expr(s"aggregate(zip_with($sa, $sb, (x, y) -> bit_count(x ^ y)), " +
      "0, (acc, c) -> acc + c)").cast(LongType)

  /** The hamming-verified media admission gate shared by m11's batch
    * phases and s35's micro-batches: candidates (id_a=arrival,
    * id_b=stored) are tombstone-filtered BEFORE verification (the d56
    * discipline — tombstones broadcast), verified at hamming ≤ 4 against
    * the packed-signature store, and the arrival batch anti-joins the
    * duplicate set. `arrivalIds`: one `id` column; `aS`: the batch's
    * [[sigs]] output. Only ids, band keys, and 4-long vectors travel. */
  private[graft] def mediaAdmissions(arrivalIds: DataFrame, aS: DataFrame,
      cand: DataFrame, sigStore: DataFrame, tomb: Option[DataFrame]): DataFrame = {
    val live = tomb.fold(cand)(t =>
      cand.join(broadcast(t.select(col("id").as("id_b"))), Seq("id_b"), "left_anti"))
    val dup = live
      .join(aS.select(col("id").as("id_a"), col("si").as("sva")), Seq("id_a"))
      .join(sigStore.select(col("id").as("id_b"), col("si").as("svb")), Seq("id_b"))
      .filter(hamming("sva", "svb") <= 4)
      .select(col("id_a").as("id")).distinct()
    arrivalIds.join(dup, Seq("id"), "left_anti")
  }

  /** Perceptual-hash (dHash) near-dup detection between a media corpus
    * and a batch of re-encoded variants — the re-upload / trim detector
    * that byte-exact dedup (m04) misses and token-simhash (m05) only
    * approximates. The DECODE IS THE STANDARD STUB (builder-prompt
    * directive): a real deployment decodes pixels with a codec; here the
    * "pixel grid" is 65 payload bytes sampled at stride 8 (hex-lifted so
    * a VARCHAR-only oracle replays it byte-exactly). Everything after
    * the decode is the real difference-hash pipeline: bit i = pixel[i] >
    * pixel[i+1] (the gradient hash — measured 13× fewer cross-doc false
    * positives than mean-threshold aHash on this corpus, because text
    * bytes are letter-frequency-dominated and aHash's global mean
    * threshold collapses to "is this byte a letter") → 64-bit signature
    * → 4×16-bit banded join (pigeonhole-complete for hamming ≤ 3; at the
    * τ = 4 gate both engines apply the identical band-recall rule) →
    * exact hamming verification → per-variant census. Measured at
    * sf0.001: appended-metadata re-uploads (max hamming 2) and tail
    * trims (max 4) are 100% detected; byte-order scrambles sit at
    * median hamming 18 and leak < 7%; unrelated-pair background is
    * 0.35%.
    *
    * Scale shape: signatures are map-side column math (one scan per
    * side, payloads never shuffle — only 8-byte ids + 16-char band keys
    * + 4 packed longs cross the exchange); the all-zero band (the
    * "empty region" every short payload shares) is ineligible as a join
    * key, and the d03/d11 oversized-bucket guard caps template-prefix
    * pileups before the pair join. The oracle mirrors the cap (QUALIFY
    * count OVER (band) <= 1000 per side, [[Dedup.DefaultBucketCap]]) so an over-cap fixture bucket degrades both engines
    * identically instead of silently desynchronizing recall. */
  /** The dHash replay CTEs shared by the m10 and m11 oracles: corpus
    * (`pa` → bands `ba`) and variant-batch (`vb`/`pb` → bands `bb`)
    * signatures via the hex-lifted stubbed decode, with the m10-measured
    * gradient-hash arithmetic and the cap/zero-band rules mirrored. */
  private def dhashOracleCtes: String =
    """pa AS (
         SELECT doc_id AS id, hex(encode(text)) AS hx,
                octet_length(encode(text)) AS nb
         FROM documents),
       vb AS (
         SELECT doc_id AS id,
                CASE WHEN doc_id % 5 = 0 THEN text || ' reup'
                     WHEN doc_id % 5 = 1 THEN substring(text, 1, greatest(length(text) - 24, 1))
                     ELSE reverse(text) END AS t
         FROM documents WHERE doc_id % 5 <= 2),
       pb AS (SELECT id, hex(encode(t)) AS hx, octet_length(encode(t)) AS nb FROM vb),
       ga AS (
         SELECT id, list_transform(generate_series(0, 64), p ->
                  CASE WHEN nb > p*8
                       THEN 16*(strpos('0123456789ABCDEF', substring(hx, p*16+1, 1))-1)
                          + (strpos('0123456789ABCDEF', substring(hx, p*16+2, 1))-1)
                       ELSE 0 END) AS px
         FROM pa),
       gb AS (
         SELECT id, list_transform(generate_series(0, 64), p ->
                  CASE WHEN nb > p*8
                       THEN 16*(strpos('0123456789ABCDEF', substring(hx, p*16+1, 1))-1)
                          + (strpos('0123456789ABCDEF', substring(hx, p*16+2, 1))-1)
                       ELSE 0 END) AS px
         FROM pb),
       sa AS MATERIALIZED (
         SELECT id, array_to_string(list_transform(generate_series(1, 64), i ->
                  CASE WHEN px[i] > px[i+1] THEN '1' ELSE '0' END), '') AS sig
         FROM ga),
       sb AS MATERIALIZED (
         SELECT id, array_to_string(list_transform(generate_series(1, 64), i ->
                  CASE WHEN px[i] > px[i+1] THEN '1' ELSE '0' END), '') AS sig
         FROM gb),
       ba AS (
         SELECT id, b, substring(sig, b*16 + 1, 16) AS bits
         FROM sa, (SELECT unnest(generate_series(0, 3)) AS b) bs
         WHERE substring(sig, b*16 + 1, 16) <> '0000000000000000'
         QUALIFY count(*) OVER (PARTITION BY b, substring(sig, b*16 + 1, 16)) <= 1000),
       bb AS (
         SELECT id, b, substring(sig, b*16 + 1, 16) AS bits
         FROM sb, (SELECT unnest(generate_series(0, 3)) AS b) bs
         WHERE substring(sig, b*16 + 1, 16) <> '0000000000000000'
         QUALIFY count(*) OVER (PARTITION BY b, substring(sig, b*16 + 1, 16)) <= 1000)"""

  private val m10 = Q(
    "m10_perceptual_hash_dedup",
    s"""WITH $dhashOracleCtes,
       h AS (
         SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                CAST(list_sum(list_transform(generate_series(1, 64), i ->
                  CASE WHEN substring(sa.sig, i, 1) = substring(sb.sig, i, 1)
                       THEN 0 ELSE 1 END)) AS BIGINT) AS hamming
         FROM ba a JOIN bb b ON a.b = b.b AND a.bits = b.bits
           JOIN sa ON sa.id = a.id JOIN sb ON sb.id = b.id)
       SELECT CASE WHEN id_b % 5 = 0 THEN 'reup'
                   WHEN id_b % 5 = 1 THEN 'trim' ELSE 'scramble' END AS variant,
              hamming, count(*) AS n_pairs,
              min(id_a) AS min_id_a, max(id_b) AS max_id_b
       FROM h WHERE hamming <= 4
       GROUP BY 1, 2 ORDER BY 1, 2""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val a = docs.select(col("doc_id").as("id"),
      encode(col("text"), "UTF-8").as("payload"))
    val b = mediaVariants(docs)
    bands(sigs(a)).as("a")
      .join(bands(sigs(b)).as("b"),
        col("a.b") === col("b.b") && col("a.bits") === col("b.bits"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming("a.si", "b.si").as("hamming"))
      .filter(col("hamming") <= 4)
      .distinct()
      .select(
        when(col("id_b") % 5 === 0, "reup")
          .when(col("id_b") % 5 === 1, "trim").otherwise("scramble").as("variant"),
        col("hamming"), col("id_a"), col("id_b"))
      .groupBy("variant", "hamming")
      .agg(count(lit(1)).as("n_pairs"),
        min(col("id_a")).as("min_id_a"), max(col("id_b")).as("max_id_b"))
      .orderBy("variant", "hamming")
  }

  /** m11 — the MAINTAINED media-fingerprint store: d56/d57's takedown
    * lifecycle on the modality where takedown requests actually land.
    * m10 is batch-only (both sides re-signed per run); here the corpus
    * dHash signatures are written ONCE as two stores — the 4×16-bit band
    * index as a bucketed table ([[Dedup.writeBandIndex]], probed
    * exchange-free) and the packed-signature table for hamming
    * verification — and each arriving media batch probes them for a
    * duplicate verdict. Three phases over one arrival batch:
    *
    *  - `pre`: the full store serves; every variant with a hamming ≤ 4
    *    partner is dropped;
    *  - `post_tombstone`: a media takedown landed (corpus ids % 9 = 4 —
    *    measured non-vacuous at every verify SF) — the tombstone set
    *    broadcasts and anti-joins CANDIDATES out before verification, so
    *    a removed media item no longer claims arrivals as duplicates
    *    (re-admission, the d56 semantics);
    *  - `post_compact`: both stores rewritten minus the tombstoned ids
    *    (band index via [[Dedup.compactBandIndex]] — same bucketBy spec,
    *    layout survives; signature store anti-joined) and probed
    *    UNFILTERED — required to admit identically to `post_tombstone`
    *    (the d57 invariant on the media surface).
    *
    * Payloads NEVER shuffle: the stores hold only (bk, id) and (id, 4
    * longs); arrivals are consumed map-side by the signature pass
    * (plan-asserted in RoundElevenSpec). */
  private val m11 = Q(
    "m11_media_fingerprint_store",
    s"""WITH $dhashOracleCtes,
       cand AS MATERIALIZED (
         SELECT DISTINCT b.id AS id_a, a.id AS id_b,
                CAST(list_sum(list_transform(generate_series(1, 64), i ->
                  CASE WHEN substring(sb.sig, i, 1) = substring(sa.sig, i, 1)
                       THEN 0 ELSE 1 END)) AS BIGINT) AS hamming
         FROM bb b JOIN ba a ON a.b = b.b AND a.bits = b.bits
           JOIN sa ON sa.id = a.id JOIN sb ON sb.id = b.id),
       tomb AS (SELECT id FROM pa WHERE id % 9 = 4),
       adm0 AS MATERIALIZED (
         SELECT id FROM vb
         WHERE id NOT IN (SELECT id_a FROM cand WHERE hamming <= 4)),
       adm1 AS MATERIALIZED (
         SELECT id FROM vb
         WHERE id NOT IN (
           SELECT id_a FROM cand
           WHERE hamming <= 4 AND id_b NOT IN (SELECT id FROM tomb)))
       SELECT phase, n_arrived, n_dropped, n_admitted, n_readmitted, sum_admitted_ids
       FROM (
         SELECT 'pre' AS phase,
                (SELECT count(*) FROM vb) AS n_arrived,
                (SELECT count(*) FROM vb) - (SELECT count(*) FROM adm0) AS n_dropped,
                (SELECT count(*) FROM adm0) AS n_admitted,
                CAST(0 AS BIGINT) AS n_readmitted,
                (SELECT CAST(coalesce(sum(id), 0) AS BIGINT) FROM adm0) AS sum_admitted_ids
         UNION ALL
         SELECT 'post_tombstone',
                (SELECT count(*) FROM vb),
                (SELECT count(*) FROM vb) - (SELECT count(*) FROM adm1),
                (SELECT count(*) FROM adm1),
                (SELECT count(*) FROM adm1 WHERE id NOT IN (SELECT id FROM adm0)),
                (SELECT CAST(coalesce(sum(id), 0) AS BIGINT) FROM adm1)
         UNION ALL
         SELECT 'post_compact',
                (SELECT count(*) FROM vb),
                (SELECT count(*) FROM vb) - (SELECT count(*) FROM adm1),
                (SELECT count(*) FROM adm1),
                (SELECT count(*) FROM adm1 WHERE id NOT IN (SELECT id FROM adm0)),
                (SELECT CAST(coalesce(sum(id), 0) AS BIGINT) FROM adm1))
       ORDER BY phase""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val corpus = docs.select(col("doc_id").as("id"),
      encode(col("text"), "UTF-8").as("payload"))
    val arrivals = mediaVariants(docs)

    // store build: ONE signature pass over corpus payloads feeds BOTH
    // stores; payloads end at this map stage
    val cS = Dedup.reuse(sigs(corpus))
    val idxTable = "graft_band_index_m11_" +
      graft.Scratch.nameTag()
    val sigDir = graft.Scratch.dir("graft_m11_sigs")
    // both store writes read the one persisted signature pass — overlap
    // them (guide §2.6)
    Dedup.inParallel(
      () => Dedup.writeBandIndex(s, bands(cS)
        .select(col("b").as("band"), col("bits").as("band_key"), col("id")), idxTable),
      () => cS.select(col("id"), col("si")).write.mode("overwrite").parquet(sigDir))

    // arrivals: ONE digest pass; band keys probe the stored index
    val aS = Dedup.reuse(sigs(arrivals))
    val aBands = bands(aS)
      .select(col("b").as("band"), col("bits").as("band_key"), col("id"))
    val cand = Dedup.reuse(Dedup.probeBandIndex(s, idxTable, aBands))
    val tomb = Dedup.reuse(corpus.filter(col("id") % 9 === 4).select("id"))

    val stored = s.read.schema("id LONG, si ARRAY<BIGINT>").parquet(sigDir)
    val admPre = Dedup.reuse(
      mediaAdmissions(arrivals.select("id"), aS, cand, stored, None))
    val admPostT = mediaAdmissions(arrivals.select("id"), aS, cand, stored, Some(tomb))
    // compaction: new generation of BOTH stores, probed UNFILTERED —
    // two independent rewrites, overlapped (guide §2.6)
    var cIdx: String = null
    val cSigDir = graft.Scratch.dir("graft_m11c_sigs")
    Dedup.inParallel(
      () => cIdx = Dedup.compactBandIndex(s, idxTable, tomb, "m11c"),
      // distinct collapses crash-retry residue (re-appended signature
      // rows), like every other store compaction
      () => stored.join(broadcast(tomb), Seq("id"), "left_anti")
        .distinct().write.mode("overwrite").parquet(cSigDir))
    val admPostC = mediaAdmissions(arrivals.select("id"), aS,
      Dedup.probeBandIndex(s, cIdx, aBands),
      s.read.schema("id LONG, si ARRAY<BIGINT>").parquet(cSigDir), None)

    def row(phase: String, adm: DataFrame, readmit: DataFrame): DataFrame =
      adm.agg(count(lit(1)).as("n_admitted"),
          coalesce(sum(col("id")), lit(0L)).as("sum_admitted_ids"))
        .crossJoin(broadcast(arrivals.agg(count(lit(1)).as("n_arrived"))))
        .crossJoin(broadcast(readmit.agg(count(lit(1)).as("n_readmitted"))))
        .select(lit(phase).as("phase"), col("n_arrived"),
          (col("n_arrived") - col("n_admitted")).as("n_dropped"),
          col("n_admitted"), col("n_readmitted"), col("sum_admitted_ids"))

    row("pre", admPre, admPre.limit(0))
      .unionByName(row("post_tombstone", admPostT,
        admPostT.join(admPre, Seq("id"), "left_anti")))
      .unionByName(row("post_compact", admPostC,
        admPostC.join(admPre, Seq("id"), "left_anti")))
      .orderBy("phase")
  }

  /** d68 — CROSS-SURFACE TAKEDOWN ORCHESTRATION: the compliance capstone
    * over the maintained-store program. A real takedown request names
    * DOCUMENTS; the pipeline holds that document's traces on several
    * independent surfaces (text dedup bands d53/d56, retrieval postings
    * t53, media fingerprint bands + signatures m11), and a takedown that
    * reaches some surfaces but not others is exactly the compliance hole
    * d59's scaladoc warns about. d68 drives ONE tombstone set through
    * every doc-keyed surface's own compaction machinery and emits the
    * completeness census per surface: rows before, rows after, and —
    * the invariant — rows still referencing a tombstoned doc after
    * (hash-demanded 0 on every surface; the oracle derives all three
    * numbers from doc sets independently, so a surface whose compaction
    * missed rows fails on ITS census line). Note the media-band line
    * carries build-scope capping (the cap was computed over the full
    * corpus; compaction removes rows, it never re-caps) — mirrored
    * exactly in the oracle's QUALIFY-at-build scope.
    *
    * Scale shape: each surface compacts with its own bucketed rewrite
    * (tombstones broadcast); the census lines are one count per store.
    * Four stores are built in-query — the bench wall is the setup, the
    * marginal takedown cost is the four broadcast anti-joins. */
  private val d68 = Q(
    "d68_cross_surface_takedown",
    s"""WITH docs AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       tsh AS (
         SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM docs)),
       ths AS (
         SELECT doc_id, ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(sh), 9, 8))::BIGINT AS h2
         FROM tsh),
       tsig AS (
         SELECT doc_id, seed, min(h1 + seed * h2) AS mh
         FROM ths, (SELECT unnest(generate_series(0, 7)) AS seed) seeds
         GROUP BY doc_id, seed),
       tband AS MATERIALIZED (
         SELECT doc_id, CAST(seed // 2 AS INT) AS band
         FROM tsig GROUP BY doc_id, CAST(seed // 2 AS INT)),
       post AS MATERIALIZED (
         SELECT DISTINCT doc_id, word FROM (
           SELECT doc_id, unnest(ws) AS word FROM docs) u WHERE len(word) > 0),
       pa AS (
         SELECT doc_id AS id, hex(encode(text)) AS hx,
                octet_length(encode(text)) AS nb
         FROM documents),
       ga AS (
         SELECT id, list_transform(generate_series(0, 64), p ->
                  CASE WHEN nb > p*8
                       THEN 16*(strpos('0123456789ABCDEF', substring(hx, p*16+1, 1))-1)
                          + (strpos('0123456789ABCDEF', substring(hx, p*16+2, 1))-1)
                       ELSE 0 END) AS px
         FROM pa),
       sa AS MATERIALIZED (
         SELECT id, array_to_string(list_transform(generate_series(1, 64), i ->
                  CASE WHEN px[i] > px[i+1] THEN '1' ELSE '0' END), '') AS sig
         FROM ga),
       ba AS MATERIALIZED (
         SELECT id, b, substring(sig, b*16 + 1, 16) AS bits
         FROM sa, (SELECT unnest(generate_series(0, 3)) AS b) bs
         WHERE substring(sig, b*16 + 1, 16) <> '0000000000000000'
         QUALIFY count(*) OVER (PARTITION BY b, substring(sig, b*16 + 1, 16)) <= 1000)
       SELECT surface, n_before, n_after, n_tomb_after FROM (
         SELECT 'text_bands' AS surface,
                (SELECT count(*) FROM tband) AS n_before,
                (SELECT count(*) FROM tband WHERE doc_id % 9 <> 4) AS n_after,
                (SELECT count(*) FROM tband WHERE doc_id % 9 <> 4 AND doc_id % 9 = 4) AS n_tomb_after
         UNION ALL
         SELECT 'bm25_postings',
                (SELECT count(*) FROM post),
                (SELECT count(*) FROM post WHERE doc_id % 9 <> 4),
                (SELECT count(*) FROM post WHERE doc_id % 9 <> 4 AND doc_id % 9 = 4)
         UNION ALL
         SELECT 'media_bands',
                (SELECT count(*) FROM ba),
                (SELECT count(*) FROM ba WHERE id % 9 <> 4),
                (SELECT count(*) FROM ba WHERE id % 9 <> 4 AND id % 9 = 4)
         UNION ALL
         SELECT 'media_sigs',
                (SELECT count(*) FROM pa),
                (SELECT count(*) FROM pa WHERE id % 9 <> 4),
                (SELECT count(*) FROM pa WHERE id % 9 <> 4 AND id % 9 = 4))
       ORDER BY surface""") { (s, d) =>
    import graft.ops.{Dedup, TextAnalysis}
    val docs = Tables.documents(s, d)
    val tombDoc = Dedup.reuse(docs.filter(col("doc_id") % 9 === 4)
      .select(col("doc_id")))
    val tombId = tombDoc.select(col("doc_id").as("id"))

    // The four surfaces' build→compact chains are mutually independent
    // (each reads its own digest/store and writes its own tables/dirs) —
    // run the chains concurrently (guide §2.6); within a chain the
    // compaction still strictly follows its build.
    val (buckets, _) = Dedup.lshBucketsAndShingles(docs, "doc_id", "text",
      shingleWords = 3, bands = 4, rowsPerBand = 2)
    val cS = Dedup.reuse(sigs(docs.select(col("doc_id").as("id"),
      encode(col("text"), "UTF-8").as("payload"))))
    val tText = "graft_band_xst_" + graft.Scratch.nameTag()
    val tMedia = "graft_band_xsm_" + graft.Scratch.nameTag()
    val sigDir = graft.Scratch.dir("graft_xs_sigs")
    val cSigDir = graft.Scratch.dir("graft_xsc_sigs")
    var cText: String = null
    var tPost: String = null
    var cPost: String = null
    var cMedia: String = null
    Dedup.inParallel(
      // surface 1: the text dedup band index
      () => {
        Dedup.writeBandIndex(s, buckets, tText)
        cText = Dedup.compactBandIndex(s, tText, tombId, "xst")
      },
      // surface 2: the BM25 posting store
      () => {
        tPost = TextAnalysis.writePostingStore(s,
          TextAnalysis.postingsOf(docs), "post_xst")
        cPost = TextAnalysis.compactPostingStore(s, tPost, tombDoc, "post_xstc")
      },
      // surface 3: the media fingerprint band index
      () => {
        Dedup.writeBandIndex(s, bands(cS)
          .select(col("b").as("band"), col("bits").as("band_key"), col("id")), tMedia)
        cMedia = Dedup.compactBandIndex(s, tMedia, tombId, "xsm")
      },
      // surface 4: the media signature store
      () => {
        cS.select(col("id"), col("si")).write.mode("overwrite").parquet(sigDir)
        s.read.schema("id LONG, si ARRAY<BIGINT>").parquet(sigDir)
          .join(broadcast(tombId), Seq("id"), "left_anti")
          .distinct().write.mode("overwrite").parquet(cSigDir)
      })

    // the completeness census: per surface, before/after counts and the
    // rows still referencing a tombstoned doc (the hash demands 0)
    def census(surface: String, before: DataFrame, after: DataFrame,
        key: String): DataFrame =
      before.agg(count(lit(1)).as("n_before"))
        .crossJoin(after.agg(count(lit(1)).as("n_after")))
        .crossJoin(after.join(broadcast(
          tombDoc.select(col("doc_id").as(key))), Seq(key))
          .agg(count(lit(1)).as("n_tomb_after")))
        .select(lit(surface).as("surface"), col("n_before"),
          col("n_after"), col("n_tomb_after"))

    census("text_bands", s.table(tText), s.table(cText), "id")
      .unionByName(census("bm25_postings", s.table(tPost), s.table(cPost), "doc_id"))
      .unionByName(census("media_bands", s.table(tMedia), s.table(cMedia), "id"))
      .unionByName(census("media_sigs",
        s.read.schema("id LONG, si ARRAY<BIGINT>").parquet(sigDir),
        s.read.schema("id LONG, si ARRAY<BIGINT>").parquet(cSigDir), "id"))
      .orderBy("surface")
  }

  /** d71 — ATOMIC CROSS-SURFACE TAKEDOWN: d68 proves each surface's
    * compaction is complete, but it publishes nothing — a reader
    * probing DURING the orchestration (or after a crashed one) could
    * see a MIXED state: the text bands compacted but the postings not,
    * admission and retrieval semantics disagreeing about whether a
    * document exists. d71 puts ALL FOUR surface handles in ONE
    * versioned catalog, so the takedown is a single CAS commit: every
    * reader resolves the quadruple atomically and sees the old
    * generation on every surface or the new one on every surface,
    * never a blend.
    *
    * The crash window is the hash-checked centerpiece: the
    * orchestrator compacts TWO surfaces and dies before publishing
    * (`mid_crash`) — two new tables exist on disk, but the catalog
    * still serves generation 1, so the probe's census is REQUIRED to
    * equal `pre` EXACTLY on all four surfaces (tombstoned rows still
    * visible everywhere — consistently). The retry then re-runs the
    * whole orchestration from the CURRENT catalog (new-table
    * discipline: the abandoned half-finished tables are dead weight
    * for GC, never corruption) and lands ONE CAS publish; `post` shows
    * zero tombstone-referencing rows on every surface. Scale shape is
    * d68's (per-surface bucketed rewrites, tombstones broadcast) plus
    * one 4-line file swap. */
  private val d71 = Q(
    "d71_cross_surface_atomic_takedown",
    s"""WITH docs AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       tsh AS (
         SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM docs)),
       ths AS (
         SELECT doc_id, ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(sh), 9, 8))::BIGINT AS h2
         FROM tsh),
       tsig AS (
         SELECT doc_id, seed, min(h1 + seed * h2) AS mh
         FROM ths, (SELECT unnest(generate_series(0, 7)) AS seed) seeds
         GROUP BY doc_id, seed),
       tband AS MATERIALIZED (
         SELECT doc_id, CAST(seed // 2 AS INT) AS band
         FROM tsig GROUP BY doc_id, CAST(seed // 2 AS INT)),
       post AS MATERIALIZED (
         SELECT DISTINCT doc_id, word FROM (
           SELECT doc_id, unnest(ws) AS word FROM docs) u WHERE len(word) > 0),
       pa AS (
         SELECT doc_id AS id, hex(encode(text)) AS hx,
                octet_length(encode(text)) AS nb
         FROM documents),
       ga AS (
         SELECT id, list_transform(generate_series(0, 64), p ->
                  CASE WHEN nb > p*8
                       THEN 16*(strpos('0123456789ABCDEF', substring(hx, p*16+1, 1))-1)
                          + (strpos('0123456789ABCDEF', substring(hx, p*16+2, 1))-1)
                       ELSE 0 END) AS px
         FROM pa),
       sa AS MATERIALIZED (
         SELECT id, array_to_string(list_transform(generate_series(1, 64), i ->
                  CASE WHEN px[i] > px[i+1] THEN '1' ELSE '0' END), '') AS sig
         FROM ga),
       ba AS MATERIALIZED (
         SELECT id, b, substring(sig, b*16 + 1, 16) AS bits
         FROM sa, (SELECT unnest(generate_series(0, 3)) AS b) bs
         WHERE substring(sig, b*16 + 1, 16) <> '0000000000000000'
         QUALIFY count(*) OVER (PARTITION BY b, substring(sig, b*16 + 1, 16)) <= 1000),
       pre AS (
         SELECT 'text_bands' AS surface, count(*) AS n_rows,
                count(*) FILTER (doc_id % 9 = 4) AS n_tomb_refs FROM tband
         UNION ALL
         SELECT 'bm25_postings', count(*),
                count(*) FILTER (doc_id % 9 = 4) FROM post
         UNION ALL
         SELECT 'media_bands', count(*),
                count(*) FILTER (id % 9 = 4) FROM ba
         UNION ALL
         SELECT 'media_sigs', count(*),
                count(*) FILTER (id % 9 = 4) FROM pa),
       pst AS (
         SELECT 'text_bands' AS surface, count(*) AS n_rows,
                CAST(0 AS BIGINT) AS n_tomb_refs FROM tband WHERE doc_id % 9 <> 4
         UNION ALL
         SELECT 'bm25_postings', count(*), 0 FROM post WHERE doc_id % 9 <> 4
         UNION ALL
         SELECT 'media_bands', count(*), 0 FROM ba WHERE id % 9 <> 4
         UNION ALL
         SELECT 'media_sigs', count(*), 0 FROM pa WHERE id % 9 <> 4)
       SELECT phase, surface, CAST(n_rows AS BIGINT) AS n_rows,
              CAST(n_tomb_refs AS BIGINT) AS n_tomb_refs
       FROM (
         SELECT 'pre' AS phase, * FROM pre
         UNION ALL SELECT 'mid_crash', * FROM pre
         UNION ALL SELECT 'post', * FROM pst)
       ORDER BY phase, surface""") { (s, d) =>
    import graft.ops.{Dedup, Incremental, TextAnalysis}
    val docs = Tables.documents(s, d)
    val tombDoc = Dedup.reuse(docs.filter(col("doc_id") % 9 === 4)
      .select(col("doc_id")))
    val tombId = tombDoc.select(col("doc_id").as("id"))

    // generation 1: all four surfaces, ONE catalog — the four builds are
    // independent, so they overlap (guide §2.6; see d68)
    val (buckets, _) = Dedup.lshBucketsAndShingles(docs, "doc_id", "text",
      shingleWords = 3, bands = 4, rowsPerBand = 2)
    val cS = Dedup.reuse(sigs(docs.select(col("doc_id").as("id"),
      encode(col("text"), "UTF-8").as("payload"))))
    val tText = "graft_band_xa_" + graft.Scratch.nameTag()
    val tMedia = "graft_band_xam_" + graft.Scratch.nameTag()
    val sigDir = graft.Scratch.dir("graft_xa_sigs")
    var tPost: String = null
    Dedup.inParallel(
      () => Dedup.writeBandIndex(s, buckets, tText),
      () => tPost = TextAnalysis.writePostingStore(s,
        TextAnalysis.postingsOf(docs), "post_xa"),
      () => Dedup.writeBandIndex(s, bands(cS)
        .select(col("b").as("band"), col("bits").as("band_key"), col("id")), tMedia),
      () => cS.select(col("id"), col("si")).write.mode("overwrite").parquet(sigDir))
    val cat = graft.Scratch.dir("graft_d71_cat") + "/surfaces.catalog"
    Incremental.commitCatalogCas(cat)((_, _) => Seq(tText, tPost, tMedia, sigDir))
    d71Catalog = cat

    // every probe resolves the QUADRUPLE atomically through the catalog
    def probePhase(phase: String): DataFrame = {
      val h = Incremental.resolveCatalog(cat, expect = 4)
      def census(surface: String, df: DataFrame, key: String): DataFrame =
        df.agg(count(lit(1)).as("n_rows"))
          .crossJoin(df.join(broadcast(
            tombDoc.select(col("doc_id").as(key))), Seq(key))
            .agg(count(lit(1)).as("n_tomb_refs")))
          .select(lit(phase).as("phase"), lit(surface).as("surface"),
            col("n_rows"), col("n_tomb_refs"))
      census("text_bands", s.table(h(0)), "id")
        .unionByName(census("bm25_postings", s.table(h(1)), "doc_id"))
        .unionByName(census("media_bands", s.table(h(2)), "id"))
        .unionByName(census("media_sigs",
          s.read.schema("id LONG, si ARRAY<BIGINT>").parquet(h(3)), "id"))
    }

    // the orchestration body: compact all four FROM the current catalog,
    // return the new quadruple — run whole per attempt (new-table
    // discipline makes a re-run safe)
    def compactAll(cur: Seq[String], tag: String): Seq[String] = {
      // four independent rewrites — overlapped; the CAS publish below
      // still lands only after ALL four generations exist (inParallel
      // joins before returning)
      val nSigs = graft.Scratch.dir(s"graft_${tag}_sigs")
      var nText: String = null
      var nPost: String = null
      var nMedia: String = null
      Dedup.inParallel(
        () => nText = Dedup.compactBandIndex(s, cur(0), tombId, s"${tag}t"),
        () => nPost = TextAnalysis.compactPostingStore(s, cur(1), tombDoc, s"post_$tag"),
        () => nMedia = Dedup.compactBandIndex(s, cur(2), tombId, s"${tag}m"),
        () => s.read.schema("id LONG, si ARRAY<BIGINT>").parquet(cur(3))
          .join(broadcast(tombId), Seq("id"), "left_anti")
          .distinct().write.mode("overwrite").parquet(nSigs))
      Seq(nText, nPost, nMedia, nSigs)
    }

    // pre and mid stay LAZY: probePhase binds the generation-1 handles
    // at plan construction (driver-side catalog read), every compaction
    // writes NEW tables/dirs (generation 1 is never mutated), and the
    // retry's CAS publish below only moves the catalog pointer — so the
    // final union executes pre+mid+post in ONE job, where pre's and
    // mid's IDENTICAL generation-1 subtrees (the crash-consistency
    // invariant: mid ≡ pre, hash-demanded) are deduplicated by the
    // cache/exchange-reuse machinery instead of computed twice, and the
    // two eager checkpoint jobs' scheduling floors disappear (§2.4/2.6).
    val pre = probePhase("pre")
    // the CRASH: the orchestrator compacts two surfaces and dies before
    // publishing — half-finished generations exist on disk, the catalog
    // does not know them
    val g1 = Incremental.resolveCatalog(cat, expect = 4)
    Dedup.inParallel(
      () => Dedup.compactBandIndex(s, g1(0), tombId, "xac_t"): Unit,
      () => TextAnalysis.compactPostingStore(s, g1(1), tombDoc, "post_xac"): Unit)
    // a reader DURING/AFTER the crash: generation 1 on every surface —
    // consistently un-compacted, never a blend (hash-demanded ≡ pre)
    val mid = probePhase("mid_crash")
    // the RETRY re-runs the whole orchestration and lands ONE CAS commit
    Incremental.commitCatalogCas(cat) { (_, cur) => compactAll(cur, "xar") }
    val post = probePhase("post")
    pre.unionByName(mid).unionByName(post)
      .orderBy("phase", "surface")
  }

  /** Catalog path of the most recent d71 run (test-only introspection). */
  @volatile private[graft] var d71Catalog: String = _

  val defs: Seq[Q] = Seq(m01, m02, m03, m04, m05, m06, m07, m08, m09, m10,
    m11, d68, d71)
}
