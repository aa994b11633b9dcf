package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * payloads with a typed metadata struct, plus decode / feature-extract /
  * frame-sample stages. Entirely beyond the reference (strings-only).
  *
  * The generic DECODE STEP IS A STUB — this container has no audio/video
  * codecs, so `decodeFeatures` computes deterministic per-byte statistics
  * standing in for a real decoder (swap the marked function body for e.g.
  * a JNI codec call). IMAGES have a REAL path: `decodeImages` decodes
  * PNG/JPEG/GIF/BMP payloads through `javax.imageio` (JRE built-in) after
  * a magic-number sniff, stub-falling-back for everything else — the
  * ASCII fixtures take the fallback, so the oracle rows are unchanged.
  * Everything around it — the binary column, the metadata
  * struct, the typed Dataset batch shape, the partition-parallel execution
  * — is the real 100 TB design:
  *
  *  - payloads never shuffle: decode/featurize are narrow per-partition
  *    stages fused into the scan (WholeStageCodegen for column math;
  *    `mapPartitions` for the byte-level stub, the JVM analog of an
  *    arrow-batched Python UDF).
  *  - metadata is a STRUCT column, so filters on it (width, kind) prune
  *    BEFORE any payload byte is touched, and at scale they push into
  *    parquet row-group statistics.
  */
object MediaQueries {

  case class MediaMeta(kind: String, width: Int, height: Int, sample_rate: Int)
  case class MediaRow(media_id: Long, payload: Array[Byte], meta: MediaMeta)
  case class MediaFeatures(media_id: Long, n_bytes: Long, mean_byte: Double,
      max_byte: Int, checksum: Long)

  /** Synthesize a media table from `documents`: payload = UTF-8 bytes of
    * the text (a deterministic stand-in for image bytes), metadata derived
    * from stable columns. At 100 TB this is `spark.read.parquet` on a
    * table whose payload column holds real encoded media. */
  def mediaTable(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        // deterministic kind spread across the three modalities
        when(pmod(col("doc_id"), lit(3)) === 0, "image")
          .when(pmod(col("doc_id"), lit(3)) === 1, "audio")
          .otherwise("video").as("kind"),
        (pmod(col("doc_id"), lit(4)) * 160 + 320).cast("int").as("width"),
        (pmod(col("doc_id"), lit(4)) * 90 + 180).cast("int").as("height"),
        lit(16000).as("sample_rate")).as("meta"))

  /** ── STUB ── deterministic per-byte feature extraction; replace the
    * loop body with a real decoder when codecs are available. The
    * signature (typed rows in, typed features out, batch = partition) is
    * the production shape. */
  def decodeFeatures(rows: Iterator[MediaRow]): Iterator[MediaFeatures] =
    rows.map { r =>
      var sum = 0L
      var max = 0
      var crc = 17L
      val bytes = r.payload
      var i = 0
      while (i < bytes.length) {
        val b = bytes(i) & 0xff
        sum += b
        if (b > max) max = b
        crc = crc * 31 + b
        i += 1
      }
      MediaFeatures(r.media_id, bytes.length.toLong,
        if (bytes.length == 0) 0.0 else sum.toDouble / bytes.length, max, crc)
    }

  /** Featurize through the typed mapPartitions path (narrow stage — no
    * shuffle; payload bytes stay inside their input partition). */
  def featurize(s: SparkSession, d: String): Dataset[MediaFeatures] = {
    import s.implicits._
    mediaTable(s, d).as[MediaRow].mapPartitions(decodeFeatures)
  }

  // ── Real image decode (javax.imageio) with stub fallback ───────────────

  case class DecodedImage(media_id: Long, format: String, width: Int,
      height: Int, mean_luma: Double, real_decode: Boolean)

  /** Magic-number sniff: PNG / JPEG / GIF / BMP, else None. Runs before
    * any decoder so arbitrary (or hostile) payload bytes never reach
    * ImageIO unless they at least claim to be an image. */
  def sniffImageFormat(bytes: Array[Byte]): Option[String] = {
    def at(i: Int): Int = if (i < bytes.length) bytes(i) & 0xff else -1
    if (at(0) == 0x89 && at(1) == 'P' && at(2) == 'N' && at(3) == 'G')
      Some("png")
    else if (at(0) == 0xff && at(1) == 0xd8 && at(2) == 0xff) Some("jpeg")
    else if (at(0) == 'G' && at(1) == 'I' && at(2) == 'F' && at(3) == '8')
      Some("gif")
    else if (at(0) == 'B' && at(1) == 'M') Some("bmp")
    else None
  }

  /** Per-partition image decode: payloads that sniff as a real image
    * format decode through `javax.imageio` (present in every JRE — no
    * external codec needed for PNG/JPEG/GIF/BMP) into true dimensions and
    * mean luma (ITU-R BT.601); anything else — including the ASCII
    * fixtures — falls back to the deterministic stub (metadata dims,
    * byte-mean as the luma stand-in), so the oracle-checked q_media_*
    * results are unchanged by this path existing. Luma is averaged at a
    * pixel stride that caps the per-image work (~64k samples), keeping
    * the partition's decode cost bounded by image COUNT, not area. */
  def decodeImages(rows: Iterator[MediaRow]): Iterator[DecodedImage] = {
    def stub(r: MediaRow): DecodedImage = {
      val bytes = r.payload
      var sum = 0L
      var i = 0
      while (i < bytes.length) { sum += bytes(i) & 0xff; i += 1 }
      DecodedImage(r.media_id, "stub:" + r.meta.kind, r.meta.width,
        r.meta.height,
        if (bytes.isEmpty) 0.0 else sum.toDouble / bytes.length,
        real_decode = false)
    }
    rows.map { r =>
      sniffImageFormat(r.payload) match {
        case Some(fmt) =>
          try {
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(r.payload))
            if (img == null) stub(r)
            else {
              val (w, h) = (img.getWidth, img.getHeight)
              val stride = math.max(1,
                math.ceil(math.sqrt(w.toLong * h / 65536.0)).toInt)
              var sum = 0.0
              var n = 0L
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val rgb = img.getRGB(x, y)
                  sum += 0.299 * ((rgb >> 16) & 0xff) +
                    0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
                  n += 1
                  x += stride
                }
                y += stride
              }
              DecodedImage(r.media_id, fmt, w, h,
                if (n == 0) 0.0 else sum / n, real_decode = true)
            }
          } catch { case scala.util.control.NonFatal(_) => stub(r) }
        case None => stub(r)
      }
    }
  }

  /** Typed decode entry point (narrow stage, payloads never shuffle). */
  def decodeImageTable(media: Dataset[MediaRow]): Dataset[DecodedImage] = {
    import media.sparkSession.implicits._
    media.mapPartitions(decodeImages)
  }

  case class ResizedImage(media_id: Long, width: Int, height: Int,
      payload: Array[Byte], real_resize: Boolean)

  /** Deterministic nearest-neighbor resample to (w, h) — no AWT scaling
    * hints whose kernels vary by JVM: source pixel = floor(i·srcDim/dstDim),
    * so the same input bytes give the same output pixels anywhere. */
  def resizePixels(img: java.awt.image.BufferedImage, w: Int,
      h: Int): java.awt.image.BufferedImage = {
    val out = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      val sy = (y.toLong * img.getHeight / h).toInt
      var x = 0
      while (x < w) {
        out.setRGB(x, y, img.getRGB((x.toLong * img.getWidth / w).toInt, sy))
        x += 1
      }
      y += 1
    }
    out
  }

  /** Per-partition resize stage: real images (magic-sniffed, ImageIO-
    * decoded) are nearest-neighbor resampled into an aspect-fit box of
    * `box`×`box` and re-encoded as PNG; anything else passes through
    * unchanged with the metadata dims (the stub discipline the decode
    * stages use). Narrow like every payload stage. */
  def resizeImages(rows: Iterator[MediaRow], box: Int): Iterator[ResizedImage] =
    rows.map { r =>
      val decoded = sniffImageFormat(r.payload).flatMap { _ =>
        try Option(javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.payload)))
        catch { case scala.util.control.NonFatal(_) => None }
      }
      decoded match {
        case Some(img) =>
          val (w, h) = aspectFit(img.getWidth, img.getHeight, box)
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(resizePixels(img, w, h), "png", bos)
          ResizedImage(r.media_id, w, h, bos.toByteArray, real_resize = true)
        case None =>
          // stub: the PLANNED thumbnail dims from metadata (same exact
          // integer arithmetic), payload passed through untouched
          val (w, h) = aspectFit(r.meta.width, r.meta.height, box)
          ResizedImage(r.media_id, w, h, r.payload, real_resize = false)
      }
    }

  /** Exact integer aspect-fit: scale the long side to `box`, the short
    * side by the same integer ratio (floor), floor 1. */
  def aspectFit(w0: Int, h0: Int, box: Int): (Int, Int) =
    if (w0 >= h0) (box, math.max(1, (h0.toLong * box / w0).toInt))
    else (math.max(1, (w0.toLong * box / h0).toInt), box)

  // ── Real audio decode (RIFF/WAVE PCM16) with stub fallback ─────────────

  case class DecodedAudio(media_id: Long, format: String, sample_rate: Int,
      channels: Int, bits: Int, n_samples: Long, sum_sq: Long, max_abs: Int,
      real_decode: Boolean)

  /** Canonical 44-byte RIFF/WAVE header around raw PCM16LE mono data —
    * the inverse of `decodeWav`, used by the audio query to frame fixture
    * bytes as real WAV files and by specs to prove interop with
    * `javax.sound.sampled.AudioSystem` (which reads this output). */
  def encodeWavPcm16(data: Array[Byte], sampleRate: Int): Array[Byte] = {
    val out = new Array[Byte](44 + data.length)
    def put32(i: Int, v: Long): Unit = {
      out(i) = (v & 0xff).toByte; out(i + 1) = ((v >> 8) & 0xff).toByte
      out(i + 2) = ((v >> 16) & 0xff).toByte
      out(i + 3) = ((v >> 24) & 0xff).toByte
    }
    def put16(i: Int, v: Int): Unit = {
      out(i) = (v & 0xff).toByte; out(i + 1) = ((v >> 8) & 0xff).toByte
    }
    def putTag(i: Int, t: String): Unit = {
      var j = 0; while (j < 4) { out(i + j) = t.charAt(j).toByte; j += 1 }
    }
    putTag(0, "RIFF"); put32(4, 36L + data.length); putTag(8, "WAVE")
    putTag(12, "fmt "); put32(16, 16L); put16(20, 1); put16(22, 1)
    put32(24, sampleRate.toLong); put32(28, sampleRate.toLong * 2)
    put16(32, 2); put16(34, 16)
    putTag(36, "data"); put32(40, data.length.toLong)
    System.arraycopy(data, 0, out, 44, data.length)
    out
  }

  /** Per-partition audio decode: payloads that carry a RIFF/WAVE magic
    * walk the chunk list (word-aligned, as the spec requires) to the
    * `fmt ` and `data` chunks and — for PCM16 — compute exact integer
    * sample statistics (count, sum of squares, max |sample|) in one
    * streaming pass over the data bytes; anything else (wrong codec,
    * truncated header, non-WAV bytes) falls back to the same LE-int16
    * statistics over the raw payload with the metadata sample rate, so
    * the stage is total. Like `decodeImages` this is a narrow stage:
    * payload bytes never leave their input partition, and per-row cost is
    * one linear scan — the shape that holds when the payload column is
    * 100 TB of real recordings. */
  def decodeWav(rows: Iterator[MediaRow]): Iterator[DecodedAudio] = {
    def pcm16Stats(b: Array[Byte], off: Int, len: Int): (Long, Long, Int) = {
      val n = len / 2
      var ss = 0L
      var ma = 0
      var i = off
      val end = off + n * 2
      while (i < end) {
        val u = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
        val v = if (u >= 32768) u - 65536 else u
        ss += v.toLong * v
        val a = if (v < 0) -v else v
        if (a > ma) ma = a
        i += 2
      }
      (n.toLong, ss, ma)
    }
    def stub(r: MediaRow): DecodedAudio = {
      val (n, ss, ma) = pcm16Stats(r.payload, 0, r.payload.length)
      DecodedAudio(r.media_id, "stub:" + r.meta.kind, r.meta.sample_rate,
        1, 16, n, ss, ma, real_decode = false)
    }
    rows.map { r =>
      val b = r.payload
      val isRiff = b.length >= 12 && b(0) == 'R' && b(1) == 'I' &&
        b(2) == 'F' && b(3) == 'F' && b(8) == 'W' && b(9) == 'A' &&
        b(10) == 'V' && b(11) == 'E'
      if (!isRiff) stub(r)
      else {
        def u16(i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
        def u32(i: Int): Long = (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
          ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
        var pos = 12
        var fmtCode, ch, sr, bits = -1
        var dataOff, dataLen = -1
        var ok = true
        while (ok && pos + 8 <= b.length) {
          val len = u32(pos + 4)
          if (len < 0 || len > Int.MaxValue - 8) ok = false
          else {
            val id = new String(b, pos, 4, java.nio.charset.StandardCharsets.US_ASCII)
            if (id == "fmt " && pos + 24 <= b.length) {
              fmtCode = u16(pos + 8); ch = u16(pos + 10)
              sr = u32(pos + 12).toInt; bits = u16(pos + 22)
            } else if (id == "data") {
              dataOff = pos + 8
              dataLen = math.min(len, (b.length - dataOff).toLong).toInt
            }
            pos += 8 + len.toInt + (len.toInt & 1) // chunks are word-aligned
          }
        }
        if (fmtCode != 1 || bits != 16 || ch < 1 || dataOff < 0) stub(r)
        else {
          val (n, ss, ma) = pcm16Stats(b, dataOff, dataLen)
          DecodedAudio(r.media_id, "wav", sr, ch, bits, n, ss, ma,
            real_decode = true)
        }
      }
    }
  }

  /** Typed audio-decode entry point (narrow stage, like images). */
  def decodeAudioTable(media: Dataset[MediaRow]): Dataset[DecodedAudio] = {
    import media.sparkSession.implicits._
    media.mapPartitions(decodeWav)
  }

  case class AudioFrame(media_id: Long, frame_no: Long, n_samples: Int,
      sum_sq: Long)

  /** Per-frame energy extraction over decoded PCM16 WAV payloads: the
    * data chunk is cut into `frameSamples`-sample frames (tail frame
    * short) and each frame reduces to its exact integer energy
    * Σ sample² — the feature a VAD / loudness / silence-trim stage
    * consumes. Non-WAV payloads emit nothing (the decode gate). Still a
    * narrow stage: frames of a payload are emitted inside its partition. */
  def wavFrameEnergy(rows: Iterator[MediaRow],
      frameSamples: Int): Iterator[AudioFrame] =
    rows.flatMap { r =>
      val b = r.payload
      val isRiff = b.length >= 12 && b(0) == 'R' && b(1) == 'I' &&
        b(2) == 'F' && b(3) == 'F' && b(8) == 'W' && b(9) == 'A' &&
        b(10) == 'V' && b(11) == 'E'
      if (!isRiff) Iterator.empty
      else {
        def u16(i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
        def u32(i: Int): Long = (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
          ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
        var pos = 12
        var fmtCode, bits = -1
        var dataOff, dataLen = -1
        var ok = true
        while (ok && pos + 8 <= b.length) {
          val len = u32(pos + 4)
          if (len < 0 || len > Int.MaxValue - 8) ok = false
          else {
            val id = new String(b, pos, 4, java.nio.charset.StandardCharsets.US_ASCII)
            if (id == "fmt " && pos + 24 <= b.length) {
              fmtCode = u16(pos + 8); bits = u16(pos + 22)
            } else if (id == "data") {
              dataOff = pos + 8
              dataLen = math.min(len, (b.length - dataOff).toLong).toInt
            }
            pos += 8 + len.toInt + (len.toInt & 1)
          }
        }
        if (fmtCode != 1 || bits != 16 || dataOff < 0) Iterator.empty
        else {
          val n = dataLen / 2
          (0 until (n + frameSamples - 1) / frameSamples).iterator.map { f =>
            val lo = f * frameSamples
            val hi = math.min(lo + frameSamples, n)
            var ss = 0L
            var i = lo
            while (i < hi) {
              val u = (b(dataOff + 2 * i) & 0xff) |
                ((b(dataOff + 2 * i + 1) & 0xff) << 8)
              val v = if (u >= 32768) u - 65536 else u
              ss += v.toLong * v
              i += 1
            }
            AudioFrame(r.media_id, f.toLong, hi - lo, ss)
          }
        }
      }
    }

  /** Frame-sampling for "video" payloads: every `stride`-th `frameBytes`
    * block as a frame, via codegen'd column ops only (binary substring —
    * no UDF). Emits (media_id, frame_no, frame bytes). */
  def sampleFrames(media: DataFrame, frameBytes: Int = 16, stride: Int = 4): DataFrame = {
    val step = frameBytes * stride
    val nFrames = ceil(length(col("payload")).cast("double") / step).cast("int")
    media
      .filter(col("meta.kind") === "video" && length(col("payload")) > 0)
      .select(col("media_id"), col("payload"), nFrames.as("n_frames"))
      .select(col("media_id"),
        explode(sequence(lit(0), col("n_frames") - 1)).as("frame_no"),
        col("payload"))
      .select(col("media_id"), col("frame_no"),
        col("payload").substr(col("frame_no") * step + 1, lit(frameBytes)).as("frame"))
  }

  // ── Registered queries ─────────────────────────────────────────────────

  /** Metadata + payload stats, pure column algebra → DuckDB oracle. */
  def qMediaMeta(s: SparkSession, d: String): DataFrame =
    mediaTable(s, d).select(
      col("media_id"),
      col("meta.kind").as("kind"),
      col("meta.width").as("width"),
      col("meta.height").as("height"),
      length(col("payload")).cast("bigint").as("n_bytes"),
      md5(col("payload")).as("payload_md5"))

  val qMediaMetaSql: String =
    "SELECT doc_id AS media_id, " +
      "CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' " +
      "ELSE 'video' END AS kind, " +
      "CAST(doc_id % 4 * 160 + 320 AS INT) AS width, " +
      "CAST(doc_id % 4 * 90 + 180 AS INT) AS height, " +
      "octet_length(encode(text)) AS n_bytes, " +
      "md5(text) AS payload_md5 " +
      "FROM documents"

  /** Featurization via the stubbed decoder — deterministic, so the oracle
    * can recompute the same byte statistics in SQL over the raw text. */
  def qMediaFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    featurize(s, d).toDF()
      .select(col("media_id"), col("n_bytes"),
        // Canon.qround, NOT round(x, 6): byte means are dyadic rationals
        // (sum/2^k), so x·1e6 lands EXACTLY on .5 boundaries where the
        // engines' round() legally disagree (r16 audit)
        Canon.qround(col("mean_byte"), 6).as("mean_byte_r"),
        col("max_byte"))
  }

  // DuckDB recomputes mean/max over the UTF-8 code units: the fixture
  // text is ASCII, so ord() per character equals the byte value (a
  // non-ASCII corpus would need per-byte stats on the oracle side too).
  // coalesce mirrors the stub's explicit 0.0/0 for empty payloads.
  val qMediaFeaturesSql: String =
    "SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes, " +
      "coalesce(floor(list_avg(list_transform(string_split(text, ''), c -> ord(c))) * 1e6 + 0.5) / 1e6, 0.0) AS mean_byte_r, " +
      "coalesce(CAST(list_max(list_transform(string_split(text, ''), c -> ord(c))) AS INT), 0) AS max_byte " +
      "FROM documents"

  /** Per-kind rollup driven by metadata-only pruning (payload untouched). */
  def qMediaByKind(s: SparkSession, d: String): DataFrame =
    mediaTable(s, d)
      .groupBy(col("meta.kind").as("kind"))
      .agg(count(lit(1)).as("n"),
        sum(length(col("payload"))).cast("bigint").as("total_bytes"),
        max(col("meta.width")).as("max_width"))

  val qMediaByKindSql: String =
    "SELECT CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' " +
      "ELSE 'video' END AS kind, count(*) AS n, " +
      // CAST AS BIGINT: DuckDB's sum is HUGEINT, Spark's is BIGINT; the
      // driver hash is type-sensitive.
      "CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes, " +
      "max(CAST(doc_id % 4 * 160 + 320 AS INT)) AS max_width " +
      "FROM documents GROUP BY 1"

  /** Frame sampling through the codegen'd binary-substring path — every
    * "video" payload sliced into its sampled frames; output is per-frame
    * identity (length + md5) so the oracle checks the exact bytes. */
  def qMediaFrames(s: SparkSession, d: String): DataFrame =
    sampleFrames(mediaTable(s, d))
      .select(col("media_id"), col("frame_no").cast("bigint").as("frame_no"),
        length(col("frame")).cast("bigint").as("frame_bytes"),
        md5(col("frame")).as("frame_md5"))

  // Same ASCII-fixture convention as qMediaFeaturesSql: DuckDB has no
  // BLOB substr, so the oracle slices the text by character — equal to
  // the engine's byte slicing because the fixture text is ASCII.
  // frameBytes=16, stride=4 → step 64 (sampleFrames defaults).
  val qMediaFramesSql: String =
    "WITH m AS (SELECT doc_id AS media_id, text, " +
      "CAST(ceil(octet_length(encode(text)) / 64.0) AS INT) AS n_frames " +
      "FROM documents WHERE doc_id % 3 = 2 AND octet_length(encode(text)) > 0), " +
      "f AS (SELECT media_id, unnest(generate_series(0, n_frames - 1)) AS frame_no, " +
      "text FROM m) " +
      "SELECT media_id, CAST(frame_no AS BIGINT) AS frame_no, " +
      "CAST(octet_length(encode(substr(text, frame_no * 64 + 1, 16))) AS BIGINT) AS frame_bytes, " +
      "md5(substr(text, frame_no * 64 + 1, 16)) AS frame_md5 FROM f"

  /** End-to-end REAL audio decode: the "audio" payloads are framed as
    * genuine RIFF/WAVE PCM16 files (44-byte header + the fixture bytes as
    * LE samples, odd tail byte dropped) and parsed back by the chunk
    * walker — every row takes the real_decode path, no stub involved —
    * then reduced to exact integer sample statistics. The oracle
    * recomputes the identical int16 statistics directly from the text
    * bytes, so the WAV encode→decode round trip is hash-proven: any
    * framing error (header arithmetic, alignment, sign handling) would
    * corrupt the sample stream and flip sum_sq. */
  def qMediaAudio(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTable(s, d).filter(col("meta.kind") === "audio").as[MediaRow]
      .mapPartitions { rows =>
        decodeWav(rows.map { r =>
          val even =
            if (r.payload.length % 2 == 0) r.payload
            else java.util.Arrays.copyOf(r.payload, r.payload.length - 1)
          MediaRow(r.media_id, encodeWavPcm16(even, r.meta.sample_rate), r.meta)
        })
      }
      .toDF()
      .select(col("media_id"), col("sample_rate"), col("n_samples"),
        col("sum_sq"), col("max_abs"))
  }

  // Same ASCII-fixture convention: ord() per character == byte value.
  // Samples are LE int16 pairs (low byte first); the CASE keeps the
  // signed reinterpretation the engine's decoder applies, though ASCII
  // pairs never reach 0x8000. LEFT JOIN keeps odd-length-1/empty docs
  // (zero full samples) in the result like the engine does.
  val qMediaAudioSql: String =
    "WITH a AS (SELECT doc_id AS media_id, text, " +
      "octet_length(encode(text)) // 2 AS n FROM documents WHERE doc_id % 3 = 1), " +
      "s AS (SELECT media_id, unnest(generate_series(1, n)) AS i, text " +
      "FROM a WHERE n > 0), " +
      "v AS (SELECT media_id, ord(substr(text, CAST(i * 2 - 1 AS INT), 1)) " +
      "+ 256 * ord(substr(text, CAST(i * 2 AS INT), 1)) AS u FROM s), " +
      "x AS (SELECT media_id, CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS smp FROM v), " +
      "g AS (SELECT media_id, CAST(sum(smp * smp) AS BIGINT) AS sum_sq, " +
      "CAST(max(abs(smp)) AS INT) AS max_abs FROM x GROUP BY 1) " +
      "SELECT a.media_id, CAST(16000 AS INT) AS sample_rate, " +
      "CAST(a.n AS BIGINT) AS n_samples, coalesce(g.sum_sq, 0) AS sum_sq, " +
      "coalesce(g.max_abs, 0) AS max_abs FROM a LEFT JOIN g USING (media_id)"

  /** Loudness profile per audio doc: 50-sample frame energies → total,
    * frame count, and the PEAK frame (earliest on energy ties — the
    * silence-trim / VAD anchor). Exact integers end to end; the oracle
    * recomputes the identical frame grouping from the text bytes. */
  def qMediaEnergy(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val FrameSamples = 50
    mediaTable(s, d).filter(col("meta.kind") === "audio").as[MediaRow]
      .mapPartitions { rows =>
        wavFrameEnergy(rows.map { r =>
          val even =
            if (r.payload.length % 2 == 0) r.payload
            else java.util.Arrays.copyOf(r.payload, r.payload.length - 1)
          MediaRow(r.media_id, encodeWavPcm16(even, r.meta.sample_rate), r.meta)
        }, FrameSamples)
      }
      .toDF()
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(col("sum_sq")).as("total_energy"),
        max(struct(col("sum_sq").as("e"), (-col("frame_no")).as("nf"))).as("pk"))
      .select(col("media_id"), col("n_frames"), col("total_energy"),
        (-col("pk.nf")).as("peak_frame"), col("pk.e").as("peak_energy"))
  }

  // frame = (i-1)//50 over the same LE int16 sample stream as
  // qMediaAudioSql; max(struct) tiebreak (energy desc, frame asc)
  // mirrored by the row_number ordering. Docs with zero full samples
  // emit no frames, hence no row — same as the engine's flatMap.
  val qMediaEnergySql: String =
    "WITH a AS (SELECT doc_id AS media_id, text, " +
      "octet_length(encode(text)) // 2 AS n FROM documents WHERE doc_id % 3 = 1), " +
      "s AS (SELECT media_id, unnest(generate_series(1, n)) AS i, text " +
      "FROM a WHERE n > 0), " +
      "v AS (SELECT media_id, CAST((i - 1) // 50 AS BIGINT) AS frame_no, " +
      "ord(substr(text, CAST(i * 2 - 1 AS INT), 1)) " +
      "+ 256 * ord(substr(text, CAST(i * 2 AS INT), 1)) AS u FROM s), " +
      "x AS (SELECT media_id, frame_no, " +
      "CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS smp FROM v), " +
      "f AS (SELECT media_id, frame_no, CAST(sum(smp * smp) AS BIGINT) AS e " +
      "FROM x GROUP BY 1, 2), " +
      "r AS (SELECT media_id, frame_no, e, " +
      "row_number() OVER (PARTITION BY media_id ORDER BY e DESC, frame_no ASC) AS rn, " +
      "CAST(count(*) OVER (PARTITION BY media_id) AS BIGINT) AS n_frames, " +
      "CAST(sum(e) OVER (PARTITION BY media_id) AS BIGINT) AS total_energy FROM f) " +
      "SELECT media_id, n_frames, total_energy, frame_no AS peak_frame, " +
      "e AS peak_energy FROM r WHERE rn = 1"

  // ── Spectral band energies via fixed-point Goertzel ────────────────────
  // The per-band half of the audio feature story next to q_media_energy's
  // broadband frame energy: tone/voicing detection at FIXED frequencies
  // (DTMF-style) wants per-bin power without a full FFT, and Goertzel is
  // the standard one-bin recurrence: s[n] = x[n] + 2cos(ω)·s[n−1] − s[n−2],
  // power = s²[N−1] + s²[N−2] − 2cos(ω)·s[N−1]·s[N−2]. The irrational
  // coefficient is QUANTIZED to 2^20 fixed point (embedded-DSP practice)
  // and embedded as the SAME integer literal in both engines — computed
  // once at class init, so no runtime libm call can diverge — and every
  // recurrence step floor-divides back down, keeping the whole state
  // exact BIGINT (the EWMA/Holt-Winters integer-state discipline).
  // Power's cross term nests the division FIRST (((cq·s1)//2^20)·s2) so
  // nothing exceeds 2^63 at s ≈ N²·32768. Same narrow-stage shape as the
  // other media queries: samples never leave their payload's partition;
  // the only shuffle is the (media, band)-keyed final aggregation.
  case class BandFrame(media_id: Long, frame_no: Long, band_k: Int, p: Long)

  private val GoertzelN = 50
  private val GoertzelShift = 1048576L // 2^20 fixed-point scale
  /** DFT bins k of the 50-sample frame (freq = k·fs/50); cq = the
    * quantized 2cos(2πk/50) literal shared verbatim with the oracle. */
  private[graft] val GoertzelBands: Seq[(Int, Long)] = Seq(1, 2, 4, 8).map(k =>
    k -> Math.round(2.0 * Math.cos(2.0 * Math.PI * k / GoertzelN) *
      GoertzelShift))

  /** Per-frame, per-band fixed-point Goertzel over LE int16 payload
    * samples — one streaming pass per frame runs all bands. */
  def goertzelFrames(rows: Iterator[MediaRow], frameSamples: Int,
      bands: Seq[(Int, Long)]): Iterator[BandFrame] =
    rows.flatMap { r =>
      val b = r.payload
      val n = b.length / 2
      (0 until (n + frameSamples - 1) / frameSamples).iterator.flatMap { f =>
        val lo = f * frameSamples
        val hi = math.min(lo + frameSamples, n)
        bands.iterator.map { case (k, cq) =>
          var s1 = 0L
          var s2 = 0L
          var i = lo
          while (i < hi) {
            val u = (b(2 * i) & 0xff) | ((b(2 * i + 1) & 0xff) << 8)
            val v = if (u >= 32768) u - 65536 else u
            val s0 = v + cq * s1 / GoertzelShift - s2
            s2 = s1
            s1 = s0
            i += 1
          }
          BandFrame(r.media_id, f.toLong, k,
            s1 * s1 + s2 * s2 - cq * s1 / GoertzelShift * s2)
        }
      }
    }

  def qAudioBands(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTable(s, d).filter(col("meta.kind") === "audio").as[MediaRow]
      .mapPartitions(rows => goertzelFrames(rows, GoertzelN, GoertzelBands))
      .toDF()
      .groupBy(col("media_id"), col("band_k"))
      .agg(count(lit(1)).as("n_frames"),
        sum(col("p")).as("band_energy"),
        max(struct(col("p").as("e"), (-col("frame_no")).as("nf"))).as("pk"))
      .select(col("media_id"), col("band_k"), col("n_frames"),
        col("band_energy"), (-col("pk.nf")).as("peak_frame"),
        col("pk.e").as("peak_energy"))
  }

  /** The recurrence replayed per (media, frame, band) as a recursive CTE
    * carrying (s1, s2) integer state through the frame's samples, with
    * the identical fixed-point literals and floor divisions. */
  val qAudioBandsSql: String = {
    val bandRows = GoertzelBands
      .map { case (k, cq) => s"($k, CAST($cq AS BIGINT))" }.mkString(", ")
    "WITH RECURSIVE a AS (SELECT doc_id AS media_id, text, " +
      "octet_length(encode(text)) // 2 AS n FROM documents WHERE doc_id % 3 = 1), " +
      "sidx AS (SELECT media_id, unnest(generate_series(1, n)) AS i, text " +
      "FROM a WHERE n > 0), " +
      s"x AS MATERIALIZED (SELECT media_id, CAST((i - 1) // $GoertzelN AS BIGINT) AS frame_no, " +
      s"CAST((i - 1) % $GoertzelN AS BIGINT) AS j, " +
      "CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS smp FROM (" +
      "SELECT media_id, i, ord(substr(text, CAST(i * 2 - 1 AS INT), 1)) " +
      "+ 256 * ord(substr(text, CAST(i * 2 AS INT), 1)) AS u FROM sidx) v), " +
      "fl AS (SELECT media_id, frame_no, CAST(count(*) AS BIGINT) AS flen " +
      "FROM x GROUP BY 1, 2), " +
      s"bands(k, cq) AS (VALUES $bandRows), " +
      "rec AS (SELECT f.media_id, f.frame_no, b.k, b.cq, f.flen, " +
      "CAST(0 AS BIGINT) AS j, CAST(0 AS BIGINT) AS s1, CAST(0 AS BIGINT) AS s2 " +
      "FROM fl f CROSS JOIN bands b " +
      "UNION ALL SELECT r.media_id, r.frame_no, r.k, r.cq, r.flen, r.j + 1, " +
      s"x.smp + (r.cq * r.s1) // $GoertzelShift - r.s2, r.s1 " +
      "FROM rec r JOIN x ON x.media_id = r.media_id " +
      "AND x.frame_no = r.frame_no AND x.j = r.j WHERE r.j < r.flen), " +
      "fin AS (SELECT media_id, frame_no, k, " +
      s"s1 * s1 + s2 * s2 - ((cq * s1) // $GoertzelShift) * s2 AS p " +
      "FROM rec WHERE j = flen), " +
      "r AS (SELECT media_id, k, frame_no, p, " +
      "row_number() OVER (PARTITION BY media_id, k ORDER BY p DESC, frame_no ASC) AS rn, " +
      "CAST(count(*) OVER (PARTITION BY media_id, k) AS BIGINT) AS n_frames, " +
      "CAST(sum(p) OVER (PARTITION BY media_id, k) AS BIGINT) AS band_energy FROM fin) " +
      "SELECT media_id, CAST(k AS INT) AS band_k, n_frames, band_energy, " +
      "frame_no AS peak_frame, p AS peak_energy FROM r WHERE rn = 1"
  }

  // ── Scene-change detection, now with a REAL video arm ──────────────────

  case class SceneResult(media_id: Long, n_frames: Long, n_cuts: Long,
      real_decode: Boolean)

  /** Mean BT.601 luma of one frame, strided to ≤ ~64k samples. */
  private def meanLuma(img: java.awt.image.BufferedImage): Double = {
    val (w, h) = (img.getWidth, img.getHeight)
    val stride = math.max(1, math.ceil(math.sqrt(w.toLong * h / 65536.0)).toInt)
    var sum = 0.0
    var n = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        sum += 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
          0.114 * (rgb & 0xff)
        n += 1
        x += stride
      }
      y += stride
    }
    if (n == 0) 0.0 else sum / n
  }

  /** Per-payload shot-boundary detection — ENTIRELY local to the row, so
    * scene detection is a narrow stage: frames of one payload live IN
    * the payload, and nothing (not even frame hashes) ever shuffles.
    *
    * REAL arm: payloads that sniff as GIF decode frame-by-frame through
    * `javax.imageio`'s sequence reader (animated GIF is the one
    * multi-frame format the JRE ships a codec for); a cut is a frame
    * whose mean BT.601 luma jumps ≥ `lumaCut` from its predecessor —
    * the standard luma-delta shot-boundary rule. (Delta frames smaller
    * than the canvas are scored on their own raster — fine for the
    * full-frame GIFs the spec generates; a production composite step
    * would layer disposal methods, same plumbing.)
    *
    * STUB arm (everything else, incl. the ASCII fixtures — oracle rows
    * unchanged): the byte-slice sampling of `sampleFrames` (16 bytes
    * every 64), a cut whenever the sampled slice differs from its
    * predecessor. */
  def detectScenes(rows: Iterator[MediaRow],
      lumaCut: Double = 32.0): Iterator[SceneResult] = {
    def stub(r: MediaRow): SceneResult = {
      val bytes = r.payload
      val step = 64
      val frameBytes = 16
      val nFrames = ((bytes.length + step - 1) / step).toLong
      var cuts = 0L
      var f = 1
      while (f < nFrames) {
        val (a, b) = (f * step - step, f * step)
        val prev = java.util.Arrays.copyOfRange(bytes, a,
          math.min(a + frameBytes, bytes.length))
        val cur = java.util.Arrays.copyOfRange(bytes, b,
          math.min(b + frameBytes, bytes.length))
        if (!java.util.Arrays.equals(prev, cur)) cuts += 1
        f += 1
      }
      SceneResult(r.media_id, nFrames, cuts, real_decode = false)
    }
    rows.map { r =>
      if (!sniffImageFormat(r.payload).contains("gif")) stub(r)
      else {
        try {
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(r.payload))
          try {
            val readers = javax.imageio.ImageIO.getImageReaders(iis)
            if (!readers.hasNext) stub(r)
            else {
              val rd = readers.next()
              rd.setInput(iis)
              val n = rd.getNumImages(true)
              var cuts = 0L
              var prev = 0.0
              var i = 0
              while (i < n) {
                val l = meanLuma(rd.read(i))
                if (i > 0 && math.abs(l - prev) >= lumaCut) cuts += 1
                prev = l
                i += 1
              }
              rd.dispose()
              SceneResult(r.media_id, n.toLong, cuts, real_decode = true)
            }
          } finally iis.close()
        } catch { case _: Exception => stub(r) }
      }
    }
  }

  /** Shot-boundary summary per "video" payload (frames, cuts, cut
    * ratio — what a video curation gate thresholds on), through the
    * per-payload [[detectScenes]] stage. */
  def qMediaScenes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTable(s, d)
      .filter(col("meta.kind") === "video" && length(col("payload")) > 0)
      .as[MediaRow]
      .mapPartitions(rows => detectScenes(rows))
      .toDF()
      .select(col("media_id"), col("n_frames"), col("n_cuts"),
        round(col("n_cuts").cast("double") /
          greatest(col("n_frames") - 1, lit(1L)), 6).as("cut_ratio"),
        col("real_decode"))
  }

  // same frame slicing as qMediaFramesSql (frameBytes=16, step=64 over
  // the ASCII text); adjacent-slice inequality == the stub arm's rule
  val qMediaScenesSql: String =
    "WITH m AS (SELECT doc_id AS media_id, text, " +
      "CAST(ceil(octet_length(encode(text)) / 64.0) AS INT) AS n_frames " +
      "FROM documents WHERE doc_id % 3 = 2 AND octet_length(encode(text)) > 0), " +
      "f AS (SELECT media_id, unnest(generate_series(0, n_frames - 1)) AS frame_no, " +
      "text FROM m), " +
      "h AS (SELECT media_id, frame_no, " +
      "md5(substr(text, frame_no * 64 + 1, 16)) AS h FROM f), " +
      "l AS (SELECT media_id, h, lag(h) OVER (PARTITION BY media_id " +
      "ORDER BY frame_no) AS prev FROM h), " +
      "g AS (SELECT media_id, count(*) AS n_frames, " +
      "CAST(sum(CASE WHEN prev IS NOT NULL AND prev <> h THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts " +
      "FROM l GROUP BY 1) " +
      "SELECT media_id, n_frames, n_cuts, " +
      "round(CAST(n_cuts AS DOUBLE) / greatest(n_frames - 1, 1), 6) AS cut_ratio, " +
      "FALSE AS real_decode " +
      "FROM g"

  /** Thumbnail planning/resize over the "image" payloads: the resize
    * stage runs for real (real images would be ImageIO-decoded,
    * nearest-neighbor resampled, and re-encoded — spec-proven on
    * generated PNGs); the ASCII fixtures take the passthrough arm, whose
    * PLANNED aspect-fit dims use the identical integer arithmetic, so
    * the oracle checks the fit math and the byte passthrough on every
    * row. 16:9 metadata → every thumb is 64 wide. */
  def qMediaThumbs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ThumbBox = 64
    mediaTable(s, d).filter(col("meta.kind") === "image").as[MediaRow]
      .mapPartitions(rows => resizeImages(rows, ThumbBox))
      .toDF()
      .select(col("media_id"), col("width").as("thumb_w"),
        col("height").as("thumb_h"),
        length(col("payload")).cast("bigint").as("n_bytes"),
        col("real_resize"))
  }

  val qMediaThumbsSql: String =
    "SELECT doc_id AS media_id, CAST(64 AS INT) AS thumb_w, " +
      "CAST(greatest((CAST(doc_id % 4 * 90 + 180 AS BIGINT) * 64) " +
      "// (doc_id % 4 * 160 + 320), 1) AS INT) AS thumb_h, " +
      "octet_length(encode(text)) AS n_bytes, FALSE AS real_resize " +
      "FROM documents WHERE doc_id % 3 = 0"

  val queries: Seq[(String, Query)] = Seq(
    "q_media_thumbs"   -> Query(qMediaThumbs, qMediaThumbsSql),
    "q_media_scenes"   -> Query(qMediaScenes, qMediaScenesSql),
    "q_media_energy"   -> Query(qMediaEnergy, qMediaEnergySql),
    "q_audio_bands"    -> Query(qAudioBands, qAudioBandsSql),
    "q_media_meta"     -> Query(qMediaMeta, qMediaMetaSql),
    "q_media_features" -> Query(qMediaFeatures, qMediaFeaturesSql),
    "q_media_by_kind"  -> Query(qMediaByKind, qMediaByKindSql),
    "q_media_frames"   -> Query(qMediaFrames, qMediaFramesSql),
    "q_media_audio"    -> Query(qMediaAudio, qMediaAudioSql),
  )
}
