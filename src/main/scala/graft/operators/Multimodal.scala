package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Multimodal-column plumbing: media as opaque `binary` payloads plus typed
  * metadata, with per-partition batch "decode".
  *
  * The container has no image/audio codecs, so the decode kernel is a
  * clearly-marked deterministic STUB — what is real (and tested) is the
  * Spark-side shape a 100 TB media pipeline needs:
  *   - binary payload column + struct metadata schema,
  *   - partition-parallel decode via `mapPartitions` on a typed Dataset
  *     (the Scala analogue of `mapInPandas`: one batch-iterator per
  *     partition, so a real decoder would amortize codec init per partition,
  *     not per row),
  *   - decoded features land as columns, keeping everything downstream
  *     (filters, joins, dedup) in Catalyst.
  */
/** Output of the REAL image-header decode: format + dimensions parsed from
  * the payload bytes themselves. */
final case class ImageFeatures(
    doc_id: Long, fmt: String, width: Int, height: Int, byte_len: Int)

final case class MediaRow(doc_id: Long, payload: Array[Byte])

final case class ResizedMedia(doc_id: Long, payload: Array[Byte], byte_len: Int)

final case class Frame(doc_id: Long, frame_idx: Int, byte_len: Int, payload: Array[Byte])

/** Output of the REAL WAV-header decode: PCM format fields + duration
  * computed from the data-chunk size, all parsed from the payload bytes. */
final case class AudioFeatures(
    doc_id: Long, sample_rate: Int, n_channels: Int, bits: Int,
    data_bytes: Long, duration_ms: Long)

/** Output of the frame-level PCM feature pass: counts, the mean
  * per-frame RMS (1e-6-snapped), the zero-crossing rate and the
  * absolute sample peak — all computed from the payload BYTES. */
final case class AudioFrameFeatures(
    doc_id: Long, n_samples: Int, n_frames: Int, mean_rms: Double,
    zcr: Double, peak_abs: Int)

object Multimodal {

  // ─────────────────────── real image-header decode ───────────────────────

  /** REAL pure-JVM image header parser — dimensions come from the BYTES.
    *
    *   - PNG: verify the 8-byte signature and the IHDR chunk tag, then read
    *     width/height as big-endian 32-bit at offsets 16/20 (PNG spec
    *     §5.2/§11.2.2; CRCs are not validated — header-only decode).
    *   - JPEG: verify SOI (FFD8), then walk the marker segments by their
    *     declared big-endian lengths to the first frame header SOF0–SOF15
    *     (excluding DHT C4 / JPG C8 / DAC CC, which are not frames); height
    *     and width are big-endian 16-bit at +5/+7 of the SOF segment
    *     (ITU-T T.81 §B.2.2).
    *
    * Returns None for anything that isn't a parseable PNG/JPEG — a real
    * pipeline routes those to a quarantine sink instead of crashing the
    * stage. */
  def decodeImageHeader(p: Array[Byte]): Option[(String, Int, Int)] = {
    def u8(i: Int): Int = p(i) & 0xff
    def be32(i: Int): Int = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    val pngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    if (p.length >= 24 && pngSig.indices.forall(i => u8(i) == pngSig(i)) &&
        new String(p, 12, 4, java.nio.charset.StandardCharsets.US_ASCII) == "IHDR") {
      Some(("png", be32(16), be32(20)))
    } else if (p.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
      var i = 2
      while (i + 3 < p.length && u8(i) == 0xff) {
        // T.81 B.1.1.2: any number of 0xFF fill bytes may precede a marker
        while (i + 3 < p.length && u8(i + 1) == 0xff) i += 1
        val m = u8(i + 1)
        val isSof = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
        if (isSof) {
          if (i + 9 <= p.length) return Some(("jpeg", be16(i + 7), be16(i + 5)))
          else return None // truncated frame header
        }
        if (m == 0xda || m == 0xd9) return None // SOS/EOI before any SOF: no dims
        if ((m >= 0xd0 && m <= 0xd8) || m == 0x01) i += 2 // standalone, no length
        else i += 2 + be16(i + 2) // segment length includes its own 2 bytes
      }
      None
    } else None
  }

  /** Deterministic binary image fixture: REAL PNG (even doc ids) / JPEG
    * (odd) header bytes with dimensions derived from the id — built
    * in-plan from hex (no driver-side byte shipping), so the decode path
    * is exercised on genuine image structure end to end. width =
    * 1 + id % 512, height = 1 + 7·id % 512. */
  def syntheticImagePayload(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val w = lit(1) + pmod(docId, lit(512))
    val h = lit(1) + pmod(docId * 7, lit(512))
    val w32 = lpad(hex(w), 8, "0")
    val h32 = lpad(hex(h), 8, "0")
    val w16 = lpad(hex(w), 4, "0")
    val h16 = lpad(hex(h), 4, "0")
    val png = concat(
      lit("89504E470D0A1A0A"), // signature
      lit("0000000D49484452"), // IHDR length 13 + tag
      w32, h32,
      lit("0806000000"),       // bit depth 8, RGBA, deflate, none, none
      lit("00000000"))         // CRC (not validated by header decode)
    val jpeg = concat(
      lit("FFD8"),                                 // SOI
      lit("FFE000104A46494600010100004800480000"), // APP0/JFIF, 16 bytes
      lit("FFC00011" + "08"), h16, w16,            // SOF0, len 17, precision 8
      lit("03011100021101031101"))                 // 3 components
    unhex(when(pmod(docId, lit(2)) === 0, png).otherwise(jpeg))
  }

  /** Partition-parallel REAL header decode over a binary payload column:
    * `mapPartitions` batch shape (codec state amortizes per partition),
    * typed columns out, unparseable payloads dropped (quarantine-style). */
  def decodeImages(spark: SparkSession, media: DataFrame): Dataset[ImageFeatures] = {
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions { rows =>
        rows.flatMap { r =>
          decodeImageHeader(r.payload).map { case (fmt, w, h) =>
            ImageFeatures(r.doc_id, fmt, w, h, r.payload.length)
          }
        }
      }
  }

  // ─────────────────── real image synth / resize / demux ──────────────────

  /** REAL complete PNG: a deterministic w×h RGB raster (pixel colour is a
    * pure function of (docId, frameIdx, x, y)) encoded through
    * `javax.imageio` — signature, IHDR, IDAT zlib stream, IEND, the lot.
    * Unlike [[syntheticImagePayload]] (header-only, for the header parser),
    * these bytes survive a full `ImageIO.read` round trip, so the resize
    * and frame-demux kernels exercise an actual codec. */
  def synthesizePng(docId: Long, frameIdx: Int, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y,
          (((docId * 31 + frameIdx * 101 + x * 7 + y * 13) % 0xffffff).toInt))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic REAL-PNG media table: one complete PNG per doc id with
    * dims `w = 1 + id % dimMod`, `h = 1 + 7·id % dimMod` (the mm1 dims law
    * folded to a cheap modulus — full rasters are generated per row, so the
    * fixture stays scan-shaped, not driver-shipped). */
  def synthesizeFullPngs(spark: SparkSession, ids: DataFrame,
                         dimMod: Int = 64): DataFrame = {
    import spark.implicits._
    ids.select(col("doc_id")).as[Long].mapPartitions { rows =>
      rows.map { id =>
        val w = 1 + (id % dimMod).toInt
        val h = 1 + (id * 7 % dimMod).toInt
        MediaRow(id, synthesizePng(id, 0, w, h))
      }
    }.toDF()
  }

  /** REAL image resize: decode → scale → re-encode through `javax.imageio`,
    * partition-parallel (codec state and colour models amortize per
    * partition, the mapPartitions batch shape). Aspect-preserving integer
    * target: dims unchanged when `max(w,h) <= maxDim`, else
    * `t = max(1, d·maxDim / max(w,h))` (integer floor — exactly replayable
    * in SQL, so the oracle can verify the dims parsed back OUT of the
    * resized bytes). Unreadable payloads are dropped (quarantine path, like
    * [[decodeImages]]); re-encode is always PNG. */
  def resize(spark: SparkSession, media: DataFrame,
             maxDim: Int): Dataset[ResizedMedia] = {
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val img =
            try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
            catch { case _: Exception => null }
          if (img == null) None
          else {
            val (w, h) = (img.getWidth, img.getHeight)
            val m = math.max(w, h)
            val (tw, th) =
              if (m <= maxDim) (w, h)
              else (math.max(1, w * maxDim / m), math.max(1, h * maxDim / m))
            val out = new java.awt.image.BufferedImage(
              tw, th, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = out.createGraphics()
            g.drawImage(img, 0, 0, tw, th, null)
            g.dispose()
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(out, "png", bos)
            val bytes = bos.toByteArray
            Some(ResizedMedia(r.doc_id, bytes, bytes.length))
          }
        }
      }
  }

  // little-endian hex of a 16/32-bit value, for building RIFF structures
  // in-plan (hex() is big-endian; RIFF integers are little-endian)
  private def le16c(v: org.apache.spark.sql.Column) = {
    val h = lpad(hex(v), 4, "0")
    concat(substring(h, 3, 2), substring(h, 1, 2))
  }
  private def le32c(v: org.apache.spark.sql.Column) = {
    val h = lpad(hex(v), 8, "0")
    concat(substring(h, 7, 2), substring(h, 5, 2),
      substring(h, 3, 2), substring(h, 1, 2))
  }

  /** Deterministic binary audio fixture: a REAL canonical 44-byte PCM WAV
    * header (RIFF/WAVE/fmt/data) with rate, channels and data size derived
    * from the id — built in-plan from hex, like [[syntheticImagePayload]],
    * so the audio decode path is exercised on genuine RIFF structure.
    * channels = 1 + id%2, rate = (1 + id%5)·8 kHz, 16-bit,
    * data = (id%1000 + 1)·block·16 bytes. */
  def syntheticWavPayload(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val channels = lit(1) + pmod(docId, lit(2))
    val rate = (lit(1) + pmod(docId, lit(5))) * 8000
    val blockAlign = channels * 2
    val byteRate = rate * blockAlign
    val dataSize = (pmod(docId, lit(1000)) + 1) * blockAlign * 16
    unhex(concat(
      lit("52494646"), le32c(dataSize + 36), lit("57415645"), // RIFF size WAVE
      lit("666D7420"), le32c(lit(16)), le16c(lit(1)),         // 'fmt ' 16 PCM
      le16c(channels), le32c(rate), le32c(byteRate),
      le16c(blockAlign), le16c(lit(16)),                      // block, 16-bit
      lit("64617461"), le32c(dataSize)))                      // 'data' size
  }

  /** REAL WAV (RIFF) header parse — pure-JVM byte walking, nothing but the
    * payload:
    *   - "RIFF" sig + "WAVE" form type + canonical "fmt " at offset 12
    *     (RIFF spec / Microsoft WAVE format, multimedia programming
    *     interface rev 1.0 §"WAVE Form");
    *   - little-endian u16/u32 fields: PCM tag, channels, sample rate,
    *     bits; "data" chunk size at the canonical 44-byte layout.
    * Non-PCM or non-canonical layouts return None (quarantine path, like
    * [[decodeImageHeader]]). */
  def decodeWavHeader(p: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    def u8(i: Int): Int = p(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long =
      u8(i).toLong | (u8(i + 1).toLong << 8) | (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    def tag(i: Int): String = new String(p, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (p.length >= 44 && tag(0) == "RIFF" && tag(8) == "WAVE" &&
        tag(12) == "fmt " && le32(16) == 16 && le16(20) == 1 && tag(36) == "data") {
      val channels = le16(22)
      val rate = le32(24)
      val bits = le16(34)
      // bits must be a positive byte multiple: a corrupt 1..7-bit field
      // would make the byte rate zero and crash duration math downstream
      // — quarantine it here like every other malformed header
      if (channels > 0 && rate > 0 && rate <= Int.MaxValue &&
          bits >= 8 && bits % 8 == 0)
        Some((rate.toInt, channels, bits, le32(40)))
      else None
    } else None
  }

// ─────────────────── real MJPEG-in-RIFF (AVI) video ──────────────────

  // little-endian byte writers for building RIFF structures in JVM code
  // (the in-plan le16c/le32c above are their Column twins)
  private def le16b(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def le32b(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def fourcc(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** REAL complete JPEG frame: the same deterministic raster law as
    * [[synthesizePng]], encoded through `javax.imageio`'s JPEG writer —
    * SOI, JFIF/APP0, quant/huffman tables, SOF0, entropy-coded data, EOI.
    * The MJPEG frames inside [[synthesizeAvi]]'s containers. */
  def synthesizeJpeg(docId: Long, frameIdx: Int, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y,
          (((docId * 31 + frameIdx * 101 + x * 7 + y * 13) % 0xffffff).toInt))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** REAL AVI container around MJPEG frames (OpenDML/VfW layout): RIFF
    * 'AVI ' → LIST 'hdrl' ('avih' main header + LIST 'strl' with 'strh'
    * vids/MJPG + 'strf' BITMAPINFOHEADER) → LIST 'movi' ('00dc' chunk per
    * JPEG frame, even-padded) → 'idx1' (one AVIINDEXENTRY per frame).
    * Every size field is computed little-endian from the actual frame
    * bytes — the output is a spec-shaped AVI a real demuxer reads. */
  def buildAvi(frames: Seq[Array[Byte]], w: Int, h: Int): Array[Byte] = {
    require(frames.nonEmpty, "an AVI needs at least one frame")
    val n = frames.length
    val maxFrame = frames.map(_.length).max
    def chunk(tag: String, data: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      bos.write(fourcc(tag)); bos.write(le32b(data.length)); bos.write(data)
      if (data.length % 2 == 1) bos.write(0) // RIFF chunks are even-aligned
      bos.toByteArray
    }
    def list(listType: String, body: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      bos.write(fourcc("LIST")); bos.write(le32b(body.length + 4))
      bos.write(fourcc(listType)); bos.write(body)
      bos.toByteArray
    }
    val avih = { // MainAVIHeader, 56 bytes
      val b = new java.io.ByteArrayOutputStream()
      b.write(le32b(100000))   // dwMicroSecPerFrame: 10 fps
      b.write(le32b(0)); b.write(le32b(0))
      b.write(le32b(0x10))     // dwFlags: AVIF_HASINDEX
      b.write(le32b(n))        // dwTotalFrames
      b.write(le32b(0))
      b.write(le32b(1))        // dwStreams
      b.write(le32b(maxFrame)) // dwSuggestedBufferSize
      b.write(le32b(w)); b.write(le32b(h))
      (1 to 4).foreach(_ => b.write(le32b(0))) // dwReserved
      b.toByteArray
    }
    val strh = { // AVIStreamHeader, 56 bytes
      val b = new java.io.ByteArrayOutputStream()
      b.write(fourcc("vids")); b.write(fourcc("MJPG"))
      b.write(le32b(0))                  // dwFlags
      b.write(le16b(0)); b.write(le16b(0)) // wPriority, wLanguage
      b.write(le32b(0))                  // dwInitialFrames
      b.write(le32b(1)); b.write(le32b(10)) // dwScale/dwRate: 10 fps
      b.write(le32b(0))                  // dwStart
      b.write(le32b(n))                  // dwLength (frames)
      b.write(le32b(maxFrame))           // dwSuggestedBufferSize
      b.write(le32b(-1))                 // dwQuality: default
      b.write(le32b(0))                  // dwSampleSize
      b.write(le16b(0)); b.write(le16b(0)) // rcFrame
      b.write(le16b(w)); b.write(le16b(h))
      b.toByteArray
    }
    val strf = { // BITMAPINFOHEADER, 40 bytes
      val b = new java.io.ByteArrayOutputStream()
      b.write(le32b(40))
      b.write(le32b(w)); b.write(le32b(h))
      b.write(le16b(1)); b.write(le16b(24)) // biPlanes, biBitCount
      b.write(fourcc("MJPG"))               // biCompression
      b.write(le32b(w * h * 3))             // biSizeImage
      (1 to 4).foreach(_ => b.write(le32b(0)))
      b.toByteArray
    }
    val strl = list("strl", chunk("strh", strh) ++ chunk("strf", strf))
    val hdrl = list("hdrl", chunk("avih", avih) ++ strl)
    val moviBody = new java.io.ByteArrayOutputStream()
    val offsets = frames.map { f =>
      val off = moviBody.size() + 4 // from 'movi' fourcc to this chunk's tag
      moviBody.write(chunk("00dc", f))
      off
    }
    val movi = list("movi", moviBody.toByteArray)
    val idx1 = { // AVIINDEXENTRY per frame
      val b = new java.io.ByteArrayOutputStream()
      frames.zip(offsets).foreach { case (f, off) =>
        b.write(fourcc("00dc"))
        b.write(le32b(0x10)) // AVIIF_KEYFRAME
        b.write(le32b(off))
        b.write(le32b(f.length))
      }
      b.toByteArray
    }
    val riffBody = fourcc("AVI ") ++ hdrl ++ movi ++ chunk("idx1", idx1)
    val out = new java.io.ByteArrayOutputStream()
    out.write(fourcc("RIFF")); out.write(le32b(riffBody.length))
    out.write(riffBody)
    out.toByteArray
  }

  /** Deterministic REAL-AVI media table: one MJPEG AVI per doc id with
    * `1 + id % framesMod` frames of `frameDim`² pixels (same laws as the
    * concatenated-PNG fixture it replaces, so mm2's oracle is unchanged).
    * Full containers are generated per row — scan-shaped, not
    * driver-shipped. */
  def synthesizeAvis(spark: SparkSession, ids: DataFrame,
                     framesMod: Int = 8, frameDim: Int = 8): DataFrame = {
    import spark.implicits._
    ids.select(col("doc_id")).as[Long].mapPartitions { rows =>
      rows.map { id =>
        val n = 1 + (id % framesMod).toInt
        val frames = (0 until n).map(f => synthesizeJpeg(id, f, frameDim, frameDim))
        MediaRow(id, buildAvi(frames, frameDim, frameDim))
      }
    }.toDF()
  }

  /** REAL AVI demux: walk the RIFF tree by declared chunk sizes (the same
    * byte discipline as [[decodeWavHeader]]'s canonical-WAV walk, here over
    * the nested LIST structure) to the LIST('movi') payload, slice every
    * '00dc'/'00db' chunk — each slice is a complete JPEG stream — and keep
    * every k-th frame by ORIGINAL index. Downstream [[decodeImages]] /
    * [[resize]] consume the emitted frames directly, exactly like the PNG
    * path. A malformed tail stops the demux for that doc (quarantine-style:
    * well-formed prefix frames still come out). */
  def aviFrameSample(spark: SparkSession, media: DataFrame,
                     everyK: Int): Dataset[Frame] = {
    // validate on the driver: everyK <= 0 would only surface as an
    // ArithmeticException (idx % 0) inside an executor task
    require(everyK >= 1, s"everyK must be >= 1, got $everyK")
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .flatMap { r =>
        val p = r.payload
        def u8(i: Int): Int = p(i) & 0xff
        def le32(i: Int): Int =
          u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
        def tag(i: Int): String =
          new String(p, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
        val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
        if (p.length >= 12 && tag(0) == "RIFF" && tag(8) == "AVI ") {
          val riffEnd = math.min(p.length, 8 + le32(4))
          // top-level chunk walk to LIST('movi'); a chunk whose declared
          // size overruns the buffer (truncated container) still gets its
          // in-bounds prefix walked — well-formed prefix frames come out,
          // the same quarantine policy as the PNG demux
          var i = 12
          var ok = true
          while (ok && i + 8 <= riffEnd) {
            val size = le32(i + 4)
            val declaredEnd = i + 8 + size
            if (size < 0) ok = false
            else {
              if (tag(i) == "LIST" && size >= 4 && i + 12 <= riffEnd &&
                  tag(i + 8) == "movi") {
                // sub-chunk walk: every video-data chunk is one frame
                val end = math.min(declaredEnd, riffEnd)
                var j = i + 12
                var sub = true
                while (sub && j + 8 <= end) {
                  val flen = le32(j + 4)
                  if (flen < 0 || j + 8 + flen > end) sub = false
                  else {
                    val t = tag(j)
                    if (t == "00dc" || t == "00db") frames += ((j + 8, j + 8 + flen))
                    j += 8 + flen + (flen & 1) // even-aligned
                  }
                }
              }
              if (declaredEnd > riffEnd) ok = false
              else i = declaredEnd + (size & 1)
            }
          }
        }
        frames.zipWithIndex
          .filter { case (_, idx) => idx % everyK == 0 }
          .map { case ((s0, e0), idx) =>
            val bytes = java.util.Arrays.copyOfRange(p, s0, e0)
            Frame(r.doc_id, idx, bytes.length, bytes)
          }
      }
  }

  /** Partition-parallel REAL audio-header decode (the mapPartitions batch
    * shape of [[decodeImages]]); duration from data size over byte rate. */
  def decodeAudio(spark: SparkSession, media: DataFrame): Dataset[AudioFeatures] = {
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions { rows =>
        rows.flatMap { r =>
          decodeWavHeader(r.payload).map { case (rate, channels, bits, dataBytes) =>
            val byteRate = rate.toLong * channels * (bits / 8)
            AudioFeatures(r.doc_id, rate, channels, bits, dataBytes,
              Math.floorDiv(dataBytes * 1000L, byteRate))
          }
        }
      }
  }

  /** [[syntheticWavPayload]] extended with an actual PCM sample stream:
    * mono 8 kHz 16-bit, nSamples = 64·(1 + id%4), sample k =
    * ((id·31 + k·17) mod 201 − 100)·64 — a deterministic ±6400 sawtooth
    * whose features the DuckDB oracle recomputes from the SAME formula
    * while the engine genuinely parses the bytes (the mm1–mm4 gate
    * pattern: real decode, arithmetic oracle). */
  def syntheticWavWithSamples(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val nSamples = (lit(1) + pmod(docId, lit(4))) * 64
    val dataSize = nSamples * 2
    val rate = lit(8000)
    val header = concat(
      lit("52494646"), le32c(dataSize + 36), lit("57415645"),
      lit("666D7420"), le32c(lit(16)), le16c(lit(1)),
      le16c(lit(1)), le32c(rate), le32c(rate * 2),
      le16c(lit(2)), le16c(lit(16)),
      lit("64617461"), le32c(dataSize))
    val samples = concat_ws("",
      transform(sequence(lit(0), nSamples - 1), k =>
        le16c(pmod((pmod(docId * 31 + k * 17, lit(201)) - 100) * 64,
          lit(65536)))))
    unhex(concat(header, samples))
  }

  /** Frame-level audio features from REAL PCM bytes — the audio-quality
    * gate of a speech-data pipeline (silence/clipping screens run on
    * exactly these numbers): per doc, full-frame count (frame = 64
    * samples), the mean per-frame RMS (each frame's RMS snapped to 1e-6
    * before the mean — exact integer arithmetic up to the sqrt), the
    * zero-crossing rate and the absolute peak. Byte walking is pure JVM
    * over the payload (the sanctioned mapPartitions case); only mono
    * 16-bit canonical-layout WAVs qualify — everything else takes the
    * quarantine path like every other malformed header. */
  def audioFrameFeatures(spark: SparkSession, media: DataFrame,
                         frame: Int = 64): Dataset[AudioFrameFeatures] = {
    import spark.implicits._
    require(frame >= 2, s"frame must be >= 2, got $frame")
    media.select(col("doc_id"), col("payload")).as[MediaRow]
      .mapPartitions { rows =>
        rows.flatMap { r =>
          decodeWavHeader(r.payload).collect {
            case (_, channels, bits, dataBytes)
                if channels == 1 && bits == 16 &&
                  r.payload.length >= 44 + dataBytes =>
              val p = r.payload
              val n = (dataBytes / 2).toInt
              def s(k: Int): Int = {
                val lo = p(44 + 2 * k) & 0xff
                val hi = p(44 + 2 * k + 1).toInt // sign-extends
                (hi << 8) | lo
              }
              val nFrames = n / frame
              var microSum = 0L
              var f = 0
              while (f < nFrames) {
                var acc = 0L
                var k = f * frame
                while (k < (f + 1) * frame) { val v = s(k).toLong; acc += v * v; k += 1 }
                microSum += math.floor(
                  math.sqrt(acc.toDouble / frame) * 1e6 + 0.5).toLong
                f += 1
              }
              var zc = 0L
              var peak = 0
              var k = 0
              var prev = 0
              while (k < n) {
                val v = s(k)
                if (math.abs(v) > peak) peak = math.abs(v)
                if (k > 0 && prev.toLong * v < 0) zc += 1
                prev = v
                k += 1
              }
              val meanRms =
                if (nFrames == 0) 0.0
                else math.floor(microSum.toDouble / nFrames + 0.5) / 1e6
              val zcr =
                if (n < 2) 0.0
                else math.floor(zc.toDouble / (n - 1) * 1e6 + 0.5) / 1e6
              AudioFrameFeatures(r.doc_id, n, nFrames, meanRms, zcr, peak)
          }
        }
      }
  }

}
