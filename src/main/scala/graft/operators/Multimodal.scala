package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.ParquetSource

/** Multimodal-column plumbing: media as opaque `binary` columns with typed
  * metadata. Header decoding is REAL for every format whose metadata is
  * parseable from raw bytes without a codec — PPM, BMP, WAV, and (since
  * round 5) JPEG (SOFn marker walk), PNG (IHDR), GIF (logical screen
  * descriptor). Only PIXEL/SAMPLE decode of compressed payloads is STUBBED
  * with a deterministic fake (no image/audio libs in this container). The
  * Spark-side contract — schema, partition-preserving mapPartitions,
  * batched iteration, typed Encoders — is real and tested (MultimodalSpec),
  * and the compressed-format parsers are oracle-gated end to end by the
  * `multimodal_headers` catalog query.
  *
  * Scale: decode runs per-partition with an iterator (constant memory),
  * never collects, and keeps the input partitioning — at 100 TB the binary
  * payloads stream through executors exactly once.
  */
object Multimodal {

  /** `(width, height)` from a binary PPM (`P6`) header: ASCII tokens
    * `P6 <w> <h> <maxval>` separated by whitespace, `#` comments allowed.
    * None if the payload is not a well-formed PPM.
    */
  def ppmDims(payload: Array[Byte]): Option[(Int, Int)] = {
    if (payload.length < 2 || payload(0) != 'P' || payload(1) != '6') return None
    var i = 2
    val nums = new Array[Int](2)
    var found = 0
    while (found < 2 && i < payload.length) {
      val c = payload(i) & 0xff
      if (c == '#') { while (i < payload.length && payload(i) != '\n') i += 1 }
      else if (Character.isWhitespace(c)) i += 1
      else if (c >= '0' && c <= '9') {
        var v = 0L
        while (i < payload.length && payload(i) >= '0' && payload(i) <= '9') {
          v = v * 10 + (payload(i) - '0'); i += 1
          // bound INSIDE the loop (r14 deep-read): a crafted >= 20-digit
          // run would wrap the Long accumulator and could alias to a
          // small plausible value instead of quarantining
          if (v > Int.MaxValue) return None
        }
        nums(found) = v.toInt
        found += 1
      } else return None
    }
    if (found == 2 && nums(0) > 0 && nums(1) > 0) Some((nums(0), nums(1))) else None
  }

  private def le32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) | ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
  private def le16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  /** `(width, height)` from a BMP `BITMAPINFOHEADER` (offsets 18/22,
    * little-endian; height may be negative for top-down rows). Garbage that
    * merely starts with "BM" must NOT parse: the DIB header-size field at
    * offset 14 has to name a known header (>= 40 bytes) and the dimensions
    * have to be plausible (width > 0, height != 0), else the caller's
    * quarantine stub takes over.
    */
  def bmpDims(payload: Array[Byte]): Option[(Int, Int)] =
    if (payload.length >= 26 && payload(0) == 'B' && payload(1) == 'M') {
      val dibSize = le32(payload, 14)
      val w = le32(payload, 18)
      val h = le32(payload, 22)
      if (dibSize >= 40 && dibSize <= 124 && w > 0 && h != 0 && h != Int.MinValue)
        Some((w, math.abs(h)))
      else None
    } else None

  /** `(sampleRate, channels)` from a RIFF/WAVE `fmt ` chunk (walked
    * chunk-by-chunk, not assumed at a fixed offset).
    */
  def wavFormat(payload: Array[Byte]): Option[(Int, Int)] = {
    if (payload.length < 36) return None
    if (!(payload(0) == 'R' && payload(1) == 'I' && payload(2) == 'F' && payload(3) == 'F' &&
        payload(8) == 'W' && payload(9) == 'A' && payload(10) == 'V' && payload(11) == 'E')) return None
    var i = 12
    while (i + 8 <= payload.length) {
      val isFmt = payload(i) == 'f' && payload(i + 1) == 'm' && payload(i + 2) == 't' && payload(i + 3) == ' '
      val size = le32(payload, i + 4)
      if (isFmt && i + 8 + 16 <= payload.length)
        return Some((le32(payload, i + 12), le16(payload, i + 10)))
      // A corrupt chunk size (negative, or larger than the remaining bytes)
      // would overflow the cursor into a negative index — reject it so the
      // row is quarantined to the stub instead of killing the task.
      if (size < 0 || size > payload.length - i - 8) return None
      i += 8 + size + (size & 1) // chunks are word-aligned
    }
    None
  }

  private def be32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) | ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)
  private def be16(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)

  /** `(width, height)` from a JPEG stream via the SOFn marker walk — no
    * codec needed, dimensions live in the frame header. After the FFD8 SOI,
    * segments are `FF <marker> <len16 BE incl itself> <payload>`; fill
    * bytes (repeated FF) and the standalone markers (TEM 0x01, RST D0-D7)
    * carry no length. The frame dimensions are in any SOFn marker C0-CF
    * EXCEPT C4 (DHT), C8 (JPG extension), CC (DAC): payload = precision(1),
    * height(2 BE), width(2 BE). A walk that runs past the buffer, meets a
    * zero-dimension SOF, or hits a corrupt segment length returns None so
    * the row quarantines to the stub.
    */
  def jpegDims(payload: Array[Byte]): Option[(Int, Int)] = {
    if (payload.length < 4 || (payload(0) & 0xff) != 0xff || (payload(1) & 0xff) != 0xd8) return None
    var i = 2
    while (i + 1 < payload.length) {
      if ((payload(i) & 0xff) != 0xff) return None // segments must start FF
      var m = payload(i + 1) & 0xff
      while (m == 0xff && i + 2 < payload.length) { i += 1; m = payload(i + 1) & 0xff } // fill bytes
      if (m == 0x01 || (m >= 0xd0 && m <= 0xd8)) { i += 2 } // standalone, no length
      else if (m == 0xd9) return None // EOI before any SOF
      else {
        if (i + 4 > payload.length) return None
        val len = be16(payload, i + 2)
        if (len < 2 || i + 2 + len > payload.length) return None // corrupt length
        val isSof = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
        if (isSof) {
          if (len < 7) return None // needs precision + height + width
          val h = be16(payload, i + 5)
          val w = be16(payload, i + 7)
          return if (w > 0 && h > 0) Some((w, h)) else None
        }
        i += 2 + len
      }
    }
    None
  }

  /** `(width, height)` from a PNG IHDR. The 8-byte signature is followed by
    * chunks `<len32 BE> <type> <data> <crc>`; IHDR MUST be first (PNG spec
    * §5.6) with length 13: width(4 BE), height(4 BE), then bit depth etc.
    * CRC is deliberately not verified — dimensions are header facts, and a
    * 100 TB scan shouldn't pay CRC32 per row for metadata extraction.
    */
  def pngDims(payload: Array[Byte]): Option[(Int, Int)] = {
    if (payload.length < 24) return None
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    var k = 0
    while (k < 8) { if ((payload(k) & 0xff) != sig(k)) return None; k += 1 }
    if (be32(payload, 8) != 13) return None // IHDR length is always 13
    if (!(payload(12) == 'I' && payload(13) == 'H' && payload(14) == 'D' && payload(15) == 'R')) return None
    val w = be32(payload, 16)
    val h = be32(payload, 20)
    if (w > 0 && h > 0) Some((w, h)) else None
  }

  /** `(width, height)` from a GIF logical screen descriptor: magic
    * `GIF87a`/`GIF89a`, then canvas width and height as LITTLE-endian
    * 16-bit at offsets 6 and 8.
    */
  def gifDims(payload: Array[Byte]): Option[(Int, Int)] = {
    if (payload.length < 10) return None
    val magicOk = payload(0) == 'G' && payload(1) == 'I' && payload(2) == 'F' &&
      payload(3) == '8' && (payload(4) == '7' || payload(4) == '9') && payload(5) == 'a'
    if (!magicOk) return None
    val w = le16(payload, 6)
    val h = le16(payload, 8)
    if (w > 0 && h > 0) Some((w, h)) else None
  }

  /** Frame count from a GIF stream via the block walk — an animated GIF has
    * one image descriptor (0x2C) per frame. After the 13-byte header
    * (+ global color table if flagged in the packed byte), blocks are
    * extensions (`0x21 <label> <data sub-blocks>`) or image descriptors
    * (9 descriptor bytes, optional local color table, LZW min-code byte,
    * data sub-blocks); sub-blocks are `<len><len bytes>` chains terminated
    * by a 0 byte, so the LZW pixel data is SKIPPED, never decoded. Returns
    * the descriptor count when the walk reaches the 0x3B trailer cleanly;
    * None (→ quarantine) on corrupt blocks, overruns, zero frames, or a
    * missing trailer. One forward pass, no codec.
    */
  def gifFrameCount(payload: Array[Byte]): Option[Int] = {
    if (gifDims(payload).isEmpty || payload.length < 13) return None
    // returns the index after a sub-block chain's terminator, or -1
    def skipSubBlocks(start: Int): Int = {
      var j = start
      while (j < payload.length) {
        val n = payload(j) & 0xff
        if (n == 0) return j + 1
        j += 1 + n
      }
      -1
    }
    var i = 13
    val packed = payload(10) & 0xff
    if ((packed & 0x80) != 0) i += 3 * (1 << ((packed & 7) + 1)) // global color table
    var frames = 0
    while (i < payload.length) {
      (payload(i) & 0xff) match {
        case 0x3b => return if (frames > 0) Some(frames) else None // trailer
        case 0x21 => // extension: label byte, then sub-blocks
          i = skipSubBlocks(i + 2)
          if (i < 0) return None
        case 0x2c => // image descriptor = one frame
          if (i + 10 > payload.length) return None
          val p = payload(i + 9) & 0xff
          var j = i + 10
          if ((p & 0x80) != 0) j += 3 * (1 << ((p & 7) + 1)) // local color table
          j += 1 // LZW minimum code size byte
          if (j > payload.length) return None
          i = skipSubBlocks(j)
          if (i < 0) return None
          frames += 1
        case _ => return None
      }
    }
    None // ran off the end without a trailer
  }

  /** EXIF orientation (tag 0x0112, values 1–8) from a JPEG's APP1 segment —
    * the [[jpegDims]] marker walk, then the TIFF structure inside the Exif
    * block: byte order (II/MM), magic 42, IFD0 offset, and a linear scan of
    * IFD0's 12-byte entries (bounds-checked against the segment, so a lying
    * IFD offset quarantines instead of reading foreign bytes). None when
    * there is no APP1/Exif, no orientation tag, or structural corruption.
    */
  def jpegOrientation(payload: Array[Byte]): Option[Int] = {
    if (payload.length < 4 || (payload(0) & 0xff) != 0xff || (payload(1) & 0xff) != 0xd8) return None
    var i = 2
    while (i + 1 < payload.length) {
      if ((payload(i) & 0xff) != 0xff) return None
      var m = payload(i + 1) & 0xff
      while (m == 0xff && i + 2 < payload.length) { i += 1; m = payload(i + 1) & 0xff }
      if (m == 0x01 || (m >= 0xd0 && m <= 0xd8)) { i += 2 }
      else if (m == 0xd9) return None // EOI: no Exif seen
      else {
        if (i + 4 > payload.length) return None
        val len = be16(payload, i + 2)
        if (len < 2 || i + 2 + len > payload.length) return None
        val segEnd = i + 2 + len
        if (m == 0xe1 && len >= 2 + 6 + 8) {
          val p = i + 4
          val exifOk = payload(p) == 'E' && payload(p + 1) == 'x' && payload(p + 2) == 'i' &&
            payload(p + 3) == 'f' && payload(p + 4) == 0 && payload(p + 5) == 0
          if (exifOk) {
            val t = p + 6 // TIFF header origin
            val little = payload(t) == 'I' && payload(t + 1) == 'I'
            val big = payload(t) == 'M' && payload(t + 1) == 'M'
            if (!little && !big) return None
            def u16(off: Int) = if (little) le16(payload, off) else be16(payload, off)
            def u32(off: Int) = if (little) le32(payload, off) else be32(payload, off)
            if (u16(t + 2) != 42) return None
            val ifd = t + u32(t + 4)
            if (ifd < t || ifd + 2 > segEnd) return None
            val n = u16(ifd)
            var e = 0
            while (e < n) {
              val off = ifd + 2 + e * 12
              if (off + 12 > segEnd) return None
              if (u16(off) == 0x0112 && u16(off + 2) == 3 && u32(off + 4) == 1) {
                val v = u16(off + 8)
                return if (v >= 1 && v <= 8) Some(v) else None
              }
              e += 1
            }
            return None // Exif present, orientation not recorded
          }
        }
        i += 2 + len
      }
    }
    None
  }

  /** A media row: payload is the raw bytes, `media_type` a format tag. */
  final case class MediaRow(doc_id: Long, media_type: String, payload: Array[Byte])

  /** Typed decode output. */
  final case class MediaMeta(
      doc_id: Long,
      media_type: String,
      byte_len: Long,
      width: Int,
      height: Int,
      checksum: Long)

  /** Builds a binary `payload` column from the documents table (stand-in for
    * real image/audio bytes) plus SQL-computable metadata. Fully
    * oracle-checkable: md5 and lengths are engine-independent.
    */
  def binaryMeta(spark: SparkSession, dir: String): DataFrame =
    ParquetSource.read(spark, s"$dir/documents.parquet")
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .select(
        col("doc_id"),
        length(col("payload")).cast("bigint").as("byte_len"),
        md5(col("payload")).as("payload_md5"),
        substring(col("text"), 1, 1).as("head_char"))

  /** The decoder: REAL header parsing for `image/ppm`, `image/bmp`, and
    * `audio/wav` (for audio, width = sample rate, height = channels);
    * anything else — compressed formats needing codec libs — falls to the
    * deterministic stub (width/height derived from the byte checksum), as
    * does a malformed payload of a claimed format (a 100 TB job must
    * quarantine bad rows, not die on them). Decodes per-partition, batch
    * iterator in, batch iterator out — the exact shape a vectorized decode
    * would use.
    */
  def decodeMeta(media: Dataset[MediaRow]): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { m =>
        val len = m.payload.length
        var sum = 0L
        var i = 0
        while (i < len) { sum = (sum + (m.payload(i) & 0xff)) % 1000000007L; i += 1 }
        val parsed = m.media_type match {
          case "image/ppm" => ppmDims(m.payload)
          case "image/bmp" => bmpDims(m.payload)
          case "image/jpeg" => jpegDims(m.payload)
          case "image/png" => pngDims(m.payload)
          case "image/gif" => gifDims(m.payload)
          case "audio/wav" => wavFormat(m.payload)
          case _ => None
        }
        val (w, h) = parsed.getOrElse((16 + (sum % 624).toInt, 16 + (sum % 464).toInt))
        MediaMeta(
          doc_id = m.doc_id,
          media_type = m.media_type,
          byte_len = len.toLong,
          width = w,
          height = h,
          checksum = sum)
      }
    }
  }

  /** Frame sampling over a "video" payload: the payload is treated as
    * ceil(len/64) fixed-size frames and every 10th frame is materialized
    * with its digest — the uniform-stride frame-sample shape (one output
    * row per sampled frame via a generator, no shuffle, partitioning
    * preserved). A real decoder would seek keyframes instead of byte
    * offsets; the slicing/fan-out plumbing is what scales.
    */
  def frameSample(spark: SparkSession, dir: String): DataFrame =
    ParquetSource.read(spark, s"$dir/documents.parquet")
      .withColumn("n_frames", expr("CAST((length(text) + 63) DIV 64 AS BIGINT)"))
      .select(
        col("doc_id"),
        col("n_frames"),
        col("text"),
        // empty documents (n_frames = 0) produce zero sampled frames; an
        // unguarded sequence(0, -1, 10) would throw instead
        explode(expr(
          "CASE WHEN n_frames > 0 THEN sequence(0L, n_frames - 1, 10L) " +
            "ELSE CAST(array() AS array<bigint>) END")).as("frame_idx"))
      .withColumn("frame_md5", md5(encode(expr("substring(text, CAST(frame_idx * 64 + 1 AS INT), 64)"), "UTF-8")))
      .drop("text")

  /** Resized media row: the payload after a (stubbed) resize to target
    * dimensions.
    */
  final case class ResizedMedia(
      doc_id: Long, width: Int, height: Int, payload: Array[Byte])

  /** Resize stub: a real implementation would decode, scale, re-encode via
    * an image library; the fake deterministically downsamples the payload
    * bytes to `targetW × targetH` samples (stride sampling — the same
    * data-movement shape as a real thumbnailer). Runs per-partition with
    * constant memory; output partitioning == input partitioning, so a
    * 100 TB corpus resizes in one pass with zero shuffle.
    */
  def resize(media: Dataset[MediaRow], targetW: Int = 16, targetH: Int = 16): Dataset[ResizedMedia] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { m =>
        val n = targetW * targetH
        val out = new Array[Byte](n) // empty payload → all-zero thumbnail
        val len = m.payload.length
        var i = 0
        while (i < n && len > 0) {
          out(i) = m.payload((i.toLong * len / n).toInt) // nearest-neighbor stub
          i += 1
        }
        ResizedMedia(m.doc_id, targetW, targetH, out)
      }
    }
  }

  /** Minimal valid JPEG with the given dimensions: SOI, a COM segment (so
    * the marker walk is exercised, not just the first segment), SOF0, EOI.
    */
  private[graft] def jpegBytes(w: Int, h: Int): Array[Byte] =
    Array[Int](
      0xff, 0xd8, // SOI
      0xff, 0xfe, 0x00, 0x04, 'g', 't', // COM segment, len 4
      0xff, 0xc0, 0x00, 0x0b, 0x08, h >> 8, h & 0xff, w >> 8, w & 0xff, 0x01, 0x11, 0x00, // SOF0
      0xff, 0xd9 // EOI
    ).map(_.toByte)

  /** Minimal valid PNG: signature + IHDR with the given dimensions. */
  private[graft] def pngBytes(w: Int, h: Int): Array[Byte] =
    Array[Int](
      0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0x00, 0x00, 0x00, 0x0d, 'I', 'H', 'D', 'R',
      w >>> 24, (w >> 16) & 0xff, (w >> 8) & 0xff, w & 0xff,
      h >>> 24, (h >> 16) & 0xff, (h >> 8) & 0xff, h & 0xff,
      8, 2, 0, 0, 0, // bit depth, color type, compression, filter, interlace
      0, 0, 0, 0 // CRC (not verified by the header parser)
    ).map(_.toByte)

  /** Minimal valid GIF: magic + logical screen descriptor (LE dims). */
  private[graft] def gifBytes(w: Int, h: Int): Array[Byte] =
    Array[Int](
      'G', 'I', 'F', '8', '9', 'a',
      w & 0xff, (w >> 8) & 0xff, h & 0xff, (h >> 8) & 0xff
    ).map(_.toByte)

  /** Minimal valid JPEG with an Exif APP1 carrying the orientation tag,
    * followed by the [[jpegBytes]] SOF0 — so one payload exercises the
    * APP1/TIFF walk AND the dimension walk (which must skip APP1 by its
    * length).
    */
  private[graft] def jpegExifBytes(w: Int, h: Int, orientation: Int): Array[Byte] =
    Array[Int](
      0xff, 0xd8, // SOI
      0xff, 0xe1, 0x00, 0x22, // APP1, len 34 = 2 + "Exif\0\0" + 26-byte TIFF
      'E', 'x', 'i', 'f', 0x00, 0x00,
      'I', 'I', 0x2a, 0x00, 0x08, 0x00, 0x00, 0x00, // TIFF little-endian, IFD0 at +8
      0x01, 0x00, // IFD0: 1 entry
      0x12, 0x01, 0x03, 0x00, 0x01, 0x00, 0x00, 0x00, // tag 0x0112, SHORT, count 1
      orientation & 0xff, (orientation >> 8) & 0xff, 0x00, 0x00, // value + pad
      0x00, 0x00, 0x00, 0x00, // next-IFD offset: none
      0xff, 0xc0, 0x00, 0x0b, 0x08, h >> 8, h & 0xff, w >> 8, w & 0xff, 0x01, 0x11, 0x00, // SOF0
      0xff, 0xd9 // EOI
    ).map(_.toByte)

  /** Complete (animated) GIF: header + screen descriptor, `frames` image
    * descriptors each preceded by a graphics-control extension and carrying
    * a 1×1 one-byte LZW body, then the 0x3B trailer — the smallest stream
    * the [[gifFrameCount]] block walk fully traverses.
    */
  private[graft] def gifAnimBytes(w: Int, h: Int, frames: Int): Array[Byte] = {
    val b = scala.collection.mutable.ArrayBuffer[Int](
      'G', 'I', 'F', '8', '9', 'a',
      w & 0xff, (w >> 8) & 0xff, h & 0xff, (h >> 8) & 0xff,
      0x00, 0x00, 0x00) // packed (no GCT), background, aspect
    for (_ <- 0 until frames) {
      b ++= Seq(0x21, 0xf9, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00) // GCE + terminator
      b ++= Seq(0x2c, 0, 0, 0, 0, 1, 0, 1, 0, 0x00) // 1x1 image descriptor, no LCT
      b ++= Seq(0x02, 0x01, 0x00, 0x00) // LZW min code 2, 1-byte sub-block, terminator
    }
    b += 0x3b // trailer
    b.map(_.toByte).toArray
  }

  /** One parsed planted-header row ([[plantedHeaderQuery]]). `frames` is the
    * animated-GIF frame count (−1 for non-GIF or quarantined rows),
    * `orientation` the JPEG EXIF orientation 1–8 (−1 for non-JPEG,
    * Exif-less, or quarantined rows).
    */
  final case class HeaderProbe(
      doc_id: Long, media_type: String, width: Int, height: Int, parsed: Boolean,
      frames: Int, orientation: Int)

  /** Oracle gate for the compressed-format header parsers: per doc_id, a
    * REAL JPEG/PNG/GIF payload (format = doc_id mod 3) is built with
    * dimensions derived arithmetically from doc_id — JPEGs carry an Exif
    * APP1 with orientation `1 + id mod 8`, GIFs are animated with
    * `1 + id mod 5` frames — then parsed back by [[jpegDims]]/[[pngDims]]/
    * [[gifDims]] plus [[jpegOrientation]]/[[gifFrameCount]]. Every 7th row
    * gets a corrupt payload instead (overrunning JPEG segment length /
    * wrong IHDR tag / truncated GIF descriptor) and must quarantine —
    * parsed = false, all metadata −1 — rather than error. The DuckDB
    * oracle recomputes every column from the same doc_id arithmetic and
    * the corrupt mask, so a green row proves the parsers invert the
    * builders AND reject the malformed payloads. Runs per-partition, no
    * shuffle, like every other decode in this module.
    */
  def plantedHeaderQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ParquetSource.read(spark, s"$dir/documents.parquet").select("doc_id").as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = 16 + (id % 624).toInt
          val h = 16 + (id % 464).toInt
          val fmt = (id % 3) match {
            case 0 => "image/jpeg"
            case 1 => "image/png"
            case _ => "image/gif"
          }
          val corrupt = id % 7 == 0
          val payload = (fmt, corrupt) match {
            case ("image/jpeg", false) => jpegExifBytes(w, h, 1 + (id % 8).toInt)
            // SOF0 whose 0xFFFF length overruns the 6-byte buffer
            case ("image/jpeg", true) => Array(0xff, 0xd8, 0xff, 0xc0, 0xff, 0xff).map(_.toByte)
            case ("image/png", false) => pngBytes(w, h)
            case ("image/png", true) =>
              val b = pngBytes(w, h); b(12) = 'X'.toByte; b // IHDR → XHDR
            case ("image/gif", false) => gifAnimBytes(w, h, 1 + (id % 5).toInt)
            case ("image/gif", true) => gifBytes(w, h).take(8) // truncated descriptor
          }
          val dims = fmt match {
            case "image/jpeg" => jpegDims(payload)
            case "image/png" => pngDims(payload)
            case _ => gifDims(payload)
          }
          val frames =
            if (fmt == "image/gif") gifFrameCount(payload).getOrElse(-1) else -1
          val orientation =
            if (fmt == "image/jpeg") jpegOrientation(payload).getOrElse(-1) else -1
          HeaderProbe(id, fmt, dims.fold(-1)(_._1), dims.fold(-1)(_._2), dims.isDefined,
            frames, orientation)
        }
      }.toDF()
  }

  /** End-to-end stub pipeline: documents → binary payload → typed decode. */
  def decodePipeline(spark: SparkSession, dir: String): Dataset[MediaMeta] = {
    import spark.implicits._
    val media = ParquetSource.read(spark, s"$dir/documents.parquet")
      .select(
        col("doc_id"),
        lit("text/fake").as("media_type"),
        // NULL-text contract (r16): the typed MediaRow cannot carry a NULL
        // payload (NPE in the decoder kills the job on one malformed row)
        // — NULL decodes like the empty payload; the oracle coalesces the
        // same way
        encode(coalesce(col("text"), lit("")), "UTF-8").as("payload"))
      .as[MediaRow]
    decodeMeta(media)
  }

  /** [[decodePipeline]] as a catalog query: every output column of the stub
    * decoder (byte_len, width, height, checksum) is deterministically
    * derivable from the text bytes, so the mapPartitions dataflow gets a
    * hard DuckDB-oracle row, not just specs.
    */
  def decodePipelineQuery(spark: SparkSession, dir: String): DataFrame =
    decodePipeline(spark, dir).toDF()

  /** [[resize]] as a catalog query: (doc_id, width, height, md5 of the
    * stride-sampled thumbnail bytes). The sampled byte at position i is
    * text byte floor(i·len/256) — reproducible in SQL on the ASCII corpus,
    * so the resize plumbing is oracle-checked end to end.
    */
  /** Builds a RIFF/WAVE payload with a 16-bit PCM little-endian `data`
    * chunk — a REAL, spec-conformant WAV file (fmt tag 1, byte rate and
    * block align derived, word-aligned chunks). A `LIST` junk chunk sits
    * between `fmt ` and `data` so parsers must actually walk chunks rather
    * than assume fixed offsets. With `truncate=true` the data chunk
    * DECLARES the full sample count but the payload ends halfway through —
    * the torn-file shape a 100 TB ingest sees daily.
    */
  private[graft] def wavPcmBytes(rate: Int, channels: Int, samples: Array[Short],
      truncate: Boolean = false): Array[Byte] = {
    val dataSize = samples.length * 2
    val blockAlign = channels * 2
    val listBody = "INFOgrft".getBytes("US-ASCII") // 8-byte junk payload
    val riffSize = 4 + (8 + 16) + (8 + listBody.length) + (8 + dataSize)
    val writtenData = if (truncate) dataSize / 2 else dataSize
    val out = new java.io.ByteArrayOutputStream()
    def ascii(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    def w32(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff); out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff) }
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    ascii("RIFF"); w32(riffSize); ascii("WAVE")
    ascii("fmt "); w32(16)
    w16(1) // PCM
    w16(channels)
    w32(rate)
    w32(rate * blockAlign) // byte rate
    w16(blockAlign)
    w16(16) // bits per sample
    ascii("LIST"); w32(listBody.length); out.write(listBody)
    ascii("data"); w32(dataSize)
    var i = 0
    while (i * 2 < writtenData) { w16(samples(i) & 0xffff); i += 1 }
    out.toByteArray
  }

  /** Parses `(sampleRate, channels, samples)` from a RIFF/WAVE payload with
    * a 16-bit PCM `data` chunk — the full sample decode, not just the
    * header: chunk walk (word-aligned, corrupt sizes rejected like
    * [[wavFormat]]), fmt validation (PCM, 16-bit), and a little-endian
    * int16 read of the entire data chunk. A `data` chunk whose declared
    * size overruns the payload (torn file) quarantines to None.
    */
  def wavPcmSamples(payload: Array[Byte]): Option[(Int, Int, Array[Short])] = {
    if (payload.length < 36) return None
    if (!(payload(0) == 'R' && payload(1) == 'I' && payload(2) == 'F' && payload(3) == 'F' &&
        payload(8) == 'W' && payload(9) == 'A' && payload(10) == 'V' && payload(11) == 'E')) return None
    var rate = -1; var channels = -1; var bits = -1; var fmtTag = -1
    var samples: Array[Short] = null
    var i = 12
    while (i + 8 <= payload.length) {
      val size = le32(payload, i + 4)
      if (size < 0 || size > payload.length - i - 8) return None
      if (payload(i) == 'f' && payload(i + 1) == 'm' && payload(i + 2) == 't' && payload(i + 3) == ' ') {
        if (size < 16) return None
        fmtTag = le16(payload, i + 8)
        channels = le16(payload, i + 10)
        rate = le32(payload, i + 12)
        bits = le16(payload, i + 22)
      } else if (payload(i) == 'd' && payload(i + 1) == 'a' && payload(i + 2) == 't' &&
          payload(i + 3) == 'a') {
        val n = size / 2
        val arr = new Array[Short](n)
        var j = 0
        while (j < n) {
          val off = i + 8 + j * 2
          arr(j) = ((payload(off) & 0xff) | (payload(off + 1) << 8)).toShort
          j += 1
        }
        samples = arr
      }
      i += 8 + size + (size & 1) // chunks are word-aligned
    }
    if (fmtTag == 1 && bits == 16 && rate > 0 && channels > 0 && samples != null)
      Some((rate, channels, samples))
    else None
  }

  /** Builds a binary P6 PPM (header `P6\n<w> <h>\n255\n` with a comment
    * line — parsers must skip comments — followed by raw RGB triplets,
    * top-down). `truncate` drops half the pixel bytes (torn file).
    */
  private[graft] def ppmBytes(w: Int, h: Int, rgb: (Int, Int) => (Int, Int, Int),
      truncate: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(s"P6\n# graft planted\n$w $h\n255\n".getBytes("US-ASCII"))
    val px = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = rgb(x, y)
      val off = (y * w + x) * 3
      px(off) = r.toByte; px(off + 1) = g.toByte; px(off + 2) = b.toByte
    }
    out.write(px, 0, if (truncate) px.length / 2 else px.length)
    out.toByteArray
  }

  /** Full PIXEL decode of a binary P6 PPM — the whitespace/comment-tolerant
    * header walk of [[ppmDims]] extended through maxval and the single
    * whitespace byte that separates header from raster, then a raw RGB
    * read of every pixel (top-down — no BMP-style row inversion, no
    * padding). Declared raster overrunning the payload (torn file)
    * quarantines to None; only maxval 255 (1 byte/sample) is accepted.
    * With this, BOTH codec-free image formats (PPM here, BMP in
    * [[bmpPixels]]) have REAL bytes-to-pixels decodes.
    */
  def ppmPixels(payload: Array[Byte]): Option[(Int, Int, Array[Array[(Int, Int, Int)]])] = {
    if (payload.length < 2 || payload(0) != 'P' || payload(1) != '6') return None
    var i = 2
    val nums = new Array[Int](3)
    var found = 0
    while (found < 3 && i < payload.length) {
      val c = payload(i) & 0xff
      if (c == '#') { while (i < payload.length && payload(i) != '\n') i += 1 }
      else if (Character.isWhitespace(c)) i += 1
      else if (c >= '0' && c <= '9') {
        var v = 0L
        while (i < payload.length && payload(i) >= '0' && payload(i) <= '9') {
          v = v * 10 + (payload(i) - '0'); i += 1
          if (v > Int.MaxValue) return None // in-loop: no Long wrap ([[ppmDims]])
        }
        nums(found) = v.toInt
        found += 1
      } else return None
    }
    if (found < 3) return None
    val (w, h, maxval) = (nums(0), nums(1), nums(2))
    if (w <= 0 || h <= 0 || w > (1 << 20) || h > (1 << 20) || maxval != 255) return None
    // exactly ONE whitespace byte separates maxval from the raster
    if (i >= payload.length || !Character.isWhitespace(payload(i) & 0xff)) return None
    i += 1
    if (i.toLong + 3L * w * h > payload.length) return None // torn raster
    val rows = Array.ofDim[(Int, Int, Int)](h, w)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val off = i + (y * w + x) * 3
        rows(y)(x) = ((payload(off) & 0xff, payload(off + 1) & 0xff, payload(off + 2) & 0xff))
        x += 1
      }
      y += 1
    }
    Some((w, h, rows))
  }

  /** One parsed planted-PPM row ([[imagePpmQuery]]); −1s when torn. */
  final case class PpmProbe(doc_id: Long, parsed: Boolean, width: Long,
      height: Long, sum_r: Long, sum_g: Long, sum_b: Long, luma_checksum: Long)

  /** The PPM twin of [[imageDhashQuery]] — planted 8×6 P6 payloads
    * (comment line included, so decoders must walk the header properly)
    * parsed BACK to pixels and reduced to exact integer features: per-
    * channel sums and a position-weighted luma checksum
    * `Σ gray(x,y)·(1 + x + 7y)` that breaks under any pixel transposition
    * or row-order mistake. Channels follow the [[imageDhashQuery]]
    * planting arithmetic; every 5th doc is torn (raster declared, half
    * delivered) and must quarantine to −1s. DuckDB oracle recomputes
    * every feature from the arithmetic. Per-partition, no shuffle.
    */
  def imagePpmQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ParquetSource.read(spark, s"$dir/documents.parquet").select("doc_id").as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val corrupt = id % 5 == 0
          def chan(x: Int, y: Int): (Int, Int, Int) = (
            (((id * 5 + x * 19 + y * 29) % 256 + 256) % 256).toInt,
            (((id * 11 + x * 17 + y * 23) % 256 + 256) % 256).toInt,
            (((id * 7 + x * 13 + y * 31) % 256 + 256) % 256).toInt)
          ppmPixels(ppmBytes(8, 6, chan, truncate = corrupt)) match {
            case Some((w, h, px)) =>
              var sr = 0L; var sg = 0L; var sb = 0L; var cks = 0L
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val (r, g, b) = px(y)(x)
                  sr += r; sg += g; sb += b
                  val gray = (299L * r + 587L * g + 114L * b) / 1000L
                  cks += gray * (1L + x + 7L * y)
                  x += 1
                }
                y += 1
              }
              PpmProbe(id, parsed = true, w.toLong, h.toLong, sr, sg, sb, cks)
            case None => PpmProbe(id, parsed = false, -1L, -1L, -1L, -1L, -1L, -1L)
          }
        }
      }.toDF()
  }

  /** One parsed planted-audio row ([[audioPcmQuery]]): doc-level PCM
    * features, all exact integers. −1 everywhere when quarantined.
    */
  final case class AudioProbe(
      doc_id: Long, parsed: Boolean, sample_rate: Long, channels: Long,
      n_samples: Long, energy: Long, abs_sum: Long, peak: Long, zero_cross: Long)

  /** Oracle gate for the PCM sample decoder — audio feature extraction
    * that is REAL bytes-in, features-out (WAV PCM needs no codec): per
    * doc_id a spec-conformant WAV is built ([[wavPcmBytes]]) whose int16
    * samples are the arithmetic sequence `((id·31 + i·131) mod 2003) − 1001`
    * (so every feature is derivable in SQL), then parsed BACK from the
    * bytes by [[wavPcmSamples]] and reduced to exact integer features:
    * sum of squares (energy), sum of |v|, peak |v|, and strict
    * sign-change count. Every 7th row is a torn file (data chunk declares
    * 2× the bytes present) and must quarantine to −1s, not error. The
    * DuckDB oracle recomputes every feature from the doc_id arithmetic —
    * a green row proves the byte-level decode inverts the builder exactly.
    * Per-partition, no shuffle, constant memory — the [[decodeMeta]]
    * contract.
    */
  def audioPcmQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ParquetSource.read(spark, s"$dir/documents.parquet").select("doc_id").as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val n = 2 * (32 + (id % 64)).toInt
          val ch = 1 + (id % 2).toInt
          val rate = 8000 + ((id % 5) * 1000).toInt
          val corrupt = id % 7 == 0
          val samples = Array.tabulate(n)(i => (((id * 31 + i.toLong * 131) % 2003) - 1001).toShort)
          val payload = wavPcmBytes(rate, ch, samples, truncate = corrupt)
          wavPcmSamples(payload) match {
            case Some((r, c, s)) =>
              var energy = 0L; var absSum = 0L; var peak = 0L; var zc = 0L
              var j = 0
              while (j < s.length) {
                val v = s(j).toLong
                energy += v * v
                val a = math.abs(v)
                absSum += a
                if (a > peak) peak = a
                if (j > 0 && s(j - 1).toLong * v < 0) zc += 1
                j += 1
              }
              AudioProbe(id, parsed = true, r.toLong, c.toLong, s.length.toLong,
                energy, absSum, peak, zc)
            case None =>
              AudioProbe(id, parsed = false, -1L, -1L, -1L, -1L, -1L, -1L, -1L)
          }
        }
      }.toDF()
  }

  /** Builds a REAL 24-bit uncompressed BMP (BITMAPFILEHEADER +
    * BITMAPINFOHEADER, positive height ⇒ BOTTOM-UP rows, BGR byte order,
    * rows padded to 4 bytes — every quirk a real decoder must handle).
    * With `truncate=true` the headers declare the full pixel array but the
    * payload ends halfway through the pixel data — the torn-file shape.
    * `rgb(x, y)` is addressed in TOP-DOWN image coordinates.
    */
  private[graft] def bmpBytes(w: Int, h: Int, rgb: (Int, Int) => (Int, Int, Int),
      truncate: Boolean = false): Array[Byte] = {
    val stride = ((w * 3 + 3) / 4) * 4
    val imageSize = stride * h
    val out = new java.io.ByteArrayOutputStream()
    def w32(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff); out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff) }
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    out.write('B'); out.write('M')
    w32(14 + 40 + imageSize) // file size
    w16(0); w16(0)
    w32(54) // offBits
    w32(40); w32(w); w32(h) // positive height: bottom-up
    w16(1); w16(24) // planes, bpp
    w32(0); w32(imageSize) // BI_RGB, image size
    w32(2835); w32(2835); w32(0); w32(0)
    val full = new Array[Byte](imageSize)
    var row = 0
    while (row < h) {
      val y = h - 1 - row // bottom-up: first stored row is the image's last
      var x = 0
      while (x < w) {
        val (r, g, b) = rgb(x, y)
        val off = row * stride + x * 3
        full(off) = b.toByte; full(off + 1) = g.toByte; full(off + 2) = r.toByte
        x += 1
      }
      row += 1
    }
    out.write(full, 0, if (truncate) imageSize / 2 else imageSize)
    out.toByteArray
  }

  /** Full PIXEL decode of a 24-bit uncompressed BMP — headers validated
    * ('BM' magic, BI_RGB, 24 bpp), `bfOffBits` honored, bottom-up vs
    * top-down height handled, 4-byte row padding skipped, and the entire
    * pixel array read back as TOP-DOWN (r, g, b) rows. A pixel array whose
    * declared size overruns the payload (torn file) quarantines to None —
    * this is the real codec-free leg of the image-decode story (PPM and
    * BMP need no external library; JPEG et al. remain the documented
    * stub).
    */
  def bmpPixels(payload: Array[Byte]): Option[(Int, Int, Array[Array[(Int, Int, Int)]])] = {
    if (payload.length < 54 || payload(0) != 'B' || payload(1) != 'M') return None
    val offBits = le32(payload, 10)
    val hdrSize = le32(payload, 14)
    val w = le32(payload, 18)
    val hRaw = le32(payload, 22)
    val planes = le16(payload, 26)
    val bpp = le16(payload, 28)
    val compression = le32(payload, 30)
    if (hdrSize < 40 || planes != 1 || bpp != 24 || compression != 0) return None
    val h = math.abs(hRaw)
    val bottomUp = hRaw > 0
    if (w <= 0 || h <= 0 || w > (1 << 20) || h > (1 << 20)) return None
    val stride = ((w * 3 + 3) / 4) * 4
    if (offBits < 54 || offBits.toLong + stride.toLong * h > payload.length) return None
    val rows = Array.ofDim[(Int, Int, Int)](h, w)
    var row = 0
    while (row < h) {
      val y = if (bottomUp) h - 1 - row else row
      var x = 0
      while (x < w) {
        val off = offBits + row * stride + x * 3
        rows(y)(x) = ((payload(off + 2) & 0xff, payload(off + 1) & 0xff, payload(off) & 0xff))
        x += 1
      }
      row += 1
    }
    Some((w, h, rows))
  }

  /** One planted-image dHash row ([[imageDhashQuery]]); −1s when torn. */
  final case class ImageDhash(doc_id: Long, parsed: Boolean, width: Long,
      height: Long, dhash_hi: Long, dhash_lo: Long)

  /** Perceptual difference-hash over REAL decoded BMP pixels — the
    * near-dup fingerprint image pipelines compute right after decode
    * (dHash: Krawetz 2013): per doc a spec-conformant 9×8 24-bit BMP is
    * built ([[bmpBytes]]) whose channels follow planted arithmetic
    * (`b = (id·7 + x·13 + y·31) mod 256`, `g = (id·11 + x·17 + y·23) mod
    * 256`, `r = (id·5 + x·19 + y·29) mod 256`), parsed BACK byte-by-byte
    * ([[bmpPixels]] — bottom-up rows, BGR, padding honored), reduced to
    * integer luma `(299r + 587g + 114b) div 1000`, and hashed as the 64
    * horizontal-gradient bits `gray(x+1, y) > gray(x, y)`, packed into
    * two 32-bit halves (BIGINT-safe on both engines). The 9×8 canvas is
    * dHash's native resample target, so the hash here measures DECODE
    * exactness (the resampler is [[resize]]'s contract). Every 7th doc is
    * a torn file (headers declare the full pixel array, payload ends
    * halfway) and must quarantine to −1s. The DuckDB oracle recomputes
    * every bit from the planting arithmetic — a green row proves the
    * byte-level pixel decode inverts the builder exactly.
    * Per-partition, no shuffle, constant memory.
    */
  def imageDhashQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ParquetSource.read(spark, s"$dir/documents.parquet").select("doc_id").as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val corrupt = id % 7 == 0
          def chan(x: Int, y: Int): (Int, Int, Int) = (
            (((id * 5 + x * 19 + y * 29) % 256 + 256) % 256).toInt,
            (((id * 11 + x * 17 + y * 23) % 256 + 256) % 256).toInt,
            (((id * 7 + x * 13 + y * 31) % 256 + 256) % 256).toInt)
          val payload = bmpBytes(9, 8, chan, truncate = corrupt)
          bmpPixels(payload) match {
            case Some((w, h, px)) =>
              def gray(x: Int, y: Int): Long = {
                val (r, g, b) = px(y)(x)
                (299L * r + 587L * g + 114L * b) / 1000L
              }
              var hi = 0L; var lo = 0L
              var y = 0
              while (y < 8) {
                var x = 0
                while (x < 8) {
                  if (gray(x + 1, y) > gray(x, y)) {
                    if (y < 4) hi |= 1L << (y * 8 + x)
                    else lo |= 1L << ((y - 4) * 8 + x)
                  }
                  x += 1
                }
                y += 1
              }
              ImageDhash(id, parsed = true, w.toLong, h.toLong, hi, lo)
            case None => ImageDhash(id, parsed = false, -1L, -1L, -1L, -1L)
          }
        }
      }.toDF()
  }

  /** One fixed-width PCM analysis frame ([[audioFrameQuery]]). */
  final case class AudioFrame(doc_id: Long, frame_idx: Long, n_in_frame: Long, frame_energy: Long)

  /** Frame-level PCM feature extraction — the batch shape of real audio
    * featurization (fbank/MFCC windows): the decoded sample stream splits
    * into fixed `frameSize` windows and each frame reduces to its exact
    * integer energy. One generator row per frame, quarantined (torn) docs
    * contribute zero frames, partitioning preserved — downstream per-frame
    * embedding parallelizes on the exploded rows directly.
    */
  def audioFrameQuery(spark: SparkSession, dir: String, frameSize: Int = 32): DataFrame = {
    import spark.implicits._
    ParquetSource.read(spark, s"$dir/documents.parquet").select("doc_id").as[Long]
      .mapPartitions { ids =>
        ids.flatMap { id =>
          val n = 2 * (32 + (id % 64)).toInt
          val ch = 1 + (id % 2).toInt
          val rate = 8000 + ((id % 5) * 1000).toInt
          val corrupt = id % 7 == 0
          val samples = Array.tabulate(n)(i => (((id * 31 + i.toLong * 131) % 2003) - 1001).toShort)
          wavPcmSamples(wavPcmBytes(rate, ch, samples, truncate = corrupt)) match {
            case Some((_, _, s)) =>
              s.grouped(frameSize).zipWithIndex.map { case (frame, idx) =>
                var energy = 0L
                var j = 0
                while (j < frame.length) { val v = frame(j).toLong; energy += v * v; j += 1 }
                AudioFrame(id, idx.toLong, frame.length.toLong, energy)
              }
            case None => Iterator.empty
          }
        }
      }.toDF()
  }

  /** In-place iterative radix-2 Cooley–Tukey FFT (decimation-in-time,
    * bit-reversal reorder). Textbook algorithm, hand-rolled because the
    * container has no signal-processing libraries — and because the
    * catalog oracle then PROVES it: Parseval's theorem and the DC bin are
    * integer-recoverable from the planted samples, so a green
    * `mm_audio_spectrum` row certifies the transform is energy-preserving
    * and DC-exact on every document.
    */
  private[graft] def fft(re: Array[Double], im: Array[Double]): Unit = {
    val n = re.length
    require(n > 0 && (n & (n - 1)) == 0, s"radix-2 FFT needs a power-of-2 size: $n")
    var i = 1
    var j = 0
    while (i < n) {
      var bit = n >> 1
      while ((j & bit) != 0) { j ^= bit; bit >>= 1 }
      j |= bit
      if (i < j) {
        var t = re(i); re(i) = re(j); re(j) = t
        t = im(i); im(i) = im(j); im(j) = t
      }
      i += 1
    }
    var len = 2
    while (len <= n) {
      val ang = -2.0 * math.Pi / len
      val wr = math.cos(ang)
      val wi = math.sin(ang)
      var blockStart = 0
      while (blockStart < n) {
        var cr = 1.0
        var ci = 0.0
        var k = 0
        while (k < len / 2) {
          val even = blockStart + k
          val odd = even + len / 2
          val tr = re(odd) * cr - im(odd) * ci
          val ti = re(odd) * ci + im(odd) * cr
          re(odd) = re(even) - tr
          im(odd) = im(even) - ti
          re(even) += tr
          im(even) += ti
          val ncr = cr * wr - ci * wi
          ci = cr * wi + ci * wr
          cr = ncr
          k += 1
        }
        blockStart += len
      }
      len <<= 1
    }
  }

  /** Doc-level spectral summary ([[audioSpectrumQuery]]): integer features
    * recovered THROUGH the frequency domain. −1 everywhere when torn.
    */
  final case class AudioSpectrum(
      doc_id: Long, parsed: Boolean, n_fft_frames: Long,
      energy_time: Long, energy_freq: Long, dc_sum: Long)

  /** REAL frequency-domain audio features: each decoded PCM stream splits
    * into full `frameSize` (power-of-2) windows, every window runs a
    * genuine radix-2 [[fft]], and the spectrum folds back to integers the
    * oracle can derive independently:
    *   - `energy_freq` = Σ_frames round(Σ_k |X_k|² / N) — by Parseval this
    *     equals the time-domain energy EXACTLY (FFT error ~1e-8 of a ≥1
    *     integer gap, so the round is deterministic);
    *   - `dc_sum` = Σ_frames round(Re X_0) — the DC bin is the sample sum.
    * The oracle recomputes both straight from the planted arithmetic: a
    * green row proves the transform is unitary-correct on every document
    * (an FFT with a wrong twiddle, scaling, or reorder shifts energy
    * between bins but cannot conserve BOTH totals and the spec's
    * tone-peak/DFT-equality checks). Trailing samples short of a full
    * window are excluded on both sides. Same mapPartitions shape as
    * [[audioPcmQuery]]: per-partition, no shuffle, constant memory.
    */
  def audioSpectrumQuery(spark: SparkSession, dir: String, frameSize: Int = 32): DataFrame = {
    import spark.implicits._
    ParquetSource.read(spark, s"$dir/documents.parquet").select("doc_id").as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val n = 2 * (32 + (id % 64)).toInt
          val ch = 1 + (id % 2).toInt
          val rate = 8000 + ((id % 5) * 1000).toInt
          val corrupt = id % 7 == 0
          val samples = Array.tabulate(n)(i => (((id * 31 + i.toLong * 131) % 2003) - 1001).toShort)
          wavPcmSamples(wavPcmBytes(rate, ch, samples, truncate = corrupt)) match {
            case Some((_, _, s)) =>
              val full = s.length / frameSize
              var et = 0L
              var ef = 0L
              var dc = 0L
              var f = 0
              while (f < full) {
                val re = new Array[Double](frameSize)
                val im = new Array[Double](frameSize)
                var j = 0
                while (j < frameSize) {
                  val v = s(f * frameSize + j).toLong
                  re(j) = v.toDouble
                  et += v * v
                  j += 1
                }
                fft(re, im)
                var specEnergy = 0.0
                var k = 0
                while (k < frameSize) {
                  specEnergy += re(k) * re(k) + im(k) * im(k)
                  k += 1
                }
                ef += math.rint(specEnergy / frameSize).toLong
                dc += math.rint(re(0)).toLong
                f += 1
              }
              AudioSpectrum(id, parsed = true, full.toLong, et, ef, dc)
            case None => AudioSpectrum(id, parsed = false, -1L, -1L, -1L, -1L)
          }
        }
      }.toDF()
  }

  def resizeQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Empty documents are excluded: the resizer emits an all-zero thumbnail
    // for them (md5 of 256 NUL bytes) while a substr-based SQL oracle
    // reconstructs md5('') — resize-of-nothing has no canonical answer, so
    // the contract is defined on non-empty payloads only (both sides filter).
    val media = ParquetSource.read(spark, s"$dir/documents.parquet")
      .filter(length(col("text")) > 0)
      .select(
        col("doc_id"),
        lit("text/fake").as("media_type"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRow]
    resize(media, 16, 16).toDF()
      // digest the HEX of the thumbnail bytes: the sampled bytes need not
      // form valid UTF-8 on a non-ASCII corpus, and DuckDB's md5 only
      // hashes VARCHAR — hex() is the engine-neutral byte transport
      // (uppercase in both engines), so the oracle stays byte-true
      .select(col("doc_id"), col("width"), col("height"),
        md5(hex(col("payload"))).as("thumb_md5"))
  }
}
