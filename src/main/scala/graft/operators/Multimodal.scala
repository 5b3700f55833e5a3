package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: image/audio/video payloads as opaque
  * `binary` columns with a typed metadata struct, processed in
  * batch-shaped partition iterators (the Scala analogue of
  * `mapInPandas` — one iterator of rows per partition, vectorizable
  * batch boundary, no per-row driver involvement).
  *
  * Two modalities have REAL pure-JVM codecs (no native deps): BMP 24bpp
  * image decode (header parse, bottom-up rows, stride padding, channel
  * means) and PCM16 RIFF/WAV audio decode (chunk walk, sample stats).
  * Heavier formats (JPEG/MP3/H.264) would slot into the same
  * partition-iterator boundary with a library decoder.
  */
object Multimodal {

  /** Build a deterministic synthetic media table from the documents
    * table: payload = UTF-8 text bytes, metadata derived from doc_id.
    * Stands in for a real image/audio ingest. */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      col("text").cast("binary").as("payload"),
      struct(
        when(col("doc_id") % 2 === 0, lit("png")).otherwise(lit("jpeg")).as("format"),
        (col("doc_id") % 64 + 16).cast("int").as("width"),
        (col("doc_id") % 48 + 16).cast("int").as("height")).as("meta"))

  // ----------------------------------------------------- real codecs
  // Pure-JVM decoders for two modalities (BMP 24bpp images, PCM16 WAV
  // audio) — no native libraries, so they run in this sandbox and on any
  // executor. The encoders below build REAL files (a saved payload opens
  // in an image viewer / audio player); pixel/sample content is a
  // deterministic formula of media_id so the DuckDB oracle can recompute
  // the decoded features independently from the same definition, while
  // the decoder itself sees only the bytes (dims come from the parsed
  // header, samples from the parsed data chunk — never from metadata).

  private def mod256(v: Long): Int = (v % 256).toInt

  /** Bottom-up 24bpp BI_RGB BMP with 4-byte row padding — the standard
    * uncompressed layout (14-byte file header + 40-byte info header).
    * `pixels` is the LOGICAL image top-row-first, 3 bytes BGR per
    * pixel. */
  private[operators] def encodeBmpPixels(w: Int, h: Int, pixels: Array[Byte]): Array[Byte] = {
    require(pixels.length == w * h * 3, s"expected ${w * h * 3} BGR bytes, got ${pixels.length}")
    val stride = ((w * 3 + 3) / 4) * 4
    val size = 54 + stride * h
    val buf = java.nio.ByteBuffer.allocate(size).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(size).putShort(0).putShort(0).putInt(54)
    buf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(stride * h).putInt(2835).putInt(2835).putInt(0).putInt(0)
    // rows stored bottom-up: storage row r holds logical row h-1-r
    var r = 0
    while (r < h) {
      val y = h - 1 - r
      buf.put(pixels, y * w * 3, w * 3)
      var p = w * 3
      while (p < stride) { buf.put(0.toByte); p += 1 }
      r += 1
    }
    buf.array()
  }

  private[operators] def encodeBmp(docId: Long): Array[Byte] = {
    val w = (docId % 13).toInt + 3
    val h = (docId % 7).toInt + 2
    val pixels = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val o = (y * w + x) * 3
        pixels(o) = mod256(docId * 7 + y * 31L + x * 13L).toByte      // B
        pixels(o + 1) = mod256(docId * 11 + y * 17L + x * 5L).toByte  // G
        pixels(o + 2) = mod256(docId * 3 + y * 23L + x * 29L).toByte  // R
        x += 1
      }
      y += 1
    }
    encodeBmpPixels(w, h, pixels)
  }

  /** Shared header parse + validation for the 24bpp decoders:
    * (w, h, hRaw, dataOff, stride), or None for anything that is not a
    * well-formed uncompressed 24bpp BMP. All arithmetic that a hostile
    * header could overflow (w·3, stride·h, w·h·3) runs in Long, and
    * dataOff is bounds-checked on BOTH ends — a malformed payload must
    * yield None, never an executor-killing exception. */
  private def parseBmpHeader(payload: Array[Byte]): Option[(Int, Int, Int, Int, Int)] = {
    if (payload == null || payload.length < 54) return None
    val buf = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    if (buf.get(0) != 'B'.toByte || buf.get(1) != 'M'.toByte) return None
    val dataOff = buf.getInt(10)
    val hdrSize = buf.getInt(14)
    if (hdrSize < 40 || dataOff < 54) return None
    val w = buf.getInt(18)
    val hRaw = buf.getInt(22)
    if (hRaw == Int.MinValue) return None // abs() would overflow
    val h = math.abs(hRaw)
    val bpp = buf.getShort(28).toInt
    val compression = buf.getInt(30)
    if (w <= 0 || h == 0 || bpp != 24 || compression != 0) return None
    // Pixel-fit check FIRST: w.toLong*h tops out near 4.6e18 so it cannot
    // overflow Long, whereas strideL*h (and w*h*3) can wrap negative for
    // w=h≈Int.MaxValue and would defeat the bounds check below.
    if (w.toLong * h > Int.MaxValue / 3) return None // pixel array must fit
    val strideL = ((w.toLong * 3 + 3) / 4) * 4
    if (dataOff.toLong + strideL * h > payload.length) return None
    Some((w, h, hRaw, dataOff, strideL.toInt))
  }

  /** Header-driven decode to the logical pixel array (top-row-first
    * BGR), undoing bottom-up row order and stride padding. */
  private[operators] def decodeBmpPixels(payload: Array[Byte]): Option[(Int, Int, Array[Byte])] =
    parseBmpHeader(payload).map { case (w, h, hRaw, dataOff, stride) =>
      val pixels = new Array[Byte](w * h * 3)
      var r = 0
      while (r < h) {
        val y = if (hRaw > 0) h - 1 - r else r // bottom-up vs top-down storage
        System.arraycopy(payload, dataOff + r * stride, pixels, y * w * 3, w * 3)
        r += 1
      }
      (w, h, pixels)
    }

  /** Shared nearest-neighbor core over a logical BGR pixel array:
    * output pixel (x, y) samples source pixel (x·sw/tw, y·sh/th)
    * (integer floor — the replayable nearest neighbor). */
  private def resizePixels(
      sw: Int, sh: Int, src: Array[Byte], tw: Int, th: Int): Array[Byte] = {
    // caller-config dims, not payload data — but tw*th*3 must still fit
    // an Int or the allocation overflows to NegativeArraySizeException
    require(tw.toLong * th <= Int.MaxValue / 3,
      s"target ${tw}x$th exceeds the pixel-array bound")
    val out = new Array[Byte](tw * th * 3)
    var y = 0
    while (y < th) {
      // long arithmetic: y*sh (and x*sw) overflow Int for legal tall
      // sources/targets, wrapping to a negative row index and killing
      // the executor — the exception class the parser contract forbids
      val sy = (y.toLong * sh / th).toInt
      var x = 0
      while (x < tw) {
        val sx = (x.toLong * sw / tw).toInt
        System.arraycopy(src, (sy * sw + sx) * 3, out, (y * tw + x) * 3, 3)
        x += 1
      }
      y += 1
    }
    out
  }

  /** Nearest-neighbor resize of a 24bpp BMP to (tw, th), re-encoded as
    * a valid BMP. None when the payload is not a decodable BMP. */
  private[operators] def resizeBmp(payload: Array[Byte], tw: Int, th: Int): Option[Array[Byte]] = {
    require(tw > 0 && th > 0, "target dims must be positive")
    decodeBmpPixels(payload).map { case (sw, sh, src) =>
      encodeBmpPixels(tw, th, resizePixels(sw, sh, src, tw, th))
    }
  }

  // ------------------------------------------------------------- PNG
  // The second real image codec, via the JDK's own javax.imageio
  // (pure-JVM, ships with the JRE). BMP stays the oracle-replayable
  // gate format — its pixel layout can be recomputed in SQL — while
  // PNG is pinned by spec: lossless encode→decode round-trip and
  // feature/resize parity with the BMP path on identical pixels.

  /** Encode a top-row-first BGR pixel array as PNG. */
  private[operators] def encodePng(w: Int, h: Int, pixels: Array[Byte]): Array[Byte] = {
    require(w > 0 && h > 0 && pixels.length == w * h * 3,
      s"pixel array must be w*h*3 bytes, got ${pixels.length} for ${w}x$h")
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val raster = img.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferByte].getData
    System.arraycopy(pixels, 0, raster, 0, pixels.length)
    val bos = new java.io.ByteArrayOutputStream(pixels.length / 2 + 64)
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** PNG decode to the same logical (w, h, top-row-first BGR) shape as
    * [[decodeBmpPixels]]. Hostile-input stance matches the BMP parser:
    * anything that is not a decodable PNG yields None, never an
    * executor-killing exception (the signature fast-path avoids handing
    * arbitrary junk to ImageIO at all, and the IHDR dims are checked
    * BEFORE ImageIO touches pixel data — a decompression bomb declaring
    * 44k x 44k would otherwise allocate its multi-GB raster inside
    * ImageIO.read and kill the executor with an OutOfMemoryError the
    * NonFatal catch deliberately does not swallow). */
  private[operators] def decodePngPixels(payload: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (payload == null || payload.length < 24) return None
    if ((payload(0) & 0xFF) != 0x89 || payload(1) != 'P' ||
      payload(2) != 'N' || payload(3) != 'G') return None
    // IHDR is mandated first chunk: width/height are big-endian int32 at
    // bytes 16..23 — the declared raster size, available pre-decode
    def be32(o: Int): Long =
      ((payload(o) & 0xFFL) << 24) | ((payload(o + 1) & 0xFFL) << 16) |
        ((payload(o + 2) & 0xFFL) << 8) | (payload(o + 3) & 0xFFL)
    // bytes 12-15 must literally be "IHDR" — otherwise 16..23 is not a
    // dimension field and the bomb guard below guards nothing
    if (payload(12) != 'I' || payload(13) != 'H' ||
      payload(14) != 'D' || payload(15) != 'R') return None
    val dw = be32(16); val dh = be32(20)
    // each dim is bounded FIRST: with dw,dh up to 0xFFFFFFFF the product
    // can exceed Long.MaxValue and wrap negative, silently passing the
    // area check — the guard must not depend on ImageIO rejecting
    // dims >= 2^31 as negative ints
    if (dw <= 0 || dh <= 0 || dw > Int.MaxValue || dh > Int.MaxValue ||
      dw * dh > Int.MaxValue / 3) return None
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) return None
      val w = img.getWidth
      val h = img.getHeight
      if (w <= 0 || h <= 0 || w.toLong * h > Int.MaxValue / 3) return None
      val out = new Array[Byte](w * h * 3)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val o = (y * w + x) * 3
          out(o) = (rgb & 0xFF).toByte // B
          out(o + 1) = ((rgb >> 8) & 0xFF).toByte // G
          out(o + 2) = ((rgb >> 16) & 0xFF).toByte // R
          x += 1
        }
        y += 1
      }
      Some((w, h, out))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Nearest-neighbor resize of a PNG, re-encoded as PNG — same core as
    * the BMP path, so both formats resample identically. */
  private[operators] def resizePng(payload: Array[Byte], tw: Int, th: Int): Option[Array[Byte]] = {
    require(tw > 0 && th > 0, "target dims must be positive")
    decodePngPixels(payload).map { case (sw, sh, src) =>
      encodePng(tw, th, resizePixels(sw, sh, src, tw, th))
    }
  }

  /** Format-dispatching pixel decode: BMP by its "BM" magic, PNG by its
    * signature — one entry point for mixed-format media tables. */
  private[operators] def decodeImagePixels(payload: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (payload == null || payload.length < 2) None
    else if (payload(0) == 'B'.toByte && payload(1) == 'M'.toByte) decodeBmpPixels(payload)
    else decodePngPixels(payload)
  }

  /** Per-payload image features, dispatching by magic bytes: BMP rides
    * the streaming header parser (no pixel-array materialization), PNG
    * decodes via ImageIO then sums channels. Same (w, h, means-BGR)
    * tuple shape as [[decodeBmp]]. */
  private def imageFeatures(payload: Array[Byte]): Option[(Int, Int, Double, Double, Double)] = {
    if (payload != null && payload.length >= 2 &&
      payload(0) == 'B'.toByte && payload(1) == 'M'.toByte) decodeBmp(payload)
    else decodePngPixels(payload).map { case (w, h, px) =>
      var sb = 0L; var sg = 0L; var sr = 0L
      var i = 0
      while (i < px.length) {
        sb += px(i) & 0xff; sg += px(i + 1) & 0xff; sr += px(i + 2) & 0xff
        i += 3
      }
      val n = w.toLong * h
      (w, h, sb.toDouble / n, sg.toDouble / n, sr.toDouble / n)
    }
  }

  /** Format-agnostic image features over a mixed BMP/PNG media table:
    * the same (dims, per-channel means) surface as [[decodeBmpFeatures]]
    * but dispatching per payload — the shape a real multi-format corpus
    * needs. Undecodable payloads keep the row with null features. */
  def decodeImageFeatures(media: DataFrame): DataFrame =
    imageFeatureRows(media, imageFeatures)

  /** One shared mapPartitions body for the image-feature surfaces — the
    * payload extraction, null handling, and (b,g,r)→(r,g,b) reorder must
    * not drift between the BMP-only and format-dispatching decoders. */
  private def imageFeatureRows(
      media: DataFrame,
      decode: Array[Byte] => Option[(Int, Int, Double, Double, Double)]): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(BmpFeaturesSchema)
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          val len = if (payload == null) 0L else payload.length.toLong
          decode(payload) match {
            case Some((w, h, mb, mg, mr)) =>
              Row(r.getAs[Long]("media_id"), len, w, h,
                round6(mr), round6(mg), round6(mb))
            case None =>
              Row(r.getAs[Long]("media_id"), len, null, null, null, null, null)
          }
        }
      }(enc)
  }

  /** Resize every media payload to (tw, th) at the partition-iterator
    * boundary; undecodable payloads pass through as null (row kept),
    * and only rows that actually resized get the new dims stamped into
    * meta — a null payload must not carry metadata claiming an image
    * exists. */
  def resizeBmpMedia(media: DataFrame, tw: Int, th: Int): DataFrame = {
    val resizeU = udf { (payload: Array[Byte]) => resizeBmp(payload, tw, th).orNull }
    media.withColumn("payload", resizeU(col("payload")))
      .withColumn("meta", when(col("payload").isNotNull, struct(
        col("meta.format").as("format"),
        lit(tw).as("width"), lit(th).as("height"))).otherwise(lit(null)))
  }

  // ------------------------------------------------- perceptual hash
  /** Average-hash (aHash) perceptual fingerprint of an image payload:
    * nearest-neighbor resample to 8×8 (the shared [[resizePixels]]
    * rule), per-cell gray = B+G+R (a positive scaling of luma — the /3
    * is dropped so every comparison stays in exact integer arithmetic),
    * bit = strictly-greater-than-mean via `64·gray > Σgray`. Returned
    * as a 64-char '0'/'1' string in row-major order — engine-portable
    * and sign-safe (a packed int64 with bit 63 set would overflow a
    * replaying engine's BIGINT). None on undecodable payloads. */
  private[operators] def aHashBits(payload: Array[Byte]): Option[String] =
    decodeImagePixels(payload).map { case (w, h, px) =>
      val small = resizePixels(w, h, px, 8, 8)
      val gray = Array.tabulate(64) { i =>
        (small(i * 3) & 0xff) + (small(i * 3 + 1) & 0xff) + (small(i * 3 + 2) & 0xff)
      }
      var total = 0L
      gray.foreach(total += _)
      val sb = new StringBuilder(64)
      var i = 0
      while (i < 64) { sb.append(if (gray(i) * 64L > total) '1' else '0'); i += 1 }
      sb.toString()
    }

  /** Per-media perceptual hash column — a narrow map (decode + 8×8
    * resample per row, no shuffle). Undecodable payloads yield null. */
  def imagePHash(media: DataFrame): DataFrame = {
    val hashU = udf { (payload: Array[Byte]) => aHashBits(payload).orNull }
    media.select(col("media_id"), hashU(col("payload")).as("phash"))
  }

  /** Perceptual near-dup pairs over hashed media: the 64-bit hash is
    * banded into 4×16-bit chunks, candidates form only inside equal
    * (band, chunk) buckets (by pigeonhole, Hamming ≤ 3 GUARANTEES a
    * shared band — recall is exact, same scheme as [[Dedup.simhash]]
    * banding), then the exact Hamming distance filters. The distance is
    * pure Catalyst (`zip_with` over the bit chars).
    *
    * Shape for scale (same policy as Dedup.lshCandidatePairs): the band
    * join carries ONLY (band, chunk, id) — the 64-char hash strings join
    * back per candidate, not per band row — and a bucket larger than
    * `hotBucketThreshold` (at corpus scale a pile of byte-identical
    * thumbnails lands every copy in every band bucket) degrades to star
    * pairing against the bucket minimum: O(K) pairs instead of O(K²).
    * Such buckets are same-image clusters, where the star suffices for
    * the drop policy (everything pairs with the min and is dropped). */
  def phashNearDupPairs(
      hashed: DataFrame,
      maxHamming: Int = 3,
      hotBucketThreshold: Int = 64): DataFrame = {
    require(maxHamming <= 3,
      s"4x16-bit banding only guarantees recall to Hamming 3, got $maxHamming")
    // one row per media_id: a duplicated input id would otherwise
    // multiply every pair it appears in through the hash-join-back.
    // Materialized ONCE: the caller's hash chain (decode + resample +
    // hash per image) otherwise re-runs for the banding AND each of the
    // two per-candidate join-backs — at gate scale that tripled the
    // single dominant job; (id, 64-char hash) is ~80 bytes/image
    // The Hamming distance is computed on NUMERIC halves (32-bit ints
    // parsed once here from the bit string), not by splitting the
    // 64-char strings per candidate pair: `zip_with` over split() runs
    // an interpreted lambda per element — 128 evaluations per pair — and
    // profiled as the dominant single-task stage of the gate, while
    // bit_count(xor) is one codegen'd instruction pair (the simhash
    // operator's exact shape). Bit-for-bit equivalent: the string is
    // always 64 chars of '0'/'1' by construction (aHashBits), so
    // popcount(xor(half_a, half_b)) summed over both halves equals the
    // per-char mismatch count.
    val hashes = hashed.filter(col("phash").isNotNull)
      .select(col("media_id"), col("phash"))
      .dropDuplicates("media_id")
      .withColumn("h1", conv(substring(col("phash"), 1, 32), 2, 10).cast("long"))
      .withColumn("h2", conv(substring(col("phash"), 33, 32), 2, 10).cast("long"))
      .localCheckpoint()
    val withBands = hashes
      .select(
        col("media_id"),
        posexplode(transform(
          sequence(lit(0), lit(3)),
          b => col("phash").substr(b * 16 + 1, lit(16)))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "chunk")
    Dedup.bucketCandidatePairs(
        withBands.select(col("band"), col("chunk"), col("media_id")),
        Seq("band", "chunk"), "media_id", hotBucketThreshold)
      .join(hashes.select(col("media_id").as("id_a"),
        col("h1").as("h1_a"), col("h2").as("h2_a")), Seq("id_a"))
      .join(hashes.select(col("media_id").as("id_b"),
        col("h1").as("h1_b"), col("h2").as("h2_b")), Seq("id_b"))
      .withColumn("hamming",
        (bit_count(col("h1_a").bitwiseXOR(col("h1_b"))) +
          bit_count(col("h2_a").bitwiseXOR(col("h2_b")))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Parsed BMP features: (width, height, mean_b, mean_g, mean_r) from
    * the header + pixel array alone (shared [[parseBmpHeader]]
    * validation — None on anything malformed, never an exception; means
    * stream over the padded rows without materializing the pixel
    * array). Handles both bottom-up (height > 0) and top-down
    * (height < 0) layouts and row padding. */
  private[operators] def decodeBmp(payload: Array[Byte]): Option[(Int, Int, Double, Double, Double)] =
    parseBmpHeader(payload).map { case (w, h, _, dataOff, stride) =>
      var sumB = 0L; var sumG = 0L; var sumR = 0L
      var r = 0
      while (r < h) {
        var off = dataOff + r * stride
        var x = 0
        while (x < w) {
          sumB += payload(off) & 0xff
          sumG += payload(off + 1) & 0xff
          sumR += payload(off + 2) & 0xff
          off += 3; x += 1
        }
        r += 1
      }
      val n = w.toLong * h
      (w, h, sumB.toDouble / n, sumG.toDouble / n, sumR.toDouble / n)
    }

  /** PCM16 mono RIFF/WAVE with a JUNK chunk between fmt and data (odd
    * payload size, so the decoder's even-alignment chunk walk is
    * genuinely exercised). */
  private[operators] def encodeWav(docId: Long): Array[Byte] = {
    val n = (docId % 50).toInt + 10
    val sampleRate = 8000 + (docId % 3).toInt * 4000
    val dataSize = n * 2
    // RIFF size = WAVE + (fmt hdr 8 + 16) + (JUNK hdr 8 + 3 + pad 1) + (data hdr 8 + dataSize)
    val riffSize = 4 + 24 + 12 + 8 + dataSize
    val buf = java.nio.ByteBuffer.allocate(8 + riffSize).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(riffSize).put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(sampleRate).putInt(sampleRate * 2).putShort(2).putShort(16)
    buf.put("JUNK".getBytes("US-ASCII")).putInt(3).put(Array[Byte](7, 7, 7, 0))
    buf.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var i = 0
    while (i < n) {
      buf.putShort((((docId * 131 + i * 37L) % 65536) - 32768).toShort)
      i += 1
    }
    buf.array()
  }

  /** Parsed WAV features: (n_samples, sample_rate, mean, rms,
    * zero_crossings) from the chunk walk alone — fmt and data located by
    * iterating the chunk list with even-size alignment, unknown chunks
    * skipped. None unless uncompressed PCM16 mono. */
  private[operators] def decodeWav(payload: Array[Byte]): Option[(Int, Int, Double, Double, Int)] = {
    if (payload == null || payload.length < 12) return None
    val buf = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(off: Int): String =
      new String(payload, off, 4, "US-ASCII")
    if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
    // the walk cursor runs in Long: a hostile 32-bit chunk length must
    // fail the bounds check, not wrap the arithmetic and crash a read
    var off = 12L
    var sampleRate = -1; var fmtOk = false
    var dataOff = -1; var dataLen = -1
    while (off + 8 <= payload.length && (dataOff < 0 || !fmtOk)) {
      val o = off.toInt
      val id = tag(o)
      val len = buf.getInt(o + 4)
      if (len < 0 || off + 8 + len.toLong > payload.length) return None
      if (id == "fmt " && len >= 16) {
        val audioFormat = buf.getShort(o + 8).toInt
        val channels = buf.getShort(o + 10).toInt
        sampleRate = buf.getInt(o + 12)
        val bits = buf.getShort(o + 22).toInt
        fmtOk = audioFormat == 1 && channels == 1 && bits == 16
      } else if (id == "data") {
        dataOff = o + 8; dataLen = len
      }
      off += 8L + len + (len & 1) // RIFF chunks align to even offsets
    }
    if (!fmtOk || dataOff < 0 || dataLen < 2) return None
    val n = dataLen / 2
    var sum = 0L; var sumSq = 0L; var crossings = 0
    var prevNeg = false
    var i = 0
    while (i < n) {
      val s = buf.getShort(dataOff + i * 2).toLong
      sum += s; sumSq += s * s
      val neg = s < 0
      if (i > 0 && neg != prevNeg) crossings += 1
      prevNeg = neg
      i += 1
    }
    Some((n, sampleRate, sum.toDouble / n, math.sqrt(sumSq.toDouble / n), crossings))
  }

  /** Media table with REAL BMP payloads (one image per document id).
    * Widened before the encode UDF: a narrow documents scan would run
    * the per-image encode (and everything chained on the payload) on
    * 1-2 cores (guide §2.5; no-op when the scan is already wide). */
  def bmpMediaFromDocuments(docs: DataFrame): DataFrame = {
    val enc = udf { (id: Long) => encodeBmp(id) }
    Scans.widenIfNarrow(docs.select(col("doc_id"))).select(
      col("doc_id").as("media_id"),
      enc(col("doc_id")).as("payload"),
      struct(
        lit("bmp").as("format"),
        (col("doc_id") % 13 + 3).cast("int").as("width"),
        (col("doc_id") % 7 + 2).cast("int").as("height")).as("meta"))
  }

  /** Media table with REAL PCM16 WAV payloads (widened like the BMP
    * builder — the decode chains hang off this payload column). */
  def wavMediaFromDocuments(docs: DataFrame): DataFrame = {
    val enc = udf { (id: Long) => encodeWav(id) }
    Scans.widenIfNarrow(docs.select(col("doc_id"))).select(
      col("doc_id").as("media_id"),
      enc(col("doc_id")).as("payload"),
      struct(
        lit("wav").as("format"),
        lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height")).as("meta"))
  }

  val BmpFeaturesSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("byte_len", LongType, nullable = false),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("mean_r", DoubleType),
    StructField("mean_g", DoubleType),
    StructField("mean_b", DoubleType)))

  /** Real image feature extraction at the batch-iterator boundary: each
    * partition decodes its payloads with the header-driven BMP parser
    * (dims and channel means come from the bytes; undecodable payloads
    * yield null features, the row is kept). No shuffle — output
    * partitioning follows the input. */
  def decodeBmpFeatures(media: DataFrame): DataFrame =
    imageFeatureRows(media, decodeBmp)

  val WavFeaturesSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("byte_len", LongType, nullable = false),
    StructField("n_samples", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("mean_amp", DoubleType),
    StructField("rms", DoubleType),
    StructField("zero_crossings", IntegerType)))

  /** Real audio feature extraction: RIFF chunk walk + PCM16 decode per
    * payload at the same batch-iterator boundary. */
  def decodeWavFeatures(media: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(WavFeaturesSchema)
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          val len = if (payload == null) 0L else payload.length.toLong
          decodeWav(payload) match {
            case Some((n, sr, mean, rms, zc)) =>
              Row(r.getAs[Long]("media_id"), len, n, sr, round6(mean), round6(rms), zc)
            case None =>
              Row(r.getAs[Long]("media_id"), len, null, null, null, null, null)
          }
        }
      }(enc)
  }

  private def round6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** "Frame sampling" for video-like payloads: split the payload into
    * `frames` equal byte ranges and emit one row per sampled frame —
    * the explode-shaped op a real frame extractor would use. Pure
    * column expressions (codegen'd). */
  def sampleFrames(media: DataFrame, frames: Int): DataFrame = {
    // frames = 0 would emit sequence(0, -1) = [0, -1] (Spark descends
    // when start > stop) plus a division by zero — two garbage rows per
    // media with null bytes instead of a loud error
    require(frames > 0, s"frames must be positive, got $frames")
    media.select(
      col("media_id"),
      col("meta"),
      posexplode(transform(
        sequence(lit(0), lit(frames - 1)),
        f => {
          // long arithmetic: an int len×frame product wraps for payloads
          // past Int.MaxValue/frames, silently sampling wrong regions
          val len = length(col("payload")).cast("long")
          // integer frame boundaries (Spark `/` yields double)
          val start = floor(len * f / frames).cast("int") + 1
          val end = floor(len * (f + 1) / frames).cast("int")
          col("payload").substr(start, greatest(end - start + lit(1), lit(0)))
        })))
      .withColumnRenamed("pos", "frame_no")
      .withColumnRenamed("col", "frame_bytes")
  }
}
