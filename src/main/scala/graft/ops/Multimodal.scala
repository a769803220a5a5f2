package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One media asset: opaque bytes + typed metadata. In the crawl pipeline
  * these come from the media spans of the interleaved docs table; in the
  * sandbox the bytes are deterministic but REAL encoded media (binary PPM
  * images, RIFF/PCM16 WAV audio, YUV4MPEG2 video — all pure-JVM formats),
  * and the decode stage parses them for real: dimensions, sample counts
  * and frame counts come from the bytes. No codec library is needed and
  * no decode path is stubbed.
  */
final case class MediaAsset(media_id: String, doc_id: String, kind: String, bytes: Array[Byte])
final case class MediaFeatures(
    media_id: String, doc_id: String, kind: String,
    width: Int, height: Int, format: String, n_frames: Int,
    feature: Seq[Float])

/** Multimodal column plumbing for the training-data pipeline: treat
  * image/audio/video as opaque binary columns; decode / feature-extract /
  * frame-sample run batch-at-a-time inside mapPartitions (the Scala
  * analogue of mapInPandas — one decoder instantiation per partition, rows
  * streamed through it).
  */
object Multimodal {

  /** Derive a media table from the span docs: one row per media span, with
    * deterministic fake bytes derived from the media_ref (STUB for the
    * fetch-the-asset stage).
    */
  def mediaTable(spark: SparkSession, docs: DataFrame): Dataset[MediaAsset] = {
    import spark.implicits._
    docs.select(col("doc_id"),
        explode(expr("filter(spans, s -> s.kind = 'media')")).as("m"))
      .select(col("doc_id"), col("m.media_ref").as("media_ref"))
      .as[(String, String)]
      .map { case (docId, ref) =>
        MediaAsset(ref, docId, kindOf(ref), fakeBytes(ref))
      }
  }

  def kindOf(ref: String): String =
    if (ref.endsWith(".jpg") || ref.endsWith(".png")) "image"
    else if (ref.endsWith(".mp4") || ref.endsWith(".y4m")) "video"
    else if (ref.endsWith(".mp3") || ref.endsWith(".wav")) "audio"
    else "binary"

  /** Deterministic asset payload. Image, audio AND video refs get REAL
    * encoded media — a binary PPM (P6), a PCM16 mono RIFF/WAVE, and a
    * YUV4MPEG2 (Y4M) stream respectively, all pure-JVM formats needing no
    * codec libraries — so the decode stage downstream parses actual bytes
    * instead of pretending to. Unrecognized refs get an opaque
    * deterministic payload (decoded as a plain byte histogram).
    */
  def fakeBytes(ref: String): Array[Byte] = kindOf(ref) match {
    case "image" => ppmBytes(ref)
    case "audio" => wavBytes(ref)
    case "video" => y4mBytes(ref)
    case _ =>
      val h = graft.core.UrlCanon.hash64(ref)
      Array.tabulate(64)(i => ((graft.fixtures.Fixtures.mix(h, i.toLong) % 256).toByte))
  }

  /** Deterministic binary PPM (P6, maxval 255): header + raw RGB rows. */
  def ppmBytes(ref: String): Array[Byte] = {
    val h = graft.core.UrlCanon.hash64(ref)
    val w = 8 + graft.fixtures.Fixtures.bounded(graft.fixtures.Fixtures.mix(h, 101L), 24)
    val ht = 6 + graft.fixtures.Fixtures.bounded(graft.fixtures.Fixtures.mix(h, 102L), 18)
    val header = s"P6\n$w $ht\n255\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val px = Array.tabulate(w * ht * 3)(i =>
      graft.fixtures.Fixtures.bounded(graft.fixtures.Fixtures.mix(h, 1000L + i), 256).toByte)
    header ++ px
  }

  /** Deterministic PCM16 mono RIFF/WAVE at 8 kHz. */
  def wavBytes(ref: String): Array[Byte] = {
    val h = graft.core.UrlCanon.hash64(ref)
    val n = 64 + graft.fixtures.Fixtures.bounded(graft.fixtures.Fixtures.mix(h, 103L), 192)
    val rate = 8000
    val bb = java.nio.ByteBuffer.allocate(44 + 2 * n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def ascii(s: String) = bb.put(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    ascii("RIFF"); bb.putInt(36 + 2 * n); ascii("WAVE")
    ascii("fmt "); bb.putInt(16)
    bb.putShort(1) // PCM
    bb.putShort(1) // mono
    bb.putInt(rate)
    bb.putInt(rate * 2) // byte rate
    bb.putShort(2)      // block align
    bb.putShort(16)     // bits per sample
    ascii("data"); bb.putInt(2 * n)
    var i = 0
    while (i < n) {
      bb.putShort((graft.fixtures.Fixtures.bounded(
        graft.fixtures.Fixtures.mix(h, 2000L + i), 65536) - 32768).toShort)
      i += 1
    }
    bb.array()
  }

  /** Deterministic YUV4MPEG2 (Y4M) stream: plain-text stream header, then
    * uncompressed C420 frames (`FRAME\n` + Y plane + quarter-size U and V
    * planes). Even dimensions (C420 subsamples chroma 2x2), 4..31 frames.
    */
  def y4mBytes(ref: String): Array[Byte] = {
    val h = graft.core.UrlCanon.hash64(ref)
    import graft.fixtures.Fixtures.{bounded, mix}
    val w = 8 + 2 * bounded(mix(h, 104L), 12)  // 8..30, even
    val ht = 6 + 2 * bounded(mix(h, 105L), 8)  // 6..20, even
    val nf = 4 + bounded(mix(h, 106L), 28)     // 4..31 frames
    val header = s"YUV4MPEG2 W$w H$ht F25:1 Ip A1:1 C420jpeg\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val frameMark = "FRAME\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val ySize = w * ht; val cSize = (w / 2) * (ht / 2)
    val out = new java.io.ByteArrayOutputStream(
      header.length + nf * (frameMark.length + ySize + 2 * cSize))
    out.write(header, 0, header.length)
    var f = 0
    while (f < nf) {
      out.write(frameMark, 0, frameMark.length)
      var i = 0
      while (i < ySize + 2 * cSize) {
        out.write(bounded(mix(h, 3000L + f * 100000L + i), 256))
        i += 1
      }
      f += 1
    }
    out.toByteArray
  }

  /** Minimal binary-PPM (P6, maxval 255) parser: pure JVM, handles `#`
    * comments and arbitrary whitespace in the header. Returns
    * (width, height, raw RGB bytes).
    */
  def decodePpm(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    require(bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '6', "not a P6 PPM")
    var i = 2
    def skipWs(): Unit = {
      var going = true
      while (going && i < bytes.length) bytes(i) match {
        case ' ' | '\t' | '\r' | '\n' => i += 1
        case '#' => while (i < bytes.length && bytes(i) != '\n') i += 1
        case _ => going = false
      }
    }
    def int(): Int = {
      skipWs()
      var v = 0
      require(i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9', "bad PPM header")
      while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9') {
        v = v * 10 + (bytes(i) - '0'); i += 1
      }
      v
    }
    val w = int(); val h = int(); val maxv = int()
    require(maxv == 255, s"unsupported PPM maxval $maxv")
    i += 1 // exactly one whitespace byte separates the header from the raster
    require(bytes.length - i >= w * h * 3, "truncated PPM raster")
    (w, h, java.util.Arrays.copyOfRange(bytes, i, i + w * h * 3))
  }

  /** Minimal RIFF/WAVE parser for PCM16 mono: walks the chunk list (so
    * extra chunks are tolerated). Returns (sampleRate, samples).
    */
  def decodeWav(bytes: Array[Byte]): (Int, Array[Short]) = {
    def tag(off: Int) = new String(bytes, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    require(bytes.length >= 44 && tag(0) == "RIFF" && tag(8) == "WAVE", "not a RIFF/WAVE")
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var rate = -1; var bits = -1; var channels = -1
    var dataOff = -1; var dataLen = -1
    var off = 12
    while (off + 8 <= bytes.length) {
      val id = tag(off); val size = bb.getInt(off + 4)
      // decode() is a public API: a negative or over-long chunk size in
      // malformed bytes must fail loudly like the other malformed cases,
      // not loop forever / skip the data chunk
      require(size >= 0 && off + 8 + size.toLong <= bytes.length,
        s"malformed WAV chunk '$id' at $off: size $size exceeds ${bytes.length} bytes")
      if (id == "fmt ") {
        // a short fmt chunk would read its fields from the next chunk
        require(size >= 16, s"malformed WAV fmt chunk at $off: size $size < 16")
        channels = bb.getShort(off + 10); rate = bb.getInt(off + 12)
        bits = bb.getShort(off + 22)
      } else if (id == "data") { dataOff = off + 8; dataLen = size }
      off += 8 + size + (size & 1) // chunks are word-aligned
    }
    require(bits == 16 && channels == 1, s"unsupported WAV layout ($channels ch, $bits bit)")
    require(dataOff > 0 && dataOff + dataLen <= bytes.length, "truncated WAV data")
    val n = dataLen / 2
    (rate, Array.tabulate(n)(j => bb.getShort(dataOff + 2 * j)))
  }

  /** One decoded Y4M frame: full-resolution luma plane + 2x2-subsampled
    * chroma planes (C420).
    */
  final case class Y4mFrame(y: Array[Byte], u: Array[Byte], v: Array[Byte])

  /** Minimal YUV4MPEG2 parser for C420 streams: plain-text stream header
    * (`YUV4MPEG2 W.. H.. ...`), then `FRAME[ params]\n` + raw planes per
    * frame. Returns (width, height, frames). Pure JVM — the header is
    * ASCII and the planes are uncompressed, so no codec library is needed.
    */
  def decodeY4m(bytes: Array[Byte]): (Int, Int, IndexedSeq[Y4mFrame]) = {
    val magic = "YUV4MPEG2"
    require(bytes.length > magic.length &&
      new String(bytes, 0, magic.length, java.nio.charset.StandardCharsets.US_ASCII) == magic,
      "not a YUV4MPEG2 stream")
    var i = magic.length
    var headerEnd = i
    while (headerEnd < bytes.length && bytes(headerEnd) != '\n') headerEnd += 1
    require(headerEnd < bytes.length, "unterminated Y4M stream header")
    val params = new String(bytes, i, headerEnd - i,
      java.nio.charset.StandardCharsets.US_ASCII).trim.split("\\s+").filter(_.nonEmpty)
    var w = -1; var h = -1; var colorspace = "420jpeg" // Y4M default is 4:2:0
    params.foreach { p =>
      p.charAt(0) match {
        case 'W' => w = p.substring(1).toInt
        case 'H' => h = p.substring(1).toInt
        case 'C' => colorspace = p.substring(1)
        case _ => () // F (rate), I (interlace), A (aspect), X (extension): not needed
      }
    }
    require(w > 0 && h > 0, s"Y4M header missing W/H (W$w H$h)")
    require(colorspace.startsWith("420"), s"unsupported Y4M colorspace C$colorspace")
    require(w % 2 == 0 && h % 2 == 0, s"C420 needs even dims, got ${w}x$h")
    val ySize = w * h; val cSize = (w / 2) * (h / 2)
    val frames = Vector.newBuilder[Y4mFrame]
    i = headerEnd + 1
    while (i < bytes.length) {
      require(bytes.length - i >= 5 &&
        new String(bytes, i, 5, java.nio.charset.StandardCharsets.US_ASCII) == "FRAME",
        s"expected FRAME marker at offset $i")
      i += 5
      while (i < bytes.length && bytes(i) != '\n') i += 1 // frame params
      require(i < bytes.length, "unterminated FRAME header")
      i += 1
      require(bytes.length - i >= ySize + 2 * cSize, "truncated Y4M frame planes")
      frames += Y4mFrame(
        java.util.Arrays.copyOfRange(bytes, i, i + ySize),
        java.util.Arrays.copyOfRange(bytes, i + ySize, i + ySize + cSize),
        java.util.Arrays.copyOfRange(bytes, i + ySize + cSize, i + ySize + 2 * cSize))
      i += ySize + 2 * cSize
    }
    val fs = frames.result()
    require(fs.nonEmpty, "Y4M stream has no frames")
    (w, h, fs)
  }

  /** REAL decode for every kind — zero stubs.
    *
    * Dimensions, sample counts and frame counts come from the bytes, and
    * the 16-dim feature vector is computed from the decoded content:
    *   image → [meanR, meanG, meanB, 13-bin luminance histogram] (all in
    *           [0,1]; width/height from the PPM header; format "ppm")
    *   audio → [RMS of 16 equal time segments] (normalized by 2^15;
    *           width = sample rate, height = sample count, format "wav")
    *   video → [meanY, meanU, meanV, 13-bin luma histogram] over all
    *           decoded frames (Y4M/C420; width/height from the stream
    *           header, n_frames counted from the FRAME markers)
    *   binary → 16-bin byte-value histogram of the opaque payload
    *           (width = payload length, height = 1, format "binary")
    * Features are NON-NEGATIVE by construction — q38's milli-scaling
    * rounds identically in Spark SQL (HALF_UP) and Math.round only for
    * values ≥ 0.
    */
  def decode(a: MediaAsset): MediaFeatures = a.kind match {
    case "image" =>
      val (w, h, px) = decodePpm(a.bytes)
      val n = w * h
      var sr = 0L; var sg = 0L; var sb = 0L
      val hist = new Array[Int](13)
      var i = 0
      while (i < n) {
        val r = px(3 * i) & 0xff; val g = px(3 * i + 1) & 0xff; val b = px(3 * i + 2) & 0xff
        sr += r; sg += g; sb += b
        val lum = (r * 299 + g * 587 + b * 114) / 1000 // 0..255
        hist(math.min(12, lum * 13 / 256)) += 1
        i += 1
      }
      val feat = Array(
        (sr.toDouble / (255.0 * n)).toFloat,
        (sg.toDouble / (255.0 * n)).toFloat,
        (sb.toDouble / (255.0 * n)).toFloat) ++
        hist.map(c => (c.toDouble / n).toFloat)
      MediaFeatures(a.media_id, a.doc_id, a.kind, w, h, "ppm", 1, feat.toSeq)
    case "audio" =>
      val (rate, samples) = decodeWav(a.bytes)
      val n = samples.length
      val feat = Array.tabulate(16) { s =>
        val from = s * n / 16; val until = (s + 1) * n / 16
        var acc = 0.0; var j = from
        while (j < until) { val v = samples(j).toDouble; acc += v * v; j += 1 }
        val seg = math.max(1, until - from)
        (math.sqrt(acc / seg) / 32768.0).toFloat
      }
      MediaFeatures(a.media_id, a.doc_id, a.kind, rate, n, "wav", 1, feat.toSeq)
    case "video" =>
      val (w, h, frames) = decodeY4m(a.bytes)
      val yPix = w * h; val cPix = (w / 2) * (h / 2)
      var sy = 0L; var su = 0L; var sv = 0L
      val hist = new Array[Long](13)
      frames.foreach { fr =>
        var i = 0
        while (i < yPix) {
          val y = fr.y(i) & 0xff
          sy += y; hist(math.min(12, y * 13 / 256)) += 1
          i += 1
        }
        i = 0
        while (i < cPix) { su += fr.u(i) & 0xff; sv += fr.v(i) & 0xff; i += 1 }
      }
      val nY = yPix.toLong * frames.length
      val nC = cPix.toLong * frames.length
      val feat = Array(
        (sy.toDouble / (255.0 * nY)).toFloat,
        (su.toDouble / (255.0 * nC)).toFloat,
        (sv.toDouble / (255.0 * nC)).toFloat) ++
        hist.map(c => (c.toDouble / nY).toFloat)
      MediaFeatures(a.media_id, a.doc_id, a.kind, w, h, "y4m", frames.length, feat.toSeq)
    case _ =>
      // opaque payload: no structure to parse, but the features are still
      // computed from the actual bytes (16-bin byte-value histogram)
      val hist = new Array[Int](16)
      a.bytes.foreach(b => hist((b & 0xff) >> 4) += 1)
      val n = math.max(1, a.bytes.length)
      MediaFeatures(a.media_id, a.doc_id, a.kind, a.bytes.length, 1, "binary", 1,
        hist.map(c => c.toFloat / n).toSeq)
  }

  /** Batch feature extraction: mapPartitions so a real decoder would be
    * constructed once per partition (the mapInPandas batching shape);
    * repartition by doc hash first so giant docs' assets spread evenly.
    */
  def extractFeatures(spark: SparkSession, media: Dataset[MediaAsset],
      partitions: Int = 32): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.repartition(partitions, col("doc_id"))
      .mapPartitions { it =>
        // a heavier decoder would be constructed here, once per partition
        it.map(decode)
      }
  }

  /** Frame-index sampling for video assets: every `stride`-th frame index
    * up to n_frames. Since the Y4M decode landed, n_frames is counted from
    * the asset's actual FRAME markers — the sampled indices refer to real
    * decoded frames (`sampleFrameFeatures` materializes their content).
    */
  def sampleFrames(features: DataFrame, stride: Int = 30): DataFrame =
    features.filter(col("kind") === "video")
      .withColumn("frame_idx",
        explode(sequence(lit(0), col("n_frames") - 1, lit(stride))))
      .select(col("media_id"), col("doc_id"), col("frame_idx"))

  /** Content-level frame sampling: decode each video asset and emit one
    * row per sampled frame with features computed from THAT frame's
    * planes (mean luma + mean chroma) — the shape a video training
    * pipeline feeds to a per-frame encoder. Same mapPartitions batching
    * as extractFeatures; only the sampled frames' stats are materialized.
    */
  def sampleFrameFeatures(spark: SparkSession, media: Dataset[MediaAsset],
      stride: Int = 30, partitions: Int = 32): DataFrame = {
    import spark.implicits._
    media.filter(col("kind") === "video")
      .repartition(partitions, col("doc_id"))
      .mapPartitions { it =>
        it.flatMap { a =>
          val (w, h, frames) = decodeY4m(a.bytes)
          (0 until frames.length by stride).iterator.map { fi =>
            val fr = frames(fi)
            def mean(p: Array[Byte]) = {
              var s = 0L; var i = 0
              while (i < p.length) { s += p(i) & 0xff; i += 1 }
              (s.toDouble / (255.0 * math.max(1, p.length))).toFloat
            }
            (a.media_id, a.doc_id, fi, w, h, mean(fr.y), mean(fr.u), mean(fr.v))
          }
        }
      }
      .toDF("media_id", "doc_id", "frame_idx", "width", "height",
        "mean_y", "mean_u", "mean_v")
  }
}
