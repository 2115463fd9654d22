package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

/** Multimodal (image/audio/video) column plumbing for training-data
  * pipelines. Media is carried as an opaque `BINARY` column plus a
  * typed metadata struct; per-item compute runs as `mapPartitions`
  * batches so kernels execute distributed (no driver collect) and the
  * input partitioning is preserved for downstream ANN/dedup joins.
  *
  * The IMAGE path is real: decode / probe / resize / feature-extract
  * run through `javax.imageio` (pure JVM — PNG/JPEG/BMP/GIF). The
  * AUDIO path is real too: WAV/AIFF/AU containers with PCM payloads
  * decode through `javax.sound.sampled` (also pure JVM), and the
  * encode → distribute → decode roundtrip is proven sample-exact by
  * an arithmetic oracle (q_media_audio), mirroring the image
  * checksum. The VIDEO path is real as well: a RIFF/AVI demuxer
  * (implemented here against the public AVI container layout — RIFF
  * chunk grammar, `BITMAPINFOHEADER`) handles uncompressed 24-bit DIB
  * streams (`00db`, decoded to pixels directly — the frame-exact
  * oracle path, q_media_video) and MJPEG streams (`00dc`, each frame
  * an ImageIO JPEG decode, mirroring the audio approach). Payloads in
  * containers the demuxer doesn't recognize fall back to
  * deterministic byte-level features, never an error.
  */
object Multimodal {

  /** Canonical media schema: follows the common open convention of
    * (binary payload + metadata), one row per media item.
    */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false), // image|audio|video
    StructField("content", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = true),
      StructField("n_frames", IntegerType, nullable = true),
      StructField("format", StringType, nullable = true),
    )), nullable = true),
  ))

  /** Decode an image payload; None when the bytes aren't a supported
    * image format (ImageIO returns null rather than throwing).
    */
  def decodeImage(bytes: Array[Byte]): Option[BufferedImage] =
    if (bytes == null) None
    else
      try Option(ImageIO.read(new ByteArrayInputStream(bytes)))
      catch { case _: Exception => None }

  def encodePng(img: BufferedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Real image features: mean RGB over a sqrt(dim/3)-sided grid of
    * cells (a classic tiny-thumbnail embedding), L1-normalized. dim
    * must leave room for at least one 3-channel cell.
    */
  private def imageFeatures(img: BufferedImage, dim: Int): Array[Float] = {
    val grid = math.max(1, math.sqrt(dim / 3.0).toInt)
    val out = new Array[Float](dim)
    val cw = math.max(1, img.getWidth / grid)
    val ch = math.max(1, img.getHeight / grid)
    var gy = 0
    while (gy < grid) {
      var gx = 0
      while (gx < grid) {
        var r = 0L; var g = 0L; var b = 0L; var n = 0L
        var y = gy * ch
        val yMax = math.min(img.getHeight, (gy + 1) * ch)
        while (y < yMax) {
          var x = gx * cw
          val xMax = math.min(img.getWidth, (gx + 1) * cw)
          while (x < xMax) {
            val px = img.getRGB(x, y)
            r += (px >> 16) & 0xFF; g += (px >> 8) & 0xFF; b += px & 0xFF; n += 1
            x += 1
          }
          y += 1
        }
        val base = (gy * grid + gx) * 3
        if (n > 0 && base + 2 < dim) {
          out(base) = r.toFloat / n / 255.0f
          out(base + 1) = g.toFloat / n / 255.0f
          out(base + 2) = b.toFloat / n / 255.0f
        }
        gx += 1
      }
      gy += 1
    }
    out
  }

  /** Encode 16-bit signed mono PCM samples as a real WAV container:
    * the canonical 44-byte RIFF/WAVE/fmt/data layout (identical bytes
    * to what javax.sound's WAVE writer emits for this format), written
    * directly — the per-item `AudioSystem` stream machinery costs
    * ~1 ms/row, which dominates a corpus-scale encode kernel.
    */
  def encodeWav(samples: Array[Short], sampleRate: Int): Array[Byte] = {
    val dataLen = samples.length * 2
    val out = new Array[Byte](44 + dataLen)
    def le32(off: Int, v: Int): Unit = {
      out(off) = (v & 0xFF).toByte; out(off + 1) = ((v >> 8) & 0xFF).toByte
      out(off + 2) = ((v >> 16) & 0xFF).toByte; out(off + 3) = ((v >> 24) & 0xFF).toByte
    }
    def le16(off: Int, v: Int): Unit = {
      out(off) = (v & 0xFF).toByte; out(off + 1) = ((v >> 8) & 0xFF).toByte
    }
    def tag(off: Int, s: String): Unit =
      System.arraycopy(s.getBytes("US-ASCII"), 0, out, off, 4)
    tag(0, "RIFF"); le32(4, 36 + dataLen); tag(8, "WAVE")
    tag(12, "fmt "); le32(16, 16); le16(20, 1) // PCM
    le16(22, 1); le32(24, sampleRate) // mono
    le32(28, sampleRate * 2); le16(32, 2); le16(34, 16) // byteRate/block/bits
    tag(36, "data"); le32(40, dataLen)
    var i = 0
    while (i < samples.length) {
      out(44 + 2 * i) = (samples(i) & 0xFF).toByte
      out(44 + 2 * i + 1) = ((samples(i) >> 8) & 0xFF).toByte
      i += 1
    }
    out
  }

  /** Decode an audio payload to (sampleRate, channels, interleaved
    * 16-bit samples); None when the bytes aren't a JVM-decodable
    * 16-bit PCM container (WAV/AIFF/AU).
    */
  def decodeAudio(bytes: Array[Byte]): Option[(Int, Int, Array[Short])] =
    if (bytes == null) None
    else decodeWavPcm(bytes).orElse(decodeAudioJavax(bytes))

  /** Direct RIFF/WAVE chunk walk for the common case (16-bit PCM,
    * little-endian) — the same grammar the AVI demuxer below parses,
    * without per-item `AudioSystem` SPI lookup. Returns None for
    * anything non-canonical (AIFF/AU, compressed, 8/24-bit), which
    * then takes the javax.sound path unchanged.
    */
  private def decodeWavPcm(b: Array[Byte]): Option[(Int, Int, Array[Short])] = {
    def le32(o: Int): Int = (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8) |
      ((b(o + 2) & 0xFF) << 16) | ((b(o + 3) & 0xFF) << 24)
    def le16(o: Int): Int = (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
    def tag(o: Int): String = new String(b, o, 4, "US-ASCII")
    if (b.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var off = 12
    var rate = -1; var channels = -1; var ok = false
    var data: Option[(Int, Int)] = None
    while (off + 8 <= b.length && (data.isEmpty || !ok)) {
      val id = tag(off); val len = le32(off + 4)
      if (len < 0 || off + 8 + len > b.length) return None
      id match {
        case "fmt " =>
          if (len < 16) return None
          ok = le16(off + 8) == 1 && le16(off + 22) == 16 // PCM, 16-bit
          channels = le16(off + 10); rate = le32(off + 12)
        case "data" => data = Some((off + 8, len))
        case _ => ()
      }
      off += 8 + len + (len & 1) // chunks are word-aligned
    }
    if (!ok || data.isEmpty || rate <= 0 || channels <= 0) return None
    val (start, len) = data.get
    val n = len / 2
    val out = new Array[Short](n)
    var i = 0
    while (i < n) {
      out(i) = ((b(start + 2 * i) & 0xFF) | (b(start + 2 * i + 1) << 8)).toShort
      i += 1
    }
    Some((rate, channels, out))
  }

  private def decodeAudioJavax(bytes: Array[Byte]): Option[(Int, Int, Array[Short])] =
      try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new ByteArrayInputStream(bytes))
        val fmt = ais.getFormat
        if (fmt.getSampleSizeInBits != 16) None
        else {
          val raw = ais.readAllBytes()
          val n = raw.length / 2
          val out = new Array[Short](n)
          val le = !fmt.isBigEndian
          var i = 0
          while (i < n) {
            val lo = raw(2 * i) & 0xFF
            val hi = raw(2 * i + 1) & 0xFF
            out(i) = (if (le) (hi << 8) | lo else (lo << 8) | hi).toShort
            i += 1
          }
          Some((fmt.getSampleRate.toInt, fmt.getChannels, out))
        }
      } catch { case _: Exception => None }

  /** Real audio features: mean absolute amplitude per time bin over
    * the DECODED samples, normalized to [0,1] — the standard envelope
    * sketch a downstream ANN/dedup join consumes.
    */
  private def audioFeatures(samples: Array[Short], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    if (samples.nonEmpty) {
      val counts = new Array[Int](dim)
      var i = 0
      while (i < samples.length) {
        val b = (i.toLong * dim / samples.length).toInt
        out(b) += math.abs(samples(i).toInt) / 32768.0f
        counts(b) += 1
        i += 1
      }
      var b = 0
      while (b < dim) { if (counts(b) > 0) out(b) /= counts(b); b += 1 }
    }
    out
  }

  // ---------------------------------------------------------------- video

  private def putLe32(b: ByteArrayOutputStream, v: Int): Unit = {
    b.write(v & 0xFF); b.write((v >> 8) & 0xFF)
    b.write((v >> 16) & 0xFF); b.write((v >> 24) & 0xFF)
  }
  private def putLe16(b: ByteArrayOutputStream, v: Int): Unit = {
    b.write(v & 0xFF); b.write((v >> 8) & 0xFF)
  }
  private def putFourcc(b: ByteArrayOutputStream, s: String): Unit =
    b.write(s.getBytes("US-ASCII"), 0, 4)

  /** Bottom-up BGR24 DIB bytes of a frame, rows padded to 4 bytes —
    * the uncompressed AVI payload (`biCompression = 0`).
    */
  private def dibBytes(img: BufferedImage): Array[Byte] = {
    val w = img.getWidth; val h = img.getHeight
    val stride = (w * 3 + 3) & ~3
    val out = new Array[Byte](stride * h)
    var y = 0
    while (y < h) {
      val row = (h - 1 - y) * stride
      var x = 0
      while (x < w) {
        val px = img.getRGB(x, y)
        out(row + x * 3) = (px & 0xFF).toByte
        out(row + x * 3 + 1) = ((px >> 8) & 0xFF).toByte
        out(row + x * 3 + 2) = ((px >> 16) & 0xFF).toByte
        x += 1
      }
      y += 1
    }
    out
  }

  /** Mux frames into a standard RIFF/AVI container: uncompressed
    * 24-bit DIB frames by default (`00db`, `biCompression = 0` —
    * byte-exact pixels, playable by any AVI reader), or MJPEG
    * (`00dc`, one ImageIO JPEG per frame) with `mjpeg = true`.
    * Single video stream, `idx1` keyframe index included.
    */
  def encodeAvi(frames: Seq[BufferedImage], fps: Int,
      mjpeg: Boolean = false): Array[Byte] = {
    require(frames.nonEmpty, "encodeAvi needs at least one frame")
    val w = frames.head.getWidth; val h = frames.head.getHeight
    val payloads = frames.map { f =>
      if (mjpeg) {
        val bos = new ByteArrayOutputStream()
        ImageIO.write(f, "jpg", bos)
        bos.toByteArray
      } else dibBytes(f)
    }
    val chunkId = if (mjpeg) "00dc" else "00db"
    val maxPayload = payloads.map(_.length).max
    val stride = (w * 3 + 3) & ~3

    val movi = new ByteArrayOutputStream()
    putFourcc(movi, "movi")
    val offsets = payloads.map { p =>
      val off = movi.size() // relative to the 'movi' fourcc
      putFourcc(movi, chunkId); putLe32(movi, p.length)
      movi.write(p, 0, p.length)
      if ((p.length & 1) == 1) movi.write(0)
      off
    }

    val hdrl = new ByteArrayOutputStream()
    putFourcc(hdrl, "hdrl")
    putFourcc(hdrl, "avih"); putLe32(hdrl, 56)
    putLe32(hdrl, if (fps > 0) 1000000 / fps else 0) // dwMicroSecPerFrame
    putLe32(hdrl, 0); putLe32(hdrl, 0)
    putLe32(hdrl, 0x10) // AVIF_HASINDEX
    putLe32(hdrl, frames.length); putLe32(hdrl, 0); putLe32(hdrl, 1)
    putLe32(hdrl, maxPayload); putLe32(hdrl, w); putLe32(hdrl, h)
    (0 until 4).foreach(_ => putLe32(hdrl, 0))
    val strl = new ByteArrayOutputStream()
    putFourcc(strl, "strl")
    putFourcc(strl, "strh"); putLe32(strl, 56)
    putFourcc(strl, "vids"); putFourcc(strl, if (mjpeg) "MJPG" else "DIB ")
    putLe32(strl, 0); putLe32(strl, 0); putLe32(strl, 0)
    putLe32(strl, 1); putLe32(strl, math.max(fps, 1)) // dwScale, dwRate
    putLe32(strl, 0); putLe32(strl, frames.length)
    putLe32(strl, maxPayload); putLe32(strl, -1); putLe32(strl, 0)
    putLe16(strl, 0); putLe16(strl, 0); putLe16(strl, w); putLe16(strl, h)
    putFourcc(strl, "strf"); putLe32(strl, 40)
    putLe32(strl, 40); putLe32(strl, w); putLe32(strl, h)
    putLe16(strl, 1); putLe16(strl, 24) // biPlanes, biBitCount
    if (mjpeg) putFourcc(strl, "MJPG") else putLe32(strl, 0)
    putLe32(strl, if (mjpeg) maxPayload else stride * h)
    (0 until 4).foreach(_ => putLe32(strl, 0))
    putFourcc(hdrl, "LIST"); putLe32(hdrl, strl.size())
    hdrl.write(strl.toByteArray, 0, strl.size())

    val idx = new ByteArrayOutputStream()
    payloads.zip(offsets).foreach { case (p, off) =>
      putFourcc(idx, chunkId); putLe32(idx, 0x10) // AVIIF_KEYFRAME
      putLe32(idx, off); putLe32(idx, p.length)
    }

    val body = new ByteArrayOutputStream()
    putFourcc(body, "AVI ")
    putFourcc(body, "LIST"); putLe32(body, hdrl.size())
    body.write(hdrl.toByteArray, 0, hdrl.size())
    putFourcc(body, "LIST"); putLe32(body, movi.size())
    body.write(movi.toByteArray, 0, movi.size())
    putFourcc(body, "idx1"); putLe32(body, idx.size())
    body.write(idx.toByteArray, 0, idx.size())

    val out = new ByteArrayOutputStream()
    putFourcc(out, "RIFF"); putLe32(out, body.size())
    out.write(body.toByteArray, 0, body.size())
    out.toByteArray
  }

  /** Demux + decode an AVI payload: `(width, height, frames)`. Handles
    * uncompressed 24-bit DIB streams (`00db`/`biCompression = 0`,
    * bottom-up or top-down) and MJPEG (`00dc`, ImageIO per frame).
    * None for anything the walker can't parse — the caller's
    * byte-level fallback stays in charge of unknown containers.
    */
  def decodeVideo(bytes: Array[Byte]): Option[(Int, Int, Seq[BufferedImage])] =
    if (bytes == null || bytes.length < 12) None
    else try {
      def fourcc(off: Int) = new String(bytes, off, 4, "US-ASCII")
      def u32(off: Int) = (bytes(off) & 0xFF) | ((bytes(off + 1) & 0xFF) << 8) |
        ((bytes(off + 2) & 0xFF) << 16) | ((bytes(off + 3) & 0xFF) << 24)
      def u16(off: Int) = (bytes(off) & 0xFF) | ((bytes(off + 1) & 0xFF) << 8)
      if (fourcc(0) != "RIFF" || fourcc(8) != "AVI ") return None
      var w = 0; var hSigned = 0; var bitCount = 0; var comp = 0
      val frames = scala.collection.mutable.ArrayBuffer.empty[BufferedImage]
      def walk(start: Int, end: Int): Unit = {
        var off = start
        while (off + 8 <= end) {
          val id = fourcc(off); val sz = u32(off + 4)
          val body = off + 8
          if (sz < 0 || body + sz > bytes.length) return
          if (id == "LIST" && sz >= 4) walk(body + 4, body + sz)
          else if (id == "strf" && sz >= 40 && w == 0) {
            w = u32(body + 4); hSigned = u32(body + 8)
            bitCount = u16(body + 14); comp = u32(body + 16)
          } else if (sz > 0 && (id.endsWith("db") || id.endsWith("dc"))) {
            val h = math.abs(hSigned)
            if (id.endsWith("dc")) {
              val img = ImageIO.read(new ByteArrayInputStream(bytes, body, sz))
              if (img != null) frames += img
            } else if (comp == 0 && bitCount == 24 && w > 0 && h > 0) {
              val stride = (w * 3 + 3) & ~3
              if (sz >= stride * h) {
                val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
                var y = 0
                while (y < h) {
                  // positive biHeight = bottom-up row order
                  val row = body + (if (hSigned > 0) (h - 1 - y) else y) * stride
                  var x = 0
                  while (x < w) {
                    img.setRGB(x, y, ((bytes(row + x * 3 + 2) & 0xFF) << 16) |
                      ((bytes(row + x * 3 + 1) & 0xFF) << 8) |
                      (bytes(row + x * 3) & 0xFF))
                    x += 1
                  }
                  y += 1
                }
                frames += img
              }
            }
          }
          off = body + sz + (sz & 1)
        }
      }
      walk(12, math.min(12 + u32(4), bytes.length))
      if (w > 0 && frames.nonEmpty) Some((w, math.abs(hSigned), frames.toSeq))
      else None
    } catch { case _: Exception => None }

  /** Per-FRAME integer fingerprint of the DECODED video payload:
    * `(media_id, frame_idx, checksum)` with checksum = sum over the
    * frame's pixels of the packed 24-bit RGB — exact integers, so an
    * arithmetic SQL oracle verifies the AVI mux → distribute → demux →
    * decode roundtrip reproduced every frame bit-for-bit (the video
    * counterpart of [[pixelChecksum]]/[[audioChecksum]]). A single
    * null-frame row for payloads that don't demux.
    */
  def videoChecksum(df: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_idx", LongType, nullable = true),
      StructField("checksum", LongType, nullable = true)))
    val enc = RowEncoder.encoderFor(outSchema)
    val binIdx = df.schema.fieldIndex("content")
    val idIdx = df.schema.fieldIndex("media_id")
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = if (r.isNullAt(binIdx)) null else r.getAs[Array[Byte]](binIdx)
        decodeVideo(bytes) match {
          case Some((_, _, frames)) =>
            frames.iterator.zipWithIndex.map { case (img, f) =>
              var s = 0L; var y = 0
              while (y < img.getHeight) {
                var x = 0
                while (x < img.getWidth) { s += img.getRGB(x, y) & 0xFFFFFF; x += 1 }
                y += 1
              }
              Row(r.getLong(idIdx), f.toLong, s)
            }
          case None => Iterator(Row(r.getLong(idIdx), null, null))
        }
      }
    }(enc)
  }

  /** Probe real video dimensions + frame count of demuxable payloads
    * into `meta` (from the actual container, not declared values;
    * non-video and non-demuxable rows untouched).
    */
  def probeVideoMeta(df: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(df.schema)
    val binIdx = df.schema.fieldIndex("content")
    val modIdx = df.schema.fieldIndex("modality")
    val metaIdx = df.schema.fieldIndex("meta")
    df.mapPartitions { rows =>
      rows.map { r =>
        if (r.getString(modIdx) != "video" || r.isNullAt(binIdx)) r
        else decodeVideo(r.getAs[Array[Byte]](binIdx)) match {
          case Some((w, h, frames)) =>
            val old = r.getStruct(metaIdx)
            val meta = Row(w, h,
              if (old != null) old.get(2) else null,
              frames.length, "avi-decodable")
            Row.fromSeq(r.toSeq.updated(metaIdx, meta))
          case None => r
        }
      }
    }(enc)
  }

  /** Byte-level fallback features for payloads with no JVM codec
    * (unknown containers; non-decodable payloads) — deterministic in
    * the bytes so tests are stable.
    */
  private def byteFeatures(bytes: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    if (bytes != null) {
      var i = 0
      while (i < bytes.length) { out(i % dim) += (bytes(i) & 0xFF) / 255.0f; i += 1 }
    }
    out
  }

  /** Feature extraction: binary -> fixed-dim float vector, executed
    * per-partition (distributed; no driver collect). Images decode for
    * real (ImageIO), audio decodes for real (javax.sound PCM ->
    * amplitude-envelope bins), video demuxes for real (AVI DIB/MJPEG
    * -> temporal mean of per-frame thumbnail features); non-decodable
    * payloads use the byte-level fallback. Output keeps the input's
    * partitioning, so a downstream ANN/dedup join needs no extra
    * shuffle.
    */
  def extractFeatures(df: DataFrame, dim: Int = 64): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("features", ArrayType(FloatType, containsNull = false)))
    val enc = RowEncoder.encoderFor(outSchema)
    val binIdx = df.schema.fieldIndex("content")
    val modIdx = df.schema.fieldIndex("modality")
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = if (r.isNullAt(binIdx)) null else r.getAs[Array[Byte]](binIdx)
        val feats = r.getString(modIdx) match {
          case "image" =>
            decodeImage(bytes).map(imageFeatures(_, dim)).getOrElse(byteFeatures(bytes, dim))
          case "audio" =>
            decodeAudio(bytes).map(a => audioFeatures(a._3, dim)).getOrElse(byteFeatures(bytes, dim))
          case "video" =>
            decodeVideo(bytes).map { case (_, _, frames) =>
              val acc = new Array[Float](dim)
              frames.foreach { f =>
                val ff = imageFeatures(f, dim)
                var i = 0
                while (i < dim) { acc(i) += ff(i); i += 1 }
              }
              var i = 0
              while (i < dim) { acc(i) /= frames.length; i += 1 }
              acc
            }.getOrElse(byteFeatures(bytes, dim))
          case _ => byteFeatures(bytes, dim)
        }
        Row.fromSeq(r.toSeq :+ feats.toSeq)
      }
    }(enc)
  }

  /** Integer fingerprint of the DECODED audio payload: sum of 16-bit
    * sample values plus the sample count and rate — exact integers, so
    * an arithmetic SQL oracle can verify the WAV encode -> distribute
    * -> decode roundtrip reproduced every SAMPLE bit-for-bit (the
    * audio counterpart of [[pixelChecksum]]). Nulls for rows that
    * don't decode.
    */
  def audioChecksum(df: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("sample_sum", LongType, nullable = true),
      StructField("n_samples", LongType, nullable = true),
      StructField("sample_rate", LongType, nullable = true)))
    val enc = RowEncoder.encoderFor(outSchema)
    val binIdx = df.schema.fieldIndex("content")
    val idIdx = df.schema.fieldIndex("media_id")
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = if (r.isNullAt(binIdx)) null else r.getAs[Array[Byte]](binIdx)
        decodeAudio(bytes) match {
          case Some((rate, _, samples)) =>
            var s = 0L; var i = 0
            while (i < samples.length) { s += samples(i); i += 1 }
            Row(r.getLong(idIdx), s, samples.length.toLong, rate.toLong)
          case None => Row(r.getLong(idIdx), null, null, null)
        }
      }
    }(enc)
  }

  /** Probe real dimensions of decodable image payloads into `meta`
    * (width/height/format from the actual bytes; non-images untouched).
    */
  def probeImageMeta(df: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(df.schema)
    val binIdx = df.schema.fieldIndex("content")
    val modIdx = df.schema.fieldIndex("modality")
    val metaIdx = df.schema.fieldIndex("meta")
    df.mapPartitions { rows =>
      rows.map { r =>
        if (r.getString(modIdx) != "image" || r.isNullAt(binIdx)) r
        else decodeImage(r.getAs[Array[Byte]](binIdx)) match {
          case Some(img) =>
            val old = r.getStruct(metaIdx)
            val meta = Row(img.getWidth, img.getHeight,
              if (old != null) old.get(2) else null,
              if (old != null) old.get(3) else null, "png-decodable")
            Row.fromSeq(r.toSeq.updated(metaIdx, meta))
          case None => r
        }
      }
    }(enc)
  }

  /** Image resize: decodable payloads are REALLY resized (Graphics2D
    * bilinear scale, re-encoded PNG) and meta updated; non-decodable
    * image rows update metadata only; other modalities pass through.
    */
  def resizeImages(df: DataFrame, w: Int, h: Int): DataFrame = {
    val enc = RowEncoder.encoderFor(df.schema)
    val binIdx = df.schema.fieldIndex("content")
    val modIdx = df.schema.fieldIndex("modality")
    val metaIdx = df.schema.fieldIndex("meta")
    df.mapPartitions { rows =>
      rows.map { r =>
        if (r.getString(modIdx) != "image") r
        else {
          val bytes = if (r.isNullAt(binIdx)) null else r.getAs[Array[Byte]](binIdx)
          val old = r.getStruct(metaIdx)
          val newMeta = Row(w, h,
            if (old != null) old.get(2) else null,
            if (old != null) old.get(3) else null,
            if (old != null) old.get(4) else null)
          decodeImage(bytes) match {
            case Some(img) =>
              val scaled = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
              val gfx = scaled.createGraphics()
              gfx.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
                java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
              gfx.drawImage(img, 0, 0, w, h, null)
              gfx.dispose()
              Row.fromSeq(r.toSeq.updated(binIdx, encodePng(scaled)).updated(metaIdx, newMeta))
            case None =>
              Row.fromSeq(r.toSeq.updated(metaIdx, newMeta))
          }
        }
      }
    }(enc)
  }

  /** Video frame sampling: every `stride`-th frame index, bounded by
    * meta.n_frames — the explode pattern a real demuxer would feed
    * (one output row per sampled frame, parallelism preserved). The
    * demux itself needs a codec library, absent in a bare JVM.
    */
  def sampleFrames(df: DataFrame, stride: Int): DataFrame =
    df.where(col("modality") === "video" && col("meta.n_frames").isNotNull)
      .withColumn("frame_idx",
        explode(sequence(lit(0), greatest(col("meta.n_frames") - 1, lit(0)), lit(stride))))

  /** Media table derived from an id column — the shape the ORACLE
    * queries use: modality, payload and metadata are pure functions of
    * the id, so a SQL oracle can recompute every derived quantity
    * arithmetically while the engine derives it from the REAL bytes.
    * Image rows (id % 3 == 0) carry true PNG payloads of
    * (id%13+1) x (id%7+1) pixels with packed RGB(x, y) =
    * ((id*37+x*5+y*11)%255, (id*13+x)%255, (id*7+y)%255); audio rows
    * (id%3==1) carry true 16 kHz mono WAVs of (id%50+10) samples with
    * sample k = (id*31 + k*7) % 65536 - 32768; video rows (id%3==2)
    * carry true uncompressed-DIB AVI containers of (id%5+2) frames of
    * (id%13+1) x (id%7+1) pixels with frame-f RGB(x, y) =
    * ((id*37+x*5+y*11+f*3)%255, (id*13+x+f)%255, (id*7+y+2*f)%255);
    * the declared meta.n_frames stays the raw id%100+1 so the probe
    * path demonstrably corrects it from the real container. PNG/WAV/
    * AVI synthesis runs per-partition (distributed, no driver loop).
    *
    * `only` restricts synthesis to one modality: Catalyst cannot push
    * a `modality = …` predicate through the opaque mapPartitions
    * kernel, so a caller that wants one modality's rows must hand the
    * predicate to the builder or pay payload synthesis for the other
    * two thirds of the corpus.
    */
  def mediaFromIds(ids: DataFrame, idCol: String,
      only: Option[String] = None): DataFrame = {
    val enc = RowEncoder.encoderFor(mediaSchema)
    val base0 = ids.select(
      col(idCol).cast("long").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col(idCol) % 3 + 1).cast("int")).as("modality"),
      unhex(md5(col(idCol).cast("string"))).as("content"),
      struct(
        (col(idCol) % 13 + 1).cast("int").as("width"),
        (col(idCol) % 7 + 1).cast("int").as("height"),
        lit(16000).cast("int").as("sample_rate"),
        (col(idCol) % 100 + 1).cast("int").as("n_frames"),
        lit("fake").as("format")).as("meta"))
    val filtered = only.fold(base0)(m => base0.where(col("modality") === m))
    // The codec kernel below is CPU-bound per item; a small id list
    // read from one parquet file collapses to 1-2 partitions and would
    // serialize it on one core. Spreading bare (id, meta) rows is a
    // ~free shuffle next to per-item PNG/WAV/AVI synthesis. Real media
    // tables arrive partitioned from storage and skip this branch.
    val target = ids.sparkSession.sessionState.conf.numShufflePartitions
    val base = if (filtered.rdd.getNumPartitions * 2 < target)
      filtered.repartition(target) else filtered
    base.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        r.getString(1) match {
          case "image" =>
            val w = (id % 13 + 1).toInt; val h = (id % 7 + 1).toInt
            val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                img.setRGB(x, y, (((id * 37 + x * 5 + y * 11) % 255).toInt << 16) |
                  (((id * 13 + x) % 255).toInt << 8) | ((id * 7 + y) % 255).toInt)
                x += 1
              }
              y += 1
            }
            Row.fromSeq(r.toSeq.updated(2, encodePng(img)))
          case "audio" =>
            val n = (id % 50 + 10).toInt
            val samples = Array.tabulate(n)(k =>
              ((id * 31 + k * 7) % 65536 - 32768).toShort)
            Row.fromSeq(r.toSeq.updated(2, encodeWav(samples, 16000)))
          case _ =>
            val w = (id % 13 + 1).toInt; val h = (id % 7 + 1).toInt
            val nf = (id % 5 + 2).toInt
            val frames = (0 until nf).map { f =>
              val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  img.setRGB(x, y,
                    (((id * 37 + x * 5 + y * 11 + f * 3) % 255).toInt << 16) |
                      (((id * 13 + x + f) % 255).toInt << 8) |
                      ((id * 7 + y + 2 * f) % 255).toInt)
                  x += 1
                }
                y += 1
              }
              img
            }
            Row.fromSeq(r.toSeq.updated(2, encodeAvi(frames, fps = 10)))
        }
      }
    }(enc)
  }

  /** [[mediaFromIds]] with the synthesized table pinned
    * (MEMORY_AND_DISK, keyed on the id-frame plan + modality filter):
    * in a real deployment the media BYTES are an input table sitting
    * in storage — synthesis is the stand-in for that storage read, so
    * re-encoding PNG/WAV/AVI payloads on every query would bill codec
    * CPU that a production scan never pays. Decode stays inside every
    * consumer (that IS the workload). Same plan-keyed cache
    * discipline as Dedup.shingleHashSetCached — sf paths key apart,
    * so the bench warm-up invariant holds.
    */
  /** Read-only probe: is the synthesized-media artifact for this
    * (ids plan, modality) already pinned? Lets plan-shape tests pick
    * the cache-state-appropriate exchange budget (r16 verdict item 8)
    * instead of one ceiling slack enough for both suite orders. */
  private[graft] def mediaCacheHas(ids: DataFrame, idCol: String,
      only: Option[String] = None): Boolean =
    mediaCache.contains((Dedup.planKey(ids), idCol, only.getOrElse("*")))

  def mediaFromIdsCached(ids: DataFrame, idCol: String,
      only: Option[String] = None): DataFrame = {
    val (m, built) = mediaCache.getOrBuild(
        (Dedup.planKey(ids), idCol, only.getOrElse("*"))) {
      mediaFromIds(ids, idCol, only)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    if (built) m.count()
    m
  }

  /** LRU-bounded like TextAnalysis.lmCache: eviction unpersists the
    * synthesized media frame it owns (one per modality per corpus).
    */
  private final val MediaCacheMax = 8
  private val mediaCache = ArtifactCache.frames[(String, String, String)](
    "mediaFromIds", MediaCacheMax)

  /** Perceptual average-hash (aHash) of the DECODED image, over the
    * native pixel grid: bit p (row-major, p < 63) is set iff the
    * pixel's integer gray `(r+g+b) div 3` is >= the image's
    * floor-mean gray. All-integer arithmetic end to end, so the hash
    * of a synthetic image is an arithmetic function of its id and an
    * SQL oracle can verify the decode + hash bit-for-bit (the same
    * contract as [[pixelChecksum]]). 63 bits so the hash is a
    * non-negative BIGINT in any SQL engine. Null for undecodable
    * rows. Output: `(media_id, ahash)`.
    */
  def aHash63(df: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("ahash", LongType, nullable = true)))
    val enc = RowEncoder.encoderFor(outSchema)
    val binIdx = df.schema.fieldIndex("content")
    val idIdx = df.schema.fieldIndex("media_id")
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = if (r.isNullAt(binIdx)) null else r.getAs[Array[Byte]](binIdx)
        Row(r.getLong(idIdx), imageHashOf(bytes).map(Long.box).orNull)
      }
    }(enc)
  }

  /** Per-payload hash kernels — decode + perceptual hash of ONE media
    * payload, shared by the batch hashers above/below and the
    * streaming ingest filter
    * ([[graft.streaming.GraphStream.mediaNearDupIngestFilter]]), which
    * needs a row-preserving column predicate rather than a
    * fixed-schema mapPartitions frame. None for undecodable bytes.
    */
  private[graft] def imageHashOf(bytes: Array[Byte]): Option[Long] =
    decodeImage(bytes).map(frameAHash63)

  private[graft] def audioHashOf(bytes: Array[Byte],
      windows: Int = 63): Option[Long] =
    decodeAudio(bytes).map { case (_, _, samples) =>
      envHashOfSamples(samples, windows)
    }

  private[graft] def videoHashOf(bytes: Array[Byte]): Option[Long] =
    decodeVideo(bytes).collect {
      case (_, _, frames) if frames.nonEmpty => frameAHash63(frames.head)
    }

  /** Per-frame aHash63s of one payload — the local kernel behind
    * [[videoFrameHashes63]] and the streaming ingest filter's video
    * arm: up to `k` evenly-spaced frames (all frames when the clip has
    * <= k), empty for undecodable/zero-frame payloads.
    */
  private[graft] def videoHashesOf(bytes: Array[Byte], k: Int = 8): Seq[Long] =
    decodeVideo(bytes) match {
      case Some((_, _, frames)) if frames.nonEmpty =>
        val nf = frames.length
        val m = math.min(k, nf)
        (0 until m).map(j => frameAHash63(frames((j.toLong * nf / m).toInt)))
      case _ => Nil
    }

  /** The (band index, band value) blocking keys of one hash — the
    * string form both sides of a band-Bloom membership probe must
    * agree on (corpus build and stream probe).
    */
  private[graft] def bandKeysOfHash(h: Long, bands: Int,
      bandBits: Int): Seq[String] = {
    val mask = (1L << bandBits) - 1
    (0 until bands).map(b => s"$b:${(h >>> (b * bandBits)) & mask}")
  }

  /** Near-duplicate image pairs by aHash Hamming distance <= `maxHam`
    * — perceptual image dedup. EXACT for `maxHam <= 3`: the 63-bit
    * hash splits into 4 bands of 16 bits, candidates equi-join on an
    * equal band, and by pigeonhole any pair within distance 3 leaves
    * at least one band untouched — so the band join is a lossless
    * blocking step, not an approximation. The verify is a codegen'd
    * `bit_count(xor)` on the distinct candidates. Same
    * banded-not-all-pairs discipline as the SimHash text path; at
    * 100 TB the join fans out by occupied band value, never id x id.
    * Output: `(id_a, id_b, hamming)`.
    */
  def imageNearDupPairs(df: DataFrame, maxHam: Int = 3): DataFrame = {
    require(maxHam >= 0 && maxHam <= 3,
      s"banding is exact only for maxHam <= 3, got $maxHam")
    val hs = aHash63(df).where(col("ahash").isNotNull)
    Dedup.bandedHammingPairs(hs, "media_id", "ahash",
      bands = 4, bandBits = 16, maxHam = maxHam)
  }

  /** Gradient (difference) hash of one decoded frame: bit p (p < 63)
    * is set iff the row-major-adjacent gray strictly rises,
    * `gray(p+1) > gray(p)`. Where [[frameAHash63]] thresholds every
    * pixel against the GLOBAL mean — so a smooth illumination
    * gradient (vignette, scanner lamp falloff, re-grade) shifts
    * pixels across the mean and flips bits wholesale — the dHash bit
    * only sees the LOCAL difference, which such a gradient perturbs
    * by its tiny per-pixel step. All-integer, same oracle contract.
    */
  private def frameDHash63(img: BufferedImage): Long = {
    val w = img.getWidth; val ht = img.getHeight
    val n = w * ht
    def grayAt(p: Int): Long = {
      val rgb = img.getRGB(p % w, p / w)
      (((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)) / 3L
    }
    var bits = 0L
    var p = 0
    val m = math.min(n - 1, 63)
    var prev = if (n > 0) grayAt(0) else 0L
    while (p < m) {
      val next = grayAt(p + 1)
      if (next > prev) bits |= 1L << p
      prev = next
      p += 1
    }
    bits
  }

  private[graft] def imageDHashOf(bytes: Array[Byte]): Option[Long] =
    decodeImage(bytes).map(frameDHash63)

  /** Per-image [[frameDHash63]] — the illumination-robust companion
    * frame to [[aHash63]], same shape. Null for undecodable rows.
    * Output: `(media_id, dhash)`.
    */
  def dHash63(df: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("dhash", LongType, nullable = true)))
    val enc = RowEncoder.encoderFor(outSchema)
    val binIdx = df.schema.fieldIndex("content")
    val idIdx = df.schema.fieldIndex("media_id")
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = if (r.isNullAt(binIdx)) null else r.getAs[Array[Byte]](binIdx)
        Row(r.getLong(idIdx), imageDHashOf(bytes).map(Long.box).orNull)
      }
    }(enc)
  }

  /** Near-duplicate image pairs by GRADIENT-hash Hamming distance —
    * [[imageNearDupPairs]] with [[dHash63]] as the key: catches the
    * smooth-illumination re-grades the mean-threshold hash provably
    * misses (a ramp overlay flips aHash bits across the whole frame
    * but leaves adjacent-pixel orderings intact). Same
    * pigeonhole-exact 4x16-bit capped banding. Run BOTH and union
    * when recall matters more than one extra decode-free hash pass —
    * the two hashes fail on disjoint edit families. Output:
    * `(id_a, id_b, hamming)`.
    */
  def imageDHashNearDupPairs(df: DataFrame, maxHam: Int = 3): DataFrame = {
    require(maxHam >= 0 && maxHam <= 3,
      s"banding is exact only for maxHam <= 3, got $maxHam")
    val hs = dHash63(df).where(col("dhash").isNotNull)
    Dedup.bandedHammingPairs(hs, "media_id", "dhash",
      bands = 4, bandBits = 16, maxHam = maxHam)
  }

  /** Perceptual envelope hash of the DECODED audio — the audio
    * analogue of [[aHash63]]: the sample stream splits into `windows`
    * time bins by assignment `w = (k·W) div n`, and bit w is set iff
    * the bin is non-empty and its floor-mean absolute amplitude is >=
    * the stream's global floor-mean. All-integer arithmetic, so the
    * hash of a synthetic clip is an arithmetic function of its id and
    * an SQL oracle verifies decode + hash bit-for-bit. Up to 63 bits
    * (a non-negative BIGINT anywhere — bit 63 stays clear so the hash
    * round-trips through engines whose `<<` rejects shifting into the
    * sign bit); null for undecodable rows. 63 windows (not the
    * previous 32) give 2^48 16-bit-band blocking values instead of
    * 2^8 8-bit ones — at corpus scale the narrow hash made candidate
    * generation Θ(N²/256); the wide hash blocks like [[aHash63]].
    * Output: `(media_id, ehash)`.
    */
  def audioEnvHash63(df: DataFrame, windows: Int = 63): DataFrame = {
    require(windows > 0 && windows <= 63, s"1..63 windows, got $windows")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("ehash", LongType, nullable = true)))
    val enc = RowEncoder.encoderFor(outSchema)
    val binIdx = df.schema.fieldIndex("content")
    val idIdx = df.schema.fieldIndex("media_id")
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = if (r.isNullAt(binIdx)) null else r.getAs[Array[Byte]](binIdx)
        Row(r.getLong(idIdx), audioHashOf(bytes, windows).map(Long.box).orNull)
      }
    }(enc)
  }

  /** The envelope-hash kernel over decoded samples (see
    * [[audioEnvHash63]] for the bit rule).
    */
  private def envHashOfSamples(samples: Array[Short], windows: Int): Long = {
    val n = samples.length
    if (n == 0) 0L
    else {
      val sums = new Array[Long](windows)
      val cnts = new Array[Long](windows)
      var gsum = 0L
      var k = 0
      while (k < n) {
        val av = math.abs(samples(k).toLong)
        // Long product: Int k * windows overflows past ~67M
        // samples (~70 min at 16 kHz) and would index negative
        val w = (k.toLong * windows / n).toInt
        sums(w) += av; cnts(w) += 1; gsum += av
        k += 1
      }
      val gmean = gsum / n
      var bits = 0L
      var w = 0
      while (w < windows) {
        if (cnts(w) > 0 && sums(w) / cnts(w) >= gmean) bits |= 1L << w
        w += 1
      }
      bits
    }
  }

  /** Near-duplicate audio pairs by envelope-hash Hamming distance <=
    * `maxHam` — perceptual audio dedup, the same pigeonhole-exact
    * banding as [[imageNearDupPairs]]: the 63-bit hash splits into 4
    * bands of 16 bits, so any pair within distance 3 shares at least
    * one untouched band and the band equi-join is lossless blocking,
    * never all-pairs; hot band values split into capped sub-blocks
    * via [[Dedup.bandedHammingPairs]]. Output: `(id_a, id_b,
    * hamming)`.
    */
  def audioNearDupPairs(df: DataFrame, maxHam: Int = 3): DataFrame = {
    require(maxHam >= 0 && maxHam <= 3,
      s"banding is exact only for maxHam <= 3, got $maxHam")
    val hs = audioEnvHash63(df).where(col("ehash").isNotNull)
    Dedup.bandedHammingPairs(hs, "media_id", "ehash",
      bands = 4, bandBits = 16, maxHam = maxHam)
  }

  /** Quantized-energy SYMBOL STREAM of the decoded audio — the
    * content-fingerprint form that survives trimming, which the
    * whole-clip envelope hash does not: [[audioEnvHash63]] buckets
    * samples into clip-RELATIVE windows against a clip-global mean,
    * so cutting leading samples shifts every boundary and scrambles
    * the bits, while these symbols are ABSOLUTE — fixed `win`-sample
    * windows at `stride`, each emitting floor(mean|sample| / 2048) as
    * a decimal token — so a clip trimmed by any multiple of `stride`
    * keeps its remaining symbols verbatim. The space-joined symbol
    * string then feeds the TEXT dedup machinery
    * ([[graft.pipeline.Dedup.ngramJaccardPairs]] /
    * minhash / winnowing) unchanged: audio near-dup at scale is
    * n-gram dedup over symbol streams, with the same df-capped
    * bounded joins. Null symbols for undecodable or shorter-than-one-
    * window payloads. Output: `(media_id, symbols)`.
    */
  def audioSymbols(df: DataFrame, win: Int = 4, stride: Int = 2): DataFrame = {
    require(win > 0 && stride > 0, s"win/stride must be positive: $win/$stride")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("symbols", StringType, nullable = true)))
    val enc = RowEncoder.encoderFor(outSchema)
    val binIdx = df.schema.fieldIndex("content")
    val idIdx = df.schema.fieldIndex("media_id")
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = if (r.isNullAt(binIdx)) null else r.getAs[Array[Byte]](binIdx)
        val syms = decodeAudio(bytes) match {
          case Some((_, _, samples)) if samples.length >= win =>
            val m = (samples.length - win) / stride + 1
            val sb = new java.lang.StringBuilder
            var w = 0
            while (w < m) {
              var s = 0L; var j = 0
              while (j < win) {
                s += math.abs(samples(w * stride + j).toLong); j += 1
              }
              if (w > 0) sb.append(' ')
              sb.append((s / win) / 2048)
              w += 1
            }
            sb.toString
          case _ => null
        }
        Row(r.getLong(idIdx), syms)
      }
    }(enc)
  }

  /** [[audioSymbols]] memoized by (source plan, win, stride) — NOT
    * for the compute (symbols are one cheap decode pass) but for plan
    * IDENTITY: `mapPartitions` closures canonicalize by instance, so
    * two calls over the same input yield plans that key APART, and
    * every downstream plan-keyed artifact (the shingle set / array
    * caches) would rebuild per call AND churn the bounded LRU shared
    * with the text corpus artifacts, evicting frames other queries
    * still serve from. Returning the same frame instance keys the
    * whole downstream chain stably. No persist to own — eviction
    * drops only the reference.
    */
  def audioSymbolsCached(df: DataFrame, win: Int = 4,
      stride: Int = 2): DataFrame =
    symbolsCache.getOrBuild((Dedup.planKey(df), win, stride)) {
      audioSymbols(df, win, stride)
    }._1

  private final val SymbolsCacheMax = 16
  private val symbolsCache = new ArtifactCache[(String, Int, Int), DataFrame](
    "audioSymbols", SymbolsCacheMax)

  /** Trim-robust audio near-dup pairs: exact n-gram Jaccard over the
    * [[audioSymbols]] streams — clips pair when their symbol shingle
    * sets overlap at `>= num/den` Jaccard. Complements
    * [[audioNearDupPairs]] exactly as
    * [[videoMultiFrameNearDupPairs]] complements the key-frame path:
    * the envelope hash is the cheap whole-clip key; this is the form
    * a leading-trim or concatenation cannot evade.
    *
    * Scale note: the quantized-energy alphabet is small (~17 values),
    * so unlike text shingles, COMMON symbol shingles (constant
    * loudness runs) are hot across unrelated clips — `maxShingleDf`
    * defaults to a real cap here, not MaxValue: shingles on more than
    * that many clips are dropped from CANDIDATE GENERATION (the
    * Jaccard verify stays exact over full sets), which is what keeps
    * the candidate join bounded instead of degenerating toward
    * all-pairs on a large corpus. A pair whose every shared shingle
    * exceeds the cap is lost — for near-dup audio that means two
    * clips sharing only globally-common loudness patterns, which the
    * Jaccard gate would usually reject anyway. Callers wanting the
    * fully-exact candidate set pass `Int.MaxValue` explicitly.
    * Output: `(id_a, id_b)`.
    */
  def audioShingleNearDupPairs(df: DataFrame, n: Int = 3, num: Int = 6,
      den: Int = 10, win: Int = 4, stride: Int = 2,
      maxShingleDf: Int = 256): DataFrame = {
    val sym = audioSymbolsCached(df, win, stride)
      .where(col("symbols").isNotNull)
    Dedup.ngramJaccardPairs(sym, "symbols", "media_id", n, num, den,
      maxShingleDf = maxShingleDf)
  }

  /** Local mirror of `audioSymbols → tokens → shingles → 60-bit md5
    * hash` for ONE payload — the kernel the streaming ingest filter's
    * row-preserving predicate needs
    * ([[graft.streaming.GraphStream.audioShingleIngestFilter]]).
    * Must stay hash-identical to
    * [[graft.pipeline.Dedup.shingleHashSet]] over [[audioSymbols]]
    * (same shingle strings, same `md5 hex[0,15)` long) — a parity
    * spec pins it. Empty for undecodable / shorter-than-one-window
    * payloads.
    */
  private[graft] def audioShingleHashesOf(bytes: Array[Byte], n: Int = 3,
      win: Int = 4, stride: Int = 2): Seq[Long] =
    decodeAudio(bytes) match {
      case Some((_, _, samples)) if samples.length >= win =>
        val m = (samples.length - win) / stride + 1
        val toks = Array.tabulate(m) { w =>
          var s = 0L; var j = 0
          while (j < win) { s += math.abs(samples(w * stride + j).toLong); j += 1 }
          ((s / win) / 2048).toString
        }
        val shingleStrs =
          if (toks.length >= n)
            (0 to toks.length - n).map(i => toks.slice(i, i + n).mkString(" "))
          else Seq(toks.mkString(" "))
        shingleStrs.distinct.map { str =>
          val md = java.security.MessageDigest.getInstance("MD5")
            .digest(str.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          java.lang.Long.parseLong(
            md.take(8).map(b => f"${b & 0xff}%02x").mkString.take(15), 16)
        }
      case _ => Nil
    }

  /** 63-bit aHash of one decoded frame (row-major gray vs floor-mean —
    * the [[aHash63]] bit rule, shared by the image and video paths).
    */
  private def frameAHash63(img: BufferedImage): Long = {
    val w = img.getWidth; val ht = img.getHeight
    val grays = new Array[Long](w * ht)
    var y = 0
    while (y < ht) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        grays(y * w + x) =
          (((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)) / 3L
        x += 1
      }
      y += 1
    }
    val mean = grays.sum / grays.length
    var bits = 0L
    var p = 0
    val n = math.min(grays.length, 63)
    while (p < n) {
      if (grays(p) >= mean) bits |= 1L << p
      p += 1
    }
    bits
  }

  /** Perceptual hash of the DECODED video: [[aHash63]]'s bit rule over
    * the FIRST frame's gray grid — the standard key-frame hashing
    * shortcut (near-dup videos share production pipelines, so their
    * key frames near-match; per-frame hashing only multiplies rows).
    * Null for undecodable or zero-frame payloads. Output:
    * `(media_id, vhash)`.
    */
  def videoFrameHash63(df: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("vhash", LongType, nullable = true)))
    val enc = RowEncoder.encoderFor(outSchema)
    val binIdx = df.schema.fieldIndex("content")
    val idIdx = df.schema.fieldIndex("media_id")
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = if (r.isNullAt(binIdx)) null else r.getAs[Array[Byte]](binIdx)
        Row(r.getLong(idIdx), videoHashOf(bytes).map(Long.box).orNull)
      }
    }(enc)
  }

  /** Near-duplicate video pairs by key-frame hash Hamming distance <=
    * `maxHam` — same pigeonhole-exact 4x16-bit banding as
    * [[imageNearDupPairs]]. Output: `(id_a, id_b, hamming)`.
    *
    * Recall limitation: keyed on the FIRST frame only, so a clip
    * trimmed by one leading frame (or re-encoded behind a logo
    * bumper) evades it — [[videoMultiFrameNearDupPairs]] is the
    * robust form.
    */
  def videoNearDupPairs(df: DataFrame, maxHam: Int = 3): DataFrame = {
    require(maxHam >= 0 && maxHam <= 3,
      s"banding is exact only for maxHam <= 3, got $maxHam")
    val hs = videoFrameHash63(df).where(col("vhash").isNotNull)
    Dedup.bandedHammingPairs(hs, "media_id", "vhash",
      bands = 4, bandBits = 16, maxHam = maxHam)
  }

  /** Cross-corpus INCREMENTAL media near-dup: every (new-batch clip,
    * standing-corpus clip) pair within perceptual-hash Hamming
    * `maxHam`, with NO within-side pairs — the media arm of the
    * incremental-dedup shape ([[graft.pipeline.Dedup.crossJaccardPairs]]
    * for text, `bandedHammingCrossPairs` over SRP signatures for
    * embeddings): an ingested batch checks against the corpus without
    * re-pairing the corpus against itself. Same pigeonhole-exact
    * 4x16-bit banding and capped cross blocks as the within-corpus
    * forms; at scale the corpus side's hash frame is a write-time
    * artifact and the batch pays one decode pass. Output:
    * `(id_a from batch, id_b from corpus, hamming)`.
    */
  def mediaNearDupCrossPairs(batch: DataFrame, corpus: DataFrame,
      modality: String, maxHam: Int = 3): DataFrame = {
    require(maxHam >= 0 && maxHam <= 3,
      s"banding is exact only for maxHam <= 3, got $maxHam")
    def hs(df: DataFrame) = (modality match {
      case "image" => aHash63(df).select(col("media_id"), col("ahash").as("_h"))
      case "audio" =>
        audioEnvHash63(df).select(col("media_id"), col("ehash").as("_h"))
      case "video" =>
        videoFrameHash63(df).select(col("media_id"), col("vhash").as("_h"))
      case m => throw new IllegalArgumentException(
        s"modality must be image|audio|video, got $m")
    }).where(col("_h").isNotNull)
    Dedup.bandedHammingCrossPairs(hs(batch), hs(corpus),
      "media_id", "_h", bands = 4, bandBits = 16, maxHam = maxHam)
  }

  /** Per-frame aHash63 rows of each demuxed video: up to `k`
    * evenly-spaced frames per clip (all frames when the clip has
    * <= k), one output row per sampled frame — the demux already
    * iterates every frame, so sampling k costs selection, not extra
    * decode. `frame_slot` is the sample ordinal (0 until min(k, n)),
    * NOT the raw frame index — it stays under 64 regardless of clip
    * length, which is what lets the pair stage pack (clip, slot) into
    * one long. Undecodable or zero-frame payloads yield no rows.
    * Output: `(media_id, frame_slot, fhash)`.
    */
  def videoFrameHashes63(df: DataFrame, k: Int = 8): DataFrame = {
    require(k >= 1 && k <= 64, s"frame sample count must be in [1,64], got $k")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_slot", IntegerType, nullable = false),
      StructField("fhash", LongType, nullable = false)))
    val enc = RowEncoder.encoderFor(outSchema)
    val binIdx = df.schema.fieldIndex("content")
    val idIdx = df.schema.fieldIndex("media_id")
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = if (r.isNullAt(binIdx)) null else r.getAs[Array[Byte]](binIdx)
        videoHashesOf(bytes, k).iterator.zipWithIndex.map { case (h, j) =>
          Row(r.getLong(idIdx), j, h)
        }
      }
    }(enc)
  }

  /** Multi-frame near-duplicate video pairs — the trim/bumper-robust
    * form of [[videoNearDupPairs]]: clips pair when at least
    * `minMatches` cross-clip FRAME pairs lie within Hamming `maxHam`,
    * over up to `k` sampled frames per clip. A clip trimmed by a
    * leading frame (or prefixed with a logo bumper) keeps most of its
    * sampled frames near-identical to the original's, so it pairs
    * here while the first-frame key provably misses it.
    *
    * Plan shape: frames pair through the SAME pigeonhole-exact
    * 4x16-bit [[graft.pipeline.Dedup.bandedHammingPairs]] machinery
    * (hot bands split into capped sub-blocks), on a composite long id
    * `clip * 64 + slot` — slot < 64 by the sampler contract, and the
    * composite preserves clip order, so decoding is a shiftright and
    * the clip-level aggregation is ONE groupBy over the (already
    * banded, never all-pairs) frame matches. Exact at `maxHam <= 3`:
    * frame-pair recall is lossless by pigeonhole, and the clip
    * aggregation is a pure count over those exact pairs. Output:
    * `(id_a, id_b, n_matched)` with `id_a < id_b`.
    */
  def videoMultiFrameNearDupPairs(df: DataFrame, maxHam: Int = 3,
      k: Int = 8, minMatches: Int = 2,
      cap: Int = Dedup.MaxClusterBlock): DataFrame = {
    require(maxHam >= 0 && maxHam <= 3,
      s"banding is exact only for maxHam <= 3, got $maxHam")
    require(minMatches >= 1, s"minMatches must be >= 1, got $minMatches")
    val fh = videoFrameHashes63(df, k).select(
      (col("media_id") * 64 + col("frame_slot")).as("_fid"), col("fhash"))
    Dedup.bandedHammingPairs(fh, "_fid", "fhash",
        bands = 4, bandBits = 16, maxHam = maxHam, cap = cap)
      .select(shiftright(col("id_a"), 6).as("id_a"),
        shiftright(col("id_b"), 6).as("id_b"))
      .where(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_matched"))
      .where(col("n_matched") >= minMatches)
  }

  /** Winnowed (content-anchored) frame selection of one payload: the
    * per-frame aHash63 sequence is scanned with a width-`window`
    * sliding window and each window's minimum-hash frame (leftmost on
    * ties) is selected — MOSS winnowing applied to frame streams
    * instead of k-gram streams. The selected SET depends only on
    * LOCAL hash comparisons, so a clip re-cut to a different length
    * keeps selecting the same content frames away from the cut — the
    * property ordinal sampling ([[videoHashesOf]]) lacks: there, the
    * sampled INDICES are a function of clip length, and a re-cut
    * shifts every one of them. Windows shrink to the clip when
    * `n_frames < window` (one selection), and the winnowing guarantee
    * holds: every `window` consecutive frames contribute at least one
    * selection. When more than `maxSel` frames are selected (the pair
    * stage packs selections into 6 slot bits), the survivors are the
    * `maxSel` SMALLEST-hash selections — a content-anchored cut, so a
    * re-cut long clip keeps surviving the same content frames
    * (taking the FIRST `maxSel` in frame order would anchor the cut
    * to the clip head, and a leading trim would leave the two cuts'
    * surviving sets disjoint — exactly the failure this path exists
    * to close). Returns selected frame hashes in frame order; empty
    * for undecodable/zero-frame payloads.
    */
  private[graft] def videoWinnowedHashesOf(bytes: Array[Byte],
      window: Int = 3, maxSel: Int = 64): Seq[Long] =
    decodeVideo(bytes) match {
      case Some((_, _, frames)) if frames.nonEmpty =>
        val hs = frames.map(frameAHash63).toArray
        val nf = hs.length
        val w = math.min(window, nf)
        val sel = scala.collection.mutable.SortedSet.empty[Int]
        var s = 0
        while (s <= nf - w) {
          var best = s
          var j = s + 1
          while (j < s + w) { if (hs(j) < hs(best)) best = j; j += 1 }
          sel += best
          s += 1
        }
        val kept =
          if (sel.size <= maxSel) sel.toSeq
          else sel.toSeq.sortBy(i => (hs(i), i)).take(maxSel).sorted
        kept.map(hs)
      case _ => Nil
    }

  /** Per-clip winnowed frame-hash rows — the distributed face of
    * [[videoWinnowedHashesOf]] (selection is per-payload local work,
    * so it runs inside the decode pass: no shuffle, no window
    * functions). `sel_slot` is the selection ordinal in frame order
    * (< 64 by the `maxSel` contract), NOT the frame index — slots on
    * two clips need not align, and the pair stage never compares
    * them. Output: `(media_id, sel_slot, fhash)`.
    */
  def videoWinnowedFrameHashes63(df: DataFrame, window: Int = 3): DataFrame = {
    require(window >= 1, s"winnow window must be >= 1, got $window")
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("sel_slot", IntegerType, nullable = false),
      StructField("fhash", LongType, nullable = false)))
    val enc = RowEncoder.encoderFor(outSchema)
    val binIdx = df.schema.fieldIndex("content")
    val idIdx = df.schema.fieldIndex("media_id")
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = if (r.isNullAt(binIdx)) null else r.getAs[Array[Byte]](binIdx)
        videoWinnowedHashesOf(bytes, window).iterator.zipWithIndex.map {
          case (h, j) => Row(r.getLong(idIdx), j, h)
        }
      }
    }(enc)
  }

  /** Re-cut-robust near-duplicate video pairs — the content-anchored
    * form of [[videoMultiFrameNearDupPairs]]: clips pair when at
    * least `minMatches` cross-clip WINNOWED-frame pairs lie within
    * Hamming `maxHam`. The ordinal sampler compares frames at
    * length-dependent indices, so a clip trimmed by more than the
    * sample spacing lines almost no sampled frames up and recall
    * collapses toward the shared-index fraction; winnowed selection
    * keys on frame CONTENT (local hash minima), so both cuts select
    * the same frames throughout the shared footage and the pair
    * count tracks shared content, not shared length.
    *
    * Plan shape: identical to the multi-frame path — selected frames
    * pair through the one pigeonhole-exact 4x16-bit
    * [[graft.pipeline.Dedup.bandedHammingPairs]] machinery on a
    * `clip * 64 + sel_slot` composite long (capped hot-band
    * sub-blocks and all), then ONE groupBy aggregates frame matches
    * per clip pair. Exact at `maxHam <= 3` over the selected frames.
    * Output: `(id_a, id_b, n_matched)` with `id_a < id_b`.
    */
  def videoWinnowedNearDupPairs(df: DataFrame, maxHam: Int = 3,
      window: Int = 3, minMatches: Int = 2,
      cap: Int = Dedup.MaxClusterBlock): DataFrame = {
    require(maxHam >= 0 && maxHam <= 3,
      s"banding is exact only for maxHam <= 3, got $maxHam")
    require(minMatches >= 1, s"minMatches must be >= 1, got $minMatches")
    val fh = videoWinnowedFrameHashes63(df, window).select(
      (col("media_id") * 64 + col("sel_slot")).as("_fid"), col("fhash"))
    Dedup.bandedHammingPairs(fh, "_fid", "fhash",
        bands = 4, bandBits = 16, maxHam = maxHam, cap = cap)
      .select(shiftright(col("id_a"), 6).as("id_a"),
        shiftright(col("id_b"), 6).as("id_b"))
      .where(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_matched"))
      .where(col("n_matched") >= minMatches)
  }

  /** INCREMENTAL multi-frame video near-dup: new-batch clips vs the
    * STANDING corpus, at frame granularity — the cross-corpus form of
    * [[videoMultiFrameNearDupPairs]] (and, with `winnowWindow`, of
    * [[videoWinnowedNearDupPairs]]). [[mediaNearDupCrossPairs]]'s
    * video arm keys on the single key frame — the fast path, but a
    * batch re-upload TRIMMED past the first frame evades it, exactly
    * the recall hole the multi-frame batch path closed; an
    * incremental pipeline needs the same closure on the ingest side.
    *
    * Both sides expand to per-frame hash rows on a `clip*64 + slot`
    * composite long, meet in the capped banded CROSS join (no
    * within-side pairs — the standing corpus was already deduped),
    * and ONE groupBy aggregates cross-clip frame matches; clip pairs
    * survive at >= `minMatches`. Exact over the sampled/selected
    * frames at `maxHam <= 3` by the pigeonhole argument. Output:
    * `(id_a, id_b, n_matched)` with `id_a` from `batch`, `id_b` from
    * `corpus`.
    */
  def videoMultiFrameCrossPairs(batch: DataFrame, corpus: DataFrame,
      maxHam: Int = 3, k: Int = 8, minMatches: Int = 2,
      winnowWindow: Option[Int] = None,
      cap: Int = Dedup.MaxClusterBlock): DataFrame = {
    require(maxHam >= 0 && maxHam <= 3,
      s"banding is exact only for maxHam <= 3, got $maxHam")
    require(minMatches >= 1, s"minMatches must be >= 1, got $minMatches")
    def fh(df: DataFrame) = winnowWindow match {
      case Some(w) => videoWinnowedFrameHashes63(df, w).select(
        (col("media_id") * 64 + col("sel_slot")).as("_fid"),
        col("fhash").as("_h"))
      case None => videoFrameHashes63(df, k).select(
        (col("media_id") * 64 + col("frame_slot")).as("_fid"),
        col("fhash").as("_h"))
    }
    Dedup.bandedHammingCrossPairs(fh(batch), fh(corpus), "_fid", "_h",
        bands = 4, bandBits = 16, maxHam = maxHam, cap = cap)
      .select(shiftright(col("id_a"), 6).as("id_a"),
        shiftright(col("id_b"), 6).as("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_matched"))
      .where(col("n_matched") >= minMatches)
  }

  /** CROSS-MODALITY near-dup: still images that match a FRAME of some
    * video within Hamming `maxHam` — the thumbnail/poster-frame dedup
    * a mixed-media training corpus needs (a video's key frame is
    * routinely re-uploaded as a standalone image; hashing each
    * modality in isolation never finds it). Images key on
    * [[aHash63]], videos on up to `k` sampled frames, and both meet
    * in the SAME pigeonhole-exact 4x16-bit banded cross join as the
    * incremental media path ([[mediaNearDupCrossPairs]]) — capped
    * cross blocks, never image x frame all-pairs. One matched frame
    * suffices (an image can only match frame-wise), so the per-pair
    * aggregate is the BEST frame distance, not a match count.
    * Output: `(image_id, video_id, best_hamming)`.
    */
  def thumbnailPairs(images: DataFrame, videos: DataFrame, maxHam: Int = 3,
      k: Int = 8, cap: Int = Dedup.MaxClusterBlock,
      winnowWindow: Option[Int] = None): DataFrame = {
    require(maxHam >= 0 && maxHam <= 3,
      s"banding is exact only for maxHam <= 3, got $maxHam")
    val ih = aHash63(images).where(col("ahash").isNotNull)
      .select(col("media_id").as("_fid"), col("ahash").as("_h"))
    // `winnowWindow = Some(w)` keys the video side on WINNOW-selected
    // frames instead of ordinal samples — content-anchored, so a
    // thumbnail cut from a re-edited upload of the clip still meets
    // the frame the selection keeps (ordinal sample indices move with
    // clip length; winnow minima move with content)
    val fh = winnowWindow match {
      case Some(w) => videoWinnowedFrameHashes63(videos, w).select(
        (col("media_id") * 64 + col("sel_slot")).as("_fid"),
        col("fhash").as("_h"))
      case None => videoFrameHashes63(videos, k).select(
        (col("media_id") * 64 + col("frame_slot")).as("_fid"),
        col("fhash").as("_h"))
    }
    Dedup.bandedHammingCrossPairs(ih, fh, "_fid", "_h",
        bands = 4, bandBits = 16, maxHam = maxHam, cap = cap)
      .select(col("id_a").as("image_id"),
        shiftright(col("id_b"), 6).as("video_id"), col("hamming"))
      .groupBy("image_id", "video_id")
      .agg(min(col("hamming")).cast("int").as("best_hamming"))
  }

  /** Integer fingerprint of the DECODED payload: sum over pixels of the
    * packed 24-bit RGB. Exact-integer, so an arithmetic SQL oracle can
    * verify that PNG encode -> distribute -> decode reproduced every
    * pixel bit-for-bit. Null checksum for rows that don't decode.
    */
  def pixelChecksum(df: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("checksum", LongType, nullable = true)))
    val enc = RowEncoder.encoderFor(outSchema)
    val binIdx = df.schema.fieldIndex("content")
    val idIdx = df.schema.fieldIndex("media_id")
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = if (r.isNullAt(binIdx)) null else r.getAs[Array[Byte]](binIdx)
        val sum = decodeImage(bytes).map { img =>
          var s = 0L; var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) { s += img.getRGB(x, y) & 0xFFFFFF; x += 1 }
            y += 1
          }
          s
        }
        Row(r.getLong(idIdx), sum.map(Long.box).orNull)
      }
    }(enc)
  }

  /** Deterministic synthetic media table for tests/benches. Image rows
    * carry REAL PNG payloads (synthesized per-partition, distributed);
    * audio/video rows carry deterministic pseudo-bytes.
    */
  def syntheticMedia(spark: SparkSession, n: Int): DataFrame = {
    val enc = RowEncoder.encoderFor(mediaSchema)
    val base = spark.range(n.toLong).select(
      col("id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("id") % 3 + 1).cast("int")).as("modality"),
      unhex(md5(col("id").cast("string"))).as("content"),
      struct(
        (col("id") % 640 + 1).cast("int").as("width"),
        (col("id") % 480 + 1).cast("int").as("height"),
        lit(16000).cast("int").as("sample_rate"),
        (col("id") % 100 + 1).cast("int").as("n_frames"),
        lit("fake").as("format")).as("meta"))
    base.mapPartitions { rows =>
      rows.map { r =>
        if (r.getString(1) != "image") r
        else {
          // deterministic 8x8 PNG: color derived from the media id
          val id = r.getLong(0)
          val img = new BufferedImage(8, 8, BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              img.setRGB(x, y, (((id * 37 + x * 5 + y * 11) % 255).toInt << 16) |
                (((id * 13 + x) % 255).toInt << 8) | ((id * 7 + y) % 255).toInt)
              x += 1
            }
            y += 1
          }
          Row.fromSeq(r.toSeq.updated(2, encodePng(img)))
        }
      }
    }(enc)
  }
}
