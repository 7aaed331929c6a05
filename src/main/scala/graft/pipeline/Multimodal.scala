package graft.pipeline

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * Multimodal-column plumbing: image/audio/video payloads as opaque
 * `binary` columns with typed metadata, processed in partition-sized
 * batches via `mapPartitions` (the JVM analogue of `mapInPandas`
 * batch processing — whole-partition iterators, no per-row overhead).
 *
 * The Spark-side machinery (schema, batch shape, partitioning
 * preservation, deterministic output) is real and tested, and so is
 * the IMAGE codec: [[decodeImage]] decodes real PNG/JPEG/BMP/GIF
 * bytes through the JDK's `javax.imageio` (no external libraries),
 * and every batch operator dispatches on the payload signature via
 * [[decode]]. The deterministic GRFT synthetic format remains as the
 * audio/video stand-in (this container has no audio/video codecs) and
 * as the cross-engine-verifiable fixture; [[encodePng]] bridges the
 * two by writing the same closed-form pixel stream as a REAL grayscale
 * PNG, so feature extraction over genuine image bytes is still
 * DuckDB-oracle-checkable end to end.
 */
object Multimodal {

  /** A media row: opaque payload + typed metadata. */
  case class MediaItem(media_id: Long, kind: String, width: Int, height: Int,
      n_frames: Int, payload: Array[Byte])

  /** Extracted fixed-width feature vector per item. */
  case class MediaFeatures(media_id: Long, kind: String, features: Array[Double])

  /** Sampled frame: one payload slice per selected frame. */
  case class MediaFrame(media_id: Long, frame_idx: Int, frame: Array[Byte])

  private val Magic = 0x47524654 // "GRFT"

  /** MINSTD pixel generator constants, mod 2^31-1: closed-form
    * state_i = seed · 48271^i mod P, so the DuckDB oracle reproduces
    * every pixel from a precomputed powers table (graft-visible for
    * the oracle builder). */
  private[graft] val PixP = 2147483647L
  private[graft] val PixA = 48271L
  private[graft] val PixSeedF = 16807L
  private[graft] val PixSeedC = 12345L

  /** Deterministic synthetic payload: header (magic, w, h, frames) +
    * per-frame pseudo-pixels seeded from the id. Stands in for a real
    * encoded image/video so the pipeline shape is exercised honestly. */
  def synthesizePayload(id: Long, width: Int, height: Int, frames: Int): Array[Byte] = {
    val px = width * height
    val buf = ByteBuffer.allocate(16 + frames * px).order(ByteOrder.BIG_ENDIAN)
    buf.putInt(Magic).putInt(width).putInt(height).putInt(frames)
    var f = 0
    while (f < frames) {
      var i = 0
      var state = ((id % PixP) * PixA + f * PixSeedF + PixSeedC) % PixP
      while (i < px) {
        state = state * PixA % PixP
        buf.put(((state >> 8) & 0xff).toByte)
        i += 1
      }
      f += 1
    }
    buf.array()
  }

  /** Synthetic-format decode — parses the deterministic GRFT payload.
    * Real encoded images go through [[decodeImage]]; [[decode]]
    * dispatches on the payload's signature. */
  def decodePixels(payload: Array[Byte]): (Int, Int, Int, Array[Array[Byte]]) = {
    val buf = ByteBuffer.wrap(payload).order(ByteOrder.BIG_ENDIAN)
    require(buf.getInt() == Magic, "not a GRFT payload")
    val (w, h, frames) = (buf.getInt(), buf.getInt(), buf.getInt())
    val px = w * h
    val out = Array.ofDim[Array[Byte]](frames)
    var f = 0
    while (f < frames) {
      val frame = new Array[Byte](px)
      buf.get(frame)
      out(f) = frame
      f += 1
    }
    (w, h, frames, out)
  }

  /** REAL image decode via the JDK's `javax.imageio` (PNG/JPEG/BMP/GIF
    * — no external libraries): one grayscale frame of luminance bytes.
    * Single-band images read their raster directly (lossless for
    * grayscale PNG); multi-band images reduce to ITU-R 601 luma. */
  def decodeImage(payload: Array[Byte]): (Int, Int, Int, Array[Array[Byte]]) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    require(img != null, "payload is not a decodable image")
    val (w, h) = (img.getWidth, img.getHeight)
    val frame = new Array[Byte](w * h)
    val raster = img.getRaster
    if (raster.getNumBands == 1) {
      var r = 0
      while (r < h) {
        var c = 0
        while (c < w) {
          frame(r * w + c) = raster.getSample(c, r, 0).toByte
          c += 1
        }
        r += 1
      }
    } else {
      var r = 0
      while (r < h) {
        var c = 0
        while (c < w) {
          val rgb = img.getRGB(c, r)
          val lum = (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
            114 * (rgb & 0xff) + 500) / 1000
          frame(r * w + c) = lum.toByte
          c += 1
        }
        r += 1
      }
    }
    (w, h, 1, Array(frame))
  }

  /** Unified decode: dispatch on the payload signature — GRFT magic →
    * synthetic format, RIFF/AVI → [[decodeAvi]], PNG/JPEG/GIF/BMP
    * signatures → [[decodeImage]].
    * Every batch operator below routes through this, so a media table
    * can mix real encoded images/videos with synthetic payloads row by
    * row. */
  def decode(payload: Array[Byte]): (Int, Int, Int, Array[Array[Byte]]) = {
    def sig4 = ByteBuffer.wrap(payload, 0, 4).order(ByteOrder.BIG_ENDIAN).getInt()
    if (payload.length >= 16 && sig4 == Magic) decodePixels(payload)
    else if (payload.length >= 12 && sig4 == 0x52494646 /* RIFF */ &&
        ByteBuffer.wrap(payload, 8, 4).order(ByteOrder.BIG_ENDIAN).getInt() ==
          0x41564920 /* AVI  */ ) decodeAvi(payload)
    else decodeImage(payload)
  }

  /** Deterministic REAL-PNG payload: the SAME MINSTD pixel stream as
    * [[synthesizePayload]]'s frame 0, written as an 8-bit grayscale
    * PNG through `javax.imageio`. Grayscale PNG is lossless, so the
    * decode reproduces the closed-form pixels bit-exactly and the
    * DuckDB oracle can verify features computed from REAL image bytes
    * end to end. */
  def encodePng(id: Long, width: Int, height: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var state = ((id % PixP) * PixA + PixSeedC) % PixP
    var r = 0
    while (r < height) {
      var c = 0
      while (c < width) {
        state = state * PixA % PixP
        raster.setSample(c, r, 0, ((state >> 8) & 0xff).toInt)
        c += 1
      }
      r += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Build a deterministic media table from the documents fixture:
    * doc_id drives payload content; docs rotate image/audio/video. */
  def syntheticMediaTable(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (id, nc) =>
        val kind = (id % 3) match {
          case 0 => "image"; case 1 => "audio"; case _ => "video"
        }
        val frames = if (kind == "video") 4 else 1
        val w = 8 + (nc % 8).toInt
        val h = 8
        MediaItem(id, kind, w, h, frames, synthesizePayload(id, w, h, frames))
      }.toDF()
  }

  /** Media table of REAL PNG payloads (one grayscale image per doc,
    * encoded via `javax.imageio`): same id-driven dimensions as the
    * synthetic table, frames = 1, kind = image. */
  def realMediaTable(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (id, nc) =>
        val w = 8 + (nc % 8).toInt
        val h = 8
        MediaItem(id, "image", w, h, 1, encodePng(id, w, h))
      }.toDF()
  }

  /**
   * Feature extraction over whole-partition batches: per item, decode
   * and mean-pool each of `dim` horizontal bands across frames. The
   * `mapPartitions` shape is the point — a real model would be loaded
   * once per partition (batch), not once per row.
   */
  def extractFeatures(media: Dataset[MediaItem], dim: Int = 8): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { batch =>
      // per-partition init happens HERE (model load in production)
      batch.map { item =>
        val (w, h, frames, pixels) = decode(item.payload)
        val feats = new Array[Double](dim)
        val rowsPerBand = math.max(1, h / dim)
        var f = 0
        while (f < frames) {
          val frame = pixels(f)
          var band = 0
          while (band < dim) {
            var acc = 0L
            var n = 0
            var r = band * rowsPerBand
            while (r < math.min(h, (band + 1) * rowsPerBand)) {
              var c = 0
              while (c < w) { acc += (frame(r * w + c) & 0xff); n += 1; c += 1 }
              r += 1
            }
            if (n > 0) feats(band) += acc.toDouble / n / frames
            band += 1
          }
          f += 1
        }
        MediaFeatures(item.media_id, item.kind, feats)
      }
    }
  }

  /** Content fingerprint per item. */
  case class MediaFp(media_id: Long, fp: Long)

  /**
   * Content fingerprint over the DECODED pixel stream (polynomial fold
   * mod 2^31-1, frame order then pixel order): container-invariant —
   * two payloads that decode to the same pixels fingerprint equal even
   * if the encoded bytes differ — and deterministic arithmetic, so the
   * oracle regenerates every pixel from the synthetic codec's closed
   * form and folds to the identical value.
   */
  def contentFingerprints(media: Dataset[MediaItem]): Dataset[MediaFp] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { batch =>
      batch.map { item =>
        val (_, _, _, pixels) = decode(item.payload)
        var acc = 17L
        pixels.foreach { frame =>
          var i = 0
          while (i < frame.length) {
            acc = (acc * 31 + (frame(i) & 0xff)) % PixP
            i += 1
          }
        }
        MediaFp(item.media_id, acc)
      }
    }
  }

  /** Media dedup by decoded content: one row per distinct content with
    * the keeper (min media_id), copy count, and the fingerprint —
    * `Dedup.exactGroups` for opaque media columns. Shuffles only
    * (fingerprint, id) pairs, never payloads. */
  def dedupByContent(media: Dataset[MediaItem]): DataFrame = {
    contentFingerprints(media).toDF()
      .groupBy(col("fp"))
      .agg(min(col("media_id")).as("keep_media_id"),
        count(lit(1)).as("n_copies"))
      .select(col("keep_media_id"), col("n_copies"), col("fp"))
  }

  /** Downsample every frame by an integer factor (stub "resize"):
    * payload in, payload out — same format, smaller dims. */
  def resize(media: Dataset[MediaItem], factor: Int): Dataset[MediaItem] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { batch =>
      batch.map { item =>
        val (w, h, frames, pixels) = decode(item.payload)
        val (nw, nh) = (math.max(1, w / factor), math.max(1, h / factor))
        val out = ByteBuffer.allocate(16 + frames * nw * nh).order(ByteOrder.BIG_ENDIAN)
        out.putInt(Magic).putInt(nw).putInt(nh).putInt(frames)
        pixels.foreach { frame =>
          var r = 0
          while (r < nh) {
            var c = 0
            while (c < nw) {
              out.put(frame(r * factor * w + c * factor))
              c += 1
            }
            r += 1
          }
        }
        item.copy(width = nw, height = nh, payload = out.array())
      }
    }
  }

  /** Sample every `stride`-th frame of video payloads into one row per
    * frame (flatMap shape: one input row -> many output rows). */
  def sampleFrames(media: Dataset[MediaItem], stride: Int): Dataset[MediaFrame] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { batch =>
      batch.flatMap { item =>
        val (_, _, frames, pixels) = decode(item.payload)
        (0 until frames by stride).map(f => MediaFrame(item.media_id, f, pixels(f)))
      }
    }
  }

  // ------------------------------------------------------------ real video

  /** Deterministic REAL-AVI payload: an uncompressed RIFF/AVI
    * (`strh` fccType 'vids' handler 'DIB ', `strf` BITMAPINFOHEADER
    * BI_RGB 24-bit) whose '00db' frames carry the SAME closed-form
    * MINSTD pixel stream as [[synthesizePayload]] — each gray pixel p
    * stored as bottom-up BGR (p,p,p) with 4-byte row padding, the
    * standard uncompressed-AVI layout. BI_RGB is lossless and the luma
    * of (p,p,p) is exactly p, so the decode reproduces the synthetic
    * pixels bit for bit and the existing closed-form oracle verifies
    * features computed from REAL video bytes. */
  def encodeAvi(id: Long, width: Int, height: Int, frames: Int): Array[Byte] = {
    val stride = ((width * 3 + 3) / 4) * 4
    val frameBytes = stride * height
    def fourcc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    val strf = ByteBuffer.allocate(40).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(40).putInt(width).putInt(height)
      .putShort(1).putShort(24) // planes, 24-bit
      .putInt(0)                // BI_RGB (uncompressed)
      .putInt(frameBytes).putInt(0).putInt(0).putInt(0).putInt(0)
    val strh = ByteBuffer.allocate(56).order(ByteOrder.LITTLE_ENDIAN)
      .put(fourcc("vids")).put(fourcc("DIB "))
      .putInt(0).putShort(0).putShort(0).putInt(0)
      .putInt(1).putInt(25) // scale, rate: 25 fps
      .putInt(0).putInt(frames).putInt(frameBytes).putInt(-1).putInt(0)
      .putShort(0).putShort(0).putShort(width.toShort).putShort(height.toShort)
    val avih = ByteBuffer.allocate(56).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(40000) // usec/frame
      .putInt(frameBytes * 25).putInt(0).putInt(0)
      .putInt(frames).putInt(0).putInt(1).putInt(frameBytes)
      .putInt(width).putInt(height)
      .putInt(0).putInt(0).putInt(0).putInt(0)
    val strlSize = 4 + (8 + 56) + (8 + 40)
    val hdrlSize = 4 + (8 + 56) + (8 + strlSize)
    val moviSize = 4 + frames * (8 + frameBytes)
    val total = 12 + (8 + hdrlSize) + (8 + moviSize)
    val buf = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    buf.put(fourcc("RIFF")).putInt(total - 8).put(fourcc("AVI "))
    buf.put(fourcc("LIST")).putInt(hdrlSize).put(fourcc("hdrl"))
    buf.put(fourcc("avih")).putInt(56).put(avih.array())
    buf.put(fourcc("LIST")).putInt(strlSize).put(fourcc("strl"))
    buf.put(fourcc("strh")).putInt(56).put(strh.array())
    buf.put(fourcc("strf")).putInt(40).put(strf.array())
    buf.put(fourcc("LIST")).putInt(moviSize).put(fourcc("movi"))
    var f = 0
    while (f < frames) {
      buf.put(fourcc("00db")).putInt(frameBytes)
      // regenerate the frame's gray pixels (top-down), then write rows
      // bottom-up as BGR with padding — the DIB layout
      val px = width * height
      val gray = new Array[Byte](px)
      var state = ((id % PixP) * PixA + f * PixSeedF + PixSeedC) % PixP
      var i = 0
      while (i < px) {
        state = state * PixA % PixP
        gray(i) = ((state >> 8) & 0xff).toByte
        i += 1
      }
      var r = height - 1
      while (r >= 0) {
        var c = 0
        while (c < width) {
          val p = gray(r * width + c)
          buf.put(p).put(p).put(p)
          c += 1
        }
        var pad = stride - width * 3
        while (pad > 0) { buf.put(0.toByte); pad -= 1 }
        r -= 1
      }
      f += 1
    }
    buf.array()
  }

  /** REAL AVI decode — the same chunk-walking RIFF parser style as
    * [[decodeWav]], nested-LIST aware: finds `strf` (requires BI_RGB
    * 24-bit — compressed streams are rejected, not misread), walks
    * `movi` collecting `00db`/`00dc` frames, skips JUNK/idx1/other
    * chunks with RIFF even-byte padding, and converts each bottom-up
    * BGR frame to top-down ITU-R 601 luma (exact for gray content). */
  def decodeAvi(payload: Array[Byte]): (Int, Int, Int, Array[Array[Byte]]) = {
    val buf = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
    def tag(): String = {
      val b = new Array[Byte](4); buf.get(b); new String(b, "US-ASCII")
    }
    require(tag() == "RIFF", "not a RIFF payload")
    buf.getInt()
    require(tag() == "AVI ", "not an AVI payload")
    var w = -1; var h = -1; var bits = -1; var comp = -1
    val framesBuf = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    def walk(end: Int): Unit = {
      while (buf.position() + 8 <= end) {
        val id = tag()
        val size = buf.getInt()
        val next = buf.position() + size + (size & 1)
        id match {
          case "LIST" =>
            tag() // list type (hdrl/strl/movi/...) — recurse through all
            walk(buf.position() + size - 4)
          case "strf" =>
            val start = buf.position()
            buf.getInt() // biSize
            w = buf.getInt(); h = buf.getInt()
            buf.getShort() // planes
            bits = buf.getShort().toInt
            comp = buf.getInt()
            require(comp == 0 && bits == 24,
              s"only uncompressed 24-bit DIB AVI supported (comp $comp, $bits-bit)")
            buf.position(start)
          case fr if fr.endsWith("db") || fr.endsWith("dc") =>
            require(w > 0, "frame chunk before strf header")
            val raw = new Array[Byte](size)
            buf.get(raw)
            val stride = ((w * 3 + 3) / 4) * 4
            val luma = new Array[Byte](w * h)
            var r = 0
            while (r < h) {
              val srcRow = (h - 1 - r) * stride
              var c = 0
              while (c < w) {
                val b0 = raw(srcRow + c * 3) & 0xff
                val g = raw(srcRow + c * 3 + 1) & 0xff
                val rr = raw(srcRow + c * 3 + 2) & 0xff
                luma(r * w + c) = ((299 * rr + 587 * g + 114 * b0 + 500) / 1000).toByte
                c += 1
              }
              r += 1
            }
            framesBuf += luma
          case _ => // avih, strh, JUNK, idx1, ... — skip
        }
        buf.position(next min end)
      }
    }
    walk(payload.length)
    require(framesBuf.nonEmpty, "no frame chunks")
    (w, h, framesBuf.length, framesBuf.toArray)
  }

  /** Media table of REAL AVI payloads (one uncompressed 4-frame clip
    * per doc): same id-driven dimensions as the synthetic table's
    * videos, kind = video. */
  def realVideoTable(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (id, nc) =>
        val w = 8 + (nc % 8).toInt
        val h = 8
        MediaItem(id, "video", w, h, 4, encodeAvi(id, w, h, 4))
      }.toDF()
  }

  // ------------------------------------------------------------ real audio

  /** Audio-lane seed offset: distinct from [[PixSeedC]] so audio sample
    * streams never collide with image pixel streams for the same id. */
  private[graft] val AudSeedC = 69069L

  /** Deterministic REAL-WAV payload: 16-bit mono PCM (RIFF/WAVE, the
    * canonical 44-byte header) whose samples are the closed-form MINSTD
    * stream state_i = seed · 48271^i mod P with
    * seed = ((id mod P) · 48271 + [[AudSeedC]]) mod P, mapped to signed
    * 16-bit as ((state >> 8) & 0xffff) - 32768. PCM is lossless, so the
    * decode reproduces every sample bit-exactly and the DuckDB oracle
    * regenerates them from the same closed form. */
  def encodeWav(id: Long, nSamples: Int, sampleRate: Int = 8000): Array[Byte] = {
    val dataSize = nSamples * 2
    val buf = ByteBuffer.allocate(44 + dataSize).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2) // byte rate
      .putShort(2)            // block align
      .putShort(16)           // bits per sample
    buf.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var state = ((id % PixP) * PixA + AudSeedC) % PixP
    var i = 0
    while (i < nSamples) {
      state = state * PixA % PixP
      buf.putShort((((state >> 8) & 0xffff) - 32768).toShort)
      i += 1
    }
    buf.array()
  }

  /** REAL WAV decode — a chunk-walking RIFF parser, not a fixed-offset
    * reader: skips unknown chunks (LIST/INFO metadata, fact, cue) with
    * RIFF's even-byte padding, requires PCM (format 1) 16-bit, and
    * returns (sampleRate, channels, interleaved samples). Channels > 1
    * return interleaved frames exactly as stored. */
  def decodeWav(payload: Array[Byte]): (Int, Int, Array[Short]) = {
    val buf = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
    def tag(): String = {
      val b = new Array[Byte](4); buf.get(b); new String(b, "US-ASCII")
    }
    require(tag() == "RIFF", "not a RIFF payload")
    buf.getInt() // RIFF chunk size (trust the chunk walk, not this)
    require(tag() == "WAVE", "not a WAVE payload")
    var sampleRate = -1
    var channels = -1
    var bits = -1
    var samples: Array[Short] = null
    while (buf.remaining() >= 8 && samples == null) {
      val id = tag()
      val size = buf.getInt()
      id match {
        case "fmt " =>
          val start = buf.position()
          val fmt = buf.getShort()
          require(fmt == 1, s"not PCM (format $fmt)")
          channels = buf.getShort().toInt
          sampleRate = buf.getInt()
          buf.getInt() // byte rate
          buf.getShort() // block align
          bits = buf.getShort().toInt
          require(bits == 16, s"only 16-bit PCM supported (got $bits)")
          buf.position(start + size + (size & 1))
        case "data" =>
          require(bits == 16, "data chunk before fmt chunk")
          val n = size / 2
          val out = new Array[Short](n)
          var i = 0
          while (i < n) { out(i) = buf.getShort(); i += 1 }
          samples = out
        case _ => // LIST, fact, cue, ... — skip with RIFF even padding
          buf.position(buf.position() + size + (size & 1))
      }
    }
    require(samples != null, "no data chunk")
    (sampleRate, channels, samples)
  }

  /** Media table of REAL WAV payloads (one 16-bit PCM clip per doc):
    * n = 64 + 8·(id % 8) samples (multiple of 8, so band pooling has
    * equal-size bands), width carries the sample count, kind = audio. */
  def realAudioTable(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .map { id =>
        val n = 64 + 8 * (id % 8).toInt
        MediaItem(id, "audio", n, 1, 1, encodeWav(id, n))
      }.toDF()
  }

  /** Band-pooled audio features over whole-partition batches (same
    * mapPartitions shape as [[extractFeatures]]): band b of `dim` is
    * the mean amplitude of the samples in [b·n/dim, (b+1)·n/dim) —
    * integer sample sums, one double division per band, so the oracle
    * reproduces each feature bit-exactly. */
  def extractAudioFeatures(media: Dataset[MediaItem], dim: Int = 8): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { batch =>
      batch.map { item =>
        val (_, _, samples) = decodeWav(item.payload)
        val n = samples.length
        val feats = new Array[Double](dim)
        var band = 0
        while (band < dim) {
          val from = band * n / dim
          val until = (band + 1) * n / dim
          var acc = 0L
          var i = from
          while (i < until) { acc += samples(i); i += 1 }
          if (until > from) feats(band) = acc.toDouble / (until - from)
          band += 1
        }
        MediaFeatures(item.media_id, item.kind, feats)
      }
    }
  }
}
