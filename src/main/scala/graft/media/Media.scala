package graft.media

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO
import java.awt.image.BufferedImage

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for training-data pipelines: image/audio/video
  * as opaque `binary` columns with typed metadata, plus the decode /
  * feature-extract / resize / frame-sample stages.
  *
  * IMAGE decode is REAL: fixture rows carry genuine PNG bytes (encoded by
  * the JDK's own `javax.imageio`, no external codecs) and
  * [[extractFeatures]] decodes them back with `ImageIO.read`, reporting the
  * decoded raster's width/height plus two probe pixels — so the gate proves
  * an actual encode→bytes→decode round-trip, not arithmetic on byte
  * lengths. The PNG content is a pure function of the document text
  * ([[DeterministicPng]]), which is what lets a SQL oracle predict the
  * decoded dims and pixels without being able to parse PNG itself.
  *
  * AUDIO decode is REAL too: fixture rows carry genuine PCM WAVE bytes
  * (encoded and re-parsed by the JDK's own `javax.sound.sampled`), and the
  * features report the container-decoded sample rate, frame count, and the
  * first/last 16-bit samples read back from the PCM payload
  * ([[DeterministicWav]]).
  *
  * VIDEO decode is REAL as well: fixture rows carry genuine multi-frame
  * animated-GIF bytes (the JDK's own `javax.imageio` GIF writer/reader —
  * a frame-sequence container is precisely the video surface this layer
  * needs), and [[extractFeatures]] reads back the container-parsed frame
  * count plus pixel probes from the first and last decoded frames
  * ([[DeterministicGif]]). An indexed 256-gray palette makes GIF's
  * quantization lossless, so every decoded pixel is oracle-predictable.
  * For codecs outside the JDK (H.264 & co.) the swap point is
  * [[DeterministicGif.decode]] — nothing else changes.
  *
  * Scale shape: decode runs as `mapPartitions` (one codec init per
  * partition, not per row — the same batching rationale as arrow-batched
  * Python UDFs); binary payloads stay columnar in parquet and are never
  * shuffled — features are extracted before any wide operation.
  */
object Media {

  /** One media row: opaque bytes + envelope metadata. */
  case class MediaRow(media_id: Long, kind: String, mime: String,
                      content: Array[Byte])

  /** Extracted features (decode output). `px00` / `px_corner` are the
    * packed 24-bit RGB of the decoded pixels at (0,0) and (w-1,h-1) —
    * 0 for non-image rows.
    */
  case class MediaFeatures(media_id: Long, kind: String, n_bytes: Long,
                           width: Int, height: Int, n_frames: Int,
                           sample_rate: Int, px00: Int, px_corner: Int)

  /** Deterministic PNG generator: dimensions and every pixel are pure
    * functions of a single integer `seed` (the source document's text
    * length), so a SQL oracle can predict what a real decoder must read
    * back. Dims stay small (≤111×111) — fixture encode cost is
    * sub-millisecond per image.
    */
  object DeterministicPng {
    def dims(seed: Int): (Int, Int) =
      ((seed % 96) + 16, ((seed / 96) % 96) + 16)

    /** Packed 24-bit RGB at (x,y): a position-dependent gradient so the
      * raster isn't flat (PNG row filters actually do work).
      */
    def rgb(seed: Int, x: Int, y: Int): Int =
      (((seed + x) % 256) << 16) | (((seed + y) % 256) << 8) |
        ((seed + x + y) % 256)

    def encode(seed: Int): Array[Byte] = {
      val (w, h) = dims(seed)
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { img.setRGB(x, y, rgb(seed, x, y)); x += 1 }
        y += 1
      }
      val bos = new ByteArrayOutputStream(1024)
      ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
  }

  /** Deterministic WAV generator — the audio twin of [[DeterministicPng]],
    * using the JDK's own `javax.sound.sampled` (PCM WAVE needs no external
    * codec). Sample rate, frame count, and every 16-bit mono sample are
    * pure functions of the seed, so a SQL oracle can predict what a real
    * decoder must read back: the format fields plus the first and last
    * decoded samples.
    */
  object DeterministicWav {
    val Rates: Array[Int] = Array(8000, 16000, 22050, 44100)

    def rate(seed: Int): Int = Rates(seed % 4)
    def frames(seed: Int): Int = (seed % 480) + 32

    /** Signed 16-bit PCM sample at frame `i`. */
    def sample(seed: Int, i: Int): Int = ((seed * 31 + i * 17) % 65536) - 32768

    def encode(seed: Int): Array[Byte] = {
      val n = frames(seed)
      val pcm = new Array[Byte](n * 2) // 16-bit mono little-endian
      var i = 0
      while (i < n) {
        val s = sample(seed, i)
        pcm(i * 2) = (s & 0xFF).toByte
        pcm(i * 2 + 1) = ((s >> 8) & 0xFF).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(
        rate(seed).toFloat, 16, 1, true, false)
      val in = new javax.sound.sampled.AudioInputStream(
        new ByteArrayInputStream(pcm), fmt, n.toLong)
      val bos = new ByteArrayOutputStream(pcm.length + 64)
      javax.sound.sampled.AudioSystem.write(in,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }

    /** Real decode: container-parsed format + fully-read PCM frames.
      * Returns (sampleRate, nFrames, firstSample, lastSample).
      */
    def decode(bytes: Array[Byte]): (Int, Int, Int, Int) = {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new ByteArrayInputStream(bytes))
      try {
        val fmt = in.getFormat
        require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
          s"unexpected WAV layout: $fmt")
        val n = in.getFrameLength.toInt
        val pcm = in.readAllBytes()
        require(pcm.length == n * 2, s"short WAV read: ${pcm.length}/${n * 2}")
        def at(i: Int): Int =
          ((pcm(i * 2 + 1) << 8) | (pcm(i * 2) & 0xFF))
        (fmt.getSampleRate.toInt, n, at(0), at(n - 1))
      } finally in.close()
    }
  }

  /** Deterministic animated-GIF generator — the VIDEO twin of
    * [[DeterministicPng]]/[[DeterministicWav]], using the JDK's own
    * multi-frame GIF writer/reader (`javax.imageio`, no external codecs):
    * an animated GIF IS a frame-sequence container, which is exactly the
    * surface a video pipeline needs — per-frame decode, frame count,
    * frame-sample. Frames are 8-bit INDEXED rasters over an explicit
    * 256-gray palette, so GIF's palette quantization is lossless and every
    * decoded pixel is a pure function of the seed: a SQL oracle predicts
    * what the real decoder must read back.
    */
  object DeterministicGif {
    def dims(seed: Int): (Int, Int) =
      ((seed % 24) + 8, ((seed / 24) % 24) + 8)
    def frames(seed: Int): Int = (seed % 12) + 2

    /** Gray level (= palette index) at (x,y) of frame f. */
    def gray(seed: Int, f: Int, x: Int, y: Int): Int =
      (seed + 7 * f + x + 2 * y) % 256

    private val palette: java.awt.image.IndexColorModel = {
      val ramp = Array.tabulate(256)(j => j.toByte)
      new java.awt.image.IndexColorModel(8, 256, ramp, ramp, ramp)
    }

    def encode(seed: Int): Array[Byte] = {
      val (w, h) = dims(seed)
      val n = frames(seed)
      val writer = ImageIO.getImageWritersByFormatName("gif").next()
      val bos = new ByteArrayOutputStream(1024)
      val ios = ImageIO.createImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        var f = 0
        while (f < n) {
          val img = new BufferedImage(w, h,
            BufferedImage.TYPE_BYTE_INDEXED, palette)
          val raster = img.getRaster
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              raster.setSample(x, y, 0, gray(seed, f, x, y)); x += 1
            }
            y += 1
          }
          writer.writeToSequence(
            new javax.imageio.IIOImage(img, null, null), null)
          f += 1
        }
        writer.endWriteSequence()
      } finally { writer.dispose(); ios.close() }
      bos.toByteArray
    }

    /** Real decode: container-parsed frame count + first/last frames read
      * back through the GIF reader. Returns (width, height, nFrames,
      * packed-RGB pixel(0,0) of frame 0, packed-RGB pixel(w-1,h-1) of the
      * last frame).
      */
    def decode(bytes: Array[Byte]): (Int, Int, Int, Int, Int) = {
      val reader = ImageIO.getImageReadersByFormatName("gif").next()
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
      try {
        reader.setInput(iis, false, true)
        val n = reader.getNumImages(true)
        require(n > 0, "GIF container holds no frames")
        val first = reader.read(0)
        val last = reader.read(n - 1)
        val (w, h) = (first.getWidth, first.getHeight)
        (w, h, n, first.getRGB(0, 0) & 0xFFFFFF,
          last.getRGB(w - 1, h - 1) & 0xFFFFFF)
      } finally { reader.dispose(); iis.close() }
    }
  }

  /** Build a media table from the `documents` fixture: image rows carry
    * REAL PNG bytes, audio rows REAL PCM WAVE bytes, video rows REAL
    * multi-frame GIF bytes — each generator a pure function of the text's
    * byte length; kind assigned round-robin on doc_id. Runs as
    * mapPartitions — codecs warm up once per partition, and `ImageIO`'s
    * disk cache is disabled so encode stays in-memory.
    */
  def mediaFromDocuments(docs: DataFrame): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    val kinds = Array("image", "audio", "video")
    val mimes = Array("image/png", "audio/wav", "video/mp4")
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        ImageIO.setUseCache(false) // once per partition: no temp-file cache
        rows.map { case (id, text) =>
          val k = (id % 3).toInt
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val content = k match {
            case 0 => DeterministicPng.encode(bytes.length)
            case 1 => DeterministicWav.encode(bytes.length)
            case _ => DeterministicGif.encode(bytes.length)
          }
          MediaRow(id, kinds(k), mimes(k), content)
        }
      }
  }


  /** Materialize-once media fixture per SF: encoding 5k PNG/WAV/GIF
    * containers is fixture CONSTRUCTION, not query work — four gates each
    * re-encoding the corpus quadruples codec cost for nothing. The binary
    * rows land in parquet under a versioned root with a `_DONE` marker
    * (created only after a successful write); gates read the parquet and
    * pay only the DECODE they are actually gating.
    */
  def materializedMediaDir(spark: SparkSession, sfDir: String): String = {
    // v1: real PNG + WAV + multi-frame GIF content
    val root = graft.streaming.FixtureLock.root(sfDir, "media_v1")
    graft.streaming.FixtureLock.once(root) {
        mediaFromDocuments(
            graft.ops.Tables(spark, sfDir, "documents"))
          .write.mode("overwrite").parquet(root.resolve("rows").toString)
    }
    root.resolve("rows").toString
  }

  /** The materialized media table, typed. */
  def mediaTable(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    spark.read.parquet(materializedMediaDir(spark, sfDir)).as[MediaRow]
  }

  /** Decode + feature-extract via mapPartitions: codec state initializes once
    * per partition; rows stream through without materializing the partition.
    * Image rows go through a REAL `ImageIO.read` of the content bytes.
    */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      ImageIO.setUseCache(false) // real codec init, once per partition
      rows.map { r =>
        if (r.kind == "image") {
          val img = ImageIO.read(new ByteArrayInputStream(r.content))
          require(img != null, s"undecodable image bytes for ${r.media_id}")
          val (w, h) = (img.getWidth, img.getHeight)
          MediaFeatures(r.media_id, r.kind, r.content.length.toLong, w, h,
            n_frames = 1, sample_rate = 0,
            px00 = img.getRGB(0, 0) & 0xFFFFFF,
            px_corner = img.getRGB(w - 1, h - 1) & 0xFFFFFF)
        } else if (r.kind == "audio") {
          // REAL container decode: format fields + first/last PCM samples
          // read back through javax.sound.sampled (px fields carry the
          // signed sample probes for audio rows)
          val (rate, n, s0, sN) = DeterministicWav.decode(r.content)
          MediaFeatures(r.media_id, r.kind, r.content.length.toLong,
            width = 0, height = 0, n_frames = n, sample_rate = rate,
            px00 = s0, px_corner = sN)
        } else {
          // REAL frame-sequence decode: container-parsed frame count +
          // first/last frame pixel probes through the JDK's GIF reader
          val (w, h, frames, px0, pxc) = DeterministicGif.decode(r.content)
          MediaFeatures(r.media_id, r.kind, r.content.length.toLong, w, h,
            frames, sample_rate = 0, px00 = px0, px_corner = pxc)
        }
      }
    }
  }

  /** Resize stage (stub): clamps decoded dims to a bounding box, preserving
    * the metadata flow; a real implementation would transcode `content`.
    */
  def resizeMeta(features: Dataset[MediaFeatures], maxDim: Int): DataFrame =
    features.toDF().select(
      col("media_id"), col("kind"),
      least(col("width"), lit(maxDim)).as("out_width"),
      least(col("height"), lit(maxDim)).as("out_height"))

  /** Frame sampler: every `step`-th frame index per video — explode-based,
    * so sampling is narrow and parallel (no per-video collect).
    */
  def sampleFrames(features: Dataset[MediaFeatures], step: Int): DataFrame =
    features.toDF()
      .filter(col("kind") === "video")
      .select(col("media_id"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(step)))
          .as("frame_idx"))

  /** One decoded frame probe: packed-RGB pixels at (0,0) and (w-1,h-1)
    * of a sampled video frame.
    */
  case class FramePixels(media_id: Long, frame_idx: Int, px00: Int,
                         px_corner: Int)

  /** Per-frame DECODE of every `step`-th frame of each video — the real
    * work [[sampleFrames]]'s index arithmetic stands in front of: each
    * container is opened once per row and only the sampled frames are
    * actually rendered (the GIF reader seeks by frame index). mapPartitions
    * keeps codec init per partition; output is a narrow 4-column frame
    * table, so downstream shuffles never carry the binary payload.
    */
  def sampleFramePixels(media: Dataset[MediaRow],
                        step: Int): Dataset[FramePixels] = {
    import media.sparkSession.implicits._
    media.filter(col("kind") === "video").mapPartitions { rows =>
      ImageIO.setUseCache(false)
      rows.flatMap { r =>
        val reader = ImageIO.getImageReadersByFormatName("gif").next()
        val iis = ImageIO.createImageInputStream(
          new ByteArrayInputStream(r.content))
        try {
          reader.setInput(iis, false, true)
          val n = reader.getNumImages(true)
          (0 until n by step).map { f =>
            val img = reader.read(f)
            FramePixels(r.media_id, f, img.getRGB(0, 0) & 0xFFFFFF,
              img.getRGB(img.getWidth - 1, img.getHeight - 1) & 0xFFFFFF)
          }
        } finally { reader.dispose(); iis.close() }
      }
    }
  }

  /** Summary of one REAL nearest-neighbor resize: pixel count, packed-RGB
    * mass, and the two probe pixels of the resized raster.
    */
  case class ResizedPixels(media_id: Long, n_px: Long, rgb_sum: Long,
                           px00: Int, px_corner: Int)

  /** REAL pixel resize (nearest-neighbor) of every image to
    * `outDim`×`outDim`: the PNG bytes are genuinely decoded and the
    * output raster's pixels are sampled at `(ox·w div outDim,
    * oy·h div outDim)` — the exact arithmetic a NN-downsample kernel
    * performs, summarized as integer mass + probe pixels so the oracle
    * can predict every bit from the generator formula. mapPartitions
    * keeps decoder init per partition; the binary payload never
    * shuffles (output is a 5-column row per image).
    */
  def resizePixels(media: Dataset[MediaRow],
                   outDim: Int): Dataset[ResizedPixels] = {
    import media.sparkSession.implicits._
    media.filter(col("kind") === "image").mapPartitions { rows =>
      ImageIO.setUseCache(false)
      rows.map { r =>
        val img = ImageIO.read(new ByteArrayInputStream(r.content))
        val (w, h) = (img.getWidth, img.getHeight)
        var sum = 0L
        var px00 = 0
        var pxc = 0
        var oy = 0
        while (oy < outDim) {
          val yi = oy * h / outDim
          var ox = 0
          while (ox < outDim) {
            val xi = ox * w / outDim
            val rgb = img.getRGB(xi, yi) & 0xFFFFFF
            sum += rgb
            if (ox == 0 && oy == 0) px00 = rgb
            if (ox == outDim - 1 && oy == outDim - 1) pxc = rgb
            ox += 1
          }
          oy += 1
        }
        ResizedPixels(r.media_id, outDim.toLong * outDim, sum, px00, pxc)
      }
    }
  }

  /** One augmented (center-cropped, flipped, resampled) image raster. */
  case class AugmentedPixels(media_id: Long, crop: Int, n_px: Long,
                             rgb_sum: Long, px00: Int, px_corner: Int)

  /** Training-style image AUGMENTATION over the real PNG decode: center
    * crop to the square min(w,h), horizontal flip, nearest-neighbor
    * resample to `outDim`×`outDim` — the deterministic skeleton of the
    * random-resized-crop + flip pipeline a vision-training data loader
    * runs. Same execution shape as [[resizePixels]]: one JDK codec init
    * per partition inside mapPartitions, bytes never shuffled, the output
    * a narrow per-image summary row. All integer arithmetic (crop
    * offsets and sample coordinates are truncating divisions), so the
    * oracle re-derives every sampled pixel from the generator formula at
    * the flipped coordinates.
    */
  def augmentPixels(media: Dataset[MediaRow],
                    outDim: Int): Dataset[AugmentedPixels] = {
    import media.sparkSession.implicits._
    media.filter(col("kind") === "image").mapPartitions { rows =>
      ImageIO.setUseCache(false)
      rows.map { r =>
        val img = ImageIO.read(new ByteArrayInputStream(r.content))
        val (w, h) = (img.getWidth, img.getHeight)
        val m = math.min(w, h)
        val x0 = (w - m) / 2
        val y0 = (h - m) / 2
        var sum = 0L
        var px00 = 0
        var pxc = 0
        var oy = 0
        while (oy < outDim) {
          val yi = y0 + oy * m / outDim
          var ox = 0
          while (ox < outDim) {
            val xi = x0 + (m - 1) - ox * m / outDim // horizontal flip
            val rgb = img.getRGB(xi, yi) & 0xFFFFFF
            sum += rgb
            if (ox == 0 && oy == 0) px00 = rgb
            if (ox == outDim - 1 && oy == outDim - 1) pxc = rgb
            ox += 1
          }
          oy += 1
        }
        AugmentedPixels(r.media_id, m, outDim.toLong * outDim, sum,
          px00, pxc)
      }
    }
  }

  /** One fixed-size analysis window of a decoded audio stream. */
  case class AudioWindow(media_id: Long, win_idx: Int, n_samples: Int,
                         rms: Double, zero_cross: Int)

  /** Windowed audio features over REAL WAV decode — the RMS-energy +
    * zero-crossing pass a speech/audio curation pipeline runs for
    * silence/noise segmentation. Every container is decoded by the JDK's
    * `javax.sound.sampled` reader inside mapPartitions (codec init per
    * partition, bytes never shuffled; output is a narrow 5-column window
    * table). Cross-engine determinism: the window sum-of-squares is exact
    * 64-bit integer math, and rms = sqrt(ss/n) is two correctly-rounded
    * IEEE ops — bit-identical in any engine, no quantization grid needed.
    */
  def audioWindowFeatures(media: Dataset[MediaRow],
                          win: Int): Dataset[AudioWindow] = {
    import media.sparkSession.implicits._
    media.filter(col("kind") === "audio").mapPartitions { rows =>
      rows.flatMap { r =>
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new ByteArrayInputStream(r.content))
        try {
          val pcm = in.readAllBytes()
          val n = pcm.length / 2
          def at(i: Int): Int = (pcm(i * 2 + 1) << 8) | (pcm(i * 2) & 0xFF)
          (0 until n by win).map { w0 =>
            val end = math.min(w0 + win, n)
            var ss = 0L
            var zc = 0
            var i = w0
            while (i < end) {
              val sm = at(i)
              ss += sm.toLong * sm
              if (i > w0 && (at(i - 1) >= 0) != (sm >= 0)) zc += 1
              i += 1
            }
            AudioWindow(r.media_id, w0 / win, end - w0,
              math.sqrt(ss.toDouble / (end - w0).toDouble), zc)
          }
        } finally in.close()
      }
    }
  }

  /** One spectral-analysis window: the dominant frequency bin of a
    * `bins`-bin integer DFT bank and its power.
    */
  case class SpectralWindow(media_id: Long, win_idx: Int, n_samples: Int,
                            dom_bin: Int, dom_power: Long, total_power: Long)

  /** Grid-quantized DFT twiddles for a 64-phase cycle:
    * `round(cos/sin(2πt/64)·2^20)`. Rendered verbatim into the SQL oracle
    * (shared literals, so cross-engine agreement is by construction, not
    * by libm luck).
    */
  val SpectralCycle = 64
  val SpectralGrid = 1048576L
  lazy val CosGrid: Array[Long] = Array.tabulate(SpectralCycle)(t =>
    Math.round(math.cos(2 * math.Pi * t / SpectralCycle) * SpectralGrid))
  lazy val SinGrid: Array[Long] = Array.tabulate(SpectralCycle)(t =>
    Math.round(math.sin(2 * math.Pi * t / SpectralCycle) * SpectralGrid))

  /** Windowed SPECTRAL features over the REAL WAV decode: per 64-sample
    * window, an integer DFT bank at bins k = 1..`bins` cycles/window, and
    * the dominant bin — the frequency-domain companion of
    * [[audioWindowFeatures]] (RMS says HOW LOUD, this says WHERE the
    * energy lives: tone vs hiss vs speech-band). Everything is exact
    * integer: X_c(k) = Σ_j s_j·cos_grid[(k·j) mod 64] with the 2^-20-grid
    * twiddle table above, powers are squares of the 2^20-truncated
    * components, argmax ties break to the lowest bin. Same mapPartitions
    * decode discipline as the other media passes — one codec init per
    * partition, samples never shuffled, output one narrow row per window.
    */
  def audioSpectralBank(media: Dataset[MediaRow], win: Int,
                        bins: Int): Dataset[SpectralWindow] = {
    import media.sparkSession.implicits._
    require(win == SpectralCycle,
      s"twiddle table is $SpectralCycle-phase; got win=$win")
    media.filter(col("kind") === "audio").mapPartitions { rows =>
      val ct = CosGrid; val st = SinGrid
      rows.flatMap { r =>
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new ByteArrayInputStream(r.content))
        try {
          val pcm = in.readAllBytes()
          val n = pcm.length / 2
          def at(i: Int): Int = (pcm(i * 2 + 1) << 8) | (pcm(i * 2) & 0xFF)
          (0 until n by win).map { w0 =>
            val end = math.min(w0 + win, n)
            val xc = new Array[Long](bins + 1)
            val xs = new Array[Long](bins + 1)
            var i = w0
            while (i < end) {
              val sv = at(i).toLong
              val j = i - w0
              var k = 1
              while (k <= bins) {
                val t = (k * j) % SpectralCycle
                xc(k) += sv * ct(t)
                xs(k) += sv * st(t)
                k += 1
              }
              i += 1
            }
            var domBin = 1; var domPow = Long.MinValue; var tot = 0L
            var k = 1
            while (k <= bins) {
              val c = xc(k) / SpectralGrid; val s = xs(k) / SpectralGrid
              val p = c * c + s * s
              tot += p
              if (p > domPow) { domPow = p; domBin = k }
              k += 1
            }
            SpectralWindow(r.media_id, w0 / win, end - w0, domBin, domPow,
              tot)
          }
        } finally in.close()
      }
    }
  }

  /** 64-bit perceptual hash of a decoded image, split into two signed
    * 32-bit halves so SQL engines never touch the sign bit of a LONG.
    */
  case class PHash(media_id: Long, phash_hi: Long, phash_lo: Long)

  /** Perceptual AVERAGE-HASH over the REAL PNG decode — the near-dup
    * fingerprint for images, complementing the byte-exact [[contentDedup]]
    * (re-encoded or resized copies change every byte but barely move this
    * hash). An 8×8 grid of pixels is sampled at block centers
    * (`(2k+1)·w/16`), summed as integer gray = r+g+b, and each cell's bit
    * is `gray·64 > total` — exact integer cross-multiplication, no
    * division, so both engines compute identical bits. Scale shape: one
    * `mapPartitions` decode pass, 3 longs out per image; the hash is the
    * join/bucket key for any downstream near-dup pass, so the binary
    * column never reaches a shuffle.
    */
  def perceptualHash(media: Dataset[MediaRow]): Dataset[PHash] = {
    import media.sparkSession.implicits._
    media.filter(col("kind") === "image").mapPartitions { rows =>
      ImageIO.setUseCache(false)
      rows.map { r =>
        val img = ImageIO.read(new ByteArrayInputStream(r.content))
        val w = img.getWidth
        val h = img.getHeight
        val gray = new Array[Int](64)
        var tot = 0
        var j = 0
        while (j < 8) {
          var k = 0
          while (k < 8) {
            val px = img.getRGB((2 * k + 1) * w / 16, (2 * j + 1) * h / 16)
            val g = ((px >> 16) & 0xFF) + ((px >> 8) & 0xFF) + (px & 0xFF)
            gray(j * 8 + k) = g
            tot += g
            k += 1
          }
          j += 1
        }
        var lo = 0L
        var hi = 0L
        var i = 0
        while (i < 64) {
          if (gray(i) * 64 > tot) {
            if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
          }
          i += 1
        }
        PHash(r.media_id, hi, lo)
      }
    }
  }

  /** Byte-exact content dedup on the opaque binary column — the
    * content-hash pass every multimodal pipeline runs before any decode
    * (distinct from text dedup: this hashes the RAW bytes, no
    * normalization, so two files differing in one byte are different).
    * One hash shuffle; the binary payload itself never shuffles — only the
    * 16-byte digest does.
    */
  def contentDuplicateGroups(media: Dataset[MediaRow]): DataFrame =
    media.toDF()
      .groupBy(md5(col("content")).as("content_fp"))
      .agg(min(col("media_id")).as("keep_id"),
        count(lit(1)).as("n_copies"))
}
