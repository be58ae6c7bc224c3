package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Releasable
import graft.util.KernelRun.{inRun, keptRows}

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

/** A multimodal asset: opaque binary payload + typed metadata. */
final case class MediaRow(media_id: Long, kind: String, payload: Array[Byte],
                          width: Int, height: Int, durationMs: Long)

/** Extracted features for one asset. `decodedWidth`/`decodedHeight` come from
  * the actual image decode (0 for non-images), `sampleRateHz` from the actual
  * audio decode (0 for non-audio). */
final case class MediaFeatures(media_id: Long, kind: String, features: Array[Float],
                               frames: Int, decodedBytes: Long,
                               decodedWidth: Int, decodedHeight: Int, sampleRateHz: Int)

/**
 * Multimodal-column pipeline: image/audio/video as opaque `binary` columns
 * with typed metadata, processed batch-wise in `mapPartitions` (the Scala
 * analogue of `mapInPandas` — one iterator per partition, no driver
 * involvement; this is the 100 TB-able shape).
 *
 * Codecs are REAL where the JDK ships one:
 *  - images: PNG encode/decode via `javax.imageio` — decoded dimensions and a
 *    16-bin luminance histogram come from actual pixel data;
 *  - audio: WAV (PCM 16-bit mono) encode/decode via `javax.sound.sampled` —
 *    sample rate and an RMS-energy feature come from actual samples;
 *  - video: multi-frame animated GIF encode/decode via `javax.imageio`'s GIF
 *    reader/writer — frame count, dimensions and per-frame luminance come
 *    from actual decoded frames. (For containers the JDK can't decode —
 *    MP4/WebM — [[decodeVideo]] remains as an honest opaque-payload
 *    fallback; a native decoder would plug into the same pipeline shape.)
 */
object Multimodal {

  // ------------------------------------------------------------------ image

  /** Decode an image payload with ImageIO; returns (width, height, 16-bin
    * L1-normalized luminance histogram). */
  def decodeImage(payload: Array[Byte]): (Int, Int, Array[Float]) = {
    val img = ImageIO.read(new ByteArrayInputStream(payload))
    require(img != null, "not a decodable image payload")
    val bins = new Array[Float](16)
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val rgb = img.getRGB(x, y)
        val lum = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 + (rgb & 0xFF) * 114) / 1000
        bins(lum >> 4) += 1f
        x += 1
      }
      y += 1
    }
    val total = math.max(1f, (img.getWidth * img.getHeight).toFloat)
    (img.getWidth, img.getHeight, bins.map(_ / total))
  }

  /** Encode a deterministic RGB image (pixels are a pure function of
    * (seed, x, y)) as real PNG bytes. */
  def encodePng(seed: Long, w: Int, h: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, (graft.gen.SyntheticRepoFiles.mix(seed, x.toLong, y.toLong) & 0xFFFFFF).toInt)
        x += 1
      }
      y += 1
    }
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  // ------------------------------------------------------------------ audio

  private val WavFormat = new AudioFormat(8000f, 16, 1, true, false)

  /** Encode deterministic 16-bit mono PCM samples as a real WAV container. */
  def encodeWav(seed: Long, nSamples: Int): Array[Byte] = {
    val pcm = new Array[Byte](nSamples * 2)
    var i = 0
    while (i < nSamples) {
      val s = (graft.gen.SyntheticRepoFiles.mix(seed, i.toLong) & 0xFFFF).toShort
      pcm(2 * i) = (s & 0xFF).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
      i += 1
    }
    val out = new ByteArrayOutputStream()
    val ais = new AudioInputStream(new ByteArrayInputStream(pcm), WavFormat, nSamples.toLong)
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Decode a WAV payload; returns (sampleRateHz, nSamples, 16-bin feature
    * vector: RMS energy over 16 equal time slices, normalized). */
  def decodeWav(payload: Array[Byte]): (Int, Long, Array[Float]) = {
    val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
    val fmt = ais.getFormat
    val bytes = ais.readAllBytes()
    val n = bytes.length / 2
    val bins = new Array[Double](16)
    var i = 0
    while (i < n) {
      val s = ((bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xFF)).toDouble / 32768.0
      bins(math.min(15, i * 16 / math.max(1, n))) += s * s
      i += 1
    }
    val perSlice = math.max(1.0, n / 16.0)
    (fmt.getSampleRate.toInt, n.toLong, bins.map(b => math.sqrt(b / perSlice).toFloat))
  }

  // ------------------------------------------------------------------ video

  /** Frame sampler over the typed duration metadata: one frame every
    * `everyMs`, capped. Used to SIZE the synthetic clips; the pipeline's
    * frame count comes from the actual GIF decode. */
  def sampleFrameCount(durationMs: Long, everyMs: Long = 1000L, cap: Int = 32): Int =
    math.min(cap, math.max(1, (durationMs / math.max(1L, everyMs)).toInt))

  /** Video fallback features for non-GIF containers: 16-bin byte histogram of
    * the (opaque) payload, L1-normalized — honest container-level stats, not
    * a pixel decode (the JDK ships no MP4/WebM codec). */
  def decodeVideo(payload: Array[Byte]): Array[Float] = {
    val bins = new Array[Float](16)
    var i = 0
    while (i < payload.length) { bins((payload(i) & 0xFF) >> 4) += 1f; i += 1 }
    val total = math.max(1f, payload.length.toFloat)
    bins.map(_ / total)
  }

  /** Encode a deterministic multi-frame (animated) GIF — the JDK's one real
    * multi-frame video container (`ImageIO` GIF writer supports
    * `writeToSequence`). Pixels are a pure function of (seed, frame, x, y). */
  def encodeGif(seed: Long, w: Int, h: Int, frames: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val writer = ImageIO.getImageWritersBySuffix("gif").next()
    val ios = ImageIO.createImageOutputStream(out)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < frames) {
        val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            img.setRGB(x, y,
              (graft.gen.SyntheticRepoFiles.mix(seed, f.toLong, x.toLong, y.toLong) & 0xFFFFFF).toInt)
            x += 1
          }
          y += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        f += 1
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    out.toByteArray
  }

  /** Decode a multi-frame GIF payload: (width, height, frameCount, 16-bin
    * luminance histogram averaged over ALL decoded frames) — a REAL per-frame
    * pixel decode via ImageIO's GIF reader. */
  def decodeGif(payload: Array[Byte]): (Int, Int, Int, Array[Float]) = {
    val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(payload))
    val readers = ImageIO.getImageReaders(iis)
    require(readers.hasNext, "not a decodable video (GIF) payload")
    val reader = readers.next()
    try {
      reader.setInput(iis, false, true)
      val n = reader.getNumImages(true)
      require(n > 0, "video payload contains no frames")
      val bins = new Array[Float](16)
      var w = 0; var h = 0
      var pixels = 0L
      var f = 0
      while (f < n) {
        val img = reader.read(f)
        if (f == 0) { w = img.getWidth; h = img.getHeight }
        pixels += img.getWidth.toLong * img.getHeight
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val rgb = img.getRGB(x, y)
            val lum = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 + (rgb & 0xFF) * 114) / 1000
            bins(lum >> 4) += 1f
            x += 1
          }
          y += 1
        }
        f += 1
      }
      // normalize by the ACTUAL decoded pixel count, not w*h*n: this decode
      // path serves any ImageIO-claimed container, and frame-optimized GIFs
      // (or other multi-size sequences) have later frames smaller than the
      // first — w*h*n would break the histogram's sums-to-1 invariant
      val total = math.max(1f, pixels.toFloat)
      (w, h, n, bins.map(_ / total))
    } finally { reader.dispose(); iis.close() }
  }

  // --------------------------------------------------------------- pipeline

  /** One quarantined media row (decode failure) — same per-element error
    * isolation contract as MineJob's manifest quarantine (T3): a corrupt
    * payload never fails the job. */
  final case class MediaQuarantine(media_id: Long, kind: String, errorClass: String,
                                   message: String, payloadBytes: Long)

  /** Feature extraction over binary media columns — batch-shaped, partition-
    * local, no driver involvement. Images and audio run REAL decodes
    * (ImageIO / AudioSystem). Throws on a corrupt payload; use
    * [[extractFeaturesIsolated]] for the quarantine-shaped production path. */
  def extractFeatures(spark: SparkSession, media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.mapPartitions(it => it.map(decodeOne))
  }

  /** Both isolated outputs read one decode pass, kept rows built by one
    * count, so every payload is decoded once however the sides are read. */
  final class IsolatedFeatures(val features: Dataset[MediaFeatures],
                               val quarantine: Dataset[MediaQuarantine],
                               free: () => Unit) extends Releasable(free)

  /** Feature extraction with per-element error isolation: decode failures
    * become quarantine rows on a side output instead of failing the job —
    * the same Either-shape as MineJob.run. Call `.release()` on the result
    * once both sides are consumed (frees the shared decode pass). */
  def extractFeaturesIsolated(spark: SparkSession, media: Dataset[MediaRow])
      : IsolatedFeatures = inRun(spark, "features") { run =>
    import spark.implicits._
    val results = media.mapPartitions { it =>
      it.map { m =>
        try (Some(decodeOne(m)), Option.empty[MediaQuarantine])
        catch {
          case e: Exception =>
            (Option.empty[MediaFeatures], Some(MediaQuarantine(m.media_id, m.kind,
              e.getClass.getSimpleName, Option(e.getMessage).getOrElse("").take(200),
              m.payload.length.toLong)))
        }
      }
    }.localCheckpoint(false)
    keptRows(run.handOff(results.toDF())).get.count()
    new IsolatedFeatures(results.flatMap(_._1), results.flatMap(_._2), run.release)
  }

  private def decodeOne(m: MediaRow): MediaFeatures = m.kind match {
    case "image" =>
      val (w, h, feats) = decodeImage(m.payload)
      MediaFeatures(m.media_id, m.kind, feats, 1, m.payload.length.toLong, w, h, 0)
    case "audio" =>
      val (rate, _, feats) = decodeWav(m.payload)
      MediaFeatures(m.media_id, m.kind, feats, 1, m.payload.length.toLong, 0, 0, rate)
    case _ =>
      // Container triage, not exception-driven: if an ImageIO reader CLAIMS
      // the payload (GIF), decode it for real and let a corrupt-but-claimed
      // payload THROW into the T3 quarantine — swallowing that error would
      // report a truncated GIF as successfully processed. Only containers
      // no reader claims (MP4/WebM — no JDK codec) take the honest opaque
      // fallback: byte-histogram features + metadata-driven frame sampling.
      if (hasImageReader(m.payload)) {
        val (w, h, frames, feats) = decodeGif(m.payload)
        MediaFeatures(m.media_id, m.kind, feats, frames, m.payload.length.toLong, w, h, 0)
      } else {
        MediaFeatures(m.media_id, m.kind, decodeVideo(m.payload),
          sampleFrameCount(m.durationMs), m.payload.length.toLong, 0, 0, 0)
      }
  }

  /** Does any registered ImageIO reader claim this payload's format? */
  private def hasImageReader(payload: Array[Byte]): Boolean = {
    val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(payload))
    try ImageIO.getImageReaders(iis).hasNext finally iis.close()
  }

  /** Deterministic synthetic media table derived from the documents table:
    * REAL PNG payloads for images, REAL WAV payloads for audio, REAL animated
    * GIFs for video. Sized tiny (8–23 px sides, ≤400 samples, ≤32 frames) so
    * the per-row cost is codec-path exercise, not bulk. The metadata rules
    * (dims, sample rate, frame count as pure doc_id arithmetic) are mirrored
    * by the q42 DuckDB oracle, which therefore certifies each codec's
    * encode→decode round-trip end-to-end. */
  def syntheticMedia(spark: SparkSession, docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)].map { case (id, _) =>
      (id % 3) match {
        case 0 =>
          val w = 8 + (id % 16).toInt; val h = 8 + (id % 12).toInt
          MediaRow(id, "image", encodePng(id, w, h), w, h, 0L)
        case 1 =>
          val n = 100 + (id % 300).toInt
          MediaRow(id, "audio", encodeWav(id, n), 0, 0, n * 1000L / 8000L)
        case _ =>
          val durationMs = 1000L * (1 + id % 90)
          val w = 8 + (id % 8).toInt; val h = 8 + (id % 6).toInt
          MediaRow(id, "video", encodeGif(id, w, h, sampleFrameCount(durationMs)),
            width = w, height = h, durationMs = durationMs)
      }
    }
  }
}
