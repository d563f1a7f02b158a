package graft.multimodal

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Typed media metadata carried beside the opaque payload. */
case class MediaMeta(width: Int, height: Int, channels: Int,
    sample_rate: Int, duration_ms: Long)

case class MediaRow(media_id: Long, kind: String, bytes: Array[Byte],
    meta: MediaMeta)

case class MediaFeatures(media_id: Long, kind: String, n_bytes: Long,
    features: Array[Float])

case class FrameRow(media_id: Long, frame_idx: Int, frame_bytes: Array[Byte])

/** F-family: multimodal columns — image/audio/video as opaque binary
  * with typed metadata.
  *
  * IMAGE decode is REAL: the JDK's own `javax.imageio` ships PNG/JPEG/
  * GIF/BMP readers in every standard JDK and is headless-safe, so
  * [[decodeImage]] reads actual pixels inside the batched
  * mapPartitions path ([[imagePixelStats]]) with zero external
  * dependencies. Audio/video (and any byte payload ImageIO cannot
  * parse) fall back to the deterministic [[fakeDecode]] stub — the
  * no-codec fallback a production pipeline would swap for ffmpeg.
  * Everything around the kernels — schema, typed Dataset plumbing,
  * per-partition batching (the mapInPandas batch shape),
  * frame-sampling explode, resize metadata contract — is shared by
  * both paths.
  */
object MultimodalOps {

  val FeatureDim = 16

  // -----------------------------------------------------------------
  // Codec-plumbing cost model (r16, guide §1.2 "per-task work" + §4.5
  // "initialise heavyweight state once"): the JDK's convenience entry
  // points hide two per-CALL costs that dominate these kernels at any
  // scale — (a) ImageIO stream factories default to DISK-backed caches
  // (every ImageIO.read/write/createImage*Stream creates, fills and
  // deletes a temp FILE), and (b) every read/write re-scans the
  // service-provider registry to pick a codec. Both are pure plumbing:
  // decoded pixels/encoded bytes are bit-identical with memory-cached
  // streams and a directly-instantiated codec, so the oracle-pinned
  // roundtrip proofs are untouched. The SPIs are stateless factories
  // (JVM-wide, thread-safe); reader/writer INSTANCES are stateful and
  // stay per-call.

  /** Disable ImageIO's temp-file stream cache once per JVM (executor
    * JVMs included — kernels call this from inside the partition
    * iterator). Reading the flag is a static boolean — free per row.
    */
  @inline private[multimodal] def ensureNoDiskCache(): Unit =
    if (javax.imageio.ImageIO.getUseCache) javax.imageio.ImageIO.setUseCache(false)

  private def readerSpiFor(fmt: String): javax.imageio.spi.ImageReaderSpi = {
    val it = javax.imageio.ImageIO.getImageReadersByFormatName(fmt)
    require(it.hasNext, s"JDK $fmt reader missing")
    it.next().getOriginatingProvider
  }
  private def writerSpiFor(fmt: String): javax.imageio.spi.ImageWriterSpi = {
    val it = javax.imageio.ImageIO.getImageWritersByFormatName(fmt)
    require(it.hasNext, s"JDK $fmt writer missing")
    it.next().getOriginatingProvider
  }
  private lazy val pngReaderSpi = readerSpiFor("png")
  private lazy val pngWriterSpi = writerSpiFor("png")
  private lazy val gifReaderSpi = readerSpiFor("gif")
  private lazy val gifWriterSpi = writerSpiFor("gif")

  private def memIn(bytes: Array[Byte]): javax.imageio.stream.ImageInputStream =
    new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))

  /** Decode bytes via the REAL codec path with the per-call plumbing
    * hoisted: the expected format's cached SPI sniffs the magic bytes
    * first (exactly the test the registry scan would run); any payload
    * it does not recognise falls back to the full generic registry
    * scan, so arbitrary/hostile bytes behave as before.
    */
  private def readImage(bytes: Array[Byte],
      expected: javax.imageio.spi.ImageReaderSpi): java.awt.image.BufferedImage = {
    ensureNoDiskCache()
    val iis = memIn(bytes)
    if (expected.canDecodeInput(iis)) {
      val reader = expected.createReaderInstance()
      try { reader.setInput(iis); reader.read(0) }
      finally reader.dispose()
    } else {
      iis.close()
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    }
  }

  /** No-codec FALLBACK (was the only decode path before ImageIO was
    * wired in): deterministic bytes -> feature vector. Still the
    * kernel for audio/video payloads and for bytes no installed
    * reader recognises; [[mediaFeatures]] keeps it oracle-pinned.
    */
  def fakeDecode(bytes: Array[Byte]): Array[Float] = {
    val out = new Array[Float](FeatureDim)
    var h = 1125899906842597L
    var i = 0
    while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
    var d = 0
    while (d < FeatureDim) {
      val x = h ^ (0x9e3779b97f4a7c15L * (d + 1))
      out(d) = ((x % 1000L) / 1000.0).toFloat
      d += 1
    }
    out
  }

  /** Media table synthesized from documents: payload = utf-8 text bytes
    * (opaque stand-in), kind round-robins image/audio/video.
    */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("n_chars"))
      .as[(Long, String, Long)]
      .map { case (id, text, n) =>
        val kind = (id % 3) match {
          case 0 => "image"; case 1 => "audio"; case _ => "video"
        }
        MediaRow(id, kind, text.getBytes("UTF-8"),
          MediaMeta(width = 64 + (id % 4).toInt * 32,
            height = 64 + (id % 3).toInt * 32,
            channels = 3, sample_rate = 16000, duration_ms = n * 10))
      }
  }

  /** Feature extraction over batched partitions — the Spark-side shape
    * of a mapInPandas/Arrow pipeline: one kernel invocation per
    * partition iterator, not per row.
    */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        MediaFeatures(m.media_id, m.kind, m.bytes.length.toLong,
          fakeDecode(m.bytes))
      }
    }
  }

  /** Frame sampling: one row per sampled frame (every `stride`-th),
    * explode stays executor-local (no shuffle). Payloads ImageIO can
    * parse (the [[videoTable]] animated GIFs) yield REAL decoded
    * frames — frame_bytes is the frame's packed RGB raster, row-major
    * (w·h·3 bytes, deterministic). Unrecognised/corrupt payloads fall
    * back to the stride-slice stub — the no-codec fallback, same
    * contract as [[fakeDecode]].
    */
  def sampleFrames(media: Dataset[MediaRow], stride: Int): Dataset[FrameRow] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "video").flatMap { m =>
      decodeGifFrames(m.bytes) match {
        case Some(frames) if frames.nonEmpty =>
          (0 until frames.length by stride).map { f =>
            val img = frames(f)
            val w = img.getWidth; val h = img.getHeight
            val px = img.getRGB(0, 0, w, h, null, 0, w)
            val rgb = new Array[Byte](w * h * 3)
            var i = 0
            while (i < px.length) {
              val p = px(i); val o = i * 3
              rgb(o) = ((p >> 16) & 0xFF).toByte
              rgb(o + 1) = ((p >> 8) & 0xFF).toByte
              rgb(o + 2) = (p & 0xFF).toByte
              i += 1
            }
            FrameRow(m.media_id, f, rgb)
          }
        case _ =>
          val nFrames = math.max(1, (m.meta.duration_ms / 1000L).toInt)
          (0 until nFrames by stride).map { f =>
            // no-codec fallback: slice of payload stands in for pixels
            val start = math.min(f * 8, math.max(0, m.bytes.length - 8))
            FrameRow(m.media_id, f,
              java.util.Arrays.copyOfRange(m.bytes, start,
                math.min(start + 8, m.bytes.length)))
          }
      }
    }
  }

  /** Resize contract: pure metadata transform (a real kernel would
    * also rewrite bytes); keeps aspect-ratio bookkeeping honest.
    */
  def resizeMeta(media: Dataset[MediaRow], targetW: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.map { m =>
      val scale = targetW.toDouble / m.meta.width
      m.copy(meta = m.meta.copy(width = targetW,
        height = math.max(1, math.round(m.meta.height * scale).toInt)))
    }
  }

  /** Per-media decoded features as scalar columns (f0..f15) — the
    * oracle-checked face of the decode plumbing: the DuckDB oracle
    * replicates fakeDecode's 31-polynomial hash + xor/mod arithmetic,
    * so a hash match proves the batched decode path end-to-end
    * (synthesis → mapPartitions kernel → schema) bit-for-bit.
    */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val feats = extractFeatures(mediaTable(spark, dir)).toDF()
    feats.select(
      col("media_id") +: col("kind") +: col("n_bytes") +:
      (0 until FeatureDim).map(i =>
        element_at(col("features"), i + 1).as(s"f$i")): _*)
      .orderBy("media_id")
  }

  /** Summary DataFrame (used as a rows-only verify query). */
  def mediaFeatureStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    extractFeatures(mediaTable(spark, dir))
      .groupBy(col("kind"))
      .agg(count(lit(1)).cast(LongType).as("n"),
        sum(col("n_bytes")).cast(LongType).as("total_bytes"))
      .orderBy("kind")
  }

  // ---------------------------------------------------------------
  // Real image decode (F6): javax.imageio — no external libraries.

  /** Decoded image: dimensions + exact per-channel pixel sums (Longs,
    * order-independent, bit-reproducible by any engine that can
    * enumerate the pixel grid).
    */
  case class ImageStats(media_id: Long, width: Long, height: Long,
      n_pixels: Long, sum_r: Long, sum_g: Long, sum_b: Long)

  /** Deterministic pixel function for the synthesized corpus: channel
    * values are pure arithmetic in (id, x, y), so an external oracle
    * can compute every image's exact channel sums WITHOUT a codec —
    * which is what makes the REAL encode→decode roundtrip
    * hash-checkable end-to-end.
    */
  @inline def pixelR(id: Long, x: Int, y: Int): Int = ((id * 7 + x * 3 + y * 5) % 256).toInt
  @inline def pixelG(id: Long, x: Int, y: Int): Int = ((id * 11 + x * 13 + y * 17) % 256).toInt
  @inline def pixelB(id: Long, x: Int, y: Int): Int = ((id * 19 + x * 23 + y * 29) % 256).toInt
  @inline def imgW(id: Long): Int = 8 + (id % 5).toInt
  @inline def imgH(id: Long): Int = 8 + (id % 3).toInt

  /** Synthesize the PNG payload for one media id (real ImageIO PNG
    * encoder; lossless, so decode must return the exact pixels).
    */
  def synthPng(id: Long): Array[Byte] = {
    val w = imgW(id); val h = imgH(id)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y,
          (pixelR(id, x, y) << 16) | (pixelG(id, x, y) << 8) | pixelB(id, x, y))
        x += 1
      }
      y += 1
    }
    // real PNG encoder via the cached SPI + memory-cached stream —
    // identical bytes to ImageIO.write(img, "png", bos) without the
    // per-call registry scan and temp-file cache
    ensureNoDiskCache()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    val writer = pngWriterSpi.createWriterInstance()
    writer.setOutput(ios)
    writer.write(img)
    writer.dispose()
    ios.close()
    bos.toByteArray
  }

  /** REAL decode: parse the payload with the JDK's ImageIO readers and
    * fold the pixel grid into exact channel sums. Returns None when no
    * installed reader recognises the bytes OR a reader recognises the
    * format but the payload is corrupt (ImageIO.read THROWS IOException
    * for a recognised-but-truncated body rather than returning null) —
    * either way the caller falls back to [[fakeDecode]].
    */
  def decodeImage(bytes: Array[Byte]): Option[(Int, Int, Long, Long, Long)] = try {
    val img = readImage(bytes, pngReaderSpi)
    if (img == null) None
    else {
      val w = img.getWidth; val h = img.getHeight
      // ONE bulk conversion instead of w·h getRGB calls — same default-
      // sRGB values per pixel by definition, without the per-call
      // color-model dispatch
      val px = img.getRGB(0, 0, w, h, null, 0, w)
      var sr = 0L; var sg = 0L; var sb = 0L
      var i = 0
      while (i < px.length) {
        val rgb = px(i)
        sr += (rgb >> 16) & 0xFF; sg += (rgb >> 8) & 0xFF; sb += rgb & 0xFF
        i += 1
      }
      Some((w, h, sr, sg, sb))
    }
  } catch {
    case _: java.io.IOException => None
  }

  // ---------------------------------------------------------------
  // Real audio decode (F7): javax.sound.sampled — also pure JDK.

  /** Deterministic 16-bit PCM sample function (pure arithmetic in
    * (id, i), SQL-replicable — the audio twin of [[pixelR]]).
    */
  @inline def sampleAmp(id: Long, i: Int): Int =
    ((id * 31 + i * 7) % 65536).toInt - 32768
  @inline def nSamples(id: Long): Int = 800 + (id % 5).toInt * 100

  /** The JDK's WAVE AudioFileWriter/AudioFileReader providers, loaded
    * once per JVM through the public ServiceLoader SPI — the same
    * instances AudioSystem selects, minus AudioSystem's PER-CALL
    * provider iteration (which tries AIFF/AU first and uses their
    * UnsupportedAudioFileException throws as control flow — two
    * stack-trace fills per decoded row). Encoder/decoder classes and
    * produced bytes are identical; None (or a writer that rejects the
    * stream) → fall back to AudioSystem.
    */
  private lazy val wavWriter: Option[javax.sound.sampled.spi.AudioFileWriter] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileWriter])
      .asScala.find(_.isFileTypeSupported(
        javax.sound.sampled.AudioFileFormat.Type.WAVE))
  }
  private lazy val wavReader: Option[javax.sound.sampled.spi.AudioFileReader] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .asScala.find(_.getClass.getSimpleName.startsWith("Wave"))
  }

  /** Synthesize the WAV payload for one media id through the REAL
    * javax.sound.sampled encoder (16 kHz mono signed 16-bit PCM,
    * little-endian; PCM is lossless, so decode must return the exact
    * samples).
    */
  def synthWav(id: Long): Array[Byte] = synthWav(id, wavWriter)

  private[graft] def synthWav(id: Long,
      writer: Option[javax.sound.sampled.spi.AudioFileWriter]): Array[Byte] = {
    val n = nSamples(id)
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = sampleAmp(id, i)
      pcm(i * 2) = (s & 0xFF).toByte
      pcm(i * 2 + 1) = ((s >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(16000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val wave = javax.sound.sampled.AudioFileFormat.Type.WAVE
    val bos = new java.io.ByteArrayOutputStream()
    // a writer that rejects the format throws before reading the
    // stream; AudioSystem then tries every provider
    val written = writer.exists { w =>
      try { w.write(ais, wave, bos); true }
      catch { case _: IllegalArgumentException => bos.reset(); false }
    }
    if (!written) javax.sound.sampled.AudioSystem.write(ais, wave, bos)
    bos.toByteArray
  }

  /** REAL decode: parse the container with the JDK's AudioSystem and
    * fold the PCM frames into exact amplitude stats. Returns None for
    * bytes no installed reader recognises AND for a recognised-but-
    * malformed RIFF body (AudioSystem throws IOException there, not
    * UnsupportedAudioFileException) — both fall back to fakeDecode.
    */
  def decodeAudio(bytes: Array[Byte]): Option[(Long, Long, Long, Long)] =
    try {
      // cached WAVE provider first; anything it rejects retries the
      // full AudioSystem scan, so non-WAV payloads behave as before
      val ais = wavReader match {
        case Some(r) =>
          try r.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
          catch { case _: javax.sound.sampled.UnsupportedAudioFileException =>
            javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(bytes))
          }
        case None => javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
      }
      val fmt = ais.getFormat
      require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
        !fmt.isBigEndian, s"unexpected PCM layout: $fmt")
      val pcm = ais.readAllBytes()
      val n = pcm.length / 2
      var sum = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
      var i = 0
      while (i < n) {
        val s = ((pcm(i * 2) & 0xFF) | (pcm(i * 2 + 1) << 8)).toShort.toLong
        sum += s; if (s < mn) mn = s; if (s > mx) mx = s
        i += 1
      }
      Some((n.toLong, sum, mn, mx))
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException => None
      case _: java.io.IOException => None
    }

  /** F7: real decoded amplitude statistics — the audio twin of
    * [[imagePixelStats]]: synthesize a WAV per audio id (kind = audio,
    * id % 3 = 1), push it through the REAL AudioSystem decode inside
    * one batched mapPartitions pass, emit exact sample counts +
    * amplitude sums/extrema + double mean. The oracle computes the
    * same stats analytically from the sample function, so a hash
    * match proves the PCM roundtrip preserved every sample.
    */
  def audioSampleStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stats = Tables.documents(spark, dir)
      .select(col("doc_id")).where(col("doc_id") % 3 === 1)
      .as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val wav = synthWav(id)
          val (n, sum, mn, mx) = decodeAudio(wav).getOrElse(
            throw new IllegalStateException(
              s"JDK WAV reader missing for media $id"))
          (id, n, sum, mn, mx)
        }
      }.toDF("media_id", "n_samples", "sum_amp", "min_amp", "max_amp")
    stats.select(col("media_id"), col("n_samples"), col("sum_amp"),
        col("min_amp"), col("max_amp"),
        (col("sum_amp").cast("double") / col("n_samples")).as("mean_amp"))
      .orderBy("media_id")
  }

  // ---------------------------------------------------------------
  // Real video decode (F8): multi-frame animated GIF via the same
  // javax.imageio — the JDK's one genuinely multi-frame container
  // (it cannot parse MP4), so "video = sequence of decoded frames"
  // is exercised for real: synth writes N frames through the GIF
  // encoder, decode reads them back frame by frame.

  /** Deterministic per-frame palette-index function (pure arithmetic
    * in (id, frame, x, y) — the video twin of [[pixelR]]).
    */
  @inline def vidIdx(id: Long, f: Int, x: Int, y: Int): Int =
    ((id * 7 + f * 37 + x * 3 + y * 5) % 256).toInt
  @inline def nFrames(id: Long): Int = 3 + (id % 4).toInt

  /** Fixed 256-entry palette mapping index v → exact RGB — arithmetic
    * in v, so an external oracle recovers every channel without a
    * codec. GIF stores the palette verbatim and the frames are
    * already indexed, so the encode→decode roundtrip is lossless.
    */
  @inline def palR(v: Int): Int = v
  @inline def palG(v: Int): Int = 255 - v
  @inline def palB(v: Int): Int = (v * 7 + 13) % 256

  // one palette object per JVM (read-only after construction)
  private lazy val gifPalette: java.awt.image.IndexColorModel = {
    val r = Array.tabulate(256)(i => palR(i).toByte)
    val g = Array.tabulate(256)(i => palG(i).toByte)
    val b = Array.tabulate(256)(i => palB(i).toByte)
    new java.awt.image.IndexColorModel(8, 256, r, g, b)
  }

  /** Synthesize the animated-GIF payload for one media id through the
    * REAL ImageIO GIF writer: [[nFrames]] indexed frames appended
    * with writeToSequence.
    */
  def synthGif(id: Long): Array[Byte] = {
    ensureNoDiskCache()
    val w = imgW(id); val h = imgH(id); val icm = gifPalette
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    val writer = gifWriterSpi.createWriterInstance()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var f = 0
    while (f < nFrames(id)) {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { raster.setSample(x, y, 0, vidIdx(id, f, x, y)); x += 1 }
        y += 1
      }
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      f += 1
    }
    writer.endWriteSequence()
    writer.dispose()
    ios.close()
    bos.toByteArray
  }

  /** REAL multi-frame decode: every frame of a GIF payload as decoded
    * images. None when no reader recognises the bytes or the body is
    * corrupt — same fallback contract as [[decodeImage]].
    */
  def decodeGifFrames(bytes: Array[Byte]): Option[Seq[java.awt.image.BufferedImage]] =
    try {
      ensureNoDiskCache()
      val iis = memIn(bytes)
      // cached-SPI magic-byte sniff first (the exact canDecodeInput test
      // the registry scan runs); non-GIF payloads take the generic scan
      // as before, so the None-fallback contract is unchanged
      val reader =
        if (gifReaderSpi.canDecodeInput(iis)) gifReaderSpi.createReaderInstance()
        else {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) null else readers.next()
        }
      if (reader == null) None
      else {
        reader.setInput(iis)
        val n = reader.getNumImages(true)
        val out = (0 until n).map(reader.read)
        reader.dispose()
        Some(out)
      }
    } catch {
      case _: java.io.IOException => None
    }

  /** F8: real decoded video statistics — synthesize an animated GIF
    * per video id (kind = video, id % 3 = 2), decode EVERY frame with
    * the REAL ImageIO reader in one batched mapPartitions pass, fold
    * frames into exact channel sums (frame count × per-frame grids).
    * The oracle computes the same sums analytically from
    * [[vidIdx]]/the palette, so a hash match proves the multi-frame
    * roundtrip preserved every pixel of every frame. Same scale shape
    * as F6: per-partition decode, payloads never leave their executor.
    */
  def videoFrameStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stats = Tables.documents(spark, dir)
      .select(col("doc_id")).where(col("doc_id") % 3 === 2)
      .as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val frames = decodeGifFrames(synthGif(id)).getOrElse(
            throw new IllegalStateException(
              s"JDK GIF reader missing for media $id"))
          var sr = 0L; var sg = 0L; var sb = 0L; var np = 0L
          frames.foreach { img =>
            val w = img.getWidth; val h = img.getHeight
            np += w.toLong * h
            // bulk conversion (one call per frame): identical per-pixel
            // values to getRGB(x, y), minus the per-call palette-model
            // dispatch on the indexed GIF raster
            val px = img.getRGB(0, 0, w, h, null, 0, w)
            var i = 0
            while (i < px.length) {
              val rgb = px(i)
              sr += (rgb >> 16) & 0xFF; sg += (rgb >> 8) & 0xFF
              sb += rgb & 0xFF
              i += 1
            }
          }
          (id, frames.length.toLong, imgW(id).toLong, imgH(id).toLong,
            np, sr, sg, sb)
        }
      }.toDF("media_id", "n_frames", "width", "height", "n_pixels",
        "sum_r", "sum_g", "sum_b")
    stats.select(col("media_id"), col("n_frames"), col("width"),
        col("height"), col("n_pixels"), col("sum_r"), col("sum_g"),
        col("sum_b"),
        (col("sum_r").cast("double") / col("n_pixels")).as("mean_r"))
      .orderBy("media_id")
  }

  /** The media table with REAL video payloads: video rows carry the
    * per-id animated GIF (image/audio keep the opaque text bytes the
    * fakeDecode oracle pins). duration_ms encodes the frame count at
    * 1 fps so the [[sampleFrames]] stride contract stays meaningful.
    */
  def videoTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    mediaTable(spark, dir).map { m =>
      if (m.kind != "video") m
      else m.copy(bytes = synthGif(m.media_id),
        meta = m.meta.copy(width = imgW(m.media_id),
          height = imgH(m.media_id),
          duration_ms = nFrames(m.media_id) * 1000L))
    }
  }

  /** F6: real decoded pixel statistics — synthesize a PNG per image id
    * (kind = image, id % 3 = 0), push it through the REAL
    * ImageIO decode inside one batched mapPartitions pass, and emit
    * exact dimensions + channel sums + double means. Per-partition
    * work only (no shuffle before the final sort); payloads never
    * leave the executor that synthesized them — at 100 TB the encode
    * would be a parquet binary column scan and the decode shape is
    * identical.
    */
  /** 56-bit difference hash over a decoded image's top-left 8×8
    * window: g = (r+g+b)/3 integer grayscale, bit(x,y) = [g(x+1,y) >
    * g(x,y)] for x<7, y<8 — the classic dHash, sized to the smallest
    * synthesized image (every image is ≥8×8). Pure integer ops on the
    * REAL decoded pixels, so the DuckDB oracle replicates it from the
    * analytic pixel functions (the F6 roundtrip proof makes decoded ==
    * analytic).
    */
  def dHash56(img: java.awt.image.BufferedImage): Long = {
    // one bulk fetch of the 8×8 window (identical values to per-pixel
    // getRGB; every synthesized image is ≥8×8)
    val px = img.getRGB(0, 0, 8, 8, null, 0, 8)
    def g(x: Int, y: Int): Int = {
      val p = px(y * 8 + x)
      (((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) + (p & 0xFF)) / 3
    }
    var v = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 7) {
        if (g(x + 1, y) > g(x, y)) v |= 1L << (y * 7 + x)
        x += 1
      }
      y += 1
    }
    v
  }

  /** dHash the payload bytes through the real codec — None when no
    * installed reader recognises them or the payload is corrupt.
    * This kernel is the first decode fed ARBITRARY incoming bytes
    * (E36), so it catches every non-fatal throwable: JDK decoders
    * raise RuntimeExceptions (IllegalArgument, CMM, index bounds) on
    * recognized-but-malformed bodies, and a narrow IOException catch
    * would turn one hostile payload into a streaming poison pill
    * (crash → restart → re-read the same file → crash).
    */
  def dHashBytes(bytes: Array[Byte]): Option[Long] =
    try {
      Option(readImage(bytes, pngReaderSpi)).map(dHash56)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The 4 × 14-bit band explode shared by F9 and the E36 stream face
    * (one banding definition, no drift): appends (band_id, band_val)
    * rows to any frame carrying a `dhash` column.
    */
  private[graft] def withDHashBands(df: DataFrame): DataFrame =
    df.select(df.columns.map(col) :+
      posexplode(array((0 until 4).map(b =>
        shiftright(col("dhash"), 14 * b).bitwiseAND(lit(16383L))): _*))
        .as(Seq("band_id", "band_val")): _*)

  /** Standing-corpus dHash band index (images OUTSIDE the doc_id % 10
    * = 7 incoming split — the E15 convention): the static side of the
    * E36 stream-static join, memoized per session.
    */
  private[graft] def standingImageBands(spark: SparkSession, dir: String): DataFrame =
    graft.Memo.df(spark, s"imageBands:$dir") {
      import spark.implicits._
      val hashes = Tables.documents(spark, dir)
        .select(col("doc_id"))
        .where(col("doc_id") % 3 === 0 && col("doc_id") % 10 =!= 7)
        .as[Long]
        .mapPartitions(_.map { id =>
          val img = readImage(synthPng(id), pngReaderSpi)
          if (img == null) throw new IllegalStateException(
            s"JDK PNG reader missing for media $id")
          (id, dHash56(img))
        }).toDF("media_id", "dhash")
      withDHashBands(hashes)
        .select(col("band_id"), col("band_val"),
          col("media_id").as("b_id"), col("dhash").as("dh_b"))
    }

  /** F9: perceptual image near-dup — dHash56 per decoded image, LSH
    * banding (4 × 14-bit bands: hamming ≤ 3 pairs ALWAYS share a
    * band — pigeonhole, the D4 SimHash design), exact Hamming verify
    * ≤ τ on band cohabitants. The multimodal member of the dedup
    * family: candidates via the banded self-join (never O(n²)), the
    * hash kernel per-partition over the real codec path.
    */
  def imageDedup(spark: SparkSession, dir: String, tau: Int = 6): DataFrame = {
    import spark.implicits._
    val hashes = Tables.documents(spark, dir)
      .select(col("doc_id")).where(col("doc_id") % 3 === 0)
      .as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val img = readImage(synthPng(id), pngReaderSpi)
          if (img == null) throw new IllegalStateException(
            s"JDK PNG reader missing for media $id")
          (id, dHash56(img))
        }
      }.toDF("media_id", "dhash")
    val banded = withDHashBands(hashes)
    val a = banded.select(col("band_id"), col("band_val"),
      col("media_id").as("a_id"), col("dhash").as("dh_a"))
    val b = banded.select(col("band_id"), col("band_val"),
      col("media_id").as("b_id"), col("dhash").as("dh_b"))
    a.join(b, Seq("band_id", "band_val"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id", "dh_a", "dh_b").distinct()
      .withColumn("hamming",
        bit_count(col("dh_a").bitwiseXOR(col("dh_b"))).cast("long"))
      .filter(col("hamming") <= tau)
      .select("a_id", "b_id", "hamming")
      .orderBy("a_id", "b_id")
  }

  def imagePixelStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stats = Tables.documents(spark, dir)
      .select(col("doc_id")).where(col("doc_id") % 3 === 0)
      .as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val png = synthPng(id)
          val (w, h, sr, sg, sb) = decodeImage(png).getOrElse(
            throw new IllegalStateException(
              s"JDK PNG reader missing for media $id"))
          ImageStats(id, w.toLong, h.toLong, w.toLong * h, sr, sg, sb)
        }
      }.toDF()
    stats.select(col("media_id"), col("width"), col("height"),
        col("n_pixels"), col("sum_r"), col("sum_g"), col("sum_b"),
        (col("sum_r").cast("double") / col("n_pixels")).as("mean_r"),
        (col("sum_g").cast("double") / col("n_pixels")).as("mean_g"),
        (col("sum_b").cast("double") / col("n_pixels")).as("mean_b"))
      .orderBy("media_id")
  }
}
