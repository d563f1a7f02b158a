package graft

import graft.multimodal.MultimodalOps
import org.apache.spark.sql.functions._

class MultimodalSpec extends GraftSpec {

  test("media table carries opaque bytes + typed metadata") {
    val m = MultimodalOps.mediaTable(spark, Sf)
    val row = m.filter(_.media_id == 0).head()
    assert(row.kind == "image")
    assert(row.bytes.nonEmpty)
    assert(row.meta.channels == 3)
  }

  test("feature extraction is deterministic and fixed-width") {
    val f1 = MultimodalOps.extractFeatures(MultimodalOps.mediaTable(spark, Sf))
      .filter(_.media_id < 10).collect().sortBy(_.media_id)
    val f2 = MultimodalOps.extractFeatures(MultimodalOps.mediaTable(spark, Sf))
      .filter(_.media_id < 10).collect().sortBy(_.media_id)
    assert(f1.forall(_.features.length == MultimodalOps.FeatureDim))
    f1.zip(f2).foreach { case (a, b) =>
      assert(a.features.toSeq == b.features.toSeq)
    }
  }

  test("frame sampling yields strided frames for videos only") {
    val frames = MultimodalOps.sampleFrames(
      MultimodalOps.mediaTable(spark, Sf), stride = 2)
    val kinds = frames.toDF().select("media_id").distinct()
      .join(MultimodalOps.mediaTable(spark, Sf).toDF(), "media_id")
      .select("kind").distinct().collect().map(_.getString(0)).toSet
    assert(kinds == Set("video"))
    val idx = frames.filter(_.media_id == 2).collect().map(_.frame_idx).sorted
    assert(idx.zipWithIndex.forall { case (f, i) => f == i * 2 })
  }

  test("resize keeps aspect bookkeeping") {
    val resized = MultimodalOps.resizeMeta(
      MultimodalOps.mediaTable(spark, Sf), targetW = 32)
    resized.collect().foreach { m =>
      assert(m.meta.width == 32 && m.meta.height >= 1)
    }
  }

  test("real PNG roundtrip: ImageIO decode returns the exact synthesized pixels") {
    for (id <- Seq(0L, 3L, 42L, 123L)) {
      val png = MultimodalOps.synthPng(id)
      // PNG magic: the payload is a real encoded image, not a stub
      assert((png(0) & 0xFF) == 0x89 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G')
      val Some((w, h, sr, sg, sb)) = MultimodalOps.decodeImage(png)
      assert(w == MultimodalOps.imgW(id) && h == MultimodalOps.imgH(id))
      var er = 0L; var eg = 0L; var eb = 0L
      for (y <- 0 until h; x <- 0 until w) {
        er += MultimodalOps.pixelR(id, x, y)
        eg += MultimodalOps.pixelG(id, x, y)
        eb += MultimodalOps.pixelB(id, x, y)
      }
      assert((sr, sg, sb) == ((er, eg, eb)),
        s"channel sums drifted through the codec for id=$id")
      // channel means (the query's reported statistics) follow exactly
      assert(sr.toDouble / (w * h) == er.toDouble / (w * h))
    }
    // bytes no installed reader recognises -> None -> fakeDecode fallback
    assert(MultimodalOps.decodeImage("not an image".getBytes("UTF-8")).isEmpty)
  }

  test("real WAV roundtrip: AudioSystem decode returns the exact synthesized samples") {
    for (id <- Seq(1L, 4L, 43L, 124L)) {
      val wav = MultimodalOps.synthWav(id)
      // RIFF magic: a real encoded container, not a stub
      assert(wav(0) == 'R' && wav(1) == 'I' && wav(2) == 'F' && wav(3) == 'F')
      val Some((n, sum, mn, mx)) = MultimodalOps.decodeAudio(wav)
      assert(n == MultimodalOps.nSamples(id).toLong)
      var es = 0L; var emn = Long.MaxValue; var emx = Long.MinValue
      for (i <- 0 until MultimodalOps.nSamples(id)) {
        val s = MultimodalOps.sampleAmp(id, i).toLong
        es += s; emn = math.min(emn, s); emx = math.max(emx, s)
      }
      assert((sum, mn, mx) == ((es, emn, emx)),
        s"amplitude stats drifted through the codec for id=$id")
    }
    assert(MultimodalOps.decodeAudio("not audio".getBytes("UTF-8")).isEmpty)
  }

  test("WAV encode falls back to AudioSystem when the chosen writer rejects 16-bit PCM") {
    import scala.jdk.CollectionConverters._
    // the JDK's float WAVE writer also reports WAVE support, but only
    // takes PCM_FLOAT streams
    val float = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileWriter]).asScala
      .find(_.getClass.getSimpleName == "WaveFloatFileWriter")
    assert(float.isDefined)
    for (id <- Seq(1L, 43L))
      assert(MultimodalOps.synthWav(id, float).sameElements(MultimodalOps.synthWav(id)))
  }

  test("real animated-GIF roundtrip: every frame of every id survives the codec") {
    for (id <- Seq(2L, 5L, 11L)) {
      val frames = MultimodalOps.decodeGifFrames(MultimodalOps.synthGif(id))
        .getOrElse(fail(s"JDK GIF reader did not parse synthGif($id)"))
      assert(frames.length == MultimodalOps.nFrames(id))
      frames.zipWithIndex.foreach { case (img, f) =>
        assert(img.getWidth == MultimodalOps.imgW(id) &&
          img.getHeight == MultimodalOps.imgH(id))
        for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
          val v = MultimodalOps.vidIdx(id, f, x, y)
          val rgb = img.getRGB(x, y)
          assert(((rgb >> 16) & 0xFF) == MultimodalOps.palR(v) &&
            ((rgb >> 8) & 0xFF) == MultimodalOps.palG(v) &&
            (rgb & 0xFF) == MultimodalOps.palB(v),
            s"pixel ($x,$y) frame $f id $id drifted through the codec")
        }
      }
    }
    // unrecognised and recognised-but-truncated payloads both take the
    // documented None fallback (no throw)
    assert(MultimodalOps.decodeGifFrames("not a gif".getBytes("UTF-8")).isEmpty)
    assert(MultimodalOps.decodeGifFrames(
      MultimodalOps.synthGif(2L).take(20)).forall(_.isEmpty))
  }

  test("sampleFrames decodes REAL frames from video payloads, strided") {
    val frames = MultimodalOps
      .sampleFrames(MultimodalOps.videoTable(spark, Sf), 2).collect()
    assert(frames.nonEmpty)
    frames.foreach { fr =>
      val id = fr.media_id
      assert(id % 3 == 2 && fr.frame_idx % 2 == 0)
      val w = MultimodalOps.imgW(id); val h = MultimodalOps.imgH(id)
      assert(fr.frame_bytes.length == w * h * 3,
        s"frame_bytes is not a packed RGB raster for id=$id")
      val v = MultimodalOps.vidIdx(id, fr.frame_idx, 0, 0)
      assert((fr.frame_bytes(0) & 0xFF) == MultimodalOps.palR(v) &&
        (fr.frame_bytes(1) & 0xFF) == MultimodalOps.palG(v) &&
        (fr.frame_bytes(2) & 0xFF) == MultimodalOps.palB(v))
    }
    frames.groupBy(_.media_id).foreach { case (id, fs) =>
      assert(fs.length == (MultimodalOps.nFrames(id) + 1) / 2,
        s"stride-2 sample count wrong for id=$id")
    }
  }

  test("media_image_stats: distributed decode matches per-image analytic sums") {
    val rows = MultimodalOps.imagePixelStats(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("media_id")
      assert(id % 3 == 0)
      assert(r.getAs[Long]("width") == MultimodalOps.imgW(id).toLong)
      assert(r.getAs[Long]("n_pixels") ==
        r.getAs[Long]("width") * r.getAs[Long]("height"))
      // spot-check one image's sums against the pixel function
      if (id == 0L) {
        var er = 0L
        for (y <- 0 until MultimodalOps.imgH(id); x <- 0 until MultimodalOps.imgW(id))
          er += MultimodalOps.pixelR(id, x, y)
        assert(r.getAs[Long]("sum_r") == er)
      }
    }
  }

  test("media_image_dedup: pigeonhole recall at <=3, no pair above tau") {
    // ground truth from the pure kernel over the synthesized codecs
    val ids = Tables.documents(spark, Sf)
      .select(col("doc_id")).where(col("doc_id") % 3 === 0)
      .collect().map(_.getLong(0)).sorted
    val hs = ids.map { id =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(MultimodalOps.synthPng(id)))
      id -> MultimodalOps.dHash56(img)
    }.toMap
    val all = for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      h = java.lang.Long.bitCount(hs(a) ^ hs(b))
    } yield ((a, b), h)
    val got = MultimodalOps.imageDedup(spark, Sf).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")) ->
        r.getAs[Long]("hamming")).toMap
    // soundness: every emitted pair has the true hamming, <= tau
    got.foreach { case (p, h) =>
      assert(h <= 6L)
      assert(all.toMap.apply(p).toLong == h, s"hamming mismatch $p")
    }
    // guaranteed recall: hamming <= 3 pairs MUST share one of the 4
    // 14-bit bands (pigeonhole) and so must all be emitted
    val close = all.filter(_._2 <= 3).map(_._1)
    close.foreach(p => assert(got.contains(p), s"missed close pair $p"))
    assert(close.nonEmpty, "fixture has no close pairs to prove recall on")
  }
}
