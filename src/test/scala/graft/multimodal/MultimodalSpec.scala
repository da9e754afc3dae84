package graft.multimodal

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {

  test("a known 2x2 PNG really decodes to (2, 2) via ImageIO") {
    val png = Multimodal.syntheticPng(seed = 7, w = 2, h = 2)
    // PNG magic bytes prove this is a real encoded file, not a fake
    png.take(4).map(_ & 0xff).toSeq shouldBe Seq(0x89, 0x50, 0x4e, 0x47)
    val f = Multimodal.decode(Multimodal.MediaRecord(1L, "image", png, "png"))
    f.width shouldBe 2
    f.height shouldBe 2
    f.n_frames shouldBe 1
  }

  test("feature extraction decodes real image dimensions per-partition") {
    val ds = Multimodal.synthetic(spark, 30)
    val a = Multimodal.extractFeatures(ds).orderBy("media_id").collect()
    val b = Multimodal.extractFeatures(Multimodal.synthetic(spark, 30))
      .orderBy("media_id").collect()
    a should have length 30
    a.map(_.feature_hash).toSeq shouldBe b.map(_.feature_hash).toSeq
    all(a.map(_.size_bytes)) should be > 0L
    // image rows (media_id % 3 == 0) carry real PNGs at 2+(i%14) × 2+(i%9)
    a.filter(_.kind == "image").foreach { f =>
      f.width shouldBe 2 + (f.media_id % 14).toInt
      f.height shouldBe 2 + (f.media_id % 9).toInt
    }
  }

  test("a real WAV header parses to sample rate, channels, and frame count") {
    val wav = Multimodal.syntheticWav(seed = 3, frames = 200,
      sampleRate = 16000f, channels = 2)
    // RIFF/WAVE magic proves this is a real container, not a fake
    wav.take(4).map(_.toChar).mkString shouldBe "RIFF"
    wav.slice(8, 12).map(_.toChar).mkString shouldBe "WAVE"
    val f = Multimodal.decode(Multimodal.MediaRecord(2L, "audio", wav, "wav"))
    f.width shouldBe 16000 // sample rate Hz
    f.height shouldBe 2 // channels
    f.n_frames shouldBe 200 // PCM frames
    f.size_bytes shouldBe wav.length.toLong
  }

  test("unparseable audio payloads fall back to the stub") {
    val junk = Array.fill[Byte](96)(0x33)
    val bad = Multimodal.MediaRecord(9L, "audio", junk, "bin")
    Multimodal.decode(bad) shouldBe Multimodal.decodeStub(bad)
  }

  test("a real MP4 box tree parses to dimensions and frame count") {
    val mp4 = Multimodal.syntheticMp4(seed = 5, w = 640, h = 480, frames = 120)
    // ftyp box magic proves this is a real ISO-BMFF container
    mp4.slice(4, 8).map(_.toChar).mkString shouldBe "ftyp"
    val f = Multimodal.decode(Multimodal.MediaRecord(5L, "video", mp4, "mp4"))
    f.width shouldBe 640
    f.height shouldBe 480
    f.n_frames shouldBe 120
    f.size_bytes shouldBe mp4.length.toLong
  }

  test("non-MP4 video payloads fall back to the stub") {
    val junk = Array.fill[Byte](128)(0x44)
    val bad = Multimodal.MediaRecord(8L, "video", junk, "bin")
    Multimodal.decode(bad) shouldBe Multimodal.decodeStub(bad)
    // truncated box tree (claims more bytes than exist) also degrades
    val truncated = Multimodal.syntheticMp4(1, 64, 64, 10).dropRight(40)
    val t = Multimodal.MediaRecord(8L, "video", truncated, "mp4")
    Multimodal.decode(t) shouldBe Multimodal.decodeStub(t)
  }

  test("corrupt image payloads fall back to the stub instead of killing the job") {
    // PNG magic + garbage body: the decoder rejects it (return-null or a
    // thrown exception depending on where parsing dies — the catch is
    // NonFatal because e.g. a corrupt JPEG surfaces as CMMException, not
    // IOException); either way one bad row must degrade, not propagate
    val garbage = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      Array.fill[Byte](64)(0x5a)
    val bad = Multimodal.MediaRecord(7L, "image", garbage, "png")
    val f = Multimodal.decode(bad)
    f shouldBe Multimodal.decodeStub(bad) // stub fallback, no exception
  }

  test("dHash64: exact dups collide, resizes stay near, unrelated far") {
    def smooth(seed: Long, w: Int, h: Int): Array[Byte] = {
      // low-frequency deterministic image: dHash survives resampling on
      // structure, not noise
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = (math.sin(x * 0.4 + seed) + math.cos(y * 0.3 + seed * 0.7) + 2) / 4
        val g = (v * 255).toInt.max(0).min(255)
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    def rec(id: Long, bytes: Array[Byte]) =
      Multimodal.MediaRecord(id, "image", bytes, "png")
    val base = smooth(1, 40, 30)
    val h0 = Multimodal.dHash64(rec(0L, base)).get
    Multimodal.dHash64(rec(1L, base)).get shouldBe h0 // exact dup
    // bilinear resize of the same image: few gradient bits move
    def resized(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes)), 0, 0, w, h, null)
      g.dispose()
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val hr = Multimodal.dHash64(rec(2L, resized(base, 27, 20))).get
    java.lang.Long.bitCount(h0 ^ hr) should be <= 3
    // a different image is far
    val other = Multimodal.dHash64(rec(3L, smooth(99, 40, 30))).get
    java.lang.Long.bitCount(h0 ^ other) should be > 10
    // undecodable payload yields no hash, not a crash
    Multimodal.dHash64(rec(4L, Array[Byte](1, 2, 3))) shouldBe None
  }

  test("imageNearDupes: banded blocking finds planted dup + resize pairs") {
    import spark.implicits._
    def noise(seed: Long) = Multimodal.syntheticPng(seed, 24, 18)
    val originals = (0L until 40L).map(i =>
      Multimodal.MediaRecord(i, "image", noise(i), "png"))
    val dups = Seq(Multimodal.MediaRecord(1000L, "image", noise(7), "png"),
      Multimodal.MediaRecord(1001L, "image", noise(13), "png"))
    val pairs = Multimodal.imageNearDupes(
        (originals ++ dups).toDS(), maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs shouldBe Set((7L, 1000L), (13L, 1001L))
  }

  test("audioFingerprint64: dup WAVs collide, different audio far, junk None") {
    val a = Multimodal.MediaRecord(1L, "audio",
      Multimodal.syntheticWav(5L, 400), "wav")
    val b = Multimodal.MediaRecord(2L, "audio",
      Multimodal.syntheticWav(5L, 400), "wav")
    val other = Multimodal.MediaRecord(3L, "audio",
      Multimodal.syntheticWav(77L, 400), "wav")
    val ha = Multimodal.audioFingerprint64(a).get
    Multimodal.audioFingerprint64(b).get shouldBe ha
    java.lang.Long.bitCount(
      ha ^ Multimodal.audioFingerprint64(other).get) should be > 10
    Multimodal.audioFingerprint64(
      Multimodal.MediaRecord(4L, "audio", Array[Byte](9, 9), "wav")) shouldBe None
  }
}
