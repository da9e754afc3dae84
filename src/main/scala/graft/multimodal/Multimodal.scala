package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for training-data pipelines: media payloads
  * travel as opaque `binary` columns with typed metadata; decode /
  * feature-extract run as typed `mapPartitions` stages (the JVM analogue
  * of Pandas-UDF batch processing — one decoder context per partition,
  * streaming iterator, no per-row setup).
  *
  * IMAGES are REALLY decoded via `javax.imageio` (PNG/JPEG/GIF/BMP ship
  * with the JDK). AUDIO metadata is REALLY parsed via
  * `javax.sound.sampled` (WAV/AIFF/AU headers ship with the JDK — no codec
  * needed). VIDEO container metadata is REALLY parsed via a minimal
  * ISO-BMFF (MP4/MOV) box walk (`mp4Meta` — byte-level, JDK-only). Only
  * pixel/codec work remains STUBBED (no ffmpeg in this build): `decodeStub`
  * derives deterministic fake dimensions/features from the bytes, with the
  * same schema, encoders, partition sizing, and batch iteration as the real
  * path — swapping in a JNI/ffmpeg decoder changes one function.
  *
  * Scale note: binary payloads dominate row size, so metadata-only
  * transforms `select` around the binary column and the payload bytes are
  * never shuffled unless the payload itself moves.
  */
object Multimodal {

  final case class MediaRecord(
      media_id: Long,
      kind: String, // image | audio | video
      payload: Array[Byte],
      format: String)

  final case class MediaFeatures(
      media_id: Long,
      kind: String,
      size_bytes: Long,
      width: Int,
      height: Int,
      n_frames: Int,
      feature_hash: Long)

  private def fnv(bytes: Array[Byte]): Long =
    bytes.foldLeft(1469598103934665603L)((acc, b) =>
      (acc ^ (b & 0xffL)) * 1099511628211L) // FNV-1a, deterministic

  /** STUB decoder — deterministic fake of the real codec: dimensions and a
    * feature hash derived from the payload bytes. The audio/video fallback
    * (no codec libraries in this build); the signature and the
    * partition-batch calling convention match the real image path. */
  def decodeStub(r: MediaRecord): MediaFeatures = {
    val h = fnv(r.payload)
    val w = 64 + (math.abs(h) % 1024).toInt
    val ht = 64 + (math.abs(h >> 10) % 1024).toInt
    val frames = if (r.kind == "video") 1 + (math.abs(h >> 20) % 300).toInt else 1
    MediaFeatures(r.media_id, r.kind, r.payload.length.toLong, w, ht, frames, h)
  }

  /** REAL audio metadata via `javax.sound.sampled.AudioSystem` — a pure
    * header parse (WAV/AIFF/AU readers ship with the JDK, no codec needed),
    * mapped into the shared MediaFeatures layout: sample rate (Hz) → width,
    * channels → height, PCM frame count → n_frames. Unparseable payloads
    * fall back to the stub, same contract as the image path. */
  private def decodeAudio(r: MediaRecord): MediaFeatures = {
    val fmt =
      try javax.sound.sampled.AudioSystem.getAudioFileFormat(
        new java.io.ByteArrayInputStream(r.payload))
      catch { case scala.util.control.NonFatal(_) => null }
    if (fmt == null) decodeStub(r)
    else MediaFeatures(r.media_id, r.kind, r.payload.length.toLong,
      fmt.getFormat.getSampleRate.toInt, fmt.getFormat.getChannels,
      math.max(fmt.getFrameLength, 0), // NOT_SPECIFIED (-1) → 0
      fnv(r.payload))
  }

  private def be32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)

  /** Minimal ISO-BMFF (MP4/MOV) container walk — byte-level, JDK-only, no
    * codec: presentation width/height from the first `tkhd` (16.16 fixed
    * point), frame count from the first `stsz` sample count. Returns None
    * (→ stub) on anything that isn't a well-formed ftyp-led box tree,
    * including 64-bit extended sizes (size==1). */
  private def mp4Meta(p: Array[Byte]): Option[(Int, Int, Int)] = {
    val containers = Set("moov", "trak", "mdia", "minf", "stbl")
    var width = 0; var height = 0; var frames = 0
    def walk(from: Long, to: Long): Boolean = { // false = malformed
      var off = from
      while (off + 8 <= to) {
        val size = be32(p, off.toInt)
        val typ = new String(p, off.toInt + 4, 4, "ISO-8859-1")
        if (size < 8 || off + size > to) return false
        if (containers(typ)) { if (!walk(off + 8, off + size)) return false }
        else if (typ == "tkhd" && width == 0) {
          if (size < 9) return false // version byte must be inside the box
          val v = p(off.toInt + 8) & 0xff
          val wOff = off.toInt + 8 + (if (v == 1) 88 else 76)
          if (wOff + 8 > off + size) return false
          width = (be32(p, wOff) >> 16).toInt
          height = (be32(p, wOff + 4) >> 16).toInt
        } else if (typ == "stsz" && frames == 0) {
          if (size < 20) return false
          frames = be32(p, off.toInt + 16).toInt
        }
        off += size
      }
      off == to
    }
    if (p.length < 12 || new String(p, 4, 4, "ISO-8859-1") != "ftyp") None
    else if (!walk(0L, p.length.toLong)) None
    else if (width > 0 && height > 0 && frames > 0) Some((width, height, frames))
    else None
  }

  /** REAL video container metadata: MP4/MOV box-tree parse (`mp4Meta`).
    * Codec/pixel work stays stubbed (no ffmpeg in this build), but
    * dimensions and frame counts come from the actual container. Non-MP4 payloads fall back to the stub. */
  private def decodeVideo(r: MediaRecord): MediaFeatures =
    (try mp4Meta(r.payload) catch { case scala.util.control.NonFatal(_) => None }) match {
      case Some((w, h, frames)) =>
        MediaFeatures(r.media_id, r.kind, r.payload.length.toLong, w, h,
          frames, fnv(r.payload))
      case None => decodeStub(r)
    }

  /** REAL image decode via `javax.imageio` (PNG/JPEG/GIF/BMP ship with the
    * JDK): actual pixel dimensions from the decoded image. Audio goes
    * through the JDK header parse (`decodeAudio`), video through the
    * ISO-BMFF walk (`decodeVideo`); undecodable payloads fall back to the
    * stub. The catch is NonFatal, not just IOException: a corrupt JPEG
    * surfaces as CMMException / IllegalArgumentException from the
    * color-management layer, and one bad row must not kill a 100 TB job. */
  def decode(r: MediaRecord): MediaFeatures =
    if (r.kind == "audio") decodeAudio(r)
    else if (r.kind == "video") decodeVideo(r)
    else if (r.kind != "image") decodeStub(r)
    else {
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
        catch { case scala.util.control.NonFatal(_) => null }
      if (img == null) decodeStub(r)
      else MediaFeatures(r.media_id, r.kind, r.payload.length.toLong,
        img.getWidth, img.getHeight, 1, fnv(r.payload))
    }

  /** Batch feature extraction: one decoder context per partition, rows
    * streamed through it — the mapInPandas/mapPartitions shape. Images are
    * REALLY decoded (ImageIO); audio/video use the deterministic stub. */
  def extractFeatures(ds: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      // codec contexts (ImageIO readers) are JVM-static; a pooled decoder
      // would open here and close after the iterator drains
      it.map(decode)
    }
  }

  /** 64-bit difference hash (dHash) of an image payload — the standard
    * perceptual fingerprint for image near-dup detection: area-average the
    * REAL decoded pixels onto a 9×8 luminance grid, emit one bit per
    * horizontal neighbor pair (left darker ⇒ 1). Re-encodes, resizes, and
    * mild edits move few bits; unrelated images differ in ~32.
    *
    * Exactness: cell comparisons are cross-multiplied integer sums
    * (sum₁·n₂ < sum₂·n₁) — no float averages, so the hash is a pure
    * function of the decoded pixel array. Undecodable payloads → None. */
  def dHash64(r: MediaRecord): Option[Long] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
      catch { case scala.util.control.NonFatal(_) => null }
    if (img == null) None
    else {
      val (gw, gh) = (9, 8)
      val sums = Array.ofDim[Long](gh, gw)
      val cnts = Array.ofDim[Long](gh, gw)
      val (w, h) = (img.getWidth, img.getHeight)
      var y = 0
      while (y < h) {
        val cy = (y.toLong * gh / h).toInt
        var x = 0
        while (x < w) {
          val cx = (x.toLong * gw / w).toInt
          val rgb = img.getRGB(x, y)
          // integer luminance (ITU-R 601 weights ×1000, exact)
          val lum = 299L * ((rgb >> 16) & 0xff) +
            587L * ((rgb >> 8) & 0xff) + 114L * (rgb & 0xff)
          sums(cy)(cx) += lum
          cnts(cy)(cx) += 1
          x += 1
        }
        y += 1
      }
      var bits = 0L
      var i = 0
      for (cy <- 0 until gh; cx <- 0 until gw - 1) {
        // avg(cy,cx) < avg(cy,cx+1), exactly, via cross-multiplication;
        // empty cells (image smaller than the grid) count as 0 luminance
        val l = sums(cy)(cx) * math.max(cnts(cy)(cx + 1), 1L)
        val r2 = sums(cy)(cx + 1) * math.max(cnts(cy)(cx), 1L)
        if (l < r2) bits |= (1L << i)
        i += 1
      }
      Some(bits)
    }
  }

  /** (media_id, dhash) for the decodable images of `ds`. */
  def imageDHashes(ds: Dataset[MediaRecord]): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.flatMap(r => dHash64(r).map(h => (r.media_id, h))))
      .toDF("media_id", "dhash")
  }

  /** Near-dup pairs of 64-bit perceptual hashes by 4×16-bit banding:
    * equi-join on any shared band, verify the exact Hamming distance.
    * Pigeonhole-COMPLETE for maxHamming ≤ 3 (4 bands can't all be touched
    * by ≤ 3 differing bits); the same LSH-banding shape as SimHash text
    * dedup, no all-pairs join anywhere. `hashes` = (media_id, dhash). */
  private def bandedHashPairs(hashes: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4-band blocking is only complete for maxHamming <= 3, got $maxHamming")
    val banded = hashes.select(col("media_id"), col("dhash"),
      explode(expr("transform(sequence(0, 3), " +
        "b -> struct(b AS band, pmod(shiftright(dhash, b * 16), 65536) AS v))"))
        .as("bv"))
      .select(col("media_id"), col("dhash"),
        col("bv.band").as("band"), col("bv.v").as("v"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.v") === col("b.v") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"),
        col("a.dhash").as("ha"), col("b.dhash").as("hb"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        bit_count(expr("ha ^ hb")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Image near-dup pairs: [[dHash64]] + [[bandedHashPairs]]. */
  def imageNearDupes(ds: Dataset[MediaRecord], maxHamming: Int): DataFrame =
    bandedHashPairs(imageDHashes(ds), maxHamming)

  /** 64-bit energy-profile fingerprint of a PCM audio payload — dHash's
    * audio sibling: REALLY decode the samples (`javax.sound.sampled`,
    * WAV/AIFF/AU ship with the JDK), area-sum squared amplitudes onto 65
    * time cells, emit one bit per neighboring-cell energy comparison.
    * Re-encodes and mild trims move few bits; unrelated audio differs in
    * ~32. Same exact-integer posture as dHash: energies are Long sums of
    * sample², comparisons cross-multiplied — a pure function of the PCM
    * array. (The cross-product fits int64 up to ~10^5 samples/cell ≈ 2
    * minutes at 48 kHz; past that it wraps — still deterministic, but
    * window long-form audio first.) Undecodable payloads → None. */
  def audioFingerprint64(r: MediaRecord): Option[Long] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(r.payload))
      try {
        val fmt = in.getFormat
        if (fmt.getSampleSizeInBits != 16) None
        else {
          val bytes = in.readAllBytes()
          val n = bytes.length / 2
          if (n < 2) None
          else {
            val cells = 65
            val sums = new Array[Long](cells)
            val cnts = new Array[Long](cells)
            val bigEndian = fmt.isBigEndian
            var i = 0
            while (i < n) {
              val lo = bytes(2 * i) & 0xff
              val hi = bytes(2 * i + 1) & 0xff
              val s = (if (bigEndian) (lo << 8) | hi else (hi << 8) | lo).toShort
              val c = (i.toLong * cells / n).toInt
              sums(c) += s.toLong * s.toLong
              cnts(c) += 1
              i += 1
            }
            var bits = 0L
            var b = 0
            while (b < 64) {
              val l = sums(b) * math.max(cnts(b + 1), 1L)
              val r2 = sums(b + 1) * math.max(cnts(b), 1L)
              if (l < r2) bits |= (1L << b)
              b += 1
            }
            Some(bits)
          }
        }
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Audio near-dup pairs: [[audioFingerprint64]] + [[bandedHashPairs]]. */
  def audioNearDupes(ds: Dataset[MediaRecord], maxHamming: Int): DataFrame = {
    import ds.sparkSession.implicits._
    bandedHashPairs(
      ds.mapPartitions(_.flatMap(r =>
        audioFingerprint64(r).map(h => (r.media_id, h))))
        .toDF("media_id", "dhash"),
      maxHamming)
  }

  /** A deterministic real PNG: seeded pseudo-random RGB pixels at (w, h). */
  def syntheticPng(seed: Long, w: Int, h: Int): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, rnd.nextInt(0xffffff))
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** A deterministic real WAV: seeded pseudo-random 16-bit PCM samples. */
  def syntheticWav(seed: Long, frames: Int, sampleRate: Float = 8000f,
      channels: Int = 1): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    val data = new Array[Byte](frames * channels * 2) // 16-bit PCM
    rnd.nextBytes(data)
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, channels,
      true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, frames.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** An ISO-BMFF box: 32-bit big-endian size + 4-char type + payload. */
  private def mp4Box(typ: String, payload: Array[Byte]*): Array[Byte] = {
    val body = payload.flatten.toArray
    val buf = java.nio.ByteBuffer.allocate(8 + body.length)
    buf.putInt(8 + body.length).put(typ.getBytes("ISO-8859-1")).put(body)
    buf.array()
  }

  /** A deterministic minimal-but-real MP4: ftyp + moov(trak(tkhd,
    * mdia(minf(stbl(stsz))))) + an mdat of seeded pseudo-random bytes.
    * tkhd carries (w, h) as 16.16 fixed point, stsz the frame count. */
  def syntheticMp4(seed: Long, w: Int, h: Int, frames: Int): Array[Byte] = {
    val tkhd = {
      val b = java.nio.ByteBuffer.allocate(84) // version 0 layout
      b.position(76) // version..matrix are all zero
      b.putInt(w << 16).putInt(h << 16)
      b.array()
    }
    val stsz = {
      val b = java.nio.ByteBuffer.allocate(12)
      b.putInt(0).putInt(1).putInt(frames) // flags, fixed sample_size, count
      b.array()
    }
    val rnd = new scala.util.Random(seed)
    val data = new Array[Byte](64 + rnd.nextInt(512))
    rnd.nextBytes(data)
    mp4Box("ftyp", "isom".getBytes("ISO-8859-1"), new Array[Byte](4),
        "isom".getBytes("ISO-8859-1")) ++
      mp4Box("moov", mp4Box("trak", mp4Box("tkhd", tkhd),
        mp4Box("mdia", mp4Box("minf", mp4Box("stbl", mp4Box("stsz", stsz)))))) ++
      mp4Box("mdat", data)
  }

  /** Synthesize a deterministic media table for tests/benchmarks. Image rows
    * carry REAL PNG payloads, audio rows REAL WAV payloads, and video rows
    * REAL minimal MP4 containers, so every decode path is genuinely
    * exercised end-to-end. */
  def synthetic(spark: SparkSession, n: Int): Dataset[MediaRecord] = {
    import spark.implicits._
    spark.range(n.toLong).map { i =>
      val kind = Seq("image", "audio", "video")(i.toInt % 3)
      if (kind == "image")
        MediaRecord(i, kind,
          syntheticPng(i, 2 + (i % 14).toInt, 2 + (i % 9).toInt), "png")
      else if (kind == "audio")
        MediaRecord(i, kind,
          syntheticWav(i, 64 + (i % 512).toInt,
            channels = 1 + (i % 2).toInt), "wav")
      else
        MediaRecord(i, kind,
          syntheticMp4(i, 160 + (i % 8).toInt * 40, 120 + (i % 6).toInt * 30,
            1 + (i % 300).toInt), "mp4")
    }
  }
}
