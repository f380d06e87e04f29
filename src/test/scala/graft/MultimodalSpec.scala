package graft

import org.apache.spark.sql.Row
import graft.ops.Multimodal

/** Multimodal plumbing: binary columns survive the round trip, the image
  * decoder reads REAL PNG/JPEG headers (javax.imageio), the audio decoder
  * reads REAL WAV headers (javax.sound.sampled), the video decoder reads
  * REAL MP4/ISO-BMFF container headers (hand-assembled boxes, duration
  * and track dims pinned), frame sampling slices deterministically.
  */
class MultimodalSpec extends SparkSpec {

  import spark.implicits._

  /** A length-prefixed ISO-BMFF box: [u32 size]["abcd"][payload]. */
  private def box(tpe: String, payload: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
    bb.putInt(8 + payload.length)
    bb.put(tpe.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    bb.put(payload)
    bb.array
  }

  /** Minimal valid MP4: `ftyp` + `moov{mvhd, trak{tkhd}}` assembled by
    * hand from the ISO 14496-12 box layouts — the decoder under test must
    * recover duration (mvhd timescale+duration) and the track's 16.16
    * fixed-point width/height from these exact offsets. `w = h = 0`
    * models an audio-only track (tkhd dims are zero there).
    */
  private def mp4Bytes(timescale: Int, durTicks: Int, w: Int, h: Int)
      : Array[Byte] = {
    val mvhd = java.nio.ByteBuffer.allocate(100) // v0 fullbox payload
    mvhd.putInt(0)                // version 0 + flags
    mvhd.putInt(0).putInt(0)      // creation/modification
    mvhd.putInt(timescale).putInt(durTicks)
    val tkhd = java.nio.ByteBuffer.allocate(84)  // v0 fullbox payload
    tkhd.putInt(0)                               // version 0 + flags
    tkhd.putInt(0).putInt(0).putInt(1).putInt(0).putInt(durTicks)
    tkhd.position(4 + 20 + 16 + 36)              // skip layer…matrix
    tkhd.putInt(w << 16).putInt(h << 16)
    val ftypPayload =
      "isom".getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++
        Array[Byte](0, 0, 0, 0)
    box("ftyp", ftypPayload) ++
      box("moov", box("mvhd", mvhd.array) ++
        box("trak", box("tkhd", tkhd.array)))
  }

  /** Real PNG bytes of a w×h image, via the JDK's own encoder — the
    * decoder under test must recover the true dimensions from them. */
  private def pngBytes(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, rgb)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Real WAV bytes (16-bit mono PCM) via the JDK's own writer — the
    * header decoder under test must recover rate and duration from them. */
  private def wavBytes(sampleRate: Float, frames: Int): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(new Array[Byte](frames * 2)),
      fmt, frames.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  private def mediaDf = {
    val rows = Seq(
      Row(1L, "image", pngBytes(640, 480, 0x336699), Row("image/png", "s1")),
      Row(2L, "image", pngBytes(32, 32, 0xff0000), Row("image/png", "s2")),
      Row(3L, "video", Array.fill(40)(3: Byte), Row("video/mp4", "s1")),
      Row(4L, "audio", wavBytes(8000f, 4000), Row("audio/wav", "s4")),
      Row(5L, "image", Array.fill(16)(1: Byte), Row("image/png", "s3")))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Multimodal.mediaSchema)
  }

  test("decodeFeatures reads true dimensions from real PNG bytes") {
    val feats = Multimodal.decodeFeatures(mediaDf).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(feats(1L).getInt(3) === 640 && feats(1L).getInt(4) === 480)
    assert(feats(2L).getInt(3) === 32 && feats(2L).getInt(4) === 32)
    assert(feats(3L).isNullAt(3)) // video: not a parseable MP4 → no dims
    assert(feats(4L).getInt(2) > 0) // n_bytes present for every kind
    assert(feats(5L).isNullAt(3)) // corrupt "image": no reader claims it
    // audio: real WAV header decode — 4000 frames @ 8 kHz = 500 ms
    assert(feats(4L).getInt(5) === 8000 && feats(4L).getLong(6) === 500L)
    assert(feats(1L).isNullAt(5)) // image rows carry no audio fields
    // checksum is deterministic across runs
    val again = Multimodal.decodeFeatures(mediaDf).collect()
      .map(r => r.getLong(0) -> r.getLong(8)).toMap
    assert(feats.map { case (k, v) => k -> v.getLong(8) } === again)
  }

  test("audio decode reads WAV headers and rejects non-audio bytes") {
    assert(Multimodal.audioInfo(wavBytes(44100f, 22050)) ===
      (Some(44100), Some(500L)))
    assert(Multimodal.audioInfo(Array.fill(12)(5: Byte)) === (None, None))
    assert(Multimodal.audioInfo(Array.emptyByteArray) === (None, None))
  }

  test("video decode reads true MP4 duration and track dims (r12 verdict #3)") {
    // 90000-tick timescale (the common media clock), 5.5 s of ticks,
    // 640×360 presentation: all three recovered from the planted boxes
    assert(Multimodal.videoInfo(mp4Bytes(90000, 495000, 640, 360)) ===
      (Some(640), Some(360), Some(5500L)))
    // audio-only track (tkhd dims zero): duration still parses, no dims
    assert(Multimodal.videoInfo(mp4Bytes(1000, 2000, 0, 0)) ===
      (None, None, Some(2000L)))
    // a trailing-moov layout (mdat first) parses by SKIPPING mdat via its
    // length prefix — the walker never reads the sample payload
    val trailing = box("mdat", Array.fill(4096)(7: Byte)) ++
      mp4Bytes(1000, 1500, 320, 240).drop(16) // drop ftyp, keep moov
    assert(Multimodal.videoInfo(trailing) ===
      (Some(320), Some(240), Some(1500L)))
    // version-1 mvhd (64-bit times/duration) at its widened offsets
    val mvhd1 = java.nio.ByteBuffer.allocate(112)
    mvhd1.putInt(0x01000000)            // version 1 + flags
    mvhd1.putLong(0L).putLong(0L)       // creation/modification (u64)
    mvhd1.putInt(600).putLong(1200L)    // timescale u32, duration u64
    assert(Multimodal.videoInfo(box("moov", box("mvhd", mvhd1.array))) ===
      (None, None, Some(2000L)))
    // garbage / truncated / empty bytes degrade to None, never throw
    assert(Multimodal.videoInfo(Array.fill(40)(3: Byte)) ===
      (None, None, None))
    assert(Multimodal.videoInfo(mp4Bytes(1000, 2000, 64, 64).take(30)) ===
      (None, None, None))
    assert(Multimodal.videoInfo(Array.emptyByteArray) === (None, None, None))
    // zero timescale cannot divide
    assert(Multimodal.videoInfo(mp4Bytes(0, 2000, 64, 64))._3 === None)
  }

  test("decodeFeatures routes video blobs through the MP4 parser") {
    val rows = Seq(
      Row(10L, "video", mp4Bytes(90000, 450000, 1280, 720),
        Row("video/mp4", "s1")),
      Row(11L, "video", Array.fill(64)(9: Byte), Row("video/mp4", "s2")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Multimodal.mediaSchema)
    val feats = Multimodal.decodeFeatures(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(feats(10L).getInt(3) === 1280 && feats(10L).getInt(4) === 720)
    assert(feats(10L).getLong(6) === 5000L)
    assert(feats(10L).isNullAt(5)) // video rows carry no sample_rate
    assert(feats(11L).isNullAt(3) && feats(11L).isNullAt(6)) // non-MP4
  }

  test("image decode also understands JPEG bytes") {
    val img = new java.awt.image.BufferedImage(
      48, 24, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    assert(Multimodal.imageDims(out.toByteArray) === (Some(48), Some(24)))
  }

  test("EXIF orientation: crafted APP1 parsed under both byte orders; malformed bytes degrade") {
    // minimal JPEG: SOI + APP1(Exif / TIFF / IFD0 with two entries —
    // a decoy tag then Orientation=6) + EOI
    def exifJpeg(littleEndian: Boolean, orientation: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(64)
        .order(if (littleEndian) java.nio.ByteOrder.LITTLE_ENDIAN
               else java.nio.ByteOrder.BIG_ENDIAN)
      // TIFF header (offsets relative to this buffer)
      bb.put((if (littleEndian) "II" else "MM").getBytes)
      bb.putShort(42.toShort)
      bb.putInt(8) // IFD0 at offset 8
      bb.putShort(2.toShort) // two entries
      // decoy entry: ImageWidth (0x0100), LONG
      bb.putShort(0x0100.toShort).putShort(4.toShort).putInt(1).putInt(99)
      // Orientation (0x0112), SHORT, count 1, value in first 2 bytes
      bb.putShort(0x0112.toShort).putShort(3.toShort).putInt(1)
      bb.putShort(orientation.toShort).putShort(0.toShort)
      val tiff = java.util.Arrays.copyOf(bb.array(), bb.position())
      val payload = "Exif".getBytes ++ Array[Byte](0, 0) ++ tiff
      val segLen = payload.length + 2
      Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe1.toByte,
        (segLen >> 8).toByte, (segLen & 0xff).toByte) ++ payload ++
        Array[Byte](0xff.toByte, 0xd9.toByte)
    }
    assert(Multimodal.exifOrientation(exifJpeg(littleEndian = true, 6))
      === Some(6))
    assert(Multimodal.exifOrientation(exifJpeg(littleEndian = false, 8))
      === Some(8))
    // out-of-range orientation value is rejected, not passed through
    assert(Multimodal.exifOrientation(exifJpeg(littleEndian = true, 9))
      === None)
    // JPEG without APP1 (straight to EOI), non-JPEG, truncated: None
    assert(Multimodal.exifOrientation(
      Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xd9.toByte))
      === None)
    assert(Multimodal.exifOrientation(Array.fill(32)(7: Byte)) === None)
    assert(Multimodal.exifOrientation(
      exifJpeg(littleEndian = true, 6).take(12)) === None)
    assert(Multimodal.exifOrientation(Array.emptyByteArray) === None)
    // a JDK-written JPEG (no EXIF) yields None through decodeFeatures,
    // and the crafted EXIF JPEG yields its orientation
    val img = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    val rows = Seq(
      Row(20L, "image", out.toByteArray, Row("image/jpeg", "s")),
      Row(21L, "image", exifJpeg(littleEndian = true, 6),
        Row("image/jpeg", "s")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), Multimodal.mediaSchema)
    val feats = Multimodal.decodeFeatures(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(feats(20L).isNullAt(7))
    assert(feats(21L).getInt(7) === 6)
  }

  test("averageHash: lossless round-trip, hand-computed hash, RGB luma, tiny-image nulls") {
    import graft.ops.Multimodal
    // PNG is lossless: decode(encode(p)) == p exactly
    val px = Array.tabulate(256)(i => (i * 37 + 11) % 256)
    val rt = Multimodal.decodeGray(Multimodal.encodeGrayPng(px, 16, 16))
    assert(rt.map(_._1) === Some(16) && rt.map(_._2) === Some(16))
    assert(rt.get._3.toSeq === px.toSeq)
    // 8x8 column ramp (1x1 boxes): pixel(x,y)=30x, mean=105, bits set
    // where 30x > 105 -> columns 4..7 -> 0xF0 per row-byte both halves
    val ramp = Array.tabulate(64)(i => (i % 8) * 30)
    val df = Seq((1L, Multimodal.encodeGrayPng(ramp, 8, 8)))
      .toDF("media_id", "content")
    val got = Multimodal.averageHash(df)
      .as[(Long, Option[Int], Option[Int], Option[Long], Option[Long])]
      .collect().head
    assert(got === ((1L, Some(8), Some(8), Some(0xF0F0F0F0L),
      Some(0xF0F0F0F0L))))
    // RGB branch: pure red -> BT.601 luma 299*255 div 1000 = 76
    val rgb = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8) rgb.setRGB(x, y, 0xff0000)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(rgb, "png", bos)
    val red = Multimodal.decodeGray(bos.toByteArray).get
    assert(red._3.forall(_ == 76))
    // flat image: no cell exceeds the mean -> hash (0, 0)
    val flat = Multimodal.averageHash(
        Seq((2L, bos.toByteArray)).toDF("media_id", "content"))
      .as[(Long, Option[Int], Option[Int], Option[Long], Option[Long])]
      .collect().head
    assert(flat._4 === Some(0L) && flat._5 === Some(0L))
    // smaller than the 8x8 grid: dims survive, hash columns NULL
    val tiny = Multimodal.averageHash(
        Seq((3L, Multimodal.encodeGrayPng(Array.fill(16)(9), 4, 4)))
          .toDF("media_id", "content"))
      .as[(Long, Option[Int], Option[Int], Option[Long], Option[Long])]
      .collect().head
    assert(tiny === ((3L, Some(4), Some(4), None, None)))
    // non-image bytes: everything NULL, no task failure
    val junk = Multimodal.averageHash(
        Seq((4L, Array[Byte](1, 2, 3))).toDF("media_id", "content"))
      .as[(Long, Option[Int], Option[Int], Option[Long], Option[Long])]
      .collect().head
    assert(junk === ((4L, None, None, None, None)))
  }

  test("hammingNearDup: hamming boundary, banding completeness at 3, cap + audit, guards") {
    import graft.ops.Multimodal
    // ids 1,2 identical; 3 differs from them in exactly 3 lo-bits
    // (kept at maxDist 3); 4 differs in 4 bits (excluded); 5 far away
    val h = Seq(
      (1L, 0x12340000L, 0x00FF00AAL), (2L, 0x12340000L, 0x00FF00AAL),
      (3L, 0x12340000L, 0x00FF00ADL),            // lo ^ = 0x07 -> 3 bits
      (4L, 0x12340000L, 0x00FF00A5L),            // lo ^ = 0x0F -> 4 bits
      (5L, 0x7777AAAAL, 0x55551111L))
      .toDF("id", "hi", "lo")
    def run(maxDist: Int, cap: Int = 100) =
      Multimodal.hammingNearDup(h, "id", "hi", "lo", maxDist, cap)
        .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(run(3) === Seq((1L, 2L, 0L), (1L, 3L, 3L), (2L, 3L, 3L),
      (3L, 4L, 1L))) // 3^4 touch only in lo bit 3 (0xAD^0xA5 = 0x08)
    assert(run(0) === Seq((1L, 2L, 0L)))
    // cap 2: the three bands ids 1-4 all share are over-cap (buckets
    // of 4) and drop; 1,2 still share their under-cap b0 bucket (size
    // 2) so (1,2) survives, while 3 shares ONLY over-cap bands with
    // 1/2 -> (1,3),(2,3) are the audited loss
    assert(run(3, cap = 2) === Seq((1L, 2L, 0L)))
    val audit = Multimodal.hammingNearDupAudit(h, "id", "hi", "lo", 2)
      .as[(Int, Long, Long)].collect().toSeq.sorted
    assert(audit === Seq((1, 255L, 4L), (2, 0L, 4L), (3, 4660L, 4L)))
    // NULL hashes drop out silently
    val withNull = h.union(Seq((6L, null.asInstanceOf[java.lang.Long],
      null.asInstanceOf[java.lang.Long])).toDF("id", "hi", "lo"))
    assert(run(3) === Multimodal.hammingNearDup(withNull, "id", "hi", "lo",
      3, 100).as[(Long, Long, Long)].collect().toSeq.sorted)
    intercept[IllegalArgumentException] {
      Multimodal.hammingNearDup(h, "id", "hi", "lo", 4, 100)
    }
    intercept[IllegalArgumentException] {
      Multimodal.hammingNearDup(h, "id", "hi", "lo", 3, 1)
    }
  }

  test("audioEnergyHash: lossless PCM round-trip, hand-computed fingerprint, channel mean, guards") {
    // PCM is raw storage: decode(encode(s)) == s exactly, rate preserved
    val smp = Array.tabulate(256)(i => ((i * 97 + 31) % 2001) - 1000)
    val rt = Multimodal.decodePcm(Multimodal.encodePcmWav(smp, 8000))
    assert(rt.map(_._1) === Some(8000))
    assert(rt.get._2.toSeq === smp.toSeq)
    // 64 samples (1/frame): energy = s², mean = Σs² div 64; alternating
    // 0/±100 -> energies alternate 0/10000, mean 5000, bits at odd f
    val alt = Array.tabulate(64)(i => if (i % 2 == 1) 100 else 0)
    val got = Multimodal.audioEnergyHash(
        Seq((1L, Multimodal.encodePcmWav(alt, 8000)))
          .toDF("media_id", "content"))
      .as[(Long, Option[Int], Option[Int], Option[Long], Option[Long])]
      .collect().head
    assert(got === ((1L, Some(8000), Some(64), Some(0xAAAAAAAAL),
      Some(0xAAAAAAAAL))))
    // silence: every energy equals the mean, no bit strictly exceeds it
    val flat = Multimodal.audioEnergyHash(
        Seq((2L, Multimodal.encodePcmWav(Array.fill(128)(7), 8000)))
          .toDF("media_id", "content"))
      .as[(Long, Option[Int], Option[Int], Option[Long], Option[Long])]
      .collect().head
    assert(flat._4 === Some(0L) && flat._5 === Some(0L))
    // fewer than 64 samples: header fields survive, hash NULL
    val tiny = Multimodal.audioEnergyHash(
        Seq((3L, Multimodal.encodePcmWav(Array.fill(10)(5), 8000)))
          .toDF("media_id", "content"))
      .as[(Long, Option[Int], Option[Int], Option[Long], Option[Long])]
      .collect().head
    assert(tiny === ((3L, Some(8000), Some(10), None, None)))
    // non-audio bytes: all NULL, no task failure
    val junk = Multimodal.audioEnergyHash(
        Seq((4L, Array[Byte](9, 9, 9))).toDF("media_id", "content"))
      .as[(Long, Option[Int], Option[Int], Option[Long], Option[Long])]
      .collect().head
    assert(junk === ((4L, None, None, None, None)))
    // multi-channel reduces to the integer channel mean: stereo frames
    // (L=100, R=200) -> mono 150. Hand-pack a 2-channel LE WAV.
    val n = 64
    val bb = java.nio.ByteBuffer.allocate(44 + n * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(36 + n * 4).put("WAVE".getBytes)
      .put("fmt ".getBytes).putInt(16).putShort(1).putShort(2)
      .putInt(8000).putInt(8000 * 4).putShort(4).putShort(16)
      .put("data".getBytes).putInt(n * 4)
    for (_ <- 0 until n) { bb.putShort(100); bb.putShort(200) }
    val stereo = Multimodal.decodePcm(bb.array()).get
    assert(stereo._2.length === n && stereo._2.forall(_ == 150))
    // 16-bit range guard on the encoder
    intercept[IllegalArgumentException] {
      Multimodal.encodePcmWav(Array(40000), 8000)
    }
  }

  test("FingerprintIndex: save/load round-trip, scheme guard, extend law, cross near-dup vs hand") {
    import graft.ops.Multimodal
    def gray(seed: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (i <- 0 until 256)
        img.getRaster.setSample(i % 16, i / 16, 0, (seed * 31 + i * 13 + i * i * 5) % 256)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def wav(seed: Int): Array[Byte] =
      Multimodal.encodePcmWav(Array.tabulate(128)(i =>
        ((seed * 37 + i * 13 + i * i * 3) % 2001) - 1000), 8000)
    // base: image 1, audio 11, junk 99; batch: image 2 (= image 1's
    // bytes -> hamming 0), audio 12 (= audio 11), image 3 (unrelated)
    val base = Seq((1L, gray(7)), (11L, wav(5)),
      (99L, Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13)))
      .toDF("media_id", "content")
    val batch = Seq((2L, gray(7)), (12L, wav(5)), (3L, gray(200)))
      .toDF("media_id", "content")
    val dir = tempDir("graft-fpidx")
    Multimodal.buildFingerprintIndex(base).save(dir)
    val idx = Multimodal.loadFingerprintIndex(spark, dir)
    // the junk row is in the index with NULL hash and never pairs
    assert(idx.fingerprints.count() === 3)
    val pairs = Multimodal.crossNearDupMedia(batch, idx, maxDist = 3)
      .select("new_id", "base_id", "hamming", "media_kind")
      .as[(Long, Long, Long, String)].collect().toSeq.sorted
    assert(pairs === Seq((2L, 1L, 0L, "image"), (12L, 11L, 0L, "audio")))
    // extend law: extend(fit(base), more) == fit(base ∪ more)
    val more = Seq((4L, gray(8))).toDF("media_id", "content")
    val ext = idx.extend(more).fingerprints
      .as[(Long, String, Option[Long], Option[Long])].collect().toSet
    val full = Multimodal.buildFingerprintIndex(
        base.unionByName(more)).fingerprints
      .as[(Long, String, Option[Long], Option[Long])].collect().toSet
    assert(ext === full)
    // scheme guard: a stored index from a different pipeline version
    // refuses to load
    forgeStoredScheme(dir, 99)
    intercept[IllegalArgumentException] {
      Multimodal.loadFingerprintIndex(spark, dir)
    }
    intercept[IllegalArgumentException] {
      Multimodal.crossNearDupMedia(batch, idx, maxDist = 4)
    }
  }

  test("sampleFrames slices every k-th fixed-size frame of video blobs only") {
    val frames = Multimodal.sampleFrames(mediaDf, frameBytes = 10, every = 2)
      .as[(Long, Int, Array[Byte])].collect()
    assert(frames.forall(_._1 === 3L))
    assert(frames.map(_._2).sorted.toSeq === Seq(0, 2)) // frames 0 and 2 of 4
    assert(frames.forall(_._3.length === 10))
  }

  test("videoFrameHashes: raw-raster frames hash to the exact aHash64; partial trailing frames hash NULL") {
    // two full 16x16 frames with different deterministic patterns, plus
    // a 100-byte trailing partial slice
    def raster(seed: Int): Array[Byte] =
      Array.tabulate(256)(i => ((seed * 31 + i * 17 + i * i * 7) % 256).toByte)
    val full0 = raster(1); val full1 = raster(2)
    // a trailing partial slice is dropped by sampleFrames' full-frame
    // grid; a blob SHORTER than one frame still emits frame 0, whose
    // short slice must hash NULL, never throw
    val blob = full0 ++ full1 ++ Array.fill(100)(7.toByte)
    val media = Seq((5L, "video", blob),
      (6L, "video", Array.fill(100)(7.toByte)))
      .toDF("media_id", "kind", "content")
    val got = Multimodal.videoFrameHashes(media, 16, 16, every = 1)
      .as[(Long, Int, Option[Long], Option[Long])].collect()
      .sortBy(r => (r._1, r._2)).toSeq
    def expected(bytes: Array[Byte]): (Long, Long) =
      Multimodal.aHash64(16, 16, bytes.map(_ & 0xff)).get
    assert(got.map(r => (r._1, r._2)) === Seq((5L, 0), (5L, 1), (6L, 0)))
    assert((got(0)._3.get, got(0)._4.get) === expected(full0))
    assert((got(1)._3.get, got(1)._4.get) === expected(full1))
    assert(got(2)._3.isEmpty && got(2)._4.isEmpty) // sub-frame blob
    // guards: sub-8x8 grids and every < 1 rejected loudly
    intercept[IllegalArgumentException](
      Multimodal.videoFrameHashes(media, 4, 16, 1))
    intercept[IllegalArgumentException](
      Multimodal.videoFrameHashes(media, 16, 16, 0))
  }

  test("videoFingerprint: identical frames reproduce the frame hash; strict majority over a 2-2 split is the AND") {
    def half(right: Boolean): Array[Byte] = Array.tabulate(256) { i =>
      val on = if (right) i % 16 >= 8 else i / 16 >= 8
      if (on) 255.toByte else 0.toByte
    }
    val a = half(right = true); val b = half(right = false)
    val (ahi, alo) = Multimodal.aHash64(16, 16, a.map(_ & 0xff)).get
    val (bhi, blo) = Multimodal.aHash64(16, 16, b.map(_ & 0xff)).get
    val media = Seq(
      (1L, "video", a ++ a ++ a),          // identical frames
      (2L, "video", a ++ a ++ b ++ b)      // 2-2 split: no strict majority
    ).toDF("media_id", "kind", "content")
    val fp = Multimodal.videoFingerprint(media, 16, 16, every = 1)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(fp(0) === ((1L, 3L, ahi, alo)))
    // a bit survives the 2-2 vote only when BOTH patterns set it
    assert(fp(1) === ((2L, 4L, ahi & bhi, alo & blo)))
  }
}
