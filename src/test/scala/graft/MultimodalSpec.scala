package graft

import graft.operators.Multimodal
import graft.operators.Multimodal.{MediaMeta, MediaRow}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: schema, metadata, partition-parallel
  * feature extraction (stub codec, real Spark shapes). */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val bin = Seq(
    (1L, "image-bytes-aaaa"), (2L, "image-bytes-bbbb"), (3L, "x"))
    .toDF("id", "s")
    .select($"id", encode($"s", "UTF-8").as("payload"))

  test("withDecodedMeta produces canonical media schema") {
    val out = Multimodal.withDecodedMeta(bin, "id", "payload", "image")
    assert(out.columns.toSeq ==
      Seq("id", "content", "meta", "n_bytes", "content_sha256"))
    val r = out.orderBy("id").collect()
    assert(r.length == 3)
    val meta = r(0).getStruct(2)
    assert(meta.getString(0) == "image")
    assert(meta.getInt(2) >= 32 && meta.getInt(3) >= 32) // stub dims plausible
    assert(r(0).getAs[Int]("n_bytes") == 16)
    assert(meta.getLong(4) == 0L, "images have no duration")
  }

  test("deterministic: same payload, same decoded meta") {
    val out1 = Multimodal.withDecodedMeta(bin, "id", "payload", "image")
      .select("content_sha256", "meta").collect()
    val out2 = Multimodal.withDecodedMeta(bin, "id", "payload", "image")
      .select("content_sha256", "meta").collect()
    assert(out1.sameElements(out2))
  }

  test("extractFeatures runs partition-parallel with normalized output") {
    val ds = Seq(
      MediaRow(1L, Array[Byte](0, 1, 2, 3), MediaMeta("image", "x", 8, 8, 0, 0, 0)),
      MediaRow(2L, Array[Byte](5, 5, 5, 5), MediaMeta("image", "x", 8, 8, 0, 0, 0)))
      .toDS().repartition(2)
    val feats = Multimodal.extractFeatures(ds, dim = 4).orderBy("id").collect()
    assert(feats.length == 2)
    val f2 = feats(1).getSeq[Float](1)
    assert(f2(1) == 1.0f, "all bytes hash to bucket 1 for value 5 % 4")
    assert(math.abs(feats.head.getSeq[Float](1).sum - 1.0f) < 1e-6)
  }

  test("sampleFrames explodes video rows at the requested cadence") {
    val df = Seq((7L, Array[Byte](1))).toDF("id", "payload")
    val media = Multimodal.withDecodedMeta(df, "id", "payload", "video")
    val frames = Multimodal.sampleFrames(media, everyMs = 60000L)
    val n = frames.count()
    val dur = media.select($"meta.durationMs").collect().head.getLong(0)
    assert(n == dur / 60000L + 1)
  }

  private def pngBytes(w: Int, h: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(33) // sig + len + IHDR + 13-byte body
    bb.put(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
    bb.putInt(13).put("IHDR".getBytes("US-ASCII"))
    bb.putInt(w).putInt(h)
    bb.put(Array[Byte](8, 6, 0, 0, 0)) // bit depth, color type, ...
    bb.array()
  }

  private def wavBytes(sampleRate: Int, channels: Int, nBytes: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(44 + nBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val byteRate = sampleRate * channels * 2
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + nBytes)
    bb.put("WAVE".getBytes("US-ASCII")).put("fmt ".getBytes("US-ASCII"))
    bb.putInt(16).putShort(1).putShort(channels.toShort)
    bb.putInt(sampleRate).putInt(byteRate)
    bb.putShort((channels * 2).toShort).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(nBytes)
    bb.array()
  }

  test("real PNG IHDR header decode: width/height from the actual bytes") {
    val df = Seq((1L, pngBytes(640, 480)), (2L, pngBytes(1920, 1080)))
      .toDF("id", "payload")
    val out = Multimodal.withDecodedMeta(df, "id", "payload", "image")
      .select($"id", $"meta.*").orderBy("id").collect()
    assert(out(0).getAs[String]("kind") == "image")
    assert(out(0).getAs[String]("mimeType") == "image/png")
    assert(out(0).getAs[Int]("width") == 640 && out(0).getAs[Int]("height") == 480)
    assert(out(1).getAs[Int]("width") == 1920 && out(1).getAs[Int]("height") == 1080)
  }

  test("real BMP header decode: LE32 dims incl. negative top-down height") {
    def bmp(w: Int, h: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(26)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte).put('M'.toByte)
      bb.putInt(26).putInt(0).putInt(26) // file size, reserved, data offset
      bb.putInt(40).putInt(w).putInt(h)  // BITMAPINFOHEADER size, w, h
      bb.array()
    }
    val df = Seq((1L, bmp(800, 600)), (2L, bmp(1024, -768)))
      .toDF("id", "payload")
    val out = Multimodal.withDecodedMeta(df, "id", "payload", "image")
      .select($"id", $"meta.*").orderBy("id").collect()
    assert(out(0).getAs[String]("mimeType") == "image/bmp")
    assert(out(0).getAs[Int]("width") == 800 && out(0).getAs[Int]("height") == 600)
    // negative height = top-down pixel order; magnitude is the dimension
    assert(out(1).getAs[Int]("width") == 1024 && out(1).getAs[Int]("height") == 768)
  }

  test("real GIF header decode: LE16 logical screen dims") {
    def gif(w: Int, h: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(13)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("GIF89a".getBytes("US-ASCII"))
      bb.putShort(w.toShort).putShort(h.toShort)
      bb.put(Array[Byte](0, 0, 0))
      bb.array()
    }
    val df = Seq((1L, gif(320, 200))).toDF("id", "payload")
    val out = Multimodal.withDecodedMeta(df, "id", "payload", "image")
      .select($"meta.*").collect().head
    assert(out.getAs[String]("mimeType") == "image/gif")
    assert(out.getAs[Int]("width") == 320 && out.getAs[Int]("height") == 200)
  }

  test("real JPEG SOF decode walks markers to the dims at variable offset") {
    def jpeg(w: Int, h: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(2 + 18 + 13 + 2)
      bb.putShort(0xffd8.toShort)                      // SOI
      bb.putShort(0xffe0.toShort).putShort(16)         // APP0, len 16
      bb.put("JFIF".getBytes("US-ASCII")).put(Array.fill[Byte](10)(0))
      bb.putShort(0xffc0.toShort).putShort(11)         // SOF0, len 11
      bb.put(8.toByte)                                 // precision
      bb.putShort(h.toShort).putShort(w.toShort)       // height, width (BE)
      bb.put(Array[Byte](1, 0x11, 0, 0))               // 1 component
      bb.putShort(0xffd9.toShort)                      // EOI
      bb.array()
    }
    val df = Seq((1L, jpeg(800, 600)), (2L, "notjpeg".getBytes("US-ASCII")))
      .toDF("id", "payload")
    val out = Multimodal.withDecodedMeta(df, "id", "payload", "image")
      .select($"id", $"meta.*").orderBy("id").collect()
    assert(out(0).getAs[String]("mimeType") == "image/jpeg")
    assert(out(0).getAs[Int]("width") == 800 && out(0).getAs[Int]("height") == 600)
    assert(out(1).getAs[String]("mimeType") == "application/x-image",
      "non-media payload falls back to the stub")
  }

  test("real WAV fmt header decode: rate, channels, duration from bytes") {
    // 16000 Hz stereo 16-bit, 64000 data bytes → 1 second
    val df = Seq((1L, wavBytes(16000, 2, 64000)), (2L, wavBytes(8000, 1, 4000)))
      .toDF("id", "payload")
    val out = Multimodal.withDecodedMeta(df, "id", "payload", "audio")
      .select($"id", $"meta.*").orderBy("id").collect()
    assert(out(0).getAs[String]("mimeType") == "audio/wav")
    assert(out(0).getAs[Int]("sampleRateHz") == 16000)
    assert(out(0).getAs[Int]("channels") == 2)
    assert(out(0).getAs[Long]("durationMs") == 1000L)
    assert(out(1).getAs[Int]("sampleRateHz") == 8000)
    assert(out(1).getAs[Long]("durationMs") == 250L)
  }

  test("real PCM16 content decode: count/peak/energy incl. negative samples") {
    def pcmWav(samples: Seq[Int]): Array[Byte] = {
      val base = wavBytes(8000, 1, samples.length * 2)
      val bb = java.nio.ByteBuffer.allocate(44 + samples.length * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(base, 0, 44)
      samples.foreach(v => bb.putShort(v.toShort))
      bb.array()
    }
    val samples = Seq(1000, -1000, -32768, 32767, 0)
    val floatFmt = {
      val b = pcmWav(Seq(1, 2)); b(20) = 3; b // audioFormat=3 (IEEE float)
    }
    // a trailing LIST/INFO chunk (routine recorder output) must NOT be
    // decoded as audio samples
    val withList = {
      val base = pcmWav(samples)
      val list = "LIST".getBytes("US-ASCII") ++
        Array[Byte](8, 0, 0, 0) ++ "INFOIART".getBytes("US-ASCII")
      val bb = java.nio.ByteBuffer.allocate(base.length + list.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(base).put(list)
      val out = bb.array()
      // fix the RIFF size field for the appended chunk
      java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putInt(4, out.length - 8)
      out
    }
    val df = Seq(
      (1L, pcmWav(samples)),
      (2L, floatFmt),
      (3L, "not audio".getBytes("US-ASCII")),
      (4L, withList)).toDF("id", "payload")
    val out = df.select($"id",
        Multimodal.wavPcm16Stats($"payload").as("st"))
      .orderBy("id").collect()
    val st = out(0).getStruct(1)
    assert(st.getInt(0) == 5)
    assert(st.getInt(1) == 32768) // |−32768| — peak must not wrap
    assert(st.getLong(2) ==
      samples.map(v => v.toLong * v).sum)
    assert(out(1).isNullAt(1), "non-PCM16 format must be null, not garbage")
    assert(out(2).isNullAt(1))
    val stList = out(3).getStruct(1)
    assert(stList.getInt(0) == 5 && stList.getLong(2) == st.getLong(2),
      "trailing LIST chunk must not be counted as samples")
  }

  test("non-PNG/WAV payloads still get deterministic stub metadata") {
    val out = Multimodal.withDecodedMeta(bin, "id", "payload", "image")
      .select($"meta.mimeType").distinct().collect().map(_.getString(0))
    assert(out.toSeq == Seq("application/x-image"))
  }

  test("real pixel decode: channel sums/means match the planted closed form") {
    // w×h with solid red r, green = x gradient, blue = y gradient
    val (w, h, r) = (57, 41, 203)
    val df = Seq(
      (1L, Multimodal.syntheticPng(w, h, r)),
      (2L, "definitely not a png".getBytes("US-ASCII")))
      .toDF("id", "payload")
    val out = Multimodal.decodePixelStats(df, "id", "payload")
      .orderBy("id").collect()
    val n = w.toLong * h
    val p = out(0)
    assert(p.width.contains(w) && p.height.contains(h) &&
      p.n_pixels.contains(n))
    assert(p.sum_r.contains(r * n))
    assert(p.sum_g.contains(h.toLong * w * (w - 1) / 2))
    assert(p.sum_b.contains(w.toLong * h * (h - 1) / 2))
    assert(p.mean_r.contains(r.toDouble))
    assert(p.mean_g.contains((w - 1) / 2.0))
    assert(p.mean_b.contains((h - 1) / 2.0))
    val lumaMillis = 299L * (r * n) + 587L * (h.toLong * w * (w - 1) / 2) +
      114L * (w.toLong * h * (h - 1) / 2)
    assert(p.mean_luma.contains(lumaMillis.toDouble / (1000.0 * n)))
    // undecodable payload: NULL stats, row survives, batch survives
    assert(out(1).width.isEmpty && out(1).mean_luma.isEmpty)
  }

  test("pixel decode round-trips the JDK codecs for GIF and BMP too") {
    // write the same synthetic image through other ImageIO encoders —
    // decodePixelStats must not be PNG-specific
    def encodeAs(fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        5, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 4; x <- 0 until 5) img.setRGB(x, y, 0x112233)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, out)
      out.toByteArray
    }
    val df = Seq((1L, encodeAs("bmp")), (2L, encodeAs("png")))
      .toDF("id", "payload")
    val out = Multimodal.decodePixelStats(df, "id", "payload")
      .orderBy("id").collect()
    out.foreach { p =>
      assert(p.n_pixels.contains(20L))
      assert(p.mean_r.contains(0x11.toDouble))
      assert(p.mean_g.contains(0x22.toDouble))
      assert(p.mean_b.contains(0x33.toDouble))
    }
  }

  test("extractFeatures decodes real image pixels into a luma histogram") {
    // solid mid-gray → every pixel's luma lands in one known bucket
    val img = new java.awt.image.BufferedImage(
      6, 6, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 6; x <- 0 until 6) img.setRGB(x, y, 0x808080)
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", buf)
    val ds = Seq(MediaRow(1L, buf.toByteArray,
      MediaMeta("image", "image/png", 6, 6, 0, 0, 0))).toDS()
    val f = Multimodal.extractFeatures(ds, dim = 4)
      .collect().head.getSeq[Float](1)
    assert(f(2) == 1.0f, "luma 128 → bucket 128*4/256 = 2 holds all mass")
    assert(f.sum == 1.0f)
  }

  test("resize rewrites dimensions, keeps kind and duration") {
    val media = Multimodal.withDecodedMeta(bin, "id", "payload", "image")
    val r = Multimodal.resize(media, 224, 224).select($"meta").collect().head
      .getStruct(0)
    assert(r.getInt(2) == 224 && r.getInt(3) == 224)
    assert(r.getString(0) == "image")
  }

  // ---- ISO-BMFF (MP4) container decode ---------------------------------

  private def be32(v: Long): Array[Byte] = Array(
    (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
  private def box(tpe: String, payload: Array[Byte]): Array[Byte] =
    be32(payload.length + 8L) ++ tpe.getBytes("US-ASCII") ++ payload

  private def mvhdV1(timescale: Long, duration: Long): Array[Byte] = {
    val body = new java.io.ByteArrayOutputStream()
    body.write(Array[Byte](1, 0, 0, 0)) // version 1
    body.write(be32(0)); body.write(be32(0)) // creation u64
    body.write(be32(0)); body.write(be32(0)) // modification u64
    body.write(be32(timescale))
    body.write(be32(duration >> 32)); body.write(be32(duration & 0xffffffffL))
    body.write(new Array[Byte](80)) // rate..next_track_id
    box("mvhd", body.toByteArray)
  }

  test("mp4Meta reads a version-1 mvhd (64-bit duration) and counts traks") {
    val ftyp = box("ftyp", "mp42".getBytes("US-ASCII") ++ be32(0))
    val moov = box("moov",
      mvhdV1(90000L, 0x1_0000_0001L) ++ box("trak", Array[Byte]()) ++
        box("trak", Array[Byte]()))
    val df = Seq((1L, ftyp ++ moov)).toDF("id", "payload")
      .select($"id", Multimodal.mp4Meta($"payload").as("m"))
      .select($"m.major_brand", $"m.timescale", $"m.duration", $"m.n_tracks")
    val r = df.collect().head
    assert(r.getString(0) == "mp42")
    assert(r.getLong(1) == 90000L)
    assert(r.getLong(2) == 0x1_0000_0001L, "64-bit duration read in full")
    assert(r.getInt(3) == 2)
  }

  test("mp4Meta honors a 64-bit largesize box header") {
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ be32(0x200))
    // a `free` box using size==1 + largesize, then moov
    val freePayload = Array[Byte](1, 2, 3, 4)
    val largeFree = be32(1L) ++ "free".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 0, 0, 0, 0, 0, 20) ++ freePayload
    val moov = box("moov", mvhdV1(1000L, 5000L))
    val r = Seq((1L, ftyp ++ largeFree ++ moov)).toDF("id", "payload")
      .select(Multimodal.mp4Meta($"payload").as("m"))
      .select($"m.duration").collect().head
    assert(r.getLong(0) == 5000L)
  }

  test("mp4Meta is null for non-MP4, truncated and moov-less payloads") {
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ be32(0))
    val moov = box("moov", mvhdV1(1000L, 5000L))
    val full = ftyp ++ moov
    val rows = Seq(
      (1L, "not an mp4 at all".getBytes("UTF-8")),
      (2L, full.take(full.length - 30)), // truncated mid-moov
      (3L, ftyp), // no moov
      (4L, ftyp ++ box("moov", box("trak", Array[Byte]()))) // moov, no mvhd
    ).toDF("id", "payload")
      .select($"id", Multimodal.mp4Meta($"payload").as("m"))
      .orderBy("id").collect()
    assert(rows.forall(_.isNullAt(1)))
  }

  test("an unknown (all-ones) mp4 duration reads as 0 and samples one " +
    "frame; a large duration converts to ms without overflow") {
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ be32(0))
    val large = 1L << 60
    val media = Multimodal.withDecodedMeta(Seq(
      (1L, ftyp ++ box("moov", mvhdV1(1000L, -1L))),
      (2L, ftyp ++ box("moov", mvhdV1(90000L, large)))
    ).toDF("id", "payload"), "id", "payload", "video")
    val ms = media.orderBy("id").select($"meta.durationMs").collect()
      .map(_.getLong(0)).toSeq
    assert(ms == Seq(0L, (BigInt(large) * 1000 / 90000).toLong))
    val frames = Multimodal.sampleFrames(media.filter($"id" === 1L), 60000L)
      .select($"frame_ms").collect().map(_.getLong(0)).toSeq
    assert(frames == Seq(0L))
    assertThrows[IllegalArgumentException](Multimodal.sampleFrames(media, 0L))
  }

  // ---- frame-level PCM16 features --------------------------------------

  private def wav(samples: Array[Int]): Array[Byte] = {
    val data = samples.flatMap(s =>
      Array((s & 0xff).toByte, ((s >> 8) & 0xff).toByte))
    val hdr = new java.io.ByteArrayOutputStream()
    hdr.write("RIFF".getBytes("US-ASCII"))
    hdr.write(Array[Byte](((36 + data.length) & 0xff).toByte,
      (((36 + data.length) >> 8) & 0xff).toByte, 0, 0))
    hdr.write("WAVEfmt ".getBytes("US-ASCII"))
    hdr.write(Array[Byte](16, 0, 0, 0, 1, 0, 1, 0))
    hdr.write(Array[Byte](0x40, 0x1f, 0, 0, -128, 0x3e, 0, 0, 2, 0, 16, 0))
    hdr.write("data".getBytes("US-ASCII"))
    hdr.write(Array[Byte]((data.length & 0xff).toByte,
      ((data.length >> 8) & 0xff).toByte, 0, 0))
    hdr.write(data)
    hdr.toByteArray
  }

  test("wavFrameEnergy: hand-computed frames, zero-crossings, partial tail") {
    // 10 samples, frame size 4 → frames of 4, 4, 2
    val s = Array(100, -200, 300, 0, 0, -1, 1, -1, 7, 7)
    val out = Seq((1L, wav(s))).toDF("id", "payload")
      .select(posexplode(Multimodal.wavFrameEnergy($"payload", 4)))
      .select($"col.frame", $"col.n", $"col.sum_sq", $"col.zc")
      .orderBy("frame").collect()
    assert(out.length == 3)
    // frame 0: 100,-200,300,0 → zc: 100→-200, -200→300 (0 is no crossing)
    assert(out(0).getInt(1) == 4)
    assert(out(0).getLong(2) == 100L * 100 + 200L * 200 + 300L * 300)
    assert(out(0).getInt(3) == 2)
    // frame 1: 0,-1,1,-1 → -1→1, 1→-1 cross; 0→-1 does not (strict sign)
    assert(out(1).getInt(3) == 2)
    // frame 2 (partial): 7,7 → n=2, no crossing
    assert(out(2).getInt(1) == 2)
    assert(out(2).getLong(2) == 98L)
    assert(out(2).getInt(3) == 0)
    // frame-local zc: sample 7 (-1) → sample 8 (7) crossing is NOT
    // counted — it straddles the frame boundary
  }

  test("wavFrameEnergy totals reconcile with wavPcm16Stats") {
    val s = Array.tabulate(23)(i => (i * 37) % 4096 - 2048)
    val df = Seq((1L, wav(s))).toDF("id", "payload")
    val whole = df.select(Multimodal.wavPcm16Stats($"payload").as("st"))
      .select($"st.n_samples", $"st.sum_sq").collect().head
    val frames = df
      .select(explode(Multimodal.wavFrameEnergy($"payload", 5)).as("f"))
      .agg(sum($"f.n"), sum($"f.sum_sq")).collect().head
    assert(frames.getLong(0) == whole.getInt(0).toLong)
    assert(frames.getLong(1) == whole.getLong(1))
  }

  test("wavFrameEnergy is null for non-WAV and non-PCM16 payloads") {
    val r = Seq((1L, "RIFFxxxxWAVE but junk".getBytes("UTF-8")))
      .toDF("id", "payload")
      .select(Multimodal.wavFrameEnergy($"payload", 4).as("f"))
      .collect().head
    assert(r.isNullAt(0))
  }
}
