package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with a typed metadata struct. PNG (IHDR), GIF, BMP, WAV
  * (RIFF fmt) headers and JPEG SOF segments are decoded for REAL —
  * pure byte-reading column expressions, fully codegen'd, no library.
  * Image PIXELS are decoded for real too, via the JDK's built-in
  * `javax.imageio` codecs (PNG/GIF/BMP/JPEG) — see `decodePixelStats`.
  * Formats beyond those (video, non-PCM audio) fall back to a
  * clearly-marked deterministic stub (this container has no video
  * codec libraries); the Spark side — schema, partition-parallel batch
  * processing, sizing stats — is real either way.
  */
object Multimodal {

  /** Typed metadata carried next to the binary payload. */
  final case class MediaMeta(
      kind: String,        // "image" | "audio" | "video"
      mimeType: String,
      width: Int, height: Int,
      durationMs: Long,
      sampleRateHz: Int, channels: Int)

  final case class MediaRow(id: Long, content: Array[Byte], meta: MediaMeta)

  // ---- real header decoding: byte-level reads as column expressions ----

  /** Big-endian uint32 read at 1-based byte position. */
  private def beUint32(bin: Column, pos: Int): Column =
    conv(hex(substring(bin, pos, 4)), 16, 10).cast("long")
  private def byteAt(bin: Column, pos: Int): Column =
    conv(hex(substring(bin, pos, 1)), 16, 10).cast("long")
  /** Little-endian uint16/uint32 reads at 1-based byte position. */
  private def leUint16(bin: Column, pos: Int): Column =
    byteAt(bin, pos) + byteAt(bin, pos + 1) * 256L
  private def leUint32(bin: Column, pos: Int): Column =
    leUint16(bin, pos) + leUint16(bin, pos + 2) * 65536L

  /** PNG signature (spec §5.2) + IHDR width/height at offsets 16/20. */
  def isPng(bin: Column): Column =
    length(bin) >= 24 && upper(hex(substring(bin, 1, 8))) === "89504E470D0A1A0A"
  def pngWidth(bin: Column): Column = beUint32(bin, 17).cast("int")
  def pngHeight(bin: Column): Column = beUint32(bin, 21).cast("int")

  /** JPEG: dimensions from the SOF marker segment (variable offset —
    * native marker-walk expression graft.functions.JpegDims; null when
    * the payload has no SOF). */
  def jpegDims(bin: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    toCol(graft.functions.JpegDims(toExpr(bin)))
  }

  /** GIF87a/GIF89a: "GIF8" @0, logical-screen width/height LE16 @6/@8. */
  def isGif(bin: Column): Column =
    length(bin) >= 10 && upper(hex(substring(bin, 1, 4))) === "47494638"
  def gifWidth(bin: Column): Column = leUint16(bin, 7).cast("int")
  def gifHeight(bin: Column): Column = leUint16(bin, 9).cast("int")

  /** BMP: "BM" @0, BITMAPINFOHEADER width LE32 @18, height signed LE32
    * @22 (negative = top-down row order, so the magnitude is taken).
    * The DIB header-size field @14 must name an INFO-family header —
    * the 2-byte magic alone would misclassify text starting "BM", and
    * OS/2 BITMAPCOREHEADER (size 12) has 16-bit dims at other offsets. */
  def isBmp(bin: Column): Column =
    length(bin) >= 26 && upper(hex(substring(bin, 1, 2))) === "424D" &&
      leUint32(bin, 15).isin(40L, 52L, 56L, 108L, 124L)
  def bmpWidth(bin: Column): Column = leUint32(bin, 19).cast("int")
  def bmpHeight(bin: Column): Column = {
    val raw = leUint32(bin, 23) // unsigned read of the signed field
    // least() guards abs(Int.MinValue) = 2^31, which a bare int cast
    // would wrap back to negative
    least(abs(when(raw >= 2147483648L, raw - 4294967296L).otherwise(raw)),
      lit(Int.MaxValue.toLong)).cast("int")
  }

  /** RIFF/WAVE header: "RIFF" @0, "WAVE" @8, canonical fmt chunk @12 —
    * channels @22 (LE16), sample rate @24 (LE32), byte rate @28 (LE32). */
  def isWav(bin: Column): Column =
    length(bin) >= 44 &&
      upper(hex(substring(bin, 1, 4))) === "52494646" &&
      upper(hex(substring(bin, 9, 8))) === "57415645666D7420"
  def wavChannels(bin: Column): Column = leUint16(bin, 23).cast("int")
  def wavSampleRate(bin: Column): Column = leUint32(bin, 25).cast("int")
  /** Duration from payload size / byte rate (44-byte canonical header). */
  def wavDurationMs(bin: Column): Column = {
    val byteRate = leUint32(bin, 29)
    when(byteRate > 0,
      ((length(bin).cast("long") - 44L) * 1000L / byteRate).cast("long"))
      .otherwise(lit(0L))
  }

  /** REAL audio content features: PCM16 sample count / peak / sum of
    * squares from the payload bytes (graft.functions.WavPcm16Stats);
    * null for non-WAV or non-PCM16 rows. Derive RMS as
    * sqrt(sum_sq / n_samples) in query space. */
  def wavPcm16Stats(bin: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    toCol(graft.functions.WavPcm16Stats(toExpr(bin)))
  }

  /** Frame-level audio features: consecutive `frameSize`-sample frames
    * of the PCM16 payload, each with sample count, energy (exact Int64
    * sum of squares) and zero-crossing count
    * (graft.functions.WavFrameEnergy); null for non-WAV/non-PCM16 rows.
    * posexplode the array for per-frame rows; RMS = sqrt(sum_sq/n). */
  def wavFrameEnergy(bin: Column, frameSize: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    toCol(graft.functions.WavFrameEnergy(toExpr(bin), frameSize))
  }

  /** ISO-BMFF (MP4/MOV): a leading `ftyp` box is the container magic. */
  def isMp4(bin: Column): Column =
    length(bin) >= 12 && upper(hex(substring(bin, 5, 4))) === "66747970"

  /** REAL video-container decode: major brand, movie timescale/duration
    * and track count from the actual ISO-BMFF box chain
    * (graft.functions.Mp4Meta — ftyp magic, moov/mvhd/trak walk,
    * unknown boxes skipped by size); null for non-MP4 payloads. Derive
    * duration_ms as duration * 1000 / timescale in query space (see
    * `withDecodedMeta` for the form that cannot overflow). */
  def mp4Meta(bin: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    toCol(graft.functions.Mp4Meta(toExpr(bin)))
  }

  /** Wrap a (id, binary) DataFrame into the canonical media schema.
    * Recognized headers (PNG, GIF, JPEG, BMP, WAV) are decoded for
    * real; anything else gets the stub metadata — one pass of codegen'd
    * expressions, no shuffle either way. */
  def withDecodedMeta(df: DataFrame, idCol: String, binCol: String,
      kind: String): DataFrame = {
    val bin = col(binCol)
    // ---- STUB decode (unrecognized formats only) ------------------------
    // A real build adds more header parsers (JPEG SOF, MP4 mvhd, ...); the
    // deterministic fake derives plausible dimensions from a content hash
    // so downstream partitioning/grouping logic is exercised honestly.
    val h = xxhash64(bin)
    val stubWidth = (pmod(h, lit(1920L)) + 32).cast("int")
    val stubHeight = (pmod(xxhash64(bin, lit(1)), lit(1080L)) + 32).cast("int")
    val stubDuration = when(lit(kind) === "image", lit(0L))
      .otherwise(pmod(h, lit(600000L)))
    val stubMeta = struct(
      lit(kind).as("kind"),
      lit(s"application/x-$kind").as("mimeType"),
      stubWidth.as("width"), stubHeight.as("height"),
      stubDuration.as("durationMs"),
      lit(0).as("sampleRateHz"), lit(0).as("channels"))
    // ---- END STUB -------------------------------------------------------
    val pngMeta = struct(
      lit("image").as("kind"), lit("image/png").as("mimeType"),
      pngWidth(bin).as("width"), pngHeight(bin).as("height"),
      lit(0L).as("durationMs"),
      lit(0).as("sampleRateHz"), lit(0).as("channels"))
    val gifMeta = struct(
      lit("image").as("kind"), lit("image/gif").as("mimeType"),
      gifWidth(bin).as("width"), gifHeight(bin).as("height"),
      lit(0L).as("durationMs"),
      lit(0).as("sampleRateHz"), lit(0).as("channels"))
    val jpeg = jpegDims(bin)
    val jpegMeta = struct(
      lit("image").as("kind"), lit("image/jpeg").as("mimeType"),
      jpeg.getField("width").as("width"), jpeg.getField("height").as("height"),
      lit(0L).as("durationMs"),
      lit(0).as("sampleRateHz"), lit(0).as("channels"))
    val bmpMeta = struct(
      lit("image").as("kind"), lit("image/bmp").as("mimeType"),
      bmpWidth(bin).as("width"), bmpHeight(bin).as("height"),
      lit(0L).as("durationMs"),
      lit(0).as("sampleRateHz"), lit(0).as("channels"))
    val wavMeta = struct(
      lit("audio").as("kind"), lit("audio/wav").as("mimeType"),
      lit(0).as("width"), lit(0).as("height"),
      wavDurationMs(bin).as("durationMs"),
      wavSampleRate(bin).as("sampleRateHz"), wavChannels(bin).as("channels"))
    val mp4 = mp4Meta(bin)
    // whole seconds and the remainder apart, so duration * 1000 cannot
    // overflow; no timescale, or milliseconds past Long.MaxValue, read
    // as unknown (0)
    val dur = mp4.getField("duration")
    val ts = nullif(mp4.getField("timescale"), lit(0L))
    val secs = call_function("div", dur, ts)
    val mp4Duration = when(secs < Long.MaxValue / 1000,
      secs * 1000L + call_function("div", (dur % ts) * 1000L, ts))
      .otherwise(lit(0L))
    val mp4MetaStruct = struct(
      lit("video").as("kind"), lit("video/mp4").as("mimeType"),
      lit(0).as("width"), lit(0).as("height"),
      mp4Duration.as("durationMs"),
      lit(0).as("sampleRateHz"),
      mp4.getField("n_tracks").as("channels"))
    df.select(
      col(idCol).cast("long").as("id"),
      bin.as("content"),
      when(isPng(bin), pngMeta)
        .when(isGif(bin), gifMeta)
        .when(jpeg.isNotNull, jpegMeta)
        .when(isBmp(bin), bmpMeta)
        .when(isWav(bin), wavMeta)
        .when(mp4.isNotNull, mp4MetaStruct)
        .otherwise(stubMeta).as("meta"),
      length(bin).as("n_bytes"),
      sha2(bin, 256).as("content_sha256"))
  }

  /** Per-image pixel statistics, one output row per input row. */
  final case class PixelStats(
      id: Long,
      width: Option[Int], height: Option[Int], n_pixels: Option[Long],
      sum_r: Option[Long], sum_g: Option[Long], sum_b: Option[Long],
      mean_r: Option[Double], mean_g: Option[Double], mean_b: Option[Double],
      mean_luma: Option[Double])

  /** REAL image-pixel decode: per-row channel sums / means / Rec.601
    * luma over the decoded pixels, using the JDK's built-in
    * `javax.imageio.ImageIO` codecs — PNG, GIF, BMP and JPEG all ship
    * with the JRE, no external library. Rows that no installed codec
    * accepts (or whose payload is corrupt) come back with NULL stats
    * rather than failing the batch — at 100 TB a scan WILL contain
    * undecodable bytes and one bad row must not kill the stage.
    *
    * Channel sums are exact Int64 (an 8-bit channel over a 2-gigapixel
    * image tops out near 2^39), so every derived mean is a single exact
    * division — the repo-wide determinism discipline. Luma keeps an
    * integer-exact form too: `299·Σr + 587·Σg + 114·Σb` is available to
    * callers as `(299*sum_r + 587*sum_g + 114*sum_b)` with no float in
    * sight, while `mean_luma` is the one-division double of that.
    *
    * Scale shape: mapPartitions — the genuinely imperative step (codec
    * dispatch + pixel loop), embarrassingly parallel, no shuffle.
    * Pixels are fetched one ROW-STRIPE at a time into a reused buffer
    * (`getRGB(0, y, w, 1, …)`), so peak memory per task is one decoded
    * image plus a w-sized int array, never a w×h copy. */
  def decodePixelStats(
      df: DataFrame, idCol: String, binCol: String): Dataset[PixelStats] = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false) // no tmp-file spool
        rows.map { case (id, bytes) =>
          val img =
            try
              Option(javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(bytes)))
            catch { case _: java.io.IOException => None }
          img match {
            case Some(b) =>
              val w = b.getWidth
              val h = b.getHeight
              var sr = 0L; var sg = 0L; var sb = 0L
              val stripe = new Array[Int](w)
              var y = 0
              while (y < h) {
                b.getRGB(0, y, w, 1, stripe, 0, w)
                var x = 0
                while (x < w) {
                  val p = stripe(x)
                  sr += (p >> 16) & 0xff
                  sg += (p >> 8) & 0xff
                  sb += p & 0xff
                  x += 1
                }
                y += 1
              }
              val n = w.toLong * h
              PixelStats(id, Some(w), Some(h), Some(n),
                Some(sr), Some(sg), Some(sb),
                Some(sr.toDouble / n), Some(sg.toDouble / n),
                Some(sb.toDouble / n),
                Some((299L * sr + 587L * sg + 114L * sb).toDouble /
                  (1000.0 * n)))
            case None =>
              PixelStats(id, None, None, None, None, None, None,
                None, None, None, None)
          }
        }
      }
  }

  /** Deterministic PNG fixture: a w×h image whose red channel is the
    * solid `r`, green a horizontal 0..w−1 gradient, blue a vertical
    * 0..h−1 gradient (w, h ≤ 256) — every pixel statistic is then a
    * closed-form integer an oracle recomputes arithmetically, while the
    * engine must produce it from a REAL ImageIO decode of real PNG
    * bytes (zlib IDAT, CRCs and all, via the JDK encoder). */
  def syntheticPng(w: Int, h: Int, r: Int): Array[Byte] = {
    require(w > 0 && w <= 256 && h > 0 && h <= 256 && r >= 0 && r < 256)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, (r << 16) | (x << 8) | y)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Batch feature extraction over media rows via mapPartitions —
    * per-partition codec init, row-batched processing, typed output.
    * Image rows are decoded for REAL through `javax.imageio` and
    * featurized as a normalized Rec.601-luma histogram over the actual
    * pixels; rows no installed codec accepts (video, opaque audio)
    * fall back to a deterministic byte-value histogram so the vector
    * is always defined and downstream partitioning logic is exercised
    * on every row. */
  def extractFeatures(ds: Dataset[MediaRow], dim: Int = 16): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false) // codec init, once per task
      rows.map { r =>
        val hist = new Array[Float](dim)
        val img =
          if (r.meta.kind == "image")
            try
              Option(javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(r.content)))
            catch { case _: java.io.IOException => None }
          else None
        val n = img match {
          case Some(b) =>
            // REAL pixel featurize: luma histogram, row-stripe reads
            val w = b.getWidth
            val h = b.getHeight
            val stripe = new Array[Int](w)
            var y = 0
            while (y < h) {
              b.getRGB(0, y, w, 1, stripe, 0, w)
              var x = 0
              while (x < w) {
                val p = stripe(x)
                val luma = (299 * ((p >> 16) & 0xff) +
                  587 * ((p >> 8) & 0xff) + 114 * (p & 0xff)) / 1000
                hist(luma * dim / 256) += 1f
                x += 1
              }
              y += 1
            }
            w.toLong * h
          case None =>
            // fallback featurize: byte-value histogram over the payload
            var i = 0
            while (i < r.content.length) {
              hist((r.content(i) & 0xff) % dim) += 1f
              i += 1
            }
            math.max(r.content.length, 1).toLong
        }
        (r.id, hist.map(_ / n), r.meta.kind)
      }
    }.toDF("id", "features", "kind")
  }

  /** Partition-parallel "resize": keeps schema + metadata consistent; the
    * pixel work is the stub (identity on bytes, metadata rewritten). */
  def resize(df: DataFrame, w: Int, hgt: Int): DataFrame =
    df.withColumn("meta", struct(
      col("meta.kind"), col("meta.mimeType"),
      lit(w).as("width"), lit(hgt).as("height"),
      col("meta.durationMs"),
      col("meta.sampleRateHz"), col("meta.channels")))

  /** Frame sampling for video rows: explode into (id, frame_idx) stubs at
    * a fixed rate; real impl replaces the payload with the decoded frame.
    * A video of unknown (0) duration gets the frame at 0 only. */
  def sampleFrames(df: DataFrame, everyMs: Long): DataFrame = {
    require(everyMs > 0, "everyMs must be positive")
    df.filter(col("meta.kind") === "video")
      .select(col("id"), col("meta"),
        explode(transform(
          TextOps.upTo(lit(0L), call_function("div", col("meta.durationMs"),
            lit(everyMs))),
          i => i * everyMs)).as("frame_ms"))
  }
}
