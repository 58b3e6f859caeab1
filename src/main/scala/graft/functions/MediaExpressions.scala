package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** jpeg_dims(binary) → struct<width:int, height:int> | null.
  *
  * JPEG dimensions live in a SOF segment at a variable offset, so unlike
  * PNG/GIF/WAV they cannot be read with fixed-position column
  * expressions — this walks the marker chain (SOI, then FF-prefixed
  * segments with big-endian lengths) until a baseline/extended/
  * progressive SOF (C0/C1/C2) and reads height@+5, width@+7. Returns
  * null for non-JPEG or truncated payloads. One bounded pass over the
  * header bytes; entropy-coded data is never touched.
  *
  * Codegen: participates in whole-stage codegen by emitting a call to
  * the compiled static walker (the `StaticInvoke` pattern) — no
  * CodegenFallback node, so surrounding expressions stay fused in one
  * generated function and the per-row boxing of the interpreted path is
  * gone. */
case class JpegDims(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false)))
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    JpegDims.evalBytes(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val row = ctx.freshName("jpegDims")
      s"""
      org.apache.spark.sql.catalyst.InternalRow $row = graft.functions.JpegDims.evalBytes($c);
      if ($row == null) { ${ev.isNull} = true; } else { ${ev.value} = $row; }
      """
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object JpegDims {
  /** Static marker-walk shared by the interpreted and generated paths. */
  def evalBytes(b: Array[Byte]): InternalRow = {
    @inline def u(i: Int): Int = b(i) & 0xff
    if (b.length < 4 || u(0) != 0xff || u(1) != 0xd8) return null
    var i = 2
    while (i + 3 < b.length) {
      if (u(i) != 0xff) return null
      val marker = u(i + 1)
      if (marker == 0xff) { i += 1 } // fill byte
      else if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd9)) {
        i += 2 // standalone marker, no length
      } else {
        val segLen = (u(i + 2) << 8) | u(i + 3)
        if (segLen < 2) return null
        if (marker == 0xc0 || marker == 0xc1 || marker == 0xc2) {
          if (i + 8 >= b.length) return null
          val height = (u(i + 5) << 8) | u(i + 6)
          val width = (u(i + 7) << 8) | u(i + 8)
          return new GenericInternalRow(Array[Any](width, height))
        }
        i += 2 + segLen
      }
    }
    null
  }
}

/** wav_pcm16_stats(binary) → struct<n_samples:int, peak:int, sum_sq:bigint>
  * | null — REAL audio content decode: walks the RIFF chunk chain to the
  * fmt and data chunks (LIST/INFO/fact chunks and extended fmt sizes are
  * routine in real recorder output, so nothing sits at a fixed offset),
  * then folds count, peak |amplitude| and the sum of squared samples
  * over EXACTLY the data chunk's PCM16LE words (integer math only, so
  * the result is bit-deterministic under any partitioning; derive
  * RMS/dBFS from sum_sq in query space). Null for non-WAV payloads and
  * non-PCM16 encodings (audioFormat != 1 or bitsPerSample != 16). One
  * bounded pass over the payload bytes, no library, no copy.
  *
  * Codegen: static-call emission like `JpegDims` — the sample fold runs
  * as compiled JVM code inside the whole-stage-generated function, which
  * matters on a media scan where this loop touches every payload byte. */
case class WavPcm16Stats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_samples", IntegerType, nullable = false),
    StructField("peak", IntegerType, nullable = false),
    StructField("sum_sq", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    WavPcm16Stats.evalBytes(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val row = ctx.freshName("pcmStats")
      s"""
      org.apache.spark.sql.catalyst.InternalRow $row = graft.functions.WavPcm16Stats.evalBytes($c);
      if ($row == null) { ${ev.isNull} = true; } else { ${ev.value} = $row; }
      """
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WavPcm16Stats {
  /** Static RIFF walk + PCM16 fold shared by both execution paths. */
  def evalBytes(b: Array[Byte]): InternalRow = {
    @inline def u(i: Int): Int = b(i) & 0xff
    @inline def le16(i: Int): Int = u(i) | (u(i + 1) << 8)
    @inline def le32(i: Int): Long =
      le16(i).toLong | (le16(i + 2).toLong << 16)
    @inline def id4(i: Int, s: String): Boolean =
      u(i) == s.charAt(0) && u(i + 1) == s.charAt(1) &&
        u(i + 2) == s.charAt(2) && u(i + 3) == s.charAt(3)
    if (b.length < 44) return null
    if (!(id4(0, "RIFF") && id4(8, "WAVE"))) return null
    // walk the chunk chain: real files carry LIST/INFO/fact chunks and
    // extended fmt sizes, so nothing sits at a fixed offset past byte 12.
    // Decoding to EOF without honoring the data-chunk size would fold
    // trailing metadata bytes into the "samples".
    var pos = 12
    var fmtPos = -1
    var dataPos = -1
    var dataLen = 0L
    while (pos + 8 <= b.length && (fmtPos < 0 || dataPos < 0)) {
      val size = le32(pos + 4)
      if (id4(pos, "fmt ")) fmtPos = pos + 8
      else if (id4(pos, "data")) { dataPos = pos + 8; dataLen = size }
      // chunks are word-aligned: odd sizes carry a pad byte
      val step = 8L + size + (size & 1L)
      if (step <= 0 || pos + step > Int.MaxValue) pos = b.length
      else pos += step.toInt
    }
    if (fmtPos < 0 || dataPos < 0 || fmtPos + 16 > b.length) return null
    if (le16(fmtPos) != 1 || le16(fmtPos + 14) != 16) return null // PCM16 only
    val end = math.min(b.length.toLong, dataPos + dataLen).toInt
    var i = dataPos
    var n = 0
    var peak = 0
    var sumSq = 0L
    while (i + 1 < end) {
      val s = (b(i + 1) << 8) | u(i) // sign carried by the high byte
      val a = math.abs(s)
      if (a > peak) peak = a
      sumSq += s.toLong * s
      n += 1
      i += 2
    }
    new GenericInternalRow(Array[Any](n, peak, sumSq))
  }
}

/** mp4_meta(binary) → struct<major_brand:string, timescale:bigint,
  * duration:bigint, n_tracks:int> | null — REAL ISO-BMFF (MP4/MOV)
  * container decode. Reference counterpart: the multimodal-column
  * capability (builder brief); video payloads are opaque `binary` whose
  * typed metadata must come from the actual box structure, not a stub.
  *
  * Walks the top-level box chain ([size:u32be][type:4cc][payload], with
  * size==1 → 64-bit largesize and size==0 → to-EOF, both per
  * ISO/IEC 14496-12 §4.2), requires an `ftyp` leading box (the MP4
  * magic), then inside `moov` reads `mvhd` (version 0: timescale u32 @
  * +12, duration u32 @ +16; version 1: timescale u32 @ +20, duration
  * u64 @ +24; all ones = unknown, read as 0) and counts `trak`
  * children. Boxes it does not know
  * (`free`, `mdat`, `udta`, …) are skipped by size — nothing sits at a
  * fixed offset in real encoder output. Null for non-MP4 payloads and
  * for containers with no parsable moov/mvhd. One bounded pass over the
  * header boxes; media data (`mdat`) is never touched.
  *
  * Codegen: static-call emission like `JpegDims` — no CodegenFallback
  * node, the walk runs inside the whole-stage-generated function. */
case class Mp4Meta(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("major_brand", StringType, nullable = false),
    StructField("timescale", LongType, nullable = false),
    StructField("duration", LongType, nullable = false),
    StructField("n_tracks", IntegerType, nullable = false)))
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    Mp4Meta.evalBytes(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val row = ctx.freshName("mp4Meta")
      s"""
      org.apache.spark.sql.catalyst.InternalRow $row = graft.functions.Mp4Meta.evalBytes($c);
      if ($row == null) { ${ev.isNull} = true; } else { ${ev.value} = $row; }
      """
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Mp4Meta {
  /** Static ISO-BMFF walk shared by the interpreted and generated paths. */
  def evalBytes(b: Array[Byte]): InternalRow = {
    @inline def u(i: Int): Int = b(i) & 0xff
    @inline def be32(i: Int): Long =
      (u(i).toLong << 24) | (u(i + 1) << 16) | (u(i + 2) << 8) | u(i + 3)
    @inline def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
    @inline def id4(i: Int, s: String): Boolean =
      u(i) == s.charAt(0) && u(i + 1) == s.charAt(1) &&
        u(i + 2) == s.charAt(2) && u(i + 3) == s.charAt(3)
    // (boxEnd, payloadStart) for the box at pos, or (-1, -1) when the
    // header is malformed / runs past `limit`.
    def boxBounds(pos: Int, limit: Int): (Long, Int) = {
      val size = be32(pos)
      if (size == 1L) {
        if (pos + 16 > limit) (-1L, -1)
        else {
          val large = be64(pos + 8)
          if (large < 16) (-1L, -1) else (pos + large, pos + 16)
        }
      } else if (size == 0L) (limit.toLong, pos + 8) // box extends to EOF
      else if (size < 8) (-1L, -1)
      else (pos + size, pos + 8)
    }
    if (b.length < 12) return null
    if (!id4(4, "ftyp")) return null // MP4 magic: ftyp must lead
    val brand = new String(b, 8, 4, java.nio.charset.StandardCharsets.US_ASCII)
    var pos = 0
    var timescale = -1L
    var duration = -1L
    var tracks = 0
    var sawMoov = false
    while (pos + 8 <= b.length && !sawMoov) {
      val (boxEnd, payload) = boxBounds(pos, b.length)
      if (boxEnd < 0 || boxEnd > b.length || payload < 0) return null
      if (id4(pos + 4, "moov")) {
        sawMoov = true
        // walk moov's children: mvhd + trak live at this level
        var cp = payload
        val limit = boxEnd.toInt
        while (cp + 8 <= limit) {
          val (cEnd, cPayload) = boxBounds(cp, limit)
          if (cEnd < 0 || cEnd > limit || cPayload < 0) return null
          if (id4(cp + 4, "mvhd")) {
            val version = if (cPayload < limit) u(cPayload) else -1
            // all ones marks an unknown duration (§8.2.2.3): read as 0;
            // a u64 past Long.MaxValue is no duration either
            if (version == 0 && cPayload + 20 <= limit) {
              timescale = be32(cPayload + 12)
              duration = be32(cPayload + 16)
              if (duration == 0xffffffffL) duration = 0L
            } else if (version == 1 && cPayload + 32 <= limit) {
              timescale = be32(cPayload + 20)
              duration = math.max(be64(cPayload + 24), 0L)
            }
          } else if (id4(cp + 4, "trak")) {
            tracks += 1
          }
          cp = cEnd.toInt
        }
      }
      pos = boxEnd.toInt
    }
    if (!sawMoov || timescale < 0) return null
    new GenericInternalRow(Array[Any](
      org.apache.spark.unsafe.types.UTF8String.fromString(brand),
      timescale, duration, tracks))
  }
}

/** wav_frame_energy(binary, frameSize) →
  * array<struct<frame:int, n:int, sum_sq:bigint, zc:int>> | null —
  * frame-level audio feature extraction over the PCM16 payload: the
  * samples are split into consecutive `frameSize`-sample frames and
  * each frame folds its sample count, energy (sum of squared samples,
  * exact Int64) and zero-crossing count (adjacent within-frame pairs
  * with strictly opposite signs). RMS per frame = sqrt(sum_sq / n) in
  * query space; zc/n is the classic voiced/unvoiced heuristic. The
  * RIFF walk and PCM16-only gating are identical to `WavPcm16Stats`;
  * a trailing partial frame is emitted with its true n. Integer math
  * only — bit-deterministic under any partitioning.
  *
  * Scale shape: per-row bounded compute inside whole-stage codegen
  * (static-call emission), no shuffle; downstream per-frame rows come
  * from posexplode over the returned array. */
case class WavFrameEnergy(child: Expression, frameSize: Int)
    extends UnaryExpression {
  require(frameSize > 0, s"frameSize must be positive, got $frameSize")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("frame", IntegerType, nullable = false),
    StructField("n", IntegerType, nullable = false),
    StructField("sum_sq", LongType, nullable = false),
    StructField("zc", IntegerType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    WavFrameEnergy.evalBytes(input.asInstanceOf[Array[Byte]], frameSize)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val arr = ctx.freshName("frames")
      s"""
      org.apache.spark.sql.catalyst.util.ArrayData $arr =
        graft.functions.WavFrameEnergy.evalBytes($c, $frameSize);
      if ($arr == null) { ${ev.isNull} = true; } else { ${ev.value} = $arr; }
      """
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WavFrameEnergy {
  /** Static RIFF walk + per-frame fold shared by both execution paths. */
  def evalBytes(b: Array[Byte], frameSize: Int):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    @inline def u(i: Int): Int = b(i) & 0xff
    @inline def le16(i: Int): Int = u(i) | (u(i + 1) << 8)
    @inline def le32(i: Int): Long =
      le16(i).toLong | (le16(i + 2).toLong << 16)
    @inline def id4(i: Int, s: String): Boolean =
      u(i) == s.charAt(0) && u(i + 1) == s.charAt(1) &&
        u(i + 2) == s.charAt(2) && u(i + 3) == s.charAt(3)
    if (b.length < 44) return null
    if (!(id4(0, "RIFF") && id4(8, "WAVE"))) return null
    var pos = 12
    var fmtPos = -1
    var dataPos = -1
    var dataLen = 0L
    while (pos + 8 <= b.length && (fmtPos < 0 || dataPos < 0)) {
      val size = le32(pos + 4)
      if (id4(pos, "fmt ")) fmtPos = pos + 8
      else if (id4(pos, "data")) { dataPos = pos + 8; dataLen = size }
      val step = 8L + size + (size & 1L)
      if (step <= 0 || pos + step > Int.MaxValue) pos = b.length
      else pos += step.toInt
    }
    if (fmtPos < 0 || dataPos < 0 || fmtPos + 16 > b.length) return null
    if (le16(fmtPos) != 1 || le16(fmtPos + 14) != 16) return null // PCM16 only
    val end = math.min(b.length.toLong, dataPos + dataLen).toInt
    val nSamples = math.max(0, (end - dataPos) / 2)
    val nFrames = (nSamples + frameSize - 1) / frameSize
    val out = new Array[Any](nFrames)
    var f = 0
    while (f < nFrames) {
      val start = dataPos + f * frameSize * 2
      val stop = math.min(end, start + frameSize * 2)
      var i = start
      var n = 0
      var sumSq = 0L
      var zc = 0
      var prev = 0
      while (i + 1 < stop) {
        val s = (b(i + 1) << 8) | u(i)
        sumSq += s.toLong * s
        if (n > 0 && prev.toLong * s < 0) zc += 1
        prev = s
        n += 1
        i += 2
      }
      out(f) = new GenericInternalRow(Array[Any](f, n, sumSq, zc))
      f += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}
