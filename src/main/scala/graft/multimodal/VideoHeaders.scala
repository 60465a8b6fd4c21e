package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** REAL (non-stub) video container metadata — completes the multimodal
  * header triad (images: [[ImageHeaders]], audio: [[AudioHeaders]]):
  * ISO BMFF / MP4 box parsing straight from container bytes, no media
  * libraries. Frame decode stays behind [[MediaDecoder]].
  *
  *  - MP4/MOV ("ftyp" box at offset 4): top-level box walk to `moov`,
  *    then its children — `mvhd` carries timescale + duration (version 0:
  *    32-bit at payload +12/+16; version 1: timescale at +20, 64-bit duration at +24), `trak`/
  *    `tkhd` carries track width/height as 16.16 fixed point in the last
  *    8 payload bytes (ISO/IEC 14496-12 §8.2.2, §8.3.2). Box sizes are
  *    u32 with size==1 → 64-bit largesize; the walk uses a Long cursor
  *    and treats any malformed size as end-of-parse (NULLs, never a
  *    throw) — one bounded-loop UDF returning the whole tuple.
  *  - WebM/MKV (EBML magic 0x1A45DFA3): a bounded EBML element walk —
  *    VINT ids keep their marker bit, VINT sizes strip it, the all-ones
  *    size means unknown extent (live-muxed Segments) and extends to the
  *    blob end. Segment → Info carries TimecodeScale (default 10⁶ ns) and
  *    Duration (4- or 8-byte big-endian IEEE float, in timecode units);
  *    Segment → Tracks → TrackEntry → Video carries PixelWidth/Height
  *    (Matroska spec / RFC 9559 §4).
  *  - AVI ("RIFF"+"AVI "): the same bounded RIFF chunk walk as WAV, into
  *    LIST/hdrl for the `avih` main header — µs/frame, total frames,
  *    width, height at fixed offsets (AVIMAINHEADER, OpenDML spec);
  *    duration = µsPerFrame · totalFrames / 1000.
  *
  * The first video track's dimensions win (the reference corpus shape:
  * one video track + audio tracks whose tkhd dims are zero). */
object VideoHeaders {
  import ByteCols.{ascii4, u8}

  /** Format sniff: mp4 | webm | avi | NULL. */
  def videoFormat(bytes: Column): Column =
    when(length(bytes) >= 12 && ascii4(bytes, 5) === "ftyp", "mp4")
    .when(length(bytes) >= 4 &&
      u8(bytes, 1) === 0x1a && u8(bytes, 2) === 0x45 &&
      u8(bytes, 3) === 0xdf && u8(bytes, 4) === 0xa3, "webm")
    .when(length(bytes) >= 12 &&
      ascii4(bytes, 1) === "RIFF" && ascii4(bytes, 9) === "AVI ", "avi")

  /** (durationMs, width, height) from the moov walk; -1 = field absent. */
  private[multimodal] def mp4Params(b: Array[Byte]): Option[(Long, Int, Int)] = {
    if (b == null || b.length < 12) return None
    def u32(i: Long): Long = {
      val ii = i.toInt
      ((b(ii) & 0xffL) << 24) | ((b(ii + 1) & 0xffL) << 16) |
        ((b(ii + 2) & 0xffL) << 8) | (b(ii + 3) & 0xffL)
    }
    def u64(i: Long): Long = (u32(i) << 32) | u32(i + 4)
    def boxType(i: Long): String = new String(b, i.toInt + 4, 4, "US-ASCII")
    // header size for the box at i, or -1 when malformed/truncated
    def walk(from: Long, to: Long)(f: (String, Long, Long) => Unit): Unit = {
      var i = from
      while (i + 8 <= to) {
        val declared = u32(i)
        val (size, hdr) =
          if (declared == 1L && i + 16 <= to) (u64(i + 8), 16L)
          else (declared, 8L)
        if (size < hdr || i + size > to) return // malformed: stop, keep found
        f(boxType(i), i + hdr, i + size)
        i += size
      }
    }
    if (boxType(0) != "ftyp") return None // type field of the box at 0
    var durationMs = -1L
    var w = -1; var h = -1
    walk(0L, b.length.toLong) { (t, start, end) =>
      if (t == "moov") walk(start, end) { (t2, s2, e2) =>
        if (t2 == "mvhd" && e2 - s2 >= 20) {
          val version = b(s2.toInt) & 0xff
          // v1: version/flags(4) + creation(8) + modification(8) →
          // timescale u32 at +20, duration u64 at +24 (ISO 14496-12 §8.2.2)
          val (timescale, duration) =
            if (version == 1 && e2 - s2 >= 32) (u32(s2 + 20), u64(s2 + 24))
            else (u32(s2 + 12), u32(s2 + 16))
          if (timescale > 0) durationMs = duration * 1000L / timescale
        } else if (t2 == "trak") walk(s2, e2) { (t3, s3, e3) =>
          // width/height: 16.16 fixed point in the LAST 8 payload bytes
          if (t3 == "tkhd" && e3 - s3 >= 8 && w <= 0) {
            val tw = (u32(e3 - 8) >> 16).toInt
            val th = (u32(e3 - 4) >> 16).toInt
            if (tw > 0 && th > 0) { w = tw; h = th } // first video track wins
          }
        }
      }
    }
    Some((durationMs, w, h))
  }

  /** ONE box walk per row: (durationMs|-1, width|-1, height|-1). */
  private val mp4MetaUdf = udf((b: Array[Byte]) => mp4Params(b))

  /** (durationMs, width, height) from the EBML walk; -1 = field absent. */
  private[multimodal] def webmParams(b: Array[Byte]): Option[(Long, Int, Int)] = {
    if (b == null || b.length < 5) return None
    if (!((b(0) & 0xff) == 0x1a && (b(1) & 0xff) == 0x45 &&
        (b(2) & 0xff) == 0xdf && (b(3) & 0xff) == 0xa3)) return None
    // VINT at i: (value, byteLength); value −1 = malformed, −2 = the
    // all-ones "unknown size" marker (only meaningful for sizes)
    def vint(i: Long, keepMarker: Boolean): (Long, Int) = {
      if (i >= b.length) return (-1L, 0)
      val first = b(i.toInt) & 0xff
      if (first == 0) return (-1L, 0) // >8-byte VINT: out of scope
      val len = java.lang.Integer.numberOfLeadingZeros(first) - 23
      if (i + len > b.length) return (-1L, 0)
      var v: Long = if (keepMarker) first else first & (0xff >>> len)
      var allOnes = !keepMarker && (first & (0xff >>> len)) == (0xff >>> len)
      var k = 1
      while (k < len) {
        val x = b(i.toInt + k) & 0xff
        v = (v << 8) | x
        if (x != 0xff) allOnes = false
        k += 1
      }
      if (allOnes) (-2L, len) else (v, len)
    }
    // children of [from, to): f(id, payloadStart, payloadEnd)
    def walk(from: Long, to: Long)(f: (Long, Long, Long) => Unit): Unit = {
      var i = from
      while (i < to) {
        val (id, idLen) = vint(i, keepMarker = true)
        if (idLen == 0 || id < 0) return
        val (size, szLen) = vint(i + idLen, keepMarker = false)
        if (szLen == 0 || size == -1L) return
        val start = i + idLen + szLen
        val end = if (size == -2L) to else start + size
        if (end > to || end < start) return // malformed: stop, keep found
        f(id, start, end)
        i = end
      }
    }
    def uint(s: Long, e: Long): Long = {
      var v = 0L; var i = s
      while (i < e && i - s < 8) { v = (v << 8) | (b(i.toInt) & 0xff); i += 1 }
      v
    }
    def float(s: Long, e: Long): Double =
      if (e - s == 4) java.lang.Float.intBitsToFloat(uint(s, e).toInt).toDouble
      else if (e - s == 8) java.lang.Double.longBitsToDouble(uint(s, e))
      else -1.0
    var timecodeScale = 1000000L // ns per timecode unit (spec default)
    var durationTc = -1.0
    var w = -1; var h = -1
    walk(0L, b.length.toLong) { (id, s, e) =>
      if (id == 0x18538067L) walk(s, e) { (id2, s2, e2) => // Segment
        if (id2 == 0x1549A966L) walk(s2, e2) { (id3, s3, e3) => // Info
          if (id3 == 0x2AD7B1L && uint(s3, e3) > 0) timecodeScale = uint(s3, e3)
          else if (id3 == 0x4489L) durationTc = float(s3, e3)
        }
        else if (id2 == 0x1654AE6BL) walk(s2, e2) { (id3, s3, e3) => // Tracks
          if (id3 == 0xAEL) walk(s3, e3) { (id4, s4, e4) => // TrackEntry
            if (id4 == 0xE0L) walk(s4, e4) { (id5, s5, e5) => // Video
              if (id5 == 0xB0L && w <= 0) w = uint(s5, e5).toInt
              else if (id5 == 0xBAL && h <= 0) h = uint(s5, e5).toInt
            }
          }
        }
      }
    }
    val durMs =
      if (durationTc > 0) (durationTc * timecodeScale / 1e6).toLong else -1L
    Some((durMs, w, h))
  }

  private val webmMetaUdf = udf((b: Array[Byte]) => webmParams(b))

  /** (durationMs, width, height) from the AVI main header; -1 = absent. */
  private[multimodal] def aviParams(b: Array[Byte]): Option[(Long, Int, Int)] = {
    if (b == null || b.length < 12) return None
    def le32(i: Long): Long = {
      val ii = i.toInt
      (b(ii) & 0xffL) | ((b(ii + 1) & 0xffL) << 8) |
        ((b(ii + 2) & 0xffL) << 16) | ((b(ii + 3) & 0xffL) << 24)
    }
    def tag(i: Long): String = new String(b, i.toInt, 4, "US-ASCII")
    if (tag(0) != "RIFF" || tag(8) != "AVI ") return None
    var result: Option[(Long, Int, Int)] = None
    // chunk walk with a Long cursor (same discipline as wavParams);
    // LIST payloads open with their 4-byte list type, then children
    def walk(from: Long, to: Long): Unit = {
      var i = from
      while (result.isEmpty && i + 8 <= to) {
        val id = tag(i)
        val size = le32(i + 4)
        val end = i + 8 + size
        if (size < 0 || end > to) return // malformed: stop
        if (id == "LIST" && size >= 4) {
          if (tag(i + 8) == "hdrl") walk(i + 12, end)
        } else if (id == "avih" && size >= 40) {
          val usPerFrame = le32(i + 8)
          val totalFrames = le32(i + 24)
          val w = le32(i + 40).toInt
          val h = le32(i + 44).toInt
          val dur =
            if (usPerFrame > 0 && totalFrames > 0)
              usPerFrame * totalFrames / 1000L
            else -1L
          result = Some((dur, if (w > 0) w else -1, if (h > 0) h else -1))
        }
        i = end + (size & 1L) // word alignment, as RIFF
      }
    }
    walk(12L, b.length.toLong)
    result
  }

  private val aviMetaUdf = udf((b: Array[Byte]) => aviParams(b))

  private def metaColumns(bytes: Column): Seq[(String, Column)] = {
    val fmt = videoFormat(bytes)
    val mp4 = mp4MetaUdf(when(fmt === "mp4", bytes)) // NULL input → NULL out
    val webm = webmMetaUdf(when(fmt === "webm", bytes))
    val avi = aviMetaUdf(when(fmt === "avi", bytes))
    def pos(c: Column) = when(c >= 0, c)
    def field(i: Int): Column =
      when(fmt === "mp4", pos(mp4.getField(s"_$i")))
        .when(fmt === "webm", pos(webm.getField(s"_$i")))
        .when(fmt === "avi", pos(avi.getField(s"_$i")))
    Seq(
      "video_format" -> fmt,
      "video_duration_ms" -> field(1),
      "video_width" -> field(2),
      "video_height" -> field(3))
  }

  /** Attach (format, duration_ms, width, height) metadata columns parsed
    * from the binary column. */
  def withVideoMeta(df: DataFrame, bytesCol: String): DataFrame =
    metaColumns(col(bytesCol)).foldLeft(df) { case (d, (name, c)) =>
      d.withColumn(name, c)
    }
}
