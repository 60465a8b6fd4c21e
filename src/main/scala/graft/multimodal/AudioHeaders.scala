package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** REAL (non-stub) audio metadata extraction — the audio sibling of
  * [[ImageHeaders]]: format sniffing and stream parameters straight from
  * the container headers, pure byte arithmetic on the `binary` column, no
  * media libraries. Sample decode stays behind [[MediaDecoder]].
  *
  *  - WAV: "RIFF" + "WAVE", then a chunk walk to the "fmt " chunk
  *    (channels, sample rate, bits/sample as little-endian fields) and
  *    the "data" chunk (payload size → duration; RIFF spec). Chunks may
  *    appear in any order with arbitrary padding chunks between, so the
  *    walk is a bounded loop — ONE deterministic UDF producing the whole
  *    parameter struct (per-field UDFs would re-walk per column),
  *    O(#chunks), Long cursor so a crafted chunk size can't overflow
  *    into a negative offset.
  *  - FLAC: "fLaC", then the mandatory first STREAMINFO block carries
  *    sample rate (20 bits), channels-1 (3 bits) and total samples
  *    (36 bits) bit-packed at byte 18 (FLAC format spec §METADATA_BLOCK_
  *    STREAMINFO) — fixed offsets, declarative byte math.
  *  - MP3: skip an ID3v2 tag (syncsafe size), scan a bounded window for
  *    the 0xFFEx frame sync, decode the 4-byte frame header through the
  *    MPEG-1/2/2.5 bitrate and sample-rate tables (ISO 11172-3 §2.4.2.3 /
  *    13818-3). Duration prefers the Xing/Info or VBRI frame count (the
  *    VBR case, where first-frame bitrate lies) and falls back to the
  *    CBR byte-length estimate.
  *  - OGG: codec parameters from the first page's Vorbis/Opus id header;
  *    duration from the highest granule position over a bounded page walk
  *    (page size = 27 + segments + segment-table sum). Opus granules run
  *    at 48 kHz regardless of the input rate (RFC 7845 §4).
  *  - ADTS AAC: 0xFFFx syncword with layer bits 00 (disambiguated from a
  *    raw MP3 sync by (b2 & 0xF6) == 0xF0), sampling-frequency-index and
  *    channel-configuration from the fixed header, duration by a
  *    frame-length walk at 1024 samples/frame (ISO 13818-7 §6.2).
  *
  * Unknown/truncated/malformed blobs yield NULL fields (a missing data
  * chunk yields NULL duration, not 0) — callers route them to the decode
  * stage or a reject channel, as with images.
  */
object AudioHeaders {
  import ByteCols.{ascii4, u8}

  /** Format sniff from magic bytes: wav | flac | mp3 | ogg | NULL. */
  def audioFormat(bytes: Column): Column =
    when(length(bytes) >= 12 &&
      ascii4(bytes, 1) === "RIFF" && ascii4(bytes, 9) === "WAVE", "wav")
    .when(length(bytes) >= 4 && ascii4(bytes, 1) === "fLaC", "flac")
    .when(length(bytes) >= 3 && substring(bytes, 1, 3).cast("string") === "ID3", "mp3")
    // ADTS AAC must sniff BEFORE the raw MP3 sync: both start 0xFF Ex,
    // but ADTS has layer bits 00 (ISO 13818-7 §6.2) where MPEG audio
    // layers are 01/10/11 — (b2 & 0xF6) == 0xF0 is the discriminator
    .when(length(bytes) >= 7 &&
      u8(bytes, 1) === 0xff && u8(bytes, 2).bitwiseAND(lit(0xf6)) === 0xf0,
      "aac")
    .when(length(bytes) >= 2 &&
      u8(bytes, 1) === 0xff && (u8(bytes, 2) >= 0xe0), "mp3")
    .when(length(bytes) >= 4 && ascii4(bytes, 1) === "OggS", "ogg")

  /** Parsed WAV parameters from the fmt/data chunk walk; `dataBytes` is
    * -1 when no data chunk was found (mapped to NULL duration). */
  private[multimodal] def wavParams(b: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    def le16(i: Int) = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
    def le32(i: Int): Long = (le16(i) | (le16(i + 2).toLong << 16)) & 0xffffffffL
    if (b == null || b.length < 12) return None
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return None
    var i = 12L // Long cursor: a crafted u32 chunk size must not wrap an Int
    var fmt: Option[(Int, Int, Int)] = None
    var dataBytes = -1L
    while (i + 8 <= b.length && (fmt.isEmpty || dataBytes < 0)) {
      val ii = i.toInt
      val id = new String(b, ii, 4, "US-ASCII")
      val size = le32(ii + 4)
      if (id == "fmt " && i + 8 + 16 <= b.length) {
        val channels = le16(ii + 10)
        val rate = le32(ii + 12).toInt
        val bits = le16(ii + 22)
        fmt = Some((channels, rate, bits))
      } else if (id == "data") {
        dataBytes = size
      }
      // chunks are word-aligned: odd sizes carry one pad byte (RIFF spec)
      i += 8L + size + (size & 1L)
    }
    fmt.map { case (c, r, bt) => (c, r, bt, dataBytes) }
  }

  /** ONE chunk walk per row: the whole parameter tuple as a struct column
    * (_1 channels, _2 rate, _3 bits, _4 dataBytes|-1). */
  private val wavMetaUdf = udf((b: Array[Byte]) => wavParams(b))

  // MPEG audio bitrate tables, kbps (ISO 11172-3 table 3-B.2 / 13818-3):
  // index 0 = "free format", 15 = invalid — both yield no CBR estimate.
  private val V1L1 = Array(0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448)
  private val V1L2 = Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384)
  private val V1L3 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val V2L1 = Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256)
  private val V2L23 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)

  /** MP3 (channels, sampleRate, durationMs | -1): ID3v2 skip → bounded
    * sync scan → frame-header decode → Xing/Info/VBRI frame count when
    * present, else the CBR byte estimate. */
  private[multimodal] def mp3Params(b: Array[Byte]): Option[(Int, Int, Long)] = {
    if (b == null || b.length < 4) return None
    def u32be(i: Long): Long = {
      val ii = i.toInt
      ((b(ii) & 0xffL) << 24) | ((b(ii + 1) & 0xffL) << 16) |
        ((b(ii + 2) & 0xffL) << 8) | (b(ii + 3) & 0xffL)
    }
    var off = 0L
    if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      // ID3v2 size is syncsafe: 4 × 7 bits (id3v2.4 §3.1)
      val sz = ((b(6) & 0x7fL) << 21) | ((b(7) & 0x7fL) << 14) |
        ((b(8) & 0x7fL) << 7) | (b(9) & 0x7fL)
      off = 10L + sz
    }
    // bounded scan for the frame sync — tag padding/junk happens in the
    // wild, but an unbounded scan over a corrupt blob is a DoS on a
    // corpus job
    val limit = math.min(b.length - 4L, off + 8192L)
    while (off <= limit && !((b(off.toInt) & 0xff) == 0xff &&
        (b(off.toInt + 1) & 0xe0) == 0xe0)) off += 1
    if (off > limit || off < 0) return None
    val h1 = b(off.toInt + 1) & 0xff
    val h2 = b(off.toInt + 2) & 0xff
    val h3 = b(off.toInt + 3) & 0xff
    val versionBits = (h1 >> 3) & 3 // 0 = MPEG2.5, 2 = MPEG2, 3 = MPEG1
    val layerBits = (h1 >> 1) & 3 // 1 = III, 2 = II, 3 = I
    if (versionBits == 1 || layerBits == 0) return None
    val rateIdx = (h2 >> 2) & 3
    if (rateIdx == 3) return None
    val rate = versionBits match {
      case 3 => Array(44100, 48000, 32000)(rateIdx)
      case 2 => Array(22050, 24000, 16000)(rateIdx)
      case _ => Array(11025, 12000, 8000)(rateIdx)
    }
    val channels = if (((h3 >> 6) & 3) == 3) 1 else 2
    val v1 = versionBits == 3
    val kbps = (if (v1) layerBits match {
        case 3 => V1L1
        case 2 => V1L2
        case _ => V1L3
      }
      else if (layerBits == 3) V2L1
      else V2L23)((h2 >> 4) & 15)
    val samplesPerFrame =
      if (layerBits == 3) 384
      else if (layerBits == 2) 1152
      else if (v1) 1152
      else 576
    var durMs = -1L
    if (layerBits == 1) { // Xing/VBRI live after layer-III side info only
      val sideInfo =
        if (v1) { if (channels == 1) 17 else 32 }
        else { if (channels == 1) 9 else 17 }
      val xi = off + 4 + sideInfo
      if (xi + 12 <= b.length) {
        val tag = new String(b, xi.toInt, 4, "US-ASCII")
        if ((tag == "Xing" || tag == "Info") && (u32be(xi + 4) & 1L) != 0) {
          val frames = u32be(xi + 8)
          if (frames > 0) durMs = frames * samplesPerFrame * 1000L / rate
        }
      }
      val vi = off + 4 + 32 // VBRI sits at a fixed 32-byte offset
      if (durMs < 0 && vi + 18 <= b.length &&
          new String(b, vi.toInt, 4, "US-ASCII") == "VBRI") {
        val frames = u32be(vi + 14)
        if (frames > 0) durMs = frames * samplesPerFrame * 1000L / rate
      }
    }
    if (durMs < 0 && kbps > 0) durMs = (b.length - off) * 8L / kbps
    Some((channels, rate, durMs))
  }

  private val mp3MetaUdf = udf((b: Array[Byte]) => mp3Params(b))

  /** ID3v2.3/2.4 TEXT frames (TIT2 title, TPE1 artist, TALB album, …) as
    * a string map — the tag walk the format sniff already skips over,
    * now harvested: syncsafe tag size, optional extended header, then a
    * bounded frame walk (≤ 64 frames, sizes validated against the tag
    * end) decoding the four standard text encodings. Malformed frames
    * end the walk instead of throwing — corpus jobs meet hostile bytes.
    * ID3v2.2 (3-byte frame ids) and unversioned blobs yield None. */
  private[multimodal] def id3TextFrames(b: Array[Byte]): Option[Map[String, String]] = {
    if (b == null || b.length < 10 || b(0) != 'I' || b(1) != 'D' || b(2) != '3')
      return None
    val ver = b(3) & 0xff
    if (ver != 3 && ver != 4) return None
    def syncsafe(i: Int): Long = ((b(i) & 0x7fL) << 21) |
      ((b(i + 1) & 0x7fL) << 14) | ((b(i + 2) & 0x7fL) << 7) | (b(i + 3) & 0x7fL)
    def u32(i: Int): Long = ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
    val tagEnd = math.min(10L + syncsafe(6), b.length.toLong)
    var off = 10L
    if ((b(5) & 0x40) != 0 && off + 4 <= tagEnd) { // extended header
      val esz = if (ver == 4) syncsafe(off.toInt) else u32(off.toInt) + 4
      off += esz
    }
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var frames = 0
    while (off + 10 <= tagEnd && frames < 64 && b(off.toInt) != 0) {
      val id = new String(b, off.toInt, 4, "US-ASCII")
      if (!id.forall(c => (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')))
        return Some(out.toMap)
      val fsz = if (ver == 4) syncsafe(off.toInt + 4) else u32(off.toInt + 4)
      val body = off + 10
      if (fsz < 1 || body + fsz > tagEnd) return Some(out.toMap)
      if (id.charAt(0) == 'T' && id != "TXXX") {
        val enc = b(body.toInt) & 0xff
        val raw = new String(b, body.toInt + 1, (fsz - 1).toInt, enc match {
          case 0 => "ISO-8859-1"
          case 1 => "UTF-16"   // BOM-led
          case 2 => "UTF-16BE"
          case _ => "UTF-8"
        })
        // v2.4 allows NUL-separated multi-values; keep the first
        val clean = raw.takeWhile(_ != '\u0000')
        if (clean.nonEmpty) out(id) = clean
      }
      off = body + fsz
      frames += 1
    }
    Some(out.toMap)
  }

  private val id3Udf = udf((b: Array[Byte]) => id3TextFrames(b))

  /** MAP<STRING,STRING> of ID3v2 text frames (NULL for non-ID3 input). */
  def id3Tags(bytes: Column): Column = id3Udf(bytes)

  /** OGG (channels, sampleRate, durationMs | -1): Vorbis/Opus id header on
    * the first page, highest granule over the page walk. */
  private[multimodal] def oggParams(b: Array[Byte]): Option[(Int, Int, Long)] = {
    if (b == null || b.length < 28) return None
    def u32le(i: Int): Long = (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
    def u64le(i: Int): Long = u32le(i) | (u32le(i + 4) << 32)
    def isCapture(i: Long): Boolean = i + 4 <= b.length &&
      b(i.toInt) == 'O' && b(i.toInt + 1) == 'g' && b(i.toInt + 2) == 'g' &&
      b(i.toInt + 3) == 'S'
    if (!isCapture(0)) return None
    var channels = -1
    var rate = -1
    var granRate = -1 // granule clock: the codec rate (Vorbis) or 48 kHz (Opus)
    var lastGranule = -1L
    var first = true
    var i = 0L
    var ok = true
    while (ok && i + 27 <= b.length && isCapture(i)) {
      val ii = i.toInt
      val nseg = b(ii + 26) & 0xff
      if (i + 27 + nseg > b.length) ok = false
      else {
        var payload = 0L
        var k = 0
        while (k < nseg) { payload += (b(ii + 27 + k) & 0xff); k += 1 }
        // granule −1 (all ones) = no packet finishes on this page
        val g = u64le(ii + 6)
        if (g >= 0 && g > lastGranule) lastGranule = g
        val p = i + 27 + nseg
        if (first && p + 19 <= b.length && payload >= 19) {
          if ((b(p.toInt) & 0xff) == 1 &&
              new String(b, p.toInt + 1, 6, "US-ASCII") == "vorbis") {
            channels = b(p.toInt + 11) & 0xff // id header §4.2.2
            rate = u32le(p.toInt + 12).toInt
            granRate = rate
          } else if (new String(b, p.toInt, 8, "US-ASCII") == "OpusHead") {
            channels = b(p.toInt + 9) & 0xff // RFC 7845 §5.1
            rate = u32le(p.toInt + 12).toInt
            granRate = 48000
          }
        }
        first = false
        if (p + payload > b.length) ok = false else i = p + payload
      }
    }
    if (channels < 0) return None
    val durMs =
      if (lastGranule > 0 && granRate > 0) lastGranule * 1000L / granRate
      else -1L
    Some((channels, rate, durMs))
  }

  private val oggMetaUdf = udf((b: Array[Byte]) => oggParams(b))

  /** ADTS sampling-frequency-index table (ISO/IEC 13818-7 / 14496-3). */
  private val AdtsRates = Array(96000, 88200, 64000, 48000, 44100, 32000,
    24000, 22050, 16000, 12000, 11025, 8000, 7350)

  /** ADTS AAC parameters: (channels | -1 when PCE-carried, sample_rate,
    * duration_ms | -1 unknown). The frame walk counts syncword-aligned
    * frames through each header's 13-bit frame-length field (13818-7
    * §6.2; 1024 samples per frame); trailing garbage after a desync stops
    * the count rather than failing the blob. Hostile-byte discipline as
    * the MP3/OGG walks: Long cursor, bounded iterations, every read
    * length-checked. */
  private[multimodal] def aacParams(b: Array[Byte]): Option[(Int, Int, Long)] = {
    if (b == null || b.length < 7) return None
    def u(i: Long): Int = b(i.toInt) & 0xff
    if (u(0) != 0xff || (u(1) & 0xf6) != 0xf0) return None
    val sfi = (u(2) >> 2) & 0xf
    if (sfi >= AdtsRates.length) return None
    val rate = AdtsRates(sfi)
    val ch = ((u(2) & 1) << 2) | (u(3) >> 6)
    var i = 0L
    var frames = 0L
    var ok = true
    while (ok && i + 7 <= b.length && frames < 4000000L) {
      if (u(i) != 0xff || (u(i + 1) & 0xf6) != 0xf0) ok = false
      else {
        val flen = ((u(i + 3) & 0x03) << 11) | (u(i + 4) << 3) | (u(i + 5) >> 5)
        if (flen < 7) ok = false
        else { frames += 1; i += flen }
      }
    }
    val durMs = if (frames > 0) frames * 1024L * 1000L / rate else -1L
    Some((if (ch == 0) -1 else ch, rate, durMs))
  }

  private val aacMetaUdf = udf((b: Array[Byte]) => aacParams(b))

  // FLAC STREAMINFO (mandatory first metadata block, header at byte 4,
  // payload at byte 8; 1-based substring offsets): sample rate = 20 bits
  // starting at payload byte 10, then 3 channel bits, 5 bits/sample bits,
  // 36 total-sample bits (spec field order).
  private def flacRate(c: Column): Column =
    (u8(c, 19) * 4096 + u8(c, 20) * 16 + shiftright(u8(c, 21), 4)).cast("int")
  private def flacChannels(c: Column): Column =
    (shiftright(u8(c, 21), 1).bitwiseAND(lit(7)) + 1).cast("int")
  private def flacBits(c: Column): Column =
    (u8(c, 21).bitwiseAND(lit(1)) * 16 + shiftright(u8(c, 22), 4) + 1).cast("int")
  private def flacTotalSamples(c: Column): Column =
    (u8(c, 22).bitwiseAND(lit(15)).cast("long") * 4294967296L +
      u8(c, 23).cast("long") * 16777216L + u8(c, 24).cast("long") * 65536L +
      u8(c, 25).cast("long") * 256L + u8(c, 26).cast("long"))

  /** (format, channels, sample_rate, bits_per_sample, duration_ms) parsed
    * from `bytes` — evaluates each format's walk ONCE per row, behind the
    * format sniff so only the matching parser runs. */
  private def metaColumns(bytes: Column): Seq[(String, Column)] = {
    val fmt = audioFormat(bytes)
    val wav = wavMetaUdf(bytes) // struct(_1.._4) or NULL
    val mp3 = mp3MetaUdf(when(fmt === "mp3", bytes)) // NULL input → NULL out
    val ogg = oggMetaUdf(when(fmt === "ogg", bytes))
    val aac = aacMetaUdf(when(fmt === "aac", bytes))
    val isFlac = fmt === "flac" && length(bytes) >= 26
    val wavDataBytes = wav.getField("_4")
    // a malformed fmt chunk can declare 0 channels/rate/bits — guard the
    // denominator so the division yields NULL, not Infinity→Long.MaxValue
    val wavDur = when(
      wavDataBytes >= 0 && wav.getField("_1") > 0 && wav.getField("_2") > 0 &&
        wav.getField("_3") >= 8,
      (wavDataBytes.cast("double") * 1000.0 /
        (wav.getField("_2") * wav.getField("_1") * (wav.getField("_3") / lit(8))))
        .cast("long"))
    val flacDur = when(flacTotalSamples(bytes) > 0,
      (flacTotalSamples(bytes).cast("double") * 1000.0 / flacRate(bytes)).cast("long"))
    def dur(c: Column) = when(c.getField("_3") >= 0, c.getField("_3"))
    Seq(
      "audio_format" -> fmt,
      "audio_channels" -> when(fmt === "wav", wav.getField("_1"))
        .when(isFlac, flacChannels(bytes))
        .when(fmt === "mp3", mp3.getField("_1"))
        .when(fmt === "ogg", ogg.getField("_1"))
        // channel_configuration 0 defers to an in-stream PCE → NULL
        .when(fmt === "aac" && aac.getField("_1") > 0, aac.getField("_1")),
      "audio_sample_rate" -> when(fmt === "wav", wav.getField("_2"))
        .when(isFlac, flacRate(bytes))
        .when(fmt === "mp3", mp3.getField("_2"))
        .when(fmt === "ogg", ogg.getField("_2"))
        .when(fmt === "aac", aac.getField("_2")),
      // bits/sample is a PCM notion — NULL for the lossy codecs
      "audio_bits_per_sample" -> when(fmt === "wav", wav.getField("_3"))
        .when(isFlac, flacBits(bytes)),
      "audio_duration_ms" -> when(fmt === "wav", wavDur).when(isFlac, flacDur)
        .when(fmt === "mp3", dur(mp3)).when(fmt === "ogg", dur(ogg))
        .when(fmt === "aac", dur(aac)))
  }

  /** Attach (format, channels, sample_rate, bits_per_sample, duration_ms)
    * metadata columns parsed from the binary column. */
  def withAudioMeta(df: DataFrame, bytesCol: String): DataFrame =
    metaColumns(col(bytesCol)).foldLeft(df) { case (d, (name, c)) =>
      d.withColumn(name, c)
    }
}
