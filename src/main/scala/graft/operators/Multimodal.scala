package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Multimodal-column plumbing (north-star, SURVEY §7.6): media payloads as
  * opaque `binary` columns with typed metadata, processed per-partition in
  * batches — the Scala analogue of a Pandas-UDF/mapInPandas stage.
  *
  * The decode step is REAL for the containers the JDK ships codecs for —
  * PNG, JPEG, GIF, BMP via `javax.imageio`: `decode` pixel-decodes frame
  * 0 and emits actual dimensions, and an animated GIF reports its true
  * frame count, which makes the frame-sampling fan-out real rather than
  * stub arithmetic (MultimodalSpec decodes real PNG/JPEG/BMP bytes and a
  * written multi-frame GIF) — and WAV/AIFF/AU via `javax.sound.sampled`.
  * MP3 and ADTS/AAC, which have no JDK codec, get REAL frame-header
  * METADATA from a zero-dependency bit-field walk ([[readMpegAudioMeta]]
  * — sample rate, channels, PCM frame count, duration, CBR bitrate);
  * only their PCM decode remains external, behind the [[MediaCodec]]
  * seam. Everything else (video codecs, and the synthetic testdata's
  * text-bytes stand-ins) falls back to `fakeDecode`, which derives
  * deterministic pseudo-features from the raw bytes — an honest,
  * loudly-documented stub for the codecs this container lacks.
  *
  * Scale: decode runs via mapPartitions so per-record codec setup is
  * amortized per partition (the reason mapInPandas/mapPartitions exists);
  * payload bytes never shuffle — metadata extraction happens before any
  * exchange and only the small typed features flow onward.
  */
object Multimodal {

  /** One media payload: id + raw bytes + declared kind ("image"/"audio"). */
  final case class MediaRecord(media_id: Long, payload: Array[Byte], kind: String)

  /** Extracted features — what a real decoder would emit. */
  final case class MediaFeatures(
      media_id: Long, kind: String, n_bytes: Long,
      width: Int, height: Int, frames: Int, checksum: Long)

  /** Rolling polynomial checksum over the payload bytes — stable across
    * JVMs, partitionings and reruns, so specs can pin exact outputs. */
  private def byteChecksum(payload: Array[Byte]): Long = {
    var h = 1125899906842597L
    var i = 0
    while (i < payload.length) { h = 31 * h + (payload(i) & 0xFF); i += 1 }
    h
  }

  private val PngMagic: Array[Byte] =
    Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

  private def isPng(payload: Array[Byte]): Boolean =
    payload.length >= PngMagic.length &&
      PngMagic.indices.forall(i => payload(i) == PngMagic(i))

  /** Cheap container sniff over the formats the JDK ships codecs for, so
    * arbitrary bytes are never handed to the codec (ImageIO would
    * otherwise scan its full reader registry per record). PNG/JPEG/BMP
    * are stills; GIF is the JDK's one multi-frame container — the format
    * that makes [[sampleFrames]]' fan-out real instead of arithmetic. */
  private def sniffFormat(p: Array[Byte]): Option[String] =
    if (isPng(p)) Some("png")
    else if (p.length >= 3 && (p(0) & 0xFF) == 0xFF && (p(1) & 0xFF) == 0xD8 &&
      (p(2) & 0xFF) == 0xFF) Some("jpeg")
    else if (p.length >= 6 && p(0) == 'G' && p(1) == 'I' && p(2) == 'F' &&
      p(3) == '8' && (p(4) == '7' || p(4) == '9') && p(5) == 'a') Some("gif")
    else if (p.length >= 2 && p(0) == 'B' && p(1) == 'M') Some("bmp")
    else None

  /** Run `f` over the JDK reader for a payload — the shared reader dance
    * (input stream, registry lookup, dispose) behind every decode face.
    * None when no codec claims the bytes or the decode throws. */
  private def withReader[A](payload: Array[Byte])(f: javax.imageio.ImageReader => A): Option[A] = {
    val iis =
      try javax.imageio.ImageIO.createImageInputStream(new java.io.ByteArrayInputStream(payload))
      catch { case scala.util.control.NonFatal(_) => null }
    if (iis == null) None
    else try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val reader = readers.next()
        try {
          reader.setInput(iis, false, true)
          Some(f(reader))
        } catch { case scala.util.control.NonFatal(_) => None }
        finally reader.dispose()
      }
    } finally iis.close()
  }

  /** Decode the payload with the JDK codec it sniffed as: pixel-decode
    * frame 0 (dims from the decoded raster, not just the header) and
    * count the container's frames (`getNumImages(true)` walks GIF's
    * image blocks; stills report 1). None on any decode failure. */
  private def readImageMeta(payload: Array[Byte]): Option[(Int, Int, Int)] =
    withReader(payload) { reader =>
      val img = reader.read(0)
      val frames =
        try math.max(1, reader.getNumImages(true))
        catch { case scala.util.control.NonFatal(_) => 1 }
      (img.getWidth, img.getHeight, frames)
    }

  // ---- real audio decode (javax.sound.sampled — JDK-only) -----------------

  /** Container sniff for the audio formats the JDK ships parsers for:
    * RIFF/WAVE, AIFF, AU. Same doctrine as [[sniffFormat]] — arbitrary
    * bytes never reach the codec registry. */
  private def sniffAudioFormat(p: Array[Byte]): Option[String] =
    if (p.length >= 12 && p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
      p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E') Some("wav")
    else if (p.length >= 12 && p(0) == 'F' && p(1) == 'O' && p(2) == 'R' && p(3) == 'M' &&
      p(8) == 'A' && p(9) == 'I' && p(10) == 'F') Some("aiff") // AIFF or AIFC
    else if (p.length >= 4 && p(0) == '.' && p(1) == 's' && p(2) == 'n' && p(3) == 'd') Some("au")
    else None

  /** Run `f` over the JDK audio stream for a payload — the audio twin of
    * [[withReader]]. ByteArrayInputStream supports mark/reset, which
    * `AudioSystem.getAudioInputStream` requires for its format probe.
    * None when no parser claims the bytes or the decode throws. */
  private def withAudio[A](payload: Array[Byte])(
      f: javax.sound.sampled.AudioInputStream => A): Option[A] =
    try {
      val in = javax.sound.sampled.AudioSystem
        .getAudioInputStream(new java.io.ByteArrayInputStream(payload))
      try Some(f(in)) finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Real audio header decode: (sample_rate_hz, channels, sample_frames).
    * Mapped into [[MediaFeatures]] as width/height/frames — documented at
    * the one decode seam rather than forked into a second schema, so the
    * downstream plumbing (fan-out, metadata joins) is shared with images.
    * None on any parse failure. */
  private def readAudioMeta(payload: Array[Byte]): Option[(Int, Int, Int)] =
    withAudio(payload) { in =>
      val fmt = in.getFormat
      val frames = in.getFrameLength // WAV/AIFF/AU headers carry it; -1 never (non-stream source)
      (fmt.getSampleRate.toInt, fmt.getChannels,
        math.min(frames, Int.MaxValue.toLong).toInt.max(0))
    }

  /** Decode the PCM payload to a mono sample stream in [-1, 1]. Handles
    * the encodings the JDK parsers emit for real files — 16-bit signed
    * (either endianness) and 8-bit signed/unsigned; anything else (float
    * PCM, ULAW without conversion) returns None and the caller falls back
    * to the byte-raster stub. Channels are averaged to mono — the
    * fingerprint should pair a stereo file with its mono downmix. */
  private[graft] def decodePcmMono(payload: Array[Byte]): Option[Array[Double]] =
    withAudio(payload) { in =>
      val fmt = in.getFormat
      val enc = fmt.getEncoding
      val bits = fmt.getSampleSizeInBits
      val ch = fmt.getChannels
      import javax.sound.sampled.AudioFormat.Encoding._
      val ok = (enc == PCM_SIGNED && (bits == 16 || bits == 8)) ||
        (enc == PCM_UNSIGNED && bits == 8)
      if (!ok) null
      else {
        val raw = in.readAllBytes()
        val bytesPerSample = bits / 8
        val nFrames = raw.length / (bytesPerSample * ch)
        val out = new Array[Double](nFrames)
        var f = 0
        while (f < nFrames) {
          var s = 0.0
          var c = 0
          while (c < ch) {
            val off = (f * ch + c) * bytesPerSample
            s += (if (bits == 16) {
              val lo = raw(off + (if (fmt.isBigEndian) 1 else 0)) & 0xFF
              val hi = raw(off + (if (fmt.isBigEndian) 0 else 1)).toInt
              ((hi << 8) | lo).toShort / 32768.0
            } else if (enc == PCM_SIGNED) raw(off) / 128.0
            else ((raw(off) & 0xFF) - 128) / 128.0)
            c += 1
          }
          out(f) = s / ch
          f += 1
        }
        out
      }
    }.flatMap(Option(_))

  // ---- MPEG audio frame-header metadata (zero-dependency bit parse) -------
  // MP3 and ADTS/AAC have no JDK codec, so their PCM decode stays behind
  // the MediaCodec seam — but their FRAME HEADERS are plain bit fields
  // (public format: ISO/IEC 11172-3 §2.4.1.3 / 14496-3 §1.A.3), so real
  // duration/bitrate/frame-count metadata needs no codec at all. This
  // shrinks the documented fallback residue to PCM decode only
  // (r18 verdict item 6).

  /** Parsed MPEG-audio stream summary. `sampleFrames` = PCM frames the
    * stream decodes to (per-frame samples × frame count); duration and
    * mean bitrate derive from it. */
  final case class MpegAudioMeta(container: String, sampleRate: Int,
      channels: Int, nFrames: Int, sampleFrames: Long, bitrateKbps: Option[Int]) {
    def durationMs: Long = sampleFrames * 1000L / sampleRate
  }

  /** MPEG1/2/2.5 Layer III bitrate table (kbps; index 0 = free, 15 = bad). */
  private val Mp3BitrateV1 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val Mp3BitrateV2 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
  private val Mp3RateV1 = Array(44100, 48000, 32000)
  private val Mp3RateV2 = Array(22050, 24000, 16000)
  private val Mp3RateV25 = Array(11025, 12000, 8000)
  private val AdtsRates = Array(96000, 88200, 64000, 48000, 44100, 32000,
    24000, 22050, 16000, 12000, 11025, 8000)

  /** ID3v2 prefix length (syncsafe size), 0 when absent. */
  private def id3v2Len(p: Array[Byte]): Int =
    if (p.length >= 10 && p(0) == 'I' && p(1) == 'D' && p(2) == '3')
      10 + (((p(6) & 0x7F) << 21) | ((p(7) & 0x7F) << 14) | ((p(8) & 0x7F) << 7) | (p(9) & 0x7F))
    else 0

  /** Frame-header walk over an MP3 (Layer III) or ADTS/AAC stream.
    * Deliberately strict — this runs on arbitrary corpus bytes, so
    * false positives are the failure mode to design against: sync must
    * sit at offset 0 (or immediately after an ID3v2 tag — no resync
    * scan), at least TWO consecutive valid frames must parse, and the
    * stream must end within one header of the last frame (truncated
    * tails reject). None → the caller falls through to the codec seam
    * and then the stub, the malformed-record doctrine. */
  private[graft] def readMpegAudioMeta(p: Array[Byte]): Option[MpegAudioMeta] = {
    val start = id3v2Len(p)
    if (start < 0 || start + 4 > p.length) return None
    def u(i: Int): Int = p(i) & 0xFF
    // ---- MP3 (Layer III) walk ----
    def mp3: Option[MpegAudioMeta] = {
      var o = start
      var frames = 0
      var sampleFrames = 0L
      var rate = -1
      var ch = -1
      var brSum = 0L
      while (o + 4 <= p.length && u(o) == 0xFF && (u(o + 1) & 0xE0) == 0xE0) {
        val ver = (u(o + 1) >> 3) & 3   // 0=2.5, 1=rsvd, 2=MPEG2, 3=MPEG1
        val layer = (u(o + 1) >> 1) & 3 // 1 = Layer III
        val brIdx = (u(o + 2) >> 4) & 0xF
        val rIdx = (u(o + 2) >> 2) & 3
        val pad = (u(o + 2) >> 1) & 1
        if (ver == 1 || layer != 1 || brIdx == 0 || brIdx == 15 || rIdx == 3) return None
        val r = (if (ver == 3) Mp3RateV1 else if (ver == 2) Mp3RateV2 else Mp3RateV25)(rIdx)
        val br = (if (ver == 3) Mp3BitrateV1 else Mp3BitrateV2)(brIdx) * 1000
        val c = if (((u(o + 3) >> 6) & 3) == 3) 1 else 2
        if (rate < 0) { rate = r; ch = c }
        // a mid-stream rate OR channel-COUNT switch rejects (the strict
        // doctrine, symmetric since the r19 review); stereo↔joint-stereo
        // alternation keeps c == 2 and legitimately passes — real
        // encoders switch those per frame
        else if (r != rate || c != ch) return None
        val spf = if (ver == 3) 1152 else 576
        val len = spf / 8 * br / r + pad
        if (len < 4 || o + len > p.length) return None
        frames += 1; sampleFrames += spf; brSum += br
        o += len
      }
      if (frames >= 2 && p.length - o < 4)
        Some(MpegAudioMeta("mp3", rate, ch, frames, sampleFrames,
          Some((brSum / frames / 1000).toInt)))
      else None
    }
    // ---- ADTS (AAC) walk ----
    def adts: Option[MpegAudioMeta] = {
      var o = start
      var frames = 0
      var rate = -1
      var ch = -1
      while (o + 7 <= p.length && u(o) == 0xFF && (u(o + 1) & 0xF6) == 0xF0) {
        val fIdx = (u(o + 2) >> 2) & 0xF
        val cfg = ((u(o + 2) & 1) << 2) | ((u(o + 3) >> 6) & 3)
        if (fIdx >= AdtsRates.length || cfg == 0) return None
        val r = AdtsRates(fIdx)
        val c = if (cfg == 7) 8 else cfg
        if (rate < 0) { rate = r; ch = c }
        else if (r != rate || c != ch) return None // same strict symmetry as the MP3 walk
        val len = ((u(o + 3) & 3) << 11) | (u(o + 4) << 3) | ((u(o + 5) >> 5) & 7)
        if (len < 7 || o + len > p.length) return None
        frames += 1
        o += len
      }
      if (frames >= 2 && p.length - o < 7)
        Some(MpegAudioMeta("aac", rate, ch, frames, frames.toLong * 1024, None))
      else None
    }
    mp3.orElse(adts)
  }

  /** Deterministic MPEG1 Layer III stream (128 kbps CBR, `nFrames`
    * frames, zero payload) behind an ID3v2 tag — the planted fixture
    * the meta face and specs parse back. rateIdx: 0=44100 1=48000
    * 2=32000. */
  private[graft] def synthMp3(nFrames: Int, rateIdx: Int, stereo: Boolean): Array[Byte] = {
    val rate = Mp3RateV1(rateIdx)
    val frameLen = 144 * 128000 / rate // padding 0
    val out = new java.io.ByteArrayOutputStream()
    // ID3v2.3 tag with a 10-byte body: the parser must skip 20 bytes
    out.write(Array[Byte]('I', 'D', '3', 3, 0, 0, 0, 0, 0, 10))
    out.write(new Array[Byte](10))
    (0 until nFrames).foreach { _ =>
      val f = new Array[Byte](frameLen)
      f(0) = 0xFF.toByte
      f(1) = 0xFB.toByte                                  // MPEG1, Layer III, no CRC
      f(2) = (0x90 | (rateIdx << 2)).toByte               // bitrate idx 9 = 128k, no padding
      f(3) = (if (stereo) 0x00 else 0xC0).toByte          // channel mode
      out.write(f)
    }
    out.toByteArray
  }

  /** Deterministic ADTS/AAC-LC stream (`nFrames` frames of 20 bytes).
    * freqIdx indexes [[AdtsRates]]; channels is the channel config. */
  private[graft] def synthAdts(nFrames: Int, freqIdx: Int, channels: Int): Array[Byte] = {
    val len = 20 // 7-byte header + 13 payload bytes
    val out = new java.io.ByteArrayOutputStream()
    (0 until nFrames).foreach { _ =>
      val f = new Array[Byte](len)
      f(0) = 0xFF.toByte
      f(1) = 0xF1.toByte                                   // MPEG-4, layer 00, no CRC
      f(2) = (0x40 | (freqIdx << 2) | (channels >> 2)).toByte // AAC-LC profile
      f(3) = (((channels & 3) << 6) | ((len >> 11) & 3)).toByte
      f(4) = ((len >> 3) & 0xFF).toByte
      f(5) = (((len & 7) << 5) | 0x1F).toByte              // fullness = 0x7FF (VBR)
      f(6) = 0xFC.toByte
      out.write(f)
    }
    out.toByteArray
  }

  /** FLAC STREAMINFO metadata (zero-dependency bit parse; public format:
    * the FLAC spec's METADATA_BLOCK_STREAMINFO, RFC 9639 §8.2). FLAC has
    * no JDK codec, but the mandatory first metadata block carries
    * sample rate (20 bits), channels (3), bits-per-sample (5) and total
    * samples (36) as plain big-endian bit fields. Strict claim: `fLaC`
    * magic at offset 0 AND the first block is a 34-byte STREAMINFO —
    * the layout every conforming encoder must emit first. Returns the
    * audio convention (sampleRate, channels, sampleFrames). */
  private[graft] def readFlacMeta(p: Array[Byte]): Option[(Int, Int, Long)] = {
    if (p.length < 42 || p(0) != 'f' || p(1) != 'L' || p(2) != 'a' || p(3) != 'C') return None
    def u(i: Int): Int = p(i) & 0xFF
    val blockType = u(4) & 0x7F
    val blockLen = (u(5) << 16) | (u(6) << 8) | u(7)
    if (blockType != 0 || blockLen != 34) return None
    val rate = (u(18) << 12) | (u(19) << 4) | (u(20) >> 4)
    val channels = ((u(20) >> 1) & 7) + 1
    val total = ((u(21) & 0x0F).toLong << 32) | (u(22).toLong << 24) |
      (u(23).toLong << 16) | (u(24).toLong << 8) | u(25).toLong
    if (rate <= 0) None else Some((rate, channels, total))
  }

  /** Deterministic minimal FLAC header (magic + STREAMINFO only) — the
    * planted spec fixture. */
  private[graft] def synthFlac(rate: Int, channels: Int, totalSamples: Long): Array[Byte] = {
    val out = new Array[Byte](42)
    Array[Byte]('f', 'L', 'a', 'C').copyToArray(out)
    out(4) = 0x80.toByte                              // last block, type 0
    out(7) = 34                                       // block length
    out(18) = ((rate >> 12) & 0xFF).toByte
    out(19) = ((rate >> 4) & 0xFF).toByte
    out(20) = (((rate & 0xF) << 4) | (((channels - 1) & 7) << 1) |
      (15 >> 4)).toByte                               // bps-1 = 15 (16-bit), top bit
    out(21) = (((15 & 0xF) << 4) | ((totalSamples >> 32) & 0xF)).toInt.toByte
    out(22) = ((totalSamples >> 24) & 0xFF).toByte
    out(23) = ((totalSamples >> 16) & 0xFF).toByte
    out(24) = ((totalSamples >> 8) & 0xFF).toByte
    out(25) = (totalSamples & 0xFF).toByte
    out
  }

  /** Ogg container walk (RFC 3533 page structure) with Vorbis I and
    * Opus (RFC 7845) identification headers — the round-20 members of
    * the zero-dependency metadata family (MP3/ADTS, FLAC, MP4, H.264).
    * Strict claim, the family doctrine: `OggS` capture pattern at
    * offset 0 (no scan), stream-structure version 0, the FIRST page
    * must carry the beginning-of-stream flag, every page's size derives
    * from its segment table and the pages must tile the payload
    * EXACTLY, one logical stream only (a second serial rejects), the
    * last page must carry end-of-stream, and the first packet must be
    * a well-formed `\x01vorbis` or `OpusHead` identification header.
    * CRC bytes are not validated (that is an integrity check, not a
    * structure claim — consistent with the other walks, which also
    * skip checksums).
    *
    * Returns the audio convention: nFrames = page count (the container
    * framing unit), sampleFrames = the final granule position (Vorbis:
    * PCM samples at `sampleRate`; Opus: 48 kHz ticks — and the
    * REPORTED rate for Opus is 48000, because RFC 7845 §5.1 defines
    * decode output at 48 kHz and `input_sample_rate` as informational,
    * so duration math stays honest). */
  private[graft] def readOggMeta(p: Array[Byte]): Option[MpegAudioMeta] = {
    def u(i: Int): Int = p(i) & 0xFF
    if (p.length < 28 || u(0) != 'O' || u(1) != 'g' || u(2) != 'g' || u(3) != 'S') return None
    def u32le(i: Int): Long = u(i).toLong | (u(i + 1).toLong << 8) |
      (u(i + 2).toLong << 16) | (u(i + 3).toLong << 24)
    def i64le(i: Int): Long = (0 until 8).map(j => (p(i + j) & 0xFFL) << (8 * j)).reduce(_ | _)
    try {
      var o = 0
      var nPages = 0
      var granule = -1L
      var sawEos = false
      var serial = 0L
      var firstPacket: Array[Byte] = null
      while (o < p.length) {
        if (o + 27 > p.length) return None
        if (u(o) != 'O' || u(o + 1) != 'g' || u(o + 2) != 'g' || u(o + 3) != 'S') return None
        if (u(o + 4) != 0) return None                     // stream_structure_version
        val flags = u(o + 5)
        val g = i64le(o + 6)
        val ser = u32le(o + 14)
        if (nPages == 0) {
          if ((flags & 2) == 0) return None                // first page must be BOS
          serial = ser
        } else if (ser != serial) return None              // one logical stream
        val nSegs = u(o + 26)
        if (o + 27 + nSegs > p.length) return None
        var payloadLen = 0
        (0 until nSegs).foreach(j => payloadLen += u(o + 27 + j))
        val ps = o + 27 + nSegs
        if (ps + payloadLen > p.length) return None
        if (nPages == 0) {
          // the FIRST PACKET per the segment-table lacing: sum lacing
          // values up to the first < 255 terminator. A BOS page whose
          // packet never terminates (all-255 lacing — the id header
          // continues on the next page) is not the claimed shape, and
          // same-page trailing packets stay OUT of the id-header parse
          // — the strict first-packet contract, enforced rather than
          // assumed (r20 review)
          var plen = 0; var j = 0; var terminated = false
          while (j < nSegs && !terminated) {
            val l = u(o + 27 + j); plen += l
            if (l < 255) terminated = true
            j += 1
          }
          if (!terminated) return None
          firstPacket = java.util.Arrays.copyOfRange(p, ps, ps + plen)
        }
        if (g != -1L) granule = g                          // -1 = no packet ends here
        if ((flags & 4) != 0) sawEos = true
        nPages += 1
        o = ps + payloadLen
      }
      if (!sawEos || granule < 0) return None
      val fp = firstPacket
      def fu(i: Int): Int = fp(i) & 0xFF
      def fu32le(i: Int): Long = fu(i).toLong | (fu(i + 1).toLong << 8) |
        (fu(i + 2).toLong << 16) | (fu(i + 3).toLong << 24)
      if (fp.length >= 30 && fu(0) == 1 &&
          new String(fp, 1, 6, "ISO-8859-1") == "vorbis") {
        if (fu32le(7) != 0) return None                    // vorbis_version
        val ch = fu(11)
        val rate = fu32le(12)
        if (ch == 0 || rate <= 0 || rate > Int.MaxValue) return None
        Some(MpegAudioMeta("vorbis", rate.toInt, ch, nPages, granule, None))
      } else if (fp.length >= 19 &&
          new String(fp, 0, 8, "ISO-8859-1") == "OpusHead") {
        if ((fu(8) >> 4) != 0) return None                 // version major 0 (v1 = 0x01)
        val ch = fu(9)
        val preSkip = fu(10) | (fu(11) << 8)               // u16 LE, RFC 7845 §5.1
        // input_sample_rate is informational and MAY be 0 = "unknown"
        // (RFC 7845 §5.1) — no sanity bound exists to enforce on it
        if (ch == 0) return None
        // playback duration excludes the pre-skip priming samples
        // (RFC 7845 §4.2: "the PCM sample position ... includes the
        // pre-skip"), so the reported sample frames subtract it
        Some(MpegAudioMeta("opus", 48000, ch, nPages,
          math.max(0L, granule - preSkip), None))
      } else None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Deterministic minimal Ogg stream: a BOS page carrying the Vorbis
    * or Opus identification header, `dataPages` dummy data pages with
    * rising granules, EOS + final granule on the last — the planted
    * fixture the meta face and specs parse back. CRCs are zero (the
    * strict walk checks structure, not checksums). */
  private[graft] def synthOgg(codec: String, rate: Int, channels: Int,
      totalSamples: Long, dataPages: Int): Array[Byte] = {
    def le32(v: Long): Array[Byte] =
      Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
        ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    def le64(v: Long): Array[Byte] =
      (0 until 8).map(j => ((v >> (8 * j)) & 0xFF).toByte).toArray
    def page(flags: Int, granule: Long, seq: Int, payload: Array[Byte]): Array[Byte] = {
      require(payload.length < 255, "single-segment synth pages only")
      Array[Byte]('O', 'g', 'g', 'S', 0, flags.toByte) ++
        le64(granule) ++ le32(0xD15EA5EL) ++ le32(seq.toLong) ++ le32(0L) ++
        Array[Byte](1, payload.length.toByte) ++ payload
    }
    val idHeader = codec match {
      case "vorbis" =>
        Array[Byte](1) ++ "vorbis".getBytes("ISO-8859-1") ++
          le32(0L) ++ Array(channels.toByte) ++ le32(rate.toLong) ++
          le32(0L) ++ le32(0L) ++ le32(0L) ++                  // bitrate max/nominal/min
          Array[Byte](0xB8.toByte, 0x01)                       // blocksizes, framing
      case "opus" =>
        "OpusHead".getBytes("ISO-8859-1") ++
          Array[Byte](1, channels.toByte) ++ Array[Byte](0x38, 1) ++ // pre-skip 312 LE
          le32(rate.toLong) ++ Array[Byte](0, 0, 0)                  // gain, mapping family 0
      case other => throw new IllegalArgumentException(s"unknown ogg codec '$other'")
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write(page(2, -1L, 0, idHeader)) // BOS; no packet ENDS here → granule -1
    (1 to dataPages).foreach { i =>
      val eos = if (i == dataPages) 4 else 0
      val g = if (i == dataPages) totalSamples else totalSamples * i / dataPages
      out.write(page(eos, g, i, Array.fill(10)(0x5A.toByte)))
    }
    out.toByteArray
  }

  // ---- Video container/bitstream metadata (zero-dependency bit parse) -----
  // H.264 and the codecs inside MP4 have no JDK decoder, so PIXEL decode
  // stays behind the MediaCodec seam — but the container structures are
  // plain big-endian byte/bit fields (public formats: ISO/IEC 14496-12's
  // box model; ISO/IEC 14496-10 §7.3.2.1 SPS over Annex-B byte streams),
  // so real width/height/frame-count/duration metadata needs no codec.
  // The r19 twin of the r18 MPEG-audio walk: with both, the documented
  // codec residue is pixel/PCM decode only.

  /** Parsed video-stream summary. `durationMs` is None for raw Annex-B
    * elementary streams — without a container (or SPS VUI timing, which
    * encoders rarely emit and the strict claim does not require) the
    * bitstream carries no clock. */
  final case class VideoMeta(container: String, codec: String, width: Int,
      height: Int, nFrames: Int, durationMs: Option[Long])

  /** MSB-first bit reader over RBSP bytes (exp-Golomb ue/se per
    * ISO/IEC 14496-10 §9.1); reading past the end throws — the callers
    * catch and reject, the strict-claim doctrine. */
  private final class BitReader(b: Array[Byte]) {
    private var pos = 0
    def bit(): Int = { val r = (b(pos >> 3) >> (7 - (pos & 7))) & 1; pos += 1; r }
    def bits(n: Int): Int = { var v = 0; var i = 0; while (i < n) { v = (v << 1) | bit(); i += 1 }; v }
    def ue(): Int = {
      var z = 0
      while (bit() == 0) { z += 1; require(z <= 31, "ue overflow") }
      (1 << z) - 1 + (if (z > 0) bits(z) else 0)
    }
    def se(): Int = { val k = ue(); if (k % 2 == 1) (k + 1) / 2 else -(k / 2) }
  }

  /** ISO BMFF (MP4) box walk. Strict claim: the file must LEAD with an
    * `ftyp` box (no scan), every box size must nest exactly, and the
    * moov/trak/mdia/minf/stbl spine must be present and well-formed —
    * None otherwise, arbitrary corpus bytes never parse half-way. Reads
    * mvhd timescale+duration (v0 and v1 layouts), the first visual
    * trak's tkhd 16.16 width/height, its stsz sample count (= coded
    * frames) and the stsd entry fourcc (the codec). */
  private[graft] def readMp4Meta(p: Array[Byte]): Option[VideoMeta] = {
    def u32(i: Int): Long = ((p(i) & 0xFFL) << 24) | ((p(i + 1) & 0xFFL) << 16) |
      ((p(i + 2) & 0xFFL) << 8) | (p(i + 3) & 0xFFL)
    def u64(i: Int): Long = (u32(i) << 32) | u32(i + 4)
    def fourcc(i: Int): String = new String(p, i, 4, "ISO-8859-1")
    if (p.length < 16 || fourcc(4) != "ftyp") return None
    // children of [from,to) as (type, payloadStart, payloadEnd); None on
    // any malformed size (overflow, truncation, non-exact nesting)
    def boxes(from: Int, to: Int): Option[List[(String, Int, Int)]] = {
      val acc = List.newBuilder[(String, Int, Int)]
      var o = from
      while (o < to) {
        if (o + 8 > to) return None
        var sz = u32(o); var hdr = 8
        if (sz == 1) { if (o + 16 > to) return None; sz = u64(o + 8); hdr = 16 }
        else if (sz == 0) sz = (to - o).toLong
        if (sz < hdr || sz > to - o) return None
        acc += ((fourcc(o + 4), o + hdr, o + sz.toInt))
        o += sz.toInt
      }
      Some(acc.result())
    }
    def child(bs: List[(String, Int, Int)], t: String): Option[(Int, Int)] =
      bs.collectFirst { case (`t`, s, e) => (s, e) }
    try {
      val top = boxes(0, p.length).getOrElse(return None)
      val (moovS, moovE) = child(top, "moov").getOrElse(return None)
      val moov = boxes(moovS, moovE).getOrElse(return None)
      val (mvhdS, mvhdE) = child(moov, "mvhd").getOrElse(return None)
      val mvhdV = p(mvhdS) & 0xFF
      val (timescale, duration) =
        if (mvhdV == 0) { if (mvhdE - mvhdS < 20) return None; (u32(mvhdS + 12), u32(mvhdS + 16)) }
        else { if (mvhdE - mvhdS < 32) return None; (u32(mvhdS + 20), u64(mvhdS + 24)) }
      if (timescale <= 0) return None
      // first trak whose tkhd carries a nonzero visual width
      moov.collect { case ("trak", s, e) => (s, e) }.flatMap { case (ts, te) =>
        for {
          trak <- boxes(ts, te)
          (tkS, tkE) <- child(trak, "tkhd")
          wOff = if ((p(tkS) & 0xFF) == 0) tkS + 76 else tkS + 88
          if tkE - wOff >= 8
          w = (u32(wOff) >> 16).toInt
          h = (u32(wOff + 4) >> 16).toInt
          if w > 0 && h > 0
          (mdS, mdE) <- child(trak, "mdia")
          mdia <- boxes(mdS, mdE)
          (mnS, mnE) <- child(mdia, "minf")
          minf <- boxes(mnS, mnE)
          (sbS, sbE) <- child(minf, "stbl")
          stbl <- boxes(sbS, sbE)
          (szS, szE) <- child(stbl, "stsz")
          if szE - szS >= 12
          frames = u32(szS + 8).toInt
          (sdS, sdE) <- child(stbl, "stsd")
          if sdE - sdS >= 16
          codec = fourcc(sdS + 12)
          // mvhd all-ones duration is the spec's "duration unknown"
          // sentinel (ISO 14496-12 §8.2.2.3: v0 0xFFFFFFFF, v1 all
          // ones) — keep the metadata claim but report no duration
          // rather than a bogus ~49-day figure. The v1 ×1000 product is
          // exact arithmetic: a crafted 64-bit duration must drop the
          // duration, never wrap negative (the vuiDurationMs doctrine)
          durMs = if ((mvhdV == 0 && duration == 0xFFFFFFFFL) ||
                      (mvhdV != 0 && duration == -1L) || duration < 0) None
                  else
                    try Some(Math.multiplyExact(duration, 1000L) / timescale)
                    catch { case _: ArithmeticException => None }
        } yield VideoMeta("mp4", codec, w, h, frames, durMs)
      }.headOption
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** H.264 Annex-B elementary-stream walk. Strict claim: a start code at
    * offset 0 and the FIRST NAL must be an SPS (type 7) that parses to
    * the end of its size fields — no resync scan. Width/height come from
    * the SPS macroblock counts minus frame cropping (§7.3.2.1.1 with the
    * SubWidthC/SubHeightC crop units of the parsed chroma format);
    * frames = coded slices (NAL type 1/5) whose first_mb_in_slice is 0,
    * i.e. picture starts, so multi-slice pictures are not double-counted. */
  private[graft] def readH264Meta(p: Array[Byte]): Option[VideoMeta] = {
    // split at 00 00 01 start codes; a NAL's payload runs to the next
    // code's first byte, minus any trailing zero bytes (Annex B's
    // trailing_zero_8bits — a 4-byte next code's leading zero, or
    // encoder padding, must not read as payload)
    def nalUnits: List[(Int, Int)] = {
      val starts = List.newBuilder[Int]           // payload starts
      val codeAt = List.newBuilder[Int]           // 00 00 01 positions
      var i = 0
      while (i + 3 <= p.length) {
        if (p(i) == 0 && p(i + 1) == 0 && p(i + 2) == 1) { codeAt += i; starts += (i + 3); i += 3 }
        else i += 1
      }
      val s = starts.result()
      s.zip(codeAt.result().drop(1) :+ p.length).map { case (a, rawEnd) =>
        var e = rawEnd
        while (e > a && p(e - 1) == 0) e -= 1
        (a, e)
      }
    }
    if (p.length < 8) return None
    val codeLen = if (p(0) == 0 && p(1) == 0 && p(2) == 0 && p(3) == 1) 4
      else if (p(0) == 0 && p(1) == 0 && p(2) == 1) 3 else return None
    val nals = nalUnits
    if (nals.isEmpty) return None
    // RBSP: strip emulation-prevention bytes (00 00 03 -> 00 00)
    def rbsp(from: Int, to: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(to - from)
      var i = from
      while (i < to) {
        if (i + 2 < to && p(i) == 0 && p(i + 1) == 0 && p(i + 2) == 3) {
          out.write(0); out.write(0); i += 3
        } else { out.write(p(i)); i += 1 }
      }
      out.toByteArray
    }
    try {
      val (spsS, spsE) = nals.head
      if (spsS != codeLen) return None        // first NAL at offset 0's code
      if ((p(spsS) & 0x1F) != 7) return None  // and it must be the SPS
      val r = new BitReader(rbsp(spsS + 1, spsE))
      val profile = r.bits(8); r.bits(8); r.bits(8); r.ue() // constraints, level, sps_id
      var chroma = 1
      if (Set(100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135)(profile)) {
        chroma = r.ue()
        if (chroma == 3) r.bit()
        r.ue(); r.ue(); r.bit()
        if (r.bit() == 1) {                    // scaling matrices: skip
          val n = if (chroma != 3) 8 else 12
          (0 until n).foreach { i =>
            if (r.bit() == 1) {
              var last = 8; var next = 8
              (0 until (if (i < 6) 16 else 64)).foreach { _ =>
                if (next != 0) next = (last + r.se() + 256) % 256
                if (next != 0) last = next
              }
            }
          }
        }
      }
      r.ue()                                   // log2_max_frame_num_minus4
      r.ue() match {
        case 0 => r.ue()
        case 1 =>
          r.bit(); r.se(); r.se()
          (0 until r.ue()).foreach(_ => r.se())
        case _ => ()
      }
      r.ue(); r.bit()                          // max_num_ref_frames, gaps flag
      val wMbs = r.ue() + 1
      val hUnits = r.ue() + 1
      val frameMbsOnly = r.bit()
      if (frameMbsOnly == 0) r.bit()
      r.bit()                                  // direct_8x8_inference
      var (cl, cr, ct, cb) = (0, 0, 0, 0)
      if (r.bit() == 1) { cl = r.ue(); cr = r.ue(); ct = r.ue(); cb = r.ue() }
      val cropX = if (chroma == 1 || chroma == 2) 2 else 1
      val cropY = (if (chroma == 1) 2 else 1) * (2 - frameMbsOnly)
      val w = wMbs * 16 - (cl + cr) * cropX
      val h = (2 - frameMbsOnly) * hUnits * 16 - (ct + cb) * cropY
      if (w <= 0 || h <= 0) return None
      val frames = nals.count { case (s, e) =>
        e > s && Set(1, 5)(p(s) & 0x1F) &&
          (try new BitReader(rbsp(s + 1, math.min(e, s + 9))).ue() == 0
           catch { case scala.util.control.NonFatal(_) => false })
      }
      // VUI timing (§E.1.1): the one place a RAW stream can carry a
      // clock — present only when an encoder chose to emit it. Walk the
      // optional fields ahead of timing_info in declaration order;
      // fps = time_scale / (2 * num_units_in_tick) per the spec's
      // field-based tick convention.
      var durationMs: Option[Long] = None
      if (r.bit() == 1) {
        if (r.bit() == 1) { if (r.bits(8) == 255) { r.bits(16); r.bits(16) } } // aspect_ratio
        if (r.bit() == 1) r.bit()                                             // overscan
        if (r.bit() == 1) { r.bits(3); r.bit()                                // video_signal_type
          if (r.bit() == 1) { r.bits(8); r.bits(8); r.bits(8) } }
        if (r.bit() == 1) { r.ue(); r.ue() }                                  // chroma_sample_loc
        if (r.bit() == 1) {                                                   // timing_info
          val nuit = (r.bits(16).toLong << 16) | (r.bits(16).toLong & 0xFFFF)
          val ts = (r.bits(16).toLong << 16) | (r.bits(16).toLong & 0xFFFF)
          r.bit()                                                             // fixed_frame_rate
          durationMs = vuiDurationMs(frames, nuit, ts)
        }
      }
      if (frames == 0) None
      else Some(VideoMeta("h264", "avc", w, h, frames, durationMs))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Duration from VUI timing (fps = time_scale / (2·num_units_in_tick),
    * the spec's field-based tick convention) in EXACT arithmetic:
    * num_units_in_tick is a full u32, so frames·2·nuit·1000 can overflow
    * Long for crafted VUI values — a negative durationMs would be
    * off-doctrine for a parser that otherwise strictly rejects hostile
    * bytes; the duration drops instead while the rest of the metadata
    * claim stands. */
  private[graft] def vuiDurationMs(frames: Int, nuit: Long, ts: Long): Option[Long] =
    if (nuit <= 0 || ts <= 0) None
    else
      try Some(Math.multiplyExact(Math.multiplyExact(frames.toLong * 2L, nuit), 1000L) / ts)
      catch { case _: ArithmeticException => None }

  /** Matroska/WebM metadata via an EBML walk (RFC 8794 element syntax;
    * the Matroska DTD's public element IDs) — the round-20 twin of the
    * MP4 box walk. Strict claim, the family doctrine: the EBML header
    * element (0x1A45DFA3) must LEAD at offset 0 (no scan), every
    * element ID and size varint must parse, element sizes must nest
    * EXACTLY (unknown-size elements reject — a streaming-only shape
    * this walk does not claim), a Segment with a Tracks element must be
    * present, and the first video TrackEntry must carry positive pixel
    * dimensions. Reads: Info's TimecodeScale (default 10^6 ns) +
    * Duration (float ticks) → durationMs; the video TrackEntry's
    * CodecID + PixelWidth/PixelHeight; frames = SimpleBlock/Block count
    * in Clusters whose lead varint (the block's track number) matches
    * the video track. Container = "webm" for the WebM codec set
    * (VP8/VP9/AV1), else "mkv". */
  private[graft] def readEbmlMeta(p: Array[Byte]): Option[VideoMeta] = {
    if (p.length < 8 || (p(0) & 0xFF) != 0x1A || (p(1) & 0xFF) != 0x45 ||
      (p(2) & 0xFF) != 0xDF || (p(3) & 0xFF) != 0xA3) return None
    // EBML varint at `o`: (value, encodedLength); IDs keep the length
    // marker (the DTD writes IDs with it), sizes strip it. All-ones
    // size = "unknown" → rejected by the caller's nesting check
    // (value saturates past the payload).
    def vint(o: Int, keepMarker: Boolean): Option[(Long, Int)] = {
      if (o >= p.length) return None
      val b0 = p(o) & 0xFF
      if (b0 == 0) return None
      val len = Integer.numberOfLeadingZeros(b0) - 23
      if (len > 8 || o + len > p.length) return None
      var v = if (keepMarker) b0.toLong else (b0 & (0xFF >>> len)).toLong
      (1 until len).foreach(j => v = (v << 8) | (p(o + j) & 0xFFL))
      Some((v, len))
    }
    // children of [from, to) as (id, payloadStart, payloadEnd); None on
    // any malformed varint or non-exact nesting
    def children(from: Int, to: Int): Option[List[(Long, Int, Int)]] = {
      val acc = List.newBuilder[(Long, Int, Int)]
      var o = from
      while (o < to) {
        val (id, il) = vint(o, keepMarker = true).getOrElse(return None)
        val (sz, sl) = vint(o + il, keepMarker = false).getOrElse(return None)
        val ps = o + il + sl
        if (sz < 0 || sz > to - ps) return None
        acc += ((id, ps, ps + sz.toInt))
        o = ps + sz.toInt
      }
      Some(acc.result())
    }
    def uintOf(s: Int, e: Int): Long = {
      // an unsigned-int element wider than 8 bytes (or empty) cannot be
      // read without truncation — reject instead of misreading (the
      // require lands in the walk's NonFatal catch → None)
      require(e - s >= 1 && e - s <= 8, s"EBML uint of ${e - s} bytes")
      var v = 0L; (s until e).foreach(i => v = (v << 8) | (p(i) & 0xFFL)); v
    }
    def floatOf(s: Int, e: Int): Option[Double] = (e - s) match {
      case 4 => Some(java.lang.Float.intBitsToFloat(uintOf(s, e).toInt).toDouble)
      case 8 => Some(java.lang.Double.longBitsToDouble(uintOf(s, e)))
      case _ => None
    }
    try {
      val top = children(0, p.length).getOrElse(return None)
      if (top.isEmpty || top.head._1 != 0x1A45DFA3L) return None
      val (segS, segE) = top.collectFirst { case (0x18538067L, s, e) => (s, e) }
        .getOrElse(return None)
      val seg = children(segS, segE).getOrElse(return None)
      var tcScale = 1000000L
      var durTicks: Option[Double] = None
      seg.collectFirst { case (0x1549A966L, s, e) => (s, e) }.foreach { case (s, e) =>
        children(s, e).getOrElse(return None).foreach {
          case (0x2AD7B1L, a, b) => tcScale = uintOf(a, b)
          case (0x4489L, a, b)   => durTicks = floatOf(a, b)
          case _                 => ()
        }
      }
      if (tcScale <= 0) return None
      val (trS, trE) = seg.collectFirst { case (0x1654AE6BL, s, e) => (s, e) }
        .getOrElse(return None)
      val video = children(trS, trE).getOrElse(return None)
        .collect { case (0xAEL, s, e) => children(s, e).getOrElse(return None) }
        .flatMap { entry =>
          def uint(id: Long): Option[Long] =
            entry.collectFirst { case (`id`, a, b) => uintOf(a, b) }
          for {
            tt <- uint(0x83L) if tt == 1L                   // TrackType video
            num <- uint(0xD7L)                              // TrackNumber
            (vS, vE) <- entry.collectFirst { case (0xE0L, a, b) => (a, b) }
            vk <- children(vS, vE)
            w <- vk.collectFirst { case (0xB0L, a, b) => uintOf(a, b) }
            h <- vk.collectFirst { case (0xBAL, a, b) => uintOf(a, b) }
            // dimensions above Int range would truncate at .toInt —
            // reject the claim instead of confidently misreading it
            if w > 0 && h > 0 && w <= Int.MaxValue && h <= Int.MaxValue
            codecId = entry.collectFirst { case (0x86L, a, b) =>
              new String(p, a, b - a, "ISO-8859-1") }.getOrElse("")
          } yield (num, w.toInt, h.toInt, codecId)
        }.headOption.getOrElse(return None)
      val (trackNum, w, h, codecId) = video
      // frames: blocks of the video track across all clusters — the
      // block payload LEADS with the track number as a size-style
      // varint, which must fit INSIDE the block element (a varint
      // bounded only by the payload's end would read the next sibling's
      // bytes on a short/zero-size block and count a phantom frame —
      // the exact-nesting doctrine applies to block-internal reads too)
      def blockTrack(a: Int, b: Int): Boolean =
        vint(a, keepMarker = false).exists { case (v, len) =>
          a + len <= b && v == trackNum }
      val frames = seg.collect { case (0x1F43B675L, s, e) =>
        children(s, e).getOrElse(return None).count {
          case (0xA3L, a, b) => blockTrack(a, b)      // SimpleBlock
          case (0xA0L, a, b) =>                       // BlockGroup → Block
            children(a, b).exists(_.exists {
              case (0xA1L, ba, bb) => blockTrack(ba, bb)
              case _ => false
            })
          case _ => false
        }
      }.sum
      if (frames == 0) return None
      val codec = codecId.stripPrefix("V_").takeWhile(_ != '/')
        .toLowerCase(java.util.Locale.ROOT)
      val container = if (Set("vp8", "vp9", "av1")(codec)) "webm" else "mkv"
      Some(VideoMeta(container, codec, w, h, frames,
        durTicks.map(d => (d * tcScale / 1e6).toLong)))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Deterministic minimal WebM (EBML header + Segment(Info + Tracks +
    * one Cluster of `nFrames` SimpleBlocks)) — the planted fixture the
    * meta face and specs parse back. Duration lands in float ticks at
    * the default 1 ms timecode scale. */
  /** `rawClusterBytes` lands verbatim inside the Cluster ahead of the
    * well-formed blocks — the spec's hook for planting malformed block
    * elements under correct outer nesting. */
  private[graft] def synthWebm(width: Int, height: Int, nFrames: Int,
      durationMs: Long, codecId: String = "V_VP9",
      rawClusterBytes: Array[Byte] = Array.empty): Array[Byte] = {
    def beMin(v: Long): Array[Byte] = {
      var n = 1; while (n < 8 && (v >> (8 * n)) != 0) n += 1
      (0 until n).map(j => ((v >> (8 * (n - 1 - j))) & 0xFF).toByte).toArray
    }
    def sizeV(n: Int): Array[Byte] = {
      require(n >= 0 && n < 0x3FFF, "synth sizes are 1-2 byte varints")
      if (n < 0x7F) Array((0x80 | n).toByte)
      else Array((0x40 | (n >> 8)).toByte, (n & 0xFF).toByte)
    }
    def el(id: Array[Byte], payload: Array[Byte]*): Array[Byte] = {
      val body = payload.flatten.toArray
      id ++ sizeV(body.length) ++ body
    }
    def id(bytes: Int*): Array[Byte] = bytes.map(_.toByte).toArray
    val header = el(id(0x1A, 0x45, 0xDF, 0xA3),
      el(id(0x42, 0x82), "webm".getBytes("ISO-8859-1")))          // DocType
    val info = el(id(0x15, 0x49, 0xA9, 0x66),
      el(id(0x2A, 0xD7, 0xB1), beMin(1000000L)),                   // TimecodeScale 1 ms
      el(id(0x44, 0x89), {                                         // Duration float32
        val bits = java.lang.Float.floatToIntBits(durationMs.toFloat)
        (0 until 4).map(j => ((bits >> (8 * (3 - j))) & 0xFF).toByte).toArray
      }))
    val tracks = el(id(0x16, 0x54, 0xAE, 0x6B),
      el(id(0xAE),
        el(id(0xD7), beMin(1L)),                                   // TrackNumber
        el(id(0x83), beMin(1L)),                                   // TrackType video
        el(id(0x86), codecId.getBytes("ISO-8859-1")),              // CodecID
        el(id(0xE0),
          el(id(0xB0), beMin(width.toLong)),
          el(id(0xBA), beMin(height.toLong)))))
    val blocks = (0 until nFrames).map { i =>
      el(id(0xA3), Array[Byte](0x81.toByte,                        // track 1 varint
        ((i * 40) >> 8).toByte, (i * 40).toByte, 0x80.toByte, 0x5A))
    }
    val cluster = el(id(0x1F, 0x43, 0xB6, 0x75),
      (el(id(0xE7), beMin(0L)) +: rawClusterBytes +: blocks): _*)  // Timecode 0
    val segment = el(id(0x18, 0x53, 0x80, 0x67), info, tracks, cluster)
    header ++ segment
  }

  /** Container walk first (MP4 carries timing the raw stream cannot),
    * raw Annex-B second, Matroska/WebM third; None → codec seam →
    * stub, as for audio. */
  private[graft] def readVideoMeta(p: Array[Byte]): Option[VideoMeta] =
    readMp4Meta(p).orElse(readH264Meta(p)).orElse(readEbmlMeta(p))

  /** Deterministic minimal-but-well-formed MP4: ftyp + moov(mvhd v0 +
    * trak(tkhd + mdia(minf(stbl(stsd(avc1 VisualSampleEntry) + stsz)))))
    * + mdat — the planted fixture the meta face and specs parse back.
    * `durationMs` is mvhd units at timescale 1000. */
  private[graft] def synthMp4(width: Int, height: Int, nFrames: Int,
      durationMs: Long): Array[Byte] = {
    def be32(v: Long): Array[Byte] =
      Array(((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
        ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def be16(v: Int): Array[Byte] = Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def box(t: String, payload: Array[Byte]*): Array[Byte] = {
      val body = payload.flatten.toArray
      be32(body.length + 8L) ++ t.getBytes("ISO-8859-1") ++ body
    }
    val identity33 = // 3x3 16.16/2.30 fixed-point identity transform
      be32(0x00010000L) ++ be32(0) ++ be32(0) ++
      be32(0) ++ be32(0x00010000L) ++ be32(0) ++
      be32(0) ++ be32(0) ++ be32(0x40000000L)
    val mvhd = box("mvhd", new Array[Byte](4),      // version 0 + flags
      be32(0), be32(0),                              // creation, modification
      be32(1000), be32(durationMs),                  // timescale, duration
      be32(0x00010000L), be16(0x0100), new Array[Byte](10), // rate, volume, reserved
      identity33, new Array[Byte](24), be32(2))      // pre_defined, next_track_ID
    val tkhd = box("tkhd", Array[Byte](0, 0, 0, 7),  // v0, enabled|in_movie|in_preview
      be32(0), be32(0), be32(1), be32(0), be32(durationMs),
      new Array[Byte](8), be16(0), be16(0), be16(0), be16(0),
      identity33,
      be32(width.toLong << 16), be32(height.toLong << 16))
    val avc1 = box("avc1", new Array[Byte](6), be16(1), // reserved, data_ref_idx
      new Array[Byte](16),                           // pre_defined/reserved
      be16(width), be16(height),
      be32(0x00480000L), be32(0x00480000L),          // 72 dpi h/v
      be32(0), be16(1),                              // reserved, frame_count
      new Array[Byte](32), be16(24), be16(0xFFFF))   // compressorname, depth, pre_defined
    val stsd = box("stsd", new Array[Byte](4), be32(1), avc1)
    val stsz = box("stsz", new Array[Byte](4), be32(0), be32(nFrames.toLong))
    val stbl = box("stbl", stsd, stsz)
    val minf = box("minf", stbl)
    val mdia = box("mdia", minf)
    val trak = box("trak", tkhd, mdia)
    val moov = box("moov", mvhd, trak)
    box("ftyp", "isom".getBytes("ISO-8859-1"), be32(0x200),
      "isom".getBytes("ISO-8859-1")) ++ moov ++ box("mdat", Array[Byte](0))
  }

  /** MSB-first bit writer with exp-Golomb ue, byte-aligned flush. */
  private final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var n = 0
    def bit(b: Int): this.type = {
      cur = (cur << 1) | (b & 1); n += 1
      if (n == 8) { out.write(cur); cur = 0; n = 0 }
      this
    }
    def bits(v: Int, w: Int): this.type = { (w - 1 to 0 by -1).foreach(i => bit((v >> i) & 1)); this }
    def ue(v: Int): this.type = {
      val z = 32 - Integer.numberOfLeadingZeros(v + 1) - 1
      (0 until z).foreach(_ => bit(0)); bits(v + 1, z + 1)
    }
    /** RBSP stop bit + zero padding to a byte boundary. */
    def stop(): Array[Byte] = {
      bit(1); while (n != 0) bit(0)
      out.toByteArray
    }
  }

  /** Deterministic H.264 Annex-B stream: a baseline-profile SPS sized
    * `widthMbs`×`heightMbs` macroblocks (no cropping), a PPS, and
    * `nFrames` one-NAL IDR pictures (first_mb_in_slice = 0), all behind
    * 4-byte start codes with emulation-prevention escaping applied.
    * `fps` > 0 emits VUI timing_info (num_units_in_tick = 1000,
    * time_scale = 2000·fps) — the stream then carries its own clock. */
  private[graft] def synthH264(widthMbs: Int, heightMbs: Int, nFrames: Int,
      fps: Int = 0): Array[Byte] = {
    def escape(rbsp: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(rbsp.length + 4)
      var zeros = 0
      rbsp.foreach { b =>
        if (zeros >= 2 && (b & 0xFC) == 0) { out.write(3); zeros = 0 }
        out.write(b)
        zeros = if (b == 0) zeros + 1 else 0
      }
      out.toByteArray
    }
    val code = Array[Byte](0, 0, 0, 1)
    val spsW = new BitWriter()
      .bits(0x67, 8)          // nal_ref_idc 3, type 7 (SPS)
      .bits(66, 8)            // profile_idc: baseline
      .bits(0, 8).bits(30, 8) // constraint flags, level 3.0
      .ue(0)                  // sps_id
      .ue(0)                  // log2_max_frame_num_minus4
      .ue(0).ue(0)            // pic_order_cnt_type 0, log2_max_poc_lsb_minus4
      .ue(1).bit(0)           // max_num_ref_frames, gaps flag
      .ue(widthMbs - 1).ue(heightMbs - 1)
      .bit(1)                 // frame_mbs_only
      .bit(1)                 // direct_8x8_inference
      .bit(0)                 // no cropping
    if (fps > 0)
      spsW.bit(1)             // vui_parameters_present
        .bit(0).bit(0).bit(0).bit(0) // no aspect/overscan/signal/chroma-loc
        .bit(1)               // timing_info_present
        .bits(1000, 32).bits(2000 * fps, 32) // num_units_in_tick, time_scale
        .bit(1)               // fixed_frame_rate
        .bit(0).bit(0).bit(0).bit(0) // no HRD/pic_struct/restriction
    else spsW.bit(0)          // no VUI
    val sps = spsW.stop()
    val pps = new BitWriter()
      .bits(0x68, 8)          // type 8 (PPS)
      .ue(0).ue(0)            // pps_id, sps_id
      .bit(0).bit(0)          // entropy CAVLC, no pic_order_present
      .ue(0)                  // one slice group
      .ue(0).ue(0)            // ref idx defaults
      .bit(0).bits(0, 2)      // no weighted pred
      .stop()
    val slice = new BitWriter()
      .bits(0x65, 8)          // nal_ref_idc 3, type 5 (IDR slice)
      .ue(0)                  // first_mb_in_slice = 0: a picture start
      .ue(7).ue(0)            // slice_type I (7), pps_id
      .stop()
    val out = new java.io.ByteArrayOutputStream()
    out.write(code); out.write(escape(sps))
    out.write(code); out.write(escape(pps))
    (0 until nFrames).foreach { _ => out.write(code); out.write(escape(slice)) }
    out.toByteArray
  }

  /** STUB decode (???-equivalent) for formats the JDK has no codec for:
    * dimensions/frames are deterministic arithmetic over the byte length.
    */
  def fakeDecode(r: MediaRecord): MediaFeatures =
    MediaFeatures(
      media_id = r.media_id,
      kind = r.kind,
      n_bytes = r.payload.length.toLong,
      width = (r.payload.length % 640) + 1,
      height = (r.media_id % 480).toInt + 1,
      frames = if (r.kind == "video") (r.payload.length % 25) + 1 else 1,
      checksum = byteChecksum(r.payload))

  /** An EXTERNAL codec plugged into the decode seam — the verified form
    * of SURVEY §7.6's "swapping in an external codec is a one-function
    * change" claim. Implementations wrap whatever native library a
    * deployment ships (libmpg123 via JNI, ffmpeg via a process pool, a
    * JavaCV binding) and are consulted for payloads the JDK codecs do
    * not claim, BEFORE the deterministic stub. Must be Serializable —
    * the codec object ships into the `mapPartitions` closure; heavy
    * native state therefore belongs in a lazy/transient field
    * initialized per executor, not in constructor state.
    * MultimodalSpec drives a fake MP3 codec through the seam and proves
    * the typed feature flow downstream (frame sampling, near-dup
    * banding) is identical. */
  trait MediaCodec extends Serializable {
    def name: String
    /** Cheap magic-byte sniff: does this codec claim the payload? Must
      * not throw on arbitrary bytes. */
    def claims(kind: String, payload: Array[Byte]): Boolean
    /** Decode to the (width, height, frames) feature slots (audio
      * codecs: (sample_rate, channels, sample_frames) — the
      * [[readAudioMeta]] convention). None = corrupt payload →
      * deterministic stub fallback, the malformed-record doctrine. */
    def decode(kind: String, payload: Array[Byte]): Option[(Int, Int, Int)]
  }

  /** Real decode where the JDK has a codec (PNG/JPEG/GIF/BMP via
    * `javax.imageio`; WAV/AIFF/AU via `javax.sound.sampled`), then any
    * EXTERNAL [[MediaCodec]] that claims the payload, stub fallback
    * everywhere else. The declared kind is the contract:
    * "image"/"video" records reach the image codec ("video" because an
    * animated GIF is the JDK's one multi-frame container — its true
    * frame count feeds [[sampleFrames]]), "audio" records reach the
    * audio parser. A corrupt
    * payload (magic matches, decode fails) falls back rather than
    * failing the partition — a 100 TB corpus always contains malformed
    * payloads, and a pipeline that dies on record 73 billion is not a
    * pipeline. The catches are NonFatal, not just IOException: the JDK
    * image readers throw unchecked exceptions (IllegalArgument/
    * IndexOutOfBounds/NegativeArraySize) on fuzzed headers, and any of
    * those escaping would abort the task — external codecs get the same
    * NonFatal guard for the same reason. */
  def decode(r: MediaRecord, codecs: Seq[MediaCodec] = Nil): MediaFeatures = {
    val viaCodec =
      if (r.kind == "image" || r.kind == "video") sniffFormat(r.payload).flatMap(_ => readImageMeta(r.payload))
        // MP4 / raw H.264: no JDK codec, but the box model and the SPS
        // are public byte/bit fields — real (width, height, frames)
        // from the container walk; pixel decode stays behind the seam
        .orElse(if (r.kind == "video") readVideoMeta(r.payload)
          .map(v => (v.width, v.height, v.nFrames)) else None)
      // audio: real WAV/AIFF/AU header decode — (sample_rate, channels,
      // sample_frames) ride the width/height/frames slots (see
      // readAudioMeta). The synthetic corpus' text-byte "audio" payloads
      // never sniff as RIFF/FORM/.snd, so the oracle arithmetic for the
      // differential faces is untouched; MultimodalSpec plants real WAVs.
      else if (r.kind == "audio")
        sniffAudioFormat(r.payload).flatMap(_ => readAudioMeta(r.payload))
          // MP3/ADTS: no JDK codec, but the frame headers are public
          // bit fields — real (sample_rate, channels, sample_frames)
          // metadata from the header walk; PCM decode for these two
          // containers remains the MediaCodec seam's job
          .orElse(readMpegAudioMeta(r.payload).map(m =>
            (m.sampleRate, m.channels,
              math.min(m.sampleFrames, Int.MaxValue.toLong).toInt)))
          // FLAC: same no-JDK-codec story — STREAMINFO carries the
          // metadata as plain bit fields; PCM decode stays at the seam
          .orElse(readFlacMeta(r.payload).map { case (rate, ch, total) =>
            (rate, ch, math.min(total, Int.MaxValue.toLong).toInt) })
          // Ogg/Vorbis/Opus: page walk + identification header — the
          // same container-metadata-without-codec story
          .orElse(readOggMeta(r.payload).map(m =>
            (m.sampleRate, m.channels,
              math.min(m.sampleFrames, Int.MaxValue.toLong).toInt)))
      else None
    val viaExternal = viaCodec.orElse {
      codecs.iterator.flatMap { c =>
        try if (c.claims(r.kind, r.payload)) c.decode(r.kind, r.payload) else None
        catch { case scala.util.control.NonFatal(_) => None }
      }.nextOption()
    }
    viaExternal match {
      case Some((w, h, frames)) =>
        MediaFeatures(r.media_id, r.kind, r.payload.length.toLong,
          w, h, frames, byteChecksum(r.payload))
      case None => fakeDecode(r)
    }
  }

  /** The mapInPandas-shaped stage: batch-decode per partition; external
    * codecs (if any) ride the closure and are consulted after the JDK
    * ones — plugging MP3/H.264 in changes this call's argument, nothing
    * else in the pipeline. */
  def decodeAll(ds: Dataset[MediaRecord],
      codecs: Seq[MediaCodec] = Nil): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      // per-partition codec setup: without this, ImageIO spills EVERY
      // payload to a temp-file-backed cache before decoding — per-record
      // file create/write/delete in the hot loop (JVM-wide flag, cheap
      // to re-set per partition)
      javax.imageio.ImageIO.setUseCache(false)
      it.map(r => decode(r, codecs))
    }
  }

  /** One sampled frame of a decoded media record. */
  final case class FrameSample(
      media_id: Long, frame_idx: Int, width: Int, height: Int, frame_checksum: Long)

  /** Frame sampling (1→N generator shape): every `everyN`-th frame of each
    * decoded record becomes its own row — the flatMap twin of a
    * Pandas-UDF frame extractor. For an animated GIF the sampled indices
    * are the container's REAL frames (decode counts them via the JDK
    * codec); for the testdata's stub-decoded records the count is
    * fakeDecode's arithmetic. The frame checksum stays derived either
    * way, and the fan-out plumbing — row multiplication before any
    * shuffle, small rows flowing onward — is the real shape.
    */
  def sampleFrames(ds: Dataset[MediaFeatures], everyN: Int = 5): Dataset[FrameSample] = {
    import ds.sparkSession.implicits._
    ds.flatMap { f =>
      (0 until f.frames by everyN).map { i =>
        FrameSample(f.media_id, i, f.width, f.height, f.checksum * 31 + i)
      }
    }
  }

  /** Resize stage (stub dims math, real column plumbing): scales the fake
    * dimensions preserving aspect, as a codegen-friendly projection — a
    * real resizer would be another mapPartitions batch stage. */
  def resizeMeta(df: DataFrame, targetW: Int): DataFrame =
    df.withColumn("resized_w", lit(targetW))
      .withColumn("resized_h",
        greatest(lit(1), (col("height") * targetW / col("width")).cast("int")))

  /** documents.text → binary payloads (the testdata carries no real media;
    * utf-8 bytes stand in so the byte-level plumbing is exercised).
    */
  def asMedia(s: SparkSession, dir: String): Dataset[MediaRecord] = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("payload"),
        when(pmod(col("doc_id"), lit(2L)) === 0, "image").otherwise("audio").as("kind"))
      .as[MediaRecord]
  }

  /** End-to-end mapPartitions decode pipeline. The differential face
    * drops the checksum column (a rolling byte hash has no tractable SQL
    * twin; MultimodalSpec pins it exactly via `decodeAll` instead) so the
    * rest of the decode output — kind routing, byte length, dimension and
    * frame arithmetic — is hash-compared against a DuckDB oracle. */
  def qMultimodalDecode(s: SparkSession, dir: String): DataFrame =
    decodeAll(asMedia(s, dir)).toDF().drop("checksum").orderBy("media_id")

  /** Decode → frame-sample pipeline over a corpus that includes "video"
    * records (every 3rd doc), exercising the 1→N fan-out. Like
    * qMultimodalDecode, the per-frame checksum stays spec-pinned and out
    * of the differential face; the fan-out itself (one row per sampled
    * frame index) is oracle-checked via a lateral generate_series. */
  def qMultimodalFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("payload"),
        when(pmod(col("doc_id"), lit(3L)) === 0, "video")
          .when(pmod(col("doc_id"), lit(3L)) === 1, "image")
          .otherwise("audio").as("kind"))
      .as[MediaRecord]
    sampleFrames(decodeAll(media)).toDF()
      .drop("frame_checksum").orderBy("media_id", "frame_idx")
  }

  // ---- perceptual near-dup (dHash over decoded pixels) --------------------

  /** dHash grid: 8 rows × 9 cols of pooled luma → 8×8 = 64 horizontal
    * comparisons = one long. */
  private val DhashRows = 8
  private val DhashCols = 9

  /** 64-bit difference hash (public method — the standard perceptual
    * image fingerprint): average-pool a grayscale raster to
    * [[DhashRows]]×[[DhashCols]] cells, bit (r, c) = cell brighter than
    * its right neighbor. Pooling makes the hash invariant to resizing
    * and to the small per-pixel error a lossy re-encode introduces —
    * which is exactly what byte-exact hashing cannot see. Pure integer
    * grid arithmetic + double means: deterministic across JVMs and
    * partitionings. */
  private[graft] def dhashOfGray(gray: Array[Array[Double]]): Long = {
    val h = gray.length
    val w = gray(0).length
    var bits = 0L
    val cell = Array.ofDim[Double](DhashRows, DhashCols)
    var r = 0
    while (r < DhashRows) {
      var c = 0
      while (c < DhashCols) {
        val y0 = r * h / DhashRows; val y1 = math.max(y0 + 1, (r + 1) * h / DhashRows)
        val x0 = c * w / DhashCols; val x1 = math.max(x0 + 1, (c + 1) * w / DhashCols)
        var s = 0.0; var n = 0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { s += gray(y)(math.min(x, w - 1)); n += 1; x += 1 }
          y += 1
        }
        cell(r)(c) = s / n
        c += 1
      }
      r += 1
    }
    r = 0
    while (r < DhashRows) {
      var c = 0
      while (c < DhashCols - 1) {
        if (cell(r)(c) > cell(r)(c + 1)) bits |= 1L << (r * 8 + c)
        c += 1
      }
      r += 1
    }
    bits
  }

  /** Rec. 601 luma raster of a decoded image — the real-pixels source
    * for [[dhashOfGray]]. */
  private def grayOf(img: java.awt.image.BufferedImage): Array[Array[Double]] =
    Array.tabulate(img.getHeight, img.getWidth) { (y, x) =>
      val rgb = img.getRGB(x, y)
      0.299 * ((rgb >> 16) & 0xFF) + 0.587 * ((rgb >> 8) & 0xFF) + 0.114 * (rgb & 0xFF)
    }

  /** STUB raster for payloads no JDK codec claims (the [[fakeDecode]]
    * doctrine): the payload bytes average-pooled into the dHash grid
    * directly — a coarse "image" of the whole byte stream, deterministic
    * and twin-replayable, so the banding/join machinery above it is
    * exercised for real even on the testdata's text-byte stand-ins
    * (byte-identical payloads hash identically; near-identical payloads
    * land within a few bits). */
  /** THE cell-pooling arithmetic behind both stub and audio rasters: a
    * length-n sequence average-pooled row-major into the dHash grid.
    * Long offset math: (cell index) × n overflows Int for sequences past
    * ~2^31/cells ≈ 30 M elements, which would send a NEGATIVE index into
    * the accessor and kill the task — on exactly the oversized records a
    * 100 TB corpus is guaranteed to contain. One definition so the
    * bucket boundaries can never diverge between the two rasters. */
  private def pooledGrid(n: Int, at: Int => Double): Array[Array[Double]] =
    Array.tabulate(DhashRows, DhashCols) { (r, c) =>
      if (n == 0) 0.0
      else {
        val cells = DhashRows * DhashCols
        val i0 = ((r * DhashCols + c).toLong * n / cells).toInt
        val i1 = math.max(i0 + 1, ((r * DhashCols + c + 1).toLong * n / cells).toInt)
        var s = 0.0; var i = i0
        while (i < i1) { s += at(math.min(i, n - 1)); i += 1 }
        s / (i1 - i0)
      }
    }

  private[graft] def byteRaster(payload: Array[Byte]): Array[Array[Double]] =
    pooledGrid(payload.length, i => (payload(i) & 0xFF).toDouble)

  /** REAL-samples raster for audio: the mono |amplitude| envelope pooled
    * row-major into the dHash grid — 72 time buckets of mean loudness.
    * Feeding it through [[dhashOfGray]] gives an envelope difference
    * hash whose bits compare ADJACENT time buckets, so it is invariant
    * to uniform volume scaling (k·x preserves every cell>neighbor
    * comparison) — the audio analogue of dHash's resize/re-encode
    * invariance, and exactly what a remastered-louder copy of a track
    * needs to still pair with its original. */
  private[graft] def envelopeRaster(samples: Array[Double]): Array[Array[Double]] =
    pooledGrid(samples.length, i => math.abs(samples(i)))

  /** Perceptual fingerprint of one record: dHash over REAL decoded
    * pixels where a JDK image codec claims the payload, over the REAL
    * decoded PCM envelope where the JDK audio parser does (the
    * [[decode]] routing), over the byte-raster stub otherwise. */
  def perceptualHash(r: MediaRecord): Long = {
    val pixels =
      if (r.kind == "image" || r.kind == "video")
        sniffFormat(r.payload).flatMap(_ => withReader(r.payload)(rd => grayOf(rd.read(0))))
      else if (r.kind == "audio")
        sniffAudioFormat(r.payload).flatMap(_ => decodePcmMono(r.payload)).map(envelopeRaster)
      else None
    dhashOfGray(pixels.getOrElse(byteRaster(r.payload)))
  }

  /** Variant records get base id + this offset. */
  private[graft] val ReencodeIdOffset = 1000000L

  /** The "re-encode" stand-in for a text-byte payload: flip the case of
    * the first few ASCII letters — same length, same content modulo a
    * handful of byte values confined to the first raster cell, exactly
    * the signature a lossy re-encode leaves on real pixels (small local
    * value shifts, dHash within the band guarantee). Shared with the
    * differential twin so both faces construct one corpus. */
  private[graft] def reencodeVariant(payload: Array[Byte]): Array[Byte] = {
    val v = payload.clone()
    var i = 0; var flipped = 0
    while (i < v.length && flipped < 8) {
      if (v(i) >= 'a'.toByte && v(i) <= 'z'.toByte) { v(i) = (v(i) - 32).toByte; flipped += 1 }
      i += 1
    }
    v
  }

  /** [[asMedia]] plus a deterministic "re-encoded" variant of every 50th
    * record ([[reencodeVariant]], id + [[ReencodeIdOffset]]). The
    * synthetic corpus carries no image payloads and no byte-level
    * near-dups, so — the q_text_redact pattern — the candidates the
    * operator exists to find are constructed deterministically from the
    * data; the dHash + banded-join machinery is the thing under test.
    * REAL re-encoded images (PNG vs JPEG of one raster) go through the
    * same machinery in MultimodalSpec's planted-codec case. */
  private[graft] def mediaWithReencodes(s: SparkSession, dir: String): Dataset[MediaRecord] = {
    import s.implicits._
    asMedia(s, dir).flatMap { r =>
      if (r.media_id % 50 == 0)
        Seq(r, MediaRecord(r.media_id + ReencodeIdOffset, reencodeVariant(r.payload), r.kind))
      else Seq(r)
    }
  }

  /** Perceptual (dHash) near-duplicate pairs over a media corpus — what
    * joins [[Multimodal]]'s pixel decoding to [[Dedup]]'s banded-LSH
    * candidate machinery: per-record dHash in one mapPartitions pass
    * (payload bytes never shuffle; only (id, 64-bit hash) flows onward),
    * then [[Dedup.bandedHammingPairs]] — the SAME banding, join shape
    * and ≤3-Hamming completeness guarantee q_dedup_simhash carries. A
    * re-encoded copy of an image (different bytes, same pixels) pairs
    * here while exact hashing misses it — MultimodalSpec plants exactly
    * that JPEG case through the real-codec path. */
  def qImageNeardup(s: SparkSession, dir: String): DataFrame =
    imageNeardupOf(s, mediaWithReencodes(s, dir))

  /** [[qImageNeardup]] over an arbitrary media frame — the seam
    * MultimodalSpec drives real constructed images through. */
  private[graft] def imageNeardupOf(s: SparkSession, media: Dataset[MediaRecord]): DataFrame = {
    import s.implicits._
    val hashed = media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false) // see decodeAll's note
      it.map(r => (r.media_id, perceptualHash(r)))
    }.toDF("media_id", "dhash")
    Dedup.bandedHammingPairs(hashed, "media_id", "dhash", 3, "media_a", "media_b")
  }

  /** One q_multimodal_meta output row (the MPEG columns are None for
    * payloads that are not MPEG audio — the whole text corpus). */
  private[graft] final case class MetaRow(doc_id: Long, n_bytes: Long,
      content_hash: String, fake_w: Long, fake_h: Long,
      container: Option[String], sample_rate: Option[Long],
      channels: Option[Long], n_frames: Option[Long],
      sample_frames: Option[Long], duration_ms: Option[Long],
      bitrate_kbps: Option[Long])

  /** Metadata slice of the media plumbing, now carrying REAL MPEG
    * frame-header metadata: every %10=0 doc plants a deterministic MP3
    * stream and every %10=5 an ADTS/AAC stream (parameters derived from
    * doc_id), parsed back by [[readMpegAudioMeta]] on the executors;
    * text payloads exercise the not-claimed path (UTF-8 never contains
    * the 0xFF sync byte). The DuckDB oracle replays the plant
    * parameters as pure arithmetic, so a header-walk bug — wrong table,
    * wrong bit offset, missed ID3 skip — shows up as a hash mismatch.
    * Runs as a Dataset map (the module's mapPartitions doctrine: this
    * is byte-level parsing, not expression work). */
  def qMultimodalMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      // mapPartitions, not map: one MessageDigest per partition (digest()
      // resets it), per the module's own per-record-setup amortization
      // doctrine (r19 review)
      .mapPartitions { it =>
        val md5 = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, txt) =>
          val k = id / 10
          val payload =
            if (id % 10 == 0) synthMp3((k % 6).toInt + 2, (k % 3).toInt, stereo = k % 2 == 1)
            else if (id % 10 == 5) synthAdts((k % 6).toInt + 2, 3 + (k % 3).toInt, (k % 2).toInt + 1)
            // the r20 Ogg plants: Vorbis at %10=2, Opus at %10=7 —
            // page-count and granule parameters derived from doc_id
            else if (id % 10 == 2)
              synthOgg("vorbis", Mp3RateV1((k % 3).toInt), (k % 2).toInt + 1,
                ((k % 6) + 2) * 1024L, (k % 6).toInt + 2)
            else if (id % 10 == 7)
              synthOgg("opus", 48000, (k % 2).toInt + 1,
                ((k % 6) + 2) * 960L, (k % 6).toInt + 2)
            else txt
          val meta = readMpegAudioMeta(payload).orElse(readOggMeta(payload))
          val hash = md5.digest(txt).map(b => f"${b & 0xff}%02x").mkString
          MetaRow(id, txt.length.toLong, hash,
            txt.length.toLong % 640 + 1, id % 480 + 1,
            meta.map(_.container), meta.map(_.sampleRate.toLong),
            meta.map(_.channels.toLong), meta.map(_.nFrames.toLong),
            meta.map(_.sampleFrames), meta.map(_.durationMs),
            meta.flatMap(_.bitrateKbps.map(_.toLong)))
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** One q_video_meta output row (video columns are None for payloads
    * the strict walks do not claim — the whole text corpus). */
  private[graft] final case class VideoRow(doc_id: Long, container: Option[String],
      codec: Option[String], width: Option[Long], height: Option[Long],
      n_frames: Option[Long], duration_ms: Option[Long])

  /** The video twin of [[qMultimodalMeta]]: every %10=1 doc plants a
    * deterministic MP4 and every %10=6 a raw Annex-B H.264 stream
    * (dimensions/frame counts derived from doc_id), parsed back by
    * [[readVideoMeta]] on the executors; text payloads exercise the
    * not-claimed path (UTF-8 text never leads with an ftyp box or a
    * zero-byte start code). The DuckDB oracle replays the plant
    * parameters as arithmetic, so a misread box offset, a wrong
    * exp-Golomb decode, or a missed emulation-prevention byte fails the
    * hash. */
  def qVideoMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, txt) =>
        val k = id / 10
        val payload =
          if (id % 10 == 1)
            synthMp4(((k % 8).toInt + 2) * 16, ((k % 5).toInt + 2) * 16,
              (k % 24).toInt + 1, ((k % 24) + 1) * 40L)
          else if (id % 10 == 6)
            // half the raw streams carry VUI timing (25 fps), half are
            // clockless — both real encoder shapes
            synthH264((k % 8).toInt + 2, (k % 5).toInt + 2, (k % 24).toInt + 1,
              fps = if (k % 2 == 0) 25 else 0)
          // the r20 WebM plant: the EBML walk's fixture, same dimension
          // and frame-count arithmetic as the MP4 plant
          else if (id % 10 == 3)
            synthWebm(((k % 8).toInt + 2) * 16, ((k % 5).toInt + 2) * 16,
              (k % 24).toInt + 1, ((k % 24) + 1) * 40L)
          else txt
        val meta = readVideoMeta(payload)
        VideoRow(id, meta.map(_.container), meta.map(_.codec),
          meta.map(_.width.toLong), meta.map(_.height.toLong),
          meta.map(_.nFrames.toLong), meta.flatMap(_.durationMs))
      }
      .toDF()
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_multimodal_meta"   -> qMultimodalMeta _,
    "q_video_meta"        -> qVideoMeta _,
    "q_multimodal_decode" -> qMultimodalDecode _,
    "q_multimodal_frames" -> qMultimodalFrames _,
    "q_image_neardup"     -> qImageNeardup _,
  )

  /** The decode/frames oracles replay the stub arithmetic (the testdata's
    * text payloads never sniff as PNG, so every record takes the fake
    * path — deterministic by design); checksum columns are excluded from
    * the differential face and pinned by MultimodalSpec. */
  val oracles: Map[String, String] = Map(
    // the MPEG columns replay the PLANT parameters as arithmetic: the
    // engine parses real synthesized streams, the oracle knows what was
    // planted — disagreement means the header walk misread a bit field
    "q_multimodal_meta" ->
      """WITH m AS (
        |  SELECT doc_id, doc_id // 10 AS k,
        |    CASE WHEN doc_id % 10 = 0 THEN 'mp3'
        |         WHEN doc_id % 10 = 5 THEN 'aac'
        |         WHEN doc_id % 10 = 2 THEN 'vorbis'
        |         WHEN doc_id % 10 = 7 THEN 'opus' END AS container
        |  FROM documents),
        |x AS (
        |  SELECT doc_id, container,
        |    CASE container
        |      WHEN 'mp3' THEN CASE k % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END
        |      WHEN 'aac' THEN CASE k % 3 WHEN 0 THEN 48000 WHEN 1 THEN 44100 ELSE 32000 END
        |      WHEN 'vorbis' THEN CASE k % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END
        |      WHEN 'opus' THEN 48000 END AS sample_rate,
        |    CASE WHEN container IS NOT NULL THEN k % 2 + 1 END AS channels,
        |    -- Ogg plants count PAGES: k%6+2 data pages + the BOS header page
        |    CASE container WHEN 'vorbis' THEN k % 6 + 3 WHEN 'opus' THEN k % 6 + 3
        |                   ELSE CASE WHEN container IS NOT NULL THEN k % 6 + 2 END END AS n_frames,
        |    -- opus: playback samples exclude the planted 312 pre-skip
        |    CASE container WHEN 'mp3' THEN (k % 6 + 2) * 1152
        |                   WHEN 'aac' THEN (k % 6 + 2) * 1024
        |                   WHEN 'vorbis' THEN (k % 6 + 2) * 1024
        |                   WHEN 'opus' THEN (k % 6 + 2) * 960 - 312 END AS sample_frames,
        |    CASE container WHEN 'mp3' THEN 128 END AS bitrate_kbps
        |  FROM m)
        |SELECT d.doc_id,
        |  octet_length(encode(d.text)) AS n_bytes,
        |  md5(d.text) AS content_hash,
        |  octet_length(encode(d.text)) % 640 + 1 AS fake_w,
        |  d.doc_id % 480 + 1 AS fake_h,
        |  x.container,
        |  CAST(x.sample_rate AS BIGINT) AS sample_rate,
        |  CAST(x.channels AS BIGINT) AS channels,
        |  CAST(x.n_frames AS BIGINT) AS n_frames,
        |  CAST(x.sample_frames AS BIGINT) AS sample_frames,
        |  CAST(x.sample_frames * 1000 // x.sample_rate AS BIGINT) AS duration_ms,
        |  CAST(x.bitrate_kbps AS BIGINT) AS bitrate_kbps
        |FROM documents d JOIN x ON d.doc_id = x.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // video columns replay the PLANT parameters, like the audio face:
    // the engine walks real synthesized MP4 boxes / H.264 SPS bits, the
    // oracle knows what was planted
    "q_video_meta" ->
      """WITH m AS (
        |  SELECT doc_id, doc_id // 10 AS k,
        |    CASE WHEN doc_id % 10 = 1 THEN 'mp4'
        |         WHEN doc_id % 10 = 6 THEN 'h264'
        |         WHEN doc_id % 10 = 3 THEN 'webm' END AS container
        |  FROM documents)
        |SELECT doc_id, container,
        |  CASE container WHEN 'mp4' THEN 'avc1' WHEN 'h264' THEN 'avc'
        |                 WHEN 'webm' THEN 'vp9' END AS codec,
        |  CAST(CASE WHEN container IS NOT NULL THEN (k % 8 + 2) * 16 END AS BIGINT) AS width,
        |  CAST(CASE WHEN container IS NOT NULL THEN (k % 5 + 2) * 16 END AS BIGINT) AS height,
        |  CAST(CASE WHEN container IS NOT NULL THEN k % 24 + 1 END AS BIGINT) AS n_frames,
        |  CAST(CASE WHEN container = 'mp4' THEN (k % 24 + 1) * 40
        |            WHEN container = 'h264' AND k % 2 = 0 THEN (k % 24 + 1) * 40
        |            WHEN container = 'webm' THEN (k % 24 + 1) * 40
        |       END AS BIGINT) AS duration_ms
        |FROM m ORDER BY doc_id""".stripMargin,
    "q_multimodal_decode" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
        |  octet_length(encode(text)) AS n_bytes,
        |  cast(octet_length(encode(text)) % 640 + 1 AS int) AS width,
        |  cast(doc_id % 480 + 1 AS int) AS height,
        |  1 AS frames
        |FROM documents ORDER BY media_id""".stripMargin,
    "q_multimodal_frames" ->
      """WITH f AS (
        |  SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes,
        |    CASE WHEN doc_id % 3 = 0 THEN octet_length(encode(text)) % 25 + 1
        |         ELSE 1 END AS frames
        |  FROM documents)
        |SELECT media_id,
        |  cast(unnest(range(0, cast(frames AS bigint), 5)) AS int) AS frame_idx,
        |  cast(n_bytes % 640 + 1 AS int) AS width,
        |  cast(media_id % 480 + 1 AS int) AS height
        |FROM f ORDER BY media_id, frame_idx""".stripMargin,
  )
}
