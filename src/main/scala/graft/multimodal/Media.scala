package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for a training-data pipeline: image/audio/video
  * travel as opaque `binary` columns with typed metadata extracted by
  * per-partition batch transforms.
  *
  * IMAGE decode is REAL: container sniffing by magic bytes plus a
  * header-only dimension read through the JDK's own `javax.imageio` (the
  * reader parses just the image header — IHDR / SOF / logical screen
  * descriptor — never the pixel payload, which is what makes per-row decode
  * viable over billions of images). AUDIO container decode is REAL for the
  * formats the JDK itself parses — WAV / AIFF / AU through
  * `javax.sound.sampled.AudioSystem.getAudioFileFormat`, again header-only
  * (the fmt/COMM chunk, never the sample payload). VIDEO CONTAINER decode
  * is REAL for ISO BMFF (MP4/MOV — `mvhd` duration, `tkhd` 16.16 track
  * dimensions) and RIFF AVI (`avih` main header) via a pure-JVM byte walk
  * of the published box/chunk formats. Bytes no header parser reads
  * (compressed audio such as mp3/ogg, corrupt headers, anything else)
  * decode to `("unknown", 0, 0)` — nothing is made up for them; a
  * JNI/FFmpeg decoder slots into [[decode]] with the same (bytes in, typed
  * meta out) contract.
  */
object Media {

  /** Typed metadata row extracted per media object. */
  final case class MediaMeta(
      doc_id: Long,
      byte_len: Long,
      kind: String,   // sniffed container kind ("png","jpeg","gif","bmp",...,"empty","unknown")
      width: Int,     // header-decoded dimensions; 0 when no header parser reads the bytes
      height: Int,
      checksum: String)

  /** Sniff an image container from its magic bytes. */
  def sniffImage(bytes: Array[Byte]): Option[String] = {
    def b(i: Int): Int = bytes(i) & 0xff
    if (bytes.length >= 8 && b(0) == 0x89 && b(1) == 'P' && b(2) == 'N' &&
      b(3) == 'G' && b(4) == 0x0d && b(5) == 0x0a && b(6) == 0x1a && b(7) == 0x0a)
      Some("png")
    else if (bytes.length >= 3 && b(0) == 0xff && b(1) == 0xd8 && b(2) == 0xff)
      Some("jpeg")
    else if (bytes.length >= 4 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8')
      Some("gif")
    else if (bytes.length >= 2 && b(0) == 'B' && b(1) == 'M')
      Some("bmp")
    else None
  }

  /** Real header-only dimension decode for a sniffed image container.
    * Returns None for non-images or corrupt headers — a malformed row must
    * never fail the batch.
    */
  def imageDims(bytes: Array[Byte]): Option[(String, Int, Int)] =
    sniffImage(bytes).flatMap { kind =>
      try {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) None
          else {
            val r = readers.next()
            try {
              r.setInput(iis)
              Some((kind, r.getWidth(0), r.getHeight(0)))
            } finally r.dispose()
          }
        } finally iis.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    }

  /** Sniff an audio container the JDK can parse from its magic bytes:
    * RIFF/WAVE, FORM/AIFF(-C), Sun .snd AU.
    */
  def sniffAudio(bytes: Array[Byte]): Option[String] = {
    def tag(off: Int, s: String): Boolean =
      bytes.length >= off + s.length &&
        s.indices.forall(i => (bytes(off + i) & 0xff) == s.charAt(i).toInt)
    if (tag(0, "RIFF") && tag(8, "WAVE")) Some("wav")
    else if (tag(0, "FORM") && (tag(8, "AIFF") || tag(8, "AIFC"))) Some("aiff")
    else if (tag(0, ".snd")) Some("au")
    else None
  }

  /** Parsed audio header (no sample payload is read). `frames` is -1 when
    * the container does not carry a frame count in its header.
    */
  final case class AudioMeta(kind: String, channels: Int, sampleRateHz: Int,
                             frames: Long, durationMs: Long)

  /** Real header-only audio decode for a sniffed WAV/AIFF/AU container via
    * the JDK's `AudioSystem`. None for non-audio or corrupt headers — a
    * malformed row must never fail the batch.
    */
  def audioMeta(bytes: Array[Byte]): Option[AudioMeta] =
    sniffAudio(bytes).flatMap { kind =>
      try {
        val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
          new java.io.ByteArrayInputStream(bytes))
        val f = aff.getFormat
        val rate = math.round(f.getSampleRate)
        val frames = aff.getFrameLength.toLong
        val durMs =
          if (frames >= 0 && rate > 0) math.round(frames * 1000.0 / rate) else -1L
        Some(AudioMeta(kind, f.getChannels, rate, frames, durMs))
      } catch { case scala.util.control.NonFatal(_) => None }
    }

  /** Sniff a video container from its structural signature: ISO BMFF
    * (`ftyp` box at offset 4 — MP4/MOV/3GP family) or RIFF AVI.
    */
  def sniffVideo(bytes: Array[Byte]): Option[String] = {
    def tag(off: Int, s: String): Boolean =
      bytes.length >= off + s.length &&
        s.indices.forall(i => (bytes(off + i) & 0xff) == s.charAt(i).toInt)
    if (tag(4, "ftyp")) Some("mp4")
    else if (tag(0, "RIFF") && tag(8, "AVI ")) Some("avi")
    else None
  }

  /** Parsed video header. Dimensions/duration are -1 when the header does
    * not carry them (e.g. an MP4 with no video track header).
    */
  final case class VideoMeta(kind: String, width: Int, height: Int,
                             durationMs: Long)

  /** Real header-only video CONTAINER decode (published formats, pure-JVM
    * byte walk — no codec is invoked and no sample payload is read):
    *
    *  - ISO BMFF (ISO/IEC 14496-12, the MP4/MOV family): walk the top-level
    *    box chain to `moov`, read `mvhd` (timescale + duration, version
    *    0/1) for duration and the first `trak/tkhd` carrying a nonzero
    *    16.16 fixed-point width/height for dimensions.
    *  - AVI (Microsoft RIFF): locate the `avih` main header chunk —
    *    dwMicroSecPerFrame × dwTotalFrames for duration, dwWidth/dwHeight
    *    for dimensions (all little-endian).
    *
    * None for non-video or corrupt headers — a malformed row must never
    * fail the batch. Frame DECODE (pixels) needs a codec library not
    * present in the JDK.
    */
  def videoMeta(bytes: Array[Byte]): Option[VideoMeta] =
    sniffVideo(bytes).flatMap { kind =>
      try {
        val m = if (kind == "mp4") mp4Meta(bytes) else aviMeta(bytes)
        m.map { case (w, h, dur) => VideoMeta(kind, w, h, dur) }
      } catch { case scala.util.control.NonFatal(_) => None }
    }

  private def be32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
  private def be64(b: Array[Byte], o: Int): Long =
    (be32(b, o) << 32) | be32(b, o + 4)
  private def le32(b: Array[Byte], o: Int): Long =
    ((b(o + 3) & 0xffL) << 24) | ((b(o + 2) & 0xffL) << 16) |
      ((b(o + 1) & 0xffL) << 8) | (b(o) & 0xffL)
  private def fourcc(b: Array[Byte], o: Int): String =
    new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** Walk ISO BMFF boxes in [from, to) invoking f(type, payloadFrom,
    * payloadTo); honors 64-bit largesize (size==1) and to-end (size==0).
    */
  private def walkBoxes(b: Array[Byte], from: Int, to: Int)
                       (f: (String, Int, Int) => Unit): Unit = {
    var off = from
    while (off + 8 <= to) {
      val size0 = be32(b, off)
      val typ = fourcc(b, off + 4)
      val payload: Long =
        if (size0 == 1L && off + 16 <= to) off + 16L else off + 8L
      val end: Long =
        if (size0 == 1L && off + 16 <= to) off + be64(b, off + 8)
        else if (size0 == 0L) to.toLong
        else off + size0
      if (end < payload || end > to) return // corrupt size: stop the walk
      f(typ, payload.toInt, end.toInt)
      off = end.toInt
    }
  }

  private def mp4Meta(b: Array[Byte]): Option[(Int, Int, Long)] = {
    var durMs = -1L
    var w = -1
    var h = -1
    walkBoxes(b, 0, b.length) { (typ, p, e) =>
      if (typ == "moov") walkBoxes(b, p, e) { (t2, p2, e2) =>
        if (t2 == "mvhd" && durMs < 0 && e2 - p2 >= 20) {
          val version = b(p2) & 0xff
          // v0: ver/flags 4, creation 4, modification 4, timescale 4, duration 4
          // v1: ver/flags 4, creation 8, modification 8, timescale 4, duration 8
          val (ts, dur) =
            if (version == 1 && e2 - p2 >= 32)
              (be32(b, p2 + 20), be64(b, p2 + 24))
            else (be32(b, p2 + 12), be32(b, p2 + 16))
          if (ts > 0) durMs = math.round(dur * 1000.0 / ts)
        } else if (t2 == "trak" && w < 0) walkBoxes(b, p2, e2) { (t3, p3, e3) =>
          if (t3 == "tkhd" && w < 0) {
            val version = b(p3) & 0xff
            // width/height are the LAST 8 payload bytes, 16.16 fixed-point,
            // for both versions — index from the end, not the front.
            val need = if (version == 1) 92 else 80
            if (e3 - p3 >= need) {
              val wi = (be32(b, e3 - 8) >> 16).toInt
              val hi = (be32(b, e3 - 4) >> 16).toInt
              if (wi > 0 && hi > 0) { w = wi; h = hi } // skip audio tracks (0×0)
            }
          }
        }
      }
    }
    if (durMs >= 0 || w > 0) Some((w, h, durMs)) else None
  }

  private def aviMeta(b: Array[Byte]): Option[(Int, Int, Long)] = {
    // RIFF chunk walk from offset 12 (past "RIFF"+size+"AVI "): chunks are
    // fourcc + LE size + payload (word-aligned); LIST chunks nest after a
    // 4-byte list type. avih payload: dwMicroSecPerFrame@0, dwTotalFrames@16,
    // dwWidth@32, dwHeight@36 (all LE).
    // Untrusted bytes: sizes stay unsigned Longs, every step moves strictly
    // forward (past the 8-byte chunk header at least), and LIST nesting is
    // bounded, so no input can loop or overflow the stack.
    var out: Option[(Int, Int, Long)] = None
    def walk(from: Int, to: Int, depth: Int): Unit = {
      var off = from.toLong
      while (off + 8 <= to && out.isEmpty) {
        val id = fourcc(b, off.toInt)
        val sz = le32(b, off.toInt + 4)
        val p = off.toInt + 8
        val e = math.min(p + sz, to.toLong).toInt
        if (id == "LIST" && e - p >= 4) { if (depth < 16) walk(p + 4, e, depth + 1) }
        else if (id == "avih" && e - p >= 40) {
          val usPerFrame = le32(b, p)
          val frames = le32(b, p + 16)
          val w = le32(b, p + 32).toInt
          val h = le32(b, p + 36).toInt
          // both fields are 32-bit, so their product can overflow a Long
          val durMs =
            if (usPerFrame > 0 && frames > Long.MaxValue / usPerFrame) -1L
            else math.round(usPerFrame * frames / 1000.0)
          out = Some((w, h, durMs))
        }
        off = p + sz + (sz & 1) // chunks are word-aligned
      }
    }
    walk(12, b.length, 0)
    out
  }

  /** Full decode seam: real image/audio/video-container header decode where
    * a published pure-JVM parse exists, `("empty", 0, 0)` for no bytes and
    * `("unknown", 0, 0)` for bytes no parser reads. Total — never throws
    * on malformed bytes. For audio the two dimension slots carry
    * (channels, sampleRateHz) — the typed [[audioMeta]] / [[videoMeta]]
    * accessors return the full headers including duration.
    */
  def decode(bytes: Array[Byte]): (String, Int, Int) =
    if (bytes.isEmpty) ("empty", 0, 0)
    else imageDims(bytes)
      .orElse(audioMeta(bytes).map(a => (a.kind, a.channels, a.sampleRateHz)))
      .orElse(videoMeta(bytes).map(v => (v.kind, v.width, v.height)))
      .getOrElse(("unknown", 0, 0))

  /** Extract typed metadata for every row of (idCol: long, binCol: binary).
    * One decoder context per partition, streaming over the batch — the
    * correct distribution shape for an expensive stateful decoder.
    */
  def extractMeta(df: DataFrame, idCol: String, binCol: String): Dataset[MediaMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // a real implementation initializes heavier codecs ONCE here
        it.map { case (id, bytes) =>
          val b = if (bytes == null) Array.emptyByteArray else bytes
          val (kind, w, h) = decode(b)
          MediaMeta(id, b.length.toLong, kind, w, h,
            org.apache.commons.codec.digest.DigestUtils.md5Hex(b))
        }
      }
  }

  /** Sample up to `n` fixed-size "frames" at a byte stride — the frame-
    * sampling plumbing (offsets, bounds, batch shape); a video decoder slots
    * into the same loop.
    */
  def sampleFrames(bytes: Array[Byte], frameSize: Int, stride: Int,
                   n: Int): Array[Array[Byte]] = {
    require(frameSize > 0 && stride > 0 && n >= 0)
    val out = new scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    var off = 0
    while (out.length < n && off + frameSize <= bytes.length) {
      out += java.util.Arrays.copyOfRange(bytes, off, off + frameSize)
      off += stride
    }
    out.toArray
  }
}
