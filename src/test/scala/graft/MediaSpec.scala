package graft

import graft.multimodal.Media
import graft.query.{MemoryIndex, Query}
import org.scalatest.funsuite.AnyFunSuite

/** Multimodal binary-column plumbing (stubbed decode, real schema/batching)
  * and the single-doc MemoryIndex.
  */
class MediaSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("extractMeta: typed schema, determinism, null safety") {
    val df = Seq(
      (1L, "hello world".getBytes("UTF-8")),
      (2L, Array.emptyByteArray),
      (3L, null.asInstanceOf[Array[Byte]]),
      (4L, Array.tabulate(300)(_.toByte))
    ).toDF("doc_id", "media")
    val meta = Media.extractMeta(df, "doc_id", "media").collect().sortBy(_.doc_id)
    assert(meta.map(_.doc_id).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(meta(0).byte_len == 11L)
    assert(meta(1).kind == "empty" && meta(2).kind == "empty")
    assert(meta(3).byte_len == 300L)
    assert(meta(3).width >= 16 && meta(3).width < 256)
    // deterministic: same input -> same fake decode
    val again = Media.extractMeta(df, "doc_id", "media").collect().sortBy(_.doc_id)
    assert(meta.toSeq == again.toSeq)
    // checksum is the bytes' md5
    assert(meta(0).checksum ==
      org.apache.commons.codec.digest.DigestUtils.md5Hex("hello world".getBytes("UTF-8")))
  }

  test("real image decode: PNG and JPEG dimensions from encoded bytes") {
    def encode(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => (0 until h).foreach(y =>
        img.setRGB(x, y, (x * 31 + y * 17) & 0xffffff)))
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos))
      bos.toByteArray
    }
    val png = encode("png", 37, 21)
    val jpg = encode("jpg", 64, 48)
    assert(Media.sniffImage(png).contains("png"))
    assert(Media.sniffImage(jpg).contains("jpeg"))
    assert(Media.decode(png) == ("png", 37, 21))
    assert(Media.decode(jpg) == ("jpeg", 64, 48))
    // corrupt header: sniffs as png but the reader fails -> stub, no throw
    val corrupt = png.take(12) ++ Array.fill[Byte](4)(0x7f)
    val (k, cw, ch) = Media.decode(corrupt)
    assert(cw >= 0 && ch >= 0 && k.nonEmpty)
    // end-to-end through the Spark batch path
    val df = Seq((1L, png), (2L, jpg), (3L, "not an image".getBytes("UTF-8")))
      .toDF("doc_id", "media")
    val meta = Media.extractMeta(df, "doc_id", "media").collect().sortBy(_.doc_id)
    assert(meta(0).kind == "png" && meta(0).width == 37 && meta(0).height == 21)
    assert(meta(1).kind == "jpeg" && meta(1).width == 64 && meta(1).height == 48)
    assert(meta(2).width >= 16) // stub fallback for non-image bytes
  }

  test("real audio header decode: WAV, AIFF, AU via javax.sound.sampled") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    def encode(tpe: AudioFileFormat.Type, rateHz: Float, channels: Int,
               nFrames: Int): Array[Byte] = {
      val fmt = new AudioFormat(rateHz, 16, channels, true,
        tpe != AudioFileFormat.Type.WAVE) // AIFF/AU are big-endian PCM
      val pcm = new Array[Byte](nFrames * fmt.getFrameSize)
      pcm.indices.foreach(i => pcm(i) = ((i * 37) & 0xff).toByte)
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, tpe, bos)
      bos.toByteArray
    }
    val wav = encode(AudioFileFormat.Type.WAVE, 16000f, 1, 16000 * 2) // 2 s mono
    val aiff = encode(AudioFileFormat.Type.AIFF, 44100f, 2, 4410)     // 0.1 s stereo
    assert(Media.sniffAudio(wav).contains("wav"))
    assert(Media.sniffAudio(aiff).contains("aiff"))
    assert(Media.sniffAudio("RIFFxxxxNOPE".getBytes("US-ASCII")).isEmpty)
    val wm = Media.audioMeta(wav).get
    assert(wm == Media.AudioMeta("wav", 1, 16000, 32000L, 2000L))
    val am = Media.audioMeta(aiff).get
    assert(am.kind == "aiff" && am.channels == 2 && am.sampleRateHz == 44100 &&
      am.frames == 4410L && am.durationMs == 100L)
    val au = encode(AudioFileFormat.Type.AU, 8000f, 1, 800) // 0.1 s mono
    assert(Media.audioMeta(au).get == Media.AudioMeta("au", 1, 8000, 800L, 100L))
    // decode seam carries (channels, sampleRateHz) in the dimension slots
    assert(Media.decode(wav) == ("wav", 1, 16000))
    // truncated header: sniffs as wav but the parser fails -> stub, no throw
    val (k, _, _) = Media.decode(wav.take(16))
    assert(k.nonEmpty)
    // end-to-end through the Spark batch path next to an image
    val df = Seq((1L, wav), (2L, aiff)).toDF("doc_id", "media")
    val meta = Media.extractMeta(df, "doc_id", "media").collect().sortBy(_.doc_id)
    assert(meta(0).kind == "wav" && meta(0).width == 1 && meta(0).height == 16000)
    assert(meta(1).kind == "aiff" && meta(1).width == 2 && meta(1).height == 44100)
  }

  test("real video container decode: MP4 (ISO BMFF) and AVI headers") {
    import java.nio.{ByteBuffer, ByteOrder}
    def be(i: Long): Array[Byte] =
      ByteBuffer.allocate(4).putInt(i.toInt).array()
    def box(typ: String, payload: Array[Byte]): Array[Byte] =
      be(8L + payload.length) ++ typ.getBytes("US-ASCII") ++ payload
    // spec-sized mvhd v0: fullbox(4) cre(4) mod(4) timescale(4) duration(4)
    // rate(4) vol(2) rsv(10) matrix(36) predefined(24) nextTrack(4) = 100
    val mvhd = box("mvhd", be(0) ++ be(0) ++ be(0) ++ be(1000) ++ be(5000) ++
      new Array[Byte](100 - 20))
    // spec-sized tkhd v0: 84-byte payload, width/height are the LAST 8 bytes
    // as 16.16 fixed-point
    def tkhd(w: Int, h: Int) = box("tkhd",
      new Array[Byte](84 - 8) ++ be(w.toLong << 16) ++ be(h.toLong << 16))
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ be(0))
    val mp4 = ftyp ++ box("moov",
      mvhd ++ box("trak", tkhd(0, 0)) ++ box("trak", tkhd(640, 360)))
    assert(Media.sniffVideo(mp4).contains("mp4"))
    // audio track (0x0) is skipped; duration = 5000/1000 s in ms
    assert(Media.videoMeta(mp4).get == Media.VideoMeta("mp4", 640, 360, 5000L))
    assert(Media.decode(mp4) == ("mp4", 640, 360))

    def le(i: Long): Array[Byte] = ByteBuffer.allocate(4)
      .order(ByteOrder.LITTLE_ENDIAN).putInt(i.toInt).array()
    // avih: usPerFrame@0 totalFrames@16 width@32 height@36, 56-byte payload
    val avih = "avih".getBytes("US-ASCII") ++ le(56) ++
      (le(33333) ++ new Array[Byte](12) ++ le(300) ++ new Array[Byte](12) ++
        le(320) ++ le(240) ++ new Array[Byte](16))
    val hdrl = "LIST".getBytes("US-ASCII") ++ le(4L + avih.length) ++
      "hdrl".getBytes("US-ASCII") ++ avih
    val avi = "RIFF".getBytes("US-ASCII") ++ le(4L + hdrl.length) ++
      "AVI ".getBytes("US-ASCII") ++ hdrl
    assert(Media.sniffVideo(avi).contains("avi"))
    // 33333 us/frame x 300 frames = 9999.9 ms, rounded
    assert(Media.videoMeta(avi).get == Media.VideoMeta("avi", 320, 240, 10000L))

    // corrupt: sniffs as mp4 but box sizes are garbage -> stub, no throw
    val corrupt = mp4.take(8) ++ Array.fill[Byte](8)(0x7f)
    assert(Media.videoMeta(corrupt).isEmpty)
    val (k, _, _) = Media.decode(corrupt)
    assert(k.nonEmpty)
    // end-to-end through the Spark batch path
    val df = Seq((1L, mp4), (2L, avi)).toDF("doc_id", "media")
    val meta = Media.extractMeta(df, "doc_id", "media").collect().sortBy(_.doc_id)
    assert(meta(0).kind == "mp4" && meta(0).width == 640 && meta(0).height == 360)
    assert(meta(1).kind == "avi" && meta(1).width == 320 && meta(1).height == 240)
  }

  test("corrupt AVI headers: huge chunk sizes, deep LIST nesting, overflowing duration") {
    import java.nio.{ByteBuffer, ByteOrder}
    def le(i: Long): Array[Byte] = ByteBuffer.allocate(4)
      .order(ByteOrder.LITTLE_ENDIAN).putInt(i.toInt).array()
    def ascii(s: String): Array[Byte] = s.getBytes("US-ASCII")
    def riff(body: Array[Byte]): Array[Byte] =
      ascii("RIFF") ++ le(4L + body.length) ++ ascii("AVI ") ++ body
    def avih(usPerFrame: Long, frames: Long): Array[Byte] =
      ascii("avih") ++ le(56) ++ (le(usPerFrame) ++ new Array[Byte](12) ++ le(frames) ++
        new Array[Byte](12) ++ le(320) ++ le(240) ++ new Array[Byte](16))
    // every result within a deadline: the walk must terminate, never spin
    def within[A](body: => A): A = {
      val f = scala.concurrent.Future(body)(scala.concurrent.ExecutionContext.global)
      scala.concurrent.Await.result(f, scala.concurrent.duration.Duration(10, "s"))
    }
    // chunk sizes at and past 0x80000000 used to turn negative and stall
    for (sz <- Seq(0x80000000L, 0xFFFFFFF8L, 0xFFFFFFF9L, 0xFFFFFFFFL)) {
      val avi = riff(ascii("JUNK") ++ le(sz) ++ new Array[Byte](8))
      assert(Media.sniffVideo(avi).contains("avi"))
      assert(within(Media.videoMeta(avi)).isEmpty, f"size 0x$sz%x")
    }
    // a huge chunk before a valid avih skips to the end instead of looping
    assert(within(Media.videoMeta(riff(ascii("JUNK") ++ le(0xFFFFFFF8L) ++ avih(33333, 300)))).isEmpty)
    // LIST nesting deeper than any real file stops early, no stack overflow
    val levels = 100000
    val leaf = avih(33333, 300)
    val deep = (0 until levels).iterator.flatMap { i =>
      ascii("LIST") ++ le(4L + (levels - i - 1) * 12L + leaf.length) ++ ascii("hdrl")
    }.toArray ++ leaf
    assert(within(Media.videoMeta(riff(deep))).isEmpty)
    // a product of two 32-bit fields past Long range has no duration
    assert(within(Media.videoMeta(riff(avih(0xFFFFFFFFL, 0xFFFFFFFFL)))).get ==
      Media.VideoMeta("avi", 320, 240, -1L))
    assert(within(Media.videoMeta(riff(avih(33333, 300)))).get ==
      Media.VideoMeta("avi", 320, 240, 10000L))
  }

  test("sampleFrames: offsets, bounds, count cap") {
    val bytes = Array.tabulate(100)(_.toByte)
    val frames = Media.sampleFrames(bytes, frameSize = 8, stride = 32, n = 5)
    assert(frames.length == 3) // offsets 0, 32, 64 fit; 96+8 > 100
    assert(frames(0).toSeq == (0 until 8).map(_.toByte))
    assert(frames(1).toSeq == (32 until 40).map(_.toByte))
    assert(Media.sampleFrames(bytes, 8, 32, 1).length == 1)
    assert(Media.sampleFrames(Array.emptyByteArray, 8, 32, 5).isEmpty)
  }

  test("MemoryIndex percolation and scoring") {
    val mi = new MemoryIndex("the quick brown fox jumps over the lazy dog")
    assert(mi.matches(Query.Term("fox")))
    assert(!mi.matches(Query.Term("cat")))
    assert(!mi.matches(Query.Term("the"))) // stopword never indexed
    assert(mi.matches(Query.parse("+quick +dog")))
    assert(!mi.matches(Query.parse("+quick +cat")))
    assert(mi.matches(Query.parse("\"quick brown\"")))
    assert(!mi.matches(Query.parse("\"brown quick\"")))
    assert(mi.matches(Query.Phrase(Seq("brown", "quick"), slop = 2))) // reordered in slop
    assert(mi.score(Query.Term("fox")) > 0.0f)
    assert(mi.score(Query.Term("cat")) == 0.0f)
    // position holes: 'over the lazy' -> 'over' at 4, 'lazy' at 6
    assert(mi.matches(Query.Phrase(Seq("jumps", "over"))))
    assert(!mi.matches(Query.Phrase(Seq("over", "lazy")))) // hole breaks slop-0
  }
}
