package graft

import graft.carve._
import graft.core.CarvedFile
import graft.evidence.InMemoryEvidence
import graft.fixtures.FixtureBytes
import java.io.ByteArrayOutputStream

/** One sample per structure walker, with the offsets its edge cases cut
  * at: `headerCut` ends the evidence inside the first header, `bodyCut`
  * inside a body the walker moves past. `hitDelta` is where the scan
  * pattern sits in the sample (tar's `ustar` magic is 257 bytes in).
  */
final case class WalkerSample(
    name: String,
    make: (Long, Long) => CarveHandler,
    bytes: Array[Byte],
    patternId: String,
    headerCut: Int,
    bodyCut: Int,
    hitDelta: Int = 0)

object WalkerSamples {
  import FixtureBytes._

  private def ascii(s: String): Array[Byte] = s.getBytes("ISO-8859-1")

  private def concat(parts: Array[Byte]*): Array[Byte] = {
    val out = new ByteArrayOutputStream
    parts.foreach(p => out.write(p))
    out.toByteArray
  }

  /** GIF89a with a 4-entry global color table, a graphic-control
    * extension and one image whose data spans two sub-blocks.
    */
  def gif(): Array[Byte] = concat(
    ascii("GIF89a"),
    Array[Byte](1, 0, 1, 0, 0x81.toByte, 0, 0), // LSD: GCT of 2^(1+1) entries
    Array.tabulate[Byte](12)(i => (i * 21).toByte),
    Array[Byte](0x21, 0xf9.toByte, 4, 1, 2, 3, 4, 0),
    Array[Byte](0x2c, 0, 0, 0, 0, 1, 0, 1, 0, 0), // image descriptor, no LCT
    Array[Byte](2, 5, 10, 20, 30, 40, 50, 3, 7, 8, 9, 0),
    Array[Byte](0x3b))

  /** A bare-sync MP3: three MPEG1 Layer III frames at 128 kbps / 44.1 kHz. */
  def mp3Sync(): Array[Byte] = {
    val frame = Array[Byte](0xff.toByte, 0xfb.toByte, 0x90.toByte, 0) ++ Array.fill[Byte](413)(0x55)
    concat(frame, frame, frame)
  }

  /** RTF whose `\bin3` raw bytes hold braces the depth count must skip. */
  def rtf(): Array[Byte] = ascii("{\\rtf1\\ansi\\deff0 a{\\b bold}\\bin3 }}{c} plain text}")

  val all: Seq[WalkerSample] = Seq(
    WalkerSample("png", new PngCarver(_, _), png(), "png_sig", headerCut = 5, bodyCut = 22),
    WalkerSample("gif", new GifCarver(_, _), gif(), "gif89a", headerCut = 4, bodyCut = 18),
    WalkerSample("sqlite", new SqliteCarver(_, _), sqlite(512, 4), "sqlite_header", headerCut = 50, bodyCut = 1000),
    WalkerSample("wav", new WavCarver(_, _), wav(100), "wav_riff", headerCut = 6, bodyCut = 60),
    WalkerSample("avi", new AviCarver(_, _), avi(200), "avi_riff", headerCut = 10, bodyCut = 100),
    WalkerSample("webp", new WebpCarver(_, _), webp(100), "webp_header", headerCut = 9, bodyCut = 20),
    WalkerSample("tar_ustar", new TarCarver(_, _), tar(Array.fill[Byte](700)('t')), "tar_ustar",
      headerCut = 300, bodyCut = 1000, hitDelta = 257),
    WalkerSample("tar", new TarCarver(_, _), tar(Array.fill[Byte](700)('t')), "tar_block",
      headerCut = 300, bodyCut = 1000),
    WalkerSample("ogg", new OggCarver(_, _), ogg(), "ogg_sync", headerCut = 10, bodyCut = 30),
    WalkerSample("mp3_id3", new Mp3Carver(_, _), mp3(), "mp3_id3v2", headerCut = 5, bodyCut = 20),
    WalkerSample("mp3_sync", new Mp3Carver(_, _), mp3Sync(), "mp3_sync_fb", headerCut = 5, bodyCut = 600),
    WalkerSample("rtf", new RtfCarver(_, _), rtf(), "rtf_header", headerCut = 3, bodyCut = 20))

  /** The edge cases of one sample: (case, evidence, sample start,
    * max_size, min_size). The sample is planted after 64 junk bytes; a
    * cut ends the evidence inside it.
    */
  def cases(s: WalkerSample): Seq[(String, Array[Byte], Long, Long, Long)] = {
    val (whole, at) = planted(s.bytes)
    def cut(n: Int) = whole.take(at.toInt + n)
    val len = s.bytes.length.toLong
    Seq(
      ("whole", whole, at, 0L, 0L),
      ("cut in header", cut(s.headerCut), at, 0L, 0L),
      ("cut in body", cut(s.bodyCut), at, 0L, 0L),
      ("cut one short", cut(s.bytes.length - 1), at, 0L, 0L),
      ("max one below", whole, at, len - 1, 0L),
      ("max equal", whole, at, len, 0L),
      ("max above", whole, at, len + 1, 0L),
      ("min above", whole, at, 0L, len + 1))
  }

  def carve(s: WalkerSample, evidence: Array[Byte], at: Long, maxSize: Long, minSize: Long): Option[CarvedFile] =
    s.make(maxSize, minSize).processHit(CarveHit(at + s.hitDelta, s.name, s.patternId),
      ExtractionContext("walk", new InMemoryEvidence(evidence)))

  /** A record's size and flags in one line ("none" for a dropped hit). */
  def describe(c: Option[CarvedFile]): String = c.fold("none")(f =>
    s"${f.size} validated=${f.validated} truncated=${f.truncated} ${f.errors.mkString("[", ", ", "]")}")

  private val threads =
    java.lang.management.ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** `body`'s result and the bytes it allocated on this thread. */
  def allocatedBytes[T](body: => T): (T, Long) = {
    val id = Thread.currentThread().getId
    val before = threads.getThreadAllocatedBytes(id)
    val result = body
    (result, threads.getThreadAllocatedBytes(id) - before)
  }
}
