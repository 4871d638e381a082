package graft.perfbench

import graft.carve.{ConfigLoader, Hex}
import graft.fixtures.FixtureBytes
import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path, StandardCopyOption}
import java.security.MessageDigest
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Seeded raw evidence images for the carve workload, in the golden-image
  * layout densely packed: slot i is a random page every 8th slot, a text
  * page every other 4th slot, and a planted file otherwise.
  *
  * Every planted item starts on a 4 KiB boundary and is followed by at
  * least [[MinGap]] zero bytes, so no string run, signature or entropy
  * window crosses from one item into the next. The multiset of planted
  * files and the number of text and random pages depend only on the
  * size; the seed picks the order of the files and the
  * content of the text and random pages. That keeps every output count
  * the same for all seeds, so the counts can be pinned.
  *
  *  - text pages: lowercase lines, each carrying exactly one URL, e-mail
  *    address or phone number, separated by newlines (never part of a
  *    string run);
  *  - random pages: uniform bytes except that every 5th byte is drawn
  *    from 0xF5..0xFF, which is printable in no encoding, so no string
  *    run reaches the minimum length, while the Shannon entropy stays
  *    above the default 7.5 threshold; any header signature is scrubbed.
  */
object EvidenceGen {

  /** Bumped whenever the bytes a (seed, size) pair produces change. */
  val Version = 1
  val Align = 4096
  val MinGap = 64

  final case class Planted(name: String, offset: Long, size: Long, sha256: String)

  final case class Image(path: Path, length: Long, planted: Seq[Planted], textPages: Int, randomPages: Int) {
    def mib: Double = length / (1024.0 * 1024.0)
  }

  /** The 27 golden formats of the pipeline suite plus the five browser
    * databases shipped with the program.
    */
  lazy val fixtures: IndexedSeq[(String, Array[Byte])] = {
    import FixtureBytes._
    val golden = Seq(
      "jpeg" -> jpeg(), "png" -> png(), "gif" -> gif(), "sqlite" -> sqlite(), "pdf" -> pdf(),
      "webp" -> webp(), "bmp" -> bmp(), "7z" -> sevenZ(),
      "docx" -> zipWithEntry("word/document.xml"), "doc" -> ole("WordDocument"),
      "tar" -> tar(), "mp3" -> mp3(), "mp4" -> mp4(), "mov" -> mov(), "webm" -> webm(),
      "wmv" -> wmv(), "lrf" -> lrf(), "fb2" -> fb2(), "rar" -> rar4(), "ico" -> ico(),
      "ogg" -> ogg(), "xz" -> xz(), "bz2" -> bzip2(), "rtf" -> rtf(), "elf" -> elf64(),
      "wav" -> wav(), "mobi" -> mobi())
    val browser = BrowserFixtures.map(n => n -> resource(s"/fixtures/$n.sqlite"))
    (golden ++ browser).toIndexedSeq
  }

  val BrowserFixtures: Seq[String] = Seq(
    "chrome_history", "chrome_cookies", "firefox_places", "firefox_cookies", "firefox_downloads")

  private def resource(path: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"missing resource $path")
    try in.readAllBytes() finally in.close()
  }

  /** Header signatures of the shipped configuration, for scrubbing,
    * bucketed by first byte.
    */
  private lazy val signatures: Array[Array[Array[Byte]]] = {
    val all = ConfigLoader.loadDefault().config.fileTypes.flatMap(_.headerPatterns.map(_.bytes))
    Array.tabulate(256)(b => all.filter(_.head == b.toByte).distinctBy(_.toSeq).toArray)
  }

  /** First offset in [from, until) where a signature starts, or -1. */
  private def signatureAt(page: Array[Byte], from: Int, until: Int): Int = {
    var i = from
    while (i < until) {
      val cands = signatures(page(i) & 0xff)
      var k = 0
      while (k < cands.length) {
        val s = cands(k)
        if (i + s.length <= page.length) {
          var j = 1
          while (j < s.length && page(i + j) == s(j)) j += 1
          if (j == s.length) return i
        }
        k += 1
      }
      i += 1
    }
    -1
  }

  /** Random page; see the object comment for why every 5th byte is high. */
  def randomPage(rng: SplittableRandom): Array[Byte] = {
    val pad = 16 // zero context on both sides, as the page sits between zeros
    val buf = new Array[Byte](pad + Align + pad)
    def draw(i: Int): Byte =
      if (i % 5 == 4) (0xf5 + rng.nextInt(11)).toByte else rng.nextInt(256).toByte
    var i = 0
    while (i < Align) { buf(pad + i) = draw(i); i += 1 }
    var hit = signatureAt(buf, 0, buf.length)
    while (hit >= 0) {
      // redraw the first page byte the match covers, then rescan from
      // the earliest start a new match through that byte could have
      val at = math.max(hit, pad) - pad
      buf(pad + at) = draw(at)
      hit = signatureAt(buf, math.max(0, pad + at - 32), buf.length)
    }
    java.util.Arrays.copyOfRange(buf, pad, pad + Align)
  }

  private val Words = IndexedSeq("alpha", "bravo", "cedar", "delta", "ember", "fjord", "grove",
    "harbor", "indigo", "juniper", "kestrel", "lumen", "maple", "nectar", "onyx", "pebble",
    "quartz", "raven", "sierra", "tundra", "umber", "velvet", "willow", "yarrow", "zephyr")
  private val Tlds = IndexedSeq("com", "org", "net", "info", "io")

  /** Text page: [[TextTriples]] groups of three newline-separated
    * lowercase lines, carrying one URL, one e-mail address and one phone
    * number each — a fixed count per page whatever the seed.
    */
  def textPage(rng: SplittableRandom): Array[Byte] = {
    def w() = Words(rng.nextInt(Words.length))
    def tld() = Tlds(rng.nextInt(Tlds.length))
    def phone(): String = {
      var d = ""
      while (d.toSet.size < 4) d = Seq.fill(10)(rng.nextInt(10)).mkString
      s"${d.substring(0, 3)}-${d.substring(3, 6)}-${d.substring(6)}"
    }
    val sb = new StringBuilder
    (0 until TextTriples).foreach { _ =>
      sb.append(s"see https://${w()}.${w()}.${tld()}/${w()}/${w()} for ${w()} notes\n")
      sb.append(s"mail ${w()}.${w()}@${w()}.${tld()} about the ${w()} report\n")
      sb.append(s"call ${phone()} re ${w()} ${w()}\n")
    }
    val bytes = sb.toString.getBytes(US_ASCII)
    require(bytes.length <= Align - MinGap, "text page overflows its slot")
    java.util.Arrays.copyOf(bytes, Align)
  }

  /** Line triples per text page; the longest triple is 162 bytes. */
  val TextTriples = 24

  private def alignUp(x: Long): Long = (x + Align - 1) / Align * Align

  /** Fixture order: whole seeded permutations of [[fixtures]], so every
    * file is planted equally often.
    */
  private def fixtureStream(rng: SplittableRandom): Iterator[Int] =
    Iterator.continually {
      val idx = (0 until fixtures.length).toArray
      var i = idx.length - 1
      while (i > 0) {
        val j = rng.nextInt(i + 1)
        val t = idx(i); idx(i) = idx(j); idx(j) = t
        i -= 1
      }
      idx.toSeq
    }.flatten

  private def denseSlot(slot: Long): Char = if (slot % 8 == 7) 'r' else if (slot % 4 == 3) 't' else 'f'

  /** Rounds of the dense layout that fit in `length` bytes. An item's
    * footprint depends only on its size, so the end offset of R rounds
    * is the same for every fixture order.
    */
  private def denseRounds(length: Long): Int = {
    val footprint = fixtures.map(f => alignUp(f._2.length + MinGap))
    def end(rounds: Int): Long = {
      var at = 0L
      var slot = 0L
      var planted = 0
      while (planted < rounds * fixtures.length) {
        at += (denseSlot(slot) match {
          case 'r' => alignUp(Align + MinGap)
          case 't' => Align.toLong
          case _ => planted += 1; footprint((planted - 1) % fixtures.length)
        })
        slot += 1
      }
      at
    }
    var r = 1
    while (end(r + 1) <= length) r += 1
    r
  }

  /** Reuse the cached image and manifest when every planted file reads
    * back with its sha256; otherwise write them afresh.
    */
  def obtain(dir: Path, seed: Long, mib: Int): Image = {
    val base = s"dense-s$seed-${mib}m-v$Version"
    val img = dir.resolve(s"$base.img")
    val manifest = dir.resolve(s"$base.manifest.tsv")
    val cached = if (Files.exists(img) && Files.exists(manifest)) Some(readManifest(img, manifest)) else None
    cached.filter(verify).getOrElse(generate(dir, seed, mib, base))
  }

  /** Whether the image has its full length and every planted file. */
  def verify(image: Image): Boolean = {
    val bytes = Files.readAllBytes(image.path)
    bytes.length == image.length && image.planted.forall { p =>
      p.offset + p.size <= bytes.length &&
        sha256(java.util.Arrays.copyOfRange(bytes, p.offset.toInt, (p.offset + p.size).toInt)) == p.sha256
    }
  }

  /** Write a fresh image and its manifest. */
  def generate(dir: Path, seed: Long, mib: Int, base: String): Image = {
    Files.createDirectories(dir)
    val img = dir.resolve(s"$base.img")
    val manifest = dir.resolve(s"$base.manifest.tsv")
    val tmpImg = dir.resolve(s"$base.img.tmp")
    val rng = new SplittableRandom(seed)
    val length = mib.toLong * 1024 * 1024
    val planted = ArrayBuffer.empty[Planted]
    var text = 0
    var random = 0
    val out = new BufferedOutputStream(new FileOutputStream(tmpImg.toFile), 1 << 20)
    var pos = 0L
    val zeros = new Array[Byte](Align)
    def padTo(at: Long): Unit = while (pos < at) {
      val n = math.min(at - pos, zeros.length.toLong).toInt
      out.write(zeros, 0, n); pos += n
    }
    def put(at: Long, bytes: Array[Byte]): Unit = { padTo(at); out.write(bytes); pos += bytes.length }
    val order = fixtureStream(rng.split())
    val pages = rng.split()
    def plantFile(at: Long): Long = {
      val (name, bytes) = fixtures(order.next())
      put(at, bytes)
      planted += Planted(name, at, bytes.length.toLong, sha256(bytes))
      alignUp(at + bytes.length + MinGap)
    }
    try {
      // whole rounds of every fixture, so the planted multiset and the
      // page counts do not depend on the seed's order
      val rounds = denseRounds(length)
      var at = 0L
      var slot = 0L
      var files = 0
      while (files < rounds * fixtures.length) {
        at = denseSlot(slot) match {
          case 'r' => put(at, randomPage(pages)); random += 1; alignUp(at + Align + MinGap)
          case 't' => put(at, textPage(pages)); text += 1; alignUp(at + Align)
          case _ => files += 1; plantFile(at)
        }
        slot += 1
      }
    } finally {
      padTo(length)
      out.close()
    }
    Files.move(tmpImg, img, StandardCopyOption.REPLACE_EXISTING)
    val lines = s"#\t$text\t$random" +: planted.map(p => s"${p.name}\t${p.offset}\t${p.size}\t${p.sha256}")
    Files.write(manifest, lines.mkString("", "\n", "\n").getBytes(US_ASCII))
    Image(img, length, planted.toSeq, text, random)
  }

  def readManifest(img: Path, manifest: Path): Image = {
    val lines = new String(Files.readAllBytes(manifest), US_ASCII).split("\n").toSeq.filter(_.nonEmpty)
    val head = lines.head.split("\t")
    val planted = lines.tail.map { l =>
      val f = l.split("\t")
      Planted(f(0), f(1).toLong, f(2).toLong, f(3))
    }
    Image(img, Files.size(img), planted, head(1).toInt, head(2).toInt)
  }

  def sha256(b: Array[Byte]): String = Hex.lower(MessageDigest.getInstance("SHA-256").digest(b))
}
