package graft

import graft.carve._
import graft.core.CarvedFile
import graft.evidence.{EvidenceReader, InMemoryEvidence}
import graft.fixtures.FixtureBytes
import org.scalatest.funsuite.AnyFunSuite

/** The shared carve tail: the terminator search ([[Scan.search]]) and the
  * copy-hash-record step ([[CarveOps.finish]]) must give the same carve
  * however the evidence serves its reads and wherever a terminator falls
  * relative to the search's read boundary.
  */
class CarveTailSpec extends AnyFunSuite {
  import FixtureBytes._

  private def ascii(s: String): Array[Byte] = s.getBytes("ISO-8859-1")

  /** Serves at most `cap` bytes per call and never crosses a `cap`-aligned
    * boundary — the shape of an E01 reader, which returns one EWF chunk
    * per call.
    */
  private final class CappedEvidence(data: Array[Byte], cap: Int) extends EvidenceReader {
    private val inner = new InMemoryEvidence(data)
    override def length: Long = data.length.toLong
    override def readAt(offset: Long, buf: Array[Byte], bufOff: Int, len: Int): Int =
      inner.readAt(offset, buf, bufOff, math.min(len.toLong, cap - offset % cap).toInt)
  }

  private def carveWith(reader: EvidenceReader, handler: CarveHandler, at: Long,
      patternId: String): Option[CarvedFile] =
    handler.processHit(CarveHit(at, handler.fileType, patternId), ExtractionContext("t", reader))

  test("every range-copy and terminator carver carves the same through a reader capped at 2048 bytes per call") {
    val cap = 2048
    val pdfBig = ascii("%PDF-1.4\n") ++ Array.fill[Byte](6000)('x') ++ ascii("\ntrailer\n%%EOF")
    val footerBig = ascii("DATH") ++ new Array[Byte](5000) ++ ascii("ENDD")
    val fb2Big = ascii("<?xml version=\"1.0\"?>\n<FictionBook xmlns=\"x\">\n") ++
      Array.fill[Byte](5000)('t') ++ ascii("</FictionBook>")
    val emlBig = eml() ++ Array.fill[Byte](5000)('m') ++ ascii("\nFrom next@example.com\n")
    val bigZip = zipWithEntry("word/document.xml", Array.fill[Byte](5000)('z'))
    val cases: Seq[(CarveHandler, Array[Byte], String)] = Seq(
      (new JpegCarver(0, 0), gradientImage("jpeg", 64, 64, 3), "p"),
      (new PdfCarver(0, 0), pdfBig, "p"),
      (new GzipCarver(0, 0), gzip(5000), "p"),
      (new Bzip2Carver(0, 0), bzip2(5000), "p"),
      (new XzCarver(0, 0), xz(), "p"),
      (new EmlCarver(0, 0), emlBig, "p"),
      (new Fb2Carver(0, 0), fb2Big, "p"),
      (new FooterCarver("dat", "dat", Seq(ascii("DATH")), Seq(ascii("ENDD")), 1 << 20, 0), footerBig, "p"),
      (new ZipCarver(0, 0), bigZip, "p"),
      (new ZipCarver(0, 0, "zip", requireEocd = false), bigZip, "p"),
      (new OleCarver(0, 0), ole("WordDocument"), "p"),
      (new SevenZCarver(0, 0), sevenZ(5000), "p"),
      (new LrfCarver(0, 0), lrf(5000), "p"),
      (new ElfCarver(0, 0), elf64(), "p"),
      (new WmvCarver(0, 0), wmv(5000), "p"),
      (new MobiCarver(0, 0), mobi(), "p"),
      (new BmpCarver(0, 0), bmp(64, 64), "p"),
      (new IcoCarver(0, 0), ico(), "p"),
      (new WebmCarver(0, 0), webm(), "p"),
      (new RarCarver(0, 0), rar4(), "p"),
      (new TiffCarver(0, 0), tiff(), "p"),
      (new Mp4Carver(0, 0), mp4(), "p"),
      (new MovCarver(0, 0), mov(), "p")) ++
      // the structure walkers; a tar_ustar hit sits on the magic 257 bytes in
      WalkerSamples.all.map(w => (w.make(0, 0), w.bytes, w.patternId))
    cases.foreach { case (handler, sample, patternId) =>
      // planted 37 bytes before a read boundary, so every sample straddles one
      val (evidence, start) = planted(sample, before = 3 * cap - 37)
      val at = if (patternId == "tar_ustar") start + 257 else start
      val whole = carveWith(new InMemoryEvidence(evidence), handler, at, patternId)
      assert(whole.exists(c => c.validated && !c.truncated), s"${handler.fileType}: no whole reference carve")
      val capped = carveWith(new CappedEvidence(evidence, cap), handler, at, patternId)
      assert(capped == whole, s"${handler.fileType}: capped reads carve differently")
    }
  }

  test("a carve whose planned extent is under min_size never reaches the payload sink") {
    val cases: Seq[(Long => CarveHandler, Array[Byte], String, Int)] = Seq(
      ((min: Long) => new JpegCarver(0, min), gradientImage("jpeg", 64, 64, 3), "p", 0),
      ((min: Long) => new BmpCarver(0, min), bmp(64, 64), "p", 0)) ++
      WalkerSamples.all.map(w => ((min: Long) => w.make(0, min), w.bytes, w.patternId, w.hitDelta))
    cases.foreach { case (make, sample, patternId, hitDelta) =>
      val (evidence, start) = planted(sample)
      var sunk = 0L
      val ctx = ExtractionContext("t", new InMemoryEvidence(evidence), Some((_, _, n) => sunk += n))
      val handler = make(1L << 20) // every sample is far smaller
      assert(handler.processHit(CarveHit(start + hitDelta, handler.fileType, patternId), ctx).isEmpty,
        s"${handler.fileType}: carved under min_size")
      assert(sunk == 0, s"${handler.fileType}: $sunk bytes sent to the payload sink")
    }
  }

  /** The search for each carver's terminator reads 64 KiB windows from
    * `searchFrom` bytes past the hit; `build(fill)` makes a sample whose
    * terminator starts `fill` bytes after its prefix. Every split of the
    * terminator across the first window's end must carve `expected`.
    */
  private def acrossBoundary(handler: CarveHandler, prefixLen: Int, searchFrom: Int, termLen: Int)(
      build: Int => (Array[Byte], Array[Byte])): Unit =
    (0 to termLen).foreach { split =>
      val fill = searchFrom + Scan.BufSize - split - prefixLen
      val (sample, expected) = build(fill)
      val (evidence, at) = planted(sample)
      val c = carveWith(new InMemoryEvidence(evidence), handler, at, "p")
        .getOrElse(fail(s"${handler.fileType}: no carve at split $split"))
      assert(c.size == expected.length && c.sha256 == sha256Hex(expected),
        s"${handler.fileType}: split $split carved ${c.size} bytes, expected ${expected.length}")
      assert(c.validated && !c.truncated, s"${handler.fileType}: split $split ${c.errors}")
    }

  /** A sample of prefix ++ fill zero bytes ++ terminator, carved whole. */
  private def throughTerminator(handler: CarveHandler, prefix: Array[Byte], term: Array[Byte],
      searchFrom: Int = 0): Unit =
    acrossBoundary(handler, prefix.length, searchFrom, term.length) { fill =>
      val sample = prefix ++ new Array[Byte](fill) ++ term
      (sample, sample)
    }

  test("jpeg EOI split across the search's read boundary") {
    throughTerminator(new JpegCarver(0, 0), jpeg().take(9), Array(0xff, 0xd9).map(_.toByte))
  }
  test("pdf %%EOF split across the search's read boundary") {
    throughTerminator(new PdfCarver(0, 0), ascii("%PDF-1.4\n"), ascii("%%EOF"))
  }
  test("fb2 closing tag split across the search's read boundary") {
    throughTerminator(new Fb2Carver(0, 0),
      ascii("<?xml version=\"1.0\"?>\n<FictionBook xmlns=\"x\">\n"), ascii("</FictionBook>"))
  }
  test("footer pattern split across the search's read boundary") {
    throughTerminator(
      new FooterCarver("dat", "dat", Seq(ascii("DATH")), Seq(ascii("ENDOFDAT")), 1 << 20, 0),
      ascii("DATH"), ascii("ENDOFDAT"))
  }
  test("bzip2 end marker split across the search's read boundary") {
    throughTerminator(new Bzip2Carver(0, 0), ascii("BZh9"), Hex.decode("177245385090"), searchFrom = 4)
  }
  test("xz footer split across the search's read boundary") {
    val x = xz()
    throughTerminator(new XzCarver(0, 0), x.take(12), x.takeRight(12), searchFrom = 12)
  }
  test("a footerless xz reports the bound it met: the evidence end or max_size") {
    val header = xz().take(12)
    def carve(evidenceLen: Int) =
      carveWith(new InMemoryEvidence(header ++ new Array[Byte](evidenceLen - 12)), new XzCarver(1000, 0), 0, "p")
        .map(c => (c.size, c.validated, c.truncated, c.errors))
    assert(carve(200) == Some((200L, false, true, Seq("eof before xz end"))))
    assert(carve(3000) == Some((1000L, false, true, Seq("max_size reached before xz end"))))
  }
  test("gzip next-member magic split across the search's read boundary") {
    val header = gzip(0)
    acrossBoundary(new GzipCarver(0, 0), header.length, searchFrom = header.length, termLen = 3) { fill =>
      val member = header ++ new Array[Byte](fill)
      (member ++ gzip(8), member)
    }
  }
  test("eml mbox boundary split across the search's read boundary") {
    val head = eml()
    acrossBoundary(new EmlCarver(0, 0), head.length, searchFrom = 0, termLen = 6) { fill =>
      val message = head ++ Array.fill[Byte](fill)('m')
      (message ++ ascii("\nFrom next@example.com\n"), message)
    }
  }
  test("zip EOCD split across the search's read boundary, streaming and require_eocd") {
    val name = "a.txt"
    // the EOCD starts after the local header, content and central directory
    val overhead = 30 + 46 + 2 * name.length
    Seq(true, false).foreach { requireEocd =>
      acrossBoundary(new ZipCarver(0, 0, "zip", requireEocd), overhead, searchFrom = 0, termLen = 4) { fill =>
        val z = zipWithEntry(name, Array.fill[Byte](fill)('c'))
        (z, z)
      }
    }
  }
}
