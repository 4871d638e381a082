package graft.carve

import graft.core.CarvedFile

/** Forward-scanning carvers: the end of the file is found by searching the
  * byte stream for a terminator (EOI, %%EOF, next-header, stream-end
  * magic, closing tag, configured footer). Every such search is one call
  * of [[Scan.search]], and every carve ends in [[CarveOps.finish]].
  * Flag/error semantics ported per carver.
  */
object Scan {
  final val BufSize = 64 * 1024

  /** First index >= `from` where `needle` occurs in hay[0, hayLen); with
    * `ignoreCase`, ASCII letters of hay match a lower-case needle.
    */
  def findPattern(hay: Array[Byte], hayLen: Int, needle: Array[Byte], from: Int = 0,
      ignoreCase: Boolean = false): Int = {
    if (needle.isEmpty || hayLen < needle.length) return -1
    def at(i: Int): Byte = {
      val b = hay(i)
      if (ignoreCase && b >= 'A' && b <= 'Z') (b + 32).toByte else b
    }
    val first = needle(0)
    var i = from
    while (i + needle.length <= hayLen) {
      if (at(i) == first) {
        var j = 1
        while (j < needle.length && at(i + j) == needle(j)) j += 1
        if (j == needle.length) return i
      }
      i += 1
    }
    -1
  }

  def containsPattern(hay: Array[Byte], needle: Array[Byte]): Boolean =
    findPattern(hay, hay.length, needle) >= 0

  def toLowerAscii(b: Array[Byte]): Array[Byte] = b.map { x =>
    val v = x & 0xff
    if (v >= 'A' && v <= 'Z') (v + 32).toByte else x
  }

  /** Read up to `len` bytes (shorter at EOF) — reference read_prefix. */
  def readPrefix(ctx: ExtractionContext, offset: Long, len: Int): Array[Byte] = {
    val buf = new Array[Byte](len)
    java.util.Arrays.copyOf(buf, ctx.evidence.readFully(offset, buf, 0, len))
  }

  /** The end a carve of at most `maxSize` bytes (0 = unlimited) may reach. */
  def maxEnd(start: Long, maxSize: Long): Long = if (maxSize > 0) start + maxSize else Long.MaxValue

  /** How a [[search]] ended: at the offset `find` returned, at the end of
    * the evidence, or at `maxEnd`.
    */
  sealed trait Stop { def at: Long }
  final case class Found(at: Long) extends Stop
  final case class AtEof(at: Long) extends Stop
  final case class AtMax(at: Long) extends Stop

  /** The one forward terminator search. Reads [from, maxEnd) through one
    * reused buffer; the last `carryLen` bytes of each window stay in front
    * of the next read, so a terminator split across two reads is seen
    * whole. `find(window, len, windowStart)` inspects window[0, len),
    * whose first byte is at global offset `windowStart`, and returns the
    * offset it found or -1 to read on.
    */
  def search(ctx: ExtractionContext, from: Long, maxEnd: Long, carryLen: Int)(
      find: (Array[Byte], Int, Long) => Long): Stop = {
    val buf = new Array[Byte](carryLen + BufSize)
    var offset = from
    var carried = 0
    while (offset < maxEnd) {
      val n = ctx.evidence.readAt(offset, buf, carried, math.min(maxEnd - offset, BufSize.toLong).toInt)
      if (n == 0) return AtEof(offset)
      val len = carried + n
      val found = find(buf, len, offset - carried)
      if (found >= 0) return Found(found)
      offset += n
      carried = math.min(carryLen, len)
      System.arraycopy(buf, len - carried, buf, 0, carried)
    }
    AtMax(maxEnd)
  }

  /** A `find` for the first `needle`, returning the offset just past it. */
  def through(needle: Array[Byte], ignoreCase: Boolean = false): (Array[Byte], Int, Long) => Long =
    (window, len, at) => {
      val pos = findPattern(window, len, needle, 0, ignoreCase)
      if (pos < 0) -1L else at + pos + needle.length
    }

  /** Tail of the carvers that end at a terminator (jpeg, pdf, fb2,
    * footer): validated when the search found it, otherwise truncated
    * with the carver's "eof before …" or "max_size reached before …".
    */
  def finishAtTerminator(handler: CarveHandler, ctx: ExtractionContext, hit: CarveHit,
      minSize: Long, stop: Stop, eofError: String, maxError: String): Option[CarvedFile] = {
    val errors = stop match {
      case Found(_) => Nil
      case AtEof(_) => Seq(eofError)
      case AtMax(_) => Seq(maxError)
    }
    CarveOps.finish(ctx, hit, handler.fileType, handler.extension, hit.globalOffset, stop.at, minSize,
      validated = errors.isEmpty, truncated = errors.nonEmpty, errors = errors)
  }

  /** Tail of the carve-until-pattern carvers (gzip, bzip2, xz): validated
    * when the search found the end, or at EOF when `eofValidates`; an end
    * at `maxEnd` is flagged with `maxError` (also when a terminator ends
    * exactly there), an end at the evidence end never is.
    */
  def finishUntil(handler: CarveHandler, ctx: ExtractionContext, hit: CarveHit,
      minSize: Long, maxSize: Long, stop: Stop, eofValidates: Boolean,
      maxError: String, eofError: String): Option[CarvedFile] = {
    val validated = stop match {
      case Found(_) => true
      case AtEof(_) => eofValidates
      case AtMax(_) => false
    }
    val cut = !stop.isInstanceOf[AtEof] && maxSize > 0 && stop.at >= maxEnd(hit.globalOffset, maxSize)
    CarveOps.finish(ctx, hit, handler.fileType, handler.extension, hit.globalOffset, stop.at, minSize,
      validated, truncated = cut, errors = if (cut) Seq(maxError) else Nil, eofError = eofError)
  }
}

/** JPEG: stream until the FF D9 end-of-image marker
  * (reference src/carve/jpeg.rs:34-141).
  */
final class JpegCarver(val maxSize: Long, val minSize: Long, val extension: String = "jpg")
    extends CarveHandler {
  override def fileType: String = "jpeg"
  private val Eoi = Array(0xff, 0xd9).map(_.toByte)

  override def processHit(hit: CarveHit, ctx: ExtractionContext): Option[CarvedFile] = {
    val stop = Scan.search(ctx, hit.globalOffset, Scan.maxEnd(hit.globalOffset, maxSize),
      Eoi.length - 1)(Scan.through(Eoi))
    Scan.finishAtTerminator(this, ctx, hit, minSize, stop, "eof before EOI", "max_size reached before EOI")
  }
}

/** PDF: stream until %%EOF (+ optional trailing newline bytes)
  * (reference src/carve/pdf.rs:37-201).
  */
final class PdfCarver(val maxSize: Long, val minSize: Long, val extension: String = "pdf")
    extends CarveHandler {
  override def fileType: String = "pdf"
  private val Header = "%PDF-".getBytes("ISO-8859-1")
  private val Eof = "%%EOF".getBytes("ISO-8859-1")

  override def processHit(hit: CarveHit, ctx: ExtractionContext): Option[CarvedFile] = {
    val head = Scan.readPrefix(ctx, hit.globalOffset, Header.length)
    if (head.length >= Header.length && !head.take(Header.length).sameElements(Header)) return None
    val stop = Scan.search(ctx, hit.globalOffset, Scan.maxEnd(hit.globalOffset, maxSize),
      Eof.length - 1)(Scan.through(Eof)) match {
      // trailing \n or \r\n is included (pdf.rs:128-151)
      case Scan.Found(end) =>
        val next = new String(Scan.readPrefix(ctx, end, 2), "ISO-8859-1")
        Scan.Found(end + (if (next.startsWith("\r\n")) 2
          else if (next.startsWith("\n") || next.startsWith("\r")) 1 else 0))
      case other => other
    }
    Scan.finishAtTerminator(this, ctx, hit, minSize, stop, "eof before %%EOF", "max_size reached before EOF")
  }
}

/** GZIP: header with FEXTRA/FNAME/FCOMMENT/FHCRC skipping; end = next
  * `1F 8B 08` magic or EOF (carve-until-next-header heuristic;
  * reference src/carve/gzip.rs:42-217).
  */
final class GzipCarver(val maxSize: Long, val minSize: Long, val extension: String = "gz")
    extends CarveHandler {
  override def fileType: String = "gzip"
  private val Magic = Array(0x1f, 0x8b, 0x08).map(_.toByte)

  override def processHit(hit: CarveHit, ctx: ExtractionContext): Option[CarvedFile] = {
    val headerLen = parseHeader(ctx, hit.globalOffset).getOrElse(return None)
    // the search starts past this member's header, so the first magic it
    // sees is the next member's
    val stop = Scan.search(ctx, hit.globalOffset + headerLen, Scan.maxEnd(hit.globalOffset, maxSize),
      Magic.length - 1) { (window, len, at) =>
      val pos = Scan.findPattern(window, len, Magic)
      if (pos < 0) -1L else at + pos
    }
    Scan.finishUntil(this, ctx, hit, minSize, maxSize, stop, eofValidates = true,
      "max_size reached before gzip end", "eof before gzip end")
  }

  /** Header length incl. optional fields (gzip.rs:171-217). */
  private def parseHeader(ctx: ExtractionContext, offset: Long): Option[Long] = {
    val fixed = ctx.evidence.readExactAt(offset, 10).getOrElse(return None)
    if (!fixed.take(3).sameElements(Magic)) return None
    val flags = fixed(3) & 0xff
    var cursor = offset + 10
    if ((flags & 0x04) != 0) {
      val extraLen = ctx.evidence.readExactAt(cursor, 2).getOrElse(return None)
      cursor += 2 + Bin.leU16(extraLen, 0)
    }
    if ((flags & 0x08) != 0) cursor = skipCString(ctx, cursor).getOrElse(return None)
    if ((flags & 0x10) != 0) cursor = skipCString(ctx, cursor).getOrElse(return None)
    if ((flags & 0x02) != 0) cursor += 2
    Some(cursor - offset)
  }

  private def skipCString(ctx: ExtractionContext, start: Long): Option[Long] = {
    val limit = math.min(ctx.evidence.length, start + 1024 * 1024)
    var offset = start
    while (offset < limit) {
      val b = ctx.evidence.readExactAt(offset, 1).getOrElse(return None)
      offset += 1
      if (b(0) == 0) return Some(offset)
    }
    None
  }
}

/** BZIP2: magic `BZh[1-9]`; end = stream-end marker 17 72 45 38 50 90 (+6)
  * (reference src/carve/bzip2.rs:42-143).
  */
final class Bzip2Carver(val maxSize: Long, val minSize: Long, val extension: String = "bz2")
    extends CarveHandler {
  override def fileType: String = "bzip2"
  private val Magic = "BZh".getBytes("ISO-8859-1")
  private val EndMarker = Hex.decode("177245385090")

  override def processHit(hit: CarveHit, ctx: ExtractionContext): Option[CarvedFile] = {
    val header = ctx.evidence.readExactAt(hit.globalOffset, 4).getOrElse(return None)
    if (!header.take(3).sameElements(Magic)) return None
    val level = header(3) & 0xff
    if (level < '1'.toInt || level > '9'.toInt) return None
    val stop = Scan.search(ctx, hit.globalOffset + 4, Scan.maxEnd(hit.globalOffset, maxSize),
      EndMarker.length - 1)(Scan.through(EndMarker))
    Scan.finishUntil(this, ctx, hit, minSize, maxSize, stop, eofValidates = false,
      "max_size reached before bzip2 end", "eof before bzip2 end")
  }
}

/** XZ: header CRC32 check; end = `59 5A` footer magic whose 12-byte footer
  * CRC verifies (reference src/carve/xz.rs:42-189).
  */
final class XzCarver(val maxSize: Long, val minSize: Long, val extension: String = "xz")
    extends CarveHandler {
  override def fileType: String = "xz"
  private val Magic = Hex.decode("FD377A585A00")
  private val FooterMagic = Array('Y'.toByte, 'Z'.toByte)

  override def processHit(hit: CarveHit, ctx: ExtractionContext): Option[CarvedFile] = {
    val header = ctx.evidence.readExactAt(hit.globalOffset, 12).getOrElse(return None)
    if (!header.take(6).sameElements(Magic)) return None
    if (Bin.leU32(header, 8) != Crc32.of(header, 6, 2)) return None
    val maxEnd = Scan.maxEnd(hit.globalOffset, maxSize)
    // the search starts past the 12-byte header, so every footer it finds
    // lies wholly after the hit
    val stop = Scan.search(ctx, hit.globalOffset + 12, maxEnd, FooterMagic.length - 1) { (window, len, at) =>
      var end = -1L
      var pos = Scan.findPattern(window, len, FooterMagic)
      while (end < 0 && pos >= 0) {
        val footerEnd = at + pos + 2
        if (ctx.evidence.readExactAt(footerEnd - 12, 12).exists(f => Bin.leU32(f, 0) == Crc32.of(f, 4, 6)))
          end = footerEnd
        else pos = Scan.findPattern(window, len, FooterMagic, pos + 1)
      }
      end
    } match {
      // no footer: carve on to max_end (xz.rs); the copy meets the evidence end first
      case Scan.AtEof(_) => Scan.AtEof(maxEnd)
      case other => other
    }
    Scan.finishUntil(this, ctx, hit, minSize, maxSize, stop, eofValidates = false,
      "max_size reached before xz end", "eof before xz end")
  }
}

object Crc32 {
  def of(data: Array[Byte], off: Int, len: Int): Long = {
    val crc = new java.util.zip.CRC32
    crc.update(data, off, len)
    crc.getValue
  }
}

/** EML: ≥2 of 6 RFC-822 header markers in the first 2 KiB, `@` present,
  * line endings present, template-string rejection; end = mbox boundary
  * `\nFrom ` or EOF (reference src/carve/eml.rs:25-208).
  */
final class EmlCarver(val maxSize: Long, val minSize: Long, val extension: String = "eml")
    extends CarveHandler {
  override def fileType: String = "eml"
  private val Markers = Seq("From:", "To:", "Subject:", "Date:", "Message-ID:", "MIME-Version:")
    .map(_.getBytes("ISO-8859-1"))
  private val Boundary = "\nFrom ".getBytes("ISO-8859-1")
  private val Templates = Seq("%s", "%d", "{}", "<%s>", "${").map(_.getBytes("ISO-8859-1"))

  override def processHit(hit: CarveHit, ctx: ExtractionContext): Option[CarvedFile] = {
    val head = Scan.readPrefix(ctx, hit.globalOffset, 2048)
    if (head.isEmpty) return None
    val headerCount = Markers.count(m => Scan.containsPattern(head, m))
    if (headerCount < 2) return None
    if (Templates.exists(t => Scan.containsPattern(head, t))) return None
    if (!head.contains('@'.toByte)) return None
    if (!head.contains('\n'.toByte)) return None
    val stop = Scan.search(ctx, hit.globalOffset, Scan.maxEnd(hit.globalOffset, maxSize),
      Boundary.length - 1) { (window, len, at) =>
      val pos = Scan.findPattern(window, len, Boundary)
      if (pos >= 0 && at + pos > hit.globalOffset) at + pos else -1L
    }
    // eml: validated == no EOF during the ranged copy; no error strings —
    // but a max_size cut IS reported as truncated (dropping the flag
    // painted a cut-off message as intact)
    CarveOps.finish(ctx, hit, fileType, extension, hit.globalOffset, stop.at, minSize,
      validated = true, truncated = stop.isInstanceOf[Scan.AtMax], errors = Nil,
      eofInvalidates = true)
  }
}

/** FB2: `<?xml` + FictionBook marker within the first 4 KiB; end =
  * `</FictionBook>` (case-insensitive; reference src/carve/fb2.rs).
  */
final class Fb2Carver(val maxSize: Long, val minSize: Long, val extension: String = "fb2")
    extends CarveHandler {
  override def fileType: String = "fb2"
  private val Header = "<?xml".getBytes("ISO-8859-1")
  private val TagLower = "<fictionbook".getBytes("ISO-8859-1")
  private val NsLower = "fictionbook".getBytes("ISO-8859-1")
  private val EndLower = "</fictionbook>".getBytes("ISO-8859-1")

  override def processHit(hit: CarveHit, ctx: ExtractionContext): Option[CarvedFile] = {
    val preview = Scan.readPrefix(ctx, hit.globalOffset, 4096)
    if (preview.isEmpty) return None
    if (preview.length < Header.length || !preview.take(Header.length).sameElements(Header)) return None
    val lower = Scan.toLowerAscii(preview)
    if (!Scan.containsPattern(lower, TagLower) && !Scan.containsPattern(lower, NsLower)) return None
    val stop = Scan.search(ctx, hit.globalOffset, Scan.maxEnd(hit.globalOffset, maxSize),
      EndLower.length - 1)(Scan.through(EndLower, ignoreCase = true))
    Scan.finishAtTerminator(this, ctx, hit, minSize, stop, "eof before fb2 end", "max_size reached before fb2 end")
  }
}

/** Configurable generic header/footer carver — earliest footer wins,
  * carry = maxFooterLen − 1 (reference src/carve/footer.rs:59-217).
  */
final class FooterCarver(
    val fileTypeName: String,
    val extension: String,
    headerPatterns: Seq[Array[Byte]],
    footerPatterns: Seq[Array[Byte]],
    val maxSize: Long,
    val minSize: Long) extends CarveHandler {
  override def fileType: String = fileTypeName
  private val maxFooterLen = if (footerPatterns.isEmpty) 0 else footerPatterns.map(_.length).max

  override def processHit(hit: CarveHit, ctx: ExtractionContext): Option[CarvedFile] = {
    if (headerPatterns.nonEmpty) {
      // gate on a looped prefix read — a legally short readAt (EWF: one
      // chunk per call) must not skip or fail the check
      val head = Scan.readPrefix(ctx, hit.globalOffset, headerPatterns.map(_.length).max)
      if (!headerPatterns.exists(p => p.nonEmpty && head.length >= p.length &&
          java.util.Arrays.equals(head.take(p.length), p))) return None
    }
    val stop = Scan.search(ctx, hit.globalOffset, Scan.maxEnd(hit.globalOffset, maxSize),
      math.max(maxFooterLen - 1, 0)) { (window, len, at) =>
      var best = -1
      var bestLen = 0
      footerPatterns.foreach { pat =>
        val pos = Scan.findPattern(window, len, pat)
        if (pos >= 0 && (best < 0 || pos < best)) { best = pos; bestLen = pat.length }
      }
      if (best < 0) -1L else at + best + bestLen
    }
    Scan.finishAtTerminator(this, ctx, hit, minSize, stop, "eof before footer", "max_size reached before footer")
  }
}
