package graft.carve

import graft.core.CarvedFile
import java.security.MessageDigest

/** Forward-scanning carvers: the end of the file is found by searching the
  * byte stream for a terminator (EOI, %%EOF, next-header, stream-end
  * magic, closing tag, configured footer), with a (patternLen−1)-byte
  * carry across 64 KiB read buffers so terminators spanning buffer
  * boundaries are found. Flag/error semantics ported per carver.
  */
object Scan {
  final val BufSize = 64 * 1024

  def findPattern(hay: Array[Byte], hayLen: Int, needle: Array[Byte], from: Int = 0): Int = {
    if (needle.isEmpty || hayLen < needle.length) return -1
    val first = needle(0)
    var i = from
    while (i + needle.length <= hayLen) {
      if (hay(i) == first) {
        var j = 1
        while (j < needle.length && hay(i + j) == needle(j)) j += 1
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

  /** Hash-and-finish helper shared by the scan carvers: ranged copy of the
    * decided extent, min-size gate, record assembly.
    */
  def finishRange(
      handler: CarveHandler,
      ctx: ExtractionContext,
      hit: CarveHit,
      start: Long,
      end: Long,
      minSize: Long,
      validated: Boolean,
      truncated: Boolean,
      errors: Seq[String],
      eofError: Option[String] = None,
      validatedOnEof: Option[Boolean] = None): Option[CarvedFile] = {
    val relPath = Naming.relPath(handler.fileType, handler.extension, start)
    val md5 = MessageDigest.getInstance("MD5")
    val sha = MessageDigest.getInstance("SHA-256")
    val (written, eofTruncated) = CarveOps.writeRange(ctx, relPath, start, end, md5, sha)
    if (written < minSize) return None
    var errs = errors
    var trunc = truncated
    var valid = validated
    if (eofTruncated) {
      trunc = true
      eofError.foreach(e => if (!errs.exists(_.contains("eof"))) errs = errs :+ e)
      validatedOnEof.foreach(v => valid = v)
    }
    Some(CarveOps.carvedFile(ctx, handler.fileType, handler.extension, start, written,
      Hex.lower(md5.digest()), Hex.lower(sha.digest()), valid, trunc, errs, hit.patternId))
  }
}

/** JPEG: stream until the FF D9 end-of-image marker
  * (reference src/carve/jpeg.rs:34-141).
  */
final class JpegCarver(val maxSize: Long, val minSize: Long, val extension: String = "jpg")
    extends CarveHandler {
  override def fileType: String = "jpeg"

  override def processHit(hit: CarveHit, ctx: ExtractionContext): Option[CarvedFile] = {
    var offset = hit.globalOffset
    var written = 0L
    var validated = false
    var truncated = false
    var errors = Vector.empty[String]
    var prevFF = false
    val buf = new Array[Byte](Scan.BufSize)
    var done = false
    while (!done) {
      if (maxSize > 0 && written >= maxSize) {
        truncated = true; errors :+= "max_size reached before EOI"; done = true
      } else {
        val want = if (maxSize > 0) math.min(maxSize - written, Scan.BufSize.toLong).toInt else Scan.BufSize
        val n = ctx.evidence.readAt(offset, buf, 0, want)
        if (n == 0) {
          truncated = true; errors :+= "eof before EOI"; done = true
        } else {
          var writeLen = n
          var i = 0
          var found = false
          while (!found && i < n) {
            if (prevFF && (buf(i) & 0xff) == 0xd9) { writeLen = i + 1; validated = true; found = true }
            else { prevFF = (buf(i) & 0xff) == 0xff; i += 1 }
          }
          written += writeLen
          offset += writeLen
          if (validated || writeLen < n) done = true
        }
      }
    }
    Scan.finishRange(this, ctx, hit, hit.globalOffset, hit.globalOffset + written, minSize,
      validated, truncated, errors)
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
    var offset = hit.globalOffset
    var written = 0L
    var validated = false
    var truncated = false
    var errors = Vector.empty[String]
    var carry = Array.emptyByteArray
    var done = false
    while (!done) {
      if (maxSize > 0 && written >= maxSize) {
        truncated = true; errors :+= "max_size reached before EOF"; done = true
      } else {
        val want = if (maxSize > 0) math.min(maxSize - written, Scan.BufSize.toLong).toInt else Scan.BufSize
        val buf = new Array[Byte](want)
        val n = ctx.evidence.readAt(offset, buf, 0, want)
        if (n == 0) {
          truncated = true; errors :+= "eof before %%EOF"; done = true
        } else {
          val search = carry ++ buf.take(n)
          val pos = Scan.findPattern(search, search.length, Eof)
          if (pos >= 0) {
            val writeLen = math.min(pos + Eof.length - carry.length, n)
            if (writeLen > 0) written += writeLen
            validated = true
            done = true
          } else {
            written += n
            offset += n
            carry = if (n >= Eof.length - 1) buf.slice(n - (Eof.length - 1), n) else buf.take(n)
          }
        }
      }
    }
    if (validated) {
      // trailing \n or \r\n is included (pdf.rs:128-151)
      ctx.evidence.readExactAt(hit.globalOffset + written, 1).foreach { b1 =>
        if (b1(0) == '\n'.toByte) written += 1
        else if (b1(0) == '\r'.toByte) {
          written += 1
          ctx.evidence.readExactAt(hit.globalOffset + written, 1).foreach { b2 =>
            if (b2(0) == '\n'.toByte) written += 1
          }
        }
      }
    }
    Scan.finishRange(this, ctx, hit, hit.globalOffset, hit.globalOffset + written, minSize,
      validated, truncated, errors)
  }
}

/** Shared carve-until-pattern scaffold for gzip/bzip2/xz/eml — scans
  * forward from `searchFrom` for an end decided by `onBuffer`, then
  * ranged-copies. Subclasses differ in header validation and end rules.
  */
abstract class UntilPatternCarver extends CarveHandler {
  def maxSize: Long
  def minSize: Long

  /** (endOffset, validated) or null to keep scanning. */
  final case class End(offset: Long, validated: Boolean)

  protected def carryLen: Int

  /** Inspect one search window (carry ++ fresh). bufStartGlobal is the
    * global offset of search(0). Return an End or None.
    */
  protected def findEnd(ctx: ExtractionContext, search: Array[Byte], searchLen: Int,
      bufStartGlobal: Long, hitOffset: Long): Option[End]

  /** End decision at evidence EOF: Some(end, validated) or None for
    * "fall through to max_end".
    */
  protected def endAtEof(offset: Long): Option[End] = Some(End(offset, validated = false))

  protected def maxSizeError: String
  protected def eofWriteError: Option[String]

  /** Run the scan loop from searchStart; returns (end, validated, errors, truncated). */
  protected final def scanForEnd(ctx: ExtractionContext, hit: CarveHit, searchStart: Long)
      : (Long, Boolean, Seq[String], Boolean) = {
    val maxEnd = if (maxSize > 0) hit.globalOffset + maxSize else Long.MaxValue
    var offset = searchStart
    var carry = Array.emptyByteArray
    var result: Option[End] = None
    var sawEof = false
    while (result.isEmpty && !sawEof && offset < maxEnd) {
      val want = math.min(maxEnd - offset, Scan.BufSize.toLong).toInt
      val buf = new Array[Byte](want)
      val n = ctx.evidence.readAt(offset, buf, 0, want)
      if (n == 0) {
        sawEof = true
        result = endAtEof(offset)
      } else {
        val search = carry ++ buf.take(n)
        result = findEnd(ctx, search, search.length, offset - carry.length, hit.globalOffset)
        if (result.isEmpty) {
          offset += n
          carry = if (n >= carryLen) buf.slice(n - carryLen, n) else buf.take(n)
        }
      }
    }
    var errors = Vector.empty[String]
    var truncated = false
    val (end, validated) = result.map(e => (e.offset, e.validated)).getOrElse((maxEnd, false))
    if (maxSize > 0 && end >= maxEnd) {
      truncated = true
      errors :+= maxSizeError
    }
    (end, validated, errors, truncated)
  }
}

/** GZIP: header with FEXTRA/FNAME/FCOMMENT/FHCRC skipping; end = next
  * `1F 8B 08` magic or EOF (carve-until-next-header heuristic;
  * reference src/carve/gzip.rs:42-217).
  */
final class GzipCarver(val maxSize: Long, val minSize: Long, val extension: String = "gz")
    extends UntilPatternCarver {
  override def fileType: String = "gzip"
  private val Magic = Array(0x1f, 0x8b, 0x08).map(_.toByte)
  override protected def carryLen: Int = Magic.length - 1
  override protected def maxSizeError: String = "max_size reached before gzip end"
  override protected def eofWriteError: Option[String] = Some("eof before gzip end")
  override protected def endAtEof(offset: Long): Option[End] = Some(End(offset, validated = true))

  override protected def findEnd(ctx: ExtractionContext, search: Array[Byte], searchLen: Int,
      bufStartGlobal: Long, hitOffset: Long): Option[End] = {
    var from = 0
    while (true) {
      val pos = Scan.findPattern(search, searchLen, Magic, from)
      if (pos < 0) return None
      val gzipOffset = bufStartGlobal + pos
      if (gzipOffset > hitOffset) return Some(End(gzipOffset, validated = true))
      from = pos + 1
    }
    None
  }

  override def processHit(hit: CarveHit, ctx: ExtractionContext): Option[CarvedFile] = {
    val headerLen = parseHeader(ctx, hit.globalOffset).getOrElse(return None)
    val (end, validated, errors, truncated) = scanForEnd(ctx, hit, hit.globalOffset + headerLen)
    Scan.finishRange(this, ctx, hit, hit.globalOffset, end, minSize, validated, truncated,
      errors, eofError = eofWriteError)
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
    extends UntilPatternCarver {
  override def fileType: String = "bzip2"
  private val Magic = "BZh".getBytes("ISO-8859-1")
  private val EndMarker = Hex.decode("177245385090")
  override protected def carryLen: Int = EndMarker.length - 1
  override protected def maxSizeError: String = "max_size reached before bzip2 end"
  override protected def eofWriteError: Option[String] = Some("eof before bzip2 end")

  override protected def findEnd(ctx: ExtractionContext, search: Array[Byte], searchLen: Int,
      bufStartGlobal: Long, hitOffset: Long): Option[End] = {
    val pos = Scan.findPattern(search, searchLen, EndMarker)
    if (pos < 0) None else Some(End(bufStartGlobal + pos + EndMarker.length, validated = true))
  }

  override def processHit(hit: CarveHit, ctx: ExtractionContext): Option[CarvedFile] = {
    val header = ctx.evidence.readExactAt(hit.globalOffset, 4).getOrElse(return None)
    if (!header.take(3).sameElements(Magic)) return None
    val level = header(3) & 0xff
    if (level < '1'.toInt || level > '9'.toInt) return None
    val (end, validated, errors, truncated) = scanForEnd(ctx, hit, hit.globalOffset + 4)
    Scan.finishRange(this, ctx, hit, hit.globalOffset, end, minSize, validated, truncated,
      errors, eofError = eofWriteError)
  }
}

/** XZ: header CRC32 check; end = `59 5A` footer magic whose 12-byte footer
  * CRC verifies (reference src/carve/xz.rs:42-189).
  */
final class XzCarver(val maxSize: Long, val minSize: Long, val extension: String = "xz")
    extends UntilPatternCarver {
  override def fileType: String = "xz"
  private val Magic = Hex.decode("FD377A585A00")
  private val FooterMagic = Array('Y'.toByte, 'Z'.toByte)
  override protected def carryLen: Int = FooterMagic.length - 1
  override protected def maxSizeError: String = "max_size reached before xz end"
  override protected def eofWriteError: Option[String] = Some("eof before xz end")
  override protected def endAtEof(offset: Long): Option[End] = None

  override protected def findEnd(ctx: ExtractionContext, search: Array[Byte], searchLen: Int,
      bufStartGlobal: Long, hitOffset: Long): Option[End] = {
    var from = 0
    var found: Option[End] = None
    while (found.isEmpty) {
      val pos = Scan.findPattern(search, searchLen, FooterMagic, from)
      if (pos < 0) return None
      val footerEnd = bufStartGlobal + pos + 2
      if (footerEnd >= hitOffset + 12) {
        val footerStart = footerEnd - 12
        if (footerStart > hitOffset) {
          ctx.evidence.readExactAt(footerStart, 12).foreach { footer =>
            if (footer(10) == 'Y'.toByte && footer(11) == 'Z'.toByte &&
                Bin.leU32(footer, 0) == Crc32.of(footer, 4, 6))
              found = Some(End(footerEnd, validated = true))
          }
        }
      }
      if (found.isEmpty) from = pos + 1
    }
    found
  }

  override def processHit(hit: CarveHit, ctx: ExtractionContext): Option[CarvedFile] = {
    val header = ctx.evidence.readExactAt(hit.globalOffset, 12).getOrElse(return None)
    if (!header.take(6).sameElements(Magic)) return None
    if (Bin.leU32(header, 8) != Crc32.of(header, 6, 2)) return None
    val (end, validated, errors, truncated) = scanForEnd(ctx, hit, hit.globalOffset + 12)
    Scan.finishRange(this, ctx, hit, hit.globalOffset, end, minSize, validated, truncated,
      errors, eofError = eofWriteError)
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
    extends UntilPatternCarver {
  override def fileType: String = "eml"
  private val Markers = Seq("From:", "To:", "Subject:", "Date:", "Message-ID:", "MIME-Version:")
    .map(_.getBytes("ISO-8859-1"))
  private val Boundary = "\nFrom ".getBytes("ISO-8859-1")
  private val Templates = Seq("%s", "%d", "{}", "<%s>", "${").map(_.getBytes("ISO-8859-1"))
  override protected def carryLen: Int = Boundary.length - 1
  override protected def maxSizeError: String = "" // eml records no max error
  override protected def eofWriteError: Option[String] = None

  override protected def findEnd(ctx: ExtractionContext, search: Array[Byte], searchLen: Int,
      bufStartGlobal: Long, hitOffset: Long): Option[End] = {
    val pos = Scan.findPattern(search, searchLen, Boundary)
    if (pos >= 0 && bufStartGlobal + pos > hitOffset) Some(End(bufStartGlobal + pos, validated = true))
    else None
  }

  override protected def endAtEof(offset: Long): Option[End] = Some(End(offset, validated = true))

  override def processHit(hit: CarveHit, ctx: ExtractionContext): Option[CarvedFile] = {
    val head = Scan.readPrefix(ctx, hit.globalOffset, 2048)
    if (head.isEmpty) return None
    val headerCount = Markers.count(m => Scan.containsPattern(head, m))
    if (headerCount < 2) return None
    if (Templates.exists(t => Scan.containsPattern(head, t))) return None
    if (!head.contains('@'.toByte)) return None
    if (!head.contains('\n'.toByte)) return None
    val (end, _, _, truncated) = scanForEnd(ctx, hit, hit.globalOffset)
    // eml: validated == no EOF during the ranged copy; no error strings —
    // but a max_size cut IS reported as truncated (dropping the flag
    // painted a cut-off message as intact)
    Scan.finishRange(this, ctx, hit, hit.globalOffset, end, minSize,
      validated = true, truncated = truncated, errors = Seq.empty,
      eofError = None, validatedOnEof = Some(false))
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

    var offset = hit.globalOffset
    var written = 0L
    var validated = false
    var truncated = false
    var errors = Vector.empty[String]
    var carry = Array.emptyByteArray
    var done = false
    while (!done) {
      if (maxSize > 0 && written >= maxSize) {
        truncated = true; errors :+= "max_size reached before fb2 end"; done = true
      } else {
        val want = if (maxSize > 0) math.min(maxSize - written, Scan.BufSize.toLong).toInt else Scan.BufSize
        val buf = new Array[Byte](want)
        val n = ctx.evidence.readAt(offset, buf, 0, want)
        if (n == 0) {
          truncated = true; errors :+= "eof before fb2 end"; done = true
        } else {
          val search = Scan.toLowerAscii(carry ++ buf.take(n))
          val pos = Scan.findPattern(search, search.length, EndLower)
          if (pos >= 0) {
            val writeLen = math.min(pos + EndLower.length - carry.length, n)
            if (writeLen > 0) written += writeLen
            validated = true
            done = true
          } else {
            written += n
            offset += n
            carry = if (n >= EndLower.length - 1) buf.slice(n - (EndLower.length - 1), n) else buf.take(n)
          }
        }
      }
    }
    Scan.finishRange(this, ctx, hit, hit.globalOffset, hit.globalOffset + written, minSize,
      validated, truncated, errors)
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
    var offset = hit.globalOffset
    var written = 0L
    var validated = false
    var truncated = false
    var errors = Vector.empty[String]
    var carry = Array.emptyByteArray
    var done = false
    while (!done) {
      if (maxSize > 0 && written >= maxSize) {
        truncated = true; errors :+= "max_size reached before footer"; done = true
      } else {
        val want = if (maxSize > 0) math.min(maxSize - written, Scan.BufSize.toLong).toInt else Scan.BufSize
        val buf = new Array[Byte](want)
        val n = ctx.evidence.readAt(offset, buf, 0, want)
        if (n == 0) {
          truncated = true; errors :+= "eof before footer"; done = true
        } else {
          if (written == 0 && headerPatterns.nonEmpty) {
            // gate on a LOOPED prefix read — a legally short first readAt
            // (EWF: one chunk per call) must not skip or fail the check
            val gateLen = headerPatterns.map(_.length).max
            val head = if (n >= gateLen) buf.take(gateLen)
              else Scan.readPrefix(ctx, offset, gateLen)
            if (!headerPatterns.exists(p => p.nonEmpty && head.length >= p.length &&
                java.util.Arrays.equals(head.take(p.length), p))) return None
          }
          val search = carry ++ buf.take(n)
          var best = -1
          var bestLen = 0
          footerPatterns.foreach { pat =>
            val pos = Scan.findPattern(search, search.length, pat)
            if (pos >= 0 && (best < 0 || pos < best)) { best = pos; bestLen = pat.length }
          }
          if (best >= 0) {
            val writeLen = math.min(best + bestLen - carry.length, n)
            if (writeLen > 0) written += writeLen
            validated = true
            done = true
          } else {
            written += n
            offset += n
            carry =
              if (maxFooterLen > 1) {
                val keep = maxFooterLen - 1
                if (n >= keep) buf.slice(n - keep, n) else buf.take(n)
              } else Array.emptyByteArray
          }
        }
      }
    }
    Scan.finishRange(this, ctx, hit, hit.globalOffset, hit.globalOffset + written, minSize,
      validated, truncated, errors)
  }
}
