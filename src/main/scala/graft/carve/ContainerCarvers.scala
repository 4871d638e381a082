package graft.carve

import graft.core.CarvedFile
import scala.collection.mutable

/** Classifying container carvers: ZIP (EOCD validation + docx/xlsx/pptx/
  * odt/ods/odp/epub classification) and OLE/CFB (FAT-based size refinement
  * + doc/xls/ppt classification). Classification reads the central
  * directory / directory stream straight from the evidence before any
  * byte is copied, so the payload streams under its final name and a kind
  * outside the allowed kinds is dropped before anything is written.
  */

/** ZIP (reference src/carve/zip.rs:57-624). Two modes:
  *  - requireEocd: pre-scan for the LAST EOCD whose
  *    `start + cd_offset + cd_size == eocd_offset`, carve exactly to
  *    EOCD end + comment; unmatched ⇒ drop.
  *  - streaming: carve until the first EOCD signature, then extend to
  *    its comment end.
  */
final class ZipCarver(
    val maxSize: Long,
    val minSize: Long,
    val extension: String = "zip",
    requireEocd: Boolean = true,
    allowedKinds: Option[Set[String]] = None) extends CarveHandler {
  override def fileType: String = "zip"
  private val Header = Hex.decode("504B0304")
  private val Eocd = Hex.decode("504B0506")
  private val CenSig = Hex.decode("504B0102")
  private val allowed = allowedKinds.map(_.map(_.toLowerCase(java.util.Locale.ROOT)))

  private final case class ZipEocd(cdOffset: Long, cdSize: Long, commentLen: Int)

  override def processHit(hit: CarveHit, ctx: ExtractionContext): Option[CarvedFile] = {
    val start = hit.globalOffset
    // looped prefix read for the gate: a short first readAt must not skip it
    if (!Scan.readPrefix(ctx, start, Header.length).sameElements(Header)) return None
    val maxEnd = Scan.maxEnd(start, maxSize)
    val stop =
      if (requireEocd) Scan.Found(findEocd(ctx, start, maxEnd).getOrElse(return None))
      else Scan.search(ctx, start, maxEnd, Eocd.length - 1) { (window, len, at) =>
        val pos = Scan.findPattern(window, len, Eocd)
        if (pos < 0) -1L else at + pos
      }
    val (end, eocd, errors) = stop match {
      case Scan.Found(eocdOffset) =>
        val eocd = readEocd(ctx, eocdOffset)
        val end = eocdOffset + 22 + eocd.fold(0)(_.commentLen)
        if (end > maxEnd) (maxEnd, eocd, Seq("max_size reached after EOCD")) else (end, eocd, Nil)
      case Scan.AtEof(at) => (at, None, Seq("eof before EOCD"))
      case Scan.AtMax(at) => (at, None, Seq("max_size reached before EOCD"))
    }
    val validated = stop.isInstanceOf[Scan.Found]
    val kind = eocd.flatMap(e => classifyZip(ctx, start, e.cdOffset, e.cdSize))
    val outType = kind.getOrElse(fileType)
    if (allowed.exists(a => !a.contains(outType))) return None
    CarveOps.finish(ctx, hit, outType, kind.getOrElse(extension), start, end, minSize,
      validated, truncated = errors.nonEmpty, errors,
      eofError = if (validated) "eof before EOCD end" else "eof before EOCD")
  }

  /** Scan from start for the LAST self-consistent EOCD (zip.rs:350-413). */
  private def findEocd(ctx: ExtractionContext, start: Long, maxEnd: Long): Option[Long] = {
    var lastValid: Option[Long] = None
    Scan.search(ctx, start, maxEnd, Eocd.length - 1) { (window, len, at) =>
      var pos = Scan.findPattern(window, len, Eocd)
      while (pos >= 0) {
        val eocdOffset = at + pos
        if (readEocd(ctx, eocdOffset).exists(e => start + e.cdOffset + e.cdSize == eocdOffset))
          lastValid = Some(eocdOffset)
        pos = Scan.findPattern(window, len, Eocd, pos + 1)
      }
      -1L
    }
    lastValid
  }

  private def readEocd(ctx: ExtractionContext, offset: Long): Option[ZipEocd] = {
    val buf = ctx.evidence.readExactAt(offset, 22).getOrElse(return None)
    if (!buf.take(4).sameElements(Eocd)) return None
    Some(ZipEocd(Bin.leU32(buf, 16), Bin.leU32(buf, 12), Bin.leU16(buf, 20)))
  }

  /** docx/xlsx/pptx by central-directory name prefixes; odt/ods/odp/epub
    * by the stored `mimetype` entry (zip.rs:489-597).
    */
  private def classifyZip(ctx: ExtractionContext, base: Long, cdOffset: Long, cdSize: Long): Option[String] = {
    if (cdSize == 0 || cdSize > 16L * 1024 * 1024) return None
    val buf = ctx.evidence.readExactAt(base + cdOffset, cdSize.toInt).getOrElse(return None)
    var mimetypeEntry: Option[(Long, Long, Int)] = None // (localHeaderOffset, compSize, method)
    var idx = 0
    var scanning = true
    while (scanning && idx + 46 <= buf.length) {
      if (!buf.slice(idx, idx + 4).sameElements(CenSig)) scanning = false
      else {
        val compression = Bin.leU16(buf, idx + 10)
        val compSize = Bin.leU32(buf, idx + 20)
        val nameLen = Bin.leU16(buf, idx + 28)
        val extraLen = Bin.leU16(buf, idx + 30)
        val commentLen = Bin.leU16(buf, idx + 32)
        val localHeaderOffset = Bin.leU32(buf, idx + 42)
        val nameStart = idx + 46
        val nameEnd = nameStart + nameLen
        if (nameEnd > buf.length) scanning = false
        else {
          val name = new String(buf, nameStart, nameLen, "ISO-8859-1")
          if (name.startsWith("word/")) return Some("docx")
          if (name.startsWith("xl/")) return Some("xlsx")
          if (name.startsWith("ppt/")) return Some("pptx")
          if (name == "mimetype") mimetypeEntry = Some((localHeaderOffset, compSize, compression))
          idx = nameEnd + extraLen + commentLen
        }
      }
    }
    mimetypeEntry.flatMap { case (lho, compSize, method) =>
      readStoredEntry(ctx, base, lho, compSize, method).flatMap { mime =>
        new String(mime, "ISO-8859-1").trim match {
          case "application/vnd.oasis.opendocument.text" => Some("odt")
          case "application/vnd.oasis.opendocument.spreadsheet" => Some("ods")
          case "application/vnd.oasis.opendocument.presentation" => Some("odp")
          case "application/epub+zip" => Some("epub")
          case _ => None
        }
      }
    }
  }

  private def readStoredEntry(ctx: ExtractionContext, base: Long, lho: Long, compSize: Long, method: Int): Option[Array[Byte]] = {
    if (method != 0 || compSize > 1024) return None
    val header = ctx.evidence.readExactAt(base + lho, 30).getOrElse(return None)
    if (!header.take(4).sameElements(Header)) return None
    val nameLen = Bin.leU16(header, 26)
    val extraLen = Bin.leU16(header, 28)
    ctx.evidence.readExactAt(base + lho + 30 + nameLen + extraLen, compSize.toInt)
  }
}

/** OLE/CFB (reference src/carve/ole.rs): 512-byte header parse (v3/v4,
  * sector size 512/4096), FAT-walk size refinement to the highest used
  * sector, directory-stream classification doc/xls/ppt.
  */
final class OleCarver(
    val maxSize: Long,
    val minSize: Long,
    val extension: String = "ole",
    allowedKinds: Option[Set[String]] = None) extends CarveHandler {
  override def fileType: String = "ole"
  private val Signature = Hex.decode("D0CF11E0A1B11AE1")
  private val allowed = allowedKinds.map(_.map(_.toLowerCase(java.util.Locale.ROOT)))

  private def effectiveMax: Long = if (maxSize > 0) maxSize else 512L * 1024 * 1024

  override def processHit(hit: CarveHit, ctx: ExtractionContext): Option[CarvedFile] = {
    val start = hit.globalOffset
    val header = Scan.readPrefix(ctx, start, 512)
    // max_size defaults to 512 MiB before the stream starts (ole.rs:463-468)
    val (kind, end, validated, errors) =
      if (effectiveMax < 512) (None, start, false, Seq("truncated output"))
      else if (header.length < 512) (None, start + header.length, false, Seq("unexpected eof"))
      else {
        val sectorSize =
          try parseHeader(header)
          catch { case _: CarveErrors.Invalid => return None }
        val kind = classifyKind(ctx, start, header, sectorSize, effectiveMax)
        val size = math.min(refineSize(ctx, start, header, sectorSize, effectiveMax), effectiveMax)
        // a body cut short by the evidence end is tolerated (ole.rs:502-508)
        (kind, math.min(start + size, ctx.evidence.length), true, Nil)
      }
    val outType = kind.getOrElse(fileType)
    if (allowed.exists(a => !a.contains(outType))) return None
    val cut = maxSize > 0 && end - start >= maxSize
    CarveOps.finish(ctx, hit, outType, kind.getOrElse(extension), start, end, minSize,
      validated, truncated = !validated || cut,
      if (cut) errors :+ "max_size reached" else errors)
  }

  /** Returns sector size; throws Invalid on a malformed header. */
  private def parseHeader(header: Array[Byte]): Long = {
    if (header.length < 512) throw new CarveErrors.Invalid("ole header too short")
    if (!header.take(8).sameElements(Signature)) throw new CarveErrors.Invalid("ole signature mismatch")
    if (Bin.leU16(header, 28) != 0xfffe) throw new CarveErrors.Invalid("ole byte order invalid")
    val majorVersion = Bin.leU16(header, 26)
    val sectorPower = Bin.leU16(header, 30)
    majorVersion match {
      case 3 =>
        if (sectorPower != 9) throw new CarveErrors.Invalid("ole v3 sector power invalid")
        512L
      case 4 =>
        if (sectorPower != 12) throw new CarveErrors.Invalid("ole v4 sector power invalid")
        4096L
      case v => throw new CarveErrors.Invalid(s"ole version $v not supported")
    }
  }

  private def difatFatSectors(header: Array[Byte]): Seq[Long] = {
    val out = mutable.ArrayBuffer.empty[Long]
    var i = 0
    var stop = false
    while (!stop && i < 109) {
      val off = 76 + i * 4
      if (off + 4 > header.length) stop = true
      else {
        val id = Bin.leU32(header, off)
        if (id < 0xfffffffaL) out += id else stop = true
      }
      i += 1
    }
    out.toSeq
  }

  /** Highest-used-sector refinement by reading FAT sectors (ole.rs:193-298). */
  private def refineSize(ctx: ExtractionContext, base: Long, header: Array[Byte], sectorSize: Long, maxSz: Long): Long = {
    val headerSize = 512L
    val fatSectors = difatFatSectors(header)
    if (fatSectors.isEmpty) return headerSize + sectorSize
    var highest = fatSectors.max
    val firstDir = Bin.leU32(header, 48)
    if (firstDir < 0xfffffffaL && firstDir > highest) highest = firstDir
    val entriesPerSector = (sectorSize / 4).toInt
    var stop = false
    fatSectors.zipWithIndex.foreach { case (fatSec, fatIndex) =>
      if (!stop) {
        val fatFileOffset = headerSize + fatSec * sectorSize
        if (fatFileOffset + sectorSize > maxSz) stop = true
        else ctx.evidence.readExactAt(base + fatFileOffset, sectorSize.toInt) match {
          case None => stop = true
          case Some(fatData) =>
            val baseSectorId = fatIndex.toLong * entriesPerSector
            var e = 0
            while (e < entriesPerSector && (e * 4 + 4) <= fatData.length) {
              val entry = Bin.leU32(fatData, e * 4)
              if (entry != 0xffffffffL) {
                val sectorIndex = baseSectorId + e
                if (sectorIndex > highest && sectorIndex < 0xfffffffaL) highest = sectorIndex
                if (entry < 0xfffffffaL && entry > highest) highest = entry
              }
              e += 1
            }
        }
      }
    }
    math.min(headerSize + (highest + 1) * sectorSize, maxSz)
  }

  private def readFat(ctx: ExtractionContext, base: Long, header: Array[Byte], sectorSize: Long, maxSz: Long): Option[Array[Long]] = {
    val fatSectors = difatFatSectors(header)
    if (fatSectors.isEmpty) return None
    val entries = mutable.ArrayBuffer.empty[Long]
    var stop = false
    fatSectors.foreach { sectorId =>
      if (!stop) {
        val fileOffset = 512L + sectorId * sectorSize
        if (fileOffset + sectorSize > maxSz) stop = true
        else ctx.evidence.readExactAt(base + fileOffset, sectorSize.toInt) match {
          case None => stop = true
          case Some(buf) =>
            var i = 0
            while (i + 4 <= buf.length) { entries += Bin.leU32(buf, i); i += 4 }
        }
      }
    }
    Some(entries.toArray)
  }

  /** Directory-stream walk for WordDocument/Workbook/PowerPoint names
    * (ole.rs:300-370).
    */
  private def classifyKind(ctx: ExtractionContext, base: Long, header: Array[Byte], sectorSize: Long, maxSz: Long): Option[String] = {
    val firstDir = Bin.leU32(header, 48)
    if (firstDir >= 0xfffffffaL) return None
    val fat = readFat(ctx, base, header, sectorSize, maxSz).getOrElse(return None)
    var current = firstDir
    var visited = 0
    var foundDoc = false
    var foundXls = false
    var foundPpt = false
    var stop = false
    while (!stop && current < 0xfffffffaL && visited < 1024) {
      val offset = base + 512L + current * sectorSize
      if (offset + sectorSize > base + maxSz) stop = true
      else ctx.evidence.readExactAt(offset, sectorSize.toInt) match {
        case None => stop = true
        case Some(buf) =>
          var e = 0
          while (e + 128 <= buf.length) {
            val nameLen = Bin.leU16(buf, e + 64)
            if (nameLen >= 2 && nameLen <= 64 && (buf(e + 66) & 0xff) == 2) {
              val name = decodeUtf16Le(buf, e, nameLen - 2)
              if (name == "WordDocument") foundDoc = true
              else if (name == "Workbook" || name == "Book") foundXls = true
              else if (name == "PowerPoint Document") foundPpt = true
            }
            e += 128
          }
          val next = if (current < fat.length) fat(current.toInt) else 0xfffffffeL
          if (next >= 0xfffffffaL) stop = true
          else { current = next; visited += 1 }
      }
    }
    if (foundDoc) Some("doc") else if (foundXls) Some("xls") else if (foundPpt) Some("ppt") else None
  }

  private def decodeUtf16Le(buf: Array[Byte], off: Int, len: Int): String = {
    val sb = new StringBuilder
    var i = 0
    var stop = false
    while (!stop && i + 1 < len) {
      val v = (buf(off + i) & 0xff) | ((buf(off + i + 1) & 0xff) << 8)
      if (v == 0) stop = true else { sb.append(v.toChar); i += 2 }
    }
    sb.toString
  }
}
