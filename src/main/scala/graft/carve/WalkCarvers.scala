package graft.carve

import graft.core.CarvedFile

/** Structure-walking carvers. Tar and ogg walk by position through a
  * [[WalkCursor]] (see [[StreamCarver]]); ico reads its directory and
  * ISO-BMFF (mp4/mov) its box headers at absolute offsets. Each plans its
  * extent and ends in [[CarveOps.finish]].
  */

/** TAR: hit on `ustar`@257 rebased to block start; 512-byte block walk
  * with checksum validation, octal size fields, end = 2 zero blocks
  * (reference src/carve/tar.rs:33-194).
  */
final class TarCarver(val maxSize: Long, val minSize: Long, val extension: String = "tar")
    extends StreamCarver {
  override def fileType: String = "tar"
  private val Block = 512
  private val UstarOffset = 257
  private val UstarMagic = "ustar".getBytes("ISO-8859-1")
  override def processHit(hit: CarveHit, ctx: ExtractionContext): Option[CarvedFile] = {
    val start =
      if (hit.patternId == "tar_ustar") {
        if (hit.globalOffset < UstarOffset) return None
        hit.globalOffset - UstarOffset
      } else hit.globalOffset
    super.processHit(hit.copy(globalOffset = start), ctx)
  }

  override protected def walk(cursor: WalkCursor, hit: CarveHit): Boolean = {
    var zeroBlocks = 0
    while (true) {
      val header = cursor.read(Block)
      if (header.forall(_ == 0)) {
        zeroBlocks += 1
        if (zeroBlocks >= 2) return true
      } else {
        zeroBlocks = 0
        if (hit.patternId == "tar_ustar" &&
            !header.slice(UstarOffset, UstarOffset + UstarMagic.length).sameElements(UstarMagic))
          throw new CarveErrors.Invalid("tar ustar magic mismatch")
        if (!validateChecksum(header)) throw new CarveErrors.Invalid("tar checksum invalid")
        val size = parseOctal(header, 124, 136)
        cursor.skip((size + Block - 1) / Block * Block)
      }
    }
    true
  }

  private def parseOctal(field: Array[Byte], from: Int, until: Int): Long = {
    var value = 0L
    var seen = false
    var i = from
    while (i < until) {
      val b = field(i) & 0xff
      if (b == 0 || b == ' '.toInt || b == '\n'.toInt) {
        if (seen) return value
      } else if (b < '0'.toInt || b > '7'.toInt) {
        throw new CarveErrors.Invalid("tar octal field invalid")
      } else {
        seen = true
        value = value * 8 + (b - '0'.toInt)
      }
      i += 1
    }
    value
  }

  private def validateChecksum(header: Array[Byte]): Boolean = {
    val stored = parseOctal(header, 148, 156)
    var sum = 0L
    var i = 0
    while (i < header.length) {
      sum += (if (i >= 148 && i < 156) 0x20 else header(i) & 0xff)
      i += 1
    }
    sum == stored
  }
}

/** OGG: page walk — `OggS` + version 0 + segment-table sum per page, end
  * on header_type bit 0x04 (EOS), 1e6-page cap
  * (reference src/carve/ogg.rs:38-141).
  */
final class OggCarver(val maxSize: Long, val minSize: Long, val extension: String = "ogg")
    extends StreamCarver {
  override def fileType: String = "ogg"
  private val Magic = "OggS".getBytes("ISO-8859-1")

  override protected def walk(cursor: WalkCursor, hit: CarveHit): Boolean = {
    var pages = 0L
    while (true) {
      val header = cursor.read(27)
      if (!header.take(4).sameElements(Magic))
        throw new CarveErrors.Invalid("ogg page signature mismatch")
      if (header(4) != 0) throw new CarveErrors.Invalid("ogg version unsupported")
      val headerType = header(5) & 0xff
      val segmentCount = header(26) & 0xff
      cursor.skip(cursor.read(segmentCount).map(_ & 0xffL).sum)
      pages += 1
      if ((headerType & 0x04) != 0) return true
      if (pages > 1000000L) throw new CarveErrors.Invalid("ogg page limit exceeded")
    }
    true
  }
}

/** ICO/CUR: 6-byte header + 16-byte directory entries (≤64); validates
  * embedded PNG/BITMAPINFOHEADER magic; size = max(offset+size) capped
  * 4 MiB (reference src/carve/ico.rs:28-205).
  */
final class IcoCarver(val maxSize: Long, val minSize: Long, val extension: String = "ico")
    extends RangeCarver {
  override def fileType: String = "ico"
  private val PngMagic = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
  private val MaxEntries = 64
  private val MaxSingleImage = 512L * 1024
  private val MaxReasonable = 4L * 1024 * 1024

  private def validImage(ctx: ExtractionContext, offset: Long, size: Long): Boolean = {
    if (size < 8) return false
    val h = ctx.evidence.readExactAt(offset, 8).getOrElse(return false)
    if (h.sameElements(PngMagic)) return true
    if ((h(0) & 0xff) == 0x28 && h(1) == 0) {
      val width = Bin.leI32(h, 4)
      width > 0 && width <= 256
    } else false
  }

  override def plan(hit: CarveHit, ctx: ExtractionContext): Option[(Long, Long, Seq[String], Boolean)] = {
    val header = ctx.evidence.readExactAt(hit.globalOffset, 6)
      .getOrElse(throw new CarveErrors.Invalid("ico header too short"))
    if (header(0) != 0 || header(1) != 0) return None
    val iconType = Bin.leU16(header, 2)
    if (iconType != 1 && iconType != 2) return None
    val count = Bin.leU16(header, 4)
    if (count == 0 || count > MaxEntries) return None
    val dirLen = count * 16
    val dir = ctx.evidence.readExactAt(hit.globalOffset + 6, dirLen)
      .getOrElse(throw new CarveErrors.Invalid("ico directory truncated"))
    val headerSize = 6L + dirLen
    var maxEnd = 0L
    var validImageFound = false
    var i = 0
    while (i < count) {
      val base = i * 16
      val size = Bin.leU32(dir, base + 8)
      val offset = Bin.leU32(dir, base + 12)
      if (size == 0 || offset < headerSize) return None
      if (size > MaxSingleImage) return None
      if (validImage(ctx, hit.globalOffset + offset, size)) validImageFound = true
      maxEnd = math.max(maxEnd, offset + size)
      i += 1
    }
    if (!validImageFound) return None
    Some((hit.globalOffset, hit.globalOffset + math.min(maxEnd, MaxReasonable), Seq.empty, false))
  }
}

/** ISO-BMFF box walk shared by MP4 and MOV: 32-bit and 64-bit (`size==1`)
  * boxes; first box must be `ftyp`, requires a `moov`; size = end of last
  * whole box (reference src/carve/mp4.rs:36-203, mov.rs).
  * MP4 rejects brand `qt  ` unless quicktime mode allows it; MOV requires it.
  */
abstract class BmffCarver extends CarveHandler {
  def maxSize: Long
  def minSize: Long
  protected def labelUpper: String // "MP4" | "MOV"
  /** First-box brand gate: return false to drop the hit. */
  protected def brandOk(brand: Option[Array[Byte]]): Boolean

  override def processHit(hit: CarveHit, ctx: ExtractionContext): Option[CarvedFile] = {
    var errors = Vector.empty[String]
    var truncated = false
    var seenFtyp = false
    var seenMoov = false
    var offset = hit.globalOffset
    var lastGood = hit.globalOffset
    var done = false
    while (!done) {
      if (maxSize > 0 && offset - hit.globalOffset >= maxSize) {
        truncated = true; errors :+= s"max_size reached before $labelUpper end"; done = true
      } else ctx.evidence.readExactAt(offset, 8) match {
        case None =>
          if (seenFtyp && seenMoov && offset + 8 > ctx.evidence.length) done = true
          else { truncated = true; errors :+= s"eof before $labelUpper end"; done = true }
        case Some(header) =>
          val size32 = Bin.beU32(header, 0)
          val boxType = header.slice(4, 8)
          var boxSize = size32
          var headerLen = 8L
          var abort = false
          if (size32 == 1) {
            ctx.evidence.readExactAt(offset, 16) match {
              case Some(ext) => boxSize = Bin.beU64(ext, 8); headerLen = 16L
              case None =>
                if (seenFtyp && seenMoov) { done = true; abort = true }
                else { truncated = true; errors :+= s"eof before $labelUpper extended size"; done = true; abort = true }
            }
          } else if (size32 == 0) {
            if (seenFtyp && seenMoov) { done = true; abort = true }
            else {
              truncated = true
              errors :+= s"${labelUpper.toLowerCase} box size 0 encountered"
              done = true; abort = true
            }
          }
          if (!abort) {
            if (boxSize < headerLen || boxSize == 0) {
              if (seenFtyp && seenMoov) done = true
              else return None
            } else {
              if (offset == hit.globalOffset) {
                if (!boxType.sameElements("ftyp".getBytes("ISO-8859-1"))) return None
                if (!brandOk(ctx.evidence.readExactAt(offset + headerLen, 4))) return None
                seenFtyp = true
              }
              if (boxType.sameElements("moov".getBytes("ISO-8859-1"))) seenMoov = true
              if (maxSize > 0 && (offset - hit.globalOffset) + boxSize > maxSize) {
                truncated = true; errors :+= s"max_size reached before $labelUpper end"; done = true
              } else {
                offset += boxSize
                lastGood = offset
              }
            }
          }
      }
    }
    if (!seenFtyp || !seenMoov) return None
    CarveOps.finish(ctx, hit, fileType, extension, hit.globalOffset,
      math.min(lastGood, Scan.maxEnd(hit.globalOffset, maxSize)), minSize,
      validated = !truncated, truncated = truncated, errors = errors,
      eofError = s"eof before $labelUpper end", eofInvalidates = true)
  }
}

final class Mp4Carver(
    val maxSize: Long,
    val minSize: Long,
    val extension: String = "mp4",
    allowQuicktime: Boolean = false) extends BmffCarver {
  override def fileType: String = "mp4"
  override protected def labelUpper: String = "MP4"
  override protected def brandOk(brand: Option[Array[Byte]]): Boolean = brand match {
    case Some(b) if b.sameElements("qt  ".getBytes("ISO-8859-1")) => allowQuicktime
    case _ => true
  }
}

final class MovCarver(val maxSize: Long, val minSize: Long, val extension: String = "mov")
    extends BmffCarver {
  override def fileType: String = "mov"
  override protected def labelUpper: String = "MOV"
  override protected def brandOk(brand: Option[Array[Byte]]): Boolean = brand match {
    case Some(b) => b.sameElements("qt  ".getBytes("ISO-8859-1"))
    case None => false
  }
}
