package graft.carve

import graft.core.CarvedFile
import scala.collection.mutable

/** Carvers that estimate the file end by walking container structures at
  * planning time, then copy the decided extent with [[CarveOps.finish]]:
  * WEBM/MKV EBML, RAR4/RAR5 block chains, TIFF IFD traversal.
  */

/** WEBM/MKV: EBML vint parsing; DocType ∈ {webm, matroska}; size =
  * Segment data start + declared size; unknown-size ⇒ carve to max
  * (reference src/carve/webm.rs:36-162, vints :183-246).
  */
final class WebmCarver(val maxSize: Long, val minSize: Long, val extension: String = "webm")
    extends CarveHandler {
  override def fileType: String = "webm"
  private val EbmlId = 0x1a45dfa3L
  private val SegmentId = 0x18538067L
  private val DocTypeId = 0x4282L

  override def processHit(hit: CarveHit, ctx: ExtractionContext): Option[CarvedFile] = {
    val (ebmlId, ebmlIdLen) = readVintId(ctx, hit.globalOffset).getOrElse(return None)
    if (ebmlId != EbmlId) return None
    val (ebmlSize, ebmlSizeLen, _) =
      readVintSize(ctx, hit.globalOffset + ebmlIdLen).getOrElse(return None)
    val ebmlHeaderStart = hit.globalOffset + ebmlIdLen + ebmlSizeLen
    // EBML headers are tens of bytes; a crafted vint would otherwise
    // drive a negative or multi-GB allocation through .toInt
    if (ebmlSize < 0 || ebmlSize > 4096) return None
    val ebmlHeader = ctx.evidence.readExactAt(ebmlHeaderStart, ebmlSize.toInt).getOrElse(return None)
    val docType = parseDocType(ebmlHeader).getOrElse("")
    if (docType != "webm" && docType != "matroska") return None

    var offset = ebmlHeaderStart + ebmlSize
    var segmentSize: Option[Long] = None
    var segmentStart: Option[Long] = None
    val scanLimit = offset + 1024 * 1024
    var scanning = true
    while (scanning && offset < scanLimit) {
      readVintId(ctx, offset) match {
        case None => scanning = false
        case Some((id, idLen)) =>
          readVintSize(ctx, offset + idLen) match {
            case None => scanning = false
            case Some((size, sizeLen, unknown)) =>
              val dataStart = offset + idLen + sizeLen
              if (id == SegmentId) {
                segmentStart = Some(dataStart)
                if (!unknown) segmentSize = Some(size)
                scanning = false
              } else offset = dataStart + size
          }
      }
    }
    val segStart = segmentStart.getOrElse(return None)
    var totalEnd = segmentSize.map(segStart + _)
      .getOrElse(if (maxSize > 0) hit.globalOffset + maxSize else ctx.evidence.length)
    if (maxSize > 0) totalEnd = math.min(totalEnd, hit.globalOffset + maxSize)

    val cut = maxSize > 0 && totalEnd >= hit.globalOffset + maxSize
    CarveOps.finish(ctx, hit, fileType, extension, hit.globalOffset, totalEnd, minSize,
      validated = !cut && segmentSize.isDefined, truncated = cut, errors = Seq.empty,
      eofInvalidates = true)
  }

  private def parseDocType(buf: Array[Byte]): Option[String] = {
    var idx = 0
    while (idx < buf.length) {
      val (id, idLen) = readVintIdFrom(buf, idx).getOrElse(return None)
      val (size, sizeLen, _) = readVintSizeFrom(buf, idx + idLen).getOrElse(return None)
      val dataStart = idx + idLen + sizeLen
      if (dataStart + size > buf.length) return None
      if (id == DocTypeId)
        return Some(new String(buf, dataStart, size.toInt, "ISO-8859-1").toLowerCase(java.util.Locale.ROOT))
      idx = dataStart + size.toInt
    }
    None
  }

  private def vintLen(first: Int): Int = 1 + Integer.numberOfLeadingZeros(first) - 24

  private def readVintId(ctx: ExtractionContext, offset: Long): Option[(Long, Int)] = {
    val first = ctx.evidence.readExactAt(offset, 1).getOrElse(return None)(0) & 0xff
    val len = vintLen(first)
    if (len <= 0 || len > 8) return None
    val bytes = ctx.evidence.readExactAt(offset, len).getOrElse(return None)
    var value = 0L
    bytes.foreach(b => value = (value << 8) | (b & 0xffL))
    Some((value, len))
  }

  private def readVintSize(ctx: ExtractionContext, offset: Long): Option[(Long, Int, Boolean)] = {
    val first = ctx.evidence.readExactAt(offset, 1).getOrElse(return None)(0) & 0xff
    val len = vintLen(first)
    if (len <= 0 || len > 8) return None
    val mask = 1 << (8 - len)
    var value = (first & (mask - 1)).toLong
    if (len > 1) {
      val rest = ctx.evidence.readExactAt(offset + 1, len - 1).getOrElse(return None)
      rest.foreach(b => value = (value << 8) | (b & 0xffL))
    }
    val unknown = value == (1L << (7 * len)) - 1
    Some((value, len, unknown))
  }

  private def readVintIdFrom(buf: Array[Byte], offset: Int): Option[(Long, Int)] = {
    if (offset >= buf.length) return None
    val first = buf(offset) & 0xff
    val len = vintLen(first)
    if (len <= 0 || len > 8 || offset + len > buf.length) return None
    var value = 0L
    (offset until offset + len).foreach(i => value = (value << 8) | (buf(i) & 0xffL))
    Some((value, len))
  }

  private def readVintSizeFrom(buf: Array[Byte], offset: Int): Option[(Long, Int, Boolean)] = {
    if (offset >= buf.length) return None
    val first = buf(offset) & 0xff
    val len = vintLen(first)
    if (len <= 0 || len > 8 || offset + len > buf.length) return None
    val mask = 1 << (8 - len)
    var value = (first & (mask - 1)).toLong
    (offset + 1 until offset + len).foreach(i => value = (value << 8) | (buf(i) & 0xffL))
    val unknown = value == (1L << (7 * len)) - 1
    Some((value, len, unknown))
  }
}

/** RAR: v4 7-byte block headers (file blocks add pack_size, +high 32 bits
  * on flag 0x100; end block 0x7B); v5 CRC+varint header walk until end
  * block type 5 (reference src/carve/rar.rs).
  */
final class RarCarver(val maxSize: Long, val minSize: Long, val extension: String = "rar")
    extends CarveHandler {
  override def fileType: String = "rar"
  private val Rar4Magic = Hex.decode("526172211A0700")
  private val Rar5Magic = Hex.decode("526172211A070100")
  private val EofError = "eof before RAR end"

  override def processHit(hit: CarveHit, ctx: ExtractionContext): Option[CarvedFile] = {
    val errors = mutable.ArrayBuffer.empty[String]
    val estimate =
      try estimateEnd(ctx, hit.globalOffset, errors)
      catch { case _: CarveErrors.Invalid | _: CarveErrors.Eof => return None }
    // a block that runs past the evidence end was already recorded by the walk
    CarveOps.finish(ctx, hit, fileType, extension, hit.globalOffset, hit.globalOffset + estimate._1,
      minSize, validated = !estimate._2, truncated = estimate._2, errors = errors.toSeq,
      eofError = if (errors.contains(EofError)) "" else EofError, eofInvalidates = true)
  }

  /** (endRelative, truncated) */
  private def estimateEnd(ctx: ExtractionContext, start: Long, errors: mutable.ArrayBuffer[String]): (Long, Boolean) = {
    val sig = ctx.evidence.readExactAt(start, 8).getOrElse(throw new CarveErrors.Eof)
    if (sig.take(7).sameElements(Rar4Magic)) parseRar4(ctx, start, errors)
    else if (sig.sameElements(Rar5Magic)) parseRar5(ctx, start, errors)
    else throw new CarveErrors.Invalid("rar signature mismatch")
  }

  private def parseRar4(ctx: ExtractionContext, start: Long, errors: mutable.ArrayBuffer[String]): (Long, Boolean) = {
    var offset = start + 7
    var truncated = false
    var done = false
    while (!done) {
      if (maxSize > 0 && offset - start >= maxSize) {
        truncated = true; errors += "max_size reached before RAR end"; done = true
      } else ctx.evidence.readExactAt(offset, 7) match {
        case None => truncated = true; errors += EofError; done = true
        case Some(header) =>
          val headType = header(2) & 0xff
          val flags = Bin.leU16(header, 3)
          val headSize = Bin.leU16(header, 5).toLong
          if (headSize < 7) throw new CarveErrors.Invalid("rar header size too small")
          if (maxSize > 0 && (offset - start) + headSize > maxSize) {
            truncated = true; errors += "max_size reached before RAR end"; done = true
          } else if (headType == 0x7b) {
            offset += headSize; done = true
          } else if (headType == 0x74) {
            ctx.evidence.readExactAt(offset + 7, 4) match {
              case None => truncated = true; errors += "eof while reading RAR file header"; done = true
              case Some(ps) =>
                var packSize = Bin.leU32(ps, 0)
                if ((flags & 0x0100) != 0) {
                  if (headSize < 7 + 25 + 4)
                    throw new CarveErrors.Invalid("rar header missing high pack size")
                  ctx.evidence.readExactAt(offset + 7 + 25, 4) match {
                    case None => truncated = true; errors += "eof while reading RAR high pack size"; done = true
                    case Some(hi) => packSize |= Bin.leU32(hi, 0) << 32
                  }
                }
                if (!done) offset += headSize + packSize
            }
          } else offset += headSize
      }
    }
    (offset - start, truncated)
  }

  private def parseRar5(ctx: ExtractionContext, start: Long, errors: mutable.ArrayBuffer[String]): (Long, Boolean) = {
    var offset = start + 8
    var truncated = false
    var done = false
    while (!done) {
      if (maxSize > 0 && offset - start >= maxSize) {
        truncated = true; errors += "max_size reached before RAR end"; done = true
      } else if (ctx.evidence.readExactAt(offset, 4).isEmpty) {
        truncated = true; errors += EofError; done = true
      } else readVarintAt(ctx, offset + 4) match {
        case None => truncated = true; errors += "eof while reading RAR header size"; done = true
        case Some((headerSize, sizeLen)) =>
          if (headerSize == 0 || headerSize > 1024 * 1024)
            throw new CarveErrors.Invalid("rar5 header size invalid")
          ctx.evidence.readExactAt(offset + 4 + sizeLen, headerSize.toInt) match {
            case None => truncated = true; errors += "eof while reading RAR header"; done = true
            case Some(headerBuf) =>
              val idx = Array(0)
              val headerType = readVarintBuf(headerBuf, idx)
                .getOrElse(throw new CarveErrors.Invalid("rar5 header type missing"))
              val flags = readVarintBuf(headerBuf, idx)
                .getOrElse(throw new CarveErrors.Invalid("rar5 header flags missing"))
              if ((flags & 0x01) != 0) readVarintBuf(headerBuf, idx)
              val dataSize = if ((flags & 0x02) != 0) readVarintBuf(headerBuf, idx).getOrElse(0L) else 0L
              val blockTotal = 4L + sizeLen + headerSize + dataSize
              if (maxSize > 0 && (offset - start) + blockTotal > maxSize) {
                truncated = true; errors += "max_size reached before RAR end"; done = true
              } else {
                offset += blockTotal
                if (headerType == 5L) done = true
              }
          }
      }
    }
    (offset - start, truncated)
  }

  private def readVarintAt(ctx: ExtractionContext, offset: Long): Option[(Long, Long)] = {
    var value = 0L
    var shift = 0
    var idx = 0L
    while (idx < 10) {
      val b = ctx.evidence.readExactAt(offset + idx, 1).getOrElse(return None)(0) & 0xff
      value |= (b & 0x7f).toLong << shift
      if ((b & 0x80) == 0) return Some((value, idx + 1))
      shift += 7
      idx += 1
    }
    None
  }

  private def readVarintBuf(buf: Array[Byte], idx: Array[Int]): Option[Long] = {
    var value = 0L
    var shift = 0
    var read = 0
    while (idx(0) < buf.length && read < 10) {
      val b = buf(idx(0)) & 0xff
      idx(0) += 1
      read += 1
      value |= (b & 0x7f).toLong << shift
      if ((b & 0x80) == 0) return Some(value)
      shift += 7
      if (shift > 63) return None
    }
    None
  }
}

/** TIFF: BFS over IFDs (incl. SubIFD/EXIF/GPS tags 330/34665/34853)
  * computing the max extent from entry data offsets and strip/tile
  * offset×count pairs; caps 4096 entries/IFD
  * (reference src/carve/tiff.rs:100-400).
  */
final class TiffCarver(val maxSize: Long, val minSize: Long, val extension: String = "tiff")
    extends CarveHandler {
  override def fileType: String = "tiff"
  private val HeaderLen = 8
  private val MaxArray = 1000000L
  private val MaxDataBytes = 16L * 1024 * 1024

  override def processHit(hit: CarveHit, ctx: ExtractionContext): Option[CarvedFile] = {
    val errors = mutable.ArrayBuffer.empty[String]
    val (endRel, estTruncated) =
      try estimateEnd(ctx, hit.globalOffset, errors)
      catch { case _: CarveErrors.Invalid | _: CarveErrors.Eof => return None }
    if (endRel <= 0) return None
    var totalEnd = hit.globalOffset + endRel
    var truncated = estTruncated
    if (maxSize > 0 && endRel > maxSize) {
      totalEnd = hit.globalOffset + maxSize
      truncated = true
      errors += "max_size reached before TIFF end"
    }
    CarveOps.finish(ctx, hit, fileType, extension, hit.globalOffset, totalEnd, minSize,
      validated = !truncated, truncated = truncated, errors = errors.toSeq,
      eofError = "eof before TIFF end", eofInvalidates = true)
  }

  private def estimateEnd(ctx: ExtractionContext, start: Long, errors: mutable.ArrayBuffer[String]): (Long, Boolean) = {
    val header = ctx.evidence.readExactAt(start, HeaderLen).getOrElse(throw new CarveErrors.Eof)
    val le =
      if (header(0) == 0x49 && header(1) == 0x49 && header(2) == 0x2a && header(3) == 0) true
      else if ((header(0) & 0xff) == 0x4d && (header(1) & 0xff) == 0x4d && header(2) == 0 && header(3) == 0x2a) false
      else throw new CarveErrors.Invalid("tiff signature mismatch")
    def u16(b: Array[Byte], off: Int): Int = if (le) Bin.leU16(b, off) else Bin.beU16(b, off)
    def u32(b: Array[Byte], off: Int): Long = if (le) Bin.leU32(b, off) else Bin.beU32(b, off)

    var maxEnd = HeaderLen.toLong
    var truncated = false
    val queue = mutable.Queue.empty[Long]
    val firstIfd = u32(header, 4)
    if (firstIfd >= HeaderLen) queue += firstIfd
    val seen = mutable.Set.empty[Long]

    def readU32Array(typ: Int, count: Long, valueBytes: Array[Byte], dataLen: Long): Seq[Long] = {
      if (count > MaxArray) throw new CarveErrors.Invalid("tiff array too large")
      val out = mutable.ArrayBuffer.empty[Long]
      if (typ == 3 && dataLen <= 4) {
        var i = 0L
        while (i < count && (i * 2 + 2) <= valueBytes.length) {
          out += u16(valueBytes, (i * 2).toInt).toLong
          i += 1
        }
        return out.toSeq
      }
      if (typ == 4 && dataLen <= 4) return Seq(u32(valueBytes, 0))
      if (typ != 3 && typ != 4) return Seq.empty
      if (dataLen > MaxDataBytes) throw new CarveErrors.Invalid("tiff data too large")
      val abs = start + u32(valueBytes, 0)
      val buf = ctx.evidence.readExactAt(abs, dataLen.toInt).getOrElse(throw new CarveErrors.Eof)
      if (typ == 3) {
        var i = 0
        while (i + 2 <= buf.length && out.length < count) { out += u16(buf, i).toLong; i += 2 }
      } else {
        var i = 0
        while (i + 4 <= buf.length && out.length < count) { out += u32(buf, i); i += 4 }
      }
      out.toSeq
    }

    var aborted = false
    while (!aborted && queue.nonEmpty) {
      val ifdOffset = queue.dequeue()
      if (ifdOffset != 0 && seen.add(ifdOffset)) {
        try {
          val base = start + ifdOffset
          val countBuf = ctx.evidence.readExactAt(base, 2).getOrElse(throw new CarveErrors.Eof)
          val count = u16(countBuf, 0)
          if (count > 4096) throw new CarveErrors.Invalid("tiff IFD entry count too large")
          val entriesLen = count * 12
          val totalLen = 2 + entriesLen + 4
          val ifdBuf = ctx.evidence.readExactAt(base, totalLen).getOrElse(throw new CarveErrors.Eof)
          maxEnd = math.max(maxEnd, ifdOffset + totalLen)

          var stripOffsets: Option[Seq[Long]] = None
          var stripCounts: Option[Seq[Long]] = None
          var tileOffsets: Option[Seq[Long]] = None
          var tileCounts: Option[Seq[Long]] = None

          var i = 0
          while (i < count) {
            val e = 2 + i * 12
            val tag = u16(ifdBuf, e)
            val typ = u16(ifdBuf, e + 2)
            val valueCount = u32(ifdBuf, e + 4)
            if (valueCount != 0) {
              val valueBytes = ifdBuf.slice(e + 8, e + 12)
              val typeSize: Long = typ match {
                case 1 | 2 | 6 | 7 => 1; case 3 | 8 => 2; case 4 | 9 | 11 => 4
                case 5 | 10 | 12 => 8; case _ => 0
              }
              if (typeSize > 0) {
                val dataLen = valueCount * typeSize
                if (dataLen > 4) {
                  val dataOffset = u32(valueBytes, 0)
                  maxEnd = math.max(maxEnd, dataOffset + dataLen)
                }
                if (tag == 330 || tag == 34665 || tag == 34853) {
                  readU32Array(typ, valueCount, valueBytes, dataLen)
                    .filter(_ >= HeaderLen).foreach(queue += _)
                } else if (tag == 273) stripOffsets = Some(readU32Array(typ, valueCount, valueBytes, dataLen))
                else if (tag == 279) stripCounts = Some(readU32Array(typ, valueCount, valueBytes, dataLen))
                else if (tag == 324) tileOffsets = Some(readU32Array(typ, valueCount, valueBytes, dataLen))
                else if (tag == 325) tileCounts = Some(readU32Array(typ, valueCount, valueBytes, dataLen))
              }
            }
            i += 1
          }

          val nextIfd = u32(ifdBuf, 2 + entriesLen)
          if (nextIfd > 0) queue += nextIfd

          def updateMax(offsets: Seq[Long], counts: Seq[Long]): Unit =
            offsets.zip(counts).foreach { case (o, c) => maxEnd = math.max(maxEnd, o + c) }
          (stripOffsets, stripCounts) match {
            case (Some(o), Some(c)) => updateMax(o, c); case _ => ()
          }
          (tileOffsets, tileCounts) match {
            case (Some(o), Some(c)) => updateMax(o, c); case _ => ()
          }
        } catch {
          case _: CarveErrors.Eof =>
            truncated = true; errors += "eof while reading TIFF IFD"; aborted = true
          case e: CarveErrors.Invalid =>
            errors += e.getMessage; truncated = true; aborted = true
        }
      }
    }
    (maxEnd, truncated)
  }
}
