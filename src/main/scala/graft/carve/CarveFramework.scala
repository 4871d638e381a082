package graft.carve

import graft.core.CarvedFile
import graft.evidence.EvidenceReader
import java.security.MessageDigest

/** Carve-stage plumbing with exact reference semantics
  * (src/carve/mod.rs:104-351). Every carver ends in one of two tails:
  * the structure walkers stream through a [[CarveStream]]; every other
  * carver decides its extent first and hands it to [[CarveOps.finish]],
  * the one streamed copy with incremental MD5/SHA-256, EOF tolerance,
  * min_size drop and CarvedFile assembly. Error strings match the
  * reference's thiserror Display forms — they land in the `errors` column.
  */
object CarveErrors {
  final class Invalid(val msg: String) extends Exception(msg)
  final class Truncated extends Exception("truncated output")
  final class Eof extends Exception("unexpected eof")
}

/** Per-task context: evidence handle + run metadata. `payloadSink`, when
  * set, receives carved bytes keyed by relative path (local dir or object
  * storage adapter); metadata-only runs pass None — hashing happens
  * regardless. A sink call `(relPath, bytes, len)` carries bytes[0, len);
  * the array is the carver's reused read buffer and is valid only during
  * the call, so a sink writes or copies it before returning.
  */
final case class ExtractionContext(
    runId: String,
    evidence: EvidenceReader,
    payloadSink: Option[(String, Array[Byte], Int) => Unit] = None)

/** A hit normalized to the global byte space, with string ids as the
  * reference carries them (scanner/mod.rs:17-22).
  */
final case class CarveHit(globalOffset: Long, fileTypeId: String, patternId: String)

trait CarveHandler extends Serializable {
  def fileType: String
  def extension: String
  def processHit(hit: CarveHit, ctx: ExtractionContext): Option[CarvedFile]
}

/** Sequential read-and-hash stream over the evidence
  * (reference CarveStream, src/carve/mod.rs:240-313): readExact fails
  * Truncated when the *request* would cross maxSize, Eof on evidence end;
  * everything read is hashed and counted.
  */
final class CarveStream(
    ctx: ExtractionContext,
    relPath: String,
    startOffset: Long,
    maxSize: Long) {
  private var offset = startOffset
  private var written0 = 0L
  private val md5 = MessageDigest.getInstance("MD5")
  private val sha256 = MessageDigest.getInstance("SHA-256")

  def written: Long = written0
  def context: ExtractionContext = ctx

  def readExact(len: Int): Array[Byte] = {
    // a negative length here is a Long size field wrapped by .toInt — an
    // evidence-controlled value; drop the hit (Invalid) instead of
    // letting new Array[Byte](-n) kill the task uncaught
    if (len < 0) throw new CarveErrors.Invalid(s"negative read length $len (size overflow)")
    if (maxSize > 0 && written0 + len > maxSize) throw new CarveErrors.Truncated
    val buf = new Array[Byte](len)
    var read = 0
    while (read < len) {
      val n = ctx.evidence.readAt(offset, buf, read, len - read)
      if (n == 0) throw new CarveErrors.Eof
      writeBytes(buf, read, n)
      read += n
    }
    buf
  }

  /** Copy the evidence forward to `end` through one reused buffer
    * (reference write_range, src/carve/mod.rs:315-351); false when the
    * evidence ends first. A short read is not the end — an E01 reader
    * serves one chunk per call — only a read of 0 bytes is.
    */
  def copyTo(end: Long): Boolean = {
    val buf = new Array[Byte](Scan.BufSize)
    while (offset < end) {
      val n = ctx.evidence.readAt(offset, buf, 0, math.min(end - offset, Scan.BufSize.toLong).toInt)
      if (n == 0) return false
      writeBytes(buf, 0, n)
    }
    true
  }

  def writeBytes(buf: Array[Byte], off: Int, len: Int): Unit = {
    if (maxSize > 0 && written0 + len > maxSize) throw new CarveErrors.Truncated
    md5.update(buf, off, len)
    sha256.update(buf, off, len)
    // the sink reads bytes[0, len) during the call (ExtractionContext), so
    // only a block that does not start the buffer is copied
    ctx.payloadSink.foreach(sink =>
      sink(relPath, if (off == 0) buf else java.util.Arrays.copyOfRange(buf, off, off + len), len))
    offset += len
    written0 += len
  }

  def finish(): (Long, String, String) =
    (written0, Hex.lower(md5.digest()), Hex.lower(sha256.digest()))
}

object Hex {
  private val digits = "0123456789abcdef".toCharArray
  def lower(bytes: Array[Byte]): String = {
    val sb = new StringBuilder(bytes.length * 2)
    bytes.foreach { b => sb.append(digits((b >> 4) & 0xf)).append(digits(b & 0xf)) }
    sb.toString
  }

  def decode(hex: String): Array[Byte] = {
    require(hex.length % 2 == 0, s"odd hex length: $hex")
    hex.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray
  }
}

object CarveOps {

  /** The one carve tail of every carver that decides its extent before
    * copying: stream [start, end) to the payload under the record's final
    * path, hashing as it goes; drop the carve under minSize; build the
    * record. When the evidence ends before `end` the carve is truncated,
    * `eofError` (if any) is appended to `errors`, and with
    * `eofInvalidates` it is no longer validated.
    */
  def finish(
      ctx: ExtractionContext,
      hit: CarveHit,
      fileType: String,
      extension: String,
      start: Long,
      end: Long,
      minSize: Long,
      validated: Boolean,
      truncated: Boolean,
      errors: Seq[String],
      eofError: String = "",
      eofInvalidates: Boolean = false): Option[CarvedFile] = {
    val stream = new CarveStream(ctx, Naming.relPath(fileType, extension, start), start, 0L)
    val whole = stream.copyTo(end)
    val (size, md5Hex, sha256Hex) = stream.finish()
    if (size < minSize) None
    else Some(carvedFile(ctx, fileType, extension, start, size, md5Hex, sha256Hex,
      validated = validated && (whole || !eofInvalidates),
      truncated = truncated || !whole,
      errors = if (whole || eofError.isEmpty) errors else errors :+ eofError,
      patternId = hit.patternId))
  }

  def globalEnd(globalStart: Long, size: Long): Long =
    if (size == 0) globalStart else globalStart + size - 1

  /** Assemble the final record (reference build_carved_file). */
  def carvedFile(
      ctx: ExtractionContext,
      fileType: String,
      extension: String,
      globalStart: Long,
      size: Long,
      md5Hex: String,
      sha256Hex: String,
      validated: Boolean,
      truncated: Boolean,
      errors: Seq[String],
      patternId: String): CarvedFile =
    CarvedFile(
      runId = ctx.runId,
      fileType = fileType,
      path = Naming.relPath(fileType, extension, globalStart),
      extension = extension,
      globalStart = globalStart,
      globalEnd = globalEnd(globalStart, size),
      size = size,
      md5 = md5Hex,
      sha256 = sha256Hex,
      validated = validated,
      truncated = truncated,
      errors = errors,
      patternId = patternId)
}

/** Shared shape for declared-size carvers: validate the header, compute a
  * target end, then [[CarveOps.finish]] with `validated = !truncated`
  * (the 7z/lrf/elf/wmv/mobi/bmp/ico family).
  */
abstract class RangeCarver extends CarveHandler {
  def maxSize: Long
  def minSize: Long

  /** Parse headers; None ⇒ silently drop the hit. Returns
    * (carveStart, targetEnd, preErrors, preTruncated).
    */
  def plan(hit: CarveHit, ctx: ExtractionContext): Option[(Long, Long, Seq[String], Boolean)]

  /** Error to record when the evidence ends before targetEnd ("" = none). */
  def eofError: String = ""

  override def processHit(hit: CarveHit, ctx: ExtractionContext): Option[CarvedFile] = {
    val planned =
      try plan(hit, ctx)
      catch { case _: CarveErrors.Invalid => None }
    planned.flatMap { case (start, targetEnd, preErrors, preTruncated) =>
      val end = if (maxSize > 0) math.min(targetEnd, start + maxSize) else targetEnd
      CarveOps.finish(ctx, hit, fileType, extension, start, end, minSize,
        validated = !preTruncated, truncated = preTruncated, errors = preErrors,
        eofError = eofError, eofInvalidates = true)
    }
  }
}
