package graft.carve

import graft.core.CarvedFile
import graft.evidence.EvidenceReader
import java.security.MessageDigest

/** Carve-stage plumbing with exact reference semantics
  * (src/carve/mod.rs:104-351). Every carver plans its extent first — a
  * terminator search, a declared size, an estimate or a structure walk
  * by position — and hands it to [[CarveOps.finish]], the one streamed
  * copy with incremental MD5/SHA-256, EOF tolerance, min_size drop and
  * CarvedFile assembly. Error strings match the reference's thiserror
  * Display forms — they land in the `errors` column.
  */
object CarveErrors {
  val EofMessage = "unexpected eof"
  final class Invalid(val msg: String) extends Exception(msg)
  final class Truncated extends Exception("truncated output")
  final class Eof extends Exception(EofMessage)
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

  /** The one carve tail: stream [start, end) to the payload under the
    * record's final path through one reused buffer (reference
    * write_range, src/carve/mod.rs:315-351), hashing as it goes; drop the
    * carve under minSize; build the record. When the evidence ends before
    * `end` the carve is truncated, `eofError` (if any) is appended to
    * `errors`, and with `eofInvalidates` it is no longer validated.
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
    // the copy never passes `end`, so an extent under minSize is dropped unread
    if (end - start < minSize) return None
    val relPath = Naming.relPath(fileType, extension, start)
    val md5 = MessageDigest.getInstance("MD5")
    val sha256 = MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](Scan.BufSize)
    // the sink reads buf[0, n) during the call (ExtractionContext)
    val reached = ctx.evidence.foreachBlock(start, end, buf) { n =>
      md5.update(buf, 0, n)
      sha256.update(buf, 0, n)
      ctx.payloadSink.foreach(_(relPath, buf, n))
    }
    val size = reached - start
    val whole = reached >= end
    if (size < minSize) None
    else Some(carvedFile(ctx, fileType, extension, start, size, Hex.lower(md5.digest()),
      Hex.lower(sha256.digest()),
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
