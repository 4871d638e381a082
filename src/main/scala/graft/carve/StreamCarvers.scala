package graft.carve

import graft.core.CarvedFile
import graft.sqlite.SqliteFormat

/** Structure walkers' view of the evidence: a position that moves through
  * headers and bodies without copying them (reference CarveStream,
  * src/carve/mod.rs:240-313, minus the copy). `read(n)` returns the next
  * `n` header bytes; `skip(n)` moves past a body unread. Each call checks
  * max_size first — fails Truncated, staying put — then the evidence
  * end — fails Eof, moving to the end it asked for, so the copy in
  * [[CarveOps.finish]] meets the evidence end and carves up to it.
  */
final class WalkCursor(val context: ExtractionContext, start: Long, maxSize: Long) {
  private var at = start

  def pos: Long = at

  def read(n: Int): Array[Byte] = {
    claim(n)
    val bytes = new Array[Byte](n)
    val got = context.evidence.readFully(at, bytes, 0, n)
    at += n
    if (got < n) throw new CarveErrors.Eof
    bytes
  }

  def skip(n: Long): Unit = {
    claim(n)
    at += n
    if (at > context.evidence.length) throw new CarveErrors.Eof
  }

  /** Move to where a [[Scan.search]] from here stopped. A stop at the
    * evidence end or at max_size fails as a one-byte read there would.
    */
  def moveTo(stop: Scan.Stop): Unit = {
    skip(stop.at - at)
    if (!stop.isInstanceOf[Scan.Found]) skip(1)
  }

  private def claim(n: Long): Unit =
    if (maxSize > 0 && at - start + n > maxSize) throw new CarveErrors.Truncated
}

/** Structure-walking validators: the carver walks the structure by
  * position through a [[WalkCursor]] until it proves the end, then hands
  * the extent to [[CarveOps.finish]]. On Truncated the carve ends where
  * the walk stood, on Eof at the evidence end, both with truncated=true;
  * on Invalid the hit is silently dropped. Some carvers add a post-hoc
  * "max_size reached" flag when the carve filled maxSize exactly
  * (reference: sqlite.rs/webp.rs/wav.rs/avi.rs do, png.rs/gif.rs don't).
  */
abstract class StreamCarver extends CarveHandler {
  def maxSize: Long
  def minSize: Long

  /** Walk the structure; set validated via return. Throws CarveErrors. */
  protected def walk(cursor: WalkCursor, hit: CarveHit): Boolean

  /** Whether to flag size >= maxSize after a successful walk. */
  protected def postMaxCheck: Boolean = true

  /** Drop hits that finish the walk unvalidated (mp3's sync-word rule). */
  protected def rejectUnvalidated: Boolean = false

  override def processHit(hit: CarveHit, ctx: ExtractionContext): Option[CarvedFile] = {
    val cursor = new WalkCursor(ctx, hit.globalOffset, maxSize)
    var validated = false
    var truncated = false
    var errors = Vector.empty[String]
    try validated = walk(cursor, hit)
    catch {
      case e: CarveErrors.Truncated => truncated = true; errors :+= e.getMessage
      case _: CarveErrors.Eof => truncated = true // finish records it at the evidence end
      case _: CarveErrors.Invalid => return None
    }
    if (rejectUnvalidated && !validated && !truncated) return None
    CarveOps.finish(ctx, hit, fileType, extension, hit.globalOffset, cursor.pos, minSize,
      validated, truncated, errors, eofError = CarveErrors.EofMessage, eofInvalidates = true)
      .map { c =>
        if (!postMaxCheck || maxSize <= 0 || c.size < maxSize) c
        else c.copy(truncated = true,
          errors = if (c.errors.exists(_.contains("max_size"))) c.errors else c.errors :+ "max_size reached")
      }
  }
}

/** SQLite main file: exact size = page_size × page_count from the 100-byte
  * header (reference src/carve/sqlite.rs:35-144), read by the same header
  * rule as the table reader and the page-recovery scan
  * ([[graft.sqlite.SqliteFormat.header]]).
  */
final class SqliteCarver(val maxSize: Long, val minSize: Long, val extension: String = "sqlite")
    extends StreamCarver {
  override def fileType: String = "sqlite"

  override protected def walk(cursor: WalkCursor, hit: CarveHit): Boolean = {
    val header = SqliteFormat.header(cursor.read(SqliteFormat.HeaderLen))
      .getOrElse(throw new CarveErrors.Invalid("sqlite header invalid"))
    val pageSize = header.pageSize.toLong
    val totalSize = if (header.declaredPages == 0) pageSize else pageSize * header.declaredPages
    cursor.skip(math.min(totalSize, if (maxSize > 0) maxSize else totalSize) - SqliteFormat.HeaderLen)
    true
  }
}

/** Shared RIFF-declared-size carver for WAV, AVI and WebP (reference
  * src/carve/riff.rs, webp.rs): total = le_u32@4 + 8; form type at
  * bytes 8-12.
  */
abstract class RiffCarver(form: String) extends StreamCarver {
  private val Riff = "RIFF".getBytes("ISO-8859-1")
  private val Form = form.getBytes("ISO-8859-1")

  override protected def walk(cursor: WalkCursor, hit: CarveHit): Boolean = {
    val header = cursor.read(12)
    if (!header.take(4).sameElements(Riff))
      throw new CarveErrors.Invalid("riff magic mismatch")
    if (!header.slice(8, 12).sameElements(Form))
      throw new CarveErrors.Invalid(s"$fileType form type mismatch")
    val totalSize = Bin.leU32(header, 4) + 8
    if (totalSize < 12) throw new CarveErrors.Invalid(s"$fileType size too small")
    cursor.skip(math.min(totalSize, if (maxSize > 0) maxSize else totalSize) - 12)
    true
  }
}

final class WavCarver(val maxSize: Long, val minSize: Long, val extension: String = "wav")
    extends RiffCarver("WAVE") { override def fileType: String = "wav" }

final class AviCarver(val maxSize: Long, val minSize: Long, val extension: String = "avi")
    extends RiffCarver("AVI ") { override def fileType: String = "avi" }

final class WebpCarver(val maxSize: Long, val minSize: Long, val extension: String = "webp")
    extends RiffCarver("WEBP") { override def fileType: String = "webp" }

/** PNG chunk walk to IEND: 4B len + 4B type + data + CRC per chunk
  * (reference src/carve/png.rs:35-125). No post max-size flag.
  */
final class PngCarver(val maxSize: Long, val minSize: Long, val extension: String = "png")
    extends StreamCarver {
  override def fileType: String = "png"
  override protected def postMaxCheck: Boolean = false
  private val Sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  override protected def walk(cursor: WalkCursor, hit: CarveHit): Boolean = {
    if (!cursor.read(8).sameElements(Sig)) throw new CarveErrors.Invalid("png signature mismatch")
    var end = false
    while (!end) {
      val len = Bin.beU32(cursor.read(4), 0)
      end = new String(cursor.read(4), "ISO-8859-1") == "IEND"
      if (maxSize > 0 && len > maxSize) throw new CarveErrors.Truncated
      cursor.skip(len)
      cursor.skip(4) // CRC
    }
    true
  }
}

/** GIF 87a/89a block walk to trailer 0x3B (reference src/carve/gif.rs:36-152). */
final class GifCarver(val maxSize: Long, val minSize: Long, val extension: String = "gif")
    extends StreamCarver {
  override def fileType: String = "gif"
  override protected def postMaxCheck: Boolean = false

  override protected def walk(cursor: WalkCursor, hit: CarveHit): Boolean = {
    val h = new String(cursor.read(6), "ISO-8859-1")
    if (h != "GIF87a" && h != "GIF89a") throw new CarveErrors.Invalid("gif header mismatch")
    skipColorTable(cursor, cursor.read(7)(4))
    while (true) {
      cursor.read(1)(0) & 0xff match {
        case 0x3b => return true
        case 0x21 =>
          cursor.skip(1) // label
          skipSubBlocks(cursor)
        case 0x2c =>
          skipColorTable(cursor, cursor.read(9)(8))
          cursor.skip(1) // LZW min code size
          skipSubBlocks(cursor)
        case _ => throw new CarveErrors.Invalid("gif block id invalid")
      }
    }
    true
  }

  private def skipColorTable(cursor: WalkCursor, packed: Byte): Unit =
    if ((packed & 0x80) != 0) cursor.skip(3L * (1L << ((packed & 0x07) + 1)))

  private def skipSubBlocks(cursor: WalkCursor): Unit = {
    var size = cursor.read(1)(0) & 0xff
    while (size != 0) {
      cursor.skip(size)
      size = cursor.read(1)(0) & 0xff
    }
  }
}

/** Byte-order helpers shared by carvers. */
object Bin {
  def leU16(b: Array[Byte], off: Int): Int = (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  def beU16(b: Array[Byte], off: Int): Int = ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)
  def leU32(b: Array[Byte], off: Int): Long =
    (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) | ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)
  def beU32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) | ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)
  def leU64(b: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = 7
    while (i >= 0) { v = (v << 8) | (b(off + i) & 0xffL); i -= 1 }
    v
  }
  def beU64(b: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (b(off + i) & 0xffL); i += 1 }
    v
  }
  def leI32(b: Array[Byte], off: Int): Int = leU32(b, off).toInt
}
