package graft.scan

import graft.core.{StringFlags, StringSpan}
import scala.collection.mutable.ArrayBuffer

/** Printable-string span scanner — ASCII, UTF-8, UTF-16LE/BE runs with
  * hint flags (semantics: reference src/strings/cpu.rs:42-231 — runs of
  * `\t` | 0x20-0x7E, min length 6, runs longer than maxLen split into
  * maxLen pieces; UTF-8 runs only emitted when they contain a multibyte
  * char; UTF-16 runs tried at both phase offsets; URL/EMAIL/PHONE hint
  * flags from span content).
  *
  * Pure Scala over byte arrays; the Spark surface is a flatMap over chunk
  * rows (one pass per chunk, fused with signature scan in the pipeline).
  */
final class StringScan(minLen: Int, maxLenIn: Int, scanUtf16: Boolean) extends Serializable {
  private val maxLen = if (maxLenIn == 0) Int.MaxValue else maxLenIn

  @inline private def isPrintable(b: Byte): Boolean = {
    val v = b & 0xff
    v == '\t'.toInt || (v >= 0x20 && v <= 0x7e)
  }

  def scanChunk(chunkId: Long, data: Array[Byte]): Seq[StringSpan] = scanChunk(chunkId, data, data.length)

  /** Spans within data[0, until): bytes past `until` are never read. */
  def scanChunk(chunkId: Long, data: Array[Byte], until: Int): Seq[StringSpan] = {
    val out = ArrayBuffer.empty[StringSpan]
    scanAsciiRuns(chunkId, data, until, out)
    scanUtf8Runs(chunkId, data, until, out)
    if (scanUtf16) {
      scanUtf16Runs(chunkId, data, until, littleEndian = true, out)
      scanUtf16Runs(chunkId, data, until, littleEndian = false, out)
    }
    out.toSeq
  }

  private def scanAsciiRuns(chunkId: Long, data: Array[Byte], until: Int, out: ArrayBuffer[StringSpan]): Unit = {
    var i = 0
    while (i < until) {
      if (!isPrintable(data(i))) i += 1
      else {
        val start = i
        var len = 0
        var break = false
        while (!break && i < until && isPrintable(data(i))) {
          i += 1; len += 1
          if (len >= maxLen) break = true
        }
        if (len >= minLen)
          out += StringSpan(chunkId, start.toLong, len, spanFlagsAscii(data, start, start + len))
      }
    }
  }

  private def scanUtf8Runs(chunkId: Long, data: Array[Byte], until: Int, out: ArrayBuffer[StringSpan]): Unit = {
    var i = 0
    while (i < until) {
      val dec = decodeUtf8At(data, i, until)
      if (dec == -1L) i += 1
      else {
        val ch0 = (dec >>> 8).toInt
        val size0 = (dec & 0xff).toInt
        if (!isPrintableUnicode(ch0)) i += math.max(size0, 1)
        else {
          val start = i
          var chars = 0
          var end = i
          var hasMultibyte = false
          var j = i
          var break = false
          while (!break && j < until && chars < maxLen) {
            val d = decodeUtf8At(data, j, until)
            if (d == -1L) break = true
            else {
              val ch = (d >>> 8).toInt
              val size = (d & 0xff).toInt
              if (!isPrintableUnicode(ch)) break = true
              else {
                if (size > 1) hasMultibyte = true
                j += size; chars += 1; end = j
              }
            }
          }
          if (chars >= minLen && hasMultibyte) {
            val f = spanFlagsAscii(data, start, end) | StringFlags.Utf8
            out += StringSpan(chunkId, start.toLong, end - start, f)
          }
          if (j > i) i = j else i += 1
        }
      }
    }
  }

  private def scanUtf16Runs(
      chunkId: Long,
      data: Array[Byte],
      until: Int,
      littleEndian: Boolean,
      out: ArrayBuffer[StringSpan]): Unit = {
    var startOffset = 0
    while (startOffset < 2) {
      var i = startOffset
      while (i + 1 < until) {
        val pairOk =
          if (littleEndian) isPrintable(data(i)) && data(i + 1) == 0
          else data(i) == 0 && isPrintable(data(i + 1))
        if (!pairOk) i += 2
        else {
          val runStart = i
          var len = 0
          val ascii = ArrayBuffer.empty[Byte]
          var j = i
          var break = false
          while (!break && j + 1 < until) {
            val ok =
              if (littleEndian) isPrintable(data(j)) && data(j + 1) == 0
              else data(j) == 0 && isPrintable(data(j + 1))
            if (!ok) break = true
            else {
              ascii += (if (littleEndian) data(j) else data(j + 1))
              len += 1
              if (len >= maxLen) break = true else j += 2
            }
          }
          if (len >= minLen) {
            val arr = ascii.toArray
            val f = spanFlagsAscii(arr, 0, arr.length) |
              (if (littleEndian) StringFlags.Utf16Le else StringFlags.Utf16Be)
            out += StringSpan(chunkId, runStart.toLong, len * 2, f)
          }
          i = j + 2
        }
      }
      startOffset += 1
    }
  }

  private def spanFlagsAscii(data: Array[Byte], from: Int, until: Int): Int = {
    var f = 0
    if (containsCI(data, from, until, "http") || containsCI(data, from, until, "www.")) f |= StringFlags.UrlLike
    var hasAt = false
    var digits = 0
    var i = from
    while (i < until) {
      val b = data(i) & 0xff
      if (b == '@'.toInt) hasAt = true
      if (b >= '0'.toInt && b <= '9'.toInt) digits += 1
      i += 1
    }
    if (hasAt) f |= StringFlags.EmailLike
    if (digits >= 10) f |= StringFlags.PhoneLike
    f
  }

  private def containsCI(data: Array[Byte], from: Int, until: Int, needle: String): Boolean = {
    val n = needle.getBytes("ISO-8859-1")
    if (until - from < n.length) return false
    var i = from
    while (i <= until - n.length) {
      var j = 0
      var ok = true
      while (ok && j < n.length) {
        val a = lower(data(i + j))
        if (a != lower(n(j))) ok = false
        j += 1
      }
      if (ok) return true
      i += 1
    }
    false
  }

  @inline private def lower(b: Byte): Int = {
    val v = b & 0xff
    if (v >= 'A'.toInt && v <= 'Z'.toInt) v + 32 else v
  }

  /** Strict incremental UTF-8 decode at idx. Returns (codepoint << 8 | size)
    * or -1 on invalid. Rejects overlongs, surrogates, > U+10FFFF — matching
    * the reference decoder exactly.
    */
  private def decodeUtf8At(data: Array[Byte], idx: Int, len: Int): Long = {
    if (idx >= len) return -1L
    val b0 = data(idx) & 0xff
    if (b0 < 0x80) return (b0.toLong << 8) | 1L
    if (b0 < 0xc2) return -1L
    @inline def cont(b: Int): Boolean = (b & 0xc0) == 0x80
    if (b0 <= 0xdf) {
      if (idx + 1 >= len) return -1L
      val b1 = data(idx + 1) & 0xff
      if (!cont(b1)) return -1L
      val code = ((b0 & 0x1f) << 6) | (b1 & 0x3f)
      ((code.toLong) << 8) | 2L
    } else if (b0 <= 0xef) {
      if (idx + 2 >= len) return -1L
      val b1 = data(idx + 1) & 0xff
      val b2 = data(idx + 2) & 0xff
      if (!cont(b1) || !cont(b2)) return -1L
      if (b0 == 0xe0 && b1 < 0xa0) return -1L
      if (b0 == 0xed && b1 >= 0xa0) return -1L
      val code = ((b0 & 0x0f) << 12) | ((b1 & 0x3f) << 6) | (b2 & 0x3f)
      ((code.toLong) << 8) | 3L
    } else if (b0 <= 0xf4) {
      if (idx + 3 >= len) return -1L
      val b1 = data(idx + 1) & 0xff
      val b2 = data(idx + 2) & 0xff
      val b3 = data(idx + 3) & 0xff
      if (!cont(b1) || !cont(b2) || !cont(b3)) return -1L
      if (b0 == 0xf0 && b1 < 0x90) return -1L
      if (b0 == 0xf4 && b1 >= 0x90) return -1L
      val code = ((b0 & 0x07) << 18) | ((b1 & 0x3f) << 12) | ((b2 & 0x3f) << 6) | (b3 & 0x3f)
      if (code > 0x10ffff) -1L else ((code.toLong) << 8) | 4L
    } else -1L
  }

  private def isPrintableUnicode(cp: Int): Boolean =
    cp == '\t'.toInt || !Character.isISOControl(cp)
}

object StringScan {
  /** Reference defaults: min 6, max 1024, UTF-16 on (config/default.yml:11-12). */
  def default: StringScan = new StringScan(6, 1024, scanUtf16 = true)

  /** Naive UTF-16 span decode (every other byte) — strings/mod.rs:250-259. */
  def decodeUtf16Naive(data: Array[Byte], littleEndian: Boolean): String = {
    val start = if (littleEndian) 0 else 1
    val out = new StringBuilder
    var i = start
    while (i < data.length) {
      out.append((data(i) & 0xff).toChar)
      i += 2
    }
    out.toString
  }
}
