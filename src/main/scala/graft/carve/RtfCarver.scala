package graft.carve

/** RTF: `{\rtf` then a brace-depth counter with control-word and `\binN`
  * raw-byte skipping; end at depth 0 (reference src/carve/rtf.rs:37-127).
  * The count runs as one [[Scan.search]] over the evidence after the
  * header, each byte seen once; the walk then moves to where it stopped
  * and [[CarveOps.finish]] copies the extent. The byte after `\binN`
  * digits counts as the first raw byte — ported verbatim, including that
  * quirk.
  */
final class RtfCarver(val maxSize: Long, val minSize: Long, val extension: String = "rtf")
    extends StreamCarver {
  override def fileType: String = "rtf"

  override protected def walk(cursor: WalkCursor, hit: CarveHit): Boolean = {
    val header = cursor.read(5)
    if (!(header(0) == '{'.toByte && header(1) == '\\'.toByte && header(2) == 'r'.toByte &&
        header(3) == 't'.toByte && header(4) == 'f'.toByte))
      throw new CarveErrors.Invalid("rtf header mismatch")

    var depth = 1
    var inControl = false
    val controlBuf = new StringBuilder
    var binLen = 0L
    val stop = Scan.search(cursor.context, cursor.pos, Scan.maxEnd(hit.globalOffset, maxSize), 0) {
      (window, len, windowStart) =>
        var end = -1L
        var i = 0
        while (end < 0 && i < len) {
          val byte = window(i) & 0xff
          var consumed = true
          if (binLen > 0) {
            val raw = math.min(binLen, (len - i).toLong)
            binLen -= raw
            i += raw.toInt - 1
          } else if (inControl) {
            if (controlBuf.isEmpty && (byte == '{'.toInt || byte == '}'.toInt || byte == '\\'.toInt)) {
              inControl = false
            } else if ((byte >= 'a'.toInt && byte <= 'z'.toInt) || (byte >= 'A'.toInt && byte <= 'Z'.toInt)) {
              controlBuf.append(byte.toChar)
            } else if (controlBuf.toString == "bin" && byte >= '0'.toInt && byte <= '9'.toInt) {
              binLen = binLen * 10 + (byte - '0'.toInt)
            } else {
              // the delimiter ends the control word and is read again
              inControl = false
              controlBuf.clear()
              consumed = false
            }
          } else if (byte == '\\'.toInt) {
            inControl = true
            controlBuf.clear()
            binLen = 0
          } else if (byte == '{'.toInt) {
            depth += 1
          } else if (byte == '}'.toInt) {
            depth -= 1
            if (depth <= 0) end = windowStart + i + 1
          }
          if (consumed) i += 1
        }
        end
    }
    cursor.moveTo(stop)
    true
  }
}
