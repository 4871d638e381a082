package graft.sqlite

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

/** The SQLite main-file format (file format 3), decoded in one place:
  * the 100-byte header, big-endian varints, table b-tree pages (interior
  * 0x05, leaf 0x0D), the local-payload rule with its overflow chain, and
  * serial-type records. Three consumers read through it:
  * [[graft.carve.SqliteCarver]] sizes a database from its [[Header]];
  * [[SqliteFile]] walks table b-trees and takes a record only when it
  * decoded whole; [[SqlitePages]] visits every leaf page by position and
  * keeps whatever decoded.
  *
  * Every read is bounds-checked against the image, and decoding never
  * throws: a cell comes back as a [[Record]] holding the fields it
  * decoded and a [[Status]] saying how the decode ended, so each consumer
  * decides what a short record means. A payload buffer is never larger
  * than the image, since no overflow chain can supply more.
  */
object SqliteFormat {
  val Magic: Array[Byte] = "SQLite format 3\u0000".getBytes(ISO_8859_1)
  val HeaderLen = 100
  val LeafTable = 0x0d
  val InteriorTable = 0x05

  /** `declaredPages` is the in-header database size (bytes 28-31); old
    * writers and zeroed headers leave it 0.
    */
  final case class Header(pageSize: Int, usableSize: Int, declaredPages: Long)

  /** The header rule: the magic, then a page size that is a power of two
    * in 512..65536 (stored as 1 for 65536). None for anything else.
    */
  def header(b: Array[Byte]): Option[Header] =
    if (b.length < HeaderLen || !java.util.Arrays.equals(b, 0, Magic.length, Magic, 0, Magic.length)) None
    else {
      val raw = u16(b, 16)
      val pageSize = if (raw == 1) 65536 else raw
      if (pageSize < 512 || (pageSize & (pageSize - 1)) != 0) None
      else Some(Header(pageSize, pageSize - (b(20) & 0xff), u32(b, 28)))
    }

  def image(data: Array[Byte]): Option[Image] = header(data).map(new Image(data, _))

  /** How a cell's decode ended. */
  sealed abstract class Status(val message: String)
  case object Complete extends Status("complete")
  /** The cell, or the cell-pointer array, is malformed or runs past its page. */
  case object BadCell extends Status("cell malformed or past its page")
  /** The overflow chain ended before the declared payload length. */
  case object ChainCut extends Status("overflow chain truncated")
  /** Field `field` runs past the payload (field 0 also stands for the
    * record header); the fields before it decoded.
    */
  final case class Overrun(field: Int) extends Status(s"record truncated at field $field")
  /** Field `field` has a reserved serial type (10, 11 or negative), read as NULL. */
  final case class Reserved(field: Int) extends Status(s"serial type of field $field unsupported")

  /** One table-leaf cell: its rowid and its record's fields `0 until size`
    * (all of them, or those before an [[Overrun]]). Fields decode on
    * demand from `buf`, where field k spans `[ends(k), ends(k + 1))`.
    */
  final class Record private[SqliteFormat] (val rowid: Long, val status: Status, val size: Int,
      buf: Array[Byte], serials: Array[Long], ends: Array[Int]) {
    /** Body bytes of field k. */
    def length(k: Int): Int = ends(k + 1) - ends(k)

    def value(k: Int): SqlValue = {
      val at = ends(k)
      serials(k) match {
        case t if t >= 13 && t % 2 == 1 => SqlText(new String(buf, at, length(k), UTF_8))
        case t if t >= 12 => SqlBlob(java.util.Arrays.copyOfRange(buf, at, ends(k + 1)))
        case 7 => SqlReal(java.lang.Double.longBitsToDouble(signed(at, 8)))
        case 8 => SqlInt(0)
        case 9 => SqlInt(1)
        case t if t >= 1 && t <= 6 => SqlInt(signed(at, length(k)))
        case _ => SqlNull
      }
    }

    def values: IndexedSeq[SqlValue] = IndexedSeq.tabulate(size)(value)

    private def signed(at: Int, n: Int): Long = {
      var v = if (buf(at) < 0) -1L else 0L
      var i = 0
      while (i < n) { v = (v << 8) | (buf(at + i) & 0xff); i += 1 }
      v
    }
  }

  private val NoRecord = new Record(0L, BadCell, 0, Array.emptyByteArray, Array.emptyLongArray, Array(0))

  /** A database image read through its header. Pages are numbered from 1;
    * `pageCount` counts the whole pages present, capped by a non-zero
    * declared count, and bounds the b-tree walk and the overflow chains.
    */
  final class Image(data: Array[Byte], val header: Header) {
    import header.{pageSize, usableSize}

    val pageCount: Long = {
      val whole = (data.length / pageSize).toLong
      if (header.declaredPages > 0) math.min(header.declaredPages, whole) else whole
    }

    /** Pages holding at least one byte; the last may be cut short. */
    val pagesPresent: Long = (data.length + pageSize - 1L) / pageSize

    private def start(page: Long): Int = ((page - 1) * pageSize).toInt
    private def end(page: Long): Int = math.min(start(page).toLong + pageSize, data.length).toInt
    private def btreeHeader(page: Long): Int = start(page) + (if (page == 1) HeaderLen else 0)

    /** The b-tree flag of `page`, or -1 when the page is absent or ends
      * before an 8-byte page header.
      */
    def pageType(page: Long): Int =
      if (page < 1 || page > pagesPresent || btreeHeader(page) + 8 > end(page)) -1
      else data(btreeHeader(page)) & 0xff

    /** Child page numbers of the table-interior `page`, the right-most
      * last; None when a pointer runs past the page.
      */
    def children(page: Long): Option[Array[Long]] = {
      val hdr = btreeHeader(page)
      val cells = if (hdr + 12 <= end(page)) u16(data, hdr + 3) else return None
      if (hdr + 12 + 2 * cells > end(page)) return None
      val out = new Array[Long](cells + 1)
      var c = 0
      while (c < cells) {
        val cell = start(page) + u16(data, hdr + 12 + 2 * c)
        if (cell + 4 > end(page)) return None
        out(c) = u32(data, cell)
        c += 1
      }
      out(cells) = u32(data, hdr + 8)
      Some(out)
    }

    /** Each cell of the table-leaf `page` (see [[pageType]]) as a
      * [[Record]], in cell-pointer order. A pointer array that runs past
      * the page ends the walk with one [[BadCell]] record.
      */
    def leafRecords(page: Long)(each: Record => Unit): Unit = {
      val hdr = btreeHeader(page)
      val pageEnd = end(page)
      val cells = u16(data, hdr + 3)
      var c = 0
      while (c < cells) {
        val ptr = hdr + 8 + 2 * c
        if (ptr + 2 > pageEnd) { each(NoRecord); return }
        val cell = start(page) + u16(data, ptr)
        each(if (cell < pageEnd) leafCell(cell, pageEnd) else NoRecord)
        c += 1
      }
    }

    private val maxLocal = usableSize - 35
    private val minLocal = (usableSize - 12) * 32 / 255 - 23

    /** Payload bytes stored in the cell itself; the rest spills to overflow pages. */
    private def localLength(payload: Long): Int =
      if (payload <= maxLocal) payload.toInt
      else {
        val k = minLocal + ((payload - minLocal) % (usableSize - 4)).toInt
        if (k > maxLocal) minLocal else k
      }

    private def leafCell(cell: Int, pageEnd: Int): Record = {
      val (declared, n1) = varint(data, cell, pageEnd)
      if (n1 == 0 || declared < 0) return NoRecord
      val (rowid, n2) = varint(data, cell + n1, pageEnd)
      val at = cell + n1 + n2
      val local = localLength(declared)
      if (n2 == 0 || at + local > pageEnd) return NoRecord
      if (declared == local) return record(rowid, data, at, at + local, whole = true)
      // no chain supplies more than the image holds
      val buf = new Array[Byte](math.min(declared, data.length.toLong).toInt)
      System.arraycopy(data, at, buf, 0, local)
      var got = local
      var next = if (at + local + 4 <= pageEnd) u32(data, at + local) else 0L
      while (got < buf.length && next >= 1 && next <= pageCount) {
        val base = start(next)
        val take = math.min(usableSize - 4, buf.length - got)
        System.arraycopy(data, base + 4, buf, got, take)
        got += take
        next = u32(data, base)
      }
      record(rowid, buf, 0, got, whole = got == declared)
    }
  }

  /** Body bytes of serial type `t`; -1 for the reserved types. */
  private def fieldLength(t: Long): Long =
    if (t >= 12) (t - 12) / 2
    else if (t == 10 || t == 11 || t < 0) -1
    else if (t == 5) 6
    else if (t == 6 || t == 7) 8
    else if (t >= 8) 0
    else t

  /** Decode the record in `buf[from, until)`: header varints, serial
    * types, field bounds.
    */
  private def record(rowid: Long, buf: Array[Byte], from: Int, until: Int, whole: Boolean): Record = {
    def headerOverrun = new Record(rowid, Overrun(0), 0, buf, Array.emptyLongArray, Array(from))
    val (headerLen, n) = varint(buf, from, until)
    if (n == 0 || headerLen < n || headerLen > until - from) return headerOverrun
    val headerEnd = from + headerLen.toInt
    val serials = new Array[Long](headerEnd - from - n)
    var count = 0
    var pos = from + n
    while (pos < headerEnd) {
      val (t, len) = varint(buf, pos, until)
      if (len == 0) return headerOverrun
      serials(count) = t
      count += 1
      pos += len
    }
    val ends = new Array[Int](count + 1)
    var status: Status = if (whole) Complete else ChainCut
    var body = headerEnd
    var k = 0
    while (k < count) {
      ends(k) = body
      val len = fieldLength(serials(k))
      if (len > until - body) return new Record(rowid, Overrun(k), k, buf, serials, ends)
      if (len < 0) { if (status == Complete) status = Reserved(k) }
      else body += len.toInt
      k += 1
    }
    ends(count) = body
    new Record(rowid, status, count, buf, serials, ends)
  }

  /** The big-endian varint (1-9 bytes) at `off` as (value, length); length
    * 0 when it would read at or past `end`.
    */
  private def varint(b: Array[Byte], off: Int, end: Int): (Long, Int) = {
    var v = 0L
    var i = 0
    while (i < 8) {
      if (off + i >= end) return (0L, 0)
      val x = b(off + i)
      v = (v << 7) | (x & 0x7f)
      if (x >= 0) return (v, i + 1)
      i += 1
    }
    if (off + 8 >= end) (0L, 0) else ((v << 8) | (b(off + 8) & 0xff), 9)
  }

  private def u16(b: Array[Byte], off: Int): Int = ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)

  private def u32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) | ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)
}
