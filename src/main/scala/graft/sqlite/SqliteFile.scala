package graft.sqlite

import scala.collection.mutable

/** One field of a SQLite record, by serial-type class. */
sealed trait SqlValue
case object SqlNull extends SqlValue
final case class SqlInt(value: Long) extends SqlValue
final case class SqlReal(value: Double) extends SqlValue
final case class SqlText(value: String) extends SqlValue
final case class SqlBlob(value: Array[Byte]) extends SqlValue

object SqlValue {
  def asLong(v: SqlValue): Option[Long] = v match {
    case SqlInt(x) => Some(x)
    case SqlReal(x) => Some(x.toLong)
    case _ => None
  }
  def asText(v: SqlValue): Option[String] = v match {
    case SqlText(s) => Some(s)
    case SqlInt(x) => Some(x.toString)
    case SqlReal(x) => Some(x.toString)
    case _ => None
  }
}

final class SqliteParseException(msg: String) extends Exception(msg)

/** Pure-Scala reader for well-formed SQLite main files — the analog of
  * the reference's embedded rusqlite usage (SURVEY §7.4 risk 2): table
  * b-tree scans plus schema introspection, exactly what browser-history
  * extraction needs. No indexes, no WAL, no freelist. The bytes are
  * decoded by [[SqliteFormat]], which the page-recovery scan
  * [[SqlitePages]] shares; this reader is its strict consumer: a
  * header that breaks the format's rule is an IllegalArgumentException,
  * and a table with any cell that did not decode whole is a
  * [[SqliteParseException]].
  */
final class SqliteFile(data: Array[Byte]) {
  private val image = SqliteFormat.image(data)
    .getOrElse(throw new IllegalArgumentException("not a sqlite main file: magic or page size invalid"))

  private val pageCount: Int = image.pageCount.toInt

  /** Walk a table b-tree from its root page; emits (rowid, values). */
  def tableRows(rootPage: Long): Seq[(Long, IndexedSeq[SqlValue])] = {
    val out = mutable.ArrayBuffer.empty[(Long, IndexedSeq[SqlValue])]
    val visited = mutable.Set.empty[Long]

    def walk(page: Long): Unit = {
      if (page < 1 || page > pageCount || !visited.add(page)) return
      image.pageType(page) match {
        case SqliteFormat.LeafTable =>
          image.leafRecords(page) { r =>
            if (r.status != SqliteFormat.Complete)
              throw new SqliteParseException(s"${r.status.message} on page $page")
            out += ((r.rowid, r.values))
          }
        case SqliteFormat.InteriorTable =>
          image.children(page)
            .getOrElse(throw new SqliteParseException(s"interior page $page runs past its end"))
            .foreach(walk)
        case other => throw new SqliteParseException(s"unexpected page flag $other on page $page")
      }
    }
    walk(rootPage)
    out.toSeq
  }

  /** sqlite_master rows: (type, name, tbl_name, rootpage, sql).
    * Memoized — hasTable/readTable/tableColumns all consult it, and a
    * def would re-walk the page-1 b-tree on every call.
    */
  lazy val masterRows: Seq[(String, String, String, Long, String)] =
    tableRows(1L).flatMap { case (_, vals) =>
      if (vals.length < 5) None
      else for {
        typ <- SqlValue.asText(vals(0))
        name <- SqlValue.asText(vals(1))
        tbl <- SqlValue.asText(vals(2))
        root <- SqlValue.asLong(vals(3))
      } yield (typ, name, tbl, root, SqlValue.asText(vals(4)).getOrElse(""))
    }

  def hasTable(name: String): Boolean =
    masterRows.exists(r => r._1 == "table" && r._2.equalsIgnoreCase(name))

  /** Column names (lowercased) parsed from CREATE TABLE, plus the index
    * of the INTEGER PRIMARY KEY column (rowid alias) if any.
    */
  def tableColumns(name: String): (IndexedSeq[String], Int) = {
    val sql = masterRows.find(r => r._1 == "table" && r._2.equalsIgnoreCase(name))
      .map(_._5).getOrElse(return (IndexedSeq.empty, -1))
    val open = sql.indexOf('(')
    if (open < 0) return (IndexedSeq.empty, -1)
    var depth = 0
    var end = -1
    var i = open
    while (end < 0 && i < sql.length) {
      sql.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) end = i
        case _ => ()
      }
      i += 1
    }
    if (end < 0) end = sql.length
    val defs = mutable.ArrayBuffer.empty[String]
    var d = 0
    val cur = new StringBuilder
    sql.substring(open + 1, end).foreach {
      case ',' if d == 0 => defs += cur.toString; cur.clear()
      case c =>
        if (c == '(') d += 1 else if (c == ')') d -= 1
        cur.append(c)
    }
    if (cur.nonEmpty) defs += cur.toString
    val constraintKw = Set("primary", "unique", "check", "foreign", "constraint")
    val cols = mutable.ArrayBuffer.empty[String]
    var pkIdx = -1
    defs.map(_.trim).filter(_.nonEmpty).foreach { d0 =>
      val first = d0.split("\\s+|\\(", 2).head.stripPrefix("\"").stripSuffix("\"")
        .stripPrefix("`").stripSuffix("`").stripPrefix("[").stripSuffix("]")
      if (!constraintKw.contains(first.toLowerCase(java.util.Locale.ROOT))) {
        if (d0.toLowerCase(java.util.Locale.ROOT).matches("(?s).*integer\\s+primary\\s+key.*"))
          pkIdx = cols.length
        cols += first.toLowerCase(java.util.Locale.ROOT)
      }
    }
    (cols.toIndexedSeq, pkIdx)
  }

  /** Table scan as column-name → value maps; INTEGER PRIMARY KEY columns
    * (stored as NULL) are substituted with the rowid, matching SQLite's
    * rowid-alias semantics.
    */
  def readTable(name: String): Seq[Map[String, SqlValue]] = {
    val root = masterRows.find(r => r._1 == "table" && r._2.equalsIgnoreCase(name)).map(_._4)
      .getOrElse(return Seq.empty)
    val (cols, pkIdx) = tableColumns(name)
    tableRows(root).map { case (rowid, vals) =>
      cols.zipWithIndex.map { case (cn, i) =>
        val v =
          if (i == pkIdx && (i >= vals.length || vals(i) == SqlNull)) SqlInt(rowid)
          else if (i < vals.length) vals(i)
          else SqlNull
        cn -> v
      }.toMap
    }
  }
}
