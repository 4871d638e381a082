package graft

import graft.carve.EngineConfig
import graft.evidence.{EvidenceReader, EvidenceRef, InMemoryRef}
import graft.pipeline.CarvePipeline
import graft.sqlite._
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Counts, across the tasks of this JVM, the bytes its readers return. */
final case class CountingRef(inner: EvidenceRef) extends EvidenceRef {
  override def open(): EvidenceReader = new EvidenceReader {
    private val reader = inner.open()
    override def length: Long = reader.length
    override def readAt(offset: Long, buf: Array[Byte], bufOff: Int, len: Int): Int = {
      val n = reader.readAt(offset, buf, bufOff, len)
      CountingRef.bytes.addAndGet(math.max(n, 0).toLong)
      n
    }
    override def close(): Unit = reader.close()
  }
}

object CountingRef {
  val bytes = new java.util.concurrent.atomic.AtomicLong
}

/** Pure-Scala SQLite reader + browser extraction against real SQLite
  * files generated by the reference engine (tools/gen_sqlite_fixtures.py;
  * deterministic formula contents, 512-byte pages with multi-page b-trees
  * and an overflow-chain case).
  */
class SqliteSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-sqlite-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def fixtureBytes(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/fixtures/$name")
    assert(in != null, s"fixture $name missing")
    in.readAllBytes()
  }

  private def fixture(name: String): SqliteFile = new SqliteFile(fixtureBytes(name))

  private val WebkitBase = 13303449600000000L
  private val UnixBaseUs = 1700000000000000L

  test("schema introspection") {
    val db = fixture("chrome_history.sqlite")
    assert(db.hasTable("urls") && db.hasTable("visits") && db.hasTable("downloads"))
    assert(!db.hasTable("moz_places"))
    val (cols, pk) = db.tableColumns("urls")
    assert(cols == IndexedSeq("id", "url", "title", "last_visit_time"))
    assert(pk == 0)
  }

  test("table scan with rowid-alias substitution") {
    val db = fixture("chrome_history.sqlite")
    val rows = db.readTable("urls")
    assert(rows.length == 20)
    val r0 = rows.find(r => SqlValue.asLong(r("id")).contains(1L)).get
    assert(SqlValue.asText(r0("url")).contains("https://site0.example.com/"))
    assert(SqlValue.asLong(r0("last_visit_time")).contains(WebkitBase))
  }

  test("overflow page chains") {
    val db = fixture("overflow.sqlite")
    val rows = db.readTable("blobs")
    assert(rows.length == 1)
    val body = SqlValue.asText(rows.head("body")).get
    assert(body.length == 4000)
    assert(body == "ABCDEFGHIJ" * 400)
  }

  test("chrome history via visits join") {
    val db = fixture("chrome_history.sqlite")
    val recs = BrowserExtract.history(db, "r", "src")
    assert(recs.length == 20)
    val r5 = recs.find(_.url.contains("https://site5.example.com/")).get
    assert(r5.browser == "chrome")
    assert(r5.title.contains("Title 5"))
    // visit_time from visits (webkit µs): base + 5*2e6 µs
    val expected = (WebkitBase + 5000000L * 2 - 11644473600000000L) / 1000000L
    assert(r5.visitTime.get.getTime / 1000L == expected)
    assert(r5.transition.contains("generated")) // transition 5
  }

  test("firefox history via places join") {
    val db = fixture("firefox_places.sqlite")
    val recs = BrowserExtract.history(db, "r", "src")
    assert(recs.length == 20)
    val r3 = recs.find(_.url.contains("https://ff3.example.org/")).get
    assert(r3.browser == "firefox")
    assert(r3.transition.contains("embed")) // visit_type 4
    assert(r3.visitTime.get.getTime / 1000L == (UnixBaseUs + 3 * 2000000L) / 1000000L)
  }

  test("chrome cookies with webkit times and flags") {
    val db = fixture("chrome_cookies.sqlite")
    val recs = BrowserExtract.cookies(db, "r", "src")
    assert(recs.length == 20)
    val c3 = recs.find(_.name.contains("cookie3")).get
    assert(c3.host.contains(".site3.example.com"))
    assert(c3.secure.contains(true)) // 3 % 2 = 1
    assert(c3.httpOnly.contains(false))
    assert(c3.expiresUtc.get.getTime / 1000L == (WebkitBase + 103000000L - 11644473600000000L) / 1000000L)
  }

  test("firefox cookies expiry in seconds") {
    val db = fixture("firefox_cookies.sqlite")
    val recs = BrowserExtract.cookies(db, "r", "src")
    assert(recs.length == 20)
    val c2 = recs.find(_.name.contains("ffcookie2")).get
    assert(c2.expiresUtc.get.getTime / 1000L == 1700000000L + 2 * 3600)
  }

  test("chrome downloads with chain coalesce") {
    val db = fixture("chrome_history.sqlite")
    val recs = BrowserExtract.downloads(db, "r", "src").filter(_.browser == "chrome")
    assert(recs.length == 10)
    val byTarget = recs.map(r => r.targetPath.get -> r).toMap
    // download id 1 (i=0, even): chain url wins over tab_url
    assert(byTarget("/home/u/dl/file0.bin").url.contains("https://chain0.example.com/get"))
    // id 4 (i=3, odd): no chain row; tab_url set (3 % 3 == 0)
    assert(byTarget("/home/u/dl/file3.bin").url.contains("https://tab3.example.com/"))
    // id 2 (i=1, odd, 1%3!=0): no chain, no tab_url → None
    assert(byTarget("/home/u/dl/file1.bin").url.isEmpty)
    assert(byTarget("/home/u/dl/file1.bin").state.contains("1"))
  }

  test("firefox downloads legacy schema") {
    val db = fixture("firefox_downloads.sqlite")
    val recs = BrowserExtract.downloads(db, "r", "src")
    assert(recs.length == 10)
    assert(recs.head.browser == "firefox")
    assert(recs.exists(_.url.contains("https://dl4.example.org/f.zip")))
    assert(recs.forall(_.totalBytes.exists(_ >= 2000)))
  }

  test("page-scan recovery finds urls with titles and times") {
    val in = getClass.getResourceAsStream("/fixtures/chrome_history.sqlite")
    val bytes = in.readAllBytes()
    val recs = SqlitePages.extractHistory(bytes, "r", "src", nowMicros = 1800000000000000L)
    assert(recs.nonEmpty)
    val site5 = recs.find(_.url.contains("https://site5.example.com/")).get
    assert(site5.browser == "sqlite_page")
    assert(site5.transition.contains("page_scan"))
    assert(site5.title.contains("Title 5"))
    assert(site5.visitTime.isDefined)
    // downloads chains recovered too
    assert(recs.exists(_.url.exists(_.startsWith("https://chain"))))
  }

  test("page-scan recovery survives overflow pages and junk") {
    val in = getClass.getResourceAsStream("/fixtures/overflow.sqlite")
    val recs = SqlitePages.extractHistory(in.readAllBytes(), "r", "src")
    assert(recs.isEmpty) // long text contains no URLs
    assert(SqlitePages.extractHistory("garbage".getBytes, "r", "src").isEmpty)
  }

  // ---- every reader's output, pinned per fixture and corruption ----

  private val Fixtures = Seq("chrome_cookies", "chrome_history", "firefox_cookies",
    "firefox_downloads", "firefox_places", "overflow")

  private val PageSize = 512 // every fixture's

  private def u16(b: Array[Byte], off: Int): Int = ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)

  /** Offset of the record header of the first cell on the last
    * table-leaf page whose payload length and record-header length are
    * one-byte varints.
    */
  private def lastSmallRecord(b: Array[Byte]): Int =
    (b.length / PageSize - 1 to 0 by -1).iterator.flatMap { p =>
      val hdr = p * PageSize + (if (p == 0) 100 else 0)
      if ((b(hdr) & 0xff) != 0x0d || u16(b, hdr + 3) == 0) None
      else {
        val cell = p * PageSize + u16(b, hdr + 8)
        var at = cell + 1
        while ((b(at) & 0x80) != 0) at += 1 // the rowid varint
        if ((b(cell) & 0x80) == 0 && (b(at + 1) & 0x80) == 0) Some(at + 1) else None
      }
    }.next()

  private def withByte(b: Array[Byte], off: Int, v: Int): Array[Byte] = {
    val out = b.clone(); out(off) = v.toByte; out
  }

  /** Each fixture as is and with one corruption: cut inside its last page
    * (for overflow.sqlite that is inside its overflow chain), cut at a
    * page boundary, a record header that claims more bytes than its
    * payload (0x7f), and a first field of reserved serial type 10.
    */
  private val Corruptions: Seq[(String, Array[Byte] => Array[Byte])] = Seq(
    "whole" -> (b => b),
    "cut_in_last_page" -> (b => b.take(b.length - PageSize / 2)),
    "cut_at_page" -> (b => b.take(b.length / PageSize / 2 * PageSize)),
    "header_overrun" -> (b => withByte(b, lastSmallRecord(b), 0x7f)),
    "serial_10" -> (b => withByte(b, lastSmallRecord(b) + 1, 10)))

  /** A record's fields in one line; timestamps as millis.nanos. */
  private def canon(p: Product): String = p.productIterator.map {
    case Some(t: java.sql.Timestamp) => s"${t.getTime}.${t.getNanos}"
    case other => other.toString
  }.mkString("|")

  private def digest(recs: Seq[Product]): String =
    s"${recs.length}:" + graft.fixtures.FixtureBytes.sha256Hex(recs.map(canon).mkString("\n").getBytes("UTF-8")).take(10)

  /** What every reader makes of `bytes`: readTable's row count per table,
    * then count:digest of BrowserExtract's history (h), cookies (c) and
    * downloads (d) and of the page scan (p). `!` marks a throw.
    */
  private def readersSay(bytes: Array[Byte]): String = {
    def attempt(f: => String): String = try f catch { case _: Exception => "!" }
    val viaDb = try {
      val db = new SqliteFile(bytes)
      Seq(
        attempt(db.masterRows.filter(_._1 == "table")
          .map(t => s"${t._2}=${attempt(db.readTable(t._2).length.toString)}").mkString(",")),
        "h" + attempt(digest(BrowserExtract.history(db, "r", "s"))),
        "c" + attempt(digest(BrowserExtract.cookies(db, "r", "s"))),
        "d" + attempt(digest(BrowserExtract.downloads(db, "r", "s")))).mkString(" ")
    } catch { case _: Exception => "open!" }
    s"$viaDb p" + digest(SqlitePages.extractHistory(bytes, "r", "s", nowMicros = 1800000000000000L))
  }

  private val Pinned: Map[String, String] = Map(
    "chrome_cookies/whole" -> "cookies=20 h0:e3b0c44298 c20:c0fb413fb0 d0:e3b0c44298 p0:e3b0c44298",
    "chrome_cookies/cut_in_last_page" -> "cookies=14 h0:e3b0c44298 c14:44dc1f571c d0:e3b0c44298 p0:e3b0c44298",
    "chrome_cookies/cut_at_page" -> "cookies=0 h0:e3b0c44298 c0:e3b0c44298 d0:e3b0c44298 p0:e3b0c44298",
    "chrome_cookies/header_overrun" -> "cookies=! h0:e3b0c44298 c! d0:e3b0c44298 p0:e3b0c44298",
    "chrome_cookies/serial_10" -> "cookies=! h0:e3b0c44298 c! d0:e3b0c44298 p0:e3b0c44298",
    "chrome_history/whole" -> "urls=20,visits=20,downloads=10,downloads_url_chains=10 h20:23b30127c7 c0:e3b0c44298 d10:b34caa5468 p34:4dd72bafa8",
    "chrome_history/cut_in_last_page" -> "urls=20,visits=20,downloads=8,downloads_url_chains=10 h20:23b30127c7 c0:e3b0c44298 d8:ea2bd9dd39 p33:82895c55c9",
    "chrome_history/cut_at_page" -> "urls=0,visits=20,downloads=0 h0:e3b0c44298 c0:e3b0c44298 d0:e3b0c44298 p10:d809cd6883",
    "chrome_history/header_overrun" -> "urls=20,visits=20,downloads=!,downloads_url_chains=10 h20:23b30127c7 c0:e3b0c44298 d! p34:4dd72bafa8",
    "chrome_history/serial_10" -> "urls=20,visits=20,downloads=!,downloads_url_chains=10 h20:23b30127c7 c0:e3b0c44298 d! p34:4dd72bafa8",
    "firefox_cookies/whole" -> "moz_cookies=20 h0:e3b0c44298 c20:4ee6a0af64 d0:e3b0c44298 p0:e3b0c44298",
    "firefox_cookies/cut_in_last_page" -> "moz_cookies=14 h0:e3b0c44298 c14:4b2391d505 d0:e3b0c44298 p0:e3b0c44298",
    "firefox_cookies/cut_at_page" -> "moz_cookies=0 h0:e3b0c44298 c0:e3b0c44298 d0:e3b0c44298 p0:e3b0c44298",
    "firefox_cookies/header_overrun" -> "moz_cookies=! h0:e3b0c44298 c! d0:e3b0c44298 p0:e3b0c44298",
    "firefox_cookies/serial_10" -> "moz_cookies=! h0:e3b0c44298 c! d0:e3b0c44298 p0:e3b0c44298",
    "firefox_downloads/whole" -> "moz_downloads=10 h0:e3b0c44298 c0:e3b0c44298 d10:abf9cda62e p10:971f9e97b3",
    "firefox_downloads/cut_in_last_page" -> "moz_downloads=7 h0:e3b0c44298 c0:e3b0c44298 d7:2a88353728 p7:3ed9dc2e67",
    "firefox_downloads/cut_at_page" -> "moz_downloads=0 h0:e3b0c44298 c0:e3b0c44298 d0:e3b0c44298 p0:e3b0c44298",
    "firefox_downloads/header_overrun" -> "moz_downloads=! h0:e3b0c44298 c0:e3b0c44298 d! p9:f5347ca753",
    "firefox_downloads/serial_10" -> "moz_downloads=! h0:e3b0c44298 c0:e3b0c44298 d! p10:971f9e97b3",
    "firefox_places/whole" -> "moz_places=20,moz_historyvisits=20 h20:d391ce095e c0:e3b0c44298 d0:e3b0c44298 p20:124ccf44ba",
    "firefox_places/cut_in_last_page" -> "moz_places=18,moz_historyvisits=20 h18:3cd16cb462 c0:e3b0c44298 d0:e3b0c44298 p18:e7ed8007d4",
    "firefox_places/cut_at_page" -> "moz_places=0,moz_historyvisits=20 h0:e3b0c44298 c0:e3b0c44298 d0:e3b0c44298 p0:e3b0c44298",
    "firefox_places/header_overrun" -> "moz_places=!,moz_historyvisits=20 h! c0:e3b0c44298 d0:e3b0c44298 p19:21d03723f5",
    "firefox_places/serial_10" -> "moz_places=!,moz_historyvisits=20 h! c0:e3b0c44298 d0:e3b0c44298 p20:124ccf44ba",
    "overflow/whole" -> "blobs=1 h0:e3b0c44298 c0:e3b0c44298 d0:e3b0c44298 p0:e3b0c44298",
    "overflow/cut_in_last_page" -> "blobs=! h0:e3b0c44298 c0:e3b0c44298 d0:e3b0c44298 p0:e3b0c44298",
    "overflow/cut_at_page" -> "blobs=! h0:e3b0c44298 c0:e3b0c44298 d0:e3b0c44298 p0:e3b0c44298",
    "overflow/header_overrun" -> "! h! c! d! p0:e3b0c44298",
    "overflow/serial_10" -> "! h! c! d! p0:e3b0c44298")

  test("every reader gives the pinned output for every fixture and corruption") {
    val seen = for (f <- Fixtures; (name, corrupt) <- Corruptions)
      yield s"$f/$name" -> readersSay(corrupt(fixtureBytes(s"$f.sqlite")))
    val wrong = seen.filterNot { case (k, v) => Pinned.get(k).contains(v) }
    assert(wrong.isEmpty, wrong.map { case (k, v) => s"\n    \"$k\" -> \"$v\"," }.mkString)
  }

  /** `page`'s first cell rewritten into the page's free space with a
    * non-minimal 9-byte payload length of about 64 MiB and no overflow
    * chain; its first 39 payload bytes (the local part for that length)
    * are kept.
    */
  private def hugePayloadCell(b: Array[Byte], page: Int): Array[Byte] = {
    val out = b.clone()
    val base = (page - 1) * PageSize
    val cell = base + u16(b, base + 8)
    var at = cell
    while ((b(at) & 0x80) != 0) at += 1 // old payload-length varint
    val rowidStart = at + 1
    at = rowidStart
    while ((b(at) & 0x80) != 0) at += 1
    val payloadStart = at + 1
    val minLocal = (PageSize - 12) * 32 / 255 - 23 // 39: the local part of this length
    val declared = minLocal + (PageSize - 4) * 132000L
    val nine = Array.tabulate[Byte](9)(i =>
      if (i == 8) declared.toByte else (0x80 | ((declared >>> (8 + 7 * (7 - i))) & 0x7f)).toByte)
    val moved = nine ++ b.slice(rowidStart, payloadStart) ++
      b.slice(payloadStart, payloadStart + minLocal) ++ new Array[Byte](4)
    val to = u16(b, base + 5) - moved.length // just below the cell content area
    assert(to >= 8 + 2 * u16(b, base + 3), "no free space for the moved cell")
    System.arraycopy(moved, 0, out, base + to, moved.length)
    out(base + 8) = (to >> 8).toByte; out(base + 9) = to.toByte
    out(base + 5) = (to >> 8).toByte; out(base + 6) = to.toByte
    out
  }

  test("a cell declaring a huge payload allocates within the database's own length") {
    // page 12 is a downloads leaf with room below its cell content area
    val bytes = hugePayloadCell(fixtureBytes("chrome_history.sqlite"), page = 12)
    val limit = 4L * 1024 * 1024
    val (failed, viaDb) = WalkerSamples.allocatedBytes {
      val db = new SqliteFile(bytes)
      db.masterRows.filter(_._1 == "table").map { t =>
        try { db.readTable(t._2); None } catch { case _: SqliteParseException => Some(t._2) }
      }.flatten
    }
    assert(failed == Seq("downloads"))
    assert(viaDb < limit, s"table reader allocated $viaDb bytes")
    val (recs, viaPages) = WalkerSamples.allocatedBytes(SqlitePages.extractHistory(bytes, "r", "s"))
    assert(recs.nonEmpty)
    assert(viaPages < limit, s"page scan allocated $viaPages bytes")
  }

  // ---- the browser stage over carved databases, pinned per database ----

  /** The planted databases: every fixture whole, one whose schema page is
    * broken so no table parses (the page scan still finds its leaves),
    * one whose downloads table is corrupt beside an intact history, and
    * one whose history table is corrupt.
    */
  private lazy val planted: Seq[(String, Array[Byte])] = {
    val headerOverrun = Corruptions.toMap.apply("header_overrun")
    Fixtures.map(f => s"$f/whole" -> fixtureBytes(s"$f.sqlite")) ++ Seq(
      "chrome_history/schema_broken" -> {
        val b = fixtureBytes("chrome_history.sqlite"); java.util.Arrays.fill(b, 100, 120, 0.toByte); b
      },
      "chrome_history/header_overrun" -> headerOverrun(fixtureBytes("chrome_history.sqlite")),
      "firefox_places/header_overrun" -> headerOverrun(fixtureBytes("firefox_places.sqlite")))
  }

  /** One 8 KiB slot per planted database, the carved set over it and the
    * planted name of each carve's path.
    */
  private lazy val carvedImage = {
    val slot = 8192
    val image = new Array[Byte](slot * planted.length)
    planted.zipWithIndex.foreach { case ((_, b), i) => System.arraycopy(b, 0, image, i * slot, b.length) }
    val (cfg0, _) = EngineConfig.filterFileTypes(
      EngineConfig(chunkSize = 128 * 1024, overlap = 8192), Some(Seq("sqlite")), disableZip = false)
    val cfg = cfg0.copy(fileTypes = cfg0.fileTypes.map(_.copy(minSize = 0)))
    val ref = InMemoryRef(image)
    val carved = CarvePipeline.run(spark, ref, cfg, "pin", enableStrings = false, enableEntropy = false)
      .carvedFiles
    val names = carved.collect().map(c => c.path -> planted((c.globalStart / slot).toInt)._1).toMap
    (ref, carved, names)
  }

  /** Per database: count:digest of history with page recovery off (h) and
    * on (H), cookies (c) and downloads (d); then the whole timeline. Only
    * page recovery yields rows from the database whose schema is broken.
    */
  private val BrowserPinned: Map[String, String] = Map(
    "chrome_cookies/whole" -> "h0:e3b0c44298 H0:e3b0c44298 c20:209e531fdd d0:e3b0c44298",
    "chrome_history/header_overrun" -> "h20:d65e87ce4d H20:d65e87ce4d c0:e3b0c44298 d0:e3b0c44298",
    "chrome_history/schema_broken" -> "h0:e3b0c44298 H34:b49061f7ce c0:e3b0c44298 d0:e3b0c44298",
    "chrome_history/whole" -> "h20:ec4f93b041 H20:ec4f93b041 c0:e3b0c44298 d10:e287c9998b",
    "firefox_cookies/whole" -> "h0:e3b0c44298 H0:e3b0c44298 c20:e8b0e3ec9b d0:e3b0c44298",
    "firefox_downloads/whole" -> "h0:e3b0c44298 H10:7d190ba389 c0:e3b0c44298 d10:a896372223",
    "firefox_places/header_overrun" -> "h0:e3b0c44298 H19:5332343a06 c0:e3b0c44298 d0:e3b0c44298",
    "firefox_places/whole" -> "h20:7767e8bdbf H20:7767e8bdbf c0:e3b0c44298 d0:e3b0c44298",
    "overflow/whole" -> "h0:e3b0c44298 H0:e3b0c44298 c0:e3b0c44298 d0:e3b0c44298",
    "timeline" -> "120:be102522d7")

  test("the browser stage gives the pinned output for every carved database") {
    val (ref, carved, names) = carvedImage
    assert(names.size == planted.length, s"carved ${names.values.toSeq.sorted}")
    def perDb[T <: Product](tag: String, recs: Seq[T])(source: T => String): Map[String, String] = {
      val bySource = recs.groupBy(source)
      names.map { case (path, name) => name -> s"$tag${digest(bySource.getOrElse(path, Nil).sortBy(canon))}" }
    }
    val families = Seq(
      perDb("h", SqliteArtefacts.history(spark, ref, carved, "pin").collect().toSeq)(_.sourceFile),
      perDb("H", SqliteArtefacts.history(spark, ref, carved, "pin", pageRecovery = true).collect().toSeq)(
        _.sourceFile),
      perDb("c", SqliteArtefacts.cookies(spark, ref, carved, "pin").collect().toSeq)(_.sourceFile),
      perDb("d", SqliteArtefacts.downloads(spark, ref, carved, "pin").collect().toSeq)(_.sourceFile))
    val timeline = SqliteArtefacts.timeline(spark, ref, carved, "pin").collect().map { r =>
      val t = r.getTimestamp(0)
      s"${t.getTime}.${t.getNanos}|${r.getString(1)}|${r.getString(2)}|${r.getString(3)}"
    }.sorted
    val seen = names.values.map(n => n -> families.map(_(n)).mkString(" ")).toSeq :+
      ("timeline" -> s"${timeline.length}:${graft.fixtures.FixtureBytes.sha256Hex(
        timeline.mkString("\n").getBytes("UTF-8")).take(10)}")
    val wrong = seen.sorted.filterNot { case (k, v) => BrowserPinned.get(k).contains(v) }
    assert(wrong.isEmpty, wrong.map { case (k, v) => s"\n    \"$k\" -> \"$v\"," }.mkString)
  }

  test("each carved database is read from the evidence once per browser pass") {
    import spark.implicits._
    val (ref, carved, names) = carvedImage
    val total = carved.collect().filter(_.fileType == "sqlite").map(_.size).sum
    assert(names.size == planted.length && total > 0)
    def bytesRead(run: EvidenceRef => Unit): Long = {
      CountingRef.bytes.set(0)
      run(CountingRef(ref))
      CountingRef.bytes.get
    }
    // the three browser streams as Carve.runJob builds them: projections
    // of one persisted pass
    val streams = bytesRead { counted =>
      val dbs = SqliteArtefacts.records(counted, carved, "pin")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try Seq(dbs.flatMap(_.history).collect(), dbs.flatMap(_.cookies).collect(),
        dbs.flatMap(_.downloads).collect())
      finally dbs.unpersist()
    }
    assert(streams == total, s"the browser streams read $streams bytes of $total")
    val timeline = bytesRead(counted => SqliteArtefacts.timeline(spark, counted, carved, "pin").collect())
    assert(timeline == total, s"the timeline read $timeline bytes of $total")
  }
}
