package graft.sqlite

import graft.core.{BrowserCookieRecord, BrowserDownloadRecord, BrowserHistoryRecord, CarvedFile}
import graft.evidence.EvidenceRef
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}

/** Distributed browser-artefact stage (reference pipeline stage:
  * workers.rs:269-279 + 300-368): [[records]] reads each carved SQLite
  * file from the evidence once, parses it once and runs the history,
  * cookie and download extractors over that parse; [[history]],
  * [[cookies]], [[downloads]] and [[timeline]] are projections of it. The
  * carved-sqlite set is tiny relative to the evidence; each task opens
  * its own evidence handle.
  */
object SqliteArtefacts {

  /** Whole-DB in-memory parse bound: a carved "sqlite" past this is
    * either a false positive or beyond the JVM-array ceiling (size.toInt
    * would wrap negative above 2 GiB and crash the task); skip it.
    */
  private val MaxDbBytes: Long = Int.MaxValue.toLong

  /** One carved database's browser records. */
  final case class BrowserRecords(history: Seq[BrowserHistoryRecord], cookies: Seq[BrowserCookieRecord],
      downloads: Seq[BrowserDownloadRecord])

  /** One row per carved SQLite within [[MaxDbBytes]] that reads whole. A
    * database that does not parse, or an extractor that throws, yields no
    * records for that family only. With `pageRecovery` (reference
    * enable_sqlite_page_recovery, pipeline/workers.rs:319-326) a database
    * whose table-level history is empty falls back to the tolerant
    * page-leaf scan over the same bytes.
    */
  def records(evidenceRef: EvidenceRef, carved: Dataset[CarvedFile], runId: String,
              pageRecovery: Boolean = false): Dataset[BrowserRecords] =
    carved.filter(c => c.fileType == "sqlite" && c.size <= MaxDbBytes).flatMap { c =>
      val reader = evidenceRef.open()
      val bytes = try reader.readExactAt(c.globalStart, c.size.toInt) finally reader.close()
      bytes.map { b =>
        val db = try Some(new SqliteFile(b)) catch { case _: Exception => None }
        def family[T](extract: SqliteFile => Seq[T]): Seq[T] =
          db.toSeq.flatMap(d => try extract(d) catch { case _: Exception => Seq.empty })
        val history = family(BrowserExtract.history(_, runId, c.path))
        BrowserRecords(
          if (history.nonEmpty || !pageRecovery) history else SqlitePages.extractHistory(b, runId, c.path),
          family(BrowserExtract.cookies(_, runId, c.path)),
          family(BrowserExtract.downloads(_, runId, c.path)))
      }
    }(Encoders.product)

  def history(spark: SparkSession, evidenceRef: EvidenceRef, carved: Dataset[CarvedFile],
              runId: String, pageRecovery: Boolean = false): Dataset[BrowserHistoryRecord] =
    records(evidenceRef, carved, runId, pageRecovery).flatMap(_.history)(Encoders.product)

  def cookies(spark: SparkSession, evidenceRef: EvidenceRef, carved: Dataset[CarvedFile], runId: String): Dataset[BrowserCookieRecord] =
    records(evidenceRef, carved, runId).flatMap(_.cookies)(Encoders.product)

  def downloads(spark: SparkSession, evidenceRef: EvidenceRef, carved: Dataset[CarvedFile], runId: String): Dataset[BrowserDownloadRecord] =
    records(evidenceRef, carved, runId).flatMap(_.downloads)(Encoders.product)

  /** Unified activity timeline — the log2timeline-style view an
    * investigator reads first: page visits (detail: url), download starts
    * (url, else target path) and cookie creations (`host|name`) from
    * every recovered profile DB, as one stream of (event_time, kind,
    * browser, detail) — UNORDERED; order by event_time at the consumer (a
    * global sort here would force a range shuffle every caller pays
    * whether or not it needs it). Records without a time are dropped. One
    * narrow projection of [[records]].
    */
  def timeline(spark: SparkSession, evidenceRef: EvidenceRef,
               carved: Dataset[CarvedFile], runId: String): DataFrame =
    records(evidenceRef, carved, runId).flatMap { db =>
      db.history.flatMap(h => h.visitTime.map((_, "visit", h.browser, h.url))) ++
        db.downloads.flatMap(d => d.startTime.map((_, "download", d.browser, d.url.orElse(d.targetPath)))) ++
        db.cookies.flatMap(c => c.creationUtc.map((_, "cookie_created", c.browser,
          Option(Seq(c.host, c.name).flatten.mkString("|")))))
    }(Encoders.product).toDF("event_time", "kind", "browser", "detail")
}
