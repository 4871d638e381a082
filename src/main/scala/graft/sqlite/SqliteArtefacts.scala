package graft.sqlite

import graft.core.{BrowserCookieRecord, BrowserDownloadRecord, BrowserHistoryRecord, CarvedFile}
import graft.evidence.EvidenceRef
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}

/** Distributed browser-artefact stage: for every carved SQLite file,
  * re-read its byte range from the evidence and run the pure-Scala
  * extractor (reference pipeline stage: workers.rs:269-279 + 300-368).
  * The carved-sqlite set is tiny relative to the evidence, so three
  * narrow passes (history/cookies/downloads) are cheap; each task opens
  * its own evidence handle.
  */
object SqliteArtefacts {

  /** Whole-DB in-memory parse bound: a carved "sqlite" past this is
    * either a false positive or beyond the JVM-array ceiling (size.toInt
    * would wrap negative above 2 GiB and crash the task); skip it.
    */
  private val MaxDbBytes: Long = Int.MaxValue.toLong

  /** The one loader behind all three browser streams: every carved
    * SQLite within [[MaxDbBytes]] is re-read from the evidence and
    * parsed, and `rows` gets its raw bytes (history's page recovery
    * scans them) with the parse, None when it does not parse. A short
    * read yields no rows.
    */
  private def fromDbs[T: Encoder](evidenceRef: EvidenceRef, carved: Dataset[CarvedFile])(
      rows: (CarvedFile, Array[Byte], Option[SqliteFile]) => Seq[T]): Dataset[T] =
    carved.filter(c => c.fileType == "sqlite" && c.size <= MaxDbBytes).flatMap { c =>
      val reader = evidenceRef.open()
      val bytes = try reader.readExactAt(c.globalStart, c.size.toInt) finally reader.close()
      bytes.toSeq.flatMap { b =>
        rows(c, b, try Some(new SqliteFile(b)) catch { case _: Exception => None })
      }
    }

  /** One extractor's records; a parse or extractor failure yields none. */
  private def extracted[T](db: Option[SqliteFile])(extract: SqliteFile => Seq[T]): Seq[T] =
    db.toSeq.flatMap(d => try extract(d) catch { case _: Exception => Seq.empty })

  /** With `pageRecovery` (reference enable_sqlite_page_recovery,
    * pipeline/workers.rs:319-326): a DB whose table-level parse yields
    * no records falls back to the tolerant page-leaf scan.
    */
  def history(spark: SparkSession, evidenceRef: EvidenceRef, carved: Dataset[CarvedFile],
              runId: String, pageRecovery: Boolean = false): Dataset[BrowserHistoryRecord] = {
    import spark.implicits._
    fromDbs(evidenceRef, carved) { (c, bytes, db) =>
      val viaDb = extracted(db)(BrowserExtract.history(_, runId, c.path))
      if (viaDb.nonEmpty || !pageRecovery) viaDb
      else SqlitePages.extractHistory(bytes, runId, c.path)
    }
  }

  def cookies(spark: SparkSession, evidenceRef: EvidenceRef, carved: Dataset[CarvedFile], runId: String): Dataset[BrowserCookieRecord] = {
    import spark.implicits._
    fromDbs(evidenceRef, carved)((c, _, db) => extracted(db)(BrowserExtract.cookies(_, runId, c.path)))
  }

  def downloads(spark: SparkSession, evidenceRef: EvidenceRef, carved: Dataset[CarvedFile], runId: String): Dataset[BrowserDownloadRecord] = {
    import spark.implicits._
    fromDbs(evidenceRef, carved)((c, _, db) => extracted(db)(BrowserExtract.downloads(_, runId, c.path)))
  }

  /** Unified activity timeline — the log2timeline-style view an
    * investigator reads first: page visits, download starts, and cookie
    * creations from every recovered profile DB merged into one
    * stream of (event_time, kind, browser, detail) — UNORDERED; order
    * by event_time at the consumer (a global sort here would force a
    * range shuffle every caller pays whether or not it needs it). Rows
    * whose source column was absent/null carry no event time and are
    * dropped. Each artefact family is one extraction branch over the
    * same carved set; union is narrow (no shuffle beyond the carve DAG
    * itself).
    */
  def timeline(spark: SparkSession, evidenceRef: EvidenceRef,
               carved: Dataset[CarvedFile], runId: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val h = history(spark, evidenceRef, carved, runId).toDF()
      .select(col("visitTime").as("event_time"), lit("visit").as("kind"),
        col("browser"), col("url").as("detail"))
    val d = downloads(spark, evidenceRef, carved, runId).toDF()
      .select(col("startTime").as("event_time"), lit("download").as("kind"),
        col("browser"), coalesce(col("url"), col("targetPath")).as("detail"))
    val c = cookies(spark, evidenceRef, carved, runId).toDF()
      .select(col("creationUtc").as("event_time"), lit("cookie_created").as("kind"),
        col("browser"), concat_ws("|", col("host"), col("name")).as("detail"))
    h.unionByName(d).unionByName(c).filter(col("event_time").isNotNull)
  }
}
