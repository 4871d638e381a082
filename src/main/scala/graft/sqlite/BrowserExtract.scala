package graft.sqlite

import graft.core.{BrowserCookieRecord, BrowserDownloadRecord, BrowserHistoryRecord}
import graft.functions.TimeConv
import java.sql.Timestamp

/** Browser history/cookie/download extraction from SQLite profile DBs —
  * semantics ported from the reference (src/parsers/sqlite_db.rs):
  * schema detection via sqlite_master, column-name fallbacks
  * (`pick_col`), the visits⋈urls / historyvisits⋈places joins, the
  * downloads⟕url_chains COALESCE chain, and WebKit/unix-µs/seconds
  * timestamp conversions.
  */
object BrowserExtract {

  private def webkitTs(us: Long): Option[Timestamp] =
    Some(TimeConv.microTimestamp(us - TimeConv.WebkitToUnixMicros))

  private def unixMicroTs(us: Long): Option[Timestamp] = Some(TimeConv.microTimestamp(us))

  def chromeTransitionLabel(t: Long): String = (t & 0xff) match {
    case 0 => "link"; case 1 => "typed"; case 2 => "auto_bookmark"
    case 3 => "auto_subframe"; case 4 => "manual_subframe"; case 5 => "generated"
    case 6 => "auto_toplevel"; case 7 => "form_submit"; case 8 => "reload"
    case 9 => "keyword"; case 10 => "keyword_generated"; case _ => "other"
  }

  def firefoxVisitLabel(t: Long): String = t match {
    case 1 => "link"; case 2 => "typed"; case 3 => "bookmark"; case 4 => "embed"
    case 5 => "redirect_permanent"; case 6 => "redirect_temporary"
    case 7 => "download"; case 8 => "framed_link"; case _ => "other"
  }

  private def pickCol(columns: Set[String], candidates: Seq[String]): Option[String] =
    candidates.find(c => columns.contains(c.toLowerCase(java.util.Locale.ROOT)))

  private def text(row: Map[String, SqlValue], col: Option[String]): Option[String] =
    col.flatMap(c => row.get(c.toLowerCase(java.util.Locale.ROOT))).flatMap(SqlValue.asText)

  private def long(row: Map[String, SqlValue], col: Option[String]): Option[Long] =
    col.flatMap(c => row.get(c.toLowerCase(java.util.Locale.ROOT))).flatMap(SqlValue.asLong)

  /** History: Chrome (visits⋈urls when visits exists, else urls) and
    * Firefox (historyvisits⋈places when both exist, else places).
    */
  def history(db: SqliteFile, runId: String, sourceFile: String): Seq[BrowserHistoryRecord] = {
    val out = Seq.newBuilder[BrowserHistoryRecord]
    if (db.hasTable("urls")) {
      if (db.hasTable("visits")) {
        // FROM visits JOIN urls ON visits.url = urls.id (sqlite_db.rs:179-183)
        val urls = db.readTable("urls").flatMap { r =>
          long(r, Some("id")).map(id => id -> (text(r, Some("url")), text(r, Some("title"))))
        }.toMap
        val vcols = db.tableColumns("visits")._1.toSet
        db.readTable("visits").foreach { v =>
          long(v, Some("url")).flatMap(urls.get).foreach { case (url, title) =>
            out += BrowserHistoryRecord(runId, "chrome", "Default",
              url, title,
              long(v, pickCol(vcols, Seq("visit_time"))).flatMap(webkitTs),
              None,
              long(v, pickCol(vcols, Seq("transition"))).map(chromeTransitionLabel),
              sourceFile)
          }
        }
      } else {
        val ucols = db.tableColumns("urls")._1.toSet
        db.readTable("urls").foreach { r =>
          text(r, Some("url")).foreach { url =>
            out += BrowserHistoryRecord(runId, "chrome", "Default",
              Some(url), text(r, pickCol(ucols, Seq("title"))),
              long(r, pickCol(ucols, Seq("last_visit_time"))).flatMap(webkitTs),
              None, None, sourceFile)
          }
        }
      }
    }
    if (db.hasTable("moz_places")) {
      if (db.hasTable("moz_historyvisits")) {
        // FROM moz_historyvisits JOIN moz_places ON place_id = id
        val places = db.readTable("moz_places").flatMap { r =>
          long(r, Some("id")).map(id => id -> (text(r, Some("url")), text(r, Some("title"))))
        }.toMap
        db.readTable("moz_historyvisits").foreach { v =>
          long(v, Some("place_id")).flatMap(places.get).foreach { case (url, title) =>
            out += BrowserHistoryRecord(runId, "firefox", "Default",
              url, title,
              long(v, Some("visit_date")).flatMap(unixMicroTs),
              None,
              long(v, Some("visit_type")).map(firefoxVisitLabel),
              sourceFile)
          }
        }
      } else {
        db.readTable("moz_places").foreach { r =>
          text(r, Some("url")).foreach { url =>
            out += BrowserHistoryRecord(runId, "firefox", "Default",
              Some(url), text(r, Some("title")),
              long(r, Some("last_visit_date")).flatMap(unixMicroTs),
              None, None, sourceFile)
          }
        }
      }
    }
    out.result()
  }

  def cookies(db: SqliteFile, runId: String, sourceFile: String): Seq[BrowserCookieRecord] = {
    val out = Seq.newBuilder[BrowserCookieRecord]
    if (db.hasTable("cookies")) {
      val cols = db.tableColumns("cookies")._1.toSet
      pickCol(cols, Seq("host_key", "host")).foreach { hostCol =>
        db.readTable("cookies").foreach { r =>
          text(r, Some(hostCol)).foreach { host =>
            out += BrowserCookieRecord(runId, "chrome", "Default",
              Some(host), text(r, pickCol(cols, Seq("name"))), text(r, pickCol(cols, Seq("value"))),
              text(r, pickCol(cols, Seq("path"))),
              long(r, pickCol(cols, Seq("expires_utc"))).flatMap(webkitTs),
              long(r, pickCol(cols, Seq("last_access_utc"))).flatMap(webkitTs),
              long(r, pickCol(cols, Seq("creation_utc"))).flatMap(webkitTs),
              long(r, pickCol(cols, Seq("is_secure", "secure"))).map(_ != 0),
              long(r, pickCol(cols, Seq("is_httponly", "is_http_only", "httponly"))).map(_ != 0),
              sourceFile)
          }
        }
      }
    }
    if (db.hasTable("moz_cookies")) {
      db.readTable("moz_cookies").foreach { r =>
        text(r, Some("host")).foreach { host =>
          out += BrowserCookieRecord(runId, "firefox", "Default",
            Some(host), text(r, Some("name")), text(r, Some("value")), text(r, Some("path")),
            // firefox expiry is SECONDS (sqlite_db.rs:412-413)
            long(r, Some("expiry")).flatMap(s => unixMicroTs(s * 1000000L)),
            long(r, Some("lastaccessed")).flatMap(unixMicroTs),
            long(r, Some("creationtime")).flatMap(unixMicroTs),
            long(r, Some("issecure")).map(_ != 0),
            long(r, Some("ishttponly")).map(_ != 0),
            sourceFile)
        }
      }
    }
    out.result()
  }

  def downloads(db: SqliteFile, runId: String, sourceFile: String): Seq[BrowserDownloadRecord] = {
    val out = Seq.newBuilder[BrowserDownloadRecord]
    if (db.hasTable("downloads")) {
      val cols = db.tableColumns("downloads")._1.toSet
      pickCol(cols, Seq("target_path", "current_path")).foreach { targetCol =>
        // LEFT JOIN downloads_url_chains uc ON d.id = uc.id AND uc.chain_index = 0
        val chains: Map[Long, String] =
          if (db.hasTable("downloads_url_chains")) {
            val ccols = db.tableColumns("downloads_url_chains")._1.toSet
            if (ccols.contains("id") && ccols.contains("url") && ccols.contains("chain_index"))
              db.readTable("downloads_url_chains")
                .filter(r => long(r, Some("chain_index")).contains(0L))
                .flatMap(r => for { id <- long(r, Some("id")); u <- text(r, Some("url")) } yield id -> u)
                .toMap
            else Map.empty
          } else Map.empty
        db.readTable("downloads").foreach { r =>
          val id = long(r, Some("id"))
          // COALESCE(uc.url, d.tab_url, d.url, d.referrer, d.site_url, d.origin_url)
          val url = id.flatMap(chains.get)
            .orElse(text(r, pickCol(cols, Seq("tab_url"))))
            .orElse(text(r, pickCol(cols, Seq("url"))))
            .orElse(text(r, pickCol(cols, Seq("referrer"))))
            .orElse(text(r, pickCol(cols, Seq("site_url"))))
            .orElse(text(r, pickCol(cols, Seq("origin_url"))))
          out += BrowserDownloadRecord(runId, "chrome", "Default",
            url, text(r, Some(targetCol)),
            long(r, pickCol(cols, Seq("start_time", "startTime", "starttime"))).flatMap(webkitTs),
            long(r, pickCol(cols, Seq("end_time", "endTime", "endtime"))).flatMap(webkitTs),
            long(r, pickCol(cols, Seq("total_bytes", "totalBytes", "totalbytes"))),
            long(r, pickCol(cols, Seq("state"))).map(_.toString),
            sourceFile)
        }
      }
    }
    if (db.hasTable("moz_downloads")) {
      val cols = db.tableColumns("moz_downloads")._1.toSet
      db.readTable("moz_downloads").foreach { r =>
        out += BrowserDownloadRecord(runId, "firefox", "Default",
          text(r, pickCol(cols, Seq("source", "source_uri"))),
          text(r, pickCol(cols, Seq("target", "target_path"))),
          long(r, pickCol(cols, Seq("startTime", "start_time"))).flatMap(unixMicroTs),
          long(r, pickCol(cols, Seq("endTime", "end_time"))).flatMap(unixMicroTs),
          long(r, pickCol(cols, Seq("totalBytes", "total_bytes"))),
          long(r, pickCol(cols, Seq("state"))).map(_.toString),
          sourceFile)
      }
    }
    out.result()
  }
}
