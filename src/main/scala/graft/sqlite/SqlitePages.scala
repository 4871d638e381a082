package graft.sqlite

import graft.core.BrowserHistoryRecord
import graft.functions.TimeConv
import scala.collection.mutable

/** Page-level history recovery for damaged/partial SQLite files
  * (reference src/parsers/sqlite_pages.rs): the tolerant consumer of
  * [[SqliteFormat]], which it shares with [[SqliteFile]]. Every page that
  * looks like a table leaf (flag 0x0D) is read by position, and each
  * cell keeps the fields decoded before its first overrun. What is left
  * here are the heuristics: URL-bearing text fields become records, with
  * the longest non-URL text as title and the first plausible WebKit or
  * unix-µs int as visit time, deduped per URL with first-non-null-wins
  * merging.
  */
object SqlitePages {

  private val MaxTextLen = 4096

  def extractHistory(
      data: Array[Byte],
      runId: String,
      sourceFile: String,
      nowMicros: Long = System.currentTimeMillis() * 1000L): Seq[BrowserHistoryRecord] = {
    val image = SqliteFormat.image(data).getOrElse(return Seq.empty)
    val records = mutable.LinkedHashMap.empty[String, BrowserHistoryRecord]
    var page = 1L
    while (page <= image.pagesPresent) {
      if (image.pageType(page) == SqliteFormat.LeafTable) image.leafRecords(page) { rec =>
        val texts = mutable.ArrayBuffer.empty[String]
        val ints = mutable.ArrayBuffer.empty[Long]
        var k = 0
        while (k < rec.size) {
          if (rec.length(k) <= MaxTextLen) rec.value(k) match {
            case SqlInt(v) => ints += v
            case SqlText(text) if text.trim.nonEmpty => texts += text
            case _ => ()
          }
          k += 1
        }
        val found = texts.toSeq
        val urls = found.flatMap(extractUrls)
        if (urls.nonEmpty) {
          val title = chooseTitle(found, urls)
          val visitTime = ints.collectFirst {
            case v if TimeConv.plausibleMicros(v - TimeConv.WebkitToUnixMicros, nowMicros) =>
              TimeConv.microTimestamp(v - TimeConv.WebkitToUnixMicros)
            case v if TimeConv.plausibleMicros(v, nowMicros) => TimeConv.microTimestamp(v)
          }
          urls.foreach { url =>
            records.get(url) match {
              case Some(existing) =>
                records(url) = existing.copy(
                  title = existing.title.orElse(title),
                  visitTime = existing.visitTime.orElse(visitTime))
              case None =>
                records(url) = BrowserHistoryRecord(runId, "sqlite_page", "unknown",
                  Some(url), title, visitTime, None, Some("page_scan"), sourceFile)
            }
          }
        }
      }
      page += 1
    }
    records.values.toSeq
  }

  private def extractUrls(text: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val m = graft.artefacts.Artefacts.UrlRe.matcher(text)
    while (m.find()) graft.artefacts.Artefacts.normalizeUrl(m.group()).foreach(out += _)
    out.result()
  }

  /** Longest non-URL text ≤512 chars (sqlite_pages.rs choose_title). */
  private def chooseTitle(texts: Seq[String], urls: Seq[String]): Option[String] = {
    var best: Option[String] = None
    texts.foreach { text =>
      val lower = text.toLowerCase(java.util.Locale.ROOT)
      val isUrlish = urls.contains(text) ||
        lower.contains("http://") || lower.contains("https://") || lower.contains("www.")
      if (!isUrlish && text.length <= 512 && best.forall(_.length < text.length))
        best = Some(text)
    }
    best
  }
}
