package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Forensic timestamp conversions (semantics: reference
  * src/parsers/time.rs:1-21 and src/parsers/sqlite_db.rs:412-413).
  *
  *  - WebKit/Chrome epoch: microseconds since 1601-01-01 UTC;
  *    unix_seconds = µs/1e6 − 11_644_473_600.
  *  - Firefox: unix microseconds.
  *  - Firefox cookie `expiry`: unix SECONDS (×1e6 before converting).
  *
  * Column forms stay inside whole-stage codegen (pure built-ins, no UDF);
  * the scalar forms serve the SQLite readers.
  */
object TimeConv {
  val WebkitToUnixSeconds: Long = 11644473600L
  val WebkitToUnixMicros: Long = WebkitToUnixSeconds * 1000000L
  private val MinPlausibleMicros = 631152000000000L // 1990-01-01T00:00:00Z in unix µs
  private val PlausibleSlackMicros = 2L * 86400 * 1000000

  /** Unix µs → Timestamp, flooring towards negative infinity. */
  def microTimestamp(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** WebKit µs → TimestampType. Zero/negative-window handling matches the
    * reference: values that would precede the unix epoch by more than the
    * WebKit offset are still converted arithmetically (no clamping).
    */
  def webkitMicros(c: Column): Column =
    timestamp_micros(c - lit(WebkitToUnixMicros))

  /** Unix µs → TimestampType. */
  def unixMicros(c: Column): Column = timestamp_micros(c)

  /** Unix seconds (Firefox cookie expiry) → TimestampType. */
  def unixSeconds(c: Column): Column = timestamp_micros(c * lit(1000000L))

  /** Plausibility window used by SQLite page-scan recovery
    * (reference src/parsers/sqlite_pages.rs:318-326):
    * 1990-01-01 ≤ t ≤ now + 2 days. `nowMicros` injected for determinism.
    */
  def plausibleMicros(us: Long, nowMicros: Long): Boolean =
    us >= MinPlausibleMicros && us <= nowMicros + PlausibleSlackMicros

  /** Chrome history `transition & 0xFF` → 11-way label
    * (reference src/parsers/sqlite_db.rs:624-639).
    */
  def chromeTransitionLabel(c: Column): Column = {
    val m = Map(
      0 -> "link", 1 -> "typed", 2 -> "auto_bookmark", 3 -> "auto_subframe",
      4 -> "manual_subframe", 5 -> "generated", 6 -> "auto_toplevel",
      7 -> "form_submit", 8 -> "reload", 9 -> "keyword", 10 -> "keyword_generated")
    val masked = c.bitwiseAND(lit(255L))
    m.foldLeft(when(lit(false), lit(""))) { case (acc, (k, v)) =>
      acc.when(masked === lit(k.toLong), lit(v))
    }.otherwise(lit("other"))
  }

  /** Firefox `visit_type` → 8-way label (sqlite_db.rs:641-653). */
  def firefoxVisitLabel(c: Column): Column = {
    val m = Map(
      1 -> "link", 2 -> "typed", 3 -> "bookmark", 4 -> "embed",
      5 -> "redirect_permanent", 6 -> "redirect_temporary", 7 -> "download",
      8 -> "framed_link")
    m.foldLeft(when(lit(false), lit(""))) { case (acc, (k, v)) =>
      acc.when(c === lit(k.toLong), lit(v))
    }.otherwise(lit("other"))
  }
}
