package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Raw-crawl text extraction: HTTP message splitting and HTML→text —
  * the bridge from a WARC `response` record (HTTP headers + HTML bytes)
  * to the text operators (boilerplate report q113, quality battery,
  * dedup, tokenizer). Until this module the crawl front door was
  * WET-only; with it, raw WARC response payloads feed the same
  * pipeline.
  *
  * Every function is a pure `Column` chain over codegen'd built-ins
  * (`regexp_replace`/`replace`/`substr` — no UDF in the hot path), and
  * the semantics are EXACT — a deterministic regex/replace sequence an
  * oracle replays verbatim — rather than a best-effort DOM walk:
  *
  *   1. `<script …>…</script>` and `<style …>…</style>` blocks drop
  *      whole (case-insensitive, dot-matches-newline, non-greedy).
  *   2. `<!-- … -->` comments drop.
  *   3. every remaining `<…>` tag becomes one space (attribute values
  *      containing a literal `>` end the tag early — documented
  *      regex-extraction semantics, identical on both engines).
  *   4. entities decode in ONE left-to-right pass (the codegen'd
  *      [[graft.functions.DecodeNumericRefsExpr]]): the core named set
  *      `&lt; &gt; &quot; &apos; &nbsp; &amp;` plus NUMERIC character
  *      references (`&#NNN;` / `&#xHH;`, semicolon required) under the
  *      HTML5 value rules (0x80–0x9F remaps through the windows-1252
  *      table; NUL/surrogates/out-of-range → U+FFFD). Single-pass =
  *      output never re-scanned, exactly HTML5's single decode:
  *      `&amp;#65;` yields the literal `&#65;` and `&#38;amp;` the
  *      literal `&amp;`. The long tail of NAMED entities passes
  *      through verbatim — for quality scoring and dedup the rare
  *      residue is noise-level. The SQL replay ([[inlineCleanSql]])
  *      expresses the named set as an `&amp;`-last replace chain —
  *      equivalent to the single pass on any input free of numeric
  *      refs (gate-checked for the oracle corpora); numeric-ref
  *      fixtures carry expected literals instead (the q297 pattern).
  *   5. whitespace runs (space/tab/CR/LF) collapse to one space; trim.
  *
  * At 100 TB this is the right shape: a narrow per-row expression
  * pipeline inside whole-stage codegen, no shuffle, no driver
  * involvement — extraction cost scales with payload bytes alone.
  */
object Html {

  private val Crlf2 = "\r\n\r\n"

  /** The body of an HTTP message (a WARC `response`/`request` payload):
    * everything after the first CRLFCRLF. NULL when the message has no
    * header terminator (a malformed or truncated capture — quarantine
    * shape, not silent empty text).
    */
  def httpBody(message: Column): Column = {
    val at = instr(message, Crlf2)
    when(at > lit(0), message.substr(at + lit(4), length(message)))
      .otherwise(lit(null))
  }

  /** The BODY BYTES of a binary HTTP message payload — byte-exact
    * through the lossless ISO-8859-1 round trip (headers are ASCII,
    * every byte maps to one char and back), so an image/pdf response
    * body feeds the carve/multimodal operators unmangled. NULL when
    * the message has no header terminator.
    */
  def httpBodyBytes(payload: Column): Column =
    encode(httpBody(decode(payload, "ISO-8859-1")), "ISO-8859-1")

  /** The HTTP status code of a response message (the leading
    * `HTTP/x.y NNN` line), NULL when absent — filter crawl captures to
    * 200s before extraction.
    */
  def httpStatus(message: Column): Column =
    nullif(regexp_extract(message, "^HTTP/[0-9.]+ ([0-9]{3})", 1), lit(""))
      .cast("int")

  /** One HTTP header value (first occurrence, case-insensitive name
    * match) from the message's header block, NULL when absent. `name`
    * must be a literal header name (it is embedded in the regex —
    * regex metacharacters are quoted).
    */
  def httpHeader(message: Column, name: String): Column = {
    val at = instr(message, Crlf2)
    val block = when(at > lit(0), message.substr(lit(1), at + lit(1)))
      .otherwise(message)
    nullif(regexp_extract(block,
      "(?i)(?:^|\r\n)" + java.util.regex.Pattern.quote(name) +
        ":[ \t]*([^\r\n]*)", 1), lit(""))
  }

  /** Steps 1–3: drop script/style blocks and comments whole. */
  private def stripped(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script\\b[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style\\b[^>]*>.*?</style>", " ")
    regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
  }

  /** Steps 4–6: strip remaining tags, decode the core entities
    * (`&amp;` LAST), collapse whitespace, trim.
    */
  /** The codec functions resolve by NAME at analysis time; register
    * them in the active session at Column-construction time so the
    * pure-column builders keep working in any session (the entry-point
    * registrations in Registry/WarcCorpus remain for plans built off
    * the driver thread, and GraftExtensions covers cluster deploys).
    */
  private def codecFn(name: String, args: Column*): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.functions.TextFunctions.register)
    call_function(name, args: _*)
  }

  private def inlineClean(c: Column): Column = {
    val noTags = regexp_replace(c, "(?s)<[^>]*>", " ")
    // ONE left-to-right entity pass (named set + numeric refs) in the
    // codegen'd kernel: output is never re-scanned, so `&amp;#65;`
    // stays the literal `&#65;` AND `&#38;amp;` stays the literal
    // `&amp;` — a replace chain gets one of the two wrong whichever
    // way it orders the &amp; step (HTML5 decodes each exactly once)
    val decoded = codecFn("graft_decode_nrefs", noTags)
    trim(regexp_replace(decoded, "[ \\t\\r\\n]+", " "))
  }

  /** HTML → text under the exact semantics documented on [[Html]]. */
  def htmlToText(html: Column): Column = inlineClean(stripped(html))

  /** The block-level tag boundary [[mainBlockText]] splits on —
    * open or close, attributes allowed, RE2-compatible (the name must
    * be followed by whitespace, '/', or the closing '>' so `<party>`
    * does not split as `<p…>`).
    */
  val blockTagRegex: String =
    "(?i)</?(?:p|div|br|h[1-6]|li|ul|ol|dl|dt|dd|table|thead|tbody|tr|td|th|" +
      "section|article|main|header|footer|nav|aside|blockquote|pre|form|" +
      "fieldset|figure|figcaption|hr|body|html|head|title)(?:[\\s/][^>]*)?>"

  /** The page's MAIN text block: script/style/comments drop, the page
    * splits at block-level tag boundaries ([[blockTagRegex]]), each
    * segment cleans under the [[htmlToText]] steps 4–6, and the
    * LONGEST cleaned segment wins (ties break to the
    * lexicographically-largest text — a total, engine-independent
    * order). The trafilatura-style boilerplate heuristic reduced to
    * exact, replayable semantics: nav/header/footer/sidebar segments
    * are short, body prose is long — on pages where boilerplate
    * dominates TOTAL length but no single boilerplate block beats the
    * prose block, this recovers the prose where whole-page
    * [[htmlToText]] buries it. One codegen'd expression; no shuffle,
    * no UDF.
    */
  def mainBlockText(html: Column): Column = {
    val segs = split(stripped(html), blockTagRegex)
    val ranked = transform(segs, x => {
      val t = inlineClean(x)
      struct(length(t).as("l"), t.as("t"))
    })
    array_max(ranked).getField("t")
  }

  /** Header values that become KEYS (frontier URLs, If-None-Match
    * tokens) shed trailing whitespace — httpHeader's capture runs to
    * the CR, and a server emitting `Location: /new ` would otherwise
    * mint a key with a trailing space that never joins the real
    * record. All-whitespace values fold to NULL like absent headers.
    */
  private def headerKey(v: Column): Column =
    nullif(regexp_replace(v, "[ \t]+$", ""), lit(""))

  /** The redirect target of a response message: its Location header
    * when the status is a redirect (301/302/303/307/308 — the codes a
    * fetcher follows; 300/304 deliberately excluded), NULL otherwise.
    * Location has been allowed RELATIVE since RFC 7231 §7.1.2 and real
    * servers use that freely — resolve the value against the record's
    * own URI via [[UrlOps.resolveUrl]] at the call site before keying
    * a frontier with it.
    */
  def redirectTarget(message: Column): Column =
    when(httpStatus(message).isin(301, 302, 303, 307, 308),
      headerKey(httpHeader(message, "Location")))

  /** The response's cache validators for a RECRAWL manifest:
    * `etag` and `last_modified` STRUCT fields (NULL when the header is
    * absent). A fetcher turns them into `If-None-Match` /
    * `If-Modified-Since` conditional GETs so an unchanged page costs a
    * 304 instead of a re-download — at crawl scale the difference
    * between refreshing a corpus and re-fetching it.
    */
  def validators(message: Column): Column = struct(
    headerKey(httpHeader(message, "ETag")).as("etag"),
    headerKey(httpHeader(message, "Last-Modified")).as("last_modified"))

  /** Whole-anchor harvest patterns (match = the full `<a …>…</a>`
    * element; double-/single-quoted href) — built on
    * [[UrlOps.hrefAttrPrefix]], the SAME attribute boundary as the
    * href harvest, so `data-href` trackers never harvest. The inner
    * match is TEMPERED (`(?:(?!<a[\s>]).)*?`): an UNCLOSED anchor
    * cannot lazily swallow the next one — it simply yields no pair
    * (its href still harvests via extractLinks) instead of stealing
    * its neighbor's text. `</a\s*>` admits the valid spaced end tag.
    * Spark-side-only patterns (the oracle predicts literals), so the
    * lookahead is fine — these are NOT RE2-compatible, unlike the
    * shared href patterns.
    */
  val anchorDqRegex: String = "(?is)" + graft.llm.UrlOps.hrefAttrPrefix +
    "\"[^\"]*\"[^>]*>(?:(?!<a[\\s>]).)*?</a\\s*>"
  val anchorSqRegex: String = "(?is)" + graft.llm.UrlOps.hrefAttrPrefix +
    "'[^']*'[^>]*>(?:(?!<a[\\s>]).)*?</a\\s*>"
  private val anchorInnerRegex = "(?is)^<a[^>]*>(.*)</a\\s*>\\z"

  /** (href, text) pairs of the page's `<a>` elements — anchor text is
    * a first-class training/ranking signal (how the web DESCRIBES a
    * link target, the complement of [[UrlOps.extractLinks]]'s
    * href-only harvest). Text cleans under the [[htmlToText]]
    * pipeline (inner tags out, one-pass entity decode, whitespace
    * collapse). Document order within each quote style, double-quoted
    * first — the [[UrlOps.extractLinks]] contract. Pinned reduction:
    * the opening tag ends at its first '>' (an unencoded '>' inside
    * an attribute value shifts that anchor's text, never a
    * neighbor's).
    */
  def anchorTexts(html: Column): Column = {
    def harvest(anchorRegex: String, hrefRegex: String) =
      transform(regexp_extract_all(html, lit(anchorRegex), lit(0)),
        m => struct(
          regexp_extract(m, hrefRegex, 1).as("href"),
          inlineClean(regexp_extract(m, anchorInnerRegex, 1)).as("text")))
    concat(harvest(anchorDqRegex, UrlOps.hrefDqRegex),
      harvest(anchorSqRegex, UrlOps.hrefSqRegex))
  }

  /** The `<loc>` harvest pattern (group 1 = the trimmed value) —
    * pinned regex extraction, not a full XML parse.
    */
  val locRegex: String = "(?is)<loc>\\s*(.*?)\\s*</loc>"

  /** Matches a body whose document ROOT is `<urlset>`/`<sitemapindex>`
    * — an optional BOM, whitespace, one XML prolog, and any number of
    * comments may precede it, nothing else. Root-anchored on purpose:
    * an anywhere-substring test would let an HTML page that EMBEDS
    * sitemap markup (a docs page quoting an example) harvest that
    * example's `<loc>` URLs as crawl keys. RE2-compatible (no
    * lookarounds: the comment body is the classic `[^-]|-[^-]|--[^>]`
    * alternation).
    */
  val sitemapRootRegex: String =
    "(?is)\\A\uFEFF?\\s*(?:<\\?xml[^>]*\\?>\\s*)?" +
      "(?:<!--(?:[^-]|-[^-]|--[^>])*-->\\s*)*" +
      "<(?:urlset|sitemapindex)[\\s>]"

  /** All `<loc>` values of a sitemap or sitemapindex XML body, in
    * document order, entity-decoded by the same one-pass kernel
    * [[htmlToText]] uses (a URL with query parameters legally carries
    * `&amp;` in XML). CDATA wrappers unwrap first — several CMS
    * sitemap generators emit `<loc><![CDATA[…]]></loc>`, and without
    * the unwrap every such URL harvests as `<![CDATA[…]]>` garbage
    * the downstream fetchability filter silently drops. Pinned
    * reduction: the unwrapped body then flows through the SAME entity
    * decode as plain values (an XML parser would skip decoding inside
    * CDATA; a CDATA loc carrying a literal `&amp;` therefore decodes
    * once here — the harmless direction for URLs, and it keeps the
    * operator one pure column chain). A sitemapindex's nested-sitemap
    * locs harvest identically — the caller routes each fetched body
    * by its own content, so one operator serves both sitemap-tree
    * levels.
    */
  def sitemapLocs(xml: Column): Column = transform(
    regexp_extract_all(
      regexp_replace(xml, "(?s)<!\\[CDATA\\[(.*?)\\]\\]>", "$1"),
      lit(locRegex), lit(1)),
    v => codecFn("graft_decode_nrefs", v))

  /** The page's robots meta directive (`<meta name="robots"
    * content="…">`, attributes in either order, quoted OR unquoted —
    * `<meta name=robots content=noindex>` is valid HTML5 and common
    * in the wild; a quoted-only pattern would wave those pages
    * through the compliance gate), lowercased; NULL when the page
    * declares none. Four RE2-compatible arms (no lookarounds): each
    * order × quoted/unquoted value; the name matches with an optional
    * quote and a required terminator so `name=robotsx` cannot match.
    */
  def metaRobots(html: Column): Column = {
    // name-first arms: the terminator after `robots` must NOT be able
    // to consume the tag's closing '>' — a [\s/>] class there let the
    // match LEAK into the next tag and return an unrelated content
    // attribute as the directive (content always follows name in
    // these arms, so whitespace/'/' is the only legal separator).
    // Content-first arms end at the name, where eating the final '>'
    // is harmless.
    val nameMid = "name\\s*=\\s*[\"']?robots[\"']?[\\s/]"
    val nameEnd = "name\\s*=\\s*[\"']?robots[\"']?[\\s/>]"
    val arms = Seq(
      s"(?is)<meta\\s[^>]*$nameMid[^>]*content\\s*=\\s*[\"']([^\"'>]*)[\"']",
      s"(?is)<meta\\s[^>]*${nameMid}[^>]*content\\s*=\\s*([^\\s\"'>]+)",
      s"(?is)<meta\\s[^>]*content\\s*=\\s*[\"']([^\"'>]*)[\"'][^>]*$nameEnd",
      s"(?is)<meta\\s[^>]*content\\s*=\\s*([^\\s\"'>]+)[^>]*$nameEnd")
    lower(coalesce(arms.map(a =>
      nullif(regexp_extract(html, a, 1), lit(""))): _*))
  }

  /** True when the page opts out of indexing (`noindex` anywhere in
    * the robots directive) — the compliance filter a crawl-sourced
    * training corpus applies before anything else reads the text.
    * Pages with no directive are indexable (false), matching the
    * robots exclusion default.
    */
  def noindex(html: Column): Column =
    coalesce(instr(metaRobots(html), "noindex") > lit(0), lit(false))

  /** The charset a response message declares, lowercased: the
    * `Content-Type` header's `charset=` parameter first, then an HTML
    * `<meta charset=…>` / http-equiv tag in the body; NULL when
    * neither declares one (callers default to UTF-8, the web norm).
    */
  def declaredCharset(msg: Column): Column = lower(coalesce(
    nullif(regexp_extract(coalesce(httpHeader(msg, "Content-Type"), lit("")),
      "(?i)charset=[\"']?([A-Za-z0-9_.:-]+)", 1), lit("")),
    nullif(regexp_extract(msg,
      "(?is)<meta\\s[^>]*charset\\s*=\\s*[\"']?([A-Za-z0-9_.:-]+)", 1),
      lit(""))))

  /** The pinned charset-label dispatch [[responseTextCharset]] applies:
    * each entry maps the DECLARED labels (lowercased, WHATWG alias
    * families) to the JVM charset that decodes them. The split between
    * builtin and codec arms is an implementation detail: utf-8 and the
    * latin1 family ride Spark's builtin `decode`; everything else goes
    * through the codegen'd [[graft.functions.DecodeCharsetExpr]]
    * because Spark 4 pins builtin decode's charset whitelist.
    * windows-1252 decodes under the REAL cp1252 table (curly quotes,
    * em-dashes, € in 0x80–0x9F — no longer approximated as latin1);
    * gb2312 labels decode as GBK (the WHATWG mapping — real "gb2312"
    * pages routinely carry GBK extensions); big5-hkscs decodes as
    * plain Big5 (HKSCS extension chars → U+FFFD, documented); the
    * euc-kr family decodes as JVM EUC-KR (KS X 1001 — the rare
    * windows-949 extended syllables → U+FFFD, documented).
    */
  val CharsetDispatch: Seq[(Seq[String], String)] = Seq(
    Seq("windows-1252", "cp1252", "x-cp1252") -> "windows-1252",
    Seq("shift_jis", "shift-jis", "sjis", "x-sjis", "ms_kanji") -> "Shift_JIS",
    Seq("euc-jp", "x-euc-jp", "eucjp") -> "EUC-JP",
    Seq("gb2312", "gbk", "x-gbk", "gb_2312", "gb_2312-80", "csgb2312",
      "chinese") -> "GBK",
    Seq("gb18030") -> "GB18030",
    Seq("big5", "big5-hkscs", "cn-big5", "x-x-big5", "csbig5") -> "Big5",
    Seq("euc-kr", "ks_c_5601-1987", "ksc_5601", "ksc5601", "korean",
      "csksc56011987") -> "EUC-KR")

  /** Charset-aware response text: real crawls are NOT all UTF-8, and
    * decoding a latin-1 or shift_jis page as UTF-8 mangles every
    * non-ASCII byte into U+FFFD irreversibly. The trick that keeps
    * this a pure column chain: the message splits on its ISO-8859-1
    * view — a BYTE-LOSSLESS decode (every byte maps to one char and
    * back), and HTTP headers are ASCII so the split offsets are exact
    * — then the body re-encodes to its original bytes and decodes
    * under the DECLARED charset: utf-8 (default) and the latin1
    * family on builtin `decode`, plus the [[CharsetDispatch]] CJK/
    * cp1252 arms on the codegen'd codec expression. The CRLFCRLF
    * header split is byte-safe for every dispatched charset — 0x0D/
    * 0x0A are never trail bytes in Shift_JIS/EUC/GBK/Big5 multibyte
    * sequences. Returns the HTML→text extraction of the correctly-
    * decoded body.
    */
  def responseTextCharset(payload: Column): Column = {
    val msg = decode(payload, "ISO-8859-1")
    val cs = declaredCharset(msg)
    val bodyBytes = encode(httpBody(msg), "ISO-8859-1")
    val base = when(cs.isin("iso-8859-1", "iso8859-1", "latin1", "latin-1",
        "us-ascii", "ascii"),
        decode(bodyBytes, "ISO-8859-1"))
    val text = CharsetDispatch.foldLeft(base) { case (acc, (labels, jvm)) =>
      acc.when(cs.isin(labels: _*),
        codecFn("graft_decode_charset", bodyBytes, lit(jvm)))
    }.otherwise(decode(bodyBytes, "UTF-8"))
    htmlToText(text)
  }

  private def rrSql(x: String, pat: String, flags: String): String =
    s"regexp_replace($x, '$pat', ' ', '$flags')"

  /** DuckDB replay of [[stripped]] (steps 1–3). */
  def strippedSql(inner: String): String = {
    val noScript = rrSql(inner, "(?is)<script\\b[^>]*>.*?</script>", "gis")
    val noStyle = rrSql(noScript, "(?is)<style\\b[^>]*>.*?</style>", "gis")
    rrSql(noStyle, "(?s)<!--.*?-->", "gs")
  }

  /** DuckDB replay of [[inlineClean]] (steps 4–6). */
  def inlineCleanSql(inner: String): String = {
    val noTags = rrSql(inner, "(?s)<[^>]*>", "gs")
    val decoded =
      s"""replace(replace(replace(replace(replace(replace($noTags,
         |  '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
         |  '&apos;', chr(39)), '&nbsp;', ' ')""".stripMargin
    val amp = s"replace($decoded, '&amp;', '&')"
    s"trim(regexp_replace($amp, '[ \\t\\r\\n]+', ' ', 'g'))"
  }

  /** The equivalent DuckDB SQL chain for [[htmlToText]] applied to the
    * SQL expression `inner` — the single source the oracle queries
    * share, so the Spark semantics and the replay can never drift
    * apart. DuckDB's regexp_replace needs the explicit 'g' flag (Spark
    * is global by default); the patterns are RE2-and-Java-compatible
    * (no backreferences, inline (?is) flags only).
    */
  def htmlToTextSql(inner: String): String = inlineCleanSql(strippedSql(inner))

  /** DuckDB replay of [[mainBlockText]]: the same split (the
    * [[blockTagRegex]] constant rides in verbatim), the same per-
    * segment clean, struct (length, text) max — DuckDB's struct
    * ordering matches Spark's field-by-field comparison, so the
    * argmax and its tiebreak agree exactly.
    */
  def mainBlockTextSql(inner: String): String = {
    val clean = inlineCleanSql("x")
    s"""(list_max(list_transform(
       |  regexp_split_to_array(${strippedSql(inner)}, '$blockTagRegex'),
       |  x -> struct_pack(l := length($clean), t := $clean)))).t""".stripMargin
  }

  /** DuckDB SQL for [[httpBody]] over expression `inner`. */
  def httpBodySql(inner: String): String = {
    val crlf2 = "chr(13) || chr(10) || chr(13) || chr(10)"
    s"""CASE WHEN strpos($inner, $crlf2) > 0
       |THEN substr($inner, strpos($inner, $crlf2) + 4) ELSE NULL END""".stripMargin
  }
}
