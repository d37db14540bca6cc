package graft.ops

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPInputStream

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** WARC ingestion — the crawl-archive front door of a training-data
  * pipeline (Common Crawl ships WARC: per-record gzip members, WARC
  * headers, an HTTP message, then HTML). Pure JDK: gzip via
  * `java.util.zip` (multi-member streams read through), header parsing
  * and HTML text extraction are string work. Same honest salvage
  * posture as [[MediaCodecs]]: a malformed record ends that payload's
  * parse (records already parsed are kept), a non-WARC payload yields
  * no rows, nothing throws on data.
  *
  * Scale shape: one narrow `mapPartitions` over (id, payload) — archive
  * bytes never shuffle; the emitted rows carry only headers + extracted
  * text. Decompression and parsing are per-record, so memory is bounded
  * by the largest single record, not the archive.
  */
object Warc {

  /** Decompress a (possibly multi-member) gzip payload; non-gzip bytes
    * pass through unchanged (WARCs come both ways). Malformed gzip
    * yields the bytes decoded so far (salvage, never throw). */
  def gunzip(b: Array[Byte]): Array[Byte] = {
    if (b.length < 2 || (b(0) & 0xff) != 0x1f || (b(1) & 0xff) != 0x8b) return b
    // Initial capacity only (the stream grows): cap it — b.length * 4
    // overflows Int on ~512 MiB payloads, and ByteArrayOutputStream
    // throws on a negative capacity BEFORE the salvage try.
    val out = new ByteArrayOutputStream(
      math.max(64L, math.min(b.length.toLong * 4, 1L << 26)).toInt)
    try {
      // GZIPInputStream reads concatenated members natively.
      val in = new GZIPInputStream(new ByteArrayInputStream(b))
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
    } catch { case _: java.io.IOException => () } // keep what decoded
    out.toByteArray
  }

  /** One parsed WARC record: headers + raw body bytes. */
  final case class WarcRecord(headers: Map[String, String], body: Array[Byte]) {
    def header(name: String): Option[String] = headers.get(name.toLowerCase)
  }

  /** Parse WARC records (version line, CRLF headers, Content-Length-framed
    * body, CRLF CRLF separator). Stops at the first malformed record. */
  def parseRecords(raw: Array[Byte]): Seq[WarcRecord] = {
    val b = gunzip(raw)
    val out = Seq.newBuilder[WarcRecord]
    var p = 0
    var ok = true
    def line(): Option[String] = {
      var q = p
      while (q + 1 < b.length && !(b(q) == '\r' && b(q + 1) == '\n')) q += 1
      if (q + 1 >= b.length) None
      else { val s = new String(b, p, q - p, StandardCharsets.UTF_8); p = q + 2; Some(s) }
    }
    while (ok && p < b.length) {
      // Skip inter-record blank lines.
      while (p + 1 < b.length && b(p) == '\r' && b(p + 1) == '\n') p += 2
      if (p >= b.length) ok = false
      else line() match {
        case Some(v) if v.startsWith("WARC/") =>
          var hs = Map.empty[String, String]
          var inHeaders = true
          while (inHeaders) line() match {
            case Some("") => inHeaders = false
            case Some(h) =>
              val i = h.indexOf(':')
              if (i > 0) hs += (h.take(i).trim.toLowerCase -> h.drop(i + 1).trim)
            case None => inHeaders = false; ok = false
          }
          // toLongOption alone admits a negative length, and
          // copyOfRange(from > to) then THROWS out of the salvage path.
          val len = hs.get("content-length").flatMap(_.toLongOption)
            .filter(n => n >= 0 && n <= Int.MaxValue)
          (len, ok) match {
            case (Some(n), true) if p + n <= b.length =>
              out += WarcRecord(hs, java.util.Arrays.copyOfRange(b, p, p + n.toInt))
              p += n.toInt
            case _ => ok = false // truncated or unframed body: stop, keep prior
          }
        case _ => ok = false
      }
    }
    out.result()
  }

  /** De-chunk a `Transfer-Encoding: chunked` HTTP body: hex size line
    * (chunk extensions after ';' ignored) + CRLF, chunk bytes, CRLF,
    * terminated by a zero-size chunk (trailer headers ignored). Real
    * Common Crawl response records preserve the raw wire bytes, so
    * chunk framing reaches us verbatim. Salvage posture: malformed or
    * truncated framing keeps the chunk bytes decoded so far. */
  def dechunk(b: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(math.min(math.max(64, b.length), 1 << 20))
    var p = 0
    var done = false
    while (!done) {
      // Size lines from sloppy servers use bare LF; accept '\n' with an
      // optional preceding '\r' (CRLF remains the common case).
      var q = p
      while (q < b.length && b(q) != '\n') q += 1
      if (q >= b.length) done = true // no terminated size line: stop
      else {
        val lineEnd = if (q > p && b(q - 1) == '\r') q - 1 else q
        val sizeLine = new String(b, p, lineEnd - p, StandardCharsets.US_ASCII)
        val hexPart = sizeLine.takeWhile(_ != ';').trim
        val size =
          try java.lang.Long.parseLong(hexPart, 16)
          catch { case _: NumberFormatException => -1L }
        if (size <= 0 || size > Int.MaxValue) done = true // terminal 0 / junk
        else {
          val start = q + 1
          if (start + size > b.length) { // truncated: keep what arrived
            if (start < b.length) out.write(b, start, b.length - start)
            done = true
          } else {
            out.write(b, start, size.toInt)
            p = start + size.toInt
            if (p + 1 < b.length && b(p) == '\r' && b(p + 1) == '\n') p += 2
            else if (p < b.length && b(p) == '\n') p += 1 // bare-LF framing
            else done = true // missing chunk-data CRLF: stop (bytes kept)
          }
        }
      }
    }
    out.toByteArray
  }

  /** Inflate a `Content-Encoding: deflate` body. Servers ship both the
    * RFC-correct zlib wrapper and (widely) raw deflate streams — run
    * BOTH parses and pick the one that completed (`Inflater.finished`),
    * falling back to whichever consumed more input (then produced more
    * output). A raw-deflate body whose first two bytes coincidentally
    * form a valid zlib header makes the zlib attempt emit a short
    * garbage prefix before erroring — the completed raw parse must win
    * over that partial zlib output, while a genuinely truncated zlib
    * stream (neither attempt finishes, zlib consumed nearly all input)
    * still salvages its decoded prefix. None when neither attempt
    * yields bytes, so compressed garbage never becomes document text. */
  def inflate(b: Array[Byte]): Option[Array[Byte]] = {
    // (decoded bytes, reached end-of-stream, input bytes consumed)
    def attempt(raw: Boolean): (Array[Byte], Boolean, Long) = {
      val inf = new java.util.zip.Inflater(raw)
      try {
        inf.setInput(b)
        val out = new ByteArrayOutputStream(
          math.max(64L, math.min(b.length.toLong * 4, 1L << 26)).toInt)
        val buf = new Array[Byte](8192)
        try {
          var going = true
          while (going && !inf.finished()) {
            val n = inf.inflate(buf)
            if (n > 0) out.write(buf, 0, n)
            else going = false // needsInput (truncated) or needsDictionary
          }
        } catch { case _: java.util.zip.DataFormatException => () }
        (out.toByteArray, inf.finished(), inf.getBytesRead)
      } finally inf.end()
    }
    val best = Seq(attempt(raw = false), attempt(raw = true))
      .maxBy { case (o, fin, read) => (fin, read, o.length.toLong) }
    if (best._1.nonEmpty) Some(best._1) else None
  }

  /** Apply `Content-Encoding`: the header is a comma-separated list in
    * application order (`gzip, identity` and `identity, gzip` are both
    * legal and both mean gzip), so decode the codings right-to-left,
    * dropping `identity`/empty tokens. None as soon as any coding is
    * one we cannot decode with the pure JDK (br, zstd, …) — the caller
    * must null the text rather than emit compressed bytes as document
    * content. */
  def contentDecode(coding: Option[String], body: Array[Byte]): Option[Array[Byte]] = {
    val codings = coding.toSeq.flatMap(_.split(',')).map(_.trim.toLowerCase)
      .filter(c => c.nonEmpty && c != "identity")
    codings.foldRight(Option(body)) { (c, acc) =>
      acc.flatMap { bytes =>
        c match {
          case "gzip" | "x-gzip" => Some(gunzip(bytes))
          case "deflate" => inflate(bytes)
          case _ => None
        }
      }
    }
  }

  private def lookupCharset(name: String): Option[java.nio.charset.Charset] =
    try Some(java.nio.charset.Charset.forName(name))
    catch { case _: Exception => None }

  /** Charset from a Content-Type's `charset=` parameter (quoted or
    * bare); None when absent or unknown to `java.nio.charset`. */
  def headerCharset(contentType: Option[String]): Option[java.nio.charset.Charset] =
    contentType.flatMap { ct =>
      ct.split(';').iterator.map(_.trim).collectFirst {
        case p if p.toLowerCase.startsWith("charset=") =>
          p.substring(8).trim.stripPrefix("\"").stripSuffix("\"")
      }
    }.flatMap(lookupCharset)

  /** Charset from a Content-Type's `charset=` parameter, UTF-8 when
    * absent or unknown. String construction from bytes uses
    * malformed-input REPLACEMENT (U+FFFD), so no page can throw out of
    * the decode. Header-only view; [[sniffCharset]] adds the BOM / HTML
    * `<meta>` fallbacks real crawl pages need. */
  def charsetOf(contentType: Option[String]): java.nio.charset.Charset =
    headerCharset(contentType).getOrElse(StandardCharsets.UTF_8)

  /** Charset from a byte-order mark, None when the body carries none. */
  def bomCharset(body: Array[Byte]): Option[java.nio.charset.Charset] = {
    def at(i: Int): Int = if (i < body.length) body(i) & 0xff else -1
    // UTF-32 BOMs first: FF FE 00 00 is also a valid UTF-16LE prefix.
    if (at(0) == 0xff && at(1) == 0xfe && at(2) == 0x00 && at(3) == 0x00)
      lookupCharset("UTF-32LE")
    else if (at(0) == 0x00 && at(1) == 0x00 && at(2) == 0xfe && at(3) == 0xff)
      lookupCharset("UTF-32BE")
    else if (at(0) == 0xef && at(1) == 0xbb && at(2) == 0xbf) Some(StandardCharsets.UTF_8)
    else if (at(0) == 0xff && at(1) == 0xfe) Some(StandardCharsets.UTF_16LE)
    else if (at(0) == 0xfe && at(1) == 0xff) Some(StandardCharsets.UTF_16BE)
    else None
  }

  private val metaCharsetRe =
    "(?is)<meta[^>]*charset\\s*=\\s*[\"']?([\\w.:+-]+)".r

  /** Charset declared inside the HTML itself: a bounded prescan of the
    * first `limit` bytes (decoded byte-preserving as latin-1, the
    * browser-prescan convention) for `<meta charset=...>` or the
    * `http-equiv` content-type form. None when absent or unknown. */
  def metaCharset(body: Array[Byte], limit: Int = 1024): Option[java.nio.charset.Charset] = {
    val end = math.min(body.length, limit)
    // Guard before the String + regex: most no-header-charset pages have
    // no <meta charset> either; a raw byte scan for "<meta" (ASCII
    // case-folded — ISO-8859-1 maps bytes 1:1 to chars, so a byte-level
    // miss is a char-level miss) skips the expensive path entirely.
    var i = 0
    var found = false
    while (!found && i + 5 <= end) {
      if (body(i) == '<' && (body(i + 1) | 0x20) == 'm' &&
        (body(i + 2) | 0x20) == 'e' && (body(i + 3) | 0x20) == 't' &&
        (body(i + 4) | 0x20) == 'a') found = true
      i += 1
    }
    if (!found) return None
    val head = new String(body, 0, end, StandardCharsets.ISO_8859_1)
    metaCharsetRe.findFirstMatchIn(head).map(_.group(1)).flatMap(lookupCharset)
  }

  /** Charset for an HTTP text body, in the precedence real crawl
    * pipelines (and browsers) use: the Content-Type header's `charset=`
    * parameter wins; else a byte-order mark; else an HTML
    * `<meta charset=...>` / `http-equiv` declaration in the first ~1 KB
    * (very common on the Shift-JIS/GBK/latin-2 web, where the server
    * sends a bare `text/html` and only the page declares its
    * encoding); else UTF-8. */
  def sniffCharset(contentType: Option[String], body: Array[Byte]): java.nio.charset.Charset =
    headerCharset(contentType)
      .orElse(bomCharset(body))
      .orElse(metaCharset(body))
      .getOrElse(StandardCharsets.UTF_8)

  /** Decode a text body via [[sniffCharset]], with malformed input
    * replaced by U+FFFD and a leading BOM (U+FEFF) stripped. */
  def decodeText(body: Array[Byte], contentType: Option[String]): String = {
    val s = new String(body, sniffCharset(contentType, body))
    if (s.nonEmpty && s.charAt(0) == '\uFEFF') s.substring(1) else s
  }

  /** One parsed HTTP message. `body` has transfer framing (chunked)
    * removed and `Content-Encoding` applied when decodable; when the
    * coding is one the JDK can't decode (`decoded = false`) the body is
    * the still-encoded bytes and must not be treated as text. */
  final case class HttpMessage(status: Int, headers: Map[String, String],
                               body: Array[Byte], decoded: Boolean) {
    def header(name: String): Option[String] = headers.get(name.toLowerCase)
  }

  private val crlf = java.util.regex.Pattern.compile("\r\n")

  /** Parse an HTTP response: status line, CRLF headers (first value
    * wins on duplicates), then the body de-chunked per
    * `Transfer-Encoding` and decompressed per `Content-Encoding`.
    * None if the bytes are not an HTTP response message. */
  def httpParse(raw: Array[Byte]): Option[HttpMessage] = {
    if (raw.length < 12 || !new String(raw, 0, 5, StandardCharsets.US_ASCII)
        .equalsIgnoreCase("HTTP/")) return None
    var p = 0
    var headerEnd = -1
    while (headerEnd < 0 && p + 3 < raw.length) {
      if (raw(p) == '\r' && raw(p + 1) == '\n' &&
          raw(p + 2) == '\r' && raw(p + 3) == '\n') headerEnd = p
      p += 1
    }
    if (headerEnd < 0) return None
    val head = new String(raw, 0, headerEnd, StandardCharsets.UTF_8)
    val lines = crlf.split(head) // hoisted: String.split("\r\n") compiles per call
    val status = lines.head.split(" ").lift(1).flatMap(_.toIntOption).getOrElse(return None)
    var headers = Map.empty[String, String]
    lines.tail.foreach { l =>
      val i = l.indexOf(':')
      if (i > 0) {
        val k = l.take(i).trim.toLowerCase
        if (!headers.contains(k)) headers += (k -> l.drop(i + 1).trim)
      }
    }
    val wire = java.util.Arrays.copyOfRange(raw, headerEnd + 4, raw.length)
    // Transfer codings (RFC 9112): the list is in application order, so
    // undo right-to-left — "gzip, chunked" de-chunks then gunzips. An
    // unrecognized coding (compress, …) means the remaining bytes are
    // still encoded: mark the message undecoded so the caller nulls the
    // text instead of emitting compressed bytes as document content.
    val teTokens = headers.get("transfer-encoding").toSeq
      .flatMap(_.split(',')).map(_.trim.toLowerCase)
      .filter(t => t.nonEmpty && t != "identity")
    var framed = wire
    var teOk = true
    teTokens.reverseIterator.foreach { t =>
      if (teOk) t match {
        case "chunked" => framed = dechunk(framed)
        case "gzip" | "x-gzip" => framed = gunzip(framed)
        case "deflate" => inflate(framed) match {
          case Some(d) => framed = d
          case None => teOk = false
        }
        case _ => teOk = false
      }
    }
    if (!teOk) return Some(HttpMessage(status, headers, framed, decoded = false))
    contentDecode(headers.get("content-encoding"), framed) match {
      case Some(d) => Some(HttpMessage(status, headers, d, decoded = true))
      case None => Some(HttpMessage(status, headers, framed, decoded = false))
    }
  }

  /** Split an HTTP message into (status, content-type, decoded body);
    * None if the body is not an HTTP message. Thin view over
    * [[httpParse]] (which also exposes all headers + decodability). */
  def httpSplit(body: Array[Byte]): Option[(Int, Option[String], Array[Byte])] =
    httpParse(body).map(m => (m.status, m.header("content-type"), m.body))

  private val scriptStyle =
    "(?is)<(script|style)\\b[^>]*>.*?</\\1\\s*>".r
  private val comments = "(?s)<!--.*?-->".r
  private val tags = "(?s)<[^>]*>".r
  private val entity =
    "&(amp|lt|gt|quot|apos|nbsp|#x[0-9a-fA-F]{1,6}|#[0-9]{1,7});".r
  // Hoisted patterns for the per-record hot path: `String.replaceAll` /
  // inline `.r` re-compile their pattern on EVERY call, and the
  // whitespace collapse below runs once per LINE — measured as a real
  // slice of crawl-ingest cost at sf0.1 (round-13 WARC-ingest cost
  // decomposition, SURVEY §6).
  private val sourceWsRun = java.util.regex.Pattern.compile("[\\r\\n\\t]+")
  private val blockTags = java.util.regex.Pattern.compile(
    "(?i)<(br|/p|/div|/h[1-6]|/li|/tr|/title)\\b[^>]*>")
  private val lineWsRun = java.util.regex.Pattern.compile("[ \\t\\x0B\\f\\r]+")

  /** HTML → whitespace-normalized plain text: script/style/comment blocks
    * drop whole, tags drop, block-ish tags become newlines before
    * stripping (so headings/paragraphs don't fuse into one word), the
    * common named entities plus all numeric entities decode. A
    * deterministic heuristic — the curation-grade extraction real
    * pipelines run before quality filters, not a browser.
    *
    * Implementation: the script/style/comment/entity passes stay regex
    * (guarded by a cheap containment scan — most pages in a curation
    * stream have no comments, and many no entities), while the three
    * structural passes (source-ws collapse + block-tag newlines,
    * generic tag strip, line normalize) are fused manual scans —
    * the round-13 WARC-ingest decomposition (SURVEY §6) measured the
    * regex forms of those passes as the
    * bulk of per-record HTML cost, and crawl ingest pays this on every
    * page. [[htmlToTextReference]] keeps the original regex cascade;
    * WarcSpec pins output identity on randomized adversarial markup. */
  def htmlToText(html: String): String = {
    val guard = guardFlags(html)
    var s = if ((guard & 1) != 0) scriptStyle.replaceAllIn(html, " ") else html
    if ((guard & 2) != 0) s = comments.replaceAllIn(s, " ")
    s = stripMarkup(s)
    s = stripTags(s)
    // ONE pass for named + numeric entities: chained global replaces
    // double-decode ("&amp;lt;" — an author literally writing "&lt;" —
    // must yield "&lt;", not "<"; each source position decodes at most
    // once).
    if (s.indexOf('&') >= 0) s = decodeEntities(s)
    collapseLines(s)
  }

  /** The original all-regex [[htmlToText]] cascade — kept as the
    * executable specification the fused manual passes are pinned
    * against (WarcSpec randomized equivalence). */
  private[graft] def htmlToTextReference(html: String): String = {
    var s = scriptStyle.replaceAllIn(html, " ")
    s = comments.replaceAllIn(s, " ")
    // Source newlines are layout, not content (browser semantics):
    // normalize them to spaces BEFORE block tags inject real breaks.
    s = sourceWsRun.matcher(s).replaceAll(" ")
    s = blockTags.matcher(s).replaceAll("\n")
    s = tags.replaceAllIn(s, " ")
    s = decodeEntities(s)
    s.split('\n').iterator.map(l => lineWsRun.matcher(l).replaceAll(" ").trim)
      .filter(_.nonEmpty).mkString("\n")
  }

  /** One extracted HTML block: whitespace-normalized text plus RAW
    * non-whitespace char counts (total and inside `<a>` anchors —
    * entities count at their raw source length on both sides, so the
    * density stays consistent). */
  final case class HtmlBlock(text: String, nChars: Int, nLinkChars: Int) {
    def linkDensity: Double =
      if (nChars == 0) 0.0 else nLinkChars.toDouble / nChars
  }

  private val segmentBlockNames: Set[String] = Set(
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "tr", "td", "th",
    "table", "ul", "ol", "br", "title", "section", "article", "header",
    "footer", "nav", "blockquote", "pre", "form", "hr")
  private val anyWsRun = java.util.regex.Pattern.compile("\\s+")

  /** HTML → content BLOCKS (the segmentation the boilerplate-classifier
    * family — jusText/Boilerpipe, published recipes — runs on): text
    * split at block-level tags, each block carrying its anchor-text
    * share. Link density is the signal that only exists BEFORE tag
    * stripping — nav bars, footers, and related-article lists are
    * link-dense while body prose is not — which is exactly the
    * information [[htmlToText]] (and any line-level cleaner downstream
    * of it, like C4) has already lost. Same deterministic posture as
    * [[htmlToText]]: script/style/comment blocks drop whole, entities
    * decode once, unterminated tags drop to end-of-input. */
  def htmlBlocks(html: String): Vector[HtmlBlock] = {
    val guard = guardFlags(html)
    var s = if ((guard & 1) != 0) scriptStyle.replaceAllIn(html, " ") else html
    if ((guard & 2) != 0) s = comments.replaceAllIn(s, " ")
    val out = Vector.newBuilder[HtmlBlock]
    val sb = new java.lang.StringBuilder
    var nonWs = 0; var linkWs = 0; var linkDepth = 0
    def flush(): Unit = {
      if (nonWs > 0) {
        var text = sb.toString
        if (text.indexOf('&') >= 0) text = decodeEntities(text)
        text = anyWsRun.matcher(text).replaceAll(" ").trim
        if (text.nonEmpty) out += HtmlBlock(text, nonWs, linkWs)
      }
      sb.setLength(0); nonWs = 0; linkWs = 0
    }
    var i = 0; val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<') {
        val close = s.indexOf('>', i + 1)
        if (close < 0) i = n // unterminated tag: drop to end (stripTags rule)
        else {
          var j = i + 1
          var closing = false
          if (j < close && s.charAt(j) == '/') { closing = true; j += 1 }
          val start = j
          while (j < close && {
            val cc = asciiLower(s.charAt(j))
            (cc >= 'a' && cc <= 'z') || (cc >= '0' && cc <= '9')
          }) j += 1
          val name = s.substring(start, j).toLowerCase(java.util.Locale.ROOT)
          if (name == "a") {
            if (closing) linkDepth = math.max(0, linkDepth - 1)
            else linkDepth += 1
            sb.append(' ')
          } else if (segmentBlockNames.contains(name)) flush()
          else sb.append(' ') // inline tag = word separator
          i = close + 1
        }
      } else {
        sb.append(c)
        if (!Character.isWhitespace(c)) {
          nonWs += 1
          if (linkDepth > 0) linkWs += 1
        }
        i += 1
      }
    }
    flush()
    out.result()
  }

  /** Main-content extraction over [[htmlBlocks]] — jusText-lite: keep a
    * block iff it is long enough (`minChars` raw chars), link-sparse
    * (`linkDensity <= maxLinkDensity` — nav/footer/related-list blocks
    * are link-dense), and (optionally, `minStopwordRatio > 0`) carries
    * at least that ratio of stopword tokens — the published signal that
    * prose has function words while keyword lists and code don't. Kept
    * blocks join with newlines, ready for the same funnel
    * [[htmlToText]] output feeds; prefer this extraction when nav-chrome
    * leakage matters more than total recall of page text. */
  def mainContent(html: String, maxLinkDensity: Double = 0.35,
                  minChars: Int = 25, minStopwordRatio: Double = 0.0,
                  stopwords: Seq[String] = TextOps.defaultStopwords): String = {
    require(maxLinkDensity >= 0.0 && maxLinkDensity <= 1.0,
      s"maxLinkDensity must be in [0,1], got $maxLinkDensity")
    val sw = stopwords.toSet
    htmlBlocks(html).iterator.filter { b =>
      b.nChars >= minChars && b.linkDensity <= maxLinkDensity &&
        (minStopwordRatio <= 0.0 || {
          val toks = b.text.toLowerCase(java.util.Locale.ROOT)
            .split("[^a-z']+").filter(_.nonEmpty)
          toks.nonEmpty &&
            toks.count(sw.contains).toDouble / toks.length >= minStopwordRatio
        })
    }.map(_.text).mkString("\n")
  }

  /** One guard scan for the two regex passes: bit 0 = a `<script` or
    * `<style` opener exists (ASCII case-folded — `(?i)` in Java regex is
    * ASCII-only without UNICODE_CASE, so folding here is exactly as
    * strict), bit 1 = a `<!--` comment opener exists. A miss means the
    * corresponding regex cannot match (both patterns REQUIRE that
    * literal opener), so the pass is skipped. */
  private def guardFlags(s: String): Int = {
    var flags = 0
    var i = s.indexOf('<')
    val n = s.length
    while (i >= 0 && flags != 3) {
      if ((flags & 1) == 0 && i + 6 < n) {
        val c1 = asciiLower(s.charAt(i + 1))
        if (c1 == 's') {
          if ((asciiLower(s.charAt(i + 2)) == 'c' && asciiLower(s.charAt(i + 3)) == 'r' &&
               asciiLower(s.charAt(i + 4)) == 'i' && asciiLower(s.charAt(i + 5)) == 'p' &&
               asciiLower(s.charAt(i + 6)) == 't') ||
              (asciiLower(s.charAt(i + 2)) == 't' && asciiLower(s.charAt(i + 3)) == 'y' &&
               asciiLower(s.charAt(i + 4)) == 'l' && asciiLower(s.charAt(i + 5)) == 'e'))
            flags |= 1
        }
      }
      if ((flags & 2) == 0 && i + 3 < n &&
        s.charAt(i + 1) == '!' && s.charAt(i + 2) == '-' && s.charAt(i + 3) == '-')
        flags |= 2
      i = s.indexOf('<', i + 1)
    }
    flags
  }

  private def asciiLower(c: Char): Char =
    if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

  private def isWordChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '_'

  // Block-level tag names in the alternation order of the original
  // regex; '/'-prefixed entries are closing forms, as in the regex.
  private val blockNames = Array(
    "br", "/p", "/div", "/h1", "/h2", "/h3", "/h4", "/h5", "/h6",
    "/li", "/tr", "/title")

  /** End index (exclusive) of a block-tag NAME starting right after the
    * '<' at `i`, with the regex's `\b` boundary satisfied (next char is
    * not a word char, or end of input); -1 when no block name matches. */
  private def blockNameEnd(s: String, i: Int): Int = {
    val n = s.length
    var b = 0
    while (b < blockNames.length) {
      val name = blockNames(b)
      val len = name.length
      if (i + 1 + len <= n) {
        var k = 0
        while (k < len && asciiLower(s.charAt(i + 1 + k)) == name.charAt(k)) k += 1
        if (k == len) {
          val after = i + 1 + len
          if (after >= n || !isWordChar(s.charAt(after))) return after
        }
      }
      b += 1
    }
    -1
  }

  /** Fused manual form of the first two structural passes: collapse
    * every `[\r\n\t]+` run to one space AND replace each block-level
    * tag (`<br …>`, `</p …>`, …) with a newline. Exactly equivalent to
    * `sourceWsRun→" "` then `blockTags→"\n"`: the ws collapse ran first
    * in the cascade, but it neither creates nor destroys '<'/'>' and
    * turns ws into (non-word) spaces, so the block match and its `\b`
    * boundary are decided identically on the original chars. */
  private def stripMarkup(s: String): String = {
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '\r' || c == '\n' || c == '\t') {
        var j = i + 1
        while (j < n && {
          val d = s.charAt(j); d == '\r' || d == '\n' || d == '\t'
        }) j += 1
        sb.append(' ')
        i = j
      } else if (c == '<') {
        val ne = blockNameEnd(s, i)
        var e = -1
        if (ne >= 0) { // name+boundary ok; the tag still needs its '>'
          var j = ne
          while (e < 0 && j < n) { if (s.charAt(j) == '>') e = j else j += 1 }
        }
        if (e >= 0) { sb.append('\n'); i = e + 1 }
        else { sb.append('<'); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Manual form of the generic tag strip: each `<[^>]*>` → one space,
    * left-to-right, non-overlapping — identical to the regex (the match
    * always runs from a '<' to the FIRST following '>'; a '<' with no
    * later '>' stays literal, exactly as the regex leaves it). */
  private def stripTags(s: String): String = {
    var lt = s.indexOf('<')
    if (lt < 0) return s
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<') {
        var e = i + 1
        while (e < n && s.charAt(e) != '>') e += 1
        if (e < n) { sb.append(' '); i = e + 1 }
        else { sb.append(s, i, n); i = n } // no '>' to the end: literal
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Manual form of the final line pass: split on '\n', collapse
    * `[ \t\x0B\f\r]+` runs to one space, `String.trim` each line, drop
    * empties, join with '\n'. Trim strips any char ≤ U+0020 from the
    * edges — every collapse output at an edge is ≤ U+0020, so stripping
    * edge chars ≤ U+0020 first and collapsing interior runs after is
    * the same function. */
  private def collapseLines(s: String): String = {
    def isRunWs(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\u000B' || c == '\f' || c == '\r'
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var lineStart = 0
    while (lineStart <= n) {
      var lineEnd = s.indexOf('\n', lineStart)
      val last = lineEnd < 0
      if (last) lineEnd = n
      // trim: edge chars ≤ U+0020
      var a = lineStart
      while (a < lineEnd && s.charAt(a) <= ' ') a += 1
      var b = lineEnd
      while (b > a && s.charAt(b - 1) <= ' ') b -= 1
      if (a < b) {
        if (sb.length > 0) sb.append('\n')
        var i = a
        while (i < b) {
          val c = s.charAt(i)
          if (isRunWs(c)) {
            var j = i + 1
            while (j < b && isRunWs(s.charAt(j))) j += 1
            sb.append(' ')
            i = j
          } else { sb.append(c); i += 1 }
        }
      }
      lineStart = if (last) n + 1 else lineEnd + 1
    }
    sb.toString
  }

  /** Single-pass HTML entity decode (the common named set plus all
    * numeric forms); control/surrogate/invalid codepoints become a
    * space. Shared by [[htmlToText]] and href extraction — `&amp;` is
    * the legally-required spelling of `&` inside attribute values, so
    * a query string copied out of an href is undecoded until this
    * runs. */
  def decodeEntities(s0: String): String =
    entity.replaceAllIn(s0, m => {
      val rep = m.group(1) match {
        case "amp" => "&"
        case "lt" => "<"
        case "gt" => ">"
        case "quot" => "\""
        case "apos" => "'"
        case "nbsp" => " "
        case g =>
          val cp = if (g.charAt(1) == 'x' || g.charAt(1) == 'X')
            Integer.parseInt(g.substring(2), 16)
          else Integer.parseInt(g.substring(1))
          if (Character.isValidCodePoint(cp) && !(cp >= 0xD800 && cp <= 0xDFFF) &&
              (cp >= 0x20 || cp == '\n'.toInt || cp == '\t'.toInt))
            new String(Character.toChars(cp))
          else " "
      }
      java.util.regex.Matcher.quoteReplacement(rep)
    })

  private val hrefAttr =
    "(?is)<a\\b[^>]*?\\bhref\\s*=\\s*(?:\"([^\"]*)\"|'([^']*)'|([^\\s>]+))".r

  /** `href` values of every `<a>` tag in document order: double-quoted,
    * single-quoted, and unquoted attribute forms; entities decoded
    * (`&amp;` inside query strings); surrounding whitespace trimmed;
    * empties dropped. Raw values — resolution against the page URL is
    * [[resolveUrl]]'s job. */
  def extractHrefs(html: String): Seq[String] =
    hrefAttr.findAllMatchIn(html).flatMap { m =>
      val raw = Option(m.group(1)).orElse(Option(m.group(2)))
        .orElse(Option(m.group(3))).getOrElse("")
      val v = decodeEntities(raw).trim
      if (v.isEmpty) None else Some(v)
    }.toVector

  /** RFC-3986 reference resolution for crawl outlinks, built on
    * `java.net.URI.resolve` (relative / root-relative / `..`-folding /
    * protocol-relative `//host` forms all per spec). Crawl-grade
    * conventions on top of the JDK:
    *   - the fragment is cut BEFORE resolving, and a pure-fragment ref
    *     (`#sec`) returns None — a self link is not an outlink;
    *   - only `http`/`https` results with a non-empty authority
    *     survive (`mailto:`/`javascript:`/`data:` → None); the check is
    *     authority-based, not `getHost`, because the JDK nulls `getHost`
    *     for legal-in-the-wild underscore hostnames;
    *   - spaces are pre-escaped to `%20` (the single most common
    *     illegal byte in real hrefs); anything else the strict JDK
    *     parser rejects → None, the row-degrade convention — malformed
    *     markup costs one link, never the task;
    *   - excess `..` segments that the RFC-2396-era JDK leaves as a
    *     literal leading `/../` are stripped the way every browser
    *     strips them (RFC 3986 §5.4.2).
    * Returns the resolved ABSOLUTE url; canonicalization (case, default
    * ports, tracking params) is deliberately left to
    * [[graft.ops.TextOps.canonicalizeUrl]] so graph building and URL
    * dedup share one convention. */
  def resolveUrl(base: String, ref: String): Option[String] = {
    val r0 = ref.trim.replace(" ", "%20")
    val cut = r0.indexOf('#')
    val r = if (cut >= 0) r0.substring(0, cut) else r0
    if (r.isEmpty) return None
    try {
      val b = new java.net.URI(base.trim.replace(" ", "%20"))
      val res = b.resolve(r)
      val scheme = Option(res.getScheme).map(_.toLowerCase(java.util.Locale.ROOT))
      val auth = Option(res.getAuthority).getOrElse("")
      if ((scheme.contains("http") || scheme.contains("https")) && auth.nonEmpty) {
        val s = res.toString
        val pathStart = s.indexOf('/', s.indexOf("://") + 3)
        if (pathStart < 0) Some(s)
        else {
          var p = s.substring(pathStart)
          while (p.startsWith("/../")) p = "/" + p.substring(4)
          Some(s.substring(0, pathStart) + p)
        }
      } else None
    } catch { case _: Exception => None }
  }

  /** Synthetic per-row WARC archive (one gzip member, one 200 HTML
    * response wrapping `text`) — the bench/spec fixture builder, the
    * [[MediaCodecs.syntheticImageAssets]] discipline: build REAL archive
    * bytes once outside the timed thunk so the timed pass measures
    * gunzip + record framing + HTTP split + HTML extraction, not
    * fixture synthesis. Output: (asset_id, payload). */
  def syntheticArchives(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val schema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    val in: Dataset[Row] = docs.select(id.cast("long").as("i"), text.as("t"))
      .where(col("i").isNotNull && col("t").isNotNull)
    in.mapPartitions { rows =>
      rows.map { r =>
        val i = r.getLong(0)
        val html =
          (s"<html><head><title>doc $i</title></head><body><h1>Doc $i</h1>" +
            s"<p>${r.getString(1)}</p></body></html>").getBytes(StandardCharsets.UTF_8)
        val http = (s"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
          s"Content-Length: ${html.length}\r\n\r\n").getBytes(StandardCharsets.US_ASCII) ++ html
        val warc = (s"WARC/1.0\r\nWARC-Type: response\r\n" +
          s"WARC-Target-URI: http://example.com/doc/$i\r\n" +
          s"WARC-Date: 2024-01-01T00:00:00Z\r\nContent-Length: ${http.length}\r\n\r\n")
          .getBytes(StandardCharsets.US_ASCII) ++ http ++
          "\r\n\r\n".getBytes(StandardCharsets.US_ASCII)
        val bos = new ByteArrayOutputStream(warc.length / 2 + 64)
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write(warc); gz.finish()
        Row(i, bos.toByteArray)
      }
    }(enc)
  }

  /** Redistribute a SMALL archive input across the cluster before the
    * narrow parse. Gzip WARC files are non-splittable, so scan
    * parallelism equals file count; an ingest tail, a small crawl
    * segment, or a local test with fewer files than cores would parse
    * serially while every other core idles — and parse+extract is
    * 5–10× the decompress cost (round 13, SURVEY §6), so the idle
    * cores are
    * the bottleneck. Bounded so it cannot hurt at scale: only inputs
    * whose optimizer size estimate is under 64 MB × defaultParallelism
    * redistribute; a real crawl volume (files ≫ cores, TBs of payload)
    * exceeds the bound and archive bytes never move. */
  private def spreadSmall(in: Dataset[Row]): Dataset[Row] = {
    // Streaming plans can't be inspected (.rdd executes); micro-batch
    // parallelism is the source's concern (maxFilesPerTrigger etc.).
    if (in.isStreaming) return in
    val sc = in.sparkSession.sparkContext
    val par = sc.defaultParallelism
    if (in.rdd.getNumPartitions >= par) return in
    val est = in.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est >= 0 && est < BigInt(par.toLong * (64L << 20))) in.repartition(par)
    else in
  }

  private val recordSchema = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("record_no", IntegerType, nullable = false),
    StructField("warc_type", StringType, nullable = true),
    StructField("uri", StringType, nullable = true),
    StructField("warc_date", StringType, nullable = true),
    StructField("content_type", StringType, nullable = true),
    StructField("http_status", IntegerType, nullable = true),
    StructField("text", StringType, nullable = true)))

  /** Exploded WARC records per archive payload: `(asset_id, record_no,
    * warc_type, uri, warc_date, content_type, http_status, text)`.
    * `text` is the extracted plain text for HTML responses and the
    * decoded body for other `text/ *` responses — after de-chunking
    * (`Transfer-Encoding: chunked`), content decompression
    * (`Content-Encoding: gzip`/`deflate`; undecodable codings like br
    * null the text rather than emit compressed bytes), and charset
    * decoding via [[sniffCharset]] (header `charset=` parameter wins,
    * then BOM, then HTML `<meta>` declaration, then UTF-8; invalid
    * bytes → U+FFFD, leading BOM stripped) — and null otherwise (binary
    * bodies are metadata-only rows — route them to the [[MediaCodecs]]
    * path instead). `content_type` prefers the HTTP header over the
    * WARC record header. One narrow mapPartitions; payload bytes never
    * shuffle; malformed archives degrade to however many records framed
    * cleanly. `extractHtml` swaps the HTML extraction ([[htmlToText]]
    * default; pass [[mainContent]] for block-level boilerplate
    * removal). */
  def records(assets: DataFrame, id: Column, payload: Column,
              extractHtml: String => String = htmlToText): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(recordSchema)
    val in: Dataset[Row] = assets
      .select(id.cast("long").as("asset_id"), payload.as("payload"))
      .where(col("asset_id").isNotNull && col("payload").isNotNull)
    spreadSmall(in).mapPartitions { rows =>
      rows.flatMap { r =>
        val aid = r.getLong(0)
        parseRecords(r.getAs[Array[Byte]](1)).iterator.zipWithIndex.map {
          case (rec, i) =>
            // headers are keyed lowercase — literal keys skip header()'s
            // per-call toLowerCase on the crawl hot path
            val wtype = rec.headers.get("warc-type").orNull
            val http = httpParse(rec.body)
            val ctypeFull = http.flatMap(_.headers.get("content-type"))
              .orElse(rec.headers.get("content-type"))
            val ctype = ctypeFull.map(_.takeWhile(_ != ';').trim)
            val isHtml = ctype.exists(_.equalsIgnoreCase("text/html"))
            val isText = ctype.exists(_.toLowerCase.startsWith("text/"))
            val bodyText: String = http match {
              case Some(m) if !m.decoded => null // br/zstd body: never emit as text
              case Some(m) if isHtml => extractHtml(decodeText(m.body, ctypeFull))
              case Some(m) if isText => decodeText(m.body, ctypeFull)
              case None if isHtml => extractHtml(decodeText(rec.body, ctypeFull))
              case None if isText && wtype != null && wtype != "request" =>
                decodeText(rec.body, ctypeFull)
              case _ => null
            }
            Row(aid, i, wtype,
              rec.headers.get("warc-target-uri").orNull,
              rec.headers.get("warc-date").orNull,
              ctype.orNull,
              http.map(m => Integer.valueOf(m.status)).orNull,
              bodyText)
        }
      }
    }(enc)
  }

  private val linkSchema = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("record_no", IntegerType, nullable = false),
    StructField("src_url", StringType, nullable = true),
    StructField("dst_url", StringType, nullable = false)))

  /** Exploded OUTLINKS per archive payload: `(asset_id, record_no,
    * src_url, dst_url)` — one row per `<a href>` in each decodable
    * `text/html` response, resolved to an absolute URL against the
    * record's `WARC-Target-URI` ([[resolveUrl]] conventions: fragments
    * and `mailto:`/`javascript:` drop, relative forms resolve, only
    * http(s) survives). This is the crawl→graph front door — the WAT
    * extraction step of the standard web-graph pipeline: feed the
    * output to [[graft.api.Pipelines.linkGraph]] for host-level edges
    * and PageRank authority priors. Extraction runs on the RAW decoded
    * markup (before [[htmlToText]] strips tags); a record with no
    * target URI keeps only hrefs that are already absolute. Same
    * narrow-scan posture as [[records]]: one mapPartitions, payload
    * bytes never shuffle, malformed archives degrade to the links that
    * framed cleanly. */
  def links(assets: DataFrame, id: Column, payload: Column): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(linkSchema)
    val in: Dataset[Row] = assets
      .select(id.cast("long").as("asset_id"), payload.as("payload"))
      .where(col("asset_id").isNotNull && col("payload").isNotNull)
    spreadSmall(in).mapPartitions { rows =>
      rows.flatMap { r =>
        val aid = r.getLong(0)
        parseRecords(r.getAs[Array[Byte]](1)).iterator.zipWithIndex.flatMap {
          case (rec, i) =>
            val http = httpParse(rec.body)
            val ctypeFull = http.flatMap(_.header("content-type"))
              .orElse(rec.header("content-type"))
            val isHtml = ctypeFull.map(_.takeWhile(_ != ';').trim)
              .exists(_.equalsIgnoreCase("text/html"))
            http match {
              case Some(m) if isHtml && m.decoded =>
                val base = rec.header("warc-target-uri").orNull
                val html = decodeText(m.body, ctypeFull)
                extractHrefs(html).flatMap { ref =>
                  val resolved =
                    if (base != null) resolveUrl(base, ref)
                    else if (ref.matches("(?i)^https?://.*")) resolveUrl(ref, ref)
                    else None
                  resolved.map(dst => Row(aid, i, base, dst))
                }
              case _ => Nil
            }
        }
      }
    }(enc)
  }
}
