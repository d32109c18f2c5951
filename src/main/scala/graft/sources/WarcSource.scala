package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * WARC (ISO 28500) source — the ingest format of web-scale corpora:
 * Common Crawl ships as .warc.gz files of concatenated records, each a
 * CRLF-terminated header block plus a Content-Length-delimited payload.
 * A training-data pipeline's first read is exactly this.
 *
 * Scale shape: WARC is record-gzipped (or plain) and NOT splittable
 * within a file, so the unit of parallelism is the FILE — precisely how
 * production Common Crawl jobs run (thousands of ~1 GB segment files,
 * one task each). `records` reads via Spark's binaryFile source and
 * parses per file inside `mapPartitions`; no driver-side work, no
 * shuffle — parsing happens where the bytes land. JDK `GZIPInputStream`
 * handles the member-concatenated gzip Common Crawl uses.
 *
 * Reference analog: the corpus-ingest family (KgxSource reads the graph
 * exchange format; this reads the web-crawl one).
 */
object WarcSource {

  /** One parsed WARC record: the record type, the record id, the
   * target URI (null for warcinfo), the HTTP status (0 when the
   * payload isn't HTTP), the payload's content type (the HTTP
   * `Content-Type` when the payload is HTTP, else the WARC-header
   * one), the HTTP body decoded as UTF-8 — null for binary content
   * types, where a lossy decode would corrupt the payload — and the
   * RAW body bytes, always present. Real crawls carry images/PDFs in
   * response records; the bytes column is what lets a WARC ingest
   * feed the multimodal family (image/audio/video near-dup) without
   * a destructive text decode in between.
   *
   * `refers_to` / `payload_digest` surface the ISO 28500 revisit
   * linkage (`WARC-Refers-To`, `WARC-Payload-Digest`): a `revisit`
   * record is a crawl-time dedup pointer — the crawler saw the URL
   * again, found the payload identical (by digest), and stored the
   * pointer instead of the bytes. Null on records without the
   * headers. */
  case class WarcRecord(file: String, warc_type: String, record_id: String,
                        target_uri: String, status: Int, content_type: String,
                        body: String, body_bytes: Array[Byte],
                        refers_to: String, payload_digest: String,
                        http_headers: Map[String, String])

  /** Content types whose bodies are UTF-8-decodable text. Everything
   * else (image, audio, video, pdf, octet-stream, ...) keeps
   * body = null and rides as bytes only. Unknown/absent types decode
   * as text — the pre-binary-path behavior, and what WET `conversion`
   * and `warcinfo` records need. */
  private[graft] def isTextType(ct: String): Boolean = {
    if (ct == null) return true
    val t = ct.toLowerCase.trim
    t.isEmpty || t.startsWith("text/") ||
      t.startsWith("application/http") ||
      t.startsWith("application/warc-fields") ||
      t.contains("json") || t.contains("xml") || t.contains("html") ||
      t.contains("javascript") || t.contains("x-www-form-urlencoded")
  }

  private val Crlf = "\r\n".getBytes("US-ASCII")

  // ------------------------------------------ charset decoding (P154)

  /** Decode a TEXT body to a string the way a browser would pick the
   * encoding (real crawls are not all UTF-8 — legacy pages declare
   * ISO-8859-1 / windows-1252 in the header, or only in a `<meta>`
   * tag, and a blind UTF-8 decode turns every accented character into
   * U+FFFD):
   *   1. a BOM wins (UTF-8 / UTF-16LE / UTF-16BE, stripped);
   *   2. else the Content-Type `charset` parameter, when the JDK
   *      knows the name;
   *   3. else, for HTML types only, the HTML5 prescan of the first
   *      1024 bytes for `<meta charset=...>` / the http-equiv form;
   *   4. else UTF-8 (the modern-web default; we diverge from HTML5's
   *      legacy windows-1252 default deliberately — a corpus pipeline
   *      would rather surface U+FFFD than silently mojibake the UTF-8
   *      majority).
   * Malformed sequences REPLACE (never throw), like browsers. */
  private[graft] def decodeText(bytes: Array[Byte],
                                contentType: String): String = {
    if (bytes.length >= 3 && bytes(0) == 0xEF.toByte &&
      bytes(1) == 0xBB.toByte && bytes(2) == 0xBF.toByte)
      return new String(bytes, 3, bytes.length - 3, "UTF-8")
    if (bytes.length >= 2 && bytes(0) == 0xFF.toByte && bytes(1) == 0xFE.toByte)
      return new String(bytes, 2, bytes.length - 2, "UTF-16LE")
    if (bytes.length >= 2 && bytes(0) == 0xFE.toByte && bytes(1) == 0xFF.toByte)
      return new String(bytes, 2, bytes.length - 2, "UTF-16BE")
    val ct = Option(contentType).getOrElse("")
    def named(name: String): Option[java.nio.charset.Charset] =
      try Some(java.nio.charset.Charset.forName(name.trim))
      catch { case _: Exception => None }
    val fromHeader = CharsetParamRe.findFirstMatchIn(ct)
      .flatMap(m => named(m.group(1)))
    val cs = fromHeader.orElse {
      // HTML5 prescan (bounded, byte-transparent ISO-8859-1 view)
      if (ct.toLowerCase.contains("html")) {
        val head = new String(bytes, 0, math.min(bytes.length, 1024),
          java.nio.charset.StandardCharsets.ISO_8859_1)
        prescanCharset(head).flatMap(named)
      } else None
    }.getOrElse(java.nio.charset.StandardCharsets.UTF_8)
    // a BOM-less utf-16/utf-32 LABEL is an authoring error (the BOM
    // branch above already handled real UTF-16) — HTML5's prescan
    // explicitly remaps those labels to UTF-8; decoding 8-bit bytes
    // as UTF-16 would turn the whole body into CJK garbage
    // (review-caught), far worse than the documented U+FFFD degrade
    val safe = if (cs.name.toLowerCase.startsWith("utf-16") ||
      cs.name.toLowerCase.startsWith("utf-32") ||
      cs.name.toLowerCase.startsWith("x-utf-32"))
      java.nio.charset.StandardCharsets.UTF_8 else cs
    new String(bytes, safe) // malformed input REPLACES by default
  }
  private val CharsetParamRe =
    """(?i)charset\s*=\s*"?([A-Za-z0-9._:-]+)""".r

  /** HTML5-style meta prescan over the (ASCII-viewed) head: honor a
   * real `charset` ATTRIBUTE of a `<meta>` tag, or the `content`
   * attribute's charset parameter when `http-equiv=content-type` is
   * present — never a "charset=" substring inside an unrelated
   * attribute value like a description (review-caught: the substring
   * reading let '<meta content="fix charset=big5 errors">' hijack a
   * UTF-8 page's decoding). Attributes parse with quote-aware
   * boundaries, so a quoted value can't leak tokens. */
  private[graft] def prescanCharset(head: String): Option[String] = {
    val tags = MetaTagRe.findAllMatchIn(head)
    while (tags.hasNext) {
      val tag = tags.next()
      val attrs = AttrRe.findAllMatchIn(tag.group(1)).map { a =>
        val raw = a.group(2)
        val v = if (raw.length >= 2 && (raw.head == '"' || raw.head == '\''))
          raw.substring(1, raw.length - 1) else raw
        a.group(1).toLowerCase -> v
      }.toMap
      val direct = attrs.get("charset").map(_.trim).filter(_.nonEmpty)
      if (direct.isDefined) return direct
      if (attrs.get("http-equiv").exists(_.equalsIgnoreCase("content-type"))) {
        val fromContent = attrs.get("content").flatMap(c =>
          CharsetParamRe.findFirstMatchIn(c).map(_.group(1)))
        if (fromContent.isDefined) return fromContent
      }
    }
    None
  }
  // quote-aware tag capture (advisor-caught: a plain [^>] run stopped
  // at a '>' INSIDE a quoted attribute value, so
  // <meta content="a > b" charset=big5> lost its declared charset).
  // Quotes open a span ONLY in value position (right after '='), like
  // the HTML5 prescan — a bare apostrophe in an unquoted value
  // (content=O'Brien) must neither truncate the capture nor pair with
  // a later quote and overrun the real tag end (review-caught)
  private val MetaTagRe =
    ("""(?is)<meta\b((?:=\s*+"[^"]{0,500}+"|=\s*+'[^']{0,500}+'""" +
      """|[^>]){0,500}+)""").r
  private val AttrRe =
    """([a-zA-Z-]++)\s*+=\s*+("[^"]*+"|'[^']*+'|[^\s>"']++)""".r

  /** Parse every record of one WARC payload (already gunzipped). */
  private[graft] def parseWarc(file: String, bytes: Array[Byte]): Seq[WarcRecord] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[WarcRecord]
    var pos = 0
    def lineEnd(from: Int): Int = {
      var i = from
      while (i + 1 < bytes.length &&
        !(bytes(i) == '\r' && bytes(i + 1) == '\n')) i += 1
      i
    }
    while (pos < bytes.length) {
      // skip inter-record CRLFs
      while (pos + 1 < bytes.length && bytes(pos) == '\r' && bytes(pos + 1) == '\n')
        pos += 2
      if (pos >= bytes.length) return out.toSeq
      // version line
      val vEnd = lineEnd(pos)
      val version = new String(bytes, pos, vEnd - pos, "UTF-8")
      if (!version.startsWith("WARC/")) return out.toSeq // trailing junk: stop
      pos = vEnd + 2
      // header block until blank line
      val headers = scala.collection.mutable.Map.empty[String, String]
      var done = false
      while (!done && pos < bytes.length) {
        val e = lineEnd(pos)
        if (e == pos) { done = true; pos += 2 }
        else {
          val line = new String(bytes, pos, e - pos, "UTF-8")
          val c = line.indexOf(':')
          if (c > 0)
            headers(line.substring(0, c).trim.toLowerCase) =
              line.substring(c + 1).trim
          pos = e + 2
        }
      }
      // untrusted input: a malformed or absurd Content-Length must
      // degrade (truncate to the remaining bytes), never throw a
      // NumberFormatException out of the task
      val len = headers.get("content-length").map(_.trim)
        .filter(v => v.nonEmpty && v.length <= 12 && v.forall(_.isDigit))
        .map(_.toLong.min(bytes.length.toLong).toInt).getOrElse(0)
      val payload = java.util.Arrays.copyOfRange(bytes, pos,
        math.min(bytes.length, pos + len))
      pos += len
      val warcType = headers.getOrElse("warc-type", "")
      val recId = headers.getOrElse("warc-record-id", null)
      val uri = headers.getOrElse("warc-target-uri", null)
      // HTTP payload: split status line + headers from the body at the
      // BYTE level (a string round-trip before the split would corrupt
      // binary bodies), then decode only the header block as text.
      val isHttp = payload.length >= 5 &&
        new String(payload, 0, 5, "US-ASCII") == "HTTP/"
      val (status, httpCt, bodyBytes, httpHeaders, decodedOk) =
        if (isHttp) {
          var he = -1
          var i = 0
          while (he < 0 && i + 3 < payload.length) {
            if (payload(i) == '\r' && payload(i + 1) == '\n' &&
              payload(i + 2) == '\r' && payload(i + 3) == '\n') he = i
            i += 1
          }
          val headBlock = new String(payload, 0,
            if (he >= 0) he else payload.length, "UTF-8")
          val lines = headBlock.split("\r\n")
          val st = lines(0).split(" ") match {
            case a if a.length >= 2 && a(1).forall(_.isDigit) => a(1).toInt
            case _ => 0
          }
          // ALL response headers ride along (lowercased names); a
          // REPEATED field joins with ", " — per RFC 9110 repeated
          // lines are equivalent to the comma-joined list, and
          // dropping later occurrences would silently ignore a second
          // "X-Robots-Tag: noindex" (governance-review-caught).
          // Content-Type keeps its FIRST occurrence (repeats there are
          // malformed; joining would corrupt the mime routing).
          val hm = scala.collection.mutable.LinkedHashMap.empty[String, String]
          var firstCt: String = null
          lines.iterator.drop(1).foreach { l =>
            val c = l.indexOf(':')
            if (c > 0) {
              val k = l.substring(0, c).trim.toLowerCase
              val v = l.substring(c + 1).trim
              if (k == "content-type" && firstCt == null) firstCt = v
              hm(k) = hm.get(k).map(_ + ", " + v).getOrElse(v)
            }
          }
          if (firstCt != null) hm("content-type") = firstCt
          val ct = firstCt
          val raw = if (he >= 0)
            java.util.Arrays.copyOfRange(payload, he + 4, payload.length)
          else Array.empty[Byte]
          // Transport decode (real captures routinely carry chunked
          // framing and gzip/deflate bodies — without this, extracted
          // "text" is hex chunk-size lines or gzip bytes, inherited by
          // every downstream HTML consumer): undo Transfer-Encoding
          // (outermost) then Content-Encoding. A coding we cannot
          // decode (br — no decoder on this classpath — or a corrupt
          // stream) degrades: raw bytes kept, text decode suppressed,
          // never throws.
          val (bb, decOk) = decodeTransport(raw, hm)
          (st, ct, bb, hm.toMap, decOk)
        } else (0, null: String, payload, null: Map[String, String], true)
      val contentType =
        if (isHttp) httpCt else headers.getOrElse("content-type", null)
      val body =
        if (decodedOk && isTextType(contentType))
          decodeText(bodyBytes, contentType) else null
      out += WarcRecord(file, warcType, recId, uri, status, contentType,
        body, bodyBytes, headers.getOrElse("warc-refers-to", null),
        headers.getOrElse("warc-payload-digest", null), httpHeaders)
    }
    out.toSeq
  }

  /** One gunzip for both call sites (review-caught drift risk):
   * `limit` = Long.MaxValue for file-level segments (a 1 GB+
   * decompressed segment is normal and IS the workload), the
   * per-record [[MaxDecodedBody]] for transport decoding. Exceeding
   * the limit throws (the caller degrades the record). The stream is
   * ALWAYS closed — per-record calls run millions of times per task
   * and an unclosed GZIPInputStream leaks its native Inflater
   * (review-caught). */
  private def gunzip(bytes: Array[Byte],
                     limit: Long = Long.MaxValue): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](65536)
      var n = in.read(buf)
      while (n >= 0) {
        out.write(buf, 0, n)
        if (out.size() > limit)
          throw new java.util.zip.ZipException("decoded body too large")
        n = in.read(buf)
      }
      out.toByteArray
    } finally in.close()
  }

  // ------------------------------------- HTTP transport decoding (P150)

  /** De-frame an RFC 9112 chunked body: hex-size lines (chunk
   * extensions after ';' ignored), chunk data, terminated by the
   * 0-chunk; OPTIONAL trailer header lines after the 0-chunk are
   * consumed, never leaked into the body. None on any malformed
   * framing (bad hex, missing CRLF, truncated chunk) — the caller
   * degrades to the raw bytes. Bytes after the trailer are ignored
   * (the WARC Content-Length already bounded the payload). */
  private[graft] def dechunk(b: Array[Byte]): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    def line(): String = { // up to CRLF; null when none remains
      var e = i
      while (e + 1 < b.length && !(b(e) == '\r' && b(e + 1) == '\n')) e += 1
      if (e + 1 >= b.length) null
      else { val s = new String(b, i, e - i, "US-ASCII"); i = e + 2; s }
    }
    while (true) {
      val l = line()
      if (l == null) return None
      val hex = l.indexOf(';') match { // chunk extensions are legal noise
        case -1 => l.trim
        case c => l.substring(0, c).trim
      }
      // bounded digits: an absurd size must fail to PARSE, never
      // overflow toInt (same policy as the WARC Content-Length guard)
      if (hex.isEmpty || hex.length > 8 ||
        !hex.forall(c => Character.digit(c, 16) >= 0)) return None
      val size = java.lang.Long.parseLong(hex, 16)
      if (size == 0) {
        // trailer section: header lines until the blank line (or end —
        // lenient on a writer that omits the final CRLF)
        var t = line()
        while (t != null && t.nonEmpty) t = line()
        return Some(out.toByteArray)
      }
      if (i + size > b.length) return None // truncated capture
      out.write(b, i, size.toInt)
      i += size.toInt
      // chunk data must be CRLF-terminated
      if (i + 1 >= b.length || b(i) != '\r' || b(i + 1) != '\n') return None
      i += 2
    }
    None // unreachable
  }

  /** Decompression-bomb bound for PER-RECORD transport decoding: an
   * untrusted crawl body must never expand past this (gzip tops out
   * near 1000:1; a crafted multi-GB stream would otherwise OOM the
   * task instead of degrading the record — review-caught). Exceeding
   * it throws, which decodeCoding turns into the undecodable-coding
   * degrade: raw bytes kept, text decode suppressed. */
  private val MaxDecodedBody = 64L << 20

  private def inflate(b: Array[Byte], rawDeflate: Boolean): Array[Byte] = {
    val inf = new java.util.zip.Inflater(rawDeflate)
    try {
      inf.setInput(b)
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](65536)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
          throw new java.util.zip.DataFormatException("truncated deflate")
        out.write(buf, 0, n)
        if (out.size() > MaxDecodedBody)
          throw new java.util.zip.DataFormatException("decoded body too large")
      }
      out.toByteArray
    } finally inf.end()
  }

  /** Decode one RFC 8878 zstd frame sequence (the `zstd` content
   * coding, r19 — Spark already bundles zstd-jni for its own shuffle
   * compression, so this is zero new dependencies), bomb-capped like
   * gunzip/inflate: zstd's ratio ceiling is far beyond gzip's, so an
   * uncapped read of a crafted frame would OOM the task. Throws on
   * corrupt input or cap breach; decodeCoding turns that into the
   * degrade. */
  private def unzstd(b: Array[Byte], cap: Long): Array[Byte] = {
    val in = new com.github.luben.zstd.ZstdInputStream(
      new java.io.ByteArrayInputStream(b))
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](65536)
      var n = in.read(buf)
      while (n >= 0) {
        out.write(buf, 0, n)
        if (out.size() > cap)
          throw new java.io.IOException("decoded body too large")
        n = in.read(buf)
      }
      out.toByteArray
    } finally in.close()
  }

  /** Undo ONE content/transfer coding. `deflate` is zlib-wrapped per
   * RFC 9110 but plenty of real servers send raw-deflate under the
   * same name — try zlib first, fall back to raw. None = unknown
   * coding or corrupt stream. `br` is DOCUMENTED OUT: brotli has no
   * pure-JDK decoder and neither `org.brotli:dec` nor a bundled
   * equivalent is on this classpath (commons-compress's
   * BrotliCompressorInputStream merely delegates to the former), so
   * brotli bodies take the unknown-coding degrade — raw bytes kept,
   * text decode suppressed, never garbage. */
  private def decodeCoding(b: Array[Byte], tok: String): Option[Array[Byte]] =
    tok match {
      case "chunked" => dechunk(b)
      case "gzip" | "x-gzip" =>
        try Some(gunzip(b, MaxDecodedBody)) catch { case _: Exception => None }
      case "deflate" =>
        try Some(inflate(b, rawDeflate = false)) catch {
          case _: Exception =>
            try Some(inflate(b, rawDeflate = true)) catch {
              case _: Exception => None
            }
        }
      case "zstd" =>
        try Some(unzstd(b, MaxDecodedBody)) catch { case _: Exception => None }
      case _ => None // br (no decoder on this classpath), compress, ...
    }

  /** Undo the response's transport: Transfer-Encoding codings
   * (outermost — undone in reverse of their application order, so
   * `gzip, chunked` de-chunks THEN gunzips), then Content-Encoding
   * codings likewise. Returns (bytes, ok); ok = false means a coding
   * could not be decoded — the ORIGINAL bytes come back and the
   * caller suppresses the text decode (mojibake must not enter the
   * corpus as "text"). */
  private[graft] def decodeTransport(body: Array[Byte],
      hm: scala.collection.Map[String, String]): (Array[Byte], Boolean) = {
    def toks(h: String): List[String] = hm.get(h).iterator
      .flatMap(_.split(",")).map(_.trim.toLowerCase)
      .filter(t => t.nonEmpty && t != "identity").toList
    val codings = toks("transfer-encoding").reverse ++
      toks("content-encoding").reverse
    if (codings.isEmpty) return (body, true)
    var cur = body
    val it = codings.iterator
    while (it.hasNext) {
      decodeCoding(cur, it.next()) match {
        case Some(d) => cur = d
        case None => return (body, false)
      }
    }
    (cur, true)
  }

  // writer-side twins (fixture/export transport framing)
  private def gzipBytes(b: Array[Byte]): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(o)
    g.write(b); g.close(); o.toByteArray
  }
  private def zlibBytes(b: Array[Byte]): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    val d = new java.util.zip.DeflaterOutputStream(o) // zlib per RFC 9110
    d.write(b); d.close(); o.toByteArray
  }
  private def zstdBytes(b: Array[Byte]): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    val z = new com.github.luben.zstd.ZstdOutputStream(o)
    z.write(b); z.close(); o.toByteArray
  }
  /** Chunk-frame a body: small chunks (7 bytes — forces boundaries
   * inside multi-byte UTF-8 sequences, the case a decoder must not
   * corrupt), a chunk extension on the first chunk, and a trailer
   * header after the 0-chunk — the three framing features a lenient
   * reader skips and a naive one leaks into the body. */
  private[graft] def chunkify(b: Array[Byte], chunk: Int = 7): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    var i = 0
    var first = true
    while (i < b.length) {
      val n = math.min(chunk, b.length - i)
      val ext = if (first) ";graft=1" else ""
      o.write(s"${n.toHexString}$ext\r\n".getBytes("US-ASCII"))
      o.write(b, i, n); o.write(Crlf)
      i += n; first = false
    }
    o.write("0\r\nX-Graft-Trailer: end\r\n\r\n".getBytes("US-ASCII"))
    o.toByteArray
  }

  /**
   * All records of every .warc / .warc.gz file under `dir`.
   * One task per file (WARC is not splittable); columns
   * (file, warc_type, record_id, target_uri, status, content_type,
   * body, body_bytes) — body is null for binary content types,
   * body_bytes always carries the raw payload body.
   */
  def records(spark: SparkSession, dir: String): DataFrame =
    parseFiles(spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.warc*")
      .load(dir))

  /** The records of a binaryFile frame's (path, content) rows: one
   * parse per file, gunzipping `.gz` segments first. */
  private def parseFiles(files: DataFrame): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    files.select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (path, raw) =>
        val bytes = if (path.endsWith(".gz")) gunzip(raw) else raw
        parseWarc(path, bytes)
      })
      .toDF()
  }

  /**
   * Streaming twin of `records`: crawl segments arrive continuously
   * (a live crawl drops .warc.gz files as it goes), so ingest is a
   * file-stream of whole segments — same one-task-per-file parse,
   * stateless, append-mode safe. The binaryFile source needs its
   * schema pinned explicitly under readStream.
   */
  def recordsStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val binarySchema = StructType(Seq(
      StructField("path", StringType),
      StructField("modificationTime", TimestampType),
      StructField("length", LongType),
      StructField("content", BinaryType)))
    parseFiles(spark.readStream.format("binaryFile")
      .schema(binarySchema)
      .option("pathGlobFilter", "*.warc*")
      .load(dir))
  }

  /**
   * CDX index of a crawl's response records — the OTHER artifact every
   * crawl publishes besides the segments themselves (Common Crawl's
   * cc-index): one row per capture with the SURT urlkey, the canonical
   * URL, the HTTP status, a content digest, and the payload size.
   * Sorted by urlkey, the index answers "was this URL captured, and
   * where" without touching a segment — the entry point of every
   * targeted re-crawl and URL-level audit.
   *
   * Scale shape: one shuffle-free pass over the records (urlkey/
   * digest/length are narrow expressions computed where the record
   * was parsed). The rows are NOT sorted here: the binary-searchable
   * publish order is the CALLER's final `.orderBy("urlkey")`
   * range-sort (the batch entry does exactly that) — kept out of this
   * operator so the same projection serves the STREAMING index
   * (p110), where a global sort is illegal and ordering belongs to
   * the downstream compaction, just as the real cc-index sorts at
   * publish time, not per segment. Digest is sha256 of the extracted
   * body (the real index uses sha1 of the raw payload; same role,
   * stronger hash).
   */
  // The canonical url is STAGED in its own select and the urlkey derived
  // from the attribute (r20): surtKey references its canonical input 3x,
  // so the composed form re-embedded the whole canonicalize chain per
  // reference (~4 copies per capture incl. the url column itself);
  // staged, the chain evaluates once and the CollapseProject cost guard
  // keeps the projections apart. Result-identical (canonicalizeUrl is
  // idempotent; here it is simply computed once).
  def cdxIndex(records: DataFrame): DataFrame =
    records.where(col("warc_type") === "response")
      .select(
        graft.operators.UrlOps.canonicalizeUrl(col("target_uri")).as("url"),
        col("status").cast("long").as("status"),
        // hash the RAW body bytes, not the decoded text: identical for
        // text records (sha2 of a string hashes its UTF-8 bytes, which
        // body_bytes IS), and it gives binary captures (images/PDFs,
        // body = null) a real digest instead of null
        sha2(col("body_bytes"), 256).as("digest"),
        octet_length(col("body_bytes")).cast("long").as("n_bytes"))
      .select(
        graft.operators.UrlOps.surtKeyOfCanonical(col("url")).as("urlkey"),
        col("url"), col("status"), col("digest"), col("n_bytes"))

  /**
   * CDX capture table INCLUDING `revisit` records — the crawl-time
   * dedup signal real Common Crawl segments carry: a revisit is a
   * capture whose payload the crawler did NOT store because it matched
   * an earlier capture's digest. EVERY capture's digest prefers its
   * own `WARC-Payload-Digest` header with the algorithm label
   * stripped (real crawls stamp the SAME algorithm — sha1:BASE32 in
   * CC — on responses and revisits alike, so header digests compare
   * across the pair; our fixture's responses carry no header and fall
   * back to sha256 of the raw body bytes, which the revisit's
   * `sha256:` header matches). A revisit chain thus collapses to its
   * referent's content hash WITHOUT any join back to the original
   * record — a re-crawl pipeline reads this before ever touching
   * content. `n_bytes` is the stored payload size (0 for a revisit:
   * the bytes live with the referent).
   *
   * Scale shape: identical to [[cdxIndex]] — one shuffle-free
   * projection where the records were parsed; the digest either hashes
   * locally or substring-parses a header. Nothing joins, nothing
   * shuffles.
   */
  def cdxCaptures(records: DataFrame): DataFrame = {
    val header = when(
      col("payload_digest").isNotNull && col("payload_digest") =!= "",
      regexp_replace(col("payload_digest"), "^[A-Za-z0-9-]+:", ""))
    // same urlkey-from-staged-canonical discipline as cdxIndex (r20)
    records.where(col("warc_type").isin("response", "revisit"))
      .select(
        graft.operators.UrlOps.canonicalizeUrl(col("target_uri")).as("url"),
        col("warc_type").as("kind"),
        col("status").cast("long").as("status"),
        coalesce(header, sha2(col("body_bytes"), 256)).as("digest"),
        octet_length(col("body_bytes")).cast("long").as("n_bytes"))
      .select(
        graft.operators.UrlOps.surtKeyOfCanonical(col("url")).as("urlkey"),
        col("url"), col("kind"), col("status"), col("digest"),
        col("n_bytes"))
  }

  /**
   * Point lookup into a published CDX index — "was this URL captured,
   * and where": the urlkey-sorted index (cdxIndex's publish order) is
   * binary-searchable by construction, and this probe makes Spark's
   * scan exploit that. Query URLs canonicalize to SURT keys through
   * the SAME surtKey pipeline the index used — evaluated DRIVER-SIDE:
   * the batch rides a LocalRelation and surtKey is all deterministic
   * builtins, so ConvertToLocalRelation folds the projection at
   * optimization time and the untyped collect() is a LocalTableScan
   * executeCollect — zero Spark jobs before the probe itself (a
   * point-lookup API must not pay a scheduling round-trip to
   * canonicalize its own arguments; r19-verdict-caught). Then probe
   * with the zone-map literal discipline OneHop's serving path uses: a small
   * batch keeps `isin` (pushes an In filter into the parquet scan —
   * row-group min/max stats over the SORTED urlkey prune to the
   * matching groups); a large batch pairs the coarse [min,max] range
   * conjunct (pushable, prunes row groups) with the O(1) native
   * SetProbe for the exact membership (one plan object however many
   * references). No join, no shuffle, no full scan — O(matching row
   * groups) of a 100 TB index.
   */
  def cdxLookup(index: DataFrame, urls: Seq[String]): DataFrame = {
    if (urls.isEmpty) return index.limit(0)
    val s = index.sparkSession
    import s.implicits._
    val keys = s.createDataFrame(urls.map(Tuple1(_))).toDF("u")
      .select(graft.operators.UrlOps.surtKey(col("u")).as("k"))
      .collect().map(_.getString(0)).toSeq.distinct
    index.where(graft.operators.OneHop.memberOf(keys)(col("urlkey")))
  }

  /**
   * Crawl-to-crawl CDX diff — the planning step of INCREMENTAL
   * crawling: two crawls' indexes (cdxIndex output) full-outer-joined
   * on urlkey classify every URL as `added` (new capture), `removed`
   * (gone from the site), `changed` (content digest moved — the
   * re-extract set), or `same` (skippable). Real pipelines run this
   * against the previous snapshot's published index to bound each
   * refresh to the changed subset instead of re-processing the crawl.
   *
   * Real crawls capture a URL MORE THAN ONCE per snapshot (re-crawls,
   * mirrored hosts), so each side first collapses to one
   * representative row per urlkey — max(digest), a deterministic
   * stand-in for CDX's latest-by-timestamp convention (cdxIndex
   * carries no timestamp) — otherwise the full-outer join fans out
   * into duplicate, mutually contradictory verdicts for the same key.
   *
   * Scale shape: ONE join keyed on urlkey — the CDX's natural sorted
   * key, so co-partitioned/bucketed indexes join without re-shuffling
   * either side (the per-side max(digest) is a partial-agg groupBy on
   * the SAME key, reusing the join's exchange); only (urlkey, digest)
   * pairs ride the wire, never payloads.
   */
  def cdxDiff(prev: DataFrame, next: DataFrame): DataFrame = {
    val a = prev.groupBy(col("urlkey"))
      .agg(max(col("digest")).as("digest_prev"))
    val b = next.groupBy(col("urlkey"))
      .agg(max(col("digest")).as("digest_next"))
    a.join(b, Seq("urlkey"), "full_outer")
      .select(col("urlkey"),
        when(col("digest_prev").isNull, "added")
          .when(col("digest_next").isNull, "removed")
          .when(col("digest_prev") =!= col("digest_next"), "changed")
          .otherwise("same").as("status"),
        col("digest_prev"), col("digest_next"))
  }

  /**
   * WAT sidecar generation — the METADATA member of the WARC/WAT/WET
   * artifact triple a crawl publishes (Common Crawl's .warc.wat.gz):
   * one row per response record carrying the per-record JSON envelope
   * a crawl planner reads instead of the 10× larger WARC — the WARC
   * header metadata, the HTTP response metadata, and for HTML payloads
   * the page title and the raw extracted outlinks (`Html.extractLinks`
   * — the same walk the link graph uses, hrefs RAW as WAT records
   * them, resolution is the consumer's job).
   *
   * Scale shape: pure codegen'd Column work — `to_json` over nested
   * structs and the shared possessive href walk — no UDF, no shuffle,
   * no driver involvement; the JSON is born where the record was
   * parsed. Emits (record_id, target_uri, wat). Null fields are
   * OMITTED by to_json (Jackson), so non-HTML records carry no
   * HTML-Metadata key and a title-less page carries no Title key.
   */
  def watRecords(records: DataFrame): DataFrame = {
    import graft.operators.Html
    val title =
      regexp_extract(col("body"), "(?is)<title[^>]*+>(.*?)</title", 1)
    val htmlMeta = when(
      lower(coalesce(col("content_type"), lit(""))).contains("html"),
      struct(
        struct(when(title =!= "", title).as("Title")).as("Head"),
        transform(Html.extractLinks(col("body")),
          v => struct(lit("A@/href").as("path"), v.as("url"))).as("Links")))
    records.where(col("warc_type") === "response")
      .select(col("record_id"), col("target_uri"),
        to_json(struct(
          struct(
            lit("WARC").as("Format"),
            struct(
              col("warc_type").as("WARC-Type"),
              col("target_uri").as("WARC-Target-URI"),
              col("record_id").as("WARC-Record-ID")
            ).as("WARC-Header-Metadata"),
            struct(
              lit("application/http; msgtype=response")
                .as("Actual-Content-Type"),
              struct(
                struct(col("status").cast("string").as("Status"))
                  .as("Response-Message"),
                struct(col("content_type").as("Content-Type")).as("Headers"),
                htmlMeta.as("HTML-Metadata")
              ).as("HTTP-Response-Metadata")
            ).as("Payload-Metadata")
          ).as("Envelope"))).as("wat"))
  }

  /**
   * X-Robots-Tag directives of a response record — the HTTP-header
   * twin of the page-level `<meta name=robots>` (`Html.metaRobots`);
   * together they complete crawl governance: robots.txt (p101) says
   * what to FETCH, the meta tag and this header say what to INDEX and
   * FOLLOW. Struct (noindex, nofollow), each true iff the
   * `X-Robots-Tag` header value carries the token — or `none` — in
   * its comma/space-separated list. Agent-scoped forms
   * ("googlebot: noindex") count as global in our subset (the
   * CONSERVATIVE reading: a directive any agent would honor drops the
   * content for the corpus too) — handled by stripping ONE
   * `agentname:` prefix per comma section, NOT by admitting ':' as a
   * token separator: the separator reading made a VALUED directive
   * like `max-image-preview:none` match the `none` alternative and
   * wrongly set both flags (advice-caught). The valued directives
   * (max-snippet / max-image-preview / max-video-preview /
   * unavailable_after) are removed WITH their values — in both the
   * plain and agent-scoped positions — because their ':' introduces a
   * value, not a directive list (review-caught: the spaced form
   * `max-image-preview: none` otherwise detaches a `none` token).
   * Token boundaries after the strips are metaRobots' exact
   * `(^|[\s,])`.
   */
  def xRobots(httpHeaders: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val v = lower(coalesce(
      element_at(httpHeaders, "x-robots-tag"), lit("")))
    // VALUED directives are removed WITH their values first — the
    // exclusion-from-strip alone left 'max-image-preview: none' (the
    // space-after-colon form Google's own docs use) contributing a
    // detached 'none' token that wrongly set both flags
    // (review-caught). A value runs to the next comma; an
    // unavailable_after RFC-850 date may itself contain one comma
    // ("Sunday, 06-Nov-94 ..."), whose remainder tokens are inert.
    val ValuedRe = "(^|,)\\s*(max-snippet|max-image-preview" +
      "|max-video-preview|unavailable_after)\\s*:[^,]*"
    val devalued = regexp_replace(v, ValuedRe, "$1")
    // then ONE leading agentname: prefix strips per comma section —
    // RFC 9110 joins repeated headers with ", ", so a second header's
    // space-less agent form ("noindex, otherbot:nofollow") sits
    // mid-value (review-caught); regexp_replace replaces ALL matches
    val agentless = regexp_replace(devalued,
      "(^|,)\\s*[a-z0-9_.*-]++\\s*+:\\s*+", "$1")
    // a SECOND devalue pass: an agent-scoped valued directive
    // ("googlebot: max-image-preview: none") only reaches a section
    // boundary after its agent prefix strips
    val stripped = regexp_replace(agentless, ValuedRe, "$1")
    def has(tok: String): org.apache.spark.sql.Column =
      stripped.rlike("(^|[\\s,])(" + tok + "|none)([\\s,]|$)")
    struct(has("noindex").as("noindex"), has("nofollow").as("nofollow"))
  }

  /**
   * Redirect edges of a crawl — the 3xx captures every real crawl is
   * full of (a redirect chain multiplies captures of ONE logical
   * page): response records with a redirect status AND a `Location`
   * header become (src_url, dst_url, status) edges, the target
   * resolved against the source per RFC 9110 §10.2.2 — relative
   * Locations are legal and common — through the SAME resolution and
   * canonicalization the link graph uses, so redirect edges and
   * anchor edges land in one key space. This is what URL-level dedup
   * collapses chains against and what a frontier follows.
   *
   * Scale shape: one shuffle-free projection where the records were
   * parsed; the status/header filter prunes before any expression
   * work. Pure codegen'd Column logic, no UDF.
   */
  // Staged like cdxIndex (r20): the canonical capture URL is computed
  // once, the Location resolves FROM that attribute, and the final
  // canonicalization fans out over the small resolved attribute — the
  // composed form re-embedded the canonicalize chain per internal
  // reference (~280 host-extract copies, a 170 kB plan for p155).
  def redirectEdges(records: DataFrame): DataFrame =
    records.where(col("warc_type") === "response" &&
        col("status").between(300L, 399L) &&
        element_at(col("http_headers"), "location").isNotNull)
      .select(
        graft.operators.UrlOps.canonicalizeUrl(col("target_uri"))
          .as("src_url"),
        element_at(col("http_headers"), "location").as("__loc"),
        col("status").cast("long").as("status"))
      .select(col("src_url"),
        graft.operators.Html.resolveHrefFromCanonical(
          col("src_url"), col("__loc")).as("__resolved"),
        col("status"))
      .select(col("src_url"),
        graft.operators.UrlOps.canonicalizeUrl(col("__resolved"))
          .as("dst_url"),
        col("status"))

  /**
   * Write a [[watRecords]] frame as `.warc.wat.gz` segment files (the
   * Common Crawl naming, which keeps them inside `records`' front-door
   * glob): WARC `metadata` records whose payload is the JSON envelope,
   * `WARC-Refers-To` pointing at the described record. Same segmenting
   * discipline as `export`: one file per docsPerFile id-range, a
   * leading warcinfo record, one task per file.
   */
  def watExport(wat: DataFrame, dir: String, docsPerFile: Int = 100): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val shards = wat.select(
        regexp_extract(col("record_id"), "(\\d+)>?$", 1)
          .cast("long").as("id"),
        col("record_id"), col("target_uri"), col("wat"))
      .repartition(expr(s"id DIV $docsPerFile"))
    shards.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      it.toArray.groupBy(_.getLong(0) / docsPerFile).foreach { case (_, rows) =>
        val minId = rows.iterator.map(_.getLong(0)).min
        val f = java.nio.file.Paths.get(dir, f"seg-$minId%08d.warc.wat.gz")
        val gz = new java.util.zip.GZIPOutputStream(
          java.nio.file.Files.newOutputStream(f))
        def record(headers: Seq[(String, String)],
                   payload: Array[Byte]): Unit = {
          val head = ("WARC/1.0" +: headers.map { case (k, v) => s"$k: $v" })
            .mkString("", "\r\n", "\r\n") +
            s"Content-Length: ${payload.length}\r\n\r\n"
          gz.write(head.getBytes("UTF-8")); gz.write(payload)
          gz.write(Crlf); gz.write(Crlf)
        }
        record(Seq("WARC-Type" -> "warcinfo",
          "WARC-Record-ID" -> s"<urn:graft:watinfo:$minId>"),
          "software: graft\r\nformat: WAT\r\n".getBytes("UTF-8"))
        rows.sortBy(_.getLong(0)).foreach { r =>
          record(Seq("WARC-Type" -> "metadata",
            "WARC-Target-URI" -> r.getString(2),
            "WARC-Record-ID" -> s"<urn:graft:wat:${r.getLong(0)}>",
            "WARC-Refers-To" -> r.getString(1),
            "Content-Type" -> "application/json"),
            r.getString(3).getBytes("UTF-8"))
        }
        gz.close()
      }
    }
  }

  /**
   * Fixture/export writer: shard `docs` into WARC response records
   * (URL `https://example.org/doc/{id}`, body = text), one
   * `.warc.gz` file per `docsPerFile` ids, written from the
   * executors (`foreachPartition` — the driver never sees a record).
   * A `warcinfo` header record leads each file, as real crawls have.
   */
  /** `wet = true` writes WET-style `conversion` records (Common
   * Crawl's extracted-text sibling): the payload IS the text, no HTTP
   * framing — the form most pipelines actually consume.
   * `bytesCol` switches to BINARY-payload mode: the named binary
   * column rides as the HTTP body verbatim under Content-Type `mime`
   * (e.g. PNG images under `image/png`) — the response-record shape
   * real crawls use for non-text captures.
   * `revisitEvery` > 0 additionally writes an ISO 28500 `revisit`
   * record (identical-payload-digest profile) after every id divisible
   * by it: same target URI, `WARC-Refers-To` the original response,
   * `WARC-Payload-Digest: sha256:<hex>` of the body it did NOT store,
   * HTTP headers only as payload — the crawl-time dedup pointer real
   * CC segments carry for re-crawled pages. */
  /** `transportCol` names a per-doc transport spec for RESPONSE
   * records — a content coding (`gzip`, `deflate`, or `zstd`),
   * `chunked`, or a `chunked+<coding>` combination (coding applied
   * first, chunked outermost, exactly the layering a real server
   * emits); empty/null = identity. The writer stamps the matching
   * Transfer-Encoding / Content-Encoding headers, so a round-trip
   * through [[records]] proves the transport decode. */
  def export(docs: DataFrame, dir: String, docsPerFile: Int = 100,
             idCol: String = "doc_id", textCol: String = "text",
             urlCol: Option[String] = None, wet: Boolean = false,
             bytesCol: Option[String] = None,
             mime: String = "text/plain; charset=utf-8",
             revisitEvery: Int = 0,
             httpHeaderCol: Option[String] = None,
             transportCol: Option[String] = None,
             mimeCol: Option[String] = None,
             statusCol: Option[String] = None): Unit = {
    require(bytesCol.isEmpty || !wet, "binary payloads need HTTP framing")
    require(revisitEvery == 0 || !wet, "revisit records are response-side")
    // binary + revisit composes cleanly: the planted digest hashes the
    // RAW payload bytes, and cdxCaptures hashes body_bytes on the
    // response side, so the pair compares for binary captures too
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val urlExpr = urlCol.map(col)
      .getOrElse(concat(lit("https://example.org/doc/"), col(idCol)))
    val payloadExpr = bytesCol.map(col)
      .getOrElse(encode(coalesce(col(textCol), lit("")), "UTF-8"))
    // optional 4th column: extra raw HTTP response header LINES per doc
    // ("X-Robots-Tag: noindex"), spliced verbatim into the head block
    val extraHdr = httpHeaderCol.map(col(_).cast("string"))
      .getOrElse(lit("")).as("xhdr")
    val transport = transportCol.map(col(_).cast("string"))
      .getOrElse(lit("")).as("transport")
    // optional per-doc Content-Type (charset-lane fixtures need a
    // different mime/charset per record); falls back to `mime`
    val mimeExpr = mimeCol.map(col(_).cast("string"))
      .getOrElse(lit(mime)).as("mime")
    // optional per-doc status LINE ("301 Moved Permanently") —
    // redirect/error-capture fixtures; default 200
    val statusExpr = statusCol.map(col(_).cast("string"))
      .getOrElse(lit("200 OK")).as("status_line")
    val shards = docs.select(col(idCol).cast("long").as("id"),
        payloadExpr.as("payload"), urlExpr.cast("string").as("url"),
        extraHdr, transport, mimeExpr, statusExpr)
      .repartition(expr(s"id DIV $docsPerFile"))
    shards.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      // one FILE per shard key — the repartition only spreads work; two
      // shard keys hashing into one task must still yield two segments
      it.toArray.groupBy(_.getLong(0) / docsPerFile).foreach { case (_, rows) =>
        val minId = rows.iterator.map(_.getLong(0)).min
        val f = java.nio.file.Paths.get(dir, f"seg-$minId%08d.warc.gz")
        val gz = new java.util.zip.GZIPOutputStream(
          java.nio.file.Files.newOutputStream(f))
        def record(headers: Seq[(String, String)], payload: Array[Byte]): Unit = {
          val head = ("WARC/1.0" +: headers.map { case (k, v) => s"$k: $v" })
            .mkString("", "\r\n", "\r\n") +
            s"Content-Length: ${payload.length}\r\n\r\n"
          gz.write(head.getBytes("UTF-8")); gz.write(payload); gz.write(Crlf); gz.write(Crlf)
        }
        record(Seq("WARC-Type" -> "warcinfo",
          "WARC-Record-ID" -> s"<urn:graft:warcinfo:$minId>"),
          "software: graft\r\n".getBytes("UTF-8"))
        rows.sortBy(_.getLong(0)).foreach { r =>
          val id = r.getLong(0)
          val body = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.empty[Byte])
          if (wet)
            record(Seq("WARC-Type" -> "conversion",
              "WARC-Target-URI" -> r.getString(2),
              "WARC-Record-ID" -> s"<urn:graft:doc:$id>",
              "Content-Type" -> "text/plain"), body)
          else {
            val xh = Option(r.getString(3)).filter(_.nonEmpty)
              .map(_ + "\r\n").getOrElse("")
            val mime = Option(r.getString(5)).getOrElse("text/plain")
            // transport spec: content coding INSIDE, chunked OUTSIDE —
            // the application order a real server uses (CE then TE)
            val enc = Option(r.getString(4)).getOrElse("")
            var pay = body
            val th = new StringBuilder
            if (enc.contains("gzip")) {
              pay = gzipBytes(pay); th ++= "Content-Encoding: gzip\r\n"
            } else if (enc.contains("deflate")) {
              pay = zlibBytes(pay); th ++= "Content-Encoding: deflate\r\n"
            } else if (enc.contains("zstd")) {
              pay = zstdBytes(pay); th ++= "Content-Encoding: zstd\r\n"
            }
            if (enc.contains("chunked")) {
              pay = chunkify(pay); th ++= "Transfer-Encoding: chunked\r\n"
            }
            val statusLine = Option(r.getString(6)).getOrElse("200 OK")
            val http = (s"HTTP/1.1 $statusLine\r\n" +
              s"Content-Type: $mime\r\n$xh$th\r\n").getBytes("UTF-8") ++ pay
            record(Seq("WARC-Type" -> "response",
              "WARC-Target-URI" -> r.getString(2),
              "WARC-Record-ID" -> s"<urn:graft:doc:$id>",
              "Content-Type" -> "application/http; msgtype=response"), http)
            if (revisitEvery > 0 && id % revisitEvery == 0) {
              val hex = java.security.MessageDigest.getInstance("SHA-256")
                .digest(body).map("%02x".format(_)).mkString
              val head = ("HTTP/1.1 200 OK\r\n" +
                s"Content-Type: $mime\r\n\r\n").getBytes("UTF-8")
              record(Seq("WARC-Type" -> "revisit",
                "WARC-Target-URI" -> r.getString(2),
                "WARC-Record-ID" -> s"<urn:graft:revisit:$id>",
                "WARC-Refers-To" -> s"<urn:graft:doc:$id>",
                "WARC-Payload-Digest" -> s"sha256:$hex",
                "WARC-Profile" ->
                  "http://netpreserve.org/warc/1.1/revisit/identical-payload-digest",
                "Content-Type" -> "application/http; msgtype=response"), head)
            }
          }
        }
        gz.close()
      }
    }
  }
}
