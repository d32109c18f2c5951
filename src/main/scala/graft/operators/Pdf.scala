package graft.operators

import java.nio.charset.StandardCharsets.ISO_8859_1

import org.apache.spark.sql.DataFrame

/**
 * Pure-JDK PDF text extraction — the highest-value non-image payload a
 * crawl carries through the binary front door (`WarcSource` p111
 * opened `body_bytes`; this gives `application/pdf` responses a text
 * path the way p92 gives `text/html` one). Hand-rolled in the style of
 * the WARC/WAV/AVI readers: no library, a documented SUBSET of ISO
 * 32000 sufficient for well-formed single-generation text PDFs —
 *
 *   - xref VALIDATION (the `startxref` offset must land on the `xref`
 *     keyword), but extraction walks stream objects LINEARLY rather
 *     than chasing the table — the robust fallback real extractors
 *     take, and strictly more tolerant of damaged crawled files;
 *   - `/FlateDecode` via `java.util.zip.Inflater` (the dominant
 *     content filter); unfiltered streams pass through; streams with
 *     any other filter (or corrupt deflate data) contribute no text;
 *   - text operators inside BT..ET: `Tj` and `'` (show string), `TJ`
 *     (show array — strings concatenate, kerning numbers drop),
 *     `Td`/`TD`/`T*`/`'` (line starts). String literals decode the
 *     full escape set: \( \) \\ \n \r \t \b \f, 1-3 digit octal, and
 *     backslash-newline continuation; parentheses nest per spec.
 *     Extracted text is the non-empty lines joined with \n.
 *
 * ENCRYPTED PDFs (r16): the standard security handler with an EMPTY
 * user password — the dominant encrypted-crawl class (files encrypted
 * only to restrict printing/copying; any reader opens them) — is IN
 * the subset for both RC4-128 (V2/R3) and AES-128-CBC (V4/R4 AESV2),
 * pure JDK (`javax.crypto` ships AES/CBC; RC4 is 15 lines): the file
 * key derives per ISO 32000-1 §7.6.3.3 Algorithm 2 from the padded
 * empty password, /O, /P, and /ID[0]; each stream decrypts under its
 * per-object MD5 key (Algorithm 1; +sAlT for AES, IV = first 16
 * bytes) BEFORE filters apply. The /U entry is VALIDATED first
 * (Algorithm 4/5) — a file whose password is genuinely non-empty
 * fails the check and contributes no text rather than garbage.
 *
 * COMPOSITE (Type0/CID) FONTS (r17): most post-2010 real-world PDFs
 * show 2-byte CIDs under a Type0 font instead of byte codes under a
 * simple font. Page `/Resources /Font` names resolve to their font
 * objects; a Type0 font's /ToUnicode CMap stream (bfchar + bfrange,
 * incremental and array destinations, UTF-16BE including surrogate
 * pairs and multi-char ligature targets) is parsed once per file, and
 * show strings under that font — literal or HEX `<...>` — group into
 * big-endian 2-byte CIDs mapped through it. A Type0 font WITHOUT a
 * readable ToUnicode contributes no text rather than mojibake; simple
 * fonts keep the byte-decoded path (hex strings decode byte-per-char).
 *
 * OBJECT STREAMS (r17): /Type /ObjStm streams — where PDF 1.5+ files
 * park their non-stream objects, page and font dicts included — are
 * expanded for DICT resolution: the /Font name discovery and the
 * font/descendant lookups see compressed-resident objects, so the
 * Type0 path works on modern files. /ObjStm never holds CONTENT
 * streams (ISO 32000-1 §7.5.7 forbids streams inside object streams),
 * so the linear text walk was never affected; this closes the
 * metadata-resolution half. Transport filters (r17): /Filter cascades
 * of ASCIIHex / ASCII85 over Flate decode in array order after
 * decryption.
 *
 * Out of the subset (documented, like mp4 for video): non-empty user
 * passwords, DCT/JBIG2/JPX/CCITT image-compression filters as TEXT
 * sources (DCT payloads DO feed the image family via extractImages),
 * and predefined (non-Identity) CMap ENCODINGS without ToUnicode —
 * each is a payload class, not a structural gap; the
 * walk/decode/operator machinery is where they would plug in.
 * (AES-256 joined in r17; predictors in r18; LZW/RunLength in r19.)
 *
 * Scale shape: parsing is per-row CPU inside `mapPartitions` (the
 * contract case for imperative per-partition logic — batched binary
 * decode), zero shuffle, zero driver involvement; bytes stay in the
 * scan that read them.
 */
object Pdf {

  final case class Extracted(xrefOk: Boolean, nStreams: Int, text: String)

  /** Parse one PDF byte array (see object doc for the subset). */
  def parse(bytes: Array[Byte]): Extracted = {
    // ISO-8859-1 maps bytes 1:1 to chars, so string offsets ARE byte
    // offsets and binary stream content survives the round-trip.
    val s = new String(bytes, ISO_8859_1)
    val xrefOk = {
      val at = s.lastIndexOf("startxref")
      if (at < 0) false
      else {
        val rest = s.substring(at + 9).trim.takeWhile(_.isDigit)
        rest.nonEmpty && rest.length <= 12 && {
          val off = rest.toLong
          off < s.length && (s.startsWith("xref", off.toInt) ||
            // PDF 1.5: the offset lands on the cross-reference STREAM
            // object (/Type /XRef) instead of a classic table
            xrefStreamDictAt(s, off.toInt).isDefined)
        }
      }
    }
    val crypt = resolveCrypt(s)
    val fonts = resolveFonts(s, crypt)
    var nStreams = 0
    val text = new StringBuilder
    var i = s.indexOf("stream")
    while (i >= 0) {
      val end = s.indexOf("endstream", i)
      if (end < 0) { i = -1 }
      else {
        nStreams += 1
        decodeStream(s, i, crypt).foreach { d =>
          val t = extractTextOps(new String(d, ISO_8859_1), fonts)
          if (t.nonEmpty) {
            if (text.nonEmpty) text.append('\n')
            text.append(t)
          }
        }
        i = s.indexOf("stream", end + 9)
      }
    }
    Extracted(xrefOk, nStreams, text.toString)
  }

  /** Decode the stream whose `stream` keyword starts at `kwAt`:
   * slice by the owning dict's /Length (EOL-trim fallback), decrypt
   * under the per-object key when the file is encrypted, inflate when
   * FlateDecode. None for other filters / corrupt data / unsupported
   * crypt — the stream then contributes nothing rather than garbage. */
  /** `dropLastFilters` > 0 leaves that many TRAILING /Filter entries
   * un-applied (r19: image XObjects hand the final DCTDecode's JPEG
   * bytes to javax.imageio instead of decoding it here). */
  private def decodeStream(s: String, kwAt: Int, crypt: Crypt,
                           dropLastFilters: Int = 0): Option[Array[Byte]] = {
    val end = s.indexOf("endstream", kwAt)
    if (end < 0) return None
    // keyword must be followed by EOL per spec; data starts after it
    var dataStart = kwAt + 6
    if (dataStart < s.length && s.charAt(dataStart) == '\r') dataStart += 1
    if (dataStart < s.length && s.charAt(dataStart) == '\n') dataStart += 1
    // the owning object's dict sits between the previous "obj" and
    // the stream keyword (our subset: no nested stream dicts)
    val objAt = s.lastIndexOf("obj", kwAt)
    val dict = if (objAt >= 0) s.substring(objAt, kwAt) else ""
    // exact data extent comes from the dict's /Length when present
    // and plausible (EOL trimming is AMBIGUOUS: compressed data may
    // itself end in 0x0A/0x0D bytes, which a blind trim would eat)
    val lenM = LengthRe.findFirstMatchIn(dict)
      .map(_.group(1)).filter(_.length <= 12)
    val dataEnd = lenM.map(n => dataStart + n.toLong)
      .filter(e => e >= dataStart && e <= end).map(_.toInt).getOrElse {
        var e2 = end
        if (e2 > dataStart && s.charAt(e2 - 1) == '\n') e2 -= 1
        if (e2 > dataStart && s.charAt(e2 - 1) == '\r') e2 -= 1
        e2
      }
    val sliced = s.substring(dataStart, dataEnd).getBytes(ISO_8859_1)
    // encryption applies to the stream bytes BEFORE any filter
    val rawOpt: Option[Array[Byte]] = crypt match {
      case NoCrypt => Some(sliced)
      case CryptUnsupported => None
      case StdCrypt(fk, aes, v5) =>
        if (v5) decryptAes(fk, sliced) // V5: the FILE key, no per-object key
        else objHeader(s, objAt) match {
          case Some((num, gen)) => decryptStream(fk, aes, num, gen, sliced)
          case None => None
        }
    }
    // filter PIPELINE (r17): /Filter names apply in array order after
    // decryption — ASCIIHex / ASCII85 transport encodings cascade into
    // Flate the way real tool-generated PDFs write them. Predictors
    // (r18): a /DecodeParms /Predictor un-predicts the OUTPUT of its
    // filter — PNG row filters (10-15: per-row tag, all five types)
    // and TIFF horizontal differencing (2), the shapes real writers
    // almost universally stamp on ObjStm and XRef streams (PNG
    // Predictor 12). LZW (EarlyChange-aware) and RunLength joined in
    // r19 — LZW composes with predictors through the same aligned
    // parms. Remaining filter classes (DCT/JBIG2/JPX/CCITT...) stay
    // out of the TEXT subset: their streams contribute no text rather
    // than mis-decoded garbage.
    val filters = parseFilters(dict)
    // a /Filter entry the parser could NOT read (indirect "12 0 R"
    // spec, oversized array) must DROP the stream like any unsupported
    // filter — passing raw encoded bytes through would regress the
    // no-garbage guarantee the pipeline replaced
    if (dict.contains("/Filter") && filters.isEmpty) return None
    val parms = parseDecodeParms(dict, filters.length) match {
      case Some(ps) => ps
      case None => return None // unreadable parms shape
    }
    // safety net: a /Predictor the parse did NOT surface (indirect
    // ref, nested shape) must drop the stream, never decode raw —
    // but an explicit literal `/Predictor 1` (the spec default, a
    // pass-through) is legal and SURFACED, so presence of any parsed
    // parms entry satisfies the net (review-caught)
    if (dict.contains("/Predictor") &&
      !parms.exists(_.isDefined)) return None
    rawOpt.flatMap { raw =>
      filters.dropRight(dropLastFilters).zip(parms)
        .foldLeft(Option(raw)) { case (acc, (f, pm)) =>
        acc.flatMap(d => f match {
          case "FlateDecode" | "Fl" => inflate(d)
          case "ASCIIHexDecode" | "AHx" => asciiHexDecode(d)
          case "ASCII85Decode" | "A85" => ascii85Decode(d)
          case "LZWDecode" | "LZW" => // r19: §7.4.4, EarlyChange-aware
            lzwDecode(d, pm.map(_.earlyChange).getOrElse(1))
          case "RunLengthDecode" | "RL" => runLengthDecode(d) // r19
          case _ => None
        }).flatMap(d => pm match {
          case Some(p) if p.predictor > 1 => unpredict(d, p)
          case _ => Some(d)
        })
      }
    }
  }

  /** The /Filter names of a stream dict in APPLICATION order: a bare
   * name or an array of names; empty when unfiltered. */
  private def parseFilters(dict: String): Seq[String] =
    FilterRe.findFirstMatchIn(dict) match {
      case None => Seq.empty
      case Some(m) =>
        FilterNameRe.findAllMatchIn(m.group(1)).map(_.group(1)).toSeq
    }
  private val FilterRe = """/Filter\s*(\[[^\]]{0,500}+\]|/[A-Za-z0-9]+)""".r
  private val FilterNameRe = """/([A-Za-z0-9]+)""".r

  /** Predictor parameters of one /DecodeParms entry (ISO 32000-1
   * Table 8 — LZW/Flate extra parameters). `earlyChange` is LZW-only
   * (§7.4.4.2, default 1 — width grows one code early). */
  private[graft] final case class PredParms(predictor: Int, colors: Int,
                                            bpc: Int, columns: Int,
                                            earlyChange: Int = 1)

  /** /DecodeParms (or /DP) entries ALIGNED to the filter list: a flat
   * dict pairs with a single filter, an array pairs by position
   * (`null` = no parms for that filter). None = a shape the subset
   * cannot read safely (bare dict on a cascade, a predictor'd entry
   * past the filter list, parms on an unfiltered stream) — the caller
   * drops the stream rather than decode without un-predicting. */
  private def parseDecodeParms(dict: String, nFilters: Int)
      : Option[Seq[Option[PredParms]]] = {
    val none: Seq[Option[PredParms]] = Seq.fill(nFilters)(None)
    ParmsRe.findFirstMatchIn(dict) match {
      case None =>
        // the legal bare-null form ('/DecodeParms null', emitted by
        // template-based writers) means NO parms — decode normally
        // (review-caught: the guard below was dropping such streams)
        if (NullParmsRe.findFirstIn(dict).isDefined) Some(none)
        // mirror the /Filter guard (advisor-caught): a /DecodeParms
        // (or /DP) key PRESENT but not in a shape ParmsRe reads — an
        // indirect "/DecodeParms 12 0 R", an oversized literal — may
        // hide a predictor; decoding without un-predicting would emit
        // garbage, so the stream drops
        else if (ParmsKeyRe.findFirstIn(dict).isDefined) None
        else Some(none)
      case Some(m) =>
        val tok = m.group(1)
        // an entry matters when it carries a key that changes decoding
        // (/Predictor, or /EarlyChange for LZW); others pass through
        def relevant(t: String): Boolean =
          t.contains("/Predictor") || t.contains("/EarlyChange")
        if (tok.startsWith("<<")) {
          if (!relevant(tok)) Some(none)
          else if (nFilters != 1) None
          else parseParmsDict(tok).map(p => Seq(Some(p)))
        } else { // array of null | <<...>> in filter order
          val entries = ParmsEntryRe.findAllMatchIn(tok)
            .map(_.group(0)).toSeq
          if (entries.drop(nFilters).exists(relevant))
            return None // decode-relevant entry with no filter to attach to
          val aligned = (0 until nFilters).map { i =>
            entries.lift(i).filter(_.startsWith("<<"))
          }
          // sequence: any present-but-unreadable relevant dict → None
          aligned.foldLeft(Option(Seq.empty[Option[PredParms]])) {
            (acc, e) => acc.flatMap { seq =>
              e match {
                case None => Some(seq :+ None)
                case Some(d) if !relevant(d) => Some(seq :+ None)
                case Some(d) => parseParmsDict(d).map(p => seq :+ Some(p))
              }
            }
          }
        }
    }
  }
  private def parseParmsDict(d: String): Option[PredParms] =
    for {
      pred <- intOf(d, "Predictor", 1) // absent = 1 (no prediction)
      colors <- intOf(d, "Colors", 1)
      bpc <- intOf(d, "BitsPerComponent", 8)
      cols <- intOf(d, "Columns", 1)
      early <- intOf(d, "EarlyChange", 1) // LZW width schedule (r19)
      if early == 0 || early == 1
    } yield PredParms(pred, colors, bpc, cols, early)
  // the `(?!\s+\d+\s+R)` lookaheads reject INDIRECT values
  // ("/Predictor 12 0 R" references object 12, it is not the literal
  // 12); a field that is PRESENT but unreadable (indirect, non-digit)
  // yields None — the whole parms dict then reads as unreadable and
  // the stream drops, because decoding with a default-guessed geometry
  // would emit garbage, not text
  private def intOf(d: String, name: String, dflt: Int): Option[Int] = {
    val lit = ("/" + name + """\s+(\d{1,7})\b(?!\s+\d+\s+R\b)""").r
    lit.findFirstMatchIn(d) match {
      case Some(m) => Some(m.group(1).toInt)
      case None =>
        if (("/" + name + "\\b").r.findFirstIn(d).isDefined) None
        else Some(dflt)
    }
  }
  private val ParmsRe =
    """/(?:DecodeParms|DP)\s*(\[[^\]]{0,1000}+\]|<<[^<>]{0,500}+>>)""".r
  private val ParmsKeyRe = """/(?:DecodeParms|DP)(?![A-Za-z0-9])""".r
  private val NullParmsRe = """/(?:DecodeParms|DP)\s+null(?![A-Za-z0-9])""".r
  private val ParmsEntryRe = """null|<<[^<>]{0,500}+>>""".r

  /** Undo a stream predictor on filter OUTPUT (ISO 32000-1 §7.4.4.4):
   * PNG row filters (predictor >= 10 — the VALUE only declares the
   * family; each row's leading tag byte picks None/Sub/Up/Average/
   * Paeth) and TIFF horizontal differencing (predictor 2, 8-bit
   * components). A final partial row decodes as far as the data
   * reaches (lenient, matching real readers); an unknown predictor
   * value, unknown PNG tag, or absurd geometry returns None — the
   * stream drops rather than mis-decodes. */
  private[graft] def unpredict(data: Array[Byte],
                               p: PredParms): Option[Array[Byte]] = {
    val bits = p.colors.toLong * p.bpc * p.columns
    if (p.colors < 1 || p.columns < 1 ||
      !Seq(1, 2, 4, 8, 16).contains(p.bpc) || bits > (1L << 30)) return None
    if (data.length == 0) return Some(data)
    val declaredRow = ((bits + 7) / 8).toInt
    // allocation bound (review-caught): a row can never hold more
    // bytes than the stream carries, so a crafted geometry
    // (/Columns 1000000 on a 200-byte stream) must not allocate
    // declared-row-sized buffers — clamp to the data length; the
    // per-row loop already reads at most the remaining bytes
    val rowBytes = math.min(declaredRow, data.length)
    val bpp = math.max(1, p.colors * p.bpc / 8)
    p.predictor match {
      case 1 => Some(data)
      case 2 =>
        if (p.bpc != 8) return None // sub-byte differencing: out of subset
        val out = data.clone()
        var r = 0
        while (r < out.length) {
          val end = math.min(r + rowBytes, out.length)
          var i = r + bpp
          while (i < end) {
            out(i) = (out(i) + out(i - bpp)).toByte; i += 1
          }
          r += rowBytes
        }
        Some(out)
      case pr if pr >= 10 && pr <= 15 =>
        val out = new java.io.ByteArrayOutputStream(data.length)
        val prev = new Array[Int](rowBytes)
        val cur = new Array[Int](rowBytes)
        var i = 0
        while (i < data.length) {
          val tag = data(i) & 0xff
          i += 1
          val n = math.min(rowBytes, data.length - i)
          if (n == 0) return None // tag byte with no row data
          var j = 0
          while (j < n) {
            val x = data(i + j) & 0xff
            val a = if (j >= bpp) cur(j - bpp) else 0
            val b = prev(j)
            val c = if (j >= bpp) prev(j - bpp) else 0
            val v = tag match {
              case 0 => x
              case 1 => x + a
              case 2 => x + b
              case 3 => x + (a + b) / 2
              case 4 =>
                val pp = a + b - c
                val pa = math.abs(pp - a)
                val pb = math.abs(pp - b)
                val pc = math.abs(pp - c)
                x + (if (pa <= pb && pa <= pc) a
                     else if (pb <= pc) b else c)
              case _ => return None // unknown PNG filter tag
            }
            cur(j) = v & 0xff
            j += 1
          }
          var k = 0
          while (k < n) { out.write(cur(k)); k += 1 }
          System.arraycopy(cur, 0, prev, 0, rowBytes)
          i += n
        }
        Some(out.toByteArray)
      case _ => None
    }
  }

  /** LZWDecode (ISO 32000-1 §7.4.4 — the TIFF-variant LZW ubiquitous
   * in pre-2005 tool output): variable 9..12-bit codes MSB-first,
   * ClearTable = 256 (legal anywhere, resets table and width),
   * EOD = 257; the code width widens as the table fills, ONE CODE
   * EARLY under the spec-default EarlyChange = 1 (the decoder widens
   * when its next-slot counter + EarlyChange reaches 512/1024/2048 —
   * the pdf.js-compatible reading of §7.4.4.2). None on any malformed
   * sequence — a code beyond the table, a truncated bitstream, or a
   * first code that is not a literal — never garbage. Missing EOD is
   * lenient (real writers omit it; the stream's /Length already
   * bounded the data). */
  private[graft] def lzwDecode(d: Array[Byte],
                               earlyChange: Int = 1): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(d.length * 4)
    val table = new Array[Array[Byte]](4096)
    var next = 258
    var width = 9
    var prev: Array[Byte] = null
    var acc = 0L
    var nbits = 0
    var i = 0
    while (true) {
      // fill the bit accumulator to one code's width
      while (nbits < width && i < d.length) {
        acc = (acc << 8) | (d(i) & 0xffL); nbits += 8; i += 1
      }
      if (nbits < width) { // bitstream exhausted
        // lenient on missing EOD only when at a clean inter-code
        // boundary: byte-alignment pad is AT MOST 7 bits and all zero.
        // nbits >= 8 means a whole byte of an unfinished code remains —
        // a TRUNCATED stream, which must degrade even when its
        // consumed prefix bits are zero (review-caught: a cut mid-way
        // into literal code 0 returned partial text as complete).
        // A missing-EOD stream padded with ONE-bits also degrades —
        // deliberate: nonzero residual bits are indistinguishable from
        // a truncated nonzero code, and the no-garbage policy wins
        // over leniency for that (rare) writer shape.
        return if (nbits < 8 && acc == 0) Some(out.toByteArray) else None
      }
      val code = ((acc >>> (nbits - width)) & ((1L << width) - 1)).toInt
      nbits -= width
      acc &= (1L << nbits) - 1
      if (code == 257) return Some(out.toByteArray) // EOD
      else if (code == 256) { next = 258; width = 9; prev = null }
      else {
        val entry: Array[Byte] =
          if (code < 256) Array(code.toByte)
          else if (code < next && table(code) != null) table(code)
          else if (code == next && prev != null) prev :+ prev(0) // KwKwK
          else return None // undefined code: corrupt stream
        out.write(entry, 0, entry.length)
        if (out.size() > MaxDecodedStream) return None // bomb: degrade
        if (prev != null && next < 4096) {
          table(next) = prev :+ entry(0); next += 1
        }
        prev = entry
        // EarlyChange-adjusted width growth (see doc comment)
        if (width < 12 && next + earlyChange >= (1 << width)) width += 1
      }
    }
    None // unreachable
  }

  /** Writer twin of [[lzwDecode]] for fixtures/specs: greedy
   * longest-match LZW with the mirrored width schedule (the encoder's
   * emit width is f(next − 1 + EarlyChange) so the decoder — one
   * table entry behind at read time — always agrees), a leading
   * ClearTable, table reset at 4095, and the EOD code. */
  private[graft] def lzwEncode(b: Array[Byte],
                               earlyChange: Int = 1): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(b.length)
    var acc = 0L
    var nbits = 0
    var width = 9
    def emit(code: Int): Unit = {
      acc = (acc << width) | code; nbits += width
      while (nbits >= 8) {
        out.write(((acc >>> (nbits - 8)) & 0xff).toInt); nbits -= 8
        acc &= (1L << nbits) - 1
      }
    }
    def widthFor(n: Int): Int =
      if (n < 512) 9 else if (n < 1024) 10 else if (n < 2048) 11 else 12
    val dict = new java.util.HashMap[Long, Integer](8192)
    var next = 258
    emit(256) // leading clear, as real encoders write
    if (b.nonEmpty) {
      var w = b(0) & 0xff // current match is a single known code so far
      var i = 1
      while (i < b.length) {
        val key = (w.toLong << 8) | (b(i) & 0xffL)
        val hit = dict.get(key)
        if (hit != null) w = hit.intValue()
        else {
          emit(w)
          dict.put(key, Integer.valueOf(next)); next += 1
          width = widthFor(next - 1 + earlyChange)
          if (next == 4095) { // table full: reset both sides
            emit(256); dict.clear(); next = 258; width = 9
          }
          w = b(i) & 0xff
        }
        i += 1
      }
      emit(w)
      // the decoder adds one more entry AFTER reading the final data
      // code (possibly widening) before it reads EOD — mirror that
      width = widthFor(next + earlyChange)
    }
    emit(257) // EOD
    if (nbits > 0) out.write(((acc << (8 - nbits)) & 0xff).toInt) // pad
    out.toByteArray
  }

  /** RunLengthDecode (ISO 32000-1 §7.4.5): a length byte L, then
   * L+1 literal bytes when L ≤ 127, or one byte repeated 257−L times
   * when L ≥ 129; L = 128 is EOD. None on truncated runs; a missing
   * EOD is lenient (the /Length already bounded the data). */
  private[graft] def runLengthDecode(d: Array[Byte]): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(d.length * 2)
    var i = 0
    while (i < d.length) {
      val l = d(i) & 0xff
      i += 1
      if (l == 128) return Some(out.toByteArray) // EOD
      else if (l < 128) {
        if (i + l + 1 > d.length) return None // truncated literal run
        out.write(d, i, l + 1); i += l + 1
      } else {
        if (i >= d.length) return None // truncated repeat run
        var k = 257 - l
        while (k > 0) { out.write(d(i)); k -= 1 }
        i += 1
      }
      if (out.size() > MaxDecodedStream) return None // bomb: degrade
    }
    Some(out.toByteArray)
  }

  /** Writer twin of [[runLengthDecode]] for fixtures/specs: maximal
   * repeat runs (≥3 to beat the literal form), 128-byte-capped
   * literal runs, trailing EOD. */
  private[graft] def runLengthEncode(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(b.length + 8)
    var i = 0
    while (i < b.length) {
      var run = 1
      while (i + run < b.length && run < 128 && b(i + run) == b(i)) run += 1
      if (run >= 3) {
        out.write(257 - run); out.write(b(i)); i += run
      } else {
        var lit = i + 1 // extend literals until a ≥3 repeat or cap
        var rep = 1
        while (lit < b.length && lit - i < 128 && rep < 3) {
          rep = if (b(lit) == b(lit - 1)) rep + 1 else 1
          lit += 1
        }
        // (rep==3 needs >=3 iterations, so lit >= i+4 before and
        // >= i+1 after the subtraction — the literal run is never
        // empty)
        if (rep == 3) lit -= 3 // leave the repeat for the next run
        out.write(lit - i - 1); out.write(b, i, lit - i); i = lit
      }
    }
    out.write(128)
    out.toByteArray
  }

  /** ASCIIHexDecode (ISO 32000-1 §7.4.2): hex pairs, whitespace
   * ignored, `>` ends data, odd final digit pads with 0. None on any
   * other character (malformed). */
  private[graft] def asciiHexDecode(d: Array[Byte]): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(d.length / 2 + 1)
    var hi = -1
    var i = 0
    var done = false
    while (i < d.length && !done) {
      val c = d(i).toChar
      if (c == '>') done = true
      else if (!Character.isWhitespace(c)) {
        val v = Character.digit(c, 16)
        if (v < 0) return None
        if (hi < 0) hi = v
        else { out.write(hi * 16 + v); hi = -1 }
      }
      i += 1
    }
    if (hi >= 0) out.write(hi * 16)
    Some(out.toByteArray)
  }

  /** ASCII85Decode (ISO 32000-1 §7.4.3): 5 chars of '!'..'u' per 4
   * bytes base-85 big-endian, `z` = four zero bytes (only between
   * groups), whitespace ignored, `~>` ends data, a partial group of n
   * chars yields n-1 bytes (padded with 'u' per spec). None on
   * out-of-range chars, a lone trailing char, or group overflow. */
  private[graft] def ascii85Decode(d: Array[Byte]): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(d.length * 4 / 5 + 4)
    val grp = new Array[Int](5)
    var n = 0
    var i = 0
    var done = false
    while (i < d.length && !done) {
      val c = d(i).toChar
      if (c == '~') done = true
      else if (c == 'z' && n == 0) {
        out.write(0); out.write(0); out.write(0); out.write(0)
      } else if (!Character.isWhitespace(c)) {
        if (c < '!' || c > 'u') return None
        grp(n) = c - '!'
        n += 1
        if (n == 5) {
          var v = 0L
          var k = 0
          while (k < 5) { v = v * 85 + grp(k); k += 1 }
          if (v > 0xffffffffL) return None
          out.write((v >>> 24).toInt); out.write(((v >>> 16) & 0xff).toInt)
          out.write(((v >>> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
          n = 0
        }
      }
      i += 1
    }
    if (n == 1) return None
    if (n > 1) {
      var v = 0L
      var k = 0
      while (k < 5) { v = v * 85 + (if (k < n) grp(k) else 84); k += 1 }
      if (v > 0xffffffffL) return None
      val b = Array((v >>> 24) & 0xff, (v >>> 16) & 0xff,
        (v >>> 8) & 0xff, v & 0xff)
      var j = 0
      while (j < n - 1) { out.write(b(j).toInt); j += 1 }
    }
    Some(out.toByteArray)
  }

  /** Fixture-side ASCII85 encoder (inverse of [[ascii85Decode]],
   * standard Adobe form with `z` shorthand and `~>` terminator). */
  private[graft] def ascii85Encode(d: Array[Byte]): String = {
    val sb = new StringBuilder(d.length * 5 / 4 + 2)
    var i = 0
    while (i + 4 <= d.length) {
      var v = 0L
      var k = 0
      while (k < 4) { v = (v << 8) | (d(i + k) & 0xffL); k += 1 }
      if (v == 0L) sb += 'z'
      else {
        val c = new Array[Char](5)
        var j = 4
        while (j >= 0) { c(j) = ('!' + (v % 85).toInt).toChar; v /= 85; j -= 1 }
        sb.appendAll(c)
      }
      i += 4
    }
    val rem = d.length - i
    if (rem > 0) {
      var v = 0L
      var k = 0
      while (k < 4) {
        v = (v << 8) | (if (k < rem) d(i + k) & 0xffL else 0L); k += 1
      }
      val c = new Array[Char](5)
      var j = 4
      while (j >= 0) { c(j) = ('!' + (v % 85).toInt).toChar; v /= 85; j -= 1 }
      sb.appendAll(c.take(rem + 1))
    }
    sb.append("~>")
    sb.toString
  }

  // ------------------------------------------- Type0 / ToUnicode fonts

  /** Decoded object BODIES of every /Type /ObjStm stream (ISO 32000-1
   * §7.5.7 — where PDF 1.5+ files park their non-stream objects, page
   * and font dicts included): the stream's first /First bytes are N
   * whitespace-separated (objnum, offset) pairs, the rest the
   * concatenated object bodies. Returns objnum → body text. Encrypted
   * files compose naturally (the ObjStm stream decrypts like any
   * stream; inner objects are NOT separately encrypted per spec).
   * Malformed counts/offsets clamp or skip — never throw. Content
   * streams can never live here (§7.5.7 forbids streams in object
   * streams), so only DICT resolution consults this. */
  private def objStmObjects(s: String, crypt: Crypt): Map[Int, String] = {
    val out = scala.collection.mutable.HashMap.empty[Int, String]
    var i = s.indexOf("stream")
    while (i >= 0) {
      val objAt = s.lastIndexOf("obj", i)
      val dict = if (objAt >= 0) s.substring(objAt, i) else ""
      if (dict.contains("/ObjStm")) {
        def intIn(name: String): Option[Int] =
          (s"/$name\\s+(\\d{1,9})(?!\\d)").r.findFirstMatchIn(dict)
            .map(_.group(1).toInt)
        for {
          data <- decodeStream(s, i, crypt)
          // no upper cap needed: the pair HEADER is bounded by /First
          // (≤ decoded length), so an absurd /N simply clamps to the
          // pairs the header actually holds
          n <- intIn("N") if n > 0
          first <- intIn("First") if first <= data.length
        } {
          val body = new String(data, ISO_8859_1)
          val nums = ObjStmIntRe.findAllMatchIn(body.substring(0, first))
            .map(_.group(1).toInt).toArray
          val pairs = nums.grouped(2).collect {
            case Array(num, off) => (num, off)
          }.take(n).toArray
          var k = 0
          while (k < pairs.length) {
            val (num, off) = pairs(k)
            val from = first.toLong + off
            val until =
              if (k + 1 < pairs.length) first.toLong + pairs(k + 1)._2
              else body.length.toLong
            if (from >= first && from <= until && until <= body.length &&
              !out.contains(num))
              out(num) = body.substring(from.toInt, until.toInt)
            k += 1
          }
        }
      }
      val end = s.indexOf("endstream", i)
      i = if (end < 0) -1 else s.indexOf("stream", end + 9)
    }
    out.toMap
  }
  private val ObjStmIntRe = """(\d{1,9})""".r

  /** Resolve every font RESOURCE name to its ToUnicode CID→text map —
   * present for Type0 (composite) fonts only; simple fonts keep the
   * byte-decoded path. Names live in page `/Resources /Font << /F1
   * 5 0 R >>` dicts; our subset treats the name space as per-FILE
   * (conflicting same-name bindings across pages: last wins). A Type0
   * font whose /ToUnicode is absent or unreadable maps to the EMPTY
   * map, so its show strings contribute no text rather than leaking
   * raw CID bytes as mojibake. */
  private def resolveFonts(s: String,
                           crypt: Crypt): Map[String, Map[Int, String]] = {
    // PDF 1.5+ parks page/font dicts inside /ObjStm streams: expand
    // them first (gated on the keyword — zero cost for classic files)
    // so both the /Font NAME discovery and the dict lookups below see
    // compressed-resident objects too
    val stmObjs: Map[Int, String] =
      if (s.contains("/ObjStm")) objStmObjects(s, crypt) else Map.empty
    val haystacks = s +: stmObjs.values.toSeq
    val refs = (for {
      hay <- haystacks.iterator
      fm <- FontDictRe.findAllMatchIn(hay)
      e <- FontEntryRe.findAllMatchIn(fm.group(1))
    } yield e.group(1) -> ((e.group(2).toInt, e.group(3).toInt)))
      .toSeq.distinct
    if (refs.isEmpty) return Map.empty
    // ONE anchored scan indexes every object header (first QUALIFYING
    // occurrence wins) — the per-ref whole-file regex scans this
    // replaces were O(fonts × file size) per PDF. Qualifying: the
    // bytes after the header open a dict (`<<` after optional
    // whitespace). Compressed/encrypted stream bytes can
    // coincidentally contain `N G obj` BEFORE the real header
    // (advice-caught) — every object this index resolves (font dicts,
    // ToUnicode stream objects) is dict-opened, so a non-dict
    // candidate is a stream-byte phantom, never the target.
    val objAt: Map[(Int, Int), Int] = {
      val m = scala.collection.mutable.HashMap.empty[(Int, Int), Int]
      ObjHeadAllRe.findAllMatchIn(s).foreach { h =>
        val k = (h.group(1).toInt, h.group(2).toInt)
        if (!m.contains(k)) {
          var i = h.end
          while (i < s.length && Character.isWhitespace(s.charAt(i))) i += 1
          if (s.startsWith("<<", i)) m(k) = h.start
        }
      }
      m.toMap
    }
    def objDict(num: Int, gen: Int): Option[String] =
      objAt.get((num, gen)).map { at =>
        val endAt = s.indexOf("endobj", at)
        val stmAt = s.indexOf("stream", at)
        val stop = Seq(endAt, stmAt).filter(_ >= 0)
          .reduceOption(_ min _).getOrElse(s.length)
        s.substring(at, stop)
      }.orElse(if (gen == 0) stmObjs.get(num) else None)
    def objStreamKw(num: Int, gen: Int): Option[Int] =
      objAt.get((num, gen)).flatMap { at =>
        val stmAt = s.indexOf("stream", at)
        val endAt = s.indexOf("endobj", at)
        if (stmAt >= 0 && (endAt < 0 || stmAt < endAt)) Some(stmAt) else None
      }
    refs.flatMap { case (name, (num, gen)) =>
      objDict(num, gen).filter(_.contains("/Type0")).map { dict =>
        name -> (for {
          m <- ToUniRe.findFirstMatchIn(dict)
          kwAt <- objStreamKw(m.group(1).toInt, m.group(2).toInt)
          data <- decodeStream(s, kwAt, crypt)
        } yield parseToUnicode(new String(data, ISO_8859_1)))
          .getOrElse(Map.empty)
      }
    }.toMap
  }
  // digit counts BOUNDED everywhere a match feeds .toInt: an absurd
  // object number in a malformed file must fail to MATCH, never throw
  // NumberFormatException out of a Spark task (the module's whole
  // degrade-to-no-text policy).
  private val FontDictRe = """(?s)/Font\s*<<(.*?)>>""".r
  private val FontEntryRe =
    """/([^\s/<>\[\]()]+)\s+(\d{1,9})\s+(\d{1,9})\s+R""".r
  private val ToUniRe = """/ToUnicode\s+(\d{1,9})\s+(\d{1,9})\s+R""".r
  private val ObjHeadAllRe = """(?<![0-9])(\d{1,9})\s+(\d{1,9})\s+obj""".r

  /** Parse a ToUnicode CMap stream (ISO 32000-1 §9.10.3): bfchar
   * blocks map one CID to a UTF-16BE string (multi-char destinations —
   * ligatures, surrogate pairs — decode naturally); bfrange blocks map
   * [lo,hi] either by incrementing a start destination or through an
   * explicit destination array. Codespace and CMap boilerplate are
   * skipped; hex tokens are the only operands read. */
  private[graft] def parseToUnicode(c: String): Map[Int, String] = {
    val out = Map.newBuilder[Int, String]
    // a CODE token (src/lo/hi) parses only when it fits a sane width —
    // a surrogate-pair DESTINATION misplaced into a src slot by a
    // malformed CMap (<D83DDE00>, 8 digits) must be skipped, never
    // throw NumberFormatException out of the task
    def hexCode(h: String): Int =
      if (h.isEmpty || h.length > 6) -1 else Integer.parseInt(h, 16)
    def utf16(hex: String): String =
      if (hex.length % 4 == 0)
        hex.grouped(4).map(Integer.parseInt(_, 16).toChar).mkString
      else if (hex.length <= 4) Integer.parseInt(hex, 16).toChar.toString
      else "" // malformed width: contribute nothing
    for (blk <- blocks(c, "beginbfchar", "endbfchar"))
      HexTokRe.findAllMatchIn(blk).map(_.group(1)).grouped(2).foreach {
        case Seq(src, dst) if hexCode(src) >= 0 =>
          out += hexCode(src) -> utf16(dst)
        case _ => // dangling token or absurd src width: skip
      }
    for (blk <- blocks(c, "beginbfrange", "endbfrange")) {
      // tokens in order: hex strings and array brackets
      val toks = RangeTokRe.findAllMatchIn(blk).map(_.group(0)).toSeq
      var i = 0
      while (i < toks.length) {
        (toks.lift(i), toks.lift(i + 1), toks.lift(i + 2)) match {
          case (Some(loT), Some(hiT), Some("["))
              if isHex(loT) && isHex(hiT) && hexCode(hexBody(loT)) >= 0 =>
            val lo = hexCode(hexBody(loT))
            var j = i + 2 + 1
            var k = 0
            while (j < toks.length && toks(j) != "]") {
              if (isHex(toks(j))) {
                out += (lo + k) -> utf16(hexBody(toks(j)))
                k += 1
              }
              j += 1
            }
            i = j + 1
          case (Some(loT), Some(hiT), Some(dstT))
              if isHex(loT) && isHex(hiT) && isHex(dstT) &&
                hexCode(hexBody(loT)) >= 0 && hexCode(hexBody(hiT)) >= 0 =>
            val lo = hexCode(hexBody(loT))
            val hi = hexCode(hexBody(hiT))
            val dstHex = hexBody(dstT)
            val base = BigInt(dstHex, 16)
            var k = 0
            while (k <= hi - lo && k < 65536) {
              val v = (base + k).toString(16).toUpperCase
              val padded = ("0" * ((dstHex.length - v.length) max 0)) + v
              out += (lo + k) -> utf16(padded)
              k += 1
            }
            i += 3
          case _ => i += 1
        }
      }
    }
    out.result()
  }
  private val HexTokRe = """<([0-9A-Fa-f]+)>""".r
  private val RangeTokRe = """<[0-9A-Fa-f]+>|\[|\]""".r
  private def isHex(t: String): Boolean = t.startsWith("<")
  private def hexBody(t: String): String = t.substring(1, t.length - 1)

  private def blocks(c: String, open: String, close: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = c.indexOf(open)
    while (i >= 0) {
      val end = c.indexOf(close, i)
      if (end < 0) i = -1
      else {
        out += c.substring(i + open.length, end)
        i = c.indexOf(open, end + close.length)
      }
    }
    out.result()
  }

  /** Map a shown string's raw bytes (chars 0–255) as big-endian 2-byte
   * CIDs through a ToUnicode map; unmapped CIDs and an odd trailing
   * byte contribute nothing (never mojibake). */
  private def mapCid(raw: String, cmap: Map[Int, String]): String = {
    val out = new StringBuilder
    var i = 0
    while (i + 1 < raw.length) {
      val cid = ((raw.charAt(i) & 0xff) << 8) | (raw.charAt(i + 1) & 0xff)
      cmap.get(cid).foreach(out ++= _)
      i += 2
    }
    out.toString
  }

  // --------------------------------------------- standard security handler

  private sealed trait Crypt
  private case object NoCrypt extends Crypt
  private case object CryptUnsupported extends Crypt
  private final case class StdCrypt(fileKey: Array[Byte], aes: Boolean,
                                    v5: Boolean = false)
      extends Crypt

  /** ISO 32000-1 §7.6.3.3: the 32-byte password padding constant. */
  private val PadBytes: Array[Byte] = Array(
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A).map(_.toByte)

  private def md5(parts: Array[Byte]*): Array[Byte] = {
    val d = java.security.MessageDigest.getInstance("MD5")
    parts.foreach(d.update)
    d.digest()
  }

  private[graft] def rc4(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val st = Array.tabulate(256)(_.toByte)
    var j = 0
    var i = 0
    while (i < 256) {
      j = (j + st(i) + key(i % key.length)) & 0xff
      val t = st(i); st(i) = st(j); st(j) = t
      i += 1
    }
    val out = new Array[Byte](data.length)
    var x = 0; var y = 0; var k = 0
    while (k < data.length) {
      x = (x + 1) & 0xff
      y = (y + st(x)) & 0xff
      val t = st(x); st(x) = st(y); st(y) = t
      out(k) = (data(k) ^ st((st(x) + st(y)) & 0xff)).toByte
      k += 1
    }
    out
  }

  /** Algorithm 2: the file encryption key for the EMPTY user password.
   * (R4 /EncryptMetadata false would append FFFFFFFF — we keep the
   * default-true case in the subset.) */
  private def fileKey(o: Array[Byte], p: Int, id0: Array[Byte], r: Int,
                      keyLen: Int): Array[Byte] = {
    val pLe = Array[Byte](p.toByte, (p >> 8).toByte, (p >> 16).toByte,
      (p >> 24).toByte)
    var h = md5(PadBytes, o, pLe, id0)
    if (r >= 3) for (_ <- 0 until 50) h = md5(h.take(keyLen))
    h.take(keyLen)
  }

  /** Algorithm 1: the per-object key (MD5 of file key + obj/gen LE
   * bytes, +sAlT for AESV2), truncated to min(keyLen+5, 16). */
  private def objKey(fk: Array[Byte], num: Int, gen: Int,
                     aes: Boolean): Array[Byte] = {
    val ext = Array[Byte](num.toByte, (num >> 8).toByte, (num >> 16).toByte,
      gen.toByte, (gen >> 8).toByte)
    val salt = if (aes) Array[Byte](0x73, 0x41, 0x6C, 0x54) else Array.empty[Byte]
    md5(fk, ext, salt).take(math.min(fk.length + 5, 16))
  }

  /** Algorithm 3: the /O value for empty owner AND user passwords. */
  private[graft] def ownerValue(r: Int, keyLen: Int): Array[Byte] = {
    var h = md5(PadBytes)
    if (r >= 3) for (_ <- 0 until 50) h = md5(h)
    val rk = h.take(keyLen)
    var o = rc4(rk, PadBytes)
    if (r >= 3) for (i <- 1 to 19) o = rc4(rk.map(b => (b ^ i).toByte), o)
    o
  }

  /** Algorithm 4 (R2) / 5 (R3+): the /U value for the empty user
   * password — what a conforming reader validates the password
   * against. R3+ compares the first 16 bytes only; the tail is
   * arbitrary padding (we write zeros). */
  private[graft] def userValue(fk: Array[Byte], r: Int,
                               id0: Array[Byte]): Array[Byte] = {
    if (r == 2) rc4(fk, PadBytes)
    else {
      var u = rc4(fk, md5(PadBytes, id0))
      for (i <- 1 to 19) u = rc4(fk.map(b => (b ^ i).toByte), u)
      u ++ new Array[Byte](16)
    }
  }

  private def decryptStream(fk: Array[Byte], aes: Boolean, num: Int,
                            gen: Int, data: Array[Byte]): Option[Array[Byte]] = {
    val ek = objKey(fk, num, gen, aes)
    if (!aes) Some(rc4(ek, data))
    else decryptAes(ek, data)
  }

  /** AES-CBC stream decryption (AESV2 per-object keys and AESV3 file
   * keys share the wire format: IV = first 16 bytes, PKCS#5 padding). */
  private def decryptAes(key: Array[Byte],
                         data: Array[Byte]): Option[Array[Byte]] = {
    if (data.length < 16 || (data.length - 16) % 16 != 0) return None
    try {
      val c = javax.crypto.Cipher.getInstance("AES/CBC/PKCS5Padding")
      c.init(javax.crypto.Cipher.DECRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(key, "AES"),
        new javax.crypto.spec.IvParameterSpec(data.take(16)))
      Some(c.doFinal(data, 16, data.length - 16))
    } catch { case _: java.security.GeneralSecurityException => None }
  }

  /** ISO 32000-2 Algorithm 2.B — the R6 password hash (R5, the
   * deprecated ExtensionLevel 3 form, stops at the initial SHA-256):
   * K = SHA-256(pw‖salt‖udata), then rounds of AES-256-CBC(K₀₋₁₅,
   * IV=K₁₆₋₃₁) over 64 repetitions of (pw‖K‖udata), re-hashed with
   * SHA-256/384/512 chosen by (ΣE₀₋₁₅ mod 3), at least 64 rounds and
   * until E's last byte ≤ rounds−32. Pure JDK. */
  private[graft] def hash2B(pw: Array[Byte], salt: Array[Byte],
                            udata: Array[Byte], r: Int): Array[Byte] = {
    def sha(alg: String, parts: Array[Byte]*): Array[Byte] = {
      val d = java.security.MessageDigest.getInstance(alg)
      parts.foreach(d.update)
      d.digest()
    }
    var k = sha("SHA-256", pw, salt, udata)
    if (r == 5) return k
    var rounds = 0
    var stop = false
    // ONE provider lookup for the whole hash (>= 64 rounds) — re-init
    // per round is still required because key and IV change
    val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
    while (!stop) {
      val block = pw ++ k ++ udata
      val k1 = new Array[Byte](block.length * 64)
      var j = 0
      while (j < 64) {
        System.arraycopy(block, 0, k1, j * block.length, block.length)
        j += 1
      }
      c.init(javax.crypto.Cipher.ENCRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(k.take(16), "AES"),
        new javax.crypto.spec.IvParameterSpec(k.slice(16, 32)))
      val e = c.doFinal(k1)
      val mod = e.take(16).map(b => b & 0xff).sum % 3
      k = sha(mod match {
        case 0 => "SHA-256"
        case 1 => "SHA-384"
        case _ => "SHA-512"
      }, e)
      rounds += 1
      if (rounds >= 64 && (e.last & 0xff) <= rounds - 32) stop = true
    }
    k.take(32)
  }

  /** AES-CBC with a ZERO IV and no padding — the /UE//OE unwrap mode
   * (ISO 32000-2 Algorithm 8/9). */
  private[graft] def aesNoPad(key: Array[Byte], data: Array[Byte],
                              encryptMode: Boolean): Array[Byte] = {
    val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
    c.init(if (encryptMode) javax.crypto.Cipher.ENCRYPT_MODE
      else javax.crypto.Cipher.DECRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(new Array[Byte](16)))
    c.doFinal(data)
  }

  /** (objnum, gen) of the object whose `obj` keyword ends at objAt. */
  private def objHeader(s: String, objAt: Int): Option[(Int, Int)] =
    if (objAt < 0) None
    else ObjHeadRe.findFirstMatchIn(
      s.substring(math.max(0, objAt - 24), objAt))
      .map(m => (m.group(1).toInt, m.group(2).toInt))
  private val ObjHeadRe = """(\d{1,9})\s+(\d{1,9})\s*$""".r

  /** The cross-reference STREAM object's dict when byte offset `off`
   * lands on one (PDF 1.5 — `N G obj << ... /Type /XRef ... >>`):
   * the dict text between the header and its `stream` keyword. None
   * when the offset doesn't start an XRef stream object. */
  private def xrefStreamDictAt(s: String, off: Int): Option[String] = {
    if (off < 0 || off >= s.length) return None
    val seg = s.substring(off, math.min(s.length, off + 40))
    if (XrefHeadRe.findPrefixOf(seg).isEmpty) return None
    val stmAt = s.indexOf("stream", off)
    val endAt = s.indexOf("endobj", off)
    val stop = Seq(stmAt, endAt).filter(_ >= 0)
      .reduceOption(_ min _).getOrElse(return None)
    val dict = s.substring(off, stop)
    if (dict.contains("/XRef")) Some(dict) else None
  }
  private val XrefHeadRe = """\d{1,9}\s+\d{1,9}\s+obj""".r

  /** The file's trailer DICTIONARY text — where /Root, /Encrypt and
   * /ID live: the classic `trailer` dict when present; else the
   * cross-reference STREAM's dict reached through `startxref` (PDF
   * 1.5 — the normal Acrobat 7+ output has NO classical trailer, so
   * an encrypted xref-stream file would otherwise never find its
   * /Encrypt); else the whole file (legacy lenient fallback). */
  private def trailerDictText(s: String): String = {
    val trailerAt = s.lastIndexOf("trailer")
    if (trailerAt >= 0) return s.substring(trailerAt)
    val at = s.lastIndexOf("startxref")
    if (at >= 0) {
      val digits = s.substring(at + 9).trim.takeWhile(_.isDigit)
      if (digits.nonEmpty && digits.length <= 12) {
        val off = digits.toLong
        if (off < s.length) {
          val d = xrefStreamDictAt(s, off.toInt)
          if (d.isDefined) return d.get
        }
      }
    }
    s
  }

  /** Locate and resolve the trailer's /Encrypt dictionary: NoCrypt when
   * absent, StdCrypt when it is a supported standard-handler shape AND
   * the empty user password validates against /U, CryptUnsupported
   * otherwise (non-empty password, exotic filters) — streams
   * then contribute no text rather than garbage. */
  private def resolveCrypt(s: String): Crypt = {
    // /Encrypt is a TRAILER key (ISO 32000-1 §7.5.5): anchor the search
    // to the trailer dict — classic or xref-stream (r18) — so a
    // coincidental "/Encrypt N G R" inside an uncompressed content
    // stream (a PDF documenting PDF syntax) can't flip an unencrypted
    // file to CryptUnsupported and silently drop all its text.
    val hay = trailerDictText(s)
    val encRef = EncRefRe.findAllMatchIn(hay).toSeq.lastOption
      .getOrElse(return NoCrypt)
    val (num, gen) = (encRef.group(1).toInt, encRef.group(2).toInt)
    // anchored header match: a bare indexOf("6 0 obj") would hit the
    // digit-suffix of a longer object number ("16 0 obj") or a binary
    // fluke inside a stream, reading the wrong dictionary and silently
    // dropping a supported file's text. Of the anchored candidates,
    // take the first whose dict names the Standard handler.
    val headRe = (s"(?<![0-9])$num\\s+$gen\\s+obj").r
    val dict = headRe.findAllMatchIn(s).map { m =>
      val endAt = s.indexOf("endobj", m.start)
      s.substring(m.start, if (endAt < 0) s.length else endAt)
    }.find(_.contains("/Standard")).getOrElse(return CryptUnsupported)
    def intField(name: String): Option[Int] =
      s"""/$name\\s+(-?\\d+)""".r.findFirstMatchIn(dict)
        .map(_.group(1)).filter(_.length <= 11).map(_.toLong)
        .filter(v => v >= Int.MinValue && v <= Int.MaxValue).map(_.toInt)
    def strField(name: String): Option[Array[Byte]] = {
      val hex = s"""/$name\\s*<([0-9A-Fa-f]+)>""".r
      hex.findFirstMatchIn(dict).map(m =>
        m.group(1).grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)
        .orElse {
          val at = s"""/$name\\s*\\(""".r.findFirstMatchIn(dict)
          at.map(m => parseString(dict, m.end - 1)._1.getBytes(ISO_8859_1))
        }
    }
    val v = intField("V").getOrElse(0)
    val r = intField("R").getOrElse(0)
    // V5 (AES-256, ISO 32000-2): the empty user password validates
    // against /U's hash+salts and /UE unwraps the 32-byte FILE key —
    // no per-object keys, AESV3 streams decrypt under it directly.
    // R5 is the deprecated single-SHA-256 form, R6 the full 2.B hash.
    if (v == 5) {
      if ((r != 5 && r != 6) || !dict.contains("/AESV3"))
        return CryptUnsupported
      val u = strField("U").filter(_.length >= 48)
        .getOrElse(return CryptUnsupported)
      val ue = strField("UE").filter(_.length >= 32)
        .getOrElse(return CryptUnsupported)
      val vsalt = u.slice(32, 40)
      val ksalt = u.slice(40, 48)
      val expect = hash2B(Array.empty, vsalt, Array.empty, r)
      if (!java.util.Arrays.equals(expect.take(32), u.take(32)))
        return CryptUnsupported // genuinely non-empty password
      val inter = hash2B(Array.empty, ksalt, Array.empty, r)
      val fk = try aesNoPad(inter, ue.take(32), encryptMode = false)
      catch { case _: java.security.GeneralSecurityException =>
        return CryptUnsupported }
      return StdCrypt(fk, aes = true, v5 = true)
    }
    val p = intField("P").getOrElse(return CryptUnsupported)
    val o = strField("O").getOrElse(return CryptUnsupported)
    val u = strField("U").getOrElse(return CryptUnsupported)
    val aes = dict.contains("/AESV2")
    // /Length must be read from the TOP-LEVEL encrypt dict only: the
    // V4 /CF crypt-filter subdict carries its own /Length in BYTES
    // (not bits) — matching "/CF << /StdCF << ... /Length 16 >> >>"
    // would parse keyLen as 2 and reject a supported file. And a legal
    // V4 dict may omit the top-level /Length entirely: the effective
    // default there is 128 bits (AESV2 keys are 128-bit), not the
    // spec's literal 40.
    val keyLen = {
      val cfAt = dict.indexOf("/CF")
      val top = if (cfAt >= 0) dict.substring(0, cfAt) else dict
      """/Length\s+(-?\d{1,9})(?!\d)""".r.findFirstMatchIn(top)
        .map(_.group(1).toInt)
        .getOrElse(if (v == 4) 128 else 40) / 8
    }
    val supported =
      ((v == 1 || v == 2) && (r == 2 || r == 3) && !aes) ||
        (v == 4 && r == 4 && aes)
    if (!supported || o.length < 32 || keyLen < 5 || keyLen > 16)
      return CryptUnsupported
    val id0 = IdRe.findFirstMatchIn(trailerDictText(s)).map(m =>
      m.group(1).grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)
      .getOrElse(Array.empty[Byte])
    val fk = fileKey(o, p, id0, r, if (v == 1) 5 else keyLen)
    val expectU = userValue(fk, r, id0)
    val checkLen = if (r == 2) 32 else 16
    if (u.length >= checkLen &&
      java.util.Arrays.equals(u.take(checkLen), expectU.take(checkLen)))
      StdCrypt(fk, aes)
    else CryptUnsupported
  }
  private val EncRefRe = """/Encrypt\s+(\d{1,9})\s+(\d{1,9})\s+R""".r
  private val IdRe = """/ID\s*\[\s*<([0-9A-Fa-f]+)>""".r

  // direct /Length only (indirect "N 0 R" lengths are out of subset —
  // the lookahead rejects them, falling back to EOL trimming). The
  // digits are POSSESSIVE (\d++): with a backtrackable \d+ the engine
  // defeats the lookahead on "/Length 123 0 R" by shrinking the match
  // to "12" (lookahead then sees "3 0 R", which is not \s+\d+\s+R),
  // slicing the stream at a bogus offset and silently dropping its
  // text instead of falling back to EOL trimming.
  private val LengthRe = """/Length\s+(\d++)(?!\s+\d+\s+R)""".r

  /** Decompression-bomb bound for ONE decoded stream (r19,
   * review-caught: a ~65 KB crafted deflate/LZW body expanding
   * unbounded would OOM the task before any geometry guard runs;
   * WarcSource's transport decode has the same cap for the same
   * reason). Real content streams and raw image samples live far
   * below it; exceeding it degrades the stream. */
  private val MaxDecodedStream: Long = 64L << 20

  private def inflate(raw: Array[Byte]): Option[Array[Byte]] = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(raw)
      val out = new java.io.ByteArrayOutputStream(raw.length * 4)
      val buf = new Array[Byte](8192)
      while (!inf.finished() && !inf.needsInput()) {
        val n = inf.inflate(buf)
        if (n > 0) out.write(buf, 0, n)
        else if (n == 0 && !inf.finished()) return None // stalled: corrupt
        if (out.size() > MaxDecodedStream) return None // bomb: degrade
      }
      if (inf.finished()) Some(out.toByteArray) else None
    } catch {
      case _: java.util.zip.DataFormatException => None
    } finally inf.end()
  }

  /** Run the BT/ET text-operator machine over one decoded content
   * stream; returns non-empty lines joined with \n. `fonts` carries
   * the resolved Type0 ToUnicode maps by RESOURCE name: when the
   * current font (tracked via `Tf`) is composite, show-string bytes —
   * literal or hex — group into big-endian 2-byte CIDs and map through
   * the CMap; under simple fonts hex strings decode byte-per-char like
   * literals. */
  private[graft] def extractTextOps(
      c: String,
      fonts: Map[String, Map[Int, String]] = Map.empty): String = {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    val pending = scala.collection.mutable.ArrayBuffer.empty[String]
    var inBT = false
    var lastName = ""
    var curCid: Option[Map[Int, String]] = None
    def shown(raw: String): String = curCid match {
      case Some(m) => mapCid(raw, m)
      case None => raw
    }
    def endLine(): Unit = {
      if (cur.nonEmpty) { lines += cur.toString; cur.clear() }
    }
    var i = 0
    val n = c.length
    while (i < n) {
      val ch = c.charAt(i)
      if (ch == '(') {
        val (str, next) = parseString(c, i)
        if (inBT) pending += shown(str)
        i = next
      } else if (ch == '%') {
        while (i < n && c.charAt(i) != '\n' && c.charAt(i) != '\r') i += 1
      } else if (ch == '<' && i + 1 < n && c.charAt(i + 1) == '<') {
        i += 2 // dict markers carry no text in our subset
      } else if (ch == '<') {
        // hex string: pairs of hex digits, odd count padded with 0 per
        // spec; whitespace inside is legal and skipped. A NON-hex char
        // before the closing '>' means this was a stray '<' (binary
        // inline-image data, malformed markup), not a hex string: the
        // scan ABORTS back to one-char-skip so a lone '<' can never
        // swallow a later BT..ET block's text.
        val hex = new StringBuilder
        val start = i
        i += 1
        var bad = false
        while (!bad && i < n && c.charAt(i) != '>') {
          val h = c.charAt(i)
          if ((h >= '0' && h <= '9') || (h >= 'A' && h <= 'F') ||
            (h >= 'a' && h <= 'f')) { hex += h; i += 1 }
          else if (h == ' ' || h == '\n' || h == '\r' || h == '\t' ||
            h == '\f' || h == 0.toChar) i += 1
          else bad = true
        }
        if (bad || i >= n) {
          i = start + 1 // stray '<': plain one-char skip, nothing shown
        } else {
          i += 1 // consume '>'
          if (hex.length % 2 == 1) hex += '0'
          if (inBT) {
            val raw = hex.toString.grouped(2)
              .map(Integer.parseInt(_, 16).toChar).mkString
            pending += shown(raw)
          }
        }
      } else if (ch == '[' || ch == ']' || ch == '>') {
        i += 1 // TJ array brackets; stray '>' is noise
      } else if (ch == '/') {
        i += 1
        val start = i
        while (i < n && !isDelim(c.charAt(i))) i += 1
        lastName = c.substring(start, i)
      } else if (isDelim(ch)) {
        i += 1
      } else {
        val start = i
        while (i < n && !isDelim(c.charAt(i))) i += 1
        c.substring(start, i) match {
          case "BT" => inBT = true; pending.clear()
          case "ET" => endLine(); inBT = false; pending.clear()
          case "Tf" => // font select: /Name size Tf
            curCid = fonts.get(lastName); pending.clear()
          case "Tj" if inBT =>
            pending.lastOption.foreach(cur ++= _); pending.clear()
          case "TJ" if inBT =>
            pending.foreach(cur ++= _); pending.clear()
          case "'" if inBT =>
            endLine(); pending.lastOption.foreach(cur ++= _); pending.clear()
          case "Td" | "TD" | "T*" if inBT =>
            endLine(); pending.clear()
          case tok if isNumber(tok) => // numeric OPERAND (TJ kern, Td
            // coords): not an operator — accumulated strings survive
          case _ => pending.clear() // any other operator consumes operands
        }
      }
    }
    endLine()
    lines.mkString("\n")
  }

  private def isNumber(tok: String): Boolean = {
    var i = if (tok.startsWith("+") || tok.startsWith("-")) 1 else 0
    var digits = false
    var dot = false
    while (i < tok.length) {
      val ch = tok.charAt(i)
      if (ch >= '0' && ch <= '9') digits = true
      else if (ch == '.' && !dot) dot = true
      else return false
      i += 1
    }
    digits
  }

  private def isDelim(ch: Char): Boolean =
    ch == ' ' || ch == '\n' || ch == '\r' || ch == '\t' || ch == '\f' ||
      ch == 0.toChar || ch == '(' || ch == ')' || ch == '[' || ch == ']' ||
      ch == '<' || ch == '>' || ch == '/' || ch == '%'

  /** Parse a PDF string literal starting at `start` (a '('); returns
   * (decoded, index after the closing paren). Full escape set +
   * nested parens. */
  private[graft] def parseString(c: String, start: Int): (String, Int) = {
    val out = new StringBuilder
    var depth = 1
    var i = start + 1
    val n = c.length
    while (i < n && depth > 0) {
      val ch = c.charAt(i)
      if (ch == '\\' && i + 1 < n) {
        c.charAt(i + 1) match {
          case 'n' => out += '\n'; i += 2
          case 'r' => out += '\r'; i += 2
          case 't' => out += '\t'; i += 2
          case 'b' => out += '\b'; i += 2
          case 'f' => out += '\f'; i += 2
          case '(' => out += '('; i += 2
          case ')' => out += ')'; i += 2
          case '\\' => out += '\\'; i += 2
          case '\n' => i += 2 // continuation: swallow
          case '\r' =>
            i += 2; if (i < n && c.charAt(i) == '\n') i += 1
          case d if d >= '0' && d <= '7' =>
            var v = 0; var k = 0; i += 1
            while (k < 3 && i < n && c.charAt(i) >= '0' && c.charAt(i) <= '7') {
              v = v * 8 + (c.charAt(i) - '0'); i += 1; k += 1
            }
            out += (v & 0xff).toChar
          case other => out += other; i += 2 // \x -> x per spec
        }
      } else if (ch == '(') { depth += 1; out += ch; i += 1 }
      else if (ch == ')') {
        depth -= 1; if (depth > 0) out += ch
        i += 1
      } else { out += ch; i += 1 }
    }
    (out.toString, i)
  }

  /**
   * Extract text from a frame of PDF payloads: one `mapPartitions`
   * pass, (id, xref_ok, n_streams, n_chars, text) per input row.
   * Composes directly with `WarcSource.records`' `body_bytes` for
   * `application/pdf` responses (the p111 front door).
   */
  def extractTexts(pdfs: DataFrame, idCol: String = "id",
                   payloadCol: String = "payload"): DataFrame =
    Multimodal.decodePayloads(pdfs, idCol, payloadCol, "id", "xref_ok",
      "n_streams", "n_chars", "text")(_.map { case (id, b) =>
      // last-resort backstop for the degrade-to-no-text policy: a
      // parser bug on one malformed crawl PDF must surface as an
      // empty row, never as a task-killing exception
      val r = try parse(b) catch {
        case scala.util.control.NonFatal(_) => Extracted(false, 0, "")
      }
      (id, r.xrefOk, r.nStreams.toLong, r.text.length.toLong, r.text)
    })

  /** DCT (JPEG) image XObjects of one document (r19 — images are
   * prime crawl payload and the missing edge between the PDF door and
   * the image near-dup family): every stream whose dict declares
   * `/Subtype /Image` and whose FINAL filter is DCTDecode is
   * decrypted and transport-decoded through the shared pipeline
   * (ASCIIHex/ASCII85/Flate/LZW/RunLength cascades compose exactly as
   * for text streams), and the remaining bytes — a complete JFIF
   * stream — return as-is: javax.imageio decodes JPEG natively, so
   * dHash + the banded hamming join pair a PDF-embedded image with
   * its standalone twin. Other image compressions (JPXDecode, CCITT,
   * JBIG2, raw samples) stay out of the subset — no bytes, never
   * garbage. Document order preserved. */
  private[graft] def extractImageBytes(bytes: Array[Byte]): Seq[Array[Byte]] = {
    val s = new String(bytes, ISO_8859_1)
    val crypt = resolveCrypt(s)
    // object numbers referenced as SOFT MASKS ('/SMask 12 0 R'): an
    // alpha mask is /Subtype /Image, 8-bit /DeviceGray, Flate — every
    // raw-branch guard passes — but it is not CONTENT; extracting it
    // shifts image ids and its near-constant gradient dHashes collide
    // across unrelated documents (review-caught). Skip mask targets.
    val maskObjs: Set[Int] =
      SMaskRefRe.findAllMatchIn(s).map(_.group(1).toInt).toSet
    val out = Seq.newBuilder[Array[Byte]]
    var i = s.indexOf("stream")
    while (i >= 0) {
      val end = s.indexOf("endstream", i)
      if (end < 0) i = -1
      else {
        val objAt = s.lastIndexOf("obj", i)
        val dict = if (objAt >= 0) s.substring(objAt, i) else ""
        val isMask =
          // stencil masks are 1-bit non-content by definition
          ImageMaskRe.findFirstIn(dict).isDefined ||
            objHeader(s, objAt).exists(h => maskObjs.contains(h._1))
        if (ImageSubtypeRe.findFirstIn(dict).isDefined && !isMask)
          parseFilters(dict).lastOption match {
            case Some("DCTDecode" | "DCT") =>
              // JPEG: undo the transport filters, hand the JFIF bytes
              // to the imageio path as-is
              decodeStream(s, i, crypt, dropLastFilters = 1).foreach(out += _)
            case Some("FlateDecode" | "Fl" | "LZWDecode" | "LZW" |
                      "RunLengthDecode" | "RL" |
                      "ASCIIHexDecode" | "AHx" | "ASCII85Decode" | "A85") =>
              // raw-sample images (the PNG-converted class, r19): any
              // FINAL filter the pipeline fully decodes yields raw
              // samples — predictors ride the same aligned
              // /DecodeParms, with /Colors 3 geometry — and the
              // declared geometry wraps them into a real PNG for the
              // shared imageio path
              decodeStream(s, i, crypt)
                .flatMap(rawSamplesToPng(dict, _)).foreach(out += _)
            case _ => // JPX/CCITT/JBIG2/raw: no pure-JDK path
          }
        i = s.indexOf("stream", end + 9)
      }
    }
    out.result()
  }
  private val ImageSubtypeRe = """/Subtype\s*/Image(?![A-Za-z0-9])""".r
  private val SMaskRefRe = """/SMask\s+(\d{1,9})\s+\d+\s+R(?![A-Za-z0-9])""".r
  private val ImageMaskRe = """/ImageMask\s+true(?![A-Za-z0-9])""".r
  private val DecodeArrayRe = """/Decode\s*\[""".r

  /** Wrap DECODED raw image samples into a PNG via the declared
   * geometry: 8-bit /DeviceRGB (3 components) or /DeviceGray (1).
   * None — never a wrong image — when the geometry is unreadable,
   * out-of-subset (other colorspaces, other bit depths, a /Decode
   * remap array — samples stored inverted/rescaled would extract as a
   * WRONG image, review-caught), implausible (> 16 MP — a ~65 KB
   * crafted deflate expanding to a 64 MP canvas would otherwise
   * allocate ~0.5 GB of int[]+image per stream, review-caught), or
   * the sample count does not match w*h*ncomp. */
  private def rawSamplesToPng(dict: String,
                              samples: Array[Byte]): Option[Array[Byte]] = {
    if (DecodeArrayRe.findFirstIn(dict).isDefined) return None
    val ncomp =
      if ("""/ColorSpace\s*/DeviceRGB(?![A-Za-z0-9])""".r
        .findFirstIn(dict).isDefined) 3
      else if ("""/ColorSpace\s*/DeviceGray(?![A-Za-z0-9])""".r
        .findFirstIn(dict).isDefined) 1
      else return None
    for {
      w <- intOf(dict, "Width", 0).filter(_ > 0)
      h <- intOf(dict, "Height", 0).filter(_ > 0)
      bpc <- intOf(dict, "BitsPerComponent", 8).filter(_ == 8)
      _ <- Option(bpc).filter(_ => w.toLong * h <= (16L << 20))
      _ <- Option(w).filter(_ => samples.length.toLong == w.toLong * h * ncomp)
    } yield {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val px = new Array[Int](w * h)
      var k = 0
      var p = 0
      while (p < px.length) {
        val (r, g, b) =
          if (ncomp == 3)
            (samples(k) & 0xff, samples(k + 1) & 0xff, samples(k + 2) & 0xff)
          else { val v = samples(k) & 0xff; (v, v, v) }
        px(p) = (r << 16) | (g << 8) | b
        k += ncomp
        p += 1
      }
      img.setRGB(0, 0, w, h, px, 0, w)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
  }

  /** Batched twin of [[extractTexts]] for embedded images: one row
   * per extracted DCT image — (id, image_idx, payload) — ready for
   * `Multimodal.imageDHashes`. Parser failures on malformed PDFs
   * contribute zero rows, never a task-killing exception. Scale
   * shape: per-row CPU inside mapPartitions where the PDF bytes
   * landed; payloads never cross a shuffle. */
  def extractImages(pdfs: DataFrame, idCol: String = "id",
                    payloadCol: String = "payload"): DataFrame =
    Multimodal.decodePayloads(pdfs, idCol, payloadCol, "id", "image_idx",
      "payload")(_.flatMap { case (id, b) =>
      val imgs = try extractImageBytes(b) catch {
        case scala.util.control.NonFatal(_) => Seq.empty[Array[Byte]]
      }
      imgs.iterator.zipWithIndex.map { case (p, k) => (id, k.toLong, p) }
    })

  // ------------------------------------------------------------ fixture

  /**
   * Deterministic single-page PDF 1.4 for the p118 fixture: a catalog/
   * pages/page/contents/font object chain with a CORRECT xref table
   * and a FlateDecode content stream. The text is closed-form — line 0
   * is "Doc {id} (pdf) A" (parens ride as \( \), the A as octal \101,
   * exercising escape decoding), then the doc's whitespace tokens in
   * 10-token lines, alternating `Tj` whole-chunk shows with `TJ`
   * kerned split shows (first token, kern, remainder) so both show
   * operators are load-bearing in the oracle comparison.
   */
  def fixturePdf(docId: Long, text: String): Array[Byte] =
    buildPdf(docId, text, encrypt = None)

  /** Encrypted twin of [[fixturePdf]] under the standard security
   * handler with EMPTY owner and user passwords (open-to-read,
   * restricted-permissions — the dominant encrypted-crawl class):
   * aes=false → RC4-128 (V2/R3), aes=true → AES-128-CBC (V4/R4
   * AESV2, deterministic per-doc IV). Same object chain and content;
   * /Encrypt dict + /ID land in the trailer and the content stream is
   * encrypted under its per-object key BEFORE the file assembles. */
  def fixturePdfEncrypted(docId: Long, text: String,
                          aes: Boolean): Array[Byte] =
    buildPdf(docId, text, encrypt = Some(aes))

  /** Type0/CID twin of [[fixturePdf]]: the content stream selects a
   * composite font (Identity-H) and shows HEX strings of 2-byte CIDs
   * (CID = codepoint + 7 — a fixed shift so extraction is provably
   * CMap-driven, never a pass-through), and a FlateDecode /ToUnicode
   * CMap maps them back — maximal consecutive codepoint runs as
   * bfrange entries, singletons as bfchar, so BOTH block forms are
   * load-bearing in the oracle comparison. `encrypt` works as in
   * [[fixturePdfEncrypted]]; the CMap stream encrypts under its OWN
   * per-object key. Closed-form text: line 0 "Doc {id} (cid) A", then
   * the doc's whitespace tokens in 10-token lines alternating Tj/TJ. */
  def fixturePdfCid(docId: Long, text: String,
                    encrypt: Option[Boolean] = None): Array[Byte] =
    buildPdf(docId, text, encrypt, cid = true)

  /** Transport-filter twin of [[fixturePdf]]: the content stream rides
   * a filter CASCADE — `filterMode` 1 = [/ASCIIHexDecode /FlateDecode],
   * 2 = [/ASCII85Decode /FlateDecode], 0 = plain Flate — with optional
   * encryption composing OUTSIDE the filters (decrypt first, then
   * decode, per ISO 32000-1 §7.6.2). Same closed-form text as
   * [[fixturePdf]]. */
  def fixturePdfFiltered(docId: Long, text: String, filterMode: Int,
                         encrypt: Option[Boolean] = None): Array[Byte] =
    buildPdf(docId, text, encrypt, cid = false, filterMode = filterMode)

  /** Predictor twin of [[fixturePdf]] (r18): the content stream's
   * Flate output is PREDICTED — `mode` 0 = PNG /Predictor 12 with
   * per-row tags cycling all five PNG filters, 1 = TIFF /Predictor 2
   * horizontal differencing, 2 = PNG predictor UNDER an ASCIIHex
   * transport cascade with array-aligned /DecodeParms
   * `[null << ... >>]` — the three parameter shapes real writers
   * emit. Same closed-form text as [[fixturePdf]]. */
  def fixturePdfPredictor(docId: Long, text: String,
                          mode: Int): Array[Byte] =
    buildPdf(docId, text, encrypt = None, cid = false,
      filterMode = 3 + (mode % 3))

  /** LZW / RunLength lanes (r19): mode 0 = bare LZW content stream,
   * 1 = LZW over PNG Predictor 12, 2 = RunLength, 3 = LZW with
   * /EarlyChange 0 (the non-default width schedule). */
  def fixturePdfLzw(docId: Long, text: String, mode: Int): Array[Byte] =
    buildPdf(docId, text, encrypt = None, cid = false,
      filterMode = 6 + (mode % 4))

  /** [[fixturePdf]] plus an embedded DCT image XObject (r19, p161):
   * the page's /Resources carries /XObject << /Im1 >>, the content
   * stream paints it after the text (`cm` + `Do`), and the image
   * stream holds `jpeg` under mode 0 = bare /DCTDecode or mode 1 =
   * an /ASCIIHexDecode→/DCTDecode cascade (the transport filters
   * must apply BEFORE the JPEG bytes surface). */
  def fixturePdfImage(docId: Long, text: String, jpeg: Array[Byte],
                      mode: Int): Array[Byte] = {
    val (ipay, ifilt) = (mode % 2) match {
      case 1 => ((jpeg.map("%02X".format(_)).mkString + ">")
        .getBytes(ISO_8859_1), "/Filter [/ASCIIHexDecode /DCTDecode]")
      case _ => (jpeg, "/Filter /DCTDecode")
    }
    imagePdf(docId, text, 72, 64, "/DeviceRGB", ifilt, ipay)
  }

  /** Shared scaffold of the image-XObject fixtures (p161/p162 —
   * review-caught duplication): the fixturePdf object chain plus an
   * /Im1 XObject painted after the text, assembled dense. */
  private def imagePdf(docId: Long, text: String, w: Int, h: Int,
                       cspace: String, ifilt: String,
                       ipay: Array[Byte]): Array[Byte] = {
    val (ops, _) = contentOps(docId, text, cid = false)
    val content = deflate(
      (ops + s"\nq $w 0 0 $h 100 600 cm /Im1 Do Q").getBytes(ISO_8859_1))
    val objs: Seq[Array[Byte]] = Seq(
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        .getBytes(ISO_8859_1),
      "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        .getBytes(ISO_8859_1),
      ("3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> " +
        "/XObject << /Im1 6 0 R >> >> >> endobj\n").getBytes(ISO_8859_1),
      (s"4 0 obj << /Length ${content.length} /Filter /FlateDecode" +
        " >> stream\n").getBytes(ISO_8859_1) ++ content ++
        "\nendstream endobj\n".getBytes(ISO_8859_1),
      ("5 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica" +
        " >> endobj\n").getBytes(ISO_8859_1),
      (s"6 0 obj << /Type /XObject /Subtype /Image /Width $w" +
        s" /Height $h /ColorSpace $cspace /BitsPerComponent 8" +
        s" $ifilt /Length ${ipay.length} >> stream\n")
        .getBytes(ISO_8859_1) ++ ipay ++
        "\nendstream endobj\n".getBytes(ISO_8859_1))
    assemblePdf(objs)
  }

  /** Raw-sample twin of [[fixturePdfImage]] (r19, p162 — the
   * PNG-converted class real writers embed): the image XObject holds
   * `rgb` (row-major 8-bit /DeviceRGB samples) under mode 0 =
   * FlateDecode with PNG Predictor 15 at the REAL image geometry
   * (/Colors 3 /Columns w, bpp-3 left neighbors), mode 1 =
   * LZWDecode without prediction, or mode 2 = /DeviceGray (the red
   * channel — the fixture is grayscale, r=g=b) under
   * Flate+Predictor-15 /Colors 1. Lossless all ways: extraction
   * recovers the exact samples, so the dHash equals the closed-form
   * `expectedDHash`. */
  def fixturePdfImageRaw(docId: Long, text: String, rgb: Array[Byte],
                         w: Int, h: Int, mode: Int): Array[Byte] = {
    require(rgb.length == w * h * 3, "rgb must be w*h*3 samples")
    val (ipay, ifilt, cspace) = (mode % 3) match {
      case 1 => (lzwEncode(rgb), "/Filter /LZWDecode", "/DeviceRGB")
      case 2 =>
        val gray = Array.tabulate[Byte](w * h)(i => rgb(i * 3))
        (deflate(pngPredictEncode(gray, w, bpp = 1)),
          "/Filter /FlateDecode /DecodeParms << /Predictor 15" +
            s" /Colors 1 /BitsPerComponent 8 /Columns $w >>",
          "/DeviceGray")
      case _ => (deflate(pngPredictEncode(rgb, w * 3, bpp = 3)),
        "/Filter /FlateDecode /DecodeParms << /Predictor 15" +
          s" /Colors 3 /BitsPerComponent 8 /Columns $w >>", "/DeviceRGB")
    }
    imagePdf(docId, text, w, h, cspace, ifilt, ipay)
  }

  /** Assemble a DENSE 1..N object sequence into a classic-xref PDF:
   * header, objects at recorded offsets, correct xref table, trailer
   * (+ optional extra trailer entries). Shared by buildPdf and
   * fixturePdfImage (review-caught triplication; fixturePdfCidObjStm
   * keeps its own assembly — its numbering is SPARSE, with gaps for
   * the ObjStm-resident objects). */
  private def assemblePdf(objs: Seq[Array[Byte]],
                          extraTrailer: String = ""): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w(str: String): Unit = out.write(str.getBytes(ISO_8859_1))
    w("%PDF-1.4\n")
    val offsets = new Array[Int](objs.length + 1)
    objs.zipWithIndex.foreach { case (o, k) =>
      offsets(k + 1) = out.size()
      out.write(o)
    }
    val xrefAt = out.size()
    w(s"xref\n0 ${objs.length + 1}\n")
    w("0000000000 65535 f \n")
    (1 to objs.length).foreach(k => w(f"${offsets(k)}%010d 00000 n \n"))
    w(s"trailer << /Size ${objs.length + 1} /Root 1 0 R$extraTrailer >>" +
      s"\nstartxref\n$xrefAt\n%%%%EOF\n")
    out.toByteArray
  }

  /** PDF 1.5-style twin of [[fixturePdfCid]]: the PAGE dict (with its
   * /Resources /Font map), the Type0 font, and the CIDFontType2
   * descendant all live inside a Flate /ObjStm — nothing about the
   * fonts is visible in the raw bytes — while the content stream and
   * the ToUnicode CMap stream stay file-level (content streams cannot
   * live in object streams per spec). Extraction works ONLY if ObjStm
   * expansion feeds both the /Font discovery and the dict lookups.
   * `predictor = true` additionally PNG-predicts the ObjStm stream
   * (/Predictor 12 — how post-2005 writers near-universally emit
   * their object and xref streams; the r17 verdict's real-world
   * twin): font resolution then works only if un-prediction runs
   * inside the ObjStm decode path. */
  def fixturePdfCidObjStm(docId: Long, text: String,
                          predictor: Boolean = false,
                          lzw: Boolean = false): Array[Byte] = {
    val (content, cmap, stmRaw, first) = cidObjStmParts(docId, text)
    // `lzw` swaps the ObjStm's transport filter for LZWDecode (r19) —
    // font resolution then works only if the LZW decode (and, with
    // `predictor`, the un-prediction on ITS output) runs inside the
    // ObjStm expansion path
    val code: Array[Byte] => Array[Byte] =
      if (lzw) lzwEncode(_) else deflate
    val stmFilter = if (lzw) "/LZWDecode" else "/FlateDecode"
    val stmPayload =
      if (predictor) code(pngPredictEncode(stmRaw, 16))
      else code(stmRaw)
    val stmParms =
      if (predictor) " /DecodeParms << /Predictor 12 /Columns 16 >>"
      else ""
    def stream(num: Int, payload: Array[Byte], extra: String,
               filt: String = "/FlateDecode"): Array[Byte] =
      (s"$num 0 obj << /Length ${payload.length} /Filter $filt" +
        s"$extra >> stream\n").getBytes(ISO_8859_1) ++ payload ++
        "\nendstream endobj\n".getBytes(ISO_8859_1)
    val objs: Seq[(Int, Array[Byte])] = Seq(
      1 -> "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        .getBytes(ISO_8859_1),
      2 -> "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        .getBytes(ISO_8859_1),
      4 -> stream(4, content, ""),
      7 -> stream(7, cmap, ""),
      8 -> stream(8, stmPayload,
        s" /Type /ObjStm /N 3 /First $first$stmParms", stmFilter))
    val out = new java.io.ByteArrayOutputStream()
    def w(str: String): Unit = out.write(str.getBytes(ISO_8859_1))
    w("%PDF-1.5\n")
    val offByNum = scala.collection.mutable.Map.empty[Int, Int]
    objs.foreach { case (num, bytes) =>
      offByNum(num) = out.size()
      out.write(bytes)
    }
    val xrefAt = out.size()
    w("xref\n0 9\n")
    w("0000000000 65535 f \n")
    (1 to 8).foreach { k =>
      offByNum.get(k) match {
        case Some(off) => w(f"$off%010d 00000 n \n")
        case None => w("0000000000 00000 f \n") // lives in the ObjStm
      }
    }
    w(s"trailer << /Size 9 /Root 1 0 R >>\nstartxref\n$xrefAt\n%%%%EOF\n")
    out.toByteArray
  }

  /** PDF 1.5 cross-reference-STREAM twin of [[fixturePdfCidObjStm]]
   * (the normal Acrobat 7+ output shape): NO classical trailer —
   * /Root, /Size, /ID, and (when encrypted) /Encrypt live in the
   * `/Type /XRef` stream's dict, whose entry rows ride Flate + PNG
   * Predictor 12 over /W [1 4 2] columns exactly as real writers emit
   * them; `startxref` points at the XRef stream object. Entries are
   * REAL (type-1 file offsets, type-2 ObjStm-resident rows, type-0
   * free) even though resolution never reads them. `encrypt` as in
   * [[fixturePdfEncrypted]] (false = RC4-128, true = AES-128); the
   * XRef stream itself stays UNENCRYPTED per ISO 32000-1 §7.5.8.2
   * while content/CMap/ObjStm streams encrypt under their per-object
   * keys — decryption works only if /Encrypt and /ID are found
   * through the startxref chain. */
  def fixturePdfXrefStream(docId: Long, text: String,
                           encrypt: Option[Boolean] = None): Array[Byte] = {
    def hex(b: Array[Byte]): String = b.map("%02X".format(_)).mkString
    val id0 = md5(s"graft-id-$docId".getBytes(ISO_8859_1))
    val encInfo = encrypt.map { aes =>
      val r = if (aes) 4 else 3
      val o = ownerValue(r, 16)
      val perm = -3904
      val fk = fileKey(o, perm, id0, r, 16)
      val u = userValue(fk, r, id0)
      (aes, fk, stdEncryptDict(10, aes, perm, o, u))
    }
    def encPayload(objNum: Int, data: Array[Byte]): Array[Byte] =
      encInfo match {
        case None => data
        case Some((aes, fk, _)) => stdEncrypt(docId, aes, fk, objNum, data)
      }
    val (content, cmap, stmRaw, first) = cidObjStmParts(docId, text)
    def stream(num: Int, payload: Array[Byte], extra: String): Array[Byte] =
      (s"$num 0 obj << /Length ${payload.length} /Filter /FlateDecode" +
        s"$extra >> stream\n").getBytes(ISO_8859_1) ++ payload ++
        "\nendstream endobj\n".getBytes(ISO_8859_1)
    val objs: Seq[(Int, Array[Byte])] = Seq(
      1 -> "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        .getBytes(ISO_8859_1),
      2 -> "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        .getBytes(ISO_8859_1),
      4 -> stream(4, encPayload(4, content), ""),
      7 -> stream(7, encPayload(7, cmap), ""),
      8 -> stream(8, encPayload(8, deflate(stmRaw)),
        s" /Type /ObjStm /N 3 /First $first")) ++
      encInfo.map(e => 10 -> e._3.getBytes(ISO_8859_1)).toSeq
    val out = new java.io.ByteArrayOutputStream()
    def w(str: String): Unit = out.write(str.getBytes(ISO_8859_1))
    w("%PDF-1.5\n")
    val offByNum = scala.collection.mutable.Map.empty[Int, Int]
    objs.foreach { case (num, bytes) =>
      offByNum(num) = out.size()
      out.write(bytes)
    }
    val xrefAt = out.size()
    val size = 11
    val entries = (0 until size).flatMap { n =>
      val (t, f2, f3) =
        if (n == 0) (0, 0, 65535)
        else if (n == 3) (2, 8, 0)
        else if (n == 5) (2, 8, 1)
        else if (n == 6) (2, 8, 2)
        else if (n == 9) (1, xrefAt, 0)
        else offByNum.get(n).map(off => (1, off, 0)).getOrElse((0, 0, 0))
      Seq(t.toByte, ((f2 >> 24) & 0xff).toByte, ((f2 >> 16) & 0xff).toByte,
        ((f2 >> 8) & 0xff).toByte, (f2 & 0xff).toByte,
        ((f3 >> 8) & 0xff).toByte, (f3 & 0xff).toByte)
    }.toArray
    val xrefPayload = deflate(pngPredictEncode(entries, 7))
    val encRef = if (encInfo.isDefined) " /Encrypt 10 0 R" else ""
    out.write((s"9 0 obj << /Type /XRef /Size $size /Root 1 0 R$encRef" +
      s" /ID [<${hex(id0)}> <${hex(id0)}>] /W [1 4 2] /Index [0 $size]" +
      s" /Length ${xrefPayload.length} /Filter /FlateDecode" +
      " /DecodeParms << /Predictor 12 /Columns 7 >> >> stream\n")
      .getBytes(ISO_8859_1))
    out.write(xrefPayload)
    out.write("\nendstream endobj\n".getBytes(ISO_8859_1))
    w(s"startxref\n$xrefAt\n%%%%EOF\n")
    out.toByteArray
  }

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(data); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Standard-handler per-object payload encryption for the FIXTURE
   * writers — ONE copy (review-caught: buildPdf and
   * fixturePdfXrefStream had drifting twins of this crypto-bearing
   * code): RC4 under the per-object key, or AES-128-CBC with the
   * deterministic per-(doc, object) IV. */
  private def stdEncrypt(docId: Long, aes: Boolean, fk: Array[Byte],
                         objNum: Int, data: Array[Byte]): Array[Byte] = {
    val ek = objKey(fk, objNum, 0, aes)
    if (!aes) rc4(ek, data)
    else {
      val iv = md5(s"graft-iv-$docId-$objNum".getBytes(ISO_8859_1))
      val c = javax.crypto.Cipher.getInstance("AES/CBC/PKCS5Padding")
      c.init(javax.crypto.Cipher.ENCRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(ek, "AES"),
        new javax.crypto.spec.IvParameterSpec(iv))
      iv ++ c.doFinal(data)
    }
  }

  /** The standard-handler /Encrypt dict body (V2/R3 RC4-128 or V4/R4
   * AESV2) the fixture writers emit — ONE copy. */
  private def stdEncryptDict(objNum: Int, aes: Boolean, perm: Int,
                             o: Array[Byte], u: Array[Byte]): String = {
    def hx(b: Array[Byte]): String = b.map("%02X".format(_)).mkString
    if (!aes)
      s"$objNum 0 obj << /Filter /Standard /V 2 /R 3 /Length 128 /P $perm" +
        s" /O <${hx(o)}> /U <${hx(u)}> >> endobj\n"
    else
      s"$objNum 0 obj << /Filter /Standard /V 4 /R 4 /Length 128 /P $perm" +
        s" /O <${hx(o)}> /U <${hx(u)}>" +
        " /CF << /StdCF << /CFM /AESV2 /Length 16 >> >>" +
        " /StmF /StdCF /StrF /StdCF >> endobj\n"
  }

  /** Shared CID-in-ObjStm fixture assembly — ONE copy of the object
   * bodies, pair-header offsets, and payloads (review-caught:
   * fixturePdfCidObjStm and fixturePdfXrefStream duplicated ~30
   * lines). Object numbering is common to both: page 3, content 4,
   * font 5, descendant 6, CMap 7, ObjStm 8. Returns (deflated
   * content, deflated CMap, RAW objstm bytes, /First). */
  private def cidObjStmParts(docId: Long, text: String)
      : (Array[Byte], Array[Byte], Array[Byte], Int) = {
    val (ops, shownAll) = contentOps(docId, text, cid = true)
    val content = deflate(ops.getBytes(ISO_8859_1))
    val cmap = deflate(fixtureCMap(shownAll).getBytes(ISO_8859_1))
    val bodies = Seq(
      3 -> ("<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>"),
      5 -> ("<< /Type /Font /Subtype /Type0 /BaseFont /GraftCID " +
        "/Encoding /Identity-H /DescendantFonts [6 0 R] " +
        "/ToUnicode 7 0 R >>"),
      6 -> ("<< /Type /Font /Subtype /CIDFontType2 /BaseFont /GraftCID " +
        "/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) " +
        "/Supplement 0 >> /CIDToGIDMap /Identity >>"))
    // (objnum, offset) header + concatenated bodies; /First counts
    // DECODED bytes from stream start to the first body
    val joined = bodies.map(_._2).mkString(" ")
    val offsets = bodies.map(_._2).scanLeft(0)(_ + _.length + 1).init
    val header = bodies.map(_._1).zip(offsets)
      .map { case (n, o) => s"$n $o" }.mkString(" ")
    val first = header.length + 1
    (content, cmap, (header + "\n" + joined).getBytes(ISO_8859_1), first)
  }

  /** PNG-predict `data` (writer side): the per-row filter tag CYCLES
   * 0→4 so every unfilter arm (None/Sub/Up/Average/Paeth) is
   * load-bearing in a round-trip; the final row may be partial, as
   * real encoders emit. `columns` is the row size in BYTES; `bpp` the
   * bytes-per-pixel the left-neighbor predictors step by (1 for the
   * byte-stream fixtures, colors*bpc/8 for real image geometry —
   * r19's raw RGB image lane encodes with bpp = 3, matching
   * unpredict's read of /Colors 3 /BitsPerComponent 8). */
  private[graft] def pngPredictEncode(data: Array[Byte],
                                      columns: Int,
                                      bpp: Int = 1): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(
      data.length + data.length / columns + 1)
    var prev = new Array[Int](columns)
    var r = 0
    var rowIdx = 0
    while (r < data.length) {
      val n = math.min(columns, data.length - r)
      val tag = rowIdx % 5
      out.write(tag)
      val cur = new Array[Int](columns)
      var j = 0
      while (j < n) { cur(j) = data(r + j) & 0xff; j += 1 }
      j = 0
      while (j < n) {
        val a = if (j >= bpp) cur(j - bpp) else 0
        val b = prev(j)
        val c = if (j >= bpp) prev(j - bpp) else 0
        val enc = tag match {
          case 0 => cur(j)
          case 1 => cur(j) - a
          case 2 => cur(j) - b
          case 3 => cur(j) - (a + b) / 2
          case _ =>
            val pp = a + b - c
            val pa = math.abs(pp - a)
            val pb = math.abs(pp - b)
            val pc = math.abs(pp - c)
            cur(j) - (if (pa <= pb && pa <= pc) a
                      else if (pb <= pc) b else c)
        }
        out.write(enc & 0xff)
        j += 1
      }
      prev = cur
      r += n
      rowIdx += 1
    }
    out.toByteArray
  }

  /** TIFF predictor-2 encode (writer side, 8-bit components, bpp 1):
   * horizontal differencing within each `columns`-byte row. */
  private[graft] def tiffPredictEncode(data: Array[Byte],
                                       columns: Int): Array[Byte] = {
    val out = data.clone()
    var r = 0
    while (r < out.length) {
      val end = math.min(r + columns, out.length)
      var i = end - 1
      while (i > r) { out(i) = (data(i) - data(i - 1)).toByte; i -= 1 }
      r += columns
    }
    out
  }

  /** The fixture ToUnicode CMap for `shownText` under CID = cp + 7:
   * consecutive-codepoint runs (len ≥ 2) become bfrange lines,
   * singletons bfchar lines, inside the standard CMap wrapper. */
  private def fixtureCMap(shownText: String): String = {
    val cps = shownText.toCharArray.map(_.toInt).distinct.sorted
    val runs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    cps.foreach { cp =>
      if (runs.nonEmpty && runs.last._2 == cp - 1)
        runs(runs.length - 1) = (runs.last._1, cp)
      else runs += ((cp, cp))
    }
    val (ranges, singles) = runs.partition { case (lo, hi) => hi > lo }
    val sb = new StringBuilder
    sb.append("/CIDInit /ProcSet findresource begin\n12 dict begin\n")
    sb.append("begincmap\n/CMapName /GraftToUni def\n/CMapType 2 def\n")
    sb.append("1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n")
    if (ranges.nonEmpty) {
      sb.append(s"${ranges.length} beginbfrange\n")
      ranges.foreach { case (lo, hi) =>
        sb.append(f"<${lo + 7}%04X> <${hi + 7}%04X> <$lo%04X>\n")
      }
      sb.append("endbfrange\n")
    }
    if (singles.nonEmpty) {
      sb.append(s"${singles.length} beginbfchar\n")
      singles.foreach { case (cp, _) =>
        sb.append(f"<${cp + 7}%04X> <$cp%04X>\n")
      }
      sb.append("endbfchar\n")
    }
    sb.append("endcmap\nCMap currentdict /CMap defineresource pop\nend\nend")
    sb.toString
  }

  private def cidHex(t: String): String =
    "<" + t.map(ch => f"${ch.toInt + 7}%04X").mkString + ">"

  /** The fixture content-stream operators for (docId, text): header
   * line + 10-token chunks alternating Tj / kerned TJ, shows as
   * literals (escape-bearing) or CID hex depending on `cid`. Returns
   * (ops, shownText) — shownText drives the ToUnicode CMap. */
  private def contentOps(docId: Long, text: String,
                         cid: Boolean): (String, String) = {
    val toks = text.trim.split("\\s+").filter(_.nonEmpty)
    val chunks = toks.grouped(10).map(_.mkString(" ")).toSeq
    val header = if (cid) s"Doc $docId (cid) A" else ""
    val content = new StringBuilder
    if (cid)
      content.append("BT /F1 12 Tf 72 720 Td ").append(cidHex(header))
        .append(" Tj\n")
    else
      content.append("BT /F1 12 Tf 72 720 Td (Doc ").append(docId)
        .append(" \\(pdf\\) \\101) Tj\n")
    chunks.zipWithIndex.foreach { case (chunk, k) =>
      def lit(t: String): String = "(" + esc(t) + ")"
      def show(t: String): String = if (cid) cidHex(t) else lit(t)
      if (k % 2 == 0) content.append("T* ").append(show(chunk)).append(" Tj\n")
      else {
        val cut = chunk.indexOf(' ')
        if (cut < 0) content.append("T* ").append(show(chunk)).append(" Tj\n")
        else content.append("T* [").append(show(chunk.substring(0, cut)))
          .append(" -250 ").append(show(chunk.substring(cut)))
          .append("] TJ\n")
      }
    }
    content.append("ET")
    (content.toString, (header +: chunks).mkString("\n"))
  }

  /** AES-256 twin of [[fixturePdfEncrypted]] under the standard
   * handler with EMPTY passwords: r6 = true builds the R6 (full
   * Algorithm 2.B) form, false the deprecated R5 single-hash form.
   * /U//UE//O//OE all computed per ISO 32000-2; streams encrypt under
   * the 32-byte FILE key (AESV3 — no per-object keys). */
  def fixturePdfEncryptedV5(docId: Long, text: String,
                            r6: Boolean): Array[Byte] =
    buildPdf(docId, text, None, v5r = Some(if (r6) 6 else 5))

  private def buildPdf(docId: Long, text: String, encrypt: Option[Boolean],
                       cid: Boolean = false,
                       filterMode: Int = 0,
                       v5r: Option[Int] = None): Array[Byte] = {
    val (ops, shownAll) = contentOps(docId, text, cid)
    val deflated = deflate(ops.getBytes(ISO_8859_1))
    def hex(b: Array[Byte]): String = b.map("%02X".format(_)).mkString
    // object layout: 1 catalog, 2 pages, 3 page, 4 content, 5 font,
    // [6 encrypt], cid adds [descendant, ToUnicode] after those
    val anyEnc = encrypt.isDefined || v5r.isDefined
    val descNum = if (anyEnc) 7 else 6
    val toUniNum = descNum + 1
    // handler parameters + per-object payload encryption, when requested
    val encInfo = encrypt.map { aes =>
      val r = if (aes) 4 else 3
      val keyLen = 16
      val o = ownerValue(r, keyLen)
      val perm = -3904 // print allowed, modify/copy restricted
      val id0 = md5(s"graft-id-$docId".getBytes(ISO_8859_1))
      val fk = fileKey(o, perm, id0, r, keyLen)
      val u = userValue(fk, r, id0)
      (aes, fk, id0, stdEncryptDict(6, aes, perm, o, u))
    }
    // V5 (AES-256) handler parameters: /U = 2.B hash + salts, /UE the
    // wrapped file key; /O//OE the owner twins (udata = the U string)
    val v5Info = v5r.map { r =>
      val fk = md5(s"graft-fk-$docId".getBytes(ISO_8859_1)) ++
        md5(s"graft-fk2-$docId".getBytes(ISO_8859_1))
      val vs = md5(s"graft-vs-$docId".getBytes(ISO_8859_1)).take(8)
      val ks = md5(s"graft-ks-$docId".getBytes(ISO_8859_1)).take(8)
      val u = hash2B(Array.empty, vs, Array.empty, r) ++ vs ++ ks
      val ue = aesNoPad(hash2B(Array.empty, ks, Array.empty, r), fk,
        encryptMode = true)
      val ovs = md5(s"graft-ovs-$docId".getBytes(ISO_8859_1)).take(8)
      val oks = md5(s"graft-oks-$docId".getBytes(ISO_8859_1)).take(8)
      val o = hash2B(Array.empty, ovs, u, r) ++ ovs ++ oks
      val oe = aesNoPad(hash2B(Array.empty, oks, u, r), fk,
        encryptMode = true)
      val id0 = md5(s"graft-id-$docId".getBytes(ISO_8859_1))
      def hx(b: Array[Byte]): String = b.map("%02X".format(_)).mkString
      val dict =
        s"6 0 obj << /Filter /Standard /V 5 /R $r /Length 256 /P -3904" +
          s" /O <${hx(o)}> /U <${hx(u)}> /OE <${hx(oe)}> /UE <${hx(ue)}>" +
          " /CF << /StdCF << /CFM /AESV3 /Length 32 >> >>" +
          " /StmF /StdCF /StrF /StdCF >> endobj\n"
      (fk, id0, dict)
    }
    def encPayload(objNum: Int, data: Array[Byte]): Array[Byte] =
      (encInfo, v5Info) match {
        case (None, None) => data
        case (Some((aes, fk, _, _)), _) =>
          stdEncrypt(docId, aes, fk, objNum, data)
        case (None, Some((fk, _, _))) => // the FILE key, no object keys
          val iv = md5(s"graft-iv-$docId-$objNum".getBytes(ISO_8859_1))
          val c = javax.crypto.Cipher.getInstance("AES/CBC/PKCS5Padding")
          c.init(javax.crypto.Cipher.ENCRYPT_MODE,
            new javax.crypto.spec.SecretKeySpec(fk, "AES"),
            new javax.crypto.spec.IvParameterSpec(iv))
          iv ++ c.doFinal(data)
      }
    def streamObj(objNum: Int, payload: Array[Byte],
                  filterSpec: String = "/Filter /FlateDecode"): Array[Byte] =
      (s"$objNum 0 obj << /Length ${payload.length} $filterSpec" +
        " >> stream\n").getBytes(ISO_8859_1) ++ payload ++
        "\nendstream endobj\n".getBytes(ISO_8859_1)
    val fontObj =
      if (!cid)
        s"5 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica" +
          " >> endobj\n"
      else
        s"5 0 obj << /Type /Font /Subtype /Type0 /BaseFont /GraftCID" +
          s" /Encoding /Identity-H /DescendantFonts [$descNum 0 R]" +
          s" /ToUnicode $toUniNum 0 R >> endobj\n"
    val cidObjs: Seq[Array[Byte]] =
      if (!cid) Seq.empty
      else {
        val cmap = deflate(fixtureCMap(shownAll).getBytes(ISO_8859_1))
        Seq(
          (s"$descNum 0 obj << /Type /Font /Subtype /CIDFontType2" +
            " /BaseFont /GraftCID /CIDSystemInfo << /Registry (Adobe)" +
            " /Ordering (Identity) /Supplement 0 >> /CIDToGIDMap /Identity" +
            " >> endobj\n").getBytes(ISO_8859_1),
          streamObj(toUniNum, encPayload(toUniNum, cmap)))
      }
    val objs: Seq[Array[Byte]] = Seq(
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        .getBytes(ISO_8859_1),
      "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        .getBytes(ISO_8859_1),
      ("3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >> endobj\n")
        .getBytes(ISO_8859_1),
      {
        // transport cascade applies INSIDE the encryption (reader
        // decrypts first, then decodes filters in array order);
        // predictors (modes 3-5) transform the data BEFORE deflate —
        // the reader inflates, then un-predicts
        val opsBytes = ops.getBytes(ISO_8859_1)
        val (cp, cf) = filterMode match {
          case 1 => ((deflated.map("%02X".format(_)).mkString + ">")
            .getBytes(ISO_8859_1),
            "/Filter [/ASCIIHexDecode /FlateDecode]")
          case 2 => (ascii85Encode(deflated).getBytes(ISO_8859_1),
            "/Filter [/ASCII85Decode /FlateDecode]")
          case 3 => (deflate(pngPredictEncode(opsBytes, 16)),
            "/Filter /FlateDecode" +
              " /DecodeParms << /Predictor 12 /Columns 16 >>")
          case 4 => (deflate(tiffPredictEncode(opsBytes, 16)),
            "/Filter /FlateDecode" +
              " /DecodeParms << /Predictor 2 /Columns 16 >>")
          case 5 => ((deflate(pngPredictEncode(opsBytes, 16))
            .map("%02X".format(_)).mkString + ">").getBytes(ISO_8859_1),
            "/Filter [/ASCIIHexDecode /FlateDecode]" +
              " /DecodeParms [null << /Predictor 12 /Columns 16 >>]")
          // r19 lanes: LZW (spec-default EarlyChange 1), LZW over a
          // PNG predictor (the §7.4.4 Table-8 pairing), RunLength,
          // and LZW with an EXPLICIT /EarlyChange 0 width schedule
          case 6 => (lzwEncode(opsBytes), "/Filter /LZWDecode")
          case 7 => (lzwEncode(pngPredictEncode(opsBytes, 16)),
            "/Filter /LZWDecode" +
              " /DecodeParms << /Predictor 12 /Columns 16 >>")
          case 8 => (runLengthEncode(opsBytes), "/Filter /RunLengthDecode")
          case 9 => (lzwEncode(opsBytes, earlyChange = 0),
            "/Filter /LZWDecode /DecodeParms << /EarlyChange 0 >>")
          case _ => (deflated, "/Filter /FlateDecode")
        }
        streamObj(4, encPayload(4, cp), cf)
      },
      fontObj.getBytes(ISO_8859_1)
    ) ++ encInfo.map(_._4.getBytes(ISO_8859_1)).toSeq ++
      v5Info.map(_._3.getBytes(ISO_8859_1)).toSeq ++ cidObjs
    val encTrailer = encInfo.map(_._3).orElse(v5Info.map(_._2))
      .map(id0 => s" /Encrypt 6 0 R /ID [<${hex(id0)}> <${hex(id0)}>]")
      .getOrElse("")
    assemblePdf(objs, encTrailer)
  }

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
}
