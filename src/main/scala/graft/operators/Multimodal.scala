package graft.operators

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * Multimodal binary-column plumbing (SURVEY.md §2 P12).
 *
 * Images/audio/video are opaque `binary` payloads with a typed metadata
 * struct; decode / feature-extraction runs BATCHED per partition so a real
 * decoder (JNI image lib, ONNX runtime, ...) amortizes model/codec init
 * across a batch — the Spark-side contract (schema, partitioning, batch
 * shape, encoder) is real and tested. Image decode is real (javax.imageio
 * PNG/JPEG) and WAV audio decode is real (javax.sound.sampled 16-bit PCM);
 * only VIDEO keeps a deterministic stub, because no pure-JDK video codec
 * exists and no external media library ships in this environment.
 *
 * Scale design: payloads never pass through a shuffle — feature extraction
 * is a narrow mapPartitions; downstream joins/groupBys should operate on
 * the (small) extracted features, with the binary column pruned away by
 * Catalyst column pruning (verified in the spec: the scan's ReadSchema
 * excludes `payload` when only features are selected).
 *
 * Frame twins: every byte decoder here, in [[Mp4]] and in [[Pdf]] has a
 * frame twin `(frame, idCol = "id", payloadCol = "payload")` that reads
 * the session from the frame and runs through `decodePayloads`.
 */
object Multimodal {

  // ImageIO's default stream cache spools every encode/decode through a
  // temp FILE; under 32-way parallel decode that file churn dominated
  // the codec itself (p74's hash stage: 3.9 s -> 0.4 s with the memory
  // cache). All payloads here are in-memory byte arrays — nothing needs
  // disk spooling. JVM-wide setting, applied on first use of this
  // object (every decode path lives in it).
  javax.imageio.ImageIO.setUseCache(false)

  /** Typed rows for the Dataset-side batched decode path. */
  final case class MediaRow(doc_id: Long, modality: String, payload: Array[Byte],
                            width: Int, height: Int, format: String)

  /** Decoded features, one schema across modalities. Per-modality meaning
   * of the generic fields when the payload decodes for real:
   *  - image: width/height = decoded pixel dims; n_pixels = w*h;
   *    brightness = mean RGB in [0,255].
   *  - audio: width = channels, height = sample rate (Hz); n_pixels =
   *    frame count; brightness = mean |amplitude| normalized to [0,1].
   *  - video (MJPEG-in-AVI): width/height = frame dims; n_pixels = frame
   *    COUNT; brightness = mean over frames of per-frame mean RGB.
   *  - undecodable: declared metadata dims + the byte-sum stub. */
  final case class MediaFeatures(doc_id: Long, modality: String, byte_len: Long,
                                 width: Int, height: Int, n_pixels: Long,
                                 payload_hash: String, brightness: Double)

  /** The one seam where a byte decoder meets a frame: `frame`'s
   * (`idCol` as long, `payloadCol` binary) rows run through `decode` one
   * partition at a time (so per-partition state, such as a digest, is
   * built once per partition), and the output columns are named `names`.
   * Every binary decoder's frame twin goes through here. */
  private[graft] def decodePayloads[T <: Product : TypeTag](
      frame: DataFrame, idCol: String, payloadCol: String, names: String*)(
      decode: Iterator[(Long, Array[Byte])] => Iterator[T]): DataFrame = {
    val spark = frame.sparkSession
    import spark.implicits._
    frame.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])].mapPartitions(decode).toDF(names: _*)
  }

  /**
   * Build a multimodal frame from the documents table: the text bytes act
   * as a deterministic fake payload; metadata derives from doc stats.
   * Columns: doc_id, modality, payload binary, meta struct(width, height, format).
   */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      when(col("doc_id") % 3 === 0, lit("image"))
        .when(col("doc_id") % 3 === 1, lit("audio"))
        .otherwise(lit("video")).as("modality"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        (col("n_chars") % 640 + 1).cast("int").as("width"),
        (col("doc_id") % 480 + 1).cast("int").as("height"),
        when(col("doc_id") % 3 === 0, lit("png"))
          .when(col("doc_id") % 3 === 1, lit("wav"))
          .otherwise(lit("mp4")).as("format")).as("meta"))

  /**
   * Expression-only feature extraction (no decode needed): payload length,
   * md5, pixel count from metadata. Codegen'd, oracle-checkable — the
   * fast path for features derivable without touching a codec.
   */
  def features(media: DataFrame): DataFrame =
    media.select(
      col("doc_id"), col("modality"),
      length(col("payload")).cast("long").as("byte_len"),
      col("meta.width").as("width"), col("meta.height").as("height"),
      (col("meta.width").cast("long") * col("meta.height").cast("long")).as("n_pixels"),
      md5(col("payload")).as("payload_hash"))

  /**
   * STUB decoder — deterministic stand-in for UNDECODABLE payloads: every
   * real modality now has a pure-JDK decode (images via javax.imageio,
   * WAV audio via javax.sound.sampled, MJPEG-in-AVI video via per-frame
   * javax.imageio); this fallback covers formats outside those codecs
   * (e.g. mp4 — inter-frame codecs need a native decoder; the mp4
   * CONTAINER itself parses for real via [[Mp4.containerMeta]], so
   * duration/track/codec curation runs without any decode). Produces a
   * fake "mean brightness" from the payload bytes so the batched
   * plumbing has a value to carry.
   */
  def decodeStub(payload: Array[Byte]): Double =
    if (payload.isEmpty) 0.0
    else payload.foldLeft(0L)((a, b) => a + (b & 0xff)).toDouble / payload.length

  /**
   * REAL image decode via `javax.imageio` (pure-JDK PNG/JPEG readers, no
   * external codec): returns (width, height, mean RGB brightness) or None
   * when the payload is not a decodable image (caller falls back to the
   * stub). This is the honest per-modality split: images decode for real;
   * audio/video remain stubbed.
   */
  def decodeImage(payload: Array[Byte]): Option[(Int, Int, Double)] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        var sum = 0.0
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            sum += (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3.0
            x += 1
          }
          y += 1
        }
        Some((w, h, sum / (w.toLong * h.toLong)))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /**
   * REAL audio decode via `javax.sound.sampled` (pure-JDK WAV parsing, no
   * external codec): returns (channels, sampleRate, nFrames, mean absolute
   * amplitude normalized to [0,1]) for 16-bit signed PCM WAV payloads, or
   * None for anything else (caller falls back to the stub). The honest
   * per-modality split after this: image + WAV audio decode for real;
   * video remains the one stub.
   */
  def decodeWav(payload: Array[Byte]): Option[(Int, Int, Long, Double)] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val fmt = in.getFormat
        val pcmSigned =
          fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
        if (!pcmSigned || fmt.getSampleSizeInBits != 16 || in.getFrameLength <= 0)
          None
        else {
          val bytes = in.readAllBytes()
          val n = bytes.length / 2
          var sum = 0.0
          var i = 0
          while (i < n) {
            // 16-bit signed sample; the sign-extending byte is the one the
            // endianness puts first/second
            val s: Int =
              if (fmt.isBigEndian) (bytes(2 * i).toInt << 8) | (bytes(2 * i + 1) & 0xff)
              else (bytes(2 * i + 1).toInt << 8) | (bytes(2 * i) & 0xff)
            sum += math.abs(s) / 32768.0
            i += 1
          }
          Some((fmt.getChannels, fmt.getSampleRate.toInt, in.getFrameLength,
            if (n == 0) 0.0 else sum / n))
        }
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /**
   * Deterministic WAV generator (for tests/fixtures): sample i of stream
   * `seed` is a pure function of (i, seed), encoded as 16-bit signed
   * little-endian mono PCM by the JDK WAV writer. Lossless, so decode
   * recovers the exact samples.
   */
  def generateWav(nFrames: Int, sampleRate: Int, seed: Int): Array[Byte] = {
    val pcm = new Array[Byte](nFrames * 2)
    var i = 0
    while (i < nFrames) {
      val s = (((i.toLong * 2654435761L + seed * 97L) % 65536L) - 32768L).toShort
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate.toFloat, 16, 1,
      true, false)
    val stream = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(stream,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** The exact sample function `generateWav` encodes — tests recompute the
   * expected mean |amplitude| from it rather than trusting the codec. */
  def wavSample(i: Int, seed: Int): Short =
    (((i.toLong * 2654435761L + seed * 97L) % 65536L) - 32768L).toShort

  // ------------------------------------------- MP3 frame metadata (P164)

  /** MPEG-1 Layer III bitrates (kbps) by header index 1..14 and sample
   * rates (Hz) by index 0..2 — the published header tables (ISO/IEC
   * 11172-3; the layout every public MP3-frame reference documents). */
  private val Mp3Bitrates = Array(0, 32, 40, 48, 56, 64, 80, 96, 112,
    128, 160, 192, 224, 256, 320)
  private val Mp3SampleRates = Array(44100, 48000, 32000)

  /**
   * MP3 container metadata (P164 — MP3 is the dominant crawl audio
   * format; WAV p76 and the MJPEG/MP4 video walks cover the other
   * lanes): a pure-JDK frame walk in the house RIFF/BMFF style, no
   * decoder. An optional leading ID3v2 tag (10-byte header, syncsafe
   * 28-bit size) is skipped, then MPEG-1 Layer III frames parse
   * back-to-back: 11 sync bits, version/layer fields, the bitrate and
   * sample-rate table indexes, the padding bit — frame length =
   * 144 * bitrate / sampleRate + padding, 1152 samples per frame, so
   * duration_ms = nFrames * 1152000 / sampleRate, all exact integers.
   * Returns (bitrate_kbps of the FIRST frame, is_vbr — any frame
   * differing, sample_rate, channels, n_frames, duration_ms); None
   * when no valid first frame exists (not an MP3). The walk STOPS at
   * the first malformed header (truncated capture: metadata of the
   * intact prefix, the lenient reading every indexer uses); free-form
   * junk between frames is out of subset — absent, never wrong.
   */
  def mp3Metadata(payload: Array[Byte])
      : Option[(Int, Boolean, Int, Int, Long, Long)] = {
    var i = 0
    // ID3v2: "ID3" + version(2) + flags(1) + syncsafe size(4)
    if (payload.length >= 10 && payload(0) == 'I' && payload(1) == 'D' &&
      payload(2) == '3') {
      val size = ((payload(6) & 0x7f) << 21) | ((payload(7) & 0x7f) << 14) |
        ((payload(8) & 0x7f) << 7) | (payload(9) & 0x7f)
      i = math.min(10L + size, payload.length.toLong).toInt
    }
    var nFrames = 0L
    var firstKbps = 0
    var vbr = false
    var rate = 0
    var channels = 0
    var done = false
    while (!done && i + 4 <= payload.length) {
      val h = ((payload(i) & 0xff) << 24) | ((payload(i + 1) & 0xff) << 16) |
        ((payload(i + 2) & 0xff) << 8) | (payload(i + 3) & 0xff)
      val sync = (h >>> 21) == 0x7ff
      val version = (h >>> 19) & 3 // 3 = MPEG-1
      val layer = (h >>> 17) & 3 // 1 = Layer III
      val brIdx = (h >>> 12) & 0xf
      val srIdx = (h >>> 10) & 3
      val padding = (h >>> 9) & 1
      val mode = (h >>> 6) & 3 // 3 = mono
      if (!sync || version != 3 || layer != 1 || brIdx == 0 ||
        brIdx == 15 || srIdx == 3) done = true
      else {
        val kbps = Mp3Bitrates(brIdx)
        val sr = Mp3SampleRates(srIdx)
        val frameLen = 144 * kbps * 1000 / sr + padding
        if (i + frameLen > payload.length) done = true // truncated frame
        else {
          if (nFrames == 0) { firstKbps = kbps; rate = sr
            channels = if (mode == 3) 1 else 2 }
          else if (kbps != firstKbps) vbr = true
          nFrames += 1
          i += frameLen
        }
      }
    }
    if (nFrames == 0) None
    else Some((firstKbps, vbr, rate, channels, nFrames,
      nFrames * 1152000L / rate))
  }

  /** Deterministic MP3 fixture: `nFrames` MPEG-1 Layer III frames
   * (zeroed payloads — the walk never decodes audio), mono, with an
   * optional ID3v2 tag of `id3Size` content bytes and an optional VBR
   * lane (every other frame one bitrate index up). Header fields are
   * exact, so [[mp3Metadata]]'s output is closed-form. */
  def generateMp3(nFrames: Int, brIdx: Int, srIdx: Int,
                  id3Size: Int = 0, vbr: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    if (id3Size > 0) {
      out.write('I'); out.write('D'); out.write('3')
      out.write(4); out.write(0); out.write(0) // v2.4, no flags
      out.write((id3Size >> 21) & 0x7f); out.write((id3Size >> 14) & 0x7f)
      out.write((id3Size >> 7) & 0x7f); out.write(id3Size & 0x7f)
      var k = 0
      while (k < id3Size) { out.write(0x41 + k % 26); k += 1 }
    }
    var f = 0
    while (f < nFrames) {
      val bi = if (vbr && f % 2 == 1) brIdx + 1 else brIdx
      val kbps = Mp3Bitrates(bi)
      val sr = Mp3SampleRates(srIdx)
      val padding = f % 3 match { case 0 => 1; case _ => 0 }
      val frameLen = 144 * kbps * 1000 / sr + padding
      // header: sync(11) | version 11 | layer 01 | no-protection 1 |
      // brIdx(4) | srIdx(2) | padding | private 0 | mode 11 (mono) ...
      val h = (0x7ff << 21) | (3 << 19) | (1 << 17) | (1 << 16) |
        (bi << 12) | (srIdx << 10) | (padding << 9) | (3 << 6)
      out.write((h >>> 24) & 0xff); out.write((h >>> 16) & 0xff)
      out.write((h >>> 8) & 0xff); out.write(h & 0xff)
      var k = 4
      while (k < frameLen) { out.write(0); k += 1 }
      f += 1
    }
    out.toByteArray
  }

  /** Batched frame twin of [[mp3Metadata]]: one row per parseable MP3
   * — (id, bitrate_kbps, is_vbr, sample_rate, channels, n_frames,
   * duration_ms); non-MP3 payloads drop. */
  def mp3MetadataFrame(audio: DataFrame, idCol: String = "id",
                       payloadCol: String = "payload"): DataFrame =
    decodePayloads(audio, idCol, payloadCol, "id", "bitrate_kbps", "is_vbr",
      "sample_rate", "channels", "n_frames", "duration_ms")(_.flatMap {
      case (id, payload) =>
        mp3Metadata(payload).map { case (kbps, vbr, sr, ch, nf, ms) =>
          (id, kbps.toLong, vbr, sr.toLong, ch.toLong, nf, ms)
        }
    })

  // --------------------------------- EXIF orientation normalize (P167)

  /** Apply an EXIF orientation's DISPLAY transform to a pixel array
   * (JEITA CP-3451 Table 4 semantics: the stored image becomes the
   * upright one): 1 identity, 2 flip-H, 3 rot180, 4 flip-V,
   * 5 transpose, 6 rot90 CW, 7 transverse, 8 rot270 CW. Returns
   * (pixels, width, height) — 5..8 swap the dims. */
  private[graft] def orientToDisplay(px: Array[Int], w: Int, h: Int,
                                     o: Int): (Array[Int], Int, Int) = {
    if (o <= 1 || o > 8) return (px, w, h)
    val swap = o >= 5
    val dw = if (swap) h else w
    val dh = if (swap) w else h
    val out = new Array[Int](px.length)
    var dy = 0
    while (dy < dh) {
      var dx = 0
      while (dx < dw) {
        val (sx, sy) = o match {
          case 2 => (w - 1 - dx, dy)
          case 3 => (w - 1 - dx, h - 1 - dy)
          case 4 => (dx, h - 1 - dy)
          case 5 => (dy, dx)
          case 6 => (dy, h - 1 - dx) // stored rotated 90 CW to display
          case 7 => (w - 1 - dy, h - 1 - dx)
          case _ => (w - 1 - dy, dx) // 8: rotate 270 CW
        }
        out(dy * dw + dx) = px(sy * w + sx)
        dx += 1
      }
      dy += 1
    }
    (out, dw, dh)
  }

  /** The orientation whose display transform INVERTS `o`'s (fixture
   * side: store = inverse-display of upright). Only 6/8 differ. */
  private[graft] def inverseOrientation(o: Int): Int = o match {
    case 6 => 8
    case 8 => 6
    case x => x
  }

  /**
   * EXIF-orientation-normalized image bytes (P167 — the LAION-style
   * decode-level normalization BEFORE perceptual hashing: a phone
   * photo stored rotated with orientation=6 and its upright twin are
   * the SAME image, but their raw dHashes differ in ~half the bits,
   * so orientation-blind dedup misses every rotated duplicate):
   * decode via imageio, read the EXIF orientation (JPEG APP1; absent
   * or invalid = 1), apply the display transform, re-encode PNG
   * (lossless — downstream hashing sees exact upright pixels). None
   * when the payload doesn't decode, or when its HEADER declares
   * > 16 MP — the same decode-bomb ceiling as Pdf.rawSamplesToPng,
   * checked via ImageReader.getWidth/getHeight BEFORE the decode
   * allocates anything (review-caught: a post-ImageIO.read check
   * guards nothing — the raster is already allocated), sparing the
   * several additional w*h int copies (getRGB, the transform output,
   * the upright BufferedImage) too. */
  def normalizeOrientation(payload: Array[Byte]): Option[Array[Byte]] =
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      val img: java.awt.image.BufferedImage =
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) null
          else {
            val reader = readers.next()
            try {
              reader.setInput(iis)
              if (reader.getWidth(0).toLong * reader.getHeight(0) >
                (16L << 20)) null
              else reader.read(0)
            } finally reader.dispose()
          }
        } finally iis.close()
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val o = jpegExif(payload).map(_._1).filter(v => v >= 1 && v <= 8)
          .getOrElse(1)
        val (px, dw, dh) =
          orientToDisplay(img.getRGB(0, 0, w, h, null, 0, w), w, h, o)
        val upright = new java.awt.image.BufferedImage(
          dw, dh, java.awt.image.BufferedImage.TYPE_INT_RGB)
        upright.setRGB(0, 0, dw, dh, px, 0, dw)
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(upright, "png", out)
        Some(out.toByteArray)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Cell gray of the ORIENTATION fixture — engineered so every dHash
   * comparison is decisive by >= 80 gray levels (odd columns pinned
   * at 120, even columns 40 or 200 by a per-(doc,cell) bit), leaving
   * double-JPEG DC error (~±8) no near-tie bits to flip, while ~40
   * independent bits per doc keep cross-doc hashes ~28 bits apart. */
  def orientCellGray(docId: Long, cx: Int, cy: Int): Int =
    if (cx % 2 == 1) 120
    else {
      var z = docId * 0x9E3779B97F4A7C15L + cx * 0xC2B2AE3D27D4EB4FL +
        cy * 0x165667B19E3779F9L
      z ^= z >>> 30; z *= 0xBF58476D1CE4E5B9L
      z ^= z >>> 27
      if ((z & 1L) == 0L) 40 else 200
    }

  /** The dHash [[normalizeOrientation]] + [[imageDHash]] must produce
   * for ANY orientation lane of doc `docId` — closed-form from the
   * cell formula (specs recompute it; the oracle uses the pair list). */
  def expectedOrientDHash(docId: Long): Long = {
    var hash = 0L
    var bit = 0
    var cy = 0
    while (cy < DHashGridH) {
      var cx = 0
      while (cx < DHashGridW - 1) {
        if (orientCellGray(docId, cx, cy) < orientCellGray(docId, cx + 1, cy))
          hash |= 1L << bit
        bit += 1
        cx += 1
      }
      cy += 1
    }
    hash
  }

  /** JPEG of the orientation fixture STORED under `orientation`: the
   * upright 72x64 cell image is inverse-transformed, JPEG-encoded,
   * and (when orientation != 1) an EXIF APP1 carrying the tag is
   * spliced after SOI — exactly what a camera writes. */
  def orientJpeg(docId: Long, orientation: Int): Array[Byte] = {
    val w = DHashGridW * 8
    val h = DHashGridH * 8
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = orientCellGray(docId, x / 8, y / 8)
        px(y * w + x) = (v << 16) | (v << 8) | v
        x += 1
      }
      y += 1
    }
    val (sp, sw, sh) = orientToDisplay(px, w, h,
      inverseOrientation(orientation))
    val img = new java.awt.image.BufferedImage(
      sw, sh, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, sw, sh, sp, 0, sw)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    val jpeg = out.toByteArray
    if (orientation == 1) jpeg
    else {
      val app1 = exifApp1(orientation, "2026:08:16 00:00:00", "Cam", "M",
        littleEndian = orientation % 2 == 0)
      val spliced = new Array[Byte](jpeg.length + app1.length)
      spliced(0) = jpeg(0); spliced(1) = jpeg(1)
      System.arraycopy(app1, 0, spliced, 2, app1.length)
      System.arraycopy(jpeg, 2, spliced, 2 + app1.length, jpeg.length - 2)
      spliced
    }
  }

  // ------------------------------------------- ID3v2 text frames (P166)

  /**
   * ID3v2 text frames of an MP3 (P166 — the audio twin of the EXIF
   * walk: title/artist/album are what audio-corpus curation joins
   * on): a pure-JDK tag walk (public: id3.org ID3v2.3/2.4 informal
   * standards) — the 10-byte header's syncsafe size bounds the tag,
   * then frames of (4-char id, size — SYNCSAFE in v2.4, plain 32-bit
   * BE in v2.3 (a real-world divergence readers must honor), 2 flag
   * bytes, payload). Text frames carry a leading encoding byte: 0 =
   * ISO-8859-1, 1 = UTF-16 with BOM, 2 = UTF-16BE, 3 = UTF-8 — all
   * four decode via the JDK. Reads TIT2 (title), TPE1 (artist), TALB
   * (album); a zero byte where a frame id should start is padding
   * (end of frames). An extended header (flags bit 6) is skipped
   * before the frame walk — its size field is syncsafe and
   * self-inclusive in v2.4, plain 32-bit excluding its own 4 size
   * bytes in v2.3 (id3.org §3.2 of each) — so tagged files that
   * carry one keep their real title/artist/album instead of the walk
   * reading ext-header bytes as a frame. None when there is no ID3v2
   * header or none of the three frames parses — absent metadata,
   * never wrong. */
  def id3Tags(payload: Array[Byte]): Option[(String, String, String)] = {
    if (payload.length < 10 || payload(0) != 'I' || payload(1) != 'D' ||
      payload(2) != '3') return None
    val ver = payload(3) & 0xff
    if (ver != 3 && ver != 4) return None
    def syncsafe(o: Int): Int =
      ((payload(o) & 0x7f) << 21) | ((payload(o + 1) & 0x7f) << 14) |
        ((payload(o + 2) & 0x7f) << 7) | (payload(o + 3) & 0x7f)
    val end = math.min(10L + syncsafe(6), payload.length.toLong).toInt
    var title: String = null
    var artist: String = null
    var album: String = null
    var i = 10
    if ((payload(5) & 0x40) != 0) { // extended header present
      if (i + 4 > end) return None
      val skip =
        if (ver == 4) syncsafe(i) // v2.4: size includes the whole header
        else 4 + (((payload(i) & 0xff) << 24) | ((payload(i + 1) & 0xff) << 16) |
          ((payload(i + 2) & 0xff) << 8) | (payload(i + 3) & 0xff)) // v2.3: excludes its 4 size bytes
      if (skip < 4 || i.toLong + skip > end) return None
      i += skip
    }
    var done = false
    while (!done && i + 10 <= end) {
      if (payload(i) == 0) done = true // padding region
      else {
        val id = new String(payload, i, 4, "US-ASCII")
        val fsize =
          if (ver == 4) syncsafe(i + 4)
          else ((payload(i + 4) & 0xff) << 24) |
            ((payload(i + 5) & 0xff) << 16) |
            ((payload(i + 6) & 0xff) << 8) | (payload(i + 7) & 0xff)
        if (fsize < 0 || i + 10 + fsize > end) done = true
        else {
          if ((id == "TIT2" || id == "TPE1" || id == "TALB") && fsize >= 1) {
            val cs = (payload(i + 10) & 0xff) match {
              case 0 => "ISO-8859-1"
              case 1 => "UTF-16" // BOM-led
              case 2 => "UTF-16BE"
              case 3 => "UTF-8"
              case _ => null
            }
            if (cs != null) {
              var t = new String(payload, i + 11, fsize - 1, cs)
              while (t.nonEmpty && t.last == '\u0000') t = t.init
              id match {
                case "TIT2" => title = t
                case "TPE1" => artist = t
                case _ => album = t
              }
            }
          }
          i += 10 + fsize
        }
      }
    }
    if (title == null && artist == null && album == null) None
    else Some((title, artist, album))
  }

  /** Batched frame twin of [[id3Tags]]: (id, title, artist, album);
   * tag-less payloads drop. */
  def id3TagsFrame(audio: DataFrame, idCol: String = "id",
                   payloadCol: String = "payload"): DataFrame =
    decodePayloads(audio, idCol, payloadCol, "id", "title", "artist",
      "album")(_.flatMap { case (id, payload) =>
      id3Tags(payload).map { case (t, a, al) => (id, t, a, al) }
    })

  /** ID3v2 fixture writer: a v2.`ver` tag with TIT2/TPE1/TALB text
   * frames in encoding `enc` (0/1/2/3) plus trailing padding, sized
   * and framed exactly as [[id3Tags]] reads — v2.4 syncsafe frame
   * sizes, v2.3 plain 32-bit. */
  def id3v2(ver: Int, title: String, artist: String, album: String,
            enc: Int, padding: Int = 16): Array[Byte] = {
    require(ver == 3 || ver == 4, "ID3v2.3 or v2.4")
    def encode(s: String): Array[Byte] = enc match {
      case 0 => s.getBytes("ISO-8859-1")
      case 1 => Array(0xFE.toByte, 0xFF.toByte) ++ s.getBytes("UTF-16BE")
      case 2 => s.getBytes("UTF-16BE")
      case _ => s.getBytes("UTF-8")
    }
    val body = new java.io.ByteArrayOutputStream()
    def frame(fid: String, text: String): Unit = {
      val data = encode(text)
      val fsize = 1 + data.length
      fid.foreach(c => body.write(c))
      if (ver == 4) {
        body.write((fsize >> 21) & 0x7f); body.write((fsize >> 14) & 0x7f)
        body.write((fsize >> 7) & 0x7f); body.write(fsize & 0x7f)
      } else {
        body.write((fsize >> 24) & 0xff); body.write((fsize >> 16) & 0xff)
        body.write((fsize >> 8) & 0xff); body.write(fsize & 0xff)
      }
      body.write(0); body.write(0) // flags
      body.write(if (enc > 3) 3 else enc)
      body.write(data, 0, data.length)
    }
    frame("TIT2", title); frame("TPE1", artist); frame("TALB", album)
    var k = 0
    while (k < padding) { body.write(0); k += 1 }
    val b = body.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    out.write('I'); out.write('D'); out.write('3')
    out.write(ver); out.write(0); out.write(0)
    out.write((b.length >> 21) & 0x7f); out.write((b.length >> 14) & 0x7f)
    out.write((b.length >> 7) & 0x7f); out.write(b.length & 0x7f)
    out.write(b, 0, b.length)
    out.toByteArray
  }

  // ------------------------------------------- JPEG EXIF metadata (P165)

  /**
   * EXIF metadata of a JPEG (P165 — the metadata image-corpus curation
   * actually filters and joins on: orientation for decode-free
   * rotation normalization, capture time, camera make/model; LAION-
   * class datasets ship these columns): a pure-JDK walk, no imageio —
   * JPEG marker segments to the APP1 "Exif\0\0" payload, then the
   * TIFF structure inside (public: JEITA CP-3451 / TIFF 6.0): byte
   * order II/MM (both real — phones write II, classic cameras MM),
   * magic 42, IFD0 entries of (tag, type, count, value-or-offset)
   * with ASCII values > 4 bytes living at offsets into the TIFF
   * block. Reads orientation (0x0112 SHORT), DateTime (0x0132 ASCII),
   * Make (0x010F), Model (0x0110). Absent tags yield 0/null; a
   * malformed TIFF block, out-of-bounds offset, or missing APP1
   * yields None — absent metadata, never wrong. The walk stops at
   * SOS (entropy-coded data follows; APPn segments precede it by
   * spec).
   */
  def jpegExif(payload: Array[Byte])
      : Option[(Int, String, String, String)] = {
    if (payload.length < 4 || payload(0) != 0xFF.toByte ||
      payload(1) != 0xD8.toByte) return None
    var i = 2
    while (i + 4 <= payload.length) {
      if (payload(i) != 0xFF.toByte) return None
      // T.81 §B.1.1.2: any marker may be preceded by fill bytes (0xFF);
      // skip the run so a padded marker id is not read as 0xFF with a
      // bogus length that desyncs the walk.
      while (i + 4 <= payload.length && payload(i + 1) == 0xFF.toByte) i += 1
      if (i + 4 > payload.length) return None
      val marker = payload(i + 1) & 0xff
      if (marker == 0xDA || marker == 0xD9) return None // SOS/EOI
      else if ((marker >= 0xD0 && marker <= 0xD7) || marker == 0x01)
        i += 2 // standalone markers carry no length
      else {
        val len = ((payload(i + 2) & 0xff) << 8) | (payload(i + 3) & 0xff)
        if (len < 2 || i + 2 + len > payload.length) return None
        if (marker == 0xE1 && len >= 10 &&
          payload(i + 4) == 'E' && payload(i + 5) == 'x' &&
          payload(i + 6) == 'i' && payload(i + 7) == 'f' &&
          payload(i + 8) == 0 && payload(i + 9) == 0)
          return parseTiffIfd0(payload, i + 10, len - 8)
        i += 2 + len
      }
    }
    None
  }

  private def parseTiffIfd0(b: Array[Byte], off: Int, len: Int)
      : Option[(Int, String, String, String)] = {
    if (len < 12) return None
    val end = off + len
    val le =
      if (b(off) == 'I' && b(off + 1) == 'I') true
      else if (b(off) == 'M' && b(off + 1) == 'M') false
      else return None
    def u16(o: Int): Int =
      if (o < off || o + 2 > end) -1
      else if (le) (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
      else ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
    def u32(o: Int): Long =
      if (o < off || o + 4 > end) -1L
      else if (le) (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
      else ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    if (u16(off + 2) != 42) return None
    val ifdOff = u32(off + 4)
    if (ifdOff < 0 || off + ifdOff + 2 > end) return None
    val ifd = (off + ifdOff).toInt
    val n = u16(ifd)
    if (n < 0 || ifd + 2 + n * 12 > end) return None
    var orientation = 0
    var datetime: String = null
    var make: String = null
    var model: String = null
    def ascii(valOff: Int, count: Long): String = {
      // count includes the terminating NUL; values > 4 bytes live at
      // a TIFF-block offset, <= 4 inline in the value field
      val at =
        if (count <= 4) valOff
        else {
          val o = u32(valOff)
          if (o < 0 || off + o + count > end) return null
          (off + o).toInt
        }
      if (count < 1 || at + count > end) return null
      val sb = new java.lang.StringBuilder()
      var k = 0
      while (k < count - 1 && b(at + k) != 0) {
        sb.append((b(at + k) & 0xff).toChar); k += 1
      }
      sb.toString
    }
    var e = 0
    while (e < n) {
      val at = ifd + 2 + e * 12
      val tag = u16(at)
      val typ = u16(at + 2)
      val count = u32(at + 4)
      val valOff = at + 8
      tag match {
        case 0x0112 if typ == 3 && count == 1 => orientation = u16(valOff)
        case 0x0132 if typ == 2 => datetime = ascii(valOff, count)
        case 0x010F if typ == 2 => make = ascii(valOff, count)
        case 0x0110 if typ == 2 => model = ascii(valOff, count)
        case _ =>
      }
      e += 1
    }
    Some((orientation, datetime, make, model))
  }

  /** Batched frame twin of [[jpegExif]]: one row per JPEG with a
   * parseable EXIF block — (id, orientation, datetime, make, model);
   * EXIF-less or non-JPEG payloads drop. */
  def jpegExifFrame(images: DataFrame, idCol: String = "id",
                    payloadCol: String = "payload"): DataFrame =
    decodePayloads(images, idCol, payloadCol, "id", "orientation",
      "datetime", "make", "model")(_.flatMap { case (id, payload) =>
      jpegExif(payload).map { case (o, dt, mk, md) => (id, o.toLong, dt, mk, md) }
    })

  /** Build an EXIF APP1 segment (fixture writer): TIFF block in the
   * requested byte order with IFD0 entries Make/Model/Orientation/
   * DateTime in ascending tag order, ASCII values > 4 bytes at
   * offsets, <= 4 inline — the two storage shapes the reader must
   * handle. */
  def exifApp1(orientation: Int, datetime: String, make: String,
               model: String, littleEndian: Boolean): Array[Byte] = {
    val mk = make + "\u0000"
    val md = model + "\u0000"
    val dt = datetime + "\u0000"
    val entries = 4
    val dataStart = 8 + 2 + entries * 12 + 4 // header + count + ifd + next
    val tiff = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit =
      if (littleEndian) { tiff.write(v & 0xff); tiff.write((v >> 8) & 0xff) }
      else { tiff.write((v >> 8) & 0xff); tiff.write(v & 0xff) }
    def w32(v: Int): Unit =
      if (littleEndian) { tiff.write(v & 0xff); tiff.write((v >> 8) & 0xff)
        tiff.write((v >> 16) & 0xff); tiff.write((v >> 24) & 0xff) }
      else { tiff.write((v >> 24) & 0xff); tiff.write((v >> 16) & 0xff)
        tiff.write((v >> 8) & 0xff); tiff.write(v & 0xff) }
    tiff.write(if (littleEndian) 'I' else 'M')
    tiff.write(if (littleEndian) 'I' else 'M')
    w16(42); w32(8) // IFD0 at offset 8
    w16(entries)
    var dataOff = dataStart
    val pending = new java.io.ByteArrayOutputStream()
    def asciiEntry(tag: Int, s: String): Unit = {
      w16(tag); w16(2); w32(s.length)
      if (s.length <= 4) {
        var k = 0
        while (k < 4) { tiff.write(if (k < s.length) s.charAt(k) else 0); k += 1 }
      } else {
        w32(dataOff); dataOff += s.length
        var k = 0
        while (k < s.length) { pending.write(s.charAt(k)); k += 1 }
      }
    }
    asciiEntry(0x010F, mk) // ascending tag order per TIFF 6.0
    asciiEntry(0x0110, md)
    w16(0x0112); w16(3); w32(1) // orientation SHORT
    if (littleEndian) { tiff.write(orientation & 0xff)
      tiff.write((orientation >> 8) & 0xff); tiff.write(0); tiff.write(0) }
    else { tiff.write((orientation >> 8) & 0xff)
      tiff.write(orientation & 0xff); tiff.write(0); tiff.write(0) }
    asciiEntry(0x0132, dt)
    w32(0) // no next IFD
    pending.toByteArray.foreach(v => tiff.write(v.toInt))
    val t = tiff.toByteArray
    val seg = new java.io.ByteArrayOutputStream()
    seg.write(0xFF); seg.write(0xE1)
    val len = 2 + 6 + t.length
    seg.write((len >> 8) & 0xff); seg.write(len & 0xff)
    "Exif".foreach(c => seg.write(c)); seg.write(0); seg.write(0)
    seg.write(t, 0, t.length)
    seg.toByteArray
  }

  /** The dHash fixture JPEG with an EXIF APP1 spliced after SOI —
   * imageio still decodes it (APPn segments are skippable), so the
   * SAME payload serves both the metadata walk and the dHash family. */
  def jpegWithExif(docId: Long, orientation: Int, datetime: String,
                   make: String, model: String,
                   littleEndian: Boolean): Array[Byte] = {
    val jpeg = dhashImageJpeg(docId)
    val app1 = exifApp1(orientation, datetime, make, model, littleEndian)
    val out = new Array[Byte](jpeg.length + app1.length)
    out(0) = jpeg(0); out(1) = jpeg(1) // SOI
    System.arraycopy(app1, 0, out, 2, app1.length)
    System.arraycopy(jpeg, 2, out, 2 + app1.length, jpeg.length - 2)
    out
  }

  /**
   * Deterministic PNG generator (for tests/fixtures): pixel (x, y) of
   * image `seed` is a pure function of (x, y, seed), encoded by the JDK
   * PNG writer. Lossless format, so decode recovers the exact pixels.
   */
  def generatePng(width: Int, height: Int, seed: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val r = (x * 31 + y * 17 + seed) % 256
        val g = (x * 7 + y * 13 + seed * 3) % 256
        val b = (x ^ y) % 256
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  // ------------------------------------------------------- video (MJPEG)

  /**
   * REAL video decode for MJPEG-in-AVI payloads — the one video format a
   * pure JDK can handle, because every frame is a complete JPEG that
   * `javax.imageio` decodes (no inter-frame codec state). Walks the RIFF
   * chunk tree: `avih` carries the declared dims, every `..dc`/`..db`
   * chunk under `movi` is one frame. Returns (width, height, nFrames,
   * mean of per-frame mean-RGB brightness over the DECODED frames) or
   * None when the payload is not an AVI (caller falls back to the stub).
   *
   * `frameStep` decodes every k-th frame (frame sampling — the feature-
   * extraction shape for long videos; metadata still counts ALL frames).
   */
  /**
   * Shared RIFF/AVI chunk walk (serves `decodeAvi` and
   * `videoFingerprint` — one copy of the LIST recursion, word
   * alignment, and malformed-size guard): calls `onChunk(cc, bodyOff,
   * size)` for every non-LIST chunk in document order, descending into
   * LISTs. Returns false when the payload is not an AVI at all; aborts
   * early (returning true) when `onChunk` returns false.
   */
  private def walkAviChunks(payload: Array[Byte])
                           (onChunk: (String, Int, Int) => Boolean): Boolean = {
    def le32(off: Int): Int =
      (payload(off) & 0xff) | ((payload(off + 1) & 0xff) << 8) |
        ((payload(off + 2) & 0xff) << 16) | ((payload(off + 3) & 0xff) << 24)
    def fourcc(off: Int): String =
      new String(payload, off, 4, "US-ASCII")
    if (payload.length < 12 || fourcc(0) != "RIFF" || fourcc(8) != "AVI ")
      return false
    var stack = List((12, math.min(payload.length, 8 + le32(4))))
    while (stack.nonEmpty) {
      var (pos, end) = stack.head
      stack = stack.tail
      while (pos + 8 <= end) {
        val cc = fourcc(pos)
        val size = le32(pos + 4)
        if (size < 0 || pos + 8 + size > end) { pos = end } // malformed: stop
        else {
          if (cc == "LIST" && size >= 4) {
            stack = (pos + 12, pos + 8 + size) :: stack
          } else if (!onChunk(cc, pos + 8, size)) {
            return true
          }
          pos += 8 + size + (size & 1) // chunks are word-aligned
        }
      }
    }
    true
  }

  private def aviLe32(payload: Array[Byte], off: Int): Int =
    (payload(off) & 0xff) | ((payload(off + 1) & 0xff) << 8) |
      ((payload(off + 2) & 0xff) << 16) | ((payload(off + 3) & 0xff) << 24)

  def decodeAvi(payload: Array[Byte], frameStep: Int = 1): Option[(Int, Int, Long, Double)] =
    try {
      require(frameStep >= 1)
      var width = 0
      var height = 0
      var nFrames = 0L
      var brightSum = 0.0
      var brightN = 0L
      var badFrame = false
      val isAvi = walkAviChunks(payload) { (cc, off, size) =>
        if (cc == "avih" && size >= 40) {
          nFrames = aviLe32(payload, off + 16).toLong // dwTotalFrames
          width = aviLe32(payload, off + 32)
          height = aviLe32(payload, off + 36)
        } else if (cc.endsWith("dc") || cc.endsWith("db")) {
          if (brightN % frameStep == 0) {
            decodeImage(java.util.Arrays.copyOfRange(payload, off,
              off + size)) match {
              case Some((w, h, b)) =>
                brightSum += b
                if (width == 0) { width = w; height = h }
              case None => badFrame = true // a frame that isn't an image
            }
          }
          brightN += 1
        }
        !badFrame
      }
      if (!isAvi || badFrame || brightN == 0) None
      else {
        val sampled = (brightN + frameStep - 1) / frameStep
        Some((width, height, if (nFrames > 0) nFrames else brightN,
          brightSum / sampled))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /**
   * Deterministic MJPEG-in-AVI generator (for tests/fixtures): frame f of
   * stream `seed` uses the `generatePng` pixel function with seed
   * `seed + f`, JPEG-encoded (lossy — tests compare brightness with a
   * tolerance, dims/frame-count exactly). Writes the minimal spec-valid
   * container: RIFF(AVI ) / LIST(hdrl avih LIST(strl strh strf)) /
   * LIST(movi 00dc...).
   */
  def generateAvi(width: Int, height: Int, nFrames: Int, seed: Int): Array[Byte] = {
    def jpegFrame(f: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val r = (x * 31 + y * 17 + seed + f) % 256
          val g = (x * 7 + y * 13 + (seed + f) * 3) % 256
          val b = (x ^ y) % 256
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
          x += 1
        }
        y += 1
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", out)
      out.toByteArray
    }
    val bb = new java.io.ByteArrayOutputStream()
    def le32(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def cc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val pad = if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
      cc(id) ++ le32(body.length) ++ body ++ pad
    }
    def list(listType: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", cc(listType) ++ body)
    val avih = le32(40000) ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(nFrames) ++ le32(0) ++ le32(1) ++ le32(0) ++
      le32(width) ++ le32(height) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val strh = cc("vids") ++ cc("MJPG") ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(1) ++ le32(25) ++ le32(0) ++ le32(nFrames) ++ le32(0) ++
      le32(-1) ++ le32(0) ++ le32(0) ++ le32(0)
    val strf = le32(40) ++ le32(width) ++ le32(height) ++
      Array(1.toByte, 0.toByte, 24.toByte, 0.toByte) ++ cc("MJPG") ++
      le32(width * height * 3) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val hdrl = list("hdrl",
      chunk("avih", avih) ++ list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val movi = list("movi",
      (0 until nFrames).toArray.flatMap(f => chunk("00dc", jpegFrame(f))))
    val riffBody = cc("AVI ") ++ hdrl ++ movi
    bb.write(cc("RIFF")); bb.write(le32(riffBody.length)); bb.write(riffBody)
    bb.toByteArray
  }

  // --------------------------------------- image near-dup (dHash, P74)

  /** dHash grid: 9x8 cell means -> 64 horizontal-gradient bits. */
  val DHashGridW = 9
  val DHashGridH = 8

  /**
   * Perceptual difference hash (dHash) of a decodable image: downscale
   * to a 9x8 grid of EXACT integer block means (boundaries floor(i*w/9),
   * means compared cross-multiplied so no float rounding exists
   * anywhere), then bit (cy*8+cx) = mean(cx,cy) < mean(cx+1,cy). The
   * LAION-style image near-dup key: invariant to re-encoding, global
   * brightness shifts and mean-preserving pixel noise, while genuinely
   * different images differ in many bits. None when the payload doesn't
   * decode as an image.
   */
  def imageDHash(payload: Array[Byte]): Option[Long] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        if (w < DHashGridW || h < DHashGridH) None
        else {
          // one bulk getRGB (per-pixel getRGB pays a color-model call per
          // pixel — the bulk read was a 2x win on the p74 fixture), then
          // exact integer cell sums + areas
          val px = img.getRGB(0, 0, w, h, null, 0, w)
          val sums = Array.ofDim[Long](DHashGridH, DHashGridW)
          val areas = Array.ofDim[Long](DHashGridH, DHashGridW)
          var cy = 0
          while (cy < DHashGridH) {
            val y0 = cy * h / DHashGridH
            val y1 = (cy + 1) * h / DHashGridH
            var cx = 0
            while (cx < DHashGridW) {
              val x0 = cx * w / DHashGridW
              val x1 = (cx + 1) * w / DHashGridW
              var s = 0L
              var y = y0
              while (y < y1) {
                val row = y * w
                var x = x0
                while (x < x1) {
                  val rgb = px(row + x)
                  s += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
                  x += 1
                }
                y += 1
              }
              sums(cy)(cx) = s
              areas(cy)(cx) = (x1 - x0).toLong * (y1 - y0)
              cx += 1
            }
            cy += 1
          }
          var hash = 0L
          var bit = 0
          cy = 0
          while (cy < DHashGridH) {
            var cx = 0
            while (cx < DHashGridW - 1) {
              // mean(cx) < mean(cx+1) without division: cross-multiply
              if (sums(cy)(cx) * areas(cy)(cx + 1) <
                  sums(cy)(cx + 1) * areas(cy)(cx)) hash |= 1L << bit
              bit += 1
              cx += 1
            }
            cy += 1
          }
          Some(hash)
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The exact grayscale a dHash cell of `dhashImagePng` carries — the
   * formula the spec recomputes independently of the codec. A
   * splitmix64-style NONLINEAR mix: a linear-mod formula makes the
   * whole image a function of (docId mod m), capping the universe at m
   * distinct hashes and colliding unrelated docs (caught by this spec's
   * first draft); the finalizer makes cells behave independently, so
   * distinct docs differ in ~32 of 64 gradient bits. Range [30, 210] so
   * the brightness/noise variants never clamp at 0/255. */
  def dhashCellGray(docId: Long, cx: Int, cy: Int): Int = {
    var z = docId * 0x9E3779B97F4A7C15L + cx * 0xBF58476D1CE4E5B9L +
      cy * 0x94D049BB133111EBL
    z ^= z >>> 30; z *= 0xBF58476D1CE4E5B9L
    z ^= z >>> 27; z *= 0x94D049BB133111EBL
    z ^= z >>> 31
    (java.lang.Long.remainderUnsigned(z, 181L) + 30L).toInt
  }

  /** The dHash `imageDHash` must produce for `dhashImagePng(docId, _)` —
   * every variant of a doc, derived from the cell formula alone. */
  def expectedDHash(docId: Long): Long = {
    var hash = 0L
    var bit = 0
    var cy = 0
    while (cy < DHashGridH) {
      var cx = 0
      while (cx < DHashGridW - 1) {
        if (dhashCellGray(docId, cx, cy) < dhashCellGray(docId, cx + 1, cy))
          hash |= 1L << bit
        bit += 1
        cx += 1
      }
      cy += 1
    }
    hash
  }

  /**
   * Deterministic near-duplicate image fixture: a 72x64 grayscale PNG of
   * 8x8 constant blocks (one per dHash cell — 72/9 = 64/8 = 8, so cell
   * boundaries align exactly). Variants of one doc are BYTE-different
   * but dHash-IDENTICAL by construction:
   *   0 — the base image;
   *   1 — +1/-1 alternating-column pixel noise (block means preserved
   *       exactly: each 8-wide block holds four +1 and four -1 columns);
   *   2 — global +10 brightness (every mean shifts equally; dHash
   *       compares ADJACENT means, so all 64 bits survive).
   * Pixels are stored as RGB with r=g=b (TYPE_INT_RGB round-trips
   * through `getRGB` bit-exactly; a TYPE_BYTE_GRAY image would pass
   * through a nonlinear gray→sRGB conversion on read, which does NOT
   * commute with block means and flipped near-tie gradient bits under
   * the noise variant — found by this spec). PNG is lossless, so the
   * decoded means equal the generated integers exactly — the operator's
   * hashes are reproducible from `expectedDHash` with zero tolerance.
   */
  def dhashImagePng(docId: Long, variant: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(dhashImageBuffered(docId, variant), "png", out)
    out.toByteArray
  }

  /** JPEG twin of [[dhashImagePng]] variant 0 — the DCTDecode payload
   * class PDFs embed (p161). JPEG is LOSSY, so its decoded pixels are
   * not the generated integers; the fixture therefore plants the SAME
   * BYTES through both doors (standalone media table and PDF image
   * XObject) — identical bytes hash identically, so the cross-door
   * pair is exact regardless of codec artifacts. Deterministic within
   * a JVM (one ImageIO JPEG writer, fixed default quality). */
  def dhashImageJpeg(docId: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(dhashImageBuffered(docId, 0), "jpg", out)
    out.toByteArray
  }

  /** Row-major 8-bit RGB samples of the variant-0 dHash fixture image
   * — the raw-sample PDF image lane (p162) embeds exactly these, so
   * any LOSSLESS decode path yields exactly [[expectedDHash]]. */
  def dhashImageRgbBytes(docId: Long): Array[Byte] = {
    val img = dhashImageBuffered(docId, 0)
    val w = img.getWidth
    val h = img.getHeight
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    val out = new Array[Byte](w * h * 3)
    var i = 0
    while (i < px.length) {
      out(i * 3) = ((px(i) >> 16) & 0xff).toByte
      out(i * 3 + 1) = ((px(i) >> 8) & 0xff).toByte
      out(i * 3 + 2) = (px(i) & 0xff).toByte
      i += 1
    }
    out
  }

  private def dhashImageBuffered(docId: Long, variant: Int)
      : java.awt.image.BufferedImage = {
    val w = DHashGridW * 8
    val h = DHashGridH * 8
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val row = y * w
      var x = 0
      while (x < w) {
        val base = dhashCellGray(docId, x / 8, y / 8)
        val v = variant match {
          case 1 => base + (if (x % 2 == 0) 1 else -1)
          case 2 => base + 10
          case _ => base
        }
        px(row + x) = (v << 16) | (v << 8) | v
        x += 1
      }
      y += 1
    }
    img.setRGB(0, 0, w, h, px, 0, w)
    img
  }

  /**
   * (id, dhash) for every decodable image — batched per partition like
   * `decodeBatched` (codec init amortizes across a batch); undecodable
   * payloads are dropped (they have no perceptual content to pair on).
   * Input columns: `idCol` long, `payloadCol` binary.
   */
  def imageDHashes(images: DataFrame, idCol: String = "id",
                   payloadCol: String = "payload"): DataFrame =
    decodePayloads(images, idCol, payloadCol, "id", "dhash")(_.flatMap {
      case (id, payload) => imageDHash(payload).map(hsh => (id, hsh))
    })

  // ------------------------------------- WebP container metadata (P152)

  /**
   * WebP container metadata — javax.imageio is blind to WebP, so the
   * web's now-dominant image format would otherwise skip the image
   * family SILENTLY; the container, though, is pure RIFF structure in
   * the house AVI/WAV style, and its metadata (dims, alpha, animation)
   * is what image-corpus curation filters on before any decode. All
   * three container shapes of the WebP spec (RFC 9649) parse:
   *   - `VP8 ` simple lossy: dims from the keyframe header (start code
   *     9D 01 2A, 14-bit little-endian width/height);
   *   - `VP8L` simple lossless: dims from the 14+14-bit packed field
   *     after the 0x2F signature, alpha from its is_alpha bit;
   *   - `VP8X` extended: canvas dims from the 24-bit LE minus-one
   *     fields, alpha from the flag bit OR an ALPH chunk, animation
   *     from the flag bit, n_frames = ANMF chunk count (the walk does
   *     NOT descend into ANMF payloads — their embedded frame chunks
   *     must not shadow the canvas).
   * PIXEL decode stays documented out (no pure-JDK VP8/VP8L path —
   * same policy as MP4 inter-frame); exact-byte near-dup rides the
   * existing content-hash family unchanged. Returns (format, width,
   * height, has_alpha, is_animated, n_frames); None when the payload
   * is not a WebP or its declared bitstream header is malformed —
   * absent metadata, never wrong.
   */
  def webpMetadata(payload: Array[Byte])
      : Option[(String, Int, Int, Boolean, Boolean, Int)] = try {
    def cc(off: Int): String = new String(payload, off, 4, "US-ASCII")
    def le32(off: Int): Int = aviLe32(payload, off)
    def le24(off: Int): Int = (payload(off) & 0xff) |
      ((payload(off + 1) & 0xff) << 8) | ((payload(off + 2) & 0xff) << 16)
    def le16(off: Int): Int =
      (payload(off) & 0xff) | ((payload(off + 1) & 0xff) << 8)
    if (payload.length < 20 || cc(0) != "RIFF" || cc(8) != "WEBP")
      return None
    val end = math.min(payload.length, 8L + (le32(4) & 0xffffffffL)).toInt
    var pos = 12
    var format: String = null
    var w = 0
    var h = 0
    var alpha = false
    var anim = false
    var nFrames = 0
    while (pos + 8 <= end) {
      val c = cc(pos)
      val size = le32(pos + 4)
      if (size < 0 || pos + 8 + size > end) { pos = end } // malformed: stop
      else {
        val off = pos + 8
        c match {
          case "VP8 " if format == null =>
            if (size >= 10 && (payload(off + 3) & 0xff) == 0x9d &&
              (payload(off + 4) & 0xff) == 0x01 &&
              (payload(off + 5) & 0xff) == 0x2a) {
              format = "vp8"
              w = le16(off + 6) & 0x3fff
              h = le16(off + 8) & 0x3fff
            } else return None // declared lossy bitstream, bad keyframe
          case "VP8L" if format == null =>
            if (size >= 5 && (payload(off) & 0xff) == 0x2f) {
              val bits = le32(off + 1)
              format = "vp8l"
              w = (bits & 0x3fff) + 1
              h = ((bits >>> 14) & 0x3fff) + 1
              alpha = ((bits >>> 28) & 1) == 1
            } else return None
          case "VP8X" if format == null =>
            if (size >= 10) {
              format = "vp8x"
              val flags = payload(off) & 0xff
              alpha = (flags & 0x10) != 0
              anim = (flags & 0x02) != 0
              w = le24(off + 4) + 1
              h = le24(off + 7) + 1
            } else return None
          case "ALPH" => alpha = true
          case "ANMF" => nFrames += 1
          case _ => ()
        }
        pos += 8 + size + (size & 1) // chunks are word-aligned
      }
    }
    if (format == null) None
    else Some((format, w, h, alpha, anim, nFrames))
  } catch { case scala.util.control.NonFatal(_) => None }

  /** (id, format, width, height, has_alpha, is_animated, n_frames)
   * for every WebP payload — batched per partition like the other
   * binary decoders; non-WebP payloads drop (absent, never wrong). */
  def webpMetadataFrame(images: DataFrame, idCol: String = "id",
                        payloadCol: String = "payload"): DataFrame =
    decodePayloads(images, idCol, payloadCol, "id", "format", "width",
      "height", "has_alpha", "is_animated", "n_frames")(_.flatMap {
      case (id, payload) =>
        webpMetadata(payload).map { case (f, w, h, a, an, nf) =>
          (id, f, w.toLong, h.toLong, a, an, nf.toLong)
        }
    })

  /** Deterministic WebP fixture (hand-built containers, no encoder):
   * `lane` 0 = simple lossy VP8, 1 = simple lossless VP8L (alpha when
   * docId % 3 == 0), 2 = extended VP8X static with an ALPH chunk
   * (alpha flag set), 3 = extended VP8X animated with 2 + docId % 3
   * ANMF frames. Dims follow the closed form w = 16 + (docId*7) % 240,
   * h = 16 + (docId*13) % 180 (canvas and bitstream agree). Filler
   * sizes vary parity with docId so the word-alignment padding is
   * load-bearing in round-trips. */
  def generateWebp(docId: Long, lane: Int): Array[Byte] = {
    val w = 16 + ((docId * 7) % 240).toInt
    val h = 16 + ((docId * 13) % 180).toInt
    val alpha = docId % 3 == 0
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def le24(v: Int) =
      Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte)
    def le32b(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    def filler(n: Int): Array[Byte] =
      Array.tabulate(n)(i => ((docId + i) % 251).toByte)
    def chunk(c: String, body: Array[Byte]): Array[Byte] = {
      val head = c.getBytes("US-ASCII") ++ le32b(body.length)
      val pad = if ((body.length & 1) == 1) Array[Byte](0) else Array.empty[Byte]
      head ++ body ++ pad
    }
    val vp8Body = Array[Byte](0, 0, 0) ++ // 3-byte frame tag (keyframe)
      Array[Byte](0x9d.toByte, 0x01, 0x2a) ++ le16(w) ++ le16(h) ++
      filler(9 + (docId % 5).toInt)
    val chunks: Array[Byte] = lane match {
      case 0 => chunk("VP8 ", vp8Body)
      case 1 =>
        val bits = (w - 1) | ((h - 1) << 14) | ((if (alpha) 1 else 0) << 28)
        chunk("VP8L", Array[Byte](0x2f) ++ le32b(bits) ++
          filler(8 + (docId % 3).toInt))
      case 2 =>
        val flags = 0x10 // alpha
        chunk("VP8X", Array[Byte](flags.toByte, 0, 0, 0) ++
          le24(w - 1) ++ le24(h - 1)) ++
          chunk("ALPH", filler(5 + (docId % 2).toInt)) ++
          chunk("VP8 ", vp8Body)
      case _ =>
        val flags = 0x02 | (if (alpha) 0x10 else 0) // animation [+ alpha]
        val anmf = (0 until (2 + (docId % 3)).toInt).map { k =>
          // 16-byte ANMF header + embedded frame data the walk must
          // NOT descend into (a full VP8 chunk with WRONG dims — the
          // canvas must win)
          chunk("ANMF", le24(0) ++ le24(0) ++ le24(w - 1) ++ le24(h - 1) ++
            le24(40 + k) ++ Array[Byte](0) ++
            chunk("VP8 ", Array[Byte](0, 0, 0, 0x9d.toByte, 0x01, 0x2a) ++
              le16(1) ++ le16(1)))
        }.reduce(_ ++ _)
        chunk("VP8X", Array[Byte](flags.toByte, 0, 0, 0) ++
          le24(w - 1) ++ le24(h - 1)) ++
          chunk("ANIM", le32b(0) ++ le16(0)) ++ anmf
    }
    val body = "WEBP".getBytes("US-ASCII") ++ chunks
    "RIFF".getBytes("US-ASCII") ++ le32b(body.length) ++ body
  }

  // ------------------------------------ audio near-dup (envelope, P76)

  /** Envelope hash frames: 65 equal frames -> 64 delta-sign bits. */
  val EnvFrames = 65
  /** Samples per frame in the fixture (even — the dither variant pairs
   * a +1 and a -1 adjustment inside every frame). */
  val EnvFrameLen = 32

  /**
   * Audio envelope hash — the WAV twin of the image dHash: decode
   * 16-bit PCM, split into 65 equal frames, take each frame's EXACT
   * integer sum of |sample|, and emit 64 bits comparing adjacent frame
   * energies (cross-multiplied — no float anywhere). Invariant to
   * amplitude scaling (every frame scales together) and to
   * re-encodings that preserve per-frame energy; genuinely different
   * audio differs in many bits. None for non-PCM16 payloads or clips
   * shorter than the frame grid.
   *
   * Canonical RIFF/WAVE PCM16-mono payloads are parsed directly (pure
   * byte work, zero shared state — `AudioSystem` holds a synchronized
   * provider registry whose per-call scan serialized 32-way parallel
   * hashing 50x in the p76 micro-benchmark); anything else falls back
   * to the javax.sound path, so exotic-but-valid encodings still
   * decode, just without the fast lane.
   */
  def audioEnvelopeHash(payload: Array[Byte]): Option[Long] =
    parseCanonicalWavPcm16Mono(payload) match {
      case Some((bytes, off, n)) => envelopeHashOfPcm(bytes, off, n, bigEndian = false)
      case None => audioEnvelopeHashViaSound(payload)
    }

  /** Locate the PCM16-mono sample data inside a canonical RIFF/WAVE
   * payload: returns (buffer, byteOffset, sampleCount), or None when
   * the container/encoding isn't the canonical shape (caller falls
   * back to javax.sound). */
  private def parseCanonicalWavPcm16Mono(payload: Array[Byte])
      : Option[(Array[Byte], Int, Int)] =
    try {
      def le16(o: Int): Int = (payload(o) & 0xff) | ((payload(o + 1) & 0xff) << 8)
      def le32(o: Int): Int =
        (payload(o) & 0xff) | ((payload(o + 1) & 0xff) << 8) |
          ((payload(o + 2) & 0xff) << 16) | ((payload(o + 3) & 0xff) << 24)
      def cc(o: Int): String = new String(payload, o, 4, "US-ASCII")
      if (payload.length < 44 || cc(0) != "RIFF" || cc(8) != "WAVE") return None
      var pos = 12
      var pcmOk = false
      var data: Option[(Array[Byte], Int, Int)] = None
      while (pos + 8 <= payload.length && data.isEmpty) {
        val id = cc(pos)
        val size = le32(pos + 4)
        if (size < 0 || pos + 8 + size > payload.length) return None
        if (id == "fmt " && size >= 16) {
          pcmOk = le16(pos + 8) == 1 && // WAVE_FORMAT_PCM
            le16(pos + 10) == 1 && // mono
            le16(pos + 22) == 16 // 16-bit
          if (!pcmOk) return None // valid WAV, non-canonical encoding
        } else if (id == "data") {
          if (!pcmOk) return None // data before fmt: let javax.sound decide
          data = Some((payload, pos + 8, size / 2))
        }
        pos += 8 + size + (size & 1)
      }
      data
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The exact frame-energy hash over a PCM16 sample run (see
   * audioEnvelopeHash). */
  private def envelopeHashOfPcm(bytes: Array[Byte], off: Int, n: Int,
                                bigEndian: Boolean): Option[Long] = {
    if (n < EnvFrames) return None
    val sums = new Array[Long](EnvFrames)
    val lens = new Array[Long](EnvFrames)
    var f = 0
    while (f < EnvFrames) {
      val i0 = f * n / EnvFrames
      val i1 = (f + 1) * n / EnvFrames
      var s = 0L
      var i = i0
      while (i < i1) {
        val o = off + 2 * i
        val v: Int =
          if (bigEndian) (bytes(o).toInt << 8) | (bytes(o + 1) & 0xff)
          else (bytes(o + 1).toInt << 8) | (bytes(o) & 0xff)
        s += math.abs(v)
        i += 1
      }
      sums(f) = s
      lens(f) = (i1 - i0).toLong
      f += 1
    }
    var hash = 0L
    var bit = 0
    while (bit < EnvFrames - 1) {
      if (sums(bit) * lens(bit + 1) < sums(bit + 1) * lens(bit))
        hash |= 1L << bit
      bit += 1
    }
    Some(hash)
  }

  /** javax.sound fallback for non-canonical payloads. */
  private def audioEnvelopeHashViaSound(payload: Array[Byte]): Option[Long] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val fmt = in.getFormat
        if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
            fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1) None
        else {
          val bytes = in.readAllBytes()
          envelopeHashOfPcm(bytes, 0, bytes.length / 2, fmt.isBigEndian)
        }
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The exact PCM sample of the p76 fixture — ODD magnitudes only
   * (|s| in {1,3,...,8191}), so the dither variant's ±1 adjustments
   * never cross zero ambiguously and the ×2 variant never clips. The
   * spec recomputes the envelope hash from this formula alone. */
  def envelopeSample(docId: Long, i: Int): Short = {
    var z = docId * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L
    z ^= z >>> 30; z *= 0xBF58476D1CE4E5B9L
    z ^= z >>> 27; z *= 0x94D049BB133111EBL
    z ^= z >>> 31
    val mag = (java.lang.Long.remainderUnsigned(z, 4096L) * 2 + 1).toInt
    (if ((z >>> 13 & 1L) == 0L) mag else -mag).toShort
  }

  /** The envelope hash `audioEnvelopeHash` must produce for EVERY
   * variant of `envelopeWav(docId, _)`, from the sample formula alone. */
  def expectedEnvelopeHash(docId: Long): Long = {
    val n = EnvFrames * EnvFrameLen
    val sums = new Array[Long](EnvFrames)
    var i = 0
    while (i < n) {
      sums(i / EnvFrameLen) += math.abs(envelopeSample(docId, i).toInt)
      i += 1
    }
    var hash = 0L
    var bit = 0
    while (bit < EnvFrames - 1) {
      if (sums(bit) < sums(bit + 1)) hash |= 1L << bit
      bit += 1
    }
    hash
  }

  /**
   * Deterministic near-duplicate audio fixture (2080-sample mono PCM16
   * WAV, lossless). Variants of one doc are BYTE-different but
   * envelope-hash-IDENTICAL by construction:
   *   0 — the base clip;
   *   1 — amplitude x2 (every frame energy scales together; magnitudes
   *       <= 8191 so x2 never clips);
   *   2 — sign-aware ±1 dither: |s|+1 at even positions, |s|-1 at odd —
   *       each frame holds equally many of each, so the frame's
   *       |sample| SUM is preserved exactly (a plain alternating ±1
   *       would shift the sum by the sample-sign imbalance).
   */
  def envelopeWav(docId: Long, variant: Int): Array[Byte] = {
    val n = EnvFrames * EnvFrameLen
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = envelopeSample(docId, i).toInt
      val v = variant match {
        case 1 => s * 2
        case 2 => if (i % 2 == 0) s + Integer.signum(s) else s - Integer.signum(s)
        case _ => s
      }
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    // canonical 44-byte RIFF/WAVE header written directly (the
    // AudioSystem writer pays the same synchronized provider scan the
    // hash path avoids — see audioEnvelopeHash)
    val out = new Array[Byte](44 + pcm.length)
    def putLe32(o: Int, v: Int): Unit = {
      out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte
      out(o + 2) = ((v >> 16) & 0xff).toByte; out(o + 3) = ((v >> 24) & 0xff).toByte
    }
    def putLe16(o: Int, v: Int): Unit = {
      out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte
    }
    def putCc(o: Int, s: String): Unit =
      System.arraycopy(s.getBytes("US-ASCII"), 0, out, o, 4)
    putCc(0, "RIFF"); putLe32(4, 36 + pcm.length); putCc(8, "WAVE")
    putCc(12, "fmt "); putLe32(16, 16)
    putLe16(20, 1); putLe16(22, 1) // PCM, mono
    putLe32(24, 16000); putLe32(28, 16000 * 2) // rate, byte rate
    putLe16(32, 2); putLe16(34, 16) // block align, bits
    putCc(36, "data"); putLe32(40, pcm.length)
    System.arraycopy(pcm, 0, out, 44, pcm.length)
    out
  }

  /** (id, dhash) for every decodable PCM16 clip — the audio twin of
   * `imageDHashes`, same batched-per-partition shape, same output
   * column so `Dedup.hammingPairs64` pairs either modality. */
  def audioEnvelopeHashes(audio: DataFrame, idCol: String = "id",
                          payloadCol: String = "payload"): DataFrame =
    decodePayloads(audio, idCol, payloadCol, "id", "dhash")(_.flatMap {
      case (id, payload) => audioEnvelopeHash(payload).map(hsh => (id, hsh))
    })

  // ---------------------------------- video near-dup (fingerprint, P77)

  /**
   * Strict-majority fold of per-frame 64-bit hashes into one video
   * fingerprint: output bit b = 1 iff MORE than half the frames have
   * bit b set (ties -> 0, so the fold is deterministic for any frame
   * count). Robust to a minority of odd frames (an inserted title card
   * or a corrupted frame flips no bit), unlike an XOR or concat fold.
   */
  def majorityFold64(hashes: Array[Long]): Long = {
    val n = hashes.length
    var out = 0L
    var bit = 0
    while (bit < 64) {
      var ones = 0
      var i = 0
      while (i < n) {
        if ((hashes(i) >>> bit & 1L) == 1L) ones += 1
        i += 1
      }
      if (ones * 2 > n) out |= 1L << bit
      bit += 1
    }
    out
  }

  /**
   * Perceptual video fingerprint — the video member of the near-dup
   * triad (image `imageDHash`, audio `audioEnvelopeHash`): walk the AVI
   * RIFF tree like `decodeAvi`, dHash every `frameStep`-th DECODED
   * frame (any `javax.imageio` codec inside the frame chunk — MJPEG or
   * a lossless transcode), then strict-majority-fold the per-frame
   * hashes into 64 bits. Invariant to container re-muxing (chunk ids,
   * JUNK padding, index chunks, fps metadata — the bytes change, the
   * frames don't) and to lossless per-frame transcodes (identical
   * decoded pixels => identical per-frame dHash), while genuinely
   * different videos differ in ~32 bits. An undecodable MINORITY frame
   * (the truncated-chunk case real crawls hit) is skipped — the
   * majority fold absorbs it by design, unlike `decodeAvi`, whose
   * metadata contract rejects the whole payload. None when NO sampled
   * frame decodes.
   */
  def videoFingerprint(payload: Array[Byte], frameStep: Int = 1): Option[Long] =
    try {
      require(frameStep >= 1)
      val frameHashes = scala.collection.mutable.ArrayBuffer.empty[Long]
      var frameIdx = 0L
      val isAvi = walkAviChunks(payload) { (cc, off, size) =>
        if (cc.endsWith("dc") || cc.endsWith("db")) {
          if (frameIdx % frameStep == 0)
            imageDHash(java.util.Arrays.copyOfRange(payload, off, off + size))
              .foreach(frameHashes += _)
          frameIdx += 1
        }
        true
      }
      if (!isAvi || frameHashes.isEmpty) None
      else Some(majorityFold64(frameHashes.toArray))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Frames per near-dup video fixture (odd — every majority is strict). */
  val NeardupVideoFrames = 3

  /**
   * Deterministic near-duplicate video fixture: a `NeardupVideoFrames`-
   * frame AVI whose frame f carries the `dhashCellGray(docId*1000003+f)`
   * block image (72x64, 8x8 constant blocks — the p74 cell formula, so
   * per-frame dHashes are quasi-random and independent across docs).
   * Variants of one doc are BYTE-different but fingerprint-IDENTICAL by
   * construction:
   *   0 — base MJPEG mux (`00dc` chunks, 40000 us/frame, no index);
   *   1 — re-mux of the SAME JPEG frame bytes (`00db` chunk ids, a JUNK
   *       chunk in hdrl, 33333 us/frame, an idx1 index appended) — the
   *       remux-without-re-encode case every video pipeline hits;
   *   2 — lossless transcode: variant 0's frames DECODED and re-encoded
   *       as PNG in the base mux (different codec, byte-different
   *       frames, pixel-identical decodes).
   * Intra-doc fingerprint equality is exact regardless of JPEG
   * quantization: v1 shares v0's bytes, v2 shares v0's decoded pixels.
   */
  def neardupAvi(docId: Long, variant: Int): Array[Byte] = {
    val w = DHashGridW * 8
    val h = DHashGridH * 8
    def framePixels(f: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val px = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        val row = y * w
        var x = 0
        while (x < w) {
          val v = dhashCellGray(docId * 1000003L + f, x / 8, y / 8)
          px(row + x) = (v << 16) | (v << 8) | v
          x += 1
        }
        y += 1
      }
      img.setRGB(0, 0, w, h, px, 0, w)
      img
    }
    def encode(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, out)
      out.toByteArray
    }
    val baseFrames: Array[Array[Byte]] =
      (0 until NeardupVideoFrames).toArray.map(f => encode(framePixels(f), "jpg"))
    val frames: Array[Array[Byte]] = variant match {
      case 2 => baseFrames.map { jb =>
        // decode the JPEG bytes and re-encode losslessly — the
        // fingerprint must survive because the PIXELS are identical
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jb))
        encode(img, "png")
      }
      case _ => baseFrames
    }
    val remux = variant == 1
    def le32(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def cc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val pad = if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
      cc(id) ++ le32(body.length) ++ body ++ pad
    }
    def list(listType: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", cc(listType) ++ body)
    val nFrames = frames.length
    val avih = le32(if (remux) 33333 else 40000) ++ le32(0) ++ le32(0) ++
      le32(0) ++ le32(nFrames) ++ le32(0) ++ le32(1) ++ le32(0) ++
      le32(w) ++ le32(h) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val strh = cc("vids") ++ cc("MJPG") ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(1) ++ le32(if (remux) 30 else 25) ++ le32(0) ++ le32(nFrames) ++
      le32(0) ++ le32(-1) ++ le32(0) ++ le32(0) ++ le32(0)
    val strf = le32(40) ++ le32(w) ++ le32(h) ++
      Array(1.toByte, 0.toByte, 24.toByte, 0.toByte) ++ cc("MJPG") ++
      le32(w * h * 3) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val junk = if (remux) chunk("JUNK", new Array[Byte](64)) else Array.empty[Byte]
    val hdrl = list("hdrl", chunk("avih", avih) ++ junk ++
      list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val frameCc = if (remux) "00db" else "00dc"
    val movi = list("movi", frames.flatMap(fb => chunk(frameCc, fb)))
    val idx = if (remux) chunk("idx1", frames.indices.toArray.flatMap(i =>
      cc(frameCc) ++ le32(16) ++ le32(4 + i) ++ le32(0))) else Array.empty[Byte]
    val riffBody = cc("AVI ") ++ hdrl ++ movi ++ idx
    val bb = new java.io.ByteArrayOutputStream()
    bb.write(cc("RIFF")); bb.write(le32(riffBody.length)); bb.write(riffBody)
    bb.toByteArray
  }

  /** (id, dhash) for every decodable video — the video member of the
   * `imageDHashes` / `audioEnvelopeHashes` family, same output column
   * so `Dedup.hammingPairs64` pairs any modality. */
  def videoFingerprints(videos: DataFrame, idCol: String = "id",
                        payloadCol: String = "payload",
                        frameStep: Int = 1): DataFrame =
    decodePayloads(videos, idCol, payloadCol, "id", "dhash")(_.flatMap {
      case (id, payload) =>
        videoFingerprint(payload, frameStep).map(hsh => (id, hsh))
    })

  /**
   * Batched decode path: groups each partition's rows into `batchSize`
   * slices and runs the decoder once per batch (the shape a real codec /
   * model-inference integration needs). Returns a typed Dataset.
   */
  def decodeBatched(media: DataFrame,
                    batchSize: Int = 64): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    val ds = media.select(col("doc_id"), col("modality"), col("payload"),
      col("meta.width").as("width"), col("meta.height").as("height"),
      col("meta.format").as("format")).as[MediaRow]
    ds.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        // One codec/digest init per BATCH (the point of batching); rows
        // reuse it via reset.
        val md = java.security.MessageDigest.getInstance("MD5")
        batch.map { r =>
          md.reset()
          val hash = md.digest(r.payload).map("%02x".format(_)).mkString
          // images (javax.imageio) and WAV audio (javax.sound.sampled)
          // decode for real; declared metadata is replaced by DECODED
          // values (dims / channels+rate+frames — see MediaFeatures doc).
          // Video and undecodable payloads fall back to the stub +
          // declared metadata.
          val decoded: Option[(Int, Int, Long, Double)] = r.modality match {
            case "image" =>
              decodeImage(r.payload).map { case (w, h, b) =>
                (w, h, w.toLong * h.toLong, b)
              }
            case "audio" =>
              decodeWav(r.payload).map { case (ch, rate, frames, amp) =>
                (ch, rate, frames, amp)
              }
            case "video" =>
              // MJPEG-in-AVI decodes for real (per-frame javax.imageio);
              // other containers fall through to the stub
              decodeAvi(r.payload).map { case (w, h, frames, b) =>
                (w, h, frames, b)
              }
            case _ => None
          }
          decoded match {
            case Some((w, h, units, brightness)) =>
              MediaFeatures(r.doc_id, r.modality, r.payload.length.toLong,
                w, h, units, hash, brightness)
            case None =>
              MediaFeatures(r.doc_id, r.modality, r.payload.length.toLong,
                r.width, r.height, r.width.toLong * r.height.toLong,
                hash, decodeStub(r.payload))
          }
        }
      }
    }
  }
}
