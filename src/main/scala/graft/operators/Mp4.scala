package graft.operators

import org.apache.spark.sql.DataFrame

/**
 * MP4 / ISO-BMFF container metadata — the one multimodal format whose
 * FRAME decode is documented out (no pure-JDK inter-frame codec;
 * `Multimodal.scala`), but whose CONTAINER is pure structure: a box
 * tree of [size:4][fourcc:4][payload], big-endian, that a pipeline can
 * walk to get everything short of pixels — duration, track layout,
 * codecs, sample counts. That metadata is what video-corpus curation
 * actually filters on first (clip length, has-audio, codec allowlist)
 * before any expensive decode, so the container walk is the missing
 * front half of the video family. Hand-rolled in the WARC/WAV/AVI/PDF
 * reader style.
 *
 * Subset (ISO 14496-12, version-0 AND version-1 full boxes):
 *   - top-level walk: ftyp / moov / mdat / free recognized, unknown
 *     boxes skipped by size; `largesize` (size==1 + 64-bit field)
 *     boxes walked; a box whose size runs past its parent ends the
 *     walk (truncated capture — parse what preceded it);
 *   - moov → mvhd (movie timescale + duration) and trak* → tkhd
 *     (track id) + mdia → mdhd (media timescale + duration), hdlr
 *     (handler fourcc), minf → stbl → stsd (first sample-entry codec
 *     fourcc) + stsz (sample count);
 *   - version-1 (64-bit) mvhd/tkhd/mdhd and co64 chunk offsets parse
 *     exactly (the >4 GB capture shape — p148); edit lists and
 *     fragmented mp4 (moof) remain out of subset — fields parse as
 *     absent, never wrong.
 *
 * Output: one row PER TRACK — (id, major_brand, movie_duration_ms,
 * n_tracks, track_id, handler, codec, n_samples, duration_ms), with
 * durations as exact integral div(duration * 1000, timescale).
 *
 * Scale shape: parsing is batched per-row CPU inside `mapPartitions`
 * (the contract case — binary decode), zero shuffle, zero driver
 * work; payloads never leave the scan that read them.
 */
object Mp4 {

  final case class Track(trackId: Long, handler: String, codec: String,
                         nSamples: Long, durationMs: Long)
  final case class Movie(majorBrand: String, durationMs: Long,
                         tracks: Seq[Track])

  private def be32(b: Array[Byte], at: Int): Long =
    if (at + 4 > b.length) -1L
    else ((b(at) & 0xffL) << 24) | ((b(at + 1) & 0xffL) << 16) |
      ((b(at + 2) & 0xffL) << 8) | (b(at + 3) & 0xffL)

  private def be64(b: Array[Byte], at: Int): Long =
    if (at + 8 > b.length) -1L
    else (be32(b, at) << 32) | be32(b, at + 4)

  private def fourcc(b: Array[Byte], at: Int): String =
    if (at + 4 > b.length) ""
    else new String(b, at, 4, java.nio.charset.StandardCharsets.ISO_8859_1)

  /** Walk the children of [from, until): invoke f(type, payloadFrom,
   * payloadUntil) per well-formed box; stop at the first box whose
   * declared size is absurd or overruns the parent. */
  private def walk(b: Array[Byte], from: Int, until: Int)
                  (f: (String, Int, Int) => Unit): Unit = {
    var at = from
    while (at + 8 <= until) {
      val size32 = be32(b, at)
      val typ = fourcc(b, at + 4)
      // 64-bit boxes (ISO 14496-12 §4.2): size==1 means an 8-byte
      // largesize follows the fourcc (what >4 GB mdats carry);
      // size==0 means "to the end of the enclosing container"
      val (size, hdr) =
        if (size32 == 1L && at + 16 <= until) (be64(b, at + 8), 16)
        else if (size32 == 0L) ((until - at).toLong, 8)
        else (size32, 8)
      if (size < hdr || at + size > until) return // truncated/corrupt: stop
      f(typ, at + hdr, at + size.toInt)
      at += size.toInt
    }
  }

  /** Version byte of a full box, or -1 when the payload is EMPTY (a
   * size==0 box at end-of-container yields p == until — reading
   * bytes(p) there would throw out of the task). */
  private def verAt(b: Array[Byte], p: Int): Int =
    if (p >= 0 && p < b.length) b(p) & 0xff else -1

  private def divMs(duration: Long, timescale: Long): Long =
    if (timescale <= 0) 0L else duration * 1000L / timescale

  /** Parse one MP4 byte array (see object doc for the subset). */
  def parse(bytes: Array[Byte]): Movie = {
    var brand = ""
    var movieMs = 0L
    val tracks = scala.collection.mutable.ArrayBuffer.empty[Track]
    walk(bytes, 0, bytes.length) {
      case ("ftyp", p, _) => brand = fourcc(bytes, p)
      case ("moov", moovP, moovU) =>
        walk(bytes, moovP, moovU) {
          case ("mvhd", p, _) if verAt(bytes, p) == 0 =>
            movieMs = divMs(be32(bytes, p + 16), be32(bytes, p + 12))
          case ("mvhd", p, _) if verAt(bytes, p) == 1 => // 64-bit times (r17)
            movieMs = divMs(be64(bytes, p + 24), be32(bytes, p + 20))
          case ("trak", trakP, trakU) =>
            var trackId = 0L
            var handler = ""
            var codec = ""
            var nSamples = 0L
            var trackMs = 0L
            walk(bytes, trakP, trakU) {
              case ("tkhd", p, _) if verAt(bytes, p) == 0 =>
                trackId = be32(bytes, p + 12)
              case ("tkhd", p, _) if verAt(bytes, p) == 1 =>
                trackId = be32(bytes, p + 20)
              case ("mdia", mdiaP, mdiaU) =>
                walk(bytes, mdiaP, mdiaU) {
                  case ("mdhd", p, _) if verAt(bytes, p) == 0 =>
                    trackMs = divMs(be32(bytes, p + 16), be32(bytes, p + 12))
                  case ("mdhd", p, _) if verAt(bytes, p) == 1 =>
                    trackMs = divMs(be64(bytes, p + 24), be32(bytes, p + 20))
                  case ("hdlr", p, _) =>
                    handler = fourcc(bytes, p + 8)
                  case ("minf", minfP, minfU) =>
                    walk(bytes, minfP, minfU) {
                      case ("stbl", stblP, stblU) =>
                        walk(bytes, stblP, stblU) {
                          case ("stsd", p, u) =>
                            if (be32(bytes, p + 4) >= 1 && p + 16 <= u)
                              codec = fourcc(bytes, p + 12)
                          case ("stsz", p, _) =>
                            nSamples = be32(bytes, p + 8)
                          case _ =>
                        }
                      case _ =>
                    }
                  case _ =>
                }
              case _ =>
            }
            tracks += Track(trackId, handler, codec, nSamples, trackMs)
          case _ =>
        }
      case _ =>
    }
    Movie(brand, movieMs, tracks.toSeq)
  }

  /**
   * Container metadata of a frame of MP4 payloads: one `mapPartitions`
   * pass, one output row per TRACK (videos with no parsable moov yield
   * one row with null track fields, so corrupt captures stay visible).
   */
  def containerMeta(videos: DataFrame, idCol: String = "id",
                    payloadCol: String = "payload"): DataFrame =
    Multimodal.decodePayloads(videos, idCol, payloadCol, "id", "major_brand",
      "movie_duration_ms", "n_tracks", "track_id", "handler", "codec",
      "n_samples", "duration_ms")(_.flatMap { case (id, b) =>
      val m = parse(b)
      if (m.tracks.isEmpty)
        Seq((id, m.majorBrand, m.durationMs, 0L,
          null.asInstanceOf[java.lang.Long], null.asInstanceOf[String],
          null.asInstanceOf[String], null.asInstanceOf[java.lang.Long],
          null.asInstanceOf[java.lang.Long]))
      else m.tracks.map(t => (id, m.majorBrand, m.durationMs,
        m.tracks.size.toLong, java.lang.Long.valueOf(t.trackId),
        t.handler, t.codec, java.lang.Long.valueOf(t.nSamples),
        java.lang.Long.valueOf(t.durationMs)))
    })

  // --------------------------------------- keyframe bytes (P142, r17)

  /**
   * Byte extents of the first VIDEO track's sync samples (keyframes),
   * resolved purely from the sample tables — stss (sync sample
   * numbers), stsc (sample→chunk), stco (chunk offsets), stsz (sample
   * sizes) — with NO codec: the ISO-BMFF container tells you exactly
   * which file bytes are each keyframe, which is all a near-dup
   * fingerprint needs (identical content re-muxed into a different
   * chunk layout moves the bytes but never changes them). One ordered
   * pass over chunks and samples, bounded by the payload: the declared
   * sample count is cut to the samples the bytes can hold (length /
   * default size, or the size table's length). Absent stss means every
   * sample is sync (the spec default); `maxKeyframes` bounds the walk
   * deterministically (first K in sample order). co64 (64-bit chunk
   * offsets) is consumed alongside stco (r17); negative or
   * out-of-file extents are skipped, never emitted.
   */
  def syncSampleRanges(bytes: Array[Byte],
                       maxKeyframes: Int = 64): Seq[(Long, Long)] = {
    var stss: Array[Long] = null
    var stsc: Array[(Long, Long)] = Array.empty // (first_chunk, per_chunk)
    var stco: Array[Long] = Array.empty
    var sizes: Array[Long] = Array.empty
    var defaultSize = 0L
    var nSamples = 0L
    var found = false
    def table(p: Int, u: Int, width: Int): Array[Long] = {
      // allocation CLAMPED to the box extent: the count field is
      // untrusted 32-bit input, and a corrupt 16-byte box declaring
      // 0x7FFFFFFF entries must not allocate 17 GB (OutOfMemoryError
      // kills the executor) before the bounded read loop ever runs
      val n = be32(bytes, p + 4)
      val cap = ((u - p - 8) / width).max(0).toLong
      val out = new Array[Long](math.min(n.max(0), cap).toInt)
      var i = 0
      while (i < out.length) {
        out(i) = be32(bytes, p + 8 + i * width)
        i += 1
      }
      out
    }
    walk(bytes, 0, bytes.length) {
      case ("moov", moovP, moovU) =>
        walk(bytes, moovP, moovU) {
          case ("trak", trakP, trakU) if !found =>
            var isVideo = false
            var tStss: Array[Long] = null
            var tStsc = Array.empty[(Long, Long)]
            var tStco = Array.empty[Long]
            var tSizes = Array.empty[Long]
            var tDef = 0L
            var tN = 0L
            walk(bytes, trakP, trakU) {
              case ("mdia", mdiaP, mdiaU) =>
                walk(bytes, mdiaP, mdiaU) {
                  case ("hdlr", p, _) =>
                    isVideo = fourcc(bytes, p + 8) == "vide"
                  case ("minf", minfP, minfU) =>
                    walk(bytes, minfP, minfU) {
                      case ("stbl", stblP, stblU) =>
                        walk(bytes, stblP, stblU) {
                          case ("stss", p, u) => tStss = table(p, u, 4)
                          case ("stsc", p, u) =>
                            val n = be32(bytes, p + 4).toInt max 0
                            val b = Array.newBuilder[(Long, Long)]
                            var i = 0
                            while (i < n && p + 8 + (i + 1) * 12 <= u) {
                              b += ((be32(bytes, p + 8 + i * 12),
                                be32(bytes, p + 12 + i * 12)))
                              i += 1
                            }
                            tStsc = b.result()
                          case ("stco", p, u) => tStco = table(p, u, 4)
                          case ("co64", p, u) => // 64-bit chunk offsets
                            val n = be32(bytes, p + 4)
                            val cap = ((u - p - 8) / 8).max(0).toLong
                            val m = math.min(n.max(0), cap).toInt
                            val b64 = new Array[Long](m)
                            var i = 0
                            while (i < m) {
                              b64(i) = be64(bytes, p + 8 + i * 8)
                              i += 1
                            }
                            tStco = b64
                          case ("stsz", p, u) =>
                            tDef = be32(bytes, p + 4)
                            tN = be32(bytes, p + 8)
                            if (tDef == 0L) {
                              // same extent clamp as table()
                              val cap = ((u - p - 12) / 4).max(0).toLong
                              val m = math.min(tN.max(0), cap).toInt
                              val b = new Array[Long](m)
                              var i = 0
                              while (i < m) {
                                b(i) = be32(bytes, p + 12 + i * 4)
                                i += 1
                              }
                              tSizes = b
                            }
                          case _ =>
                        }
                      case _ =>
                    }
                  case _ =>
                }
              case _ =>
            }
            if (isVideo) {
              found = true
              stss = tStss; stsc = tStsc; stco = tStco
              sizes = tSizes; defaultSize = tDef; nSamples = tN
            }
          case _ =>
        }
      case _ =>
    }
    // the stsz count is untrusted 32-bit input too: bound the walk by
    // the samples the payload can hold, so work stays O(payload bytes)
    val n =
      if (defaultSize > 0) math.min(nSamples, bytes.length / defaultSize)
      else math.min(nSamples, sizes.length.toLong)
    if (!found || stco.isEmpty || n <= 0) return Seq.empty
    val sync: Long => Boolean =
      if (stss == null) _ => true else stss.toSet.contains
    def sizeOf(sample1: Long): Long =
      if (defaultSize > 0) defaultSize
      else if (sample1 - 1 < sizes.length) sizes((sample1 - 1).toInt)
      else 0L
    // walk chunks in order, resolving samples_per_chunk from the last
    // stsc entry whose first_chunk <= this chunk (the spec's run-length
    // encoding), and emit (offset, size) for sync samples
    val out = Seq.newBuilder[(Long, Long)]
    var emitted = 0
    var sample = 1L
    var chunk = 1L
    var stscIdx = 0
    while (chunk <= stco.length && sample <= n && emitted < maxKeyframes) {
      while (stscIdx + 1 < stsc.length && stsc(stscIdx + 1)._1 <= chunk)
        stscIdx += 1
      val perChunk = if (stsc.isEmpty) n else stsc(stscIdx)._2
      var off = stco((chunk - 1).toInt)
      var k = 0L
      while (k < perChunk && sample <= n && emitted < maxKeyframes) {
        val sz = sizeOf(sample)
        // off >= 0: stco's be32 can never go negative but co64's be64
        // can (a crafted high bit) — emitting it would index the array
        // negatively downstream and throw out of the task
        if (sync(sample) && sz > 0 && off >= 0 &&
          off + sz <= bytes.length) {
          out += ((off, sz))
          emitted += 1
        }
        off += sz
        sample += 1
        k += 1
      }
      chunk += 1
    }
    out.result()
  }

  /**
   * 64-bit keyframe fingerprint per video: md5-prefix hash of each
   * sync sample's BYTES, strict-majority-folded
   * (`Multimodal.majorityFold64` — same fold as the decoded-frame
   * video path p77). Invariant to re-muxing (chunk layout, box order,
   * interleaving, padding boxes — offsets move, sample bytes don't);
   * NO decoder, so it covers the inter-frame codecs (avc1/hev1) the
   * decode triad documents out. Rows with no resolvable keyframes are
   * dropped (no fingerprint beats a fake one). One mapPartitions pass.
   */
  def keyframeFingerprints(videos: DataFrame, idCol: String = "id",
                           payloadCol: String = "payload"): DataFrame =
    Multimodal.decodePayloads(videos, idCol, payloadCol, "id", "dhash") { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.flatMap { case (id, b) =>
        val hs = syncSampleRanges(b).map { case (off, sz) =>
          md.reset()
          md.update(b, off.toInt, sz.toInt)
          val d = md.digest()
          ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
            ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
            ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
            ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
        }
        if (hs.isEmpty) None
        else Some((id, Multimodal.majorityFold64(hs.toArray)))
      }
    }

  // ------------------------------------------------------------ fixture

  private def be(v: Long): Array[Byte] = Array(
    ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
    ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  private def be8(v: Long): Array[Byte] =
    be(v >>> 32) ++ be(v & 0xffffffffL)

  private def cc(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)

  private def box(typ: String, payload: Array[Byte]*): Array[Byte] = {
    val body = payload.flatten.toArray
    be(8L + body.length) ++ cc(typ) ++ body
  }

  private def full0(typ: String, payload: Array[Byte]*): Array[Byte] =
    box(typ, (Array[Byte](0, 0, 0, 0) +: payload): _*)

  /** Deterministic version-0 MP4: ftyp(isom) + moov(mvhd timescale 600
   * + one 25fps video track, plus an audio track on odd ids) + mdat.
   * Track t: n samples, media timescale 1000, duration n*40 ms; movie
   * duration = max track duration re-expressed in timescale 600. */
  def fixtureMp4(docId: Long): Array[Byte] = {
    val nVideo = docId % 50 + 10
    val hasAudio = docId % 2 == 1
    val nAudio = docId % 30 + 5
    val movieDur600 = math.max(nVideo, if (hasAudio) nAudio else 0L) * 24
    def trak(trackId: Long, handler: String, codec: String,
             n: Long): Array[Byte] = {
      val sampleEntry = box(codec, be(0), be(0), be(0), be(0))
      val stbl = box("stbl",
        full0("stsd", be(1), sampleEntry),
        full0("stsz", be(0), be(n), Array.fill(n.toInt * 4)(1: Byte)),
        full0("stco", be(0)))
      val minf = box("minf", stbl)
      val mdhd = full0("mdhd", be(0), be(0), be(1000), be(n * 40))
      val hdlr = full0("hdlr", be(0), cc(handler), be(0), be(0), be(0))
      val mdia = box("mdia", mdhd, hdlr, minf)
      val tkhd = full0("tkhd", be(0), be(0), be(trackId), be(0),
        be(n * 40 * 600 / 1000))
      box("trak", tkhd, mdia)
    }
    val traks = Seq(trak(1, "vide", "avc1", nVideo)) ++
      (if (hasAudio) Seq(trak(2, "soun", "mp4a", nAudio)) else Nil)
    val mvhd = full0("mvhd", be(0), be(0), be(600), be(movieDur600))
    val moov = box("moov", (mvhd +: traks): _*)
    val ftyp = box("ftyp", cc("isom"), be(0x200), cc("isom"), cc("mp41"))
    val mdat = box("mdat", Array.fill(16)(0x42: Byte))
    ftyp ++ moov ++ mdat
  }

  /** 64-bit twin of [[fixtureMp4]] (the >4 GB capture shape): SAME
   * metadata formula but version-1 mvhd/tkhd/mdhd (64-bit times),
   * co64 chunk-offset boxes, and an mdat carried as a size==1
   * LARGESIZE box — so v0 and v1 parses must agree row-for-row. */
  def fixtureMp4V1(docId: Long): Array[Byte] = {
    val nVideo = docId % 50 + 10
    val hasAudio = docId % 2 == 1
    val nAudio = docId % 30 + 5
    val movieDur600 = math.max(nVideo, if (hasAudio) nAudio else 0L) * 24
    def full1(typ: String, payload: Array[Byte]*): Array[Byte] =
      box(typ, (Array[Byte](1, 0, 0, 0) +: payload): _*)
    def trak(trackId: Long, handler: String, codec: String,
             n: Long): Array[Byte] = {
      val sampleEntry = box(codec, be(0), be(0), be(0), be(0))
      val stbl = box("stbl",
        full0("stsd", be(1), sampleEntry),
        full0("stsz", be(0), be(n), Array.fill(n.toInt * 4)(1: Byte)),
        full0("co64", be(0)))
      val minf = box("minf", stbl)
      val mdhd = full1("mdhd", be8(0), be8(0), be(1000), be8(n * 40))
      val hdlr = full0("hdlr", be(0), cc(handler), be(0), be(0), be(0))
      val mdia = box("mdia", mdhd, hdlr, minf)
      val tkhd = full1("tkhd", be8(0), be8(0), be(trackId), be(0),
        be8(n * 40 * 600 / 1000))
      box("trak", tkhd, mdia)
    }
    val traks = Seq(trak(1, "vide", "avc1", nVideo)) ++
      (if (hasAudio) Seq(trak(2, "soun", "mp4a", nAudio)) else Nil)
    val mvhd = full1("mvhd", be8(0), be8(0), be(600), be8(movieDur600))
    val moov = box("moov", (mvhd +: traks): _*)
    val ftyp = box("ftyp", cc("isom"), be(0x200), cc("isom"), cc("mp41"))
    val mdatPayload = Array.fill(16)(0x42: Byte)
    val mdat = be(1) ++ cc("mdat") ++ be8(16L + mdatPayload.length) ++
      mdatPayload
    ftyp ++ moov ++ mdat
  }

  // ------------------------------------ re-muxed near-dup fixture (P142)

  /** Deterministic variable-size sample payload for (doc, sample):
   * 16–47 md5-seeded bytes, independent across docs and samples. */
  private def sampleBytes(docId: Long, idx: Int): Array[Byte] = {
    val seed = java.security.MessageDigest.getInstance("MD5")
      .digest(s"mp4-sample-$docId-$idx"
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    val n = 16 + (seed(0) & 0x1f)
    Array.tabulate(n)(i => seed(i % 16))
  }

  /**
   * Near-duplicate MP4 fixture: 9 variable-size avc1 samples (sync
   * samples 1/4/7 — an inter-frame codec's keyframe cadence), whose
   * BYTES depend only on docId. The three variants of one doc are
   * byte-DIFFERENT muxes of the SAME samples, so keyframe fingerprints
   * are identical by construction while distinct docs share nothing:
   *   0 — one chunk of 9, stbl order stsd/stsz/stsc/stco/stss;
   *   1 — a `free` box shifting every offset, a LEADING audio trak
   *       (the resolver must pick the first VIDEO track), chunks of
   *       5+4, stbl order stsd/stss/stsc/stsz/stco;
   *   2 — chunk-per-sample with chunks stored in REVERSE file order
   *       (stco points wherever the bytes are — the container's whole
   *       point), a trailing `free`, stbl order stsd/stsc/stco/stsz/stss.
   */
  def neardupMp4(docId: Long, variant: Int): Array[Byte] = {
    val nS = 9
    val samples = Array.tabulate(nS)(i => sampleBytes(docId, i))
    val stssArr = Array(1L, 4L, 7L)
    val chunks: Seq[Seq[Int]] = variant match {
      case 1 => Seq(0 until 5, 5 until 9).map(_.toSeq)
      case 2 => (0 until nS).map(Seq(_))
      case _ => Seq((0 until nS).toSeq) // 0, and 3 (co64 + largesize)
    }
    // storage order of chunks within mdat (v2: reversed)
    val storage = if (variant == 2) chunks.indices.reverse else chunks.indices
    val mdatPayload = storage.flatMap(ci => chunks(ci).flatMap(samples(_))).toArray
    // stsc entries from the chunk layout (run-length over equal counts)
    val stscEntries = chunks.zipWithIndex.foldLeft(
      Seq.empty[(Long, Long)]) { case (acc, (chk, i)) =>
      if (acc.nonEmpty && acc.last._2 == chk.length.toLong) acc
      else acc :+ ((i + 1L, chk.length.toLong))
    }
    def buildMoov(chunkOffsets: Seq[Long]): Array[Byte] = {
      val stsd = full0("stsd", be(1), box("avc1", be(0), be(0), be(0), be(0)))
      val stsz = full0("stsz", be(0), be(nS),
        samples.flatMap(s => be(s.length)))
      val stsc = full0("stsc", be(stscEntries.length),
        stscEntries.flatMap { case (f, n) => be(f) ++ be(n) ++ be(1) }.toArray)
      val stcoB =
        if (variant == 3)
          full0("co64", be(chunkOffsets.length),
            chunkOffsets.flatMap(be8).toArray)
        else
          full0("stco", be(chunkOffsets.length),
            chunkOffsets.flatMap(be).toArray)
      val stss = full0("stss", be(stssArr.length), stssArr.flatMap(be))
      val stblBoxes = variant match {
        case 1 => Seq(stsd, stss, stsc, stsz, stcoB)
        case 2 => Seq(stsd, stsc, stcoB, stsz, stss)
        case 3 => Seq(stsd, stss, stsz, stsc, stcoB)
        case _ => Seq(stsd, stsz, stsc, stcoB, stss)
      }
      def trakOf(trackId: Long, handler: String,
                 stbl: Array[Byte]): Array[Byte] = {
        val minf = box("minf", stbl)
        val mdhd = full0("mdhd", be(0), be(0), be(1000), be(nS * 40L))
        val hdlr = full0("hdlr", be(0), cc(handler), be(0), be(0), be(0))
        val mdia = box("mdia", mdhd, hdlr, minf)
        val tkhd = full0("tkhd", be(0), be(0), be(trackId), be(0),
          be(nS * 40L * 600 / 1000))
        box("trak", tkhd, mdia)
      }
      val videoTrak = trakOf(1, "vide", box("stbl", stblBoxes: _*))
      val audioTrak = trakOf(2, "soun", box("stbl",
        full0("stsd", be(1), box("mp4a", be(0), be(0), be(0), be(0))),
        full0("stsz", be(0), be(0)), full0("stco", be(0))))
      val traks =
        if (variant == 1) Seq(audioTrak, videoTrak) else Seq(videoTrak)
      val mvhd = full0("mvhd", be(0), be(0), be(600), be(nS * 24L))
      box("moov", (mvhd +: traks): _*)
    }
    val ftyp = box("ftyp", cc("isom"), be(0x200), cc("isom"), cc("mp41"))
    val free = full0("free", Array.fill(20)(0x46: Byte))
    val prefix = variant match {
      case 1 => ftyp ++ free
      case _ => ftyp
    }
    // two-pass: moov size is offset-independent (stco entry count is
    // fixed), so measure with zeros, then fill the real offsets.
    // variant 3 carries the mdat as a size==1 LARGESIZE box: 16-byte
    // header instead of 8
    val moovLen = buildMoov(chunks.map(_ => 0L)).length
    val mdatHdr = if (variant == 3) 16L else 8L
    val mdatStart = prefix.length + moovLen + mdatHdr
    // chunk offset = mdat payload start + position in STORAGE order
    val posInStorage = {
      var off = mdatStart
      val m = scala.collection.mutable.Map.empty[Int, Long]
      storage.foreach { ci =>
        m(ci) = off
        off += chunks(ci).map(samples(_).length).sum
      }
      m
    }
    val moov = buildMoov(chunks.indices.map(posInStorage(_)))
    val mdat =
      if (variant == 3)
        be(1) ++ cc("mdat") ++ be8(16L + mdatPayload.length) ++ mdatPayload
      else box("mdat", mdatPayload)
    val tail = if (variant == 2) full0("free", Array.fill(12)(0: Byte))
    else Array.empty[Byte]
    prefix ++ moov ++ mdat ++ tail
  }
}
