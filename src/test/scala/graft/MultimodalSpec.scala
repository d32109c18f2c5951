package graft

import graft.operators.{Dedup, Multimodal}
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "hello world", "en", "src0", 11L),
    (1L, "bonjour", "fr", "src1", 7L),
    (2L, "hola mundo amigos", "es", "src2", 17L)
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  test("schema: payload is binary, meta is a typed struct") {
    val m = Multimodal.fromDocuments(docs)
    val f = m.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    assert(f("payload") == "binary")
    assert(f("meta").startsWith("struct<width:int,height:int,format:string"))
  }

  test("expression features match the batched mapPartitions decode path") {
    val m = Multimodal.fromDocuments(docs)
    val expr = Multimodal.features(m)
      .select("doc_id", "byte_len", "n_pixels", "payload_hash")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    val batched = Multimodal.decodeBatched(m, batchSize = 2)
      .collect().map(f => (f.doc_id, (f.byte_len, f.n_pixels, f.payload_hash)))
      .toMap
    assert(expr == batched)
  }

  test("batched decode computes the stub brightness deterministically") {
    val m = Multimodal.fromDocuments(docs)
    val res = Multimodal.decodeBatched(m, batchSize = 1)
      .collect().map(f => f.doc_id -> f.brightness).toMap
    val expected = "hello world".getBytes("UTF-8")
    assert(res(0L) == expected.map(_ & 0xff).sum.toDouble / expected.length)
  }

  test("real PNG decode: exact pixel stats from generated images; non-images keep the stub") {
    // Deterministic generated PNGs: decode must recover the EXACT
    // dimensions and mean brightness of the generating pixel function.
    def expectedBrightness(w: Int, h: Int, seed: Int): Double = {
      var sum = 0.0
      for (y <- 0 until h; x <- 0 until w) {
        val r = (x * 31 + y * 17 + seed) % 256
        val g = (x * 7 + y * 13 + seed * 3) % 256
        val b = (x ^ y) % 256
        sum += (r + g + b) / 3.0
      }
      sum / (w.toLong * h.toLong)
    }
    val rows = Seq(
      (0L, "image", Multimodal.generatePng(8, 5, 1), 99, 99, "png"),
      (1L, "image", Multimodal.generatePng(16, 16, 7), 99, 99, "png"),
      (2L, "audio", "not an image".getBytes("UTF-8"), 3, 4, "wav"))
      .toDF("doc_id", "modality", "payload", "width", "height", "format")
      .select(col("doc_id"), col("modality"), col("payload"),
        struct(col("width"), col("height"), col("format")).as("meta"))
    val out = Multimodal.decodeBatched(rows, batchSize = 2)
      .collect().map(f => f.doc_id -> f).toMap
    // decoded dims override the (wrong) declared metadata dims
    assert(out(0L).width == 8 && out(0L).height == 5 && out(0L).n_pixels == 40L)
    assert(out(0L).brightness == expectedBrightness(8, 5, 1))
    assert(out(1L).width == 16 && out(1L).height == 16)
    assert(out(1L).brightness == expectedBrightness(16, 16, 7))
    // the non-image row still goes through the stub + declared metadata
    val audioBytes = "not an image".getBytes("UTF-8")
    assert(out(2L).width == 3 && out(2L).n_pixels == 12L)
    assert(out(2L).brightness == audioBytes.map(_ & 0xff).sum.toDouble / audioBytes.length)
    // round-trip: generation is deterministic
    assert(Multimodal.generatePng(8, 5, 1).toSeq == Multimodal.generatePng(8, 5, 1).toSeq)
  }

  test("real WAV decode: exact sample stats from generated audio; video keeps the stub") {
    // Deterministic generated WAVs: decode must recover the exact channel
    // count, sample rate, frame count, and the mean |amplitude| of the
    // generating sample function (computed here independently of the codec).
    def expectedAmp(n: Int, seed: Int): Double =
      (0 until n).map(i => math.abs(Multimodal.wavSample(i, seed).toInt) / 32768.0)
        .sum / n
    val rows = Seq(
      (0L, "audio", Multimodal.generateWav(400, 8000, 1), 99, 99, "wav"),
      (1L, "audio", Multimodal.generateWav(1000, 16000, 7), 99, 99, "wav"),
      (2L, "video", "definitely not a wav".getBytes("UTF-8"), 3, 4, "mp4"))
      .toDF("doc_id", "modality", "payload", "width", "height", "format")
      .select(col("doc_id"), col("modality"), col("payload"),
        struct(col("width"), col("height"), col("format")).as("meta"))
    val out = Multimodal.decodeBatched(rows, batchSize = 2)
      .collect().map(f => f.doc_id -> f).toMap
    // decoded channels/rate/frames override the (wrong) declared metadata
    assert(out(0L).width == 1 && out(0L).height == 8000 && out(0L).n_pixels == 400L)
    assert(math.abs(out(0L).brightness - expectedAmp(400, 1)) < 1e-12)
    assert(out(1L).height == 16000 && out(1L).n_pixels == 1000L)
    assert(math.abs(out(1L).brightness - expectedAmp(1000, 7)) < 1e-12)
    // the video row still goes through the stub + declared metadata
    val vidBytes = "definitely not a wav".getBytes("UTF-8")
    assert(out(2L).width == 3 && out(2L).n_pixels == 12L)
    assert(out(2L).brightness == vidBytes.map(_ & 0xff).sum.toDouble / vidBytes.length)
    // generation is deterministic, and decodeWav round-trips it directly
    assert(Multimodal.generateWav(64, 8000, 3).toSeq ==
      Multimodal.generateWav(64, 8000, 3).toSeq)
    val direct = Multimodal.decodeWav(Multimodal.generateWav(64, 8000, 3))
    assert(direct.exists { case (ch, rate, frames, _) =>
      ch == 1 && rate == 8000 && frames == 64L })
    // non-WAV bytes are rejected, not mis-decoded
    assert(Multimodal.decodeWav("audio but not wav".getBytes("UTF-8")).isEmpty)
  }

  test("real MJPEG-AVI decode: exact dims/frames, brightness within JPEG tolerance") {
    // Per-frame mean brightness of the generating pixel function,
    // averaged over frames — JPEG is lossy so the decoded value gets a
    // tolerance, but dims and frame count must be exact (they come from
    // the container walk + real per-frame decodes).
    def expectedBrightness(w: Int, h: Int, nf: Int, seed: Int): Double = {
      var total = 0.0
      for (f <- 0 until nf) {
        var sum = 0.0
        for (y <- 0 until h; x <- 0 until w) {
          val r = (x * 31 + y * 17 + seed + f) % 256
          val g = (x * 7 + y * 13 + (seed + f) * 3) % 256
          val b = (x ^ y) % 256
          sum += (r + g + b) / 3.0
        }
        total += sum / (w * h)
      }
      total / nf
    }
    val rows = Seq(
      (0L, "video", Multimodal.generateAvi(32, 24, 3, seed = 5), 9, 9, "avi"),
      (1L, "video", Multimodal.generateAvi(16, 16, 5, seed = 11), 9, 9, "avi"),
      (2L, "video", "mp4 needs a native codec".getBytes("UTF-8"), 3, 4, "mp4"))
      .toDF("doc_id", "modality", "payload", "width", "height", "format")
      .select(col("doc_id"), col("modality"), col("payload"),
        struct(col("width"), col("height"), col("format")).as("meta"))
    val out = Multimodal.decodeBatched(rows, batchSize = 2)
      .collect().map(f => f.doc_id -> f).toMap
    // decoded dims + frame count override the (wrong) declared metadata
    assert(out(0L).width == 32 && out(0L).height == 24 && out(0L).n_pixels == 3L)
    assert(math.abs(out(0L).brightness - expectedBrightness(32, 24, 3, 5)) < 3.0)
    assert(out(1L).width == 16 && out(1L).height == 16 && out(1L).n_pixels == 5L)
    assert(math.abs(out(1L).brightness - expectedBrightness(16, 16, 5, 11)) < 3.0)
    // non-AVI video still goes through the stub + declared metadata
    val mp4Bytes = "mp4 needs a native codec".getBytes("UTF-8")
    assert(out(2L).width == 3 && out(2L).n_pixels == 12L)
    assert(out(2L).brightness == mp4Bytes.map(_ & 0xff).sum.toDouble / mp4Bytes.length)
    // frame sampling: every 2nd frame decoded, metadata still all frames
    val sampled = Multimodal.decodeAvi(Multimodal.generateAvi(16, 16, 5, 11),
      frameStep = 2)
    assert(sampled.exists { case (w, h, nf, b) =>
      w == 16 && h == 16 && nf == 5L &&
        math.abs(b - expectedBrightness(16, 16, 5, 11)) < 6.0 })
    // truncated/garbage containers are rejected, not mis-decoded
    assert(Multimodal.decodeAvi("RIFFxxxxAVI corrupted".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeAvi(
      Multimodal.generateAvi(16, 16, 2, 1).take(40)).isEmpty)
  }

  test("dHash: codec round-trip matches the cell formula exactly, variants collide, distinct docs don't") {
    for (d <- Seq(0L, 3L, 35L, 123L)) {
      val base = Multimodal.imageDHash(Multimodal.dhashImagePng(d, 0))
      // the decoded hash equals the formula-derived one with ZERO tolerance
      assert(base.contains(Multimodal.expectedDHash(d)), s"doc $d")
      // byte-different re-encodings are dHash-identical by construction
      for (v <- Seq(1, 2)) {
        val bytes0 = Multimodal.dhashImagePng(d, 0)
        val bytesV = Multimodal.dhashImagePng(d, v)
        assert(!java.util.Arrays.equals(bytes0, bytesV), s"doc $d variant $v bytes")
        assert(Multimodal.imageDHash(bytesV) == base, s"doc $d variant $v hash")
      }
    }
    // genuinely different content diverges in many bits
    val h1 = Multimodal.imageDHash(Multimodal.dhashImagePng(1L, 0)).get
    val h2 = Multimodal.imageDHash(Multimodal.dhashImagePng(2L, 0)).get
    assert(java.lang.Long.bitCount(h1 ^ h2) > 3)
    // undecodable payloads are dropped, not mis-hashed
    assert(Multimodal.imageDHash("not a png".getBytes("UTF-8")).isEmpty)
  }

  test("image near-dup end-to-end: banded hamming join finds exactly the planted pairs") {
    import spark.implicits._
    val ds = (0L until 80L).toDS()
    val images = ds.flatMap { d =>
      val variants = Seq(0) ++
        (if (d % 5 == 0) Seq(1) else Nil) ++
        (if (d % 7 == 0) Seq(2) else Nil)
      variants.map(v => (d * 10 + v, Multimodal.dhashImagePng(d, v)))
    }.toDF("id", "payload")
    val pairs = Dedup.hammingPairs64(Multimodal.imageDHashes(images))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = (0L until 80L).flatMap { d =>
      val vs = Seq(0) ++
        (if (d % 5 == 0) Seq(1) else Nil) ++
        (if (d % 7 == 0) Seq(2) else Nil)
      for (a <- vs; b <- vs if a < b) yield (d * 10 + a, d * 10 + b, 0L)
    }.toSet
    assert(pairs == expected)
  }

  test("hammingPairs64: recall survives pairs straddling the sign bit (hamming 1..3)") {
    import spark.implicits._
    // Each planted pair has one negative and one positive hash whose
    // differing bits include bit 63 — with sign-dependent band keys
    // (the pre-fix `% 65536`) every one of these was silently missed.
    val pairs = Seq(
      (10L, 0x7FFFFFFFFFFFFFFFL, 11L, -1L),                     // hamming 1 (bit 63)
      (20L, 0x1234567890ABCDEFL, 21L, 0x1234567890ABCDEFL ^ (1L << 63) ^ (1L << 62) ^ 1L), // hamming 3
      (30L, 0L, 31L, 1L << 63))                                 // hamming 1, min-negative
    val far = Seq((90L, 0x0F0F0F0F0F0F0F0FL), (91L, -0x0F0F0F0F0F0F0F10L))
    val hashes = (pairs.flatMap { case (ia, ha, ib, hb) => Seq((ia, ha), (ib, hb)) } ++ far)
      .toDF("id", "dhash")
    val got = Dedup.hammingPairs64(hashes)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = Set((10L, 11L, 1L), (20L, 21L, 3L), (30L, 31L, 1L))
    assert(got == expected)
  }

  test("audio envelope hash: codec round-trip matches the formula, variants collide, distinct docs don't") {
    for (d <- Seq(0L, 4L, 12L, 77L)) {
      val base = Multimodal.audioEnvelopeHash(Multimodal.envelopeWav(d, 0))
      assert(base.contains(Multimodal.expectedEnvelopeHash(d)), s"doc $d")
      for (v <- Seq(1, 2)) {
        val b0 = Multimodal.envelopeWav(d, 0)
        val bv = Multimodal.envelopeWav(d, v)
        assert(!java.util.Arrays.equals(b0, bv), s"doc $d variant $v bytes")
        assert(Multimodal.audioEnvelopeHash(bv) == base, s"doc $d variant $v hash")
      }
    }
    val h1 = Multimodal.audioEnvelopeHash(Multimodal.envelopeWav(1L, 0)).get
    val h2 = Multimodal.audioEnvelopeHash(Multimodal.envelopeWav(2L, 0)).get
    assert(java.lang.Long.bitCount(h1 ^ h2) > 3)
    assert(Multimodal.audioEnvelopeHash("not a wav".getBytes("UTF-8")).isEmpty)
  }

  test("audio near-dup end-to-end: banded hamming join finds exactly the planted pairs") {
    import spark.implicits._
    val ds = (0L until 60L).toDS()
    val clips = ds.flatMap { d =>
      val variants = Seq(0) ++
        (if (d % 4 == 0) Seq(1) else Nil) ++
        (if (d % 6 == 0) Seq(2) else Nil)
      variants.map(v => (d * 10 + v, Multimodal.envelopeWav(d, v)))
    }.toDF("id", "payload")
    val pairs = Dedup.hammingPairs64(Multimodal.audioEnvelopeHashes(clips))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = (0L until 60L).flatMap { d =>
      val vs = Seq(0) ++
        (if (d % 4 == 0) Seq(1) else Nil) ++
        (if (d % 6 == 0) Seq(2) else Nil)
      for (a <- vs; b <- vs if a < b) yield (d * 10 + a, d * 10 + b, 0L)
    }.toSet
    assert(pairs == expected)
  }

  test("majorityFold64: strict majority per bit, ties break to 0") {
    // bit 0: two of three set -> 1; bit 1: one of three -> 0
    assert(Multimodal.majorityFold64(Array(1L, 1L, 2L)) == 1L)
    // even count, 2/4 set is NOT a strict majority -> 0
    assert(Multimodal.majorityFold64(Array(1L, 1L, 0L, 0L)) == 0L)
    assert(Multimodal.majorityFold64(Array(1L, 1L, 1L, 0L)) == 1L)
    // single frame: the fold is the frame hash itself
    assert(Multimodal.majorityFold64(Array(-1L)) == -1L)
    // identical frames: the fold is that hash
    assert(Multimodal.majorityFold64(Array(42L, 42L, 42L)) == 42L)
  }

  test("video fingerprint: remux and lossless-transcode variants collide, distinct docs don't") {
    for (d <- Seq(0L, 5L, 30L, 120L)) {
      val b0 = Multimodal.neardupAvi(d, 0)
      val base = Multimodal.videoFingerprint(b0)
      assert(base.nonEmpty, s"doc $d")
      // the fold equals the majority of the per-frame dHashes taken
      // straight from the frame bytes (walked independently here)
      for (v <- Seq(1, 2)) {
        val bv = Multimodal.neardupAvi(d, v)
        assert(!java.util.Arrays.equals(b0, bv), s"doc $d variant $v bytes")
        assert(Multimodal.videoFingerprint(bv) == base, s"doc $d variant $v fp")
      }
      // remux preserves the frame BYTES; transcode only the pixels
      assert(Multimodal.neardupAvi(d, 1).length != b0.length, s"doc $d remux size")
    }
    val f1 = Multimodal.videoFingerprint(Multimodal.neardupAvi(1L, 0)).get
    val f2 = Multimodal.videoFingerprint(Multimodal.neardupAvi(2L, 0)).get
    assert(java.lang.Long.bitCount(f1 ^ f2) > 3)
    assert(Multimodal.videoFingerprint("not an avi".getBytes("UTF-8")).isEmpty)
    // a corrupted MINORITY frame is skipped (the truncated-chunk case
    // real crawls hit) — the fingerprint survives; decodeAvi's metadata
    // contract still rejects the payload wholesale
    val corrupt = Multimodal.neardupAvi(9L, 0).clone()
    val fcc = "00dc".getBytes("US-ASCII")
    val at = corrupt.indices.find(i => i + 4 < corrupt.length &&
      corrupt(i) == fcc(0) && corrupt(i + 1) == fcc(1) &&
      corrupt(i + 2) == fcc(2) && corrupt(i + 3) == fcc(3)).get
    corrupt(at + 8) = 0; corrupt(at + 9) = 0 // smash the JPEG SOI marker
    assert(Multimodal.videoFingerprint(corrupt).nonEmpty)
    assert(Multimodal.decodeAvi(corrupt).isEmpty)
    // frame sampling: with every-other-frame only frame 0 and 2 vote —
    // still a defined fingerprint (2-frame strict majority = AND of bits)
    assert(Multimodal.videoFingerprint(Multimodal.neardupAvi(7L, 0), frameStep = 2).nonEmpty)
  }

  test("video near-dup end-to-end: banded hamming join finds exactly the planted pairs") {
    import spark.implicits._
    val ds = (0L until 60L).toDS()
    val videos = ds.filter(_ % 5 == 0).flatMap { d =>
      val variants = Seq(0) ++
        (if (d % 10 == 0) Seq(1) else Nil) ++
        (if (d % 15 == 0) Seq(2) else Nil)
      variants.map(v => (d * 10 + v, Multimodal.neardupAvi(d, v)))
    }.toDF("id", "payload")
    val pairs = Dedup.hammingPairs64(Multimodal.videoFingerprints(videos))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = (0L until 60L).filter(_ % 5 == 0).flatMap { d =>
      val vs = Seq(0) ++
        (if (d % 10 == 0) Seq(1) else Nil) ++
        (if (d % 15 == 0) Seq(2) else Nil)
      for (a <- vs; b <- vs if a < b) yield (d * 10 + a, d * 10 + b, 0L)
    }.toSet
    assert(pairs == expected)
  }

  test("column pruning: selecting features-only does not read payload") {
    // Write to parquet, read back, select a narrow projection — the
    // optimized scan schema must exclude the payload column.
    val dir = java.nio.file.Files.createTempDirectory("graft-mm").toString
    Multimodal.fromDocuments(docs).write.mode("overwrite").parquet(dir)
    val narrow = spark.read.parquet(dir).select(col("doc_id"), col("meta.width"))
    val scans = narrow.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    assert(!scans.head.requiredSchema.fieldNames.contains("payload"))
  }

  test("mp4: box walk recovers brand, durations, tracks, codecs, counts") {
    import graft.operators.Mp4
    // even id: video-only; odd id: video + audio
    val m4 = Mp4.parse(Mp4.fixtureMp4(4L)) // nVideo = 14
    assert(m4.majorBrand == "isom" && m4.durationMs == 14 * 40)
    assert(m4.tracks.map(t => (t.trackId, t.handler, t.codec, t.nSamples,
      t.durationMs)) == Seq((1L, "vide", "avc1", 14L, 560L)))
    val m5 = Mp4.parse(Mp4.fixtureMp4(5L)) // nVideo = 15, nAudio = 10
    assert(m5.tracks.size == 2 && m5.durationMs == 15 * 40)
    assert(m5.tracks(1) == Mp4.Track(2L, "soun", "mp4a", 10L, 400L))
    // movie duration follows the LONGER track (audio > video at id 54)
    val m54 = Mp4.parse(Mp4.fixtureMp4(55L)) // nV=15, nA=30
    assert(m54.durationMs == 30 * 40)
  }

  test("mp4: truncation, unknown boxes, and corrupt sizes degrade cleanly") {
    import graft.operators.Mp4
    val good = Mp4.fixtureMp4(7L)
    // truncating inside moov parses nothing after the cut, never throws
    val cut = Mp4.parse(java.util.Arrays.copyOfRange(good, 0, good.length / 3))
    assert(cut.majorBrand == "isom")
    // an unknown top-level box between ftyp and moov is skipped by size
    val ftypLen = java.nio.ByteBuffer.wrap(good, 0, 4).getInt
    val unknown = Mp4.parse(
      java.util.Arrays.copyOfRange(good, 0, ftypLen) ++
        (Array[Byte](0, 0, 0, 12) ++ "wxyzABCD".getBytes("ISO-8859-1")) ++
        java.util.Arrays.copyOfRange(good, ftypLen, good.length))
    assert(unknown.tracks.map(_.codec) == Mp4.parse(good).tracks.map(_.codec))
    // a declared size of 0 (corrupt) stops the walk instead of looping
    assert(Mp4.parse(Array[Byte](0, 0, 0, 0, 'f', 'r', 'e', 'e'))
      .tracks.isEmpty)
    // no moov at all -> null-track single row from containerMeta
    import spark.implicits._
    val out = Mp4.containerMeta(
      Seq((9L, Array[Byte](0, 0, 0, 8, 'f', 'r', 'e', 'e'))).toDF("id", "payload"))
      .collect()
    assert(out.length == 1 && out(0).getAs[Long]("n_tracks") == 0L &&
      out(0).isNullAt(out(0).fieldIndex("track_id")))
    // plan: one narrow mapPartitions pass, zero exchanges
    val vids = Seq((1L, Mp4.fixtureMp4(1L))).toDF("id", "payload")
    val plan = Mp4.containerMeta(vids).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("mp4 keyframes: extents from the sample tables, remux-invariant fingerprints") {
    import graft.operators.Mp4
    // variant 0: one chunk — extents are offset-cumulative within it
    val v0 = Mp4.neardupMp4(10L, 0)
    val r0 = Mp4.syncSampleRanges(v0)
    assert(r0.length == 3, r0) // stss = [1,4,7] of 9 samples
    // each extent must slice nonzero in-file bytes
    r0.foreach { case (off, sz) =>
      assert(off > 0 && sz >= 16 && off + sz <= v0.length, (off, sz)) }
    // the three variants are byte-different files...
    val v1 = Mp4.neardupMp4(10L, 1)
    val v2 = Mp4.neardupMp4(10L, 2)
    assert(!java.util.Arrays.equals(v0, v1) &&
      !java.util.Arrays.equals(v0, v2))
    // ...with different raw extents (the free box / reverse storage
    // moved the bytes)...
    assert(Mp4.syncSampleRanges(v1) != r0)
    // ...but the BYTES at the extents are identical: slice and compare
    def slices(b: Array[Byte]): Seq[Seq[Byte]] =
      Mp4.syncSampleRanges(b).map { case (off, sz) =>
        java.util.Arrays.copyOfRange(b, off.toInt, (off + sz).toInt).toSeq }
    assert(slices(v1) == slices(v0) && slices(v2) == slices(v0))
    // distinct docs share no keyframe bytes
    assert(slices(Mp4.neardupMp4(11L, 0)) != slices(v0))
    // fingerprints: variants collide, distinct docs differ
    val vids = Seq((100L, v0), (101L, v1), (102L, v2),
      (110L, Mp4.neardupMp4(11L, 0))).toDF("id", "payload")
    val fps = Mp4.keyframeFingerprints(vids).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(100L) == fps(101L) && fps(100L) == fps(102L))
    assert(fps(100L) != fps(110L))
    // no-video payloads drop (no fingerprint beats a fake one)
    val junk = Seq((1L, Array[Byte](1, 2, 3))).toDF("id", "payload")
    assert(Mp4.keyframeFingerprints(junk).count() == 0)
    // absent stss would mean all-sync: the metadata fixture has no
    // stss and zero-size samples, so extents resolve empty
    assert(Mp4.syncSampleRanges(Mp4.fixtureMp4(4L)).isEmpty)
  }

  test("mp4 keyframe near-dup end-to-end: banded join finds exactly the planted pairs") {
    import graft.operators.Mp4
    val videos = (0L until 60L).filter(_ % 5 == 0).flatMap { d =>
      val variants = Seq(0) ++ (if (d % 10 == 0) Seq(1) else Nil) ++
        (if (d % 15 == 0) Seq(2) else Nil)
      variants.map(v => (d * 10 + v, Mp4.neardupMp4(d, v)))
    }.toDF("id", "payload")
    val pairs = Dedup.hammingPairs64(Mp4.keyframeFingerprints(videos))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = (0L until 60L).filter(_ % 5 == 0).flatMap { d =>
      val vs = Seq(0) ++ (if (d % 10 == 0) Seq(1) else Nil) ++
        (if (d % 15 == 0) Seq(2) else Nil)
      for (a <- vs; b <- vs if a < b) yield (d * 10 + a, d * 10 + b, 0L)
    }.toSet
    assert(pairs == expected)
  }

  test("mp4: corrupt table counts are extent-clamped, never giant allocations") {
    import graft.operators.Mp4
    // take a valid fixture and corrupt the stss entry COUNT field to
    // 0x7FFFFFFF (the box extent stays 3 entries): resolution must
    // clamp to the extent and return promptly, not allocate 17 GB
    val v = Mp4.neardupMp4(3L, 0)
    val s = new String(v, java.nio.charset.StandardCharsets.ISO_8859_1)
    val at = s.indexOf("stss")
    assert(at > 0)
    val corrupt = v.clone()
    // stss payload: [version+flags:4][count:4][entries...]
    corrupt(at + 8) = 0x7f.toByte
    corrupt(at + 9) = 0xff.toByte
    corrupt(at + 10) = 0xff.toByte
    corrupt(at + 11) = 0xff.toByte
    val r = Mp4.syncSampleRanges(corrupt)
    // the clamped table reads the 3 real entries; extents unchanged
    assert(r == Mp4.syncSampleRanges(v), r)
  }

  test("mp4 64-bit: v1 boxes, co64, largesize parse identically to the v0 twin") {
    import graft.operators.Mp4
    for (d <- Seq(4L, 5L, 55L)) {
      val v0 = Mp4.parse(Mp4.fixtureMp4(d))
      val v1 = Mp4.parse(Mp4.fixtureMp4V1(d))
      assert(v1 == v0, s"doc $d: $v1 vs $v0")
    }
    // the v1 file genuinely differs at the byte level
    assert(!java.util.Arrays.equals(Mp4.fixtureMp4(5L), Mp4.fixtureMp4V1(5L)))
    // co64 + largesize re-mux (variant 3) fingerprints like the others
    val v3 = Mp4.neardupMp4(10L, 3)
    val s3 = new String(v3, java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(s3.contains("co64") && !s3.contains("stco"))
    def slices(b: Array[Byte]): Seq[Seq[Byte]] =
      Mp4.syncSampleRanges(b).map { case (off, sz) =>
        java.util.Arrays.copyOfRange(b, off.toInt, (off + sz).toInt).toSeq }
    assert(slices(v3) == slices(Mp4.neardupMp4(10L, 0)))
  }

  test("mp4 hardening: negative co64 offsets and size-0 trailing boxes degrade") {
    import graft.operators.Mp4
    // flip a co64 entry's high bit: the extent must be SKIPPED (a
    // negative offset would index the array negatively downstream)
    val v3 = Mp4.neardupMp4(4L, 3)
    val s3 = new String(v3, java.nio.charset.StandardCharsets.ISO_8859_1)
    val co = s3.indexOf("co64")
    val corrupt = v3.clone()
    // co64 payload: [version+flags:4][count:4][entries:8 each] from
    // the fourcc at `co` — the first offset's top byte is co+12
    corrupt(co + 12) = 0xff.toByte
    val r = Mp4.syncSampleRanges(corrupt)
    assert(r.size < Mp4.syncSampleRanges(v3).size, r)
    r.foreach { case (off, sz) => assert(off >= 0 && off + sz <= corrupt.length) }
    // a size==0 full box ending exactly at end-of-container: the
    // version guard must not read past the array
    def be(v: Long): Array[Byte] = Array(((v >> 24) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def cc(t: String): Array[Byte] =
      t.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val inner = be(0) ++ cc("mvhd") // size 0 = to end, EMPTY payload
    val moov = be(8L + inner.length) ++ cc("moov") ++ inner
    Mp4.parse(moov) // must not throw
    assert(Mp4.parse(moov).tracks.isEmpty)
  }

  test("mp4 hardening: a huge stsz sample count is bounded by the payload") {
    import graft.operators.Mp4
    // moov/trak/mdia{hdlr vide, minf/stbl{stss, stsz default=1
    // count=2^32-1, stco [0]}}: 120 bytes declaring four billion samples
    def be(v: Long): Array[Byte] = Array(((v >> 24) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def box(typ: String, body: Array[Byte]*): Array[Byte] = {
      val b = body.flatten.toArray
      be(8L + b.length) ++ typ.getBytes("ISO-8859-1") ++ b
    }
    def movie(syncSample: Long): Array[Byte] = box("moov", box("trak",
      box("mdia", box("hdlr", be(0), be(0), "vide".getBytes("ISO-8859-1")),
        box("minf", box("stbl",
          box("stss", be(0), be(1), be(syncSample)),
          box("stsz", be(0), be(1), be(0xFFFFFFFFL)),
          box("stco", be(0), be(1), be(0)))))))
    val hostile = movie(0L) // sync sample 0 names no sample
    assert(hostile.length == 120)
    val t0 = System.nanoTime()
    assert(Mp4.syncSampleRanges(hostile).isEmpty)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 1.0, s"$secs s")
    // sample 1 is the file's first byte: the bounded walk still finds it
    assert(Mp4.syncSampleRanges(movie(1L)) == Seq((0L, 1L)))
  }

  test("decoder twins: (frame, idCol, payloadCol) order, output schemas kept") {
    import graft.operators.{Mp4, Pdf}
    // non-default column names, passed positionally
    val in = Seq((1, Mp4.fixtureMp4(1L)), (2, Multimodal.generateWebp(2L, 0)),
      (3, Pdf.fixturePdf(3L, "three words here"))).toDF("key", "blob")
    val twins = Seq(
      (Multimodal.mp3MetadataFrame(in, "key", "blob"),
        "id BIGINT NOT NULL,bitrate_kbps BIGINT NOT NULL,is_vbr BOOLEAN NOT NULL," +
        "sample_rate BIGINT NOT NULL,channels BIGINT NOT NULL," +
        "n_frames BIGINT NOT NULL,duration_ms BIGINT NOT NULL"),
      (Multimodal.id3TagsFrame(in, "key", "blob"),
        "id BIGINT NOT NULL,title STRING,artist STRING,album STRING"),
      (Multimodal.jpegExifFrame(in, "key", "blob"),
        "id BIGINT NOT NULL,orientation BIGINT NOT NULL,datetime STRING," +
        "make STRING,model STRING"),
      (Multimodal.imageDHashes(in, "key", "blob"),
        "id BIGINT NOT NULL,dhash BIGINT NOT NULL"),
      (Multimodal.webpMetadataFrame(in, "key", "blob"),
        "id BIGINT NOT NULL,format STRING,width BIGINT NOT NULL," +
        "height BIGINT NOT NULL,has_alpha BOOLEAN NOT NULL," +
        "is_animated BOOLEAN NOT NULL,n_frames BIGINT NOT NULL"),
      (Multimodal.audioEnvelopeHashes(in, "key", "blob"),
        "id BIGINT NOT NULL,dhash BIGINT NOT NULL"),
      (Multimodal.videoFingerprints(in, "key", "blob"),
        "id BIGINT NOT NULL,dhash BIGINT NOT NULL"),
      (Mp4.containerMeta(in, "key", "blob"),
        "id BIGINT NOT NULL,major_brand STRING,movie_duration_ms BIGINT NOT NULL," +
        "n_tracks BIGINT NOT NULL,track_id BIGINT,handler STRING,codec STRING," +
        "n_samples BIGINT,duration_ms BIGINT"),
      (Mp4.keyframeFingerprints(in, "key", "blob"),
        "id BIGINT NOT NULL,dhash BIGINT NOT NULL"),
      (Pdf.extractTexts(in, "key", "blob"),
        "id BIGINT NOT NULL,xref_ok BOOLEAN NOT NULL,n_streams BIGINT NOT NULL," +
        "n_chars BIGINT NOT NULL,text STRING"),
      (Pdf.extractImages(in, "key", "blob"),
        "id BIGINT NOT NULL,image_idx BIGINT NOT NULL,payload BINARY"))
    twins.foreach { case (df, ddl) => assert(df.schema.toDDL == ddl) }
    // each twin read the right column: the rows each format yields
    assert(Mp4.containerMeta(in, "key", "blob").where(col("major_brand") === "isom")
      .select("id").distinct().as[Long].collect().toSeq == Seq(1L))
    assert(Multimodal.webpMetadataFrame(in, "key", "blob").select("id").as[Long]
      .collect().toSeq == Seq(2L))
    assert(Pdf.extractTexts(in, "key", "blob").where(col("n_chars") > 0)
      .select("id").as[Long].collect().toSeq == Seq(3L))
  }

  test("mp3: frame walk, ID3v2 skip, VBR flag, truncation and junk degrades") {
    import graft.operators.Multimodal._
    // CBR, no tag: every field closed-form; duration is exact-integer
    val cbr = generateMp3(nFrames = 5, brIdx = 9, srIdx = 0)
    assert(mp3Metadata(cbr) == Some((128, false, 44100, 1, 5L,
      5L * 1152000 / 44100)))
    // ID3v2 tag skipped via the syncsafe size; fields unchanged
    val tagged = generateMp3(nFrames = 5, brIdx = 9, srIdx = 0,
      id3Size = 321)
    assert(mp3Metadata(tagged) == mp3Metadata(cbr))
    // VBR: alternating bitrate index flips the flag; first frame's
    // bitrate reported
    val vbr = generateMp3(nFrames = 4, brIdx = 5, srIdx = 1, vbr = true)
    assert(mp3Metadata(vbr) == Some((64, true, 48000, 1, 4L,
      4L * 1152000 / 48000)))
    // a truncated capture yields the intact PREFIX's metadata
    val cut = java.util.Arrays.copyOf(cbr, cbr.length - 10)
    assert(mp3Metadata(cut).map(_._5) == Some(4L))
    // junk and WAV payloads are not MP3s
    assert(mp3Metadata("RIFFxxxxWAVE".getBytes("US-ASCII")).isEmpty)
    assert(mp3Metadata(Array.fill[Byte](64)(0x41)).isEmpty)
    assert(mp3Metadata(generateWav(100, 8000, 1)).isEmpty)
    // an ID3 tag with NO frames after it is metadata-free, not a song
    assert(mp3Metadata(generateMp3(nFrames = 0, brIdx = 9, srIdx = 0,
      id3Size = 64)).isEmpty)
  }

  test("id3v2: both versions, all four encodings, padding, composition") {
    import graft.operators.Multimodal._
    for (ver <- Seq(3, 4); enc <- 0 to 3) {
      // non-ASCII but <= U+00FF, so even the ISO-8859-1 lane
      // round-trips the exact strings
      val tag = id3v2(ver, "Tïtle", "Ärtist", "Albúm", enc)
      assert(id3Tags(tag) == Some(("Tïtle", "Ärtist", "Albúm")),
        s"ver=$ver enc=$enc")
      // composition: the tag in front of real frames — BOTH walks read
      val payload = tag ++ generateMp3(nFrames = 3, brIdx = 9, srIdx = 0)
      assert(id3Tags(payload) == Some(("Tïtle", "Ärtist", "Albúm")))
      assert(mp3Metadata(payload).map(_._5) == Some(3L), s"ver=$ver enc=$enc")
    }
    // tag-less, truncated, and non-ID3 payloads yield none
    assert(id3Tags(generateMp3(3, 9, 0)).isEmpty)
    val t = id3v2(4, "A", "B", "C", 3)
    assert(id3Tags(java.util.Arrays.copyOf(t, 14)).isEmpty)
    assert(id3Tags("ID3 but not really a tag at all".getBytes("US-ASCII"))
      .isEmpty)
  }

  test("id3v2: extended headers are skipped, not read as frames") {
    import graft.operators.Multimodal._
    // Splice an extended header between the 10-byte header and the
    // first frame: v2.4 size is syncsafe and includes the whole
    // header (minimum 6: size + flag-count + flags); v2.3 size is
    // plain 32-bit BE excluding its own 4 size bytes (6 -> 10 total).
    def withExt(ver: Int): Array[Byte] = {
      val tag = id3v2(ver, "Tïtle", "Ärtist", "Albúm", 3)
      val ext =
        if (ver == 4) Array[Byte](0, 0, 0, 6, 1, 0)
        else Array[Byte](0, 0, 0, 6, 0, 0, 0, 0, 0, 0)
      val out = tag.take(10) ++ ext ++ tag.drop(10)
      out(5) = (out(5) | 0x40).toByte
      val sz = out.length - 10
      out(6) = ((sz >> 21) & 0x7f).toByte
      out(7) = ((sz >> 14) & 0x7f).toByte
      out(8) = ((sz >> 7) & 0x7f).toByte
      out(9) = (sz & 0x7f).toByte
      out
    }
    for (ver <- Seq(3, 4))
      assert(id3Tags(withExt(ver)) == Some(("Tïtle", "Ärtist", "Albúm")),
        s"ver=$ver")
    // a bogus ext-header size that overshoots the tag degrades to None
    val bogus = withExt(4)
    bogus(13) = 0x7f // syncsafe ext size now far past the tag end
    assert(id3Tags(bogus).isEmpty)
  }

  test("exif orientation: all 8 lanes normalize to the closed-form hash") {
    import graft.operators.Multimodal._
    val want = expectedOrientDHash(11L)
    for (o <- 1 to 8) {
      val stored = orientJpeg(11L, o)
      if (o >= 5) { // dims swapped on the wire for transposing lanes
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(stored))
        assert(img.getWidth == 64 && img.getHeight == 72, s"o=$o")
      }
      val normalized = normalizeOrientation(stored)
      assert(normalized.isDefined, s"o=$o")
      assert(imageDHash(normalized.get) == Some(want), s"o=$o")
      // WITHOUT normalization the rotated lanes hash far away — the
      // gap this operator exists to close
      if (o >= 5)
        assert(imageDHash(stored).exists(h =>
          java.lang.Long.bitCount(h ^ want) > 3), s"o=$o raw")
    }
    // a PNG (no EXIF walk) and an EXIF-less JPEG normalize as identity
    assert(normalizeOrientation(dhashImagePng(11L, 0))
      .flatMap(imageDHash) == Some(expectedDHash(11L)))
    // junk does not normalize
    assert(normalizeOrientation("junk".getBytes("US-ASCII")).isEmpty)
  }

  test("jpeg exif: both byte orders, both ASCII shapes, imageio coexistence") {
    import graft.operators.Multimodal._
    for (le <- Seq(true, false)) {
      val j = jpegWithExif(7L, 6, "2026:08:16 12:34:56", "CamCo", "M1", le)
      // make (6 bytes incl NUL) rides the OFFSET shape, model (3) the
      // INLINE shape; orientation is an endian-sensitive SHORT
      assert(jpegExif(j) ==
        Some((6, "2026:08:16 12:34:56", "CamCo", "M1")), s"le=$le")
      // the APP1 splice is invisible to the pixel path: imageio still
      // decodes and the dHash equals the un-spliced fixture's
      assert(imageDHash(j) == imageDHash(dhashImageJpeg(7L)), s"le=$le")
    }
    // EXIF-less JPEG, non-JPEG, and truncated APP1 all yield None
    assert(jpegExif(dhashImageJpeg(7L)).isEmpty)
    assert(jpegExif("not a jpeg".getBytes("US-ASCII")).isEmpty)
    val whole = jpegWithExif(7L, 1, "2026:01:01 00:00:00", "C", "M", true)
    assert(jpegExif(java.util.Arrays.copyOf(whole, 40)).isEmpty)
    // a bad TIFF magic degrades (corrupt EXIF, never wrong values)
    val corrupt = whole.clone()
    corrupt(12) = 0x7F // inside the TIFF header
    assert(jpegExif(corrupt) != jpegExif(whole))
    // T.81 §B.1.1.2 fill bytes: 0xFF padding before a marker id is
    // legal (some cameras emit it); the walk must skip the run, not
    // read 0xFF as the marker and desync on a bogus length
    val padded = whole.take(2) ++
      Array(0xFF.toByte, 0xFF.toByte) ++ whole.drop(2)
    assert(jpegExif(padded) == jpegExif(whole))
  }

  test("normalize orientation: >16 MP decode-bomb payloads are refused") {
    import graft.operators.Multimodal._
    // 4097x4100 = 16.8 MP — just past the Pdf.rawSamplesToPng ceiling
    // this guard mirrors; without it the transform would allocate
    // several w*h int copies beyond the decode itself
    val big = new java.awt.image.BufferedImage(
      4097, 4100, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(big, "jpg", out)
    assert(normalizeOrientation(out.toByteArray).isEmpty)
  }

  test("webp: all three container shapes parse; ANMF payloads don't shadow") {
    // fixture round-trips across lanes and ids (dims/alpha/frames all
    // follow the closed form)
    for (id <- Seq(0L, 1L, 2L, 3L, 7L, 12L, 30L); lane <- 0 to 3) {
      val m = Multimodal.webpMetadata(Multimodal.generateWebp(id, lane))
      val w = 16 + ((id * 7) % 240).toInt
      val h = 16 + ((id * 13) % 180).toInt
      val expect = lane match {
        case 0 => ("vp8", w, h, false, false, 0)
        case 1 => ("vp8l", w, h, id % 3 == 0, false, 0)
        case 2 => ("vp8x", w, h, true, false, 0)
        case _ => ("vp8x", w, h, id % 3 == 0, true, (2 + id % 3).toInt)
      }
      assert(m == Some(expect), s"id=$id lane=$lane got $m")
    }
    // an ALPH chunk sets alpha even when the VP8X flag forgot it
    def le24(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    def chunk(c: String, b: Array[Byte]) =
      c.getBytes("US-ASCII") ++ le32(b.length) ++ b ++
        (if ((b.length & 1) == 1) Array[Byte](0) else Array.empty[Byte])
    val noFlag = chunk("VP8X", Array[Byte](0, 0, 0, 0) ++ le24(9) ++ le24(4)) ++
      chunk("ALPH", Array[Byte](1, 2, 3))
    val body = "WEBP".getBytes("US-ASCII") ++ noFlag
    val webp = "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
    assert(Multimodal.webpMetadata(webp) ==
      Some(("vp8x", 10, 5, true, false, 0)))
    // non-WebP RIFF (a WAV), a PNG, a declared-VP8 chunk with a bad
    // keyframe header, and truncation all yield None / degrade
    assert(Multimodal.webpMetadata(
      Multimodal.generateWav(4, 8000, 1)).isEmpty)
    assert(Multimodal.webpMetadata(
      Multimodal.dhashImagePng(1L, 0)).isEmpty)
    val badVp8 = "WEBP".getBytes("US-ASCII") ++
      chunk("VP8 ", Array.fill[Byte](12)(0x41))
    assert(Multimodal.webpMetadata("RIFF".getBytes("US-ASCII") ++
      le32(badVp8.length) ++ badVp8).isEmpty)
    assert(Multimodal.webpMetadata(
      Multimodal.generateWebp(5L, 0).take(15)).isEmpty)
    // frame operator drops non-WebP rows instead of failing the batch
    import spark.implicits._
    val df = Seq(
      (1L, Multimodal.generateWebp(1L, 3)),
      (2L, Array[Byte](1, 2, 3))).toDF("id", "payload")
    val rows = Multimodal.webpMetadataFrame(df).collect()
    assert(rows.length == 1 && rows(0).getLong(0) == 1L &&
      rows(0).getBoolean(5) && rows(0).getLong(6) == 3L, rows.toSeq)
  }
}
