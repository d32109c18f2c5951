package graft

import graft.sources.WarcSource
import org.apache.spark.sql.functions._

class WarcSourceSpec extends SparkSpec {

  import spark.implicits._

  /** A path that does not exist yet, inside a new temp directory. */
  private def freshDir(name: String): String =
    java.nio.file.Files.createTempDirectory(name).resolve(name).toString

  private def rec(headers: Seq[(String, String)], payload: String): Array[Byte] = {
    val p = payload.getBytes("UTF-8")
    (("WARC/1.0" +: headers.map { case (k, v) => s"$k: $v" })
      .mkString("", "\r\n", "\r\n") +
      s"Content-Length: ${p.length}\r\n\r\n").getBytes("UTF-8") ++
      p ++ "\r\n\r\n".getBytes("UTF-8")
  }

  test("parseWarc: headers, Content-Length slicing, HTTP framing, CRLF-bearing bodies") {
    // body containing CRLFs and a lone 'WARC/1.0' line — only
    // Content-Length may delimit the payload, never pattern matching
    val trickyBody = "line one\r\nWARC/1.0\r\nline three"
    val bytes =
      rec(Seq("WARC-Type" -> "warcinfo", "WARC-Record-ID" -> "<urn:a>"),
        "software: test\r\n") ++
      rec(Seq("WARC-Type" -> "response", "WARC-Target-URI" -> "https://e.com/1",
        "Content-Type" -> "application/http; msgtype=response"),
        "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n" + trickyBody) ++
      rec(Seq("WARC-Type" -> "response", "WARC-Target-URI" -> "https://e.com/2"),
        "HTTP/1.1 404 Not Found\r\n\r\n") ++
      rec(Seq("WARC-Type" -> "resource", "WARC-Target-URI" -> "https://e.com/r"),
        "raw, not HTTP")
    val rs = WarcSource.parseWarc("f", bytes)
    assert(rs.map(_.warc_type) == Seq("warcinfo", "response", "response", "resource"))
    assert(rs(0).target_uri == null && rs(0).status == 0)
    assert(rs(1).status == 200 && rs(1).body == trickyBody)
    assert(rs(2).status == 404 && rs(2).body == "")
    // non-HTTP payload: status 0, body = the whole payload
    assert(rs(3).status == 0 && rs(3).body == "raw, not HTTP")
    // trailing junk stops cleanly instead of throwing
    assert(WarcSource.parseWarc("f", bytes ++ "garbage".getBytes("UTF-8"))
      .size == 4)
    assert(WarcSource.parseWarc("f", "not a warc".getBytes("UTF-8")).isEmpty)
    // WET files (Common Crawl's extracted-text sibling) are WARC with
    // 'conversion' records whose payload IS the text — same parser
    val wet = rec(Seq("WARC-Type" -> "conversion",
      "WARC-Target-URI" -> "https://e.com/1",
      "WARC-Record-ID" -> "<urn:wet:1>"), "extracted plain text")
    val wr = WarcSource.parseWarc("f.wet", wet)
    assert(wr.size == 1 && wr(0).warc_type == "conversion" &&
      wr(0).record_id == "<urn:wet:1>" &&
      wr(0).status == 0 && wr(0).body == "extracted plain text")
  }

  test("export/records round-trip: per-file parallelism, member gzip, byte-exact bodies") {
    val docs = Seq(
      (0L, "plain ascii"),
      (1L, "unicode é中文 body"),
      (2L, "crlf\r\ninside"),
      (150L, "second shard"),
      (151L, "")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-warc").toString
    WarcSource.export(docs, dir, docsPerFile = 100)
    // two shards (ids 0-2 and 150-151) -> two .warc.gz segment files
    val files = new java.io.File(dir).listFiles().map(_.getName).sorted
    assert(files.length == 2 && files.forall(_.endsWith(".warc.gz")), files.toSeq)
    val rs = WarcSource.records(spark, dir)
    // every file leads with its warcinfo record
    assert(rs.where(col("warc_type") === "warcinfo").count() == 2)
    // responses round-trip byte-exactly, unicode and CRLFs included
    val got = rs.where(col("warc_type") === "response")
      .select(regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast("long"),
        col("status"), col("body"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val expected = docs.collect()
      .map(r => (r.getLong(0), 200, r.getString(1))).toSet
    assert(got == expected)
  }

  test("binary payloads: byte-exact transit, lazy text decode, content_type routing") {
    // a payload that is INVALID UTF-8 (0xFF 0xFE lead bytes, PNG magic):
    // any eager string decode corrupts it irreversibly
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0xff.toByte, 0xfe.toByte, 0x00, 0x7f)
    val docs = Seq((5L, png), (6L, Array[Byte]())).toDF("doc_id", "img")
    val dir = java.nio.file.Files.createTempDirectory("graft-warc-bin").toString
    WarcSource.export(docs, dir, docsPerFile = 100,
      bytesCol = Some("img"), mime = "image/png")
    val rs = WarcSource.records(spark, dir)
      .where(col("warc_type") === "response").orderBy("target_uri").collect()
    assert(rs.length == 2)
    // content type recovered from the HTTP header block, not the WARC one
    assert(rs.forall(_.getAs[String]("content_type") == "image/png"))
    // binary type: text column null, bytes byte-exact
    assert(rs.forall(r => r.getAs[String]("body") == null))
    assert(rs(0).getAs[Array[Byte]]("body_bytes").toSeq == png.toSeq)
    assert(rs(1).getAs[Array[Byte]]("body_bytes").isEmpty)
    // text records expose BOTH views, and they agree
    val tdocs = Seq((1L, "unicode é中文")).toDF("doc_id", "text")
    val tdir = java.nio.file.Files.createTempDirectory("graft-warc-txt").toString
    WarcSource.export(tdocs, tdir, docsPerFile = 100)
    val tr = WarcSource.records(spark, tdir)
      .where(col("warc_type") === "response").collect()(0)
    assert(tr.getAs[String]("content_type") == "text/plain; charset=utf-8")
    assert(tr.getAs[String]("body") == "unicode é中文")
    assert(new String(tr.getAs[Array[Byte]]("body_bytes"), "UTF-8") ==
      "unicode é中文")
    // the classifier itself: textual families decode, binary ones don't
    assert(WarcSource.isTextType(null) && WarcSource.isTextType("TEXT/HTML") &&
      WarcSource.isTextType("application/json; charset=utf-8"))
    assert(!WarcSource.isTextType("image/png") &&
      !WarcSource.isTextType("application/pdf") &&
      !WarcSource.isTextType("application/octet-stream"))
  }

  test("recordsStream: file-stream ingest yields exactly the batch records") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = freshDir("warc-spec-stream")
    val docs = Seq((1L, "alpha"), (2L, "beta\r\nWARC/1.0 trap"), (3L, "γ"))
      .toDF("doc_id", "text")
    WarcSource.export(docs, dir, docsPerFile = 2, wet = true)
    val q = WarcSource.recordsStream(spark, dir)
      .writeStream.format("memory").queryName("warc_stream_spec")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("warc_stream_spec")
      .select("warc_type", "record_id", "target_uri", "status", "body")
      .collect().map(_.toSeq).toSet
    val batch = WarcSource.records(spark, dir)
      .select("warc_type", "record_id", "target_uri", "status", "body")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.count(_.head == "conversion") == 3)
  }

  test("revisit records: ISO 28500 linkage parses, captures collapse to one digest") {
    val dir = freshDir("test-warc-revisit")
    val docs = Seq((1L, "alpha"), (9L, "beta"), (18L, "gamma"))
      .toDF("doc_id", "text")
    WarcSource.export(docs, dir, docsPerFile = 100, revisitEvery = 9)
    val recs = WarcSource.records(spark, dir)
    // the two %9 docs each gained a revisit record
    val revs = recs.where(col("warc_type") === "revisit")
      .orderBy("target_uri").collect()
    assert(revs.length == 2)
    val r9 = revs(0)
    assert(r9.getAs[String]("target_uri") == "https://example.org/doc/18" ||
      r9.getAs[String]("target_uri") == "https://example.org/doc/9")
    revs.foreach { r =>
      val id = r.getAs[String]("target_uri").split("/").last
      assert(r.getAs[String]("refers_to") == s"<urn:graft:doc:$id>")
      assert(r.getAs[String]("payload_digest").startsWith("sha256:"))
      // headers-only payload: empty body, but the HTTP status parsed
      assert(r.getAs[Array[Byte]]("body_bytes").isEmpty)
      assert(r.getAs[Int]("status") == 200)
    }
    // non-revisit records carry null linkage columns
    assert(recs.where(col("warc_type") === "response")
      .where(col("refers_to").isNotNull || col("payload_digest").isNotNull)
      .count() == 0)
    // capture table: revisit digest comes from its own header and
    // MATCHES the referent's content hash — one distinct digest per key
    val caps = WarcSource.cdxCaptures(recs)
    val agg = caps.groupBy("urlkey")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("digest")).as("nd"),
        sum(col("n_bytes")).as("b"))
      .orderBy("urlkey").collect()
    assert(agg.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("org,example)/doc/1", 1L, 1L),
        ("org,example)/doc/18", 2L, 1L),
        ("org,example)/doc/9", 2L, 1L)))
    // stored bytes: the revisit contributes 0 (bytes live with the referent)
    assert(agg.find(_.getString(0) == "org,example)/doc/9")
      .get.getLong(3) == "beta".length.toLong)
  }

  test("cdxCaptures: header digests preferred with any algorithm label (CC's sha1:BASE32)") {
    // real crawls stamp the SAME algorithm on responses and revisits,
    // so header digests must compare across the pair whatever the
    // label; absent/empty headers fall back to sha256 of the raw bytes
    val recs = Seq(
      ("response", "https://example.org/a", 200,
        "sha1:3I42H3S6NNFQ2MSVX7XZKYAYSCX5QBYJ", "x"),
      ("revisit", "https://example.org/a", 200,
        "sha1:3I42H3S6NNFQ2MSVX7XZKYAYSCX5QBYJ", ""),
      ("response", "https://example.org/b", 200, null, "y"),
      ("response", "https://example.org/c", 200, "", "z"))
      .toDF("warc_type", "target_uri", "status", "payload_digest", "__t")
      .withColumn("body_bytes", encode(col("__t"), "UTF-8"))
      .withColumn("body", col("__t"))
    val caps = WarcSource.cdxCaptures(recs).orderBy("urlkey", "kind")
      .collect().map(r => (r.getAs[String]("urlkey"),
        r.getAs[String]("kind"), r.getAs[String]("digest"))).toSeq
    assert(caps(0) == ("org,example)/a", "response",
      "3I42H3S6NNFQ2MSVX7XZKYAYSCX5QBYJ"))
    assert(caps(1) == ("org,example)/a", "revisit",
      "3I42H3S6NNFQ2MSVX7XZKYAYSCX5QBYJ")) // the pair COLLAPSES
    // fallback: sha256 hex of the raw bytes, 64 chars, never null/""
    assert(caps(2)._3.length == 64 && caps(3)._3.length == 64)
  }

  test("cdxLookup: canonicalized point probes, pushed scan, no join") {
    val dir = freshDir("test-cdx-lookup")
    Seq.tabulate(40)(i =>
      (s"org,example)/doc/$i", s"example.org/doc/$i", 200L, s"d$i", 5L))
      .toDF("urlkey", "url", "status", "digest", "n_bytes")
      .orderBy("urlkey").write.parquet(dir)
    val index = spark.read.parquet(dir)
    // small batch: spelling variants canonicalize to the captured key;
    // misses contribute nothing; duplicate spellings dedupe
    val small = WarcSource.cdxLookup(index, Seq(
      "HTTPS://WWW.example.org:443/doc/3#frag",
      "http://example.org/doc/3",
      "https://example.org/doc/7",
      "https://example.org/doc/9999"))
    assert(small.select("urlkey").as[String].collect().sorted.toSeq ==
      Seq("org,example)/doc/3", "org,example)/doc/7"))
    val ps = small.queryExecution.executedPlan.toString
    assert(ps.contains("PushedFilters: [In(urlkey"), ps)
    assert(!ps.contains("Join") && !ps.contains("Exchange"), ps)
    // large batch (>16): coarse range pushes into the scan, the exact
    // membership rides the O(1) native set probe — still join-free
    val urls = (0 until 40).map(i => s"https://example.org/doc/$i")
    val large = WarcSource.cdxLookup(index, urls)
    assert(large.count() == 40)
    val pl = large.queryExecution.executedPlan.toString
    assert(pl.contains("GreaterThanOrEqual(urlkey") &&
      pl.contains("LessThanOrEqual(urlkey"), pl)
    assert(pl.contains("set_probe"), pl)
    assert(!pl.contains("Join") && !pl.contains("Exchange"), pl)
    // empty request: empty result, not a crash
    assert(WarcSource.cdxLookup(index, Nil).count() == 0)
  }

  test("cdxLookup: key canonicalization is driver-side — zero Spark jobs") {
    // The point-lookup API must not pay a scheduling round-trip to
    // surt its own literal arguments (r19-verdict-caught): the batch
    // rides a LocalRelation, ConvertToLocalRelation folds the
    // deterministic surtKey projection at optimization time, and the
    // collect is a driver-side LocalTableScan. Pin: construction starts
    // no Spark job (JobCount drains the listener bus before and after, so
    // stale events from earlier tests are not counted).
    val index = Seq(("org,example)/doc/1", "example.org/doc/1"))
      .toDF("urlkey", "url")
    val (_, run) = JobCount.during(spark) {
      WarcSource.cdxLookup(index,
        (0 until 4).map(i => s"https://example.org/doc/$i"))
      WarcSource.cdxLookup(index,
        (0 until 40).map(i => s"https://example.org/doc/$i"))
    }
    assert(run.jobs == 0, s"cdxLookup construction ran ${run.jobs} jobs")
  }

  test("cdxDiff: added/removed/changed/same classification on urlkey") {
    val prev = Seq(
      ("com,a)/1", "d1"), ("com,a)/1", "d0"), // multi-capture: max = d1
      ("com,a)/2", "d2"), ("com,a)/3", "d3"))
      .toDF("urlkey", "digest")
    val next = Seq(
      ("com,a)/1", "d1"),   // same (prev collapsed to its max capture)
      ("com,a)/2", "d2x"),  // changed
      ("com,a)/4", "d4"),   // added; /3 removed
      ("com,a)/4", "d5"))   // multi-capture on the next side: max = d5
      .toDF("urlkey", "digest")
    val out = WarcSource.cdxDiff(prev, next).orderBy("urlkey")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getString(2), r.getString(3)))
    assert(out.toSeq == Seq(
      ("com,a)/1", "same", "d1", "d1"),
      ("com,a)/2", "changed", "d2", "d2x"),
      ("com,a)/3", "removed", "d3", null),
      ("com,a)/4", "added", null, "d5")))
    // both sides empty: empty diff, not a crash
    val empty = prev.where(lit(false))
    assert(WarcSource.cdxDiff(empty, empty).count() == 0)
  }

  test("WAT: envelope JSON, HTML gating, and the .warc.wat.gz round-trip") {
    val docs = Seq(
      (1L, "<html><head><title>T one</title></head>" +
        "<body><a href=\"https://x.org/a\">a</a> <a href=/b#frag>b</a></body></html>",
        "https://site.org/1"),
      (2L, "<html><head></head><body>no links, no title</body></html>",
        "https://site.org/2")
    ).toDF("doc_id", "text", "url")
    val dir = freshDir("wat-spec-src")
    val watDir = freshDir("wat-spec-out")
    WarcSource.export(docs, dir, urlCol = Some("url"),
      mime = "text/html; charset=utf-8")
    val wat = WarcSource.watRecords(WarcSource.records(spark, dir))
      .orderBy("record_id").collect()
    assert(wat.length == 2)
    val j1 = wat(0).getAs[String]("wat")
    // exact envelope for the linkful page: compact to_json rendering,
    // declared field order, raw hrefs in document order (unquoted form
    // included, fragment stripped by the quoted scan's '#' stop)
    assert(j1 ==
      """{"Envelope":{"Format":"WARC","WARC-Header-Metadata":{"WARC-Type":"response","WARC-Target-URI":"https://site.org/1","WARC-Record-ID":"<urn:graft:doc:1>"},"Payload-Metadata":{"Actual-Content-Type":"application/http; msgtype=response","HTTP-Response-Metadata":{"Response-Message":{"Status":"200"},"Headers":{"Content-Type":"text/html; charset=utf-8"},"HTML-Metadata":{"Head":{"Title":"T one"},"Links":[{"path":"A@/href","url":"https://x.org/a"},{"path":"A@/href","url":"/b"}]}}}}}""",
      j1)
    // title-less page: Title key OMITTED (never "null"), Links empty
    val j2 = wat(1).getAs[String]("wat")
    assert(j2.contains("\"Head\":{},\"Links\":[]"), j2)
    assert(!j2.contains("Title"), j2)
    // a NON-html response gets no HTML-Metadata key at all
    val plainDir = freshDir("wat-spec-plain")
    WarcSource.export(docs.select(col("doc_id"),
      lit("just text with <a href=x>ignored</a>").as("text"), col("url")),
      plainDir, urlCol = Some("url"))
    val jp = WarcSource.watRecords(WarcSource.records(spark, plainDir))
      .orderBy("record_id").collect()(0).getAs[String]("wat")
    assert(!jp.contains("HTML-Metadata"), jp)
    assert(jp.contains("\"Content-Type\":\"text/plain; charset=utf-8\""), jp)
    // .warc.wat.gz round-trip: metadata records, Refers-To linkage,
    // payload byte-identical, and the same records() front door reads
    // them (CC naming keeps the file inside the *.warc* glob)
    WarcSource.watExport(
      WarcSource.watRecords(WarcSource.records(spark, dir)), watDir)
    val back = WarcSource.records(spark, watDir)
    val meta = back.where(col("warc_type") === "metadata")
      .orderBy("record_id").collect()
    assert(meta.length == 2)
    assert(meta(0).getAs[String]("refers_to") == "<urn:graft:doc:1>")
    assert(meta(0).getAs[String]("target_uri") == "https://site.org/1")
    assert(meta(0).getAs[String]("content_type") == "application/json")
    assert(meta(0).getAs[String]("body") == j1)
    assert(meta(1).getAs[String]("body") == j2)
    assert(back.where(col("warc_type") === "warcinfo").count() == 1)
  }

  test("http_headers capture + X-Robots-Tag directives + safe content-length") {
    val dir = freshDir("warc-xr-spec")
    val docs = Seq(
      (1L, "one", "X-Robots-Tag: noindex, nofollow"),
      (2L, "two", "X-Robots-Tag: googlebot: noindex"),
      (3L, "three", "")
    ).toDF("doc_id", "text", "xhdr")
    WarcSource.export(docs, dir, httpHeaderCol = Some("xhdr"))
    val recs = WarcSource.records(spark, dir)
      .where(col("warc_type") === "response").orderBy("record_id")
    val rows = recs.select(col("record_id"), col("http_headers"),
      WarcSource.xRobots(col("http_headers")).as("x")).collect()
    // the full header map rides along, names lowercased
    val h1 = rows(0).getAs[Map[String, String]]("http_headers")
    assert(h1("content-type") == "text/plain; charset=utf-8")
    assert(h1("x-robots-tag") == "noindex, nofollow")
    assert(rows(0).getAs[org.apache.spark.sql.Row]("x") ==
      org.apache.spark.sql.Row(true, true))
    // agent-scoped form reads globally (conservative subset)
    assert(rows(1).getAs[org.apache.spark.sql.Row]("x") ==
      org.apache.spark.sql.Row(true, false))
    // absent header: both false; map still present for HTTP records
    assert(rows(2).getAs[org.apache.spark.sql.Row]("x") ==
      org.apache.spark.sql.Row(false, false))
    assert(rows(2).getAs[Map[String, String]]("http_headers")
      .contains("content-type"))
    // REPEATED header lines join per RFC 9110 list semantics, so a
    // second X-Robots-Tag still governs (review-caught); Content-Type
    // keeps its first occurrence
    val repDir = freshDir("warc-xr-rep")
    WarcSource.export(Seq((1L, "r", "X-Robots-Tag: noarchive\r\n" +
      "X-Robots-Tag: noindex")).toDF("doc_id", "text", "xhdr"),
      repDir, httpHeaderCol = Some("xhdr"))
    val rep = WarcSource.records(spark, repDir)
      .where(col("warc_type") === "response")
      .select(col("http_headers"),
        WarcSource.xRobots(col("http_headers")).as("x")).collect()(0)
    assert(rep.getAs[Map[String, String]]("http_headers")("x-robots-tag") ==
      "noarchive, noindex")
    assert(rep.getAs[org.apache.spark.sql.Row]("x") ==
      org.apache.spark.sql.Row(true, false))
    // non-HTTP records (warcinfo) carry a null header map
    val info = WarcSource.records(spark, dir)
      .where(col("warc_type") === "warcinfo").collect()(0)
    assert(info.getAs[Map[String, String]]("http_headers") == null)
    // malformed Content-Length degrades instead of throwing: hand-roll
    // a record with garbage and absurd values
    val raw = ("WARC/1.0\r\nWARC-Type: resource\r\n" +
      "Content-Length: notanumber\r\n\r\n" +
      "WARC/1.0\r\nWARC-Type: resource\r\n" +
      "Content-Length: 99999999999999999999\r\n\r\nx").getBytes("UTF-8")
    val f = new java.io.File(dir, "seg-junk.warc")
    java.nio.file.Files.write(f.toPath, raw)
    val parsed = WarcSource.records(spark, dir)
      .where(col("warc_type") === "resource").collect()
    assert(parsed.length == 2) // both parse (length 0), neither throws
  }

  test("HTTP transport decode: chunked framing, gzip/deflate bodies, degradation") {
    val dir = freshDir("warc-transport-unit")
    // multi-byte UTF-8 (2-, 3-, 4-byte sequences) + length > several
    // chunks, so the 7-byte chunk boundaries fall INSIDE sequences
    val txt = "transport body é € 𝄞 and a tail that spans chunks"
    val docs = Seq(
      (1L, txt, ""), (2L, txt, "chunked"), (3L, txt, "gzip"),
      (4L, txt, "deflate"), (5L, txt, "chunked+gzip"),
      (6L, txt, "zstd"), (7L, txt, "chunked+zstd")
    ).toDF("doc_id", "text", "enc")
    WarcSource.export(docs, dir, transportCol = Some("enc"))
    val rows = WarcSource.records(spark, dir)
      .where(col("warc_type") === "response")
      .orderBy("record_id").collect()
    assert(rows.length == 7)
    rows.foreach { r => assert(r.getAs[String]("body") == txt, r) }
    // the declared framing really was on the wire (headers survive)
    val h = rows.map(_.getAs[Map[String, String]]("http_headers"))
    assert(!h(0).contains("transfer-encoding") && !h(0).contains("content-encoding"))
    assert(h(1)("transfer-encoding") == "chunked")
    assert(h(2)("content-encoding") == "gzip")
    assert(h(3)("content-encoding") == "deflate")
    assert(h(4)("transfer-encoding") == "chunked" &&
      h(4)("content-encoding") == "gzip")
    assert(h(5)("content-encoding") == "zstd")
    assert(h(6)("transfer-encoding") == "chunked" &&
      h(6)("content-encoding") == "zstd")
    // body_bytes carries the DECODED payload (downstream binary
    // consumers must see content, not framing)
    assert(new String(rows(4).getAs[Array[Byte]]("body_bytes"), "UTF-8") == txt)

    // dechunk units: chunk extension skipped, trailer consumed,
    // malformed/truncated framing degrades to None
    def dc(s: String) = WarcSource.dechunk(s.getBytes("UTF-8"))
      .map(new String(_, "UTF-8"))
    assert(dc("3;x=y\r\nabc\r\n0\r\nX-T: v\r\n\r\n") == Some("abc"))
    assert(dc("3\r\nabc\r\n0\r\n\r\n") == Some("abc"))
    assert(dc("3\r\nabc\r\n0\r\n") == Some("abc")) // lenient: EOF at trailer
    assert(dc("zz\r\nabc\r\n0\r\n\r\n") == None)   // bad hex
    assert(dc("5\r\nab") == None)                  // truncated chunk
    assert(dc("3\r\nabcXY0\r\n\r\n") == None)      // missing data CRLF
    assert(dc("") == None)

    // unknown coding (br) degrades: raw bytes kept, text decode
    // suppressed — mojibake never enters the corpus as "text"
    val raw = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Record-ID: <urn:x:1>\r\nWARC-Target-URI: https://x/1\r\n" +
      "Content-Type: application/http; msgtype=response\r\n" +
      "Content-Length: 73\r\n\r\n" +
      "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
      "Content-Encoding: br\r\n\r\nBRBYTES\r\n\r\n").getBytes("UTF-8")
    val f = new java.io.File(dir, "seg-junk.warc")
    java.nio.file.Files.write(f.toPath, raw)
    val junk = WarcSource.records(spark, dir)
      .where(col("record_id") === "<urn:x:1>").collect()(0)
    assert(junk.getAs[String]("body") == null)
    assert(new String(junk.getAs[Array[Byte]]("body_bytes"), "UTF-8") == "BRBYTES")

    // a CORRUPT zstd stream degrades identically (r19: zstd now
    // decodes, so only a broken frame takes this path)
    val zraw = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Record-ID: <urn:x:2>\r\nWARC-Target-URI: https://x/2\r\n" +
      "Content-Type: application/http; msgtype=response\r\n" +
      "Content-Length: 75\r\n\r\n" +
      "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
      "Content-Encoding: zstd\r\n\r\nNOTZSTD\r\n\r\n").getBytes("UTF-8")
    java.nio.file.Files.write(
      new java.io.File(dir, "seg-junk2.warc").toPath, zraw)
    val zjunk = WarcSource.records(spark, dir)
      .where(col("record_id") === "<urn:x:2>").collect()(0)
    assert(zjunk.getAs[String]("body") == null)
    assert(new String(zjunk.getAs[Array[Byte]]("body_bytes"), "UTF-8") == "NOTZSTD")

    // a decompression bomb (66 MiB of zeros behind a ~70 KB gzip)
    // degrades the RECORD — raw bytes kept, text suppressed — instead
    // of OOMing the task (review-caught)
    val bomb = {
      val o = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(o)
      val z = new Array[Byte](1 << 20)
      for (_ <- 0 until 66) g.write(z)
      g.close(); o.toByteArray
    }
    val bHead = ("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n" +
      "Content-Encoding: gzip\r\n\r\n").getBytes("UTF-8")
    val bPayload = bHead ++ bomb
    val bRec = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Record-ID: <urn:x:bomb>\r\nWARC-Target-URI: https://x/b\r\n" +
      "Content-Type: application/http; msgtype=response\r\n" +
      s"Content-Length: ${bPayload.length}\r\n\r\n").getBytes("UTF-8") ++
      bPayload ++ "\r\n\r\n".getBytes("UTF-8")
    java.nio.file.Files.write(
      new java.io.File(dir, "seg-bomb.warc").toPath, bRec)
    val bombRow = WarcSource.records(spark, dir)
      .where(col("record_id") === "<urn:x:bomb>").collect()(0)
    assert(bombRow.getAs[String]("body") == null)
    assert(bombRow.getAs[Array[Byte]]("body_bytes").length == bomb.length)
  }

  test("transport decode composes with HTML consumers (p92/p127 shape)") {
    val dir = freshDir("warc-transport-html")
    val html = "<html><head><title>T1</title>" +
      "<meta name=robots content=\"noindex\"></head>" +
      "<body><p>Long enough paragraph of real prose content here.</p>" +
      "<a href=\"/next\">next</a></body></html>"
    val docs = Seq((1L, html, "chunked+gzip"), (2L, html, "deflate"))
      .toDF("doc_id", "text", "enc")
    WarcSource.export(docs, dir, transportCol = Some("enc"),
      mime = "text/html")
    val recs = WarcSource.records(spark, dir)
      .where(col("warc_type") === "response")
    val got = recs.select(
      graft.operators.Html.metaRobots(col("body")).getField("noindex").as("ni"),
      graft.operators.Html.extractLinks(col("body")).as("links")).collect()
    got.foreach { r =>
      assert(r.getBoolean(0), r)
      assert(r.getSeq[String](1) == Seq("/next"), r)
    }
  }

  test("redirectEdges: 3xx + Location become resolved edges; others don't") {
    val dir = freshDir("warc-redirect-unit")
    val docs = Seq(
      (1L, "ok", "200 OK", ""),
      (2L, "moved", "301 Moved Permanently",
        "Location: https://other.com/new"),
      (3L, "rel", "302 Found", "Location: /m/3"),
      (4L, "dots", "308 Permanent Redirect", "Location: ../r/4"),
      (5L, "no-loc", "301 Moved Permanently", ""), // 3xx, header missing
      (6L, "not-3xx", "404 Not Found", "Location: /decoy")
    ).toDF("doc_id", "text", "st", "loc")
    WarcSource.export(docs, dir, statusCol = Some("st"),
      httpHeaderCol = Some("loc"))
    val edges = WarcSource.redirectEdges(WarcSource.records(spark, dir))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(edges == Seq(
      ("example.org/doc/2", "other.com/new", 301L),
      ("example.org/doc/3", "example.org/m/3", 302L),
      ("example.org/doc/4", "example.org/r/4", 308L)), edges)
    // the underlying status parse carried the per-doc line
    val sts = WarcSource.records(spark, dir)
      .where(col("warc_type") === "response")
      .orderBy("record_id").collect().map(_.getAs[Int]("status")).toSeq
    assert(sts == Seq(200, 301, 302, 308, 301, 404), sts)
  }

  test("charset decoding: BOM > header charset > meta prescan > UTF-8") {
    import graft.sources.WarcSource.decodeText
    // a BOM wins, even over a contradicting header
    val utf16 = Array(0xFF.toByte, 0xFE.toByte) ++
      "héllo 𝄞".getBytes("UTF-16LE")
    assert(decodeText(utf16, "text/plain; charset=iso-8859-1") == "héllo 𝄞")
    val bomUtf8 = Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
      "x é".getBytes("UTF-8")
    assert(decodeText(bomUtf8, null) == "x é")
    assert(decodeText(Array(0xFE.toByte, 0xFF.toByte) ++
      "ab".getBytes("UTF-16BE"), null) == "ab")
    // header charset: quoted, case-insensitive, real legacy names
    assert(decodeText("café".getBytes("ISO-8859-1"),
      "text/plain; CHARSET=\"ISO-8859-1\"") == "café")
    assert(decodeText("€uro".getBytes("windows-1252"),
      "text/html; charset=windows-1252") == "€uro")
    // meta prescan: html only, both <meta charset> and http-equiv forms
    val meta1 = "<html><head><meta charset=windows-1252></head>" +
      "<body>€</body></html>"
    assert(decodeText(meta1.getBytes("windows-1252"), "text/html")
      .contains("€"))
    val meta2 = "<html><head><meta http-equiv=\"Content-Type\" " +
      "content=\"text/html; charset=iso-8859-1\"></head>" +
      "<body>café</body></html>"
    assert(decodeText(meta2.getBytes("ISO-8859-1"), "text/html")
      .contains("café"))
    // the prescan does NOT apply to non-html types
    assert(!decodeText(meta1.getBytes("windows-1252"), "text/plain")
      .contains("€"))
    // unknown charset names fall back to UTF-8; malformed bytes
    // REPLACE, never throw
    assert(decodeText("ok".getBytes("UTF-8"),
      "text/plain; charset=x-wat-9") == "ok")
    assert(decodeText(Array(0xE9.toByte), "text/plain") == "�")
    // a "charset=" mention inside an UNRELATED attribute value must
    // not hijack the page's decoding (review-caught)
    val decoy = "<html><head><meta property=\"og:description\" " +
      "content=\"how to fix charset=big5 errors\"></head>" +
      "<body>café</body></html>"
    assert(decodeText(decoy.getBytes("UTF-8"), "text/html")
      .contains("café"))
    // a '>' inside a QUOTED attribute value must not end the meta-tag
    // capture early and lose a charset declared after it
    // (advisor-caught; the HTML5 prescan is quote-aware here)
    val quotedGt = "<html><head><meta content=\"a > b\" " +
      "charset=windows-1252></head><body>€uro café</body></html>"
    assert(decodeText(quotedGt.getBytes("windows-1252"), "text/html")
      .contains("€uro café"))
    // quotes open a span ONLY in value position (review-caught): a
    // bare apostrophe in an UNQUOTED value must not truncate the
    // capture before a later charset attribute...
    val apos = "<html><head><meta name=a content=O'Brien " +
      "charset=windows-1252></head><body>€uro café</body></html>"
    assert(decodeText(apos.getBytes("windows-1252"), "text/html")
      .contains("€uro café"))
    // ...nor pair with a later quote, overrun the real tag end, and
    // harvest a bogus charset from body text
    val overrun = "<html><head><meta content=don't></head>" +
      "<body>use charset=big5 y'all — café</body></html>"
    assert(decodeText(overrun.getBytes("UTF-8"), "text/html")
      .contains("café"))
    // a BOM-less utf-16 LABEL is an authoring error: HTML5 remaps it
    // to UTF-8 — decoding 8-bit bytes as UTF-16 would be CJK garbage
    // (review-caught)
    val lie = "<html><head><meta charset=\"utf-16\"></head>" +
      "<body>plain ascii text here</body></html>"
    assert(decodeText(lie.getBytes("UTF-8"), "text/html")
      .contains("plain ascii text here"))
  }

  test("xRobots: valued directives never read as separators; agent prefix strips") {
    // advice-caught: ':' as a token separator made max-image-preview:none
    // set both flags. Valued directives keep their ':'+value opaque;
    // ONE leading agentname: prefix (with or without a space) strips.
    val cases = Seq(
      ("max-image-preview:none", false, false),
      ("max-snippet:0, noindex", true, false),
      ("max-video-preview:-1, nofollow", false, true),
      ("unavailable_after: 25 Jun 2026 15:00:00 PST", false, false),
      ("googlebot:noindex", true, false), // no space after agent ':'
      ("googlebot: none", true, true),
      ("otherbot: nofollow, noarchive", false, true),
      // RFC 9110 comma-join of two headers puts the second agent
      // prefix MID-value (review-caught)
      ("noindex, otherbot:nofollow", true, true),
      ("noarchive, bot.name:none", true, true),
      // valued directives with a SPACE after ':' (Google's own doc
      // format) must not detach their value as a token, in plain and
      // agent-scoped positions (review-caught)
      ("max-image-preview: none", false, false),
      ("googlebot: max-image-preview: none", false, false),
      ("max-snippet: 0, noindex", true, false),
      ("noindex", true, false),
      ("none", true, true))
    val got = cases.map(_._1).toDF("v")
      .select(col("v"), WarcSource.xRobots(
        map(lit("x-robots-tag"), col("v"))).as("x"))
      .collect().map(r => (r.getString(0),
        r.getStruct(1).getBoolean(0), r.getStruct(1).getBoolean(1)))
    assert(got.toSeq == cases, got.toSeq)
  }
}
