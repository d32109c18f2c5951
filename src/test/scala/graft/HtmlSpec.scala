package graft

import graft.operators.{Corpus, Html, UrlOps}
import org.apache.spark.sql.functions._

class HtmlSpec extends SparkSpec {

  import spark.implicits._

  private def extract(html: String): String =
    Seq(html).toDF("h").select(Html.htmlToText(col("h")).as("t"))
      .as[String].collect().head

  test("htmlToText: script/style/comment contents never leak") {
    // the script body embeds tags AND a fake close-looking string; only
    // the first real </script> may end it
    val html = "<html><head><style>p{color:red}</style>" +
      "<script>var s=\"<p>hidden</p>\";</script></head>" +
      "<body><!-- note with <b>markup</b> --><p>visible</p></body></html>"
    assert(extract(html) == "visible")
    // two script blocks: non-greedy match must not swallow text between
    assert(extract("<script>a</script><p>kept</p><script>b</script>") ==
      "kept")
  }

  test("htmlToText: block closes break lines, inline tags do not") {
    val html = "<h1>Title</h1><p>one <b>bold</b> two</p><div>three</div>" +
      "<ul><li>item a</li><li>item b</li></ul>four<br>five<hr/>six"
    assert(extract(html) ==
      "Title\none bold two\nthree\nitem a\nitem b\nfour\nfive\nsix")
  }

  test("htmlToText: entity decode, &amp; last so double-encoding survives") {
    assert(extract("<p>a &lt;tag&gt; &quot;q&quot; it&#39;s x&nbsp;y &amp; z</p>") ==
      "a <tag> \"q\" it's x y & z")
    // double-encoded &amp;lt; must yield the literal text "&lt;", not "<"
    assert(extract("<p>&amp;lt;</p>") == "&lt;")
  }

  test("htmlToText: whitespace collapses, blank lines drop") {
    assert(extract("<p>  a\t\tb  </p><p>   </p><p>\r\n</p><p>c</p>") ==
      "a b\nc")
    assert(extract("<p></p>") == "")
  }

  test("extractLinks: both quote styles, fragment cut at extraction") {
    val links = Seq(
      "<a href=\"https://a.com/x\">1</a> <A HREF='https://b.com/y#frag'>2</A>" +
        " <a class=\"z\" href=\"/rel/p?q=1\">3</a> <p>no link</p>")
      .toDF("h").select(explode(Html.extractLinks(col("h"))).as("l"))
      .as[String].collect().toSeq
    assert(links == Seq("https://a.com/x", "https://b.com/y", "/rel/p?q=1"))
  }

  test("extractLinks: unquoted hrefs; no phantom links from attrs or values") {
    val links = Seq(
      // unquoted values end at whitespace or '>'; fragment cut too
      "<a href=/page one</a> <a href=https://c.com/q#f>two</a>" +
        // a data-href attribute and an 'href=' substring INSIDE a quoted
        // value must not register
        " <a data-href=trap>x</a> <a href=\"/x?href=y\">q</a>")
      .toDF("h").select(explode(Html.extractLinks(col("h"))).as("l"))
      .as[String].collect().toSeq
    assert(links.sorted == Seq("/page", "/x?href=y", "https://c.com/q"))
  }

  test("extractLinks: href= inside a quoted value never yields a phantom link") {
    // the r14 regex let WHITESPACE inside a quoted attribute value
    // satisfy the \s-before-href guard; the quote-skipping attribute
    // walk consumes quoted values atomically, so neither tag below
    // emits the embedded 'href=' — while a real href ANYWHERE after
    // such a value still extracts
    val links = Seq(
      "<a title=\"see href=foo\">x</a>" +
        " <a class=\"x\" onclick=\"go href=evil\">y</a>" +
        " <a title='see href=bad' href=/real>z</a>")
      .toDF("h").select(explode(Html.extractLinks(col("h"))).as("l"))
      .as[String].collect().toSeq
    assert(links == Seq("/real"))
  }

  test("extractBase: document-order first occurrence wins across quote styles") {
    // one alternation extracts both styles, so an EARLIER unquoted
    // base beats a later quoted one (the r14 two-regex version
    // preferred quoted unconditionally)
    val bases = Seq(
      "<base href=/early/> <base href=\"https://late.example/lib\">",
      "<base href=\"https://first.example/q\"> <base href=/second/>",
      "<p>none</p>")
      .toDF("h").select(Html.extractBase(col("h")).as("b"))
      .as[String].collect().toSeq
    assert(bases == Seq("/early/", "https://first.example/q", null))
  }

  test("extractBase + resolveHref: <base href> re-roots relative references") {
    val rows = Seq(
      // absolute base: host- and path-relative re-root; absolute hrefs don't
      ("https://a.com/p/1", "<base href=\"https://cdn.b.org/lib/v1\">", "/x"),
      ("https://a.com/p/1", "<base href=\"https://cdn.b.org/lib/v1\">", "y"),
      ("https://a.com/p/1", "<base href=\"https://cdn.b.org/lib/v1\">",
        "https://c.com/z"),
      // unquoted base; relative base resolves against the page first
      ("https://a.com/p/1", "<base href=/assets/>", "y"),
      // no base: page is its own base
      ("https://a.com/p/1", "<p>none</p>", "y"))
      .toDF("page", "html", "href")
      .select(UrlOps.canonicalizeUrl(Html.resolveHref(
        col("page"), col("href"), Html.extractBase(col("html")))).as("r"))
      .as[String].collect().toSeq
    assert(rows == Seq("cdn.b.org/x", "cdn.b.org/lib/y", "c.com/z",
      "a.com/assets/y", "a.com/p/y"))
  }

  test("resolveHref: absolute, root-relative, protocol-relative, path-relative") {
    val rows = Seq(
      ("https://www.Host-a.com:443/page/1", "https://b.com/x"),
      ("https://www.Host-a.com:443/page/1", "/x/y?q=1"),
      ("https://www.Host-a.com:443/page/1", "//c.com/z"),
      // path-relative: sibling, ./, ../, multi-.., past-root clamp
      ("https://a.com/docs/guide/page1", "page2"),
      ("https://a.com/docs/guide/page1", "./local"),
      ("https://a.com/docs/guide/page1", "../other/x"),
      ("https://a.com/docs/guide/page1", "../../top"),
      ("https://a.com/p", "../../up"),
      ("https://a.com", "rooted"))
      .toDF("page", "href")
      .select(UrlOps.canonicalizeUrl(
        Html.resolveHref(col("page"), col("href"))).as("r"))
      .as[String].collect().toSeq
    assert(rows == Seq("b.com/x", "host-a.com/x/y?q=1", "c.com/z",
      "a.com/docs/guide/page2", "a.com/docs/guide/local",
      "a.com/docs/other/x", "a.com/top", "a.com/up", "a.com/rooted"))
  }

  test("extractTables: positional indexes, th+td cells, tag strip, entity decode") {
    val pages = Seq(
      (1L, "<p>no tables here</p>"),
      (2L, "<table><tr><th>H1</th><th>H2</th></tr>" +
        "<tr><td><b>bold</b> cell</td><td>a &amp; b</td></tr></table>" +
        "<div><table class=\"x\"><tr><td>solo</td></tr></table></div>"))
      .toDF("doc_id", "html")
    val out = Html.extractTables(pages).orderBy("id", "table_idx", "row_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    assert(out.toSeq == Seq(
      (2L, 0L, 0L, 2L, "H1|H2"),
      (2L, 0L, 1L, 2L, "bold cell|a & b"),
      (2L, 1L, 0L, 1L, "solo")))
  }

  test("tablesToMarkdown: header + alignment + data lines, GFM pipe format") {
    val pages = Seq(
      (2L, "<table><tr><th>H1</th><th>H2</th></tr>" +
        "<tr><td>a</td><td>b</td></tr><tr><td>c</td><td>d</td></tr></table>"))
      .toDF("doc_id", "html")
    val out = Html.tablesToMarkdown(pages)
      .orderBy("id", "table_idx", "line_idx")
      .collect().map(r => (r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (0L, "| H1 | H2 |"),
      (1L, "| --- | --- |"),
      (2L, "| a | b |"),
      (3L, "| c | d |")))
  }

  test("linkGraph plan stays small: base derivation never inlines per edge") {
    // Predicate pushdown substitutes dst_url's expression into the
    // self-loop filter's conjuncts wholesale; if the per-page base
    // derivation ever rides inside the per-edge chain again (instead
    // of as attributes below the Generate), canonicalizeUrl's internal
    // fan-out compounds it to a multi-megabyte plan and a ~100x
    // slowdown (the r14 p95/p98 regression: 2.3 s -> 290 s). Pin the
    // whole optimized plan under a generous ceiling.
    val pages = Seq(("https://a.com/p/1", "<a href=\"/x\">l</a>"))
      .toDF("url", "html")
    val n = Html.linkGraph(pages).queryExecution.optimizedPlan.toString.length
    assert(n < 200000, s"linkGraph optimized plan blew up to $n chars")
  }

  test("linkGraph: canonical edges, dedup, self-loops and empties drop") {
    val pages = Seq(
      // page 1: a dup'd link, a self-link (tracking-param spelling of
      // itself), and an empty href — only one real edge survives
      ("https://www.one.com/p", "<a href=\"https://two.com/x\">a</a>" +
        "<a href='https://two.com/x?utm_source=s'>b</a>" +
        "<a href=\"https://one.com/p?fbclid=f\">self</a><a href=\"\">e</a>"),
      // page 2: root-relative resolves against ITS host
      ("https://two.com/q", "<a href=\"/deep/r\">c</a>"))
      .toDF("url", "html")
    val edges = Html.linkGraph(pages)
      .orderBy("src_url", "dst_url")
      .as[(String, String)].collect().toSeq
    assert(edges == Seq(
      ("one.com/p", "two.com/x"),
      ("two.com/q", "two.com/deep/r")))
  }

  test("surtKey: host labels reverse, port drops, path+query lowercase") {
    val keys = Seq(
      "https://www.Shop.Example.co.uk:8443/A/B?X=1",
      "https://example.com/",
      "http://example.com:80/Pg/9?b=2&a=1#f")
      .toDF("url").select(UrlOps.surtKey(col("url")).as("k"))
      .as[String].collect().toSeq
    assert(keys == Seq(
      "uk,co,example,shop)/a/b?x=1",
      "com,example)",
      "com,example)/pg/9?a=1&b=2"))
  }

  test("sftRender: spans index the rendered string exactly") {
    val convs = Seq(
      (1L, Seq(("system", "Be good."), ("user", "hi there"),
        ("assistant", "hello! how can I help?"), ("user", "sum 2+2"),
        ("assistant", "4"))),
      (2L, Seq(("user", "no reply yet"))), // no assistant turn -> no rows
      (3L, Seq(("assistant", "")))) // empty content -> empty span
      .toDF("conv_id", "raw")
      .select(col("conv_id"), transform(col("raw"), t =>
        struct(t.getField("_1").as("role"), t.getField("_2").as("content")))
        .as("turns"))
    val out = Corpus.sftRender(convs).orderBy("conv_id", "turn_idx")
      .collect()
    val rendered = convs.select(col("conv_id"),
      Corpus.sftRendered(col("turns")).as("r"))
      .as[(Long, String)].collect().toMap
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 1L, 3L))
    // THE invariant: substring(rendered, start, end) == the turn content
    val r1 = rendered(1L)
    val spans = out.filter(_.getLong(0) == 1L)
      .map(r => (r.getLong(2).toInt, r.getLong(3).toInt))
    assert(spans.map { case (s, e) => r1.substring(s, e) }.toSeq ==
      Seq("hello! how can I help?", "4"))
    // n_chars_total is the full rendered length, on every row
    assert(out.filter(_.getLong(0) == 1L)
      .forall(_.getLong(4) == r1.length.toLong))
    // conv 3: empty assistant content -> zero-width span, still emitted
    val c3 = out.find(_.getLong(0) == 3L).get
    assert(c3.getLong(2) == c3.getLong(3))
    assert(c3.getLong(1) == 0L) // turn_idx of the single turn
    assert(rendered(3L).length.toLong == c3.getLong(4))
  }

  test("sftPack: masks land on assistant bytes inside the materialized pack") {
    val convs = Seq(
      (0L, Seq(("user", "hi"), ("assistant", "hello there my friend"))),
      (1L, Seq(("user", "what"), ("assistant", "answer one"))),
      (2L, Seq(("system", "s"), ("assistant", "final words"))))
      .toDF("conv_id", "raw")
      .select(col("conv_id"), transform(col("raw"), t =>
        struct(t.getField("_1").as("role"), t.getField("_2").as("content")))
        .as("turns"))
    val rendered = convs.select(col("conv_id"),
      Corpus.sftRendered(col("turns")).as("r"))
      .as[(Long, String)].collect().sortBy(_._1).map(_._2)
    // packs bin by START position (the p21 contiguous-binning rule):
    // budget = len(r0) puts conv 0 in pack 0 and convs 1+2 — starting
    // at len(r0) and len(r0)+len(r1) < 2*len(r0) — in pack 1
    assert(rendered(1).length < rendered(0).length)
    val budget = rendered(0).length
    val out = Corpus.sftPack(convs, budget = budget, nShards = 1)
      .orderBy("conv_id").collect()
    assert(out.map(r => (r.getAs[Long]("conv_id"), r.getAs[Long]("pack_id")))
      .toSeq == Seq((0L, 0L), (1L, 1L), (2L, 1L)))
    // materialize each pack by concatenating members in id order; the
    // remapped masks must cut exactly the assistant contents
    val packs = Map(0L -> rendered(0), 1L -> (rendered(1) + rendered(2)))
    val cut = out.map { r =>
      packs(r.getAs[Long]("pack_id")).substring(
        r.getAs[Long]("mask_start").toInt, r.getAs[Long]("mask_end").toInt)
    }
    assert(cut.toSeq == Seq("hello there my friend", "answer one", "final words"))
    // a conversation larger than the budget still gets a pack of its own
    val solo = Corpus.sftPack(convs, budget = 1, nShards = 1)
      .orderBy("conv_id").collect()
    assert(solo.map(_.getAs[Long]("pack_id")).distinct.length == 3)
    assert(solo.forall(r => r.getAs[Long]("mask_start") >= 0))
  }

  test("pageRank: exact fixed-point — uniform cycle, dangling leak, simulator parity") {
    import graft.operators.Html.RankScale
    // two-node cycle: perfectly symmetric, ranks stay EXACTLY uniform
    val cycle = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val cr = Html.pageRank(cycle, iterations = 10)
      .as[(Long, Long)].collect().toMap
    assert(cr == Map(1L -> RankScale / 2, 2L -> RankScale / 2))

    // dangling node: A -> B only; B's mass leaks (documented), exact values
    val dang = Seq((1L, 2L)).toDF("src", "dst")
    val dr = Html.pageRank(dang, iterations = 2)
      .as[(Long, Long)].collect().toMap
    val tele = (RankScale * 15 / 100) / 2
    assert(dr(1L) == tele)
    assert(dr(2L) == tele + 85L * tele / 100) // A holds tele after iter 1
    assert(dr.values.sum < RankScale) // the leak

    // asymmetric graph vs a plain-Scala reference simulator, 10 iters
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L), (3L, 2L), (3L, 0L))
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val teleS = (RankScale * 15 / 100) / nodes.size
    var r = nodes.map(_ -> RankScale / nodes.size).toMap
    for (_ <- 1 to 10) {
      val cin = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => r(s) / outdeg(s) }.sum).toMap
      r = nodes.map(n => n -> (teleS + 85L * cin.getOrElse(n, 0L) / 100)).toMap
    }
    val got = Html.pageRank(edges.toDF("src", "dst"), iterations = 10)
      .as[(Long, Long)].collect().toMap
    assert(got == r)
    // the asymmetry is real: node 2 (3 in-links) outranks node 3 (none)
    assert(got(2L) > got(3L))
  }

  test("pageRank: dangling redistribution conserves mass to the floor-loss bound") {
    import graft.operators.Html.RankScale
    // star into a sink: 4 sources -> node 0 (dangling). Without the
    // correction the sink's mass leaks every round; with it Σr stays at
    // RankScale minus only the floor losses (< ~4N + |E| units/iter).
    val star = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L)).toDF("src", "dst")
    val iters = 10
    val leaky = Html.pageRank(star, iterations = iters)
      .as[(Long, Long)].collect().toMap
    val fixed = Html.pageRank(star, iterations = iters,
      redistributeDangling = true).as[(Long, Long)].collect().toMap
    val lossBound = iters.toLong * (4 * 5 + 4 + 5) // loose: per-iter floors
    assert(fixed.values.sum <= RankScale)
    assert(fixed.values.sum >= RankScale - lossBound,
      s"sum ${fixed.values.sum}")
    // the default really leaks: the sink holds ~85% of all mass, so two
    // iterations already lose most of it
    assert(leaky.values.sum < RankScale * 9 / 10)
    // redistribution preserves the ORDER (sink still outranks sources)
    assert(fixed(0L) > fixed(1L) && leaky(0L) > leaky(1L))
    // parity against a plain-Scala simulator with the same floor order
    val nodesS = Seq(0L, 1L, 2L, 3L, 4L)
    val teleS = (RankScale * 15 / 100) / 5
    var r = nodesS.map(_ -> RankScale / 5).toMap
    for (_ <- 1 to iters) {
      val dShare = r(0L) / 5 // node 0 is the only dangler
      val cin0 = (1L to 4L).map(s => r(s) / 1L).sum
      r = nodesS.map(n => n ->
        (teleS + 85L * ((if (n == 0L) cin0 else 0L) + dShare) / 100)).toMap
    }
    assert(fixed == r)
  }

  test("cdxIndex: export -> records -> index round trip, field exactness") {
    import graft.sources.WarcSource
    val dir = java.nio.file.Files.createTempDirectory("html-spec-cdx")
      .resolve("cdx").toString
    val docs = Seq(
      (1L, "alpha beta", "https://www.Site.com:443/One/1?b=2&a=1#f"),
      (2L, "gamma", "http://other.org/x/")).toDF("doc_id", "text", "url")
    WarcSource.export(docs, dir, docsPerFile = 10, urlCol = Some("url"))
    val idx = WarcSource.cdxIndex(WarcSource.records(spark, dir))
      .orderBy("urlkey").collect()
    assert(idx.map(_.getString(0)).toSeq ==
      Seq("com,site)/one/1?a=1&b=2", "org,other)/x"))
    assert(idx.map(_.getString(1)).toSeq ==
      Seq("site.com/One/1?a=1&b=2", "other.org/x"))
    assert(idx.forall(_.getLong(2) == 200L))
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest("alpha beta".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(idx.head.getString(3) == sha)
    assert(idx.map(_.getLong(4)).toSeq == Seq(10L, 5L))
  }

  test("mainContent: link-density and length screens, entity decode, order") {
    val page =
      "<html><body>" +
        "<nav><a href=\"/\">Home</a> <a href=\"/a\">About</a> " +
        "<a href=\"/c\">Contact</a></nav>" +
        "<p>a genuinely long content paragraph with many plain words</p>" +
        "<p>short one</p>" + // under 25 chars: length screen drops it
        "<p>See the <a href=\"/docs\">docs</a> for background " +
        "information and details &amp; more</p>" + // light link: kept
        "<p><a href=\"/x\">link link link link link</a> y</p>" + // dense
        "<footer>(c) s</footer>" +
        "</body></html>"
    val out = Html.mainContent(Seq((1L, page)).toDF("doc_id", "html"))
      .collect()(0)
    // blocks: nav, 4 paragraphs, footer (html/body wrappers clean empty)
    assert(out.getAs[Long]("n_blocks") == 6)
    assert(out.getAs[Long]("n_kept") == 2)
    assert(out.getAs[String]("main_text") ==
      "a genuinely long content paragraph with many plain words\n" +
        "See the docs for background information and details & more")
    // a page that is ALL boilerplate keeps nothing, yields '' not null
    val allNav = "<nav><a href=\"/\">Home</a> <a href=\"/b\">Blog</a></nav>"
    val none = Html.mainContent(Seq((2L, allNav)).toDF("doc_id", "html"))
      .collect()(0)
    assert(none.getAs[Long]("n_blocks") == 1 &&
      none.getAs[Long]("n_kept") == 0 &&
      none.getAs[String]("main_text") == "")
    // scripts/styles/comments never leak into a block's text
    val noisy = "<p>real words forming a long enough paragraph here" +
      "<script>var x = 'spam spam spam';</script></p><!-- c -->"
    val n = Html.mainContent(Seq((3L, noisy)).toDF("doc_id", "html"))
      .collect()(0)
    assert(n.getAs[String]("main_text") ==
      "real words forming a long enough paragraph here")
    // one narrow scan, zero exchanges
    val plan = Html.mainContent(Seq((1L, page)).toDF("doc_id", "html"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("anchorTexts: labeled edges — cleaning, resolution, phantom immunity") {
    val pages = Seq((
      "https://www.A.com/Dir/page?x=1",
      "<a href=\"https://B.com/t1\"><b>Bold</b> link &amp; more</a>" +
        "<a href='/abs'>root rel</a>" +
        "<a href=sib>path rel</a>" +
        "<a href=\"https://C.com/empty\"><img src=\"x.png\"></a>" + // no text
        "<a title=\"see href=evil\" href=\"https://D.com/ok\">real</a>" +
        "<a href=\"https://www.A.com/Dir/page?x=1\">self</a>"))
      .toDF("url", "html")
    val out = Html.anchorTexts(pages).orderBy("dst_url")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(out == Seq(
      ("a.com/Dir/sib", "path rel"),      // path case preserved; 'D' < 'a'
      ("a.com/abs", "root rel"),
      ("b.com/t1", "Bold link & more"),   // nested tag stripped, entity decoded
      ("d.com/ok", "real")))              // quoted-value href= never a phantom
    // empty-text and self-loop anchors dropped; plan is one narrow
    // scan + one Generate, no shuffle
    val plan = Html.anchorTexts(pages).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("Generate"), plan)
  }

  test("tag strip is quote-aware everywhere text becomes output") {
    import graft.operators.Html
    // a '>' inside a quoted attribute must not end the tag early and
    // leak attribute text; stray angle brackets in PROSE must survive
    // (the naive <[^>]*> deleted ' 5 ' from 'x < 5 > 3')
    val html = "<p title=\"a>b\">x &lt; 5 &gt; 3 and real text</p>" +
      "<!DOCTYPE html><p>second</p>"
    val txt = Seq(html).toDF("h").select(Html.htmlToText(col("h")).as("t"))
      .collect()(0).getString(0)
    assert(txt == "x < 5 > 3 and real text\nsecond", s"got '$txt'")
    // mainContent's block cleaner: same property
    val mc = Html.mainContent(Seq((1L,
      "<p title=\"x>y\">a genuinely long content paragraph here</p>"))
      .toDF("doc_id", "html")).collect()(0)
    assert(mc.getAs[String]("main_text") ==
      "a genuinely long content paragraph here")
    // table cells: a quoted '>' in a cell's inner tag stays out of text
    val cells = Html.extractTables(Seq((1L,
      "<table><tr><td><b title=\"p>q\">v1</b></td><td>v2</td></tr></table>"))
      .toDF("doc_id", "html")).collect()(0).getAs[String]("cells")
    assert(cells == "v1|v2", s"got '$cells'")
  }

  test("browser-consistent tag handling: lone quotes, PIs, embedded anchor markup") {
    import graft.operators.Html
    // unquoted value with an apostrophe (alt=John's) and an XHTML
    // prolog: both must strip (the strict walk left them verbatim)
    val t1 = Seq("<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
      "<img alt=John's photo><p>keep this text</p>" +
      "<a href=\"u\" onclick=alert('hi')>t</a>").toDF("h")
      .select(Html.htmlToText(col("h"))).collect()(0).getString(0)
    assert(t1 == "keep this text\nt", s"got '$t1'")
    // a quoted '>' in an ANCHOR's open tag must not count attribute
    // soup as link text: the prose block stays kept
    val page = "<p>a genuinely long paragraph with " +
      "<a title=\"x>y\" href=\"u\">click</a> and many plain words</p>"
    val mc = Html.mainContent(Seq((1L, page)).toDF("doc_id", "html"))
      .collect()(0)
    assert(mc.getAs[Long]("n_kept") == 1, mc.toString)
    assert(mc.getAs[String]("main_text").contains("click and many"))
    // a quoted '>' in the td's OWN attributes stays out of the cell
    val cells = Html.extractTables(Seq((1L,
      "<table><tr><td title=\"a>b\">v1</td><td>v2</td></tr></table>"))
      .toDF("doc_id", "html")).collect()(0).getAs[String]("cells")
    assert(cells == "v1|v2", s"got '$cells'")
    // Bootstrap-popover style: a literal <a href=...> INSIDE a quoted
    // attribute of a nested tag must neither abort the real anchor nor
    // surface as a phantom edge
    val popover = Seq(("https://real.com/p",
      "<a href=\"https://real.com/t\"><span data-content=\"" +
        "<a href='https://evil.com/x'>click</a>\">label</span></a>"))
      .toDF("url", "html")
    val out = Html.anchorTexts(popover)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(out == Seq(("real.com/t", "label")), out.toString)
  }

  test("anchorTexts: quoted '>' never corrupts the label; unclosed <a> never steals") {
    val pages = Seq((
      "https://a.com/p",
      // a '>' INSIDE a quoted attribute of the anchor itself and of a
      // nested tag: the quote-aware strip must remove both tags whole
      "<a title=\"x>y\" href=\"https://b.com/t\"><span title=\"p>q\">label</span></a>" +
        // unclosed anchor: must contribute NO labeled edge and must
        // not swallow the following well-formed anchor's text
        "<a href=\"https://c.com/unclosed\">orphan " +
        "<a href=\"https://d.com/ok\">kept</a>"))
      .toDF("url", "html")
    val out = Html.anchorTexts(pages).orderBy("dst_url")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(out == Seq(
      ("b.com/t", "label"),
      ("d.com/ok", "kept")))
  }

  test("mainContent: stopword-density screen drops prose-free blocks (jusText)") {
    val sw = Seq("the", "a", "and", "of")
    val page =
      "<p>the quick brown fox jumps over a lazy dog today</p>" + // 30% sw
        "<p>zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8 zq9 zq10</p>" + // 0% sw: drop
        "<p>short</p>" // length screen, unaffected by the new screen
    val out = Html.mainContent(Seq((1L, page)).toDF("doc_id", "html"),
      stopwords = sw, minStopwordBp = 500).collect()(0)
    assert(out.getAs[Long]("n_blocks") == 3)
    assert(out.getAs[Long]("n_kept") == 1)
    assert(out.getAs[String]("main_text") ==
      "the quick brown fox jumps over a lazy dog today")
    // exact threshold boundary: 1 stopword in 20 tokens = 500 bp PASSES
    val boundary = "<p>the " + (1 to 19).map(i => s"w$i").mkString(" ") + "</p>"
    val b = Html.mainContent(Seq((1L, boundary)).toDF("doc_id", "html"),
      stopwords = sw, minStopwordBp = 500).collect()(0)
    assert(b.getAs[Long]("n_kept") == 1)
    // default (no stopwords) keeps the two-screen behavior: zq block kept
    val d = Html.mainContent(Seq((1L, page)).toDF("doc_id", "html"))
      .collect()(0)
    assert(d.getAs[Long]("n_kept") == 2)
  }

  test("mainContent: giant link farm does not overflow the density math") {
    // link_len * 10000 at 32 bits goes negative past ~214,748 chars of
    // anchor text, wrongly PASSING the density screen for exactly the
    // giant link farms it exists to drop — both sides must multiply
    // in 64 bits
    val farm = "<p><a href=\"/x\">" + ("spam link " * 25000) + "</a></p>"
    val out = Html.mainContent(Seq((1L, farm)).toDF("doc_id", "html"))
      .collect()(0)
    assert(out.getAs[Long]("n_blocks") == 1)
    assert(out.getAs[Long]("n_kept") == 0,
      "250k-char all-anchor block must fail the link-density screen")
    assert(out.getAs[String]("main_text") == "")
  }

  test("pathological tags: possessive walks never overflow the stack") {
    // a stray '<name' followed by 100 KB of prose before the next '>':
    // the old per-char walk threw StackOverflowError (an Error — it
    // kills the Spark task) at ~3 KB even on a SUCCESSFUL match
    assert(extract("<p " + ("x" * 100000) + ">rest") == "rest")
    // long unquoted-attribute soup: thousands of distinct walk units
    val units = "<p " + (1 to 3000).map(i => s"a$i=v$i").mkString(" ") +
      ">kept"
    assert(extract(units) == "kept")
    // declaration walk: a 50 KB conditional comment region
    assert(extract("<!" + ("c" * 50000) + ">kept") == "kept")
    // href after 5 KB of attribute soup still extracts (the old
    // reluctant per-char walk overflowed before reaching it)
    val hrefSoup =
      "<a " + ("class=\"x\" data-k=v " * 500) + "href=/real>L</a>"
    val links = Seq(hrefSoup).toDF("h")
      .select(explode(Html.extractLinks(col("h"))).as("l"))
      .as[String].collect().toSeq
    assert(links == Seq("/real"))
  }

  test("unclosed anchor over thousands of nested tags: linear, not exponential") {
    // the old inner walk re-explored every nested tag's attribute
    // parses on failure — measured 5 s at 10 tags like <b c="d">,
    // doubling per tag; 5000 tags would never finish. The possessive
    // walk fails in linear time and the anchor contributes no edge.
    val unclosed = "<a href=/x>text " + ("<b c=\"d\" e=f>w" * 5000)
    val t0 = System.nanoTime()
    val out = Html.anchorTexts(
      Seq(("https://h.com/p", unclosed)).toDF("url", "html")).collect()
    val ms = (System.nanoTime() - t0) / 1000000
    assert(out.isEmpty, "unclosed anchor must contribute no labeled edge")
    assert(ms < 30000, s"unclosed-anchor scan took ${ms}ms — backtracking regression")
    // the closed twin matches linearly (lazy group loops overflow the
    // stack near ~1000 units; the possessive inner run is iterative)
    val closed = "<a href=/y>lbl " + ("<b c=\"d\">w " * 5000) + "</a>"
    val out2 = Html.anchorTexts(
      Seq(("https://h.com/p", closed)).toDF("url", "html")).collect()
    assert(out2.length == 1)
    assert(out2(0).getAs[String]("anchor").startsWith("lbl w"))
  }

  test("metaRobots: tokens, none, case, attr order, decoys") {
    def flags(h: String): (Boolean, Boolean) = {
      val r = Seq(h).toDF("html")
        .select(Html.metaRobots(col("html")).as("f"))
        .select(col("f.noindex"), col("f.nofollow")).collect()(0)
      (r.getBoolean(0), r.getBoolean(1))
    }
    assert(flags("<meta name=\"robots\" content=\"noindex\">") == (true, false))
    assert(flags("<META NAME=ROBOTS CONTENT=nofollow>") == (false, true))
    // `none` means both; flipped attribute order parses
    assert(flags("<meta content='none' name='robots'>") == (true, true))
    assert(flags("<meta name=robots content=\"noindex, nofollow\">") == (true, true))
    // decoys: wrong meta name; token must be exact; content mentioning
    // robots directives in prose text doesn't count
    assert(flags("<meta name=\"description\" content=\"noindex nofollow\">") ==
      (false, false))
    assert(flags("<meta name=robots content=\"noindexing\">") == (false, false))
    assert(flags("no meta at all <p>noindex</p>") == (false, false))
    // two metas union their directives
    assert(flags("<meta name=robots content=noindex>" +
      "<meta name=robots content=nofollow>") == (true, true))
    // a legal quoted value may contain '>' or the OTHER quote char —
    // the attribute walk must not truncate there (advice-caught):
    // tokens after the '>'/quote still govern
    assert(flags("<meta name=robots content=\"a > b, noindex\">") ==
      (true, false))
    assert(flags("<meta name=robots content=\"it's ok, nofollow\">") ==
      (false, true))
    // a quote unterminated to EOF fails the match and degrades
    // locally (review-caught) — no verdict, no swallow, no crash
    assert(flags("<meta name=robots content=\"noindex") == (false, false))
  }

  test("decodeHtmlEntities: numeric, named, pass-once, invalid pass-through") {
    def dec(s: String): String = Seq(s).toDF("t")
      .select(graft.functions.HashExpressions.decodeHtmlEntities(col("t")))
      .collect()(0).getString(0)
    // numeric decimal, hex (either case), supplementary plane
    assert(dec("caf&#233; &#xE9;&#Xe9; &#x1D11E;") == "café éé 𝄞")
    // named: Latin-1 (case-sensitive pairs), typographic, symbols
    assert(dec("&eacute;&Eacute; &mdash; &hellip; &euro; &frac12;") ==
      "éÉ — … € ½")
    // the linear pass never rescans output: double-encoded stays text
    assert(dec("&amp;lt; &amp;eacute;") == "&lt; &eacute;")
    // unknown names, invalid scalars (surrogate, 0, out-of-range),
    // malformed shapes, lone '&', trailing '&' all pass through
    assert(dec("&bogus; &#xD800; &#0; &#x110000; &#; &#xZZ; a&b &") ==
      "&bogus; &#xD800; &#0; &#x110000; &#; &#xZZ; a&b &")
    // a distant ';' never turns a plain '&' into a reference
    assert(dec("AT&T and more text; here") == "AT&T and more text; here")
    // HTML5 C1 remap: Word-exported &#147;/&#148; are curly quotes
    // via windows-1252, not C1 controls (review-caught); the five
    // cp1252 holes pass through
    assert(dec("&#147;q&#148; &#150; &#128;") == "“q” – €")
    assert(dec("&#129;") == "&#129;")
    // TAB/LF/CR references are INLINE whitespace — decoding to a raw
    // LF would forge a paragraph break downstream (review-caught)
    assert(dec("Tom&#10;Jerry&#9;x") == "Tom Jerry x")
    // other C0 controls stay source text; zero-padded refs decode
    // (value-based parse, review-caught); non-ASCII digits rejected
    assert(dec("&#1; &#00000233;") == "&#1; é")
    assert(dec("&#٢٣;") == "&#٢٣;")
    // HTML5 UPPERCASE aliases of the legacy core set decode
    // (advisor-caught); an uppercase name NOT in the table does not
    assert(dec("&AMP; &LT;x&GT; &QUOT; &COPY;&REG;&TRADE;") ==
      "& <x> \" ©®™")
    assert(dec("&NBSP;") == "&NBSP;")
    // numeric references scan a wider 32-char window than named ones
    // (advisor-caught: browsers decode long zero-padded bodies); a
    // body past the window still passes through bounded
    assert(dec("&#0000000233; &#x00000000000000E9;") == "é é")
    assert(dec("&#" + "0" * 40 + "233;") == "&#" + "0" * 40 + "233;")
    // htmlToText integration: entities decode, nbsp normalizes to
    // plain space
    val t = Seq("<p>caf&eacute;&nbsp;3&times;4 &#8212; ok</p>").toDF("html")
      .select(Html.htmlToText(col("html"))).collect()(0).getString(0)
    assert(t == "café 3×4 — ok", t)
  }

  test("entity decode parity: anchor == body == cell == block (verdict r18)") {
    // the SAME visible text must hash identically from every
    // extraction surface — htmlToText, anchorTexts, extractTables,
    // mainContent all route through one decode chain (verdict-caught:
    // anchors/cells/blocks kept a 6-entity chain after p158, so
    // '&eacute;' forked dedup hashes across surfaces)
    val phrase = "café — “q” 3×4 €9 R&D"
    val enc = "caf&eacute; &mdash; &ldquo;q&rdquo; 3&times;4 &euro;9 R&amp;D"
    val page = s"<html><body><p>$enc</p>" +
      s"<table><tr><td>$enc</td></tr></table>" +
      s"<div><a href='https://x.com/t'>$enc</a></div></body></html>"
    val df = Seq((1L, "https://s.com/p", page)).toDF("doc_id", "url", "html")
    val body = df.select(Html.htmlToText(col("html"))).collect()(0).getString(0)
    assert(body.split("\n").contains(phrase), body)
    val anchor = Html.anchorTexts(df).collect()(0).getAs[String]("anchor")
    assert(anchor == phrase, anchor)
    val cell = Html.extractTables(df).collect()(0).getAs[String]("cells")
    assert(cell == phrase, cell)
    val mc = Html.mainContent(df, minChars = 5, maxLinkBp = 10000)
      .collect()(0).getAs[String]("main_text")
    assert(mc.split("\n").contains(phrase), mc)
  }

  test("canonicalMeta: first wins, rel token exact, base-aware, og spellings") {
    def meta(html: String): (String, String, String) = {
      val r = Html.canonicalMeta(Seq((1L, "https://Site-1.com/p?b=2&a=1",
        html)).toDF("doc_id", "url", "html")).collect()(0)
      (r.getAs[String]("canonical_url"), r.getAs[String]("og_title"),
        r.getAs[String]("effective_key"))
    }
    // first canonical wins (document order, as indexers take it); the
    // rel list may carry other tokens; 'canonicalize' is NOT the token
    val multi = "<head><link rel=\"alternate canonical\" href=\"/a\">" +
      "<link rel=canonical href=/b>" +
      "<link rel=canonicalize href=/x></head>"
    assert(meta(multi)._1 == "site-1.com/a")
    // a <base href> re-roots a relative canonical (same chain as the
    // link graph)
    val based = "<head><base href=\"https://Other.org/d/x\">" +
      "<link rel=canonical href=\"p2\"></head>"
    assert(meta(based)._1 == "other.org/d/p2")
    // og: property= and name= both honored; first wins; effective_key
    // falls back to the page URL when no canonical exists
    val og = "<head><meta name=\"og:title\" content=\"A\">" +
      "<meta property=\"og:title\" content=\"B\"></head>"
    val (c, t, k) = meta(og)
    assert(c == null && t == "A" && k == "site-1.com/p?a=1&b=2")
  }

  test("governedLinks: rel=nofollow drops the anchor, either attr order") {
    val h = "<a href=\"/a\">1</a> <a rel=\"nofollow\" href=\"/b\">2</a> " +
      "<a href=\"/c\" rel=nofollow>3</a> <a href=\"/d\" rel=\"me tag\">4</a> " +
      "<a rel=\"NOFOLLOW noopener\" href=\"/e\">5</a> <a href=\"/nofollow\">6</a>"
    val links = Seq(h).toDF("html")
      .select(Html.governedLinks(col("html")).as("l")).collect()(0)
      .getSeq[String](0)
    // /b, /c, /e dropped (token in rel, any case/order); an href that
    // merely CONTAINS the word is untouched
    assert(links == Seq("/a", "/d", "/nofollow"), links)
  }

  test("governedLinkGraph: page nofollow kills all edges, anchor rel kills one") {
    val pages = Seq(
      (1L, "https://s.com/1",
        "<html><head></head><body><a href=\"/x\">x</a>" +
          "<a rel=nofollow href=\"/y\">y</a></body></html>"),
      (2L, "https://s.com/2",
        "<html><head><meta name=robots content=nofollow></head>" +
          "<body><a href=\"/x\">x</a></body></html>")
    ).toDF("doc_id", "url", "html")
    val edges = Html.governedLinkGraph(pages).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(edges == Set(("s.com/1", "s.com/x")))
  }
}
