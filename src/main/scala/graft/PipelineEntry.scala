package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/**
 * LLM-data-pipeline query registry (SURVEY.md §2 P1-P14) — merged into
 * SparkEntry.queries / oracleSql. Each oracle is hand-derived ANSI SQL
 * over the same parquet inputs, computing bit-identically to the Spark
 * plan (md5-based token codes, ordered IEEE folds, mirrored expression
 * shapes — see functions.TextFunctions / VectorFunctions docs).
 *
 * The correctness gate runs at sf0.01; oracles reference the sf0.01
 * parquet files directly so they are self-contained regardless of which
 * views the harness registers.
 */
object PipelineEntry {

  private val Sf = "/root/testdata/sf0.01"
  private val HashMod = 2147483647L

  /** Document-frequency cutoff for the registered Jaccard query: a shingle
   * appearing in more than this many documents is dropped before the
   * inverted-index self-join (skew guard; mirrored in the oracle CTE). */
  private val MaxShingleFreq = 50L

  /** Duplicated-span window width (p36) and the planted shared run — a
   * 25-token sentence appended to every 3rd doc, long enough that its
   * interior holds 25−20+1 = 6 full windows per planted doc. Shared
   * between the Scala call and the oracle SQL. */
  private val DupSpanW = 20
  private val DupSpanPlant = "seventeen curious penguins watch from a " +
    "distant icy hill while ships sail slowly past the quiet harbor " +
    "under pale morning light carrying spices and silk"

  /** Shared passage for the CDC pairing fixture (p89): long enough to
   * contain several content-defined cut points, so docs embedding it at
   * DIFFERENT offsets still share its interior chunks. */
  private val CdcPlant = (1 to 80).map(i => s"cdocs$i").mkString(" ")

  /** p50's planted duplicate paragraph: one 56-word prose line ending in
   * terminal punctuation, so it passes the line filter AND the Gopher
   * thresholds (stop hits 'the'/'a', mean word len ~3.9, all-alpha) —
   * every 25th doc becomes this text and the final dedup stage collapses
   * the survivors to one keep-min-id row. */
  private val PipeDupPlantRep = "the quick brown fox jumps over a lazy " +
    "dog near the river bank today"
  private val PipeDupPlant =
    s"$PipeDupPlantRep $PipeDupPlantRep $PipeDupPlantRep $PipeDupPlantRep."

  /** BPE (p41) parameters, shared between the Scala call and the
   * oracle's generated merge-derivation CTE chain. */
  private val BpeMerges = 12
  private val BpeSampleN = 32

  /** Stratified-sample (p20) parameters, shared between the Scala call and
   * the interpolated oracle SQL so the two can never silently diverge. */
  private val SamplePerStratum = 40
  private val SampleOverSample = 4
  private val SampleHashMod = 1 << 20
  private val DsirBuckets = 4096

  /** Trained-langid (p117/p120) parameters: bucket count plus the
   * per-language marker phrases the fixture appends (repeated
   * `LangMarkerReps`x) — the synthetic corpus shares ONE vocabulary
   * across lang labels, so without an injected signal there is
   * nothing for any classifier to learn. Shared between the Scala
   * fixture and the oracle's generated CASE so the two can never
   * silently diverge. ASCII-only (no quotes): the strings embed in
   * SQL literals and hash char-by-byte identically in both engines. */
  private val LangIdBuckets = 4096
  private val LangMarkerReps = 3
  private val LangMarkers = Seq(
    "de" -> " der schnelle braune fuchs springt ueber den faulen hund und laeuft weg",
    "en" -> " the quick brown fox jumps over the lazy dog and runs away with them",
    "es" -> " el zorro marron salta sobre el perro perezoso y corre lejos de aqui",
    "fr" -> " le renard brun saute par dessus le chien paresseux et court loin",
    "zh" -> " kuai su de zong se hu li tiao guo lan duo de gou ran hou pao kai")

  /** Token-mixture (p29) parameters — shared between the Scala call and
   * the interpolated oracle SQL (weights render as a VALUES table).
   * The temperature variant (p40) uses a budget below the corpus's
   * total token mass so every stratum genuinely gets cut. */
  private val MixTempTotalTokens = 15000L
  private val MixWeights = Map("en" -> 0.5, "de" -> 0.2, "es" -> 0.2, "fr" -> 0.1)
  private val MixTotalTokens = 50000L
  private val MixOverSample = 4

  /** Epoch-capped mixture (p60) fixture: at sf0.01 token masses (en
   * ~11.8k, de ~3.5k, fr ~3.8k) these weights exercise every branch —
   * en: budget 10k < mass → 0 full epochs + partial cut; de: budget 10k
   * ≈ 2.8 epochs → 2 full + partial; fr: budget 30k ≈ 8 epochs → capped
   * at maxEpochs=4, no partial; es/zh: no weight → excluded. */
  private val CapWeights = Map("en" -> 0.2, "de" -> 0.2, "fr" -> 0.6)
  private val CapMaxEpochs = 4

  /** Every stateful streaming operator instantiates one state store per
   * shuffle partition per micro-batch, so a small drain under the session
   * default (32 here; 200 upstream) is almost all state-store bookkeeping.
   * Run the streaming drain with shuffles sized to its input — the
   * streaming analog of `spread` sizing batch inputs — and restore the
   * session value afterward (queries run sequentially through the
   * registry, and AvailableNow terminates before the restore). A real
   * deployment sizes this once per stream in its SparkSession config. */
  private val StreamShufflePartitions = 8
  private def withStreamShuffle[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, StreamShufflePartitions.toString)
    try body finally s.conf.set(key, prev)
  }

  /** The default HDFS-backed state store keeps ALL streaming state on
   * the executor heap — fine for bounded trained artifacts (p106's HLL
   * registers are ≤ m rows), wrong for corpus-sized dedup state: at
   * 100 TB the per-partition hash-group state outgrows any heap. The
   * three corpus-state drains (p58/p75/p81) therefore run under
   * RocksDB, where state lives off-heap/on-local-disk per partition and
   * is bounded by disk, not memory. Restored after the drain (same
   * discipline as withStreamShuffle; a real deployment sets this once
   * in session conf). */
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  /** Commit-cost tuning (r20, measured via the micro-batch durationMs
   * graft.Profile prints): the
   * default RocksDB commit takes a FULL snapshot (checkpoint + zip +
   * upload) of every partition's store on EVERY micro-batch — the
   * state-operator commit was the single largest slice of each drain's
   * addBatch (p75: 2.0–3.8 s summed commit per batch against ~2.3 s
   * addBatch wall). Changelog checkpointing writes only the batch's
   * change set at commit and defers snapshots to the background
   * maintenance thread — the documented production posture for
   * large-state/low-latency streams (at 100 TB state a per-batch full
   * snapshot is untenable). trackTotalNumberOfRows=false drops the
   * get-per-put bookkeeping that exists only to report numRowsTotal —
   * metrics-only, results identical. Both restored after the drain. */
  private val RocksDbTuning = Map(
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
      -> "true",
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"
      -> "false")
  private def withRocksDbState[T](s: SparkSession)(body: => T): T = {
    val keys = "spark.sql.streaming.stateStore.providerClass" +:
      RocksDbTuning.keys.toSeq
    val prev = keys.map(k => k -> s.conf.getOption(k)).toMap
    s.conf.set(keys.head, RocksDbProvider)
    RocksDbTuning.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally keys.foreach { k =>
      prev(k) match {
        case Some(p) => s.conf.set(k, p)
        case None => s.conf.unset(k)
      }
    }
  }

  /** The corpus tables ship as ONE parquet file each, which Spark scans
   * as a single partition — per-doc hashing work would run on one core.
   * Spread small inputs across the cluster before the compute-heavy
   * stages; a real 100 TB corpus has thousands of files and needs no
   * repartition (cores > input splits is a small-input artifact). */
  private def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // inputFiles is driver-side metadata — unlike df.rdd.getNumPartitions
    // it does not force an RDD conversion per query build.
    if (df.inputFiles.length >= target) df else df.repartition(target)
  }

  /** `Spool.once` writer for file-source streams, which need a
   * DIRECTORY: a dir holding one symlink to the corpus's `file`. */
  private def linkTo(dir: String, file: String)(out: String): Unit = {
    import java.nio.file.{Files, Paths}
    Files.createDirectories(Paths.get(out))
    Files.createSymbolicLink(Paths.get(out, file), Paths.get(dir, file).toAbsolutePath)
  }

  /** `Spool.once` writer for multi-batch drains: the corpus split into
   * `parts` parquet files, so maxFilesPerTrigger=1 yields genuinely
   * separate micro-batches — the fixture for drain modes whose semantics
   * only show across batches (p75's update mode). */
  private def splitDocs(s: SparkSession, dir: String, parts: Int)(out: String): Unit =
    s.read.parquet(s"$dir/documents.parquet").repartition(parts).write.parquet(out)

  /** Batch-side `spread`'s STREAMING twin: the harness drops the corpus
   * as ONE parquet file, and FileStreamSource hands AvailableNow
   * micro-batches partitioned by file — so every per-row scoring
   * expression would run on a single task. A production stream arrives
   * pre-partitioned (many files / many Kafka partitions); this
   * repartition restores that shape for one answer-sized shuffle.
   * Stateless-projection semantics are untouched (row set identical,
   * order irrelevant behind the memory sink's orderBy). Applied to the
   * streaming keys whose per-row work is heavy (p67 md5-per-bigram DSIR:
   * drain 4.8 -> 0.9 s at sf0.1; p58 fused stages; p73 vocab probes). */
  private def spreadStream(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Fold an update-mode memory sink to its final state (p75/p81):
   * keep each group's LAST update, identifiable because every emitted
   * update reflects at least one more member — its `n_dups` strictly
   * grows across a group's updates. */
  private def foldUpdates(s: SparkSession, table: String,
                          keyCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(col("n_dups").desc)
    s.table(table).withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    spread(s.read.parquet(s"$dir/documents.parquet"))
  private def embs(s: SparkSession, dir: String): DataFrame =
    spread(s.read.parquet(s"$dir/embeddings.parquet"))

  /** Shared messy-URL fixture for the web keys (p78 batch, p81
   * streaming — SAME oracle): every 3 consecutive docs are the same
   * page crawled 3 ways (https + mixed-case host; http + www + :80 +
   * trailing slash + utm + shuffled params; scheme-less + :443 +
   * fragment) — all canonicalizing to
   * example-{grp%50}.com/Pg/{grp}?a=1&b=2. Pure projection, works on
   * batch and streaming frames. */
  private def messyUrls(d: DataFrame): DataFrame = {
    val g = d.select(col("doc_id"), col("n_chars"))
      .withColumn("grp", expr("doc_id DIV 3"))
      .withColumn("h", pmod(col("grp"), lit(50)))
    g.withColumn("url",
      when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit("https://Example-"), col("h"), lit(".com/Pg/"),
          col("grp"), lit("?a=1&b=2")))
      .when(pmod(col("doc_id"), lit(3)) === 1,
        concat(lit("http://www.example-"), col("h"), lit(".com:80/Pg/"),
          col("grp"), lit("/?b=2&a=1&utm_source=s"), col("doc_id")))
      .otherwise(
        concat(lit("example-"), col("h"), lit(".COM:443/Pg/"),
          col("grp"), lit("?b=2&utm_campaign=c&a=1#frag"), col("doc_id"))))
      .select(col("doc_id"), col("n_chars"), col("url"))
  }

  /** Shared raw-HTML fixture for the web-extraction keys (p92 text,
   * p95 links): each doc becomes a page at its own messy URL whose
   * HTML wraps the doc text in realistic chrome — head with title /
   * style / script (the script body embeds a `<p>` tag that must NOT
   * leak into the text), an HTML comment, an entity-bearing paragraph
   * (incl. `&nbsp;` and a double-escape-safe `&amp;`), and two links:
   * one ABSOLUTE messy href to the next doc's page (tracking param +
   * unsorted query) and one ROOT-RELATIVE href (+gclid +fragment)
   * that must resolve against the page host. Doc text is
   * HTML-escaped on the way in, so extraction is exactly inverse. */
  /** p113 fixture: eval docs (%97==0) and planted train docs (%10==3)
   * get a 13-word slogan appended whose first token varies by id%3 —
   * eval ids 0,97,194,291,388,485 cover all three variants at sf0.01,
   * so every planted train doc finds a cross-split 13-gram match. */
  private def decontamPlanted(d: DataFrame): DataFrame =
    d.withColumn("text",
      when(pmod(col("doc_id"), lit(97)) === 0 ||
           pmod(col("doc_id"), lit(10)) === 3,
        concat(col("text"), lit(" zq"), pmod(col("doc_id"), lit(3)),
          lit(" alpha beta gamma delta epsilon zeta eta theta iota" +
            " kappa lambda mu")))
      .otherwise(col("text")))

  /** p117/p120 fixture: the documents table with the per-language
   * marker phrase appended (see LangMarkers). */
  private def langMarked(d: DataFrame): DataFrame = {
    val marker = LangMarkers.foldLeft(lit(""): org.apache.spark.sql.Column) {
      case (acc, (l, m)) => when(col("lang") === l, lit(m)).otherwise(acc)
    }
    d.withColumn("text", concat(col("text"), repeat(marker, LangMarkerReps)))
  }

  /** The langid model trained on the %5!=0 slice of the marked corpus
   * (shared by p117 and the p120 composition). */
  private def langIdModelOf(d: DataFrame): TextAnalysis.LangIdModel =
    TextAnalysis.langIdTrain(
      d.where(pmod(col("doc_id"), lit(5)) =!= 0), buckets = LangIdBuckets)

  /** p114 fixture: every doc carries one table of (2 + id%3) rows x
   * (2 + id%2) cols — row 0 as TH cells, cell (0,0) bold-wrapped,
   * cell (1,1) carrying a trailing `&amp;x` entity — and docs %7==0 a
   * second 2x2 table; every cell's text is closed-form so the oracle
   * regenerates it without parsing HTML. */
  private def tablePages(d: DataFrame): DataFrame = {
    val id = col("doc_id")
    def table(prefix: String, nr: org.apache.spark.sql.Column, nc: org.apache.spark.sql.Column,
              cellMod: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
              decorate: Boolean): org.apache.spark.sql.Column = {
      val rows = transform(sequence(lit(0), nr - 1), r => concat(
        lit("<tr>"),
        array_join(transform(sequence(lit(0), nc - 1), c => {
          val base = concat(lit(prefix), r, lit("_"), c, lit("_"), cellMod(r, c))
          val content =
            if (!decorate) base
            else when(r === 0 && c === 0, concat(lit("<b>"), base, lit("</b>")))
              // full-decode entities load-bearing in cells (r19): the
              // named Latin-1 + numeric + nbsp forms must decode in a
              // CELL exactly as in body text (shared cleanInline)
              .when(r === 1 && c === 1,
                concat(base, lit("&amp;x&nbsp;caf&eacute;&#233;")))
              .otherwise(base)
          when(r === 0, concat(lit("<th class=\"h\">"), content, lit("</th>")))
            .otherwise(concat(lit("<td>"), content, lit("</td>")))
        }), ""),
        lit("</tr>")))
      concat(lit("<table border=\"1\">"), array_join(rows, ""), lit("</table>"))
    }
    val t1 = table("c", lit(2) + pmod(id, lit(3)).cast("int"),
      lit(2) + pmod(id, lit(2)).cast("int"),
      (r, c) => pmod(id + r.cast("long") * 7 + c.cast("long") * 3, lit(50)),
      decorate = true)
    val t2 = table("d", lit(2), lit(2),
      (r, c) => pmod(id + r.cast("long") * 5 + c.cast("long") * 11, lit(50)),
      decorate = false)
    d.select(id, concat(
      lit("<html><body><p>pre "), id, lit("</p>"), t1,
      when(pmod(id, lit(7)) === 0, t2).otherwise(lit("")),
      lit("<p>post</p></body></html>")).as("html"))
  }

  /** HTML-escape a text column for fixture pages — ORDER-SENSITIVE
   * ('&' must escape first); one copy for every fixture that embeds
   * doc text in markup (review-caught duplication). */
  private def escHtml(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    replace(replace(replace(c,
      lit("&"), lit("&amp;")), lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))

  private def htmlPages(d: DataFrame): DataFrame = {
    val esc = escHtml _
    val h = pmod(col("doc_id"), lit(50))
    val own = concat(lit("https://www.Example-"), h, lit(".com/Pg/"),
      col("doc_id"), lit("/?b=2&a=1"))
    val nxt = col("doc_id") + 1
    val link1 = concat(lit("https://Example-"), pmod(nxt, lit(50)),
      lit(".com/Pg/"), nxt, lit("?b=2&a=1&utm_source=x"))
    val link2 = concat(lit("/Pg/"), col("doc_id") * 7 + 3,
      lit("/?b=2&a=1&gclid=g#frag"))
    // UNQUOTED root-relative href (legal HTML, common on old pages) and
    // a path-relative one; docs %10==7 additionally carry a <base href>
    // that re-roots BOTH relative forms onto another host — the four
    // resolution regimes (absolute / root-relative / path-relative /
    // base-overridden) all ride every p9x web key's fixture.
    val link3 = concat(lit("/Pg/"), col("doc_id") * 3 + 1, lit("?b=2&a=1"))
    val link4 = concat(lit("Sub/"), col("doc_id"), lit("?b=2&a=1"))
    val baseTag = when(pmod(col("doc_id"), lit(10)) === 7,
      concat(lit("<base href=\"https://Base-"), h,
        lit(".example.org/Dir/x\">"))).otherwise(lit(""))
    d.select(col("doc_id"), own.as("url"),
      concat(
        lit("<html><head><title>Doc "), col("doc_id"), lit("</title>"),
        baseTag,
        lit("<style>body{color:#222}</style>"),
        lit("<script>var t=\"<p>not text</p>\";</script></head>"),
        lit("<body><!-- crawl "), col("doc_id"), lit(" -->"),
        lit("<h1>Doc "), col("doc_id"), lit("</h1><p>"),
        esc(col("text")),
        lit("</p><p>Visit &amp; enjoy &lt;deals&gt;&nbsp;now.</p>"),
        lit("<div><a href=\""), link1, lit("\">next</a> <a href='"),
        link2, lit("'>rel</a> <a href="), link3,
        lit(">u</a> <a href=\""), link4,
        lit("\">s</a></div></body></html>")).as("html"))
  }

  /** Fixture for the meta-robots governance key (p143): one page per
   * doc with a meta-robots variant by doc_id%9 — 0 noindex, 1 nofollow
   * (unquoted uppercase), 2 `none` with FLIPPED attribute order,
   * 3 both tokens, 4 a DECOY (`name=description` whose content says
   * noindex — must not count), else no meta — and three anchors:
   * a1 absolute (always followable), a2 rel=nofollow BEFORE href
   * (never followable), a3 rel AFTER href, nofollow only on %4==0. */
  private def robotsPages(d: DataFrame): DataFrame = {
    val meta = when(pmod(col("doc_id"), lit(9)) === 0,
      lit("<meta name=\"robots\" content=\"noindex\">"))
      .when(pmod(col("doc_id"), lit(9)) === 1,
        lit("<META NAME=ROBOTS CONTENT=nofollow>"))
      .when(pmod(col("doc_id"), lit(9)) === 2,
        lit("<meta content='none' name='robots'>"))
      .when(pmod(col("doc_id"), lit(9)) === 3,
        lit("<meta name=robots content=\"noindex, nofollow\">"))
      .when(pmod(col("doc_id"), lit(9)) === 4,
        lit("<meta name=\"description\" content=\"noindex nofollow\">"))
      .otherwise(lit(""))
    val a3rel = when(pmod(col("doc_id"), lit(4)) === 0, lit("nofollow"))
      .otherwise(lit("me"))
    d.select(col("doc_id"),
      concat(lit("https://Gov-"), pmod(col("doc_id"), lit(50)),
        lit(".example.com/p/"), col("doc_id")).as("url"),
      concat(
        lit("<html><head><title>G "), col("doc_id"), lit("</title>"), meta,
        lit("</head><body><a href=\"https://ext-"),
        pmod(col("doc_id"), lit(20)), lit(".example.org/t/"), col("doc_id"),
        lit("\">x</a> <a rel=\"nofollow\" href=\"/nf/"), col("doc_id"),
        lit("\">y</a> <a href=\"/ok/"), col("doc_id") * 2,
        lit("\" rel="), a3rel, lit(">z</a></body></html>")).as("html"))
  }

  /** Shared messy per-doc page URLs for the CDX key (p93): one page
   * per doc (unlike messyUrls' 3-docs-per-page), spelled messily by
   * doc_id%3 — all canonicalize to example-{id%50}.com/Pg/{id}?a=1&b=2
   * and SURT to com,example-{id%50})/pg/{id}?a=1&b=2. */
  private def pageUrls(d: DataFrame): DataFrame = {
    val h = pmod(col("doc_id"), lit(50))
    d.withColumn("url",
      when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit("https://Example-"), h, lit(".com/Pg/"),
          col("doc_id"), lit("?a=1&b=2")))
      .when(pmod(col("doc_id"), lit(3)) === 1,
        concat(lit("http://www.example-"), h, lit(".com:80/Pg/"),
          col("doc_id"), lit("/?b=2&a=1&utm_source=s"), col("doc_id")))
      .otherwise(
        concat(lit("example-"), h, lit(".COM:443/Pg/"),
          col("doc_id"), lit("?b=2&utm_campaign=c&a=1#frag"), col("doc_id"))))
  }

  /** p122 fixture: one sitemap document per doc — doc_id%7==0 publishes
   * a SITEMAPINDEX of doc_id%3+1 child refs, the rest a URLSET of
   * doc_id%5+1 url entries with optional-field presence varied per
   * entry (lastmod on even j, changefreq on j%3==0, priority on odd j)
   * and a `&amp;`-escaped query in every loc, so entity decoding is
   * load-bearing in the oracle comparison. */
  private def sitemapDocs(d: DataFrame): DataFrame = {
    val site = concat(lit("site"), pmod(col("doc_id"), lit(40)),
      lit(".example.com"))
    val freqs = Seq("always", "hourly", "daily", "weekly", "monthly",
      "yearly", "never")
    def day(prefix: String, j: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column = concat(lit(prefix),
      lpad((pmod(col("doc_id") + j, lit(28)) + 1).cast("string"), 2, "0"))
    val urlEntries = transform(sequence(lit(0L), pmod(col("doc_id"), lit(5))),
      j => concat(
        lit("  <url>\n    <loc>https://"), site, lit("/page/"),
        col("doc_id"), lit("/"), j, lit("?a=1&amp;b=2</loc>\n"),
        when(pmod(j, lit(2)) === 0, concat(lit("    <lastmod>"),
          day("2024-01-", j), lit("</lastmod>\n"))).otherwise(lit("")),
        when(pmod(j, lit(3)) === 0, concat(lit("    <changefreq>"),
          element_at(typedlit(freqs),
            (pmod(col("doc_id") + j, lit(7)) + 1).cast("int")),
          lit("</changefreq>\n"))).otherwise(lit("")),
        when(pmod(j, lit(2)) === 1, concat(lit("    <priority>0."),
          pmod(col("doc_id") + j, lit(10)), lit("</priority>\n")))
          .otherwise(lit("")),
        lit("  </url>")))
    val idxEntries = transform(sequence(lit(0L), pmod(col("doc_id"), lit(3))),
      j => concat(
        lit("  <sitemap>\n    <loc>https://"), site, lit("/sitemap-"), j,
        lit(".xml</loc>\n"),
        when(pmod(j, lit(2)) === 0, concat(lit("    <lastmod>"),
          day("2023-12-", j), lit("</lastmod>\n"))).otherwise(lit("")),
        lit("  </sitemap>")))
    val ns = "http://www.sitemaps.org/schemas/sitemap/0.9"
    d.select(col("doc_id").as("site_id"),
      when(pmod(col("doc_id"), lit(7)) === 0,
        concat(lit("<?xml version=\"1.0\"?>\n<sitemapindex xmlns=\"" +
          ns + "\">\n"), array_join(idxEntries, "\n"),
          lit("\n</sitemapindex>")))
      .otherwise(
        concat(lit("<?xml version=\"1.0\"?>\n<urlset xmlns=\"" + ns +
          "\">\n"), array_join(urlEntries, "\n"), lit("\n</urlset>")))
      .as("body"))
  }

  /** p127's stopword list (jusText-style function words; the fixture
   * vocabulary carries 'a'/'the', the planted light-link paragraph the
   * rest). Shared verbatim by the oracle SQL. */
  private val MainContentStopwords = Seq(
    "the", "a", "and", "for", "more", "of", "to", "in", "is", "on")

  /** p132 fixture: one robots.txt row per HOST, each advertising the
   * sitemap URLs of the docs it owns (doc_id % 40 == host id) — but
   * only for docs with doc_id % 3 != 1, so a third of the sitemap
   * documents exist WITHOUT a robots pointer and must stay
   * undiscovered. Directive case varies (Sitemap:/sitemap: by parity)
   * to pin the case-insensitive match; a leading UA group makes the
   * file realistic (RFC 9309 §2.2.4: the directive is a non-group
   * record wherever it appears). Lines sort for determinism. */
  private def robotsWithSitemaps(d: DataFrame): DataFrame = {
    val h = pmod(col("doc_id"), lit(40))
    val line = concat(
      when(pmod(col("doc_id"), lit(2)) === 0, lit("Sitemap: "))
        .otherwise(lit("sitemap: ")),
      lit("https://site"), h, lit(".example.com/sitemap-"),
      col("doc_id"), lit(".xml"))
    d.where(pmod(col("doc_id"), lit(3)) =!= 1)
      .groupBy(h.as("__h"))
      .agg(array_join(sort_array(collect_list(line)), "\n").as("__sm"))
      .select(
        concat(lit("site"), col("__h"), lit(".example.com")).as("host"),
        concat(lit("User-agent: *\nDisallow: /private\nCrawl-delay: "),
          pmod(col("__h"), lit(5)) + 1, lit("\n\n"),
          col("__sm"), lit("\n")).as("body"))
  }

  /** p138 fixture: the store of CHILD sitemap documents a crawler
   * could fetch — every (host, j ≤ 2) pair, deliberately a SUPERSET of
   * what any index points at (hosts without an index doc, and js above
   * a host's max site_id%3, exist here but must never be fetched), so
   * the pointer-driven semi-join is load-bearing. Each child carries
   * two url entries, priority on the second. */
  private def childSitemapDocs(d: DataFrame): DataFrame = {
    val ns = "http://www.sitemaps.org/schemas/sitemap/0.9"
    d.select(pmod(col("doc_id"), lit(40)).as("h")).distinct()
      .select(col("h"),
        explode(sequence(lit(0L), lit(2L))).as("j"))
      .select(
        concat(lit("https://site"), col("h"), lit(".example.com/sitemap-"),
          col("j"), lit(".xml")).as("url"),
        concat(
          lit("<?xml version=\"1.0\"?>\n<urlset xmlns=\"" + ns + "\">\n"),
          lit("  <url>\n    <loc>https://site"), col("h"),
          lit(".example.com/child/"), col("j"), lit("/0</loc>\n  </url>\n"),
          lit("  <url>\n    <loc>https://site"), col("h"),
          lit(".example.com/child/"), col("j"), lit("/1</loc>\n"),
          lit("    <priority>0."), pmod(col("h") + col("j"), lit(10)),
          lit("</priority>\n  </url>\n</urlset>")).as("body"))
  }

  /** The p132/p136 composition: robots-discovered sitemaps parsed into
   * the per-host frontier (returns the robots frame too — p136 reads
   * its Crawl-delay directives). */
  private def discoveredFrontier(d: DataFrame): (DataFrame, DataFrame) = {
    val robots = robotsWithSitemaps(d)
    val discovered = UrlOps.robotsSitemaps(robots)
      .select(col("sitemap_url").as("__url")).distinct()
    val sm = sitemapDocs(d).withColumn("__url",
      concat(lit("https://site"), pmod(col("site_id"), lit(40)),
        lit(".example.com/sitemap-"), col("site_id"), lit(".xml")))
    // In production the discovered set is robots-table-bounded (a
    // robots file is KB-sized) and Spark's stats broadcast it on their
    // own; this FIXTURE advertises one sitemap per doc, so the set is
    // corpus-proportional — deliberately NO broadcast() hint, which
    // would bypass autoBroadcastJoinThreshold and ship the whole set
    // to every executor at a large SF.
    val selected = sm.join(discovered, Seq("__url"), "left_semi")
    (robots, UrlOps.frontierSchedule(
      UrlOps.parseSitemaps(selected, siteCol = "site_id"), perRound = 2))
  }

  /** p127 fixture: a full page per doc — nav link farm (high link
   * density), the doc's tokens as 8-token <p> paragraphs (content), a
   * light-link paragraph with an entity on %5 (must SURVIVE the
   * density screen), a link-heavy promo on %4 (must fail it), a short
   * footer (fails the length screen). */
  private def contentPages(d: DataFrame): DataFrame = {
    val toks = col("__toks") // see chunkTokens
    val nChunks = ceil(size(toks).cast("double") / lit(8.0)).cast("int")
    val paras = transform(sequence(lit(0), nChunks - 1),
      k => concat(lit("<p>"), array_join(slice(toks, k * 8 + 1, lit(8)), " "),
        lit("</p>")))
    val nav = lit("<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a>" +
      " <a href=\"/contact\">Contact</a></nav>")
    val light = when(pmod(col("doc_id"), lit(5)) === 0,
      lit("<p>See the <a href=\"/docs\">docs</a> for background " +
        "information and details &amp; more caf&eacute;&nbsp;&#8212;" +
        "</p>")).otherwise(lit(""))
    val promo = when(pmod(col("doc_id"), lit(4)) === 0,
      lit("<p><a href=\"/promo\">promo promo promo promo promo</a> x</p>"))
      .otherwise(lit(""))
    val footer = concat(lit("<footer>(c) site "),
      pmod(col("doc_id"), lit(40)), lit("</footer>"))
    chunkTokens(d).select(col("doc_id"),
      concat(lit("<html><body>"), nav, array_join(paras, ""), light, promo,
        footer, lit("</body></html>")).as("html"))
  }

  /** (doc_id, __toks): the tokens, projected once so the chunking lambdas
   * read a column instead of re-splitting the text once per chunk. */
  private def chunkTokens(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      filter(split(trim(col("text")), "\\s+"), t => t =!= "").as("__toks"))

  /** p123 fixture: each doc's tokens reshaped into 7-token lines (code
   * has line structure the raw corpus text lacks); doc_id%9==0 gains a
   * 1200-char minified-style line (fails the max-line screen),
   * doc_id%11==0 a generation-marker header (fails the autogen
   * screen) — both arms load-bearing in the oracle comparison. */
  private def codeDocs(d: DataFrame): DataFrame = {
    val toks = col("__toks") // see chunkTokens
    val nChunks = ceil(size(toks).cast("double") / lit(7.0)).cast("int")
    val lines = transform(sequence(lit(0), nChunks - 1),
      k => array_join(slice(toks, k * 7 + 1, lit(7)), " "))
    val body = array_join(lines, "\n")
    val withLong = when(pmod(col("doc_id"), lit(9)) === 0,
      concat(body, lit("\n"), repeat(lit("x"), 1200))).otherwise(body)
    val withHdr = when(pmod(col("doc_id"), lit(11)) === 0,
      concat(lit("// Auto-Generated by graftgen\n"), withLong))
      .otherwise(withLong)
    chunkTokens(d).select(col("doc_id"), withHdr.as("text"))
  }

  /** Shared conversation fixture for the SFT key (p94): a 5-turn
   * conversation per doc carved from its own token stream (system,
   * user, assistant, user, assistant), mirrored token-for-token in
   * the oracle's list_slice arithmetic. Short docs yield short or
   * empty turn contents — both engines clamp slices identically. */
  private def sftConvs(d: DataFrame): DataFrame = {
    import graft.functions.{TextFunctions => TF}
    val toks = TF.tokens(col("text"))
    def seg(start: Int, len: Int) =
      array_join(slice(toks, start, len), " ")
    d.select(col("doc_id"), array(
      struct(lit("system").as("role"),
        lit("You are a helpful assistant.").as("content")),
      struct(lit("user").as("role"), seg(1, 8).as("content")),
      struct(lit("assistant").as("role"), seg(9, 12).as("content")),
      struct(lit("user").as("role"), seg(21, 6).as("content")),
      struct(lit("assistant").as("role"), seg(27, 10).as("content")))
      .as("turns"))
  }

  /** Shared planting for the curation-pipeline keys (p50 batch, p58
   * streaming — SAME oracle): dup paragraph (%25, collapses in the
   * final dedup), lorem/braces drops (%10/%7), a PII line that survives
   * the line filter (%4), and the p43 line-filter fodder. Works on both
   * batch and streaming frames (pure projection). */
  private def pipelinePlanted(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      concat(
        when(col("doc_id") % 25 === 0, lit(PipeDupPlant))
          .otherwise(concat(col("text"), lit("."))),
        lit("\nshort line\nThis line has exactly enough words to pass."),
        when(col("doc_id") % 10 === 0,
          lit("\nlorem ipsum dolor sit amet consectetur.")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          lit("\nfunction() { var x = 1; }")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          concat(lit("\nReach me at u"), col("doc_id").cast("string"),
            lit("@example.com or 555-123-4567 today please.")))
          .otherwise(lit(""))).as("text"))

  /** Shared corpus/batch split for the incremental-dedup keys (p49,
   * p51): corpus = doc_id % 3 != 0; batch = the rest, with every 6th
   * doc's text replaced by its corpus neighbor (planted cross-corpus
   * dup) and every 30th re-appended under a shifted id (within-batch
   * dup). Mirrored verbatim in `IncrementalFixtureSql`. */
  private def incrementalFixture(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = docs(s, dir).select("doc_id", "text")
    val corpus = d.where(col("doc_id") % 3 =!= 0)
    val planted = d.where(col("doc_id") % 3 === 0).as("b")
      .join(d.select(col("doc_id").as("nid"), col("text").as("ntext")),
        col("nid") === col("b.doc_id") + 1, "left")
      .select(col("b.doc_id").as("doc_id"),
        when(col("b.doc_id") % 6 === 0,
          coalesce(col("ntext"), col("b.text")))
          .otherwise(col("b.text")).as("text"))
    val batch = planted.unionAll(planted.where(col("doc_id") % 30 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    (corpus, batch)
  }
  /** Events reader with ts-unit auto-detection (the generator has
   * shipped both TIMESTAMP(NANOS) and TIMESTAMP_NTZ-micros across
   * rounds — see EventStream.normalizeTs). */
  private def events(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.readBatch(s, s"$dir/events.parquet")

  private def probes(s: SparkSession, dir: String): DataFrame =
    embs(s, dir).where(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))

  // ------------------------------------------------------------ queries

  /** Keys whose CONSTRUCTION is proven pure — zero Spark jobs beyond the
   * one parquet-footer schema read, no training collect, no export, no
   * drain, no materialization (the build jobs `graft.Profile` reports
   * are the measuring instrument; PreparedPuritySpec pins the proof per
   * key). For these,
   * rebuilding the identical Column tree and re-analyzing it on every
   * bench repeat measures CATALYST, not the operator — so they serve
   * from a prepared-plan cache per (key, session, corpus), exactly the
   * r12 discipline the graph lookups have always used. Every RESULT row
   * is still computed fresh per call (each count/collect re-executes the
   * plan over the store; nothing data-shaped is persisted). Keys whose
   * construction does real work (drains, exports, training collects,
   * iteration loops) stay rebuild-per-call — that work is the declared
   * operation. */
  private[graft] val preparedPure: Set[String] = Set(
    "p01_dedup_exact", "p08_langid", "p09_quality", "p10_tokens",
    "p11_fingerprint", "p12_multimodal", "p13_sessionize", "p14_window_agg",
    "p20_stratified_sample", "p21_pack", "p23_clean", "p24_redact",
    "p25_repetition", "p29_token_mixture", "p32_c4_filter",
    "p33_paragraph_dedup", "p35_gopher", "p40_mixture_temp",
    "p43_curation_chain", "p47_video_mjpeg", "p49_incremental_dedup",
    "p50_curation_pipeline", "p52_pack_stats", "p54_weighted_sample",
    "p61_shuffle_shards", "p62_source_filter", "p68_curriculum",
    "p71_token_chunks", "p78_url_dedup", "p79_domain_cap",
    "p80_boilerplate", "p83_corpus_stats", "p84_hash_split",
    "p87_snapshot_diff", "p88_cdc_chunks", "p92_html_extract",
    "p94_sft_render", "p95_link_graph", "p96_unicode_fold",
    "p97_sentences", "p98_domain_signals", "p101_robots_filter",
    "p103_hll_distinct", "p105_sketch_merge", "p107_eval_sweep",
    "p108_shard_manifest", "p112_dpo_pairs", "p113_ngram_decontam",
    "p114_html_tables", "p116_table_markdown", "p121_fim",
    "p122_sitemaps", "p123_code_quality", "p125_frontier",
    "p127_main_content", "p128_sft_packing", "p129_mp4_metadata",
    "p132_sitemap_discovery", "p136_frontier_pacing",
    "p137_anchor_text", "p138_sitemap_children", "p139_pdf_cid",
    "p143_meta_robots", "p146_pdf_filters", "p147_pdf_objstm",
    "p148_mp4_64bit", "p149_pdf_aes256", "p151_pdf_predictor",
    "p152_webp_metadata", "p153_pdf_xrefstream", "p157_robots_wildcards",
    "p158_html_entities", "p160_pdf_lzw", "p164_mp3_metadata",
    "p165_jpeg_exif", "p166_id3_tags", "p168_subtitles",
    "p169_canonical_meta")

  /** The pure keys serve from `SparkEntry.prepare` (build-once,
   * re-execute per call; its lifecycle notes apply). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    rawQueries.map { case (k, f) =>
      if (!preparedPure(k)) k -> f
      else k -> ((s: SparkSession, d: String) => SparkEntry.prepare(k, s, d)(f(s, d)))
    }

  private[graft] def rawQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // P1 — exact dedup. The corpus has no exact duplicates, so the query
    // unions a shifted copy: every text occurs exactly twice and dedup
    // must keep the original id with n_dups = 2.
    "p01_dedup_exact" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val copy = d.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      Dedup.exact(d.unionAll(copy)).orderBy("doc_id")
    }),

    // P2 — n-gram Jaccard near-dup pairs (the generator plants ~5% of
    // docs as near-duplicates; nothing else scores above 0.3). Registered
    // WITH the document-frequency skew guard (the 100 TB form): a shingle
    // shared by k docs emits k^2 join rows, so ubiquitous shingles are
    // dropped before pairing. The guard is conservative (can only lower a
    // pair's jaccard — see Dedup.jaccardPairs doc) and the oracle mirrors
    // the cutoff bit-for-bit.
    "p02_ngram_jaccard" -> ((s, dir) =>
      Dedup.jaccardPairs(docs(s, dir), n = 3, threshold = 0.8,
        maxShingleFreq = MaxShingleFreq).orderBy("id_a", "id_b")),

    // P3 — MinHash + banded LSH candidates scored by signature agreement.
    "p03_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairs(docs(s, dir), k = 16, bands = 4, shingleN = 3,
        minAgree = 8).orderBy("id_a", "id_b")),

    // P21, key p22_lsh_verified — the production dedup ordering: LSH
    // candidates + exact jaccard verification on candidates only (the
    // scale path that replaces the raw inverted-index join of p02).
    "p22_lsh_verified" -> ((s, dir) =>
      Dedup.lshVerifiedPairs(docs(s, dir), k = 16, bands = 4, shingleN = 3,
        threshold = 0.8).orderBy("id_a", "id_b")),

    // P4 — SimHash near-dup pairs within Hamming distance 3.
    "p04_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(docs(s, dir), maxHamming = 3)
        .orderBy("id_a", "id_b")),

    // P5 — embedding-cosine near-dup, sign-LSH bucketed mode over the FULL
    // corpus (the 100 TB form: only same-bucket pairs are scored, so the
    // join is an equi-join on the bucket key, never all-pairs). The exact
    // quadratic mode remains as the ground-truth baseline in DedupSpec,
    // which asserts bucketed ⊆ exact on the fixture.
    "p05_embed_dup" -> ((s, dir) =>
      Dedup.embeddingPairs(embs(s, dir), threshold = 0.4, bucketed = true,
        nTables = 4).orderBy("id_a", "id_b")),

    // P16 — near-dup clusters: connected components over the Jaccard
    // pair graph, keep-min representative per duplicate group. Pair
    // derivation uses the same guarded form as p02, so the materialized
    // shingle stage is shared in-session and the plan stays skew-safe.
    "p16_dedup_clusters" -> ((s, dir) =>
      Dedup.clusters(Dedup.jaccardPairs(docs(s, dir), n = 3, threshold = 0.8,
        maxShingleFreq = MaxShingleFreq)).orderBy("id")),

    // P18, key p19_dedup_apply — dedup APPLY: the corpus that survives
    // near-dup removal (one representative per jaccard cluster + every
    // never-paired doc). Same guarded pair derivation as p02/p16, then a
    // stats-adaptive left join (broadcast while the cluster table is
    // small) — the corpus itself is never shuffled.
    "p19_dedup_apply" -> ((s, dir) =>
      Corpus.dedupApply(
        docs(s, dir).select("doc_id", "lang", "source", "n_chars"),
        Dedup.clusters(Dedup.jaccardPairs(docs(s, dir), n = 3, threshold = 0.8,
          maxShingleFreq = MaxShingleFreq)))
        .orderBy("doc_id")),

    // P19, key p20_stratified_sample — deterministic stratified
    // downsampling: ≤40 docs per language, chosen by md5-hash order;
    // hash-threshold prefilter scaled per stratum (broadcast counts)
    // ahead of the exact rank window.
    "p20_stratified_sample" -> ((s, dir) =>
      Corpus.stratifiedSample(docs(s, dir).select(col("doc_id"), col("lang")),
        strataCol = "lang", perStratum = SamplePerStratum,
        overSample = SampleOverSample, hashMod = SampleHashMod)
        .select(col("doc_id"), col("lang"), col("n_stratum"), col("sample_rank"))
        .orderBy("lang", "sample_rank")),

    // P20, key p21_pack — token-budget sequence packing: 512-token packs,
    // 8 shards, contiguous id-order binning within each shard.
    "p21_pack" -> ((s, dir) =>
      Corpus.packSequences(docs(s, dir), maxTokens = 512, nShards = 8)
        .select(col("doc_id"), col("shard"), col("n_tokens"),
          col("cum_tokens"), col("pack_id"))
        .orderBy("doc_id")),

    // P20+, key p52_pack_stats — the packing-efficiency report over
    // p21's packed corpus: docs per pack, fill vs the token budget.
    "p52_pack_stats" -> ((s, dir) =>
      Corpus.packStats(
        Corpus.packSequences(docs(s, dir), maxTokens = 512, nShards = 8))
        .orderBy("shard", "pack_id")),

    // P17 — IVF-flat ANN with a TRAINED coarse quantizer: deterministic
    // k-means (2 fixed iterations over the first 256 vectors, ordered
    // folds) — better list balance than raw sampled centroids, still
    // bit-reproducible by the SQL oracle.
    "p17_ann_ivf" -> ((s, dir) =>
      Ann.ivfTopK(embs(s, dir), probes(s, dir), k = 10, nCenters = 16,
        nProbe = 4, trainIters = 2, trainSample = 256)
        .orderBy("probe_id", "rank")),

    // P26, key p27_ann_pq — product-quantization ANN: per-subspace
    // trained codebooks (driver-side deterministic k-means, like p17),
    // m-byte codes per vector, ADC table-lookup scan.
    "p27_ann_pq" -> ((s, dir) => {
      val e = embs(s, dir)
      val cb = Ann.trainPqCodebooks(e, m = 8, nCodes = 16, sampleN = 256,
        iters = 2, dim = 64)
      Ann.pqTopK(e, probes(s, dir), cb, k = 10).orderBy("probe_id", "rank")
    }),

    // P27, key p28_ann_ivfpq — IVF lists restrict the scan, PQ codes
    // compress it: a probe reads ~nProbe/nCenters of the 32x-compressed
    // code table. Non-residual variant; coarse quantizer = p17's trained
    // k-means, codebooks = p27's.
    "p28_ann_ivfpq" -> ((s, dir) => {
      val e = embs(s, dir)
      val cb = Ann.trainPqCodebooks(e, m = 8, nCodes = 16, sampleN = 256,
        iters = 2, dim = 64)
      Ann.ivfPqTopK(e, probes(s, dir), cb, k = 10, nCenters = 16, nProbe = 4,
        trainIters = 2, trainSample = 256).orderBy("probe_id", "rank")
    }),

    // P26, key p30_ann_pq_rerank — the production PQ serving shape
    // (SURVEY §5): ADC over the 32x-compressed codes retrieves 100
    // candidates per probe, then ONLY those candidates' full vectors are
    // fetched and exactly re-ranked by L2. Quality = ADC recall@100
    // (≈0.84 in ScaleSmoke vs 0.26 raw ADC@10) at the cost of re-reading
    // 100 full vectors per probe instead of the corpus.
    "p30_ann_pq_rerank" -> ((s, dir) => {
      val e = embs(s, dir)
      val cb = Ann.trainPqCodebooks(e, m = 8, nCodes = 16, sampleN = 256,
        iters = 2, dim = 64)
      Ann.pqTopKReranked(e, probes(s, dir), cb, k = 10, rerank = 100)
        .orderBy("probe_id", "rank")
    }),

    // P27, key p31_ann_ivfpq_residual — classical FAISS IVFPQ (Jégou et
    // al. 2011): codes quantize the RESIDUAL v − centroid(v) with
    // residual-trained codebooks, and each (probe, probed list) gets its
    // own ADC tables from the probe's residual against that list's
    // centroid — bits go to within-list geometry, the standard quality
    // win over p28's non-residual variant at the same m.
    "p31_ann_ivfpq_residual" -> ((s, dir) => {
      val e = embs(s, dir)
      val cents = Ann.trainCentroids(e, nCenters = 16, sampleN = 256, iters = 2)
      val cb = Ann.trainPqCodebooksResidual(e, cents, m = 8, nCodes = 16,
        sampleN = 256, iters = 2, dim = 64)
      Ann.ivfPqResidualTopK(e, probes(s, dir), cents, cb, k = 10, nProbe = 4)
        .orderBy("probe_id", "rank")
    }),

    // P5+, key p34_semdedup — SemDeDup (Abbas et al. 2023): a bounded-
    // sample k-means quantizer buckets the embedding space and near-dup
    // search runs ONLY within clusters (the quadratic is per-cluster,
    // never global — k is the scale lever). Same quantizer parameters as
    // p17 so the oracle reuses the coarse k-means CTEs bit-for-bit.
    "p34_semdedup" -> ((s, dir) =>
      Dedup.semDedup(embs(s, dir), threshold = 0.4, nCenters = 16,
        trainIters = 2, trainSample = 256).orderBy("id")),

    // P5+, key p46_semdedup_capped — SemDeDup with the per-cluster
    // pair-cap skew guard: members ranked by centroid cosine, only
    // pairs within `w` ranks compared (near-dups sort adjacently, so
    // the cap costs only the far-in-rank tail; join work O(m·w), never
    // O(m^2) — one giant cluster can't own the job). Same quantizer as
    // p34 so the oracle shares its coarse CTEs; w chosen small enough
    // that banding is actually exercised at fixture scale.
    "p46_semdedup_capped" -> ((s, dir) =>
      Dedup.semDedup(embs(s, dir), threshold = 0.4, nCenters = 16,
        trainIters = 2, trainSample = 256,
        pairRankWindow = Some(16)).orderBy("id")),

    // P26+, key p38_ann_sq8 — scalar quantization (FAISS QT_8bit
    // semantics): per-dim trained [min,max] ranges, byte codes = 4x
    // compression, asymmetric L2 against full-precision probes.
    "p38_ann_sq8" -> ((s, dir) => {
      val e = embs(s, dir)
      val rng = Ann.trainSqRanges(e, sampleN = 256, dim = 64)
      Ann.sqTopK(e, probes(s, dir), rng, k = 10).orderBy("probe_id", "rank")
    }),

    // P26++, key p44_ann_ivfsq — IVF x SQ8 composition: coarse lists
    // restrict WHICH vectors a probe scans, SQ8 codes compress WHAT is
    // scanned (4x at byte per-dim fidelity — the middle point between
    // IVF-flat and IVF+PQ). List id and codes in ONE encode projection.
    "p44_ann_ivfsq" -> ((s, dir) => {
      val e = embs(s, dir)
      val rng = Ann.trainSqRanges(e, sampleN = 256, dim = 64)
      Ann.ivfSqTopK(e, probes(s, dir), rng, k = 10, nCenters = 16,
        nProbe = 4, trainIters = 2, trainSample = 256)
        .orderBy("probe_id", "rank")
    }),

    // P6 — brute-force cosine top-k for 5 probe vectors.
    "p06_ann_topk" -> ((s, dir) =>
      Ann.bruteForceTopK(embs(s, dir), probes(s, dir), k = 10)
        .orderBy("probe_id", "rank")),

    // P7 — LSH-bucketed ANN (2 tables x 8 hyperplanes).
    "p07_ann_lsh" -> ((s, dir) =>
      Ann.lshTopK(embs(s, dir), probes(s, dir), k = 10, nPlanes = 8,
        nTables = 2).orderBy("probe_id", "rank")),

    // P22, key p23_clean — text cleaning over deterministically dirtied
    // input (planted control chars + whitespace runs, mirrored in the
    // oracle) so the strip/collapse/trim path is actually exercised.
    "p23_clean" -> ((s, dir) =>
      TextAnalysis.cleaned(docs(s, dir).withColumn("text",
        concat(lit("  "), col("text"), lit("\t mid  gap \u0007\u0007 end  "))))
        .orderBy("id")),

    // P23, key p24_redact — PII redaction over input with planted
    // emails/phones on every 10th doc (mirrored in the oracle).
    "p24_redact" -> ((s, dir) =>
      TextAnalysis.redacted(docs(s, dir).withColumn("text",
        when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" contact u"), col("doc_id").cast("string"),
            lit("@example.com or 555-123-4567 now")))
          .otherwise(col("text"))))
        .orderBy("id")),

    // P24, key p25_repetition — Gopher-style top-n-gram repetition ratio.
    "p25_repetition" -> ((s, dir) =>
      TextAnalysis.repetition(docs(s, dir), n = 3).orderBy("id")),

    // P15c/P22+, key p42_streaming_curation — the curation pre-pass as a
    // STREAM: clean → redact are stateless projections, so the exact
    // operator code runs under Structured Streaming unchanged. The key
    // drains the documents table (p23's dirt + p24's PII planted)
    // through a file readStream into a memory sink with AvailableNow,
    // and must hash-match a BATCH-derived oracle — the strongest
    // statement that batch and streaming curation agree.
    "p42_streaming_curation" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val (streamDir, tag) =
        Spool.once("stream-documents", dir)(linkTo(dir, "documents.parquet"))
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(schema).parquet(streamDir)
      val dirty = stream.withColumn("text",
        concat(lit("  "), col("text"),
          when(col("doc_id") % 10 === 0,
            concat(lit(" contact u"), col("doc_id").cast("string"),
              lit("@example.com or 555-123-4567 now"))).otherwise(lit("")),
          lit("\t mid  gap \u0007\u0007 end  ")))
      val out = TextAnalysis.redacted(
        TextAnalysis.cleaned(dirty), textCol = "clean_text", idCol = "id")
      val name = "p42_curation_" + tag
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name).orderBy("id")
    }),

    // P29+P30 under Structured Streaming, key p45_streaming_gopher —
    // p42 proved clean→redact runs unchanged as a stream; this does the
    // same for the OTHER curation chain: the fused line-filter→Gopher
    // scan (p43's exact operator composition and planting) drains the
    // documents table through a file readStream and must hash-match the
    // batch-derived oracle. Both stages are stateless projections, so
    // the micro-batch plan is the same single fused scan as batch.
    "p45_streaming_gopher" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val (streamDir, tag) =
        Spool.once("stream-documents", dir)(linkTo(dir, "documents.parquet"))
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(schema).parquet(streamDir)
      val planted = stream.withColumn("text",
        concat(col("text"), lit("."),
          lit("\nshort line\nThis line has exactly enough words to pass."),
          when(col("doc_id") % 10 === 0,
            lit("\nlorem ipsum dolor sit amet consectetur.")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            lit("\nfunction() { var x = 1; }")).otherwise(lit(""))))
      val out = TextAnalysis.gopherRules(
        TextAnalysis.lineFilter(planted),
        textCol = "filtered_text", idCol = "id", stopwords = Seq("the", "a"))
      val name = "p45_gopher_" + tag
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name).orderBy("id")
    }),

    // P1+, key p33_paragraph_dedup — cross-document paragraph dedup over
    // input with a planted shared boilerplate paragraph on every doc and
    // a second one on every 5th doc (mirrored in the oracle): only the
    // first occurrence of each survives, everything else is stripped.
    "p33_paragraph_dedup" -> ((s, dir) =>
      Dedup.paragraphDedup(docs(s, dir).withColumn("text",
        concat(col("text"),
          lit("\nSubscribe to our newsletter for updates."),
          when(col("doc_id") % 5 === 0,
            lit("\nAll rights reserved worldwide.")).otherwise(lit("")))))
        .orderBy("id")),

    // P29, key p32_c4_filter — C4-style line filtering over input with
    // planted line structure (a too-short line + a passing prose line on
    // every doc, placeholder text every 10th, a code line every 7th —
    // mirrored in the oracle) so every rule actually fires.
    "p32_c4_filter" -> ((s, dir) =>
      TextAnalysis.lineFilter(docs(s, dir).withColumn("text",
        concat(col("text"),
          lit("\nshort line\nThis line has exactly enough words to pass."),
          when(col("doc_id") % 10 === 0,
            lit("\nlorem ipsum dolor sit amet consectetur.")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            lit("\nfunction() { var x = 1; }")).otherwise(lit("")))))
        .orderBy("id")),

    // P1++, key p36_dup_spans — alignment-free duplicated-substring
    // detection: every 3rd doc carries the same planted 25-token run
    // (mirrored in the oracle), so its 6 interior windows are duplicated
    // corpus-wide; the generator's own ~5% near-dup docs contribute too.
    "p36_dup_spans" -> ((s, dir) =>
      Dedup.dupSpans(docs(s, dir).withColumn("text",
        concat(col("text"), when(col("doc_id") % 3 === 0,
          lit(" " + DupSpanPlant)).otherwise(lit("")))), w = DupSpanW)
        .orderBy("id")),

    // P1++, key p48_span_dedup_apply — the excision half of Lee et
    // al.'s substring dedup: same plant as p36, but the output is the
    // CLEANED corpus (covered tokens removed, survivors re-joined).
    "p48_span_dedup_apply" -> ((s, dir) =>
      Dedup.spanDedupApply(docs(s, dir).withColumn("text",
        concat(col("text"), when(col("doc_id") % 3 === 0,
          lit(" " + DupSpanPlant)).otherwise(lit("")))), w = DupSpanW)
        .orderBy("id")),

    // P15+/P1+++, key p53_streaming_incremental — the continual-refresh
    // frontier AS A STREAM: new documents arrive continuously and are
    // checked against the static curated corpus by a stream-static
    // hash-equi join (the production continuous-ingestion filter; the
    // corpus side again contributes only distinct hashes). Within-batch
    // dedup is omitted by design — it is arrival-order-dependent under
    // streaming, while corpus membership is order-free, so THIS is the
    // exactly-reproducible projection of p49 (same fixture, same
    // in_corpus values, hash-matched to a batch-derived oracle).
    "p53_streaming_incremental" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val (streamDir, tag) =
        Spool.once("stream-documents", dir)(linkTo(dir, "documents.parquet"))
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(schema).parquet(streamDir)
        .select("doc_id", "text")
      val staticD = docs(s, dir)
        .select(col("doc_id").as("nid"), col("text").as("ntext"))
      val corpusHashes = docs(s, dir).where(col("doc_id") % 3 =!= 0)
        .select(md5(col("text")).as("h")).distinct()
        .withColumn("hit", lit(true))
      val planted = stream.where(col("doc_id") % 3 === 0).as("b")
        .join(staticD, col("nid") === col("b.doc_id") + 1, "left")
        .select(col("b.doc_id").as("doc_id"),
          when(col("b.doc_id") % 6 === 0,
            coalesce(col("ntext"), col("b.text")))
            .otherwise(col("b.text")).as("text"))
      val batch = planted.unionAll(planted.where(col("doc_id") % 30 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val out = batch.select(col("doc_id").as("id"), md5(col("text")).as("h"))
        .join(corpusHashes, Seq("h"), "left")
        .select(col("id"), coalesce(col("hit"), lit(false)).as("in_corpus"))
      val name = "p53_incr_" + tag
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name).orderBy("id")
    }),

    // P1++++, key p59_incremental_bloom — the continual-refresh frontier
    // at cross-datacenter scale: the corpus-membership side is a Bloom
    // filter built with ZERO corpus shuffle (partial-aggregated
    // reduction), the batch tests membership in its own projection.
    // Rows-only like p39 (bit layout is engine-specific); the spec pins
    // no-false-negatives against p49's exact frontier.
    "p59_incremental_bloom" -> ((s, dir) => {
      val (corpus, batch) = incrementalFixture(s, dir)
      Dedup.incrementalExactBloom(corpus, batch).orderBy("id")
    }),

    // P1+++, key p49_incremental_dedup — continual-refresh exact dedup:
    // corpus = doc_id % 3 != 0; batch = the rest, with every 6th doc's
    // text replaced by its corpus neighbor (planted cross-corpus dup)
    // and every 30th re-appended under a shifted id (within-batch dup).
    "p49_incremental_dedup" -> ((s, dir) => {
      val (corpus, batch) = incrementalFixture(s, dir)
      Dedup.incrementalExact(corpus, batch).orderBy("id")
    }),

    // P3+, key p51_incremental_neardup — the same continual-refresh
    // split under MinHash+LSH similarity: exact copies hit all 4 bands;
    // the generator's ~5% near-dup docs exercise partial-band matches
    // across the corpus/batch frontier.
    "p51_incremental_neardup" -> ((s, dir) => {
      val (corpus, batch) = incrementalFixture(s, dir)
      Dedup.incrementalNearDup(corpus, batch).orderBy("id")
    }),

    // Flagship end-to-end key p50_curation_pipeline — the WHOLE curation
    // chain as one composed operator in production order: line filter
    // (+C4 doc drops) → clean → redact → Gopher keep → exact dedup.
    // Plants exercise every stage: dup paragraph (%25, collapses in the
    // final dedup), lorem/braces drops (%10/%7), a PII line that
    // SURVIVES the line filter (%4), and the p43 line-filter fodder.
    "p50_curation_pipeline" -> ((s, dir) =>
      Corpus.curationPipeline(pipelinePlanted(docs(s, dir)),
        stopwords = Seq("the", "a")).orderBy("id")),

    // P15++/P22+++, key p58_streaming_pipeline — the WHOLE p50 curation
    // pipeline as a STREAM, closing the one stage p42/p45 couldn't
    // cover: stages 1-4 are the same stateless fused scan, and the
    // final exact dedup becomes a hash-keyed streaming AGGREGATION
    // (running min-id/count per content hash — the production
    // continuous-curation shape, update-mode state O(distinct hashes)).
    // Same planting, same batch oracle as p50: batch ≡ streaming for
    // the full five-stage pipeline, dedup included.
    "p58_streaming_pipeline" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val (streamDir, tag) =
        Spool.once("stream-documents", dir)(linkTo(dir, "documents.parquet"))
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = spreadStream(s.readStream.schema(schema).parquet(streamDir))
      val out = Corpus.curationDedupAgg(
        Corpus.curationStages(pipelinePlanted(stream),
          stopwords = Seq("the", "a")))
      val name = "p58_pipe_" + tag
      withStreamShuffle(s) { withRocksDbState(s) {
        val q = out.writeStream.format("memory").queryName(name)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } }
      s.table(name).orderBy("id")
    }),

    // P12+++ / P76 — audio near-duplicate detection via envelope hash
    // (the WAV twin of p74's image dHash): real javax.sound decode →
    // 65 exact integer frame-energy sums → 64 delta-sign bits,
    // invariant to amplitude scaling and energy-preserving dither;
    // pairing reuses the SAME banded hamming join as images. Docs
    // %4/%6 carry byte-different hash-identical re-encodings; the
    // oracle enumerates the planted variant pairs (same contract as
    // p74: codec/hash/banding break = missing rows, over-eager hash =
    // extra rows). Ids are doc_id*10+variant.
    "p76_audio_neardup" -> ((s, dir) => {
      import s.implicits._
      val clips = docs(s, dir).select(col("doc_id")).as[Long]
        .flatMap { d =>
          val variants = Seq(0) ++
            (if (d % 4 == 0) Seq(1) else Nil) ++
            (if (d % 6 == 0) Seq(2) else Nil)
          variants.map(v => (d * 10 + v, Multimodal.envelopeWav(d, v)))
        }.toDF("id", "payload")
      Dedup.hammingPairs64(Multimodal.audioEnvelopeHashes(s, clips))
        .orderBy("id_a", "id_b")
    }),

    // P12+++/P74++, key p77_video_neardup — the video member of the
    // near-dup triad: per-frame dHash of the DECODED frames, strict-
    // majority-folded into a 64-bit fingerprint, paired by the SAME
    // banded hamming join as images/audio. Fixture plants re-muxed
    // (same frame bytes, different container) and losslessly-transcoded
    // (same pixels, different codec) twins — byte-different,
    // fingerprint-identical by construction; videos only on doc_id%5
    // (video corpora are sparser than image ones, and each payload
    // costs NeardupVideoFrames codec passes). Ids are doc_id*10+variant.
    "p77_video_neardup" -> ((s, dir) => {
      import s.implicits._
      val videos = docs(s, dir).select(col("doc_id")).as[Long]
        .filter(_ % 5 == 0)
        .flatMap { d =>
          val variants = Seq(0) ++
            (if (d % 10 == 0) Seq(1) else Nil) ++
            (if (d % 15 == 0) Seq(2) else Nil)
          variants.map(v => (d * 10 + v, Multimodal.neardupAvi(d, v)))
        }.toDF("id", "payload")
      Dedup.hammingPairs64(Multimodal.videoFingerprints(s, videos))
        .orderBy("id_a", "id_b")
    }),

    // P143 — meta-robots governance (the PAGE's own directives —
    // complements robots.txt p101/p132; the r16 verdict's #6 ask):
    // noindex (or none) drops the page from the corpus composition;
    // nofollow (or none) drops ALL its edges, and a per-anchor
    // rel=nofollow drops that edge, from the governed link graph. One
    // result frame carries both effects: kind='page' rows are the
    // kept corpus, kind='edge' rows the governed edges — the oracle
    // re-derives both populations from the planted variant formula
    // (mixed case, unquoted values, flipped attribute order, a decoy
    // description meta, rel before AND after href all load-bearing).
    "p143_meta_robots" -> ((s, dir) => {
      val pages = robotsPages(docs(s, dir))
      val kept = pages
        .where(!Html.metaRobots(col("html")).getField("noindex"))
        .select(lit("page").as("kind"),
          UrlOps.canonicalizeUrl(col("url")).as("src_url"),
          lit("").as("dst_url"))
      val edges = Html.governedLinkGraph(pages)
        .select(lit("edge").as("kind"), col("src_url"), col("dst_url"))
      kept.unionAll(edges).orderBy("kind", "src_url", "dst_url")
    }),

    // P145 — X-Robots-Tag governance (the HTTP-header twin of p143's
    // meta tag, carried through the REAL front door): per-doc header
    // variants ride export's spliced response-header lines through a
    // .warc.gz round-trip, parseWarc surfaces the FULL header map, and
    // the directive verdicts come off the recovered headers — so
    // header capture, casing, the agent-scoped form, and the
    // decoy-header exactness are all end-to-end checked against the
    // planted formula.
    "p145_xrobots" -> ((s, dir) => {
      import graft.sources.WarcSource
      val out = Spool.fresh("warc-xrobots", dir)
      val m = pmod(col("doc_id"), lit(6))
      val pages = docs(s, dir).select(col("doc_id"), col("text"),
        when(m === 0, lit("X-Robots-Tag: noindex"))
          .when(m === 1, lit("x-robots-tag: NOFOLLOW"))
          .when(m === 2, lit("X-Robots-Tag: none"))
          .when(m === 3, lit("X-Robots-Tag: googlebot: noindex"))
          .when(m === 4, lit("X-Custom-Tag: noindex"))
          .otherwise(lit("")).as("xhdr"))
      WarcSource.export(pages, out, httpHeaderCol = Some("xhdr"))
      val recs = WarcSource.records(s, out)
        .where(col("warc_type") === "response")
      val d = WarcSource.xRobots(col("http_headers"))
      recs.select(
        regexp_extract(col("record_id"), ":doc:(\\d+)>$", 1)
          .cast("long").as("id"),
        d.getField("noindex").as("noindex"),
        d.getField("nofollow").as("nofollow"))
        .withColumn("kept", !col("noindex"))
        .orderBy("id")
    }),

    // P142 — MP4 keyframe-byte near-dup (extends the near-dup triad to
    // INTER-FRAME codecs without a decoder — the r16 verdict's #5 ask):
    // sync-sample byte extents resolved purely from the container's
    // sample tables (stss/stsc/stco/stsz), each keyframe's BYTES
    // md5-hashed, strict-majority-folded, then the SAME banded hamming
    // join as p74/p76/p77. The three variants of one doc are
    // byte-different re-muxes (offset-shifting free box, leading audio
    // trak, split chunks, reverse-stored chunk-per-sample, shuffled
    // stbl box order) of identical sample bytes — fingerprints match
    // ONLY if extent resolution is exact.
    "p142_mp4_keyframe_neardup" -> ((s, dir) => {
      import s.implicits._
      val videos = docs(s, dir).select(col("doc_id")).as[Long]
        .filter(_ % 5 == 0)
        .flatMap { d =>
          val variants = Seq(0) ++
            (if (d % 10 == 0) Seq(1) else Nil) ++
            (if (d % 15 == 0) Seq(2) else Nil)
          variants.map(v => (d * 10 + v, Mp4.neardupMp4(d, v)))
        }.toDF("id", "payload")
      Dedup.hammingPairs64(Mp4.keyframeFingerprints(videos))
        .orderBy("id_a", "id_b")
    }),

    // P78 — URL canonicalization + URL-level dedup (C4/CCNet/RefinedWeb
    // step 1: collapse scheme/www/default-port/tracking-param/fragment/
    // trailing-slash/param-order variants of one page, keep the best
    // capture). Fixture: every 3 consecutive docs are the same page
    // crawled 3 messy ways (https+mixed-case host; http+www+:80+
    // trailing slash+utm+shuffled params; scheme-less+:443+fragment);
    // the canonicalizer must collapse all three to the formula
    // canonical or rows/hash diverge. One scan + one hash aggregation.
    "p78_url_dedup" -> ((s, dir) =>
      UrlOps.urlDedup(messyUrls(docs(s, dir))).orderBy("canonical_url")),

    // P78+, key p81_streaming_url_dedup — the crawl-frontier twin of
    // p78 (the p58/p67/p73/p75 batch≡streaming convention): captures
    // arrive in micro-batches, the canonical-URL keep-best state is a
    // STREAMING aggregation in update mode (each batch emits only the
    // canonical URLs it changed — O(delta), the upsert-sink contract;
    // the struct-argmax min and the count both fold associatively, so
    // the state store holds one row per canonical URL). Final state =
    // each group's last update, identifiable because an update always
    // reflects at least one more capture (n_dups strictly grows).
    // Hash-matches p78's batch oracle on the same corpus.
    "p81_streaming_url_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val (streamDir, tag) =
        Spool.once("stream-docs-split2", dir)(splitDocs(s, dir, parts = 2))
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = spreadStream(s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(streamDir))
      val agg = UrlOps.urlDedup(messyUrls(stream))
      val name = "p81_url_" + tag
      withStreamShuffle(s) { withRocksDbState(s) {
        val q = agg.writeStream.format("memory").queryName(name)
          .outputMode("update").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } }
      foldUpdates(s, name, "canonical_url").orderBy("canonical_url")
    }),

    // P79 — domain balancing (RefinedWeb/FineWeb anti-dominance: cap
    // every registered domain at k docs, best-quality first). Fixture:
    // ~40 domains with subdomain variety (bare/www/blog/api.v2) and a
    // two-level-suffix TLD mix (.com vs .co.uk) — the registered-domain
    // cut must ignore subdomains and keep 3 labels under co.uk or the
    // grouping (and the kept set) diverges. WindowGroupLimit prunes to
    // k rows per partition BEFORE the shuffle.
    "p79_domain_cap" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("n_chars"))
        .withColumn("h", pmod(col("doc_id"), lit(40)))
      val tld = when(pmod(col("h"), lit(4)) === 0, lit(".co.uk"))
        .otherwise(lit(".com"))
      val sub = when(pmod(col("doc_id"), lit(4)) === 0, lit(""))
        .when(pmod(col("doc_id"), lit(4)) === 1, lit("www."))
        .when(pmod(col("doc_id"), lit(4)) === 2, lit("blog."))
        .otherwise(lit("api.v2."))
      val url = concat(lit("https://"), sub, lit("Example-"), col("h"),
        tld, lit("/d/"), col("doc_id"))
      UrlOps.domainCap(d.withColumn("url", url), k = 5)
        .withColumn("domain_rank", col("domain_rank").cast("long"))
        .orderBy("domain", "domain_rank")
    }),

    // P82 — sign random projection (Achlioptas/JL): 64-dim float
    // embeddings -> 8 doubles through a deterministic md5-derived ±1
    // matrix (a driver literal artifact, like the LM vocabularies).
    // One narrow codegen scan, fixed-order left fold so every output
    // bit is oracle-reproducible; long-format output stays pivot-free.
    "p82_random_projection" -> ((s, dir) =>
      Ann.signProject(embs(s, dir), outDim = 8).orderBy("vec_id", "dim")),

    // P85 — WARC ingest round-trip (ISO 28500 — the Common Crawl
    // format, the first read of every web-scale pipeline): shard the
    // docs into record-gzipped .warc.gz segments on the executors,
    // re-ingest through the parser (one task per file — WARC is not
    // splittable, exactly how production CC jobs parallelize), emit
    // (doc_id from the target URI, status, md5 of the recovered body).
    // The md5 proves byte-exact body round-trip through HTTP framing,
    // Content-Length slicing, and member-gzip.
    "p85_warc_ingest" -> ((s, dir) => {
      import graft.sources.WarcSource
      val out = Spool.fresh("warc-ingest", dir)
      WarcSource.export(docs(s, dir), out, docsPerFile = 100)
      WarcSource.records(s, out)
        .where(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"),
          col("status").cast("long").as("status"),
          md5(col("body")).as("body_md5"))
        .orderBy("doc_id")
    }),

    // P86 — the crawl-to-corpus composition: WARC segments in, deduped
    // corpus out. The messy-URL fixture rides as each record's
    // WARC-Target-URI; ingest recovers (doc_id from the record id, url,
    // body), canonicalization + keep-best run on the RECOVERED fields
    // (n_chars = length(body) — byte-exact round-trip proven by p85),
    // and the result hash-matches p78's oracle: three operators
    // composed end-to-end, one ground truth.
    "p86_crawl_dedup" -> ((s, dir) => {
      import graft.sources.WarcSource
      val out = Spool.fresh("warc-crawl", dir)
      val withText = messyUrls(docs(s, dir))
        .join(docs(s, dir).select("doc_id", "text"), "doc_id")
      WarcSource.export(withText, out, docsPerFile = 100,
        urlCol = Some("url"))
      val recovered = WarcSource.records(s, out)
        .where(col("warc_type") === "response")
        .select(
          regexp_extract(col("record_id"), ":doc:(\\d+)>$", 1)
            .cast("long").as("doc_id"),
          length(col("body")).cast("long").as("n_chars"),
          col("target_uri").as("url"))
      UrlOps.urlDedup(recovered).orderBy("canonical_url")
    }),

    // P87 — corpus snapshot diff (incremental-refresh planning):
    // v2 modifies %7 texts, drops %13 docs, and adds re-keyed copies
    // of %11 — every status class is populated; only added+modified
    // would re-enter the pipeline downstream.
    "p87_snapshot_diff" -> ((s, dir) => {
      val v1 = docs(s, dir).select(col("doc_id"), col("text"))
      val v2 = v1.where(pmod(col("doc_id"), lit(13)) =!= 0)
        .withColumn("text", when(pmod(col("doc_id"), lit(7)) === 0,
          concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
        .unionByName(v1.where(pmod(col("doc_id"), lit(11)) === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Corpus.snapshotDiff(v1, v2).orderBy("doc_id")
    }),

    // P88 — content-defined chunking (Rabin/CDC boundaries over token
    // streams): cut after every 8-token window whose rolling hash ≡ 0
    // (mod 16), so an insertion shifts only the chunks it touches —
    // boundaries re-synchronize and later chunk hashes survive (the
    // property fixed-stride p71 lacks).
    "p88_cdc_chunks" -> ((s, dir) =>
      Corpus.cdcChunks(docs(s, dir), w = 8, divisor = 16)
        .orderBy("id", "chunk_idx")),

    // P89 — CDC shared-content pairs (what p88's chunking is FOR):
    // docs embedding the same passage at DIFFERENT offsets share its
    // interior content-defined chunks — fixed-stride chunking misses
    // exactly that. Plant: every doc_id%9 doc appends the same
    // 80-token passage after its own (different-length) text.
    "p89_cdc_shared" -> ((s, dir) =>
      Corpus.cdcSharedDocs(
        docs(s, dir).withColumn("text",
          when(pmod(col("doc_id"), lit(9)) === 0,
            concat(col("text"), lit(" " + CdcPlant)))
            .otherwise(col("text"))),
        w = 8, divisor = 16, minShared = 2)
        .orderBy("id_a", "id_b")),

    // P90 — URL-level decontamination (the Pile/FineWeb benchmark
    // guard BEFORE the n-gram checks): the eval set records every %17
    // doc's page under a DIFFERENTLY-messy spelling (www + shuffled
    // params + gclid), so only canonical matching — never string
    // matching — removes the right docs; a hit kills the page's whole
    // 3-capture group.
    "p90_url_decontamination" -> ((s, dir) => {
      val train = messyUrls(docs(s, dir))
      val bench = docs(s, dir).where(pmod(col("doc_id"), lit(17)) === 0)
        .withColumn("grp", expr("doc_id DIV 3"))
        .withColumn("h", pmod(col("grp"), lit(50)))
        .select(concat(lit("https://www.Example-"), col("h"),
          lit(".com/Pg/"), col("grp"), lit("/?b=2&a=1&gclid=x")).as("url"))
      UrlOps.urlDecontaminate(train, bench)
        .select(col("doc_id"),
          UrlOps.canonicalizeUrl(col("url")).as("canonical_url"))
        .orderBy("doc_id")
    }),

    // P91 — WET-to-analysis composition: Common Crawl's extracted-text
    // form (conversion records, payload IS the text) ingested and fed
    // straight into language ID — the realistic front door for the
    // whole text-analysis family. Shares p08's oracle: byte-exact
    // recovery means identical predictions and hit counts.
    "p91_wet_langid" -> ((s, dir) => {
      import graft.sources.WarcSource
      val out = Spool.fresh("wet-langid", dir)
      WarcSource.export(docs(s, dir), out, docsPerFile = 100, wet = true)
      val recovered = WarcSource.records(s, out)
        .where(col("warc_type") === "conversion")
        .select(
          regexp_extract(col("record_id"), ":doc:(\\d+)>$", 1)
            .cast("long").as("doc_id"),
          col("body").as("text"))
      TextAnalysis.languageId(recovered).orderBy("id")
    }),

    // P92 — HTML-to-text extraction (the step that PRODUCES the WET
    // form p91 consumes): script/style/comment excision, block-tag
    // line breaks, tag stripping, entity decode, whitespace
    // normalization — one codegen'd expression chain, zero shuffles.
    // The oracle derives the expected text from the fixture RULE
    // (title + h1 + normalized doc text + entity paragraph + link
    // anchors), not by mirroring the chain — an independent check.
    "p92_html_extract" -> ((s, dir) =>
      htmlPages(docs(s, dir))
        .select(col("doc_id"), Html.htmlToText(col("html")).as("text_extracted"))
        .orderBy("doc_id")),

    // P93 — CDX index generation (Common Crawl's cc-index): WARC
    // segments in, urlkey-sorted capture index out — SURT urlkey,
    // canonical URL, status, content digest, payload size. Composes
    // the p85 WARC round-trip with the URL layer; the oracle derives
    // every field from the doc table + URL formula independently.
    "p93_cdx_index" -> ((s, dir) => {
      import graft.sources.WarcSource
      val out = Spool.fresh("cdx", dir)
      WarcSource.export(pageUrls(docs(s, dir)), out, docsPerFile = 100,
        urlCol = Some("url"))
      WarcSource.cdxIndex(WarcSource.records(s, out)).orderBy("urlkey")
    }),

    // P131 — incremental re-crawl planning: two .warc.gz crawls of the
    // same sites (B drops %13 pages, rewrites %6, discovers %17 under
    // new ids) indexed with p93's CDX and full-outer diffed on urlkey
    // into added/removed/changed/same. Crawl A additionally captures
    // every %19 page TWICE (a re-crawl within the snapshot, body
    // suffixed " v2") — real CDXes carry multi-capture urlkeys, and
    // the diff must collapse each side to one representative
    // (max digest) before classifying. Both crawls run the REAL
    // export → parse → index chain; the oracle re-derives every
    // urlkey, sha256 digest, max-collapse, and verdict from the doc
    // table alone, so a canonicalization, framing, dedupe, or join
    // slip changes rows.
    "p131_crawl_diff" -> ((s, dir) => {
      import graft.sources.WarcSource
      val outA = Spool.fresh("cdx-diff-a", dir)
      val outB = Spool.fresh("cdx-diff-b", dir)
      val d = docs(s, dir)
      val aDocs = d.unionByName(d.where(pmod(col("doc_id"), lit(19)) === 0)
        .withColumn("text", concat(col("text"), lit(" v2"))))
      WarcSource.export(pageUrls(aDocs), outA, docsPerFile = 100,
        urlCol = Some("url"))
      val bDocs = d.where(pmod(col("doc_id"), lit(13)) =!= 0)
        .withColumn("text", when(pmod(col("doc_id"), lit(6)) === 0,
          concat(col("text"), lit(" updated"))).otherwise(col("text")))
        .unionByName(d.where(pmod(col("doc_id"), lit(17)) === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      WarcSource.export(pageUrls(bDocs), outB, docsPerFile = 100,
        urlCol = Some("url"))
      WarcSource.cdxDiff(
        WarcSource.cdxIndex(WarcSource.records(s, outA)),
        WarcSource.cdxIndex(WarcSource.records(s, outB)))
        .orderBy("urlkey")
    }),

    // P133 — WARC revisit records (ISO 28500 crawl-time dedup): every
    // %9 page is captured TWICE, the second time as a `revisit` record
    // whose payload is headers-only and whose WARC-Payload-Digest
    // carries the referent's sha256 inline. The capture table resolves
    // revisit digests from the header (no join back to the original),
    // and the per-urlkey collapse must land on exactly ONE distinct
    // digest — the dedup signal a re-crawl pipeline reads before any
    // content hash. Oracle re-derives captures, revisit counts, and
    // the collapse from the doc table alone: a header-parse slip, a
    // digest-prefix slip, or a phantom/lost revisit all change rows.
    "p133_warc_revisit" -> ((s, dir) => {
      import graft.sources.WarcSource
      val out = Spool.fresh("warc-revisit", dir)
      WarcSource.export(docs(s, dir), out, docsPerFile = 100,
        revisitEvery = 9)
      WarcSource.cdxCaptures(WarcSource.records(s, out))
        .groupBy("urlkey")
        .agg(count(lit(1)).as("n_captures"),
          sum((col("kind") === "revisit").cast("long")).as("n_revisits"),
          countDistinct(col("digest")).as("n_digests"),
          max(col("digest")).as("digest"),
          sum(col("n_bytes")).as("stored_bytes"))
        .orderBy("urlkey")
    }),

    // P94 — SFT chat rendering + loss-mask spans: conversations
    // flatten to one training string under a fixed template; the char
    // ranges holding ASSISTANT content come out as spans (the loss
    // mask). One narrow scan + explode, zero shuffles; the oracle
    // recomputes every offset from closed-form length arithmetic.
    "p94_sft_render" -> ((s, dir) =>
      Corpus.sftRender(sftConvs(docs(s, dir)), idCol = "doc_id")
        .orderBy("doc_id", "turn_idx")),

    // P128 — SFT packing with remapped loss masks (p94 x p21, the
    // actual trainer input): conversations pack into 2048-char budget
    // bins per shard (packSequences topology) and every assistant span
    // shifts by its conversation's offset within the pack. The oracle
    // re-derives render lengths, the running-sum pack assignment, the
    // per-pack offsets, and both span arms from scratch — an
    // off-by-one anywhere trains the loss on the wrong bytes and
    // changes rows.
    "p128_sft_packing" -> ((s, dir) =>
      Corpus.sftPack(sftConvs(docs(s, dir)), budget = 2048,
        idCol = "doc_id")
        .orderBy("doc_id", "turn_idx")),

    // P95 — page-level link graph: hrefs extracted from raw HTML
    // (both quote styles), root-relative links resolved against the
    // page host, everything canonicalized, one distinct edge list —
    // the web-graph construction behind PageRank-style quality
    // signals. The oracle enumerates the planted edges by formula.
    "p95_link_graph" -> ((s, dir) =>
      Html.linkGraph(htmlPages(docs(s, dir)))
        .orderBy("src_url", "dst_url")),

    // P96 — Unicode confusable folding (ftfy-lite): the fixture wraps
    // each doc in curly quotes and plants NBSP + em-dash + ZWSP +
    // curly apostrophe + ellipsis; the oracle states the expected
    // folded string in closed form, so a missed fold, a wrong fold
    // order, or an over-eager class all diverge.
    "p96_unicode_fold" -> ((s, dir) =>
      TextAnalysis.unicodeFold(
        docs(s, dir).withColumn("text", concat(lit("\u201C"), col("text"),
          // \u201D NBSP em-dash ZWSP it's-with-curly-quote fine ellipsis
          lit("\u201D\u00A0\u2014\u200Bit\u2019s fine\u2026"))))
        .orderBy("id")),

    // P97 — sentence segmentation: the planted paragraph exercises
    // every rule branch — ". Then" splits, "3.14" (no whitespace)
    // doesn't, "! Was" and "? Yes" split, ". the" (lowercase) doesn't,
    // ". Tail" splits. The oracle enumerates the 5 expected sentences
    // per doc in closed form.
    "p97_sentences" -> ((s, dir) => {
      import graft.functions.{TextFunctions => TF}
      val intro = array_join(slice(TF.tokens(col("text")), 1, 2), " ")
      TextAnalysis.sentences(
        docs(s, dir).withColumn("text",
          concat(lit("Intro about "), intro,
            lit(". Then came 3.14 pies! Was it real? Yes. the trap " +
              "stays. Tail"))))
        .orderBy("id", "sent_idx")
    }),

    // P98 — registered-domain web-graph signals over the p95 edges:
    // crawled page count, out-degree, in-degree per domain — the
    // aggregate behind link-based quality priors. The oracle counts
    // pages and planted links per domain straight from the formula.
    "p98_domain_signals" -> ((s, dir) =>
      Html.domainSignals(Html.linkGraph(htmlPages(docs(s, dir))))
        .orderBy("domain")),

    // P100 — PageRank over a domain graph in DETERMINISTIC fixed-point
    // integer arithmetic (floats sum in shuffle order and never
    // hash-match): the fixture's quadratic-residue edges give genuinely
    // non-uniform ranks; the oracle unrolls the same 10 iterations as
    // SQL CTE stages with identical floor-division order.
    "p100_pagerank" -> ((s, dir) =>
      Html.pageRank(
        docs(s, dir).select(pmod(col("doc_id"), lit(50)).as("src"),
          pmod(col("doc_id") * col("doc_id") + 1, lit(50)).as("dst"))
          .where(col("src") =!= col("dst")).distinct(),
        iterations = 10)
        .orderBy("node")),

    // P101 — robots-aware filtering as crawler "GraftBot/1.0" under
    // RFC 9309: group selection FIRST (§2.2.1 — most-specific
    // User-agent prefix match, `*` fallback, non-matching named
    // groups ignored), then longest-match Allow/Disallow within the
    // selected group. The `*` group carries the r14 precedence
    // gauntlet: every host allows /Pg (len 3); hosts h%3!=1 disallow
    // their own /Pg/{h} page prefix (len 4+|h|, beats the allow);
    // hosts h%5==2 ALSO carry a broad `Disallow: /Pg` (ties the allow
    // at len 3 — the tie must fall to allow) plus an `Allow: /Pg/1`
    // carve-out (len 5). On top, multi-group bodies where the
    // specific group and `*` DISAGREE loudly:
    //   h%4==0 — a `User-agent: graft` group (prefix of graftbot,
    //     so it binds INSTEAD of `*`): Disallow /Pg + Allow /Pg/2 —
    //     only ids starting with '2' survive on these hosts;
    //   h%4==2 — TWO named groups, `graft` (Disallow: /, blocks all)
    //     and `graftbot` (only Disallow: /private) — the LONGER token
    //     must win, keeping everything on these hosts;
    //   h%4==3 — a `User-agent: otherbot` group (Disallow: /) that
    //     does NOT match and must be ignored in favor of `*`.
    // An empty Disallow and a never-matching /private rule are
    // planted to be ignored throughout.
    "p101_robots_filter" -> ((s, dir) => {
      val d = pageUrls(docs(s, dir))
      val robots = d.select(pmod(col("doc_id"), lit(50)).as("h")).distinct()
        .select(concat(lit("example-"), col("h"), lit(".com")).as("host"),
          concat(lit("User-agent: *\nAllow: /Pg\nDisallow:\n"),
            when(pmod(col("h"), lit(3)) =!= 1,
              concat(lit("Disallow: /Pg/"), col("h"), lit("\n")))
              .otherwise(lit("")),
            when(pmod(col("h"), lit(5)) === 2,
              lit("Disallow: /Pg\nAllow: /Pg/1\n")).otherwise(lit("")),
            lit("Disallow: /private\n"),
            when(pmod(col("h"), lit(4)) === 0,
              lit("User-agent: graft\nDisallow: /Pg\nAllow: /Pg/2\n"))
              .otherwise(lit("")),
            when(pmod(col("h"), lit(4)) === 2,
              lit("User-agent: graft\nDisallow: /\n" +
                "User-agent: GraftBot\nDisallow: /private\n"))
              .otherwise(lit("")),
            when(pmod(col("h"), lit(4)) === 3,
              lit("User-agent: otherbot\nDisallow: /\n"))
              .otherwise(lit(""))).as("body"))
      UrlOps.robotsFilter(d, robots, agent = Some("GraftBot/1.0"))
        .select(col("doc_id"),
          UrlOps.canonicalizeUrl(col("url")).as("canonical_url"))
        .orderBy("doc_id")
    }),

    // P102 — JSONL corpus round-trip: the interchange format LLM
    // corpora actually ship as (Dolma/RedPajama = gzipped JSON lines).
    // Write executor-side as .json.gz, read back schema-pinned, feed
    // language ID — SHARES p08's oracle, so matching hashes prove the
    // JSON escaping round-trips byte-exactly into the analysis ops.
    "p102_jsonl_roundtrip" -> ((s, dir) => {
      val out = Spool.fresh("jsonl", dir)
      val d = docs(s, dir)
      d.select("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").option("compression", "gzip").json(out)
      val back = s.read.schema(
        d.select("doc_id", "text", "lang", "source", "n_chars").schema)
        .json(out)
      TextAnalysis.languageId(back).orderBy("id")
    }),

    // P103 — HLL-shaped distinct-count sketch over the corpus's 3-gram
    // shingles: the bounded-memory cardinality primitive, in exact
    // int64 arithmetic so the ESTIMATE ITSELF hash-matches the oracle
    // (library HLLs never do). n_exact rides along for the honesty
    // read; at scale it's the path the sketch replaces.
    "p103_hll_distinct" -> ((s, dir) => {
      import graft.functions.{HashExpressions => HE, TextFunctions => TF}
      val shingles = docs(s, dir).select(
        explode(HE.wordShingles(TF.tokens(col("text")), 3)).as("v"))
      Sketches.hllDistinct(shingles, "v", m = 64)
    }),

    // P104 — count-min heavy hitters: the sketch is a 4x256 bounded
    // artifact; estimates for every vocab token plus two planted
    // ABSENT tokens (their "count" is pure collision mass — the
    // documented overestimate direction, spec-pinned as est >= exact).
    "p104_cms_heavyhitters" -> ((s, dir) => {
      import graft.functions.{TextFunctions => TF}
      import s.implicits._
      val toks = docs(s, dir).select(explode(TF.tokens(col("text"))).as("v"))
      val cands = toks.distinct()
        .unionAll(Seq("zz_absent_a", "zz_absent_b").toDF("v"))
      val exact = toks.groupBy("v").agg(count(lit(1)).as("n_exact"))
      Sketches.cmsEstimate(Sketches.cmsBuild(toks, "v"), cands, "v")
        .join(exact, col("value") === col("v"), "left")
        .select(col("value"), col("cms_estimate"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"))
        .orderBy("value")
    }),

    // P105 — shard-sketch-merge: the property that makes sketches THE
    // 100 TB cardinality tool — every shard sketches independently,
    // a reducer max-merges O(m) register rows, and the result is
    // BIT-IDENTICAL to sketching the whole corpus in one pass. Proven
    // by sharing p103's oracle: the merged parity-split halves must
    // hash-match the single-pass estimate exactly.
    "p105_sketch_merge" -> ((s, dir) => {
      import graft.functions.{HashExpressions => HE, TextFunctions => TF}
      val d = docs(s, dir)
      def shingles(part: DataFrame) = part.select(
        explode(HE.wordShingles(TF.tokens(col("text")), 3)).as("v"))
      val even = Sketches.hllRegisters(
        shingles(d.where(pmod(col("doc_id"), lit(2)) === 0)), "v", m = 64)
      val odd = Sketches.hllRegisters(
        shingles(d.where(pmod(col("doc_id"), lit(2)) === 1)), "v", m = 64)
      Sketches.hllEstimateFromRegisters(Sketches.hllMerge(even, odd), m = 64)
        .crossJoin(shingles(d).agg(countDistinct(col("v")).as("n_exact")))
    }),

    // P106 — streaming sketch maintenance: the HLL registers are a
    // stateful streaming aggregation whose state is BOUNDED at m rows
    // (unlike corpus-sized dedup state) — complete-mode drain is the
    // honest shape here. Final registers must estimate BIT-IDENTICALLY
    // to the batch sketch: SHARES p103's oracle, completing the sketch
    // story (batch p103, shard-merge p105, streaming p106).
    "p106_streaming_sketch" -> ((s, dir) => withStreamShuffle(s) {
      import org.apache.spark.sql.streaming.Trigger
      import graft.functions.{HashExpressions => HE, TextFunctions => TF}
      val (streamDir, tag) =
        Spool.once("stream-documents", dir)(linkTo(dir, "documents.parquet"))
      val d = docs(s, dir)
      val stream = spreadStream(
        s.readStream.schema(d.schema).parquet(streamDir))
      val shingles = stream.select(
        explode(HE.wordShingles(TF.tokens(col("text")), 3)).as("v"))
      val name = "p106_hll_" + tag
      val q = Sketches.hllRegisters(shingles, "v", m = 64)
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      Sketches.hllEstimateFromRegisters(s.table(name), m = 64)
        .crossJoin(d.select(
          explode(HE.wordShingles(TF.tokens(col("text")), 3)).as("v"))
          .agg(countDistinct(col("v")).as("n_exact")))
    }),

    // P107 — filter-evaluation threshold sweep: deterministic score
    // (doc_id%100/100) and label ((doc_id*7)%10 < 6) formulas make the
    // confusion counts closed-form; one scan, |T| groups.
    "p107_eval_sweep" -> ((s, dir) =>
      Corpus.thresholdSweep(
        docs(s, dir).select(col("doc_id"),
          (pmod(col("doc_id"), lit(100)).cast("double") / 100.0).as("score"),
          (pmod(col("doc_id") * 7, lit(10)) < 6).as("label")),
        "score", "label", Seq(0.2, 0.5, 0.8))
        .orderBy("threshold")),

    // P108 — shard manifest: the dataset-card artifact; the oracle
    // recomputes every field incl. the order-insensitive checksum from
    // scratch, so a changed/added/dropped doc or a drifting shard
    // assignment all move a row.
    "p108_shard_manifest" -> ((s, dir) =>
      Corpus.shardManifest(docs(s, dir), nShards = 8)
        .orderBy("shard")),

    // P109 — the end-to-end web pipeline composition: WARC segments of
    // raw HTML pages in → parse → extract text → keep-best URL dedup
    // out. Every stage's fixture behavior is closed-form, so the
    // oracle derives the composed result (per page-group: canonical
    // URL, the doc with the longest EXTRACTED text, capture count)
    // without running any of the stages — framing, extraction, and
    // dedup all have to be right at once.
    "p109_web_pipeline" -> ((s, dir) => {
      import graft.sources.WarcSource
      val out = Spool.fresh("webpipe", dir)
      val d = docs(s, dir)
      val pages = htmlPages(d).select(col("doc_id"), col("html"))
        .join(messyUrls(d).select("doc_id", "url"), "doc_id")
      WarcSource.export(pages, out, docsPerFile = 100,
        textCol = "html", urlCol = Some("url"))
      val extracted = WarcSource.records(s, out)
        .where(col("warc_type") === "response")
        .select(
          regexp_extract(col("record_id"), ":doc:(\\d+)>$", 1)
            .cast("long").as("doc_id"),
          col("target_uri").as("url"),
          Html.htmlToText(col("body")).as("text"))
      UrlOps.urlDedup(
        extracted.withColumn("n_chars", length(col("text"))))
        .orderBy("canonical_url")
    }),

    // P110 — streaming CDX maintenance: a live crawl keeps its capture
    // index current as segments land — cdxIndex is a STATELESS
    // projection over the record stream (append mode, no state store);
    // the urlkey sort that makes the batch index binary-searchable
    // happens at publication (here: the table read). SHARES p93's
    // oracle — the streamed index must equal the batch index row for
    // row.
    "p110_streaming_cdx" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      import graft.sources.WarcSource
      // the WARC segments are a pure function of the corpus, spooled
      // once per corpus content, so each call measures the DRAIN, not a
      // repeated batch export
      val (out, tag) = Spool.once("cdx-stream", dir) { o =>
        WarcSource.export(pageUrls(docs(s, dir)), o, docsPerFile = 100,
          urlCol = Some("url"))
      }
      val name = "p110_cdx_" + tag
      val q = WarcSource.cdxIndex(WarcSource.recordsStream(s, out))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name).orderBy("urlkey")
    }),

    // P99 — streaming crawl ingest: WET segments arrive as a file
    // stream (the live-crawl shape), parse + language ID run
    // stateless per micro-batch. SHARES p08's oracle — the
    // batch ≡ streaming hash-match convention (p58/p67/p73).
    "p99_streaming_wet" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      import graft.sources.WarcSource
      // WET segments spooled once per corpus content; each call drains
      val (out, tag) = Spool.once("wet-stream", dir) { o =>
        WarcSource.export(docs(s, dir), o, docsPerFile = 100, wet = true)
      }
      val recovered = WarcSource.recordsStream(s, out)
        .where(col("warc_type") === "conversion")
        .select(
          regexp_extract(col("record_id"), ":doc:(\\d+)>$", 1)
            .cast("long").as("doc_id"),
          col("body").as("text"))
      val name = "p99_wet_" + tag
      val q = TextAnalysis.languageId(recovered)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name).orderBy("id")
    }),

    // P83 — corpus statistics report: per-(lang, source) doc/char/token
    // counts + per-lang subtotals + grand total in ONE rollup pass;
    // grouping_id disambiguates subtotal rows. Exact-integer only.
    "p83_corpus_stats" -> ((s, dir) =>
      Corpus.corpusStats(docs(s, dir))
        .orderBy("grouping_id", "lang", "source")),

    // P84 — deterministic hash split (train/val/test as a pure function
    // of (id, salt) — a doc keeps its split when the corpus grows or is
    // re-filtered, the leakage guarantee randomSplit can't give). One
    // narrow scan, zero shuffles.
    "p84_hash_split" -> ((s, dir) =>
      Corpus.hashSplit(docs(s, dir))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")),

    // P80 — domain-aware boilerplate removal (jusText/trafilatura step:
    // lines in >= 1/2 of a domain's docs are template, excised from ALL
    // docs of that domain). Fixture plants, per domain (doc_id%40): a
    // universal header+footer (ratio 1 -> removed), a PROMO line on
    // doc_id%3 (ratio ~1/3 -> kept: the negative case), and a NOTICE
    // line on (doc_id DIV 40)%2 (ratio ~1/2 -> the exact-integer
    // boundary, decided per-domain by cnt*2 >= ndocs). Body lines are
    // content and survive.
    "p80_boilerplate" -> ((s, dir) => {
      val domain = concat(lit("example-"), pmod(col("doc_id"), lit(40)))
      val planted = docs(s, dir).select(col("doc_id"), col("text"))
        .withColumn("domain", domain)
        .withColumn("text", concat(
          lit("(c) "), col("domain"), lit(" rights\n"),
          col("text"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit("\nPROMO "), col("domain"))).otherwise(lit("")),
          when(pmod(expr("doc_id DIV 40"), lit(2)) === 0,
            concat(lit("\nNOTICE "), col("domain"))).otherwise(lit("")),
          lit("\nsubscribe "), col("domain")))
      TextAnalysis.boilerplateRemove(planted, "domain")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // P15+++/P22++++, key p75_streaming_update_dedup — p58's UPDATE-mode
    // drain twin: the continuous-pipeline shape. Complete mode re-emits
    // the WHOLE state every micro-batch (O(state) per batch — fine at
    // fixture scale, wrong at 100 TB); update mode emits only the hash
    // groups each batch CHANGED (O(delta) — the upsert-sink contract).
    // The memory sink therefore accumulates one row per (group, update);
    // the final state is each group's LAST update, recoverable because
    // an emitted update always reflects at least one more member — its
    // n_dups is strictly the group's largest so far. The source is the
    // corpus split into 2 parquet files drained one per micro-batch
    // (maxFilesPerTrigger=1) — the minimum that makes cross-batch group
    // updates genuinely occur, because each micro-batch pays a fixed
    // planning + state-store round (~1.5 s at fixture scale, amortized
    // over batch volume in production); the folded state hash-matches
    // p50's batch oracle (StreamingSpec additionally pins multi-update
    // emission across 4 batches — the mode is exercised, not vacuous).
    "p75_streaming_update_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val (streamDir, tag) =
        Spool.once("stream-docs-split2", dir)(splitDocs(s, dir, parts = 2))
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = spreadStream(s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(streamDir))
      val out = Corpus.curationDedupAgg(
        Corpus.curationStages(pipelinePlanted(stream),
          stopwords = Seq("the", "a")))
      val name = "p75_upd_" + tag
      withStreamShuffle(s) { withRocksDbState(s) {
        val q = out.writeStream.format("memory").queryName(name)
          .outputMode("update").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } }
      foldUpdates(s, name, "content_hash").orderBy("id")
    }),

    // P10+, key p41_bpe — real BPE subword tokenization: merges trained
    // on the first 32 docs, corpus segmented by the native bpe_encode
    // expression in one scan. The oracle re-derives the SAME merges as a
    // 12-stage CTE chain (pair counting + left-greedy replace per
    // stage), so both engines train AND encode identically.
    "p41_bpe" -> ((s, dir) => {
      val merges = Bpe.trainMerges(docs(s, dir), numMerges = BpeMerges,
        sampleN = BpeSampleN)
      Bpe.stats(docs(s, dir), merges).orderBy("id")
    }),

    // P141 — BYTE-level BPE (the GPT-2 lineage; p41 is the char-level
    // rung): pretokens from the RE2-safe GPT-2-style pattern
    // (case-sensitive, whitespace-significant, leading-space word
    // units), their UTF-8 bytes mapped through the printable byte
    // alphabet (space = 'Ġ'), merges trained on byte symbols with the
    // SAME greedy trainer, corpus encoded by the SAME rank-heap native
    // expression. Any UTF-8 input encodes with zero OOV; decode is
    // exact (BpeSpec pins emoji/supplementary round-trips where
    // char-level differs). The oracle replays training AND encoding in
    // SQL through the shared parametrized CTE chain.
    "p141_bpe_bytes" -> ((s, dir) => {
      val merges = Bpe.trainMergesBytes(docs(s, dir), numMerges = BpeMerges,
        sampleN = BpeSampleN)
      Bpe.statsBytes(docs(s, dir), merges).orderBy("id")
    }),

    // P31, key p37_unigram — unigram-frequency quality scoring with a
    // 24-entry vocabulary (the fixture generator draws from only 31
    // distinct tokens; top-24 covers ~81% of token mass, so OOV is
    // genuinely exercised on the rest).
    "p37_unigram" -> ((s, dir) =>
      TextAnalysis.unigramScore(docs(s, dir), vocabSize = 24).orderBy("id")),

    // P31+, key p55_bigram — the bigram rung of the LM-quality ladder;
    // small V (like p37) keeps the trained table tight and exercises OOV.
    "p55_bigram" -> ((s, dir) =>
      TextAnalysis.bigramScore(docs(s, dir), vocabSize = 24).orderBy("id")),

    // P31++, key p56_trigram — the trigram rung (same ladder, same
    // trained-artifact shape; docs need >= 3 tokens so the domain
    // filter is exercised too).
    "p56_trigram" -> ((s, dir) =>
      TextAnalysis.trigramScore(docs(s, dir), vocabSize = 24).orderBy("id")),

    // P31+++, key p57_backoff — KenLM-style stupid backoff (Brants et
    // al. 2007): each trigram window scored by the longest trained
    // context, alpha-discounted on fallback. The top LM-ladder rung.
    "p57_backoff" -> ((s, dir) =>
      TextAnalysis.backoffScore(docs(s, dir), vocabSize = 24).orderBy("id")),

    // P31++++, key p69_interp — Jelinek-Mercer interpolated trigram
    // scoring with deleted-interpolation LEARNED lambdas (the final
    // LM-ladder rung; lambdas ride in the output so the oracle's
    // re-derivation is hash-checked). On this fixture's templated text
    // every top trigram's prefix is trigram-unique, so the held-out
    // trigram estimate is 1.0 and the learning lands on the boundary
    // lam3=1.0 — correct, and exactly what the learning should do
    // here; the spec pins a mixed-lambda corpus (7/9, 2/9, 0).
    "p69_interp" -> ((s, dir) =>
      TextAnalysis.interpolatedScore(docs(s, dir), vocabSize = 512)
        .orderBy("id")),

    // P19+, key p54_weighted_sample — deterministic importance sampling:
    // acceptance probability = the doc's own p09 quality score, decided
    // by the portable id-hash (no RNG; every decision reproducible and
    // stable under corpus growth).
    "p54_weighted_sample" -> ((s, dir) =>
      Corpus.qualityWeightedSample(TextAnalysis.quality(docs(s, dir)),
        weightCol = "quality_score", idCol = "id").orderBy("id")),

    // P30, key p35_gopher — Gopher document-quality rules over input
    // with planted rule-triggers (bullet lists every 8th doc, ellipsis
    // lines every 9th, symbol spam every 10th — mirrored in the oracle);
    // the multilingual fixture exercises the stopword/alpha/word-length
    // rules naturally (zh docs tokenize as unsegmented runs). The
    // required-stopword list is fixture-adapted ("the"/"a" — the only
    // function words in the generator's vocabulary; the default
    // GopherStopwords list would fail every doc), which is exactly what
    // the parameter is for on a real non-English corpus.
    "p35_gopher" -> ((s, dir) =>
      TextAnalysis.gopherRules(docs(s, dir).withColumn("text",
        concat(col("text"),
          when(col("doc_id") % 8 === 0,
            lit("\n- alpha\n- beta\n- gamma\n- delta")).otherwise(lit("")),
          when(col("doc_id") % 9 === 0,
            lit("\nto be continued...\nmore soon...")).otherwise(lit("")),
          when(col("doc_id") % 10 === 0,
            lit("\n# # # # # # # # # #")).otherwise(lit("")))),
        stopwords = Seq("the", "a"))
        .orderBy("id")),

    // P28, key p29_token_mixture — token-budget corpus mixing: sample
    // each language to its weighted share of a 50k-token budget.
    "p29_token_mixture" -> ((s, dir) =>
      Corpus.tokenMixture(docs(s, dir), MixWeights, MixTotalTokens,
        strataCol = "lang", overSample = MixOverSample, hashMod = SampleHashMod)
        .orderBy("id")),

    // P30+, key p62_source_filter — source-level quality filtering (the
    // C4/RefinedWeb domain-blocklist step from the corpus's own
    // signals): sources whose Gopher pass-fraction falls below minFrac
    // drop wholesale. At sf0.01 the natural per-source pass rates span
    // 0.28-0.60, so minFrac=0.48 keeps some sources and drops others
    // with no planting.
    "p62_source_filter" -> ((s, dir) =>
      TextAnalysis.sourceQualityFilter(docs(s, dir), minFrac = 0.48,
        minDocs = 10L, stopwords = Seq("the", "a")).orderBy("id")),

    // P19++, key p63_dsir — DSIR importance resampling (Xie et al.
    // 2023): hashed-bigram bucket models for target (lang='en') vs the
    // raw corpus; acceptance ∝ the mean probability ratio, decided by
    // the portable id-hash. English-looking docs weigh ~Tr/Tt and are
    // kept; off-target docs weigh near 0 and drop — with mixed docs
    // graded in between, which is the operator's whole point.
    "p63_dsir" -> ((s, dir) =>
      Corpus.dsirSample(docs(s, dir), isTarget = col("lang") === "en",
        buckets = DsirBuckets, hashMod = 1000003L, acceptScale = 0.25)
        .orderBy("id")),

    // P19+++, key p64_cluster_mix — cluster-balanced sampling: k-means
    // domain discovery over embeddings (the ANN stack's deterministic
    // trained quantizer, zero-shuffle argmax assignment) + per-cluster
    // deterministic downsampling — stratifiedSample with a LEARNED
    // stratum.
    "p64_cluster_mix" -> ((s, dir) =>
      Corpus.clusterBalancedSample(embs(s, dir), perCluster = 25,
        nClusters = 16, overSample = SampleOverSample,
        hashMod = SampleHashMod, trainIters = 2, trainSample = 256)
        .orderBy("centroid_id", "sample_rank")),

    // P15+P19++ composition, key p67_streaming_dsir — DSIR under
    // Structured Streaming: the bucket models train BATCH-side (the
    // train-once half of continual curation), then the scoring/selection
    // projection — stateless, literal artifacts — filters the document
    // STREAM unchanged. Hash-matches p63's batch oracle, like p42/p45
    // proved for the curation chains.
    "p67_streaming_dsir" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val (streamDir, tag) =
        Spool.once("stream-documents", dir)(linkTo(dir, "documents.parquet"))
      // train on the SPREAD batch read (docs) — the raw single-file read
      // would serialize the md5-per-bigram count on one task (r12: the
      // whole key was ~5 s of 1-task training + 4 s of 1-task drain)
      val batch = docs(s, dir)
      val model = Corpus.dsirTrain(batch, isTarget = col("lang") === "en",
        buckets = DsirBuckets)
      val stream = spreadStream(s.readStream.schema(batch.schema).parquet(streamDir))
      val out = Corpus.dsirApply(stream, model, hashMod = 1000003L,
        acceptScale = 0.25)
      val name = "p67_dsir_" + tag
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name).orderBy("id")
    }),

    // P11+, key p65_tfidf — per-document tf-idf keyword extraction
    // (idf as the raw rarity ratio N/df — ranking-equivalent to the
    // log form and bit-portable; top-5 terms per doc, term-asc ties).
    "p65_tfidf" -> ((s, dir) =>
      TextAnalysis.tfidfKeywords(docs(s, dir), k = 5).orderBy("id", "rank")),

    // P19++++, key p66_quality_cut — percentile thresholding over the
    // p09 quality score: keep the top half of the corpus by score,
    // threshold from a 1000-cell histogram (no global sort).
    "p66_quality_cut" -> ((s, dir) =>
      Corpus.qualityPercentileFilter(TextAnalysis.quality(docs(s, dir)),
        keepFrac = 0.5, buckets = 1000).orderBy("id")),

    // P20+, key p61_shuffle_shards — deterministic shuffle-shard: the
    // training-order decorrelation between curation and packing, as a
    // pure function of the id set (md5 hash order; per-shard rank
    // windows, no global sort).
    "p61_shuffle_shards" -> ((s, dir) =>
      Corpus.shuffleShards(docs(s, dir), nShards = 8).orderBy("id")),

    // P20++, key p68_curriculum — quality-banded curriculum ordering:
    // p61's shuffled order with a quality-band prefix (high-quality
    // bands first, hash-decorrelated within a band).
    "p68_curriculum" -> ((s, dir) =>
      Corpus.curriculumOrder(TextAnalysis.quality(docs(s, dir)),
        bands = 10, nShards = 8).orderBy("band", "shard", "pos")),

    // P28++, key p60_mixture_capped — the data-constrained mixing regime
    // (Muennighoff et al. 2023): strata whose budget exceeds their mass
    // REPEAT, epoch-stamped, capped at maxEpochs; the last partial epoch
    // is the usual hash-order prefix cut against the remaining budget.
    "p60_mixture_capped" -> ((s, dir) =>
      Corpus.tokenMixtureCapped(docs(s, dir), CapWeights, MixTotalTokens,
        maxEpochs = CapMaxEpochs, strataCol = "lang",
        overSample = MixOverSample, hashMod = SampleHashMod)
        .orderBy("id", "epoch")),

    // P29+P30 composed, key p43_curation_chain — the line-level C4
    // filter feeding the Gopher document verdict as ONE chained
    // operator: quality rules run on the prose-only content that
    // survives line filtering (the real pipeline ordering). Both
    // stages are narrow projections, so the whole chain fuses into a
    // single scan — PlanAuditSpec pins zero exchanges.
    "p43_curation_chain" -> ((s, dir) => {
      // the base line gets terminal punctuation so the document's real
      // content survives the line filter (word salads end mid-air)
      val lf = TextAnalysis.lineFilter(docs(s, dir).withColumn("text",
        concat(col("text"), lit("."),
          lit("\nshort line\nThis line has exactly enough words to pass."),
          when(col("doc_id") % 10 === 0,
            lit("\nlorem ipsum dolor sit amet consectetur.")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            lit("\nfunction() { var x = 1; }")).otherwise(lit("")))))
      TextAnalysis.gopherRules(lf, textCol = "filtered_text", idCol = "id",
        stopwords = Seq("the", "a")).orderBy("id")
    }),

    // P28+, key p40_mixture_temp — α=0.5 temperature-rebalanced token
    // mixture over the language strata (sqrt is the one IEEE-exact
    // exponent, so shares derive in-plan and the oracle reproduces
    // them bit-for-bit).
    "p40_mixture_temp" -> ((s, dir) =>
      Corpus.tokenMixtureTemperature(docs(s, dir), MixTempTotalTokens,
        strataCol = "lang", overSample = MixOverSample, hashMod = SampleHashMod)
        .orderBy("id")),

    // P25, key p26_contamination — benchmark decontamination: docs with
    // doc_id < 20 act as the held-out benchmark corpus.
    "p26_contamination" -> ((s, dir) => {
      val d = docs(s, dir)
      Corpus.contamination(d, d.where(col("doc_id") < 20), n = 3).orderBy("id")
    }),

    // P25+, key p39_contamination_bloom — the extreme-scale variant of
    // p26: the benchmark shingle set rides as an O(numBits/8) Bloom
    // filter instead of an exact broadcast set. NO SQL oracle (bloom bit
    // layout is engine-specific) — the driver records a rows-only check;
    // semantics are pinned by CorpusSpec's equivalence to the exact
    // operator (no false negatives; fp-bounded overcount).
    "p39_contamination_bloom" -> ((s, dir) => {
      val d = docs(s, dir)
      Corpus.contaminationBloom(d, d.where(col("doc_id") < 20), n = 3)
        .orderBy("id")
    }),

    // P8 — stopword-vote language ID.
    "p08_langid" -> ((s, dir) =>
      TextAnalysis.languageId(docs(s, dir)).orderBy("id")),

    // P9 — quality scoring.
    "p09_quality" -> ((s, dir) =>
      TextAnalysis.quality(docs(s, dir)).orderBy("id")),

    // P10 — token counting (whitespace + BPE-ish regex).
    "p10_tokens" -> ((s, dir) =>
      TextAnalysis.tokenCounts(docs(s, dir)).orderBy("id")),

    // P11 — rolling-hash fingerprint + content hash.
    "p11_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprints(docs(s, dir)).orderBy("id")),

    // P12 — multimodal binary-column plumbing (expression feature path).
    "p12_multimodal" -> ((s, dir) =>
      Multimodal.features(Multimodal.fromDocuments(docs(s, dir)))
        .orderBy("doc_id")),

    // P12+, key p47_video_mjpeg — REAL video decode: deterministic
    // MJPEG-in-AVI payloads (dims/frames are formulas of doc_id) are
    // written by the container generator and decoded back by the RIFF
    // walk + per-frame javax.imageio path. The oracle recomputes the
    // formulas — a broken writer/parser/JPEG step would fall back to
    // the stub's declared 0-dims and hash-mismatch. Brightness is
    // codec-implementation-dependent (lossy JPEG), so it stays out of
    // the key; the spec bounds it with a tolerance instead.
    "p47_video_mjpeg" -> ((s, dir) => {
      import s.implicits._
      val ids = docs(s, dir).where(col("doc_id") < 60)
        .select(col("doc_id")).as[Long]
      val media = ids.mapPartitions(_.map { id =>
        val w = (id % 16 + 8).toInt
        val h = (id % 12 + 8).toInt
        val nf = (id % 3 + 1).toInt
        (id, "video", Multimodal.generateAvi(w, h, nf, seed = id.toInt),
          0, 0, "avi")
      }).toDF("doc_id", "modality", "payload", "width", "height", "format")
        .select(col("doc_id"), col("modality"), col("payload"),
          struct(col("width"), col("height"), col("format")).as("meta"))
      Multimodal.decodeBatched(s, media).toDF()
        .select(col("doc_id"), col("width"), col("height"),
          col("n_pixels").as("n_frames"))
        .orderBy("doc_id")
    }),

    // P12++ / P74 — image near-duplicate detection via perceptual dHash
    // (the LAION-style multimodal dedup step): deterministic grayscale
    // PNG fixtures where docs with doc_id%5==0 / %7==0 carry extra
    // BYTE-different re-encodings (mean-preserving pixel noise, +10
    // brightness) that are dHash-identical by construction; the decode →
    // 9x8 block-mean → gradient-bit hash runs in batched mapPartitions
    // (no payload ever crosses a shuffle), and pairing is the banded
    // hamming join — 16-bit bucket join + exact verification, never
    // all-pairs. The oracle enumerates the planted variant pairs from
    // the doc table alone, so a codec/hash/banding break surfaces as
    // missing rows and an over-eager hash (cross-doc collisions) as
    // extra rows. Ids are doc_id*10+variant.
    "p74_image_neardup" -> ((s, dir) => {
      import s.implicits._
      val images = docs(s, dir).select(col("doc_id")).as[Long]
        .flatMap { d =>
          val variants = Seq(0) ++
            (if (d % 5 == 0) Seq(1) else Nil) ++
            (if (d % 7 == 0) Seq(2) else Nil)
          variants.map(v => (d * 10 + v, Multimodal.dhashImagePng(d, v)))
        }.toDF("id", "payload")
      Dedup.hammingPairs64(Multimodal.imageDHashes(s, images))
        .orderBy("id_a", "id_b")
    }),

    // P74+ / P85+, key p111_warc_binary — the crawl-to-multimodal
    // composition the text-only WARC path couldn't express: the SAME
    // planted PNG fixture as p74 rides as BINARY response payloads
    // (Content-Type image/png) through a real .warc.gz segment
    // round-trip, and the image near-dup family runs on the RECOVERED
    // body_bytes. A UTF-8 decode anywhere in the ingest would corrupt
    // the PNGs (dHash gives None, pairs vanish), so hash-matching
    // p74's oracle proves byte-exact binary transit — and the parser's
    // text column stays null for the binary type (decode is lazy, not
    // destructive). Scale shape inherits both parents': one task per
    // segment file, payloads never cross a shuffle.
    "p111_warc_binary" -> ((s, dir) => {
      import s.implicits._
      import graft.sources.WarcSource
      val out = Spool.fresh("warc-binary", dir)
      val images = docs(s, dir).select(col("doc_id")).as[Long]
        .flatMap { d =>
          val variants = Seq(0) ++
            (if (d % 5 == 0) Seq(1) else Nil) ++
            (if (d % 7 == 0) Seq(2) else Nil)
          variants.map(v => (d * 10 + v, Multimodal.dhashImagePng(d, v)))
        }.toDF("id", "payload")
      WarcSource.export(images, out, docsPerFile = 100, idCol = "id",
        bytesCol = Some("payload"), mime = "image/png")
      val recovered = WarcSource.records(s, out)
        .where(col("warc_type") === "response" && col("body").isNull)
        .select(
          regexp_extract(col("record_id"), ":doc:(\\d+)>$", 1)
            .cast("long").as("id"),
          col("body_bytes").as("payload"))
      Dedup.hammingPairs64(Multimodal.imageDHashes(s, recovered))
        .orderBy("id_a", "id_b")
    }),

    // P150 — HTTP transport decoding through the WARC front door:
    // real captured HTTP/1.1 responses routinely carry
    // Transfer-Encoding: chunked framing and Content-Encoding:
    // gzip/deflate bodies; without the decode, extracted "text" is
    // hex chunk-size lines or gzip bytes, inherited by every
    // downstream HTML consumer (p92/p127/p137/p143). The fixture
    // cycles doc_id % 5 through identity / chunked / gzip / deflate /
    // chunked+gzip (gzip inside, chunked outside — the order a server
    // applies them), round-trips through export, and md5(body) must
    // equal md5(text) on EVERY lane: the writer's 7-byte chunks force
    // boundaries inside multi-byte UTF-8 sequences, so any framing
    // slip diverges the hash. Scale shape inherits p85's: one task
    // per segment file, decode happens where the bytes land, nothing
    // shuffles.
    "p150_http_decode" -> ((s, dir) => {
      import graft.sources.WarcSource
      val out = Spool.fresh("warc-transport", dir)
      val in = docs(s, dir).select(col("doc_id"), col("text"),
        element_at(array(lit(""), lit("chunked"), lit("gzip"),
            lit("deflate"), lit("chunked+gzip")),
          (col("doc_id") % 5 + 1).cast("int")).as("enc"))
      WarcSource.export(in, out, docsPerFile = 100,
        transportCol = Some("enc"))
      WarcSource.records(s, out)
        .where(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"),
          (regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long") % 5).as("lane"),
          col("status").cast("long").as("status"),
          md5(col("body")).as("body_md5"))
        .orderBy("doc_id")
    }),

    // P159 — zstd Content-Encoding at the WARC front door (the r18
    // verdict's #1 remaining real-capture gap): lanes by doc_id % 3
    // ride identity / zstd / chunked+zstd through a real .warc.gz
    // round-trip and must hash-match the undecorated doc table —
    // zstd-jni is already on every Spark classpath (Spark's own
    // shuffle compression), zero new dependencies. Brotli (`br`)
    // remains DOCUMENTED OUT (no pure-JDK decoder and no
    // org.brotli:dec on this classpath) and is spec-pinned to the
    // unknown-coding degrade: raw bytes kept, text suppressed.
    "p159_content_codings" -> ((s, dir) => {
      import graft.sources.WarcSource
      val out = Spool.fresh("warc-zstd", dir)
      val in = docs(s, dir).select(col("doc_id"), col("text"),
        element_at(array(lit(""), lit("zstd"), lit("chunked+zstd")),
          (col("doc_id") % 3 + 1).cast("int")).as("enc"))
      WarcSource.export(in, out, docsPerFile = 100,
        transportCol = Some("enc"))
      WarcSource.records(s, out)
        .where(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"),
          (regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long") % 3).as("lane"),
          md5(col("body")).as("body_md5"))
        .orderBy("doc_id")
    }),

    // P112 — DPO/RLHF preference-pair construction: per prompt group
    // of scored candidates, (chosen, rejected) = (best, worst) with
    // deterministic tie-breaks, in ONE hash aggregation (max_by/min_by
    // declarative aggregates — no window, no second shuffle). The
    // fixture's (doc_id div 2) scoring makes every group carry BOTH a
    // tied top pair and a tied bottom pair, so both tie-break arms are
    // load-bearing in the oracle comparison.
    "p112_dpo_pairs" -> ((s, dir) =>
      Corpus.dpoPairs(
        docs(s, dir).select(expr("doc_id div 4").as("group_id"),
          col("doc_id").as("id"),
          expr("((doc_id div 2) * 37) % 50").as("score")))
        .orderBy("group_id")),

    // P113 — 13-gram eval-set decontamination (the GPT-3-report
    // recipe): train docs sharing any 13-gram of normalized tokens
    // with the eval corpus are flagged. Eval docs (%97) and planted
    // train docs (%10==3) carry a shared 13-word slogan varying in
    // its first token by id%3, so planted contamination crosses the
    // train/eval split deterministically; natural collisions in the
    // corpus text count too — the oracle recomputes ground truth from
    // scratch, not the plant list.
    "p113_ngram_decontam" -> ((s, dir) => {
      val planted = decontamPlanted(docs(s, dir))
      Corpus.ngramDecontaminate(
        planted.where(pmod(col("doc_id"), lit(97)) =!= 0),
        planted.where(pmod(col("doc_id"), lit(97)) === 0))
        .orderBy("id")
    }),

    // P114 — table extraction from raw HTML (tables are prime
    // pretraining content and the first casualty of text-only
    // extraction): page → tables → rows via two positional generators,
    // cells tag-stripped/entity-decoded where the page landed — no
    // shuffle. The oracle REGENERATES every cell from the fixture
    // formula (never parses HTML), so a regex slip, an index slip, or
    // a decode miss all change rows.
    "p114_html_tables" -> ((s, dir) =>
      Html.extractTables(tablePages(docs(s, dir)))
        .orderBy("id", "table_idx", "row_idx")),

    // P115 — per-language tokenizer fertility under the p41-trained
    // BPE: subwords per word and per character by language — the
    // signal multilingual mixtures weigh languages by (a fixed token
    // budget buys less text in high-fertility languages). One native
    // encode scan + one lang-keyed aggregation; ratios after the sums.
    "p115_token_fertility" -> ((s, dir) => {
      val merges = Bpe.trainMerges(docs(s, dir), numMerges = BpeMerges,
        sampleN = BpeSampleN)
      Bpe.fertility(docs(s, dir), merges).orderBy("lang")
    }),

    // P144 — p115's fertility measurement re-run under the BYTE-level
    // tokenizer (the verdict's re-measure ask): per-language sums of
    // pretokens/subwords/BYTES under the p141-trained merges, ratios
    // after the sums. Shares p141's oracle CTEs with one extra
    // language aggregation — the two engines divide identical exact
    // integers.
    "p144_fertility_bytes" -> ((s, dir) => {
      val merges = Bpe.trainMergesBytes(docs(s, dir), numMerges = BpeMerges,
        sampleN = BpeSampleN)
      Bpe.fertilityBytes(docs(s, dir), merges).orderBy("lang")
    }),

    // P116 — markdown rendering of extracted tables (how table
    // content actually enters a training corpus): p114's rows
    // re-shaped to GFM pipe-table lines in the same single pass.
    "p116_table_markdown" -> ((s, dir) =>
      Html.tablesToMarkdown(tablePages(docs(s, dir)))
        .orderBy("id", "table_idx", "line_idx")),

    // P119 — SPAN-level 13-gram decontamination, the excision half of
    // the GPT-3 recipe p113 flags doc-level: a pad-token window
    // around each colliding gram is cut and merged into disjoint
    // intervals, keeping the rest of the doc. Same planted fixture as
    // p113 (slogan appended at the tail), so the excised span is the
    // doc's tail window and every clean_text byte is oracle-checked;
    // natural cross-split collisions (incl. grams STRADDLING the
    // text/slogan boundary, which exist iff a train doc's tail equals
    // an eval doc's tail) are recomputed from scratch on both sides.
    "p119_span_decontam" -> ((s, dir) => {
      val planted = decontamPlanted(docs(s, dir))
      Corpus.spanDecontaminate(
        planted.where(pmod(col("doc_id"), lit(97)) =!= 0),
        planted.where(pmod(col("doc_id"), lit(97)) === 0))
        .orderBy("id")
    }),

    // P117 — TRAINED char-n-gram language ID, p08's production
    // successor: a per-language hashed 2-4-gram model trained on the
    // labeled %5!=0 slice (ONE bounded (lang, bucket) aggregation →
    // O(langs x buckets) literal artifact), applied to EVERY doc as a
    // stateless narrow scan through the native langid_vote expression
    // — per-gram likelihood argmax by exact integer cross-
    // multiplication, doc-level plurality, both ties alphabetical, no
    // floats anywhere (the dsir_score dodge, multiclass). The oracle
    // re-derives counts, HUGEINT-product vote argmax, and the doc
    // plurality from scratch; held-out docs (%5==0) are scored by a
    // model that never saw them, so `correct` measures real
    // generalization, not memorization.
    "p117_langid_trained" -> ((s, dir) => {
      val d = langMarked(docs(s, dir))
      TextAnalysis.langIdApply(d, langIdModelOf(d), carry = Seq("lang"))
        .select(col("id"), col("predicted_lang"),
          col("lang").as("gold_lang"),
          (col("predicted_lang") === col("lang")).as("correct"),
          col("n_grams"), col("top_votes"))
        .orderBy("id")
    }),

    // P120 — the composition the trained classifier exists for:
    // CCNet-style per-language perplexity buckets (p72) where the
    // language routing comes from the PREDICTED lang, not the gold
    // label — the production shape (a real crawl has no labels). The
    // prediction rides the same projection that feeds the LM stage
    // (carry columns, no id re-join); p72's whole train-score-
    // quantile-bucket chain then runs per PREDICTED language, and the
    // oracle recomputes both stages end to end.
    "p120_langid_perplexity" -> ((s, dir) => {
      val d = langMarked(docs(s, dir))
      val routed = TextAnalysis.langIdApply(d, langIdModelOf(d),
        carry = Seq("text", "source"))
        .select(col("id").as("doc_id"),
          col("predicted_lang").as("lang"), col("text"), col("source"))
      TextAnalysis.perplexityBuckets(routed,
        refFilter = col("source").isin("src0", "src1", "src2", "src3", "src4"),
        vocabSize = 24, headFrac = 0.3, keepFrac = 0.6).orderBy("id")
    }),

    // P118 — pure-JDK PDF text extraction over the binary front door
    // (p111's convention, application/pdf instead of image/png): every
    // doc's text is typeset into a deterministic single-page PDF 1.4
    // (real xref table, FlateDecode content stream, Tj + kerned-TJ
    // show operators, escape-bearing header line), rides as a BINARY
    // response payload through a .warc.gz round-trip, and the
    // extractor recovers (xref_ok, n_streams, n_chars, text) from the
    // RECOVERED body_bytes. The oracle re-typesets the text from the
    // fixture formula alone — a deflate slip, an operator-machine
    // slip, an escape slip, or a byte-corrupting ingest all change
    // text bytes. Scale shape: generate and extract are both batched
    // mapPartitions where the bytes land; one task per segment file in
    // between; nothing crosses a shuffle.
    "p118_pdf_extract" -> ((s, dir) => {
      import s.implicits._
      import graft.sources.WarcSource
      val out = Spool.fresh("warc-pdf", dir)
      val pdfs = docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, t) =>
          // a third of the crawl is ENCRYPTED (empty-user-password
          // standard handler, the dominant encrypted class): %3==1
          // RC4-128, %3==2 AES-128-CBC — the oracle is unchanged, so
          // decryption must be byte-exact or these docs' text diverges
          (id,
            if (id % 3 == 1) Pdf.fixturePdfEncrypted(id, t, aes = false)
            else if (id % 3 == 2) Pdf.fixturePdfEncrypted(id, t, aes = true)
            else Pdf.fixturePdf(id, t))
        })
        .toDF("id", "payload")
      WarcSource.export(pdfs, out, docsPerFile = 100, idCol = "id",
        bytesCol = Some("payload"), mime = "application/pdf")
      val recovered = WarcSource.records(s, out)
        .where(col("warc_type") === "response" && col("body").isNull)
        .select(
          regexp_extract(col("record_id"), ":doc:(\\d+)>$", 1)
            .cast("long").as("id"),
          col("body_bytes").as("payload"))
      Pdf.extractTexts(recovered).orderBy("id")
    }),

    // P121 — fill-in-the-middle transformation (the FIM-paper
    // pretraining rewrite): a hash-gated half of docs is split at two
    // deterministic char cuts and re-serialized PSM/SPM with sentinel
    // tokens, the rest pass through verbatim. Pure (id, salt) functions
    // end to end, so the oracle recomputes every gate, cut, and
    // rendered byte from scratch; degenerate empty-middle splits are
    // load-bearing (lo==hi happens in-fixture). One narrow scan.
    "p121_fim" -> ((s, dir) =>
      Corpus.fimTransform(docs(s, dir)).orderBy("doc_id")),

    // P122 — sitemap parsing (the discovery half of crawl governance;
    // robots p101 is the permission half): urlset AND sitemapindex
    // documents with per-entry optional fields and entity-escaped
    // locs. The oracle re-derives every entry from the fixture formula
    // without touching XML — a block-split slip, a tag-match slip, an
    // optional-field null/empty slip, or an entity-decode slip all
    // change rows.
    "p122_sitemaps" -> ((s, dir) =>
      UrlOps.parseSitemaps(sitemapDocs(docs(s, dir)), siteCol = "site_id")
        .orderBy("site", "entry_idx")),

    // P123 — code-quality filters (Codex/StarCoder line-geometry
    // screen): max/mean line length, alphanumeric density, and
    // generation-marker scan over line-structured docs, exact integers
    // only (div, basis points). The oracle REBUILDS the line-shaped
    // fixture and recomputes every metric with SQL built-ins — a line
    // split slip, a div slip, or a threshold slip changes rows.
    "p123_code_quality" -> ((s, dir) =>
      TextAnalysis.codeQuality(codeDocs(docs(s, dir))).orderBy("id")),

    // P124 — end-to-end PDF pipeline (p109's sibling through the
    // OTHER binary door): fixture PDFs ride a .warc.gz crawl segment,
    // extraction recovers their text, and the STANDARD text-analysis
    // family (p09 quality) runs on it without special-casing —
    // the oracle composes p118's closed-form re-typeset with p09's
    // quality formula, so every stage (deflate → warc → inflate →
    // operator machine → tokenizer → ratios) is checked end to end.
    "p124_pdf_pipeline" -> ((s, dir) => {
      import s.implicits._
      import graft.sources.WarcSource
      val out = Spool.fresh("warc-pdfq", dir)
      val pdfs = docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, t) =>
          // a third of the crawl is ENCRYPTED (empty-user-password
          // standard handler, the dominant encrypted class): %3==1
          // RC4-128, %3==2 AES-128-CBC — the oracle is unchanged, so
          // decryption must be byte-exact or these docs' text diverges
          (id,
            if (id % 3 == 1) Pdf.fixturePdfEncrypted(id, t, aes = false)
            else if (id % 3 == 2) Pdf.fixturePdfEncrypted(id, t, aes = true)
            else Pdf.fixturePdf(id, t))
        })
        .toDF("id", "payload")
      WarcSource.export(pdfs, out, docsPerFile = 100, idCol = "id",
        bytesCol = Some("payload"), mime = "application/pdf")
      val recovered = WarcSource.records(s, out)
        .where(col("warc_type") === "response" && col("body").isNull)
        .select(
          regexp_extract(col("record_id"), ":doc:(\\d+)>$", 1)
            .cast("long").as("id"),
          col("body_bytes").as("payload"))
      TextAnalysis.quality(
        Pdf.extractTexts(recovered).select(col("id").as("doc_id"),
          col("text")))
        .orderBy("id")
    }),

    // P139 — Type0/CID composite-font PDF text via ToUnicode CMaps (the
    // dominant post-2010 real-PDF class; p118 covers simple fonts):
    // every doc's text is typeset as 2-byte-CID HEX shows under an
    // Identity-H Type0 font whose FlateDecode /ToUnicode CMap (bfrange
    // runs + bfchar singletons, CID = codepoint + 7) is the ONLY route
    // back to text — a pass-through extractor yields shifted mojibake,
    // an unparsed CMap yields nothing, so the oracle comparison proves
    // the map is applied. A third of the corpus is RC4-encrypted and a
    // third AES-128 (the CMap stream decrypts under its OWN per-object
    // key, so font resolution rides the crypt path too). The oracle
    // re-typesets the text closed-form, never touching a PDF byte.
    // Scale shape: generate and extract are batched mapPartitions in
    // one task; nothing shuffles.
    "p139_pdf_cid" -> ((s, dir) => {
      import s.implicits._
      val pdfs = docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, t) =>
          (id, Pdf.fixturePdfCid(id, t,
            if (id % 3 == 1) Some(false)
            else if (id % 3 == 2) Some(true)
            else None))
        })
        .toDF("id", "payload")
      Pdf.extractTexts(pdfs).orderBy("id")
    }),

    // P140 — WAT sidecar generation (completes the WARC/WAT/WET
    // artifact triple a crawl publishes; WARC p85, WET p91, CDX p93):
    // html pages ride a .warc.gz crawl, watRecords emits the
    // per-response JSON envelope (WARC header metadata + HTTP response
    // metadata + title and RAW outlinks for HTML payloads) as pure
    // codegen'd to_json Column work, watExport writes .warc.wat.gz
    // metadata records (WARC-Refers-To the response), and the SAME
    // records() front door parses them back. The oracle re-derives the
    // complete JSON byte-for-byte from the fixture formula — envelope
    // shape, field order, link order, and the href-walk's raw
    // extraction semantics (quoted/unquoted, fragment stop) all pinned.
    "p140_wat" -> ((s, dir) => {
      import graft.sources.WarcSource
      val warcOut = Spool.fresh("warc-wat-src", dir)
      val watOut = Spool.fresh("warc-wat", dir)
      WarcSource.export(htmlPages(docs(s, dir)), warcOut,
        idCol = "doc_id", textCol = "html", urlCol = Some("url"),
        mime = "text/html; charset=utf-8")
      WarcSource.watExport(
        WarcSource.watRecords(WarcSource.records(s, warcOut)), watOut)
      WarcSource.records(s, watOut)
        .where(col("warc_type") === "metadata")
        .select(
          regexp_extract(col("refers_to"), ":doc:(\\d+)>$", 1)
            .cast("long").as("id"),
          col("target_uri"), col("body").as("wat"))
        .orderBy("id")
    }),

    // P146 — PDF transport-filter cascades (the real tool-generated
    // shape: ASCIIHex / ASCII85 wrapping Flate; previously any
    // non-bare-Flate /Filter dropped the stream): thirds of the corpus
    // ride [/ASCIIHexDecode /FlateDecode] and [/ASCII85Decode
    // /FlateDecode] cascades, and every %5==0 doc is ADDITIONALLY
    // RC4-encrypted — decrypt-then-decode order (ISO 32000-1 §7.6.2)
    // is end-to-end load-bearing. The oracle is p118's closed-form
    // re-typeset: a codec slip anywhere changes text bytes.
    "p146_pdf_filters" -> ((s, dir) => {
      import s.implicits._
      val pdfs = docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, t) =>
          (id, Pdf.fixturePdfFiltered(id, t, (id % 3).toInt,
            if (id % 5 == 0) Some(false) else None))
        })
        .toDF("id", "payload")
      Pdf.extractTexts(pdfs).orderBy("id")
    }),

    // P147 — PDF 1.5 object streams (/ObjStm): the page dict, the
    // Type0 font, and its descendant all live INSIDE a Flate object
    // stream — nothing about the fonts is visible in the raw bytes —
    // so extraction works only if ObjStm expansion feeds both the
    // /Font discovery and the dict lookups (most post-2005 writers
    // emit exactly this shape; p139 covers the classic file-level
    // layout). Oracle: the same closed-form CID re-typeset, n_streams
    // now 3 (content + CMap + ObjStm).
    "p147_pdf_objstm" -> ((s, dir) => {
      import s.implicits._
      val pdfs = docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, t) =>
          (id, Pdf.fixturePdfCidObjStm(id, t))
        })
        .toDF("id", "payload")
      Pdf.extractTexts(pdfs).orderBy("id")
    }),

    // P149 — AES-256 encrypted PDFs (V5 — the PDF 2.0 / Acrobat X+
    // class, the last documented-out handler): halves of the corpus
    // ride R6 (full ISO 32000-2 Algorithm 2.B hash) and the deprecated
    // R5 single-hash form; /U validates the empty user password, /UE
    // unwraps the 32-byte FILE key, and AESV3 streams decrypt under it
    // directly (no per-object keys). Oracle: the closed-form
    // re-typeset — a hash-round slip, a salt slip, or an unwrap slip
    // yields no text and kills the match.
    "p149_pdf_aes256" -> ((s, dir) => {
      import s.implicits._
      val pdfs = docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, t) =>
          (id, Pdf.fixturePdfEncryptedV5(id, t, r6 = id % 2 == 0))
        })
        .toDF("id", "payload")
      Pdf.extractTexts(pdfs).orderBy("id")
    }),

    // P151 — PDF stream predictors (the r17 verdict's #2: real
    // tool-generated PDFs almost universally write their ObjStm and
    // XRef streams with PNG Predictor 12): quarters of the corpus
    // ride (0) a PNG-predicted content stream whose per-row tags
    // cycle all five PNG filters, (1) TIFF /Predictor 2 horizontal
    // differencing, (2) a PNG predictor UNDER an ASCIIHex cascade
    // with array-aligned /DecodeParms [null <<...>>], and (3) the
    // real-world twin — a PNG-Predictor-12 /ObjStm holding the page
    // and font dicts, so un-prediction must run inside the ObjStm
    // expansion for ANY text to come out. Oracle: the closed-form
    // re-typeset per lane ((pdf) classic / (cid) ObjStm).
    "p151_pdf_predictor" -> ((s, dir) => {
      import s.implicits._
      val pdfs = docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, t) =>
          (id, if (id % 4 == 3) Pdf.fixturePdfCidObjStm(id, t, predictor = true)
               else Pdf.fixturePdfPredictor(id, t, (id % 4).toInt))
        })
        .toDF("id", "payload")
      Pdf.extractTexts(pdfs).orderBy("id")
    }),

    // P160 — PDF LZWDecode + RunLengthDecode (the r18 verdict's #3:
    // LZW is ubiquitous in pre-2005 tool output and both are fully
    // public, ISO 32000-1 §7.4.2/§7.4.5): fifths of the corpus ride
    // (0) a bare LZW content stream, (1) LZW over PNG Predictor 12
    // (the Table-8 pairing — un-prediction must run on LZW OUTPUT),
    // (2) RunLength, (3) LZW with an explicit /EarlyChange 0 width
    // schedule, and (4) the real-world twin — an LZW+Predictor-12
    // /ObjStm holding the page and font dicts, so the LZW decode must
    // run inside ObjStm expansion for ANY text to come out. Oracle:
    // the closed-form re-typeset per lane.
    "p160_pdf_lzw" -> ((s, dir) => {
      import s.implicits._
      val pdfs = docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, t) =>
          (id, if (id % 5 == 4)
                 Pdf.fixturePdfCidObjStm(id, t, predictor = true, lzw = true)
               else Pdf.fixturePdfLzw(id, t, (id % 5).toInt))
        })
        .toDF("id", "payload")
      Pdf.extractTexts(pdfs).orderBy("id")
    }),

    // P161 — PDF image XObjects into the multimodal family (the r18
    // verdict's #4: DCT/JPEG image XObjects are prime crawl payload,
    // and javax.imageio already decodes JPEG — this closes the edge
    // between the PDF door and the image near-dup family): every
    // %3==0 doc plants ONE deterministic JPEG through BOTH doors — a
    // standalone media row and a PDF /Subtype /Image XObject (even
    // ids bare /DCTDecode, odd ids an AHx→DCT cascade) — the other
    // docs ride image-free PDFs; extractImages recovers the embedded
    // bytes and the SHARED dHash + banded-hamming join must pair the
    // two doors exactly (identical bytes ⇒ hamming 0). Oracle: the
    // pair list closed-form from the planting rule.
    "p161_pdf_images" -> ((s, dir) => {
      import s.implicits._
      val base = docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
      // ONE JPEG encode per doc, BOTH doors emitted from the same
      // closure evaluation, and the tagged frame eagerly
      // localCheckpoint'ed so the two consumers read one
      // materialization: the hamming-0 oracle must pin extraction
      // being byte-exact, NOT the ImageIO encoder producing identical
      // bytes across executor JVMs (advice-caught — on a
      // heterogeneous cluster two independent encodes could differ).
      val lanes = base.mapPartitions(_.flatMap { case (id, t) =>
        if (id % 3 == 0) {
          val jpeg = Multimodal.dhashImageJpeg(id)
          Iterator(
            (0, id * 10, jpeg),
            (1, id, Pdf.fixturePdfImage(id, t, jpeg, (id % 2).toInt)))
        } else Iterator((1, id, Pdf.fixturePdf(id, t)))
      }).toDF("tag", "id", "payload").localCheckpoint()
      val standalone = lanes.where(col("tag") === 0)
        .select("id", "payload")
      val pdfs = lanes.where(col("tag") === 1).select("id", "payload")
      val embedded = Pdf.extractImages(pdfs)
        .select((col("id") * 10 + 1 + col("image_idx")).as("id"),
          col("payload"))
      Dedup.hammingPairs64(Multimodal.imageDHashes(s,
          standalone.unionByName(embedded)))
        .orderBy("id_a", "id_b")
    }),

    // P162 — RAW-SAMPLE PDF image XObjects (p161's sibling for the
    // PNG-converted class real writers embed: Flate or LZW over
    // /DeviceRGB samples, usually with PNG Predictor 15 at /Colors 3
    // image geometry — decodable pure-JDK through the EXISTING filter
    // + predictor pipeline, no codec needed): every %3==1 doc plants
    // the dHash fixture image through BOTH doors — a standalone PNG
    // and a PDF raw-sample XObject (lanes cycle Flate+Predictor-15
    // RGB / LZW RGB / Flate+Predictor-15 /DeviceGray by (id/3) % 3
    // over the %3==1 ids) — and both doors decode LOSSLESSLY to the same
    // pixels (the fixture is grayscale, so the gray lane reproduces
    // them too),
    // so the pair lands at hamming 0 with the hash equal to the
    // closed-form expectedDHash. Oracle: the pair list from the
    // planting rule.
    "p162_pdf_image_raw" -> ((s, dir) => {
      import s.implicits._
      val base = docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
      val standalone = base.flatMap { case (id, _) =>
        if (id % 3 == 1) Some((id * 10, Multimodal.dhashImagePng(id, 0)))
        else None
      }.toDF("id", "payload")
      val pdfs = base.flatMap { case (id, t) =>
        if (id % 3 == 1)
          Some((id, Pdf.fixturePdfImageRaw(id, t,
            Multimodal.dhashImageRgbBytes(id), 72, 64,
            ((id / 3) % 3).toInt)))
        else None
      }.toDF("id", "payload")
      val embedded = Pdf.extractImages(pdfs)
        .select((col("id") * 10 + 1 + col("image_idx")).as("id"),
          col("payload"))
      Dedup.hammingPairs64(Multimodal.imageDHashes(s,
          standalone.unionByName(embedded)))
        .orderBy("id_a", "id_b")
    }),

    // P164 — MP3 frame metadata (MP3 is the dominant crawl AUDIO
    // format; the WAV/MJPEG/MP4/WebP walks covered the other
    // containers): a pure-JDK frame walk — optional ID3v2 skip
    // (syncsafe size), then MPEG-1 Layer III headers back-to-back,
    // frame length from the published bitrate/sample-rate tables —
    // yields (first-frame bitrate, VBR flag, sample rate, channels,
    // frame count, exact-integer duration). Lanes vary every header
    // field: bitrate index 1..9 by id%9, all three sample rates by
    // id%3, an ID3v2 tag on id%3==0 (the skip is load-bearing), VBR
    // alternation on id%5==0, and a padding bit cycling by frame. The
    // oracle re-derives every field closed-form from the published
    // tables — a frame-length slip desyncs the walk and kills rows.
    "p164_mp3_metadata" -> ((s, dir) => {
      import s.implicits._
      val audio = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (id, Multimodal.generateMp3(
            nFrames = 2 + (id % 7).toInt,
            brIdx = 1 + (id % 9).toInt,
            srIdx = (id % 3).toInt,
            id3Size = if (id % 3 == 0) (50 + id % 40).toInt else 0,
            vbr = id % 5 == 0))
        }).toDF("id", "payload")
      Multimodal.mp3MetadataFrame(s, audio).orderBy("id")
    }),

    // P169 — canonical-link + OpenGraph extraction feeding
    // canonical-aware URL dedup (the key URL dedup SHOULD group on:
    // a page's own <link rel=canonical> collapses print/mobile/
    // tracking variants the fetch URL cannot — the C4/CCNet-class
    // practice; og:title/description are the page's self-description):
    // quarters ride an ABSOLUTE shared canonical (groups of three
    // fetch URLs collapse to one key — the is_kept window keeps the
    // min), a ROOT-RELATIVE self canonical (resolution through the
    // link graph's base-aware chain is load-bearing), and two
    // canonical-less lanes falling back to the page URL; og:title
    // alternates property=/name= spellings, og:description rides
    // thirds. Oracle re-derives every field + the window verdict.
    "p169_canonical_meta" -> ((s, dir) => {
      val id = col("doc_id")
      val h = pmod(id, lit(50))
      val own = concat(lit("https://Site-"), h, lit(".example.com/p/"),
        id, lit("?b=2&a=1"))
      val canonTag =
        when(id % 4 === 0,
          concat(lit("<link rel=\"canonical\" " +
            "href=\"https://Canon.example.org/c/"),
            id - pmod(id, lit(12)), lit("\">")))
        .when(id % 4 === 2,
          concat(lit("<link href='/self/"), id, lit("' rel=canonical>")))
        .otherwise(lit("<link rel=\"stylesheet\" href=\"/s.css\">"))
      val ogTitle = when(id % 2 === 0,
          concat(lit("<meta property=\"og:title\" content=\"T "), id,
            lit("\">")))
        .otherwise(concat(lit("<meta name=og:title content=\"T "), id,
          lit("\">")))
      val ogDesc = when(id % 3 === 0,
        concat(lit("<meta property=\"og:description\" content=\"D "),
          pmod(id, lit(7)), lit("\">"))).otherwise(lit(""))
      val pages = docs(s, dir).select(id, own.as("url"),
        concat(lit("<html><head>"), canonTag, ogTitle, ogDesc,
          lit("</head><body><p>x</p></body></html>")).as("html"))
      import org.apache.spark.sql.expressions.Window
      Html.canonicalMeta(pages)
        .withColumn("is_kept", col("id") ===
          min(col("id")).over(Window.partitionBy(col("effective_key"))))
        .orderBy("id")
    }),

    // P168 — subtitle/caption parsing (the text half of video-text
    // corpus curation: WebVTT and SRT carry the aligned transcripts
    // caption datasets train on): one row per cue with exact-integer
    // millisecond bounds, the whole parse codegen'd Column work (cue
    // split, positional timing-line find, regexp timestamp decompose)
    // — one scan, one generator, no UDF, no shuffle. Halves ride VTT
    // (header block, cue-id lines, dot milliseconds, a settings
    // suffix on the timing line) and SRT (index lines, comma
    // milliseconds); the id/index lines must NOT leak into the text.
    // Oracle re-derives every cue closed-form.
    "p168_subtitles" -> ((s, dir) => {
      val id = col("doc_id")
      val j = col("j")
      val startMs = (id * 7 + j * 3) * 1000 + pmod(id, lit(1000))
      val endMs = startMs + 2000 + j * 500
      def ts(ms: org.apache.spark.sql.Column, comma: Boolean) = {
        def fld(d: Long, m: Long) =
          pmod((ms / d).cast("long"), lit(m)) // floor-div then wrap
        format_string(if (comma) "%02d:%02d:%02d,%03d"
          else "%02d:%02d:%02d.%03d",
          (ms / 3600000).cast("long"), fld(60000, 60), fld(1000, 60),
          pmod(ms, lit(1000)))
      }
      val vtt = concat(lit("cue-"), j, lit("\n"),
        ts(startMs, comma = false), lit(" --> "),
        ts(endMs, comma = false), lit(" align:start\n"),
        lit("line one of cue "), j, lit("\n"),
        lit("and doc "), id, lit(" line two"))
      val srt = concat((j + 1).cast("string"), lit("\n"),
        ts(startMs, comma = true), lit(" --> "), ts(endMs, comma = true),
        lit("\nline one of cue "), j, lit("\nand doc "), id,
        lit(" line two"))
      val body = docs(s, dir).select(id,
        explode(sequence(lit(0L), pmod(id, lit(4)))).as("j"))
        .groupBy("doc_id")
        .agg(concat_ws("\n\n",
          array_sort(collect_list(struct(col("j"),
            when(pmod(id, lit(2)) === 0, vtt).otherwise(srt).as("c"))))
            .getField("c")).as("cues"))
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(2)) === 0,
            concat(lit("WEBVTT\n\n"), col("cues")))
            .otherwise(col("cues")).as("body"))
      Subtitles.cues(body).orderBy("id", "cue_idx")
    }),

    // P167 — EXIF-orientation-normalized dedup (what p165's
    // orientation column is FOR: a phone photo stored rotated with
    // orientation=6 and its upright twin are the same image, but
    // their raw dHashes differ in ~half the bits — orientation-blind
    // dedup misses every rotated duplicate): normalizeOrientation
    // decodes, reads the EXIF tag, applies the display transform
    // (all 8 JEITA values — rotations, flips, transposes), re-encodes
    // PNG losslessly; the SHARED dHash + hamming join then pairs the
    // stored-rotated capture with its upright twin at distance 0.
    // The fixture's cell design makes every dHash comparison decisive
    // by >= 80 gray levels, so single-JPEG DC error cannot flip a
    // bit — the pairing is exact by construction, not by tolerance.
    // Lanes cycle orientations 2/3/5/6/7/8 over the %3==2 docs.
    "p167_exif_orientation" -> ((s, dir) => {
      import s.implicits._
      val lanes = Seq(2, 3, 5, 6, 7, 8)
      val imgs = docs(s, dir).select(col("doc_id")).as[Long]
        .flatMap { id =>
          if (id % 3 == 2) {
            val o = lanes(((id / 3) % 6).toInt)
            Seq((id * 10, Multimodal.orientJpeg(id, 1)),
              (id * 10 + 1, Multimodal.orientJpeg(id, o)))
          } else Nil
        }.toDF("id", "payload")
      val normalized = imgs.select(col("id"), col("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (id, p) =>
          Multimodal.normalizeOrientation(p).map((id, _))
        }).toDF("id", "payload")
      Dedup.hammingPairs64(Multimodal.imageDHashes(s, normalized))
        .orderBy("id_a", "id_b")
    }),

    // P166 — ID3v2 text frames (the audio twin of the EXIF walk:
    // title/artist/album are what audio-corpus curation joins on):
    // pure-JDK tag walk over BOTH tag versions (halves ride v2.4
    // syncsafe frame sizes and v2.3 plain 32-bit — a real-world
    // divergence) and all FOUR text encodings (ISO-8859-1 / UTF-16
    // BOM / UTF-16BE / UTF-8 by id%4); the tag rides in front of real
    // MPEG frames, so the p164 walk and this one read ONE payload.
    // Oracle: every field from the fixture formulas closed-form.
    "p166_id3_tags" -> ((s, dir) => {
      import s.implicits._
      val audio = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val tag = Multimodal.id3v2(
            ver = if (id % 2 == 0) 4 else 3,
            title = s"Track $id", artist = s"Artist ${id % 50}",
            album = s"Album ${id % 20}", enc = (id % 4).toInt)
          (id, tag ++ Multimodal.generateMp3(nFrames = 2, brIdx = 9,
            srIdx = 0))
        }).toDF("id", "payload")
      Multimodal.id3TagsFrame(s, audio).orderBy("id")
    }),

    // P165 — JPEG EXIF metadata (the columns image-corpus curation
    // filters and joins on — orientation for decode-free rotation
    // normalization, capture time, camera make/model; LAION-class
    // datasets ship them): pure-JDK marker-segment walk to the APP1
    // Exif payload, then the TIFF IFD0 inside — BOTH byte orders
    // (halves ride II and MM), ASCII values in BOTH storage shapes
    // (make > 4 bytes at a TIFF offset, model <= 4 inline), the
    // orientation SHORT endian-sensitive. The same payload still
    // decodes through imageio (APP1 is skippable), so metadata and
    // the dHash family read one artifact. Oracle: every field from
    // the fixture formulas closed-form.
    "p165_jpeg_exif" -> ((s, dir) => {
      import s.implicits._
      val imgs = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val dt = f"2026:08:${1 + id % 28}%02d ${id % 24}%02d:00:00"
          (id, Multimodal.jpegWithExif(id, (1 + id % 8).toInt, dt,
            s"Cam${id % 5}", s"M${id % 7}", id % 2 == 0))
        }).toDF("id", "payload")
      Multimodal.jpegExifFrame(s, imgs).orderBy("id")
    }),

    // P163 — crawl-to-PDF-image composition (closes the loop the two
    // doors opened separately: p111 proved byte-exact binary transit
    // for PNG payloads, p124 the crawl→PDF TEXT pipeline, p161 the
    // PDF→image edge — this rides the p161 fixture PDFs as
    // application/pdf BINARY response payloads through a real
    // .warc.gz round-trip and runs extractImages on the RECOVERED
    // body_bytes): a UTF-8 decode anywhere in transit corrupts the
    // JPEG inside the PDF inside the WARC, dHash gives None, and the
    // pairs vanish — so hash-matching p161's oracle proves the whole
    // chain. Scale shape inherits all three parents': one task per
    // segment, payloads never cross a shuffle.
    "p163_warc_pdf_images" -> ((s, dir) => {
      import s.implicits._
      import graft.sources.WarcSource
      val out = Spool.fresh("warc-pdfimg", dir)
      val base = docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
      // Same single-encode discipline as p161: one JPEG per doc rides
      // both doors from one closure evaluation, localCheckpoint'ed so
      // neither consumer re-runs the encoder (advice-caught).
      val lanes = base.mapPartitions(_.flatMap { case (id, t) =>
        if (id % 3 == 0) {
          val jpeg = Multimodal.dhashImageJpeg(id)
          Iterator(
            (0, id * 10, jpeg),
            (1, id, Pdf.fixturePdfImage(id, t, jpeg, (id % 2).toInt)))
        } else Iterator.empty
      }).toDF("tag", "id", "payload").localCheckpoint()
      val standalone = lanes.where(col("tag") === 0)
        .select("id", "payload")
      val pdfs = lanes.where(col("tag") === 1).select("id", "payload")
      WarcSource.export(pdfs, out, docsPerFile = 100, idCol = "id",
        bytesCol = Some("payload"), mime = "application/pdf")
      val recovered = WarcSource.records(s, out)
        .where(col("warc_type") === "response" && col("body").isNull)
        .select(
          regexp_extract(col("record_id"), ":doc:(\\d+)>$", 1)
            .cast("long").as("id"),
          col("body_bytes").as("payload"))
      val embedded = Pdf.extractImages(recovered)
        .select((col("id") * 10 + 1 + col("image_idx")).as("id"),
          col("payload"))
      Dedup.hammingPairs64(Multimodal.imageDHashes(s,
          standalone.unionByName(embedded)))
        .orderBy("id_a", "id_b")
    }),

    // P155 — redirect edges (every real crawl is full of 3xx
    // captures; URL dedup collapses chains against them and frontiers
    // follow them): response records with a redirect status and a
    // Location header become (src, dst, status) edges, the target
    // resolved per RFC 9110 (relative Locations are legal and common)
    // through the link graph's own resolution + canonicalization.
    // Quarters of the corpus ride 200-no-edge / 301 absolute /
    // 302 root-relative / 308 path-relative (../ folding
    // load-bearing); the oracle re-derives each edge closed-form.
    "p155_redirect_edges" -> ((s, dir) => {
      import graft.sources.WarcSource
      val out = Spool.fresh("warc-redirect", dir)
      val in = docs(s, dir).select(col("doc_id"), col("text"),
        element_at(array(lit("200 OK"), lit("301 Moved Permanently"),
            lit("302 Found"), lit("308 Permanent Redirect")),
          (col("doc_id") % 4 + 1).cast("int")).as("st"),
        element_at(array(lit(""),
            concat(lit("Location: https://example.org/doc/"),
              col("doc_id"), lit("-new")),
            concat(lit("Location: /moved/"), col("doc_id")),
            concat(lit("Location: ../r/"), col("doc_id"))),
          (col("doc_id") % 4 + 1).cast("int")).as("loc"))
      WarcSource.export(in, out, docsPerFile = 100,
        statusCol = Some("st"), httpHeaderCol = Some("loc"))
      WarcSource.redirectEdges(WarcSource.records(s, out))
        .select(
          regexp_extract(col("src_url"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"),
          col("src_url"), col("dst_url"), col("status"))
        .orderBy("doc_id")
    }),

    // P158 — HTML character-reference decoding (real pages carry
    // numeric `&#233;`/`&#xE9;` and named `&eacute;`/`&mdash;`
    // references everywhere; the core-five-only decode leaked every
    // other reference into the corpus as source text): ONE native
    // codegen'd pass decodes numeric + HTML4 Latin-1 + typographic
    // names, leaves unknown names and invalid scalars (surrogates)
    // intact, and never rescans output (`&amp;lt;` stays `&lt;`).
    // The oracle builds the decoded paragraph closed-form in SQL —
    // DuckDB never sees an entity.
    "p158_html_entities" -> ((s, dir) => {
      val html = concat(lit("<html><body><p>"), escHtml(col("text")),
        lit("</p><p>caf&eacute; &#233; &#xE9; na&iuml;ve &mdash; " +
          "&ldquo;q&rdquo; &hellip; 3&nbsp;&times;&nbsp;4 &euro;9 " +
          "&amp;lt; &bogus; &#xD800; R&amp;D</p></body></html>"))
      docs(s, dir).select(col("doc_id"), html.as("html"))
        .select(col("doc_id"),
          Html.htmlToText(col("html")).as("text_extracted"))
        .orderBy("doc_id")
    }),

    // P157 — robots.txt WILDCARD rules (RFC 9309 REQUIRES `*` and the
    // end-anchor `$` in path patterns — `Disallow: /*.pdf$` is
    // everywhere; the prefix-only reading silently kept every such
    // page): thirds of the corpus ride /p/{id}.pdf (dropped by
    // /*.pdf$ unless the LONGER /p/2*.pdf$ Allow carves ids starting
    // with '2' back in — pattern-length precedence is load-bearing),
    // /p/{id}.html (kept: the anchor must not over-match), and
    // /mid/{id}/deep/... (dropped by the mid-pattern wildcard
    // /mid/*/deep). Oracle re-derives every verdict closed-form.
    "p157_robots_wildcards" -> ((s, dir) => {
      val d = docs(s, dir).withColumn("url",
        concat(lit("https://w-"), pmod(col("doc_id"), lit(50)),
          lit(".com"),
          when(col("doc_id") % 3 === 0,
            concat(lit("/p/"), col("doc_id"), lit(".pdf")))
          .when(col("doc_id") % 3 === 1,
            concat(lit("/p/"), col("doc_id"), lit(".html")))
          .otherwise(
            concat(lit("/mid/"), col("doc_id"), lit("/deep/page")))))
      val robots = d.select(pmod(col("doc_id"), lit(50)).as("h")).distinct()
        .select(concat(lit("w-"), col("h"), lit(".com")).as("host"),
          lit("User-agent: *\nDisallow: /*.pdf$\n" +
            "Allow: /p/2*.pdf$\nDisallow: /mid/*/deep\n").as("body"))
      UrlOps.robotsFilter(d, robots)
        .select(col("doc_id"),
          UrlOps.canonicalizeUrl(col("url")).as("canonical_url"))
        .orderBy("doc_id")
    }),

    // P156 — redirect-chain collapse (p155's companion: a crawl
    // captures EVERY hop of a moved page, and URL dedup must key on
    // the chain's END): pointer doubling over the edge list —
    // ⌈log₂ maxHops⌉ self-joins, not one shuffle per hop. The fixture
    // builds 1/2/3-hop chains from the doc table (u_{id} → u_{id-1} →
    // … → f_{root}); the oracle computes each chain's root in closed
    // form, so a doubling slip (off-by-one hop, lost terminal) breaks
    // most rows.
    "p156_redirect_collapse" -> ((s, dir) => {
      val base = docs(s, dir).where(col("doc_id") % 4 =!= 0)
      val edges = base.select(
        concat(lit("u"), col("doc_id")).as("src_url"),
        when(col("doc_id") % 4 === 1, concat(lit("f"), col("doc_id")))
          .otherwise(concat(lit("u"), col("doc_id") - 1)).as("dst_url"))
      UrlOps.collapseRedirects(edges)
        .select(
          regexp_extract(col("src_url"), "(\\d+)$", 1)
            .cast("long").as("doc_id"),
          col("src_url"), col("final_url"))
        .orderBy("doc_id")
    }),

    // P154 — HTTP charset decoding (the web is not all UTF-8: legacy
    // pages declare ISO-8859-1 / windows-1252 in the Content-Type
    // header or ONLY in a <meta> tag, and UTF-16 pages lead with a
    // BOM; a blind UTF-8 decode turns every accented char into
    // U+FFFD). Fifths of the corpus ride utf-8 / header-declared
    // latin-1 (+" café", 0xE9 is invalid alone in UTF-8) /
    // header-declared cp1252 (+" €uro", 0x80) / BOM'd UTF-16LE with
    // NO charset param (+" 𝄞", supplementary plane) / html with the
    // charset ONLY in <meta> (HTML5 prescan). The oracle builds each
    // decoded body closed-form — any precedence or decode slip
    // diverges md5 on a fifth of the rows.
    "p154_charset_decode" -> ((s, dir) => {
      import s.implicits._
      import graft.sources.WarcSource
      val out = Spool.fresh("warc-charset", dir)
      val in = docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, t) =>
          val (payload, mime) = (id % 5) match {
            case 0 => (t.getBytes("UTF-8"), "text/plain; charset=utf-8")
            case 1 => ((t + " café").getBytes("ISO-8859-1"),
              "text/plain; charset=iso-8859-1")
            case 2 => ((t + " €uro").getBytes("windows-1252"),
              "text/plain; charset=windows-1252")
            case 3 => (Array(0xFF.toByte, 0xFE.toByte) ++
              (t + " 𝄞").getBytes("UTF-16LE"), "text/plain")
            case _ =>
              val html = "<html><head><meta charset=\"windows-1252\">" +
                "<title>t</title></head><body>" + t + " €</body></html>"
              (html.getBytes("windows-1252"), "text/html")
          }
          (id, payload, mime)
        }).toDF("id", "payload", "mime")
      WarcSource.export(in, out, docsPerFile = 100, idCol = "id",
        bytesCol = Some("payload"), mimeCol = Some("mime"))
      WarcSource.records(s, out)
        .where(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"),
          (regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long") % 5).as("lane"),
          md5(col("body")).as("body_md5"))
        .orderBy("doc_id")
    }),

    // P153 — PDF 1.5 cross-reference-stream trailers (the r17
    // verdict's missing-list #3: the normal Acrobat 7+ output has NO
    // classical `trailer` keyword — /Root, /ID, and /Encrypt live in
    // the /Type /XRef stream's dict, reached via startxref; an
    // encrypted xref-stream file previously never found its /Encrypt
    // and silently yielded no text). Thirds of the corpus ride plain
    // / RC4-128 / AES-128 lanes; every file also routes page+font
    // dicts through an ObjStm AND writes its XRef entries with PNG
    // Predictor 12 (real entry values, /W [1 4 2]) — so trailer
    // resolution, predictor decode, ObjStm expansion, and per-object
    // decryption all compose. Oracle: the closed-form CID re-typeset,
    // n_streams 4 (content + CMap + ObjStm + XRef).
    "p153_pdf_xrefstream" -> ((s, dir) => {
      import s.implicits._
      val pdfs = docs(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, t) =>
          (id, Pdf.fixturePdfXrefStream(id, t, (id % 3) match {
            case 1 => Some(false)
            case 2 => Some(true)
            case _ => None
          }))
        })
        .toDF("id", "payload")
      Pdf.extractTexts(pdfs).orderBy("id")
    }),

    // P152 — WebP container metadata (the r17 verdict's #5:
    // javax.imageio is blind to WebP, so the web's now-dominant image
    // format skipped the image family SILENTLY): the RIFF walk reads
    // dims/alpha/animation from all three container shapes — simple
    // lossy VP8 (keyframe header), simple lossless VP8L (packed
    // 14+14-bit dims + alpha bit), extended VP8X (24-bit canvas,
    // flag bits, ALPH chunk, ANMF frame count; the walk must NOT
    // descend into ANMF payloads whose embedded frames carry wrong
    // dims). Pixel decode stays documented out (no pure-JDK VP8
    // path); exact-byte near-dup rides the content-hash family.
    // Oracle re-derives every field from the fixture's closed form.
    "p152_webp_metadata" -> ((s, dir) => {
      import s.implicits._
      val imgs = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id =>
          (id, Multimodal.generateWebp(id, (id % 4).toInt))))
        .toDF("id", "payload")
      Multimodal.webpMetadataFrame(s, imgs).orderBy("id")
    }),

    // P125 — crawl-frontier scheduling (discovery → fetch plan): p122's
    // parsed urlset entries become per-host politeness queues ordered
    // by (priority desc, lastmod desc nulls last, loc), queue position
    // folded into fetch rounds of 2. Priorities parse as exact DECIMAL
    // milli-units (500 default where the sitemap gives none); index
    // rows are pointers, not fetchables, and are filtered. The oracle
    // re-derives entries AND the window from scratch.
    "p125_frontier" -> ((s, dir) =>
      UrlOps.frontierSchedule(
        UrlOps.parseSitemaps(sitemapDocs(docs(s, dir)), siteCol = "site_id"),
        perRound = 2)
        .orderBy("host", "fetch_round", "loc")),

    // P134 — STREAMING ANN serving (the one batch≡streaming family
    // member that was missing): the IVF index is trained and PUBLISHED
    // once (centroids + assigned lists to parquet — the build-side
    // artifact), then a probe STREAM is served batch-by-batch against
    // the static index via foreachBatch (each probe's top-k needs only
    // its own row plus the index — stateless stream-static shape; the
    // per-batch window ranks only that batch's probes). AvailableNow
    // drain hash-matches p17's oracle: train-once, serve-forever.
    "p134_streaming_ann" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val root = Spool.fresh("ann-serve", dir)
      val e = embs(s, dir)
      val cents = Ann.trainCentroids(e, nCenters = 16, sampleN = 256,
        iters = 2)
      Ann.ivfIndex(e, cents).write.parquet(s"$root/index")
      val index = s.read.parquet(s"$root/index")
      val p = probes(s, dir)
      p.write.parquet(s"$root/probes")
      val stream = s.readStream.schema(p.schema).parquet(s"$root/probes")
      val q = stream.writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          Ann.ivfProbe(index, cents, batch, k = 10, nProbe = 4)
            .write.mode("append").parquet(s"$root/served")
          ()
        }
        .start()
      q.awaitTermination()
      s.read.parquet(s"$root/served").orderBy("probe_id", "rank")
    }),

    // P135 — CDX point lookup (the serving read of the p93 index):
    // the crawl publishes its urlkey-SORTED index once; a driver-sized
    // request batch of URLs — every %11 page in a FRESH spelling
    // (scheme case, www, :443, unsorted params, fragment: must
    // canonicalize to the captured key) plus guaranteed misses — probes
    // it through the zone-map literal discipline (range conjunct pushed
    // into the parquet scan + native set probe). The oracle re-derives
    // exactly the %11 hit rows; a canonicalization slip at EITHER end,
    // a probe leak, or a phantom miss-row all change rows.
    "p135_cdx_lookup" -> ((s, dir) => {
      import s.implicits._
      import graft.sources.WarcSource
      val out = Spool.fresh("cdx-lookup", dir)
      val d = docs(s, dir)
      WarcSource.export(pageUrls(d), s"$out/warc", docsPerFile = 100,
        urlCol = Some("url"))
      WarcSource.cdxIndex(WarcSource.records(s, s"$out/warc"))
        .orderBy("urlkey").write.parquet(s"$out/index")
      val index = s.read.parquet(s"$out/index")
      // the request batch is BOUNDED (first 64 hit ids) — a point-
      // lookup API's batch is constant-sized by contract, never
      // corpus-proportional, so the driver collect and the literal
      // probe stay O(1) at every SF (at sf0.01 all ~46 %11 ids fit,
      // so the oracle rows are unchanged)
      val hitIds = d.where(pmod(col("doc_id"), lit(11)) === 0)
        .select(col("doc_id")).orderBy("doc_id").limit(64)
        .as[Long].collect().toSeq
      val urls = hitIds.map(i =>
        s"HTTPS://WWW.Example-${i % 50}.com:443/Pg/$i?b=2&a=1#frag") ++
        hitIds.map(i => s"https://example-${i % 50}.com/Pg/${i + 1000000}")
      WarcSource.cdxLookup(index, urls).orderBy("urlkey")
    }),

    // P132 — robots-driven sitemap discovery (closes the crawl-
    // governance loop: permission p101 → DISCOVERY ← frontier p125):
    // each host's robots.txt advertises its sitemaps via RFC 9309
    // §2.2.4 `Sitemap:` directives; the discovered URL set (robots-
    // table-bounded → broadcast) semi-joins the sitemap documents, and
    // only THOSE parse into the per-host frontier. A third of the
    // fixture's sitemap docs carry no robots pointer and must stay
    // undiscovered — the oracle re-derives the frontier closed-form
    // from the robots arithmetic alone (doc_id % 3 gate), so a
    // directive-parse slip, a join slip, or a discovery leak all
    // change rows.
    "p132_sitemap_discovery" -> ((s, dir) =>
      discoveredFrontier(docs(s, dir))._2
        .orderBy("host", "fetch_round", "loc")),

    // P138 — sitemapindex RECURSION (the pointer-chase between p122's
    // two halves: an index document's entries are not fetchables, they
    // are URLS OF MORE SITEMAPS): the index docs parse to
    // kind=sitemapindex rows, their locs — DEDUPLICATED, since two
    // indexes on one host legitimately point at the same child —
    // select which child sitemap documents are fetched, and the SAME
    // parser runs on the children, yielding the fetchable urlset
    // entries. The oracle re-derives the distinct (host, child) space
    // and every child entry closed-form: a kind-routing slip, a
    // pointer-extraction slip, a dedup miss (duplicate child rows), or
    // a child-parse slip all change rows.
    "p138_sitemap_children" -> ((s, dir) => {
      val d = docs(s, dir)
      val pointers = UrlOps.parseSitemaps(sitemapDocs(d), siteCol = "site_id")
        .where(col("kind") === "sitemapindex")
        .select(col("loc").as("url")).distinct()
      val fetched = childSitemapDocs(d)
        .join(pointers, Seq("url"), "left_semi")
      UrlOps.parseSitemaps(fetched, siteCol = "url")
        .orderBy("site", "entry_idx")
    }),

    // P136 — frontier PACING by Crawl-delay (the politeness budget in
    // wall-clock terms: a host's queue position becomes a fetch TIME):
    // Crawl-delay is not in RFC 9309 but ubiquitous and honored, so the
    // scheduler reads it — conservative max across groups, 1 s default
    // — and each discovered-frontier round fires at
    // (round-1) × delay seconds. One broadcast join of the
    // robots-bounded delay table onto the frontier; the oracle
    // re-derives delays from the host arithmetic (h%5+1) and the
    // pacing closed-form.
    "p136_frontier_pacing" -> ((s, dir) => {
      val (robots, frontier) = discoveredFrontier(docs(s, dir))
      val delays = UrlOps.robotsCrawlDelays(robots)
      frontier.join(broadcast(delays), Seq("host"), "left")
        .select(col("host"), col("loc"), col("fetch_round"),
          ((col("fetch_round") - 1) *
            coalesce(col("crawl_delay_sec"), lit(1L))).as("fetch_at_sec"))
        .orderBy("host", "fetch_at_sec", "loc")
    }),

    // P137 — anchor-text signals (what the web says ABOUT a page — the
    // off-page quality/topic label search corpora and quality
    // classifiers aggregate; p95 keeps only the edge, this keeps the
    // label): per <a> occurrence the base-aware resolved target plus
    // the cleaned inner text, rolled up per target URL. The oracle
    // enumerates all four planted anchor families ('next'/'rel'/'u'/
    // 's') with p95's dst formulas and recomputes counts, distinct
    // sources, and the sorted anchor-set join.
    "p137_anchor_text" -> ((s, dir) =>
      Html.anchorTexts(htmlPages(docs(s, dir)))
        .groupBy("dst_url")
        .agg(count(lit(1)).as("n_refs"),
          countDistinct(col("src_url")).as("n_pages"),
          array_join(array_sort(collect_set(col("anchor"))), "|")
            .as("anchors"))
        .orderBy("dst_url")),

    // P129 — MP4/ISO-BMFF container metadata (the front half of video
    // curation: clip length, track layout, codec allowlist — filtered
    // BEFORE any decode; frame decode for inter-frame codecs stays
    // documented out): version-0 box-tree walk over deterministic
    // fixture MP4s, one row per track. The oracle re-derives brand,
    // exact-div durations, track layout, and sample counts from the
    // fixture arithmetic — a box-offset slip anywhere changes rows.
    "p129_mp4_metadata" -> ((s, dir) => {
      import s.implicits._
      val vids = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(d => (d, Mp4.fixtureMp4(d))))
        .toDF("id", "payload")
      Mp4.containerMeta(vids).orderBy("id", "track_id")
    }),

    // P148 — 64-bit MP4 (the >4 GB capture shape): the SAME metadata
    // formula carried in version-1 mvhd/tkhd/mdhd (64-bit times), co64
    // offset boxes, and a size==1 LARGESIZE mdat — p129's oracle is
    // shared verbatim, so the v1 parse must agree with the v0 parse
    // row-for-row or the hash diverges.
    "p148_mp4_64bit" -> ((s, dir) => {
      import s.implicits._
      val vids = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(d => (d, Mp4.fixtureMp4V1(d))))
        .toDF("id", "payload")
      Mp4.containerMeta(vids).orderBy("id", "track_id")
    }),

    // P130 — crawl-to-video composition (p111's convention for the
    // mp4 door): the SAME fixture MP4s ride as BINARY response
    // payloads (Content-Type video/mp4) through a .warc.gz round-trip
    // and the container walk runs on the RECOVERED body_bytes —
    // hash-matching p129's oracle proves byte-exact binary transit
    // into the video-curation front half.
    "p130_warc_video" -> ((s, dir) => {
      import s.implicits._
      import graft.sources.WarcSource
      val out = Spool.fresh("warc-mp4", dir)
      val vids = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(d => (d, Mp4.fixtureMp4(d))))
        .toDF("id", "payload")
      WarcSource.export(vids, out, docsPerFile = 100, idCol = "id",
        bytesCol = Some("payload"), mime = "video/mp4")
      val recovered = WarcSource.records(s, out)
        .where(col("warc_type") === "response" && col("body").isNull)
        .select(
          regexp_extract(col("record_id"), ":doc:(\\d+)>$", 1)
            .cast("long").as("id"),
          col("body_bytes").as("payload"))
      Mp4.containerMeta(recovered).orderBy("id", "track_id")
    }),

    // P127 — main-content extraction by block scoring (the jusText/
    // trafilatura boilerplate-vs-content step), THREE exact-integer
    // screens: nav link farms and link-heavy promos fail the
    // link-density screen, short footers fail the length screen, and
    // prose-free blocks (zero/low stopword tokens — jusText's core
    // signal) fail the 5% stopword-density screen. The oracle
    // regenerates kept blocks closed-form (never parsing HTML) and
    // recomputes ALL THREE screens, so segmentation, cleaning, and
    // each exact-integer rule are byte-checked.
    "p127_main_content" -> ((s, dir) =>
      Html.mainContent(contentPages(docs(s, dir)),
        stopwords = MainContentStopwords, minStopwordBp = 500)
        .orderBy("id")),

    // P126 — STREAMING sitemap ingest (sitemaps arrive with the crawl,
    // not before it): the same parse over a file stream of sitemap
    // documents, stateless append mode, Trigger.AvailableNow — shares
    // p122's oracle verbatim, so batch ≡ streaming is hash-proven (the
    // p99/p110 convention).
    "p126_streaming_sitemaps" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val sm = sitemapDocs(docs(s, dir))
      // sitemap docs spooled once per corpus content; each call drains
      val (out, tag) = Spool.once("sitemaps-stream", dir) { o =>
        sm.repartition(8).write.mode("overwrite").parquet(o)
      }
      val name = "p126_sitemaps_" + tag
      val q = UrlOps.parseSitemaps(
          s.readStream.schema(sm.schema).parquet(out), siteCol = "site_id")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name).orderBy("site", "entry_idx")
    }),

    // P15 — streaming ingest, driver-visible: the file-based streaming
    // source drained through the stateful gap-sessionizer into a memory
    // sink (Trigger.AvailableNow). With NoTimeout, exactly the sessions
    // closed by an IN-BATCH gap emit — i.e. every session except each
    // user's last — which is what the oracle mirrors (the timeout paths
    // are exercised e2e in StreamingSpec, where file arrival order is
    // controlled).
    "p15_streaming" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.{GroupStateTimeout, Trigger}
      // file streaming sources need a DIRECTORY; symlink the single file
      val (streamDir, tag) = Spool.once("stream-events", dir)(linkTo(dir, "events.parquet"))
      val stream = graft.streaming.EventStream.read(s, streamDir)
      val name = "p15_sessions_" + tag
      // per-USER session state grows with the user population —
      // corpus-scale, the same class as p58/p75/p81's dedup state, so
      // it runs under the RocksDB + changelog-commit posture too (r20;
      // previously HDFS-backed, whose per-batch full-map copy + commit
      // was the drain's largest slice in the durationMs breakdown)
      withStreamShuffle(s) { withRocksDbState(s) {
        val q = graft.streaming.EventStream
          .sessionize(s, stream, gapMinutes = 30, timeout = GroupStateTimeout.NoTimeout())
          .writeStream.format("memory").queryName(name)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } }
      s.table(name).select(col("user_id"), col("session_idx"), col("n_events"),
        unix_micros(col("session_start")).as("start_us"),
        unix_micros(col("session_end")).as("end_us"),
        round(col("total_value"), 4).as("total_value"))
        .orderBy("user_id", "session_idx")
    }),

    // P15b — the full streaming pipeline (watermarked event-id dedup →
    // tumbling windowed agg) in APPEND mode: only windows finalized by the
    // watermark emit (window_end <= max_event_time - delay), which the
    // oracle mirrors. n_users is HLL-approximate in streaming state and is
    // deliberately excluded from the compared columns.
    "p18_streaming_windows" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val (streamDir, tag) = Spool.once("stream-events", dir)(linkTo(dir, "events.parquet"))
      val stream = graft.streaming.EventStream.read(s, streamDir)
      val name = "p18_windows_" + tag
      // per-EVENT-ID dedup state is corpus-scale (it grows with the
      // stream, exactly p58/p75/p81's class) — RocksDB + changelog
      // commit, not the heap-bounded HDFS store (r20; the HDFS store's
      // summed state commit was 3-22 s/batch in the durationMs breakdown)
      withStreamShuffle(s) { withRocksDbState(s) {
        val q = graft.streaming.EventStream
          .windowedCounts(graft.streaming.EventStream.deduped(stream),
            widthMinutes = 60, watermark = "")
          .writeStream.format("memory").queryName(name)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } }
      s.table(name).select(
        unix_micros(col("window_start")).as("window_us"),
        col("event_type"), col("n_events"), col("total_value"))
        .orderBy("window_us", "event_type")
    }),

    // P13 — gap-based sessionization (30 min).
    "p13_sessionize" -> ((s, dir) =>
      Sessionize.sessions(events(s, dir), gapMinutes = 30)
        .select(col("user_id"), col("session_idx"), col("n_events"),
          unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_end")).as("end_us"),
          col("total_value"))
        .orderBy("user_id", "session_idx")),

    // P14 — tumbling 1h window aggregation.
    "p14_window_agg" -> ((s, dir) =>
      Sessionize.tumblingAgg(events(s, dir), widthMinutes = 60)
        .select(unix_micros(col("window_start")).as("window_us"),
          col("event_type"), col("n_events"), col("n_users"), col("total_value"))
        .orderBy("window_us", "event_type")),

    // P19+++++, key p70_quality_classifier — the DCLM/FineWeb-Edu
    // supervised classifier step: a 20% seed slice (doc_id % 5 == 0) is
    // LABELED by the Gopher verdict (the expensive judgment being
    // distilled), a binary NB over hashed bigrams trains on it in one
    // pass, and the FULL corpus is threshold-filtered by the trained
    // model — train/apply generalization across different frames, which
    // is what separates this from p63's self-referential resampling.
    "p70_quality_classifier" -> ((s, dir) => {
      val seed = docs(s, dir).where(col("doc_id") % 5 === 0)
      val labeled = TextAnalysis.gopherRules(seed, stopwords = Seq("the", "a"),
        passthrough = Seq("text"))
      val model = Corpus.classifierTrain(labeled, isPositive = col("passes"),
        buckets = DsirBuckets)
      Corpus.classifierFilter(docs(s, dir), model, threshold = 1.0)
        .orderBy("id")
    }),

    // P20+++, key p71_token_chunks — fixed-size token-window chunking
    // with stride (the HF return_overflowing_tokens semantics): 64-token
    // windows every 48 tokens, 16-token overlap carrying context across
    // boundaries; one narrow scan + explode, no shuffle.
    "p71_token_chunks" -> ((s, dir) =>
      Corpus.tokenChunks(docs(s, dir), chunkSize = 64, stride = 48)
        .orderBy("id", "chunk_id")),

    // P31+++++, key p72_perplexity_buckets — CCNet-style per-language
    // perplexity bucketing (Wenzek et al. 2020): per-language unigram
    // models trained on a trusted reference slice (sources src0-src4,
    // the "Wikipedia" proxy), every doc scored with its own language's
    // model, each language split head/middle/tail at the 30%/60%
    // quantiles of the rounded score, keep = not tail. Small per-lang
    // vocab (24) exercises OOV like the rest of the LM ladder.
    "p72_perplexity_buckets" -> ((s, dir) =>
      TextAnalysis.perplexityBuckets(docs(s, dir),
        refFilter = col("source").isin("src0", "src1", "src2", "src3", "src4"),
        vocabSize = 24, headFrac = 0.3, keepFrac = 0.6).orderBy("id")),

    // P31++++++, key p73_streaming_perplexity — the CCNet filter's
    // continuous-ingestion shape: models + quantile cutoffs trained
    // ONCE in batch (perplexityTrain), then the stream is scored and
    // bucketed by a stateless projection (perplexityApply) under
    // AvailableNow. Shares p72's oracle — matching hashes prove the
    // frozen-model streaming path equals the batch self-quantile run
    // on the same corpus.
    "p73_streaming_perplexity" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val (streamDir, tag) =
        Spool.once("stream-documents", dir)(linkTo(dir, "documents.parquet"))
      val batch = docs(s, dir)
      val model = TextAnalysis.perplexityTrain(batch,
        refFilter = col("source").isin("src0", "src1", "src2", "src3", "src4"),
        vocabSize = 24, headFrac = 0.3, keepFrac = 0.6)
      val stream = spreadStream(s.readStream.schema(batch.schema).parquet(streamDir))
      val out = TextAnalysis.perplexityApply(stream, model)
      val name = "p73_ppl_" + tag
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name).orderBy("id")
    })
  )

  // ------------------------------------------------------------ oracles

  /** Shared corpus CTEs (tokens / distinct 3-gram shingles / shingle codes),
   * mirroring TextFunctions bit-for-bit. */
  /** Oracle twin of the DSIR selection (shared by p63 batch and p67
   * streaming — matching hashes prove batch and streaming agree). */
  /** Oracle twin of the language ID (shared by p08 direct and p91
   * WET-recovered — matching hashes prove the extracted-text ingest
   * round-trips byte-exactly into the analysis operators). */
  /** Oracle twin of the CDX index (shared by p93 batch and p110
   * streaming maintenance — matching hashes prove the stateless
   * append-mode index equals the batch build row for row). */
  private val CdxOracle: String =
    s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT
  'com,example-' || (doc_id % 50) || ')/pg/' || doc_id || '?a=1&b=2' AS urlkey,
  'example-' || (doc_id % 50) || '.com/Pg/' || doc_id || '?a=1&b=2' AS url,
  200::BIGINT AS status,
  sha256(text) AS digest,
  strlen(text)::BIGINT AS n_bytes
FROM documents ORDER BY urlkey"""

  /** Oracle twin of the HLL shingle sketch (shared by p103 single-pass
   * and p105 shard-merge — matching hashes prove register max-merge is
   * exact): same salted md5 codes, the generated 33-way trailing-zero
   * CASE, the same integer harmonic fold. */
  private val HllShingleOracle: String = {
    val whens = (1 to 32).map(k =>
      s"WHEN hr % ${1L << k} = ${1L << (k - 1)} THEN $k").mkString("\n      ")
    s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
tok AS (SELECT string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents),
sh AS (SELECT CASE WHEN len(t) >= 3 THEN list_transform(range(1, len(t) - 1),
         i -> array_to_string(list_slice(t, i, i + 2), ' '))
       ELSE [] END AS ss FROM tok),
v AS (SELECT unnest(ss) AS v FROM sh),
h AS (SELECT ('0x' || substring(md5('hb:' || v), 1, 8))::BIGINT % 64 AS bucket,
             ('0x' || substring(md5('hr:' || v), 1, 8))::BIGINT AS hr FROM v),
r AS (SELECT bucket, max(CASE WHEN hr = 0 THEN 33
      $whens END) AS r FROM h GROUP BY bucket),
s AS (SELECT (sum((1::BIGINT << (34 - r)))::BIGINT
        + (64 - count(*)) * (1::BIGINT << 34)) AS s FROM r)
SELECT 64::BIGINT AS m,
  (709::BIGINT * 64 * 64 * (1::BIGINT << 34)) // (1000 * s) AS hll_estimate,
  (SELECT count(DISTINCT v) FROM v)::BIGINT AS n_exact
FROM s"""
  }

  private val LangIdOracle = {
    val langs = Seq("de", "en", "es", "fr")
    val hitExprs = langs.map { l =>
      val words = graft.functions.TextFunctions.DefaultStopwords(l)
        .map("'" + _ + "'").mkString(", ")
      s"len(list_filter(t, x -> list_contains([$words], x)))::BIGINT AS ${l}_hits"
    }.mkString(",\n  ")
    s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents),
hits AS (SELECT doc_id AS id,
  $hitExprs
  FROM toks)
SELECT id,
  CASE WHEN de_hits >= GREATEST(en_hits, es_hits, fr_hits) THEN 'de'
       WHEN en_hits >= GREATEST(es_hits, fr_hits) THEN 'en'
       WHEN es_hits >= fr_hits THEN 'es'
       ELSE 'fr' END AS predicted_lang,
  de_hits, en_hits, es_hits, fr_hits
FROM hits ORDER BY id"""
  }

  /** Oracle twin of the URL dedup (shared by p78 batch and p81
   * streaming): ground truth from the messyUrls fixture formula —
   * three spellings per page group all canonicalize to
   * example-{grp%50}.com/Pg/{grp}?a=1&b=2; keep = longest capture,
   * ties -> smallest doc_id. Any canonicalizer slip diverges rows. */
  private val UrlDedupOracle =
    s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
d AS (SELECT doc_id, n_chars, doc_id // 3 AS grp FROM documents),
r AS (SELECT *, row_number() OVER (PARTITION BY grp
        ORDER BY n_chars DESC, doc_id ASC) AS rn FROM d),
a AS (SELECT grp, count(*) AS n_dups FROM d GROUP BY grp)
SELECT 'example-' || (a.grp % 50) || '.com/Pg/' || a.grp || '?a=1&b=2'
    AS canonical_url,
  r.doc_id AS kept_doc_id, a.n_dups
FROM r JOIN a ON r.grp = a.grp WHERE r.rn = 1
ORDER BY canonical_url"""

  /** Oracle twin of the perplexity bucketing (shared by p72 batch and
   * p73 streaming — matching hashes prove the frozen-model streaming
   * path equals the batch self-quantile run on the same corpus). */
  /** The p72 CCNet chain (LM train -> score -> per-language quantile
   * cuts -> buckets) over whatever `tok(doc_id, lang, source, t)` CTE
   * the caller prefixes — the label-routed original (p72/p73) and the
   * PREDICTED-lang composition (p120) share every line after tok. */
  private def perplexityOracleSql(prefixCtes: String): String =
    s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
$prefixCtes,
refcnt AS (SELECT lang AS l, tok, count(*)::BIGINT AS c
           FROM (SELECT lang, unnest(t) AS tok FROM tok
                 WHERE source IN ('src0','src1','src2','src3','src4'))
           GROUP BY l, tok),
topv AS (SELECT l, tok, c FROM (SELECT l, tok, c,
           row_number() OVER (PARTITION BY l ORDER BY c DESC, tok) AS rn
           FROM refcnt) WHERE rn <= 24),
denom AS (SELECT s.l, (s.t + v.v + 1)::DOUBLE AS d
          FROM (SELECT l, sum(c)::BIGINT AS t FROM refcnt GROUP BY l) s
          JOIN (SELECT l, count(*)::BIGINT AS v FROM topv GROUP BY l) v
            USING (l)),
vm AS (SELECT topv.l, map(list(tok ORDER BY c DESC, tok),
         list((c + 1)::DOUBLE / d ORDER BY c DESC, tok)) AS m
       FROM topv JOIN denom ON denom.l = topv.l GROUP BY topv.l),
scored AS (SELECT doc_id AS id, tok.lang,
    round((list_reduce([0.0]::DOUBLE[] ||
        list_transform(t, x -> coalesce(m[x][1], 0.0)), (a,b) -> a+b)
      + len(list_filter(t, x -> m[x][1] IS NULL))::DOUBLE
        * coalesce(1.0 / d, 1.0))
      / len(t)::DOUBLE, 6) AS score
  FROM tok LEFT JOIN vm ON vm.l = tok.lang
           LEFT JOIN denom ON denom.l = tok.lang
  WHERE len(t) >= 1),
cum AS (SELECT lang, score, sum(c) OVER (PARTITION BY lang ORDER BY score DESC)
          AS cum, sum(c) OVER (PARTITION BY lang) AS n
        FROM (SELECT lang, score, count(*)::BIGINT AS c FROM scored
              GROUP BY lang, score)),
cuts AS (SELECT lang,
           max(CASE WHEN cum >= ceil(n * 0.3) THEN score END) AS hc,
           max(CASE WHEN cum >= ceil(n * 0.6) THEN score END) AS mc
         FROM cum GROUP BY lang)
SELECT id, lang, score,
  CASE WHEN score >= hc THEN 'head'
       WHEN score >= mc THEN 'middle' ELSE 'tail' END AS bucket,
  score >= mc AS keep
FROM scored JOIN cuts USING (lang) ORDER BY id"""

  private val PerplexityOracle = perplexityOracleSql(
    s"""tok AS (SELECT doc_id, lang, source,
        string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents)""")

  /** Oracle twin of the p117 train/apply chain, generated from the
   * same LangMarkers/LangIdBuckets/LangMarkerReps constants the Spark
   * fixture uses: marked text -> lowered char 2-4 grams -> md5
   * buckets -> per-(lang, bucket) counts over the %5!=0 slice ->
   * per-gram argmax by exact HUGEINT cross-products ((c_l+1) x the
   * OTHER languages' denominators compares the smoothed
   * probabilities without a single division) -> doc-level plurality;
   * every tie alphabetical on both sides. Ends at
   * `pred(doc_id, gold, vote, nv, n_grams)`. */
  private lazy val LangIdOracleCtes: String = {
    val langs = LangMarkers.map(_._1)
    val markerCase = "CASE lang " + LangMarkers.map { case (l, m) =>
      s"WHEN '$l' THEN '$m'" }.mkString(" ") + " ELSE '' END"
    val cpCols = langs.map(l =>
      s"coalesce(max(c) FILTER (lang = '$l'), 0)::HUGEINT AS c_$l")
      .mkString(",\n        ")
    val dnCols = langs.map(l =>
      s"(coalesce(max(t) FILTER (lang = '$l'), 0) + $LangIdBuckets)::HUGEINT AS d_$l")
      .mkString(",\n        ")
    val scoreCols = langs.map { l =>
      val others = langs.filter(_ != l).map(o => s"dn.d_$o").mkString(" * ")
      s"(coalesce(cp.c_$l, 0) + 1) * $others AS s_$l"
    }.mkString(",\n              ")
    val caseVote = "CASE greatest(" + langs.map(l => s"s_$l").mkString(", ") +
      ") " + langs.dropRight(1).map(l => s"WHEN s_$l THEN '$l'")
      .mkString(" ") + s" ELSE '${langs.last}' END"
    s"""m AS (SELECT doc_id, lang, source,
        text || repeat($markerCase, $LangMarkerReps) AS text FROM documents),
lt AS (SELECT doc_id, lang, lower(text) AS t FROM m),
gg AS (SELECT doc_id, lang,
        ('0x' || substring(md5(substring(lt.t, u.i, ns.n)), 1, 8))::BIGINT
          % $LangIdBuckets AS b
      FROM lt, (VALUES (2), (3), (4)) AS ns(n),
           unnest(generate_series(1, len(lt.t) - ns.n + 1)) AS u(i)
      WHERE len(lt.t) >= ns.n),
cnt AS (SELECT lang, b, count(*)::BIGINT AS c FROM gg
        WHERE doc_id % 5 <> 0 GROUP BY lang, b),
tot AS (SELECT lang, sum(c)::BIGINT AS t FROM cnt GROUP BY lang),
cp AS (SELECT b,
        $cpCols
       FROM cnt GROUP BY b),
dn AS (SELECT
        $dnCols
       FROM tot),
vt AS (SELECT doc_id, lang AS gold, $caseVote AS vote
      FROM (SELECT gg.doc_id, gg.lang,
              $scoreCols
            FROM gg LEFT JOIN cp USING (b) CROSS JOIN dn)),
dv AS (SELECT doc_id, gold, vote, count(*)::BIGINT AS nv FROM vt
       GROUP BY doc_id, gold, vote),
rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         ORDER BY nv DESC, vote ASC) AS rn FROM dv),
ng AS (SELECT doc_id, count(*)::BIGINT AS n_grams FROM gg GROUP BY doc_id),
pred AS (SELECT rk.doc_id, rk.gold, rk.vote, rk.nv, ng.n_grams
         FROM rk JOIN ng USING (doc_id) WHERE rn = 1)"""
  }

  private val DsirOracle =
    s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
tok AS (SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents),
bg AS (SELECT doc_id, lang, list_transform(range(1, len(t)),
         i -> array_to_string(list_slice(t, i, i+1), ' ')) AS gs
       FROM tok WHERE len(t) >= 2),
feat AS (SELECT (lang = 'en') AS tgt,
    ('0x' || substring(md5(g),1,8))::BIGINT % $DsirBuckets AS b
  FROM bg, unnest(gs) AS u(g)),
cnt AS (SELECT b, count(*)::BIGINT AS cr,
    count(*) FILTER (WHERE tgt)::BIGINT AS ct FROM feat GROUP BY b),
tot AS (SELECT sum(cr)::BIGINT AS tr, sum(ct)::BIGINT AS tt FROM cnt),
exp AS (SELECT doc_id, unnest(list_transform(range(1, len(gs)+1),
    i -> {'ord': i,
          'b': ('0x' || substring(md5(gs[i]),1,8))::BIGINT % $DsirBuckets})) AS r
  FROM bg),
ex AS (SELECT doc_id, r.ord AS ord, r.b AS b FROM exp),
jr AS (SELECT e.doc_id, e.ord,
    ((coalesce(c.ct, 0)+1)::DOUBLE * (t.tr+$DsirBuckets)::DOUBLE)
    / ((coalesce(c.cr, 0)+1)::DOUBLE * (t.tt+$DsirBuckets)::DOUBLE) AS ratio
  FROM ex e LEFT JOIN cnt c ON e.b = c.b CROSS JOIN tot t),
sums AS (SELECT doc_id, count(*)::BIGINT AS n_grams,
    list_reduce([0.0]::DOUBLE[] || list(ratio ORDER BY ord), (a,b) -> a+b) AS s
  FROM jr GROUP BY doc_id),
sel AS (SELECT doc_id, n_grams, s / n_grams::DOUBLE AS w,
    ('0x' || substring(md5(doc_id::VARCHAR),1,8))::BIGINT % 1000003 AS hm
  FROM sums)
SELECT doc_id AS id, n_grams, round(w, 6) AS dsir_weight
FROM sel WHERE hm::DOUBLE < least(1.0, w * 0.25) * 1000003
ORDER BY id"""

  private val docCtes =
    s"""documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents),
sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
         i -> array_to_string(list_slice(t, i, i+2), ' '))) AS s
       FROM toks WHERE len(t) >= 3)"""

  /** Oracle twin of `incrementalFixture` (corpus/batch CTEs for p49 and
   * p51). */
  private val IncrementalFixtureSql =
    s"""documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 != 0),
planted AS (SELECT b.doc_id,
    CASE WHEN b.doc_id % 6 = 0 THEN coalesce(n.text, b.text)
         ELSE b.text END AS text
  FROM documents b LEFT JOIN documents n ON n.doc_id = b.doc_id + 1
  WHERE b.doc_id % 3 = 0),
batch AS (SELECT * FROM planted
  UNION ALL SELECT doc_id + 1000000, text FROM planted WHERE doc_id % 30 = 0)"""

  private val embCte =
    s"""emb AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        FROM read_parquet('$Sf/embeddings.parquet'))"""

  private val eventsCte =
    s"""events AS (SELECT * FROM read_parquet('$Sf/events.parquet'))"""

  /** Ordered left-fold dot product of 1-indexed `dim`-length double lists —
   * bit-identical to VectorFunctions.dot (aggregate starts at 0.0, and
   * 0.0 + x == x for IEEE doubles). */
  private def dotSql(a: String, b: String, dim: Int = 64): String =
    s"list_reduce(list_transform(range(1,${dim + 1}), i -> $a[i] * $b[i]), (x,y) -> x+y)"

  /** Ordered-fold squared L2 between two 1-indexed `d`-length double
   * lists — bit-identical to Ann.l2Col (zip_with + seeded fold). */
  private def l2Sql(a: String, b: String, d: Int = 8): String =
    s"list_reduce([0.0]::DOUBLE[] || list_transform(range(1,${d + 1}), i -> ($a[i]-$b[i])*($a[i]-$b[i])), (x,y) -> x+y)"

  /** SQ8 range-training + encode + dequantize CTEs over `emb`, shared
   * by the p38 flat-scan and p44 IVF-composed oracles (CTE names are
   * sq-prefixed so they compose with the coarse-quantizer CTEs). */
  private lazy val sqCtes: String =
    s"""sqsamp AS (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT 256),
sqrng AS (SELECT d, min(v[d]) AS lo, max(v[d]) AS hi
        FROM sqsamp, range(1,65) r(d) GROUP BY d),
sqrl AS (SELECT list(lo ORDER BY d) AS los, list(hi ORDER BY d) AS his FROM sqrng),
sqenc AS (SELECT e.vec_id, list_transform(range(1,65), d ->
          CASE WHEN sqrl.his[d] > sqrl.los[d]
            THEN least(greatest(floor((e.v[d] - sqrl.los[d]) * 255.0
                   / (sqrl.his[d] - sqrl.los[d])), 0.0), 255.0)::BIGINT
            ELSE 0 END) AS codes
        FROM emb e, sqrl),
sqdeq AS (SELECT vec_id, list_transform(range(1,65), d ->
          CASE WHEN sqrl.his[d] > sqrl.los[d]
            THEN sqrl.los[d] + (codes[d]::DOUBLE + 0.5)
                   * (sqrl.his[d] - sqrl.los[d]) / 255.0
            ELSE sqrl.los[d] END) AS dv
        FROM sqenc, sqrl)"""

  /** Unrolled cosine k-means coarse-quantizer CTEs shared by the IVF and
   * IVF+PQ oracles — mirrors Ann.trainCentroids bit-for-bit (assign by
   * cosine with lowest-cid ties, id-ordered per-dimension mean folds,
   * emptied clusters keep their previous centroid), then full-corpus
   * assignment and each probe's nProbe=4 nearest lists. */
  private lazy val ivfCoarseCtes: String = {
    def kmIter(i: Int): String = {
      val prev = s"c${i - 1}"
      s"""n${i - 1} AS (SELECT cid, cv, sqrt(${dotSql("cv", "cv")}) AS cn FROM $prev),
a$i AS (SELECT cid, vec_id, v FROM (
  SELECT c.cid, s.vec_id, s.v,
    row_number() OVER (PARTITION BY s.vec_id
      ORDER BY ${dotSql("s.v", "c.cv")} / (s.nrm * c.cn) DESC, c.cid) AS rk
  FROM samp s CROSS JOIN n${i - 1} c) WHERE rk = 1),
m$i AS (SELECT cid, list(m ORDER BY dim) AS cv FROM (
    SELECT cid, dim,
      list_reduce([0.0]::DOUBLE[] || list(v[dim] ORDER BY vec_id), (x,y) -> x+y)
        / count(*) AS m
    FROM a$i, range(1,65) r(dim) GROUP BY cid, dim)
  GROUP BY cid),
c$i AS (SELECT $prev.cid, coalesce(m$i.cv, $prev.cv) AS cv
        FROM $prev LEFT JOIN m$i ON $prev.cid = m$i.cid)"""
    }
    s"""n AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM emb),
samp AS (SELECT vec_id, v, nrm FROM n ORDER BY vec_id LIMIT 256),
c0 AS (SELECT vec_id AS cid, v AS cv FROM samp ORDER BY vec_id LIMIT 16),
${kmIter(1)},
${kmIter(2)},
cents AS (SELECT cid AS centroid_id, cv AS centv, sqrt(${dotSql("cv", "cv")}) AS centn
          FROM c2),
assigned AS (
  SELECT centroid_id, neighbor_id, cv, cn, ccos FROM (
    SELECT c.centroid_id, n.vec_id AS neighbor_id, n.v AS cv, n.nrm AS cn,
      ${dotSql("n.v", "c.centv")} / (n.nrm * c.centn) AS ccos,
      row_number() OVER (PARTITION BY n.vec_id
        ORDER BY ${dotSql("n.v", "c.centv")} / (n.nrm * c.centn) DESC,
                 c.centroid_id) AS arank
    FROM n CROSS JOIN cents c)
  WHERE arank = 1),
plists AS (
  SELECT probe_id, pv, pn, centroid_id FROM (
    SELECT p.vec_id AS probe_id, p.v AS pv, p.nrm AS pn, c.centroid_id,
      row_number() OVER (PARTITION BY p.vec_id
        ORDER BY ${dotSql("p.v", "c.centv")} / (p.nrm * c.centn) DESC,
                 c.centroid_id) AS prank
    FROM n p CROSS JOIN cents c WHERE p.vec_id < 5)
  WHERE prank <= 4)"""
  }

  /** One PQ subspace's unrolled deterministic k-means (2 iterations) +
   * its positional codebook list — mirrors Ann.trainPqCodebooks for
   * subspace `s` (8 dims, 16 codes, sample = first 256 vectors in id
   * order, init = first
   * 16 sample subvectors, L2 assignment with lowest-cid ties, id-ordered
   * mean folds, emptied clusters keep their centroid). `src` is the
   * (vec_id, v) relation the sample is drawn from — `emb` for raw-vector
   * codebooks, a residual CTE for the IVFPQ residual variant. */
  private def pqSubCtes(s: Int, src: String = "emb"): String = {
    val lo = s * 8 + 1
    val hi = s * 8 + 8
    def iter(i: Int): String =
      s"""a${s}_$i AS (SELECT cid, vec_id, sv FROM (
  SELECT c.cid, x.vec_id, x.sv,
    row_number() OVER (PARTITION BY x.vec_id
      ORDER BY ${l2Sql("x.sv", "c.cv")} ASC, c.cid) AS rk
  FROM samp$s x CROSS JOIN c${s}_${i - 1} c) WHERE rk = 1),
m${s}_$i AS (SELECT cid, list(mn ORDER BY dim) AS cv FROM (
    SELECT cid, dim,
      list_reduce([0.0]::DOUBLE[] || list(sv[dim] ORDER BY vec_id), (x,y) -> x+y)
        / count(*) AS mn
    FROM a${s}_$i, range(1,9) r(dim) GROUP BY cid, dim)
  GROUP BY cid),
c${s}_$i AS (SELECT p.cid, coalesce(m.cv, p.cv) AS cv
             FROM c${s}_${i - 1} p LEFT JOIN m${s}_$i m ON p.cid = m.cid)"""
    s"""samp$s AS (SELECT vec_id, list_slice(v, $lo, $hi) AS sv FROM $src ORDER BY vec_id LIMIT 256),
c${s}_0 AS (SELECT vec_id AS cid, sv AS cv FROM samp$s ORDER BY vec_id LIMIT 16),
${iter(1)},
${iter(2)},
cbl$s AS (SELECT list(cv ORDER BY cid) AS l FROM c${s}_2)"""
  }

  /** Sign-LSH bucket over 8 hyperplanes from table `t` (plane index
   * t*8+j), mirroring VectorFunctions.lshBucket/hyperplane. */
  private def bucketSql(v: String, t: String): String =
    s"""list_sum(list_transform(range(0,8), j -> CASE WHEN
       list_reduce(list_transform(range(0,64), i ->
         $v[i+1] * ((((1103515245*((($t)*8+j)*64+i)+12345) % 2147483648) / 2147483648.0) - 0.5)),
         (x,y) -> x+y) >= 0
       THEN (1::BIGINT << j) ELSE 0 END))::BIGINT"""

  /** The 16-entry MinHash signature list over distinct shingle codes
   * (a_i = 1000003 + 2i, b_i = 12345 + 97i mod 2^31-1). */
  private def sigSql: String = {
    val entries = (0 until 16).map { i =>
      val a = 1000003L + 2L * i
      val b = 12345L + 97L * i
      s"list_min(list_transform(d, x -> ($a*x + $b) % $HashMod))"
    }
    s"[${entries.mkString(",\n  ")}]"
  }

  /** Shared p114/p116 oracle CTEs: the fixture tables regenerated
   * cell-by-cell from the formula (never by parsing HTML), ending at
   * `u` = (id, table_idx, row_idx, n_cells, cells). */
  private lazy val HtmlTablesOracleCtes: String =
    s"""documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
t1 AS (SELECT doc_id AS id, 0::BIGINT AS table_idx, r.r::BIGINT AS row_idx,
        (2 + doc_id % 2)::BIGINT AS n_cells,
        (SELECT string_agg(
           'c' || r.r || '_' || c.c || '_' || ((doc_id + r.r*7 + c.c*3) % 50)
             || CASE WHEN r.r = 1 AND c.c = 1 THEN '&x caféé' ELSE '' END,
           '|' ORDER BY c.c)
         FROM unnest(generate_series(0, 1 + doc_id % 2)) AS c(c)) AS cells
      FROM documents, unnest(generate_series(0, 1 + doc_id % 3)) AS r(r)),
t2 AS (SELECT doc_id AS id, 1::BIGINT, r.r::BIGINT, 2::BIGINT,
        (SELECT string_agg(
           'd' || r.r || '_' || c.c || '_' || ((doc_id + r.r*5 + c.c*11) % 50),
           '|' ORDER BY c.c)
         FROM unnest(generate_series(0, 1)) AS c(c))
      FROM documents, unnest(generate_series(0, 1)) AS r(r)
      WHERE doc_id % 7 = 0),
u AS (SELECT * FROM t1 UNION ALL SELECT * FROM t2)"""

  /** Shared BPE oracle machinery (p41, p115): the stagewise
   * merge-training + corpus re-encode CTE chain, ending at `per`
   * (per-doc n_words/n_subwords) with `tok` (per-doc filtered word
   * list) still in scope. One stage per merge: count adjacent symbol
   * pairs over the current sample encoding, pick (count desc, a, b) —
   * then re-encode the sample with a left-greedy replace over the
   * chr(31)-joined representation (replace's resume-after-replacement
   * scan IS the BPE fold; see operators.Bpe). */
  /** The BPE merge-replay CTE chain, parametrized on the token-list
   * expression (over a `text` column): char-level (p41/p115) passes
   * the whitespace tokenizer, byte-level (p141) passes the
   * pretokenizer + byte-alphabet mapping — the training stages, the
   * replay fold, and the per-doc aggregation are shared verbatim, so
   * both rungs pin against ONE oracle semantics. */
  private def bpeCtesFor(tokList: String): String = {
    def stage(k: Int): String = {
      val prev = if (k == 1) "s0" else s"s${k - 1}"
      s"""p$k AS MATERIALIZED (SELECT (z).a AS a, (z).b AS b FROM (
    SELECT unnest(list_transform(range(1, len(l)), i ->
      struct_pack(a := l[i], b := l[i+1]))) AS z, f FROM $prev)
  GROUP BY 1, 2 ORDER BY sum(f) DESC, a, b LIMIT 1),
s$k AS MATERIALIZED (SELECT j, f,
    string_split(trim(j, chr(31)), chr(31) || chr(31)) AS l FROM (
    SELECT replace($prev.j,
        chr(31) || p$k.a || chr(31) || chr(31) || p$k.b || chr(31),
        chr(31) || p$k.a || p$k.b || chr(31)) AS j, f
    FROM $prev, p$k))"""
    }
    val stages = (1 to BpeMerges).map(stage).mkString(",\n")
    val baseJ = "chr(31) || array_to_string(list_transform(" +
      "range(1, length(w)+1), i -> w[i]), chr(31) || chr(31)) || chr(31)"
    val encJ = (1 to BpeMerges).foldLeft(baseJ)((acc, k) =>
      s"replace($acc, chr(31) || p$k.a || chr(31) || chr(31) || p$k.b || chr(31), " +
        s"chr(31) || p$k.a || p$k.b || chr(31))")
    val pList = (1 to BpeMerges).map(k => s"p$k").mkString(", ")
    s"""documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
w0 AS (SELECT w, count(*)::BIGINT AS f FROM (
    SELECT unnest($tokList) AS w
    FROM (SELECT text FROM documents ORDER BY doc_id LIMIT $BpeSampleN))
  WHERE w <> '' GROUP BY w),
s0 AS MATERIALIZED (SELECT chr(31) || array_to_string(
         list_transform(range(1, length(w)+1), i -> w[i]),
         chr(31) || chr(31)) || chr(31) AS j, f,
       list_transform(range(1, length(w)+1), i -> w[i]) AS l FROM w0),
$stages,
tok AS (SELECT doc_id, list_filter($tokList, x -> x <> '') AS ws
        FROM documents),
encw AS (SELECT doc_id, unnest(ws) AS w FROM tok),
encj AS (SELECT doc_id, $encJ AS j FROM encw, $pList),
per AS (SELECT doc_id, count(*)::BIGINT AS n_words,
          sum(len(string_split(trim(j, chr(31)), chr(31) || chr(31))))::BIGINT
            AS n_subwords
        FROM encj GROUP BY doc_id)"""
  }

  private lazy val BpeOracleCtes: String =
    bpeCtesFor("string_split_regex(lower(trim(text)), '\\s+')")

  /** Byte-level twin: the RE2-safe pretokenizer (case-sensitive,
   * whitespace-significant), each pretoken mapped through the byte
   * alphabet. The fixture corpus is printable ASCII (verified
   * [32,121]), so the only byte needing mapping is space → chr(288)
   * ('Ġ' — the GPT-2 table's image of 0x20); the engine side applies
   * the FULL 256-entry table and BpeSpec pins the non-ASCII rows. */
  private lazy val BpeBytesOracleCtes: String = bpeCtesFor(
    "list_transform(regexp_extract_all(text, " +
      "'''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+" +
      "| ?[^\\s\\p{L}\\p{N}]+|\\s+'), x -> replace(x, ' ', chr(288)))")

  /** Shared oracle for the planted-PNG near-dup keys: p74 (parquet
   * fixture) and p111 (the same fixture round-tripped through a
   * binary-payload WARC segment). The pairs are enumerable from the
   * doc table alone — every variant of one doc is dHash-identical by
   * construction, distinct docs never pair. */
  /** Pair oracle shared by p77 (decoded-frame AVI fingerprints) and
   * p142 (container-resolved MP4 keyframe-byte fingerprints): every
   * variant of one doc fingerprints identically by construction,
   * distinct docs never pair. */
  private lazy val VideoNeardupPairsOracle: String =
    s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
v AS (SELECT doc_id, 0 AS var FROM documents WHERE doc_id % 5 = 0
      UNION ALL SELECT doc_id, 1 FROM documents WHERE doc_id % 10 = 0
      UNION ALL SELECT doc_id, 2 FROM documents WHERE doc_id % 15 = 0)
SELECT a.doc_id * 10 + a.var AS id_a, b.doc_id * 10 + b.var AS id_b,
  0::BIGINT AS hamming
FROM v a JOIN v b ON a.doc_id = b.doc_id AND a.var < b.var
ORDER BY id_a, id_b"""

  /** Oracle shared by p129 (MP4 container walk) and p130 (the same
   * fixture through a .warc.gz binary round-trip). */
  private lazy val Mp4MetaOracle: String =
    s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
b AS (SELECT doc_id, doc_id % 50 + 10 AS nv, doc_id % 30 + 5 AS na,
        doc_id % 2 = 1 AS aud FROM documents),
m AS (SELECT doc_id,
        (CASE WHEN aud THEN greatest(nv, na) ELSE nv END * 40)::BIGINT AS mms,
        (CASE WHEN aud THEN 2 ELSE 1 END)::BIGINT AS nt, nv, na, aud
      FROM b)
SELECT doc_id AS id, 'isom' AS major_brand, mms AS movie_duration_ms,
  nt AS n_tracks, 1::BIGINT AS track_id, 'vide' AS handler,
  'avc1' AS codec, nv::BIGINT AS n_samples, (nv * 40)::BIGINT AS duration_ms
FROM m
UNION ALL
SELECT doc_id, 'isom', mms, nt, 2, 'soun', 'mp4a', na, na * 40
FROM m WHERE aud
ORDER BY id, track_id"""

  /** Oracle shared by p122 (batch sitemap parse) and p126 (its
   * streaming drain): both entry populations regenerated closed-form
   * from the sitemapDocs fixture formula with the loc's &amp; DECODED. */
  private lazy val SitemapsOracle: String =
    s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
u AS (SELECT doc_id, t.j FROM documents,
        unnest(generate_series(0, doc_id % 5)) AS t(j)
      WHERE doc_id % 7 <> 0),
i AS (SELECT doc_id, t.j FROM documents,
        unnest(generate_series(0, doc_id % 3)) AS t(j)
      WHERE doc_id % 7 = 0)
SELECT doc_id AS site, 'urlset' AS kind, j AS entry_idx,
  'https://site' || (doc_id % 40) || '.example.com/page/' || doc_id ||
    '/' || j || '?a=1&b=2' AS loc,
  CASE WHEN j % 2 = 0
    THEN '2024-01-' || lpad(((doc_id + j) % 28 + 1)::VARCHAR, 2, '0')
    END AS lastmod,
  CASE WHEN j % 3 = 0 THEN (['always', 'hourly', 'daily', 'weekly',
    'monthly', 'yearly', 'never'])[(doc_id + j) % 7 + 1]
    END AS changefreq,
  CASE WHEN j % 2 = 1 THEN '0.' || ((doc_id + j) % 10) END AS priority
FROM u
UNION ALL
SELECT doc_id, 'sitemapindex', j,
  'https://site' || (doc_id % 40) || '.example.com/sitemap-' || j || '.xml',
  CASE WHEN j % 2 = 0
    THEN '2023-12-' || lpad(((doc_id + j) % 28 + 1)::VARCHAR, 2, '0') END,
  NULL, NULL
FROM i
ORDER BY site, entry_idx"""

  private lazy val ImageNearDupOracle: String =
    s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
v AS (SELECT doc_id, 0 AS var FROM documents
      UNION ALL SELECT doc_id, 1 FROM documents WHERE doc_id % 5 = 0
      UNION ALL SELECT doc_id, 2 FROM documents WHERE doc_id % 7 = 0)
SELECT a.doc_id * 10 + a.var AS id_a, b.doc_id * 10 + b.var AS id_b,
  0::BIGINT AS hamming
FROM v a JOIN v b ON a.doc_id = b.doc_id AND a.var < b.var
ORDER BY id_a, id_b"""

  /** Shared batch oracle for the curation-pipeline keys: p50 (batch
   * window dedup) and p58 (streaming aggregation dedup) both
   * hash-match this CTE chain (p32 line filter, p23 clean, p24
   * redact, p35 gopher, p01 dedup in production order). */
  private lazy val CurationPipelineOracle: String =
    s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
planted AS (SELECT doc_id,
    CASE WHEN doc_id % 25 = 0 THEN '$PipeDupPlant' ELSE text || '.' END
    || chr(10) || 'short line' || chr(10)
    || 'This line has exactly enough words to pass.'
    || CASE WHEN doc_id % 10 = 0
         THEN chr(10) || 'lorem ipsum dolor sit amet consectetur.' ELSE '' END
    || CASE WHEN doc_id % 7 = 0
         THEN chr(10) || 'function() { var x = 1; }' ELSE '' END
    || CASE WHEN doc_id % 4 = 0
         THEN chr(10) || 'Reach me at u' || doc_id
           || '@example.com or 555-123-4567 today please.' ELSE '' END AS text
  FROM documents),
kx AS (SELECT doc_id, text,
    list_filter(string_split(text, chr(10)),
      l -> len(regexp_split_to_array(trim(l), '\\s+')) >= 5
        AND substring(trim(l), length(trim(l)), 1) IN ('.', '!', '?', '"')) AS ks
  FROM planted),
fx AS (SELECT doc_id, array_to_string(ks, chr(10)) AS ft FROM kx
  WHERE NOT contains(lower(text), 'lorem ipsum') AND NOT contains(text, '{')
    AND len(ks) > 0),
cl AS (SELECT doc_id, trim(regexp_replace(regexp_replace(ft,
    '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
    '\\s+', ' ', 'g')) AS ct FROM fx),
rd AS (SELECT doc_id, regexp_replace(regexp_replace(ct,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS rt FROM cl),
b AS (SELECT doc_id, rt, string_split_regex(lower(trim(rt)), '\\s+') AS t,
    string_split(rt, chr(10)) AS ls FROM rd),
m AS (SELECT doc_id, rt, len(t)::BIGINT AS n_words,
  list_reduce(list_transform(t, w -> len(w)), (a,b) -> a+b)::DOUBLE / len(t) AS mwl,
  len(regexp_extract_all(rt, '#|\\.\\.\\.|…'))::DOUBLE / len(t) AS sym,
  len(list_filter(ls, l -> substring(trim(l),1,1) IN ('•','-','*')))::DOUBLE
    / len(ls) AS bf,
  len(list_filter(ls, l -> trim(l) LIKE '%...' OR trim(l) LIKE '%…'))::DOUBLE
    / len(ls) AS ef,
  len(list_filter(t, w -> regexp_matches(w, '[a-z]')))::DOUBLE / len(t) AS af,
  len(list_filter(['the','a'], w -> list_contains(t, w)))::BIGINT AS sh
  FROM b),
p AS (SELECT doc_id, rt, n_words FROM m
  WHERE n_words BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
    AND sym <= 0.1 AND bf <= 0.9 AND ef <= 0.3 AND af >= 0.8 AND sh >= 2),
d AS (SELECT doc_id, md5(rt) AS h, rt, n_words,
    row_number() OVER (PARTITION BY md5(rt) ORDER BY doc_id) AS rn,
    count(*) OVER (PARTITION BY md5(rt)) AS nd
  FROM p)
SELECT doc_id AS id, h AS content_hash, n_words AS n_tokens,
  nd::BIGINT AS n_dups, rt AS final_text
FROM d WHERE rn = 1 ORDER BY id"""

  /** Shared by p43 (batch) and p45 (streaming drain of the same
   * fused line-filter->Gopher chain). */
  private lazy val CurationChainOracle: String =
    s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
planted AS (SELECT doc_id,
    text || '.' || chr(10) || 'short line' || chr(10) ||
    'This line has exactly enough words to pass.'
    || CASE WHEN doc_id % 10 = 0
         THEN chr(10) || 'lorem ipsum dolor sit amet consectetur.' ELSE '' END
    || CASE WHEN doc_id % 7 = 0
         THEN chr(10) || 'function() { var x = 1; }' ELSE '' END AS text
  FROM documents),
lx AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM planted),
ft AS (SELECT doc_id, array_to_string(
    list_filter(ls, l -> len(regexp_split_to_array(trim(l), '\\s+')) >= 5
      AND substring(trim(l), length(trim(l)), 1) IN ('.', '!', '?', '"')),
    chr(10)) AS text
  FROM lx),
b AS (SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') AS t,
        string_split(text, chr(10)) AS ls FROM ft),
m AS (SELECT doc_id, len(t)::BIGINT AS n_words,
  list_reduce(list_transform(t, w -> len(w)), (a,b) -> a+b)::DOUBLE / len(t) AS mwl,
  len(regexp_extract_all(text, '#|\\.\\.\\.|…'))::DOUBLE / len(t) AS sym,
  len(list_filter(ls, l -> substring(trim(l),1,1) IN ('•','-','*')))::DOUBLE
    / len(ls) AS bf,
  len(list_filter(ls, l -> trim(l) LIKE '%...' OR trim(l) LIKE '%…'))::DOUBLE
    / len(ls) AS ef,
  len(list_filter(t, w -> regexp_matches(w, '[a-z]')))::DOUBLE / len(t) AS af,
  len(list_filter(['the','a'], w -> list_contains(t, w)))::BIGINT AS sh
  FROM b)
SELECT doc_id AS id, n_words, round(mwl, 6) AS mean_word_len,
  round(sym, 6) AS symbol_ratio, round(bf, 6) AS bullet_frac,
  round(ef, 6) AS ellipsis_frac, round(af, 6) AS alpha_frac,
  sh AS stop_hits,
  (n_words BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
   AND sym <= 0.1 AND bf <= 0.9 AND ef <= 0.3 AND af >= 0.8 AND sh >= 2)
    AS passes
FROM m ORDER BY id"""

  /** IVF top-k closed form, shared by p17 (batch) and p134 (streaming
   * serving drain): same trained coarse quantizer, same list
   * restriction, same exact ranking. */
  private lazy val IvfTopKOracle: String =
    s"""WITH $embCte,
$ivfCoarseCtes,
scored AS (
  SELECT pl.probe_id, a.neighbor_id,
         ${dotSql("pl.pv", "a.cv")} / (pl.pn * a.cn) AS cs
  FROM assigned a JOIN plists pl ON a.centroid_id = pl.centroid_id
  WHERE pl.probe_id <> a.neighbor_id),
ranked AS (
  SELECT probe_id, neighbor_id, cs,
         row_number() OVER (PARTITION BY probe_id
           ORDER BY cs DESC, neighbor_id) AS rank
  FROM scored)
SELECT probe_id, rank, neighbor_id, round(cs, 6) AS cosine
FROM ranked WHERE rank <= 10 ORDER BY probe_id, rank"""

  def oracleSql: Map[String, String] = Map(
    "p01_dedup_exact" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000, text FROM documents)
SELECT min(doc_id) AS doc_id, md5(text) AS content_hash, count(*) AS n_dups
FROM all_docs GROUP BY md5(text) ORDER BY doc_id""",

    "p02_ngram_jaccard" ->
      s"""WITH $docCtes,
ex0 AS (SELECT doc_id, unnest(s) AS shingle, len(s)::BIGINT AS n FROM sh),
hot AS (SELECT shingle FROM ex0 GROUP BY shingle HAVING count(*) > $MaxShingleFreq),
ex AS (SELECT * FROM ex0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
co AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c,
         any_value(a.n) AS na, any_value(b.n) AS nb
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, round(c::DOUBLE / (na + nb - c)::DOUBLE, 6) AS jaccard
FROM co WHERE c::DOUBLE / (na + nb - c)::DOUBLE >= 0.8
ORDER BY id_a, id_b""",

    "p03_minhash_lsh" ->
      s"""WITH $docCtes,
codes AS (
  SELECT doc_id,
         list_distinct(list_transform(s, x -> ('0x' || substring(md5(x),1,8))::BIGINT)) AS d
  FROM sh WHERE len(s) > 0),
sigs AS (SELECT doc_id, $sigSql AS sig FROM codes),
banded AS (
  SELECT doc_id, sig, bd,
         md5(array_to_string(list_slice(sig, bd*4+1, bd*4+4), ',')) AS bh
  FROM sigs, range(0,4) r(bd)),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_bands,
         any_value(a.sig) AS sa, any_value(b.sig) AS sb
  FROM banded a JOIN banded b ON a.bd = b.bd AND a.bh = b.bh AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, n_bands,
       len(list_filter(range(1,17), i -> sa[i] = sb[i]))::BIGINT AS n_agree
FROM cand
WHERE len(list_filter(range(1,17), i -> sa[i] = sb[i])) >= 8
ORDER BY id_a, id_b""",

    "p22_lsh_verified" ->
      s"""WITH $docCtes,
codes AS (
  SELECT doc_id,
         list_distinct(list_transform(s, x -> ('0x' || substring(md5(x),1,8))::BIGINT)) AS d
  FROM sh WHERE len(s) > 0),
sigs AS (SELECT doc_id, $sigSql AS sig FROM codes),
banded AS (
  SELECT doc_id, bd,
         md5(array_to_string(list_slice(sig, bd*4+1, bd*4+4), ',')) AS bh
  FROM sigs, range(0,4) r(bd)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.bd = b.bd AND a.bh = b.bh AND a.doc_id < b.doc_id),
ver AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(x.s, y.s))::BIGINT AS inter,
         len(x.s)::BIGINT AS na, len(y.s)::BIGINT AS nb
  FROM cand c JOIN sh x ON x.doc_id = c.id_a JOIN sh y ON y.doc_id = c.id_b)
SELECT id_a, id_b,
       round(inter::DOUBLE / (na + nb - inter)::DOUBLE, 6) AS jaccard
FROM ver WHERE inter::DOUBLE / (na + nb - inter)::DOUBLE >= 0.8
ORDER BY id_a, id_b""",

    "p04_simhash" ->
      s"""WITH $docCtes,
codes AS (SELECT doc_id,
  list_distinct(list_transform(s, x -> ('0x' || substring(md5(x),1,8))::BIGINT)) AS d
  FROM sh),
shs AS (SELECT doc_id,
  list_sum(list_transform(range(0,32), j -> CASE WHEN
    list_reduce([0]::BIGINT[] || list_transform(d, c ->
      CASE WHEN (c >> j) % 2 = 1 THEN 1 ELSE -1 END), (a,b) -> a+b) >= 0
    THEN (1::BIGINT << j) ELSE 0 END))::BIGINT AS simhash
  FROM codes),
banded AS (SELECT doc_id, simhash, bd, (simhash >> (bd*8)) % 256 AS band_byte
           FROM shs, range(0,4) r(bd)),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
  FROM banded a JOIN banded b
    ON a.bd = b.bd AND a.band_byte = b.band_byte AND a.doc_id < b.doc_id)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
ORDER BY id_a, id_b""",

    "p16_dedup_clusters" ->
      s"""WITH RECURSIVE $docCtes,
ex0 AS (SELECT doc_id, unnest(s) AS shingle, len(s)::BIGINT AS n FROM sh),
hot AS (SELECT shingle FROM ex0 GROUP BY shingle HAVING count(*) > $MaxShingleFreq),
ex AS (SELECT * FROM ex0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
co AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c,
         any_value(a.n) AS na, any_value(b.n) AS nb
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
prs AS (SELECT id_a, id_b FROM co
        WHERE c::DOUBLE / (na + nb - c)::DOUBLE >= 0.8),
verts AS (SELECT DISTINCT id FROM
          (SELECT id_a AS id FROM prs UNION ALL SELECT id_b FROM prs)),
adj AS (SELECT id_a AS src, id_b AS dst FROM prs
        UNION ALL SELECT id_b, id_a FROM prs),
reach(id, r) AS (
  SELECT id, id FROM verts
  UNION
  SELECT e.src, r.r FROM reach r JOIN adj e ON e.dst = r.id)
SELECT id, min(r) AS cluster_rep FROM reach GROUP BY id ORDER BY id""",

    "p19_dedup_apply" ->
      s"""WITH RECURSIVE $docCtes,
ex0 AS (SELECT doc_id, unnest(s) AS shingle, len(s)::BIGINT AS n FROM sh),
hot AS (SELECT shingle FROM ex0 GROUP BY shingle HAVING count(*) > $MaxShingleFreq),
ex AS (SELECT * FROM ex0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
co AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c,
         any_value(a.n) AS na, any_value(b.n) AS nb
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
prs AS (SELECT id_a, id_b FROM co
        WHERE c::DOUBLE / (na + nb - c)::DOUBLE >= 0.8),
verts AS (SELECT DISTINCT id FROM
          (SELECT id_a AS id FROM prs UNION ALL SELECT id_b FROM prs)),
adj AS (SELECT id_a AS src, id_b AS dst FROM prs
        UNION ALL SELECT id_b, id_a FROM prs),
reach(id, r) AS (
  SELECT id, id FROM verts
  UNION
  SELECT e.src, r.r FROM reach r JOIN adj e ON e.dst = r.id),
cl AS (SELECT id, min(r) AS cluster_rep FROM reach GROUP BY id)
SELECT d.doc_id, d.lang, d.source, d.n_chars,
       (cl.id IS NOT NULL) AS is_cluster_rep
FROM documents d LEFT JOIN cl ON d.doc_id = cl.id
WHERE cl.id IS NULL OR cl.cluster_rep = d.doc_id
ORDER BY d.doc_id""",

    "p20_stratified_sample" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
cnt AS (SELECT lang, count(*) AS n_stratum FROM documents GROUP BY lang),
h AS (SELECT d.doc_id, d.lang, c.n_stratum,
        ('0x' || substring(md5(d.doc_id::VARCHAR),1,8))::BIGINT % $SampleHashMod AS hm
      FROM documents d JOIN cnt c USING (lang)),
pf AS (SELECT * FROM h
       WHERE hm * n_stratum < $SampleHashMod::BIGINT * ${SamplePerStratum * SampleOverSample}),
r AS (SELECT doc_id, lang, n_stratum,
        row_number() OVER (PARTITION BY lang ORDER BY hm, doc_id)::BIGINT
          AS sample_rank
      FROM pf)
SELECT doc_id, lang, n_stratum, sample_rank FROM r
WHERE sample_rank <= $SamplePerStratum ORDER BY lang, sample_rank""",

    "p21_pack" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
t AS (SELECT doc_id, doc_id % 8 AS shard,
        len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]'))::BIGINT
          AS n_tokens
      FROM documents),
c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens FROM t)
SELECT doc_id, shard, n_tokens, cum_tokens,
       (cum_tokens - n_tokens) // 512 AS pack_id
FROM c ORDER BY doc_id""",

    "p52_pack_stats" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
t AS (SELECT doc_id, doc_id % 8 AS shard,
        len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]'))::BIGINT
          AS n_tokens
      FROM documents),
c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens FROM t),
p AS (SELECT shard, (cum_tokens - n_tokens) // 512 AS pack_id,
        doc_id, n_tokens FROM c)
SELECT shard, pack_id, count(*)::BIGINT AS n_docs,
  sum(n_tokens)::BIGINT AS pack_tokens,
  min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM p GROUP BY shard, pack_id ORDER BY shard, pack_id""",

    "p17_ann_ivf" -> IvfTopKOracle,

    // p134: SHARES p17's oracle — the probe stream served against the
    // published static index must land on EXACTLY the batch IVF rows
    // (train-once/serve-forever, the p73/p67 batch ≡ streaming
    // convention).
    "p134_streaming_ann" -> IvfTopKOracle,

    "p34_semdedup" ->
      s"""WITH $embCte,
$ivfCoarseCtes,
prs AS (
  SELECT a.neighbor_id AS ia, b.neighbor_id AS ib
  FROM assigned a JOIN assigned b ON a.centroid_id = b.centroid_id
  WHERE a.neighbor_id < b.neighbor_id
    AND ${dotSql("a.cv", "b.cv")} / (a.cn * b.cn) >= 0.4),
dr AS (SELECT ib AS id, min(ia) AS dup_of FROM prs GROUP BY ib)
SELECT a.neighbor_id AS id, a.centroid_id, dr.id IS NULL AS kept, dr.dup_of
FROM assigned a LEFT JOIN dr ON a.neighbor_id = dr.id
ORDER BY id""",

    "p46_semdedup_capped" ->
      s"""WITH $embCte,
$ivfCoarseCtes,
rnk AS (SELECT *, row_number() OVER (PARTITION BY centroid_id
    ORDER BY ccos DESC, neighbor_id ASC)::BIGINT AS rk FROM assigned),
ba AS (SELECT centroid_id, neighbor_id, cv, cn, rk, band
       FROM rnk, unnest([(rk // 16), (rk // 16) + 1]) AS u(band)),
bb AS (SELECT centroid_id, neighbor_id, cv, cn, rk, band
       FROM rnk, unnest([(rk // 16), (rk // 16) + 1]) AS u(band)),
prs AS (
  SELECT a.neighbor_id AS ia, b.neighbor_id AS ib
  FROM ba a JOIN bb b ON a.centroid_id = b.centroid_id AND a.band = b.band
  WHERE abs(a.rk - b.rk) <= 16 AND a.neighbor_id < b.neighbor_id
    AND ${dotSql("a.cv", "b.cv")} / (a.cn * b.cn) >= 0.4),
dr AS (SELECT ib AS id, min(ia) AS dup_of FROM prs GROUP BY ib)
SELECT a.neighbor_id AS id, a.centroid_id, dr.id IS NULL AS kept, dr.dup_of
FROM assigned a LEFT JOIN dr ON a.neighbor_id = dr.id
ORDER BY id""",

    "p38_ann_sq8" ->
      s"""WITH $embCte,
$sqCtes,
scored AS (SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
    ${l2Sql("p.v", "e.dv", 64)} AS sq
  FROM sqdeq e, emb p WHERE p.vec_id < 5 AND p.vec_id <> e.vec_id),
ranked AS (SELECT probe_id, neighbor_id, sq,
    row_number() OVER (PARTITION BY probe_id
      ORDER BY sq ASC, neighbor_id ASC) AS rank
  FROM scored)
SELECT probe_id, rank, neighbor_id, round(sq, 6) AS sq_dist
FROM ranked WHERE rank <= 10 ORDER BY probe_id, rank""",

    "p44_ann_ivfsq" ->
      s"""WITH $embCte,
$ivfCoarseCtes,
$sqCtes,
scored AS (SELECT pl.probe_id, e.vec_id AS neighbor_id,
    ${l2Sql("pl.pv", "e.dv", 64)} AS sq
  FROM sqdeq e
  JOIN assigned a ON a.neighbor_id = e.vec_id
  JOIN plists pl ON a.centroid_id = pl.centroid_id
  WHERE pl.probe_id <> e.vec_id),
ranked AS (SELECT probe_id, neighbor_id, sq,
    row_number() OVER (PARTITION BY probe_id
      ORDER BY sq ASC, neighbor_id ASC) AS rank
  FROM scored)
SELECT probe_id, rank, neighbor_id, round(sq, 6) AS sq_dist
FROM ranked WHERE rank <= 10 ORDER BY probe_id, rank""",

    "p28_ann_ivfpq" -> {
      val subspaces = (0 until 8).map(s => pqSubCtes(s)).mkString(",\n")
      val cbls = (0 until 8).map(s => s"cbl$s").mkString(", ")
      def codeExpr(vref: String, s: Int): String = {
        val sub = s"list_slice($vref, ${s * 8 + 1}, ${s * 8 + 8})"
        val dl = s"list_transform(cbl$s.l, c -> ${l2Sql(sub, "c")})"
        s"(list_position($dl, list_min($dl)) - 1)"
      }
      val codes = (0 until 8).map(s => codeExpr("e.v", s)).mkString("[\n    ", ",\n    ", "]")
      val dtables = (0 until 8).map { s =>
        val sub = s"list_slice(p.v, ${s * 8 + 1}, ${s * 8 + 8})"
        s"list_transform(cbl$s.l, c -> ${l2Sql(sub, "c")})"
      }.mkString("[\n    ", ",\n    ", "]")
      s"""WITH $embCte,
$ivfCoarseCtes,
$subspaces,
enc AS (SELECT e.vec_id, $codes AS codes FROM emb e, $cbls),
pdt AS (SELECT p.vec_id AS probe_id, $dtables AS dt
        FROM emb p, $cbls WHERE p.vec_id < 5),
scored AS (
  SELECT pl.probe_id, e.vec_id AS neighbor_id,
    list_reduce([0.0]::DOUBLE[] ||
      list_transform(range(1,9), s -> pd.dt[s][e.codes[s] + 1]),
      (x,y) -> x+y) AS adc
  FROM enc e
  JOIN assigned a ON a.neighbor_id = e.vec_id
  JOIN plists pl ON a.centroid_id = pl.centroid_id
  JOIN pdt pd ON pd.probe_id = pl.probe_id
  WHERE pl.probe_id <> e.vec_id),
ranked AS (
  SELECT probe_id, neighbor_id, adc,
         row_number() OVER (PARTITION BY probe_id
           ORDER BY adc ASC, neighbor_id ASC) AS rank
  FROM scored)
SELECT probe_id, rank, neighbor_id, round(adc, 6) AS adc_dist
FROM ranked WHERE rank <= 10 ORDER BY probe_id, rank"""
    },

    "p27_ann_pq" -> {
      val subspaces = (0 until 8).map(s => pqSubCtes(s)).mkString(",\n")
      val cbls = (0 until 8).map(s => s"cbl$s").mkString(", ")
      def codeExpr(vref: String, s: Int): String = {
        val sub = s"list_slice($vref, ${s * 8 + 1}, ${s * 8 + 8})"
        val dl = s"list_transform(cbl$s.l, c -> ${l2Sql(sub, "c")})"
        s"(list_position($dl, list_min($dl)) - 1)"
      }
      val codes = (0 until 8).map(s => codeExpr("e.v", s)).mkString("[\n    ", ",\n    ", "]")
      val dtables = (0 until 8).map { s =>
        val sub = s"list_slice(p.v, ${s * 8 + 1}, ${s * 8 + 8})"
        s"list_transform(cbl$s.l, c -> ${l2Sql(sub, "c")})"
      }.mkString("[\n    ", ",\n    ", "]")
      s"""WITH $embCte,
$subspaces,
enc AS (SELECT e.vec_id, $codes AS codes FROM emb e, $cbls),
pdt AS (SELECT p.vec_id AS probe_id, $dtables AS dt
        FROM emb p, $cbls WHERE p.vec_id < 5),
scored AS (
  SELECT pd.probe_id, e.vec_id AS neighbor_id,
    list_reduce([0.0]::DOUBLE[] ||
      list_transform(range(1,9), s -> pd.dt[s][e.codes[s] + 1]),
      (x,y) -> x+y) AS adc
  FROM enc e CROSS JOIN pdt pd WHERE pd.probe_id <> e.vec_id),
ranked AS (
  SELECT probe_id, neighbor_id, adc,
         row_number() OVER (PARTITION BY probe_id
           ORDER BY adc ASC, neighbor_id ASC) AS rank
  FROM scored)
SELECT probe_id, rank, neighbor_id, round(adc, 6) AS adc_dist
FROM ranked WHERE rank <= 10 ORDER BY probe_id, rank"""
    },

    "p30_ann_pq_rerank" -> {
      val subspaces = (0 until 8).map(s => pqSubCtes(s)).mkString(",\n")
      val cbls = (0 until 8).map(s => s"cbl$s").mkString(", ")
      def codeExpr(vref: String, s: Int): String = {
        val sub = s"list_slice($vref, ${s * 8 + 1}, ${s * 8 + 8})"
        val dl = s"list_transform(cbl$s.l, c -> ${l2Sql(sub, "c")})"
        s"(list_position($dl, list_min($dl)) - 1)"
      }
      val codes = (0 until 8).map(s => codeExpr("e.v", s)).mkString("[\n    ", ",\n    ", "]")
      val dtables = (0 until 8).map { s =>
        val sub = s"list_slice(p.v, ${s * 8 + 1}, ${s * 8 + 8})"
        s"list_transform(cbl$s.l, c -> ${l2Sql(sub, "c")})"
      }.mkString("[\n    ", ",\n    ", "]")
      s"""WITH $embCte,
$subspaces,
enc AS (SELECT e.vec_id, $codes AS codes FROM emb e, $cbls),
pdt AS (SELECT p.vec_id AS probe_id, $dtables AS dt
        FROM emb p, $cbls WHERE p.vec_id < 5),
scored AS (
  SELECT pd.probe_id, e.vec_id AS neighbor_id,
    list_reduce([0.0]::DOUBLE[] ||
      list_transform(range(1,9), s -> pd.dt[s][e.codes[s] + 1]),
      (x,y) -> x+y) AS adc
  FROM enc e CROSS JOIN pdt pd WHERE pd.probe_id <> e.vec_id),
cand AS (
  SELECT probe_id, neighbor_id FROM (
    SELECT probe_id, neighbor_id,
           row_number() OVER (PARTITION BY probe_id
             ORDER BY adc ASC, neighbor_id ASC) AS rank
    FROM scored) WHERE rank <= 100),
ex AS (
  SELECT c.probe_id, c.neighbor_id, ${l2Sql("p.v", "e.v", 64)} AS d
  FROM cand c
  JOIN emb e ON e.vec_id = c.neighbor_id
  JOIN emb p ON p.vec_id = c.probe_id),
rr AS (
  SELECT probe_id, neighbor_id, d,
         row_number() OVER (PARTITION BY probe_id
           ORDER BY d ASC, neighbor_id ASC) AS rank
  FROM ex)
SELECT probe_id, rank, neighbor_id, round(d, 6) AS l2_dist
FROM rr WHERE rank <= 10 ORDER BY probe_id, rank"""
    },

    "p31_ann_ivfpq_residual" -> {
      val subspaces = (0 until 8).map(s => pqSubCtes(s, "rsamp")).mkString(",\n")
      val cbls = (0 until 8).map(s => s"cbl$s").mkString(", ")
      def codeExpr(vref: String, s: Int): String = {
        val sub = s"list_slice($vref, ${s * 8 + 1}, ${s * 8 + 8})"
        val dl = s"list_transform(cbl$s.l, c -> ${l2Sql(sub, "c")})"
        s"(list_position($dl, list_min($dl)) - 1)"
      }
      val codes = (0 until 8).map(s => codeExpr("r.v", s)).mkString("[\n    ", ",\n    ", "]")
      val dtables = (0 until 8).map { s =>
        val sub = s"list_slice(p.v, ${s * 8 + 1}, ${s * 8 + 8})"
        s"list_transform(cbl$s.l, c -> ${l2Sql(sub, "c")})"
      }.mkString("[\n    ", ",\n    ", "]")
      s"""WITH $embCte,
$ivfCoarseCtes,
rsamp AS (
  SELECT s.vec_id, list_transform(range(1,65), i -> s.v[i] - c.centv[i]) AS v
  FROM samp s
  JOIN assigned a ON a.neighbor_id = s.vec_id
  JOIN cents c ON c.centroid_id = a.centroid_id),
$subspaces,
rcorp AS (
  SELECT a.neighbor_id AS vec_id, a.centroid_id,
         list_transform(range(1,65), i -> a.cv[i] - c.centv[i]) AS v
  FROM assigned a JOIN cents c ON c.centroid_id = a.centroid_id),
enc AS (SELECT r.vec_id, r.centroid_id, $codes AS codes FROM rcorp r, $cbls),
pres AS (
  SELECT pl.probe_id, pl.centroid_id,
         list_transform(range(1,65), i -> pl.pv[i] - c.centv[i]) AS v
  FROM plists pl JOIN cents c ON c.centroid_id = pl.centroid_id),
pdt AS (SELECT p.probe_id, p.centroid_id, $dtables AS dt FROM pres p, $cbls),
scored AS (
  SELECT pd.probe_id, e.vec_id AS neighbor_id,
    list_reduce([0.0]::DOUBLE[] ||
      list_transform(range(1,9), s -> pd.dt[s][e.codes[s] + 1]),
      (x,y) -> x+y) AS adc
  FROM enc e JOIN pdt pd ON pd.centroid_id = e.centroid_id
  WHERE pd.probe_id <> e.vec_id),
ranked AS (
  SELECT probe_id, neighbor_id, adc,
         row_number() OVER (PARTITION BY probe_id
           ORDER BY adc ASC, neighbor_id ASC) AS rank
  FROM scored)
SELECT probe_id, rank, neighbor_id, round(adc, 6) AS adc_dist
FROM ranked WHERE rank <= 10 ORDER BY probe_id, rank"""
    },

    "p05_embed_dup" ->
      s"""WITH $embCte,
n AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM emb),
cb AS (SELECT vec_id, v, nrm, t, ${bucketSql("v", "t")} AS bucket
       FROM n, range(0,4) r(t)),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM cb a JOIN cb b ON a.t = b.t AND a.bucket = b.bucket
  WHERE a.vec_id < b.vec_id),
pairs AS (
  SELECT c.id_a, c.id_b, ${dotSql("x.v", "y.v")} / (x.nrm * y.nrm) AS cs
  FROM cand c JOIN n x ON x.vec_id = c.id_a JOIN n y ON y.vec_id = c.id_b)
SELECT id_a, id_b, round(cs, 6) AS cosine FROM pairs WHERE cs >= 0.4
ORDER BY id_a, id_b""",

    "p06_ann_topk" ->
      s"""WITH $embCte,
n AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM emb),
p AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pn FROM n WHERE vec_id < 5),
scored AS (
  SELECT p.probe_id, n.vec_id AS neighbor_id,
         ${dotSql("p.pv", "n.v")} / (p.pn * n.nrm) AS cs
  FROM n CROSS JOIN p WHERE p.probe_id <> n.vec_id),
ranked AS (
  SELECT probe_id, neighbor_id, cs,
         row_number() OVER (PARTITION BY probe_id ORDER BY cs DESC, neighbor_id) AS rank
  FROM scored)
SELECT probe_id, rank, neighbor_id, round(cs, 6) AS cosine
FROM ranked WHERE rank <= 10 ORDER BY probe_id, rank""",

    "p07_ann_lsh" ->
      s"""WITH $embCte,
n AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM emb),
cb AS (SELECT vec_id, v, nrm, t, ${bucketSql("v", "t")} AS bucket
       FROM n, range(0,2) r(t)),
pb AS (SELECT * FROM cb WHERE vec_id < 5),
cand AS (
  SELECT DISTINCT pb.vec_id AS probe_id, cb.vec_id AS neighbor_id
  FROM cb JOIN pb ON cb.t = pb.t AND cb.bucket = pb.bucket
  WHERE pb.vec_id <> cb.vec_id),
scored AS (
  SELECT c.probe_id, c.neighbor_id,
         ${dotSql("p.v", "q.v")} / (p.nrm * q.nrm) AS cs
  FROM cand c JOIN n p ON p.vec_id = c.probe_id
              JOIN n q ON q.vec_id = c.neighbor_id),
ranked AS (
  SELECT probe_id, neighbor_id, cs,
         row_number() OVER (PARTITION BY probe_id ORDER BY cs DESC, neighbor_id) AS rank
  FROM scored)
SELECT probe_id, rank, neighbor_id, round(cs, 6) AS cosine
FROM ranked WHERE rank <= 10 ORDER BY probe_id, rank""",

    "p23_clean" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
dirty AS (SELECT doc_id,
            '  ' || text || chr(9) || ' mid  gap ' || chr(7) || chr(7) || ' end  ' AS text
          FROM documents),
cl AS (SELECT doc_id, text,
         trim(regexp_replace(regexp_replace(text,
           '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
           '\\s+', ' ', 'g')) AS clean_text
       FROM dirty)
SELECT doc_id AS id, clean_text,
       (length(text) - length(clean_text))::BIGINT AS n_chars_removed
FROM cl ORDER BY id""",

    "p42_streaming_curation" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
dirty AS (SELECT doc_id,
    '  ' || text
    || CASE WHEN doc_id % 10 = 0
         THEN ' contact u' || doc_id || '@example.com or 555-123-4567 now'
         ELSE '' END
    || chr(9) || ' mid  gap ' || chr(7) || chr(7) || ' end  ' AS text
  FROM documents),
cl AS (SELECT doc_id, trim(regexp_replace(regexp_replace(text,
    '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
    '\\s+', ' ', 'g')) AS ct
  FROM dirty)
SELECT doc_id AS id,
  regexp_replace(regexp_replace(ct,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted_text,
  len(regexp_extract_all(ct,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
  len(regexp_extract_all(ct,
    '[0-9]{3}-[0-9]{3}-[0-9]{4}'))::BIGINT AS n_phones
FROM cl ORDER BY id""",

    "p24_redact" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
dirty AS (SELECT doc_id,
            CASE WHEN doc_id % 10 = 0
              THEN text || ' contact u' || doc_id || '@example.com or 555-123-4567 now'
              ELSE text END AS text
          FROM documents)
SELECT doc_id AS id,
  regexp_replace(regexp_replace(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted_text,
  len(regexp_extract_all(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
  len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}'))::BIGINT AS n_phones
FROM dirty ORDER BY id""",

    "p25_repetition" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
tokr AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents),
shr AS (SELECT doc_id, list_transform(range(1, len(t)-1),
          i -> array_to_string(list_slice(t, i, i+2), ' ')) AS s
        FROM tokr WHERE len(t) >= 3),
cnt AS (SELECT doc_id, shingle, count(*) AS c
        FROM (SELECT doc_id, unnest(s) AS shingle FROM shr)
        GROUP BY doc_id, shingle)
SELECT doc_id AS id, sum(c)::BIGINT AS n_shingles, max(c)::BIGINT AS top_count,
       round(max(c)::DOUBLE / sum(c)::DOUBLE, 6) AS top_shingle_ratio
FROM cnt GROUP BY doc_id ORDER BY id""",

    "p33_paragraph_dedup" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
planted AS (SELECT doc_id,
    text || chr(10) || 'Subscribe to our newsletter for updates.'
    || CASE WHEN doc_id % 5 = 0
         THEN chr(10) || 'All rights reserved worldwide.' ELSE '' END AS text
  FROM documents),
lx AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM planted),
px AS (SELECT doc_id, z[2]::BIGINT - 1 AS idx, z[1] AS p
       FROM (SELECT doc_id, unnest(list_zip(ls, range(1, len(ls) + 1))) AS z
             FROM lx)),
rx AS (SELECT doc_id, idx, p,
         row_number() OVER (PARTITION BY md5(p)
           ORDER BY doc_id, idx) AS rn
       FROM px)
SELECT doc_id AS id, count(*)::BIGINT AS n_paragraphs,
  sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
  coalesce(array_to_string(list(p ORDER BY idx) FILTER (WHERE rn = 1), chr(10)), '')
    AS text_deduped
FROM rx GROUP BY doc_id ORDER BY id""",

    "p32_c4_filter" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
planted AS (SELECT doc_id,
    text || chr(10) || 'short line' || chr(10) ||
    'This line has exactly enough words to pass.'
    || CASE WHEN doc_id % 10 = 0
         THEN chr(10) || 'lorem ipsum dolor sit amet consectetur.' ELSE '' END
    || CASE WHEN doc_id % 7 = 0
         THEN chr(10) || 'function() { var x = 1; }' ELSE '' END AS text
  FROM documents),
lx AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM planted),
kx AS (SELECT doc_id, text, ls,
  list_filter(ls, l -> len(regexp_split_to_array(trim(l), '\\s+')) >= 5
    AND substring(trim(l), length(trim(l)), 1) IN ('.', '!', '?', '"')) AS ks
  FROM lx)
SELECT doc_id AS id, len(ls)::BIGINT AS n_lines, len(ks)::BIGINT AS n_kept,
  contains(lower(text), 'lorem ipsum') AS has_lorem,
  contains(text, '{') AS has_braces,
  array_to_string(ks, chr(10)) AS filtered_text
FROM kx ORDER BY id""",

    "p36_dup_spans" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
planted AS (SELECT doc_id, text || CASE WHEN doc_id % 3 = 0
    THEN ' $DupSpanPlant' ELSE '' END AS text FROM documents),
cod AS (SELECT doc_id,
    list_transform(string_split_regex(lower(trim(text)), '\\s+'),
      x -> ('0x' || substring(md5(x),1,8))::BIGINT) AS c
  FROM planted),
wx AS (SELECT doc_id, unnest(list_transform(range(1, len(c) - $DupSpanW + 2),
    i -> list_reduce([0]::BIGINT[] || list_slice(c, i, i + ${DupSpanW - 1}),
      (a,b) -> (a*131 + b % $HashMod) % $HashMod))) AS h
  FROM cod WHERE len(c) >= $DupSpanW),
nw AS (SELECT doc_id, greatest(len(c) - ${DupSpanW - 1}, 0)::BIGINT AS n_windows
       FROM cod),
df AS (SELECT h FROM wx GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
per AS (SELECT wx.doc_id, count(*)::BIGINT AS n_dup
        FROM wx JOIN df USING (h) GROUP BY wx.doc_id)
SELECT nw.doc_id AS id, nw.n_windows,
  coalesce(per.n_dup, 0)::BIGINT AS n_dup_windows,
  round(CASE WHEN nw.n_windows > 0
    THEN coalesce(per.n_dup, 0)::DOUBLE / nw.n_windows ELSE 0.0 END, 6)
    AS dup_window_frac
FROM nw LEFT JOIN per USING (doc_id) ORDER BY id""",

    // Same hash grid as p36; coverage = union of [s, s+w) over
    // duplicated starts (1-based here, 0-based on the Spark side —
    // both self-consistent, so kept tokens agree).
    "p48_span_dedup_apply" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
planted AS (SELECT doc_id, text || CASE WHEN doc_id % 3 = 0
    THEN ' $DupSpanPlant' ELSE '' END AS text FROM documents),
tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
  FROM planted),
cod AS (SELECT doc_id, tk,
    list_transform(tk, x -> ('0x' || substring(md5(x),1,8))::BIGINT) AS c
  FROM tok),
wx AS (SELECT doc_id, unnest(list_transform(range(1, len(c) - $DupSpanW + 2),
    i -> list_reduce([0]::BIGINT[] || list_slice(c, i, i + ${DupSpanW - 1}),
      (a,b) -> (a*131 + b % $HashMod) % $HashMod))) AS h,
    unnest(range(1, len(c) - $DupSpanW + 2)) AS s
  FROM cod WHERE len(c) >= $DupSpanW),
df AS (SELECT h FROM wx GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
st AS (SELECT doc_id, list_distinct(flatten(list_transform(list(s),
      st2 -> range(st2, st2 + $DupSpanW)))) AS cov
  FROM wx JOIN df USING (h) GROUP BY doc_id),
fx AS (SELECT tok.doc_id, tk,
    list_filter(tk, (x, i) -> NOT list_contains(coalesce(cov, []), i)) AS kept
  FROM tok LEFT JOIN st ON tok.doc_id = st.doc_id)
SELECT doc_id AS id, len(tk)::BIGINT AS n_tokens,
  (len(tk) - len(kept))::BIGINT AS n_removed,
  coalesce(array_to_string(kept, ' '), '') AS clean_text
FROM fx ORDER BY id""",

    "p49_incremental_dedup" ->
      s"""WITH $IncrementalFixtureSql,
ch AS (SELECT DISTINCT md5(text) AS h FROM corpus),
bh AS (SELECT doc_id AS id, md5(text) AS h FROM batch),
fx AS (SELECT id, h IN (SELECT h FROM ch) AS in_corpus,
    row_number() OVER (PARTITION BY h ORDER BY id) > 1 AS batch_dup
  FROM bh)
SELECT id, in_corpus, batch_dup,
  (NOT in_corpus AND NOT batch_dup) AS kept
FROM fx ORDER BY id""",

    "p53_streaming_incremental" ->
      s"""WITH $IncrementalFixtureSql,
ch AS (SELECT DISTINCT md5(text) AS h FROM corpus)
SELECT doc_id AS id, md5(text) IN (SELECT h FROM ch) AS in_corpus
FROM batch ORDER BY id""",

    // MinHash/banding CTEs are the p03 oracle's, instantiated per side
    // of the corpus/batch frontier.
    "p51_incremental_neardup" -> {
      def side(src: String, p: String): String =
        s"""${p}t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM $src),
${p}sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1),
    i -> array_to_string(list_slice(t, i, i+2), ' '))) AS s
  FROM ${p}t WHERE len(t) >= 3),
${p}codes AS (SELECT doc_id,
    list_distinct(list_transform(s, x -> ('0x' || substring(md5(x),1,8))::BIGINT)) AS d
  FROM ${p}sh WHERE len(s) > 0),
${p}sigs AS (SELECT doc_id, $sigSql AS sig FROM ${p}codes),
${p}band AS (SELECT doc_id, sig, bd,
    md5(array_to_string(list_slice(sig, bd*4+1, bd*4+4), ',')) AS bh
  FROM ${p}sigs, range(0,4) r(bd))"""
      s"""WITH $IncrementalFixtureSql,
${side("corpus", "c")},
${side("batch", "b")},
chit AS (SELECT DISTINCT b.doc_id AS id
  FROM bband b JOIN cband c ON b.bd = c.bd AND b.bh = c.bh
  WHERE len(list_filter(range(1,17), i -> b.sig[i] = c.sig[i])) >= 8),
bhit AS (SELECT DISTINCT b.doc_id AS id
  FROM bband b JOIN bband a ON b.bd = a.bd AND b.bh = a.bh
    AND a.doc_id < b.doc_id
  WHERE len(list_filter(range(1,17), i -> a.sig[i] = b.sig[i])) >= 8)
SELECT batch.doc_id AS id,
  batch.doc_id IN (SELECT id FROM chit) AS corpus_dup,
  batch.doc_id IN (SELECT id FROM bhit) AS batch_dup,
  (batch.doc_id NOT IN (SELECT id FROM chit)
    AND batch.doc_id NOT IN (SELECT id FROM bhit)) AS kept
FROM batch ORDER BY id"""
    },

    // CTE chain assembled from the verified stage twins (p32 line
    // filter, p23 clean, p24 redact, p35 gopher, p01 dedup) in the same
    // production order as Corpus.curationPipeline.
    "p50_curation_pipeline" -> CurationPipelineOracle,
    "p58_streaming_pipeline" -> CurationPipelineOracle,
    // p75: the update-mode drain folds to the SAME final state
    "p75_streaming_update_dedup" -> CurationPipelineOracle,


    "p41_bpe" -> s"""WITH $BpeOracleCtes
SELECT t.doc_id AS id, coalesce(per.n_words, 0)::BIGINT AS n_words,
  coalesce(per.n_subwords, 0)::BIGINT AS n_subwords,
  round(CASE WHEN coalesce(per.n_words, 0) > 0
    THEN per.n_subwords::DOUBLE / per.n_words ELSE 0.0 END, 6)
    AS subwords_per_word
FROM tok t LEFT JOIN per USING (doc_id) ORDER BY id""",

    // p141: the byte-level chain through the SAME parametrized replay
    // CTEs — pretokenizer, space→Ġ mapping, training stages, and the
    // encode fold all re-derived in SQL; n_bytes is the mapped string's
    // char length (one alphabet char per UTF-8 byte by construction).
    "p141_bpe_bytes" -> s"""WITH $BpeBytesOracleCtes,
nb AS (SELECT doc_id,
         coalesce(list_sum(list_transform(ws, x -> length(x))), 0)::BIGINT
           AS n_bytes
       FROM tok)
SELECT t.doc_id AS id, coalesce(per.n_words, 0)::BIGINT AS n_pretokens,
  coalesce(per.n_subwords, 0)::BIGINT AS n_subwords, nb.n_bytes,
  round(CASE WHEN coalesce(per.n_words, 0) > 0
    THEN per.n_subwords::DOUBLE / per.n_words ELSE 0.0 END, 6)
    AS subwords_per_pretoken,
  round(CASE WHEN nb.n_bytes > 0
    THEN per.n_subwords::DOUBLE / nb.n_bytes ELSE 0.0 END, 6)
    AS subwords_per_byte
FROM tok t LEFT JOIN per USING (doc_id) JOIN nb USING (doc_id)
ORDER BY id""",

    // p144: p141's byte-level chain aggregated per language — the tok
    // CTE already carries mapped pretokens whose char length IS the
    // byte count, so n_bytes sums length(x) exactly like the Spark
    // side's octet_length over raw pretokens.
    "p144_fertility_bytes" -> s"""WITH $BpeBytesOracleCtes,
nb AS (SELECT doc_id,
         coalesce(list_sum(list_transform(ws, x -> length(x))), 0)::BIGINT
           AS n_bytes
       FROM tok),
agg AS (SELECT d.lang, count(*) AS n_docs,
          sum(coalesce(per.n_words, 0)) AS n_pretokens,
          sum(coalesce(per.n_subwords, 0)) AS n_subwords,
          sum(nb.n_bytes) AS n_bytes
        FROM documents d
        LEFT JOIN per ON d.doc_id = per.doc_id
        JOIN nb ON d.doc_id = nb.doc_id
        GROUP BY d.lang)
SELECT lang, n_docs::BIGINT AS n_docs, n_pretokens::BIGINT AS n_pretokens,
  n_subwords::BIGINT AS n_subwords, n_bytes::BIGINT AS n_bytes,
  round(CASE WHEN n_pretokens > 0 THEN n_subwords::DOUBLE / n_pretokens
    ELSE 0.0 END, 6) AS fertility_pretoken,
  round(CASE WHEN n_bytes > 0 THEN n_subwords::DOUBLE / n_bytes
    ELSE 0.0 END, 6) AS fertility_byte
FROM agg ORDER BY lang""",

    // p115: the SAME trained-BPE chain aggregated per language —
    // ratios computed AFTER the language sums, exactly as the Spark
    // side does, so the two engines divide identical exact integers.
    "p115_token_fertility" -> s"""WITH $BpeOracleCtes,
chars AS (SELECT doc_id,
            coalesce(list_sum(list_transform(ws, x -> len(x))), 0)::BIGINT AS nc
          FROM tok),
agg AS (SELECT d.lang, count(*) AS n_docs,
          sum(coalesce(per.n_words, 0)) AS n_words,
          sum(coalesce(per.n_subwords, 0)) AS n_subwords,
          sum(c.nc) AS n_chars
        FROM documents d
        LEFT JOIN per ON d.doc_id = per.doc_id
        JOIN chars c ON d.doc_id = c.doc_id
        GROUP BY d.lang)
SELECT lang, n_docs::BIGINT AS n_docs, n_words::BIGINT AS n_words,
  n_subwords::BIGINT AS n_subwords, n_chars::BIGINT AS n_chars,
  round(CASE WHEN n_words > 0 THEN n_subwords::DOUBLE / n_words
    ELSE 0.0 END, 6) AS fertility_word,
  round(CASE WHEN n_chars > 0 THEN n_subwords::DOUBLE / n_chars
    ELSE 0.0 END, 6) AS fertility_char
FROM agg ORDER BY lang""",

    "p37_unigram" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents),
cnt AS (SELECT tok, count(*)::BIGINT AS c
        FROM (SELECT unnest(t) AS tok FROM tok) GROUP BY tok),
tot AS (SELECT sum(c)::BIGINT AS total FROM cnt),
topv AS (SELECT tok, c FROM cnt ORDER BY c DESC, tok LIMIT 24),
vm AS (SELECT map(list(tok ORDER BY c DESC, tok),
         list(c::DOUBLE / (SELECT total FROM tot) ORDER BY c DESC, tok)) AS m
       FROM topv)
SELECT doc_id AS id, len(t)::BIGINT AS n_tokens,
  len(list_filter(t, x -> m[x][1] IS NULL))::BIGINT AS n_oov,
  round(len(list_filter(t, x -> m[x][1] IS NULL))::DOUBLE / len(t), 6)
    AS oov_frac,
  round(list_reduce([0.0]::DOUBLE[] ||
      list_transform(t, x -> coalesce(m[x][1], 0.0)), (a,b) -> a+b)
    / len(t), 9) AS avg_freq
FROM tok, vm ORDER BY id""",

    "p55_bigram" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents),
bg AS (SELECT doc_id, list_transform(range(1, len(t)),
         i -> array_to_string(list_slice(t, i, i+1), ' ')) AS gs
       FROM tok WHERE len(t) >= 2),
cnt AS (SELECT g, count(*)::BIGINT AS c
        FROM (SELECT unnest(gs) AS g FROM bg) GROUP BY g),
tot AS (SELECT sum(c)::BIGINT AS total FROM cnt),
topv AS (SELECT g, c FROM cnt ORDER BY c DESC, g LIMIT 24),
vm AS (SELECT map(list(g ORDER BY c DESC, g),
         list(c::DOUBLE / (SELECT total FROM tot) ORDER BY c DESC, g)) AS m
       FROM topv)
SELECT doc_id AS id, len(gs)::BIGINT AS n_bigrams,
  len(list_filter(gs, x -> m[x][1] IS NULL))::BIGINT AS n_oov,
  round(len(list_filter(gs, x -> m[x][1] IS NULL))::DOUBLE / len(gs), 6)
    AS oov_frac,
  round(list_reduce([0.0]::DOUBLE[] ||
      list_transform(gs, x -> coalesce(m[x][1], 0.0)), (a,b) -> a+b)
    / len(gs), 9) AS avg_freq
FROM bg, vm ORDER BY id""",

    "p56_trigram" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents),
tg AS (SELECT doc_id, list_transform(range(1, len(t) - 1),
         i -> array_to_string(list_slice(t, i, i+2), ' ')) AS gs
       FROM tok WHERE len(t) >= 3),
cnt AS (SELECT g, count(*)::BIGINT AS c
        FROM (SELECT unnest(gs) AS g FROM tg) GROUP BY g),
tot AS (SELECT sum(c)::BIGINT AS total FROM cnt),
topv AS (SELECT g, c FROM cnt ORDER BY c DESC, g LIMIT 24),
vm AS (SELECT map(list(g ORDER BY c DESC, g),
         list(c::DOUBLE / (SELECT total FROM tot) ORDER BY c DESC, g)) AS m
       FROM topv)
SELECT doc_id AS id, len(gs)::BIGINT AS n_trigrams,
  len(list_filter(gs, x -> m[x][1] IS NULL))::BIGINT AS n_oov,
  round(len(list_filter(gs, x -> m[x][1] IS NULL))::DOUBLE / len(gs), 6)
    AS oov_frac,
  round(list_reduce([0.0]::DOUBLE[] ||
      list_transform(gs, x -> coalesce(m[x][1], 0.0)), (a,b) -> a+b)
    / len(gs), 9) AS avg_freq
FROM tg, vm ORDER BY id""",

    // Stupid backoff: three vocab CTEs re-derive the trained tables with
    // the engine's exact tie-break (count desc, gram asc, limit V); per
    // window the CASE prefers trigram, then 0.5*bigram, then
    // 0.25*unigram — 0.5/0.25 are exact doubles, so the products match
    // the native expression bit-for-bit; the left fold adds 0.0 for OOV
    // windows (no-op on the non-negative partial sums).
    "p57_backoff" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents),
c1 AS (SELECT g, count(*)::BIGINT AS c
       FROM (SELECT unnest(t) AS g FROM tok) GROUP BY g),
t1t AS (SELECT sum(c)::BIGINT AS total FROM c1),
v1 AS (SELECT map(list(g ORDER BY c DESC, g),
         list(c::DOUBLE / (SELECT total FROM t1t) ORDER BY c DESC, g)) AS m1
       FROM (SELECT g, c FROM c1 ORDER BY c DESC, g LIMIT 24)),
bg AS (SELECT doc_id, list_transform(range(1, len(t)),
         i -> array_to_string(list_slice(t, i, i+1), ' ')) AS gs
       FROM tok WHERE len(t) >= 2),
c2 AS (SELECT g, count(*)::BIGINT AS c
       FROM (SELECT unnest(gs) AS g FROM bg) GROUP BY g),
t2t AS (SELECT sum(c)::BIGINT AS total FROM c2),
v2 AS (SELECT map(list(g ORDER BY c DESC, g),
         list(c::DOUBLE / (SELECT total FROM t2t) ORDER BY c DESC, g)) AS m2
       FROM (SELECT g, c FROM c2 ORDER BY c DESC, g LIMIT 24)),
tg AS (SELECT doc_id, list_transform(range(1, len(t) - 1),
         i -> array_to_string(list_slice(t, i, i+2), ' ')) AS gs
       FROM tok WHERE len(t) >= 3),
c3 AS (SELECT g, count(*)::BIGINT AS c
       FROM (SELECT unnest(gs) AS g FROM tg) GROUP BY g),
t3t AS (SELECT sum(c)::BIGINT AS total FROM c3),
v3 AS (SELECT map(list(g ORDER BY c DESC, g),
         list(c::DOUBLE / (SELECT total FROM t3t) ORDER BY c DESC, g)) AS m3
       FROM (SELECT g, c FROM c3 ORDER BY c DESC, g LIMIT 24)),
sc AS (SELECT doc_id, t,
         list_transform(range(1, len(t) - 1), i ->
           CASE WHEN m3[array_to_string(list_slice(t, i, i+2), ' ')][1] IS NOT NULL
                  THEN m3[array_to_string(list_slice(t, i, i+2), ' ')][1]
                WHEN m2[array_to_string(list_slice(t, i+1, i+2), ' ')][1] IS NOT NULL
                  THEN 0.5 * m2[array_to_string(list_slice(t, i+1, i+2), ' ')][1]
                WHEN m1[t[i+2]][1] IS NOT NULL THEN 0.25 * m1[t[i+2]][1]
                ELSE 0.0 END) AS fs,
         list_transform(range(1, len(t) - 1), i ->
           CASE WHEN m3[array_to_string(list_slice(t, i, i+2), ' ')][1] IS NOT NULL THEN 3
                WHEN m2[array_to_string(list_slice(t, i+1, i+2), ' ')][1] IS NOT NULL THEN 2
                WHEN m1[t[i+2]][1] IS NOT NULL THEN 1
                ELSE 0 END) AS tier
       FROM tok, v1, v2, v3 WHERE len(t) >= 3)
SELECT doc_id AS id, (len(t) - 2)::BIGINT AS n_windows,
  len(list_filter(tier, x -> x = 3))::BIGINT AS n_tri,
  len(list_filter(tier, x -> x = 2))::BIGINT AS n_bi,
  len(list_filter(tier, x -> x = 1))::BIGINT AS n_uni,
  len(list_filter(tier, x -> x = 0))::BIGINT AS n_oov,
  round(list_reduce([0.0]::DOUBLE[] || fs, (a,b) -> a+b)
    / (len(t) - 2), 9) AS avg_score
FROM sc ORDER BY id""",

    "p69_interp" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents),
c1 AS (SELECT g, count(*)::BIGINT AS c
       FROM (SELECT unnest(t) AS g FROM tok) GROUP BY g),
n1t AS (SELECT sum(c)::BIGINT AS n1 FROM c1),
bg AS (SELECT doc_id, list_transform(range(1, len(t)),
         i -> array_to_string(list_slice(t, i, i+1), ' ')) AS gs
       FROM tok WHERE len(t) >= 2),
c2 AS (SELECT g, count(*)::BIGINT AS c
       FROM (SELECT unnest(gs) AS g FROM bg) GROUP BY g),
tg AS (SELECT doc_id, list_transform(range(1, len(t) - 1),
         i -> array_to_string(list_slice(t, i, i+2), ' ')) AS gs
       FROM tok WHERE len(t) >= 3),
c3 AS (SELECT g, count(*)::BIGINT AS c
       FROM (SELECT unnest(gs) AS g FROM tg) GROUP BY g),
top3 AS (SELECT g, c FROM c3 ORDER BY c DESC, g LIMIT 512),
top2 AS (SELECT g, c FROM c2 ORDER BY c DESC, g LIMIT 512),
top1 AS (SELECT g, c FROM c1 ORDER BY c DESC, g LIMIT 512),
parts AS (SELECT g, c AS ct, string_split(g, ' ') AS w FROM top3),
lamraw AS (SELECT p.ct,
    CASE WHEN coalesce(pc.c,0)-1 > 0 THEN p.ct-1 ELSE 0 END AS n3,
    CASE WHEN coalesce(pc.c,0)-1 > 0 THEN coalesce(pc.c,0)-1 ELSE 1 END AS d3,
    CASE WHEN coalesce(u2.c,0)-1 > 0 THEN coalesce(sc.c,0)-1 ELSE 0 END AS n2,
    CASE WHEN coalesce(u2.c,0)-1 > 0 THEN coalesce(u2.c,0)-1 ELSE 1 END AS d2,
    CASE WHEN n1t.n1-1 > 0 THEN coalesce(u3.c,0)-1 ELSE 0 END AS nu,
    CASE WHEN n1t.n1-1 > 0 THEN n1t.n1-1 ELSE 1 END AS du
  FROM parts p CROSS JOIN n1t
  LEFT JOIN c2 pc ON pc.g = array_to_string(list_slice(p.w, 1, 2), ' ')
  LEFT JOIN c2 sc ON sc.g = array_to_string(list_slice(p.w, 2, 3), ' ')
  LEFT JOIN c1 u2 ON u2.g = p.w[2]
  LEFT JOIN c1 u3 ON u3.g = p.w[3]),
win AS (SELECT ct,
    CASE WHEN n3*d2 >= n2*d3 AND n3*du >= nu*d3 THEN 3
         WHEN n2*du >= nu*d2 THEN 2 ELSE 1 END AS w
  FROM lamraw),
lamb AS (SELECT
    coalesce(sum(CASE WHEN w=3 THEN ct END),0)::BIGINT AS b3,
    coalesce(sum(CASE WHEN w=2 THEN ct END),0)::BIGINT AS b2,
    coalesce(sum(CASE WHEN w=1 THEN ct END),0)::BIGINT AS b1 FROM win),
lam AS (SELECT
    CASE WHEN b3+b2+b1 = 0 THEN 0.0 ELSE b3::DOUBLE/(b3+b2+b1)::DOUBLE END AS l3,
    CASE WHEN b3+b2+b1 = 0 THEN 0.0 ELSE b2::DOUBLE/(b3+b2+b1)::DOUBLE END AS l2,
    CASE WHEN b3+b2+b1 = 0 THEN 0.0 ELSE b1::DOUBLE/(b3+b2+b1)::DOUBLE END AS l1
  FROM lamb),
m3 AS (SELECT map(list(g), list(c)) AS m FROM top3),
m2 AS (SELECT map(list(g), list(c)) AS m FROM top2),
m1 AS (SELECT map(list(g), list(c)) AS m FROM top1),
mc2 AS (SELECT map(list(g), list(c)) AS m FROM c2),
mc1 AS (SELECT map(list(g), list(c)) AS m FROM c1),
sc2 AS (SELECT doc_id, t,
    list_transform(range(1, len(t) - 1), i ->
      lam.l3 * (CASE WHEN m3.m[array_to_string(list_slice(t, i, i+2), ' ')][1]
                       IS NOT NULL
                     AND coalesce(mc2.m[array_to_string(list_slice(t, i, i+1), ' ')][1], 0) > 0
          THEN m3.m[array_to_string(list_slice(t, i, i+2), ' ')][1]::DOUBLE
               / mc2.m[array_to_string(list_slice(t, i, i+1), ' ')][1]::DOUBLE
          ELSE 0.0 END)
      + lam.l2 * (CASE WHEN m2.m[array_to_string(list_slice(t, i+1, i+2), ' ')][1]
                         IS NOT NULL
                       AND coalesce(mc1.m[t[i+1]][1], 0) > 0
          THEN m2.m[array_to_string(list_slice(t, i+1, i+2), ' ')][1]::DOUBLE
               / mc1.m[t[i+1]][1]::DOUBLE
          ELSE 0.0 END)
      + lam.l1 * (CASE WHEN m1.m[t[i+2]][1] IS NOT NULL AND n1t.n1 > 0
          THEN m1.m[t[i+2]][1]::DOUBLE / n1t.n1::DOUBLE
          ELSE 0.0 END)) AS fs,
    list_transform(range(1, len(t) - 1), i ->
      CASE WHEN m3.m[array_to_string(list_slice(t, i, i+2), ' ')][1] IS NOT NULL
           THEN 1 ELSE 0 END) AS h3,
    list_transform(range(1, len(t) - 1), i ->
      CASE WHEN m2.m[array_to_string(list_slice(t, i+1, i+2), ' ')][1] IS NOT NULL
           THEN 1 ELSE 0 END) AS h2,
    list_transform(range(1, len(t) - 1), i ->
      CASE WHEN m1.m[t[i+2]][1] IS NOT NULL THEN 1 ELSE 0 END) AS h1
  FROM tok, lam, m3, m2, m1, mc2, mc1, n1t WHERE len(t) >= 3)
SELECT doc_id AS id, (len(t) - 2)::BIGINT AS n_windows,
  list_reduce([0]::BIGINT[] || h3, (a,b) -> a+b)::BIGINT AS n_tri,
  list_reduce([0]::BIGINT[] || h2, (a,b) -> a+b)::BIGINT AS n_bi,
  list_reduce([0]::BIGINT[] || h1, (a,b) -> a+b)::BIGINT AS n_uni,
  len(list_filter(range(1, len(t) - 1),
    i -> h3[i] = 0 AND h2[i] = 0 AND h1[i] = 0))::BIGINT AS n_oov,
  round(list_reduce([0.0]::DOUBLE[] || fs, (a,b) -> a+b) / (len(t) - 2), 9)
    AS avg_score,
  round((SELECT l3 FROM lam), 6) AS lam3,
  round((SELECT l2 FROM lam), 6) AS lam2,
  round((SELECT l1 FROM lam), 6) AS lam1
FROM sc2 ORDER BY id""",

    "p54_weighted_sample" -> {
      val stop = graft.functions.TextFunctions.DefaultStopwords("en")
        .map("'" + _ + "'").mkString(", ")
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
base AS (
  SELECT doc_id AS id, length(text)::BIGINT AS n_chars,
         string_split_regex(lower(trim(text)), '\\s+') AS t,
         length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))::BIGINT AS punct
  FROM documents),
m AS (
  SELECT id,
    list_reduce([0]::BIGINT[] || list_transform(t, x -> length(x)::BIGINT),
      (a,b) -> a+b)::DOUBLE / len(t)::DOUBLE AS mean_len,
    punct::DOUBLE / n_chars::DOUBLE AS punct_ratio,
    len(list_filter(t, x -> list_contains([$stop], x)))::DOUBLE / len(t)::DOUBLE
      AS stop_ratio
  FROM base),
w AS (SELECT id,
    round(least(1.0, greatest(0.0,
      round(GREATEST(0.0, 1.0 - abs(mean_len - 5.0) / 10.0
        - punct_ratio * 2.0 + stop_ratio * 0.5), 6))), 6) AS weight,
    ('0x' || substring(md5(id::VARCHAR), 1, 8))::BIGINT % 1000003 AS hm
  FROM m)
SELECT id, weight FROM w
WHERE hm::DOUBLE < weight * 1000003 ORDER BY id"""
    },

    // p45 is the SAME chain drained through Structured Streaming — one
    // oracle, two keys: matching hashes prove batch and streaming agree.
    "p43_curation_chain" -> CurationChainOracle,
    "p45_streaming_gopher" -> CurationChainOracle,

    "p35_gopher" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
planted AS (SELECT doc_id, text
  || CASE WHEN doc_id % 8 = 0 THEN chr(10) || '- alpha' || chr(10) || '- beta'
       || chr(10) || '- gamma' || chr(10) || '- delta' ELSE '' END
  || CASE WHEN doc_id % 9 = 0 THEN chr(10) || 'to be continued...'
       || chr(10) || 'more soon...' ELSE '' END
  || CASE WHEN doc_id % 10 = 0 THEN chr(10) || '# # # # # # # # # #'
       ELSE '' END AS text
  FROM documents),
b AS (SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') AS t,
        string_split(text, chr(10)) AS ls FROM planted),
m AS (SELECT doc_id, len(t)::BIGINT AS n_words,
  list_reduce(list_transform(t, w -> len(w)), (a,b) -> a+b)::DOUBLE / len(t) AS mwl,
  len(regexp_extract_all(text, '#|\\.\\.\\.|…'))::DOUBLE / len(t) AS sym,
  len(list_filter(ls, l -> substring(trim(l),1,1) IN ('•','-','*')))::DOUBLE
    / len(ls) AS bf,
  len(list_filter(ls, l -> trim(l) LIKE '%...' OR trim(l) LIKE '%…'))::DOUBLE
    / len(ls) AS ef,
  len(list_filter(t, w -> regexp_matches(w, '[a-z]')))::DOUBLE / len(t) AS af,
  len(list_filter(['the','a'], w -> list_contains(t, w)))::BIGINT AS sh
  FROM b)
SELECT doc_id AS id, n_words, round(mwl, 6) AS mean_word_len,
  round(sym, 6) AS symbol_ratio, round(bf, 6) AS bullet_frac,
  round(ef, 6) AS ellipsis_frac, round(af, 6) AS alpha_frac,
  sh AS stop_hits,
  (n_words BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
   AND sym <= 0.1 AND bf <= 0.9 AND ef <= 0.3 AND af >= 0.8 AND sh >= 2)
    AS passes
FROM m ORDER BY id""",

    "p40_mixture_temp" -> {
      val pfConst = SampleHashMod.toDouble * MixOverSample
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
b AS (SELECT doc_id AS id, lang AS stratum,
        len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]'))::BIGINT AS n_tokens,
        ('0x' || substring(md5(doc_id::VARCHAR),1,8))::BIGINT % $SampleHashMod AS hm
      FROM documents),
st AS (SELECT stratum, sum(n_tokens)::BIGINT AS tot_tokens FROM b GROUP BY stratum),
sq AS (SELECT stratum, tot_tokens, sqrt(tot_tokens::DOUBLE) AS sq FROM st),
dn AS (SELECT list_reduce([0.0]::DOUBLE[] || list(sq ORDER BY stratum),
         (a,b) -> a+b) AS denom FROM sq),
bu AS (SELECT stratum, tot_tokens, $MixTempTotalTokens.0 * sq / dn.denom AS budget
       FROM sq, dn),
pf AS (SELECT b.id, b.stratum, b.n_tokens, b.hm, bu.budget
       FROM b JOIN bu USING (stratum)
       WHERE (b.hm::DOUBLE * bu.tot_tokens::DOUBLE) < $pfConst * bu.budget),
c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY stratum ORDER BY hm, id
        ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens FROM pf)
SELECT id, stratum, n_tokens, cum_tokens FROM c
WHERE (cum_tokens - n_tokens) < budget
ORDER BY id"""
    },

    "p29_token_mixture" -> {
      val wValues = MixWeights.toSeq.sorted
        .map { case (k, v) => s"('$k', $v)" }.mkString(", ")
      // pfConst = hashMod.toDouble * overSample, precomputed like the
      // Spark literal; budget = w * total as ONE multiplication both sides
      val pfConst = SampleHashMod.toDouble * MixOverSample
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
b AS (SELECT doc_id AS id, lang AS stratum,
        len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]'))::BIGINT AS n_tokens,
        ('0x' || substring(md5(doc_id::VARCHAR),1,8))::BIGINT % $SampleHashMod AS hm
      FROM documents),
st AS (SELECT stratum, sum(n_tokens)::BIGINT AS tot_tokens FROM b GROUP BY stratum),
wt AS (SELECT * FROM (VALUES $wValues) AS t(stratum, w)),
pf AS (SELECT b.id, b.stratum, b.n_tokens, b.hm,
         wt.w * $MixTotalTokens.0 AS budget
       FROM b JOIN st USING (stratum) JOIN wt USING (stratum)
       WHERE (b.hm::DOUBLE * st.tot_tokens::DOUBLE) < $pfConst * (wt.w * $MixTotalTokens.0)),
c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY stratum ORDER BY hm, id
        ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens FROM pf)
SELECT id, stratum, n_tokens, cum_tokens FROM c
WHERE (cum_tokens - n_tokens) < budget
ORDER BY id"""
    },

    // the p35 gopher CTE chain (unplanted) + a per-source integer
    // aggregate: counts and one exact division, no double summation
    // p63 mirror notes: every scored bigram also occurred in the count
    // pass (scored docs ⊆ counted docs), so the LEFT JOIN's coalesce-0
    // buckets are never hit with a non-matching cr — the join is
    // value-identical to Spark's zero-filled literal arrays. The ordered
    // ratio sum is list(ratio ORDER BY ord) folded left from 0.0, the
    // exact fold order of the Spark struct aggregate. p67 is the SAME
    // selection drained through Structured Streaming — one oracle, two
    // keys: matching hashes prove batch and streaming agree.
    "p63_dsir" -> DsirOracle,
    "p67_streaming_dsir" -> DsirOracle,

    // p70 mirror notes: the seed labels re-derive the p35 gopher verdict
    // (unplanted, the p62 CTE pattern) on the doc_id % 5 slice; the
    // count CTE contrasts positive vs NEGATIVE (cn = count - cp, the
    // classifierTrain re-basing), and the ratio is the NB likelihood
    // ratio ((cp+1)*(tn+B)) / ((cn+1)*(tp+B)) — same exact-integer
    // products and single division as DSIR, same ordered fold; the
    // threshold compares the UNROUNDED mean, like the Scala filter.
    "p70_quality_classifier" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
seed AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
sb AS (SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') AS t,
        string_split(text, chr(10)) AS ls FROM seed),
sm AS (SELECT doc_id, t, len(t)::BIGINT AS n_words,
  list_reduce(list_transform(t, w -> len(w)), (a,b) -> a+b)::DOUBLE / len(t) AS mwl,
  len(regexp_extract_all(text, '#|\\.\\.\\.|…'))::DOUBLE / len(t) AS sym,
  len(list_filter(ls, l -> substring(trim(l),1,1) IN ('•','-','*')))::DOUBLE
    / len(ls) AS bf,
  len(list_filter(ls, l -> trim(l) LIKE '%...' OR trim(l) LIKE '%…'))::DOUBLE
    / len(ls) AS ef,
  len(list_filter(t, w -> regexp_matches(w, '[a-z]')))::DOUBLE / len(t) AS af,
  len(list_filter(['the','a'], w -> list_contains(t, w)))::BIGINT AS sh
  FROM sb),
lab AS (SELECT doc_id, t,
  (n_words BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
   AND sym <= 0.1 AND bf <= 0.9 AND ef <= 0.3 AND af >= 0.8 AND sh >= 2) AS pos
  FROM sm),
bg AS (SELECT doc_id, pos, list_transform(range(1, len(t)),
         i -> array_to_string(list_slice(t, i, i+1), ' ')) AS gs
       FROM lab WHERE len(t) >= 2),
feat AS (SELECT pos, ('0x' || substring(md5(g),1,8))::BIGINT % $DsirBuckets AS b
  FROM bg, unnest(gs) AS u(g)),
cnt AS (SELECT b, count(*) FILTER (WHERE NOT pos)::BIGINT AS cn,
    count(*) FILTER (WHERE pos)::BIGINT AS cp FROM feat GROUP BY b),
tot AS (SELECT sum(cn)::BIGINT AS tn, sum(cp)::BIGINT AS tp FROM cnt),
tok2 AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
         FROM documents),
bg2 AS (SELECT doc_id, list_transform(range(1, len(t)),
         i -> array_to_string(list_slice(t, i, i+1), ' ')) AS gs
       FROM tok2 WHERE len(t) >= 2),
exp AS (SELECT doc_id, unnest(list_transform(range(1, len(gs)+1),
    i -> {'ord': i,
          'b': ('0x' || substring(md5(gs[i]),1,8))::BIGINT % $DsirBuckets})) AS r
  FROM bg2),
ex AS (SELECT doc_id, r.ord AS ord, r.b AS b FROM exp),
jr AS (SELECT e.doc_id, e.ord,
    ((coalesce(c.cp, 0)+1)::DOUBLE * (t.tn+$DsirBuckets)::DOUBLE)
    / ((coalesce(c.cn, 0)+1)::DOUBLE * (t.tp+$DsirBuckets)::DOUBLE) AS ratio
  FROM ex e LEFT JOIN cnt c ON e.b = c.b CROSS JOIN tot t),
sums AS (SELECT doc_id, count(*)::BIGINT AS n_grams,
    list_reduce([0.0]::DOUBLE[] || list(ratio ORDER BY ord), (a,b) -> a+b) AS s
  FROM jr GROUP BY doc_id)
SELECT doc_id AS id, n_grams, round(s / n_grams::DOUBLE, 6) AS quality_score
FROM sums WHERE s / n_grams::DOUBLE >= 1.0
ORDER BY id""",

    // p71 mirror notes: kmax = ceil((n-64)/48) over exact small-int
    // doubles; DuckDB list_slice's inclusive 1-based [a,b] equals
    // Spark slice(t, a, 64) with b = a+63 (both clamp at the end).
    "p71_token_chunks" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents),
ks AS (SELECT doc_id, t,
  CASE WHEN len(t) > 64 THEN ceil((len(t) - 64)::DOUBLE / 48)::INT
       ELSE 0 END AS kmax FROM tok),
ch AS (SELECT doc_id, t, unnest(generate_series(0, kmax)) AS k FROM ks)
SELECT doc_id AS id, k::BIGINT AS chunk_id, (k*48)::BIGINT AS start_token,
  len(list_slice(t, k*48+1, k*48+64))::BIGINT AS n_tokens,
  array_to_string(list_slice(t, k*48+1, k*48+64), ' ') AS chunk_text
FROM ch ORDER BY id, chunk_id""",

    // p72 mirror notes: per-language add-one unigram probability
    // p(w) = (c+1)/(T_l + v_l + 1) — pure rational IEEE arithmetic (no
    // logs, the LM-ladder portability convention), summed in token order
    // via list_reduce exactly like VocabScore's left fold; OOV adds the
    // per-language constant 1/(T_l+v_l+1). The head/keep cutoffs are the
    // rounded scores at rank ceil(frac*n) of the per-language descending
    // order — ties share a bucket, so max(score) over cum>=k equals the
    // rank-k score with any tie-break.
    "p72_perplexity_buckets" -> PerplexityOracle,
    "p73_streaming_perplexity" -> PerplexityOracle,

    "p65_tfidf" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
tok AS (SELECT doc_id AS id,
    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM documents),
tf AS (SELECT id, term, count(*)::BIGINT AS tf FROM tok
       WHERE term <> '' GROUP BY id, term),
df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
nn AS (SELECT count(*)::BIGINT AS n FROM documents),
sc AS (SELECT tf.id, tf.term, tf.tf, df.df,
    tf.tf::DOUBLE * (nn.n::DOUBLE / df.df::DOUBLE) AS raw
  FROM tf JOIN df USING (term) CROSS JOIN nn),
r AS (SELECT id, term, tf, df, raw,
    row_number() OVER (PARTITION BY id ORDER BY raw DESC, term ASC)::BIGINT
      AS rank
  FROM sc)
SELECT id, rank, term, tf, df, round(raw, 6) AS tfidf
FROM r WHERE rank <= 5 ORDER BY id, rank""",

    "p66_quality_cut" -> {
      val stop = graft.functions.TextFunctions.DefaultStopwords("en")
        .map("'" + _ + "'").mkString(", ")
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
base AS (
  SELECT doc_id AS id, length(text)::BIGINT AS n_chars,
         string_split_regex(lower(trim(text)), '\\s+') AS t,
         length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))::BIGINT AS punct
  FROM documents),
m AS (
  SELECT id,
    list_reduce([0]::BIGINT[] || list_transform(t, x -> length(x)::BIGINT),
      (a,b) -> a+b)::DOUBLE / len(t)::DOUBLE AS mean_len,
    punct::DOUBLE / n_chars::DOUBLE AS punct_ratio,
    len(list_filter(t, x -> list_contains([$stop], x)))::DOUBLE / len(t)::DOUBLE
      AS stop_ratio
  FROM base),
q AS (SELECT id, round(GREATEST(0.0, 1.0 - abs(mean_len - 5.0) / 10.0
    - punct_ratio * 2.0 + stop_ratio * 0.5), 6) AS score FROM m),
b AS (SELECT id, score,
    least(greatest(floor(score * 1000)::BIGINT, 0), 1000) AS qbucket FROM q),
hist AS (SELECT qbucket, count(*)::BIGINT AS c FROM b GROUP BY qbucket),
tot AS (SELECT ceil(sum(c) * 0.5)::BIGINT AS target FROM hist),
cum AS (SELECT qbucket,
    sum(c) OVER (ORDER BY qbucket DESC)::BIGINT AS suffix FROM hist),
cut AS (SELECT coalesce(max(qbucket), 0) AS cutoff
        FROM cum, tot WHERE suffix >= target)
SELECT b.id, b.score, b.qbucket FROM b, cut
WHERE b.qbucket >= cut.cutoff ORDER BY id"""
    },

    "p64_cluster_mix" ->
      s"""WITH $embCte,
$ivfCoarseCtes,
cnt AS (SELECT centroid_id, count(*)::BIGINT AS n_stratum
        FROM assigned GROUP BY centroid_id),
h AS (SELECT a.neighbor_id AS id, a.centroid_id, c.n_stratum,
        ('0x' || substring(md5(a.neighbor_id::VARCHAR),1,8))::BIGINT
          % $SampleHashMod AS hm
      FROM assigned a JOIN cnt c USING (centroid_id)),
pf AS (SELECT * FROM h
       WHERE hm * n_stratum < $SampleHashMod::BIGINT * ${25 * SampleOverSample}),
r AS (SELECT id, centroid_id, n_stratum,
        row_number() OVER (PARTITION BY centroid_id ORDER BY hm, id)::BIGINT
          AS sample_rank
      FROM pf)
SELECT id, centroid_id, n_stratum, sample_rank FROM r
WHERE sample_rank <= 25 ORDER BY centroid_id, sample_rank""",

    "p62_source_filter" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
b AS (SELECT doc_id, source, text,
        string_split_regex(lower(trim(text)), '\\s+') AS t,
        string_split(text, chr(10)) AS ls FROM documents),
m AS (SELECT doc_id, source, len(t)::BIGINT AS n_words,
  list_reduce(list_transform(t, w -> len(w)), (a,b) -> a+b)::DOUBLE / len(t) AS mwl,
  len(regexp_extract_all(text, '#|\\.\\.\\.|…'))::DOUBLE / len(t) AS sym,
  len(list_filter(ls, l -> substring(trim(l),1,1) IN ('•','-','*')))::DOUBLE
    / len(ls) AS bf,
  len(list_filter(ls, l -> trim(l) LIKE '%...' OR trim(l) LIKE '%…'))::DOUBLE
    / len(ls) AS ef,
  len(list_filter(t, w -> regexp_matches(w, '[a-z]')))::DOUBLE / len(t) AS af,
  len(list_filter(['the','a'], w -> list_contains(t, w)))::BIGINT AS sh
  FROM b),
v AS (SELECT doc_id, source,
  (n_words BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
   AND sym <= 0.1 AND bf <= 0.9 AND ef <= 0.3 AND af >= 0.8 AND sh >= 2)
    AS doc_passes
  FROM m),
per AS (SELECT source, count(*)::BIGINT AS n_docs_source,
    sum(CASE WHEN doc_passes THEN 1 ELSE 0 END)::BIGINT AS n_passing
  FROM v GROUP BY source),
pv AS (SELECT source, n_docs_source,
    n_passing::DOUBLE / n_docs_source::DOUBLE AS frac,
    (n_passing::DOUBLE / n_docs_source::DOUBLE >= 0.48
     AND n_docs_source >= 10) AS source_kept
  FROM per)
SELECT v.doc_id AS id, v.source, v.doc_passes, pv.n_docs_source,
  round(pv.frac, 6) AS frac_passing, pv.source_kept
FROM v JOIN pv USING (source) ORDER BY id""",

    // shard = hash % n; within-shard order = (hash quotient, id) — the
    // quotient carries the remaining hash entropy past the shard bits
    "p61_shuffle_shards" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
b AS (SELECT doc_id AS id,
        ('0x' || substring(md5(doc_id::VARCHAR),1,8))::BIGINT AS h
      FROM documents),
s AS (SELECT id, h % 8 AS shard, floor(h / 8.0)::BIGINT AS hq FROM b)
SELECT id, shard,
  row_number() OVER (PARTITION BY shard ORDER BY hq, id)::BIGINT AS pos
FROM s ORDER BY id""",

    "p68_curriculum" -> {
      val stop = graft.functions.TextFunctions.DefaultStopwords("en")
        .map("'" + _ + "'").mkString(", ")
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
base AS (
  SELECT doc_id AS id, length(text)::BIGINT AS n_chars,
         string_split_regex(lower(trim(text)), '\\s+') AS t,
         length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))::BIGINT AS punct
  FROM documents),
m AS (
  SELECT id,
    list_reduce([0]::BIGINT[] || list_transform(t, x -> length(x)::BIGINT),
      (a,b) -> a+b)::DOUBLE / len(t)::DOUBLE AS mean_len,
    punct::DOUBLE / n_chars::DOUBLE AS punct_ratio,
    len(list_filter(t, x -> list_contains([$stop], x)))::DOUBLE / len(t)::DOUBLE
      AS stop_ratio
  FROM base),
q AS (SELECT id, round(GREATEST(0.0, 1.0 - abs(mean_len - 5.0) / 10.0
    - punct_ratio * 2.0 + stop_ratio * 0.5), 6) AS score FROM m),
b AS (SELECT id,
    least(greatest(floor(score * 10)::BIGINT, 0), 10) AS band,
    ('0x' || substring(md5(id::VARCHAR),1,8))::BIGINT AS h
  FROM q),
s AS (SELECT id, band, h % 8 AS shard, floor(h / 8.0)::BIGINT AS hq FROM b)
SELECT id, band, shard,
  row_number() OVER (PARTITION BY band, shard ORDER BY hq, id)::BIGINT AS pos
FROM s ORDER BY band, shard, pos"""
    },

    "p60_mixture_capped" -> {
      val wValues = CapWeights.toSeq.sorted
        .map { case (k, v) => s"('$k', $v)" }.mkString(", ")
      val pfConst = SampleHashMod.toDouble * MixOverSample
      // every arithmetic step mirrors the Spark expressions one-for-one:
      // budget = w * total (one multiply), full_epochs = LEAST(maxEpochs,
      // floor(budget / T)) (floor of one double division), remainder =
      // budget - f * T (one multiply-subtract) — all single IEEE ops
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
b AS (SELECT doc_id AS id, lang AS stratum,
        len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]'))::BIGINT AS n_tokens,
        ('0x' || substring(md5(doc_id::VARCHAR),1,8))::BIGINT % $SampleHashMod AS hm
      FROM documents),
st0 AS (SELECT stratum, sum(n_tokens)::BIGINT AS tot_tokens FROM b GROUP BY stratum),
wt AS (SELECT * FROM (VALUES $wValues) AS t(stratum, w)),
st AS (SELECT stratum, tot_tokens, wt.w * $MixTotalTokens.0 AS budget,
         LEAST($CapMaxEpochs.0,
           floor((wt.w * $MixTotalTokens.0) / tot_tokens::DOUBLE))::BIGINT AS full_epochs
       FROM st0 JOIN wt USING (stratum) WHERE tot_tokens > 0),
st2 AS (SELECT *, CASE WHEN full_epochs < $CapMaxEpochs
          THEN budget - full_epochs::DOUBLE * tot_tokens::DOUBLE
          ELSE 0.0 END AS partial_budget FROM st),
fe AS (SELECT b.id, unnest(range(0, st2.full_epochs))::BIGINT AS epoch,
         b.stratum, b.n_tokens
       FROM b JOIN st2 USING (stratum) WHERE st2.full_epochs > 0),
pf AS (SELECT b.id, b.stratum, b.n_tokens, b.hm, st2.full_epochs,
         st2.partial_budget
       FROM b JOIN st2 USING (stratum)
       WHERE st2.partial_budget > 0.0
         AND (b.hm::DOUBLE * st2.tot_tokens::DOUBLE) < $pfConst * st2.partial_budget),
c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY stratum ORDER BY hm, id
        ROWS UNBOUNDED PRECEDING)::BIGINT AS cum FROM pf)
SELECT id, epoch, stratum, n_tokens FROM fe
UNION ALL
SELECT id, full_epochs AS epoch, stratum, n_tokens FROM c
WHERE (cum - n_tokens) < partial_budget
ORDER BY id, epoch"""
    },

    "p26_contamination" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
tokc AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents),
shc AS (SELECT doc_id,
          CASE WHEN len(t) >= 3
            THEN list_distinct(list_transform(range(1, len(t)-1),
                   i -> array_to_string(list_slice(t, i, i+2), ' ')))
            ELSE []::VARCHAR[] END AS s
        FROM tokc),
bsh AS (SELECT DISTINCT unnest(s) AS shingle FROM shc WHERE doc_id < 20),
tot AS (SELECT doc_id, len(s)::BIGINT AS n_shingles FROM shc),
hits AS (SELECT e.doc_id, count(*) AS n_cont
         FROM (SELECT doc_id, unnest(s) AS shingle FROM shc) e
         JOIN bsh USING (shingle) GROUP BY e.doc_id)
SELECT t.doc_id AS id, t.n_shingles,
       coalesce(h.n_cont, 0)::BIGINT AS n_contaminated,
       round(CASE WHEN t.n_shingles > 0
         THEN coalesce(h.n_cont, 0)::DOUBLE / t.n_shingles::DOUBLE
         ELSE 0.0 END, 6) AS contamination
FROM tot t LEFT JOIN hits h ON t.doc_id = h.doc_id ORDER BY id""",

    "p08_langid" -> LangIdOracle,

    // p91 SHARES p08's oracle: language-ID over the WET-recovered text
    // must equal language-ID over the parquet text — the conversion
    // records round-trip byte-exactly.
    "p91_wet_langid" -> LangIdOracle,

    // p99: the streaming twin of p91's ingest — identical hashes prove
    // the file-stream parse + stateless scoring equals the batch path.
    "p99_streaming_wet" -> LangIdOracle,

    "p09_quality" -> {
      val stop = graft.functions.TextFunctions.DefaultStopwords("en")
        .map("'" + _ + "'").mkString(", ")
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
base AS (
  SELECT doc_id AS id, length(text)::BIGINT AS n_chars,
         string_split_regex(lower(trim(text)), '\\s+') AS t,
         length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))::BIGINT AS punct
  FROM documents),
m AS (
  SELECT id, n_chars, len(t)::BIGINT AS n_tokens,
    list_reduce([0]::BIGINT[] || list_transform(t, x -> length(x)::BIGINT),
      (a,b) -> a+b)::DOUBLE / len(t)::DOUBLE AS mean_len,
    punct::DOUBLE / n_chars::DOUBLE AS punct_ratio,
    len(list_filter(t, x -> list_contains([$stop], x)))::DOUBLE / len(t)::DOUBLE
      AS stop_ratio
  FROM base)
SELECT id, n_chars, n_tokens,
  round(mean_len, 6) AS mean_token_len,
  round(punct_ratio, 6) AS punct_ratio,
  round(stop_ratio, 6) AS stopword_ratio,
  round(GREATEST(0.0, 1.0 - abs(mean_len - 5.0) / 10.0 - punct_ratio * 2.0
    + stop_ratio * 0.5), 6) AS quality_score
FROM m ORDER BY id"""
    },

    "p10_tokens" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id AS id,
  len(string_split_regex(lower(trim(text)), '\\s+'))::BIGINT AS ws_tokens,
  len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]'))::BIGINT AS bpe_tokens
FROM documents ORDER BY id""",

    "p11_fingerprint" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
toks AS (SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents)
SELECT doc_id AS id,
  list_reduce([0]::BIGINT[] ||
    list_transform(t, x -> ('0x' || substring(md5(x),1,8))::BIGINT),
    (a,b) -> (a*131 + b % $HashMod) % $HashMod) AS fingerprint,
  md5(text) AS content_hash
FROM toks ORDER BY id""",

    "p12_multimodal" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id,
  CASE WHEN doc_id % 3 = 0 THEN 'image'
       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
  octet_length(encode(text))::BIGINT AS byte_len,
  (n_chars % 640 + 1)::INTEGER AS width,
  (doc_id % 480 + 1)::INTEGER AS height,
  (n_chars % 640 + 1)::BIGINT * (doc_id % 480 + 1)::BIGINT AS n_pixels,
  md5(text) AS payload_hash
FROM documents ORDER BY doc_id""",

    "p47_video_mjpeg" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id,
  (doc_id % 16 + 8)::INTEGER AS width,
  (doc_id % 12 + 8)::INTEGER AS height,
  (doc_id % 3 + 1)::BIGINT AS n_frames
FROM documents WHERE doc_id < 60 ORDER BY doc_id""",

    // p76: same enumeration contract as p74, audio variant rules %4/%6
    "p76_audio_neardup" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
v AS (SELECT doc_id, 0 AS var FROM documents
      UNION ALL SELECT doc_id, 1 FROM documents WHERE doc_id % 4 = 0
      UNION ALL SELECT doc_id, 2 FROM documents WHERE doc_id % 6 = 0)
SELECT a.doc_id * 10 + a.var AS id_a, b.doc_id * 10 + b.var AS id_b,
  0::BIGINT AS hamming
FROM v a JOIN v b ON a.doc_id = b.doc_id AND a.var < b.var
ORDER BY id_a, id_b""",

    // p77: same planted-pair enumeration as p74/p76 — every variant of
    // one doc is fingerprint-identical by fixture construction (v1
    // shares v0's frame bytes, v2 shares v0's decoded pixels), distinct
    // docs never collide within hamming 3 (quasi-random 64-bit folds).
    "p77_video_neardup" -> VideoNeardupPairsOracle,

    // p142 SHARES p77's pair oracle: same (doc%5, variants on %10/%15)
    // population, same ids, hamming 0 — but the fingerprints come from
    // container-resolved KEYFRAME BYTES (stss/stsc/stco/stsz), no
    // decoder, so the re-muxed variants prove byte-extent resolution
    // instead of pixel decoding.
    "p142_mp4_keyframe_neardup" -> VideoNeardupPairsOracle,

    // p145: verdicts by the planted-header formula — noindex on m ∈
    // {0,2,3} (2 is `none`, 3 the agent-scoped form read globally),
    // nofollow on m ∈ {1,2}; the m=4 decoy header name never counts.
    "p145_xrobots" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
d AS (SELECT doc_id, doc_id % 6 AS m FROM documents)
SELECT doc_id AS id, m IN (0, 2, 3) AS noindex, m IN (1, 2) AS nofollow,
  m NOT IN (0, 2, 3) AS kept
FROM d ORDER BY id""",

    // p143: both populations by the planted-variant formula — noindex
    // on m ∈ {0,2,3} (2 is `none`; 4 is the decoy and does NOT count),
    // page-level nofollow on m ∈ {1,2,3} killing all edges, the
    // rel=nofollow anchor never edging, a3 edging only off %4≠0.
    "p143_meta_robots" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
d AS (SELECT doc_id, doc_id % 9 AS m, doc_id % 4 AS q,
  'gov-' || (doc_id % 50) || '.example.com/p/' || doc_id AS src,
  'ext-' || (doc_id % 20) || '.example.org/t/' || doc_id AS a1,
  'gov-' || (doc_id % 50) || '.example.com/ok/' || (doc_id * 2) AS a3
 FROM documents),
rows_ AS (
  SELECT 'page' AS kind, src AS src_url, '' AS dst_url FROM d
    WHERE m NOT IN (0, 2, 3)
  UNION ALL
  SELECT 'edge', src, a1 FROM d WHERE m NOT IN (1, 2, 3)
  UNION ALL
  SELECT 'edge', src, a3 FROM d WHERE m NOT IN (1, 2, 3) AND q <> 0)
SELECT * FROM rows_ ORDER BY kind, src_url, dst_url""",

    // p78: ground truth from the fixture formula — three messy URL
    // variants of group g all canonicalize to
    // example-{g%50}.com/Pg/{g}?a=1&b=2; the kept capture is the
    // longest (ties -> smallest doc_id). Any canonicalizer slip
    // (unstripped utm/port/www/slash, unsorted params) changes the
    // grouping and the rows diverge.
    "p78_url_dedup" -> UrlDedupOracle,

    // p81 SHARES p78's oracle — matching hashes prove the update-mode
    // streaming aggregation folded to the batch keep-best state on the
    // same corpus (the p58/p67/p73/p75 batch≡streaming convention).
    "p81_streaming_url_dedup" -> UrlDedupOracle,

    // p86 SHARES it too: the WARC round-trip + canonicalize + keep-best
    // composition must land on the identical deduped corpus.
    "p86_crawl_dedup" -> UrlDedupOracle,

    // p79: ground truth from the fixture formula — subdomains never
    // split a domain, co.uk keeps three labels; rank = quality desc,
    // ties to smallest id; cap k=5.
    "p79_domain_cap" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
d AS (SELECT doc_id, n_chars, doc_id % 40 AS h FROM documents),
e AS (SELECT doc_id, n_chars, 'example-' || h ||
        CASE WHEN h % 4 = 0 THEN '.co.uk' ELSE '.com' END AS domain FROM d),
r AS (SELECT *, row_number() OVER (PARTITION BY domain
        ORDER BY n_chars DESC, doc_id ASC) AS domain_rank FROM e)
SELECT doc_id, domain, domain_rank FROM r WHERE domain_rank <= 5
ORDER BY domain, domain_rank""",

    // p82: the oracle regenerates the SAME ±1 matrix from the md5
    // formula and mirrors the fixed-order fold (list_prepend(0.0) =
    // Spark's zero accumulator, so even a -0.0 first element agrees).
    "p82_random_projection" ->
      s"""WITH e AS (SELECT vec_id, embedding
        FROM read_parquet('$Sf/embeddings.parquet')),
g AS (SELECT j.range AS j, i.range AS i
      -- 64 = the fixture embedding dim at every SF (range() cannot
      -- take a subquery); the Spark side reads the dim from the data
      FROM range(0, 8) j, range(0, 64) i),
s AS (SELECT j, list(CASE WHEN ('0x' ||
          substring(md5(j::VARCHAR || ':' || i::VARCHAR), 1, 8))::BIGINT
          % 2 = 0 THEN 1.0 ELSE -1.0 END ORDER BY i) AS signs
      FROM g GROUP BY j)
SELECT e.vec_id, s.j AS dim,
  round(list_reduce(list_prepend(0.0::DOUBLE,
    list_transform(list_zip(e.embedding, s.signs),
      z -> z[1]::DOUBLE * z[2])),
    (a, b) -> a + b), 6) AS proj
FROM e, s ORDER BY vec_id, dim""",

    // p84: the oracle recomputes the md5 bucket and the cumulative
    // ranges (98/1/1 over 100) from scratch.
    "p84_hash_split" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
b AS (SELECT doc_id,
        ('0x' || substring(md5(doc_id::VARCHAR || ':v1'), 1, 8))::BIGINT
          % 100 AS bucket FROM documents)
SELECT doc_id,
  CASE WHEN bucket < 98 THEN 'train'
       WHEN bucket < 99 THEN 'val' ELSE 'test' END AS split
FROM b ORDER BY doc_id""",

    // p85: the oracle derives the expected records straight from the
    // doc table (url/status by construction, md5(text) = the body
    // hash) — a framing, Content-Length, gzip, or charset slip in
    // either the writer or the parser diverges the hashes.
    "p85_warc_ingest" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id, 200::BIGINT AS status, md5(text) AS body_md5
FROM documents ORDER BY doc_id""",

    // p150: same closed form as p85 — the transport lanes (chunked /
    // gzip / deflate / chunked+gzip from doc_id % 5) must be
    // INVISIBLE in the recovered text, so the oracle is exactly the
    // undecorated document table; any lane whose decode slips
    // diverges md5(text) for a fifth of the rows.
    "p150_http_decode" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id, doc_id % 5 AS lane, 200::BIGINT AS status,
       md5(text) AS body_md5
FROM documents ORDER BY doc_id""",

    // p159: p150's closed form with the zstd lanes — the codings must
    // be INVISIBLE in the recovered text, so the oracle is exactly
    // the undecorated document table; a framing or frame-decode slip
    // diverges md5(text) for a third of the rows.
    "p159_content_codings" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id, doc_id % 3 AS lane, md5(text) AS body_md5
FROM documents ORDER BY doc_id""",

    // p87: the oracle rebuilds v2 from the same fixture rules and
    // classifies via an independent full outer join.
    "p87_snapshot_diff" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
v2 AS (SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END AS text
       FROM documents WHERE doc_id % 13 != 0
       UNION ALL
       SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 11 = 0)
SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
  CASE WHEN a.doc_id IS NULL THEN 'added'
       WHEN b.doc_id IS NULL THEN 'removed'
       WHEN md5(a.text) = md5(b.text) THEN 'unchanged'
       ELSE 'modified' END AS status
FROM documents a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
ORDER BY doc_id""",

    // p88: the oracle recomputes the rolling window hashes (the p36
    // idiom), the mod-16 cut rule, and the per-chunk md5 from scratch.
    "p88_cdc_chunks" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents),
cod AS (SELECT doc_id, t,
    list_transform(t, x -> ('0x' || substring(md5(x),1,8))::BIGINT) AS c
  FROM tok),
wh AS (SELECT doc_id, t, CASE WHEN len(c) >= 8 THEN
    list_transform(range(1, len(c) - 8 + 2), i ->
      list_reduce([0]::BIGINT[] || list_slice(c, i, i + 7),
        (a,b) -> (a*131 + b % $HashMod) % $HashMod))
    ELSE []::BIGINT[] END AS h FROM cod),
cuts AS (SELECT doc_id, t,
    list_transform(list_filter(range(1, len(h) + 1), i -> h[i] % 16 = 0),
      i -> i - 1 + 8) AS cl FROM wh),
bounds AS (SELECT doc_id, t,
    CASE WHEN len(cl) > 0 AND cl[-1] = len(t) THEN [0] || cl
         ELSE [0] || cl || [len(t)] END AS bs FROM cuts),
ch AS (SELECT doc_id, t, bs, unnest(range(1, len(bs))) AS k FROM bounds)
SELECT doc_id AS id, (k - 1)::BIGINT AS chunk_idx,
  bs[k]::BIGINT AS start_token,
  (bs[k + 1] - bs[k])::BIGINT AS n_tokens,
  md5(array_to_string(list_slice(t, bs[k] + 1, bs[k + 1]), ' ')) AS chunk_hash
FROM ch ORDER BY id, chunk_idx""",

    // p89: the p88 chunk grid on the planted corpus, then the same
    // distinct + frequency-guard + self-join + pair-count derivation.
    "p89_cdc_shared" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
planted AS (SELECT doc_id, text || CASE WHEN doc_id % 9 = 0
    THEN ' $CdcPlant' ELSE '' END AS text FROM documents),
tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM planted),
cod AS (SELECT doc_id, t,
    list_transform(t, x -> ('0x' || substring(md5(x),1,8))::BIGINT) AS c
  FROM tok),
wh AS (SELECT doc_id, t, CASE WHEN len(c) >= 8 THEN
    list_transform(range(1, len(c) - 8 + 2), i ->
      list_reduce([0]::BIGINT[] || list_slice(c, i, i + 7),
        (a,b) -> (a*131 + b % $HashMod) % $HashMod))
    ELSE []::BIGINT[] END AS h FROM cod),
cuts AS (SELECT doc_id, t,
    list_transform(list_filter(range(1, len(h) + 1), i -> h[i] % 16 = 0),
      i -> i - 1 + 8) AS cl FROM wh),
bounds AS (SELECT doc_id, t,
    CASE WHEN len(cl) > 0 AND cl[-1] = len(t) THEN [0] || cl
         ELSE [0] || cl || [len(t)] END AS bs FROM cuts),
ch AS (SELECT doc_id, t, bs, unnest(range(1, len(bs))) AS k FROM bounds),
chunks AS (SELECT DISTINCT doc_id,
    md5(array_to_string(list_slice(t, bs[k] + 1, bs[k + 1]), ' ')) AS h
  FROM ch),
el AS (SELECT h FROM chunks GROUP BY h
       HAVING count(*) >= 2 AND count(*) <= 256),
hits AS (SELECT doc_id, chunks.h FROM chunks JOIN el USING (h))
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
FROM hits a JOIN hits b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 2
ORDER BY id_a, id_b""",

    // p90: contaminated groups from the fixture rule; survivors keep
    // their formula canonical.
    "p90_url_decontamination" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
bad AS (SELECT DISTINCT doc_id // 3 AS grp FROM documents WHERE doc_id % 17 = 0)
SELECT doc_id,
  'example-' || ((doc_id // 3) % 50) || '.com/Pg/' || (doc_id // 3)
    || '?a=1&b=2' AS canonical_url
FROM documents
WHERE doc_id // 3 NOT IN (SELECT grp FROM bad)
ORDER BY doc_id""",

    // p92: expected text from the fixture RULE, not the regex chain —
    // title line + h1 line + whitespace-normalized doc text + decoded
    // entity paragraph + link anchor text. A chain bug (script leak,
    // entity order, line handling) diverges from this independently
    // derived string.
    "p92_html_extract" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
n AS (SELECT doc_id,
  array_to_string(list_filter(list_transform(
    string_split(regexp_replace(text, '[ \\t\\r\\x{00a0}]+', ' ', 'g'), chr(10)),
    x -> trim(x)), x -> x <> ''), chr(10)) AS norm FROM documents)
SELECT doc_id,
  'Doc ' || doc_id || chr(10) || 'Doc ' || doc_id || chr(10) || norm ||
  chr(10) || 'Visit & enjoy <deals> now.' || chr(10) || 'next rel u s'
  AS text_extracted
FROM n ORDER BY doc_id""",

    // p93: every CDX field re-derived from the doc table + URL formula
    // — urlkey by hand-SURTing the canonical form, digest/size from
    // the text the WARC body must round-trip byte-exactly.
    "p93_cdx_index" -> CdxOracle,

    // p110: SHARES p93's oracle — the streamed index must equal the
    // batch index row for row (stateless append-mode maintenance).
    "p110_streaming_cdx" -> CdxOracle,

    // p131: both crawls' indexes re-derived from the doc table (p93's
    // urlkey/digest formulas + the B-side mutation arithmetic + the
    // A-side %19 double-capture collapsed by max(digest)), then the
    // same full-outer classification.
    "p131_crawl_diff" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
a0 AS (SELECT doc_id, text FROM documents
       UNION ALL
       SELECT doc_id, text || ' v2' FROM documents WHERE doc_id % 19 = 0),
a AS (SELECT urlkey, max(digest) AS digest FROM (
        SELECT 'com,example-' || (doc_id % 50) || ')/pg/' || doc_id
          || '?a=1&b=2' AS urlkey, sha256(text) AS digest FROM a0)
      GROUP BY urlkey),
b0 AS (SELECT doc_id, CASE WHEN doc_id % 6 = 0 THEN text || ' updated'
          ELSE text END AS text
       FROM documents WHERE doc_id % 13 <> 0
       UNION ALL
       SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 17 = 0),
b AS (SELECT 'com,example-' || (doc_id % 50) || ')/pg/' || doc_id
        || '?a=1&b=2' AS urlkey, sha256(text) AS digest FROM b0)
SELECT coalesce(a.urlkey, b.urlkey) AS urlkey,
  CASE WHEN a.urlkey IS NULL THEN 'added'
       WHEN b.urlkey IS NULL THEN 'removed'
       WHEN a.digest <> b.digest THEN 'changed' ELSE 'same' END AS status,
  a.digest AS digest_prev, b.digest AS digest_next
FROM a FULL OUTER JOIN b ON a.urlkey = b.urlkey
ORDER BY urlkey""",

    // p94: offsets from closed-form length arithmetic — per-turn
    // rendered length is role+content+13 ('<|'+role+'|>\\n' = role+5,
    // '<|end|>\\n' = 8), assistant content starts header-offset 14
    // into its turn. Any template or prefix-sum slip diverges.
    "p94_sft_render" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
      FROM documents),
c AS (SELECT doc_id,
  'You are a helpful assistant.' AS c0,
  -- array_to_string([]) is NULL in DuckDB; Spark's array_join is ''
  coalesce(array_to_string(list_slice(tk, 1, 8), ' '), '') AS c1,
  coalesce(array_to_string(list_slice(tk, 9, 20), ' '), '') AS c2,
  coalesce(array_to_string(list_slice(tk, 21, 26), ' '), '') AS c3,
  coalesce(array_to_string(list_slice(tk, 27, 36), ' '), '') AS c4
 FROM t),
l AS (SELECT doc_id, c2, c4,
  len(c0) + 19 AS l0, len(c1) + 17 AS l1, len(c2) + 22 AS l2,
  len(c3) + 17 AS l3, len(c4) + 22 AS l4
 FROM c)
SELECT doc_id, 2::BIGINT AS turn_idx,
  (l0 + l1 + 14)::BIGINT AS span_start,
  (l0 + l1 + 14 + len(c2))::BIGINT AS span_end,
  (l0 + l1 + l2 + l3 + l4)::BIGINT AS n_chars_total
FROM l
UNION ALL
SELECT doc_id, 4, l0 + l1 + l2 + l3 + 14,
  l0 + l1 + l2 + l3 + 14 + len(c4), l0 + l1 + l2 + l3 + l4
FROM l
ORDER BY doc_id, turn_idx""",

    // p128: p94's span CTEs composed with the packSequences window —
    // shard, running-sum pack bins, per-pack offsets, shifted spans.
    "p128_sft_packing" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
      FROM documents),
c AS (SELECT doc_id,
  'You are a helpful assistant.' AS c0,
  coalesce(array_to_string(list_slice(tk, 1, 8), ' '), '') AS c1,
  coalesce(array_to_string(list_slice(tk, 9, 20), ' '), '') AS c2,
  coalesce(array_to_string(list_slice(tk, 21, 26), ' '), '') AS c3,
  coalesce(array_to_string(list_slice(tk, 27, 36), ' '), '') AS c4
 FROM t),
l AS (SELECT doc_id, c2, c4,
  len(c0) + 19 AS l0, len(c1) + 17 AS l1, len(c2) + 22 AS l2,
  len(c3) + 17 AS l3, len(c4) + 22 AS l4
 FROM c),
conv AS (SELECT doc_id, doc_id % 8 AS shard,
  (l0 + l1 + l2 + l3 + l4)::BIGINT AS n, l0, l1, l2, l3, c2, c4 FROM l),
pk AS (SELECT *, (sum(n) OVER (PARTITION BY shard ORDER BY doc_id
        ROWS UNBOUNDED PRECEDING))::BIGINT AS cum FROM conv),
p2 AS (SELECT *, (cum - n) // 2048 AS pack_id FROM pk),
p3 AS (SELECT *, (cum - n) - min(cum - n)
        OVER (PARTITION BY shard, pack_id) AS off FROM p2)
SELECT doc_id, shard::BIGINT AS shard, pack_id::BIGINT AS pack_id,
  2::BIGINT AS turn_idx,
  (off + l0 + l1 + 14)::BIGINT AS mask_start,
  (off + l0 + l1 + 14 + len(c2))::BIGINT AS mask_end
FROM p3
UNION ALL
SELECT doc_id, shard, pack_id, 4, off + l0 + l1 + l2 + l3 + 14,
  off + l0 + l1 + l2 + l3 + 14 + len(c4)
FROM p3
ORDER BY doc_id, turn_idx""",

    // p95: the planted edges by formula — absolute messy link to the
    // next doc's page; root-relative (quoted AND unquoted) plus
    // path-relative links resolving against the page's own host/dir,
    // except on %10==7 pages whose <base href> re-roots both relative
    // forms onto base-{h}.example.org. A resolution, base, or
    // canonicalization slip changes rows.
    "p95_link_graph" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
d AS (SELECT doc_id,
  'example-' || (doc_id % 50) || '.com/Pg/' || doc_id || '?a=1&b=2' AS src_url,
  CASE WHEN doc_id % 10 = 7 THEN 'base-' || (doc_id % 50) || '.example.org'
       ELSE 'example-' || (doc_id % 50) || '.com' END AS bhost,
  CASE WHEN doc_id % 10 = 7 THEN 'base-' || (doc_id % 50) || '.example.org/Dir'
       ELSE 'example-' || (doc_id % 50) || '.com/Pg' END AS bdir
 FROM documents),
e AS (
 SELECT src_url, 'example-' || ((doc_id + 1) % 50) || '.com/Pg/'
          || (doc_id + 1) || '?a=1&b=2' AS dst_url FROM d
 UNION
 SELECT src_url, bhost || '/Pg/' || (doc_id * 7 + 3) || '?a=1&b=2' FROM d
 UNION
 SELECT src_url, bhost || '/Pg/' || (doc_id * 3 + 1) || '?a=1&b=2' FROM d
 UNION
 SELECT src_url, bdir || '/Sub/' || doc_id || '?a=1&b=2' FROM d)
SELECT src_url, dst_url FROM e ORDER BY src_url, dst_url""",

    // p100: the SAME 10 fixed-point iterations unrolled as CTE stages —
    // identical floor-division order (r DIV outdeg per edge, sum,
    // *85 DIV 100, + teleport), so Spark and DuckDB agree to the last
    // integer unit. Positive-only values make DuckDB's floor-div and
    // Spark's truncating DIV identical.
    "p100_pagerank" -> {
      val stages = (1 to 10).map { k =>
        s"""pr$k AS (SELECT nodes.node,
    (SELECT tele FROM t) + (85 * coalesce(cin.c, 0)) // 100 AS r
  FROM nodes LEFT JOIN (
    SELECT e.dst AS node, sum(p.r // deg.outdeg)::BIGINT AS c
    FROM e JOIN pr${k - 1} p ON e.src = p.node
           JOIN deg ON deg.src = e.src
    GROUP BY e.dst) cin ON nodes.node = cin.node)"""
      }.mkString(",\n")
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
e AS (SELECT DISTINCT doc_id % 50 AS src, (doc_id * doc_id + 1) % 50 AS dst
      FROM documents WHERE doc_id % 50 <> (doc_id * doc_id + 1) % 50),
nodes AS (SELECT DISTINCT node FROM (
  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
t AS (SELECT (1000000000000 * 15 // 100) // count(*) AS tele FROM nodes),
pr0 AS (SELECT node, 1000000000000 // (SELECT count(*) FROM nodes) AS r
        FROM nodes),
$stages
SELECT node, r AS rank FROM pr10 ORDER BY node"""
    },

    // p101: group choice + verdict re-derived in closed form. Group
    // choice by host class: h%4==0 → the `graft` group binds (its
    // token prefixes graftbot; `*` loses), kept iff decimal(id)
    // starts with '2' (Allow /Pg/2 = 5 beats Disallow /Pg = 3);
    // h%4==2 → `graftbot` (len 8) beats `graft` (len 5), its only
    // rule /private never matches → all kept (the losing graft group
    // said Disallow: / — selection is load-bearing); otherwise the
    // `*` group binds (h%4==3's otherbot group must NOT match) with
    // the r14 longest-match formula: best allow = max(/Pg = 3,
    // carve-out /Pg/1 = 5 where it matches); best disallow =
    // max(broad /Pg = 3 on h%5==2 hosts, /Pg/{h} = 4+|h| where the
    // id string starts with h — id==h, but also 202 under h=2:
    // prefix semantics are the point, stated honestly); kept iff
    // best_d <= best_a (the equal-length tie falls to allow).
    "p101_robots_filter" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
d AS (SELECT doc_id, doc_id % 50 AS h,
        doc_id::VARCHAR AS ds, (doc_id % 50)::VARCHAR AS hs FROM documents),
v AS (SELECT doc_id, h,
   CASE WHEN h % 4 = 0 THEN
     CASE WHEN starts_with(ds, '2') THEN 1 ELSE 0 END
   WHEN h % 4 = 2 THEN 1
   ELSE CASE WHEN
     greatest(CASE WHEN h % 5 = 2 THEN 3 ELSE -1 END,
              CASE WHEN h % 3 <> 1 AND starts_with(ds, hs)
                THEN 4 + len(hs) ELSE -1 END)
     <= greatest(3, CASE WHEN h % 5 = 2 AND starts_with(ds, '1')
                  THEN 5 ELSE -1 END)
     THEN 1 ELSE 0 END END AS kept
 FROM d)
SELECT doc_id,
  'example-' || h || '.com/Pg/' || doc_id || '?a=1&b=2' AS canonical_url
FROM v WHERE kept = 1 ORDER BY doc_id""",

    // p102: the streaming/batch-ingest convention — shares p08's oracle.
    "p102_jsonl_roundtrip" -> LangIdOracle,

    // p103: the identical register computation in SQL — same salted
    // md5 codes, the same 33-way trailing-zero CASE (generated), the
    // same integer harmonic fold. sum() casts guard DuckDB's HUGEINT.
    "p103_hll_distinct" -> HllShingleOracle,

    // p105: SHARES p103's oracle — the mergeability proof: max-merged
    // parity-shard registers must yield the BIT-IDENTICAL estimate of
    // the single-pass sketch.
    "p105_sketch_merge" -> HllShingleOracle,

    // p106: SHARES p103's oracle — streaming register maintenance must
    // land on the identical final sketch.
    "p106_streaming_sketch" -> HllShingleOracle,

    // p109: the composed chain in closed form — extracted length =
    // two 'Doc {id}' lines + normalized doc text + the 26-char entity
    // line + the 8-char anchor line + 4 newlines; keep-best matches
    // urlDedup's (longest, then min id) rule over each 3-capture group.
    "p109_web_pipeline" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
n AS (SELECT doc_id,
  len(array_to_string(list_filter(list_transform(
    string_split(regexp_replace(text, '[ \\t\\r\\x{00a0}]+', ' ', 'g'), chr(10)),
    x -> trim(x)), x -> x <> ''), chr(10))) AS norm_len FROM documents),
x AS (SELECT doc_id, doc_id // 3 AS grp,
  2 * (4 + len(doc_id::VARCHAR)) + norm_len + 26 + 12 + 4 AS elen FROM n),
r AS (SELECT *, row_number() OVER (PARTITION BY grp
        ORDER BY elen DESC, doc_id ASC) AS rn,
      count(*) OVER (PARTITION BY grp) AS cnt FROM x)
SELECT 'example-' || (grp % 50) || '.com/Pg/' || grp || '?a=1&b=2'
  AS canonical_url, doc_id AS kept_doc_id, cnt::BIGINT AS n_dups
FROM r WHERE rn = 1 ORDER BY canonical_url""",

    // p107: confusion counts from the closed-form score/label rules.
    // 0.2/0.5/0.8 are exact doubles in both engines (k/100.0 parses
    // identically; the >= compare is on bit-equal values).
    "p107_eval_sweep" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
d AS (SELECT (doc_id % 100) / 100.0 AS score,
             (doc_id * 7) % 10 < 6 AS label FROM documents),
t AS (SELECT unnest([0.2, 0.5, 0.8]) AS threshold)
SELECT threshold,
  sum(CASE WHEN score >= threshold AND label THEN 1 ELSE 0 END)::BIGINT AS tp,
  sum(CASE WHEN score >= threshold AND NOT label THEN 1 ELSE 0 END)::BIGINT AS fp,
  sum(CASE WHEN score < threshold AND label THEN 1 ELSE 0 END)::BIGINT AS fn,
  sum(CASE WHEN score < threshold AND NOT label THEN 1 ELSE 0 END)::BIGINT AS tn
FROM d, t GROUP BY threshold ORDER BY threshold""",

    // p108: every manifest field re-derived — the same salted shard
    // hash, whitespace token mass, and md5-prefix checksum sum.
    "p108_shard_manifest" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
d AS (SELECT
  ('0x' || substring(md5('shard:' || doc_id), 1, 8))::BIGINT % 8 AS shard,
  doc_id,
  len(string_split_regex(lower(trim(text)), '\\s+'))::BIGINT AS n_toks,
  ('0x' || substring(md5(text), 1, 8))::BIGINT AS code
 FROM documents)
SELECT shard, count(*)::BIGINT AS n_docs, sum(n_toks)::BIGINT AS n_tokens,
  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id,
  sum(code)::BIGINT AS checksum
FROM d GROUP BY shard ORDER BY shard""",

    // p104: the same 4 salted hash rows, sketch table, and min-fold in
    // SQL; absent candidates read pure collision mass.
    "p104_cms_heavyhitters" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
tok AS (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS v
        FROM documents),
d AS (SELECT unnest([0, 1, 2, 3]) AS i),
cell AS (SELECT i,
    ('0x' || substring(md5('cms' || i || ':' || v), 1, 8))::BIGINT % 256
      AS col
  FROM tok, d),
cms AS (SELECT i, col, count(*) AS cnt FROM cell GROUP BY i, col),
cand AS (SELECT DISTINCT v FROM tok
         UNION ALL SELECT 'zz_absent_a' UNION ALL SELECT 'zz_absent_b'),
ce AS (SELECT cand.v, d.i,
    ('0x' || substring(md5('cms' || d.i || ':' || cand.v), 1, 8))::BIGINT % 256
      AS col
  FROM cand, d),
lk AS (SELECT ce.v, coalesce(cms.cnt, 0) AS c
       FROM ce LEFT JOIN cms ON cms.i = ce.i AND cms.col = ce.col),
est AS (SELECT v, min(c)::BIGINT AS cms_estimate FROM lk GROUP BY v),
ex AS (SELECT v, count(*)::BIGINT AS n_exact FROM tok GROUP BY v)
SELECT est.v AS value, cms_estimate,
  coalesce(n_exact, 0)::BIGINT AS n_exact
FROM est LEFT JOIN ex ON est.v = ex.v
ORDER BY value""",

    // p96: the expected folded string in closed form — curly quotes to
    // ASCII, NBSP to space, em-dash to '-', ZWSP gone, curly
    // apostrophe to ', ellipsis to three dots.
    "p96_unicode_fold" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id AS id,
  '"' || text || '" -it''s fine...' AS text_clean,
  len('"' || text || '" -it''s fine...')::BIGINT AS n_chars_clean
FROM documents ORDER BY id""",

    // p97: the 5 expected sentences per doc in closed form — one per
    // rule branch of the planted paragraph.
    "p97_sentences" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
t AS (SELECT doc_id, coalesce(array_to_string(list_slice(
        string_split_regex(lower(trim(text)), '\\s+'), 1, 2), ' '), '') AS seg
      FROM documents),
s AS (
  SELECT doc_id, 0 AS sent_idx,
         'Intro about ' || seg || '.' AS sentence FROM t
  UNION ALL SELECT doc_id, 1, 'Then came 3.14 pies!' FROM t
  UNION ALL SELECT doc_id, 2, 'Was it real?' FROM t
  UNION ALL SELECT doc_id, 3, 'Yes. the trap stays.' FROM t
  UNION ALL SELECT doc_id, 4, 'Tail' FROM t)
SELECT doc_id AS id, sent_idx::BIGINT AS sent_idx, sentence
FROM s ORDER BY id, sent_idx""",

    // p98: per-domain page and planted-link counts straight from the
    // formula — every doc contributes 1 page, 2 out-edges, 1 in-edge
    // to its own domain (the relative link) and 1 to doc_id+1's.
    "p98_domain_signals" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
o AS (SELECT 'example-' || (doc_id % 50) || '.com' AS domain,
        count(*) AS n_pages, 4 * count(*) AS out_degree
      FROM documents GROUP BY 1),
i AS (SELECT domain, count(*) AS in_degree FROM (
    SELECT 'example-' || ((doc_id + 1) % 50) || '.com' AS domain
    FROM documents
    UNION ALL
    -- root-relative (x2) + path-relative links: the page's own domain,
    -- except base pages whose subdomain registers under example.org
    SELECT CASE WHEN doc_id % 10 = 7 THEN 'example.org'
                ELSE 'example-' || (doc_id % 50) || '.com' END
    FROM documents CROSS JOIN (SELECT unnest([1, 2, 3]) AS k))
  GROUP BY domain)
SELECT coalesce(o.domain, i.domain) AS domain,
  coalesce(n_pages, 0)::BIGINT AS n_pages,
  coalesce(out_degree, 0)::BIGINT AS out_degree,
  coalesce(in_degree, 0)::BIGINT AS in_degree
FROM o FULL JOIN i ON o.domain = i.domain
ORDER BY domain""",

    // p83: DuckDB's ROLLUP + GROUPING bitmask mirror Spark's rollup +
    // grouping_id exactly (leftmost column = MSB in both engines).
    "p83_corpus_stats" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT lang, source, GROUPING(lang, source)::BIGINT AS grouping_id,
  count(*) AS n_docs,
  sum(n_chars)::BIGINT AS n_chars_total,
  sum(len(string_split_regex(lower(trim(text)), '\\s+')))::BIGINT
    AS n_tokens_total
FROM documents GROUP BY ROLLUP(lang, source)
ORDER BY grouping_id, lang NULLS FIRST, source NULLS FIRST""",

    // p80: DuckDB recomputes the per-(domain, line) doc frequency and
    // the exact-integer threshold from the same planted text, so a
    // drifted count, a wrong boundary, or an order-scrambling rebuild
    // all diverge.
    "p80_boilerplate" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
d AS (SELECT doc_id, 'example-' || (doc_id % 40) AS domain,
        '(c) example-' || (doc_id % 40) || ' rights' || chr(10) || text ||
        CASE WHEN doc_id % 3 = 0
          THEN chr(10) || 'PROMO example-' || (doc_id % 40) ELSE '' END ||
        CASE WHEN (doc_id // 40) % 2 = 0
          THEN chr(10) || 'NOTICE example-' || (doc_id % 40) ELSE '' END ||
        chr(10) || 'subscribe example-' || (doc_id % 40) AS text
      FROM documents),
nd AS (SELECT domain, count(*) AS ndocs FROM d GROUP BY domain),
lx AS (SELECT doc_id, domain, string_split(text, chr(10)) AS ls FROM d),
l AS (SELECT doc_id, domain, z[2]::BIGINT AS ord, z[1] AS line
      FROM (SELECT doc_id, domain, unnest(list_zip(ls, range(1, len(ls) + 1))) AS z
            FROM lx)),
u AS (SELECT DISTINCT doc_id, domain, line FROM l),
c AS (SELECT domain, line, count(*) AS cnt FROM u GROUP BY domain, line),
b AS (SELECT c.domain, c.line FROM c JOIN nd ON c.domain = nd.domain
      WHERE 2 * c.cnt >= nd.ndocs AND nd.ndocs >= 3),
k AS (SELECT l.* FROM l LEFT JOIN b
        ON l.domain = b.domain AND l.line = b.line
      WHERE b.line IS NULL)
SELECT d.doc_id,
  (SELECT count(*) FROM l WHERE l.doc_id = d.doc_id)
    - count(k.line) AS n_removed,
  coalesce(string_agg(k.line, chr(10) ORDER BY k.ord), '') AS text_clean
FROM d LEFT JOIN k ON d.doc_id = k.doc_id
GROUP BY d.doc_id ORDER BY d.doc_id""",

    // p74: the planted near-dup pairs are enumerable from the doc table
    // alone — every variant of one doc is dHash-identical by fixture
    // construction (hamming 0) and distinct docs never pair (64
    // formula-derived gradient bits). Missing rows = codec/hash/banding
    // break; extra rows = an over-eager hash.
    "p74_image_neardup" -> ImageNearDupOracle,

    // p111 shares p74's ground truth: the SAME fixture rides through a
    // binary-payload .warc.gz round-trip first, so any byte corruption
    // in WARC framing/Content-Length slicing/gzip — or an eager UTF-8
    // decode of the image body — surfaces as missing pairs.
    "p111_warc_binary" -> ImageNearDupOracle,

    // p112: the windowed re-derivation — chosen = first by (score
    // DESC, id ASC), rejected = first by (score ASC, id DESC); both
    // tie-break arms fire in every group by fixture construction.
    "p112_dpo_pairs" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
c AS (SELECT doc_id // 4 AS group_id, doc_id AS id,
        ((doc_id // 2) * 37) % 50 AS s FROM documents),
r AS (SELECT *,
        row_number() OVER (PARTITION BY group_id ORDER BY s DESC, id ASC) AS rc,
        row_number() OVER (PARTITION BY group_id ORDER BY s ASC, id DESC) AS rr,
        count(*) OVER (PARTITION BY group_id) AS n FROM c)
SELECT group_id,
  max(CASE WHEN rc = 1 THEN id END)::BIGINT AS chosen_id,
  max(CASE WHEN rr = 1 THEN id END)::BIGINT AS rejected_id,
  max(s)::BIGINT AS chosen_score, min(s)::BIGINT AS rejected_score,
  (max(s) - min(s))::BIGINT AS margin, max(n)::BIGINT AS n_candidates
FROM r WHERE n >= 2 GROUP BY group_id ORDER BY group_id""",

    // p113: ground truth recomputed from scratch — per-doc distinct
    // 13-grams of lowercased whitespace tokens, eval grams from the
    // %97 split, per-train-doc distinct-hit counts. The planted slogan
    // rides the same CASE as the Spark fixture; natural corpus
    // collisions (if any) count identically on both sides.
    "p113_ngram_decontam" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
p AS (SELECT doc_id, CASE WHEN doc_id % 97 = 0 OR doc_id % 10 = 3
        THEN text || ' zq' || (doc_id % 3) ||
          ' alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu'
        ELSE text END AS text FROM documents),
w AS (SELECT doc_id, list_filter(
        string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws FROM p),
g AS (SELECT DISTINCT w.doc_id, array_to_string(w.ws[t.i:t.i + 12], ' ') AS gram
      FROM w, unnest(generate_series(1, len(w.ws) - 12)) AS t(i)),
eg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
h AS (SELECT g.doc_id, count(*) AS n_hits FROM g JOIN eg USING (gram)
      WHERE g.doc_id % 97 <> 0 GROUP BY g.doc_id)
SELECT p.doc_id AS id,
  coalesce(h.n_hits, 0)::BIGINT AS n_contaminated_grams,
  coalesce(h.n_hits, 0) > 0 AS contaminated
FROM p LEFT JOIN h ON p.doc_id = h.doc_id
WHERE p.doc_id % 97 <> 0 ORDER BY id""",

    // p114: every cell regenerated from the fixture formula — row 0's
    // bold wrap strips to nothing, cell (1,1)'s &amp;x decodes to &x;
    // the second table exists only for %7 docs.
    "p114_html_tables" -> s"""WITH $HtmlTablesOracleCtes
SELECT * FROM u ORDER BY id, table_idx, row_idx""",

    // p116: p114's regenerated rows re-shaped into GFM pipe-table
    // lines — header, ----alignment line, data rows — by the same
    // formula; a formatting or line-indexing slip changes rows.
    "p116_table_markdown" -> s"""WITH $HtmlTablesOracleCtes,
l AS (SELECT id, table_idx, 0::BIGINT AS line_idx,
        '| ' || replace(cells, '|', ' | ') || ' |' AS line
      FROM u WHERE row_idx = 0
      UNION ALL
      SELECT id, table_idx, 1::BIGINT, '|' || repeat(' --- |', n_cells::INT)
      FROM u WHERE row_idx = 0
      UNION ALL
      SELECT id, table_idx, row_idx + 1,
        '| ' || replace(cells, '|', ' | ') || ' |'
      FROM u WHERE row_idx > 0)
SELECT * FROM l ORDER BY id, table_idx, line_idx""",

    // p119: the excision recomputed from scratch — gram hits (0-based
    // starts, LOWERCASED grams over original-case tokens) against the
    // %97 eval split, gaps-and-islands merge of the [s-20, s+33)
    // windows (two hits merge iff start gap <= 13 + 2*20 = 53), then
    // every kept token re-joined in order. A window slip, a merge
    // slip, or a case-folding slip changes clean_text bytes.
    "p119_span_decontam" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
p AS (SELECT doc_id, CASE WHEN doc_id % 97 = 0 OR doc_id % 10 = 3
        THEN text || ' zq' || (doc_id % 3) ||
          ' alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu'
        ELSE text END AS text FROM documents),
w AS (SELECT doc_id, list_filter(
        string_split_regex(text, '\\s+'), x -> x <> '') AS ws FROM p),
g AS (SELECT w.doc_id, t.i - 1 AS s, array_to_string(
        list_transform(w.ws[t.i:t.i + 12], x -> lower(x)), ' ') AS gram
      FROM w, unnest(generate_series(1, len(w.ws) - 12)) AS t(i)),
eg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
h AS (SELECT DISTINCT g.doc_id, g.s FROM g JOIN eg USING (gram)
      WHERE g.doc_id % 97 <> 0),
o AS (SELECT doc_id, s, CASE WHEN s - lag(s) OVER
        (PARTITION BY doc_id ORDER BY s) <= 53 THEN 0 ELSE 1 END AS brk
      FROM h),
i0 AS (SELECT doc_id, s, sum(brk) OVER (PARTITION BY doc_id ORDER BY s
        ROWS UNBOUNDED PRECEDING) AS isl FROM o),
isl AS (SELECT doc_id, isl, greatest(min(s) - 20, 0) AS lo, max(s) + 33 AS hi
        FROM i0 GROUP BY doc_id, isl),
tok AS (SELECT w.doc_id, t.i - 1 AS idx, w.ws[t.i] AS tok
        FROM w, unnest(generate_series(1, len(w.ws))) AS t(i)
        WHERE w.doc_id % 97 <> 0),
kept AS (SELECT tok.doc_id, tok.idx, tok.tok FROM tok
         LEFT JOIN isl ON isl.doc_id = tok.doc_id
           AND tok.idx >= isl.lo AND tok.idx < isl.hi
         WHERE isl.doc_id IS NULL),
k AS (SELECT doc_id, count(*) AS n_kept,
        array_to_string(list(tok ORDER BY idx), ' ') AS clean_text
      FROM kept GROUP BY doc_id),
ns AS (SELECT doc_id, count(*) AS n_spans FROM isl GROUP BY doc_id)
SELECT w.doc_id AS id, len(w.ws)::BIGINT AS n_tokens,
  coalesce(ns.n_spans, 0)::BIGINT AS n_spans,
  (len(w.ws) - coalesce(k.n_kept, 0))::BIGINT AS n_removed,
  coalesce(k.clean_text, '') AS clean_text
FROM w LEFT JOIN k ON k.doc_id = w.doc_id
LEFT JOIN ns ON ns.doc_id = w.doc_id
WHERE w.doc_id % 97 <> 0 ORDER BY id""",

    // p117: the whole train/apply chain re-derived from scratch (see
    // LangIdOracleCtes — counts, HUGEINT cross-product vote argmax,
    // doc plurality, alphabetical ties).
    "p117_langid_trained" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
$LangIdOracleCtes
SELECT doc_id AS id, vote AS predicted_lang, gold AS gold_lang,
  vote = gold AS correct, n_grams, nv AS top_votes
FROM pred ORDER BY id""",

    // p120: p117's predicted lang routed into p72's CCNet chain — the
    // tok CTE swaps the gold label for the HUGEINT-derived vote and
    // the marked text, then every perplexity line is shared verbatim
    // with p72's oracle (perplexityOracleSql).
    "p120_langid_perplexity" -> perplexityOracleSql(
      s"""$LangIdOracleCtes,
tok AS (SELECT m.doc_id, p.vote AS lang, m.source,
        string_split_regex(lower(trim(m.text)), '\\s+') AS t
        FROM m JOIN pred p USING (doc_id))"""),

    // p118: the fixture PDF re-typeset in closed form — whitespace
    // tokens in 10-token lines under the escape-bearing header line —
    // never touching a PDF byte, so the whole generate → deflate →
    // warc.gz → inflate → text-operator chain is checked end to end.
    "p118_pdf_extract" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
w AS (SELECT doc_id, list_filter(
        string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents),
e AS (SELECT doc_id,
        'Doc ' || doc_id || ' (pdf) A' || chr(10) || array_to_string(
          [array_to_string(toks[k*10+1 : k*10+10], ' ')
           for k in range(0, CAST(ceil(len(toks)/10.0) AS BIGINT))],
          chr(10)) AS text
      FROM w)
SELECT doc_id AS id, TRUE AS xref_ok, 1::BIGINT AS n_streams,
  length(text)::BIGINT AS n_chars, text
FROM e ORDER BY id""",

    // p146: p118's closed-form re-typeset verbatim — the SQL never
    // sees a filter name or an encoded byte, so the AHx/A85 decode,
    // the cascade order, and decrypt-before-decode must all be
    // byte-exact for the text to match.
    "p146_pdf_filters" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
w AS (SELECT doc_id, list_filter(
        string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents),
e AS (SELECT doc_id,
        'Doc ' || doc_id || ' (pdf) A' || chr(10) || array_to_string(
          [array_to_string(toks[k*10+1 : k*10+10], ' ')
           for k in range(0, CAST(ceil(len(toks)/10.0) AS BIGINT))],
          chr(10)) AS text
      FROM w)
SELECT doc_id AS id, TRUE AS xref_ok, 1::BIGINT AS n_streams,
  length(text)::BIGINT AS n_chars, text
FROM e ORDER BY id""",

    // p149: p118's closed-form re-typeset verbatim — the SQL never
    // sees a hash round or a key unwrap; both R5 and R6 must decrypt
    // byte-exactly for the text to match.
    "p149_pdf_aes256" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
w AS (SELECT doc_id, list_filter(
        string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents),
e AS (SELECT doc_id,
        'Doc ' || doc_id || ' (pdf) A' || chr(10) || array_to_string(
          [array_to_string(toks[k*10+1 : k*10+10], ' ')
           for k in range(0, CAST(ceil(len(toks)/10.0) AS BIGINT))],
          chr(10)) AS text
      FROM w)
SELECT doc_id AS id, TRUE AS xref_ok, 1::BIGINT AS n_streams,
  length(text)::BIGINT AS n_chars, text
FROM e ORDER BY id""",

    // p147: p139's closed-form CID re-typeset with n_streams 3 — the
    // SQL never sees an object stream, so expansion, pair-header
    // parsing, and compressed-resident font resolution must all be
    // byte-exact for the text to match.
    "p147_pdf_objstm" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
w AS (SELECT doc_id, list_filter(
        string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents),
e AS (SELECT doc_id,
        'Doc ' || doc_id || ' (cid) A' || chr(10) || array_to_string(
          [array_to_string(toks[k*10+1 : k*10+10], ' ')
           for k in range(0, CAST(ceil(len(toks)/10.0) AS BIGINT))],
          chr(10)) AS text
      FROM w)
SELECT doc_id AS id, TRUE AS xref_ok, 3::BIGINT AS n_streams,
  length(text)::BIGINT AS n_chars, text
FROM e ORDER BY id""",

    // p151: the closed-form re-typeset per predictor lane — classic
    // layout for the three content-stream predictor shapes (doc_id %
    // 4 in 0..2, header "(pdf)", 1 stream), the CID/ObjStm layout for
    // the predicted object stream (lane 3, header "(cid)", 3
    // streams). The SQL never sees a predictor, a row tag, or an
    // ObjStm: any un-prediction slip yields no text (or garbage) and
    // kills the match on a quarter of the rows.
    "p151_pdf_predictor" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
w AS (SELECT doc_id, list_filter(
        string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents),
e AS (SELECT doc_id,
        'Doc ' || doc_id ||
          CASE WHEN doc_id % 4 = 3 THEN ' (cid) A' ELSE ' (pdf) A' END ||
          chr(10) || array_to_string(
          [array_to_string(toks[k*10+1 : k*10+10], ' ')
           for k in range(0, CAST(ceil(len(toks)/10.0) AS BIGINT))],
          chr(10)) AS text
      FROM w)
SELECT doc_id AS id, TRUE AS xref_ok,
  (CASE WHEN doc_id % 4 = 3 THEN 3 ELSE 1 END)::BIGINT AS n_streams,
  length(text)::BIGINT AS n_chars, text
FROM e ORDER BY id""",

    // p160: p151's closed form under %5 lanes — the LZW/RunLength
    // transports must be invisible in the extracted text; lane 4 is
    // the (cid) ObjStm re-typeset with n_streams 3.
    "p160_pdf_lzw" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
w AS (SELECT doc_id, list_filter(
        string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents),
e AS (SELECT doc_id,
        'Doc ' || doc_id ||
          CASE WHEN doc_id % 5 = 4 THEN ' (cid) A' ELSE ' (pdf) A' END ||
          chr(10) || array_to_string(
          [array_to_string(toks[k*10+1 : k*10+10], ' ')
           for k in range(0, CAST(ceil(len(toks)/10.0) AS BIGINT))],
          chr(10)) AS text
      FROM w)
SELECT doc_id AS id, TRUE AS xref_ok,
  (CASE WHEN doc_id % 5 = 4 THEN 3 ELSE 1 END)::BIGINT AS n_streams,
  length(text)::BIGINT AS n_chars, text
FROM e ORDER BY id""",

    // p161: the cross-door pairs closed-form from the planting rule —
    // identical bytes through two doors pair at hamming 0; a decode,
    // cascade, or extraction slip on EITHER door loses its row.
    "p161_pdf_images" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id * 10 AS id_a, doc_id * 10 + 1 AS id_b, 0::BIGINT AS hamming
FROM documents WHERE doc_id % 3 = 0 ORDER BY id_a, id_b""",

    // p164: every field re-derived from the published MPEG-1 Layer III
    // tables and the fixture formulas — exact integer duration.
    "p164_mp3_metadata" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id AS id,
  ([32,40,48,56,64,80,96,112,128,160,192,224,256,320])[
    (1 + doc_id % 9)::INT]::BIGINT AS bitrate_kbps,
  (doc_id % 5 = 0) AS is_vbr,
  ([44100,48000,32000])[(doc_id % 3 + 1)::INT]::BIGINT AS sample_rate,
  1::BIGINT AS channels,
  (2 + doc_id % 7)::BIGINT AS n_frames,
  ((2 + doc_id % 7) * 1152000
    // ([44100,48000,32000])[(doc_id % 3 + 1)::INT])::BIGINT AS duration_ms
FROM documents ORDER BY id""",

    // p169: fields + the dedup window verdict re-derived closed-form —
    // a rel-token, attr-order, resolution, or first-wins slip diverges.
    "p169_canonical_meta" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
e AS (SELECT doc_id AS id,
  'site-' || (doc_id % 50) || '.example.com/p/' || doc_id
    || '?a=1&b=2' AS page_url,
  CASE WHEN doc_id % 4 = 0
         THEN 'canon.example.org/c/' || (doc_id - doc_id % 12)
       WHEN doc_id % 4 = 2
         THEN 'site-' || (doc_id % 50) || '.example.com/self/' || doc_id
       ELSE NULL END AS canonical_url,
  'T ' || doc_id AS og_title,
  CASE WHEN doc_id % 3 = 0 THEN 'D ' || (doc_id % 7)
       ELSE NULL END AS og_description
 FROM documents),
k AS (SELECT *, coalesce(canonical_url, page_url) AS effective_key FROM e)
SELECT id, page_url, canonical_url, og_title, og_description,
  effective_key,
  id = min(id) OVER (PARTITION BY effective_key) AS is_kept
FROM k ORDER BY id""",

    // p168: every cue re-derived closed-form — a timestamp-decompose,
    // settings-suffix, header-block, or id-line-leak slip diverges.
    "p168_subtitles" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
c AS (SELECT doc_id, t.j FROM documents,
        unnest(generate_series(0, doc_id % 4)) AS t(j)),
e AS (SELECT doc_id AS id, j, (doc_id % 2 = 0) AS isvtt,
        (doc_id*7 + j*3)*1000 + doc_id % 1000 AS sms FROM c)
SELECT id, (j + CASE WHEN isvtt THEN 1 ELSE 0 END)::BIGINT AS cue_idx,
  sms::BIGINT AS start_ms, (sms + 2000 + j*500)::BIGINT AS end_ms,
  'line one of cue ' || j || ' and doc ' || id || ' line two' AS text
FROM e ORDER BY id, cue_idx""",

    // p167: each upright/rotated pair lands at hamming 0 — a
    // transform-direction, dimension-swap, or EXIF-read slip breaks
    // most rows (half the bits flip under a wrong rotation).
    "p167_exif_orientation" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id * 10 AS id_a, doc_id * 10 + 1 AS id_b, 0::BIGINT AS hamming
FROM documents WHERE doc_id % 3 = 2 ORDER BY id_a, id_b""",

    // p166: the tag fields re-derived closed-form — a version-size,
    // encoding, or frame-walk slip diverges rows.
    "p166_id3_tags" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id AS id, 'Track ' || doc_id AS title,
  'Artist ' || (doc_id % 50) AS artist,
  'Album ' || (doc_id % 20) AS album
FROM documents ORDER BY id""",

    // p165: every EXIF field re-derived from the fixture formulas —
    // a byte-order, offset-vs-inline, or IFD-geometry slip diverges.
    "p165_jpeg_exif" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id AS id, (1 + doc_id % 8)::BIGINT AS orientation,
  '2026:08:' || lpad((1 + doc_id % 28)::VARCHAR, 2, '0') || ' '
    || lpad((doc_id % 24)::VARCHAR, 2, '0') || ':00:00' AS datetime,
  'Cam' || (doc_id % 5) AS make,
  'M' || (doc_id % 7) AS model
FROM documents ORDER BY id""",

    // p163: exactly p161's closed form — the WARC transit must be
    // INVISIBLE (byte-exact binary round-trip), so the pair list is
    // unchanged.
    "p163_warc_pdf_images" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id * 10 AS id_a, doc_id * 10 + 1 AS id_b, 0::BIGINT AS hamming
FROM documents WHERE doc_id % 3 = 0 ORDER BY id_a, id_b""",

    // p162: p161's closed form on the %3==1 lane — lossless raw-sample
    // decode means identical pixels through both doors, hamming 0.
    "p162_pdf_image_raw" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id * 10 AS id_a, doc_id * 10 + 1 AS id_b, 0::BIGINT AS hamming
FROM documents WHERE doc_id % 3 = 1 ORDER BY id_a, id_b""",

    // p158: the decoded paragraph built closed-form — numeric decimal
    // + hex, Latin-1 and typographic names, nbsp-to-space
    // normalization, the double-encoding pass-once rule, unknown-name
    // and invalid-scalar pass-through all load-bearing in one string.
    "p158_html_entities" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
n AS (SELECT doc_id,
  array_to_string(list_filter(list_transform(
    string_split(regexp_replace(text, '[ \\t\\r\\x{00a0}]+', ' ', 'g'), chr(10)),
    x -> trim(x)), x -> x <> ''), chr(10)) AS norm FROM documents)
SELECT doc_id, norm || chr(10) ||
  'café é é naïve — “q” … 3 × 4 €9 &lt; &bogus; &#xD800; R&D'
  AS text_extracted
FROM n ORDER BY doc_id""",

    // p157: every wildcard verdict re-derived closed-form — kept rows
    // are the .html lane plus the .pdf lane's ids starting with '2'
    // (the longer Allow pattern outranks the Disallow); the SQL never
    // evaluates a pattern, so translation, anchoring, and
    // pattern-length precedence must all be exact.
    "p157_robots_wildcards" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id,
  'w-' || (doc_id % 50) || '.com' ||
  CASE doc_id % 3
    WHEN 0 THEN '/p/' || doc_id || '.pdf'
    WHEN 1 THEN '/p/' || doc_id || '.html'
    ELSE '/mid/' || doc_id || '/deep/page'
  END AS canonical_url
FROM documents
WHERE doc_id % 3 = 1
   OR (doc_id % 3 = 0 AND CAST(doc_id AS VARCHAR) LIKE '2%')
ORDER BY doc_id""",

    // p156: each chain's final target computed closed-form (the root
    // of id's group is id - id%4 + 1) — the SQL never follows an
    // edge, so the pointer-doubling must land every hop of every
    // chain on its true terminal.
    "p156_redirect_collapse" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id, 'u' || doc_id AS src_url,
  'f' || (doc_id - (doc_id % 4) + 1) AS final_url
FROM documents WHERE doc_id % 4 <> 0 ORDER BY doc_id""",

    // p155: each redirect edge re-derived closed-form — the SQL never
    // resolves a URL, so the Location header transit, the relative
    // resolution (../ folding included), and the canonicalization must
    // all be exact; 200 rows must contribute NO edge.
    "p155_redirect_edges" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id,
  'example.org/doc/' || doc_id AS src_url,
  CASE doc_id % 4
    WHEN 1 THEN 'example.org/doc/' || doc_id || '-new'
    WHEN 2 THEN 'example.org/moved/' || doc_id
    ELSE 'example.org/r/' || doc_id
  END AS dst_url,
  (CASE doc_id % 4 WHEN 1 THEN 301 WHEN 2 THEN 302
    ELSE 308 END)::BIGINT AS status
FROM documents WHERE doc_id % 4 <> 0 ORDER BY doc_id""",

    // p154: each lane's decoded body rebuilt closed-form in SQL (the
    // oracle never touches a byte encoding — DuckDB strings are UTF-8,
    // so equality proves the parser recovered the exact characters
    // through latin-1/cp1252/UTF-16/meta-prescan transit).
    "p154_charset_decode" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
e AS (SELECT doc_id, doc_id % 5 AS lane,
  CASE doc_id % 5
    WHEN 0 THEN text
    WHEN 1 THEN text || ' café'
    WHEN 2 THEN text || ' €uro'
    WHEN 3 THEN text || ' 𝄞'
    ELSE '<html><head><meta charset="windows-1252"><title>t</title></head><body>'
      || text || ' €</body></html>'
  END AS body FROM documents)
SELECT doc_id, lane, md5(body) AS body_md5 FROM e ORDER BY doc_id""",

    // p153: the closed-form CID re-typeset with n_streams 4 — the SQL
    // never sees a trailer, an xref stream, a predictor, or a cipher,
    // so /Encrypt-via-startxref resolution, /ID recovery, ObjStm
    // expansion, and per-object decryption must all be byte-exact on
    // the encrypted lanes for any text to come out.
    "p153_pdf_xrefstream" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
w AS (SELECT doc_id, list_filter(
        string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents),
e AS (SELECT doc_id,
        'Doc ' || doc_id || ' (cid) A' || chr(10) || array_to_string(
          [array_to_string(toks[k*10+1 : k*10+10], ' ')
           for k in range(0, CAST(ceil(len(toks)/10.0) AS BIGINT))],
          chr(10)) AS text
      FROM w)
SELECT doc_id AS id, TRUE AS xref_ok, 4::BIGINT AS n_streams,
  length(text)::BIGINT AS n_chars, text
FROM e ORDER BY id""",

    // p152: every field re-derived from the fixture formula — format
    // from the lane, dims from the w/h closed form (canvas and
    // bitstream agree by construction), alpha from lane rules (VP8
    // never, VP8L the %3 bit, static VP8X always via flag+ALPH,
    // animated VP8X the %3 bit), animation and ANMF count from lane 3.
    "p152_webp_metadata" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT doc_id AS id,
  CASE doc_id % 4 WHEN 0 THEN 'vp8' WHEN 1 THEN 'vp8l'
       ELSE 'vp8x' END AS format,
  (16 + (doc_id * 7) % 240)::BIGINT AS width,
  (16 + (doc_id * 13) % 180)::BIGINT AS height,
  CASE WHEN doc_id % 4 = 0 THEN FALSE
       WHEN doc_id % 4 = 2 THEN TRUE
       ELSE doc_id % 3 = 0 END AS has_alpha,
  doc_id % 4 = 3 AS is_animated,
  (CASE WHEN doc_id % 4 = 3 THEN 2 + doc_id % 3 ELSE 0 END)::BIGINT
    AS n_frames
FROM documents ORDER BY id""",

    // p139: p118's closed-form re-typeset with the CID header — the
    // SQL never sees a CID, a CMap, or a hex string, so the whole
    // Type0 chain (font resolution → per-object CMap decrypt+inflate →
    // bfchar/bfrange parse → 2-byte grouping → map application) must
    // be byte-exact for the text to match. n_streams is 2 here: the
    // content stream AND the ToUnicode CMap stream both ride the walk.
    "p139_pdf_cid" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
w AS (SELECT doc_id, list_filter(
        string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents),
e AS (SELECT doc_id,
        'Doc ' || doc_id || ' (cid) A' || chr(10) || array_to_string(
          [array_to_string(toks[k*10+1 : k*10+10], ' ')
           for k in range(0, CAST(ceil(len(toks)/10.0) AS BIGINT))],
          chr(10)) AS text
      FROM w)
SELECT doc_id AS id, TRUE AS xref_ok, 2::BIGINT AS n_streams,
  length(text)::BIGINT AS n_chars, text
FROM e ORDER BY id""",

    // p140: the COMPLETE WAT JSON envelope re-derived byte-for-byte
    // from the fixture formula — to_json's compact rendering, struct
    // field order, the raw (unresolved) href values in document order,
    // and the quoted-scan's fragment stop are all load-bearing; a
    // field-order slip, an escape slip, or a link-walk slip changes
    // bytes.
    "p140_wat" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
d AS (SELECT doc_id,
  'https://www.Example-' || (doc_id % 50) || '.com/Pg/' || doc_id
    || '/?b=2&a=1' AS uri,
  'https://Example-' || ((doc_id + 1) % 50) || '.com/Pg/' || (doc_id + 1)
    || '?b=2&a=1&utm_source=x' AS l1,
  '/Pg/' || (doc_id * 7 + 3) || '/?b=2&a=1&gclid=g' AS l2,
  '/Pg/' || (doc_id * 3 + 1) || '?b=2&a=1' AS l3,
  'Sub/' || doc_id || '?b=2&a=1' AS l4
 FROM documents)
SELECT doc_id AS id, uri AS target_uri,
  '{"Envelope":{"Format":"WARC","WARC-Header-Metadata":{"WARC-Type":"response","WARC-Target-URI":"'
  || uri || '","WARC-Record-ID":"<urn:graft:doc:' || doc_id
  || '>"},"Payload-Metadata":{"Actual-Content-Type":"application/http; msgtype=response","HTTP-Response-Metadata":{"Response-Message":{"Status":"200"},"Headers":{"Content-Type":"text/html; charset=utf-8"},"HTML-Metadata":{"Head":{"Title":"Doc '
  || doc_id || '"},"Links":[{"path":"A@/href","url":"' || l1
  || '"},{"path":"A@/href","url":"' || l2
  || '"},{"path":"A@/href","url":"' || l3
  || '"},{"path":"A@/href","url":"' || l4 || '"}]}}}}}' AS wat
FROM d ORDER BY id""",

    // p121: gates, cuts, and renders all re-derived from the md5 chain
    // (the p84 convention) — a gate slip, an off-by-one in a cut, or a
    // sentinel-order slip changes text bytes.
    "p121_fim" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
h AS (SELECT doc_id, text, length(text)::BIGINT AS n,
        ('0x' || substring(md5(doc_id::VARCHAR || ':v1:gate'), 1, 8))::BIGINT % 100 AS gate,
        ('0x' || substring(md5(doc_id::VARCHAR || ':v1:mode'), 1, 8))::BIGINT % 100 AS md,
        ('0x' || substring(md5(doc_id::VARCHAR || ':v1:c1'), 1, 8))::BIGINT % (length(text) + 1) AS c1,
        ('0x' || substring(md5(doc_id::VARCHAR || ':v1:c2'), 1, 8))::BIGINT % (length(text) + 1) AS c2
      FROM documents),
s AS (SELECT doc_id, text, n, gate < 50 AS fim, md < 50 AS spm,
        least(c1, c2) AS lo, greatest(c1, c2) AS hi FROM h)
SELECT doc_id, fim,
  CASE WHEN NOT fim THEN 'plain' WHEN spm THEN 'spm' ELSE 'psm' END AS mode,
  CASE WHEN fim THEN lo END AS n_prefix,
  CASE WHEN fim THEN hi - lo END AS n_middle,
  CASE WHEN fim THEN n - hi END AS n_suffix,
  CASE WHEN NOT fim THEN text
       WHEN spm THEN '<|fim_suffix|>' || substring(text, (hi + 1)::INT, (n - hi)::INT)
         || '<|fim_prefix|>' || substring(text, 1, lo::INT)
         || '<|fim_middle|>' || substring(text, (lo + 1)::INT, (hi - lo)::INT)
       ELSE '<|fim_prefix|>' || substring(text, 1, lo::INT)
         || '<|fim_suffix|>' || substring(text, (hi + 1)::INT, (n - hi)::INT)
         || '<|fim_middle|>' || substring(text, (lo + 1)::INT, (hi - lo)::INT)
       END AS text
FROM s ORDER BY doc_id""",

    // p122: both entry populations regenerated closed-form (urlset for
    // doc_id%7!=0, index refs otherwise) with the loc's &amp; DECODED —
    // the parser's output, never the XML. p126 is the STREAMING drain
    // of the same parse and shares it verbatim (batch ≡ streaming).
    "p122_sitemaps" -> SitemapsOracle,
    "p126_streaming_sitemaps" -> SitemapsOracle,

    // p123: the fixture text rebuilt closed-form, every metric
    // recomputed with SQL built-ins (list_max over the line split,
    // regexp char strip, // integral division).
    "p123_code_quality" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
w AS (SELECT doc_id, list_filter(
        string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents),
b AS (SELECT doc_id,
        (CASE WHEN doc_id % 11 = 0
          THEN '// Auto-Generated by graftgen' || chr(10) ELSE '' END)
        || array_to_string(
             [array_to_string(toks[k*7+1 : k*7+7], ' ')
              for k in range(0, CAST(ceil(len(toks)/7.0) AS BIGINT))],
             chr(10))
        || (CASE WHEN doc_id % 9 = 0
          THEN chr(10) || repeat('x', 1200) ELSE '' END) AS text
      FROM w),
m AS (SELECT doc_id AS id,
        len(string_split(text, chr(10)))::BIGINT AS n_lines,
        list_max(list_transform(string_split(text, chr(10)),
          x -> length(x)))::BIGINT AS max_line_len,
        length(text)::BIGINT AS n_chars,
        length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))::BIGINT
          AS n_alnum,
        (lower(text) LIKE '%auto-generated%'
          OR lower(text) LIKE '%autogenerated%'
          OR lower(text) LIKE '%generated by%') AS autogen
      FROM b),
f AS (SELECT id, n_lines, max_line_len,
        (n_chars - (n_lines - 1)) * 1000 // n_lines AS mean_line_milli,
        n_alnum * 10000 // n_chars AS alnum_bp, autogen
      FROM m)
SELECT *, (max_line_len <= 1000 AND mean_line_milli <= 100000
  AND alnum_bp >= 2500 AND NOT autogen) AS keep
FROM f ORDER BY id""",

    // p124: p118's closed-form PDF re-typeset composed with p09's
    // quality formula — end-to-end over the extracted text.
    "p124_pdf_pipeline" -> {
      val stop = graft.functions.TextFunctions.DefaultStopwords("en")
        .map("'" + _ + "'").mkString(", ")
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
w AS (SELECT doc_id, list_filter(
        string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents),
e AS (SELECT doc_id,
        'Doc ' || doc_id || ' (pdf) A' || chr(10) || array_to_string(
          [array_to_string(toks[k*10+1 : k*10+10], ' ')
           for k in range(0, CAST(ceil(len(toks)/10.0) AS BIGINT))],
          chr(10)) AS text
      FROM w),
base AS (
  SELECT doc_id AS id, length(text)::BIGINT AS n_chars,
         string_split_regex(lower(trim(text)), '\\s+') AS t,
         length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))::BIGINT AS punct
  FROM e),
m AS (
  SELECT id, n_chars, len(t)::BIGINT AS n_tokens,
    list_reduce([0]::BIGINT[] || list_transform(t, x -> length(x)::BIGINT),
      (a,b) -> a+b)::DOUBLE / len(t)::DOUBLE AS mean_len,
    punct::DOUBLE / n_chars::DOUBLE AS punct_ratio,
    len(list_filter(t, x -> list_contains([$stop], x)))::DOUBLE / len(t)::DOUBLE
      AS stop_ratio
  FROM base)
SELECT id, n_chars, n_tokens,
  round(mean_len, 6) AS mean_token_len,
  round(punct_ratio, 6) AS punct_ratio,
  round(stop_ratio, 6) AS stopword_ratio,
  round(GREATEST(0.0, 1.0 - abs(mean_len - 5.0) / 10.0 - punct_ratio * 2.0
    + stop_ratio * 0.5), 6) AS quality_score
FROM m ORDER BY id"""
    },

    // p129: track layout and durations from the fixture arithmetic —
    // video n = id%50+10 at 25fps (40 ms/sample, media timescale
    // 1000), audio n = id%30+5 on odd ids, movie duration follows the
    // LONGER track through the timescale-600 round-trip. p130 is the
    // SAME fixture recovered from a .warc.gz round-trip and shares the
    // oracle (byte-exact binary transit, the p111 convention).
    "p129_mp4_metadata" -> Mp4MetaOracle,
    "p130_warc_video" -> Mp4MetaOracle,
    // p148 SHARES it: version-1 boxes, co64, and largesize mdat must
    // parse to the identical per-track rows (the 64-bit twin).
    "p148_mp4_64bit" -> Mp4MetaOracle,

    // p127: kept blocks regenerated closed-form — content paras with
    // cleaned length >= 25 plus the light-link para (its entity
    // DECODED) — and block counts from the planting arithmetic.
    "p127_main_content" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
w AS (SELECT doc_id, list_filter(
        string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents),
p AS (SELECT doc_id,
        [array_to_string(toks[k*8+1 : k*8+8], ' ')
         for k in range(0, CAST(ceil(len(toks)/8.0) AS BIGINT))] AS paras
      FROM w),
x AS (SELECT doc_id,
        list_filter(paras, s -> length(s) >= 25
          AND len(list_filter(string_split(s, ' '),
                t -> list_contains(${MainContentStopwords
                  .mkString("['", "','", "']")}, lower(t)))) * 10000
              >= len(string_split(s, ' ')) * 500)
        || (CASE WHEN doc_id % 5 = 0 THEN ['See the docs for background ' ||
            'information and details & more café —'] ELSE []::VARCHAR[] END)
          AS kept,
        len(paras) + 2
        + (CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)
        + (CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) AS n_blocks
      FROM p)
SELECT doc_id AS id, n_blocks::BIGINT AS n_blocks,
  len(kept)::BIGINT AS n_kept,
  coalesce(array_to_string(kept, chr(10)), '') AS main_text
FROM x ORDER BY id""",

    // p125: the urlset population from p122's oracle re-derived, then
    // the politeness window recomputed — priority defaulting, null
    // ordering, tie-breaks, and round folding all from scratch.
    "p125_frontier" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
u AS (SELECT doc_id, t.j FROM documents,
        unnest(generate_series(0, doc_id % 5)) AS t(j)
      WHERE doc_id % 7 <> 0),
e AS (SELECT 'site' || (doc_id % 40) || '.example.com' AS host,
        'https://site' || (doc_id % 40) || '.example.com/page/' || doc_id
          || '/' || j || '?a=1&b=2' AS loc,
        CASE WHEN j % 2 = 0
          THEN '2024-01-' || lpad(((doc_id + j) % 28 + 1)::VARCHAR, 2, '0')
          END AS lastmod,
        (CASE WHEN j % 2 = 1 THEN ((doc_id + j) % 10) * 100
          ELSE 500 END)::BIGINT AS priority_milli
      FROM u),
r AS (SELECT host, loc, priority_milli,
        row_number() OVER (PARTITION BY host ORDER BY priority_milli DESC,
          lastmod DESC NULLS LAST, loc) AS rn
      FROM e)
SELECT host, loc, priority_milli, (rn + 1) // 2 AS fetch_round
FROM r ORDER BY host, fetch_round, loc""",

    // p132: p125's frontier closed form restricted to DISCOVERED
    // sitemaps — the robots fixture advertises exactly the doc_id % 3
    // <> 1 sitemap docs, and %7 == 0 docs are sitemapindex pointers
    // (not fetchables). The SQL never parses robots or XML: if the
    // directive extraction, the broadcast semi-join, or the discovery
    // gate leaks even one undiscovered sitemap, rows diverge.
    "p132_sitemap_discovery" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
u AS (SELECT doc_id, t.j FROM documents,
        unnest(generate_series(0, doc_id % 5)) AS t(j)
      WHERE doc_id % 7 <> 0 AND doc_id % 3 <> 1),
e AS (SELECT 'site' || (doc_id % 40) || '.example.com' AS host,
        'https://site' || (doc_id % 40) || '.example.com/page/' || doc_id
          || '/' || j || '?a=1&b=2' AS loc,
        CASE WHEN j % 2 = 0
          THEN '2024-01-' || lpad(((doc_id + j) % 28 + 1)::VARCHAR, 2, '0')
          END AS lastmod,
        (CASE WHEN j % 2 = 1 THEN ((doc_id + j) % 10) * 100
          ELSE 500 END)::BIGINT AS priority_milli
      FROM u),
r AS (SELECT host, loc, priority_milli,
        row_number() OVER (PARTITION BY host ORDER BY priority_milli DESC,
          lastmod DESC NULLS LAST, loc) AS rn
      FROM e)
SELECT host, loc, priority_milli, (rn + 1) // 2 AS fetch_round
FROM r ORDER BY host, fetch_round, loc""",

    // p138: the pointed-at (host, child) space re-derived from the
    // index arithmetic (distinct over site_id%7==0 docs), then every
    // child entry stated closed-form — unpointed children in the store
    // must contribute nothing.
    "p138_sitemap_children" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
hj AS (SELECT DISTINCT (doc_id % 40) AS h, t.j
       FROM documents, unnest(generate_series(0, doc_id % 3)) AS t(j)
       WHERE doc_id % 7 = 0)
SELECT 'https://site' || h || '.example.com/sitemap-' || j || '.xml' AS site,
  'urlset' AS kind, u.k::BIGINT AS entry_idx,
  'https://site' || h || '.example.com/child/' || j || '/' || u.k AS loc,
  NULL::VARCHAR AS lastmod, NULL::VARCHAR AS changefreq,
  CASE WHEN u.k = 1 THEN '0.' || ((h + j) % 10) END AS priority
FROM hj, unnest(generate_series(0, 1)) AS u(k)
ORDER BY site, entry_idx""",

    // p136: p132's discovered frontier with the pacing closed form —
    // delay = host's Crawl-delay (h%5+1 by the robots arithmetic),
    // fetch_at = (round-1) * delay.
    "p136_frontier_pacing" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
u AS (SELECT doc_id, t.j FROM documents,
        unnest(generate_series(0, doc_id % 5)) AS t(j)
      WHERE doc_id % 7 <> 0 AND doc_id % 3 <> 1),
e AS (SELECT (doc_id % 40) AS hn,
        'site' || (doc_id % 40) || '.example.com' AS host,
        'https://site' || (doc_id % 40) || '.example.com/page/' || doc_id
          || '/' || j || '?a=1&b=2' AS loc,
        CASE WHEN j % 2 = 0
          THEN '2024-01-' || lpad(((doc_id + j) % 28 + 1)::VARCHAR, 2, '0')
          END AS lastmod,
        (CASE WHEN j % 2 = 1 THEN ((doc_id + j) % 10) * 100
          ELSE 500 END)::BIGINT AS priority_milli
      FROM u),
r AS (SELECT hn, host, loc, priority_milli,
        row_number() OVER (PARTITION BY host ORDER BY priority_milli DESC,
          lastmod DESC NULLS LAST, loc) AS rn
      FROM e)
SELECT host, loc, (rn + 1) // 2 AS fetch_round,
  (((rn + 1) // 2 - 1) * (hn % 5 + 1))::BIGINT AS fetch_at_sec
FROM r ORDER BY host, fetch_at_sec, loc""",

    // p137: all four planted anchor families over p95's dst formulas,
    // occurrence counts + distinct sources + the sorted anchor-set
    // join re-derived without parsing HTML.
    "p137_anchor_text" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
d AS (SELECT doc_id,
  'example-' || (doc_id % 50) || '.com/Pg/' || doc_id || '?a=1&b=2' AS src_url,
  CASE WHEN doc_id % 10 = 7 THEN 'base-' || (doc_id % 50) || '.example.org'
       ELSE 'example-' || (doc_id % 50) || '.com' END AS bhost,
  CASE WHEN doc_id % 10 = 7 THEN 'base-' || (doc_id % 50) || '.example.org/Dir'
       ELSE 'example-' || (doc_id % 50) || '.com/Pg' END AS bdir
 FROM documents),
e AS (
 SELECT src_url, 'example-' || ((doc_id + 1) % 50) || '.com/Pg/'
          || (doc_id + 1) || '?a=1&b=2' AS dst_url, 'next' AS anchor FROM d
 UNION ALL
 SELECT src_url, bhost || '/Pg/' || (doc_id * 7 + 3) || '?a=1&b=2', 'rel' FROM d
 UNION ALL
 SELECT src_url, bhost || '/Pg/' || (doc_id * 3 + 1) || '?a=1&b=2', 'u' FROM d
 UNION ALL
 SELECT src_url, bdir || '/Sub/' || doc_id || '?a=1&b=2', 's' FROM d)
SELECT dst_url, count(*)::BIGINT AS n_refs,
  count(DISTINCT src_url)::BIGINT AS n_pages,
  array_to_string(list_sort(list_distinct(list(anchor))), '|') AS anchors
FROM e WHERE dst_url <> src_url
GROUP BY dst_url ORDER BY dst_url""",

    // p135: the hit rows are exactly p93's index rows for the FIRST 64
    // %11 docs (the bounded request batch) — the miss URLs must
    // contribute nothing.
    "p135_cdx_lookup" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet')),
hits AS (SELECT doc_id, text FROM documents WHERE doc_id % 11 = 0
         ORDER BY doc_id LIMIT 64)
SELECT
  'com,example-' || (doc_id % 50) || ')/pg/' || doc_id || '?a=1&b=2' AS urlkey,
  'example-' || (doc_id % 50) || '.com/Pg/' || doc_id || '?a=1&b=2' AS url,
  200::BIGINT AS status,
  sha256(text) AS digest,
  strlen(text)::BIGINT AS n_bytes
FROM hits ORDER BY urlkey""",

    // p133: captures re-derived from the doc table — one response per
    // doc plus one headers-only revisit per %9 doc whose digest equals
    // the referent's, so the collapse is closed-form: n_digests is
    // ALWAYS 1 and stored bytes count the response payload only.
    "p133_warc_revisit" ->
      s"""WITH documents AS (SELECT * FROM read_parquet('$Sf/documents.parquet'))
SELECT 'org,example)/doc/' || doc_id AS urlkey,
  (CASE WHEN doc_id % 9 = 0 THEN 2 ELSE 1 END)::BIGINT AS n_captures,
  (CASE WHEN doc_id % 9 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_revisits,
  1::BIGINT AS n_digests,
  sha256(text) AS digest,
  strlen(text)::BIGINT AS stored_bytes
FROM documents ORDER BY urlkey""",

    "p15_streaming" ->
      s"""WITH $eventsCte,
e AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events),
f AS (SELECT *, CASE WHEN prev_ts IS NULL
        OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        THEN 1 ELSE 0 END AS is_new FROM e),
g AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS UNBOUNDED PRECEDING)::BIGINT AS session_idx FROM f),
sess AS (
  SELECT user_id, session_idx, count(*) AS n_events,
    epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
    round(sum(value), 4) AS total_value
  FROM g GROUP BY user_id, session_idx)
SELECT user_id, session_idx, n_events, start_us, end_us, total_value
FROM (SELECT *, max(session_idx) OVER (PARTITION BY user_id) AS last_idx FROM sess)
WHERE session_idx < last_idx
ORDER BY user_id, session_idx""",

    "p13_sessionize" ->
      s"""WITH $eventsCte,
e AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events),
f AS (SELECT *, CASE WHEN prev_ts IS NULL
        OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        THEN 1 ELSE 0 END AS is_new FROM e),
g AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS UNBOUNDED PRECEDING)::BIGINT AS session_idx FROM f)
SELECT user_id, session_idx, count(*) AS n_events,
  epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
  round(sum(value), 4) AS total_value
FROM g GROUP BY user_id, session_idx ORDER BY user_id, session_idx""",

    "p18_streaming_windows" ->
      s"""WITH $eventsCte
SELECT epoch_us(date_trunc('hour', ts)) AS window_us, event_type,
  count(*) AS n_events, round(sum(value), 4) AS total_value
FROM events GROUP BY 1, 2
HAVING (window_us // 1000 + 3600000)
  <= (SELECT epoch_us(max(ts)) // 1000 - 600000 FROM events)
ORDER BY window_us, event_type""",

    "p14_window_agg" ->
      s"""WITH $eventsCte
SELECT epoch_us(date_trunc('hour', ts)) AS window_us, event_type,
  count(*) AS n_events, count(DISTINCT user_id) AS n_users,
  round(sum(value), 4) AS total_value
FROM events GROUP BY 1, 2 ORDER BY window_us, event_type"""
  )
}
