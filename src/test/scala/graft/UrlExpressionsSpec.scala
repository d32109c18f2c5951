package graft

import graft.operators.UrlOps
import org.apache.spark.sql.functions._

/** Equivalence pin for the r21 native `canonicalize_url` expression: the
 * native single-node evaluator must be BIT-IDENTICAL to the composed
 * Column tree it replaced (`UrlOps.canonicalizeUrlComposed`) — the DuckDB
 * oracles mirror the composed tree, so any divergence here is an oracle
 * break, not a style preference. Covers an adversarial battery (the
 * regex/locale/sort edge cases where a hand evaluator could drift), the
 * pipeline's synthetic URL shapes, and the full sf0.001 corpus TEXT fed
 * in as garbage URLs (real multi-line unicode at corpus width). */
class UrlExpressionsSpec extends SparkSpec {

  import spark.implicits._

  private def both(urls: Seq[String]): Seq[(String, String, String)] =
    urls.toDF("url")
      .select(col("url"),
        UrlOps.canonicalizeUrl(col("url")).as("native"),
        UrlOps.canonicalizeUrlComposed(col("url")).as("composed"))
      .as[(String, String, String)].collect().toSeq

  private def assertSame(urls: Seq[String]): Unit = {
    val diff = both(urls).filter { case (_, n, c) => n != c }
    assert(diff.isEmpty,
      s"native != composed on: ${diff.take(5).mkString("; ")}")
  }

  test("canonicalize_url native == composed on the adversarial battery") {
    assertSame(Seq(
      // plain shapes
      "https://Example.com/A/b", "example.com", "https://example.com/",
      "  http://www.example.com:80/a/b/  ", "ftp://files.example.com/x",
      // userinfo, ports, case
      "https://User:PW@WWW.Example.COM:443/Path/", "http://a@b@c.com/x",
      "https://example.com:8080/x", "https://example.com:80x/y",
      // fragments and queries
      "https://x.com/p?b=2&a=1#frag", "https://x.com/p#a#b?c=1",
      "https://x.com/p?", "https://x.com/p?&&", "https://x.com/p??a=1",
      "https://x.com/p?a=1&a=1&A=2", "https://x.com/p?=1&=2",
      // tracking params, case-insensitive, bare and valued
      "https://x.com/p?utm_source=a&real=1", "https://x.com/p?UTM_CAMPAIGN",
      "https://x.com/p?ref=h&fbclid=z&gclid", "https://x.com/p?reffoo=1",
      "https://x.com/p?ref", "https://x.com/p?igshid=1&msclkid=2",
      "https://x.com/p?mc_cid=1&mc_eid=2&x=", "https://x.com/p?utm_=v",
      // sort-order edge cases: byte order vs UTF-16 order (supplementary
      // plane U+10000 sorts AFTER U+FFFF in UTF-8 bytes, before it in
      // UTF-16 code units) — the native sort must be bytewise
      "https://x.com/p?\uD800\uDC00=1&\uFFFD=2&\uE000=3",
      "https://x.com/p?z=1&\u00e9=2&a=3&Z=4",
      // unicode hosts and paths (lowercase must be UTF8String semantics)
      "https://\u00c9XAMPLE.com/\u00c9/Path", "https://\u0130stanbul.tr/x",
      "HTTPS://\u0141\u00f3d\u017a.pl/\u0141/", "https://\uD83D\uDE00.example/x",
      // whitespace / control / newline quirks (regex $ and . semantics)
      "https://x.com/p\na#f", "https://x.com/p#f\ng", " \thttps://x.com/x\t ",
      "https://x.com/p?a=1\n&b=2", "https://x.com/p#",
      // pathological empties and non-URLs
      "", " ", "#", "?", "://", "http://", "a", "/", "//", "/a/b/",
      "https:///path/only", "http://?q=1", "http://#f", ":80", "user@",
      // scheme-ish strings that must NOT be treated as schemes
      "1http://x.com/a", "-http://x.com/a", "http//x.com/a", "x+y://h/p",
      // trailing slashes stacking, query after slashes
      "https://x.com/a////", "https://x.com/a//?b=1", "https://x.com//",
      // default-port interplay with userinfo order of ops
      "https://alice@www.X.com:443/", "https://WWW.x.com:80",
      "https://www.www.x.com/x", "wWw.x.com/q"))
  }

  test("canonicalize_url native == composed over the fixture corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // two populations: the synthetic URL shapes the pipeline keys use
    // (mixed case, default port, tracking params, fragment), and the raw
    // document TEXT fed in as a garbage "URL" — real multi-line unicode
    // bytes exercising every regex edge at corpus width
    val urls = docs.select(concat(lit("HTTPS://WWW.Example-"),
        pmod(col("doc_id"), lit(50)), lit(".com:443/Pg/"), col("doc_id"),
        lit("?b=2&utm_source=x&a=1#f")).as("url"))
      .union(docs.select(col("text").as("url")))
    // and a non-string column: both sides must take the analyzer's cast
    val mism = Seq(urls, docs.select(col("doc_id").as("url"))).map(_
      .select(UrlOps.canonicalizeUrl(col("url")).as("n"),
        UrlOps.canonicalizeUrlComposed(col("url")).as("c"))
      .where(not(col("n") <=> col("c")))
      .count()).sum
    assert(mism == 0L)
  }

  test("canonicalize_url null/interpreted parity") {
    // null in -> null out, matching the composed tree's null propagation
    val r = Seq[Option[String]](None, Some("https://x.com/a"))
      .toDF("url")
      .select(UrlOps.canonicalizeUrl(col("url")).as("n"),
        UrlOps.canonicalizeUrlComposed(col("url")).as("c"))
      .collect()
    assert(r.forall(row => row.isNullAt(0) == row.isNullAt(1)))
    // interpreted eval (no codegen) agrees with the codegen path
    val e = graft.functions.UrlExpressions.CanonicalizeUrl(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          "https://User@WWW.X.com:443/a/?utm_source=s&b=1#f"),
        org.apache.spark.sql.types.StringType))
    assert(e.eval(null).toString == "x.com/a?b=1")
  }
}
