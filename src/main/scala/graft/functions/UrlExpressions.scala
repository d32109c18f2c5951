package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expression for URL canonicalization (r21, guide §7.2 /
 * §1.2 step 2 — per-task work AFTER the job shape is right).
 *
 * The composable Column version (`UrlOps.canonicalizeUrlComposed`) builds
 * the canonical form out of ~15 regexp/split/filter/sort primitives whose
 * tree internally references its own sub-results ~6x — every Catalyst
 * substitution (filter pushdown, CollapseProject, alias inlining) then
 * re-embeds the WHOLE dozen-regex chain per reference. The r20 round
 * papered over the worst call sites with staged-projection companions
 * (`surtKeyOfCanonical`, `basePartsOfStaged`, …), but every remaining
 * caller (urlDecontaminate, robotsFilter, domainCap, linkGraph's per-href
 * canonicalize, the CDX family) still pays ~15 fragment copies of plan
 * bytes, and compositions like `canonicalizeUrl(resolveWithDir(...))`
 * multiply them.
 *
 * As ONE expression node the fan-out is structurally impossible: the
 * plan carries a single `canonicalize_url(url)` call however many times
 * Catalyst substitutes it, and whole-stage codegen's subexpression
 * elimination dedups the runtime cost within a projection.
 *
 * Semantics are BIT-IDENTICAL to the composed version by construction —
 * each step runs the SAME engine Spark's own expressions use:
 *   - trim: `UTF8String.trim()` (ASCII 0x20 only), exactly `trim(url)`;
 *   - every regexp step: `java.util.regex` with the IDENTICAL pattern
 *     strings `regexp_replace`/`regexp_extract`/`rlike` compile;
 *   - lowercase: `UTF8String.toLowerCase()`, exactly `lower(host)`;
 *   - param split: `String.split("&", -1)`, exactly `split(query, "&")`
 *     (Java Pattern.split with limit -1 under the hood);
 *   - param sort: unsigned UTF-8 BYTE order, exactly `array_sort`'s
 *     UTF8String binary ordering (Java String.compareTo would differ
 *     for supplementary characters vs U+E000..U+FFFF).
 * UrlExpressionsSpec asserts native == composed over an adversarial URL
 * battery and the full fixture corpus; the DuckDB oracles are untouched.
 */
object UrlExpressions {

  case class CanonicalizeUrl(child: Expression)
      extends UnaryExpression with ImplicitCastInputTypes {
    override def dataType: DataType = StringType
    // The analyzer casts a non-string child to string — the same cast the
    // composed tree's trim gets — and rejects a type with no cast at
    // analysis, so nullSafeEval only ever sees a UTF8String.
    override def inputTypes = Seq(StringType)
    override def prettyName: String = "canonicalize_url"

    // addReferenceObj + instance call (the repo-wide reference pattern;
    // a static call into a nested companion object has no Java static
    // forwarder and fails janino — the r20 codegen-repair lesson).
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("canonicalizeUrl", this,
        classOf[CanonicalizeUrl].getName)
      val javaType = CodeGenerator.javaType(dataType)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = ($javaType) $ref.nullSafeEval($c);")
    }

    override def nullSafeEval(input: Any): Any =
      CanonicalizeUrl.evalCanonical(input.asInstanceOf[UTF8String])

    override protected def withNewChildInternal(
        newChild: Expression): CanonicalizeUrl =
      copy(child = newChild)
  }

  object CanonicalizeUrl {
    // The EXACT pattern strings of the composed Column version — same
    // java.util.regex engine, same flags, same anchors. Do not "improve"
    // them: bit-identity with the committed oracle results depends on
    // matching the original regex semantics, newline quirks included.
    private val Frag = Pattern.compile("#.*$")
    private val Scheme = Pattern.compile("^[a-zA-Z][a-zA-Z0-9+.\\-]*://")
    private val HostPart = Pattern.compile("^([^/?]*)")
    private val UserInfo = Pattern.compile("^[^@]*@")
    private val Www = Pattern.compile("^www\\.")
    private val DefaultPort = Pattern.compile(":(80|443)$")
    private val PathPart = Pattern.compile("^([^?]*)")
    private val TrailSlash = Pattern.compile("/+$")
    private val QueryStrip = Pattern.compile("^[^?]*\\?")
    // single source of truth for the tracking-param alternation
    private val Tracking = Pattern.compile(
      s"(?i)^(${graft.operators.UrlOps.TrackingParams})(=|$$)")

    /** `regexp_extract(s, "^([^/?]*)", 1)` / `"^([^?]*)"`: anchored
     * always-match group — find() then group(1). */
    @inline private def leadingGroup(p: Pattern, s: String): String = {
      val m = p.matcher(s)
      if (m.find()) m.group(1) else ""
    }

    /** Unsigned UTF-8 byte order — UTF8String.compareTo / array_sort's
     * StringType ordering. */
    private val Utf8ByteOrder: java.util.Comparator[String] =
      new java.util.Comparator[String] {
        override def compare(a: String, b: String): Int = {
          val ab = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val bb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val n = math.min(ab.length, bb.length)
          var i = 0
          var d = 0
          while (i < n && d == 0) {
            d = (ab(i) & 0xff) - (bb(i) & 0xff)
            i += 1
          }
          if (d != 0) d else ab.length - bb.length
        }
      }

    private[graft] def evalCanonical(url: UTF8String): UTF8String = {
      // 1. trim (0x20 only) + strip fragment + strip scheme://
      val trimmed = url.trim().toString
      val noFrag = Frag.matcher(trimmed).replaceAll("")
      val noScheme = Scheme.matcher(noFrag).replaceAll("")
      // 2. host: lowercase (UTF8String semantics), strip userinfo,
      //    leading www., explicit default port
      val rawHost = leadingGroup(HostPart, noScheme)
      val lowered = UTF8String.fromString(rawHost).toLowerCase().toString
      val host = DefaultPort.matcher(
        Www.matcher(
          UserInfo.matcher(lowered).replaceAll("")).replaceAll(""))
        .replaceAll("")
      // rawHost is a literal prefix of noScheme, so the UTF-16 cut lands
      // on the same boundary as the composed version's code-point
      // substring(length(rawHost)+1)
      val rest = noScheme.substring(rawHost.length)
      // 3. path: strip trailing '/'s
      val path = TrailSlash.matcher(leadingGroup(PathPart, rest)).replaceAll("")
      // 4. query: drop tracking params + empties, sort survivors bytewise
      val query =
        if (rest.contains("?")) QueryStrip.matcher(rest).replaceAll("") else ""
      val kept = query.split("&", -1)
        .filter(p => p.nonEmpty && !Tracking.matcher(p).find())
      java.util.Arrays.sort(kept, Utf8ByteOrder)
      val sb = new java.lang.StringBuilder(host.length + path.length + 16)
      sb.append(host).append(path)
      if (kept.nonEmpty) {
        sb.append('?')
        var i = 0
        while (i < kept.length) {
          if (i > 0) sb.append('&')
          sb.append(kept(i))
          i += 1
        }
      }
      UTF8String.fromString(sb.toString)
    }
  }

  import org.apache.spark.sql.graftglue.Bridge

  def canonicalizeUrl(url: Column): Column =
    Bridge.column(CanonicalizeUrl(Bridge.expression(url)))
}
