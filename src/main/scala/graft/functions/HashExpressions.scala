package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expressions for the content-hashing hot path (SURVEY.md
 * §2 P2-P4/P24/P25). The composed Column forms build the same values out
 * of split/concat_ws/md5/conv/transform/aggregate primitives — correct
 * and oracle-portable, but each doc pays ~k array traversals of
 * interpreted higher-order-function evaluation, and Catalyst's projection
 * collapse re-inlines (recomputes) them per reference.
 *
 * Shingling is ONE expression, `word_shingles` (one O(tokens) pass), and
 * the hash expressions compute md5 token code + distinct + signature in
 * ONE pass over the shingle array with primitive arithmetic — the preference
 * order from the design brief: compose built-ins first, drop to a custom
 * Expression when the built-ins can't express the computation efficiently.
 * Results are BIT-IDENTICAL to the composed forms (same md5 prefix code,
 * same hash family), so the same DuckDB oracles hold; the specs keep the
 * composed twins as equivalence oracles.
 */
object HashExpressions {

  /** First 8 hex chars of md5 as an unsigned 32-bit value in a long —
   * identical to conv(substring(md5(s),1,8),16,10). */
  @inline private def md5Code(md: MessageDigest, bytes: Array[Byte]): Long = {
    md.reset()
    val d = md.digest(bytes)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** Every `n`-token window (stride 1) of a string array joined by one
   * space, reading the array once: O(tokens), where the composed
   * transform/slice/concat_ws re-evaluated a captured tokenizer per
   * window, O(tokens²). Bit-identical to it: a null array or one shorter
   * than `n` gives an empty array, null elements are skipped as
   * concat_ws/array_join skip them, and empty tokens are kept. */
  case class WordShingles(child: Expression, n: Int)
      extends UnaryExpression with ImplicitCastInputTypes {
    require(n >= 1, s"shingle width ($n) must be >= 1")
    override def inputTypes = Seq(ArrayType(StringType))
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = false
    override def prettyName: String = "word_shingles"

    override def eval(input: InternalRow): Any = shingle(child.eval(input).asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val c = child.genCode(ctx)
      val ref = ctx.addReferenceObj("wordShingles", this, classOf[WordShingles].getName)
      ev.copy(isNull = FalseLiteral, code = code"""${c.code}
        ${CodeGenerator.javaType(dataType)} ${ev.value} =
          $ref.shingle(${c.isNull} ? null : ${c.value});""")
    }

    private val Space = UTF8String.fromString(" ")

    def shingle(arr: ArrayData): ArrayData = {
      val len = if (arr == null) 0 else arr.numElements()
      val toks = Array.tabulate(len)(i => if (arr.isNullAt(i)) null else arr.getUTF8String(i))
      new GenericArrayData(Array.tabulate[Any](math.max(len - n + 1, 0))(s =>
        UTF8String.concatWs(Space, toks.slice(s, s + n): _*)))
    }

    override protected def withNewChildInternal(newChild: Expression): WordShingles =
      copy(child = newChild)
  }

  /** 32-bit SimHash over the DISTINCT md5 codes of a string array
   * (single pass; twin of the composed simhash ∘ tokenCodes).
   * Implements doGenCode (child-value call into the one-pass evaluator)
   * so projections using it stay inside whole-stage codegen instead of
   * taking the CodegenFallback full-row detour. */
  case class ShingleSimHash(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "shingle_simhash"

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("shingleSimHash", this, classOf[ShingleSimHash].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = ((java.lang.Long) $ref.nullSafeEval($c)).longValue();")
    }

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val md = MessageDigest.getInstance("MD5")
      val seen = new java.util.HashSet[Long](math.max(16, n * 2))
      val votes = new Array[Int](32)
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val code = md5Code(md, arr.getUTF8String(i).getBytes)
          if (seen.add(code)) {
            var j = 0
            while (j < 32) {
              votes(j) += (if (((code >> j) & 1L) == 1L) 1 else -1)
              j += 1
            }
          }
        }
        i += 1
      }
      var res = 0L
      var j = 0
      while (j < 32) {
        if (votes(j) >= 0) res |= 1L << j
        j += 1
      }
      res
    }

    override protected def withNewChildInternal(newChild: Expression): ShingleSimHash =
      copy(child = newChild)
  }

  /** k-permutation MinHash signature over the DISTINCT md5 codes of a
   * string array (single pass; twin of the composed minhashSignature ∘
   * tokenCodes). Returns null for empty arrays (callers drop null signatures;
   * the Column twin yields an array of nulls there). */
  case class ShingleMinHash(child: Expression, k: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "shingle_minhash"
    // empty/all-null arrays evaluate to null even when the child is
    // non-nullable — without this the optimizer could fold IS NOT NULL
    override def nullable: Boolean = true

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val childGen = child.genCode(ctx)
      val ref = ctx.addReferenceObj("shingleMinHash", this, classOf[ShingleMinHash].getName)
      val javaType = CodeGenerator.javaType(dataType)
      ev.copy(code = code"""
        ${childGen.code}
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = null;
        if (!${childGen.isNull}) {
          Object r = $ref.nullSafeEval(${childGen.value});
          if (r != null) { ${ev.isNull} = false; ${ev.value} = ($javaType) r; }
        }""")
    }

    private val as: Array[Long] = (0 until k).map(i => 1000003L + 2L * i).toArray
    private val bs: Array[Long] = (0 until k).map(i => 12345L + 97L * i).toArray

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      if (n == 0) return null
      val md = MessageDigest.getInstance("MD5")
      val seen = new java.util.HashSet[Long](math.max(16, n * 2))
      val mins = Array.fill[Long](k)(Long.MaxValue)
      var any = false
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val code = md5Code(md, arr.getUTF8String(i).getBytes)
          if (seen.add(code)) {
            any = true
            var j = 0
            while (j < k) {
              val h = (as(j) * code + bs(j)) % TextFunctions.HashMod
              if (h < mins(j)) mins(j) = h
              j += 1
            }
          }
        }
        i += 1
      }
      if (!any) null else new GenericArrayData(mins)
    }

    override protected def withNewChildInternal(newChild: Expression): ShingleMinHash =
      copy(child = newChild)
  }

  /** Max multiplicity of any element of a string array — the Gopher
   * repetition mode count (TextAnalysis.repetition) — in ONE
   * hash-counting pass. Value-identical to the Column form's
   * sort_array + longest-equal-run fold (the count of the most frequent
   * element is the longest equal run of the sorted array), but the fold
   * is interpreted lambda evaluation with a struct allocation per
   * element (~0.5 ms/row at 300 shingles); this stays in whole-stage
   * codegen. 0 for an empty array (callers filter empties). */
  case class MaxMultiplicity(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "max_multiplicity"

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("maxMultiplicity", this, classOf[MaxMultiplicity].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = ((java.lang.Long) $ref.nullSafeEval($c)).longValue();")
    }

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val counts = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Integer](
        math.max(16, n * 2))
      var best = 0L
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val s = arr.getUTF8String(i)
          val prev = counts.get(s)
          val c = if (prev == null) 1 else prev.intValue() + 1
          counts.put(s, Integer.valueOf(c))
          if (c > best) best = c.toLong
        }
        i += 1
      }
      best
    }

    override protected def withNewChildInternal(newChild: Expression): MaxMultiplicity =
      copy(child = newChild)
  }

  /** Polynomial rolling hash of EVERY `w`-token window (stride 1) of a
   * string array, in ONE pass: each token's md5 code is computed once,
   * then each next window hash is an O(1) rolling update
   * (h·131 − c_out·131^(w−1) + c_in, all mod 2^31−1) — O(n) total versus
   * the O(n·w) per-window refold of the composed Column twin (kept in
   * the specs as the equivalence oracle; bit-identical). Stride
   * 1 is semantic, not a cost choice: only an every-position grid
   * guarantees two unaligned copies of a shared token run >= w hash the
   * same window. Hash family = the P11 fingerprint fold, so values stay
   * DuckDB-reproducible; the 31-bit range means cross-doc collisions are
   * possible (deterministic and mirrored by the oracle) — a production
   * deployment at 100 TB would widen to a 61-bit modulus via 128-bit
   * intermediate multiplication, which Spark and DuckDB cannot both
   * express portably. Empty result when the array has fewer than `w`
   * elements. Null handling (the SQL surface accepts arbitrary arrays,
   * so this is pinned, not assumed): a null ARRAY returns null (standard
   * SQL null-intolerance — the Column twin instead yields an empty
   * array, the one documented divergence); a null ELEMENT is rejected
   * with an error rather than silently hashed, because the twin
   * propagates null window hashes and any silent choice here would break
   * the bit-identical claim (whitespace tokenizers never produce null
   * tokens, so real pipelines never hit the guard). */
  case class RollingWindowHashes(child: Expression, w: Int)
      extends UnaryExpression {
    require(w >= 1, s"window width ($w) must be >= 1")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "rolling_window_hashes"

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("rollingWindowHashes", this,
        classOf[RollingWindowHashes].getName)
      val javaType = CodeGenerator.javaType(dataType)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = ($javaType) $ref.nullSafeEval($c);")
    }

    private val M = TextFunctions.HashMod
    // 131^(w-1) mod M — the coefficient of the outgoing token
    private val pow: Long = {
      var p = 1L; var i = 1
      while (i < w) { p = (p * 131L) % M; i += 1 }
      p
    }

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      if (n < w) return new GenericArrayData(Array.emptyLongArray)
      val md = MessageDigest.getInstance("MD5")
      val codes = new Array[Long](n)
      var i = 0
      while (i < n) {
        if (arr.isNullAt(i)) {
          throw new IllegalArgumentException(
            s"rolling_window_hashes: null token at position $i — tokens " +
              "must be non-null (the Column twin propagates null window " +
              "hashes; no silent convention can match both)")
        }
        codes(i) = md5Code(md, arr.getUTF8String(i).getBytes) % M
        i += 1
      }
      val out = new Array[Long](n - w + 1)
      var h = 0L
      i = 0
      while (i < w) { h = (h * 131L + codes(i)) % M; i += 1 }
      out(0) = h
      i = 1
      while (i <= n - w) {
        var t = (h - (codes(i - 1) * pow) % M) % M
        if (t < 0) t += M
        h = (t * 131L + codes(i + w - 1)) % M
        out(i) = h
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): RollingWindowHashes =
      copy(child = newChild)
  }

  /** BPE subword segmentation of a word array with a trained merge
   * list (operators.Bpe documents the shared semantics): each word's
   * code points (surrogate pairs kept whole — UTF-16-unit splitting
   * would strand lone surrogates, which UTF8String.fromString mangles
   * into replacement bytes) are joined with U+001F, every merge is
   * applied in training order as a left-greedy literal replacement,
   * and the final segments of all words are emitted as one flattened
   * array. Empty and null words are skipped (the whitespace tokenizer
   * yields [""] for empty text). One pass per row, whole-stage codegen
   * via the reference-object call. */
  case class BpeEncode(child: Expression, merges: Seq[(String, String)])
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "bpe_encode"

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bpeEncode", this, classOf[BpeEncode].getName)
      val javaType = CodeGenerator.javaType(dataType)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = ($javaType) $ref.nullSafeEval($c);")
    }

    private val Sep = "\u001f"
    private val Bnd = Sep + Sep
    private val pats: Array[(String, String)] =
      merges.map { case (a, b) =>
        (Sep + a + Bnd + b + Sep, Sep + a + b + Sep) }.toArray

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val out = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.unsafe.types.UTF8String]
      var i = 0
      while (i < arr.numElements()) {
        if (!arr.isNullAt(i)) {
          val w = arr.getUTF8String(i).toString
          if (w.nonEmpty) {
            var j = Sep + w.codePoints().toArray
              .map(cp => new String(Character.toChars(cp))).mkString(Bnd) + Sep
            var k = 0
            while (k < pats.length) {
              j = j.replace(pats(k)._1, pats(k)._2)
              k += 1
            }
            j.substring(1, j.length - 1).split(Bnd).foreach(s =>
              out += org.apache.spark.unsafe.types.UTF8String.fromString(s))
          }
        }
        i += 1
      }
      new GenericArrayData(out.toArray)
    }

    override protected def withNewChildInternal(newChild: Expression): BpeEncode =
      copy(child = newChild)
  }

  /** Single-pass BPE segmentation for production-size merge lists.
   *
   * `BpeEncode` replays the merge list literally — one string-replace
   * pass PER MERGE per word, the exact fold the SQL oracle can mirror,
   * but O(numMerges) passes: fine at the fixture's 64 merges, ~500x too
   * many passes at a production tokenizer's 32k-50k. This expression
   * computes the same segmentation in ONE pass per word with the
   * classic rank-heap algorithm (how production BPE tokenizers apply
   * merges): seed a min-heap with every adjacent symbol pair that has a
   * merge rank, repeatedly pop the (lowest-rank, leftmost) pair, merge
   * it in a doubly-linked symbol list, and push the two newly-adjacent
   * pairs. Stale heap entries are skipped by re-validating rank at pop.
   *
   * Equivalence: replay applies merge k everywhere (left-greedy) before
   * merge k+1; since later merges never create opportunities for
   * earlier ones that the heap would miss — a popped pair's rank is
   * re-validated against the CURRENT symbols — processing pairs in
   * global (rank, position) order performs the identical sequence of
   * merge events. BpeEquivalenceSpec asserts bit-identical output
   * against the replay expression across merge counts; p41's oracle
   * hash does the same end-to-end on the corpus. Cost: O(n log n) per
   * word, INDEPENDENT of merge-list size (the list becomes an O(1)
   * hash lookup), which is what survives 32k merges x 100 TB.
   */
  case class BpeEncodeFast(child: Expression, merges: Seq[(String, String)])
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "bpe_encode_fast"

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bpeEncodeFast", this, classOf[BpeEncodeFast].getName)
      val javaType = CodeGenerator.javaType(dataType)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = ($javaType) $ref.nullSafeEval($c);")
    }

    private val rank: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer](merges.size * 2)
      var i = 0
      merges.foreach { case (a, b) =>
        // first occurrence wins, like replay order
        m.putIfAbsent(a + "\u0000" + b, Integer.valueOf(i)); i += 1
      }
      m
    }

    private def segmentWord(w: String,
                            out: scala.collection.mutable.ArrayBuffer[org.apache.spark.unsafe.types.UTF8String]): Unit = {
      // code-point symbols (surrogate pairs whole), linked list + heap
      val cps = w.codePoints().toArray
      val n = cps.length
      val sym = new Array[String](n)
      var i = 0
      while (i < n) { sym(i) = new String(Character.toChars(cps(i))); i += 1 }
      if (n == 0) return
      if (n > 1) {
        val next = new Array[Int](n)
        val prev = new Array[Int](n)
        i = 0
        while (i < n) { next(i) = i + 1; prev(i) = i - 1; i += 1 }
        val alive = new Array[Boolean](n)
        java.util.Arrays.fill(alive, true)
        // heap entries packed (rank << 32 | pos): natural Long order =
        // rank-major, leftmost-first tie-break — the replay order.
        val heap = new java.util.PriorityQueue[java.lang.Long](n)
        def rankOf(a: Int, b: Int): Integer = rank.get(sym(a) + "\u0000" + sym(b))
        def push(a: Int): Unit = {
          val b = next(a)
          if (b < n) {
            val r = rankOf(a, b)
            if (r != null) heap.add((r.longValue << 32) | a.toLong)
          }
        }
        i = 0
        while (i < n - 1) { push(i); i += 1 }
        while (!heap.isEmpty) {
          val packed = heap.poll().longValue
          val r = (packed >> 32).toInt
          val a = (packed & 0xffffffffL).toInt
          val b = if (a < n) next(a) else n
          // stale-entry check: both ends alive, still adjacent, and the
          // pair still maps to the popped rank
          if (a < n && b < n && alive(a) && alive(b)) {
            val cur = rankOf(a, b)
            if (cur != null && cur.intValue == r) {
              sym(a) = sym(a) + sym(b)
              alive(b) = false
              next(a) = next(b)
              if (next(b) < n) prev(next(b)) = a
              if (prev(a) >= 0) push(prev(a))
              push(a)
            }
          }
        }
        i = 0
        while (i < n) {
          if (alive(i))
            out += org.apache.spark.unsafe.types.UTF8String.fromString(sym(i))
          i += 1
        }
      } else {
        out += org.apache.spark.unsafe.types.UTF8String.fromString(sym(0))
      }
    }

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val out = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.unsafe.types.UTF8String]
      var i = 0
      while (i < arr.numElements()) {
        if (!arr.isNullAt(i)) {
          val w = arr.getUTF8String(i).toString
          if (w.nonEmpty) segmentWord(w, out)
        }
        i += 1
      }
      new GenericArrayData(out.toArray)
    }

    override protected def withNewChildInternal(newChild: Expression): BpeEncodeFast =
      copy(child = newChild)
  }

  // ------------------------------------------- byte-level BPE alphabet

  /** The GPT-2 byte→printable-unicode table (Radford et al. 2019,
   * bytes_to_unicode — public knowledge): bytes that are printable
   * Latin-1 ([33,126] ∪ [161,172] ∪ [174,255]) map to themselves; the
   * other 68 (controls, space, DEL, soft hyphen, …) map to 256+n in
   * first-seen order — so byte 0x20 is 'Ġ' (U+0120) and 0x0A is 'Ċ'.
   * Every byte becomes exactly ONE printable BMP code point, which is
   * what lets BPE merges operate on visible symbols while staying
   * byte-complete: any UTF-8 input is encodable with zero OOV. The
   * mapping is injective, so [[unmapFromAlphabet]] inverts it exactly. */
  private[graft] val ByteToChar: Array[Char] = {
    val printable =
      ((33 to 126) ++ (161 to 172) ++ (174 to 255)).toSet
    val arr = new Array[Char](256)
    var n = 0
    var b = 0
    while (b < 256) {
      if (printable(b)) arr(b) = b.toChar
      else { arr(b) = (256 + n).toChar; n += 1 }
      b += 1
    }
    arr
  }
  private[graft] val CharToByte: Array[Byte] = {
    val arr = new Array[Byte](324) // images live in [33, 323]
    ByteToChar.zipWithIndex.foreach { case (c, b) => arr(c.toInt) = b.toByte }
    arr
  }

  private[graft] def mapToAlphabet(s: String): String = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val sb = new java.lang.StringBuilder(bytes.length)
    var i = 0
    while (i < bytes.length) { sb.append(ByteToChar(bytes(i) & 0xff)); i += 1 }
    sb.toString
  }

  private[graft] def unmapFromAlphabet(s: String): String = {
    val out = new Array[Byte](s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i).toInt
      out(i) = if (c < 324) CharToByte(c) else 0
      i += 1
    }
    new String(out, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** HTML character-reference decoding in ONE pass (P158): numeric
   * `&#ddd;` / `&#xhh;` references (any Unicode scalar; surrogates
   * and out-of-range values left intact, never mojibake) and the
   * practical named set — the core five, the full HTML 4 Latin-1
   * table, and the common typographic/symbol names real pages carry
   * (dashes, curly quotes, ellipsis, bullets, currency, math signs).
   * An `&` that does not introduce a well-formed known reference
   * passes through untouched, so double-encoded `&amp;lt;` yields the
   * literal text `&lt;` (the linear pass consumes `&amp;` and never
   * rescans its output). The Column twin would be a 100-deep replace
   * chain that STILL couldn't decode numeric references; this is one
   * codegen'd traversal. */
  case class DecodeHtmlEntities(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def prettyName: String = "decode_html_entities"

    // addReferenceObj + instance call, NOT a $cls.evalStatic static call:
    // a NESTED companion object gets no Java static forwarders, so the
    // static spelling failed janino compilation and silently demoted
    // every stage carrying this expression to non-codegen execution —
    // plus one failed (uncached) compile attempt per execution
    // (r20 profiling catch; the other expressions here always used the
    // reference pattern).
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("decodeHtmlEntities", this,
        classOf[DecodeHtmlEntities].getName)
      val javaType = CodeGenerator.javaType(dataType)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = ($javaType) $ref.nullSafeEval($c);")
    }

    override def nullSafeEval(input: Any): Any =
      DecodeHtmlEntities.evalStatic(input)

    override protected def withNewChildInternal(
        newChild: Expression): DecodeHtmlEntities =
      copy(child = newChild)
  }
  object DecodeHtmlEntities {
    // the core five + HTML 4 Latin-1 (ISO 8859-1 names, codepoints
    // 160-255, the table every browser ships) + the common
    // typographic/symbol names (public HTML 4/5 reference data)
    private val Named: java.util.HashMap[String, String] = {
      val m = new java.util.HashMap[String, String](512)
      def put(name: String, cp: Int): Unit =
        m.put(name, new String(Character.toChars(cp)))
      Seq("amp" -> '&', "lt" -> '<', "gt" -> '>', "quot" -> '"',
        "apos" -> '\'').foreach { case (n, c) => put(n, c.toInt) }
      // HTML5's named-references table also defines UPPERCASE aliases
      // for the legacy core set (AMP; LT; GT; QUOT; COPY; REG;
      // TRADE;) — real pages carry them and browsers decode them
      // (advisor-caught: they passed through undecoded)
      Seq("AMP" -> '&'.toInt, "LT" -> '<'.toInt, "GT" -> '>'.toInt,
        "QUOT" -> '"'.toInt, "COPY" -> 0xA9, "REG" -> 0xAE,
        "TRADE" -> 0x2122).foreach { case (n, cp) => put(n, cp) }
      // HTML 4 Latin-1 entity names IN CODEPOINT ORDER 160..255
      val latin1 = Seq(
        "nbsp", "iexcl", "cent", "pound", "curren", "yen", "brvbar",
        "sect", "uml", "copy", "ordf", "laquo", "not", "shy", "reg",
        "macr", "deg", "plusmn", "sup2", "sup3", "acute", "micro",
        "para", "middot", "cedil", "sup1", "ordm", "raquo", "frac14",
        "frac12", "frac34", "iquest", "Agrave", "Aacute", "Acirc",
        "Atilde", "Auml", "Aring", "AElig", "Ccedil", "Egrave",
        "Eacute", "Ecirc", "Euml", "Igrave", "Iacute", "Icirc",
        "Iuml", "ETH", "Ntilde", "Ograve", "Oacute", "Ocirc",
        "Otilde", "Ouml", "times", "Oslash", "Ugrave", "Uacute",
        "Ucirc", "Uuml", "Yacute", "THORN", "szlig", "agrave",
        "aacute", "acirc", "atilde", "auml", "aring", "aelig",
        "ccedil", "egrave", "eacute", "ecirc", "euml", "igrave",
        "iacute", "icirc", "iuml", "eth", "ntilde", "ograve",
        "oacute", "ocirc", "otilde", "ouml", "divide", "oslash",
        "ugrave", "uacute", "ucirc", "uuml", "yacute", "thorn",
        "yuml")
      latin1.zipWithIndex.foreach { case (n, i) => put(n, 160 + i) }
      Seq("OElig" -> 0x152, "oelig" -> 0x153, "Scaron" -> 0x160,
        "scaron" -> 0x161, "Yuml" -> 0x178, "fnof" -> 0x192,
        "circ" -> 0x2C6, "tilde" -> 0x2DC, "ensp" -> 0x2002,
        "emsp" -> 0x2003, "thinsp" -> 0x2009, "zwnj" -> 0x200C,
        "zwj" -> 0x200D, "lrm" -> 0x200E, "rlm" -> 0x200F,
        "ndash" -> 0x2013, "mdash" -> 0x2014, "lsquo" -> 0x2018,
        "rsquo" -> 0x2019, "sbquo" -> 0x201A, "ldquo" -> 0x201C,
        "rdquo" -> 0x201D, "bdquo" -> 0x201E, "dagger" -> 0x2020,
        "Dagger" -> 0x2021, "bull" -> 0x2022, "hellip" -> 0x2026,
        "permil" -> 0x2030, "prime" -> 0x2032, "Prime" -> 0x2033,
        "lsaquo" -> 0x2039, "rsaquo" -> 0x203A, "oline" -> 0x203E,
        "frasl" -> 0x2044, "euro" -> 0x20AC, "trade" -> 0x2122,
        "larr" -> 0x2190, "uarr" -> 0x2191, "rarr" -> 0x2192,
        "darr" -> 0x2193, "harr" -> 0x2194, "minus" -> 0x2212,
        "lowast" -> 0x2217, "radic" -> 0x221A, "infin" -> 0x221E,
        "cap" -> 0x2229, "cup" -> 0x222A, "int" -> 0x222B,
        "asymp" -> 0x2248, "ne" -> 0x2260, "equiv" -> 0x2261,
        "le" -> 0x2264, "ge" -> 0x2265, "loz" -> 0x25CA,
        "spades" -> 0x2660, "clubs" -> 0x2663, "hearts" -> 0x2665,
        "diams" -> 0x2666).foreach { case (n, cp) => put(n, cp) }
      m
    }

    private[graft] def decode(s: String): String = {
      var i = s.indexOf('&')
      if (i < 0) return s // the common case: no reference, no copy
      val sb = new java.lang.StringBuilder(s.length)
      sb.append(s, 0, i)
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '&') {
          // BOUNDED terminator scan (review-caught: an unbounded
          // indexOf made semicolon-sparse ampersand-heavy prose
          // O(n·m)): the longest NAMED body we decode is 6 chars, so
          // 10 ahead suffices there; NUMERIC references may carry
          // zero-padding browsers still decode (&#0000000233; —
          // advisor-caught), so '#' bodies scan a wider 32-char window
          val numeric = i + 1 < s.length && s.charAt(i + 1) == '#'
          val limit = math.min(s.length, i + (if (numeric) 34 else 11))
          var semi = -1
          var j = i + 1
          while (j < limit && semi < 0) {
            if (s.charAt(j) == ';') semi = j
            j += 1
          }
          val rep = if (semi > i + 1)
            decodeOne(s.substring(i + 1, semi)) else null
          if (rep != null) { sb.append(rep); i = semi + 1 }
          else { sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

    private def decodeOne(body: String): String = {
      if (body.length > 0 && body.charAt(0) == '#') {
        val hexMode = body.length > 1 &&
          (body.charAt(1) == 'x' || body.charAt(1) == 'X')
        val start = if (hexMode) 2 else 1
        if (start >= body.length) return null
        // ASCII-ONLY digits, value-accumulating (review-caught twice:
        // Character.digit accepted Arabic-Indic/fullwidth digits HTML
        // rejects, and a fixed digit-count cap rejected zero-padded
        // references browsers decode)
        var cp = 0L
        var k = start
        while (k < body.length) {
          val ch = body.charAt(k)
          val v =
            if (ch >= '0' && ch <= '9') ch - '0'
            else if (hexMode && ch >= 'a' && ch <= 'f') ch - 'a' + 10
            else if (hexMode && ch >= 'A' && ch <= 'F') ch - 'A' + 10
            else return null
          cp = cp * (if (hexMode) 16 else 10) + v
          if (cp > 0x110000L) cp = 0x110000L // clamp, keep consuming
          k += 1
        }
        codepointText(cp)
      } else Named.get(body)
    }

    /** The decoded text of a numeric reference, with the HTML5
     * adjustments a corpus wants: the 0x80-0x9F range remaps through
     * windows-1252 (Word-exported pages write &#147; for U+201C —
     * review-caught); TAB/LF/CR decode to a PLAIN SPACE (they are
     * inline whitespace to a renderer, and a raw LF here would forge
     * a paragraph break in htmlToText); other control characters,
     * surrogates, and out-of-range values leave the SOURCE TEXT
     * intact — never a control char or U+FFFD into the corpus. */
    private def codepointText(cp: Long): String = {
      if (cp < 1 || cp >= 0x110000L || (cp >= 0xD800 && cp <= 0xDFFF))
        return null
      if (cp == 9 || cp == 10 || cp == 13) return " "
      if (cp < 0x20 || cp == 0x7F) return null
      if (cp >= 0x80 && cp <= 0x9F) {
        val remapped = new String(Array(cp.toByte), "windows-1252")
        val rc = remapped.charAt(0)
        // the five cp1252 holes decode to C1 controls or U+FFFD
        // (JDK): pass through — no control chars and no replacement
        // chars into extracted text
        if ((rc >= 0x80 && rc <= 0x9F) || rc == 0xFFFD) return null
        return remapped
      }
      new String(Character.toChars(cp.toInt))
    }

    def evalStatic(input: Any): Any =
      org.apache.spark.unsafe.types.UTF8String.fromString(
        decode(input.asInstanceOf[
          org.apache.spark.unsafe.types.UTF8String].toString))
  }

  /** UTF-8 bytes of a string rendered in the byte-BPE alphabet (one
   * mapped char per byte) — the representation byte-level merges train
   * and apply on. One pass, no allocation beyond the output. */
  case class ByteAlphabet(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def prettyName: String = "byte_alphabet"

    // reference pattern, not $cls.evalStatic — see DecodeHtmlEntities
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("byteAlphabet", this,
        classOf[ByteAlphabet].getName)
      val javaType = CodeGenerator.javaType(dataType)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = ($javaType) $ref.nullSafeEval($c);")
    }

    override def nullSafeEval(input: Any): Any = ByteAlphabet.evalStatic(input)

    override protected def withNewChildInternal(newChild: Expression): ByteAlphabet =
      copy(child = newChild)
  }
  object ByteAlphabet {
    def evalStatic(input: Any): Any =
      org.apache.spark.unsafe.types.UTF8String.fromString(
        mapToAlphabet(
          input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString))
  }

  /** Inverse of [[ByteAlphabet]]: alphabet chars back to their bytes,
   * decoded as UTF-8 — `byteAlphabetInverse(byteAlphabet(s)) == s` for
   * every string (the no-OOV decode guarantee byte-level BPE exists
   * for). Chars outside the alphabet image decode as 0x00 (never
   * produced by the encoder). */
  case class ByteAlphabetInverse(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def prettyName: String = "byte_alphabet_inverse"

    // reference pattern, not $cls.evalStatic — see DecodeHtmlEntities
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("byteAlphabetInverse", this,
        classOf[ByteAlphabetInverse].getName)
      val javaType = CodeGenerator.javaType(dataType)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = ($javaType) $ref.nullSafeEval($c);")
    }

    override def nullSafeEval(input: Any): Any =
      ByteAlphabetInverse.evalStatic(input)

    override protected def withNewChildInternal(
        newChild: Expression): ByteAlphabetInverse =
      copy(child = newChild)
  }
  object ByteAlphabetInverse {
    def evalStatic(input: Any): Any =
      org.apache.spark.unsafe.types.UTF8String.fromString(
        unmapFromAlphabet(
          input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString))
  }

  /** One-pass in-vocabulary frequency scoring of a string array against
   * a trained frequency table (TextAnalysis.unigramScore/bigramScore —
   * the CCNet-style LM-quality ladder): counts elements, counts
   * out-of-vocabulary elements, and sums the in-vocabulary frequencies,
   * all in a single traversal with O(1) hash lookups.
   *
   * Value-identical to the Column twin
   * `size(t) / size(filter(t, x => element_at(vm, x).isNull)) /
   * aggregate(t, 0.0, (acc, x) => acc + coalesce(element_at(vm, x), 0.0))`
   * — the sum runs in array order (same IEEE addition order as the
   * left fold; OOV adds 0.0 there, a no-op on the non-negative partial
   * sums here, so skipping it is bit-exact) and a null element looks up
   * to null (OOV), matching element_at's null-in/null-out. The twin's
   * cost is the wall: `element_at` on a LITERAL map is a linear key
   * scan, O(|vocab|) per element — at a production vocab (50k+ grams)
   * that is 4 orders of magnitude more comparisons per document than
   * this expression's hash probe (ScaleSmoke: bigram scoring at 20×
   * went 30 s → see row — the gap widens linearly with vocab size). */
  case class VocabScore(child: Expression, vocab: Map[String, Double])
      extends UnaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("n", LongType, nullable = false),
      StructField("n_oov", LongType, nullable = false),
      StructField("sumf", DoubleType, nullable = false)))
    override def prettyName: String = "vocab_score"

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("vocabScore", this, classOf[VocabScore].getName)
      val javaType = CodeGenerator.javaType(dataType)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = ($javaType) $ref.nullSafeEval($c);")
    }

    // rebuilt once per deserialized instance (per executor), not per row
    @transient private lazy val table: java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, java.lang.Double] = {
      val m = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, java.lang.Double](
        math.max(16, vocab.size * 2))
      vocab.foreach { case (k, v) =>
        m.put(org.apache.spark.unsafe.types.UTF8String.fromString(k),
          java.lang.Double.valueOf(v))
      }
      m
    }

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      var oov = 0L
      var sum = 0.0
      var i = 0
      while (i < n) {
        val v = if (arr.isNullAt(i)) null else table.get(arr.getUTF8String(i))
        if (v == null) oov += 1 else sum += v.doubleValue()
        i += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](n.toLong, oov, sum))
    }

    override protected def withNewChildInternal(newChild: Expression): VocabScore =
      copy(child = newChild)
  }

  /** KenLM-style STUPID-BACKOFF scoring (Brants et al. 2007, "Large
   * Language Models in Machine Translation", §4) of a token array
   * against three trained frequency tables — the top rung of the
   * LM-quality ladder (p37 unigram → p55 bigram → p56 trigram → this).
   * Each trigram window scores by the FIRST table that knows it:
   *   trigram in V3          →           f3(w_{i-2} w_{i-1} w_i)
   *   else suffix bigram V2  →   alpha · f2(w_{i-1} w_i)
   *   else last unigram V1   →  alpha² · f1(w_i)
   *   else                   →  0 (counted OOV)
   * Frequencies replace log-probs for the same reason as VocabScore
   * (transcendentals are not bit-portable across engines); `alpha`
   * defaults to 0.5 — Brants' 0.4 works too, but 0.5 and 0.25 are
   * exactly representable doubles, so the oracle's `0.5 * f` / `0.25 *
   * f` literals reproduce the backoff products bit-for-bit with ZERO
   * rounding anywhere in the pipeline (alpha² is pre-multiplied once
   * here, `0.25` literal there — identical by exactness, not by luck).
   *
   * One pass, O(1) hash probes per window, sum accumulated in array
   * order (the oracle's left fold adds 0.0 for OOV windows — a no-op on
   * the non-negative partial sums, so skipping it here is bit-exact).
   * A null token makes every window containing it miss its lookup
   * (null-in → table-miss), mirroring element_at's null-in/null-out.
   * Output struct: (n windows, per-tier hit counts, OOV count, sum). */
  case class BackoffScore(child: Expression,
                          tri: Map[String, Double],
                          bi: Map[String, Double],
                          uni: Map[String, Double],
                          alpha: Double)
      extends UnaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("n", LongType, nullable = false),
      StructField("n_tri", LongType, nullable = false),
      StructField("n_bi", LongType, nullable = false),
      StructField("n_uni", LongType, nullable = false),
      StructField("n_oov", LongType, nullable = false),
      StructField("sumf", DoubleType, nullable = false)))
    override def prettyName: String = "backoff_score"

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("backoffScore", this, classOf[BackoffScore].getName)
      val javaType = CodeGenerator.javaType(dataType)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = ($javaType) $ref.nullSafeEval($c);")
    }

    @transient private lazy val alpha2: Double = alpha * alpha
    // rebuilt once per deserialized instance (per executor), not per row
    @transient private lazy val (t3, t2, t1) = {
      def mk(m: Map[String, Double]) = {
        val h = new java.util.HashMap[String, java.lang.Double](math.max(16, m.size * 2))
        m.foreach { case (k, v) => h.put(k, java.lang.Double.valueOf(v)) }
        h
      }
      (mk(tri), mk(bi), mk(uni))
    }

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val toks = new Array[String](n)
      var i = 0
      while (i < n) {
        toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i).toString
        i += 1
      }
      var nTri = 0L; var nBi = 0L; var nUni = 0L; var nOov = 0L
      var sum = 0.0
      var p = 0
      while (p < n - 2) {
        val a = toks(p); val b = toks(p + 1); val c = toks(p + 2)
        var scored = false
        if (a != null && b != null && c != null) {
          val f3 = t3.get(a + " " + b + " " + c)
          if (f3 != null) { sum += f3.doubleValue(); nTri += 1; scored = true }
        }
        if (!scored && b != null && c != null) {
          val f2 = t2.get(b + " " + c)
          if (f2 != null) { sum += alpha * f2.doubleValue(); nBi += 1; scored = true }
        }
        if (!scored && c != null) {
          val f1 = t1.get(c)
          if (f1 != null) { sum += alpha2 * f1.doubleValue(); nUni += 1; scored = true }
        }
        if (!scored) nOov += 1
        p += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](math.max(0, n - 2).toLong, nTri, nBi, nUni, nOov, sum))
    }

    override protected def withNewChildInternal(newChild: Expression): BackoffScore =
      copy(child = newChild)
  }

  /** Jelinek-Mercer INTERPOLATED trigram scoring (the smoothing family
   * KenLM/SRILM interpolate with; weights learned by deleted
   * interpolation driver-side): every window mixes ALL three tiers —
   *   s = lam3·p(w3|w1w2) + lam2·p(w3|w2) + lam1·p(w3)
   * with conditional probabilities from raw counts: p3 = c3/ctx3(w1w2),
   * p2 = c2/ctx2(w2), p1 = c1/N1. A tier contributes 0 when its gram is
   * outside its trained top-V table (context counts for every trained
   * gram ship in the ctx maps by construction, so a present gram never
   * misses its denominator). Unlike BackoffScore the tier counts are
   * NON-exclusive — a window can hit all three.
   *
   * Portability: counts are exact integers; each probability is ONE
   * correctly-rounded division; the mix is evaluated in the fixed order
   * ((lam3·p3 + lam2·p2) + lam1·p1) and summed in array order — all
   * reproducible operation-for-operation in SQL. One pass, O(1) probes
   * per window. Output struct: (n, n_tri, n_bi, n_uni, n_oov, sumf). */
  case class InterpScore(child: Expression,
                         tri: Map[String, Long], triCtx: Map[String, Long],
                         bi: Map[String, Long], biCtx: Map[String, Long],
                         uni: Map[String, Long], n1: Long,
                         lam3: Double, lam2: Double, lam1: Double)
      extends UnaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("n", LongType, nullable = false),
      StructField("n_tri", LongType, nullable = false),
      StructField("n_bi", LongType, nullable = false),
      StructField("n_uni", LongType, nullable = false),
      StructField("n_oov", LongType, nullable = false),
      StructField("sumf", DoubleType, nullable = false)))
    override def prettyName: String = "interp_score"

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("interpScore", this, classOf[InterpScore].getName)
      val javaType = CodeGenerator.javaType(dataType)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = ($javaType) $ref.nullSafeEval($c);")
    }

    @transient private lazy val (t3, t3c, t2, t2c, t1) = {
      def mk(m: Map[String, Long]) = {
        val h = new java.util.HashMap[String, java.lang.Long](math.max(16, m.size * 2))
        m.foreach { case (k, v) => h.put(k, java.lang.Long.valueOf(v)) }
        h
      }
      (mk(tri), mk(triCtx), mk(bi), mk(biCtx), mk(uni))
    }

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val toks = new Array[String](n)
      var i = 0
      while (i < n) {
        toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i).toString
        i += 1
      }
      var nTri = 0L; var nBi = 0L; var nUni = 0L; var nOov = 0L
      var sum = 0.0
      var p = 0
      while (p < n - 2) {
        val a = toks(p); val b = toks(p + 1); val c = toks(p + 2)
        var p3 = 0.0; var p2 = 0.0; var p1 = 0.0
        if (a != null && b != null && c != null) {
          val c3 = t3.get(a + " " + b + " " + c)
          if (c3 != null) {
            val ctx = t3c.get(a + " " + b)
            if (ctx != null && ctx.longValue() > 0) {
              p3 = c3.longValue().toDouble / ctx.longValue().toDouble
              nTri += 1
            }
          }
        }
        if (b != null && c != null) {
          val c2 = t2.get(b + " " + c)
          if (c2 != null) {
            val ctx = t2c.get(b)
            if (ctx != null && ctx.longValue() > 0) {
              p2 = c2.longValue().toDouble / ctx.longValue().toDouble
              nBi += 1
            }
          }
        }
        if (c != null) {
          val c1 = t1.get(c)
          if (c1 != null && n1 > 0) {
            p1 = c1.longValue().toDouble / n1.toDouble
            nUni += 1
          }
        }
        if (p3 == 0.0 && p2 == 0.0 && p1 == 0.0) nOov += 1
        sum += lam3 * p3 + lam2 * p2 + lam1 * p1
        p += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](math.max(0, n - 2).toLong, nTri, nBi, nUni, nOov, sum))
    }

    override protected def withNewChildInternal(newChild: Expression): InterpScore =
      copy(child = newChild)
  }

  /** DSIR per-doc scoring: for each bigram, hash to a bucket (the md5
   * tokenCode convention — first 4 md5 bytes as an unsigned 32-bit int,
   * identical to conv(substring(md5(g),1,8),16,10)) and accumulate the
   * add-1-smoothed target/raw probability ratio
   *   ((ct[b]+1)·(tr+B)) / ((cr[b]+1)·(tt+B))
   * in array order. Bit-identical to the Column-composed twin (same
   * integer products, same single division per gram, same fold order) —
   * the native expression exists because the HOF path evaluates an
   * interpreted lambda with two literal-array probes AND an md5 per
   * gram per row; this runs the same math in one tight loop. Output
   * struct: (n grams, ratio sum). */
  case class DsirScore(child: Expression, ct: Array[Long], cr: Array[Long],
                       tr: Long, tt: Long)
      extends UnaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("n", LongType, nullable = false),
      StructField("s", DoubleType, nullable = false)))
    override def prettyName: String = "dsir_score"

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("dsirScore", this, classOf[DsirScore].getName)
      val javaType = CodeGenerator.javaType(dataType)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = ($javaType) $ref.nullSafeEval($c);")
    }

    @transient private lazy val buckets: Int = cr.length
    @transient private lazy val trB: Double = (tr + buckets).toDouble
    @transient private lazy val ttB: Double = (tt + buckets).toDouble
    @transient private lazy val md5 =
      new ThreadLocal[java.security.MessageDigest] {
        override def initialValue(): java.security.MessageDigest =
          java.security.MessageDigest.getInstance("MD5")
      }

    // Null-gram contract: null elements are SKIPPED — excluded from both
    // the ratio sum and the gram count n. (The Column-composed twin
    // dsirScoreHof would instead null-poison the whole struct; null gram
    // elements are OUT OF CONTRACT — word_shingles never emits them — and
    // the bit-identity pin only covers null-free arrays. r10 advice: the
    // old code counted nulls in n but not s, a third, undocumented
    // behavior.)
    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val total = arr.numElements()
      var n = 0L
      var sum = 0.0
      var i = 0
      val digest = md5.get()
      while (i < total) {
        if (!arr.isNullAt(i)) {
          digest.reset()
          val h = digest.digest(arr.getUTF8String(i).getBytes)
          val code = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
            ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
          val b = (code % buckets).toInt
          sum += ((ct(b) + 1L).toDouble * trB) / ((cr(b) + 1L).toDouble * ttB)
          n += 1L
        }
        i += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](n, sum))
    }

    override protected def withNewChildInternal(newChild: Expression): DsirScore =
      copy(child = newChild)
  }

  /** Trained language-ID voting: for each char-gram, hash to a bucket
   * (the md5 tokenCode convention) and vote for the language whose
   * add-1-smoothed gram probability (counts(l)(b)+1)/dens(l) is
   * LARGEST — the comparison runs as exact integer cross-
   * multiplication ((c_l+1)·den_best vs (c_best+1)·den_l), so there
   * is no float anywhere in the decision and the DuckDB oracle's
   * HUGEINT re-derivation lands on identical votes. Ties keep the
   * smaller language index (alphabetical — the model sorts its
   * languages). The fold over languages is a tight primitive loop per
   * gram; no priors (priors need the log domain; per-gram likelihood
   * voting is the exactness dodge, the dsir_score precedent).
   *
   * Null grams are SKIPPED (excluded from n and the votes), matching
   * the DsirScore null contract. Output struct:
   * (n grams, best language index or -1 when n == 0, best vote
   * count, per-language vote counts). */
  // Model params are Seq (structural equality), NOT Array (reference
  // equality): two semantically identical LangIdVote instances must
  // compare equal or common-subexpression elimination and semantic
  // plan-cache matching silently fail whenever the vote is referenced
  // twice. The eval hot path reads @transient lazy Array copies.
  case class LangIdVote(child: Expression, counts: Seq[Seq[Long]],
                        dens: Seq[Long])
      extends UnaryExpression {
    require(counts.length == dens.length && counts.nonEmpty)
    override def dataType: DataType = StructType(Seq(
      StructField("n", LongType, nullable = false),
      StructField("best", IntegerType, nullable = false),
      StructField("top", LongType, nullable = false),
      StructField("votes", ArrayType(LongType, containsNull = false),
        nullable = false)))
    override def prettyName: String = "langid_vote"

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("langidVote", this, classOf[LangIdVote].getName)
      val javaType = CodeGenerator.javaType(dataType)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = ($javaType) $ref.nullSafeEval($c);")
    }

    @transient private lazy val countsArr: Array[Array[Long]] =
      counts.map(_.toArray).toArray
    @transient private lazy val densArr: Array[Long] = dens.toArray
    @transient private lazy val nLangs: Int = dens.length
    @transient private lazy val buckets: Int = counts.head.length
    @transient private lazy val md5 =
      new ThreadLocal[MessageDigest] {
        override def initialValue(): MessageDigest =
          MessageDigest.getInstance("MD5")
      }

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val total = arr.numElements()
      val votes = new Array[Long](nLangs)
      var n = 0L
      var i = 0
      val digest = md5.get()
      while (i < total) {
        if (!arr.isNullAt(i)) {
          val code = md5Code(digest, arr.getUTF8String(i).getBytes)
          val b = (code % buckets).toInt
          var best = 0
          var l = 1
          while (l < nLangs) {
            if ((countsArr(l)(b) + 1L) * densArr(best) >
                (countsArr(best)(b) + 1L) * densArr(l)) best = l
            l += 1
          }
          votes(best) += 1L
          n += 1L
        }
        i += 1
      }
      var best = 0
      var l = 1
      while (l < nLangs) {
        if (votes(l) > votes(best)) best = l
        l += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](n, if (n == 0L) -1 else best, votes(best),
          new GenericArrayData(votes)))
    }

    override protected def withNewChildInternal(newChild: Expression): LangIdVote =
      copy(child = newChild)
  }

  import org.apache.spark.sql.graftglue.Bridge

  def shingleSimhash(shingles: Column): Column =
    Bridge.column(ShingleSimHash(Bridge.expression(shingles)))

  def shingleMinhash(shingles: Column, k: Int): Column =
    Bridge.column(ShingleMinHash(Bridge.expression(shingles), k))

  def maxMultiplicity(arr: Column): Column =
    Bridge.column(MaxMultiplicity(Bridge.expression(arr)))

  def windowHashes(toks: Column, w: Int): Column =
    Bridge.column(RollingWindowHashes(Bridge.expression(toks), w))

  def wordShingles(toks: Column, n: Int): Column =
    Bridge.column(WordShingles(Bridge.expression(toks), n))

  def bpeEncode(words: Column, merges: Seq[(String, String)]): Column =
    Bridge.column(BpeEncode(Bridge.expression(words), merges))

  def bpeEncodeFast(words: Column, merges: Seq[(String, String)]): Column =
    Bridge.column(BpeEncodeFast(Bridge.expression(words), merges))

  def byteAlphabet(s: Column): Column =
    Bridge.column(ByteAlphabet(Bridge.expression(s)))

  def decodeHtmlEntities(s: Column): Column =
    Bridge.column(DecodeHtmlEntities(Bridge.expression(s)))

  def byteAlphabetInverse(s: Column): Column =
    Bridge.column(ByteAlphabetInverse(Bridge.expression(s)))

  def vocabScore(grams: Column, vocab: Map[String, Double]): Column =
    Bridge.column(VocabScore(Bridge.expression(grams), vocab))

  def backoffScore(toks: Column, tri: Map[String, Double], bi: Map[String, Double],
                   uni: Map[String, Double], alpha: Double): Column =
    Bridge.column(BackoffScore(Bridge.expression(toks), tri, bi, uni, alpha))

  def interpScore(toks: Column, tri: Map[String, Long], triCtx: Map[String, Long],
                  bi: Map[String, Long], biCtx: Map[String, Long],
                  uni: Map[String, Long], n1: Long,
                  lam3: Double, lam2: Double, lam1: Double): Column =
    Bridge.column(InterpScore(Bridge.expression(toks), tri, triCtx, bi, biCtx,
      uni, n1, lam3, lam2, lam1))

  def dsirScore(grams: Column, ct: Array[Long], cr: Array[Long],
                tr: Long, tt: Long): Column =
    Bridge.column(DsirScore(Bridge.expression(grams), ct, cr, tr, tt))

  def langIdVote(grams: Column, counts: Seq[Seq[Long]],
                 dens: Seq[Long]): Column =
    Bridge.column(LangIdVote(Bridge.expression(grams), counts, dens))

  /**
   * The strings of one SetProbe/MapProbe in the form a task ships and
   * reads cheaply: every member (for a map: key, value, key, value, ...)
   * UTF-8 encoded back to back into ONE byte array plus an end-offset
   * array. Java serialization writes those two primitive arrays, not one
   * object per string plus a Scala collection to rebuild in every task
   * (a 262k-entry map took 0.6-0.9 s per task to deserialize that way
   * on a 4-core host, under 0.1 s as two arrays), and the per-task
   * hash table holds zero-copy UTF8String views into the bytes. Equality
   * and hashing are by content, hashed once; `toString` is a size, so
   * rendering a plan never walks the members. Null members are dropped
   * (a null key never probes, a null value reads as absent).
   */
  final class ProbeTable private (private val bytes: Array[Byte], private val ends: Array[Int],
                                  val isMap: Boolean)
      extends Serializable {
    def size: Int = if (isMap) ends.length / 2 else ends.length

    private def str(i: Int): UTF8String = {
      val from = if (i == 0) 0 else ends(i - 1)
      UTF8String.fromBytes(bytes, from, ends(i) - from)
    }

    // built once per deserialized instance (once per task), not per row
    @transient private lazy val table: java.util.HashMap[UTF8String, UTF8String] = {
      val m = new java.util.HashMap[UTF8String, UTF8String](math.max(16, size * 2))
      if (isMap) for (i <- 0 until size) m.put(str(2 * i), str(2 * i + 1))
      else for (i <- 0 until size) m.put(str(i), null)
      m
    }

    def contains(key: UTF8String): Boolean = table.containsKey(key)
    def get(key: UTF8String): UTF8String = table.get(key)

    @transient private lazy val hash =
      scala.util.hashing.MurmurHash3.arrayHash(bytes) * 31 + java.util.Arrays.hashCode(ends)
    override def hashCode: Int = hash
    override def equals(o: Any): Boolean = o match {
      case p: ProbeTable => (p eq this) || (isMap == p.isMap && hash == p.hash &&
        java.util.Arrays.equals(ends, p.ends) && java.util.Arrays.equals(bytes, p.bytes))
      case _ => false
    }
    override def toString: String = s"<$size ${if (isMap) "entries" else "values"}>"
  }

  object ProbeTable {
    private def pack(strs: Iterator[String], isMap: Boolean): ProbeTable = {
      val out = new java.io.ByteArrayOutputStream()
      val ends = Array.newBuilder[Int]
      strs.foreach { s => out.writeBytes(s.getBytes("UTF-8")); ends += out.size() }
      new ProbeTable(out.toByteArray, ends.result(), isMap)
    }
    def of(values: Iterable[String]): ProbeTable =
      pack(values.iterator.filter(_ != null), isMap = false)
    def of(entries: scala.collection.Map[String, String]): ProbeTable =
      pack(entries.iterator.filter { case (k, v) => k != null && v != null }
        .flatMap { case (k, v) => Iterator(k, v) }, isMap = true)
  }

  /**
   * O(1) driver-built hash probe over a literal string->string map — the
   * query-id lookup on the point-lookup path (OneHop/GraphOps). A
   * `typedLit(Map)` probes through GetMapValue, which LINEARLY scans the
   * keys per row; subclass expansions reach tens of thousands of entries,
   * so map literals need the same treatment isin gets from InSet: a hash
   * table built once per task, referenced from codegen. Returns null
   * for keys not in the map (and for null keys). A non-string key is cast
   * to string at analysis, so the table only ever sees a UTF8String.
   */
  case class MapProbe(child: Expression, entries: ProbeTable)
      extends UnaryExpression with ImplicitCastInputTypes {
    override def dataType: DataType = StringType
    override def inputTypes = Seq(StringType)
    override def nullable: Boolean = true
    override def prettyName: String = "map_probe"

    def lookup(key: Any): Any = entries.get(key.asInstanceOf[UTF8String])

    override def nullSafeEval(input: Any): Any = lookup(input)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("mapProbe", this, classOf[MapProbe].getName)
      nullSafeCodeGen(ctx, ev, c => s"""
        ${ev.value} = (org.apache.spark.unsafe.types.UTF8String) $ref.lookup($c);
        ${ev.isNull} = ${ev.value} == null;""")
    }

    override protected def withNewChildInternal(newChild: Expression): MapProbe =
      copy(child = newChild)
  }

  def mapProbe(key: Column, entries: scala.collection.Map[String, String]): Column =
    Bridge.column(MapProbe(Bridge.expression(key), ProbeTable.of(entries)))

  /**
   * O(1) driver-built hash-set membership over a literal string set — the
   * large-id-set twin of `isin` on the point-lookup path. `isin`
   * builds one Literal NODE per value and the lookup references the
   * same set several times (scan filter + both direction branches), so a
   * 7k-id subclass expansion put ~30k literal nodes in front of the
   * analyzer — seconds of driver time per query. This expression carries
   * the set as ONE object (like InSet's hash set, but shared across all
   * plan references: probes built from one ProbeTable ship it once and
   * build one hash table per task). Null key -> null, like isin. A
   * non-string key is cast to string at analysis, so the set only ever
   * sees a UTF8String.
   */
  case class SetProbe(child: Expression, values: ProbeTable)
      extends UnaryExpression with ImplicitCastInputTypes {
    override def dataType: DataType = BooleanType
    override def inputTypes = Seq(StringType)
    override def prettyName: String = "set_probe"

    def contains(key: Any): Boolean = values.contains(key.asInstanceOf[UTF8String])

    override def nullSafeEval(input: Any): Any = contains(input)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("setProbe", this, classOf[SetProbe].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.contains($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): SetProbe =
      copy(child = newChild)
  }

  def setProbe(key: Column, values: Iterable[String]): Column =
    setProbe(key, ProbeTable.of(values))

  def setProbe(key: Column, values: ProbeTable): Column =
    Bridge.column(SetProbe(Bridge.expression(key), values))
}
