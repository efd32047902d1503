package graft.spark

import org.apache.spark.sql.{Column, GraftStringUnaryInput, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The text-cleaning kernel (reference TextCleaner, adsft/utils.py:129-284)
  * and entity conversion (adsft/entitydefs.py:1903-1928) as NATIVE Catalyst
  * expressions: `doGenCode` emits a static call on the codegen hot path, so
  * both stay inside WholeStageCodegen spans (no UDF object churn, no
  * CodegenFallback virtual dispatch) — these are the two scalar kernels a
  * user would call over trillions of rows outside the extraction pipeline
  * proper (SURVEY.md §2.7: "as SQL: clean_text(col, ...)").
  */
object TextFunctions {

  /** static shims for generated code (UTF8String in/out, null-safe wrapper
    * is provided by nullSafeCodeGen)
    */
  def cleanText(s: UTF8String): UTF8String =
    UTF8String.fromString(graft.core.CleanText.run(s.toString))

  def convertEntities(s: UTF8String): UTF8String =
    UTF8String.fromString(graft.core.Entities.convert(s.toString))

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** One-pass 60-bit SimHash kernel — bit-for-bit the semantics of the
    * original column construction in [[graft.ops.Dedup.simhash]] (split on
    * [[graft.ops.TextAnalysis.WhitespaceRe]]'s six-character class, per-word
    * hash = first 15 md5 hex nibbles = big-endian first 8 digest bytes
    * `>>> 4`, majority vote per bit with ties voting 1), but ONE traversal
    * of the words and ONE md5 per word instead of sixty `aggregate()`
    * re-traversals per document. Empty/whitespace-only text has zero words,
    * so every vote is 0 >= 0 and all 60 bits set — same as the column form.
    */
  def simhash60(s: UTF8String): Long = {
    val text = s.toString
    val md = md5Local.get()
    val votes = new Array[Int](60)
    val n = text.length
    var i = 0
    while (i < n) {
      // skip the whitespace class (exactly WhitespaceRe's six characters)
      var c = text.charAt(i)
      if (c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r') {
        i += 1
      } else {
        val start = i
        while (i < n && {
          c = text.charAt(i)
          !(c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r')
        }) i += 1
        md.reset()
        val d = md.digest(text.substring(start, i)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val h = (((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
          ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
          ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
          ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)) >>> 4
        var j = 0
        while (j < 60) {
          votes(j) += (((h >>> j) & 1L) * 2 - 1).toInt
          j += 1
        }
      }
    }
    var out = 0L
    var j = 0
    while (j < 60) {
      if (votes(j) >= 0) out |= 1L << j
      j += 1
    }
    out
  }

  /** Rolling (Rabin-Karp) hashes of every length-`l` character window of
    * the text, stride 1 — ONE O(n) pass (each window hash is derived from
    * its predecessor in O(1): subtract the leaving char's `base^(l-1)`
    * term, multiply, add the entering char), not O(n*l) re-hashing. This
    * is what makes exact-substring dedup shuffle-affordable: the groupBy
    * key is an 8-byte hash per character position instead of the l-char
    * substring itself (l x corpus bytes through the Exchange).
    *
    * Wrap-around polynomial in 2^64, odd base: collisions are possible in
    * principle (two distinct windows sharing a hash would spuriously mark
    * both duplicated) but are birthday-bounded at ~n^2/2^65 — at 10^12
    * gram positions that is a handful of 20-char runs across the whole
    * corpus, the accepted trade of every hash-based ExactSubstr
    * implementation (vs Lee et al. 2022's suffix array, which does not
    * distribute). Positions are UTF-16 code units (== characters on the
    * BMP); the consumer splices with the SAME units so the contract is
    * self-consistent. Text shorter than `l` has no windows: empty array.
    */
  def charGramHashes(s: UTF8String, l: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val text = s.toString
    val n = text.length
    if (n < l)
      return org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(Array.emptyLongArray)
    val B = 0x100000001b3L // FNV-1a prime, odd -> invertible mod 2^64
    var pw = 1L
    var i = 0
    while (i < l - 1) { pw *= B; i += 1 }
    val out = new Array[Long](n - l + 1)
    var h = 0L
    i = 0
    while (i < l) { h = h * B + text.charAt(i); i += 1 }
    out(0) = h
    i = l
    while (i < n) {
      h = (h - text.charAt(i - l) * pw) * B + text.charAt(i)
      out(i - l + 1) = h
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** First-occurrence-distinct word `n`-gram shingles of the text in ONE
    * pass — the [[graft.ops.Dedup.shingled]] kernel as a native expression.
    * Bit-for-bit the semantics of the original column construction
    * (`array_distinct(transform(sequence(...), concat_ws(' ', words...)))`
    * over `filter(split(text, WhitespaceRe), len > 0)`): whitespace split
    * on exactly WhitespaceRe's six characters, each shingle = n
    * consecutive words joined by a single space, duplicates dropped at
    * their first occurrence (array_distinct order; byte-level UTF8String
    * equality), fewer than n words -> EMPTY array (a doc that cannot
    * contain an n-gram emits no shingles).
    *
    * Why a kernel and not columns: the column form is a higher-order
    * function chain (interpreted, never codegen'd), and
    * InferFiltersFromGenerate + predicate pushdown clone the WHOLE chain —
    * with `filter(split(text))` inlined at every `words` reference — into
    * a pre-Generate Filter, so every input row paid ~3 regex splits of the
    * full text PER SHINGLE INDEX, twice (filter + project). Measured 8.6 s
    * for a 5,000-doc corpus vs 0.2 s for the same rows pre-materialized;
    * this kernel is one split + one build per row, inside codegen.
    */
  def wordShingles(s: UTF8String,
      n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val text = s.toString
    val len = text.length
    val words = new java.util.ArrayList[String]()
    var i = 0
    while (i < len) {
      var c = text.charAt(i)
      if (c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r') {
        i += 1
      } else {
        val start = i
        while (i < len && {
          c = text.charAt(i)
          !(c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r')
        }) i += 1
        words.add(text.substring(start, i)): Unit
      }
    }
    val m = words.size - n + 1
    if (m <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    // LinkedHashSet preserves first-occurrence order = array_distinct's
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val sb = new java.lang.StringBuilder
    var k = 0
    while (k < m) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(words.get(k + j))
        j += 1
      }
      seen.add(UTF8String.fromString(sb.toString)): Unit
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      seen.toArray().asInstanceOf[Array[Any]])
  }

  /** Whitespace word split as ONE byte-level scan — the codegen kernel
    * behind [[graft.ops.TextAnalysis.words]]. Byte-identical to
    * `filter(split(text, "[ \t\n\x0B\f\r]+"), w -> length(w) > 0)`: the
    * delimiter class is pure ASCII, so scanning raw UTF-8 bytes (multibyte
    * sequences all have the high bit set and can never match) and slicing
    * words as byte ranges reproduces the regex split exactly — including
    * on malformed UTF-8, which a String round-trip would rewrite. The
    * interpreted higher-order original costs a regex pass plus a lambda
    * filter per evaluation, interpreted, and is cloned wholesale into
    * inferred pre-Generate filters (same pathology as [[wordShingles]]).
    */
  def wordsArray(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    val out = new java.util.ArrayList[Object]()
    var i = 0
    while (i < n) {
      val b = bytes(i)
      if (b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r') {
        i += 1
      } else {
        val start = i
        while (i < n && {
          val c = bytes(i)
          !(c == ' ' || c == '\t' || c == '\n' || c == 0x0B || c == '\f' || c == '\r')
        }) i += 1
        out.add(UTF8String.fromBytes(bytes, start, i - start)): Unit
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray().asInstanceOf[Array[Any]])
  }

  /** Remove every length-`l` window starting at the given 1-based
    * positions from the text — the action half of char-granularity
    * exact-substring dedup ([[graft.ops.Dedup.removeDuplicatedCharRuns]]).
    * `starts` must be ascending (the caller sort_array's the aggregated
    * positions); overlapping windows merge naturally (the cursor only
    * moves forward). One output-sized StringBuilder, no per-char rows.
    */
  def spliceCovered(s: UTF8String, starts: org.apache.spark.sql.catalyst.util.ArrayData,
      l: Int): UTF8String = {
    val text = s.toString
    val n = text.length
    val m = starts.numElements()
    val sb = new java.lang.StringBuilder(n)
    var cur = 0 // next uncopied 0-based index
    var k = 0
    while (k < m) {
      val st0 = (starts.getLong(k) - 1).toInt
      if (st0 > cur) {
        val upto = math.min(st0, n)
        sb.append(text, cur, upto)
        cur = upto
      }
      val end = st0 + l
      if (end > cur) cur = math.min(end, n)
      k += 1
    }
    if (cur < n) sb.append(text, cur, n)
    UTF8String.fromString(sb.toString)
  }

  /** arity check in the builder: a wrong-arity SQL call gets a clean
    * AnalysisException instead of a crash or silently-dropped arguments.
    * Shared by BOTH registration paths (createOrReplaceTempFunction and
    * the [[GraftExtensions]] injection) so they cannot disagree.
    */
  private[spark] def nary(name: String, n: Int, exprs: Seq[Expression])
      (build: Seq[Expression] => Expression): Expression = {
    if (exprs.length != n)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> name, "expectedNum" -> n.toString,
          "actualNum" -> exprs.length.toString, "docroot" -> ""))
    build(exprs)
  }

  private[spark] def unary(name: String, exprs: Seq[Expression])
      (build: Expression => Expression): Expression =
    nary(name, 1, exprs)(es => build(es.head))

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "clean_text", exprs => unary("clean_text", exprs)(CleanTextExpr), "scala_udf")
    reg.createOrReplaceTempFunction(
      "convert_entities", exprs => unary("convert_entities", exprs)(ConvertEntitiesExpr), "scala_udf")
    reg.createOrReplaceTempFunction(
      "simhash60", exprs => unary("simhash60", exprs)(SimHash60Expr), "scala_udf")
    ExtractDocExpr.register(spark)
  }

  import org.apache.spark.sql.GraftColumnBridge.{column, expression}
  def cleanText(c: Column): Column = column(CleanTextExpr(expression(c)))
  def convertEntities(c: Column): Column = column(ConvertEntitiesExpr(expression(c)))
  def simhash60(c: Column): Column = column(SimHash60Expr(expression(c)))
  def charGramHashes(c: Column, l: Int): Column =
    column(CharGramHashesExpr(expression(c), l))
  def wordShingles(c: Column, n: Int): Column =
    column(WordShinglesExpr(expression(c), n))
  def wordsOf(c: Column): Column = column(WordsExpr(expression(c)))
  def spliceCovered(text: Column, starts: Column, l: Int): Column =
    column(SpliceCoveredExpr(expression(text), expression(starts), l))
}

/** clean_text(s): translate ∘ NFKC ∘ trimwords (adsft/utils.py:263-284). */
case class CleanTextExpr(child: Expression) extends UnaryExpression with GraftStringUnaryInput {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    TextFunctions.cleanText(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.spark.TextFunctions.cleanText($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** convert_entities(s): `&name;`/`&#n;`/`&#xh;` → table lookup, unknown →
  * removed (reference semantics, adsft/entitydefs.py:1917-1928).
  */
case class ConvertEntitiesExpr(child: Expression) extends UnaryExpression with GraftStringUnaryInput {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    TextFunctions.convertEntities(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.spark.TextFunctions.convertEntities($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** simhash60(s): one-pass 60-bit SimHash of whitespace-split words (the
  * [[graft.ops.Dedup.simhash]] kernel as a native codegen'd expression).
  * NULL text stays NULL here; `Dedup.simhash` coalesces to 0 to preserve
  * the original column construction's NULL-in → 0-out behavior.
  */
case class SimHash60Expr(child: Expression) extends UnaryExpression with GraftStringUnaryInput {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override protected def nullSafeEval(input: Any): Any =
    TextFunctions.simhash60(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.spark.TextFunctions.simhash60($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** char_gram_hashes(s) with window length `l` baked in at plan time:
  * array<long> of rolling hashes, one per stride-1 window
  * ([[TextFunctions.charGramHashes]] — the O(n) Rabin-Karp kernel).
  */
case class CharGramHashesExpr(child: Expression, l: Int)
    extends UnaryExpression with GraftStringUnaryInput {
  require(l >= 1, s"window length must be >= 1, got $l")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextFunctions.charGramHashes(input.asInstanceOf[UTF8String], l)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.spark.TextFunctions.charGramHashes($c, $l)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** word_shingles(s) with shingle width `n` baked in at plan time:
  * array<string> of first-occurrence-distinct word n-gram shingles
  * ([[TextFunctions.wordShingles]] — the one-pass shingling kernel).
  */
case class WordShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression with GraftStringUnaryInput {
  require(n >= 1, s"shingle width must be >= 1, got $n")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextFunctions.wordShingles(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.spark.TextFunctions.wordShingles($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** graft_words(s): array<string> of whitespace-delimited words
  * ([[TextFunctions.wordsArray]] — the one-pass byte-level split kernel).
  */
case class WordsExpr(child: Expression)
    extends UnaryExpression with GraftStringUnaryInput {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    TextFunctions.wordsArray(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.spark.TextFunctions.wordsArray($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** splice_covered(text, sorted 1-based starts) with window length `l`
  * baked in: the text with every covered window removed
  * ([[TextFunctions.spliceCovered]]).
  */
case class SpliceCoveredExpr(left: Expression, right: Expression, l: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with org.apache.spark.sql.GraftStringLongArrayBinaryInput {
  require(l >= 1, s"window length must be >= 1, got $l")
  override def dataType: DataType = StringType
  override protected def nullSafeEval(t: Any, starts: Any): Any =
    TextFunctions.spliceCovered(t.asInstanceOf[UTF8String],
      starts.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], l)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, s) => s"graft.spark.TextFunctions.spliceCovered($t, $s, $l)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Session-extension entry point: `--conf spark.sql.extensions=
  * graft.spark.GraftExtensions` makes every graft SQL function available in
  * every session of a cluster without driver-side registration calls.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    ext.injectFunction((FunctionIdentifier("clean_text"),
      new ExpressionInfo(classOf[CleanTextExpr].getName, "clean_text"),
      (exprs: Seq[Expression]) => TextFunctions.unary("clean_text", exprs)(CleanTextExpr)))
    ext.injectFunction((FunctionIdentifier("convert_entities"),
      new ExpressionInfo(classOf[ConvertEntitiesExpr].getName, "convert_entities"),
      (exprs: Seq[Expression]) =>
        TextFunctions.unary("convert_entities", exprs)(ConvertEntitiesExpr)))
    ext.injectFunction((FunctionIdentifier("graft_extract"),
      new ExpressionInfo(classOf[ExtractDocExpr].getName, "graft_extract"),
      ExtractDocExpr.build _))
    ext.injectFunction((FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimExpr].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => TextFunctions.nary("cosine_sim", 2, exprs)(
        es => CosineSimExpr(es(0), es(1)))))
    ext.injectFunction((FunctionIdentifier("simhash60"),
      new ExpressionInfo(classOf[SimHash60Expr].getName, "simhash60"),
      (exprs: Seq[Expression]) =>
        TextFunctions.unary("simhash60", exprs)(SimHash60Expr)))
  }
}
