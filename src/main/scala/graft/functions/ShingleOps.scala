package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native array kernels for the shingle/dedup pipeline.
  *
  * Both replace higher-order-function Column trees (`zip_with` chains,
  * `transform(arr, s => md5-conv-substring(s))`): HOF lambdas are
  * interpreted per ELEMENT with no common-subexpression elimination, and
  * the optimizer additionally duplicates the whole tree into inferred
  * filters and both sides of self-joins — the dedup_* suite queries spent
  * >90% of their wall in those interpreted evals (measured via the r06
  * before-plans: the zip_with chain appears 9+ times across the
  * dedup_ngram_jaccard plan). Each kernel is one codegen'd loop via a
  * static helper, so the duplicated occurrences cost microseconds each.
  */
object ShingleUtil {
  private val Space = UTF8String.fromString(" ")

  /** Word k-shingles of a word array: element i = words[i..i+k-1] joined
    * by single spaces, windows extending past the end dropped — exactly
    * the `filter(zip_with-chain, isnotnull)` form this replaces (concat
    * is null-strict there, so a window containing a NULL word drops). */
  def shingles(words: ArrayData, k: Int): ArrayData = {
    val n = words.numElements()
    val m = n - k + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m)
    var outN = 0
    val window = new Array[UTF8String](2 * k - 1)
    var j = 1
    while (j < window.length) { window(j) = Space; j += 2 }
    var i = 0
    while (i < m) {
      var ok = true
      var w = 0
      while (w < k && ok) {
        if (words.isNullAt(i + w)) ok = false
        else window(2 * w) = words.getUTF8String(i + w)
        w += 1
      }
      if (ok) { out(outN) = UTF8String.concat(window: _*); outN += 1 }
      i += 1
    }
    if (outN == m) new GenericArrayData(out)
    else new GenericArrayData(java.util.Arrays.copyOf(
      out.asInstanceOf[Array[AnyRef]], outN))
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** `conv(substring(md5(s), 1, hexChars), 16, 10)` as one native call:
    * the first `hexChars` hex digits of the md5 of the UTF-8 bytes,
    * parsed as an unsigned integer. hexChars ≤ 15 keeps the value inside
    * a positive signed 64-bit long (same bound the Column form relies
    * on). */
  def md5Prefix(s: UTF8String, hexChars: Int): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes)
    // big-endian value of the first ceil(hexChars/2) bytes, then shift
    // off the low nibble when hexChars is odd
    var v = 0L
    val fullBytes = hexChars / 2
    var i = 0
    while (i < fullBytes) { v = (v << 8) | (d(i) & 0xFFL); i += 1 }
    if ((hexChars & 1) == 1) v = (v << 4) | ((d(fullBytes) & 0xF0L) >>> 4)
    v
  }

  private val Empty = UTF8String.EMPTY_UTF8

  /** Strict ANSI string→int grammar, exception-free: whitespace/control
    * trim (trimAll, matching Spark's cast), optional sign, ASCII digits
    * only, 32-bit range — exactly `try_cast(s AS int)`'s accept set
    * (fuzz-pinned in TryCastIntSpec; note `UTF8String.toInt(IntWrapper)`
    * is NOT this grammar — it truncates at a decimal point). Returns
    * null (boxed) on reject. */
  def tryParseInt(s0: UTF8String): Integer = {
    val s = s0.trimAll()
    val b = s.getBytes
    val n = b.length
    if (n == 0) return null
    var i = 0
    val neg = b(0) == '-'
    if (neg || b(0) == '+') i = 1
    if (i == n) return null
    // accumulate NEGATIVE (|Int.MinValue| > |Int.MaxValue|)
    var acc = 0L
    while (i < n) {
      val c = b(i)
      if (c < '0' || c > '9') return null
      acc = acc * 10 + (c - '0')
      if (acc > 2147483648L) return null // early overflow cut
      i += 1
    }
    if (neg) { if (acc > 2147483648L) null else Integer.valueOf((-acc).toInt) }
    else { if (acc > 2147483647L) null else Integer.valueOf(acc.toInt) }
  }

  /** See [[FirstDigitRun]]. */
  def firstDigitRun(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    var i = 0
    while (i < bytes.length && (bytes(i) < '0' || bytes(i) > '9')) i += 1
    if (i == bytes.length) return Empty
    var j = i
    while (j < bytes.length && bytes(j) >= '0' && bytes(j) <= '9') j += 1
    UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, i, j))
  }

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** Count of non-overlapping `\s<word>\s` matches in `" " + s + " "` —
    * value-identical to
    * `size(split(concat(' ', s, ' '), "\\s" + quote(word) + "\\s")) - 1`
    * (the form this replaces, and the form the DuckDB oracle mirrors as
    * `len(string_split_regex(' ' || s || ' ', '\swords\s')) - 1`).
    *
    * Faithfulness notes, each pinned in StopwordCountSpec:
    *  - `\s` without UNICODE_CHARACTER_CLASS is ASCII-only
    *    [ \t\n\x0B\f\r]; all are single UTF-8 bytes, and UTF-8
    *    continuation bytes are >= 0x80, so a byte scan cannot split a
    *    multi-byte code point into a fake boundary;
    *  - Java `Pattern.split` consumes separators left-to-right
    *    non-overlapping: after a match the next search starts AFTER the
    *    trailing whitespace, so `"the the"` (single spaces) counts ONCE —
    *    the kernel advances j by L+2 on a match for exactly this reason;
    *  - the leading/trailing pad spaces are virtual (index -1 and n read
    *    as ' '), so no per-row concat allocation.
    * `word` must be non-empty with no ASCII-whitespace bytes (true of
    * every marker; enforced at expression construction). */
  def stopwordCount(s: UTF8String, word: Array[Byte]): Int = {
    val b = s.getBytes
    val n = b.length
    val L = word.length
    var count = 0
    var j = -1 // raw index of the leading-boundary char; -1/n are virtual pads
    val jMax = n - L - 1 // word occupies raw j+1 .. j+L
    while (j <= jMax) {
      var hit = (j == -1) || isWs(b(j))
      if (hit) {
        var w = 0
        while (w < L && hit) {
          if (b(j + 1 + w) != word(w)) hit = false
          w += 1
        }
        if (hit) {
          val t = j + L + 1 // trailing-boundary raw index; n is the virtual pad
          hit = t == n || isWs(b(t))
        }
      }
      if (hit) { count += 1; j += L + 2 } else j += 1
    }
    count
  }

  /** `size(split(trim(s), "\\s+"))` as one byte scan. `trim` (space-only,
    * exactly like the Column form's `trim`) then Pattern.split with `\s+`:
    * parts = (maximal ASCII-whitespace runs) + 1 — a leading/trailing
    * non-space whitespace run still separates an empty part, which is why
    * the run count alone reproduces split's quirks (e.g. "\tfoo" → 2).
    * Callers keep the `when(length(trim(s)) = 0, 0)` gate outside, as the
    * Column form does. Fuzz-pinned in StopwordCountSpec. */
  def wsTokenCount(s: UTF8String): Int = {
    val b = s.trim().getBytes
    var runs = 0
    var inRun = false
    var i = 0
    while (i < b.length) {
      val w = isWs(b(i))
      if (w && !inRun) runs += 1
      inRun = w
      i += 1
    }
    runs + 1
  }

  /** `length(regexp_replace(trim(s), "\\s+", ""))` as one byte scan:
    * code points that are not ASCII whitespace. The surrounding `trim`
    * drops only 0x20 — which `\s` removes anyway — so scanning the whole
    * string is value-identical. Code points = non-continuation bytes
    * ((b & 0xC0) != 0x80), matching `length`'s numChars. Fuzz-pinned in
    * StopwordCountSpec. */
  def nonWsCharCount(s: UTF8String): Int = {
    val b = s.getBytes
    var c = 0
    var i = 0
    while (i < b.length) {
      val x = b(i)
      if ((x & 0xC0) != 0x80 && !isWs(x)) c += 1
      i += 1
    }
    c
  }

  /** Element-wise [[md5Prefix]] over a string array (null in → null out,
    * mirroring the `transform(arr, s => ...)` tree this replaces). */
  def md5PrefixArray(arr: ArrayData, hexChars: Int): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (arr.isNullAt(i)) null
        else java.lang.Long.valueOf(md5Prefix(arr.getUTF8String(i), hexChars))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** First ASCII digit run of a string — value-identical to
  * `regexp_extract(s, "(\\d+)", 1)` (Java `\d` without UNICODE_CHARACTER_
  * CLASS matches [0-9] only; no match → empty string; NULL → NULL), as
  * one byte scan instead of a per-row Matcher + String + MatchResult
  * allocation chain. UTF-8 continuation bytes are ≥ 0x80, so byte-level
  * scanning can never split a multi-byte code point into a fake digit. */
case class FirstDigitRun(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs string, got $other")
    }
  override def dataType: DataType = StringType
  override def prettyName: String = "first_digit_run"

  override protected def nullSafeEval(input: Any): Any =
    ShingleUtil.firstDigitRun(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s =>
      s"graft.functions.ShingleUtil.firstDigitRun($s)")

  override protected def withNewChildInternal(newChild: Expression): FirstDigitRun =
    copy(child = newChild)
}

object FirstDigitRun {
  def apply(s: Column): Column = {
    import org.apache.spark.sql.graftbridge
    graftbridge.column(FirstDigitRun(graftbridge.expression(s)))
  }
}

/** `try_cast(s AS int)` without the exception machinery: Spark 4's TRY
  * evaluation of an ANSI string→int cast throws and catches a
  * NumberFormatException PER FAILING ROW (`UTF8String.toIntExact` is
  * `toInt(IntWrapper)` + throw) — ~5µs/row of fillInStackTrace for a
  * NULL. This calls the same `toInt(IntWrapper)` grammar directly, so
  * the accept/reject set and values are identical by construction
  * (TryCastIntSpec fuzz-pins equality against Spark's try_cast). */
case class TryCastInt(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs string, got $other")
    }
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "try_cast_int"

  override protected def nullSafeEval(input: Any): Any =
    ShingleUtil.tryParseInt(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"""
         |Integer ${ev.value}Boxed = graft.functions.ShingleUtil.tryParseInt($s);
         |if (${ev.value}Boxed == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${ev.value}Boxed.intValue();
         |}
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): TryCastInt =
    copy(child = newChild)
}

object TryCastInt {
  def apply(s: Column): Column = {
    import org.apache.spark.sql.graftbridge
    graftbridge.column(TryCastInt(graftbridge.expression(s)))
  }
}

private[functions] trait StringArrayInput extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs array<string>, got $other")
    }
}

/** Word k-shingles over a word array — see [[ShingleUtil.shingles]]. */
case class ShingleJoin(child: Expression, k: Int)
  extends UnaryExpression with StringArrayInput {
  require(k >= 1, "shingle width k must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_join"

  override protected def nullSafeEval(input: Any): Any =
    ShingleUtil.shingles(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, arr =>
      s"graft.functions.ShingleUtil.shingles($arr, $k)")

  override protected def withNewChildInternal(newChild: Expression): ShingleJoin =
    copy(child = newChild)
}

object ShingleJoin {
  def apply(words: Column, k: Int): Column = {
    import org.apache.spark.sql.graftbridge
    graftbridge.column(ShingleJoin(graftbridge.expression(words), k))
  }
}

/** Element-wise md5-hex-prefix integer hash — see [[ShingleUtil.md5Prefix]].
  * Value-identical to `transform(arr, s =>
  * conv(substring(md5(s), 1, hexChars), 16, 10).cast("long"))`, the form
  * the DuckDB twin oracles mirror as
  * `CAST('0x' || substr(md5(x), 1, n) AS BIGINT)`. */
case class Md5PrefixLongArray(child: Expression, hexChars: Int)
  extends UnaryExpression with StringArrayInput {
  require(hexChars >= 1 && hexChars <= 15,
    "hexChars must be in [1, 15] to stay inside a signed 64-bit long")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "md5_prefix_long_array"

  override protected def nullSafeEval(input: Any): Any =
    ShingleUtil.md5PrefixArray(input.asInstanceOf[ArrayData], hexChars)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, arr =>
      s"graft.functions.ShingleUtil.md5PrefixArray($arr, $hexChars)")

  override protected def withNewChildInternal(
      newChild: Expression): Md5PrefixLongArray =
    copy(child = newChild)
}

object Md5PrefixLongArray {
  def apply(arr: Column, hexChars: Int): Column = {
    import org.apache.spark.sql.graftbridge
    graftbridge.column(
      Md5PrefixLongArray(graftbridge.expression(arr), hexChars))
  }
}

/** Standalone-token occurrence count — see [[ShingleUtil.stopwordCount]].
  * Replaces `size(split(concat(' ', s, ' '), "\\sword\\s")) - 1`, which
  * paid a full regex split + parts-array allocation per row per marker
  * (lang_id_heuristic evaluates 15 of them). One byte scan, no
  * allocation. */
case class StopwordCount(child: Expression, word: String)
  extends UnaryExpression with StringToIntKernel {
  require(word.nonEmpty && !word.exists(c =>
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' ||
        c == '\r'),
    "stopword must be non-empty with no ASCII-whitespace characters")

  override def prettyName: String = "stopword_count"

  @transient private lazy val wordBytes: Array[Byte] =
    word.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  override protected def nullSafeEval(input: Any): Any =
    ShingleUtil.stopwordCount(input.asInstanceOf[UTF8String], wordBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopword", wordBytes, "byte[]")
    defineCodeGen(ctx, ev, s =>
      s"graft.functions.ShingleUtil.stopwordCount($s, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): StopwordCount =
    copy(child = newChild)
}

object StopwordCount {
  def apply(s: Column, word: String): Column = {
    import org.apache.spark.sql.graftbridge
    graftbridge.column(StopwordCount(graftbridge.expression(s), word))
  }
}

private[functions] trait StringToIntKernel extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs string, got $other")
    }
  override def dataType: DataType = IntegerType
}

/** Whitespace-run token count — see [[ShingleUtil.wsTokenCount]]. */
case class WsTokenCount(child: Expression)
  extends UnaryExpression with StringToIntKernel {
  override def prettyName: String = "ws_token_count"
  override protected def nullSafeEval(input: Any): Any =
    ShingleUtil.wsTokenCount(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s =>
      s"graft.functions.ShingleUtil.wsTokenCount($s)")
  override protected def withNewChildInternal(newChild: Expression): WsTokenCount =
    copy(child = newChild)
}

object WsTokenCount {
  def apply(s: Column): Column = {
    import org.apache.spark.sql.graftbridge
    graftbridge.column(WsTokenCount(graftbridge.expression(s)))
  }
}

/** Non-whitespace code-point count — see [[ShingleUtil.nonWsCharCount]]. */
case class NonWsCharCount(child: Expression)
  extends UnaryExpression with StringToIntKernel {
  override def prettyName: String = "non_ws_char_count"
  override protected def nullSafeEval(input: Any): Any =
    ShingleUtil.nonWsCharCount(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s =>
      s"graft.functions.ShingleUtil.nonWsCharCount($s)")
  override protected def withNewChildInternal(newChild: Expression): NonWsCharCount =
    copy(child = newChild)
}

object NonWsCharCount {
  def apply(s: Column): Column = {
    import org.apache.spark.sql.graftbridge
    graftbridge.column(NonWsCharCount(graftbridge.expression(s)))
  }
}
