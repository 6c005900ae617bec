package graft.expr

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass text profile: every scalar counter the text-analysis layer
  * needs, computed in a single scan of the string and returned as a fixed
  * `array<int>` (see [[TextProfile.IEn]]… for the index map).
  *
  * WHY CUSTOM: the composable form — four `size(filter(split(...)))` HOFs
  * for the per-language stopword scores plus three `regexp_replace` /
  * `regexp_extract_all` passes — never enters whole-stage codegen
  * (HigherOrderFunction is interpreted lambda dispatch per element) and
  * re-evaluates the split per score. Measured at sf0.1 this made language
  * ID the single most expensive projection in the catalog (~84 s for the
  * `q_lang_breakdown` group-by). This kernel is one primitive loop per row,
  * codegen-friendly, and allocates only the 10-int result.
  *
  * Semantics are pinned to the Column-composed originals (and their DuckDB
  * oracle mirrors):
  *   - words = `split(lower(trim(text)), "\\s+")`: trim strips ASCII
  *     spaces only; separators are Java regex `\s` = [ \t\n\x0B\f\r];
  *     leading/trailing separator runs contribute empty tokens exactly as
  *     `String.split(regex, -1)` does (empty text ⇒ one empty token);
  *   - stopword match: whole-token equality after per-char lowercasing,
  *     ASCII-only (all stopword sets are ≤4 ASCII chars — a token with a
  *     non-ASCII lowercase can never match);
  *   - cjk   = count of chars in [U+4E00, U+9FFF] over the RAW text;
  *   - punct = count of POSIX `[:punct:]` ASCII chars over the raw text;
  *   - digit = count of [0-9] over the raw text;
  *   - bpeish = `regexp_extract_all(text, "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")`
  *     match count: letter runs + digit runs + single other non-ws glyphs.
  */
case class TextProfile(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "text_profile"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"text_profile requires string, got ${t.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    TextProfile.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.expr.TextProfile$$.MODULE$$.compute($s)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextProfile {
  // index map of the result array
  final val IEn = 0      // english stopword hits
  final val IFr = 1      // french stopword hits
  final val IEs = 2      // spanish stopword hits
  final val IDe = 3      // german stopword hits
  final val ICjk = 4     // CJK unified ideograph count
  final val INWords = 5  // split-token count (≥ 1, like split(...,-1))
  final val IPunct = 6   // POSIX punct char count
  final val IDigit = 7   // [0-9] char count
  final val IBpeish = 8  // BPE-ish pre-tokenizer match count
  final val ITrimLen = 9 // length after trimming ASCII spaces
  final val Width = 10

  /** Canonical tiny high-frequency function-word sets per language — the
    * language-ID signal. Owned here (the kernel layer); the library layer
    * (`graft.llm.TextAnalysis`) aliases these, so the packed keys below can
    * never drift from the published lists. */
  val StopwordsEn = Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")
  val StopwordsFr = Seq("le", "la", "de", "et", "un", "une", "est", "dans", "pour", "sur")
  val StopwordsEs = Seq("el", "la", "de", "y", "un", "una", "es", "en", "para", "con")
  val StopwordsDe = Seq("der", "die", "das", "und", "ein", "eine", "ist", "in", "mit", "auf")

  // Stopword sets packed as int keys: 7 bits per lowercased ASCII char
  // (max 4 chars) | length << 28 — injective for ASCII, so equality of keys
  // is equality of tokens. Lookup is a linear scan of ≤10 ints per
  // language — faster than any hash for sets this small.
  private def pack(ws: Seq[String]): Array[Int] = ws.map { w =>
    require(w.length <= 4 && w.forall(c => c < 128),
      s"stopword '$w' not packable (≤4 ASCII chars required)")
    var k = w.length << 28
    var i = 0
    while (i < w.length) { k |= w.charAt(i) << (7 * i); i += 1 }
    k
  }.toArray
  private val keysEn = pack(StopwordsEn)
  private val keysFr = pack(StopwordsFr)
  private val keysEs = pack(StopwordsEs)
  private val keysDe = pack(StopwordsDe)

  @inline private def isSep(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  @inline private def isPunct(c: Char): Boolean =
    (c >= '!' && c <= '/') || (c >= ':' && c <= '@') ||
      (c >= '[' && c <= '`') || (c >= '{' && c <= '~')

  @inline private def contains(keys: Array[Int], k: Int): Boolean = {
    var i = 0
    while (i < keys.length) { if (keys(i) == k) return true; i += 1 }
    false
  }

  /** Shared eval/codegen kernel. */
  def compute(input: UTF8String): ArrayData = {
    val s = input.toString
    val len = s.length
    val out = new Array[Int](Width)

    // trim ASCII spaces (Spark `trim` default) for the token scan bounds
    var b = 0
    var e = len
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    out(ITrimLen) = e - b

    // raw-text counters + bpeish run-state
    var inLetter = false
    var inDigit = false
    var i = 0
    while (i < len) {
      val c = s.charAt(i)
      if (c >= 0x4e00 && c <= 0x9fff) out(ICjk) += 1
      if (isPunct(c)) out(IPunct) += 1
      if (c >= '0' && c <= '9') out(IDigit) += 1
      val letter = (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')
      val digit = c >= '0' && c <= '9'
      if (letter) {
        if (!inLetter) out(IBpeish) += 1
        inLetter = true; inDigit = false
      } else if (digit) {
        if (!inDigit) out(IBpeish) += 1
        inDigit = true; inLetter = false
      } else {
        inLetter = false; inDigit = false
        if (!isSep(c)) out(IBpeish) += 1
      }
      i += 1
    }

    // token scan over the trimmed range: count separator runs (split yields
    // runs+1 segments, [""] for empty) and match ≤4-char tokens against the
    // packed stopword keys
    var runs = 0
    var tokLen = 0 // -1 marks "unmatchable" (too long / non-ASCII lower)
    var tokKey = 0
    i = b
    while (i <= e) {
      val atEnd = i == e
      if (!atEnd && !isSep(s.charAt(i))) {
        if (tokLen >= 0) {
          val lc = Character.toLowerCase(s.charAt(i))
          if (tokLen >= 4 || lc >= 128) tokLen = -1
          else { tokKey |= lc << (7 * tokLen); tokLen += 1 }
        }
      } else {
        // token boundary (separator char or end of text)
        if (tokLen > 0) {
          val k = tokKey | (tokLen << 28)
          if (contains(keysEn, k)) out(IEn) += 1
          if (contains(keysFr, k)) out(IFr) += 1
          if (contains(keysEs, k)) out(IEs) += 1
          if (contains(keysDe, k)) out(IDe) += 1
        }
        tokLen = 0; tokKey = 0
        if (!atEnd && (i == b || !isSep(s.charAt(i - 1)))) runs += 1
      }
      i += 1
    }
    out(INWords) = runs + 1

    new GenericArrayData(out)
  }

  def apply(text: Column): Column =
    GraftBridge.column(TextProfile(GraftBridge.expression(text)))
}
