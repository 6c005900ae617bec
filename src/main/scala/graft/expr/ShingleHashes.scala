package graft.expr

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word w-shingle hashes of lowercased text, in ONE pass:
  * tokenize → build each w-gram → xxhash64 → dedupe, straight to
  * `array<long>`.
  *
  * Drop-in replacement (bit-identical output) for the composable chain
  *   `transform(array_distinct(when(size(words) >= w,
  *      transform(sequence(0, size(words)-w),
  *        i => concat_ws(" ", slice(words, i+1, w))))
  *      .otherwise(array(concat_ws(" ", words)))), s => xxhash64(s))`
  * with `words = split(lower(trim(text)), "\\s+")` — which runs as TWO
  * interpreted HOF lambdas per row (HigherOrderFunction never enters
  * whole-stage codegen) and allocates the full intermediate shingle-string
  * array. Feeds every MinHash/Jaccard operator, so it is the hottest
  * scan-side projection in the dedup layer.
  *
  * Pinned semantics:
  *   - trim strips ASCII spaces; lower is `toLowerCase(Locale.ROOT)`
  *     (UTF8String's non-ASCII path); split is Java regex `\s+` with
  *     limit -1 (leading/trailing separator runs yield empty tokens,
  *     empty text yields one empty token);
  *   - shingle i = tokens[i..i+w-1] joined by a single space; if fewer
  *     than w tokens, ONE shingle of all tokens joined;
  *   - dedupe keeps first occurrence (array_distinct semantics); hashes
  *     are Spark's `xxhash64` (seed 42) over the shingle's UTF-8 bytes —
  *     distinct-by-string equals distinct-by-hash absent 64-bit
  *     collisions (~1e-14 per document). */
case class ShingleHashes(child: Expression, w: Int,
    distinct: Boolean = true) extends UnaryExpression {

  require(w > 0, "shingle width must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "shingle_hashes"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"shingle_hashes requires string, got ${t.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    ShingleHashes.compute(input.asInstanceOf[UTF8String], w, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      s => s"graft.expr.ShingleHashes$$.MODULE$$.compute($s, $w, $distinct)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashes {

  @inline private def isSep(c: Char): Boolean = isSepChar(c)

  @inline private[expr] def isSepChar(c: Char): Boolean = // Java regex \s
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Shared eval/codegen kernel. `distinct=false` keeps every shingle
    * occurrence (the token-multiset view SimHash's weighted voting needs
    * at w=1 — `transform(split(lower(trim(text)),"\\s+"), xxhash64)`
    * exactly). */
  def compute(input: UTF8String, w: Int, distinct: Boolean): ArrayData = {
    // trim ASCII spaces, then lowercase once (Locale.ROOT — the same
    // mapping UTF8String.toLowerCase applies)
    val raw = input.toString
    var b = 0
    var e = raw.length
    while (b < e && raw.charAt(b) == ' ') b += 1
    while (e > b && raw.charAt(e - 1) == ' ') e -= 1
    val s = raw.substring(b, e).toLowerCase(java.util.Locale.ROOT)

    // tokenize with split(-1) semantics: one token before/after/between
    // separator RUNS — a leading run yields an empty first token, a
    // trailing run an empty last token, "" yields [""]
    val tokens = new java.util.ArrayList[String](32)
    var i = 0
    var tokStart = 0
    while (i < s.length) {
      if (isSep(s.charAt(i))) {
        tokens.add(s.substring(tokStart, i))
        while (i < s.length && isSep(s.charAt(i))) i += 1
        tokStart = i
      } else i += 1
    }
    tokens.add(s.substring(tokStart, s.length))

    val n = tokens.size
    val nShingles = if (n >= w) n - w + 1 else 1
    val width = if (n >= w) w else n
    val seen = new java.util.HashSet[java.lang.Long](nShingles * 2)
    val out = new java.util.ArrayList[java.lang.Long](nShingles)
    val sb = new java.lang.StringBuilder(64)
    var start = 0
    while (start < nShingles) {
      sb.setLength(0)
      var j = 0
      while (j < width) {
        if (j > 0) sb.append(' ')
        sb.append(tokens.get(start + j))
        j += 1
      }
      val h = java.lang.Long.valueOf(XxHash64Function.hash(
        UTF8String.fromString(sb.toString), StringType, 42L))
      if (!distinct || seen.add(h)) out.add(h)
      start += 1
    }
    val arr = new Array[Long](out.size)
    i = 0
    while (i < arr.length) { arr(i) = out.get(i); i += 1 }
    new GenericArrayData(arr)
  }

  def apply(text: Column, w: Int): Column =
    GraftBridge.column(ShingleHashes(GraftBridge.expression(text), w))

  def apply(text: Column, w: Int, distinct: Boolean): Column =
    GraftBridge.column(ShingleHashes(GraftBridge.expression(text), w, distinct))
}

/** Engine-portable token hashes in one pass: whitespace-split lowercased
  * words (empties dropped, repeats kept), each hashed to the first 64 bits
  * of its md5 digest (bytes 0..7 big-endian — the integer the hex-parse
  * convention `(conv(substr(hex,1,8),16,10) << 32) | conv(substr(hex,9,8),
  * 16,10)` produces). Bit-identical to the composable chain
  *   `transform(filter(split(lower(trim(text)), "\\s+"), t => t =!= ""),
  *      t => shiftleft(conv(substring(md5(t),1,8),16,10).cast("long"), 32)
  *             .bitwiseOR(conv(substring(md5(t),9,8),16,10).cast("long")))`
  * which runs as interpreted HOF lambdas materializing a hex string +
  * two substrings + two radix parses per token. Feeds the oracle-able
  * [[graft.llm.Dedup.simhashPortable]] hash family. */
case class Md5TokenHashes(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "md5_token_hashes"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"md5_token_hashes requires string, got ${t.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    Md5TokenHashes.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      s => s"graft.expr.Md5TokenHashes$$.MODULE$$.compute($s)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5TokenHashes {

  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Shared eval/codegen kernel. */
  def compute(input: UTF8String): ArrayData = {
    val raw = input.toString
    var b = 0
    var e = raw.length
    while (b < e && raw.charAt(b) == ' ') b += 1
    while (e > b && raw.charAt(e - 1) == ' ') e -= 1
    val s = raw.substring(b, e).toLowerCase(java.util.Locale.ROOT)

    val md = digests.get()
    val out = new java.util.ArrayList[java.lang.Long](32)
    var i = 0
    var tokStart = 0
    def emit(from: Int, until: Int): Unit = if (until > from) {
      md.reset()
      val d = md.digest(
        s.substring(from, until).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var h = 0L
      var j = 0
      while (j < 8) { h = (h << 8) | (d(j) & 0xffL); j += 1 }
      out.add(java.lang.Long.valueOf(h))
    }
    while (i < s.length) {
      if (ShingleHashes.isSepChar(s.charAt(i))) {
        emit(tokStart, i)
        while (i < s.length && ShingleHashes.isSepChar(s.charAt(i))) i += 1
        tokStart = i
      } else i += 1
    }
    emit(tokStart, s.length)

    val arr = new Array[Long](out.size)
    i = 0
    while (i < arr.length) { arr(i) = out.get(i); i += 1 }
    new GenericArrayData(arr)
  }

  def apply(text: Column): Column =
    GraftBridge.column(Md5TokenHashes(GraftBridge.expression(text)))
}
