package graft.expr

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass tagged (kind, gram) occurrence list for the repetition
  * profile: non-blank lines plus every word n-gram for each requested n,
  * straight to `array<struct<kind, gram>>` for a single explode.
  *
  * Drop-in replacement (bit-identical rows) for the HOF composition
  *   `concat(transform(lines(t), tag), transform(ngrams(t, 2), tag), ...)`
  * where lines = `filter(split(t, "\n"), l => length(trim(l)) > 0)` and
  * ngrams is [[graft.llm.Repetition.ngrams]] — which evaluates 1 + |ns|
  * interpreted HOF lambdas per row plus the intermediate arrays
  * (HigherOrderFunction never enters whole-stage codegen). This kernel
  * tokenizes once and emits every occurrence in the same order.
  *
  * Pinned semantics (mirrors [[ShingleHashes.compute]] exactly where they
  * overlap):
  *   - lines split the RAW text on '\n' (original spacing kept in the
  *     gram); a line survives iff it is non-empty after trimming ASCII
  *     spaces — Spark `trim` strips 0x20 only;
  *   - grams tokenize `lower(trim(text))` with Java `\s+` split(-1)
  *     semantics (empty edge tokens kept, "" yields [""]);
  *   - n-gram i = tokens[i..i+n-1] joined by one space; fewer than n
  *     tokens → ONE gram of all tokens joined;
  *   - kinds are "line" and "g<n>"; emission order: lines, then each n in
  *     the order given. */
case class RepetitionGrams(child: Expression, ns: Seq[Int])
    extends UnaryExpression {

  require(ns.nonEmpty && ns.forall(_ > 0), s"gram sizes must be positive: $ns")

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("kind", StringType, nullable = false),
      StructField("gram", StringType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "repetition_grams"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"repetition_grams requires string, got ${t.simpleString}")
    }

  @transient private lazy val nsArray: Array[Int] = ns.toArray

  override def nullSafeEval(input: Any): Any =
    RepetitionGrams.compute(input.asInstanceOf[UTF8String], nsArray)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val nsRef = ctx.addReferenceObj("ns", nsArray, "int[]")
    defineCodeGen(ctx, ev,
      s => s"graft.expr.RepetitionGrams$$.MODULE$$.compute($s, $nsRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RepetitionGrams {

  @inline private def isSep(c: Char): Boolean = // Java regex \s
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  private val LineKind = UTF8String.fromString("line")

  def compute(input: UTF8String, ns: Array[Int]): ArrayData = {
    val raw = input.toString
    val out = new java.util.ArrayList[InternalRow](64)

    // 1) lines: raw split on '\n' (keep original spacing), keep lines that
    //    are non-empty after stripping ASCII spaces
    var ls = 0
    var i = 0
    while (i <= raw.length) {
      if (i == raw.length || raw.charAt(i) == '\n') {
        var b = ls
        var e = i
        while (b < e && raw.charAt(b) == ' ') b += 1
        while (e > b && raw.charAt(e - 1) == ' ') e -= 1
        if (e > b) out.add(InternalRow(LineKind,
          UTF8String.fromString(raw.substring(ls, i))))
        ls = i + 1
      }
      i += 1
    }

    // 2) tokenize lower(trim(text)) once — split(-1) semantics as in
    //    ShingleHashes.compute
    var b = 0
    var e = raw.length
    while (b < e && raw.charAt(b) == ' ') b += 1
    while (e > b && raw.charAt(e - 1) == ' ') e -= 1
    val s = raw.substring(b, e).toLowerCase(java.util.Locale.ROOT)
    val tokens = new java.util.ArrayList[String](32)
    i = 0
    var tokStart = 0
    while (i < s.length) {
      if (isSep(s.charAt(i))) {
        tokens.add(s.substring(tokStart, i))
        while (i < s.length && isSep(s.charAt(i))) i += 1
        tokStart = i
      } else i += 1
    }
    tokens.add(s.substring(tokStart, s.length))

    // 3) n-grams per requested n, in order
    val nTok = tokens.size
    val sb = new java.lang.StringBuilder(64)
    var k = 0
    while (k < ns.length) {
      val n = ns(k)
      val kind = UTF8String.fromString("g" + n)
      val nGrams = if (nTok >= n) nTok - n + 1 else 1
      val width = if (nTok >= n) n else nTok
      var start = 0
      while (start < nGrams) {
        sb.setLength(0)
        var j = 0
        while (j < width) {
          if (j > 0) sb.append(' ')
          sb.append(tokens.get(start + j))
          j += 1
        }
        out.add(InternalRow(kind, UTF8String.fromString(sb.toString)))
        start += 1
      }
      k += 1
    }

    val arr = new Array[Any](out.size)
    i = 0
    while (i < arr.length) { arr(i) = out.get(i); i += 1 }
    new GenericArrayData(arr)
  }

  def apply(text: Column, ns: Seq[Int]): Column =
    GraftBridge.column(RepetitionGrams(GraftBridge.expression(text), ns))
}
