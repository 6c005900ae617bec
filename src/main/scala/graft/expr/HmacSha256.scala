package graft.expr

import java.nio.charset.StandardCharsets
import javax.crypto.Mac
import javax.crypto.spec.SecretKeySpec

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Keyed HMAC-SHA256 over the delimiter-free concatenation of the
  * JS-stringification of every non-falsy argument.
  *
  * Engine analog of the reference's `hash(HMAC_KEY, ...props)`
  * (fxa-amplitude-send `utils.js:16-26`). Replicated bit-exactly on purpose
  * (SURVEY.md §2.3.2 — do NOT "fix"):
  *   - arguments that are JS-falsy (`null`/absent, `''`, numeric `0`, `NaN`,
  *     `false`) contribute NOTHING to the HMAC preimage;
  *   - surviving arguments are stringified like JS `String(x)` (integral
  *     doubles print without a fractional part) and concatenated with NO
  *     delimiter;
  *   - output is the lowercase hex digest (JS `hmac.digest('hex')`).
  *
  * Spark has no keyed hash builtin (`sha2`/`md5`/`xxhash64` are unkeyed), so
  * this is a custom Catalyst expression rather than a UDF: it keeps Catalyst
  * null-handling/foldability metadata and avoids Scala-object ser/deser per
  * row. The per-thread `Mac` cache amortizes key scheduling across rows.
  *
  * First child is the key; remaining children are the hashed properties.
  */
case class HmacSha256(children: Seq[Expression])
    extends Expression {

  require(children.nonEmpty, "hmac_sha256 requires at least a key argument")

  override def dataType: DataType = StringType
  override def nullable: Boolean = children.head.nullable
  override def prettyName: String = "hmac_sha256"

  override def eval(input: InternalRow): Any = {
    val key = children.head.eval(input)
    if (key == null) return null
    val args = new Array[Any](children.length - 1)
    var i = 1
    while (i < children.length) {
      args(i - 1) = children(i).eval(input)
      i += 1
    }
    HmacSha256.digest(key.toString, args)
  }

  /** Whole-stage-codegen support: evaluate children inline, box into an
    * Object[], call the static digest helper. Boxing is pennies next to the
    * SHA-256 itself; what matters is that the surrounding projection stays
    * inside WholeStageCodegen, where Spark's subexpression elimination
    * dedups the (expensive, multiply-referenced) variant subtrees — a
    * CodegenFallback here would force the entire stage interpreted. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val keyGen = children.head.genCode(ctx)
    val argGens = children.tail.map(_.genCode(ctx))
    val args = ctx.freshName("hmacArgs")
    val cls = HmacSha256.getClass.getName // "graft.expr.HmacSha256$"
    // Child evaluation is hoisted OUTSIDE the null guard so any
    // subexpression-eliminated values the children share with sibling
    // expressions stay valid; args are boxed (autobox for primitives).
    val setArgs = argGens.zipWithIndex.map { case (g, i) =>
      s"""${g.code}
         |$args[$i] = ${g.isNull} ? null : (Object) ${g.value};""".stripMargin
    }.mkString("\n")
    val javaType = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .javaType(dataType)
    ev.copy(code = code"""
      ${keyGen.code}
      boolean ${ev.isNull} = ${keyGen.isNull};
      $javaType ${ev.value} = null;
      Object[] $args = new Object[${argGens.length}];
      $setArgs
      if (!${ev.isNull}) {
        ${ev.value} = $cls.MODULE$$.digest(${keyGen.value}.toString(), $args);
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(newChildren)
}

object HmacSha256 {
  private val HexDigits = "0123456789abcdef".toCharArray

  /** Shared eval/codegen entry: HMAC over the JS-stringified non-falsy args. */
  def digest(key: String, args: Array[Any]): UTF8String = {
    val mac = macFor(key)
    var i = 0
    while (i < args.length) {
      val s = jsStringNonFalsy(args(i))
      if (s != null) mac.update(s.getBytes(StandardCharsets.UTF_8))
      i += 1
    }
    UTF8String.fromString(hex(mac.doFinal()))
  }

  // One Mac per (thread, key): Mac.getInstance + init dominate per-row cost
  // otherwise. doFinal() resets the Mac, so instances are reusable.
  private val macs = new ThreadLocal[java.util.HashMap[String, Mac]] {
    override def initialValue() = new java.util.HashMap[String, Mac]()
  }

  private[expr] def macFor(key: String): Mac = {
    val cache = macs.get()
    var mac = cache.get(key)
    if (mac == null) {
      mac = Mac.getInstance("HmacSHA256")
      mac.init(new SecretKeySpec(key.getBytes(StandardCharsets.UTF_8), "HmacSHA256"))
      cache.put(key, mac)
    }
    mac
  }

  private[expr] def hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      out(i * 2) = HexDigits(b >>> 4)
      out(i * 2 + 1) = HexDigits(b & 0x0f)
      i += 1
    }
    new String(out)
  }

  /** JS `String(v)` for values that survive the falsy gate; null if the value
    * is JS-falsy and must be skipped (reference `utils.js:19-23`). */
  private[expr] def jsStringNonFalsy(v: Any): String = v match {
    case null => null
    case s: UTF8String => if (s.numBytes() == 0) null else s.toString
    case s: String => if (s.isEmpty) null else s
    case l: java.lang.Long => if (l == 0L) null else l.toString
    case i: java.lang.Integer => if (i == 0) null else i.toString
    case s: java.lang.Short => if (s == 0) null else s.toString
    case b: java.lang.Byte => if (b == 0) null else b.toString
    case d: java.lang.Double => jsNumber(d.doubleValue())
    case f: java.lang.Float => jsNumber(f.doubleValue())
    case b: java.lang.Boolean => if (b) "true" else null
    case d: org.apache.spark.sql.types.Decimal =>
      jsNumber(d.toDouble)
    case other => other.toString
  }

  /** JS number stringification for the value range present in event data:
    * integral doubles print as integers (JS `String(5.0) === "5"`); 0 and NaN
    * are falsy → skipped. Exponent formatting (|x| >= 1e21) intentionally
    * follows Java for out-of-domain magnitudes — epoch millis and session ids
    * never reach it. */
  private def jsNumber(d: Double): String = {
    if (d == 0.0 || d.isNaN) null
    else if (d == Math.rint(d) && !d.isInfinite && Math.abs(d) < 1e21) {
      val l = d.toLong
      if (l.toDouble == d) l.toString else java.math.BigDecimal.valueOf(d).toBigInteger.toString
    } else d.toString
  }

  /** Column-API entry point: `hmac_sha256(key, cols...)`. */
  def apply(key: Column, props: Column*): Column =
    GraftBridge.column(HmacSha256(
      GraftBridge.expression(key) +: props.map(GraftBridge.expression)))
}
