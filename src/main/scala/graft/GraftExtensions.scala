package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.expr.{HmacSha256, TextProfile}

/** Library SQL surface: the engine's custom expressions as SQL functions.
  *
  * Two registration paths:
  *   - `GraftFunctions.registerAll(spark)` for an existing session;
  *   - `spark.sql.extensions=graft.GraftExtensions` for injection at session
  *     build time (the standard extension-library pattern — works for SQL
  *     clients like spark-sql/JDBC that never touch Scala).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        GraftExtensions.info(name, usage), builder))
    }
  }
}

object GraftExtensions {
  /** (name, usage, builder) for every custom expression. */
  val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("hmac_sha256",
      "hmac_sha256(key, props...) - keyed HMAC-SHA256 hex over the " +
        "delimiter-free concat of the JS-stringified non-falsy args " +
        "(reference utils.js:16-26 semantics)",
      exprs => HmacSha256(exprs)),
    ("vec_dot",
      "vec_dot(a, b) - sequential dot product of two float/double arrays",
      exprs => expr.DotProduct(exprs(0), exprs(1))),
    ("simhash64",
      "simhash64(token_hashes) - 64-bit SimHash over an array<bigint>",
      exprs => expr.SimHash64(exprs.head)),
    ("minhash_sig",
      "minhash_sig(hashes, k) - k-permutation MinHash signature over an array<bigint>",
      exprs => expr.MinHashSig(exprs.head, foldableInt(exprs, 1, "minhash_sig", "k"))),
    ("text_profile",
      "text_profile(text) - one-pass array<int> of text counters " +
        "(stopword hits per language, cjk/punct/digit counts, token counts)",
      exprs => TextProfile(exprs.head)),
    ("shingle_hashes",
      "shingle_hashes(text, w) - distinct xxhash64 keys of the word " +
        "w-shingles of lowercased text, one pass",
      exprs => expr.ShingleHashes(exprs.head, foldableInt(exprs, 1, "shingle_hashes", "w"))),
    ("md5_token_hashes",
      "md5_token_hashes(text) - engine-portable 64-bit token hashes " +
        "(first 8 md5 bytes per lowercased whitespace token), one pass",
      exprs => expr.Md5TokenHashes(exprs.head)),
    ("repetition_grams",
      "repetition_grams(text, n...) - tagged (kind, gram) occurrence list: " +
        "non-blank lines plus every word n-gram for each n, one pass",
      exprs => expr.RepetitionGrams(exprs.head,
        exprs.indices.drop(1).map(i => foldableInt(exprs, i, "repetition_grams", s"n$i")))),
    ("space_saving_topk",
      "space_saving_topk(item, capacity) - bounded-memory heavy hitters: " +
        "array<struct<item,cnt,err>> sorted by cnt desc (SpaceSaving sketch; " +
        "exact when capacity >= distinct items)",
      exprs => expr.SpaceSavingTopK(exprs.head,
        foldableInt(exprs, 1, "space_saving_topk", "capacity"))))

  /** The function's catalog entry (`DESCRIBE FUNCTION`), source `built-in`. */
  private[graft] def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "",
      "built-in")

  /** Resolve argument `i` as a foldable integer literal, or raise a clean,
    * descriptive error (a column reference there would otherwise surface as
    * an unevaluable/ClassCastException internal error at resolution time). */
  private def foldableInt(exprs: Seq[Expression], i: Int, fn: String, arg: String): Int = {
    val e = exprs(i)
    val v = if (e.foldable) e.eval() else null
    v match {
      case n: Number => n.intValue()
      case _ => throw new IllegalArgumentException(
        s"$fn: argument '$arg' must be an integer literal, got ${e.sql}")
    }
  }
}

object GraftFunctions {
  /** Register every graft SQL function on an existing session. */
  def registerAll(spark: SparkSession): Unit =
    GraftExtensions.functions.foreach { case (name, usage, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name), GraftExtensions.info(name, usage), builder)
    }
}
