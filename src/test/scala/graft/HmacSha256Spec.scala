package graft

import org.apache.spark.sql.functions._

import graft.expr.HmacSha256

/** Golden vectors generated independently with Python's hmac/hashlib over
  * the reference algorithm's semantics (`utils.js:16-26`): falsy-skip,
  * delimiter-free concat, JS stringification, hash-of-hash insert_id. */
class HmacSha256Spec extends SparkTestBase {
  import spark.implicits._

  private val Key = "graft-test-key"
  private def one(c: org.apache.spark.sql.Column): String =
    Seq(1).toDF("x").select(c.as("h")).head().getString(0)

  test("simple string") {
    assert(one(HmacSha256(lit(Key), lit("uid-1"))) ===
      "bf360d6382c1f58f7dfbc4291cbf8953699668dbdfa8007e1b337c6596eedf1c")
  }

  test("falsy args are skipped: '', 0, null contribute nothing") {
    val expected = "54c717633d19d20383c92ac608a51338f454add2d7fa7d61206f44b03f8bece8"
    assert(one(HmacSha256(lit(Key), lit(""), lit(0L), lit(null).cast("string"), lit("abc")))
      === expected)
    assert(one(HmacSha256(lit(Key), lit(0.0), lit("abc"))) === expected)
  }

  test("delimiter-free concat: (ab,c) == (a,bc) == (abc)") {
    val expected = "54c717633d19d20383c92ac608a51338f454add2d7fa7d61206f44b03f8bece8"
    assert(one(HmacSha256(lit(Key), lit("ab"), lit("c"))) === expected)
    assert(one(HmacSha256(lit(Key), lit("a"), lit("bc"))) === expected)
  }

  test("JS number stringification: integral double == long == its string") {
    val expected = "c9f643fe93e53ef426b4125a8696de8e6dd5a4682492963033b7883936382a11"
    assert(one(HmacSha256(lit(Key), lit(1704067200000L))) === expected)
    assert(one(HmacSha256(lit(Key), lit(1.704067200000e12))) === expected)
    assert(one(HmacSha256(lit(Key), lit("1704067200000"))) === expected)
  }

  test("all-falsy input still yields a digest (nullable=false path)") {
    assert(one(HmacSha256(lit(Key), lit(0L), lit(""))) ===
      "c2e3b0cb337d0690974fe68179fe16c632b8c3a66198245f248d7aceb88fb068")
  }

  test("hash-of-hash insert_id (pseudonymized uid in preimage)") {
    val hu = HmacSha256(lit(Key), lit("uid-1"))
    assert(one(HmacSha256(lit(Key), hu, lit("dev-1"), lit(1704067100000L),
      lit("fxa_login - success"), lit(1704067200000L))) ===
      "ee9073a915413e8fceca5898158cd96c9a3a00962e023bee24fc96fb22f58e2e")
  }

  test("session_id=0 is skipped from the preimage (falsy-skip collision)") {
    val hu = HmacSha256(lit(Key), lit("uid-1"))
    val withZero = one(HmacSha256(lit(Key), hu, lit("dev-1"), lit(0L),
      lit("fxa_login - success"), lit(1704067200000L)))
    val absent = one(HmacSha256(lit(Key), hu, lit("dev-1"),
      lit(null).cast("long"), lit("fxa_login - success"), lit(1704067200000L)))
    assert(withZero === absent)
    assert(withZero === "f2594b37d3e6010bc45aaf08bfffb9e6dbb305e15153639322c53792cee7fd07")
  }

  test("SQL registration works") {
    GraftFunctions.registerAll(spark)
    val r = spark.sql(s"SELECT hmac_sha256('$Key', 'uid-1') AS h").head().getString(0)
    assert(r === "bf360d6382c1f58f7dfbc4291cbf8953699668dbdfa8007e1b337c6596eedf1c")
  }
}
