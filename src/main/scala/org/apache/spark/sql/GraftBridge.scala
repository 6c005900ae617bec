package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` members of Spark 4's classic backend: the
  * Column ↔ Expression converters (`org.apache.spark.sql.classic.ExpressionUtils`),
  * so graft can expose custom Catalyst expressions (e.g. `hmac_sha256`)
  * through the public `Column` API, and `RuntimeConfig.contains`, which
  * tells an explicitly set SQL conf from its default. Standard
  * extension-library pattern — no Spark internals are modified, only
  * re-exported. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def confContains(spark: SparkSession, key: String): Boolean = spark.conf.contains(key)
}
