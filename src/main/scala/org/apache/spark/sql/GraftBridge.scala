package org.apache.spark.sql

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration

import org.apache.spark.scheduler.SparkListenerInterface
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.internal.SQLConf

/** Bridge into `private[sql]` members of Spark 4's classic backend: the
  * Column ↔ Expression converters (`org.apache.spark.sql.classic.ExpressionUtils`),
  * so graft can expose custom Catalyst expressions (e.g. `hmac_sha256`)
  * through the public `Column` API; `RuntimeConfig.contains`, which
  * tells an explicitly set SQL conf from its default; the session's Hadoop
  * conf and the key of the streaming checkpoint file manager; and session
  * cloning plus plan rebinding, so a relation can be built under a cloned
  * conf and run on the caller's session; and the context's listener bus,
  * so a counting listener sees every event of the work it measured.
  * Standard extension-library pattern — no
  * Spark internals are modified, only re-exported. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def confContains(spark: SparkSession, key: String): Boolean = spark.conf.contains(key)

  /** The Hadoop conf `spark`'s streaming queries resolve paths with: the
    * context's, overlaid with the session's SQL conf. */
  def hadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** `spark.sql.streaming.checkpointFileManagerClass`: the class Spark's
    * `CheckpointFileManager.create` instantiates when it is set. */
  val checkpointFileManagerKey: String =
    SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS.parent.key

  /** A session with a copy of `spark`'s conf and state; setting its conf
    * leaves `spark`'s unchanged. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `df`'s logical plan as a DataFrame of `spark`: actions and
    * `writeStream.start()` run on `spark`. Relations already in the plan
    * keep the session they were built with. */
  def ofRows(spark: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].logicalPlan)

  /** Blocks until every event already posted to `spark`'s listener bus has
    * reached every listener (`LiveListenerBus.waitUntilEmpty`, 10 s cap). */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The listeners registered on `spark`'s listener bus, in every queue. */
  def listeners(spark: SparkSession): Seq[SparkListenerInterface] =
    spark.sparkContext.listenerBus.listeners.asScala.toSeq
}
