package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.llm.Search

/** Always-on UNIGRAM search-index maintenance — the BM25-serving artifact
  * ([[Search.searchIndexRaw]]: postings carry tf AND the doc length, so
  * scoring is a pure index probe) kept under the exact segmented-state
  * discipline of [[StreamingIndex]], of which this is a thin
  * parameterization (`gramCol = "term"`, builder = searchIndexRaw): LSM
  * segments ∝ batch, merge-on-read in batch order with tombstone
  * subtraction, minor/major/del-run compaction, manifest-recorded bucket
  * modulus, vacuum, pointer-disciplined replays. The per-gram fold
  * commutes with term-panel pruning the same way (indexMerge /
  * indexDelete key on the term), so [[bm25]] serves a literal panel from
  * a STATICALLY bucket-pruned read — at 100 TB a query batch touches its
  * terms' buckets plus the 1-row stats sidecar, never the index or the
  * corpus.
  *
  * State is unrailed on disk (df rails are a read decision); with open
  * rails [[bm25]] scores are value-identical to the inline scorer —
  * `q_bm25_stream` / `q_bm25_stream_erasure` share q_bm25's oracle
  * family verbatim. */
object StreamingSearchIndex {

  private val build: DataFrame => DataFrame = df => Search.searchIndexRaw(df)

  /** Fold one batch (optionally a change stream with full-row tombstones
    * under `deleteCol`) into the persisted unigram index + stats state —
    * [[StreamingIndex.applyBatch]] with the search-index builder. */
  def applyBatch(batch: DataFrame, dir: String, batchId: Long,
      deleteCol: Option[String] = None,
      maxSegments: Int = StreamingIndex.DefaultMaxSegments,
      nBuckets: Int = StreamingIndex.DefaultBuckets,
      majorRatio: Double = StreamingIndex.DefaultMajorRatio): Unit =
    StreamingIndex.applyBatch(batch, dir, batchId, deleteCol, maxSegments,
      nBuckets, majorRatio, gramCol = "term", build = build)

  /** The current unrailed unigram index (term, df, cf, pl). */
  def readIndex(spark: SparkSession, dir: String): DataFrame =
    StreamingIndex.readIndex(spark, dir, gramCol = "term")

  /** Term-bucket-pruned serving read for a LITERAL term panel — the
    * [[StreamingIndex.readIndexPruned]] discipline on the term column. */
  def readIndexPruned(spark: SparkSession, dir: String,
      terms: Seq[String]): DataFrame =
    StreamingIndex.readIndexPruned(spark, dir, terms, gramCol = "term")

  /** The live (n_docs, sum_dl) sidecar — BM25's corpus stats. */
  def readStats(spark: SparkSession, dir: String): DataFrame =
    StreamingIndex.readStats(spark, dir)

  def vacuum(spark: SparkSession, dir: String, retain: Int = 1): Unit =
    StreamingIndex.vacuum(spark, dir, retain)

  /** Out-of-band compaction into a term-bucketed base. */
  def compact(spark: SparkSession, dir: String,
      nBuckets: Int = StreamingIndex.DefaultBuckets): Unit =
    StreamingIndex.compact(spark, dir, nBuckets, gramCol = "term")

  /** BM25 top-k OFF the maintained state: [[Search.bm25FromIndex]] over
    * the bucket-pruned panel view + the stats sidecar — zero corpus
    * reads, index reads ∝ the panel terms' buckets. */
  def bm25(spark: SparkSession, dir: String, panel: Seq[(Int, String)],
      k1: Double = 1.2, b: Double = 0.75, topK: Int = 10): DataFrame = {
    import spark.implicits._
    Search.bm25FromIndex(
      readIndexPruned(spark, dir, panel.map(_._2).distinct),
      readStats(spark, dir), panel.toDF("query_id", "term"),
      k1, b, topK)
  }

  /** Dirichlet query-likelihood top-k OFF the maintained state
    * ([[Search.qlFromIndex]] over the bucket-pruned panel view) — the
    * same artifact family serves both classic rankers. */
  def ql(spark: SparkSession, dir: String, panel: Seq[(Int, String)],
      mu: Double = 2000.0, topK: Int = 10): DataFrame = {
    import spark.implicits._
    Search.qlFromIndex(
      readIndexPruned(spark, dir, panel.map(_._2).distinct),
      readStats(spark, dir), panel.toDF("query_id", "term"), mu, topK)
  }

  /** Wire a doc (or change) stream to the maintained search index. */
  def writer(docs: DataFrame, dir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      deleteCol: Option[String] = None,
      maxSegments: Int = StreamingIndex.DefaultMaxSegments,
      nBuckets: Int = StreamingIndex.DefaultBuckets,
      vacuumEvery: Int = 0,
      majorRatio: Double = StreamingIndex.DefaultMajorRatio): DataStreamWriter[org.apache.spark.sql.Row] =
    StatePointer.foldStream(docs, checkpointDir, trigger, vacuumEvery,
        vacuum(_, dir))(
      applyBatch(_, dir, _, deleteCol, maxSegments, nBuckets, majorRatio))
}
