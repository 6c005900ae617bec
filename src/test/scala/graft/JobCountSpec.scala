package graft

import org.apache.spark.sql.functions._

import graft.llm.Dedup
import graft.tools.Profile

/** Scheduled-job-COUNT contracts for the iterative operators: the clustering
  * fixpoint is job-count-bound (each round = one action), so the job total
  * is the cost that matters and the one that silently regresses — a
  * wall-clock assertion would be host-noise-bound, a job count is exact.
  * Pins the round-5 budget: min-seeded labels + lazy checkpoints converge a
  * planted two-component graph within one confirm round. */
class JobCountSpec extends SparkTestBase {
  import spark.implicits._

  test("clusters: planted graph converges within the job budget") {
    // two chains (0-1-2, 10-11) + the empty-singleton case exercised via
    // pair-less ids being absent entirely
    val pairs = Seq((0L, 1L), (1L, 2L), (10L, 11L)).toDF("id_a", "id_b")
    val n = Profile.measure(spark) {
      Dedup.clusters(pairs).write.format("noop").mode("overwrite").save()
    }.jobs
    // measured 15 on the round-5 structure: init (edges + labels lazy
    // checkpoints materialize as their own jobs + the seed sum), the
    // 2-round fixpoint (chain 0-1-2 needs one propagation + one confirm,
    // each = propagate checkpoint + sum), and the noop write. Budget 18:
    // the pre-round-5 shape (eager checkpoints, distinct-init, no min
    // seeding) was ~1.6× this and must trip the assert.
    assert(n <= 18, s"clusters scheduled $n jobs on a 3-edge graph")
    // correctness alongside the budget: both components min-labeled
    val got = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 10L -> 10L, 11L -> 10L))
  }

  test("release pipeline: composed build stays within the job budget; manifest sums to the card") {
    // English docs with DISTINCT content words (5-gram overlap across
    // different docs is zero), plus one exact dup, one near-dup pair,
    // and a benchmark doc equal to doc 5 (contaminates exactly it)
    val good = Seq(
      "the river was slow and the boats were moving past the old stone bridge near our quiet town",
      "a kitchen full of warm bread and the smell of coffee kept everyone at the table all morning",
      "his garden grew tall beans and sweet corn while the crows watched from the wooden fence",
      "the library kept rare maps and heavy books that nobody had opened for many long years",
      "cold rain fell on the market stalls and the sellers pulled covers over their fruit",
      "the train rolled through dark hills and the lights of small farms drifted past the window",
      "she painted the barn door red and the children helped carry brushes from the shed",
      "she painted the barn door red and the children helped carry brushes from the attic")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val docs = (good :+ (100L, good(3)._2) /* exact dup of doc 3 */)
      .map { case (id, t) => (id, t, "en", s"src${id % 2}", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val bench = Seq((900L, good(5)._2, "en", "bench", good(5)._2.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    var released: Array[org.apache.spark.sql.Row] = null
    val n = Profile.measure(spark) {
      released = graft.llm.Curation.releasePipeline(docs, bench, budget = 64L)
        .collect()
    }.jobs
    // measured 47 on the round-13 structure: curateNearDup alone is 26
    // (its persist + LSH + clustering fixpoint, broadcast-heavy), the
    // composed tail adds 21 (decontam gram broadcast + anti-join, vocab
    // broadcast, pack's range sampling + prefix offsets, the rollup, the
    // eager result checkpoint). Budget 60: a stage boundary silently
    // recomputing the curated corpus (the bug class this row exists for)
    // re-runs the whole 26-job curation chain and must trip the assert.
    assert(n <= 60, s"releasePipeline scheduled $n jobs on a 9-doc corpus")
    val rows = released.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).toList
    val card = rows.filter(_._1 == "card")
    val shards = rows.filter(_._1 == "shard")
    // the exact dup (100) collapses into 3, near-dup 7 into 6, and the
    // contaminated doc (5) drops: 6 released docs; manifest additive
    assert(card.map(c => (c._3, c._4)) ===
      List((6L, shards.map(_._4).sum)))
    assert(shards.map(_._3).sum === 6L)
  }
}
