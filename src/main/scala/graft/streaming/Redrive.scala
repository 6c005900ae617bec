package graft.streaming

import org.apache.spark.sql.SparkSession

/** Deterministic-re-drive wrapper for batch-parity drivers — catalog rows
  * and tests that replay a FIXED micro-batch sequence `0..finalId` on
  * every invocation over the state dir [[graft.sources.Artifacts.stateDir]]
  * picks. Bench mode keeps it under the artifact root across passes (so
  * pass 1 folds and later passes serve) until the next bench start wipes
  * the root; verify/library mode hands each build a fresh temp dir, which
  * the row's release (or JVM exit) deletes.
  *
  * Semantics by pointer position:
  *  - '''no pointer''' (fresh dir): drive every batch, `0..finalId`.
  *  - '''pointer mid-prefix''' (`v < finalId`): a previous run died
  *    between batches — drive ONLY the un-applied suffix `v+1..finalId`,
  *    so the resume never hands the [[StatePointer.applyOnce]] replay
  *    guard an id behind the pointer (that guard stays strict for genuine foreachBatch
  *    callers, where a restarted id means a fresh checkpoint was pointed
  *    at existing state).
  *  - '''pointer at `finalId`''': the fold is complete — serve the
  *    maintained state without touching it. This is the steady-state a
  *    bench pass ≥ 2 measures: the serving read over the compacted
  *    state, not a re-drive (and certainly not an exception; r13's
  *    hardened replayCheck made every re-drive of batch 0 over completed
  *    state throw, which bench's then-silent catch recorded as a bogus
  *    ~0.05 s "time" — the r13 ADVICE finding this object closes).
  *  - '''pointer AHEAD of `finalId`''': the dir is being shared by a
  *    drive with a longer batch sequence — a config mismatch, not a
  *    resume; serving would silently return state this drive never
  *    defined. Throws.
  *
  * Rows sharing one state dir (q_index_stream / q_index_phrase_stream on
  * `sidx_state`; q_bm25_stream / q_ql_stream / q_snippets_stream on
  * `sbm25_state`) MUST fold identical batch sequences — the first row to
  * run drives, the rest serve — which this contract makes checkable: a
  * divergent `finalId` throws instead of mixing folds. */
object Redrive {
  def apply(spark: SparkSession, dir: String, finalId: Long)(
      drive: Long => Unit): Unit =
    StatePointer.read(spark, dir) match {
      case Some(v) if v > finalId =>
        throw new IllegalStateException(
          s"state in $dir is at version $v, ahead of this drive's final " +
            s"batch $finalId: the dir is shared with a longer batch " +
            "sequence — rows sharing a state dir must fold identical " +
            "batches")
      case Some(v) if v == finalId => () // complete: serve the state as-is
      case v => (v.fold(0L)(_ + 1L) to finalId).foreach(drive)
    }
}
