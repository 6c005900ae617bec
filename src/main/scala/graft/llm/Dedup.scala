package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard. All are expressed with native
  * codegen'd Spark SQL functions (no UDFs, no Python) and are
  * shuffle-structured for the 100 TB path:
  *
  *   - exact dedup: one hash-partitioned aggregation on a 128-bit digest —
  *     uniform keys, map-side partial agg collapses duplicates early.
  *   - MinHash LSH: signatures are computed scan-side (narrow), then the
  *     candidate generation is an equi-join on (band, band_hash) — a uniform
  *     shuffle key; no O(n²) anywhere. Bucket skew (a viral duplicate
  *     cluster) is bounded because identical docs produce identical digests
  *     and can be exact-deduped FIRST (cheaper), leaving near-dup detection
  *     to genuinely-distinct texts.
  *   - SimHash: 64-bit signature via bit-voting; candidate pairs from a
  *     Manku-style multi-table combination-block index (see
  *     [[Dedup.simhashCandidates]]), verified with bit_count(xor).
  *
  * Operators that persist a shared intermediate (shingle/signature frames
  * feed multiple plan branches) MATERIALIZE their small pair output eagerly
  * (`localCheckpoint`) and unpersist the intermediate before returning —
  * `Dataset.persist` registers in the CacheManager, which holds the blocks
  * until an explicit unpersist; returning a lazy plan over a persisted
  * input would leak the cache in long-lived sessions. */
object Dedup {

  @transient private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Exact duplicate groups by content digest. Survivor = min doc_id.
    * (`md5` not for security — just a 128-bit content key; collision odds at
    * 100 TB doc counts are negligible.) */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Keep one row per distinct text (the min-id survivor). */
  def exactSurvivors(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    exact(docs, idCol, textCol).select(col("keep_id").as(idCol))

  /** Incremental-ingest dedup: collapse the incoming batch to its min-id
    * survivors, then anti-join against the existing corpus by content
    * digest — only genuinely new texts survive. Returns (idCol, n_copies)
    * where n_copies counts the batch-internal duplicates.
    *
    * Scale structure: both sides hash-partition on the uniform 128-bit
    * digest; the anti-join is co-partitioned with the batch-side
    * aggregation, and at a steady-state ingest (batch ≪ corpus) the
    * corpus-side scan is the dominant cost — keep the corpus as a
    * digest-bucketed table so the shuffle amortizes to zero across runs. */
  def incrementalNew(newDocs: DataFrame, corpus: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val batch = newDocs
      .groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
    batch
      .join(corpus.select(md5(col(textCol)).as("text_hash")),
        Seq("text_hash"), "left_anti")
      .select(col(idCol), col("n_copies"))
  }

  /** Serialized content-digest Bloom filter of the corpus: ONE aggregation
    * job producing a reusable cross-batch artifact — the exact-dedup analog
    * of [[bandTable]] (build once per corpus version, probe every ingest
    * batch). Built with Spark's own `BloomFilterAggregate` (the runtime-
    * filter machinery, driven explicitly), keyed on xxhash64 of the content
    * digest. Driver-bounded size: `optimalNumOfBits(expectedItems, fpp)/8`
    * bytes — ~1.2 MB per 10⁶ digests at 1% fpp; the single-bloom design
    * tops out around ~10⁹ corpus digests (~2 GB) — beyond that, partition
    * the corpus and build per-range blooms. Returns null on an empty
    * corpus ([[incrementalNewBloom]] treats that as "nothing seen"). */
  def digestBloom(corpus: DataFrame, expectedItems: Long, fpp: Double = 0.01,
      textCol: String = "text"): Array[Byte] = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    val agg = new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(
        GraftBridge.expression(xxhash64(md5(col(textCol)))),
        Literal(expectedItems), Literal(numBits))
    corpus.agg(GraftBridge.column(agg.toAggregateExpression()).as("bloom"))
      .head().getAs[Array[Byte]](0)
  }

  /** [[incrementalNew]] with a corpus-digest Bloom pre-filter — the
    * steady-state ingest fast path. Bloom misses have NO false negatives,
    * so a batch text whose digest misses is DEFINITELY unseen and bypasses
    * the anti-join entirely; only bloom hits (true dups + fpp false
    * positives) pay the join against the corpus. At steady state (batch ≪
    * corpus, most batch texts genuinely new) the anti-join probe side
    * shrinks to ~(dup_rate + fpp) of the batch — and composed with a
    * digest-bucketed corpus table the residual join is shuffle-free.
    * Result is EXACT (false positives fall through to the join), so the
    * oracle is the same NOT-IN SQL as the plain form. */
  def incrementalNewBloom(newDocs: DataFrame, corpus: DataFrame,
      bloom: Array[Byte], idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    val batch = newDocs
      .groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
    if (bloom == null) return batch.select(col(idCol), col("n_copies"))
    val hit = GraftBridge.column(BloomFilterMightContain(
      Literal(bloom, org.apache.spark.sql.types.BinaryType),
      GraftBridge.expression(xxhash64(col("text_hash")))))
    val definitelyNew = batch.filter(!hit)
    val maybeSeen = batch.filter(hit)
      .join(corpus.select(md5(col(textCol)).as("text_hash")),
        Seq("text_hash"), "left_anti")
    definitelyNew.unionByName(maybeSeen)
      .select(col(idCol), col("n_copies"))
  }

  /** Word w-shingles of lowercased text, distinct. */
  def shingles(text: Column, w: Int): Column = {
    val words = split(lower(trim(text)), "\\s+")
    array_distinct(
      when(size(words) >= w,
        transform(sequence(lit(0), size(words) - w),
          i => concat_ws(" ", slice(words, i + lit(1), lit(w)))))
        .otherwise(array(concat_ws(" ", words))))
  }

  /** Shingle strings hashed once to 64-bit keys (xxhash64): every
    * downstream minhash/jaccard op then works on primitive longs instead of
    * re-hashing/comparing ~30-byte strings. Collision odds across a
    * two-document comparison (~10³ elements) are ~10⁻¹⁴ — far below any
    * near-dup threshold's sensitivity. */
  def hashedShingles(shingleCol: Column): Column =
    transform(shingleCol, s => xxhash64(s))

  /** `hashedShingles(shingles(text, w))` fused into the one-pass codegen'd
    * [[graft.expr.ShingleHashes]] kernel (bit-identical output; the
    * composable form is two interpreted HOF lambdas per row). This is the
    * scan-side projection every dedup operator starts from. */
  def shingleHashes(text: Column, w: Int): Column =
    graft.expr.ShingleHashes(text, w)

  /** k-permutation MinHash signature over a hashed-shingle array — the
    * one-pass codegen'd [[graft.expr.MinHashSig]] kernel (k running minima
    * per element; the k × array_min(transform(…)) form evaluates k
    * interpreted HOF lambdas with k intermediate arrays per row). */
  def minhashSignature(hashedCol: Column, k: Int): Column =
    graft.expr.MinHashSig(hashedCol, k)

  /** LSH banding: emit (band_idx, band_hash) keys for a signature of
    * `bands` bands × `rowsPerBand` rows. Standard S-curve: two docs collide
    * in ≥1 band with probability 1-(1-J^r)^b. */
  private def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        // xxhash64 hashes the long-array slice structurally — no string
        // materialization per band.
        xxhash64(slice(sig, b * rowsPerBand + 1, rowsPerBand), lit(b))
          .as("band_hash"))): _*)

  /** (id, sh) hashed-shingle frame — the scan-side projection every
    * minhash operator starts from. */
  private def shingleFrame(docs: DataFrame, w: Int,
      idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"), shingleHashes(col(textCol), w).as("sh"))

  /** (id, band, band_hash) band frame from a shingle frame. */
  private def bandFrame(sh: DataFrame, k: Int, bands: Int): DataFrame =
    sh.withColumn("sig", minhashSignature(col("sh"), k))
      .select(col("id"),
        explode(bandKeys(col("sig"), bands, k / bands)).as("bk"))
      .select(col("id"), col("bk.band").as("band"),
        col("bk.band_hash").as("band_hash"))

  /** The persistable LSH band table: one row per (id, band, band_hash),
    * skew-capped at BUILD time ([[capBuckets]] — a saturated bucket is a
    * property of the corpus, so it is pruned once here, not re-discovered
    * on every ingest).
    *
    * This is the steady-state half of incremental near-dup detection:
    * write it once with `Io.writeBucketed(bandTable(corpus), tbl, n,
    * Seq("band", "band_hash"))` and every future batch probe joins against
    * the bucketed table with NO corpus-side exchange — the corpus (the
    * 100 TB side) is never reshuffled again; only the batch moves
    * (PlanSpec pins this plan shape). Rebuild, or append via
    * [[bandTable]] of the batch, as the corpus grows. */
  def bandTable(docs: DataFrame, w: Int = 3, k: Int = 64, bands: Int = 16,
      maxBucket: Int = 4096,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    capBuckets(bandFrame(shingleFrame(docs, w, idCol, textCol), k, bands),
      maxBucket, "bandTable")

  /** (id, sh) shingle frame for persisting next to [[bandTable]] — the
    * verify side of steady-state ingest (bucket it by id). */
  def shingleTable(docs: DataFrame, w: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    shingleFrame(docs, w, idCol, textCol)

  /** DELETION-aware band/shingle-table maintenance — the right-to-erasure
    * companion to [[bandTable]]/[[shingleTable]] ingest: both artifacts
    * are PER-DOC rows (no counts to decrement), so erasure is one
    * broadcast anti join against the purged id set — the
    * [[graft.sources.Merge.applyDeletes]] shape, corpus side never
    * reshuffled.
    *
    * One honest corner: [[capBuckets]] drops over-cap buckets at BUILD
    * time (and logs the drop), and a deletion that would shrink a
    * dropped bucket back under the cap cannot resurrect it from the
    * capped artifact — identical in kind to the df-rails discipline
    * (a rail decision is a read decision; the raw state behind it is
    * what maintenance edits). At catalog SFs no bucket reaches the cap,
    * so the delete-maintained probe is oracle-pinned exact. */
  def bandsDelete(corpusBands: DataFrame, deletedIds: DataFrame,
      idCol: String = "id"): DataFrame =
    corpusBands.join(
      broadcast(deletedIds.select(col(deletedIds.columns.head).as(idCol))
        .distinct()),
      Seq(idCol), "left_anti")

  /** [[bandsDelete]] for the shingle verify table — same anti-join shape. */
  def shinglesDelete(corpusShingles: DataFrame, deletedIds: DataFrame,
      idCol: String = "id"): DataFrame =
    bandsDelete(corpusShingles, deletedIds, idCol)

  /** Incremental near-dup detection against PREBUILT corpus tables — the
    * steady-state form of [[incrementalNearDups]]: `corpusBands` /
    * `corpusShingles` are the persisted [[bandTable]] / [[shingleTable]]
    * (ideally bucketed on (band, band_hash) and id respectively), so an
    * ingest touches the corpus only through (a) the candidate probe join —
    * corpus side pre-bucketed, no exchange — and (b) the verify lookups of
    * the candidates' shingle rows. Nothing re-shingles or re-hashes the
    * corpus; cost per ingest is O(batch + candidates).
    *
    * Same contract as [[incrementalNearDups]]: (id_new, id_other,
    * jaccard ≥ threshold), id_new from the batch, batch-internal pairs
    * oriented id_new < id_other; a re-ingested id's corpus rows are stale
    * and excluded. `w`/`k`/`bands` must match the table build. */
  def incrementalNearDupsPrebuilt(newDocs: DataFrame, corpusBands: DataFrame,
      corpusShingles: DataFrame, threshold: Double = 0.6,
      w: Int = 3, k: Int = 64, bands: Int = 16, maxBucket: Int = 4096,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val shNew = shingleFrame(newDocs, w, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val batchIds = broadcast(shNew.select(col("id")))
    // the capped batch bands feed the cross probe + BOTH internal sides
    val bNew = capBuckets(bandFrame(shNew, k, bands), maxBucket,
        "incrementalNearDupsPrebuilt.batch")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // broadcast anti-joins: stale-copy exclusion without reshuffling the
    // corpus side (BroadcastHashJoin preserves the streamed partitioning)
    val corB = corpusBands.join(batchIds, Seq("id"), "left_anti")
    val cross = bNew.as("a").join(corB.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash"))
      .select(col("a.id").as("id_new"), col("b.id").as("id_other"))
    val internal = bNew.as("a").join(bNew.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_new"), col("b.id").as("id_other"))
    val cands = cross.unionByName(internal).distinct()
    // prebuilt tables carry the generic (id, ...) schema their builders emit
    val shAll = shNew.unionByName(
      corpusShingles.select(col("id"), col("sh"))
        .join(batchIds, Seq("id"), "left_anti"))
    val out = cands
      .join(shAll.select(col("id").as("id_new"), col("sh").as("sh_a")), "id_new")
      .join(shAll.select(col("id").as("id_other"), col("sh").as("sh_b")), "id_other")
      .withColumn("n_common",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard",
        col("n_common") /
          (size(col("sh_a")) + size(col("sh_b")) - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_new"), col("id_other"), col("jaccard"))
    materializedWithout(out, shNew, bNew)
  }

  /** Skew guard for LSH candidate generation: buckets whose membership
    * exceeds `maxBucket` are DROPPED from the band table before the
    * candidate join, and the drop is logged — never silent.
    *
    * Why: exact-dedup-first bounds IDENTICAL texts, but a template-spam
    * cluster of k near-identical-yet-distinct docs lands k rows in one
    * (band, band_hash) bucket → C(k,2) candidate pairs; one 10⁵-doc
    * template cluster is 5·10⁹ join rows from a single bucket — the
    * quadratic the banding was supposed to prevent, reborn as skew. The
    * analog of the n-gram path's maxDf pruning ([[ngramJaccardPairs]]).
    *
    * Recall note: members of a dropped bucket still pair in every OTHER
    * band they collide in — near-identical docs collide in most of the 16
    * bands, so capping one saturated bucket rarely loses the pair; a
    * cluster saturating ALL its buckets is exactly the pathological input
    * the cap exists to survive.
    *
    * Cost: IN-PLAN — a count window over the same (band, band_hash) key
    * the candidate join shuffles on (the window's exchange is the join's
    * exchange, reused) plus a filter; no extra action, no extra pass. The
    * drop statistics ride the plan as `observe()` metrics ([[SparkEntry]]'s
    * O14 machinery) and a per-session QueryExecutionListener warn-logs any
    * action that observed dropped rows — surfaced, never silent, and free
    * when nothing is dropped. */
  private[llm] val capSeq = new java.util.concurrent.atomic.AtomicLong()
  private val capListenerSessions =
    java.util.Collections.synchronizedSet(
      new java.util.HashSet[org.apache.spark.sql.SparkSession]())

  /** Warn-log any observed skew-cap drop metric (`lsh_bucket_cap_*` from
    * [[capBuckets]], `cell_cap_*` from
    * [[Similarity.cosinePairsBlocked]]'s cell rail) — drops are surfaced,
    * never silent, and the listener costs nothing when nothing drops. */
  private[llm] def ensureCapListener(spark: org.apache.spark.sql.SparkSession): Unit =
    if (capListenerSessions.add(spark)) {
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            val kind =
              if (name.startsWith("lsh_bucket_cap_")) Some("dedup.lsh.bucket_cap")
              else if (name.startsWith("cell_cap_")) Some("dedup.semantic.cell_cap")
              else None
            kind.foreach { k =>
              if (!row.isNullAt(0) && row.getLong(0) > 0L)
                log.warn(s"""{"type":"$k","metric":"$name","dropped_rows":${row.getLong(0)},"max_seen":${row.getLong(1)}}""")
            }
          }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    }

  private[graft] def capBuckets(banded: DataFrame, maxBucket: Int,
      what: String): DataFrame = {
    if (maxBucket <= 0 || maxBucket == Int.MaxValue) return banded
    ensureCapListener(banded.sparkSession)
    import org.apache.spark.sql.expressions.Window
    val counted = banded.withColumn("n_bucket",
      count(lit(1)).over(Window.partitionBy(col("band"), col("band_hash"))))
    counted
      .observe(s"lsh_bucket_cap_${what}_${capSeq.incrementAndGet()}",
        sum(when(col("n_bucket") > maxBucket, 1L).otherwise(0L))
          .as("dropped_rows"),
        max(col("n_bucket")).as("max_bucket_seen"))
      .filter(col("n_bucket") <= maxBucket)
      .drop("n_bucket")
  }

  /** Candidate near-duplicate pairs via MinHash LSH, verified with exact
    * Jaccard over the shingle sets. Returns (id_a, id_b, jaccard) with
    * id_a < id_b, jaccard >= threshold.
    *
    * Plan shape: scan→signature (narrow) → explode bands (×bands) →
    * bucket-skew cap ([[capBuckets]]) → self-equi-join on (band, band_hash)
    * (shuffle on uniform 64-bit keys) → distinct pairs → verify join back
    * to shingle arrays. */
  def minhashNearDups(docs: DataFrame, threshold: Double = 0.6,
      w: Int = 3, k: Int = 64, bands: Int = 16, maxBucket: Int = 4096,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // The shingle set feeds FOUR plan branches (both self-join sides, both
    // verify sides); without materialization each branch recomputes the
    // shingle+hash pipeline (alias-renamed branches don't canonicalize to
    // a reusable exchange). Same pattern as MLlib's LSH internals.
    val withSh = shingleFrame(docs, w, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the CAPPED band table feeds both candidate self-join sides; caching
    // it (16 longs-ish per doc) keeps the cap's count-window single-pass
    // even when one side broadcasts (a BroadcastExchange cannot reuse the
    // shuffle exchange, so an uncached plan would run the window twice)
    val banded = capBuckets(bandFrame(withSh, k, bands),
        maxBucket, "minhashNearDups")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val shA = withSh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val shB = withSh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    val out = cands
      .join(shA, "id_a").join(shB, "id_b")
      // |A∪B| = |A|+|B|−|A∩B| on distinct arrays: one array op per pair
      // instead of two, identical integers → identical double division.
      .withColumn("n_common",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard",
        col("n_common") /
          (size(col("sh_a")) + size(col("sh_b")) - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    materializedWithout(out, withSh, banded)
  }

  /** Incremental-ingest NEAR-dup detection: LSH candidates for the new
    * batch against the existing corpus AND within the batch itself, exact-
    * Jaccard verified. Returns (id_new, id_other, jaccard ≥ threshold)
    * where id_new is always from the batch (for batch-internal pairs,
    * id_new < id_other).
    *
    * The scale point: the corpus side is touched ONCE per ingest to build
    * its band table — in production that table is precomputed and stored
    * bucketed by (band, band_hash), so a steady-state ingest shuffles only
    * the (small) batch side; nothing here is quadratic in the corpus. */
  def incrementalNearDups(newDocs: DataFrame, corpus: DataFrame,
      threshold: Double = 0.6, w: Int = 3, k: Int = 64, bands: Int = 16,
      maxBucket: Int = 4096,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def prep(docs: DataFrame): DataFrame =
      shingleFrame(docs, w, idCol, textCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def banded(sh: DataFrame): DataFrame = bandFrame(sh, k, bands)
    val shNew = prep(newDocs)
    val shCorAll = prep(corpus)
    // Re-ingest semantics: a doc_id present in BOTH frames is the batch's
    // version — the corpus copy is stale and excluded from bands and verify
    // alike (otherwise the same pair surfaces in both orientations and the
    // verify joins fan out). Broadcast anti-join: the batch id list is the
    // small side, so the corpus never reshuffles for this.
    val shCor = shCorAll.join(
      broadcast(shNew.select(col("id"))), Seq("id"), "left_anti")
    val bNew = banded(shNew)
    // b side = corpus bands ∪ batch bands, tagged: batch-internal pairs
    // keep only the (smaller, larger) orientation, batch-vs-corpus pairs
    // keep the batch id on the left
    // the cap sees the PROBE side (corpus ∪ batch): a template cluster on
    // either side saturates the same (band, band_hash) key, and dropping
    // the bucket from one join side kills its candidate pairs entirely
    val bSide = capBuckets(
        banded(shCor).withColumn("from_batch", lit(false))
          .unionByName(bNew.withColumn("from_batch", lit(true))),
        maxBucket, "incrementalNearDups")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = bNew.as("a")
      .join(bSide.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          (!col("b.from_batch") || col("a.id") < col("b.id")) &&
          col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id_new"), col("b.id").as("id_other"))
      .distinct()
    // ids are disjoint after the stale-copy exclusion above (one shingle
    // row per id — preconditions: ids unique within each input frame)
    val shAll = shNew.unionByName(shCor)
    val out = cands
      .join(shAll.select(col("id").as("id_new"), col("sh").as("sh_a")), "id_new")
      .join(shAll.select(col("id").as("id_other"), col("sh").as("sh_b")), "id_other")
      .withColumn("n_common",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard",
        col("n_common") /
          (size(col("sh_a")) + size(col("sh_b")) - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_new"), col("id_other"), col("jaccard"))
    materializedWithout(out, shNew, shCorAll, bSide)
  }

  /** Eagerly materialize the (small) pair output, then release the persisted
    * intermediate — see the class doc on cache lifetime. */
  private def materializedWithout(out: DataFrame, cached: DataFrame*): DataFrame = {
    val mat = out.localCheckpoint() // eager: computes `out` now
    cached.foreach(_.unpersist())
    mat
  }

  /** 64-bit SimHash: per-token xxhash64, per-bit ±1 voting, sign → bit —
    * via the codegen'd [[graft.expr.SimHash64]] kernel (the composable
    * aggregate/zip_with form allocates a 64-element accumulator per token
    * and runs interpreted). Token hashes come from the non-distinct w=1
    * [[graft.expr.ShingleHashes]] kernel: repeated tokens must vote
    * repeatedly, so the multiset is preserved. */
  def simhash(text: Column): Column =
    graft.expr.SimHash64(graft.expr.ShingleHashes(text, 1, distinct = false))

  /** Engine-portable SimHash: token hashes are the first 64 bits of
    * md5(token) (two 32-bit hex halves recombined — the same md5-parse
    * convention as [[Sampling.weightedSample]]) instead of xxhash64. The
    * hash FAMILY is a free parameter of SimHash; this member is
    * reproducible in any engine with md5, which is what lets an all-pairs
    * Hamming truth oracle verify the whole candidate-index + verify
    * pipeline cross-engine (xxhash64's constants are Spark-internal).
    * Tokens: whitespace-split lowercased words, empties dropped, repeats
    * vote repeatedly. Token hashing runs in the one-pass codegen'd
    * [[graft.expr.Md5TokenHashes]] kernel; [[simhashPortableColumns]] is
    * the bit-identical composable form (parity-pinned in LlmSpec). */
  def simhashPortable(text: Column): Column =
    graft.expr.SimHash64(graft.expr.Md5TokenHashes(text))

  /** The composable-Column form of [[simhashPortable]]'s hash family —
    * interpreted HOF lambdas (hex string + substrings + radix parses per
    * token), kept as the executable spec the kernel is pinned against. */
  private[graft] def simhashPortableColumns(text: Column): Column = {
    val words = filter(split(lower(trim(text)), "\\s+"), w => w =!= lit(""))
    val hashes = transform(words, t => {
      val h = md5(t)
      val hi = conv(substring(h, 1, 8), 16, 10).cast("long")
      val lo = conv(substring(h, 9, 8), 16, 10).cast("long")
      shiftleft(hi, 32).bitwiseOR(lo)
    })
    graft.expr.SimHash64(hashes)
  }

  /** Candidate keys for SimHash near-dup search: a Manku-style multi-table
    * combination-block index (Manku/Jain/Das Sarma, "Detecting
    * Near-Duplicates for Web Crawling", WWW'07 §3).
    *
    * The 64-bit signature splits into `m = maxHamming + 3` blocks. A pair at
    * Hamming ≤ d differs in ≤ d blocks, so ≥ m−d = 3 blocks agree — keying
    * each table on a distinct COMBINATION of 3 blocks is pigeonhole-complete,
    * with C(m,3) tables. For d=3: 6 blocks of ~11 bits, C(6,3)=20 tables,
    * each key ≥ 31 bits.
    *
    * WHY over single-block banding (4×16 bits): expected accidental
    * collisions per table fall from N²/2¹⁶ to N²/2³¹ — at N=10⁹ docs the
    * single-block scheme generates ~10¹⁴ candidate pairs per band (a
    * scale-killer the verify step cannot absorb), the combination scheme
    * ~10⁴·20. The cost is explode ×20 instead of ×4 — linear, shuffled on
    * uniform keys. */
  private[graft] def simhashCandidates(sigs: DataFrame, maxHamming: Int): DataFrame = {
    val m = maxHamming + 3
    // block b covers bits [b*64/m, (b+1)*64/m) — widths differ by ≤1 bit
    val bounds = (0 to m).map(b => b * 64 / m)
    def block(sig: Column, b: Int): Column = {
      val lo = bounds(b)
      val width = bounds(b + 1) - lo
      shiftright(sig, lo).bitwiseAND((1L << width) - 1L)
    }
    val triples = (0 until m).combinations(3).toSeq
    val keyed = sigs.select(col("id"), col("sig"),
      explode(array(triples.zipWithIndex.map { case (t, ti) =>
        struct(lit(ti).as("table"),
          // pack the 3 agreeing blocks into one long key (disjoint bit
          // ranges — OR, no arithmetic, no ANSI overflow to think about)
          block(col("sig"), t(0))
            .bitwiseOR(shiftleft(block(col("sig"), t(1)), 22))
            .bitwiseOR(shiftleft(block(col("sig"), t(2)), 44)).as("key"))
      }: _*)).as("tk"))
      .select(col("id"), col("sig"),
        col("tk.table").as("table"), col("tk.key").as("key"))
    keyed.as("a")
      .join(keyed.as("b"),
        col("a.table") === col("b.table") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .distinct()
  }

  /** SimHash near-dup pairs with Hamming distance <= maxHamming (default 3).
    * Candidates from the combination-block index ([[simhashCandidates]] —
    * pigeonhole-complete for the given distance), verified by
    * bit_count(xor). `sigFn` picks the hash family: [[simhash]] (default,
    * codegen'd xxhash64) or [[simhashPortable]] (md5, oracle-able). */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 3,
      idCol: String = "doc_id", textCol: String = "text",
      sigFn: Column => Column = simhash): DataFrame = {
    val sigs = docs.select(col(idCol).as("id"), sigFn(col(textCol)).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = simhashCandidates(sigs, maxHamming)
      .filter(col("hamming") <= maxHamming)
    materializedWithout(out, sigs)
  }

  /** Exact word-n-gram Jaccard similarity for all pairs within a blocking
    * key (e.g. `source`) — the quadratic term is bounded by the largest
    * block, not the corpus. For unblocked corpora use [[minhashNearDups]].
    *
    * Shape: explode hashed shingles → drop high-document-frequency shingles
    * → self-equi-join on (block, shingle) → count per pair = |A∩B| → join
    * |A|,|B| → J = c/(|A|+|B|−c). Pairs with no overlap never materialize,
    * the intersection count comes out of an aggregation, and every step is
    * an equi-shuffle — no per-pair array traffic at scale.
    *
    * `maxDf`: a shingle present in k documents of a block contributes
    * C(k,2) join rows — one stopword-phrase shingle in a million-doc block
    * is quadratic on its own. Shingles with block-level document frequency
    * > maxDf are removed from the universe BEFORE the join (both from the
    * intersection counting and from the set sizes, so the result is the
    * exact Jaccard over the pruned shingle space — near-ubiquitous shingles
    * carry ~zero discrimination anyway). Pass Int.MaxValue for the unpruned
    * exact semantics. */
  def ngramJaccardPairs(docs: DataFrame, blockCol: String, n: Int = 3,
      threshold: Double = 0.3, maxDf: Int = 1000,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // hashed shingles: set sizes (and thus jaccard) are identical to the
    // string sets absent 64-bit collisions (~10⁻¹⁴/pair).
    val exploded = docs.select(col(blockCol).as("blk"), col(idCol).as("id"),
      explode(shingleHashes(col(textCol), n)).as("h"))
    // DF pruning: shingles are distinct per doc, so count(*) per (blk, h)
    // IS the document frequency; the semi-join shuffles on the same
    // (blk, h) key the main self-join uses.
    val keep = exploded.groupBy(col("blk"), col("h"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select(col("blk"), col("h"))
    val sh = exploded.join(keep, Seq("blk", "h"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val common = sh.as("a")
      .join(sh.as("b"),
        col("a.blk") === col("b.blk") && col("a.h") === col("b.h") &&
          col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("c"))
    val out = common
      .join(broadcast(sizes).withColumnRenamed("id", "id_a")
        .withColumnRenamed("sz", "sz_a"), "id_a")
      .join(broadcast(sizes).withColumnRenamed("id", "id_b")
        .withColumnRenamed("sz", "sz_b"), "id_b")
      // raw int/int-derived double division — bit-exact vs the oracle (no
      // round() parity trap: HALF_UP-on-BigDecimal vs double rounding).
      .withColumn("jaccard",
        col("c").cast("double") /
          (col("sz_a") + col("sz_b") - col("c")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    materializedWithout(out, sh)
  }

  /** Containment (asymmetric Jaccard) pairs: |A∩B| / |A| — the metric
    * that catches a document CONTAINED in a larger one (quoted articles,
    * page-in-site duplication), which symmetric Jaccard dilutes toward 0
    * as the container grows. Same DF-railed shingle-equi self-join shape
    * as [[ngramJaccardPairs]]; sizes are measured on the pruned shingle
    * set (both engines), and each containment is one double division.
    * A pair reports when EITHER direction reaches `threshold`. At 100 TB
    * gate with [[minhashNearDups]] bands or a block column first — the
    * df rail alone bounds fan-out, not candidate volume. */
  def containmentPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.5,
      maxDf: Int = 1000,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val exploded = docs.select(col(idCol).as("id"),
      explode(shingleHashes(col(textCol), n)).as("h"))
    val keep = exploded.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select(col("h"))
    val sh = exploded.join(keep, Seq("h"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val common = sh.as("a")
      .join(sh.as("b"), col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("c"))
    val out = common
      .join(broadcast(sizes).withColumnRenamed("id", "id_a")
        .withColumnRenamed("sz", "sz_a"), "id_a")
      .join(broadcast(sizes).withColumnRenamed("id", "id_b")
        .withColumnRenamed("sz", "sz_b"), "id_b")
      .withColumn("containment_a", col("c").cast("double") / col("sz_a").cast("double"))
      .withColumn("containment_b", col("c").cast("double") / col("sz_b").cast("double"))
      .filter(greatest(col("containment_a"), col("containment_b")) >= threshold)
      .select(col("id_a"), col("id_b"), col("containment_a"), col("containment_b"))
    materializedWithout(out, sh)
  }

  /** Exact set-similarity join by PREFIX FILTERING (the AllPairs/PPJoin
    * family, Bayardo et al., WWW'07): all pairs with n-gram-set Jaccard ≥
    * `threshold`, with NO probabilistic recall loss (unlike MinHash) and
    * NO blocking column required (unlike [[ngramJaccardPairs]]).
    *
    * The filter: order the token universe by ascending document frequency
    * (rarest first; ties by hash — any consistent total order works), and
    * let each document's PREFIX be its first `sz − ⌊t·sz⌋ + 1` tokens in
    * that order. Two documents with J ≥ t must share ≥ t/(1+t)·(szA+szB)
    * tokens, so their prefixes cannot be disjoint — candidates generated
    * by a prefix-token equi-join are COMPLETE, and exact verification of
    * just those candidates reproduces the naive all-pairs truth (which is
    * exactly what the oracle computes naively). ⌊·⌋ rather than the
    * canonical ⌈·⌉ guards the FP boundary (t·sz just under an integer):
    * the error direction is a one-longer prefix — more candidates, never
    * a missed pair.
    *
    * Scale shape: prefix tokens are by construction the RAREST tokens of
    * each document, so the candidate equi-join fans out least where df is
    * highest — the quadratic blow-up that forces maxDf rails on the plain
    * shingle self-join is structurally suppressed here. Stages: one df
    * aggregation, one per-doc sort (array sort inside a groupBy, no
    * window), one candidate equi-join on prefix tokens, one bounded
    * verification join over candidates only. */
  def prefixJaccardPairs(docs: DataFrame, threshold: Double, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val e = docs.select(col(idCol).as("id"),
      explode(shingleHashes(col(textCol), n)).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val df = e.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // global (df, h) order materialized per token, then per-doc sort_array
    // over (df, h) structs = each doc's tokens in the one shared order.
    // Persisted: pref and the verification side both read it.
    val ordered = e.join(df, Seq("h"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("toks"))
      .withColumn("sz", size(col("toks")))
      .withColumn("plen",
        // 1e-9 slack in the conservative direction: a product that rounds
        // UP across an integer would shorten the prefix and lose recall;
        // rounding the floor DOWN only lengthens it (superset of candidates)
        col("sz") - floor(lit(threshold) * col("sz") - lit(1e-9)).cast("int")
          + lit(1))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Fixed-width repartition on the join key: the prefix frame is BYTE-
    // small (AQE would coalesce its shuffle to one partition), but the
    // candidate join FANS OUT of it — the expensive work happens after the
    // exchange, where AQE's input-size heuristic can't see it. Pinning the
    // width keeps the join parallel (measured 2× on 32 cores at sf0.1).
    val width = docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val pref = ordered.select(col("id"), col("sz"),
      posexplode(slice(col("toks"), lit(1), col("plen"))).as(Seq("pos", "pt")))
      .repartition(width, col("pt"))
    // Two more Bayardo/PPJoin rails on the candidate join itself:
    //   - size compatibility: J ≥ t forces t·szA ≤ szB ≤ szA/t;
    //   - positional upper bound: a collision at (0-based) prefix
    //     positions (iA, iB) can lead to at most min(szA−iA, szB−iB)
    //     common tokens (everything from the collision on), and J ≥ t
    //     needs c ≥ t/(1+t)·(szA+szB) — prune when the bound can't reach
    //     it (1e-9 slack keeps the FP error direction conservative).
    val need = lit(threshold / (1 + threshold)) *
      (col("a.sz") + col("b.sz")).cast("double") - lit(1e-9)
    val cands = pref.as("a")
      .join(pref.as("b"),
        col("a.pt") === col("b.pt") && col("a.id") < col("b.id") &&
          // same conservative-direction slack as `need`: if fl(t·sz)
          // rounds UP across an integer, a boundary pair with J exactly
          // at t must not be pruned
          col("a.sz") * lit(threshold) - lit(1e-9) <= col("b.sz") &&
          col("b.sz") * lit(threshold) - lit(1e-9) <= col("a.sz") &&
          least(col("a.sz") - col("a.pos"), col("b.sz") - col("b.pos"))
            .cast("double") >= need)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // verify: exact |A∩B| per candidate as ONE array_intersect over the
    // per-doc token-hash arrays — no re-explode of the corpus, no fan-out
    // join; the (id → hashes) frame joins once per side on its id key.
    // PLAIN long arrays, deliberately: array_intersect on primitive longs
    // runs the codegen'd OpenHashSet fast path, while the (df, h) struct
    // arrays would fall back to quadratic interpreted struct equality
    // (measured 31 s vs ~1 s on this corpus for the same candidates).
    val byId = ordered.select(col("id"), col("sz"),
      transform(col("toks"), t => t.getField("h")).as("hs"))
    val common = cands
      .join(byId.select(col("id").as("id_a"), col("sz").as("sz_a"),
        col("hs").as("hs_a")), Seq("id_a"))
      .join(byId.select(col("id").as("id_b"), col("sz").as("sz_b"),
        col("hs").as("hs_b")), Seq("id_b"))
      .withColumn("c", size(array_intersect(col("hs_a"), col("hs_b"))))
    val out = common
      .withColumn("jaccard",
        col("c").cast("double") /
          (col("sz_a") + col("sz_b") - col("c")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    materializedWithout(out, e, ordered)
  }

  /** Exact-substring duplicate pairs: docs sharing ≥ `minShared` verbatim
    * token windows of `windowTokens` words — the exact-span complement to
    * MinHash near-dup detection (the "50-token verbatim overlap" rule of
    * training-data dedup: near-dup catches whole-document paraphrase-level
    * copies, this catches long quoted/boilerplate spans inside otherwise
    * distinct documents). Docs shorter than the window fall back to their
    * whole text (= exact-dup detection for them).
    *
    * Scale shape: rolling windows ride as 64-bit [[shingleHashes]] keys
    * (distinct per doc), so the self-join key is a ~windowTokens-word
    * span — near-unique by construction, which is what keeps the join
    * linear; `maxDf` DF-pruning removes viral boilerplate windows before
    * the join exactly like [[ngramJaccardPairs]] (a window in k docs is
    * C(k,2) join rows). Returns (id_a, id_b, n_shared) with id_a < id_b. */
  def exactSubstringPairs(docs: DataFrame, windowTokens: Int = 50,
      minShared: Int = 1, maxDf: Int = 1000,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val e = docs.select(col(idCol).as("id"),
      explode(shingleHashes(col(textCol), windowTokens)).as("h"))
    val keep = e.groupBy(col("h"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf && col("df") >= 2) // df=1 can't pair
      .select(col("h"))
    val pruned = e.join(keep, Seq("h"), "left_semi")
    pruned.as("a")
      .join(pruned.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Maximal duplicated token SPANS — the surgical-removal complement of
    * [[exactSubstringPairs]] (which names the pairs but not the spans).
    * For every document: the maximal runs of tokens covered by some
    * `windowTokens`-token window that occurs verbatim in ≥ 2 distinct
    * documents. This is the ExactSubstr operation of Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better", public
    * knowledge): cut exactly the duplicated span, keep the rest of the
    * document.
    *
    * Suffix-array-free formulation: the paper's suffix array finds
    * maximal repeats of ANY length ≥ L; at a fixed window width W the
    * same cover set ("every token inside some ≥W-token verbatim repeat")
    * is computed relationally — (1) positional rolling W-windows as
    * 64-bit keys (one codegen'd [[graft.expr.ShingleHashes]] scan pass,
    * `distinct=false`), (2) ONE (window-key) aggregation for corpus-wide
    * doc frequency, (3) a semi-join back to the positions, (4) per-doc
    * gaps-and-islands: duplicated starts p, q merge while q − p ≤ W
    * (their coverage intervals [p, p+W−1], [q, q+W−1] overlap or touch),
    * so islands ARE the maximal covered spans — disjoint by construction.
    * Steps 1–3 shuffle on the near-unique window key (uniform, no skew);
    * step 4 is one (doc, pos) sort-within-doc — nothing all-pairs, no
    * suffix structure materialized. `maxDf` drops viral boilerplate
    * windows exactly like [[exactSubstringPairs]] (df = DISTINCT docs
    * here: within-doc repetition alone is [[graft.expr.RepetitionGrams]]'
    * business, not cross-doc duplication). Docs shorter than the window
    * contribute their whole text as one window (exact-dup fallback);
    * span ends clamp to the doc's last token.
    *
    * Returns (doc_id, span_start, span_end, n_tokens), 0-based inclusive
    * token offsets over `split(trim(text), "\\s+")`. */
  def duplicatedSpans(docs: DataFrame, windowTokens: Int = 20,
      maxDf: Int = 1000,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val pos = positionalWindows(docs, windowTokens, idCol, textCol)
    val dup = pos.groupBy(col("h"))
      .agg(count_distinct(col("doc_id")).as("ndocs"))
      .filter(col("ndocs") >= 2 && col("ndocs") <= maxDf)
      .select(col("h"))
    spansFromHits(pos.join(dup, Seq("h"), "left_semi"), windowTokens)
  }

  /** (doc_id, n, pos, h): every positional `w`-token rolling window as a
    * 64-bit key — the scan-side projection the span operators start from
    * (one codegen'd [[graft.expr.ShingleHashes]] pass, `distinct=false`;
    * `n` = the doc's token count, for span-end clamping). */
  private[llm] def positionalWindows(docs: DataFrame, w: Int,
      idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      size(split(lower(trim(col(textCol))), "\\s+")).as("n"),
      posexplode(
        graft.expr.ShingleHashes(col(textCol), w,
          distinct = false)).as(Seq("pos", "h")))

  /** Gaps-and-islands over duplicated window starts → maximal covered
    * spans. New island when the previous coverage interval can't reach
    * this one: q − p > W (NULL lag ⇒ first row ⇒ new island). */
  private[llm] def spansFromHits(hits: DataFrame, windowTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hits
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= windowTokens,
          0L).otherwise(1L))
      .withColumn("island", sum(col("brk")).over(byDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        least(max(col("pos")) + lit(windowTokens - 1), max(col("n")) - 1)
          .cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("n_tokens"))
  }

  /** The persisted-corpus artifact for [[incrementalSpans]]: per-window
    * DISTINCT-doc counts, (h, ndocs). In production this is the table an
    * ingestion pipeline maintains; window keys are near-unique, so it is
    * ~one row per corpus token — parquet-friendly, mergeable by h. */
  def windowDf(docs: DataFrame, windowTokens: Int = 20,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    positionalWindows(docs, windowTokens, idCol, textCol)
      .groupBy(col("h"))
      .agg(count_distinct(col("doc_id")).as("ndocs"))

  /** Merge two [[windowDf]] artifacts built over DISJOINT doc sets:
    * distinct-doc counts add bucket-wise (outer union), bit-identical to
    * building over the union corpus — the shard-merge path an ingestion
    * pipeline uses to maintain the artifact without rescanning old
    * shards (the [[graft.llm.Search.indexMerge]] pattern). */
  def windowDfMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("h")).agg(sum(col("ndocs")).as("ndocs"))

  /** Window-duplication histogram off a [[windowDf]]: (ndocs,
    * n_windows) — how many windows occur in exactly k documents. The
    * portable fingerprint of the artifact (window hashes themselves are
    * engine-local), and the corpus-level duplication gauge: mass at
    * ndocs ≥ 2 is what span dedup will remove. */
  def windowDfHistogram(df: DataFrame): DataFrame =
    df.groupBy(col("ndocs")).agg(count(lit(1)).as("n_windows"))

  /** Incremental ExactSubstr: duplicated spans for a NEW batch against a
    * persisted corpus [[windowDf]] — the steady-state form of
    * [[duplicatedSpans]]. Batch window doc-counts merge with the corpus
    * artifact by key (corpus and batch doc sets are disjoint, so the sum
    * IS the union's distinct count), the df rails apply to the merged
    * count, and the island merge runs over batch docs only. Provably
    * ≡ `duplicatedSpans(corpus ∪ batch)` restricted to batch docs — the
    * catalog row shares that full-recompute oracle. Scale shape: only
    * batch-sized frames shuffle; the corpus artifact is probed by ONE
    * equi-join on the batch's (bounded) window-key set. */
  def incrementalSpans(batch: DataFrame, corpusWindowDf: DataFrame,
      windowTokens: Int = 20, maxDf: Int = 1000,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val pos = positionalWindows(batch, windowTokens, idCol, textCol)
    val dup = pos.groupBy(col("h"))
      .agg(count_distinct(col("doc_id")).as("nd_new"))
      .join(corpusWindowDf.withColumnRenamed("ndocs", "nd_old"),
        Seq("h"), "left")
      .select(col("h"),
        (col("nd_new") + coalesce(col("nd_old"), lit(0L))).as("nd"))
      .filter(col("nd") >= 2 && col("nd") <= maxDf)
      .select(col("h"))
    spansFromHits(pos.join(dup, Seq("h"), "left_semi"), windowTokens)
  }

  /** Per-group gram-novelty report: what share of each group's distinct
    * per-doc n-grams appear NOWHERE else in the corpus (df = 1) — the
    * fresh-content-vs-boilerplate gauge next to [[spanDupRate]] (verbatim
    * windows) and Report.sourceOverlap (pairwise): a source whose grams
    * are mostly non-unique is re-serving content the corpus already has.
    * One (gram) df aggregation over hash keys, one group aggregation,
    * one published division over exact integer counts. */
  def gramNovelty(docs: DataFrame, n: Int = 3, groupCol: String = "source",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val e = docs.select(col(idCol).as("doc_id"), col(groupCol),
      explode(shingleHashes(col(textCol), n)).as("h"))
    val df = e.groupBy(col("h")).agg(count(lit(1)).as("df"))
    e.join(df, Seq("h"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty_share",
        col("n_unique").cast("double") / col("n_grams").cast("double"))
  }

  /** Per-group token-duplication report over [[duplicatedSpans]]: what
    * share of each group's tokens sits inside a cross-doc verbatim span —
    * the go/no-go gauge for running span removal on a source. Spans are
    * disjoint per doc, so `sum(n_tokens)` is the exact covered count;
    * `dup_share` is ONE IEEE division over exact integer sums (portable
    * both engines). */
  def spanDupRate(docs: DataFrame, windowTokens: Int = 20,
      maxDf: Int = 1000, groupCol: String = "source",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val dupTok = duplicatedSpans(docs, windowTokens, maxDf, idCol, textCol)
      .groupBy(col("doc_id")).agg(sum(col("n_tokens")).as("dt"))
    docs.select(col(idCol).as("doc_id"), col(groupCol),
        size(split(lower(trim(col(textCol))), "\\s+")).cast("long").as("nt"))
      .join(dupTok, Seq("doc_id"), "left")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nt")).as("total_tokens"),
        sum(coalesce(col("dt"), lit(0L))).as("dup_tokens"))
      .withColumn("dup_share",
        col("dup_tokens").cast("double") / col("total_tokens").cast("double"))
  }

  /** Apply [[duplicatedSpans]]: rebuild each document with the covered
    * tokens cut out. One equi-join on doc id attaches the (bounded,
    * disjoint, start-sorted) span list, then the cut is scan-side — a
    * single `aggregate` fold over the spans that concatenates the
    * BETWEEN-span token segments via `slice`: O(tokens + spans) per doc
    * (a per-token coverage test would be O(tokens × spans) — the hot
    * path of span removal at 100 TB). No per-token join, nothing
    * corpus-wide beyond the one join. Token runs re-join with single
    * spaces (whitespace normalization — the positions were computed over
    * `\s+`-split tokens, so boundaries agree; casing is preserved). */
  def removeSpans(docs: DataFrame, spans: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sp = spans.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(
        col("span_start").cast("int").as("s"),
        col("span_end").cast("int").as("e")))).as("sps"))
    val ws = split(trim(docs(textCol)), "\\s+")
    // fold state: (from = next uncut position, kept = segments so far);
    // each span appends tokens [from, s-1], the finisher appends the tail
    val cut = aggregate(
      col("sps"),
      struct(lit(0).as("from"), array().cast("array<string>").as("kept")),
      (acc, s) => struct(
        (s.getField("e") + 1).as("from"),
        concat(acc.getField("kept"),
          slice(ws, acc.getField("from") + 1,
            s.getField("s") - acc.getField("from"))).as("kept")),
      acc => concat(acc.getField("kept"),
        slice(ws, acc.getField("from") + 1,
          size(ws) - acc.getField("from"))))
    docs.join(sp, docs(idCol) === sp("doc_id"), "left")
      .select(docs(idCol),
        concat_ws(" ", when(col("sps").isNull, ws).otherwise(cut))
          .as("clean_text"))
  }

  /** Blocked fuzzy record linkage: pairs whose RECORD KEY (here a text
    * prefix standing in for a title/name field) is within `maxDist` edit
    * distance — the entity-resolution primitive next to the set-based
    * dedups (token-order-sensitive: catches typo-level variants n-gram
    * Jaccard treats as far apart).
    *
    * Blocking: lev(a,b) ≥ |len(a)−len(b)|, so with length bands of width
    * maxDist+1 a qualifying pair sits in the same or adjacent bands — the
    * 3-band probe is candidate-COMPLETE, and the length filter inside the
    * join prunes before any edit-distance work. Verification uses Spark's
    * THRESHOLDED levenshtein (returns −1 past the bound), which
    * early-exits the DP at maxDist+1 band width instead of filling the
    * full matrix. On corpora with varied record lengths the bands carry
    * the quadratic; a near-uniform-length corpus collapses to ONE band
    * and the candidate set is O(n²) — which is why `blockCols` is part of
    * the operator, not advice: a domain blocking key (source, zip, first
    * token — the standard record-linkage move) conjoins with the length
    * band in the join key, so candidates are per-(block, band) and the
    * worst case is bounded by the largest block, not the corpus. Pairs
    * straddling blocks are out of contract by definition (linkage only
    * compares within a block). */
  def fuzzyMatchPairs(docs: DataFrame, prefixChars: Int = 40,
      maxDist: Int = 5,
      idCol: String = "doc_id", textCol: String = "text",
      blockCols: Seq[String] = Nil): DataFrame = {
    val bandW = maxDist + 1
    val recs = docs.select(col(idCol).as("id") +:
        substring(col(textCol), 1, prefixChars).as("rec") +:
        blockCols.map(col): _*)
      .withColumn("len", length(col("rec")))
      .withColumn("band", floor(col("len").cast("double") / bandW).cast("long"))
    if (blockCols.isEmpty)
      return passJoinPairs(recs, maxDist)
    val probe = recs
      .withColumn("jband",
        explode(array(col("band") - 1, col("band"), col("band") + 1)))
    val blockCond = blockCols
      .map(c => col(s"a.$c") === col(s"b.$c"))
      .foldLeft(col("a.jband") === col("b.band"))(_ && _)
    probe.as("a").join(recs.as("b"),
        blockCond && col("a.id") < col("b.id") &&
          abs(col("a.len") - col("b.len")) <= maxDist)
      .withColumn("dist", levenshtein(col("a.rec"), col("b.rec"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("dist").cast("long").as("dist"))
  }

  /** PassJoin-style segment prefilter for the UNBLOCKED edit-distance
    * join (round 15; guide §3.2 — prune the candidate side before any
    * quadratic work; Li, Deng & Feng's Pass-Join partition scheme). The
    * length-band-only candidate set is O(n²) on a near-uniform-length
    * corpus (q_fuzzy_allpairs' documented worst case: every 40-char
    * prefix lands in one band). The pigeonhole rail replaces it:
    *
    * Split every indexed record `s` (|s| = L ≥ maxDist+1) into
    * k = maxDist+1 contiguous segments (the first k−(L mod k) of width
    * ⌊L/k⌋, the rest one wider — any FIXED scheme works as long as probe
    * generation derives the same bounds from L alone). If lev(r, s) ≤ d,
    * an optimal edit path has ≤ d errors, which touch ≤ d segments, so
    * AT LEAST ONE segment of `s` survives verbatim in `r`; its start
    * shifts by the net insertions before it, δ, and the net insertions
    * after it is Δ−δ (Δ = |r|−|s|), each bounded by that side's error
    * count, so |δ| + |Δ−δ| ≤ d. The probe therefore emits, per record r,
    * every substring of r that could be a preserved segment of some s
    * with ||s|−|r|| ≤ d — a CANDIDATE-COMPLETE set (no recall loss; the
    * exact thresholded-levenshtein verification is unchanged). Candidate
    * pairs are emitted in both (probe, index) orientations and
    * normalized, so only the INDEXED side needs L ≥ k; records shorter
    * than k (can't host k nonempty segments) pair through the original
    * banded join against everything in length range.
    *
    * Plan shape (formatted plan at sf0.01 in
    * plans/r16/q_fuzzy_allpairs.explain): no join is hinted, so the
    * strategies are Spark's size-based choices. While the estimated
    * size of the checkpointed records is under
    * `spark.sql.autoBroadcastJoinThreshold` (it is at sf0.01), Spark
    * broadcasts the segment index (k rows/record) into a hash join
    * with the probe explosion (O(d²) substrings/record), and broadcasts
    * the whole record table into the short-record fallback's
    * nested-loop join; the one shuffle is then the candidate pairs'
    * dedup on (id_a, id_b), a sort aggregate that carries both texts.
    * Above the threshold the segment join is a sort-merge join that
    * shuffles both the index and the probe explosion, and the
    * fallback, which has no equi-key, can only plan as a cartesian
    * product. */
  private def passJoinPairs(recs0: DataFrame, maxDist: Int): DataFrame = {
    val k = maxDist + 1
    val recs = recs0.select(col("id"), col("rec"), col("len"))
      .localCheckpoint(eager = false) // index + probe + short fallback
    // segment i (0-based) of a length-L record, 1-based substring bounds:
    // the first k − (L mod k) segments have width ⌊L/k⌋, the rest one more
    def segStart(len: Column, i: Int): Column =
      lit(i) * (len / k).cast("int") +
        greatest(lit(0), lit(i) - (lit(k) - (len % k).cast("int"))) + 1
    def segWidth(len: Column, i: Int): Column =
      (len / k).cast("int") +
        when(lit(i) >= lit(k) - (len % k).cast("int"), 1).otherwise(0)
    // the index: k exact segments per record of length ≥ k
    val index = recs.filter(col("len") >= k)
      .select(col("id").as("iid"), col("rec").as("irec"),
        col("len").as("ilen"),
        posexplode(array((0 until k).map(i =>
          substring(col("rec"), segStart(col("len"), i),
            segWidth(col("len"), i))): _*)).as(Seq("si", "seg")))
    // the probe: per record, every substring that could be a preserved
    // segment of an indexed record — (Δ, i, δ) ranges over literals, so
    // the |δ| + |Δ−δ| ≤ d pruning happens at PLAN time; out-of-range
    // windows yield truncated/empty strings which can never equal a
    // full-width index segment (harmless extra keys, zero recall effect)
    val keys = for {
      dl <- -maxDist to maxDist // Δ = plen − ilen
      i <- 0 until k
      dlt <- -maxDist to maxDist // δ: the segment's shift inside the probe
      if math.abs(dlt) + math.abs(dl - dlt) <= maxDist
    } yield (dl, i, dlt)
    val probe = recs.select(col("id").as("pid"), col("rec").as("prec"),
        explode(array(keys.map { case (dl, i, dlt) =>
          struct((col("len") - dl).as("plen_i"), lit(i).as("pi"),
            when(segStart(col("len") - dl, i) + dlt >= 1,
              substring(col("rec"),
                segStart(col("len") - dl, i) + dlt,
                segWidth(col("len") - dl, i))).as("pseg"))
        }: _*)).as("__s"))
      .select(col("pid"), col("prec"), col("__s.plen_i").as("plen_i"),
        col("__s.pi").as("pi"), col("__s.pseg").as("pseg"))
      .filter(col("pseg").isNotNull && col("plen_i") >= k)
    val segCand = probe.join(index,
        col("plen_i") === col("ilen") && col("pi") === col("si") &&
          col("pseg") === col("seg"))
      .select(col("pid"), col("prec"), col("iid"), col("irec"))
    // records shorter than k can't host k nonempty segments: every pair
    // touching one goes through the banded join against the full length
    // window instead (a sliver — and on a corpus made OF such records
    // the candidate set is the quadratic the operator documents anyway)
    val shortCand = recs.filter(col("len") < k)
      .select(col("id").as("pid"), col("rec").as("prec"),
        col("len").as("plen"))
      .join(recs.select(col("id").as("iid"), col("rec").as("irec"),
        col("len").as("ilen")),
        abs(col("plen") - col("ilen")) <= maxDist)
      .select(col("pid"), col("prec"), col("iid"), col("irec"))
    segCand.unionByName(shortCand)
      .filter(col("pid") =!= col("iid"))
      .select(least(col("pid"), col("iid")).as("id_a"),
        greatest(col("pid"), col("iid")).as("id_b"),
        when(col("pid") < col("iid"), col("prec")).otherwise(col("irec"))
          .as("rec_a"),
        when(col("pid") < col("iid"), col("irec")).otherwise(col("prec"))
          .as("rec_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("dist", levenshtein(col("rec_a"), col("rec_b"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
  }

  /** Connected components over a near-duplicate pair list: the step that
    * turns PAIRS (from [[minhashNearDups]] / [[simhashNearDups]] /
    * [[ngramJaccardPairs]]) into dedup GROUPS — near-duplication is
    * transitive in practice (A≈B≈C ⇒ keep one of {A,B,C}), so the keep/drop
    * decision needs the component, not the pair.
    *
    * Returns (doc_id, cluster_id) for every doc appearing in a pair, where
    * cluster_id = the minimum doc id reachable in the pair graph.
    *
    * Algorithm: iterated min-label propagation with pointer doubling.
    * Each round (a) every node takes the min over {itself} ∪ neighbors'
    * labels — one equi-join + one aggregation, both hash-partitioned on
    * node id (uniform keys); then (b) labels are compressed through
    * themselves (lbl ← lbl(lbl), one more equi-join) — the doubling step
    * that turns diameter-bound convergence into O(log n) even on
    * adversarial path graphs (same acceleration family as the
    * large-star/small-star alternation of Kiveris et al., "Connected
    * Components in MapReduce"). Near-dup graphs (small dense clusters)
    * settle in 2-3 rounds either way. A fixpoint of (a) is constant per
    * component (= the component min, since labels start at ids and never
    * pass the min), and (b) only accelerates, so the sum-stable test below
    * certifies correctness. `localCheckpoint` per round cuts the
    * exponentially-growing lineage — standard for any iterate-on-DataFrame
    * loop. */
  def clusters(pairs: DataFrame, maxIter: Int = 20,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    // Symmetric edge list; (id, id) self-edges seed the labels and let the
    // propagation step be a single join+agg over one frame.
    // LAZY checkpoints throughout the loop: the per-round fixpoint
    // aggregation is already an action, so it doubles as the materializing
    // job — eager checkpoints would pay a second job per round for nothing
    // (measured: clusters-heavy queries are job-COUNT-bound at every SF).
    // No distinct(): every consumer is join + groupBy-min, which is
    // insensitive to duplicate edges — deduping here would buy nothing but
    // a full shuffle of the edge list before the loop even starts. The
    // duplicates are bounded (≤ 4 rows per input pair: each endpoint's
    // self-edge repeats once per pair it appears in).
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .unionByName(pairs.select(col(aCol).as("src"), col(aCol).as("dst")))
      .unionByName(pairs.select(col(bCol).as("src"), col(bCol).as("dst")))
      .localCheckpoint(eager = false)
    // Min-seed: label(v) = min({v} ∪ N(v)) — the first propagation round
    // fused into initialization (one aggregation, the same shuffle the old
    // `distinct()` init paid, but a round of work for free). Near-dup
    // components are dense, so most seeds are already the component min
    // and the loop typically confirms convergence in ONE round.
    var labels = edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("lbl"))
      .localCheckpoint(eager = false)
    var converged = false
    var iter = 0
    // Fixpoint test: labels only ever decrease, so the label SUM strictly
    // decreases until convergence and one scalar per round suffices (no
    // row-level diff join). Carried across rounds — one action per round.
    // coalesce: an EMPTY pair list (clean corpus) sums to null, and the
    // loop must terminate with an empty labeling rather than NPE. The row
    // count rides along in the same action (empty check, no extra job).
    def labelSum(df: DataFrame): (Long, Long) = {
      val r = df.agg(coalesce(sum(col("lbl")), lit(0L)), count(lit(1))).head()
      (r.getLong(0), r.getLong(1))
    }
    val (sum0, n0) = labelSum(labels)
    var prevSum = sum0
    if (n0 == 0L) converged = true
    while (!converged && iter < maxIter) {
      // Propagate FIRST and check the fixpoint on that action alone: dense
      // near-dup components typically sit at the fixpoint after the
      // min-seed, so the common case is one confirming round of ONE join —
      // the doubling self-join below would be a pure no-op there (measured:
      // it was the single largest shuffle in the confirming round).
      val propagated = edges
        .join(labels, edges("dst") === labels("id"))
        .groupBy(col("src").as("id2"))
        .agg(min(col("lbl")).as("lbl"))
        .withColumnRenamed("id2", "id")
        .localCheckpoint(eager = false)
      val (sumProp, _) = labelSum(propagated)
      if (sumProp == prevSum) {
        converged = true // labels is already the fixpoint; drop `propagated`
      } else {
        // pointer doubling, only when labels actually moved: every label is
        // itself a node id, so one self-join rewrites lbl -> lbl(lbl),
        // halving chain depth per round (the acceleration that makes path
        // graphs O(log n) instead of O(diameter))
        val next = propagated.as("x")
          .join(propagated.select(col("id").as("pid"), col("lbl").as("plbl")).as("y"),
            col("x.lbl") === col("y.pid"))
          .select(col("x.id").as("id"), col("y.plbl").as("lbl"))
          .localCheckpoint(eager = false)
        // NOT a convergence test: a no-op doubling does not certify the
        // propagate fixpoint (a label root's neighbor can still decrease
        // next round) — only an unchanged propagate sum above does.
        val (sumNow, _) = labelSum(next)
        labels = next
        prevSum = sumNow
      }
      iter += 1
    }
    // A pathological graph exhausting maxIter would return labels that are
    // not yet component minima — callers (clusterSurvivors, curateNearDup)
    // would then keep/drop the WRONG documents; surface it, never silent.
    if (!converged) {
      log.warn(s"""{"type":"dedup.clusters.unconverged","max_iter":$maxIter,"last_label_sum":$prevSum}""")
    }
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /** Incremental connected-component maintenance: fold a new batch's pair
    * list into an existing (doc_id, cluster_id) labeling WITHOUT re-running
    * the corpus fixpoint — the steady-state companion to
    * [[incrementalNearDups]] (whose output is exactly the `newPairs` input
    * here: batch↔corpus and batch-internal pairs).
    *
    * Three-way split, all equi-joins on ids:
    *   1. components TOUCHED by the batch = labels semi-joined through the
    *      new pairs' endpoints (two small joins — the batch side drives);
    *   2. the fixpoint runs over the CONTRACTED cluster graph: each new
    *      pair's endpoints map to their old cluster id (or themselves if
    *      unlabeled), so the nodes are old cluster ids ∪ brand-new doc
    *      ids — the old components' star edges never enter the loop at
    *      all (the star pre-collapse fused into the edge projection), and
    *      every propagate/doubling round runs on O(|batch pairs|) rows
    *      instead of O(|touched members|);
    *   3. touched members remap through ONE equi-join on their old
    *      cluster id; the untouched bulk keeps its labels via one anti
    *      join — no window, no propagation, no recompute.
    *
    * Correctness: an old cluster id is the MIN member of its component,
    * so the contracted component's min over {old cluster ids ∪ new doc
    * ids} equals the merged component's min over all member ids — the
    * label a full recompute over (old pairs ∪ new pairs) assigns.
    * Contraction preserves reachability exactly (two docs connect after
    * the batch iff their contracted nodes connect), so incremental output
    * is indistinguishable from the full recompute (spec + oracle-pinned).
    * Docs in no pair remain absent, matching [[clusters]]' contract. */
  def clustersIncremental(labels: DataFrame, newPairs: DataFrame,
      maxIter: Int = 20,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    // the pair generator behind newPairs (a cosine/band join) is consumed
    // by the endpoint projection AND the contracted-edge joins — without a
    // checkpoint the whole generation subtree re-runs per consumer
    val np = newPairs.localCheckpoint(eager = false)
    val ends = np.select(col(aCol).as("__eid"))
      .unionByName(np.select(col(bCol).as("__eid")))
      .distinct()
    // endpoint → contracted node (old cluster id, or itself if unlabeled);
    // consumed three times (edge projection ×2 + new-doc semi join).
    // The contraction REQUIRES the [[clusters]] labeling invariant
    // cluster_id == min member id (the correctness argument below rests
    // on it); labels from an external system with a different
    // representative would silently mislabel, so the necessary half
    // (cluster_id <= doc_id) is checked in-plan on exactly the touched
    // endpoints — a sliver, not the corpus.
    val endMap = ends
      .join(labels, col("doc_id") === col("__eid"), "left")
      .select(col("__eid"),
        coalesce(
          when(col("cluster_id") > col("__eid"),
            raise_error(concat(
              lit("clustersIncremental: label invariant violated — cluster_id "),
              col("cluster_id").cast("string"), lit(" > doc_id "),
              col("__eid").cast("string"),
              lit(" (labels must use min-member representatives, the [[clusters]] contract)")))
              .cast("long")),
          col("cluster_id"), col("__eid")).as("__cn"),
        col("cluster_id").isNotNull.as("__lab"))
      .localCheckpoint(eager = false)
    val touched = endMap.filter(col("__lab"))
      .select(col("__cn").as("cluster_id")).distinct()
      .localCheckpoint(eager = false) // remap join + untouched anti join
    val contracted = np
      .join(endMap.select(col("__eid").as("__ea"), col("__cn").as("__ca")),
        col(aCol) === col("__ea"))
      .join(endMap.select(col("__eid").as("__eb"), col("__cn").as("__cb")),
        col(bCol) === col("__eb"))
      .select(col("__ca").as(aCol), col("__cb").as(bCol))
    val cLabels = clusters(contracted, maxIter, aCol, bCol)
      .localCheckpoint(eager = false) // member remap + new-doc emission
    // members of touched components adopt their old cluster id's new label
    val remapped = labels.join(touched, Seq("cluster_id"), "left_semi")
      .join(cLabels.select(col("doc_id").as("__cn2"), col("cluster_id").as("__nl")),
        col("cluster_id") === col("__cn2"))
      .select(col("doc_id"), col("__nl").as("cluster_id"))
    // brand-new docs (unlabeled endpoints) take their contracted label
    // directly; old-cluster-id nodes are excluded — those doc ids are
    // members and already covered by the remap above
    val newDocs = cLabels.join(
      endMap.filter(!col("__lab")).select(col("__eid")),
      cLabels("doc_id") === col("__eid"), "left_semi")
    labels.join(touched, Seq("cluster_id"), "left_anti")
      .select(col("doc_id"), col("cluster_id"))
      .unionByName(remapped)
      .unionByName(newDocs)
  }

  /** DELETION-aware label maintenance — the right-to-erasure companion to
    * [[clustersIncremental]]: remove a set of doc ids from a persisted
    * (doc_id, cluster_id) labeling, given the persisted PAIR artifact,
    * without recomputing untouched components. Additions only ever MERGE
    * components; deletions can SPLIT them (remove a bridge doc and its
    * component falls apart), so the touched components re-run the
    * fixpoint over their RETAINED pairs — subtraction alone cannot
    * discover a split.
    *
    * Three-way split, all equi-joins on ids (the [[clustersIncremental]]
    * shape, deletion-flavored):
    *   1. components TOUCHED by the deletion = labels semi-joined through
    *      the deleted ids (the deletion batch drives);
    *   2. the fixpoint reruns over the touched components' pairs with
    *      both endpoints SURVIVING — input is O(|touched|), never the
    *      corpus (pairs connect only within a component, so one
    *      endpoint-semi-join selects them);
    *   3. the untouched bulk keeps its labels via one anti join.
    *
    * Output ≡ a full [[clusters]] recompute over pairs(corpus ∖ deleted)
    * (oracle-pinned): untouched components contain no deleted member, so
    * their pair sets and min labels are unchanged; touched components are
    * recomputed exactly. A surviving member left in NO retained pair
    * drops out of the labeling, matching [[clusters]]' members-only
    * contract. */
  def clustersDelete(labels: DataFrame, pairs: DataFrame,
      deletedIds: DataFrame, maxIter: Int = 20,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val del = deletedIds
      .select(col(deletedIds.columns.head).as("__did")).distinct()
      .localCheckpoint(eager = false) // consumed three times below
    val touched = labels
      .join(del, col("doc_id") === col("__did"), "left_semi")
      .select(col("cluster_id")).distinct()
      .localCheckpoint(eager = false) // semi + anti consumers
    val members = labels.join(touched, Seq("cluster_id"), "left_semi")
      .select(col("doc_id"))
    // pairs live within one component, so membership of ONE endpoint
    // selects a touched component's pairs; both endpoints must survive
    val retained = pairs
      .join(members, pairs(aCol) === members("doc_id"), "left_semi")
      .join(del, pairs(aCol) === col("__did"), "left_anti")
      .join(del, pairs(bCol) === col("__did"), "left_anti")
    val stitched = clusters(retained, maxIter, aCol, bCol)
    labels.join(touched, Seq("cluster_id"), "left_anti")
      .select(col("doc_id"), col("cluster_id"))
      .unionByName(stitched)
  }

  /** DELETION-aware [[windowDf]] maintenance: subtract the purged docs'
    * per-window distinct-doc counts from the persisted artifact — run at
    * erasure time, while the doomed rows are still readable (the
    * [[graft.sources.Merge.applyDeletes]] ordering). Corpus and deleted
    * doc sets being disjoint-after-removal makes the subtraction exact:
    * counts that reach 0 drop, so the result is bit-identical to a
    * rebuild over corpus ∖ deleted (oracle-pinned). Scale shape: only
    * the deleted docs are re-windowed; the artifact updates via one
    * (h)-keyed outer merge — the [[windowDfMerge]] shuffle with negated
    * counts. */
  def windowDfDelete(corpusDf: DataFrame, deletedDocs: DataFrame,
      windowTokens: Int = 20,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    corpusDf.unionByName(
        windowDf(deletedDocs, windowTokens, idCol, textCol)
          .select(col("h"), (-col("ndocs")).as("ndocs")))
      .groupBy(col("h")).agg(sum(col("ndocs")).as("ndocs"))
      .filter(col("ndocs") > 0)

  /** Canonical survivors from a pair list: one row per component, keeping
    * the min-id member — `clusters` folded to the keep set. */
  def clusterSurvivors(pairs: DataFrame): DataFrame =
    clusters(pairs)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
      .select(col("cluster_id").as("keep_id"), col("n_members"))

  /** Quality-ranked canonical selection — the "keep the best copy" curation
    * rule: within each near-dup cluster keep the member maximizing
    * `rankCol` (ties → min id), instead of [[clusterSurvivors]]' min-id
    * convention; docs in no cluster are their own canonicals. Returns the
    * docs rows of the canonicals plus (cluster_id, n_members).
    *
    * Scale shape: the rank window partitions by cluster_id over CLUSTER
    * MEMBERS only — pairs exist only for detected near-dups, a sliver of
    * the corpus, and components are size-bounded by the upstream bucket
    * caps — while the corpus remainder takes one anti join on the id (no
    * window at all on the non-duplicated bulk). */
  def clusterCanonicals(docs: DataFrame, pairs: DataFrame,
      rankCol: String = "n_chars", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cl = clusters(pairs) // (doc_id, cluster_id)
    val ids = cl.select(col("doc_id").as("__cid"), col("cluster_id"))
    val members = docs.join(ids, col(idCol) === col("__cid")).drop("__cid")
    val byCluster = Window.partitionBy(col("cluster_id"))
    val best = members
      .withColumn("__rn", row_number().over(
        byCluster.orderBy(col(rankCol).desc, col(idCol))))
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .filter(col("__rn") === 1)
      .drop("__rn")
    val singles = docs
      .join(ids.select(col("__cid")), col(idCol) === col("__cid"), "left_anti")
      .withColumn("cluster_id", col(idCol))
      .withColumn("n_members", lit(1L))
    best.unionByName(singles)
  }

  /** Near-dup provenance report: which sources each duplicate cluster
    * spans — the curation analytics that answers "is this duplication
    * WITHIN a crawl or ACROSS corpora?" (cross-source duplication changes
    * mixture accounting: the same text billed to two sources double-counts
    * toward both budgets). Returns one row per cluster: (cluster_id,
    * n_members, n_sources, sources) with `sources` the sorted distinct
    * source list.
    *
    * Scale shape: `labels` ([[clusters]] output) covers only pair members
    * — a sliver of the corpus — and BROADCASTS into the corpus scan, so
    * the corpus never shuffles; the aggregation runs over members only,
    * one output row per cluster. */
  def clusterProvenance(docs: DataFrame, labels: DataFrame,
      idCol: String = "doc_id", srcCol: String = "source"): DataFrame =
    docs.select(col(idCol).as("doc_id"), col(srcCol).as("__src"))
      .join(broadcast(labels), Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        count_distinct(col("__src")).as("n_sources"),
        array_join(array_sort(collect_set(col("__src"))), ",").as("sources"))

  /** Paragraph-granularity exact dedup — the C4/CCNet boilerplate rule
    * applied INSIDE documents: every paragraph occurring in more than
    * `maxCount` places corpus-wide is removed from ALL of them (nav bars,
    * cookie banners, license footers — the spans document-level dedup
    * can't touch because their hosts differ). Paragraphs here are
    * consecutive `paraWords`-word windows of the normalized word stream
    * (the corpus has no layout breaks; a real pipeline passes newline-split
    * paragraphs through the same machinery). Returns one row per doc:
    * (doc_id, text_out, n_paras, n_dropped) — text for untouched docs is
    * the ORIGINAL, byte-identical; touched docs re-serialize the kept
    * word stream (removal necessarily rewrites).
    *
    * Scale shape (the members-only discipline of [[clusterCanonicals]]):
    * the corpus-sized exchange is the (id, pidx, hash) frame — three
    * longs, never text; duplicate hashes come from a narrow aggregation
    * and broadcast back; the UNTOUCHED bulk passes one broadcast anti-join
    * with its text never moving, and only affected docs (those actually
    * containing boilerplate) rebuild, via a broadcast of their kept-index
    * lists. Paragraph identity is xxhash64 (collision ⇒ two distinct
    * paragraphs conflated: ~10⁻¹³ at 10⁶ paragraphs — the
    * [[hashedShingles]] argument). */
  def dedupParagraphs(docs: DataFrame, paraWords: Int = 8, maxCount: Int = 1,
      idCol: String = "doc_id", textCol: String = "text",
      // false = return the raw plan (no checkpoint) — plan-contract tests
      // only; leaks the persisted hash frame until session end
      materialize: Boolean = true): DataFrame = {
    require(paraWords >= 1 && maxCount >= 1, s"bad rails: $paraWords, $maxCount")
    val ws = split(lower(trim(col(textCol))), "\\s+")
    val nPara = greatest(lit(1L),
      ceil(size(ws).cast("double") / paraWords).cast("long"))
    val paras = transform(sequence(lit(0L), nPara - 1),
      i => concat_ws(" ",
        slice(ws, (i * paraWords + 1).cast("int"), lit(paraWords))))
    val p = docs
      .select(col(idCol).as("id"), posexplode(paras).as(Seq("pidx", "para")))
      .select(col("id"), col("pidx"), xxhash64(col("para")).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dup = p.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxCount)
      .select(col("h"), lit(true).as("isdup"))
    val perDoc = p.join(broadcast(dup), Seq("h"), "left")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(when(col("isdup").isNull, col("pidx"))))
          .as("kept"),
        sum(when(col("isdup"), 1L).otherwise(0L)).as("n_dropped"))
    val affected = perDoc.filter(col("n_dropped") > 0)
    val bulk = docs
      .join(broadcast(affected.select(col("id"))), col(idCol) === col("id"),
        "left_anti")
      .select(col(idCol).as("doc_id"), col(textCol).as("text_out"),
        nPara.as("n_paras"), lit(0L).as("n_dropped"))
    val rebuilt = docs
      .join(broadcast(affected), col(idCol) === col("id"))
      .select(col(idCol).as("doc_id"),
        concat_ws(" ", filter(paras, (_, i) =>
          array_contains(col("kept"), i.cast("int")))).as("text_out"),
        nPara.as("n_paras"), col("n_dropped"))
    val out = bulk.unionByName(rebuilt)
    if (materialize) materializedWithout(out, p) else out
  }

  /** MinHash accuracy contract: for every exact-Jaccard pair above
    * `threshold`, whether the k-slot signature agreement estimate lands
    * within `bound` of the true Jaccard — the measured fact that justifies
    * trusting [[minhashNearDups]]' banded candidates at 100 TB, published
    * the way the HLL/PQ error contracts are (the estimate itself is
    * hash-family-specific; the contract is the engine-stable claim).
    * E[agreement/k] = J with σ = √(J(1−J)/k) ≈ 0.06 at k = 64.
    *
    * The exact side must see the SAME shingle sets the signatures hash:
    * pass a `maxDf` no smaller than the block's doc count so the DF rail
    * never prunes (enforced semantics, not silent skew). Scale shape: the
    * truth side is [[ngramJaccardPairs]] (DF-railed blocked self-join);
    * signatures are computed ONLY for pair members (broadcast sliver —
    * the members-only discipline), never the corpus. */
  def minhashEstimateContract(docs: DataFrame, blockCol: String = "source",
      n: Int = 3, threshold: Double = 0.3, maxDf: Int = 1000000,
      k: Int = 64, bound: Double = 0.25,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val pairs = ngramJaccardPairs(docs, blockCol, n, threshold, maxDf,
      idCol, textCol)
    val memberIds = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("mid")).distinct()
    val sigs = docs
      .join(broadcast(memberIds), col(idCol) === col("mid"), "left_semi")
      .select(col(idCol).as("mid"),
        minhashSignature(shingleHashes(col(textCol), n), k).as("sig"))
    val agree = size(filter(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), x => x))
    pairs
      .join(broadcast(sigs.select(col("mid").as("id_a"), col("sig").as("sig_a"))),
        Seq("id_a"))
      .join(broadcast(sigs.select(col("mid").as("id_b"), col("sig").as("sig_b"))),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("jaccard"),
        (abs(agree.cast("double") / k.toDouble - col("jaccard")) <= bound)
          .as("est_close"))
  }
}
