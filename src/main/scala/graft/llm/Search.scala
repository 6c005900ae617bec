package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Full-text relevance ranking: inverted postings + BM25 (Robertson &
  * Spärck Jones probabilistic-relevance form, the non-negative
  * `ln(1 + (N - df + 0.5)/(df + 0.5))` idf variant every production
  * engine ships) — the retrieval half of a curation stack: score a
  * benchmark's queries against the corpus for decontamination triage, or
  * route seed queries to documents for targeted quality audits.
  *
  * Scale design: the query panel is the SMALL side and drives everything.
  * Tokenization is scan-side; the panel joins in as a broadcast-hash join
  * BEFORE any aggregation, so only postings whose term appears in some
  * query ever cross a shuffle — the corpus itself is never shuffled, and
  * a 100 TB corpus with a 100-term panel moves only those terms' matches.
  * Document frequency needs no global vocabulary pass either: once
  * postings are panel-filtered, every surviving term's postings are all
  * present, so df is a count over the (tiny) per-term candidate groups,
  * broadcast back for scoring. Corpus stats (N, avg doc length) are
  * observed metrics riding the same scan that tokenizes — one corpus read
  * total, byte-verified in SearchScanSpec.
  *
  * Portability discipline: ln() is the one engine-specific operation
  * (1-2 ulp between Java's intrinsic and libm), so the idf — the ONLY
  * ln in the formula — is floored onto a 1e-9 grid immediately,
  * per (query, term): a handful of boundary draws for a whole panel,
  * versus per-(term, doc) draws if the final score were floored raw.
  * Everything downstream of the quantized idf is IEEE mul/div/add on
  * identical inputs (bit-deterministic on any engine) and the published
  * score is an INTEGER micro-unit sum — order-independent, hash-stable.
  */
object Search {

  /** The catalog's fixed query panel (terms drawn from the synthetic
    * corpus vocabulary, mixing high- and low-idf terms); shared with the
    * oracle SQL so both sides score the identical panel. */
  val DefaultPanel: Seq[(Int, String)] = Seq(
    (1, "hash"), (1, "join"),
    (2, "window"), (2, "agg"), (2, "stream"),
    (3, "customer"),
    (4, "fast"), (4, "scan"), (4, "filter"),
    (5, "spark"), (5, "query"), (5, "the"))

  /** Top-`topK` documents per query by BM25. `queries` is (query_id,
    * term) with terms already lowercased and distinct per query. Returns
    * (query_id, rank, idCol, score_micro) — score in 1e-6 units. */
  def bm25(docs: DataFrame, queries: DataFrame, k1: Double = 1.2,
      b: Double = 0.75, topK: Int = 10, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(topK > 0, s"topK must be positive: $topK")
    // Corpus stats (N, Σdl) ride the SAME scan that tokenizes: observe()
    // plants a CollectMetricsExec on the doc rows BEFORE the explode, the
    // candidate tf frame below is checkpointed, and the one count() action
    // both materializes it and delivers the two scalars — the corpus is
    // read ONCE (task-input-bytes-verified in SearchScanSpec; a separate
    // stats agg action was a second full pass at 100 TB). avgdl is a
    // single IEEE division of exact longs — bit-portable.
    val obs = org.apache.spark.sql.Observation()
    val tok = docs
      .observe(obs, count(lit(1)).as("n_docs"),
        coalesce(sum(TextAnalysis.tokenCount(col(textCol)).cast("long")), lit(0L))
          .as("sum_dl"))
      .select(col(idCol),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("dl"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
    // Panel gate FIRST: the broadcast join is the filter that keeps the
    // corpus out of every shuffle below.
    val matched = tok.join(broadcast(queries.select(col("query_id"), col("term"))),
      Seq("term"))
    // EAGER checkpoint: the materializing action runs under the original
    // query execution (Dataset.checkpoint's withAction), so the observed
    // metrics fire with it — a count() over a LAZY checkpoint would bury
    // CollectMetrics inside RDD lineage where the listener never sees it.
    val tf = matched.groupBy(col("query_id"), col("term"), col(idCol), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = true)
    val row = obs.get
    val nDocs = row("n_docs").asInstanceOf[Long]
    val sumDl = row("sum_dl").asInstanceOf[Long]
    val avgdl = sumDl.toDouble / nDocs.toDouble
    // df over candidates = true global df (the panel filter keeps every
    // surviving term's postings whole). Computed as a WINDOW over the
    // candidate frame, not an agg + broadcast-join-back: a broadcast build
    // side cannot reuse the tf shuffle, so the join form re-derives the
    // whole scan→explode→tf chain — a SECOND full corpus pass at 100 TB.
    // The window re-shuffles only candidate rows.
    val wTerm = Window.partitionBy(col("query_id"), col("term"))
    val contrib = tf
      .withColumn("df", count(lit(1)).over(wTerm))
      .withColumn("idf_micro",
        floor(log(lit(1.0) +
            (lit(nDocs.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          lit(1e9)).cast("long"))
      .withColumn("c_micro",
        floor(col("idf_micro").cast("double") / lit(1e3) *
          ((col("tf") * lit(k1 + 1)) /
            (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * (col("dl") / lit(avgdl))))))
          .cast("long"))
    val scored = contrib.groupBy(col("query_id"), col(idCol))
      .agg(sum(col("c_micro")).as("score_micro"))
    // Per-query candidate window, never the corpus; ties pinned by id.
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_micro").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col(idCol), col("score_micro"))
  }

  /** Inverted WORD-BIGRAM index: (gram, df, postings) with postings the
    * doc:tf list in doc order — the build half of the search story
    * (phrase lookup, candidate generation for verbatim-overlap audits).
    *
    * The df bounds are the scale rails, not an afterthought:
    *   - `maxDf` (stopword-phrase cutoff) bounds the WIDTH of every
    *     output row: no posting list longer than maxDf is ever
    *     assembled, so the hot-phrase row that would OOM a reducer at
    *     100 TB ("of the" with a billion postings) is pruned by the df
    *     JOIN before the collect, while its rows merely stream through
    *     one shuffle (AQE skew-split handles the imbalance).
    *   - `minDf` kills the singleton tail (most of a real vocabulary).
    *
    * Plan shape: ONE corpus scan. tf aggregates on (gram, doc) — a
    * partial-agg-friendly, skew-free key. df aggregates tf by gram
    * (partial agg: one row per gram per task crosses). The prune then
    * re-joins df onto tf as a SHUFFLE-merge join — hinted, because a
    * broadcast build side cannot reuse a shuffle exchange (measured on
    * a broadcast plan: 2 parquet scans, 0 ReusedExchange) and would
    * re-derive the whole scan→explode→tf chain; with both sides
    * shuffling, the tf subtree materializes ONCE: statically as
    * ReusedExchange, under AQE as runtime stage reuse keyed on
    * canonicalized-subtree equality — NOT visible in plan text, so the
    * evidence is task input bytes: the identical-subtree form reads 1×
    * the corpus, the column-pruned form exactly 2×. */
  def invertedIndex(docs: DataFrame, minDf: Long = 1L,
      maxDf: Long = Long.MaxValue, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    renderIndex(invertedIndexRaw(docs, minDf, maxDf, idCol, textCol), idCol)

  /** [[invertedIndexRaw]] (UNRAILED) with the corpus size riding the SAME
    * scan that tokenizes — the [[bm25]] observe() discipline — and the
    * raw index eagerly checkpointed (the materializing action that fires
    * the metric). Returns (raw index, n docs) for callers whose df rails
    * need n ([[applyRails]] at read, the
    * [[graft.streaming.StreamingIndex.readRailedIndex]] contract): one
    * corpus read where build-then-`count()` paid two — at 100 TB the
    * doubled read dominates an index build (SearchScanSpec pins the byte
    * budget). */
  def invertedIndexRawCounted(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): (DataFrame, Long) = {
    val obs = org.apache.spark.sql.Observation()
    val raw = invertedIndexRaw(
        docs.observe(obs, count(lit(1)).as("n_docs")),
        1L, Long.MaxValue, idCol, textCol)
      .localCheckpoint(eager = true)
    (raw, obs.get("n_docs").asInstanceOf[Long])
  }

  /** Struct postings → the scalar-cell "doc:tf,doc:tf" rendering (the
    * catalog-output contract form; production persists the raw form). */
  def renderIndex(raw: DataFrame, idCol: String = "doc_id"): DataFrame =
    raw.select(col("gram"), col("df"), col("cf"),
      array_join(transform(col("pl"),
        x => concat_ws(":", x.getField(idCol).cast("string"),
          x.getField("tf").cast("string"))), ",").as("postings"))

  /** [[invertedIndex]] with postings kept STRUCTURED — (gram, df, cf,
    * pl: array<struct<idCol, tf>>), pl in doc order. The form downstream
    * operators consume ([[phraseQuery]]) and the form to PERSIST; the
    * string rendering above exists only for the scalar-cell catalog
    * contract. */
  def invertedIndexRaw(docs: DataFrame, minDf: Long = 1L,
      maxDf: Long = Long.MaxValue, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(minDf >= 1 && maxDf >= minDf, s"need 1 <= minDf <= maxDf: $minDf, $maxDf")
    val words = split(lower(trim(col(textCol))), "\\s+")
    // bigrams scan-side; <2-word (incl. blank) docs contribute nothing
    val tok = docs
      .select(col(idCol), words.as("w"))
      .filter(size(col("w")) >= 2)
      .select(col(idCol), explode(
        transform(slice(col("w"), lit(1), size(col("w")) - 1),
          (x, i) => concat_ws(" ", x, element_at(col("w"), i + 2)))).as("gram"))
    val tf = tok.groupBy(col("gram"), col(idCol)).agg(count(lit(1)).as("tf"))
    // df + cf in one agg. cf (collection frequency — total occurrences,
    // the LM-scoring companion to df) also PINS the tf subtree: without a
    // consumer of `tf`, Catalyst column-prunes the df branch's tf
    // aggregate down to a bare distinct, the two tf subtrees stop
    // canonicalizing equal, and the ReusedExchange below silently
    // degrades to a second corpus scan (measured: exactly 2× the
    // corpus's task input bytes).
    val dfp = tf.groupBy(col("gram"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
      .filter(col("df") >= minDf && col("df") <= maxDf)
    tf.join(dfp.hint("shuffle_merge"), Seq("gram"))
      .groupBy(col("gram"), col("df"), col("cf"))
      .agg(sort_array(collect_list(struct(col(idCol), col("tf")))).as("pl"))
  }

  /** Unigram SEARCH index — the BM25-serving artifact: (term, df, cf,
    * pl: array<struct<idCol, tf, dl>>), postings in doc order with each
    * posting carrying the document's token length. Carrying dl IN the
    * posting (the classic "norms in the postings" layout) is what makes
    * [[bm25FromIndex]] a pure index probe: scoring needs tf, df, and dl,
    * and all three live in the artifact — no doc-lengths side table to
    * join, no corpus access at query time.
    *
    * Same df rails and single-scan plan shape as [[invertedIndexRaw]]
    * (maxDf bounds row WIDTH before the postings collect; the df re-join
    * is hinted shuffle_merge so the tf subtree materializes once; cf pins
    * the tf consumer). Scoring note: leave the rails open (minDf=1,
    * maxDf=∞) when exact BM25 parity with the inline scorer is required —
    * railed terms simply don't score, the standard stopword-pruning
    * trade a production index makes explicitly. */
  def searchIndexRaw(docs: DataFrame, minDf: Long = 1L,
      maxDf: Long = Long.MaxValue, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(minDf >= 1 && maxDf >= minDf, s"need 1 <= minDf <= maxDf: $minDf, $maxDf")
    val tok = docs
      .select(col(idCol),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("dl"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
    val tf = tok.groupBy(col("term"), col(idCol), col("dl"))
      .agg(count(lit(1)).as("tf"))
    val dfp = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
      .filter(col("df") >= minDf && col("df") <= maxDf)
    tf.join(dfp.hint("shuffle_merge"), Seq("term"))
      .groupBy(col("term"), col("df"), col("cf"))
      .agg(sort_array(collect_list(struct(col(idCol), col("tf"), col("dl"))))
        .as("pl"))
  }

  /** The 1-row corpus-stats sidecar — (n_docs, sum_dl) — the second
    * persisted artifact of a search build (every engine stores these next
    * to the index; BM25's idf and length normalization need them). Token
    * semantics identical to [[bm25]]'s observed stats. */
  def corpusStats(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(TextAnalysis.tokenCount(col(textCol)).cast("long")), lit(0L))
        .as("sum_dl"))

  /** BM25 OVER PREBUILT ARTIFACTS ([[searchIndexRaw]] + [[corpusStats]],
    * persisted in production) — the steady-state retrieval form: the
    * corpus is read ZERO times per query batch (FS-byte-pinned in
    * SearchScanSpec, the [[phraseQuery]] discipline). With open rails the
    * scores are identical to the inline [[bm25]] — the catalog row shares
    * its oracle VERBATIM.
    *
    * Scale shape: the panel BROADCASTS into the index so only panel
    * terms' postings are ever exploded (row width ≤ maxDf by the index
    * rails); df needs neither a window nor a join — it is an index
    * COLUMN; the 1-row stats frame joins as a broadcast 1×1 scalar; the
    * only shuffle is the per-(query, doc) score sum over candidate
    * contributions. Same quantization discipline as [[bm25]]: idf floored
    * to the 1e-9 grid (the only ln), integer micro-unit scores. */
  def bm25FromIndex(index: DataFrame, stats: DataFrame, queries: DataFrame,
      k1: Double = 1.2, b: Double = 0.75, topK: Int = 10,
      idCol: String = "doc_id"): DataFrame = {
    require(topK > 0, s"topK must be positive: $topK")
    val post = index
      .join(broadcast(queries.select(col("query_id"), col("term"))), Seq("term"))
      .select(col("query_id"), col("term"), col("df"), explode(col("pl")).as("p"))
      .select(col("query_id"), col("term"), col("df"),
        col("p").getField(idCol).as(idCol), col("p").getField("tf").as("tf"),
        col("p").getField("dl").as("dl"))
      .crossJoin(broadcast(stats)) // 1×1 scalar attach
    // identical expression trees to [[bm25]], with (N, avgdl) read from
    // the stats columns instead of driver literals: the IEEE op sequence
    // is unchanged, so open-railed scores are bit-identical
    val contrib = post
      .withColumn("idf_micro",
        floor(log(lit(1.0) +
            (col("n_docs").cast("double") - col("df") + lit(0.5)) /
              (col("df") + lit(0.5))) *
          lit(1e9)).cast("long"))
      .withColumn("c_micro",
        floor(col("idf_micro").cast("double") / lit(1e3) *
          ((col("tf") * lit(k1 + 1)) /
            (col("tf") + lit(k1) * (lit(1 - b) + lit(b) *
              (col("dl") / (col("sum_dl").cast("double") / col("n_docs").cast("double")))))))
          .cast("long"))
    val scored = contrib.groupBy(col("query_id"), col(idCol))
      .agg(sum(col("c_micro")).as("score_micro"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_micro").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col(idCol), col("score_micro"))
  }

  /** Dirichlet-smoothed QUERY-LIKELIHOOD ranking (Zhai & Lafferty 2001)
    * OVER THE SAME PREBUILT ARTIFACTS as [[bm25FromIndex]] — the second
    * classic probabilistic ranker, and the reason [[searchIndexRaw]]
    * carries cf (collection frequency) in every row: QL's smoothing mass
    * is cf/C, so the maintained index + 1-row stats sidecar already hold
    * everything scoring needs. Rank-equivalent matching-terms form:
    *
    *   score(q, d) = Σ_{t ∈ q ∩ d} ln(1 + tf·C / (μ·cf))
    *               + |q| · ln(μ / (dl + μ))
    *
    * so only MATCHING postings contribute per-term work (candidates =
    * docs hit by ≥1 panel term, the standard candidate set), and dl
    * rides in the posting. Scale shape identical to [[bm25FromIndex]]:
    * panel broadcasts, per-term fan-out ≤ maxDf postings, the 1-row
    * stats attach as a broadcast scalar, one candidate-bounded shuffle.
    *
    * Portability: ln is engine-specific (1-2 ulp), so EVERY ln draw
    * floors onto the 1e-9 grid before integer arithmetic — the match
    * term per (query, term, doc), the length term once per (query, doc)
    * (then multiplied by the integer |q|); the published score is an
    * exact integer micro sum. Returns (query_id, rank, idCol,
    * score_micro) — scores are negative (log-probabilities). */
  def qlFromIndex(index: DataFrame, stats: DataFrame, queries: DataFrame,
      mu: Double = 2000.0, topK: Int = 10,
      idCol: String = "doc_id"): DataFrame = {
    require(mu > 0 && topK > 0, s"need mu > 0, topK > 0: $mu, $topK")
    val nq = queries.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_terms"))
    val post = index
      .join(broadcast(queries.select(col("query_id"), col("term"))), Seq("term"))
      .select(col("query_id"), col("term"), col("cf"), explode(col("pl")).as("p"))
      .select(col("query_id"), col("term"), col("cf"),
        col("p").getField(idCol).as(idCol), col("p").getField("tf").as("tf"),
        col("p").getField("dl").as("dl"))
      .crossJoin(broadcast(stats)) // 1×1 scalar attach
    val contrib = post.withColumn("m_micro",
      floor(log(lit(1.0) +
          (col("tf").cast("double") * col("sum_dl").cast("double")) /
            (lit(mu) * col("cf").cast("double"))) * lit(1e9)).cast("long"))
    val scored = contrib
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("m_micro")).as("m_sum"), max(col("dl")).as("dl"))
      .join(broadcast(nq), Seq("query_id"))
      .withColumn("score_micro",
        col("m_sum") + col("n_terms") *
          floor(log(lit(mu) / (col("dl").cast("double") + lit(mu))) * lit(1e9))
            .cast("long"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_micro").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col(idCol), col("score_micro"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) — the
    * standard hybrid-retrieval combiner: each system's ranked list
    * contributes 1/(kRrf + rank) per (query, doc), summed across systems,
    * re-ranked. Rank-based, so it needs NO score calibration between
    * systems (BM25 micro-ints and cosine doubles fuse directly) — which
    * is exactly why hybrid lexical+dense search ships RRF.
    *
    * Inputs are ranked lists (query_id, idCol, rank) — top-k frames,
    * BOUNDED at queries × k rows regardless of corpus size: fusion never
    * touches a corpus, only candidate lists, so every join here is
    * trivially small. Contributions are floor(1e9/(kRrf + rank)) —
    * integer ranks in, integer micro-units out, hash-stable on any
    * engine. Returns (query_id, rank, idCol, rrf_micro, n_systems) with
    * ties broken by id; n_systems = how many lists surfaced the doc. */
  def rrfFuse(rankings: Seq[DataFrame], kRrf: Int = 60, topK: Int = 10,
      idCol: String = "doc_id"): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(kRrf >= 0 && topK > 0, s"need kRrf >= 0, topK > 0: $kRrf, $topK")
    val contribs = rankings.map(_.select(col("query_id"), col(idCol),
      floor(lit(1e9) / (lit(kRrf.toDouble) + col("rank"))).cast("long").as("c")))
    val fused = contribs.reduce(_ unionByName _)
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("c")).as("rrf_micro"), count(lit(1)).as("n_systems"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_micro").desc, col(idCol))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col(idCol),
        col("rrf_micro"), col("n_systems"))
  }

  /** Incremental index maintenance — fold a batch's postings into a
    * PERSISTED unrailed index without rebuilding it: the steady-state
    * companion to [[invertedIndexRaw]] (the
    * [[Dedup.clustersIncremental]] / centroid-sums pattern, applied to
    * search). Both inputs are UNRAILED raw indexes (df rails are a READ
    * decision — [[applyRails]] — because a merge can move a gram across
    * either rail; maintaining railed state would silently lose prunable
    * postings forever).
    *
    * Scale shape: the batch's gram list BROADCASTS, so the old index is
    * gated in place — untouched grams (the overwhelming majority at
    * steady state) pass through the anti-join WITHOUT shuffling, and only
    * (touched ∪ batch) rows re-aggregate. Postings merge by doc-ordered
    * sort; doc sets are disjoint (new docs), counts add exactly — the
    * merged index is bit-identical to a full rebuild over (old ∪ batch),
    * which is how the catalog row is oracled. */
  def indexMerge(oldIndex: DataFrame, batchIndex: DataFrame,
      gramCol: String = "gram", validateDisjoint: Boolean = false,
      idCol: String = "doc_id"): DataFrame = {
    val batchGrams = batchIndex.select(col(gramCol))
    val untouched = oldIndex.join(broadcast(batchGrams), Seq(gramCol), "left_anti")
    val touched = oldIndex.join(broadcast(batchGrams), Seq(gramCol), "left_semi")
    val merged = touched.unionByName(batchIndex)
      .groupBy(col(gramCol))
      .agg(sum(col("df")).as("df"), sum(col("cf")).as("cf"),
        sort_array(flatten(collect_list(col("pl")))).as("pl"))
    // The disjoint-docs precondition (new docs only — an at-least-once
    // ingest replaying old docs would silently double-count df/cf) is
    // cheaply checkable in-plan on exactly the rows that could violate
    // it: merged postings are doc-sorted, so any duplicate doc is
    // ADJACENT. Opt-in because a verified-exactly-once pipeline need not
    // pay even this touched-rows scan.
    val checked =
      if (!validateDisjoint) merged
      else merged.withColumn("pl",
        when(exists(zip_with(slice(col("pl"), lit(1), size(col("pl")) - 1),
            slice(col("pl"), lit(2), size(col("pl")) - 1),
            (a, b) => a.getField(idCol) === b.getField(idCol)), x => x),
          raise_error(concat(lit("indexMerge: non-disjoint doc sets for gram '"),
            col(gramCol), lit("' — replayed batch?"))))
          .otherwise(col("pl")))
    untouched.unionByName(checked)
  }

  /** Merge corpus-stats sidecars — counts add exactly, so maintained
    * stats ≡ a recomputed [[corpusStats]] over the union corpus. */
  def statsMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).agg(sum(col("n_docs")).as("n_docs"),
      sum(col("sum_dl")).as("sum_dl"))

  /** DELETION-aware index maintenance — the right-to-erasure companion to
    * [[indexMerge]]: subtract a purged doc set's postings from a
    * persisted UNRAILED index, without rebuilding it. `deletedIndex` is
    * [[invertedIndexRaw]] over the doomed docs (computed at erasure time,
    * while their rows are still readable — the
    * [[graft.sources.Merge.applyDeletes]] ordering).
    *
    * Scale shape mirrors [[indexMerge]]: the deleted gram list BROADCASTS,
    * untouched grams (the vast majority) pass through an anti join
    * without shuffling; touched grams take ONE gram-equi join and the
    * posting cut is scan-side — `pl` is filtered against the deleted
    * row's own (bounded, per-gram) doc list, df/cf subtract exactly, and
    * grams whose df reaches 0 drop. The deleted docs were part of the
    * corpus the old index was built over, so every subtracted posting
    * exists and the result is bit-identical to a full rebuild over
    * corpus ∖ deleted (oracle-pinned). */
  def indexDelete(oldIndex: DataFrame, deletedIndex: DataFrame,
      gramCol: String = "gram", idCol: String = "doc_id",
      validateDisjoint: Boolean = false): DataFrame = {
    // The subtraction assumes each doomed doc appears ONCE in
    // `deletedIndex` — a duplicate tombstone for the same doc (e.g. a
    // replayed erasure folded into a del-run union) would over-subtract
    // df/cf and could drop a gram while surviving postings exist. The
    // precondition is cheaply checkable in-plan on exactly the rows that
    // could violate it: postings are doc-sorted, so duplicates are
    // ADJACENT (the [[indexMerge]] validateDisjoint discipline). Opt-in
    // because a pointer-disciplined exactly-once pipeline need not pay
    // even this touched-rows scan.
    val checkedDel =
      if (!validateDisjoint) deletedIndex
      else deletedIndex.withColumn("pl",
        when(exists(zip_with(slice(col("pl"), lit(1), size(col("pl")) - 1),
            slice(col("pl"), lit(2), size(col("pl")) - 1),
            (a, b) => a.getField(idCol) === b.getField(idCol)), x => x),
          raise_error(concat(lit("indexDelete: duplicate doomed doc for gram '"),
            col(gramCol), lit("' — replayed tombstones?"))))
          .otherwise(col("pl")))
    val delG = checkedDel.select(col(gramCol), col("df").as("__ddf"),
      col("cf").as("__dcf"),
      transform(col("pl"), x => x.getField(idCol)).as("__dids"))
    val untouched = oldIndex
      .join(broadcast(delG.select(col(gramCol))), Seq(gramCol), "left_anti")
    val touched = oldIndex.join(broadcast(delG), Seq(gramCol))
      .select(col(gramCol),
        (col("df") - col("__ddf")).as("df"),
        (col("cf") - col("__dcf")).as("cf"),
        filter(col("pl"),
          p => !array_contains(col("__dids"), p.getField(idCol))).as("pl"))
      .filter(col("df") > 0)
    untouched.unionByName(touched)
  }

  /** Subtract a purged doc set's stats sidecar — maintained stats ≡ a
    * recomputed [[corpusStats]] over corpus ∖ deleted. */
  def statsDelete(corpus: DataFrame, deleted: DataFrame): DataFrame =
    statsMerge(corpus,
      deleted.select((-col("n_docs")).as("n_docs"),
        (-col("sum_dl")).as("sum_dl")))

  /** df rails as a read-time view over unrailed raw state — the form
    * every consumer ([[phraseQuery]], [[renderIndex]]) takes after
    * [[indexMerge]] maintenance. */
  def applyRails(raw: DataFrame, minDf: Long, maxDf: Long): DataFrame = {
    require(minDf >= 1 && maxDf >= minDf, s"need 1 <= minDf <= maxDf: $minDf, $maxDf")
    raw.filter(col("df") >= minDf && col("df") <= maxDf)
  }

  /** Stamp the gram-hash bucket a persisted index is hive-partitioned
    * by — `b = pmod(xxhash64(gram), nBuckets)`, the
    * [[graft.streaming.StreamingIndex]] base layout. Partitioning the
    * serving artifact on `b` is what turns a literal-panel probe into a
    * static-partition-pruned read ([[pruneToGrams]]): the probe lists and
    * reads ONLY its grams' buckets' files, never the whole index. */
  def withBucket(index: DataFrame, nBuckets: Int,
      gramCol: String = "gram"): DataFrame =
    index.withColumn("b", pmod(xxhash64(col(gramCol)), lit(nBuckets.toLong)))

  /** The bucket ids a literal gram panel touches — Spark's own xxhash64
    * (seed 42, the `functions.xxhash64` default) evaluated DRIVER-SIDE on
    * the literals via the Catalyst expression, then the same pmod as
    * [[withBucket]]'s write path. Agreement between this and the column
    * form is spec-pinned (SearchSpec): a divergent hash would silently
    * prune away real postings. Distinct, sorted. */
  def gramBuckets(grams: Seq[String], nBuckets: Int): Seq[Long] = {
    require(nBuckets >= 1, s"nBuckets must be >= 1: $nBuckets")
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    grams.map { g =>
      val h = XxHash64(Seq(Literal.create(g,
          org.apache.spark.sql.types.StringType)), 42L)
        .eval(null).asInstanceOf[Long]
      ((h % nBuckets) + nBuckets) % nBuckets
    }.distinct.sorted
  }

  /** Bucket-pruned view of a bucket-partitioned persisted index for a
    * LITERAL gram panel — the serving-probe read [[phraseQuery]] /
    * [[bm25FromIndex]] should consume: a static partition filter on the
    * panel's hash buckets (`b IN (…)` — only those buckets' files are
    * listed/read; the `q_knn_ivf_indexed` cell-pruning discipline) plus a
    * pushed `gram IN (panel)` data filter (row-group min/max pruning
    * inside each bucket). Semantically the IDENTITY restricted to the
    * panel grams — both probes' first step is an inner join against the
    * panel, so rows outside it never score — which is why the pruned rows
    * share their unpruned siblings' oracles verbatim. At 100 TB this is
    * the difference between a phrase probe touching KB and scanning the
    * whole index. */
  def pruneToGrams(index: DataFrame, grams: Seq[String], nBuckets: Int,
      gramCol: String = "gram", bucketCol: String = "b"): DataFrame = {
    require(grams.nonEmpty, "pruneToGrams needs a non-empty panel")
    index
      .filter(col(bucketCol).isin(gramBuckets(grams, nBuckets): _*))
      .filter(col(gramCol).isin(grams.distinct: _*))
      .drop(bucketCol)
  }

  /** The catalog's fixed phrase panel: conjunctive (AND) lookups the
    * retrieval user runs right after building the bigram index. Mixes
    * 3- and 4-word phrases with hits at each SF and one phrase whose
    * gram is absent from every index (the strictness case: no rows). */
  val PhrasePanel: Seq[(Int, String)] = Seq(
    (1, "the fast scan"),
    (2, "window agg key"),
    (3, "big a batch"),
    (4, "customer big agg"),
    (5, "spark query the fast"),
    (6, "zz unseen gram"))

  /** Distinct word bigrams of a phrase — the index terms a conjunctive
    * phrase lookup needs. Shared by [[phraseQuery]] and the oracle SQL. */
  def phraseGrams(phrase: String): Seq[String] = {
    val ws = phrase.toLowerCase.trim.split("\\s+").toSeq
    ws.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq.distinct.sorted
  }

  /** Conjunctive (AND/phrase) retrieval OVER A PREBUILT INDEX
    * ([[invertedIndexRaw]], persisted in production): a doc matches a
    * phrase iff EVERY bigram of the phrase is in the index AND in the
    * doc — the bigram-chain conjunction, the standard index-side phrase
    * approximation when postings carry no positions. Returns (phrase_id,
    * idCol, n_grams, phrase_tf = min per-gram tf, an upper bound on
    * phrase occurrences), empty for phrases with any unindexed gram.
    *
    * Scale shape: the panel is literal and BROADCASTS into the index —
    * the only postings ever exploded are the panel grams' (row width ≤
    * maxDf by the index rails, so the fan-out is ≤ |panel grams| × maxDf
    * rows). The smallest-df gram per phrase DRIVES: its postings are the
    * candidate set (bounded by the phrase's min df), broadcast against
    * the other grams' exploded postings, so no row survives past the
    * rarest gram's reach. The corpus is never touched — plan-pinned in
    * PlanSpec: a phrase query over a persisted index re-scans nothing. */
  def phraseQuery(index: DataFrame, panel: Seq[(Int, String)],
      idCol: String = "doc_id"): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val gramsDf = panel
      .flatMap { case (pid, ph) => phraseGrams(ph).map(g => (pid, g)) }
      .toDF("phrase_id", "gram")
    val needDf = panel
      .map { case (pid, ph) => (pid, phraseGrams(ph).size.toLong) }
      .toDF("phrase_id", "n_grams")
    // panel gate: only the queried grams' postings leave the index scan.
    // hit is panel-bounded (≤ |panel grams| rows) and feeds THREE
    // consumers (rarest-gram pick, candidate explode, match explode) —
    // the lazy checkpoint materializes it once, so the index files are
    // read ONCE per probe instead of three times (FS-byte-pinned in
    // SearchScanSpec's pruned-probe test)
    val hit = index.join(broadcast(gramsDf), Seq("gram"))
      .select(col("phrase_id"), col("gram"), col("df"), col("pl"))
      .localCheckpoint(eager = false)
    // smallest-df-first: the rarest gram's postings are the candidates
    val rare = hit.groupBy(col("phrase_id"))
      .agg(min(struct(col("df"), col("gram"))).as("r"))
      .select(col("phrase_id"), col("r.gram").as("gram"))
    val cand = hit.join(rare, Seq("phrase_id", "gram"), "left_semi")
      .select(col("phrase_id"), explode(col("pl")).as("p"))
      .select(col("phrase_id"), col("p").getField(idCol).as(idCol))
    val matched = hit
      .select(col("phrase_id"), col("gram"), explode(col("pl")).as("p"))
      .select(col("phrase_id"), col("gram"),
        col("p").getField(idCol).as(idCol), col("p").getField("tf").as("tf"))
      .join(broadcast(cand), Seq("phrase_id", idCol), "left_semi")
    matched
      .groupBy(col("phrase_id"), col(idCol))
      .agg(count_distinct(col("gram")).as("n_present"), min(col("tf")).as("phrase_tf"))
      .join(broadcast(needDf), Seq("phrase_id"))
      .filter(col("n_present") === col("n_grams"))
      .select(col("phrase_id"), col(idCol), col("n_grams"), col("phrase_tf"))
  }

  /** Lowercased whitespace words of a phrase, in order (duplicates kept —
    * offsets matter for the positional chain). Shared by
    * [[phraseQueryExact]] and its oracle SQL. */
  def phraseWords(phrase: String): Seq[String] =
    phrase.toLowerCase.trim.split("\\s+").toSeq.filter(_.nonEmpty)

  /** POSITIONAL unigram index — (term, df, cf, pl: array<struct<idCol,
    * pos: array<int>>>), `pos` the 0-based token offsets of the term in
    * the doc, postings in doc order. The artifact EXACT phrase retrieval
    * needs: the bigram-chain conjunction ([[phraseQuery]]) over-matches
    * phrases whose bigrams all appear somewhere but never consecutively;
    * positional chain intersection does not — this is the positions-in-
    * postings layout every production engine's phrase mode keys on.
    *
    * Same plan shape and df rails as [[searchIndexRaw]] (one scan;
    * hinted shuffle-merge df re-join so the per-doc subtree materializes
    * once; cf pins the consumer); same bucket-partition + prune serving
    * discipline ([[withBucket]] on "term", [[pruneToGrams]]). Row width:
    * pl ≤ maxDf postings, each carrying that doc's offsets of the term —
    * bounded by doc length, the same bound the dl-in-postings layout
    * carries. */
  def positionalIndexRaw(docs: DataFrame, minDf: Long = 1L,
      maxDf: Long = Long.MaxValue, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(minDf >= 1 && maxDf >= minDf, s"need 1 <= minDf <= maxDf: $minDf, $maxDf")
    val tok = docs
      .select(col(idCol), posexplode(split(lower(trim(col(textCol))), "\\s+")))
      .toDF(idCol, "pos", "term")
      .filter(col("term") =!= "")
    val perDoc = tok.groupBy(col("term"), col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("pos"),
        count(lit(1)).as("tf"))
    val dfp = perDoc.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
      .filter(col("df") >= minDf && col("df") <= maxDf)
    perDoc.join(dfp.hint("shuffle_merge"), Seq("term"))
      .groupBy(col("term"), col("df"), col("cf"))
      .agg(sort_array(collect_list(struct(col(idCol), col("pos")))).as("pl"))
  }

  /** EXACT phrase retrieval over a [[positionalIndexRaw]] artifact: a doc
    * matches at start position p iff word k of the phrase occurs at
    * p + k for EVERY k — positional chain intersection. Returns
    * (phrase_id, idCol, n_words, phrase_tf) with phrase_tf the exact
    * occurrence count (number of chain starts), not [[phraseQuery]]'s
    * min-tf upper bound; empty for phrases with any unindexed word (the
    * q_index_phrase strictness contract).
    *
    * Scale shape: the literal panel's words broadcast into the index
    * (bucket-prune the input with [[pruneToGrams]] on "term" — reads ∝
    * the panel words' buckets); the only per-(phrase, doc) state is the
    * words' offset lists (posting width railed by maxDf), and the chain
    * check is a scan-side higher-order filter/forall over those lists —
    * codegen-friendly, no UDF, no corpus access. */
  def phraseQueryExact(index: DataFrame, panel: Seq[(Int, String)],
      idCol: String = "doc_id"): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val wordsDf = panel
      .flatMap { case (pid, ph) =>
        phraseWords(ph).zipWithIndex.map { case (w, k) => (pid, k, w) } }
      .toDF("phrase_id", "offset", "term")
    val needDf = panel
      .map { case (pid, ph) => (pid, phraseWords(ph).size) }
      .toDF("phrase_id", "n_words")
    val hit = index.join(broadcast(wordsDf), Seq("term"))
      .select(col("phrase_id"), col("offset"), explode(col("pl")).as("p"))
      .select(col("phrase_id"), col("offset"),
        col("p").getField(idCol).as(idCol), col("p").getField("pos").as("pos"))
    val grouped = hit.groupBy(col("phrase_id"), col(idCol))
      .agg(count_distinct(col("offset")).as("n_present"),
        map_from_entries(collect_list(struct(col("offset"), col("pos"))))
          .as("m"))
      .join(broadcast(needDf), Seq("phrase_id"))
      .filter(col("n_present") === col("n_words"))
    grouped
      // 1-word phrases need the guard: sequence(1, 0) counts DOWN in
      // Spark, which would probe offset 1 that doesn't exist
      .withColumn("starts",
        when(col("n_words") === 1, element_at(col("m"), lit(0)))
          .otherwise(filter(element_at(col("m"), lit(0)),
            p => forall(sequence(lit(1), col("n_words") - 1),
              k => array_contains(element_at(col("m"), k.cast("int")),
                p + k.cast("int"))))))
      .withColumn("phrase_tf", size(col("starts")).cast("long"))
      .filter(col("phrase_tf") > 0)
      .select(col("phrase_id"), col(idCol),
        col("n_words").cast("long").as("n_words"), col("phrase_tf"))
  }

  /** PROXIMITY retrieval over a [[positionalIndexRaw]] artifact — the
    * span-near operator between exact phrase and bag-of-words: a doc
    * matches iff some `window`-token window contains ALL the panel's
    * words (order-free). Existence is equivalent to a window STARTING at
    * one of the words' own occurrences (any window shrinks to its first
    * panel-word hit), so the candidate starts are exactly the index
    * positions — no corpus access. Returns (phrase_id, idCol, n_words,
    * best_start = the smallest matching start offset, 0-based); empty
    * for phrases with any unindexed word.
    *
    * Scale shape identical to [[phraseQueryExact]]: literal panel
    * broadcasts into the (bucket-pruned) index, per-(phrase, doc) state
    * is the words' offset lists, and the window check is a scan-side
    * exists/forall over them. */
  def proximityQuery(index: DataFrame, panel: Seq[(Int, String)],
      window: Int, idCol: String = "doc_id"): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    val spark = index.sparkSession
    import spark.implicits._
    val wordsDf = panel
      .flatMap { case (pid, ph) =>
        phraseWords(ph).distinct.zipWithIndex.map { case (w, k) => (pid, k, w) } }
      .toDF("phrase_id", "offset", "term")
    val needDf = panel
      .map { case (pid, ph) => (pid, phraseWords(ph).distinct.size) }
      .toDF("phrase_id", "n_words")
    val hit = index.join(broadcast(wordsDf), Seq("term"))
      .select(col("phrase_id"), col("offset"), explode(col("pl")).as("p"))
      .select(col("phrase_id"), col("offset"),
        col("p").getField(idCol).as(idCol), col("p").getField("pos").as("pos"))
    val grouped = hit.groupBy(col("phrase_id"), col(idCol))
      .agg(count_distinct(col("offset")).as("n_present"),
        map_from_entries(collect_list(struct(col("offset"), col("pos"))))
          .as("m"),
        sort_array(array_distinct(flatten(collect_list(col("pos")))))
          .as("starts"))
      .join(broadcast(needDf), Seq("phrase_id"))
      .filter(col("n_present") === col("n_words"))
    grouped
      .withColumn("valid", filter(col("starts"),
        p => forall(sequence(lit(0), col("n_words") - 1),
          k => exists(element_at(col("m"), k.cast("int")),
            q => q >= p && q < p + lit(window)))))
      .filter(size(col("valid")) > 0)
      .select(col("phrase_id"), col(idCol),
        col("n_words").cast("long").as("n_words"),
        element_at(col("valid"), 1).cast("long").as("best_start"))
  }

  /** SNIPPET window selection for ranked results — the display step of a
    * search stack: for each (query, ranked doc), the `window`-token span
    * with the MOST query-term occurrences (ties → smallest start), read
    * ENTIRELY off the positional index: a best window always starts at a
    * term occurrence, so the candidate starts are the doc's panel-term
    * positions and the corpus is never touched. Returns (query_id, rank,
    * idCol, best_start, best_hits).
    *
    * Determinism discipline: the (hits, start) argmax is encoded as one
    * integer `hits·10^6 − start` (doc positions < 10^6) so max picks max
    * hits then min start — pure integer arithmetic, mirrored exactly in
    * the oracle. Scale shape: the panel broadcasts into the (pruned)
    * index, the RANKED doc set (≤ |queries|·topK rows) broadcasts as the
    * gate, and the window scan is a scan-side HOF over the candidate
    * offsets — per-(query, doc) state is the term position lists. */
  def snippetWindows(posIndex: DataFrame, ranked: DataFrame,
      queries: DataFrame, window: Int = 8,
      idCol: String = "doc_id"): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    val hit = posIndex
      .join(broadcast(queries.select(col("query_id"), col("term"))), Seq("term"))
      .select(col("query_id"), explode(col("pl")).as("p"))
      .select(col("query_id"), col("p").getField(idCol).as(idCol),
        col("p").getField("pos").as("pos"))
      .join(broadcast(ranked.select(col("query_id"), col(idCol), col("rank"))),
        Seq("query_id", idCol))
    hit.groupBy(col("query_id"), col(idCol), col("rank"))
      .agg(sort_array(array_distinct(flatten(collect_list(col("pos")))))
        .as("cand"))
      // the argmax encoding below assumes every token position < 10^6 —
      // an oversized doc must fail LOUDLY, not return a silently corrupt
      // window (the guard costs one array_max over candidate offsets the
      // aggregate already materialized)
      .withColumn("cand",
        when(array_max(col("cand")) >= lit(1000000),
          raise_error(concat(
            lit("snippetWindows: token position >= 1e6 in doc "),
            col(idCol).cast("string"),
            lit(" — the hits*1e6-start argmax encoding cannot represent it"))))
          .otherwise(col("cand")))
      .withColumn("best_score", array_max(transform(col("cand"),
        s => size(filter(col("cand"),
            q => q >= s && q < s + lit(window))).cast("long") *
          lit(1000000L) - s.cast("long"))))
      .withColumn("best_hits",
        floor((col("best_score") + lit(999999L)).cast("double") / lit(1e6))
          .cast("long"))
      .withColumn("best_start",
        col("best_hits") * lit(1000000L) - col("best_score"))
      .select(col("query_id"), col("rank"), col(idCol),
        col("best_start"), col("best_hits"))
  }

  /** Pseudo-relevance-feedback query expansion (the RM-style loop every
    * retrieval stack closes with): run [[bm25]], take each query's top
    * `fbDocs` documents as its relevance model, score candidate expansion
    * terms by Σ_d tf(w, d) · bm25_micro(d) — term mass weighted by how
    * relevant its host looked — drop the ORIGINAL query terms, and emit
    * the top `fbTerms` per query. Pure integer weights (tf × micro
    * score), so ranking and the published w_score are engine-exact.
    *
    * Scale shape: the feedback doc-id set (≤ |Q|·fbDocs) broadcasts as a
    * semi-join gate BEFORE the term explode — the corpus contributes only
    * feedback docs to the term-count aggregation; the scoring join and
    * the per-query top-k window run on that bounded frame. */
  def expandQueries(docs: DataFrame, queries: DataFrame, fbDocs: Int = 5,
      fbTerms: Int = 5, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val top = bm25(docs, queries, topK = fbDocs, idCol = idCol,
      textCol = textCol)
      .select(col("query_id"), col(idCol), col("score_micro"))
    val fbIds = top.select(col(idCol)).distinct()
    val dt = docs.join(broadcast(fbIds), Seq(idCol), "left_semi")
      .select(col(idCol),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val w = dt.join(broadcast(top), Seq(idCol))
      .groupBy(col("query_id"), col("term"))
      .agg(sum(col("tf") * col("score_micro")).as("w_score"))
      .join(queries.select(col("query_id"), col("term")),
        Seq("query_id", "term"), "left_anti")
    val rk = Window.partitionBy(col("query_id"))
      .orderBy(col("w_score").desc, col("term"))
    w.withColumn("rank", row_number().over(rk))
      .filter(col("rank") <= fbTerms)
      .select(col("query_id"), col("rank"), col("term"), col("w_score"))
  }

  /** Lexical "more-like-this": doc-to-doc TF-IDF cosine top-k — the
    * related-documents primitive next to query-driven BM25 (and the
    * weighted complement of the set-based n-gram Jaccard dedup: shared
    * RARE terms count for more).
    *
    * Portability discipline: idf = ln((N+1)/(df+1)) + 1 (the [[
    * graft.llm.TextAnalysis.tfidf]] form — a single ln is bit-portable,
    * proven by q_tfidf); every SUMMED quantity micro-floors per term
    * BEFORE its exact integer sum (dot products and squared norms both),
    * so no float fold order is ever trusted; the published similarity is
    * one pinned cast-sqrt-mul-div chain over the integer sums.
    *
    * Scale shape: df rails (`minDf`/`maxDf`) cap posting width exactly
    * like the inverted-index rows, the anchors filter applies BEFORE the
    * term self-join (only anchor postings replicate), and the join keys
    * on the railed term — never all-pairs docs. */
  def moreLikeThis(docs: DataFrame, anchorPred: Column, k: Int = 5,
      minDf: Long = 2, maxDf: Long = 1000,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // N rides the SAME scan that tokenizes (the [[bm25]] observe()
    // discipline): a separate docs.count() was a second full corpus pass
    // at 100 TB — the single most expensive redundant line in a search
    // stack. The eager checkpoint both materializes tf (consumed by df +
    // the three w readers below) and fires the observed metric.
    val obs = org.apache.spark.sql.Observation()
    val toks = docs
      .observe(obs, count(lit(1)).as("n_docs"))
      .select(col(idCol).as("doc_id"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = true)
    val n = obs.get("n_docs").asInstanceOf[Long]
    val df = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf && col("df") <= maxDf)
    val w = tf.join(df, Seq("term"))
      .withColumn("w", col("tf").cast("double") *
        (log(lit(n + 1.0) / (col("df") + lit(1.0))) + lit(1.0)))
      .withColumn("w2m",
        floor(col("w") * col("w") * lit(1e6)).cast("long"))
    val norms = w.groupBy(col("doc_id")).agg(sum(col("w2m")).as("n2"))
    val pairs = w.filter(anchorPred).as("a")
      .join(w.as("b"),
        col("a.term") === col("b.term") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("qid"), col("b.doc_id").as("nid"))
      .agg(sum(floor(col("a.w") * col("b.w") * lit(1e6)).cast("long"))
        .as("smicro"))
    val scored = pairs
      .join(norms.select(col("doc_id").as("qid"), col("n2").as("n2a")),
        Seq("qid"))
      .join(norms.select(col("doc_id").as("nid"), col("n2").as("n2b")),
        Seq("nid"))
      .withColumn("sim", col("smicro").cast("double") /
        (sqrt(col("n2a").cast("double")) * sqrt(col("n2b").cast("double"))))
    val rk = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rank", row_number().over(rk))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid").as("neighbor_id"),
        col("sim"))
      .orderBy(col("qid"), col("rank"))
  }
}
