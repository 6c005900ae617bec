package graft.llm

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expr.DotProduct

/** Similarity search over embedding columns (`array<float>`): brute-force
  * cosine top-k as the exact baseline, and a random-hyperplane-LSH bucketed
  * variant as the scale path.
  *
  * Scale structure:
  *   - brute force broadcasts the (small) query set against the (huge)
  *     corpus — a broadcast nested-loop with a narrow scoring projection and
  *     a per-query top-k window; corpus is never shuffled, only the
  *     (queries × corpus) score stream reduced per partition.
  *   - LSH assigns every vector a bucket from m hyperplane sign bits; the
  *     join is then bucket-equi (shuffle on uniform keys), turning O(Q×N)
  *     into O(Q×N/2^m) expected. Recall is tunable via m / multi-probe.
  *   - norms are computed ONCE per row in a projection before any pairwise
  *     join, so the per-pair cost is a single [[graft.expr.DotProduct]]
  *     (codegen'd primitive loop), not three interpreted HOF folds.
  *
  * ==Query panel, scorer, recall contract==
  * The kNN operators here (and [[GraphAnn]]'s walks) share three pieces:
  *   - the '''query panel''' ([[queryPanel]]): the rows passing `queryPred`
  *     as (qid, qvec, qnorm) plus any columns the caller names;
  *   - the '''scorer''' ([[knnOf]]): the caller pairs corpus rows with the
  *     BROADCAST panel — its only choice is the candidate restriction (the
  *     `qid =!= id` theta join, a bucket or cell equi-join, a label
  *     predicate, a shortlist) — every pair scores [[qcosine]], and each
  *     query keeps its top-k by (score desc, neighbor_id);
  *   - the '''recall contract''': an approximate index is published as
  *     whether it recovers ≥ `recallBound` of the exact [[bruteForceKnn]]
  *     top-k, per query ([[recallContract]]) or over the whole panel
  *     ([[recallPanel]]). The approximate neighbor list is index-specific;
  *     the contract is the cross-engine-stable fact an oracle can predict.
  *     Its truth side is O(|Q|·N) at full precision and exists to VERIFY
  *     an index, not to serve queries: at scale compose [[capQueries]]
  *     into `queryPred` so it runs over a fixed-size panel.
  *
  * All arithmetic is double (floats widened exactly) with sequential
  * left-to-right summation — deterministic across partitionings and
  * bit-identical to the DuckDB `list_reduce` oracles.
  */
object Similarity {

  /** Default cell-size rail for the semantic-dedup family's within-cell
    * ε-join ([[cosinePairsBlocked]]'s `maxCell`): 8× the default
    * [[semanticDedupAuto]] target cell size — the cell-count law pins the
    * EXPECTED cell size, this defends the max. */
  val DefaultSemanticMaxCell = 8192

  /** Sequential-fold dot product (codegen'd custom expression). */
  private def dot(a: Column, b: Column): Column = DotProduct(a, b)

  private def norm(v: Column): Column = sqrt(DotProduct(v, v))

  /** Cosine similarity between two float/double-array columns. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Cosine of the query panel's vector against `v` with norm `vnorm`:
    * dot(qvec, v) / (qnorm · vnorm), the one operation order the DuckDB
    * oracles replicate. */
  private[llm] def qcosine(v: Column, vnorm: Column): Column =
    dot(col("qvec"), v) / (col("qnorm") * vnorm)

  /** The query panel: the `rows` passing `queryPred` as (qid, qvec, qnorm)
    * followed by the caller's `extra` columns. `storedNorm` reuses a norm
    * column `rows` already carries (an index artifact's `vnorm`). */
  private[llm] def queryPanel(rows: DataFrame, queryPred: Column,
      idCol: String, vecCol: String, extra: Seq[Column] = Nil,
      storedNorm: Option[Column] = None): DataFrame =
    rows.filter(queryPred).select(Seq(col(idCol).as("qid"),
      col(vecCol).as("qvec"),
      storedNorm.getOrElse(norm(col(vecCol))).as("qnorm")) ++ extra: _*)

  /** The scorer: `candidates` pairs corpus rows with the broadcast query
    * panel, each pair scores [[qcosine]] of `vecCol`/`normCol`, and each
    * query keeps its top-k: (qid, rank, neighbor_id, score). */
  private def knnOf(queries: DataFrame, k: Int, idCol: String,
      vecCol: String, normCol: String)(
      candidates: DataFrame => DataFrame): DataFrame =
    // the query side is a panel bounded by the caller's queryPred: small
    topK(candidates(broadcast(queries))
      .select(col("qid"), col(idCol).as("neighbor_id"),
        qcosine(col(vecCol), col(normCol)).as("score")), k)

  /** Exact top-k cosine neighbors for the query rows (`queryPred` selects
    * them, e.g. vec_id < 10). Returns (qid, rank, neighbor_id, score). */
  def bruteForceKnn(emb: DataFrame, queryPred: Column, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val corpus = emb.select(col(idCol), col(vecCol), norm(col(vecCol)).as("vnorm"))
    knnOf(queryPanel(emb, queryPred, idCol, vecCol), k, idCol, vecCol,
      "vnorm")(q => corpus.join(q, col("qid") =!= col(idCol)))
  }

  /** Filtered vector search — the production retrieval shape: a metadata
    * predicate gates the CORPUS before scoring (quality / language /
    * source filters), queries stay as given. `allowedIds`'s first column
    * semi-joins the corpus, so survivors shrink FIRST and the broadcast
    * queries scan only them — filter-then-score, never score-then-filter
    * (scoring is the expensive side at 100 TB). Exact scoring here
    * (oracle-able); swap the scoring stage for [[lshKnn]]/[[ivfKnn]] when
    * the filtered corpus is still huge. */
  def filteredKnn(emb: DataFrame, allowedIds: DataFrame, queryPred: Column,
      k: Int, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val corpus = emb
      .join(allowedIds.select(col(allowedIds.columns.head).as(idCol)),
        Seq(idCol), "left_semi")
      .select(col(idCol), col(vecCol), norm(col(vecCol)).as("vnorm"))
    knnOf(queryPanel(emb, queryPred, idCol, vecCol), k, idCol, vecCol,
      "vnorm")(q => corpus.join(q, col("qid") =!= col(idCol)))
  }

  /** Hard-negative mining for contrastive training: per query, the top-k
    * most similar corpus vectors with a DIFFERENT label — close in
    * embedding space but known-non-matching, the negatives that actually
    * teach the margin. The candidate restriction is the label-mismatch
    * theta join, so the corpus still never shuffles; swap the scoring
    * stage for the bucketed variants when the corpus is huge. */
  def hardNegatives(emb: DataFrame, queryPred: Column, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val corpus = emb.select(col(idCol), col(vecCol), col(labelCol),
      norm(col(vecCol)).as("vnorm"))
    knnOf(queryPanel(emb, queryPred, idCol, vecCol,
        Seq(col(labelCol).as("qlabel"))), k, idCol, vecCol, "vnorm")(q =>
      corpus.join(q, col("qlabel") =!= col(labelCol)))
  }

  /** Contrastive training triplets: per anchor, the nearest SAME-label
    * vector (the positive — closest in-class exemplar) and the `kNeg`
    * nearest DIFFERENT-label vectors ([[hardNegatives]] — close in
    * embedding space but known-non-matching). One row per (anchor,
    * negative) with the positive repeated — exactly the
    * (anchor, positive, negative) stream a triplet/InfoNCE loader
    * consumes. Both label-restricted scans score against the query panel,
    * so the corpus never shuffles. Anchors with no same-label peer drop
    * (no positive exists). */
  def contrastiveTriplets(emb: DataFrame, queryPred: Column, kNeg: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val corpus = emb.select(col(idCol), col(vecCol), col(labelCol),
      norm(col(vecCol)).as("vnorm"))
    val positives = knnOf(queryPanel(emb, queryPred, idCol, vecCol,
        Seq(col(labelCol).as("qlabel"))), 1, idCol, vecCol, "vnorm")(q =>
        corpus.join(q,
          col("qlabel") === col(labelCol) && col("qid") =!= col(idCol)))
      .select(col("qid"), col("neighbor_id").as("pos_id"),
        col("score").as("pos_score"))
    val negatives = hardNegatives(emb, queryPred, kNeg, idCol, vecCol,
        labelCol)
      .select(col("qid"), col("rank").as("neg_rank"),
        col("neighbor_id").as("neg_id"), col("score").as("neg_score"))
    positives.join(negatives, Seq("qid"))
      .select(col("qid"), col("pos_id"), col("pos_score"),
        col("neg_rank"), col("neg_id"), col("neg_score"))
      .orderBy(col("qid"), col("neg_rank"))
  }

  /** Triplet-margin report over [[contrastiveTriplets]] output: per
    * anchor, does the positive outscore EVERY hard negative, and by what
    * margin (pos − max neg, micro-floored for the portable publish)?
    * The one-row health gauge of a contrastive dataset: a low
    * satisfied-share means the label space and the embedding space
    * disagree and training on these triplets will fight the encoder. */
  def tripletReport(triplets: DataFrame): DataFrame = {
    val per = triplets.groupBy(col("qid"))
      .agg(first(col("pos_score")).as("ps"),
        max(col("neg_score")).as("mn"))
      .select(col("qid"),
        (col("ps") > col("mn")).as("ok"),
        floor((col("ps") - col("mn")) * lit(1e6)).cast("long")
          .as("margin_micro"))
    per.agg(count(lit(1)).as("n_anchors"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_satisfied"),
        sum(col("margin_micro")).as("margin_micro_sum"))
      .withColumn("satisfied_share",
        col("n_satisfied").cast("double") / col("n_anchors").cast("double"))
  }

  /** MMR diversity re-rank (Carbonell & Goldstein 1998, "The Use of MMR
    * ..."): greedily pick k of the top-m candidates maximizing
    * 0.5·relevance − 0.5·max-similarity-to-already-picked — the
    * redundancy-aware retrieval step (RAG context assembly, dedup-aware
    * eval panels). λ is FIXED at 0.5: a power of two, so the score is an
    * exact halving of bit-identical cosines — engine-portable
    * comparisons without a quantization grid.
    *
    * Scale shape: the expensive part is the candidate shortlist (the
    * [[bruteForceKnn]] broadcast scan — swap in the LSH/IVF stages for a
    * huge corpus); the greedy fold then runs SCAN-SIDE per query over
    * the collected m-candidate array (bounded: m × dim doubles per
    * row), each step a filter + transform + array_sort pick. Steps
    * materialize as separate projection columns, so step t references
    * step t−1's COLUMN, not a copy of its expression tree. Ties break
    * on neighbor id; output (qid, mmr_rank, neighbor_id). */
  def mmrRerank(emb: DataFrame, queryPred: Column, k: Int = 5, m: Int = 20,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && m >= k, s"need 1 <= k <= m, got k=$k m=$m")
    // the panel broadcasts as in knnOf (small: bounded by queryPred); not
    // knnOf itself, because each candidate keeps its vector for the picks
    val scored = emb.select(col(idCol), col(vecCol),
        norm(col(vecCol)).as("vnorm"))
      .join(broadcast(queryPanel(emb, queryPred, idCol, vecCol)),
        col("qid") =!= col(idCol))
      .select(col("qid"), col(idCol).as("nid"), col(vecCol).as("nvec"),
        col("vnorm").as("nn"), qcosine(col(vecCol), col("vnorm")).as("rel"))
    val w = Window.partitionBy(col("qid")).orderBy(col("rel").desc, col("nid"))
    val cands = scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= m)
      .groupBy(col("qid"))
      .agg(sort_array(collect_list(struct(col("rnk").as("rnk"),
        col("nid").as("nid"), col("rel").as("rel"), col("nvec").as("vec"),
        col("nn").as("nn")))).as("cands"))
    // one greedy pick: among candidates not yet selected, minimize
    // key = 0.5·maxsim − 0.5·rel (ties on nid) — the NEGATED MMR score
    def pick(sel: Seq[Column]): Column = {
      def maxSim(c: Column): Column =
        if (sel.isEmpty) lit(0.0)
        else array_max(array(sel.map(s =>
          dot(c.getField("vec"), s.getField("vec")) /
            (c.getField("nn") * s.getField("nn"))): _*))
      // first pick filters nothing — avoids manufacturing an empty array
      // whose element type would have to be guessed from the id column
      val avail =
        if (sel.isEmpty) col("cands")
        else {
          val selIds = array(sel.map(_.getField("nid")): _*)
          filter(col("cands"), c => !array_contains(selIds, c.getField("nid")))
        }
      element_at(array_sort(transform(avail, c => struct(
        (lit(0.5) * maxSim(c) - lit(0.5) * c.getField("rel")).as("key"),
        c.getField("nid").as("nid"), c.as("c")))), 1).getField("c")
    }
    val stepped = (1 to k).foldLeft(cands) { (df, t) =>
      df.withColumn(s"s$t", pick((1 until t).map(i => col(s"s$i"))))
    }
    stepped.select(col("qid"),
        posexplode(array((1 to k).map(i =>
          col(s"s$i").getField("nid")): _*)).as(Seq("pos", "neighbor_id")))
      .select(col("qid"), (col("pos") + 1).cast("long").as("mmr_rank"),
        col("neighbor_id"))
      .orderBy(col("qid"), col("mmr_rank"))
  }

  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("neighbor_id"), col("score"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Deterministic random hyperplanes (fixed seed) as literal arrays. */
  private def hyperplanes(m: Int, dim: Int, seed: Long): Seq[Array[Double]] = {
    val rnd = new Random(seed)
    Seq.fill(m)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** LSH bucket id from m hyperplane sign bits. Fails fast on a dimension
    * mismatch: `vec_dot` yields NULL for unequal lengths, and without the
    * guard `when(NULL >= 0)` would silently map EVERY vector to bucket 0 —
    * a full quadratic join wearing an LSH costume. */
  def lshBucket(vec: Column, m: Int, dim: Int, seed: Long = 42L): Column = {
    val planes = hyperplanes(m, dim, seed)
    val bucket = planes.zipWithIndex.map { case (p, i) =>
      val pl = array(p.map(lit(_)): _*)
      when(dot(vec, pl) >= 0, shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))
    // assert_true returns NULL when the predicate holds, throws otherwise
    when(assert_true(size(vec) === dim,
      lit(s"lshBucket: embedding length does not match dim=$dim")).isNull, bucket)
  }

  /** Approximate top-k: candidates restricted to the query's LSH bucket,
    * then exact cosine + per-query top-k. `m` sign bits ⇒ ~N/2^m candidates
    * per query. Queries whose bucket has < k neighbors return fewer rows.
    *
    * `probes` > 0 enables multi-probe: each query additionally searches the
    * buckets at Hamming distance 1 in its first `probes` sign bits — the
    * standard recall lever at scale (a near neighbor that falls on the
    * other side of ONE hyperplane is found without halving m). Candidate
    * cost grows linearly in probes (×(1+probes) query rows, still
    * broadcast); a corpus vector lives in exactly one bucket, so no
    * (query, neighbor) pair can duplicate. */
  def lshKnn(emb: DataFrame, queryPred: Column, k: Int, m: Int = 8,
      dim: Int = 64, probes: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val bucketed = emb
      .select(col(idCol), col(vecCol), norm(col(vecCol)).as("vnorm"),
        lshBucket(col(vecCol), m, dim).as("bucket"))
    val queries0 = queryPanel(bucketed, queryPred, idCol, vecCol,
      Seq(col("bucket")), Some(col("vnorm")))
    val queries =
      if (probes <= 0) queries0
      else queries0.withColumn("bucket", explode(array(
        col("bucket") +: (0 until math.min(probes, m)).map(i =>
          col("bucket").bitwiseXOR(lit(1L << i))): _*)))
    knnOf(queries, k, idCol, vecCol, "vnorm")(q =>
      bucketed.join(q, Seq("bucket")).filter(col("qid") =!= col(idCol)))
  }

  /** Exact embedding near-dup pairs within a blocking key (e.g. a cluster
    * label or coarse quantizer cell): the quadratic term is bounded by the
    * largest block, not the corpus — the IVF-style scale path when a
    * partitioner/label already exists. id_a < id_b, cosine >= threshold.
    *
    * ==Cell-size rail (`maxCell` > 0)==
    * The within-block self-join trusts the blocker to keep blocks small;
    * real dedup corpora are exactly where that fails — one mega-cell of
    * near-identical template/boilerplate vectors turns the join quadratic
    * (the skew [[Dedup]]'s LSH path caps with `maxBucket`). With the rail
    * on, blocks over `maxCell` rows take a two-step defense:
    *
    *  1. '''identity contraction''' (exact): rows with BIT-IDENTICAL
    *     vectors — the dominant mega-cell population, template spam —
    *     collapse to their min-id representative. The emitted pair set
    *     for the block becomes a star per identity group plus the
    *     triangular join over DISTINCT vectors only. That is a
    *     connectivity-preserving subset of the full clique with the SAME
    *     scores on every surviving edge, so [[Dedup.clusters]] components
    *     — and therefore [[semanticDedupFromAssign]]'s entire output —
    *     are IDENTICAL to the unrailed form (a member pair (a,b) exists
    *     iff the rep pair does, at the same score; stars keep every
    *     member reachable). Only the raw pair LIST shrinks.
    *  2. '''rep cap''' (surfaced drop): a block whose DISTINCT vectors
    *     still exceed `maxCell` is genuinely diverse-yet-unsplittable at
    *     this codebook; its rep join is dropped whole (stars survive, so
    *     exact duplicates still dedup) and the drop rides the plan as a
    *     `cell_cap_*` observe() metric with a warn-log listener — the
    *     [[Dedup]] `maxBucket` contract: surfaced, never silent, free
    *     when nothing drops.
    *
    * Cost: one count window on the join's own block key per side-split
    * plus one (blk, vector) window over ONLY the oversized rows — no
    * extra pass over well-blocked data. `maxCell` = 0 (default) disables
    * the rail and preserves the exact all-pairs contract everywhere. */
  def cosinePairsBlocked(emb: DataFrame, blockCol: String, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxCell: Int = 0): DataFrame = {
    val b = emb.select(col(blockCol).as("blk"), col(idCol).as("id"),
      col(vecCol).as("v"), norm(col(vecCol)).as("n"))
    def tri(rows: DataFrame): DataFrame =
      rows.as("a").join(rows.as("b"),
          col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
        .withColumn("score", dot(col("a.v"), col("b.v")) / (col("a.n") * col("b.n")))
        .filter(col("score") >= threshold)
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("score"))
    if (maxCell <= 0 || maxCell == Int.MaxValue) return tri(b)
    Dedup.ensureCapListener(emb.sparkSession)
    import org.apache.spark.sql.expressions.Window
    val counted = b.withColumn("n_cell",
      count(lit(1)).over(Window.partitionBy(col("blk"))))
      .localCheckpoint(eager = false) // small/big splits share the window
    val small = counted.filter(col("n_cell") <= maxCell).drop("n_cell")
    val big = counted.filter(col("n_cell") > maxCell).drop("n_cell")
    // identity contraction over the oversized rows only: min-id rep per
    // bit-identical vector within the block (complex-typed window keys
    // hash fine); stars carry the self-cosine so thresholds behave
    // exactly like the full clique's identical-vector pairs
    val withRep = big.withColumn("rep",
      min(col("id")).over(Window.partitionBy(col("blk"), col("v"))))
    val stars = withRep.filter(col("id") =!= col("rep"))
      .withColumn("score", dot(col("v"), col("v")) / (col("n") * col("n")))
      .filter(col("score") >= threshold)
      .select(col("rep").as("id_a"), col("id").as("id_b"), col("score"))
    val reps = withRep.filter(col("id") === col("rep")).drop("rep")
      .withColumn("n_reps",
        count(lit(1)).over(Window.partitionBy(col("blk"))))
    val railed = reps
      .observe(s"cell_cap_${Dedup.capSeq.incrementAndGet()}",
        sum(when(col("n_reps") > maxCell, 1L).otherwise(0L)).as("dropped_rows"),
        max(col("n_reps")).as("max_cell_seen"))
      .filter(col("n_reps") <= maxCell).drop("n_reps")
    tri(small.unionByName(railed)).unionByName(stars)
  }

  /** Driver-local Lloyd's over a bounded sample: argmin squared-L2
    * assignment (ties → lowest cell id), mean update, empty cells keep
    * their previous center, early exit when centers stop moving. Init is
    * the first k DISTINCT sample vectors (the sample arrives hash-ordered,
    * so this is a seeded random pick); fewer distinct vectors than k just
    * yields fewer cells. Sequential fold over a pinned order ⇒ bit-exact
    * reproducible across runs and cluster layouts. */
  private[llm] def localLloyd(sample: Array[Array[Double]], k: Int,
      maxIter: Int): Array[Array[Double]] = {
    require(sample.nonEmpty, "ivf quantizer: empty training sample")
    val dim = sample.head.length
    val init = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val seen = scala.collection.mutable.HashSet.empty[Seq[Double]]
    var i = 0
    while (i < sample.length && init.length < k) {
      val v = sample(i)
      if (v.length == dim && seen.add(v.toSeq)) init += v.clone()
      i += 1
    }
    var centers = init.toArray
    val m = centers.length
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      val sums = Array.fill(m)(new Array[Double](dim))
      val counts = new Array[Long](m)
      for (v <- sample if v.length == dim) {
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < m) {
          var d = 0.0; var j = 0
          while (j < dim) { val t = v(j) - centers(c)(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        val s = sums(best); var j = 0
        while (j < dim) { s(j) += v(j); j += 1 }
      }
      moved = false
      val next = Array.tabulate(m) { c =>
        if (counts(c) == 0) centers(c)
        else {
          val nc = sums(c).map(_ / counts(c))
          if (!java.util.Arrays.equals(nc, centers(c))) moved = true
          nc
        }
      }
      centers = next
      iter += 1
    }
    centers
  }

  /** IVF (inverted-file) top-k: a k-means coarse quantizer splits the
    * corpus into `nCells` cells; each query probes only its `nprobe`
    * nearest cells, then scores exactly. The standard ANN scale path when
    * recall needs to be tunable independently of a hash family:
    * candidates/query ≈ nprobe·N/nCells, recall → 1 as nprobe → nCells.
    *
    * Scale structure: the quantizer trains ONCE on a BOUNDED sample
    * (`trainSampleRows`, the FAISS recipe — IVF centroids never need the
    * full corpus), producing tiny model state (nCells × dim doubles).
    * The sample is drawn as the top rows by a seeded hash of the id — a
    * per-partition top-k heap + driver merge (TakeOrdered), one scan, no
    * shuffle — and Lloyd's runs ON THE DRIVER over that array: at most
    * sample × nCells × dim × maxIter flops, no per-iteration Spark jobs.
    * (MLlib KMeans cost ~25 scheduled jobs — kmeans|| init plus one per
    * Lloyd iteration — which dominated the whole query's wall clock at
    * every scale; the model it produced is 4 KB.) Cell assignment is a
    * scan-side projection; the probe join is an equi-join on cell id
    * (shuffle on a small uniform key), queries broadcast; ranking/scoring
    * stay in codegen'd Column space. Deterministic end-to-end: hash-order
    * sample, sequential driver fold, id-ordered tie-breaks. */
  def ivfKnn(emb: DataFrame, queryPred: Column, k: Int, nCells: Int = 16,
      nprobe: Int = 2, seed: Long = 42L, maxIter: Int = 10,
      trainSampleRows: Int = 65536,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centers = ivfCenters(emb, nCells, seed, maxIter, trainSampleRows,
      idCol, vecCol)
    ivfKnnFromIndex(ivfAssignments(emb, centers, idCol, vecCol), centers,
      queryPred, k, nprobe, idCol, vecCol)
  }

  /** The IVF codebook as a persistable artifact: (cell, center) from the
    * bounded hash-ordered training sample + driver Lloyd — in production
    * this tiny (nCells × dim) table is written next to [[ivfAssignments]]
    * and reused by every probe. Deterministic: hash-order sample,
    * sequential driver fold. */
  def ivfCenters(emb: DataFrame, nCells: Int = 16, seed: Long = 42L,
      maxIter: Int = 10, trainSampleRows: Int = 65536,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centers = trainCenters(emb, nCells, seed, maxIter, trainSampleRows,
      idCol, vecCol)
    val s = emb.sparkSession
    import s.implicits._
    centers.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "center")
  }

  /** [[ivfCenters]]' trainer: driver [[localLloyd]] over the first
    * `trainSampleRows` rows by a seeded hash of the id. */
  private def trainCenters(emb: DataFrame, nCells: Int, seed: Long,
      maxIter: Int, trainSampleRows: Int, idCol: String,
      vecCol: String): Array[Array[Double]] = {
    val sample = emb
      .select(col(vecCol).cast("array<double>").as("v"))
      .orderBy(xxhash64(col(idCol), lit(seed)), col(idCol))
      .limit(trainSampleRows)
      .collect().map(_.getSeq[Double](0).toArray)
    localLloyd(sample, nCells, maxIter)
  }

  /** (cell, nCells-ordered centers) collected off the codebook frame —
    * bounded driver state (nCells × dim doubles), the literal-inlining
    * bridge both the assignment and the probe use. */
  private def collectCenters(centersDf: DataFrame): Array[Array[Double]] =
    centersDf.orderBy(col("cell")).select(col("center"))
      .collect().map(_.getSeq[Double](0).toArray)

  /** Cell ranking in Column space: ||c||² − 2·v·c (squared L2 minus the
    * row's own constant norm), centers inlined as literal arrays — the
    * scan-side projection stays in codegen, and ties break on cell id
    * exactly as Lloyd's argmin does. */
  private def cellRankExpr(centers: Array[Array[Double]],
      vecCol: String): Column =
    array(centers.zipWithIndex.map { case (c, i) =>
      val ca = array(c.map(lit(_)).toIndexedSeq: _*)
      val c2 = c.map(x => x * x).sum
      struct((lit(c2) - dot(col(vecCol), ca) * 2.0).as("d"), lit(i).as("cell"))
    }.toIndexedSeq: _*)

  /** The argmin cell of the vector column. */
  private def nearestCell(centers: Array[Array[Double]],
      vecCol: String): Column =
    array_sort(cellRankExpr(centers, vecCol)).getItem(0).getField("cell")

  /** The query panel routed to its `nprobe` nearest cells: one
    * (qid, qvec, qnorm, cell) row per probed cell. */
  private def probePanel(rows: DataFrame, queryPred: Column,
      centers: Array[Array[Double]], nprobe: Int, idCol: String,
      vecCol: String, storedNorm: Option[Column]): DataFrame =
    queryPanel(rows, queryPred, idCol, vecCol,
        Seq(explode(slice(array_sort(cellRankExpr(centers, vecCol)), 1,
          math.min(nprobe, centers.length))).as("probe")), storedNorm)
      .select(col("qid"), col("qvec"), col("qnorm"), col("probe.cell").as("cell"))

  /** The IVF index as a persistable artifact: every corpus vector with
    * its argmin cell and norm, (id, vec, cell, vnorm) — in production
    * written partitioned by cell so a probe scans only its nprobe
    * cells. */
  def ivfAssignments(emb: DataFrame, centersDf: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    emb.select(col(idCol), col(vecCol),
      nearestCell(collectCenters(centersDf), vecCol).as("cell"),
      norm(col(vecCol)).as("vnorm"))

  /** Probe-only IVF kNN over prebuilt [[ivfAssignments]] +
    * [[ivfCenters]] artifacts — the steady-state serving form: zero
    * training, zero corpus assignment at query time; queries route
    * through the collected codebook and equi-join their nprobe cells.
    * Bit-identical to [[ivfKnn]] run inline (same literals, same
    * tie-breaks). */
  def ivfKnnFromIndex(index: DataFrame, centersDf: DataFrame,
      queryPred: Column, k: Int, nprobe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    knnOf(probePanel(index, queryPred, collectCenters(centersDf), nprobe,
        idCol, vecCol, Some(col("vnorm"))), k, idCol, vecCol, "vnorm")(q =>
      index.join(q, Seq("cell")).filter(col("qid") =!= col(idCol)))

  /** Per-query recall contract: whether |approx ∩ exact| / |exact| ≥
    * `bound`, per qid, against the exact [[bruteForceKnn]] top-k of the
    * same queries. Queries the approximate index missed entirely score
    * recall 0 (left join + coalesce), never silently vanish. */
  private def recallContract(approxTop: DataFrame, emb: DataFrame,
      queryPred: Column, k: Int, bound: Double, idCol: String,
      vecCol: String): DataFrame = {
    val exactTop = bruteForceKnn(emb, queryPred, k, idCol, vecCol)
      .select(col("qid"), col("neighbor_id"))
    val hits = approxTop.select(col("qid"), col("neighbor_id"))
      .join(exactTop, Seq("qid", "neighbor_id"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
    exactTop.groupBy(col("qid")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"),
        (coalesce(col("n_hits"), lit(0L)).cast("double")
          / col("n_exact").cast("double") >= bound).as("recall_ok"))
      .orderBy(col("qid"))
  }

  /** Panel recall contract: ONE row (n_queries, recall_ok) where
    * recall_ok ⇔ Σ hits / Σ exact ≥ `recallBound` (ANN-benchmarks-style
    * recall@k) over (qid, neighbor_id) frames. */
  private[llm] def recallPanel(approxTop: DataFrame, exactTop: DataFrame,
      recallBound: Double): DataFrame = {
    val exact = exactTop.select(col("qid"), col("neighbor_id"))
    val hits = approxTop.select(col("qid"), col("neighbor_id"))
      .join(exact, Seq("qid", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
    exact
      .agg(count_distinct(col("qid")).as("n_queries"), count(lit(1)).as("n_exact"))
      .crossJoin(hits) // 1×1
      .select(col("n_queries"),
        (col("n_hits").cast("double") / col("n_exact").cast("double")
          >= recallBound).as("recall_ok"))
  }

  /** Deterministic cap on a recall contract's query panel: `queryPred`
    * narrowed to the `maxQ` matching rows with the smallest seeded hash
    * (seed 42) of their `vec_id` — the same digest-sample discipline as
    * [[Sampling]], reproducible across runs and partitionings. Compose
    * the result into any recall function's `queryPred` (here or in
    * [[GraphAnn]]) when the predicate alone is not a bounded panel. maxQ
    * ≤ 0 = uncapped. The collect is bounded by maxQ. */
  def capQueries(emb: DataFrame, queryPred: Column, maxQ: Int): Column =
    if (maxQ <= 0) queryPred
    else {
      val ids = emb.filter(queryPred).select(col("vec_id"))
        .orderBy(xxhash64(col("vec_id"), lit(42L)), col("vec_id"))
        .limit(maxQ).collect().map(_.get(0))
      queryPred && col("vec_id").isin(ids: _*)
    }

  /** [[lshKnn]] published as its per-query recall contract. */
  def lshKnnRecall(emb: DataFrame, queryPred: Column, k: Int, m: Int = 8,
      dim: Int = 64, probes: Int = 0, recallBound: Double = 0.6,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    recallContract(lshKnn(emb, queryPred, k, m, dim, probes, idCol, vecCol),
      emb, queryPred, k, recallBound, idCol, vecCol)

  /** [[lshKnn]] published as its panel recall contract. Panel rather than
    * per-query ([[lshKnnRecall]]) because per-query recall on a
    * hyperplane-LSH index is bimodal by construction: a query whose true
    * neighbors sit just across one more hyperplane has recall ~0 no matter
    * the parameters (data geometry, not tunable), while panel recall is a
    * stable, publishable statistic of the index. PQ can promise per-query
    * ([[pqKnnRecall]]) because quantization error is zero-mean per
    * dimension and rank-preserving in aggregate per query. */
  def lshKnnRecallPanel(emb: DataFrame, queryPred: Column, k: Int,
      m: Int = 4, dim: Int = 64, probes: Int = 4, recallBound: Double = 0.25,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    recallPanel(lshKnn(emb, queryPred, k, m, dim, probes, idCol, vecCol),
      bruteForceKnn(emb, queryPred, k, idCol, vecCol), recallBound)

  /** PQ-compressed kNN published as its per-query recall contract: the
    * top-k ranked against PQ RECONSTRUCTIONS — the same publishing
    * pattern as the HLL and approx-percentile queries. */
  def pqKnnRecall(emb: DataFrame, queryPred: Column, k: Int, m: Int = 8,
      kCodes: Int = 16, recallBound: Double = 0.6,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cbs = Quantize.pqTrain(emb, m, kCodes, idCol = idCol, vecCol = vecCol)
    val approx = Quantize.pqEncode(emb, cbs, idCol, vecCol)
      .withColumn("avec", Quantize.pqDecode(col("codes"), cbs))
      .select(col(idCol), col("avec"), norm(col("avec")).as("anorm"))
    recallContract(knnOf(queryPanel(emb, queryPred, idCol, vecCol), k,
        idCol, "avec", "anorm")(q => approx.join(q, col("qid") =!= col(idCol))),
      emb, queryPred, k, recallBound, idCol, vecCol)
  }

  /** Scalar-int8 kNN recall contract: top-k ranked against DEQUANTIZED
    * int8 reconstructions ([[Quantize.scalarQuantize]] → bucket midpoints)
    * vs the exact top-k, per query — the serving path that reads 1
    * byte/dim + 2 doubles of scale metadata instead of 4-byte floats (≈4×
    * smaller index, the first compression lever before PQ). 255-level
    * min/max codes preserve cosine ranking almost perfectly, so unlike
    * hyperplane LSH the per-query contract is stable. */
  def int8KnnRecall(emb: DataFrame, queryPred: Column, k: Int,
      recallBound: Double = 0.8,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val approx = Quantize.dequantize(Quantize.scalarQuantize(emb, idCol, vecCol))
      .select(col(idCol), col("approx").as("avec"))
      .withColumn("anorm", norm(col("avec")))
    recallContract(knnOf(queryPanel(emb, queryPred, idCol, vecCol), k,
        idCol, "avec", "anorm")(q => approx.join(q, col("qid") =!= col(idCol))),
      emb, queryPred, k, recallBound, idCol, vecCol)
  }

  /** IVF + PQ composed — the standard billion-scale ANN layout: the coarse
    * quantizer ([[ivfCenters]]' trainer, seed 42, 10 Lloyd rounds) prunes
    * the corpus to `nprobe` cells (candidate count ÷ nCells/nprobe), PQ
    * codes stand in for the vectors inside those cells (bytes ÷
    * ~dim·4/m). Published as the same per-query recall contract as
    * [[pqKnnRecall]]; with full probe the only recall loss is PQ
    * reconstruction, so the two contracts coincide there. */
  def ivfPqKnnRecall(emb: DataFrame, queryPred: Column, k: Int,
      nCells: Int = 4, nprobe: Int = 4, m: Int = 32, kCodes: Int = 256,
      recallBound: Double = 0.6,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centers = trainCenters(emb, nCells, 42L, 10, 65536, idCol, vecCol)
    val cbs = Quantize.pqTrain(emb, m, kCodes, idCol = idCol, vecCol = vecCol)
    val corpus = emb.select(col(idCol),
        nearestCell(centers, vecCol).as("cell"),
        graft.expr.PqEncode(col(vecCol), cbs).as("codes"))
      .withColumn("avec", Quantize.pqDecode(col("codes"), cbs))
      .select(col(idCol), col("cell"), col("avec"), norm(col("avec")).as("anorm"))
    recallContract(knnOf(probePanel(emb, queryPred, centers, nprobe, idCol,
        vecCol, None), k, idCol, "avec", "anorm")(q =>
        corpus.join(q, Seq("cell")).filter(col("qid") =!= col(idCol))),
      emb, queryPred, k, recallBound, idCol, vecCol)
  }

  /** Embedding near-duplicate pairs: cosine >= threshold among bucket-mates
    * (LSH-blocked, so no O(n²)). id_a < id_b. */
  def cosineNearDups(emb: DataFrame, threshold: Double = 0.95, m: Int = 8,
      dim: Int = 64, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val b = emb.select(lshBucket(col(vecCol), m, dim).as("bucket"),
      col(idCol).as("id"), col(vecCol).as("v"), norm(col(vecCol)).as("n"))
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .withColumn("score", dot(col("a.v"), col("b.v")) / (col("a.n") * col("b.n")))
      .filter(col("score") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("score"))
  }

  /** Per-near-dup-cluster centroid: mean-pooled embedding for every
    * multi-member cluster in a pair graph (from [[cosinePairsBlocked]] /
    * [[cosineNearDups]] or any of [[Dedup]]'s pair generators) — the
    * representative vector that replaces a cluster after dedup, or seeds a
    * semantic index over the deduplicated corpus.
    *
    * Portability discipline: elements are quantized to exact micro-unit
    * longs scan-side (floor(x·1e6): one IEEE multiply on the float's exact
    * double value, deterministic), summed exactly, and divided once —
    * centroids are bit-identical across engines and partitionings, at the
    * cost of a ≤ 5e-7 per-element quantization bias (9 orders below any
    * cosine use of the result). Float-sum order sensitivity never enters.
    *
    * Plan shape at 100 TB: [[Dedup.clusters]] labels only PAIR members (a
    * sliver of the corpus); the explode fans each member vector to `dim`
    * rows that partially aggregate map-side on (cluster, dim) — the only
    * shuffle moves `clusters × dim` partial sums, never raw vectors.
    * Returns (cluster_id, n_members, dim, c) long form — assemble with
    * [[centroidVectors]] when an array column is wanted. */
  def clusterCentroids(emb: DataFrame, pairs: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    centroidsFromSums(
      clusterCentroidSums(emb, Dedup.clusters(pairs), idCol, vecCol))

  /** The PRE-DIVISION centroid state — (cluster_id, dim, n_members,
    * s_micro) for a given (doc_id, cluster_id) labeling. This is the form
    * to PERSIST: micro-unit integer sums are exactly mergeable (add
    * counts, add sums, re-divide), which is what makes
    * [[clusterCentroidsIncremental]] possible without touching untouched
    * clusters' members. */
  def clusterCentroidSums(emb: DataFrame, labels: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val lbl = labels.select(col("doc_id").as("__mid"), col("cluster_id"))
    emb.join(lbl, col(idCol) === col("__mid"))
      .select(col("cluster_id"),
        posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy(col("cluster_id"), col("dim"))
      .agg(
        count(lit(1)).as("n_members"),
        sum(floor(col("x").cast("double") * 1e6)).as("s_micro"))
  }

  /** Sums → published centroids: ONE division per (cluster, dim), the
    * same expression on every path (inline, incremental, oracle). */
  def centroidsFromSums(sums: DataFrame): DataFrame =
    sums.select(col("cluster_id"), col("n_members"), col("dim"),
      (col("s_micro").cast("double") /
        (col("n_members").cast("double") * 1e6)).as("c"))

  /** Incremental centroid maintenance — fold a batch into persisted
    * centroid state without recomputing untouched clusters: the
    * steady-state companion to [[graft.llm.Dedup.clustersIncremental]]
    * (whose `newPairs` input is shared verbatim here).
    *
    * Inputs are the persisted artifacts: `oldLabels` (doc_id, cluster_id)
    * and `oldSums` ([[clusterCentroidSums]] of the old corpus). Steps:
    *   1. relabel via [[Dedup.clustersIncremental]] — O(touched + batch);
    *   2. remap old sums onto the new labels: components only MERGE under
    *      added edges, so each old cluster maps wholly into one new
    *      cluster — the remap is a (label, label) equi-join + a tiny
    *      aggregation over CHANGED clusters only, no vectors involved;
    *   3. compute vector sums for FRESH members only (batch docs plus
    *      corpus docs entering their first pair — the only rows whose
    *      embeddings are read: the posexplode never sees an old member);
    *   4. merge: sums and counts add exactly (micro-unit integers),
    *      divide once.
    *
    * Output is indistinguishable from a full [[clusterCentroids]] over
    * (old ∪ new) pairs — spec- and oracle-pinned. */
  def clusterCentroidsIncremental(emb: DataFrame, oldLabels: DataFrame,
      oldSums: DataFrame, newPairs: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    centroidsFromSums(
      clusterCentroidSumsIncremental(emb, oldLabels, oldSums, newPairs,
        idCol, vecCol)._2)

  /** The state-maintenance form of [[clusterCentroidsIncremental]]:
    * returns BOTH updated persisted artifacts — (newLabels, newSums) —
    * so a maintained pipeline (e.g.
    * [[graft.streaming.StreamingCentroids]]) can persist the
    * pre-division sums and labels instead of re-deriving them. Identical
    * fold; the published form is one [[centroidsFromSums]] away. */
  def clusterCentroidSumsIncremental(emb: DataFrame, oldLabels: DataFrame,
      oldSums: DataFrame, newPairs: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): (DataFrame, DataFrame) = {
    val newLabels = Dedup.clustersIncremental(oldLabels, newPairs)
      .localCheckpoint(eager = false) // consumed twice: remap + fresh anti-join
    val remapChanged = oldLabels
      .select(col("doc_id"), col("cluster_id").as("__ocid"))
      .join(newLabels, Seq("doc_id"))
      .filter(col("__ocid") =!= col("cluster_id"))
      .groupBy(col("__ocid"))
      .agg(min(col("cluster_id")).as("__ncid")) // all members agree; min = the value
    val carried = oldSums
      .withColumnRenamed("cluster_id", "__ocid")
      .join(remapChanged, Seq("__ocid"), "left")
      .select(coalesce(col("__ncid"), col("__ocid")).as("cluster_id"),
        col("dim"), col("n_members"), col("s_micro"))
    val freshLabels = newLabels
      .join(oldLabels.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val fresh = clusterCentroidSums(emb, freshLabels, idCol, vecCol)
    (newLabels,
      carried.unionByName(fresh)
        .groupBy(col("cluster_id"), col("dim"))
        .agg(sum(col("n_members")).as("n_members"),
          sum(col("s_micro")).as("s_micro")))
  }

  /** DELETION-aware centroid maintenance — the right-to-erasure companion
    * to [[clusterCentroidsIncremental]]: purge a set of ids from the
    * persisted (labels, sums) centroid state, given the persisted pair
    * artifact. Deletions can SPLIT components ([[graft.llm.Dedup.clustersDelete]]),
    * and a split divides a cluster's members between new labels — which a
    * sum subtraction cannot apportion — so TOUCHED components recompute
    * their sums from member embeddings (a sliver: only components
    * containing a deleted doc), while the untouched bulk carries its
    * persisted sums through one anti join, vectors unread.
    *
    * Output ≡ a full [[clusterCentroids]] over pairs(corpus ∖ deleted)
    * — shares that recompute's oracle verbatim. */
  def clusterCentroidsDelete(emb: DataFrame, oldLabels: DataFrame,
      oldSums: DataFrame, pairs: DataFrame, deletedIds: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    centroidsFromSums(
      clusterCentroidSumsDelete(emb, oldLabels, oldSums, pairs, deletedIds,
        idCol, vecCol)._2)

  /** The state-maintenance form of [[clusterCentroidsDelete]]: returns
    * BOTH updated persisted artifacts — (newLabels, newSums). */
  def clusterCentroidSumsDelete(emb: DataFrame, oldLabels: DataFrame,
      oldSums: DataFrame, pairs: DataFrame, deletedIds: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): (DataFrame, DataFrame) = {
    val del = deletedIds
      .select(col(deletedIds.columns.head).as("__did")).distinct()
    val touched = oldLabels
      .join(del, col("doc_id") === col("__did"), "left_semi")
      .select(col("cluster_id")).distinct()
      .localCheckpoint(eager = false) // anti (carried) + semi (stitched)
    val newLabels = Dedup.clustersDelete(oldLabels, pairs, deletedIds)
      .localCheckpoint(eager = false) // stitched semi + caller persist
    // members of touched components that survived and still sit in a pair
    val stitched = newLabels.join(
      oldLabels.join(touched, Seq("cluster_id"), "left_semi")
        .select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    val carried = oldSums.join(touched, Seq("cluster_id"), "left_anti")
    // label sets are disjoint (labels are member ids; components are
    // disjoint), so no merge aggregation is needed — plain union
    (newLabels,
      carried.unionByName(clusterCentroidSums(emb, stitched, idCol, vecCol)))
  }

  /** Blocked cosine pairs TOUCHING A BATCH — the near-dup pair generator
    * for incremental ingest: corpus↔batch cross pairs plus batch-internal
    * pairs, never corpus↔corpus (those are the persisted old pair graph).
    * The batch side drives both joins. Output convention matches
    * [[cosinePairsBlocked]] — (id_a < id_b, score); dot products are
    * index-ordered folds of commutative products, so the score is
    * bit-identical whichever side a vector arrives from. */
  def cosinePairsIncremental(corpus: DataFrame, batch: DataFrame,
      blockCol: String, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    def prep(df: DataFrame) = df.select(col(blockCol).as("blk"),
      col(idCol).as("id"), col(vecCol).as("v"), norm(col(vecCol)).as("n"))
    val c = prep(corpus); val b = prep(batch)
    val cross = c.as("a").join(b.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") =!= col("b.id"))
      .withColumn("score", dot(col("a.v"), col("b.v")) / (col("a.n") * col("b.n")))
      .filter(col("score") >= threshold)
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"), col("score"))
    val inner = b.as("a").join(b.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .withColumn("score", dot(col("a.v"), col("b.v")) / (col("a.n") * col("b.n")))
      .filter(col("score") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("score"))
    cross.unionByName(inner)
  }

  /** Mean-center an embedding column — the standard preprocessing before
    * semantic dedup / clustering (dominant-direction removal makes cosine
    * neighborhoods meaningful; SemDeDup and every IVF build assume
    * roughly centered vectors). Returns long form (idCol, dim, c) with
    * c = x − μ_dim.
    *
    * Scale/portability shape: the global per-dim mean uses the
    * [[clusterCentroids]] micro-unit discipline — exact integer sums that
    * partially aggregate map-side, so the ONLY shuffle for the mean moves
    * `dim` partial rows, the mean frame (dim rows) BROADCASTS back, and
    * the subtraction is scan-side. One division per dim + one subtraction
    * per element, both on bit-identical operands ⇒ engine-portable. */
  def centerEmbeddings(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val means = emb.select(posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("x").cast("double") * 1e6)).as("s"))
      .select(col("dim"),
        (col("s").cast("double") / (col("n").cast("double") * 1e6)).as("mu"))
    emb.select(col(idCol), posexplode(col(vecCol)).as(Seq("dim", "x")))
      .join(broadcast(means), Seq("dim"))
      .select(col(idCol), col("dim"),
        (col("x").cast("double") - col("mu")).as("c"))
  }

  /** Embedding OUTLIER detection: distance to the corpus mean vector,
    * z-scored — the "noisy/garbage embedding" audit (truncated inputs,
    * encoder failures, off-manifold rows) run before any similarity
    * operator trusts the space.
    *
    * Scale shape: the mean is the [[centerEmbeddings]] per-dim exact
    * micro-unit sum (dim-bounded), collected (the k-means
    * bounded-driver-state discipline — dim doubles, never rows) and
    * INLINED as a literal so the distance is one scan-side sequential
    * fold — zero joins on the corpus path. Distances quantize to
    * micro-units, the (n, Σd, Σd²) stats ride one partial-agg scan and a
    * 1×1 scalar join, and z is the hourlyAnomalies IEEE op order —
    * bit-portable end to end. Σd² headroom: micro-distances ~10⁷ square
    * to ~10¹⁴ — exact to ~10⁴ rows per unit variance... practically to
    * ~10⁹ rows before the long sum wraps; shard the stats pass beyond. */
  def embeddingOutliers(emb: DataFrame, zThreshold: Double = 2.0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val mu = emb.select(posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("x").cast("double") * 1e6)).as("s"))
      .collect()
      .sortBy(_.getInt(0))
      .map(r => r.getLong(2).toDouble / (r.getLong(1).toDouble * 1e6))
    val muLit = array(mu.map(lit(_)): _*)
    val diffSq = zip_with(col(vecCol), muLit, (a, b) => {
      val d = a.cast("double") - b
      d * d
    })
    val distMicro = floor(sqrt(aggregate(diffSq, lit(0.0), (acc, x) => acc + x))
      * lit(1e6)).cast("long")
    val d = emb.select(col(idCol), distMicro.as("dist_micro"))
    val stats = d.agg(count(lit(1)).as("nn"),
      sum(col("dist_micro")).as("sd"),
      sum(col("dist_micro") * col("dist_micro")).as("sq"))
    val mean = col("sd").cast("double") / col("nn").cast("double")
    val msq = col("sq").cast("double") / col("nn").cast("double")
    val variance = msq - mean * mean
    val z = when(variance > 0,
      (col("dist_micro").cast("double") - mean) / sqrt(variance))
      .otherwise(lit(0.0))
    d.crossJoin(broadcast(stats))
      .select(col(idCol), col("dist_micro"), z.as("z"),
        (abs(z) > zThreshold).as("outlier"))
  }

  /** Long-form centroids → (cluster_id, n_members, centroid: array<double>)
    * for API consumers; dims reassembled in order per cluster. */
  def centroidVectors(centroids: DataFrame): DataFrame =
    centroids
      .groupBy(col("cluster_id"))
      .agg(first(col("n_members")).as("n_members"),
        sort_array(collect_list(struct(col("dim"), col("c")))).as("dc"))
      .select(col("cluster_id"), col("n_members"),
        transform(col("dc"), x => x.getField("c")).as("centroid"))

  /** SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): route every vector to its nearest centroid, find
    * ε-similar pairs WITHIN each cell only, connect pairs into duplicate
    * groups, and keep ONE representative per group — the member LEAST
    * similar to its cell centroid (the paper's diversity-preserving rule;
    * the outlier carries the most information the group's mode doesn't),
    * ties → smallest id.
    *
    * Returns every input id classified:
    * (idCol, sem_group, centroid_sim, kept) — sem_group is the duplicate
    * group label (min member id) or -1 for vectors in no group; kept is
    * false only for dropped group members. Downstream: semi-join the
    * corpus on kept ids, or route sem_group to mixture accounting.
    *
    * Scale structure: the centroid codebook is bounded (k × dim) and
    * BROADCASTS — assignment is scan-side argmax, one row per vector
    * crosses its shuffle ([[assignToCentroids]]). The candidate join is
    * cell-equi: the k-means cell plays the block role LSH buckets play in
    * [[cosineNearDups]], so the quadratic is per-cell and k is the skew
    * lever (SemDeDup's own deployment note — more clusters, smaller
    * cells). Group labeling touches only pair MEMBERS (a sliver), and the
    * final classification joins two tiny frames (groups, reps) back onto
    * the assignment — the corpus never shuffles after the cell join. */
  def semanticDedup(emb: DataFrame, centroids: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxCell: Int = DefaultSemanticMaxCell): DataFrame = {
    // The assignment is consumed THREE times below (ε-join block keys,
    // group members, non-member anti-join): checkpoint it once — lazy, so
    // the first consumer's action materializes it — instead of re-running
    // the broadcast-codebook argmax per consumer. In steady state this
    // frame is a PERSISTED table; [[semanticDedupFromAssign]] is that
    // entry point and this wrapper just derives the artifact inline.
    val assign = assignToCentroids(emb, centroids, idCol, vecCol)
      .select(col(idCol), col("cluster_id").as("cell"),
        col("score").as("centroid_sim"))
      .localCheckpoint(eager = false)
    semanticDedupFromAssign(emb, assign, threshold, idCol, vecCol, maxCell)
  }

  /** The codebook-size rule behind [[semanticDedupAuto]]: k =
    * max(8, ⌈n / targetCellSize⌉), so the EXPECTED cell size is pinned at
    * `targetCellSize` at any corpus scale — 10× the corpus ⇒ 10× the
    * cells, same quadratic-per-cell cost. Exposed so the scaling law is
    * spec-pinnable, not an implementation detail. */
  def autoCellCount(n: Long, targetCellSize: Long): Int = {
    require(targetCellSize > 0, s"targetCellSize must be > 0: $targetCellSize")
    math.max(8L, (n + targetCellSize - 1L) / targetCellSize).toInt
  }

  /** [[semanticDedup]] with the DEFAULT codebook: a [[Kmeans]] quantizer
    * whose k SCALES WITH THE CORPUS — k = max(8, ⌈n / targetCellSize⌉).
    * This is the form a user should copy: the within-cell ε-join is the
    * one quadratic in the dedup stack, and its only size lever is cell
    * count; a fixed-k codebook (e.g. near-dup-graph centroids, whose
    * cluster count is small and data-capped) lets cells grow linearly
    * with the corpus, so at 100 TB the per-cell candidate set explodes.
    * Deriving k from n pins the EXPECTED cell size at `targetCellSize`
    * regardless of corpus scale (SemDeDup's own deployment note: more
    * clusters, smaller cells). The n-count is one column-pruned scan and
    * the codebook is k × dim driver state — bounded, like IVF training.
    * Graph-centroid codebooks remain available by passing one to
    * [[semanticDedup]] explicitly (the small-corpus special case).
    *
    * `knownN` supplies n from a persisted stats sidecar (the steady-state
    * form — the corpus count is an artifact of the ingest path, not worth
    * a dedicated scan per dedup pass); left `None`, one column-pruned
    * count scan derives it. */
  def semanticDedupAuto(emb: DataFrame, threshold: Double,
      targetCellSize: Long = 1024L, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding",
      knownN: Option[Long] = None): DataFrame = {
    val n = knownN.getOrElse(emb.select(col(idCol)).count())
    val cb = Kmeans.codebook(emb.sparkSession,
      Kmeans.trainModel(emb, autoCellCount(n, targetCellSize), iters,
        idCol, vecCol))
    // rail at 8x the target: the cell-count law pins the EXPECTED size,
    // the rail defends the max (a mega-cell of boilerplate vectors)
    semanticDedup(emb, cb, threshold, idCol, vecCol,
      maxCell = (8L * targetCellSize).min(Int.MaxValue.toLong).toInt)
  }

  /** SemDeDup from a PREBUILT assignment table (idCol, cell, centroid_sim)
    * — the steady-state form: the codebook derivation and nearest-centroid
    * routing are one-time build artifacts (persist them like
    * [[graft.llm.Dedup.bandTable]]); each dedup pass probes them without
    * recomputing any clustering fixpoint. Same output contract as
    * [[semanticDedup]], and indistinguishable from it when `assign` =
    * [[assignToCentroids]] of the same codebook (oracle-pinned). */
  def semanticDedupFromAssign(emb: DataFrame, assign: DataFrame,
      threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxCell: Int = DefaultSemanticMaxCell): DataFrame = {
    val blocked = emb.select(col(idCol), col(vecCol)).join(assign, Seq(idCol))
    val pairs = cosinePairsBlocked(blocked, "cell", threshold, idCol, vecCol,
      maxCell)
    val groups = Dedup.clusters(pairs) // (doc_id, cluster_id): members only
      .select(col("doc_id").as("__gid"), col("cluster_id").as("sem_group"))
    val members = assign.join(groups, col(idCol) === col("__gid"))
    // struct min compares (centroid_sim, id): farthest-from-centroid wins,
    // then the smallest id — deterministic and oracle-mirrorable
    val reps = members.groupBy(col("sem_group"))
      .agg(min(struct(col("centroid_sim"), col(idCol))).as("rep"))
      .select(col("sem_group").as("__rg"),
        col("rep").getField(idCol).as("__rid"))
    members.join(reps, col("sem_group") === col("__rg"))
      .select(col(idCol), col("sem_group"), col("centroid_sim"),
        (col(idCol) === col("__rid")).as("kept"))
      .unionByName(
        assign.join(groups, col(idCol) === col("__gid"), "left_anti")
          .select(col(idCol), lit(-1L).as("sem_group"), col("centroid_sim"),
            lit(true).as("kept")))
  }

  /** Nearest-centroid assignment: every vector classified into the
    * [[centroidVectors]] cluster with the highest cosine (ties → smallest
    * cluster_id) — route NEW documents to existing near-dup clusters, or
    * partition a corpus by its dedup structure for downstream mixing.
    *
    * Plan shape: centroids BROADCAST (bounded: clusters × dim doubles —
    * the same bounded-codebook position as IVF's cell centers), scoring is
    * scan-side codegen (`vec_dot`), and the argmax is a groupBy max-struct
    * (partial-aggregating map-side: each task emits one candidate per
    * vector, so the shuffle moves one row per vector, and no window ever
    * sorts the corpus). Scores are the bit-portable sequential-fold cosine
    * of [[cosinePairsBlocked]]. Returns (idCol, cluster_id, score). */
  def assignToCentroids(emb: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = centroids.select(col("cluster_id"), col("centroid"),
      norm(col("centroid")).as("cnorm"))
    emb.select(col(idCol), col(vecCol), norm(col(vecCol)).as("vnorm"))
      .crossJoin(broadcast(c))
      .select(col(idCol),
        struct(
          (dot(col(vecCol), col("centroid")) / (col("vnorm") * col("cnorm")))
            .as("score"),
          (-col("cluster_id")).as("negc"),
          col("cluster_id")).as("cand"))
      .groupBy(col(idCol))
      // struct max compares (score, -cluster_id): highest score wins, then
      // the SMALLEST cluster id — deterministic and oracle-mirrorable
      .agg(max(col("cand")).as("best"))
      .select(col(idCol), col("best.cluster_id").as("cluster_id"),
        col("best.score").as("score"))
  }

  /** Deterministic Achlioptas ±1 sign for random-projection cell (i, j):
    * parity of the 32-bit md5 prefix of "rp:i:j" — the [[Sampling]] digest
    * discipline, so any engine that can md5 a string rebuilds the exact
    * matrix (no RNG, no seed state to ship). */
  private[graft] def rpSign(i: Int, j: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"rp:$i:$j".getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    if (java.lang.Long.parseLong(hex, 16) % 2 == 0L) 1.0 else -1.0
  }

  /** Johnson–Lindenstrauss random projection to `kOut` dims: each output
    * coordinate is a ±1-signed sum over the input (Achlioptas 2003 — the
    * dense ±1 matrix preserves pairwise distances within (1±ε) at
    * kOut = O(ln n / ε²)), divided by √kOut. The cheap first lever for
    * 100 TB ANN: a 4× narrower vector per row BEFORE any index is built,
    * composable with IVF/PQ downstream.
    *
    * Scale shape: a pure scan-side projection — the sign matrix is
    * kOut × dim LITERALS (the k-means inlined-codebook discipline), each
    * output coordinate one codegen'd sequential-fold dot, zero joins,
    * zero shuffles. Portability: signs are md5-parity ([[rpSign]]), the
    * fold is dim-ordered, √kOut is one correctly-rounded sqrt. */
  def randomProjection(vecCol: Column, dim: Int, kOut: Int): Column = {
    require(dim >= 1 && kOut >= 1, s"bad dims: $dim, $kOut")
    val scale = math.sqrt(kOut.toDouble)
    array((0 until kOut).map { j =>
      val signs = array((0 until dim).map(i => lit(rpSign(i, j))): _*)
      DotProduct(vecCol, signs) / scale
    }: _*)
  }

  /** Panel recall contract for the JL sketch used the way a prefilter is
    * actually used: the projected space proposes a `candidates`-deep
    * shortlist per query (candidates ≫ k, then reranked exactly at full
    * precision — the standard two-stage ANN serving shape), and the
    * contract asks what fraction of the EXACT top-k survives into the
    * shortlist. Head-to-head top-k in projected space is the wrong
    * measure for a prefilter — on near-isotropic data the top of the
    * ranking is separated by less than the JL distortion, while shortlist
    * survival is exactly what two-stage serving needs. */
  def rpKnnRecallPanel(emb: DataFrame, queryPred: Column, k: Int,
      dim: Int = 64, kOut: Int = 16, candidates: Int = 50,
      recallBound: Double = 0.25,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(candidates >= k, s"shortlist smaller than k: $candidates < $k")
    val proj = emb.select(col(idCol),
      randomProjection(col(vecCol), dim, kOut).as("rp"))
    recallPanel(bruteForceKnn(proj, queryPred, candidates, idCol, "rp"),
      bruteForceKnn(emb, queryPred, k, idCol, vecCol), recallBound)
  }

  /** Matryoshka (MRL) prefix-truncation ANN contract: rank a `candidates`-
    * deep shortlist by cosine over only the FIRST `mdim` coordinates (the
    * nested-prefix representation Matryoshka-trained encoders expose — a
    * dim/mdim bandwidth cut with zero auxiliary structure, unlike
    * [[randomProjection]] which must multiply a matrix), then publish
    * whether the exact top-k survives the shortlist
    * ([[rpKnnRecallPanel]]'s shortlist-survival panel). On THIS
    * near-isotropic synthetic corpus a 16-dim prefix carries no training
    * signal, so measured panel recall is 0.8 at sf0.01 / 0.48 at sf0.1
    * with a 150-deep shortlist — the honest floor for untrained
    * truncation; MRL-trained embeddings sit far higher. */
  def matryoshkaKnnRecallPanel(emb: DataFrame, queryPred: Column, k: Int,
      mdim: Int = 16, candidates: Int = 150, recallBound: Double = 0.35,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(candidates >= k, s"shortlist smaller than k: $candidates < $k")
    val proj = emb.select(col(idCol),
      slice(col(vecCol), 1, mdim).as("mrl"))
    recallPanel(bruteForceKnn(proj, queryPred, candidates, idCol, "mrl"),
      bruteForceKnn(emb, queryPred, k, idCol, vecCol), recallBound)
  }

  /** 1-bit (sign) embedding signature: bit i is set iff vec[i] > 0, packed
    * into a SINGLE long for dim ≤ 64 — the most aggressive embedding
    * compression in use (32× vs float32; "binary quantization" in modern
    * vector stores). Distance between signatures is Hamming =
    * `bit_count(a XOR b)`, ~1 cycle per pair — the cheap prefilter stage
    * of a two-stage (Hamming shortlist → exact cosine rerank) retriever.
    *
    * The fold packs bits MSB-first via `shiftleft(acc,1) | bit` — pure
    * bit ops, so the 64th bit lands in the sign position without tripping
    * ANSI overflow checking (never goes through doubles either).
    * Dimension-mismatch guard per [[lshBucket]]: a silent NULL would
    * otherwise collapse every vector onto one signature. */
  def signBits(vec: Column, dim: Int = 64): Column = {
    require(dim <= 64, s"signBits packs one 64-bit word; dim=$dim > 64")
    val packed = aggregate(
      transform(sequence(lit(0), lit(dim - 1)),
        i => when(element_at(vec, i + lit(1)) > lit(0d), lit(1L))
          .otherwise(lit(0L))),
      lit(0L), (acc, b) => shiftleft(acc, 1).bitwiseOR(b))
    when(assert_true(size(vec) === dim,
      lit(s"signBits: embedding length does not match dim=$dim")).isNull, packed)
  }

  /** Two-stage binary-quantized kNN: Hamming distance on [[signBits]]
    * signatures shortlists `candidates` corpus rows per query, then exact
    * cosine reranks the shortlist to top-k.
    *
    * Scale shape: the Hamming stage streams only (qid, id, hamming)
    * triples into the per-query shortlist window — Spark's
    * WindowGroupLimit inserts a partial limit BEFORE the exchange, so each
    * map partition forwards at most `candidates` rows per query, never the
    * full Q×N score stream. The rerank stage re-reads vectors through a
    * broadcast of the (|Q|·candidates)-row shortlist, so the corpus is
    * scanned, never shuffled, in both stages; at serving scale the
    * signature column is a precomputed 8-byte column and stage 1 touches
    * nothing else. */
  def binaryKnn(emb: DataFrame, queryPred: Column, k: Int,
      candidates: Int = 50, dim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(candidates >= k, s"shortlist smaller than k: $candidates < $k")
    val sigs = emb.select(col(idCol), signBits(col(vecCol), dim).as("sig"))
    val qsigs = sigs.filter(queryPred)
      .select(col(idCol).as("qid"), col("sig").as("qsig"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("hamming"), col("neighbor_id"))
    val shortlist = sigs
      .join(broadcast(qsigs), col("qid") =!= col(idCol))
      .select(col("qid"), col(idCol).as("neighbor_id"),
        bit_count(col("sig").bitwiseXOR(col("qsig"))).as("hamming"))
      .withColumn("hrank", row_number().over(w))
      .filter(col("hrank") <= candidates)
      .select(col("qid"), col("neighbor_id"))
    val corpus = emb.select(col(idCol).as("neighbor_id"), col(vecCol),
      norm(col(vecCol)).as("vnorm"))
    knnOf(queryPanel(emb, queryPred, idCol, vecCol), k, "neighbor_id",
        vecCol, "vnorm")(q =>
      corpus.join(broadcast(shortlist), Seq("neighbor_id")).join(q, Seq("qid")))
  }

  /** [[binaryKnn]] published as its panel recall contract (per-query
    * recall under a 1-bit code is geometry-dependent, panel recall is the
    * stable statistic of the index). The interesting fact this row pins:
    * 64 dims × 1 bit + a `candidates`-deep exact rerank recovers ≥
    * `recallBound` of the float32 top-k at 32× less stage-1 bandwidth. */
  def binaryKnnRecallPanel(emb: DataFrame, queryPred: Column, k: Int,
      candidates: Int = 50, dim: Int = 64, recallBound: Double = 0.5,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    recallPanel(binaryKnn(emb, queryPred, k, candidates, dim, idCol, vecCol),
      bruteForceKnn(emb, queryPred, k, idCol, vecCol), recallBound)
}
