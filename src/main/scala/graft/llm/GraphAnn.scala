package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expr.DotProduct

/** Graph-based ANN — the NSW-style navigable-neighbor-graph serving
  * structure modern vector stores default to (Malkov et al.'s NSW/HNSW
  * family), built Spark-first:
  *
  * '''Build''' (one-time layout job, like an index build):
  *  1. candidate edges come from multi-probe LSH buckets
  *    ([[Similarity.lshBucket]] — never an all-pairs join; per-bucket
  *    membership capped deterministically so a degenerate bucket bounds
  *    the quadratic term);
  *  2. per source, the top-`m` candidates by EXACT cosine become edges;
  *  3. one NN-descent refinement round (neighbors-of-neighbors, the
  *    Dong et al. 2011 step): 2-hop candidates rescored exactly, then
  *    the union of LSH edges ∪ reversed edges ∪ 2-hop edges re-tops to
  *    `m` per source — reversal is what makes the graph navigable from
  *    sparse regions.
  * Edge rows CARRY the destination vector (the DiskANN vector-with-
  * neighbors layout): a search step never joins back to the corpus.
  *
  * '''Search''' (beam walk): start from `entries` digest-ranked entry
  * points (deterministic — the [[Sampling]] md5 convention), then
  * `iters` rounds of expand-score-prune: the beam's out-edges are
  * fetched from the graph, scored exactly against the query vector, and
  * the beam re-tops to `ef`. Fixed rounds instead of a convergence test
  * keeps the job count static and the result deterministic; the recall
  * CONTRACT (the q_knn_lsh publishing discipline) is what licenses the
  * approximation.
  *
  * Scale shape at 100 TB: the build shuffles bucket-bounded candidate
  * pairs and edge lists (rows ∝ N·m, never N²); the walk's per-round
  * state is |Q|·ef rows, the frontier's ids are a BOUNDED driver list
  * (the [[Similarity]] capQueryPred convention), and a persisted graph
  * partitioned by source bucket serves each round through static
  * partition pruning + a pushed src-IN filter — reads ∝ frontier·m,
  * zero corpus access (the q_index_phrase probe discipline; the
  * q_knn_graph_prebuilt row pins it). */
object GraphAnn {

  private def dot(a: Column, b: Column): Column = DotProduct(a, b)
  private def norm(v: Column): Column = sqrt(DotProduct(v, v))

  val DefaultBuckets = 32

  /** The bucket a persisted graph is hive-partitioned by. */
  def srcBucket(src: Column, nBuckets: Int = DefaultBuckets): Column =
    pmod(xxhash64(src), lit(nBuckets.toLong))

  /** [[srcBucket]] evaluated DRIVER-SIDE on literal ids (Spark's own
    * XxHash64 expression, seed 42 — the [[Search.gramBuckets]] pin
    * discipline: agreement with the column form is spec-pinned, a
    * divergent hash would silently prune away real edges). */
  def idBuckets(ids: Seq[Long], nBuckets: Int): Seq[Long] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    ids.map { v =>
      val h = XxHash64(Seq(Literal.create(v,
          org.apache.spark.sql.types.LongType)), 42L)
        .eval(null).asInstanceOf[Long]
      ((h % nBuckets) + nBuckets) % nBuckets
    }.distinct.sorted
  }

  /** Build the bounded neighbor graph: (src, dst, score_cos, dst_vec,
    * dst_norm, b) with out-degree ≤ `m` per src. See object doc.
    *
    * Round-14 shape (optimization guide §2.3/§8 — shuffle lightweight
    * proxies, attach payloads once): every candidate pair is scored IN
    * the bucket join's projection and the pair set flows through its
    * dedup/top-m/2-hop exchanges as narrow (src, dst, score) rows
    * (~24 B) instead of carrying two dim-sized vectors (~1 KB) per row;
    * the kept edges re-attach vectors in ONE pass against the (id, vec)
    * node table at the end. Identical edge set and identical scores (the
    * same IEEE dot/÷ over the same operands — re-scoring a pair equals
    * the carried score bit-for-bit), measured 1.4 GB → ~0.1 GB of
    * exchange bytes for the sf0.1 build. */
  def buildGraph(emb: DataFrame, m: Int = 8, lshBits: Int = 6,
      dim: Int = 64, probes: Int = 2, maxBucket: Int = 4096,
      nBuckets: Int = DefaultBuckets,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(m >= 1, s"out-degree m must be >= 1: $m")
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("vec"),
      norm(col(vecCol)).as("nrm"))
      .localCheckpoint(eager = false) // bucket join + the final re-attach
    // deterministic per-bucket cap: a pathological bucket bounds the
    // candidate join at maxBucket² instead of N² (the Dedup.bandTable
    // corpus-property rule, digest-ranked so the kept set is stable)
    val wb = Window.partitionBy(col("bucket"))
      .orderBy(md5(col("id").cast("string")), col("id"))
    val bucketed = base
      .withColumn("bucket",
        Similarity.lshBucket(col("vec"), lshBits, dim))
      .withColumn("bucket", explode(array(
        col("bucket") +: (0 until math.min(probes, lshBits)).map(i =>
          col("bucket").bitwiseXOR(lit(1L << i))): _*)))
      .withColumn("__r", row_number().over(wb))
      .filter(col("__r") <= maxBucket).drop("__r")
      .localCheckpoint(eager = false) // both sides of the candidate join
    // score in the join projection; ONLY (src, dst, score) crosses the
    // dedup and top-m exchanges
    val cand = bucketed.as("a").join(bucketed.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("src"), col("b.id").as("dst"),
        (dot(col("a.vec"), col("b.vec"))
          / (col("a.nrm") * col("b.nrm"))).as("score_cos"))
      .dropDuplicates("src", "dst") // multi-probe can repeat a pair
    val e0 = topM(cand, m).localCheckpoint(eager = false)
    // NN-descent round over e0 ∪ reverse(e0): 2-hop candidate PAIRS —
    // ids only; vectors are attached (and the pair scored) once, after
    // the dedup, never carried through the joins
    val undirected = e0.unionByName(e0.select(
      col("dst").as("src"), col("src").as("dst"), col("score_cos")))
      .dropDuplicates("src", "dst")
      .localCheckpoint(eager = false) // two sides of the 2-hop join
    val twoHop = undirected.as("x").join(undirected.as("y"),
        col("x.dst") === col("y.src") && col("x.src") =!= col("y.dst"))
      .select(col("x.src").as("src"), col("y.dst").as("dst"))
    val allPairs = undirected.select(col("src"), col("dst"))
      .unionByName(twoHop)
      .dropDuplicates("src", "dst")
    // attach vectors once (the worked-example discipline: decisions on
    // small rows, payload moved a single time); re-scoring equals the
    // carried score exactly, so dedup-before-score is value-stable
    val scored = allPairs
      .join(base.select(col("id").as("src"), col("vec").as("src_vec"),
        col("nrm").as("src_norm")), Seq("src"))
      .join(base.select(col("id").as("dst"), col("vec").as("dst_vec"),
        col("nrm").as("dst_norm")), Seq("dst"))
      .select(col("src"), col("dst"),
        (dot(col("src_vec"), col("dst_vec"))
          / (col("src_norm") * col("dst_norm"))).as("score_cos"),
        col("dst_vec"), col("dst_norm"))
    topM(scored, m)
      .select(col("src"), col("dst"), col("score_cos"), col("dst_vec"),
        col("dst_norm"))
      .withColumn("b", srcBucket(col("src"), nBuckets))
  }

  // keeps the src vector/norm alongside: the NN-descent 2-hop rescoring
  // reads them off the edge rows, never the corpus
  private def scoreEdges(cand: DataFrame): DataFrame =
    cand.select(col("src"), col("src_vec"), col("src_norm"), col("dst"),
      (dot(col("src_vec"), col("dst_vec"))
        / (col("src_norm") * col("dst_norm"))).as("score_cos"),
      col("dst_vec"), col("dst_norm"))

  private def topM(scored: DataFrame, m: Int): DataFrame = {
    val w = Window.partitionBy(col("src"))
      .orderBy(col("score_cos").desc, col("dst"))
    scored.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= m).drop("__r")
  }

  /** Beam-walk the graph for the `queryPred` rows: (qid, rank,
    * neighbor_id, score). `graph` is [[buildGraph]]'s output (inline or
    * read back from a partitioned artifact). Each round collects the
    * frontier's ≤ |Q|·ef ids (bounded driver state) and probes the graph
    * with a bucket + src-IN filter — statically pruned when the artifact
    * is hive-partitioned on `b`. */
  def search(emb: DataFrame, graph: DataFrame, queryPred: Column, k: Int,
      ef: Int = 32, iters: Int = 3, entries: Int = 8,
      nBuckets: Int = DefaultBuckets,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    searchUnordered(emb, graph, queryPred, k, ef, iters, entries, nBuckets,
      idCol, vecCol)
      .orderBy(col("qid"), col("rank"))

  /** [[search]] minus the presentation sort — the panels join/aggregate
    * the rows, so the global orderBy (a range exchange + its sampling
    * job) is wasted there (round 15, guide §2.4: an orderBy used only to
    * make output deterministic is an accidental exchange; `rank` already
    * carries the per-query order). */
  private def searchUnordered(emb: DataFrame, graph: DataFrame,
      queryPred: Column, k: Int, ef: Int, iters: Int, entries: Int,
      nBuckets: Int, idCol: String, vecCol: String): DataFrame = {
    val queries = emb.filter(queryPred)
      .select(col(idCol).as("qid"), col(vecCol).as("qvec"),
        norm(col(vecCol)).as("qnorm"))
    walk(queries, emb, graph, k, ef, iters, entries, nBuckets, idCol, vecCol)
      .select(col("qid"), col("rank"), col("id").as("neighbor_id"),
        col("score"))
  }

  /** HNSW-style LAYERED hierarchy — the asymptotic fix for flat-graph
    * entry navigation: digest-ranked random entries put a fixed-iters
    * beam an unbounded number of hops from the query's neighborhood as
    * the corpus grows, where HNSW's geometric layer ladder reaches it in
    * O(log n) hops total. Node levels are digest-deterministic with
    * P(level ≥ ℓ) = branching^-ℓ (Malkov & Yashunin's exponentially
    * decaying layer assignment, drawn from a hash so build is
    * reproducible and insertion-order-free); layer ℓ is a full
    * [[buildGraph]] over the nodes of level ≥ ℓ, all layers in one frame
    * tagged `layer` (persist hive-partitioned by (layer, b): a descent
    * round prunes to its layer AND its frontier's buckets). Upper layers
    * shrink geometrically — layer 1 is branching× smaller than the
    * corpus, so the whole ladder costs ≈ 1/(branching−1) of the base
    * build. The level hash is drawn independently of [[srcBucket]]
    * (different hash input), so upper-layer nodes spread over all
    * buckets instead of aliasing into every branching-th one. */
  def buildLayers(emb: DataFrame, levels: Int = 2, branching: Int = 8,
      m: Int = 8, lshBits: Int = 6, dim: Int = 64, probes: Int = 2,
      maxBucket: Int = 4096, nBuckets: Int = DefaultBuckets,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(levels >= 1 && branching >= 2,
      s"need levels >= 1, branching >= 2: levels=$levels branching=$branching")
    (0 to levels).map { l =>
      val sub =
        if (l == 0) emb
        else emb.filter(
          pmod(xxhash64(lit("gann_level"), col(idCol)),
            lit(math.pow(branching.toDouble, l.toDouble).toLong)) === 0)
      buildGraph(sub, m, lshBits, dim, probes, maxBucket, nBuckets,
          idCol, vecCol)
        .withColumn("layer", lit(l))
    }.reduce(_ unionByName _)
  }

  /** INCREMENTAL maintenance for a [[buildLayers]] hierarchy — per-layer
    * NSW bulk insertion: each batch vector's level comes from the SAME
    * digest the build used (stable across batches — a node's layer
    * membership is a property of its id, never of arrival order), and
    * every layer ℓ the vector belongs to gains it via [[insertDelta]]
    * over that layer's graph alone. Upper layers see geometrically few
    * batch rows (|batch|/branching^ℓ), so the ladder's maintenance cost
    * is ≈ 1/(branching−1) of the base insert — the build's cost shape,
    * preserved. Untouched layers (no batch node at that level) pass
    * through unchanged; a batch slice landing on an EMPTY layer seeds it
    * with its own [[buildGraph]] (the bulk analog of HNSW's
    * first-node-at-a-new-level entry). Layers are edge rows, so a layer
    * whose total population is 1 has no rows to show — navigation-
    * neutral, because [[searchLayered]] unions the global digest entries
    * into the base walk. */
  def insertLayers(layers: DataFrame, batch: DataFrame, levels: Int = 2,
      branching: Int = 8, m: Int = 8, lshBits: Int = 6, probes: Int = 2,
      ef: Int = 96, iters: Int = 5, entries: Int = 24,
      efUpper: Int = 24, itersUpper: Int = 2, entriesUpper: Int = 8,
      nBuckets: Int = DefaultBuckets,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(levels >= 1 && branching >= 2,
      s"need levels >= 1, branching >= 2: levels=$levels branching=$branching")
    val b = batch.localCheckpoint(eager = false) // one filter per layer
    // ONE gating pass for the whole ladder (round 15; guide §2.4 — the
    // per-layer sub.isEmpty/lg.isEmpty pairs cost 2 actions × (levels+1),
    // ~5 scheduled jobs per layer under AQE). Level membership is a
    // digest predicate, so every level's batch population comes from one
    // aggregation; the ladder's per-layer populations from one grouped
    // count — which also materializes a lazily-checkpointed ladder once,
    // before the per-layer filters re-read it.
    val lvlAggs = (0 to levels).map { l =>
      if (l == 0) count(lit(1)).cast("long").as(s"c$l")
      else sum(when(
        pmod(xxhash64(lit("gann_level"), col(idCol)),
          lit(math.pow(branching.toDouble, l.toDouble).toLong)) === 0,
        1L).otherwise(0L)).as(s"c$l")
    }
    // batch-level counts and ladder populations in ONE action: the two
    // sides union into a single (key, n) frame — batch levels keyed
    // negative to stay disjoint from layer numbers
    val gateRows = labeled(b, "insertLayers gate") {
      layers.groupBy(col("layer").cast("int").as("__k"))
        .agg(count(lit(1)).as("__n"))
        .unionByName(
          b.agg(lvlAggs.head, lvlAggs.tail: _*)
            .select(posexplode(array((0 to levels).map(l =>
              coalesce(col(s"c$l"), lit(0L))): _*)).as(Seq("__p", "__n")))
            .select((-col("__p") - 1).cast("int").as("__k"), col("__n")))
        .collect()
    }
    val subCnt = {
      val m = gateRows.filter(_.getInt(0) < 0)
        .map(r => (-r.getInt(0) - 1) -> r.getLong(1)).toMap
      (0 to levels).map(l => m.getOrElse(l, 0L))
    }
    val layCnt = gateRows.filter(_.getInt(0) >= 0)
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // ONE ladder descent for the WHOLE batch feeds every layer's
    // insertion (round 15; guide §2.4, and the HNSW-canonical insertion:
    // a node enters at the top and DESCENDS, walking each layer it
    // belongs to — it never re-enters a layer from fresh digest
    // entries). Per-qid top-ef state is independent across qids, so
    // layer ℓ's level-members slice of the shared walked beam ≡ those
    // members' own walk over layer ℓ with the same ef/iters/entries (for
    // the top populated layer, bit-equal to the per-layer walks this
    // replaces; below it the entry beams are now the DESCENDED ones —
    // Malkov & Yashunin's shape, re-gated by the recall oracle at every
    // SF). The descent starts at the highest POPULATED layer: walking
    // empty top layers was one no-op round each.
    val descentTop = (1 to levels).findLast(l => layCnt.getOrElse(l, 0L) > 0L)
      .getOrElse(0)
    val needWalk = (0 to levels).exists(l =>
      subCnt(l) > 0L && layCnt.getOrElse(l, 0L) > 0L)
    val bqAll = if (needWalk) batchQueries(b, idCol, vecCol) else null
    val qvAll = if (needWalk) new QueryVecs(bqAll) else null
    val beams = scala.collection.mutable.HashMap.empty[Int, DataFrame]
    if (needWalk && descentTop >= 1) {
      var beam = initBeam(bqAll, graphNodes(
        layers.filter(col("layer") === descentTop), entriesUpper))
      for (l <- descentTop to 1 by -1) {
        beam = walkBeam(bqAll, beam,
          layers.filter(col("layer") === l).drop("layer"),
          efUpper, itersUpper, nBuckets, qvAll)
        beams(l) = beam
      }
    }
    // node view over the WHOLE ladder: a descended beam can surface
    // upper-layer dsts, so every re-attach must cover every layer (vec,
    // nrm are functional per id across layers — value-identical rows)
    val ladderNodes = dstNodes(layers.drop("layer"))
    (0 to levels).map { l =>
      val sub =
        if (l == 0) b
        else b.filter(
          pmod(xxhash64(lit("gann_level"), col(idCol)),
            lit(math.pow(branching.toDouble, l.toDouble).toLong)) === 0)
      val lg = layers.filter(col("layer") === l).drop("layer")
      val updated =
        if (subCnt(l) == 0L) lg // this layer gains no node — pass through
        else if (layCnt.getOrElse(l, 0L) == 0L)
          buildGraph(sub, m, lshBits, probes = probes, nBuckets = nBuckets,
            idCol = idCol, vecCol = vecCol)
        else if (l > 0) {
          // the layer's walked beam is a scan-side slice of the shared
          // descent (level membership is a digest of the qid — no join)
          val walked = beams(l).filter(
            pmod(xxhash64(lit("gann_level"), col("qid")),
              lit(math.pow(branching.toDouble, l.toDouble).toLong)) === 0)
          val (delta, superseded) = insertTail(lg,
            batchQueries(sub, idCol, vecCol), walked, m, nBuckets,
            ladderNodes)
          lg.join(broadcast(superseded), Seq("src"), "left_anti")
            .unionByName(delta)
        } else {
          // base insertion: the descended beam (already near each batch
          // vector) plus the global digest entries, walked at full ef
          val beam0 = beams.get(1) match {
            case Some(bm) =>
              bm.unionByName(initBeam(bqAll, graphNodes(lg, entries)))
            case None => initBeam(bqAll, graphNodes(lg, entries))
          }
          val (delta, superseded) = insertTail(lg, bqAll,
            walkBeam(bqAll, beam0, lg, ef, iters, nBuckets, qvAll),
            m, nBuckets, ladderNodes)
          lg.join(broadcast(superseded), Seq("src"), "left_anti")
            .unionByName(delta)
        }
      updated.withColumn("layer", lit(l))
    }.reduce(_ unionByName _)
  }

  /** Beam search down a [[buildLayers]] hierarchy: enter at the TOP
    * layer's digest-ranked nodes, walk each upper layer with a small
    * beam (`efUpper`, `itersUpper` — layers are geometrically tiny, a
    * couple of rounds cross them), hand the surviving beam down as the
    * next layer's entry set, and run the full (`ef`, `iters`) walk only
    * at layer 0 — by then the beam already sits in the query's
    * neighborhood, which is what lets `iters` stay small as the corpus
    * grows. Layer 0 also unions the global digest entries into its
    * starting beam (costless, and de-fragilizes a degenerate tiny top
    * layer). Output = [[search]]'s contract. */
  def searchLayered(emb: DataFrame, layers: DataFrame, queryPred: Column,
      k: Int, levels: Int = 2, ef: Int = 32, iters: Int = 2,
      efUpper: Int = 8, itersUpper: Int = 2, entries: Int = 8,
      nBuckets: Int = DefaultBuckets,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    searchLayeredUnordered(emb, layers, queryPred, k, levels, ef, iters,
      efUpper, itersUpper, entries, nBuckets, idCol, vecCol)
      .orderBy(col("qid"), col("rank"))

  /** [[searchLayered]] minus the presentation sort ([[searchUnordered]]'s
    * rationale) — the layered panel's input. */
  private def searchLayeredUnordered(emb: DataFrame, layers: DataFrame,
      queryPred: Column, k: Int, levels: Int, ef: Int, iters: Int,
      efUpper: Int, itersUpper: Int, entries: Int, nBuckets: Int,
      idCol: String, vecCol: String): DataFrame = {
    require(k >= 1 && ef >= k, s"need ef >= k >= 1: ef=$ef k=$k")
    val queries = emb.filter(queryPred)
      .select(col(idCol).as("qid"), col(vecCol).as("qvec"),
        norm(col(vecCol)).as("qnorm"))
      .localCheckpoint(eager = false) // re-joined every round, every layer
    // no dedup: walkBeam's top-ef aggregation dedups identical
    // (qid, id) rows (equal pairs carry bit-equal scores)
    val qv = new QueryVecs(queries) // one qid→vec collect for all layers
    val beam0 = descendBeam(queries, layers, levels, efUpper, itersUpper,
        entries, nBuckets, qv)
      .unionByName(initBeam(queries,
        graphNodes(layers.filter(col("layer") === 0), entries)))
    rankBeam(
      walkBeam(queries, beam0, layers.filter(col("layer") === 0), ef,
        iters, nBuckets, qv), k)
      .select(col("qid"), col("rank"), col("id").as("neighbor_id"),
        col("score"))
  }

  /** The upper-layer descent shared by [[searchLayered]] and
    * [[insertLayers]]' base insertion: enter at the top layer's
    * digest-ranked nodes (edge-row vectors — state-only), walk each
    * upper layer with the small beam, hand the survivors down. Returns
    * the layer-1 surviving beam — entry candidates already near each
    * query. */
  private def descendBeam(queries: DataFrame, layers: DataFrame,
      levels: Int, efUpper: Int, itersUpper: Int, entries: Int,
      nBuckets: Int, qVecs: QueryVecs = null): DataFrame = {
    val qv = if (qVecs != null) qVecs else new QueryVecs(queries)
    var beam = initBeam(queries,
      graphNodes(layers.filter(col("layer") === levels), entries))
    for (l <- levels to 1 by -1)
      beam = walkBeam(queries, beam, layers.filter(col("layer") === l),
        efUpper, itersUpper, nBuckets, qv)
    beam
  }

  /** FILTERED graph search — the production retrieval shape
    * ([[Similarity.filteredKnn]]'s contract over the graph): the walk
    * navigates the FULL graph (restricting navigation to matching nodes
    * fragments it — the filtered-ANN failure mode), then the metadata
    * predicate gates the RANKED side: the corpus scan evaluates
    * `matchPred` scan-side (pushed to the files) and inner-joins the
    * BROADCAST beam (≤ |Q|·ef rows — the corpus never shuffles), so
    * only beam survivors rank. `ef` must out-provision k / selectivity;
    * the recall contract ([[filteredKnnRecallPanel]]) is what licenses
    * the approximation, exactly the q_knn_lsh publishing discipline. */
  def searchFiltered(emb: DataFrame, graph: DataFrame, queryPred: Column,
      matchPred: Column, k: Int, ef: Int = 96, iters: Int = 3,
      entries: Int = 8, nBuckets: Int = DefaultBuckets,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    searchFilteredUnordered(emb, graph, queryPred, matchPred, k, ef, iters,
      entries, nBuckets, idCol, vecCol)
      .orderBy(col("qid"), col("rank"))

  /** [[searchFiltered]] minus the presentation sort ([[searchUnordered]]'s
    * rationale) — the filtered panel's input. */
  private def searchFilteredUnordered(emb: DataFrame, graph: DataFrame,
      queryPred: Column, matchPred: Column, k: Int, ef: Int, iters: Int,
      entries: Int, nBuckets: Int,
      idCol: String, vecCol: String): DataFrame = {
    require(k >= 1 && ef >= k, s"need ef >= k >= 1: ef=$ef k=$k")
    val queries = emb.filter(queryPred)
      .select(col(idCol).as("qid"), col(vecCol).as("qvec"),
        norm(col(vecCol)).as("qnorm"))
      .localCheckpoint(eager = false)
    val entry = emb
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        norm(col(vecCol)).as("nrm"))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(entries)
    val beam = walkBeam(queries, initBeam(queries, entry), graph, ef,
      iters, nBuckets)
    val matched = emb.filter(matchPred).select(col(idCol).as("id"))
      .join(broadcast(beam.filter(col("qid") =!= col("id"))
        .select(col("qid"), col("id"), col("score"))), Seq("id"))
    matched.withColumn("rank", row_number().over(wq))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id").as("neighbor_id"),
        col("score"))
  }

  /** The beam walk over (qid, qvec, qnorm) query rows — shared by
    * [[search]] and [[insert]] (NSW insertion IS a search). Returns the
    * narrow per-query top-k (insertion re-attaches the neighbors'
    * vectors once from the graph's own dst rows — still zero corpus
    * access). Entry points: digest-ranked corpus rows — deterministic,
    * uniform, a bounded TakeOrdered, never a global sort. */
  private def walk(queries0: DataFrame, emb: DataFrame, graph: DataFrame,
      k: Int, ef: Int, iters: Int, entries: Int, nBuckets: Int,
      idCol: String, vecCol: String): DataFrame = {
    val entry = emb
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        norm(col(vecCol)).as("nrm"))
      .orderBy(md5(col("id").cast("string")), col("id"))
      .limit(entries)
    walkFrom(queries0.localCheckpoint(eager = false), entry, graph, k, ef,
      iters, nBuckets)
  }

  /** INCREMENTAL maintenance — NSW bulk insertion (insertion IS a
    * search, Malkov's algorithm): each batch vector beam-walks the
    * EXISTING graph for its top-m neighbors, then the graph gains the
    * batch's forward edges plus BACK-edges into the batch, with the
    * touched sources' out-degree re-capped at m (exactly the
    * navigability step single-threaded HNSW does per insert). The corpus
    * is never re-bucketed and never re-joined: only the batch walks, the
    * back-edge re-cap touches ONLY sources the batch connected to
    * (≤ |batch|·m rows, gathered by broadcast semi-join), and everything
    * else passes through by anti-join — the q_dedup_incr discipline.
    * Returns the updated graph (same schema as [[buildGraph]]). */
  def insert(graph: DataFrame, batch: DataFrame, m: Int = 16,
      ef: Int = 96, iters: Int = 5, entries: Int = 24,
      nBuckets: Int = DefaultBuckets,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (delta, superseded) = insertDelta(graph, batch, m, ef, iters,
      entries, nBuckets, idCol, vecCol)
    graph.join(broadcast(superseded), Seq("src"), "left_anti")
      .unionByName(delta)
  }

  /** [[insert]]'s change set, for SEGMENTED maintenance
    * ([[graft.streaming.StreamingGraphAnn]]): `(delta, superseded)` where
    * `delta` holds the post-insert edge rows of every src whose edge set
    * changed (batch srcs' forward edges + the re-capped touched sources)
    * and `superseded` is those src ids (batch ids included — a segment
    * write at version v plus a same-version tombstone of `superseded` is
    * last-writer-wins supersede under [[graft.streaming.SegmentedState]]'s
    * version-ordered rowView). `insert ≡ graph antijoin superseded ∪
    * delta` by construction. */
  def insertDelta(graph: DataFrame, batch: DataFrame, m: Int = 16,
      ef: Int = 96, iters: Int = 5, entries: Int = 24,
      nBuckets: Int = DefaultBuckets,
      idCol: String = "vec_id", vecCol: String = "embedding"): (DataFrame, DataFrame) = {
    val bq = batchQueries(batch, idCol, vecCol)
    // entry points come from the GRAPH side (the batch is not in it):
    // digest-ranked existing sources, vectors off the edge rows
    insertDeltaBeam(graph, bq, initBeam(bq, graphNodes(graph, entries)),
      m, ef, iters, nBuckets, dstNodes(graph))
  }

  private def batchQueries(batch: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    batch.select(col(idCol).as("qid"), col(vecCol).as("qvec"),
        norm(col(vecCol)).as("qnorm"))
      .localCheckpoint(eager = false) // the walk + both edge directions

  /** Digest-ranked nodes OF a graph, vectors off its edge rows —
    * state-only entry points. */
  private def graphNodes(graph: DataFrame, entries: Int): DataFrame =
    graph.select(col("dst").as("id"), col("dst_vec").as("vec"),
        col("dst_norm").as("nrm"))
      .dropDuplicates("id")
      .orderBy(md5(col("id").cast("string")), col("id"))
      .limit(entries)

  /** [[insertDelta]] with an explicit starting beam — how a LAYERED
    * insertion walks the base: the ladder descent supplies entry
    * candidates already near each batch vector, so the base walk
    * converges in fewer rounds ([[insertLayers]]). */
  private def insertDeltaBeam(graph: DataFrame, bq: DataFrame,
      beam0: DataFrame, m: Int, ef: Int, iters: Int, nBuckets: Int,
      nodes: DataFrame, qVecs: QueryVecs = null): (DataFrame, DataFrame) =
    insertTail(graph, bq,
      walkBeam(bq, beam0, graph, ef, iters, nBuckets, qVecs), m, nBuckets,
      nodes)

  /** The post-walk half of [[insertDeltaBeam]] — forward/back edges off
    * an ALREADY-walked beam, touched-source re-cap, change set. Factored
    * out (round 15) so [[insertLayers]] can feed every layer's insertion
    * from ONE shared ladder descent instead of walking each layer's
    * batch slice separately. */
  private def insertTail(graph: DataFrame, bq: DataFrame,
      walked: DataFrame, m: Int, nBuckets: Int,
      nodes: DataFrame): (DataFrame, DataFrame) = {
    // the walk ran on narrow (qid, id, score) beams; the found top-m's
    // vectors re-attach ONCE from `nodes` (the graph's UN-deduped dst
    // view — total coverage by construction, see [[dstNodes]]), instead
    // of riding every walk exchange (guide §8: move the payload once).
    // Round 15 (guide §2.3 — shuffle fewer bytes): the found ids
    // broadcast-semi-gate the node view BEFORE its per-id dedup, so the
    // dedup exchange moves ≤ |found| vector rows instead of the whole
    // graph's dst view (N·m rows of ~1 KB — the insert tail's dominant
    // exchange at scale). Dedup-after-gate ≡ gate-after-dedup: (id →
    // vec, nrm) is functional on edge rows, every duplicate carries the
    // identical payload.
    val ranked = rankBeam(walked, m)
      .localCheckpoint(eager = false) // id gate + the vec re-attach
    val needed = nodes
      .join(broadcast(ranked.select(col("id")).distinct()), Seq("id"),
        "left_semi")
      .dropDuplicates("id")
    val found = ranked.join(needed, Seq("id"))
      .localCheckpoint(eager = false) // forward + back edges
    // forward edges carry the found neighbors' vectors straight off the
    // node view; back edges carry the batch's own
    val fwd = found
      .select(col("qid").as("src"), col("id").as("dst"),
        col("score").as("score_cos"), col("vec").as("dst_vec"),
        col("nrm").as("dst_norm"))
    val back = found
      .join(broadcast(bq), Seq("qid"))
      .select(col("id").as("src"), col("qid").as("dst"),
        col("score").as("score_cos"), col("qvec").as("dst_vec"),
        col("qnorm").as("dst_norm"))
    val touched = back.select(col("src")).distinct()
      .localCheckpoint(eager = false) // semi consumer + superseded union
    val recapped = topM(
      graph.join(broadcast(touched), Seq("src"), "left_semi")
        .drop("b")
        .unionByName(back), m)
    val delta = fwd.unionByName(recapped)
      .withColumn("b", srcBucket(col("src"), nBuckets))
    (delta, touched.unionByName(bq.select(col("qid").as("src"))).distinct())
  }

  /** DELETE/ERASURE maintenance — remove `doomed` ids from the graph with
    * DiskANN-style navigability repair: every edge row whose src OR dst
    * is doomed is physically dropped (erasure IS the operation — the
    * doomed vectors leave the artifact with their rows), and each live
    * in-neighbor `s` of a doomed node `d` is re-wired through the BRIDGE
    * candidates `s → out(d)` (the Vamana/FreshDiskANN delete-consolidation
    * step: 2-hop targets through the deleted node, rescored EXACTLY off
    * vectors already carried on `d`'s own out-edge rows), then re-capped
    * to out-degree ≤ m against its surviving edges.
    *
    * `srcVecs` supplies the touched in-neighbors' own vectors for the
    * bridge rescoring — (`id`, `vec`, `nrm`) rows, e.g. [[vecTable]] over
    * the corpus (batch form) or the maintained vec sidecar (streamed
    * form); only the ≤ |doomed|·in-degree touched ids are read from it
    * (broadcast semi-gating — never a corpus shuffle, and never a doomed
    * row: touched srcs are live by construction).
    *
    * Scale shape: `doomed` and `touched` are broadcast slivers; the graph
    * passes one anti join unshuffled; repair work ∝ |doomed|·m². */
  def remove(graph: DataFrame, doomed: DataFrame, srcVecs: DataFrame,
      m: Int = 16, nBuckets: Int = DefaultBuckets): DataFrame = {
    val (delta, gone) = removeDelta(graph, doomed, srcVecs, m, nBuckets)
    graph.join(broadcast(gone), Seq("src"), "left_anti")
      .unionByName(delta)
  }

  /** [[remove]]'s change set (the [[insertDelta]] convention):
    * `(delta, gone)` — `delta` holds the repaired edge rows of the
    * surviving touched in-neighbors, `gone` the src ids to supersede
    * (doomed ∪ touched). `remove ≡ graph antijoin gone ∪ delta`. */
  def removeDelta(graph: DataFrame, doomed: DataFrame, srcVecs: DataFrame,
      m: Int = 16, nBuckets: Int = DefaultBuckets): (DataFrame, DataFrame) = {
    val dmd = doomed.select(col(doomed.columns.head).as("__d")).distinct()
      .localCheckpoint(eager = false) // four broadcast consumers
    // live in-neighbors' edges INTO doomed nodes — the repair set
    val inEdges = graph
      .join(broadcast(dmd), col("dst") === col("__d"), "left_semi")
      .join(broadcast(dmd), col("src") === col("__d"), "left_anti")
      .select(col("src"), col("dst"))
      .localCheckpoint(eager = false) // touched ids + the bridge join
    val touched = inEdges.select(col("src")).distinct()
      .localCheckpoint(eager = false) // semi/anti consumers + gone union
    // doomed nodes' out-edges to LIVE dsts: bridge targets, vectors
    // already carried on the edge rows — no corpus access
    val doomedOut = graph
      .join(broadcast(dmd), col("src") === col("__d"), "left_semi")
      .join(broadcast(dmd), col("dst") === col("__d"), "left_anti")
      .select(col("src").as("__via"), col("dst"), col("dst_vec"),
        col("dst_norm"))
    val sv = srcVecs
      .select(col("id").as("src"), col("vec").as("src_vec"),
        col("nrm").as("src_norm"))
      .join(broadcast(touched), Seq("src"), "left_semi")
    val bridges = inEdges.withColumnRenamed("dst", "__via")
      .join(doomedOut, Seq("__via")).drop("__via")
      .filter(col("src") =!= col("dst"))
      .dropDuplicates("src", "dst")
      .join(broadcast(sv), Seq("src"))
    // surviving edges of the touched srcs (doomed dsts dropped) ∪ scored
    // bridges, re-capped; bridge rows that duplicate a surviving edge
    // carry the identical exact cosine, so the dedup is value-stable
    val kept = graph.join(broadcast(touched), Seq("src"), "left_semi")
      .join(broadcast(dmd), col("dst") === col("__d"), "left_anti")
      .select(col("src"), col("dst"), col("score_cos"), col("dst_vec"),
        col("dst_norm"))
    val repaired = topM(
      kept.unionByName(scoreEdges(bridges).select(col("src"), col("dst"),
          col("score_cos"), col("dst_vec"), col("dst_norm")))
        .dropDuplicates("src", "dst"), m)
    val delta = repaired.withColumn("b", srcBucket(col("src"), nBuckets))
    (delta,
      touched.unionByName(dmd.select(col("__d").as("src"))).distinct())
  }

  /** (`id`, `vec`, `nrm`) projection of a corpus — [[remove]]'s
    * `srcVecs` contract in the batch form. */
  def vecTable(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    emb.select(col(idCol).as("id"), col(vecCol).as("vec"),
      norm(col(vecCol)).as("nrm"))

  /** Frontier-id count above which a round stops pushing literal
    * bucket/src-IN filters and expands through the broadcast join alone:
    * the IN list is planning-cost (a 38k-literal predicate measured ~19 s
    * of the q_knn_graph_incr insert before this cap) and driver state —
    * both fine for serving panels (|Q|·ef in the hundreds), both wrong
    * for bulk insertion's |batch|·ef frontiers. Above the cap the graph
    * side is filtered only by the broadcast hash join (scan-side
    * semi-gating — still never a corpus shuffle). */
  val MaxLiteralFrontier = 2048

  private def walkFrom(queries0: DataFrame, entry: DataFrame,
      graph: DataFrame, k: Int, ef: Int, iters: Int,
      nBuckets: Int): DataFrame = {
    require(k >= 1 && ef >= k, s"need ef >= k >= 1: ef=$ef k=$k")
    rankBeam(
      walkBeam(queries0, initBeam(queries0, entry), graph, ef, iters,
        nBuckets), k)
  }

  // the query's own node (when it IS in the graph) stays in the beam:
  // it is the best navigation anchor — its out-edges ARE the answer
  // neighborhood, and dropping it strands a query that happens to be
  // an entry point with only far-cluster anchors (found the hard way:
  // a digest-ranked entry that was also a query walked to nothing).
  // Self is excluded from the RESULT ranks ([[rankBeam]]), never from
  // the walk.
  //
  // Output is NARROW (qid, id, score): the candidate's vector is read
  // for the one dot product and dropped — beams cross every
  // union/dedup/top-ef exchange at ~24 B/row instead of carrying the
  // dim-sized vector (guide §2.3; measured ~1.1 GB → ~0.1 GB on the
  // bulk-insertion rows). Insertion re-attaches vectors once, from the
  // graph's own dst rows ([[dstNodes]]).
  private def scoreCand(queries: DataFrame, cand: DataFrame): DataFrame =
    cand.join(broadcast(queries), Seq("qid"))
      .select(col("qid"), col("id"),
        (dot(col("qvec"), col("vec")) / (col("qnorm") * col("nrm")))
          .as("score"))

  private def wq = Window.partitionBy(col("qid"))
    .orderBy(col("score").desc, col("id"))

  /** Score an entry frame (id, vec, nrm) against every query — the
    * initial beam of a [[walkBeam]]. One cross-join projection: the
    * query frame already carries qvec/qnorm, so re-joining it (the old
    * shape) was a wasted broadcast join per walk start. Output narrow
    * (qid, id, score) — the [[scoreCand]] discipline. */
  private def initBeam(queries: DataFrame, entry: DataFrame): DataFrame =
    queries.crossJoin(entry)
      .select(col("qid"), col("id"),
        (dot(col("qvec"), col("vec")) / (col("qnorm") * col("nrm")))
          .as("score"))

  /** Per-query top-k of a beam, self excluded: (qid, rank, id, score). */
  private def rankBeam(beam: DataFrame, k: Int): DataFrame =
    beam.filter(col("qid") =!= col("id"))
      .withColumn("rank", row_number().over(wq))
      .filter(col("rank") <= k)

  /** The (id, vec, nrm) node view OF a graph's dst rows — every id a
    * walk can ever surface (entries and expansions are both dst rows),
    * so an inner-join vector re-attach against it is total. UN-deduped:
    * the consumer ([[insertDeltaBeam]]) semi-gates to the found ids
    * FIRST and dedups the sliver, so the per-id dedup exchange never
    * moves the whole graph (guide §2.3). */
  private def dstNodes(graph: DataFrame): DataFrame =
    graph.select(col("dst").as("id"), col("dst_vec").as("vec"),
      col("dst_norm").as("nrm"))

  /** Beam-row count under which a walk runs in LOCAL mode: the beam is
    * held on the driver ([(qid, id, score)] triples, ≤ this many rows —
    * the same bounded-driver-state license as the frontier collect the
    * distributed rounds already do) and each round is ONE job. Mutable
    * ONLY so the parity spec can force the distributed path on a small
    * corpus; production code never writes it. */
  private[graft] var LocalWalkCap: Int = 4 * MaxLiteralFrontier

  /** SQLOrderingUtil.compareDoubles semantics (what `sort_array` uses on
    * a struct's double field): `==` first so -0.0 ties 0.0, then
    * Double.compare (NaN equal to NaN, above everything). */
  private def cmpDouble(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** Driver-side replica of the distributed top-ef aggregation:
    * value-dedup of (id, score) per qid (duplicates are bit-identical by
    * construction — a (qid, id) score is a deterministic function of the
    * pair), sort by (−score, id) under [[cmpDouble]] (the exact
    * `sort_array(struct(n, i))` order), keep ef. Output sorted
    * (qid, −score, id) for run-to-run determinism. */
  private def topEfLocal(rows: Array[(Long, Long, Double)],
      ef: Int): Array[(Long, Long, Double)] = {
    val ord = new Ordering[(Long, Double)] {
      def compare(x: (Long, Double), y: (Long, Double)): Int = {
        val c = cmpDouble(-x._2, -y._2)
        if (c != 0) c else java.lang.Long.compare(x._1, y._1)
      }
    }
    rows.groupBy(_._1).toArray.sortBy(_._1).iterator.flatMap {
      case (qid, g) =>
        g.map(t => (t._2, t._3)).distinct.sorted(ord).take(ef)
          .map { case (id, s) => (qid, id, s) }
    }.toArray
  }

  private val beamSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("qid",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("score",
      org.apache.spark.sql.types.DoubleType, nullable = false)))

  private def localBeamDF(spark: org.apache.spark.sql.SparkSession,
      beam: Array[(Long, Long, Double)]): DataFrame = {
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(beam.map(t =>
        org.apache.spark.sql.Row(t._1, t._2, t._3)): _*)
    spark.createDataFrame(rows, beamSchema)
  }

  /** The expand-score-prune beam loop over ONE graph (or one layer of a
    * [[buildLayers]] hierarchy): `beam0` is a scored candidate frame
    * (qid, id, score) — a cross-joined entry set, or the previous
    * layer's surviving beam in a layered descent. Returns the final
    * ≤ ef-per-query beam, same shape (so descents compose).
    *
    * Two modes, identical results (parity spec-pinned):
    *
    * DISTRIBUTED (bulk insertion — |batch|·ef beams): per round ONE
    * exchange and ONE job. The dedup + rank-window pair (two exchanges)
    * is fused into a single per-qid aggregation — `collect_set` of
    * (−score, id) structs dedups exact duplicates map-side and
    * `sort_array`+`slice` keeps the top ef, with state bounded by
    * ef·(m+1) structs per query by construction. The per-round
    * checkpoint is LAZY and the frontier collect doubles as its
    * materializing action. Negating the score for the ascending struct
    * sort preserves the exact (score desc, id asc) order — IEEE negation
    * is a sign flip (the only nuance is a ±0.0 tie, which cannot change
    * which ids survive).
    *
    * LOCAL (serving panels, layered descents — beam ≤ [[LocalWalkCap]]
    * rows): the distributed round's bounded frontier take doubles as
    * the mode probe — when the taken beam fits the cap, the walk flips
    * to driver-held beams (the same bounded-driver-state license as the
    * take itself) and each remaining round is exactly ONE job: the same
    * literal bucket/src-IN pruned scan (the byte-bound contract is
    * untouched) broadcast-joined against the beam's (qid, src) pairs as
    * a LocalRelation, scored in-plan by the same [[scoreCand]]
    * expression, the bounded (≤ |beam|·m narrow rows) result collected,
    * dedup + top-ef driver-side via [[topEfLocal]] (bit-equal to the
    * distributed aggregation). This removes the per-round
    * frontier-collect + broadcast-build + shuffle jobs for serving
    * walks (guide §2.4 — the job floor was the cost) while bulk walks
    * keep the distributed rounds at ZERO added jobs (the probe IS the
    * take they already paid; fusing it there replaced an earlier
    * standalone beam0 probe that cost bulk rows +1 job and a re-run of
    * the un-checkpointed descent chain per walk). A local beam that
    * outgrows the cap hands the remaining rounds back, distributed. */
  /** Guide §1.5 job labels: AQE (Spark 4) submits every query stage —
    * including the result — from captured-thread-local futures, so the
    * UI/listeners see no user call site; the description is the only
    * attribution that survives. Cost: a thread-local write per phase.
    * The caller's description is restored once `action` returns, so no
    * later job on the thread carries a `gann:` label. */
  private def labeled[T](df: DataFrame, s: String)(action: => T): T = {
    val sc = df.sparkSession.sparkContext
    val caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"gann:$s")
    try action finally sc.setJobDescription(caller)
  }

  /** Driver-held (qid → (qvec, qnorm)) view of a walk's query frame —
    * collected lazily ONCE (on the first LOCAL round) and shared by every
    * [[walkBeam]] over the same queries (a layered descent walks 3+
    * beams off one query frame; round 14 re-collected per walkBeam).
    * Bounded by the LocalWalkCap license: a walk only goes local when
    * |qids|·ef fits the cap. Floats widen exactly — [[DotProduct]]'s own
    * first step — so driver scores stay bit-equal. */
  private final class QueryVecs(queries: DataFrame) {
    lazy val map: java.util.HashMap[Long, (Array[Double], Double)] = {
      val m = new java.util.HashMap[Long, (Array[Double], Double)]()
      labeled(queries, "walk qLocal collect") {
        queries.select(col("qid"), col("qvec"), col("qnorm")).collect()
      }.foreach { r =>
          val v = QueryVecs.toDoubles(r.get(1))
          if (v != null) m.put(r.getLong(0), (v, r.getDouble(2)))
        }
      m
    }
  }
  private object QueryVecs {
    /** Exact widening of a collected array column; null (→ no row, the
      * [[DotProduct]] null contract) on a null array or null element. */
    def toDoubles(v: Any): Array[Double] = v match {
      case null => null
      case s: scala.collection.Seq[_] =>
        val a = new Array[Double](s.length)
        var i = 0
        val it = s.iterator
        while (it.hasNext) {
          it.next() match {
            case d: java.lang.Double => a(i) = d.doubleValue()
            case f: java.lang.Float => a(i) = f.doubleValue()
            case _ => return null
          }
          i += 1
        }
        a
      case _ => null
    }
  }

  private def walkBeam(queries: DataFrame, beam0: DataFrame,
      graph: DataFrame, ef: Int, iters: Int, nBuckets: Int,
      qVecs0: QueryVecs = null): DataFrame = {
    val qVecs = if (qVecs0 != null) qVecs0 else new QueryVecs(queries)
    def topEf(beam: DataFrame): DataFrame = beam
      .groupBy(col("qid"))
      .agg(slice(sort_array(collect_set(
        struct((-col("score")).as("n"), col("id").as("i")))), 1, ef)
        .as("__top"))
      .select(col("qid"), explode(col("__top")).as("__t"))
      .select(col("qid"), col("__t.i").as("id"),
        (-col("__t.n")).as("score"))
    // ids-gated graph view shared by both modes: small frontiers push
    // literal bucket + src-IN filters (static partition pruning on a
    // persisted graph — the GraphAnnSpec byte bound); large frontiers
    // rely on the broadcast hash join alone (see MaxLiteralFrontier).
    def gate(ids: Array[Long]): DataFrame =
      if (ids.nonEmpty && ids.length <= MaxLiteralFrontier) {
        val buckets = idBuckets(ids.toSeq, nBuckets)
        graph.filter(col("b").isin(buckets: _*) &&
          col("src").isin(ids.toSeq: _*))
      } else graph
    val spark = graph.sparkSession
    var beamDF = topEf(beam0).localCheckpoint(eager = false)
    var beamLocal: Array[(Long, Long, Double)] = null
    // BULK rounds go probe-free once probing can't pay (round 15, guide
    // §2.4): the per-round take existed to (a) probe local mode, (b) feed
    // the literal src-IN gate, (c) materialize the round checkpoint. A
    // truncated take (> 16·MaxLiteralFrontier rows) yields no gate ids,
    // and once the seen qid count alone bounds |qids|·ef over the cap the
    // flip is impossible FOREVER (a walk's qid set never grows) — so (a)
    // and (b) are dead, and (c) is already covered: under Spark 4 AQE a
    // lazy localCheckpoint finalizes every non-result stage at
    // CONSTRUCTION (toRdd → getFinalPhysicalPlan runs the exchanges), so
    // consumers re-read shuffle files, never the lineage — measured: the
    // bulk insert walk re-ran zero upstream stages without its takes.
    var canProbe = true
    var r = 1
    while (r <= iters) {
      // a local beam that outgrew the cap hands back to the distributed
      // rounds (LocalRelation re-evaluation is free — no checkpoint)
      if (beamLocal != null && beamLocal.length > LocalWalkCap) {
        beamDF = localBeamDF(spark, beamLocal)
        beamLocal = null
      }
      if (beamLocal == null) {
        // the beam is a lazily checkpointed ≤ |Q|·ef frame: this bounded
        // take supplies the frontier ids (deduped driver-side — no
        // distinct exchange per round, guide §2.4) AND is the local-mode
        // probe. Sorted ids keep the pushed IN plan deterministic.
        val taken = if (canProbe) {
          labeled(beamDF, s"walk r$r/$iters take") {
            beamDF.select(col("qid"), col("id"), col("score"))
              .limit(16 * MaxLiteralFrontier + 1).collect()
          }
        } else Array.empty[org.apache.spark.sql.Row]
        // a (possibly truncated) take whose qid subset already rules the
        // flip out rules it out for EVERY later round (qids never grow);
        // if the frontier is also too wide for the literal gate
        // (> MaxLiteralFrontier distinct ids — bulk walks sit far above
        // it and only converge further INTO their own beams), the probe
        // buys nothing any more: stop paying its job per round
        if (canProbe &&
            taken.iterator.map(_.getLong(0)).toSet.size.toLong * ef
              > LocalWalkCap &&
            (taken.length > 16 * MaxLiteralFrontier ||
              taken.iterator.map(_.getLong(1)).toSet.size
                > MaxLiteralFrontier))
          canProbe = false
        // flip only when the beam can NEVER outgrow the cap: a walk's
        // qid set never grows, so |qids|·ef bounds every later round's
        // beam — without this guard a mid-size descent beam flipped
        // local, outgrew the cap after one expansion, and flip-flopped
        // back (measured +1.3 s on q_knn_graph_layered_incr)
        if (canProbe && taken.length <= LocalWalkCap &&
            taken.iterator.map(_.getLong(0)).toSet.size.toLong * ef
              <= LocalWalkCap) {
          // the take IS the whole topEf'd beam — flip to driver-local
          // rounds, starting with THIS round's expansion below
          beamLocal = taken.map(row =>
            (row.getLong(0), row.getLong(1), row.getDouble(2)))
        } else {
          val idsAll = taken.map(_.getLong(1))
          val ids =
            if (taken.length > 16 * MaxLiteralFrontier) Array.empty[Long]
            else idsAll.distinct.sorted
          // no pre-dedup of the expansion: scoring a duplicate (qid, id)
          // is one cheap dot product, and topEf's collect_set dedups —
          // zero extra exchanges per round (guide §2.4)
          beamDF = labeled(beamDF, s"walk r$r/$iters dist") {
            val expanded = gate(ids)
              .join(broadcast(beamDF.select(col("qid"), col("id").as("src"))),
                Seq("src"))
              .select(col("qid"), col("dst").as("id"),
                col("dst_vec").as("vec"), col("dst_norm").as("nrm"))
            topEf(beamDF.unionByName(scoreCand(queries, expanded)))
              .localCheckpoint(eager = false)
          }
          r += 1
        }
      }
      if (beamLocal != null) {
        if (beamLocal.isEmpty) r = iters + 1 // every round is a no-op
        else {
          // ONE job per local round (round-15 shape; the round-14 form —
          // LocalRelation broadcast joins + an in-plan scoreCand collect —
          // still scheduled THREE jobs under Spark 4 AQE: two
          // broadcast-build futures plus the result stage). The frontier's
          // pruned out-edge rows (≤ |ids|·m — the same bounded-driver-state
          // license as the take) are collected once; the (qid ← src) fanout
          // and the cosine replicate [[scoreCand]] DRIVER-side bit-exactly:
          // the identical left-to-right IEEE dot ([[DotProduct]]'s loop,
          // float widened exactly at collection) and the identical ÷.
          // Missing qids can't occur (every beam qid is a walk query — the
          // old inner join dropped none); dim mismatch/null elements yield
          // no row, DotProduct's null contract.
          val qm = qVecs.map // forced BEFORE the round label (1 collect/walk)
          val ids = beamLocal.map(_._2).distinct.sorted
          val edges = labeled(graph, s"walk r$r/$iters local") {
            gate(ids)
              .select(col("src"), col("dst"), col("dst_vec"), col("dst_norm"))
              .collect()
          }
          val bySrc = new java.util.HashMap[Long,
            scala.collection.mutable.ArrayBuffer[(Long, Array[Double], Double)]]()
          edges.foreach { e =>
            val buf = bySrc.computeIfAbsent(e.getLong(0),
              _ => scala.collection.mutable.ArrayBuffer.empty)
            buf += ((e.getLong(1), QueryVecs.toDoubles(e.get(2)), e.getDouble(3)))
          }
          val fresh = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          beamLocal.foreach { case (qid, src, _) =>
            val out = bySrc.get(src)
            val q = qm.get(qid)
            if (out != null && q != null) {
              val qv = q._1; val qn = q._2
              out.foreach { case (dst, dv, dn) =>
                if (dv != null && dv.length == qv.length) {
                  var s = 0.0; var i = 0
                  while (i < qv.length) { s += qv(i) * dv(i); i += 1 }
                  fresh += ((qid, dst, s / (qn * dn)))
                }
              }
            }
          }
          beamLocal = topEfLocal(beamLocal ++ fresh, ef)
          r += 1
        }
      }
    }
    if (beamLocal != null) localBeamDF(spark, beamLocal) else beamDF
  }

  /** Panel recall contract (the [[Similarity.lshKnnRecallPanel]]
    * convention — a greedy walk can strand an individual query behind a
    * bad entry point by data geometry, panel recall is the stable
    * publishable statistic): ONE row (n_queries, recall_ok) where
    * recall_ok ⇔ Σ hits / Σ exact ≥ `recallBound`. */
  def knnRecallPanel(emb: DataFrame, graph: DataFrame, queryPred: Column,
      k: Int, ef: Int = 32, iters: Int = 3, entries: Int = 8,
      recallBound: Double = 0.5, nBuckets: Int = DefaultBuckets,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    recallPanel(
      searchUnordered(emb, graph, queryPred, k, ef, iters, entries,
        nBuckets, idCol, vecCol),
      Similarity.bruteForceKnn(emb, queryPred, k, idCol, vecCol),
      recallBound)

  /** [[knnRecallPanel]] for the [[buildLayers]]/[[searchLayered]]
    * hierarchy — same truth, same published statistic. */
  def layeredRecallPanel(emb: DataFrame, layers: DataFrame,
      queryPred: Column, k: Int, levels: Int = 2, ef: Int = 32,
      iters: Int = 2, efUpper: Int = 8, itersUpper: Int = 2,
      entries: Int = 8, recallBound: Double = 0.5,
      nBuckets: Int = DefaultBuckets,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    recallPanel(
      searchLayeredUnordered(emb, layers, queryPred, k, levels, ef, iters,
        efUpper, itersUpper, entries, nBuckets, idCol, vecCol),
      Similarity.bruteForceKnn(emb, queryPred, k, idCol, vecCol),
      recallBound)

  /** [[knnRecallPanel]] for [[searchFiltered]] — the truth is
    * [[Similarity.filteredKnn]] over the matching corpus (exact
    * filter-then-score), queries as given. */
  def filteredKnnRecallPanel(emb: DataFrame, graph: DataFrame,
      queryPred: Column, matchPred: Column, k: Int, ef: Int = 96,
      iters: Int = 3, entries: Int = 8, recallBound: Double = 0.5,
      nBuckets: Int = DefaultBuckets,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    recallPanel(
      searchFilteredUnordered(emb, graph, queryPred, matchPred, k, ef,
        iters, entries, nBuckets, idCol, vecCol),
      Similarity.filteredKnn(emb,
        emb.filter(matchPred).select(col(idCol)), queryPred, k, idCol,
        vecCol),
      recallBound)

  private def recallPanel(approx0: DataFrame, exact0: DataFrame,
      recallBound: Double): DataFrame = labeled(approx0, "recall panel") {
    val approx = approx0.select(col("qid"), col("neighbor_id"))
      .localCheckpoint(eager = false) // hits join + the panel count
    val exact = exact0.select(col("qid"), col("neighbor_id"))
      .localCheckpoint(eager = false)
    val hits = approx.join(exact, Seq("qid", "neighbor_id"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact"), countDistinct(col("qid")).as("nq"))
      .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
      .select(col("nq").as("n_queries"),
        (col("n_hits").cast("double") / col("n_exact").cast("double")
          >= recallBound).as("recall_ok"))
  }
}
