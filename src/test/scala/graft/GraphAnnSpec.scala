package graft

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.functions._

import graft.llm.{GraphAnn, Similarity}

/** NSW-style graph-ANN contracts: the bounded build (degree cap, no
  * all-pairs), exactness of the walk on a clustered toy corpus,
  * determinism, the driver-side/column bucket-hash pin, and the
  * prebuilt serving path's pruned-read byte bound. */
class GraphAnnSpec extends SparkTestBase {
  import spark.implicits._

  // 4 well-separated clusters of 12 vectors in 64 dims: cluster c points
  // mostly along axes 16c..16c+3 with small deterministic jitter — true
  // top-k of any member is inside its own cluster, far above noise
  private def clustered() = {
    val rows = for (c <- 0 until 4; i <- 0 until 12) yield {
      val v = Array.fill(64)(0.0)
      for (d <- 0 until 4) v(16 * c + d) = 1.0 + 0.01 * ((i * 7 + d) % 5)
      v(63 - (c * 12 + i) % 8) += 0.05 // symmetry-breaking jitter
      ((c * 12 + i).toLong, v.toSeq, s"c$c")
    }
    rows.toDF("vec_id", "embedding", "label")
  }

  test("walk over the bounded graph re-finds the exact top-k on a clustered corpus; degree <= m; deterministic") {
    val emb = clustered().localCheckpoint()
    val g = GraphAnn.buildGraph(emb, m = 8, lshBits = 4, probes = 2)
      .localCheckpoint()
    // degree bound: the graph stays m-regular-or-less by construction
    val maxDeg = g.groupBy($"src").count().agg(max($"count")).head().getLong(0)
    assert(maxDeg <= 8L, s"out-degree $maxDeg exceeds m=8")
    val exact = Similarity.bruteForceKnn(emb, $"vec_id" < 6, k = 5)
      .select($"qid", $"rank", $"neighbor_id").collect().toSeq
    def run() = GraphAnn.search(emb, g, $"vec_id" < 6, k = 5,
        ef = 24, iters = 3, entries = 8)
      .select($"qid", $"rank", $"neighbor_id").collect().toSeq
    val got = run()
    assert(got === exact,
      "the walk must re-find the exact top-5 inside well-separated clusters")
    assert(run() === got, "the walk must be deterministic")
  }

  test("panel recall contract row publishes (n_queries, recall_ok)") {
    val emb = clustered().localCheckpoint()
    val g = GraphAnn.buildGraph(emb, m = 8, lshBits = 4, probes = 2)
    val row = GraphAnn.knnRecallPanel(emb, g, $"vec_id" < 6, k = 5,
      ef = 24, iters = 3, entries = 8, recallBound = 0.7).head()
    assert(row.getLong(0) === 6L)
    assert(row.getBoolean(1))
  }

  test("labeled walk phases restore the caller's job description") {
    val emb = clustered().localCheckpoint()
    val g = GraphAnn.buildGraph(emb, m = 8, lshBits = 4, probes = 2)
      .localCheckpoint()
    val sc = spark.sparkContext
    sc.setJobDescription("caller phase")
    try {
      GraphAnn.search(emb, g, $"vec_id" < 6, k = 5, ef = 24, iters = 3,
        entries = 8).collect()
      assert(sc.getLocalProperty("spark.job.description") === "caller phase")
    } finally sc.setJobDescription(null)
  }

  test("driver-side idBuckets equals the srcBucket column (the gramBuckets pin)") {
    val ids = Seq(0L, 1L, 7L, 123456789L, -42L, Long.MaxValue)
    val fromCol = ids.toDF("src")
      .select($"src", GraphAnn.srcBucket($"src", 32).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (id <- ids)
      assert(GraphAnn.idBuckets(Seq(id), 32) === Seq(fromCol(id)),
        s"bucket mismatch for id $id")
  }

  test("insert: batch vectors become findable through forward AND back edges; degree cap holds; untouched sources byte-identical") {
    val emb = clustered().localCheckpoint()
    // corpus = clusters 0-2 plus a THIN slice of cluster 3 (so cluster 3
    // exists in the base graph and the walk can route into it); batch =
    // the rest of cluster 3 — its members' true top-k are EACH OTHER,
    // findable only through the inserted edges
    val corpus = emb.filter($"vec_id" < 38L)
    val batch = emb.filter($"vec_id" >= 38L)
    val base = GraphAnn.buildGraph(corpus, m = 8, lshBits = 4, probes = 2)
      .localCheckpoint()
    val updated = GraphAnn.insert(base, batch, m = 8, ef = 24, iters = 3,
      entries = 8).localCheckpoint()
    val maxDeg = updated.groupBy($"src").count()
      .agg(max($"count")).head().getLong(0)
    assert(maxDeg <= 8L, s"out-degree $maxDeg exceeds m=8 after insert")
    // queries across corpus (cluster 0) and batch (cluster 3 tail)
    val pred = $"vec_id" < 3L || $"vec_id" >= 44L
    val exact = Similarity.bruteForceKnn(emb, pred, k = 5)
      .select($"qid", $"rank", $"neighbor_id").collect().toSeq
    val got = GraphAnn.search(emb, updated, pred, k = 5,
        ef = 24, iters = 3, entries = 8)
      .select($"qid", $"rank", $"neighbor_id").collect().toSeq
    assert(got === exact,
      "post-insert walk must re-find exact top-5 for corpus AND batch queries")
    // untouched sources' edge rows pass through the insert byte-identical
    val touched = updated.as("u").join(base.as("o"),
        $"u.src" === $"o.src" && $"u.dst" === $"o.dst" &&
          $"u.score_cos" =!= $"o.score_cos").count()
    assert(touched === 0L, "insert must not rescore existing edges")
  }

  test("remove: doomed ids leave physically; bridge repair keeps the survivors' exact top-k; untouched sources byte-identical; degree cap holds") {
    val emb = clustered().localCheckpoint()
    val base = GraphAnn.buildGraph(emb, m = 8, lshBits = 4, probes = 2)
      .localCheckpoint()
    // erase three members of cluster 1: their in-neighbors (the rest of
    // cluster 1) must re-wire through the bridge candidates to keep each
    // other reachable
    val doomedIds = Set(13L, 14L, 15L)
    val doomed = doomedIds.toSeq.toDF("id")
    val survivors = emb.filter(!$"vec_id".isin(doomedIds.toSeq: _*))
      .localCheckpoint()
    val repaired = GraphAnn.remove(base, doomed, GraphAnn.vecTable(emb),
      m = 8).localCheckpoint()
    // physical erasure: the doomed ids appear NOWHERE in the repaired
    // graph — not as src, not as dst (their vectors ride dst rows)
    assert(repaired.filter($"src".isin(doomedIds.toSeq: _*) ||
      $"dst".isin(doomedIds.toSeq: _*)).count() === 0L)
    val maxDeg = repaired.groupBy($"src").count()
      .agg(max($"count")).head().getLong(0)
    assert(maxDeg <= 8L, s"out-degree $maxDeg exceeds m=8 after remove")
    // the walk over the repaired graph re-finds the exact top-k among
    // SURVIVORS — cluster-1 queries included (their old neighbors died)
    val pred = $"vec_id" < 3L || ($"vec_id" >= 12L && $"vec_id" < 18L &&
      !$"vec_id".isin(doomedIds.toSeq: _*))
    val exact = Similarity.bruteForceKnn(survivors, pred, k = 5)
      .select($"qid", $"rank", $"neighbor_id").collect().toSeq
    val got = GraphAnn.search(survivors, repaired, pred, k = 5,
        ef = 24, iters = 3, entries = 8)
      .select($"qid", $"rank", $"neighbor_id").collect().toSeq
    assert(got === exact,
      "post-remove walk must re-find exact top-5 among survivors")
    // untouched sources (no edge into a doomed node) pass through
    // byte-identical
    val touched = base.filter($"dst".isin(doomedIds.toSeq: _*))
      .select($"src").distinct().collect().map(_.getLong(0)).toSet
    val unaffected = (touched ++ doomedIds).toSeq
    def rows(g: org.apache.spark.sql.DataFrame) =
      g.filter(!$"src".isin(unaffected: _*))
        .select($"src", $"dst", $"score_cos").collect().toSet
    assert(rows(repaired) === rows(base),
      "remove must not rewrite sources that had no edge into a doomed node")
  }

  test("layered hierarchy: digest levels nest geometrically and deterministically; top-entry descent re-finds the exact top-k") {
    val emb = clustered().localCheckpoint()
    val layers = GraphAnn.buildLayers(emb, levels = 2, branching = 4,
      m = 8, lshBits = 4, probes = 2).localCheckpoint()
    def nodes(l: Int): Set[Long] = layers.filter($"layer" === l)
      .select($"src").distinct().collect().map(_.getLong(0)).toSet
    val (n0, n1, n2) = (nodes(0), nodes(1), nodes(2))
    assert(n2.subsetOf(n1) && n1.subsetOf(n0),
      "layer membership must nest (level >= l implies level >= l-1)")
    assert(n1.size < n0.size && n1.nonEmpty,
      s"layer 1 must be a proper, non-empty subset: ${n1.size} of ${n0.size}")
    // deterministic: same levels on rebuild
    val again = GraphAnn.buildLayers(emb, levels = 2, branching = 4,
      m = 8, lshBits = 4, probes = 2)
    assert(again.filter($"layer" === 1).select($"src").distinct()
      .collect().map(_.getLong(0)).toSet === n1)
    // per-layer degree cap
    val maxDeg = layers.groupBy($"layer", $"src").count()
      .agg(max($"count")).head().getLong(0)
    assert(maxDeg <= 8L, s"out-degree $maxDeg exceeds m=8 in some layer")
    // the descent starts ONLY from the top layer's nodes and still
    // re-finds the exact top-5
    val exact = Similarity.bruteForceKnn(emb, $"vec_id" < 6, k = 5)
      .select($"qid", $"rank", $"neighbor_id").collect().toSeq
    val got = GraphAnn.searchLayered(emb, layers, $"vec_id" < 6, k = 5,
        levels = 2, ef = 24, iters = 2, efUpper = 8, itersUpper = 2,
        entries = 4)
      .select($"qid", $"rank", $"neighbor_id").collect().toSeq
    assert(got === exact,
      "layered descent must re-find the exact top-5 on the clustered corpus")
  }

  test("insertLayers: batch nodes join exactly the layers their digest selects; layered search over the updated ladder stays exact") {
    val emb = clustered().localCheckpoint()
    val corpus = emb.filter($"vec_id" < 38L)
    val batch = emb.filter($"vec_id" >= 38L)
    val base = GraphAnn.buildLayers(corpus, levels = 2, branching = 4,
      m = 8, lshBits = 4, probes = 2).localCheckpoint()
    val updated = GraphAnn.insertLayers(base, batch, levels = 2,
      branching = 4, m = 8, ef = 24, iters = 3, entries = 8)
      .localCheckpoint()
    // membership: a batch id appears as a src of layer l iff the build
    // digest puts its level at >= l (arrival order must not matter) —
    // except a layer whose TOTAL population is < 2, which has no edge
    // rows to show (layers are edge rows; navigation-neutral by the
    // layer-0 global-entry union)
    def levelIds(df: org.apache.spark.sql.DataFrame, l: Int): Set[Long] =
      (if (l == 0) df
       else df.filter(
         pmod(xxhash64(lit("gann_level"), $"vec_id"),
           lit(math.pow(4.0, l.toDouble).toLong)) === 0))
        .select($"vec_id").collect().map(_.getLong(0)).toSet
    val batchIds = batch.select($"vec_id").collect().map(_.getLong(0)).toSet
    for (l <- 0 to 2) {
      val want = levelIds(batch, l)
      val got = updated.filter($"layer" === l).select($"src").distinct()
        .collect().map(_.getLong(0)).toSet.intersect(batchIds)
      // representable iff the base layer HAS edge rows (>= 2 corpus
      // nodes at the level) or the batch slice alone can seed a graph
      if (levelIds(corpus, l).size >= 2 || want.size >= 2)
        assert(got === want, s"layer $l batch membership mismatch")
      else assert(got.subsetOf(want), s"layer $l spurious batch members")
    }
    val maxDeg = updated.groupBy($"layer", $"src").count()
      .agg(max($"count")).head().getLong(0)
    assert(maxDeg <= 8L, s"degree $maxDeg exceeds m=8 after insertLayers")
    // queries spanning corpus and batch re-find the exact top-5
    val pred = $"vec_id" < 3L || $"vec_id" >= 44L
    val exact = Similarity.bruteForceKnn(emb, pred, k = 5)
      .select($"qid", $"rank", $"neighbor_id").collect().toSeq
    val got = GraphAnn.searchLayered(emb, updated, pred, k = 5,
        levels = 2, ef = 24, iters = 2, efUpper = 8, itersUpper = 2,
        entries = 4)
      .select($"qid", $"rank", $"neighbor_id").collect().toSeq
    assert(got === exact,
      "layered search over the updated ladder must re-find the exact top-5")
  }

  test("filtered search: the predicate gates ranks (never navigation) and matches the exact filter-then-score truth") {
    val emb = clustered().localCheckpoint()
    val g = GraphAnn.buildGraph(emb, m = 8, lshBits = 4, probes = 2)
      .localCheckpoint()
    val matchPred = $"vec_id" % 2 === 0
    val got = GraphAnn.searchFiltered(emb, g, $"vec_id" < 6, matchPred,
        k = 4, ef = 24, iters = 3, entries = 8)
      .select($"qid", $"rank", $"neighbor_id").collect().toSeq
    assert(got.nonEmpty)
    assert(got.forall(_.getLong(2) % 2 == 0),
      "every ranked neighbor must satisfy the predicate")
    val exact = Similarity.filteredKnn(emb,
        emb.filter(matchPred).select($"vec_id"), $"vec_id" < 6, k = 4)
      .select($"qid", $"rank", $"neighbor_id").collect().toSeq
    assert(got === exact,
      "filtered walk must match the exact filter-then-score truth here")
  }

  test("local driver-side beam walk ≡ the distributed walk, bit-for-bit (search, layered, insert)") {
    val emb = clustered().localCheckpoint()
    val g = GraphAnn.buildGraph(emb, m = 8, lshBits = 4, probes = 2)
      .localCheckpoint()
    val layers = GraphAnn.buildLayers(emb, levels = 2, branching = 4,
      m = 8, lshBits = 4, probes = 2).localCheckpoint()
    val corpus = emb.filter($"vec_id" < 38L).localCheckpoint()
    val batch = emb.filter($"vec_id" >= 38L)
    val base = GraphAnn.buildGraph(corpus, m = 8, lshBits = 4, probes = 2)
      .localCheckpoint()
    def all(): (Seq[org.apache.spark.sql.Row], Seq[org.apache.spark.sql.Row],
        Set[org.apache.spark.sql.Row]) = (
      GraphAnn.search(emb, g, $"vec_id" < 6, k = 5, ef = 24, iters = 3,
        entries = 8).collect().toSeq,
      GraphAnn.searchLayered(emb, layers, $"vec_id" < 6, k = 5,
        levels = 2, ef = 24, iters = 2, efUpper = 8, itersUpper = 2,
        entries = 4).collect().toSeq,
      GraphAnn.insert(base, batch, m = 8, ef = 24, iters = 3, entries = 8)
        .collect().toSet)
    val saved = GraphAnn.LocalWalkCap
    val local = all() // default cap: these beams run the LOCAL mode
    val dist =
      try { GraphAnn.LocalWalkCap = 0; all() } // force the distributed mode
      finally GraphAnn.LocalWalkCap = saved
    assert(local._1 === dist._1, "search: local beam must equal distributed")
    assert(local._2 === dist._2, "layered: local beam must equal distributed")
    assert(local._3 === dist._3, "insert: local beam must equal distributed")
  }

  test("prebuilt serving: each beam round reads only the frontier's buckets' bytes") {
    def fsBytes: Long = {
      val s = FileSystem.getGlobalStorageStatistics.get("file")
      if (s == null) 0L else s.getLong("bytesRead")
    }
    val emb = clustered().localCheckpoint()
    val tmp = java.nio.file.Files.createTempDirectory("gannfs").toString
    GraphAnn.buildGraph(emb, m = 8, lshBits = 4, probes = 2)
      .write.mode("overwrite").partitionBy("b").parquet(tmp)
    def du(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(du).sum)
      else f.length()
    val total = du(new java.io.File(tmp))
    val graph = spark.read.parquet(tmp)
    // one query, a tight beam: the touched buckets are a strict subset
    val b0 = fsBytes
    val got = GraphAnn.search(emb, graph, $"vec_id" === 0L, k = 3,
        ef = 4, iters = 2, entries = 2)
      .collect()
    val read = fsBytes - b0
    assert(got.nonEmpty)
    // the walk touches <= (entries + 2 rounds x ef) sources' buckets —
    // far fewer than all 32; reads must stay under the full-graph bytes
    // (footer slack included), proving the partition filter prunes
    assert(read < total * 3 / 4,
      s"pruned walk read $read bytes of a $total-byte graph — " +
        "partition pruning not engaged?")
  }
}
