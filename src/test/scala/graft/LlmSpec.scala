package graft

import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Multimodal, Packing, Quantize, Similarity, TextAnalysis}

/** LLM-pipeline operators not covered by a SQL oracle (hash-based and
  * LSH-based paths): planted duplicates must be found, non-duplicates must
  * not, and the multimodal plumbing must be deterministic. */
class LlmSpec extends SparkTestBase {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog and runs far away home tonight"
  private val nearDup = // one word changed → high word-3-shingle overlap
    "the quick brown fox jumps over the lazy cat and runs far away home tonight"
  private val unrelated =
    "completely different sentence about spark query engines and shuffles everywhere"

  private def docs = Seq(
    (0L, base, "s0"), (1L, nearDup, "s0"), (2L, unrelated, "s0"),
    (3L, base, "s1") // exact copy of 0, different block
  ).toDF("doc_id", "text", "source")

  test("exact dedup groups identical texts across blocks") {
    val groups = Dedup.exact(docs).collect()
    assert(groups.length === 3)
    val dupGroup = groups.find(_.getAs[Long]("n_copies") == 2).get
    assert(dupGroup.getAs[Long]("keep_id") === 0L)
    assert(Dedup.exactSurvivors(docs).as[Long].collect().toSet === Set(0L, 1L, 2L))
  }

  test("minhash LSH finds the planted near-dup and the exact dup, not the unrelated") {
    val pairs = Dedup.minhashNearDups(docs, threshold = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L))) // near-dup
    assert(pairs.contains((0L, 3L))) // exact dup: jaccard 1.0
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L)) // unrelated stays out
  }

  test("minhash LSH bucket cap bounds template-spam candidates") {
    // 200 docs sharing a 30-word template, each with ONE distinct tail
    // token: pairwise Jaccard = 27/31 ≈ 0.87 (near-identical yet distinct),
    // so exact-dedup-first does NOT collapse them and template-only band
    // buckets hold all 200 docs — C(200,2) = 19900 candidate pairs each.
    val template = (1 to 30).map(i => s"tmpl$i").mkString(" ")
    val spam = (0 until 200).map(i => (i.toLong, s"$template unique$i"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.minhashNearDups(spam, threshold = 0.6,
      maxBucket = Int.MaxValue).count()
    assert(uncapped === 19900L) // every pair found without the cap
    // cap below the cluster size: saturated buckets drop (warn-logged),
    // the candidate join is bounded, and surviving pairs are a subset
    val capped = Dedup.minhashNearDups(spam, threshold = 0.6, maxBucket = 64)
    assert(capped.count() < uncapped)
    // the default cap (4096) sits far above this cluster: nothing dropped
    val default = Dedup.minhashNearDups(spam, threshold = 0.6).count()
    assert(default === 19900L)
  }

  test("sketch erasure taxonomy: CMS subtracts exactly (linear); KMV deletes where provable and flags the rest; a stale bloom stays exact") {
    import graft.llm.Sketch
    val docs = (0L until 60L)
      .map(i => (i, s"word$i shared tok${i % 7} filler common"))
      .toDF("doc_id", "text")
    val doomed = docs.filter($"doc_id" % 10 === 6)
    val survivors = docs.filter($"doc_id" % 10 =!= 6)

    // CMS: linear ⇒ subtract ≡ rebuild over survivors, bit-identical
    val maintained = Sketch.cmsDelete(
        Sketch.cmsBuild(docs), Sketch.cmsBuild(doomed))
      .orderBy($"depth", $"bucket").collect().toSeq
    val rebuilt = Sketch.cmsBuild(survivors)
      .orderBy($"depth", $"bucket").collect().toSeq
    assert(maintained === rebuilt)

    // KMV over (group, value): unsaturated and untouched-saturated groups
    // delete exactly; a saturated group losing a RETAINED hash is flagged
    val k = 4
    val rows = // g_small: 3 values (unsaturated); g_big: 10 (saturated)
      (0 until 3).map(i => ("g_small", s"s$i")) ++
        (0 until 10).map(i => ("g_big", s"b$i"))
    val df = rows.toDF("grp", "v")
    val sk = Sketch.kmvBuild(df, "grp", "v", k)
    // value→hash map, to pick retained vs unretained victims of g_big
    val uOf = df.select($"grp", $"v", Sketch.kmvU($"v").as("u"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val bigSorted = (0 until 10).map(i => s"b$i").sortBy(v => uOf(("g_big", v)))
    val retained = bigSorted.head     // in the bottom-k
    val unretained = bigSorted.last   // above the threshold

    // delete: one value from g_small + an UNRETAINED value from g_big —
    // both groups stay exact (≡ kmvBuild over their survivors)
    val del1 = Seq(("g_small", "s1"), ("g_big", unretained)).toDF("grp", "v")
    val d1 = Sketch.kmvDelete(sk, del1, "grp", "v", k)
    assert(d1.filter($"needs_rebuild").count() === 0L)
    val want1 = Sketch.kmvBuild(
      df.filter(!($"grp" === "g_small" && $"v" === "s1") &&
        !($"grp" === "g_big" && $"v" === unretained)), "grp", "v", k)
      .orderBy($"grp", $"rnk").collect().toSeq
    assert(d1.drop("needs_rebuild").orderBy($"grp", $"rnk").collect().toSeq
      === want1)

    // delete a RETAINED hash from the saturated group: flagged, g_small
    // still exact
    val del2 = Seq(("g_big", retained)).toDF("grp", "v")
    val d2 = Sketch.kmvDelete(sk, del2, "grp", "v", k)
    assert(d2.filter($"needs_rebuild").select($"grp").distinct()
      .collect().map(_.getString(0)).toSeq === Seq("g_big"))

    // a flagged group that lost its ENTIRE retained bottom-k still
    // surfaces as one null marker row — the rebuild set cannot miss it
    val del3 = bigSorted.take(k).map(("g_big", _)).toDF("grp", "v")
    val d3 = Sketch.kmvDelete(sk, del3, "grp", "v", k)
    val g3 = d3.filter($"grp" === "g_big").collect()
    assert(g3.length === 1 && g3.head.isNullAt(1) && g3.head.getBoolean(3))

    // Bloom (and the inline HLL rows): insertion-only — no subtract. The
    // bloom's READ contract survives staleness: a pre-erasure filter over
    // a post-erasure corpus is still exact (hits fall through to the
    // anti-join, misses remain no-false-negative), and a re-ingest of an
    // ERASED text is accepted as new. Rebuild is for fpp hygiene only.
    val bloom = graft.llm.Dedup.digestBloom(docs, expectedItems = 100)
    val batch = Seq((100L, "word6 shared tok6 filler common"), // erased text (doc 6)
      (101L, "word7 shared tok0 filler common"),               // still-present text
      (102L, "genuinely new content here")).toDF("doc_id", "text")
    val got = graft.llm.Dedup.incrementalNewBloom(batch, survivors, bloom)
      .orderBy($"doc_id").collect().map(_.getLong(0)).toSeq
    val want = graft.llm.Dedup.incrementalNew(batch, survivors)
      .orderBy($"doc_id").collect().map(_.getLong(0)).toSeq
    assert(got === want)
    assert(got.contains(100L) && !got.contains(101L) && got.contains(102L))
  }

  test("semantic-dedup cell rail: identity contraction on a planted mega-cell preserves the dedup output") {
    import graft.llm.Similarity
    // ONE cell holding 205 vectors: 200 bit-identical boilerplate (A),
    // 3 bit-identical near-dups of it (B, cos(A,B) ≈ 0.994 ≥ 0.9), and 2
    // orthogonal satellites (C, cos 0) — the template-spam skew the
    // cell-count law cannot prevent (k fixes the EXPECTED size, not max)
    val vA = Array(1.0, 0.0, 0.0, 0.0)
    val vB = Array(0.9, 0.1, 0.0, 0.0)
    val vC = Array(0.0, 0.0, 1.0, 0.0)
    val emb = ((0L until 200L).map((_, vA)) ++
      (200L until 203L).map((_, vB)) ++ (203L until 205L).map((_, vC)))
      .toDF("vec_id", "embedding")
    val blocked = emb.withColumn("cell", lit(0L))

    // uncapped clique: C(200,2) + C(3,2) + 200·3 A–B cross + the C–C
    // twin pair = 20504 pairs
    val full = Similarity.cosinePairsBlocked(blocked, "cell", 0.9)
    assert(full.count() === 20504L)
    // railed: 199 A-stars + 2 B-stars + 1 C-star + 1 repA–repB edge =
    // 203 pairs — the quadratic is now over DISTINCT vectors (3), not
    // rows (205)
    val railed = Similarity.cosinePairsBlocked(blocked, "cell", 0.9,
      maxCell = 32)
    assert(railed.count() === 203L)

    // the contracted pair set is connectivity-equivalent: the WHOLE
    // semantic-dedup output (groups, diversity-rule reps, kept flags) is
    // bit-identical to the unrailed form
    val assign = emb.select($"vec_id", lit(0L).as("cell"),
      ($"vec_id".cast("double") / 1000.0).as("centroid_sim"))
    def out(maxCell: Int) =
      Similarity.semanticDedupFromAssign(emb, assign, 0.9, maxCell = maxCell)
        .orderBy($"vec_id").collect().toSeq
    assert(out(32) === out(0))
  }

  test("semantic-dedup cell rail: a genuinely diverse over-cap cell drops its rep join, surfaced, stars survive") {
    import graft.llm.Similarity
    // 40 DISTINCT near-parallel vectors (every pair ≥ threshold) plus one
    // exact-duplicate pair, in one cell, rail at 16: distinct reps = 41
    // > 16, so the rep join drops (observe-surfaced) — but the identity
    // star still dedups the exact duplicates
    val diverse = (0L until 40L).map(i => (i, Array(1.0, i * 1e-6, 0.0)))
    val twins = Seq((100L, Array(0.0, 0.0, 1.0)), (101L, Array(0.0, 0.0, 1.0)))
    val emb = (diverse ++ twins).toDF("vec_id", "embedding")
    val blocked = emb.withColumn("cell", lit(0L))
    val railed = Similarity.cosinePairsBlocked(blocked, "cell", 0.9,
      maxCell = 16).collect().toSeq
    assert(railed.map(r => (r.getLong(0), r.getLong(1))) === Seq((100L, 101L)))
    // the membership contract degrades gracefully: every id still
    // classified, only the twins form a group
    val assign = emb.select($"vec_id", lit(0L).as("cell"),
      ($"vec_id".cast("double") / 1000.0).as("centroid_sim"))
    val sd = Similarity.semanticDedupFromAssign(emb, assign, 0.9,
      maxCell = 16).orderBy($"vec_id").collect().toSeq
    assert(sd.size === 42)
    assert(sd.count(_.getBoolean(3) == false) === 1) // one dropped twin
  }

  test("simhash: exact dup at hamming 0; unrelated beyond threshold") {
    val pairs = Dedup.simhashNearDups(docs, maxHamming = 3)
      .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Int)].collect()
    val exact = pairs.find(p => p._1 == 0L && p._2 == 3L)
    assert(exact.exists(_._3 === 0))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("simhash candidates bounded under single-band skew (Manku tables)") {
    // 120 signatures that all share the same low 16 bits but are otherwise
    // far apart (hamming >> 3). The old 4x16-bit single-band scheme makes
    // every pair a candidate (C(120,2) = 7140 join rows); the
    // combination-block index needs >= 3 agreeing ~11-bit blocks, so the
    // shared 16 bits alone can't create a candidate. Deterministic seed.
    val rnd = new scala.util.Random(7L)
    val sigs = (0 until 120).map { i =>
      (i.toLong, (rnd.nextLong() << 16) | 0xBEEFL)
    }.toDF("id", "sig")
    val nCands = Dedup.simhashCandidates(sigs, maxHamming = 3).count()
    assert(nCands <= 10, s"skewed band produced $nCands candidates")
    // and completeness still holds: a genuinely close pair IS a candidate
    val close = Seq((0L, 0x0123456789abcdefL), (1L, 0x0123456789abcdccL)) // hamming 3
      .toDF("id", "sig")
    val found = Dedup.simhashCandidates(close, maxHamming = 3).collect()
    assert(found.length === 1 && found.head.getAs[Int]("hamming") === 3)
  }

  test("md5 token-hash kernel: bit-identical to the composable Column form") {
    // edge inventory: empty, whitespace-only, tabs/newlines, leading and
    // trailing runs, repeats (multiset must survive), uppercase + unicode
    val texts = Seq(
      "", "   ", "\t\n ", "  leading run", "trailing run  ", "a a a b",
      "The QUICK Brown  FOX", "unicode ÉΛ Ωmega STRASSE ß", base, nearDup,
      unrelated).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = texts.toDF("id", "text")
    val got = df.select($"id",
        graft.expr.Md5TokenHashes($"text").as("h"),
        Dedup.simhashPortable($"text").as("sig"))
    val want = df.select($"id",
        transform(filter(split(lower(trim($"text")), "\\s+"), w => w =!= lit("")),
          t => shiftleft(conv(substring(md5(t), 1, 8), 16, 10).cast("long"), 32)
            .bitwiseOR(conv(substring(md5(t), 9, 8), 16, 10).cast("long"))).as("h"),
        Dedup.simhashPortableColumns($"text").as("sig"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      got.join(want, Seq("id")).collect().mkString("\n"))
  }

  test("simhash portable family: planted dup found, hamming matches both families' rules") {
    val pairs = Dedup.simhashNearDups(docs, maxHamming = 3,
        sigFn = Dedup.simhashPortable)
      .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Int)].collect()
    assert(pairs.exists(p => p._1 == 0L && p._2 == 3L && p._3 == 0))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("ngram jaccard blocks by key: cross-block exact dup not compared") {
    val pairs = Dedup.ngramJaccardPairs(docs, "source", n = 3, threshold = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.contains((0L, 3L))) // different block — by design
  }

  test("exact-substring pairs: shared verbatim window found, paraphrase not") {
    val spanA = (1 to 25).map(i => s"w$i").mkString(" ")  // 25-token span
    val corpus = Seq(
      (0L, s"intro text $spanA outro one"),   // shares the span with 1
      (1L, s"different beginning $spanA and a different end"),
      (2L, "a wholly unrelated document with its own twenty tokens or so here now")
    ).toDF("doc_id", "text")
    val got = Dedup.exactSubstringPairs(corpus, windowTokens = 20)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(got === Set((0L, 1L)))
    // a window shared by the whole corpus is boilerplate: maxDf prunes it
    val viral = (0 until 10).map(i => (i.toLong, s"prefix$i $spanA"))
      .toDF("doc_id", "text")
    val pruned = Dedup.exactSubstringPairs(viral, windowTokens = 20, maxDf = 5)
    assert(pruned.count() === 0)
  }

  test("media exact dedup: identical bytes collapse, near-identical don't") {
    // raw bytes (incl. non-UTF8 0xFF) — dedup must be byte-level, not text
    val blobA = Array[Byte](1, 2, -1, 4)
    val blobB = Array[Byte](1, 2, -1, 5) // 1 byte off blobA
    val media = Seq(
      (10L, blobA), (11L, blobA.clone()), (12L, blobB)
    ).toDF("media_id", "media")
    val got = graft.llm.Multimodal.dedupExact(media)
      .select($"n_copies", $"canonical_id").as[(Long, Long)]
      .collect().toSet
    assert(got === Set((2L, 10L), (1L, 12L)))
  }

  test("media near-dup: re-encoded duplicate caught (exact dedup misses it); unrelated media don't pair") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (0L, base, "en", "s", base.length.toLong),
      // "re-encode": content repeated — different bytes and md5, but the
      // byte-bucket histogram is invariant under repetition
      (1L, base + base, "en", "s", 2L * base.length),
      (2L, "zzz 000 111 222 333 444 555 zzz qqq", "en", "s", 35L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val media = Multimodal.mediaFromDocuments(docs)
    // exact digest dedup is blind to the re-encode: three singleton groups
    val exact = Multimodal.dedupExact(media).collect()
    assert(exact.length === 3 && exact.forall(_.getAs[Long]("n_copies") == 1L))
    // perceptual near-dup catches exactly the planted pair, score ≈ 1
    val near = Multimodal.dedupNear(media)
      .as[(Long, Long, Double)].collect().toList
    assert(near.map(p => (p._1, p._2)) === List((0L, 1L)), s"got $near")
    assert(near.head._3 >= 0.9995)
  }

  test("media frame overlap: a grid-aligned clip shares its sampled frames; off-grid and unrelated media don't pair") {
    // 300 distinct-ish bytes: frames at different offsets never repeat
    val base = (0 until 300).map(i => ('a' + (i * 7 + i / 26) % 26).toChar).mkString
    def row(id: Long, t: String) = (id, t, "en", "s", t.length.toLong)
    val docs = Seq(
      row(1L, base),
      row(2L, "completely unrelated media content " * 8),
      row(3L, base.substring(64)),  // clip at 64 = frameBytes*everyNth: grid-aligned
      row(4L, base.substring(32)))  // clip at 32: sampled frames off the original's grid
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Multimodal.frameOverlap(Multimodal.mediaFromDocuments(docs),
        frameBytes = 32, everyNth = 2)
      .as[(Long, Long, Long)].collect().toList.sorted
    // clip 3: clip frame j (j even) sits at original offset 64+32j =
    // original frame 2+j — even, so sampled: clip length 236 → frames
    // 0..6, sampled {0,2,4,6} → 4 shared. clip 4's sampled frames land on
    // ODD original indices — never sampled, zero overlap.
    assert(got === List((1L, 3L, 4L)), s"got $got")
  }

  test("media clip containment: content-defined chunks catch the OFF-grid clip the frame grid misses") {
    // multiplicative-hash base: enough entropy that ~len/32 cut points
    // fire (the frame-overlap spec's linear base yields just one)
    val base = (0 until 300)
      .map(i => ('a' + ((i.toLong * 2654435761L >> 7) % 26).toInt).toChar)
      .mkString
    def row(id: Long, t: String) = (id, t, "en", "s", t.length.toLong)
    val docs = Seq(
      row(1L, base),
      row(2L, "completely unrelated media content " * 8),
      row(4L, base.substring(32)))  // offset 32: OFF the 64-byte sampling grid
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val media = Multimodal.mediaFromDocuments(docs)
    // the fixed grid is blind to it (the frameOverlap spec's negative case)
    val grid = Multimodal.frameOverlap(media, frameBytes = 32, everyNth = 2)
      .as[(Long, Long, Long)].collect().toList
    assert(grid === Nil, s"grid should miss the off-grid clip: $grid")
    // content-defined cut points re-derive inside the clip: interior
    // chunk digests match exactly; unrelated media shares nothing
    val got = Multimodal.clipContainment(media)
      .as[(Long, Long, Long)].collect().toList.sorted
    assert(got.map(p => (p._1, p._2)) === List((1L, 4L)), s"got $got")
    assert(got.head._3 >= 2L, s"expected >= 2 shared interior chunks: $got")
  }

  test("chunkTable rolling hash ≡ recompute-per-position reference on random bytes") {
    // the O(1)-per-byte rolling update must produce BIT-IDENTICAL cut
    // points (hence identical chunk digests) to the O(window)-per-byte
    // recompute form it replaced — this reference IS that replaced form
    val P = 31L; val M = 1048573L; val window = 8; val divisor = 32
    def refChunks(b: Array[Byte]): Set[String] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val n = b.length
      val bounds = scala.collection.mutable.ArrayBuffer(0)
      var i = window
      while (i <= n) {
        var acc = 0L
        var j = i - window
        while (j < i) { acc = (acc * P + (b(j) & 0xffL)) % M; j += 1 }
        if (acc % divisor == 0 && bounds.last != i) bounds += i
        i += 1
      }
      if (bounds.last != n) bounds += n
      bounds.iterator.zip(bounds.iterator.drop(1)).map { case (p, q) =>
        md.reset()
        md.digest(java.util.Arrays.copyOfRange(b, p, q))
          .map("%02x".format(_)).mkString
      }.toSet
    }
    val rnd = new scala.util.Random(20260816L)
    // lengths straddling the window edge (sub-window media degenerate to
    // one whole-media chunk) plus a spread of longer random blobs
    val blobs = (Seq(1, 3, 7, 8, 9) ++ (1 to 10).map(_ => 64 + rnd.nextInt(1500)))
      .zipWithIndex.map { case (len, id) =>
        val a = new Array[Byte](len); rnd.nextBytes(a); (id.toLong, a) }
    val media = blobs
      .map { case (id, a) => (id, a, "bin", a.length, 1) }
      .toDF("media_id", "media", "format", "width", "height")
    val got = Multimodal.chunkTable(media).as[(Long, String)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val want = blobs.map { case (id, a) => id -> refChunks(a) }.toMap
    assert(got === want)
  }

  test("media near-dup incremental: batch probes persisted features; stale corpus copy of a re-ingested id excluded") {
    val c = "shared content words here zz"
    def docsOf(rows: (Long, String)*) = rows
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // corpus: id 1 (a STALE copy — the batch re-ingests id 1) and id 2,
    // both with content c. Without the stale-copy exclusion the verify
    // join fans out over id 1's two feature rows and the (1, 2) pair
    // would surface twice.
    val corpusFeats = Multimodal.extractFeatures(
        Multimodal.mediaFromDocuments(docsOf(1L -> c, 2L -> c)))
      .select($"media_id", $"features")
    val got = Multimodal.dedupNearIncremental(
        Multimodal.mediaFromDocuments(docsOf(1L -> c)), corpusFeats)
      .as[(Long, Long, Double)].collect().toList
    assert(got.map(p => (p._1, p._2)) === List((1L, 2L)), s"got $got")
    assert(got.head._3 >= 0.9995)
  }

  test("clip containment incremental: stale corpus copy of a re-ingested id excluded; batch-internal orientation") {
    val base = (0 until 300)
      .map(i => ('a' + ((i.toLong * 2654435761L >> 7) % 26).toInt).toChar)
      .mkString
    def row(id: Long, t: String) = (id, t, "en", "s", t.length.toLong)
    // corpus: id 1 = the original, id 2 = a STALE copy of what the batch
    // re-ingests as id 1 (same text). Batch: re-ingested id 1 (full
    // text) + two off-grid clips (ids 50 < 60, same clip text).
    val corpus = Multimodal.mediaFromDocuments(
      Seq(row(1L, base), row(2L, base)).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val batch = Multimodal.mediaFromDocuments(
      Seq(row(1L, base), row(50L, base.substring(32)), row(60L, base.substring(32)))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val got = Multimodal.clipContainmentIncremental(batch,
        Multimodal.chunkTable(corpus))
      .as[(Long, Long, Long)].collect().toList
      .map(p => (p._1, p._2)).sorted
    // id 1's stale corpus copy is excluded (no (1,1) self-pair, and its
    // chunks don't double-count); batch-internal pair keeps (50, 60)
    // orientation; clips pair with BOTH the corpus original (2) and the
    // re-ingested batch version (1, via batch-internal a<b ordering)
    assert(got === List((1L, 2L), (50L, 60L), (1L, 50L), (1L, 60L),
      (50L, 2L), (60L, 2L)).sorted, s"got $got")
  }

  test("mix reweight: the above-min-mean source gains weight, the min source never does; budgets follow") {
    // source A: long wordy docs (high probe score), source B: terse ones.
    // Scores are synthetic here (the catalog row trains the real probe):
    // the update rule is what this pins.
    val docs = (0L until 20L).map { i =>
      val src = if (i % 2 == 0) "A" else "B"
      (i, s"doc $i body", "en", src, 10L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val scores = (0L until 20L).map(i =>
      (i, if (i % 2 == 0) 0.9 else 0.1)).toDF("doc_id", "score")
    val got = graft.llm.Sampling.reweightMixture(docs, scores,
        totalBudget = 40L, rounds = 3,
        costCol = org.apache.spark.sql.functions.lit(2L))
      .as[(Int, String, Long, Long, Long, Long)].collect()
      .groupBy(_._2).view.mapValues(_.sortBy(_._1)).toMap
    val a = got("A"); val b = got("B")
    // A's kept mean (900000) exceeds B's (100000) every round: A's weight
    // strictly increases, B sits at the min -> factor 1e6 -> unchanged
    assert(a.map(_._6).toList === a.map(_._6).toList.sorted)
    assert(a(0)._6 > 1000000L && a(2)._6 > a(0)._6)
    assert(b.forall(_._6 === 1000000L), s"min source must not move: $b")
    // budgets split the total (integer floor: sum <= total) and shift
    // toward A as its weight grows
    (a zip b).foreach { case (ra, rb) =>
      assert(ra._3 + rb._3 <= 40L)
    }
    assert(a(2)._3 > a(0)._3 && b(2)._3 < b(0)._3)
    // round-1 budgets are the uniform split; costs of 2 => n_kept = b/2
    assert(a(0)._3 === 20L && b(0)._3 === 20L)
    assert(a(0)._4 === 10L && b(0)._4 === 10L)
  }

  test("bloom incremental dedup: exact vs plain form; empty corpus = all new") {
    val corpus = (0L until 50L).map(i => (i, s"corpus text $i")).toDF("doc_id", "text")
    // batch: 10 dups of corpus texts, 20 new, plus batch-internal dups
    val batch = ((100L until 110L).map(i => (i, s"corpus text ${i - 100}")) ++
      (200L until 220L).map(i => (i, s"new text ${i % 210}"))).toDF("doc_id", "text")
    val plain = Dedup.incrementalNew(batch, corpus)
      .as[(Long, Long)].collect().toSet
    val bloom = Dedup.digestBloom(corpus, expectedItems = 50)
    val fast = Dedup.incrementalNewBloom(batch, corpus, bloom)
      .as[(Long, Long)].collect().toSet
    assert(fast === plain)
    // a null bloom (empty corpus) must mean "nothing seen", not "drop all"
    val emptyCorpus = corpus.filter(lit(false))
    val none = Dedup.incrementalNewBloom(batch, emptyCorpus, bloom = null)
      .as[(Long, Long)].collect().toSet
    val noneExpected = Dedup.incrementalNew(batch, emptyCorpus)
      .as[(Long, Long)].collect().toSet
    assert(none === noneExpected)
  }

  test("bloom incremental dedup: 10-trial fuzz incl. saturated high-fpp blooms") {
    // undersized expectedItems saturates the bloom (fpp → high), forcing
    // false positives through the anti-join path — result must stay exact
    val rng = new scala.util.Random(7)
    (1 to 10).foreach { trial =>
      val corpusTexts = (0 until 30 + rng.nextInt(40)).map(i => s"c$trial-$i")
      val corpus = corpusTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val batchTexts = (0 until 40).map { _ =>
        if (rng.nextBoolean()) corpusTexts(rng.nextInt(corpusTexts.size))
        else s"n$trial-${rng.nextInt(25)}"
      }
      val batch = batchTexts.zipWithIndex.map { case (t, i) => (1000L + i, t) }
        .toDF("doc_id", "text")
      val bloom = Dedup.digestBloom(corpus, expectedItems = 4, fpp = 0.5)
      val fast = Dedup.incrementalNewBloom(batch, corpus, bloom)
        .as[(Long, Long)].collect().toSet
      val plain = Dedup.incrementalNew(batch, corpus)
        .as[(Long, Long)].collect().toSet
      assert(fast === plain, s"trial $trial")
    }
  }

  test("cluster canonicals: longest member wins, singletons survive as-is") {
    val docs = Seq(
      (1L, "short", 5L), (2L, "longer copy", 11L), (3L, "longest copy!", 13L),
      (4L, "unrelated", 9L)
    ).toDF("doc_id", "text", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.clusterCanonicals(docs, pairs)
      .select($"doc_id", $"cluster_id", $"n_members")
      .as[(Long, Long, Long)].collect().toSet
    // component {1,2,3} labeled by min id 1, canonical = longest (doc 3);
    // doc 4 untouched by any pair → its own canonical
    assert(got === Set((3L, 1L, 3L), (4L, 4L, 1L)))
  }

  test("decontamination: benchmark overlap flagged, clean docs survive") {
    // corpus: 0 = verbatim copy of the benchmark doc, 1 = near-dup of it,
    // 2 = unrelated; benchmark = the base text
    val corpus = Seq((0L, base), (1L, nearDup), (2L, unrelated))
      .toDF("doc_id", "text")
    val bench = Seq((100L, base)).toDF("doc_id", "text")
    val got = graft.llm.Decontam.contamination(corpus, bench, n = 3,
        threshold = 0.5)
      .select($"doc_id", $"contaminated").as[(Long, Boolean)].collect().toMap
    assert(got === Map(0L -> true, 1L -> true, 2L -> false))
    // full overlap for the verbatim copy, zero for the unrelated doc
    val ratios = graft.llm.Decontam.contamination(corpus, bench, n = 3)
      .select($"doc_id", $"n_hits", $"n_grams")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(ratios(0L)._1 === ratios(0L)._2)
    assert(ratios(2L)._1 === 0L)
    val kept = graft.llm.Decontam.decontaminate(corpus, bench, n = 3,
        threshold = 0.5)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept === Set(2L))
  }

  test("chunking: window starts/lengths, short tail, tiny and empty docs") {
    val docs = Seq(
      (0L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (1L, "a b"),                                    // <= overlap-ish tiny
      (2L, ""), (3L, "   ")                           // zero tokens → no rows
    ).toDF("doc_id", "text")
    val got = TextAnalysis.chunkByTokens(docs, chunk = 4, overlap = 1)
      .orderBy($"doc_id", $"chunk_idx")
      .as[(Long, Int, Int, String)].collect().toSeq
    assert(got === Seq(
      (0L, 0, 4, "t1 t2 t3 t4"),
      (0L, 1, 4, "t4 t5 t6 t7"),   // stride 3: starts 0, 3, 6
      (0L, 2, 4, "t7 t8 t9 t10"),
      (1L, 0, 2, "a b")))          // one whole chunk, runs short
    // every token of every doc appears in at least one chunk
    val covered = got.filter(_._1 == 0L).flatMap(_._4.split(" ")).toSet
    assert(covered === (1 to 10).map(i => s"t$i").toSet)
  }

  private def vec(xs: Double*) = xs.toArray.map(_.toFloat)
  // planted near-dup pair is COLINEAR (cosine 1.0): sign(dot) equal under
  // every hyperplane, so the LSH bucket match is seed-independent.
  private def embs = Seq(
    (0L, vec(1, 0, 0, 0), 0), (1L, vec(2, 0, 0, 0), 0),
    (2L, vec(0, 1, 0, 0), 1), (3L, vec(0, 0, 1, 0), 1)
  ).toDF("vec_id", "embedding", "label")

  test("brute-force knn ranks the near-dup first") {
    val out = Similarity.bruteForceKnn(embs, $"vec_id" === 0, k = 2)
      .select($"rank", $"neighbor_id").as[(Int, Long)].collect()
    assert(out.head === ((1, 1L)))
  }

  test("lsh knn: bucket-mates found; cosine matches brute force for them") {
    val brute = Similarity.bruteForceKnn(embs, $"vec_id" === 0, k = 3)
      .select($"neighbor_id", $"score").as[(Long, Double)].collect().toMap
    val lsh = Similarity.lshKnn(embs, $"vec_id" === 0, k = 3, m = 4, dim = 4)
      .select($"neighbor_id", $"score").as[(Long, Double)].collect()
    assert(lsh.nonEmpty) // vec 1 is colinear with vec 0 — same bucket always
    lsh.foreach { case (id, s) => assert(s === brute(id)) }
  }

  test("lsh near-dups finds the planted pair") {
    val pairs = Similarity.cosineNearDups(embs, threshold = 0.95, m = 4, dim = 4)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 1L)))
  }

  test("multi-probe lsh recovers neighbors across one hyperplane, scores exact") {
    val brute = Similarity.bruteForceKnn(embs, $"vec_id" === 0, k = 3)
      .select($"neighbor_id", $"score").as[(Long, Double)].collect().toMap
    val single = Similarity.lshKnn(embs, $"vec_id" === 0, k = 3, m = 4, dim = 4)
      .select($"neighbor_id").as[Long].collect().toSet
    val probed = Similarity.lshKnn(embs, $"vec_id" === 0, k = 3, m = 4, dim = 4,
        probes = 4)
      .select($"neighbor_id", $"score").as[(Long, Double)].collect()
    // probing can only widen the candidate set, never change a score
    assert(single.subsetOf(probed.map(_._1).toSet))
    assert(probed.length >= single.size)
    probed.foreach { case (id, s) => assert(s === brute(id)) }
  }

  test("lsh recall contracts: clustered data passes per-query and panel; cap bounds the panel") {
    // 4 tight clusters of 4 colinear vectors: every vector's true top-3 are
    // its cluster-mates, and colinear vectors share an LSH bucket under any
    // hyperplane set — per-query recall is exactly 1 by construction
    val clustered = (0 until 16).map { i =>
      val c = i % 4
      val v = Array.fill(4)(0f); v(c) = (1 + i / 4).toFloat
      (i.toLong, v, c)
    }.toDF("vec_id", "embedding", "label")
    val per = Similarity.lshKnnRecall(clustered, $"vec_id" < 8, k = 3,
        m = 4, dim = 4, recallBound = 0.99)
      .as[(Long, Boolean)].collect()
    assert(per.length === 8 && per.forall(_._2), per.mkString(","))
    val panel = Similarity.lshKnnRecallPanel(clustered, $"vec_id" < 8, k = 3,
        m = 4, dim = 4, recallBound = 0.99)
      .as[(Long, Boolean)].collect()
    assert(panel === Array((8L, true)))
    // an unachievable bound must publish FALSE, not vanish
    val strict = Similarity.lshKnnRecallPanel(clustered, $"vec_id" < 8, k = 3,
        m = 4, dim = 4, recallBound = 1.01)
      .as[(Long, Boolean)].collect()
    assert(strict === Array((8L, false)))
    // capQueries: deterministic digest-sampled panel of 3
    val capped = Similarity.lshKnnRecall(clustered,
        Similarity.capQueries(clustered, $"vec_id" < 8, 3), k = 3,
        m = 4, dim = 4, recallBound = 0.99)
      .as[(Long, Boolean)].collect()
    assert(capped.length === 3 && capped.forall(_._2), capped.mkString(","))
    val capped2 = Similarity.lshKnnRecall(clustered,
        Similarity.capQueries(clustered, $"vec_id" < 8, 3), k = 3,
        m = 4, dim = 4, recallBound = 0.99)
      .as[(Long, Boolean)].collect()
    assert(capped.map(_._1).toSeq === capped2.map(_._1).toSeq) // reproducible panel
  }

  test("ivf knn: full probe equals brute force; partial probe finds cell-mates") {
    val brute = Similarity.bruteForceKnn(embs, $"vec_id" === 0, k = 3)
      .select($"neighbor_id", $"score").as[(Long, Double)].collect().toMap
    // nprobe == nCells ⇒ every cell searched ⇒ exact
    val full = Similarity.ivfKnn(embs, $"vec_id" === 0, k = 3, nCells = 2,
        nprobe = 2)
      .select($"neighbor_id", $"score").as[(Long, Double)].collect()
    assert(full.map(_._1).toSet === brute.keySet)
    full.foreach { case (id, s) => assert(s === brute(id)) }
    // nprobe=1: the colinear near-dup shares vec 0's cell (k-means cannot
    // split two identical directions at opposite corners), so it is found
    val partial = Similarity.ivfKnn(embs, $"vec_id" === 0, k = 3, nCells = 2,
        nprobe = 1)
      .select($"neighbor_id").as[Long].collect().toSet
    assert(partial.contains(1L))
    assert(partial.subsetOf(brute.keySet))
  }

  test("lsh bucket fails fast on embedding/dim mismatch") {
    val e = intercept[Exception] {
      embs.select(Similarity.lshBucket($"embedding", m = 4, dim = 64)).collect()
    }
    assert(e.getMessage.contains("does not match dim") ||
      Option(e.getCause).exists(_.getMessage.contains("does not match dim")))
  }

  test("hll uniques tracks exact within the configured rsd") {
    val df = (1 to 5000).map(i => (i.toLong, s"u${i % 700}")).toDF("event_id", "user_id")
    val r = graft.analytics.Analytics.uniques(df).head()
    val exact = r.getAs[Long]("exact_users").toDouble
    val approx = r.getAs[Long]("approx_users").toDouble
    assert(math.abs(approx - exact) / exact < 0.05) // rsd 0.01, generous margin
  }

  test("blocked cosine pairs stay within the label block") {
    val pairs = Similarity.cosinePairsBlocked(embs, "label", threshold = -1.0)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 1L), (2L, 3L)))
  }

  test("curation: language + quality gates, exact dup collapsed to survivor") {
    val en = "the quick brown fox is on the hill and it runs for the trees " * 3
    val fr = "le chat est dans la maison pour un moment et le chien dort sur le tapis " * 3
    val junk = "@@@@ #### 1234 5678 !!!! $$$$ %%%% ^^^^ &&&& ****"
    val rows = Seq((0L, en), (1L, fr), (2L, junk), (3L, en)).toDF("doc_id", "text")
    val out = graft.llm.Curation.curate(rows, lang = "en", minQuality = 0.4)
      .collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("doc_id") === 0L) // min-id survivor
    assert(out.head.getAs[Long]("n_copies") === 2L) // 0 and 3 collapsed
  }

  test("text stats: token counts, langId, quality bounds, fingerprint size") {
    val out = TextAnalysis.docStats(
      Seq((0L, "The quick brown fox is on the hill"),
          (1L, "le chat est dans la maison pour un moment"),
          (2L, ""),
          (3L, "xyzzy plugh 12345"))
        .toDF("doc_id", "text")).collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(0L).getAs[Int]("n_tokens") === 8)
    assert(out(0L).getAs[String]("lang_pred") === "en")
    assert(out(1L).getAs[String]("lang_pred") === "fr")
    assert(out(2L).getAs[Int]("n_tokens") === 0)
    assert(out(3L).getAs[String]("lang_pred") === "und")
    out.values.foreach { r =>
      val q = r.getAs[Double]("quality")
      assert(q >= 0.0 && q <= 1.0)
    }
    val fp = out(0L).getSeq[String](out(0L).fieldIndex("fingerprint"))
    assert(fp.nonEmpty && fp.forall(_.matches("[0-9a-f]{32}")) && fp == fp.sorted)
  }

  test("tokenize to ids: order preserved, OOV → 0, vocab ranked tf-then-term") {
    val corpus = Seq(
      (0L, "a b c a"),   // a×2
      (1L, "a b b"),     // a×1 b×2  → totals: a=3, b=3, c=1
      (2L, "zz a b c")   // tie a=b broken by term asc → a→1, b→2
    ).toDF("doc_id", "text")
    val vocab = TextAnalysis.vocabWithIds(TextAnalysis.vocabTopK(corpus, k = 2))
    assert(vocab.collect().map(r => r.getString(0) -> r.getInt(1)).toMap ===
      Map("a" -> 1, "b" -> 2))
    val out = TextAnalysis.tokenizeToIds(corpus, vocab).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_tokens"), r.getSeq[Int](r.fieldIndex("ids")))).toMap
    assert(out(0L) === ((4, Seq(1, 2, 0, 1)))) // c is OOV; repeats keep position
    assert(out(1L) === ((3, Seq(1, 2, 2))))
    assert(out(2L) === ((4, Seq(0, 1, 2, 0)))) // zz and c both OOV
  }

  test("multimodal: feature extraction is deterministic, unit-normalized-ish") {
    val media = Multimodal.mediaFromDocuments(
      Seq((0L, "hello world", "en", "s", 11L)).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val f1 = Multimodal.extractFeatures(media, dim = 8).collect().head
    val f2 = Multimodal.extractFeatures(media, dim = 8).collect().head
    assert(f1.getAs[Long]("n_bytes") === 11L)
    val feats = f1.getSeq[Double](f1.fieldIndex("features"))
    assert(feats === f2.getSeq[Double](f2.fieldIndex("features")))
    assert(math.abs(feats.sum - 1.0) < 1e-9) // histogram normalized by n_bytes
  }

  test("multimodal: nearest-neighbor resize down/up samples the byte grid") {
    import graft.llm.Multimodal.FakeCodec
    assert(new String(FakeCodec.resize("abcd".getBytes, 4, 1, 2, 1)) === "ac")
    assert(new String(FakeCodec.resize("ab".getBytes, 2, 1, 4, 1)) === "aabb")
    // ragged input: source index past the byte count maps to 0
    assert(FakeCodec.resize("ab".getBytes, 2, 2, 1, 2).toSeq === Seq('a'.toByte, 0.toByte))
    val media = Multimodal.mediaFromDocuments(
      Seq((0L, "hello world!", "en", "s", 12L)).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val r = Multimodal.resize(media, outW = 4, outH = 1).head()
    assert(r.getAs[Int]("width") === 4 && r.getAs[Int]("height") === 1)
    assert(new String(r.getAs[Array[Byte]]("media")) === "hlwl") // idx 0,3,6,9
  }

  test("multimodal: frame sampling covers the media with the right stride") {
    val media = Multimodal.mediaFromDocuments(
      Seq((0L, "a" * 300, "en", "s", 300L)).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val frames = Multimodal.sampleFrames(media, frameBytes = 64, everyNth = 2)
      .select($"frame_idx", length($"frame").as("len")).as[(Int, Int)].collect().sortBy(_._1)
    // 300 bytes → frames 0..3 (idx 4 past end), stride 2 → idx 0, 2
    assert(frames.map(_._1).toSeq === Seq(0, 2))
    assert(frames.forall(_._2 == 64))
  }

  test("incremental near-dups: batch-vs-corpus and batch-internal, oriented") {
    // batch = {1 (near-dup of 0), 3 (exact copy of 0)}, corpus = {0, 2}
    val batch = docs.filter($"doc_id".isin(1L, 3L))
    val corpus = docs.filter($"doc_id".isin(0L, 2L))
    val got = Dedup.incrementalNearDups(batch, corpus, threshold = 0.6)
      .select($"id_new", $"id_other").as[(Long, Long)].collect().toSet
    // batch id left for cross pairs; (smaller, larger) for internal pairs
    assert(got === Set((1L, 0L), (3L, 0L), (1L, 3L)))
  }

  test("prebuilt-table incremental near-dups matches the inline form (incl. re-ingest)") {
    // steady-state path: bands + shingles prebuilt from the corpus, batch
    // probes them — must reproduce incrementalNearDups exactly, including
    // the stale-copy exclusion when an id is re-ingested
    for (batchIds <- Seq(Set(1L, 3L), Set(0L, 1L))) {
      val batch = docs.filter($"doc_id".isin(batchIds.toSeq: _*))
      val corpus = docs.filter($"doc_id".isin(0L, 2L))
      val want = Dedup.incrementalNearDups(batch, corpus, threshold = 0.6)
        .orderBy($"id_new", $"id_other")
        .as[(Long, Long, Double)].collect().toSeq
      val got = Dedup.incrementalNearDupsPrebuilt(batch,
          Dedup.bandTable(corpus), Dedup.shingleTable(corpus), threshold = 0.6)
        .orderBy($"id_new", $"id_other")
        .as[(Long, Long, Double)].collect().toSeq
      assert(got === want, s"batch=$batchIds")
      assert(got.nonEmpty)
    }
  }

  test("incremental near-dups: re-ingested id does not fan out the verify join") {
    // id 0 exists in BOTH batch and corpus (re-ingest); without the one-row-
    // per-id guard the verify joins emit duplicated (id_new, id_other) rows
    val batch = docs.filter($"doc_id".isin(0L, 1L))
    val corpus = docs.filter($"doc_id".isin(0L, 2L))
    val rows = Dedup.incrementalNearDups(batch, corpus, threshold = 0.6)
      .select($"id_new", $"id_other").as[(Long, Long)].collect()
    assert(rows.length === rows.distinct.length, rows.mkString(","))
    assert(rows.toSet === Set((0L, 1L))) // batch-internal orientation
  }

  test("clusters: empty pair list yields empty labeling, not a crash") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.clusters(empty).count() === 0)
    // curateNearDup on a corpus with no near-dups degrades to curate
    val clean = Seq((0L, base), (2L, unrelated)).toDF("doc_id", "text")
    val got = graft.llm.Curation.curateNearDup(clean, minQuality = 0.0)
    val want = graft.llm.Curation.curate(clean, minQuality = 0.0)
    assert(got.orderBy($"doc_id").collect().toSeq
      === want.orderBy($"doc_id").collect().toSeq)
  }

  test("clusters: chain merges transitively, disjoint pairs stay separate") {
    // chain 1-2, 2-3 (diameter 2) + disjoint pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    val keep = Dedup.clusterSurvivors(pairs).as[(Long, Long)].collect().toMap
    assert(keep === Map(1L -> 3L, 10L -> 2L)) // keep_id -> n_members
  }

  test("clustersIncremental: stitched labels equal full recompute; untouched components keep labels") {
    // old graph: components {1,2,3} and {10,11}; singleton 20 unlabeled
    val oldPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val labels = Dedup.clusters(oldPairs)
    // batch: bridges {10,11} to the {1,2,3} component via (3,10), adds a
    // brand-new pair (20,21); component {10,11} must relabel to 1
    val newPairs = Seq((3L, 10L), (20L, 21L)).toDF("id_a", "id_b")
    val got = Dedup.clustersIncremental(labels, newPairs)
      .as[(Long, Long)].collect().toMap
    val full = Dedup.clusters(
      oldPairs.unionByName(newPairs)).as[(Long, Long)].collect().toMap
    assert(got === full)
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L,
      20L -> 20L, 21L -> 20L))

    // batch touching NOTHING labeled: old labels pass through unchanged
    val disjoint = Seq((30L, 31L)).toDF("id_a", "id_b")
    val got2 = Dedup.clustersIncremental(labels, disjoint)
      .as[(Long, Long)].collect().toMap
    assert(got2 === labels.as[(Long, Long)].collect().toMap
      ++ Map(30L -> 30L, 31L -> 30L))

    // new pair whose smaller id undercuts an old component min: the
    // touched component must adopt the NEW min (0), not keep 1
    val undercut = Seq((0L, 2L)).toDF("id_a", "id_b")
    val got3 = Dedup.clustersIncremental(labels, undercut)
      .as[(Long, Long)].collect().toMap
    assert(got3 === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      10L -> 10L, 11L -> 10L))
  }

  test("semanticDedupAuto cell-count law: expected cell size pinned at any scale") {
    // small corpora floor at 8 (the oracle's pinned kmK at catalog SFs)
    assert(Similarity.autoCellCount(0L, 1024L) === 8)
    assert(Similarity.autoCellCount(2000L, 1024L) === 8)
    // at scale k grows linearly with n: cells ∝ corpus, cell size pinned
    assert(Similarity.autoCellCount(1L << 20, 1024L) === 1024)
    assert(Similarity.autoCellCount(10L << 20, 1024L) === 10240)
    // ceil, not floor: a partial cell still gets its own centroid
    assert(Similarity.autoCellCount((1L << 20) + 1L, 1024L) === 1025)
  }

  test("clustersDelete: deleted bridge doc SPLITS its component; untouched components keep labels") {
    // component {1,2,3,4,5} held together by bridge 3 (chain 1-2-3-4-5),
    // plus an untouched component {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("id_a", "id_b")
    val labels = Dedup.clusters(pairs)
    val deleted = Seq(3L).toDF("doc_id")
    val got = Dedup.clustersDelete(labels, pairs, deleted)
      .as[(Long, Long)].collect().toMap
    // the bridge removal splits {1,2,3,4,5} into {1,2} and {4,5};
    // 3 itself leaves the labeling; {10,11} is untouched
    assert(got === Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L,
      10L -> 10L, 11L -> 10L))
    // ≡ full recompute over pairs with both endpoints surviving
    val retained = pairs.filter($"id_a" =!= 3L && $"id_b" =!= 3L)
    assert(got === Dedup.clusters(retained).as[(Long, Long)].collect().toMap)

    // deleting a LEAF doc (5) must not split anything: {1,2,3,4} keeps
    // label 1, and 5 drops out
    val got2 = Dedup.clustersDelete(labels, pairs, Seq(5L).toDF("doc_id"))
      .as[(Long, Long)].collect().toMap
    assert(got2 === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))

    // deleting a doc in NO component is a no-op
    val got3 = Dedup.clustersDelete(labels, pairs, Seq(99L).toDF("doc_id"))
      .as[(Long, Long)].collect().toMap
    assert(got3 === labels.as[(Long, Long)].collect().toMap)
  }

  test("windowDfDelete / indexDelete / statsDelete: maintained state equals rebuild over corpus minus deleted") {
    import graft.llm.Search
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven"),
      (4L, "alpha beta unrelated tail words here"),
      (5L, "totally different content words again")).toDF("doc_id", "text")
    val deleted = docs.filter($"doc_id" % 2 === 0)
    val survivors = docs.filter($"doc_id" % 2 =!= 0)

    // window-df: subtract the deleted docs' window counts, zeros drop
    val maintained = Dedup.windowDfDelete(
      Dedup.windowDf(docs, windowTokens = 3), deleted, windowTokens = 3)
    val rebuilt = Dedup.windowDf(survivors, windowTokens = 3)
    assert(maintained.orderBy($"h").collect().toSeq
      === rebuilt.orderBy($"h").collect().toSeq)

    // inverted index: postings cut scan-side, df/cf subtract, df=0 drops
    val old = Search.invertedIndexRaw(docs)
    val gotIdx = Search.renderIndex(
      Search.indexDelete(old, Search.invertedIndexRaw(deleted)))
    val wantIdx = Search.renderIndex(Search.invertedIndexRaw(survivors))
    assert(gotIdx.orderBy($"gram").collect().toSeq
      === wantIdx.orderBy($"gram").collect().toSeq)

    // stats sidecar: negated-merge ≡ recompute
    assert(Search.statsDelete(Search.corpusStats(docs),
        Search.corpusStats(deleted)).collect().toSeq
      === Search.corpusStats(survivors).collect().toSeq)
  }

  test("indexDelete validateDisjoint: duplicate tombstones for one doc fail loudly; clean deletes pass") {
    import graft.llm.Search
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta something else"),
      (3L, "one two three four")).toDF("doc_id", "text")
    val deleted = docs.filter($"doc_id" === 2L)
    val cleanDel = Search.invertedIndexRaw(deleted)
    val want = Search.renderIndex(
      Search.invertedIndexRaw(docs.filter($"doc_id" =!= 2L)))
      .orderBy($"gram").collect().toSeq
    // validation on, precondition holds: result unchanged
    val got = Search.renderIndex(Search.indexDelete(
        Search.invertedIndexRaw(docs), cleanDel, validateDisjoint = true))
      .orderBy($"gram").collect().toSeq
    assert(got === want)
    // a replayed tombstone (same doc twice in the del union, adjacent
    // after the doc-sort) must raise at the cause, not over-subtract
    val dupDel = cleanDel.withColumn("pl",
      sort_array(concat($"pl", $"pl")))
    val e = intercept[Exception] {
      Search.indexDelete(Search.invertedIndexRaw(docs), dupDel,
        validateDisjoint = true).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("duplicate doomed doc"),
      s"unexpected error: ${e.getMessage}")
  }

  test("snippetWindows: token position >= 1e6 fails loudly instead of corrupting the argmax") {
    import graft.llm.Search
    // synthesized positional rows — a genuine 10^6-token doc is not worth
    // materializing; the guard sees only the index
    def idx(p: Int) = Seq(("a", 1L, 1L)).toDF("term", "df", "cf")
      .withColumn("pl", array(struct(lit(1L).as("doc_id"),
        array(lit(p)).as("pos"))))
    val panel = Seq((1, "a")).toDF("query_id", "term")
    val ranked = Seq((1, 1L, 1)).toDF("query_id", "doc_id", "rank")
    // below the bound: fine
    assert(Search.snippetWindows(idx(999999), ranked, panel, window = 4)
      .collect().length === 1)
    val e = intercept[Exception] {
      Search.snippetWindows(idx(1000000), ranked, panel, window = 4).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("token position"),
      s"unexpected error: ${e.getMessage}")
  }

  test("clusterCentroidsDelete: split apportions member sums; untouched sums carried") {
    // embeddings in two blocks: ids 1-5 (bridge 3) + untouched 10,11
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.8f, 0.2f)), (4L, Array(0.7f, 0.3f)),
      (5L, Array(0.6f, 0.4f)), (10L, Array(0.0f, 1.0f)),
      (11L, Array(0.1f, 0.9f))).toDF("vec_id", "embedding")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("id_a", "id_b")
    val labels = Dedup.clusters(pairs)
    val sums = Similarity.clusterCentroidSums(emb, labels)
    val deleted = Seq(3L).toDF("vec_id")
    val got = Similarity.clusterCentroidsDelete(
      emb, labels, sums, pairs, deleted)
    val retained = pairs.filter($"id_a" =!= 3L && $"id_b" =!= 3L)
    val want = Similarity.clusterCentroids(
      emb.filter($"vec_id" =!= 3L), retained)
    assert(got.orderBy($"cluster_id", $"dim").collect().toSeq
      === want.orderBy($"cluster_id", $"dim").collect().toSeq)
  }

  test("clusters: 64-node path converges within doubling bound; random graph matches union-find") {
    // worst case for plain propagation (diameter 63); pointer doubling
    // must close it comfortably inside maxIter = 10
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val chainLbls = Dedup.clusters(chain, maxIter = 10).as[(Long, Long)].collect()
    assert(chainLbls.length === 64 && chainLbls.forall(_._2 === 0L))

    // seeded random graph vs a driver-side union-find oracle
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(120)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val parent = scala.collection.mutable.Map((0L until 80L).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = pairs.flatMap(p => Seq(p._1, p._2)).distinct.map(i => i -> find(i)).toMap
    val got = Dedup.clusters(pairs.toDF("id_a", "id_b")).as[(Long, Long)].collect().toMap
    assert(got === want)
  }

  test("cluster centroids: exact micro-mean per dim, singles excluded, vectors reassemble") {
    import graft.llm.Similarity
    // cluster {1,2,3} via chain pairs; vec 9 is in no pair -> no centroid
    val emb = Seq(
      (1L, Seq(1.0f, -2.0f)), (2L, Seq(2.0f, 0.5f)), (3L, Seq(3.0f, 0.0f)),
      (9L, Seq(100.0f, 100.0f))).toDF("vec_id", "embedding")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Similarity.clusterCentroids(emb, pairs)
      .orderBy($"cluster_id", $"dim")
      .as[(Long, Long, Int, Double)].collect().toSeq
    // dim 0: floor-micro sums (1e6 + 2e6 + 3e6)/3/1e6 = 2.0
    // dim 1: (-2e6 + 5e5 + 0)/3/1e6 = -0.5
    assert(got === Seq((1L, 3L, 0, 2.0), (1L, 3L, 1, -0.5)))
    val vecs = Similarity.centroidVectors(Similarity.clusterCentroids(emb, pairs))
      .as[(Long, Long, Seq[Double])].collect().toSeq
    assert(vecs === Seq((1L, 3L, Seq(2.0, -0.5))))
  }

  test("assignToCentroids: cosine argmax with smallest-cluster tie-break") {
    import graft.llm.Similarity
    // two orthogonal centroids; vec 30 ties both exactly -> cluster 1 wins
    val centroids = Seq(
      (1L, 2L, Seq(1.0, 0.0)), (5L, 2L, Seq(0.0, 1.0)))
      .toDF("cluster_id", "n_members", "centroid")
    val emb = Seq(
      (10L, Seq(0.9f, 0.1f)),  // -> cluster 1
      (20L, Seq(0.1f, 0.9f)),  // -> cluster 5
      (30L, Seq(0.5f, 0.5f)))  // exact tie -> smallest cluster_id = 1
      .toDF("vec_id", "embedding")
    val got = Similarity.assignToCentroids(emb, centroids)
      .select($"vec_id", $"cluster_id").as[(Long, Long)].collect().toMap
    assert(got === Map(10L -> 1L, 20L -> 5L, 30L -> 1L))
  }

  test("sampleToBudget: grouped two-phase prefix sum equals the naive per-group cumsum") {
    import graft.llm.Sampling
    val rnd = new scala.util.Random(7)
    val rows = (0 until 300).map(i => (i.toLong, s"g${rnd.nextInt(5)}", 1 + rnd.nextInt(50)))
    // scrambled input partitioning: the kept set must not depend on it
    val df = rows.toDF("id", "grp", "cost").repartition(7)
    val budgets = Map("g0" -> 300L, "g1" -> 0L, "g2" -> 100000L, "g3" -> 57L)
    val got = Sampling.sampleToBudget(df, col("grp"), col("id"), col("cost"),
        budgets, nParts = 5)
      .select($"mix_id".cast("long"), $"mix_group", $"cost", $"cum_cost")
      .as[(Long, String, Long, Long)].collect().toSet

    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = rows.filter(r => budgets.contains(r._2)).groupBy(_._2).toSeq.flatMap {
      case (g, rs) =>
        val sorted = rs.sortBy(r => (md5hex(r._1.toString), r._1))
        val cums = sorted.map(_._3.toLong).scanLeft(0L)(_ + _).tail
        sorted.zip(cums).filter(_._2 <= budgets(g))
          .map { case (r, c) => (r._1, g, r._3.toLong, c) }
    }.toSet
    assert(got === want)
    assert(!got.exists(_._2 == "g1"))                              // zero budget
    assert(got.count(_._2 == "g2") === rows.count(_._2 == "g2"))   // over-budget: full take
    assert(!got.exists(_._2 == "g4"))                              // unlisted group dropped
  }

  test("bm25: matches a naive in-memory scorer; blank docs count toward N only") {
    import graft.llm.Search
    val corpus = Seq(
      (1L, "apple banana apple cherry"),
      (2L, "banana banana durian"),
      (3L, "cherry apple"),
      (4L, ""), // blank: in N and avgdl (dl 0), never a candidate
      (5L, "durian elderberry fig grape apple banana"))
      .toDF("doc_id", "text")
    val panel = Seq((1, "apple"), (1, "durian"), (2, "banana"))
    val got = Search.bm25(corpus, panel.toDF("query_id", "term"), topK = 3)
      .orderBy($"query_id", $"rank")
      .select($"query_id", $"rank", $"doc_id", $"score_micro")
      .as[(Int, Int, Long, Long)].collect().toList

    // naive reference with the library's exact arithmetic shape
    val toks = Map[Long, Seq[String]](
      1L -> Seq("apple", "banana", "apple", "cherry"),
      2L -> Seq("banana", "banana", "durian"),
      3L -> Seq("cherry", "apple"),
      5L -> Seq("durian", "elderberry", "fig", "grape", "apple", "banana"))
    val (k1, b) = (1.2, 0.75)
    val nDocs = 5.0
    val avgdl = (4L + 3L + 2L + 0L + 6L).toDouble / 5.0
    def score(terms: Seq[String], d: Long): Long = terms.map { t =>
      val tf = toks(d).count(_ == t).toDouble
      if (tf == 0) 0L
      else {
        val dfq = toks.values.count(_.contains(t)).toDouble
        val idfMicro = math.floor(math.log(1.0 + (nDocs - dfq + 0.5) / (dfq + 0.5)) * 1e9)
        math.floor(idfMicro / 1e3 *
          (tf * (k1 + 1) / (tf + k1 * ((1 - b) + b * (toks(d).size / avgdl))))).toLong
      }
    }.sum
    val want = Seq(1 -> Seq("apple", "durian"), 2 -> Seq("banana")).flatMap {
      case (q, terms) =>
        toks.keys.toSeq
          .filter(d => terms.exists(toks(d).contains))
          .map(d => (d, score(terms, d)))
          .sortBy { case (d, s) => (-s, d) }
          .take(3).zipWithIndex
          .map { case ((d, s), i) => (q, i + 1, d, s) }
    }.toList
    assert(got === want)
  }

  test("packWindows: context cut every C tokens, docs span windows") {
    import graft.llm.Packing
    // token counts: 3, 4, 2, 0, 5 -> exclusive prefixes 0, 3, 7, 9, 9
    val docs = Seq((1L, "a b c"), (2L, "d e f g"), (3L, "h i"),
      (4L, ""), (5L, "j k l m n")).toDF("doc_id", "text")
    val got = Packing.packWindows(docs, $"doc_id",
        graft.llm.TextAnalysis.tokenCount($"text"), context = 4L)
      .withColumnRenamed("pack_key", "doc_id")
      .orderBy($"doc_id")
      .select($"doc_id", $"n_tokens", $"gpos", $"seq_id", $"seq_off")
      .as[(Long, Long, Long, Long, Long)].collect().toList
    val want = List(
      (1L, 3L, 0L, 0L, 0L),  // fills seq 0 up to off 3
      (2L, 4L, 3L, 0L, 3L),  // starts seq 0 off 3, SPANS into seq 1
      (3L, 2L, 7L, 1L, 3L),  // starts seq 1 off 3, spans into seq 2
      (4L, 0L, 9L, 2L, 1L),  // empty doc: placed, consumes nothing
      (5L, 5L, 9L, 2L, 1L))
    assert(got === want)
  }

  test("temperatureBudgets: sqrt-weighted integer split; upweights small sources") {
    import graft.llm.Sampling
    val df = Seq.tabulate(100)(i =>
      (i.toLong, if (i < 90) "big" else "small", "t " * 10))
      .toDF("doc_id", "source", "text")
      .withColumn("c", lit(10L))
    val got = Sampling.temperatureBudgets(df, $"source", $"c", totalBudget = 1000L)
    // exact replication: w = sqrt(tokens), micro-floored, integer split
    val sBig = math.floor(math.sqrt(900.0) * 1e6).toLong
    val sSmall = math.floor(math.sqrt(100.0) * 1e6).toLong
    val tot = sBig + sSmall
    assert(got === Map("big" -> 1000L * sBig / tot, "small" -> 1000L * sSmall / tot))
    // α=0.5 gives small 25% of budget for 10% of tokens — upweighted
    assert(got("small") * 9 > got("big") * 2)
    // α=1/4 (two halvings) upweights further
    val g2 = Sampling.temperatureBudgets(df, $"source", $"c", 1000L, halvings = 2)
    assert(g2("small") > got("small"))
  }

  test("centerEmbeddings: exact micro-unit mean removed per dimension") {
    import graft.llm.Similarity
    val emb = Seq(
      (1L, Seq(1.0f, -2.0f)), (2L, Seq(3.0f, 0.5f)), (3L, Seq(-1.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.centerEmbeddings(emb)
      .orderBy($"vec_id", $"dim")
      .as[(Long, Int, Double)].collect().toList
    def mu(vals: Seq[Double]) =
      vals.map(v => math.floor(v * 1e6).toLong).sum.toDouble / (vals.size.toDouble * 1e6)
    val mu0 = mu(Seq(1.0, 3.0, -1.0)); val mu1 = mu(Seq(-2.0, 0.5, 4.0))
    val want = List((1L, 0, 1.0 - mu0), (1L, 1, -2.0 - mu1),
      (2L, 0, 3.0 - mu0), (2L, 1, 0.5 - mu1),
      (3L, 0, -1.0 - mu0), (3L, 1, 4.0 - mu1))
    assert(got === want)
  }

  test("curriculumShards: score-ordered token packing matches the naive prefix cut") {
    import graft.llm.Packing
    val docs = Seq((1L, "a b c"), (2L, "d e"), (3L, "f g h i"),
      (4L, ""), (5L, "j k l m n")).toDF("doc_id", "text")
    val scores = Seq((1L, 0.9), (2L, 0.1), (3L, 0.5), (4L, 0.5), (5L, 0.2))
      .toDF("doc_id", "score")
    val got = Packing.curriculumShards(docs, scores, budget = 4L)
      .orderBy($"doc_id")
      .select($"doc_id", $"shard")
      .as[(Long, Long)].collect().toList
    // score order (ties by id): 2(0.1,2t) 5(0.2,5t) 3(0.5,4t) 4(0.5,0t) 1(0.9,3t)
    // exclusive prefixes: 0, 2, 7, 11, 11 -> shards 0, 0, 1, 2, 2
    assert(got === List(1L -> 2L, 2L -> 0L, 3L -> 1L, 4L -> 2L, 5L -> 0L))
  }

  test("qualityProbe: GD step matches the exact replicated arithmetic; loss drops") {
    import graft.llm.QualityProbe
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon", "en"),
      (2L, "one two two", "fr"),
      (3L, "x y z w v u longerword", "en"),
      (4L, "", "de"),
      (5L, "the the the the repeated tokens here", "es"))
      .toDF("doc_id", "text", "lang")
    val feat = QualityProbe.features(docs)
    val rows = feat.collect().map(r =>
      (Array(r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)),
        r.getDouble(5)))
    val n = rows.length.toLong
    // replicate trainWeights' exact arithmetic driver-side
    def step(w: Array[Double], lr: Double): Array[Double] = {
      val g = Array.fill(4)(0L)
      rows.foreach { case (x, y) =>
        val resid = x(0) * w(0) + x(1) * w(1) + x(2) * w(2) + x(3) * w(3) - y
        for (j <- 0 until 4) g(j) += math.floor((resid * x(j)) * 1e6).toLong
      }
      Array.tabulate(4)(j => w(j) - lr * (g(j).toDouble / (n.toDouble * 1e6)))
    }
    val w1 = QualityProbe.trainWeights(feat, lr = 0.5, iters = 1)
    assert(w1.toSeq === step(Array.fill(4)(0.0), 0.5).toSeq)
    val w3 = QualityProbe.trainWeights(feat, lr = 0.5, iters = 3)
    assert(w3.toSeq === step(step(step(Array.fill(4)(0.0), 0.5), 0.5), 0.5).toSeq)
    // squared loss strictly drops from the zero model
    def mse(w: Array[Double]) = rows.map { case (x, y) =>
      val d = x(0) * w(0) + x(1) * w(1) + x(2) * w(2) + x(3) * w(3) - y
      d * d
    }.sum / n
    assert(mse(w3) < mse(Array.fill(4)(0.0)))
    // scoring is x·w with the weights inlined
    val s1 = QualityProbe.score(feat, w3).filter($"doc_id" === 1L)
      .head().getDouble(1)
    val byId = feat.collect().map(r => r.getLong(0) ->
      Array(r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val e1 = (0 until 4).map(j => byId(1L)(j) * w3(j)).sum
    assert(math.abs(s1 - e1) < 1e-12)
  }

  test("gopherRules: each rule trips on its crafted doc; kept is the conjunction") {
    import graft.llm.TextAnalysis
    // 55 words, mean word length 172/55 ≈ 3.13 (inside [3, 10])
    val ok = ("the be to of and that have with okay " * 6).trim + " tail"
    val docs = Seq(
      (1L, ok),                                  // 55 words, all rules pass
      (2L, "the be short doc"),                  // < 50 words
      (3L, ("the be " + "# " * 60).trim),        // symbol ratio (# per word)
      (4L, ("the be x " * 20).trim + "\n- b\n- c\n- d\n- e\n- f\n- g\n- h\n- i\n- j\n- k"), // 10/11 bullet lines
      (5L, ("the be y " * 20) + "...\n" + "z ...\n" + "w ..."), // ellipsis lines
      (6L, ("aa bb " * 30).trim),                // zero stopword hits
      (7L, ("the be " + "9 " * 60).trim),        // alpha fraction low
      (8L, ""))                                  // blank
      .toDF("doc_id", "text")
    val got = TextAnalysis.gopherRules(docs, minWords = 30L)
      .orderBy($"doc_id")
      .select($"doc_id", $"n_words", $"bullet_frac", $"ellipsis_frac",
        $"symbol_ratio", $"alpha_frac", $"stop_hits", $"kept")
      .collect().map(r => (r.getLong(0), r.getBoolean(7))).toList
    assert(got === List(1L -> true, 2L -> false, 3L -> false, 4L -> false,
      5L -> false, 6L -> false, 7L -> false, 8L -> false))
    val row4 = TextAnalysis.gopherRules(docs).filter($"doc_id" === 4L).head()
    assert(row4.getAs[Double]("bullet_frac") === 10.0 / 11.0)
    val row5 = TextAnalysis.gopherRules(docs).filter($"doc_id" === 5L).head()
    assert(row5.getAs[Double]("ellipsis_frac") === 1.0)
    val row3 = TextAnalysis.gopherRules(docs).filter($"doc_id" === 3L).head()
    assert(row3.getAs[Double]("symbol_ratio") > 0.1)
  }

  test("bm25FromIndex: open-railed index probe is value-identical to inline bm25") {
    import graft.llm.Search
    val corpus = Seq(
      (1L, "apple banana apple cherry"),
      (2L, "banana banana durian"),
      (3L, "cherry apple"),
      (4L, ""),
      (5L, "durian elderberry fig grape apple banana"))
      .toDF("doc_id", "text")
    val panel = Seq((1, "apple"), (1, "durian"), (2, "banana"))
      .toDF("query_id", "term")
    val inline = Search.bm25(corpus, panel, topK = 3)
      .orderBy($"query_id", $"rank")
      .as[(Int, Int, Long, Long)].collect().toList
    val index = Search.searchIndexRaw(corpus).localCheckpoint(eager = true)
    val stats = Search.corpusStats(corpus).localCheckpoint(eager = true)
    val probed = Search.bm25FromIndex(index, stats, panel, topK = 3)
      .orderBy($"query_id", $"rank")
      .as[(Int, Int, Long, Long)].collect().toList
    assert(probed === inline)
    // railed index: the hot term's postings are gone BEFORE scoring —
    // "banana" (df 3) pruned by maxDf 2, so query 2 returns nothing
    val railed = Search.searchIndexRaw(corpus, minDf = 1L, maxDf = 2L)
    val railedHits = Search.bm25FromIndex(railed, stats, panel, topK = 3)
      .as[(Int, Int, Long, Long)].collect().toList
    assert(railedHits.forall(_._1 == 1) && railedHits.nonEmpty)
    // the maintained stack: merged index halves + added stats score
    // exactly like the inline pass over the union corpus
    val oldD = corpus.filter($"doc_id" <= 2L)
    val newD = corpus.filter($"doc_id" > 2L)
    val mergedIdx = Search.indexMerge(
      Search.searchIndexRaw(oldD).localCheckpoint(eager = true),
      Search.searchIndexRaw(newD), gramCol = "term")
    val mergedStats = Search.statsMerge(
      Search.corpusStats(oldD), Search.corpusStats(newD))
    val incr = Search.bm25FromIndex(mergedIdx, mergedStats, panel, topK = 3)
      .orderBy($"query_id", $"rank")
      .as[(Int, Int, Long, Long)].collect().toList
    assert(incr === inline)
  }

  test("rrfFuse: rank-based fusion, integer contributions, n_systems counts lists") {
    import graft.llm.Search
    // system A ranks docs (10,20,30); system B ranks (20,40)
    val a = Seq((1, 10L, 1), (1, 20L, 2), (1, 30L, 3))
      .toDF("query_id", "doc_id", "rank")
    val b = Seq((1, 20L, 1), (1, 40L, 2)).toDF("query_id", "doc_id", "rank")
    val got = Search.rrfFuse(Seq(a, b), kRrf = 60, topK = 10)
      .orderBy($"rank")
      .as[(Int, Int, Long, Long, Long)].collect().toList
    def c(r: Int) = math.floor(1e9 / (60 + r)).toLong
    // 20 appears in both lists -> top; ties broken by doc_id
    val want = List(
      (1, 1, 20L, c(2) + c(1), 2L),
      (1, 2, 10L, c(1), 1L),
      (1, 3, 40L, c(2), 1L),
      (1, 4, 30L, c(3), 1L))
    assert(got === want)
    assert(got.head._4 > got(1)._4) // both-systems doc dominates rank-1 single
  }

  test("eval split composition: splits partition exactly the clean candidate set") {
    import graft.llm.{Decontam, Sampling}
    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val cont = Decontam.contamination(
      docs.filter($"doc_id" % 50 =!= 0), docs.filter($"doc_id" % 50 === 0),
      n = 5, threshold = 0.3)
    val clean = cont.filter(!$"contaminated").select($"doc_id")
    val split = Sampling.assignSplit(clean, $"doc_id", 0.8, 0.1)
    val n = split.count()
    assert(n === clean.count()) // split assigns every clean doc exactly once
    val bySplit = split.groupBy($"split").count()
      .as[(String, Long)].collect().toMap
    assert(bySplit.keySet.subsetOf(Set("train", "val", "test")))
    assert(bySplit.values.sum === n)
    assert(bySplit.getOrElse("train", 0L) > bySplit.getOrElse("val", 0L))
    // key-pure: the assignment is a function of the id, not the input set
    val again = Sampling.assignSplit(clean.repartition(7), $"doc_id", 0.8, 0.1)
    assert(again.orderBy($"doc_id").collect().toSeq ===
      split.orderBy($"doc_id").collect().toSeq)
  }

  test("pca: power iteration matches exact replicated arithmetic; removal kills the component") {
    import graft.llm.Pca
    val emb = Seq(
      (1L, Seq(1.0f, 0.5f, -0.25f)), (2L, Seq(0.8f, 0.4f, 0.1f)),
      (3L, Seq(-0.2f, 1.0f, 0.5f)), (4L, Seq(0.6f, 0.3f, -0.3f)))
      .toDF("vec_id", "embedding")
    val xs = emb.orderBy($"vec_id").collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    def dot(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.reduceLeft(_ + _)
    val n0 = math.sqrt(dot(xs(0), xs(0)))
    val v0 = xs(0).map(_ / n0)
    def step(v: Array[Double]): Array[Double] = {
      val g = Array.fill(v.length)(0L)
      xs.foreach { x =>
        val s = dot(x, v)
        for (d <- v.indices) g(d) += math.floor((s * x(d)) * 1e6).toLong
      }
      val gd = g.map(_.toDouble / 1e6)
      val n2 = gd.map(x => x * x).reduceLeft(_ + _)
      gd.map(_ / math.sqrt(n2))
    }
    assert(Pca.topDirection(emb, iters = 1).toSeq === step(v0).toSeq)
    val v3 = Pca.topDirection(emb, iters = 3)
    assert(v3.toSeq === step(step(step(v0))).toSeq)
    assert(math.abs(dot(v3, v3) - 1.0) < 1e-12) // unit direction
    // all-but-the-top: the projected corpus has no component along v3
    val removed = Pca.removeDirection(emb, v3)
      .orderBy($"vec_id", $"dim")
      .as[(Long, Int, Double)].collect()
      .groupBy(_._1).values.map(_.sortBy(_._2).map(_._3).toArray)
    removed.foreach(c => assert(math.abs(dot(c, v3)) < 1e-9))
    // deflation: component 0 IS topDirection; the residual's direction is
    // near-orthogonal (exactly, up to the micro-grid floor in gradients)
    val vs = Pca.topDirections(emb, k = 2, iters = 3)
    assert(vs(0).toSeq === v3.toSeq)
    assert(math.abs(dot(vs(0), vs(1))) < 1e-3)
    assert(math.abs(dot(vs(1), vs(1)) - 1.0) < 1e-12)
    // whitening: coordinate 0 is exactly dot(x, v0) / sqrt(sqrt(n2)/n)
    val (v0e, l0) = Pca.topEigen(emb, iters = 3)
    assert(v0e.toSeq === v3.toSeq)
    val scale0 = math.sqrt(l0 / xs.length.toDouble) // sqrt(sqrt(n2)/n)
    val w = Pca.whitenTransform(emb, k = 2, iters = 3)
      .filter($"component" === 0).orderBy($"vec_id")
      .as[(Long, Int, Double)].collect().map(_._3)
    assert(w.toSeq === xs.map(x => dot(x, v3) / scale0).toSeq)
  }

  test("clusterProvenance: source spread per cluster, sorted-distinct rendering") {
    import graft.llm.Dedup
    val docs = Seq(
      (1L, "x", "web"), (2L, "x", "books"), (3L, "x", "web"),
      (4L, "y", "web"), (5L, "y", "web"), (6L, "z", "code"))
      .toDF("doc_id", "text", "source")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("doc_id", "cluster_id")
    val got = Dedup.clusterProvenance(docs, labels)
      .orderBy($"cluster_id")
      .as[(Long, Long, Long, String)].collect().toList
    assert(got === List(
      (1L, 3L, 2L, "books,web"),  // cross-source: mixture double-count
      (4L, 2L, 1L, "web")))       // within-crawl; doc 6 unclustered -> absent
  }

  test("indexMerge: randomized corpora — merge equals rebuild at every split point") {
    import graft.llm.Search
    val rnd = new scala.util.Random(11)
    val vocab = Array("a", "b", "c", "d", "ee")
    (1 to 4).foreach { trial =>
      val n = 6 + rnd.nextInt(6)
      val docs = (0 until n).map { i =>
        val len = rnd.nextInt(7) // 0 => blank doc
        (i.toLong, (1 to len).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val cut = 1 + rnd.nextInt(n - 1)
      val full = docs.toDF("doc_id", "text")
      val oldD = docs.filter(_._1 < cut).toDF("doc_id", "text")
      val newD = docs.filter(_._1 >= cut).toDF("doc_id", "text")
      val merged = Search.indexMerge(
        Search.invertedIndexRaw(oldD).localCheckpoint(eager = true),
        Search.invertedIndexRaw(newD), validateDisjoint = true)
      val got = Search.renderIndex(merged).orderBy($"gram")
        .as[(String, Long, Long, String)].collect().toList
      val want = Search.renderIndex(Search.invertedIndexRaw(full)).orderBy($"gram")
        .as[(String, Long, Long, String)].collect().toList
      assert(got === want, s"trial $trial cut=$cut diverged: $docs")
    }
  }

  test("packWindows/packByBudget: layout is repartition-invariant") {
    import graft.llm.Packing
    val rnd = new scala.util.Random(13)
    val docs = (0 until 40).map { i =>
      (i.toLong, (1 to rnd.nextInt(9)).map(_ => "w").mkString(" "))
    }.toDF("doc_id", "text")
    def win(df: org.apache.spark.sql.DataFrame, parts: Int) =
      Packing.packWindows(df, $"doc_id",
          graft.llm.TextAnalysis.tokenCount($"text"), context = 7L, nParts = parts)
        .withColumnRenamed("pack_key", "doc_id")
        .orderBy($"doc_id")
        .as[(Long, Long, Long, Long, Long)].collect().toList
    val base = win(docs, 2)
    assert(win(docs.repartition(9), 5) === base)
    assert(win(docs.coalesce(1), 3) === base)
    // the offsets telescope: gpos strictly accumulates n_tokens in key order
    base.sliding(2).foreach { case List(a, b) =>
      assert(b._3 === a._3 + a._2); case _ => }
  }

  test("indexMerge: maintained index equals full rebuild; rails are read-time") {
    import graft.llm.Search
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val oldDocs = Seq(
      (1L, "a b a b c"), (2L, "a b c"), (3L, "q r s"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (4L, "a b x"), (5L, "b c y"), (6L, "zz"))
      .toDF("doc_id", "text")
    val full = Seq(
      (1L, "a b a b c"), (2L, "a b c"), (3L, "q r s"),
      (4L, "a b x"), (5L, "b c y"), (6L, "zz"))
      .toDF("doc_id", "text")
    val merged = Search.indexMerge(
      Search.invertedIndexRaw(oldDocs).localCheckpoint(eager = true),
      Search.invertedIndexRaw(batch))
    def render(raw: org.apache.spark.sql.DataFrame) =
      Search.renderIndex(raw).orderBy($"gram")
        .as[(String, Long, Long, String)].collect().toList
    // unrailed merge == unrailed rebuild, postings doc-ordered across the split
    assert(render(merged) === render(Search.invertedIndexRaw(full)))
    // rails applied at read time == rails applied at build time; "a b"
    // crossed maxDf=2 only AFTER the merge (df 2 -> 3), so railed-state
    // maintenance would have kept it — read-time rails prune it
    assert(render(Search.applyRails(merged, 2L, 2L)) ===
      render(Search.invertedIndexRaw(full, minDf = 2L, maxDf = 2L)))
    assert(!render(Search.applyRails(merged, 2L, 2L)).exists(_._1 == "a b"))
    // the old index is gated by BROADCAST joins — untouched grams
    // ("q r"/"r s") must not re-aggregate through a shuffle
    val q = Search.indexMerge(
      Search.invertedIndexRaw(oldDocs).localCheckpoint(eager = true),
      Search.invertedIndexRaw(batch))
    q.collect()
    val plan = (q.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).toString
    assert(plan.contains("BroadcastHashJoin LeftAnti") ||
      plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"old-index gate is not a broadcast anti-join:\n$plan")
    // replayed batch (doc 2 already indexed): validateDisjoint trips the
    // in-plan guard instead of silently double-counting df/cf
    val replay = Search.indexMerge(
      Search.invertedIndexRaw(oldDocs).localCheckpoint(eager = true),
      Search.invertedIndexRaw(Seq((2L, "a b c")).toDF("doc_id", "text")),
      validateDisjoint = true)
    val err = intercept[Exception](replay.collect())
    assert(err.getMessage != null &&
      (err.getMessage.contains("non-disjoint") ||
        err.getCause != null && err.getCause.getMessage.contains("non-disjoint")))
    // and the clean split passes the guard unchanged
    val guarded = Search.indexMerge(
      Search.invertedIndexRaw(oldDocs).localCheckpoint(eager = true),
      Search.invertedIndexRaw(batch), validateDisjoint = true)
    assert(render(guarded) === render(Search.invertedIndexRaw(full)))
  }

  test("invertedIndex: bigram postings match a naive build; df rails prune both tails") {
    import graft.llm.Search
    val corpus = Seq(
      (1L, "a b a b c"),     // grams: "a b"×2, "b a", "b c"
      (2L, "a b c"),         // "a b", "b c"
      (3L, "a b x"),         // "a b", "b x"  -> "a b" df 3 (hot with maxDf 2)
      (4L, "zz"),            // single word: no grams
      (5L, ""))              // blank: no grams
      .toDF("doc_id", "text")
    val got = Search.invertedIndex(corpus, minDf = 2L, maxDf = 2L)
      .orderBy($"gram")
      .as[(String, Long, Long, String)].collect().toList
    // "b a" df 1 (minDf), "b x" df 1 (minDf), "a b" df 3 (maxDf) all pruned
    assert(got === List(("b c", 2L, 2L, "1:1,2:1")))
    // no rails: everything with df >= 1 survives, tf/cf and order pinned
    val all = Search.invertedIndex(corpus).orderBy($"gram")
      .as[(String, Long, Long, String)].collect().toList
    assert(all === List(
      ("a b", 3L, 4L, "1:2,2:1,3:1"), ("b a", 1L, 1L, "1:1"),
      ("b c", 2L, 2L, "1:1,2:1"), ("b x", 1L, 1L, "3:1")))
  }

  test("phraseQuery: conjunction over indexed grams; unindexed gram kills the phrase") {
    import graft.llm.Search
    val corpus = Seq(
      (1L, "a b c d"),       // grams: "a b","b c","c d"
      (2L, "a b c x"),       // "a b","b c","c x"
      (3L, "a b z c d"),     // "a b","b z","z c","c d" — has both grams, not adjacent
      (4L, "b c d a b"))     // "b c","c d","d a","a b"
      .toDF("doc_id", "text")
    val index = Search.invertedIndexRaw(corpus) // no rails
    // "a b c": docs with BOTH "a b" and "b c" → 1, 2, 4 (3 lacks "b c")
    val got = Search.phraseQuery(index, Seq((1, "a b c"), (2, "c d q")))
      .orderBy($"phrase_id", $"doc_id")
      .as[(Int, Long, Long, Long)].collect().toList
    // phrase 2's "d q" gram is unindexed → no rows despite "c d" matching
    assert(got === List((1, 1L, 2L, 1L), (1, 2L, 2L, 1L), (1, 4L, 2L, 1L)))
    // repeated bigram collapses: "a b a b" needs {"a b","b a"} distinct
    val rep = Search.phraseQuery(index, Seq((7, "a b a b")))
      .as[(Int, Long, Long, Long)].collect().toList
    assert(rep === Nil) // "b a" appears in no doc
    assert(Search.phraseGrams("a b a b") === Seq("a b", "b a"))
  }

  test("phraseQueryExact: positional chain intersection rejects the bigram-chain over-match and counts occurrences exactly") {
    import graft.llm.Search
    val corpus = Seq(
      (1L, "a b c d a b c"),  // "a b c" occurs at 0 AND 4 → phrase_tf 2
      (2L, "a b x b c"),      // bigrams "a b","b c" both present, never
                              // chained → phraseQuery matches, exact must NOT
      (3L, "b c a b"),        // "a b" at 2, "b c" at 0 — no chain
      (4L, "a a b c"))        // one chain start at 1
      .toDF("doc_id", "text")
    val index = Search.positionalIndexRaw(corpus)
    val exact = Search.phraseQueryExact(index, Seq((1, "a b c"), (2, "c d q")))
      .orderBy($"phrase_id", $"doc_id")
      .as[(Int, Long, Long, Long)].collect().toList
    // phrase 2 dies on the unindexed word "q" (strictness); doc 2 and 3
    // are the over-match cases the bigram form admits
    assert(exact === List((1, 1L, 3L, 2L), (1, 4L, 3L, 1L)))
    val bigram = Search.phraseQuery(Search.invertedIndexRaw(corpus),
        Seq((1, "a b c")))
      .orderBy($"doc_id").as[(Int, Long, Long, Long)].collect().toList
    // the approximation really does over-match here — the exact row's
    // reason to exist
    assert(bigram.map(_._2) === List(1L, 2L, 3L, 4L))
    // repeated word in the phrase: offsets are per-position, so "a a b"
    // chains only where both a's line up
    val dup = Search.phraseQueryExact(index, Seq((9, "a a b")))
      .as[(Int, Long, Long, Long)].collect().toList
    assert(dup === List((9, 4L, 3L, 1L))) // only doc 4 has "a a b"
  }

  test("qlFromIndex: tf raises, length penalizes, and scores equal the hand formula") {
    import graft.llm.Search
    val corpus = Seq(
      (1L, "rare rare x"),                       // tf 2, dl 3
      (2L, "rare y z"),                          // tf 1, dl 3
      (3L, "rare a b c d e f g h i j k"))        // tf 1, dl 12
      .toDF("doc_id", "text")
    val index = Search.searchIndexRaw(corpus)
    val stats = Search.corpusStats(corpus)
    val got = Search.qlFromIndex(index, stats,
        Seq((1, "rare")).toDF("query_id", "term"), mu = 2000.0)
      .orderBy($"rank").as[(Int, Int, Long, Long)].collect().toList
    assert(got.map(_._3) === List(1L, 2L, 3L),
      s"expected tf-then-length ordering: $got")
    // hand check doc 1: C = 18 tokens, cf(rare) = 4
    val m = math.floor(math.log(1.0 + (2.0 * 18.0) / (2000.0 * 4.0)) * 1e9).toLong
    val len = math.floor(math.log(2000.0 / (3.0 + 2000.0)) * 1e9).toLong
    assert(got.head._4 === m + len)
  }

  test("snippetWindows: densest window wins, ties break to the smallest start") {
    import graft.llm.Search
    val corpus = Seq(
      (1L, "a b x x x x x x x a b a"), // densest 4-window starts at 9 (3 hits)
      (2L, "a b x a b"))               // 3-hit windows at 0 AND 1 → tie → 0
      .toDF("doc_id", "text")
    val posIndex = Search.positionalIndexRaw(corpus)
    val panel = Seq((1, "a"), (1, "b")).toDF("query_id", "term")
    val ranked = Seq((1, 1L, 1), (1, 2L, 2)).toDF("query_id", "doc_id", "rank")
    val got = Search.snippetWindows(posIndex, ranked, panel, window = 4)
      .orderBy($"rank").as[(Int, Int, Long, Long, Long)].collect().toList
    assert(got === List((1, 1, 1L, 9L, 3L), (1, 2, 2L, 0L, 3L)))
  }

  test("proximityQuery: window boundary is exact; best_start is the smallest panel-word start") {
    import graft.llm.Search
    val corpus = Seq(
      (1L, "a x x x b"),           // spread 5 tokens: inside window 5
      (2L, "a x x x x b"),         // spread 6: outside window 5
      (3L, "b x a"),               // order-free: b..a within 3
      (4L, "x a x b x a b"))       // several starts — smallest valid is 1
      .toDF("doc_id", "text")
    val index = Search.positionalIndexRaw(corpus)
    val got = Search.proximityQuery(index, Seq((1, "a b")), window = 5)
      .orderBy($"doc_id")
      .as[(Int, Long, Long, Long)].collect().toList
    // doc 2 excluded (b at offset 5 is outside [0, 5)); doc 3 matches
    // order-free from b@0; doc 4's smallest valid start is a@1
    assert(got === List((1, 1L, 2L, 0L), (1, 3L, 2L, 0L), (1, 4L, 2L, 1L)))
    // a missing word kills the phrase (strictness)
    assert(Search.proximityQuery(index, Seq((2, "a q")), window = 5)
      .collect().isEmpty)
    // duplicate words in the phrase collapse: "a b a" is the set {a, b}
    assert(Search.proximityQuery(index, Seq((3, "a b a")), window = 5)
      .orderBy($"doc_id").as[(Int, Long, Long, Long)].collect().toList
      .map(r => (r._2, r._3)) === List((1L, 2L), (3L, 2L), (4L, 2L)))
  }

  test("clusterCentroidsIncremental: indistinguishable from the full recompute") {
    import graft.llm.{Dedup, Similarity}
    def v(deg: Double) = Array(
      math.cos(math.toRadians(deg)).toFloat, math.sin(math.toRadians(deg)).toFloat)
    // corpus: clusters {1,2} and {3,4} (a batch vector will BRIDGE them),
    // 5 isolated (enters its first pair via the batch), {6,7} untouched
    // in their own block; batch: 10 bridges, 11 pairs with 5
    val corpus = Seq(
      (1L, v(0), 0L), (2L, v(10), 0L), (3L, v(45), 0L), (4L, v(55), 0L),
      (5L, v(120), 0L), (6L, v(200), 1L), (7L, v(210), 1L))
      .toDF("vec_id", "embedding", "label")
    val batch = Seq((10L, v(27.5), 0L), (11L, v(125), 0L))
      .toDF("vec_id", "embedding", "label")
    val full = corpus.unionByName(batch)
    val t = 0.9
    val oldLabels = Dedup.clusters(
      Similarity.cosinePairsBlocked(corpus, "label", t))
    val oldSums = Similarity.clusterCentroidSums(corpus, oldLabels)
    val newPairs = Similarity.cosinePairsIncremental(corpus, batch, "label", t)
    // the pair generators partition the full pair graph
    val allPairs = Similarity.cosinePairsBlocked(full, "label", t)
    val oldPairs = Similarity.cosinePairsBlocked(corpus, "label", t)
    assert(newPairs.select($"id_a", $"id_b").as[(Long, Long)].collect().toSet ===
      allPairs.select($"id_a", $"id_b").as[(Long, Long)].collect().toSet --
        oldPairs.select($"id_a", $"id_b").as[(Long, Long)].collect().toSet)
    val got = Similarity.clusterCentroidsIncremental(
        full, oldLabels, oldSums, newPairs)
      .as[(Long, Long, Int, Double)].collect().toSet
    val want = Similarity.clusterCentroids(full, allPairs)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(got === want) // exact doubles: micro sums merge losslessly
    // the bridge actually merged two old clusters (n_members = 5)
    assert(got.exists { case (cid, n, _, _) => cid == 1L && n == 5L })
    // and the untouched block carried through
    assert(got.exists { case (cid, n, _, _) => cid == 6L && n == 2L })
  }

  test("kmeans: converges to cluster means; empty cell carries its center forward") {
    import graft.llm.Kmeans
    // two tight planted clusters; first two vectors (the init) straddle them
    val emb = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(10.0f, 10.0f)),
      (2L, Array(0.2f, 0.0f)), (3L, Array(0.0f, 0.2f)),
      (4L, Array(10.2f, 10.0f)), (5L, Array(10.0f, 10.2f)))
      .toDF("vec_id", "embedding")
    val m = Kmeans.trainModel(emb, k = 2, iters = 3)
    assert(m.counts.toSeq === Seq(3L, 3L))
    // micro-quantized means: floor(x*1e6) sums / (n*1e6)
    def mean(xs: Seq[Double]) =
      xs.map(x => math.floor(x * 1e6)).sum / (xs.length.toDouble * 1e6)
    assert(m.centers(0).toSeq === Seq(
      mean(Seq(0.0, 0.2f.toDouble, 0.0)), mean(Seq(0.0, 0.0, 0.2f.toDouble))))
    assert(m.centers(1).toSeq === Seq(
      mean(Seq(10.0, 10.2f.toDouble, 10.0)), mean(Seq(10.0, 10.0, 10.2f.toDouble))))

    // identical first two vectors → every point ties to cell 0 (smallest
    // cell wins), cell 1 never receives a member and keeps its init center
    val deg = Seq(
      (0L, Array(1.0f, 1.0f)), (1L, Array(1.0f, 1.0f)),
      (2L, Array(2.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val md = Kmeans.trainModel(deg, k = 2, iters = 1)
    assert(md.counts.toSeq === Seq(3L, 0L))
    assert(md.centers(1).toSeq === Seq(1.0, 1.0)) // carried init, bit-exact
    // next iteration: the carried center re-captures its identical points
    val md2 = Kmeans.trainModel(deg, k = 2, iters = 2)
    assert(md2.counts.toSeq === Seq(1L, 2L))
  }

  test("semanticDedup: cell-blocked groups, farthest-from-centroid representative") {
    import graft.llm.Similarity
    // two orthogonal unit centroids; groups planted within each cell
    val centroids = Seq(
      (0L, Array(1.0, 0.0)),
      (1L, Array(0.0, 1.0))).toDF("cluster_id", "centroid")
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)),   // cell 0, sim 1.0
      (2L, Array(0.9f, 0.1f)),   // cell 0, cos(v1,v2)≈.994 → group {1,2}
      (3L, Array(0.0f, 1.0f)),   // cell 1, sim 1.0
      (4L, Array(0.1f, 0.9f)),   // cell 1, cos(v3,v4)≈.994 → group {3,4}
      (5L, Array(-1.0f, 0.0f)))  // cell 1 (sim 0 beats -1); no similar mate
      .toDF("vec_id", "embedding")
    val got = Similarity.semanticDedup(emb, centroids, threshold = 0.9)
      .select($"vec_id", $"sem_group", $"kept")
      .as[(Long, Long, Boolean)].collect().toList.sortBy(_._1)
    // reps are the members LEAST similar to their centroid: 2 and 4
    assert(got === List(
      (1L, 1L, false), (2L, 1L, true),
      (3L, 3L, false), (4L, 3L, true),
      (5L, -1L, true)))
    // a dup-free corpus: everything kept, no groups
    val clean = Similarity.semanticDedup(
      Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
        .toDF("vec_id", "embedding"), centroids, threshold = 0.9)
      .select($"vec_id", $"sem_group", $"kept")
      .as[(Long, Long, Boolean)].collect().toList.sortBy(_._1)
    assert(clean === List((1L, -1L, true), (2L, -1L, true)))
  }

  test("packing: two-phase prefix sum equals the naive global cumsum") {
    // 100 docs, token counts 1..100, budget 50 — shard boundaries interior
    // to partitions AND straddling them (nParts=7 forces uneven ranges)
    val docs = (1 to 100).map(i => (i.toLong, i.toLong)).toDF("id", "n")
    val got = Packing.packByBudget(docs, $"id", $"n", budget = 50L, nParts = 7)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    var cum = 0L
    val want = (1 to 100).map { i =>
      val shard = cum / 50; cum += i; (i.toLong, i.toLong, shard)
    }
    assert(got.toSeq === want)
  }

  test("packing property: random sizes/budgets/partitionings match the naive pack") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 3) {
      val n = 50 + rnd.nextInt(150)
      val toks = (0 until n).map(i => (i.toLong, rnd.nextInt(300).toLong))
      val budget = 100L + rnd.nextInt(900)
      val parts = 1 + rnd.nextInt(9)
      val got = Packing.packByBudget(toks.toDF("id", "nt"), $"id", $"nt", budget, parts)
        .as[(Long, Long, Long)].collect().sortBy(_._1)
      var cum = 0L
      toks.zip(got).foreach { case ((id, t), (gid, gt, shard)) =>
        assert(gid === id && gt === t && shard === cum / budget)
        cum += t
      }
    }
  }

  test("quantize property: random vectors — code range, endpoints, error bound") {
    val rnd = new scala.util.Random(13)
    val vecs = (0 until 30).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextFloat() * 20f - 10f)))
    val rows = Quantize.dequantize(Quantize.scalarQuantize(vecs.toDF("vec_id", "embedding")))
      .select($"vec_id", $"vmin", $"vmax", $"codes", $"approx")
      .as[(Long, Double, Double, Seq[Int], Seq[Double])].collect()
    for ((id, vmin, vmax, codes, approx) <- rows) {
      val orig = vecs(id.toInt)._2.map(_.toDouble)
      assert(vmin === orig.min && vmax === orig.max)
      assert(codes.forall(c => c >= 0 && c <= 255))
      assert(codes(orig.indexOf(orig.min)) === 0)
      assert(codes(orig.indexOf(orig.max)) === 255)
      val bound = (vmax - vmin) / 510.0 + 1e-9
      orig.zip(approx).foreach { case (x, a) => assert(math.abs(x - a) <= bound) }
    }
  }

  test("pq: encode kernel matches the Column-space argmin; recall contract holds") {
    val rnd = new scala.util.Random(17)
    val emb = (0 until 60).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextFloat() * 2f - 1f))).toDF("vec_id", "embedding")
    val cbs = Quantize.pqTrain(emb, m = 4, kCodes = 8)
    val fast = Quantize.pqEncode(emb, cbs).orderBy($"vec_id")
      .as[(Long, Seq[Int])].collect().toSeq
    val slow = Quantize.pqEncodeColumns(emb, cbs).orderBy($"vec_id")
      .as[(Long, Seq[Int])].collect().toSeq
    assert(fast === slow)
    // decode round-trip: reconstruction has the right shape
    val dec = Quantize.pqEncode(emb, cbs)
      .select(Quantize.pqDecode($"codes", cbs).as("a")).as[Seq[Double]].head()
    assert(dec.length === 16)
    // recall contract with a bound of 0: every query row must appear TRUE
    val rec = Similarity.pqKnnRecall(emb, $"vec_id" < 5, k = 3,
      m = 4, kCodes = 8, recallBound = 0.0)
      .as[(Long, Boolean)].collect().toSeq
    assert(rec.map(_._1) === Seq(0L, 1L, 2L, 3L, 4L) && rec.forall(_._2))
  }

  test("quantize: codes clamp to [0,255], degenerate vector is all zeros") {
    val emb = Seq(
      (0L, Seq(0.0f, 0.5f, 1.0f)),   // spread: min→0, max→255
      (1L, Seq(2.0f, 2.0f, 2.0f))    // degenerate: vmax == vmin
    ).toDF("vec_id", "embedding")
    val q = Quantize.scalarQuantize(emb).orderBy($"vec_id")
      .select($"vmin", $"vmax", $"codes").as[(Double, Double, Seq[Int])].collect()
    assert(q(0) === ((0.0, 1.0, Seq(0, 127, 255))))
    assert(q(1) === ((2.0, 2.0, Seq(0, 0, 0))))
    // dequantized midpoints stay within half a bucket of the original
    val approx = Quantize.dequantize(Quantize.scalarQuantize(emb))
      .filter($"vec_id" === 0L).select($"approx").as[Seq[Double]].head()
    Seq(0.0, 0.5, 1.0).zip(approx).foreach { case (x, a) =>
      assert(math.abs(x - a) <= 0.5 / 255 + 1e-12)
    }
  }

  test("CMS: sharded merge equals single-pass build; estimates one-sided") {
    import graft.llm.Sketch
    val corpus = (0L until 60L).map(i =>
      (i, s"alpha beta w$i ${if (i % 3 == 0) "gamma" else "delta"}"))
      .toDF("doc_id", "text")
    val full = Sketch.cmsBuild(corpus)
    val merged = Sketch.cmsMerge(
      Sketch.cmsBuild(corpus.filter($"doc_id" < 30)),
      Sketch.cmsBuild(corpus.filter($"doc_id" >= 30)))
    assert(merged.orderBy($"depth", $"bucket").collect().toSeq ===
      full.orderBy($"depth", $"bucket").collect().toSeq)
    // one-sided error: est >= exact for present AND absent terms
    val est = Sketch.cmsEstimate(full, corpus,
      Seq("alpha", "gamma", "absentterm"))
      .select($"term", $"est_count", $"exact_count", $"overestimate")
      .as[(String, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(est("alpha")._3 === 60L && est("gamma")._3 === 20L)
    assert(est("absentterm")._3 === 0L)
    assert(est.values.forall(_._4)) // overestimate contract
  }

  test("containment catches the contained doc that Jaccard misses") {
    // doc 1 is a verbatim chunk of doc 0 plus nothing else: containment_b
    // = 1.0 while Jaccard is diluted by the container's extra shingles
    val container = (1 to 40).map(i => s"w$i").mkString(" ")
    val contained = (1 to 10).map(i => s"w$i").mkString(" ")
    val d = Seq((0L, container), (1L, contained),
      (2L, "totally different words everywhere nothing shared at all"))
      .toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(d, n = 3, threshold = 0.9)
      .select($"id_a", $"id_b", $"containment_a", $"containment_b")
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) === Seq((0L, 1L)))
    assert(pairs.head._4 === 1.0)          // contained fully covered
    assert(pairs.head._3 < 0.25)           // container barely overlaps
    // symmetric jaccard on the same pair sits under 0.25: containment is
    // the only metric that fires at a high threshold
    val j = Dedup.ngramJaccardPairs(
      d.withColumn("blk", lit("x")), "blk", n = 3, threshold = 0.0)
      .filter($"id_a" === 0L && $"id_b" === 1L)
      .select($"jaccard").as[Double].collect()
    assert(j.headOption.forall(_ < 0.25))
  }

  test("source KL: a distinct-vocabulary source ranks far above uniform ones") {
    import graft.llm.Dsir
    val rows =
      (0L until 30L).map(i => (i, "alpha beta gamma delta common words", "plain")) ++
      (30L until 60L).map(i => (i, "alpha beta gamma delta common words", "plain2")) ++
      (60L until 90L).map(i => (i, "zork blap quux fizz wibble nork", "weird"))
    val kl = Dsir.sourceKl(rows.toDF("doc_id", "text", "source"))
      .select($"source", $"kl_nano").as[(String, Long)].collect().toMap
    assert(kl("weird") > kl("plain") && kl("weird") > kl("plain2"))
    // the two identical-distribution sources sit at (near-)equal, low KL
    assert(math.abs(kl("plain") - kl("plain2")) < kl("weird") / 10)
  }

  test("HRW sharding: adding a shard moves rows only TO the new shard") {
    import graft.llm.Sampling
    val d = (0L until 400L).map(Tuple1(_)).toDF("doc_id")
    val before = Sampling.assignShards(d, $"doc_id", Seq("a", "b", "c"))
      .select($"doc_id", $"shard").as[(Long, String)].collect().toMap
    val after = Sampling.assignShards(d, $"doc_id", Seq("a", "b", "c", "d"))
      .select($"doc_id", $"shard").as[(Long, String)].collect().toMap
    val moved = before.keys.filter(k => before(k) != after(k)).toSeq
    assert(moved.nonEmpty && moved.forall(after(_) == "d")) // only TO new
    // expected ~1/4 of rows move; allow generous slack
    assert(moved.size > 400 / 8 && moved.size < 400 / 2)
    // balance: every shard gets a nontrivial share before the split
    assert(before.values.toSeq.groupBy(identity).values.forall(_.size > 60))
  }

  test("text normalization collapses whitespace/control noise to canonical form") {
    import graft.llm.TextAnalysis
    val d = Seq((1L, "  Hello\t\tWorld  again \t")).toDF("doc_id", "text")
    val out = d.select(TextAnalysis.normalizeText($"text")).as[String].head()
    assert(out === "hello world again")
  }

  test("correlation matrix: exact +1/-1 on linear pairs, NULL on zero variance") {
    import graft.llm.Eval
    val d = (1L to 10L).map(i => (i, 2 * i, 11 - i, 7L))
      .toDF("a", "b", "neg", "const")
    val r = Eval.correlationMatrix(d, Seq(
        "a" -> $"a", "b" -> $"b", "neg" -> $"neg", "const" -> $"const"))
      .collect().map(x => (x.getString(0), x.getString(1)) ->
        (if (x.isNullAt(3)) None else Some(x.getDouble(3)))).toMap
    assert(r(("a", "b")) === Some(1.0))
    assert(r(("a", "neg")) === Some(-1.0))
    assert(r(("a", "const")) === None) // zero variance -> undefined
    assert(r.size === 6)
  }

  test("embedding outliers: the planted far vector is flagged, the cloud is not") {
    // 20 vectors near (1, 0) plus one at (-40, 40): the cloud's distances
    // to the mean cluster tightly, the plant sits many sigmas out
    val rows = (0L until 20L).map(i =>
      (i, Seq(1.0f + (i % 5) * 0.01f, (i % 3) * 0.01f))) :+
      (99L, Seq(-40.0f, 40.0f))
    val emb = rows.toDF("vec_id", "embedding")
    val m = Similarity.embeddingOutliers(emb)
      .select($"vec_id", $"outlier").as[(Long, Boolean)].collect().toMap
    assert(m(99L))
    assert((0L until 20L).forall(!m(_)))
  }

  test("AUC: perfect separation, tie correction, and empty-class guard") {
    import graft.llm.Eval
    def aucOf(rows: Seq[(Double, Boolean)]): Option[Double] = {
      val r = Eval.auc(rows.toDF("score", "label"), $"score", $"label")
        .select($"auc").collect().head
      if (r.isNullAt(0)) None else Some(r.getDouble(0))
    }
    assert(aucOf(Seq((0.9, true), (0.8, true), (0.2, false), (0.1, false)))
      === Some(1.0))
    assert(aucOf(Seq((0.9, false), (0.8, false), (0.2, true), (0.1, true)))
      === Some(0.0))
    // all-tied scores: average-rank correction gives exactly 0.5
    assert(aucOf(Seq((1.0, true), (1.0, false), (1.0, true), (1.0, false)))
      === Some(0.5))
    // hand-computed mixed case: R_pos = 1 + 3, P = 2, N = 1 -> 0.5
    assert(aucOf(Seq((3.0, true), (2.0, false), (1.0, true))) === Some(0.5))
    assert(aucOf(Seq((1.0, true), (2.0, true))) === None) // one class only
  }

  test("hard negatives: closest cross-label vectors, never same-label") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f), 1),   // query, label 1
      (1L, Seq(0.99f, 0.14f), 1), // same label: excluded despite closeness
      (2L, Seq(0.9f, 0.44f), 2),  // cross-label, close -> rank 1
      (3L, Seq(0.0f, 1.0f), 2)    // cross-label, far -> rank 2
    ).toDF("vec_id", "embedding", "label")
    val r = Similarity.hardNegatives(emb, $"vec_id" === 0L, k = 2)
      .select($"rank", $"neighbor_id").as[(Int, Long)].collect().toSeq
    assert(r === Seq((1, 2L), (2, 3L)))
  }

  test("topic tags: argmax with first-wins tie-break") {
    val d = Seq(
      (0L, "customer order price stuff"),       // commerce
      (1L, "join hash scan filter"),            // query
      (2L, "slow batch join hash"),             // tie perf=query=2 -> perf
      (3L, "nothing matches here")              // all zero -> commerce
    ).toDF("doc_id", "text")
    val m = TextAnalysis.topicTags(d)
      .select($"doc_id", $"topic").as[(Long, String)].collect().toMap
    assert(m === Map(0L -> "commerce", 1L -> "query",
      2L -> "perf", 3L -> "commerce"))
  }

  test("integer PageRank matches the hand-computed star graph exactly") {
    import graft.llm.Graph
    val nodes = (0L to 4L).map(i => Tuple1(i)).toDF("doc_id")
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("id_a", "id_b")
    val r = Graph.pagerank(nodes, pairs, iters = 3)
      .select($"doc_id", $"rank_micro", $"degree")
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    // 3 unrolled floor-division iterations by hand:
    // hub: 2700000 -> 1254999 -> 2483250; leaves: 433333 -> 915000 -> 505583
    assert(r(0L) === ((2483250L, 3L)))
    assert(Seq(1L, 2L, 3L).forall(r(_) === ((505583L, 1L))))
    assert(r(4L) === ((150000L, 0L))) // dangling: settles at the base
  }

  test("DSIR: target-like docs outscore off-target docs and dominate the sample") {
    import graft.llm.Dsir
    val targetish = (0L until 20L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog again", "en"))
    val offish = (20L until 40L).map(i =>
      (i, "zork blap quux fizz wibble nork grue plugh xyzzy frotz", "xx"))
    val raw = (targetish ++ offish).toDF("doc_id", "text", "lang")
    val lam = Dsir.bucketLogRatios(raw, raw.filter($"lang" === "en"))
    assert(lam.count() === 256L) // closed over the full bucket space
    val scored = Dsir.score(raw, lam)
    val byDoc = scored.select($"doc_id", $"score_nano")
      .as[(Long, Long)].collect().toMap
    assert((0L until 20L).map(byDoc).min > (20L until 40L).map(byDoc).max)
    // resampling at k=20 keeps exactly the target-like half (the score
    // gap dwarfs the Gumbel noise)
    val picked = Dsir.resample(scored, k = 20)
      .select($"doc_id").as[Long].collect().toSet
    assert(picked === (0L until 20L).toSet)
  }

  test("winnowing: shared run guarantees a shared fingerprint; density bounded") {
    import graft.llm.Fingerprint
    // two docs sharing a 6-word run (= w+k-1 = 4+3-1): the winnowing
    // guarantee says they MUST share >= 1 selected fingerprint hash
    val shared = "alpha beta gamma delta epsilon zeta"
    val d = Seq(
      (0L, s"one two three four five $shared six seven eight nine ten"),
      (1L, s"uno dos tres cuatro cinco $shared seis siete ocho nueve diez"),
      (2L, "completely disjoint words with nothing common here at all ok")
    ).toDF("doc_id", "text")
    val fps = Fingerprint.winnow(d, k = 3, w = 4)
    val byDoc = fps.select($"doc_id", $"fp").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((byDoc(0L) & byDoc(1L)).nonEmpty)  // guaranteed detection
    assert((byDoc(0L) & byDoc(2L)).isEmpty)   // disjoint docs: no overlap
    // density: selected fingerprints <= gram count, >= gramCount/w
    val nGrams = 11 + 6 - 3 + 1
    assert(byDoc(0L).size <= nGrams && byDoc(0L).size >= nGrams / 4)
    // match step surfaces exactly the planted pair
    val pairs = Fingerprint.sharedFingerprints(fps, minShared = 1)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 1L)))
  }

  test("semantic decontam flags the leaked vector, spares the orthogonal one") {
    import graft.llm.Decontam
    val corpus = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),  // verbatim leak of bench vector
      (1L, Seq(0.9f, 0.1f, 0.0f)),  // paraphrase-close
      (2L, Seq(0.0f, 0.0f, 1.0f))   // orthogonal
    ).toDF("vec_id", "embedding")
    val bench = Seq((100L, Seq(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val m = Decontam.semanticContamination(corpus, bench, threshold = 0.95)
      .select($"vec_id", $"contaminated").as[(Long, Boolean)].collect().toMap
    assert(m === Map(0L -> true, 1L -> true, 2L -> false))
  }

  test("snapshot diff classifies added/removed/changed/unchanged") {
    import graft.llm.Report
    val v1 = Seq((1L, "a"), (2L, "b"), (3L, "old")).toDF("doc_id", "text")
    val v2 = Seq((2L, "b"), (3L, "new"), (4L, "d")).toDF("doc_id", "text")
    val m = Report.snapshotDiff(v1, v2).as[(Long, String)].collect().toMap
    assert(m === Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
  }

  test("paragraph dedup strips the shared boilerplate from every host") {
    // paraWords=4: docs 1 and 2 share their FIRST 4-word window (the
    // boilerplate banner); the rest of each doc is unique. doc 3 is
    // untouched and must keep its original bytes (odd spacing included).
    val banner = "accept cookies to continue"
    val docs = Seq(
      (1L, s"$banner alpha beta gamma delta"),
      (2L, s"$banner epsilon zeta eta theta"),
      (3L, "totally unique  content with   odd spacing")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(docs, paraWords = 4)
      .orderBy($"doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(out === Seq(
      (1L, "alpha beta gamma delta", 2L, 1L),
      (2L, "epsilon zeta eta theta", 2L, 1L),
      // untouched doc: ORIGINAL text (whitespace preserved), zero drops
      (3L, "totally unique  content with   odd spacing", 2L, 0L)))
    // a doc that is ALL boilerplate empties out, not disappears
    val all = Seq((1L, banner), (2L, banner)).toDF("doc_id", "text")
    val emptied = Dedup.dedupParagraphs(all, paraWords = 4)
      .orderBy($"doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(emptied === Seq((1L, "", 1L, 1L), (2L, "", 1L, 1L)))
  }

  test("triangles: hand graph counts and clustering coefficients exact") {
    import graft.llm.Graph
    // K3 on {1,2,3} plus pendant 3-4 plus isolated edge 5-6
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (5L, 6L))
      .toDF("id_a", "id_b")
    val rows = Graph.triangles(pairs).orderBy($"node_id").collect()
    val byId = rows.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    assert(byId(1L) === ((2L, 1L, Some(1.0))))  // deg 2, 1 triangle, lcc 1
    assert(byId(2L) === ((2L, 1L, Some(1.0))))
    assert(byId(3L) === ((3L, 1L, Some(1.0 / 3.0)))) // 1 of 3 possible
    assert(byId(4L) === ((1L, 0L, None)))       // degree 1: lcc undefined
    assert(byId(5L) === ((1L, 0L, None)))
    assert(byId(6L) === ((1L, 0L, None)))
  }

  test("word entropy: hand values — uniform ln(n), skewed below, constant 0") {
    val docs = Seq(
      (1L, "a b c d"),          // uniform over 4 → ln 4
      (2L, "a a b b"),          // uniform over 2 → ln 2
      (3L, "x x x x"),          // constant → 0
      (4L, "a a a b")           // 3/4,1/4 mix
    ).toDF("doc_id", "text")
    val m = TextAnalysis.wordEntropy(docs).orderBy($"doc_id")
      .select($"doc_id", $"n_distinct", $"entropy")
      .as[(Long, Int, Double)].collect().toSeq
    assert(m.map(_._2) === Seq(4, 2, 1, 2))
    assert(math.abs(m(0)._3 - math.log(4)) < 1e-6)
    assert(math.abs(m(1)._3 - math.log(2)) < 1e-6)
    assert(m(2)._3 === 0.0)
    val h4 = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
    assert(math.abs(m(3)._3 - h4) < 1e-6)
  }

  test("source overlap: identical sources hit jaccard 1, disjoint 0") {
    import graft.llm.Report
    val docs = Seq(
      (1L, "the quick brown fox jumps high", "s1"),
      (2L, "the quick brown fox jumps high", "s2"), // verbatim cross-source
      (3L, "completely different words entirely here now", "s3")
    ).toDF("doc_id", "text", "source")
    val m = Report.sourceOverlap(docs, n = 3)
      .select($"src_a", $"src_b", $"jaccard")
      .as[(String, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(m(("s1", "s2")) === 1.0)
    assert(m(("s1", "s3")) === 0.0)
    assert(m(("s2", "s3")) === 0.0)
  }

  test("zipf fit: an exact 1/rank frequency law recovers slope -1") {
    import graft.llm.Report
    // counts 48/r for ranks 1..4 → ln y = ln 48 − ln rank exactly
    val words =
      Seq.fill(48)("w1") ++ Seq.fill(24)("w2") ++
        Seq.fill(16)("w3") ++ Seq.fill(12)("w4")
    val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val r = Report.zipfFit(docs, topN = 4).collect().head
    assert(r.getAs[Long]("n_terms") === 4L)
    assert(math.abs(r.getAs[Double]("slope") - (-1.0)) < 1e-6, r)
    assert(math.abs(r.getAs[Double]("intercept") - math.log(48)) < 1e-6, r)
  }

  test("md5 prefix kernel equals the conv(substring(md5)) composable form") {
    val strs = Seq("", "a", "0:neutrino", "rp:63:15", "héllo wörld",
      "a longer sentence with several words 12345")
    val df = strs.toDF("s")
    for (n <- Seq(2, 4, 8, 12, 14)) {
      val got = df.select(graft.expr.Md5Prefix($"s", n)).as[Long].collect().toSeq
      val ref = df.select(
        conv(substring(md5($"s"), 1, n), 16, 10).cast("long"))
        .as[Long].collect().toSeq
      assert(got === ref, s"nHex=$n")
    }
    // null propagates
    assert(Seq[Option[String]](None).toDF("s")
      .select(graft.expr.Md5Prefix($"s", 8)).collect().head.isNullAt(0))
  }

  test("gram-bucket kernel equals the composable gramStream + bucketOf chain") {
    import graft.llm.Dsir
    val rng = new scala.util.Random(41)
    val texts = Seq("", "one", "  spaced   out  tokens ", "a b c d e",
      "Mixed CASE Grams héllo wörld") ++
      (1 to 5).map(_ => List.fill(3 + rng.nextInt(20))(s"w${rng.nextInt(30)}")
        .mkString(" "))
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    for (b <- Seq(7, 256)) {
      val fused = docs.select($"doc_id",
          posexplode(graft.expr.GramBuckets($"text", b)).as(Seq("p", "bucket")))
        .orderBy($"doc_id", $"p").as[(Long, Int, Long)].collect().toSeq
      val composed = Dsir.gramStream(docs)
        .select($"doc_id", Dsir.bucketOf($"gram", b).as("bucket"))
        .as[(Long, Long)].collect().toSeq
      // multiset + order parity per doc
      assert(fused.map(r => (r._1, r._3)) === composed, s"b=$b")
    }
  }

  test("minhash estimate contract: verbatim pair estimates exactly 1") {
    val docs = Seq(
      (1L, base), (2L, base),        // verbatim pair: jaccard 1, est 1
      (3L, nearDup), (4L, unrelated) // near pair with 1/3; unrelated alone
    ).toDF("doc_id", "text").withColumn("_all", lit(1))
    val rows = Dedup.minhashEstimateContract(docs, blockCol = "_all",
        threshold = 0.3, bound = 0.15)
      .orderBy($"id_a", $"id_b")
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    val verbatim = rows.find(r => r._1 == 1L && r._2 == 2L).get
    assert(verbatim._3 === 1.0 && verbatim._4)
    // every reported pair honors the bound; the unrelated doc pairs with no one
    assert(rows.forall(_._4))
    assert(!rows.exists(r => r._1 == 4L || r._2 == 4L))
  }

  test("random projection: deterministic, linear, and separation-preserving") {
    import graft.llm.Similarity
    val dim = 8
    val mk = (v: Seq[Float]) => v
    val emb = Seq(
      (1L, mk(Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f))),
      (2L, mk(Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f))), // identical to 1
      (3L, mk(Seq(0f, 0f, 0f, 0f, 0f, 0f, 0f, 9f)))  // far away
    ).toDF("vec_id", "embedding")
    val p = emb.select($"vec_id",
        Similarity.randomProjection($"embedding", dim, 4).as("rp"))
      .as[(Long, Seq[Double])].collect().toMap
    // identical inputs → identical projections (pure function, no RNG)
    assert(p(1L) === p(2L))
    // signs are ±1/√k scaled sums: a one-hot input reads out one matrix
    // column, so every coordinate has magnitude 1/√4 = 0.5 (times scale)
    assert(p(1L).forall(x => math.abs(x) === 0.5))
    assert(p(3L).forall(x => math.abs(x) === 4.5))
    // distances preserved in expectation: far pair stays far, dup pair at 0
    val d12 = math.sqrt(p(1L).zip(p(2L)).map { case (a, b) => (a - b) * (a - b) }.sum)
    val d13 = math.sqrt(p(1L).zip(p(3L)).map { case (a, b) => (a - b) * (a - b) }.sum)
    assert(d12 === 0.0 && d13 > 1.0)
  }

  test("k-core: pendant chain peels away, the triangle core survives") {
    import graft.llm.Graph
    // triangle {1,2,3} with a pendant path 3-4-5: 2-core = the triangle
    // (4 and 5 peel in successive rounds — needs >1 iteration)
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("id_a", "id_b")
    val core = Graph.kCore(pairs, k = 2, iters = 3)
      .orderBy($"node_id").as[(Long, Long)].collect().toSeq
    assert(core === Seq((1L, 2L), (2L, 2L), (3L, 2L)))
    // k=1, one round: nothing peels (every node has an edge)
    assert(Graph.kCore(pairs, k = 1, iters = 1).count() === 5L)
  }

  test("label propagation: one bridge edge keeps two triangles as distinct communities; isolated node keeps its own label") {
    import graft.llm.Graph
    // triangles {1,2,3} and {4,5,6} bridged by 3–4 — a connected-components
    // dedup would fuse all six; LPA's majority vote holds the bridge
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("id_a", "id_b")
    val nodes = (1L to 7L).toSeq.toDF("doc_id") // 7 has no edges
    val got = Graph.labelPropagation(nodes, pairs, iters = 3)
      .orderBy($"doc_id").as[(Long, Long)].collect().toSeq
    // hand-traced 3 synchronous rounds with (count DESC, label ASC) votes
    assert(got === Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 3L), (5L, 3L), (6L, 3L), (7L, 7L)))
    // the contrast: the closure fuses the bridged triangles into ONE
    val cc = graft.llm.Dedup.clusters(pairs).select($"cluster_id").distinct()
    assert(cc.count() === 1L)
  }

  test("silhouette: tight separated clusters score near 1, k=1 rejected") {
    import graft.llm.Kmeans
    // two tight clusters far apart; init = first 2 vectors (one per cluster)
    val emb = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(10.0f, 10.0f)),
      (3L, Seq(0.1f, 0.0f)), (4L, Seq(10.1f, 10.0f)),
      (5L, Seq(0.0f, 0.1f)), (6L, Seq(10.0f, 10.1f))
    ).toDF("vec_id", "embedding")
    val model = Kmeans.trainModel(emb, k = 2, iters = 2)
    val sil = Kmeans.silhouette(emb, model).orderBy($"cell").collect()
    assert(sil.length === 2)
    sil.foreach { r =>
      assert(r.getAs[Long]("n_members") === 3L)
      assert(r.getAs[Double]("mean_sil") > 0.99, r)
    }
    assertThrows[IllegalArgumentException] {
      Kmeans.silhouette(emb, Kmeans.Model(Array(Array(0.0, 0.0)), Array(6L)))
    }
  }

  test("quantile sketch: merge of disjoint shards is bit-identical to the full build and associative; small groups are exact; delete is exact-by-construction with the size rail") {
    import graft.llm.Sketch
    // 3 groups x 400 unique-key rows with distinct value ranges
    val rows = for (g <- 0 until 3; i <- 0 until 400) yield
      (s"g$g", s"k${g}_$i", g * 1000.0 + i)
    val df = rows.toDF("grp", "key", "x")
    val k = 64
    def build(d: org.apache.spark.sql.DataFrame) =
      Sketch.quantileBuild(d, "grp", "key", "x", k)
    def rowsOf(d: org.apache.spark.sql.DataFrame) =
      d.select($"grp", $"h", $"v").orderBy($"grp", $"h", $"v").collect().toSeq

    // merge(shards) == build(union), bit-identical, in any fold order
    val Seq(s0, s1, s2) = (0 until 3).map(i => df.filter(crc32($"key") % 3 === i))
    val full = rowsOf(build(df))
    val leftFold = Sketch.quantileMerge(
      Sketch.quantileMerge(build(s0), build(s1), k), build(s2), k)
    val rightFold = Sketch.quantileMerge(
      build(s0), Sketch.quantileMerge(build(s1), build(s2), k), k)
    assert(rowsOf(leftFold) === full)
    assert(rowsOf(rightFold) === full)

    // a group smaller than k is sampled whole: estimates are the EXACT
    // lower order statistics ceil(q*n)
    val small = (0 until 10).map(i => ("s", s"sk$i", i * 1.0)).toDF("grp", "key", "x")
    val est = Sketch.quantileEstimate(build(small),
        Seq(("p50", 0.5), ("p90", 0.9), ("p99", 0.99)))
      .orderBy($"qlabel").collect()
    assert(est.map(r => (r.getAs[String]("qlabel"), r.getAs[Double]("est_value"))).toSeq
      === Seq(("p50", 4.0), ("p90", 8.0), ("p99", 9.0)))
    // the rank-of dual on the same whole-group sample: CDF is EXACT
    val rk = Sketch.quantileRankOf(build(small),
        Seq(("a", 4.0), ("b", 8.5))).orderBy($"xlabel").collect()
    assert(rk.map(r => (r.getAs[String]("xlabel"),
        r.getAs[Double]("est_frac_le"))).toSeq
      === Seq(("a", 0.5), ("b", 0.9)))
    // quartile bucketing off the same sample: boundaries are the exact
    // order statistics (2, 4, 7 for values 0..9), bucket = #boundaries
    // strictly below — 0,1,2→b0; 3,4→b1; 5,6,7→b2; 8,9→b3
    val bk = Sketch.quantileBucket(small, build(small), "grp", "x",
        Seq(0.25, 0.5, 0.75))
      .groupBy($"bucket").count().orderBy($"bucket")
      .as[(Int, Long)].collect().toSeq
    assert(bk === Seq((0, 3L), (1, 2L), (2, 3L), (3, 2L)))
    // a group ABSENT from the sketch surfaces with a NULL bucket (never
    // silently dropped), and a caller whose group column is itself named
    // "grp" keeps it in the output
    val mixed = small.unionByName(
      Seq(("fresh", "fk0", 1.0)).toDF("grp", "key", "x"))
    val tagged = Sketch.quantileBucket(mixed, build(small), "grp", "x",
      Seq(0.25, 0.5, 0.75))
    assert(tagged.columns.contains("grp"))
    val freshRows = tagged.filter($"grp" === "fresh").collect()
    assert(freshRows.length === 1 && freshRows.head.isNullAt(
      tagged.columns.indexOf("bucket")))
    assert(tagged.filter($"grp" === "s" && $"bucket".isNull).count() === 0L)

    // delete: unique keys make erasure exact — trimmed sketch == the
    // retained rows minus the doomed hashes, and (because any survivor
    // below the old k-th minimum was already retained) == bottom-k' of
    // the survivors for k' = surviving retained count, per group
    val doomed = df.filter(crc32($"key") % 5 === 0)
    val trimmed = Sketch.quantileDelete(build(df), doomed, "grp", "key", k,
      minKeep = 16)
    assert(trimmed.filter($"needs_rebuild").count() === 0L)
    val kept = trimmed.groupBy($"grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val surv = df.join(doomed.select($"key"), Seq("key"), "left_anti")
    for (g <- Seq("g0", "g1", "g2")) {
      val want = rowsOf(Sketch.quantileBuild(
        surv.filter($"grp" === g), "grp", "key", "x", kept(g).toInt))
      val got = rowsOf(trimmed.filter($"grp" === g))
      assert(got === want, g)
    }

    // the size rail: a minKeep above the surviving sample flags the group
    val railed = Sketch.quantileDelete(build(df), doomed, "grp", "key", k,
      minKeep = k)
    assert(railed.filter($"needs_rebuild").select($"grp").distinct().count() === 3L)

    // a group whose ENTIRE sample is deleted still surfaces as one null
    // marker row with the flag set — the caller's rebuild set cannot
    // miss it (the kmvDelete marker discipline)
    val wiped = Sketch.quantileDelete(build(df),
      df.filter($"grp" === "g0"), "grp", "key", k, minKeep = 16)
    val g0 = wiped.filter($"grp" === "g0").collect()
    assert(g0.length === 1 && g0.head.isNullAt(1) && g0.head.getBoolean(4))
    assert(wiped.filter($"grp" =!= "g0" && $"needs_rebuild").count() === 0L)

    // rank contract on the saturated groups: sample-quantile error within
    // the 3-sigma envelope sqrt(q(1-q)/k) over the full build
    val fullEst = Sketch.quantileEstimate(build(df),
      Seq(("p50", 0.5), ("p90", 0.9)))
    val errs = fullEst.join(df.select($"grp", $"x"), Seq("grp"))
      .groupBy($"grp", $"qlabel", $"q", $"est_value")
      .agg((count(when($"x" <= $"est_value", lit(1))).cast("double")
        / count(lit(1)).cast("double")).as("frac_le"))
      .select(abs($"frac_le" - $"q").as("err"), $"q").collect()
    errs.foreach { r =>
      val q = r.getDouble(1)
      assert(r.getDouble(0) <= 3.0 * math.sqrt(q * (1 - q) / k) + 1.0 / k, r)
    }
  }
}
