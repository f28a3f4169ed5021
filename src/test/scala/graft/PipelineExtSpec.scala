package graft

import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.Sinks

/** Specs for the training-data-pipeline extensions (dedup, similarity,
  * text analysis, multimodal) and the sink surface (K1-K3/T15/S8).
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),            // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog"),          // near dup of 1
    (4L, "completely different words about spark query engines here")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical text, keeps min id") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 2L), (3L, 1L), (4L, 1L))) // (canonical, count)
  }

  test("minhash-LSH finds exact and near dups, not unrelated docs") {
    // 6 bands x 2 rows: the 0.556-jaccard near-dup deterministically
    // band-collides under these seeds (the default 4x3 needs J >~ 0.8,
    // which is the production threshold regime).
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
        numBands = 6, rowsPerBand = 2, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))          // identical: every band collides
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L))) // near-dup banding
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("shingles are distinct word 3-grams; short texts fall back to identity") {
    val sh = Seq((1L, "a b c d"), (2L, "x y")).toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(1L) == Seq("a b c", "b c d"))
    assert(sh(2L) == Seq("x y"))
  }

  test("simhash: identical text => identical fingerprint; different text differs") {
    val fp = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(4L))
    assert(fp(1L).length == 32 && fp(1L).forall(c => c == '0' || c == '1'))
    def hamming(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    assert(hamming(fp(1L), fp(3L)) < hamming(fp(1L), fp(4L))) // near-dup is closer
  }

  test("simhashAgg produces bit-identical fingerprints to the fold form") {
    val fold = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val agg = Dedup.simhashAgg(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(agg == fold)
  }

  test("simhashAgg keeps null-text rows with the same all-zero fingerprint as the fold form") {
    val nullable = Seq((1L, Some("a b c")), (2L, None), (3L, Some("")))
      .toDF("doc_id", "text")
    val fold = nullable.select(col("doc_id"), Dedup.simhash(col("text")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val agg = Dedup.simhashAgg(nullable, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(agg == fold)                       // same ROWS, not just same values
    assert(agg(2L) == "0" * 32)               // null text: no votes, all zeros
    assert(agg(3L) != agg(2L))                // empty string hashes one "" token
  }

  test("duplicateSpans: shared run surfaces at different offsets, hits merge, clean doc zeros") {
    // 14-token run "r1 .. r14" shared by docs 1 and 2 at DIFFERENT
    // offsets; w=4 -> 11 dup windows each merging into one 14-token span
    val run = (1 to 14).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (1L, s"a b c $run x y"),
      (2L, s"$run p q r s t"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10") // clean
    ).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(docs, "doc_id", col("text"), w = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // doc 1: 19 tokens -> 16 windows; dup windows = those fully inside
    // the run: positions 4..14 = 11; one span of 14 tokens
    assert(out(1L) == ((16L, 11L, 1L, 14L, 14L)))
    // doc 2: 19 tokens -> 16 windows; run at positions 1..11
    assert(out(2L) == ((16L, 11L, 1L, 14L, 14L)))
    assert(out(3L) == ((7L, 0L, 0L, 0L, 0L)))
  }

  test("duplicateClusters throws rather than returning truncated labels") {
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("id")
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      Dedup.duplicateClusters(nodes, chain, maxIter = 1).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("incrementalClusters: seeds from base, batch-internal merge, frozen bridge pick") {
    val baseLabels = Seq((10L, 10L), (20L, 10L), (30L, 30L)).toDF("id", "label")
    val batch = Seq(100L, 101L, 102L, 103L, 104L).toDF("id")
    val cross = Seq(
      (100L, 20L),              // adopts base cluster label 10 (not 20)
      (103L, 30L),              // adopts 30
      (104L, 10L), (104L, 30L)  // bridges two base clusters -> smaller label
    ).toDF("new_id", "base_id")
    val inner = Seq((100L, 101L), (101L, 102L)).toDF("doc_a", "doc_b")
    val got = Dedup.incrementalClusters(baseLabels, batch, cross, inner)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 100 seeds 10; the chain drags 101 and 102 (no cross edges) to 10 too
    assert(got == Map(100L -> 10L, 101L -> 10L, 102L -> 10L,
      103L -> 30L, 104L -> 10L))
  }

  test("bandedKeys (explode + codegen agg) produces the exact band keys of the fold form") {
    val fold = docs
      .select(col("doc_id").as("id"), Dedup.tokenValues(col("text")).as("tv"))
      .select(col("id"), Dedup.shingleValuesFromTokens(col("tv")).as("sh"))
      .select(col("id"),
        posexplode(Dedup.bandKeys(col("sh"), 4, 3)).as(Seq("band_id", "band_key")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val agg = Dedup.bandedKeys(docs, "doc_id", "text", 4, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(agg == fold)
  }

  test("duplicateClusters closes chains transitively; singletons keep their id") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id")
    // chain 1-2-3 (1 and 3 never directly paired), island 4-5, singleton 6
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val labels = Dedup.duplicateClusters(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
  }

  test("qualitySmooth: floor-mean consensus rounds on a path graph; isolated nodes untouched") {
    val scores = Seq((1L, 0L), (2L, 600L), (3L, 1200L), (4L, 7777L))
      .toDF("id", "q_u")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    def run(r: Int) = Dedup.qualitySmooth(scores, pairs, rounds = r)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // round 1: 1←(0+600)/2=300, 2←(600+0+1200)/3=600, 3←(1200+600)/2=900
    assert(run(1) == Map(1L -> 300L, 2L -> 600L, 3L -> 900L, 4L -> 7777L))
    // round 2: 1←(300+600)/2=450, 2←(600+300+900)/3=600, 3←(900+600)/2=750
    assert(run(2) == Map(1L -> 450L, 2L -> 600L, 3L -> 750L, 4L -> 7777L))
  }

  test("softWeights: 1/|cluster| per member; singletons keep weight 1; mass sums to cluster count") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val w = Dedup.softWeights(nodes, pairs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // chain 1-2-3 → weight 1/3 each; pair 4-5 → 1/2; singleton 6 → 1
    assert(w(1L) == ((1L, 3L, Rounding.stableVal(1.0 / 3, 6))))
    assert(w(3L) == ((1L, 3L, Rounding.stableVal(1.0 / 3, 6))))
    assert(w(4L) == ((4L, 2L, 0.5)))
    assert(w(6L) == ((6L, 1L, 1.0)))
    // total mass ≈ number of clusters (3), up to the 6-dp rounding
    val mass = w.values.map(_._3).sum
    assert(math.abs(mass - 3.0) < 1e-4, s"mass $mass")
  }

  test("hot-bucket cap bounds a degenerate all-identical corpus; normal buckets untouched") {
    // 50 identical docs: every band key is shared by all 50 — the
    // boilerplate shape whose Σ|bucket|² term explodes at 100 TB
    val boiler = (1L to 50L).map(i =>
      (i, "the same boilerplate footer text repeated on every page"))
      .toDF("doc_id", "text")
    // bucket of 50 > cap 10: the whole bucket is dropped pre-join —
    // zero candidate pairs (exact-hash dedup still catches these docs)
    assert(Dedup.minhashPairs(boiler, "doc_id", "text",
      numBands = 4, rowsPerBand = 3, threshold = 0.3,
      maxBucket = 10).count() == 0)
    // cap above the bucket size: all C(50,2) identical pairs survive
    assert(Dedup.minhashPairs(boiler, "doc_id", "text",
      numBands = 4, rowsPerBand = 3, threshold = 0.3,
      maxBucket = 100).count() == 50L * 49 / 2)
    // per-bucket guard: a normal corpus is bit-identical under the cap
    val default = Dedup.minhashPairs(docs, "doc_id", "text",
      numBands = 6, rowsPerBand = 2, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val capped = Dedup.minhashPairs(docs, "doc_id", "text",
      numBands = 6, rowsPerBand = 2, threshold = 0.3, maxBucket = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped == default)
  }

  test("semantic dedup semantics: pair scoping by cluster, greedy min-id drop") {
    // dim-4 corpus through the dedup_semantic composition:
    // cosineDedupPairs scoped by cluster_id, then drop = distinct vec_b.
    val corpus = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0), 0),
      (2L, Seq(0.999, 0.045, 0.0, 0.0), 0),  // cos(1,2) ≈ 0.999 — paraphrase of 1
      (3L, Seq(0.0, 1.0, 0.0, 0.0), 0),      // orthogonal — below threshold
      (4L, Seq(1.0, 0.0, 0.0, 0.0), 1),      // identical to 1, OTHER cluster
      (5L, Seq(0.985, 0.17, 0.0, 0.0), 0)    // cos(2,5) ≈ 0.992, cos(1,5) ≈ 0.985
    ).toDF("id", "vecd", "cluster_id")
    val pairs = Similarity.cosineDedupPairs(corpus, threshold = 0.99,
        numPlanes = 4, dim = 4, extraKeys = Seq("cluster_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // cross-cluster near pair (1,4) must NOT form — SemDeDup pairs are
    // cluster-scoped; (1,5) stays under the threshold
    assert(pairs == Set((1L, 2L), (2L, 5L)))
    val dropped = pairs.map(_._2)
    // greedy min-id: 5 pairs ONLY with the already-dropped 2 and is
    // still dropped (cheaper than the closure; dedup_clusters is the
    // closure when canonical labels are needed)
    assert(dropped == Set(2L, 5L))
    assert(Set(1L, 3L, 4L).forall(id => !dropped(id)))
  }

  test("cosine hot-cell cap drops a degenerate cell whole; normal cells untouched") {
    // six identical vectors saturate one (bucket, cluster) cell — the
    // |cell|² blow-up shape; the near pair in the other cluster survives
    val corpus = (
      (1L to 6L).map(i => (i, Seq(1.0, 0.0, 0.0, 0.0), 0)) ++
      Seq((10L, Seq(0.0, 1.0, 0.0, 0.0), 1),
          (11L, Seq(0.0, 1.0, 0.02, 0.0), 1))
    ).toDF("id", "vecd", "cluster_id")
    def n(maxCell: Int): Long = Similarity.cosineDedupPairs(corpus,
      threshold = 0.99, numPlanes = 4, dim = 4,
      extraKeys = Seq("cluster_id"), maxCell = maxCell).count()
    assert(n(5) == 1L)                  // hot cell of 6 dropped whole
    assert(n(Int.MaxValue) == 6L * 5 / 2 + 1)
  }

  test("dedup_semantic query: paraphrases drop against their source; kept flags partition the corpus") {
    val out = SparkEntry.queries("dedup_semantic")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val base = out.keySet.filter(_ < 100000L)
    assert(base.nonEmpty && out.size == 2 * base.size)  // corpus = base ∪ paraphrases
    // the planted paraphrase (id+100000, cos ≈ 0.98 > 0.95) is the
    // LARGER id of its pair, so whenever it lands in its source's
    // (bucket, cluster) cell it must drop. The +delta perturbation
    // shifts every hyperplane dot by ±delta·w0 and nudges the centroid
    // cosines, so ~half the paraphrases cross a bucket or cluster
    // boundary (measured 249/500 at sf0.001) — the LSH recall trade.
    // A collapse below 1/3 would mean the cell scoping broke.
    val paraDropped = base.count(id => !out(id + 100000L))
    assert(paraDropped * 3 > base.size,
      s"only $paraDropped of ${base.size} paraphrases dropped")
    assert(out.values.exists(identity), "nothing kept")
  }

  test("semanticDrops: min-id keeps arrival order, centroid keeps representativeness") {
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("vec_a", "vec_b")
    // pair (1,2): 2 is CLOSER to its centroid (0.9987 > 0.9954) — the
    // centroid rule keeps it and drops 1, where min-id would keep 1;
    // pair (3,4): exact cosine tie — both rules drop the larger id 4
    val asg = Seq(
      (1L, 0, 0.995400), (2L, 0, 0.998700),
      (3L, 1, 0.970000), (4L, 1, 0.970000)
    ).toDF("vec_id", "cluster_id", "cos")
    def drops(keep: String): Set[Long] =
      Similarity.semanticDrops(pairs, asg, keep)
        .collect().map(_.getLong(0)).toSet
    assert(drops("min_id") == Set(2L, 4L))
    assert(drops("centroid") == Set(1L, 4L))
    intercept[IllegalArgumentException](drops("median"))
  }

  test("dedup_semantic_centroid query: same corpus partition, keep rule independent of id order") {
    val minId = SparkEntry.queries("dedup_semantic")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val cen = SparkEntry.queries("dedup_semantic_centroid")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    // identical corpus and pair frame — only the survivor choice differs
    assert(cen.keySet == minId.keySet)
    // min-id keeps every pair's lower id, so a dropped doc under min_id
    // is always the larger one; the centroid rule must disagree
    // somewhere on this corpus (some paraphrase lands closer to its
    // centroid than its source), or it silently degenerated to min-id
    assert(cen != minId, "centroid keep never disagreed with min-id keep")
    assert(cen.values.exists(identity) && cen.values.exists(!_))
  }

  test("bloom screen: zero false negatives; unsaturated filter still rejects novels") {
    val base = (1 to 200).map(i => (i.toLong, s"base doc number $i with words"))
      .toDF("doc_id", "text")
    val words = Dedup.bloomBits(base, "text")
    assert(words.length == Dedup.BloomWords)
    val probes = base.unionByName(
      (1 to 50).map(i => (1000L + i, s"novel probe text $i")).toDF("doc_id", "text"))
    val out = probes
      .select(col("doc_id"), Dedup.bloomMaybeContains(words, col("text")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // every base member hits — the filter NEVER false-negatives
    assert((1 to 200).forall(i => out(i.toLong)))
    // at 600 set bits of 65,536 the filter is far from saturated: the
    // novel probes overwhelmingly miss (each FP chance ~1e-9)
    assert((1 to 50).count(i => !out(1000L + i)) >= 49)
  }

  test("sharded bloom: join-side verdicts identical to the literal array at the same size; wide form never false-negatives") {
    val base = (1 to 200).map(i => (i.toLong, s"base doc number $i with words"))
      .toDF("doc_id", "text")
    val probes = base.unionByName(
      (1 to 50).map(i => (1000L + i, s"novel probe text $i")).toDF("doc_id", "text"))
    // corpus-scaled size, exactly what bloomWordsFor would pick — the
    // boundary fixture: same nWords on both paths
    val nWords = Dedup.bloomWordsFor(200L).toLong
    val literal = {
      val words = Dedup.bloomBits(base, "text", nWords.toInt)
      probes.select(col("doc_id"),
          Dedup.bloomMaybeContains(words, col("text")).as("m"))
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    }
    val sharded = Dedup.bloomMaybeContainsJoin(probes, "doc_id", "text",
        Dedup.bloomBitsFrame(base, "text", nWords), nWords)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(sharded == literal) // bit-for-bit verdict identity, FPs included
    // the stateless per-position join chain (the streaming screen's
    // form) agrees with both
    val stateless = Dedup.bloomMaybeContainsJoinStateless(probes, "doc_id",
        "text", Dedup.bloomBitsFrame(base, "text", nWords), nWords)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(stateless == literal)
    // the wide (40-bit-position) form for the >2^31-word regime: no
    // literal twin exists there, so the contract is the Bloom contract
    // itself — zero false negatives, and at this tiny load zero FPs slip
    // through a 2^20-word filter
    val wide = Dedup.bloomMaybeContainsJoin(probes, "doc_id", "text",
        Dedup.bloomBitsFrame(base, "text", 1L << 20, wide = true),
        1L << 20, wide = true)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert((1 to 200).forall(i => wide(i.toLong)))
    assert((1 to 50).count(i => !wide(1000L + i)) >= 49)
  }

  test("sharded bloom: duplicate ids with different texts get one verdict per ROW, not AND-merged (ADVICE r16)") {
    val base = (1 to 50).map(i => (i.toLong, s"base doc number $i with words"))
      .toDF("doc_id", "text")
    val nWords = Dedup.bloomWordsFor(50L).toLong
    val filter = Dedup.bloomBitsFrame(base, "text", nWords)
    // one id, two texts: a member and a novel — the literal probe emits
    // (true, false); the join form must NOT collapse them to one AND'd row
    val dupes = Seq(
      (7L, "base doc number 7 with words"),
      (7L, "novel text that is not in the base at all")).toDF("doc_id", "text")
    val joinVerdicts = Dedup.bloomMaybeContainsJoin(dupes, "doc_id", "text",
        filter, nWords)
      .collect().map(_.getBoolean(1)).sorted.toSeq
    val words = Dedup.bloomBits(base, "text", nWords.toInt)
    val literalVerdicts = dupes
      .select(Dedup.bloomMaybeContains(words, col("text")))
      .collect().map(_.getBoolean(0)).sorted.toSeq
    assert(joinVerdicts == literalVerdicts)
    assert(joinVerdicts == Seq(false, true))
  }

  test("paragraphDedup: first occurrence survives, docs reassemble in order, full dup degrades to empty") {
    val A = "a1 a2 a3 a4"; val B = "b1 b2 b3 b4"; val C = "c1 c2 c3 c4"
    val corpus = Seq(
      (1L, s"$A $B"),
      (2L, s"$A $C"),       // A repeats -> only doc 1's copy survives
      (3L, s"$A $B"),       // every paragraph already seen -> ""
      (4L, "d1 d2 d3 d4 d5 d6") // tail clamp: blocks (d1..d4, d5 d6)
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(corpus, "doc_id", col("text"), 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((2L, 2L, s"$A $B")))
    assert(out(2L) == ((2L, 1L, C)))
    assert(out(3L) == ((2L, 0L, "")))
    assert(out(4L) == ((2L, 2L, "d1 d2 d3 d4 d5 d6")))
  }

  test("containment finds the excerpt symmetric jaccard misses; df cap bounds the index") {
    val corpus = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16"),
      (2L, "w5 w6 w7 w8 w9 w10"),  // excerpt of 1: all its shingles ⊂ 1's
      (3L, "q1 q2 q3 q4 q5 q6 q7 q8")
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(spark, corpus, "doc_id", "text",
        dfCap = 100, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // the excerpt is fully contained: C(2→1) = 1.0; the reverse
    // direction covers only 4 of 14 shingles and stays below threshold,
    // as does the unrelated doc — asymmetry is the point
    assert(out == Map((2L, 1L) -> 1.0))
    // symmetric jaccard on the same pair: 4/14 shingles shared ≈ 0.29 —
    // under any production threshold, which is why bands never catch it
    // df cap 1: every shared shingle has df=2 > 1, so the index empties
    assert(Dedup.containmentPairs(spark, corpus, "doc_id", "text",
      dfCap = 1, threshold = 0.8).count() == 0)
  }

  test("containment edges in the closure: the excerpt collapses into its source's cluster") {
    // doc 2 is an excerpt of doc 1 (containment 1.0, jaccard ≈ 0.29 —
    // no band collides); doc 3 is a classic near-dup of doc 1. A
    // minhash-only closure clusters {1,3} and leaves the excerpt alone;
    // with containment pairs unioned as edges (the e4 wiring) the
    // excerpt joins the source's cluster.
    val corpus = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16"),
      (2L, "w5 w6 w7 w8 w9 w10"),
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 wXX"),
      (4L, "q1 q2 q3 q4 q5 q6 q7 q8")
    ).toDF("doc_id", "text")
    val mh = Dedup.minhashPairs(corpus, "doc_id", "text",
        numBands = 6, rowsPerBand = 2, threshold = 0.8)
      .select(col("doc_a"), col("doc_b"))
    val nodes = corpus.select(col("doc_id").as("id"))
    def labels(pairs: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      Dedup.duplicateClusters(nodes, pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mhOnly = labels(mh)
    assert(mhOnly(3L) == 1L && mhOnly(2L) == 2L,  // excerpt survives
      s"minhash-only closure: $mhOnly")
    val withCont = labels(mh.unionByName(
      Dedup.containmentPairs(spark, corpus, "doc_id", "text",
        dfCap = 100, threshold = 0.8).select(col("doc_a"), col("doc_b"))))
    assert(withCont == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L),
      s"containment closure: $withCont")
  }

  test("minhashPairs with precomputed signatures or shingle frames matches the self-derived path") {
    val self = Dedup.minhashPairs(docs, "doc_id", "text",
      numBands = 6, rowsPerBand = 2, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sig = Dedup.signatures(docs, "doc_id", "text", 12).localCheckpoint()
    val fedSigs = Dedup.minhashPairs(docs, "doc_id", "text",
      numBands = 6, rowsPerBand = 2, threshold = 0.3, sigs = Some(sig))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fedSigs == self)
    // sh alone: banding derives from it too (the orElse branch)
    val sh = Dedup.shingleFrame(docs, "doc_id", "text").localCheckpoint()
    val fedSh = Dedup.minhashPairs(docs, "doc_id", "text",
      numBands = 6, rowsPerBand = 2, threshold = 0.3, sh = Some(sh))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fedSh == self)
    // both at once (the incremental query's shape)
    val fedBoth = Dedup.minhashPairs(docs, "doc_id", "text",
      numBands = 6, rowsPerBand = 2, threshold = 0.3,
      sigs = Some(sig), sh = Some(sh))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fedBoth == self)
  }

  test("precomputed near-dup index: indexed incremental pairs equal the direct form; cap applies at write") {
    val dir = java.nio.file.Files.createTempDirectory("neardup-index").toString
    Dedup.writeNearDupIndex(docs, "doc_id", "text", dir,
      numBands = 6, rowsPerBand = 2)
    val banded = spark.read.parquet(s"$dir/banded")
    val shingles = spark.read.parquet(s"$dir/shingles")
    val batch = docs.withColumn("doc_id", col("doc_id") + 100)
    val direct = Dedup.minhashPairsBetween(batch, docs, "doc_id", "text",
        numBands = 6, rowsPerBand = 2, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val indexed = Dedup.minhashPairsBetweenIndexed(batch, "doc_id", "text",
        banded, shingles, numBands = 6, rowsPerBand = 2, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(indexed == direct && indexed.nonEmpty)

    // a degenerate base: the boilerplate bucket is dropped ONCE at
    // write time, so no ingest ever pairs against it
    val boilerDir = java.nio.file.Files.createTempDirectory("neardup-hot").toString
    val boiler = (1L to 20L).map(i => (i, "same boilerplate page footer everywhere"))
      .toDF("doc_id", "text")
    Dedup.writeNearDupIndex(boiler, "doc_id", "text", boilerDir,
      numBands = 6, rowsPerBand = 2, maxBucket = 10)
    assert(spark.read.parquet(s"$boilerDir/banded").count() == 0)
    val crossHot = Dedup.minhashPairsBetweenIndexed(
      boiler.withColumn("doc_id", col("doc_id") + 100), "doc_id", "text",
      spark.read.parquet(s"$boilerDir/banded"),
      spark.read.parquet(s"$boilerDir/shingles"),
      numBands = 6, rowsPerBand = 2, threshold = 0.5)
    assert(crossHot.count() == 0)
  }

  test("minhashPairsBetween yields only cross-batch pairs, never base-base") {
    val base = docs
    val batch = docs.withColumn("doc_id", col("doc_id") + 100)
    val pairs = Dedup.minhashPairsBetween(batch, base, "doc_id", "text",
        numBands = 6, rowsPerBand = 2, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.forall { case (n, b) => n >= 100 && b < 100 })
    // exact copies pair across the batch boundary (1≡2, so 101/102 match
    // both); the 0.556-jaccard near-dup stays below the 0.9 threshold
    assert(pairs == Set((101L, 1L), (101L, 2L), (102L, 1L), (102L, 2L),
      (103L, 3L), (104L, 4L)))
  }
}

class SamplingSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Sampling

  test("splitAssign: stable content-keyed cutoffs; train slot == deterministicKeep(80)") {
    val keys = (1L to 2000L).toDF("k")
    val splits = keys.select(col("k"),
        Sampling.splitAssign(col("k"), 80, 10).as("split"),
        Sampling.deterministicKeep(col("k"), 80).as("keep80"),
        Sampling.deterministicKeep(col("k"), 90).as("keep90"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2), r.getBoolean(3)))
    // split == 'train' is EXACTLY the 80% keep set; train∪val the 90%
    splits.foreach { case (k, s, k80, k90) =>
      assert((s == "train") == k80, s"key $k")
      assert((s != "test") == k90, s"key $k")
    }
    // rough proportions on 2000 keys (binomial 3σ bounds)
    val byS = splits.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byS("train") > 1480 && byS("train") < 1710, byS.toString)
    assert(byS("test") > 130 && byS("test") < 280, byS.toString)
    // resizing only moves the cutoff: the 'val' members under (80,10)
    // are all 'train' members under (92, 5)
    val bigger = keys.select(col("k"),
        Sampling.splitAssign(col("k"), 92, 5).as("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    splits.filter(_._2 == "val").foreach { case (k, _, _, _) =>
      assert(bigger(k) == "train", s"key $k reshuffled instead of recut")
    }
  }

  test("temperatureMix: sqrt rule downsamples the head sub-linearly; kept counts track rates") {
    // 90/10 split at budget 40: proportional keep would take 36/4;
    // sqrt weights (9.49 vs 3.16) give rates 33%/126->100% — the head
    // trimmed sub-linearly, the tail kept whole
    val docs = (1L to 100L)
      .map(i => (if (i <= 90) "big" else "small", i)).toDF("source", "doc_id")
    val out = Sampling.temperatureMix(docs, "source", "doc_id", budget = 40L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val (bigN, bigRate, bigKept) = out("big")
    val (smallN, smallRate, smallKept) = out("small")
    assert(bigN == 90L && smallN == 10L)
    assert(bigRate == 33L)   // floor(100*40*sqrt(90)e6 / ((sqrt(90)e6+sqrt(10)e6)*90))
    assert(smallRate == 99L) // sqrt favors the tail to ~everything (floor shaves the last pct)
    assert(smallKept >= 9L && smallKept <= 10L)
    // content-keyed keep at 33%: deterministic subset of the head
    assert(bigKept > 0L && bigKept < bigN)
  }

  test("e6 flagship: copies collapse, PII is scrubbed from reassembled text, gate holds") {
    val out = SparkEntry.queries("e6_pretrain_corpus")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    val byId = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    // every re-crawl copy deduplicated away at the paragraph stage
    assert(byId.keySet.forall(_ < 1000000L))
    byId.foreach { case (id, r) =>
      // injected email/ip fixtures were found and replaced
      if (id % 3 == 0) {
        assert(r.getAs[Int]("n_email") >= 1)
        assert(r.getAs[String]("clean_text").contains("<EMAIL>"))
      }
      // ids with % 300 > 255 inject "10.<invalid-octet>.0.1" — NOT an
      // address, and the strict 0-255 pattern rightly leaves it alone
      if (id % 5 == 0 && id % 300 <= 255) assert(r.getAs[Int]("n_ipv4") >= 1)
      if (id % 5 == 0 && id % 300 > 255)
        assert(r.getAs[String]("clean_text").contains(s" from 10.${id % 300}.0.1"))
      assert(!r.getAs[String]("clean_text").contains("@"))
      assert(r.getAs[Double]("clf_score") >= PipelineConfig.Default.clfThreshold)
      assert(r.getAs[Long]("shard_id") >= 0L)
    }
  }

  test("capPerKey: best-score keep per key, ties to the lower id, under-cap keys intact") {
    val rows = Seq(
      ("a", 1L, 0.5), ("a", 2L, 0.9), ("a", 3L, 0.9), ("a", 4L, 0.1),
      ("b", 9L, 0.2)
    ).toDF("src", "doc_id", "sc")
    val out = Sampling.capPerKey(rows, "src", "doc_id", col("sc"), cap = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(3)))
    // key a: 0.9-tie breaks to lower id (2 before 3); 1 and 4 trimmed
    assert(out.toSet == Set(("a", 2L, 1), ("a", 3L, 2), ("b", 9L, 1)))
    intercept[IllegalArgumentException](
      Sampling.capPerKey(rows, "src", "doc_id", col("sc"), cap = 0))
  }

  test("stratified sampling: raising one stratum's rate only ADDS its rows, others untouched") {
    val docs = (1 to 500).map(i => (i.toLong, if (i % 2 == 0) "en" else "fr"))
      .toDF("doc_id", "lang")
    def kept(pctEn: Int, lang: String): Set[Long] = docs
      .filter(Sampling.stratifiedKeep(col("doc_id"), col("lang"),
        Map("en" -> pctEn), defaultPct = 30))
      .filter(col("lang") === lang)
      .collect().map(_.getLong(0)).toSet
    val en20 = kept(20, "en")
    val en50 = kept(50, "en")
    assert(en20.subsetOf(en50) && en20.size < en50.size) // cutoff moves, assignment stable
    assert(kept(20, "fr") == kept(50, "fr"))             // other strata unaffected
  }

  test("computed keep rate: literal-rate equivalence and monotone cutoff") {
    val docs = (1 to 300).map(_.toLong).toDF("doc_id")
    def keptAt(pct: org.apache.spark.sql.Column): Set[Long] = docs
      .filter(Sampling.deterministicKeepAt(col("doc_id"), pct))
      .collect().map(_.getLong(0)).toSet
    // a constant computed rate IS the literal-rate sample
    assert(keptAt(lit(25)) ==
      docs.filter(Sampling.deterministicKeep(col("doc_id"), 25))
        .collect().map(_.getLong(0)).toSet)
    // row-dependent rates move each row's cutoff over ONE stable hash:
    // rows under the lower rate survive any raise
    val mixed = keptAt(when(col("doc_id") % 2 === 0, 10).otherwise(60))
    assert(keptAt(lit(10)).filter(_ % 2 == 0).forall(mixed.contains))
    assert(mixed.subsetOf(keptAt(lit(60))))
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal to 0
    (2L, Array(2.0f, 0.0f, 0.0f)),   // colinear with 0
    (3L, Array(1.0f, 1.0f, 0.0f))
  ).toDF("id", "vec")

  test("brute top-k: cosine correct, self excluded, ranked desc") {
    val out = Similarity.topKBrute(vecs.filter(col("id") === 0), vecs, 3)
      .orderBy("rnk").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(2L, 3L, 1L))
    assert(out(0).getDouble(2) == 1.0)                      // colinear
    assert(math.abs(out(1).getDouble(2) - 0.707107) < 1e-6) // 45 degrees
    assert(out(2).getDouble(2) == 0.0)                      // orthogonal
  }

  test("winnow kernels: native rolling hashes equal the staged-HOF fallback bit-for-bit") {
    import org.apache.spark.sql.{GraftPlanBridge, SparkSession}
    // corpus covering every branch: normal, exactly-k, shorter-than-k,
    // empty, repeated substrings, multi-byte code points
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "abcde"), (3L, "abc"), (4L, ""),
      (5L, "aaaaaaaaaaaa"), (6L, "naïve café — püree ☃ text")
    ).toDF("doc_id", "text")
    def rows(frame: org.apache.spark.sql.DataFrame) = frame
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Long](1).toList, r.getSeq[Long](2).toList))).toMap
    assert(spark.catalog.functionExists("karp_rabin_hashes"))
    val native = rows(TextAnalysis.winnowFrame(docs, "doc_id", "text", k = 5, w = 4))
    val bare = spark.newSession()
    GraftPlanBridge.dropSessionFunction(bare, "karp_rabin_hashes")
    GraftPlanBridge.dropSessionFunction(bare, "window_minima")
    SparkSession.setActiveSession(bare)
    try {
      val fallback = rows(TextAnalysis.winnowFrame(
        bare.createDataFrame(docs.collect().toSeq.map(r =>
          (r.getLong(0), r.getString(1)))).toDF("doc_id", "text"),
        "doc_id", "text", k = 5, w = 4))
      assert(native == fallback)
    } finally SparkSession.setActiveSession(spark)
    // spot-pin the degenerate folds: "" -> [0]; short doc -> Horner fold
    assert(native(4L)._1 == List(0L) && native(4L)._2 == List(0L))
    val horner = "abc".foldLeft(0L)((a, c) =>
      (a * TextAnalysis.WinnowBase + c) % TextAnalysis.WinnowMod)
    assert(native(3L)._1 == List(horner))
  }

  test("dot/cosine fall back to builtin folds in a session without GraftExtensions") {
    import org.apache.spark.sql.{GraftPlanBridge, SparkSession}
    val bare = spark.newSession()
    GraftPlanBridge.dropSessionFunction(bare, "dot_product")
    GraftPlanBridge.dropSessionFunction(bare, "cosine_sim")
    assert(!bare.catalog.functionExists("dot_product"))
    SparkSession.setActiveSession(bare)
    try {
      val df = bare.createDataFrame(Seq(
        (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f))))
        .toDF("a", "b")
        .select(Similarity.asDouble(col("a")).as("a"),
          Similarity.asDouble(col("b")).as("b"))
      // would fail analysis if these still resolved through call_function
      val r = df.select(
        Similarity.dot(col("a"), col("b")).as("d"),
        Similarity.cosine(col("a"), col("b")).as("c")).collect()(0)
      assert(r.getDouble(0) == 32.0)
      val expected = 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))
      assert(r.getDouble(1) == expected) // sequential fold: bit-equal to native
    } finally SparkSession.setActiveSession(spark)
  }

  test("squared_l2: native kernel equals the builtin fold bit-for-bit; null propagates") {
    import org.apache.spark.sql.{GraftPlanBridge, SparkSession}
    val a = Array(1.5f, -2.0f, 3.25f)
    val b = Array(0.5f, 2.0f, -1.75f)
    val df = Seq((a, b)).toDF("a", "b")
      .select(Similarity.asDouble(col("a")).as("a"),
        Similarity.asDouble(col("b")).as("b"))
    val native = df.select(Similarity.l2sq(col("a"), col("b"))).collect()(0).getDouble(0)
    // expected via the same sequential fold
    val expected = a.zip(b).map { case (x, y) =>
      (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble) }.sum
    assert(native == expected)
    assert(df.select(Similarity.l2sq(col("a"), lit(null).cast("array<double>")))
      .collect()(0).isNullAt(0))
    // fallback session computes the identical value through the builtin fold
    val bare = spark.newSession()
    GraftPlanBridge.dropSessionFunction(bare, "dot_product")
    GraftPlanBridge.dropSessionFunction(bare, "squared_l2")
    SparkSession.setActiveSession(bare)
    try {
      val df2 = bare.createDataFrame(Seq((a, b))).toDF("a", "b")
        .select(Similarity.asDouble(col("a")).as("a"),
          Similarity.asDouble(col("b")).as("b"))
      assert(df2.select(Similarity.l2sq(col("a"), col("b")))
        .collect()(0).getDouble(0) == expected)
    } finally SparkSession.setActiveSession(spark)
  }

  test("fixed-point centroids are exact means; assignment breaks ties to the lower label") {
    val emb = Seq(
      (0L, 0, Array(1.0f, 0.0f)),
      (1L, 0, Array(3.0f, 0.0f)),      // label-0 centroid (2, 0)
      (2L, 1, Array(0.0f, 2.0f)),      // label-1 centroid (0, 2)
      (3L, 1, Array(1.0f, 1.0f))       // moves centroid 1 to (0.5, 1.5)
    ).toDF("vec_id", "label", "embedding")
    val cents = Similarity.labelCentroids(emb.filter(col("vec_id") < 3),
      "label", "embedding")
    val cv = cents.collect().map(r =>
      r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(cv(0) == Seq(2.0, 0.0) && cv(1) == Seq(0.0, 2.0))
    val out = Similarity.centroidAssign(emb, "vec_id", "label", "embedding", cents)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getAs[Int]("pred_label") == 0 &&
      out(0L).getAs[Double]("own_cos") == 1.0 &&
      out(0L).getAs[Boolean]("correct"))
    assert(out(2L).getAs[Int]("pred_label") == 1 &&
      out(2L).getAs[Boolean]("correct"))
    // (1,1) scores 0.707107 against BOTH centroids: tie -> lower label
    assert(out(3L).getAs[Int]("pred_label") == 0 &&
      !out(3L).getAs[Boolean]("correct"))
  }

  test("kmeans: lowest-id seeds, reassignment across Lloyd iterations") {
    val emb = Seq(
      (0L, 0, Array(1.0f, 0.0f)),  // seed cluster 0
      (1L, 0, Array(4.0f, 1.0f)),  // seed cluster 1; flips to 0 in pass 2
      (2L, 1, Array(0.0f, 1.0f)),
      (3L, 1, Array(1.0f, 4.0f))
    ).toDF("vec_id", "label", "embedding")
    val out = Similarity.kmeans(emb, "vec_id", "embedding", k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    // pass 1 against seeds (1,0)/(4,1): v1 stays on its own seed and
    // v2, v3 join it, pulling centroid 1 to (5/3, 2); pass 2 then moves
    // v1 back to cluster 0 (cos 0.970143 vs 0.807), while v2, v3 remain
    assert(out.view.mapValues(_._1).toMap == Map(0L -> 0, 1L -> 0, 2L -> 1, 3L -> 1))
    assert(out(0L)._2 == 1.0)
    assert(out(1L)._2 == 0.970143) // round(4/sqrt(17), 6) — exact seed-0 cosine
  }

  test("IVF with full probe reproduces brute top-k exactly (sim_ivf_recall's upper bound)") {
    val emb = (0L to 9L).map(i =>
      (i, Array.tabulate(4)(j => ((i * 7 + j * 3) % 5 - 2).toFloat)))
      .toDF("id", "vec")
    val codebook = Similarity.collectCentroids(
      Similarity.trainedCentroids(emb, "id", "vec", k = 3, iters = 2))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "c_id", "cos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // probing every list = no candidate ever pruned = brute, bit-for-bit
    val ivf = rows(Similarity.topKIvfWith(emb, emb, k = 3, codebook, nProbe = 3))
    val brute = rows(Similarity.topKBrute(emb, emb, k = 3))
    assert(ivf == brute)
  }

  test("centroid drift gate: frozen centroids, negated ingest reads negative cosine drift") {
    val out = SparkEntry.queries("sim_centroid_drift")(
        spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set("base", "ingest"))
    assert(out("base")._3 == 0.0)
    assert(out("ingest")._1 == out("base")._1)
    assert(out("ingest")._3 < 0.0, // the model-swap fixture must register
      s"negated ingest read no drift: ${out("ingest")}")
    assert(out("ingest")._3 ==
      Rounding.stableVal(out("ingest")._2 - out("base")._2, 6))
  }

  test("centroid refresh: frozen-assignment + fixed-point update; uniform duplication is a no-op") {
    val emb = (0L to 7L).map(i =>
      (i, Array.tabulate(4)(j => ((i * 7 + j * 3) % 5 - 2).toFloat)))
      .toDF("id", "vec")
    val base = emb.select(col("id"), Similarity.asDouble(col("vec")).as("v"))
    val cents = Similarity.collectCentroids(Similarity.trainedCentroids(
      base, "id", "v", k = 2, iters = 2))
    def refreshed(u: org.apache.spark.sql.DataFrame) = {
      val asg = u.select(col("v"),
        Similarity.nearestCentroidId(col("v"), cents).as("cid"))
      Similarity.labelCentroids(asg, "cid", "v")
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    }
    // the fixed-point mean is invariant under uniform duplication — a
    // re-crawled copy of the whole corpus must not move any centroid
    assert(refreshed(base.unionByName(base)) == refreshed(base))
    // the query fixture: every union vector assigned exactly once,
    // movements finite and non-negative
    val nBase = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .filter(col("embedding").isNotNull).count()
    val out = SparkEntry.queries("sim_centroid_refresh")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.map(_.getLong(1)).sum == 2 * nBase)
    assert(out.forall(_.getDouble(2) >= 0.0))
  }

  test("trainPqCodebooks: under-seeded training slice fails loudly, not silently") {
    val tiny = Seq((0L, Array(1.0f, 2.0f)), (1L, Array(3.0f, 4.0f)))
      .toDF("id", "vec")
    val e = intercept[Throwable] {
      Similarity.trainPqCodebooks(tiny, "id", "vec",
        m = 1, subDim = 2, k = 4, iters = 2)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("distinct vectors")),
      s"wrong failure: ${messages(e).mkString(" | ")}")
  }

  test("IVF-PQ with full probe reproduces plain PQ exactly; narrow probe only prunes") {
    val emb = (0L to 11L).map(i =>
      (i, Array.tabulate(4)(j => ((i * 7 + j * 3) % 5 - 2).toFloat + 0.1f * j)))
      .toDF("id", "vec")
    val codebook = Similarity.collectCentroids(
      Similarity.trainedCentroids(emb, "id", "vec", k = 3, iters = 2))
    val cwBlocks = Similarity.trainPqCodebooks(emb, "id", "vec",
      m = 2, subDim = 2, k = 4, iters = 2).toDF("m", "cwid", "cwblk")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "c_id", "score", "rnk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val q = emb.filter(col("id") < 3)
    // probing every list = the list filter never prunes = plain PQ
    val full = rows(Similarity.topKIvfPq(q, emb, cwBlocks, k = 2, m = 2,
      subDim = 2, rerank = 3, centroids = codebook, nProbe = 3))
    val pq = rows(Similarity.topKPqBlocks(q, emb, cwBlocks, k = 2, m = 2,
      subDim = 2, rerank = 3))
    assert(full == pq)
    // the narrow-map (plan-literal codebook / pqRv) forms are selection-
    // identical to the distributed join/agg forms, bit-for-bit — the
    // guard for the zero-shuffle ADC path the queries ship with
    val cwSeq = Similarity.trainPqCodebooks(emb, "id", "vec",
      m = 2, subDim = 2, k = 4, iters = 2)
    assert(rows(Similarity.topKPqBlocks(q, emb, cwSeq, k = 2, m = 2,
      subDim = 2, rerank = 3)) == pq)
    assert(rows(Similarity.topKIvfPq(q, emb, cwSeq, k = 2, m = 2,
      subDim = 2, rerank = 3, centroids = codebook, nProbe = 3)) == full)
    // nProbe = 1 only PRUNES candidates: ≤ k rows per query, and every
    // returned score is the exact 6-dp cosine of that pair (the
    // re-rank stage scores full-precision vectors, never the codes)
    val narrow = Similarity.topKIvfPq(q, emb, cwBlocks, k = 2, m = 2,
        subDim = 2, rerank = 3, centroids = codebook, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(narrow.nonEmpty)
    assert(narrow.groupBy(_._1).values.forall(_.length <= 2))
    val exactCos = Similarity.topKBrute(q, emb, 11)
      .select("q_id", "c_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    narrow.foreach { case (qi, ci, s) => assert(exactCos((qi, ci)) == s) }
  }

  test("mmrRerank: near-duplicate of the first pick loses to a diverse candidate") {
    val emb = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f)),     // the query
      (1L, Array(0.9f, 0.43589f, 0.0f)),   // most relevant — picked first
      (2L, Array(0.88f, 0.47f, 0.01f)),    // 2nd by relevance but ~duplicate of 1
      (3L, Array(0.8f, -0.6f, 0.0f))       // less relevant, diverse
    ).toDF("id", "vec")
    val q = emb.filter(col("id") === 100L)
    // plain relevance would rank 1, 2, 3 …
    val brute = Similarity.topKBrute(q, emb, 3)
      .orderBy("rnk").collect().map(_.getLong(1)).toSeq
    assert(brute == Seq(1L, 2L, 3L))
    // … MMR demotes the near-duplicate: 1, 3, 2
    val mmr = Similarity.mmrRerank(q, emb, k = 3, shortlist = 3, lam = 0.7)
      .orderBy("rnk").collect().map(r => (r.getLong(1), r.getInt(3))).toSeq
    assert(mmr == Seq((1L, 1), (3L, 2), (2L, 3)))
    // λ = 1 is pure relevance: MMR degenerates to the brute order
    val pureRel = Similarity.mmrRerank(q, emb, k = 3, shortlist = 3, lam = 1.0)
      .orderBy("rnk").collect().map(_.getLong(1)).toSeq
    assert(pureRel == brute)
  }

  test("semantic split leakage: re-encoded twins straddle split boundaries (off-diagonal rows)") {
    val out = SparkEntry.queries("ta_split_leakage_semantic")(
        spark, "/root/testdata/sf0.001")
      .collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
    assert(out.nonEmpty)
    // the re-encode twins' ids differ by 100000, so the stable hash
    // scatters the pair across splits — the screen must find leaks
    assert(out.filter(_._4).map(_._3).sum > 0, "no cross-split semantic pairs")
    out.foreach { case (lo, hi, n, leaks) =>
      assert(leaks == (lo != hi) && n > 0)
      assert(lo <= hi) // unordered pair normalization
    }
  }

  test("IVF-PQ index lifecycle: prebuilt artifacts search identically to the inline composite") {
    val emb = (0L to 11L).map(i =>
      (i, Array.tabulate(4)(j => ((i * 7 + j * 3) % 5 - 2).toFloat + 0.1f * j)))
      .toDF("id", "vec")
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_idx").toString
    Similarity.writeIvfPqIndex(emb, "id", "vec", dir, m = 2, subDim = 2,
      codewords = 4, nLists = 3, iters = 2, trainBound = 100L)
    // the three artifacts exist and have index shapes
    val coarse = spark.read.parquet(s"$dir/coarse")
    val postings = spark.read.parquet(s"$dir/postings")
    assert(coarse.count() == 3)
    assert(postings.columns.sorted.sameElements(Array("c_id", "list_id", "rv")))
    assert(postings.count() == 12)
    // postings are hive-partitioned by inverted list, and a list filter
    // prunes at the PARTITION level — a probe reads only its lists'
    // directories instead of scanning the corpus-wide postings
    assert(new java.io.File(s"$dir/postings").listFiles
      .exists(_.getName.startsWith("list_id=")), "postings not list-partitioned")
    val scanPlan = postings.filter(col("list_id") === 0)
      .queryExecution.executedPlan.toString
    assert(scanPlan.contains("PartitionFilters") && scanPlan.contains("list_id"),
      s"list filter did not reach partition pruning:\n$scanPlan")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "c_id", "score", "rnk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val q = emb.filter(col("id") < 3)
    val fromIndex = rows(Similarity.searchIvfPqIndex(q, emb, coarse, postings,
      k = 2, rerank = 3, nProbe = 2))
    val codebook = Similarity.collectCentroids(
      Similarity.trainedCentroids(emb, "id", "vec", k = 3, iters = 2))
    val cwBlocks = Similarity.trainPqCodebooks(emb, "id", "vec",
      m = 2, subDim = 2, k = 4, iters = 2).toDF("m", "cwid", "cwblk")
    val inline = rows(Similarity.topKIvfPq(q, emb, cwBlocks, k = 2, m = 2,
      subDim = 2, rerank = 3, centroids = codebook, nProbe = 2))
    assert(fromIndex == inline)
    // the narrow-map inline form agrees with the artifacts too
    val cwSeq = Similarity.trainPqCodebooks(emb, "id", "vec",
      m = 2, subDim = 2, k = 4, iters = 2)
    assert(rows(Similarity.topKIvfPq(q, emb, cwSeq, k = 2, m = 2,
      subDim = 2, rerank = 3, centroids = codebook, nProbe = 2)) == fromIndex)
  }

  test("IVF-PQ append: frozen-codebook append searches identically to a union rebuild; drift gate runs") {
    val mkVec = (i: Long) =>
      Array.tabulate(4)(j => ((i * 7 + j * 3) % 5 - 2).toFloat + 0.1f * j)
    val base = (0L to 11L).map(i => (i, mkVec(i))).toDF("id", "vec")
    val batch = (12L to 17L).map(i => (i, mkVec(i))).toDF("id", "vec")
    val union = base.unionByName(batch)
    val dirA = java.nio.file.Files.createTempDirectory("ivfpq_app").toString
    Similarity.writeIvfPqIndex(base, "id", "vec", dirA, m = 2, subDim = 2,
      codewords = 4, nLists = 3, iters = 2, trainBound = 100L)
    Similarity.appendToIvfPqIndex(batch, "id", "vec", dirA, m = 2, subDim = 2)
    val coarseA = spark.read.parquet(s"$dirA/coarse")
    val postingsA = spark.read.parquet(s"$dirA/postings")
    assert(postingsA.count() == 18) // 12 base + 6 appended
    // rebuild postings over the UNION corpus at the SAME frozen
    // codebooks (re-encode everything; the codebook artifacts are
    // reused, so only the postings differ in provenance)
    val dirB = java.nio.file.Files.createTempDirectory("ivfpq_reb").toString
    spark.read.parquet(s"$dirA/coarse").write.parquet(s"$dirB/coarse")
    spark.read.parquet(s"$dirA/codebooks").write.parquet(s"$dirB/codebooks")
    Similarity.appendToIvfPqIndex(union, "id", "vec", dirB, m = 2, subDim = 2)
    val postingsB = spark.read.parquet(s"$dirB/postings")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "c_id", "score", "rnk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val q = union.filter(col("id") >= 12) // the appended set queries itself in
    val grown = rows(Similarity.searchIvfPqIndex(q, union, coarseA, postingsA,
      k = 2, rerank = 3, nProbe = 2))
    val rebuilt = rows(Similarity.searchIvfPqIndex(q, union, coarseA, postingsB,
      k = 2, rerank = 3, nProbe = 2))
    assert(grown == rebuilt)
    // drift gate over the appended ids: per-query recall vs brute, in
    // [0, 1] — the measured retrain trigger
    val gate = Similarity.indexRecallGate(q, union, coarseA, postingsA,
        k = 2, rerank = 3, nProbe = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(gate.keySet == Set(12L, 13L, 14L, 15L, 16L, 17L))
    assert(gate.values.forall(r => r >= 0.0 && r <= 1.0))
    // full-probe search (nProbe = every list) with generous rerank must
    // recover the exact top-k: recall 1.0 — pins the gate's arithmetic
    val full = Similarity.indexRecallGate(q, union, coarseA, postingsA,
        k = 2, rerank = 9, nProbe = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(full.values.forall(_ == 1.0))
  }

  test("hard negatives: same-label candidates excluded, ranked desc, label attached") {
    val lv = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 1),
      (1L, Array(0.99f, 0.01f, 0.0f), 1), // nearest of all — but same label
      (2L, Array(0.9f, 0.1f, 0.0f), 2),
      (3L, Array(0.8f, 0.2f, 0.0f), 3)
    ).toDF("id", "vec", "label")
    // numPlanes = 1: the anchor probes its own bucket AND the flipped
    // one, so candidate coverage is total and only the label filter
    // decides membership
    val out = Similarity.hardNegatives(lv.filter(col("id") === 0), lv, k = 3,
        numPlanes = 1, dim = 3)
      .orderBy("rnk").collect()
      .map(r => (r.getLong(1), r.getInt(2), r.getInt(4)))
    assert(out.toSeq == Seq((2L, 2, 1), (3L, 3, 2))) // id 1 never appears
  }

  test("knn classify: majority vote wins; ties break to the lower label") {
    val lv = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 9),  // anchor's own label is irrelevant
      (1L, Array(0.99f, 0.01f, 0.0f), 1),
      (2L, Array(0.9f, 0.1f, 0.0f), 2),
      (3L, Array(0.8f, 0.2f, 0.0f), 2),
      (4L, Array(0.0f, 1.0f, 0.0f), 3)   // orthogonal: outside every k here
    ).toDF("id", "vec", "label")
    val anchors = lv.filter(col("id") === 0)
    val k3 = Similarity.knnClassify(anchors, lv, k = 3).collect()(0)
    assert((k3.getInt(1), k3.getLong(2)) == ((2, 2L))) // labels {1,2,2}
    val k2 = Similarity.knnClassify(anchors, lv, k = 2).collect()(0)
    assert((k2.getInt(1), k2.getLong(2)) == ((1, 1L))) // {1,2} tie -> lower label
  }

  test("trainedCentroids: the codebook the final Lloyd pass scored against") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(4.0f, 1.0f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(1.0f, 4.0f))
    ).toDF("vec_id", "embedding")
    // iters = 1: the codebook IS the k lowest-id seeds
    val seeds = Similarity.trainedCentroids(emb, "vec_id", "embedding",
        k = 2, iters = 1).collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(seeds == Map(0 -> Seq(1.0, 0.0), 1 -> Seq(4.0, 1.0)))
    // iters = 2: pass 1 assigns {0}->c0 and {1,2,3}->c1 (the kmeans
    // spec above), so the updated codebook is their fixed-point means
    val cents = Similarity.trainedCentroids(emb, "vec_id", "embedding",
        k = 2, iters = 2).collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(cents(0) == Seq(1.0, 0.0))
    assert(cents(1) == Seq(5000000.0 / 3000000.0, 2.0)) // (4+0+1)/3 exact fixed-point
  }

  test("topKIvfWith keeps the caller's list ids and probes only assigned lists") {
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f)), (11L, Array(0.9f, 0.1f)),
      (20L, Array(0.0f, 1.0f)), (21L, Array(0.1f, 0.9f))
    ).toDF("id", "vec")
    // non-contiguous trained-codebook ids (a Lloyd cluster may vanish)
    val codebook = Seq(3 -> Seq(1.0, 0.0), 7 -> Seq(0.0, 1.0))
    val q = corpus.filter(col("id") === 10L)
    val top = Similarity.topKIvfWith(q, corpus, k = 3, codebook, nProbe = 1)
      .collect().map(r => r.getLong(1)).toSet
    // nProbe = 1 → only list 3's members (11) are candidates; the
    // orthogonal list's 20/21 are unreachable by construction
    assert(top == Set(11L))
    val top2 = Similarity.topKIvfWith(q, corpus, k = 3, codebook, nProbe = 2)
      .collect().map(r => r.getLong(1)).toSet
    assert(top2 == Set(11L, 21L, 20L))
  }

  test("probeBuckets: own bucket plus each single-bit flip") {
    val out = spark.range(1)
      .select(Similarity.probeBuckets(lit("0101"), 4).as("p"))
      .collect()(0).getSeq[String](0)
    assert(out == Seq("0101", "1101", "0001", "0111", "0100"))
  }

  test("multi-probe LSH recall dominates single-probe recall per query") {
    val rec = SparkEntry.queries("sim_lsh_recall")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(rec.nonEmpty)
    // mp candidates ⊇ single-probe candidates, and anything that can
    // displace a brute-top-3 member from mp's top-3 is itself a
    // brute-top-3 member — so hits_mp >= hits ALWAYS, data aside
    rec.foreach { case (qid, hits, hitsMp) =>
      assert(hitsMp >= hits, s"query $qid: hits_mp $hitsMp < hits $hits")
      assert(hitsMp <= 3)
    }
  }

  test("scalar quantization: exact integer dots, max component maps to ±127") {
    val emb = Seq(
      (0L, Array(0.5f, -1.0f)),       // max|x| = 1.0 -> scale 127
      (1L, Array(1.0f, 0.25f))
    ).toDF("id", "vec")
    val scale = Similarity.sqScale(emb, "id", "vec")
    assert(scale == 127.0)
    val q = Similarity.quantize(emb, "id", "vec", scale)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(q(0L) == Seq(64.0, -127.0)) // round(0.5*127)=64 (63.5 half-up)
    assert(q(1L) == Seq(127.0, 32.0))  // round(0.25*127)=32 (31.75)
    val top = Similarity.topKQuantized(emb.filter(col("id") === 0), emb, 1, scale)
      .collect()(0)
    assert(top.getLong(1) == 1L &&
      top.getLong(2) == (64L * 127 + (-127L) * 32)) // exact integer dot
  }

  test("PQ: per-block nearest-codeword codes and stitched reconstruction") {
    val cw = Seq(
      (0L, Array(0.0f, 0.0f, 10.0f, 10.0f)),
      (1L, Array(5.0f, 5.0f, 0.0f, 0.0f))
    ).toDF("id", "vec")
    val x = Seq((7L, Array(4.0f, 4.0f, 9.0f, 9.0f))).toDF("id", "vec")
    val codes = Similarity.pqEncode(x, cw, m = 2, subDim = 2)
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    assert(codes == Map(0 -> 1L, 1 -> 0L)) // block0 nearer cw1, block1 nearer cw0
    val rec = Similarity.pqReconstruct(
        Similarity.pqEncode(x, cw, 2, 2), cw, 2, 2)
      .collect()(0).getSeq[Double](1)
    assert(rec == Seq(5.0, 5.0, 10.0, 10.0))
  }

  test("LSH buckets: colinear vectors share a bucket; deterministic planes") {
    val planes = Similarity.hyperplanes(4, 3)
    assert(planes == Similarity.hyperplanes(4, 3)) // deterministic
    val b = vecs.select(col("id"),
        Similarity.bucketKey(Similarity.asDouble(col("vec")), planes).as("bucket"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(b(0L) == b(2L)) // same direction => same sign pattern
  }

  test("codebook artifacts: write/read round-trips value-exact; searches identically to fresh training") {
    val emb = (0L to 11L).map(i =>
      (i, Array.tabulate(4)(j => ((i * 7 + j * 3) % 5 - 2).toFloat + 0.1f * j)))
      .toDF("id", "vec")
    val cents = Similarity.collectCentroids(
      Similarity.trainedCentroids(emb, "id", "vec", k = 3, iters = 2))
    val cw = Similarity.trainPqCodebooks(emb, "id", "vec",
      m = 2, subDim = 2, k = 4, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_cbk").toString
    Similarity.writeCodebooks(spark, dir, cents, cw)
    val (rc, rcw) = Similarity.readCodebooks(spark, dir)
    // fixed-point training + parquet doubles → exact round-trip
    assert(rc == cents)
    assert(rcw.sortBy(t => (t._1, t._2)) == cw.sortBy(t => (t._1, t._2)))
    // the standing-artifact search path is bit-identical to inline training
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val q = emb.filter(col("id") < 3)
    assert(rows(Similarity.topKIvfPq(q, emb, rcw, k = 2, m = 2, subDim = 2,
        rerank = 3, centroids = rc, nProbe = 2)) ==
      rows(Similarity.topKIvfPq(q, emb, cw, k = 2, m = 2, subDim = 2,
        rerank = 3, centroids = cents, nProbe = 2)))
  }

  // ---- binary (sign-bit) ANN family -------------------------------------

  /** 64-dim vector whose dims in `pos` (1-based) are +1, all others −1. */
  private def signVec(pos: Set[Int]): Array[Float] =
    Array.tabulate(64)(j => if (pos.contains(j + 1)) 1.0f else -1.0f)

  private def codesOf(rows: Seq[(Long, Array[Float])]): Map[Long, (Long, Long)] =
    Similarity.binaryCodes(rows.toDF("id", "vec"), "id", "vec")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  test("binaryCodes: bit layout at the half boundaries (dims 1/32/33/64); zero is not positive") {
    val m = codesOf(Seq(
      (0L, signVec(Set.empty)),
      (1L, signVec(Set(1))),
      (2L, signVec(Set(32))),
      (3L, signVec(Set(33))),
      (4L, signVec(Set(64))),
      (5L, signVec((1 to 64).toSet)),
      (6L, Array.fill(64)(0.0f))))
    assert(m(0L) == ((0L, 0L)))
    assert(m(1L) == ((1L, 0L)))           // dim 1 → lowest bit of code_lo
    assert(m(2L) == ((1L << 31, 0L)))     // dim 32 → highest bit of code_lo
    assert(m(3L) == ((0L, 1L)))           // dim 33 → lowest bit of code_hi
    assert(m(4L) == ((0L, 1L << 31)))     // dim 64 → highest bit of code_hi
    // all 64 bits set: each half fills 32 bits, never a long's sign bit
    assert(m(5L) == (((1L << 32) - 1, (1L << 32) - 1)))
    assert(m(6L) == ((0L, 0L)))           // 0.0 is NOT strictly > 0
  }

  test("binaryCodes: non-64-dim vectors fail fast with the layout message (both halves guarded)") {
    // dim 63 would die on code_hi's element_at(64) FIRST if only code_lo
    // carried the guard (evaluation order within a projection is
    // unspecified) — the struct guard pins the explicit message for both
    for (dim <- Seq(63, 65)) {
      val df = Seq((1L, Array.fill(dim)(1.0f))).toDF("id", "vec")
      val e = intercept[Exception] {
        Similarity.binaryCodes(df, "id", "vec").collect()
      }
      def msgs(t: Throwable): List[String] =
        if (t == null) Nil else Option(t.getMessage).toList ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("pinned to 64-dim")),
        s"dim=$dim raised without the explicit guard message: ${msgs(e)}")
    }
  }

  test("hammingCodes: zero on self, symmetric, full complement = 64") {
    val ones = (1L << 32) - 1
    val r = spark.range(1).select(
      Similarity.hammingCodes(lit(5L), lit(9L), lit(5L), lit(9L)).as("self"),
      Similarity.hammingCodes(lit(0L), lit(0L), lit(ones), lit(ones)).as("full"),
      Similarity.hammingCodes(lit(6L), lit(12L), lit(5L), lit(10L)).as("ab"),
      Similarity.hammingCodes(lit(5L), lit(10L), lit(6L), lit(12L)).as("ba")
    ).collect()(0)
    assert(r.getInt(0) == 0)
    assert(r.getInt(1) == 64)
    assert(r.getInt(2) == r.getInt(3)) // XOR is symmetric
    assert(r.getInt(2) == 4)           // 6^5 = 3 (2 bits), 12^10 = 6 (2 bits)
  }

  test("topKBinary at full rerank ≡ topKBrute bit-for-bit") {
    val rnd = new scala.util.Random(42)
    val corpus = (0L to 19L).map(i =>
      (i, Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat)))
    val df = corpus.toDF("id", "vec")
    val q = df.filter(col("id") < 3)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect() // (q_id, c_id, score|cos, rnk)
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    // k·rerank (21) covers the 19 candidates → the exact-cosine refine
    // sees every corpus row: the two-stage search IS brute force
    assert(rows(Similarity.topKBinary(q, df, k = 3, rerank = 7)) ==
      rows(Similarity.topKBrute(q, df, 3)))
  }

  test("topKBinary: equal Hamming ties break to the lower candidate id") {
    val df = Seq(
      (100L, signVec((1 to 64).toSet)),
      (3L, signVec((3 to 64).toSet)),  // hamming 2
      (2L, signVec((1 to 63).toSet)),  // hamming 1 (dim 64 flipped)
      (1L, signVec((2 to 64).toSet))   // hamming 1 (dim 1 flipped)
    ).toDF("id", "vec")
    val out = Similarity.topKBinary(df.filter(col("id") === 100L), df, k = 3)
      .orderBy("rnk").collect()
      .map(r => (r.getLong(1), (-r.getDouble(2)).toInt)).toSeq
    // both hamming-1 rows tie on score → lower id first
    assert(out == Seq((1L, 1), (2L, 1), (3L, 2)))
  }

  test("binaryBands pigeonhole: every pair within Hamming radius bands−1 shares ≥1 band cell") {
    val bands = PipelineConfig.Default.binaryBands
    val rnd = new scala.util.Random(7)
    // 12 random base codes, each with a twin 0..bands−1 flips away —
    // guaranteed in-radius pairs; the random cross-pairs (~32 apart)
    // are the out-of-radius noise the bands may or may not collide on
    val base = (0 until 12).map(i =>
      (i.toLong, Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat)))
    val twins = base.map { case (i, v) =>
      val w = v.clone()
      rnd.shuffle((0 until 64).toList).take(rnd.nextInt(bands))
        .foreach(j => w(j) = -w(j))
      (i + 100L, w)
    }
    val df = (base ++ twins).toDF("id", "vec")
    val codes = Similarity.binaryCodes(df, "id", "vec")
    val cmap = codes.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def ham(a: (Long, Long), b: (Long, Long)) =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    val ids = cmap.keys.toSeq.sorted
    val inRadius = for {
      a <- ids; b <- ids if a < b && ham(cmap(a), cmap(b)) < bands
    } yield (a, b)
    assert(inRadius.nonEmpty, "fixture produced no in-radius pairs")
    val bb = Similarity.binaryBands(codes, bands)
    val cand = bb.as("x").join(bb.as("y"),
        col("x.band") === col("y.band") &&
        col("x.band_val") === col("y.band_val") && col("x.id") < col("y.id"))
      .select(col("x.id"), col("y.id")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    inRadius.foreach(p =>
      assert(cand.contains(p), s"in-radius pair $p missing from band candidates"))
    // and the slicing itself is lossless: bands·band_val reassemble codes
    assert(Similarity.binaryBands(codes, bands).count() == cmap.size.toLong * bands)
  }

  test("binaryCodes ≡ driver twin on random vectors (zeros included); packing embeds sign space isometrically") {
    val rnd = new scala.util.Random(123)
    // ~10% exact zeros: the > 0 rule must treat them as the negative side
    val vecs = (0L until 30L).map(i => (i, Array.fill(64)(
      if (rnd.nextInt(10) == 0) 0.0f else (rnd.nextDouble() * 2 - 1).toFloat)))
    def twin(v: Array[Float]): (Long, Long) = {
      def half(off: Int) = (0 until 32).foldLeft(0L)((a, j) =>
        a + (if (v(off + j) > 0) 1L << j else 0L))
      (half(0), half(32))
    }
    val cmap = codesOf(vecs)
    vecs.foreach { case (i, v) => assert(cmap(i) == twin(v), s"doc $i") }
    // the packed-code Hamming distance IS the per-dim sign disagreement
    // count — the packing is an isometric embedding of sign space
    for ((a, va) <- vecs; (b, vb) <- vecs if a < b) {
      val expected = (0 until 64).count(j => (va(j) > 0) != (vb(j) > 0))
      val (al, ah) = cmap(a); val (bl, bh) = cmap(b)
      assert(java.lang.Long.bitCount(al ^ bl) +
        java.lang.Long.bitCount(ah ^ bh) == expected, s"pair ($a,$b)")
    }
  }

  test("binary index lifecycle: prebuilt artifacts search ≡ inline; append ≡ union rebuild") {
    val bands = PipelineConfig.Default.binaryBands
    val rnd = new scala.util.Random(11)
    val all = (0L to 19L).map(i =>
      (i, Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat)))
    val base = all.filter(_._1 < 15).toDF("id", "vec")
    val batch = all.filter(_._1 >= 15).toDF("id", "vec")
    val union = all.toDF("id", "vec")
    val dir = java.nio.file.Files.createTempDirectory("graft_bin_idx").toString
    Similarity.writeBinaryIndex(base, "id", "vec", dir, bands)
    // posting table is hive-partitioned by band: a probe's equi-join
    // band key prunes at the directory level
    assert(new java.io.File(s"$dir/bands").listFiles
      .exists(_.getName.startsWith("band=")), "bands not band-partitioned")
    // a band filter prunes at the PARTITION level — a probe cell reads
    // one band directory, not the corpus-wide posting table
    val scanPlan = spark.read.parquet(s"$dir/bands").filter(col("band") === 0)
      .queryExecution.executedPlan.toString
    assert(scanPlan.contains("PartitionFilters") && scanPlan.contains("band"),
      s"band filter did not reach partition pruning:\n$scanPlan")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val q = union.filter(col("id") < 3)
    val codes0 = spark.read.parquet(s"$dir/codes")
    val bands0 = spark.read.parquet(s"$dir/bands")
    assert(rows(Similarity.searchBinaryIndex(q, base, codes0, bands0,
        bands, k = 3, rerank = 4)) ==
      rows(Similarity.topKBinaryBanded(q, base, k = 3, bands, rerank = 4)))
    // frozen-layout append: one scan of the batch, grown index ≡ a
    // rebuild over the union corpus bit-for-bit (no trained state)
    Similarity.appendToBinaryIndex(batch, "id", "vec", dir)
    val codes1 = spark.read.parquet(s"$dir/codes")
    val bands1 = spark.read.parquet(s"$dir/bands")
    assert(codes1.count() == 20 && bands1.count() == 20L * bands)
    assert(rows(Similarity.searchBinaryIndex(q, union, codes1, bands1,
        bands, k = 3, rerank = 4)) ==
      rows(Similarity.topKBinaryBanded(q, union, k = 3, bands, rerank = 4)))
  }

  test("matryoshka truncation gate: full-dim tier reads exactly 1.0; tier rows complete and bounded") {
    val tiers = PipelineConfig.Default.truncDims
    val out = SparkEntry.queries("sim_trunc_recall")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.length == tiers.size * 5) // one row per (tier, query)
    assert(out.map(_._1).toSet == tiers.toSet)
    out.foreach { case (d, q, h, rec) =>
      assert(h >= 0 && h <= 3 && rec >= 0.0 && rec <= 1.0, s"tier $d query $q") }
    // a prefix of the whole IS the whole: the full-dim tier is exact —
    // pins the gate arithmetic independent of the embedding's quality
    assert(out.filter(_._1 == 64).forall(_._4 == 1.0))
  }

  test("filtered ANN: results drawn from the admitted subset only; filter genuinely reshapes top-k") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val lang = PipelineConfig.Default.annFilterLang
    val admitted = Tables.documents(spark, sf)
      .filter(col("lang") === lang).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val out = SparkEntry.queries("sim_filtered_ann")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    // every neighbor admitted; ranks contiguous 1..3 per query; cos sane
    out.foreach { case (q, c, cos, rnk) =>
      assert(admitted.contains(c), s"query $q returned non-$lang neighbor $c")
      assert(cos >= -1.000001 && cos <= 1.000001 && rnk >= 1 && rnk <= 3)
    }
    assert(out.groupBy(_._1).values.forall(_.map(_._4).sorted.toSeq == Seq(1, 2, 3)))
    // non-vacuous: at least one unfiltered top-3 neighbor is NOT
    // admitted, so filter-then-rank ≠ rank-then-filter on this fixture
    val unfiltered = SparkEntry.queries("sim_topk")(spark, sf)
      .filter(col("rnk") <= 3).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(unfiltered.exists { case (_, c) => !admitted.contains(c) },
      "fixture vacuous: unfiltered top-3 already all admitted")
  }

  test("filtered-IVF recall gate: one row per query, stable arithmetic, measures a REAL miss") {
    val out = SparkEntry.queries("sim_filtered_ivf_recall")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length == 5 && out.map(_._1).distinct.length == 5)
    out.foreach { case (q, h, rec) =>
      assert(h >= 0 && h <= 3, s"query $q hits")
      assert(rec == Rounding.stableVal(h.toDouble / 3, 4), s"query $q recall")
    }
    // the gate exists to surface filtered-probe misses: whole-corpus
    // routing + admission-pruned lists loses at least one true
    // neighbor on this fixture, and recovers at least one fully
    assert(out.exists(_._2 < 3), "no filtered-probe miss — gate vacuous here")
    assert(out.exists(_._2 == 3), "no fully-recovered query")
  }

  test("e8 ingest screen: novel arrivals admit with zero candidates; near twins reject onto their source") {
    val out = SparkEntry.queries("e8_ingest_screen")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4)))
    assert(out.nonEmpty)
    val thr = PipelineConfig.Default.semanticThreshold
    // one verdict per arrival; verdict ≡ the threshold cut
    assert(out.map(_._1).distinct.length == out.length)
    out.foreach { case (id, n, b, c, admit) =>
      assert(admit == (c < thr), s"arrival $id")
      // no candidates ⇒ the sentinel match and an admit
      if (n == 0) assert(b == -1L && c == 0.0 && admit, s"arrival $id")
    }
    // fully negated arrivals (source id %3==0) are ~Hamming 64 from
    // everything: zero candidates, admitted
    val negated = out.filter(r => (r._1 - 100000) % 3 == 0)
    assert(negated.nonEmpty && negated.forall(r => r._2 == 0 && r._5))
    // rejected near twins overwhelmingly match their own source (a
    // different winner needs a base vector closer than cos ≈ 1)
    val rejected = out.filter(!_._5)
    assert(rejected.nonEmpty)
    assert(rejected.count(r => r._3 == r._1 - 100000) >= rejected.length * 8 / 10)
    rejected.foreach(r => assert(r._4 >= thr))
  }

  test("binaryBands: rejects band counts that cannot split the two halves evenly") {
    val codes = Similarity.binaryCodes(
      Seq((1L, signVec(Set(1)))).toDF("id", "vec"), "id", "vec")
    for (bad <- Seq(1, 3, 6, 10, 128))
      intercept[IllegalArgumentException] {
        Similarity.binaryBands(codes, bad)
      }
  }
}

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("bpeMerges: multi-round greedy merges match a hand-derived trace") {
    // corpus (after lowercase + [a-z]+ filter): "abab" ×3, "abc" ×2,
    // "aaa" ×1 — "Zz9" and null are dropped by the filter
    val docs = Seq(
      Some("abab abc ABAB"), Some("abab abc aaa"), None
    ).toDF("text")
    val out = TextAnalysis.bpeMerges(docs, "text", rounds = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    // round 1 pairs: abab(f3): (a,b)x2 (b,a)x1 → (a,b)=6+2=8 with abc(f2)
    //   (a,b): 3*2 + 2*1 = 8 ; (b,a): 3 ; (b,c): 2 ; (a,a): "aaa" greedy
    //   adjacent = (a,a)x2 = 2. argmax = (a,b) 8
    assert(out(0) == ((1, "a", "b", 8L)))
    // round 2: "abab"→[ab,ab], "abc"→[ab,c], "aaa" unchanged [a,a,a]
    //   pairs: (ab,ab)=3, (ab,c)=2, (a,a)=2 → argmax (ab,ab) 3
    assert(out(1) == ((2, "ab", "ab", 3L)))
    // round 3: "abab"→[abab], "abc" still [ab,c], "aaa" [a,a,a]
    //   pairs: (ab,c)=2, (a,a)=2 → tie breaks lexicographically: (a,a)
    assert(out(2) == ((3, "a", "a", 2L)))
  }

  test("bpeEncode: corpus re-encoded through the learned merges, per-doc counts") {
    // same fixture as the merges trace: learned merges are (a,b),
    // (ab,ab), (a,a) — so abab -> [abab], abc -> [ab,c], aaa -> [aa,a]
    val docs = Seq(
      (1L, Some("abab abc ABAB")), (2L, Some("abab abc aaa")),
      (3L, None: Option[String])
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bpeEncode(docs, "doc_id", "text", rounds = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set(1L, 2L)) // null doc excluded
    assert(out(1L) == ((3L, 4L, Rounding.stableVal(4.0 / 3, 4)))) // abab+abc+abab = 1+2+1
    assert(out(2L) == ((3L, 5L, Rounding.stableVal(5.0 / 3, 4)))) // abab+abc+aaa = 1+2+2
  }

  test("BPE artifact lifecycle: artifact-encode is bit-identical to inline, training never re-runs") {
    val docs = Seq(
      (1L, Some("abab abc ABAB")), (2L, Some("abab abc aaa")),
      (3L, None: Option[String])
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bpe_merges").toString
    TextAnalysis.writeBpeMerges(docs, "text", rounds = 3, dir)
    // the artifact IS the learned merge table, round-ordered
    assert(TextAnalysis.readBpeMerges(spark, dir) ==
      Seq(("a", "b"), ("ab", "ab"), ("a", "a")))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val inline = rows(TextAnalysis.bpeEncode(docs, "doc_id", "text", rounds = 3))
    // encode a DIFFERENT corpus through the artifact — the train-once/
    // apply-many shape — and the training corpus itself, bit-for-bit
    assert(rows(TextAnalysis.bpeEncodeFromArtifact(docs, "doc_id", "text", dir))
      == inline)
    val fresh = Seq((9L, Some("abab aaa"))).toDF("doc_id", "text")
    assert(rows(TextAnalysis.bpeEncodeFromArtifact(fresh, "doc_id", "text", dir))
      == rows(TextAnalysis.bpeEncodeWith(fresh, "doc_id", "text",
        Seq(("a", "b"), ("ab", "ab"), ("a", "a")))))
  }

  test("BPE drift gate: frozen merges, unseen words still encode, fertility drift measured") {
    // words the trainer never saw encode as chars + whatever merges
    // apply — never dropped (the oracle's separate ev-chain mirrors this)
    val unseen = Seq((1L, Some("ba zz abab"))).toDF("doc_id", "text")
    val r = TextAnalysis.bpeEncodeWith(unseen, "doc_id", "text",
        Seq(("a", "b"), ("ab", "ab"), ("a", "a")))
      .collect().map(x => (x.getLong(1), x.getLong(2), x.getDouble(3))).head
    assert(r == ((3L, 5L, Rounding.stableVal(5.0 / 3, 4)))) // ba=2, zz=2, abab=1
    // the full gate on the fixture: reversed-ingest fertility rises
    val out = SparkEntry.queries("ta_bpe_drift")(spark, "/root/testdata/sf0.001")
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getDouble(3), x.getDouble(4)))).toMap
    assert(out.keySet == Set("base", "ingest"))
    assert(out("base")._4 == 0.0)
    assert(out("ingest")._1 == out("base")._1) // reverse preserves word count
    assert(out("ingest")._3 > out("base")._3)  // reversed words compress worse
    assert(out("ingest")._4 ==
      Rounding.stableVal(out("ingest")._3 - out("base")._3, 4))
  }

  test("bpeMerges: greedy left-to-right within-word overlap (aaa -> [aa, a])") {
    // one word "aaaa" ×1: round 1 (a,a)=3 (all adjacent pairs counted);
    // merging leaves [aa, aa] — greedy non-overlapping left-to-right
    val docs = Seq("aaaa").toDF("text")
    val out = TextAnalysis.bpeMerges(docs, "text", rounds = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    assert(out(0) == ((1, "a", "a", 3L)))   // freq 1 word, 3 adjacent pairs
    assert(out(1) == ((2, "aa", "aa", 1L))) // [aa, aa] → one (aa,aa) pair
  }

  test("bpeMerges: drains cleanly when no pairs remain") {
    val docs = Seq("a b c").toDF("text") // all 1-char words: no pairs ever
    assert(TextAnalysis.bpeMerges(docs, "text", rounds = 3).count() == 0)
  }

  test("count-min sketch gate: estimates dominate exact counts within eps*N (fixed seed)") {
    val toks = (1 to 500).flatMap(i => Seq.fill(i % 7 + 1)(s"w${i % 23}"))
      .toDF("token")
    val exact = toks.groupBy("token").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val cms = toks.stat.countMinSketch("token", eps = 0.001,
      confidence = 0.99, seed = 42)
    val slack = math.ceil(0.001 * cms.totalCount()).toLong
    exact.foreach { case (t, c) =>
      val est = cms.estimateCount(t)
      assert(est >= c && est <= c + slack, s"$t: est $est exact $c slack $slack")
    }
    // an absent key estimates at most the collision slack, never negative
    val ghost = cms.estimateCount("never-seen")
    assert(ghost >= 0 && ghost <= slack)
  }

  test("rrfFuse: reciprocal ranks sum, single-list docs keep one term, ties to lower id") {
    val a = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("doc_id", "a_rnk")
    val b = Seq((20L, 1), (40L, 2)).toDF("doc_id", "b_rnk")
    val out = TextAnalysis.rrfFuse(a, "a_rnk", b, "b_rnk", "doc_id",
        kConst = 60, topK = 4)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2)), r.getDouble(3), r.getInt(4)))).toMap
    def s(v: Double) = Rounding.stableVal(v, 6)
    // doc 20 appears in both lists: 1/62 + 1/61
    assert(out(20L) == ((Some(2), Some(1), s(1.0 / 62 + 1.0 / 61), 1)))
    assert(out(10L) == ((Some(1), None, s(1.0 / 61), 2)))
    assert(out(40L) == ((None, Some(2), s(1.0 / 62), 3)))
    assert(out(30L) == ((Some(3), None, s(1.0 / 63), 4)))
  }

  test("quality columns: counts and clamped linear score") {
    val r = Seq("the cat sat on a mat!").toDF("text")
      .select(TextAnalysis.qualityColumns(col("text")).map { case (n, c) => c.as(n) }: _*)
      .collect()(0)
    assert(r.getAs[Int]("n_tokens") == 6)
    assert(r.getAs[Double]("stopword_ratio") == Rounding.stableVal(2.0 / 6, 4))
    assert(r.getAs[Double]("quality") >= 0.0 && r.getAs[Double]("quality") <= 1.0)
  }

  test("clfColumns: score matches a reference reimplementation; keep mirrors the threshold") {
    // independent recomputation of bucket -> weight -> exact sum
    def weight(tok: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.substring(0, 4), 16)
        % TextAnalysis.ClfBuckets * 37 + 11) % TextAnalysis.ClfWeightMod - 48
    }
    val toks = Seq("alpha", "beta", "gamma", "the", "delta")
    val expected = Rounding.stableVal(
      toks.map(weight).sum.toDouble / (toks.size * TextAnalysis.ClfWeightMod), 6)
    val r = Seq(toks.mkString(" ")).toDF("text")
      .select(TextAnalysis.clfColumns(col("text"), threshold = expected)
        .map { case (n, c) => c.as(n) }: _*)
      .collect()(0)
    assert(r.getAs[Int]("n_tokens") == 5)
    assert(r.getAs[Double]("clf_score") == expected)
    assert(r.getAs[Boolean]("clf_keep")) // >= its own score: boundary keeps
    // score is a mean of per-token weights, so bounded by the weight range
    assert(math.abs(r.getAs[Double]("clf_score")) <=
      48.0 / TextAnalysis.ClfWeightMod)
  }

  test("approx distinct stays within the configured rsd of exact") {
    val df = (1 to 5000).map(i => s"tok${i % 700}").toDF("t")
    val r = df.agg(
      approx_count_distinct(col("t"), 0.01).as("a"),
      count_distinct(col("t")).as("e")).collect()(0)
    val (a, e) = (r.getLong(0), r.getLong(1))
    assert(e == 700L)
    assert(math.abs(a - e).toDouble / e < 0.05) // 5× rsd headroom
  }

  test("token counting: whitespace vs BPE-ish regex") {
    val r = Seq("hello world42 isn't x2!").toDF("text").select(
      TextAnalysis.whitespaceTokenCount(col("text")).as("ws"),
      TextAnalysis.bpeishTokenCount(col("text")).as("bpe")).collect()(0)
    assert(r.getInt(0) == 4)
    // hello | world | 42 | isn | ' | t | x | 2 | !
    assert(r.getInt(1) == 9)
  }

  test("lm surprisal: bit-length weights, unseen=0, no-LM languages dropped") {
    val docs = Seq(
      (0L, "en", "a a a b"), // ref slice (id%2==0): a→count 3 (w=1), b→1 (w=0); total 4 (tbits=2)
      (1L, "en", "a b c"),   // scored only: c unseen → weight 0
      (3L, "de", "x y")      // no de docs in the ref slice → unscorable
    ).toDF("doc_id", "lang", "text")
    val out = TextAnalysis.lmSurprisal(docs, "doc_id", "lang", "text",
        pmod(col("doc_id"), lit(2L)) === 0L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(out == Set(
      (0L, "en", 4L, 1.25),    // 2 - (1+1+1+0)/4
      (1L, "en", 3L, 1.6667))) // 2 - (1+0+0)/3
  }

  test("fingerprint: order-sensitive, prefix stable under suffix edits") {
    val df = Seq(
      ("a b c d e f g h i j k l m n o p q r", 1),
      ("b a c d e f g h i j k l m n o p q r", 2),   // permuted prefix
      ("a b c d e f g h i j k l m n o p q r EXTRA SUFFIX", 3)
    ).toDF("text", "id")
    val out = df.select(col("id"),
      TextAnalysis.fingerprint(col("text")).as("fp"),
      TextAnalysis.fingerprint(col("text"), prefixTokens = 16).as("fp16"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1)._1 != out(2)._1)      // order matters for the full fp
    assert(out(1)._2 == out(3)._2)      // 16-token prefix unaffected by suffix
    assert(out(1)._1 != out(3)._1)      // but full fp sees the suffix
  }

  test("langid: profile hits score and argmax ties break to declaration order") {
    val r = Seq("zzz qqq").toDF("text") // zero hits everywhere
      .select(TextAnalysis.langId(col("text")).map { case (n, c) => c.as(n) }: _*)
      .collect()(0)
    assert(r.getAs[String]("predicted_lang") == "en") // first profile wins ties
  }

  test("repetition: token/bigram shares and the flag on rounded values") {
    val docs = Seq(
      (1L, "a a a b"),                 // "a a" twice: mx2=2 of tot2=3, dst2=2
      (2L, "a b c d e f g h i")        // nine distinct: below both thresholds
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetition(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getAs[Double]("top_token_frac") == 0.75)           // 3/4
    assert(r1.getAs[Double]("top_bigram_frac") == Rounding.stableVal(2.0 / 3, 4))
    assert(r1.getAs[Double]("dup_bigram_frac") == Rounding.stableVal(1 - 2.0 / 3, 4))
    assert(r1.getAs[Boolean]("repetitive"))
    val r2 = out(2L)
    assert(r2.getAs[Double]("top_token_frac") == Rounding.stableVal(1.0 / 9, 4))
    assert(r2.getAs[Double]("dup_bigram_frac") == 0.0)
    assert(!r2.getAs[Boolean]("repetitive"))
  }

  test("repetition keeps single-token docs: null bigram signals, token-only flag") {
    val docs = Seq((1L, "solo"), (2L, "a b")).toDF("doc_id", "text")
    val out = TextAnalysis.repetition(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getAs[Double]("top_token_frac") == 1.0)
    assert(r1.isNullAt(r1.fieldIndex("top_bigram_frac")))
    assert(r1.isNullAt(r1.fieldIndex("dup_bigram_frac")))
    assert(r1.getAs[Boolean]("repetitive")) // 1.0 >= threshold, bigram null ignored
    assert(out(2L).getAs[Double]("top_bigram_frac") == 1.0)
  }

  test("tfidf: rational idf ranks rare terms first, k bounds per-doc rows") {
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry"),
      (3L, "cherry cherry cherry")     // one distinct token -> one row even at k=2
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tfidf(docs, "doc_id", "text", k = 2).collect()
    val d1 = out.filter(_.getLong(0) == 1L).sortBy(_.getAs[Int]("rnk"))
    // apple: tf 2/3, df 1 -> idf (3-1+0.5)/1.5; banana: tf 1/3, df 2 -> idf 1.5/2.5
    assert(d1.map(_.getString(1)).toSeq == Seq("apple", "banana"))
    assert(d1(0).getAs[Double]("tfidf") ==
      Rounding.stableVal((2.0 / 3) * (2.5 / 1.5), 4))
    assert(d1(1).getAs[Double]("tfidf") ==
      Rounding.stableVal((1.0 / 3) * (1.5 / 2.5), 4))
    assert(out.count(_.getLong(0) == 3L) == 1) // k caps at the doc's vocabulary
  }

  test("dsir: integer importance weights match a reference reimplementation; " +
      "target and null-text docs absent") {
    val nb = 16
    val docs = Seq(
      (0L, "t", "a b a"),   // target: unigrams a,b,a + bigrams "a b","b a"
      (3L, "t", "b"),       // 1-token target doc: no bigrams
      (1L, "r", "a b c"),   // raw, overlaps the target vocabulary
      (2L, "r", "x"),       // raw, fully out-of-domain
      (4L, "r", null.asInstanceOf[String]) // null text: absent from output
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.dsirScores(docs, "doc_id", "text",
        col("source") === "t", nb)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

    // reference reimplementation (plain Scala, same md5 buckets)
    def grams(text: String): Seq[String] = {
      val ts = text.split(" ", -1).toSeq
      ts ++ ts.sliding(2).filter(_.size == 2).map(_.mkString(" "))
    }
    def bucket(g: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(d.take(6), 16) % nb).toInt
    }
    def bits(x: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(x)
    val target = Seq("a b a", "b").flatMap(grams).map(bucket)
    val raw = Seq(1L -> "a b c", 2L -> "x")
      .flatMap { case (id, t) => grams(t).map(id -> bucket(_)) }
    val ct = target.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cr = raw.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val shift = bits(raw.size.toLong + nb) - bits(target.size.toLong + nb)
    val expected = raw.groupBy(_._1).map { case (id, gs) =>
      val gsum = gs.map { case (_, b) =>
        bits(ct.getOrElse(b, 0L) + 1) - bits(cr(b) + 1) }.sum
      id -> ((gs.size.toLong, gsum + gs.size * shift))
    }
    assert(out == expected)
    assert(!out.contains(0L) && !out.contains(3L)) // target docs not scored
    assert(!out.contains(4L))                      // null text absent
    // the in-domain doc outscores the out-of-domain one (per gram)
    val (n1, s1) = out(1L); val (n2, s2) = out(2L)
    assert(s1.toDouble / n1 > s2.toDouble / n2)
  }

  test("bm25TopK: matches a reference reimplementation; non-candidates absent") {
    val docs = Seq(
      (1L, "spark spark table"),  // tf(spark)=2, dl=3
      (2L, "spark window"),       // both terms, dl=2
      (3L, "table value key"),    // no query terms -> not a candidate
      (4L, "window")              // tf(window)=1, dl=1
    ).toDF("doc_id", "text")
    val (k1, b) = (1.2, 0.75)
    val out = TextAnalysis.bm25TopK(docs, "doc_id", "text",
        Seq("spark", "window"), k = 10, k1, b)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    // reference: N=4 docs, avgdl=(3+2+3+1)/4, df(spark)=2, df(window)=2
    val avgdl = 9.0 / 4
    def contrib(tf: Long, dl: Long, df: Long): Long =
      math.round((4 - df + 0.5) / (df + 0.5) *
        (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl)) * 1e6)
    val exp = Map(
      1L -> contrib(2, 3, 2),
      2L -> (contrib(1, 2, 2) + contrib(1, 2, 2)),
      4L -> contrib(1, 1, 2))
    val expRanked = exp.toSeq.sortBy { case (id, s) => (-s, id) }
      .zipWithIndex.map { case ((id, s), i) => (id, s / 1e6, i + 1) }
    assert(out.toSeq == expRanked)
    assert(!out.exists(_._1 == 3L)) // zero-term doc never becomes a row
  }

  test("bpePairs: word-internal char pairs with multiplicity; 1-char tokens empty") {
    val out = Seq("aab ab x").toDF("text")
      .select(TextAnalysis.bpePairs(col("text")).as("p"))
      .collect()(0).getSeq[String](0)
    // aab -> (a a), (a b); ab -> (a b); x -> nothing
    assert(out == Seq("a a", "a b", "a b"))
  }

  test("winnowStats: min-per-window fingerprints; shared substrings share a fingerprint") {
    // k=2, w=2 over hand-sized texts
    val out = TextAnalysis.winnowStats(
        Seq((1L, "abcd"), (2L, "a"), (3L, "zzzz")).toDF("doc_id", "text"),
        "doc_id", "text", k = 2, w = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getLong(5)))).toMap
    // Karp-Rabin reference: the Horner fold both engines compute
    def h48(s: String): Long =
      s.foldLeft(0L)((a, c) => (a * TextAnalysis.WinnowBase + c.toLong) %
        TextAnalysis.WinnowMod)
    // doc 1: grams ab,bc,cd -> windows (ab,bc),(bc,cd) -> distinct mins
    val g = Seq("ab", "bc", "cd").map(h48)
    val fps1 = Seq(g(0) min g(1), g(1) min g(2)).distinct
    assert(out(1L) == ((3, fps1.size, fps1.sum)))
    // doc 2 shorter than k: one whole-text gram, one fingerprint
    assert(out(2L) == ((1, 1, h48("a"))))
    // doc 3: all grams equal -> one distinct fingerprint
    assert(out(3L) == ((3, 1, h48("zz"))))
    // the winnowing guarantee at these params: any shared substring of
    // length >= w + k - 1 = 3 yields a shared fingerprint — "abc" in a
    // new doc shares doc 1's first window minimum
    val probe = TextAnalysis.winnowStats(
        Seq((9L, "abc")).toDF("doc_id", "text"), "doc_id", "text", 2, 2)
      .collect()(0)
    assert(probe.getLong(5) == (g(0) min g(1))) // its one fp ∈ doc 1's set
  }

  test("dsirGrams: unigrams plus adjacent bigrams with multiplicity") {
    val g = Seq("a b a", "x", "").toDF("text")
      .select(TextAnalysis.dsirGrams(col("text")).as("g"))
      .collect().map(_.getSeq[String](0))
    assert(g(0) == Seq("a", "b", "a", "a b", "b a")) // counts kept, not a set
    assert(g(1) == Seq("x"))                          // no bigrams under 2 tokens
    assert(g(2) == Seq(""))                           // empty text is one empty token
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("payload plumbing: 16-byte md5 payload, metadata from id, features match bytes") {
    val docs = Seq((0L, "hello world"), (7L, "spark engine")).toDF("doc_id", "text")
    val out = Multimodal.extractFeatures(Multimodal.attachPayload(docs))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3), r.getInt(4), r.getDouble(5)))).toMap
    assert(out(0L)._1 == 32 && out(0L)._2 == 32 && out(0L)._3 == "png")
    assert(out(7L)._1 == 32 + 7 * 16 && out(7L)._2 == 32 + 2 * 16 && out(7L)._3 == "jpeg")
    assert(out.values.forall(_._4 == 16))
    // brightness equals the mean unsigned byte of md5(text)
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("hello world".getBytes("UTF-8"))
    val expected = md.map(_ & 0xff).sum.toDouble / 16
    assert(out(0L)._5 == expected)
  }

  test("resize preserves aspect inside 64x64; frame sample sums the selected 4 bytes") {
    val docs = Seq((7L, "spark engine")).toDF("doc_id", "text")
    val r = Multimodal.extractFeatures(Multimodal.attachPayload(docs)).collect()(0)
    // doc 7: width=32+7*16=144, height=32+2*16=64 -> fit 64: (64, 28)
    assert(r.getAs[Int]("resized_w") == 64 && r.getAs[Int]("resized_h") == 28)
    assert(r.getAs[Int]("frame_id") == 3)
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("spark engine".getBytes("UTF-8"))
    assert(r.getAs[Long]("frame_byte_sum") == md.slice(12, 16).map(_ & 0xff).sum.toLong)
  }

  test("frame sampling: RAGGED data-dependent fan-out (1..max frames per doc), per-frame byte sums") {
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    // enough docs that the first-byte probe produces several distinct
    // frame counts — the fixture must genuinely be ragged
    val texts = (0L to 11L).map(i => (i, s"doc body $i"))
    val docs = texts.toDF("doc_id", "text")
    val out = Multimodal.sampleFrames(Multimodal.attachPayload(docs))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byDoc = out.groupBy(_._1)
    texts.foreach { case (i, t) =>
      val md = md5(t)
      val expectedN = 1 + ((md(0) & 0xff) % 4)
      val frames = byDoc(i).sortBy(_._2)
      // count derived from the payload's first byte; ids contiguous 0..n−1
      assert(frames.length == expectedN, s"doc $i fan-out")
      assert(frames.map(_._2).toSeq == (0 until expectedN))
      assert(frames.map(_._3).toSeq == (0 until expectedN).map(f =>
        md.slice(f * 4, f * 4 + 4).map(_ & 0xff).sum.toLong))
    }
    // the raggedness is real: at least two distinct per-doc counts
    assert(byDoc.values.map(_.length).toSet.size >= 2,
      "fixture produced a fixed-shape fan-out")
  }

  test("frame count probe: ragged bounds, empty payload yields one frame") {
    val d = Multimodal.FakeDecoder.open()
    assert(d.frameCount(Array.emptyByteArray, 4) == 1)
    assert(d.frameCount(Array[Byte](0, 9), 4) == 1)      // 0 % 4 → 1 frame
    assert(d.frameCount(Array[Byte](3, 9), 4) == 4)      // 3 % 4 → 4 frames
    assert(d.frameCount(Array[Byte](-1, 9), 4) == 4)     // 0xff unsigned → 255 % 4 = 3
    for (b <- 0 until 256)
      assert((1 to 4).contains(d.frameCount(Array(b.toByte), 4)))
  }

  test("video payload: one 16-byte frame per token block; signature = frame's first 7 bytes hex") {
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    def hex(b: Array[Byte]) = b.map(x => f"${x & 0xff}%02x").mkString
    // blockTokens=2: doc 1 has blocks ("a b","c d"), doc 2 shares "c d"
    val docs = Seq((1L, "a b c d"), (2L, "c d")).toDF("doc_id", "text")
    val sigs = Multimodal.frameSignatures(
        Multimodal.attachVideoPayload(docs, blockTokens = 2))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(sigs.length == 3)
    val byDoc = sigs.groupBy(_._1)
    assert(byDoc(1L).sortBy(_._2).map(_._3).toSeq ==
      Seq(hex(md5("a b").take(7)), hex(md5("c d").take(7))))
    assert(byDoc(2L).map(_._3).toSeq == Seq(hex(md5("c d").take(7))))
    // the shared block shares its frame signature across docs
    assert(byDoc(1L).map(_._3).toSet.intersect(byDoc(2L).map(_._3).toSet).size == 1)
  }

  test("mm_frame_dedup: canonical-first verdicts, partial fractions, ragged counts on real data") {
    val out = SparkEntry.queries("mm_frame_dedup")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4)))
    assert(out.nonEmpty && out.map(_._1).distinct.length == out.length)
    val thr = PipelineConfig.Default.mmDupFrameMax
    out.foreach { case (id, n, d, f, keep) =>
      assert(n >= 1 && d >= 0 && d <= n, s"doc $id counts")
      assert(f == Rounding.stableVal(d.toDouble / n, 4), s"doc $id frac")
      assert(keep == (f < thr), s"doc $id verdict")
    }
    // the fixture produces REAL partial overlap (boilerplate blocks
    // shared across docs), ragged frame counts, and both verdicts
    assert(out.exists(r => r._4 > 0 && r._4 < 1), "no partial dup fractions")
    assert(out.map(_._2).distinct.length >= 3, "frame fan-out not ragged")
    assert(out.exists(_._5) && out.exists(!_._5), "one-sided verdicts")
    // frame conservation: canonical frames + duplicated frames = all
    // frames, and at least one frame is duplicated corpus-wide
    assert(out.map(_._3).sum > 0)
  }

  test("audio windows: per-16-byte energies from md5 blocks; tail clamped; empty payload one window") {
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    val d = Multimodal.FakeDecoder.open()
    assert(d.audioWindowCount(Array.emptyByteArray) == 1)
    assert(d.audioWindowCount(new Array[Byte](40)) == 2)
    assert(d.windowEnergy(Array.emptyByteArray, 0) == 0L)
    val p = Array.tabulate[Byte](20)(i => i.toByte)
    assert(d.windowEnergy(p, 0) == (0 until 16).sum.toLong)
    assert(d.windowEnergy(p, 1) == (16 until 20).sum.toLong) // tail clamp
    // end-to-end: blockTokens=2 → one window per 2-token block, energy
    // = unsigned byte sum of that block's md5; shared block shares it
    val docs = Seq((1L, "a b c d"), (2L, "c d")).toDF("doc_id", "text")
    val wins = Multimodal.audioWindows(
        Multimodal.attachAudioPayload(docs, blockTokens = 2))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    def e(s: String) = md5(s).map(_ & 0xff).sum.toLong
    assert(wins.toSet ==
      Set((1L, 0, e("a b")), (1L, 1, e("c d")), (2L, 0, e("c d"))))
  }

  test("mm_audio_segments: maximal alternating runs tile the window axis; real speech/silence mix") {
    val out = SparkEntry.queries("mm_audio_segments")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2),
        r.getInt(3), r.getLong(4), r.getLong(5)))
    assert(out.nonEmpty)
    val thr = PipelineConfig.Default.audioEnergyThreshold
    out.groupBy(_._1).foreach { case (id, segs0) =>
      val segs = segs0.sortBy(_._2)
      // seg ids contiguous from 1 in start-window order
      assert(segs.map(_._2).toSeq == (1 to segs.length), s"doc $id seg ids")
      // segments TILE the window axis: each starts where the last ended
      var next = 0
      segs.foreach { g =>
        assert(g._4 == next, s"doc $id segment start")
        next += g._5.toInt
      }
      // runs are MAXIMAL: consecutive segments alternate flags
      segs.sliding(2).foreach {
        case Array(a, c) => assert(a._3 != c._3, s"doc $id non-maximal run")
        case _ =>
      }
      // threshold semantics visible on single-window runs: the flag is
      // exactly (energy >= threshold)
      segs.filter(_._5 == 1).foreach { g =>
        assert((g._6 >= thr) == g._3, s"doc $id flag/energy mismatch")
      }
    }
    // the 2048 bound genuinely splits the fixture: both flags occur,
    // and some runs fold more than one window
    assert(out.exists(_._3) && out.exists(!_._3), "one-sided activity")
    assert(out.exists(_._5 > 1), "no multi-window runs folded")
  }

  test("video near-dup pairs: shared-sig counts, containment asymmetry, df-cap drops hot sigs") {
    // blockTokens=2 → sigs are 2-token blocks. docs 1/2/3 overlap on
    // "a b"(df 4) and "c d"(df 3); doc 8 shares only ONE sig (under
    // minShared); docs 5,6,7,9,10 share a sig at df 5 > cap — dropped
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c d x y"), (3L, "a b c d"),
      (8L, "a b q r"),
      (5L, "h h"), (6L, "h h"), (7L, "h h"), (9L, "h h"), (10L, "h h")
    ).toDF("doc_id", "text")
    val sigs = Multimodal.frameSignatures(
      Multimodal.attachVideoPayload(docs, blockTokens = 2))
    val out = Multimodal.videoNearDupPairs(sigs, dfCap = 4,
        minShared = 2L, containMin = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getBoolean(6))).toSet
    assert(out == Set(
      (1L, 2L, 2L, 3L, 3L, 0.6667, false), // 2 shared / min(3,3)
      (1L, 3L, 2L, 3L, 2L, 1.0, true),     // doc 3 contained in doc 1
      (2L, 3L, 2L, 3L, 2L, 1.0, true)))
  }

  test("mm_video_neardup: pair invariants + real verdict mix on real data") {
    val out = SparkEntry.queries("mm_video_neardup")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getBoolean(6)))
    assert(out.nonEmpty)
    val cfg = PipelineConfig.Default
    out.foreach { case (a, b, sh, na, nb, c, nd) =>
      assert(a < b, s"pair ($a,$b) unordered")
      assert(sh >= cfg.videoMinShared && sh <= math.min(na, nb))
      assert(c == Rounding.stableVal(sh.toDouble / math.min(na, nb), 4))
      assert(nd == (c >= cfg.videoContainMin))
    }
    assert(out.exists(_._7) && out.exists(!_._7), "one-sided verdicts")
  }

  test("frame-sig index lifecycle: indexed ≡ inline df-capped; frozen append; gate measures cap drift") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fsidx").toString
    def sigsOf(df: org.apache.spark.sql.DataFrame) =
      Multimodal.frameSignatures(Multimodal.attachVideoPayload(df, 2))
    // "h h" appears in 3 docs — above dfCap=2, excluded at build
    val base = Seq((1L, "a b c d"), (2L, "c d e f"),
      (3L, "h h"), (4L, "h h"), (5L, "h h")).toDF("doc_id", "text")
    Multimodal.writeFrameSigIndex(sigsOf(base), dir, blockTokens = 2, dfCap = 2)
    def postings() = spark.read.parquet(s"$dir/postings")
      .select("doc_id", "frame_sig").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    def sig(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(7).map(b => f"${b & 0xff}%02x").mkString
    assert(postings() == Set((1L, sig("a b")), (1L, sig("c d")),
      (2L, sig("c d")), (2L, sig("e f"))), "build cap not applied")
    // clean append (no sig crosses the cap): append ≡ rebuild
    Multimodal.appendToFrameSigIndex(
      sigsOf(Seq((11L, "p q")).toDF("doc_id", "text")), dir)
    assert(postings().contains((11L, sig("p q"))) && postings().size == 5)
    val g0 = Multimodal.frameSigIndexDfGate(spark, dir, 0.2).collect()(0)
    assert(g0.getLong(1) == 0L && !g0.getBoolean(3), "clean append flagged")
    // batch-hot append: "z z" saturates INSIDE the batch (3 docs > cap
    // 2) — the append cap must drop it so the screen's emission bound
    // survives; the batch's clean sig still lands
    Multimodal.appendToFrameSigIndex(
      sigsOf(Seq((21L, "z z"), (22L, "z z"), (23L, "z z w w"))
        .toDF("doc_id", "text")), dir)
    assert(!postings().exists(_._2 == sig("z z")), "batch-hot sig entered")
    assert(postings().contains((23L, sig("w w"))) && postings().size == 6)
    // drift append: "c d" reaches corpus-wide df 3 > 2 — appends are
    // batch-capped only, so the gate must catch it
    Multimodal.appendToFrameSigIndex(
      sigsOf(Seq((10L, "c d x y")).toDF("doc_id", "text")), dir)
    val g1 = Multimodal.frameSigIndexDfGate(spark, dir, 0.3).collect()(0)
    // hot postings = the three "c d" rows of 8 total
    assert(g1.getLong(0) == 8L && g1.getLong(1) == 3L)
    assert(g1.getDouble(2) == Rounding.stableVal(3.0 / 8, 4))
    assert(g1.getBoolean(3), "cap drift not flagged")
    assert(!Multimodal.frameSigIndexDfGate(spark, dir, 0.6)
      .collect()(0).getBoolean(3))
  }

  test("mm_video_clusters: components cover the verified pairs; singletons keep their id") {
    val sf = "/root/testdata/sf0.001"
    val lab = SparkEntry.queries("mm_video_clusters")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = SparkEntry.queries("mm_video_neardup")(spark, sf).collect()
      .filter(_.getBoolean(6)).map(r => (r.getLong(0), r.getLong(1)))
    assert(lab.nonEmpty && pairs.nonEmpty)
    // every verified near-dup pair lands in one cluster, labeled by a member
    pairs.foreach { case (a, b) =>
      assert(lab(a) == lab(b), s"pair ($a,$b) split across clusters")
    }
    lab.foreach { case (id, c) => assert(c <= id && lab.contains(c)) }
    // docs in no verified pair keep their own id
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    lab.filterNot(kv => paired(kv._1)).foreach { case (id, c) =>
      assert(c == id, s"singleton $id relabeled")
    }
    // the fixture has REAL multi-doc clusters
    assert(lab.values.groupBy(identity).exists(_._2.size > 1))
  }

  test("mm_split_leakage: rollup equals the verified pair table × split assignment") {
    val sf = "/root/testdata/sf0.001"
    val cfg = PipelineConfig.Default
    val pairs = SparkEntry.queries("mm_video_neardup")(spark, sf).collect()
      .filter(_.getBoolean(6)).map(r => (r.getLong(0), r.getLong(1)))
    val ids = pairs.flatMap(p => Seq(p._1, p._2)).distinct.toSeq
    val splitOf = ids.toDF("doc_id")
      .select(col("doc_id"), Sampling.splitAssign(col("doc_id"),
        cfg.splitTrainPct, cfg.splitValPct).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = pairs
      .map { case (a, b) =>
        val (x, y) = (splitOf(a), splitOf(b))
        (if (x <= y) x else y, if (x <= y) y else x)
      }
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val got = SparkEntry.queries("mm_split_leakage")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(got.map { case (k, v) => k -> v._1 } == expected)
    got.foreach { case ((lo, hi), (_, leaks)) => assert(leaks == (lo != hi)) }
    // the fixture genuinely leaks across a held-out boundary
    assert(got.exists(_._2._2) && got.exists(!_._2._2))
  }

  test("mm_profile: per-format rollup equals the micro-unit mean of the per-doc signals") {
    val sf = "/root/testdata/sf0.001"
    val prof = SparkEntry.queries("mm_profile")(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(prof.keySet == Set("png", "jpeg", "webp"))
    // per-doc ground truth from the component queries, format by id%3
    def fmt(id: Long) = (id % 3) match {
      case 0 => "png"; case 1 => "jpeg"; case _ => "webp"
    }
    val vid = SparkEntry.queries("mm_frame_dedup")(spark, sf).collect()
      .map(r => (fmt(r.getLong(0)), r.getLong(1), r.getDouble(3)))
    vid.groupBy(_._1).foreach { case (f, rows) =>
      val (n, af, tf, ad, _) = prof(f)
      assert(n == rows.length, s"$f doc count")
      assert(tf == rows.map(_._2).sum, s"$f frame mass")
      // integer micro-unit mean, the exact path the plan takes
      val expect = Rounding.stableVal(
        rows.map(r => math.round(r._3 * 10000)).sum.toDouble / (n * 10000), 4)
      assert(ad == expect, s"$f avg_dup_frac")
      assert(af >= 0 && af <= 255, s"$f brightness range")
    }
  }

  test("per-row segment fold ≡ batch windowed segmentation bit-for-bit (st18 twin)") {
    val sf = "/root/testdata/sf0.001"
    val batch = SparkEntry.queries("mm_audio_segments")(spark, sf)
      .collect().map(_.toSeq).toSet
    val folded = SparkEntry.queries("st18_audio_scan")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(folded == batch)
    assert(batch.nonEmpty)
  }

  test("e9_av_curation: first-failure reasons from the three signals; consistent with the component queries") {
    val sf = "/root/testdata/sf0.001"
    val cfg = PipelineConfig.Default
    val out = SparkEntry.queries("e9_av_curation")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getString(4), r.getBoolean(5)))).toMap
    assert(out.nonEmpty)
    // reason = FIRST failing gate in priority order; keep ⇔ ok
    out.foreach { case (id, (q, d, s, reason, keep)) =>
      val expect = if (q < cfg.avQualityMin) "low_quality"
        else if (d >= cfg.mmDupFrameMax) "dup_video"
        else if (s < cfg.avSpeechFracMin) "low_speech"
        else "ok"
      assert(reason == expect, s"doc $id reason")
      assert(keep == (reason == "ok"), s"doc $id keep")
    }
    // the video signal is EXACTLY the standalone rollup's fraction
    val vid = SparkEntry.queries("mm_frame_dedup")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    out.foreach { case (id, t) => assert(vid(id) == t._2, s"doc $id dup_frac") }
    // the audio signal is EXACTLY the segment table re-aggregated
    val seg = SparkEntry.queries("mm_audio_segments")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getBoolean(2), r.getLong(4)))
      .groupBy(_._1).map { case (id, rows) =>
        id -> Rounding.stableVal(
          rows.filter(_._2).map(_._3).sum.toDouble / rows.map(_._3).sum, 4)
      }
    out.foreach { case (id, t) => assert(seg(id) == t._3, s"doc $id speech_frac") }
    // every branch of the chain fires on the fixture
    assert(out.values.map(_._4).toSet ==
      Set("ok", "low_quality", "dup_video", "low_speech"))
  }

  test("attachReencodedPayload: low bit of each frame's first byte flips, nothing else; sig Hamming exactly 1") {
    val docs = Seq((1L, Seq.fill(32)("tok").mkString(" "))).toDF("doc_id", "text")
    val clean = Multimodal.attachVideoPayload(docs, 16).collect()(0)
      .getAs[Array[Byte]]("payload")
    val noisy = Multimodal.attachReencodedPayload(docs, 16).collect()(0)
      .getAs[Array[Byte]]("payload")
    assert(clean.length == 32 && noisy.length == 32) // 2 blocks of 16
    for (i <- clean.indices) {
      if (i % 16 == 0) assert((clean(i) ^ noisy(i)) == 1, s"byte $i")
      else assert(clean(i) == noisy(i), s"byte $i")
    }
    // and the decoder's signature therefore moves by exactly one bit
    val d = Multimodal.FakeDecoder.open()
    for (f <- 0 until 2) {
      val a = java.lang.Long.parseLong(d.frameSignature(clean, f), 16)
      val b = java.lang.Long.parseLong(d.frameSignature(noisy, f), 16)
      assert(java.lang.Long.bitCount(a ^ b) == 1, s"frame $f")
    }
  }

  test("frameNearDupPairs: 1-bit perturbed sigs pair, random sigs don't; pigeonhole holds at bands=7; hot cells capped") {
    // base corpus of far-apart random 56-bit sigs + one 1-bit perturb
    val rnd = new scala.util.Random(3)
    def hex14(l: Long): String = "%014x".format(l & ((1L << 56) - 1))
    val bases = (0 until 12).map(i => (i.toLong, 0, hex14(rnd.nextLong())))
    val pert = (100L, 0, hex14(
      java.lang.Long.parseLong(bases(4)._3, 16) ^ 1L)) // flip bit 0
    val sigs = (bases :+ pert).toDF("doc_id", "frame_id", "frame_sig")
    val got = Multimodal.frameNearDupPairs(sigs, bands = 2, maxHamming = 1,
        bucketCap = 200)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    // exactly the perturbed pair survives: random 56-bit sigs sit ~28
    // bits apart, so the verify cut kills any chance band collision
    val ex = Seq(bases(4)._3, pert._3).sorted
    assert(got.toSeq == Seq((ex(0), ex(1), 1)))
    // pigeonhole at bands=7 (2-hex-char bands): 6 bit flips spread over
    // six DIFFERENT bands still agree on the 7th — must pair
    val six = hex14(java.lang.Long.parseLong(bases(2)._3, 16)
      ^ ((1L << 1) | (1L << 9) | (1L << 17) | (1L << 25) | (1L << 33) | (1L << 41)))
    val got7 = Multimodal.frameNearDupPairs(
        (bases :+ ((101L, 0, six))).toDF("doc_id", "frame_id", "frame_sig"),
        bands = 7, maxHamming = 6, bucketCap = 200)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq
    val ex7 = Seq(bases(2)._3, six).sorted
    assert(got7.contains((ex7(0), ex7(1), 6)))
    // a hot band cell (shared 28-bit prefix beyond the cap) is dropped
    // whole: the near pair inside it is sacrificed, never exploded
    val hot = (0 until 5).map(i =>
      (200L + i, 0, "00000000000%03x".format(i * 2))) // shared band 0
    val capped = Multimodal.frameNearDupPairs(
      hot.toDF("doc_id", "frame_id", "frame_sig"),
      bands = 2, maxHamming = 1, bucketCap = 4).collect()
    assert(capped.isEmpty)
    // completeness guard: maxHamming >= bands would lose pairs silently
    intercept[IllegalArgumentException] {
      Multimodal.frameNearDupPairs(sigs, bands = 2, maxHamming = 2,
        bucketCap = 200)
    }
  }

  test("audio near-dup: clip containment lands on the clip side; sub-shingle docs emit nothing; df-cap drops hot fps") {
    // blockTokens=1 → one analysis window per token, so a clip that
    // re-uses the source's token prefix reproduces its delta sequence
    val docs = Seq(
      (1L, "a b c d e f g h"),    // source: 8 windows → 7 deltas → 5 fps
      (100L, "a b c d e"),        // clip of 1's prefix: 4 deltas → 2 fps
      (2L, "x y z"),              // 2 deltas < shingle → no fingerprints
      // 6 docs sharing one fingerprint: df 6 > cap 5 → dropped whole
      (10L, "p q r s"), (11L, "p q r s"), (12L, "p q r s"),
      (13L, "p q r s"), (14L, "p q r s"), (15L, "p q r s")
    ).toDF("doc_id", "text")
    val fps = Multimodal.audioFingerprints(
      Multimodal.attachAudioPayload(docs, blockTokens = 1), shingle = 3)
    // sub-shingle doc emits nothing to match on
    assert(fps.filter(col("doc_id") === 2L).count() == 0)
    val pairs = Multimodal.audioNearDupPairs(fps, dfCap = 5,
        minShared = 2L, containMin = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getBoolean(6)))
    // exactly the clip pair survives: the hot p-q-r-s fingerprint left
    // pair generation whole, so docs 10..15 never pair
    assert(pairs.toSeq == Seq((1L, 100L, 2L, 5L, 2L, 1.0, true)))
  }
}

class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-sink").toString

  test("K1/T15: final CSV has header; null->empty ONLY for the YoY column") {
    val dir = tmpDir() + "/final"
    val df = Seq(
      ("2024-01-08", "A", 1.5, 100L, Some(12.34)),
      ("2024-01-09", "B", -0.5, 200L, None)
    ).toDF("Date", "Stock", "Pct_Change", "Volume", "YoY_NetIncome_Pct")
    Sinks.writeFinalCsv(df, dir)
    val files = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".csv"))
    assert(files.length == 1) // coalesce(1): single file like the reference
    val lines = scala.io.Source.fromFile(files(0)).getLines().toSeq
    assert(lines.head == "Date,Stock,Pct_Change,Volume,YoY_NetIncome_Pct")
    assert(lines.exists(_ == "2024-01-08,A,1.5,100,12.34"))
    assert(lines.exists(_ == "2024-01-09,B,-0.5,200,")) // trailing empty, not "null"
  }

  test("K1: a headline's leading and trailing blanks reach the CSV untrimmed") {
    // a 60-char headline prefix can end mid-sentence on a blank; the
    // reference's csv.DictWriter writes it as is
    val dir = tmpDir() + "/blanks"
    Sinks.writeFinalCsv(Seq(("A", "Stocks rally ", Some(1.0)), ("B", " Dip", None))
      .toDF("Stock", "Headline", "YoY_NetIncome_Pct"), dir)
    val file = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".csv")).head
    val src = scala.io.Source.fromFile(file)
    val lines = try src.getLines().toList finally src.close()
    assert(lines.contains("A,Stocks rally ,1.0"), lines.mkString("\n"))
    assert(lines.contains("B, Dip,"), lines.mkString("\n"))
  }

  test("S8: the written CSV reads back with header and re-validates (validator.py:39-46)") {
    val dir = tmpDir() + "/final2"
    val df = Seq(("A", 0.5, Some(1.0)), ("B", -0.5, None))
      .toDF("Stock", "Sentiment_Score", "YoY_NetIncome_Pct")
    Sinks.writeFinalCsv(df, dir)
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(dir)
    assert(Validator.validate(back, Validator.Rules(
      "Sentiment_Score", -1.0, 1.0, Seq("Stock"), "YoY_NetIncome_Pct", 0.5), Some(2L)))
  }

  test("K2: per-key partitioned CSV dump creates one directory per key") {
    val dir = tmpDir() + "/perkey"
    Seq(("A", 1), ("A", 2), ("B", 3)).toDF("stock", "v")
      .transform { d => Sinks.writePerKeyCsv(d, dir, "stock"); d }
    val parts = new java.io.File(dir).listFiles.map(_.getName).filter(_.startsWith("stock="))
    assert(parts.toSet == Set("stock=A", "stock=B"))
  }

  test("K3: JSON dim dump round-trips") {
    val dir = tmpDir() + "/dim"
    Seq(("A", 12.3), ("B", -4.5)).toDF("stock", "yoy")
      .transform { d => Sinks.writeJsonDim(d, dir); d }
    val back = spark.read.json(dir).collect()
      .map(r => r.getAs[String]("stock") -> r.getAs[Double]("yoy")).toMap
    assert(back == Map("A" -> 12.3, "B" -> -4.5))
  }

  test("S7/K4: persist() is the KV-cache mapping — the second action reads the cache, not the source") {
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v").persist()
    try {
      df.count() // materialize
      val again = df.filter($"k" === 1)
      val p = again.queryExecution.executedPlan.toString
      assert(p.contains("InMemoryTableScan"),
        s"reuse did not hit the cached relation:\n$p")
      assert(again.count() == 1L)
    } finally df.unpersist()
  }

  test("dynamic partition overwrite replaces only the written day (idempotent backfill)") {
    val dir = tmpDir() + "/dyn"
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      Seq(("2024-01-10", 1L), ("2024-01-11", 2L)).toDF("dt", "v")
        .write.partitionBy("dt").mode("overwrite").parquet(dir)
      // re-run day 11 only: day 10 must survive, day 11 must be replaced
      Seq(("2024-01-11", 99L)).toDF("dt", "v")
        .write.partitionBy("dt").mode("overwrite").parquet(dir)
      // partition discovery types dt as DATE; compare through a cast
      val back = spark.read.parquet(dir)
        .selectExpr("CAST(dt AS STRING) AS dt", "v").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(back == Map("2024-01-10" -> 1L, "2024-01-11" -> 99L))
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
  }

  test("ORC round-trip: the bundled columnar alternative preserves schema and rows") {
    val dir = tmpDir() + "/orc"
    val df = Seq((1L, "a", 1.5), (2L, "b", -0.5)).toDF("id", "s", "v")
    df.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    // file sources re-read everything nullable; names and types must hold
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }

  test("JSON-lines source with a DECLARED schema never infers (SURVEY §1.3 discipline)") {
    import org.apache.spark.sql.types._
    val dir = tmpDir() + "/jsonl"
    Seq((1L, "x", 10), (2L, "y", 20)).toDF("doc_id", "text", "n")
      .write.mode("overwrite").json(dir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("n", LongType), StructField("missing", StringType)))
    val back = spark.read.schema(schema).json(dir)
    assert(back.schema == schema) // declared, not inferred
    val rows = back.orderBy("doc_id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(rows.forall(_.isNullAt(3))) // absent field -> null, no failure
  }
}
