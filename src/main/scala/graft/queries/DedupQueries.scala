package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.queries.Shared._

/** Deduplication (dedup_*): exact, minhash/LSH, simhash, bloom,
  * containment, paragraph, span, embedding and semantic dedup, the
  * closure and reweighting built on the pairs, and the salted
  * aggregation (salted_agg).
  */
private[graft] object DedupQueries {

  private val Cfg = PipelineConfig.Default

  /** SemDeDup (dedup_semantic / dedup_semantic_centroid): k-means
    * clusters the paraphrase-augmented corpus, cosine pairs form only
    * within (LSH bucket, cluster) cells, and `keep` picks the pair
    * survivor — "min_id" drops the larger id (greedy, arrival-order
    * keep); "centroid" drops the member FARTHER from its cluster
    * centroid (standard SemDeDup's representativeness keep; 6-dp
    * own-centroid cosine from the very Lloyd assignment that scoped the
    * pair, ties to the lower id). Either way a doc pairing only with
    * already-dropped docs is still dropped — cheaper than the
    * transitive closure (dedup_clusters is the closure when canonical
    * labels are needed). The Lloyd subtree is staged once and read by
    * the pair join, the keep-rule joins, and the final flag.
    */
  private def semanticDedup(s: SparkSession, dir: String, keep: String): DataFrame = {
    val base = Tables.embeddings(s, dir).filter(col("embedding").isNotNull)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
    val para = base.select((col("vec_id") + 100000).as("vec_id"),
      transform(col("v"),
        (x, i) => when(i === 0, x + Cfg.semanticDelta).otherwise(x)).as("v"))
    val corpus = base.unionByName(para)
    val asg = Similarity.kmeans(corpus, "vec_id", "v",
        k = Cfg.kmeansK, iters = Cfg.kmeansIters)
      .localCheckpoint(eager = false)
    val pairs = Similarity.cosineDedupPairs(
      corpus.select(col("vec_id").as("id"), col("v").as("vecd"))
        .join(asg.select(col("vec_id").as("id"), col("cluster_id")), Seq("id")),
      Cfg.semanticThreshold, numPlanes = Cfg.cosNumPlanes,
      extraKeys = Seq("cluster_id"), maxCell = Cfg.cosMaxCell)
    val dropped = Similarity.semanticDrops(pairs, asg, keep)
    asg.join(dropped.select(col("vec_id"), lit(1).as("__d")), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"), col("__d").isNull.as("kept"))
  }

  private def minhashOracle(numBands: Int, rowsPerBand: Int, threshold: Double,
      pairPred: String = "a.doc_id < b.doc_id",
      aName: String = "doc_a", bName: String = "doc_b",
      maxBucket: Option[Int] = None): String =
    s"WITH ${minhashCtes(numBands, rowsPerBand, pairPred, aName, bName, maxBucket)}\n" +
      s"""SELECT $aName, $bName,
         |       $MinhashJaccardSql AS jaccard
         |FROM pairs JOIN sh sa ON sa.doc_id = $aName JOIN sh sb ON sb.doc_id = $bName
         |WHERE $MinhashJaccardSql >= $threshold""".stripMargin

  private def clustersOracle(numBands: Int, rowsPerBand: Int, threshold: Double): String =
    s"${clustersWalkCtes(numBands, rowsPerBand, threshold)}\n" +
      "SELECT doc_id, cluster_id FROM cl"

  /** SoftDeDup weights over the same closure: 1/|cluster| per member. */
  private def softWeightsOracle(numBands: Int, rowsPerBand: Int, threshold: Double): String =
    s"${clustersWalkCtes(numBands, rowsPerBand, threshold)},\n" +
      s"""sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |       FROM cl GROUP BY 1)
         |SELECT doc_id, cluster_id, cluster_size,
         |       ${Rounding.stableSql("1.0 / cluster_size", 6)} AS weight
         |FROM cl JOIN sz USING (cluster_id)""".stripMargin

  private def simhashOracle(bits: Int): String = {
    val bitExprs = (0 until bits).map(j =>
      s"(CASE WHEN list_sum(list_transform(h, x -> (ascii(substr(x, ${j + 1}, 1)) % 2) * 2 - 1)) > 0 THEN '1' ELSE '0' END)")
      .mkString(" || ")
    s"""SELECT doc_id, $bitExprs AS simhash
       |FROM (SELECT doc_id, list_transform(string_split(text, ' '), t -> md5(t)) AS h FROM documents)""".stripMargin
  }

  /** The dedup_semantic corpus: every embedding plus a deterministic
    * "re-embedded paraphrase" (first component + semanticDelta, id +
    * 100000) — mirrored literally by [[semanticDedup]].
    */
  private lazy val SemanticCorpusSql: String =
    s"""SELECT vec_id, v FROM (SELECT vec_id, embedding::DOUBLE[] AS v
       |                       FROM embeddings WHERE embedding IS NOT NULL) b
       |UNION ALL
       |SELECT vec_id + 100000, list_concat([v[1] + ${Cfg.semanticDelta}], v[2:])
       |FROM (SELECT vec_id, embedding::DOUBLE[] AS v
       |      FROM embeddings WHERE embedding IS NOT NULL) b""".stripMargin

  /** The SemDeDup oracle body shared by dedup_semantic (Cfg-selected
    * keep) and dedup_semantic_centroid (pinned "centroid"): Lloyd CTEs
    * over the paraphrase-augmented corpus, hot-cell-capped
    * (bucket, cluster) pair join, then the keep rule — min-id drops the
    * larger id of every qualifying pair; centroid drops the member with
    * the LOWER a20 cosine to its own centroid (6-dp, ties drop vec_b so
    * the lower id survives), mirroring semanticDedup's `when` exactly.
    */
  private def semanticDedupOracleSql(keep: String): String = {
    val drp = keep match {
      case "min_id" =>
        s"""drp AS (SELECT DISTINCT vec_b AS vec_id FROM p
           |        WHERE cos >= ${Cfg.semanticThreshold})""".stripMargin
      case "centroid" =>
        s"""drp AS (SELECT DISTINCT CASE WHEN ca.cos >= cb.cos THEN p.vec_b ELSE p.vec_a END AS vec_id
           |        FROM p JOIN asg ca ON p.vec_a = ca.vec_id
           |               JOIN asg cb ON p.vec_b = cb.vec_id
           |        WHERE p.cos >= ${Cfg.semanticThreshold})""".stripMargin
      case other => throw new IllegalArgumentException(
        s"semanticKeep must be min_id or centroid, got $other")
    }
    s"""WITH ${kmeansCtesOver(SemanticCorpusSql)},
       |asg AS (SELECT vec_id, cid, cos FROM a20 WHERE rn = 1),
       |b0 AS (
       |  SELECT e.vec_id, e.v, asg.cid,
       |         ${lshBucketSql("e.v", Cfg.cosNumPlanes, 64)} AS bucket
       |  FROM e JOIN asg USING (vec_id)),
       |b AS (SELECT vec_id, v, cid, bucket FROM (
       |        SELECT *, count(*) OVER (PARTITION BY bucket, cid) AS cn FROM b0)
       |      WHERE cn <= ${Cfg.cosMaxCell}),
       |p AS (
       |  SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
       |         round(${sqlCos("a.v", "c.v")}, 6) AS cos
       |  FROM b a JOIN b c
       |    ON a.bucket = c.bucket AND a.cid = c.cid AND a.vec_id < c.vec_id),
       |$drp
       |SELECT asg.vec_id, CAST(asg.cid AS INT) AS cluster_id,
       |       (drp.vec_id IS NULL) AS kept
       |FROM asg LEFT JOIN drp ON asg.vec_id = drp.vec_id""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // Incremental dedup: the daily-ingest form — near-dup pairs between a
    // new batch (re-crawl copy, shifted ids) and the base corpus only;
    // candidate volume is proportional to the BATCH, not the history.
    QueryDef("dedup_incremental", (s, dir) => {
      val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val batch = base.withColumn("doc_id", col("doc_id") + 1000000)
      // per side, ONE lazily-checkpointed tokenize+md5 pass shared by
      // banding and the verify join
      Dedup.minhashPairsBetween(batch, base, "doc_id", "text",
        numBands = Cfg.numBands, rowsPerBand = Cfg.rowsPerBand, threshold = Cfg.nearDupThreshold,
        newSh = Some(Dedup.shingleFrame(batch, "doc_id", "text").localCheckpoint(true)),
        baseSh = Some(Dedup.shingleFrame(base, "doc_id", "text").localCheckpoint(true)))
    },
      // incremental: candidates restricted to base (< 1e6) × batch (>= 1e6)
      oracle = minhashOracle(numBands = Cfg.numBands, rowsPerBand = Cfg.rowsPerBand,
      threshold = Cfg.nearDupThreshold,
      pairPred = "a.doc_id < 1000000 AND b.doc_id >= 1000000",
      aName = "doc_base", bName = "doc_new")),

    // Duplicate clusters: transitive closure of the minhash near-dup
    // pairs by min-label propagation — the canonicalization step after
    // pair generation (a≈b≈c groups a,c even when (a,c) never banded).
    QueryDef("dedup_clusters", (s, dir) => {
      val (corpus, pairs) = recrawlPairs(s, dir)
      Dedup.duplicateClusters(corpus.select(col("doc_id").as("id")), pairs)
        .select(col("id").as("doc_id"), col("label").as("cluster_id"))
    },
      oracle = clustersOracle(numBands = Cfg.numBands, rowsPerBand = Cfg.rowsPerBand,
      threshold = Cfg.nearDupThreshold)),

    // SoftDeDup (Xue et al. 2024): duplicates are REWEIGHTED, not
    // dropped — every doc keeps sampling weight 1/|cluster| over the
    // same minhash closure dedup_clusters computes, so each duplicate
    // group contributes total mass 1 to the training mix while unique
    // docs keep weight 1. Sizing the clusters is one count aggregate +
    // one label-keyed join on top of the closure — nothing pairwise.
    QueryDef("dedup_soft", (s, dir) => {
      val (corpus, pairs) = recrawlPairs(s, dir)
      Dedup.softWeights(corpus.select(col("doc_id").as("id")), pairs)
        .select(col("id").as("doc_id"), col("cluster_id"),
          col("cluster_size"), col("weight"))
    },
      oracle = softWeightsOracle(numBands = Cfg.numBands, rowsPerBand = Cfg.rowsPerBand,
      threshold = Cfg.nearDupThreshold)),

    // Skew-tolerant two-phase aggregation (salting): identical result to
    // a direct groupBy, but a hot key spreads over 8 reducers first.
    QueryDef("salted_agg", (s, dir) =>
      Salting.saltedSumCount(Tables.lineitem(s, dir),
        keys = Seq("l_returnflag"), valueCol = "l_quantity",
        saltCol = "l_orderkey", saltBuckets = 8),
      oracle = """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows, sum(l_quantity) AS total
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // Embedding-cosine near-dup: LSH sign-bit buckets → within-bucket
    // exact cosine ≥ 0.99. The corpus carries planted re-encoded copies
    // (scaled vectors) — scale-invariant sign patterns guarantee the
    // bucketing never misses them.
    QueryDef("dedup_embedding", (s, dir) => {
      val base = Tables.embeddings(s, dir).select(col("vec_id").as("id"),
        Similarity.asDouble(col("embedding")).as("vecd"))
      val reencoded = base.select((col("id") + 100000).as("id"),
        transform(col("vecd"), x => x * lit(1.5)).as("vecd"))
      Similarity.cosineDedupPairs(base.unionByName(reencoded), threshold = 0.99,
        numPlanes = Cfg.cosNumPlanes, maxCell = Cfg.cosMaxCell)
    },
      oracle = s"""WITH $CosinePairCtesSql
         |SELECT vec_a, vec_b, cos FROM p WHERE cos >= 0.99""".stripMargin),

    // SemDeDup: dedup by MEANING — k-means clusters the corpus, cosine
    // pairs form only within (cluster, LSH bucket), and each vector is
    // dropped when it pairs with a smaller id (greedy min-id keep: a
    // doc pairing ONLY with already-dropped docs is still dropped —
    // cheaper than the transitive closure and the standard SemDeDup
    // rule; dedup_clusters is the closure when canonical labels are
    // needed). Corpus = embeddings ∪ deterministic "paraphrases"
    // (first component + delta, cos ≈ 0.98 on the unit-norm corpus).
    // The Lloyd subtree is staged once and read by both the pair join
    // and the final keep flag.
    QueryDef("dedup_semantic", (s, dir) => semanticDedup(s, dir, Cfg.semanticKeep),
      // SemDeDup mirror: the paraphrase-augmented corpus (SemanticCorpusSql)
      // through the SAME unrolled 2-pass Lloyd CTEs as sim_kmeans
      // (kmeansCtesOver keeps them in lock-step), then cosine pairs scoped
      // to (LSH bucket, cluster) cells — hot-cell cap and plane count both
      // Cfg-interpolated — and the Cfg-selected keep rule (min-id drop or
      // centroid-keep; semanticDedupOracleSql mirrors the
      // semanticDedup switch).
      oracle = semanticDedupOracleSql(Cfg.semanticKeep)),

    // Standard-SemDeDup keep rule over the SAME pair frame: within each
    // qualifying pair the member CLOSEST to its cluster centroid
    // survives (6-dp own-centroid cosine from the Lloyd assignment;
    // ties keep the lower id) — representativeness-keep where
    // dedup_semantic's min-id keep is arrival-order-keep.
    QueryDef("dedup_semantic_centroid", (s, dir) => semanticDedup(s, dir, "centroid"),
      // Standard-SemDeDup centroid keep over the same pair frame: the
      // pair member farther from its cluster centroid is dropped (6-dp
      // a20 cosine; ties drop vec_b, keeping the lower id).
      oracle = semanticDedupOracleSql("centroid")),

    // Exact dedup: hash-groupBy over a "re-crawled" corpus (documents ∪
    // documents with shifted ids) — every text appears ≥2×, so the
    // operator works against real duplicates, not a vacuous distinct.
    QueryDef("dedup_exact", (s, dir) =>
      Dedup.exact(recrawl(s, dir), "doc_id", "text"),
      oracle = s"""WITH $RecrawlCte
         |SELECT md5(text) AS text_hash, min(doc_id) AS canonical_doc_id,
         |       CAST(count(*) AS BIGINT) AS dup_count
         |FROM corpus GROUP BY 1""".stripMargin),

    // Paragraph-level dedup + reassembly: fixed-block "paragraphs" over
    // the re-crawled corpus keep only their first (lowest doc_id,
    // lowest position) occurrence; each doc is rebuilt from its
    // survivors in order — the sub-document pass that strips
    // cross-document boilerplate whole-doc dedup cannot see. The
    // re-crawl copy reduces to clean_text = "" (degrade, not drop).
    QueryDef("dedup_paragraph", (s, dir) =>
      Dedup.paragraphDedup(recrawl(s, dir), "doc_id", col("text"),
        Cfg.paraBlockTokens),
      // Paragraph dedup + reassembly: blocks of paraBlockTokens tokens,
      // first occurrence = row_number 1 over (doc_id, para_id) — the
      // window form of the plan's min(struct) aggregate; string_agg
      // skips the CASE's NULLs exactly like collect_list, and the empty
      // group coalesces to '' to match array_join.
      oracle = s"""WITH $RecrawlCte,
         |$paragraphCtesSql
         |SELECT doc_id, n_paras, n_kept, clean_text FROM pd""".stripMargin),

    // Bloom-filter membership screen for incremental dedup: the base
    // corpus compresses to a 65,536-bit filter (one bit_or aggregate,
    // n/8 bytes) that the probe side reads as a broadcast literal —
    // pure narrow map work, no join against the base. A batch doc
    // flagged maybe_in_base goes to exact verification; a clean miss
    // skips it (no false negatives by construction). The md5-derived
    // bits make even the false positives deterministic, so is_fp is an
    // oracle-checked MEASURED error rate, not a guess. Batch fixture:
    // re-crawl copies (true dups) + every 3rd doc mutated (novel).
    QueryDef("dedup_bloom", (s, dir) => {
      // isNotNull, like every dedup operator: a NULL text would
      // null-propagate through bloomMaybeContains while the oracle's
      // bool_and over unnested positions yields false — a latent
      // cross-engine mismatch the guard closes (mirrored in the oracle).
      val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .filter(col("text").isNotNull)
      val batch = base.select((col("doc_id") + 1000000).as("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" novel "), col("doc_id").cast("string")))
          .otherwise(col("text")).as("text"))
      // corpus-scaled filter: 128 bits per base doc (floored at the
      // 2048-word minimum) keeps the measured FP rate pinned at every
      // sf; the count is the build-time stat any bloom build has
      val words = Dedup.bloomBits(base, "text",
        Dedup.bloomWordsFor(base.count()))
      val exact = base.select(md5(col("text")).as("__h")).distinct()
        .withColumn("__in", lit(true))
      batch
        .select(col("doc_id"), md5(col("text")).as("__h"),
          Dedup.bloomMaybeContains(words, col("text")).as("maybe_in_base"))
        .join(exact, Seq("__h"), "left")
        .select(col("doc_id"), col("maybe_in_base"),
          coalesce(col("__in"), lit(false)).as("in_base"),
          (col("maybe_in_base") && col("__in").isNull).as("is_fp"))
    },
      // Bloom screen: same md5-slice bit positions re-derived relationally
      // (build = bit_or per 32-bit word; probe = every bit set via a
      // LEFT JOIN on word) — bit-for-bit the plan's literal-array probe.
      // Filter size scales with the base count exactly as
      // Dedup.bloomWordsFor: greatest(2048, 4·n) words, via the bn scalar.
      oracle = bloomOracleSql),

    // Sharded Bloom screen — the join-side form for the regime where the
    // literal-array filter can't exist (bloomWordsFor fail-fasts past
    // 2^31 words ≈ 500 M base docs): the bitmap is a (w, m) TABLE
    // hash-partitioned on the word index and the probe is an equi-join,
    // so filter size is bounded by cluster storage, not by a broadcast
    // literal. Verdicts are bit-identical to dedup_bloom at the same
    // size (same md5 positions; spec-asserted), so this runs the same
    // fixture and the same oracle shape.
    QueryDef("dedup_bloom_sharded", (s, dir) => {
      val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .filter(col("text").isNotNull)
      val batch = base.select((col("doc_id") + 1000000).as("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" novel "), col("doc_id").cast("string")))
          .otherwise(col("text")).as("text"))
      val nWords = math.max(Dedup.BloomWords.toLong, 4L * base.count())
      val filter = Dedup.bloomBitsFrame(base, "text", nWords)
      val exact = base.select(md5(col("text")).as("__h")).distinct()
        .withColumn("__in", lit(true))
      batch
        .select(col("doc_id"), md5(col("text")).as("__h"))
        .join(Dedup.bloomMaybeContainsJoin(batch, "doc_id", "text",
          filter, nWords), Seq("doc_id"))
        .join(exact, Seq("__h"), "left")
        .select(col("doc_id"), col("maybe_in_base"),
          coalesce(col("__in"), lit(false)).as("in_base"),
          (col("maybe_in_base") && col("__in").isNull).as("is_fp"))
    },
      // Identical result set to dedup_bloom by construction (the sharded
      // probe is verdict-identical at the same filter size); the oracle's
      // join-form build/probe is ALREADY the sharded shape, so it is the
      // natural oracle for both.
      oracle = bloomOracleSql),

    // MinHash+LSH near-dup: shingle → 12-seed minhash → 4 bands → bucket
    // join → exact-Jaccard verify ≥0.8. Candidates come ONLY from band
    // collisions (never all-pairs).
    QueryDef("dedup_minhash", (s, dir) => {
      val corpus = recrawl(s, dir)
      // lazily-checkpointed signatures shared by both band-join sides.
      // Deliberately NOT the fatter shingleFrame checkpoint: the 12
      // narrow minima store and rescan cheaply, while checkpointing the
      // full shingle arrays measured slower than the two narrow verify
      // re-derivations it would replace.
      val sig = Dedup.signatures(corpus, "doc_id", "text", Cfg.nSig)
        .localCheckpoint(eager = false)
      Dedup.minhashPairs(corpus, "doc_id", "text",
        numBands = Cfg.numBands, rowsPerBand = Cfg.rowsPerBand, threshold = Cfg.nearDupThreshold,
        maxBucket = Cfg.maxBucket, sigs = Some(sig))
    },
      oracle = minhashOracle(numBands = Cfg.numBands, rowsPerBand = Cfg.rowsPerBand, threshold = Cfg.nearDupThreshold,
      maxBucket = Some(Cfg.maxBucket))),

    // SimHash 32-bit fingerprints per document, in the explode + codegen
    // hash-aggregate form (identical bits to the fold-over-array form;
    // map-side combine keeps the shuffle at one row per doc).
    QueryDef("dedup_simhash", (s, dir) =>
      Dedup.simhashAgg(Tables.documents(s, dir), "doc_id", "text"),
      oracle = simhashOracle(32)),

    // SimHash near-dup pairs: 2×16-bit hamming bands → bucket join →
    // exact hamming ≤ 1 verify. Pigeonhole-sound: hamming ≤ 1 over 2
    // bands forces ≥ 1 identical band, so banding never misses a true
    // pair. 16-bit bands (not 8) because similar corpora concentrate
    // fingerprints — low-entropy narrow bands degenerate toward the
    // all-pairs join banding exists to avoid (measured 35× slower at
    // 8 bits on this corpus). Unlike minhash (50×8-byte shingle arrays
    // re-joined for verify), the 32-char fingerprint rides the band
    // explode directly — the payload is small enough that re-derivation
    // would cost more.
    // Exact substring-duplication spans (Lee et al. 2107.06499): every
    // 12-token sliding window hashed, corpus-repeated windows merged
    // into maximal per-doc spans. Fixture: shared boilerplate phrases
    // appended to every 3rd (17 tokens) and 5th (11 tokens) doc — the
    // cross-doc verbatim repetition the window pass must surface at
    // whatever offset it lands (the 11-token phrase alone is BELOW the
    // window, so it only surfaces on docs where it concatenates after
    // the 17-token one — an offset/boundary case the oracle pins).
    QueryDef("dedup_spans", (s, dir) => {
      val boiler = concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(
          " subscribe to our newsletter for the latest updates and follow us on all social media platforms today"))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit(
          " this article is for informational purposes only and not professional advice"))
          .otherwise(lit("")))
      Dedup.duplicateSpans(
        Tables.documents(s, dir).select(col("doc_id"), boiler.as("text")),
        "doc_id", col("text"), Cfg.spanWindowTokens)
    },
      // Window hashes re-derived relationally over the SAME token-value
      // construction; islands via the lag/sum gaps-and-islands idiom the
      // Spark side's per-doc window computes.
      oracle = {
        val w = Cfg.spanWindowTokens
        s"""WITH base AS (
           |  SELECT doc_id,
           |         text || CASE WHEN doc_id % 3 = 0 THEN ' subscribe to our newsletter for the latest updates and follow us on all social media platforms today' ELSE '' END
           |              || CASE WHEN doc_id % 5 = 0 THEN ' this article is for informational purposes only and not professional advice' ELSE '' END AS text
           |  FROM documents WHERE text IS NOT NULL),
           |toks AS (SELECT doc_id, $TokenValsSql AS tv FROM base),
           |wins AS (
           |  SELECT doc_id, p,
           |         md5(array_to_string(list_transform(tv[p : p+${w - 1}], x -> CAST(x AS VARCHAR)), '|')) AS whash
           |  FROM (SELECT doc_id, tv, unnest(generate_series(1, len(tv) - ${w - 1})) AS p
           |        FROM toks WHERE len(tv) >= $w) w0),
           |dup AS (SELECT whash FROM wins GROUP BY 1 HAVING count(*) >= 2),
           |hits AS (SELECT doc_id, p FROM wins JOIN dup USING (whash)),
           |isl AS (
           |  SELECT doc_id, p,
           |         sum(CASE WHEN prev IS NULL OR p > prev + ${w - 1} THEN 1 ELSE 0 END)
           |           OVER (PARTITION BY doc_id ORDER BY p) AS island
           |  FROM (SELECT doc_id, p, lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev FROM hits) h0),
           |spans AS (
           |  SELECT doc_id, island, count(*) AS nh, max(p) + ${w - 1} - min(p) + 1 AS len
           |  FROM isl GROUP BY 1, 2),
           |perdoc AS (
           |  SELECT doc_id, sum(nh) AS n_dup_windows, count(*) AS n_spans,
           |         sum(len) AS dup_tokens, max(len) AS max_span_tokens
           |  FROM spans GROUP BY 1)
           |SELECT t.doc_id,
           |       CAST(CASE WHEN len(t.tv) >= $w THEN len(t.tv) - $w + 1 ELSE 0 END AS BIGINT) AS n_windows,
           |       CAST(coalesce(p.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
           |       CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
           |       CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           |       CAST(coalesce(p.max_span_tokens, 0) AS BIGINT) AS max_span_tokens
           |FROM toks t LEFT JOIN perdoc p USING (doc_id)""".stripMargin
      }),

    QueryDef("dedup_simhash_pairs", (s, dir) => {
      val fp = Dedup.simhashAgg(Tables.documents(s, dir), "doc_id", "text")
      val banded = fp.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 2).map(b =>
          substring(col("simhash"), b * 16 + 1, 16)): _*)).as(Seq("band_id", "band_val")))
      val pairs = banded
        .select(col("doc_id").as("doc_a"), col("simhash").as("sh_a"),
          col("band_id"), col("band_val"))
        .join(banded.select(col("doc_id").as("doc_b"), col("simhash").as("sh_b"),
          col("band_id"), col("band_val")), Seq("band_id", "band_val"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b", "band_id")
      // verify BEFORE the distinct (the pair-dedup shuffle then carries
      // only survivors), and only on the NON-matched band: the matched
      // band contributes zero hamming, so the full-fingerprint distance
      // equals the other band's — parsed base-2 and popcounted
      // (bit_count∘xor), 3 codegen ops instead of 32 char compares.
      def otherBand(c: String) =
        when(col("band_id") === 0, substring(col(c), 17, 16))
          .otherwise(substring(col(c), 1, 16))
      val hamming = bit_count(
        conv(otherBand("sh_a"), 2, 10).cast("long")
          .bitwiseXOR(conv(otherBand("sh_b"), 2, 10).cast("long")))
      pairs.withColumn("hamming", hamming)
        .filter(col("hamming") <= 1)
        .dropDuplicates("doc_a", "doc_b")
        .select(col("doc_a"), col("doc_b"), col("hamming"))
    },
      oracle = (s"WITH fp AS (\n${simhashOracle(32)}),\n" +
        """banded AS (
          |  SELECT doc_id, simhash, band_id,
          |         substr(simhash, band_id * 16 + 1, 16) AS band_val
          |  FROM fp, (SELECT unnest(range(0, 2)) AS band_id)),
          |pairs AS (
          |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |         a.simhash AS sh_a, b.simhash AS sh_b
          |  FROM banded a JOIN banded b
          |    ON a.band_id = b.band_id AND a.band_val = b.band_val
          |   AND a.doc_id < b.doc_id)
          |SELECT doc_a, doc_b,
          |       CAST(len(list_filter(range(1, 33), i -> substr(sh_a, i, 1) <> substr(sh_b, i, 1))) AS INT) AS hamming
          |FROM pairs
          |WHERE len(list_filter(range(1, 33), i -> substr(sh_a, i, 1) <> substr(sh_b, i, 1))) <= 1""".stripMargin)),

    // N-gram Jaccard near-dup with (lang, source) bucketing: pairs are
    // generated only within buckets (bounded quadratic), similarity on
    // unigram token sets with the 3-gram shingle Jaccard alongside.
    QueryDef("dedup_ngram_jaccard", (s, dir) => {
      // token-hash representation (see Dedup.tokenValues): both jaccard
      // stages intersect long arrays, not strings; the two-step select
      // keeps the md5 transform in its own projection.
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"),
          Dedup.tokenValues(col("text")).as("tv"))
        // both arrays sorted ascending → verify intersections run on the
        // native allocation-free merge (SortedIntersectCount)
        .select(col("doc_id"), col("lang"), col("source"),
          array_sort(array_distinct(col("tv"))).as("tok"),
          Dedup.sortedShingleValuesFromTokens(col("tv")).as("sh"))
        // lazily checkpointed: both sides of the bucket self-join read
        // this frame — one tokenize+md5+sort pass instead of two
        .localCheckpoint(false)
      val a = docs.select(col("lang"), col("source"), col("doc_id").as("doc_a"),
        col("tok").as("tok_a"), col("sh").as("sh_a"))
      val b = docs.select(col("lang"), col("source"), col("doc_id").as("doc_b"),
        col("tok").as("tok_b"), col("sh").as("sh_b"))
      a.join(b, Seq("lang", "source"))
        .filter(col("doc_a") < col("doc_b"))
        // size-ratio prefilter (necessary condition for jaccard >= 0.5)
        // with 1e-4 slack so the bound stays pure pruning relative to the
        // 4-dp ROUNDED jaccard filtered on below (oracle has no prefilter).
        .filter(least(size(col("tok_a")), size(col("tok_b"))).cast("double") /
          greatest(size(col("tok_a")), size(col("tok_b"))) >= 0.5 - 1e-4)
        // |A∪B| = |A|+|B|-|A∩B| for the (distinct) arrays — one intersect
        // per pair instead of intersect + union. The 3-gram intersect
        // runs only on jac1 survivors (filter ordering); a two-pass
        // survivor-pruned variant benchmarked identical here and doubles
        // the bucket join, so single-pass wins.
        .withColumn("__i1", Dedup.intersectCount(s, col("tok_a"), col("tok_b")))
        .withColumn("jaccard_1gram", Rounding.stable(
          col("__i1").cast("double") /
            (size(col("tok_a")) + size(col("tok_b")) - col("__i1")), 4))
        .filter(col("jaccard_1gram") >= 0.5)
        .withColumn("__i3", Dedup.intersectCount(s, col("sh_a"), col("sh_b")))
        .withColumn("jaccard_3gram", Rounding.stable(
          col("__i3").cast("double") /
            (size(col("sh_a")) + size(col("sh_b")) - col("__i3")), 4))
        .select(col("lang"), col("source"), col("doc_a"), col("doc_b"),
          col("jaccard_1gram"), col("jaccard_3gram"))
    },
      oracle = s"""WITH tvals AS (
         |  SELECT doc_id, lang, source, $TokenValsSql AS tv
         |  FROM documents),
         |d AS (
         |  SELECT doc_id, lang, source,
         |         list_distinct(tv) AS tok,
         |         $ShingleValsSql AS sh
         |  FROM tvals)
        |SELECT a.lang, a.source, a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       round((len(list_intersect(a.tok, b.tok))::DOUBLE / len(list_distinct(a.tok || b.tok))) * 10000) / 10000 AS jaccard_1gram,
        |       round((len(list_intersect(a.sh, b.sh))::DOUBLE / len(list_distinct(a.sh || b.sh))) * 10000) / 10000 AS jaccard_3gram
        |FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |WHERE round((len(list_intersect(a.tok, b.tok))::DOUBLE / len(list_distinct(a.tok || b.tok))) * 10000) / 10000 >= 0.5""".stripMargin),

    // Asymmetric containment near-dup over an inverted shingle index —
    // the quote/boilerplate detector symmetric Jaccard structurally
    // misses (an excerpt inside a long doc has J ≈ |a|/|b| ≈ 0, so no
    // band ever collides). Candidates are docs sharing any indexed
    // shingle, with ubiquitous shingles df-capped OUT of the index (the
    // same quadratic guard as the LSH hot-bucket cap); exact containment
    // then verifies on sorted-array intersects.
    QueryDef("dedup_containment", (s, dir) =>
      Dedup.containmentPairs(s, Tables.documents(s, dir), "doc_id", "text",
        Cfg.containmentDfCap, Cfg.containmentThreshold),
      // Same shingle construction as the plan; the df cap filters the
      // posting list identically (count over the shingle key), and the
      // containment ratio divides by the A side's shingle count only —
      // the relation is asymmetric and both directions report.
      oracle = s"""WITH tvals AS (
         |  SELECT doc_id, $TokenValsSql AS tv FROM documents),
         |d AS (
         |  SELECT doc_id, $ShingleValsSql AS sh FROM tvals),
         |post AS (
         |  SELECT doc_id, g FROM (
         |    SELECT doc_id, g, count(*) OVER (PARTITION BY g) AS df
         |    FROM (SELECT doc_id, unnest(sh) AS g FROM d) p0)
         |  WHERE df <= ${Cfg.containmentDfCap}),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM post a JOIN post b ON a.g = b.g AND a.doc_id <> b.doc_id)
         |SELECT cand.doc_a, cand.doc_b,
         |       ${Rounding.stableSql("len(list_intersect(da.sh, db.sh))::DOUBLE / len(da.sh)", 4)} AS containment
         |FROM cand JOIN d da ON da.doc_id = cand.doc_a
         |          JOIN d db ON db.doc_id = cand.doc_b
         |WHERE ${Rounding.stableSql("len(list_intersect(da.sh, db.sh))::DOUBLE / len(da.sh)", 4)} >= ${Cfg.containmentThreshold}""".stripMargin),

    // Signature-quality measurement: the minhash analog of
    // sim_lsh_recall — for every verified near-dup pair, the fraction of
    // agreeing signature minima (the estimator banding actually acts on)
    // next to the exact Jaccard, plus the absolute error. The number
    // that justifies the (bands × rows) budget before scaling it to a
    // corpus.
    QueryDef("dedup_minhash_est", (s, dir) => {
      val corpus = recrawl(s, dir)
      // ONE signature computation feeds banding AND both estimate
      // sides: Spark recomputes a shared unpersisted subtree once per
      // consumer, so without the checkpoint the tokenize+md5+agg
      // pipeline would run 3× (it was this query's whole cost — 6.0 s
      // → 1.7 s solo). LAZY (eager = false): the checkpoint converts
      // the frame to one shared RDD that materializes on the query's
      // FIRST job — an eager one would run a full Spark job at
      // DataFrame-CONSTRUCTION time, making plan-only consumers
      // (graft.Explain) pay the whole computation just to print a
      // plan. The checkpointed frame is |docs| rows × 12 longs — at
      // 100 TB exactly the signature table an ingest job persists.
      val sig = Dedup.signatures(corpus, "doc_id", "text", Cfg.nSig)
        .localCheckpoint(eager = false)
      val pairs = Dedup.minhashPairs(corpus, "doc_id", "text",
          numBands = Cfg.numBands, rowsPerBand = Cfg.rowsPerBand, threshold = Cfg.nearDupThreshold,
          maxBucket = Cfg.maxBucket, sigs = Some(sig))
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
      val sa = sig.toDF(sig.columns.toIndexedSeq.map(c =>
        if (c == "id") "doc_a" else s"a_$c"): _*)
      val sb = sig.toDF(sig.columns.toIndexedSeq.map(c =>
        if (c == "id") "doc_b" else s"b_$c"): _*)
      val matches = (0 until Cfg.nSig).map(k =>
        when(col(s"a_sig_$k") === col(s"b_sig_$k"), 1).otherwise(0))
        .reduce(_ + _)
      pairs.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
        .withColumn("est_jaccard",
          Rounding.stable(matches.cast("double") / lit(Cfg.nSig.toDouble), 4))
        .withColumn("abs_err",
          Rounding.stable(abs(col("est_jaccard") - col("jaccard")), 4))
        .select("doc_a", "doc_b", "jaccard", "est_jaccard", "abs_err")
    },
      oracle = (s"WITH ${minhashCtes(Cfg.numBands, Cfg.rowsPerBand, "a.doc_id < b.doc_id", "doc_a", "doc_b",
        Some(Cfg.maxBucket))},\n" +
        s"""verified AS (
           |  SELECT doc_a, doc_b, $MinhashJaccardSql AS jaccard
           |  FROM pairs JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b
           |  WHERE $MinhashJaccardSql >= 0.8),
           |est AS (
           |  SELECT v.doc_a, v.doc_b, v.jaccard,
           |         ${Rounding.stableSql(
                        "(" + (0 until Cfg.nSig).map(k =>
                          s"(CASE WHEN a.sig_$k = b.sig_$k THEN 1 ELSE 0 END)")
                          .mkString(" + ") + s")::DOUBLE / ${Cfg.nSig}.0", 4)} AS est_jaccard
           |  FROM verified v JOIN sig a ON a.doc_id = v.doc_a JOIN sig b ON b.doc_id = v.doc_b)
           |SELECT doc_a, doc_b, jaccard, est_jaccard,
           |       ${Rounding.stableSql("abs(est_jaccard - jaccard)", 4)} AS abs_err
           |FROM est""".stripMargin)),

    // Incremental cluster labeling: the new batch (re-crawled copy,
    // ids +1M) is labeled against the already-canonical base — seeds
    // from batch↔base collisions, min-label propagation over
    // batch-internal edges only. Per-ingest cost tracks the batch, not
    // history (see Dedup.incrementalClusters).
    QueryDef("dedup_clusters_incremental", (s, dir) => {
      val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val batch = base.withColumn("doc_id", col("doc_id") + 1000000)
      // ONE lazily-checkpointed shingle pass per corpus side, shared by
      // the cross pairs (banding + verify) AND the batch-internal pairs
      // (whose signatures derive from the same batch frame)
      // EAGER (r22): banding + verify consumers of each side sit on
      // the broadcast pool and raced the lazy blocks (JobProfile: two
      // 8-task stages with run ~3.9/3.3 s vs cpu ~0.4 s, pure blocking)
      val batchSh = Dedup.shingleFrame(batch, "doc_id", "text")
        .localCheckpoint(true)
      val baseSh = Dedup.shingleFrame(base, "doc_id", "text")
        .localCheckpoint(true)
      val cross = Dedup.minhashPairsBetween(batch, base, "doc_id", "text",
          numBands = Cfg.numBands, rowsPerBand = Cfg.rowsPerBand, threshold = Cfg.nearDupThreshold,
          newSh = Some(batchSh), baseSh = Some(baseSh))
        .select(col("doc_new").as("new_id"), col("doc_base").as("base_id"))
      // cap disabled: this query's oracle states base+batch banding
      // JOINTLY (one CTE chain), where a per-side hot-bucket count
      // cannot be mirrored; at scale the cap lives in the precomputed
      // banded table both sides read (Dedup.minhashPairsBetween doc)
      // the batch frame is already checkpointed for the cross path, so
      // the inner pairs read it for BOTH banding (via a checkpointed
      // 12-minima aggregate — the band self-join reads it twice) and
      // the verify joins, instead of re-tokenizing the batch
      val inner = Dedup.minhashPairs(batch, "doc_id", "text",
          numBands = Cfg.numBands, rowsPerBand = Cfg.rowsPerBand, threshold = Cfg.nearDupThreshold,
          maxBucket = Int.MaxValue,
          sigs = Some(Dedup.signaturesFromShingles(batchSh, Cfg.nSig)
            .localCheckpoint(true)),
          sh = Some(batchSh))
        .select(col("doc_a"), col("doc_b"))
      Dedup.incrementalClusters(
          base.select(col("doc_id").as("id"), col("doc_id").as("label")),
          batch.select(col("doc_id").as("id")), cross, inner)
        .select(col("id").as("doc_id"), col("label"))
    },
      // Incremental labeling semantics: seeds = min(own id, min base
      // neighbor) over batch↔base edges (doc_a < 1M is always the base
      // side of a cross pair), then the walk propagates seeds over
      // batch-internal edges only — base labels are frozen.
      oracle = (s"WITH RECURSIVE ${minhashCtes(Cfg.numBands, Cfg.rowsPerBand, "a.doc_id < b.doc_id", "doc_a", "doc_b")},\n" +
        s"""verified AS (
           |  SELECT doc_a, doc_b
           |  FROM pairs JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b
           |  WHERE $MinhashJaccardSql >= 0.8),
           |seeds AS (
           |  SELECT n.doc_id, least(n.doc_id, coalesce(min(v.doc_a), n.doc_id)) AS seed
           |  FROM (SELECT doc_id FROM corpus WHERE doc_id >= 1000000) n
           |  LEFT JOIN verified v ON v.doc_b = n.doc_id AND v.doc_a < 1000000
           |  GROUP BY n.doc_id),
           |nn AS (
           |  SELECT doc_a AS a, doc_b AS b FROM verified WHERE doc_a >= 1000000
           |  UNION ALL SELECT doc_b, doc_a FROM verified WHERE doc_a >= 1000000),
           |walk(node, lab) AS (
           |  SELECT doc_id, seed FROM seeds
           |  UNION
           |  SELECT e.b, w.lab FROM walk w JOIN nn e ON e.a = w.node)
           |SELECT node AS doc_id, CAST(min(lab) AS BIGINT) AS label
           |FROM walk GROUP BY node""".stripMargin))
  )
}
