package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._
import graft.queries.Shared._

/** The curation flagships e3–e7: end-to-end corpus curation composed
  * from the dedup, text-analysis and mixing operators.
  */
private[graft] object CurationQueries {

  private val Cfg = PipelineConfig.Default

  val defs: Seq[QueryDef] = Seq(

    // E3 — the LLM-pillar flagship: the training-data curation DAG over a
    // re-crawled corpus as ONE composed plan — exact-dedup to canonical
    // docs (hash groupBy + hash join, the only shuffles), quality scoring
    // and token-count bounds as narrow maps, curated rows out. The
    // composition mirrors how e1 composes the reference's market surface.
    QueryDef("e3_curation", (s, dir) => {
      val corpus = recrawl(s, dir)
      val canon = Dedup.exact(corpus, "doc_id", "text")
        .select(col("text_hash"), col("canonical_doc_id"))
      val q = TextAnalysis.qualityColumns(col("text")).toMap
      corpus
        .withColumn("text_hash", md5(col("text")))
        .join(canon, Seq("text_hash"))
        .filter(col("doc_id") === col("canonical_doc_id"))
        .select(col("doc_id"),
          q("n_tokens").as("n_tokens"),
          q("avg_token_len").as("avg_token_len"),
          q("quality").as("quality"),
          TextAnalysis.whitespaceTokenCount(col("text")).as("ws_tokens"))
        .filter(col("quality") >= Cfg.qualityMin &&
          col("ws_tokens").between(Cfg.minWsTokens, Cfg.maxWsTokens))
    },
      oracle = (s"""WITH $RecrawlCte,
         |t AS (
         |${qualityCteSql("corpus")}),
         |canon AS (SELECT md5(text) AS h, min(doc_id) AS cid FROM corpus GROUP BY 1)
         |SELECT t.doc_id, n_tokens,
         |       round((content_chars / n_tokens) * 10000) / 10000 AS avg_token_len,
         |""".stripMargin +
        s"       $QualitySql AS quality,\n" +
        s"       $WsTokensSql AS ws_tokens\n" +
        "FROM t JOIN canon ON md5(t.text) = canon.h AND t.doc_id = canon.cid\n" +
        s"WHERE $QualitySql >= ${Cfg.qualityMin} AND $WsTokensSql BETWEEN ${Cfg.minWsTokens} AND ${Cfg.maxWsTokens}")),

    // E4 — the FULL LLM-curation pipeline as one DAG: near-dup pair
    // generation (banded minhash) → transitive duplicate clusters →
    // keep one canonical doc per cluster → benchmark decontamination
    // (drop docs sharing any word-3-gram with the eval slice) →
    // deterministic 50% content-keyed sample → quality gate → per-
    // language corpus profile. Every stage is the already-oracle-
    // checked operator; this query proves they COMPOSE — the
    // row-drop-vs-degrade interactions between stages are exactly what
    // only breaks in composition (same reason e1 exists for the
    // reference pipeline).
    QueryDef("e4_curation_full", (s, dir) => {
      val corpus = recrawl(s, dir)
      // EXACT-CANONICAL-FIRST staging (r13 applied it to containment;
      // r14 extends it to minhash): identical texts carry identical
      // shingle sets, so every near-dup relation among copies is implied
      // by the relation between their exact canonicals plus a star of
      // copy→canonical edges from the md5 groups. ALL expensive pair
      // generation (tokenize, signatures, band join, posting join,
      // verify intersects) therefore runs over |distinct texts|, not the
      // re-crawled corpus — at 100 TB, where re-crawl duplication is
      // routinely 2-5×, exact-dedup-before-near-dup is the only sane
      // staging, and the hot-bucket/df caps read TRUE text frequencies
      // instead of crawl-copy-inflated ones. The oracle states the same
      // canonical-domain spec (sig/banded over exc, copyedges unioned).
      // canonDocs feeds FOUR subtrees (signatures, both minhash verify
      // sides, the containment index) — checkpoint the (id, text) frame
      // once instead of re-deriving it per consumer. The canonical per
      // md5 group is ONE min-struct aggregate (the dedup_paragraph
      // pattern): doc_id leads the struct so min picks the lowest id,
      // and the map-side combine keeps one candidate per hash per
      // partition — versus the r13 shape (hash groupBy → canonical-id
      // join back onto the corpus), one exchange instead of two plus a
      // join.
      // FANNED before the checkpoint (r22): every canonical-domain
      // kernel downstream (the signature shingling, the containment
      // tokenize+sort, the decontam shingle side) reads these blocks,
      // and the agg's tiny-byte output AQE-coalesces to 1-2 partitions
      // — JobProfile showed a 2-task 2.0 s-CPU kernel stage riding the
      // checkpoint (Fan.out's plan-time gauge on the agg reads the
      // static 32 shuffle partitions and stays a no-op, so the spread
      // must happen HERE, gauged on the scan). EAGER: five consumer
      // subtrees (several of them broadcast-pool jobs) otherwise race
      // to compute the same blocks — at 32 cores the verify stage read
      // run 22.5 s vs cpu 9.9 s, tasks blocked on the block-compute
      // lock; the suite's 32-core e4 inversion (16.0 s vs 6.8 s at 8
      // cores, PERF r21) is the cold-JVM face of the same race.
      // … and the MAP side fans too: the md5 + partial-min + shuffle
      // write of full-text structs otherwise rides the 2-split recrawl
      // scan (JobProfile r22: a 2-task ~1.8 s-CPU stage, ~1 s of wall).
      val canonDocs = Fan.outLike(Fan.out(corpus)
        .select(md5(col("text")).as("__h"),
          struct(col("doc_id"), col("text")).as("__s"))
        .groupBy(col("__h")).agg(min(col("__s")).as("__s"))
        .select(col("__s.doc_id").as("doc_id"), col("__s.text").as("text")),
        Tables.documents(s, dir))
        .localCheckpoint(eager = true)
      // ONE tokenize+md5+sort shingle pass over the canonical texts
      // (r22), shared by the signature build, BOTH minhash verify
      // sides, and the whole containment plane (postings + verify) —
      // the unshared form re-ran the per-token kernel ~5× (guide §2.3:
      // don't recompute what one pass provides). SORTED so both verify
      // stages run the native codegen'd merge intersect instead of the
      // hash-based builtin (identical |A∩B| on distinct arrays). Eager,
      // like canonDocs: the consumer subtrees sit on the broadcast pool
      // and must read blocks instead of racing to compute them. r21's
      // "sigs, not the fatter shingleFrame" note predates the fanned
      // 8-block canonical layout these blocks now inherit.
      val shingled = Dedup.shingleFrame(canonDocs, "doc_id", "text")
        .select(col("id"), array_sort(col("sh")).as("sh"))
        .localCheckpoint(eager = true)
      val sig = Dedup.signaturesFromShingles(shingled, Cfg.nSig)
        .localCheckpoint(eager = true)
      val pairs = Dedup.minhashPairs(canonDocs, "doc_id", "text",
          numBands = Cfg.numBands, rowsPerBand = Cfg.rowsPerBand, threshold = Cfg.nearDupThreshold,
          maxBucket = Cfg.maxBucket, sigs = Some(sig), sh = Some(shingled),
          fanGauge = Some(Tables.documents(s, dir)), shSorted = true)
        .select(col("doc_a"), col("doc_b"))
      // excerpt-in-long-doc duplicates have J ≈ |a|/|b| ≈ 0, so no band
      // ever collides and a minhash-only closure lets them survive
      // curation — union the asymmetric containment pairs as edges
      // (duplicateClusters symmetrizes), so the excerpt collapses into
      // its source's cluster.
      val nearEdges = if (Cfg.curationContainmentEdges) {
        pairs.unionByName(
          Dedup.containmentPairs(s, canonDocs, "doc_id", "text",
            Cfg.containmentDfCap, Cfg.containmentThreshold,
            sh = Some(shingled), fanGauge = Some(Tables.documents(s, dir)))
          .select(col("doc_a"), col("doc_b")))
      } else pairs
      // The closure runs over CANONICAL nodes and near-dup edges only —
      // copies never enter the loop at all: a copy's id is strictly
      // greater than its canonical's (cid = min of the md5 group), so a
      // copy can never be a component minimum and the survivor set
      // {id == label} is identical with or without the copy→canonical
      // star edges. The oracle states the full-corpus closure WITH
      // copyedges; both yield the same canonical survivors. At 100 TB
      // this keeps the iterated label table at |distinct texts|, not
      // |crawl|.
      val clusters = Dedup.duplicateClusters(
        canonDocs.select(col("doc_id").as("id")), nearEdges)
      // canonical is consumed TWICE (the decontam shingle side and the
      // final quality chain) and sits downstream of the whole
      // pair-generation + propagation closure — without a checkpoint
      // the second consumer re-runs that closure end-to-end (measured
      // 22 s of the query's 21 s solo total at sf0.1; with it the tail
      // is ~4 s). Lazy, like the sig checkpoint above: materializes on
      // first use, no extra action. Survivors are canonical ids, so the
      // text join reads the cached canonDocs, not the corpus again.
      // EAGER (r22, same rationale as canonDocs): the decontam side is
      // evaluated inside the left_anti's broadcast-pool job while the
      // survivor chain probes — lazy blocks let the two race.
      // FANNED like canonDocs (the survivor join's tiny-byte output
      // AQE-coalesces to ~2 blocks, and the decontam shingle kernel —
      // JobProfile: a 2-task 2.0 s-CPU stage, 1.1 s of wall — plus the
      // final quality chain read these blocks).
      val canonical = Fan.outLike(canonDocs.join(
        clusters.filter(col("id") === col("label"))
          .select(col("id").as("doc_id")), Seq("doc_id")),
        Tables.documents(s, dir))
        .localCheckpoint(eager = true)
      val sh = canonical
        .select(col("doc_id"), Dedup.tokenValues(col("text")).as("tv"))
        .select(col("doc_id"), Dedup.shingleValuesFromTokens(col("tv")).as("sh"))
      // no distinct on either side: `contaminated` only ever feeds the
      // left_anti below, and an anti-join's result is unaffected by
      // duplicate build-side rows — both distincts were pure exchange
      // cost (the oracle's `cont` CTE keeps DISTINCT; result-equivalent)
      val benchG = Tables.documents(s, dir).filter(col("doc_id") < 20)
        .select(Dedup.tokenValues(col("text")).as("tv"))
        .select(Dedup.shingleValuesFromTokens(col("tv")).as("sh"))
        .select(explode(col("sh")).as("g"))
      val contaminated = sh.select(col("doc_id"), explode(col("sh")).as("g"))
        .join(broadcast(benchG), Seq("g"))
        .select("doc_id")
      val q = TextAnalysis.qualityColumns(col("text")).toMap
      // the quality/token kernels below otherwise run on the anti-join
      // output AQE coalesced to ~1 partition (profiled 1.3 s single-task
      // at sf0.1); gauge = the raw scan (identity at scale, see Fan)
      Fan.outLike(
          canonical.join(contaminated, Seq("doc_id"), "left_anti")
            .join(Tables.documents(s, dir)
                .select(col("doc_id").as("orig_id"), col("lang")),
              pmod(col("doc_id"), lit(1000000L)) === col("orig_id"))
            .filter(Sampling.deterministicKeep(col("doc_id"), 50)),
          Tables.documents(s, dir))
        .select(col("doc_id"), col("lang"), q("quality").as("quality"),
          TextAnalysis.whitespaceTokenCount(col("text")).as("ws_tokens"))
        .filter(col("quality") >= Cfg.qualityMin)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws_tokens")).cast("long").as("total_tokens"))
    },
      oracle = (s"WITH RECURSIVE ${minhashCtes(Cfg.numBands, Cfg.rowsPerBand, "a.doc_id < b.doc_id", "doc_a", "doc_b",
        Some(Cfg.maxBucket), canonicalDomain = true)},\n" +
        s"""verified AS (
           |  SELECT doc_a, doc_b
           |  FROM pairs JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b
           |  WHERE $MinhashJaccardSql >= 0.8),
           |copyedges AS (SELECT cid AS doc_a, doc_id AS doc_b FROM em WHERE doc_id <> cid),${if (Cfg.curationContainmentEdges) s"""
           |c_canon AS (SELECT cid AS doc_id FROM exc),
           |c_sh AS (SELECT sh.doc_id, sh.sh FROM sh JOIN c_canon USING (doc_id)),
           |c_post AS (
           |  SELECT doc_id, g FROM (
           |    SELECT doc_id, g, count(*) OVER (PARTITION BY g) AS df
           |    FROM (SELECT doc_id, unnest(sh) AS g FROM c_sh) p0)
           |  WHERE df <= ${Cfg.containmentDfCap}),
           |c_cand AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM c_post a JOIN c_post b ON a.g = b.g AND a.doc_id <> b.doc_id),
           |c_pairs AS (
           |  SELECT c_cand.doc_a, c_cand.doc_b
           |  FROM c_cand JOIN sh da ON da.doc_id = c_cand.doc_a
           |              JOIN sh db ON db.doc_id = c_cand.doc_b
           |  WHERE ${Rounding.stableSql(
               "len(list_intersect(da.sh, db.sh))::DOUBLE / len(da.sh)", 4)} >= ${Cfg.containmentThreshold}),
           |alledges AS (SELECT doc_a, doc_b FROM verified
           |             UNION SELECT doc_a, doc_b FROM c_pairs
           |             UNION SELECT doc_a, doc_b FROM copyedges),""" else """
           |alledges AS (SELECT doc_a, doc_b FROM verified
           |             UNION SELECT doc_a, doc_b FROM copyedges),"""}
           |nodes AS (SELECT DISTINCT doc_id FROM corpus),
           |edges AS (
           |  SELECT doc_a AS a, doc_b AS b FROM alledges
           |  UNION ALL SELECT doc_b, doc_a FROM alledges),
           |walk(node, lab) AS (
           |  SELECT doc_id, doc_id FROM nodes
           |  UNION
           |  SELECT e.b, w.lab FROM walk w JOIN edges e ON e.a = w.node),
           |clusters AS (SELECT node AS doc_id, min(lab) AS label FROM walk GROUP BY node),
           |canonical AS (
           |  SELECT c.doc_id, c.text FROM corpus c
           |  JOIN clusters cl ON cl.doc_id = c.doc_id AND cl.label = c.doc_id),
           |bench_g AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id < 20),
           |cont AS (
           |  SELECT DISTINCT u.doc_id
           |  FROM (SELECT doc_id, unnest(sh) AS g FROM sh) u JOIN bench_g USING (g)),
           |clean AS (
           |  SELECT c.doc_id, c.text FROM canonical c
           |  WHERE NOT EXISTS (SELECT 1 FROM cont x WHERE x.doc_id = c.doc_id)),
           |ql AS (
           |${qualityCteSql("clean")})
           |""".stripMargin +
        s"""SELECT lang, count(*) AS n_docs, CAST(sum(ws) AS BIGINT) AS total_tokens
           |FROM (
           |  SELECT t.doc_id, d.lang, $WsTokensSql AS ws
           |  FROM ql t JOIN (SELECT doc_id AS orig_id, lang FROM documents) d
           |    ON d.orig_id = t.doc_id % 1000000
           |  WHERE ${graft.operators.Sampling.keepSql("t.doc_id", 50)}
           |    AND $QualitySql >= ${Cfg.qualityMin})
           |GROUP BY lang""".stripMargin)),

    // E5 — the round-5 flagship: the post-dedup quality gate as ONE DAG.
    // Repetition screen (Gopher-style boilerplate drop) ∩ linear quality
    // gate, then each surviving doc is tagged with its top TF-IDF term —
    // the "keep + label" step between dedup (e3/e4) and training-set
    // assembly. All three branches partition by doc id, the vocabulary
    // dims broadcast, so the composition adds no exchange beyond its
    // parts.
    QueryDef("e5_quality_gate", (s, dir) => {
      // fanned (r22): three CPU-dense kernels (repetition, quality,
      // tfidf) each ride this byte-small 1-split scan — JobProfile read
      // them as single-task 170-830 ms stages (identity at scale, Fan)
      val docs = Fan.out(Tables.documents(s, dir))
      val keepRep = TextAnalysis.repetition(docs, "doc_id", "text")
        .filter(!col("repetitive")).select("doc_id")
      val q = TextAnalysis.qualityColumns(col("text")).toMap
      val gated = docs
        .select(col("doc_id"), col("lang"), q("quality").as("quality"))
        .filter(col("quality") >= Cfg.qualityMin)
      val kw = TextAnalysis.tfidf(docs, "doc_id", "text", 1)
        .select(col("doc_id"), col("token").as("keyword"),
          col("tfidf").as("keyword_tfidf"))
      gated.join(keepRep, Seq("doc_id")).join(kw, Seq("doc_id"))
    },
      oracle = (s"""WITH t AS (
         |${qualityCteSql("documents")}),
         |q AS (SELECT doc_id, $QualitySql AS quality FROM t
         |      WHERE $QualitySql >= ${Cfg.qualityMin}),
         |""".stripMargin +
        s"${tokenCountCtes("documents")},\n$BigramCtes,\n" +
        s"""rep AS (
           |  SELECT toka.doc_id FROM toka LEFT JOIN bga USING (doc_id)
           |  WHERE NOT $RepFlagSql),
           |""".stripMargin +
        s"${tfidfScoreCtes("documents")},\n" +
        """kw AS (
          |  SELECT doc_id, w AS keyword, tfidf AS keyword_tfidf
          |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, w ASC) AS rnk FROM tfsc)
          |  WHERE rnk = 1)
          |SELECT q.doc_id, d.lang, q.quality, kw.keyword, kw.keyword_tfidf
          |FROM q JOIN rep USING (doc_id) JOIN kw USING (doc_id)
          |JOIN documents d ON d.doc_id = q.doc_id""".stripMargin)),

    // E6 — the pretraining-corpus flagship: the round-12 stages chained
    // in ONE DAG the way a real data-engineering run would — (1)
    // paragraph-level dedup over the re-crawl (fully-duplicate docs
    // degrade to n_kept=0 and drop), (2) PII inject (fixture) + scrub
    // on the REASSEMBLED text, (3) hashed-classifier quality gate on
    // the scrubbed text, (4) language metadata join, (5) fixed-
    // token-budget shard layout per language. Narrow stages fuse; the
    // only shuffles are paragraph dedup's three, the lang join, and the
    // two-phase pack.
    QueryDef("e6_pretrain_corpus", (s, dir) => {
      // Fan.out after the paragraph-dedup aggregate: AQE coalesces the
      // agg's tiny-byte output to one partition, serializing the pii
      // regex + classifier chain below (profiled 1.2 s single-task at
      // sf0.1); at scale the agg output already carries >= target
      // partitions and this is the identity
      val corpus = recrawl(s, dir)
      val deduped = Fan.outLike(
        Dedup.paragraphDedup(corpus, "doc_id",
            col("text"), Cfg.paraBlockTokens)
          .filter(col("n_kept") > 0), corpus)
      val injected = piiInject(col("clean_text"))
      val scrubbed = deduped.select(
        col("doc_id") +: col("n_paras") +: col("n_kept") +:
          (TextAnalysis.piiCounts(injected).map { case (n, c) => c.as(n) } :+
            TextAnalysis.piiRedact(injected).as("clean_text")): _*)
      val clf = TextAnalysis.clfColumns(col("clean_text"), Cfg.clfThreshold).toMap
      val gated = scrubbed
        .withColumn("n_tokens", clf("n_tokens"))
        .withColumn("clf_score", clf("clf_score"))
        .filter(clf("clf_keep"))
      // checkpoint the curated corpus before the layout pass (r22):
      // packShards reads its input TWICE (the phase-1 totals — evaluated
      // inside the offsets BROADCAST subplan — and the phase-2 join),
      // and paragraphDedup's internal first-occurrence join already
      // evaluates the paragraph plane twice per read, so the un-staged
      // query ran the dedup+PII+clf chain ~4× (JobProfile: two
      // single-task ~1 s broadcast stages + twin 8-task ~2.2 s-run main
      // stages; the r21 plan's 20 parquet scans). One eager
      // materialization — the "write curated corpus, then lay out"
      // staging a real pipeline has anyway — leaves each phase a block
      // read. Guide §3.3 (materialize to truncate repeated subplans).
      val withLang = gated.join(
        Tables.documents(s, dir).select(col("doc_id"), col("lang")), Seq("doc_id"))
        .localCheckpoint(eager = true)
      Packing.packShards(withLang, part = "lang", orderCol = "doc_id",
        weight = col("n_tokens"), budget = Cfg.e6ShardBudget,
        bucketSize = Cfg.shardBucketSize)
    },
      // E6 pretraining-corpus flagship: the SQL spec chains the SAME
      // shared CTE helpers the per-stage oracles use — paragraph dedup
      // (paragraphCtesSql), PII inject+scrub (piiInjectSql + the ta_pii
      // chain), the classifier gate (clfCtesSql over the scrubbed text),
      // lang metadata, then packShardsSql's one-window layout spec.
      oracle = {
        val Seq((_, emailPat, _), (_, phonePat, _), (_, ipPat, _)) =
          TextAnalysis.PiiPatterns
        s"""WITH $RecrawlCte,
           |$paragraphCtesSql,
           |pk AS (SELECT * FROM pd WHERE n_kept > 0),
           |inj AS (SELECT doc_id, n_paras, n_kept, ${piiInjectSql("clean_text")} AS t FROM pk),
           |r1 AS (SELECT *, regexp_replace(t, '$emailPat', '<EMAIL>', 'g') AS t1 FROM inj),
           |r2 AS (SELECT *, regexp_replace(t1, '$phonePat', '<PHONE>', 'g') AS t2 FROM r1),
           |scr AS (
           |  SELECT doc_id, n_paras, n_kept,
           |         CAST(len(regexp_extract_all(t,  '$emailPat')) AS INT) AS n_email,
           |         CAST(len(regexp_extract_all(t1, '$phonePat')) AS INT) AS n_phone,
           |         CAST(len(regexp_extract_all(t2, '$ipPat')) AS INT) AS n_ipv4,
           |         regexp_replace(t2, '$ipPat', '<IPV4>', 'g') AS clean_text
           |  FROM r2),
           |${clfCtesSql("scr", "clean_text",
               "n_paras, n_kept, n_email, n_phone, n_ipv4, clean_text")},
           |gate AS (SELECT * FROM tcl WHERE clf_score >= ${Cfg.clfThreshold}),
           |met AS (SELECT g.*, d.lang FROM gate g JOIN documents d USING (doc_id))
           |""".stripMargin +
          graft.operators.Packing.packShardsSql("met", "lang", "doc_id",
            "n_tokens", budget = Cfg.e6ShardBudget,
            selectCols = "doc_id, lang, n_paras, n_kept, n_email, n_phone, n_ipv4, n_tokens, clf_score, clean_text")
      }),

    // E7 — the training-mix assembly flagship (the round-15 stages in
    // ONE DAG): (1) SoftDeDup weights over the re-crawl's minhash
    // closure (duplicates reweighted 1/|cluster|, never dropped),
    // (2) heuristic quality gate, (3) power-of-two length-bucket tag
    // for batch assembly, (4) deterministic epoch-shuffle layout over
    // the SURVIVORS — the (weight, quality, bucket, shard slot) tuple a
    // training job consumes per document. The closure is the bounded
    // label-propagation loop; everything downstream is one quality
    // projection, one id-keyed join, and the two-phase shuffle rank.
    QueryDef("e7_training_mix", (s, dir) => {
      val corpus = recrawl(s, dir)
      val sig = Dedup.signatures(corpus, "doc_id", "text", Cfg.nSig)
        .localCheckpoint(eager = false)
      val pairs = Dedup.minhashPairs(corpus, "doc_id", "text",
          numBands = Cfg.numBands, rowsPerBand = Cfg.rowsPerBand,
          threshold = Cfg.nearDupThreshold,
          maxBucket = Cfg.maxBucket, sigs = Some(sig))
        .select(col("doc_a"), col("doc_b"))
      val sw = Dedup.softWeights(corpus.select(col("doc_id").as("id")), pairs)
        .select(col("id").as("doc_id"), col("cluster_size"), col("weight"))
      val q = TextAnalysis.qualityColumns(col("text")).toMap
      val n = size(split(col("text"), " "))
      val bits = when(n <= 1, lit(0))
        .otherwise(length(bin((n - 1).cast("long")))).cast("long")
      // fanned out before the quality kernel (the tokenize-heavy
      // scoring otherwise rides the 2-split recrawl scan), and
      // checkpointed BETWEEN the projection and the gate: `base` has
      // three consumers (the layout rank and both sides of the final
      // join), and the deterministic gate predicate otherwise pushes
      // below the fan-out onto the 2-task scan — profiled r21 as THREE
      // ~1.2 s-wall copies of the quality stage per run; staged+fanned
      // it is one 8-task pass (~0.3 s wall). EAGER (r22): the lazy form
      // let the layout/offsets/final-join BROADCAST subplans race to
      // materialize the blocks — JobProfile showed six ~500 ms
      // broadcast jobs whose tasks sat blocked on the block-compute
      // lock (run ≈ 3.5-4 s vs cpu ≈ 0.1 s per 8-task stage); the
      // r21 bench read e7 at 9.6 s vs r20's 6.4 s for the same reason.
      // Materializing once, synchronously, before any consumer plans
      // costs the same single pass and removes the race entirely.
      val scored = Fan.out(corpus)
        .select(col("doc_id"), q("quality").as("quality"), bits.as("bucket_bits"))
        .localCheckpoint(eager = true)
      val gated = scored.filter(col("quality") >= Cfg.qualityMin)
      val base = gated.join(sw, Seq("doc_id"))
      val laid = Packing.shuffleLayout(base.select(col("doc_id")), "doc_id",
        shardSize = Cfg.shuffleShardSize)
      base.join(laid, Seq("doc_id"))
        .select(col("doc_id"), col("cluster_size"), col("weight"),
          col("quality"), col("bucket_bits"), col("shard_id"), col("shard_pos"))
    },
      // E7 — soft weights (recursive closure) ⨝ quality gate ⨝ length
      // bucket, then the one-window shuffle-rank SPEC over the survivors.
      oracle = (s"${clustersWalkCtes(Cfg.numBands, Cfg.rowsPerBand, Cfg.nearDupThreshold)},\n" +
      s"""sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |       FROM cl GROUP BY 1),
         |swt AS (SELECT doc_id, cluster_size,
         |               ${Rounding.stableSql("1.0 / cluster_size", 6)} AS weight
         |        FROM cl JOIN sz USING (cluster_id)),
         |qc AS (${qualityCteSql("corpus")}),
         |qq AS (SELECT doc_id, $QualitySql AS quality,
         |              CAST(CASE WHEN len(string_split(text, ' ')) <= 1 THEN 0
         |                   ELSE length(bin(len(string_split(text, ' ')) - 1))
         |                   END AS BIGINT) AS bucket_bits
         |       FROM qc),
         |keep AS (SELECT doc_id, quality, bucket_bits FROM qq
         |         WHERE quality >= ${Cfg.qualityMin}),
         |eb7 AS (SELECT k.doc_id, s.cluster_size, s.weight, k.quality, k.bucket_bits
         |        FROM keep k JOIN swt s USING (doc_id)),
         |hh AS (SELECT *, ((doc_id % ${graft.operators.Packing.ShuffleMod})
         |                  * ${graft.operators.Packing.ShuffleMul}
         |                  + ${graft.operators.Packing.ShuffleAdd})
         |                 % ${graft.operators.Packing.ShuffleMod} AS h FROM eb7),
         |rr AS (SELECT *, row_number() OVER (ORDER BY h, doc_id) - 1 AS rnk FROM hh)
         |SELECT doc_id, cluster_size, weight, quality, bucket_bits,
         |       rnk // ${Cfg.shuffleShardSize} AS shard_id,
         |       rnk % ${Cfg.shuffleShardSize} AS shard_pos
         |FROM rr""".stripMargin))
  )
}
