package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._
import graft.queries.Shared._

/** Text analysis (ta_*): normalization, language id, quality, PII and
  * repetition scoring, sampling and packing, tokenization and BPE,
  * retrieval scoring, sketches, and the split-leakage screens.
  */
private[graft] object TaQueries {

  private val Cfg = PipelineConfig.Default

  private val RepTopBgSql = "round((mx2::DOUBLE / tot2) * 10000) / 10000"

  /** ta_quality_smooth: verified-pair edges + `smoothRounds` unrolled
    * floor-mean consensus stages over integer micro-unit qualities.
    */
  private def qualitySmoothOracle(numBands: Int, rowsPerBand: Int,
      threshold: Double, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""n$r AS (
         |  SELECT e.a AS id, CAST(sum(q.q_u) AS BIGINT) AS nsum,
         |         CAST(count(*) AS BIGINT) AS ndeg
         |  FROM ed e JOIN q${r - 1} q ON q.id = e.b GROUP BY 1),
         |q$r AS (
         |  SELECT q.id,
         |         CASE WHEN n.id IS NULL THEN q.q_u
         |              ELSE (q.q_u + n.nsum) // (1 + n.ndeg) END AS q_u
         |  FROM q${r - 1} q LEFT JOIN n$r n USING (id))""".stripMargin
    }.mkString(",\n")
    s"WITH ${minhashCtes(numBands, rowsPerBand, "a.doc_id < b.doc_id", "doc_a", "doc_b",
      Some(Cfg.maxBucket))},\n" +
      s"""verified AS (
         |  SELECT doc_a, doc_b
         |  FROM pairs JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b
         |  WHERE $MinhashJaccardSql >= $threshold),
         |ed AS (
         |  SELECT doc_a AS a, doc_b AS b FROM verified
         |  UNION ALL SELECT doc_b, doc_a FROM verified),
         |qc AS (${qualityCteSql("corpus WHERE text IS NOT NULL")}),
         |q0 AS (SELECT doc_id AS id,
         |              CAST(round(($QualitySql) * 10000) AS BIGINT) AS q_u
         |       FROM qc),
         |$roundCtes
         |SELECT id AS doc_id, q_u,
         |       ${Rounding.stableSql("q_u / 10000.0", 4)} AS quality_smooth
         |FROM q$rounds""".stripMargin
  }

  /** TextAnalysis.lmSurprisal as CTEs ending in
    * `fl(doc_id, lang, n_tokens, nll_bits)` — shared by ta_lm_fluency
    * and ta_lm_buckets.
    */
  private lazy val LmFluencyCtes: String =
    s"""t AS (
       |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       |r AS (SELECT lang, token FROM t WHERE doc_id % ${Cfg.lmRefMod} = 0),
       |lm AS (SELECT lang, token, CAST(length(bin(count(*))) - 1 AS BIGINT) AS w
       |       FROM r GROUP BY 1, 2),
       |tot AS (SELECT lang, CAST(length(bin(count(*))) - 1 AS BIGINT) AS tbits
       |        FROM r GROUP BY 1),
       |d AS (
       |  SELECT t.doc_id, t.lang, CAST(count(*) AS BIGINT) AS n_tokens,
       |         CAST(sum(COALESCE(lm.w, 0)) AS BIGINT) AS bits
       |  FROM t LEFT JOIN lm USING (lang, token) GROUP BY 1, 2),
       |fl AS (
       |  SELECT d.doc_id, d.lang, d.n_tokens,
       |         ${Rounding.stableSql(
             "tot.tbits - d.bits / CAST(d.n_tokens AS DOUBLE)", 4)} AS nll_bits
       |  FROM d JOIN tot USING (lang))""".stripMargin

  /** TextAnalysis.dsirScores as CTEs ending in
    * `dsc(doc_id, n_grams, dsir_bits)` — shared by ta_dsir and
    * ta_dsir_select. Mirrors the plan literally: unigrams++bigrams with
    * multiplicity, 24-bit md5 buckets mod dsirBuckets, (+1)-Laplace
    * integer bit-length weights, and the n_grams·(bits(totR)−bits(totT))
    * Laplace-total shift. range(1, len(ts)) is end-EXCLUSIVE in DuckDB —
    * exactly the 1..n−1 bigram starts Spark's sequence(1, n−1) yields,
    * and empty for 1-token docs on both engines.
    */
  private lazy val DsirCtes: String = {
    val nb = Cfg.dsirBuckets
    s"""dt AS (
       |  SELECT doc_id, (source = '${Cfg.dsirTargetSource}') AS t,
       |         string_split(text, ' ') AS ts
       |  FROM documents WHERE text IS NOT NULL),
       |dg AS (
       |  SELECT doc_id, t,
       |         unnest(list_concat(ts,
       |           list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1]))) AS g
       |  FROM dt),
       |db AS (SELECT doc_id, t,
       |              ('0x' || substr(md5(g), 1, 6))::BIGINT % $nb AS b FROM dg),
       |dm AS (SELECT b,
       |              CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
       |              CAST(sum(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS cr
       |       FROM db GROUP BY 1),
       |dw AS (SELECT b, CAST(length(bin(ct + 1)) - 1 AS BIGINT)
       |               - CAST(length(bin(cr + 1)) - 1 AS BIGINT) AS w FROM dm),
       |dsh AS (SELECT CAST(length(bin(CAST(sum(cr) AS BIGINT) + $nb)) - 1 AS BIGINT)
       |             - CAST(length(bin(CAST(sum(ct) AS BIGINT) + $nb)) - 1 AS BIGINT) AS shift
       |        FROM dm),
       |dsg AS (
       |  SELECT db.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |         CAST(sum(dw.w) AS BIGINT) AS gsum
       |  FROM db JOIN dw USING (b) WHERE NOT db.t GROUP BY 1),
       |dsc AS (
       |  SELECT doc_id, n_grams, gsum + n_grams * shift AS dsir_bits
       |  FROM dsg CROSS JOIN dsh)""".stripMargin
  }

  private def fingerprintSql(hs: String, prefix: Int): String = {
    val bound = if (prefix > 0) s"least(len($hs), $prefix)" else s"len($hs)"
    // CAST: list_sum over integers is HUGEINT, which pandas renders as
    // float64 — the checker's exact hash then sees float vs Spark's int64.
    s"CAST(list_sum(list_transform(range(1, $bound + 1), i -> i * (ascii(substr($hs[i], 1, 1)) * 256 + ascii(substr($hs[i], 2, 1))))) % 1000000007 AS BIGINT)"
  }

  val defs: Seq[QueryDef] = Seq(

    // Unicode NFC canonicalization over the corpus (native codegen'd
    // nfc_normalize vs DuckDB's nfc_normalize — both UAX #15): every
    // 3rd doc gets a DECOMPOSED accent suffix, every 3rd+1 the
    // precomposed spelling; after NFC both tails are byte-identical and
    // the combining marks collapse (len_raw − len_norm counts them).
    QueryDef("ta_normalize", (s, dir) => {
      val injected = concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(" cafe\u0301 nai\u0308ve")) // decomposed
          .when(col("doc_id") % 3 === 1, lit(" caf\u00e9 na\u00efve")) // precomposed
          .otherwise(lit("")))
      Tables.documents(s, dir)
        .select(col("doc_id"), injected.as("raw"))
        .select(col("doc_id"), col("raw"),
          graft.expressions.NfcNormalize(col("raw")).as("norm"))
        .select(col("doc_id"),
          substring(col("norm"), -12, 12).as("tail_norm"),
          length(col("raw")).as("len_raw"),
          length(col("norm")).as("len_norm"),
          (length(col("raw")) - length(col("norm"))).as("combining_removed"))
    },
      // suffixes built from chr() so the SQL stays ASCII: decomposed
      // (e+chr(769), i+chr(776)) for doc_id%3=0, precomposed (chr(233),
      // chr(239)) for %3=1; nfc_normalize is DuckDB's own UAX #15 kernel.
      oracle = """WITH r AS (
        |  SELECT doc_id,
        |         text || CASE WHEN doc_id % 3 = 0 THEN ' cafe' || chr(769) || ' nai' || chr(776) || 've'
        |                      WHEN doc_id % 3 = 1 THEN ' caf' || chr(233) || ' na' || chr(239) || 've'
        |                      ELSE '' END AS raw
        |  FROM documents),
        |n AS (SELECT doc_id, raw, nfc_normalize(raw) AS norm FROM r)
        |SELECT doc_id,
        |       right(norm, 12) AS tail_norm,
        |       CAST(length(raw) AS INT) AS len_raw,
        |       CAST(length(norm) AS INT) AS len_norm,
        |       CAST(length(raw) - length(norm) AS INT) AS combining_removed
        |FROM n""".stripMargin),

    // Corpus profile with ROLLUP — per (lang, source), per lang, and
    // grand-total doc/char counts in ONE pass: the Expand operator
    // replicates each row once per grouping set BEFORE the partial
    // aggregate, so the exchange carries 3 aggregate rows per group,
    // not 3 scans of the corpus (what three separate queries would
    // cost). Counts and integer char sums only — hash-exact.
    QueryDef("ta_profile_rollup", (s, dir) =>
      Tables.documents(s, dir)
        .rollup(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          max(col("n_chars")).as("max_chars")),
      oracle = """SELECT lang, source, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       max(n_chars) AS max_chars
        |FROM documents GROUP BY ROLLUP(lang, source)""".stripMargin),

    // Source × language pivot — doc counts with the languages as
    // columns. Pivot values passed EXPLICITLY: without them Spark runs
    // an extra distinct scan to discover the columns (a full pass at
    // 100 TB) and the schema becomes data-dependent. With them the
    // pivot is one CASE-based partial aggregate — same shuffle as a
    // plain groupBy(source). Empty cells filled to 0 to match the
    // oracle's FILTER counts.
    QueryDef("ta_pivot_langs", (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(col("source"))
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .count()
        .na.fill(0L),
      oracle = """SELECT source,
        |       count(*) FILTER (WHERE lang = 'de') AS de,
        |       count(*) FILTER (WHERE lang = 'en') AS en,
        |       count(*) FILTER (WHERE lang = 'es') AS es,
        |       count(*) FILTER (WHERE lang = 'fr') AS fr,
        |       count(*) FILTER (WHERE lang = 'zh') AS zh
        |FROM documents GROUP BY source""".stripMargin),

    // Decontamination: flag corpus docs sharing word-3-gram shingles with
    // a benchmark/eval set (docs < 20 stand in for the eval suite) — the
    // overlap check every training-data pipeline runs before release.
    // The benchmark shingle set is tiny → broadcast; the corpus side is
    // an explode + map-side join + partial-agg count, no corpus shuffle
    // beyond the per-doc counts.
    QueryDef("ta_decontam", (s, dir) => {
      val sh = Dedup.shingleFrame(Tables.documents(s, dir), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
      val bench = sh.filter(col("doc_id") < 20)
        .select(explode(col("sh")).as("g")).distinct()
      sh.filter(col("doc_id") >= 20)
        .select(col("doc_id"), explode(col("sh")).as("g"))
        .join(broadcast(bench), Seq("g"))
        .groupBy(col("doc_id"))
        .agg(count_distinct(col("g")).as("contaminated_grams"))
    },
      oracle = s"""WITH tvals AS (
         |  SELECT doc_id, $TokenValsSql AS tv
         |  FROM documents),
         |shl AS (
         |  SELECT doc_id, $ShingleValsSql AS sh
         |  FROM tvals),
         |bench AS (SELECT DISTINCT unnest(sh) AS g FROM shl WHERE doc_id < 20),
         |cand AS (SELECT doc_id, unnest(sh) AS g FROM shl WHERE doc_id >= 20)
         |SELECT doc_id, CAST(count(DISTINCT c.g) AS BIGINT) AS contaminated_grams
         |FROM cand c JOIN bench b ON c.g = b.g
         |GROUP BY doc_id""".stripMargin),

    // Split manifest — the per-split size/token-mass report a training
    // pipeline writes next to its split assignment: one narrow map +
    // one 3-row aggregate over the stable content-keyed cutoffs.
    QueryDef("ta_split_stats", (s, dir) =>
      Tables.documents(s, dir)
        .select(Sampling.splitAssign(col("doc_id"),
            Cfg.splitTrainPct, Cfg.splitValPct).as("split"),
          size(split(col("text"), " ")).cast("long").as("__n"),
          col("n_chars"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__n")).as("ws_tokens"),
          sum(col("n_chars")).as("chars")),
      oracle = s"""SELECT ${graft.operators.Sampling.splitSql("doc_id",
            Cfg.splitTrainPct, Cfg.splitValPct)} AS split,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN text IS NULL THEN NULL
         |                ELSE len(string_split(text, ' ')) END) AS BIGINT) AS ws_tokens,
         |       CAST(sum(n_chars) AS BIGINT) AS chars
         |FROM documents
         |GROUP BY 1""".stripMargin),

    // Train/test split leakage screen — the contamination check every
    // LLM pipeline owes its held-out sets: docs split by the stable
    // content-keyed hash, then the verified near-dup pairs grouped by
    // the (unordered) split pair they connect. Any off-diagonal row is
    // a near-duplicate leaking across a split boundary (the re-crawl's
    // copies land in different splits by construction, so the screen
    // provably has work). Cost = the minhash pair generation everything
    // else shares + one tiny aggregate.
    QueryDef("ta_split_leakage", (s, dir) => {
      val (_, pairs) = recrawlPairs(s, dir)
      val sa = Sampling.splitAssign(col("doc_a"), Cfg.splitTrainPct, Cfg.splitValPct)
      val sb = Sampling.splitAssign(col("doc_b"), Cfg.splitTrainPct, Cfg.splitValPct)
      pairs
        .select(least(sa, sb).as("split_lo"), greatest(sa, sb).as("split_hi"))
        .groupBy(col("split_lo"), col("split_hi"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("leaks", col("split_lo") =!= col("split_hi"))
    },
      // Verified near-dup pairs grouped by the unordered split pair —
      // off-diagonal rows are cross-split leakage.
      oracle = {
        val sa = graft.operators.Sampling.splitSql("doc_a", Cfg.splitTrainPct, Cfg.splitValPct)
        val sb = graft.operators.Sampling.splitSql("doc_b", Cfg.splitTrainPct, Cfg.splitValPct)
        s"WITH ${minhashCtes(Cfg.numBands, Cfg.rowsPerBand, "a.doc_id < b.doc_id",
          "doc_a", "doc_b", Some(Cfg.maxBucket))},\n" +
          s"""verified AS (
             |  SELECT doc_a, doc_b
             |  FROM pairs JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b
             |  WHERE $MinhashJaccardSql >= ${Cfg.nearDupThreshold}),
             |sp AS (
             |  SELECT least(($sa), ($sb)) AS split_lo,
             |         greatest(($sa), ($sb)) AS split_hi
             |  FROM verified)
             |SELECT split_lo, split_hi, CAST(count(*) AS BIGINT) AS n_pairs,
             |       split_lo <> split_hi AS leaks
             |FROM sp GROUP BY 1, 2""".stripMargin
      }),

    // SEMANTIC split leakage — the embedding-space upgrade of
    // ta_split_leakage's n-gram screen (surface decontamination misses
    // paraphrases and re-encodes; semantic contamination between train
    // and held-out is what actually inflates evals): the verified
    // bucketed-cosine pair frame (dedup_embedding's, ≥0.99 within LSH
    // cells) grouped by the unordered split pair its endpoints' stable
    // hash slots land in. Off-diagonal rows = semantically-duplicate
    // vectors straddling a held-out boundary. Cost = the LSH-bucketed
    // pair generation (never all-pairs) + one tiny aggregate.
    QueryDef("ta_split_leakage_semantic", (s, dir) => {
      val base = Tables.embeddings(s, dir).select(col("vec_id").as("id"),
        Similarity.asDouble(col("embedding")).as("vecd"))
      val reencoded = base.select((col("id") + 100000).as("id"),
        transform(col("vecd"), x => x * lit(1.5)).as("vecd"))
      val pairs = Similarity.cosineDedupPairs(base.unionByName(reencoded),
          threshold = 0.99, numPlanes = Cfg.cosNumPlanes, maxCell = Cfg.cosMaxCell)
        .select(col("vec_a"), col("vec_b"))
      val sa = Sampling.splitAssign(col("vec_a"), Cfg.splitTrainPct, Cfg.splitValPct)
      val sb = Sampling.splitAssign(col("vec_b"), Cfg.splitTrainPct, Cfg.splitValPct)
      pairs
        .select(least(sa, sb).as("split_lo"), greatest(sa, sb).as("split_hi"))
        .groupBy(col("split_lo"), col("split_hi"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("leaks", col("split_lo") =!= col("split_hi"))
    },
      // Same verified pair frame, grouped by the unordered split pair of
      // the endpoints' stable hash slots — the semantic leakage matrix.
      oracle = {
        val sa = Sampling.splitSql("vec_a", Cfg.splitTrainPct, Cfg.splitValPct)
        val sb = Sampling.splitSql("vec_b", Cfg.splitTrainPct, Cfg.splitValPct)
        s"""WITH $CosinePairCtesSql,
           |v AS (SELECT vec_a, vec_b FROM p WHERE cos >= 0.99),
           |sp AS (
           |  SELECT least(($sa), ($sb)) AS split_lo,
           |         greatest(($sa), ($sb)) AS split_hi
           |  FROM v)
           |SELECT split_lo, split_hi, CAST(count(*) AS BIGINT) AS n_pairs,
           |       split_lo <> split_hi AS leaks
           |FROM sp GROUP BY 1, 2""".stripMargin
      }),

    // Graph-propagated quality smoothing: near-dup copies carry
    // independently-noisy quality estimates; two floor-mean consensus
    // rounds over the verified minhash graph pull duplicate groups
    // toward agreement (the similarity-graph label-smoothing move).
    // Integer micro-units end-to-end; the propagation is the
    // duplicateClusters join shape with means instead of minima.
    QueryDef("ta_quality_smooth", (s, dir) => {
      val (corpus, pairs) = recrawlPairs(s, dir)
      val q = TextAnalysis.qualityColumns(col("text")).toMap
      // fanned (r22): the quality kernel otherwise rides the 2-split
      // recrawl scan and is evaluated per consumer of round 1's frame
      // (JobProfile: twin 2-task ~600 ms-CPU Union scan stages)
      val scores = Fan.out(corpus.filter(col("text").isNotNull))
        .select(col("doc_id").as("id"),
          round(q("quality") * 10000).cast("long").as("q_u"))
      Dedup.qualitySmooth(scores, pairs, rounds = Cfg.smoothRounds)
        .select(col("id").as("doc_id"), col("q_u"),
          Rounding.stable(col("q_u") / 10000.0, 4).as("quality_smooth"))
    },
      oracle = qualitySmoothOracle(numBands = Cfg.numBands,
      rowsPerBand = Cfg.rowsPerBand, threshold = Cfg.nearDupThreshold,
      rounds = Cfg.smoothRounds)),

    // Language ID: character-trigram profile scoring with deterministic
    // first-wins argmax.
    QueryDef("ta_langid", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id") +: TextAnalysis.langId(col("text"))
          .map { case (n, c) => c.as(n) }: _*),
      oracle = """SELECT doc_id,
        |       CAST(len(regexp_extract_all(lower(text), 'the')) + len(regexp_extract_all(lower(text), 'ing')) + len(regexp_extract_all(lower(text), 'ow ')) AS INT) AS score_en,
        |       CAST(len(regexp_extract_all(lower(text), 'sch')) + len(regexp_extract_all(lower(text), 'der')) + len(regexp_extract_all(lower(text), 'ein')) AS INT) AS score_de,
        |       CAST(len(regexp_extract_all(lower(text), 'ció')) + len(regexp_extract_all(lower(text), 'los')) + len(regexp_extract_all(lower(text), 'rde')) AS INT) AS score_es,
        |       CAST(len(regexp_extract_all(lower(text), 'eau')) + len(regexp_extract_all(lower(text), 'oux')) + len(regexp_extract_all(lower(text), 'que')) AS INT) AS score_fr,
        |       CASE WHEN CAST(len(regexp_extract_all(lower(text), 'eau')) + len(regexp_extract_all(lower(text), 'oux')) + len(regexp_extract_all(lower(text), 'que')) AS INT)
        |              > greatest(CAST(len(regexp_extract_all(lower(text), 'the')) + len(regexp_extract_all(lower(text), 'ing')) + len(regexp_extract_all(lower(text), 'ow ')) AS INT),
        |                         CAST(len(regexp_extract_all(lower(text), 'sch')) + len(regexp_extract_all(lower(text), 'der')) + len(regexp_extract_all(lower(text), 'ein')) AS INT),
        |                         CAST(len(regexp_extract_all(lower(text), 'ció')) + len(regexp_extract_all(lower(text), 'los')) + len(regexp_extract_all(lower(text), 'rde')) AS INT)) THEN 'fr'
        |            WHEN CAST(len(regexp_extract_all(lower(text), 'ció')) + len(regexp_extract_all(lower(text), 'los')) + len(regexp_extract_all(lower(text), 'rde')) AS INT)
        |              > greatest(CAST(len(regexp_extract_all(lower(text), 'the')) + len(regexp_extract_all(lower(text), 'ing')) + len(regexp_extract_all(lower(text), 'ow ')) AS INT),
        |                         CAST(len(regexp_extract_all(lower(text), 'sch')) + len(regexp_extract_all(lower(text), 'der')) + len(regexp_extract_all(lower(text), 'ein')) AS INT)) THEN 'es'
        |            WHEN CAST(len(regexp_extract_all(lower(text), 'sch')) + len(regexp_extract_all(lower(text), 'der')) + len(regexp_extract_all(lower(text), 'ein')) AS INT)
        |              > CAST(len(regexp_extract_all(lower(text), 'the')) + len(regexp_extract_all(lower(text), 'ing')) + len(regexp_extract_all(lower(text), 'ow ')) AS INT) THEN 'de'
        |            ELSE 'en' END AS predicted_lang
        |FROM documents""".stripMargin),

    // Quality scoring + token counting (whitespace and BPE-ish regex).
    QueryDef("ta_quality", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id") +:
          (TextAnalysis.qualityColumns(col("text")).map { case (n, c) => c.as(n) } ++
            Seq(
              TextAnalysis.whitespaceTokenCount(col("text")).as("ws_tokens"),
              TextAnalysis.bpeishTokenCount(col("text")).as("bpeish_tokens"))): _*),
      oracle = (s"""WITH t AS (
         |${qualityCteSql("documents")})
         |SELECT doc_id, n_tokens,
         |       round((content_chars / n_tokens) * 10000) / 10000 AS avg_token_len,
         |       round((stop_hits::DOUBLE / n_tokens) * 10000) / 10000 AS stopword_ratio,
         |       round((punct_hits::DOUBLE / length(text)) * 10000) / 10000 AS punct_ratio,
         |""".stripMargin +
        s"       $QualitySql AS quality,\n" +
        s"       $WsTokensSql AS ws_tokens,\n" +
        """       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS INT) AS bpeish_tokens
          |FROM t""".stripMargin)),

    // Model-based quality filter (the fasttext-classifier stage of
    // CCNet/LLaMA-style curation): hashing-trick token buckets, exact
    // integer weight accumulation, one final stable-rounded division,
    // threshold keep. Weights are a deterministic stand-in export — the
    // scoring plumbing (bucket → gather → sum → normalize → cut) is the
    // production operator unchanged.
    QueryDef("ta_quality_clf", (s, dir) =>
      Tables.documents(s, dir).filter(col("text").isNotNull).select(
        col("doc_id") +:
          TextAnalysis.clfColumns(col("text"), Cfg.clfThreshold)
            .map { case (n, c) => c.as(n) }: _*),
      // Hashed-linear classifier: bucket/weight arithmetic is all-integer
      // (list_sum is exact), so only the final division hashes — mirrored
      // 6-dp rounded. Constants inline TextAnalysis.ClfBuckets/Mod.
      oracle = s"""WITH ${clfCtesSql()}
         |SELECT doc_id, n_tokens, clf_score,
         |       clf_score >= ${Cfg.clfThreshold} AS clf_keep
         |FROM tcl""".stripMargin),

    // Domain-mixing cap: at most sourceCap docs survive per source,
    // best classifier score first (ties to the lower doc_id) — an
    // over-represented domain trims to its best members. k-bounded
    // aggregate, never a per-domain window sort.
    QueryDef("ta_source_cap", (s, dir) => {
      val clfScore = TextAnalysis
        .clfColumns(col("text"), Cfg.clfThreshold).toMap.apply("clf_score")
      val scored = Tables.documents(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"), clfScore.as("clf_score"))
      Sampling.capPerKey(scored, "source", "doc_id", col("clf_score"),
          Cfg.sourceCap)
        .withColumnRenamed("score", "clf_score")
        .withColumnRenamed("rank", "src_rank")
    },
      // Per-source cap: the window form of the plan's k-bounded aggregate
      // — rank by (clf_score DESC, doc_id ASC), keep rank <= cap.
      oracle = s"""WITH ${clfCtesSql()},
         |r AS (
         |  SELECT source, doc_id, clf_score,
         |         row_number() OVER (PARTITION BY source
         |                            ORDER BY clf_score DESC, doc_id ASC) AS rn
         |  FROM tcl)
         |SELECT source, doc_id, clf_score, CAST(rn AS INT) AS src_rank
         |FROM r WHERE rn <= ${Cfg.sourceCap}""".stripMargin),

    // Temperature source mixing (mT5/UniMax at τ=0.5): per-source rates
    // ∝ √count normalized to a document budget, fixed-point integer
    // derivation end-to-end (no float-fold order anywhere), kept docs
    // counted through the content-keyed hash. The corpus's natural
    // sources are uniform (25 docs each — rates would all tie), so the
    // fixture regroups deterministically into a skewed head/mid/tail
    // mix: ~50/25/12.5/12.5%, where the sqrt rule visibly downsamples
    // the head sub-linearly and favors the tails.
    QueryDef("ta_mix_temperature", (s, dir) =>
      Sampling.temperatureMix(
        Tables.documents(s, dir).select(
          when(col("doc_id") % 2 === 0, "head")
            .when(col("doc_id") % 4 === 1, "mid")
            .when(col("doc_id") % 8 === 3, "tail_a")
            .otherwise("tail_b").as("source"),
          col("doc_id")),
        "source", "doc_id", Cfg.mixBudget),
      // Fixed-point sqrt weights (floor(sqrt(n)*1e6) BIGINT), integer
      // normalizer sum, one integer division — the rate derivation has no
      // float fold anywhere, so both engines land the identical percent.
      oracle = s"""WITH s0 AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 2 = 0 THEN 'head'
         |              WHEN doc_id % 4 = 1 THEN 'mid'
         |              WHEN doc_id % 8 = 3 THEN 'tail_a'
         |              ELSE 'tail_b' END AS source
         |  FROM documents),
         |c AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM s0 GROUP BY 1),
         |w AS (SELECT source, n, CAST(floor(sqrt(n) * 1000000) AS BIGINT) AS w FROM c),
         |t AS (SELECT sum(w) AS tot FROM w),
         |r AS (SELECT source, n AS n_docs,
         |             least(100, (100 * ${Cfg.mixBudget} * CAST(w AS HUGEINT)) // (tot * n)) AS rate_pct
         |      FROM w, t),
         |k AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_kept
         |      FROM s0 d JOIN r USING (source)
         |      WHERE ${Sampling.keepAtSql("d.doc_id", "r.rate_pct")} GROUP BY 1)
         |SELECT r.source, r.n_docs, CAST(r.rate_pct AS BIGINT) AS rate_pct,
         |       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
         |FROM r LEFT JOIN k USING (source)""".stripMargin),

    // Vocabulary statistics: top-5 tokens per language by frequency — the
    // token-distribution profile every curation run reports. Explode →
    // count (map-side combined) → bounded top-k AGGREGATE per lang
    // (graft.functions.TopKByCount): the k-bounded buffer map-side
    // combines to ≤ k rows per partition per lang, where a row_number
    // window would sort every (lang, token) count through one exchange.
    QueryDef("ta_token_topk", (s, dir) => {
      val counts = Tables.documents(s, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("token"))
        .groupBy(col("lang"), col("token"))
        .agg(count(lit(1)).as("cnt"))
      val topk = graft.functions.TopK.topKByCount(5)
      counts.groupBy(col("lang"))
        .agg(topk(col("cnt"), col("token")).as("top"))
        .select(col("lang"), posexplode(col("top")).as(Seq("pos", "kv")))
        .select(col("lang"), col("kv._2").as("token"), col("kv._1").as("cnt"),
          (col("pos") + 1).cast("int").as("rnk"))
    },
      oracle = """WITH c AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |g AS (
        |  SELECT lang, token, CAST(count(*) AS BIGINT) AS cnt
        |  FROM c GROUP BY 1, 2)
        |SELECT lang, token, cnt, CAST(rnk AS INT) AS rnk
        |FROM (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token ASC) AS rnk FROM g)
        |WHERE rnk <= 5""".stripMargin),

    // Per-language length statistics: count, mean, exact median and p90
    // of n_chars — the distribution profile a curation run reports before
    // setting length cutoffs. Exact percentiles via one sort-based
    // aggregate per language partition.
    QueryDef("ta_length_stats", (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          Rounding.stable(avg(col("n_chars")), 4).as("avg_chars"),
          Rounding.stable(expr("percentile(n_chars, 0.5)"), 4).as("median_chars"),
          Rounding.stable(expr("percentile(n_chars, 0.9)"), 4).as("p90_chars")),
      oracle = s"""SELECT lang,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       ${Rounding.stableSql("avg(n_chars)", 4)} AS avg_chars,
         |       ${Rounding.stableSql("quantile_cont(n_chars, 0.5)", 4)} AS median_chars,
         |       ${Rounding.stableSql("quantile_cont(n_chars, 0.9)", 4)} AS p90_chars
         |FROM documents GROUP BY lang""".stripMargin),

    // Deterministic 10% sample stratified by content key: md5(doc_id)
    // mod 100 — reproducible across runs/engines/partitionings, unlike
    // RNG sample(); zero shuffle.
    QueryDef("ta_sample", (s, dir) =>
      Tables.documents(s, dir)
        .filter(Sampling.deterministicKeep(col("doc_id"), 10))
        .select(col("doc_id"), col("lang"), col("n_chars")),
      oracle = s"""SELECT doc_id, lang, n_chars
         |FROM documents
         |WHERE ${graft.operators.Sampling.keepSql("doc_id", 10)}""".stripMargin),

    // Stratified sampling — per-language keep rates over ONE stable
    // content-keyed hash assignment (downsample the dominant language,
    // keep the tail): narrow map work, zero shuffle before the count.
    QueryDef("ta_sample_stratified", (s, dir) =>
      Tables.documents(s, dir)
        .filter(Sampling.stratifiedKeep(col("doc_id"), col("lang"),
          Map("en" -> 20, "zh" -> 50), defaultPct = 80))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept")),
      oracle = s"""SELECT lang, count(*) AS n_kept
         |FROM documents
         |WHERE ${graft.operators.Sampling.stratifiedKeepSql("doc_id", "lang",
                  Map("en" -> 20, "zh" -> 50), 80)}
         |GROUP BY lang""".stripMargin),

    // Context-window chunking — 32-token windows advancing by 24 (8-token
    // overlap): the layout pass that turns curated documents into
    // model-context pieces. Narrow tokenize → explode(sequence) → slice,
    // ZERO exchanges at any corpus size (plan-asserted); chunk content
    // travels as an md5, never as token arrays.
    QueryDef("ta_chunk", (s, dir) =>
      Packing.chunk(Tables.documents(s, dir), "doc_id", col("text"),
        chunkTokens = Cfg.chunkTokens, stride = Cfg.chunkStride),
      oracle = graft.operators.Packing.chunkSql("documents", "doc_id", "text",
        chunkTokens = Cfg.chunkTokens, stride = Cfg.chunkStride)),

    // Fixed-budget shard packing — 20k-char output shards per language,
    // docs laid out in doc_id order, shard = offset div budget. The
    // running offset is a TWO-PHASE distributed prefix sum (per-bucket
    // totals → window over the tiny bucket table → broadcast offsets →
    // bounded per-(lang, bucket) window), so no window task ever sees
    // more than bucketSize rows — the oracle states the straight
    // one-window cumsum SPEC the two-phase plan must reproduce exactly.
    QueryDef("ta_shard_pack", (s, dir) =>
      Packing.packShards(
        Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("n_chars")),
        part = "lang", orderCol = "doc_id", weight = col("n_chars"),
        budget = Cfg.shardBudget, bucketSize = Cfg.shardBucketSize),
      oracle = graft.operators.Packing.packShardsSql("documents", "lang", "doc_id",
        "n_chars", budget = Cfg.shardBudget, selectCols = "doc_id, lang, n_chars")),

    // Deterministic global training-order shuffle: every doc gets a
    // reproducible pseudo-random (shard_id, shard_pos) slot — the
    // epoch-shuffle layout training jobs resume from. The global rank
    // in scrambled-key order is the same two-phase prefix count
    // ta_shard_pack uses (bucket by key range → tiny offsets table →
    // bounded per-bucket windows); the oracle states the one-window
    // row_number SPEC the two-phase plan must reproduce exactly.
    QueryDef("ta_shuffle", (s, dir) =>
      Packing.shuffleLayout(Tables.documents(s, dir).select(col("doc_id")),
        "doc_id", shardSize = Cfg.shuffleShardSize),
      oracle = graft.operators.Packing.shuffleLayoutSql("documents", "doc_id",
        shardSize = Cfg.shuffleShardSize)),

    // Sequence-length bucketing for batch assembly: power-of-two token
    // buckets with per-bucket padding-waste accounting — the
    // measurement behind length-bucketed batching. One narrow map, one
    // ~40-row aggregate.
    QueryDef("ta_length_buckets", (s, dir) =>
      Packing.lengthBuckets(Tables.documents(s, dir), col("text")),
      oracle = graft.operators.Packing.lengthBucketsSql("documents", "text")),

    // Curriculum ordering — quality-descending global order cut into
    // fixed-size training phases (easy/high-quality docs first, the
    // curriculum-learning data layout). The order key is the 4-dp
    // quality score inverted into a small non-negative integer domain,
    // ranked by the same two-phase global rank as ta_shuffle — no
    // global sort through one task; ties to the lower doc_id.
    QueryDef("ta_curriculum", (s, dir) => {
      // fanned out before the quality kernel — the tokenize-heavy
      // scoring ran single-task on the unsplittable scan (see Fan)
      val docs = Fan.out(
        Tables.documents(s, dir).filter(col("text").isNotNull))
      val q = TextAnalysis.qualityColumns(col("text")).toMap
      val scored = docs.select(col("doc_id"), q("quality").as("quality"))
      // quality ∈ [0,1] at 4 dp → key = 10000 − round(q·10⁴) ∈ [0,10⁴]
      val keyed = scored.withColumn("_key",
        (lit(10000L) - round(col("quality") * 10000).cast("long")))
      Packing.globalRank(keyed, "doc_id", col("_key"), bucketSize = 256L)
        .join(scored, Seq("doc_id"))
        .select(col("doc_id"), col("quality"),
          expr(s"_rank div ${Cfg.curriculumPhaseSize}").as("phase"),
          (col("_rank") % Cfg.curriculumPhaseSize).as("phase_pos"))
    },
      // Quality-descending global order (ties to lower doc_id) cut into
      // fixed-size phases — the one-window rank SPEC of the two-phase
      // curriculum layout.
      oracle = s"""WITH qc AS (${qualityCteSql("documents WHERE text IS NOT NULL")}),
         |qs AS (SELECT doc_id, $QualitySql AS quality FROM qc),
         |kk AS (SELECT doc_id, quality,
         |              10000 - CAST(round(quality * 10000) AS BIGINT) AS k
         |       FROM qs),
         |rr AS (SELECT doc_id, quality,
         |              row_number() OVER (ORDER BY k, doc_id) - 1 AS rnk
         |       FROM kk)
         |SELECT doc_id, quality,
         |       rnk // ${Cfg.curriculumPhaseSize} AS phase,
         |       rnk % ${Cfg.curriculumPhaseSize} AS phase_pos
         |FROM rr""".stripMargin),

    // Positional rolling-hash document fingerprint (full + 16-token
    // prefix).
    QueryDef("ta_fingerprint", (s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        TextAnalysis.fingerprint(col("text"), prefixTokens = 16).as("fp_prefix16")),
      oracle = s"""WITH h AS (SELECT doc_id, list_transform(string_split(text, ' '), t -> md5(t)) AS hs FROM documents)
         |SELECT doc_id,
         |       ${fingerprintSql("hs", 0)} AS fp,
         |       ${fingerprintSql("hs", 16)} AS fp_prefix16
         |FROM h""".stripMargin),

    // Set operations over token vocabularies as ONE membership aggregate
    // (the curation question "what words does slice A use that slice B
    // never does"). The naive EXCEPT ∪ EXCEPT ∪ INTERSECT form shuffles
    // the token domain three times and scans the corpus twice per arm;
    // here the corpus is scanned once, (token, lang) is exploded once,
    // and a single groupBy(token) with two boolean max-aggregates (with
    // map-side partial aggregation) decides en_only/fr_only/shared in a
    // CASE projection — one token-domain exchange total, which at 100 TB
    // is one job instead of three (VERDICT r13 #3).
    QueryDef("ta_token_setops", (s, dir) =>
      Tables.documents(s, dir)
        .filter(col("lang").isin("en", "fr"))
        .select(col("lang"), explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token"))
        .agg(max(col("lang") === "en").as("in_en"),
             max(col("lang") === "fr").as("in_fr"))
        .select(col("token"),
          when(col("in_en") && col("in_fr"), "shared")
            .when(col("in_en"), "en_only")
            .otherwise("fr_only").as("membership")),
      oracle = """WITH en AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS token
        |           FROM documents WHERE lang = 'en'),
        |fr AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS token
        |       FROM documents WHERE lang = 'fr')
        |SELECT token, 'en_only' AS membership FROM (SELECT token FROM en EXCEPT SELECT token FROM fr)
        |UNION ALL
        |SELECT token, 'fr_only' FROM (SELECT token FROM fr EXCEPT SELECT token FROM en)
        |UNION ALL
        |SELECT token, 'shared' FROM (SELECT token FROM en INTERSECT SELECT token FROM fr)""".stripMargin),

    // Gopher-style repetition filters: top-token share, top-bigram
    // share, duplicate-bigram share + the keep/drop flag — the post-dedup
    // boilerplate screen of an LLM curation pipeline (see
    // TextAnalysis.repetition for the one-explode, all-aggregates-
    // partition-by-doc scale shape).
    QueryDef("ta_repetition", (s, dir) =>
      TextAnalysis.repetition(Tables.documents(s, dir), "doc_id", "text"),
      oracle = (s"WITH ${tokenCountCtes("documents")},\n$BigramCtes\n" +
        s"""SELECT toka.doc_id,
           |       $RepTopTokSql AS top_token_frac,
           |       $RepTopBgSql AS top_bigram_frac,
           |       $RepDupBgSql AS dup_bigram_frac,
           |       $RepFlagSql AS repetitive
           |FROM toka LEFT JOIN bga USING (doc_id)""".stripMargin)),

    // TF-IDF top-3 terms per document with the rational BM25 idf (log-
    // free so both engines agree bit-wise): doc-frequency and corpus
    // count broadcast, per-doc ranking windows bounded by the doc's own
    // vocabulary.
    QueryDef("ta_tfidf", (s, dir) =>
      TextAnalysis.tfidf(Tables.documents(s, dir), "doc_id", "text", 3),
      oracle = (s"WITH ${tokenCountCtes("documents")},\n${tfidfScoreCtes("documents")}\n" +
        """SELECT doc_id, w AS token, tfidf, CAST(rnk AS INT) AS rnk
          |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, w ASC) AS rnk FROM tfsc)
          |WHERE rnk <= 3""".stripMargin)),

    // Unigram-LM fluency scoring (the CCNet-style perplexity filter):
    // per-language LM trained on the doc_id % lmRefMod == 0 reference
    // slice, every doc scored by mean per-token surprisal. Per-token
    // log-probs are integer bit lengths (length(bin(count))-1), so the
    // per-doc sum is exact and the one final division hashes
    // cross-engine — see TextAnalysis.lmSurprisal.
    QueryDef("ta_lm_fluency", (s, dir) =>
      TextAnalysis.lmSurprisal(Tables.documents(s, dir), "doc_id", "lang",
        "text", pmod(col("doc_id"), lit(Cfg.lmRefMod.toLong)) === 0L),
      // Mirrors TextAnalysis.lmSurprisal: integer bit-length weights
      // (length(bin(count))-1 — a string-length op, exact in both
      // engines), one final IEEE division, 4-dp round.
      oracle = s"""WITH $LmFluencyCtes
         |SELECT doc_id, lang, n_tokens, nll_bits FROM fl""".stripMargin),

    // CCNet's selection step on those scores: head/middle/tail buckets
    // at fixed surprisal thresholds, sized in docs and tokens per
    // language — the report a curation run uses to pick how much of
    // each bucket to keep. Exact comparisons on the stable-rounded
    // score; one extra hash aggregate over the scored frame.
    QueryDef("ta_lm_buckets", (s, dir) =>
      TextAnalysis.lmSurprisal(Tables.documents(s, dir), "doc_id", "lang",
          "text", pmod(col("doc_id"), lit(Cfg.lmRefMod.toLong)) === 0L)
        .withColumn("bucket",
          when(col("nll_bits") < Cfg.fluencyHead, "head")
            .when(col("nll_bits") < Cfg.fluencyMid, "middle")
            .otherwise("tail"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("total_tokens")),
      // Fluency scores (shared CTEs) → fixed head/middle/tail thresholds:
      // exact double comparisons on the stable-rounded score, so no
      // percentile-interpolation drift can enter the hash.
      oracle = s"""WITH $LmFluencyCtes
         |SELECT lang,
         |       CASE WHEN nll_bits < ${Cfg.fluencyHead} THEN 'head'
         |            WHEN nll_bits < ${Cfg.fluencyMid} THEN 'middle'
         |            ELSE 'tail' END AS bucket,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         |FROM fl GROUP BY 1, 2""".stripMargin),

    // DSIR importance weights (Xie et al. 2023): every raw-pool doc
    // scored by log p_target − log p_raw of its hashed unigram+bigram
    // bag, with the Cfg.dsirTargetSource slice as the trusted target
    // domain. Integer bit-length log-probs end-to-end (dsir_bits), so
    // the hash cannot wobble — see TextAnalysis.dsirScores.
    QueryDef("ta_dsir", (s, dir) =>
      TextAnalysis.dsirScores(Tables.documents(s, dir), "doc_id", "text",
        col("source") === Cfg.dsirTargetSource, Cfg.dsirBuckets),
      // Mirrors TextAnalysis.dsirScores — integer bit-length importance
      // weights over hashed unigram+bigram buckets, raw pool only.
      oracle = s"""WITH $DsirCtes
         |SELECT doc_id, n_grams, dsir_bits FROM dsc""".stripMargin),

    // DSIR's selection step: the Cfg.dsirKeep docs whose bags look most
    // target-like, ranked (dsir_bits DESC, doc_id ASC) via the bounded
    // TopKByScore aggregate — k rows cross the exchange, not the scored
    // corpus (the deterministic-rank form of the paper's importance
    // resample; dsir_bits < 2^53 so the double-scored buffer is exact).
    QueryDef("ta_dsir_select", (s, dir) => {
      val top = graft.functions.TopK.topKByScore(Cfg.dsirKeep)
      TextAnalysis.dsirScores(Tables.documents(s, dir), "doc_id", "text",
          col("source") === Cfg.dsirTargetSource, Cfg.dsirBuckets)
        .groupBy()
        .agg(top(col("dsir_bits").cast("double"), col("doc_id")).as("__top"))
        .select(posexplode(col("__top")))
        .select(col("col._2").as("doc_id"),
          col("col._1").cast("long").as("dsir_bits"),
          (col("pos") + 1).as("rnk"))
    },
      // The selection step: deterministic (dsir_bits DESC, doc_id ASC)
      // rank, cut at Cfg.dsirKeep.
      oracle = s"""WITH $DsirCtes
         |SELECT doc_id, dsir_bits, CAST(rnk AS INT) AS rnk
         |FROM (SELECT doc_id, dsir_bits,
         |        row_number() OVER (ORDER BY dsir_bits DESC, doc_id ASC) AS rnk
         |      FROM dsc)
         |WHERE rnk <= ${Cfg.dsirKeep}""".stripMargin),

    // BPE merge candidates (tokenizer training, round 1): count every
    // word-internal adjacent character pair across the corpus, rank the
    // top Cfg.bpeTopK — pair generation is narrow per-row work, the
    // count is one map-side-combined aggregate over the pair domain
    // (≤ alphabet², itself bounded), and the global rank is the
    // k-bounded TopKByCount aggregate.
    QueryDef("ta_bpe_pairs", (s, dir) => {
      val counts = Tables.documents(s, dir)
        .select(explode(TextAnalysis.bpePairs(col("text"))).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
      val topk = graft.functions.TopK.topKByCount(Cfg.bpeTopK)
      counts.groupBy()
        .agg(topk(col("cnt"), col("pair")).as("top"))
        .select(posexplode(col("top")).as(Seq("pos", "kv")))
        .select(col("kv._2").as("pair"), col("kv._1").as("cnt"),
          (col("pos") + 1).cast("int").as("rnk"))
    },
      // Mirrors TextAnalysis.bpePairs + the k-bounded count rank
      // ((cnt DESC, pair ASC) — TopKByCount's ordering).
      oracle = s"""WITH t AS (
         |  SELECT unnest(string_split(text, ' ')) AS tok
         |  FROM documents WHERE text IS NOT NULL),
         |p AS (
         |  SELECT unnest(list_transform(range(1, length(tok)), i ->
         |           substr(tok, CAST(i AS INT), 1) || ' ' ||
         |           substr(tok, CAST(i + 1 AS INT), 1))) AS pair
         |  FROM t),
         |c AS (SELECT pair, CAST(count(*) AS BIGINT) AS cnt FROM p GROUP BY 1)
         |SELECT pair, cnt, CAST(rnk AS INT) AS rnk
         |FROM (SELECT *, row_number() OVER (ORDER BY cnt DESC, pair ASC) AS rnk FROM c)
         |WHERE rnk <= ${Cfg.bpeTopK}""".stripMargin),

    // ITERATIVE BPE merge learning — the actual tokenizer-training
    // loop (Sennrich et al.): each round counts adjacent-symbol pairs
    // over the word-frequency table, takes the argmax (one min-struct
    // aggregate + 1-row collect, the kmeans-codebook pattern), and
    // greedily merges it everywhere via the wrapped-symbol replace.
    // The oracle unrolls the same rounds as CTE stages.
    QueryDef("ta_bpe_merges", (s, dir) =>
      TextAnalysis.bpeMerges(Tables.documents(s, dir), "text",
        rounds = Cfg.bpeMergeRounds),
      oracle = graft.operators.TextAnalysis.bpeMergesSql("documents", "text",
        rounds = Cfg.bpeMergeRounds)),

    // Tokenizer round-trip: the corpus re-encoded through the merges
    // ta_bpe_merges just learned — per-doc word count, BPE token
    // count, and the compression the merge table bought. Encode runs
    // over the distinct-word table and joins back on the word.
    QueryDef("ta_bpe_encode", (s, dir) =>
      TextAnalysis.bpeEncode(Tables.documents(s, dir), "doc_id", "text",
        rounds = Cfg.bpeMergeRounds),
      oracle = graft.operators.TextAnalysis.bpeEncodeSql("documents", "doc_id", "text",
        rounds = Cfg.bpeMergeRounds)),

    // Tokenizer DRIFT gate — the monitoring companion of the BPE
    // artifact lifecycle (train once → encode many ingests): merges
    // learned on the BASE corpus only, then base and a drifted ingest
    // (every even doc's text reversed — reversed words are mostly
    // outside the trained vocab, so fewer merges apply) both encode
    // through those frozen merges. tokens_per_word rising on ingest =
    // fertility drift, the measured retrain trigger — same gate shape
    // as indexRecallGate on the ANN side. Encode covers UNSEEN words
    // (chars + whatever merges apply), so the gate never drops novel
    // vocabulary from the stats.
    QueryDef("ta_bpe_drift", (s, dir) => {
      val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .filter(col("text").isNotNull)
      val ingest = base.select(
        when(col("doc_id") % 2 === 0, reverse(col("text")))
          .otherwise(col("text")).as("text"))
      val tagged = base.select(lit("base").as("corpus"), col("text"))
        .unionByName(ingest.select(lit("ingest").as("corpus"), col("text")))
      val merges = TextAnalysis.learnedMerges(base, "text", Cfg.bpeMergeRounds)
      val per = TextAnalysis.bpeEncodeWith(tagged, "corpus", "text", merges)
      val baseTpw = per.filter(col("corpus") === "base")
        .select(col("tokens_per_word").as("__base_tpw"))
      per.crossJoin(broadcast(baseTpw)) // 1-row broadcast dim
        .select(col("corpus"), col("n_words"), col("n_bpe_tokens"),
          col("tokens_per_word"),
          Rounding.stable(col("tokens_per_word") - col("__base_tpw"), 4)
            .as("tpw_drift"))
    },
      // Train on base only; encode base ∪ reversed-ingest through the
      // frozen merges via the separate ev-chain (unseen words included).
      oracle = graft.operators.TextAnalysis.bpeDriftSql(
      "SELECT text FROM documents WHERE text IS NOT NULL",
      """SELECT CASE WHEN doc_id % 2 = 0 THEN reverse(text) ELSE text END AS text
        |FROM documents WHERE text IS NOT NULL""".stripMargin,
      rounds = Cfg.bpeMergeRounds)),

    // BM25 retrieval for a standing query-term set (benchmark-query
    // doc mining): candidates only — the term filter rides inside the
    // token array before the explode — integer micro-unit
    // contributions summed exactly per doc, k-bounded rank.
    QueryDef("ta_bm25_topk", (s, dir) =>
      TextAnalysis.bm25TopK(Tables.documents(s, dir), "doc_id", "text",
        Cfg.bm25Terms, Cfg.bm25TopK, Cfg.bm25K1, Cfg.bm25B),
      // Mirrors TextAnalysis.bm25TopK: same operation order per term, the
      // k1/b-derived float constants interpolated from the SAME Scala
      // doubles, integer micro-unit sum, (score DESC, doc ASC) rank.
      oracle = s"""WITH $bm25CtesSql
         |SELECT doc_id, bm25, rnk FROM bmr""".stripMargin),

    // Reciprocal-rank fusion (Cormack et al.) — the hybrid-retrieval
    // combiner: the BM25 standing-query list fused with the dense
    // cosine list for the standing query vector by Σ 1/(K+rank). Both
    // inputs are k-bounded rankings, so the fusion join and final rank
    // touch ≤ k₁+k₂ rows at any corpus size.
    QueryDef("ta_rrf_fusion", (s, dir) => {
      val bm = TextAnalysis.bm25TopK(Tables.documents(s, dir), "doc_id", "text",
          Cfg.bm25Terms, Cfg.bm25TopK, Cfg.bm25K1, Cfg.bm25B)
        .select(col("doc_id"), col("rnk").as("bm25_rnk"))
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val dense = Similarity.topKBrute(
          emb.filter(col("id") === Cfg.rrfDenseQueryId), emb, Cfg.rrfDenseK)
        .select(col("c_id").as("doc_id"), col("rnk").cast("int").as("cos_rnk"))
      TextAnalysis.rrfFuse(bm, "bm25_rnk", dense, "cos_rnk", "doc_id",
        kConst = Cfg.rrfK, topK = Cfg.rrfTopK)
    },
      // Reciprocal-rank fusion of the BM25 standing-query list with the
      // dense cosine list for the standing query vector — Σ 1/(K+rank),
      // absent list contributes 0, fused rank over the ≤ k₁+k₂ union.
      oracle = s"""WITH $bm25CtesSql,
         |deb AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL),
         |dq AS (SELECT v AS qv FROM deb WHERE id = ${Cfg.rrfDenseQueryId}),
         |dsc AS (
         |  SELECT c.id AS doc_id, round(${sqlCos("qv", "c.v")}, 6) AS cos
         |  FROM dq, deb c WHERE c.id <> ${Cfg.rrfDenseQueryId}),
         |dr AS (
         |  SELECT doc_id, CAST(rnk AS INT) AS rnk
         |  FROM (SELECT *, row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS rnk FROM dsc)
         |  WHERE rnk <= ${Cfg.rrfDenseK}),
         |fj AS (
         |  SELECT coalesce(b.doc_id, d.doc_id) AS doc_id,
         |         b.rnk AS bm25_rnk, d.rnk AS cos_rnk
         |  FROM bmr b FULL OUTER JOIN dr d ON b.doc_id = d.doc_id),
         |fs AS (
         |  SELECT doc_id, bm25_rnk, cos_rnk,
         |         ${Rounding.stableSql(
               s"coalesce(1.0 / (bm25_rnk + ${Cfg.rrfK}), 0) + coalesce(1.0 / (cos_rnk + ${Cfg.rrfK}), 0)",
               6)} AS rrf
         |  FROM fj)
         |SELECT doc_id, bm25_rnk, cos_rnk, rrf, CAST(rnk AS INT) AS rnk
         |FROM (SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS rnk FROM fs)
         |WHERE rnk <= ${Cfg.rrfTopK}""".stripMargin),

    // Winnowing fingerprint profile (Schleimer et al.): per-doc k-gram
    // count, distinct fingerprint count, and order-free integer summary
    // stats of the fingerprint set — the selection layer a
    // contamination screen indexes. Zero shuffle beyond the scan.
    QueryDef("ta_winnow", (s, dir) =>
      TextAnalysis.winnowStats(Tables.documents(s, dir), "doc_id", "text",
        Cfg.winnowK, Cfg.winnowW),
      // Mirrors TextAnalysis.winnowStats over the shared winnow CTEs:
      // order-free integer summary stats of the fingerprint sets.
      oracle = s"""WITH ${winnowCtes(withAt = false)}
         |SELECT doc_id,
         |       CAST(len(hs) AS INT) AS n_kgrams,
         |       CAST(len(fps) AS INT) AS n_fps,
         |       list_min(fps) AS fp_min,
         |       list_max(fps) AS fp_max,
         |       CAST(list_sum(fps) AS BIGINT) AS fp_sum
         |FROM f""".stripMargin),

    // Bigram language-model estimation: P(w2|w1) = c(w1 w2)/c(w1) for
    // the corpus's top-25 bigrams — the statistical-LM table a data
    // pipeline derives before training (rational arithmetic only; both
    // counts shuffle once with map-side combine, the unigram side joins
    // broadcast at |vocab| rows, and the global top-k is a
    // TakeOrderedAndProject cut on (count, bigram)).
    QueryDef("ta_ngram_lm", (s, dir) => {
      val big = TextAnalysis.bigrams(Tables.documents(s, dir), "doc_id", "text")
      val bigc = big.groupBy(col("w").as("w1"), col("w2"))
        .agg(count(lit(1)).as("c2"))
      val unic = big.groupBy(col("w").as("w1")).agg(count(lit(1)).as("c1"))
      bigc.join(broadcast(unic), Seq("w1"))
        .withColumn("cond_p",
          Rounding.stable(col("c2").cast("double") / col("c1"), 4))
        .orderBy(col("c2").desc, col("w1").asc, col("w2").asc)
        .limit(25)
    },
      oracle = """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |bg AS (SELECT doc_id, unnest(l[1:len(l)-1]) AS w1, unnest(l[2:]) AS w2 FROM t),
        |bigc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1, 2),
        |unic AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY 1)
        |SELECT w1, w2, c2, c1,
        |       round((c2::DOUBLE / c1) * 10000) / 10000 AS cond_p
        |FROM bigc JOIN unic USING (w1)
        |ORDER BY c2 DESC, w1 ASC, w2 ASC
        |LIMIT 25""".stripMargin),

    // GROUPING SETS profile with grouping_id — the per-lang, per-source,
    // and per-(lang,source) corpus rollout in ONE Expand pass (three
    // separate aggregations would scan the corpus three times;
    // completes the rollup/pivot multi-dimensional family).
    QueryDef("ta_grouping_sets", (s, dir) =>
      Tables.documents(s, dir)
        .groupingSets(
          Seq(Seq(col("lang")), Seq(col("source")),
            Seq(col("lang"), col("source"))),
          col("lang"), col("source"))
        .agg(grouping_id().cast("int").as("gid"),
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars")),
      oracle = """SELECT lang, source, CAST(GROUPING(lang, source) AS INT) AS gid,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents
        |GROUP BY GROUPING SETS ((lang), (source), (lang, source))""".stripMargin),

    // PII screen: counts + redaction over a corpus with DETERMINISTIC
    // synthetic PII derived from doc_id (testdata text carries none) —
    // emails, phones, in- and out-of-range IPv4s, and a phone-shaped run
    // inside an email local part (counted as email, not phone: counts are
    // progressive, matching the redaction order). Narrow codegen'd map
    // work — one text scan at any scale.
    QueryDef("ta_pii", (s, dir) => {
      val injected = piiInject(col("text"))
      Tables.documents(s, dir).select(
        col("doc_id") +:
          (TextAnalysis.piiCounts(injected).map { case (n, c) => c.as(n) } :+
            TextAnalysis.piiRedact(injected).as("redacted")): _*)
    },
      oracle = {
        val Seq((_, emailPat, _), (_, phonePat, _), (_, ipPat, _)) =
          TextAnalysis.PiiPatterns
        s"""WITH inj AS (
           |  SELECT doc_id, ${piiInjectSql("text")} AS t
           |  FROM documents),
           |r1 AS (SELECT doc_id, t, regexp_replace(t, '$emailPat', '<EMAIL>', 'g') AS t1 FROM inj),
           |r2 AS (SELECT doc_id, t, t1, regexp_replace(t1, '$phonePat', '<PHONE>', 'g') AS t2 FROM r1)
           |SELECT doc_id,
           |       CAST(len(regexp_extract_all(t,  '$emailPat')) AS INT) AS n_email,
           |       CAST(len(regexp_extract_all(t1, '$phonePat')) AS INT) AS n_phone,
           |       CAST(len(regexp_extract_all(t2, '$ipPat')) AS INT) AS n_ipv4,
           |       regexp_replace(t2, '$ipPat', '<IPV4>', 'g') AS redacted
           |FROM r2""".stripMargin
      }),

    // Approximate distinct-token counts per language (HyperLogLog++,
    // 1% rsd) — the sketch an interactive profile uses at 100 TB where
    // exact distinct is a full shuffle of the token universe. The HLL
    // buffer map-side combines, so the exchange carries one sketch per
    // (partition, lang), never the token stream. Raw sketch values are
    // engine-specific and can't hash cross-engine, so this IS the
    // hash-checkable form: each engine runs ITS OWN HLL next to the
    // exact distinct and reports the boolean |approx − exact| / exact
    // ≤ 10%. The booleans agree even though the sketches don't. Exact
    // and approx aggregate separately (5-row join) so the HLL path
    // keeps its sketch-only exchange rather than the expand-based
    // multi-distinct plan. TextAnalysisSpec pins the error bound.
    QueryDef("ta_approx_distinct_gate", (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("token"))
      val exact = toks.groupBy(col("lang"))
        .agg(countDistinct(col("token")).as("exact_tokens"))
      val approx = toks.groupBy(col("lang"))
        .agg(approx_count_distinct(col("token"), 0.01).as("approx"))
      // 10% gate: Spark pins rsd=0.01 but DuckDB's HLL precision is not
      // configurable, so the gate needs margin over BOTH engines' typical
      // error at any sf — 5% held but sat close to DuckDB's worst case.
      exact.join(approx, Seq("lang"))
        .select(col("lang"), col("exact_tokens"),
          (abs(col("approx") - col("exact_tokens")).cast("double") /
            col("exact_tokens") <= 0.10).as("within_10pct"))
    },
      // Each engine judges ITS OWN sketch against the exact count; only
      // the boolean verdicts are compared.
      oracle = """WITH toks AS (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
        |e AS (SELECT lang, CAST(count(DISTINCT token) AS BIGINT) AS exact_tokens FROM toks GROUP BY 1),
        |a AS (SELECT lang, approx_count_distinct(token) AS approx FROM toks GROUP BY 1)
        |SELECT lang, exact_tokens,
        |       CAST(abs(approx - exact_tokens) AS DOUBLE) / exact_tokens <= 0.10 AS within_10pct
        |FROM e JOIN a USING (lang)""".stripMargin),

    // The quantile twin of the HLL gate: ta_length_stats' exact
    // percentile sorts inside each group, which is the test-SF ground
    // truth but not the 100 TB path — there a mergeable quantile sketch
    // (approx_percentile) replaces the sort. Sketch outputs are
    // engine-specific (Spark GK vs DuckDB t-digest), so each engine
    // gates ITS OWN sketch median against its exact median and reports
    // the boolean; the booleans agree even though the sketches don't.
    // Exact and approx aggregate separately (|langs|-row join) so the
    // approx plan keeps its sketch-only exchange.
    QueryDef("ta_quantile_gate", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val exact = docs.groupBy(col("lang"))
        .agg(expr("percentile(n_chars, 0.5D)").as("exact_p50"))
      val approx = docs.groupBy(col("lang"))
        .agg(expr("approx_percentile(n_chars, 0.5D, 10000)").as("approx_p50"))
      exact.join(approx, Seq("lang"))
        .select(col("lang"),
          Rounding.stable(col("exact_p50"), 4).as("exact_p50"),
          (abs(col("approx_p50") - col("exact_p50")) /
            col("exact_p50") <= 0.10).as("within_10pct"))
    },
      // the gate compares against e's UNROUNDED exact_p50 (a real column
      // outranks the lateral alias in DuckDB, same as Spark's select)
      oracle = s"""WITH e AS (SELECT lang, quantile_cont(n_chars, 0.5) AS exact_p50 FROM documents GROUP BY 1),
         |a AS (SELECT lang, approx_quantile(n_chars, 0.5) AS approx_p50 FROM documents GROUP BY 1)
         |SELECT lang, ${Rounding.stableSql("exact_p50", 4)} AS exact_p50,
         |       abs(approx_p50 - exact_p50) / exact_p50 <= 0.10 AS within_10pct
         |FROM e JOIN a USING (lang)""".stripMargin),

    // Count-min-sketch heavy-hitter gate — completes the mergeable-
    // sketch trio (HLL distinct, quantile, CMS counts): the exact
    // global top-k tokens are re-estimated from ONE (ε=10⁻³, δ=0.01,
    // fixed-seed) CMS built in a single pass, and each estimate is
    // gated against the CMS guarantee exact ≤ est ≤ exact + εN. Like
    // ta_quantile_gate, each engine gates ITS OWN sketch (DuckDB has
    // no CMS, so its "sketch" is the exact count — trivially within) —
    // the hashes agree on the boolean while the Spark side genuinely
    // exercises the sketch path a 100 TB count pass would use. The
    // sketch is a bounded driver object (depth·width counters); the
    // estimate loop touches only the k ranked tokens.
    QueryDef("ta_cms_gate", (s, dir) => {
      val sp = s; import sp.implicits._
      val toks = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("token"))
      val counts = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      val topk = graft.functions.TopK.topKByCount(Cfg.cmsTopK)
      val ranked = counts.groupBy()
        .agg(topk(col("cnt"), col("token")).as("top"))
        .select(posexplode(col("top")).as(Seq("pos", "kv")))
        .select(col("kv._2").as("token"), col("kv._1").as("exact_cnt"),
          (col("pos") + 1).cast("int").as("rnk"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
      val cms = toks.stat.countMinSketch("token",
        eps = Cfg.cmsEps, confidence = Cfg.cmsConfidence, seed = Cfg.cmsSeed)
      val slack = math.ceil(Cfg.cmsEps * cms.totalCount()).toLong
      ranked.toSeq.map { case (tok, cnt, rnk) =>
        val est = cms.estimateCount(tok)
        (tok, cnt, rnk, est >= cnt && est <= cnt + slack)
      }.toDF("token", "exact_cnt", "rnk", "within_bounds")
    },
      // Exact top-k + the trivially-true own-sketch gate (quantile-gate
      // precedent: DuckDB has no CMS; its exact "sketch" is within by
      // definition while Spark's side genuinely checks its CMS).
      oracle = s"""WITH c AS (
         |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
         |g AS (SELECT token, CAST(count(*) AS BIGINT) AS exact_cnt FROM c GROUP BY 1)
         |SELECT token, exact_cnt, CAST(rnk AS INT) AS rnk, true AS within_bounds
         |FROM (SELECT *, row_number() OVER (ORDER BY exact_cnt DESC, token ASC) AS rnk FROM g)
         |WHERE rnk <= ${Cfg.cmsTopK}""".stripMargin),

    // Batch shadow of StreamingVocab.heavyHitters: every emitEvery=500
    // milestone each token's lifetime count has crossed — count per
    // token (map-side combined), then explode(sequence(...)) generates
    // exactly the milestone rows the stream would have emitted.
    QueryDef("ta_vocab_milestones", (s, dir) => {
      val emitEvery = 500L
      Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= emitEvery)
        .select(col("token"),
          explode(sequence(lit(1L), floor(col("cnt") / emitEvery).cast("long")))
            .as("m"))
        .select(col("token"), (col("m") * emitEvery).as("count"))
    },
      oracle = """WITH c AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |g AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY 1)
        |SELECT token, CAST(m * 500 AS BIGINT) AS "count"
        |FROM (SELECT token, unnest(generate_series(1, cnt // 500)) AS m
        |      FROM g WHERE cnt >= 500)""".stripMargin)
  )
}
