package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._

/** Plan and oracle helpers that two or more query families use: the
  * re-crawled corpus and its minhash pairs, the multimodal rollups, the
  * quality, token, shingle and minhash CTE blocks, the SQL vector
  * kernels and the k-means CTE chain. The oracle helpers' SQL must
  * mirror the Scala constants exactly — seeds, bit counts, plane
  * literals. It references no family object and not the registry, so
  * initialising it can never cycle back into a family.
  */
private[queries] object Shared {

  private val Cfg = PipelineConfig.Default

  /** "Re-crawled" corpus for the dedup queries: documents twice, second
    * copy with shifted ids — guarantees real duplicate groups.
    */
  def recrawl(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000))
  }

  /** The [[recrawl]] corpus with its verified minhash near-dup pairs
    * (doc_a, doc_b) — the chain dedup_clusters, dedup_soft,
    * ta_split_leakage and ta_quality_smooth share. The signatures feeding
    * both band-join sides are checkpointed EAGERLY (r22): lazy sig blocks
    * race on the broadcast pool (see OPTIMIZATION_r22). They stay narrow
    * (sigs, not the fatter shingleFrame — see dedup_minhash).
    */
  def recrawlPairs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val corpus = recrawl(s, dir)
    val sig = Dedup.signatures(corpus, "doc_id", "text", Cfg.nSig)
      .localCheckpoint(eager = true)
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text",
        numBands = Cfg.numBands, rowsPerBand = Cfg.rowsPerBand,
        threshold = Cfg.nearDupThreshold,
        maxBucket = Cfg.maxBucket, sigs = Some(sig))
      .select(col("doc_a"), col("doc_b"))
    (corpus, pairs)
  }

  /** Rollup over an ALREADY-ATTACHED payload — e9/mm_profile attach the
    * md5-per-block payload once and feed both this and the audio side
    * (the block hashing is the query's most expensive narrow stage;
    * computing it per-signal would double it).
    */
  def videoDupRollupFrom(withPayload: DataFrame): DataFrame = {
    val sigs = Multimodal.frameSignatures(withPayload)
    val canon = sigs.groupBy(col("frame_sig"))
      .agg(min(struct(col("doc_id"), col("frame_id"))).as("c"))
    sigs.join(canon, Seq("frame_sig"))
      .withColumn("is_dup",
        !(col("doc_id") === col("c").getField("doc_id") &&
          col("frame_id") === col("c").getField("frame_id")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("is_dup"), lit(1L)).otherwise(lit(0L))).as("n_dup"))
      .withColumn("dup_frac", Rounding.stable(
        col("n_dup").cast("double") / col("n_frames"), 4))
      .select(col("doc_id"), col("n_frames"), col("n_dup"),
        col("dup_frac"),
        (col("dup_frac") < lit(Cfg.mmDupFrameMax)).as("keep"))
  }

  /** Per-doc audio speech-window fraction (e9_av_curation's audio
    * signal, mm_profile's per-format input) over an ALREADY-ATTACHED
    * payload (shared with the video side — see [[videoDupRollupFrom]]):
    * stable-rounded share of windows whose byte-energy clears
    * `audioEnergyThreshold`.
    */
  def speechFracPerDoc(withPayload: DataFrame): DataFrame =
    Multimodal.audioWindows(withPayload)
      .groupBy(col("doc_id"))
      .agg(Rounding.stable(
        sum(when(col("energy") >= lit(Cfg.audioEnergyThreshold.toLong),
          lit(1.0)).otherwise(lit(0.0))) / count(lit(1)), 4)
        .as("speech_frac"))

  /** Deterministic PII fixture (ta_pii / e6): appends id-derived email /
    * phone / IPv4 / mixed tokens to ~1/3, 1/4, 1/5, 1/7 of docs — the
    * synthetic corpus has no natural PII, so the scrub stage's work is
    * injected reproducibly; `piiInjectSql` is the SQL mirror. Requires a
    * `doc_id` column in scope.
    */
  def piiInject(textCol: Column): Column = concat(
    textCol,
    when(col("doc_id") % 3 === 0, concat(lit(" contact user"),
      col("doc_id").cast("string"), lit("@example"),
      (col("doc_id") % 7).cast("string"), lit(".com"))).otherwise(lit("")),
    when(col("doc_id") % 4 === 0, concat(lit(" call 555-867-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
    when(col("doc_id") % 5 === 0, concat(lit(" from 10."),
      (col("doc_id") % 300).cast("string"), lit(".0.1"))).otherwise(lit("")),
    when(col("doc_id") % 7 === 0,
      lit(" id 555-123-4567@mail.example.org")).otherwise(lit("")))

  val RecrawlCte =
    "corpus AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id + 1000000, text FROM documents)"

  /** Quality-signal scan over `src` — the SQL mirror of
    * TextAnalysis.qualityColumns' intermediate counts, shared by
    * ta_quality and e3_curation.
    */
  def qualityCteSql(src: String): String =
    s"""SELECT doc_id, text,
       |         CAST(len(string_split_regex(trim(text), ' +')) AS INT) AS n_tokens,
       |         length(replace(text, ' ', ''))::DOUBLE AS content_chars,
       |         CAST(len(regexp_extract_all(lower(text), '\\bthe\\b')) + len(regexp_extract_all(lower(text), '\\ba\\b')) AS INT) AS stop_hits,
       |         CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS INT) AS punct_hits
       |  FROM $src""".stripMargin

  /** Shared token/bigram/tfidf CTE chains (DuckDB side of
    * TextAnalysis.repetition / tfidf / bigrams) — aligned multi-unnest
    * zips l[1:len-1] with l[2:] positionally for bigrams, because
    * generate_series cannot lateral-reference a column. Used by
    * ta_repetition, ta_tfidf, and the e5 flagship.
    */
  def tokenCountCtes(src: String): String =
    s"""rt AS (SELECT doc_id, string_split(text, ' ') AS l FROM $src),
       |tok AS (SELECT doc_id, unnest(l) AS w FROM rt),
       |tokc AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
       |toka AS (SELECT doc_id, sum(c) AS tot, max(c) AS mx FROM tokc GROUP BY 1)""".stripMargin

  val BigramCtes: String =
    """bg AS (SELECT doc_id, unnest(l[1:len(l)-1]) || ' ' || unnest(l[2:]) AS b FROM rt),
      |bgc AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2),
      |bga AS (SELECT doc_id, sum(c) AS tot2, max(c) AS mx2, count(*) AS dst2 FROM bgc GROUP BY 1)""".stripMargin

  val RepTopTokSql = "round((mx::DOUBLE / tot) * 10000) / 10000"

  val RepDupBgSql = "round((1 - dst2::DOUBLE / tot2) * 10000) / 10000"

  val RepFlagSql =
    s"($RepTopTokSql >= 0.12 OR coalesce($RepDupBgSql >= 0.05, false))"

  /** tfidf scores over tokenCountCtes' `tokc`; `src` supplies the corpus
    * count N.
    */
  def tfidfScoreCtes(src: String): String =
    s"""tf_tot AS (SELECT doc_id, sum(c) AS tot FROM tokc GROUP BY 1),
       |dfreq AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tokc GROUP BY 1),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM $src),
       |tfsc AS (
       |  SELECT doc_id, w,
       |         round(((c::DOUBLE / tot) * ((n - df + 0.5) / (df + 0.5))) * 10000) / 10000 AS tfidf
       |  FROM tokc JOIN tf_tot USING (doc_id) JOIN dfreq USING (w) CROSS JOIN n)""".stripMargin

  /** The rounded quality score over qualityCteSql's columns. */
  val QualitySql: String =
    """round((least(1.0, greatest(0.0,
      |         0.08 * (content_chars / n_tokens)
      |         + 0.5 * (stop_hits::DOUBLE / n_tokens)
      |         - (punct_hits::DOUBLE / length(text))))) * 10000) / 10000""".stripMargin

  val WsTokensSql: String =
    """CAST(len(string_split_regex(trim(text), '\s+')) AS INT)"""

  /** SQL mirrors of Dedup.tokenValues / shingleValuesFromTokens — the
    * 48-bit nibble packing of md5(token) and the positional 3-gram
    * combination, shared by the minhash and ngram oracles.
    */
  val TokenValsSql: String =
    "list_transform(string_split(text, ' '), t -> ('0x' || substr(md5(t), 1, 12))::BIGINT)"

  val ShingleValsSql: String = {
    val P = Dedup.MinhashP
    val combine =
      s"((tv[i] % $P) * ${Dedup.ShingleC1} + (tv[i+1] % $P) * ${Dedup.ShingleC2} + tv[i+2]) % $P"
    s"""list_distinct(
       |    CASE WHEN len(tv) >= 3
       |         THEN list_transform(range(1, len(tv) - 1), i -> $combine)
       |         ELSE [tv[1]] END)""".stripMargin
  }

  val MinhashJaccardSql: String =
    Rounding.stableSql("len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(list_distinct(sa.sh || sb.sh))", 4)

  /** The shared minhash CTE chain (corpus → token values → shingles →
    * signatures → band keys → candidate pairs) over the re-crawled
    * corpus. `pairPred` selects which banded collisions count as
    * candidates (self-dedup: ordered pairs; incremental: base-side ×
    * batch-side only), with the a/b doc ids surfaced under
    * `aName`/`bName`. `maxBucket` mirrors Dedup's hot-bucket guard
    * (rows of buckets above the cap are dropped before pairing) for the
    * oracles whose Spark side runs the capped `minhashPairs`; None for
    * the joint base+batch oracles (`minhashPairsBetween` carries no
    * inline cap — see its scaladoc).
    */
  def minhashCtes(numBands: Int, rowsPerBand: Int,
      pairPred: String, aName: String, bName: String,
      maxBucket: Option[Int] = None,
      canonicalDomain: Boolean = false): String = {
    val P = Dedup.MinhashP
    val sigCols = (0 until numBands * rowsPerBand).map { k =>
      val (a, b) = (Dedup.minhashA(k), Dedup.minhashB(k))
      s"list_aggregate(list_transform(sh, v -> ((v % $P) * $a + $b) % $P), 'min') AS sig_$k"
    }.mkString(",\n         ")
    val bandCases = (0 until numBands).map { b =>
      val parts = (0 until rowsPerBand).map(r => s"sig_${b * rowsPerBand + r}::VARCHAR").mkString(" || '|' || ")
      s"WHEN $b THEN md5($parts)"
    }.mkString(" ")
    // canonicalDomain (e4): sig/banding run over exact-canonical docs
    // only (min doc_id per md5(text)); `exc`/`em` are exposed for the
    // caller's copy-edge and canonical-id CTEs
    val canonCtes = if (canonicalDomain)
      s"""exc AS (SELECT md5(text) AS h, min(doc_id) AS cid FROM corpus GROUP BY md5(text)),
         |em AS (SELECT doc_id, cid FROM (SELECT doc_id, md5(text) AS h FROM corpus) e0 JOIN exc USING (h)),
         |""".stripMargin else ""
    val sigSrc = if (canonicalDomain)
      "sh JOIN (SELECT cid AS doc_id FROM exc) cd USING (doc_id)" else "sh"
    s"""$RecrawlCte,
       |tvals AS (
       |  SELECT doc_id, $TokenValsSql AS tv
       |  FROM corpus),
       |sh AS (
       |  SELECT doc_id, $ShingleValsSql AS sh
       |  FROM tvals),
       |${canonCtes}sig AS (
       |  SELECT doc_id,
       |         $sigCols
       |  FROM $sigSrc),
       |banded AS (
       |  SELECT doc_id, band_id,
       |         CASE band_id $bandCases END AS band_key
       |  FROM sig, (SELECT unnest(range(0, $numBands)) AS band_id)),${maxBucket
           .map(cap => s"""
       |bandedc AS (
       |  SELECT doc_id, band_id, band_key FROM (
       |    SELECT *, count(*) OVER (PARTITION BY band_id, band_key) AS bn
       |    FROM banded)
       |  WHERE bn <= $cap),""").getOrElse("")}
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS $aName, b.doc_id AS $bName
       |  FROM ${if (maxBucket.isDefined) "bandedc" else "banded"} a
       |  JOIN ${if (maxBucket.isDefined) "bandedc" else "banded"} b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND $pairPred)""".stripMargin
  }

  /** Bloom-screen oracle shared by dedup_bloom and dedup_bloom_sharded
    * (identical result sets by construction — the sharded probe is
    * verdict-identical at the same filter size, and the oracle's
    * join-form build/probe is already the sharded shape): same md5-slice
    * bit positions re-derived relationally — build = bit_or per 32-bit
    * word, probe = every bit set via a LEFT JOIN on word. Filter size
    * scales with the base count exactly as Dedup.bloomWordsFor:
    * greatest(2048, 4·n) words, via the bn scalar.
    */
  /** The bucketed-cosine pair CTE chain shared by dedup_embedding and
    * ta_split_leakage_semantic: re-encoded copies unioned in, LSH
    * bucketing with the hot-cell cap, within-bucket pairs `p` carrying
    * 6-dp cosine. Consumers append their own filter/aggregation.
    */
  lazy val CosinePairCtesSql: String =
    s"""e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |corpus AS (SELECT id, v FROM e
       |           UNION ALL SELECT id + 100000, list_transform(v, x -> x * 1.5) FROM e),
       |b0 AS (SELECT id, v, ${lshBucketSql("v", Cfg.cosNumPlanes, 64)} AS bucket FROM corpus),
       |b AS (SELECT id, v, bucket FROM (
       |        SELECT *, count(*) OVER (PARTITION BY bucket) AS cn FROM b0)
       |      WHERE cn <= ${Cfg.cosMaxCell}),
       |p AS (
       |  SELECT a.id AS vec_a, c.id AS vec_b, round(${sqlCos("a.v", "c.v")}, 6) AS cos
       |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.id < c.id)""".stripMargin

  lazy val bloomOracleSql: String = {
    def posList(textExpr: String) = (0 until Dedup.BloomHashes).map(i =>
      s"('0x' || substr(md5($textExpr), ${i * 8 + 1}, 8))::BIGINT % ((SELECT w FROM bn) * 32)")
      .mkString("[", ", ", "]")
    s"""WITH base AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
       |bn AS (SELECT greatest(${Dedup.BloomWords}, 4 * count(*)) AS w FROM base),
       |batch AS (
       |  SELECT doc_id + 1000000 AS doc_id,
       |         CASE WHEN doc_id % 3 = 0
       |              THEN text || ' novel ' || CAST(doc_id AS VARCHAR)
       |              ELSE text END AS text
       |  FROM documents WHERE text IS NOT NULL),
       |bp AS (SELECT unnest(${posList("text")}) AS p FROM base),
       |bb AS (SELECT p // 32 AS w, bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS m
       |       FROM bp GROUP BY 1),
       |pp AS (SELECT doc_id, text, unnest(${posList("text")}) AS p FROM batch),
       |ph AS (SELECT doc_id, text, p // 32 AS w, CAST(p % 32 AS INT) AS b FROM pp),
       |hit AS (
       |  SELECT doc_id, text,
       |         bool_and(m IS NOT NULL AND ((m >> b) & 1) = 1) AS maybe_in_base
       |  FROM ph LEFT JOIN bb USING (w) GROUP BY doc_id, text),
       |ex AS (SELECT DISTINCT md5(text) AS h FROM base)
       |SELECT hit.doc_id, hit.maybe_in_base,
       |       (ex.h IS NOT NULL) AS in_base,
       |       (hit.maybe_in_base AND ex.h IS NULL) AS is_fp
       |FROM hit LEFT JOIN ex ON md5(hit.text) = ex.h""".stripMargin
  }

  /** Connected components over the verified near-dup pairs as a recursive
    * CTE: walk accumulates every label reachable from a node; min = the
    * component-min id — the unique fixpoint the Spark label-propagation
    * loop also converges to.
    */
  def clustersWalkCtes(numBands: Int, rowsPerBand: Int, threshold: Double): String =
    s"WITH RECURSIVE ${minhashCtes(numBands, rowsPerBand, "a.doc_id < b.doc_id", "doc_a", "doc_b",
      Some(Cfg.maxBucket))},\n" +
      s"""verified AS (
         |  SELECT doc_a, doc_b
         |  FROM pairs JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b
         |  WHERE $MinhashJaccardSql >= $threshold),
         |nodes AS (SELECT DISTINCT doc_id FROM corpus),
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM verified
         |  UNION ALL SELECT doc_b, doc_a FROM verified),
         |walk(node, lab) AS (
         |  SELECT doc_id, doc_id FROM nodes
         |  UNION
         |  SELECT e.b, w.lab FROM walk w JOIN edges e ON e.a = w.node),
         |cl AS (
         |  SELECT node AS doc_id, CAST(min(lab) AS BIGINT) AS cluster_id
         |  FROM walk GROUP BY node)""".stripMargin

  /** Explicit sequential dot/norm so summation order matches Spark's
    * aggregate fold.
    */
  def sqlDot(a: String, b: String) =
    s"list_sum(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i]))"

  def sqlCos(a: String, b: String) =
    s"round(${sqlDot(a, b)} / (sqrt(${sqlDot(a, a)}) * sqrt(${sqlDot(b, b)})), 6)"

  def sqlD2(a: String, b: String) =
    s"list_sum(list_transform(range(1, len($a) + 1), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"

  /** TextAnalysis.winnowFrame as CTEs ending in `f(doc_id[, at], hs,
    * fps)` — shared by ta_winnow and st13_winnow_scan. 48-bit md5
    * k-gram hashes, min per INCLUSIVE list slice `hs[j : j+w−1]`
    * (≡ Spark's slice(hs, j, w)), deduplicated. `withAt` carries the
    * st8-layout arrival second (1704067200 + doc_id) for the
    * first-arrival ownership CTEs.
    */
  def winnowCtes(withAt: Boolean): String = {
    val (k, w) = (Cfg.winnowK, Cfg.winnowW)
    val (b, p) = (graft.operators.TextAnalysis.WinnowBase,
      graft.operators.TextAnalysis.WinnowMod)
    // pow(j) = B^j mod P — the same plan-time table the Spark side bakes
    val pow = Array.iterate(1L, k)(x => x * b % p)
    val kTerms = (0 until k)
      .map(j => s"cs[i + $j] * ${pow(k - 1 - j)} % $p").mkString(" + ")
    val at = if (withAt) ", at" else ""
    val atDef = if (withAt) ", 1704067200 + doc_id AS at" else ""
    s"""d AS (
       |  SELECT doc_id$atDef, text, length(text) AS n
       |  FROM documents WHERE text IS NOT NULL),
       |c AS (
       |  SELECT doc_id$at, n,
       |         list_transform(range(1, n + 1), i ->
       |           CAST(ord(substr(text, CAST(i AS INT), 1)) AS BIGINT)) AS cs
       |  FROM d),
       |h AS (
       |  SELECT doc_id$at,
       |         CASE WHEN n >= $k THEN
       |           list_transform(range(1, n - $k + 2), i -> ($kTerms) % $p)
       |         WHEN n = 0 THEN [CAST(0 AS BIGINT)]
       |         ELSE [list_reduce(cs, (a, x) -> (a * $b + x) % $p)] END AS hs
       |  FROM c),
       |f AS (
       |  SELECT doc_id$at, hs,
       |         list_distinct(
       |           CASE WHEN len(hs) >= $w THEN
       |             list_transform(range(1, len(hs) - $w + 2), j ->
       |               list_min(hs[CAST(j AS INT) : CAST(j + $w - 1 AS INT)]))
       |           ELSE [list_min(hs)] END) AS fps
       |  FROM h)""".stripMargin
  }

  /** Similarity.kmeans unrolled for Cfg.kmeansIters = 2: seeds → assign
    * (a1) → fixed-point centroid update (c1) → final assign (a20; filter
    * rn = 1 to consume). Shared by sim_kmeans, sim_kmeans_quality, and
    * sim_diversity_sample. The require turns a Cfg.kmeansIters bump into
    * a loud failure instead of three opaque hash mismatches.
    */
  /** The unrolled 2-pass Lloyd CTE chain over an injectable corpus body
    * (`e AS (eBody)`) and cluster count `k`: sim_kmeans and friends
    * cluster the raw embeddings at Cfg.kmeansK; dedup_semantic clusters
    * the paraphrase-augmented corpus; sim_ivf_ann trains its k=nLists
    * coarse codebook. One definition keeps every kmeans oracle in
    * lock-step with the plan. The `c1` CTE is the trained codebook
    * (Similarity.trainedCentroids); `a20` rn=1 the final assignment.
    */
  def kmeansCtesOver(eBody: String, k: Int = Cfg.kmeansK,
      p: String = "", metric: String = "cosine"): String = {
    require(Cfg.kmeansIters == 2,
      s"KmeansCtes unrolls exactly 2 Lloyd passes; Cfg.kmeansIters=${Cfg.kmeansIters}")
    // the assignment score, mirroring lloydCore's metric switch: 6-dp
    // cosine (higher better) or NEGATED 6-dp squared L2 — both rank
    // DESC with ties to the lower cid
    def score(v: String, cv: String): String =
      if (metric == "l2") s"(0.0 - round(${sqlD2(v, cv)}, 6))" else sqlCos(v, cv)
    s"""${p}e AS ($eBody),
       |${p}init AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v AS cv
       |  FROM (SELECT vec_id, v FROM ${p}e ORDER BY vec_id LIMIT $k)),
       |${p}a10 AS (
       |  SELECT ${p}e.vec_id, ${p}init.cid, ${p}e.v,
       |         row_number() OVER (PARTITION BY ${p}e.vec_id ORDER BY ${score(s"${p}e.v", s"${p}init.cv")} DESC, ${p}init.cid ASC) AS rn
       |  FROM ${p}e CROSS JOIN ${p}init),
       |${p}a1 AS (SELECT vec_id, cid, v FROM ${p}a10 WHERE rn = 1),
       |${p}c1c AS (
       |  SELECT cid, unnest(range(1, len(v) + 1)) AS i,
       |         CAST(round(unnest(v) * 1000000) AS BIGINT) AS q
       |  FROM ${p}a1),
       |${p}c1s AS (SELECT cid, i, sum(q) AS sq, CAST(count(*) AS BIGINT) AS n
       |        FROM ${p}c1c GROUP BY 1, 2),
       |${p}c1 AS (SELECT cid, list(sq::DOUBLE / (n * 1000000.0) ORDER BY i) AS cv
       |       FROM ${p}c1s GROUP BY 1),
       |${p}a20 AS (
       |  SELECT ${p}e.vec_id, ${p}c1.cid, ${score(s"${p}e.v", s"${p}c1.cv")} AS cos,
       |         row_number() OVER (PARTITION BY ${p}e.vec_id ORDER BY ${score(s"${p}e.v", s"${p}c1.cv")} DESC, ${p}c1.cid ASC) AS rn
       |  FROM ${p}e CROSS JOIN ${p}c1)""".stripMargin
  }

  lazy val KmeansCtes: String = kmeansCtesOver(
    "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL")

  def lshBucketSql(v: String, numPlanes: Int, dim: Int): String =
    Similarity.hyperplanes(numPlanes, dim).map { w =>
      val lits = w.mkString(",")
      s"(CASE WHEN list_sum(list_transform(range(1, ${dim + 1}), i -> $v[i] * ([$lits]::DOUBLE[])[i])) > 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")

  /** Shared hashed-linear classifier CTE chain (ta_quality_clf /
    * ta_source_cap / e6): ends in `tcl(doc_id, $carryCols, n_tokens,
    * clf_score)` over `$textExpr` of `$src`. Bucket/weight arithmetic is
    * all-integer (list_sum exact); only the final division is IEEE,
    * stable-rounded — TextAnalysis.clfColumns' mirror. Margin-bearing
    * raw text for a stripMargin consumer.
    */
  def clfCtesSql(src: String = "documents",
      textExpr: String = "text", carryCols: String = "source"): String =
    s"""tcl0 AS (
       |  SELECT doc_id, $carryCols,
       |         string_split_regex(trim($textExpr), ' +') AS toks
       |  FROM $src WHERE $textExpr IS NOT NULL),
       |tclw AS (
       |  SELECT doc_id, $carryCols, CAST(len(toks) AS INT) AS n_tokens,
       |         CAST(list_sum(list_transform(toks, tk ->
       |           ((('0x' || substr(md5(tk), 1, 4))::BIGINT % ${TextAnalysis.ClfBuckets}) * 37 + 11)
       |             % ${TextAnalysis.ClfWeightMod} - 48)) AS BIGINT) AS sw
       |  FROM tcl0),
       |tcl AS (
       |  SELECT doc_id, $carryCols, n_tokens,
       |         ${Rounding.stableSql(s"sw::DOUBLE / (n_tokens * ${TextAnalysis.ClfWeightMod})", 6)} AS clf_score
       |  FROM tclw)"""

  /** SQL mirror of [[piiInject]]. ONE line on purpose: the `||` concat
    * operators would lose a leading `|` to a consumer's stripMargin if
    * this ever line-wrapped.
    */
  def piiInjectSql(textExpr: String): String =
    s"$textExpr || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example' || CAST(doc_id % 7 AS VARCHAR) || '.com' ELSE '' END || CASE WHEN doc_id % 4 = 0 THEN ' call 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END || CASE WHEN doc_id % 5 = 0 THEN ' from 10.' || CAST(doc_id % 300 AS VARCHAR) || '.0.1' ELSE '' END || CASE WHEN doc_id % 7 = 0 THEN ' id 555-123-4567@mail.example.org' ELSE '' END"

  /** Shared paragraph-dedup CTE chain (dedup_paragraph / e6) over a
    * `corpus(doc_id, text)` CTE: ends in `pd(doc_id, n_paras, n_kept,
    * clean_text)` — Dedup.paragraphDedup's mirror (first occurrence =
    * rn 1 over (doc_id, para_id); string_agg skips the CASE's NULLs
    * like collect_list; empty groups coalesce to ''). Margin-bearing.
    */
  def paragraphCtesSql: String = {
    val b = Cfg.paraBlockTokens
    s"""pdt AS (SELECT doc_id, string_split(text, ' ') AS tv
       |        FROM corpus WHERE text IS NOT NULL),
       |pde AS (SELECT doc_id, tv,
       |               UNNEST(generate_series(0, (len(tv) - 1) // $b)) AS para_id
       |        FROM pdt),
       |pdp AS (SELECT doc_id, para_id,
       |               array_to_string(tv[para_id*$b+1 : para_id*$b+$b], ' ') AS para_text
       |        FROM pde),
       |pdr AS (SELECT *, row_number() OVER (PARTITION BY md5(para_text)
       |                                     ORDER BY doc_id, para_id) AS rn
       |        FROM pdp),
       |pd AS (SELECT doc_id, count(*) AS n_paras,
       |              count(CASE WHEN rn = 1 THEN 1 END) AS n_kept,
       |              coalesce(string_agg(CASE WHEN rn = 1 THEN para_text END, ' ' ORDER BY para_id), '') AS clean_text
       |       FROM pdr GROUP BY doc_id)"""
  }

  /** BM25 CTE chain (ta_bm25_topk / ta_rrf_fusion): candidate-term
    * occurrences → integer micro-unit Robertson contributions → exact
    * per-doc sums → `bmr(doc_id, bm25, rnk)` (rnk ≤ bm25TopK).
    */
  def bm25CtesSql: String = {
    val (k1, b) = (Cfg.bm25K1, Cfg.bm25B)
    val termList = Cfg.bm25Terms.map(t => s"'$t'").mkString("[", ", ", "]")
    s"""dtl AS (
       |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
       |  WHERE text IS NOT NULL),
       |occ AS (
       |  SELECT doc_id, len(ts) AS dl,
       |         unnest(list_filter(ts, t -> list_contains($termList, t))) AS term
       |  FROM dtl),
       |tf AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf,
       |         max(dl) AS dl
       |  FROM occ GROUP BY 1, 2),
       |dfd AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |tot AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(len(ts)) AS BIGINT) AS tot_dl
       |  FROM dtl),
       |sc AS (
       |  SELECT tf.doc_id,
       |         CAST(round((tot.n_docs - dfd.df + 0.5) / (dfd.df + 0.5)
       |           * (tf.tf * ${k1 + 1})
       |           / (tf.tf + ${k1} * (${1 - b} + ${b} * tf.dl
       |                / (CAST(tot.tot_dl AS DOUBLE) / tot.n_docs)))
       |           * 1000000.0) AS BIGINT) AS contrib_u
       |  FROM tf JOIN dfd USING (term) CROSS JOIN tot),
       |agg AS (
       |  SELECT doc_id, CAST(sum(contrib_u) AS BIGINT) AS score_u
       |  FROM sc GROUP BY 1),
       |bmr AS (
       |  SELECT doc_id, CAST(score_u AS DOUBLE) / 1000000.0 AS bm25,
       |         CAST(rnk AS INT) AS rnk
       |  FROM (SELECT *, row_number() OVER (ORDER BY score_u DESC, doc_id ASC) AS rnk
       |        FROM agg)
       |  WHERE rnk <= ${Cfg.bm25TopK})""".stripMargin
  }

  /** One packed 32-bit half of the binary sign code (bit i set iff dim
    * off+1+i is strictly > 0): exact shifted-1 sums, matching
    * Similarity.binaryCodes' pow-2 fold value-for-value (both are exact
    * integers ≤ 2³²−1). CAST: list_sum over BIGINT is HUGEINT, which
    * pandas would render float64 against Spark's int64.
    */
  def binaryHalfSql(off: Int): String =
    s"CAST(list_sum(list_transform(range(0, 32), i -> CASE WHEN v[i + ${off + 1}] > 0 THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT)"

  /** Shared DuckDB CTE prefix for the frame plane — the relational
    * mirror of `attachVideoPayload` (= `attachAudioPayload`) plus the
    * decoder fan-out: tokens → one block per `b` tokens → per-block
    * md5. Every frame/audio oracle builds on `vm` (doc_id, frame_id,
    * mx) so the payload arithmetic lives in exactly one place.
    */
  def frameBlockCtes(b: Int): String =
    s"""vt AS (SELECT doc_id, string_split(text, ' ') AS tv
       |           FROM documents WHERE text IS NOT NULL),
       |ve AS (SELECT doc_id, tv,
       |              UNNEST(generate_series(0, (len(tv) - 1) // $b)) AS fid
       |       FROM vt),
       |vm AS (SELECT doc_id, CAST(fid AS INT) AS frame_id,
       |              md5(array_to_string(tv[fid*$b+1 : fid*$b+$b], ' ')) AS mx
       |       FROM ve)""".stripMargin

  /** vm's per-frame perceptual-hash signature (FakeDecoder
    * .frameSignature's 14-hex-char prefix).
    */
  val FrameSigCte: String =
    "vs AS (SELECT doc_id, frame_id, substr(mx, 1, 14) AS frame_sig FROM vm)"

  /** df-capped distinct posting chain over `vs` — the relational
    * mirror of videoNearDupPairs' inverted index (and
    * writeFrameSigIndex's build cap): distinct (doc, sig), per-doc
    * signature counts, postings restricted to sigs within the cap.
    */
  def frameSigPostCtes(dfCap: Int): String =
    s"""ds AS (SELECT DISTINCT doc_id, frame_sig FROM vs),
       |nf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nf
       |       FROM ds GROUP BY doc_id),
       |dfq AS (SELECT frame_sig FROM ds GROUP BY frame_sig
       |        HAVING count(*) <= $dfCap),
       |post AS (SELECT ds.doc_id, ds.frame_sig FROM ds JOIN dfq USING (frame_sig))""".stripMargin

  /** Unsigned-byte sum of the 16-byte md5 hex in column `mx`, decoded
    * nibble-pairwise (odd hex chars weigh 16) — the SQL twin of
    * FakeDecoder.windowEnergy / decodeBrightness's numerator.
    */
  val NibbleSumSql: String =
    """list_sum(list_transform(range(1, 33), i ->
      |                (CASE WHEN ascii(substr(mx, i, 1)) >= 97
      |                      THEN ascii(substr(mx, i, 1)) - 87
      |                      ELSE ascii(substr(mx, i, 1)) - 48 END)
      |                * (CASE WHEN i % 2 = 1 THEN 16 ELSE 1 END)))""".stripMargin

  /** Shared oracle for mm_audio_segments and its stateless streaming
    * twin st18_audio_scan (the per-row fold is bit-identical to the
    * windowed batch form by construction, so one SQL pins both): the
    * payload windows are md5-per-block, so window energy ≡ the
    * unsigned-byte sum of the block md5; the islands fold with the
    * running flag-change count, which doubles as the segment id.
    */
  def audioSegmentsSql: String =
    s"""WITH ${frameBlockCtes(Cfg.paraBlockTokens)},
       |en AS (SELECT doc_id, frame_id AS window_id,
       |              CAST($NibbleSumSql AS BIGINT) AS energy
       |       FROM vm),
       |ac AS (SELECT *, energy >= ${Cfg.audioEnergyThreshold} AS is_speech
       |       FROM en),
       |ch AS (SELECT *, CASE WHEN lag(is_speech)
       |                OVER (PARTITION BY doc_id ORDER BY window_id)
       |              IS DISTINCT FROM is_speech THEN 1 ELSE 0 END AS chg
       |       FROM ac),
       |il AS (SELECT *, sum(chg) OVER (PARTITION BY doc_id
       |                                ORDER BY window_id) AS isl
       |       FROM ch)
       |SELECT doc_id, CAST(isl AS INT) AS seg_id, is_speech,
       |       CAST(min(window_id) AS INT) AS start_window,
       |       CAST(count(*) AS BIGINT) AS n_windows,
       |       CAST(sum(energy) AS BIGINT) AS seg_energy
       |FROM il GROUP BY doc_id, is_speech, isl""".stripMargin
}
