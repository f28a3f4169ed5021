package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.queries.Shared._
import graft.sources.Artifacts

/** Vector similarity (sim_*): exact and approximate top-k (LSH, IVF,
  * SQ, PQ, IVF-PQ, binary codes), their recall measurements, k-means
  * and the retrieval eval loop with its standing codebooks.
  */
private[graft] object SimQueries {

  private val Cfg = PipelineConfig.Default

  /** Standing IVF-PQ codebooks for the eval loop — FAISS's
    * train-once/search-many split applied to `sim_eval_mrr`: the first
    * call per (sf dir, training params) trains both quantizers
    * concurrently and persists them via [[Similarity.writeCodebooks]]
    * as an [[Artifacts.standingArtifact]] under the JVM temp dir (a
    * build still incomplete after its rename throws); every later call — the next bench pass,
    * the next eval of a tuning sweep — reads the two tiny parquet
    * artifacts (or the in-process memo) instead of re-running two
    * corpus-wide Lloyd trainings. Results are identical either way
    * (training is deterministic; the artifact round-trip is
    * value-exact, spec-pinned), so the oracle's unrolled CTE chain
    * needs no change. `fmt` versions the layout: bump it whenever
    * training semantics change so a stale on-disk codebook can never
    * shadow new code.
    */
  private val codebookMemo = scala.collection.concurrent.TrieMap
    .empty[String, (Seq[(Int, Seq[Double])], Seq[(Int, Int, Seq[Double])])]

  private def standingCodebooks(s: SparkSession, dir: String,
      emb: DataFrame): (Seq[(Int, Seq[Double])], Seq[(Int, Int, Seq[Double])]) = {
    val fmt = 1
    // data mtime folded in like every other standing-artifact key
    // (ADVICE r19): a regenerated testdata set at the same path must
    // never serve stale codebooks — the oracle retrains live.
    val key = Seq(dir, fmt, 8, Cfg.kmeansIters, Cfg.pqTrainBound,
      Cfg.pqM, Cfg.pqSubDim, Cfg.pqCodewords,
      Artifacts.dataMtime(dir, "embeddings.parquet"))
    codebookMemo.getOrElseUpdate(key.mkString("|"), {
      // a fresh build keeps its trained values rather than reading them back
      var trained: Option[(Seq[(Int, Seq[Double])], Seq[(Int, Int, Seq[Double])])] = None
      val art = Artifacts.standingArtifact("graft_codebooks", key,
          Seq("coarse/_SUCCESS", "codebooks/_SUCCESS")) { tmp =>
        val t = Similarity.trainIvfPqConcurrently(emb,
          coarseK = 8, iters = Cfg.kmeansIters, trainBound = Cfg.pqTrainBound,
          m = Cfg.pqM, subDim = Cfg.pqSubDim, codewords = Cfg.pqCodewords)
        Similarity.writeCodebooks(s, tmp, t._1, t._2)
        trained = Some(t)
      }
      trained.getOrElse(Similarity.readCodebooks(s, art.toString))
    })
  }

  /** Shared IVF CTE chain (sim_ivf_ann / sim_ivf_recall): trained k=8
    * Lloyd codebook (`c1`) → inverted-list assignment (`cassign`) →
    * nProbe=2 query probing (`qassign`) → 6-dp-rounded candidate scores
    * in `ivfs`. Margin-bearing raw text — consumers embed it in a
    * stripMargin literal, like [[kmeansCtesOver]].
    */
  private def ivfCtesSql: String =
    s"""${kmeansCtesOver(
           "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL",
           k = 8)},
       |eb AS (SELECT vec_id AS id, v FROM e),
       |cent AS (SELECT cid, cv FROM c1),
       |cscore AS (
       |  SELECT c.id AS c_id, c.v AS c_vec, cent.cid, ${sqlCos("c.v", "cent.cv")} AS ccos
       |  FROM eb c CROSS JOIN cent),
       |cassign AS (
       |  SELECT c_id, c_vec, cid AS list_id
       |  FROM (SELECT *, row_number() OVER (PARTITION BY c_id ORDER BY ccos DESC, cid ASC) AS rn FROM cscore)
       |  WHERE rn = 1),
       |qscore AS (
       |  SELECT q.id AS q_id, q.v AS q_vec, cent.cid, ${sqlCos("q.v", "cent.cv")} AS qcos
       |  FROM (SELECT * FROM eb WHERE id < 5) q CROSS JOIN cent),
       |qassign AS (
       |  SELECT q_id, q_vec, cid AS list_id
       |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY qcos DESC, cid ASC) AS rn FROM qscore)
       |  WHERE rn <= 2),
       |ivfs AS (
       |  SELECT q.q_id, c.c_id, round(${sqlCos("q.q_vec", "c.c_vec")}, 6) AS cos
       |  FROM qassign q JOIN cassign c USING (list_id)
       |  WHERE q.q_id <> c.c_id)"""

  /** Shared PQ CTE chain (sim_pq_ann / sim_pq_recall): one prefixed
    * L2-metric Lloyd chain PER BLOCK (b0_…b{m-1}_ —
    * Similarity.trainPqCodebooks in lock-step, each training on that
    * block's subDim-slice of the corpus) → per-block nearest-codeword
    * codes → reconstruction → 6-dp-rounded ADC scores in `pqsc` →
    * k·rerank shortlist → exact-cosine re-rank in `pqx` (the refined
    * scores sim_pq_ann ranks). Margin-bearing raw text for a
    * stripMargin consumer, like [[ivfCtesSql]].
    */
  /** The codes-and-reconstruction prefix shared by [[pqCtesSql]] and
    * [[ivfPqCtesSql]]: eb → per-block Lloyd chains → cw → nearest-
    * codeword codes → `rec(id, rv)`.
    */
  private def pqCodesCtes: String = {
    val sd = Cfg.pqSubDim
    val blockChains = (0 until Cfg.pqM).map { b =>
      kmeansCtesOver(
        s"SELECT id AS vec_id, v[${b * sd + 1} : ${b * sd + sd}] AS v FROM eb WHERE id < ${Cfg.pqTrainBound}",
        k = Cfg.pqCodewords, p = s"b${b}_", metric = "l2")
    }.mkString(",\n")
    val cwUnion = (0 until Cfg.pqM).map(b =>
      s"SELECT $b AS m, cid AS cwid, cv AS cwblk FROM b${b}_c1")
      .mkString(" UNION ALL ")
    s"""eb AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL),
       |$blockChains,
       |cw AS ($cwUnion),
       |enc AS (
       |  SELECT eb.id, cw.m, cw.cwid,
       |         list_sum(list_transform(range(1, ${sd + 1}), j ->
       |           (eb.v[cw.m*$sd+j] - cw.cwblk[j]) * (eb.v[cw.m*$sd+j] - cw.cwblk[j]))) AS d2
       |  FROM eb CROSS JOIN cw),
       |codes AS (
       |  SELECT id, m, cwid AS code
       |  FROM (SELECT *, row_number() OVER (PARTITION BY id, m ORDER BY d2 ASC, cwid ASC) AS rn FROM enc)
       |  WHERE rn = 1),
       |rec AS (
       |  SELECT codes.id, flatten(list(cw.cwblk ORDER BY codes.m)) AS rv
       |  FROM codes JOIN cw ON cw.m = codes.m AND cw.cwid = codes.code
       |  GROUP BY codes.id)"""
  }

  private def pqCtesSql: String =
    s"""$pqCodesCtes,
       |pqq AS (SELECT id AS q_id, v AS qv FROM eb WHERE id < 5),
       |pqsc AS (
       |  SELECT q_id, rec.id AS c_id, round(${sqlDot("qv", "rv")}, 6) AS score
       |  FROM pqq CROSS JOIN rec WHERE q_id <> rec.id),
       |short AS (
       |  SELECT q_id, c_id
       |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS rn FROM pqsc)
       |  WHERE rn <= ${Cfg.pqK * Cfg.pqRerank}),
       |pqx AS (
       |  SELECT s.q_id, s.c_id, ${sqlCos("q.v", "c.v")} AS score
       |  FROM short s JOIN eb q ON q.id = s.q_id JOIN eb c ON c.id = s.c_id)"""

  /** MMR greedy re-rank (sim_mmr) unrolled to Cfg.mmrK CTE steps: each
    * step scores the not-yet-selected shortlist rows by
    * λ·rel − (1−λ)·max-sim-to-selected (stable-rounded, ties to lower
    * c_id) and picks rank 1. λ and 1−λ are interpolated from the SAME
    * Scala doubles the Spark plan multiplies by (1−0.7 is not the
    * literal 0.3 in binary — emitting the round-tripped value keeps the
    * products bit-identical).
    */
  private def mmrOracleSql: String = {
    val lam = Cfg.mmrLambda
    val oneMinus = 1 - Cfg.mmrLambda
    val steps = (2 to Cfg.mmrK).map { r =>
      val selUnion = (1 until r).map(i => s"SELECT q_id, c_id FROM s$i")
        .mkString(" UNION ALL ")
      s"""sel$r AS ($selUnion),
         |m$r AS (
         |  SELECT cand.q_id, cand.c_id, cand.rel,
         |         max(round(${sqlCos("cv.v", "sv.v")}, 6)) AS maxsim
         |  FROM cand
         |  JOIN eb cv ON cv.id = cand.c_id
         |  JOIN sel$r s ON s.q_id = cand.q_id
         |  JOIN eb sv ON sv.id = s.c_id
         |  WHERE NOT EXISTS (SELECT 1 FROM sel$r x
         |                    WHERE x.q_id = cand.q_id AND x.c_id = cand.c_id)
         |  GROUP BY 1, 2, 3),
         |p$r AS (SELECT q_id, c_id,
         |               ${Rounding.stableSql(s"rel * $lam - maxsim * $oneMinus", 6)} AS obj
         |        FROM m$r),
         |s$r AS (SELECT q_id, c_id, obj
         |        FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY obj DESC, c_id ASC) AS rn FROM p$r)
         |        WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val out = (1 to Cfg.mmrK).map(r =>
      s"SELECT q_id, c_id, obj AS mmr_score, CAST($r AS INT) AS rnk FROM s$r")
      .mkString("\nUNION ALL ")
    s"""WITH eb AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL),
       |mq AS (SELECT id AS q_id, v AS qv FROM eb WHERE id < 5),
       |bs AS (
       |  SELECT q_id, c.id AS c_id, ${sqlCos("qv", "c.v")} AS rel
       |  FROM mq, eb c WHERE q_id <> c.id),
       |cand AS (
       |  SELECT q_id, c_id, rel
       |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, c_id ASC) AS rn FROM bs)
       |  WHERE rn <= ${Cfg.mmrShortlist}),
       |p1 AS (SELECT q_id, c_id, ${Rounding.stableSql(s"rel * $lam", 6)} AS obj FROM cand),
       |s1 AS (SELECT q_id, c_id, obj
       |       FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY obj DESC, c_id ASC) AS rn FROM p1)
       |       WHERE rn = 1),
       |$steps
       |$out""".stripMargin
  }

  /** IVF-PQ composite (sim_ivfpq_ann / sim_ivfpq_recall): the PQ codes
    * prefix + the trained k=8 coarse chain (prefix cg_, the exact
    * [[ivfCtesSql]] assignment pattern) — ADC scores only the probed
    * lists' codes (`ipadc`), then the k·rerank shortlist re-ranks by
    * exact 6-dp cosine (`ipx`).
    */
  private def ivfPqCtesSql: String =
    s"""$pqCodesCtes,
       |${kmeansCtesOver(
           "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL",
           k = 8, p = "cg_")},
       |cgcent AS (SELECT cid, cv FROM cg_c1),
       |cgcs AS (
       |  SELECT c.id AS c_id, cgcent.cid, ${sqlCos("c.v", "cgcent.cv")} AS ccos
       |  FROM eb c CROSS JOIN cgcent),
       |cassign AS (
       |  SELECT c_id, cid AS list_id
       |  FROM (SELECT *, row_number() OVER (PARTITION BY c_id ORDER BY ccos DESC, cid ASC) AS rn FROM cgcs)
       |  WHERE rn = 1),
       |cgqs AS (
       |  SELECT q.id AS q_id, q.v AS qv, cgcent.cid, ${sqlCos("q.v", "cgcent.cv")} AS qcos
       |  FROM (SELECT * FROM eb WHERE id < 5) q CROSS JOIN cgcent),
       |qassign AS (
       |  SELECT q_id, qv, cid AS list_id
       |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY qcos DESC, cid ASC) AS rn FROM cgqs)
       |  WHERE rn <= 2),
       |ipadc AS (
       |  SELECT q.q_id, c.c_id, round(${sqlDot("q.qv", "rec.rv")}, 6) AS score
       |  FROM qassign q JOIN cassign c USING (list_id)
       |       JOIN rec ON rec.id = c.c_id
       |  WHERE q.q_id <> c.c_id),
       |ipshort AS (
       |  SELECT q_id, c_id
       |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS rn FROM ipadc)
       |  WHERE rn <= ${Cfg.pqK * Cfg.pqRerank}),
       |ipx AS (
       |  SELECT s.q_id, s.c_id, ${sqlCos("q.v", "c.v")} AS score
       |  FROM ipshort s JOIN eb q ON q.id = s.q_id JOIN eb c ON c.id = s.c_id)"""

  /** Binary sign-code CTE chain (sim_binary_ann / sim_binary_recall /
    * sim_binary_banded): eb → bc(id, v, code_lo, code_hi) — the
    * [[binaryHalfSql]] two-half layout, Similarity.binaryCodes in
    * lock-step — then the full query-side Hamming scan
    * `bh(q_id, c_id, hamming)` (XOR + popcount per half,
    * Similarity.hammingCodes). Margin-bearing raw text for a
    * stripMargin consumer, like [[ivfCtesSql]].
    */
  private def binaryCtes: String =
    s"""eb AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL),
       |bc AS (
       |  SELECT id, v, ${binaryHalfSql(0)} AS code_lo, ${binaryHalfSql(32)} AS code_hi
       |  FROM eb),
       |bh AS (
       |  SELECT q.id AS q_id, c.id AS c_id,
       |         CAST(bit_count(xor(q.code_lo, c.code_lo)) + bit_count(xor(q.code_hi, c.code_hi)) AS INT) AS hamming
       |  FROM (SELECT * FROM bc WHERE id < 5) q JOIN bc c ON q.id <> c.id)"""

  /** The Hamming-shortlist → exact-cosine-refine → recall-vs-brute tail
    * shared by sim_binary_recall (candidates = the full `bh` scan) and
    * sim_binary_banded (candidates = the multi-index band join): mirror
    * of Similarity.topKBinary[Banded]'s rankAdcThenExact at
    * rerank=binaryRerank plus the recall join every other gate uses.
    * `cands` must expose (q_id, c_id, hamming).
    */
  private def binaryRecallTail(cands: String): String =
    s"""short AS (
       |  SELECT q_id, c_id
       |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY hamming ASC, c_id ASC) AS rn FROM $cands)
       |  WHERE rn <= ${3 * Cfg.binaryRerank}),
       |bx AS (
       |  SELECT s.q_id, s.c_id, ${sqlCos("q.v", "c.v")} AS score
       |  FROM short s JOIN eb q ON q.id = s.q_id JOIN eb c ON c.id = s.c_id),
       |refined AS (
       |  SELECT q_id, c_id
       |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS rnk FROM bx)
       |  WHERE rnk <= 3),
       |bs AS (
       |  SELECT q.id AS q_id, c.id AS c_id, ${sqlCos("q.v", "c.v")} AS cos
       |  FROM (SELECT * FROM eb WHERE id < 5) q, eb c WHERE q.id <> c.id),
       |brute AS (
       |  SELECT q_id, c_id
       |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk FROM bs)
       |  WHERE rnk <= 3)
       |SELECT b.q_id, CAST(count(i.c_id) AS BIGINT) AS hits,
       |       ${Rounding.stableSql("count(i.c_id)::DOUBLE / 3", 4)} AS recall
       |FROM brute b LEFT JOIN refined i ON b.q_id = i.q_id AND b.c_id = i.c_id
       |GROUP BY b.q_id"""

  /** sim_binary_banded's candidate CTEs: the 64-bit code split into
    * binaryBands equal slices (Similarity.binaryBands in lock-step —
    * same shifts, same masks), equi-join on (band, band_val), DISTINCT
    * pairs, then Hamming over only those candidates.
    */
  private def bandedCandCtes: String = {
    val bands = Cfg.binaryBands
    // same invariant Similarity.binaryBands requires (ADVICE r18): a
    // misconfigured band count (e.g. 1 → (1L<<64)-1 wraps to mask=0)
    // would otherwise generate silently wrong SQL here while the Spark
    // side throws — the two engines must fail the same way, at build time
    require(bands >= 2 && bands % 2 == 0 && 64 % bands == 0,
      s"bandedCandCtes: bands must split the two 32-bit halves evenly, got $bands")
    val perHalf = bands / 2
    val w = 64 / bands
    val mask = (1L << w) - 1
    s"""bands AS (
       |  SELECT id, t.b,
       |         CASE WHEN t.b < $perHalf THEN (code_lo >> ($w * t.b)) & $mask
       |              ELSE (code_hi >> ($w * (t.b - $perHalf))) & $mask END AS band_val
       |  FROM bc CROSS JOIN (SELECT unnest(range(0, $bands)) AS b) t),
       |cand AS (
       |  SELECT DISTINCT qb.id AS q_id, cb.id AS c_id
       |  FROM (SELECT * FROM bands WHERE id < 5) qb
       |  JOIN bands cb ON qb.b = cb.b AND qb.band_val = cb.band_val AND qb.id <> cb.id),
       |bsc AS (
       |  SELECT cand.q_id, cand.c_id,
       |         CAST(bit_count(xor(q.code_lo, c.code_lo)) + bit_count(xor(q.code_hi, c.code_hi)) AS INT) AS hamming
       |  FROM cand JOIN bc q ON q.id = cand.q_id JOIN bc c ON c.id = cand.c_id)"""
  }

  /** sim_trunc_recall: one truncated-cosine ranking CTE pair per
    * Cfg.truncDims tier (DuckDB 1-based inclusive list slice `v[1:d]` ≡
    * Spark `slice(v, 1, d)`), each gated against the shared full-dim
    * brute CTE and UNION ALL'd — tiers unrolled at SQL-generation time
    * from the SAME config constant the plan maps over.
    */
  private def truncRecallSql: String = {
    val tiers = Cfg.truncDims.map { d =>
      s"""t${d}s AS (
         |  SELECT q.q_id, c.id AS c_id, ${sqlCos(s"qv[1:$d]", s"c.v[1:$d]")} AS cos
         |  FROM q, e c WHERE q.q_id <> c.id),
         |t$d AS (
         |  SELECT q_id, c_id
         |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk FROM t${d}s)
         |  WHERE rnk <= 3)"""
    }.mkString(",\n")
    val unions = Cfg.truncDims.map { d =>
      s"""SELECT CAST($d AS INT) AS dim, b.q_id, CAST(count(t.c_id) AS BIGINT) AS hits,
         |       ${Rounding.stableSql("count(t.c_id)::DOUBLE / 3", 4)} AS recall
         |FROM brute b LEFT JOIN t$d t ON b.q_id = t.q_id AND b.c_id = t.c_id
         |GROUP BY b.q_id"""
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT id AS q_id, v AS qv FROM e WHERE id < 5),
       |bs AS (
       |  SELECT q.q_id, c.id AS c_id, ${sqlCos("qv", "c.v")} AS cos
       |  FROM q, e c WHERE q.q_id <> c.id),
       |brute AS (
       |  SELECT q_id, c_id
       |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk FROM bs)
       |  WHERE rnk <= 3),
       |$tiers
       |$unions""".stripMargin
  }

  /** sim_eval_mrr: brute top-1 truth, then each compressed family's RAW
    * top-binaryMrrK ranking (binary Hamming over [[binaryHalfSql]]
    * codes; PQ full-corpus ADC over [[pqCodesCtes]]' reconstruction;
    * IVF-PQ probe-scoped ADC through the trained cg_ coarse chain —
    * the exact ivfPqCtesSql assignment pattern), reciprocal rank of the
    * truth within each list (0 when absent), one row per
    * (family, query).
    */
  private def mrrEvalSql: String = {
    val mrrK = Cfg.binaryMrrK
    s"""WITH $pqCodesCtes,
       |${kmeansCtesOver(
           "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL",
           k = 8, p = "cg_")},
       |bc AS (
       |  SELECT id, ${binaryHalfSql(0)} AS code_lo, ${binaryHalfSql(32)} AS code_hi
       |  FROM eb),
       |q5 AS (SELECT id AS q_id, v AS qv FROM eb WHERE id < 5),
       |bs AS (
       |  SELECT q_id, c.id AS c_id, ${sqlCos("qv", "c.v")} AS cos
       |  FROM q5, eb c WHERE q_id <> c.id),
       |brute1 AS (
       |  SELECT q_id, c_id AS true_nn
       |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rn FROM bs)
       |  WHERE rn = 1),
       |bh AS (
       |  SELECT q.id AS q_id, c.id AS c_id,
       |         bit_count(xor(q.code_lo, c.code_lo)) + bit_count(xor(q.code_hi, c.code_hi)) AS hamming
       |  FROM (SELECT * FROM bc WHERE id < 5) q JOIN bc c ON q.id <> c.id),
       |binr AS (
       |  SELECT q_id, c_id, rnk
       |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY hamming ASC, c_id ASC) AS rnk FROM bh)
       |  WHERE rnk <= $mrrK),
       |pqsc AS (
       |  SELECT q_id, rec.id AS c_id, round(${sqlDot("qv", "rv")}, 6) AS score
       |  FROM q5 CROSS JOIN rec WHERE q_id <> rec.id),
       |pqr AS (
       |  SELECT q_id, c_id, rnk
       |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS rnk FROM pqsc)
       |  WHERE rnk <= $mrrK),
       |cgcent AS (SELECT cid, cv FROM cg_c1),
       |cgcs AS (
       |  SELECT c.id AS c_id, cgcent.cid, ${sqlCos("c.v", "cgcent.cv")} AS ccos
       |  FROM eb c CROSS JOIN cgcent),
       |cassign AS (
       |  SELECT c_id, cid AS list_id
       |  FROM (SELECT *, row_number() OVER (PARTITION BY c_id ORDER BY ccos DESC, cid ASC) AS rn FROM cgcs)
       |  WHERE rn = 1),
       |cgqs AS (
       |  SELECT q_id, qv, cgcent.cid, ${sqlCos("qv", "cgcent.cv")} AS qcos
       |  FROM q5 CROSS JOIN cgcent),
       |qassign AS (
       |  SELECT q_id, qv, cid AS list_id
       |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY qcos DESC, cid ASC) AS rn FROM cgqs)
       |  WHERE rn <= 2),
       |ipadc AS (
       |  SELECT q.q_id, c.c_id, round(${sqlDot("q.qv", "rec.rv")}, 6) AS score
       |  FROM qassign q JOIN cassign c USING (list_id)
       |       JOIN rec ON rec.id = c.c_id
       |  WHERE q.q_id <> c.c_id),
       |ipr AS (
       |  SELECT q_id, c_id, rnk
       |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS rnk FROM ipadc)
       |  WHERE rnk <= $mrrK),
       |u AS (
       |  SELECT 'binary' AS family, b.q_id, b.true_nn, r.rnk
       |  FROM brute1 b LEFT JOIN binr r ON r.q_id = b.q_id AND r.c_id = b.true_nn
       |  UNION ALL
       |  SELECT 'pq' AS family, b.q_id, b.true_nn, r.rnk
       |  FROM brute1 b LEFT JOIN pqr r ON r.q_id = b.q_id AND r.c_id = b.true_nn
       |  UNION ALL
       |  SELECT 'ivfpq' AS family, b.q_id, b.true_nn, r.rnk
       |  FROM brute1 b LEFT JOIN ipr r ON r.q_id = b.q_id AND r.c_id = b.true_nn)
       |SELECT family, q_id, true_nn, CAST(coalesce(rnk, 0) AS INT) AS rnk,
       |       ${Rounding.stableSql("coalesce(1.0 / rnk, 0.0)", 6)} AS rr
       |FROM u""".stripMargin
  }

  /** Multi-probe bucket expansion (Similarity.probeBuckets' mirror):
    * given a probe index column `p` in [0, numPlanes], p = 0 is the
    * query's own bucket and p = i flips plane i's bit — the Hamming-1
    * neighborhood. Pair with `unnest(range(0, numPlanes + 1))`.
    */
  private def lshProbeSql(bucket: String, p: String): String =
    // one line on purpose: the || concat operators would be eaten by the
    // enclosing oracle literal's stripMargin if this ever line-wrapped
    s"CASE WHEN $p = 0 THEN $bucket ELSE substr($bucket, 1, $p - 1) || (CASE WHEN substr($bucket, $p, 1) = '1' THEN '0' ELSE '1' END) || substr($bucket, $p + 1) END"

  val defs: Seq[QueryDef] = Seq(

    // Incremental centroid REFRESH — the remediation half of the drift
    // story (sim_centroid_drift monitors, this repairs): the union of
    // base + a shifted ingest is assigned ONE pass against the FROZEN
    // base centroids (zero-shuffle literal argmax) and the centroids
    // take ONE fixed-point update — the mini-batch/streaming-kmeans
    // maintenance move that absorbs mild drift without a full retrain.
    // Output per centroid: assignment count and how far it moved
    // (6-dp squared L2, exact micro-unit arithmetic underneath) —
    // movement above threshold = schedule the real retrain.
    QueryDef("sim_centroid_refresh", (s, dir) => {
      val base = Tables.embeddings(s, dir).filter(col("embedding").isNotNull)
        .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
      val ingest = base.select((col("vec_id") + 100000).as("vec_id"),
        transform(col("v"),
          (x, i) => when(i === 0, x + Cfg.semanticDelta).otherwise(x)).as("v"))
      val union = base.unionByName(ingest)
      val cents = Similarity.collectCentroids(Similarity.trainedCentroids(
        base, "vec_id", "v", k = Cfg.kmeansK, iters = Cfg.kmeansIters))
      val asg = union.select(col("vec_id"), col("v"),
        Similarity.nearestCentroidId(col("v"), cents).as("cid"))
      val refreshed = Similarity.labelCentroids(asg, "cid", "v")
        .select(col("clabel").as("cid"), col("cv"))
      val counts = asg.groupBy(col("cid")).agg(count(lit(1)).as("n_assigned"))
      val oldCv = cents.foldLeft(lit(null).cast("array<double>")) {
        case (acc, (cid, cv)) => when(col("cid") === cid, typedLit(cv)).otherwise(acc)
      }
      refreshed.join(counts, Seq("cid"))
        .select(col("cid"), col("n_assigned"),
          Rounding.stable(Similarity.l2sq(col("cv"), oldCv), 6).as("movement_sq"))
    },
      // Frozen c1 centroids; union assigned one pass (a20's row_number
      // pattern over the union), one fixed-point update (the c1c/c1s/c1
      // idiom), movement vs c1 via the proven l2sq ⇔ sqlD2 pairing.
      oracle = s"""WITH $KmeansCtes,
         |tg AS (SELECT vec_id, v FROM e
         |       UNION ALL
         |       SELECT vec_id + 100000, list_concat([v[1] + ${Cfg.semanticDelta}], v[2:]) FROM e),
         |ra0 AS (SELECT tg.vec_id, c1.cid, tg.v,
         |               row_number() OVER (PARTITION BY tg.vec_id ORDER BY ${sqlCos("tg.v", "c1.cv")} DESC, c1.cid ASC) AS rn
         |        FROM tg CROSS JOIN c1),
         |ra AS (SELECT vec_id, cid, v FROM ra0 WHERE rn = 1),
         |rc AS (SELECT cid, unnest(range(1, len(v) + 1)) AS i,
         |              CAST(round(unnest(v) * 1000000) AS BIGINT) AS q
         |       FROM ra),
         |rs AS (SELECT cid, i, sum(q) AS sq, CAST(count(*) AS BIGINT) AS n
         |       FROM rc GROUP BY 1, 2),
         |rn2 AS (SELECT cid, list(sq::DOUBLE / (n * 1000000.0) ORDER BY i) AS cv
         |        FROM rs GROUP BY 1),
         |cnt AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_assigned FROM ra GROUP BY 1)
         |SELECT rn2.cid AS cid, cnt.n_assigned,
         |       ${Rounding.stableSql(sqlD2("rn2.cv", "c1.cv"), 6)} AS movement_sq
         |FROM rn2 JOIN cnt USING (cid) JOIN c1 ON rn2.cid = c1.cid""".stripMargin),

    // ANN recall measurement: per-query fraction of the exact top-3
    // recovered by the LSH-bucketed index, single-probe AND multi-probe
    // side by side — "measure, don't guess" as a first-class query (the
    // numbers that justify bits/planes/probes choices, and the lift
    // multi-probe buys over one bucket).
    QueryDef("sim_lsh_recall", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val q = emb.filter(col("id") < 5)
      val brute = Similarity.topKBrute(q, emb, 3).select(col("q_id"), col("c_id"))
      val lsh = Similarity.topKLsh(q, emb, 3)
        .select(col("q_id"), col("c_id"), lit(1).as("__hit"))
      val mp = Similarity.topKLshMultiProbe(q, emb, 3)
        .select(col("q_id"), col("c_id"), lit(1).as("__hit_mp"))
      brute.join(lsh, Seq("q_id", "c_id"), "left")
        .join(mp, Seq("q_id", "c_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("__hit")).as("hits"),
          Rounding.stable(count(col("__hit")).cast("double") / 3, 4).as("recall"),
          count(col("__hit_mp")).as("hits_mp"),
          Rounding.stable(count(col("__hit_mp")).cast("double") / 3, 4).as("recall_mp"))
    },
      oracle = s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT id AS q_id, v AS qv FROM e WHERE id < 5),
         |bs AS (
         |  SELECT q.q_id, c.id AS c_id, ${sqlCos("qv", "c.v")} AS cos
         |  FROM q, e c WHERE q.q_id <> c.id),
         |brute AS (
         |  SELECT q_id, c_id
         |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk FROM bs)
         |  WHERE rnk <= 3),
         |b2 AS (SELECT id, v, ${lshBucketSql("v", 8, 64)} AS bucket FROM e),
         |q2 AS (SELECT id AS q_id, v AS qv, bucket FROM b2 WHERE id < 5),
         |ls AS (
         |  SELECT q2.q_id, c.id AS c_id, ${sqlCos("qv", "c.v")} AS cos
         |  FROM q2 JOIN b2 c ON q2.bucket = c.bucket AND q2.q_id <> c.id),
         |lsh AS (
         |  SELECT q_id, c_id
         |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk FROM ls)
         |  WHERE rnk <= 3),
         |qp AS (
         |  SELECT q_id, qv, ${lshProbeSql("bucket", "pp.p")} AS bucket
         |  FROM q2 CROSS JOIN (SELECT unnest(range(0, 9)) AS p) pp),
         |ms AS (
         |  SELECT qp.q_id, c.id AS c_id, ${sqlCos("qv", "c.v")} AS cos
         |  FROM qp JOIN b2 c ON qp.bucket = c.bucket AND qp.q_id <> c.id),
         |mp AS (
         |  SELECT q_id, c_id
         |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk FROM ms)
         |  WHERE rnk <= 3)
         |SELECT b.q_id, CAST(count(l.c_id) AS BIGINT) AS hits,
         |       ${Rounding.stableSql("count(l.c_id)::DOUBLE / 3", 4)} AS recall,
         |       CAST(count(m.c_id) AS BIGINT) AS hits_mp,
         |       ${Rounding.stableSql("count(m.c_id)::DOUBLE / 3", 4)} AS recall_mp
         |FROM brute b
         |LEFT JOIN lsh l ON b.q_id = l.q_id AND b.c_id = l.c_id
         |LEFT JOIN mp m ON b.q_id = m.q_id AND b.c_id = m.c_id
         |GROUP BY b.q_id""".stripMargin),

    // IVF recall gate: per-query fraction of the exact top-3 recovered
    // by the trained-codebook probe — the measured defense of the k=8
    // Lloyd codebook + nProbe=2 configuration (VERDICT r11 #6's
    // "recall gates not degraded", as a first-class query).
    QueryDef("sim_ivf_recall", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val q = emb.filter(col("id") < 5)
      val brute = Similarity.topKBrute(q, emb, 3).select(col("q_id"), col("c_id"))
      val codebook = Similarity.collectCentroids(Similarity.trainedCentroids(
        emb, "id", "vec", k = 8, iters = Cfg.kmeansIters))
      val ivf = Similarity.topKIvfWith(q, emb, k = 3,
          centroids = codebook, nProbe = 2)
        .select(col("q_id"), col("c_id"), lit(1).as("__hit"))
      brute.join(ivf, Seq("q_id", "c_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("__hit")).as("hits"),
          Rounding.stable(count(col("__hit")).cast("double") / 3, 4).as("recall"))
    },
      // IVF recall gate: fraction of the exact top-3 the trained-codebook
      // probe recovers — the number that justifies (or indicts) the k=8
      // codebook + nProbe=2 choice, measured like sim_lsh_recall.
      oracle = s"""WITH $ivfCtesSql,
         |ivf AS (
         |  SELECT q_id, c_id
         |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk FROM ivfs)
         |  WHERE rnk <= 3),
         |bs AS (
         |  SELECT q.id AS q_id, c.id AS c_id, ${sqlCos("q.v", "c.v")} AS cos
         |  FROM (SELECT * FROM eb WHERE id < 5) q, eb c WHERE q.id <> c.id),
         |brute AS (
         |  SELECT q_id, c_id
         |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk FROM bs)
         |  WHERE rnk <= 3)
         |SELECT b.q_id, CAST(count(i.c_id) AS BIGINT) AS hits,
         |       ${Rounding.stableSql("count(i.c_id)::DOUBLE / 3", 4)} AS recall
         |FROM brute b LEFT JOIN ivf i ON b.q_id = i.q_id AND b.c_id = i.c_id
         |GROUP BY b.q_id""".stripMargin),

    // Multi-probe LSH ANN: the query probes its own sign-bit bucket
    // plus every Hamming-1 neighbor — the standard recall repair when
    // one hyperplane disagreement hides a true neighbor. The fan-out
    // multiplies only the broadcast query side; the corpus stays
    // bucketed once, joined on equality (never a cross product).
    QueryDef("sim_lsh_mp_ann", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.topKLshMultiProbe(emb.filter(col("id") < 5), emb, k = 3)
    },
      // Multi-probe LSH ANN: probe set = own bucket + every Hamming-1
      // neighbor (lshProbeSql mirrors Similarity.probeBuckets).
      oracle = s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
         |b AS (SELECT id, v, ${lshBucketSql("v", 8, 64)} AS bucket FROM e),
         |q0 AS (SELECT id AS q_id, v AS qv, bucket FROM b WHERE id < 5),
         |q AS (
         |  SELECT q_id, qv, ${lshProbeSql("bucket", "pp.p")} AS bucket
         |  FROM q0 CROSS JOIN (SELECT unnest(range(0, 9)) AS p) pp),
         |s AS (
         |  SELECT q.q_id, c.id AS c_id, ${sqlCos("qv", "c.v")} AS cos
         |  FROM q JOIN b c ON q.bucket = c.bucket AND q.q_id <> c.id)
         |SELECT q_id, c_id, cos, CAST(rnk AS INT) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk FROM s)
         |WHERE rnk <= 3""".stripMargin),

    // Hard-negative mining for contrastive training: per anchor, the
    // most similar corpus vectors with a DIFFERENT label, candidates
    // from the multi-probe LSH buckets (partial recall by design, like
    // the ANN queries). The label-mismatch filter rides the bucket
    // join; same id never appears (same id ⇒ same label).
    QueryDef("sim_hard_negatives", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"),
          col("label"))
      Similarity.hardNegatives(emb.filter(col("id") < 5), emb, k = 3)
    },
      // Mirrors Similarity.hardNegatives: multi-probe candidate buckets,
      // label-mismatch filter on the bucket join, (cos DESC, c_id) rank.
      oracle = s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v, label FROM embeddings),
         |b AS (SELECT id, v, label, ${lshBucketSql("v", 8, 64)} AS bucket FROM e),
         |q0 AS (SELECT id AS q_id, v AS qv, label AS ql, bucket FROM b WHERE id < 5),
         |q AS (
         |  SELECT q_id, qv, ql, ${lshProbeSql("bucket", "pp.p")} AS bucket
         |  FROM q0 CROSS JOIN (SELECT unnest(range(0, 9)) AS p) pp),
         |s AS (
         |  SELECT q.q_id, c.id AS c_id, c.label AS c_label, ${sqlCos("qv", "c.v")} AS cos
         |  FROM q JOIN b c ON q.bucket = c.bucket AND c.label <> q.ql)
         |SELECT q_id, c_id, c_label, cos, CAST(rnk AS INT) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk FROM s)
         |WHERE rnk <= 3""".stripMargin),

    // kNN-vote weak labeling: majority label among the 5 brute nearest
    // neighbors, ties to the lower label; argmax via one min-struct
    // aggregate, never a window over the vote table.
    QueryDef("sim_knn_label", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"),
          col("label"))
      Similarity.knnClassify(emb.filter(col("id") < 20), emb, k = 5)
    },
      // Mirrors Similarity.knnClassify: brute (cos DESC, c_id) top-5
      // neighbor labels, majority vote with ties to the lower label.
      oracle = s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v, label FROM embeddings),
         |q AS (SELECT id AS q_id, v AS qv FROM e WHERE id < 20),
         |s AS (
         |  SELECT q.q_id, c.id AS c_id, c.label AS c_label, ${sqlCos("qv", "c.v")} AS cos
         |  FROM q, e c WHERE q.q_id <> c.id),
         |nb AS (
         |  SELECT q_id, c_label
         |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rn FROM s)
         |  WHERE rn <= 5),
         |v AS (SELECT q_id, c_label, CAST(count(*) AS BIGINT) AS votes
         |      FROM nb GROUP BY 1, 2)
         |SELECT q_id, c_label AS predicted_label, votes
         |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY votes DESC, c_label ASC) AS rn2 FROM v)
         |WHERE rn2 = 1""".stripMargin),

    // Brute-force cosine top-k over embeddings (the ANN baseline): query
    // side broadcast, corpus scan partition-local, dot products in
    // codegen'd array expressions.
    QueryDef("sim_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.topKBrute(emb.filter(col("id") < 5), emb, 5)
    },
      oracle = s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT id AS q_id, v AS qv FROM e WHERE id < 5),
         |s AS (
         |  SELECT q.q_id, c.id AS c_id, ${sqlCos("qv", "c.v")} AS cos
         |  FROM q, e c WHERE q.q_id <> c.id)
         |SELECT q_id, c_id, cos, CAST(rnk AS INT) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk FROM s)
         |WHERE rnk <= 5""".stripMargin),

    // LSH-bucketed approximate top-k (the scale path): sign-bit buckets
    // from 8 deterministic hyperplanes turn the cross product into an
    // equality join.
    QueryDef("sim_lsh_ann", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.topKLsh(emb.filter(col("id") < 5), emb, k = 3)
    },
      oracle = s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
         |b AS (SELECT id, v, ${lshBucketSql("v", 8, 64)} AS bucket FROM e),
         |q AS (SELECT id AS q_id, v AS qv, bucket FROM b WHERE id < 5),
         |s AS (
         |  SELECT q.q_id, c.id AS c_id, c.bucket, ${sqlCos("qv", "c.v")} AS cos
         |  FROM q JOIN b c ON q.bucket = c.bucket AND q.q_id <> c.id)
         |SELECT q_id, c_id, bucket, cos, CAST(rnk AS INT) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk FROM s)
         |WHERE rnk <= 3""".stripMargin),

    // IVF-style ANN (the second scale path): k-means-TRAINED coarse
    // centroids (k = nLists = 8 Lloyd codebook — what real IVF indexes
    // train offline; Similarity.trainedCentroids keeps it
    // oracle-reproducible) → inverted lists → nProbe-list probing. The
    // codebook collect is a bounded k·dim read at build time; the probe
    // query itself stays a broadcast equality join on list id.
    QueryDef("sim_ivf_ann", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val codebook = Similarity.collectCentroids(Similarity.trainedCentroids(
        emb, "id", "vec", k = 8, iters = Cfg.kmeansIters))
      Similarity.topKIvfWith(emb.filter(col("id") < 5), emb, k = 3,
        centroids = codebook, nProbe = 2)
    },
      // Coarse codebook = the k=8 trained Lloyd centroids (the CTE
      // chain's c1 — Similarity.trainedCentroids in lock-step), not the
      // first-8 vectors; assignment/probing unchanged.
      oracle = s"""WITH $ivfCtesSql
         |SELECT q_id, c_id, cos, CAST(rnk AS INT) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk FROM ivfs)
         |WHERE rnk <= 3""".stripMargin),

    // Scalar-quantized ANN (the int8 compression path, third family
    // next to LSH and IVF): integer dots are EXACT in both engines —
    // zero rounding anywhere — and the ranking is the same bounded
    // top-k aggregate as the other ANN paths. The scale is calibrated
    // on a bounded id-prefix sample (pushdown-pruned scan, saturating
    // clamp for out-of-sample components) — no extra full-corpus pass.
    QueryDef("sim_sq_ann", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val scale = Similarity.sqScale(emb, "id", "vec")
      Similarity.topKQuantized(emb.filter(col("id") < 5), emb, 3, scale)
    },
      oracle = """WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        |mx AS (SELECT CASE WHEN coalesce(max(list_aggregate(list_transform(v, x -> abs(x)), 'max')), 0) <= 0
        |              THEN error('sqScale: empty or all-zero calibration sample id < 256')
        |              ELSE 127.0 / max(list_aggregate(list_transform(v, x -> abs(x)), 'max')) END AS s
        |       FROM e WHERE id < 256),
        |q8 AS (SELECT id, list_transform(v, x -> greatest(least(round(x * s), 127.0), -127.0)) AS qv FROM e CROSS JOIN mx),
        |qq AS (SELECT id AS q_id, qv AS qqv FROM q8 WHERE id < 5),
        |sc AS (
        |  SELECT q_id, c.id AS c_id,
        |         CAST(list_sum(list_transform(range(1, len(qqv) + 1), i -> qqv[i] * c.qv[i])) AS BIGINT) AS qdot
        |  FROM qq, q8 c WHERE q_id <> c.id)
        |SELECT q_id, c_id, qdot, CAST(rnk AS INT) AS rnk
        |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY qdot DESC, c_id ASC) AS rnk FROM sc)
        |WHERE rnk <= 3""".stripMargin),

    // Product-quantization ANN (the fourth family: brute / LSH / IVF /
    // PQ): per-block nearest-codeword codes, scoring through the
    // reconstruction (≡ lookup-table ADC; see
    // Similarity.pqReconstructBlocks). Codebooks are per-block
    // Lloyd-TRAINED (Similarity.trainPqCodebooks — one kmeans-oracle
    // CTE chain per block keeps DuckDB in lock-step), collected to an
    // m·k-row local relation so encode and reconstruct read broadcast
    // literals, not pqM extra Lloyd subtrees. Block layout
    // Cfg.pqM × Cfg.pqSubDim.
    QueryDef("sim_pq_ann", (s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val cw = Similarity.trainPqCodebooks(
        emb.filter(col("id") < Cfg.pqTrainBound), "id", "vec",
        m = Cfg.pqM, subDim = Cfg.pqSubDim, k = Cfg.pqCodewords,
        iters = Cfg.kmeansIters)
      Similarity.topKPqBlocks(emb.filter(col("id") < 5), emb, cw,
        k = Cfg.pqK, m = Cfg.pqM, subDim = Cfg.pqSubDim, rerank = Cfg.pqRerank)
    },
      // Codes and reconstruction re-derived relationally: per-block
      // L2-Lloyd codebooks (the prefixed CTE chains' b*_c1 —
      // Similarity.trainPqCodebooks in lock-step), nearest-codeword
      // codes, reconstruction ordered by m so the ADC dot runs the same
      // sequential fold as Spark's kernel, then the k·rerank shortlist
      // re-ranked by exact 6-dp cosine (pqx).
      oracle = s"""WITH $pqCtesSql
         |SELECT q_id, c_id, score, CAST(rnk AS INT) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS rnk FROM pqx)
         |WHERE rnk <= ${Cfg.pqK}""".stripMargin),

    // PQ recall gate: per-query fraction of the exact top-3 the
    // trained-codeword reconstruction ranking recovers — completes the
    // measured LSH / SQ / IVF / PQ recall-gate symmetry.
    QueryDef("sim_pq_recall", (s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val q = emb.filter(col("id") < 5)
      val brute = Similarity.topKBrute(q, emb, Cfg.pqK).select(col("q_id"), col("c_id"))
      val cw = Similarity.trainPqCodebooks(
        emb.filter(col("id") < Cfg.pqTrainBound), "id", "vec",
        m = Cfg.pqM, subDim = Cfg.pqSubDim, k = Cfg.pqCodewords,
        iters = Cfg.kmeansIters)
      val pq = Similarity.topKPqBlocks(q, emb, cw, k = Cfg.pqK,
        m = Cfg.pqM, subDim = Cfg.pqSubDim, rerank = Cfg.pqRerank)
        .select(col("q_id"), col("c_id"), lit(1).as("__hit"))
      brute.join(pq, Seq("q_id", "c_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("__hit")).as("hits"),
          Rounding.stable(count(col("__hit")).cast("double") / Cfg.pqK, 4).as("recall"))
    },
      // PQ recall gate: fraction of the exact top-3 the trained-codeword
      // reconstruction ranking recovers — completes the recall-gate
      // symmetry (LSH / SQ / IVF / PQ each measured, never guessed).
      oracle = s"""WITH $pqCtesSql,
         |pq AS (
         |  SELECT q_id, c_id
         |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS rnk FROM pqx)
         |  WHERE rnk <= ${Cfg.pqK}),
         |bs AS (
         |  SELECT q.id AS q_id, c.id AS c_id, ${sqlCos("q.v", "c.v")} AS cos
         |  FROM (SELECT * FROM eb WHERE id < 5) q, eb c WHERE q.id <> c.id),
         |brute AS (
         |  SELECT q_id, c_id
         |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk FROM bs)
         |  WHERE rnk <= ${Cfg.pqK})
         |SELECT b.q_id, CAST(count(p.c_id) AS BIGINT) AS hits,
         |       ${Rounding.stableSql(s"count(p.c_id)::DOUBLE / ${Cfg.pqK}", 4)} AS recall
         |FROM brute b LEFT JOIN pq p ON b.q_id = p.q_id AND b.c_id = p.c_id
         |GROUP BY b.q_id""".stripMargin),

    // Binary (sign-quantized) ANN — the fifth compression family next
    // to LSH / IVF / SQ / PQ: 1 bit per dimension, Hamming ranking via
    // XOR+popcount (all-integer, exact), ties to the lower id. The
    // candidate scan streams 16 bytes/row instead of 256 — the memory-
    // bandwidth point below SQ on the compression/recall curve.
    QueryDef("sim_binary_ann", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.topKBinary(emb.filter(col("id") < 5), emb, k = 3)
        .select(col("q_id"), col("c_id"),
          (lit(0) - col("score")).cast("int").as("hamming"), col("rnk"))
    },
      // Raw Hamming ranking over the sign codes: ASC distance ≡ the
      // Spark side's DESC −hamming score, ties to the lower c_id.
      oracle = s"""WITH $binaryCtes
         |SELECT q_id, c_id, hamming, CAST(rnk AS INT) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY hamming ASC, c_id ASC) AS rnk FROM bh)
         |WHERE rnk <= 3""".stripMargin),

    // Binary recall gate: fraction of the exact top-3 the two-stage
    // binary search (Hamming shortlist of k·binaryRerank, exact-cosine
    // refine) recovers — completes the measured LSH / SQ / IVF / PQ /
    // binary recall-gate symmetry. Measured 1.0 at sf0.01 with
    // rerank=20.
    QueryDef("sim_binary_recall", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val q = emb.filter(col("id") < 5)
      val brute = Similarity.topKBrute(q, emb, 3).select(col("q_id"), col("c_id"))
      val bin = Similarity.topKBinary(q, emb, k = 3, rerank = Cfg.binaryRerank)
        .select(col("q_id"), col("c_id"), lit(1).as("__hit"))
      brute.join(bin, Seq("q_id", "c_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("__hit")).as("hits"),
          Rounding.stable(count(col("__hit")).cast("double") / 3, 4).as("recall"))
    },
      // Two-stage binary search (Hamming shortlist of 3·binaryRerank →
      // exact 6-dp cosine refine → top-3) measured against brute top-3.
      oracle = s"""WITH $binaryCtes,
         |${binaryRecallTail("bh")}""".stripMargin),

    // Banded binary recall gate — the multi-index Hamming candidate
    // path (8 bands × 8 bits, equi-join on (band, band_val), the
    // dedup_simhash_pairs move) measured against the exact top-3, next
    // to sim_binary_recall's raw-scan number: the two recalls bound
    // what the sub-linear candidate generation costs in quality, per
    // query, so the banded form's 100 TB win is a measured trade.
    QueryDef("sim_binary_banded", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val q = emb.filter(col("id") < 5)
      val brute = Similarity.topKBrute(q, emb, 3).select(col("q_id"), col("c_id"))
      val banded = Similarity.topKBinaryBanded(q, emb, k = 3,
        bands = Cfg.binaryBands, rerank = Cfg.binaryRerank)
        .select(col("q_id"), col("c_id"), lit(1).as("__hit"))
      brute.join(banded, Seq("q_id", "c_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("__hit")).as("hits"),
          Rounding.stable(count(col("__hit")).cast("double") / 3, 4).as("recall"))
    },
      // Same two-stage search, but candidates come from the multi-index
      // band join instead of the full Hamming scan.
      oracle = s"""WITH $binaryCtes,
         |$bandedCandCtes,
         |${binaryRecallTail("bsc")}""".stripMargin),

    // Matryoshka truncation gate — the DIMENSION-COUNT axis of the
    // compression family (SQ/PQ/binary cut per-dim precision; MRL-style
    // truncation cuts dims, the 64/d× scan-bandwidth saving a serving
    // tier takes by reading a vector prefix): recall of the cosine
    // top-3 over the FIRST d dims vs the full-64-dim exact top-3, one
    // row per (tier, query). The d=64 tier is 1.0 by construction (a
    // prefix of the whole IS the whole), so the gate self-validates;
    // the lower tiers are the measured quality price of the cut.
    QueryDef("sim_trunc_recall", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val q = emb.filter(col("id") < 5)
      val brute = Similarity.topKBrute(q, emb, 3).select(col("q_id"), col("c_id"))
      def tier(d: Int): DataFrame = {
        def cut(df: DataFrame) = df.select(col("id"),
          slice(Similarity.asDouble(col("vec")), 1, d).as("vec"))
        val t = Similarity.topKBrute(cut(q), cut(emb), 3)
          .select(col("q_id"), col("c_id"), lit(1).as("__hit"))
        brute.join(t, Seq("q_id", "c_id"), "left")
          .groupBy(col("q_id"))
          .agg(count(col("__hit")).as("hits"),
            Rounding.stable(count(col("__hit")).cast("double") / 3, 4).as("recall"))
          .select(lit(d).as("dim"), col("q_id"), col("hits"), col("recall"))
      }
      Cfg.truncDims.map(tier).reduce(_.unionByName(_))
    },
      // Per-tier truncated-cosine top-3 vs the full-dim exact top-3 —
      // tiers unrolled from the same Cfg.truncDims the plan reads; the
      // full-dim tier must read 1.0, self-validating the gate.
      oracle = truncRecallSql),

    // Metadata-filtered exact search — the "top-k similar documents
    // AMONG <predicate>" query every retrieval deployment actually
    // serves (filters on lang/source/license/date are the norm, not
    // the exception). The predicate lives on the DOCUMENTS scan
    // (parquet-pushdown-able), admission reaches the vector side as a
    // LEFT SEMI join (ships doc_ids only, materializes no document
    // columns), and distance is computed ONLY over admitted vectors —
    // filter-before-distance, never score-then-discard. At 100 TB the
    // same plan rides a lang-partitioned embedding layout: the
    // semi-join collapses into partition pruning.
    QueryDef("sim_filtered_ann", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val admitted = Tables.documents(s, dir)
        .filter(col("lang") === lit(Cfg.annFilterLang))
        .select(col("doc_id").as("id"))
      Similarity.topKBrute(emb.filter(col("id") < 5),
        emb.join(admitted, Seq("id"), "left_semi"), 3)
    },
      // Filtered exact search: admission is an IN-subquery on documents
      // (≡ the Spark plan's left-semi join); distance only over admitted.
      oracle = s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
         |fc AS (SELECT * FROM e WHERE id IN (SELECT doc_id FROM documents WHERE lang = '${Cfg.annFilterLang}')),
         |q AS (SELECT id AS q_id, v AS qv FROM e WHERE id < 5),
         |s AS (
         |  SELECT q.q_id, c.id AS c_id, ${sqlCos("qv", "c.v")} AS cos
         |  FROM q, fc c WHERE q.q_id <> c.id)
         |SELECT q_id, c_id, cos, CAST(rnk AS INT) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk FROM s)
         |WHERE rnk <= 3""".stripMargin),

    // Filtered-IVF recall gate — the production hazard the filtered
    // family exists to measure: the standing coarse codebook is
    // trained on the WHOLE corpus (indexes are built once, filters
    // arrive at query time), so a query routes by overall geometry
    // while admission prunes its probed lists; when the predicate is
    // selective, a probed list can hold few or no admitted vectors and
    // recall degrades — the number that tells the tuning loop to raise
    // nProbe (or partition the index by the filter key). Postings are
    // pre-filtered BEFORE the probe join (the semi-join on the corpus
    // side), so the probe scores only admitted candidates — the
    // cheap-filter ordering, and exactly what a lang-partitioned
    // posting layout gives for free via partition pruning.
    QueryDef("sim_filtered_ivf_recall", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val admitted = Tables.documents(s, dir)
        .filter(col("lang") === lit(Cfg.annFilterLang))
        .select(col("doc_id").as("id"))
      val fc = emb.join(admitted, Seq("id"), "left_semi")
      val q = emb.filter(col("id") < 5)
      val brute = Similarity.topKBrute(q, fc, 3).select(col("q_id"), col("c_id"))
      val ivf = Similarity.topKIvfWith(q, fc, k = 3,
          centroids = standingCodebooks(s, dir, emb)._1, nProbe = 2)
        .select(col("q_id"), col("c_id"), lit(1).as("__hit"))
      brute.join(ivf, Seq("q_id", "c_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("__hit")).as("hits"),
          Rounding.stable(count(col("__hit")).cast("double") / 3, 4).as("recall"))
    },
      // Filtered-IVF recall: the coarse chain trains on the WHOLE corpus
      // (the standing index), cassign/brute range over the ADMITTED
      // subset only — mirroring pre-filtered postings probed by
      // unfiltered-routed queries.
      oracle = s"""WITH ${kmeansCtesOver(
             "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL",
             k = 8)},
         |eb AS (SELECT vec_id AS id, v FROM e),
         |fc AS (SELECT * FROM eb WHERE id IN (SELECT doc_id FROM documents WHERE lang = '${Cfg.annFilterLang}')),
         |cent AS (SELECT cid, cv FROM c1),
         |cscore AS (
         |  SELECT c.id AS c_id, c.v AS c_vec, cent.cid, ${sqlCos("c.v", "cent.cv")} AS ccos
         |  FROM fc c CROSS JOIN cent),
         |cassign AS (
         |  SELECT c_id, c_vec, cid AS list_id
         |  FROM (SELECT *, row_number() OVER (PARTITION BY c_id ORDER BY ccos DESC, cid ASC) AS rn FROM cscore)
         |  WHERE rn = 1),
         |qscore AS (
         |  SELECT q.id AS q_id, q.v AS q_vec, cent.cid, ${sqlCos("q.v", "cent.cv")} AS qcos
         |  FROM (SELECT * FROM eb WHERE id < 5) q CROSS JOIN cent),
         |qassign AS (
         |  SELECT q_id, q_vec, cid AS list_id
         |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY qcos DESC, cid ASC) AS rn FROM qscore)
         |  WHERE rn <= 2),
         |ivfs AS (
         |  SELECT q.q_id, c.c_id, round(${sqlCos("q.q_vec", "c.c_vec")}, 6) AS cos
         |  FROM qassign q JOIN cassign c USING (list_id)
         |  WHERE q.q_id <> c.c_id),
         |ivf AS (
         |  SELECT q_id, c_id
         |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk FROM ivfs)
         |  WHERE rnk <= 3),
         |bs AS (
         |  SELECT q.id AS q_id, c.id AS c_id, ${sqlCos("q.v", "c.v")} AS cos
         |  FROM (SELECT * FROM eb WHERE id < 5) q, fc c WHERE q.id <> c.id),
         |brute AS (
         |  SELECT q_id, c_id
         |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk FROM bs)
         |  WHERE rnk <= 3)
         |SELECT b.q_id, CAST(count(i.c_id) AS BIGINT) AS hits,
         |       ${Rounding.stableSql("count(i.c_id)::DOUBLE / 3", 4)} AS recall
         |FROM brute b LEFT JOIN ivf i ON b.q_id = i.q_id AND b.c_id = i.c_id
         |GROUP BY b.q_id""".stripMargin),

    // Retrieval eval — MRR of the RAW compressed-domain rankings, one
    // row per (family, query): the reciprocal rank of each query's
    // TRUE nearest neighbor (brute top-1) within the family's
    // top-binaryMrrK list BEFORE any exact refine (binary = Hamming
    // scan, pq = full ADC, ivfpq = probe-scoped ADC at nProbe=2), 0
    // when absent. Recall gates measure set overlap; MRR is the
    // rank-sensitive metric an index tuning loop actually optimizes —
    // how far down the raw shortlist the refine stage must reach —
    // and the side-by-side families are exactly the knobs it turns
    // (rerank width vs probe count vs code size).
    QueryDef("sim_eval_mrr", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val q = emb.filter(col("id") < 5)
      val brute1 = Similarity.topKBrute(q, emb, 1)
        .select(col("q_id"), col("c_id").as("true_nn"))
      def mrr(family: String, ann: DataFrame): DataFrame =
        brute1.join(
          ann.select(col("q_id"), col("c_id").as("true_nn"), col("rnk")),
          Seq("q_id", "true_nn"), "left")
        .select(lit(family).as("family"), col("q_id"), col("true_nn"),
          coalesce(col("rnk"), lit(0)).cast("int").as("rnk"),
          Rounding.stable(coalesce(lit(1.0) / col("rnk"), lit(0.0)), 6).as("rr"))
      val binary = Similarity.topKBinary(q, emb, k = Cfg.binaryMrrK)
      // the eval a tuning loop runs repeatedly must not retrain per
      // run: both quantizer codebooks come from the standing artifacts
      // (train-once on first touch, read thereafter — ADVICE r18)
      val (codebook, cw) = standingCodebooks(s, dir, emb)
      val pq = Similarity.topKPqBlocks(q, emb, cw, k = Cfg.binaryMrrK,
        m = Cfg.pqM, subDim = Cfg.pqSubDim, rerank = 1)
      val ivfpq = Similarity.topKIvfPq(q, emb, cw, k = Cfg.binaryMrrK,
        m = Cfg.pqM, subDim = Cfg.pqSubDim, rerank = 1,
        centroids = codebook, nProbe = 2)
      mrr("binary", binary)
        .unionByName(mrr("pq", pq))
        .unionByName(mrr("ivfpq", ivfpq))
    },
      oracle = mrrEvalSql),

    // MMR diversity re-rank — the post-retrieval pass that trades
    // relevance against redundancy: greedy λ·rel − (1−λ)·max-sim-to-
    // selected over the brute top-10 shortlist, k=3 picks per query.
    // Each greedy step is one broadcast-bounded plan stage (the
    // selected set is ≤ k rows per query); no collects, no windows.
    QueryDef("sim_mmr", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.mmrRerank(emb.filter(col("id") < 5), emb,
        k = Cfg.mmrK, shortlist = Cfg.mmrShortlist, lam = Cfg.mmrLambda)
    },
      oracle = mmrOracleSql),

    // IVF-PQ composite ANN — the FAISS IVFADC+refine layout, the shape
    // that actually ships at 100 TB: trained coarse lists route the ADC
    // pass to the probed lists' codes only (~nProbe/nLists of the
    // corpus), then the k·rerank shortlist re-ranks exact. Reuses the
    // verified coarse chain (sim_ivf_ann) and codes chain (sim_pq_ann).
    QueryDef("sim_ivfpq_ann", (s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      // the two trainings are independent — overlap their job chains
      val (codebook, cw) = Similarity.trainIvfPqConcurrently(emb,
        coarseK = 8, iters = Cfg.kmeansIters, trainBound = Cfg.pqTrainBound,
        m = Cfg.pqM, subDim = Cfg.pqSubDim, codewords = Cfg.pqCodewords)
      Similarity.topKIvfPq(emb.filter(col("id") < 5), emb, cw,
        k = Cfg.pqK, m = Cfg.pqM, subDim = Cfg.pqSubDim, rerank = Cfg.pqRerank,
        centroids = codebook, nProbe = 2)
    },
      oracle = s"""WITH $ivfPqCtesSql
         |SELECT q_id, c_id, score, CAST(rnk AS INT) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS rnk FROM ipx)
         |WHERE rnk <= ${Cfg.pqK}""".stripMargin),

    // IVF-PQ recall gate: the list probe cuts candidates BEFORE the ADC
    // shortlist, so its recall can only be ≤ plain PQ's — measure it.
    QueryDef("sim_ivfpq_recall", (s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val q = emb.filter(col("id") < 5)
      val brute = Similarity.topKBrute(q, emb, Cfg.pqK).select(col("q_id"), col("c_id"))
      // the two trainings are independent — overlap their job chains
      val (codebook, cw) = Similarity.trainIvfPqConcurrently(emb,
        coarseK = 8, iters = Cfg.kmeansIters, trainBound = Cfg.pqTrainBound,
        m = Cfg.pqM, subDim = Cfg.pqSubDim, codewords = Cfg.pqCodewords)
      val ivfpq = Similarity.topKIvfPq(q, emb, cw,
          k = Cfg.pqK, m = Cfg.pqM, subDim = Cfg.pqSubDim, rerank = Cfg.pqRerank,
          centroids = codebook, nProbe = 2)
        .select(col("q_id"), col("c_id"), lit(1).as("__hit"))
      brute.join(ivfpq, Seq("q_id", "c_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("__hit")).as("hits"),
          Rounding.stable(count(col("__hit")).cast("double") / Cfg.pqK, 4).as("recall"))
    },
      oracle = s"""WITH $ivfPqCtesSql,
         |ip AS (
         |  SELECT q_id, c_id
         |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS rnk FROM ipx)
         |  WHERE rnk <= ${Cfg.pqK}),
         |bs AS (
         |  SELECT q.id AS q_id, c.id AS c_id, ${sqlCos("q.v", "c.v")} AS cos
         |  FROM (SELECT * FROM eb WHERE id < 5) q, eb c WHERE q.id <> c.id),
         |brute AS (
         |  SELECT q_id, c_id
         |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk FROM bs)
         |  WHERE rnk <= ${Cfg.pqK})
         |SELECT b.q_id, CAST(count(p.c_id) AS BIGINT) AS hits,
         |       ${Rounding.stableSql(s"count(p.c_id)::DOUBLE / ${Cfg.pqK}", 4)} AS recall
         |FROM brute b LEFT JOIN ip p ON b.q_id = p.q_id AND b.c_id = p.c_id
         |GROUP BY b.q_id""".stripMargin),

    // Quantization-quality measurement: per-query recall of the int8
    // top-3 against the exact-cosine top-3 — completes the
    // "measure, don't guess" trio (LSH recall, minhash estimate
    // quality, SQ recall).
    QueryDef("sim_sq_recall", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val q = emb.filter(col("id") < 5)
      val brute = Similarity.topKBrute(q, emb, 3).select(col("q_id"), col("c_id"))
      val sq = Similarity.topKQuantized(q, emb, 3, Similarity.sqScale(emb, "id", "vec"))
        .select(col("q_id"), col("c_id"), lit(1).as("__hit"))
      brute.join(sq, Seq("q_id", "c_id"), "left")
        .groupBy(col("q_id"))
        .agg(sum(coalesce(col("__hit"), lit(0))).as("hits"))
        .select(col("q_id"), col("hits"),
          Rounding.stable(col("hits").cast("double") / 3, 4).as("recall"))
    },
      oracle = s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT id AS q_id, v AS qv FROM e WHERE id < 5),
         |bs AS (
         |  SELECT q.q_id, c.id AS c_id, ${sqlCos("qv", "c.v")} AS cos
         |  FROM q, e c WHERE q.q_id <> c.id),
         |brute AS (
         |  SELECT q_id, c_id
         |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id ASC) AS rnk FROM bs)
         |  WHERE rnk <= 3),
         |mx AS (SELECT CASE WHEN coalesce(max(list_aggregate(list_transform(v, x -> abs(x)), 'max')), 0) <= 0
         |              THEN error('sqScale: empty or all-zero calibration sample id < 256')
         |              ELSE 127.0 / max(list_aggregate(list_transform(v, x -> abs(x)), 'max')) END AS s
         |       FROM e WHERE id < 256),
         |q8 AS (SELECT id, list_transform(v, x -> greatest(least(round(x * s), 127.0), -127.0)) AS qv FROM e CROSS JOIN mx),
         |qq AS (SELECT id AS q_id, qv AS qqv FROM q8 WHERE id < 5),
         |ss AS (
         |  SELECT q_id, c.id AS c_id,
         |         CAST(list_sum(list_transform(range(1, len(qqv) + 1), i -> qqv[i] * c.qv[i])) AS BIGINT) AS qdot
         |  FROM qq, q8 c WHERE q_id <> c.id),
         |sq AS (
         |  SELECT q_id, c_id
         |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY qdot DESC, c_id ASC) AS rnk FROM ss)
         |  WHERE rnk <= 3)
         |SELECT b.q_id, CAST(count(l.c_id) AS BIGINT) AS hits,
         |       ${Rounding.stableSql("count(l.c_id)::DOUBLE / 3", 4)} AS recall
         |FROM brute b LEFT JOIN sq l ON b.q_id = l.q_id AND b.c_id = l.c_id
         |GROUP BY b.q_id""".stripMargin),

    // Nearest-centroid classification over embeddings: fixed-point
    // (order-independent) per-label centroids, broadcast to a partition-
    // local scoring scan, argmax via one map-side-combinable max_by
    // aggregate — the k-means E-step / IVF-assignment shape at scale.
    QueryDef("sim_centroids", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = Similarity.labelCentroids(emb, "label", "embedding")
      Similarity.centroidAssign(emb, "vec_id", "label", "embedding", cents)
    },
      // Fixed-point centroids (see Similarity.labelCentroids): integer
      // component sums are order-independent, so both engines build the
      // SAME centroid doubles; cosines then use the sequential-fold dot.
      oracle = s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |comp AS (
         |  SELECT label, unnest(range(1, len(v) + 1)) AS i,
         |         CAST(round(unnest(v) * 1000000) AS BIGINT) AS q
         |  FROM e),
         |cent AS (SELECT label, i, sum(q) AS sq, CAST(count(*) AS BIGINT) AS n
         |         FROM comp GROUP BY 1, 2),
         |carr AS (SELECT label AS clabel, list(sq::DOUBLE / (n * 1000000.0) ORDER BY i) AS cv
         |         FROM cent GROUP BY 1),
         |scored AS (
         |  SELECT e.vec_id, e.label, carr.clabel, ${sqlCos("e.v", "carr.cv")} AS cos
         |  FROM e CROSS JOIN carr)
         |SELECT p.vec_id, p.label, p.clabel AS pred_label, o.cos AS own_cos,
         |       p.label = p.clabel AS correct
         |FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, clabel ASC) AS rn
         |      FROM scored) p
         |JOIN scored o ON o.vec_id = p.vec_id AND o.clabel = o.label
         |WHERE p.rn = 1""".stripMargin),

    // Distributed k-means (Lloyd) — the semantic-clustering primitive
    // for diversity sampling / semantic dedup / IVF training: k
    // lowest-id seeds, per-iteration broadcast-centroid assignment
    // (argmax on the 6-dp cosine, lower cid wins ties) and fixed-point
    // integer centroid updates, so the whole iterative FP computation
    // hashes exactly against the unrolled oracle CTEs.
    QueryDef("sim_kmeans", (s, dir) =>
      Similarity.kmeans(Tables.embeddings(s, dir), "vec_id", "embedding",
        k = Cfg.kmeansK, iters = Cfg.kmeansIters),
      // Mirrors Similarity.kmeans with Cfg.kmeansIters (= 2) assignment
      // passes unrolled: init = k lowest-id vectors, argmax on the 6-dp
      // cosine with lower cid on ties, fixed-point integer centroid sums
      // (the sim_centroids trick) between passes.
      oracle = s"""WITH $KmeansCtes
         |SELECT vec_id, CAST(cid AS INT) AS cluster_id, cos
         |FROM a20 WHERE rn = 1""".stripMargin),

    // Coarse-quantizer drift gate — third of the drift-gate trio
    // (indexRecallGate = ANN recall vs brute, ta_bpe_drift = tokenizer
    // fertility, this = quantizer fit): centroids trained on the BASE
    // corpus stay frozen while an ingest batch (the deterministic
    // re-embed shift) is assigned against them; per-corpus mean
    // nearest-centroid cosine in exact micro-units, falling on ingest =
    // the vectors drifting off the trained Voronoi structure — the
    // cheap every-batch monitor that needs NO brute-force ground truth.
    QueryDef("sim_centroid_drift", (s, dir) => {
      val base = Tables.embeddings(s, dir).filter(col("embedding").isNotNull)
        .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
      // ingest fixture = NEGATED vectors (an embedding-model swap — the
      // worst-case quantizer drift): every nearest-centroid cosine
      // flips to -furthest, so the gate must read a large negative delta
      val ingest = base.select(col("vec_id"),
        transform(col("v"), x => -x).as("v"))
      val tagged = base.select(lit("base").as("corpus"), col("vec_id"), col("v"))
        .unionByName(
          ingest.select(lit("ingest").as("corpus"), col("vec_id"), col("v")))
      val cents = Similarity.collectCentroids(Similarity.trainedCentroids(
        base, "vec_id", "v", k = Cfg.kmeansK, iters = Cfg.kmeansIters))
      val per = Similarity.nearestCentroidCos(
          tagged, Seq("corpus", "vec_id"), "v", cents)
        .groupBy(col("corpus"))
        .agg(count(lit(1)).as("n_vecs"),
          Rounding.stable(
            sum(round(col("nn_cos") * 1000000).cast("long")).cast("double") /
              (count(lit(1)) * lit(1000000.0)), 6).as("mean_cos"))
      val baseRow = per.filter(col("corpus") === "base")
        .select(col("mean_cos").as("__base_cos"))
      per.crossJoin(broadcast(baseRow)) // 1-row broadcast dim
        .select(col("corpus"), col("n_vecs"), col("mean_cos"),
          Rounding.stable(col("mean_cos") - col("__base_cos"), 6)
            .as("cos_drift"))
    },
      // Frozen c1 centroids from the base Lloyd chain; base ∪ shifted
      // ingest assigned against them; micro-unit means + drift delta.
      oracle = s"""WITH $KmeansCtes,
         |tg AS (SELECT 'base' AS corpus, vec_id, v FROM e
         |       UNION ALL
         |       SELECT 'ingest', vec_id, list_transform(v, x -> -x) FROM e),
         |nn0 AS (SELECT tg.corpus, tg.vec_id, ${sqlCos("tg.v", "c1.cv")} AS cos
         |        FROM tg CROSS JOIN c1),
         |nn AS (SELECT corpus, vec_id, max(cos) AS nn_cos FROM nn0 GROUP BY 1, 2),
         |per AS (SELECT corpus, CAST(count(*) AS BIGINT) AS n_vecs,
         |               ${Rounding.stableSql(
               "CAST(sum(CAST(round(nn_cos * 1000000) AS BIGINT)) AS DOUBLE)" +
                 " / (count(*) * 1000000.0)", 6)} AS mean_cos
         |        FROM nn GROUP BY 1)
         |SELECT corpus, n_vecs, mean_cos,
         |       ${Rounding.stableSql(
               "mean_cos - (SELECT mean_cos FROM per WHERE corpus = 'base')", 6)} AS cos_drift
         |FROM per""".stripMargin),

    // Cluster-quality gate for k-means (the recall-gate counterpart for
    // clustering): per-cluster size, mean cosine-to-centroid, and the
    // worst member. A double sum of cosines is summation-order-dependent
    // and unhashable — instead the 6-dp cosines are exact integers
    // ×10^6, summed as longs (order-free), with ONE final division.
    QueryDef("sim_kmeans_quality", (s, dir) =>
      Similarity.kmeans(Tables.embeddings(s, dir), "vec_id", "embedding",
          k = Cfg.kmeansK, iters = Cfg.kmeansIters)
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n"),
          Rounding.stable(
            sum(round(col("cos") * 1000000).cast("long")).cast("double") /
              (count(lit(1)) * lit(1000000.0)), 6).as("mean_cos"),
          min(col("cos")).as("min_cos")),
      // Quantized-integer cosine sums (order-free) + one final division —
      // see the Spark-side comment on sim_kmeans_quality.
      oracle = s"""WITH $KmeansCtes,
         |asg AS (SELECT vec_id, cid, cos FROM a20 WHERE rn = 1)
         |SELECT CAST(cid AS INT) AS cluster_id, CAST(count(*) AS BIGINT) AS n,
         |       ${Rounding.stableSql(
               "CAST(sum(CAST(round(cos * 1000000) AS BIGINT)) AS DOUBLE)" +
                 " / (count(*) * 1000000.0)", 6)} AS mean_cos,
         |       min(cos) AS min_cos
         |FROM asg GROUP BY 1""".stripMargin),

    // Semantic diversity sampling: k-means clusters → per-cluster
    // inverse-size keep rates (min(100, 100·target div n)) over the
    // stable content-keyed hash — dominant clusters downsampled toward
    // the target, tail clusters kept whole. Cluster sizes are a k-row
    // broadcast; the keep filter is narrow map work; only integer
    // counts are output, so nothing order-dependent reaches the hash.
    QueryDef("sim_diversity_sample", (s, dir) => {
      // lazily-checkpointed: the 2-pass Lloyd subtree feeds the size
      // aggregate AND the keep scan — without staging it would run twice
      val asg = Similarity.kmeans(Tables.embeddings(s, dir), "vec_id",
        "embedding", k = Cfg.kmeansK, iters = Cfg.kmeansIters)
        .localCheckpoint(eager = false)
      val sizes = asg.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_total"))
      val kept = asg.join(broadcast(sizes), Seq("cluster_id"))
        .filter(Sampling.deterministicKeepAt(col("vec_id"),
          least(lit(100L), expr(s"(100 * ${Cfg.diversityTarget}) div n_total"))))
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_kept"))
      sizes.join(kept, Seq("cluster_id"), "left")
        .select(col("cluster_id"), col("n_total"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
    },
      // K-means assignment (shared CTEs above) → per-cluster inverse-size
      // keep rates (min(100, 100·target div n)) over the stable md5 hash
      // — dominant semantic clusters downsampled toward `target` rows,
      // tail clusters kept whole. Integer div both sides; counts only in
      // the output, so nothing order-dependent is hashed.
      oracle = s"""WITH $KmeansCtes,
         |asg AS (SELECT vec_id, cid FROM a20 WHERE rn = 1),
         |sz AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_total FROM asg GROUP BY 1),
         |kept AS (
         |  SELECT asg.cid FROM asg JOIN sz USING (cid)
         |  WHERE ${graft.operators.Sampling.keepAtSql("asg.vec_id",
             s"CAST(LEAST(100, (100 * ${Cfg.diversityTarget}) // sz.n_total) AS BIGINT)")}),
         |kc AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_kept FROM kept GROUP BY 1)
         |SELECT CAST(sz.cid AS INT) AS cluster_id, sz.n_total,
         |       COALESCE(kc.n_kept, 0) AS n_kept
         |FROM sz LEFT JOIN kc USING (cid)""".stripMargin)
  )
}
