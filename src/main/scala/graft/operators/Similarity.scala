package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`): exact
  * brute-force cosine top-k as the correctness baseline, and a
  * random-hyperplane-LSH bucketed variant as the scale path.
  *
  * graft-native extension (builder brief / SURVEY.md §7.2 step 10).
  *
  * Scale design:
  *  - Brute force is O(|Q|·|C|) — correct, and the right choice when the
  *    query set is small enough to broadcast (the plan below broadcasts
  *    the query side so the corpus scan stays partition-local with NO
  *    shuffle of the big side). It is the oracle for recall measurement.
  *  - The LSH variant buckets both sides on sign-bit keys from
  *    deterministic hyperplanes, turning the cross product into an
  *    equality join: candidates = Σ_bucket |Q_b|·|C_b|. Recall < 1 by
  *    construction; bits trade recall vs candidate count (8 bits ≈ 1/256
  *    of the corpus per probe on uniform data).
  *  - Dot products stay inside codegen'd array expressions
  *    (`zip_with`/`aggregate`) — no UDF, no per-row JVM boxing.
  */
object Similarity {

  /** Element-wise double view of a float-array column (sum order is then
    * identical across engines — float summation would not be).
    */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Native codegen'd kernels (graft.expressions.VectorOps) when
    * [[graft.GraftExtensions]] is registered in the active session: the
    * interpreted zip_with/aggregate forms cost ~constant per-element
    * lambda overhead, measured ~3× the whole ANN query. Sessions built
    * WITHOUT the extension fall back to those builtin forms (like
    * [[Dedup.intersectCount]]) instead of failing analysis. Summation
    * order is sequential in both paths, so results are bit-equal to
    * each other and to the DuckDB oracle.
    */
  private def nativeKernels: Boolean =
    org.apache.spark.sql.SparkSession.getActiveSession
      .exists(_.catalog.functionExists("dot_product"))

  private def dotBuiltin(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Squared L2 distance as the same sequential fold shape as
    * [[dotBuiltin]] — bit-equal to the oracle's
    * `list_sum(list_transform(..., (a-b)*(a-b)))`.
    */
  private def l2sqBuiltin(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** Native codegen'd kernel when the extension is registered (same
    * fallback discipline as [[dot]]/[[cosine]]): the PQ encode argmin
    * evaluates this |corpus|·m·k times — the family's hot loop.
    */
  def l2sq(a: Column, b: Column): Column =
    if (nativeKernels) graft.expressions.VectorOps.squaredL2(a, b)
    else l2sqBuiltin(a, b)

  def dot(a: Column, b: Column): Column =
    if (nativeKernels) graft.expressions.VectorOps.dot(a, b)
    else dotBuiltin(a, b)

  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine similarity of two double-array columns (callers pre-cast);
    * one native pass for all three sums (three builtin folds without the
    * extension — same sequential order, identical result).
    */
  def cosine(a: Column, b: Column): Column =
    if (nativeKernels) graft.expressions.VectorOps.cosine(a, b)
    else dotBuiltin(a, b) / (sqrt(dotBuiltin(a, a)) * sqrt(dotBuiltin(b, b)))

  /** Rank scored candidates to (…, c_id, cos, rnk ≤ k) per group — via
    * the bounded [[graft.functions.TopKByScore]] aggregate, NOT a
    * `row_number` window: the window must shuffle and per-group
    * full-sort EVERY candidate score, while the aggregate keeps a
    * k-bounded buffer per partition and map-side-combines, so the
    * exchange carries k·partitions rows per query instead of the whole
    * candidate set (at corpus scale, the difference between shuffling
    * |corpus|/buckets scores and shuffling k). Ordering (cos DESC on the
    * 6-dp rounded value, c_id ASC) is identical to the window form.
    */
  private def rankTopK(scored: DataFrame, k: Int,
      groupCols: Seq[String]): DataFrame = {
    val top = graft.functions.TopK.topKByScore(k)
    scored.groupBy(groupCols.map(col): _*)
      .agg(top(col("cos"), col("c_id")).as("__top"))
      .select(groupCols.map(col) :+ posexplode(col("__top")): _*)
      .select(groupCols.map(col) ++ Seq(
        col("col._2").as("c_id"),
        col("col._1").as("cos"),
        (col("pos") + 1).as("rnk")): _*)
  }

  /** Brute-force cosine top-k: every query row against every corpus row,
    * rank per query. `queries`/`corpus`: (id, vec) with vec Array[Float].
    * Self-matches (same id) are excluded.
    */
  def topKBrute(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("id").as("q_id"), asDouble(col("vec")).as("q_vec"))
    // fan the corpus side out before the |Q|x|C| cosine kernel — the
    // embeddings table is byte-small but the scoring is CPU-dense per
    // row, so the single-split scan serializes it (identity at scale,
    // see Fan; r22)
    val c = Fan.out(corpus).select(col("id").as("c_id"), asDouble(col("vec")).as("c_vec"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("cos", round(cosine(col("q_vec"), col("c_vec")), 6))
    rankTopK(scored, k, Seq("q_id"))
      .select(col("q_id"), col("c_id"), col("cos"), col("rnk"))
  }

  /** Per-label centroids in fixed-point arithmetic — the k-means/IVF
    * "update" step done so the result is ORDER-INDEPENDENT: a plain
    * `avg` over doubles depends on partition-visit order (FP addition is
    * not associative), so the same data can yield hash-different
    * centroids run-to-run and engine-to-engine. Quantizing each
    * component to `round(x·10^6)` first makes the per-(label, position)
    * sum an exact integer aggregate — associative, map-side combinable,
    * identical everywhere — and the final divide is one double op on
    * identical operands. Exactly the trick integer-accumulator training
    * pipelines use for reproducible feature means at cluster scale.
    *
    * Output: (clabel, cv DOUBLE[]) — one row per label.
    */
  def labelCentroids(emb: DataFrame, labelCol: String, vecCol: String,
      scale: Long = 1000000L): DataFrame = {
    // null vectors/labels carry no information and would otherwise skew
    // n (count) against sq (sum skips nulls) — drop them up front, the
    // same guard the as-of entry points apply to their key/time columns
    val comp = emb
      .filter(col(labelCol).isNotNull && col(vecCol).isNotNull)
      .select(col(labelCol).as("clabel"),
        posexplode(asDouble(col(vecCol))).as(Seq("i", "x")))
      .select(col("clabel"), col("i"),
        round(col("x") * scale).cast("long").as("q"))
    comp.groupBy(col("clabel"), col("i"))
      .agg(sum("q").as("sq"), count(lit(1)).as("n"))
      .groupBy(col("clabel"))
      .agg(sort_array(collect_list(struct(col("i"),
        (col("sq").cast("double") / (col("n") * scale.toDouble)).as("v"))))
        .as("arr"))
      // array rebuild is per-LABEL (k rows), so the CodegenFallback HOF
      // and the collect_list width are bounded by dim, not corpus size
      .select(col("clabel"), transform(col("arr"), s => s.getField("v")).as("cv"))
  }

  /** Nearest-centroid assignment — the k-means "E step" / centroid
    * classification: each vector scores against every label centroid
    * (centroids broadcast: k·dim doubles, partition-local scan), takes
    * the argmax by (6-dp cosine, lower label wins ties), and reports the
    * cosine to its OWN label's centroid alongside. One hash aggregate
    * per vector — `max_by` over the (cos, −label) struct, not a window:
    * map-side combinable, no per-vector sort, no exchange of the k·|emb|
    * scored rows.
    *
    * Output: (idCol, label, pred_label, own_cos, correct).
    */
  def centroidAssign(emb: DataFrame, idCol: String, labelCol: String,
      vecCol: String, centroids: DataFrame): DataFrame = {
    val scored = emb
      .filter(col(vecCol).isNotNull) // a null vector has no nearest centroid
      .select(col(idCol), col(labelCol), asDouble(col(vecCol)).as("__v"))
      .crossJoin(broadcast(centroids))
      .withColumn("cos", round(cosine(col("__v"), col("cv")), 6))
    scored.groupBy(col(idCol), col(labelCol))
      .agg(
        max_by(col("clabel"),
          struct(col("cos").as("c"), (lit(0) - col("clabel")).as("t")))
          .as("pred_label"),
        max(when(col("clabel") === col(labelCol), col("cos"))).as("own_cos"))
      .withColumn("correct", col(labelCol) === col("pred_label"))
  }

  /** Distributed k-means over embeddings (Lloyd's algorithm) — the
    * semantic-clustering primitive behind diversity sampling, semantic
    * dedup, and IVF list training. `iters` assignment passes with a
    * centroid update between each pair.
    *
    * Determinism (what makes an iterative FP algorithm oracle-hashable):
    *  - init = the k lowest-id vectors (the IVF convention here), so
    *    both engines start identically;
    *  - assignment argmax on the 6-dp ROUNDED cosine with lower
    *    cluster id winning ties — `max_by` over (cos, −cid), map-side
    *    combinable, no window sort;
    *  - centroid update via [[labelCentroids]]' fixed-point trick:
    *    components quantized to `round(x·10^6)` so per-(cid, i) sums are
    *    exact integer aggregates (order-independent), and the final
    *    divide is one double op on identical operands.
    * A cluster that loses every member simply disappears from the next
    * round (both engines agree — its cid has no rows to aggregate).
    *
    * Scale shape: per iteration, one broadcast of k·dim doubles against
    * a partition-local corpus scan (no shuffle of the big side), one
    * per-vector hash aggregate, and one component-sum aggregate of
    * k·dim rows. The corpus is scanned once per iteration — inherent to
    * Lloyd — so callers bound `iters` small and feed a sampled corpus
    * for LM-scale clustering. The vector rides through the argmax
    * struct to spare a rejoin; at dim=64 that is 512 B/row through one
    * exchange.
    *
    * Output: (vec_id, cluster_id, cos) — final-round assignment and its
    * rounded cosine.
    */
  def kmeans(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int, scale: Long = 1000000L): DataFrame =
    lloydCore(emb, idCol, vecCol, k, iters, scale)._1
      .select(col("vec_id"), col("cid").as("cluster_id"), col("cos"))

  /** The trained k-means codebook: the centroids Lloyd's FINAL
    * assignment pass scored against ((cid, cv) — for `iters` = 2 that
    * is the one-update centroids, the oracle CTE chain's `c1`). This is
    * what IVF coarse quantizers and PQ codebooks train offline: the
    * operator downstream (argmax over a broadcast k-row dim) is
    * identical whether the codebook is trained or data-picked, so
    * swapping training in costs nothing at query time — the Lloyd scans
    * happen once at build, like any offline index build. Same
    * determinism contract as [[kmeans]] (fixed seeds, 6-dp argmax,
    * fixed-point updates), so the codebook is oracle-reproducible.
    */
  def trainedCentroids(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, scale: Long = 1000000L,
      metric: String = "cosine"): DataFrame =
    lloydCore(emb, idCol, vecCol, k, iters, scale, metric)._2

  /** Driver-side collect of a (cid, cv) centroid frame to plan-time
    * literals, cid-ordered — k·dim doubles, the bounded read every
    * broadcast-centroid consumer starts from.
    */
  def collectCentroids(cents: DataFrame): Seq[(Int, Seq[Double])] =
    cents.select(col("cid"), col("cv")).orderBy(col("cid")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toSeq

  /** Lloyd's algorithm core shared by [[kmeans]] (wants the final
    * assignment) and [[trainedCentroids]] (wants the codebook that
    * assignment used): returns (assigned(vec_id, cid, v, cos),
    * cents(cid, cv)).
    */
  private def lloydCore(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, scale: Long,
      metric: String = "cosine"): (DataFrame, DataFrame) = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(metric == "cosine" || metric == "l2",
      s"metric must be cosine or l2, got $metric")
    // fanned: every assign pass scores |corpus|·k cosines over this
    // frame, and the byte-small scan otherwise serializes them (r22)
    val e = Fan.out(emb.filter(col(vecCol).isNotNull))
      .select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
    // TakeOrderedAndProject for the k seed rows; numbering is one
    // k-row aggregate (sorted collect + posexplode) — same cids as a
    // row_number over vec_id, but no global window (a partition-less
    // WindowExec moves data to one partition and warns per
    // construction, flooding bench stderr; constant partition keys get
    // folded away, so an aggregate is the clean single-partition form)
    val init = e.orderBy(col("vec_id")).limit(k)
      .agg(sort_array(collect_list(struct(col("vec_id"), col("v")))).as("s"))
      .select(posexplode(col("s")).as(Seq("cid", "sv")))
      .select(col("cid").cast("int").as("cid"), col("sv.v").as("cv"))

    // "cos" carries the assignment score either way: 6-dp cosine for
    // the cosine metric, NEGATED 6-dp squared-L2 for the l2 metric
    // (PQ codebook training) — higher-is-better in both, argmax ties
    // to the lower cid.
    def assign(cents: DataFrame): DataFrame = {
      val score =
        if (metric == "l2") lit(0.0) - round(l2sq(col("v"), col("cv")), 6)
        else round(cosine(col("v"), col("cv")), 6)
      e.crossJoin(broadcast(cents))
        .withColumn("cos", score)
        .groupBy(col("vec_id"))
        .agg(max_by(struct(col("cid"), col("v"), col("cos")),
          struct(col("cos").as("c"), (lit(0) - col("cid")).as("t"))).as("b"))
        .select(col("vec_id"), col("b.cid").as("cid"), col("b.v").as("v"),
          col("b.cos").as("cos"))
    }

    // the M step IS labelCentroids with the assignment as the label —
    // one copy of the fixed-point trick to keep in sync
    def update(assigned: DataFrame): DataFrame =
      labelCentroids(assigned, "cid", "v", scale)
        .select(col("clabel").as("cid"), col("cv"))

    var cents = init
    var assigned = assign(init)
    for (_ <- 2 to iters) { cents = update(assigned); assigned = assign(cents) }
    (assigned, cents)
  }

  /** Scalar (int8-style) quantization: components scaled by
    * `127 / max|x|`, rounded to integers and CLAMPED to [-127, 127]
    * (saturating, like a real int8 cast — required because the scale is
    * calibrated on a sample, so out-of-sample components may overshoot).
    * Values are held in doubles — every value and every dot-product
    * partial stays < 2^53, so the arithmetic is EXACT integer math in
    * both engines; no rounding discipline needed anywhere downstream.
    * This is the compression real vector stores run: 4× smaller
    * vectors, integer dots, ranking preserved up to quantization error.
    *
    * @return (id, qv DOUBLE[] of integer values in [-127, 127])
    */
  def quantize(emb: DataFrame, idCol: String, vecCol: String,
      scale: Double): DataFrame =
    emb.filter(col(vecCol).isNotNull).select(col(idCol).as("id"),
      transform(asDouble(col(vecCol)),
        x => greatest(least(round(x * scale), lit(127.0)), lit(-127.0))).as("qv"))

  /** The bounded calibration read behind [[sqScale]], exposed so the
    * plan-audit suite can assert the `id < sampleBound` predicate
    * actually reaches the parquet scan (the boundedness claim is a
    * pushdown property, invisible once collect() has run).
    */
  private[graft] def sqScaleCalibration(emb: DataFrame, idCol: String,
      vecCol: String, sampleBound: Long): DataFrame =
    emb.filter(col(idCol) < sampleBound)
      .select(posexplode(asDouble(col(vecCol))).as(Seq("i", "x")))
      .agg(max(abs(col("x"))))

  /** The quantization scale, `127 / max|component|`, CALIBRATED on the
    * bounded id-prefix sample `id < sampleBound` rather than the full
    * corpus: at 100 TB a scan for one scalar is an extra full pass, so
    * the scale is a training-time constant derived the way real vector
    * stores derive it — from a calibration sample. The `id <` predicate
    * pushes into the parquet scan and prunes row groups via min/max
    * stats, so the read is bounded at any corpus size; components the
    * sample missed saturate in [[quantize]]'s clamp (standard int8
    * behavior). Max over the sample is an exact fold, so both engines
    * derive the identical double.
    */
  def sqScale(emb: DataFrame, idCol: String, vecCol: String,
      sampleBound: Long = 256L): Double = {
    val row = sqScaleCalibration(emb, idCol, vecCol, sampleBound).collect()(0)
    // the prefix sample can legitimately be empty (ids not anchored at
    // 0) or all-zero (padding vectors) — either would silently produce
    // a NaN/Infinity scale and poison every quantized vector downstream
    require(!row.isNullAt(0),
      s"sqScale: calibration sample `$idCol < $sampleBound` matched no vectors — raise sampleBound or re-key")
    val maxAbs = row.getDouble(0)
    require(maxAbs > 0.0,
      s"sqScale: calibration sample `$idCol < $sampleBound` is all-zero — scale undefined")
    127.0 / maxAbs
  }

  /** Top-k by quantized dot product — the third ANN family next to LSH
    * buckets and IVF lists: no candidate pruning, but the scan runs on
    * 8-bit-range integers (vectorizable, exact), and the ranking
    * aggregate is the same bounded top-k buffer as the other paths.
    * Scores are integers, ties break to the lower id — bit-identical
    * across engines with zero rounding.
    */
  def topKQuantized(queries: DataFrame, corpus: DataFrame, k: Int,
      scale: Double): DataFrame = {
    val q = quantize(queries, "id", "vec", scale)
      .select(col("id").as("q_id"), col("qv").as("q_qv"))
    val c = quantize(Fan.out(corpus), "id", "vec", scale)
      .select(col("id").as("c_id"), col("qv").as("c_qv"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("qdot", dot(col("q_qv"), col("c_qv")))
    val top = graft.functions.TopK.topKByScore(k)
    scored.groupBy(col("q_id"))
      .agg(top(col("qdot"), col("c_id")).as("__top"))
      .select(col("q_id"), posexplode(col("__top")).as(Seq("pos", "kv")))
      .select(col("q_id"), col("kv._2").as("c_id"),
        col("kv._1").cast("long").as("qdot"),
        (col("pos") + 1).cast("int").as("rnk"))
  }

  /** Sign-quantized BINARY embedding codes — 1 bit per dimension, set
    * iff the component is strictly positive (Charikar 2002's
    * random-hyperplane LSH with the identity basis; the corpus's
    * components are zero-centered, which is what makes raw sign bits
    * informative). The 64 bits pack into TWO 32-bit halves carried in
    * BIGINT columns (code_lo = dims 1..32, code_hi = 33..64) so neither
    * engine ever shifts into a long's sign bit — the codes are plain
    * non-negative integers on both sides, bit-identical by construction
    * (each bit is one strict `> 0` test; powers of two are exact in the
    * double `pow` both engines fold with). The most aggressive
    * compression point in the ANN family: 64 dims → 8 bytes, vs SQ's 64
    * bytes and PQ's m codes; distance is two XOR+popcount integer ops —
    * exact, branch-free, whole-stage-codegen friendly, and at 100 TB the
    * candidate scan streams 16 bytes/row instead of 256.
    *
    * The layout is pinned to 64-dim vectors (= the PQ family's
    * `Cfg.pqM · Cfg.pqSubDim` embedding dim): a shorter vector would
    * throw per-element under ANSI `element_at`, a LONGER one would
    * silently truncate to its first 64 signs — so the plan fails fast
    * with an explicit message on any non-64 dim (ADVICE r17).
    */
  def binaryCodes(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val vd = asDouble(col(vecCol))
    def half(off: Int): Column = aggregate(
      sequence(lit(0), lit(31)), lit(0L),
      (acc, i) => acc + when(
        element_at(vd, (i + lit(off + 1)).cast("int")) > 0.0,
        pow(lit(2.0), i).cast("long")).otherwise(lit(0L)))
    // BOTH halves live inside the size guard (ADVICE r18): with only
    // code_lo guarded, a <64-dim vector could die on code_hi's generic
    // ANSI INVALID_ARRAY_INDEX before the guarded column's explicit
    // raise_error — intra-projection evaluation order is unspecified.
    // The struct keeps each extracted half individually conditioned on
    // the size check after SimplifyExtractValueOps splits it.
    val guarded = when(size(vd) === 64,
      struct(half(0).as("lo"), half(32).as("hi")))
      .otherwise(raise_error(concat(
        lit("binaryCodes: layout is pinned to 64-dim vectors, got dim="),
        size(vd).cast("string"))))
    // the 2x32-term sign fold is CPU per row at 16 output bytes — fan
    // the byte-small scan out first (identity at scale and on streams)
    Fan.out(emb.filter(col(vecCol).isNotNull))
      .select(col(idCol).as("id"), guarded.as("__bc"))
      .select(col("id"), col("__bc.lo").as("code_lo"), col("__bc.hi").as("code_hi"))
  }

  /** Hamming distance between two packed binary codes (the
    * [[binaryCodes]] two-half layout): XOR + popcount per half, summed.
    */
  def hammingCodes(aLo: Column, aHi: Column, bLo: Column, bHi: Column): Column =
    bit_count(aLo.bitwiseXOR(bLo)) + bit_count(aHi.bitwiseXOR(bHi))

  /** Top-k by Hamming distance over sign-quantized codes — the fifth
    * ANN family (brute / LSH / IVF / SQ / PQ / binary): no candidate
    * pruning, but the scan compares 8-byte codes with integer popcounts
    * and the ranking is the same bounded top-k aggregate as every other
    * path (score = −hamming, so DESC score ≡ ASC distance; ties to the
    * lower id). `rerank > 1` runs the production two-stage shape — the
    * Hamming pass SHORTLISTS k·rerank candidates, only those rows are
    * re-scored with their full-precision vectors (exact 6-dp cosine,
    * [[topKBrute]]'s score) and cut to k — so the expensive float
    * arithmetic touches k·rerank rows per query at any corpus size.
    */
  def topKBinary(queries: DataFrame, corpus: DataFrame, k: Int,
      rerank: Int = 1): DataFrame = {
    val qc = binaryCodes(queries, "id", "vec").select(col("id").as("q_id"),
      col("code_lo").as("q_lo"), col("code_hi").as("q_hi"))
    val cc = binaryCodes(corpus, "id", "vec").select(col("id").as("c_id"),
      col("code_lo").as("c_lo"), col("code_hi").as("c_hi"))
    val q = queries.select(col("id").as("q_id"), asDouble(col("vec")).as("q_v"))
    val scored = cc.join(broadcast(qc), col("q_id") =!= col("c_id"))
      .withColumn("score", (lit(0) - hammingCodes(
        col("q_lo"), col("q_hi"), col("c_lo"), col("c_hi"))).cast("double"))
    rankAdcThenExact(scored, corpus, q, k, rerank)
  }

  /** Multi-index Hamming bands over the [[binaryCodes]] layout: the
    * 64-bit code split into `bands` equal slices, long-form
    * (id, band, band_val). Pigeonhole: two codes within Hamming
    * distance < `bands` MUST agree on at least one whole band — so an
    * equi-join on (band, band_val) generates every candidate inside
    * that radius (8 bands of 8 bits ⇒ radius 7 guaranteed; more
    * distant true neighbors can still collide, just without the
    * guarantee). This is the `dedup_simhash_pairs` move applied to the
    * search side: it gives the binary family a sub-linear candidate
    * path like IVF's list probe, instead of [[topKBinary]]'s
    * full-corpus Hamming scan.
    */
  def binaryBands(codes: DataFrame, bands: Int,
      carry: Seq[String] = Nil): DataFrame = {
    require(bands >= 2 && bands % 2 == 0 && 64 % bands == 0,
      s"binaryBands: bands must split the two 32-bit halves evenly, got $bands")
    val perHalf = bands / 2
    val w = 64 / bands
    val mask = (1L << w) - 1
    val slices = (0 until bands).map { b =>
      val half = if (b < perHalf) col("code_lo") else col("code_hi")
      struct(lit(b).as("band"),
        shiftright(half, w * (b % perHalf)).bitwiseAND(lit(mask)).as("band_val"))
    }
    // `carry` rides extra columns through the explode (the streaming
    // screen keeps the code halves on the band rows — a separate join
    // back to the codes would be stream-stream on the live side)
    codes.select(col("id") +: carry.map(col) :+
        explode(array(slices: _*)).as("bb"): _*)
      .select(col("id") +: carry.map(col) :+
        col("bb.band").as("band") :+ col("bb.band_val").as("band_val"): _*)
  }

  /** Banded binary top-k — [[topKBinary]] with multi-index Hamming
    * candidate generation: corpus rows reach the Hamming ranking only
    * if they share ≥1 of the `bands` band values with the query (an
    * equi-join on (band, band_val) against the broadcast query bands,
    * then DISTINCT — never a corpus scan per query). At 100 TB the
    * candidate volume per query is Σ_band |corpus rows in the query's
    * band cell| (~bands·|C|/2^w on sign-balanced codes) instead of
    * |C|; a degenerate band value (a near-constant dim region) can at
    * worst re-admit the full scan, never exceed it — the query side of
    * the join is the small broadcast side. Recall vs the raw scan is
    * measured, not guessed: `sim_binary_banded` gates it per query.
    */
  def topKBinaryBanded(queries: DataFrame, corpus: DataFrame, k: Int,
      bands: Int, rerank: Int = 1): DataFrame = {
    val qc = binaryCodes(queries, "id", "vec")
    val cc = binaryCodes(corpus, "id", "vec")
    bandedBinaryTail(qc, cc, binaryBands(cc, bands), bands,
      queries, corpus, k, rerank)
  }

  /** The banded-binary search tail shared by the inline
    * [[topKBinaryBanded]] and the prebuilt-artifact
    * [[searchBinaryIndex]]: multi-index candidate equi-join on
    * (band, band_val) against the broadcast query bands, Hamming
    * ranking over only the candidates, then the usual
    * shortlist/exact-refine. `cc` carries the corpus codes
    * (id, code_lo, code_hi), `cb` the corpus band postings
    * (id, band, band_val) — from either an inline slicing or a
    * persisted posting table, identical by construction (the band
    * slicing is static arithmetic, no trained state).
    */
  private def bandedBinaryTail(qc: DataFrame, cc: DataFrame, cb: DataFrame,
      bands: Int, queries: DataFrame, corpus: DataFrame, k: Int,
      rerank: Int): DataFrame = {
    val qb = binaryBands(qc, bands)
      .select(col("id").as("q_id"), col("band"), col("band_val"))
    val cand = cb.select(col("id").as("c_id"), col("band"), col("band_val"))
      .join(broadcast(qb), Seq("band", "band_val"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id")).distinct()
    val q = queries.select(col("id").as("q_id"), asDouble(col("vec")).as("q_v"))
    val scored = cand
      .join(cc.select(col("id").as("c_id"),
        col("code_lo").as("c_lo"), col("code_hi").as("c_hi")), Seq("c_id"))
      .join(broadcast(qc.select(col("id").as("q_id"),
        col("code_lo").as("q_lo"), col("code_hi").as("q_hi"))), Seq("q_id"))
      .withColumn("score", (lit(0) - hammingCodes(
        col("q_lo"), col("q_hi"), col("c_lo"), col("c_hi"))).cast("double"))
    rankAdcThenExact(scored, corpus, q, k, rerank)
  }

  /** Write the binary sign-code index artifacts of a corpus — the
    * build-once / search-many lifecycle for the binary family (the
    * [[writeIvfPqIndex]] discipline applied to the cheapest code in
    * the house). Under `dir`:
    *
    *  - `codes/` — (id, code_lo, code_hi): the packed 64-bit
    *    signatures the Hamming ranking scans — 16 bytes/row at any
    *    corpus size, built ONCE per ingest instead of re-deriving
    *    sign bits from the full-precision vectors per query session
    *  - `bands/` — (id, code_lo, code_hi, band_val, band): the
    *    multi-index posting table, PARTITIONED by band — each of a
    *    query's `bands` probe cells touches one band directory (static
    *    partition pruning on the equi-join's band key). The two packed
    *    code halves are DENORMALIZED onto every posting row (ADVICE
    *    r19): +16 bytes/row buys the live screen its per-row Hamming
    *    cut with ONE stream-static join — the normalized layout made
    *    every micro-batch re-join the standing-corpus-sized codes
    *    table onto its postings first
    *  - `meta/` — the band count, pinned so an append can never slice
    *    a new batch differently from the standing postings, plus the
    *    layout format version (2 = denormalized code halves)
    *
    * Unlike IVF-PQ there is NO trained state — the band slicing is
    * static arithmetic over the code bits — so append ≡ rebuild holds
    * bit-for-bit with no drift gate needed (spec-pinned).
    */
  def writeBinaryIndex(emb: DataFrame, idCol: String, vecCol: String,
      dir: String, bands: Int): Unit = {
    val sp = emb.sparkSession
    import sp.implicits._
    val codes = binaryCodes(emb, idCol, vecCol)
    codes.write.mode("overwrite").parquet(s"$dir/codes")
    binaryBands(codes, bands, carry = Seq("code_lo", "code_hi"))
      .write.partitionBy("band").mode("overwrite").parquet(s"$dir/bands")
    Seq((bands, 2)).toDF("bands", "fmt").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Append a new batch to a [[writeBinaryIndex]] index: codes + band
    * postings of the batch only, sliced with the band count frozen in
    * `meta/`. One scan of the new batch; the standing corpus is never
    * re-read. Search over the grown index is bit-identical to a full
    * rebuild over the union corpus (per-row pure, no cross-row state).
    */
  def appendToBinaryIndex(newEmb: DataFrame, idCol: String, vecCol: String,
      dir: String): Unit = {
    val sp = newEmb.sparkSession
    val meta = sp.read.parquet(s"$dir/meta").collect()(0)
    val bands = meta.getAs[Int]("bands")
    require(meta.getAs[Int]("fmt") == 2,
      "appendToBinaryIndex: index layout fmt mismatch — rebuild with " +
        "writeBinaryIndex (postings now denormalize the code halves)")
    val codes = binaryCodes(newEmb, idCol, vecCol)
    codes.write.mode("append").parquet(s"$dir/codes")
    binaryBands(codes, bands, carry = Seq("code_lo", "code_hi"))
      .write.partitionBy("band").mode("append").parquet(s"$dir/bands")
  }

  /** Search a PREBUILT binary index ([[writeBinaryIndex]]): identical
    * results to the inline [[topKBinaryBanded]], but the corpus side
    * costs one posting/codes scan — the sign-quantization pass never
    * re-runs. `corpus` supplies only the full-precision vectors the
    * exact re-rank stage reads (k·rerank rows per query).
    */
  def searchBinaryIndex(queries: DataFrame, corpus: DataFrame,
      codes: DataFrame, bandPostings: DataFrame, bands: Int, k: Int,
      rerank: Int = 1): DataFrame =
    bandedBinaryTail(binaryCodes(queries, "id", "vec"), codes, bandPostings,
      bands, queries, corpus, k, rerank)

  /** Product quantization, encode step: split each vector into `m`
    * blocks of `subDim` and code every block as its nearest codeword
    * (squared L2, ties to the lower codeword id). Codewords are rows of
    * `codewords` (id, vec) — like the IVF coarse quantizer, a
    * deterministic data-derived codebook stands in for trained
    * centroids; the OPERATOR (block argmin over a k-row broadcast dim)
    * is the same either way. Output long-form: (id, m, code).
    */
  def pqEncode(emb: DataFrame, codewords: DataFrame,
      m: Int, subDim: Int): DataFrame =
    pqEncodeBlocks(emb, sliceCodebooks(codewords, m, subDim), m, subDim)

  /** PQ decode/reconstruction: stitch each doc's codewords back into a
    * 64-dim approximation. Scoring against the reconstruction is
    * arithmetically identical to lookup-table ADC (the dot distributes
    * over blocks) — at scale the LUT form precomputes m·k partial dots
    * per query; the reconstruction form keeps the arithmetic in the
    * SAME sequential fold both engines run, which is what an exact
    * oracle needs.
    */
  def pqReconstruct(codes: DataFrame, codewords: DataFrame,
      m: Int, subDim: Int): DataFrame =
    pqReconstructBlocks(codes, sliceCodebooks(codewords, m, subDim))

  /** PQ-ADC top-k: queries stay full-precision, the corpus is scored
    * through its reconstruction — the fourth ANN family (brute, LSH
    * buckets, IVF lists, PQ codes). Ranked by the usual bounded top-k
    * aggregate on (6-dp score, lower id).
    */
  def topKPq(queries: DataFrame, corpus: DataFrame, codewords: DataFrame,
      k: Int, m: Int = 8, subDim: Int = 8): DataFrame =
    topKPqBlocks(queries, corpus, sliceCodebooks(codewords, m, subDim),
      k, m, subDim)

  /** Per-block codebooks sliced out of full-space codewords — the
    * data-cheap codebook [[pqEncode]]/[[pqReconstruct]] historically
    * used. Measured recall 0.13–0.40 at sf0.01 across settings: a
    * full-space centroid's block is NOT a good quantizer of that
    * block's marginal distribution. Kept for the API (and as the
    * measured lower bound the trained path is judged against).
    */
  private def sliceCodebooks(codewords: DataFrame, m: Int, subDim: Int): DataFrame =
    codewords.select(col("id").as("cwid"), asDouble(col("vec")).as("v"))
      .select(col("cwid"), blockExplode(col("v"), m, subDim).as("mb"))
      .select(col("mb.m").as("m"), col("cwid"), col("mb.blk").as("cwblk"))

  /** One (m, blk) struct row per `subDim`-wide block of a double-array
    * column — THE block layout every PQ stage shares (encode, codebook
    * slicing, per-block training); a layout change edits one place.
    */
  private def blockExplode(v: Column, m: Int, subDim: Int): Column =
    explode(array((0 until m).map(b =>
      struct(lit(b).as("m"), slice(v, b * subDim + 1, subDim).as("blk"))): _*))

  /** Textbook PQ codebook training: block b of every vector (subDim
    * components) is clustered INDEPENDENTLY by the same Lloyd core as
    * the full-space kmeans (fixed first-k seeds, 6-dp argmax,
    * fixed-point updates — oracle-reproducible), so each block's
    * quantizer spans that block's actual marginal distribution instead
    * of being sliced out of full-space centroids. m·iters bounded
    * corpus scans at BUILD time — an offline index build, like IVF
    * coarse training; at 100 TB each run reads a training sample, and
    * the result is a m·k-row broadcast literal either way.
    * @return (m, cwid, cwblk) rows, cwid-ordered within each block
    */
  def trainPqCodebooks(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, subDim: Int, k: Int, iters: Int,
      scale: Long = 1000000L): Seq[(Int, Int, Seq[Double])] = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // ALL m block-Lloyds run as ONE keyed pass — blocks are
    // independent, so clustering the block-exploded corpus with
    // composite (b, cid) centroids is result-identical to m separate
    // runs (the oracle unrolls them separately), but costs one job
    // chain instead of m: measured 6.8 s → the per-job scheduling of
    // ~4·m Spark actions dominated, not the arithmetic.
    //
    // L2 metric: PQ minimizes per-block reconstruction error
    // ||blk − codeword||², so the quantizer must cluster by L2 —
    // cosine-clustered block codebooks measured WORSE (0.27) than
    // even sliced full-space centroids, because block magnitude is
    // what reconstruction has to preserve.
    //
    // staged: every assign pass reads the blocks
    val blocks = Stage.share(Fan.out(emb.filter(col(vecCol).isNotNull))
      .select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("__v"))
      .select(col("vec_id"), blockExplode(col("__v"), m, subDim).as("mb"))
      .select(col("vec_id"), col("mb.m").as("b"), col("mb.blk").as("bv")))
    // the k lowest vec_ids seed EVERY block — identical to each
    // independent run's first-k-seeds rule. LAZY (r16): the seeds ride
    // the plan as a TakeOrderedAndProject + posexplode numbering joined
    // back onto the blocks (the lloydCore init shape), so seeding costs
    // zero driver jobs — the old bounded collect was one full Spark
    // action per training, ~a quarter of the warm train time at sf0.1.
    // cast-to-long: an int32 id column is a benign re-encoding per the
    // schema canary and must not crash the build
    val distinctIds = blocks.select(col("vec_id").cast("long").as("vec_id"))
      .distinct()
    val seedMap = distinctIds.orderBy(col("vec_id")).limit(k)
      .agg(sort_array(collect_list(col("vec_id"))).as("s"))
      .select(posexplode(col("s")).as(Seq("cid", "vec_id")))
      .select(col("vec_id"), col("cid").cast("int").as("cid"))
    val init = blocks
      .withColumn("vec_id", col("vec_id").cast("long"))
      .join(broadcast(seedMap), Seq("vec_id"))
      .select(col("b"), col("cid"), col("bv").as("cv"))
    // loud failure over silent degradation (ADVICE r13): with fewer than
    // k distinct vectors the blocks would train < k codewords per block
    // and recall would quietly collapse — the cause is almost always a
    // training slice (pqTrainBound) that no longer covers k vectors.
    // The guard rides the FINAL collect job (assert_true over the
    // broadcast 1-row distinct count) instead of costing its own action.
    val seedGuard = distinctIds.agg(count(lit(1)).as("__n_train_vecs"))

    def assign(cents: DataFrame): DataFrame =
      blocks.join(broadcast(cents), Seq("b"))
        .withColumn("s", lit(0.0) - round(l2sq(col("bv"), col("cv")), 6))
        .groupBy(col("vec_id"), col("b"))
        .agg(max_by(struct(col("cid"), col("bv")),
          struct(col("s").as("c"), (lit(0) - col("cid")).as("t"))).as("x"))
        .select(col("b"), col("x.cid").as("cid"), col("x.bv").as("bv"))

    def update(assigned: DataFrame): DataFrame =
      labelCentroids(
        assigned.withColumn("lbl", col("b") * k + col("cid")), "lbl", "bv", scale)
        .select(expr(s"clabel div $k").cast("int").as("b"),
          pmod(col("clabel"), lit(k)).cast("int").as("cid"), col("cv"))

    var cents = init
    var assigned = assign(init)
    for (i <- 2 to iters) {
      cents = update(assigned)
      // the final round's re-assignment feeds nothing when only the
      // codebook is wanted — skip it (the per-block lloydCore runs it
      // for its assignment output; c1 is update(assign(init)) there too)
      if (i < iters) assigned = assign(cents)
    }
    // the raise lives on the BROADCAST side: the broadcast stage
    // materializes before the probe side executes, so an under-seeded
    // slice fails loudly even when it also made `cents` empty (a
    // guard column on the joined rows would never evaluate then)
    val guarded = seedGuard.select(
      when(col("__n_train_vecs") >= k, lit(1))
        .otherwise(raise_error(concat(
          lit("PQ training slice has only "), col("__n_train_vecs"),
          lit(s" distinct vectors for k=$k codewords — widen the " +
            "training bound (Cfg.pqTrainBound) or lower pqCodewords"))
          .cast("int"))).as("__seed_ok"))
    val rows = cents.select(col("b"), col("cid"), col("cv"))
      .crossJoin(broadcast(guarded))
      .orderBy(col("b"), col("cid")).collect()
    // ADVICE r16: on a ZERO-row training slice AQE's empty-relation
    // propagation can replace the crossJoin with an empty relation
    // before the broadcast guard materializes — the in-plan raise only
    // covers 0 < distinct < k. Re-state the same diagnostic driver-side
    // (no extra Spark action: `rows` is already collected).
    if (rows.isEmpty)
      throw new IllegalStateException(
        s"PQ training slice produced no centroids for k=$k codewords " +
          "(empty or under-seeded slice) — widen the training bound " +
          "(Cfg.pqTrainBound) or lower pqCodewords")
    rows.map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq)).toSeq
  }

  /** PQ encode against per-block codebooks (m, cwid, cwblk): block b of
    * each vector codes as its nearest codeword in block b's codebook
    * (squared L2, ties to the lower cwid). The codebook join is a
    * broadcast on the m·k-row dim; the argmin is a partial-aggregated
    * min_by — no window, no shuffle beyond the (id, m) group.
    */
  def pqEncodeBlocks(emb: DataFrame, cwBlocks: DataFrame,
      m: Int, subDim: Int): DataFrame = {
    val blocks = Fan.out(emb).select(col("id"), asDouble(col("vec")).as("v"))
      .select(col("id"), blockExplode(col("v"), m, subDim).as("mb"))
      .select(col("id"), col("mb.m").as("m"), col("mb.blk").as("blk"))
    val d2 = l2sq(col("blk"), col("cwblk"))
    blocks.join(broadcast(cwBlocks), Seq("m"))
      .select(col("id"), col("m"), col("cwid"), d2.as("d2"))
      .groupBy(col("id"), col("m"))
      .agg(min_by(col("cwid"), struct(col("d2"), col("cwid"))).as("code"))
  }

  /** Stitch per-block codes back into the full-dim approximation via
    * the per-block codebook (same m-ordered flatten as
    * [[pqReconstruct]]).
    */
  def pqReconstructBlocks(codes: DataFrame, cwBlocks: DataFrame): DataFrame =
    codes.join(broadcast(cwBlocks.select(col("m"), col("cwid").as("code"),
        col("cwblk"))), Seq("m", "code"))
      .groupBy(col("id"))
      .agg(flatten(transform(
        sort_array(collect_list(struct(col("m"), col("cwblk")))),
        s => s.getField("cwblk"))).as("rv"))

  /** [[topKPq]] generalized to an explicit per-block codebook frame —
    * the entry point for TRAINED codebooks ([[trainPqCodebooks]]).
    *
    * `rerank > 1` runs the production PQ search shape (FAISS's
    * IVFPQ+refine): the ADC pass SHORTLISTS k·rerank candidates from
    * the compressed codes, then only those rows are re-scored with
    * their full-precision vectors (exact 6-dp cosine, the same score
    * [[topKBrute]] ranks by) and cut to k. At 100 TB the expensive
    * exact arithmetic touches k·rerank rows per query instead of the
    * corpus; the full-vector join is an equi-join on c_id against the
    * (tiny, broadcastable) shortlist.
    */
  def topKPqBlocks(queries: DataFrame, corpus: DataFrame, cwBlocks: DataFrame,
      k: Int, m: Int, subDim: Int, rerank: Int = 1): DataFrame = {
    val rec = pqReconstructBlocks(pqEncodeBlocks(corpus, cwBlocks, m, subDim),
      cwBlocks)
      .select(col("id").as("c_id"), col("rv"))
    val q = queries.select(col("id").as("q_id"), asDouble(col("vec")).as("q_v"))
    val scored = rec.join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("score", round(dot(col("q_v"), col("rv")), 6))
    rankAdcThenExact(scored, corpus, q, k, rerank)
  }

  /** Nearest-centroid ID (argmax 6-dp cosine, ties to the lower cid)
    * against a driver-side codebook — the zero-shuffle assignment
    * [[topKIvfPq]]'s list routing uses, exposed for incremental
    * maintenance passes ([[labelCentroids]] refresh over a new batch).
    */
  def nearestCentroidId(vecd: Column,
      cents: Seq[(Int, Seq[Double])]): Column =
    element_at(coarseTopLists(vecd, cents, 1), 1)

  /** Nearest-centroid cosine per vector against a FROZEN codebook — the
    * cheap quantizer-drift monitor: unlike [[indexRecallGate]] it needs
    * no brute-force ground truth, so it can run on EVERY ingest batch.
    * ZERO-shuffle: the k trained centroids are plan literals and the
    * best cosine is one `greatest` over k codegen'd kernels — pure
    * projection work at any corpus size (the crossJoin+max form would
    * exchange |corpus| rows for a 2-group rollup's input). The 6-dp
    * rounded cosine is an exact micro-unit integer downstream, so batch
    * means hash cross-engine.
    *
    * @param cents [[collectCentroids]] output (k·dim doubles)
    * @return (keyCols…, nn_cos)
    */
  def nearestCentroidCos(emb: DataFrame, keyCols: Seq[String],
      vecCol: String, cents: Seq[(Int, Seq[Double])]): DataFrame = {
    require(cents.nonEmpty, "nearestCentroidCos needs at least one centroid")
    val vd = asDouble(col(vecCol))
    val cosines = cents.map { case (_, cv) => round(cosine(vd, typedLit(cv)), 6) }
    val nn = if (cosines.sizeIs == 1) cosines.head else greatest(cosines: _*)
    emb.filter(col(vecCol).isNotNull)
      .select(keyCols.map(col) :+ nn.as("nn_cos"): _*)
  }

  /** Train the IVF coarse codebook and the PQ block codebooks
    * CONCURRENTLY — they are independent trainings over the same
    * corpus, each ending in a bounded driver collect, and Spark's
    * scheduler happily interleaves two submitting threads' stages; run
    * sequentially the wall-clock is their sum (measured ~1.3 s + ~1.7 s
    * warm at sf0.1), overlapped it is ~the max. Results are identical
    * to the sequential calls by construction (nothing is shared but the
    * read-only input plan).
    */
  def trainIvfPqConcurrently(emb: DataFrame, coarseK: Int, iters: Int,
      trainBound: Long, m: Int, subDim: Int,
      codewords: Int): (Seq[(Int, Seq[Double])], Seq[(Int, Int, Seq[Double])]) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // the active session is a THREAD-LOCAL: without re-pinning it on the
    // Future threads, nativeKernels would read None there and silently
    // build the ~3×-slower interpreted HOF fallbacks into these plans.
    // ADVICE r16: Implicits.global is a SHARED pool — clear the pin in a
    // finally so it can't bleed into unrelated Future work later in the
    // JVM (a second session, test suites), and bound the Await (these
    // are seconds-scale trainings; 30 min means something hung).
    val sp = emb.sparkSession
    def onThread[A](f: => A): Future[A] = Future {
      org.apache.spark.sql.SparkSession.setActiveSession(sp)
      try f finally org.apache.spark.sql.SparkSession.clearActiveSession()
    }
    val fCoarse = onThread(collectCentroids(trainedCentroids(
      emb, "id", "vec", k = coarseK, iters = iters)))
    val fCw = onThread(trainPqCodebooks(
      emb.filter(col("id") < trainBound), "id", "vec",
      m = m, subDim = subDim, k = codewords, iters = iters))
    (Await.result(fCoarse, 30.minutes), Await.result(fCw, 30.minutes))
  }

  /** Per-row PQ encode∘reconstruct against a PLAN-LITERAL codebook —
    * the narrow-map form of [[pqEncodeBlocks]]∘[[pqReconstructBlocks]],
    * selection-identical by construction: per block, the same
    * sequential-fold l2sq against each codeword, strict argmin with
    * ties to the lower cwid (`array_position` finds the FIRST minimum;
    * candidates are cwid-ordered). The join/agg form shuffles
    * |corpus|·m rows through the (id, m) argmin aggregate and |corpus|
    * rows through the stitch-back groupBy; this form is ZERO-shuffle —
    * ADC reconstruction becomes pure projection work, exactly FAISS's
    * per-vector encode. Bound: the literal carries m·k·subDim doubles
    * (8·16·8 = 1 KB here; a 16×256×768 production codebook is ~24 MB —
    * still a plan constant; past that, fall back to the distributed
    * [[pqEncodeBlocks]] join path).
    */
  def pqRv(vecd: Column, cw: Seq[(Int, Int, Seq[Double])],
      m: Int, subDim: Int): Column = {
    val byBlock = cw.groupBy(_._1)
    flatten(array((0 until m).map { b =>
      val cands = byBlock(b).sortBy(_._2)
      val blk = slice(vecd, b * subDim + 1, subDim)
      val ds = array(cands.map(c => l2sq(blk, typedLit(c._3))): _*)
      element_at(typedLit(cands.map(_._3)),
        array_position(ds, array_min(ds)).cast("int"))
    }: _*))
  }

  /** [[topKPqBlocks]] with a driver-side codebook (what
    * [[trainPqCodebooks]] returns): the corpus side is ONE narrow
    * projection ([[pqRv]]) instead of the explode/join/agg/stitch
    * chain — same rows, same scores, fewer exchanges at every scale.
    */
  def topKPqBlocks(queries: DataFrame, corpus: DataFrame,
      cw: Seq[(Int, Int, Seq[Double])], k: Int, m: Int, subDim: Int,
      rerank: Int): DataFrame = {
    // the per-row encode-reconstruct (m·k l2sq argmins) is the PQ
    // family's hot loop — fan the byte-small scan before it (r22)
    val rec = Fan.out(corpus).select(col("id").as("c_id"),
      pqRv(asDouble(col("vec")), cw, m, subDim).as("rv"))
    val q = queries.select(col("id").as("q_id"), asDouble(col("vec")).as("q_v"))
    val scored = rec.join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("score", round(dot(col("q_v"), col("rv")), 6))
    rankAdcThenExact(scored, corpus, q, k, rerank)
  }

  /** [[topKIvfPq]] with a driver-side codebook: list routing and ADC
    * reconstruction are per-row projections ([[coarseTopLists]] /
    * [[pqRv]]), the probe-scope is a broadcast semi-join on the probed
    * list_ids, and rv is computed ONCE per surviving corpus row —
    * before the query fan-out join, after the probe cut. Zero
    * corpus-sized shuffles anywhere before the bounded TopK aggregate.
    */
  def topKIvfPq(queries: DataFrame, corpus: DataFrame,
      cw: Seq[(Int, Int, Seq[Double])], k: Int, m: Int, subDim: Int,
      rerank: Int, centroids: Seq[(Int, Seq[Double])],
      nProbe: Int): DataFrame = {
    val qBase = queries.select(col("id").as("q_id"), asDouble(col("vec")).as("q_v"))
    val q = qBase
      .withColumn("list_id", explode(coarseTopLists(col("q_v"), centroids, nProbe)))
    val scored = Fan.out(corpus)
      .select(col("id").as("c_id"), asDouble(col("vec")).as("c_vecd"))
      .select(col("c_id"), col("c_vecd"),
        element_at(coarseTopLists(col("c_vecd"), centroids, 1), 1).as("list_id"))
      .join(broadcast(q.select(col("list_id")).distinct()), Seq("list_id"))
      .select(col("c_id"), col("list_id"),
        pqRv(col("c_vecd"), cw, m, subDim).as("rv"))
      .join(broadcast(q), Seq("list_id"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("score", round(dot(col("q_v"), col("rv")), 6))
    rankAdcThenExact(scored, corpus, qBase, k, rerank)
  }

  /** Persist just the two trained codebooks — the coarse centroids and
    * the per-block PQ codewords — as parquet artifacts: the train-once
    * half of the FAISS train()/add()/search split for the PLAN-LITERAL
    * search paths ([[topKPqBlocks]] / [[topKIvfPq]]), which consume
    * driver-side codebooks rather than [[writeIvfPqIndex]]'s full
    * postings layout. An eval/tuning loop (`sim_eval_mrr`) re-reads two
    * tiny tables per run instead of re-running both corpus-wide Lloyd
    * trainings.
    */
  def writeCodebooks(spark: org.apache.spark.sql.SparkSession, dir: String,
      centroids: Seq[(Int, Seq[Double])],
      cw: Seq[(Int, Int, Seq[Double])]): Unit = {
    import spark.implicits._
    centroids.toDF("cid", "cv").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/coarse")
    cw.toDF("m", "cwid", "cwblk").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/codebooks")
  }

  /** Read [[writeCodebooks]] artifacts back to the driver-side shapes
    * the plan-literal search paths take — cid / (m, cwid) orders
    * restored, so a search against the read-back codebooks is
    * bit-identical to one against the freshly trained values
    * (spec-pinned).
    */
  def readCodebooks(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Seq[(Int, Seq[Double])], Seq[(Int, Int, Seq[Double])]) = {
    val cents = collectCentroids(spark.read.parquet(s"$dir/coarse"))
    val cw = spark.read.parquet(s"$dir/codebooks")
      .select(col("m"), col("cwid"), col("cwblk")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq))
      .sortBy(t => (t._1, t._2)).toSeq
    (cents, cw)
  }

  /** Write the IVF-PQ index artifacts of a corpus — the build-once /
    * search-many separation real vector indexes ship with (the ANN
    * analogue of [[Dedup.writeNearDupIndex]]): at 100 TB the trainings
    * and the corpus-wide encode run ONCE per ingest; a query session
    * reads three parquet tables instead of re-deriving them. Under
    * `dir`:
    *
    *  - `coarse/`    — (cid, cv): the trained coarse codebook (nLists rows)
    *  - `codebooks/` — (m, cwid, cwblk): per-block PQ codewords (m·k rows)
    *  - `postings/`  — (c_id, list_id, rv): every vector's inverted
    *    list + PQ reconstruction — the table the ADC pass scans,
    *    equality-joinable on list_id so a probe touches only its lists
    */
  def writeIvfPqIndex(emb: DataFrame, idCol: String, vecCol: String,
      dir: String, m: Int, subDim: Int, codewords: Int, nLists: Int,
      iters: Int, trainBound: Long): Unit = {
    val sp = emb.sparkSession
    import sp.implicits._
    val e = emb.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val coarse = trainedCentroids(e, "id", "vec", k = nLists, iters = iters)
    coarse.write.mode("overwrite").parquet(s"$dir/coarse")
    val cents = collectCentroids(coarse)
    val cwBlocks = trainPqCodebooks(e.filter(col("id") < trainBound),
        "id", "vec", m = m, subDim = subDim, k = codewords, iters = iters)
      .toDF("m", "cwid", "cwblk")
    cwBlocks.write.mode("overwrite").parquet(s"$dir/codebooks")
    // postings are PARTITIONED by inverted list: a probe touches only
    // its nProbe list directories — static pruning for literal list
    // filters, dynamic partition pruning for the broadcast probe join —
    // which is the entire point of an IVF layout at 100 TB (reading an
    // unpartitioned postings table would scan every list to serve any
    // probe)
    ivfPqPostings(e, cwBlocks, cents, m, subDim)
      .write.partitionBy("list_id").mode("overwrite").parquet(s"$dir/postings")
  }

  /** The postings rows of `e` at FROZEN codebooks — (c_id, list_id, rv):
    * PQ-encode + reconstruct against `cwBlocks`, coarse-assign against
    * `cents`. Shared by [[writeIvfPqIndex]] (initial build) and
    * [[appendToIvfPqIndex]] (incremental ingest), so both paths encode
    * identically by construction.
    */
  private def ivfPqPostings(e: DataFrame, cwBlocks: DataFrame,
      cents: Seq[(Int, Seq[Double])], m: Int, subDim: Int): DataFrame = {
    val rec = pqReconstructBlocks(pqEncodeBlocks(e, cwBlocks, m, subDim),
      cwBlocks)
      .select(col("id").as("c_id"), col("rv"))
    val assign = e
      .select(col("id").as("c_id"), asDouble(col("vec")).as("c_vecd"))
      .select(col("c_id"),
        element_at(coarseTopLists(col("c_vecd"), cents, 1), 1).as("list_id"))
    rec.join(assign, Seq("c_id"))
  }

  /** Incremental index maintenance — the daily-ingest shape
    * [[writeIvfPqIndex]] alone can't serve: new vectors are encoded with
    * the FROZEN codebooks already in the index (no retrain — exactly how
    * FAISS `add()` behaves after `train()`) and their postings rows are
    * APPENDED. [[searchIvfPqIndex]] over the grown index is then
    * bit-identical to a postings rebuild over the union corpus at the
    * same codebooks (spec-asserted), because [[ivfPqPostings]] is a
    * per-row map + bounded-dim joins — no cross-row state. Cost is one
    * scan of the NEW batch only.
    *
    * Codebook drift is the price of frozen quantizers: as the ingest
    * distribution drifts from the training snapshot, appended vectors
    * quantize worse. [[indexRecallGate]] over the appended ids is the
    * measured gate — retrain (full [[writeIvfPqIndex]] rebuild) when it
    * sags below target, the measure-don't-guess discipline every other
    * approximate path here ships with.
    */
  def appendToIvfPqIndex(newEmb: DataFrame, idCol: String, vecCol: String,
      dir: String, m: Int, subDim: Int): Unit = {
    val sp = newEmb.sparkSession
    val cents = collectCentroids(sp.read.parquet(s"$dir/coarse"))
    val cwBlocks = sp.read.parquet(s"$dir/codebooks")
      .select(col("m"), col("cwid"), col("cwblk"))
    val e = newEmb.select(col(idCol).as("id"), col(vecCol).as("vec"))
    ivfPqPostings(e, cwBlocks, cents, m, subDim)
      .write.partitionBy("list_id").mode("append").parquet(s"$dir/postings")
  }

  /** Per-query recall of a prebuilt index against the exact top-k — the
    * drift gate an [[appendToIvfPqIndex]] ingest runs over its appended
    * ids (`queries` = the new vectors), and the standing health check of
    * any index build. Same recall arithmetic as the `sim_*_recall`
    * oracle-checked queries.
    */
  def indexRecallGate(queries: DataFrame, corpus: DataFrame,
      coarse: DataFrame, postings: DataFrame, k: Int, rerank: Int,
      nProbe: Int): DataFrame = {
    val brute = topKBrute(queries, corpus, k).select(col("q_id"), col("c_id"))
    val idx = searchIvfPqIndex(queries, corpus, coarse, postings, k, rerank,
        nProbe)
      .select(col("q_id"), col("c_id"), lit(1).as("__hit"))
    brute.join(idx, Seq("q_id", "c_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(col("__hit")).as("hits"),
        graft.operators.Rounding.stable(
          count(col("__hit")).cast("double") / k, 4).as("recall"))
  }

  /** Search a PREBUILT IVF-PQ index ([[writeIvfPqIndex]]): identical
    * results to the inline [[topKIvfPq]] composite, but the corpus side
    * costs one postings scan — neither training nor the encode ever
    * re-runs. `corpus` supplies only the full-precision vectors the
    * exact re-rank stage reads (k·rerank rows per query).
    */
  def searchIvfPqIndex(queries: DataFrame, corpus: DataFrame,
      coarse: DataFrame, postings: DataFrame, k: Int, rerank: Int,
      nProbe: Int): DataFrame = {
    val cents = collectCentroids(coarse)
    val qBase = queries.select(col("id").as("q_id"), asDouble(col("vec")).as("q_v"))
    val q = qBase
      .withColumn("list_id", explode(coarseTopLists(col("q_v"), cents, nProbe)))
    val scored = postings.join(broadcast(q), Seq("list_id"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("score", round(dot(col("q_v"), col("rv")), 6))
    rankAdcThenExact(scored, corpus, qBase, k, rerank)
  }

  /** Shared PQ search tail ([[topKPqBlocks]] / [[topKIvfPq]]): bounded
    * top-(k·rerank) ADC shortlist per query, then (when rerank > 1)
    * exact 6-dp cosine over only the shortlisted full-precision vectors
    * and a final bounded top-k. `scored` carries (q_id, c_id, score);
    * `q` must be ONE row per query (q_id, q_v).
    */
  private def rankAdcThenExact(scored: DataFrame, corpus: DataFrame,
      q: DataFrame, k: Int, rerank: Int): DataFrame = {
    val top = graft.functions.TopK.topKByScore(if (rerank > 1) k * rerank else k)
    val adcTop = scored.groupBy(col("q_id"))
      .agg(top(col("score"), col("c_id")).as("__top"))
      .select(col("q_id"), posexplode(col("__top")).as(Seq("pos", "kv")))
      .select(col("q_id"), col("kv._2").as("c_id"), col("kv._1").as("score"),
        (col("pos") + 1).cast("int").as("rnk"))
    if (rerank <= 1) adcTop
    else {
      val cVec = corpus.select(col("id").as("c_id"), asDouble(col("vec")).as("c_v"))
      val exact = adcTop.select(col("q_id"), col("c_id"))
        .join(cVec, Seq("c_id"))
        .join(broadcast(q), Seq("q_id"))
        .withColumn("score", round(cosine(col("q_v"), col("c_v")), 6))
      val topK = graft.functions.TopK.topKByScore(k)
      exact.groupBy(col("q_id"))
        .agg(topK(col("score"), col("c_id")).as("__top"))
        .select(col("q_id"), posexplode(col("__top")).as(Seq("pos", "kv")))
        .select(col("q_id"), col("kv._2").as("c_id"), col("kv._1").as("score"),
          (col("pos") + 1).cast("int").as("rnk"))
    }
  }

  /** Deterministic ±1 hyperplanes: component i of plane p is the parity of
    * the first hex char of md5("p|i"), mapped to ±1. Computed driver-side
    * once (same md5 ⇒ the DuckDB oracle embeds identical literals).
    */
  def hyperplanes(numPlanes: Int, dim: Int): Seq[Seq[Int]] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    (0 until numPlanes).map { p =>
      (0 until dim).map { i =>
        val hex = digest.digest(s"$p|$i".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        (hex.charAt(0).toInt % 2) * 2 - 1
      }
    }
  }

  /** Sign-bit LSH bucket key ('0'/'1' string of length planes.size). */
  def bucketKey(vecDouble: Column, planes: Seq[Seq[Int]]): Column =
    concat(planes.map { w =>
      val wCol = typedLit(w.map(_.toDouble))
      when(dot(vecDouble, wCol) > 0, "1").otherwise("0")
    }: _*)

  /** Default sign-bit hyperplane count for [[cosineDedupPairs]] — 2^8
    * buckets; mirrored by every cosine-dedup oracle through
    * `PipelineConfig.cosNumPlanes`.
    */
  val DefaultNumPlanes = 8

  /** Hot-cell guard for cosine-LSH dedup, the [[Dedup.DefaultMaxBucket]]
    * analogue: candidate volume in a (bucket[, extraKeys]) cell is
    * |cell|², so one degenerate cell (a zero-ish embedding region, a
    * template-heavy cluster) turns the self-join quadratic at scale.
    * Cells above the cap leave candidate generation whole — their
    * members simply stay `kept` (recall trade, never a blow-up); the
    * constant is mirrored literally in the DuckDB oracles.
    */
  val DefaultMaxCell = 1000

  /** Embedding-cosine near-dup pairs, LSH-bucketed: self-join the corpus
    * on sign-bit buckets, verify with exact cosine ≥ `threshold`. A
    * scaled/re-encoded copy of a vector lands in the same bucket by
    * construction (sign pattern is scale-invariant), so true duplicates
    * are never missed by the bucketing; only rotated near-dups pay the
    * LSH recall trade. Never all-pairs: cells larger than `maxCell` are
    * dropped whole before the join (see [[DefaultMaxCell]]); the count
    * window partitions on the join's own keys, so in the shuffle-join
    * regime the guard rides the exchange the join needs anyway
    * (pinned in ExplainAuditSpec).
    *
    * `corpus`: (id, vecd) with vecd already double (see [[asDouble]]).
    */
  def cosineDedupPairs(corpus: DataFrame, threshold: Double,
      numPlanes: Int = DefaultNumPlanes, dim: Int = 64,
      extraKeys: Seq[String] = Nil,
      maxCell: Int = DefaultMaxCell): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val planes = hyperplanes(numPlanes, dim)
    // extraKeys scope the candidate join further (SemDeDup passes the
    // k-means cluster id): the join key becomes (bucket, keys...), so
    // pair volume is bounded per (bucket ∩ key) cell, never per bucket
    val cellW = Window.partitionBy(("bucket" +: extraKeys).map(col): _*)
    val withBucket = corpus.select(col("id") +: col("vecd") +:
        bucketKey(col("vecd"), planes).as("bucket") +: extraKeys.map(col): _*)
      .withColumn("__cn", count(lit(1)).over(cellW))
      .filter(col("__cn") <= maxCell).drop("__cn")
    withBucket.select(col("id").as("vec_a") +: col("vecd").as("va") +:
        col("bucket") +: extraKeys.map(col): _*)
      .join(withBucket.select(col("id").as("vec_b") +: col("vecd").as("vb") +:
          col("bucket") +: extraKeys.map(col): _*),
        "bucket" +: extraKeys)
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", round(cosine(col("va"), col("vb")), 6))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  /** The SemDeDup keep rule: which member of each qualifying near-dup
    * pair is dropped. `pairs`: (vec_a, vec_b) with vec_a < vec_b;
    * `asg`: the Lloyd assignment (vec_id, cluster_id, cos) whose 6-dp
    * own-centroid cosine the "centroid" rule reads.
    *  - "min_id": greedy arrival-order keep — the larger id drops.
    *  - "centroid": standard SemDeDup representativeness keep — the
    *    member FARTHER from its cluster centroid drops (lower cos);
    *    cos_a == cos_b drops vec_b, so the lower id survives ties.
    * Both are per-pair verdicts (a doc pairing only with already-dropped
    * docs still drops — cheaper than the transitive closure;
    * [[Dedup.duplicateClusters]] is the closure when labels are needed).
    * The centroid joins are pair-count-sized lookups into the staged
    * assignment — no new shuffle of the corpus.
    */
  def semanticDrops(pairs: DataFrame, asg: DataFrame, keep: String): DataFrame =
    keep match {
      case "min_id" => pairs.select(col("vec_b").as("vec_id")).distinct()
      case "centroid" =>
        pairs
          .join(asg.select(col("vec_id").as("vec_a"), col("cos").as("cos_a")),
            Seq("vec_a"))
          .join(asg.select(col("vec_id").as("vec_b"), col("cos").as("cos_b")),
            Seq("vec_b"))
          .select(when(col("cos_a") >= col("cos_b"), col("vec_b"))
            .otherwise(col("vec_a")).as("vec_id"))
          .distinct()
      case other => throw new IllegalArgumentException(
        s"semanticKeep must be min_id or centroid, got $other")
    }

  /** IVF-style approximate top-k: a deterministic coarse quantizer (the
    * first `nLists` corpus vectors as centroids — the offline stand-in
    * for k-means training), every vector assigned to its
    * highest-cosine centroid (the inverted lists), and each query
    * probing only its `nProbe` nearest lists.
    *
    * Scale shape: centroids are plan-time literals, so corpus assignment
    * is a narrow codegen'd map (no join, no shuffle); the probe is an
    * equality join on list id — candidates = Σ_probed |list|, about
    * nProbe/nLists of the corpus per query on balanced lists.
    */
  def topKIvf(queries: DataFrame, corpus: DataFrame, k: Int,
      nLists: Int = 8, nProbe: Int = 2): DataFrame = {
    val centroids: Seq[(Int, Seq[Double])] = corpus
      .orderBy(col("id")).limit(nLists)
      .select(asDouble(col("vec")))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq.zipWithIndex
      .map { case (v, i) => i -> v }
    topKIvfWith(queries, corpus, k, centroids, nProbe)
  }

  /** [[topKIvf]] with an explicit coarse codebook — (list id, centroid)
    * pairs, normally [[collectCentroids]] of [[trainedCentroids]] (the
    * k-means-trained lists real IVF indexes probe). List ids are the
    * CALLER's cids, not positions, so trained codebooks keep their ids
    * even when a Lloyd cluster emptied out and disappeared.
    */
  def topKIvfWith(queries: DataFrame, corpus: DataFrame, k: Int,
      centroids: Seq[(Int, Seq[Double])], nProbe: Int): DataFrame = {
    def topLists(vecd: Column, n: Int): Column = coarseTopLists(vecd, centroids, n)

    val c = Fan.out(corpus)
      .select(col("id").as("c_id"), asDouble(col("vec")).as("c_vec"))
      .withColumn("list_id", element_at(topLists(col("c_vec"), 1), 1))
    val q = queries.select(col("id").as("q_id"), asDouble(col("vec")).as("q_vec"))
      .withColumn("list_id", explode(topLists(col("q_vec"), nProbe)))
    val scored = c.join(broadcast(q), Seq("list_id"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos", round(cosine(col("q_vec"), col("c_vec")), 6))
    rankTopK(scored, k, Seq("q_id"))
      .select(col("q_id"), col("c_id"), col("cos"), col("rnk"))
  }

  /** The `n` best inverted-list ids for a vector against a plan-time
    * coarse codebook: centroid cosines ranked desc (list id asc on
    * ties) via a sorted struct array — all plan-time width, no shuffle.
    * Cosines are rounded to 6 dp BEFORE ranking: the oracle ranks by
    * its 6-dp sqlCos, so an unrounded rank here would break 6-dp
    * centroid-cosine ties differently and assign different lists.
    */
  private def coarseTopLists(vecd: Column,
      centroids: Seq[(Int, Seq[Double])], n: Int): Column = {
    val scored = array(centroids.map { case (cid, c) =>
      struct((-round(cosine(vecd, typedLit(c)), 6)).as("negCos"),
        lit(cid).as("list_id"))
    }: _*)
    slice(transform(array_sort(scored), s => s.getField("list_id")), 1, n)
  }

  /** IVF-PQ composite ANN (the FAISS IVFADC+refine shape — the index
    * layout that actually ships at 100 TB): the coarse codebook routes
    * each corpus vector into ONE inverted list and each query probes
    * its `nProbe` best lists, so the ADC pass scores only the probed
    * lists' codes instead of the whole corpus; the k·rerank shortlist
    * is then re-scored with full-precision vectors exactly like
    * [[topKPqBlocks]]. Composition of the two verified paths: coarse
    * assignment ≡ [[topKIvfWith]]'s, codes/reconstruction ≡
    * [[pqEncodeBlocks]]/[[pqReconstructBlocks]].
    *
    * Scale shape: centroids are plan-time literals (narrow per-row
    * assignment, no join); codes ride an id-keyed equi-join to their
    * list assignment; the probe itself is a broadcast equality join on
    * list_id (the fan-out multiplies only the query side); exact
    * re-rank touches k·rerank rows per query. Nothing scans the corpus
    * more than the encode + assign passes, and nothing is pairwise.
    */
  def topKIvfPq(queries: DataFrame, corpus: DataFrame, cwBlocks: DataFrame,
      k: Int, m: Int, subDim: Int, rerank: Int,
      centroids: Seq[(Int, Seq[Double])], nProbe: Int): DataFrame = {
    val cAssign = Fan.out(corpus)
      .select(col("id").as("c_id"), asDouble(col("vec")).as("c_vecd"))
      .select(col("c_id"),
        element_at(coarseTopLists(col("c_vecd"), centroids, 1), 1).as("list_id"))
    // qBase stays one row per query — the probe explode below must not
    // leak into the exact-re-rank join (duplicate q rows would clone
    // shortlist candidates into the final top-k)
    val qBase = queries.select(col("id").as("q_id"), asDouble(col("vec")).as("q_v"))
    val q = qBase
      .withColumn("list_id", explode(coarseTopLists(col("q_v"), centroids, nProbe)))
    // Encode AND decode are probe-scoped like the candidates (VERDICT
    // r15 #1): the list routing join lands on the corpus BEFORE
    // pqEncodeBlocks, so the m·k argmin (the family's hot loop) and the
    // stitch-back touch only the probed lists' ~nProbe/nLists of the
    // corpus — previously every corpus row was encoded+reconstructed
    // and the probe filtered afterwards. Both passes are per-row pure
    // (no cross-row state), so restricting their input cannot change
    // surviving values; the prebuilt-index path (writeIvfPqIndex)
    // rightly still encodes everything — at BUILD time, once.
    val probedAssign = cAssign
      .join(broadcast(q.select(col("list_id")).distinct()), Seq("list_id"))
    val probedCorpus = corpus
      .join(probedAssign.select(col("c_id").as("id")), Seq("id"))
    val rec = pqReconstructBlocks(
        pqEncodeBlocks(probedCorpus, cwBlocks, m, subDim), cwBlocks)
      .select(col("id").as("c_id"), col("rv"))
    val scored = rec.join(cAssign, Seq("c_id"))
      .join(broadcast(q), Seq("list_id"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("score", round(dot(col("q_v"), col("rv")), 6))
    rankAdcThenExact(scored, corpus, qBase, k, rerank)
  }

  /** Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998 —
    * the diversity pass retrieval pipelines run AFTER similarity
    * search): from each query's `shortlist`-wide relevance candidates,
    * greedily select `k` items maximizing
    * λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s) — relevance traded against
    * redundancy with what is already selected (S = ∅ on the first pick,
    * so its objective is λ·rel).
    *
    * The greedy loop is inherently sequential in k, so each of the k
    * driver-loop steps is one plan stage over the BOUNDED per-query
    * shortlist: an anti-join against the ≤(step−1)-row selected set, a
    * broadcast join to attach selected vectors, one max-sim aggregate,
    * and one argmax min-struct aggregate — no collects, no windows, and
    * every join input is candidate- or selection-bounded (k·|queries|
    * rows), never corpus-sized. Objectives are stable-rounded at 6 dp
    * (ties to the lower c_id) so the unrolled-CTE oracle agrees.
    *
    * @return (q_id, c_id, mmr_score, rnk) — rnk = selection order 1..k
    */
  def mmrRerank(queries: DataFrame, corpus: DataFrame, k: Int,
      shortlist: Int, lam: Double): DataFrame = {
    require(k >= 1 && shortlist >= k, s"need 1 <= k <= shortlist, got $k/$shortlist")
    val cVecs = corpus.select(col("id").as("c_id"), asDouble(col("vec")).as("c_v"))
    val cands = Stage.share(topKBrute(queries, corpus, shortlist)
      .select(col("q_id"), col("c_id"), col("cos").as("rel"))
      .join(cVecs, Seq("c_id")))
    var selected: DataFrame = null
    for (step <- 1 to k) {
      val scored =
        if (selected == null)
          cands.select(col("q_id"), col("c_id"), col("c_v"),
            Rounding.stable(col("rel") * lam, 6).as("obj"))
        else {
          val sel = selected.select(col("q_id"), col("c_id"), col("c_v"))
          val selV = sel.select(col("q_id"), col("c_v").as("s_v"))
          cands.join(broadcast(sel.select(col("q_id"), col("c_id"))),
              Seq("q_id", "c_id"), "left_anti")
            .join(broadcast(selV), Seq("q_id"))
            .groupBy(col("q_id"), col("c_id"))
            .agg(first(col("rel")).as("rel"), first(col("c_v")).as("c_v"),
              max(round(cosine(col("c_v"), col("s_v")), 6)).as("maxsim"))
            .select(col("q_id"), col("c_id"), col("c_v"),
              Rounding.stable(col("rel") * lam - col("maxsim") * (1 - lam), 6)
                .as("obj"))
        }
      val pick = scored.groupBy(col("q_id"))
        .agg(min(struct((-col("obj")).as("neg"), col("c_id"))).as("b"),
          min_by(col("c_v"), struct((-col("obj")).as("neg"), col("c_id"))).as("c_v"))
        .select(col("q_id"), col("b.c_id").as("c_id"), col("c_v"),
          (-col("b.neg")).as("mmr_score"), lit(step).cast("int").as("rnk"))
      selected = Stage.truncate(
        if (selected == null) pick else selected.unionByName(pick))
    }
    selected.select(col("q_id"), col("c_id"), col("mmr_score"), col("rnk"))
  }

  /** LSH-bucketed approximate top-k: candidates limited to the query's
    * bucket, then exact cosine + rank within. Same output shape as
    * [[topKBrute]] (bucket column added); recall is partial by design.
    */
  def topKLsh(queries: DataFrame, corpus: DataFrame, k: Int,
      numPlanes: Int = 8, dim: Int = 64): DataFrame = {
    val planes = hyperplanes(numPlanes, dim)
    val q = queries.select(col("id").as("q_id"), asDouble(col("vec")).as("q_vec"))
      .withColumn("bucket", bucketKey(col("q_vec"), planes))
    val c = Fan.out(corpus)
      .select(col("id").as("c_id"), asDouble(col("vec")).as("c_vec"))
      .withColumn("bucket", bucketKey(col("c_vec"), planes))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos", round(cosine(col("q_vec"), col("c_vec")), 6))
    // bucket is a function of q_id (both sides joined on it), so grouping
    // by (q_id, bucket) is the same partitioning with the bucket carried
    rankTopK(scored, k, Seq("q_id", "bucket"))
      .select(col("q_id"), col("c_id"), col("bucket"), col("cos"), col("rnk"))
  }

  /** The query's probe sequence for multi-probe LSH: its own sign-bit
    * bucket plus every Hamming-distance-1 neighbor (one plane's bit
    * flipped) — the buckets a near-neighbor that fell JUST on the other
    * side of one hyperplane lands in. numPlanes+1 distinct strings.
    */
  def probeBuckets(bucket: Column, numPlanes: Int): Column =
    array(bucket +: (1 to numPlanes).map { i =>
      concat(substring(bucket, 1, i - 1),
        when(substring(bucket, i, 1) === "1", "0").otherwise("1"),
        substring(bucket, i + 1, numPlanes))
    }: _*)

  /** Multi-probe LSH top-k: like [[topKLsh]], but each query probes its
    * own bucket AND the numPlanes Hamming-1 neighbors — the standard
    * recall repair for sign-bit LSH (a true neighbor's most likely miss
    * mode is disagreeing on exactly one hyperplane; probing those
    * buckets recovers it without adding tables or planes).
    *
    * Scale shape: the probe fan-out multiplies ONLY the broadcast query
    * side (numPlanes+1 rows per query); the corpus is still bucketed
    * once and joined on bucket equality — candidates = Σ over probed
    * buckets, ~(numPlanes+1)/2^numPlanes of the corpus per query on
    * uniform data. Never a cross product. Each corpus vector lives in
    * exactly one bucket and the probe set is distinct strings, so no
    * candidate dedup step is needed.
    */
  def topKLshMultiProbe(queries: DataFrame, corpus: DataFrame, k: Int,
      numPlanes: Int = 8, dim: Int = 64): DataFrame = {
    val planes = hyperplanes(numPlanes, dim)
    val q = queries.select(col("id").as("q_id"), asDouble(col("vec")).as("q_vec"))
      .withColumn("bucket",
        explode(probeBuckets(bucketKey(col("q_vec"), planes), numPlanes)))
    val c = Fan.out(corpus)
      .select(col("id").as("c_id"), asDouble(col("vec")).as("c_vec"))
      .withColumn("bucket", bucketKey(col("c_vec"), planes))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos", round(cosine(col("q_vec"), col("c_vec")), 6))
    rankTopK(scored, k, Seq("q_id"))
      .select(col("q_id"), col("c_id"), col("cos"), col("rnk"))
  }

  /** Hard-negative mining (the metric-learning / retriever-training
    * pass: for each anchor, the most similar corpus items with a
    * DIFFERENT label — the negatives a contrastive loss learns most
    * from). Candidate generation is [[topKLshMultiProbe]]'s: the anchor
    * probes its sign-bit bucket plus every Hamming-1 neighbor, the
    * corpus is bucketed once, and the label-mismatch filter rides the
    * bucket equality join — so mining cost per anchor is the probed
    * buckets' population, never the corpus, and recall is partial by
    * design exactly as in the ANN queries (the miss mode is a hard
    * negative disagreeing on ≥2 hyperplanes). No self-match filter is
    * needed: same id ⇒ same label ⇒ excluded by the mismatch predicate.
    *
    * `queries`/`corpus`: (id, vec, label). Output (q_id, c_id, c_label,
    * cos, rnk ≤ k) — ranked by the bounded aggregate, not a window.
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int,
      numPlanes: Int = 8, dim: Int = 64): DataFrame = {
    val planes = hyperplanes(numPlanes, dim)
    val q = queries.select(col("id").as("q_id"),
        asDouble(col("vec")).as("q_vec"), col("label").as("q_label"))
      .withColumn("bucket",
        explode(probeBuckets(bucketKey(col("q_vec"), planes), numPlanes)))
    val c = Fan.out(corpus).select(col("id").as("c_id"),
        asDouble(col("vec")).as("c_vec"), col("label").as("c_label"))
      .withColumn("bucket", bucketKey(col("c_vec"), planes))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("c_label") =!= col("q_label"))
      .withColumn("cos", round(cosine(col("q_vec"), col("c_vec")), 6))
    // c_label is a function of c_id, so re-attaching it to the ranked
    // ids is a broadcast of the k·|queries| neighbor set — bounded by
    // the mining batch, never the corpus
    val nb = rankTopK(scored, k, Seq("q_id"))
    c.select(col("c_id"), col("c_label"))
      .join(broadcast(nb), Seq("c_id"))
      .select(col("q_id"), col("c_id"), col("c_label"), col("cos"), col("rnk"))
  }

  /** kNN majority-vote classification over the brute top-k neighbor set
    * (the label-propagation / weak-labeling pass): predicted label =
    * most common label among the k nearest, ties to the LOWER label —
    * deterministic like every argmax here. The vote argmax is one
    * min-struct aggregate ((−votes, label) ascending), not a window.
    *
    * Scale shape: neighbors come from [[topKBrute]]'s bounded aggregate
    * (broadcast anchors × corpus scan); the label re-attach broadcasts
    * the k·|queries| neighbor set onto the corpus's (id, label)
    * projection, and the vote tables are ≤ k rows per anchor.
    *
    * `queries`/`corpus`: (id, vec, label). Output (q_id,
    * predicted_label, votes).
    */
  def knnClassify(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val nb = topKBrute(queries, corpus, k)
    corpus.select(col("id").as("c_id"), col("label").as("c_label"))
      .join(broadcast(nb.select(col("q_id"), col("c_id"))), Seq("c_id"))
      .groupBy(col("q_id"), col("c_label"))
      .agg(count(lit(1)).as("votes"))
      .groupBy(col("q_id"))
      .agg(min(struct((-col("votes")).as("nv"), col("c_label").as("lab")))
        .as("__m"))
      .select(col("q_id"), col("__m.lab").as("predicted_label"),
        (-col("__m.nv")).cast("long").as("votes"))
  }
}
