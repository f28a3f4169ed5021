package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines: exact
  * (hash-groupBy), MinHash+LSH near-dup (shingle → minhash → band →
  * bucket-join → verify), and SimHash fingerprinting.
  *
  * These are graft-native extensions beyond the reference's surface (the
  * builder brief's LLM-data-pipeline pillar; SURVEY.md §7.2 step 10).
  *
  * Scale design (the 100 TB contract):
  *  - NOTHING here is all-pairs. Candidate pairs come only from equality
  *    joins on (band_id, band_key) — a hash-partitioned shuffle whose
  *    output is Σ_bucket |bucket|², bounded by the band width, never n².
  *  - Signatures/fingerprints are narrow per-row map work (array exprs
  *    over the token list) — embarrassingly parallel, no shuffle.
  *  - The verify stage (true Jaccard) runs only on banded candidates.
  *  - All hashes are md5-hex (deterministic, seed-stable across engines,
  *    and mirrorable in the DuckDB oracle). A production swap to
  *    xxhash64 is a one-line change per hash site.
  */
object Dedup {

  /** Word 3-gram shingles of a single-space-tokenized text column,
    * deduplicated. Texts with <3 tokens contribute themselves as the
    * single shingle (so short docs still band).
    */
  def shingles(text: Column): Column = {
    val toks = split(text, " ")
    val n = size(toks)
    array_distinct(
      when(n >= 3,
        transform(sequence(lit(1), n - 2), i =>
          concat_ws(" ",
            element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))))
      .otherwise(array(text)))
  }

  /** Minhash scheme: each shingle is hashed ONCE (md5 → 48-bit integer
    * via its first 12 hex nibbles), and the k signature hash functions are
    * affine derivations h_k(v) = (A_k·(v mod P) + B_k) mod P — the
    * standard permutation-family construction (what MLlib's MinHashLSH
    * does). This is ~k× cheaper than hashing every shingle k times, which
    * dominates minhash cost at scale. All arithmetic is BIGINT-exact and
    * reproduced literally in the DuckDB oracle.
    */
  val MinhashP = 1000000007L
  def minhashA(k: Int): Long = 1103515245L * (k + 1) % MinhashP
  def minhashB(k: Int): Long = 12345L * (k + 7) % MinhashP

  /** First 12 hex chars of an md5 string parsed as one 48-bit integer —
    * identical to packing the 12 nibbles positionally, but ONE codegen'd
    * `conv` instead of 12 substring+ascii ops per hash (the dominant
    * per-token cost at scale). DuckDB mirror: `('0x' || substr(h,1,12))
    * ::BIGINT`.
    */
  private def hex12(h: Column): Column =
    conv(substring(h, 1, 12), 16, 10).cast("long")

  /** 48-bit integer view of a shingle array: md5 once per shingle, first
    * 12 hex chars hex-parsed.
    */
  def shingleValues(shingleCol: Column): Column =
    transform(shingleCol, s => hex12(md5(s)))

  /** Hash-once-per-TOKEN shingle values: each token is md5'd once
    * (nibble-packed to 48 bits) and a word-3-gram shingle's value is the
    * positional combination (a·h_i + b·h_{i+1} + h_{i+2}) mod P of its
    * token hashes. ~3× less hashing than md5-per-shingle (tokens ≪
    * shingles × length), and the resulting long arrays make the
    * verify-stage intersections integer comparisons instead of string
    * compares. Collisions (~n²/2^48) only perturb accuracy, never
    * oracle agreement — the oracle runs the identical construction.
    * Texts with <3 tokens contribute their first token hash.
    */
  val ShingleC1 = 1000003L
  val ShingleC2 = 10007L

  def tokenValues(text: Column): Column =
    transform(split(text, " "), t => hex12(md5(t)))

  def shingleValuesFromTokens(tv: Column): Column = {
    val n = size(tv)
    array_distinct(
      when(n >= 3,
        transform(sequence(lit(1), n - 2), i =>
          (pmod(element_at(tv, i), lit(MinhashP)) * ShingleC1 +
            pmod(element_at(tv, i + 1), lit(MinhashP)) * ShingleC2 +
            element_at(tv, i + 2)) % MinhashP))
      .otherwise(array(element_at(tv, 1))))
  }

  /** [[shingleValuesFromTokens]] sorted ascending — for consumers whose
    * candidate-pair volume makes the [[intersectCount]] native merge pay
    * (e.g. the bucketed ngram verify, ~10⁵ pairs). Band-based minhash
    * verifies only banded collisions (~10² pairs), where the per-doc sort
    * costs more than the merge saves — it stays unsorted.
    */
  def sortedShingleValuesFromTokens(tv: Column): Column =
    array_sort(shingleValuesFromTokens(tv))

  /** |A ∩ B| of two sorted duplicate-free long-array columns: the native
    * codegen'd merge when [[graft.GraftExtensions]] is registered in the
    * session, else the builtin hash-based `size(array_intersect)`.
    */
  def intersectCount(spark: org.apache.spark.sql.SparkSession,
      a: Column, b: Column): Column =
    if (spark.catalog.functionExists("sorted_intersect_count"))
      graft.expressions.SortedIntersectCount(a, b)
    else size(array_intersect(a, b))

  /** One minhash signature value over pre-computed shingle values. The
    * array-fold reference form — [[bandedKeys]] computes the identical
    * minima as codegen'd aggregates and is what the dedup plans use.
    */
  def minhashSig(valuesCol: Column, k: Int): Column =
    array_min(transform(valuesCol, v =>
      (pmod(v, lit(MinhashP)) * minhashA(k) + minhashB(k)) % MinhashP))

  /** LSH band keys over pre-computed shingle values: `numBands` keys,
    * each hashing `rowsPerBand` consecutive signature values. Two docs
    * collide on a band iff that band's signature slice matches exactly —
    * P(collide) = jaccard^r per band, amplified by b bands.
    */
  def bandKeys(valuesCol: Column, numBands: Int, rowsPerBand: Int): Column =
    array((0 until numBands).map { b =>
      md5(concat_ws("|", (0 until rowsPerBand).map(r =>
        minhashSig(valuesCol, b * rowsPerBand + r).cast("string")): _*))
    }: _*)

  /** Exploded (id, band_id, band_key) — the minhash banding stage as
    * explode + ONE codegen'd hash aggregate computing all b·r signature
    * minima at once, instead of b·r interpreted `transform`+`array_min`
    * folds each re-scanning the shingle array (higher-order functions
    * are CodegenFallback; the fold form was the dominant minhash cost).
    * Identical band keys to [[bandKeys]] over the same shingle values:
    * `min` over exploded rows ≡ `array_min` over the array, and null
    * shingle values drop out of both the same way.
    *
    * Scale shape: the explode multiplies rows by shingles-per-doc, but
    * partial aggregation collapses them back to one row per doc before
    * the exchange — the id shuffle carries |docs| rows of b·r longs.
    */
  /** Raw minhash signatures: (id, sig_0 … sig_{nSig-1}) — one explode of
    * the shingle stream into ONE codegen'd hash aggregate computing all
    * nSig affine minima (partial aggregation collapses the explode
    * before the id exchange). Shared by [[bandedKeys]] and the
    * estimate-quality query (sig agreement fraction ≈ Jaccard).
    */
  def signatures(docs: DataFrame, idCol: String, textCol: String,
      nSig: Int): DataFrame =
    signaturesFromShingles(shingleFrame(docs, idCol, textCol), nSig)

  /** The (id, sh) shingle-set frame every minhash consumer starts from
    * — staged explicitly so a plan with several consumers (banding +
    * verify joins + a shingles sink) can stage ([[Stage.share]]) ONE
    * tokenize+md5 pass and derive everything else from it.
    */
  def shingleFrame(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // fan the byte-light corpus out before the per-token md5 kernel —
    // identity at scale, spreads the dominant CPU stage locally (Fan)
    Fan.out(docs)
      .select(col(idCol).as("id"), tokenValues(col(textCol)).as("tv"))
      .select(col("id"), shingleValuesFromTokens(col("tv")).as("sh"))

  /** Minhash signatures over an (id, sh) [[shingleFrame]]: explode →
    * ONE codegen'd hash aggregate of all nSig affine minima (partial
    * aggregation collapses the explode before the id exchange).
    */
  def signaturesFromShingles(shingles: DataFrame, nSig: Int): DataFrame = {
    val exploded = shingles.select(col("id"), explode(col("sh")).as("__v"))
    val sigCols = (0 until nSig).map { k =>
      min((pmod(col("__v"), lit(MinhashP)) * minhashA(k) + minhashB(k)) % MinhashP)
        .as(s"sig_$k")
    }
    exploded.groupBy(col("id")).agg(sigCols.head, sigCols.tail: _*)
  }

  def bandedKeys(docs: DataFrame, idCol: String, textCol: String,
      numBands: Int, rowsPerBand: Int): DataFrame =
    bandedKeysFromSignatures(
      signatures(docs, idCol, textCol, numBands * rowsPerBand),
      numBands, rowsPerBand)

  /** Band keys derived from an already-computed [[signatures]] frame —
    * the narrow posexplode half of [[bandedKeys]]. Lets a plan that also
    * needs the raw signatures (e.g. the estimate-quality query) compute
    * them ONCE, stage, and feed both consumers instead of
    * re-running the tokenize+md5+agg pipeline per use.
    */
  def bandedKeysFromSignatures(sig: DataFrame,
      numBands: Int, rowsPerBand: Int): DataFrame =
    sig.select(col("id"),
      posexplode(array((0 until numBands).map { b =>
        md5(concat_ws("|", (0 until rowsPerBand).map(r =>
          col(s"sig_${b * rowsPerBand + r}").cast("string")): _*))
      }: _*)).as(Seq("band_id", "band_key")))

  /** Hot-bucket guard for LSH banding: candidate-pair volume in a band
    * bucket is |bucket|², so ONE degenerate band key (boilerplate text,
    * an empty-ish shingle set) turns the bucket join quadratic — the
    * first thing a 100 TB dedup run hits. Buckets larger than this are
    * dropped from candidate generation entirely (their members still
    * dedup via exact-hash grouping, which has no quadratic term; the
    * constant is mirrored literally in the DuckDB oracles so the hash
    * check stays exact).
    */
  val DefaultMaxBucket = 1000

  /** Drop every row of any (band_id, band_key) bucket holding more than
    * `maxBucket` docs. A window count over the bucket key — the same
    * hash partitioning AND sort the downstream sort-merge bucket join
    * requires, so in the shuffle-join regime (any corpus too big to
    * broadcast — i.e. whenever the guard matters) the capped plan is
    * shuffle-for-shuffle and sort-for-sort identical to the uncapped
    * one (pinned in ExplainAuditSpec).
    */
  private def dropHotBuckets(banded: DataFrame, maxBucket: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("band_id"), col("band_key"))
    banded.withColumn("__bn", count(lit(1)).over(w))
      .filter(col("__bn") <= maxBucket).drop("__bn")
  }

  /** Exact dedup: group identical normalized text, keep the smallest id as
    * canonical. One shuffle on the text hash; at 100 TB the md5 groupBy
    * distributes uniformly (no hot keys — identical text IS the group).
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("canonical_doc_id"),
        count(lit(1)).as("dup_count"))

  /** MinHash-LSH candidate pairs with exact-Jaccard verification.
    *
    * Pipeline: shingle → `numBands`×`rowsPerBand` minhash signature →
    * explode band keys → drop hot buckets (> `maxBucket` residents —
    * see [[DefaultMaxBucket]]) → self-equi-join on (band_id, band_key)
    * with `a.id < b.id` → distinct pairs → true Jaccard on the shingle
    * sets → keep >= `threshold`.
    *
    * @param sigs optionally, a precomputed (ideally staged)
    *             [[signatures]] frame with `numBands`×`rowsPerBand`
    *             minima — banding derives from it instead of re-running
    *             the tokenize+md5+agg pipeline (Spark recomputes a
    *             shared unpersisted subtree once per consumer).
    * @param sh   optionally, a precomputed (ideally staged)
    *             [[shingleFrame]] — the verify joins read it instead of
    *             re-tokenizing the corpus per side, and (absent `sigs`)
    *             banding derives from it too
    * @param maxBucket hot-bucket cap; `Int.MaxValue` disables (only for
    *                  call sites whose oracle states base+batch jointly)
    * @return (doc_a, doc_b, jaccard) — one row per near-dup pair.
    */
  def minhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numBands: Int = 4,
      rowsPerBand: Int = 3,
      threshold: Double = 0.5,
      maxBucket: Int = DefaultMaxBucket,
      sigs: Option[DataFrame] = None,
      sh: Option[DataFrame] = None,
      fanGauge: Option[DataFrame] = None,
      shSorted: Boolean = false): DataFrame = {
    // Token-hash shingling: md5 once per TOKEN, shingle values combined
    // arithmetically (see shingleValuesFromTokens; the staging in
    // shingleFrame keeps each expensive higher-order transform in its
    // own projection — multi-referenced lambdas are interpreted, not
    // codegen'd, so CollapseProject merging them would re-run the md5
    // transform per reference).
    val withShingles = sh.getOrElse(shingleFrame(docs, idCol, textCol))
    // Candidate generation shuffles ONLY (id, band_id, band_key) — the
    // shingle arrays must never ride through the explode+self-join (at
    // scale that would serialize every array numBands× through two
    // exchanges). They are re-joined below for candidates only.
    val rawBanded = sigs
      .map(bandedKeysFromSignatures(_, numBands, rowsPerBand))
      .orElse(sh.map(f => bandedKeysFromSignatures(
        signaturesFromShingles(f, numBands * rowsPerBand), numBands, rowsPerBand)))
      .getOrElse(bandedKeys(docs, idCol, textCol, numBands, rowsPerBand))
    val banded =
      if (maxBucket == Int.MaxValue) rawBanded
      else dropHotBuckets(rawBanded, maxBucket)
    // the verify's exact-Jaccard intersects below are CPU-dense per
    // candidate while the candidate rows are byte-light (two longs), so
    // AQE coalesces the dedup'd pairs to 1-2 partitions and the
    // intersects serialize (JobProfile r22: a 2-task ~1.9 s-CPU stage
    // in e4) — fan them out like the shingle kernel. `fanGauge` lets a
    // caller whose `docs` is an already-spread stage (e4's
    // canonical frame) gauge on the true input scan; identity at scale
    // either way (see Fan).
    val pairs = Fan.outLike(
      banded.select(col("id").as("doc_a"), col("band_id"), col("band_key"))
        .join(banded.select(col("id").as("doc_b"), col("band_id"), col("band_key")),
          Seq("band_id", "band_key"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates("doc_a", "doc_b"),
      fanGauge.getOrElse(docs))
    // Verify joins read the shingle frame per side (the caller-provided
    // staged one, or two narrow re-derivations) rather than
    // semi-join-pruning on a broadcast candidate-id set: deriving the id
    // set from `pairs` would force the whole banding subtree to compute
    // a second time for the broadcast (benchmarked 2× slower) — Spark
    // does not share results between a broadcast subplan and the main
    // plan. Both shuffles hash on `id`, so the exchange is reused
    // between the two join builds.
    val verified = pairs
      .join(withShingles.select(col("id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(withShingles.select(col("id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      // size-ratio prefilter: jaccard <= min(|a|,|b|)/max(|a|,|b|), so a
      // pair failing the ratio can never pass the threshold — skips the
      // expensive intersect for hopeless candidates. The 1e-4 slack keeps
      // it a pure pruning bound relative to the 4-dp ROUNDED jaccard the
      // final filter uses (a ratio in [threshold-5e-5, threshold) can
      // still round up to the threshold); the oracle has no prefilter.
      .filter(least(size(col("sh_a")), size(col("sh_b"))).cast("double") /
        greatest(size(col("sh_a")), size(col("sh_b"))) >= threshold - 1e-4)
    verified
      // |A∪B| = |A|+|B|-|A∩B| on distinct arrays: one intersect per pair
      // (hash-based builtin — banded candidates are too few for the
      // sorted-merge variant to pay for per-doc sorting). `shSorted`:
      // the caller's `sh` frame carries already-SORTED arrays (e4
      // shares one sorted shingle frame across the minhash and
      // containment planes), so the native codegen'd merge applies with
      // no sort to amortize — identical |A∩B| by construction.
      .withColumn("__i",
        if (shSorted) intersectCount(docs.sparkSession, col("sh_a"), col("sh_b"))
        else size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", Rounding.stable(
        col("__i").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("__i")), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Asymmetric containment near-dup pairs: C(a→b) = |Sh(a)∩Sh(b)| / |Sh(a)|
    * over distinct word-3-gram shingle sets — the quote/boilerplate
    * detector. Symmetric-Jaccard dedup structurally MISSES these pairs
    * (a short excerpt inside a long doc has J = |a|/|b| ≈ 0, so no band
    * collides), and minhash cannot estimate containment at all: the
    * signature-agreement probability IS the symmetric Jaccard. Candidate
    * generation therefore runs on an INVERTED SHINGLE INDEX instead:
    * docs sharing any indexed shingle are candidates, then exact
    * containment verifies — an excerpt shares ALL its shingles with its
    * source, so true containments always surface (subject only to the
    * df cap below, which the oracle mirrors).
    *
    * Scale shape: the posting list is |doc|×|shingles-per-doc| rows of
    * (id, 48-bit shingle) — narrow, explode-only. Its self-join fans out
    * df² pairs per shingle, so ubiquitous shingles (boilerplate, empty-ish
    * docs) are dropped from the INDEX when their document frequency
    * exceeds `dfCap` — the same quadratic guard as the LSH hot-bucket cap,
    * implemented as the same window count that rides the join's own
    * hash-partitioning on `g` (no extra exchange; plan-asserted). The
    * verify stage re-joins the staged shingle frame per side and
    * intersects SORTED arrays (candidate volume here is posting-join
    * sized, where the native merge pays — see
    * [[sortedShingleValuesFromTokens]]).
    *
    * @param dfCap drop shingles appearing in more than this many docs
    *              from candidate generation (their pairs can still
    *              surface via rarer shared shingles)
    * @return (doc_a, doc_b, containment) — doc_a's shingles covered by
    *         doc_b at ratio >= threshold, both directions reported
    *         independently (containment is not symmetric).
    */
  def containmentPairs(spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, idCol: String, textCol: String,
      dfCap: Int, threshold: Double,
      sh: Option[DataFrame] = None,
      fanGauge: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // fan gauge for the spread points below: callers whose `docs` is an
    // already-spread stage (e4) pass the true input scan instead
    val gauge = fanGauge.getOrElse(docs)
    // one tokenize+md5+sort pass, read by the posting explode and both
    // verify sides; fanned out first — the per-token md5 + per-doc sort
    // is the operator's dominant CPU stage (identity at scale, see Fan).
    // `sh`: optionally an already-staged SORTED shingle frame
    // (id, sh) — spares this operator its own tokenize+md5+sort pass
    // and its own stage when the caller (e4) shares one sorted
    // shingle frame across the minhash and containment planes (r22,
    // guide §2.3 "don't compute things twice").
    val d = sh.getOrElse(Stage.share(Fan.out(docs)
      .select(col(idCol).as("id"), tokenValues(col(textCol)).as("tv"))
      .select(col("id"), sortedShingleValuesFromTokens(col("tv")).as("sh"))))
    // the posting rows are byte-light (two longs) but everything above
    // the g-exchange — the df-cap window's sort+count AND the posting
    // self-join's map side — is CPU-dense, so AQE folds the exchange
    // read to 1-2 partitions and serializes it (JobProfile r22: a
    // 2-task 2.3 s-CPU Window stage in e4). Repartition BY g at pinned
    // width: the window and both join sides ride this one exchange
    // (EnsureRequirements adds none), and AQE cannot coalesce a
    // user-numbered repartition. Identity at scale (see Fan).
    val post = Fan.keyed(d.select(col("id"), explode(col("sh")).as("g")),
        gauge, Seq(col("g")))
      .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("g"))))
      .filter(col("__df") <= dfCap).drop("__df")
    val cand = post.select(col("id").as("doc_a"), col("g"))
      .join(post.select(col("id").as("doc_b"), col("g")), Seq("g"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
    // the verify below is the operator's second CPU wall (one sorted
    // intersect per candidate, ~10⁵ pairs) but its input is BYTE-LIGHT
    // (two longs/row), so AQE coalesces the dedup'd candidates to 1-2
    // partitions and the intersects serialize (JobProfile r22: a 2-task
    // ~1.8 s-CPU stage) — spread them like the tokenize pass above;
    // identity whenever the gauge scan carries real splits (see Fan)
    Fan.outLike(cand, gauge)
      .join(d.select(col("id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(d.select(col("id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("containment", Rounding.stable(
        intersectCount(spark, col("sh_a"), col("sh_b")).cast("double") /
          size(col("sh_a")), 4))
      .filter(col("containment") >= threshold)
      .select("doc_a", "doc_b", "containment")
  }

  /** Duplicate clusters from near-dup pairs: connected components by
    * iterative min-label propagation — the canonicalization step a real
    * curation pipeline runs after pair generation (pairs say "a≈b";
    * keeping one doc per GROUP needs the transitive closure, since
    * a≈b≈c links a and c through b even when (a,c) never banded).
    *
    * Each iteration: every node takes the min of its own label and its
    * neighbors' labels; converged when no label changes. The fixpoint
    * (component-min label) is unique, so the result is deterministic
    * regardless of execution order — which is what lets a recursive-CTE
    * oracle check it.
    *
    * Scale design: the classic large-scale label propagation loop —
    * iterations bounded by component DIAMETER (dup clusters are near-
    * cliques: 2-3 rounds), per-iteration cost one shuffle join + one
    * aggregate on the edge list. The loop runs ONLY over nodes that
    * appear in an edge: on a real corpus the dup-involved fraction is
    * tiny, so iterating the full node table would shuffle and
    * stage ~|corpus| rows per round for nodes whose label can
    * never change — singletons are attached once at the end with a
    * single anti-join, whose probe side never re-enters the loop.
    * Each round's labels are truncated (iterative joins otherwise stack
    * plans exponentially) and the edge list is shared ([[Stage]]), so
    * the upstream pair generation runs once, not once per
    * iteration. Driver-side is only the loop control and a
    * converged-count — never row data.
    *
    * @param nodes (id) — every doc, so singletons keep their own id
    * @param pairs (doc_a, doc_b) — undirected near-dup edges
    * @return (id, label) — label = min doc id of the component
    */
  def duplicateClusters(nodes: DataFrame, pairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val edges = bothDirections(pairs)
    // both directions are in `edges`, so distinct `a` covers every
    // edge-touching node
    val init = Stage.share(edges.select(col("a").as("id")).distinct()
      .select(col("id"), col("id").as("label")))
    val labels = propagateMin(init, edges, maxIter)
    // singletons (no edges) keep their own id; left_anti against the
    // small converged label set — one pass over `nodes`, outside the loop
    val singletons = nodes
      .join(labels.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("label"))
    labels.unionByName(singletons)
  }

  private def bothDirections(pairs: DataFrame): DataFrame = {
    // Stage the DIRECTED pairs before symmetrizing: a union of two
    // projections of an unstaged `pairs` computes the entire
    // pair-generation subtree once PER DIRECTION inside the edge
    // stage (for e4_curation_full that is the minhash band join AND the
    // containment posting join, twice each — measured ~2 s of its solo
    // time). With the directed frame staged, symmetrizing is two scans
    // of narrow staged rows.
    val p = Stage.share(pairs.select(col("doc_a").as("a"), col("doc_b").as("b")))
    // NOT pre-partitioned on the join key: the label table is tiny
    // relative to the corpus, so the per-round join broadcasts (or
    // shuffles only labels) — an up-front repartition of the edge list
    // measured strictly slower at sf0.1. Every round reads the stage.
    Stage.share(p.unionByName(p.select(col("b").as("a"), col("a").as("b"))))
  }

  /** Min-label fixpoint over `edges` starting from `init` (id, label):
    * every node repeatedly takes the min of its own and its neighbors'
    * labels; converged when nothing changes. [[Stage.truncate]] cuts
    * lineage per round; driver-side is only loop control and a
    * converged-count. Throws rather than returning a truncated (silently
    * wrong) labeling.
    */
  private def propagateMin(init: DataFrame, edges: DataFrame,
      maxIter: Int): DataFrame = {
    // one min-label step: every node takes min(own, neighbors') labels
    def step(l: DataFrame): DataFrame = {
      val neighborMin = edges
        .join(l.select(col("id").as("b"), col("label").as("nl")), Seq("b"))
        .groupBy(col("a").as("id"))
        .agg(min(col("nl")).as("min_nl"))
      l.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("min_nl"), col("label"))).as("label"))
    }
    var labels = init
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // TWO propagation steps per materialized round: the per-round
      // cost here is Spark action overhead, not data (the label table
      // is edge-touching nodes only), so covering a 2-hop neighborhood
      // per truncate+count halves the rounds a given component
      // diameter needs. Monotone min-propagation makes step batching
      // safe — labels only decrease toward the unique fixpoint.
      // Convergence compares the round's SECOND step against its FIRST
      // (not against the round's input): step(mid)==mid already proves
      // mid is the fixpoint, so a near-clique graph (the shape dup
      // clusters actually have — one step reaches the component min)
      // converges in ONE materialized round instead of paying a
      // whole extra confirm round. The price is evaluating mid's
      // subtree twice inside the round's single job (label-table-sized
      // join+agg; far cheaper than another truncate+count round).
      // The carried __old keeps the convergence check a scan-only
      // count on the truncated frame — one action per round.
      val mid = step(labels)
      val next = Stage.truncate(step(mid)
        .join(mid.select(col("id"), col("label").as("__old")), Seq("id")))
      changed = next.filter(col("label") =!= col("__old")).count()
      labels = next.drop("__old")
      iter += 1
    }
    // a truncated propagation would return labels that LOOK canonical but
    // aren't component minima — fail loudly rather than hand back
    // silently-wrong clusters (diameter > maxIter only happens on long
    // chains, not the near-clique shape dup clusters actually have)
    if (changed > 0)
      throw new IllegalStateException(
        s"propagateMin: label propagation did not converge within " +
          s"$maxIter rounds (2 steps each, ${2 * maxIter} steps; " +
          s"$changed labels still changing)")
    labels
  }

  /** Incremental cluster labeling — the daily-ingest companion of
    * [[duplicateClusters]]: label a NEW batch against a frozen,
    * already-canonical base WITHOUT touching base labels. Each new doc
    * seeds with `min(own id, min label of its direct base neighbors)`
    * (via `crossPairs`), then min-label propagation runs over the
    * batch-internal `innerPairs` only — so per-ingest cost tracks the
    * BATCH (seed join + a few batch-sized rounds), not the 100 TB
    * history, which is what makes day-N dedup labeling flat-cost.
    *
    * Deliberate semantics: a batch doc that bridges TWO base clusters
    * adopts the smaller label; the base-side merge is deferred to the
    * periodic full recluster (standard in production dedup — base labels
    * are immutable between compactions).
    *
    * @param baseLabels (id, label) — frozen canonical labels
    * @param batch (id) — new docs
    * @param crossPairs (new_id, base_id) — near-dup edges batch ↔ base
    * @param innerPairs (doc_a, doc_b) — near-dup edges within the batch
    * @return (id, label) for batch docs only
    */
  def incrementalClusters(baseLabels: DataFrame, batch: DataFrame,
      crossPairs: DataFrame, innerPairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val bmin = crossPairs
      .join(baseLabels.select(col("id").as("base_id"), col("label").as("bl")),
        Seq("base_id"))
      .groupBy(col("new_id").as("id")).agg(min("bl").as("bmin"))
    val init = Stage.share(batch.select(col("id"))
      .join(bmin, Seq("id"), "left")
      .select(col("id"),
        least(col("id"), coalesce(col("bmin"), col("id"))).as("label")))
    propagateMin(init, bothDirections(innerPairs), maxIter)
  }

  /** Incremental MinHash-LSH dedup: near-dup pairs between a NEW batch
    * and an existing BASE corpus — the daily-ingest shape of
    * [[minhashPairs]] (production dedup never re-pairs the historical
    * corpus against itself; only new×base and new×new candidates are
    * generated). Candidates come from band-key collisions between the
    * batch's banded keys and the base's — the join output is
    * Σ_bucket |new_b|·|base_b|, proportional to the BATCH size, not the
    * corpus: the property that keeps day-N dedup cost flat at 100 TB of
    * history. At scale the base side's banded keys are a precomputed
    * table written once per ingest ([[writeNearDupIndex]], consumed by
    * [[minhashPairsBetweenIndexed]]) — the hot-bucket cap (see
    * [[DefaultMaxBucket]]) is applied THERE at write time, which is
    * why this operator carries none inline: its oracle states base and
    * batch jointly, and a per-side inline cap could not be mirrored
    * exactly in that joint form.
    *
    * @param newSh  optionally, a precomputed (ideally staged,
    *               [[Stage.share]]) [[shingleFrame]] of `newDocs` — banding
    *               and the verify join both derive from it instead of
    *               re-tokenizing per consumer
    * @param baseSh same for `baseDocs`
    * @return (doc_new, doc_base, jaccard) — one row per near-dup pair.
    */
  def minhashPairsBetween(
      newDocs: DataFrame,
      baseDocs: DataFrame,
      idCol: String,
      textCol: String,
      numBands: Int = 4,
      rowsPerBand: Int = 3,
      threshold: Double = 0.5,
      newSh: Option[DataFrame] = None,
      baseSh: Option[DataFrame] = None): DataFrame = {
    val nSh = newSh.getOrElse(shingleFrame(newDocs, idCol, textCol))
    val bSh = baseSh.getOrElse(shingleFrame(baseDocs, idCol, textCol))
    def banded(sh: DataFrame) = bandedKeysFromSignatures(
      signaturesFromShingles(sh, numBands * rowsPerBand), numBands, rowsPerBand)
    val pairs = banded(nSh)
      .select(col("id").as("doc_new"), col("band_id"), col("band_key"))
      .join(banded(bSh)
        .select(col("id").as("doc_base"), col("band_id"), col("band_key")),
        Seq("band_id", "band_key"))
      .select("doc_new", "doc_base")
      .dropDuplicates("doc_new", "doc_base")
    pairs
      .join(nSh.select(col("id").as("doc_new"), col("sh").as("sh_n")), Seq("doc_new"))
      .join(bSh.select(col("id").as("doc_base"), col("sh").as("sh_b")), Seq("doc_base"))
      .filter(least(size(col("sh_n")), size(col("sh_b"))).cast("double") /
        greatest(size(col("sh_n")), size(col("sh_b"))) >= threshold - 1e-4)
      .withColumn("__i", size(array_intersect(col("sh_n"), col("sh_b"))))
      .withColumn("jaccard", Rounding.stable(
        col("__i").cast("double") /
          (size(col("sh_n")) + size(col("sh_b")) - col("__i")), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_new", "doc_base", "jaccard")
  }

  /** Write the precomputed near-dup index of a base corpus — the
    * at-scale artifact [[minhashPairsBetween]]'s scaladoc refers to:
    * day-N incremental dedup joins the new batch against an index
    * written ONCE per ingest instead of re-deriving signatures over
    * 100 TB of history every day. Two parquet tables under `dir`:
    *
    *  - `banded/` — (id, band_id, band_key), with the hot-bucket cap
    *    applied AT WRITE TIME (a degenerate boilerplate bucket is
    *    dropped once here, not re-discovered by every ingest);
    *  - `shingles/` — (id, sh), the shingle sets the verify stage
    *    joins for exact Jaccard.
    */
  def writeNearDupIndex(docs: DataFrame, idCol: String, textCol: String,
      dir: String, numBands: Int = 4, rowsPerBand: Int = 3,
      maxBucket: Int = DefaultMaxBucket): Unit = {
    // ONE tokenize+md5 pass, staged, feeds BOTH writes: the shingles
    // table directly and the banded table via the signature minima —
    // the dominant hashing cost of indexing a 100 TB base must not run
    // twice
    val sh = Stage.share(shingleFrame(docs, idCol, textCol))
    dropHotBuckets(
      bandedKeysFromSignatures(
        signaturesFromShingles(sh, numBands * rowsPerBand),
        numBands, rowsPerBand),
      maxBucket)
      .write.mode("overwrite").parquet(s"$dir/banded")
    sh.write.mode("overwrite").parquet(s"$dir/shingles")
  }

  /** Incremental MinHash-LSH dedup against a PRECOMPUTED base index
    * (see [[writeNearDupIndex]]): identical pair semantics to
    * [[minhashPairsBetween]] when no base bucket exceeded the write
    * cap, but the base side costs two parquet scans — signatures are
    * never re-derived from base text. Only the (small) new batch runs
    * the tokenize+md5+agg pipeline, so day-N cost tracks the batch
    * against any history size.
    *
    * @param baseBanded   the index's `banded/` table (id, band_id, band_key)
    * @param baseShingles the index's `shingles/` table (id, sh)
    * @return (doc_new, doc_base, jaccard)
    */
  def minhashPairsBetweenIndexed(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      baseBanded: DataFrame,
      baseShingles: DataFrame,
      numBands: Int = 4,
      rowsPerBand: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    // one tokenize+md5 pass over the batch, shared by banding AND the
    // verify join
    val newPrep = Stage.share(shingleFrame(newDocs, idCol, textCol))
    val newBanded = bandedKeysFromSignatures(
      signaturesFromShingles(newPrep, numBands * rowsPerBand),
      numBands, rowsPerBand)
    val pairs = newBanded
      .select(col("id").as("doc_new"), col("band_id"), col("band_key"))
      .join(baseBanded
        .select(col("id").as("doc_base"), col("band_id"), col("band_key")),
        Seq("band_id", "band_key"))
      .select("doc_new", "doc_base")
      .dropDuplicates("doc_new", "doc_base")
    pairs
      .join(newPrep.select(col("id").as("doc_new"), col("sh").as("sh_n")), Seq("doc_new"))
      .join(baseShingles.select(col("id").as("doc_base"), col("sh").as("sh_b")), Seq("doc_base"))
      .filter(least(size(col("sh_n")), size(col("sh_b"))).cast("double") /
        greatest(size(col("sh_n")), size(col("sh_b"))) >= threshold - 1e-4)
      .withColumn("__i", size(array_intersect(col("sh_n"), col("sh_b"))))
      .withColumn("jaccard", Rounding.stable(
        col("__i").cast("double") /
          (size(col("sh_n")) + size(col("sh_b")) - col("__i")), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_new", "doc_base", "jaccard")
  }

  /** 32-bit SimHash fingerprint as a '0'/'1' string. Bit j is the sign of
    * Σ_tokens (parity of the ASCII code of the j-th hex char of
    * md5(token)) mapped to ±1 — i.e. the classic weighted-bit-vote simhash
    * with md5-derived token hashes. Identical texts get identical
    * fingerprints; near-identical texts differ in few bits (hamming-band
    * joinable via substring keys).
    *
    * Query plans should materialize the md5 array, then [[hashChunks]],
    * then [[simhashFromChunks]] — the bit votes become pure long
    * arithmetic (shift/mask) instead of `bits` string folds, measured
    * several× faster; this convenience form inlines everything and is for
    * tests/small data.
    */
  def simhash(text: Column, bits: Int = 32): Column =
    simhashFromHashes(transform(split(text, " "), t => md5(t)), bits)

  /** SimHash over an already-materialized md5-per-token array column. */
  def simhashFromHashes(hashes: Column, bits: Int = 32): Column =
    simhashFromChunks(hashChunks(hashes, bits), bits)

  /** 32-bit integer chunks of each md5 hex string: chunk c = hex chars
    * 8c+1..8c+8 parsed as one long (one codegen'd `conv` per chunk
    * instead of 8 substring+ascii ops at every bit fold).
    */
  def hashChunks(hashes: Column, bits: Int = 32): Column = {
    val nChunks = (bits + 7) / 8
    transform(hashes, h => array((0 until nChunks).map(c =>
      conv(substring(h, c * 8 + 1, 8), 16, 10).cast("long")): _*))
  }

  /** SimHash at scale: explode tokens → md5 chunk longs as plain columns
    * → ONE codegen'd hash aggregate with `bits` long sums → bit string.
    * Identical output to [[simhash]]; ~2.5× faster than any
    * fold-over-array form because the interpreted higher-order lambdas
    * disappear entirely — every expression lives in whole-stage codegen.
    *
    * Scale shape: the explode multiplies rows by tokens-per-doc, but
    * partial (map-side) aggregation collapses them back to one row per
    * doc before the exchange, so the shuffle carries |docs| rows of
    * `bits` longs — same as any groupBy at 100 TB, no blowup.
    */
  def simhashAgg(docs: DataFrame, idCol: String, textCol: String,
      bits: Int = 32): DataFrame = {
    val nChunks = (bits + 7) / 8
    // explode_outer: a null text explodes to ONE row with a null token
    // (null chunks → null votes → all-zero fingerprint), matching the
    // fold form bit-for-bit; plain explode would DROP the document
    val tok = docs
      .select(col(idCol), explode_outer(split(col(textCol), " ")).as("__tok"))
      .withColumn("__m", md5(col("__tok")))
      .select(col(idCol) +: (0 until nChunks).map(c =>
        conv(substring(col("__m"), c * 8 + 1, 8), 16, 10).cast("long").as(s"__c$c")): _*)
    val votes = (0 until bits).map { j =>
      val v = shiftright(col(s"__c${j / 8}"), 4 * (7 - (j % 8))).bitwiseAND(lit(15L))
      val asciiParity = pmod(v + when(v >= 10, 1L).otherwise(0L), lit(2L))
      sum(asciiParity * 2 - 1).as(s"__v$j")
    }
    tok.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
      .select(col(idCol),
        concat((0 until bits).map(j =>
          when(col(s"__v$j") > 0, "1").otherwise("0")): _*).as("simhash"))
  }

  /** Bloom-filter floor dims for [[bloomBits]]: 2048 32-bit words =
    * 65,536 bits, 3 md5-slice hashes. Builders size the filter from the
    * base-corpus count via [[bloomWordsFor]] — 128 bits (16 bytes) per
    * doc, floored at `BloomWords` — which pins the false-positive rate
    * (1−e^(−3n/m))³ at ≤ ~1.1e−5 at EVERY corpus size instead of
    * degrading ~linearly³ with n (the old fixed 65,536 bits reached
    * ~0.9% at n=5,000). The filter is 16n bytes where the signature
    * index it replaces is ~40n — still a broadcastable literal at any
    * batch-dedup scale that can broadcast the exact index's keys.
    */
  val BloomWords = 2048
  val BloomHashes = 3

  /** Corpus-scaled word count: 4 words (128 bits) per base doc, floored
    * at [[BloomWords]]. Linear (not pow2-rounded) so the DuckDB oracle
    * derives the identical size from `greatest(2048, 4·count(*))`. The
    * base count is a build-time stat — one aggregate scan here; table
    * metadata in a production build.
    */
  def bloomWordsFor(n: Long): Int = {
    val words = math.max(BloomWords.toLong, 4L * n)
    // a filter past 2^31 words cannot be a broadcast literal array
    // anyway — fail loudly instead of wrapping negative and probing a
    // corrupt filter (shard the base or move to a join-side index)
    require(words <= Int.MaxValue,
      s"bloomWordsFor: $n base docs needs $words words — past the literal-array " +
      "filter's range; shard the base corpus or use the exact signature index")
    words.toInt
  }

  /** The k bit positions of a text — BIGINT slices of its md5, mod the
    * filter size. Deterministic md5 arithmetic both engines reproduce
    * bit-for-bit (same discipline as every hash here), so even the
    * filter's FALSE POSITIVES are oracle-checkable.
    */
  def bloomPositions(text: Column, words: Long = BloomWords.toLong): Seq[Column] =
    (0 until BloomHashes).map { i =>
      conv(substring(md5(text), i * 8 + 1, 8), 16, 10).cast("long") %
        (words * 32L)
    }

  private val BitMasks = typedLit((0 until 32).map(i => 1L << i))
  private def wordOf(p: Column): Column = floor(p / 32).cast("int")
  private def maskOf(p: Column): Column =
    element_at(BitMasks, pmod(p, lit(32)).cast("int") + 1)

  /** Build the base corpus's Bloom bitmap: explode each text's k
    * positions, ONE bit_or hash aggregate over ≤ `BloomWords` groups,
    * collect to a words array — n/8 bytes total, the index an
    * incremental dedup pass broadcasts where the exact signature index
    * would be ~40n bytes. Build cost is one corpus scan.
    */
  def bloomBits(base: DataFrame, textCol: String,
      nWords: Int = BloomWords): Array[Long] = {
    val words = base.filter(col(textCol).isNotNull)
      .select(explode(array(bloomPositions(col(textCol), nWords): _*)).as("p"))
      .groupBy(wordOf(col("p")).as("w"))
      .agg(bit_or(maskOf(col("p"))).as("m"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    Array.tabulate(nWords)(i => words.getOrElse(i, 0L))
  }

  /** Probe: true iff every one of the text's k bits is set — "maybe in
    * base" with zero false negatives by construction. The filter rides
    * along as a k·lookup literal array expression: pure narrow map work,
    * no join, no shuffle — the probe costs the batch scan alone at any
    * base size.
    */
  def bloomMaybeContains(words: Array[Long], text: Column): Column = {
    val arr = typedLit(words.toSeq)
    // positions mod the ACTUAL filter size — the array length is the
    // single source of truth, so a corpus-scaled build probes correctly
    bloomPositions(text, words.length.toLong).map { p =>
      (element_at(arr, wordOf(p) + 1).bitwiseAND(maskOf(p))) =!= 0L
    }.reduce(_ && _)
  }

  /** SHARDED Bloom filter build — the join-side form for the regime
    * [[bloomWordsFor]] fail-fasts on (> 2^31 words ≈ >500 M base docs at
    * 4 words/doc, where the filter can no longer be a broadcast literal
    * array): the bitmap lives as a (w, m) TABLE — 64-bit word index `w`,
    * 32 bits of filter per row in `m` — hash-partitioned on `w` by every
    * join that probes it, so each probe position routes to exactly the
    * shard holding its word. `nWords` is a Long: the 2^31 ceiling is the
    * literal array's, not this table's. Zero words are absent rows (the
    * probe reads absence as unset), so the table's size tracks the SET
    * bits, not `nWords`.
    */
  def bloomBitsFrame(base: DataFrame, textCol: String,
      nWords: Long, wide: Boolean = false): DataFrame = {
    require(nWords >= 1, s"nWords must be >= 1, got $nWords")
    base.filter(col(textCol).isNotNull)
      .select(explode(array(positionsFor(col(textCol), nWords, wide): _*)).as("p"))
      .groupBy(floor(col("p") / 32).cast("long").as("w"))
      .agg(bit_or(maskOf(col("p"))).as("m"))
  }

  /** [[bloomPositions]]'s 8-hex-char md5 slices carry 32 bits, so they
    * address at most a 2^32-bit (2^27-word) bitmap — past that, the mod
    * is a no-op and the filter stops growing (FP rate saturates; still
    * correct, just not improving). The sharded regime is exactly where
    * that ceiling binds, so it gets 10-hex-char (40-bit) slices
    * addressing 2^35 words — deliberately NOT literal-compatible,
    * because no literal-array filter exists at that size to agree with;
    * at any common `nWords` the `wide=false` default remains
    * bit-identical to the literal path.
    */
  def bloomPositionsWide(text: Column, words: Long): Seq[Column] =
    (0 until BloomHashes).map { i =>
      conv(substring(md5(text), i * 10 + 1, 10), 16, 10).cast("long") %
        (words * 32L)
    }

  private def positionsFor(text: Column, words: Long,
      wide: Boolean): Seq[Column] =
    if (wide) bloomPositionsWide(text, words) else bloomPositions(text, words)

  /** SHARDED Bloom probe — verdict-identical to [[bloomMaybeContains]]
    * over [[bloomBits]] at the same `nWords` (spec-asserted on the
    * fixture), but the filter arrives via an equi-join on the word index
    * instead of a literal array: explode each probe text's
    * [[BloomHashes]] positions, LEFT-join the filter shard table on `w`
    * (absent word ⇒ bit unset), and AND the per-position bit tests back
    * to one row per doc with a min(boolean) aggregate. Scale shape: the
    * probe side carries k·|batch| rows into a hash join against a table
    * the size of the filter's set words — both sides partition on `w`,
    * nothing broadcasts, nothing is corpus-pairwise.
    *
    * The AND-merge groups on a synthetic PER-ROW key (not `idCol`), so a
    * batch carrying duplicate ids with different texts still emits one
    * verdict per input row — verdict-identical to [[bloomMaybeContains]]
    * and [[bloomMaybeContainsJoinStateless]] on ANY input, duplicate ids
    * included (ADVICE r16: the idCol grouping AND-merged such rows).
    *
    * @return (idCol, maybe_in_base) — one row per non-null-text input row
    */
  def bloomMaybeContainsJoin(batch: DataFrame, idCol: String,
      textCol: String, filter: DataFrame, nWords: Long,
      wide: Boolean = false): DataFrame =
    batch.filter(col(textCol).isNotNull)
      .withColumn("__rk", monotonically_increasing_id())
      .select(col(idCol), col("__rk"),
        explode(array(positionsFor(col(textCol), nWords, wide): _*)).as("p"))
      .select(col(idCol), col("__rk"),
        floor(col("p") / 32).cast("long").as("w"),
        maskOf(col("p")).as("__mask"))
      .join(filter.select(col("w"), col("m")), Seq("w"), "left")
      .groupBy(col(idCol), col("__rk"))
      .agg(min((coalesce(col("m"), lit(0L)).bitwiseAND(col("__mask"))) =!= 0L)
        .as("maybe_in_base"))
      .drop("__rk")

  /** STATELESS per-row form of [[bloomMaybeContainsJoin]]: the verdict
    * via [[BloomHashes]] successive LEFT equi-joins — one per hash
    * position, each on its own word-index column — folded into a single
    * AND projection, no aggregate anywhere. Verdict-identical to the
    * aggregate form (each position's bit test is independent; both AND
    * the same [[BloomHashes]] tests). This is the shape a STREAMING
    * micro-batch can run against a static filter table in append mode:
    * stream-static joins keep no state store, while the aggregate
    * form's groupBy(doc) would grow streaming state with every doc ever
    * seen. Batch pipelines can use either; [[graft.streaming.StreamingBloom]]
    * uses this one.
    *
    * @return (idCol, carry…, maybe_in_base) — one row per non-null-text doc
    */
  def bloomMaybeContainsJoinStateless(batch: DataFrame, idCol: String,
      textCol: String, filter: DataFrame, nWords: Long,
      wide: Boolean = false, carry: Seq[String] = Nil): DataFrame = {
    val keep = (idCol +: carry).map(col)
    val pos = positionsFor(col(textCol), nWords, wide)
    val start = batch.filter(col(textCol).isNotNull)
      .select(keep ++ pos.zipWithIndex.flatMap { case (p, i) =>
        Seq(floor(p / 32).cast("long").as(s"__w$i"), maskOf(p).as(s"__k$i"))
      }: _*)
    val joined = (0 until BloomHashes).foldLeft(start) { (df, i) =>
      df.join(filter.select(col("w").as(s"__w$i"), col("m").as(s"__f$i")),
        Seq(s"__w$i"), "left")
    }
    joined.select(keep :+ (0 until BloomHashes).map(i =>
      (coalesce(col(s"__f$i"), lit(0L)).bitwiseAND(col(s"__k$i"))) =!= 0L)
      .reduce(_ && _).as("maybe_in_base"): _*)
  }

  /** Paragraph-level exact dedup with document reassembly — the
    * sub-document pass (CCNet/RefinedWeb-style) that exact whole-doc
    * dedup cannot do: boilerplate repeated ACROSS distinct documents is
    * removed while the unique remainder of each document survives.
    * Paragraph = a fixed `blockTokens`-token block (the deterministic
    * stand-in for newline boundaries the synthetic corpus lacks; swap
    * the splitter for a `\n\n` split on real data — everything
    * downstream is boundary-agnostic). Each distinct paragraph keeps
    * only its FIRST occurrence corpus-wide — the (lowest docId, lowest
    * position) copy — and every document is rebuilt from its surviving
    * paragraphs in original order, possibly down to "" (degrade, not
    * drop: the caller decides the min-length cut).
    *
    * Output: (docId, n_paras, n_kept, clean_text).
    *
    * Scale shape: the paragraph explode is narrow map work (n/B rows of
    * ~B tokens each — same bytes as the corpus); first-occurrence is ONE
    * hash-partitioned min(struct) aggregate on para_hash plus an
    * equality join back on the same key — never a window over the
    * corpus. Reassembly is one groupBy on docId whose per-group state is
    * bounded by the document's own length (array_sort of the collected
    * (position, text) structs — the per-doc sort any reassembly pays).
    * A paragraph duplicated millions of times skews its join-back key;
    * the probe side is one row per hash and AQE's skew split covers the
    * build side, so the hot key splits instead of serializing.
    */
  /** The fixed-block paragraph explode shared by [[paragraphDedup]] and
    * the streaming twin's batch scan: (docId, carry columns…, para_id,
    * para_text, para_hash) — narrow map work, same bytes as the corpus.
    */
  def paragraphFrame(df: DataFrame, docId: String, text: Column,
      blockTokens: Int, carry: Seq[String] = Nil): DataFrame = {
    require(blockTokens >= 1, s"blockTokens must be >= 1, got $blockTokens")
    val keep = (docId +: carry).map(col)
    // fan out before the tokenize + per-block md5 explode — the
    // paragraph plane's dominant CPU stage (identity at scale, see Fan)
    Fan.out(df.filter(text.isNotNull))
      .select(keep :+ split(text, " ").as("_tv"): _*)
      // integer ceil via `div` (Column `/` is double division); ids
      // 0..(n-1) div B inclusive = ceil(n/B) blocks, slice clamps the tail
      .select(keep ++ Seq(
        explode(sequence(lit(0),
          expr(s"(size(_tv) - 1) div $blockTokens").cast("int"))).as("_i"),
        col("_tv")): _*)
      .select(keep ++ Seq(col("_i").cast("long").as("para_id"),
        concat_ws(" ", slice(col("_tv"),
          col("_i") * blockTokens + 1, lit(blockTokens))).as("para_text")): _*)
      .withColumn("para_hash", md5(col("para_text")))
  }

  def paragraphDedup(df: DataFrame, docId: String, text: Column,
      blockTokens: Int): DataFrame = {
    val paras = paragraphFrame(df, docId, text, blockTokens)
    val first = paras.groupBy(col("para_hash"))
      .agg(min(struct(col(docId), col("para_id"))).as("_first"))
    paras.join(first, Seq("para_hash"))
      .withColumn("_keep", col(docId) === col(s"_first.$docId") &&
        col("para_id") === col("_first.para_id"))
      .groupBy(col(docId))
      .agg(
        count(lit(1)).as("n_paras"),
        count(when(col("_keep"), 1)).as("n_kept"),
        // collect_list skips the nulls the `when` leaves for dropped
        // paragraphs; array_sort restores positional order (struct sorts
        // by para_id first), making the unordered collect deterministic
        array_join(transform(
          array_sort(collect_list(when(col("_keep"),
            struct(col("para_id"), col("para_text"))))),
          x => x.getField("para_text")), " ").as("clean_text"))
  }

  /** Exact substring-duplication spans — the sliding-window dedup of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (arXiv:2107.06499), re-expressed relationally: every
    * `w`-token window (stride `stride`) is hashed; a window whose hash
    * occurs MORE THAN ONCE corpus-wide is a duplication hit; per doc,
    * overlapping hits merge into maximal spans. Sits between
    * [[paragraphDedup]] (fixed blocks — misses dupes crossing block
    * boundaries) and whole-doc minhash (misses sub-document dupes
    * entirely): a verbatim quote at ANY offset surfaces here. The
    * caller decides the cut (drop spans, drop docs over a dup-token
    * budget, etc.) — this operator MEASURES.
    *
    * Scale shape: the window explode is (n_tokens/stride) rows per doc
    * of one md5 each (the suffix-array build this replaces is also
    * corpus×positions work — stride and `w` are the sampling knobs at
    * 100 TB); hit detection is ONE hash-partitioned count per window
    * hash + an equality join back; span merging is a per-DOC
    * gaps-and-islands window — state bounded by the document's own hit
    * count, never the corpus.
    *
    * @return one row per doc with text: (docId, n_windows,
    *         n_dup_windows, n_spans, dup_tokens, max_span_tokens) —
    *         zeros for clean docs, so coverage is auditable.
    */
  def duplicateSpans(df: DataFrame, docId: String, text: Column,
      w: Int, stride: Int = 1): DataFrame = {
    val (toks, wins) = spanWindows(df, docId, text, w, stride)
    val dupHash = wins.groupBy(col("whash"))
      .agg(count(lit(1)).as("__c")).filter(col("__c") >= 2)
      .select("whash")
    val hits = wins.join(dupHash, Seq("whash")).select(col(docId), col("p"))
    spanProfile(toks, hits, docId, w, stride)
  }

  /** The (toks, wins) staging every span-dedup form starts from:
    * `toks` = (docId, tv[, carry…]) — feeds the window explode AND the
    * final n_windows select; `wins` = (docId, p, whash[, carry…]) — the
    * operator's dominant cost, one md5 per `w`-token window at positions
    * 1, 1+stride, … — feeds the hit detection AND the hit join. Both
    * staged: without staging, both heavy subtrees run twice
    * end-to-end. `carry` columns (e.g. an arrival timestamp for the
    * streaming twin) ride along both frames.
    */
  def spanWindows(df: DataFrame, docId: String, text: Column,
      w: Int, stride: Int = 1, carry: Seq[String] = Nil): (DataFrame, DataFrame) = {
    require(w >= 2, s"window must be >= 2 tokens, got $w")
    require(stride >= 1, s"stride must be >= 1, got $stride")
    val carryCols = carry.map(col)
    // fan out before the tokenize — the per-window md5 explode below
    // is the span plane's dominant CPU stage and inherits this
    // partitioning through the stage (identity at scale, see Fan)
    val toks = Stage.share(Fan.out(df.filter(text.isNotNull))
      .select(col(docId) +: tokenValues(text).as("tv") +: carryCols: _*))
    // window positions 1 .. n-w+1 (docs shorter than w contribute none)
    val wins = Stage.share(toks.filter(size(col("tv")) >= w)
      .select(col(docId) +:
        explode(sequence(lit(1), size(col("tv")) - (w - 1), lit(stride))).as("p") +:
        col("tv") +: carryCols: _*)
      .select(col(docId) +: col("p") +:
        md5(concat_ws("|",
          transform(slice(col("tv"), col("p"), lit(w)), x => x.cast("string"))))
          .as("whash") +: carryCols: _*))
    (toks, wins)
  }

  /** Per-doc span profile over detected hit windows: merge overlapping
    * hits into maximal spans (gaps-and-islands — a hit overlaps the
    * previous one iff its window starts inside it, p <= prev + w - 1;
    * state bounded by the document's own hit count, never the corpus)
    * and emit the [[duplicateSpans]] output shape with zeros for clean
    * docs.
    */
  def spanProfile(toks: DataFrame, hits: DataFrame, docId: String,
      w: Int, stride: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col(docId)).orderBy(col("p"))
    val spans = hits
      .withColumn("__new", when(coalesce(
        col("p") > lag(col("p"), 1).over(byDoc) + (w - 1), lit(true)), 1).otherwise(0))
      .withColumn("__isl", sum(col("__new")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(docId), col("__isl"))
      .agg(count(lit(1)).as("__hits"),
        (max(col("p")) + (w - 1) - min(col("p")) + 1).as("__len"))
    val perDoc = spans.groupBy(col(docId))
      .agg(sum(col("__hits")).as("n_dup_windows"),
        count(lit(1)).cast("long").as("n_spans"),
        sum(col("__len")).as("dup_tokens"),
        max(col("__len")).as("max_span_tokens"))
    toks.select(col(docId),
        when(size(col("tv")) >= w,
          expr(s"(size(tv) - $w) div $stride + 1")).otherwise(lit(0))
          .cast("long").as("n_windows"))
      .join(perDoc, Seq(docId), "left")
      .select(col(docId), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("max_span_tokens"), lit(0L)).as("max_span_tokens"))
  }

  /** SoftDeDup-style duplicate reweighting: instead of DROPPING
    * near-duplicates, every document keeps a sampling weight
    * 1/|cluster| where the cluster is the transitive closure of the
    * verified near-dup pairs ([[duplicateClusters]]). A doc that exists
    * in N near-identical copies contributes total mass 1 to the
    * training mix (the soft analogue of keep-one-canonical), while
    * unique docs keep weight 1 — the "rethink dedup as reweighting"
    * move of Xue et al. 2024 (SoftDedup), at cluster granularity.
    *
    * Scale shape: the closure is the same bounded label-propagation
    * loop the hard dedup uses; sizing it is ONE count aggregate over
    * the (id, label) table and one shuffle join back on `label` — both
    * keyed on cluster label, never pairwise. Weight is stable-rounded
    * so the hash matches the SQL mirror exactly.
    *
    * @return (id, cluster_id, cluster_size, weight)
    */
  def softWeights(nodes: DataFrame, pairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    // NOT staged despite the two consumers (size aggregate +
    // join-back): propagateMin already truncates per round, so the
    // re-run tail is cheap — an extra materialization here measured
    // 0.7 s SLOWER at sf0.1 (3.4 → 4.1 s solo)
    val cl = duplicateClusters(nodes, pairs, maxIter)
    val sizes = cl.groupBy(col("label"))
      .agg(count(lit(1)).as("cluster_size"))
    cl.join(sizes, Seq("label"))
      .select(col("id"), col("label").as("cluster_id"),
        col("cluster_size"),
        Rounding.stable(lit(1.0) / col("cluster_size"), 6).as("weight"))
  }

  /** Graph-propagated quality smoothing: near-duplicate copies of a
    * document carry independently-noisy quality estimates; each round
    * replaces a doc's integer quality with the FLOOR-MEAN of itself and
    * its near-dup neighbors, so duplicate groups converge toward a
    * consensus score (the label-smoothing move weak-supervision
    * pipelines apply over similarity graphs). Scores are integer
    * micro-units end-to-end — the sums are exact and the floor division
    * agrees across engines on the non-negative domain — and each round
    * is one neighbor join + one sum aggregate + one join-back, the
    * [[duplicateClusters]] propagation shape with means instead of
    * minima. Rounds are driver-unrolled (lineage truncated per round);
    * the oracle unrolls the same rounds as CTE stages.
    *
    * @param scores (id, q_u) — non-negative integer quality units
    * @param pairs  (doc_a, doc_b) undirected near-dup edges
    * @return (id, q_u) after `rounds` smoothing rounds (isolated nodes
    *         keep their score)
    */
  def qualitySmooth(scores: DataFrame, pairs: DataFrame,
      rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 8, s"rounds must be in [1,8], got $rounds")
    val edges = bothDirections(pairs)
    var cur = Stage.truncate(
      scores.select(col("id"), col("q_u").cast("long").as("q_u")))
    for (_ <- 1 to rounds) {
      val nb = edges
        .join(cur.select(col("id").as("b"), col("q_u").as("nq")), Seq("b"))
        .groupBy(col("a").as("id"))
        .agg(sum(col("nq")).as("nsum"), count(lit(1)).as("ndeg"))
      cur = Stage.truncate(cur.join(nb, Seq("id"), "left")
        .select(col("id"),
          when(col("ndeg").isNull, col("q_u"))
            .otherwise(expr("(q_u + nsum) div (1 + ndeg)")).as("q_u")))
    }
    cur
  }

  /** SimHash bit votes over the chunk representation. The j-th hex char's
    * nibble is `(chunk(j/8) >> 4*(7-j%8)) & 15`; its ASCII parity is
    * `v%2` for digits and `(v+1)%2` for letters (ascii 48+v vs 87+v) —
    * bit-for-bit identical to folding `ascii(substring(h,j+1,1)) % 2`
    * over the hex strings, but in long arithmetic.
    */
  def simhashFromChunks(chunks: Column, bits: Int = 32): Column = {
    val bitCols = (0 until bits).map { j =>
      val c = j / 8
      val shift = 4 * (7 - (j % 8))
      val vote = aggregate(chunks, lit(0L), (acc, ch) => {
        val v = shiftright(element_at(ch, c + 1), shift).bitwiseAND(lit(15L))
        val asciiParity = pmod(v + when(v >= 10, 1L).otherwise(0L), lit(2L))
        acc + (asciiParity * 2 - 1)
      })
      when(vote > 0, "1").otherwise("0")
    }
    concat(bitCols: _*)
  }
}
