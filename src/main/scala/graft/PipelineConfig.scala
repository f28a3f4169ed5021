package graft

import graft.operators.Dedup

/** S1 — typed pipeline configuration, the Spark-side analogue of the
  * reference's YAML config + loader (config.yaml:1-13,
  * src/core/config.py:13-33): the reference threads a parsed dict of
  * {stocks, output_dir, date_range.start/end, news.lookback_window_hours}
  * through its pipeline; here the same parameters (plus the
  * graft-native curation knobs that were previously literal-repeated
  * across SparkEntry) live in ONE immutable case class, so a parameter
  * exists exactly once and every query and its DuckDB oracle
  * interpolate the same value by construction.
  *
  * Driver-side only by design: config values become plan LITERALS
  * (constant-folded, partition-prunable) — never a joined table or a
  * per-row lookup. `PipelineConfig.Default` carries the values every
  * oracle row is pinned to; tests may construct variants freely.
  */
final case class PipelineConfig(
    // date_range.start/end (config.yaml:8-10) — the trading-calendar
    // bounds G1 generates
    calendarStart: String = "2024-01-01",
    calendarEnd: String = "2024-03-31",
    // the one-month universe window G2 crosses with the key universe
    universeEnd: String = "2024-01-31",
    // the pipeline run's as-of instant (the reference resolves "now"
    // once per run; engine.py's selection is relative to it)
    asOf: String = "2024-01-15 00:00:00",
    // T8's independently parameterized recency probe
    recencyAsOf: String = "2024-01-08 00:00:00",
    // the flagship pipeline's market-join calendar window
    marketStart: String = "2024-01-08",
    marketEnd: String = "2024-01-26",
    // the provenance-attach query's shorter calendar window
    provenanceEnd: String = "2024-01-19",
    // news.lookback_window_hours (config.yaml:13)
    lookbackHours: Int = 72,
    // history floor for the pct-change backfill (the 10-day buffer N6)
    historyStart: String = "2024-01-02",
    // near-dup banding budget + verify threshold + hot-bucket guard
    numBands: Int = 4,
    rowsPerBand: Int = 3,
    nearDupThreshold: Double = 0.8,
    maxBucket: Int = Dedup.DefaultMaxBucket,
    // asymmetric containment dedup (dedup_containment): shingles above
    // this document frequency leave the inverted index (the quadratic
    // guard), and pairs keep at this containment ratio
    containmentDfCap: Int = 100,
    containmentThreshold: Double = 0.8,
    // e4 curation closure: when true, asymmetric containment pairs join
    // the minhash pairs as undirected edges in the duplicate-cluster
    // closure, so excerpt-in-long-doc duplicates collapse into their
    // source's cluster instead of surviving curation
    curationContainmentEdges: Boolean = true,
    // curation quality gate (e3/e5) and token-length keep-range
    qualityMin: Double = 0.2,
    minWsTokens: Int = 5,
    maxWsTokens: Int = 200,
    // context-window chunking layout (ta_chunk)
    chunkTokens: Int = 32,
    chunkStride: Int = 24,
    // paragraph-level dedup (dedup_paragraph): tokens per fixed-block
    // "paragraph" — the deterministic boundary stand-in; real data
    // swaps in a newline split
    paraBlockTokens: Int = 16,
    // frame-level multimodal dedup (mm_frame_dedup): a video whose
    // corpus-wide-duplicated-frame fraction reaches this bound is
    // dropped (re-used footage / boilerplate-dominated uploads)
    mmDupFrameMax: Double = 0.5,
    // audio activity segmentation (mm_audio_segments): a 16-sample
    // window is "speech" when its byte-energy reaches this bound.
    // Uniform-ish md5 bytes sum to ~2040 per window, so 2048 splits
    // the fixture near-evenly into active/silent runs.
    audioEnergyThreshold: Int = 2048,
    // acoustic fingerprints (mm_audio_neardup): consecutive window
    // energy deltas shingled 3 at a time — a clip needs shingle+1 = 4
    // shared consecutive windows to produce a matching fingerprint.
    // The pair stage reuses the video plane's dfCap/minShared/
    // containMin (same inverted-index semantics on a different key)
    audioFpShingle: Int = 3,
    // clip-reuse fixture (mm_audio_neardup): ids %10==0 re-upload
    // their first 6 analysis windows (96 tokens) under id +5e6
    audioClipWindows: Int = 6,
    // video near-dup pairs (mm_video_neardup): signatures in more than
    // dfCap videos leave pair generation (boilerplate frames are not
    // re-upload evidence, and the cap bounds candidate volume);
    // pairs keep at >= minShared shared sigs; verdict at containment
    // (shared / smaller video's frames) >= containMin
    videoSigDfCap: Int = 100,
    videoMinShared: Int = 2,
    // 0.8: the fixture's pair containments land on {2/3, 3/4, 4/5,
    // 5/6, 1}, so this bound genuinely splits the verdicts
    videoContainMin: Double = 0.8,
    // Hamming-tolerant frame near-dup (mm_frame_neardup): the 56-bit
    // frame signature split into `frameSigBands` substring bands —
    // pigeonhole guarantees every pair within Hamming < bands collides
    // on >= 1 band, so maxHamming must stay < bands. 2 bands of 28
    // bits keep natural band collisions at ~|sigs|/2^28 per cell while
    // covering the 1-bit re-encode noise the fixture injects; a band
    // cell holding > frameSigBucketCap distinct sigs (a structured /
    // near-constant signature region) is dropped whole
    frameSigBands: Int = 2,
    frameSigMaxHamming: Int = 1,
    frameSigBucketCap: Int = 200,
    // AV curation (e9_av_curation): minimum speech-window fraction —
    // near the energy threshold the per-doc fraction is ~Binomial(n,
    // ~.5)/n, so 0.3 drops short/unlucky uploads while keeping a real
    // mix of verdicts in the fixture
    avSpeechFracMin: Double = 0.3,
    // AV curation text gate — stricter than the corpus-wide qualityMin
    // (whose 0.2 nothing in the fixture fails: min quality ≈ 0.31):
    // 0.34 sits just under the 5th percentile, so the low_quality
    // branch — and the first-failure priority over dup_video /
    // low_speech — is genuinely exercised and oracle-pinned
    avQualityMin: Double = 0.34,
    // substring-duplication spans (dedup_spans): sliding-window width in
    // tokens (Lee et al. use 50; the synthetic docs are shorter)
    spanWindowTokens: Int = 12,
    // temperature source mixing (ta_mix_temperature): total kept-doc
    // budget the sqrt-weighted per-source rates normalize to
    mixBudget: Long = 250L,
    // hashed-linear quality classifier (ta_quality_clf): keep docs whose
    // 6-dp normalized score clears this
    clfThreshold: Double = 0.0,
    // per-source doc cap (ta_source_cap): best-N by classifier score
    sourceCap: Int = 10,
    // e6 flagship shard budget (tokens per shard per lang) — smaller
    // than shardBudget so the layout is non-degenerate at test SFs
    e6ShardBudget: Long = 2000L,
    // fixed-budget shard packing layout (ta_shard_pack)
    shardBudget: Long = 20000L,
    shardBucketSize: Long = 100L,
    // deterministic global training-order shuffle (ta_shuffle): rows
    // per output shard
    shuffleShardSize: Long = 64L,
    // curriculum ordering (ta_curriculum): docs per curriculum phase
    // (quality-descending global order cut into fixed-size phases)
    curriculumPhaseSize: Long = 100L,
    // unigram-LM fluency reference slice: docs with doc_id % mod == 0
    lmRefMod: Int = 10,
    // CCNet-style perplexity buckets: head < fluencyHead <= middle <
    // fluencyMid <= tail (fixed thresholds — exact comparisons, no
    // percentile interpolation in the hash)
    fluencyHead: Double = 4.8,
    fluencyMid: Double = 5.2,
    // embedding k-means (sim_kmeans); the oracle SQL unrolls exactly
    // kmeansIters assignment passes — keep them in sync
    kmeansK: Int = 4,
    kmeansIters: Int = 2,
    // product quantization (sim_pq_ann / sim_pq_recall): block layout
    // m × subDim (m·subDim = embedding dim), codewords per block, and
    // the ADC-shortlist width multiplier for the exact re-rank stage.
    // Codebooks are per-block L2-Lloyd-TRAINED (textbook PQ —
    // Similarity.trainPqCodebooks) and the search is the production
    // shortlist-then-refine shape; the r12 raw-ADC
    // slice-of-full-space-centroid shortcut measured recall 0.13
    // (0.40 at 32 codewords, 0.27 cosine-trained) — re-measured by
    // sim_pq_recall.
    //
    // rerank=60 CHOSEN FROM A SWEEP (r14; sim_pq_recall re-measures the
    // chosen point every Verify run): recall@3 over
    // codewords {16,32} × rerank {10..100} measured 0.73 at the old
    // (16,10) and ≥0.85 from (16,25)/(32,15) up; (16,60) reads 1.00 at
    // sf0.01 / 0.93 at sf0.1. 16 codewords is kept because the ENCODE
    // pass (corpus × m × k codeword distances — the term that scales
    // with data) is 2× cheaper than 32, and widening only the re-rank
    // shortlist (k·rerank = 180 exact-scored rows PER QUERY, broadcast-
    // joined) buys the same recall at a cost that does not grow with
    // the corpus.
    pqCodewords: Int = 16,
    pqM: Int = 8,
    pqSubDim: Int = 8,
    pqRerank: Int = 60,
    // top-k of the PQ queries — referenced by BOTH the SparkEntry
    // topKPqBlocks calls and pqCtesSql's shortlist CTE (rn <= pqK·pqRerank);
    // a literal on one side would let the engines silently diverge if the
    // other changed (ADVICE r13)
    pqK: Int = 3,
    // codebook training reads only vectors with id < this bound (the
    // id-prefix calibration-sample trick sqScale uses: the predicate
    // pushes into the parquet scan, so the m·iters Lloyd passes read a
    // bounded slice at ANY corpus size — how real PQ indexes train).
    // 2048 covers the whole sf0.01 corpus, so the correctness-gate
    // hashes are those of full-corpus training.
    pqTrainBound: Long = 2048L,
    // binary (sign-quantized) ANN family (sim_binary_ann /
    // sim_binary_recall / sim_eval_mrr): exact-rerank shortlist
    // multiplier over the Hamming ranking, and the raw-Hamming list
    // width the MRR eval ranks the true nearest within. rerank=20
    // (k·rerank = 60 exact-scored rows per query) measured recall 1.0
    // at sf0.01 — the same bounded-refine cost story as pqRerank.
    binaryRerank: Int = 20,
    binaryMrrK: Int = 10,
    // multi-index Hamming bands (sim_binary_banded): 8 bands × 8 bits
    // over the 64-bit code — pigeonhole-complete to Hamming radius 7,
    // candidate volume ~bands/2^(64/bands) of the corpus per query.
    // Must divide 64 with an even quotient of halves (2 bands per
    // 32-bit half minimum); mirrored literally by the banded oracle.
    binaryBands: Int = 8,
    // streaming binary candidate screen (st17_binary_scan): the
    // arriving micro-batch fixture re-encodes base vectors with id
    // below this bound (bounded probe set, same discipline as the id<5
    // query slices); the hamming cut is bands−1 — the pigeonhole-
    // complete radius — applied at both call site and oracle.
    binaryScreenArrivals: Long = 1000L,
    // matryoshka truncation tiers (sim_trunc_recall): recall of cosine
    // top-k over the FIRST d dims vs the full-dim exact top-k — the
    // dimension-count axis of the compression family (SQ/PQ/binary cut
    // per-dim precision; MRL-style truncation cuts dims, a 64/d×
    // scan-bandwidth saving). Must include the full dim so the gate
    // self-validates at recall 1.0; mirrored literally by the oracle.
    truncDims: Seq[Int] = Seq(16, 32, 64),
    // metadata-filtered ANN (sim_filtered_ann / sim_filtered_ivf_recall):
    // the admission predicate — search only documents in this language.
    // Interpolated into both the semi-join plan and the oracle's IN
    // subquery; at scale this is the partition-pruning key of a
    // lang-partitioned posting layout.
    annFilterLang: String = "en",
    // SemDeDup (dedup_semantic): within-cluster cosine keep threshold,
    // and the deterministic first-component delta that fakes a
    // "re-embedded paraphrase" of each vector (unit-norm corpus → the
    // paraphrase lands at cos ≈ 0.98, above the threshold)
    semanticThreshold: Double = 0.95,
    semanticDelta: Double = 0.2,
    // dedup_semantic's keep rule over qualifying pairs: "min_id" (greedy
    // lowest-id keep) or "centroid" (standard SemDeDup — the member
    // closest to its cluster centroid survives, 6-dp cosine, ties to the
    // lower id). dedup_semantic_centroid pins the latter regardless.
    semanticKeep: String = "min_id",
    // cosine-LSH dedup (dedup_embedding / dedup_semantic): sign-bit
    // hyperplane count and the quadratic hot-cell guard on
    // (bucket[, cluster]) cells — both mirrored in the oracles
    cosNumPlanes: Int = graft.operators.Similarity.DefaultNumPlanes,
    cosMaxCell: Int = graft.operators.Similarity.DefaultMaxCell,
    // per-cluster row target for diversity sampling (sim_diversity_sample)
    diversityTarget: Int = 50,
    // MMR diversity re-rank (sim_mmr): selections per query, relevance
    // shortlist width, and the relevance-vs-redundancy trade λ. The
    // oracle unrolls exactly mmrK greedy steps — keep in sync.
    mmrK: Int = 3,
    mmrShortlist: Int = 10,
    mmrLambda: Double = 0.7,
    // blocked record linkage (j6_fuzzy_join): inclusive edit-distance
    // threshold for the banded levenshtein, plus the hot-block guard
    // (blocks above this size are dropped from pair generation)
    fuzzyMaxDist: Int = 3,
    fuzzyMaxBlock: Int = graft.operators.Fuzzy.DefaultMaxBlock,
    // recall gate (j6_fuzzy_recall): the bounded ground-truth slice —
    // distinct names from parts with p_partkey at or below this, so the
    // all-pairs truth join stays O(slice²) at ANY corpus scale
    fuzzyRecallKeys: Long = 500L,
    // DSIR importance resampling (ta_dsir / ta_dsir_select — Xie et al.
    // 2023, arXiv:2302.03169): hashed unigram+bigram feature buckets
    // (the hashing-trick dimension of the two bag-of-ngrams models),
    // the source treated as the trusted target domain, and the top-k
    // width of the selection step. 256 buckets ≈ the paper's 10k scaled
    // to this corpus's ~200-token docs; the bucket table stays a
    // broadcast dim at any corpus size because it is bounded by the
    // BUCKET count, not the vocabulary.
    dsirBuckets: Int = 256,
    dsirTargetSource: String = "src0",
    dsirKeep: Int = 100,
    // BPE merge-candidate counting (ta_bpe_pairs): how many of the most
    // frequent word-internal adjacent character pairs to report — the
    // candidates the first tokenizer-training merge round chooses from
    bpeTopK: Int = 20,
    // iterative BPE merge learning (ta_bpe_merges): how many greedy
    // merge rounds to train — the oracle unrolls exactly this many CTE
    // stages
    bpeMergeRounds: Int = 3,
    // winnowing fingerprints (ta_winnow — Schleimer et al., SIGMOD
    // 2003): char k-gram width and the window of consecutive k-gram
    // hashes each fingerprint is the minimum of. Guarantee: any match
    // of length ≥ w + k − 1 shares a fingerprint
    winnowK: Int = 5,
    winnowW: Int = 4,
    // BM25 retrieval (ta_bm25_topk): the standing query's terms, the
    // result width, and the standard Robertson parameters. The idf is
    // the same rational BM25 form ta_tfidf uses (no ln — exactness)
    bm25Terms: Seq[String] = Seq("spark", "stream", "window"),
    bm25TopK: Int = 15,
    bm25K1: Double = 1.2,
    bm25B: Double = 0.75,
    // deterministic train/val/test split (ta_split_leakage): hash-slot
    // cutoffs on the stable content-keyed assignment
    splitTrainPct: Int = 80,
    splitValPct: Int = 10,
    // graph-propagated quality smoothing (ta_quality_smooth): floor-
    // mean consensus rounds over the near-dup graph — the oracle
    // unrolls exactly this many CTE stages
    smoothRounds: Int = 2,
    // count-min-sketch heavy-hitter gate (ta_cms_gate): CMS accuracy
    // (ε, δ) — width e/ε counters, depth ln(1/δ) rows — a fixed seed
    // so the gate boolean is deterministic, and the top-k width gated
    cmsEps: Double = 0.001,
    cmsConfidence: Double = 0.99,
    cmsSeed: Int = 42,
    cmsTopK: Int = 10,
    // streaming standing-query matcher (st15): emit arrivals whose
    // frozen-stats BM25 clears this many micro-units (1.0 BM25)
    matchThresholdU: Long = 1000000L,
    // reciprocal-rank fusion (ta_rrf_fusion): the RRF smoothing
    // constant (60 — Cormack et al.'s standard), the dense side's
    // standing query vector id + top-k width, and the fused list width
    rrfK: Int = 60,
    rrfDenseQueryId: Long = 0L,
    rrfDenseK: Int = 10,
    rrfTopK: Int = 10) {
  require(annFilterLang.matches("[a-z]{2}"),
    s"annFilterLang must be a two-letter lowercase code (it is interpolated " +
      s"into oracle SQL as a quoted literal), got '$annFilterLang'")
  require(truncDims.nonEmpty && truncDims.forall(d => d >= 1 && d <= 64)
      && truncDims.contains(64) && truncDims == truncDims.sorted,
    s"truncDims must be sorted tiers within 1..64 incl. the full dim 64, got $truncDims")
  /** Number of minhash signature values the banding consumes. */
  def nSig: Int = numBands * rowsPerBand
  /** The as-of instant as a SQL literal for oracle interpolation. */
  def asOfSql: String = s"TIMESTAMP '$asOf'"
  def recencyAsOfSql: String = s"TIMESTAMP '$recencyAsOf'"
}

object PipelineConfig {
  /** The canonical run configuration every oracle is pinned to. */
  val Default: PipelineConfig = PipelineConfig()
}
