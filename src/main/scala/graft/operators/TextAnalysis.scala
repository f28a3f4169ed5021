package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: language ID
  * (character-n-gram heuristic), quality scoring, token counting, and
  * positional document fingerprinting.
  *
  * graft-native extension (builder brief). All operators are narrow,
  * codegen'd per-row map work — zero shuffle at any scale; the only cost
  * at 100 TB is the text scan itself, so these compose freely with the
  * dedup/similarity stages without re-partitioning.
  */
object TextAnalysis {

  /** Character-trigram profiles per language. A real system learns these
    * from labeled corpora; the *operator* — profile hit-rate scoring with
    * deterministic argmax — is the same either way.
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "ing", "ow "),
    "de" -> Seq("sch", "der", "ein"),
    "es" -> Seq("ció", "los", "rde"),
    "fr" -> Seq("eau", "oux", "que"))

  private def profileHits(lowerText: Column, grams: Seq[String]): Column =
    grams.map(g =>
      regexp_count(lowerText, lit(java.util.regex.Pattern.quote(g))))
      .reduce(_ + _)

  /** Per-language trigram hit counts + argmax prediction (ties and
    * no-hits resolve to the first profile in declaration order — a
    * deterministic tiebreak both engines reproduce).
    */
  def langId(text: Column): Seq[(String, Column)] = {
    val lower = org.apache.spark.sql.functions.lower(text)
    val scores = LangProfiles.map { case (lang, grams) =>
      lang -> profileHits(lower, grams)
    }
    val best = scores.tail.foldLeft(
      (scores.head._2, lit(scores.head._1): Column)) {
      case ((bestScore, bestLang), (lang, score)) =>
        (when(score > bestScore, score).otherwise(bestScore),
          when(score > bestScore, lang).otherwise(bestLang))
    }
    scores.map { case (l, c) => s"score_$l" -> c } :+ ("predicted_lang" -> best._2)
  }

  /** Quality signals: token count, mean token length, stopword ratio,
    * punctuation ratio — and a clamped linear quality score (pure
    * arithmetic; no transcendental functions, so engines agree bit-wise).
    */
  val Stopwords: Seq[String] = Seq("the", "a")

  def qualityColumns(text: Column): Seq[(String, Column)] = {
    val toks = split(trim(text), " +")
    val nTok = size(toks)
    val nChar = length(text)
    val avgLen = (length(concat_ws("", toks)).cast("double") / nTok)
    val stopHits = Stopwords.map(w =>
      regexp_count(lower(text), lit("\\b" + w + "\\b"))).reduce(_ + _)
    val punct = regexp_count(text, lit("[^a-zA-Z0-9\\s]"))
    val stopRatio = stopHits.cast("double") / nTok
    val punctRatio = punct.cast("double") / nChar
    // Rounding.stable, not round(): arbitrary ratios land on decimal-half
    // boundaries where Spark's shortest-repr rounding and binary rounding
    // disagree (observed: 0.37924999999999997602 → 0.3793 vs 0.3792).
    val quality = Rounding.stable(least(lit(1.0), greatest(lit(0.0),
      lit(0.08) * avgLen + lit(0.5) * stopRatio - punctRatio)), 4)
    Seq(
      "n_tokens" -> nTok,
      "avg_token_len" -> Rounding.stable(avgLen, 4),
      "stopword_ratio" -> Rounding.stable(stopRatio, 4),
      "punct_ratio" -> Rounding.stable(punctRatio, 4),
      "quality" -> quality)
  }

  /** Token counting two ways: whitespace split and a BPE-ish regex
    * (letter runs / digit runs / single other-symbols) — the usual
    * pre-tokenizer shape for LLM token estimation.
    */
  def whitespaceTokenCount(text: Column): Column =
    size(split(trim(text), "\\s+"))

  val BpeishPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

  def bpeishTokenCount(text: Column): Column =
    regexp_count(text, lit(BpeishPattern))

  /** Gopher-style repetition signals per document — the filter family
    * large-scale curation applies after exact/near dedup (repetitive
    * boilerplate survives dedup because each copy is unique text):
    * `top_token_frac` (most frequent token's share of all tokens),
    * `top_bigram_frac`, and `dup_bigram_frac` (share of bigram
    * OCCURRENCES beyond each bigram's first — 1 − distinct/total), plus
    * a `repetitive` flag on the rounded signals.
    *
    * Scale shape: one explode of the token stream feeds both gram sizes;
    * bigrams come from `lead` over (doc, pos) — the window and the two
    * hash-aggregates all partition by doc id, and every aggregate
    * map-side combines. Nothing is ever collected per-doc into an array
    * (a HOF over a token array would be CodegenFallback and cap doc
    * size); cost at 100 TB is the token-stream shuffle, bounded by input
    * size. Thresholds operate on the 4-dp stable-rounded fractions so
    * the flag is engine-reproducible.
    *
    * Null-text docs emit no tokens and are ABSENT from the output (the
    * screen has nothing to measure) — callers gating on `repetitive`
    * decide null-text policy upstream. Same convention in [[tfidf]].
    */
  /** The (idCol, w, w2) bigram stream: one token explode, `lead` over
    * (doc, pos) — the window partition is the doc, so the only exchange
    * is the doc-keyed shuffle at any corpus size. Shared by
    * [[repetition]] and the bigram-LM query.
    */
  def bigrams(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "w")))
      .withColumn("w2",
        lead(col("w"), 1).over(Window.partitionBy(col(idCol)).orderBy(col("pos"))))
      .filter(col("w2").isNotNull)
      .select(col(idCol), col("w"), col("w2"))

  def repetition(docs: DataFrame, idCol: String, textCol: String,
      topTokenMax: Double = 0.12, dupBigramMax: Double = 0.05): DataFrame = {
    val tok = docs.select(col(idCol),
      posexplode(split(col(textCol), " ")).as(Seq("pos", "w")))
    val tokc = tok.groupBy(col(idCol), col("w")).agg(count(lit(1)).as("c"))
    val toka = tokc.groupBy(col(idCol))
      .agg(sum("c").as("tot"), max("c").as("mx"))
    val bg = bigrams(docs, idCol, textCol)
      .select(col(idCol), concat_ws(" ", col("w"), col("w2")).as("b"))
    val bgc = bg.groupBy(col(idCol), col("b")).agg(count(lit(1)).as("c"))
    val bga = bgc.groupBy(col(idCol))
      .agg(sum("c").as("tot2"), max("c").as("mx2"), count(lit(1)).as("dst2"))
    val topTok = Rounding.stable(col("mx").cast("double") / col("tot"), 4)
    val dupBg = Rounding.stable(
      lit(1) - col("dst2").cast("double") / col("tot2"), 4)
    // left join: a single-token doc HAS a defined top_token_frac (1.0)
    // and must still flow through the screen — its bigram signals are
    // null and the flag falls back to the token signal alone (an inner
    // join would silently exempt short docs from the gate)
    toka.join(bga, Seq(idCol), "left")
      .select(col(idCol),
        topTok.as("top_token_frac"),
        Rounding.stable(col("mx2").cast("double") / col("tot2"), 4)
          .as("top_bigram_frac"),
        dupBg.as("dup_bigram_frac"),
        (topTok >= topTokenMax ||
          coalesce(dupBg >= dupBigramMax, lit(false))).as("repetitive"))
  }

  /** TF-IDF top-k terms per document. tf = in-doc count / doc tokens;
    * idf is the BM25 rational form `(N − df + 0.5)/(df + 0.5)` — chosen
    * over `ln(N/df)` deliberately: it is order-isomorphic to the log
    * form (both strictly decrease in df), and being pure rational
    * arithmetic it is bit-identical across engines, where `ln` is only
    * correct to the last ulp per-libm and an exact-match oracle would
    * flake at rounding boundaries.
    *
    * Scale shape: (doc, token) counts and doc totals shuffle by doc id
    * with map-side combine; the document-frequency table is |vocab| rows
    * and broadcast, as is the single-row corpus count. The final top-k
    * ranks within a doc's own distinct tokens — the window's partition
    * is the doc, so no global sort exists at any scale.
    */
  def tfidf(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val tokc = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("c"))
    val tot = tokc.groupBy(col(idCol)).agg(sum("c").as("tot"))
    val dfreq = tokc.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n"))
    val scored = tokc.join(tot, Seq(idCol))
      .join(broadcast(dfreq), Seq("token"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf", Rounding.stable(
        (col("c").cast("double") / col("tot")) *
          ((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))), 4))
    val wnd = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("token").asc)
    scored.withColumn("rnk", row_number().over(wnd).cast("int"))
      .filter(col("rnk") <= k)
      .select(col(idCol), col("token"), col("tfidf"), col("rnk"))
  }

  /** Unigram language-model surprisal — the CCNet-style fluency /
    * perplexity filter: train a per-language unigram LM on a reference
    * slice of the corpus (`refPred`), then score every document by its
    * mean per-token negative log-likelihood. Low `nll_bits` = built from
    * tokens common in the reference (fluent); high = rare/unseen tokens
    * (boilerplate, noise, wrong-language) — the signal real curation
    * pipelines threshold on before training.
    *
    * Cross-engine exactness: true NLL sums `ln(total/count)` doubles,
    * whose value depends on summation order — unhashable across engines.
    * Instead each token's log-prob is quantized to the INTEGER bit
    * length `floor(log2 count) = length(bin(count)) - 1` (exact in both
    * engines: a string-length op, no libm), so the per-doc sum is exact
    * integer arithmetic and the ONLY floating point is one final
    * IEEE-determined division `tbits - bits/n`, rounded 4-dp. Same
    * precedent as tfidf's rational idf: order-isomorphic to the real
    * quantity at 1-bit resolution.
    *
    * Scale shape: the LM is a (lang, token) dim of |vocab| rows built
    * from the reference slice with map-side combine — tiny next to the
    * exploded corpus, so AQE broadcasts the scoring join and the only
    * full-size shuffle is the per-doc aggregation; per-language totals
    * are a |langs|-row broadcast. Unseen tokens score weight 0 (maximal
    * surprise); languages with no reference docs are dropped — there is
    * no LM to score them against.
    */
  def lmSurprisal(docs: DataFrame, idCol: String, langCol: String,
      textCol: String, refPred: Column): DataFrame = {
    val toks = docs
      .select(col(idCol), col(langCol), col(textCol), refPred.as("__ref"))
      .select(col(idCol), col(langCol),
        explode(split(col(textCol), " ")).as("token"), col("__ref"))
    def bits(c: Column): Column = (length(bin(c)) - 1).cast("long")
    // one reference-slice pass: the (lang, token) counts are staged
    // and feed BOTH the per-token weights and — summed per
    // language over |vocab| rows — the total-token bit lengths, instead
    // of re-exploding the reference slice for each
    val lmCounts = Stage.share(toks.filter(col("__ref"))
      .groupBy(col(langCol), col("token")).agg(count(lit(1)).as("c")))
    val lm = lmCounts.select(col(langCol), col("token"), bits(col("c")).as("w"))
    val tot = lmCounts.groupBy(col(langCol)).agg(bits(sum(col("c"))).as("tbits"))
    toks.join(lm, Seq(langCol, "token"), "left")
      .groupBy(col(idCol), col(langCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("w"), lit(0L))).cast("long").as("bits"))
      .join(broadcast(tot), Seq(langCol))
      .select(col(idCol), col(langCol), col("n_tokens"),
        Rounding.stable(
          col("tbits") - col("bits").cast("double") / col("n_tokens"), 4)
          .as("nll_bits"))
  }

  /** Positional rolling fingerprint: Σ_i i·v(token_i) mod 1e9+7, where
    * v(t) packs the first two hex chars of md5(t). Order-sensitive (a
    * permuted doc fingerprints differently), md5-stable across engines.
    * `prefixTokens` > 0 fingerprints only the first k tokens — the cheap
    * prefix key used to pre-cluster before full-text comparison.
    */
  def fingerprint(text: Column, prefixTokens: Int = 0): Column = {
    val toks0 = split(text, " ")
    val toks = if (prefixTokens > 0) slice(toks0, 1, prefixTokens) else toks0
    val hashes = transform(toks, t => md5(t))
    val total = aggregate(
      zip_with(sequence(lit(1), size(hashes)), hashes,
        (i, h) => i.cast("long") *
          (ascii(substring(h, 1, 1)) * 256 + ascii(substring(h, 2, 1)))),
      lit(0L), (acc, x) => acc + x)
    pmod(total, lit(1000000007L))
  }

  /** Hashed-linear quality classifier dims: weight-table size (the
    * hashing-trick bucket count) and the integer weight modulus.
    */
  val ClfBuckets = 64
  val ClfWeightMod = 97

  /** Per-token integer weight for [[clfColumns]]: hashing-trick bucket
    * (first 4 md5 hex chars mod [[ClfBuckets]] — engine-stable like
    * every hash here) → a deterministic integer weight in [-48, 48].
    * The affine-mod formula is a stand-in for a trained export: a real
    * deployment replaces this one expression with element_at on a
    * broadcast weight array; bucket → gather → sum stays identical.
    */
  def clfWeight(token: Column): Column =
    (conv(substring(md5(token), 1, 4), 16, 10).cast("long")
      % ClfBuckets * 37 + 11) % ClfWeightMod - 48

  /** fasttext-style model-based quality filter (the CCNet / LLaMA
    * wiki-ref classifier stage): tokens hash into [[ClfBuckets]] weight
    * buckets, INTEGER weights accumulate exactly (no float-order drift
    * across partial aggregation), and only the final length
    * normalization is one IEEE division, stable-rounded to 6 dp —
    * the same exactness discipline as the unigram-LM fluency score.
    * Narrow codegen'd map work: zero shuffle at any corpus size.
    */
  def clfColumns(text: Column, threshold: Double): Seq[(String, Column)] = {
    val toks = split(trim(text), " +")
    val sumW = aggregate(transform(toks, t => clfWeight(t)),
      lit(0L), (acc, x) => acc + x)
    val score = Rounding.stable(
      sumW.cast("double") / (size(toks).cast("double") * ClfWeightMod), 6)
    Seq(
      "n_tokens" -> size(toks),
      "clf_score" -> score,
      "clf_keep" -> (score >= threshold))
  }

  /** PII patterns: (name, regex, replacement token). Written in the
    * common Java-regex ∩ RE2 dialect (char classes, bounded repetition,
    * `\b`, group repetition — no lookaround, no backrefs) so the SAME
    * pattern string runs in Spark's `regexp_count`/`regexp_replace` and
    * the DuckDB oracle's `regexp_extract_all`/`regexp_replace(..., 'g')`.
    */
  val PiiPatterns: Seq[(String, String, String)] = {
    // 0-255 only — "999.1.1.1" is not an address. A dotted run LONGER
    // than 4 octets still redacts its first 4-octet window (leftmost
    // match; `\b` holds between digit and '.'): over-redaction, the
    // right failure mode for a PII screen.
    val octet = "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
    Seq(
      ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
      ("phone", "\\b\\d{3}-\\d{3}-\\d{4}\\b", "<PHONE>"),
      ("ipv4", s"\\b$octet(\\.$octet){3}\\b", "<IPV4>"))
  }

  /** Per-pattern hit counts: ("n_email" -> count, ...). Each pattern is
    * counted on the text AS ALREADY REDACTED by the patterns before it —
    * exactly the substrings [[piiRedact]] replaces — so a phone-shaped
    * run inside an email's local part counts as (part of) the email, not
    * as a phone, and `n_*` always sums to the number of tokens in the
    * redacted output. Still narrow codegen'd map work — the whole screen
    * costs one text scan at any scale.
    */
  def piiCounts(text: Column): Seq[(String, Column)] =
    PiiPatterns.zipWithIndex.map { case ((name, pat, _), i) =>
      val seen = PiiPatterns.take(i).foldLeft(text) { case (c, (_, p, r)) =>
        regexp_replace(c, p, r)
      }
      s"n_$name" -> regexp_count(seen, lit(pat))
    }

  /** Masked text: every PII match replaced by its token, applied in
    * [[PiiPatterns]] order (email first — its local part may contain
    * digits a later numeric pattern would otherwise split).
    */
  def piiRedact(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (_, pat, repl)) =>
      regexp_replace(c, pat, repl)
    }

  /** The DSIR feature stream of a doc: unigrams ++ word bigrams, WITH
    * multiplicity (bag-of-hashed-ngrams counts occurrences, unlike the
    * deduplicated minhash shingles). Built narrowly per row — no
    * posexplode+lead window like [[bigrams]], so gram generation adds
    * zero exchanges at any corpus size. Docs with <2 tokens contribute
    * unigrams only; a null text emits no rows downstream of the explode
    * (absent-from-output, the [[repetition]]/[[tfidf]] convention).
    */
  def dsirGrams(text: Column): Column = dsirGramsFromTokens(split(text, " "))

  /** [[dsirGrams]] over an ALREADY-MATERIALIZED token array column. The
    * bigram lambda references `toks` — if that is an inline
    * `split(text)` tree the HOF re-evaluates the split per bigram
    * (O(tokens²) per doc, the [[winnowStats]] capture trap; measured
    * 5.4 s → 1.6 s at sf0.1 for ta_dsir when staged). [[dsirScores]]
    * stages the tokens as a row field and calls this form; the
    * one-argument [[dsirGrams]] is for bounded fixtures.
    */
  def dsirGramsFromTokens(toks: Column): Column = {
    val n = size(toks)
    val bi = when(n >= 2,
        transform(sequence(lit(1), n - 1), i =>
          concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))
    concat(toks, bi)
  }

  /** Hashing-trick bucket of one n-gram: first 6 md5 hex chars (24 bits,
    * engine-stable like every hash here) mod the bucket count.
    * DuckDB mirror: `('0x' || substr(md5(g),1,6))::BIGINT % buckets`.
    */
  def dsirBucket(gram: Column, buckets: Int): Column =
    pmod(conv(substring(md5(gram), 1, 6), 16, 10).cast("long"),
      lit(buckets.toLong)).cast("int")

  /** DSIR importance weights (Xie et al. 2023, arXiv:2302.03169): score
    * every RAW-pool doc by how much more likely its hashed-ngram bag is
    * under the target-domain model than under the raw model,
    * log w(x) = Σ_g [log p_target(b(g)) − log p_raw(b(g))]. The doc with
    * the highest weight looks most like the trusted target domain —
    * selection then keeps a weight-ranked resample ([[graft.SparkEntry]]
    * `ta_dsir_select`).
    *
    * Exactness discipline (the [[lmSurprisal]] precedent): both models'
    * per-bucket log-probs are quantized to INTEGER bit lengths of the
    * (+1)-Laplace-smoothed counts, so a doc's score is
    * `Σ_g (bits(ct[b]+1) − bits(cr[b]+1)) + n_grams·(bits(totR) − bits(totT))`
    * — exact integer arithmetic end-to-end (`dsir_bits`), no float sum
    * order anywhere, bit-identical in the DuckDB oracle.
    *
    * Scale shape: gram generation is narrow map work; the bucket model
    * is ONE aggregate that map-side-combines to ≤`buckets` rows (a
    * broadcast dim bounded by the hash width, not the vocabulary —
    * staged because the weights and the Laplace totals both
    * read it); scoring is a broadcast join + the per-doc aggregation,
    * the only full-size exchange. Target docs score the model but are
    * not scored themselves (DSIR resamples the raw pool), so every raw
    * gram's bucket is guaranteed present in the model and the scoring
    * join can stay inner.
    *
    * Output: (idCol, n_grams, dsir_bits) over raw-pool docs.
    */
  def dsirScores(docs: DataFrame, idCol: String, textCol: String,
      targetPred: Column, buckets: Int): DataFrame = {
    def bits(c: Column): Column = (length(bin(c)) - 1).cast("long")
    // fan out before the gram explode: `g` feeds BOTH the model build
    // and the scoring pass, so the per-gram md5 kernel runs twice over
    // the scan's partitioning (profiled 2×>0.5 s single-task at sf0.1;
    // identity at scale, see Fan)
    val g = Fan.out(docs)
      .select(col(idCol), targetPred.as("__t"),
        split(col(textCol), " ").as("__toks"))
      .select(col(idCol), col("__t"),
        explode(dsirGramsFromTokens(col("__toks"))).as("g"))
      .select(col(idCol), col("__t"),
        dsirBucket(col("g"), buckets).as("b"))
    val model = Stage.share(g.groupBy(col("b"))
      .agg(sum(when(col("__t"), 1L).otherwise(0L)).as("ct"),
        sum(when(col("__t"), 0L).otherwise(1L)).as("cr")))
    val w = model.select(col("b"),
      (bits(col("ct") + 1) - bits(col("cr") + 1)).as("w"))
    val shift = model.agg(
      (bits(sum(col("cr")) + buckets) - bits(sum(col("ct")) + buckets))
        .as("shift"))
    g.filter(!col("__t"))
      .join(broadcast(w), Seq("b"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(col("w")).cast("long").as("gsum"))
      .crossJoin(broadcast(shift))
      .select(col(idCol), col("n_grams"),
        (col("gsum") + col("n_grams") * col("shift")).as("dsir_bits"))
  }

  /** Word-internal adjacent character pairs WITH multiplicity — the
    * statistic the first BPE merge round ranks (count every "a b"
    * occurrence inside every token; the winning pair becomes the first
    * merge). Built narrowly per row (one flatten of per-token transforms,
    * no window); 1-char tokens contribute nothing. Each pair is the two
    * characters space-joined, the standard merge-table notation.
    */
  def bpePairs(text: Column): Column = {
    val toks = split(text, " ")
    flatten(transform(toks, t => {
      val n = length(t)
      when(n >= 2,
        transform(sequence(lit(1), n - 1), i =>
          concat_ws(" ", t.substr(i, lit(1)), t.substr(i + 1, lit(1)))))
        .otherwise(array().cast("array<string>"))
    }))
  }

  /** ITERATIVE BPE merge learning (Sennrich et al. 2016 — the actual
    * tokenizer-training loop, not just round-1 candidate counting):
    * starting from character symbols, each round counts adjacent-symbol
    * pairs over the word-frequency table, picks the most frequent pair
    * (ties to the lexicographically smaller), and merges every
    * non-overlapping occurrence left-to-right in every word — exactly
    * the greedy single-pass application real BPE trainers run.
    *
    * Words are wrapped-symbol encoded — every symbol framed as
    * `~sym~`, so a word's symbol string is `~c~~h~…` — which makes a
    * plain leftmost non-overlapping `replace(s, "~a~~b~", "~ab~")`
    * EXACTLY the greedy BPE merge pass: a pattern can only match whole
    * symbols (both frames must be present), consecutive occurrences
    * can never share a boundary character (each symbol carries its own
    * frames), and left-to-right non-overlap is the scan order both
    * Spark's and DuckDB's `replace` implement. The vocabulary is
    * lower-cased `[a-z]+` words, so `~` cannot collide with content.
    *
    * Scale shape: training runs over the WORD-FREQUENCY table (vocab
    * rows, not corpus rows) — one corpus-scan aggregate up front, then
    * every round is one narrow pair-explode + one map-side-combined
    * count over the bounded pair domain + ONE argmin-struct row
    * collected driver-side (the kmeans-codebook pattern; loop control
    * only). The per-round symbol re-write is a narrow map over vocab
    * rows with per-round lineage truncation.
    *
    * @return one row per learned merge: (round, left_sym, right_sym,
    *         pair_count), rounds 1..`rounds` (fewer if the pair domain
    *         drains first)
    */
  def bpeMerges(docs: DataFrame, textCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 16, s"rounds must be in [1,16], got $rounds")
    val spark = docs.sparkSession
    val words = docs.filter(col(textCol).isNotNull)
      .select(explode(split(col(textCol), " ")).as("__t"))
      .select(lower(col("__t")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    var syms = Stage.truncate(words.select(
      concat_ws("", transform(split(col("w"), ""),
        c => concat(lit("~"), c, lit("~")))).as("s"),
      col("freq")))
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var drained = false
    for (r <- 1 to rounds if !drained) {
      val pc = syms
        .select(filter(split(col("s"), "~"), x => x =!= "").as("syms"), col("freq"))
        .select(explode(filter(
          zip_with(col("syms"),
            slice(col("syms"), lit(2), greatest(size(col("syms")) - 1, lit(0))),
            (a, b) => struct(a.as("pa"), b.as("pb"))),
          p => p.getField("pb").isNotNull)).as("p"), col("freq"))
        .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
        .agg(sum(col("freq")).as("cnt"))
      // argmax(count) with (pa, pb) ascending tie-break, as ONE bounded
      // min-struct aggregate — never a global sort
      val best = pc.agg(min(struct((-col("cnt")).as("neg"),
        col("pa"), col("pb"))).as("b")).collect()(0)
      if (best.isNullAt(0)) drained = true
      else {
        val b = best.getStruct(0)
        val pa: String = b.getString(1)
        val pb: String = b.getString(2)
        val cnt: Long = -b.getLong(0)
        merges += ((r, pa, pb, cnt))
        // pa/pb are [a-z]+ by construction — literal-safe in the expr
        syms = Stage.truncate(syms.select(
          expr(s"replace(s, '~$pa~~$pb~', '~$pa$pb~')").as("s"), col("freq")))
      }
    }
    import spark.implicits._
    merges.result().toDF("round", "left_sym", "right_sym", "pair_count")
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009 — the standard hybrid-
    * retrieval combiner): two ranked lists over the same id domain fuse
    * by Σ 1/(K + rank), a document missing from one list contributing 0
    * from it. The inputs are already k-bounded rankings (BM25 top-k,
    * dense top-k), so the full-outer join and the final top-k rank are
    * bounded by k₁+k₂ rows regardless of corpus size; the fused rank is
    * the same bounded TopKByScore aggregate every ANN path uses.
    *
    * @param a,b  ranked lists carrying (`idCol`, `aRank`/`bRank`)
    * @return (idCol, aRank, bRank, rrf, rnk) for the fused top `topK`
    */
  def rrfFuse(a: DataFrame, aRank: String, b: DataFrame, bRank: String,
      idCol: String, kConst: Int, topK: Int): DataFrame = {
    val joined = a.select(col(idCol), col(aRank))
      .join(b.select(col(idCol), col(bRank)), Seq(idCol), "full_outer")
    val scored = joined.select(col(idCol), col(aRank), col(bRank),
      Rounding.stable(
        coalesce(lit(1.0) / (col(aRank) + kConst), lit(0.0)) +
          coalesce(lit(1.0) / (col(bRank) + kConst), lit(0.0)), 6).as("rrf"))
    val top = graft.functions.TopK.topKByScore(topK)
    val picked = scored.groupBy()
      .agg(top(col("rrf"), col(idCol)).as("__top"))
      .select(posexplode(col("__top")).as(Seq("pos", "kv")))
      .select(col("kv._2").as(idCol), (col("pos") + 1).cast("int").as("rnk"))
    picked.join(scored, Seq(idCol))
      .select(col(idCol), col(aRank), col(bRank), col("rrf"), col("rnk"))
  }

  /** Tokenizer-training ROUND-TRIP: [[bpeMerges]] learns the merge
    * table, this applies it — every corpus word is re-encoded through
    * the learned merges (the same wrapped-symbol greedy replaces, in
    * learned order) and each document reports its word count, its BPE
    * token count, and the compression the merges bought. The encode
    * runs over the DISTINCT word table (vocab rows) and joins back to
    * the token stream on the word — the standard vocab-compressed
    * tokenization shape; the merge chain itself is `rounds` narrow
    * replaces, no per-round shuffle.
    *
    * @return (docId, n_words, n_bpe_tokens, compression) — words
    *         outside the trainer's [a-z]+ domain are excluded from
    *         both counts, exactly as they were excluded from training
    */
  def bpeEncode(docs: DataFrame, docId: String, textCol: String,
      rounds: Int): DataFrame =
    bpeEncodeWith(docs, docId, textCol, learnedMerges(docs, textCol, rounds))

  /** The ordered learned merge list as driver-side data — a
    * `rounds`-row collect at train time, the form [[bpeEncodeWith]]
    * applies and [[writeBpeMerges]] persists.
    */
  def learnedMerges(docs: DataFrame, textCol: String,
      rounds: Int): Seq[(String, String)] =
    orderedMerges(bpeMerges(docs, textCol, rounds))

  /** Persist a learned BPE merge table as a parquet artifact — the
    * tokenizer-side build-once/apply-many lifecycle that
    * [[graft.operators.Similarity.writeIvfPqIndex]] gives the ANN side
    * (and the reference's cache layer gives API pulls:
    * `src/core/cache.py:42-89`, materialize once, reuse every run): a
    * real pipeline trains the tokenizer ONCE per corpus snapshot and
    * encodes with it on every ingest, so encode must never re-run the
    * `rounds` training scans. The artifact is `rounds` rows — trivially
    * readable into the driver on any later session.
    */
  def writeBpeMerges(docs: DataFrame, textCol: String, rounds: Int,
      dir: String): Unit =
    bpeMerges(docs, textCol, rounds).coalesce(1)
      .write.mode("overwrite").parquet(dir)

  /** Read a [[writeBpeMerges]] artifact back to the driver-side ordered
    * merge list [[bpeEncodeWith]] applies — a `rounds`-row collect.
    */
  def readBpeMerges(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(String, String)] =
    orderedMerges(spark.read.parquet(dir))

  private def orderedMerges(merges: DataFrame): Seq[(String, String)] =
    merges.select(col("round").cast("int"), col("left_sym"), col("right_sym"))
      .collect().sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq

  /** Encode the corpus through an ARTIFACT merge table
    * ([[writeBpeMerges]]) — bit-identical to the inline [[bpeEncode]]
    * (spec-asserted), but the training loop never re-runs: the encode
    * session pays one `rounds`-row parquet read.
    */
  def bpeEncodeFromArtifact(docs: DataFrame, docId: String, textCol: String,
      mergesDir: String): DataFrame =
    bpeEncodeWith(docs, docId, textCol,
      readBpeMerges(docs.sparkSession, mergesDir))

  /** The encode tail shared by [[bpeEncode]] and
    * [[bpeEncodeFromArtifact]]: apply an ordered merge list over the
    * DISTINCT word table and join back.
    */
  def bpeEncodeWith(docs: DataFrame, docId: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(docId), explode(split(col(textCol), " ")).as("__t"))
      .select(col(docId), lower(col("__t")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
    val wrapped = concat_ws("", transform(split(col("w"), ""),
      c => concat(lit("~"), c, lit("~"))))
    val applied = merges.foldLeft(wrapped) { case (s, (pa, pb)) =>
      call_function("replace", s, lit(s"~$pa~~$pb~"), lit(s"~$pa$pb~"))
    }
    val wordSyms = toks.select(col("w")).distinct()
      .select(col("w"),
        size(filter(split(applied, "~"), x => x =!= "")).cast("long").as("n_syms"))
    toks.join(wordSyms, Seq("w"))
      .groupBy(col(docId))
      .agg(count(lit(1)).as("n_words"), sum(col("n_syms")).as("n_bpe_tokens"))
      .select(col(docId), col("n_words"), col("n_bpe_tokens"),
        Rounding.stable(col("n_bpe_tokens").cast("double") / col("n_words"), 4)
          .as("tokens_per_word"))
  }

  /** SQL mirror of [[bpeEncode]]: the [[bpeMergesSql]] round chain with
    * the word identity carried through, then the vocab join-back.
    */
  def bpeEncodeSql(table: String, docId: String, textExpr: String,
      rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""u$r AS (
         |  SELECT syms, freq, UNNEST(range(1, len(syms))) AS i
         |  FROM (SELECT list_filter(string_split(s, '~'), x -> x <> '') AS syms, freq
         |        FROM s${r - 1}) t),
         |e$r AS (SELECT syms[i] AS pa, syms[i + 1] AS pb, freq FROM u$r),
         |p$r AS (SELECT pa, pb, CAST(sum(freq) AS BIGINT) AS cnt FROM e$r GROUP BY 1, 2),
         |b$r AS (SELECT pa, pb, cnt FROM p$r ORDER BY cnt DESC, pa ASC, pb ASC LIMIT 1),
         |s$r AS (SELECT w, replace(s, '~' || pa || '~~' || pb || '~', '~' || pa || pb || '~') AS s, freq
         |        FROM s${r - 1} CROSS JOIN b$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH w0 AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT $docId, lower(unnest(string_split($textExpr, ' '))) AS w
       |        FROM $table WHERE $textExpr IS NOT NULL)
       |  WHERE regexp_matches(w, '^[a-z]+${"$"}')
       |  GROUP BY 1),
       |s0 AS (
       |  SELECT w,
       |         array_to_string(list_transform(string_split(w, ''), c -> '~' || c || '~'), '') AS s,
       |         freq
       |  FROM w0),
       |$roundCtes,
       |enc AS (
       |  SELECT w, CAST(len(list_filter(string_split(s, '~'), x -> x <> '')) AS BIGINT) AS n_syms
       |  FROM s$rounds),
       |dt AS (
       |  SELECT $docId, w FROM (
       |    SELECT $docId, lower(unnest(string_split($textExpr, ' '))) AS w
       |    FROM $table WHERE $textExpr IS NOT NULL)
       |  WHERE regexp_matches(w, '^[a-z]+${"$"}'))
       |SELECT $docId, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(enc.n_syms) AS BIGINT) AS n_bpe_tokens,
       |       ${Rounding.stableSql("sum(enc.n_syms)::DOUBLE / count(*)", 4)} AS tokens_per_word
       |FROM dt JOIN enc USING (w)
       |GROUP BY $docId""".stripMargin
  }

  /** SQL mirror of the tokenizer DRIFT gate: the training round chain
    * runs over `baseSel`'s text only, the learned pairs are then applied
    * to the tagged (base ∪ ingest) union's DISTINCT vocab through a
    * separate ev-chain — so ingest words the trainer never saw still
    * encode (chars + whatever learned merges apply), exactly like
    * [[bpeEncodeWith]] over an artifact — and per-corpus token stats
    * aggregate with the drift delta against base.
    *
    * @param baseSel,ingestSel SELECTs each yielding a `text` column
    */
  def bpeDriftSql(baseSel: String, ingestSel: String, rounds: Int): String = {
    val trainCtes = (1 to rounds).map { r =>
      s"""u$r AS (
         |  SELECT syms, freq, UNNEST(range(1, len(syms))) AS i
         |  FROM (SELECT list_filter(string_split(s, '~'), x -> x <> '') AS syms, freq
         |        FROM s${r - 1}) t),
         |e$r AS (SELECT syms[i] AS pa, syms[i + 1] AS pb, freq FROM u$r),
         |p$r AS (SELECT pa, pb, CAST(sum(freq) AS BIGINT) AS cnt FROM e$r GROUP BY 1, 2),
         |b$r AS (SELECT pa, pb, cnt FROM p$r ORDER BY cnt DESC, pa ASC, pb ASC LIMIT 1),
         |s$r AS (SELECT replace(s, '~' || pa || '~~' || pb || '~', '~' || pa || pb || '~') AS s, freq
         |        FROM s${r - 1} CROSS JOIN b$r)""".stripMargin
    }.mkString(",\n")
    val evCtes = (1 to rounds).map { r =>
      s"""ev$r AS (SELECT w, replace(s, '~' || pa || '~~' || pb || '~', '~' || pa || pb || '~') AS s
         |         FROM ev${r - 1} CROSS JOIN b$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS ($baseSel),
       |ingest AS ($ingestSel),
       |tagged AS (SELECT 'base' AS corpus, text FROM base
       |           UNION ALL SELECT 'ingest', text FROM ingest),
       |w0 AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT lower(unnest(string_split(text, ' '))) AS w
       |        FROM base WHERE text IS NOT NULL)
       |  WHERE regexp_matches(w, '^[a-z]+${"$"}')
       |  GROUP BY 1),
       |s0 AS (
       |  SELECT array_to_string(list_transform(string_split(w, ''), c -> '~' || c || '~'), '') AS s,
       |         freq
       |  FROM w0),
       |$trainCtes,
       |dv AS (
       |  SELECT DISTINCT w FROM (
       |    SELECT lower(unnest(string_split(text, ' '))) AS w
       |    FROM tagged WHERE text IS NOT NULL)
       |  WHERE regexp_matches(w, '^[a-z]+${"$"}')),
       |ev0 AS (
       |  SELECT w,
       |         array_to_string(list_transform(string_split(w, ''), c -> '~' || c || '~'), '') AS s
       |  FROM dv),
       |$evCtes,
       |enc AS (
       |  SELECT w, CAST(len(list_filter(string_split(s, '~'), x -> x <> '')) AS BIGINT) AS n_syms
       |  FROM ev$rounds),
       |dt AS (
       |  SELECT corpus, w FROM (
       |    SELECT corpus, lower(unnest(string_split(text, ' '))) AS w
       |    FROM tagged WHERE text IS NOT NULL)
       |  WHERE regexp_matches(w, '^[a-z]+${"$"}')),
       |per AS (
       |  SELECT corpus, CAST(count(*) AS BIGINT) AS n_words,
       |         CAST(sum(enc.n_syms) AS BIGINT) AS n_bpe_tokens,
       |         ${Rounding.stableSql("sum(enc.n_syms)::DOUBLE / count(*)", 4)} AS tokens_per_word
       |  FROM dt JOIN enc USING (w)
       |  GROUP BY 1)
       |SELECT corpus, n_words, n_bpe_tokens, tokens_per_word,
       |       ${Rounding.stableSql(
               "tokens_per_word - (SELECT tokens_per_word FROM per WHERE corpus = 'base')", 4)} AS tpw_drift
       |FROM per""".stripMargin
  }

  /** SQL mirror of [[bpeMerges]]: the rounds unrolled as CTE stages
    * (the kmeans-oracle pattern), same wrapped-symbol replace.
    */
  def bpeMergesSql(table: String, textExpr: String, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""u$r AS (
         |  SELECT syms, freq, UNNEST(range(1, len(syms))) AS i
         |  FROM (SELECT list_filter(string_split(s, '~'), x -> x <> '') AS syms, freq
         |        FROM s${r - 1}) t),
         |e$r AS (SELECT syms[i] AS pa, syms[i + 1] AS pb, freq FROM u$r),
         |p$r AS (SELECT pa, pb, CAST(sum(freq) AS BIGINT) AS cnt FROM e$r GROUP BY 1, 2),
         |b$r AS (SELECT pa, pb, cnt FROM p$r ORDER BY cnt DESC, pa ASC, pb ASC LIMIT 1),
         |s$r AS (SELECT replace(s, '~' || pa || '~~' || pb || '~', '~' || pa || pb || '~') AS s, freq
         |        FROM s${r - 1} CROSS JOIN b$r)""".stripMargin
    }.mkString(",\n")
    val out = (1 to rounds).map(r =>
      s"SELECT CAST($r AS INT) AS round, pa AS left_sym, pb AS right_sym, cnt AS pair_count FROM b$r")
      .mkString("\nUNION ALL ")
    s"""WITH w0 AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT lower(unnest(string_split($textExpr, ' '))) AS w
       |        FROM $table WHERE $textExpr IS NOT NULL)
       |  WHERE regexp_matches(w, '^[a-z]+${"$"}')
       |  GROUP BY 1),
       |s0 AS (
       |  SELECT array_to_string(list_transform(string_split(w, ''), c -> '~' || c || '~'), '') AS s,
       |         freq
       |  FROM w0),
       |$roundCtes
       |$out""".stripMargin
  }

  /** Winnowing fingerprint columns (Schleimer et al., SIGMOD 2003 — the
    * MOSS selection rule): hash every char k-gram (Karp-Rabin — the
    * paper's own rolling-hash family, [[WinnowBase]]/[[WinnowMod]],
    * exact integers in both engines), then keep the
    * MINIMUM hash of every window of w consecutive k-gram hashes,
    * deduplicated. Guarantee: two docs sharing any substring of length
    * ≥ w + k − 1 share at least one fingerprint — the robust
    * contamination/plagiarism screen that position-sampling (every n-th
    * k-gram) cannot give, at a fingerprint density of ~2/(w+1).
    *
    * Degenerate inputs follow the paper's intent: a doc shorter than k
    * hashes as one whole-text gram; fewer than w hashes yield their
    * single global minimum.
    *
    * All work is narrow per-row map stages (zero shuffle at any corpus
    * size); the summary stats (min/max/sum over the DISTINCT
    * fingerprint set) are order-free exact integers, so per-doc rows
    * hash identically cross-engine without materializing the ~n/w
    * fingerprint rows per doc.
    *
    * STAGED on purpose: the hash array and the fingerprint array are
    * materialized as row fields in their own projections, because a
    * higher-order-function lambda that CAPTURES an outer expression
    * re-evaluates that expression's tree per element — inlining the
    * n-element md5 array into the per-window `slice` lambda turns an
    * O(n·w) pass into O(n²) md5 calls per document (measured as a hang
    * at sf0.1). As row fields the lambda references are bound reads,
    * and CollapseProject keeps the stages separate because the arrays
    * are non-cheap and multiply referenced.
    */
  def winnowStats(docs: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    val (hs, fp) = (col("__hs"), col("__fps"))
    winnowFrame(docs, idCol, textCol, k, w)
      .select(col(idCol),
        size(hs).as("n_kgrams"),
        size(fp).as("n_fps"),
        array_min(fp).as("fp_min"),
        array_max(fp).as("fp_max"),
        aggregate(fp, lit(0L), (acc, x) => acc + x).as("fp_sum"))
  }

  /** BM25 retrieval over a standing query-term set — the eval-set /
    * benchmark-query mining pass (rank the corpus docs most relevant to
    * a benchmark question before a decontamination or citation audit).
    * Standard Robertson scoring with the RATIONAL idf form
    * `(N − df + 0.5)/(df + 0.5)` ([[tfidf]]'s exactness argument: order-
    * isomorphic to the log form, bit-identical across engines).
    *
    * Exactness: each (doc, term) contribution is quantized to integer
    * MICRO-units via `round(x·10⁶)` (both engines round the same
    * product double — the [[Rounding.stable]] construction), the
    * per-doc sum is exact long arithmetic immune to float-fold order,
    * and the reported score is one final division of that integer.
    * Float constants derived from k1/b are interpolated from the SAME
    * Scala doubles into the oracle SQL (shortest-repr round-trip), so
    * `k1+1` cannot diverge from a retyped literal.
    *
    * Scale shape: the term filter rides INSIDE the token array before
    * the explode, so only matching occurrences become rows (candidates,
    * not the corpus); df is a ≤|terms|-row broadcast; the corpus-wide
    * (N, Σdl) pair is one 1-row aggregate from a column-pruned second
    * scan; ranking is the k-bounded aggregate. The only keyed exchange
    * carries the candidate (doc, term) rows.
    *
    * Output: (idCol, bm25, rnk ≤ k), ranked (score DESC, id ASC).
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int, k1: Double, b: Double): DataFrame = {
    val toks = split(col(textCol), " ")
    val termArr = array(terms.map(lit): _*)
    val occ = docs
      .select(col(idCol), size(toks).as("dl"),
        explode(filter(toks, t => array_contains(termArr, t))).as("term"))
    val tf = occ.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val dfDim = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val tot = docs.select(size(toks).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).cast("long").as("tot_dl"))
    val scored = tf.join(broadcast(dfDim), Seq("term"))
      .crossJoin(broadcast(tot))
      .withColumn("idf", (col("n_docs") - col("df") + lit(0.5)) /
        (col("df") + lit(0.5)))
      .withColumn("avgdl", col("tot_dl").cast("double") / col("n_docs"))
      .withColumn("contrib_u",
        round(col("idf") * (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))
          * lit(1e6)).cast("long"))
    val top = graft.functions.TopK.topKByScore(k)
    scored.groupBy(col(idCol))
      .agg(sum(col("contrib_u")).cast("long").as("score_u"))
      .groupBy()
      .agg(top(col("score_u").cast("double"), col(idCol)).as("__top"))
      .select(posexplode(col("__top")))
      .select(col("col._2").as(idCol),
        (col("col._1") / lit(1e6)).as("bm25"),
        (col("pos") + 1).cast("int").as("rnk"))
  }

  /** Karp-Rabin hash parameters for the winnow k-gram hashes — the
    * paper's own rolling-hash family, and ~5× cheaper per position than
    * an md5 round: a k-gram hashes to Σ c_j·B^(k−1−j) mod P over its
    * char codes, pure integer multiply-adds that both engines compute
    * exactly (terms < 256·P, sums < 5·2P — far inside BIGINT).
    */
  val WinnowBase = 131L
  val WinnowMod = 1000000007L

  /** The staged per-doc winnow frame: (idCol, carry..., __hs, __fps) —
    * the [[winnowStats]] summary and the streaming contamination screen
    * ([[graft.streaming.StreamingWinnow]]) both read it. See
    * [[winnowStats]] for why the arrays MUST be row fields: the char
    * codes, the k-gram hashes, and the fingerprints are each
    * materialized before the next stage's lambdas reference them.
    * Degenerate docs (shorter than k, including empty) hash as one
    * whole-text Horner fold — the length-k formula is that fold
    * specialized to k chars, so the scheme is uniform.
    */
  def winnowFrame(docs: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, carry: Seq[String] = Nil): DataFrame = {
    val text = col(textCol)
    val keep = col(idCol) +: carry.map(col)
    val hs = col("__hs")
    if (winnowNativeKernels) {
      // Codegen'd rolling Karp-Rabin (O(n) per doc vs the HOF form's
      // O(n·k) re-summed k-grams) + one-pass window minima. Hash values
      // are the same residues, so __hs/__fps are bit-identical to the
      // fallback and the oracle; array_distinct stays the BUILTIN so
      // fingerprint order/dedup semantics cannot drift.
      val fps = array_distinct(call_function("window_minima", hs, lit(w)))
      docs.filter(text.isNotNull)
        .select(keep :+
          call_function("karp_rabin_hashes", text, lit(k)).as("__hs"): _*)
        .select(keep ++ Seq(hs, fps.as("__fps")): _*)
    } else {
      val n = length(text)
      val chars = transform(sequence(lit(1), n), i =>
        ascii(text.substr(i, lit(1))).cast("long"))
      val cs = col("__cs")
      // pow(j) = B^j mod P, a k-entry plan-time constant table
      val pow = Array.iterate(1L, k)(x => x * WinnowBase % WinnowMod)
      def kHash(i: Column): Column =
        (0 until k).map(j =>
            element_at(cs, i + j) * lit(pow(k - 1 - j)) % lit(WinnowMod))
          .reduce((a, b) => (a + b) % lit(WinnowMod))
      val hashes = when(size(cs) >= k,
          transform(sequence(lit(1), size(cs) - (k - 1)), i => kHash(i)))
        .otherwise(array(aggregate(cs, lit(0L),
          (acc, c) => (acc * WinnowBase + c) % WinnowMod)))
      // per-window minimum as least() over w bound reads — no per-window
      // slice allocation (~13% off the st13 scan vs array_min(slice))
      val fps = array_distinct(
        when(size(hs) >= w,
          transform(sequence(lit(1), size(hs) - (w - 1)), j =>
            least((0 until w).map(o => element_at(hs, j + o)): _*)))
        .otherwise(array(array_min(hs))))
      docs.filter(text.isNotNull)
        .select(keep :+ chars.as("__cs"): _*)
        .select(keep :+ hashes.as("__hs"): _*)
        .select(keep ++ Seq(hs, fps.as("__fps")): _*)
    }
  }

  /** Same fallback discipline as Similarity's vector kernels: native
    * when GraftExtensions is registered, staged HOFs otherwise.
    */
  private def winnowNativeKernels: Boolean =
    org.apache.spark.sql.SparkSession.getActiveSession
      .exists(_.catalog.functionExists("karp_rabin_hashes"))
}
