package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.queries.Shared._

/** Multimodal (mm_*): video frame and audio segment payloads, their
  * signatures, near-dup and cluster screens, and the per-format profile.
  */
private[graft] object MmQueries {

  private val Cfg = PipelineConfig.Default

  /** Corpus-wide video frame-dup rollup (mm_frame_dedup, and the video
    * signal of e9_av_curation): per-frame perceptual-hash signatures →
    * one min-struct aggregate elects each signature's canonical
    * occurrence → join-back marks duplicates → per-doc duplicated-frame
    * fraction + keep verdict under `mmDupFrameMax`.
    */
  private def videoDupRollup(s: SparkSession, dir: String): DataFrame =
    videoDupRollupFrom(Multimodal.attachVideoPayload(
      Tables.documents(s, dir), Cfg.paraBlockTokens))

  /** Verified video near-dup pairs over frameSigPostCtes' postings —
    * the sh (shared-count) + verified (containment cut) chain shared by
    * the cluster and split-leakage oracles.
    */
  private def videoVerifiedPairCtes: String = {
    val contain = Rounding.stableSql(
      "shared_frames::DOUBLE / least(nf_a, nf_b)", 4)
    s"""sh AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |              CAST(count(*) AS BIGINT) AS shared_frames
       |       FROM post a JOIN post b USING (frame_sig)
       |       WHERE a.doc_id < b.doc_id
       |       GROUP BY 1, 2
       |       HAVING count(*) >= ${Cfg.videoMinShared}),
       |verified AS (
       |  SELECT doc_a, doc_b
       |  FROM (SELECT doc_a, doc_b, shared_frames, na.nf AS nf_a, nb.nf AS nf_b
       |        FROM sh JOIN nf na ON na.doc_id = sh.doc_a
       |                JOIN nf nb ON nb.doc_id = sh.doc_b)
       |  WHERE $contain >= ${Cfg.videoContainMin})""".stripMargin
  }

  /** mm_frame_neardup's oracle: base frame sigs + the re-encode
    * arrivals (char-2 nibble-XOR-1 translate ≡ the plan's payload
    * low-bit flip), distinct-signature banding with the hot-cell cap,
    * candidate equi-join, exact Hamming verify over packed codes
    * rebuilt nibble-by-nibble on the BIGINT path (the value spans 56
    * bits — a double-typed sum would round past 2^53).
    */
  private def frameNearDupSql: String = {
    val bands = Cfg.frameSigBands
    // mirror frameNearDupPairs' requires at SQL-generation time so the
    // two sides can never be built from an inconsistent config
    require(bands >= 2 && 14 % bands == 0,
      s"frameNearDupSql: bands must split the 14 hex chars evenly, got $bands")
    require(Cfg.frameSigMaxHamming >= 1 && Cfg.frameSigMaxHamming < bands,
      s"frameNearDupSql: need 1 <= maxHamming < bands, got " +
        s"${Cfg.frameSigMaxHamming} / $bands")
    val width = 14 / bands
    val sigCode =
      """CAST(list_sum(list_transform(range(1, 15), i ->
        |          CAST(CASE WHEN ascii(substr(frame_sig, i, 1)) >= 97
        |                    THEN ascii(substr(frame_sig, i, 1)) - 87
        |                    ELSE ascii(substr(frame_sig, i, 1)) - 48 END AS BIGINT)
        |          << (4 * (14 - i)))) AS BIGINT)""".stripMargin
    s"""WITH ${frameBlockCtes(Cfg.paraBlockTokens)},
       |$FrameSigCte,
       |rs AS (SELECT doc_id + 4000000 AS doc_id, frame_id,
       |              substr(frame_sig, 1, 1)
       |                || translate(substr(frame_sig, 2, 1),
       |                             '0123456789abcdef', '1032547698badcfe')
       |                || substr(frame_sig, 3, 12) AS frame_sig
       |       FROM vs WHERE doc_id % 10 = 0),
       |ds AS (SELECT DISTINCT doc_id, frame_sig FROM
       |        (SELECT doc_id, frame_sig FROM vs
       |         UNION ALL SELECT doc_id, frame_sig FROM rs)),
       |sd AS (SELECT frame_sig, CAST(count(*) AS BIGINT) AS df
       |       FROM ds GROUP BY frame_sig),
       |bd AS (SELECT frame_sig, t.b AS band_id,
       |              substr(frame_sig, t.b * $width + 1, $width) AS band_val
       |       FROM sd CROSS JOIN (SELECT unnest(range(0, $bands)) AS b) t),
       |ok AS (SELECT band_id, band_val FROM bd GROUP BY 1, 2
       |       HAVING count(*) <= ${Cfg.frameSigBucketCap}),
       |bb AS (SELECT bd.* FROM bd JOIN ok USING (band_id, band_val)),
       |cd AS (SELECT DISTINCT a.frame_sig AS sig_a, b.frame_sig AS sig_b
       |       FROM bb a JOIN bb b USING (band_id, band_val)
       |       WHERE a.frame_sig < b.frame_sig),
       |sc AS (SELECT frame_sig, $sigCode AS code FROM sd),
       |hp AS (SELECT sig_a, sig_b,
       |              CAST(bit_count(xor(ca.code, cb.code)) AS INT) AS hamming
       |       FROM cd JOIN sc ca ON ca.frame_sig = cd.sig_a
       |               JOIN sc cb ON cb.frame_sig = cd.sig_b)
       |SELECT sig_a, sig_b, hamming, da.df AS df_a, db.df AS df_b
       |FROM hp JOIN sd da ON da.frame_sig = hp.sig_a
       |        JOIN sd db ON db.frame_sig = hp.sig_b
       |WHERE hamming <= ${Cfg.frameSigMaxHamming}""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // Multimodal plumbing: binary payload + typed metadata, per-partition
    // lazily-initialized (stub) decoder via mapPartitions.
    QueryDef("mm_features", (s, dir) =>
      Multimodal.extractFeatures(Multimodal.attachPayload(
        Tables.documents(s, dir))),
      oracle = """WITH m AS (SELECT doc_id, md5(text) AS mx FROM documents),
        |hv AS (
        |  SELECT doc_id,
        |         list_transform(range(1, 33), i ->
        |           CASE WHEN ascii(substr(mx, i, 1)) >= 97
        |                THEN ascii(substr(mx, i, 1)) - 87
        |                ELSE ascii(substr(mx, i, 1)) - 48 END) AS nib
        |  FROM m)
        |SELECT doc_id,
        |       CAST(32 + (doc_id % 8) * 16 AS INT) AS width,
        |       CAST(32 + (doc_id % 5) * 16 AS INT) AS height,
        |       CASE WHEN doc_id % 3 = 0 THEN 'png'
        |            WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE 'webp' END AS format,
        |       CAST(16 AS INT) AS n_bytes,
        |       list_sum(list_transform(range(1, 17), k -> nib[2*k-1] * 16 + nib[2*k]))::DOUBLE / 16 AS brightness,
        |       CAST(greatest(1, ((32 + (doc_id % 8) * 16) * 64) // greatest(32 + (doc_id % 8) * 16, 32 + (doc_id % 5) * 16)) AS INT) AS resized_w,
        |       CAST(greatest(1, ((32 + (doc_id % 5) * 16) * 64) // greatest(32 + (doc_id % 8) * 16, 32 + (doc_id % 5) * 16)) AS INT) AS resized_h,
        |       CAST(doc_id % 4 AS INT) AS frame_id,
        |       CAST(list_sum(list_transform(range(4 * (doc_id % 4) + 1, 4 * (doc_id % 4) + 5), k -> nib[2*k-1] * 16 + nib[2*k])) AS BIGINT) AS frame_byte_sum
        |FROM hv""".stripMargin),

    // Frame sampling with keyframe selection: the mapPartitions decoder
    // FANS OUT one row per (doc, frame) — RAGGED, 1..4 rows per doc
    // derived from the payload's first byte (the decoder's
    // scene-variance probe), so the plan is exercised on the skewed
    // shape real video ingestion produces, not a fixed 4× multiplier.
    // No shuffle until the per-doc keyframe rank, whose window
    // partition is the doc's own ≤4 frame rows.
    QueryDef("mm_frames", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val frames = Multimodal.sampleFrames(Multimodal.attachPayload(
        Tables.documents(s, dir)))
      val wnd = Window.partitionBy(col("doc_id"))
        .orderBy(col("frame_sum").desc, col("frame_id").asc)
      frames.withColumn("is_key", row_number().over(wnd) === 1)
    },
      oracle = """WITH m AS (SELECT doc_id, md5(text) AS mx FROM documents),
        |hv AS (
        |  SELECT doc_id,
        |         list_transform(range(1, 33), i ->
        |           CASE WHEN ascii(substr(mx, i, 1)) >= 97
        |                THEN ascii(substr(mx, i, 1)) - 87
        |                ELSE ascii(substr(mx, i, 1)) - 48 END) AS nib
        |  FROM m),
        |nf AS (SELECT doc_id, nib, 1 + ((nib[1] * 16 + nib[2]) % 4) AS n_frames FROM hv),
        |f AS (SELECT doc_id, nib, unnest(range(0, n_frames)) AS fid FROM nf),
        |s AS (
        |  SELECT doc_id, CAST(fid AS INT) AS frame_id,
        |         CAST(list_sum(list_transform(range(4 * fid + 1, 4 * fid + 5),
        |              k -> nib[2*k-1] * 16 + nib[2*k])) AS BIGINT) AS frame_sum
        |  FROM f)
        |SELECT doc_id, frame_id, frame_sum,
        |       row_number() OVER (PARTITION BY doc_id ORDER BY frame_sum DESC, frame_id ASC) = 1 AS is_key
        |FROM s""".stripMargin),

    // MM frame-level dedup — exact dedup lifted to the multimodal
    // plane: videos decode (per-partition stub decoder, ragged
    // length-derived fan-out) into per-frame perceptual-hash
    // signatures; one min-struct aggregate elects the corpus-wide
    // canonical occurrence of each signature (partial agg absorbs a
    // frame repeated across millions of videos — the black-frame /
    // intro-card hot key a window-rank form would sort in one
    // partition); the join-back marks non-canonical frames and a
    // per-doc rollup emits the duplicated-frame fraction + the keep
    // verdict (drop re-used-footage-dominated uploads). Cross-doc
    // overlap is REAL in the fixture: shared boilerplate blocks become
    // shared frames, so fractions land strictly between 0 and 1.
    QueryDef("mm_frame_dedup", (s, dir) => videoDupRollup(s, dir),
      // Frame dedup: the payload bytes are md5-per-block by construction,
      // so the oracle never touches binary — frame_sig ≡ the first 14 hex
      // chars of the block md5, canonical election ≡ row_number over
      // (doc_id, frame_id), the min-struct's lexicographic order.
      oracle = {
        val frac = Rounding.stableSql("n_dup::DOUBLE / n_frames", 4)
        s"""WITH ${frameBlockCtes(Cfg.paraBlockTokens)},
           |$FrameSigCte,
           |vr AS (SELECT *, row_number() OVER (PARTITION BY frame_sig
           |                                    ORDER BY doc_id, frame_id) AS rn
           |       FROM vs),
           |vd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
           |              CAST(count(CASE WHEN rn > 1 THEN 1 END) AS BIGINT) AS n_dup
           |       FROM vr GROUP BY doc_id)
           |SELECT doc_id, n_frames, n_dup, $frac AS dup_frac,
           |       $frac < ${Cfg.mmDupFrameMax} AS keep
           |FROM vd""".stripMargin
      }),

    // MM video near-dup PAIRS — the pair form of the frame plane
    // (mm_frame_dedup answers "how much of THIS video is re-used";
    // this answers "WHICH uploads re-use each other"): distinct
    // (video, frame-sig) postings, df-capped exactly like
    // dedup_containment's inverted index (a boilerplate frame in
    // hundreds of uploads is dropped from pair generation — its
    // bucket is the all-pairs blowup), sig-bucket self-join a<b,
    // shared-count aggregate, containment = shared / smaller video's
    // DISTINCT-signature count (set semantics; the right asymmetry
    // for a clip cut from a longer video), verdict at videoContainMin.
    QueryDef("mm_video_neardup", (s, dir) => {
      val sigs = Multimodal.frameSignatures(Multimodal.attachVideoPayload(
        Tables.documents(s, dir), Cfg.paraBlockTokens))
      Multimodal.videoNearDupPairs(sigs, dfCap = Cfg.videoSigDfCap,
        minShared = Cfg.videoMinShared.toLong,
        containMin = Cfg.videoContainMin)
    },
      // Video near-dup pairs: the df-capped inverted-index pair pipeline
      // re-derived relationally over the block-md5 frame signatures.
      oracle = {
        val contain = Rounding.stableSql(
          "shared_frames::DOUBLE / least(nf_a, nf_b)", 4)
        s"""WITH ${frameBlockCtes(Cfg.paraBlockTokens)},
           |$FrameSigCte,
           |${frameSigPostCtes(Cfg.videoSigDfCap)},
           |sh AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |              CAST(count(*) AS BIGINT) AS shared_frames
           |       FROM post a JOIN post b USING (frame_sig)
           |       WHERE a.doc_id < b.doc_id
           |       GROUP BY 1, 2
           |       HAVING count(*) >= ${Cfg.videoMinShared}),
           |j AS (SELECT doc_a, doc_b, shared_frames,
           |             na.nf AS nf_a, nb.nf AS nf_b
           |      FROM sh JOIN nf na ON na.doc_id = sh.doc_a
           |              JOIN nf nb ON nb.doc_id = sh.doc_b)
           |SELECT doc_a, doc_b, shared_frames, nf_a, nf_b,
           |       $contain AS containment,
           |       $contain >= ${Cfg.videoContainMin} AS is_neardup
           |FROM j""".stripMargin
      }),

    // MM Hamming-tolerant frame near-dup — the gap exact-signature
    // matching leaves open (mm_frame_dedup / mm_video_neardup join on
    // sig EQUALITY, so a 1-bit pHash flip from a re-encode splits a
    // duplicate frame pair): the banded-Hamming candidate discipline
    // (binaryBands / dedup_simhash_pairs) applied to the 56-bit frame
    // signature — 2 substring bands of 28 bits, candidates by
    // (band, slice) equi-join over DISTINCT signatures, exact
    // XOR+popcount verify on the packed codes, hot band cells dropped
    // whole. Pigeonhole-complete at radius 1. The fixture makes the
    // tolerance REAL: ids %10==0 re-upload with re-encode noise
    // (payload low-bit flip per frame -> every derived signature at
    // Hamming exactly 1 from its source), so each emitted pair is a
    // frame equality would have missed.
    QueryDef("mm_frame_neardup", (s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
      val re = Multimodal.attachReencodedPayload(
        docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + lit(4000000L)).as("doc_id"), col("text")),
        Cfg.paraBlockTokens)
      val sigs = Multimodal.frameSignatures(
        Multimodal.attachVideoPayload(docs, Cfg.paraBlockTokens)
          .unionByName(re))
      Multimodal.frameNearDupPairs(sigs, bands = Cfg.frameSigBands,
        maxHamming = Cfg.frameSigMaxHamming,
        bucketCap = Cfg.frameSigBucketCap)
    },
      // Hamming-tolerant frame near-dup: perturbed re-upload sigs are the
      // source sigs with hex char 2 nibble-XOR-1 translated (the payload
      // low-bit flip lands entirely in that nibble); banding, bucket cap,
      // candidate join and packed-code XOR popcount mirror the plan. The
      // signature code is rebuilt on the INTEGER path (nibble << shift,
      // summed as BIGINT — a double intermediate would lose bits past
      // 2^53).
      oracle = frameNearDupSql),

    // MM video dup CLUSTERS — the canonicalization step after pair
    // generation, lifted to the video plane: near-dup verdict pairs
    // feed the same bounded label-propagation loop as dedup_clusters
    // (connected components, label = component-min doc_id — keeping
    // one upload per re-use group needs the transitive closure, since
    // a re-cut links two originals through itself even when they never
    // share a frame directly). Nodes = every doc with a payload, so
    // non-duplicated uploads keep their own id as cluster_id.
    QueryDef("mm_video_clusters", (s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
      val sigs = Multimodal.frameSignatures(
        Multimodal.attachVideoPayload(docs, Cfg.paraBlockTokens))
      val pairs = Multimodal.videoNearDupPairs(sigs,
          dfCap = Cfg.videoSigDfCap, minShared = Cfg.videoMinShared.toLong,
          containMin = Cfg.videoContainMin)
        .filter(col("is_neardup")).select(col("doc_a"), col("doc_b"))
      Dedup.duplicateClusters(docs.select(col("doc_id").as("id")), pairs)
        .select(col("id").as("doc_id"), col("label").as("cluster_id"))
    },
      // Video dup clusters: the near-dup pair CTEs + the same recursive
      // reachability walk as dedup_clusters (min over reachable labels =
      // the label-propagation fixpoint).
      oracle = {
        s"""WITH RECURSIVE ${frameBlockCtes(Cfg.paraBlockTokens)},
           |$FrameSigCte,
           |${frameSigPostCtes(Cfg.videoSigDfCap)},
           |$videoVerifiedPairCtes,
           |nodes AS (SELECT doc_id FROM vt),
           |edges AS (
           |  SELECT doc_a AS a, doc_b AS b FROM verified
           |  UNION ALL SELECT doc_b, doc_a FROM verified),
           |walk(node, lab) AS (
           |  SELECT doc_id, doc_id FROM nodes
           |  UNION
           |  SELECT e.b, w.lab FROM walk w JOIN edges e ON e.a = w.node)
           |SELECT node AS doc_id, CAST(min(lab) AS BIGINT) AS cluster_id
           |FROM walk GROUP BY node""".stripMargin
      }),

    // MM cross-modal split leakage — ta_split_leakage lifted to the
    // video plane: a held-out video sharing frames with a training
    // video leaks evaluation signal even when their TEXT never banded
    // (re-used footage under different captions is exactly what the
    // n-gram screen misses). Verified frame near-dup pairs grouped by
    // the unordered split pair their endpoints' stable content-keyed
    // hash slots land in; off-diagonal rows = frame-level train/test
    // contamination. Cost = the df-capped pair generation (never
    // all-pairs) + one tiny aggregate.
    QueryDef("mm_split_leakage", (s, dir) => {
      val sigs = Multimodal.frameSignatures(Multimodal.attachVideoPayload(
        Tables.documents(s, dir), Cfg.paraBlockTokens))
      val pairs = Multimodal.videoNearDupPairs(sigs,
          dfCap = Cfg.videoSigDfCap, minShared = Cfg.videoMinShared.toLong,
          containMin = Cfg.videoContainMin)
        .filter(col("is_neardup")).select(col("doc_a"), col("doc_b"))
      val sa = Sampling.splitAssign(col("doc_a"),
        Cfg.splitTrainPct, Cfg.splitValPct)
      val sb = Sampling.splitAssign(col("doc_b"),
        Cfg.splitTrainPct, Cfg.splitValPct)
      pairs
        .select(least(sa, sb).as("split_lo"), greatest(sa, sb).as("split_hi"))
        .groupBy(col("split_lo"), col("split_hi"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("leaks", col("split_lo") =!= col("split_hi"))
    },
      // Video-plane split leakage: the verified pair CTEs + the same
      // unordered-split-pair rollup as ta_split_leakage.
      oracle = {
        val sa = graft.operators.Sampling.splitSql("doc_a",
          Cfg.splitTrainPct, Cfg.splitValPct)
        val sb = graft.operators.Sampling.splitSql("doc_b",
          Cfg.splitTrainPct, Cfg.splitValPct)
        s"""WITH ${frameBlockCtes(Cfg.paraBlockTokens)},
           |$FrameSigCte,
           |${frameSigPostCtes(Cfg.videoSigDfCap)},
           |$videoVerifiedPairCtes,
           |sp AS (
           |  SELECT least(($sa), ($sb)) AS split_lo,
           |         greatest(($sa), ($sb)) AS split_hi
           |  FROM verified)
           |SELECT split_lo, split_hi, CAST(count(*) AS BIGINT) AS n_pairs,
           |       split_lo <> split_hi AS leaks
           |FROM sp GROUP BY 1, 2""".stripMargin
      }),

    // MM modality-mix profile — the per-format corpus report a
    // multimodal ingest writes next to its manifest: doc counts, mean
    // image brightness, total/ragged video frame mass, mean
    // duplicated-frame fraction, mean speech fraction. Averages take
    // the INTEGER PATH for cross-engine hash identity: brightness×16
    // and frac×10⁴ are exact integers by construction (mean-of-16
    // bytes; 4-dp-rounded ratios), so both engines sum longs and
    // divide once — never a float-accumulation order dependence. One
    // format-keyed 3-row aggregate after three doc-keyed joins.
    QueryDef("mm_profile", (s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
      val feat = Multimodal.extractFeatures(Multimodal.attachPayload(docs))
        .select(col("doc_id"), col("format"), col("brightness"))
      // shared payload staged as in e9 (measured 1.39 → 1.25 s)
      val pay = Stage.share(Multimodal.attachVideoPayload(docs, Cfg.paraBlockTokens))
      val vid = videoDupRollupFrom(pay)
        .select(col("doc_id"), col("n_frames"), col("dup_frac"))
      val aud = speechFracPerDoc(pay)
      feat.join(vid, Seq("doc_id")).join(aud, Seq("doc_id"))
        .groupBy(col("format"))
        .agg(count(lit(1)).as("n_docs"),
          Rounding.stable(
            sum((col("brightness") * 16).cast("long")).cast("double") /
              (count(lit(1)) * 16), 4).as("avg_brightness"),
          sum(col("n_frames")).as("total_frames"),
          Rounding.stable(
            sum(round(col("dup_frac") * 10000).cast("long")).cast("double") /
              (count(lit(1)) * 10000), 4).as("avg_dup_frac"),
          Rounding.stable(
            sum(round(col("speech_frac") * 10000).cast("long")).cast("double") /
              (count(lit(1)) * 10000), 4).as("avg_speech_frac"))
    },
      // Modality-mix profile: per-format aggregates over the three
      // signals, all averages on the INTEGER path (byte sums; 4-dp
      // micro-units) so both engines sum longs and divide once.
      oracle = {
        val dupFrac = Rounding.stableSql("n_dup::DOUBLE / n_frames", 4)
        val speechFrac = Rounding.stableSql(
          s"count(CASE WHEN energy >= ${Cfg.audioEnergyThreshold} THEN 1 END)::DOUBLE / count(*)", 4)
        val avgBright = Rounding.stableSql(
          "sum(bsum)::DOUBLE / (count(*) * 16)", 4)
        val avgDup = Rounding.stableSql(
          "sum(CAST(round(dup_frac * 10000) AS BIGINT))::DOUBLE / (count(*) * 10000)", 4)
        val avgSpeech = Rounding.stableSql(
          "sum(CAST(round(speech_frac * 10000) AS BIGINT))::DOUBLE / (count(*) * 10000)", 4)
        s"""WITH ${frameBlockCtes(Cfg.paraBlockTokens)},
           |$FrameSigCte,
           |vr AS (SELECT *, row_number() OVER (PARTITION BY frame_sig
           |                                    ORDER BY doc_id, frame_id) AS rn
           |       FROM vs),
           |vd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
           |              CAST(count(CASE WHEN rn > 1 THEN 1 END) AS BIGINT) AS n_dup
           |       FROM vr GROUP BY doc_id),
           |vf AS (SELECT doc_id, n_frames, $dupFrac AS dup_frac FROM vd),
           |ae AS (SELECT doc_id, CAST($NibbleSumSql AS BIGINT) AS energy FROM vm),
           |af AS (SELECT doc_id, $speechFrac AS speech_frac
           |       FROM ae GROUP BY doc_id),
           |br AS (SELECT doc_id, CAST($NibbleSumSql AS BIGINT) AS bsum
           |       FROM (SELECT doc_id, md5(text) AS mx
           |             FROM documents WHERE text IS NOT NULL)),
           |j AS (SELECT br.doc_id,
           |             -- ((x%3)+3)%3 ≡ Spark's pmod (ADVICE r19): DuckDB's
           |             -- % is sign-preserving, so a negative doc_id would
           |             -- otherwise map to a different format key
           |             CASE WHEN ((br.doc_id % 3) + 3) % 3 = 0 THEN 'png'
           |                  WHEN ((br.doc_id % 3) + 3) % 3 = 1 THEN 'jpeg'
           |                  ELSE 'webp' END AS format,
           |             br.bsum, vf.n_frames, vf.dup_frac, af.speech_frac
           |      FROM br JOIN vf USING (doc_id) JOIN af USING (doc_id))
           |SELECT format, CAST(count(*) AS BIGINT) AS n_docs,
           |       $avgBright AS avg_brightness,
           |       CAST(sum(n_frames) AS BIGINT) AS total_frames,
           |       $avgDup AS avg_dup_frac,
           |       $avgSpeech AS avg_speech_frac
           |FROM j GROUP BY format""".stripMargin
      }),

    // Audio activity segmentation (the VAD / silence-trim pre-step of
    // an audio training pipeline): payloads decode (per-partition stub
    // decoder, ragged length-derived fan-out) into per-16-sample-window
    // byte-energies; a threshold flags each window speech/silence; a
    // gaps-and-islands pass folds consecutive same-flag windows into
    // maximal segments with start / length / total energy. The island
    // id is the RUNNING FLAG-CHANGE COUNT (null-safe lag ≠ + running
    // sum) rather than the window_id − per-flag-rank difference: every
    // window function then partitions by doc_id alone, the downstream
    // groupBy is co-partitioned with it (hash(doc_id) satisfies the
    // (doc_id, flag, isl) clustering), and the change count IS the
    // 1-based segment id — ONE exchange + one per-doc sort end to end,
    // vs three partitionings for the rank form. Per-doc state is
    // bounded by the doc's own window count — skew-free at any scale.
    QueryDef("mm_audio_segments", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wins = Multimodal.audioWindows(Multimodal.attachAudioPayload(
          Tables.documents(s, dir), Cfg.paraBlockTokens))
        .withColumn("is_speech",
          col("energy") >= lit(Cfg.audioEnergyThreshold.toLong))
      val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("window_id"))
      wins
        .withColumn("chg",
          when(!(lag(col("is_speech"), 1).over(byDoc) <=> col("is_speech")),
            lit(1L)).otherwise(lit(0L)))
        .withColumn("isl", sum(col("chg")).over(byDoc))
        .groupBy(col("doc_id"), col("is_speech"), col("isl"))
        .agg(min(col("window_id")).as("start_window"),
          count(lit(1)).as("n_windows"),
          sum(col("energy")).as("seg_energy"))
        .select(col("doc_id"), col("isl").cast("int").as("seg_id"),
          col("is_speech"), col("start_window"),
          col("n_windows"), col("seg_energy"))
    },
      // Audio segmentation: the payload windows are md5-per-block by
      // construction, so window energy ≡ the unsigned-byte sum of the
      // block md5 (decoded nibble-pairwise: odd hex chars weigh 16);
      // the islands fold with the running flag-change count (null-safe
      // lag inequality + running sum), which doubles as the segment id.
      oracle = audioSegmentsSql),

    // MM audio near-dup pairs — clip-reuse detection, completing the
    // modality symmetry (video had both segmentation and re-use
    // detection; audio had only segmentation): window-energy DELTAS
    // shingled 3 at a time are the acoustic fingerprint (chromaprint's
    // shape — gain-invariant, computed inside the row with zero
    // shuffle), then the same df-capped inverted-index pair pipeline
    // as mm_video_neardup on the fingerprint key. The fixture makes
    // clip re-use real: ids %10==0 re-upload their first 6 analysis
    // windows under id +5e6, reproducing the source's delta sequence
    // exactly — containment lands on the clip side (the correct
    // asymmetry), while documents under shingle+1 windows emit no
    // fingerprints and stay out of the pair table.
    QueryDef("mm_audio_neardup", (s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
      val clipTokens = Cfg.audioClipWindows * Cfg.paraBlockTokens
      val clips = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(5000000L)).as("doc_id"),
          concat_ws(" ",
            slice(split(col("text"), " "), 1, clipTokens)).as("text"))
      val fps = Multimodal.audioFingerprints(
        Multimodal.attachAudioPayload(
          docs.select(col("doc_id"), col("text")).unionByName(clips),
          Cfg.paraBlockTokens),
        Cfg.audioFpShingle)
      Multimodal.audioNearDupPairs(fps, dfCap = Cfg.videoSigDfCap,
        minShared = Cfg.videoMinShared.toLong,
        containMin = Cfg.videoContainMin)
    },
      // Audio near-dup pairs: the delta-shingle fingerprint CTE feeding
      // the same df-capped pair pipeline as mm_video_neardup.
      // The fingerprint is rebuilt relationally — base docs plus the %10
      // clip re-uploads (first audioClipWindows token-blocks under
      // doc_id+5e6) share one token→block→md5→energy chain
      // (audioSegmentsSql's arithmetic), consecutive window-energy
      // deltas shingled audioFpShingle at a time into ':'-joined keys.
      oracle = {
        val b = Cfg.paraBlockTokens
        val clipTokens = Cfg.audioClipWindows * b
        val sh = Cfg.audioFpShingle
        val contain = Rounding.stableSql(
          "shared_fps::DOUBLE / least(nfp_a, nfp_b)", 4)
        s"""WITH bt AS (SELECT doc_id, string_split(text, ' ') AS tv
           |            FROM documents WHERE text IS NOT NULL),
           |ut AS (SELECT doc_id, tv FROM bt
           |       UNION ALL
           |       SELECT doc_id + 5000000 AS doc_id, tv[1:$clipTokens] AS tv
           |       FROM bt WHERE doc_id % 10 = 0),
           |ue AS (SELECT doc_id, tv,
           |              UNNEST(generate_series(0, (len(tv) - 1) // $b)) AS wid
           |       FROM ut),
           |um AS (SELECT doc_id, CAST(wid AS INT) AS window_id,
           |              md5(array_to_string(tv[wid*$b+1 : wid*$b+$b], ' ')) AS mx
           |       FROM ue),
           |en AS (SELECT doc_id, window_id,
           |              CAST($NibbleSumSql AS BIGINT) AS energy
           |       FROM um),
           |dl AS (SELECT doc_id, window_id,
           |              lead(energy) OVER (PARTITION BY doc_id
           |                                 ORDER BY window_id) - energy AS delta
           |       FROM en),
           |da AS (SELECT doc_id, list(delta ORDER BY window_id) AS dv
           |       FROM dl WHERE delta IS NOT NULL GROUP BY doc_id),
           |fps AS (SELECT doc_id,
           |               UNNEST(list_transform(generate_series(0, len(dv) - $sh),
           |                 p -> array_to_string(dv[p+1 : p+$sh], ':'))) AS fp
           |        FROM da),
           |ds AS (SELECT DISTINCT doc_id, fp FROM fps),
           |nfp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nfp
           |        FROM ds GROUP BY doc_id),
           |dfq AS (SELECT fp FROM ds GROUP BY fp
           |        HAVING count(*) <= ${Cfg.videoSigDfCap}),
           |post AS (SELECT ds.doc_id, ds.fp FROM ds JOIN dfq USING (fp)),
           |shp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |               CAST(count(*) AS BIGINT) AS shared_fps
           |        FROM post a JOIN post b USING (fp)
           |        WHERE a.doc_id < b.doc_id
           |        GROUP BY 1, 2
           |        HAVING count(*) >= ${Cfg.videoMinShared}),
           |j AS (SELECT doc_a, doc_b, shared_fps,
           |             na.nfp AS nfp_a, nb.nfp AS nfp_b
           |      FROM shp JOIN nfp na ON na.doc_id = shp.doc_a
           |               JOIN nfp nb ON nb.doc_id = shp.doc_b)
           |SELECT doc_a, doc_b, shared_fps, nfp_a, nfp_b,
           |       $contain AS containment,
           |       $contain >= ${Cfg.videoContainMin} AS is_neardup
           |FROM j""".stripMargin
      })
  )
}
